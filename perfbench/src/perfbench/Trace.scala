package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import scala.jdk.CollectionConverters._
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.execution.joins.HashJoin

/** Spans recorded around the harness's calls into each layer. They are
  * kept in memory and written as JSON lines when the run ends. With
  * tracing off `span` only runs its body. */
final class Tracer(val on: Boolean) {
  final case class Span(id: Int, parent: Int, name: String, unit: Long,
                        startNs: Long, endNs: Long)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicInteger(0)
  private val stack = ThreadLocal.withInitial[List[Int]](() => Nil)

  /** `parent` overrides the enclosing span of this thread, for work a
    * stream thread does on behalf of the driver's micro-batch span. */
  def span[T](name: String, unit: Long, parent: Int = -2)(f: => T): T =
    if (!on) f
    else {
      val id = ids.incrementAndGet()
      val outer = stack.get()
      val p = if (parent != -2) parent else outer.headOption.getOrElse(-1)
      stack.set(id :: outer)
      val t0 = System.nanoTime()
      try f
      finally {
        spans.add(Span(id, p, name, unit, t0, System.nanoTime()))
        stack.set(outer)
      }
    }

  /** Id of the innermost open span of this thread, -1 outside any. */
  def current: Int = stack.get().headOption.getOrElse(-1)

  /** Summed duration in ms of the spans called `name`, per unit. */
  def msByUnit(name: String): Map[Long, Double] =
    spans.asScala.filter(_.name == name).groupBy(_.unit)
      .map { case (u, ss) => u -> ss.map(s => (s.endNs - s.startNs) / 1e6).sum }

  def write(path: String): Unit = {
    val t0 = spans.asScala.map(_.startNs).minOption.getOrElse(0L)
    val lines = spans.asScala.toSeq.sortBy(_.startNs).map { s =>
      f"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}","unit":${s.unit},""" +
        f""""start_us":${(s.startNs - t0) / 1000},"end_us":${(s.endNs - t0) / 1000}}"""
    }
    java.nio.file.Files.write(java.nio.file.Paths.get(path), lines.asJava)
  }
}

/** Counts jobs, stages and tasks and sums task metrics. Spark delivers
  * the events on its listener thread; read `snapshot` after draining
  * the bus. */
final class EngineListener extends SparkListener {
  val jobs, stages, tasks, taskMs, shuffleBytes, spillBytes, inputBytes =
    new AtomicLong(0)

  override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    stages.incrementAndGet()
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      taskMs.addAndGet(m.executorRunTime)
      shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      inputBytes.addAndGet(m.inputMetrics.bytesRead)
    }
  }

  def snapshot(sc: SparkContext): Map[String, Double] = {
    org.apache.spark.perfbench.ListenerBus.drain(sc)
    Map("jobs" -> jobs.get.toDouble, "stages" -> stages.get.toDouble,
      "tasks" -> tasks.get.toDouble, "task_ms" -> taskMs.get.toDouble,
      "shuffle_bytes" -> shuffleBytes.get.toDouble,
      "spill_bytes" -> spillBytes.get.toDouble,
      "bytes_read" -> inputBytes.get.toDouble)
  }
}

/** Counts read off an executed (final, adaptive) physical plan. */
object PlanStats extends AdaptiveSparkPlanHelper {

  /** Every node of `plan`, descending into adaptive stages, subqueries
    * and the plans that built cached relations. */
  def nodes(plan: SparkPlan): Seq[SparkPlan] = {
    val seen = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[SparkPlan, java.lang.Boolean]())
    def go(p: SparkPlan): Seq[SparkPlan] =
      collectWithSubqueries(p) { case n => n }.flatMap {
        case s: InMemoryTableScanExec if seen.add(s.relation.cachedPlan) =>
          s +: go(s.relation.cachedPlan)
        case n => Seq(n)
      }
    go(plan)
  }

  private def metric(p: SparkPlan, name: String): Double =
    p.metrics.get(name).map(_.value.toDouble).getOrElse(0.0)

  /** Rows `p` produced: its own row metric, or that of the nearest
    * descendant that counts rows (projections and stage wrappers keep
    * the row count). */
  private def rowsOut(p: SparkPlan): Double = p match {
    case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => rowsOut(q.plan)
    case _ if p.metrics.contains("numOutputRows") => metric(p, "numOutputRows")
    case _ if p.metrics.contains("shuffleRecordsWritten") => metric(p, "shuffleRecordsWritten")
    case _ if p.children.size == 1 => rowsOut(p.children.head)
    case _ => 0.0
  }

  /** Whether `e` calls one of the program's own Catalyst kernels. */
  private def usesKernel(e: org.apache.spark.sql.catalyst.expressions.Expression) =
    e.exists(_.getClass.getName.startsWith("graft.functions."))

  private def streamed(j: HashJoin with SparkPlan): SparkPlan =
    if (j.buildSide == org.apache.spark.sql.catalyst.optimizer.BuildLeft) j.children(1)
    else j.children.head

  def of(plan: SparkPlan): Map[String, Double] = {
    val ns = nodes(plan)
    val scans = ns.collect { case s: FileSourceScanExec => s }
    // the dedup verify step is the join that scores candidate pairs
    // with a kernel in its condition: candidates in, verified pairs out
    val verify = ns.collect {
      case j: HashJoin with SparkPlan if j.condition.exists(usesKernel) => j
    }
    Map(
      "exchanges" -> ns.count(_.isInstanceOf[Exchange]).toDouble,
      "codegen_stages" -> ns.count(_.isInstanceOf[WholeStageCodegenExec]).toDouble,
      "rows_read" -> scans.map(metric(_, "numOutputRows")).sum,
      "scan_ms" -> scans.map(metric(_, "scanTime")).sum,
      "candidate_pairs" -> verify.map(j => rowsOut(streamed(j))).sum,
      "verified_pairs" -> verify.map(metric(_, "numOutputRows")).sum)
  }
}
