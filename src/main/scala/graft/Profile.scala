package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanHelper, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}

/** Deterministic counters of one executed query: what each physical
  * operator of the final adaptive plan produced, read off its SQL
  * metrics. Row counts do not depend on the host, the core count or
  * the run, so a plan whose work grows super-linearly (candidate pairs
  * of a banding join, say) shows it exactly where wall time would bury
  * it in scheduler noise.
  *
  * `run` executes the frame's own plan with `collect` — `df.count()`
  * would plan a different query (no sort, pruned columns) — and then
  * walks every node, descending into adaptive stages, subqueries and
  * the plans that built cached relations.
  */
object Profile extends AdaptiveSparkPlanHelper {

  /** One physical operator: its node name and the rows it produced. */
  final case class Op(name: String, rows: Long)

  /** `rows` is the query's own result row count; `ops` lists, in walk
    * order, every operator of the final plan that counts its own rows
    * (wrappers such as codegen stages, stage reads and reused
    * exchanges only pass rows on, so they would count them twice).
    * A join's output rows are counted after its condition, so the
    * pairs a nested-loop join examines (the all-pairs work of a cross
    * join filtered by a similarity) get one more entry, "<join> pairs":
    * the product of its inputs' rows. */
  final case class Result(rows: Long, ops: Seq[Op], exchanges: Int,
                          shuffleBytes: Long) {
    def totalRows: Long = ops.map(_.rows).sum
    def largest: Op = ops.maxByOption(_.rows).getOrElse(Op("-", 0L))
  }

  def run(df: DataFrame): Result = {
    val rows = df.collect().length.toLong
    val ns = nodes(df.queryExecution.executedPlan)
    val pairs = ns.collect {
      case j @ (_: BroadcastNestedLoopJoinExec | _: CartesianProductExec) =>
        Op(s"${j.nodeName} pairs", j.children.map(rowsOut).product)
    }
    Result(rows,
      ns.flatMap(p => ownRows(p).map(Op(p.nodeName.trim, _))) ++ pairs,
      ns.count(_.isInstanceOf[Exchange]),
      ns.collect { case s: ShuffleExchangeExec => metric(s, "shuffleBytesWritten") }.sum)
  }

  /** Every node of `plan`, descending into adaptive stages, subqueries
    * and, once each, the plans that built cached relations. */
  private def nodes(plan: SparkPlan): Seq[SparkPlan] = {
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

  private def metric(p: SparkPlan, name: String): Long =
    p.metrics.get(name).map(_.value).getOrElse(0L)

  /** Rows `p` itself produced: its output-row metric, or for a
    * shuffle the records it wrote. */
  private def ownRows(p: SparkPlan): Option[Long] =
    p.metrics.get("numOutputRows").orElse(p.metrics.get("shuffleRecordsWritten"))
      .map(_.value)

  /** Rows `p` passes on: its own count, or that of the stage, reused
    * exchange or only child it wraps. */
  private def rowsOut(p: SparkPlan): Long = p match {
    case q: QueryStageExec => rowsOut(q.plan)
    case r: ReusedExchangeExec => rowsOut(r.child)
    case _ => ownRows(p).getOrElse(
      if (p.children.size == 1) rowsOut(p.children.head) else 0L)
  }
}
