package perfbench

import java.lang.management.ManagementFactory
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession

/** What a workload's timed region measured. `passMs` are pass wall
  * times; `batchMs` micro-batch latencies (empty for batch workloads,
  * whose passes are their batches). */
final case class Measured(passMs: Seq[Double], batchMs: Seq[Double], records: Double,
                          attempted: Int, failed: Int, layer: Map[String, Double])

trait Workload {
  /** Writes the generated inputs; the run logs its time apart from set-up. */
  def prepare(spark: SparkSession): Unit = ()
  /** Untimed warm-up on the `k`-th fresh session of the run. */
  def warmUp(spark: SparkSession, k: Int): Unit
  def measure(spark: SparkSession, engine: Option[EngineListener]): Measured
  /** Output checks after the timed region: (attempted, failed). */
  def check(spark: SparkSession): (Int, Int)
  /** Releases what the workload holds on `spark` before it stops. */
  def release(spark: SparkSession): Unit
}

object Stats {
  /** Linear-interpolation quantile of a non-empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted.toIndexedSeq
    val pos = q * (s.length - 1)
    val lo = pos.toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (pos - lo) * (s(hi) - s(lo))
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Per-key median over the maps that have the key. */
  def medians(ms: Seq[Map[String, Double]]): Map[String, Double] =
    ms.flatMap(_.keys).distinct.map(k => k -> median(ms.flatMap(_.get(k)))).toMap
}

/** Total collection time of every JVM collector, in ms. */
final class GcClock {
  def ms: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum.toDouble
}

/** The largest live heap at the operation boundaries of the timed
  * region, in MiB: the heap still in use right after a full collection
  * forced after each query or micro-batch, outside its timed interval.
  * Occupancy at whatever moments the collector happens to run depends
  * on its timing, and read 300 or 500 MiB for the same pass. */
object Heap {
  private var peak = 0L

  def reset(): Unit = peak = 0L
  def sample(): Unit = {
    System.gc()
    peak = math.max(peak, ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed)
  }
  def peakMb: Double = peak / 1048576.0
}

/** Runs one workload and prints one JSON result line on stdout:
  * `--workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir>
  * --spans <file> --digests <file>`. `<dir>` is a scratch directory the
  * run owns: inputs, warehouses and checkpoints go there; a traced run
  * writes its spans to `<file>`. The schedule of timed passes and
  * batches is fixed, so `--seconds` is accepted for the runner's
  * interface only. */
object Main {
  val Cores = 4
  /** Fresh sessions per run; set-up time is their median. */
  val Setups = 3

  private def log(msg: String): Unit = System.err.println(s"[perfbench] $msg")

  def session(work: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.default.parallelism", Cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name = a("workload"); val seed = a("seed").toLong
    val traced = a("trace") == "1"
    val work = a("work")
    val tracer = new Tracer(traced)

    val workload: Workload = name match {
      case "corpus_curation" =>
        new CorpusCuration(s"$work/data", tracer, seed, Digests.load(a("digests"), seed))
      case "adclick_stream" => new AdClickStream(seed, work, tracer)
      case other => sys.error(s"unknown workload $other")
    }

    // the first set-up starts the engine; the others build a new session
    // on it, as a second user of a running cluster would
    var spark: SparkSession = null
    val setupS = (1 to Setups).map { k =>
      if (spark != null) workload.release(spark)
      val t0 = System.nanoTime()
      spark = if (spark == null) session(work) else spark.newSession()
      // input generation is the benchmark's own cost, not set-up
      val genNs = if (k > 1) 0L else {
        val g0 = System.nanoTime()
        workload.prepare(spark)
        System.nanoTime() - g0
      }
      if (k == 1) log(f"inputs written in ${genNs / 1e9}%.1f s (not counted)")
      workload.warmUp(spark, k)
      (System.nanoTime() - t0 - genNs) / 1e9
    }
    log(s"set-ups (s): ${setupS.map(x => f"$x%.2f").mkString(" ")}")

    val engine = if (traced) {
      val l = new EngineListener; spark.sparkContext.addSparkListener(l); Some(l)
    } else None
    Heap.reset()
    val m = workload.measure(spark, engine)
    val heapMb = Heap.peakMb
    val (checked, checkFailed) = workload.check(spark)
    workload.release(spark)
    spark.stop()

    // The runner reads every end-to-end metric from every workload. Off
    // the workload that defines it, a metric mirrors one of that
    // workload's own and adds nothing: on corpus_curation the batch
    // percentiles are the pass time and events_per_s is records per
    // pass second; on adclick_stream pass_s is the sum of the batch times.
    val passS = Stats.median(m.passMs) / 1000
    val batches = if (m.batchMs.nonEmpty) m.batchMs else m.passMs
    log(f"${m.passMs.size} passes, ${batches.size} batches, pass_s $passS%.3f")
    val metrics: Seq[(String, Double, String)] =
      if (!traced) Seq(
        ("setup_s", Stats.median(setupS), "s"),
        ("pass_s", passS, "s"),
        ("batch_p50_ms", Stats.quantile(batches, 0.5), "ms"),
        ("batch_p90_ms", Stats.quantile(batches, 0.9), "ms"),
        ("events_per_s", m.records / passS, "1/s"),
        ("heap_peak_mb", heapMb, "MiB"))
      else {
        val spans = a("spans")
        tracer.write(spans)
        log(s"spans written to $spans")
        Layers.all.map { case (n, unit) =>
          (n, m.layer.getOrElse(n, if (n == "trace.pass_s") passS
            else if (n == "trace.batch_p50_ms") Stats.quantile(batches, 0.5) else 0.0), unit)
        }
      }
    val attempted = m.attempted + checked
    val failed = m.failed + checkFailed
    val body = metrics.map { case (n, v, u) => s""""$n":{"value":$v,"unit":"$u"}""" }
    println(s"""{"correct":${failed == 0},"attempted":$attempted,"failed":$failed,""" +
      s""""metrics":{${body.mkString(",")}}}""")
  }
}

/** The corpus_curation result digests recorded in perfbench/digests.tsv
  * (`seed<TAB>query<TAB>digest` lines, written by perfbench/record.py). */
object Digests {
  def load(path: String, seed: Long): Map[String, String] = {
    val src = scala.io.Source.fromFile(path, "UTF-8")
    try src.getLines().map(_.split("\t")).collect {
      case Array(s, q, d) if s == seed.toString => q -> d
    }.toMap
    finally src.close()
  }
}

/** Prints the corpus_curation result digests of seeds `--from` to `--to`
  * in the format of perfbench/digests.tsv on stdout, and each seed's
  * planted-pair recall and check outcome on stderr. One engine serves
  * every seed; each seed's inputs are written under `--work` and
  * removed after its pass. */
object RecordDigests {
  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val work = a("work")
    val spark = Main.session(work)
    (a("from").toLong to a("to").toLong).foreach { seed =>
      val dir = s"$work/data-$seed"
      val w = new CorpusCuration(dir, new Tracer(false), seed, Map.empty)
      w.prepare(spark)
      w.warmUp(spark, 1)
      val (n, bad) = w.check(spark)
      System.err.println(f"[perfbench] seed $seed: recall ${w.plantedRecall}%.3f, $bad of $n checks failed")
      if (bad > 0) sys.error(s"seed $seed fails its checks; not recorded")
      w.digests.toSeq.sorted.foreach { case (q, d) => println(s"$seed\t$q\t$d") }
      w.release(spark)
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
    spark.stop()
  }
}

/** The per-layer metrics a traced run reports, with their units. A
  * layer a workload does not exercise reports 0. */
object Layers {
  val all: Seq[(String, String)] = Seq(
    "tables.rows_read" -> "count", "tables.bytes_read" -> "bytes", "tables.scan_ms" -> "ms",
    "operators.plan_ms" -> "ms", "operators.exec_ms" -> "ms",
    "operators.pipeline_chunked_pretrain_ms" -> "ms",
    "operators.pipeline_pretrain_corpus_ms" -> "ms", "operators.dedup_minhash_lsh_ms" -> "ms",
    "operators.dedup_embedding_lsh_ms" -> "ms",
    "operators.exchanges" -> "count", "operators.codegen_stages" -> "count",
    "operators.shuffle_bytes" -> "bytes", "operators.spill_bytes" -> "bytes",
    "operators.candidate_pairs" -> "count", "operators.verified_pairs" -> "count",
    "operators.planted_recall" -> "ratio",
    "functions.minhash8_us_per_doc" -> "us", "functions.shingles_w_us_per_doc" -> "us",
    "functions.quality_score_us_per_doc" -> "us", "functions.gopher_signals_us_per_doc" -> "us",
    "functions.remove_intervals_us_per_doc" -> "us",
    "streaming.trigger_ms" -> "ms", "streaming.add_batch_ms" -> "ms",
    "streaming.planning_ms" -> "ms", "streaming.wal_ms" -> "ms",
    "streaming.latest_offset_ms" -> "ms", "streaming.state_rows" -> "count",
    "streaming.state_mb" -> "MiB", "streaming.state_commit_ms" -> "ms",
    "streaming.late_rows_dropped" -> "count",
    "sink.upsert_ms" -> "ms", "sink.rows_written" -> "count", "sink.share" -> "ratio",
    "engine.jobs" -> "count", "engine.stages" -> "count", "engine.tasks" -> "count",
    "engine.task_ms" -> "ms", "engine.core_busy" -> "ratio", "engine.gc_ms" -> "ms",
    "engine.persisted_rdds_left" -> "count",
    "trace.pass_s" -> "s", "trace.batch_p50_ms" -> "ms")
}
