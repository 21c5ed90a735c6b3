package graft

import org.apache.spark.sql.SparkSession

/** The one local session the mains (Bench, Verify, PlanDump,
  * ScaleProbe) run under, so a plan dump or a scale probe sees the
  * bench's config: `local[SPARK_GRAFT_CPUS]` (default 4), one shuffle
  * partition per core, AQE on, UTC session time zone, no UI, WARN
  * logs after startup. */
object LocalSession {

  def apply(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
