package graft

import org.apache.spark.sql.SparkSession

/** The one local session the mains (Bench, Verify, PlanDump,
  * ScaleProbe) run under, so a plan dump or a scale probe sees the
  * bench's config: `local[SPARK_GRAFT_CPUS]` (default 4), one shuffle
  * partition per core, AQE on, UTC session time zone, no UI, WARN
  * logs after startup, and catalog tables in a fresh per-run
  * warehouse ([[tempWarehouse]]). */
object LocalSession {

  /** A fresh `spark.sql.warehouse.dir` for this JVM, deleted at exit.
    * The in-memory catalog forgets its tables when the JVM ends, so a
    * warehouse that outlives the run only holds table directories
    * nothing owns, and a stale one has served a wrong answer before.
    * The test session uses it too. */
  lazy val tempWarehouse: String = {
    val dir = java.nio.file.Files.createTempDirectory("graft-warehouse").toFile
    sys.addShutdownHook(org.apache.commons.io.FileUtils.deleteQuietly(dir))
    dir.getAbsolutePath
  }

  def apply(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.warehouse.dir", tempWarehouse)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
