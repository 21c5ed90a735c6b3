package graft.tools

/** Dumps `.explain("formatted")` for declared queries into files —
  * the optimization-round artifact (`plans/r14/<query>_before.txt` /
  * `_after.txt`). Usage:
  *
  *   sbt "runMain graft.tools.PlanDump <outDir> <suffix> [query ...]"
  *
  * Plans are captured under the SAME session the bench uses
  * ([[graft.LocalSession]]: shuffle.partitions = SPARK_GRAFT_CPUS,
  * default 4, AQE on), so Exchange counts / join strategies in the
  * dumps are the bench's. Queries
  * whose result frame is harness-built (stream replays collect into
  * a local DF) still dump — the file then shows the local-relation
  * tail and the interesting plan is in the per-batch bodies, which
  * this tool cannot see; those are documented by code reading
  * instead.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val suffix = args(1)
    val names = args.drop(2).toSeq
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.LocalSession()
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    val qs = graft.SparkEntry.queries
    names.foreach { n =>
      qs.get(n) match {
        case Some(fn) =>
          val df = fn(spark, sfDir)
          val plan = df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
          java.nio.file.Files.write(
            java.nio.file.Paths.get(outDir, s"${n}_$suffix.txt"),
            plan.getBytes("UTF-8"))
          System.err.println(s"[plandump] $n -> $outDir/${n}_$suffix.txt")
        case None =>
          System.err.println(s"[plandump] UNKNOWN query: $n")
      }
    }
    spark.stop()
  }
}
