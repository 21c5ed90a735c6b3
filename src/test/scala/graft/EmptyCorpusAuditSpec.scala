package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Empty-corpus robustness audit: EVERY `SparkEntry.queries` entry
  * runs against a fixture directory whose tables have the real
  * schemas but ZERO rows, and must return an empty (or small,
  * model-only) result instead of throwing. At cluster scale an empty
  * slice is routine — a date partition with no data, a filter that
  * eliminates a source, the first batch of a new corpus — and an
  * operator that throws on it takes the whole job down. Driver-side
  * model reads (argmax collects, quantizer pulls) are exactly where
  * `.head` on nothing hides.
  *
  * The audit is one test per query so a failure names its operator.
  */
class EmptyCorpusAuditSpec extends SparkSpec {

  private lazy val emptyDir: String = {
    val dir = java.nio.file.Files.createTempDirectory("graft-empty").toString
    // derive each table's schema from the real fixture, write 0 rows
    Tables.names.foreach { t =>
      val schema = spark.read.parquet(s"$sf/$t.parquet").schema
      spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
        .coalesce(1)
        .write.mode("overwrite").parquet(s"$dir/$t.parquet")
    }
    dir
  }

  SparkEntry.queries.keys.toSeq.sorted
    .foreach { name =>
      test(s"$name survives an all-empty corpus") {
        val out = SparkEntry.queries(name)(spark, emptyDir)
        // the result must materialize without throwing; row count is
        // operator-dependent (usually 0; model-shaped outputs may be
        // small) but must be finite and driver-safe
        val n = out.count()
        assert(n >= 0)
      }
    }
}
