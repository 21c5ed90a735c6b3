package graft

import java.sql.DriverManager
import scala.collection.concurrent.TrieMap
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.LeftAnti
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.execution.streaming.runtime.{MemoryStream, StreamingQueryWrapper}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryException}
import org.apache.spark.storage.StorageLevel
import graft.streaming.AdStream

/** The per-batch costs of the ad-click stream: the anti-join against
  * the JDBC blacklist plans as a broadcast (a JDBC relation has no size
  * statistics, so unhinted it would be a SortMergeJoin) and still sees
  * a blacklist change at the very next batch; `sinkPerBatch` keeps each
  * batch persisted exactly as long as its body runs. */
class AdStreamBatchSpec extends SparkSpec {
  import spark.implicits._
  implicit lazy val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext

  private val url = "jdbc:derby:memory:graftadbatch;create=true"

  private def exec(sqls: String*): Unit = {
    val c = DriverManager.getConnection(url)
    try sqls.foreach(c.createStatement().execute) finally c.close()
  }

  // reference line format: "timestamp_ms province city userid adid"
  private def line(tsSec: Long, user: Long, ad: Long) =
    s"${tsSec * 1000L} P1 C1 $user $ad"

  private def lastPlan(q: StreamingQuery) =
    q.asInstanceOf[StreamingQueryWrapper].streamingQuery.lastExecution.executedPlan

  private def persisted = spark.sparkContext.getPersistentRDDs.keySet

  test("the JDBC blacklist anti-join is a broadcast, rebuilt every batch") {
    exec("CREATE TABLE blacklist (user_id BIGINT PRIMARY KEY)")
    val bl = spark.read.format("jdbc").option("url", url)
      .option("dbtable", "blacklist").load()
      .select(col("USER_ID").as("user_id"))
    val input = MemoryStream[String]
    val store = TrieMap.empty[Long, Long]   // ad_id → running click count
    val q = AdStream.sinkPerBatch(
      AdStream.runningStats(AdStream.filterBlacklisted(AdStream.parse(input.toDF()), bl)),
      "blacklist_broadcast", (batch: DataFrame, _: Long) =>
        batch.collect().foreach(r =>
          store.put(r.getAs[Long]("ad_id"), r.getAs[Long]("click_count"))))
    try {
      input.addData(line(1543920000L, 1, 7), line(1543920001L, 2, 7))
      q.processAllAvailable()
      assert(store(7L) == 2L)
      val plan = lastPlan(q)
      assert(plan.collect { case j: BroadcastHashJoinExec => j.joinType } == Seq(LeftAnti),
        plan.treeString)
      assert(plan.collect { case j: SortMergeJoinExec => j }.isEmpty, plan.treeString)

      // user 2 is blacklisted after batch 0: batch 1 drops their click,
      // which a broadcast built once and reused would still count
      exec("INSERT INTO blacklist VALUES (2)")
      input.addData(line(1543920002L, 1, 7), line(1543920003L, 2, 7))
      q.processAllAvailable()
      assert(store(7L) == 3L)
      assert(lastPlan(q).collect { case j: BroadcastHashJoinExec => j }.size == 1)
    } finally {
      q.stop()
      exec("DROP TABLE blacklist")
    }
  }

  test("sinkPerBatch persists the batch for a two-write body and releases it after") {
    val before = persisted
    val input = MemoryStream[String]
    // (batch persisted, new persisted RDDs) seen by each body after its writes
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(Boolean, Boolean)]()
    val q = AdStream.sinkPerBatch(AdStream.dailyUserAdCounts(AdStream.parse(input.toDF())),
      "persist_lifecycle", (batch: DataFrame, _: Long) => {
        // the feeder's shape: every count, then the threshold crossers
        batch.collect()
        batch.where(col("click_count") >= 2).select("user_id").distinct().collect()
        seen.add((batch.storageLevel != StorageLevel.NONE, (persisted -- before).nonEmpty))
      })
    try {
      Seq(Seq(line(1543920000L, 1, 7), line(1543920001L, 1, 7)),
          Seq(line(1543920002L, 2, 7))).foreach { b =>
        input.addData(b)
        q.processAllAvailable()
        assert(persisted -- before == Set.empty, "batch left persisted")
      }
    } finally q.stop()
    assert(seen.toArray.toSeq == Seq((true, true), (true, true)))
  }

  test("a sink body that throws still releases its batch") {
    val before = persisted
    val input = MemoryStream[String]
    val q = AdStream.sinkPerBatch(AdStream.dailyUserAdCounts(AdStream.parse(input.toDF())),
      "persist_on_throw", (batch: DataFrame, _: Long) => {
        batch.collect()
        throw new IllegalStateException("sink down")
      })
    try {
      input.addData(line(1543920000L, 1, 7))
      val e = intercept[StreamingQueryException](q.processAllAvailable())
      val causes = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      assert(causes.exists(c => String.valueOf(c.getMessage).contains("sink down")), e.toString)
    } finally q.stop()
    assert(persisted -- before == Set.empty, "batch left persisted after a throw")
  }
}
