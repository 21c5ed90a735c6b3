package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Real-time ad-click analytics (reference: spark/ad/
  * AdClickRealTimeSpark.java) re-expressed as Structured Streaming.
  * Every transform takes a DataFrame that may be streaming (from
  * Kafka/MemoryStream/file source) or batch — the logical plan is
  * identical, which is how the batch analogs in SparkEntry stay
  * oracle-checkable while the streaming path is covered by
  * MemoryStream tests.
  *
  * Reference-to-Spark mapping:
  *  - DStream 5s micro-batches           → Trigger.ProcessingTime / availableNow
  *  - updateStateByKey running totals    → streaming agg in update mode
  *    (AdClickRealTimeSpark.java:453-485; state store replaces the
  *    hand-checkpointed state, and a watermark bounds it — the
  *    reference kept state forever)
  *  - per-batch MySQL blacklist re-read + left-outer join + filter
  *    (132-224)                          → stream-static LEFT ANTI join
  *    against a broadcast blacklist; the static side is re-evaluated
  *    and re-broadcast per micro-batch by design
  *  - reduceByKeyAndWindow 60min/10s (749-760) → window() sliding agg
  *    with watermark
  *  - province top-3 per batch via temp-table SQL (553-664; its
  *    `WHERE rank>=3` is a reference bug, we implement intent <=3)
  *                                       → foreachBatch + window rank
  */
object AdStream {

  /** Parse the reference's Kafka line format
    * `"timestamp_ms province city userid adid"`
    * (MockRealTimeData.java:39-41) into typed columns. */
  def parse(lines: DataFrame): DataFrame = {
    val p = split(col("value"), " ")
    lines.select(
      timestamp_millis(p.getItem(0).cast("long")).as("event_time"),
      p.getItem(1).as("province"),
      p.getItem(2).as("city"),
      p.getItem(3).cast("long").as("user_id"),
      p.getItem(4).cast("long").as("ad_id"))
  }

  /** Per-(day, user, ad) click counts — the blacklist feeder
    * (reference: AdClickRealTimeSpark.java:232-311, which upserts
    * additively into MySQL; in update-mode streaming the state store
    * IS the running count). */
  def dailyUserAdCounts(clicks: DataFrame): DataFrame =
    clicks
      .groupBy(to_date(col("event_time")).as("date"),
               col("user_id"), col("ad_id"))
      .agg(count(lit(1)).as("click_count"))

  /** Users whose cumulative daily clicks on one ad cross the
    * threshold (reference threshold filter at 313-337). */
  def blacklist(dailyCounts: DataFrame, threshold: Long): DataFrame =
    dailyCounts.where(col("click_count") >= threshold)
      .select("user_id").distinct()

  /** Drop blacklisted users' clicks — one LEFT ANTI join replaces the
    * reference's join-then-filter two-step (181-224). For a streaming
    * `clicks` with a batch `bl` this is a stream-static join:
    * the static side is re-read every micro-batch, giving the same
    * feedback loop as the reference's per-batch MySQL re-read.
    *
    * `bl` is broadcast: a JDBC relation carries no size statistics,
    * so unhinted every batch plans a SortMergeJoin, two shuffles and
    * two sorts per micro-batch. The broadcast is rebuilt every batch
    * (the static side is re-planned per trigger), so the feedback loop
    * holds. Bound: the hint overrides
    * `spark.sql.autoBroadcastJoinThreshold`, so the whole blacklist
    * must fit in one broadcast, held by the driver and every executor
    * (Spark refuses one of 8 GB or 512M rows). */
  def filterBlacklisted(clicks: DataFrame, bl: DataFrame): DataFrame =
    clicks.join(broadcast(bl), Seq("user_id"), "left_anti")

  /** Running per-(day, province, city, ad) totals
    * (updateStateByKey replacement; output mode `update`). */
  def runningStats(clicks: DataFrame): DataFrame =
    clicks
      .groupBy(to_date(col("event_time")).as("date"),
               col("province"), col("city"), col("ad_id"))
      .agg(count(lit(1)).as("click_count"))

  /** Daily top-3 ads per province. Run inside foreachBatch over the
    * running stats (window functions aren't supported on streaming
    * DFs — same structure as the reference's per-batch SQL). */
  def provinceTop3(stats: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byProvince = stats
      .groupBy("date", "province", "ad_id")
      .agg(sum("click_count").as("click_count"))
    val w = Window.partitionBy("date", "province")
      .orderBy(desc("click_count"), col("ad_id"))
    byProvince
      .withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= 3)
  }

  /** Sliding-window click trend (reference: reduceByKeyAndWindow
    * 60 min window / 10 s slide at 749-760 — processing-time aligned,
    * unbounded state). Event-time windows + watermark: strictly more
    * correct, state bounded by the watermark horizon. */
  def clickTrend(clicks: DataFrame,
                 windowDur: String = "1 hour",
                 slide: String = "10 minutes",
                 watermark: String = "2 hours"): DataFrame = {
    val src =
      if (clicks.isStreaming) clicks.withWatermark("event_time", watermark)
      else clicks
    src
      .groupBy(window(col("event_time"), windowDur, slide), col("ad_id"))
      .agg(count(lit(1)).as("click_count"))
      .select(col("window.start").as("window_start"),
              col("window.end").as("window_end"),
              col("ad_id"), col("click_count"))
  }

  /** Wire a streaming aggregate to a per-batch upsert sink
    * (reference: foreachRDD + foreachPartition + DAO upserts,
    * AdClickRealTimeSpark.java:265-311,488-538). `upsertBatch` gets
    * each micro-batch DataFrame + its id — production passes
    * JdbcUpsertSink.upsert, tests pass an in-memory merger.
    *
    * The batch is persisted for the whole body and released in
    * `finally`: each action on it would otherwise re-run the batch
    * plan, stateful aggregate included, so a body that writes twice
    * (the feeder's count upsert plus its blacklist upsert) would pay
    * for the batch twice. */
  def sinkPerBatch(stats: DataFrame, queryName: String,
                   upsertBatch: (DataFrame, Long) => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery =
    stats.writeStream
      .outputMode("update")
      .queryName(queryName)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        batch.persist()
        try upsertBatch(batch, id) finally batch.unpersist(blocking = true)
      }
      .start()

  /** The Kafka source configuration, exposed as plain data: no
    * broker or spark-sql-kafka connector jar ships in this offline
    * container, so `.load()` can never execute here — publishing the
    * format + options map lets KafkaSourceSpec pin exactly the lines
    * that can't run (reference consumer params:
    * AdClickRealTimeSpark.java:69-92). */
  def kafkaSourceConfig(brokers: String, topic: String): (String, Map[String, String]) =
    ("kafka", Map(
      "kafka.bootstrap.servers" -> brokers,
      "subscribe" -> topic,
      "startingOffsets" -> "latest"))

  /** Kafka source for production (topic of reference-format lines).
    * The broker itself can't run in this container (no Kafka
    * connector jar); the identical downstream plan — parse → the full
    * 4-query fan-out with checkpoint restart — runs end to end from a
    * replayable file source in StreamFanoutE2ESpec, so everything
    * past `.load()` is execution-covered, and the format/options map
    * fed into the reader is asserted by KafkaSourceSpec. */
  def kafkaLines(spark: SparkSession, brokers: String, topic: String): DataFrame = {
    val (fmt, opts) = kafkaSourceConfig(brokers, topic)
    spark.readStream
      .format(fmt)
      .options(opts)
      .load()
      .selectExpr("CAST(value AS STRING) AS value")
  }
}
