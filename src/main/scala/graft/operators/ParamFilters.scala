package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.core.TaskParams

/** Parameterized filtering + stratified sampling + skew-salting —
  * the remaining session-job surfaces from SURVEY.md §2.2/§2.6/§4.
  */
object ParamFilters {

  /** The fixed task parameters the oracle encodes (stand-in for the
    * reference's MySQL task row). */
  val DemoParams: TaskParams = TaskParams(
    startDate = Some("2024-01-05"),
    endDate = Some("2024-01-25"),
    minValue = Some(10.0),
    maxValue = Some(150.0),
    categories = Some(Seq("view", "click", "purchase")),
    keywords = Some(Seq("7")))

  /** Multi-predicate optional-param filter (reference session filter,
    * UserVisitSessionAnalyzeSpark.java:505-669 + ValidUtils): every
    * present param becomes one pushable Column predicate. */
  def qParamFilter(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.eventsNorm(spark, dir)
    val pred = TaskParams.predicate(DemoParams,
      dateCol = date_format(col("event_time"), "yyyy-MM-dd"),
      valueCol = col("value"),
      categoryCol = col("event_type"),
      kindCol = lit(""),            // no kind column in events; param absent
      textCol = col("props"))
    e.where(pred)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), graft.functions.Text.roundPortable(sum("value"), 2).as("total_value"))
      .orderBy("event_type")
  }

  /** Stratified proportional sampling of sessions per (date, hour)
    * stratum (reference random extract: 100 sessions/task allocated
    * time-proportionally, UserVisitSessionAnalyzeSpark.java:763-826).
    * Quotas use LARGEST-REMAINDER allocation exactly like the
    * reference: each stratum gets floor(100·share), and the leftover
    * (100 − Σfloor) goes to the strata with the largest fractional
    * remainders — so the sample totals exactly 100 (when ≥100
    * sessions exist) instead of over-sampling tiny strata as a
    * `greatest(1, floor)` would. The reference uses an unseeded
    * Random on the driver; we rank by an md5 of the session key —
    * deterministic, distributed, and reproducible in the SQL oracle.
    * The quota table is per-stratum (bounded by hours in the time
    * range), so its empty-partition windows and the broadcast join
    * back to sessions are safe at any corpus size.
    *
    * Scale note: per-stratum quotas never exceed SampleSize, so each
    * stratum is first pruned to its SampleSize first-ranked sessions
    * with the bounded-heap [[graft.plans.GroupedTopK]] operator —
    * O(n log k) and ≤k rows held per stratum — instead of
    * row_number's full per-stratum sort, which at 100 TB would sort
    * billions of rows per (date,hour) in single tasks. The window
    * rank then runs over ≤SampleSize rows per stratum (and reuses
    * the heap shuffle's clustering — no extra exchange); survivors'
    * rn values equal their full-set ranks, so the result is
    * unchanged. */
  def qStratifiedSample(spark: SparkSession, dir: String): DataFrame = {
    val SampleSize = 100
    val sessions = Sessions.qSessionize(spark, dir)
      .withColumn("date_hour",
        date_format(timestamp_seconds(col("start_sec")), "yyyy-MM-dd_HH"))
    val wAll = Window.partitionBy()
    val wRem = Window.partitionBy().orderBy(desc("rem"), col("date_hour"))
    val quotas = sessions.groupBy("date_hour").agg(count(lit(1)).as("g_cnt"))
      .withColumn("total", sum("g_cnt").over(wAll))
      .withColumn("base", floor(lit(SampleSize) * col("g_cnt") / col("total")))
      .withColumn("rem",
        lit(SampleSize) * col("g_cnt") / col("total") - col("base"))
      .withColumn("leftover", lit(SampleSize) - sum("base").over(wAll))
      .withColumn("rr", row_number().over(wRem))
      .withColumn("quota",
        col("base") + when(col("rr") <= col("leftover"), 1L).otherwise(0L))
      .select("date_hour", "quota")
    val ranked = sessions.withColumn("rk",
      md5(concat_ws("_", col("user_id"), col("session_idx"))))
    val pruned = graft.plans.GroupedTopKApi.groupedTopKOrdered(ranked,
      keys = Seq("date_hour"),
      sort = Seq("rk" -> true, "user_id" -> true, "session_idx" -> true),
      k = SampleSize)
    val wRank = Window.partitionBy("date_hour")
      .orderBy(col("rk"), col("user_id"), col("session_idx"))
    pruned
      .withColumn("rn", row_number().over(wRank).cast("long"))
      .join(broadcast(quotas), "date_hour")
      .where(col("rn") <= col("quota"))
      .select("date_hour", "user_id", "session_idx")
      .orderBy("date_hour", "user_id", "session_idx")
  }

  /** Two-stage salted aggregation (the reference's random_prefix /
    * remove_random_prefix skew idiom, AreaTop3ProductSpark.java:
    * 323-348 + README.md:1395-1410). The salt here is derived from a
    * data column instead of rand() so the result is reproducible;
    * stage 1 spreads a hot group key over `SaltBuckets` partial
    * groups, stage 2 folds the partials. Output must equal the plain
    * one-stage aggregate — which is exactly what the oracle asserts.
    * (With AQE skew handling on, this idiom is usually unnecessary —
    * kept as the explicit operator surface.) */
  /** Salted SKEW JOIN — the join-side companion of [[qSaltedAgg]]
    * (reference README.md skew playbook: sample the hot keys, salt the
    * fact side, replicate the dim side ×S, join on (key, salt)). The
    * fact rows spread a hot join key over S sub-keys; the dim side is
    * exploded S ways so every sub-key still finds its match; the
    * post-join aggregate is unchanged — which is exactly what the
    * plain-join oracle asserts. AQE's skew-join split handles the
    * mid-shuffle case automatically; this is the explicit form for
    * when the skew is known up front (or the join is sort-merge and
    * one key exceeds a single executor). */
  def qSkewJoinSalted(spark: SparkSession, dir: String): DataFrame = {
    val S = 8
    val li = Tables.lineitem(spark, dir)
      .withColumn("salt", pmod(col("l_orderkey"), lit(S)).cast("int"))
    val part = Tables.part(spark, dir)
      .withColumn("salt", explode(array((0 until S).map(lit(_)): _*)))
    li.join(part, li("l_partkey") === part("p_partkey") && li("salt") === part("salt"))
      .groupBy("p_brand")
      .agg(count(lit(1)).as("n_items"),
           graft.functions.Text.roundPortable(sum("l_extendedprice"), 2).as("revenue"))
      .orderBy("p_brand")
  }

  /** The RECOMMENDED-default skew plan: the same join/agg as
    * [[qSkewJoinSalted]] but unsalted, leaving skew to AQE's runtime
    * split. The round-7 salt-vs-AQE probe
    * (`git show ab6c630:SCALING.md`) shows this is the plan to reach
    * for first on Spark 4 (the ×8 dim replication rarely earns
    * its complexity); gated with the identical oracle so the default,
    * not just the legacy idiom, is hash-checked. */
  def qSkewJoinPlainAqe(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val pt = Tables.part(spark, dir)
    li.join(pt, li("l_partkey") === pt("p_partkey"))
      .groupBy("p_brand")
      .agg(count(lit(1)).as("n_items"),
           graft.functions.Text.roundPortable(sum("l_extendedprice"), 2).as("revenue"))
      .orderBy("p_brand")
  }

  def qSaltedAgg(spark: SparkSession, dir: String): DataFrame = {
    val SaltBuckets = 8
    val li = Tables.lineitem(spark, dir)
    li.withColumn("salt", pmod(col("l_orderkey"), lit(SaltBuckets)))
      .groupBy("salt", "l_returnflag")
      .agg(count(lit(1)).as("partial_cnt"),
           sum("l_quantity").as("partial_qty"))
      .groupBy("l_returnflag")
      .agg(sum("partial_cnt").as("cnt"),
           graft.functions.Text.roundPortable(sum("partial_qty"), 2).as("qty"))
      .orderBy("l_returnflag")
  }
}
