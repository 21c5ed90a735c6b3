package perfbench

import java.sql.DriverManager
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, StreamingQueryProgress}
import graft.sources.JdbcUpsertSink
import graft.sources.JdbcUpsertSink.{AnsiDialect, InsertIfAbsent, Overwrite}
import graft.streaming.AdStream

/** The real-time ad-click job (reference job 4) as a closed loop: one
  * driver thread hands a fixed-size micro-batch to the sources, waits
  * until every fan-out query has committed it and its sink writes have
  * returned, then hands over the next. The fan-out is wired as in
  * StreamFanoutE2ESpec, into in-memory Derby through JdbcUpsertSink:
  *
  *  - feeder: daily (user, ad) counts → ad_user_click_count, threshold
  *    crossers → blacklist;
  *  - stats: anti-join against the JDBC blacklist → running stats →
  *    ad_stat, and per batch the province top 3 → ad_province_top3;
  *  - trend: the same anti-join → watermarked sliding trend →
  *    ad_click_trend.
  *
  * The feeder commits each batch before stats and trend see it, so the
  * blacklist a batch is filtered by is the one that includes that
  * batch, whatever the thread timing. MemoryStream trims committed
  * data, so each query reads its own copy of every batch. */
final class AdClickStream(seed: Long, work: String, tracer: Tracer) extends Workload {
  import AdClickStream._

  private val schedule = Gen.clicks(seed, WarmBatches + TimedBatches, PerBatch, Threshold)
  private val lines = schedule.map(_.map(_.line).toSeq)

  private final case class Running(url: String, sources: Seq[MemoryStream[String]],
                                   queries: Seq[StreamingQuery], progress: ProgressLog)
  private var run: Running = _
  private var next = 0
  @volatile private var batchSpan = -1
  @volatile private var batchId = -1L

  private def exec(url: String, sqls: String*): Unit = {
    val c = DriverManager.getConnection(url)
    try sqls.foreach(c.createStatement().execute) finally c.close()
  }

  /** Runs a foreachBatch body as a sink span of the current batch. */
  private def sink[T](name: String)(f: => T): T =
    tracer.span(name, batchId, parent = batchSpan)(f)

  /** Runs one `JdbcUpsertSink.upsert` with its key shuffle on a single
    * partition, and restores the stream's partition count after it.
    * The sink writes one MERGE transaction per partition; on embedded
    * Derby, concurrent MERGEs of one statement text failed inside Derby
    * (an internal NullPointerException, and in another run a latch
    * deadlock that hung the stream). Every other shuffle of the batch
    * keeps the core count. */
  private def upsert(df: DataFrame)(f: DataFrame => Unit): Unit = {
    val conf = df.sparkSession.conf
    val key = "spark.sql.shuffle.partitions"
    val before = conf.get(key)
    conf.set(key, "1")
    try f(df) finally conf.set(key, before)
  }

  private def start(spark: SparkSession, k: Int): Running = {
    val url = s"jdbc:derby:memory:adclick_$k;create=true"
    exec(url,
      """CREATE TABLE ad_user_click_count (dt DATE NOT NULL, user_id BIGINT NOT NULL,
        |ad_id BIGINT NOT NULL, click_count BIGINT, PRIMARY KEY (dt, user_id, ad_id))""".stripMargin,
      "CREATE TABLE blacklist (user_id BIGINT PRIMARY KEY)",
      """CREATE TABLE ad_stat (dt DATE NOT NULL, province VARCHAR(32) NOT NULL,
        |city VARCHAR(32) NOT NULL, ad_id BIGINT NOT NULL, click_count BIGINT,
        |PRIMARY KEY (dt, province, city, ad_id))""".stripMargin,
      """CREATE TABLE ad_province_top3 (dt DATE NOT NULL, province VARCHAR(32) NOT NULL,
        |ad_id BIGINT NOT NULL, click_count BIGINT, rnk BIGINT)""".stripMargin,
      """CREATE TABLE ad_click_trend (window_start TIMESTAMP NOT NULL,
        |window_end TIMESTAMP NOT NULL, ad_id BIGINT NOT NULL, click_count BIGINT,
        |PRIMARY KEY (window_start, window_end, ad_id))""".stripMargin)
    spark.conf.set("spark.sql.streaming.checkpointLocation", s"$work/checkpoints-$k")
    val progress = new ProgressLog
    spark.streams.addListener(progress)
    val sources = Seq.fill(3)(MemoryStream[String](Encoders.STRING, spark))
    def clicks(i: Int) = AdStream.parse(sources(i).toDF())
    def jdbc(table: String) =
      spark.read.format("jdbc").option("url", url).option("dbtable", table).load()
    val blacklist = jdbc("blacklist").select(col("USER_ID").as("user_id"))

    val feeder = AdStream.sinkPerBatch(AdStream.dailyUserAdCounts(clicks(0)), "feeder",
      (df: DataFrame, _: Long) => sink("sink.feeder") {
        val counts = df.withColumnRenamed("date", "dt")
        upsert(counts)(JdbcUpsertSink.upsert(_, url, "ad_user_click_count",
          Seq("dt", "user_id", "ad_id"), Seq("click_count"), Overwrite, AnsiDialect))
        upsert(counts.where(col("click_count") >= Threshold).select("user_id").distinct())(
          JdbcUpsertSink.upsert(_, url, "blacklist", Seq("user_id"), Nil, InsertIfAbsent,
            AnsiDialect))
      })
    val stats = AdStream.sinkPerBatch(
      AdStream.runningStats(AdStream.filterBlacklisted(clicks(1), blacklist)), "stats",
      (df: DataFrame, _: Long) => sink("sink.stats") {
        upsert(df.withColumnRenamed("date", "dt"))(JdbcUpsertSink.upsert(_, url, "ad_stat",
          Seq("dt", "province", "city", "ad_id"), Seq("click_count"), Overwrite, AnsiDialect))
        val stat = jdbc("ad_stat").select(col("DT").as("date"), col("PROVINCE").as("province"),
          col("CITY").as("city"), col("AD_ID").as("ad_id"), col("CLICK_COUNT").as("click_count"))
        val top3 = AdStream.provinceTop3(stat).select(col("date").as("dt"), col("province"),
          col("ad_id"), col("click_count"), col("rank").as("rnk"))
        val keys = top3.select("dt", "province").distinct().collect()
        val c = DriverManager.getConnection(url)
        try {
          val del = c.prepareStatement(
            JdbcUpsertSink.deleteSql("ad_province_top3", Seq("dt", "province")))
          keys.foreach { k =>
            del.setObject(1, k.get(0)); del.setObject(2, k.get(1)); del.executeUpdate()
          }
        } finally c.close()
        JdbcUpsertSink.insert(top3, url, "ad_province_top3",
          Seq("dt", "province", "ad_id", "click_count", "rnk"))
      })
    val trend = AdStream.sinkPerBatch(
      AdStream.clickTrend(AdStream.filterBlacklisted(clicks(2), blacklist), TrendWindow,
        TrendSlide, TrendWatermark), "trend",
      (df: DataFrame, _: Long) => sink("sink.trend") {
        upsert(df)(JdbcUpsertSink.upsert(_, url, "ad_click_trend",
          Seq("window_start", "window_end", "ad_id"), Seq("click_count"), Overwrite, AnsiDialect))
      })
    Running(url, sources, Seq(feeder, stats, trend), progress)
  }

  /** Hands batch `b` to the fan-out and returns once all of it is
    * committed: the feeder first, then stats and trend together. */
  private def runBatch(r: Running, b: Int): Unit = tracer.span("batch", b) {
    batchSpan = tracer.current
    batchId = b
    r.sources(0).addData(lines(b))
    r.queries(0).processAllAvailable()
    r.sources(1).addData(lines(b))
    r.sources(2).addData(lines(b))
    r.queries(1).processAllAvailable()
    r.queries(2).processAllAvailable()
  }

  private def stop(spark: SparkSession, r: Running): Unit = {
    r.queries.foreach(_.stop())
    spark.streams.removeListener(r.progress)
    try DriverManager.getConnection(r.url.replace(";create=true", ";drop=true"))
    catch { case _: java.sql.SQLException => () } // Derby reports a drop as an exception
  }

  def warmUp(spark: SparkSession, k: Int): Unit = {
    if (run != null) stop(spark, run)
    run = start(spark, k)
    (0 until WarmBatches).foreach(b => runBatch(run, b))
    next = WarmBatches
  }

  def release(spark: SparkSession): Unit = { stop(spark, run); run = null }

  def measure(spark: SparkSession, engine: Option[EngineListener]): Measured = {
    val batchMs = Array.newBuilder[Double]
    val perBatch = Seq.newBuilder[Map[String, Double]]
    val gc = new GcClock
    var failed = 0
    var lateDropped, rowsWritten = 0.0
    while (next < WarmBatches + TimedBatches) {
      val b = next
      val e0 = engine.map(_.snapshot(spark.sparkContext))
      val g0 = gc.ms
      if (tracer.on) run.progress.take()
      val t0 = System.nanoTime()
      try runBatch(run, b)
      catch {
        case e: Exception =>
          System.err.println(s"[perfbench] batch $b failed: $e")
          failed += 1
      }
      val ms = (System.nanoTime() - t0) / 1e6
      batchMs += ms
      Heap.sample()
      if (tracer.on) {
        val e1 = engine.map(_.snapshot(spark.sparkContext))
        val ps = run.progress.take()
        def dur(k: String) = ps.map(p => Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)).sum
        val ops = ps.flatMap(_.stateOperators)
        System.err.println(s"[perfbench] batch $b state rows: " + run.progress.lastByQuery.toSeq
          .sortBy(_._1).map { case (q, p) => s"$q ${p.stateOperators.map(_.numRowsTotal).sum}" }
          .mkString(", "))
        lateDropped += ops.map(_.numRowsDroppedByWatermark.toDouble).sum
        rowsWritten += ops.map(_.numRowsUpdated.toDouble).sum
        val sinkMs = Seq("sink.feeder", "sink.stats", "sink.trend")
          .map(n => tracer.msByUnit(n).getOrElse(b.toLong, 0.0)).sum
        val m = Map.newBuilder[String, Double]
        m += "streaming.trigger_ms" -> dur("triggerExecution")
        m += "streaming.add_batch_ms" -> dur("addBatch")
        m += "streaming.planning_ms" -> dur("queryPlanning")
        m += "streaming.wal_ms" -> dur("walCommit")
        m += "streaming.latest_offset_ms" -> dur("latestOffset")
        m += "streaming.state_commit_ms" -> ops.map(_.commitTimeMs.toDouble).sum
        m += "sink.upsert_ms" -> sinkMs
        m += "sink.share" -> sinkMs / ms
        for (a <- e0; z <- e1) {
          Seq("jobs", "stages", "tasks", "task_ms").foreach(k => m += s"engine.$k" -> (z(k) - a(k)))
          m += "engine.core_busy" -> (z("task_ms") - a("task_ms")) / (ms * Main.Cores)
        }
        m += "engine.gc_ms" -> (gc.ms - g0)
        perBatch += m.result()
      }
      next += 1
    }
    // state after the last batch, summed over the queries
    val state = run.progress.lastByQuery.values.flatMap(_.stateOperators).toSeq
    val layer =
      if (!tracer.on) Map.empty[String, Double]
      else Stats.medians(perBatch.result()) ++ Map(
        "streaming.state_rows" -> state.map(_.numRowsTotal.toDouble).sum,
        "streaming.state_mb" -> state.map(_.memoryUsedBytes.toDouble).sum / (1 << 20),
        "streaming.late_rows_dropped" -> lateDropped,
        "sink.rows_written" -> rowsWritten,
        "engine.persisted_rdds_left" -> spark.sparkContext.getPersistentRDDs.size.toDouble)
    val times = batchMs.result().toSeq
    // the stream's one pass is its whole schedule of timed batches
    Measured(Seq(times.sum), times, PerBatch.toDouble * TimedBatches, TimedBatches, failed, layer)
  }

  /** Compares each Derby table with its batch twin: the AdStream
    * functions run over the whole generated input as one DataFrame. */
  def check(spark: SparkSession): (Int, Int) = {
    import spark.implicits._
    val all = schedule.take(next).flatten.toSeq
    // batch at which each user first reaches the threshold on one ad
    val blAt: Map[Long, Int] = {
      val cum = scala.collection.mutable.Map.empty[(Long, Long), Int]
      val at = scala.collection.mutable.Map.empty[Long, Int]
      all.foreach { c =>
        val n = cum.getOrElse((c.user, c.ad), 0) + 1
        cum((c.user, c.ad)) = n
        if (n >= Threshold && !at.contains(c.user)) at(c.user) = c.batch
      }
      at.toMap
    }
    // the feeder commits a batch before stats and trend read it
    val kept = all.filter(c => blAt.get(c.user).forall(c.batch < _))
    // watermark in force for each batch: max event time of the kept
    // rows of earlier batches minus the 2 h delay
    val wm = kept.groupBy(_.batch).map { case (b, cs) => b -> cs.map(_.tsMs).max }
      .toSeq.sortBy(_._1).scanLeft((0, Long.MinValue)) { case ((_, m), (b, x)) => (b + 1, m max x) }
      .map { case (b, m) => b -> (if (m == Long.MinValue) 0L else m - 2 * 3600000L) }.toMap
    def wmOf(b: Int) = wm.getOrElse(b, 0L)
    // a row is late for the trend when its last 1 h / 30 min window has
    // closed; the generator keeps every row clear of partly-closed windows
    def lastWindowEnd(ts: Long) = Math.floorDiv(ts, 1800000L) * 1800000L + 3600000L
    def firstWindowEnd(ts: Long) = lastWindowEnd(ts) - 1800000L
    val straddling = kept.count(c => firstWindowEnd(c.tsMs) <= wmOf(c.batch) &&
      lastWindowEnd(c.tsMs) > wmOf(c.batch))
    val onTime = kept.filter(c => lastWindowEnd(c.tsMs) > wmOf(c.batch))

    def twin(cs: Seq[Gen.Click]): DataFrame =
      AdStream.parse(cs.map(_.line).toDS().toDF("value"))
    def canon(v: Any): Any = v match {
      case d: java.sql.Date => d.toString
      case t: java.sql.Timestamp => t.getTime
      case x => x
    }
    def rows(df: DataFrame) = Check.digest(df.collect().map(_.toSeq.map(canon)))
    def derby(sql: String) = {
      val c = DriverManager.getConnection(run.url)
      try {
        val rs = c.createStatement().executeQuery(sql)
        val n = rs.getMetaData.getColumnCount
        val out = Seq.newBuilder[Seq[Any]]
        while (rs.next()) out += (1 to n).map(i => canon(rs.getObject(i)))
        Check.digest(out.result())
      } finally c.close()
    }
    val counts = AdStream.dailyUserAdCounts(twin(all))
    val stat = AdStream.runningStats(twin(kept)).cache()
    val checks = Seq(
      "ad_user_click_count" -> (rows(counts.select("date", "user_id", "ad_id", "click_count")) ==
        derby("SELECT dt, user_id, ad_id, click_count FROM ad_user_click_count")),
      "blacklist" -> (rows(AdStream.blacklist(counts, Threshold)) ==
        derby("SELECT user_id FROM blacklist")),
      "ad_stat" -> (rows(stat.select("date", "province", "city", "ad_id", "click_count")) ==
        derby("SELECT dt, province, city, ad_id, click_count FROM ad_stat")),
      "ad_province_top3" -> (rows(AdStream.provinceTop3(stat)
          .select("date", "province", "ad_id", "click_count", "rank")) ==
        derby("SELECT dt, province, ad_id, click_count, rnk FROM ad_province_top3")),
      "ad_click_trend" -> (straddling == 0 && rows(AdStream.clickTrend(twin(onTime),
          TrendWindow, TrendSlide, TrendWatermark)) ==
        derby("SELECT window_start, window_end, ad_id, click_count FROM ad_click_trend")))
    stat.unpersist()
    checks.filterNot(_._2).foreach(c => System.err.println(s"[perfbench] check failed: ${c._1}"))
    System.err.println(s"[perfbench] stream: ${blAt.size} users blacklisted, " +
      s"${kept.size - onTime.size} late rows dropped of ${all.size}")
    (checks.size, checks.count(!_._2))
  }
}

object AdClickStream {
  val PerBatch = 200
  val WarmBatches = 1
  val TimedBatches = 6
  val Threshold = 60
  /** The trend's window, slide and watermark, as StreamFanoutE2ESpec wires it. */
  val TrendWindow = "1 hour"
  val TrendSlide = "30 minutes"
  val TrendWatermark = "2 hours"
}

/** Collects every progress report of the fan-out queries. */
final class ProgressLog extends StreamingQueryListener {
  private val q = new ConcurrentLinkedQueue[StreamingQueryProgress]()
  private val last = new java.util.concurrent.ConcurrentHashMap[String, StreamingQueryProgress]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    q.add(e.progress)
    last.put(e.progress.name, e.progress)
  }
  override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()

  /** Reports received since the last call, after draining the bus. */
  def take(): Seq[StreamingQueryProgress] = {
    org.apache.spark.perfbench.ListenerBus.drain(
      org.apache.spark.sql.SparkSession.active.sparkContext)
    Iterator.continually(q.poll()).takeWhile(_ != null).toSeq
  }

  def lastByQuery: Map[String, StreamingQueryProgress] = last.asScala.toMap
}
