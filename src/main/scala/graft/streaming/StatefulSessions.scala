package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import scala.collection.mutable.ListBuffer

/** Streaming gap-sessionization with explicit keyed state — the
  * `flatMapGroupsWithState` counterpart of the batch window
  * sessionizer in operators/Sessions.scala, and the exact-parity
  * replacement for the reference's `updateStateByKey`
  * (AdClickRealTimeSpark.java:453-485) when per-key custom state is
  * genuinely needed. Unlike the reference (state grows forever),
  * sessions time out on the event-time watermark: state is bounded
  * by the number of OPEN sessions.
  *
  * Works on batch Datasets too (Spark runs the same function per
  * group, no timeouts), which the spec uses as a cross-check against
  * the window-based batch sessionizer.
  */
object StatefulSessions {

  case class SessionEvent(user_id: Long, ts_sec: Long, event_type: String)
  case class SessionState(start_sec: Long, last_sec: Long, steps: Long,
                          purchases: Long)
  case class SessionOut(user_id: Long, start_sec: Long, visit_length: Long,
                        step_length: Long, purchases: Long)

  val DefaultGapSeconds = 1800L

  private def fresh(e: SessionEvent): SessionState =
    SessionState(e.ts_sec, e.ts_sec, 1L,
      if (e.event_type == "purchase") 1L else 0L)

  private def extended(s: SessionState, e: SessionEvent): SessionState =
    s.copy(last_sec = e.ts_sec, steps = s.steps + 1,
      purchases = s.purchases + (if (e.event_type == "purchase") 1L else 0L))

  private def closed(user: Long, s: SessionState): SessionOut =
    SessionOut(user, s.start_sec, s.last_sec - s.start_sec, s.steps, s.purchases)

  /** The state function: merge the batch's events (sorted by time)
    * into the open session, emit sessions closed by a gap inside the
    * batch, and arm an event-time timeout at last_sec + gap so the
    * watermark closes idle sessions. */
  def stateFn(gapSeconds: Long)(
      user: Long, evs: Iterator[SessionEvent],
      state: GroupState[SessionState]): Iterator[SessionOut] = {
    val out = ListBuffer[SessionOut]()
    if (state.hasTimedOut) {
      out += closed(user, state.get)
      state.remove()
    } else {
      // Drop events STRICTLY behind the watermark before touching
      // state (boundary events exactly at the watermark are kept —
      // the filter below is >=), matching Spark's own late-data
      // semantics for aggregations: a late straggler must not
      // resurrect or re-arm a session whose timeout the watermark
      // already passed. (Batch runs have no watermark;
      // getCurrentWatermarkMs is unsupported there.)
      val wmMs =
        try state.getCurrentWatermarkMs
        catch { case _: UnsupportedOperationException => Long.MinValue }
      val sorted = evs.toSeq
        .filter(e => e.ts_sec * 1000L >= wmMs)
        .sortBy(e => (e.ts_sec, e.event_type))
      var cur = state.getOption
      sorted.foreach { e =>
        cur = cur match {
          case Some(s) if e.ts_sec - s.last_sec <= gapSeconds =>
            Some(extended(s, e))
          case Some(s) =>
            out += closed(user, s)
            Some(fresh(e))
          case None => Some(fresh(e))
        }
      }
      cur.foreach { s =>
        state.update(s)
        // event-time timeouts only exist under a watermark (i.e. a
        // streaming Dataset); batch runs skip them. The timeout must be
        // strictly ahead of the current watermark (Spark raises
        // IllegalArgumentException and kills the query). With late
        // events dropped above, target can still equal the watermark
        // exactly (event at the watermark boundary, gap ~ 0), so the
        // clamp stays as defense in depth.
        try {
          val target = (s.last_sec + gapSeconds) * 1000L
          state.setTimeoutTimestamp(math.max(state.getCurrentWatermarkMs + 1L, target))
        } catch { case _: UnsupportedOperationException => }
      }
    }
    out.iterator
  }

  /** Streaming entry: expects `events` with an event-time watermark
    * already applied upstream. Closed sessions are appended. */
  def sessionize(events: Dataset[SessionEvent],
                 gapSeconds: Long = DefaultGapSeconds): Dataset[SessionOut] = {
    implicit val outEnc = Encoders.product[SessionOut]
    implicit val stEnc = Encoders.product[SessionState]
    events
      .groupByKey(_.user_id)(Encoders.scalaLong)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout)(stateFn(gapSeconds))
  }

  /** Oracle gate for the STREAMING sessionizer: replay the bounded
    * events table through a real running query (MemoryStream source,
    * real watermark, real event-time timeouts) and return the closed
    * sessions in the q_sessionize oracle's shape. Three micro-batches:
    * all real events, then two far-future sentinel events for a dummy
    * user — the watermark trails a batch behind the data it saw, so
    * the first sentinel flushes sessions whose timeout target sits at
    * or before max(real ts) and the second flushes the stragglers
    * whose target lands inside (max ts, max ts + gap]. The sentinel
    * user's own still-open session is filtered out by id. session_idx
    * is re-derived by start order per user (sessions of one user
    * can't tie on start_sec — a tie would mean gap 0, one session).
    *
    * This is a correctness replay harness for a bounded fixture, not
    * the production shape — there the same `sessionize` runs on a
    * readStream source and the driver-side feed below doesn't
    * exist. The collect is the harness feeding the source, not the
    * operator. */
  def qStreamSessions(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val evs = graft.Tables.eventsNorm(spark, dir)
      .select(col("user_id").cast("long").as("user_id"), col("ts_sec"),
              col("event_type"))
      .as[SessionEvent]
      // harness-side collect: feeding the MemoryStream (bounded fixture)
      .collect().toSeq
    val maxSec = evs.iterator.map(_.ts_sec).maxOption.getOrElse(0L)
    def sentinel(gaps: Long) =
      Seq(SessionEvent(-1L, maxSec + gaps * DefaultGapSeconds, "view"))
    val closed = Replay.run(spark, Seq(evs, sentinel(2), sentinel(4)))(
        in => sessionize(
          in.withColumn("event_time", timestamp_seconds(col("ts_sec")))
            .withWatermark("event_time", "0 seconds")
            .as[SessionEvent]).toDF()) { batch =>
      // harness-side collect: draining one micro-batch's OUTPUT rows
      batch.as[SessionOut].collect().toSeq
    }
    val w = Window.partitionBy("user_id").orderBy("start_sec")
    closed.toDF().where(col("user_id") >= 0)
      .withColumn("session_idx", row_number().over(w).cast("long"))
      .select("user_id", "session_idx", "start_sec", "visit_length",
              "step_length", "purchases")
      .orderBy("user_id", "session_idx")
  }
}
