package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import scala.collection.mutable.ListBuffer

/** Streaming next-event sequence-example construction with explicit
  * keyed state — the `flatMapGroupsWithState` twin of the batch lag
  * window in [[graft.operators.Sessions.qSequenceExamples]], gated
  * against the SAME oracle (two plans, one semantics — the
  * stream_sessions precedent). A live event feed grows each user's
  * training set as events arrive: state is the user's last ≤ 3 event
  * types (FIXED-size per key — unlike sessionization there is no
  * close condition, so no timeout is armed; production bounds key
  * cardinality by user churn, or adds a TTL timeout for retired
  * users).
  *
  * Per batch, a user's new events are sorted by the full-precision
  * (ts_ord, event_id) order — the exact order the batch window
  * declares — merged through the carried state, and an example is
  * emitted for every event with 3 predecessors. Because the replay
  * feeds micro-batches in event-time order, cross-batch merge ≡ the
  * one-shot sort, so the stream provably concatenates to the batch
  * constructor's output.
  */
object StatefulSequences {

  case class Ev(user_id: Long, event_id: Long, ts_ord: Long,
                ts_sec: Long, event_type: String)
  case class Hist(types: Seq[String])
  case class Example(user_id: Long, event_id: Long, ts_sec: Long,
                     context: String, target: String)

  /** Merge one batch of a user's events (sorted by the full-precision
    * `ts_ord` ordering key — NOT a truncated instant, so the order is
    * the batch window's (ts, event_id) on every fixture generation)
    * through the carried 3-type history. */
  def stateFn(user: Long, evs: Iterator[Ev],
              state: GroupState[Hist]): Iterator[Example] = {
    val out = ListBuffer[Example]()
    var hist = state.getOption.map(_.types).getOrElse(Seq.empty)
    evs.toSeq.sortBy(e => (e.ts_ord, e.event_id)).foreach { e =>
      if (hist.length == 3)
        out += Example(user, e.event_id, e.ts_sec,
          hist.mkString(" "), e.event_type)
      hist = (hist :+ e.event_type).takeRight(3)
    }
    state.update(Hist(hist))
    out.iterator
  }

  def examples(events: Dataset[Ev]): Dataset[Example] = {
    implicit val outEnc = Encoders.product[Example]
    implicit val stEnc = Encoders.product[Hist]
    events
      .groupByKey(_.user_id)(Encoders.scalaLong)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.NoTimeout)(stateFn)
  }

  /** Oracle gate: replay the bounded events table through a real
    * running query in 3 event-time-ordered micro-batches; the result
    * must hash-match q_sequence_examples' oracle. */
  def qStreamSequenceExamples(spark: SparkSession, dir: String): DataFrame =
    streamSequenceExamples(spark, dir, nChunks = 3)

  /** Replay core with the micro-batch split exposed (the spec proves
    * any event-time-ordered split concatenates to the batch rows). */
  private[graft] def streamSequenceExamples(spark: SparkSession, dir: String,
                                            nChunks: Int): DataFrame = {
    import spark.implicits._
    val feed = graft.Tables.eventsNorm(spark, dir)
      .select(col("user_id"), col("event_id"), col("ts_ord"),
        col("ts_sec"), col("event_type"))
      // feeding the MemoryStream (bounded fixture). r14: sorted on
      // the driver (a distributed range sort before a driver collect
      // is harness overhead), and fed as Ev rows directly — the tuple
      // feed paid a deserialize→map→re-serialize pass per batch
      // before the stateful shuffle: harness-side collect + sort
      .as[(Long, Long, Long, Long, String)].collect()
      .sortBy(t => (t._3, t._2))
      .map(t => Ev(t._1, t._2, t._3, t._4, t._5)).toSeq
    val rows = Replay.run(spark, Replay.chunks(feed, nChunks))(
        examples(_).toDF()) { batch =>
      // harness-side collect: draining one micro-batch's OUTPUT rows
      batch.as[Example].collect().toSeq
    }
    rows.toDF()
      .select("user_id", "event_id", "ts_sec", "context", "target")
      .orderBy("user_id", "event_id")
  }
}
