package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import scala.collection.mutable.ArrayBuffer

/** The one streaming replay driver behind every `stream_*` oracle
  * gate: the bounded fixture is fed through a REAL running query —
  * MemoryStream source → `shape` → append-mode `foreachBatch` — one
  * micro-batch per element of `batches`, each processed to completion
  * before the next is added. `drain` turns one micro-batch's output
  * into driver rows (the harness side of the replay boundary); the
  * concatenated drains are returned. The query is stopped on every
  * path, so a failing `drain` rethrows with no query left active.
  *
  * Production has no driver feed: the same `shape` runs on a
  * readStream source and the batch output goes to a sink.
  */
object Replay {

  def run[A: Encoder, B](spark: SparkSession, batches: Seq[Seq[A]])(
      shape: Dataset[A] => DataFrame)(drain: DataFrame => Seq[B]): Seq[B] = {
    implicit val ctx = spark.sqlContext
    val out = ArrayBuffer[B]()
    val input = MemoryStream[A]
    val q = shape(input.toDS()).writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val rows = drain(batch)
        out.synchronized { out ++= rows }
        ()
      }
      .start()
    try batches.foreach { b => input.addData(b); q.processAllAvailable() }
    finally q.stop()
    out.toSeq
  }

  /** `xs` split into at most `n` consecutive batches of equal size
    * (the last may be shorter); no batches for an empty `xs`. */
  def chunks[A](xs: Seq[A], n: Int): Seq[Seq[A]] =
    xs.grouped(math.max(1, (xs.size + n - 1) / n)).toSeq
}
