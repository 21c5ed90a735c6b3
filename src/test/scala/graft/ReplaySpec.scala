package graft

import graft.streaming.{Replay, StatefulSessions}

/** The shared streaming replay driver: one micro-batch per fed batch,
  * drains concatenated in order, and the query stopped on every path
  * — including a drain that throws, which must surface to the caller
  * rather than leave a dead query registered with the session.
  */
class ReplaySpec extends SparkSpec {
  import spark.implicits._

  test("chunks splits into at most n consecutive batches, none for empty input") {
    assert(Replay.chunks(1 to 10, 3) == Seq(1 to 4, 5 to 8, 9 to 10))
    assert(Replay.chunks(1 to 3, 2) == Seq(1 to 2, 3 to 3))
    assert(Replay.chunks(1 to 2, 5) == Seq(1 to 1, 2 to 2))
    assert(Replay.chunks(Seq.empty[Int], 3).isEmpty)
  }

  test("each fed batch is one micro-batch; drains concatenate in order") {
    val batches = Seq(Seq(1L, 2L), Seq.empty[Long], Seq(3L))
    val seen = Replay.run(spark, batches)(_.toDF("x")) { batch =>
      Seq(batch.as[Long].collect().sorted.toSeq)
    }
    assert(seen == batches)
    assert(spark.streams.active.isEmpty)
  }

  test("a drain that throws is rethrown and leaves no active query") {
    val e = intercept[Exception] {
      Replay.run(spark, Seq(Seq(1L), Seq(2L)))(_.toDF("x")) { _ =>
        throw new IllegalStateException("drain failed")
      }
    }
    val causes = Iterator.iterate[Throwable](e)(_.getCause)
      .takeWhile(_ != null).map(_.getMessage).toSeq
    assert(causes.exists(m => m != null && m.contains("drain failed")),
      causes.mkString(" <- "))
    assert(spark.streams.active.isEmpty)
  }

  test("stream_sessions leaves no sink view behind in the session catalog") {
    StatefulSessions.qStreamSessions(spark, sf).collect()
    val leaked = spark.catalog.listTables().collect().map(_.name)
      .filter(_.startsWith("stream_sessions_"))
    assert(leaked.isEmpty, leaked.mkString(","))
    assert(spark.streams.active.isEmpty)
  }
}
