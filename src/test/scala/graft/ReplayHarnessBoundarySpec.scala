package graft

import org.scalatest.funsuite.AnyFunSuite

/** The replay-gate boundary, enforced: the streaming replay harnesses
  * (StreamReplays, StatefulSessions, and friends) are allowed to
  * collect ONLY on the harness side — feeding the MemoryStream from
  * the bounded fixture, or draining a micro-batch's OUTPUT rows. A
  * collect that migrates into the per-batch operator body (e.g.
  * collecting the standing corpus or an unbounded join side) is the
  * scale bug these gates must never grow, and it would pass every
  * oracle check silently. This spec pins the discipline at the source
  * level: every `.collect(` in the streaming package must carry an
  * adjacent `harness-side collect` marker declaring which side it is
  * on, and the per-batch bodies must route through the batch operator
  * entry points rather than reimplementing them. The feed loop itself
  * lives in ONE place, [[graft.streaming.Replay]]: no other main
  * source may build a MemoryStream or drive a query with
  * processAllAvailable, so hand-rolled replay copies cannot return.
  */
class ReplayHarnessBoundarySpec extends AnyFunSuite {

  private val streamingDir =
    new java.io.File("src/main/scala/graft/streaming")

  private def sources: Seq[(String, Array[String])] = {
    assert(streamingDir.isDirectory,
      s"streaming source dir not found at ${streamingDir.getAbsolutePath}")
    streamingDir.listFiles().filter(_.getName.endsWith(".scala")).toSeq
      .map(f => f.getName ->
        scala.io.Source.fromFile(f, "UTF-8").getLines().toArray)
  }

  test("every collect in the streaming package declares itself harness-side") {
    val offenders = for {
      (name, lines) <- sources
      (line, i) <- lines.zipWithIndex
      if line.contains(".collect(")
      window = lines.slice(math.max(0, i - 2), i + 1).mkString("\n")
      if !window.contains("harness-side collect")
    } yield s"$name:${i + 1}: $line"
    assert(offenders.isEmpty,
      "collect without a 'harness-side collect' marker — if it sits in a " +
      "per-batch operator body it is a corpus-side collect (the replay " +
      "gates' forbidden scale bug); move it harness-side or mark it:\n" +
      offenders.mkString("\n"))
  }

  test("only Replay.scala feeds a MemoryStream or calls processAllAvailable") {
    val mainDir = new java.io.File("src/main/scala")
    assert(mainDir.isDirectory,
      s"main source dir not found at ${mainDir.getAbsolutePath}")
    def files(d: java.io.File): Seq[java.io.File] =
      d.listFiles().toSeq.flatMap { f =>
        if (f.isDirectory) files(f)
        else if (f.getName.endsWith(".scala")) Seq(f)
        else Seq.empty
      }
    val offenders = for {
      f <- files(mainDir)
      if !f.getPath.endsWith("graft/streaming/Replay.scala")
      (line, i) <- scala.io.Source.fromFile(f, "UTF-8").getLines()
        .zipWithIndex.toList
      if line.contains("processAllAvailable") || line.contains("MemoryStream[")
    } yield s"${f.getPath}:${i + 1}: $line"
    assert(offenders.isEmpty,
      "replay loop outside graft.streaming.Replay — route it through " +
      "Replay.run:\n" + offenders.mkString("\n"))
  }

  test("replay per-batch bodies write through the batch operators, not reimplementations") {
    val replays = sources.collectFirst {
      case ("StreamReplays.scala", lines) => lines.mkString("\n")
    }.getOrElse(fail("StreamReplays.scala not found"))
    // the decontamination replay must flow through decontaminateAgainst
    // and the dedup replay through incrementalNearDupBatch — the two
    // entry points whose plans the batch gates already pin
    assert(replays.contains("TextAnalysis.decontaminateAgainst"), replays)
    assert(replays.contains("Dedup.incrementalNearDupBatch"), replays)
  }
}
