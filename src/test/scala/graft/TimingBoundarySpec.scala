package graft

import org.scalatest.funsuite.AnyFunSuite

/** The timing boundary, enforced at the source level: wall time is
  * measured in ONE place, `graft.Bench`, with its warmup and rep
  * median. Everything else that asks "how does this plan behave?"
  * reads deterministic counters through [[graft.Profile]], so a
  * second hand-rolled timing loop (whose verdicts on a shared host
  * were 3–5× noisy on identical code) cannot return. The scale probe
  * also caches nothing itself: a probe-side cache hides the very
  * operator rows it reports.
  */
class TimingBoundarySpec extends AnyFunSuite {

  private def lines(f: java.io.File): List[(String, Int)] =
    scala.io.Source.fromFile(f, "UTF-8").getLines().zipWithIndex.toList

  test("System.nanoTime appears in src/main only in Bench.scala") {
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
      if !f.getPath.endsWith("graft/Bench.scala")
      (line, i) <- lines(f)
      if line.contains("nanoTime")
    } yield s"${f.getPath}:${i + 1}: $line"
    assert(offenders.isEmpty,
      "wall-time measurement outside graft.Bench — read graft.Profile " +
      "counters instead:\n" + offenders.mkString("\n"))
  }

  test("ScaleProbe holds no cache or persist call") {
    val probe = new java.io.File("src/main/scala/graft/tools/ScaleProbe.scala")
    assert(probe.isFile, s"ScaleProbe not found at ${probe.getAbsolutePath}")
    val offenders = lines(probe).collect {
      case (line, i) if line.contains("cache(") || line.contains("persist(") =>
        s"${i + 1}: $line"
    }
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }
}
