package graft

import org.scalatest.funsuite.AnyFunSuite

/** The standing-table boundary, enforced at the source level: every
  * catalog-property read or write and every table rename in `src/main`
  * goes through [[graft.sources.StandingTable]]. A family that stamps,
  * renames or carries properties on its own is a second copy of the
  * build-once and staged-swap protocol. Copies drift apart (one gets
  * a fix the others miss) and no oracle gate notices, because every
  * copy still returns the right rows.
  */
class StandingTableBoundarySpec extends AnyFunSuite {

  test("only StandingTable.scala renames tables or touches table properties") {
    val mainDir = new java.io.File("src/main/scala")
    assert(mainDir.isDirectory,
      s"main source dir not found at ${mainDir.getAbsolutePath}")
    def files(d: java.io.File): Seq[java.io.File] =
      d.listFiles().toSeq.flatMap { f =>
        if (f.isDirectory) files(f)
        else if (f.getName.endsWith(".scala")) Seq(f)
        else Seq.empty
      }
    val markers = Seq("RENAME TO", "SET TBLPROPERTIES", "SHOW TBLPROPERTIES")
    val offenders = for {
      f <- files(mainDir)
      if !f.getPath.endsWith("graft/sources/StandingTable.scala")
      (line, i) <- scala.io.Source.fromFile(f, "UTF-8").getLines()
        .zipWithIndex.toList
      if markers.exists(line.contains)
    } yield s"${f.getPath}:${i + 1}: $line"
    assert(offenders.isEmpty,
      "standing-table protocol outside graft.sources.StandingTable — " +
      "route it through buildOnce / markAppended / rewrite / compact:\n" +
      offenders.mkString("\n"))
  }
}
