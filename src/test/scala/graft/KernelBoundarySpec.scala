package graft

import org.scalatest.funsuite.AnyFunSuite

/** One implementation per kernel, enforced at the source level: a
  * custom expression's arithmetic lives in a static `compute` that the
  * interpreted `nullSafeEval` and the generated code both call, so
  * `doGenCode` is one call line, never a second, hand-written Java
  * copy of the loop. A Java copy needs fresh variable names and a
  * multi-line source string; neither may appear in `src/main`.
  */
class KernelBoundarySpec extends AnyFunSuite {

  private def sources: Seq[(String, Array[String])] = {
    val mainDir = new java.io.File("src/main/scala")
    assert(mainDir.isDirectory, s"main source dir not found at ${mainDir.getAbsolutePath}")
    def files(d: java.io.File): Seq[java.io.File] =
      d.listFiles().toSeq.flatMap { f =>
        if (f.isDirectory) files(f) else if (f.getName.endsWith(".scala")) Seq(f) else Nil
      }
    files(mainDir).map(f =>
      f.getPath -> scala.io.Source.fromFile(f, "UTF-8").getLines().toArray)
  }

  test("src/main names no fresh codegen variables") {
    val offenders = for {
      (path, lines) <- sources
      (line, i) <- lines.zipWithIndex
      if line.contains("freshName")
    } yield s"$path:${i + 1}: $line"
    assert(offenders.isEmpty,
      "generated code declares its own variables — move the loop into the " +
        "kernel's static compute and call it:\n" + offenders.mkString("\n"))
  }

  test("no doGenCode builds a multi-line Java string") {
    def indent(l: String) = l.takeWhile(_ == ' ').length
    val offenders = for {
      (path, lines) <- sources
      (line, i) <- lines.toSeq.zipWithIndex
      if line.contains("def doGenCode")
      // the method body: the lines after the signature, up to the next
      // line at or left of the `def`'s own indentation
      body = lines.drop(i + 1).takeWhile(l => l.trim.isEmpty || indent(l) > indent(line))
      (b, j) <- body.zipWithIndex
      if b.contains("\"\"\"") || b.contains("stripMargin")
    } yield s"$path:${i + 2 + j}: $b"
    assert(offenders.isEmpty,
      "doGenCode spells out Java source — generated code must be one call " +
        "of the kernel's static compute:\n" + offenders.mkString("\n"))
  }
}
