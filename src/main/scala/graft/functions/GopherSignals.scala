package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** The five Gopher-rule signals of a text column in ONE tokenizing
  * pass: struct(n, len_sum, n_alpha, stop_cnt, top_cnt) where
  *
  *   n        = size(tokens(text))
  *   len_sum  = Σ length(token)            (character count, int sum)
  *   n_alpha  = #tokens containing [A-Za-z]
  *   stop_cnt = #tokens in the shared stopword list
  *   top_cnt  = max multiplicity of any token (NULL when n = 0,
  *              matching array_max(empty) = NULL in the HOF twin)
  *
  * [[graft.operators.TextAnalysis.qTextGopherRules]] derives its flag
  * booleans from these counters with the SAME builtin arithmetic as
  * before; only the counter computation moved into the kernel. The
  * builtin composition it replaces is the test-side twin
  * `gopherSignalsViaHof`, pinned equal in KernelContractSpec. The
  * motivating term is top_cnt: the HOF
  * spelling is `array_max(transform(array_distinct(toks), d ->
  * size(filter(toks, x -> x = d))))` — O(distinct · n) interpreted
  * lambda dispatch per document (r14 verdict item 7, a latent cost
  * the day a pipeline consumes the gate); the kernel's hash-map count
  * is O(n) and stays in whole-stage codegen.
  *
  * Tokenization matches [[Text.tokens]] / [[QualityScore]]: java
  * regex \s+ split, empty tokens dropped. Token length counts code
  * points (Spark `length` = UTF8String.numChars), not UTF-16 units.
  */
case class GopherSignalsExpr(child: Expression) extends UnaryExpression {

  override def dataType: DataType = GopherSignals.Schema
  override def prettyName: String = "gopher_signals"

  override def nullSafeEval(input: Any): Any =
    GopherSignals.compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => computeCall(GopherSignals, c))

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object GopherSignals {

  val Schema: StructType = StructType(Seq(
    StructField("n", IntegerType, nullable = false),
    StructField("len_sum", IntegerType, nullable = false),
    StructField("n_alpha", IntegerType, nullable = false),
    StructField("stop_cnt", IntegerType, nullable = false),
    StructField("top_cnt", IntegerType, nullable = true)))

  private val Whitespace = java.util.regex.Pattern.compile("\\s+")

  private def hasAlpha(t: String): Boolean = {
    var i = 0
    while (i < t.length) {
      val c = t.charAt(i)
      if ((c >= 'A' && c <= 'Z') || (c >= 'a' && c <= 'z')) return true
      i += 1
    }
    false
  }

  def compute(text: UTF8String): InternalRow = {
    val toks = Whitespace.split(text.toString).filter(_.nonEmpty)
    val n = toks.length
    var lenSum = 0
    var nAlpha = 0
    var stop = 0
    val counts = new java.util.HashMap[String, Array[Int]](n * 2)
    var top = 0
    var i = 0
    while (i < n) {
      val t = toks(i)
      // Spark length() counts code points, not UTF-16 units
      lenSum += t.codePointCount(0, t.length)
      if (hasAlpha(t)) nAlpha += 1
      if (QualityScore.StopwordSet.contains(t)) stop += 1
      val c = counts.get(t)
      val cnt = if (c == null) { counts.put(t, Array(1)); 1 }
                else { c(0) += 1; c(0) }
      if (cnt > top) top = cnt
      i += 1
    }
    new GenericInternalRow(Array[Any](n, lenSum, nAlpha, stop,
      if (n == 0) null else top))
  }

  def apply(text: Column): Column = {
    import org.apache.spark.sql.graft.ColumnBridge
    ColumnBridge.column(GopherSignalsExpr(ColumnBridge.expression(text)))
  }
}
