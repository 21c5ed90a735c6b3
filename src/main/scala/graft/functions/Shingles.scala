package graft.functions

import java.util.regex.Pattern
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Distinct w-gram word shingles of a text column in one native pass.
  *
  * Semantically identical to the built-in composition
  * `array_distinct(transform(sequence(...), i -> concat_ws(' ',
  * slice(tokens(text), i, w))))` (its test-side twin, cross-checked in
  * the kernel contract spec), but the higher-order-function chain
  * interprets four lambdas per shingle; this expression tokenizes once
  * and builds the deduped shingle set in a tight loop. At w = 3
  * ([[Text.shingles3]]) it is the hot scalar path of every text-dedup
  * operator; the decontamination/source-overlap family uses w = 4
  * (r14, guide §4 — the HOF chain of the previous `shingleArray` was
  * the dominant cost of every shingleSet caller). */
case class ShinglesW(child: Expression, w: Int) extends UnaryExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = s"shingles$w"

  override def nullSafeEval(input: Any): Any =
    ShinglesW.compute(input.asInstanceOf[UTF8String], w)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => computeCall(ShinglesW, c, w))

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object ShinglesW {
  // exactly java.util.regex \s+, matching Text.tokens' split
  private val Whitespace = Pattern.compile("\\s+")

  def compute(text: UTF8String, w: Int): ArrayData = {
    // No String.trim (strips ≤ U+0020, unlike SQL trim): split the
    // raw text and drop empty tokens — same rule as Text.tokens and
    // the oracle's list_filter(string_split_regex(...), t -> t != '')
    val toks = Whitespace.split(text.toString).filter(_.nonEmpty)
    if (toks.length < w)
      return new GenericArrayData(Array.empty[Any])
    val seen = new java.util.LinkedHashSet[String](toks.length * 2)
    var i = 0
    while (i <= toks.length - w) {
      val sb = new java.lang.StringBuilder(toks(i))
      var j = 1
      while (j < w) { sb.append(' ').append(toks(i + j)); j += 1 }
      seen.add(sb.toString)
      i += 1
    }
    val out = new Array[Any](seen.size)
    val it = seen.iterator()
    var j = 0
    while (it.hasNext) { out(j) = UTF8String.fromString(it.next()); j += 1 }
    new GenericArrayData(out)
  }

  def apply(c: Column, w: Int): Column = {
    import org.apache.spark.sql.graft.ColumnBridge
    ColumnBridge.column(ShinglesW(ColumnBridge.expression(c), w))
  }
}
