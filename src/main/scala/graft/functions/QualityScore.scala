package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, DoubleType}
import org.apache.spark.unsafe.types.UTF8String

/** The UNROUNDED heuristic text-quality score
  *   0.4·min(nTok/100, 1) + 0.3·(distinctTok/nTok) + 0.3·(stopTok/nTok)
  * over a text column, as one static-kernel pass (r14, guide §4).
  *
  * Bit-identical to the builtin composition (which the oracles spell
  * out and R14KernelsSpec pins against): same whitespace
  * tokenization as [[Text.tokens]]/[[ShinglesW]], counts folded into
  * the same double arithmetic in the same order. The five-stopword
  * list is part of the formula (TextAnalysis.Stopwords — the gate's
  * oracle unrolls the same IN list). The previous plan evaluated
  * tokens + array_distinct + an interpreted `filter(isin)` lambda per
  * doc — paid once per corpus pass in text_quality_calibrate, the
  * quality mixes, curriculum packing, and every curation pipeline's
  * stage-1 gate (twice in pipeline_release_audit).
  *
  * Empty/whitespace-only text: nTok = 0 → the ratio terms are 0.0/0.0
  * = NaN exactly like the builtin division (callers gate with
  * `quality >= t`, which is false for NaN on both paths).
  */
case class QualityScoreExpr(child: Expression) extends UnaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "quality_score_raw"

  override def nullSafeEval(input: Any): Any =
    QualityScore.compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => computeCall(QualityScore, c))

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object QualityScore {
  /** THE canonical stopword list — the single source the kernels
    * ([[QualityScore]], [[GopherSignals]]), the builtin/HOF twins,
    * and TextAnalysis.Stopwords all derive from (r15, ADVICE: the
    * list was previously re-declared per site with only a comment
    * guarding against drift). Every quality gate's oracle SQL unrolls
    * the same five words. */
  val StopwordList: Seq[String] = Seq("the", "a", "and", "of", "to")

  private[functions] val StopwordSet: java.util.Set[String] =
    java.util.Set.copyOf(java.util.Arrays.asList(StopwordList: _*))

  private val Stop = StopwordSet

  private val Whitespace = java.util.regex.Pattern.compile("\\s+")

  def compute(text: UTF8String): Double = {
    val toks = Whitespace.split(text.toString).filter(_.nonEmpty)
    val n = toks.length
    val distinct = new java.util.HashSet[String](n * 2)
    var stop = 0
    var i = 0
    while (i < n) {
      val t = toks(i)
      distinct.add(t)
      if (Stop.contains(t)) stop += 1
      i += 1
    }
    val nd = n.toDouble
    val lengthScore = math.min(nd / 100.0, 1.0)
    // same association as the builtin column: (0.4·ls + 0.3·div) + 0.3·stop
    0.4 * lengthScore + 0.3 * (distinct.size / nd) + 0.3 * (stop / nd)
  }

  def apply(text: Column): Column = {
    import org.apache.spark.sql.graft.ColumnBridge
    ColumnBridge.column(QualityScoreExpr(ColumnBridge.expression(text)))
  }
}
