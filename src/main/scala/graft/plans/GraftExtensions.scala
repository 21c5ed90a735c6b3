package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{DataType, DoubleType}
import graft.functions.{computeCall, elem, isDouble, CosineSimilarity, SimHash64, SquaredDistance}

/** Cosine of a vector with itself: 1.0 unless the vector is all-zero
  * (then 0.0, matching [[CosineSimilarity]]'s zero-denominator
  * convention; a null element reads as 0.0 there too). One early-exit
  * pass, no multiplies. Reads the element type from the child
  * (CosineSimilarity accepts float or double arrays, so the rewrite
  * must too — a getFloat on a double array would scan the wrong
  * bytes). */
case class SelfCosine(child: Expression) extends UnaryExpression {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "self_cosine"
  override def nullSafeEval(input: Any): Any =
    SelfCosine.compute(input.asInstanceOf[ArrayData], isDouble(child))
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => computeCall(SelfCosine, c, isDouble(child)))
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}

object SelfCosine {
  def compute(a: ArrayData, isDouble: Boolean): Double = {
    var i = 0
    while (i < a.numElements()) {
      if (elem(a, isDouble, i) != 0.0) return 1.0
      i += 1
    }
    0.0
  }
}

/** Algebraic simplification: `cosine_similarity(x, x)` needs no dot
  * product — the answer is 1.0 (or 0.0 for the zero vector, null for
  * null). Arises naturally when a generic scoring template is joined
  * to itself. The optimizer's expression tree is the right place for
  * this — callers don't have to special-case it. */
object SimplifySelfCosine extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformAllExpressions {
      case CosineSimilarity(a, b) if a.deterministic && a.semanticEquals(b) =>
        SelfCosine(a)
    }
}

/** Session extensions: the optimizer rule above, plus SQL-name
  * registration of the custom expressions so `spark.sql("SELECT
  * cosine_similarity(a, b) …")` works without the Scala API.
  * Enable with
  * `.config("spark.sql.extensions", "graft.plans.GraftExtensions")`
  * or `.withExtensions(new GraftExtensions)`. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectOptimizerRule(_ => SimplifySelfCosine)
    GraftExtensions.sqlFunctions.foreach { case (name, builder) =>
      e.injectFunction((
        new FunctionIdentifier(name),
        new ExpressionInfo("graft.functions", name),
        builder))
    }
  }
}

object GraftExtensions {

  /** ONE name→builder table for both injection paths (builder-time
    * extensions and live-session install), so the SQL surface can't
    * drift between them. Covers the custom Catalyst kernels AND the
    * LLM-pipeline scalar recipes (token counting, shingling) the SQL
    * entry points build on. Builders return CATALYST trees directly —
    * round-tripping through the Column API here leaves unresolved
    * column nodes the registry path never analyzes (observed: a
    * NullType function result). */
  private[graft] val sqlFunctions: Seq[(String, Seq[Expression] => Expression)] = {
    import org.apache.spark.sql.catalyst.expressions.{Cast, Literal, RegExpExtractAll, Size}
    import org.apache.spark.sql.types.LongType
    Seq(
      "cosine_similarity" -> ((args: Seq[Expression]) =>
        CosineSimilarity(args(0), args(1))),
      "simhash64" -> ((args: Seq[Expression]) => SimHash64(args.head)),
      "squared_distance" -> ((args: Seq[Expression]) =>
        SquaredDistance(args(0), args(1))),
      "shingles3" -> ((args: Seq[Expression]) =>
        graft.functions.ShinglesW(args.head, 3)),
      // same pattern constant as the Column twin
      // (TextAnalysis.bpeTokenCount) — one tokenizer definition
      "bpe_token_count" -> ((args: Seq[Expression]) =>
        Cast(Size(RegExpExtractAll(args.head,
          Literal(graft.operators.TextAnalysis.BpePattern), Literal(0))),
          LongType)))
  }

  /** Install into an already-built session (builder extensions only
    * bind at construction — getOrCreate on a live session silently
    * ignores `withExtensions`). */
  def install(spark: org.apache.spark.sql.SparkSession): Unit = {
    if (!spark.experimental.extraOptimizations.contains(SimplifySelfCosine))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ SimplifySelfCosine
    sqlFunctions.foreach { case (name, builder) =>
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        name, builder, "scala_udf")
    }
  }
}
