package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Native cosine similarity over two numeric-array columns (float or
  * double elements, independently per side — the SQ8 path scores a
  * double-array reconstruction against a float-array query).
  *
  * A Scala UDF would deserialize each array to a Scala Seq per row;
  * the higher-order-function composition (the test-side twin) is
  * interpreted per element. This expression runs one tight primitive
  * loop over the array data ([[CosineSimilarity.compute]]) and
  * participates in whole-stage codegen, which is what you want when
  * scoring billions of pairs. Accumulation is in double regardless of
  * input float width; each side's element type is fixed at plan time
  * and passed to the loop as an argument.
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "cosine_similarity"

  // reject bad inputs at ANALYSIS time: without this an array<int>
  // through the SQL-registered function surfaces as a mid-job
  // eval/codegen failure instead of an AnalysisException
  override def checkInputDataTypes(): TypeCheckResult =
    VectorFunctions.checkFloatArrays(prettyName, left, right)

  override def nullSafeEval(l: Any, r: Any): Any =
    CosineSimilarity.compute(l.asInstanceOf[ArrayData], isDouble(left),
      r.asInstanceOf[ArrayData], isDouble(right))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      computeCall(CosineSimilarity, a, isDouble(left), b, isDouble(right)))

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object CosineSimilarity {

  /** THE cosine loop — [[NearestCells]], [[NearestCellsTwoLevel]] and
    * the two-level model build score through it too: one double loop
    * in array order accumulating dot/na/nb over the common prefix,
    * `0.0` on a zero denominator. */
  def compute(a: ArrayData, aDouble: Boolean, b: ArrayData, bDouble: Boolean): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < n) {
      val x = elem(a, aDouble, i)
      val y = elem(b, bDouble, i)
      dot += x * y; na += x * x; nb += y * y; i += 1
    }
    val denom = math.sqrt(na) * math.sqrt(nb)
    if (denom == 0.0) 0.0 else dot / denom
  }
}

/** Native squared Euclidean distance — the k-means assignment kernel.
  * Same motivation and contract as [[CosineSimilarity]]: the HOF form
  * (`aggregate(zip_with(v, c, (x,y) => (x-y)²), 0.0, +)`) is
  * interpreted per element, and the joined k-means assignment
  * evaluates the distance on n·k candidate rows. Accumulation is a
  * left-to-right double fold in array order — bit-identical to the
  * HOF twin and to the oracle's `list_sum(list_transform(...))`, so
  * swapping the kernel cannot move a single assignment. */
case class SquaredDistance(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "squared_distance"

  // analysis-time rejection — same contract as CosineSimilarity
  override def checkInputDataTypes(): TypeCheckResult =
    VectorFunctions.checkFloatArrays(prettyName, left, right)

  override def nullSafeEval(l: Any, r: Any): Any =
    SquaredDistance.compute(l.asInstanceOf[ArrayData], isDouble(left),
      r.asInstanceOf[ArrayData], isDouble(right))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      computeCall(SquaredDistance, a, isDouble(left), b, isDouble(right)))

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object SquaredDistance {

  def compute(a: ArrayData, aDouble: Boolean, b: ArrayData, bDouble: Boolean): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var acc = 0.0; var i = 0
    while (i < n) {
      val d = elem(a, aDouble, i) - elem(b, bDouble, i)
      acc += d * d; i += 1
    }
    acc
  }
}

object VectorFunctions {
  import org.apache.spark.sql.graft.ColumnBridge

  /** Shared analysis-time input check for the vector kernels: both
    * sides must be float or double arrays (independently per side —
    * the SQ8 path scores double reconstructions against float
    * queries). */
  private[functions] def checkFloatArrays(fn: String, left: Expression,
                                          right: Expression): TypeCheckResult = {
    def ok(e: Expression) = e.dataType match {
      case ArrayType(DoubleType | FloatType, _) => true
      case _ => false
    }
    if (ok(left) && ok(right)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$fn expects array<float|double> arguments, got " +
      s"${left.dataType.catalogString} and ${right.dataType.catalogString}")
  }

  /** The analysis-time check of the one-vector kernels
    * ([[NearestCells]], [[PqRecon]] and their twins). */
  private[functions] def checkFloatVector(fn: String, child: Expression): TypeCheckResult =
    child.dataType match {
      case ArrayType(DoubleType | FloatType, _) => TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(
        s"$fn expects an array<float|double> vector, got ${t.catalogString}")
    }

  /** Column form of the native expression. */
  def cosine(a: Column, b: Column): Column =
    ColumnBridge.column(CosineSimilarity(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))

  /** Column form of the native squared-distance kernel. */
  def sqDist(a: Column, b: Column): Column =
    ColumnBridge.column(SquaredDistance(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))
}
