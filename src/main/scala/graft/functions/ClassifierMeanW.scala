package graft.functions

import java.security.MessageDigest
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, StringType}

/** Mean hashed-token weight of a token array — the linear layer of
  * the hashing-trick quality classifier
  * ([[graft.operators.TextAnalysis.classifierProb]]), as one static
  * kernel instead of an interpreted `aggregate(transform(...))` HOF
  * chain (measured 2.4 s per corpus pass at sf0.1 — the whole gate
  * stage of pipeline_pretrain_model).
  *
  * Bit-identical to the builtin composition, which stays in the
  * oracles: per token, v = first 6 md5 hex digits as an integer
  * (== the digest's first 3 bytes big-endian);
  *   - stand-in weights (weights = null):   (v % 2001 − 1000) / 1000.0
  *   - exported table  (weights = w):        w[v mod w.length]
  * summed LEFT TO RIGHT (the fold order — double addition is not
  * associative, and the oracle folds in array order too), divided by
  * the token count. Empty array → 0.0/0 = NaN, exactly the builtin
  * division's value, so `prob >= 0.5` filters it out identically.
  *
  * The weights table rides into generated code via
  * `ctx.addReferenceObj` — the standard Catalyst mechanism, so the
  * array ships with the serialized plan and the kernel sees the same
  * table on any executor (a static registry keyed from the driver
  * would silently lose the table on a real cluster). */
case class ClassifierMeanW(child: Expression, weights: Array[Double])
    extends UnaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "classifier_mean_w"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects array<string>, got ${t.simpleString}")
  }

  // Array equality is reference-based by default; two gates carrying
  // different exports must not compare equal (CSE would merge them),
  // and equal tables should (so the optimizer can dedup the work).
  override def equals(o: Any): Boolean = o match {
    case ClassifierMeanW(c, w) => c == child &&
      java.util.Arrays.equals(w, weights)
    case _ => false
  }
  override def hashCode(): Int =
    31 * child.hashCode() +
      (if (weights == null) 0 else java.util.Arrays.hashCode(weights))

  override def nullSafeEval(input: Any): Any =
    ClassifierMeanWKernel.compute(input.asInstanceOf[ArrayData], weights)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val wTerm =
      if (weights == null) "((double[]) null)"
      else ctx.addReferenceObj("classifierWeights", weights, "double[]")
    defineCodeGen(ctx, ev, c => computeCall(ClassifierMeanWKernel, c, wTerm))
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object ClassifierMeanWKernel {

  private val localMd5: ThreadLocal[MessageDigest] =
    ThreadLocal.withInitial(() => MessageDigest.getInstance("MD5"))

  /** Static kernel shared by interpreted eval and generated code.
    * `w == null` selects the deterministic stand-in weight function. */
  def compute(toks: ArrayData, w: Array[Double]): Double = {
    val md = localMd5.get()
    val n = toks.numElements()
    var sum = 0.0
    var i = 0
    while (i < n) {
      if (!toks.isNullAt(i)) {
        md.reset()
        val d = md.digest(toks.getUTF8String(i).getBytes)
        val v = ((d(0) & 0xff) << 16) | ((d(1) & 0xff) << 8) | (d(2) & 0xff)
        sum += (if (w == null) (v % 2001 - 1000) / 1000.0
                else w(v % w.length))
      }
      i += 1
    }
    sum / n // n == 0 -> NaN, matching the builtin 0.0/0 division
  }

  /** weights = None → the stand-in hash weights. */
  def classifierMeanW(toks: Column, weights: Option[Array[Double]]): Column = {
    import org.apache.spark.sql.graft.ColumnBridge
    ColumnBridge.column(
      ClassifierMeanW(ColumnBridge.expression(toks), weights.orNull))
  }
}
