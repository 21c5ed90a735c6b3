package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, StringType, StructType}

/** Tokens surviving interval removal: element i (0-based) of the
  * token array is kept iff its 1-based position i+1 lies inside NO
  * [s, e] interval of the second argument — the rewrite step of
  * ExactSubstr span removal ([[graft.operators.Dedup.verbatimRewrite]]).
  *
  * Semantically identical to the higher-order composition
  * (`filter(toks, (t,i) -> !exists(ivs, iv -> i+1 between iv.s and
  * iv.e))`, the test-side twin `removeIntervalsViaHof`) and pinned
  * against it in KernelContractSpec, but that chain
  * interprets a lambda per token × a nested lambda per interval —
  * O(n·m) interpreted dispatch per doc, the residual hot path of
  * pipeline_chunked_pretrain (r14 verdict item 4). This kernel sorts
  * and merges the (few) intervals once, then sweeps the token array
  * with one pointer — O(n + m log m) inside whole-stage codegen.
  *
  * Output order and multiplicity are the input's (a positional
  * filter), so equality with the HOF twin is element-wise identity.
  * Interval fields are read positionally (s = field 0, e = field 1)
  * exactly as the struct is built at the call site.
  *
  * Nulls follow the twin's three-valued logic: `filter` drops a token
  * whose predicate is null as well as false, and `exists` is null
  * when no interval surely covers the position but one might. So a
  * null `s` reads as −∞, a null `e` as +∞, a null interval as
  * covering everything, and a null interval LIST drops every token;
  * a null token is kept (as null) like any other; only a null token
  * array yields null.
  */
case class RemoveIntervalsExpr(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = left.dataType
  override def prettyName: String = "remove_intervals"

  override def checkInputDataTypes(): TypeCheckResult = {
    val tokOk = left.dataType match {
      case ArrayType(StringType, _) => true
      case _ => false
    }
    val ivOk = right.dataType match {
      case ArrayType(st: StructType, _) =>
        st.fields.length == 2 &&
          st.fields(0).dataType == IntegerType &&
          st.fields(1).dataType == IntegerType
      case _ => false
    }
    if (tokOk && ivOk) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects (array<string>, array<struct<int,int>>), got " +
        s"${left.dataType.simpleString} and ${right.dataType.simpleString}")
  }

  override def nullable: Boolean = left.nullable

  override def eval(input: InternalRow): Any = {
    val toks = left.eval(input)
    if (toks == null) null
    else RemoveIntervals.compute(toks.asInstanceOf[ArrayData],
      right.eval(input).asInstanceOf[ArrayData])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val toks = left.genCode(ctx)
    val ivs = right.genCode(ctx)
    val call = computeCall(RemoveIntervals, toks.value, s"${ivs.isNull} ? null : ${ivs.value}")
    // only a null token array makes the result null; the interval side
    // is evaluated only under a non-null token array, and a null
    // interval list goes to the kernel
    ev.copy(code = code"${toks.code} boolean ${ev.isNull} = ${toks.isNull}; " +
      code"${CodeGenerator.javaType(dataType)} ${ev.value} = null; " +
      code"if (!${ev.isNull}) { ${ivs.code} ${ev.value} = $call; }")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object RemoveIntervals {

  /** Static kernel shared by interpreted eval and generated code.
    * Intervals are 1-based inclusive [s, e]; overlapping or adjacent
    * intervals merge (integer positions make [1,3]+[4,6] ≡ [1,6]),
    * then one forward sweep keeps every token whose position falls in
    * a gap. The sweep never goes backward because merged intervals
    * are strictly increasing and positions are scanned in order. A
    * null `ivs` (the whole list unknown) keeps no token; null bounds
    * and null intervals are unbounded (see the expression's doc). */
  def compute(toks: ArrayData, ivs: ArrayData): ArrayData = {
    val n = toks.numElements()
    if (ivs == null) return new GenericArrayData(Array.empty[AnyRef])
    val m = ivs.numElements()
    if (m == 0 || n == 0) return toks.copy()
    // extract + sort by start
    val ss = new Array[Int](m)
    val es = new Array[Int](m)
    val idx = new Array[Integer](m)
    var i = 0
    while (i < m) {
      val row = if (ivs.isNullAt(i)) null else ivs.getStruct(i, 2)
      ss(i) = if (row == null || row.isNullAt(0)) Int.MinValue else row.getInt(0)
      es(i) = if (row == null || row.isNullAt(1)) Int.MaxValue else row.getInt(1)
      idx(i) = i
      i += 1
    }
    java.util.Arrays.sort(idx, (a: Integer, b: Integer) =>
      Integer.compare(ss(a), ss(b)))
    // merge into disjoint increasing intervals
    val ms = new Array[Int](m)
    val me = new Array[Int](m)
    var k = -1
    i = 0
    while (i < m) {
      val s = ss(idx(i)); val e = es(idx(i))
      if (k >= 0 && s.toLong <= me(k).toLong + 1) { if (e > me(k)) me(k) = e }
      else { k += 1; ms(k) = s; me(k) = e }
      i += 1
    }
    val nMerged = k + 1
    // sweep: position p = i+1 kept iff p < ms(cur) for the first
    // merged interval with me >= p
    val out = new Array[Any](n)
    var kept = 0
    var cur = 0
    i = 0
    while (i < n) {
      val p = i + 1
      while (cur < nMerged && me(cur) < p) cur += 1
      val removed = cur < nMerged && p >= ms(cur)
      // clone: the view points into a reusable row buffer
      if (!removed) {
        out(kept) = if (toks.isNullAt(i)) null else toks.getUTF8String(i).clone()
        kept += 1
      }
      i += 1
    }
    if (kept == n) toks.copy()
    else new GenericArrayData(java.util.Arrays.copyOf(
      out.asInstanceOf[Array[AnyRef]], kept))
  }

  def removeIntervals(toks: Column, ivs: Column): Column = {
    import org.apache.spark.sql.graft.ColumnBridge
    ColumnBridge.column(RemoveIntervalsExpr(
      ColumnBridge.expression(toks), ColumnBridge.expression(ivs)))
  }
}
