package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Product-quantization encode+reconstruct, fused: the vector is cut
  * into `numSub` contiguous subspaces of `dSub` dims; each slice is
  * replaced by its nearest codeword (squared-L2, ties to the earlier
  * codeword — codewords are held in ascending codebook-id order) from
  * that subspace's codebook. The output is the concatenated nearest
  * codewords — exactly what an ADC (asymmetric-distance) scan scores
  * the corpus on while queries stay full precision.
  *
  * Why PQ next to SQ8 ([[graft.operators.Vectors.sq8ReconWith]]): SQ8
  * stores d bytes/vector (4x cut); PQ stores `numSub` CODES — at
  * dim 64, 8 subspaces x 16 codewords that is 8 half-byte codes = 4
  * bytes against 256 raw bytes, a 32-64x cut, the difference between
  * an index that fits executor memory at 10^10 vectors and one that
  * does not. The codebook is MODEL state like the coarse quantizer
  * (numSub * k * dSub doubles, driver-held, rides into tasks as a
  * codegen reference object); reconstruction is a per-row projection —
  * ZERO exchanges added to the search plan.
  *
  * This is the NON-RESIDUAL variant (codewords quantize the raw
  * vector, not the vector minus its coarse centroid) — composable
  * with any coarse assignment without coupling the two models; the
  * oracle unrolls the same algorithm.
  *
  * Subspace distances here are squared L2 (no sqrt); the oracle ranks
  * on DuckDB's `list_distance` (with sqrt) — identical ordering and
  * identical tie sets, since sqrt is monotone and exact-equal inputs
  * stay exact-equal.
  *
  * `codewords(m)(j)` is the j-th codeword's SLICE for subspace m,
  * length `dSub` (zero-padded by construction in the companion when
  * the source vector is short). Output length is numSub * dSub
  * regardless of input length; input slices shorter than dSub compare
  * on the overlapping prefix only.
  */
case class PqRecon(child: Expression, codewords: Array[Array[Array[Double]]],
                   dSub: Int) extends UnaryExpression {

  require(codewords.nonEmpty && codewords.forall(_.nonEmpty),
    "every subspace needs at least one codeword")
  require(dSub >= 1, s"dSub must be >= 1, got $dSub")

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def prettyName: String = "pq_recon"

  override def checkInputDataTypes(): TypeCheckResult =
    VectorFunctions.checkFloatVector(prettyName, child)

  override def nullSafeEval(input: Any): Any =
    PqRecon.compute(input.asInstanceOf[ArrayData], isDouble(child), codewords, dSub)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cb = ctx.addReferenceObj("pqCodewords", codewords, "double[][][]")
    defineCodeGen(ctx, ev, v => computeCall(PqRecon, v, isDouble(child), cb, dSub))
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Product-quantization ENCODE alone: the per-subspace argmin
  * codeword POSITIONS (0-based, in ascending-codebook-id order) as an
  * `array<int>` — what a persisted PQ index actually stores (4 bits
  * each at 16 codewords; int here, the storage layer packs). PqRecon
  * reconstructs from these very codes ([[PqCodes.codes]]); PqReconSpec
  * pins that
  * decoding these codes through the codebook reproduces PqRecon's
  * reconstruction exactly, which is what lets the indexed gates share
  * the recompute gates' oracles. */
case class PqCodes(child: Expression, codewords: Array[Array[Array[Double]]],
                   dSub: Int) extends UnaryExpression {

  require(codewords.nonEmpty && codewords.forall(_.nonEmpty),
    "every subspace needs at least one codeword")
  require(dSub >= 1, s"dSub must be >= 1, got $dSub")

  override def dataType: DataType =
    ArrayType(org.apache.spark.sql.types.IntegerType, containsNull = false)
  override def prettyName: String = "pq_codes"

  override def checkInputDataTypes(): TypeCheckResult =
    VectorFunctions.checkFloatVector(prettyName, child)

  override def nullSafeEval(input: Any): Any =
    PqCodes.compute(input.asInstanceOf[ArrayData], isDouble(child), codewords, dSub)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cb = ctx.addReferenceObj("pqCodewords", codewords, "double[][][]")
    defineCodeGen(ctx, ev, v => computeCall(PqCodes, v, isDouble(child), cb, dSub))
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object PqCodes {

  def compute(v: ArrayData, vDouble: Boolean,
              codewords: Array[Array[Array[Double]]], dSub: Int): ArrayData =
    new GenericArrayData(codes(v, vDouble, codewords, dSub))

  /** THE per-subspace argmin: for each subspace m, the position of the
    * codeword nearest (squared L2) to `v`'s slice [m·dSub, (m+1)·dSub),
    * compared on the slice's overlap with `v`; strict `<` keeps the
    * earlier (lower-id) codeword on ties. */
  private[functions] def codes(v: ArrayData, vDouble: Boolean,
                               codewords: Array[Array[Array[Double]]],
                               dSub: Int): Array[Int] = {
    val nv = v.numElements()
    val out = new Array[Int](codewords.length)
    var m = 0
    while (m < codewords.length) {
      val base = m * dSub
      val n = math.min(dSub, math.max(0, nv - base))
      val cb = codewords(m)
      var bestD = Double.MaxValue
      var j = 0
      while (j < cb.length) {
        val cw = cb(j)
        var d = 0.0
        var i = 0
        while (i < n) {
          val x = elem(v, vDouble, base + i) - cw(i)
          d += x * x
          i += 1
        }
        if (d < bestD) { bestD = d; out(m) = j }
        j += 1
      }
      m += 1
    }
    out
  }
}

object PqRecon {
  import org.apache.spark.sql.graft.ColumnBridge

  /** The nearest codewords of [[PqCodes]], concatenated. */
  def compute(v: ArrayData, vDouble: Boolean,
              codewords: Array[Array[Array[Double]]], dSub: Int): ArrayData = {
    val codes = PqCodes.codes(v, vDouble, codewords, dSub)
    val out = new Array[Double](codes.length * dSub)
    var m = 0
    while (m < codes.length) {
      System.arraycopy(codewords(m)(codes(m)), 0, out, m * dSub, dSub)
      m += 1
    }
    new GenericArrayData(out)
  }

  /** Column form over a driver-collected codebook: `(id, vector)`
    * pairs (any order; sorted ascending by id here — the tie-break
    * precondition). `numSub` must divide the codebook vectors' length
    * evenly — subspace boundaries are a MODEL property, not a
    * data-row property, so an uneven cut is a configuration error,
    * refused at plan build. */
  def pqRecon(vec: Column, codebook: Seq[(Long, Array[Double])],
              numSub: Int): Column = {
    val (sliced, dSub) = slicedCodebook(codebook, numSub)
    ColumnBridge.column(PqRecon(ColumnBridge.expression(vec), sliced, dSub))
  }

  /** Encode only — the `array<int>` codeword positions a persisted
    * index stores ([[PqCodes]]). */
  def pqCodes(vec: Column, codebook: Seq[(Long, Array[Double])],
              numSub: Int): Column = {
    val (sliced, dSub) = slicedCodebook(codebook, numSub)
    ColumnBridge.column(PqCodes(ColumnBridge.expression(vec), sliced, dSub))
  }

  /** Decode stored codes back to the reconstruction — NO custom
    * expression: the codebook rides in as a nested array literal and
    * the lookup is a builtin codegen'd flatten∘transform∘element_at
    * (1-based), so `pqDecode(pqCodes(v)) ≡ pqRecon(v)` element for
    * element (same double objects looked up; PqReconSpec pins it). */
  def pqDecode(codes: Column, codebook: Seq[(Long, Array[Double])],
               numSub: Int): Column = {
    import org.apache.spark.sql.functions._
    val (sliced, _) = slicedCodebook(codebook, numSub)
    val cbLit = typedLit(sliced.map(_.map(_.toSeq).toSeq).toSeq)
    flatten(zip_with(codes, typedLit(List.range(0, numSub)),
      (c, m) => element_at(element_at(cbLit, m + 1), c + 1)))
  }

  private def slicedCodebook(codebook: Seq[(Long, Array[Double])],
                             numSub: Int): (Array[Array[Array[Double]]], Int) = {
    require(codebook.nonEmpty, "pq needs a non-empty codebook")
    val sorted = codebook.sortBy(_._1)
    val dim = sorted.head._2.length
    require(dim % numSub == 0,
      s"codebook dim $dim is not divisible into $numSub subspaces")
    val dSub = dim / numSub
    val sliced: Array[Array[Array[Double]]] =
      Array.tabulate(numSub) { m =>
        sorted.map { case (_, cw) =>
          java.util.Arrays.copyOfRange(cw, m * dSub, (m + 1) * dSub)
        }.toArray
      }
    (sliced, dSub)
  }
}
