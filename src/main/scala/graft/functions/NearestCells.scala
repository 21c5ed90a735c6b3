package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Map-only coarse-quantizer assignment: the `keep` nearest centroids
  * of a vector, by cosine similarity against a driver-held centroid
  * MATRIX — ties broken to the lower centroid id, exactly the
  * `Window.partitionBy(vec_id).orderBy(desc(c_sim), c_id)` contract of
  * the crossJoin+window formulation this replaces.
  *
  * Why an expression and not a join: the quantizer is MODEL state
  * (√n centroids × dim doubles — ~50 MB at 10¹⁰ vectors), while the
  * corpus is data. Scoring the corpus against it as a crossJoin +
  * per-vec_id window shuffles n·c scored rows before any candidate
  * generation starts; carried in the projection it is a per-row
  * argmax — ZERO exchanges between the corpus scan and the bucket id,
  * so the bucket equi-join becomes the only corpus-wide shuffle of
  * every IVF path. The matrix rides into tasks as a codegen reference
  * object (one broadcast of the task binary per stage — the same
  * transport a broadcast-hash join would use for the same bytes).
  *
  * Per-pair arithmetic is [[CosineSimilarity.compute]] itself, with
  * the centroids held as double array data. Identical bits in →
  * identical ranks out, which is what lets the ten sim and
  * embedding-dedup oracle gates stay hash-green across the plan
  * change.
  *
  * Output: `array<long>` of centroid ids, best first, length
  * `min(keep, numCentroids)`. Centroid ids must be strictly ascending
  * (the companion sorts); insertion uses strict `>`, so equal
  * similarities keep the earlier = lower id.
  */
case class NearestCells(child: Expression, cIds: Array[Long],
                        cVecs: Array[Array[Double]], keep: Int)
    extends UnaryExpression {

  require(cIds.length == cVecs.length && cIds.nonEmpty,
    s"centroid ids (${cIds.length}) and vectors (${cVecs.length}) must align")
  require(keep >= 1, s"keep must be >= 1, got $keep")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "nearest_cells"

  override def checkInputDataTypes(): TypeCheckResult =
    VectorFunctions.checkFloatVector(prettyName, child)

  @transient private lazy val cells = NearestCells.asArrayData(cVecs)

  override def nullSafeEval(input: Any): Any =
    NearestCells.compute(input.asInstanceOf[ArrayData], isDouble(child), cIds, cells, keep)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ids = ctx.addReferenceObj("cellIds", cIds, "long[]")
    val vecs = ctx.addReferenceObj("cellVecs", cells, NearestCells.ArrayDataArray)
    defineCodeGen(ctx, ev, v =>
      computeCall(NearestCells, v, isDouble(child), ids, vecs, keep))
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Two-level coarse-quantizer assignment — the hierarchical twin of
  * [[NearestCells]] for LARGE quantizers. A flat argmax is
  * O(c·dim)/row; with c = √n cells that is O(√n·dim)/row — fine at
  * thousands of cells, a per-row scan of ~10⁵ centroids at a 10¹⁰
  * corpus. Here the c centroids are grouped under ⌈√c⌉ SUPER-cells
  * (the first ⌈√c⌉ centroids, each centroid assigned to its nearest —
  * the same deterministic "first vectors are the model" convention the
  * quantizer itself uses); a row scores the ⌈√c⌉ super-centroids,
  * keeps its `pSuper` nearest, and scores ONLY their member cells:
  * ~(√c + pSuper·√c)·dim ≈ O(n^¼·dim)/row instead of O(√n·dim).
  *
  * `pSuper` is the exactness dial (the assignment-level analogue of
  * the search-level nprobe): a row whose true nearest cell sits in an
  * unprobed super-cell gets its second-best cell instead.
  * NearestCellsSpec pins EXACT row-for-row equality with the flat
  * expression on every fixture scale plus replicated corpora at the
  * shipped `pSuperFor` setting — the oracle gates then re-prove it
  * end-to-end (same cells ⇒ same candidate sets ⇒ same rows).
  *
  * Member lists are visited in globally ascending centroid-id order
  * (a pSuper-way merge on the per-super ascending lists), so the
  * strict-`>` insertion keeps the lower id on similarity ties —
  * bit-identical tie semantics to the flat scan, independent of which
  * supers were probed. Per-pair arithmetic is
  * [[CosineSimilarity.compute]], as in [[NearestCells]].
  */
case class NearestCellsTwoLevel(child: Expression,
                                superVecs: Array[Array[Double]],
                                memberIds: Array[Array[Long]],
                                memberVecs: Array[Array[Array[Double]]],
                                pSuper: Int, keep: Int)
    extends UnaryExpression {

  require(superVecs.nonEmpty && superVecs.length == memberIds.length &&
    memberIds.length == memberVecs.length,
    s"super-cells (${superVecs.length}) and member lists must align")
  require(pSuper >= 1 && keep >= 1, s"pSuper/keep must be >= 1")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "nearest_cells_2level"

  override def checkInputDataTypes(): TypeCheckResult =
    VectorFunctions.checkFloatVector(prettyName, child)

  @transient private lazy val supers = NearestCells.asArrayData(superVecs)
  @transient private lazy val members = memberVecs.map(NearestCells.asArrayData)

  override def nullSafeEval(input: Any): Any =
    NearestCellsTwoLevel.compute(input.asInstanceOf[ArrayData], isDouble(child),
      supers, memberIds, members, pSuper, keep)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val sRef = ctx.addReferenceObj("superVecs", supers, NearestCells.ArrayDataArray)
    val idsRef = ctx.addReferenceObj("memberIds", memberIds, "long[][]")
    val vecsRef = ctx.addReferenceObj("memberVecs", members,
      NearestCells.ArrayDataArray + "[]")
    defineCodeGen(ctx, ev, v => computeCall(NearestCellsTwoLevel, v,
      isDouble(child), sRef, idsRef, vecsRef, pSuper, keep))
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object NearestCellsTwoLevel {

  /** Level 1 keeps the `pSuper` nearest super-cells (ties to the lower
    * index); level 2 merges the probed supers' ascending member lists
    * and scores their cells in globally ascending id order. */
  def compute(v: ArrayData, vDouble: Boolean, supers: Array[ArrayData],
              memberIds: Array[Array[Long]], memberVecs: Array[Array[ArrayData]],
              pSuper: Int, keep: Int): ArrayData = {
    val probe = new TopK(pSuper)
    var s = 0
    while (s < supers.length) {
      probe.offer(CosineSimilarity.compute(v, vDouble, supers(s), true), s)
      s += 1
    }
    val mS = probe.size
    val top = new TopK(keep)
    val ptr = new Array[Int](mS)
    var remaining = 0
    var t = 0
    while (t < mS) { remaining += memberIds(probe.ids(t).toInt).length; t += 1 }
    while (remaining > 0) {
      var best = -1
      var bestId = Long.MaxValue
      t = 0
      while (t < mS) {
        val ids = memberIds(probe.ids(t).toInt)
        if (ptr(t) < ids.length && ids(ptr(t)) < bestId) { bestId = ids(ptr(t)); best = t }
        t += 1
      }
      val cell = memberVecs(probe.ids(best).toInt)(ptr(best))
      top.offer(CosineSimilarity.compute(v, vDouble, cell, true), bestId)
      ptr(best) += 1; remaining -= 1
    }
    top.result
  }
}

/** The `k` best (similarity, id) offers, best first. Sorted-desc
  * insertion with strict `>`: of equal similarities the earlier offer
  * stays ahead, so offering in ascending id order breaks ties to the
  * lower id. */
private[functions] final class TopK(k: Int) {
  private val sims = new Array[Double](k)
  val ids = new Array[Long](k)
  var size = 0

  def offer(sim: Double, id: Long): Unit = {
    var pos = size
    while (pos > 0 && sim > sims(pos - 1)) pos -= 1
    if (pos < k) {
      var t = math.min(size, k - 1)
      while (t > pos) { sims(t) = sims(t - 1); ids(t) = ids(t - 1); t -= 1 }
      sims(pos) = sim; ids(pos) = id
      if (size < k) size += 1
    }
  }

  def result: ArrayData = new GenericArrayData(java.util.Arrays.copyOf(ids, size))
}

object NearestCells {
  import org.apache.spark.sql.graft.ColumnBridge

  /** The `keep` nearest of the centroids `vecs` (ids ascending). */
  def compute(v: ArrayData, vDouble: Boolean, ids: Array[Long],
              vecs: Array[ArrayData], keep: Int): ArrayData = {
    val top = new TopK(keep)
    var j = 0
    while (j < vecs.length) {
      top.offer(CosineSimilarity.compute(v, vDouble, vecs(j), true), ids(j))
      j += 1
    }
    top.result
  }

  /** Centroids as double-array data, the form the cosine loop reads. */
  private[functions] def asArrayData(vecs: Array[Array[Double]]): Array[ArrayData] =
    vecs.map(UnsafeArrayData.fromPrimitiveArray(_): ArrayData)

  private[functions] val ArrayDataArray = classOf[ArrayData].getName + "[]"

  /** Probed super-cells for the two-level variant: max(2, ⌈c^¼⌉) —
    * grows as the fourth root, so the probed fraction of the space
    * keeps SHRINKING (at c = 10⁵ cells: 18 of 317 supers ≈ 6 % of
    * centroids scored per row) while the absolute probe count rises.
    * NOTE the two-level assignment is an approximation of the flat
    * argmax, and with the deterministic first-k "quantizer" (arbitrary
    * corpus vectors — untrained, so members are DIFFUSE around their
    * super) it deviates materially: measured 97/500 changed cells at
    * c=23, pSuper=3 on the sf0.001 fixtures. That is why the flat and
    * two-level paths are SEPARATE gated queries with separate oracles
    * (each oracle unrolls its own algorithm), not one silently
    * dispatched path — a dispatch would have flipped every existing
    * IVF gate's hashes. */
  def pSuperFor(numCells: Int): Int =
    math.max(2, math.ceil(math.pow(numCells.toDouble, 0.25)).toInt)

  /** Column form over a driver-collected quantizer: `(id, vector)`
    * pairs in any order (sorted here — ascending ids are the tie-break
    * precondition). An EMPTY quantizer (empty corpus slice,
    * numCentroids = 0) yields an empty-array literal — callers that
    * explode it get zero rows, the same semantics the old
    * crossJoin+window formulation had, instead of a plan-build
    * failure. Always the flat exact scan — the two-level
    * approximation is opted into per query ([[nearestCellsTwoLevel]]),
    * never silently. */
  def nearestCells(vec: Column, cents: Seq[(Long, Array[Double])],
                   keep: Int): Column =
    if (cents.isEmpty)
      org.apache.spark.sql.functions.lit(Array.empty[Long])
    else nearestCellsFlat(vec, cents, keep)

  /** The flat O(cells·dim)/row scan, callable directly (specs compare
    * the two paths row for row). */
  def nearestCellsFlat(vec: Column, cents: Seq[(Long, Array[Double])],
                       keep: Int): Column = {
    val sorted = cents.sortBy(_._1)
    ColumnBridge.column(NearestCells(ColumnBridge.expression(vec),
      sorted.map(_._1).toArray, sorted.map(_._2).toArray, keep))
  }

  /** The hierarchical path at an explicit `pSuper` (specs sweep it). */
  def nearestCellsTwoLevel(vec: Column, cents: Seq[(Long, Array[Double])],
                           keep: Int, pSuper: Int): Column = {
    val (superVecs, memberIds, memberVecs) = twoLevelModel(cents)
    ColumnBridge.column(NearestCellsTwoLevel(ColumnBridge.expression(vec),
      superVecs, memberIds, memberVecs, pSuper, keep))
  }

  /** Driver-side super-cell construction: the first ⌈√c⌉ centroids
    * (by id) are the super-centroids; every centroid joins its
    * nearest super-centroid (cosine, ties to the lower super index —
    * the same arithmetic and tie rule as the expressions). Member
    * lists keep ascending id order, the merge precondition. Cost:
    * c·√c·dim driver flops — at c = 10⁵ and dim 64 ≈ 2·10⁹ flops
    * once per quantizer, driver-side model prep of the same order as
    * collecting the centroids themselves. */
  private[graft] def twoLevelModel(cents: Seq[(Long, Array[Double])])
      : (Array[Array[Double]], Array[Array[Long]], Array[Array[Array[Double]]]) = {
    val sorted = cents.sortBy(_._1).toArray
    val c = sorted.length
    val nSuper = math.ceil(math.sqrt(c.toDouble)).toInt
    val supers = sorted.take(nSuper).map(_._2)
    val vecs = asArrayData(sorted.map(_._2))
    val members = Array.fill(nSuper)(Vector.newBuilder[Int])
    var j = 0
    while (j < c) {
      var bestS = 0; var bestSim = Double.NegativeInfinity
      var s = 0
      while (s < nSuper) {
        val sim = CosineSimilarity.compute(vecs(j), true, vecs(s), true)
        if (sim > bestSim) { bestSim = sim; bestS = s }
        s += 1
      }
      members(bestS) += j
      j += 1
    }
    val memberIdx = members.map(_.result())
    val memberIds = memberIdx.map(_.map(i => sorted(i)._1).toArray)
    val memberVecs = memberIdx.map(_.map(i => sorted(i)._2).toArray)
    (supers, memberIds, memberVecs)
  }
}
