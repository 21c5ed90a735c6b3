package graft

import graft.functions.NearestCells
import org.apache.spark.sql.functions.col

/** The two-level coarse-quantizer contract (NearestCellsTwoLevel):
  * its algebra pinned against a plain-Scala reference (tie rules
  * included), its limit behavior pinned against the flat expression
  * (probing EVERY super must reproduce the flat argmax bit for bit —
  * a theorem, not data luck); codegen/interpreted parity is a row of
  * [[KernelContractSpec]]. The
  * two-level path is an approximation by construction (a row whose
  * true nearest cell hides in an unprobed super gets its second-best)
  * and with the untrained first-k quantizer it deviates materially on
  * the fixtures (measured 97/500 at c=23, pSuper=3) — which is why it
  * ships as its own gated query (sim_ivf_2level_scaled, oracle
  * unrolling the two-level algorithm itself) instead of dispatching
  * under the flat gates' hashes.
  */
class NearestCellsSpec extends SparkSpec {
  import spark.implicits._

  private def cosD(a: Array[Double], b: Array[Double]): Double = {
    val n = math.min(a.length, b.length)
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < n) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
    val denom = math.sqrt(na) * math.sqrt(nb)
    if (denom == 0.0) 0.0 else dot / denom
  }

  /** Plain-Scala reference of the two-level semantics: first ⌈√c⌉
    * centroids are supers, each centroid joins its nearest super
    * (ties → lower super index), a vector probes its pSuper nearest
    * supers (ties → lower index) and ranks ONLY their members
    * (desc sim, asc id). */
  private def twoLevelRef(v: Array[Float], cents: Seq[(Long, Array[Double])],
                          keep: Int, pSuper: Int): Seq[Long] = {
    val sorted = cents.sortBy(_._1).toIndexedSeq
    val vd = v.map(_.toDouble)
    val nSuper = math.ceil(math.sqrt(sorted.size.toDouble)).toInt
    val supers = sorted.take(nSuper).map(_._2)
    val memberOf = sorted.map { case (_, c) =>
      supers.zipWithIndex
        .map { case (s, si) => (cosD(c, s), si) }
        .minBy { case (sim, si) => (-sim, si) }._2
    }
    val probed = supers.zipWithIndex
      .map { case (s, si) => (cosD(vd, s), si) }
      .sortBy { case (sim, si) => (-sim, si) }
      .take(pSuper).map(_._2).toSet
    sorted.zip(memberOf)
      .collect { case ((id, c), m) if probed(m) => (cosD(vd, c), id) }
      .sortBy { case (sim, id) => (-sim, id) }
      .take(keep).map(_._2)
  }

  test("two-level matches its reference on random vectors, ties to the lower id") {
    val rnd = new scala.util.Random(29)
    def fvec() = Array.fill(8)(rnd.nextFloat() - 0.5f)
    val cents: Seq[(Long, Array[Double])] =
      Seq.tabulate(30)(j => (j.toLong, fvec().map(_.toDouble)))
    // exact-tie coverage: centroids 7 and 21 identical — on a sim tie
    // the lower id (7) must win whenever both are candidates
    val tied = cents.map { case (id, c) =>
      if (id == 21L) (id, cents(7)._2) else (id, c) }
    val rows = Seq.fill(50)(fvec())
    for (keep <- Seq(1, 2, 3); pSuper <- Seq(1, 2, 3, 6)) {
      val got = rows.toDF("v")
        .select(NearestCells.nearestCellsTwoLevel($"v", tied, keep, pSuper).as("b"))
        .as[Seq[Long]].collect()
      val want = rows.map(twoLevelRef(_, tied, keep, pSuper))
      assert(got.toSeq == want.toSeq, s"keep=$keep pSuper=$pSuper")
    }
  }

  test("probing every super reproduces the flat argmax exactly (limit theorem, real fixtures)") {
    for (dir <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")) {
      val emb = spark.read.parquet(s"$dir/embeddings.parquet")
      val n = emb.count()
      val c = math.max(8, math.ceil(math.sqrt(n.toDouble)).toInt)
      val nSuper = math.ceil(math.sqrt(c.toDouble)).toInt
      val cents = emb.where(col("vec_id") < c)
        .select(col("vec_id"), col("embedding").cast("array<double>"))
        .collect()
        .map(r => (r.getLong(0), r.getSeq[Double](1).toArray)).toSeq
      for (keep <- Seq(1, 2)) { // corpus assignment / query probing
        val both = emb.select(col("vec_id"),
            NearestCells.nearestCellsTwoLevel(col("embedding"), cents, keep,
              pSuper = nSuper).as("twolevel"),
            NearestCells.nearestCellsFlat(col("embedding"), cents, keep).as("flat"))
          .where(col("twolevel") =!= col("flat"))
        assert(both.count() == 0,
          s"$dir c=$c keep=$keep: all-supers two-level must equal flat, got " +
            both.limit(5).collect().mkString(", "))
      }
    }
  }

  test("the shipped dial deviates from flat on the fixtures — the reason two-level is its own gate") {
    // Documents the measured fact the design rests on: with the
    // untrained first-k quantizer, partial super probing CHANGES cell
    // assignments (if a fixture regeneration ever makes these equal,
    // this fails and the dispatch decision deserves revisiting).
    val dir = "/root/testdata/sf0.001"
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val n = emb.count()
    val c = math.max(8, math.ceil(math.sqrt(n.toDouble)).toInt)
    val cents = emb.where(col("vec_id") < c)
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray)).toSeq
    val deviating = emb.select(
        NearestCells.nearestCellsTwoLevel(col("embedding"), cents, 1,
          NearestCells.pSuperFor(cents.size)).as("twolevel"),
        NearestCells.nearestCellsFlat(col("embedding"), cents, 1).as("flat"))
      .where(col("twolevel") =!= col("flat")).count()
    assert(deviating > 0,
      "two-level now matches flat on the fixtures — it could be dispatched " +
        "under the flat gates instead of shipping as a separate gate")
  }

  test("two-level search keeps end-to-end recall despite cell-level disagreement") {
    // ~40 % of fixture vectors land in a different (second-best) cell
    // than the flat argmax picks, but corpus and queries shift
    // coherently, so top-5 SEARCH recall holds (measured 90–100 % at
    // 1×/10× — round-11 twolevel table, `git show ab6c630:SCALING.md`).
    // Floor it on the sf0.001 fixtures against brute force.
    val dir = "/root/testdata/sf0.001"
    val truth = graft.SparkEntry.queries("sim_brute_force")(spark, dir)
      .select("q_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = graft.SparkEntry.queries("sim_ivf_2level_scaled")(spark, dir)
      .select("q_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = got.count(truth).toDouble / truth.size
    assert(recall >= 0.8, f"two-level search recall@5 $recall%.2f fell below 0.80")
  }
}
