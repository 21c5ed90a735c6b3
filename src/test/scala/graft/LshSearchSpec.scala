package graft

import org.apache.spark.sql.functions._
import graft.operators.Similarity

/** SRP-LSH search (sim_lsh_cosine / sim_lsh_cosine_scaled): the
  * oracle gates pin the plane/band/probe algebra; this spec pins the
  * behavioral contracts the gates can't — the bits regime rule, the
  * multi-probe recall buy (the fixture's near-orthogonal vectors are
  * SRP-LSH's adversarial case: exact probing recalls ~0.08, Hamming-2
  * probing ~0.84 — the round-11 table is in
  * `git show ab6c630:SCALING.md`), the identical-vector all-band
  * collision folding to ONE candidate, and the map-only corpus side
  * of the plan.
  */
class LshSearchSpec extends SparkSpec {

  import spark.implicits._

  private lazy val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    .select("vec_id", "embedding")

  private lazy val bruteTop5: Set[(Long, Long)] =
    Similarity.qSimBruteForce(spark, sf)
      .select("q_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  private def recallOf(result: org.apache.spark.sql.DataFrame): Double = {
    val got = result.select("q_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    (bruteTop5 & got).size.toDouble / bruteTop5.size
  }

  test("bits-per-band regime rule steps 8 / 16 / 24 on integer thresholds") {
    assert(Similarity.lshBitsForN(1L) == 8)
    assert(Similarity.lshBitsForN((1L << 16) - 1) == 8)
    assert(Similarity.lshBitsForN(1L << 16) == 16)
    assert(Similarity.lshBitsForN((1L << 28) - 1) == 16)
    assert(Similarity.lshBitsForN(1L << 28) == 24)
    assert(Similarity.lshBitsForN(10_000_000_000L) == 24)
  }

  test("pair-generation bits keep the expected band bucket at most 4 rows") {
    assert(Similarity.lshPairBitsForN(500L) == 8)
    assert(Similarity.lshPairBitsForN(1024L) == 8)
    assert(Similarity.lshPairBitsForN(1025L) == 9)
    assert(Similarity.lshPairBitsForN(20800L) == 13)
    assert(Similarity.lshPairBitsForN(81600L) == 15)
    assert(Similarity.lshPairBitsForN(10_000_000_000L) == 24)
    // the bucket contract itself: n / 2^bits <= 4 wherever the rule
    // hasn't hit its 24-bit ceiling
    for (n <- Seq(1000L, 50_000L, 3_000_000L, 60_000_000L)) {
      val b = Similarity.lshPairBitsForN(n)
      assert(n.toDouble / (1L << b) <= 4.0, s"n=$n bits=$b")
    }
  }

  test("similarity-aware search bits: recall model matches the measured regimes") {
    // the r11 [lsh] measurements: at the fixture's ~0.5-cosine top-k
    // with Hamming-2 probing, 8 bits recalled 94 % and 16 bits
    // collapsed to 14 % — the model must land on the right side of
    // the 0.9 floor for both
    val at8 = Similarity.lshSearchRecallEstimate(8, 2, 0.5)
    val at16 = Similarity.lshSearchRecallEstimate(16, 2, 0.5)
    info(f"estimated recall: 8 bits $at8%.2f, 16 bits $at16%.2f")
    assert(at8 >= 0.9, f"8-bit estimate $at8%.2f should clear the floor")
    assert(at16 < 0.5, f"16-bit estimate $at16%.2f should show the collapse")
    // monotone in bits (finer bands never gain recall) and in sim
    assert(at8 > at16)
    assert(Similarity.lshSearchRecallEstimate(16, 2, 0.95) >
           Similarity.lshSearchRecallEstimate(16, 2, 0.5))
  }

  test("similarity-aware search bits: the recall cap overrides the size rule at 40x") {
    // fixture regime: both rules floor at 8 — the gate plan unchanged
    assert(Similarity.lshSearchBitsFor(2000L) == 8)
    // the measured 40x collapse regime: size rule says 16, the
    // target-similarity cap holds the dial at 8 (recall-bearing)
    assert(Similarity.lshBitsForN(80000L) == 16)
    assert(Similarity.lshSearchBitsFor(80000L) == 8)
    // and the guard names the fuller buckets
    val g = Similarity.lshSearchGuard(80000L)
    assert(g.exists(_.contains("caps bands at 8 bits")), g.toString)
    // tight-similarity callers keep the fine bands the size rule wants
    assert(Similarity.lshSearchBitsFor(80000L, targetSim = 0.95) == 16)
    assert(Similarity.lshSearchGuard(80000L, targetSim = 0.95).isEmpty)
    // clean dials at fixture scale -> no guard
    assert(Similarity.lshSearchGuard(2000L).isEmpty)
  }

  test("Hamming-2 multi-probe buys the documented recall on the worst-case fixture") {
    val exact = recallOf(Similarity.lshSearch(emb, bits = 8, flips = 0))
    val probed = recallOf(Similarity.lshSearch(emb, bits = 8, flips = 2))
    info(f"recall@5 exact=$exact%.2f multiprobe=$probed%.2f")
    assert(probed > exact, "multi-probe must not lose candidates")
    assert(probed >= 0.70, f"multi-probe recall $probed%.2f fell below 0.70")
  }

  test("a pair colliding in every band is one candidate row, ranked by exact cosine") {
    // two identical vectors share all 4 band values; the duplicate
    // candidate rows must fold to a single (q_id, vec_id) result
    val v = Array.tabulate(64)(i => 0.1f * ((i % 7) + 1))
    val other = Array.tabulate(64)(i => if (i % 2 == 0) 1.0f else -0.5f)
    val tiny = Seq(
      (0L, v), (100L, v), (101L, other)
    ).toDF("vec_id", "embedding")
    val out = Similarity.lshSearch(tiny, bits = 8, flips = 0)
      .where($"q_id" === 0L && $"neighbor_id" === 100L).collect()
    assert(out.length == 1, s"expected one folded candidate row, got ${out.length}")
    assert(out.head.getAs[Double]("sim") == 1.0)
    assert(out.head.getAs[Long]("rank") == 1L)
  }

  test("near-dup pairs are a verified subset of the exact all-pairs truth, and a tight copy is found") {
    // plant one tight near-copy (cosine ~0.98) — LSH's true regime
    val base = emb.limit(100)
    val planted = base.where($"vec_id" === 7L)
      .select(lit(900L).as("vec_id"),
        zip_with($"embedding",
          concat(slice($"embedding", 2, 63), slice($"embedding", 1, 1)),
          (a, b) => a + lit(0.2f) * b).cast("array<float>").as("embedding"))
    val corpus = base.unionByName(planted)
    val lshPairs = Similarity.lshNearDupPairs(corpus, bits = 8, flips = 1)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exactPairs = Similarity.allPairsNearDup(corpus)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lshPairs.subsetOf(exactPairs),
      s"banding generated pairs the exact verify rejects: ${lshPairs -- exactPairs}")
    assert(lshPairs.contains((7L, 900L)), "the planted tight copy must be recalled")
  }

  test("corpus side is map-only: no exchange before the broadcast candidate join") {
    val plan = Similarity.lshSearch(emb, bits = 8, flips = 2)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
    // the only hash exchanges are on candidate rows (pair fold + the
    // top-k window), never on the banded corpus before the join
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(exchanges <= 2, s"expected <=2 hash exchanges, got $exchanges:\n$plan")
  }
}
