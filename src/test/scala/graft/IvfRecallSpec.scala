package graft

import graft.operators.Similarity
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** Recall of the √n-cell IVF paths against exact ground truth — the
  * figures README and COVERAGE.md quote for the recall dials. The
  * oracle gates pin each path's algebra; these bounds pin that the
  * pruning still finds what the exact scan finds. The fixture has 500
  * vectors, so √n gives 23 cells.
  *  - blocked near-dup pairs vs exact all-pairs, on the borderline
  *    background (true pairs sit at cosine 0.45–0.6);
  *  - planted tight copies (every 50th vector + one copy at cosine
  *    ≈0.96, [[graft.tools.ClusterQuality.plantedCorpus]]), the regime
  *    real dedup corpora live in;
  *  - top-5 search recall vs brute force, flat float and PQ.
  */
class IvfRecallSpec extends SparkSpec {

  private lazy val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    .select("vec_id", "embedding")

  private def cellsFor(df: DataFrame): Int =
    math.max(8, math.ceil(math.sqrt(df.count().toDouble)).toInt)

  private def pairs(df: DataFrame, a: String, b: String): Set[(Long, Long)] =
    df.select(a, b).collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  private lazy val searchTruth =
    pairs(SparkEntry.queries("sim_brute_force")(spark, sf), "q_id", "neighbor_id")

  private def searchRecall(result: DataFrame): Double =
    pairs(result, "q_id", "neighbor_id").count(searchTruth).toDouble / searchTruth.size

  test("blocked near-dup: recall vs exact all-pairs climbs with nprobe") {
    val exact = pairs(Similarity.allPairsNearDup(emb), "id_a", "id_b")
    val cells = cellsFor(emb)
    val recalls = Seq(1, 2, 4).map { np =>
      val got = pairs(Similarity.blockedNearDup(emb, cells, np), "id_a", "id_b")
      assert(got.subsetOf(exact), "blocked pairs are verified by true cosine")
      got.size.toDouble / exact.size
    }
    info(f"exact=${exact.size} recall nprobe 1/2/4 = ${recalls.map(r => f"$r%.3f").mkString("/")}")
    // the background pairs are borderline by construction, so only
    // the subset property and the dial's direction are contracts here
    // (measured 1/7, 2/7, 5/7)
    assert(recalls == recalls.sorted, s"recall must not fall as nprobe grows: $recalls")
  }

  test("blocked near-dup: planted tight copies are recalled") {
    val every = 50
    val corpus = graft.tools.ClusterQuality.plantedCorpus(emb, every, 1)
    val cells = cellsFor(corpus)
    val planted = emb.where(col("vec_id") % every === 0).count()
    val recalls = Seq(1, 2, 4).map { np =>
      Similarity.blockedNearDup(corpus, cells, np)
        .where(col("id_b") - col("id_a") === graft.tools.ClusterQuality.PlantOffset)
        .count().toDouble / planted
    }
    info(f"planted=$planted recall nprobe 1/2/4 = ${recalls.map(r => f"$r%.3f").mkString("/")}")
    // measured 0.8 / 1.0 / 1.0: a tight copy lands in or next to its
    // source's cell, so one extra probed cell catches nearly all
    assert(recalls(1) >= 0.9 && recalls(2) >= 0.9,
      s"planted-copy recall at nprobe 2/4 fell below 0.9: $recalls")
  }

  test("√n-cell IVF search: top-5 recall vs brute force") {
    val cells = cellsFor(emb)
    val recalls = Seq(1, 2, 4).map(np =>
      searchRecall(Similarity.ivfSearch(emb, cells, np, sq8 = false)))
    info(f"recall@5 nprobe 1/2/4 = ${recalls.map(r => f"$r%.3f").mkString("/")}")
    // measured 0.88 / 0.92 / 0.94
    assert(recalls == recalls.sorted, s"recall must not fall as nprobe grows: $recalls")
    assert(recalls(1) >= 0.85, f"recall@5 at the gated nprobe=2 fell to ${recalls(1)}%.2f")
  }

  test("IVF+PQ two-stage search: top-5 recall vs brute force stays near SQ8's") {
    val sq8 = searchRecall(SparkEntry.queries("sim_ivf_sq8_scaled")(spark, sf))
    val pq = searchRecall(SparkEntry.queries("sim_ivf_pq_scaled")(spark, sf))
    info(f"recall@5 sq8=$sq8%.3f pq=$pq%.3f")
    // measured sq8 0.92, pq 0.88: the exact re-rank of the ADC
    // shortlist buys back nearly all of the 16× coarser codes' loss
    assert(pq >= 0.85 && pq >= sq8 - 0.1, f"PQ recall@5 $pq%.2f (sq8 $sq8%.2f)")
  }
}
