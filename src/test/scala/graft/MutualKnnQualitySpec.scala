package graft

import graft.tools.ClusterQuality
import org.apache.spark.sql.functions.col

/** Output-quality bounds for the thresholdless mutual-k-NN clustering
  * (sim_mutual_knn_clusters) — the oracle gate pins its algebra; this
  * spec pins that the clusters it computes FIND PLANTED DUPLICATES:
  * every 50th fixture vector gains 2 deterministic near-copies
  * (pairwise cosine ≈0.96, ~orthogonal to everything else), forming
  * ground-truth classes of 3 over a diffuse background (cosines
  * 0.45–0.6). See ClusterQuality for the metric definitions and
  * the round-11 1×/10× table (`git show ab6c630:SCALING.md`) these
  * bounds are cut from (completeness ≈0.93–0.94, intact ≈0.82–0.88
  * at both scales; plantedPurity ≈0.97 at k=2 vs ≈0.42 at k=3 —
  * k−(group−1) spare neighbor slots are where background intruders
  * enter).
  */
class MutualKnnQualitySpec extends SparkSpec {

  private val Every = 50
  private val Copies = 2

  private lazy val corpusAndTruth = {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
      .select("vec_id", "embedding")
    (ClusterQuality.plantedCorpus(emb, Every, Copies).cache(),
     ClusterQuality.plantedTruth(emb, Every, Copies).cache())
  }

  private def clustersAt(k: Int) = {
    val (corpus, _) = corpusAndTruth
    val n = corpus.count()
    val cents = math.max(8, math.ceil(math.sqrt(n.toDouble)).toInt)
    graft.operators.Similarity.mutualKnnClusters(corpus, cents, 2, k)
  }

  test("planted near-copies co-cluster (completeness) at the gate config k=3") {
    val (_, truth) = corpusAndTruth
    val clusters = clustersAt(3).cache()
    val comp = ClusterQuality.completeness(clusters, truth)
    val intact = ClusterQuality.intactFraction(clusters, truth)
    info(f"completeness=$comp%.3f intact=$intact%.3f")
    assert(comp >= 0.80, f"completeness $comp%.3f fell below 0.80")
    assert(intact >= 0.60, f"intact fraction $intact%.3f fell below 0.60")
  }

  test("at k = group size - 1 planted clusters stay clean of background intruders") {
    val (_, truth) = corpusAndTruth
    val clusters = clustersAt(2).cache()
    val ppur = ClusterQuality.plantedClusterPurity(clusters, truth)
    val comp = ClusterQuality.completeness(clusters, truth)
    info(f"plantedPurity=$ppur%.3f completeness=$comp%.3f")
    assert(ppur >= 0.85, f"plantedPurity $ppur%.3f fell below 0.85")
    assert(comp >= 0.80, f"completeness $comp%.3f fell below 0.80")
  }

  test("metrics are sane on a hand-built clustering") {
    import spark.implicits._
    // two planted classes of 3 (ids 0,100 + copies); predicted:
    // class 0 perfectly clustered, class 100 split 2/1, one cluster
    // polluted by background vec 7
    val off = ClusterQuality.PlantOffset
    val clusters = Seq(
      (0L, 1L), (off, 1L), (2 * off, 1L), (7L, 1L),
      (100L, 2L), (100L + off, 2L), (100L + 2 * off, 3L))
      .toDF("vec_id", "cluster_id")
    val truth = Seq(0L, off, 2 * off, 100L, 100L + off, 100L + 2 * off)
      .toDF("vec_id").withColumn("cls", ClusterQuality.classOf(col("vec_id")))
    // completeness: class0 best=3, class100 best=2 → 5/6
    assert(math.abs(ClusterQuality.completeness(clusters, truth) - 5.0 / 6) < 1e-9)
    // intact: class0 only → 1/2
    assert(math.abs(ClusterQuality.intactFraction(clusters, truth) - 0.5) < 1e-9)
    // plantedPurity: cluster1 4 members 3 planted-majority, cluster2
    // 2/2, cluster3 1/1 → (3+2+1)/(4+2+1)
    assert(math.abs(
      ClusterQuality.plantedClusterPurity(clusters, truth) - 6.0 / 7) < 1e-9)
    // global purity (background = own class): cluster majorities are
    // 3 (class 0; vec 7 is an intruder), 2, 1 over 7 clustered rows
    assert(math.abs(ClusterQuality.purity(clusters) - 6.0 / 7) < 1e-9)
  }
}
