package graft.tools

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Planted-ground-truth quality measurement for the thresholdless
  * mutual-k-NN clustering ([[graft.operators.Similarity
  * .mutualKnnClusters]]) — the one ANN-family operator whose OUTPUT
  * quality (not just wall time) needs its own yardstick: the oracle
  * gate pins the algebra step for step, but says nothing about
  * whether the clusters it computes are the clusters a user wants.
  *
  * The synthetic embeddings have almost no tight duplicate structure
  * (background cosines sit at 0.45–0.6), so ground truth is PLANTED,
  * as in IvfRecallSpec's planted-copy recall: every
  * `every`-th vector gains `copies` deterministic near-copies
  * (v + 0.2·shiftⱼ(v), pairwise cosine ≈0.96 within the group, ≈
  * background to everything else). Each planted group is one
  * ground-truth class; every background vector is its own class
  * (random 64-d vectors — no two are "the same document").
  *
  * Two standard contingency metrics over the predicted clustering:
  *  - '''purity''': Σ over predicted clusters of the majority-class
  *    member count, / total clustered vectors. Low purity = clusters
  *    merge vectors that are NOT copies of each other (background
  *    chaining — the failure mode mutuality claims to prevent).
  *  - '''completeness''': Σ over planted classes of the largest
  *    same-cluster member subset, / total planted members. Members
  *    the clustering omitted (no mutual edge) count as singleton
  *    subsets. Low completeness = real copies fail to co-cluster
  *    (quantizer split the group across unprobed cells, or k too
  *    small for the group size).
  */
object ClusterQuality {

  /** Copy j of source id s gets vec_id = s + j·PlantOffset — beyond
    * any replica key (`ScaleProbe.replicate` offsets replica i by
    * i·1e8), so
    * `vec_id % PlantOffset` recovers the ground-truth class for
    * planted members and is the identity for background vectors. */
  val PlantOffset = 10000000000L

  /** Ground-truth class of a clustered vector. */
  def classOf(vecId: Column): Column = pmod(vecId, lit(PlantOffset))

  /** The corpus with planted groups: every `every`-th vector plus
    * `copies` near-copies of it (copy j = v + 0.2·circular-shiftⱼ(v):
    * shifts of a random vector are ~orthogonal to it, so each copy's
    * cosine to its source — and to its sibling copies — is
    * ≈ 1/1.04 ≈ 0.96, far above the 0.45–0.6 background). */
  def plantedCorpus(emb: DataFrame, every: Int, copies: Int): DataFrame = {
    val base = emb.select("vec_id", "embedding")
    val dim = 64
    val planted = (1 to copies).map { j =>
      base.where(pmod(col("vec_id"), lit(every)) === 0)
        .select((col("vec_id") + lit(j * PlantOffset)).as("vec_id"),
          zip_with(col("embedding"),
            concat(slice(col("embedding"), j + 1, dim - j),
                   slice(col("embedding"), 1, j)),
            (a, b) => a + lit(0.2f) * b).cast("array<float>").as("embedding"))
    }
    planted.foldLeft(base)(_ unionByName _)
  }

  /** (vec_id, cls) over the planted UNIVERSE — sources and their
    * copies — the denominator completeness is measured against
    * (members the clustering dropped must count against it). */
  def plantedTruth(emb: DataFrame, every: Int, copies: Int): DataFrame = {
    val src = emb.select("vec_id").where(pmod(col("vec_id"), lit(every)) === 0)
    (1 to copies).map(j => src.select((col("vec_id") + lit(j * PlantOffset))
        .as("vec_id")))
      .foldLeft(src)(_ unionByName _)
      .withColumn("cls", classOf(col("vec_id")))
  }

  /** Contingency purity of a predicted clustering
    * (vec_id, cluster_id). One groupBy cascade — no collect of the
    * assignment. */
  def purity(clusters: DataFrame): Double = {
    val cont = clusters.withColumn("cls", classOf(col("vec_id")))
      .groupBy("cluster_id", "cls").agg(count(lit(1)).as("n"))
    val r = cont.groupBy("cluster_id")
      .agg(max("n").as("m"), sum("n").as("sz"))
      .agg(sum("m").cast("double").as("hit"), sum("sz").cast("double").as("tot"))
      .head()
    if (r.getDouble(1) == 0) 1.0 else r.getDouble(0) / r.getDouble(1)
  }

  /** Planted completeness: per class, the largest subset of members
    * sharing one predicted cluster (unclustered members — null
    * cluster_id after the left join — are singleton subsets), summed
    * over classes / total planted members. */
  def completeness(clusters: DataFrame, truth: DataFrame): Double = {
    val joined = truth.join(clusters.select("vec_id", "cluster_id"),
      Seq("vec_id"), "left")
    val perClassCluster = joined.groupBy("cls", "cluster_id")
      .agg(count(lit(1)).as("n"))
      .withColumn("eff",
        when(col("cluster_id").isNull, lit(1L)).otherwise(col("n")))
    val r = perClassCluster.groupBy("cls")
      .agg(max("eff").as("m"), sum("n").as("g"))
      .agg(sum("m").cast("double").as("hit"), sum("g").cast("double").as("tot"))
      .head()
    if (r.getDouble(1) == 0) 1.0 else r.getDouble(0) / r.getDouble(1)
  }

  /** Purity of the clusters that CONTAIN planted members: Σ over such
    * clusters of the majority planted-class member count / Σ of their
    * total sizes. The dedup-relevant cleanliness measure — a
    * background vector riding in a planted cluster is a FALSE MERGE
    * a downstream keep-best would collapse, whereas background
    * vectors clustering among THEMSELVES is the operator grouping
    * genuinely mutually-similar points (which the global [[purity]]
    * charges for, since every background class is a singleton —
    * global purity ≈ #clusters/#clustered ≈ 1/avg-cluster-size on a
    * background-dominated corpus, a cluster-size proxy rather than a
    * contamination measure). */
  def plantedClusterPurity(clusters: DataFrame, truth: DataFrame): Double = {
    val marked = clusters.select("vec_id", "cluster_id")
      .join(truth.select("vec_id", "cls"), Seq("vec_id"), "left")
    val plantedClusters = marked.groupBy("cluster_id")
      .agg(count(lit(1)).as("sz"),
           max(when(col("cls").isNotNull, 1).otherwise(0)).as("hasPlanted"))
      .where(col("hasPlanted") === 1)
    val majority = marked.where(col("cls").isNotNull)
      .groupBy("cluster_id", "cls").agg(count(lit(1)).as("n"))
      .groupBy("cluster_id").agg(max("n").as("m"))
    val r = plantedClusters.join(majority, "cluster_id")
      .agg(sum("m").cast("double").as("hit"), sum("sz").cast("double").as("tot"))
      .head()
    if (r.isNullAt(1) || r.getDouble(1) == 0) 1.0
    else r.getDouble(0) / r.getDouble(1)
  }

  /** Fraction of planted classes FULLY contained in one predicted
    * cluster — the strictest read of "the copies ended up together". */
  def intactFraction(clusters: DataFrame, truth: DataFrame): Double = {
    val joined = truth.join(clusters.select("vec_id", "cluster_id"),
      Seq("vec_id"), "left")
    val perClass = joined.groupBy("cls").agg(
      count(lit(1)).as("g"),
      // countDistinct over (cluster_id) ignores nulls; a class is
      // intact iff every member landed in the SAME non-null cluster
      count(col("cluster_id")).as("clustered"),
      countDistinct(col("cluster_id")).as("nclusters"))
    val r = perClass.agg(
      sum(when(col("clustered") === col("g") && col("nclusters") === 1, 1L)
        .otherwise(0L)).cast("double").as("intact"),
      count(lit(1)).cast("double").as("tot")).head()
    if (r.getDouble(1) == 0) 1.0 else r.getDouble(0) / r.getDouble(1)
  }
}
