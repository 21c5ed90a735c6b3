package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Graph analytics over the corpus's derived similarity structure —
  * PageRank on the k-NN graph: the canonical "centrality of an
  * example inside its data manifold" signal (a high-rank vector is
  * one many neighbors point AT — prototypical; low rank marks the
  * manifold's fringe), used for coreset selection and
  * quality-weighted sampling of embedding corpora.
  *
  * The distributed shape is why PageRank belongs on Spark: ranks stay
  * a DISTRIBUTED (vec_id, rank) table — never driver state — and one
  * iteration is exactly one join (edges ⋈ ranks, co-keyed on src) +
  * one partial-agg shuffle of contributions keyed by dst. Per-round
  * frames are `localCheckpoint`ed (the [[Dedup.connectedComponents]]
  * pattern) so lineage doesn't re-derive the k-NN candidate join
  * every round.
  *
  * Determinism contract (the kmeans precedent): every rank is rounded
  * HALF-UP to 6 decimals per iteration, so both engines' different
  * contribution-summation orders collapse to identical bits before
  * the next round.
  */
object Graph {

  private val Damping = 0.85
  private val Iters = 2
  private val Scale = 6

  /** Gate: 2 PageRank rounds over the √n-cell k-NN top-3 edge set —
    * the same edges sim_knn_graph_scaled / sim_mutual_knn_clusters
    * gate, so the graph family shares one edge definition. */
  def qPagerankKnn(spark: SparkSession, dir: String): DataFrame = {
    val edges = Similarity.qSimKnnGraphScaled(spark, dir)
      .select(col("vec_id").as("src"), col("neighbor_id").as("dst"))
    pagerank(edges, Iters)
  }

  /** PageRank over any (src, dst) edge frame: rank = (1−d) +
    * d·Σ_incoming rank/deg, from a uniform start, `iters` rounds.
    * Nodes with no in-edges settle at 1−d; out-degrees come from the
    * edge list itself. */
  private[graft] def pagerank(edgesIn: DataFrame, iters: Int): DataFrame =
    pagerankCore(edgesIn, iters, tol = None)._1

  /** PageRank run to a FIXED POINT: iterate until the largest
    * per-node rank change falls below `tol` (or `maxIters` rounds, a
    * hard safety stop — a real centrality signal needs ≥10 rounds or
    * a convergence criterion, not the gate's 2). The per-round
    * convergence test is a single scalar `max(|Δ|)` aggregate — a
    * model-sized driver read, the kmeans-objective precedent — so the
    * dial costs one extra partial-agg per round, nothing driver-side
    * grows with the graph. Returns (ranks, roundsRun). */
  private[graft] def pagerankConverged(
      edgesIn: DataFrame, tol: Double, maxIters: Int): (DataFrame, Int) =
    pagerankCore(edgesIn, maxIters, tol = Some(tol))

  private def pagerankCore(
      edgesIn: DataFrame, iters: Int,
      tol: Option[Double]): (DataFrame, Int) = {
    val edges = edgesIn.localCheckpoint()
    val deg = edges.groupBy("src").agg(count(lit(1)).as("deg"))
      .localCheckpoint()
    val nodes = edges.select(col("src").as("vec_id"))
      .union(edges.select(col("dst").as("vec_id")))
      .distinct().localCheckpoint()
    var ranks = nodes.withColumn("rank", lit(1.0))
    var round = 0
    var converged = false
    while (round < iters && !converged) {
      round += 1
      val contribs = edges
        .join(deg, "src")
        .join(ranks.withColumnRenamed("vec_id", "src"), "src")
        .select(col("dst").as("vec_id"), (col("rank") / col("deg")).as("c"))
        .groupBy("vec_id").agg(sum("c").as("in_sum"))
      val next = nodes.join(contribs, Seq("vec_id"), "left")
        .select(col("vec_id"),
          graft.functions.Text.roundPortable(
            lit(1.0 - Damping) +
              lit(Damping) * coalesce(col("in_sum"), lit(0.0)),
            Scale).as("rank"))
        .localCheckpoint()
      tol.foreach { t =>
        // scalar max-|Δ| read — model-sized, 0.0 on an empty graph
        val delta = next.withColumnRenamed("rank", "nr")
          .join(ranks.withColumnRenamed("rank", "pr"), "vec_id")
          .agg(coalesce(max(abs(col("nr") - col("pr"))), lit(0.0)))
          .head().getDouble(0)
        converged = delta < t
      }
      ranks = next
    }
    (ranks.orderBy("vec_id"), round)
  }
}
