package graft

import org.apache.spark.sql.functions._
import graft.operators.Graph

/** PageRank on the k-NN graph (sim_pagerank_knn): the oracle gate
  * pins the rows; this spec pins the recurrence on graphs with
  * closed-form answers — a directed cycle is the fixed point
  * (every rank stays exactly 1.0), a star concentrates rank on the
  * hub by the hand-computed amounts, and fringe nodes (no in-edges)
  * settle at 1 − d.
  */
class PagerankSpec extends SparkSpec {

  import spark.implicits._

  private def run(edges: Seq[(Long, Long)], iters: Int) =
    Graph.pagerank(edges.toDF("src", "dst"), iters)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap

  test("a directed cycle is the fixed point: every rank exactly 1.0") {
    val out = run(Seq((1L, 2L), (2L, 3L), (3L, 1L)), 2)
    assert(out == Map(1L -> 1.0, 2L -> 1.0, 3L -> 1.0))
  }

  test("a star concentrates rank on the hub; spokes settle at 1 - d") {
    // a,c,d -> b. Round 1: b = 0.15 + 0.85·3 = 2.7; spokes 0.15.
    // Round 2: b = 0.15 + 0.85·(0.15·3) = 0.5325.
    val r1 = run(Seq((1L, 9L), (2L, 9L), (3L, 9L)), 1)
    assert(r1(9L) == 2.7 && r1(1L) == 0.15)
    val r2 = run(Seq((1L, 9L), (2L, 9L), (3L, 9L)), 2)
    assert(r2(9L) == 0.5325 && r2(2L) == 0.15)
  }

  test("out-degree splits a node's contribution") {
    // 1 -> {2,3}: each gets rank/2. Round 1: 2 and 3 = 0.15+0.85·0.5
    val out = run(Seq((1L, 2L), (1L, 3L)), 1)
    assert(out(2L) == 0.575 && out(3L) == 0.575 && out(1L) == 0.15)
  }

  test("fixture ranks are bounded below by 1 - d and someone is prototypical") {
    val out = Graph.qPagerankKnn(spark, sf).collect().map(_.getDouble(1))
    assert(out.forall(_ >= 0.15))
    assert(out.exists(_ > 1.0), "no node accumulated centrality")
  }

  test("pagerankConverged stops the cycle after one round (already the fixed point)") {
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L)).toDF("src", "dst")
    val (ranks, rounds) = Graph.pagerankConverged(edges, tol = 1e-9, maxIters = 50)
    assert(rounds == 1, s"cycle should converge on the first delta check, ran $rounds")
    val out = ranks.collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    assert(out == Map(1L -> 1.0, 2L -> 1.0, 3L -> 1.0))
  }

  test("pagerankConverged reaches the star's fixed point and then holds it") {
    // a,c,d -> b: spokes pin at 1-d after round 1; the hub's recurrence
    // b = 0.15 + 0.85·(3·0.15) = 0.5325 is stationary from round 2 on,
    // so the tol stop must fire at round 3 (first round with delta 0).
    val edges = Seq((1L, 9L), (2L, 9L), (3L, 9L)).toDF("src", "dst")
    val (ranks, rounds) = Graph.pagerankConverged(edges, tol = 1e-9, maxIters = 50)
    assert(rounds == 3, s"expected the delta-0 stop at round 3, ran $rounds")
    val out = ranks.collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    assert(out(9L) == 0.5325 && out(1L) == 0.15)
    // and the converged answer equals the explicitly-iterated one
    val fixed = run(Seq((1L, 9L), (2L, 9L), (3L, 9L)), 10)
    assert(out == fixed)
  }

  test("maxIters is a hard stop when tol is never reached") {
    // 2-cycle with an injector: ranks oscillate toward the fixed point
    // slowly; an absurd tol forces the hard stop to bind.
    val edges = Seq((1L, 2L), (2L, 1L), (3L, 1L)).toDF("src", "dst")
    val (_, rounds) = Graph.pagerankConverged(edges, tol = 1e-12, maxIters = 4)
    assert(rounds == 4)
  }

  test("converged centrality on the fixture graph needs more than the gate's 2 rounds") {
    val knn = graft.operators.Similarity.qSimKnnGraphScaled(spark, sf)
      .select(col("vec_id").as("src"), col("neighbor_id").as("dst"))
    val (ranks, rounds) = Graph.pagerankConverged(knn, tol = 1e-4, maxIters = 25)
    assert(rounds > 2 && rounds <= 25,
      s"real centrality should take >2 rounds at tol=1e-4, took $rounds")
    assert(ranks.collect().map(_.getDouble(1)).forall(_ >= 0.15))
  }
}
