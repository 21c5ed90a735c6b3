package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.VectorFunctions.cosine
import graft.sources.StandingTable

/** Similarity search over the `embeddings` table (64-dim float
  * vectors). Brute-force cosine top-k as the exact baseline; an
  * IVF-style bucketed variant as the scale path (centroid blocking
  * turns the all-pairs scan into per-bucket scans). Scoring runs the
  * native [[graft.functions.CosineSimilarity]] expression inside
  * whole-stage codegen.
  */
object Similarity {

  private val NumQueries = 10   // vec_id < 10 are the query vectors
  private val TopK = 5
  private val NumCentroids = 8  // IVF "training": first 8 vectors
  private val NearDupThreshold = 0.45
  private val PqNumSub = 8       // PQ subspaces (dim 64 -> 8-dim slices)
  private val PqNumCodewords = 16 // per-subspace codebook size (4-bit codes)
  private val PqRefine = 25      // ADC shortlist for the FIXED config's re-rank

  /** Scale-adaptive ADC shortlist: max(PqRefine, ⌈√n⌉). Probed
    * candidates grow as nProbes·√n under the √n-cell sizing, so a
    * FIXED shortlist is a shrinking fraction of them and recall
    * decays with corpus growth (measured: refine 50 → 96 % recall@5
    * at n=2k but 80 % at n=20k; refine ~√n → 96-98 % at both). A √n
    * shortlist keeps the refined fraction of probed candidates
    * constant — the honest price of the untrained deterministic
    * codebook's quantization error; a trained codebook shrinks the
    * dial, never the rule. */
  private def scaledRefine(n: Long): Int =
    math.max(PqRefine, math.ceil(math.sqrt(n.toDouble)).toInt)

  /** Exact top-k nearest neighbors for each query vector.
    * Broadcast the (tiny) query set against the corpus — one scan,
    * no shuffle of the corpus; per-query ranking is a window over
    * k·|queries| rows at most after the rank filter. */
  def qSimBruteForce(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val q = emb.where(col("vec_id") < NumQueries)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    val scored = emb.crossJoin(broadcast(q))
      .where(col("vec_id") =!= col("q_id"))
      .withColumn("sim", cosine(col("q_vec"), col("embedding")))
    val w = Window.partitionBy("q_id").orderBy(desc("sim"), col("vec_id"))
    scored
      .withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= TopK)
      .select(col("q_id"), col("rank"), col("vec_id").as("neighbor_id"),
              graft.functions.Text.roundPortable(col("sim"), 4).as("sim"))
      .orderBy("q_id", "rank")
  }

  /** The deterministic "trained" coarse quantizer: the corpus's first
    * `numCentroids` vectors as a (c_id, c_vec) frame. ALWAYS derived
    * from the full corpus — a centroid set derived from a filtered
    * slice would be a different quantizer under the same name. */
  private def centroidsOf(emb: DataFrame, numCentroids: Int): DataFrame =
    emb.where(col("vec_id") < numCentroids)
      .select(col("vec_id").as("c_id"), col("embedding").as("c_vec"))

  /** The quantizer pulled to the driver as `(c_id, c_vec)` pairs —
    * bounded MODEL state (√n·dim doubles; the k-means collect
    * precedent, Clustering.scala), ordered by c_id for the tie-break
    * contract. One tiny job (the vec_id filter reaches the footer-
    * pruned scan); never corpus-sized. */
  private def collectCentroids(cent: DataFrame): Seq[(Long, Array[Double])] =
    cent.select(col("c_id"), col("c_vec").cast("array<double>"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
      .sortBy(_._1)
      .toSeq

  /** Coarse assignment: every vector of `vectors` keeps its `keep`
    * nearest centroids as (vec_id, embedding, bucket) rows. Shared by
    * corpus assignment, query probing, and the index build so "the
    * cell a vector lands in" has one definition.
    *
    * MAP-ONLY: the per-row top-`keep` argmax runs in the codegen'd
    * [[graft.functions.NearestCells]] expression over the collected
    * centroid matrix, then explodes — a projection + generate, no
    * join, no exchange between the corpus scan and the bucket id.
    * (The crossJoin + per-vec_id window this replaced shuffled
    * n·numCentroids scored rows — an n^1.5-row exchange at the √n
    * configs — before any candidate generation began.)
    *
    * NOTE: the quantizer is collected EAGERLY here — constructing a
    * query plan through this path runs a small Spark job (k rows)
    * before any action on the result. An empty quantizer yields an
    * empty result frame, not an error. */
  private def nearestCentroids(vectors: DataFrame, cent: DataFrame,
                               keep: Int): DataFrame =
    vectors
      .select(col("vec_id"), col("embedding"),
        explode(graft.functions.NearestCells.nearestCells(
          col("embedding"), collectCentroids(cent), keep)).as("bucket"))

  /** SQ8 reconstruction of an `embedding` float-array column as a
    * `recon` double-array column — range/step projected once per row
    * (the [[Vectors.sq8ReconWith]] contract: an inline array_min
    * inside the lambda is O(d²) per row). */
  private def withSq8Recon(df: DataFrame): DataFrame =
    df.withColumn("vd", col("embedding").cast("array<double>"))
      .withColumn("vmin", array_min(col("vd")))
      .withColumn("vmax", array_max(col("vd")))
      .withColumn("scl", (col("vmax") - col("vmin")) / lit(255.0))
      .withColumn("recon", Vectors.sq8ReconWith(
        col("vd"), col("vmin"), col("vmax"), col("scl")))
      .drop("vd", "vmin", "vmax", "scl")

  /** IVF(+SQ8) top-k search, the one core all four sim_ivf* gates
    * run: corpus vectors live in their single nearest of
    * `numCentroids` cells; each query probes its `nProbes` nearest
    * cells (the recall/cost dial — a corpus vector is in exactly one
    * cell, so probed candidates are duplicate-free by construction);
    * with `sq8` the corpus side is scored on its min + code·step
    * reconstruction ([[withSq8Recon]]) while queries stay
    * full-precision — the memory contract of a compressed index.
    * The query side is a broadcast (queries × nProbes rows), so the
    * corpus is scanned once and never shuffled; scoring runs in the
    * codegen'd [[graft.functions.CosineSimilarity]] loop. */
  private[graft] def ivfSearch(emb: DataFrame, numCentroids: Int,
                               nProbes: Int, sq8: Boolean,
                               twoLevel: Boolean = false,
                               pqCodebook: Option[Seq[(Long, Array[Double])]] = None,
                               pqRefine: Int = PqRefine): DataFrame = {
    require(!(sq8 && pqCodebook.nonEmpty),
      "sq8 and pq are alternative corpus compressions — pick one")
    val cent = centroidsOf(emb, numCentroids)
    val assign: (DataFrame, DataFrame, Int) => DataFrame =
      if (twoLevel) nearestCentroidsTwoLevel else nearestCentroids
    val assigned = assign(emb, cent, 1)
    val corpus = pqCodebook match {
      // empty codebook ⇔ empty corpus (the codebook is the corpus's
      // first k vectors): the quantizer is empty too, so `assigned`
      // has no rows — any recon column works, but PqRecon's
      // plan-build require must not fire (the NearestCells
      // empty-quantizer contract, extended to the PQ model)
      case Some(cb) if cb.isEmpty =>
        assigned.withColumn("recon", col("embedding").cast("array<double>"))
      case Some(cb) => assigned.withColumn("recon",
        graft.functions.PqRecon.pqRecon(col("embedding"), cb, PqNumSub))
      case None => if (sq8) withSq8Recon(assigned) else assigned
    }
    val q = assign(
        emb.where(col("vec_id") < NumQueries), cent, nProbes)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"),
              col("bucket").as("q_bucket"))
    val wRank = Window.partitionBy("q_id").orderBy(desc("sim"), col("vec_id"))
    val joined = corpus.join(broadcast(q), col("bucket") === col("q_bucket") &&
                   col("vec_id") =!= col("q_id"))
    val scored = pqCodebook match {
      // PQ alone ranks too coarsely for top-k (measured 20-30 %
      // recall@5 with the untrained codebook): do what production
      // IVFPQ does — ADC SHORTLIST on the codes, exact RE-RANK of the
      // top-pqRefine. Both windows partition on q_id, so the refine
      // adds a sort but NO second exchange; at deployment the
      // re-rank's full-precision reads are a bounded fetch
      // (|queries|·pqRefine vectors), not a corpus scan.
      case Some(_) =>
        val wAdc = Window.partitionBy("q_id")
          .orderBy(desc("sim_adc"), col("vec_id"))
        joined
          .withColumn("sim_adc", cosine(col("q_vec"), col("recon")))
          .withColumn("rank_adc", row_number().over(wAdc))
          .where(col("rank_adc") <= pqRefine)
          .withColumn("sim", cosine(col("q_vec"), col("embedding")))
      case None =>
        val scoreVec = if (sq8) col("recon") else col("embedding")
        joined.withColumn("sim", cosine(col("q_vec"), scoreVec))
    }
    scored
      .withColumn("rank", row_number().over(wRank).cast("long"))
      .where(col("rank") <= TopK)
      .select(col("q_id"), col("rank"), col("vec_id").as("neighbor_id"),
              graft.functions.Text.roundPortable(col("sim"), 4).as("sim"))
      .orderBy("q_id", "rank")
  }

  /** IVF-style ANN: deterministic "centroids" (first NumCentroids
    * vectors), every vector assigned to its nearest centroid, and a
    * query only scans its own bucket (nprobe=1). The FIXED 8-centroid
    * config the oracle unrolls step-for-step; [[qSimIvfScaled]] gates
    * the √n sizing a real corpus needs. */
  def qSimIvf(spark: SparkSession, dir: String): DataFrame =
    ivfSearch(Tables.embeddings(spark, dir), NumCentroids, nProbes = 1,
      sq8 = false)

  /** IVF RECALL AUDIT — the index-quality eval every ANN deployment
    * runs before trusting an approximate index: per query, how many
    * of the EXACT top-k ([[qSimBruteForce]]) the IVF search
    * ([[qSimIvf]]) returned. recall = hits / |exact top-k| (the
    * denominator is the realized exact list, < k only on degenerate
    * corpora). The operator exists because recall is a FIRST-CLASS
    * pipeline artifact — the number that decides nprobe/centroid
    * dials — not a test-only concern; the spec-level recall bounds
    * (IvfRecallSpec) measure the same thing offline, this gates it as
    * a query.
    *
    * Scale shape: both sides are |queries|·k rows after their own
    * top-k pruning — the join and per-query count are panel-sized.
    * The expensive side is the brute-force ground truth by
    * construction (one corpus scan per query batch); production runs
    * it on a SAMPLE of queries, which is this same plan with a
    * narrower query filter. */
  def qIvfRecall(spark: SparkSession, dir: String): DataFrame = {
    val exact = qSimBruteForce(spark, dir)
      .select(col("q_id"), col("neighbor_id"))
    val approx = qSimIvf(spark, dir)
      .select(col("q_id"), col("neighbor_id"), lit(1L).as("hit"))
    exact.join(approx, Seq("q_id", "neighbor_id"), "left")
      .groupBy("q_id")
      .agg(count(lit(1)).as("n_exact"),
           coalesce(sum("hit"), lit(0L)).as("n_hits"))
      .select(col("q_id"), col("n_exact"), col("n_hits"),
        graft.functions.Text.roundPortable(
          col("n_hits").cast("double") / col("n_exact"), 4).as("recall"))
      .orderBy("q_id")
  }

  // Matryoshka truncation width: 16 of the fixture's 64 dims (the
  // 4× memory/compute cut of MRL serving tiers)
  private val MatryoshkaDims = 16

  /** MATRYOSHKA TRUNCATION RECALL — the serving-tier audit for
    * Matryoshka-style embeddings (Kusupati et al. 2022: models
    * trained so PREFIXES of the vector are themselves usable
    * embeddings): per query, how much of the full-dimension exact
    * top-k survives when BOTH sides are truncated to the first
    * [[MatryoshkaDims]] dims. The number that decides whether the
    * cheap tier (4× less memory and FLOPs here) is good enough for
    * first-stage retrieval with full-dim re-rank. Fixture embeddings
    * are not MRL-trained, so measured recall prices raw prefix
    * information — the honest baseline an MRL model must beat.
    *
    * Scale shape: two broadcast-query corpus scans (full-dim and
    * truncated — the truncated one reads 1/4 the floats through the
    * SAME ReadSchema-pruned plan) + a |queries|·k panel join; the
    * [[qIvfRecall]] contract with a projection swap. */
  def qMatryoshkaRecall(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    def topk(vecs: DataFrame): DataFrame = {
      val q = vecs.where(col("vec_id") < NumQueries)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
      val w = Window.partitionBy("q_id").orderBy(desc("sim"), col("vec_id"))
      vecs.crossJoin(broadcast(q))
        .where(col("vec_id") =!= col("q_id"))
        .withColumn("sim", cosine(col("q_vec"), col("embedding")))
        .withColumn("rank", row_number().over(w))
        .where(col("rank") <= TopK)
        .select(col("q_id"), col("vec_id").as("neighbor_id"))
    }
    val exact = topk(emb)
    val trunc = topk(emb.select(col("vec_id"),
      slice(col("embedding"), 1, MatryoshkaDims).as("embedding")))
    exact.join(trunc.withColumn("hit", lit(1L)),
        Seq("q_id", "neighbor_id"), "left")
      .groupBy("q_id")
      .agg(count(lit(1)).as("n_exact"),
           coalesce(sum("hit"), lit(0L)).as("n_hits"))
      .select(col("q_id"), col("n_exact"), col("n_hits"),
        graft.functions.Text.roundPortable(
          col("n_hits").cast("double") / col("n_exact"), 4).as("recall"))
      .orderBy("q_id")
  }

  /** IVF + SQ8: the standard compressed-index ANN recipe. Bucketing
    * is identical to [[qSimIvf]] (coarse assignment happens on the
    * raw vector at index-build time), but search scores the corpus
    * side on its SQ8 RECONSTRUCTION while queries stay full-precision.
    * Ranking shifts only where quantization error crosses a
    * neighbor gap — the recall cost of the 4× memory cut; the gate
    * hash-checks the full quantize→reconstruct→score→rank path. */
  def qSimIvfSq8(spark: SparkSession, dir: String): DataFrame =
    ivfSearch(Tables.embeddings(spark, dir), NumCentroids, nProbes = 1,
      sq8 = true)

  /** The deterministic "trained" PQ codebook: the corpus's first
    * `PqNumCodewords` vectors, collected as driver-held MODEL state
    * (the coarse-quantizer convention, [[collectCentroids]]) — each
    * subspace's codebook is that matrix's column slice. */
  private def pqCodebookOf(emb: DataFrame): Seq[(Long, Array[Double])] =
    collectCentroids(centroidsOf(emb, PqNumCodewords))

  /** IVF + PQ: same coarse bucketing as [[qSimIvf]], corpus scored on
    * its PRODUCT-QUANTIZED reconstruction ([[graft.functions.PqRecon]])
    * while queries stay full precision — the ADC scan of a
    * code-compressed index. Against SQ8's 4x, PQ at 8 subspaces x 16
    * codewords stores 4 BYTES per 256-byte vector (64x) — the memory
    * contract that keeps a 10^10-vector index in executor memory.
    * Reconstruction is a map-only projection; the search plan is
    * byte-identical in shape to sim_ivf_sq8's. */
  def qSimIvfPq(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    ivfSearch(emb, NumCentroids, nProbes = 1, sq8 = false,
      pqCodebook = Some(pqCodebookOf(emb)))
  }

  /** √n-centroid IVF + PQ — the compressed-index scale recipe with
    * the PQ memory contract; the PQ twin of [[qSimIvfSq8Scaled]],
    * with the √n-adaptive ADC shortlist ([[scaledRefine]] — from the
    * same footer count, zero extra jobs). */
  def qSimIvfPqScaled(spark: SparkSession, dir: String): DataFrame = {
    val n = Tables.parquetRowCount(spark, s"$dir/embeddings.parquet")
    val emb = Tables.embeddings(spark, dir)
    ivfSearch(emb, scaledCentroids(n), NumProbes, sq8 = false,
      pqCodebook = Some(pqCodebookOf(emb)), pqRefine = scaledRefine(n))
  }

  /** The SCALE config of IVF search — the search twin of
    * [[qDedupEmbeddingScaled]]: centroid count grows as √n (from
    * parquet FOOTER metadata, zero jobs at plan build), so expected
    * cell size stays ~√n and a query's probe cost is
    * nProbes·√n instead of the fixed config's n/8 — per-query work
    * SHRINKS relative to the corpus as it grows, which is what makes
    * top-k search usable at 100 TB. nprobe=2 is the recall dial
    * (pinned against brute force in IvfRecallSpec), mirroring the
    * dedup side. */
  def qSimIvfScaled(spark: SparkSession, dir: String): DataFrame = {
    val n = Tables.parquetRowCount(spark, s"$dir/embeddings.parquet")
    ivfSearch(Tables.embeddings(spark, dir), scaledCentroids(n), NumProbes,
      sq8 = false)
  }

  /** √n-centroid IVF + SQ8 — the full compressed-index scale recipe
    * (the plan you'd actually run at 100 TB) hash-gated end to end. */
  def qSimIvfSq8Scaled(spark: SparkSession, dir: String): DataFrame = {
    val n = Tables.parquetRowCount(spark, s"$dir/embeddings.parquet")
    ivfSearch(Tables.embeddings(spark, dir), scaledCentroids(n), NumProbes,
      sq8 = true)
  }

  /** Two-level coarse assignment: the corpus/query argmax runs
    * through [[graft.functions.NearestCellsTwoLevel]] — score the
    * ⌈√c⌉ super-centroids, then only the member cells of the
    * `pSuperFor(c)` nearest supers — ~O(n^¼·dim)/row instead of the
    * flat scan's O(√n·dim)/row. Still MAP-ONLY: a projection +
    * generate, no exchange before the bucket equi-join. */
  private def nearestCentroidsTwoLevel(vectors: DataFrame, cent: DataFrame,
                                       keep: Int): DataFrame = {
    val cents = collectCentroids(cent)
    val assignCol =
      if (cents.isEmpty) lit(Array.empty[Long])
      else graft.functions.NearestCells.nearestCellsTwoLevel(
        col("embedding"), cents, keep,
        graft.functions.NearestCells.pSuperFor(cents.size))
    vectors.select(col("vec_id"), col("embedding"),
      explode(assignCol).as("bucket"))
  }

  /** The TWO-LEVEL-quantizer scale config of IVF search: same √n cell
    * count and nprobe as [[qSimIvfScaled]], but per-row assignment is
    * hierarchical (super-cells → member cells). At the 10¹⁰-vector
    * corpus the flat assignment scan is itself the bottleneck
    * (O(√n·dim) = ~10⁵·dim flops per row); this path cuts it to
    * ~O(n^¼·dim) at an assignment-recall cost — a row whose true
    * nearest cell sits in an unprobed super lands in its second-best
    * cell. That approximation CHANGES cell membership (measured: ~1/5
    * of fixture vectors at c=23, pSuper=3 — the untrained first-k
    * quantizer gives diffuse supers), which is why this is its own
    * gated query with an oracle that unrolls the two-level algorithm,
    * rather than a silent dispatch under the flat gates' hashes. */
  def qSimIvfTwoLevelScaled(spark: SparkSession, dir: String): DataFrame = {
    val n = Tables.parquetRowCount(spark, s"$dir/embeddings.parquet")
    ivfSearch(Tables.embeddings(spark, dir), scaledCentroids(n), NumProbes,
      sq8 = false, twoLevel = true)
  }

  private val KnnK = 3

  /** k-nearest-neighbor GRAPH: every corpus vector's `k` nearest
    * neighbors, found within IVF buckets — the precursor structure of
    * graph-based fuzzy dedup and SemDeDup-style curation (threshold
    * pair generation is [[blockedNearDup]]; this is its top-k
    * sibling, where each vector keeps a bounded neighbor list however
    * dense its neighborhood is). Corpus vectors live in their single
    * nearest cell; as QUERIES they probe their `nProbes` nearest
    * cells, so candidates come from a bucket EQUI-JOIN (the only
    * corpus-wide shuffle — never all-pairs) and a (q, neighbor) pair
    * can't repeat (the corpus side is in exactly one cell). Per-query
    * top-k runs in the bounded-heap [[graft.plans.GroupedTopK]]
    * operator — O(k) task memory, no full sort of any neighborhood. */
  private[graft] def knnGraph(emb: DataFrame, numCentroids: Int,
                              nProbes: Int, k: Int): DataFrame = {
    val pruned = knnTopK(emb, numCentroids, nProbes, k)
    val wRank = Window.partitionBy("q_id").orderBy(desc("nsim"), col("neighbor_id"))
    pruned
      .withColumn("rank", row_number().over(wRank).cast("long"))
      .select(col("q_id").as("vec_id"), col("rank"), col("neighbor_id"),
              graft.functions.Text.roundPortable(col("nsim"), 4).as("sim"))
      .orderBy("vec_id", "rank")
  }

  /** The graph's working core — scored cell candidates pruned to the
    * per-vector top-k heap, WITHOUT presentation (rank numbering,
    * rounding, output sort): [[qSimMutualKnnClusters]] consumes the
    * edge set directly and must not inherit a sort it would only
    * shuffle away. */
  private def knnTopK(emb: DataFrame, numCentroids: Int,
                      nProbes: Int, k: Int): DataFrame = {
    val cent = centroidsOf(emb, numCentroids)
    val corpus = nearestCentroids(emb, cent, keep = 1)
    val q = nearestCentroids(emb, cent, keep = nProbes)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"),
              col("bucket").as("q_bucket"))
    val scored = corpus
      .join(q, col("bucket") === col("q_bucket") &&
               col("vec_id") =!= col("q_id"))
      .withColumn("nsim", cosine(col("q_vec"), col("embedding")))
      .select(col("q_id"), col("vec_id").as("neighbor_id"), col("nsim"))
    graft.plans.GroupedTopKApi.groupedTopKOrdered(scored,
      keys = Seq("q_id"),
      sort = Seq("nsim" -> false, "neighbor_id" -> true),
      k = k)
  }

  /** Mutual-k-NN clustering: vectors grouped by the connected
    * components of the MUTUAL k-NN edge set (a—b is an edge iff each
    * lists the other in its top-k) — the thresholdless graph
    * clustering built on [[knnGraph]]: mutuality is the symmetric
    * density filter (a point sitting near a cluster it doesn't belong
    * to lists cluster members, but they don't list it back), so no
    * cosine cutoff needs tuning. √n cells from footer metadata;
    * mutuality is one self-join of the n·k edge list on the reversed
    * pair; components run in [[Dedup.connectedComponents]]'s
    * min-label propagation — one job per round, lazily checkpointed.
    * Output: (vec_id, cluster_id = min member id) for vectors with at
    * least one mutual edge; singletons are omitted like the text
    * cluster gates omit unpaired docs.
    *
    * k is the CLEANLINESS dial (measured over planted near-copy
    * groups in the round-11 k-sweep, `git show ab6c630:SCALING.md`;
    * MutualKnnQualitySpec pins both ends): completeness — true copies
    * co-clustering — is 0.93–0.98 at every k, but every neighbor slot
    * beyond the expected duplicate-group size admits background
    * mutual edges whose components chain: at k = group−1 planted
    * clusters stay 90–97 % clean, at k=5 the graph PERCOLATES
    * (planted purity 0.01). Size k to the duplicate multiplicity you
    * expect, not to "more neighbors is safer". */
  def qSimMutualKnnClusters(spark: SparkSession, dir: String): DataFrame = {
    val n = Tables.parquetRowCount(spark, s"$dir/embeddings.parquet")
    mutualKnnClusters(Tables.embeddings(spark, dir), scaledCentroids(n),
      NumProbes, KnnK)
  }

  /** Forced-distributed twin of [[qSimMutualKnnClusters]] — the
    * min-label-propagation else-branch of the components guard,
    * exercised on THIS operator's own mutual edge set (r15, verdict
    * item 9: at gate SFs the guard always proves the edge set tiny,
    * so the distributed path was only oracle-checked on the dedup
    * pair sets). R15KernelsSpec pins it equal to the guarded path. */
  private[graft] def qSimMutualKnnClustersDist(spark: SparkSession,
                                               dir: String): DataFrame = {
    val n = Tables.parquetRowCount(spark, s"$dir/embeddings.parquet")
    mutualKnnClusters(Tables.embeddings(spark, dir), scaledCentroids(n),
      NumProbes, KnnK, forceDistributed = true)
  }

  /** [[qSimMutualKnnClusters]]'s core over an arbitrary embedding
    * frame (private[graft]: MutualKnnQualitySpec runs it over planted
    * corpora to measure cluster purity/completeness). */
  private[graft] def mutualKnnClusters(emb: DataFrame, numCentroids: Int,
                                       nProbes: Int, k: Int,
                                       forceDistributed: Boolean = false): DataFrame = {
    val knn = knnTopK(emb, numCentroids, nProbes, k)
      .select(col("q_id"), col("neighbor_id"))
    // r15 (ADVICE): componentsOver runs TWO actions on its input (the
    // bounded limit+count guard, then the collect / the propagation
    // loop) — cache the mutual edge frame so the IVF kNN join and the
    // mutuality self-join compute once, mirroring qDedupClusters'
    // cached pairs; unpersist once both actions have materialized it
    val mutual = knn.as("f")
      .join(knn.as("r"), col("f.q_id") === col("r.neighbor_id") &&
                         col("f.neighbor_id") === col("r.q_id"))
      .where(col("f.q_id") < col("f.neighbor_id"))
      .select(col("f.q_id").as("doc_a"), col("f.neighbor_id").as("doc_b"))
      .cache()
    try {
      // r14: the guarded chooser — driver union-find when the mutual
      // edge count (≤ n·k by construction) proves tiny, min-label
      // propagation otherwise; both paths gate-checked equal on the
      // dedup cluster queries, and on THIS operator's own edge set by
      // MutualKnnQualitySpec's forced-distributed twin (r15)
      Dedup.componentsOver(mutual, forceDistributed)
        .select(col("doc_id").as("vec_id"), col("cluster_id"))
        .orderBy("vec_id")
    } finally mutual.unpersist()
  }

  /** Hard-negative mining — the embedding-training companion of
    * top-k search: for each query vector, the k most-SIMILAR corpus
    * vectors whose `label` DIFFERS from the query's (contrastive /
    * triplet training wants exactly these — negatives the current
    * model already confuses with the anchor; random negatives are
    * too easy to carry gradient). Reference has no labeled-negative
    * op; this extends the sim_brute_force recipe with the label
    * constraint. Exact baseline: one corpus scan against the
    * broadcast query set with the label-mismatch predicate fused
    * into the join filter — the corpus is never shuffled, and rows
    * sharing the anchor's label are dropped BEFORE scoring reaches
    * the window. [[qSimHardNegativesScaled]] is the √n-cell path. */
  def qSimHardNegatives(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val q = emb.where(col("vec_id") < NumQueries)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"),
              col("label").as("q_label"))
    val scored = emb.crossJoin(broadcast(q))
      .where(col("vec_id") =!= col("q_id") && col("label") =!= col("q_label"))
      .withColumn("sim", cosine(col("q_vec"), col("embedding")))
    val w = Window.partitionBy("q_id").orderBy(desc("sim"), col("vec_id"))
    scored
      .withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= TopK)
      .select(col("q_id"), col("rank"), col("vec_id").as("neighbor_id"),
              col("label").as("neg_label"),
              graft.functions.Text.roundPortable(col("sim"), 4).as("sim"))
      .orderBy("q_id", "rank")
  }

  /** Hard-negative mining at scale: the [[qSimIvfScaled]] probe
    * recipe (√n cells from footer metadata, map-only
    * [[graft.functions.NearestCells]] assignment, nprobe=2) with the
    * label-mismatch predicate fused into the bucket equi-join — so
    * mining negatives for a batch of anchors costs one corpus scan
    * plus one broadcast, the same plan shape as search. Negatives
    * come only from probed cells: a label-sparse cell can yield
    * fewer than k (the oracle unrolls the same rule — approximate BY
    * DESIGN, like every sim_ivf_* gate). */
  def qSimHardNegativesScaled(spark: SparkSession, dir: String): DataFrame = {
    val n = Tables.parquetRowCount(spark, s"$dir/embeddings.parquet")
    val emb = Tables.embeddings(spark, dir)
    val cents = collectCentroids(centroidsOf(emb, scaledCentroids(n)))
    val assigned = emb.select(col("vec_id"), col("embedding"), col("label"),
      explode(graft.functions.NearestCells.nearestCells(
        col("embedding"), cents, 1)).as("bucket"))
    val q = emb.where(col("vec_id") < NumQueries)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"),
              col("label").as("q_label"),
        explode(graft.functions.NearestCells.nearestCells(
          col("embedding"), cents, NumProbes)).as("q_bucket"))
    val w = Window.partitionBy("q_id").orderBy(desc("sim"), col("vec_id"))
    assigned.join(broadcast(q),
        col("bucket") === col("q_bucket") &&
        col("vec_id") =!= col("q_id") && col("label") =!= col("q_label"))
      .withColumn("sim", cosine(col("q_vec"), col("embedding")))
      .withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= TopK)
      .select(col("q_id"), col("rank"), col("vec_id").as("neighbor_id"),
              col("label").as("neg_label"),
              graft.functions.Text.roundPortable(col("sim"), 4).as("sim"))
      .orderBy("q_id", "rank")
  }

  /** Triplet mining — one pass producing what contrastive training
    * consumes per anchor: the nearest SAME-label vector (positive),
    * the nearest DIFFERENT-label vector (hard negative,
    * [[qSimHardNegatives]]'s top-1), and the margin between them
    * (margin ≤ 0 flags anchors the labeling itself confuses — the
    * rows a curation pass should inspect). ONE corpus scan: the
    * scored candidates reduce through a single conditional-max_by
    * aggregate — no self-join of the scored frame and no rank
    * window, so the corpus is read once, never shuffled, and the one
    * exchange carries only per-task partial maxima. Margin is
    * computed on UNROUNDED sims, then rounded once — rounding the
    * operands first would make margin disagree with pos−neg at the
    * 4th decimal. At corpus scale the negative side swaps in the
    * [[qSimHardNegativesScaled]] probe recipe; the positive side
    * joins on the label column itself (labels partition the corpus,
    * so same-label candidate generation is an equi-join, not a
    * probe). */
  def qSimTriplets(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val q = emb.where(col("vec_id") < NumQueries)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"),
              col("label").as("q_label"))
    val scored = emb.crossJoin(broadcast(q))
      .where(col("vec_id") =!= col("q_id"))
      .withColumn("sim", cosine(col("q_vec"), col("embedding")))
      .withColumn("is_pos", col("label") === col("q_label"))
    // per-anchor argmax as conditional max_by AGGREGATION, not a rank
    // window: the aggregate combines map-side (each task reduces its
    // candidate slice to 4 values per anchor before the exchange), so
    // the one shuffle carries ~|anchors|·partitions rows — a window
    // would shuffle every scored candidate row to sort it. Ordering
    // key (sim, −vec_id): highest sim wins, ties to the LOWER id (the
    // qSimHardNegatives contract); max_by skips NULL keys, which is
    // how the is_pos split rides inside one aggregate.
    def bestKey(flag: Column) =
      when(flag, struct(col("sim"), (-col("vec_id")).as("nv")))
    scored
      .groupBy(col("q_id"))
      .agg(
        max_by(col("vec_id"), bestKey(col("is_pos"))).as("pos_id"),
        max(when(col("is_pos"), col("sim"))).as("pos_sim_raw"),
        max_by(col("vec_id"), bestKey(!col("is_pos"))).as("neg_id"),
        max(when(!col("is_pos"), col("sim"))).as("neg_sim_raw"))
      .select(col("q_id"),
        col("pos_id"),
        graft.functions.Text.roundPortable(col("pos_sim_raw"), 4).as("pos_sim"),
        col("neg_id"),
        graft.functions.Text.roundPortable(col("neg_sim_raw"), 4).as("neg_sim"),
        graft.functions.Text.roundPortable(
          col("pos_sim_raw") - col("neg_sim_raw"), 4).as("margin"))
      .orderBy("q_id")
  }

  /** The fixed-config k-NN-graph gate (8 cells, nprobe 2, k=3) the
    * oracle unrolls step for step. */
  def qSimKnnGraph(spark: SparkSession, dir: String): DataFrame =
    knnGraph(Tables.embeddings(spark, dir), NumCentroids, NumProbes, KnnK)

  /** The SCALE config: √n cells from parquet-footer metadata, so each
    * vector's candidate set stays ~nProbes·√n as the corpus grows —
    * building the n·k neighbor graph costs ~n^1.5 candidate scores
    * total, never n². Same sizing rule, and same oracle recipe, as
    * [[qDedupEmbeddingScaled]]. */
  def qSimKnnGraphScaled(spark: SparkSession, dir: String): DataFrame = {
    val n = Tables.parquetRowCount(spark, s"$dir/embeddings.parquet")
    knnGraph(Tables.embeddings(spark, dir), scaledCentroids(n), NumProbes, KnnK)
  }

  /** Corpora up to this size may use the exact all-pairs self-join;
    * beyond it the blocked path always runs (all-pairs is O(n²) in
    * the corpus — the one thing embedding dedup must never be at
    * 100 TB). Mirrors Dedup.DriverCcMaxEdges. */
  private[operators] val AllPairsMaxVectors = 10000L
  private val NumProbes = 2

  /** Exact all-pairs near-dup — the small-corpus oracle baseline
    * (private[graft]: IvfRecallSpec uses it as recall ground truth). */
  private[graft] def allPairsNearDup(emb: DataFrame): DataFrame = {
    val a = emb.select(col("vec_id").as("id_a"), col("embedding").as("v_a"))
    val b = emb.select(col("vec_id").as("id_b"), col("embedding").as("v_b"))
    a.crossJoin(b).where(col("id_a") < col("id_b"))
      .withColumn("sim", cosine(col("v_a"), col("v_b")))
      .where(col("sim") >= NearDupThreshold)
  }

  /** IVF-blocked near-dup: every vector is assigned to its `nProbes`
    * nearest of `numCentroids` deterministic centroids, candidates
    * are pairs sharing a bucket (an equi-join on the bucket id — the
    * only corpus-wide shuffle), and candidates alone get the exact
    * cosine verify. Same candidate-generation/verify split as the
    * LSH text dedups. Recall is the IVF trade (multi-probe is the
    * dial; pinned in IvfRecallSpec) — the all-pairs formulation is
    * the exact-recall alternative, legal only under
    * [[AllPairsMaxVectors]]. */
  private[graft] def blockedNearDup(emb: DataFrame, numCentroids: Int,
                                    nProbes: Int): DataFrame = {
    val assigned =
      nearestCentroids(emb, centroidsOf(emb, numCentroids), keep = nProbes)
        .select(col("vec_id"), col("bucket"))
    val cands = assigned.as("a")
      .join(assigned.as("b"),
        col("a.bucket") === col("b.bucket") &&
        col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("id_a"), col("b.vec_id").as("id_b"))
      .distinct()
    val ea = emb.select(col("vec_id").as("id_a"), col("embedding").as("v_a"))
    val eb = emb.select(col("vec_id").as("id_b"), col("embedding").as("v_b"))
    cands.join(ea, "id_a").join(eb, "id_b")
      .withColumn("sim", cosine(col("v_a"), col("v_b")))
      .where(col("sim") >= NearDupThreshold)
  }

  /** Embedding-cosine near-duplicate pairs, EXACT all-pairs — full
    * recall by construction, and the semantics its oracle gate
    * hash-checks at every size. O(n²) in the corpus, so it refuses
    * corpora above [[AllPairsMaxVectors]] with a pointer to the scale
    * operator instead of silently degrading recall under the same
    * name (a query named "exact" must never return approximate
    * results just because the input grew). */
  def qDedupEmbedding(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    // size guard from parquet FOOTER metadata — no job, no data scan
    // (round 4 paid a full count() scan per invocation here); early
    // exit means an over-bound corpus reads O(1) footers
    val n = Tables.parquetRowCount(spark, s"$dir/embeddings.parquet",
      stopAfter = AllPairsMaxVectors)
    require(n <= AllPairsMaxVectors,
      s"dedup_embedding is the exact all-pairs operator (O(n²)); corpus has " +
      s"≥$n > $AllPairsMaxVectors vectors. Use embeddingNearDupScaled / the " +
      s"dedup_embedding_blocked gate for the IVF-blocked scale path.")
    allPairsNearDup(emb)
      .select(col("id_a"), col("id_b"),
        graft.functions.Text.roundPortable(col("sim"), 4).as("sim"))
      .orderBy("id_a", "id_b")
  }

  /** Centroid count for the scale path: √n (floored at the fixed-gate
    * count) keeps expected bucket size ~√n, so per-bucket pair
    * generation totals ~n^1.5 instead of the pinned config's ~n²/8. */
  private[graft] def scaledCentroids(n: Long): Int =
    math.max(NumCentroids, math.ceil(math.sqrt(n.toDouble)).toInt)

  /** The scale API for embedding near-dup: IVF blocking with the
    * centroid count grown as √n, so bucket size stays ~√n and
    * per-bucket pair generation stays ~n^1.5 total rather than n².
    * Corpus size comes from parquet FOOTER metadata — building this
    * plan runs zero Spark jobs (the round-5 fix qDedupEmbedding got;
    * an emb.count() here cost a full scan per invocation). `nProbes`
    * is the recall/cost dial (each vector lands in its nProbes nearest
    * buckets; recall-vs-nprobe pinned in IvfRecallSpec), mirroring the
    * simhash banding dial. Approximate by construction; the
    * fixed-config variant is hash-gated as dedup_embedding_blocked,
    * this √n config as dedup_embedding_scaled. */
  def embeddingNearDupScaled(spark: SparkSession, dir: String,
                             nProbes: Int = NumProbes): DataFrame = {
    val n = Tables.parquetRowCount(spark, s"$dir/embeddings.parquet")
    blockedNearDup(Tables.embeddings(spark, dir), scaledCentroids(n), nProbes)
  }

  /** The √n-centroid gate: same output shape as the blocked gate, but
    * the centroid count is derived from the corpus the way the scale
    * API actually does it — so the plan you'd run at 100× is the
    * hash-checked one, not just the oracle-pinned toy config. */
  def qDedupEmbeddingScaled(spark: SparkSession, dir: String): DataFrame =
    embeddingNearDupScaled(spark, dir)
      .select(col("id_a"), col("id_b"),
        graft.functions.Text.roundPortable(col("sim"), 4).as("sim"))
      .orderBy("id_a", "id_b")

  /** The blocked-path gate: IVF blocking forced with the fixed
    * (numCentroids=8, nProbes=2) configuration the DuckDB oracle
    * reproduces step for step — so the scale path itself is
    * hash-checked, exactly like dedup_clusters_dist forces the
    * distributed components path. */
  def qDedupEmbeddingBlocked(spark: SparkSession, dir: String): DataFrame =
    blockedNearDup(Tables.embeddings(spark, dir), NumCentroids, NumProbes)
      .select(col("id_a"), col("id_b"),
        graft.functions.Text.roundPortable(col("sim"), 4).as("sim"))
      .orderBy("id_a", "id_b")

  /** Semantic decontamination — the embedding-space twin of the
    * n-gram [[TextAnalysis.qDecontaminate]]: flag training vectors
    * whose embedding sits within the near-dup threshold of an EVAL
    * vector (paraphrased benchmark leakage that no token-overlap
    * check can see). One-sided by construction, like the Bloom
    * decontaminator: the eval slice is tiny, so it broadcasts with
    * its `nProbes` nearest cells while the corpus side keeps the
    * map-only single-cell assignment — flagging costs one corpus
    * scan + one broadcast join, the [[qSimHardNegativesScaled]] plan
    * shape with a threshold in place of top-k. A train vector sits
    * in exactly one cell and an eval vector's probes are distinct
    * cells, so a (train, eval) pair is generated at most once — no
    * dedup pass. √n cells from footer metadata.
    *
    * Both dials lean toward RECALL, deliberately diverging from the
    * dedup family: a missed near-dup costs a duplicate training
    * document, a missed contamination poisons an eval metric. So the
    * threshold sits BELOW the dedup family's ([[DecontThreshold]] <
    * [[NearDupThreshold]] — flags are advisory, a false positive
    * costs a review) and the eval side probes twice as many cells
    * ([[DecontProbes]]) — widening the tiny broadcast side is nearly
    * free while the corpus side stays single-cell. */
  def qSemanticDecontaminate(spark: SparkSession, dir: String): DataFrame = {
    val n = Tables.parquetRowCount(spark, s"$dir/embeddings.parquet")
    val emb = Tables.embeddings(spark, dir)
    val cents = collectCentroids(centroidsOf(emb, scaledCentroids(n)))
    val train = emb.where(col("vec_id") >= EvalSliceSize)
      .select(col("vec_id"), col("embedding"),
        explode(graft.functions.NearestCells.nearestCells(
          col("embedding"), cents, 1)).as("bucket"))
    val ev = emb.where(col("vec_id") < EvalSliceSize)
      .select(col("vec_id").as("eval_id"), col("embedding").as("e_vec"),
        explode(graft.functions.NearestCells.nearestCells(
          col("embedding"), cents, DecontProbes)).as("e_bucket"))
    train.join(broadcast(ev), col("bucket") === col("e_bucket"))
      .withColumn("sim", cosine(col("embedding"), col("e_vec")))
      .where(col("sim") >= DecontThreshold)
      .select(col("vec_id"), col("eval_id"),
        graft.functions.Text.roundPortable(col("sim"), 4).as("sim"))
      .orderBy("vec_id", "eval_id")
  }

  /** Eval-slice size for [[qSemanticDecontaminate]] — wider than the
    * 10-query search slice so the gate exercises a plural held-out
    * set. */
  private val EvalSliceSize = 50
  private val DecontProbes = 4
  private val DecontThreshold = 0.40

  // ---------------------------------------------------------------
  // Materialized IVF index: build once, search many. Every ivfSearch
  // invocation above recomputes assignment + SQ8 codes from the raw
  // vectors — fine for a one-shot query, wrong for a served index at
  // 100 TB where build cost must amortize over queries. The split:
  //   build  = one corpus pass → catalog table (vec_id, bucket, vmin,
  //            scl, codes) BUCKETED by the cell id (+ a tiny
  //            <name>_centroids table holding the coarse quantizer);
  //   search = rank the query batch against the broadcast centroid
  //            table, collect the probed cell ids (|q|·nprobe ints —
  //            the query PLANNING step every ANN engine does
  //            driver-side), and scan ONLY those cells: the isin
  //            filter on the bucketing column prunes file buckets at
  //            the scan (SelectedBucketsCount in the plan), so search
  //            never touches — or shuffles — the rest of the index.
  // IvfIndexSpec pins both properties (single corpus-free search scan
  // + bucket pruning); the sim_ivf_indexed gate hash-checks that the
  // stored-codes path reproduces sim_ivf_sq8 exactly.
  // ---------------------------------------------------------------

  /** File-bucket count for the index table. More file buckets than
    * Spark's max-parallelism makes tiny files; fewer than the
    * centroid count only coarsens pruning (a file bucket holds
    * several cells). 32 matches the session's shuffle width. */
  private val IndexFileBuckets = 32

  /** One-pass index build: nearest-centroid assignment + SQ8
    * quantization, persisted bucketed-and-sorted by cell id so a
    * probe's cells are co-located and prunable. Vectors are NOT
    * stored — codes + (vmin, scl) are the 4×-smaller memory contract;
    * `recon = vmin + code·scl` at search time is bit-identical to
    * the recompute path's [[Vectors.sq8ReconWith]]. Build-once
    * ([[graft.sources.StandingTable]]): the stamp is the corpus
    * fingerprint plus the build dials, so a gate (or a serving
    * session) re-entering the build for an UNCHANGED corpus skips
    * straight to search instead of rewriting the table per query
    * batch. */
  def buildIvfIndex(spark: SparkSession, dir: String, name: String,
                    numCentroids: Int = NumCentroids,
                    twoLevel: Boolean = false): Unit =
    StandingTable.buildOnce(spark, name,
        graft.core.ModelCache.fingerprint(s"$dir/embeddings.parquet") +
          s"|$numCentroids|$twoLevel",
        Seq(s"${name}_centroids")) {
      buildIvfIndexFrom(Tables.embeddings(spark, dir), name, numCentroids,
        twoLevel)
    }

  /** Table property recording which coarse-assignment rule built the
    * index (`flat` exact argmax vs `twolevel` hierarchical). Appends
    * and searches READ the mode from the catalog instead of taking a
    * parameter: an append or probe under the other rule would
    * silently put vectors and queries in different cells than the
    * build did — the same divergence class the quantizer-retrain ban
    * guards against. The staged swap carries it with every other
    * `graft.*` property. */
  private val AssignModeProp = "graft.assign"

  /** Per-(session, table) memo for the assignment mode. The property
    * is immutable after build — [[buildIvfIndexFrom]] re-stamps the
    * memo, and the two staged-swap rewrites ([[deleteFromIvfIndex]],
    * [[compactIvfIndex]]) carry the property and invalidate the entry
    * anyway, as the only catalog mutations after build — so a cached
    * read can never be stale. Without the memo every search paid a
    * catalog-property read + collect per query (the r11
    * sim_ivf_indexed regression); a served index answering thousands
    * of query batches should hit the catalog once. Keyed on the
    * session INSTANCE: a new session (new catalog view) re-reads. */
  private val assignModeMemo =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), Boolean]

  private def assignModeOf(spark: SparkSession, name: String): Boolean =
    assignModeMemo.computeIfAbsent((spark, name), _ =>
      StandingTable.prop(spark, name, AssignModeProp).contains("twolevel"))

  /** Index rows for any vector frame against a given quantizer —
    * the one definition shared by full build and incremental append
    * (an appended vector must land exactly where a rebuild would put
    * it, or the index silently diverges from its own gate). */
  private def indexRows(vectors: DataFrame, cent: DataFrame,
                        twoLevel: Boolean): DataFrame = {
    val assign = if (twoLevel) nearestCentroidsTwoLevel _
                 else nearestCentroids _
    assign(vectors, cent, 1)
      .withColumn("vd", col("embedding").cast("array<double>"))
      .withColumn("vmin", array_min(col("vd")))
      .withColumn("vmax", array_max(col("vd")))
      .withColumn("scl", (col("vmax") - col("vmin")) / lit(255.0))
      .withColumn("codes", Vectors.sq8CodesWith(
        col("vd"), col("vmin"), col("vmax"), col("scl")))
      .select("vec_id", "bucket", "vmin", "scl", "codes")
  }

  /** [[buildIvfIndex]] over an explicit vector frame (corpus slices,
    * tests). The coarse quantizer is trained (= taken) from THIS
    * frame and persisted alongside; appends never retrain it. With
    * `twoLevel` the corpus is assigned through the hierarchical
    * quantizer — the build-side answer to the flat scan's
    * O(√n·dim)/row assignment cost, which at 10¹⁰ vectors dominates
    * the build (the search-side twin is sim_ivf_2level_scaled). The
    * mode is stamped on the table so append/search can't diverge. */
  private[graft] def buildIvfIndexFrom(emb: DataFrame, name: String,
                                       numCentroids: Int,
                                       twoLevel: Boolean = false): Unit = {
    val cent = centroidsOf(emb, numCentroids)
    graft.sources.Readers.saveBucketedTable(indexRows(emb, cent, twoLevel),
      name, buckets = IndexFileBuckets, bucketCol = "bucket")
    graft.sources.Readers.replaceTable(cent, s"${name}_centroids")
    StandingTable.setProps(emb.sparkSession, name,
      AssignModeProp -> (if (twoLevel) "twolevel" else "flat"))
    assignModeMemo.put((emb.sparkSession, name), twoLevel)
  }

  /** INCREMENTAL index maintenance — the search-side twin of the
    * incremental dedup batch: new vectors are assigned and quantized
    * against the PERSISTED quantizer (never retrained — the standard
    * IVF append contract) and their rows appended to the bucketed
    * table. Cost is one pass over the batch; existing cells are
    * untouched, so a 100 TB index absorbs a daily batch without a
    * rebuild. The build-once stamp drops to "appended". IvfIndexSpec
    * pins append ≡ full rebuild. */
  def appendToIvfIndex(spark: SparkSession, name: String,
                       batch: DataFrame): Unit = {
    indexRows(batch, spark.table(s"${name}_centroids"),
        assignModeOf(spark, name))
      .write.bucketBy(IndexFileBuckets, "bucket").sortBy("bucket")
      .mode(org.apache.spark.sql.SaveMode.Append).saveAsTable(name)
    StandingTable.markAppended(spark, name)
  }

  /** IVF-INDEX DELETION — takedown maintenance for the vector store
    * (erasure requests, decontamination purges): the batch of vec_ids
    * anti-joins away through the staged swap
    * ([[graft.sources.StandingTable.rewrite]]); the CENTROIDS — the
    * trained model — stay, so deletion commutes with append exactly:
    * append(B) then delete(B) restores the original index rows
    * bit-for-bit (IvfIndexSpec pins it), and post-delete search is
    * the pre-delete ranking with the deleted ids removed (scores are
    * per-row cosines — no survivor's score can move). The mode stamp
    * carries (a deleted two-level index must not read back flat);
    * the build-once stamp drops to "mutated". */
  def deleteFromIvfIndex(spark: SparkSession, name: String,
                         ids: DataFrame): Unit = {
    StandingTable.rewrite(spark, name, IndexFileBuckets, "bucket")(
      _.join(broadcast(ids.select("vec_id")), Seq("vec_id"), "left_anti"))
    assignModeMemo.remove((spark, name))
  }

  /** COMPACTION — the maintenance half of the append story: every
    * [[appendToIvfIndex]] batch adds a file set (up to one file per
    * file-bucket per writing task), so daily appends at scale are a
    * small-files explosion — each probed cell degrades into many tiny
    * reads. When the file count passes `maxFilesPerBucket` per file
    * bucket, the index is rewritten in one distributed, bucket-aligned
    * pass through the staged swap
    * ([[graft.sources.StandingTable.compact]]), leaving one file per
    * occupied file bucket. Returns whether a rewrite happened.
    * IvfIndexSpec pins compacted search ≡ rebuild search, the
    * file-count bound, and crash-heal. */
  def compactIvfIndex(spark: SparkSession, name: String,
                      maxFilesPerBucket: Int = 2): Boolean = {
    val rewrote = StandingTable.compact(spark, name, IndexFileBuckets,
      "bucket", maxFilesPerBucket)
    assignModeMemo.remove((spark, name))
    rewrote
  }

  /** Search a built index: queries (a tiny slice) rank against the
    * broadcast centroid table, the probed cell ids are collected
    * driver-side (bounded by |queries|·nprobe — query planning, not a
    * data collect), and the index scan is pruned to those cells. The
    * corpus-side work per query batch is nprobe·|cell| rows of
    * `vmin + code·scl` reconstruction + one codegen'd cosine — no
    * assignment recompute, no quantization, no corpus shuffle. */
  def searchIvfIndex(spark: SparkSession, dir: String, name: String,
                     nProbes: Int = 1): DataFrame =
    searchIvfIndexFor(spark, name,
      Tables.embeddings(spark, dir).where(col("vec_id") < NumQueries), nProbes)

  /** [[searchIvfIndex]] over an explicit (vec_id, embedding) query
    * frame — the surface a SERVED index needs: query batches arrive
    * from anywhere (a stream, a request queue), the index is the
    * standing store. Per-batch cost is query planning (rank the batch
    * against the broadcast centroids, collect the probed cell ids)
    * plus a scan pruned to the probed cells. */
  private[graft] def searchIvfIndexFor(spark: SparkSession, name: String,
                                       queries: DataFrame,
                                       nProbes: Int): DataFrame = {
    val cent = spark.table(s"${name}_centroids")
    // probe under the index's OWN assignment rule (catalog-stamped):
    // a flat probe of a two-level index would rank cells the corpus
    // was never assigned under
    val assign = if (assignModeOf(spark, name)) nearestCentroidsTwoLevel _
                 else nearestCentroids _
    val q = assign(queries, cent, nProbes)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"),
              col("bucket").as("q_bucket"))
    val probed: Array[Long] =
      q.select("q_bucket").distinct().collect().map(_.getLong(0))
    val cells = spark.table(name)
      .where(col("bucket").isin(probed: _*))
      .withColumn("recon",
        transform(col("codes"), c => col("vmin") + c.cast("double") * col("scl")))
    val wRank = Window.partitionBy("q_id").orderBy(desc("sim"), col("vec_id"))
    cells.join(broadcast(q), col("bucket") === col("q_bucket") &&
                  col("vec_id") =!= col("q_id"))
      .withColumn("sim", cosine(col("q_vec"), col("recon")))
      .withColumn("rank", row_number().over(wRank).cast("long"))
      .where(col("rank") <= TopK)
      .select(col("q_id"), col("rank"), col("vec_id").as("neighbor_id"),
              graft.functions.Text.roundPortable(col("sim"), 4).as("sim"))
      .orderBy("q_id", "rank")
  }

  /** The build→search round trip as a gate: SAME oracle as
    * sim_ivf_sq8 (the stored codes reconstruct to the identical
    * scoring input), but the rows come off the persisted bucketed
    * index with pruning — so the served-index path, not just the
    * one-shot recompute, is hash-checked. */
  def qSimIvfIndexed(spark: SparkSession, dir: String): DataFrame = {
    buildIvfIndex(spark, dir, "ivf_sq8_index", NumCentroids)
    searchIvfIndex(spark, dir, "ivf_sq8_index", nProbes = 1)
  }

  /** The SCALED index round trip — the index a large corpus would
    * actually persist: √n cells from footer metadata, nprobe=2
    * search. Same oracle as sim_ivf_sq8_scaled (stored codes
    * reconstruct to the identical scoring input), so the production
    * index config, not just the toy, is hash-checked. */
  def qSimIvfIndexedScaled(spark: SparkSession, dir: String): DataFrame = {
    val n = Tables.parquetRowCount(spark, s"$dir/embeddings.parquet")
    buildIvfIndex(spark, dir, "ivf_sq8_index_scaled", scaledCentroids(n))
    searchIvfIndex(spark, dir, "ivf_sq8_index_scaled", NumProbes)
  }

  // ---------------------------------------------------------------
  // Sign-random-projection (SRP / hyperplane) LSH search — the
  // LSH-BUCKETED alternative to the IVF family above. Where IVF
  // buckets by nearest centroid (data-dependent model state: the
  // quantizer must be trained, collected, broadcast, and kept in
  // sync between corpus and queries), SRP-LSH buckets by the SIGN
  // PATTERN of fixed random hyperplanes — zero model state, zero
  // training pass, and a vector's bucket is a pure projection of the
  // vector itself. That makes it the natural choice when the corpus
  // is append-heavy (no quantizer to retrain or stamp) or when
  // bucketing must be computable independently by writers that share
  // nothing but the plane seed. The price: buckets are not adapted
  // to the data distribution, so recall per probed candidate is
  // below a trained IVF's (pinned against brute force in
  // LshSearchSpec, like the IVF paths in IvfRecallSpec).
  //
  // Scale shape: signature computation is MAP-ONLY (literal
  // Rademacher planes — the emb_project_rp convention — folded in a
  // codegen'd HOF; no join, no model collect); candidate generation
  // is an EQUI-JOIN on (band_idx, band_value) — with a tiny query
  // slice the query side broadcasts and the corpus is scanned once,
  // with a large query batch both sides hash-partition by band and
  // it is one shuffle each; the exact re-rank touches only
  // candidates. Bits per band must grow with the corpus to hold
  // bucket size (n/2^bits rows expected per band bucket) —
  // [[lshBitsForN]] steps 8 → 16 → 24 by footer count, the
  // hashPrefixLenFor regime-switch pattern (Packing.scala).
  // ---------------------------------------------------------------

  private val LshBands = 4
  private val LshBitsFixed = 8

  /** Bits per band for a corpus of n vectors: 2^bits band buckets
    * should not be far below n, or every bucket is a candidate
    * flood — 8 bits to 64 k vectors, 16 to 256 M, 24 beyond (at
    * n=10¹⁰: 16.7 M buckets/band, ~600 rows each — the same bounded-
    * bucket contract as the √n-cell IVF sizing). Integer thresholds,
    * no float log — exact in both engines. */
  private[graft] def lshBitsForN(n: Long): Int =
    if (n < (1L << 16)) 8 else if (n < (1L << 28)) 16 else 24

  /** SRP per-plane agreement for a target cosine s — the sign-random-
    * projection collision identity p = 1 − θ/π, θ = arccos(s). */
  private[graft] def srpPlaneAgreement(sim: Double): Double =
    1.0 - math.acos(math.max(-1.0, math.min(1.0, sim))) / math.Pi

  /** Expected recall of a banded search at `bits`/band with Hamming-
    * `flips` probing over [[LshBands]] bands for a TARGET similarity:
    * a band (probe ball included) matches with
    * P = Σ_{i≤flips} C(bits,i)·p^(bits−i)·(1−p)^i, and any of the B
    * independent bands suffices ⇒ recall ≈ 1 − (1−P)^B. The r11
    * measurements validate the model at both regimes: it predicts
    * 0.92 at 8 bits (measured 94 %) and 0.22 at 16 bits (measured
    * 14 %) for the fixture's ~0.5-cosine top-k — the collapse the
    * round-11 [lsh] table priced (`git show ab6c630:SCALING.md`). */
  private[graft] def lshSearchRecallEstimate(bits: Int, flips: Int,
                                             sim: Double): Double = {
    val p = srpPlaneAgreement(sim)
    def choose(n: Int, k: Int): Double =
      (0 until k).map(i => (n - i).toDouble / (i + 1)).product
    val pBand = (0 to flips).map(i =>
      choose(bits, i) * math.pow(p, bits - i) * math.pow(1 - p, i)).sum
    1.0 - math.pow(1.0 - pBand, LshBands)
  }

  /** Recall floor the search-bits rule holds at the target
    * similarity — below it the Hamming ball can't span the expected
    * plane disagreement and banding stops finding what the caller
    * asked for (the measured 16-bit collapse). */
  private val LshSearchRecallFloor = 0.9

  /** Default target similarity for top-k search dials: moderate-
    * similarity neighbors (~0.5 cosine) are what generic top-k
    * retrieval hunts — the adversarial regime for SRP-LSH, so dialing
    * for it is the conservative choice. Tight-similarity use cases
    * (dedup) have their own stricter rule ([[lshPairBitsForN]]). */
  private[graft] val LshTargetSearchSim = 0.5

  /** SIMILARITY-AWARE search bits — the r11 guidance ("banding dials
    * must be cut from the TARGET similarity, not corpus size alone")
    * codified: the corpus-size rule [[lshBitsForN]] sets the CEILING
    * (bucket-fill control wants fine bands), and the target-similarity
    * recall model caps it from above — the largest bits ≤ the size
    * rule whose estimated recall clears [[LshSearchRecallFloor]],
    * floored at 8. When the cap bites, buckets run fuller than the
    * size rule wants (n/2^bits rows) — the honest price of recall at
    * moderate similarity; [[lshSearchGuard]] names it at analysis
    * time so a caller can switch to IVF or add bands instead. */
  private[graft] def lshSearchBitsFor(
      n: Long, targetSim: Double = LshTargetSearchSim,
      flips: Int = LshFlips): Int = {
    val sizeBits = lshBitsForN(n)
    (sizeBits to 8 by -1).find(b =>
      lshSearchRecallEstimate(b, flips, targetSim) >= LshSearchRecallFloor)
      .getOrElse(8)
  }

  /** Analysis-time guard for the search dials: names the tradeoff
    * whenever the similarity cap overrode the bucket-size rule (fuller
    * buckets ⇒ more candidates per probe), or — the unfixable case —
    * even 8-bit bands can't clear the floor at the target similarity
    * (use IVF). None = the dials are clean. */
  private[graft] def lshSearchGuard(
      n: Long, targetSim: Double = LshTargetSearchSim,
      flips: Int = LshFlips): Option[String] = {
    val sizeBits = lshBitsForN(n)
    val bits = lshSearchBitsFor(n, targetSim, flips)
    val est = lshSearchRecallEstimate(bits, flips, targetSim)
    if (est < LshSearchRecallFloor)
      Some(f"LSH search recall ~$est%.2f at $bits bits for target " +
        f"similarity $targetSim%.2f — below the $LshSearchRecallFloor%.2f " +
        "floor even at the 8-bit minimum; the Hamming ball cannot span " +
        "the expected plane disagreement. Use the IVF family for " +
        "moderate-similarity top-k, or raise bands.")
    else if (bits < sizeBits)
      Some(f"target similarity $targetSim%.2f caps bands at $bits bits " +
        f"(size rule wants $sizeBits): expected band-bucket fill is " +
        f"~${n / (1L << bits)} rows — candidate volume grows accordingly; " +
        "IVF or more bands trade that back.")
    else None
  }

  /** Deterministic Rademacher hyperplane component for (plane, dim) —
    * the [[Vectors.qEmbProjectRp]] seed convention: the sign is the
    * first md5 hex digit of "lsh|plane|dim". Computed driver-side at
    * plan build and baked into the plan as literals: the planes ARE
    * the model, and they cost nothing to "train" or ship. */
  private def lshSign(p: Int, i: Int): Double = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(s"lsh|$p|$i".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    if (hex.charAt(0) < '8') 1.0 else -1.0
  }

  /** The [[LshBands]] band values of a (float-array) vector column:
    * plane p's bit is [dot(v, plane_p) >= 0], band b packs its
    * `bits` consecutive planes MSB-first. One codegen'd fold per
    * plane over the literal sign array — map-only, no exchange. */
  private def lshBandValues(vec: Column, bits: Int): Column = {
    val v = vec.cast("array<double>")
    def bit(p: Int): Column = {
      val signs = Array.tabulate(64)(i => lshSign(p, i))
      when(aggregate(zip_with(v, typedlit(signs), (x, s) => x * s),
        lit(0.0), (acc, t) => acc + t) >= 0, lit(1L)).otherwise(lit(0L))
    }
    array((0 until LshBands).map { b =>
      (0 until bits).map(j =>
        bit(b * bits + j) * lit(1L << (bits - 1 - j))
      ).reduce(_ + _)
    }: _*)
  }

  /** The Hamming-`flips` probe ball around a `band_val` column:
    * the value itself, every 1-bit flip (flips≥1), every 2-bit flip
    * (flips≥2) — literal-unrolled at plan build (1 + bits +
    * C(bits,2) values). Shared by the search and pair probes. */
  private def lshProbeValues(bits: Int, flips: Int): Column = {
    val v = col("band_val")
    val flip1 = (0 until bits).map(j => v.bitwiseXOR(lit(1L << j)))
    val flip2 = for (j <- 0 until bits; k <- j + 1 until bits)
      yield v.bitwiseXOR(lit((1L << j) | (1L << k)))
    array(Seq(v) ++ (if (flips >= 1) flip1 else Nil)
                 ++ (if (flips >= 2) flip2 else Nil): _*)
  }

  /** SRP-LSH top-k: corpus and queries banded by [[lshBandValues]],
    * candidates = pairs sharing ANY band (distinct-folded — a pair
    * can collide in up to [[LshBands]] bands), exact cosine re-rank,
    * top-[[TopK]]. Output shape and tie rule match the IVF gates.
    *
    * `flips` is MULTI-PROBE: each query band additionally probes
    * every band value within Hamming distance `flips` of its own —
    * the standard way SRP-LSH buys recall without more tables. The
    * probe set (1 + bits + C(bits,2) values at flips=2) is expanded
    * on the QUERY side only, literal-unrolled at plan build (bits is
    * known), so the corpus side stays one map-only banding pass
    * whatever the probe width. */
  private[graft] def lshSearch(emb: DataFrame, bits: Int,
                               flips: Int = 0): DataFrame = {
    def banded(df: DataFrame): DataFrame =
      df.select(col("vec_id"), col("embedding"),
        posexplode(lshBandValues(col("embedding"), bits))
          .as(Seq("band_idx", "band_val")))
    val corpus = banded(emb)
    val probeVals = lshProbeValues(bits, flips)
    val q = banded(emb.where(col("vec_id") < NumQueries))
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"),
              col("band_idx").as("q_band_idx"),
              explode(probeVals).as("q_band_val"))
    val cand = corpus.join(broadcast(q),
        col("band_idx") === col("q_band_idx") &&
        col("band_val") === col("q_band_val") &&
        col("vec_id") =!= col("q_id"))
      // a pair colliding in several bands is one candidate: fold to
      // (q_id, vec_id) carrying the vectors (first() over identical
      // values) — one hash-shuffle of candidate rows only
      .groupBy(col("q_id"), col("vec_id"))
      .agg(first(col("q_vec")).as("q_vec"),
           first(col("embedding")).as("embedding"))
    val wRank = Window.partitionBy("q_id").orderBy(desc("sim"), col("vec_id"))
    cand
      .withColumn("sim", cosine(col("q_vec"), col("embedding")))
      .withColumn("rank", row_number().over(wRank).cast("long"))
      .where(col("rank") <= TopK)
      .select(col("q_id"), col("rank"), col("vec_id").as("neighbor_id"),
              graft.functions.Text.roundPortable(col("sim"), 4).as("sim"))
      .orderBy("q_id", "rank")
  }

  /** The FIXED-config LSH gate (4 bands × 8 bits) whose oracle
    * unrolls the plane/band/candidate algebra step for step. */
  def qSimLshCosine(spark: SparkSession, dir: String): DataFrame =
    lshSearch(Tables.embeddings(spark, dir), LshBitsFixed)

  /** LSH NEAR-DUP PAIRS — the model-free twin of
    * [[blockedNearDup]]'s IVF blocking: candidate pairs collide in
    * some band within Hamming distance `flips` (the lower-id side
    * carries the probe ball, so each qualifying pair is generated
    * once per band and distinct-folded), then exact cosine verify at
    * [[NearDupThreshold]]. No quantizer to train, collect, stamp, or
    * keep in sync — a vector's buckets are a pure projection of the
    * vector, so append-heavy / multi-writer corpora can band
    * independently sharing nothing but the plane seed.
    *
    * The regime contract (pinned in LshSearchSpec): at the TIGHT
    * similarities dedup actually hunts (copies/re-encodes, cosine
    * ≥0.9, per-plane agreement ≥0.9) banding recalls ~100 % of
    * planted pairs at a ~10⁻³ candidate fraction even in the 16-bit
    * regime; at the borderline 0.45-threshold regime (per-plane
    * ~0.65) recall is honestly partial — the IVF-blocked path is the
    * tool there. Candidate volume per vector is
    * ~bands·(bits+1)·n/2^bits, which the [[lshBitsForN]] rule holds
    * to the same order as the IVF path's nprobe·√n. */
  private[graft] def lshNearDupPairs(emb: DataFrame, bits: Int,
                                     flips: Int = 1): DataFrame = {
    // banding drops the vector immediately: candidate generation and
    // dedupe move BARE ID PAIRS only. The first version carried both
    // 64-float embeddings through the candidate shuffle — ~0.5 KB per
    // candidate row, a 30 GB exchange at the 10× probe (measured
    // 70.8× wall-time blowup); bare ids cut the payload ~25×, and the
    // verify joins the vectors back AFTER distinct — the shape the
    // oracle (and every candidates-then-verify dedup here) uses.
    def banded(df: DataFrame): DataFrame =
      df.select(col("vec_id"),
        posexplode(lshBandValues(col("embedding"), bits))
          .as(Seq("band_idx", "band_val")))
    val corpus = banded(emb)
      .select(col("vec_id").as("id_b"),
              col("band_idx").as("b_band_idx"), col("band_val").as("b_band_val"))
    val probe = banded(emb)
      .select(col("vec_id").as("id_a"),
              col("band_idx"), explode(lshProbeValues(bits, flips)).as("p_val"))
    val cand = probe.join(corpus,
        col("band_idx") === col("b_band_idx") &&
        col("p_val") === col("b_band_val") &&
        col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
    cand
      .join(emb.select(col("vec_id").as("id_a"), col("embedding").as("v_a")), "id_a")
      .join(emb.select(col("vec_id").as("id_b"), col("embedding").as("v_b")), "id_b")
      .withColumn("sim", cosine(col("v_a"), col("v_b")))
      .where(col("sim") >= NearDupThreshold)
      .select(col("id_a"), col("id_b"),
        graft.functions.Text.roundPortable(col("sim"), 4).as("sim"))
      .orderBy("id_a", "id_b")
  }

  /** Bits per band for PAIR generation — a stricter rule than the
    * search-side [[lshBitsForN]], because pair cost is quadratic in
    * bucket size: candidates ≈ bands·(bits+1)·n·(n/2^bits), so the
    * expected band bucket must stay O(1) (here ≤4: smallest b in
    * [8, 24] with 2^b ≥ n/4), making candidate volume ~linear in n.
    * The search rule's coarser 8/16/24 steps left a 10× corpus at
    * 81-row buckets — measured 60 M candidate rows and a 70.8×
    * wall-time ratio before this rule split off. Tight pairs survive
    * finer bands easily (per-plane agreement ≥0.9 ⇒ Hamming-1 band
    * recall ≥0.86 even at b=16 — the [lshplant] table). Integer
    * thresholds, exact in both engines. */
  private[graft] def lshPairBitsForN(n: Long): Int =
    (8 to 24).find(b => n <= 4L * (1L << b)).getOrElse(24)

  /** The LSH near-dup gate: pair-generation bits from footer
    * metadata ([[lshPairBitsForN]]), Hamming-1 probing — the
    * configuration the planted-pair probe prices. Output shape
    * matches the dedup_embedding family (a strict, verified SUBSET
    * of the exact gate's pairs — banding only generates candidates,
    * never scores). */
  def qDedupEmbeddingLsh(spark: SparkSession, dir: String): DataFrame = {
    val n = Tables.parquetRowCount(spark, s"$dir/embeddings.parquet")
    lshNearDupPairs(Tables.embeddings(spark, dir), lshPairBitsForN(n))
  }

  /** Multi-probe flips for the scale config: Hamming-2 probing
    * (1 + bits + C(bits,2) probe values per query band — 37 at 8
    * bits, 137 at 16) measured at the fixture's near-orthogonal
    * worst case: recall@5 0.06 → 0.86 over exact probing
    * (LshSearchSpec). Query-side only — corpus cost is unchanged. */
  private val LshFlips = 2

  /** The SCALE config: bits per band from footer metadata plus
    * Hamming-2 MULTI-PROBE on the query side ([[LshFlips]]), so the
    * plan a 100 TB corpus runs — not just the toy dial — is
    * hash-checked. Bits come from the SIMILARITY-AWARE rule
    * ([[lshSearchBitsFor]] — zero jobs at plan build): the corpus-size
    * rule capped by the target-similarity recall model, so the 40×
    * regime that used to step to 16 bits and collapse to 14 % recall
    * (round 11, `git show ab6c630:SCALING.md`) now stays at the
    * recall-holding width. At fixture sizes both rules floor at the
    * fixed gate's 8. */
  def qSimLshCosineScaled(spark: SparkSession, dir: String): DataFrame = {
    val n = Tables.parquetRowCount(spark, s"$dir/embeddings.parquet")
    lshSearch(Tables.embeddings(spark, dir), lshSearchBitsFor(n), LshFlips)
  }

  /** The TWO-LEVEL index round trip: √n cells, corpus assigned (and
    * queries probed) through the hierarchical quantizer, SQ8 codes
    * persisted, nprobe=2 — the full build recipe for a corpus whose
    * ASSIGNMENT pass, not just its search, must escape the flat
    * O(√n·dim)/row scan. The oracle composes the
    * sim_ivf_2level_scaled assignment algebra with the SQ8
    * reconstruct-and-score step, so the persisted hierarchical index
    * is hash-checked end to end (assignment deviates from the flat
    * gates BY DESIGN — this gate has its own oracle, like
    * sim_ivf_2level_scaled). */
  def qSimIvfTwoLevelIndexedScaled(spark: SparkSession,
                                   dir: String): DataFrame = {
    val n = Tables.parquetRowCount(spark, s"$dir/embeddings.parquet")
    buildIvfIndex(spark, dir, "ivf_2level_index_scaled", scaledCentroids(n),
      twoLevel = true)
    searchIvfIndex(spark, dir, "ivf_2level_index_scaled", NumProbes)
  }

  // --- Materialized PQ-code index ---------------------------------
  // The PQ twin of the SQ8 index above, with the honest deployment
  // split the recompute gates can't show: the persisted table holds
  // ONLY (vec_id, bucket, codes) — 8 codeword positions per vector,
  // 4 bits each at 16 codewords — plus two tiny model tables (coarse
  // quantizer, codebook). Raw vectors are NOT in the index; the exact
  // re-rank stage therefore has to go BACK to the corpus, which here
  // is a broadcast join of the shortlist (|q|·refine rows) against
  // the raw table — one streamed corpus scan, no shuffle. A serving
  // deployment upgrades that to point lookups; the semantics (and the
  // gate hashes) don't change.

  /** One-pass PQ index build: coarse assignment + PQ encoding,
    * persisted bucketed by cell id (same pruning story as the SQ8
    * index); quantizer and codebook saved alongside as model tables —
    * search must never re-derive a model from the corpus, or index
    * and corpus could silently disagree. */
  def buildPqIndex(spark: SparkSession, dir: String, name: String,
                   numCentroids: Int): Unit =
    // build-once (the [[buildIvfIndex]] stamp): an unchanged corpus
    // re-enters search directly instead of re-encoding per query batch
    StandingTable.buildOnce(spark, name,
        graft.core.ModelCache.fingerprint(s"$dir/embeddings.parquet") +
          s"|pq|$numCentroids",
        Seq(s"${name}_centroids", s"${name}_codebook")) {
      val emb = Tables.embeddings(spark, dir)
      val cent = centroidsOf(emb, numCentroids)
      val cb = pqCodebookOf(emb)
      // empty codebook ⇔ empty corpus: the assigned frame has no rows
      // (empty quantizer), so any codes column satisfies the schema —
      // but PqRecon's plan-build require must not fire
      val codesCol =
        if (cb.isEmpty) array().cast("array<int>")
        else graft.functions.PqRecon.pqCodes(col("embedding"), cb, PqNumSub)
      val rows = nearestCentroids(emb, cent, keep = 1)
        .select(col("vec_id"), col("bucket"), codesCol.as("codes"))
      graft.sources.Readers.saveBucketedTable(rows, name,
        buckets = IndexFileBuckets, bucketCol = "bucket")
      graft.sources.Readers.replaceTable(cent, s"${name}_centroids")
      graft.sources.Readers.replaceTable(
        emb.where(col("vec_id") < PqNumCodewords)
          .select(col("vec_id").as("cb_id"), col("embedding").as("cb_vec")),
        s"${name}_codebook")
    }

  /** Search a PQ index: probed cells pruned off the bucketed table,
    * codes decoded through the broadcast codebook (a builtin
    * flatten∘element_at lookup — [[graft.functions.PqRecon.pqDecode]]
    * reproduces the recompute path's reconstruction exactly), ADC
    * shortlist, then the exact re-rank as a broadcast join back to
    * the RAW corpus — the only stage that touches full vectors. */
  def searchPqIndex(spark: SparkSession, dir: String, name: String,
                    nProbes: Int, refine: Int): DataFrame = {
    val cent = spark.table(s"${name}_centroids")
    val cb = spark.table(s"${name}_codebook")
      .select(col("cb_id"), col("cb_vec").cast("array<double>"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
      .sortBy(_._1).toSeq
    val q = nearestCentroids(
        Tables.embeddings(spark, dir).where(col("vec_id") < NumQueries),
        cent, keep = nProbes)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"),
              col("bucket").as("q_bucket"))
    val probed: Array[Long] =
      q.select("q_bucket").distinct().collect().map(_.getLong(0))
    val reconCol =
      if (cb.isEmpty) col("codes").cast("array<double>")
      else graft.functions.PqRecon.pqDecode(col("codes"), cb, PqNumSub)
    val cells = spark.table(name)
      .where(col("bucket").isin(probed: _*))
      .withColumn("recon", reconCol)
    val wAdc = Window.partitionBy("q_id").orderBy(desc("sim_adc"), col("vec_id"))
    val shortlist = cells
      .join(broadcast(q), col("bucket") === col("q_bucket") &&
               col("vec_id") =!= col("q_id"))
      .withColumn("sim_adc", cosine(col("q_vec"), col("recon")))
      .withColumn("rank_adc", row_number().over(wAdc))
      .where(col("rank_adc") <= refine)
      .select(col("q_id"), col("q_vec"), col("vec_id"))
    val raw = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding").as("n_vec"))
    val wRank = Window.partitionBy("q_id").orderBy(desc("sim"), col("vec_id"))
    raw.join(broadcast(shortlist), "vec_id")
      .withColumn("sim", cosine(col("q_vec"), col("n_vec")))
      .withColumn("rank", row_number().over(wRank).cast("long"))
      .where(col("rank") <= TopK)
      .select(col("q_id"), col("rank"), col("vec_id").as("neighbor_id"),
              graft.functions.Text.roundPortable(col("sim"), 4).as("sim"))
      .orderBy("q_id", "rank")
  }

  /** PQ index round trip — SAME oracle as sim_ivf_pq: stored codes
    * decode to the identical ADC scoring input, the shortlist is the
    * same set, and the corpus join-back re-ranks it with the same
    * exact cosine. What the gate adds over the recompute twin is the
    * full build→persist→prune→decode→join-back path. */
  def qSimIvfPqIndexed(spark: SparkSession, dir: String): DataFrame = {
    buildPqIndex(spark, dir, "ivf_pq_index", NumCentroids)
    searchPqIndex(spark, dir, "ivf_pq_index", nProbes = 1, PqRefine)
  }

  /** The SCALED PQ index round trip (√n cells, nprobe 2, √n
    * shortlist) — same oracle as sim_ivf_pq_scaled. */
  def qSimIvfPqIndexedScaled(spark: SparkSession, dir: String): DataFrame = {
    val n = Tables.parquetRowCount(spark, s"$dir/embeddings.parquet")
    buildPqIndex(spark, dir, "ivf_pq_index_scaled", scaledCentroids(n))
    searchPqIndex(spark, dir, "ivf_pq_index_scaled", NumProbes, scaledRefine(n))
  }
}
