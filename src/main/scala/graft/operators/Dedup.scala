package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.{SimHash, Text}

/** Deduplication operators over the `documents` table — the
  * training-data-pipeline side of the engine. Four families:
  * exact (hash groupBy), MinHash+LSH (banded candidate join + exact
  * verify), n-gram Jaccard (prefix-filtered inverted index), SimHash
  * (custom expression + banded hamming verify). Embedding-cosine
  * near-dup lives in Similarity.scala.
  *
  * Scale notes: nothing here is quadratic in the corpus. Candidate
  * generation always goes through an equi-join on a hash bucket
  * (band or prefix shingle), i.e. a shuffle keyed on the bucket —
  * the standard way to dedup 100 TB. Only verified candidate *pairs*
  * (tiny) are ever joined back to full signatures, and cluster
  * labels are assigned by distributed min-label propagation, not a
  * driver-side pass.
  */
object Dedup {

  private val MinhashSeeds = 8  // 4 bands × 2 rows
  private val JaccardThreshold = 0.5
  private val NgramJaccardThreshold = 0.8
  // Of 64 bits. Over 3-gram shingles the planted near-dups sit at
  // hamming ≤ 7 and unrelated pairs at ≥ 16 — 12 splits them cleanly.
  // (Unigram-token simhash does NOT separate on this corpus: the
  // shared ~40-word vocab collapses token sets.)
  private val SimhashMaxHamming = 12

  /** |A ∩ B| of two DISTINCT-element string arrays (every shingle
    * array here comes from [[graft.functions.ShinglesW]], which
    * dedups) — the [[graft.functions.MultisetOverlap]] kernel, whose
    * min-count sum equals intersection cardinality on sets. Replaces
    * `size(array_intersect(a, b))` in the verify joins (r14):
    * array_intersect materializes the intersection ARRAY and re-dedups
    * its left side per row; the kernel is one hash-probe loop
    * returning the count. Same value on every pair, checked by
    * R14KernelsSpec. */
  private def interSize(a: org.apache.spark.sql.Column,
                        b: org.apache.spark.sql.Column) =
    graft.functions.MultisetOverlap.multisetOverlap(a, b)

  /** Exact dedup: canonical row per distinct text, by content hash
    * (groupBy md5 — one shuffle on the hash, min doc_id wins). */
  def qDedupExact(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .groupBy(md5(col("text")).as("fp"))
      .agg(min("doc_id").as("canonical_id"), count(lit(1)).as("n_copies"))
      .orderBy("canonical_id")

  /** Document signatures for any (doc_id, text) projection: distinct
    * 3-gram shingles + 8 minhashes + 4 LSH bands, as a PURE
    * PROJECTION — zero shuffle (r14, guide §2.4). [[Text.shingles3]]
    * already returns the distinct-shingle set per row, so the
    * previous explode + groupBy(doc_id) plan was re-aggregating a set
    * the scan stage had in hand: one corpus-wide ObjectHashAggregate
    * exchange (collect_set forces the non-codegen aggregate) spent
    * recovering its own input. [[graft.functions.MinHash8]] computes
    * the 8 seeded component minima in one static kernel per row —
    * bit-identical to `min(md5(concat("j|", sh)))` over the exploded
    * rows (the oracles' formulation, unchanged) — and the band md5s
    * are ordinary codegen'd builtins over its output. Docs with no
    * shingles (< 3 tokens) are dropped exactly as the explode
    * dropped them. Shared by the standalone LSH query, the cluster
    * query, the incremental/streaming dedups (where per-BATCH
    * signature shuffles used to be the recurring cost), and the
    * curation pipelines. */
  private[graft] def signaturesOf(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), Text.shingles3(col("text")).as("shingles"))
      .where(size(col("shingles")) > 0)
      .withColumn("mh", graft.functions.MinHashes.minhash8(col("shingles")))
      .withColumn("bands",
        array((0 until MinhashSeeds / 2).map(b =>
          Text.band(element_at(col("mh"), 2 * b + 1),
                    element_at(col("mh"), 2 * b + 2))): _*))
      .drop("mh")

  private def signatures(spark: SparkSession, dir: String): DataFrame =
    signaturesOf(Tables.documents(spark, dir))

  /** LSH candidate generation + exact-Jaccard verify over a
    * signature table: band equi-self-join (the only corpus-wide
    * shuffle) → distinct candidate pairs → exact verify touching
    * pairs only. Returns (doc_a, doc_b, jaccard ≥ threshold),
    * jaccard unrounded. Callers should cache `sigs`: it is read by
    * the band join (twice) and the verify join (twice). */
  private[operators] def lshVerifiedPairs(sigs: DataFrame): DataFrame = {
    val bands = sigs.select(col("doc_id"),
      posexplode(col("bands")).as(Seq("band_id", "bucket")))
    val cands = bands.as("a")
      .join(bands.as("b"),
        col("a.band_id") === col("b.band_id") &&
        col("a.bucket") === col("b.bucket") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    val sa = sigs.select(col("doc_id").as("doc_a"), col("shingles").as("sh_a"))
    val sb = sigs.select(col("doc_id").as("doc_b"), col("shingles").as("sh_b"))
    cands.join(sa, "doc_a").join(sb, "doc_b")
      .withColumn("inter", interSize(col("sh_a"), col("sh_b")))
      .withColumn("jaccard",
        col("inter") /
        (size(col("sh_a")) + size(col("sh_b")) - col("inter")))
      .where(col("jaccard") >= JaccardThreshold)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
  }

  /** MinHash+LSH near-dup detection: shingle → minhash → band →
    * bucket self-join → exact-Jaccard verify. The signature cache is
    * part of the returned (lazy) plan, so its lifetime is owned by
    * whoever runs the terminal action — Bench/Verify/ScaleProbe call
    * `spark.catalog.clearCache()` after each query. */
  def qDedupMinhashLsh(spark: SparkSession, dir: String): DataFrame = {
    val sigs = signatures(spark, dir).cache()
    lshVerifiedPairs(sigs)
      .select(col("doc_a"), col("doc_b"),
        Text.roundPortable(col("jaccard"), 6).as("jaccard"))
      .orderBy("doc_a", "doc_b")
  }

  /** INCREMENTAL near-dup: flag each new-batch document that is a
    * near-dup of the existing corpus, without ever pairing the corpus
    * against itself — the production shape for continuous ingestion
    * into a 100 TB corpus. The corpus side only contributes its
    * signatures (in production these are computed once at ingest and
    * stored; here they're derived on the fly from the corpus split),
    * the batch is shingled fresh, and the band join is batch×corpus —
    * so per-batch cost is O(batch + matched buckets), independent of
    * re-pairing corpus×corpus. Verification is exact Jaccard on the
    * candidate pairs only, same contract as [[lshVerifiedPairs]].
    * Returns one row per batch doc with ≥1 verified corpus match:
    * (doc_id, dup_of = min matching corpus id, n_matches,
    * best_jaccard = max verified jaccard). */
  private[operators] def incrementalNearDup(corpus: DataFrame,
                                            batch: DataFrame): DataFrame =
    incrementalNearDupSigs(signaturesOf(corpus).cache(), batch)

  /** The production entry: corpus SIGNATURES are computed once at
    * ingest (and in a long-running curation service cached/stored
    * across batches) — each incoming batch only shingles itself and
    * band-joins against the standing signature table. Batch results
    * compose: no batch-batch pairs are ever formed, so running
    * batches b₁…bₙ separately yields exactly the rows of one run
    * over b₁∪…∪bₙ (asserted by StreamingIncrementalDedupSpec, which
    * drives this from foreachBatch over a doc stream).
    *
    * Cache lifetime: the batch-signature cache is inside the returned
    * lazy plan, so the CALLER owns it after the terminal action. The
    * one-shot gates run under a harness that clears all caches per
    * query; a LONG-RUNNING foreachBatch driver must instead release
    * each batch's cache after consuming the result or the per-batch
    * frames accumulate in executor storage forever — that is what
    * [[incrementalNearDupBatch]] packages. */
  private[graft] def incrementalNearDupSigs(cs: DataFrame,
                                            batch: DataFrame): DataFrame =
    incrementalNearDupPrepared(cs, signaturesOf(batch).cache())

  /** [[incrementalNearDupSigs]] with the batch-cache lifecycle closed
    * over: computes the batch's signatures, caches them for the two
    * reads inside the plan (band join + verify), runs the terminal
    * collect, and unpersists ONLY the batch cache — the standing
    * corpus signatures stay resident for the next micro-batch. This
    * is the per-batch body a production foreachBatch service runs
    * (StreamReplays drives it for the stream_dedup_incremental gate). */
  private[graft] def incrementalNearDupBatch(
      cs: DataFrame, batch: DataFrame)(
      finish: DataFrame => Array[org.apache.spark.sql.Row]): Array[org.apache.spark.sql.Row] = {
    val bs = signaturesOf(batch).cache()
    try finish(incrementalNearDupPrepared(cs, bs))
    // Blocking: a long-running foreachBatch service must not let batch
    // caches outlive their batch — deferred (async) cleanup under load is
    // exactly how such a service accumulates storage across micro-batches.
    finally bs.unpersist(blocking = true)
  }

  private def incrementalNearDupPrepared(cs: DataFrame,
                                         bs: DataFrame): DataFrame = {
    def bandsOf(sigs: DataFrame, idAs: String) =
      sigs.select(col("doc_id").as(idAs),
        posexplode(col("bands")).as(Seq("band_id", "bucket")))
    val cands = bandsOf(bs, "b_id")
      .join(bandsOf(cs, "c_id"), Seq("band_id", "bucket"))
      .select("b_id", "c_id").distinct()
    val shB = bs.select(col("doc_id").as("b_id"), col("shingles").as("sh_b"))
    val shC = cs.select(col("doc_id").as("c_id"), col("shingles").as("sh_c"))
    cands.join(shB, "b_id").join(shC, "c_id")
      .withColumn("inter", interSize(col("sh_b"), col("sh_c")))
      .withColumn("jaccard",
        col("inter") /
        (size(col("sh_b")) + size(col("sh_c")) - col("inter")))
      .where(col("jaccard") >= JaccardThreshold)
      .groupBy("b_id")
      .agg(min("c_id").as("dup_of"),
           count(lit(1)).as("n_matches"),
           max("jaccard").as("best_jaccard"))
  }

  /** Gate query for [[incrementalNearDup]]: even doc_ids play the
    * standing corpus, odd doc_ids the incoming batch. */
  def qDedupIncremental(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    incrementalNearDup(
      corpus = docs.where(pmod(col("doc_id"), lit(2)) === 0),
      batch = docs.where(pmod(col("doc_id"), lit(2)) === 1))
      .select(col("b_id").as("doc_id"), col("dup_of"), col("n_matches"),
        Text.roundPortable(col("best_jaccard"), 6).as("best_jaccard"))
      .orderBy("doc_id")
  }

  /** Exact n-gram Jaccard near-dup via a PREFIX-FILTERED inverted
    * index — still exact (no LSH approximation), but candidate
    * generation only indexes each document's `|d| - ⌈t·|d|⌉ + 1`
    * globally-rarest shingles (the prefix-filtering bound: two sets
    * with Jaccard ≥ t MUST share a shingle within those prefixes
    * under any fixed global order, here (document-frequency, shingle)
    * ascending). A stop-shingle shared by 10^6 docs sorts last and
    * never enters a prefix, so posting lists — quadratic pair
    * generators in the naive inverted index — stay bounded by the
    * rare-shingle df distribution. Verification computes exact
    * Jaccard on the full shingle sets for candidate pairs only, so
    * output is identical to the all-pairs formulation the oracle
    * runs. */
  def qDedupNgramJaccard(spark: SparkSession, dir: String): DataFrame = {
    val t = NgramJaccardThreshold
    val docs = Tables.documents(spark, dir)
    // ns = |shingles(doc)| rides along from the scan (map-only, the
    // containmentCandidates convention) — r15 drops the second window
    // that used to recount it after the df join
    val sh = docs.select(col("doc_id"), Text.shingles3(col("text")).as("shs"))
      .withColumn("ns", size(col("shs")))
      .select(col("doc_id"), col("ns"), explode(col("shs")).as("sh"))
    // global document frequency = the prefix order (rarest first)
    val dfreq = sh.groupBy("sh").agg(count(lit(1)).as("df"))
    val wDoc = Window.partitionBy("doc_id").orderBy("df", "sh")
    val prefix = sh.join(dfreq, "sh")
      .withColumn("rnk", row_number().over(wDoc))
      .where(col("rnk") <= col("ns") - ceil(lit(t) * col("ns")) + 1)
      .select("doc_id", "ns", "sh")
    // r15 (guide §3.2 posture — prune the join's output before it is
    // deduped and verified): a LENGTH filter, lossless for the
    // threshold. J(A,B) ≥ t ⇒ |A∩B| ≥ t·|A∪B| ≥ t·max(|A|,|B|), and
    // |A∩B| ≤ min(|A|,|B|), so min(ns) ≥ ⌈t·max(ns)⌉. Same
    // ceil(lit(t)·…) idiom as the prefix bound above; the oracle is
    // the brute-force definition and gates the result at two SFs.
    val minOverlap = ceil(lit(t) * greatest(col("a.ns"), col("b.ns")))
    val cands = prefix.as("a")
      .join(prefix.as("b"),
        col("a.sh") === col("b.sh") && col("a.doc_id") < col("b.doc_id") &&
        least(col("a.ns"), col("b.ns")) >= minOverlap)
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    // exact verify on full shingle sets. No broadcast hint on the
    // candidate side: prefix filtering bounds candidates by the
    // rare-shingle df distribution, but a clique of k near-identical
    // docs still yields ~k²/2 unprunable pairs, so "tiny" is a
    // property of the corpus, not the algorithm. AQE sees the actual
    // post-shuffle size and broadcasts iff it fits — the well-behaved
    // corpus gets the broadcast plan, the adversarial one degrades to
    // a shuffle join instead of an 8 GB broadcast failure.
    // r15 (guide §3.1, measured): the shingle-ARRAY side of the
    // verify join is corpus-sized — AQE broadcast it at bench SF
    // (two ~50 MB serial hashed-relation builds, the dominant verify
    // cost: 3.72 → 2.16 s under the shuffle-hash hint in the r15
    // contjoin A/B, VERDICT.md) and at 100 TB it can never broadcast.
    // Force the scale-honest strategy: hash-shuffle both sides by doc
    // id, build on the array side per partition, no sort.
    val sets = docs.select(col("doc_id"),
      Text.shingles3(col("text")).as("shingles"))
      .hint("shuffle_hash")
    val inter = interSize(col("sh_a"), col("sh_b"))
    cands
      .join(sets.select(col("doc_id").as("doc_a"), col("shingles").as("sh_a")), "doc_a")
      .join(sets.select(col("doc_id").as("doc_b"), col("shingles").as("sh_b")), "doc_b")
      .withColumn("shared", inter.cast("long"))
      .withColumn("jaccard",
        col("shared") / (size(col("sh_a")) + size(col("sh_b")) - inter))
      .where(col("jaccard") >= NgramJaccardThreshold)
      .select(col("doc_a"), col("doc_b"), col("shared"),
              Text.roundPortable(col("jaccard"), 6).as("jaccard"))
      .orderBy("doc_a", "doc_b")
  }

  private val ContainmentThreshold = 0.9

  /** Distinct candidate pairs of the containment prefix filter —
    * the seam ScalingSpec counts to pin its growth. `sizePrune=false`
    * is the r11 shape (prefix × full posting list unguarded), the
    * reference of ContainmentDedupSpec's "the size predicate prunes
    * candidates but never a pair that verifies". */
  private[graft] def containmentCandidates(docs: DataFrame,
      sizePrune: Boolean = true): DataFrame = {
    // ns (= |shingles(doc)|) is computed map-only at the scan and rides
    // along on every posting row — no extra shuffle — because the
    // candidate join needs BOTH sides' sizes for the size predicate.
    val t = ContainmentThreshold
    val sh = docs.select(col("doc_id"), Text.shingles3(col("text")).as("shs"))
      .withColumn("ns", size(col("shs")))
      .select(col("doc_id"), col("ns"), explode(col("shs")).as("sh"))
    val dfreq = sh.groupBy("sh").agg(count(lit(1)).as("df"))
    val wDoc = Window.partitionBy("doc_id").orderBy("df", "sh")
    // r15: the FULL posting side is ranked too (one more window pass
    // over the same exchange — the two branches' shuffles are
    // identical subtrees, so the doc_id exchange is written once and
    // ReusedExchange feeds both) so the POSITIONAL filter below can
    // prune the candidate join's output before the distinct+verify.
    val ranked = sh.join(dfreq, "sh")
      .withColumn("rnk", row_number().over(wDoc))
    val prefix = ranked
      .where(col("rnk") <= col("ns") - ceil(lit(t) * col("ns")) + 1)
      .select("doc_id", "ns", "sh", "rnk")
    if (!sizePrune)
      // r11 shape, unchanged: prefix × full posting list, no size
      // predicate (ContainmentDedupSpec's lossless-pruning reference)
      prefix.as("a")
        .join(sh.as("b"),
          col("a.sh") === col("b.sh") && col("a.doc_id") =!= col("b.doc_id"))
        .select(least(col("a.doc_id"), col("b.doc_id")).as("doc_a"),
                greatest(col("a.doc_id"), col("b.doc_id")).as("doc_b"))
        .distinct()
    else {
      // Size predicate (lossless): in the surviving direction the
      // prefix side `a` is the contained doc, so C(a→b) ≥ t ⇒
      // |a∩b| ≥ t·|a| (integer ⇒ ≥ ⌈t·ns_a⌉ =: minOv) and |b| ≥ |a∩b|
      // ⇒ ns_b ≥ minOv. Without it a short doc's prefix shingle with
      // df ~ n pairs it against every holder — the
      // boilerplate-concentration blowup.
      // Positional predicate (lossless, r15): for the FIRST common
      // shingle of the pair in the global (df, sh) order, at ranks
      // (i, j), every other common shingle ranks after it on both
      // sides ⇒ |a∩b| ≤ 1 + min(ns_a−i, ns_b−j), which must reach
      // minOv. A qualifying pair always survives via its
      // first-common-shingle row (the a-prefix contains it by the
      // prefix theorem; the b side is the full list); other rows are
      // prunable. At t = 0.9 this keeps only b-postings ranked in
      // roughly the last ⌈t·ns_a⌉-sized tail's complement — ~10 % of
      // the size-compatible band that dominated the candidate count.
      val minOv = ceil(lit(t) * col("a.ns"))
      prefix.as("a")
        .join(ranked.as("b"),
          col("a.sh") === col("b.sh") && col("a.doc_id") =!= col("b.doc_id") &&
          col("b.ns") >= minOv &&
          lit(1) + least(col("a.ns") - col("a.rnk"),
                         col("b.ns") - col("b.rnk")) >= minOv)
        .select(least(col("a.doc_id"), col("b.doc_id")).as("doc_a"),
                greatest(col("a.doc_id"), col("b.doc_id")).as("doc_b"))
        .distinct()
    }
  }

  /** CONTAINMENT near-dup (Broder's asymmetric resemblance):
    * C(A→B) = |shingles(A) ∩ shingles(B)| / |shingles(A)| — a short
    * document wholly quoted inside a long one scores C ≈ 1 while its
    * Jaccard can be arbitrarily small, so [[qDedupNgramJaccard]]
    * never flags it. Pairs where EITHER direction's containment
    * passes [[ContainmentThreshold]] are emitted with both
    * directional scores (downstream policy decides which side is the
    * duplicate — usually the contained one).
    *
    * Candidate generation is the ASYMMETRIC prefix filter: if
    * C(A→B) ≥ t, then A's (|A| − ⌈t·|A|⌉ + 1)-prefix in the global
    * rarest-first shingle order must share a shingle with B — so the
    * contained side's PREFIX joins the other side's FULL posting
    * list. Lossless for the threshold (the standard prefix-filter
    * theorem), so the oracle is the brute-force definition. One
    * df shuffle + one posting join + the verify join-back — the
    * [[qDedupNgramJaccard]] scale shape with a wider (full-list)
    * posting side, still never doc×doc. */
  def qDedupContainment(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val cands = containmentCandidates(docs)
    // r15: shuffle-hash verify — same measurement and 100 TB argument
    // as qDedupNgramJaccard above (contjoin A/B: 3.72 → 2.16 s)
    val sets = docs.select(col("doc_id"),
        Text.shingles3(col("text")).as("shingles"))
      .where(size(col("shingles")) > 0)
      .hint("shuffle_hash")
    val inter = interSize(col("sh_a"), col("sh_b"))
    cands
      .join(sets.select(col("doc_id").as("doc_a"), col("shingles").as("sh_a")), "doc_a")
      .join(sets.select(col("doc_id").as("doc_b"), col("shingles").as("sh_b")), "doc_b")
      .withColumn("shared", inter.cast("long"))
      .withColumn("c_ab", col("shared") / size(col("sh_a")))
      .withColumn("c_ba", col("shared") / size(col("sh_b")))
      .where(greatest(col("c_ab"), col("c_ba")) >= ContainmentThreshold)
      .select(col("doc_a"), col("doc_b"), col("shared"),
              Text.roundPortable(col("c_ab"), 6).as("containment_ab"),
              Text.roundPortable(col("c_ba"), 6).as("containment_ba"))
      .orderBy("doc_a", "doc_b")
  }

  /** Corpus size above which the default simhash banding widens from
    * 16-bit to 24-bit bands. The round-7 measurement
    * (`git show ab6c630:SCALING.md`) locates the crossover: at ~10⁵+
    * docs the 16-bit buckets' birthday-collision candidates (~n²/16⁴
    * per band) overtake the recall benefit, while 24-bit bands shrink
    * candidates ~256× per band for a few points of recall at the same
    * hamming threshold. */
  private[operators] val SimhashWideBandDocs = 100000L

  /** The banding the default config uses for a corpus of n docs —
    * pulled out so the choice is testable without 10⁵-doc fixtures. */
  private[graft] def simhashBandHexLenFor(n: Long): Int =
    if (n > SimhashWideBandDocs) 6 else 4

  /** SimHash near-dup: 64-bit signature over the distinct 3-gram
    * shingles via the custom [[graft.functions.SimHash64]] expression
    * (one scalar pass per doc), banded for candidates, verified by
    * exact bit-level hamming distance. Documents with no shingles
    * (< 3 tokens) are dropped before banding — an all-zero signature
    * would otherwise pair every pair of short docs at hamming 0,
    * which is noise, and the oracle's unnest-based formulation never
    * emits them either. Band width is derived from a parquet-footer
    * doc-count bound (no job, no scan): 16-bit bands below
    * [[SimhashWideBandDocs]] — the gate config the oracle pins — and
    * 24-bit above, so a caller who never read the banding comment
    * still doesn't go quadratic at 10⁶ docs. The wide config is
    * itself hash-gated as dedup_simhash_wide. */
  def qDedupSimhash(spark: SparkSession, dir: String): DataFrame = {
    val n = Tables.parquetRowCount(spark, s"$dir/documents.parquet",
      stopAfter = SimhashWideBandDocs)
    simhashPairs(Tables.documents(spark, dir),
      bandHexLen = simhashBandHexLenFor(n))
      .orderBy("doc_a", "doc_b")
  }

  /** The 24-bit-band gate: the exact config the adaptive default
    * switches to at scale, hash-checked against an oracle that bands
    * identically — so the plan that runs at 10⁶ docs is itself a
    * checked artifact, not an untested dial setting. 6 overlapping
    * bands (stride 2) over the 16-hex signature. */
  def qDedupSimhashWide(spark: SparkSession, dir: String): DataFrame =
    simhashPairs(Tables.documents(spark, dir), bandHexLen = 6)
      .orderBy("doc_a", "doc_b")

  /** SimHash candidate+verify core with the banding exposed as the
    * recall/cost dial (measured in rounds 6–7,
    * `git show ab6c630:SCALING.md`): `bandHexLen` hex chars per band
    * (×4 bits), overlapping bands every `stride` hex chars across the
    * 16-hex signature. 8-bit disjoint bands give 100% recall at
    * hamming ≤ 7 but 256-value buckets whose candidate pairs grow
    * quadratically with the corpus; the default 7
    * overlapping 16-bit bands keep ~86–92% recall with ~200× fewer
    * candidates. Candidates in a band bucket still grow ~n²/16^len by
    * birthday collision, so band bits should grow with log₂(n) — at
    * ≥10⁶ docs pass bandHexLen=6 (24-bit bands). Verification is
    * exact bit-level hamming regardless of banding; the exact-recall
    * alternative at the same threshold is dedup_ngram_jaccard. */
  private[graft] def simhashPairs(docs: DataFrame, bandHexLen: Int = 4,
                                  stride: Int = 2): DataFrame = {
    val nBands = (16 - bandHexLen) / stride + 1
    val sig = docs
      .select(col("doc_id"), Text.shingles3(col("text")).as("shs"))
      .where(size(col("shs")) > 0)
      .select(col("doc_id"), SimHash.simhash64(col("shs")).as("sh"))
      .cache()
    val bands = sig.select(col("doc_id"),
      posexplode(array((0 until nBands).map(b =>
        substring(col("sh"), 1 + stride * b, bandHexLen)): _*))
        .as(Seq("band_id", "bucket")))
    val cands = bands.as("a")
      .join(bands.as("b"),
        col("a.band_id") === col("b.band_id") &&
        col("a.bucket") === col("b.bucket") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    cands
      .join(sig.select(col("doc_id").as("doc_a"), col("sh").as("sh_a")), "doc_a")
      .join(sig.select(col("doc_id").as("doc_b"), col("sh").as("sh_b")), "doc_b")
      .withColumn("hamming", expr(
        """aggregate(transform(sequence(1, 16), p ->
           bit_count((instr('0123456789abcdef', substr(sh_a, p, 1)) - 1) ^
                     (instr('0123456789abcdef', substr(sh_b, p, 1)) - 1))),
           0, (acc, x) -> acc + x)""").cast("long"))
      .where(col("hamming") <= SimhashMaxHamming)
      .select("doc_a", "doc_b", "hamming")
  }

  /** How many verified pairs the driver-side union-find is still
    * allowed to handle. Above this the distributed path always runs —
    * near-dup pair graphs on real web corpora are billions of edges,
    * far beyond any driver heap. */
  private[operators] val DriverCcMaxEdges = 100000L

  /** Distributed connected components over an undirected edge list
    * (doc_a, doc_b) → (doc_id, cluster_id = min doc_id of the
    * component). Iterative min-label propagation with pointer
    * shortcutting: each round every vertex takes the minimum of its
    * own label, its neighbors' labels, and its label's label (the
    * shortcut gives the O(log n) convergence of large-star/small-star
    * on chain-shaped components). Each round is two equi-joins + one
    * aggregate, and exactly ONE Spark job: the previous label rides
    * through the aggregate (`min(label) where is_prev`), the round's
    * localCheckpoint is LAZY, and the convergence count is the action
    * that both materializes the checkpoint (truncating lineage so
    * plans don't grow with the iteration count) and returns the
    * changed-label count — no separate per-round driver round-trip
    * (round 4 ran a second `limit(1).count()` join job per round,
    * ~10 extra driver-synchronized jobs at depth-10 convergence).
    * `label < prev` is exact, not a heuristic: min-label propagation
    * only ever lowers a label. */
  private[graft] def connectedComponents(pairs: DataFrame): DataFrame = {
    val edges = pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .union(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst")))
      .localCheckpoint()
    var labels = edges.select(col("src").as("id")).distinct()
      .withColumn("label", col("id"))
      .localCheckpoint()
    var converged = false
    var iter = 0
    val MaxIter = 50
    while (!converged && iter < MaxIter) {
      val viaNeighbor = edges
        .join(labels.withColumnRenamed("id", "dst"), "dst")
        .select(col("src").as("id"), col("label"))
      val viaShortcut = labels.select(col("id"), col("label").as("lid"))
        .join(labels.withColumnRenamed("id", "lid")
                    .withColumnRenamed("label", "label2"), "lid")
        .select(col("id"), col("label2").as("label"))
      // stats-BARRIER checkpoint, not the built-in one: the built-in
      // lazy localCheckpoint carries the optimized plan's size stats
      // onto the LogicalRDD, and the viaShortcut self-join MULTIPLIES
      // them — the carried figure squares per round, so by round ~25
      // plan-stats estimation is doing million-digit BigInteger
      // arithmetic and at ~31 rounds Spark throws `BigInteger would
      // overflow supported range` (hit for real by the k=5
      // mutual-kNN quality probe; gate configs converge in fewer
      // rounds and only paid a growing planning tax)
      val next = org.apache.spark.sql.graft.ColumnBridge.localCheckpointNoStats(
        labels.withColumn("is_prev", lit(true))
        .union(viaNeighbor.withColumn("is_prev", lit(false)))
        .union(viaShortcut.withColumn("is_prev", lit(false)))
        .groupBy("id")
        .agg(min("label").as("label"),
             min(when(col("is_prev"), col("label"))).as("prev")))
      val changed = next.agg(
        coalesce(sum(when(col("label") < col("prev"), 1L).otherwise(0L)),
                 lit(0L)).as("changed")).head.getLong(0)
      converged = changed == 0L
      labels = next.select("id", "label")
      iter += 1
    }
    require(converged, s"connectedComponents did not converge in $MaxIter rounds")
    labels.select(col("id").as("doc_id"), col("label").as("cluster_id"))
  }

  /** Driver-side union-find — only legal under [[DriverCcMaxEdges]]:
    * the cheap exact path when the verified pair set is known-tiny. */
  private def driverComponents(spark: SparkSession,
                               edges: Array[(Long, Long)]): DataFrame = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    // iterative find + path compression: parent chains can reach the
    // ~100k edge bound when unions arrive in adverse order, which
    // would overflow the stack if this recursed
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent(r)
      var c = x
      while (c != r) { val next = parent(c); parent(c) = r; c = next }
      r
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) {
        // smaller id wins as the root → cluster_id = min of component
        if (ra < rb) parent(rb) = ra else parent(ra) = rb
      }
    }
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
    import spark.implicits._
    nodes.map(n => (n, find(n))).toSeq.toDF("doc_id", "cluster_id")
  }

  /** Component labels over a (doc_a, doc_b) pair frame with the
    * row-count guard applied: the driver-side union-find runs only
    * when the guard proves the pair set tiny (≤ [[DriverCcMaxEdges]];
    * `forceDistributed = true` disables even that, for scale probes
    * and the distributed-path gate query). Shared by the dedup
    * cluster gates and the mutual-kNN clustering (r14 — its edge set
    * obeys the same ≤ n·k bound, and both label paths are
    * oracle-checked equal). */
  private[graft] def componentsOver(pairs: DataFrame,
                                    forceDistributed: Boolean): DataFrame =
    if (forceDistributed) connectedComponents(pairs)
    else {
      val n = pairs.limit((DriverCcMaxEdges + 1).toInt).count()
      if (n <= DriverCcMaxEdges)
        driverComponents(pairs.sparkSession,
          pairs.collect().map(r => (r.getLong(0), r.getLong(1))))
      else connectedComponents(pairs)
    }

  /** Connected-component dedup clusters over the LSH-verified pairs:
    * each document involved in any near-dup pair → the minimum doc_id
    * of its component (the canonical survivor). Label assignment is
    * the distributed min-label propagation above; the driver-side
    * union-find runs only when a row-count guard proves the pair set
    * tiny (`forceDistributed = true` disables even that, for scale
    * probes and the distributed-path gate query). The oracle computes
    * the same components with a recursive CTE. */
  def qDedupClusters(spark: SparkSession, dir: String,
                     forceDistributed: Boolean): DataFrame = {
    val sigs = signatures(spark, dir).cache()
    val pairs = lshVerifiedPairs(sigs).select("doc_a", "doc_b").cache()
    try {
      componentsOver(pairs, forceDistributed).orderBy("doc_id")
    } finally {
      // both paths have materialized everything downstream of the
      // caches (collect, or the eager localCheckpoints inside
      // connectedComponents) — release executor storage now instead
      // of letting repeated invocations accumulate it
      pairs.unpersist()
      sigs.unpersist()
    }
  }

  def qDedupClusters(spark: SparkSession, dir: String): DataFrame =
    qDedupClusters(spark, dir, forceDistributed = false)

  /** The distributed-path gate: identical semantics, min-label
    * propagation forced so the scale path itself is oracle-checked. */
  def qDedupClustersDist(spark: SparkSession, dir: String): DataFrame =
    qDedupClusters(spark, dir, forceDistributed = true)

  /** Catalog name of the materialized cluster table for a corpus dir
    * — dir-keyed so two fixtures can't read each other's clusters. */
  private[graft] def clustersTableName(dir: String): String = {
    val h = java.security.MessageDigest.getInstance("MD5")
      .digest(dir.getBytes("UTF-8")).take(4).map("%02x".format(_)).mkString
    s"dedup_clusters_$h"
  }

  /** The verified-pair cluster table with the BUILD-ONCE treatment the
    * IVF index got: signatures → band join → cosine verify →
    * connected components run ONCE per (session, corpus) and persist
    * as a catalog table; every downstream consumer (canonical
    * selection, corpus filters, audits) reads the table instead of
    * re-deriving the whole pipeline. At 100 TB the cluster table is
    * the artifact a curation run actually ships between stages — the
    * pair derivation is days of work, membership lookups are not.
    * Staleness is self-detected: the build stamps the corpus
    * fingerprint (an MD5 over every `documents` data file's name,
    * length and mtime — a directory listing, no Spark job) through
    * [[graft.sources.StandingTable.buildOnce]], and a corpus
    * rewritten in-session (fixture regeneration, incremental batches
    * landing in the same dir) mismatches at next read and triggers a
    * rebuild — downstream gates never depend on hidden catalog
    * state. */
  def clustersTableFor(spark: SparkSession, dir: String): DataFrame = {
    val name = clustersTableName(dir)
    graft.sources.StandingTable.buildOnce(spark, name,
        graft.core.ModelCache.fingerprint(s"$dir/documents.parquet")) {
      graft.sources.Readers.replaceTable(qDedupClusters(spark, dir), name)
    }
    spark.table(name)
  }

  /** Quality-aware canonical selection: production dedup doesn't keep
    * an arbitrary cluster member, it keeps the BEST one (min-id is a
    * tie-break, not a policy — a near-dup cluster usually holds one
    * clean original and N mangled re-encodes). For each near-dup
    * cluster, emit the member with the highest heuristic quality
    * score ([[TextAnalysis.qTextQuality]]; rounded to 4 decimals in
    * both engines BEFORE ranking, ties to the lower doc_id) plus the
    * cluster size. Members come off the MATERIALIZED
    * [[clustersTableFor]] table (built on first use this session), so
    * selection re-runs never pay the signature + band-join + CC
    * derivation the dedup_clusters gates already check. Plan shape:
    * the member⋈quality join is AQE-decided; after it, ONE shuffle on
    * cluster_id feeds both the size window and the
    * [[graft.plans.GroupedTopK]] top-1 heap (its required
    * distribution is satisfied by the window's output partitioning,
    * and the heap prune never sorts a whole cluster — dup-heavy
    * corpora have huge clusters, the exact case a sort-based rank
    * degrades on). */
  def qDedupKeepBest(spark: SparkSession, dir: String): DataFrame = {
    val members = clustersTableFor(spark, dir)
      .join(TextAnalysis.qTextQuality(spark, dir), "doc_id")
    val withSize = members.withColumn("n_members",
      count(lit(1)).over(Window.partitionBy("cluster_id")).cast("long"))
    graft.plans.GroupedTopKApi.groupedTopKOrdered(withSize,
        Seq("cluster_id"), Seq("quality_score" -> false, "doc_id" -> true), 1)
      .select(col("cluster_id"), col("doc_id").as("kept_doc_id"),
              col("quality_score").as("kept_quality"), col("n_members"))
      .orderBy("cluster_id")
  }

  /** DELETION PROPAGATION — the takedown sweep a real corpus owes its
    * removal requests (GDPR erasure, DMCA, contamination purges):
    * deleting only the requested documents leaves their near-verbatim
    * copies training anyway, so a deletion seed removes its WHOLE
    * near-dup cluster. Seeds not in any near-dup pair delete alone.
    * Output tags each removed doc with why (`seed` vs
    * `near_dup_of_seed`) — the audit trail a takedown log needs.
    *
    * Scale shape: the clusters come off the MATERIALIZED
    * [[clustersTableFor]] table (the [[qDedupKeepBest]] convention —
    * built on first use per (session, corpus fingerprint); a takedown
    * sweep reads the standing cluster artifact a curation run already
    * ships, it does not re-derive the band join per request batch;
    * the derivation itself stays gated by dedup_clusters/_dist);
    * propagation adds one broadcast join of the seed-cluster ids
    * (request-batch-sized — takedown lists are thousands, not
    * billions) and a map-only reason tag. */
  def qDeletePropagate(spark: SparkSession, dir: String): DataFrame = {
    // deterministic stand-in for a takedown request list: every 100th doc
    val seeds = Tables.documents(spark, dir)
      .where(pmod(col("doc_id"), lit(100)) === 0).select("doc_id")
    deletePropagate(spark, dir, seeds)
  }

  private[graft] def deletePropagate(spark: SparkSession, dir: String,
                                     seeds: DataFrame): DataFrame = {
    val clusters = clustersTableFor(spark, dir)
    val seedClusters = clusters.join(seeds, "doc_id")
      .select("cluster_id").distinct()
    val viaCluster = clusters
      .join(broadcast(seedClusters), "cluster_id")
      .join(seeds, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), lit("near_dup_of_seed").as("reason"))
    seeds.select(col("doc_id"), lit("seed").as("reason"))
      .unionByName(viaCluster)
      .orderBy("doc_id")
  }

  /** Window width (tokens) for [[qVerbatimCoverage]]. Real ExactSubstr
    * pipelines use ~50-token windows; 8 fits the 10–99-token fixture
    * docs while keeping chance collisions negligible (40⁸ keyspace). */
  private val VerbatimWindow = 8

  /** Verbatim-overlap coverage — the span-level view of duplication
    * (the ExactSubstr idea: don't just pair near-dup documents,
    * measure which TEXT is duplicated): for every document, the
    * fraction of its tokens lying inside some [[VerbatimWindow]]-token
    * window that appears verbatim in at least one OTHER document.
    *
    * Pipeline: slide a w-token window over each doc (one explode —
    * ~n rows per n-token doc), key windows by md5 of their text,
    * keep keys held by ≥2 distinct docs (the inverted window index —
    * one hash-shuffle; the same candidate-generation posture as every
    * other dedup here: an equi-join on a hash, never doc×doc), then
    * merge each doc's covered intervals [p, p+w−1] with the classic
    * running-max island scan (one doc_id-partitioned window) and sum
    * island lengths. Same-doc repeats don't count — duplication means
    * shared with ANOTHER document. Docs shorter than w, or with no
    * shared window, produce no row. */
  def qVerbatimCoverage(spark: SparkSession, dir: String): DataFrame =
    verbatimCoverage(Tables.documents(spark, dir))

  private[graft] def verbatimCoverage(documents: DataFrame): DataFrame = {
    val w = VerbatimWindow
    val toksDf = documents
      .select(col("doc_id"), Text.tokens(col("text")).as("toks"))
      .withColumn("n", size(col("toks")))
      .where(col("n") >= w)
    val wins = toksDf.select(col("doc_id"), col("n"), col("toks"),
        explode(sequence(lit(1), col("n") - (w - 1))).as("p"))
      .select(col("doc_id"), col("n"), col("p"),
        md5(concat_ws(" ", slice(col("toks"), col("p"), lit(w)))).as("h"))
    // held by ≥2 distinct docs ⇔ min < max (both ignore nulls): one
    // hash aggregate, where countDistinct takes a second shuffle
    val shared = wins.groupBy("h")
      .agg(min("doc_id").as("lo"), max("doc_id").as("hi"))
      .where(col("lo") < col("hi"))
      .select("h")
    val cov = wins.join(shared, "h").select("doc_id", "n", "p")
    val byPos = Window.partitionBy("doc_id").orderBy("p")
    val prevEnd = max(col("p") + (w - 1))
      .over(byPos.rowsBetween(Window.unboundedPreceding, -1))
    val islands = cov
      .withColumn("is_new",
        when(prevEnd.isNull || col("p") > prevEnd, 1).otherwise(0))
      .withColumn("island",
        sum("is_new").over(byPos.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy("doc_id", "n", "island")
      .agg((max(col("p") + (w - 1)) - min(col("p")) + 1).as("len"))
    islands.groupBy("doc_id", "n")
      .agg(sum("len").cast("long").as("dup_tokens"))
      .select(col("doc_id"), col("dup_tokens"),
        Text.roundPortable(col("dup_tokens") / col("n").cast("double"), 4)
          .as("dup_frac"))
      .orderBy("doc_id")
  }

  /** Segment size (tokens) for paragraph-level dedup. Real pipelines
    * split on newline paragraphs; the fixture's text has no structure
    * markers, so fixed disjoint 16-token segments are the analog —
    * long enough that chance collisions are negligible, short enough
    * that fixture docs (10–99 tokens) produce several. */
  private val SegTokens = 16

  /** PARAGRAPH-level dedup with document reassembly — the sub-document
    * exact-dedup step of the modern curation recipes (C4 removes
    * repeated three-sentence spans corpus-wide; FineWeb dedups at
    * paragraph granularity and keeps documents assembled from their
    * surviving paragraphs). Documents are split into disjoint
    * [[SegTokens]]-token segments; across the WHOLE corpus each
    * distinct segment text survives exactly once — at its first
    * occurrence in (doc_id, seg_idx) order, a deterministic
    * engine-free rule — and every document is rebuilt from its
    * surviving segments in order. A document whose every segment
    * already appeared elsewhere disappears entirely (that is the
    * point: it contributes no novel text), which subsumes exact
    * whole-document dedup.
    *
    * Differs from [[qVerbatimRewrite]] in granularity and rule:
    * verbatim rewrite hunts OVERLAPPING w-token windows shared with
    * any other doc (span coverage), this dedups DISJOINT segments
    * globally by first occurrence — the C4/FineWeb shape, one
    * explode cheaper (n/16 segment rows vs n window rows per doc).
    *
    * Scale shape: one explode (n/[[SegTokens]] rows per n-token doc),
    * ONE hash-shuffle on the segment hash for the first-occurrence
    * window (partitionBy md5 — arbitrarily many distinct segments
    * spread evenly; no corpus×corpus anything), one doc_id shuffle to
    * reassemble. Both shuffles key-hashed and skew-free by
    * construction. At 100 TB this is exactly two exchanges over
    * segment-sized rows. */
  def qDedupParagraphs(spark: SparkSession, dir: String): DataFrame =
    dedupParagraphs(Tables.documents(spark, dir))

  /** Disjoint [[SegTokens]]-token segments of every document — the
    * shared segmentation of [[dedupParagraphs]] and
    * [[qTextBoilerplate]]: (doc_id, n_segs, seg_idx, seg). */
  private def segmentsOf(documents: DataFrame): DataFrame = {
    val toksDf = documents
      .select(col("doc_id"), Text.tokens(col("text")).as("toks"))
      .withColumn("n_segs",
        greatest(lit(1L), ceil(size(col("toks")) / lit(SegTokens.toDouble))
          .cast("long")))
    toksDf
      .select(col("doc_id"), col("n_segs"), col("toks"),
        explode(sequence(lit(0L), col("n_segs") - 1)).as("seg_idx"))
      .select(col("doc_id"), col("n_segs"), col("seg_idx"),
        concat_ws(" ", slice(col("toks"),
          (col("seg_idx") * SegTokens).cast("int") + 1, lit(SegTokens)))
          .as("seg"))
  }

  private[graft] def dedupParagraphs(documents: DataFrame): DataFrame = {
    val segs = segmentsOf(documents)
    val wFirst = Window.partitionBy(md5(col("seg")))
      .orderBy("doc_id", "seg_idx")
    segs
      .withColumn("rn", row_number().over(wFirst))
      .where(col("rn") === 1)
      .groupBy("doc_id", "n_segs")
      .agg(count(lit(1)).as("n_kept"),
        array_join(transform(
          array_sort(collect_list(struct(col("seg_idx"), col("seg")))),
          s => s("seg")), " ").as("text_kept"))
      .select(col("doc_id"), col("n_segs"), col("n_kept"), col("text_kept"))
      .orderBy("doc_id")
  }

  /** A segment appearing in at least this many DISTINCT documents is
    * boilerplate. The fixture's duplicate structure makes 2 the value
    * that exercises the rule; production corpora (nav bars, cookie
    * banners, license footers) run this at ~3–10. */
  private val BoilerplateMinDocs = 2

  /** BOILERPLATE segment removal — the frequency rule next to
    * [[dedupParagraphs]]'s first-occurrence rule (CCNet/RefinedWeb
    * line removal): a segment whose document frequency reaches
    * [[BoilerplateMinDocs]] is dropped from EVERY document — no
    * canonical copy survives, because repeated-across-sources text
    * (headers, footers, templates) is noise, not content. Documents
    * are rebuilt from their surviving segments; one whose every
    * segment is boilerplate disappears.
    *
    * Scale shape: the same explode as paragraph dedup, a distinct
    * (doc, segment-hash) projection into a segment-hash count (one
    * hash shuffle, partial-aggregated), the df joined back on the
    * co-partitioned hash, and one doc_id shuffle to reassemble —
    * two exchanges over segment-sized rows, never text×text. */
  def qTextBoilerplate(spark: SparkSession, dir: String): DataFrame = {
    val segs = segmentsOf(Tables.documents(spark, dir))
      .withColumn("h", md5(col("seg")))
    val segDf = segs.select(col("h"), col("doc_id")).distinct()
      .groupBy("h").agg(count(lit(1)).as("seg_df"))
    segs.join(segDf, "h")
      .where(col("seg_df") < BoilerplateMinDocs)
      .groupBy("doc_id", "n_segs")
      .agg(count(lit(1)).as("n_kept"),
        array_join(transform(
          array_sort(collect_list(struct(col("seg_idx"), col("seg")))),
          s => s("seg")), " ").as("text_kept"))
      .select(col("doc_id"), col("n_segs"), col("n_kept"), col("text_kept"))
      .orderBy("doc_id")
  }

  /** Verbatim span REMOVAL — the rewrite half of ExactSubstr dedup
    * ([[qVerbatimCoverage]] measures; this cuts): each shared
    * w-token window has an OWNER (the lowest doc_id holding it — a
    * deterministic, engine-free rule), the owner keeps its copy, and
    * every other holder has the window's token span removed; a doc's
    * text is rebuilt from its surviving tokens. One copy of every
    * duplicated span survives somewhere — removal never destroys
    * content, only repetition. Reconstruction normalizes whitespace
    * to single spaces (the tokenizer's inverse).
    *
    * Scale shape: the window index is the same single hash-shuffle as
    * the coverage operator; cut intervals roll up per doc (bounded by
    * n/1 rows, usually tiny) and join back DOC-level — the corpus is
    * never position-exploded on the rewrite side; the span test runs
    * as a codegen'd filter-with-index HOF over each doc's token array
    * against its own interval list. Every doc comes back (n_removed=0
    * rows included): a rewrite operator that silently drops clean
    * docs would be a corpus cut, not a cleanup. */
  def qVerbatimRewrite(spark: SparkSession, dir: String): DataFrame =
    verbatimRewrite(Tables.documents(spark, dir)).orderBy("doc_id")

  /** [[qVerbatimRewrite]] without its output sort, for compositions
    * that re-key the rows anyway (`pipeline_chunked_pretrain`). */
  private[graft] def verbatimRewrite(documents: DataFrame): DataFrame = {
    val w = VerbatimWindow
    val toksDf = documents
      .select(col("doc_id"), Text.tokens(col("text")).as("toks"))
      .withColumn("n", size(col("toks")))
    val wins = toksDf.where(col("n") >= w)
      .select(col("doc_id"), col("n"), col("toks"),
        explode(sequence(lit(1), col("n") - (w - 1))).as("p"))
      .select(col("doc_id"), col("p"),
        md5(concat_ws(" ", slice(col("toks"), col("p"), lit(w)))).as("h"))
    // shared ⇔ owner < max, as in verbatimCoverage
    val owners = wins.groupBy("h")
      .agg(min("doc_id").as("owner"), max("doc_id").as("last"))
      .where(col("owner") < col("last"))
      .select("h", "owner")
    val ivs = wins.join(owners, "h")
      .where(col("doc_id") =!= col("owner"))
      .groupBy("doc_id")
      .agg(collect_list(
        struct(col("p").as("s"), (col("p") + (w - 1)).as("e"))).as("ivs"))
    toksDf.join(ivs, Seq("doc_id"), "left")
      .withColumn("ivs",
        coalesce(col("ivs"), array().cast("array<struct<s:int,e:int>>")))
      // r15: interval removal as the RemoveIntervals kernel (guide §4)
      // — the filter×exists HOF chain it replaces interpreted a lambda
      // per token × a nested one per interval, the residual hot path
      // of pipeline_chunked_pretrain; KernelContractSpec pins it to
      // the HOF twin
      .withColumn("kept", graft.functions.RemoveIntervals
        .removeIntervals(col("toks"), col("ivs")))
      .select(col("doc_id"),
        (col("n") - size(col("kept"))).cast("long").as("n_removed"),
        concat_ws(" ", col("kept")).as("clean_text"))
  }

}
