package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming-replay CORRECTNESS gates for the continuous-ingestion
  * operators: each runs the PRODUCTION streaming shape — a real
  * `foreachBatch` query driven by [[Replay.run]], with the standing store
  * (eval shingles / corpus signatures) computed once and reused by
  * every micro-batch — over the bounded fixture, and must hash-match
  * the same DuckDB oracle as its batch twin. The specs
  * (StreamingDecontaminationSpec, StreamingIncrementalDedupSpec)
  * assert compositionality for arbitrary splits; these gates pin the
  * actual rows. Replay harness caveat as stream_sessions: the collect
  * is the harness feeding/draining the stream, not the operator —
  * production writes each batch's output to a sink instead.
  */
object StreamReplays {

  /** Streaming twin of the emb_kmeans gate (same oracle): vectors
    * stream in micro-batches and each batch is assigned against the
    * STANDING Lloyd model — trained once before the stream starts and
    * session-memoized, the online-serving shape of a trained
    * clustering (embedding routers, cluster-tagged ingestion). The
    * assignment is a per-row projection against model literals, so
    * any batch split concatenates to the batch result exactly. */
  def qStreamClusterAssign(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val feed = graft.Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"))
      // feeding the MemoryStream (bounded fixture); sorted on the
      // driver — a distributed range sort (sample job + shuffle)
      // before a driver collect is pure harness overhead (r14):
      // harness-side collect + driver sort
      .as[(Long, Seq[Float])].collect().sortBy(_._1).toSeq
    val rows = Replay.run(spark, Replay.chunks(feed, 3))(
        _.toDF("vec_id", "embedding")) { batch =>
      graft.operators.Clustering.assignAgainstCorpusModel(spark, dir, batch)
        // harness-side collect: draining one micro-batch's OUTPUT rows
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .toSeq
    }
    rows.toDF("vec_id", "cluster", "dist").orderBy("vec_id")
  }

  /** CONTINUOUS corpus-overlap monitoring: docs stream in
    * micro-batches; the standing state is the per-source KMV sketch
    * (sources×k rows — MODEL-sized, like the BM25 stats or the
    * k-means centroids, so holding and re-merging it per batch is a
    * driver-state update, not a corpus operation). Each batch is
    * sketched alone and k-min-merged into the standing sketch —
    * k-min(union) = k-min(sketch ∪ sketch) makes the final state
    * EXACTLY the one-shot sketch for any batch split
    * (KmvNoveltySpec proves the identity; this gate pins the rows
    * against the same DuckDB oracle as text_overlap_kmv). Per-batch
    * cost: shingle+sketch the batch (batch-sized) + a sources×2k
    * merge — corpus size never re-enters. */
  def qStreamOverlapKmv(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val k = graft.operators.TextAnalysis.KmvK
    val docs = graft.Tables.documents(spark, dir)
    val feed = docs.select("doc_id", "text", "source")
      // harness-side collect + driver sort (see qStreamClusterAssign)
      .as[(Long, String, String)].collect().sortBy(_._1).toSeq
    var standing: Seq[(String, String)] = Vector.empty
    Replay.run(spark, Replay.chunks(feed, 3))(
        _.toDF("doc_id", "text", "source")) { batch =>
      val merged = graft.operators.TextAnalysis.kmvMerge(
        graft.operators.TextAnalysis.kmvSketch(batch, k)
          .unionByName(standing.toDF("source", "h")), k)
      // harness-side collect: the standing sketch IS driver model
      // state (sources×k rows), re-materialized for the next batch
      standing = merged.collect()
        .map(r => (r.getString(0), r.getString(1))).toVector
      Seq.empty[Unit]
    }
    graft.operators.TextAnalysis.kmvEstimate(standing.toDF("source", "h"), k)
  }

  /** Streaming twin of the text_decontaminate gate (same oracle):
    * training docs stream in three micro-batches against the standing
    * eval-shingle store. */
  def qStreamDecontaminate(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = 4
    val docs = graft.Tables.documents(spark, dir)
    val evalSh = graft.operators.TextAnalysis.shingleSet(
        docs.where(col("doc_id") % 20 === 0), w)
      .select("sh").distinct().cache()
    evalSh.count()
    val train = docs.where(col("doc_id") % 20 =!= 0)
      .select("doc_id", "text")
      // harness-side collect + driver sort (see qStreamClusterAssign)
      .as[(Long, String)].collect().sortBy(_._1).toSeq
    val rows = Replay.run(spark, Replay.chunks(train, 3))(
        _.toDF("doc_id", "text")) { batch =>
      graft.operators.TextAnalysis.decontaminateAgainst(
          evalSh, graft.operators.TextAnalysis.shingleSet(batch, w))
        // harness-side collect: draining one micro-batch's OUTPUT rows
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    }
    evalSh.unpersist()
    rows.toDF("doc_id", "n_shared").orderBy("doc_id")
  }

  /** Streaming twin of the text_dsir_weights gate (same oracle):
    * docs stream in micro-batches and each batch is scored against
    * the STANDING LM pair — both LMs are session-memoized driver
    * model state fit once before the stream starts (the production
    * shape: importance weights for incoming data against a frozen
    * target/raw model pair). Per-batch cost is one map-only
    * projection over the batch; scoring is per-row, so any batch
    * split concatenates to the batch result exactly — no state, no
    * watermark, the embarrassing end of the streaming spectrum, and
    * gated to prove the plumbing. */
  def qStreamDsir(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val (tgt, raw) = graft.operators.TextAnalysis.dsirModelsFor(spark, dir)
    val feed = graft.Tables.documents(spark, dir)
      .select("doc_id", "text")
      // harness-side collect + driver sort (see qStreamClusterAssign)
      .as[(Long, String)].collect().sortBy(_._1).toSeq
    val rows = Replay.run(spark, Replay.chunks(feed, 3))(
        _.toDF("doc_id", "text")) { batch =>
      graft.operators.TextAnalysis.dsirScore(batch, tgt, raw)
        // harness-side collect: draining one micro-batch's OUTPUT rows
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .toSeq
    }
    rows.toDF("doc_id", "n_tokens", "log_weight").orderBy("doc_id")
  }

  /** Streaming twin of the eval_bradley_terry gate (same oracle):
    * duels stream in micro-batches; the standing state is the WIN
    * COUNT map — k² longs of driver model state, and counts are
    * ADDITIVE, so merging per-batch aggregates is exact for any batch
    * split (the KMV/Misra-Gries mergeable-summary convention, here
    * with the trivial merge). The MM fit runs ONCE at close on the
    * merged counts — an arena leaderboard ingesting preference events
    * all day and refitting on demand. Per-batch cost: one batch-sized
    * duel aggregation; corpus size never re-enters. */
  def qStreamBradleyTerry(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = graft.Tables.documents(spark, dir)
      .select("doc_id", "source", "n_chars")
    val a = docs.select(col("doc_id").as("ida"), col("source").as("sa"),
      col("n_chars").as("ca"))
    val b = docs.select((col("doc_id") - 1).as("ida"),
      col("source").as("sb"), col("n_chars").as("cb"))
    val feed = a.join(b, "ida").where(col("sa") =!= col("sb"))
      .select(col("ida"),
        when(col("ca") >= col("cb"), col("sa")).otherwise(col("sb"))
          .as("winner"),
        when(col("ca") >= col("cb"), col("sb")).otherwise(col("sa"))
          .as("loser"))
      // harness-side collect + driver sort (see qStreamClusterAssign)
      .as[(Long, String, String)].collect().sortBy(_._1).toSeq
    var standing = Map.empty[(String, String), Long]
    Replay.run(spark, Replay.chunks(feed, 3))(
        _.toDF("ida", "winner", "loser")) { batch =>
      val batchCounts = batch
        .groupBy("winner", "loser").agg(count(lit(1)).as("c"))
        // harness-side collect: per-batch duel counts are k²-bounded
        // MODEL state, merged additively into the standing map
        .collect().map(r => ((r.getString(0), r.getString(1)), r.getLong(2)))
      batchCounts.foreach { case (k, c) =>
        standing = standing.updated(k, standing.getOrElse(k, 0L) + c)
      }
      Seq.empty[Unit]
    }
    graft.operators.EvalScoring.bradleyTerryFromCounts(spark, standing)
  }

  /** Streaming twin of the dedup_incremental gate (same oracle): odd
    * doc_ids stream against the standing even-id corpus signatures. */
  def qStreamIncrementalDedup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = graft.Tables.documents(spark, dir)
    val corpusSigs = graft.operators.Dedup.signaturesOf(
      docs.where(pmod(col("doc_id"), lit(2)) === 0)).cache()
    corpusSigs.count()
    val stream = docs.where(pmod(col("doc_id"), lit(2)) === 1)
      .select("doc_id", "text")
      // harness-side collect + driver sort (see qStreamClusterAssign)
      .as[(Long, String)].collect().sortBy(_._1).toSeq
    val rows = Replay.run(spark, Replay.chunks(stream, 3))(
        _.toDF("doc_id", "text")) { batch =>
      // lifecycle-safe per-batch body: batch signatures cached for the
      // band join + verify, unpersisted after the collect; the
      // standing corpus cache is untouched across micro-batches
      graft.operators.Dedup.incrementalNearDupBatch(corpusSigs, batch) { df =>
        df.select(col("b_id"), col("dup_of"), col("n_matches"),
            graft.functions.Text.roundPortable(col("best_jaccard"), 6)
              .as("best_jaccard"))
          // harness-side collect: draining one micro-batch's OUTPUT rows
          .collect()
      }.map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
        .toSeq
    }
    corpusSigs.unpersist()
    rows.toDF("doc_id", "dup_of", "n_matches", "best_jaccard")
      .orderBy("doc_id")
  }

  /** CONTINUOUS HEAVY-HITTER MONITORING — the streaming twin of
    * text_heavy_hitters (same oracle): docs stream in micro-batches;
    * the standing state is ONE Misra–Gries summary of ≤ h counters
    * (driver model-sized). Each batch runs the per-partition MG pass
    * (batch-sized job), and every partition summary is folded into
    * the standing summary with the mergeable-summaries rule
    * ([[graft.operators.TextAnalysis.mgMerge]]: add counts, cut by
    * the (h+1)-largest on overflow). MG summaries are MERGEABLE with
    * total undercount ≤ N/(h+1) for ANY merge tree, so the standing
    * candidate set is a superset of every true ≥ N/h hitter
    * regardless of the batch split — the exact verify pass at close
    * then yields the same closed-form rows as the batch gate.
    * Per-batch cost: batch tokens + a ≤(h+1)·partitions driver
    * merge; the one corpus-wide job is the final verify. */
  def qStreamHeavyHitters(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val h = graft.operators.TextAnalysis.HhDen
    val docs = graft.Tables.documents(spark, dir)
    val feed = docs.select("doc_id", "text")
      // harness-side collect + driver sort (see qStreamClusterAssign)
      .as[(Long, String)].collect().sortBy(_._1).toSeq
    // standing MG summary + running token total: driver model state
    var standing = Map.empty[String, Long]
    var total = 0L
    Replay.run(spark, Replay.chunks(feed, 3))(
        _.toDF("doc_id", "text")) { batch =>
      val parts = batch
        .select(explode(graft.functions.Text.tokens(col("text"))).as("token"))
        .as[String]
        .mapPartitions(it => graft.operators.TextAnalysis.misraGries(it, h))
        // harness-side collect: ≤ (h+1) rows per partition (MG summaries)
        .collect()
      total += parts.collect { case (None, np) => np }.sum
      parts.foreach {
        case (Some(t), c) =>
          standing = graft.operators.TextAnalysis.mgMerge(
            standing, Map(t -> c), h)
        case (None, _) => ()
      }
      Seq.empty[Unit]
    }
    // close-the-books verify: exact counts of the standing candidates
    val tokens = docs
      .select(explode(graft.functions.Text.tokens(col("text"))).as("token"))
    tokens
      .join(broadcast(standing.keys.toSeq.toDF("token")),
        Seq("token"), "left_semi")
      .groupBy("token").agg(count(lit(1)).as("cnt"))
      .where(col("cnt") * lit(h.toLong) >= lit(total))
      .orderBy(desc("cnt"), col("token"))
  }

  /** CONTINUOUS DRIFT MONITORING — the streaming twin of
    * q_corpus_drift (same oracle): the CURRENT release streams in
    * micro-batches while the previous release's histogram is the
    * static reference. Standing state is the 10-bucket length
    * histogram — MODEL-sized like the KMV sketches — and bucket
    * counts merge ADDITIVELY, so the post-stream histogram (and
    * therefore the PSI) is EXACTLY the one-shot computation for any
    * batch split. Per-batch cost: one batch-sized histogram job +
    * a ≤10-entry driver merge; corpus size never re-enters. */
  def qStreamCorpusDrift(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = graft.Tables.documents(spark, dir).select("doc_id", "text")
    val h1 = graft.operators.Pipeline.driftHist(
      graft.operators.Pipeline.syntheticPreviousVersion(docs), "c1")
    val feed = docs
      // harness-side collect + driver sort (see qStreamClusterAssign)
      .as[(Long, String)].collect().sortBy(_._1).toSeq
    // standing histogram: ≤ DriftBuckets entries of driver model state
    var standing = Map.empty[Long, Long]
    Replay.run(spark, Replay.chunks(feed, 3))(
        _.toDF("doc_id", "text")) { batch =>
      // the batch histogram is ≤ DriftBuckets rows of driver MODEL
      // state (the KMV standing-sketch class), merged additively:
      // harness-side collect
      val h = graft.operators.Pipeline.driftHist(batch, "c").collect()
      standing = h.foldLeft(standing) { (m, r) =>
        m.updated(r.getLong(0), m.getOrElse(r.getLong(0), 0L) + r.getLong(1))
      }
      Seq.empty[Unit]
    }
    graft.operators.Pipeline.driftFromHists(spark, h1,
      standing.toSeq.toDF("bucket", "c2"))
  }

  /** STREAMING EXACT DEDUP VIA THE ENGINE PRIMITIVE —
    * `dropDuplicatesWithinWatermark`, the Structured Streaming
    * operator a production ingest pipeline reaches for FIRST (the
    * signature-based incremental gates above cover NEAR-dup; exact
    * key dedup belongs to the engine's own watermarked state store,
    * not hand-rolled state). The feed replays the events fixture
    * TWICE in event-time order — every row re-arrives as an exact
    * duplicate — through six micro-batches; the watermark delay
    * (4000 h) exceeds the fixture's 720 h span, so no key is evicted
    * mid-replay and no row is late: the engine must drop ALL
    * second-pass rows plus in-pass repeats, leaving exactly the
    * distinct (user_id, event_type) pairs the oracle counts.
    *
    * Output projects the DEDUP KEYS only: which physical row of a
    * key's occurrences survives is engine/arrival-order detail, the
    * key set is the semantics. Scale shape: state is one row per
    * distinct key (watermark-bounded in production — the delay is a
    * retention dial, not a correctness crutch); per-batch cost is
    * the batch vs state-store lookup, never a corpus rescan. */
  def qStreamDedupWatermark(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val feed = graft.Tables.eventsNorm(spark, dir)
      .select(col("user_id"), col("event_type"), col("ts_sec"))
      // driver sort in the same (ts_sec, user_id, event_type) order —
      // event_type values are ASCII, so Java string order == the
      // engine's UTF8 binary order: harness-side collect + sort
      .as[(Long, String, Long)].collect()
      .sortBy(t => (t._3, t._1, t._2)).toSeq
    val rows = Replay.run(spark, Replay.chunks(feed ++ feed, 6))(
        // feed ++ feed: the duplicate injection
        _.toDF("user_id", "event_type", "ts_sec")
          .withColumn("event_time", timestamp_seconds(col("ts_sec")))
          .withWatermark("event_time", "4000 hours")
          .dropDuplicatesWithinWatermark("user_id", "event_type")
          .select("user_id", "event_type")) { batch =>
      // harness-side collect: draining one micro-batch's OUTPUT rows
      batch.collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    }
    rows.toDF("user_id", "event_type").orderBy("user_id", "event_type")
  }

  /** SERVED-INDEX ANN: query vectors stream in micro-batches against
    * the STANDING materialized IVF+SQ8 index (built once before the
    * stream starts — the build/serve split of
    * [[graft.operators.Similarity.buildIvfIndex]]). Each micro-batch
    * runs the real pruned-cell search
    * ([[graft.operators.Similarity.searchIvfIndexFor]]): per-batch
    * cost is the batch's query planning + a scan of only its probed
    * cells — the index is never rebuilt, rescanned whole, or
    * shuffled. Top-k ranking is per-query, and a query vector lives
    * entirely in one micro-batch, so batch outputs CONCATENATE to
    * the one-shot search — same oracle as sim_ivf_sq8 /
    * sim_ivf_indexed (three plans, one semantics). */
  def qStreamAnnSearch(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    graft.operators.Similarity.buildIvfIndex(spark, dir, "ivf_stream_index")
    val queries = graft.Tables.embeddings(spark, dir)
      .where(col("vec_id") < 10)
      .select("vec_id", "embedding").orderBy("vec_id")
      // harness-side collect: feeding the MemoryStream (10 query rows)
      .as[(Long, Array[Float])].collect().toSeq
    val rows = Replay.run(spark, Replay.chunks(queries, 3))(
        _.toDF("vec_id", "embedding")) { batch =>
      graft.operators.Similarity.searchIvfIndexFor(
          spark, "ivf_stream_index", batch, nProbes = 1)
        // harness-side collect: draining one micro-batch's OUTPUT rows
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
        .toSeq
    }
    rows.toDF("q_id", "rank", "neighbor_id", "sim")
      .orderBy("q_id", "rank")
  }

  /** SERVED-INDEX RETRIEVAL: text queries stream in micro-batches
    * against the STANDING BM25 posting index (built once before the
    * stream starts — [[graft.operators.TextAnalysis.buildTextIndex]]'s
    * build/serve split, the text twin of [[qStreamAnnSearch]]). Each
    * micro-batch runs the real bucket-pruned search
    * ([[graft.operators.TextAnalysis.searchTextIndex]]): per-batch
    * cost is the batch's term collect + a scan of only its terms'
    * file buckets — the corpus is never rescanned, the index never
    * rebuilt. Top-k is per-query and a query lives wholly in one
    * micro-batch, so batch outputs CONCATENATE to the one-shot batch
    * search — same oracle as text_bm25_batch / text_bm25_indexed
    * (three plans, one semantics). */
  def qStreamBm25Search(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    graft.operators.TextAnalysis.buildTextIndex(spark, dir,
      "bm25_stream_index")
    val queries = Seq(
      (0L, "spark table query"),
      (1L, "stream window agg"),
      (2L, "fast vector scan"))
    val rows = Replay.run(spark, Replay.chunks(queries, 2))(
        _.toDF("q_id", "q_text")) { batch =>
      graft.operators.TextAnalysis.searchTextIndex(
          spark, "bm25_stream_index", batch)
        // harness-side collect: draining one micro-batch's OUTPUT rows
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
        .toSeq
    }
    rows.toDF("q_id", "rank", "doc_id", "score")
      .orderBy("q_id", "rank")
  }

  /** CONTINUOUS training-data assembly: the train-split corpus
    * streams in doc_id order; each micro-batch is chunked
    * ([[graft.operators.TextAnalysis.chunkDocs]], map-only) and
    * packed CONTINUING the global token prefix — the only
    * cross-batch state is ONE LONG (the running token total, the
    * `baseOffset` hook of [[graft.operators.Packing.packTokens]]),
    * which is what makes the operator a real incremental pipeline
    * rather than a re-pack: sequences already emitted are never
    * revisited, and batch k's first token lands exactly where batch
    * k−1 stopped, mid-sequence included. Oracle = the batch
    * split→chunk→pack chain, so the gate proves the micro-batch
    * outputs CONCATENATE to the one-shot pack. (No verbatim rewrite
    * here — its owner rule needs the whole corpus; the incremental
    * dedup gates cover standing-store semantics.) */
  def qStreamChunkPack(spark: SparkSession, dir: String): DataFrame =
    streamChunkPack(spark, dir, nChunks = 3)

  /** [[qStreamChunkPack]] at an explicit batch count — the spec
    * sweeps it to prove the output is split-invariant. */
  private[graft] def streamChunkPack(spark: SparkSession, dir: String,
                                     nChunks: Int): DataFrame = {
    import spark.implicits._
    val nDocs = graft.Tables.parquetRowCount(spark, s"$dir/documents.parquet")
    val stream = graft.Tables.documents(spark, dir)
      .where(graft.operators.Mixing.hashBucket(col("text")) < 90)
      .select("doc_id", "text")
      // harness-side collect + driver sort (see qStreamClusterAssign)
      .as[(Long, String)].collect().sortBy(_._1).toSeq
    var base = 0L
    val rows = Replay.run(spark, Replay.chunks(stream, nChunks))(
        _.toDF("doc_id", "text")) { batch =>
      val packed = graft.operators.Packing.packFromCounts(
        graft.operators.TextAnalysis.chunkDocs(batch)
          .where(col("n_chunk_tokens") > 0)
          .select((col("doc_id") * 256 + col("chunk_id")).as("doc_id"),
                  col("n_chunk_tokens")),
        "n_chunk_tokens", nDocs, base)
        .select(expr("doc_id DIV 256").as("doc_id"),
                pmod(col("doc_id"), lit(256L)).cast("long").as("chunk_id"),
                col("n_bpe_tokens"), col("seq_id"), col("seq_offset"))
        // harness-side collect: draining one micro-batch's OUTPUT rows
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
                   r.getLong(4))).toSeq
      base += packed.map(_._3).sum
      packed
    }
    rows.toDF("doc_id", "chunk_id", "n_chunk_tokens", "seq_id", "seq_offset")
      .orderBy("doc_id", "chunk_id")
  }
}
