package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.Text
import graft.sources.StandingTable

/** Text-analysis operators over `documents`: token statistics,
  * quality scoring, language-ID heuristic, fingerprinting, corpus
  * token counts. All pure Column expressions — per-doc work is a
  * scalar projection (no shuffle); only the corpus-level rollups
  * aggregate.
  */
object TextAnalysis {

  // the shared canonical list — kernels and twins can't drift (r15)
  private val Stopwords = graft.functions.QualityScore.StopwordList

  private def toks: Column = Text.tokens(col("text"))

  /** Per-document token statistics (token counting surface). */
  def qTextStats(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(
        col("doc_id"),
        length(col("text")).cast("long").as("n_chars_calc"),
        size(toks).cast("long").as("n_tokens"),
        size(array_distinct(toks)).cast("long").as("n_distinct_tokens"),
        Text.roundPortable(aggregate(transform(toks, t => length(t)), lit(0),
          (acc, x) => acc + x).cast("double") / size(toks), 4).as("avg_token_len"))
      .orderBy("doc_id")

  // --- text CLEANING family: PII redaction + normalization --------
  // Production curation scrubs text before anything else touches it;
  // both operators are pure per-row projections (regex chains inside
  // whole-stage codegen, no shuffle, no model state) — the cheapest
  // possible 100 TB shape. Patterns are written in the Java∩RE2
  // portable subset so the DuckDB oracle replays them byte-for-byte.

  private val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private val PhoneRe = "\\b\\d{3}-\\d{3}-\\d{4}\\b"
  private val Ipv4Re = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"

  /** PII REDACTION: emails, dashed phone numbers, and IPv4 addresses
    * replaced with typed placeholders, with per-kind match counts for
    * the scrubbing audit. The synthetic fixture carries no PII, so the
    * gate INJECTS deterministic PII first (id-derived addresses on the
    * %5/%7/%11 residue classes — the qCorpusDiff synthetic-version
    * convention) and the oracle injects the same; the redaction chain
    * itself is the operator. Replacement order (email → phone → IP)
    * is fixed and non-overlapping by construction of the patterns. */
  def qTextPiiRedact(spark: SparkSession, dir: String): DataFrame = {
    val id = col("doc_id")
    val injected = concat(col("text"),
      when(pmod(id, lit(5)) === 0,
        concat(lit(" contact u"), id.cast("string"), lit("@ex.org")))
        .otherwise(lit("")),
      when(pmod(id, lit(7)) === 0, lit(" call 555-123-4567"))
        .otherwise(lit("")),
      when(pmod(id, lit(11)) === 0,
        concat(lit(" from 10.0."), pmod(id, lit(256)).cast("string"),
          lit("."), pmod(id, lit(100)).cast("string")))
        .otherwise(lit("")))
    Tables.documents(spark, dir)
      .select(col("doc_id"), injected.as("raw"))
      .select(col("doc_id"),
        regexp_count(col("raw"), lit(EmailRe)).cast("long").as("n_emails"),
        regexp_count(col("raw"), lit(PhoneRe)).cast("long").as("n_phones"),
        regexp_count(col("raw"), lit(Ipv4Re)).cast("long").as("n_ips"),
        regexp_replace(
          regexp_replace(
            regexp_replace(col("raw"), EmailRe, "<EMAIL>"),
            PhoneRe, "<PHONE>"),
          Ipv4Re, "<IP>").as("clean_text"))
      .orderBy("doc_id")
  }

  /** TEXT NORMALIZATION — the C4-style cleaning projection: strip
    * markup tags, collapse whitespace runs, trim, lowercase; report
    * before/after char counts so the cleaning is auditable. The
    * fixture text is already flat, so the gate INJECTS markup and
    * casing on the %3/%4 residue classes (mirrored by the oracle) and
    * normalizes it away; the chain is the operator. */
  def qTextNormalize(spark: SparkSession, dir: String): DataFrame = {
    val id = col("doc_id")
    val marked = when(pmod(id, lit(3)) === 0,
      concat(lit("<p>"), col("text"), lit("</p>  <br/>")))
      .otherwise(col("text"))
    val raw = when(pmod(id, lit(4)) === 0, upper(marked)).otherwise(marked)
    val norm = lower(trim(regexp_replace(
      regexp_replace(raw, "<[^>]+>", " "), "\\s+", " ")))
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        length(raw).cast("long").as("n_chars_raw"),
        length(norm).cast("long").as("n_chars_norm"),
        norm.as("norm_text"))
      .orderBy("doc_id")
  }

  /** Heuristic quality score: length saturation + lexical diversity +
    * stopword share, HALF_UP to 4 decimals. Exposed as a column so
    * score-driven operators ([[Mixing.qQualitySample]]) share ONE
    * definition with the gate. */
  private[graft] def qualityScoreCol: Column =
    // r14: the [[graft.functions.QualityScore]] kernel (one pass per
    // doc) replaces tokens + array_distinct + an interpreted
    // filter(isin) lambda; same digits (KernelContractSpec pins kernel
    // == its HOF twin), same oracle SQL.
    Text.roundPortable(graft.functions.QualityScore(col("text")), 4)

  def qTextQuality(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), qualityScoreCol.as("quality_score"))
      .orderBy("doc_id")

  /** PER-SOURCE QUALITY CALIBRATION — percent-rank of each document's
    * quality within its source: heterogeneous sources score on
    * different scales (a forum and an encyclopedia never share a
    * threshold), so curation recipes calibrate per source before any
    * global cut (the FineWeb per-dump-threshold practice).
    *
    * Semantics = `percent_rank() OVER (PARTITION BY source ORDER BY
    * quality)` — but that plan is one window partition per SOURCE,
    * and source cardinality is tiny while sources are huge: a
    * handful of corpus-sized partitions, the exact skew the prefix
    * sums dodge. Because quality is HALF-UP rounded to 4 decimals,
    * the rank only depends on the (source, quality) HISTOGRAM —
    * metadata-sized (|sources|·10⁴ rows at most). So: one
    * partial-agg histogram shuffle, a cumulative count over the
    * histogram (a window over the tiny frame), and a BROADCAST join
    * back — per-doc work is map-only, no corpus-sized window ever
    * materializes. percent_rank ties share the minimum rank:
    * pct = (docs strictly below) / (n_source − 1), 0.0 for a
    * single-doc source. */
  def qQualityCalibrate(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), qualityScoreCol.as("quality"))
    val hist = docs.groupBy("source", "quality")
      .agg(count(lit(1)).as("c"))
    val wCum = Window.partitionBy("source").orderBy("quality")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wSrc = Window.partitionBy("source")
    val ranks = hist
      .withColumn("below", sum("c").over(wCum) - col("c"))
      .withColumn("n_src", sum("c").over(wSrc))
      .select(col("source"), col("quality"),
        Text.roundPortable(
          when(col("n_src") === 1, lit(0.0))
            .otherwise(col("below").cast("double") / (col("n_src") - 1)),
          4).as("pct_rank"))
    docs.join(broadcast(ranks), Seq("source", "quality"))
      .select(col("doc_id"), col("source"), col("quality"), col("pct_rank"))
      .orderBy("doc_id")
  }

  /** Gopher-style rule filter (Rae et al. 2021, table A1 adapted):
    * per-document boolean flags for the classic pretraining quality
    * rules plus the conjunction `keep`. Flags, not a filtered subset —
    * downstream curation wants to ablate rules independently, and
    * dropping rows here would hide WHICH rule fired. All five rules
    * are per-row HOF arithmetic over the token array: a map-only
    * projection, zero shuffles, and the one quadratic piece (the
    * top-token count, O(distinct·len) per row) is bounded by document
    * length — never by corpus size — so the per-row cost is a
    * constant at any corpus scale.
    *
    *  - r_word_count:   50 ≤ tokens ≤ 100 000
    *  - r_mean_word_len: mean token length in [3, 10]
    *  - r_alpha:        ≥ 80 % of tokens contain an alphabetic char
    *  - r_stopwords:    ≥ 2 stopword occurrences
    *  - r_repetition:   most-frequent token ≤ 15 % of tokens
    */
  def qTextGopherRules(spark: SparkSession, dir: String): DataFrame = {
    // r15: the five signals come from the one-pass GopherSignals
    // kernel (guide §4) — the HOF spelling it replaces (the test-side
    // twin KernelContractSpec pins it against) paid
    // O(distinct·len) interpreted lambda dispatch per doc for the
    // top-token count. Flag arithmetic below is byte-identical to the
    // r14 expressions, only the counters' provenance changed.
    val g = col("g")
    val n = g("n").cast("double")
    val meanLen = g("len_sum").cast("double") / n
    val alphaFrac = g("n_alpha").cast("double") / n
    val topFrac = g("top_cnt").cast("double") / n
    Tables.documents(spark, dir)
      .withColumn("g", graft.functions.GopherSignals(col("text")))
      .select(col("doc_id"),
        (g("n") >= 50 && g("n") <= 100000).as("r_word_count"),
        (meanLen >= 3.0 && meanLen <= 10.0).as("r_mean_word_len"),
        (alphaFrac >= 0.8).as("r_alpha"),
        (g("stop_cnt") >= 2).as("r_stopwords"),
        (topFrac <= 0.15).as("r_repetition"))
      .withColumn("keep",
        col("r_word_count") && col("r_mean_word_len") && col("r_alpha") &&
        col("r_stopwords") && col("r_repetition"))
      .orderBy("doc_id")
  }

  /** Language-ID heuristic (CJK codepoint share, then stopword votes
    * per candidate language) → confusion matrix against the labeled
    * `lang` column. */
  def qTextLangid(spark: SparkSession, dir: String): DataFrame = {
    val markers = Map(
      "en" -> Seq("the", "a", "and", "of", "to"),
      "de" -> Seq("der", "die", "und", "das", "ist"),
      "fr" -> Seq("le", "la", "et", "les", "des"),
      "es" -> Seq("el", "la", "y", "los", "que"))
    def votes(lang: String): Column =
      size(filter(toks, t => t.isin(markers(lang): _*)))
    val zhChars = length(regexp_replace(col("text"), "[^\\u4e00-\\u9fff]", ""))
    val pred =
      when(zhChars * 3 > length(col("text")), "zh")
        .when(votes("de") > votes("en") && votes("de") >= votes("fr") &&
              votes("de") >= votes("es"), "de")
        .when(votes("fr") > votes("en") && votes("fr") >= votes("es"), "fr")
        .when(votes("es") > votes("en"), "es")
        .otherwise("en")
    Tables.documents(spark, dir)
      .select(col("lang"), pred.as("pred_lang"))
      .groupBy("lang", "pred_lang")
      .agg(count(lit(1)).as("n"))
      .orderBy("lang", "pred_lang")
  }

  /** BPE-ish subword token counting: the GPT-2-style pre-tokenizer
    * regex (contractions / letter runs / digit runs / punctuation
    * runs, each with optional leading space) — the unit a byte-pair
    * encoder would then merge. Whitespace token counts are in
    * [[qTextStats]]; this is the tokenizer-shaped count an LLM data
    * pipeline budgets by (and the unit [[Packing]] packs by). */
  private[graft] val BpePattern =
    "'(?:[sdmt]|ll|ve|re)| ?[A-Za-z]+| ?[0-9]+| ?[^\\sA-Za-z0-9]+"
  private[graft] def bpeTokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit(BpePattern), lit(0))).cast("long")

  def qTextTokensBpe(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), bpeTokenCount(col("text")).as("n_bpe_tokens"))
      .orderBy("doc_id")

  /** TOKENIZER FERTILITY per source — BPE tokens per whitespace word,
    * the standard tokenizer-audit statistic: fertility near 1 means
    * the vocab fits the text; high fertility marks sources (usually
    * languages/scripts the merges never saw) that will pay more
    * sequence length per word and silently eat a token-budgeted mix
    * (q_token_budget_mix allocates by BPE mass, so a high-fertility
    * source gets fewer DOCUMENTS for the same budget — this gate is
    * where that skew becomes visible). One partial-agg shuffle of
    * two per-doc counters; the ratio math runs on source rows. */
  def qTextFertility(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("source"),
        bpeTokenCount(col("text")).as("bpe"),
        size(toks).cast("long").as("ws"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum("bpe").as("bpe_tokens"),
        sum("ws").as("ws_tokens"))
      .select(col("source"), col("n_docs"), col("bpe_tokens"),
        col("ws_tokens"),
        Text.roundPortable(
          col("bpe_tokens").cast("double") / col("ws_tokens"), 4)
          .as("fertility"))
      .orderBy("source")

  /** Train/eval decontamination: flag training documents that share
    * any word 4-gram with the held-out eval slice (here: doc_id ≡ 0
    * mod 20 stands in for the benchmark set). The canonical LLM
    * pre-training hygiene pass — n-gram overlap against benchmarks —
    * expressed as an inverted-index join: eval shingles are DISTINCT
    * and tiny relative to the corpus (benchmarks are fixed-size while
    * training data grows), so they broadcast and the train side never
    * shuffles until the per-doc count. n_shared is the number of
    * distinct shared shingles; thresholding is caller policy (chance
    * 4-gram collisions exist on a small vocabulary — the count, not a
    * boolean, is the operator's output). */
  def qDecontaminate(spark: SparkSession, dir: String): DataFrame =
    decontaminate(Tables.documents(spark, dir), col("doc_id") % 20 === 0, 4)

  /** Core with the knobs exposed: `isEval` marks the held-out slice,
    * `w` is the shingle width (4 here because the synthetic corpus is
    * ~55 tokens/doc on a 40-word vocabulary; real decontamination
    * uses 8–13-gram widths, where chance collisions vanish). */
  private[graft] def decontaminate(documents: DataFrame, isEval: Column,
                                   w: Int): DataFrame = {
    val docs = shingleSet(documents, w)
    decontaminateAgainst(
      docs.where(isEval).select("sh").distinct(),
      docs.where(!isEval))
      .orderBy("doc_id")
  }

  /** Model-based quality filtering, fastText-classifier-shaped: each
    * token contributes a weight looked up by the HASHING TRICK (a
    * pure function of the token — no vocabulary table to join or
    * broadcast), the document score is the mean token weight pushed
    * through a logistic link, and the filter verdict is score ≥ 0.5.
    * This is the classifier stage every production corpus pipeline
    * runs between the cheap heuristics ([[qTextQuality]]) and dedup —
    * at 100 TB it must be exactly this shape: a shuffle-free per-doc
    * projection whose model state is O(1) per executor.
    *
    * The weight function here — six md5 hex digits → integer →
    * centered unit interval — is a deterministic STAND-IN for trained
    * projection weights (no trained model ships in this container),
    * the same policy as [[Multimodal]]'s stub decode kernel: the
    * plumbing (hashing trick, per-token lookup, columnar fold,
    * logistic link) is the artifact, and the oracle hash-checks all
    * of it digit for digit. Swapping in real weights = replacing
    * `tokenWeight` with a lookup into a broadcast float array indexed
    * by the same hash. */
  def qTextQualityClassifier(spark: SparkSession, dir: String): DataFrame =
    qualityClassifier(Tables.documents(spark, dir))

  /** Unrounded classifier probability over `col("text")` — exposed so
    * [[Pipeline]] gates on it inline instead of joining back to a
    * scored table (at scale the score is a projection, never a join). */
  private[graft] def classifierProb: Column = {
    // r14: the per-token md5-hash weight mean runs in the
    // ClassifierMeanW static kernel (one codegen'd call per row)
    // instead of an interpreted aggregate(transform(...)) chain —
    // measured 2.4 s/pass at sf0.1, the whole gate stage of
    // pipeline_pretrain_model. Same digits: the oracle still spells
    // conv(substring(md5(t),1,6),16,10) % 2001 etc., and
    // R14KernelsSpec pins kernel == the builtin fold (a test-side twin).
    val meanW = graft.functions.ClassifierMeanWKernel
      .classifierMeanW(toks, None)
    lit(1.0) / (lit(1.0) + exp(lit(-4.0) * meanW))
  }

  private[graft] def qualityClassifier(documents: DataFrame): DataFrame = {
    val prob = classifierProb
    documents
      .where(size(toks) > 0)
      .select(col("doc_id"),
        Text.roundPortable(prob, 4).as("quality_prob"),
        (prob >= 0.5).as("keep"))
      .orderBy("doc_id")
  }

  /** TRAINED weights as a TABLE — the entry point a real fastText
    * export rides in through (the packFromCounts precedent: model
    * state arrives as data, the plan does not change). `weights` is
    * (bucket, weight) with buckets exactly 0..dim−1 — the hashing-
    * trick projection row of an exported classifier. The read is the
    * k-row model-collect convention (dim rows, bounded by the
    * export's bucket count — 2M buckets ≈ 16 MB of doubles, broadcast
    * once as a literal like the k-means centroids). */
  private[graft] def classifierWeightsOf(weights: DataFrame): Array[Double] = {
    val rows = weights
      .select(col("bucket").cast("int"), col("weight").cast("double"))
      .collect()
    val dim = rows.length
    require(dim > 0, "empty classifier weights table")
    require(rows.map(_.getInt(0)).sorted.sameElements(0 until dim),
      s"weights table must cover buckets 0..${dim - 1} exactly")
    val arr = new Array[Double](dim)
    rows.foreach(r => arr(r.getInt(0)) = r.getDouble(1))
    arr
  }

  /** [[classifierProb]] under an explicit weight vector: the SAME
    * shuffle-free projection and logistic link, with the token's
    * md5-derived integer folded into the table's bucket range instead
    * of the stand-in's fixed ±1 codomain. Swapping stand-in → trained
    * model is exactly this substitution — zero plan changes. */
  private[graft] def classifierProbWith(w: Array[Double]): Column = {
    // same kernel as [[classifierProb]], with the exported table
    // shipped as a plan reference object instead of the stand-in
    // weight function — the swap is still zero plan changes
    val meanW = graft.functions.ClassifierMeanWKernel
      .classifierMeanW(toks, Some(w))
    lit(1.0) / (lit(1.0) + exp(lit(-4.0) * meanW))
  }

  /** [[qualityClassifier]] scored by an exported weights table. */
  private[graft] def qualityClassifierWith(documents: DataFrame,
      weights: DataFrame): DataFrame = {
    val prob = classifierProbWith(classifierWeightsOf(weights))
    documents
      .where(size(toks) > 0)
      .select(col("doc_id"),
        Text.roundPortable(prob, 4).as("quality_prob"),
        (prob >= 0.5).as("keep"))
      .orderBy("doc_id")
  }

  /** Bloom-prefiltered decontamination — same rows as
    * [[qDecontaminate]] (one oracle, two plans: the
    * dedup_clusters_dist / emb_kmeans_joined precedent), built for
    * the regime where the eval-shingle index outgrows a broadcast
    * hash relation. A benchmark suite's 13-grams can run to billions
    * of entries; a Bloom filter at 1 % fpp holds them in ~1.2 GB
    * regardless of shingle LENGTH, and the train side probes it
    * map-side, so the only shingles that reach the exact join (and
    * its shuffle) are true hits plus the fpp sliver. The filter is
    * one-sided — `false` is definite — so the exact verify join over
    * the survivors makes the OUTPUT identical to the unfiltered
    * operator: false positives cost work, never correctness (the
    * same candidates-then-verify contract every dedup here follows).
    *
    * Building the filter is one aggregation job over the EVAL side
    * only (eval is the small, fixed-size relation by contract — the
    * corpus side is never counted or collected). */
  def qDecontaminateBloom(spark: SparkSession, dir: String): DataFrame =
    decontaminateBloom(Tables.documents(spark, dir), col("doc_id") % 20 === 0, 4)

  private[graft] def decontaminateBloom(documents: DataFrame, isEval: Column,
                                        w: Int, fpp: Double = 0.01): DataFrame = {
    val docs = shingleSet(documents, w)
    decontaminateBloomAgainst(
      docs.where(isEval).select("sh").distinct(), docs.where(!isEval), fpp)
  }

  /** The eval-store form (the [[decontaminateAgainst]] twin), so
    * [[Pipeline]] can point the Bloom at a raw-eval shingle store
    * while the train side is its curated survivors. */
  // at most ONE eval-shingle cache lives per SparkSession: each
  // invocation releases that session's previous one (the result plan
  // holding it has been acted on by then, or abandoned), so
  // long-lived sessions running many decontaminations (specs, ad-hoc
  // use) can't accumulate cached relations — a harness-wide
  // clearCache is a backstop, not the release mechanism. Keyed by
  // SparkSession so a second session in the same JVM never unpersists
  // a cache another session's plan still wants (one retained entry
  // per session — bounded by live session count; keys are the
  // session objects themselves, identity-compared). A caller that
  // builds two decontamination frames in ONE session before executing
  // the first loses the first frame's cache: correctness survives
  // (the verify join recomputes the eval shingles uncached), the
  // release heuristic just degrades to recompute for that frame.
  private val lastEvalCache =
    new java.util.concurrent.ConcurrentHashMap[SparkSession, DataFrame]()

  private[graft] def decontaminateBloomAgainst(evalShingles: DataFrame,
                                               trainShingled: DataFrame,
                                               fpp: Double = 0.01): DataFrame = {
    // the eval slice is read three times (sizing count, filter build,
    // verify join) — cached so re-shingling and re-distincting run
    // once, not per consumer; eval is the small, fixed-size relation
    // by contract so the footprint is bounded.
    val evalCached = evalShingles.cache()
    val prev = lastEvalCache.put(evalCached.sparkSession, evalCached)
    if (prev != null && (prev ne evalCached)) prev.unpersist(blocking = false)
    val nEval = evalCached.count()
    // an empty eval slice can't contaminate anything — and Spark's
    // stat.bloomFilter NPEs on zero input rows (readFrom(null buf)),
    // so the guard is correctness AND a crash fix for empty corpora
    if (nEval == 0)
      return trainShingled
        .where(lit(false))
        .select(col("doc_id"), lit(0L).as("n_shared"))
        .orderBy("doc_id")
    val bloom = evalCached.stat.bloomFilter("sh", nEval, fpp)
    trainShingled
      .where(graft.functions.Bloom.mightContain(bloom, col("sh")))
      // no broadcast hint, unlike decontaminateAgainst: this variant
      // exists precisely for eval sets near/over the broadcast limit,
      // so AQE picks the verify-join strategy from the real sizes
      .join(evalCached, "sh")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shared"))
      .orderBy("doc_id")
  }

  /** (doc_id, sh) — each doc exploded to its distinct word w-grams.
    * r14: the [[graft.functions.ShinglesW]] kernel (one codegen'd
    * pass per doc at any width) replaces the
    * two-projection HOF chain — the interpreted transform was the
    * dominant cost of every caller (decontamination ×4 plans,
    * source overlap). The HOF twin stays below as the cross-check. */
  private[graft] def shingleSet(documents: DataFrame, w: Int): DataFrame =
    documents
      .select(col("doc_id"),
        explode(graft.functions.ShinglesW(col("text"), w)).as("sh"))

  /** Distinct word w-grams of a token array (empty below w tokens) —
    * the builtin-composition twin of [[graft.functions.ShinglesW]],
    * kept as the no-custom-code cross-check (R14KernelsSpec). */
  private[graft] def shingleArray(t: Column, w: Int): Column =
    when(size(t) >= w,
        array_distinct(transform(sequence(lit(0), size(t) - w),
          i => array_join(slice(t, i + 1, lit(w)), " "))))
      .otherwise(array().cast("array<string>"))

  /** Cross-source overlap audit: for every pair of corpus sources,
    * how many DISTINCT word 4-grams they share, and the Jaccard of
    * their shingle vocabularies. The standard question before mixing
    * crawl snapshots / dumps into one training corpus — "how much of
    * source B is already in source A" — answered at the vocabulary
    * level (doc-level duplication across sources is [[graft.operators.Dedup]]'s job).
    *
    * Scale shape: the per-source vocabulary is DISTINCT before the
    * self-join, so each shingle contributes at most C(sources, 2)
    * pair rows — fan-out is bounded by the (small, fixed) source
    * count, never by document count; the one corpus-wide shuffle is
    * the distinct on (source, shingle). Output is a matrix over
    * sources — tiny at any corpus size. */
  def qSourceOverlap(spark: SparkSession, dir: String): DataFrame =
    sourceOverlap(Tables.documents(spark, dir), 4)

  private[graft] def sourceOverlap(documents: DataFrame, w: Int): DataFrame = {
    val vocab = documents
      .select(col("source"),
        explode(graft.functions.ShinglesW(col("text"), w)).as("sh"))
      .distinct()
    val sizes = vocab.groupBy("source").agg(count(lit(1)).as("n"))
    // r14: pair counting via ONE groupBy(sh) + map-side pair explode,
    // instead of the vocab⋈vocab self-join on sh — the join shuffled
    // the distinct-shingle universe twice and emitted the same
    // (sh, pair) rows the explode builds for free. The source set per
    // shingle is ≤ the (small, fixed) source count, so the per-row
    // pair fan-out is C(sources, 2)-bounded exactly as before; the
    // sorted set keeps source_a < source_b.
    val pairsPerShingle = vocab.groupBy("sh")
      .agg(sort_array(collect_set(col("source"))).as("ss"))
      .where(size(col("ss")) >= 2)
      .select(explode(flatten(transform(
        sequence(lit(1), size(col("ss")) - 1),
        i => transform(slice(col("ss"), i + 1, size(col("ss"))),
          b => struct(element_at(col("ss"), i).as("sa"), b.as("sb"))))))
        .as("p"))
    pairsPerShingle
      .groupBy(col("p.sa").as("source_a"), col("p.sb").as("source_b"))
      .agg(count(lit(1)).as("n_shared"))
      .join(sizes.select(col("source").as("source_a"), col("n").as("n_a")), "source_a")
      .join(sizes.select(col("source").as("source_b"), col("n").as("n_b")), "source_b")
      .select(col("source_a"), col("source_b"), col("n_shared"),
        Text.roundPortable(
          col("n_shared").cast("double") /
            (col("n_a") + col("n_b") - col("n_shared")), 4).as("jaccard"))
      .orderBy("source_a", "source_b")
  }

  private[graft] val KmvK = 32

  /** Pairwise source overlap by K-minimum-values sketch — the
    * at-scale replacement for [[sourceOverlap]]'s exact shingle
    * self-join. The exact operator's cost center is the equality
    * join across the full distinct-shingle universe (a corpus-sized
    * shuffle whose skew follows shingle df); KMV collapses each
    * source to its k lexicographically-smallest shingle hashes —
    * after the one distinct-shingle pass (the same first shuffle the
    * exact operator already pays), every pairwise comparison touches
    * k rows per source, independent of corpus size. Jaccard is
    * estimated on the k smallest of the UNION of two sketches:
    * ρ = |∩ within that prefix| / |prefix| (Beyer et al.'s KMV
    * estimator with md5 as the portable uniform hash — deterministic,
    * so the DuckDB oracle replays the identical sketch).
    *
    * Sketches are mergeable (k-min of a union = k-min of sketch
    * concatenation), so source appends re-sketch only the delta —
    * the incremental-append posture every index in this repo follows.
    * At 100 TB the sketch table is sources×k rows; the pairwise stage
    * is driver-negligible and the plan never joins shingle-to-shingle
    * across sources. */
  def qTextOverlapKmv(spark: SparkSession, dir: String): DataFrame =
    overlapKmv(Tables.documents(spark, dir), KmvK)

  private[graft] def kmvSketch(documents: DataFrame, k: Int): DataFrame = {
    val hashed = documents
      .select(col("source"), explode(Text.shingles3(col("text"))).as("sh"))
      .distinct()
      .select(col("source"), md5(col("sh")).as("h"))
    kmvMerge(hashed, k)
  }

  /** k-min re-rank of (source, h) rows — both the sketch build's
    * final step and the APPEND path's merge (k-min of a union of
    * sketches IS the sketch of the union; KmvNoveltySpec and the
    * stream_overlap_kmv gate both lean on this identity). */
  private[graft] def kmvMerge(rows: DataFrame, k: Int): DataFrame =
    rows.distinct()
      .withColumn("rn",
        row_number().over(Window.partitionBy("source").orderBy("h")))
      .filter(col("rn") <= k)
      .drop("rn")

  private[graft] def overlapKmv(documents: DataFrame, k: Int): DataFrame =
    kmvEstimate(kmvSketch(documents, k), k)

  /** Pairwise Jaccard estimates from a standing sketch table —
    * sources×k rows in, sources²/2 rows out; corpus-independent. */
  private[graft] def kmvEstimate(sk: DataFrame, k: Int): DataFrame = {
    val srcs = sk.select("source").distinct()
    val pairs = srcs.as("a").join(srcs.as("b"),
        col("a.source") < col("b.source"))
      .select(col("a.source").as("source_a"), col("b.source").as("source_b"))
    // presence-marked union of the two sketches per pair; the k
    // smallest of that union estimate the Jaccard
    val ua = pairs.join(sk.as("sa"), col("sa.source") === col("source_a"))
      .select(col("source_a"), col("source_b"), col("sa.h").as("h"),
        lit(1).as("in_a"), lit(0).as("in_b"))
    val ub = pairs.join(sk.as("sb"), col("sb.source") === col("source_b"))
      .select(col("source_a"), col("source_b"), col("sb.h").as("h"),
        lit(0).as("in_a"), lit(1).as("in_b"))
    ua.unionByName(ub)
      .groupBy("source_a", "source_b", "h")
      .agg(max("in_a").as("in_a"), max("in_b").as("in_b"))
      .withColumn("rn", row_number().over(
        Window.partitionBy("source_a", "source_b").orderBy("h")))
      .filter(col("rn") <= k)
      .groupBy("source_a", "source_b")
      .agg(Text.roundPortable(
        sum(col("in_a") * col("in_b")).cast("double") / count(lit(1)), 4)
        .as("kmv_jaccard"))
      .orderBy("source_a", "source_b")
  }

  // 16^12 — the 48-bit hash-prefix space mapping md5 hex to a
  // uniform fraction in [0,1): conv(substr(h,1,12),16,10) / 2^48
  private val HashFracSpace = 281474976710656.0

  /** Per-source distinct-shingle cardinality estimate from the SAME
    * KMV sketch [[overlapKmv]] builds — the k-minimum-values
    * estimator (k−1)/h_k with h_k the k-th smallest hash mapped into
    * [0,1). A source with fewer than k distinct shingles carries its
    * sketch EXACTLY, so the estimate degrades to the true count.
    * Together with the pairwise overlap this makes the sketch table
    * a complete per-source vocabulary profile: cardinality, and
    * every pairwise intersection, from sources×k rows — at 100 TB
    * the profile refreshes from sketch merges alone, with no
    * COUNT(DISTINCT) shuffle over the shingle universe.
    * (KmvNoveltySpec prices the estimator against exact counts.) */
  def qTextSourceCardinality(spark: SparkSession, dir: String): DataFrame =
    kmvCardinality(kmvSketch(Tables.documents(spark, dir), KmvK), KmvK)

  private[graft] def kmvCardinality(sk: DataFrame, k: Int): DataFrame =
    sk.groupBy("source")
      .agg(count(lit(1)).as("n_sketch"), max("h").as("mh"))
      .select(col("source"), col("n_sketch"),
        Text.roundPortable(
          when(col("n_sketch") < k, col("n_sketch").cast("double"))
            .otherwise(lit((k - 1).toDouble) /
              (conv(substring(col("mh"), 1, 12), 16, 10).cast("double") /
                lit(HashFracSpace))), 2)
          .as("est_distinct"))
      .orderBy("source")

  /** Per-document n-gram novelty — the memorization-risk face of the
    * df statistic: what fraction of a doc's distinct 3-gram shingles
    * appear NOWHERE else in the corpus (df = 1). Boilerplate-heavy or
    * templated docs score near 0; unique prose scores near 1 — the
    * complement of what the dedup family removes, used to weight
    * sampling toward novel text. Plan: one distinct-shingle explode,
    * one df aggregation keyed on the shingle (the exact shuffle
    * text_tfidf already pays — same skew posture: df follows shingle
    * popularity, AQE splits the hot keys), one join back, one per-doc
    * rollup. Docs with < 3 tokens have no shingles and surface with
    * novelty 0 via the left join, not silently dropped. */
  def qTextNgramNovelty(spark: SparkSession, dir: String): DataFrame =
    ngramNovelty(Tables.documents(spark, dir))

  private[graft] def ngramNovelty(docs: DataFrame): DataFrame = {
    val e = docs
      .select(col("doc_id"), explode(Text.shingles3(col("text"))).as("sh"))
    val df = e.groupBy("sh").agg(count(lit(1)).as("df"))
    val perDoc = e.join(df, "sh")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shingles"),
           sum(when(col("df") === 1, 1L).otherwise(0L)).as("n_unique"))
    docs.select(col("doc_id")).join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_shingles"), lit(0L)).as("n_shingles"),
        coalesce(col("n_unique"), lit(0L)).as("n_unique"),
        Text.roundPortable(
          when(col("n_shingles").isNull, lit(0.0))
            .otherwise(col("n_unique").cast("double") / col("n_shingles")), 4)
          .as("novelty"))
      .orderBy("doc_id")
  }

  /** The production ingestion shape: flag incoming (already
    * shingled) training docs against a STANDING eval-shingle store —
    * computed once, cached, reused by every batch or micro-batch
    * (the decontamination twin of `Dedup.incrementalNearDupSigs`).
    * Per-doc counts are independent across batches, so micro-batch
    * results union to exactly the one-shot run
    * (StreamingDecontaminationSpec asserts it). Rows come unsorted:
    * every caller either sorts at its query boundary or discards
    * the order. */
  private[graft] def decontaminateAgainst(evalShingles: DataFrame,
                                          trainShingled: DataFrame): DataFrame =
    trainShingled
      .join(broadcast(evalShingles), "sh")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shared"))

  /** Repetition quality signals (the Gopher/MassiveText filter
    * family): per document,
    *   - dup_2gram_frac — fraction of word-2-gram occurrences that
    *     are repeats of an already-seen 2-gram,
    *   - top_2gram_frac — share of 2-gram occurrences claimed by the
    *     single most frequent 2-gram,
    *   - max_run — longest run of the same token repeated
    *     consecutively ("batch batch batch" → 3).
    * All pure per-doc Column expressions — a scalar projection with
    * no shuffle, like the other text scorers; per-doc cost is bounded
    * by document length (the top-2-gram count is O(distinct·total)
    * within one doc), independent of corpus size.
    *
    * max_run avoids a fold (no engine-portable typed accumulator):
    * run boundaries are the positions where tokens(i) ≠ tokens(i+1),
    * and the longest run is the widest gap between consecutive
    * boundaries — two slices zipped with subtraction. */
  def qTextRepetition(spark: SparkSession, dir: String): DataFrame =
    repetitionSignals(Tables.documents(spark, dir))

  private[graft] def repetitionSignals(documents: DataFrame): DataFrame = {
    val t = col("toks")
    val n = size(t)
    val g2 = when(n >= 2,
        transform(sequence(lit(1), n - 1),
          i => concat_ws(" ", slice(t, i, lit(2)))))
      .otherwise(array().cast("array<string>"))
    val n2 = size(col("g2")).cast("double")
    val dupFrac = when(size(col("g2")) === 0, lit(0.0))
      .otherwise((n2 - size(array_distinct(col("g2")))) / n2)
    val topCnt = array_max(transform(array_distinct(col("g2")),
      d => size(filter(col("g2"), x => x === d))))
    val topFrac = when(size(col("g2")) === 0, lit(0.0))
      .otherwise(topCnt / n2)
    // boundary positions: 0, every i (1-based) with t[i] ≠ t[i+1], n
    val bounds = concat(
      array(lit(0)),
      filter(sequence(lit(1), n - 1),
        i => element_at(t, i + 1) =!= element_at(t, i)),
      array(n))
    // n ≤ 1 short-circuits BEFORE bounds is evaluated: sequence(1, 0)
    // would descend, and element_at past the array end is an ANSI error
    val maxRun = when(n <= 1, n.cast("long")).otherwise(
      array_max(zip_with(
        slice(bounds, lit(2), size(bounds) - 1),
        slice(bounds, lit(1), size(bounds) - 1),
        (hi, lo) => hi - lo)).cast("long"))
    documents
      .select(col("doc_id"), toks.as("toks"))
      .withColumn("g2", g2)
      .select(col("doc_id"),
        Text.roundPortable(dupFrac, 4).as("dup_2gram_frac"),
        Text.roundPortable(topFrac, 4).as("top_2gram_frac"),
        maxRun.as("max_run"))
      .orderBy("doc_id")
  }

  /** Normalized content fingerprint (whitespace-collapsed md5) —
    * the formatting-insensitive doc identity used upstream of exact
    * dedup. */
  def qTextFingerprint(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), md5(concat_ws(" ", toks)).as("fp"))
      .orderBy("doc_id")

  /** Per-document top terms by TF-IDF — the classic relevance
    * weighting over the corpus: one explode, two aggregations (term
    * frequency per doc, document frequency per term), a broadcast of
    * the doc count, and a per-doc ranking window. */
  def qTextTfidf(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(spark, dir)
    val toksE = docs.select(col("doc_id"), explode(toks).as("token"))
    val tf = toksE.groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
    val df = toksE.select("doc_id", "token").distinct()
      .groupBy("token").agg(count(lit(1)).as("df"))
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    val w = Window.partitionBy("doc_id")
      .orderBy(desc("tfidf"), col("token"))
    tf.join(df, "token").crossJoin(nDocs)
      .withColumn("tfidf", col("tf") * log(col("n_docs") / col("df")))
      .withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= 3)
      .select(col("doc_id"), col("rank"), col("token"), col("tf"),
              Text.roundPortable(col("tfidf"), 4).as("tfidf"))
      .orderBy("doc_id", "rank")
  }

  private val CodeSymbolRe = "[{}()\\[\\];=:<>]"

  /** CODE-VS-PROSE DETECTION — the routing filter a mixed crawl runs
    * before language-specific curation (code wants different dedup
    * dials, quality rules, and mixing weights than prose; misrouted
    * code also wrecks prose perplexity filters). The signal is the
    * structural-symbol density `{}()[];=:<>` per character — prose
    * sits near zero, code far above — thresholded at 3 %. A pure
    * per-row projection (regex count inside whole-stage codegen):
    * the cheapest possible 100 TB shape, like the PII scrubber.
    *
    * The fixture is all prose, so the gate INJECTS a deterministic
    * code block on the doc_id %6 == 0 residue class (the PII-
    * injection precedent; the oracle injects the same) so BOTH
    * routing outcomes execute. */
  def qTextCodeDetect(spark: SparkSession, dir: String): DataFrame = {
    val injected = concat(col("text"),
      when(pmod(col("doc_id"), lit(6)) === 0,
        concat(lit(" def f(x): return {\"k\": x[0], \"n\": len(x)};"),
          lit(" for (i = 0; i < 10; i++) { y[i] = x[i] <=> z; }")))
        .otherwise(lit("")))
    Tables.documents(spark, dir)
      .select(col("doc_id"), injected.as("raw"))
      .select(col("doc_id"),
        regexp_count(col("raw"), lit(CodeSymbolRe)).cast("long")
          .as("n_symbols"),
        // empty-doc guard: 0-length text routes to prose (ratio 0.0),
        // not a NULL ratio / NULL verdict from 0/0
        Text.roundPortable(
          when(length(col("raw")) > 0,
            regexp_count(col("raw"), lit(CodeSymbolRe)).cast("double") /
              length(col("raw"))).otherwise(lit(0.0)), 4)
          .as("symbol_ratio"))
      .withColumn("is_code", col("symbol_ratio") >= 0.03)
      .orderBy("doc_id")
  }

  private val PmiMinCount = 5
  private val PmiTopK = 50

  /** SKIP-GRAM + PMI PAIR EXTRACTION — the word2vec-style training
    * co-occurrence constructor: forward (w, c) pairs within a ±2
    * window, scored by pointwise mutual information
    * ln((n_wc/P)/((n_w/N)(n_c/N))), min-count-filtered, top-k by
    * PMI. The pair table is BOTH a training-data artifact (skip-gram
    * pairs feed embedding training directly) and a corpus diagnostic
    * (top-PMI pairs are the collocations).
    *
    * Scale shape: pair GENERATION is map-only — pairs come from the
    * token array itself (indexed transform + get, all inside
    * whole-stage codegen), never from a position self-join, so the
    * corpus is scanned once and the only shuffles are the pair-count
    * and unigram-count partial aggs (bounded by the OBSERVED pair /
    * type vocabularies, sub-corpus growth). N and P ride in as
    * one-row broadcast aggregates; top-k is TakeOrderedAndProject. */
  def qSkipgramPmi(spark: SparkSession, dir: String): DataFrame =
    skipgramPmi(Tables.documents(spark, dir))

  /** Core over any frame with a `text` column. */
  private[graft] def skipgramPmi(documents: DataFrame): DataFrame = {
    val docs = documents.select(toks.as("toks"))
    // forward pairs at offsets +1/+2, built inside the row (transform
    // index is 0-based; get() is 0-based and null past the end)
    val pairsCol = flatten(transform(col("toks"), (t, i) =>
      filter(array(
        struct(t.as("w"), get(col("toks"), i + 1).as("c")),
        struct(t.as("w"), get(col("toks"), i + 2).as("c"))),
        s => s.getField("c").isNotNull)))
    val pairs = docs.select(explode(pairsCol).as("p"))
      .select(col("p.w").as("w"), col("p.c").as("c"))
      .groupBy("w", "c").agg(count(lit(1)).as("n_wc"))
    val uni = docs.select(explode(col("toks")).as("t"))
      .groupBy("t").agg(count(lit(1)).as("n_t"))
    val totals = pairs.agg(sum("n_wc").as("p_total")).crossJoin(
      uni.agg(sum("n_t").as("n_total")))
    // unigram joins stay vocab-keyed shuffle joins (the type table is
    // sub-corpus but unbounded — AQE broadcasts when it measures
    // small); only the one-row totals frame is a declared broadcast
    pairs
      .where(col("n_wc") >= PmiMinCount)
      .join(uni.withColumnRenamed("t", "w")
        .withColumnRenamed("n_t", "n_w"), "w")
      .join(uni.withColumnRenamed("t", "c")
        .withColumnRenamed("n_t", "n_c"), "c")
      .crossJoin(broadcast(totals))
      .select(col("w"), col("c"), col("n_wc"),
        Text.roundPortable(
          log((col("n_wc").cast("double") / col("p_total")) /
            ((col("n_w").cast("double") / col("n_total")) *
             (col("n_c").cast("double") / col("n_total")))), 4).as("pmi"))
      .orderBy(desc("pmi"), col("w"), col("c"))
      .limit(PmiTopK)
  }

  /** Corpus-level token frequency (explode + count — the reference's
    * flatMap+reduceByKey word-count shape,
    * UserVisitSessionAnalyzeSpark.java:1398-1441). */
  def qTopTokens(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(explode(toks).as("token"))
      .groupBy("token")
      .agg(count(lit(1)).as("cnt"))
      .orderBy(desc("cnt"), col("token"))
      .limit(20)

  /** Heavy-hitter threshold denominator: the gate reports every token
    * whose occurrence count is ≥ N/HhDen of the N corpus token
    * occurrences. */
  private[graft] val HhDen = 200

  /** TWO-PASS DISTRIBUTED HEAVY HITTERS — every token with frequency
    * ≥ N/[[HhDen]], computed WITHOUT ever shuffling the full token
    * stream (the scale problem with a plain word-count at 100 TB is
    * the type table itself: billions of distinct tail tokens shuffled
    * and aggregated to answer a question about the top ~dozens).
    *
    * Pass 1 runs a Misra–Gries summary with [[HhDen]] counters inside
    * each partition (mapPartitions is warranted: the summary is
    * genuinely imperative per-partition state, O(m) memory). MG's
    * guarantee — any item with partition count > n_p/(m+1) survives —
    * plus the averaging argument (Σ count_p ≥ Σ n_p/h implies some
    * partition has count_p ≥ n_p/h > n_p/(h+1)) makes the union of
    * partition summaries a SUPERSET of every global heavy hitter, for
    * ANY partition layout (HeavyHittersSpec pins this adversarially).
    * Pass 2 exactly counts ONLY the candidate set: a broadcast
    * semi-join keeps candidate occurrences (map-side, pushed into the
    * scan side), and the groupBy's partial agg bounds the shuffle at
    * candidates×partitions rows. False candidates die on the exact
    * threshold, so the output is deterministic — exactly the tokens
    * with cnt·h ≥ N — regardless of how MG's layout-dependent
    * candidate set varied.
    *
    * The pass-1 summary collect is bounded driver model state
    * (≤ (m+1) rows per partition — the centroid-collect precedent),
    * carrying the per-partition token totals on a typed (None, n_p)
    * row so the threshold N needs no extra corpus scan. */
  def qHeavyHitters(spark: SparkSession, dir: String): DataFrame =
    heavyHitters(Tables.documents(spark, dir), HhDen)

  private[graft] def heavyHitters(documents: DataFrame, h: Int): DataFrame = {
    val spark = documents.sparkSession
    import spark.implicits._
    val tokens = documents.select(explode(toks).as("token"))
    // pass 1: per-partition MG summaries + typed partition-total rows
    // (bounded collect: ≤ (h+1) rows/partition of driver model state)
    val summary = tokens.as[String]
      .mapPartitions(it => misraGries(it, h))
      .collect()
    val total = summary.collect { case (None, np) => np }.sum
    val candidates = summary.collect { case (Some(t), _) => t }
      .distinct.toSeq.toDF("token")
    // pass 2: exact counts of the candidate tokens only
    tokens.join(broadcast(candidates), Seq("token"), "left_semi")
      .groupBy("token").agg(count(lit(1)).as("cnt"))
      .where(col("cnt") * lit(h.toLong) >= lit(total))
      .orderBy(desc("cnt"), col("token"))
  }

  /** MERGE two MG summaries under a shared counter budget `m`: add
    * counts, then if more than `m` counters survive, subtract the
    * (m+1)-largest count from every counter and drop the non-positive
    * ones (Agarwal et al.'s mergeable-summaries rule). Each input's
    * undercount error ≤ n_i/(m+1) ADDS, so the merged summary still
    * contains every item with total count > N/(m+1) — what makes the
    * streaming twin's candidate set a superset of the true heavy
    * hitters for ANY batch split. */
  private[graft] def mgMerge(a: Map[String, Long], b: Map[String, Long],
                             m: Int): Map[String, Long] = {
    val sum = b.foldLeft(a) { case (acc, (k, c)) =>
      acc.updated(k, acc.getOrElse(k, 0L) + c)
    }
    if (sum.size <= m) sum
    else {
      val cut = sum.values.toSeq.sorted(Ordering[Long].reverse)(m)
      sum.collect { case (k, c) if c > cut => k -> (c - cut) }
    }
  }

  /** Misra–Gries summary with `m` counters over one partition:
    * streams in O(m) memory; returns (Some(token), residual count)
    * rows — the batch path uses only the identities, the streaming
    * twin [[graft.streaming.StreamReplays.qStreamHeavyHitters]]
    * merges the residuals — plus ONE (None, n_p) row carrying the
    * partition's token total. The total row is TYPED (None), not a
    * sentinel token, so a tokenizer that admits empty tokens can
    * never collide with it. Guarantee: any token occurring more than
    * n_p/(m+1) times in the partition is in the summary. */
  private[graft] def misraGries(it: Iterator[String],
                                m: Int): Iterator[(Option[String], Long)] = {
    val counts = scala.collection.mutable.HashMap.empty[String, Long]
    var np = 0L
    while (it.hasNext) {
      val t = it.next()
      np += 1
      counts.get(t) match {
        case Some(c) => counts.update(t, c + 1)
        case None if counts.size < m => counts.update(t, 1L)
        case None =>
          // decrement-all step: amortized O(1) per input token
          for ((k, c) <- counts.toList) {
            if (c == 1L) counts.remove(k) else counts.update(k, c - 1)
          }
      }
    }
    counts.iterator.map { case (k, c) => (Some(k): Option[String], c) } ++
      Iterator((None, np))
  }

  private val VocabSizes = Seq(16L, 64L, 256L, 1024L, 4096L)

  /** Vocabulary coverage curve — the tokenizer-design question
    * ("how big a vocab before OOV is negligible?") as one query: for
    * each candidate vocab size V, the fraction of ALL corpus token
    * OCCURRENCES covered by the V most frequent types (ties broken
    * by token text, so the curve is deterministic). BPE sizing
    * (text_bpe_merges) and UNK-rate budgeting read straight off it.
    *
    * Scale shape: the corpus-sized work is ONE partial-agg token
    * count (the word-count shuffle every frequency op here pays);
    * everything after runs on the TYPE table, which is agg-output-
    * sized (vocab grows sub-linearly in corpus size), so the global
    * rank window over it is the GroupedTopK-subtotal situation —
    * metadata-scale rows in one partition by design, never corpus
    * rows. Coverage joins the ranked types against the 5 literal
    * sizes and reduces; the corpus is touched exactly once. */
  def qTextVocabCoverage(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val counts = Tables.documents(spark, dir)
      .select(explode(toks).as("token"))
      .groupBy("token")
      .agg(count(lit(1)).as("cnt"))
    val ranked = counts.withColumn("rk",
      row_number().over(Window.orderBy(desc("cnt"), col("token"))))
    val totals = counts.agg(sum("cnt").as("total"), count(lit(1)).as("n_types"))
    VocabSizes.toDF("vocab_size")
      .join(ranked, col("rk") <= col("vocab_size"))
      .groupBy("vocab_size")
      .agg(count(lit(1)).as("n_types_used"), sum("cnt").as("covered"))
      .crossJoin(broadcast(totals))
      .select(col("vocab_size"), col("n_types_used"),
        Text.roundPortable(col("covered").cast("double") / col("total"), 4)
          .as("coverage"),
        Text.roundPortable(lit(1.0) - col("covered").cast("double") / col("total"), 4)
          .as("oov_rate"))
      .orderBy("vocab_size")
  }

  // Context-window chunking: 32-token chunks on a 24-token stride
  // (8-token overlap). Fixture docs run 10-99 tokens, so the rule's
  // whole range executes: single-chunk short docs, multi-chunk with
  // overlap, and short tail chunks.
  private val ChunkSize = 32
  private val ChunkStride = 24

  /** Context-window document chunking — the step that turns curated
    * documents into model-sized training rows: overlapping
    * `ChunkSize`-token windows every `ChunkStride` tokens, the last
    * window keeping the (possibly short) tail. Chunk count is
    * max(1, ⌈(n−size)/stride⌉+1): a doc at or under the window is one
    * chunk, never zero — losing short docs in a chunker is a silent
    * corpus cut.
    *
    * Scale shape: MAP-ONLY — token split, a `sequence` of window
    * starts, one generate (explode), and a slice+join projection per
    * chunk; no shuffle, no model state, and output growth is bounded
    * by ~n_tokens/stride per doc. Feeds [[graft.operators.Packing]]
    * (chunks are what actually gets packed at a real pipeline's end). */
  def qTextChunk(spark: SparkSession, dir: String): DataFrame =
    chunkDocs(Tables.documents(spark, dir)).orderBy("doc_id", "chunk_id")

  private val SftTurnTokens = 10

  /** SFT CHAT-TURN RENDERING WITH LOSS-MASK SPANS — the
    * instruction-tuning data-prep step: flatten a multi-turn
    * conversation into ONE training string with role tags and emit,
    * per turn, the character span it occupies and whether loss
    * applies there (assistant turns train, user turns are context —
    * the standard SFT masking rule). Downstream, a tokenizer maps
    * char spans to token masks; the span bookkeeping — exact
    * cumulative offsets over rendered pieces — is the part that
    * belongs in the engine.
    *
    * The fixture has no conversations, so the gate derives a
    * deterministic dialogue per document ([[qTextPiiRedact]]'s
    * synthesize-then-operate precedent): consecutive
    * [[SftTurnTokens]]-token windows become alternating user /
    * assistant turns; piece = "<|role|>" + chunk, rendered doc =
    * concat of pieces, span = [Σ prior piece lengths, +piece length).
    *
    * Scale shape: one explode to turn rows (~n_tokens/10 per doc) +
    * ONE doc-keyed window for the offsets — frames are
    * conversation-sized; no shuffle beyond the doc_id exchange. */
  def qSftSpans(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("doc_id").orderBy("turn_idx")
      .rowsBetween(Window.unboundedPreceding, -1)
    Tables.documents(spark, dir)
      .select(col("doc_id"), toks.as("toks"))
      .where(size(col("toks")) > 0)
      .select(col("doc_id"), col("toks"),
        explode(sequence(lit(0),
          floor((size(col("toks")) - 1) / lit(SftTurnTokens.toDouble))
            .cast("int"))).as("turn_idx"))
      .select(col("doc_id"), col("turn_idx").cast("long").as("turn_idx"),
        concat_ws(" ", slice(col("toks"),
          col("turn_idx") * SftTurnTokens + 1, lit(SftTurnTokens))).as("chunk"))
      .withColumn("role",
        when(pmod(col("turn_idx"), lit(2)) === 0, "user")
          .otherwise("assistant"))
      // "<|user|>" is 8 chars, "<|assistant|>" 13
      .withColumn("piece_len", (length(col("chunk")) +
        when(col("role") === "user", 8).otherwise(13)).cast("long"))
      .withColumn("start_char",
        coalesce(sum("piece_len").over(w), lit(0L)).cast("long"))
      .select(col("doc_id"), col("turn_idx"), col("role"), col("chunk"),
        col("start_char"),
        (col("start_char") + col("piece_len")).as("end_char"),
        (col("role") === "assistant").as("loss"))
      .orderBy("doc_id", "turn_idx")
  }

  /** [[qTextChunk]] over any (doc_id, text) frame — the composable
    * surface pipelines chunk through (extra columns are dropped). */
  private[graft] def chunkDocs(documents: DataFrame): DataFrame = {
    val n = size(col("toks"))
    val nChunks = greatest(lit(1L),
      ceil((n - lit(ChunkSize)).cast("double") / lit(ChunkStride)).cast("long")
        + lit(1L))
    documents
      .select(col("doc_id"), toks.as("toks"))
      .select(col("doc_id"), col("toks"),
        explode(sequence(lit(0L), nChunks - 1)).as("chunk_id"))
      .withColumn("start_tok", col("chunk_id") * ChunkStride)
      .withColumn("chunk",
        slice(col("toks"), col("start_tok").cast("int") + 1, lit(ChunkSize)))
      .select(col("doc_id"), col("chunk_id"),
        col("start_tok"),
        size(col("chunk")).cast("long").as("n_chunk_tokens"),
        concat_ws(" ", col("chunk")).as("chunk_text"))
  }

  // Unigram-LM vocabulary: top-V tokens by (count desc, token). 16 on
  // the 31-token fixture vocabulary so the OOV path is genuinely
  // exercised (15 token types score as out-of-vocabulary); the real
  // dial at corpus scale is ~10^5.
  private val LmVocab = 16

  /** The fitted unigram LM: per-token ln p for the top-[[LmVocab]]
    * vocabulary plus the shared OOV logprob — V+1 doubles of driver
    * model state. */
  private[graft] case class UnigramLm(logp: Map[String, Double],
                                      oovLp: Double)

  /** Fit [[UnigramLm]]: the corpus's one token-count shuffle, cached
    * for its two bounded reads (top-V rank, total). */
  private def unigramLmOf(docs: DataFrame): UnigramLm = {
    val counts = docs.select(explode(toks).as("token"))
      .groupBy("token").agg(count(lit(1)).as("c"))
      .cache()
    val top = counts.orderBy(desc("c"), col("token")).limit(LmVocab)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    // coalesce: sum over an EMPTY corpus is SQL NULL — the model
    // degenerates to an all-OOV floor and the scoring projection
    // never evaluates it on any row
    val totalN = counts.agg(coalesce(sum("c"), lit(0L)))
      .collect()(0).getLong(0)
    counts.unpersist(blocking = true)
    val inVocab = top.map(_._2).sum
    val oovLp =
      if (totalN > inVocab) math.log((totalN - inVocab).toDouble / totalN)
      else math.log(1.0 / math.max(totalN, 1L))
    UnigramLm(top.map { case (t, c) =>
      t -> math.log(c.toDouble / totalN) }.toMap, oovLp)
  }

  /** [[unigramLmOf]] memoized per (session, corpus dir) — the
    * perplexity filter of a curation run scores many slices against
    * ONE fitted model ([[graft.core.ModelCache]]). */
  private def unigramLmFor(spark: SparkSession, dir: String): UnigramLm =
    graft.core.ModelCache.corpusModel(spark, s"unigram_lm:$LmVocab",
      s"$dir/documents.parquet") {
      unigramLmOf(Tables.documents(spark, dir))
    }

  /** Model-based quality scoring with a corpus-TRAINED unigram LM —
    * the step up from [[qTextQuality]]'s fixed heuristics and
    * [[qTextQualityClassifier]]'s fixed weights: the model itself is
    * fit on the data. Per-doc score = mean ln p(token), p from corpus
    * counts for the top-`LmVocab` tokens and one shared OOV mass
    * (1 - in-vocab mass) for everything else — the
    * perplexity-filtering signal of CCNet-style curation.
    *
    * Scale shape: TRAIN is the corpus's one token-count shuffle
    * (map-side partial aggs), cached so its two bounded reads (top-V
    * rank via TakeOrdered, total via sum) don't re-tokenize the
    * corpus; the fitted LM is V+1 doubles of driver MODEL state (the
    * quantizer-collect convention). SCORE is MAP-ONLY: the LM rides
    * into the projection as a literal map, each doc folds
    * `ln p(t)` over its token array in one codegen'd
    * transform+aggregate — zero joins, zero exchanges, no per-token
    * row explosion on the scoring side. Token order of the fold is
    * document order in both engines; the 4-decimal portable rounding
    * absorbs sub-ulp libm/summation differences.
    *
    * Degenerate corpora: V ≥ vocabulary means zero OOV mass — the
    * OOV logprob then falls back to ln(1/N) (a floor, never ln 0);
    * an empty doc scores 0.0 with n_tokens = 0 rather than NaN. */
  def qTextUnigramLogprob(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val model = unigramLmFor(spark, dir)
    val oovLp = model.oovLp
    val lm = typedLit(model.logp)
    val nTok = size(col("toks"))
    docs.select(col("doc_id"), toks.as("toks"))
      .select(col("doc_id"),
        nTok.cast("long").as("n_tokens"),
        size(filter(col("toks"), t => element_at(lm, t).isNull))
          .cast("long").as("n_oov"),
        when(nTok === 0, lit(0.0)).otherwise(Text.roundPortable(
          aggregate(transform(col("toks"),
              t => coalesce(element_at(lm, t), lit(oovLp))),
            lit(0.0), (acc, x) => acc + x) / nTok, 4)).as("avg_logprob"))
      .orderBy("doc_id")
  }

  /** DSIR-STYLE IMPORTANCE WEIGHTS (Xie et al. 2023, "Data Selection
    * for Language Models via Importance Resampling"): score every doc
    * by how much more a TARGET-domain LM likes it than the RAW-corpus
    * LM — log w(d) = Σ_t [ln p_target(t) − ln p_raw(t)] over the
    * doc's tokens. Documents with positive weight look like the
    * target; resampling ∝ w shifts the corpus toward it. The target
    * here is the English slice (`lang = 'en'`) standing in for "text
    * resembling the eval domain"; both LMs are the engine's
    * [[UnigramLm]] (top-[[LmVocab]] vocab + shared OOV mass — the
    * hashed-ngram feature space of the paper collapses to unigrams at
    * fixture vocabulary size).
    *
    * Scale shape: TWO model fits (each = one token-count shuffle,
    * V+1 doubles of driver state, [[graft.core.ModelCache]]-memoized),
    * then scoring is MAP-ONLY — both LMs ride into the projection as
    * literal maps and each doc folds the logprob DIFFERENCE over its
    * token array in one codegen'd transform+aggregate. Zero joins on
    * the scoring side; a 100 TB corpus is scored in one scan. */
  def qTextDsirWeights(spark: SparkSession, dir: String): DataFrame = {
    val (tgt, raw) = dsirModelsFor(spark, dir)
    dsirScore(Tables.documents(spark, dir), tgt, raw)
  }

  /** [[qTextDsirWeights]]'s core with both fitted LMs explicit —
    * the map-only scoring projection, reusable against any
    * (target, raw) model pair (DsirSignSpec drives it with a
    * genuinely-disjoint domain split, where the sign property is
    * provable; the fixture's `lang` slices share one synthetic
    * vocabulary, so the GATE only pins exact values, not sign). */
  private[graft] def dsirWeightsOf(docs: DataFrame,
                                   target: Column): DataFrame =
    dsirScore(docs, unigramLmOf(docs.where(target)), unigramLmOf(docs))

  /** The fitted (target, raw) LM pair behind [[qTextDsirWeights]],
    * exposed for the streaming twin: both are session-memoized driver
    * model state, so a stream scores every micro-batch against ONE
    * fit. */
  private[graft] def dsirModelsFor(spark: SparkSession,
      dir: String): (UnigramLm, UnigramLm) = {
    val raw = unigramLmFor(spark, dir)
    val tgt = graft.core.ModelCache.corpusModel(spark,
      s"dsir_target_lm:en:$LmVocab", s"$dir/documents.parquet") {
      unigramLmOf(Tables.documents(spark, dir).where(col("lang") === "en"))
    }
    (tgt, raw)
  }

  private[graft] def dsirScore(docs: DataFrame, tgt: UnigramLm,
                               raw: UnigramLm): DataFrame = {
    val lmT = typedLit(tgt.logp)
    val lmR = typedLit(raw.logp)
    val nTok = size(col("toks"))
    docs.select(col("doc_id"), toks.as("toks"))
      .select(col("doc_id"),
        nTok.cast("long").as("n_tokens"),
        when(nTok === 0, lit(0.0)).otherwise(Text.roundPortable(
          aggregate(transform(col("toks"),
              t => coalesce(element_at(lmT, t), lit(tgt.oovLp)) -
                   coalesce(element_at(lmR, t), lit(raw.oovLp))),
            lit(0.0), (acc, x) => acc + x), 4)).as("log_weight"))
      .orderBy("doc_id")
  }

  // Bigram-LM dials: the conditional vocabulary (top bigrams kept)
  // next to the unigram [[LmVocab]]; a production dial is ~10⁶
  private val BigramVocab = 32

  /** The fitted bigram LM: per-bigram conditional ln p(w₂|w₁) for the
    * top-[[BigramVocab]] bigrams, backed off to the [[UnigramLm]]. */
  private[graft] case class BigramLm(pairLp: Map[String, Double],
                                     uni: UnigramLm)

  /** Fit [[BigramLm]]: one bigram-count shuffle (pairs explode →
    * partial-agg count) + the unigram fit; model reads are the
    * bounded top-K collects. Conditional probabilities divide by the
    * FULL unigram count of w₁ (looked up for the ≤K distinct w₁s of
    * the kept bigrams — a K-row filtered read, not a join). */
  private def bigramLmOf(docs: DataFrame): BigramLm = {
    val uni = unigramLmOf(docs)
    val toksDf = docs.select(toks.as("toks"))
    val nTok = size(col("toks"))
    val pairs = toksDf.where(nTok >= 2)
      .select(explode(zip_with(
        slice(col("toks"), lit(1), nTok - 1),
        slice(col("toks"), lit(2), nTok - 1),
        (a, b) => concat(a, lit(" "), b))).as("bg"))
      .groupBy("bg").agg(count(lit(1)).as("c"))
      .cache()
    val topBg = pairs.orderBy(desc("c"), col("bg")).limit(BigramVocab)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    pairs.unpersist(blocking = true)
    val w1s = topBg.map(_._1.split(" ", 2)(0)).distinct
    val w1c: Map[String, Long] =
      if (w1s.isEmpty) Map.empty
      else docs.select(explode(toks).as("t"))
        .where(col("t").isin(w1s.toSeq: _*))
        .groupBy("t").agg(count(lit(1)).as("c"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    BigramLm(topBg.map { case (bg, c) =>
      bg -> math.log(c.toDouble / w1c(bg.split(" ", 2)(0))) }.toMap, uni)
  }

  /** [[bigramLmOf]] memoized per (session, corpus dir). */
  private def bigramLmFor(spark: SparkSession, dir: String): BigramLm =
    graft.core.ModelCache.corpusModel(spark,
      s"bigram_lm:$BigramVocab:$LmVocab", s"$dir/documents.parquet") {
      bigramLmOf(Tables.documents(spark, dir))
    }

  /** BIGRAM-LM fluency scoring with unigram BACKOFF — the step up
    * from [[qTextUnigramLogprob]] a perplexity filter actually wants:
    * word-order sensitivity. Each adjacent pair scores the
    * conditional ln p(w₂|w₁) when the bigram is in the model, else
    * backs off to the unigram (or OOV) logprob of w₂; a document's
    * score is the mean over its n−1 pairs. Scoring is one MAP-ONLY
    * projection over broadcast literal maps — the unigram gate's
    * plan, with a zip_with pair construction in front. Docs under 2
    * tokens score 0.0 with n_pairs = 0. */
  def qTextBigramLogprob(spark: SparkSession, dir: String): DataFrame = {
    val model = bigramLmFor(spark, dir)
    val oovLp = model.uni.oovLp
    val bgLm = typedLit(model.pairLp)
    val uniLm = typedLit(model.uni.logp)
    val nTok = size(col("toks"))
    val prs = zip_with(
      slice(col("toks"), lit(1), nTok - 1),
      slice(col("toks"), lit(2), nTok - 1),
      (a, b) => struct(concat(a, lit(" "), b).as("bg"), b.as("w2")))
    Tables.documents(spark, dir)
      .select(col("doc_id"), toks.as("toks"))
      .select(col("doc_id"),
        greatest(nTok - 1, lit(0)).cast("long").as("n_pairs"),
        size(filter(prs, p =>
          element_at(bgLm, p.getField("bg")).isNotNull))
          .cast("long").as("n_bigram_hits"),
        when(nTok < 2, lit(0.0)).otherwise(Text.roundPortable(
          aggregate(prs, lit(0.0), (acc, p) =>
            acc + coalesce(element_at(bgLm, p.getField("bg")),
                           element_at(uniLm, p.getField("w2")),
                           lit(oovLp))) / (nTok - 1), 4)).as("avg_logprob"))
      .orderBy("doc_id")
  }

  /** CORPUS DATASHEET — the per-source summary every curation run
    * prints before and after each stage (the "datasheet for a
    * dataset" practice): document and token counts, exact median doc
    * length (interpolated percentile — Spark's `percentile` ≡
    * DuckDB's `quantile_cont`, the q_percentiles precedent), mean
    * quality under the shared [[qualityScoreCol]], and the dominant
    * language — the MODE of `lang` per source (doc-count argmax, ties
    * broken to the greater lang so both engines agree), not a
    * lexicographic max. ONE hash aggregate over the corpus for the
    * numeric figures (every one partial-aggregable, so the shuffle
    * moves per-source partials, never rows) plus one
    * (source, lang)-grained count — cardinality |sources|·|langs|,
    * metadata-sized — whose argmax joins back per source. */
  def qCorpusReport(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    // mode of lang per source: max over (count, lang) structs picks
    // the modal count and breaks ties deterministically to the
    // greater lang — mirrored by the oracle's ORDER BY c DESC,
    // lang DESC window
    val topLang = docs.groupBy("source", "lang")
      .agg(count(lit(1)).as("n_lang"))
      .groupBy("source")
      .agg(max(struct(col("n_lang"), col("lang")))
        .getField("lang").as("top_lang"))
    docs
      .select(col("source"), size(toks).as("n_toks"), qualityScoreCol.as("q"))
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum("n_toks").cast("long").as("total_tokens"),
        Text.roundPortable(expr("percentile(n_toks, 0.5)"), 4)
          .as("p50_tokens"),
        Text.roundPortable(avg("q"), 4).as("avg_quality"))
      .join(broadcast(topLang), "source")
      .select(col("source"), col("n_docs"), col("total_tokens"),
        col("p50_tokens"), col("avg_quality"), col("top_lang"))
      .orderBy("source")
  }

  // BM25 dials: the Robertson/Lucene defaults, and a fixture query
  // whose terms all occur in the synthetic vocabulary
  private val Bm25K1 = 1.2
  private val Bm25B = 0.75
  private val Bm25Query = Seq("spark", "table", "query")
  private val Bm25TopK = 10

  /** BM25 RANKED RETRIEVAL — the classic probabilistic relevance
    * score (Robertson et al.; the Lucene-default formulation with
    * idf = ln(1 + (N − df + 0.5)/(df + 0.5))) of every document
    * against a fixed query, top-[[Bm25TopK]]. [[qTextTfidf]] ranks
    * TERMS within a doc; this ranks DOCS for a query — the retrieval
    * step a RAG-style pipeline runs over a curated corpus.
    *
    * Scale shape: corpus statistics (N, avgdl) and per-term document
    * frequencies are TWO tiny driver model reads (1 row + |query|
    * rows — the k-means collect precedent); scoring is then one
    * MAP-ONLY projection (per-term tf from a codegen'd filter over
    * the token array, idf as literals) and the top-k is
    * orderBy.limit → TakeOrderedAndProject: per-partition heaps,
    * never a global sort. Terms are summed in FIXED query order on
    * both engines, so float folding is order-identical.
    *
    * Docs that match no query term score 0 and are EXCLUDED (a
    * retrieval engine returns matches, not the corpus); ties break to
    * the lower doc_id. */
  def qTextBm25(spark: SparkSession, dir: String): DataFrame =
    bm25ScoredWith(Tables.documents(spark, dir), bm25ModelFor(spark, dir))
      .where(col("score_raw") > 0.0)
      .orderBy(desc("score_raw"), col("doc_id"))
      .limit(Bm25TopK)
      .select(col("doc_id"),
        Text.roundPortable(col("score_raw"), 4).as("score"))

  /** The driver-held BM25 model: corpus size, average doc length,
    * per-query-term document frequency. */
  private[graft] case class Bm25Model(nDocs: Long, avgdl: Double,
                                      df: Map[String, Long])

  /** Fit [[Bm25Model]] — two tiny corpus reads (1 row + ≤|query|
    * rows; the k-means collect precedent). */
  private def bm25ModelOf(documents: DataFrame): Bm25Model = {
    val docs = documents
      .select(col("doc_id"), toks.as("toks"))
      .withColumn("dl", size(col("toks")).cast("double"))
    val statsRow = docs
      .agg(count(lit(1)).as("n"), coalesce(avg("dl"), lit(0.0)).as("avgdl"))
      .head
    val dfMap: Map[String, Long] = docs
      .select(explode(array_distinct(
        filter(col("toks"), t => t.isin(Bm25Query: _*)))).as("t"))
      .groupBy("t").agg(count(lit(1)).as("df"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    Bm25Model(statsRow.getLong(0), statsRow.getDouble(1), dfMap)
  }

  /** [[bm25ModelOf]] memoized per (session, corpus dir) — a serving
    * session scoring many queries fits the statistics once
    * ([[graft.core.ModelCache]]; fingerprint-invalidated). */
  private[graft] def bm25ModelFor(spark: SparkSession, dir: String): Bm25Model =
    graft.core.ModelCache.corpusModel(spark, "bm25_stats",
      s"$dir/documents.parquet") { bm25ModelOf(Tables.documents(spark, dir)) }

  /** Every document's raw BM25 score against [[Bm25Query]] under a
    * fitted model — the shared core of the bm25 gate and the hybrid
    * fusion: one MAP-ONLY projection (idf as literals, tf from
    * codegen'd array filters; terms summed in fixed query order). */
  private def bm25ScoredWith(documents: DataFrame, m: Bm25Model): DataFrame = {
    val docs = documents
      .select(col("doc_id"), toks.as("toks"))
      .withColumn("dl", size(col("toks")).cast("double"))
    val norm = lit(Bm25K1) * (lit(1.0 - Bm25B) +
      lit(Bm25B) * col("dl") / lit(math.max(m.avgdl, 1e-9)))
    // fixed-order sum: one term expression per query term, added in
    // query order — both engines fold the same way
    val score = Bm25Query.map { term =>
      val dfT = m.df.getOrElse(term, 0L)
      val idf = math.log(1.0 + (m.nDocs - dfT + 0.5) / (dfT + 0.5))
      val tf = size(filter(col("toks"), t => t === term)).cast("double")
      lit(idf) * tf / (tf + norm)
    }.reduce(_ + _)
    docs.select(col("doc_id"), score.as("score_raw"))
  }

  /** The request batch of the batch-retrieval gate — deterministic
    * fixture queries over the synthetic vocabulary. */
  private[graft] val Bm25BatchQueries: Seq[(Long, String)] = Seq(
    0L -> "spark table query",
    1L -> "stream window agg",
    2L -> "fast vector scan")

  /** BM25 against a QUERY TABLE — the serving surface [[qTextBm25]]'s
    * fixed literal query generalizes to: a request BATCH arrives as a
    * (q_id, q_text) frame and every query gets its top-[[Bm25TopK]]
    * in one corpus pass. */
  def qTextBm25Batch(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    bm25Batch(Tables.documents(spark, dir),
      Bm25BatchQueries.toDF("q_id", "q_text"),
      bm25ModelFor(spark, dir))
  }

  /** The batch scorer. Scale shape, stage by stage: query terms are a
    * bounded driver read (it is a request batch, not data); per-term
    * document frequencies come from ONE filtered corpus projection
    * (`filter` runs BEFORE `explode`, so only matched terms leave the
    * scan — a no-hit corpus moves zero rows); scoring is the posting
    * frame joined to the BROADCAST (q_id, term, idf) plan, partially
    * aggregated per (q_id, doc_id); per-query top-k is one window over
    * that bounded aggregate. The corpus is touched once; nothing
    * shuffles but matched (doc, term) rows.
    *
    * Float determinism: the single-query gate kept bit-exactness by
    * summing terms in FIXED query order as one expression — impossible
    * for a data-driven term join, where aggregation order is scheduler
    * chosen. Here each term contribution is HALF-UP rounded to 6
    * decimals and cast to DECIMAL(20,6) before the sum: decimal
    * addition is exact and order-independent, so both engines produce
    * identical scores whatever order their partials merge in. */
  private[graft] def bm25Batch(documents: DataFrame, queries: DataFrame,
                               m: Bm25Model): DataFrame = {
    import documents.sparkSession.implicits._
    // bounded collect: the request batch's terms (qtf = in-query count)
    val qTerms: Seq[(Long, String, Int)] = queries
      .select(col("q_id").cast("long"), Text.tokens(col("q_text")).as("ts"))
      .collect()
      .flatMap(r => r.getSeq[String](1).groupBy(identity).toSeq
        .map { case (t, g) => (r.getLong(0), t, g.size) })
      .sortBy(x => (x._1, x._2)).toSeq
    val allTerms = qTerms.map(_._2).distinct
    // per-term document frequency over the FULL batch vocabulary —
    // one filtered pass (reuses the memoized stats for n/avgdl)
    val docs = documents
      .select(col("doc_id"), toks.as("toks"))
      .withColumn("dl", size(col("toks")).cast("double"))
    val dfMap: Map[String, Long] = docs
      .select(explode(array_distinct(
        filter(col("toks"), t => t.isin(allTerms: _*)))).as("t"))
      .groupBy("t").agg(count(lit(1)).as("df"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val qPlan = qTerms.map { case (q, t, qtf) =>
      val dfT = dfMap.getOrElse(t, 0L)
      (q, t, qtf.toDouble,
        math.log(1.0 + (m.nDocs - dfT + 0.5) / (dfT + 0.5)))
    }.toDF("q_id", "term", "qtf", "idf")
    val posting = docs
      .select(col("doc_id"), col("dl"),
        explode(filter(col("toks"), t => t.isin(allTerms: _*))).as("term"))
      .groupBy("doc_id", "dl", "term")
      .agg(count(lit(1)).cast("double").as("tf"))
    val norm = lit(Bm25K1) * (lit(1.0 - Bm25B) +
      lit(Bm25B) * col("dl") / lit(math.max(m.avgdl, 1e-9)))
    val contrib = col("idf") * col("qtf") * col("tf") / (col("tf") + norm)
    val scored = posting.join(broadcast(qPlan), "term")
      .withColumn("c",
        Text.roundPortable(contrib, 6).cast("decimal(20,6)"))
      .groupBy("q_id", "doc_id").agg(sum("c").as("score_dec"))
    val w = Window.partitionBy("q_id")
      .orderBy(desc("score_dec"), col("doc_id"))
    scored.where(col("score_dec") > 0)
      .withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= Bm25TopK)
      .select(col("q_id"), col("rank"), col("doc_id"),
        Text.roundPortable(col("score_dec").cast("double"), 4).as("score"))
      .orderBy("q_id", "rank")
  }

  // --- persisted inverted index (the IVF story for text) ----------
  // Scoring by corpus scan is wrong at 100 TB exactly like flat ANN
  // scan was: a SERVED retrieval corpus persists postings ONCE and
  // answers query batches by reading only the matching term buckets.

  private val TextIndexBuckets = 32

  /** Build the posting-list index: one (term, doc) count shuffle,
    * persisted BUCKETED BY TERM (equality/IN filters on `term` prune
    * whole file buckets — SelectedBucketsCount, the IVF cell-pruning
    * contract), plus a one-row stats table (N, avgdl — the same
    * definition [[bm25ModelOf]] fits, so indexed and scan scores are
    * bit-identical). Build-once with the corpus-fingerprint stamp
    * ([[graft.sources.StandingTable]]): an unchanged corpus re-enters
    * search directly. */
  def buildTextIndex(spark: SparkSession, dir: String, name: String): Unit =
    StandingTable.buildOnce(spark, name,
        graft.core.ModelCache.fingerprint(s"$dir/documents.parquet") +
          "|bm25idx",
        Seq(s"${name}_stats")) {
      val docs = Tables.documents(spark, dir)
        .select(col("doc_id"), toks.as("toks"))
        .withColumn("dl", size(col("toks")).cast("double"))
      graft.sources.Readers.saveBucketedTable(postingRowsOf(docs), name,
        TextIndexBuckets, "term")
      // stats persist as (n, sum_dl), NOT (n, avgdl): doc lengths are
      // integer-valued doubles, so their sums are EXACT (up to 2^53
      // tokens — orders beyond a 100 TB corpus) and COMPOSE under
      // append — n and sum add; an avg would drift in its last ulp and
      // break append ≡ rebuild bit-parity. avgdl = sum_dl/n at search
      // equals the model path's avg(dl) exactly for the same reason.
      graft.sources.Readers.replaceTable(
        docs.agg(count(lit(1)).as("n"),
          coalesce(sum("dl"), lit(0.0)).as("sum_dl")),
        s"${name}_stats")
    }

  /** Posting rows of a (doc_id, toks, dl) frame — shared by build and
    * append so an appended doc's rows are exactly a rebuild's. */
  private def postingRowsOf(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("dl"), explode(col("toks")).as("term"))
      .groupBy("term", "doc_id", "dl")
      .agg(count(lit(1)).cast("double").as("tf"))

  /** Add (`sign` = 1) or subtract (`sign` = -1) a (doc_id, toks, dl)
    * batch's document count and length sum to the index's stats row —
    * ALGEBRAICALLY, no corpus re-read: counts and exact integer-double
    * sums compose, so the row stays bit-identical to a rebuild's. */
  private def shiftStats(spark: SparkSession, name: String,
                         docs: DataFrame, sign: Int): Unit = {
    val b = docs.agg(count(lit(1)).as("n"),
      coalesce(sum("dl"), lit(0.0)).as("sum_dl")).head
    val old = spark.table(s"${name}_stats").head
    import spark.implicits._
    graft.sources.Readers.replaceTable(
      Seq((old.getLong(0) + sign * b.getLong(0),
        old.getDouble(1) + sign * b.getDouble(1))).toDF("n", "sum_dl"),
      s"${name}_stats")
  }

  /** INCREMENTAL posting-index maintenance — the text twin of
    * [[graft.operators.Similarity.appendToIvfIndex]]: a batch of new
    * documents appends its posting rows (one batch-sized pass; the
    * standing postings are untouched) and the stats row updates
    * algebraically. The build-once stamp drops to "appended": an
    * appended index no longer equals a fresh dir build. */
  def appendToTextIndex(spark: SparkSession, name: String,
                        batch: DataFrame): Unit = {
    val docs = batch
      .select(col("doc_id"), toks.as("toks"))
      .withColumn("dl", size(col("toks")).cast("double"))
    postingRowsOf(docs)
      .write.bucketBy(TextIndexBuckets, "term").sortBy("term")
      .mode(org.apache.spark.sql.SaveMode.Append).saveAsTable(name)
    shiftStats(spark, name, docs, 1)
    StandingTable.markAppended(spark, name)
  }

  /** POSTING-INDEX DELETION — the takedown half of the maintenance
    * story (GDPR erasure, DMCA removal, contamination purge): the
    * batch of documents to remove rides in with its text (the
    * [[appendToTextIndex]] symmetry — stats must subtract EXACTLY
    * what append added, so the same tokenization computes the same
    * integer-double sums), posting rows anti-join away in ONE
    * distributed pass through the staged swap
    * ([[graft.sources.StandingTable.rewrite]]), and the stats row
    * decrements algebraically. Delete ≡ rebuild holds BIT-FOR-BIT —
    * including scores: BM25's df is recomputed from the index at
    * search time, so removed docs stop counting everywhere
    * (TextIndexSpec pins stats and search parity against a fresh
    * build on the surviving docs). The build-once stamp drops to
    * "mutated": a deleted index no longer equals a fresh dir build. */
  def deleteFromTextIndex(spark: SparkSession, name: String,
                          batch: DataFrame): Unit = {
    val docs = batch
      .select(col("doc_id"), toks.as("toks"))
      .withColumn("dl", size(col("toks")).cast("double"))
    StandingTable.rewrite(spark, name, TextIndexBuckets, "term")(
      _.join(broadcast(docs.select("doc_id")), Seq("doc_id"), "left_anti"))
    shiftStats(spark, name, docs, -1)
  }

  /** POSTING-INDEX COMPACTION — the maintenance half of
    * [[appendToTextIndex]], mirroring
    * [[graft.operators.Similarity.compactIvfIndex]]: every append
    * batch adds a file set (up to one file per term bucket per
    * writing task), so a streaming ingest fragments each term bucket
    * into many tiny reads. When the file count passes
    * `maxFilesPerBucket` per bucket, the postings are rewritten in one
    * bucket-aligned pass through the staged swap
    * ([[graft.sources.StandingTable.compact]]), one file per occupied
    * term bucket. The stats row is untouched: compaction moves files,
    * not content. Returns whether a rewrite happened. TextIndexSpec
    * pins compacted ≡ uncompacted search bit-parity, the file-count
    * bound, the stamp carry, and pruning still firing. */
  def compactTextIndex(spark: SparkSession, name: String,
                       maxFilesPerBucket: Int = 2): Boolean =
    StandingTable.compact(spark, name, TextIndexBuckets, "term",
      maxFilesPerBucket)

  /** Search the posting index for a query batch: the scan is PRUNED
    * to the buckets holding the batch's terms; per-term document
    * frequency is a partial-aggregated count over the pruned postings
    * BROADCAST-joined back — never a window, whose unbounded frame
    * would buffer a hot term's ENTIRE posting list in one task (a
    * stopword query at 100 TB). The bucketed table satisfies the
    * groupBy's required distribution, so df adds no exchange of the
    * postings either — just a second bucket-pruned scan, which is
    * the standard two-pass BM25 anyway (df must precede scoring);
    * idf folds in-plan; then the [[bm25Batch]] decimal aggregation
    * and per-query top-k. The corpus is never scanned — per-batch
    * cost is bounded by the matched posting lists. */
  private[graft] def searchTextIndex(spark: SparkSession, name: String,
                                     queries: DataFrame): DataFrame = {
    val qTerms: Seq[(Long, String, Int)] = queries
      .select(col("q_id").cast("long"), Text.tokens(col("q_text")).as("ts"))
      .collect()
      .flatMap(r => r.getSeq[String](1).groupBy(identity).toSeq
        .map { case (t, g) => (r.getLong(0), t, g.size) })
      .sortBy(x => (x._1, x._2)).toSeq
    val allTerms = qTerms.map(_._2).distinct
    val statsRow = spark.table(s"${name}_stats").head
    val nDocs = statsRow.getLong(0)
    val avgdl =
      if (nDocs == 0) 0.0 else statsRow.getDouble(1) / nDocs
    import spark.implicits._
    val qPlan = qTerms.map { case (q, t, qtf) => (q, t, qtf.toDouble) }
      .toDF("q_id", "term", "qtf")
    val pruned = spark.table(name)
      .where(col("term").isin(allTerms: _*))
    val dfFrame = pruned.groupBy("term")
      .agg(count(lit(1)).as("df"))
    val posting = pruned.join(broadcast(dfFrame), "term")
    val idf = log(lit(1.0) +
      (lit(nDocs) - col("df") + lit(0.5)) / (col("df") + lit(0.5)))
    val norm = lit(Bm25K1) * (lit(1.0 - Bm25B) +
      lit(Bm25B) * col("dl") / lit(math.max(avgdl, 1e-9)))
    val contrib = idf * col("qtf") * col("tf") / (col("tf") + norm)
    val scored = posting.join(broadcast(qPlan), "term")
      .withColumn("c",
        Text.roundPortable(contrib, 6).cast("decimal(20,6)"))
      .groupBy("q_id", "doc_id").agg(sum("c").as("score_dec"))
    val w = Window.partitionBy("q_id")
      .orderBy(desc("score_dec"), col("doc_id"))
    scored.where(col("score_dec") > 0)
      .withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= Bm25TopK)
      .select(col("q_id"), col("rank"), col("doc_id"),
        Text.roundPortable(col("score_dec").cast("double"), 4).as("score"))
      .orderBy("q_id", "rank")
  }

  /** The build→search round trip as a gate — SAME oracle as
    * [[qTextBm25Batch]] (two plans, one semantics: the
    * dedup_clusters_dist precedent), so the pruned-index path is
    * hash-checked against the corpus-scan scorer. */
  def qTextBm25Indexed(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    buildTextIndex(spark, dir, "bm25_index")
    searchTextIndex(spark, "bm25_index",
      Bm25BatchQueries.toDF("q_id", "q_text"))
  }

  /** HYBRID RETRIEVAL with reciprocal-rank fusion — the production
    * search composition (sparse BM25 + dense vectors fused by
    * RRF(d) = Σ_r 1/(60 + rank_r(d)) over truncated rankings;
    * Cormack et al.'s rank constant): the [[qTextBm25]] scorer and
    * the [[Multimodal.embed]] stub-encoder cosine ranking each
    * produce a depth-[[HybridDepth]] list, and the fused top-10
    * carries both source ranks. The dense query vector is the
    * byte-histogram of the query STRING — the same stub encoder
    * applied to the query, as a real dual-encoder would.
    *
    * Scale shape: each ranker is its corpus scan + a
    * TakeOrdered-style truncation; ranking and fusion then run on
    * two ≤[[HybridDepth]]-row lists (the single-partition windows
    * process ≤20 rows — bounded by the dial, not the corpus), and
    * the full-outer fusion join is list×list. RRF terms are added in
    * fixed (bm25, dense) order — exact float parity. */
  def qHybridSearch(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val bmTop = bm25ScoredWith(docs, bm25ModelFor(spark, dir))
      .where(col("score_raw") > 0.0)
      .orderBy(desc("score_raw"), col("doc_id"))
      .limit(HybridDepth)
    val wBm = Window.orderBy(desc("score_raw"), col("doc_id"))
    val bm = bmTop
      .withColumn("bm25_rank", row_number().over(wBm).cast("long"))
      .select("doc_id", "bm25_rank")
    // the query string through the SAME stub encoder as the corpus
    val qHist: Array[Double] = {
      val h = new Array[Double](16)
      Bm25Query.mkString(" ").getBytes("UTF-8")
        .foreach(b => h((b & 0xff) % 16) += 1.0)
      h
    }
    val denseTop = Multimodal.embed(Multimodal.mediaTable(spark, dir)).toDF()
      .select(col("vec_id").as("doc_id"),
        graft.functions.VectorFunctions.cosine(
          col("embedding"), typedLit(qHist.toSeq)).as("dsim"))
      .orderBy(desc("dsim"), col("doc_id"))
      .limit(HybridDepth)
    val wD = Window.orderBy(desc("dsim"), col("doc_id"))
    val dense = denseTop
      .withColumn("dense_rank", row_number().over(wD).cast("long"))
      .select("doc_id", "dense_rank")
    bm.join(dense, Seq("doc_id"), "full_outer")
      .withColumn("rrf_raw",
        coalesce(lit(1.0) / (lit(60.0) + col("bm25_rank")), lit(0.0)) +
        coalesce(lit(1.0) / (lit(60.0) + col("dense_rank")), lit(0.0)))
      .orderBy(desc("rrf_raw"), col("doc_id"))
      .limit(Bm25TopK)
      .select(col("doc_id"),
        Text.roundPortable(col("rrf_raw"), 4).as("rrf_score"),
        col("bm25_rank"), col("dense_rank"))
  }

  private val HybridDepth = 20

  /** Merge steps for [[qTextBpeMerges]] — 3 keeps the oracle's
    * iteration unroll readable while exercising the full loop
    * (symbols grow multi-character by step 2). */
  private val BpeMergeSteps = 3

  /** BPE MERGE INDUCTION — tokenizer TRAINING as a Spark job (the
    * byte-pair-encoding loop of Sennrich et al.: count adjacent
    * symbol pairs over the word-frequency table, merge the most
    * frequent pair everywhere, repeat). [[qTextTokensBpe]] counts
    * tokens under a fixed regex scheme; this LEARNS the merge table
    * a real tokenizer would ship.
    *
    * Scale shape — the part that matters at 100 TB: the corpus is
    * touched ONCE (explode tokens → word-frequency hash aggregate,
    * one shuffle, map-side combined); every merge iteration after
    * that runs over the VOCABULARY table (word types × weights, ~10⁶
    * rows for a web corpus — model-sized, never corpus-sized), with
    * one vocab-sized pair-count shuffle per step and a one-row argmax
    * collect (the k-means model-read precedent). Words stay
    * distributed as symbol arrays; the merge rewrite is a codegen'd
    * fold per word.
    *
    * Determinism: pure integer/string algebra — counts, lexicographic
    * tie-breaks (max count, then smallest (left, right)), greedy
    * LEFT-TO-RIGHT non-overlapping merge via an ordered fold (in a
    * run like "aaa" with pair (a,a), the fold merges positions 1-2
    * and leaves 3 — the canonical BPE scan). No end-of-word marker
    * (the fixture's whitespace words need none; a production
    * tokenizer appends one — documented divergence). Output is the
    * learned merge table itself. */
  def qTextBpeMerges(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    bpeMergeTableFor(spark, dir, BpeMergeSteps)
      .toDF("step", "lhs", "rhs", "merged", "cnt")
      .orderBy("step")
  }

  /** [[bpeMergeTable]] memoized per (session, corpus dir, steps) —
    * tokenizer training is the priciest model fit here (one corpus
    * pass + a vocab job per merge step); a session tokenizing many
    * query batches trains once ([[graft.core.ModelCache]],
    * fingerprint-invalidated). */
  private def bpeMergeTableFor(spark: SparkSession, dir: String, steps: Int)
      : Seq[(Long, String, String, String, Long)] =
    graft.core.ModelCache.corpusModel(spark, s"bpe_merges:$steps",
      s"$dir/documents.parquet") {
      bpeMergeTable(Tables.documents(spark, dir), steps)
    }

  /** [[qTextBpeMerges]] over any (doc_id, text) frame at an explicit
    * step count — the composable/testable core. */
  private[graft] def bpeMerges(docs: DataFrame, steps: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    bpeMergeTable(docs, steps)
      .toDF("step", "lhs", "rhs", "merged", "cnt")
      .orderBy("step")
  }

  /** One greedy left-to-right non-overlapping merge pass of the pair
    * (a, b) over a symbol-array column: an ordered fold seeded with
    * the first symbol; a merged symbol changes the fold's tail, so
    * "aaa" under (a,a) yields [aa, a] — the canonical BPE scan.
    * Shared by training's vocab rewrite and [[qTextBpeApply]]. */
  private def bpeMergePass(syms: Column, a: String, b: String): Column =
    aggregate(
      slice(syms, lit(2), greatest(size(syms) - 1, lit(0))),
      slice(syms, 1, 1),
      (acc, x) => when(
          element_at(acc, -1) === lit(a) && x === lit(b),
          concat(slice(acc, lit(1), size(acc) - 1), array(lit(a + b))))
        .otherwise(concat(acc, array(x))))

  /** The learned merge table as driver-held model state
    * (step, lhs, rhs, merged, cnt) — the training loop itself. */
  private[graft] def bpeMergeTable(docs: DataFrame,
      steps: Int): Seq[(Long, String, String, String, Long)] = {
    val spark = docs.sparkSession
    import spark.implicits._
    // ONE corpus pass: word types + frequencies, then char symbols
    // localCheckpoint, not cache: each step's rewrite must build on a
    // LINEAGE-TRUNCATED vocab. Under cache, step k's logical plan
    // still chains k nested merge-pass selects, and any plan the
    // cache lookup misses (or a cascading unpersist evicts) hits the
    // optimizer raw — CollapseProject then inlines each pass, which
    // references its input ~4 times, so the expression tree grows
    // 4^steps: invisible at the 3-step gate, an OOM at a 40-step
    // production-ish table (hit for real by TokenizerSeamSpec).
    // The connectedComponents loop learned the same lesson (r4).
    var vocab = docs.select(explode(toks).as("w"))
      .groupBy("w").agg(count(lit(1)).as("freq"))
      .select(split(col("w"), "").as("syms"), col("freq"))
      .localCheckpoint()
    val merges = scala.collection.mutable.ArrayBuffer[(Long, String, String, String, Long)]()
    for (step <- 1 to steps) {
      // adjacent pairs weighted by word frequency — a vocab-sized
      // explode + hash aggregate, never corpus-sized
      val top = vocab
        .select(col("freq"), explode(arrays_zip(
          slice(col("syms"), lit(1), size(col("syms")) - 1),
          slice(col("syms"), lit(2), size(col("syms")) - 1))).as("p"))
        .select(col("p").getField("0").as("a"),
                col("p").getField("1").as("b"), col("freq"))
        .groupBy("a", "b").agg(sum("freq").as("cnt"))
        .orderBy(desc("cnt"), col("a"), col("b"))
        .limit(1)
        // one-row MODEL read per step (the k-means collect precedent)
        .as[(String, String, Long)].collect()
      top.headOption match {
        case None =>
          // no adjacent pairs left (empty corpus, or every word fully
          // merged to one symbol): training is DONE — return the
          // merges learned so far instead of dying on the argmax
          return merges.toSeq
        case Some((a, b, cnt)) =>
          merges += ((step.toLong, a, b, a + b, cnt))
          // eager localCheckpoint: materializes the rewrite (the old
          // cache+count pair in one call) and truncates the plan to a
          // leaf, so every step's queries optimize a ONE-pass plan;
          // superseded checkpoint blocks are GC'd by the context
          // cleaner
          vocab = vocab
            .select(bpeMergePass(col("syms"), a, b).as("syms"), col("freq"))
            .localCheckpoint()
      }
    }
    merges.toSeq
  }

  /** BPE APPLICATION — tokenize the corpus with the merge table
    * [[qTextBpeMerges]] learned, closing the train→apply loop: each
    * word's characters get every merge applied IN LEARNED ORDER (the
    * canonical BPE encoder), and the per-document output prices the
    * compression the table buys (symbols ≤ chars, ≥ words).
    *
    * Scale shape: training's one corpus pass + model-sized
    * iterations, then application is a single MAP-ONLY projection —
    * the merge table rides into the fold as literals (3 rows of
    * driver-held model state, the broadcast-model convention), and
    * each word folds through the merges inside whole-stage codegen.
    * No shuffle on the apply side at all. */
  def qTextBpeApply(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val merged = bpeMergeTableFor(spark, dir, BpeMergeSteps)
    bpeApplyMerges(docs, merged.map { case (_, a, b, _, _) => (a, b) })
  }

  /** A PRODUCTION-SIZED merge table for the big-kernel gate: 40
    * merges trained by [[bpeMergeTable]] itself (40 steps over the
    * sf0.01 fixture corpus), pinned as data so the gate is
    * corpus-independent — exactly what a real tokenizer export looks
    * like arriving through the weights-as-table seam. 40 ≫
    * [[ApplyFoldLimit]], so applying it MUST take the broadcast
    * mapPartitions kernel (the path every real export takes; the
    * ≤6-merge gates all ride the codegen fold). */
  private[graft] val BigMergeFixture: Seq[(String, String)] = Seq(
    ("e", "r"), ("i", "n"), ("o", "w"), ("o", "r"), ("s", "t"),
    ("m", "er"), ("a", "t"), ("l", "u"), ("a", "r"), ("p", "ar"),
    ("j", "o"), ("jo", "in"), ("a", "s"), ("as", "h"), ("h", "ash"),
    ("r", "ow"), ("at", "c"), ("atc", "h"), ("b", "atch"), ("a", "n"),
    ("c", "an"), ("s", "can"), ("c", "o"), ("c", "u"), ("co", "lu"),
    ("colu", "m"), ("colum", "n"), ("cu", "st"), ("cust", "o"),
    ("custo", "mer"), ("f", "i"), ("fi", "l"), ("fil", "t"),
    ("filt", "er"), ("a", "l"), ("al", "l"), ("m", "all"),
    ("s", "mall"), ("g", "e"), ("l", "ow"))

  /** BPE application through the BIG-TABLE kernel path, oracle-gated:
    * [[qTextBpeApply]] gates the ≤6-merge codegen fold; this gates
    * the route a real tokenizer export takes — the 40-merge
    * [[BigMergeFixture]] rides in as an ordered (step, lhs, rhs)
    * frame through [[bpeApplyWith]], whose size switch sends it to
    * [[bpeApplyMergesBig]] (broadcast merge list, imperative per-word
    * scan, map-only). The DuckDB oracle unrolls all 40 merges as
    * chained list_reduce passes, so kernel semantics are hash-checked
    * end to end, not just parity-pinned against the fold. */
  def qTextBpeApplyBig(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val table = BigMergeFixture.zipWithIndex
      .map { case ((a, b), i) => (i + 1L, a, b) }
      .toDF("step", "lhs", "rhs")
    bpeApplyWith(Tables.documents(spark, dir), table)
  }

  /** Above this merge count, [[bpeApplyWith]] switches from the
    * nested-fold Column expression to the broadcast-kernel encoder:
    * each [[bpeMergePass]] references its input expression ~5 times,
    * so the fold's expression TREE grows ~5× per merge — exponential
    * in steps. 3 merges (the gate) is ~10² nodes; 40 would be ~10²⁷
    * and catalyst analysis never returns. No engine codegens a
    * 30k-merge tokenizer as one expression; past the limit the merge
    * table rides as broadcast model state instead. */
  private val ApplyFoldLimit = 6

  /** BPE application with the merge table supplied AS DATA — the
    * tokenizer's weights-as-table seam (the qualityClassifierWith /
    * embedWith twin): a merge table trained anywhere (this engine at
    * higher step counts, or a real tokenizer's exported merges) rides
    * in as an ordered (step, lhs, rhs) frame and is read with the
    * bounded model-collect convention (vocab-sized rows of MODEL
    * state, the k-means precedent). Small tables (≤
    * [[ApplyFoldLimit]]) tokenize through the IDENTICAL map-only
    * codegen fold [[qTextBpeApply]] uses; production-sized tables go
    * through [[bpeApplyMergesBig]] — same semantics per word (spec-
    * pinned parity), same shuffle-free map-only shape, merge table
    * broadcast instead of inlined as literals. Either way the seam
    * leaves the schema and the no-shuffle plan contract unchanged
    * (TokenizerSeamSpec pins round-trip, parity, and plan). */
  def bpeApplyWith(docs: DataFrame, mergeTable: DataFrame): DataFrame = {
    val merged = mergeTable
      .select(col("step").cast("long"), col("lhs"), col("rhs"))
      .collect()
      .sortBy(_.getLong(0))
      .map(r => (r.getString(1), r.getString(2)))
      .toSeq
    if (merged.size <= ApplyFoldLimit) bpeApplyMerges(docs, merged)
    else bpeApplyMergesBig(docs, merged)
  }

  /** The shared map-only apply projection: every word's characters
    * fold through the merges in learned order inside whole-stage
    * codegen; no shuffle on the apply side at all. */
  private[graft] def bpeApplyMerges(docs: DataFrame,
                                    merges: Seq[(String, String)]): DataFrame = {
    val applyAll: Column => Column = syms =>
      merges.foldLeft(syms) { case (s, (a, b)) => bpeMergePass(s, a, b) }
    docs.select(
        col("doc_id"),
        size(toks).cast("long").as("n_words"),
        length(regexp_replace(col("text"), "\\s+", "")).cast("long")
          .as("n_chars"),
        aggregate(
          transform(toks, w => size(applyAll(split(w, "")))),
          lit(0L), (acc, x) => acc + x).as("n_bpe_symbols"))
      .orderBy("doc_id")
  }

  /** The large-merge-table apply kernel: tokenization and char
    * counting stay SQL expressions (bit-identical to
    * [[bpeApplyMerges]] — the word array is computed by the same
    * [[toks]] column before the kernel sees it), and only the
    * per-word merge fold moves into a mapPartitions over the
    * BROADCAST merge list. Each word runs one greedy left-to-right
    * pass per merge in learned order — the exact imperative
    * transcription of [[bpeMergePass]]'s fold (a merged symbol
    * becomes the running last element and can chain into the next
    * comparison), so the two paths agree symbol-for-symbol, which
    * TokenizerSeamSpec pins on a shared table. O(merges × word len)
    * per word with a cheap both-symbols-present skip; a 30k-merge
    * production encoder would switch to the rank-heap formulation,
    * which is equivalent for any genuinely-trained table (a pair
    * learned at step k can never be created by a merge after k,
    * because its halves exist only after their own earlier steps).
    * Map-only: no shuffle, no per-row driver work, model state rides
    * once per executor. */
  private[graft] def bpeApplyMergesBig(docs: DataFrame,
                                       merges: Seq[(String, String)]): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(merges.toArray)
    docs.select(
        col("doc_id").cast("long"),
        toks,
        length(regexp_replace(col("text"), "\\s+", "")).cast("long"))
      .as[(Long, Seq[String], Long)]
      .mapPartitions { it =>
        val ms = bc.value
        it.map { case (id, words, nChars) =>
          var total = 0L
          words.foreach { w =>
            var syms = w.split("")
            var m = 0
            while (m < ms.length && syms.length > 1) {
              val (a, b) = ms(m)
              if (syms.contains(a) && syms.contains(b)) {
                val out = scala.collection.mutable.ArrayBuffer[String](syms(0))
                var i = 1
                while (i < syms.length) {
                  if (out(out.length - 1) == a && syms(i) == b)
                    out(out.length - 1) = a + b
                  else out += syms(i)
                  i += 1
                }
                syms = out.toArray
              }
              m += 1
            }
            total += syms.length
          }
          (id, words.size.toLong, nChars, total)
        }
      }
      .toDF("doc_id", "n_words", "n_chars", "n_bpe_symbols")
      .orderBy("doc_id")
  }
}
