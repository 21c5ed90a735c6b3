package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.Text

/** Eval-answer scoring — the benchmark-grading operators an LLM
  * pipeline runs over (prediction, reference) pairs at scale:
  * normalized exact match and token-level F1 (the SQuAD-style
  * scoring pair). Both are PER-PAIR scalar projections: normalize,
  * tokenize, and fold entirely inside the row — no shuffle, no model
  * state, whole plan is one scan of the paired frame. A grading job
  * over a billion generations is embarrassingly parallel and this
  * plan keeps it that way.
  *
  * Token F1 uses MULTISET overlap (Σ_t min(count_pred(t),
  * count_ref(t))) computed with higher-order array functions via a
  * sort-then-run-count fold — O(L log L) element ops per row, bounded
  * by document length, constant per row at any corpus scale (the
  * text_repetition precedent, same oracle idiom), and safe for
  * 4k-token generation grading.
  *
  * The fixture has no model outputs, so the gate builds a
  * deterministic pair table from `documents`: every 5th doc is
  * paired with ITSELF (the exact-match regime) and the rest with
  * their id-successor (the partial-overlap regime) — both engines
  * derive the same pairs, and both scoring branches execute.
  */
object EvalScoring {

  private def norm(c: Column): Column =
    lower(regexp_replace(trim(c), "\\s+", " "))

  /** Append the scoring columns (np/nr/ov and rounded `token_f1`) to
    * any frame carrying `pred`/`ref` — the reusable per-row reward
    * kernel ([[scorePairs]] and the preference-pair builder share
    * it). */
  private[graft] def withF1(pairs: DataFrame): DataFrame =
    withF1FromTokens(pairs
      .withColumn("pt", Text.tokens(norm(col("pred"))))
      .withColumn("rt", Text.tokens(norm(col("ref")))))

  /** [[withF1]] over pre-tokenized pt/rt columns — r15: the
    * preference-pair gate tokenizes per DOC before the panel join
    * (n docs) instead of per PAIR after it (3n pairs × 2 sides), so
    * this tail is shared by both entries. */
  private[graft] def withF1FromTokens(pairs: DataFrame): DataFrame =
    pairs
      .withColumn("np", size(col("pt")))
      .withColumn("nr", size(col("rt")))
      .withColumn("ov", graft.functions.MultisetOverlap
        .multisetOverlap(col("pt"), col("rt")))
      .withColumn("token_f1", Text.roundPortable(
        when(col("np") + col("nr") === 0, lit(0.0))
          .otherwise(lit(2.0) * col("ov") / (col("np") + col("nr"))), 4))

  /** Score a (pair_id, pred, ref) frame: normalized exact match +
    * token F1. Pure per-row projection. */
  private[graft] def scorePairs(pairs: DataFrame): DataFrame = {
    val scored = withF1(pairs)
    scored.select(
      col("pair_id"),
      when(norm(col("pred")) === norm(col("ref")), 1L).otherwise(0L)
        .as("exact_match"),
      col("ov").cast("long").as("n_overlap"),
      col("token_f1"))
      .orderBy("pair_id")
  }

  /** PREFERENCE-PAIR CONSTRUCTION — the DPO/RLHF data builder: per
    * prompt, (chosen, rejected) = the best- and worst-scoring
    * candidate responses under a reward, pairs kept only when the
    * margin is strictly positive (a tie teaches nothing). Ties
    * break deterministically (best → smaller candidate id, worst →
    * larger), so any candidate panel yields one reproducible pair.
    *
    * Scale shape: the reward is the per-row [[withF1]] kernel (no
    * shuffle); pair selection is two panel-sized rank windows keyed
    * by prompt — the majority-vote shape, frames bounded by
    * candidates-per-prompt, never corpus rows.
    *
    * The fixture has no generations, so the gate derives a
    * deterministic candidate panel: for each prompt doc, the texts
    * of its 3 id-successors stand in as candidate responses and the
    * prompt's own text as the reference — the eval_token_f1 pairing
    * convention, widened to a panel. */
  def qPreferencePairs(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).select("doc_id", "text")
    // r15 (verdict item 8): tokenize each DOC once before the panel
    // join — the panel is 3 pairs per prompt, each carrying the
    // prompt's ref and a successor's pred, so tokenizing after the
    // join paid normalize+split 6× per prompt; the arrays it computes
    // are identical (same norm∘tokens expression over the same text)
    val toksD = docs.select(col("doc_id"),
      Text.tokens(norm(col("text"))).as("tk"))
    val panel = toksD.select(col("doc_id").as("prompt_id"),
        col("tk").as("rt"),
        explode(array(lit(1L), lit(2L), lit(3L))).as("r"))
      .withColumn("cand_id", col("prompt_id") + col("r"))
      .join(toksD.select(col("doc_id").as("cand_id"),
        col("tk").as("pt")), "cand_id")
      .select("prompt_id", "cand_id", "pt", "rt")
    pairSelection(withF1FromTokens(panel))
  }

  /** Core over a (prompt_id, cand_id, pred, ref) candidate panel —
    * the pre-r15 text-level entry, kept for the specs and any panel
    * whose texts aren't pre-tokenized. */
  private[graft] def preferencePairs(panel: DataFrame): DataFrame =
    pairSelection(withF1(panel))

  /** Best/worst selection over a scored panel (shared tail). */
  private def pairSelection(scoredPanel: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val scored = scoredPanel
      .select("prompt_id", "cand_id", "token_f1")
    val best = Window.partitionBy("prompt_id")
      .orderBy(desc("token_f1"), col("cand_id"))
    val worst = Window.partitionBy("prompt_id")
      .orderBy(col("token_f1"), desc("cand_id"))
    scored
      .withColumn("rb", row_number().over(best))
      .withColumn("rw", row_number().over(worst))
      .groupBy("prompt_id")
      .agg(
        max(when(col("rb") === 1, col("cand_id"))).as("chosen_id"),
        max(when(col("rb") === 1, col("token_f1"))).as("chosen_f1"),
        max(when(col("rw") === 1, col("cand_id"))).as("rejected_id"),
        max(when(col("rw") === 1, col("token_f1"))).as("rejected_f1"))
      .where(col("chosen_f1") > col("rejected_f1"))
      .select(col("prompt_id"), col("chosen_id"), col("rejected_id"),
        col("chosen_f1"), col("rejected_f1"),
        Text.roundPortable(col("chosen_f1") - col("rejected_f1"), 4)
          .as("margin"))
      .orderBy("prompt_id")
  }

  /** Gate entry: deterministic pairs from `documents` — every 5th
    * doc scored against itself, the rest against their id-successor
    * (inner join drops the last id's missing successor). */
  def qEvalTokenF1(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).select("doc_id", "text")
    val pred = docs.select(col("doc_id").as("pair_id"), col("text").as("pred"),
      when(pmod(col("doc_id"), lit(5)) === 0, col("doc_id"))
        .otherwise(col("doc_id") + 1).as("ref_id"))
    val refs = docs.select(col("doc_id").as("ref_id"), col("text").as("ref"))
    scorePairs(pred.join(refs, "ref_id").select("pair_id", "pred", "ref"))
  }

  // 16^6 — the hash24 space (the q_quality_sample draw convention)
  private val Hash24Space = 16777216L

  /** MAJORITY-VOTE LABEL AGGREGATION — the annotation-QA reducer for
    * multiply-labeled data (RLHF preference collection, quality
    * raters, weak supervision): per item, the modal label across
    * raters, how many raters back it, and whether the panel was
    * unanimous. Ties break to the lexicographically-smaller label so
    * the vote is deterministic for any rater count.
    *
    * Scale shape: ONE (item, label) partial-agg shuffle (rater rows
    * combine map-side) + the arg-max as a (cnt DESC, label) window
    * per item over label-count rows — labels per item ≤ raters, so
    * the window frames are panel-sized, never corpus-sized.
    *
    * The fixture carries no annotations, so the gate SYNTHESIZES a
    * deterministic 3-rater panel (the PII-injection precedent): each
    * rater starts from the doc's `lang` and corrupts it to "zz"
    * when the proven cross-engine hash24(doc_id·3 + rater) draw
    * falls under rater·5 % — rater 1 is the careful one, rater 3 the
    * sloppy one, and both agreement regimes execute. */
  def qEvalMajorityVote(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).select("doc_id", "lang")
    val votes = docs
      .select(col("doc_id"), col("lang"),
        explode(array(lit(1), lit(2), lit(3))).as("rater"))
      .withColumn("draw",
        conv(substring(md5((col("doc_id") * 3 + col("rater")).cast("string")),
          1, 6), 16, 10).cast("long"))
      .withColumn("label",
        when(col("draw") * 20 < lit(Hash24Space) * col("rater"), lit("zz"))
          .otherwise(col("lang")))
    majorityVote(votes.select(col("doc_id").as("item_id"),
      col("rater"), col("label")))
  }

  // Bradley–Terry MM iterations: 3 suffices for a rank-stable fit on
  // panel-sized duel matrices; a production arena dial is ~100 with a
  // convergence stop — iterations are driver-side arithmetic on the
  // k×k matrix, so the dial costs nothing distributed
  private val BtIters = 3

  /** BRADLEY–TERRY STRENGTH FITTING — the pairwise-preference
    * aggregator behind chat-arena leaderboards and RLHF reward
    * shaping: given (winner, loser) duels between k players, fit
    * strengths s where P(i beats j) = s_i/(s_i+s_j), via the
    * standard MM update (Hunter 2004)
    * s_i ← W_i / Σ_j n_ij/(s_i+s_j), mean-normalized per round.
    *
    * Scale shape: the corpus-sized work is ONE duel aggregation
    * (winner/loser source pair → count, partial-agg shuffle); the fit
    * runs driver-side on the k×k win matrix — MODEL state (the
    * k-means/eigensolve convention; k = #sources, so the collect is
    * k²-bounded, never corpus-bounded). A billion duels aggregate to
    * the same k² rows.
    *
    * The fixture has no human preferences, so duels derive
    * deterministically from `documents`: each doc duels its
    * id-successor when their sources differ, longer text wins (ties →
    * the smaller doc_id) — every source plays every neighbor and both
    * LMs of the comparison regime execute. Output: per source, games,
    * wins, fitted strength (4dp), and rank (ties broken by source). */
  def qBradleyTerry(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select("doc_id", "source", "n_chars")
    val a = docs.select(col("doc_id").as("ida"), col("source").as("sa"),
      col("n_chars").as("ca"))
    val b = docs.select((col("doc_id") - 1).as("ida"),
      col("source").as("sb"), col("n_chars").as("cb"))
    val duels = a.join(b, "ida").where(col("sa") =!= col("sb"))
      .select(
        when(col("ca") >= col("cb"), col("sa")).otherwise(col("sb"))
          .as("winner"),
        when(col("ca") >= col("cb"), col("sb")).otherwise(col("sa"))
          .as("loser"))
    bradleyTerryFit(duels)
  }

  /** Core over a (winner, loser) duel frame — the aggregation +
    * driver-side MM fit [[qBradleyTerry]] gates. */
  private[graft] def bradleyTerryFit(duelRows: DataFrame): DataFrame = {
    val spark = duelRows.sparkSession
    val duels = duelRows
      .groupBy("winner", "loser").agg(count(lit(1)).as("c"))
    // k²-bounded MODEL read: duel counts over source pairs
    bradleyTerryFromCounts(spark, duels.collect()
      .map(r => ((r.getString(0), r.getString(1)), r.getLong(2))).toMap)
  }

  /** The MM fit from an already-aggregated win-count map — the
    * MERGEABLE-summary seam: win counts are additive, so a stream
    * merges per-batch count maps and fits once at close
    * ([[graft.streaming.StreamReplays.qStreamBradleyTerry]]); any
    * batch split yields the identical fit because the merged counts
    * ARE the one-shot counts. */
  private[graft] def bradleyTerryFromCounts(spark: SparkSession,
      winRows: Map[(String, String), Long]): DataFrame = {
    import spark.implicits._
    val players = winRows.keys.flatMap { case (w, l) => Seq(w, l) }
      .toSeq.distinct.sorted
    val wins: Map[String, Long] = players.map(p =>
      p -> winRows.collect { case ((w, _), c) if w == p => c }.sum).toMap
    val nij: Map[(String, String), Long] = (for {
      i <- players; j <- players if i < j
      n = winRows.getOrElse((i, j), 0L) + winRows.getOrElse((j, i), 0L)
      if n > 0
    } yield Seq((i, j) -> n, (j, i) -> n)).flatten.toMap
    var s: Map[String, Double] = players.map(_ -> 1.0).toMap
    for (_ <- 1 to BtIters) {
      val raw = players.map { i =>
        val den = players.filter(j => nij.contains((i, j)))
          .map(j => nij((i, j)) / (s(i) + s(j))).sum
        i -> (if (den > 0) wins(i) / den else 0.0)
      }.toMap
      val mean = raw.values.sum / math.max(players.size, 1)
      s = raw.map { case (p, v) => p -> (if (mean > 0) v / mean else 0.0) }
    }
    val fitted = players.map { p =>
      val games = players.map(j => nij.getOrElse((p, j), 0L)).sum
      (p, games, wins(p), math.floor(s(p) * 1e4 + 0.5) / 1e4)
    }
    val ranked = fitted.sortBy { case (p, _, _, st) => (-st, p) }
      .zipWithIndex
      .map { case ((p, g, w, st), i) => (p, g, w, st, (i + 1).toLong) }
    ranked.toDF("source", "n_games", "n_wins", "strength", "rank")
      .orderBy("source")
  }

  // pass@k panel: 5 samples per problem, k dials of 1 and 3
  private val PassSamples = 5

  /** PASS@K ESTIMATION — the code-eval metric (Chen et al. 2021,
    * HumanEval): given n samples per problem of which c pass,
    * pass@k = 1 − C(n−c, k)/C(n, k), the unbiased probability that a
    * size-k draw contains a passing sample. Computed as the product
    * form 1 − Π_{i=0..k−1} (n−c−i)/(n−i) — when c ≥ n−k+1 a zero
    * factor lands in the product and pass@k is exactly 1, so the
    * expression needs no clamping.
    *
    * Scale shape: MAP-ONLY — c folds over [[PassSamples]] literal
    * hash-draw terms per row (no explode, no shuffle); a billion
    * problems score in one scan. The fixture has no execution
    * results, so sample i of problem d passes iff the proven
    * cross-engine hash24 draw on (d·7 + i) falls under d's own pass
    * rate (doc_id%5+1)/10 — pass rates 10–50 % so every c regime
    * (0..n) executes. */
  def qEvalPassAtK(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).select("doc_id")
    val c = (1 to PassSamples).map { i =>
      val draw = conv(substring(
        md5((col("doc_id") * 7 + lit(i)).cast("string")), 1, 6), 16, 10)
        .cast("long")
      when(draw * 10 < lit(Hash24Space) * (pmod(col("doc_id"), lit(5)) + 1),
        1L).otherwise(0L)
    }.reduce(_ + _)
    val n = PassSamples
    def passAt(k: Int, cc: Column): Column = Text.roundPortable(
      lit(1.0) - (0 until k).map(i =>
        (lit(n - i) - cc).cast("double") / lit((n - i).toDouble))
        .reduce(_ * _), 4)
    docs
      .withColumn("n_correct", c)
      .select(col("doc_id"), lit(n.toLong).as("n_samples"),
        col("n_correct"),
        passAt(1, col("n_correct")).as("pass_at_1"),
        passAt(3, col("n_correct")).as("pass_at_3"))
      .orderBy("doc_id")
  }

  /** EXPECTED-CALIBRATION-ERROR BINNING — the reliability diagram a
    * model-based quality filter should publish before its scores gate
    * data (an overconfident classifier silently starves the corpus):
    * predictions bucket into 10 equal-width confidence bins; each bin
    * reports size, mean confidence, realized accuracy, and the
    * |confidence − accuracy| gap whose n-weighted sum is ECE.
    *
    * Confidence = the engine's own heuristic quality score (already
    * in [0, 1], the text_quality formula); the fixture has no labels,
    * so correctness is synthesized DETERMINISTICALLY as an
    * OVERCONFIDENT model: a doc is "correct" iff its hash24 draw
    * falls under conf² — realized accuracy tracks conf² < conf, so
    * every bin shows the positive gap a real miscalibrated filter
    * would, and the binning/gap machinery is exercised end to end.
    *
    * Scale shape: one map-only projection (score + draw + bin) and
    * ONE 10-group partial agg — corpus touched once, output is 10
    * rows. */
  def qEvalEce(spark: SparkSession, dir: String): DataFrame = {
    val nTok = size(Text.tokens(col("text")))
    // empty-doc guard: a zero-token doc has no distinct/stopword
    // ratio — pin conf to 0.0 instead of engine-dependent NULL/inf
    // (same hardening as qTextCodeDetect's 0-length division).
    // r14: the formula is the shared QualityScore kernel (this was a
    // fourth hand-spelled copy; R14KernelsSpec pins kernel == HOF).
    val conf = when(nTok > 0, Text.roundPortable(
      graft.functions.QualityScore(col("text")), 4)).otherwise(lit(0.0))
    val draw = conv(substring(md5(col("doc_id").cast("string")), 1, 6),
      16, 10).cast("long")
    Tables.documents(spark, dir)
      .select(col("doc_id"), conf.as("conf"), draw.as("draw"))
      .withColumn("correct",
        when(col("draw") < floor(col("conf") * col("conf")
          * lit(Hash24Space.toDouble)), 1L).otherwise(0L))
      .withColumn("bin",
        least(floor(col("conf") * 10).cast("long"), lit(9L)))
      .groupBy("bin")
      .agg(count(lit(1)).as("n_docs"),
           avg("conf").as("ac"), avg("correct").as("aa"))
      .select(col("bin"), col("n_docs"),
        Text.roundPortable(col("ac"), 4).as("avg_conf"),
        Text.roundPortable(col("aa"), 4).as("avg_acc"),
        Text.roundPortable(abs(col("ac") - col("aa")), 4).as("gap"))
      .orderBy("bin")
  }

  /** Core over an (item_id, rater, label) frame. */
  private[graft] def majorityVote(votes: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("item_id")
      .orderBy(desc("cnt"), col("label"))
    votes
      .groupBy("item_id", "label").agg(count(lit(1)).as("cnt"))
      .withColumn("rk", row_number().over(w))
      .withColumn("n_raters", sum("cnt").over(Window.partitionBy("item_id")))
      .where(col("rk") === 1)
      .select(col("item_id"), col("label").as("maj_label"),
        col("cnt").as("n_agree"),
        (col("cnt") === col("n_raters")).as("unanimous"))
      .orderBy("item_id")
  }
}
