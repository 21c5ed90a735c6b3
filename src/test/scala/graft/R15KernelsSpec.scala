package graft

import org.apache.spark.sql.functions._
import graft.functions.{MinHashes, RemoveIntervals, Text}
import graft.operators.{Dedup, Similarity, TextAnalysis}

/** Round-15 optimization kernels and pruning rules: every custom
  * expression must be BIT-IDENTICAL to the builtin/HOF composition it
  * displaced (the twins and the kernel contract table live in
  * [[KernelContractSpec]]; the RemoveIntervals twin checks and the
  * end-to-end rows stay here), and every candidate-pruning
  * predicate must be LOSSLESS against the brute-force definition the
  * oracle replays.
  */
class R15KernelsSpec extends SparkSpec {
  import spark.implicits._

  // ---------------------------------------------------------------
  // RemoveIntervals
  // ---------------------------------------------------------------

  private val rng = new scala.util.Random(15)

  test("RemoveIntervals kernel == the filter×exists HOF twin") {
    // random token arrays with random (possibly overlapping, adjacent,
    // out-of-range, reversed-order) interval lists
    val cases = (1 to 300).map { _ =>
      val n = rng.nextInt(40)
      val toks = Seq.fill(n)(s"t${rng.nextInt(10)}")
      val ivs = Seq.fill(rng.nextInt(6)) {
        val s = rng.nextInt(n + 4) + 1
        (s, s + rng.nextInt(8))
      }
      (toks, ivs)
    } ++ Seq(
      (Seq.empty[String], Seq.empty[(Int, Int)]),
      (Seq("a", "b"), Seq.empty[(Int, Int)]),
      (Seq.empty[String], Seq((1, 5))),
      (Seq("a", "b", "c"), Seq((1, 3))),            // removes everything
      (Seq("a", "b", "c", "d"), Seq((1, 2), (3, 4))), // adjacent merge
      (Seq("a", "b", "c", "d"), Seq((2, 3), (1, 2))), // unsorted overlap
      (Seq("a"), Seq((5, 9))))                        // fully out of range
    val df = cases.toDF("toks", "raw")
      .withColumn("ivs", transform($"raw",
        iv => struct(iv("_1").as("s"), iv("_2").as("e"))))
      .withColumn("fast", RemoveIntervals.removeIntervals($"toks", $"ivs"))
      .withColumn("slow", KernelContractSpec.removeIntervalsViaHof($"toks", $"ivs"))
    // element-wise identity including order and multiplicity
    assert(df.where(not($"fast" <=> $"slow")).count() == 0,
      "RemoveIntervals diverged from the HOF twin")
  }

  test("RemoveIntervals kernel == the HOF twin on nulls, compiled and interpreted") {
    import org.apache.spark.sql.Row
    def iv(s: Integer, e: Integer) = Row(s, e)
    val rows = Seq(
      Row(null, Seq(iv(1, 2))),                               // null token array
      Row(Seq("a", "b"), null),                               // null interval list
      Row(Seq.empty[String], null),
      Row(Seq("a", "b", "c"), Seq(null)),                     // null interval
      Row(Seq("a", "b", "c", "d"), Seq(iv(null, 2))),         // null start
      Row(Seq("a", "b", "c", "d"), Seq(iv(3, null), iv(1, 1))), // null end
      Row(Seq("a", null, "c"), Seq(iv(3, 3))),                // null token survives
      Row(Seq(null, "b"), Seq(iv(1, 1))),                     // null token removed
      Row(Seq("a", "b", "c", "d"), Seq(iv(3, 1), iv(2, 2))),  // reversed: covers nothing
      Row(Seq("a", "b", "c"), Seq(iv(2, Int.MaxValue), iv(1, 1))))
    // an RDD-backed frame, so the optimizer cannot fold the kernel
    // into a local relation before execution
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 2),
      org.apache.spark.sql.types.StructType.fromDDL(
        "toks array<string>, ivs array<struct<s:int,e:int>>"))
    val keys = Seq("spark.sql.codegen.factoryMode", "spark.sql.codegen.wholeStage")
    val saved = keys.map(spark.conf.getOption)
    try Seq("CODEGEN_ONLY" -> "true", "NO_CODEGEN" -> "false").foreach {
      case (mode, wholeStage) =>
        spark.conf.set(keys(0), mode)
        spark.conf.set(keys(1), wholeStage)
        val out = df.select(
          RemoveIntervals.removeIntervals($"toks", $"ivs").as("fast"),
          KernelContractSpec.removeIntervalsViaHof($"toks", $"ivs").as("slow")).collect()
        val diverged = out.filterNot(r => r.get(0) == r.get(1))
        assert(diverged.isEmpty, s"$mode: kernel vs twin: ${diverged.mkString(", ")}")
    } finally keys.zip(saved).foreach {
      case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _))
    }
  }

  test("verbatimRewrite rows are unchanged by the kernel swap (fixture)") {
    // end-to-end: rebuild the r14 spelling of the rewrite tail over
    // the same interval frame and compare entire output rows
    val docs = Tables.documents(spark, sf)
    val out = Dedup.qVerbatimRewrite(spark, sf)
    val viaHof = {
      val w = 8
      val toksDf = docs
        .select(col("doc_id"), Text.tokens(col("text")).as("toks"))
        .withColumn("n", size(col("toks")))
      val wins = toksDf.where(col("n") >= w)
        .select(col("doc_id"), col("n"), col("toks"),
          explode(sequence(lit(1), col("n") - (w - 1))).as("p"))
        .select(col("doc_id"), col("p"),
          md5(concat_ws(" ", slice(col("toks"), col("p"), lit(w)))).as("h"))
      val owners = wins.groupBy("h")
        .agg(min("doc_id").as("owner"), countDistinct("doc_id").as("nd"))
        .where(col("nd") >= 2)
        .select("h", "owner")
      val ivs = wins.join(owners, "h")
        .where(col("doc_id") =!= col("owner"))
        .groupBy("doc_id")
        .agg(collect_list(
          struct(col("p").as("s"), (col("p") + (w - 1)).as("e"))).as("ivs"))
      toksDf.join(ivs, Seq("doc_id"), "left")
        .withColumn("ivs",
          coalesce(col("ivs"), array().cast("array<struct<s:int,e:int>>")))
        .withColumn("kept", KernelContractSpec.removeIntervalsViaHof(col("toks"), col("ivs")))
        .select(col("doc_id"),
          (col("n") - size(col("kept"))).cast("long").as("n_removed"),
          concat_ws(" ", col("kept")).as("clean_text"))
    }
    assert(out.count() > 0)
    assert(out.join(viaHof, Seq("doc_id"))
      .where(out("n_removed") =!= viaHof("n_removed") ||
             out("clean_text") =!= viaHof("clean_text")).count() == 0)
  }

  // ---------------------------------------------------------------
  // GopherSignals
  // ---------------------------------------------------------------

  test("qTextGopherRules flags match the r14 HOF spelling end to end") {
    val out = TextAnalysis.qTextGopherRules(spark, sf)
    val toks = Text.tokens(col("text"))
    val n = size(toks).cast("double")
    val meanLen = aggregate(transform(toks, t => length(t)), lit(0),
      (acc, x) => acc + x).cast("double") / n
    val alphaFrac =
      size(filter(toks, t => t.rlike("[A-Za-z]"))).cast("double") / n
    val stopCnt = size(filter(toks,
      t => t.isin(graft.functions.QualityScore.StopwordList: _*)))
    val topFrac = array_max(transform(array_distinct(toks),
      d => size(filter(toks, x => x === d)))).cast("double") / n
    val ref = Tables.documents(spark, sf)
      .select(col("doc_id"),
        (size(toks) >= 50 && size(toks) <= 100000).as("r_word_count"),
        (meanLen >= 3.0 && meanLen <= 10.0).as("r_mean_word_len"),
        (alphaFrac >= 0.8).as("r_alpha"),
        (stopCnt >= 2).as("r_stopwords"),
        (topFrac <= 0.15).as("r_repetition"))
    val joined = out.join(ref, "doc_id")
    assert(joined.count() > 0)
    for (f <- Seq("r_word_count", "r_mean_word_len", "r_alpha",
                  "r_stopwords", "r_repetition"))
      assert(joined.where(not(out(f) <=> ref(f))).count() == 0,
        s"gopher flag $f diverged from the HOF spelling")
  }

  // ---------------------------------------------------------------
  // MinHash8 nullability (ADVICE r14)
  // ---------------------------------------------------------------

  test("MinHash8 surfaces NULL (not an NPE) for an empty shingle array") {
    val df = Seq(Seq("a b c", "b c d"), Seq.empty[String]).toDF("sh")
      .select(MinHashes.minhash8($"sh").as("mh"))
    val rows = df.collect()
    assert(rows.count(_.isNullAt(0)) == 1)
    assert(rows.count(!_.isNullAt(0)) == 1)
    // and under a null-consuming expression (codegen path)
    assert(df.where($"mh".isNull).count() == 1)
  }

  // ---------------------------------------------------------------
  // Prefix-filter pruning losslessness (verdict item 3)
  // ---------------------------------------------------------------

  test("qDedupNgramJaccard == brute-force all-pairs definition (fixture)") {
    val sets = Tables.documents(spark, sf)
      .select(col("doc_id"), Text.shingles3(col("text")).as("sh"))
      .where(size(col("sh")) > 0)
    val inter = size(array_intersect(col("a.sh"), col("b.sh")))
    val brute = sets.as("a").join(sets.as("b"),
        col("a.doc_id") < col("b.doc_id"))
      .withColumn("shared", inter.cast("long"))
      .withColumn("jaccard",
        col("shared") / (size(col("a.sh")) + size(col("b.sh")) - col("shared")))
      .where(col("jaccard") >= 0.8)
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("shared"), Text.roundPortable(col("jaccard"), 6).as("jaccard"))
    val got = Dedup.qDedupNgramJaccard(spark, sf)
    assert(got.count() == brute.count())
    assert(got.exceptAll(brute).count() == 0 &&
           brute.exceptAll(got).count() == 0,
      "length/prefix pruning lost or invented a pair")
  }

  test("qDedupContainment == brute-force all-pairs definition (fixture)") {
    val sets = Tables.documents(spark, sf)
      .select(col("doc_id"), Text.shingles3(col("text")).as("sh"))
      .where(size(col("sh")) > 0)
    val inter = size(array_intersect(col("a.sh"), col("b.sh")))
    val brute = sets.as("a").join(sets.as("b"),
        col("a.doc_id") < col("b.doc_id"))
      .withColumn("shared", inter.cast("long"))
      .withColumn("c_ab", col("shared") / size(col("a.sh")))
      .withColumn("c_ba", col("shared") / size(col("b.sh")))
      .where(greatest(col("c_ab"), col("c_ba")) >= 0.9)
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("shared"),
        Text.roundPortable(col("c_ab"), 6).as("containment_ab"),
        Text.roundPortable(col("c_ba"), 6).as("containment_ba"))
    val got = Dedup.qDedupContainment(spark, sf)
    assert(got.count() == brute.count())
    assert(got.exceptAll(brute).count() == 0 &&
           brute.exceptAll(got).count() == 0,
      "size/positional pruning lost or invented a pair")
  }

  // ---------------------------------------------------------------
  // Mutual-kNN distributed-path gate (verdict item 9)
  // ---------------------------------------------------------------

  test("mutual-kNN components: forced-distributed == guarded driver path") {
    val guarded = Similarity.qSimMutualKnnClusters(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val dist = Similarity.qSimMutualKnnClustersDist(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(guarded.nonEmpty)
    assert(guarded == dist,
      "min-label propagation diverged from driver union-find on the mutual edge set")
  }
}
