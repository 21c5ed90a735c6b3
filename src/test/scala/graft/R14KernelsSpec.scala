package graft

import org.apache.spark.sql.functions._
import graft.functions.{MinHashes, MultisetOverlap, Text}

/** Round-14 optimization kernels: the custom expressions that
  * replaced interpreted plans must be BIT-IDENTICAL to the builtin
  * compositions they displaced (the test-side twins in
  * [[KernelContractSpec]]).
  */
class R14KernelsSpec extends SparkSpec {
  import spark.implicits._

  private val rng = new scala.util.Random(14)
  private val vocab = Vector("the", "a", "of", "to", "and", "x", "y",
    "zz", "", " spaced ", "Ünïcode", "emoji🙂", "tab\ttok")

  private def randomTokens(n: Int): Seq[String] =
    Seq.fill(n)(vocab(rng.nextInt(vocab.size)))

  test("MultisetOverlap expression == HOF fold on arbitrary arrays") {
    val cases = (1 to 200).map { _ =>
      (randomTokens(rng.nextInt(30)), randomTokens(rng.nextInt(30)))
    } ++ Seq(
      (Seq.empty[String], Seq.empty[String]),
      (Seq("a", "a", "a"), Seq("a", "a")),
      (Seq("a", "b", "a"), Seq("a", "a", "b", "b")),
      (Seq(""), Seq("", "")))
    val df = cases.toDF("p", "r")
      .withColumn("fast", MultisetOverlap.multisetOverlap($"p", $"r"))
      .withColumn("slow", KernelContractSpec.multisetOverlapViaHof($"p", $"r"))
    val bad = df.where($"fast" =!= $"slow").count()
    assert(bad == 0, "expression diverged from the HOF fold")
  }

  test("MultisetOverlap == exact min-count reference") {
    def ref(p: Seq[String], r: Seq[String]): Int = {
      val cp = p.groupBy(identity).view.mapValues(_.size)
      val cr = r.groupBy(identity).view.mapValues(_.size)
      cp.keySet.intersect(cr.keySet.toSet)
        .toSeq.map(t => math.min(cp(t), cr(t))).sum
    }
    val cases = (1 to 100).map { _ =>
      (randomTokens(rng.nextInt(25)), randomTokens(rng.nextInt(25)))
    }
    val got = cases.toDF("p", "r")
      .select(MultisetOverlap.multisetOverlap($"p", $"r"))
      .as[Int].collect().toSeq
    assert(got == cases.map { case (p, r) => ref(p, r) })
  }

  test("MinHash8 == the builtin min(md5('j|'+sh)) composition") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
      .select($"doc_id", Text.shingles3($"text").as("shingles"))
      .where(size($"shingles") > 0)
    val viaExpr = docs
      .select($"doc_id", MinHashes.minhash8($"shingles").as("mh"))
    val viaBuiltin = docs.select($"doc_id" +:
      (0 until MinHashes.Seeds).map(j =>
        Text.minhash($"shingles", j).as(s"m$j")): _*)
    val joined = viaExpr.join(viaBuiltin, "doc_id")
    val bad = (0 until MinHashes.Seeds).map(j =>
      joined.where(element_at($"mh", j + 1) =!= col(s"m$j")).count()).sum
    assert(joined.count() > 0)
    assert(bad == 0, "MinHash8 diverged from the builtin composition")
  }

  test("ClassifierMeanW kernel prob == builtin HOF prob on the fixture") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val both = docs.select(
      graft.operators.TextAnalysis.classifierProb.as("fast"),
      KernelContractSpec.classifierProbViaHof($"text").as("slow"))
    // bit-identical (not approximately): both sum the same doubles in
    // the same order; NaN rows (empty docs) must be NaN on both sides
    val bad = both.where(
      (isnan($"fast") =!= isnan($"slow")) ||
      (!isnan($"fast") && $"fast" =!= $"slow")).count()
    assert(bad == 0)
  }

  test("ClassifierMeanW table variant == element_at composition") {
    val w = Array(0.25, -0.5, 0.125, 1.0, -1.0, 0.0625, 0.0)
    // no empty text here: the builtin REFERENCE division throws under
    // ANSI on a zero-token doc (production always filters those out
    // before the division — the kernel itself returns NaN, asserted
    // separately below)
    val texts = Seq("the quick brown fox", "a a a", "Ünïcode emoji🙂")
      .toDF("text")
    val toksCol = graft.functions.Text.tokens($"text")
    val weightsLit = typedLit(w.toSeq)
    val ref = aggregate(transform(toksCol, t =>
        element_at(weightsLit,
          (pmod(conv(substring(md5(t), 1, 6), 16, 10).cast("long"),
            lit(w.length.toLong)) + 1L).cast("int"))),
      lit(0.0), (acc, x) => acc + x) / size(toksCol)
    val both = texts.select(
      graft.functions.ClassifierMeanWKernel
        .classifierMeanW(toksCol, Some(w)).as("fast"),
      ref.as("slow"))
    val bad = both.where(
      (isnan($"fast") =!= isnan($"slow")) ||
      (!isnan($"fast") && $"fast" =!= $"slow")).count()
    assert(bad == 0)
    // empty token array -> NaN mean (the builtin's 0.0/0 value), so a
    // `prob >= 0.5` gate drops it exactly as the filtered path does
    val empty = Seq("").toDF("text").select(
      graft.functions.ClassifierMeanWKernel
        .classifierMeanW(graft.functions.Text.tokens($"text"), Some(w))
        .as("m"))
    assert(empty.where(isnan($"m")).count() == 1)
  }

  test("interSize == size(array_intersect) on distinct arrays") {
    val cases = (1 to 100).map { _ =>
      (randomTokens(20).distinct, randomTokens(20).distinct)
    }
    val df = cases.toDF("a", "b")
      .withColumn("fast", MultisetOverlap.multisetOverlap($"a", $"b"))
      .withColumn("slow", size(array_intersect($"a", $"b")))
    assert(df.where($"fast" =!= $"slow").count() == 0)
  }

  test("ShinglesW kernel == the HOF shingleArray composition") {
    val texts = Seq("a b c d e f", "x y", "", "a a a a",
      "tab\tsep  and   runs", "Ünï côde 🙂 mixé quatre mots") .toDF("text")
    for (w <- Seq(2, 3, 4, 8)) {
      val both = texts.select(
        graft.functions.ShinglesW($"text", w).as("fast"),
        graft.operators.TextAnalysis.shingleArray(
          graft.functions.Text.tokens($"text"), w).as("slow"))
      // r15 (ADVICE follow-up): the advice suspected the HOF twin
      // returns NULL below w tokens, which would have NULLed the
      // set-difference predicates and silently excluded short-doc
      // rows. Checked: shingleArray carries `.otherwise(array())`, so
      // both sides are [] on short docs and the rows WERE compared.
      // Pin that boundary explicitly so a future twin edit that drops
      // the otherwise can't reintroduce the silent exclusion.
      assert(both.where($"slow".isNull || $"fast".isNull).count() == 0,
        s"ShinglesW($w): a NULL side would void the set comparison below")
      // same SET per row (HOF preserves first-occurrence order too,
      // but set equality is what the consumers rely on)
      val bad = both.where(
        size(array_except($"fast", $"slow")) =!= 0 ||
        size(array_except($"slow", $"fast")) =!= 0 ||
        size($"fast") =!= size($"slow")).count()
      assert(bad == 0, s"ShinglesW($w) diverged from the HOF twin")
    }
  }

  test("QualityScore kernel == the builtin HOF composition, bit for bit") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val both = docs.select(
      graft.operators.TextAnalysis.qualityScoreCol.as("fast"),
      Text.roundPortable(KernelContractSpec.qualityScoreViaHof($"text"), 4).as("slow"))
    assert(both.where($"fast" =!= $"slow").count() == 0)
    assert(both.count() > 0)
  }

  test("signaturesOf drops shingle-less docs and keeps the band layout") {
    val docs = Seq(
      (1L, "one two three four"),   // has shingles
      (2L, "too short"),            // < 3 tokens -> dropped
      (3L, "")).toDF("doc_id", "text")
    val sigs = graft.operators.Dedup.signaturesOf(docs)
    assert(sigs.select("doc_id").as[Long].collect().toSeq == Seq(1L))
    val row = sigs.head
    assert(row.getSeq[String](row.fieldIndex("bands")).size == 4)
  }
}
