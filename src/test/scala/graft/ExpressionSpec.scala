package graft

import org.apache.spark.sql.functions._
import graft.functions.{GroupConcatDistinct, SimHash, Text, VectorFunctions}

/** Unit tests for the custom expressions against independent
  * reference implementations. */
class ExpressionSpec extends SparkSpec {
  import spark.implicits._

  /** Plain-Scala SimHash reference (same algorithm, written
    * independently of the Catalyst expression's loop structure). */
  private def simhashRef(tokens: Seq[String]): String = {
    val votes = Array.fill(64)(0)
    tokens.foreach { t =>
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(t.getBytes("UTF-8"))
      for (bit <- 0 until 64) {
        val b = (d(bit / 8) >> (7 - bit % 8)) & 1
        votes(bit) += (if (b == 1) 1 else -1)
      }
    }
    (0 until 16).map { p =>
      val v = (0 until 4).map(k => if (votes(p * 4 + k) > 0) 8 >> k else 0).sum
      "0123456789abcdef" (v)
    }.mkString
  }

  test("SimHash64 matches the reference implementation") {
    val inputs = Seq(
      Seq("alpha", "beta", "gamma"),
      Seq("one"),
      Seq("a", "b", "c", "d", "e", "f", "g"),
      Seq.empty[String])
    val got = inputs.toDF("toks")
      .select(SimHash.simhash64($"toks").as("sh"))
      .as[String].collect()
    assert(got.toSeq == inputs.map(simhashRef))
  }

  test("SimHash64 property: random token lists — expression == reference") {
    val rnd = new scala.util.Random(7)
    val inputs = Seq.fill(30)(
      Seq.fill(rnd.nextInt(20))(rnd.alphanumeric.take(1 + rnd.nextInt(8)).mkString))
    val got = inputs.toDF("toks")
      .select(SimHash.simhash64($"toks").as("sh")).as[String].collect()
    assert(got.toSeq == inputs.map(simhashRef))
    got.foreach(sh => assert(sh.length == 16 && sh.forall("0123456789abcdef".contains(_))))
  }

  test("native cosine matches HOF-composition cosine") {
    val rnd = new scala.util.Random(42)
    val rows = Seq.fill(50)((
      Array.fill(16)(rnd.nextFloat() - 0.5f),
      Array.fill(16)(rnd.nextFloat() - 0.5f)))
    val df = rows.toDF("a", "b")
    val diffs = df.select(
      abs(VectorFunctions.cosine($"a", $"b") -
          KernelContractSpec.cosineViaHof(
            $"a".cast("array<double>"), $"b".cast("array<double>"))).as("d"))
      .as[Double].collect()
    assert(diffs.forall(_ < 1e-12))
  }

  test("native squared distance is BIT-identical to its HOF twin") {
    // stronger than the cosine tolerance check: the kmeans oracles
    // depend on the kernel swap not moving a single assignment, so
    // the fold must produce the same bits, not just close ones
    val rnd = new scala.util.Random(43)
    val rows = Seq.fill(50)((
      Array.fill(64)(rnd.nextDouble() - 0.5),
      Array.fill(64)(rnd.nextDouble() - 0.5)))
    val df = rows.toDF("a", "b")
    val pairs = df.select(
      VectorFunctions.sqDist($"a", $"b").as("native"),
      KernelContractSpec.sqDistViaHof($"a", $"b").as("hof"))
      .as[(Double, Double)].collect()
    pairs.foreach { case (n, h) => assert(n == h, s"$n != $h") }
  }

  test("cosine of identical vectors is 1, orthogonal is 0") {
    val df = Seq(
      (Array(1f, 2f, 3f), Array(1f, 2f, 3f)),
      (Array(1f, 0f), Array(0f, 1f))).toDF("a", "b")
    val got = df.select(VectorFunctions.cosine($"a", $"b")).as[Double].collect()
    assert(math.abs(got(0) - 1.0) < 1e-12 && math.abs(got(1)) < 1e-12)
  }

  test("vector kernels reject non-float arrays at ANALYSIS time, not mid-job") {
    val df = Seq((Array(1, 2, 3), Array(4, 5, 6))).toDF("a", "b")
    // an unsupported input must surface as an AnalysisException when
    // the plan is analyzed — never as an eval/codegen failure inside
    // a running job (checkInputDataTypes contract)
    val eCos = intercept[org.apache.spark.sql.AnalysisException] {
      df.select(VectorFunctions.cosine($"a", $"b")).queryExecution.analyzed
    }
    assert(eCos.getMessage.contains("array<float|double>"), eCos.getMessage)
    val eSq = intercept[org.apache.spark.sql.AnalysisException] {
      df.select(VectorFunctions.sqDist($"a", $"b")).queryExecution.analyzed
    }
    assert(eSq.getMessage.contains("array<float|double>"), eSq.getMessage)
  }

  /** Independent reference for the map-only coarse assignment: full
    * cosine per centroid, rank desc(sim) then asc(id) — the window
    * formulation NearestCells replaced, written as plain Scala. */
  private def nearestRef(v: Array[Float], cents: Seq[(Long, Array[Double])],
                         keep: Int): Seq[Long] =
    cents.map { case (id, c) =>
      val n = math.min(v.length, c.length)
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < n) {
        val x = v(i).toDouble; val y = c(i)
        dot += x * y; na += x * x; nb += y * y; i += 1
      }
      val denom = math.sqrt(na) * math.sqrt(nb)
      (if (denom == 0.0) 0.0 else dot / denom, id)
    }.sortBy { case (sim, id) => (-sim, id) }.take(keep).map(_._2)

  test("nearest_cells matches the rank-by-cosine reference, ties to the lower id") {
    val rnd = new scala.util.Random(13)
    def fvec() = Array.fill(8)(rnd.nextFloat() - 0.5f)
    val cents: Seq[(Long, Array[Double])] =
      Seq.tabulate(17)(j => (j.toLong, fvec().map(_.toDouble)))
    // exact-tie coverage: centroids 3 and 9 are identical, so every
    // vector's sims for them are bitwise equal — the lower id (3) must
    // always outrank 9
    val tied = cents.map { case (id, c) => if (id == 9L) (id, cents(3)._2) else (id, c) }
    val rows = Seq.fill(40)(fvec())
    // the FLAT kernel is pinned here (the two-level expression's
    // contract lives in NearestCellsSpec); 25 > |centroids| exercises
    // truncation
    for (keep <- Seq(1, 2, 5, 25)) {
      val got = rows.toDF("v")
        .select(graft.functions.NearestCells.nearestCellsFlat($"v", tied, keep).as("b"))
        .as[Seq[Long]].collect()
      val want = rows.map(nearestRef(_, tied, keep))
      assert(got.toSeq == want, s"keep=$keep")
      got.foreach { bs =>
        val (i3, i9) = (bs.indexOf(3L), bs.indexOf(9L))
        if (i9 >= 0) assert(i3 >= 0 && i3 < i9, s"tie must rank id 3 before 9: $bs")
      }
    }
  }

  test("nearest_cells over an empty quantizer explodes to zero rows, not a plan failure") {
    // the crossJoin+window formulation returned an empty frame on an
    // empty centroid set; the expression form must not regress that to
    // a constructor-time require failure
    val df = Seq(Array(1.0f, 2.0f), Array(3.0f, 4.0f)).toDF("v")
    val out = df.select(org.apache.spark.sql.functions.explode(
      graft.functions.NearestCells.nearestCells($"v", Seq.empty, 2)).as("b"))
    assert(out.schema("b").dataType == org.apache.spark.sql.types.LongType)
    assert(out.count() == 0)
  }

  test("nearest_cells rejects non-float vectors at ANALYSIS time") {
    val df = Seq(Array(1, 2, 3)).toDF("v")
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      df.select(graft.functions.NearestCells.nearestCells(
        $"v", Seq((0L, Array(1.0, 2.0, 3.0))), 1)).queryExecution.analyzed
    }
    assert(e.getMessage.contains("array<float|double>"), e.getMessage)
  }

  test("GroupConcatDistinct dedupes, sorts, handles substrings") {
    // the reference's contains()-based dedupe would drop "1:Beijing"
    // when "11:Beijing" is present — ours must keep both
    val df = Seq(("g", "11:Beijing"), ("g", "1:Beijing"), ("g", "11:Beijing"))
      .toDF("k", "v")
    val got = df.groupBy("k").agg(GroupConcatDistinct($"v").as("c"))
      .select("c").as[String].collect()
    assert(got.toSeq == Seq("11:Beijing,1:Beijing"))
  }

  test("shingles3 produces n-2 distinct shingles in order") {
    val got = Seq("a b c d").toDF("text")
      .select(Text.shingles3($"text"))
      .as[Seq[String]].collect().head
    assert(got == Seq("a b c", "b c d"))
    val short = Seq("a b").toDF("text")
      .select(Text.shingles3($"text"))
      .as[Seq[String]].collect().head
    assert(short.isEmpty)
  }

  test("native shingles3 equals the built-in HOF composition on fixture docs") {
    val docs = graft.Tables.documents(spark, sf)
    val both = docs.select(
      Text.shingles3($"text").as("native"),
      KernelContractSpec.shinglesViaHof(Text.tokens($"text")).as("hof"))
    val diff = both.where(not($"native" === $"hof")).count()
    assert(diff == 0L)
    // edge inputs: empty, whitespace-only, exactly 3 tokens, dup shingles
    val edge = Seq("", "   ", "x y z", "a b a b a b a b").toDF("text")
      .select(Text.shingles3($"text").as("native"),
              KernelContractSpec.shinglesViaHof(Text.tokens($"text")).as("hof"))
      .collect()
    edge.foreach(r => assert(r.getSeq[String](0) == r.getSeq[String](1), r.toString))
  }

  test("tab/newline-leading docs tokenize like space-leading ones (trim parity)") {
    // Java String.trim strips every char <= U+0020; SQL trim strips
    // spaces only. The tokenizer must not depend on either: leading
    // tab, newline, CR, or space all yield the same tokens/shingles.
    val variants = Seq("alpha beta gamma delta", " alpha beta gamma delta",
      "\talpha beta gamma delta", "\nalpha beta gamma delta",
      "\r\n alpha beta gamma delta", "alpha beta gamma delta \t\n")
    val rows = variants.toDF("text").select(
      Text.tokens($"text").as("toks"),
      Text.shingles3($"text").as("native"),
      KernelContractSpec.shinglesViaHof(Text.tokens($"text")).as("hof"))
      .collect()
    val expectToks = Seq("alpha", "beta", "gamma", "delta")
    rows.foreach { r =>
      assert(r.getSeq[String](0) == expectToks, r.toString)
      assert(r.getSeq[String](1) == Seq("alpha beta gamma", "beta gamma delta"), r.toString)
      assert(r.getSeq[String](1) == r.getSeq[String](2), r.toString)
    }
    // property: random whitespace-padded docs — native == HOF == filtered split
    val rnd = new scala.util.Random(11)
    val ws = Array(" ", "\t", "\n", "\r")
    val docs = Seq.fill(40) {
      val n = rnd.nextInt(6)
      val body = Seq.fill(n)(rnd.alphanumeric.take(1 + rnd.nextInt(5)).mkString)
        .mkString(ws(rnd.nextInt(4)))
      ws(rnd.nextInt(4)) * rnd.nextInt(3) + body + ws(rnd.nextInt(4)) * rnd.nextInt(3)
    }
    val prop = docs.toDF("text").select(
      Text.shingles3($"text").as("native"),
      KernelContractSpec.shinglesViaHof(Text.tokens($"text")).as("hof")).collect()
    prop.foreach(r => assert(r.getSeq[String](0) == r.getSeq[String](1), r.toString))
  }
}
