package graft

import org.apache.spark.sql.{Column, Row}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.StructType
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.functions._
import graft.plans.SelfCosine

/** The kernel contract, one table row per custom Catalyst expression.
  * Each kernel runs compiled (`spark.sql.codegen.factoryMode` =
  * CODEGEN_ONLY, whole-stage codegen on, no fallback) and interpreted
  * (NO_CODEGEN, whole-stage codegen off) over ScalaCheck-generated
  * inputs (non-ASCII text, long inputs) plus hand-picked edges (null
  * inputs, null elements, empty arrays), and must equal its reference
  * row for row in both modes. The reference is the kernel's
  * builtin-composition twin (the `*ViaHof` functions in the companion,
  * which only tests use) or a plain-Scala reference; either spells out
  * the null rules. Compiled, each kernel must also sit inside a
  * whole-stage codegen stage.
  */
class KernelContractSpec extends SparkSpec {
  import KernelContractSpec._

  /** One row of the table: the expression class, the input schema, the
    * inputs, the kernel over the input columns, and its reference —
    * a twin Column (Left) or a plain-Scala function of the input row
    * (Right). */
  private case class Contract(kernel: Class[_], schema: String, rows: Seq[Row],
                              expr: Seq[Column] => Column,
                              ref: Either[Seq[Column] => Column, Row => Any])

  private def sample[T](g: Gen[T], n: Int, seed: Long): Seq[T] =
    Gen.listOfN(n, g).pureApply(Gen.Parameters.default.withSize(n), Seed(seed))

  private val words = Seq("the", "a", "and", "of", "to", "x", "zz", "W0rd",
    "!!!", "123", "Ünïcode", "emoji🙂", "mixé", "𝕏y", "𝔘𝔫𝔦")
  private val word = Gen.oneOf(words)
  /** Mostly short, now and then long (hundreds of elements). */
  private val length = Gen.frequency(8 -> Gen.choose(0, 30), 1 -> Gen.choose(300, 600))
  private val text: Gen[String] = for {
    n <- length
    ws <- Gen.listOfN(n, Gen.zip(word, Gen.oneOf(" ", "  ", "\t", "\n", " \r\n")))
    lead <- Gen.oneOf("", " ", "\t")
  } yield lead + ws.map { case (w, s) => w + s }.mkString
  private val tokens: Gen[Seq[String]] =
    length.flatMap(n => Gen.listOfN(n, Gen.frequency(9 -> word, 1 -> Gen.const(""))))
  private def fvec(d: Int): Gen[Seq[Float]] = Gen.listOfN(d, Gen.choose(-1.0f, 1.0f))
  private def dvec(d: Int): Gen[Seq[Double]] = Gen.listOfN(d, Gen.choose(-1.0, 1.0))
  private val dim = Gen.frequency(8 -> Gen.choose(1, 16), 1 -> Gen.const(1024))
  /** Two vectors of a dim, the second now and then a little shorter or longer. */
  private val vecPair: Gen[Row] = for {
    d <- dim
    d2 <- Gen.frequency(6 -> Gen.const(d), 1 -> Gen.const(math.max(0, d - 1)), 1 -> Gen.const(d + 3))
    a <- fvec(d); b <- dvec(d2)
  } yield Row(a, b)
  private val vecEdges = Seq(Row(null, Seq(1.0)), Row(Seq(1f), null), Row(Seq(), Seq()),
    Row(Seq(0f, 0f), Seq(0.0, 0.0)), Row(Seq(1f, null, 3f), Seq(1.0, 5.0, 3.0)),
    Row(Seq(null), Seq(null)), Row(Seq(2f, 1f, 7f), Seq(2.0, 1.0)))
  private val textEdges = Seq(Row(null), Row(""), Row("   "), Row("\t\n"), Row("a"),
    Row("the the the"), Row("the a and of to"), Row("Ünïcode emoji🙂 mixé"),
    Row("x y z w v u t s r q"), Row("𝔘𝔫𝔦 𝔠𝔬𝔡𝔢 supplementary 𝕏"), Row("tab\tsep  and   runs"),
    Row("123 456 789"), Row("a. b! c?"))
  private val tokenEdges = Seq(Row(null), Row(Seq()), Row(Seq(null)),
    Row(Seq("a", null, "b")), Row(Seq("", "")), Row(Seq("alpha", "beta", "gamma")),
    Row(Seq("a", "b", "c", "d", "e", "f", "g")), Row(Seq("one")))
  private val oneVec: Gen[Row] =
    Gen.frequency(8 -> Gen.const(8), 1 -> Gen.const(3), 1 -> Gen.const(100)).flatMap(fvec).map(Row(_))
  private val oneVecEdges = Seq(Row(null), Row(Seq()), Row(Seq.fill(8)(0f)),
    Row(Seq(0.5f, null, -0.25f, 1f, null, 0f, 0.75f, -1f)), Row(Seq(1f, -1f, 0.5f)))

  private val rnd = new scala.util.Random(11)
  private def model(n: Int, d: Int): Seq[(Long, Array[Double])] =
    Seq.tabulate(n)(j => (j.toLong, Array.fill(d)(rnd.nextDouble() - 0.5)))
  /** Centroids 3 and 9 are identical: every similarity to them ties. */
  private val cents = { val c = model(12, 8); c.updated(9, (9L, c(3)._2)) }
  private val cents2 = model(20, 8)
  /** Codeword 13 duplicates codeword 4: every subspace distance ties. */
  private val codebook = { val c = model(16, 8); c.updated(13, (13L, c(4)._2)) }
  private val bloomWords = words.take(8)
  private val bloom = {
    val b = org.apache.spark.util.sketch.BloomFilter.create(100, 0.01)
    bloomWords.foreach(b.putString); b
  }

  private def nullIfAny(r: Row)(f: => Any): Any =
    if ((0 until r.length).exists(r.isNullAt)) null else f

  private val contracts: Seq[Contract] = Seq(
    Contract(classOf[CosineSimilarity], "a array<float>, b array<double>",
      vecEdges ++ sample(vecPair, 60, 1), c => VectorFunctions.cosine(c(0), c(1)),
      Right(r => nullIfAny(r)(cosine(vec(r, 0), vec(r, 1))))),
    Contract(classOf[SquaredDistance], "a array<float>, b array<double>",
      vecEdges ++ sample(vecPair, 60, 2), c => VectorFunctions.sqDist(c(0), c(1)),
      Right(r => nullIfAny(r)(sqDist(vec(r, 0), vec(r, 1))))),
    Contract(classOf[NearestCells], "v array<float>",
      oneVecEdges ++ sample(oneVec, 60, 3), c => NearestCells.nearestCellsFlat(c(0), cents, 3),
      Right(r => nullIfAny(r)(nearest(vec(r, 0), cents, 3)))),
    Contract(classOf[NearestCellsTwoLevel], "v array<float>",
      oneVecEdges ++ sample(oneVec, 60, 4), c => NearestCells.nearestCellsTwoLevel(c(0), cents2, 2, 2),
      Right(r => nullIfAny(r)(twoLevel(vec(r, 0), cents2, 2, 2)))),
    Contract(classOf[PqRecon], "v array<float>",
      oneVecEdges ++ sample(oneVec, 60, 5), c => PqRecon.pqRecon(c(0), codebook, 4),
      Right(r => nullIfAny(r)(pq(vec(r, 0), codebook, 4).flatMap(_._2).toSeq))),
    Contract(classOf[PqCodes], "v array<float>",
      oneVecEdges ++ sample(oneVec, 60, 6), c => PqRecon.pqCodes(c(0), codebook, 4),
      Right(r => nullIfAny(r)(pq(vec(r, 0), codebook, 4).map(_._1).toSeq))),
    Contract(classOf[ClassifierMeanW], "toks array<string>",
      tokenEdges ++ sample(tokens.map(Row(_)), 60, 7),
      c => ClassifierMeanWKernel.classifierMeanW(c(0), None),
      Right(r => nullIfAny(r)(classifierMean(r.getSeq[String](0))))),
    Contract(classOf[ShinglesW], "text string",
      textEdges ++ sample(text.map(Row(_)), 60, 8), c => Text.shingles3(c(0)),
      Left(c => when(c(0).isNotNull, shinglesViaHof(Text.tokens(c(0)))))),
    Contract(classOf[SimHash64], "toks array<string>",
      tokenEdges ++ sample(tokens.map(Row(_)), 60, 9), c => SimHash.simhash64(c(0)),
      Right(r => nullIfAny(r)(simhash(r.getSeq[String](0))))),
    Contract(classOf[MultisetOverlapExpr], "p array<string>, r array<string>",
      tokenEdges.zip(tokenEdges.reverse).map { case (p, r) => Row(p(0), r(0)) } ++
        sample(Gen.zip(tokens, tokens).map { case (p, r) => Row(p, r) }, 60, 10),
      c => MultisetOverlap.multisetOverlap(c(0), c(1)),
      Right(r => nullIfAny(r)(overlap(r.getSeq[String](0), r.getSeq[String](1))))),
    Contract(classOf[QualityScoreExpr], "text string",
      textEdges ++ sample(text.map(Row(_)), 60, 11), c => QualityScore(c(0)),
      Left(c => when(c(0).isNotNull, when(size(Text.tokens(c(0))) === 0, lit(Double.NaN))
        .otherwise(qualityScoreViaHof(c(0)))))),
    Contract(classOf[GopherSignalsExpr], "text string",
      textEdges ++ sample(text.map(Row(_)), 120, 12), c => GopherSignals(c(0)),
      Left(c => when(c(0).isNotNull, gopherSignalsViaHof(c(0))))),
    Contract(classOf[MinHash8], "sh array<string>",
      tokenEdges ++ sample(tokens.map(Row(_)), 60, 13), c => MinHashes.minhash8(c(0)),
      // no non-null shingle, no signature
      Left(c => when(size(filter(c(0), _.isNotNull)) > 0,
        array((0 until MinHashes.Seeds).map(j => Text.minhash(c(0), j)): _*)))),
    Contract(classOf[RemoveIntervalsExpr], "toks array<string>, ivs array<struct<s:int,e:int>>",
      intervalEdges ++ sample(intervalCase, 300, 14),
      c => RemoveIntervals.removeIntervals(c(0), c(1)),
      Left(c => removeIntervalsViaHof(c(0), c(1)))),
    Contract(classOf[BloomMightContain], "s string",
      textEdges ++ bloomWords.map(Row(_)) ++ sample(word.map(Row(_)), 60, 15),
      c => Bloom.mightContain(bloom, c(0)),
      Right(r => nullIfAny(r)(bloom.mightContainString(r.getString(0))))),
    // the optimizer's rewrite of cosine_similarity(x, x): exactly 1.0
    // unless every element is zero (or null)
    Contract(classOf[SelfCosine], "v array<float>",
      oneVecEdges ++ sample(oneVec, 60, 16),
      c => ColumnBridge.column(SelfCosine(ColumnBridge.expression(c(0)))),
      Right(r => nullIfAny(r)(if (vec(r, 0).exists(_ != 0.0)) 1.0 else 0.0))))

  private val modes = Seq(
    Map("spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY",
      "spark.sql.codegen.wholeStage" -> "true", "spark.sql.codegen.fallback" -> "false"),
    Map("spark.sql.codegen.factoryMode" -> "NO_CODEGEN",
      "spark.sql.codegen.wholeStage" -> "false"))

  private def withConf[T](conf: Map[String, String])(body: => T): T = {
    val saved = conf.keys.map(k => k -> spark.conf.getOption(k))
    conf.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally saved.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  test("a null vector element reads as 0.0 from a parquet column vector too") {
    // a column vector keeps the previous batch's bytes in a null slot:
    // one-row batches put [1, 2, 3] and then [null, null, 3] in the
    // same three element slots
    val dir = java.nio.file.Files.createTempDirectory("graft-null-elem").toFile
    try {
      spark.createDataFrame(spark.sparkContext.parallelize(
          Seq(Row(Seq(1f, 2f, 3f)), Row(Seq(null, null, 3f))), 1),
          StructType.fromDDL("v array<float>"))
        .write.mode("overwrite").parquet(dir.getPath)
      val ones = typedLit(Seq(1.0, 1.0, 1.0))
      modes.foreach { conf =>
        withConf(conf + ("spark.sql.parquet.columnarReaderBatchSize" -> "1")) {
          val got = spark.read.parquet(dir.getPath)
            .select(VectorFunctions.cosine(col("v"), ones)).collect().map(_.getDouble(0))
          assert(got.toSeq == Seq(cosine(Array(1, 2, 3), Array(1, 1, 1)),
            cosine(Array(0, 0, 3), Array(1, 1, 1))), conf)
        }
      }
    } finally org.apache.commons.io.FileUtils.deleteQuietly(dir)
  }

  contracts.foreach { c =>
    test(s"${c.kernel.getSimpleName} equals its reference, compiled and interpreted") {
      val df = spark.createDataFrame(spark.sparkContext.parallelize(c.rows, 2),
        StructType.fromDDL(c.schema))
      val args = df.columns.toSeq.map(col)
      val kernel = c.expr(args)
      assert(ColumnBridge.expression(kernel).exists(c.kernel.isInstance),
        s"the table row does not build ${c.kernel.getName}")
      assert(!classOf[CodegenFallback].isAssignableFrom(c.kernel),
        s"${c.kernel.getName} fell back to interpreted code generation")
      modes.foreach { conf =>
        withConf(conf) {
          val mode = conf("spark.sql.codegen.factoryMode")
          val out = c.ref match {
            case Left(twin) =>
              df.select(kernel, twin(args)).collect().toSeq.map(r => (r.get(0), r.get(1)))
            case Right(f) =>
              df.select(kernel).collect().toSeq.map(_.get(0)).zip(c.rows.map(f))
          }
          assert(out.size == c.rows.size)
          val bad = c.rows.zip(out).filterNot { case (_, (k, ref)) => same(k, ref) }
          assert(bad.isEmpty, s"$mode: ${bad.size} of ${c.rows.size} rows diverge, " +
            s"first (input, (kernel, reference)): ${bad.take(3).mkString("; ")}")
          if (mode == "CODEGEN_ONLY") {
            val plan = df.select(kernel).queryExecution.executedPlan
            val staged = plan.collect { case w: WholeStageCodegenExec => w }
              .exists(_.exists(_.expressions.exists(_.exists(c.kernel.isInstance))))
            assert(staged, s"${c.kernel.getSimpleName} is outside whole-stage codegen:\n$plan")
          }
        }
      }
    }
  }
}

object KernelContractSpec {

  /** Deep equality of collected values, NaN equal to NaN. */
  def same(a: Any, b: Any): Boolean = (a, b) match {
    case (x: Double, y: Double) => x == y || (x.isNaN && y.isNaN)
    case (x: scala.collection.Seq[_], y: scala.collection.Seq[_]) =>
      x.size == y.size && x.zip(y).forall { case (p, q) => same(p, q) }
    case (x: Row, y: Row) => same(x.toSeq, y.toSeq)
    case _ => a == b
  }

  // -------------------------------------------------------------------
  // Builtin-composition twins: each kernel spelled without custom code
  // -------------------------------------------------------------------

  /** Twin of [[CosineSimilarity]] on equal-length vectors. */
  def cosineViaHof(a: Column, b: Column): Column = {
    val dot = aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, v) => acc + v)
    val na = aggregate(a, lit(0.0), (acc, v) => acc + v * v)
    val nb = aggregate(b, lit(0.0), (acc, v) => acc + v * v)
    dot / (sqrt(na) * sqrt(nb))
  }

  /** Twin of [[SquaredDistance]] on equal-length vectors. */
  def sqDistViaHof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)), lit(0.0), (acc, d) => acc + d)

  /** Twin of [[Text.shingles3]] over a token array. */
  def shinglesViaHof(toks: Column): Column =
    array_distinct(
      when(size(toks) >= 3,
        transform(sequence(lit(1), size(toks) - 2),
          i => concat_ws(" ", slice(toks, i, lit(3)))))
        .otherwise(array().cast("array<string>")))

  /** Twin of [[QualityScore]] (unrounded; divides by the token count,
    * so it needs at least one token). */
  def qualityScoreViaHof(text: Column): Column = {
    val toks = Text.tokens(text)
    val nTok = size(toks)
    val stopRatio =
      size(filter(toks, t => t.isin(QualityScore.StopwordList: _*))).cast("double") / nTok
    val diversity = size(array_distinct(toks)).cast("double") / nTok
    val lengthScore = least(nTok.cast("double") / 100.0, lit(1.0))
    lit(0.4) * lengthScore + lit(0.3) * diversity + lit(0.3) * stopRatio
  }

  /** Twin of [[GopherSignals]]: the counter spellings
    * `TextAnalysis.qTextGopherRules` used through r14, in the kernel's
    * struct layout. */
  def gopherSignalsViaHof(text: Column): Column = {
    val tk = Text.tokens(text)
    struct(
      size(tk).as("n"),
      aggregate(transform(tk, t => length(t)), lit(0), (acc, x) => acc + x).as("len_sum"),
      size(filter(tk, t => t.rlike("[A-Za-z]"))).as("n_alpha"),
      size(filter(tk, t => t.isin(QualityScore.StopwordList: _*))).as("stop_cnt"),
      array_max(transform(array_distinct(tk),
        d => size(filter(tk, x => x === d)))).as("top_cnt"))
  }

  /** Twin of `TextAnalysis.classifierProb` (the [[ClassifierMeanW]]
    * stand-in weights under the logistic link), over a text column. */
  def classifierProbViaHof(text: Column): Column = {
    // md5 hex → BIGINT via conv(,16,10); DuckDB: CAST('0x'||hex AS BIGINT)
    val tokenWeight = (t: Column) =>
      (conv(substring(md5(t), 1, 6), 16, 10).cast("long") % 2001L - 1000L)
        .cast("double") / 1000.0
    val toks = Text.tokens(text)
    val meanW = aggregate(transform(toks, tokenWeight), lit(0.0),
      (acc, w) => acc + w) / size(toks)
    lit(1.0) / (lit(1.0) + exp(lit(-4.0) * meanW))
  }

  /** Twin of [[RemoveIntervals]]: the filter×exists spelling
    * `Dedup.verbatimRewrite` used through r14. */
  def removeIntervalsViaHof(toks: Column, ivs: Column): Column =
    filter(toks, (t, i) => !exists(ivs, iv => (i + 1) >= iv("s") && (i + 1) <= iv("e")))

  /** Twin of [[MultisetOverlap]] — Σ_t min(count_p(t), count_r(t)) in
    * O(L log L) element ops per row: tag each token with its source,
    * `array_sort` the combined struct array (orders by token, sources
    * adjacent within a run), then ONE `aggregate` pass walks the sorted
    * runs keeping per-run (count_p, count_r) and flushing min(cp, cr)
    * at each run boundary. The fold state starts with cp+cr = 0 — true
    * ONLY before the first element (every step increments one
    * counter), so the "fresh run" test needs no sentinel token and the
    * empty string is an ordinary token. */
  def multisetOverlapViaHof(p: Column, r: Column): Column = {
    val tagged = array_sort(concat(
      transform(p, t => struct(t.as("tok"), lit(1).as("src"))),
      transform(r, t => struct(t.as("tok"), lit(2).as("src")))))
    val init = struct(lit("").as("prev"), lit(0).as("cp"),
      lit(0).as("cr"), lit(0).as("acc"))
    val folded = aggregate(tagged, init, (s, e) => {
      val fresh = (s("cp") + s("cr") === 0) || (e("tok") =!= s("prev"))
      val dp = when(e("src") === 1, lit(1)).otherwise(lit(0))
      val dr = when(e("src") === 2, lit(1)).otherwise(lit(0))
      struct(
        e("tok").as("prev"),
        when(fresh, dp).otherwise(s("cp") + dp).as("cp"),
        when(fresh, dr).otherwise(s("cr") + dr).as("cr"),
        when(fresh, s("acc") + least(s("cp"), s("cr")))
          .otherwise(s("acc")).as("acc"))
    })
    folded("acc") + least(folded("cp"), folded("cr"))
  }

  // -------------------------------------------------------------------
  // Plain-Scala references
  // -------------------------------------------------------------------

  /** A float-or-double vector cell as doubles, a null element as 0.0. */
  def vec(r: Row, i: Int): Array[Double] =
    r.getSeq[Any](i).map {
      case null => 0.0
      case x: Float => x.toDouble
      case x: Double => x
    }.toArray

  /** Cosine over the common prefix, 0.0 on a zero denominator. */
  def cosine(a: Array[Double], b: Array[Double]): Double = {
    val n = math.min(a.length, b.length)
    var dot = 0.0; var na = 0.0; var nb = 0.0
    for (i <- 0 until n) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i) }
    val denom = math.sqrt(na) * math.sqrt(nb)
    if (denom == 0.0) 0.0 else dot / denom
  }

  def sqDist(a: Array[Double], b: Array[Double]): Double =
    a.zip(b).foldLeft(0.0) { case (acc, (x, y)) => acc + (x - y) * (x - y) }

  /** Rank by cosine, descending, ties to the lower id. */
  def nearest(v: Array[Double], cents: Seq[(Long, Array[Double])], keep: Int): Seq[Long] =
    cents.map { case (id, c) => (cosine(v, c), id) }
      .sortBy { case (sim, id) => (-sim, id) }.take(keep).map(_._2)

  /** The two-level semantics: the first ⌈√c⌉ centroids are supers,
    * each centroid joins its nearest super (ties to the lower index), a
    * vector probes its pSuper nearest supers (ties to the lower index)
    * and ranks only their members. */
  def twoLevel(v: Array[Double], cents: Seq[(Long, Array[Double])],
               keep: Int, pSuper: Int): Seq[Long] = {
    val sorted = cents.sortBy(_._1).toIndexedSeq
    val supers = sorted.take(math.ceil(math.sqrt(sorted.size.toDouble)).toInt).map(_._2)
    def ranked(x: Array[Double]) = supers.zipWithIndex
      .map { case (s, si) => (cosine(x, s), si) }.sortBy { case (sim, si) => (-sim, si) }
    val probed = ranked(v).take(pSuper).map(_._2).toSet
    nearest(v, sorted.filter { case (_, c) => probed(ranked(c).head._2) }, keep)
  }

  /** Per subspace, (position, codeword slice) of the codeword nearest
    * in squared L2 over the slice's overlap with `v`, ties to the lower
    * codebook id. */
  def pq(v: Array[Double], codebook: Seq[(Long, Array[Double])],
         numSub: Int): Seq[(Int, Seq[Double])] = {
    val sorted = codebook.sortBy(_._1).map(_._2).toIndexedSeq
    val dSub = sorted.head.length / numSub
    (0 until numSub).map { m =>
      val base = m * dSub
      val slice = v.slice(base, base + dSub)
      val j = sorted.indices.minBy(j => (sqDist(slice, sorted(j).slice(base, base + dSub)), j))
      (j, sorted(j).slice(base, base + dSub).toSeq)
    }
  }

  private def md5Bytes(s: String): Array[Byte] =
    java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))

  /** Mean stand-in weight: a null token weighs 0.0 but still counts. */
  def classifierMean(toks: Seq[String]): Double =
    toks.foldLeft(0.0) { (acc, t) =>
      if (t == null) acc
      else {
        val d = md5Bytes(t)
        val v = ((d(0) & 0xff) << 16) | ((d(1) & 0xff) << 8) | (d(2) & 0xff)
        acc + (v % 2001 - 1000) / 1000.0
      }
    } / toks.size

  /** SimHash64, written independently of the kernel's loops; null
    * tokens do not vote. */
  def simhash(tokens: Seq[String]): String = {
    val votes = Array.fill(64)(0)
    tokens.filter(_ != null).foreach { t =>
      val d = md5Bytes(t)
      for (bit <- 0 until 64)
        votes(bit) += (if (((d(bit / 8) >> (7 - bit % 8)) & 1) == 1) 1 else -1)
    }
    (0 until 16).map { p =>
      "0123456789abcdef"((0 until 4).map(k => if (votes(p * 4 + k) > 0) 8 >> k else 0).sum)
    }.mkString
  }

  /** Σ_t min(count_p(t), count_r(t)), null tokens ignored. */
  def overlap(p: Seq[String], r: Seq[String]): Int = {
    val cr = r.filter(_ != null).groupBy(identity).view.mapValues(_.size).toMap
    p.filter(_ != null).groupBy(identity).view.mapValues(_.size)
      .map { case (t, n) => math.min(n, cr.getOrElse(t, 0)) }.sum
  }

  private def iv(s: Integer, e: Integer) = Row(s, e)

  /** Token arrays with random interval lists: overlapping, adjacent,
    * out of range, unsorted; now and then a long array. */
  val intervalCase: Gen[Row] = for {
    n <- Gen.frequency(9 -> Gen.choose(0, 39), 1 -> Gen.const(500))
    toks <- Gen.listOfN(n, Gen.frequency(9 -> Gen.choose(0, 9).map(i => s"t$i"),
      1 -> Gen.const("Ünï🙂")))
    m <- Gen.choose(0, 5)
    ivs <- Gen.listOfN(m, for {
      s <- Gen.choose(1, n + 4); len <- Gen.choose(0, 7)
    } yield iv(s, s + len))
  } yield Row(toks, ivs)

  val intervalEdges: Seq[Row] = Seq(
    Row(Seq(), Seq()), Row(Seq("a", "b"), Seq()), Row(Seq(), Seq(iv(1, 5))),
    Row(Seq("a", "b", "c"), Seq(iv(1, 3))),                   // removes everything
    Row(Seq("a", "b", "c", "d"), Seq(iv(1, 2), iv(3, 4))),    // adjacent merge
    Row(Seq("a", "b", "c", "d"), Seq(iv(2, 3), iv(1, 2))),    // unsorted overlap
    Row(Seq("a"), Seq(iv(5, 9))),                             // fully out of range
    Row(null, Seq(iv(1, 2))),                                 // null token array
    Row(Seq("a", "b"), null),                                 // null interval list
    Row(Seq(), null),
    Row(Seq("a", "b", "c"), Seq(null)),                       // null interval
    Row(Seq("a", "b", "c", "d"), Seq(iv(null, 2))),           // null start
    Row(Seq("a", "b", "c", "d"), Seq(iv(3, null), iv(1, 1))), // null end
    Row(Seq("a", null, "c"), Seq(iv(3, 3))),                  // null token survives
    Row(Seq(null, "b"), Seq(iv(1, 1))),                       // null token removed
    Row(Seq("a", "b", "c", "d"), Seq(iv(3, 1), iv(2, 2))),    // reversed: covers nothing
    Row(Seq("a", "b", "c"), Seq(iv(2, Int.MaxValue), iv(1, 1))))
}
