package perfbench

import java.util.SplittableRandom
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded input generators. Every workload's inputs are a pure function
  * of `--seed`: plain Scala draws from one SplittableRandom per table,
  * so the same seed gives byte-identical tables whatever Spark does.
  * Only the columns the measured queries read are generated. */
object Gen {

  /** Zipf(s) over `n` ranks, sampled by inverse CDF. */
  final class Zipf(n: Int, s: Double) {
    private val cdf: Array[Double] = {
      val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1, s))
      val out = w.scanLeft(0.0)(_ + _).tail
      out.map(_ / out.last)
    }
    def sample(r: SplittableRandom): Int = {
      val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
      math.min(n - 1, if (i >= 0) i else -i - 1)
    }
  }

  private def rng(seed: Long, table: String) =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L ^ table.hashCode.toLong)

  /** A random permutation, so popularity rank is not key order. */
  private def perm(n: Int, r: SplittableRandom): Array[Int] = {
    val a = Array.range(0, n)
    var i = n - 1
    while (i > 0) { val j = r.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t; i -= 1 }
    a
  }

  private def write(spark: SparkSession, dir: String, name: String,
                    schema: StructType, rows: Seq[Row]): Unit = {
    // one file per core, so a scan runs as many tasks as local[4] has slots
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 4), schema)
      .write.parquet(s"$dir/$name.parquet")
  }

  // ------------------------------------------------------------------
  // corpus_curation: documents + embeddings

  final case class Doc(id: Long, text: String, lang: String, source: String,
                       boilerplate: Option[(Int, Int)])

  final case class Corpus(docs: Array[Doc], nearDupPairs: Set[(Long, Long)],
                          vectors: Array[Array[Float]], nearVecPairs: Set[(Long, Long)])

  private val Vocab = ("key agg row scan slow fast table value part hash merge batch " +
    "spark a the line sort window order data column join small customer query " +
    "big stream group filter vector of to in is and for").split(" ")

  private val Boilerplate =
    "subscribe to our newsletter for weekly updates on every new release of the platform"
      .split(" ")

  private val Langs = Array("en", "en", "en", "zh", "es", "de", "fr")

  /** Documents over a small Zipf vocabulary. A share are near-duplicates
    * of an earlier document (one or two tokens substituted), a smaller
    * share exact copies, and some carry one verbatim boilerplate
    * sentence at a random position. Embeddings are 64-d Gaussian
    * vectors; a share are near neighbours (small perturbation) of an
    * earlier vector. Planted pairs are returned for recall. */
  def corpus(seed: Long, nDocs: Int, nVecs: Int): Corpus = {
    val r = rng(seed, "documents")
    val zv = new Zipf(Vocab.length, 0.8)
    val toks = new Array[Array[String]](nDocs)
    val docs = new Array[Doc](nDocs)
    val near = Set.newBuilder[(Long, Long)]
    var i = 0
    while (i < nDocs) {
      val p = r.nextDouble()
      var bp: Option[(Int, Int)] = None
      val t: Array[String] =
        if (i > 20 && p < 0.10) {
          val j = r.nextInt(i)
          near += ((j.toLong, i.toLong))
          val c = toks(j).clone()
          (0 until 1 + r.nextInt(2)).foreach(_ => c(r.nextInt(c.length)) = Vocab(zv.sample(r)))
          c
        } else if (i > 20 && p < 0.13) toks(r.nextInt(i)).clone()
        else {
          val body = Array.fill(25 + r.nextInt(70))(Vocab(zv.sample(r)))
          if (r.nextDouble() < 0.15) {
            val at = r.nextInt(body.length + 1)
            bp = Some((at + 1, at + Boilerplate.length))
            body.take(at) ++ Boilerplate ++ body.drop(at)
          } else body
        }
      toks(i) = t
      docs(i) = Doc(i.toLong, t.mkString(" "), Langs(r.nextInt(Langs.length)),
        s"src${i % 20}", bp)
      i += 1
    }
    val rv = rng(seed, "embeddings")
    val vecs = new Array[Array[Float]](nVecs)
    val nearV = Set.newBuilder[(Long, Long)]
    i = 0
    while (i < nVecs) {
      vecs(i) =
        if (i > 10 && rv.nextDouble() < 0.08) {
          val j = rv.nextInt(i)
          nearV += ((j.toLong, i.toLong))
          vecs(j).map(x => (x + 0.02 * gaussian(rv)).toFloat)
        } else Array.fill(64)(gaussian(rv).toFloat)
      i += 1
    }
    Corpus(docs, near.result(), vecs, nearV.result())
  }

  private def gaussian(r: SplittableRandom): Double = {
    // Box–Muller; SplittableRandom has no nextGaussian
    val u = 1.0 - r.nextDouble()
    math.sqrt(-2 * math.log(u)) * math.cos(2 * math.Pi * r.nextDouble())
  }

  def writeCorpus(spark: SparkSession, dir: String, c: Corpus): Unit = {
    write(spark, dir, "documents", StructType(Seq(
        StructField("doc_id", LongType), StructField("text", StringType),
        StructField("lang", StringType), StructField("source", StringType),
        StructField("n_chars", LongType))),
      c.docs.toSeq.map(d => Row(d.id, d.text, d.lang, d.source, d.text.length.toLong)))
    write(spark, dir, "embeddings", StructType(Seq(
        StructField("vec_id", LongType),
        StructField("embedding", ArrayType(FloatType, containsNull = false)),
        StructField("label", IntegerType))),
      c.vectors.indices.map(i => Row(i.toLong, c.vectors(i).toSeq, i % 10)))
  }

  // ------------------------------------------------------------------
  // adclick_stream: reference-format lines, one array per micro-batch

  final case class Click(batch: Int, tsMs: Long, province: String, city: String,
                         user: Long, ad: Long) {
    def line: String = s"$tsMs $province $city $user $ad"
  }

  /** Simulated time each micro-batch spans: one slide of the trend's
    * windows, so that as the watermark follows the batches every batch
    * closes and evicts a window. */
  private val BatchSpanMs = 30 * 60000L

  /** Fixed-size micro-batches of clicks at BatchSpanMs of simulated
    * time each, starting 2024-03-01 08:00 UTC so that every event of
    * up to 30 batches falls on one date. Ads are Zipf-popular. Four
    * heavy clickers start hammering one ad each at staggered batches of
    * the first half and cross the blacklist threshold in the second
    * half. About 3 % of events are out of order by up to 1 h (inside the
    * 2 h watermark) and about 0.5 % (from the second batch on) lag by
    * 3 h 40 min – 4 h 20 min, far enough behind their batch's start that
    * every window they fall in has closed, so Spark drops them. */
  def clicks(seed: Long, nBatches: Int, perBatch: Int, threshold: Int): Array[Array[Click]] = {
    val r = rng(seed, "clicks")
    val nAds = 200; val nUsers = 20000; val nHeavy = 4
    val za = new Zipf(nAds, 1.0)
    val ads = perm(nAds, r)
    val t0 = 1709280000000L // 2024-03-01 08:00 UTC
    val heavyAd = Array.fill(nHeavy)(ads(r.nextInt(20)).toLong)
    val half = math.max(1, nBatches / 2)
    val heavyFrom = Array.tabulate(nHeavy)(h => h * half / nHeavy)
    val heavyPerBatch = math.max(1, (threshold + half - 1) / half)
    Array.tabulate(nBatches) { b =>
      val bt = t0 + b * BatchSpanMs
      val out = new Array[Click](perBatch)
      var k = 0
      (0 until nHeavy).foreach { h =>
        if (b >= heavyFrom(h))
          (0 until heavyPerBatch).foreach { _ =>
            if (k < perBatch) {
              val prov = h % 10
              out(k) = Click(b, bt + r.nextLong(BatchSpanMs), s"P$prov", s"C$prov-${h % 3}",
                nUsers + h.toLong, heavyAd(h))
              k += 1
            }
          }
      }
      while (k < perBatch) {
        val p = r.nextDouble()
        val lag =
          if (p < 0.03) (r.nextDouble() * 3600000).toLong
          else if (p < 0.035 && b >= 1) 13200000L + (r.nextDouble() * 2400000).toLong
          else 0L
        val prov = r.nextInt(10)
        out(k) = Click(b, bt + r.nextLong(BatchSpanMs) - lag, s"P$prov", s"C$prov-${r.nextInt(3)}",
          r.nextInt(nUsers).toLong, ads(za.sample(r)).toLong)
        k += 1
      }
      out
    }
  }
}
