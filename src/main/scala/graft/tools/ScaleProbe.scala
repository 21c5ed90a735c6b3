package graft.tools

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Profile, SparkEntry, Tables}

/** Counter-based scaling check: replicates the fixtures ×N with key
  * offsets (texts and vectors perturbed per replica so near-dup
  * structure doesn't collapse into cross-replica exact duplicates),
  * runs each query once at 1× and once at N× through [[graft.Profile]]
  * and prints one markdown row per query. The verdict is the growth of
  * the summed operator output rows, log(ratio)/log(N): row counts are
  * exact on any host, where a wall-time ratio on a shared machine is
  * not. This is the local stand-in for the question "does this plan
  * scale?".
  *
  *   sbt "runMain graft.tools.ScaleProbe [N] [name,name,...]"
  *
  * N defaults to 4; the names default to every `SparkEntry.queries`
  * entry. The 1× fixtures are sf0.1, the bench's scale; replicas are
  * written to a fresh temp directory, deleted at exit. Only the result frame's plan is
  * walked: a `stream_*` row's per-batch plans run inside
  * `foreachBatch`, and a query that iterates on the driver returns a
  * local relation, so those rows show little more than their output.
  */
object ScaleProbe {

  /** Growth exponents above this are super-linear: 4^1.25 ≈ 5.7× the
    * rows for 4× the data, where linear work gives 4× and a pair join
    * over fixed blocks gives 16×. */
  val SuperLinear = 1.25

  /** log(big/base)/log(factor): 0 for fixed-size work, 1 for
    * row-linear work, 2 for all-pairs. */
  def exponent(base: Long, big: Long, factor: Int): Double =
    if (big == base) 0.0
    else math.log(big.toDouble / base) / math.log(factor.toDouble)

  def growthClass(e: Double): String =
    if (e > SuperLinear) "super-linear" else "linear"

  private val Key = 100000000L

  /** Writes every fixture table of `src` ×`factor` under `dst`. Key
    * columns are offset by `i·Key` per replica i so joins stay within a
    * replica. The dimension tables (supplier, nation, region) are
    * copied once: their keys are shared by every replica, so N copies
    * would match each fact row N times and make every join against
    * them grow as N² (q_join_broadcast, q_rollup) or N³ (q_area_top3's
    * supplier ⋈ nation ⋈ region chain). */
  def replicate(spark: SparkSession, src: String, dst: String,
                factor: Int): Unit = {
    def write(name: String, copies: Int = factor)(
        transform: (DataFrame, Int) => DataFrame): Unit = {
      val base = Tables.load(spark, src, name)
      (0 until copies).map(i => transform(base, i)).reduce(_ union _)
        .write.mode(SaveMode.ErrorIfExists).parquet(s"$dst/$name.parquet")
    }
    def offset(cols: String*)(df: DataFrame, i: Int): DataFrame =
      cols.foldLeft(df)((d, c) => d.withColumn(c, col(c) + lit(i * Key)))
    write("lineitem")(offset("l_orderkey", "l_partkey"))
    write("orders")(offset("o_orderkey", "o_custkey"))
    write("customer")(offset("c_custkey"))
    write("part")(offset("p_partkey"))
    write("events")(offset("event_id", "user_id"))
    Seq("supplier", "nation", "region").foreach(t => write(t, copies = 1)((df, _) => df))
    // Documents: suffix every 3rd token with a replica marker — a
    // BIJECTION on tokens, so intra-replica shingle overlap (and thus
    // the planted near-dup structure) is preserved exactly, while
    // every 3-gram window holds a suffixed token, so cross-replica
    // 3-gram Jaccard is 0. The earlier append-one-marker scheme left
    // cross-replica Jaccard at ~(w-2)/w ≈ 0.95: every replica pair was
    // a true near-dup and the "10×" corpus was really a clique stress
    // test, not 10× data. Suffixing every 4th token still left ~0.14
    // (the windows with no suffixed token): below every dedup
    // threshold, but MinHash banding paired each document with its N−1
    // replicas, so candidate rows grew with N² (sf0.001 ×4: 32 → 420;
    // every 3rd token: 32 → 121).
    write("documents")((df, i) =>
      offset("doc_id")(df, i).withColumn("text",
        if (i == 0) col("text")
        else array_join(
          transform(split(col("text"), " "),
            (t, p) => when(pmod(p, lit(3)) === 0, concat(t, lit(s"_r$i")))
              .otherwise(t)), " ")))
    // Embeddings: circular-shift each replica's vectors by i — shifts
    // preserve intra-replica cosines exactly (both sides rotate the
    // same way) while decorrelating cross-replica pairs (a verbatim
    // copy would give every vector N−1 exact duplicates and inflate the
    // true near-dup output ~700× at 10×). Replicas ≥ 64 ALSO negate —
    // negation preserves intra-replica cosines exactly while
    // decorrelating against the same-shift replica (cos(−a, b) =
    // −cos(a, b)), giving 128 distinct isometries so a ×100 build
    // never re-issues a verbatim copy.
    write("embeddings")((df, i) => {
      val s = i % 64
      val shifted =
        if (s == 0) col("embedding")
        else concat(slice(col("embedding"), s + 1, 64 - s),
                    slice(col("embedding"), 1, s))
      val moved = if (i < 64) shifted else transform(shifted, x => -x)
      offset("vec_id")(df, i)
        .withColumn("embedding", if (i == 0) col("embedding") else moved)
    })
  }

  /** One markdown row: the query's 1× and N× counters and its class. */
  private def row(name: String, factor: Int,
                  base: Profile.Result, big: Profile.Result): String = {
    val e = exponent(base.totalRows, big.totalRows, factor)
    Seq(name, s"${base.rows} -> ${big.rows}",
      s"${base.totalRows} -> ${big.totalRows}",
      s"${big.largest.name} ${big.largest.rows}",
      s"${base.shuffleBytes} -> ${big.shuffleBytes}",
      s"${base.exchanges} -> ${big.exchanges}",
      f"$e%.2f", growthClass(e)).mkString("| ", " | ", " |")
  }

  def main(args: Array[String]): Unit = {
    val factor = args.headOption.map(_.toInt).getOrElse(4)
    require(factor >= 2, s"replication factor must be at least 2, got $factor")
    val names = args.lift(1).map(_.split(',').toSeq)
      .getOrElse(SparkEntry.queries.keys.toSeq.sorted)
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown query names: ${unknown.mkString(", ")}")
    val src = "/root/testdata/sf0.1"
    val dst = java.nio.file.Files.createTempDirectory(s"graft-scale-x$factor")
      .toFile
    sys.addShutdownHook(org.apache.commons.io.FileUtils.deleteQuietly(dst))
    val spark = graft.LocalSession()
    try {
      replicate(spark, src, dst.getPath, factor)
      // plain ASCII: the table is read off stdout, whatever its charset
      println(s"| query | result rows | operator rows | largest operator at ${factor}x " +
        s"| shuffle bytes | exchanges | exponent | class (> $SuperLinear: super-linear) |")
      println("|---|---|---|---|---|---|---|---|")
      names.foreach { name =>
        def profile(dir: String): Profile.Result =
          try Profile.run(SparkEntry.queries(name)(spark, dir))
          // a query's own cached frames are released after its run
          finally spark.catalog.clearCache()
        val line =
          try row(name, factor, profile(src), profile(dst.getPath))
          catch { case e: Throwable =>
            s"| $name | error: ${e.getClass.getSimpleName}: " +
              String.valueOf(e.getMessage).linesIterator.nextOption().getOrElse("")
                .take(160).replace("|", "\\|") + " |"
          }
        println(line)
      }
    } finally spark.stop()
  }
}
