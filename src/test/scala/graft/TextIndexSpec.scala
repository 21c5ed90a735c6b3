package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import java.util.concurrent.atomic.AtomicInteger
import graft.operators.TextAnalysis

/** The persisted BM25 posting-index contract (the IVF-index spec for
  * text): build once, then a query batch reads only the file buckets
  * holding its terms — never the corpus, never a rebuild. The
  * text_bm25_indexed oracle gate proves the VALUES equal the
  * corpus-scan batch scorer; this spec proves the PLAN is the index
  * plan and the build is build-once.
  */
class TextIndexSpec extends SparkSpec {

  import spark.implicits._

  private val IndexName = "bm25_index_spec"

  private lazy val built: Unit =
    TextAnalysis.buildTextIndex(spark, sf, IndexName)

  private def fileScans(df: org.apache.spark.sql.DataFrame) =
    df.queryExecution.sparkPlan.collectLeaves().collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }

  private def search() = {
    built
    TextAnalysis.searchTextIndex(spark, IndexName,
      Seq((0L, "spark table query")).toDF("q_id", "q_text"))
  }

  test("search prunes the posting scan to the query terms' buckets") {
    val bucketed = fileScans(search()).filter(_.relation.bucketSpec.isDefined)
    assert(bucketed.nonEmpty, "no bucketed posting scan in the search plan")
    val s = bucketed.head
    val total = s.relation.bucketSpec.get.numBuckets
    val selected = s.optionalBucketSet
      .getOrElse(fail(s"no bucket pruning on the posting scan: $s"))
      .cardinality()
    assert(selected < total, s"scan reads every file bucket ($selected/$total)")
  }

  test("df never shuffles or window-buffers the postings") {
    // df is a partial-aggregated count broadcast-joined back; the
    // bucketed table satisfies the groupBy distribution, so the
    // postings are never re-shuffled — and never window-buffered (an
    // unbounded-frame window would hold a hot term's whole posting
    // list in one task: the stopword-query hazard at 100 TB)
    val plan = search().queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning(term"),
      "df aggregation re-shuffled the bucketed postings")
    // and no Window buffers posting rows: the only windows in the
    // search plan rank per-QUERY results (partitionBy q_id)
    val windowLines = plan.linesIterator
      .filter(l => l.contains("Window [") &&
        !l.contains("windowspecdefinition(q_id"))
      .toSeq
    assert(windowLines.isEmpty,
      s"non-per-query window in the search plan: $windowLines")
  }

  test("build is build-once: an unchanged corpus re-enters with zero jobs") {
    built
    val n = new AtomicInteger(0)
    val l = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        n.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(l)
    try {
      TextAnalysis.buildTextIndex(spark, sf, IndexName)
      // settle the async listener bus
      Thread.sleep(300)
    } finally spark.sparkContext.removeSparkListener(l)
    assert(n.get() == 0, s"re-entry ran ${n.get()} jobs on an unchanged corpus")
  }

  test("incremental append equals a full rebuild, stats included") {
    import org.apache.spark.sql.functions._
    val docs = Tables.documents(spark, sf)
    val half = docs.where(pmod(col("doc_id"), lit(2)) === 0)
    val rest = docs.where(pmod(col("doc_id"), lit(2)) === 1)
    val incName = "bm25_index_inc_spec"
    val fullName = "bm25_index_full_spec"
    // build on half, append the other half
    graft.sources.Readers.dropTableAndDir(spark, incName)
    graft.sources.Readers.dropTableAndDir(spark, s"${incName}_stats")
    // (build path is dir-keyed; drive the same plumbing on frames)
    val prep = (d: org.apache.spark.sql.DataFrame) => d
    TextAnalysis.buildTextIndex(spark, sf, fullName) // full corpus
    // incremental: replicate build on `half` via append onto an
    // empty-but-typed table, then append `rest`
    spark.sql(s"DROP TABLE IF EXISTS $incName")
    spark.table(fullName).where(lit(false))
      .write.bucketBy(32, "term").sortBy("term")
      .mode("overwrite").saveAsTable(incName)
    import spark.implicits._
    graft.sources.Readers.replaceTable(
      Seq((0L, 0.0)).toDF("n", "sum_dl"), s"${incName}_stats")
    TextAnalysis.appendToTextIndex(spark, incName, prep(half))
    TextAnalysis.appendToTextIndex(spark, incName, prep(rest))
    // stats must be BIT-identical (exact integer-double sums compose)
    val si = spark.table(s"${incName}_stats").head
    val sf2 = spark.table(s"${fullName}_stats").head
    assert(si.getLong(0) == sf2.getLong(0) &&
           si.getDouble(1) == sf2.getDouble(1),
      s"stats diverged: $si vs $sf2")
    // and search results must match row for row
    val q = Seq((0L, "spark table query")).toDF("q_id", "q_text")
    val viaInc = TextAnalysis.searchTextIndex(spark, incName, q).collect().toSeq
    val viaFull = TextAnalysis.searchTextIndex(spark, fullName, q).collect().toSeq
    assert(viaInc == viaFull)
  }

  test("compaction collapses append fragmentation, search stays bit-identical, pruning still fires") {
    import org.apache.spark.sql.functions._
    val docs = Tables.documents(spark, sf)
    val name = "bm25_index_compact_spec"
    graft.sources.Readers.dropTableAndDir(spark, name)
    graft.sources.Readers.dropTableAndDir(spark, s"${name}_stats")
    graft.sources.Readers.dropTableAndDir(spark, s"${name}_compacting")
    spark.sql(s"DROP TABLE IF EXISTS ${name}_retired")
    // seed an empty typed index, then fragment it with 6 appends
    built
    spark.table(IndexName).where(lit(false))
      .write.bucketBy(32, "term").sortBy("term")
      .mode("overwrite").saveAsTable(name)
    graft.sources.Readers.replaceTable(
      Seq((0L, 0.0)).toDF("n", "sum_dl"), s"${name}_stats")
    (0 until 6).foreach { k =>
      TextAnalysis.appendToTextIndex(spark, name,
        docs.where(pmod(col("doc_id"), lit(6)) === k))
    }
    val q = Seq((0L, "spark table query"), (1L, "fast vector scan"))
      .toDF("q_id", "q_text")
    val before = TextAnalysis.searchTextIndex(spark, name, q).collect().toSeq
    val filesBefore = graft.sources.Readers.tableDataFiles(spark, name).size
    assert(TextAnalysis.compactTextIndex(spark, name, maxFilesPerBucket = 2),
      s"compaction skipped at $filesBefore files")
    val filesAfter = graft.sources.Readers.tableDataFiles(spark, name).size
    // at most one data file per occupied file bucket (Spark's bucket
    // id: pmod(murmur3 hash, numBuckets) — the SQL `hash` function)
    val occupied = spark.table(name)
      .select(pmod(hash(col("term")), lit(32))).distinct().count()
    assert(filesAfter <= occupied,
      s"compaction left $filesAfter files for $occupied occupied buckets " +
      s"($filesBefore before)")
    // contents and stamp survive the swap
    assert(graft.sources.StandingTable.prop(spark, name, "graft.fingerprint")
      .contains("appended"))
    assert(TextAnalysis.searchTextIndex(spark, name, q).collect().toSeq
      == before, "compaction changed search results")
    // term-bucket pruning still fires on the compacted table
    val scan = fileScans(TextAnalysis.searchTextIndex(spark, name, q))
      .filter(_.relation.bucketSpec.isDefined).head
    val sel = scan.optionalBucketSet
      .getOrElse(fail("pruning lost after compaction")).cardinality()
    assert(sel < scan.relation.bucketSpec.get.numBuckets)
    // idempotent: a second call is a no-op
    assert(!TextAnalysis.compactTextIndex(spark, name, maxFilesPerBucket = 2))
  }

  test("deletion equals a rebuild on the survivors, stats and scores included") {
    import org.apache.spark.sql.functions._
    val docs = Tables.documents(spark, sf)
    val gone = docs.where(pmod(col("doc_id"), lit(3)) === 0)
    val kept = docs.where(pmod(col("doc_id"), lit(3)) =!= 0)
    val delName = "bm25_index_del_spec"
    val refName = "bm25_index_delref_spec"
    Seq(delName, refName).foreach { n =>
      graft.sources.Readers.dropTableAndDir(spark, n)
      graft.sources.Readers.dropTableAndDir(spark, s"${n}_stats")
      graft.sources.Readers.dropTableAndDir(spark, s"${n}_compacting")
      spark.sql(s"DROP TABLE IF EXISTS ${n}_retired")
    }
    // full build, then delete a third — vs a fresh build on the rest
    TextAnalysis.buildTextIndex(spark, sf, delName)
    TextAnalysis.deleteFromTextIndex(spark, delName, gone)
    built
    spark.table(IndexName).where(lit(false))
      .write.bucketBy(32, "term").sortBy("term")
      .mode("overwrite").saveAsTable(refName)
    graft.sources.Readers.replaceTable(
      Seq((0L, 0.0)).toDF("n", "sum_dl"), s"${refName}_stats")
    TextAnalysis.appendToTextIndex(spark, refName, kept)
    // stats BIT-identical: append added exactly what delete subtracted
    val sd = spark.table(s"${delName}_stats").head
    val sr = spark.table(s"${refName}_stats").head
    assert(sd.getLong(0) == sr.getLong(0) && sd.getDouble(1) == sr.getDouble(1),
      s"stats diverged after delete: $sd vs $sr")
    // search row-identical — df recomputes from the index, so removed
    // docs stop counting in every survivor's idf too
    val q = Seq((0L, "spark table query"), (1L, "fast vector scan"))
      .toDF("q_id", "q_text")
    val viaDel = TextAnalysis.searchTextIndex(spark, delName, q).collect().toSeq
    val viaRef = TextAnalysis.searchTextIndex(spark, refName, q).collect().toSeq
    assert(viaDel == viaRef, "delete != rebuild on the survivors")
    assert(viaDel.nonEmpty)
    // no deleted doc can ever be returned
    val goneIds = gone.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(!viaDel.exists(r => goneIds(r.getLong(2))))
    // the build-once stamp is gone: a mutated index must not be
    // mistaken for a fresh dir build
    assert(graft.sources.StandingTable.prop(spark, delName, "graft.fingerprint")
      .contains("mutated"))
  }

  test("compaction crash windows heal: a stranded staging table is promoted") {
    import org.apache.spark.sql.functions._
    val name = "bm25_index_heal_spec"
    graft.sources.Readers.dropTableAndDir(spark, name)
    graft.sources.Readers.dropTableAndDir(spark, s"${name}_compacting")
    built
    // simulate the inter-rename crash: a COMPLETE staging table
    // exists, the live name does not
    spark.table(IndexName)
      .write.bucketBy(32, "term").sortBy("term")
      .mode("overwrite").saveAsTable(s"${name}_compacting")
    assert(!spark.catalog.tableExists(name))
    TextAnalysis.compactTextIndex(spark, name)
    assert(spark.catalog.tableExists(name), "staging was not promoted")
    assert(!spark.catalog.tableExists(s"${name}_compacting"))
    assert(spark.table(name).count() == spark.table(IndexName).count())
  }

  test("indexed search equals the corpus-scan batch scorer row for row") {
    built
    val q = Seq((0L, "spark table query"), (1L, "fast vector scan"))
      .toDF("q_id", "q_text")
    val viaIndex = TextAnalysis.searchTextIndex(spark, IndexName, q)
      .collect().toSeq
    val viaScan = TextAnalysis.bm25Batch(
        Tables.documents(spark, sf), q,
        graft.operators.TextAnalysis.bm25ModelFor(spark, sf))
      .collect().toSeq
    assert(viaIndex == viaScan)
  }
}
