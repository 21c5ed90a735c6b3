package graft

import graft.operators.Similarity

/** The materialized-IVF-index contract: build once, then search
  * touches only the probed cells of the persisted index — no
  * assignment recompute, no quantization, no corpus-wide scan. The
  * sim_ivf_indexed oracle gate proves the VALUES match the recompute
  * path; this spec proves the search PLAN is the index plan (the
  * whole point of materializing — a search that silently recomputed
  * the assignment would still pass the oracle).
  */
class IvfIndexSpec extends SparkSpec {

  private val IndexName = "ivf_index_spec"

  private lazy val built: Unit =
    Similarity.buildIvfIndex(spark, sf, IndexName)

  /** Structural scan collection (not raw plan-string matching — a
    * Spark upgrade that re-renders plans must not fail these tests
    * while the pruning/pushdown contracts still hold). */
  private def fileScans(df: org.apache.spark.sql.DataFrame) =
    df.queryExecution.sparkPlan.collectLeaves().collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }

  private def search(nProbes: Int) = {
    built
    Similarity.searchIvfIndex(spark, sf, IndexName, nProbes)
  }

  test("index build persists codes + coarse quantizer, not vectors") {
    built
    val idx = spark.table(IndexName)
    assert(idx.columns.sorted.toSeq == Seq("bucket", "codes", "scl", "vec_id", "vmin"),
      idx.columns.mkString(","))
    assert(!idx.columns.contains("embedding"),
      "index must store SQ8 codes, not raw vectors — that is the memory contract")
    val cent = spark.table(s"${IndexName}_centroids")
    assert(cent.count() == 8)
  }

  test("search scans only probed cells: bucket pruning fires on the index scan") {
    val bucketed = fileScans(search(nProbes = 1))
      .filter(_.relation.bucketSpec.isDefined)
    assert(bucketed.nonEmpty, "no bucketed-table scan in the search plan")
    // the scan must carry a pruned bucket set strictly smaller than
    // the table's bucket count
    val s = bucketed.head
    val total = s.relation.bucketSpec.get.numBuckets
    val selected = s.optionalBucketSet
      .getOrElse(fail(s"no bucket pruning on the index scan: $s"))
      .cardinality()
    assert(selected < total, s"scan reads every file bucket ($selected/$total)")
  }

  test("search does not recompute the assignment: one embeddings scan (the query slice), pushed down") {
    val scans = fileScans(search(nProbes = 1))
    val emb = scans.filter(
      _.metadata.get("Location").exists(_.contains("embeddings.parquet")))
    assert(emb.size == 1,
      s"expected exactly 1 embeddings scan (queries), got ${emb.size}")
    // and that scan is the query slice, not the corpus: the vec_id
    // predicate reaches the reader. Structural on the scan's
    // dataFilters (a rendered-string match on `LessThan(vec_id,10)`
    // would break on a Spark filter-rendering change, not on a real
    // regression); the rendered PushedFilters only has to mention the
    // column at all — any rendering does.
    import org.apache.spark.sql.catalyst.expressions.{LessThan, Literal}
    import org.apache.spark.sql.catalyst.expressions.AttributeReference
    val sliced = emb.head.dataFilters.exists {
      case LessThan(a: AttributeReference, Literal(v, _)) =>
        a.name == "vec_id" && String.valueOf(v) == "10"
      case _ => false
    }
    assert(sliced,
      s"query-slice predicate vec_id<10 not on the scan: ${emb.head.dataFilters}")
    assert(emb.head.metadata.get("PushedFilters").exists(_.contains("vec_id")),
      s"query-slice predicate not pushed: ${emb.head.metadata.get("PushedFilters")}")
  }

  test("indexed search reproduces the recompute path (sim_ivf_sq8) exactly") {
    built
    val viaIndex = Similarity.searchIvfIndex(spark, sf, IndexName, nProbes = 1)
      .collect().map(_.toSeq).toSeq
    val recompute = Similarity.qSimIvfSq8(spark, sf)
      .collect().map(_.toSeq).toSeq
    assert(viaIndex == recompute)
  }

  test("incremental append equals a full rebuild") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    // first half carries all 8 quantizer vectors (vec_id < 8), so the
    // half-built index trains the SAME quantizer as a full build; the
    // second half is then appended against the persisted quantizer —
    // every appended row must land exactly where a rebuild puts it
    Similarity.buildIvfIndexFrom(emb.where(org.apache.spark.sql.functions
      .col("vec_id") < 250), "ivf_index_spec_inc", 8)
    Similarity.appendToIvfIndex(spark, "ivf_index_spec_inc",
      emb.where(org.apache.spark.sql.functions.col("vec_id") >= 250))
    built
    val full = Similarity.searchIvfIndex(spark, sf, IndexName, nProbes = 2)
      .collect().map(_.toSeq).toSeq
    val inc = Similarity.searchIvfIndex(spark, sf, "ivf_index_spec_inc",
      nProbes = 2).collect().map(_.toSeq).toSeq
    assert(inc == full)
    // and the appended table still prunes
    val pruned = fileScans(Similarity.searchIvfIndex(spark, sf,
        "ivf_index_spec_inc", nProbes = 1))
      .filter(_.relation.bucketSpec.isDefined)
    assert(pruned.exists(_.optionalBucketSet.isDefined),
      "appended index scan lost bucket pruning")
  }

  test("compaction collapses append file sets; compacted search equals the pre-compaction index") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val col = org.apache.spark.sql.functions.col _
    val name = "ivf_index_spec_cmp"
    // build from a slice carrying all 8 quantizer vectors, then three
    // appends — four file sets on disk
    Similarity.buildIvfIndexFrom(emb.where(col("vec_id") < 200), name, 8)
    for (lo <- Seq(200, 300, 400))
      Similarity.appendToIvfIndex(spark, name,
        emb.where(col("vec_id") >= lo && col("vec_id") < lo + 100))
    val before = graft.sources.Readers.tableDataFiles(spark, name).size
    val want = Similarity.searchIvfIndex(spark, sf, name, nProbes = 2)
      .collect().map(_.toSeq).toSeq
    // under the threshold the call is a no-op: false, files untouched
    assert(!Similarity.compactIvfIndex(spark, name, maxFilesPerBucket = 10000))
    assert(graft.sources.Readers.tableDataFiles(spark, name).size == before)
    // over the threshold: one staging rewrite + catalog swap
    assert(Similarity.compactIvfIndex(spark, name, maxFilesPerBucket = 0))
    val after = graft.sources.Readers.tableDataFiles(spark, name).size
    // at most one data file per occupied file bucket (Spark's bucket
    // id: pmod(murmur3 hash, numBuckets) — the SQL `hash` function)
    import org.apache.spark.sql.functions.{hash, lit, pmod}
    val occupied = spark.table(name)
      .select(pmod(hash(col("bucket")), lit(32))).distinct().count()
    assert(after <= occupied,
      s"compaction left $after files for $occupied occupied buckets ($before before)")
    // the swap preserves values, bucketing, and pruning: search off
    // the compacted table is bit-identical and still bucket-pruned
    val got = Similarity.searchIvfIndex(spark, sf, name, nProbes = 2)
      .collect().map(_.toSeq).toSeq
    assert(got == want)
    // it also still equals the full-rebuild reference index
    built
    val full = Similarity.searchIvfIndex(spark, sf, IndexName, nProbes = 2)
      .collect().map(_.toSeq).toSeq
    assert(got == full)
    val pruned = fileScans(Similarity.searchIvfIndex(spark, sf, name, nProbes = 1))
      .filter(_.relation.bucketSpec.isDefined)
    assert(pruned.exists(_.optionalBucketSet.isDefined),
      "compacted index scan lost bucket pruning")
  }

  test("deletion commutes with append: add a batch, delete it, get the original index back") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val col = org.apache.spark.sql.functions.col _
    val name = "ivf_index_spec_del"
    Similarity.buildIvfIndexFrom(emb.where(col("vec_id") < 300), name, 8)
    val rowsBefore = spark.table(name).collect().map(_.toSeq).toSet
    val searchBefore = Similarity.searchIvfIndex(spark, sf, name, nProbes = 2)
      .collect().map(_.toSeq).toSeq
    val batch = emb.where(col("vec_id") >= 300 && col("vec_id") < 400)
    Similarity.appendToIvfIndex(spark, name, batch)
    Similarity.deleteFromIvfIndex(spark, name, batch.select("vec_id"))
    // append assigned against the STANDING centroids; delete removed
    // exactly those rows — contents restore bit-for-bit
    assert(spark.table(name).collect().map(_.toSeq).toSet == rowsBefore)
    assert(Similarity.searchIvfIndex(spark, sf, name, nProbes = 2)
      .collect().map(_.toSeq).toSeq == searchBefore)
    // the mode stamp survived the swap and pruning still fires
    val pruned = fileScans(Similarity.searchIvfIndex(spark, sf, name, nProbes = 1))
      .filter(_.relation.bucketSpec.isDefined)
    assert(pruned.exists(_.optionalBucketSet.isDefined))
  }

  test("deleting corpus vectors removes them from results; survivors keep rank order") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val col = org.apache.spark.sql.functions.col _
    val name = "ivf_index_spec_del2"
    Similarity.buildIvfIndexFrom(emb, name, 8)
    val before = Similarity.searchIvfIndex(spark, sf, name, nProbes = 2)
      .collect().map(r => (r.getLong(0), r.getLong(2))) // (q_id, vec_id)
    // delete every 7th vector (queries themselves stay: they come
    // from the embeddings table, not the index)
    val gone = emb.where(col("vec_id") % 7 === 0).select("vec_id")
    val goneIds = gone.collect().map(_.getLong(0)).toSet
    Similarity.deleteFromIvfIndex(spark, name, gone)
    val after = Similarity.searchIvfIndex(spark, sf, name, nProbes = 2)
      .collect().map(r => (r.getLong(0), r.getLong(2)))
    assert(!after.exists { case (_, v) => goneIds(v) }, "a deleted vector surfaced")
    // per query: the surviving pre-delete results appear in the same
    // relative order (per-row cosine scores can't move; only new tail
    // entrants — scores ≤ the old rank-10's — may interleave at ties)
    def isOrderedSubseq(sub: Seq[Long], full: Seq[Long]): Boolean = {
      var i = 0
      full.foreach { v => if (i < sub.length && sub(i) == v) i += 1 }
      i == sub.length
    }
    before.groupBy(_._1).foreach { case (q, rows) =>
      val surviving = rows.map(_._2).filterNot(goneIds).toSeq
      val got = after.filter(_._1 == q).map(_._2).toSeq
      assert(isOrderedSubseq(surviving, got),
        s"q=$q survivor order broke: $surviving vs $got")
    }
  }

  test("compaction heals a crashed swap: orphaned staging promotes, stale staging drops") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val col = org.apache.spark.sql.functions.col _
    val name = "ivf_index_spec_heal"
    Similarity.buildIvfIndexFrom(emb.where(col("vec_id") < 300), name, 8)
    val want = Similarity.searchIvfIndex(spark, sf, name, nProbes = 2)
      .collect().map(_.toSeq).toSeq
    // crash window A — between the two renames: the live table is
    // gone, only the (always complete) staging table remains
    graft.sources.Readers.saveBucketedTable(
      spark.table(name), s"${name}_compacting", 16, "bucket")
    graft.sources.Readers.dropTableAndDir(spark, name)
    assert(!Similarity.compactIvfIndex(spark, name, maxFilesPerBucket = 10000))
    assert(spark.catalog.tableExists(name), "staging was not promoted")
    assert(!spark.catalog.tableExists(s"${name}_compacting"))
    assert(Similarity.searchIvfIndex(spark, sf, name, nProbes = 2)
      .collect().map(_.toSeq).toSeq == want, "healed index lost rows")
    // crash window B — staging written but no rename happened: the
    // live table is authoritative, the stale staging must be dropped
    graft.sources.Readers.saveBucketedTable(
      spark.table(name).limit(1), s"${name}_compacting", 16, "bucket")
    assert(!Similarity.compactIvfIndex(spark, name, maxFilesPerBucket = 10000))
    assert(!spark.catalog.tableExists(s"${name}_compacting"),
      "stale staging table survived")
    assert(Similarity.searchIvfIndex(spark, sf, name, nProbes = 2)
      .collect().map(_.toSeq).toSeq == want)
    // crash window C — after promotion, before the retiree drop
    graft.sources.Readers.saveBucketedTable(
      spark.table(name).limit(1), s"${name}_retired", 16, "bucket")
    assert(!Similarity.compactIvfIndex(spark, name, maxFilesPerBucket = 10000))
    assert(!spark.catalog.tableExists(s"${name}_retired"),
      "retired table survived")
  }

  test("two-level assignment mode survives append and compaction") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val col = org.apache.spark.sql.functions.col _
    val name = "ivf_index_spec_2l"
    val nameRef = "ivf_index_spec_2l_ref"
    // two-level build from a slice carrying the full quantizer, then an
    // append + a forced compaction — if EITHER step fell back to flat
    // assignment (the mode stamp lost), appended rows would land in
    // different cells than a one-shot two-level rebuild puts them
    Similarity.buildIvfIndexFrom(emb.where(col("vec_id") < 250), name, 8,
      twoLevel = true)
    Similarity.appendToIvfIndex(spark, name, emb.where(col("vec_id") >= 250))
    assert(Similarity.compactIvfIndex(spark, name, maxFilesPerBucket = 0))
    Similarity.buildIvfIndexFrom(emb, nameRef, 8, twoLevel = true)
    val inc = Similarity.searchIvfIndex(spark, sf, name, nProbes = 2)
      .collect().map(_.toSeq).toSeq
    val ref = Similarity.searchIvfIndex(spark, sf, nameRef, nProbes = 2)
      .collect().map(_.toSeq).toSeq
    assert(inc == ref)
    // and the hierarchical index genuinely differs from a flat build
    // of the same corpus (the mode is load-bearing, not cosmetic)
    val bucketsOf = (n: String) => spark.table(n)
      .select("vec_id", "bucket").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    Similarity.buildIvfIndexFrom(emb, "ivf_index_spec_2l_flat", 8)
    assert(bucketsOf(nameRef) != bucketsOf("ivf_index_spec_2l_flat"),
      "two-level assignment unexpectedly equals flat on the fixture")
  }

  test("PQ index stores only codes; search prunes buckets and joins back to the corpus for the re-rank") {
    val name = "ivf_pq_index_spec"
    Similarity.buildPqIndex(spark, sf, name, numCentroids = 8)
    val idx = spark.table(name)
    // 4-bytes-per-vector contract: codes + keys, NO raw vectors, no
    // per-vector scalars (PQ needs none — the codebook is the model)
    assert(idx.columns.sorted.toSeq == Seq("bucket", "codes", "vec_id"),
      idx.columns.mkString(","))
    assert(spark.table(s"${name}_codebook").count() == 16)
    val plan = Similarity.searchPqIndex(spark, sf, name, nProbes = 1, refine = 25)
    val scans = fileScans(plan)
    val bucketed = scans.filter(_.relation.bucketSpec.isDefined)
    assert(bucketed.nonEmpty, "no bucketed-table scan in the PQ search plan")
    val s = bucketed.head
    assert(s.optionalBucketSet.exists(
        _.cardinality() < s.relation.bucketSpec.get.numBuckets),
      "PQ index scan reads every file bucket")
    // the raw corpus appears exactly twice: the query slice (vec_id
    // pushdown) and the re-rank join-back — the index scan itself
    // never touches embeddings
    val emb = scans.filterNot(_.relation.bucketSpec.isDefined)
      .filter(_.schema.fieldNames.exists(Set("embedding", "n_vec")))
    assert(emb.size == 2, s"expected query-slice + join-back corpus scans, got ${emb.size}")
    // and the values equal the recompute twin's (the oracle proves
    // this at sf0.01; re-prove at this spec's sf for free)
    val got = plan.collect().map(_.toSeq).toSeq
    val want = graft.SparkEntry.queries("sim_ivf_pq")(spark, sf)
      .collect().map(_.toSeq).toSeq
    assert(got == want)
  }

  test("nprobe widens the candidate set monotonically") {
    built
    // top-k per query can only improve (sim non-decreasing per rank)
    // as more cells are probed; row count stays |q|·k once cells are
    // non-empty. Cheap sanity that the dial is wired through.
    val p1 = Similarity.searchIvfIndex(spark, sf, IndexName, nProbes = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(3)).toMap
    val p2 = Similarity.searchIvfIndex(spark, sf, IndexName, nProbes = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(3)).toMap
    p1.keys.foreach { k =>
      assert(p2.contains(k) && p2(k) >= p1(k) - 1e-12,
        s"rank $k got worse with nprobe=2: ${p1(k)} -> ${p2.get(k)}")
    }
  }
}
