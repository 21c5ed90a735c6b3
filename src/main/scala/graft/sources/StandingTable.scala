package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The protocol that keeps a STANDING catalog table valid — a table
  * that outlives the query that built it: the near-dup cluster table,
  * the IVF/SQ8 and PQ vector indexes, the BM25 posting index. Every
  * catalog-property read or write and every rename of such a table
  * goes through here. The protocol has two halves.
  *
  * BUILD ONCE ([[buildOnce]]). A build stamps the table's
  * [[Fingerprint]] property with what it was built from (corpus
  * fingerprint plus build dials). Re-entry with an equal stamp, the
  * table and its companion tables all present, skips the build — a
  * served index answers many query batches and is not rebuilt per
  * batch. A missing table or a stale stamp rebuilds. A mutation after
  * build replaces the stamp ([[markAppended]], [[rewrite]]): a mutated
  * table no longer equals a fresh build of any corpus, so the next
  * dir-keyed build rebuilds.
  *
  * STAGED SWAP ([[rewrite]], [[compact]]). A whole-table rewrite
  * writes the replacement into `<name>_compacting` BEFORE any catalog
  * mutation, copies every `graft.*` property across (the stamp, an
  * index's assignment mode), then renames live → `<name>_retired`,
  * staging → live, and drops the retired table. Rows never touch the
  * driver, and search plans (bucket pruning included) are unchanged,
  * because name, schema, bucketing spec and properties all survive.
  * The data always exists under some name: the only no-table instant
  * is between the two renames, and it moves catalog metadata only.
  * Every crash window heals at the next entry ([[heal]]): live missing
  * and staging present can only be the inter-rename window (staging
  * is complete before the first rename), so staging is promoted; a
  * staging or retired leftover next to a live table is stale and
  * dropped. (A format with file-level transactions could rewrite
  * files in place; for plain parquet bucketed tables the staged swap
  * is the atomic option.)
  */
object StandingTable {

  /** The one build-once stamp key. */
  val Fingerprint = "graft.fingerprint"

  /** One table property, or None when the table does not carry it
    * (`SHOW TBLPROPERTIES t('k')` answers a missing key with a
    * "does not have property" message row rather than no rows). */
  def prop(spark: SparkSession, name: String, key: String): Option[String] =
    spark.sql(s"SHOW TBLPROPERTIES $name('$key')")
      .collect().headOption.map(_.getString(1))
      .filterNot(_.contains("does not have property"))

  def setProps(spark: SparkSession, name: String,
               props: (String, String)*): Unit =
    spark.sql(s"ALTER TABLE $name SET TBLPROPERTIES " +
      props.map { case (k, v) => s"'$k'='$v'" }.mkString("(", ", ", ")"))

  /** Run `build` (which must (re)create `name` and `companions`) unless
    * all of them exist and `name` carries `stamp`; then stamp it. */
  def buildOnce(spark: SparkSession, name: String, stamp: String,
                companions: Seq[String] = Nil)(build: => Unit): Unit =
    if (!(name +: companions).forall(spark.catalog.tableExists) ||
        !prop(spark, name, Fingerprint).contains(stamp)) {
      build
      setProps(spark, name, Fingerprint -> stamp)
    }

  /** Mark an in-place append: the table no longer equals a build. */
  def markAppended(spark: SparkSession, name: String): Unit =
    setProps(spark, name, Fingerprint -> "appended")

  /** Replace `name`'s rows with `change(live rows)` through the staged
    * swap, bucketed as before; the stamp drops to "mutated". */
  def rewrite(spark: SparkSession, name: String, buckets: Int,
              bucketCol: String)(change: DataFrame => DataFrame): Unit = {
    heal(spark, name)
    swap(spark, name, change(spark.table(name)), buckets, bucketCol,
      Some("mutated"))
  }

  /** Rewrite `name` unchanged through the staged swap when its data
    * files number more than `maxFilesPerBucket` per file bucket — the
    * small-files repair for a table grown by appends (each append adds
    * up to one file per bucket per writing task). Contents are
    * preserved, so the stamp carries. Returns whether a rewrite
    * happened; the no-op path costs one directory listing and no
    * Spark job. */
  def compact(spark: SparkSession, name: String, buckets: Int,
              bucketCol: String, maxFilesPerBucket: Int): Boolean = {
    heal(spark, name)
    val nFiles = Readers.tableDataFiles(spark, name).size
    if (nFiles <= buckets.toLong * maxFilesPerBucket) false
    else {
      swap(spark, name, spark.table(name), buckets, bucketCol, None)
      true
    }
  }

  /** Finish or discard a swap a crash interrupted (see the object doc). */
  private def heal(spark: SparkSession, name: String): Unit = {
    val staging = s"${name}_compacting"
    val retired = s"${name}_retired"
    if (!spark.catalog.tableExists(name) && spark.catalog.tableExists(staging))
      spark.sql(s"ALTER TABLE $staging RENAME TO $name")
    else if (spark.catalog.tableExists(staging))
      Readers.dropTableAndDir(spark, staging)
    if (spark.catalog.tableExists(retired))
      Readers.dropTableAndDir(spark, retired)
  }

  private def swap(spark: SparkSession, name: String, rows: DataFrame,
                   buckets: Int, bucketCol: String,
                   stamp: Option[String]): Unit = {
    val staging = s"${name}_compacting"
    val retired = s"${name}_retired"
    // the rewrite must read BUCKET-ALIGNED so each task holds exactly
    // one bucket and writes exactly one file. Left alone, the planner
    // defeats this twice over: an explicit repartition(buckets, col)
    // is elided as redundant (the relation's bucket spec already
    // claims that partitioning), and autoBucketedScan then DISABLES
    // the bucketed read because no operator requires the distribution
    // — leaving input-split tasks that each spray a file into every
    // bucket they touch (measured: a 144-file posting index
    // "compacted" to 85). Pinning the bucketed scan for this one write
    // gives zero shuffle, |buckets| tasks, one file per bucket.
    val autoScan = "spark.sql.sources.bucketing.autoBucketedScan.enabled"
    val prev = spark.conf.getOption(autoScan)
    spark.conf.set(autoScan, "false")
    try Readers.saveBucketedTable(rows, staging, buckets, bucketCol)
    finally prev match {
      case Some(v) => spark.conf.set(autoScan, v)
      case None    => spark.conf.unset(autoScan)
    }
    val carried = spark.sql(s"SHOW TBLPROPERTIES $name").collect()
      .map(r => r.getString(0) -> r.getString(1))
      .filter(_._1.startsWith("graft.")).toMap ++ stamp.map(Fingerprint -> _)
    if (carried.nonEmpty) setProps(spark, staging, carried.toSeq: _*)
    spark.sql(s"ALTER TABLE $name RENAME TO $retired")
    spark.sql(s"ALTER TABLE $staging RENAME TO $name")
    Readers.dropTableAndDir(spark, retired)
  }
}
