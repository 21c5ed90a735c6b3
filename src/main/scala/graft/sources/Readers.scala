package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Source readers beyond the parquet fixtures — the reference's other
  * ingest paths, Spark-first.
  */
object Readers {

  /** Delimited text table (reference: Hive `-delimited text
    * loads, README.md:1584-1630; `user_visit_action.txt`). */
  def delimitedText(spark: SparkSession, path: String, schema: StructType,
                    sep: String = ""): DataFrame =
    spark.read
      .schema(schema)
      .option("sep", sep)
      .option("header", "false")
      .csv(path)

  /** JDBC dimension read (reference: city_info via
    * sqlContext.read().format("jdbc"), AreaTop3ProductSpark.java:
    * 180-228). Partitioned-read options included: at scale a
    * single-threaded JDBC scan is the bottleneck, so callers pass a
    * numeric split column. No database ships in this container —
    * construction is exercised, execution isn't. */
  def jdbcTable(spark: SparkSession, url: String, table: String,
                user: String, password: String,
                partitionColumn: Option[String] = None,
                lowerBound: Long = 0L, upperBound: Long = 1L,
                numPartitions: Int = 1): DataFrame = {
    val base = spark.read.format("jdbc")
      .option("url", url)
      .option("dbtable", table)
      .option("user", user)
      .option("password", password)
    partitionColumn.fold(base) { c =>
      base.option("partitionColumn", c)
        .option("lowerBound", lowerBound)
        .option("upperBound", upperBound)
        .option("numPartitions", numPartitions)
    }.load()
  }

  /** JSON-lines ingest with corrupt-record quarantine — the
    * production posture for crawl/vendor feeds where a malformed
    * line is routine and must neither kill the job (FAILFAST) nor
    * vanish silently (DROPMALFORMED). PERMISSIVE parsing captures
    * each unparseable line verbatim in a corrupt-record column;
    * callers get (good rows in the declared schema, quarantined raw
    * lines) and ship the quarantine to an audit sink. Both sides are
    * partitions of one scan — no second read of the input.
    *
    * Spark requires the corrupt column to be selectable only when it
    * is declared in the schema, and filtering on it alone requires a
    * cached/materialized parse (the parser short-circuits otherwise)
    * — both handled here so callers can't hit the
    * `queries on raw JSON when referenced columns only include the
    * internal corrupt record column` analysis error. */
  def jsonWithQuarantine(spark: SparkSession, path: String,
                         schema: StructType): (DataFrame, DataFrame) = {
    val corruptCol = "_graft_corrupt"
    val full = spark.read
      .schema(schema.add(corruptCol, "string"))
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", corruptCol)
      .json(path)
      .cache() // one parse serves both partitions of the split
    val good = full.where(org.apache.spark.sql.functions.col(corruptCol).isNull)
      .drop(corruptCol)
    val bad = full.where(org.apache.spark.sql.functions.col(corruptCol).isNotNull)
      .select(org.apache.spark.sql.functions.col(corruptCol).as("raw_line"))
    (good, bad)
  }

  /** Overwrite-safe catalog table write (reference:
    * saveAsTable("top3_sales"), RowNumberWindowFunction.java:54-56):
    * the in-memory catalog forgets tables between JVMs but their
    * warehouse directories persist, so a bare overwrite can trip over
    * a stale dir the catalog doesn't own. Drop both, then write. */
  def replaceTable(df: DataFrame, name: String): Unit = {
    dropTableAndDir(df.sparkSession, name)
    df.write.mode("overwrite").saveAsTable(name)
  }

  /** Bucketed-and-sorted catalog write — the co-location contract
    * behind both the no-shuffle fact joins (BucketingSpec) and the
    * IVF index's prunable cells: rows sharing `bucketCol` land in the
    * same file bucket, and an equality/IN filter on that column lets
    * the scan skip whole buckets (SelectedBucketsCount). */
  def saveBucketedTable(df: DataFrame, name: String, buckets: Int,
                        bucketCol: String): Unit = {
    dropTableAndDir(df.sparkSession, name)
    df.write.bucketBy(buckets, bucketCol).sortBy(bucketCol)
      .mode("overwrite").saveAsTable(name)
  }

  /** Table names reach SQL text and filesystem paths — restrict to
    * identifier-safe characters before interpolating anywhere. */
  private def requireIdentifier(name: String): Unit =
    require(name.matches("[A-Za-z_][A-Za-z0-9_]*"),
      s"table name must be identifier-safe: '$name'")

  /** A table location string as a local file. Handles the URI forms a
    * location can legally take (file:/p, file:///p, percent-encoding,
    * plain paths — including unparseable-as-URI paths with spaces) and
    * REFUSES non-local schemes and remote authorities rather than
    * mangling them into a deletable-looking local path. */
  private def asLocalFile(loc: String): java.io.File = {
    val uri = try new java.net.URI(loc)
              catch { case _: java.net.URISyntaxException => null }
    if (uri == null || uri.getScheme == null) new java.io.File(loc)
    else {
      require(uri.getScheme == "file",
        s"table location scheme '${uri.getScheme}' is not local: $loc")
      require(uri.getAuthority == null || uri.getAuthority.isEmpty ||
              uri.getAuthority == "localhost",
        s"refusing remote authority in table location: $loc")
      new java.io.File(uri.getPath) // getPath percent-decodes
    }
  }

  /** The directory backing a managed table: the CATALOG's registered
    * location when the table exists (authoritative whatever layout
    * the catalog chose), else the conventional <warehouse>/<name>
    * (the stale-directory case an in-memory catalog leaves behind
    * between JVMs). */
  private[graft] def tableDir(spark: SparkSession, name: String): java.io.File = {
    requireIdentifier(name)
    import org.apache.spark.sql.functions.col
    val loc =
      if (spark.catalog.tableExists(name))
        spark.sql(s"DESCRIBE FORMATTED $name")
          .where(col("col_name") === "Location")
          .select("data_type").collect().head.getString(0)
      else
        spark.conf.get("spark.sql.warehouse.dir").stripSuffix("/") + "/" + name
    asLocalFile(loc)
  }

  /** Data files currently backing a managed table (parquet parts
    * only) — the small-files observable compaction acts on. */
  private[graft] def tableDataFiles(spark: SparkSession,
                                    name: String): Seq[java.io.File] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk)
      else Seq(f)
    walk(tableDir(spark, name)).filter(_.getName.startsWith("part-"))
  }

  private[graft] def dropTableAndDir(spark: SparkSession, name: String): Unit = {
    // resolve BEFORE dropping — the catalog's location is the
    // authoritative one while the table still exists
    val loc = tableDir(spark, name)
    spark.sql(s"DROP TABLE IF EXISTS $name")
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(rm)
      f.delete()
    }
    if (loc.exists()) rm(loc)
  }
}
