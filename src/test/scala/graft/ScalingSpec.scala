package graft

import graft.operators.{Dedup, TextAnalysis}
import graft.tools.ScaleProbe
import org.apache.spark.sql.DataFrame

/** Growth classes of the rows that decide whether a plan scales, read
  * from [[Profile]] counters at 1× and at ×4 through
  * [[ScaleProbe.replicate]]. Row counts are exact, so each pin is a
  * plain comparison of log(ratio)/log(4) against
  * [[ScaleProbe.SuperLinear]]: a banding or blocking change that turns
  * candidate generation quadratic fails here, on any host. The fixed
  * 8-cell blocked embedding dedup is the positive control: its
  * candidate pairs are ~n²/8 by construction, so the check can fail.
  */
class ScalingSpec extends SparkSpec {

  private val Factor = 4

  private lazy val replicated: String = {
    val dir = java.nio.file.Files.createTempDirectory("graft-scaling").toFile
    sys.addShutdownHook(org.apache.commons.io.FileUtils.deleteQuietly(dir))
    ScaleProbe.replicate(spark, sf, dir.getPath, Factor)
    dir.getPath
  }

  /** The figure `pick` reads off the profile of `frame` at 1× and ×4,
    * and its growth exponent. */
  private def growth(frame: String => DataFrame)(
      pick: Profile.Result => Long): (Long, Long, Double) = {
    def at(dir: String) =
      try pick(Profile.run(frame(dir))) finally spark.catalog.clearCache()
    val (base, big) = (at(sf), at(replicated))
    assert(base > 0,
      "the pinned operator produced no rows at 1×: the selector no longer finds it")
    (base, big, ScaleProbe.exponent(base, big, Factor))
  }

  private def rows(r: Profile.Result, op: String => Boolean): Long =
    r.ops.filter(o => op(o.name)).map(_.rows).maxOption.getOrElse(0L)

  private def isJoin(name: String) = name.endsWith("Join")

  private def assertAtMostLinear(what: String, g: (Long, Long, Double)): Unit = {
    val (base, big, e) = g
    info(f"$what: $base → $big rows, exponent $e%.2f")
    assert(e <= ScaleProbe.SuperLinear,
      f"$what grew super-linearly: $base → $big rows at ×$Factor (exponent $e%.2f)")
  }

  test("dedup_minhash_lsh: verify-join candidate rows grow at most linearly") {
    // the plan's one aggregate is the candidate distinct() the verify
    // join reads
    assertAtMostLinear("dedup_minhash_lsh candidates",
      growth(SparkEntry.queries("dedup_minhash_lsh")(spark, _))(
        rows(_, _ == "HashAggregate")))
  }

  test("containment prefix-filter candidates grow at most linearly") {
    assertAtMostLinear("containmentCandidates",
      growth(d => Dedup.containmentCandidates(Tables.documents(spark, d)))(_.rows))
  }

  test("sim_ivf_scaled: probe-join candidates grow at most linearly") {
    assertAtMostLinear("sim_ivf_scaled probe candidates",
      growth(SparkEntry.queries("sim_ivf_scaled")(spark, _))(rows(_, isJoin)))
  }

  test("text_overlap_kmv: sketch rows grow at most linearly") {
    assertAtMostLinear("KMV sketch rows",
      growth(d => TextAnalysis.kmvSketch(Tables.documents(spark, d),
        TextAnalysis.KmvK))(_.rows))
  }

  test("positive control: dedup_embedding_blocked candidate pairs (fixed 8 cells) are super-linear") {
    val (base, big, e) =
      growth(SparkEntry.queries("dedup_embedding_blocked")(spark, _))(rows(_, isJoin))
    info(f"dedup_embedding_blocked candidates: $base → $big rows, exponent $e%.2f")
    assert(e > ScaleProbe.SuperLinear,
      f"fixed-cell pair generation should be ~n²; got exponent $e%.2f ($base → $big)")
  }
}
