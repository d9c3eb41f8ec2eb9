package graft

import graft.core.config.SparkConfig
import graft.runtime.SessionWrapper

/** Isolated canary re-measure (VERDICT r12 ask #1a): the bench floor
  * artifact (`BENCH_floor_local.json`, r10) stopped being reproducible —
  * every r12 measurement (builder 177–193 s, driver 204.6 s, judge
  * in-between) sat uniformly above it, so "uniform elevation" judgments
  * routed through a denominator nobody could hit. This main re-measures
  * a FIXED set of byte-stable queries spanning families, each under the
  * min-of-4 isolated protocol the `dedup_jaccard_hist` bisect used
  * (1 unmeasured warm sweep + 4 measured, per-query min), and prints ONE
  * JSON line. The per-round NOTES canary table records these figures;
  * `tools/bench_diff.py` normalizes new/floor per-query ratios by the
  * canary median so a real single-query regression stays detectable
  * under whole-machine elevation (ask #1b).
  *
  * The set must stay byte-stable: if a canary's implementation is ever
  * rewritten, REPLACE it here (and in `CANARY_QUERIES` in
  * tools/bench_diff.py — CanarySpec pins the two lists equal) rather
  * than letting a real change masquerade as elevation.
  */
object Canary {

  /** Byte-stable queries spanning families (all present in the r10 floor
    * artifact): relational agg / star join / window frame / lateral,
    * the LSH chain, the blocked edit-distance verify, the triangle
    * kernel, TF-IDF, the MAD outlier kernel, and the multimodal decode
    * chain. r14 ROTATION (the documented replace-don't-mask rule):
    * dedup_jaccard_hist was rewritten onto the decomposed
    * intersectCandidatesOf trunk this round, so it left the canary set
    * — dedup_editdist (byte-unchanged since r10, same near-dup family,
    * floor entry 2.253) replaces it.
    */
  val Queries: Seq[String] = Seq(
    "q1_pricing_summary", "q4_star_join", "q40_time_range_frame",
    "q45_lateral", "dedup_minhash_lsh", "dedup_editdist",
    "sim_triangles", "ta_tfidf", "dq_outlier_mad", "mm_decode")

  val MeasuredSweeps = 4

  /** Measurement list: the pinned canary set by default;
    * SPARK_GRAFT_CANARY_QUERIES=<name,name,…> overrides it for one-off
    * isolated min-of-4 measurements (the floor-entry RE-ARM protocol,
    * VERDICT r13 ask #1a: a query that flags in ≥2 consecutive rounds
    * gets its floor entry replaced by a fresh isolated measurement,
    * provenance-logged in BENCH_floor_provenance.json). The override
    * never touches [[Queries]] — CanarySpec keeps the pinned list equal
    * to tools/bench_diff.py's CANARY_QUERIES.
    */
  def measurementList: Seq[String] =
    sys.env.get("SPARK_GRAFT_CANARY_QUERIES")
      .map(_.split(",").toSeq.map(_.trim).filter(_.nonEmpty))
      .filter(_.nonEmpty)
      .getOrElse(Queries)

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = new SessionWrapper(SparkConfig.local()).session
    spark.sparkContext.setLogLevel("WARN")
    // each query isolated: its own warm run (JIT, codegen cache, page
    // cache — unmeasured) then MeasuredSweeps timed runs, per-query min
    val runs = measurementList.map(n => Bench.sweeps(
      spark, sfDir, Map(n -> SparkEntry.queries(n)), MeasuredSweeps + 1))
    val results = runs.flatMap(_.times)
    val failed = runs.flatMap(_.failed)
    val overridden = measurementList != Queries
    val metric = if (overridden) "canary_rearm" else "canary"
    val line = s"""{"metric":"$metric","unit":"sec","sweeps":$MeasuredSweeps,"queries":${Bench.jsonTimes(results)},"sf":"$sfDir",""" +
      Bench.failedAndValue(failed, results.map(_._2).sum)
    // an overridden (re-arm) run must not clobber the real canary
    // artifact — default it to /tmp unless explicitly pointed elsewhere
    val defaultOut =
      if (overridden) s"${System.getProperty("java.io.tmpdir")}/CANARY_rearm.json"
      else "CANARY_local.json"
    try java.nio.file.Files.write(
      java.nio.file.Paths.get(
        sys.env.getOrElse("SPARK_GRAFT_CANARY_OUT", defaultOut)),
      (line + "\n").getBytes("UTF-8"))
    catch { case e: Throwable =>
      System.err.println(s"[canary] write failed: $e") }
    spark.sparkContext.setLogLevel("OFF")
    spark.stop()
    println(line)
    System.out.flush()
  }
}
