package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.config.SparkConfig
import graft.runtime.SessionWrapper
import graft.streaming._

/** Benchmark main: runs every SparkEntry query against
  * SPARK_GRAFT_SF_DIR and prints ONE JSON line
  * {"metric":"total","value":N,"unit":"sec","queries":{...},"sf":...}.
  *
  * Methodology (documented in BASELINE.md): every query runs once as an
  * UNMEASURED warm sweep — JIT, codegen caches, parquet footers, and OS
  * page cache all land there — then in measured steady-state sweeps;
  * the reported figure is the per-query MIN across measured sweeps, so
  * a one-off GC pause in a single sweep can't masquerade as a
  * regression (r4 observed a 5 s spike on a 0.7 s query exactly once).
  * The old single-warmup-per-family protocol left the first measured
  * query of most families cold, which is how r3's q1 7.6s outlier
  * happened (q1 doubled as the global warmup). Each run goes to a noop
  * sink — full materialization of every output column, unlike count(),
  * which lets Catalyst prune projections and drop sorts. Queries run in
  * sorted name order for run-to-run comparability.
  * SPARK_GRAFT_BENCH_PASSES (default 3 = 1 warm + 2 measured; min 1)
  * controls total sweeps.
  */
object Bench {
  type Query = (SparkSession, String) => DataFrame

  /** One query's run to the `noop` sink: its wall seconds, or None
    * (logged to stderr) when building or running it throws — a failed
    * query has no time to report.
    */
  private def timeToNoop(spark: SparkSession, sfDir: String, name: String,
      fn: Query): Option[Double] = {
    val t0 = System.nanoTime()
    try {
      fn(spark, sfDir).write.mode("overwrite").format("noop").save()
      Some((System.nanoTime() - t0) / 1e9)
    } catch { case e: Throwable =>
      System.err.println(s"[bench] $name failed: ${e.getMessage}")
      None
    }
  }

  /** Per-query minimum seconds over the measured sweeps, and the
    * queries that threw in any sweep (warm included) — those have no
    * entry in `times` and add nothing to `total`.
    */
  final case class Result(times: Seq[(String, Double)], failed: Seq[String]) {
    def total: Double = times.map(_._2).sum
  }

  /** `passes` sweeps over `queries` in sorted name order: one
    * unmeasured warm sweep (skipped at passes=1), then the measured
    * ones; a single measured sweep IS the min when passes=2.
    */
  def sweeps(spark: SparkSession, sfDir: String,
      queries: Map[String, Query], passes: Int): Result = {
    val names = queries.keys.toSeq.sorted
    def sweep(): Map[String, Option[Double]] =
      names.map(n => n -> timeToNoop(spark, sfDir, n, queries(n))).toMap
    val warm = if (passes > 1) Seq(sweep()) else Nil
    val measured = (1 until math.max(2, passes)).map(_ => sweep())
    val failed = names.filter(n => (warm ++ measured).exists(_(n).isEmpty))
    Result(
      names.filterNot(failed.contains).map(n => n -> measured.map(_(n).get).min),
      failed)
  }

  // Locale.ROOT: a comma-decimal default locale (de_DE) would render
  // "1,234" and corrupt the machine-read JSON artifacts (r13 ADVICE)
  private def fmt(v: Double) = "%.3f".formatLocal(java.util.Locale.ROOT, v)

  private[graft] def jsonTimes(ts: Seq[(String, Double)]) =
    ts.map { case (k, v) => "\"" + k + "\":" + fmt(v) }.mkString("{", ",", "}")

  /** The closing keys shared by the Bench and Canary lines, listing at
    * most `cap` failed names. `value` stays the LAST key, because
    * bench_diff's truncated-tail fallback reads the total from there.
    */
  private[graft] def failedAndValue(failed: Seq[String], total: Double,
      cap: Int = Int.MaxValue): String = {
    val shown = failed.take(cap).map("\"" + _ + "\"").mkString("[", ",", "]")
    s""""n_failed":${failed.size},"failed":$shown,"value":${fmt(total)}}"""
  }

  /** (full line, stdout summary). The full line keeps its ASCENDING
    * duration key order and every failed name, so any bounded tail of
    * the FILE still ends with the headline entries and the suite total.
    * The summary stays ≤1 KB: query count, the slowest 20 queries and
    * at most 10 failed names.
    */
  def lines(r: Result, sfDir: String, streamRps: Long): (String, String) = {
    val full = s"""{"metric":"total","unit":"sec","queries":${jsonTimes(r.times.sortBy(_._2))},"sf":"$sfDir","stream_rows_per_sec":$streamRps,""" +
      failedAndValue(r.failed, r.total)
    val summary = s"""{"metric":"total","unit":"sec","n_queries":${r.times.size},"queries":${jsonTimes(r.times.sortBy(-_._2).take(20))},"sf":"$sfDir","stream_rows_per_sec":$streamRps,""" +
      failedAndValue(r.failed, r.total, cap = 10)
    (full, summary)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val passes = math.max(1, sys.env.getOrElse("SPARK_GRAFT_BENCH_PASSES", "3").toInt)
    val spark = new SessionWrapper(SparkConfig.local()).session
    spark.sparkContext.setLogLevel("WARN")

    // local-iteration aid: SPARK_GRAFT_BENCH_FILTER=substr1,substr2
    // restricts the sweep to matching query names. The driver never sets
    // it, so the round artifact is always the full suite.
    val nameFilter = sys.env.get("SPARK_GRAFT_BENCH_FILTER")
      .map(_.split(",").toSeq.filter(_.nonEmpty))
    val selected = SparkEntry.queries.filter { case (n, _) =>
      nameFilter.forall(_.exists(n.contains)) }
    val result = sweeps(spark, sfDir, selected, passes)

    // streaming throughput row: a short SATURATED rate → transform →
    // parquet run (source faster than sink capacity, so the figure
    // reflects capacity, not the source), counted through the
    // listener-backed hooks; perfbench's `stream` workload times the
    // same path closed- and open-loop. One extra JSON key near the
    // line's end — streaming regressions gate per round exactly like
    // batch ones.
    // Shutdown protocol (r5 post-mortem): stopping the saturated stream
    // mid-batch aborts in-flight FileFormatWriter tasks whose ERROR
    // stack traces — multi-KB, logged by THIS JVM in local mode — landed
    // after the stdout JSON line and flushed it out of the driver's
    // bounded ~2KB tail (BENCH_r05.json parsed:null). quiescing via
    // processAllAvailable() is NOT an option: the source intentionally
    // offers more than sink capacity, so the backlog only grows and that
    // call would never return. Instead: (1) the throughput window closes
    // BEFORE stop — elapsed and the batch-progress row count are
    // snapshotted first, so abort latency never skews the figure; (2)
    // log4j is turned OFF before stop() so the aborted batch cannot spew;
    // (3) stop/awaitTermination failures are swallowed (rps is already
    // computed); (4) the JSON line prints AFTER spark.stop(), when no
    // executor or listener thread is left to interleave output.
    val streamSecs = sys.env.getOrElse("SPARK_GRAFT_BENCH_STREAM_SECS", "8").toInt
    val streamRps: Long =
      if (streamSecs <= 0) 0L
      else try {
        val out = java.nio.file.Files.createTempDirectory("benchstream").toString
        @volatile var rows = 0L
        val hooks = new StreamingHooks {
          override def onBatchProgress(
              batchId: Long, numInputRows: Long, durationMs: Long): Unit =
            rows += numInputRows
        }
        val t0 = System.nanoTime()
        val q = new StreamingPipeline(
          source = RateStreamingSource(
            rowsPerSecond = 5000000,
            numPartitions = spark.sparkContext.defaultParallelism),
          sink = FileStreamingSink(s"$out/data"),
          checkpointLocation = Some(s"$out/cp"),
          transform = df => df.select(
            col("timestamp"), col("value"),
            (col("value") * 2).as("value_x2"),
            pmod(hash(col("value")), lit(64)).as("bucket")),
          outputMode = OutputMode.Append,
          trigger = TriggerConfig.ProcessingTime("1 second"),
          hooks = hooks).startStream(spark)
        Thread.sleep(streamSecs * 1000L)
        val elapsed = (System.nanoTime() - t0) / 1e9
        val measuredRows = rows
        spark.sparkContext.setLogLevel("OFF")
        try { q.stop(); q.awaitTermination() } catch { case _: Throwable => () }
        math.round(measuredRows / elapsed)
      } catch { case _: Throwable => 0L }
    val (line, summary) = lines(result, sfDir, streamRps)
    // Driver-protocol fix (r7 post-mortem, 3rd iteration): the driver
    // stores only ~2KB of stdout tail and slices from the START of the
    // final output block, so ANY multi-KB stdout line — even one printed
    // BEFORE a compact summary — pushes the summary out of the window
    // and the artifact records parsed:null. Therefore the full per-query
    // line never touches stdout OR stderr (sbt relabels the run's stderr
    // as [error] lines on sbt's OWN stdout, which would land in the same
    // window ahead of the summary): it is written ONLY to
    // BENCH_full_local.json (repo-tracked, diffable across rounds).
    // stdout carries exactly ONE JSON object — the <=1KB summary (suite
    // total, query count, stream rate, slowest 20 queries, failed
    // names) — printed
    // after spark.stop() so no executor or listener thread can
    // interleave output.
    try java.nio.file.Files.write(
      java.nio.file.Paths.get(
        sys.env.getOrElse("SPARK_GRAFT_BENCH_FULL_OUT",
          "BENCH_full_local.json")),
      (line + "\n").getBytes("UTF-8"))
    catch { case e: Throwable =>
      System.err.println(s"[bench] full-line write failed: $e") }
    spark.sparkContext.setLogLevel("OFF")
    spark.stop()
    println(summary)
    System.out.flush()
  }
}
