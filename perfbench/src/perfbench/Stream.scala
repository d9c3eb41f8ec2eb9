package perfbench

import java.io.File
import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}
import graft.streaming._

/** `stream`: `StreamingPipeline` with a projection plus a `pmod(hash)`
  * bucket, writing to a parquet `FileStreamingSink`, in two phases.
  *
  *  - Closed loop: Spark's `rate-micro-batch` source through
  *    `ConnectorStreamingSource`, a fixed number of rows per batch,
  *    batches back to back. A pass is one steady micro-batch: the time
  *    from one batch's completion to the next's.
  *  - Open loop: `RateStreamingSource` at a fixed rate, polled by a
  *    100 ms trigger. An operation is one row: the commit time of its
  *    micro-batch minus the row's rate-source timestamp.
  *
  * The seed is recorded but does not change the inputs.
  */
final class StreamWorkload(b: Bench) {
  import StreamWorkload._
  private val a = b.a
  private var runs = 0

  private def transform(df: DataFrame): DataFrame = df.select(
    col("timestamp"), col("value"), (col("value") * 2).as("value_x2"),
    pmod(hash(col("value")), lit(64)).as("bucket"))

  private final class Run(val q: StreamingQuery, val data: String, val cp: String)

  private def start(tag: String, source: StreamingSource, trigger: TriggerConfig): Run = {
    runs += 1
    val dir = s"${a.scratch}/stream/$tag-$runs"
    val run = new Run(new StreamingPipeline(
      source = source,
      sink = FileStreamingSink(s"$dir/data"),
      transform = transform,
      outputMode = OutputMode.Append,
      trigger = trigger,
      checkpointLocation = Some(s"$dir/cp")).startStream(b.spark), s"$dir/data", s"$dir/cp")
    run
  }

  private def closedLoop(): Run = start("closed",
    ConnectorStreamingSource("rate-micro-batch", Map(
      "rowsPerBatch" -> RowsPerBatch.toString, "numPartitions" -> a.cores.toString)),
    TriggerConfig.ProcessingTime("0 seconds"))

  private def openLoop(): Run = start("open",
    RateStreamingSource(rowsPerSecond = OpenLoopRate, numPartitions = a.cores),
    TriggerConfig.ProcessingTime(OpenLoopTrigger))

  /** Completed micro-batches that processed rows. */
  private def batches(r: Run): Int = r.q.recentProgress.count(_.numInputRows > 0)

  /** Block until `r` has completed `n` batches and return the time the
    * n-th completion was seen. Polls every millisecond.
    */
  private def awaitBatch(r: Run, n: Int): Double = {
    val deadline = b.now() + BatchTimeoutS
    while (batches(r) < n) {
      if (!r.q.isActive) throw r.q.exception.getOrElse(new IllegalStateException("stream stopped"))
      if (b.now() > deadline) throw new IllegalStateException(s"no batch $n within ${BatchTimeoutS}s")
      Thread.sleep(1)
    }
    b.now()
  }

  /** Stop `r`. Callers stop right after `awaitBatch` saw a batch
    * complete, so the batch then in flight is cut long before its sink
    * commit, never between that commit and its progress report.
    */
  private def stop(r: Run): Seq[StreamingQueryProgress] = {
    r.q.stop()
    r.q.recentProgress.toSeq
  }

  /** Batch id → commit time (ms) from the checkpoint's commit log. */
  private def commits(r: Run): Map[Long, Long] =
    Option(new File(r.cp, "commits").listFiles()).toSeq.flatten
      .filter(_.getName.forall(_.isDigit))
      .map(f => f.getName.toLong -> f.lastModified()).toMap

  /** Sink file name → batch id, from the sink's metadata log. */
  private def sinkFiles(r: Run): Map[String, Long] = {
    val PathRe = "\"path\":\"[^\"]*/([^\"/]+)\"".r
    Option(new File(r.data, "_spark_metadata").listFiles()).toSeq.flatten
      .filter(_.getName.forall(_.isDigit)).flatMap { f =>
        val src = scala.io.Source.fromFile(f, "UTF-8")
        try PathRe.findAllMatchIn(src.mkString).map(_.group(1) -> f.getName.toLong).toList
        finally src.close()
      }.toMap
  }

  /** Output check: the sink holds Σ numInputRows rows over the batches it
    * committed, each `value` once, and `value_x2 = 2·value`.
    */
  private def check(name: String, r: Run, progress: Seq[StreamingQueryProgress]): Unit =
    b.attempt(name) {
      val inSink = sinkFiles(r).values.toSet
      val reported = progress.map(p => p.batchId -> p.numInputRows).toMap
      val missing = inSink -- reported.keySet
      if (missing.nonEmpty) b.fail(name, s"sink batches without progress: ${missing.toSeq.sorted}")
      val expect = inSink.toSeq.flatMap(reported.get).sum
      val Row(rows: Long, distinct: Long, bad: Long) = b.spark.read.parquet(r.data)
        .agg(count(lit(1)), countDistinct(col("value")),
          count(when(col("value_x2") =!= col("value") * 2, 1)))
        .head()
      if (rows != expect) b.fail(name, s"sink has $rows rows, progress reports $expect")
      if (distinct != rows) b.fail(name, s"${rows - distinct} repeated values")
      if (bad != 0) b.fail(name, s"$bad rows with value_x2 != 2*value")
    }

  private def ms(p: StreamingQueryProgress, k: String): Double =
    Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)

  private def wall(p: StreamingQueryProgress): Double =
    java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble

  def run(): Unit = {
    // set-up ends when the closed loop has run its warm-up batches; the
    // next batch is the first measured one
    var closed: Run = null
    var warm = 0.0
    b.setup { closed = closedLoop(); warm = awaitBatch(closed, ClosedWarmBatches) }
    b.tracer.root("workload", a.workload) {
      b.tracer.root("stream", "closed")(measureClosed(closed, warm))
      b.tracer.root("stream", "open")(measureOpen())
    }
  }

  /** Closed loop: pass samples are steady batch-to-batch times. In a
    * traced run the second half of the window is traced.
    */
  private def measureClosed(r: Run, warm: Double): Unit = {
    val half = a.seconds / 4
    val cycles = mutable.ArrayBuffer[(Double, Boolean, Long)]()
    var last = warm
    for (on <- if (a.trace) Seq(false, true) else Seq(false)) {
      if (on) {
        b.tracer.set(b.spark, true)
        last = awaitBatch(r, batches(r) + 1) // the batch cut by the switch is dropped
      }
      val end = b.now() + (if (a.trace) half else 2 * half)
      var n = batches(r)
      while (b.now() < end || cycles.count(_._2 == on) < MinBatches) {
        val t = awaitBatch(r, n + 1)
        n = batches(r)
        cycles += ((t - last, on, r.q.recentProgress.last.batchId))
        last = t
      }
    }
    val progress = stop(r)
    b.tracer.set(b.spark, false)
    cycles.foreach { case (t, on, _) => b.passSamples += ((t, on)) }
    check("closed", r, progress)
    if (a.trace) {
      val ids = cycles.filter(_._2).map(_._3).toSet
      val traced = progress.filter(p => ids.contains(p.batchId))
      val run = r.q.runId.toString
      traced.foreach(p => b.tracer.interval("batch", wall(p), wall(p) + ms(p, "triggerExecution"),
        s"closed:${p.batchId}", Some(Tracer.batchGroup(run, p.batchId))))
      b.metric("streaming.batch_ms", Stats.median(traced.map(ms(_, "triggerExecution"))), "ms")
      b.metric("streaming.add_batch_ms", Stats.median(traced.map(ms(_, "addBatch"))), "ms")
      val files = sinkFiles(r)
      val bytes = files.keys.toSeq.map(f => new File(r.data, f).length()).sum
      b.metric("streaming.bytes_written", bytes.toDouble / math.max(files.values.toSet.size, 1), "bytes")
      SparkLayer.report(b, traced.map(p => Tracer.batchGroup(run, p.batchId)),
        traced.map(ms(_, "triggerExecution") / 1e3))
    }
  }

  /** Open loop: operation samples are per-row event latencies of the
    * batches after the first `OpenWarmBatches`. In a traced run the
    * second half of the window is traced.
    */
  private def measureOpen(): Unit = {
    val r = openLoop()
    // run for `seconds` and until `n` batches have completed
    def runFor(seconds: Double, n: Int): Unit = {
      val end = b.now() + seconds
      while (b.now() < end || batches(r) < n) awaitBatch(r, batches(r) + 1)
    }
    val window = if (a.trace) a.seconds / 4 else a.seconds / 2
    runFor(window, OpenWarmBatches + MinOpenBatches)
    var switchedAt = Double.MaxValue
    if (a.trace) {
      b.tracer.set(b.spark, true)
      switchedAt = b.tracer.clock()
      // the batch running at the switch counts as untraced
      runFor(window, batches(r) + 1 + MinOpenBatches)
    }
    val progress = stop(r)
    b.tracer.set(b.spark, false)
    check("open", r, progress)
    val commit = commits(r)
    // a batch is traced if it started after tracing was switched on
    val tracedIds = progress.filter(p => wall(p) > switchedAt).map(_.batchId).toSet
    val byFile = sinkFiles(r).toSeq.flatMap { case (f, id) =>
      commit.get(id).map(c => (f, id, c.toDouble, tracedIds.contains(id)))
    }
    val spark = b.spark
    import spark.implicits._
    val lat = spark.read.parquet(r.data)
      .withColumn("f", regexp_extract(input_file_name(), "[^/]+$", 0))
      .join(byFile.toDF("f", "batch", "commit_ms", "traced"), "f")
      .where(col("batch") >= OpenWarmBatches && pmod(col("value"), lit(LatencySampleEvery)) === 0)
      .select(((col("commit_ms") - unix_micros(col("timestamp")) / 1000.0) / 1000.0).as("lat"),
        col("traced"))
      .collect()
    lat.foreach(row => b.opSamples += ((row.getDouble(0), row.getBoolean(1))))
    if (a.trace) {
      val traced = progress.filter(p => tracedIds.contains(p.batchId) && p.batchId >= OpenWarmBatches)
      val run = r.q.runId.toString
      traced.foreach(p => b.tracer.interval("batch", wall(p), wall(p) + ms(p, "triggerExecution"),
        s"open:${p.batchId}", Some(Tracer.batchGroup(run, p.batchId))))
      b.metric("streaming.planning_ms", Stats.median(traced.map(ms(_, "queryPlanning"))), "ms")
      b.metric("streaming.offsets_ms", Stats.median(traced.map(p =>
        ms(p, "latestOffset") + ms(p, "getBatch") + ms(p, "walCommit"))), "ms")
      b.metric("streaming.commit_ms", Stats.median(traced.map(ms(_, "commitOffsets"))), "ms")
      b.metric("streaming.rows_per_batch", Stats.median(traced.map(_.numInputRows.toDouble)), "rows")
      // rows the source had produced by a batch's commit but the sink
      // had not yet committed
      val start = b.spark.read.parquet(r.data).agg(min(unix_micros(col("timestamp")))).head().getLong(0) / 1e3
      var done = 0L
      val backlog = progress.sortBy(_.batchId).flatMap { p =>
        done += p.numInputRows
        commit.get(p.batchId).filter(_ => traced.contains(p))
          .map(c => OpenLoopRate * (c - start) / 1e3 - done)
      }
      b.metric("streaming.backlog_rows", Stats.median(backlog), "rows")
    }
  }
}

object StreamWorkload {
  /** Rows in each closed-loop micro-batch. */
  val RowsPerBatch = 200000L
  /** Open-loop source rate, about half the closed loop's sustained rate. */
  val OpenLoopRate = 300000L
  /** The rate source releases rows once per second of its own clock; a
    * 1 s trigger would add a random phase of up to a second per run, so
    * the open loop polls every 100 ms.
    */
  val OpenLoopTrigger = "100 milliseconds"
  /** Closed-loop batches run in the set-up. */
  val ClosedWarmBatches = 3
  /** Open-loop batches left out of the latency samples. */
  val OpenWarmBatches = 1
  /** Least number of measured closed-loop batches (per half when traced). */
  val MinBatches = 10
  /** Least number of measured open-loop batches (per half when traced). */
  val MinOpenBatches = 2
  val BatchTimeoutS = 60.0
  /** Event latency is sampled on every n-th `value`. */
  val LatencySampleEvery = 64
}
