package perfbench

import java.lang.management.ManagementFactory
import scala.collection.mutable
import org.apache.spark.sql.SparkSession

/** Command line of the benchmark JVM; `run.py` fills it in. */
final case class Args(
    workload: String, seed: Long, seconds: Double, trace: Boolean,
    cores: Int, data: String, scratch: String, out: String,
    traceOut: String, expected: String, conf: String, mode: String)

object Args {
  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def get(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(get("workload"), get("seed").toLong, get("seconds").toDouble,
      get("trace") == "1", get("cores").toInt, get("data"), get("scratch"),
      get("out"), m.getOrElse("trace-out", ""), get("expected"), get("conf"),
      m.getOrElse("mode", "measure"))
  }
}

/** State of one benchmark run: the session, the samples, the output
  * checks and the per-layer metrics.
  */
final class Bench(val a: Args) {
  private var session: SparkSession = _
  def spark: SparkSession = session
  val tracer = new Tracer(() => session.sparkContext, a.trace)

  var attempted = 0
  /** Failed operations: attempts that threw plus failed output checks. */
  var failed = 0
  val failures = mutable.LinkedHashSet[String]()
  val opSamples = mutable.ArrayBuffer[(Double, Boolean)]()
  val passSamples = mutable.ArrayBuffer[(Double, Boolean)]()
  var setupS = Double.NaN
  val layer = mutable.LinkedHashMap[String, (Double, String)]()
  val expected = Expected.load(a.expected)
  /** Output digests computed in this run (mode `expect`). */
  val digests = mutable.LinkedHashMap[String, (Long, String)]()

  def now(): Double = System.nanoTime() / 1e9

  /** Progress note on stderr, stamped with seconds since JVM start. */
  def log(msg: String): Unit = System.err.println(
    f"[perfbench] ${ManagementFactory.getRuntimeMXBean.getUptime / 1e3}%.1fs $msg")

  def startSession(): SparkSession = {
    session = SparkSession.builder()
      .master(s"local[${a.cores}]")
      .appName(s"perfbench-${a.workload}")
      .config("spark.sql.shuffle.partitions", a.cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.local.dir", s"${a.scratch}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.scratch}/warehouse")
      // keep every micro-batch's progress, commit file and sink-log
      // entry, so checks and event latencies see each batch
      .config("spark.sql.streaming.numRecentProgressUpdates", "10000")
      .config("spark.sql.streaming.minBatchesToRetain", "100000")
      .config("spark.sql.streaming.fileSink.log.compactInterval", "100000")
      .config("spark.sql.streaming.noDataProgressEventInterval", "3600000")
      .getOrCreate()
    session.sparkContext.setLogLevel("ERROR")
    session
  }

  /** The run's set-up, from JVM start to the end of `warm`: a fresh
    * session with an empty java.io.tmpdir of its own (graft's frozen
    * artifacts are built there), then the unmeasured warm pass, which
    * checks every output.
    */
  def setup(warm: => Unit): Unit = {
    val tmp = new java.io.File(s"${a.scratch}/tmp/run")
    tmp.mkdirs()
    System.setProperty("java.io.tmpdir", tmp.getPath)
    startSession()
    warm
    setupS = ManagementFactory.getRuntimeMXBean.getUptime / 1e3
    log(f"set-up: ${setupS}%.2fs")
  }

  /** Run `body` as one attempted operation; a throw counts as a failure. */
  def attempt[T](name: String)(body: => T): Option[T] = {
    attempted += 1
    try Some(body)
    catch {
      case e: Throwable =>
        fail(name, s"threw ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}")
        None
    }
  }

  def fail(name: String, why: String): Unit = {
    failed += 1
    failures += name
    System.err.println(s"[perfbench] FAILED $name: $why")
  }

  /** Compare (rows, digest) with the expected entry for `name`. */
  def check(name: String, rows: Long, digest: String): Unit = {
    if (a.mode == "expect") digests(name) = (rows, digest)
    else expected.get(name) match {
      case None => fail(name, "no expected output stored")
      case Some(e) =>
        if (e.rows != rows) fail(name, s"rows $rows, expected ${e.rows}")
        else if (e.digest != "*" && e.digest != digest)
          fail(name, s"digest $digest, expected ${e.digest}")
    }
  }

  /** Set per-layer metric `name`. */
  def metric(name: String, value: Double, unit: String): Unit =
    layer(name) = (value, unit)

  /** Flip tracing for measured pass `i`: a traced run's passes follow
    * the pattern untraced, traced, traced, untraced, so the overhead of
    * tracing is measured inside the same run; a full cycle does not
    * favour either side with the later, warmer passes.
    */
  def tracedPass(i: Int): Boolean = {
    val on = a.trace && (i % 4 == 1 || i % 4 == 2)
    tracer.set(spark, on)
    on
  }

  /** Least number of measured passes in an untraced and a traced run. */
  def minPasses(untraced: Int, traced: Int): Int = if (a.trace) traced else untraced

  def result(): String = {
    def q(xs: Seq[Double], p: Double) = Stats.quantile(xs, p)
    val ops = opSamples.filter(!_._2).map(_._1).toSeq
    val passes = passSamples.filter(!_._2).map(_._1).toSeq
    val rss = Bench.peakRssMb()
    val e2e = Seq(
      ("setup_s", setupS, "s", 1),
      ("op_p50_s", q(ops, 0.5), "s", ops.size),
      ("pass_s", Stats.median(passes), "s", passes.size))
    val metrics =
      if (!a.trace) e2e
      else {
        val tOps = opSamples.filter(_._2).map(_._1).toSeq
        val tPasses = passSamples.filter(_._2).map(_._1).toSeq
        metric("overhead.op_p50_s", q(tOps, 0.5) - q(ops, 0.5), "s")
        metric("overhead.pass_s", Stats.median(tPasses) - Stats.median(passes), "s")
        metric("trace.setup_s", setupS, "s")
        metric("trace.peak_rss_mb", rss, "MB")
        Jvm.metrics(this)
        layer.toSeq.map { case (n, (v, u)) => (n, v, u, 1) }
      }
    if (a.trace && a.traceOut.nonEmpty)
      tracer.write(a.traceOut, metrics.map { case (n, v, u, _) => (n, v, u) })
    val body = metrics.map { case (n, v, u, k) =>
      s"${Json.str(n)}:{\"value\":${Json.num(v)},\"unit\":${Json.str(u)},\"samples\":$k}"
    }.mkString(",")
    s"""{"correct":${failures.isEmpty},"attempted":$attempted,"failed":$failed,""" +
      s""""failed_ops":[${failures.map(Json.str).mkString(",")}],""" +
      s""""peak_rss_mb":${Json.num(rss)},"op_p80_s":${Json.num(q(ops, 0.8))},"metrics":{$body}}"""
  }

  def stop(): Unit = if (session != null) {
    session.sparkContext.setLogLevel("OFF")
    session.stop()
  }
}

object Bench {
  /** Peak resident set (VmHWM) of this JVM. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024
    }.getOrElse(Double.NaN)
    finally src.close()
  }
}

object Jvm {
  import scala.jdk.CollectionConverters._
  def metrics(b: Bench): Unit = {
    val gc = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum
    val heap = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum
    b.metric("jvm.gc_s", gc / 1e3, "s")
    b.metric("jvm.heap_peak_mb", heap / 1048576.0, "MB")
  }
}

object Stats {
  /** Linear-interpolated quantile; NaN for no samples. */
  def quantile(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val i = p * (s.size - 1)
      val lo = math.floor(i).toInt
      val hi = math.ceil(i).toInt
      s(lo) + (s(hi) - s(lo)) * (i - lo)
    }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
}

object Main {
  def main(argv: Array[String]): Unit = {
    val a = Args.parse(argv)
    val b = new Bench(a)
    val code =
      try {
        a.workload match {
          case "queries" => new QueryLoop(b).run()
          case "stream" => new StreamWorkload(b).run()
          case "pipeline" => new PipelineWorkload(b).run()
          case w => throw new IllegalArgumentException(s"unknown workload $w")
        }
        b.log("workload done")
        val out = a.mode match {
          case "expect" => Some(Expected.render(b.digests))
          case "dump" => None
          case _ => Some(b.result())
        }
        b.stop()
        b.log("session stopped")
        out.foreach(o => java.nio.file.Files.write(
          java.nio.file.Paths.get(a.out), (o + "\n").getBytes("UTF-8")))
        0
      } catch {
        case e: Throwable =>
          e.printStackTrace()
          2
      }
    System.exit(code)
  }
}
