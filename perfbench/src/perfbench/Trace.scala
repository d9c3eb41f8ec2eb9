package perfbench

import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** A span: wall-clock milliseconds, parent span id (-1 for a root) and the
  * operation it belongs to ("" when none).
  */
final case class Span(id: Int, name: String, start: Double, end: Double,
    parent: Int, op: String)

/** Spark work of one job group, summed over its jobs, stages and tasks. */
final class Work {
  var jobs, stages, tasks, failedTasks = 0L
  var cpuNs, runMs, gcMs, inputBytes, shuffleRead, shuffleWrite, spill = 0L
}

/** Records spans and Spark work while `on`; everything stays in memory
  * until `write` at exit. The span API is a pass-through while off, so
  * traced and untraced passes run the same code.
  *
  * Spark work is attributed by job group: `phase` sets a group for the
  * calling thread, and every job, stage and task launched under it is
  * counted against that group. Micro-batch jobs are grouped by their
  * `streaming.sql.batchId` property instead.
  */
final class Tracer(sc: () => SparkContext, traceRun: Boolean) {
  private val t0Wall = System.currentTimeMillis().toDouble
  private val t0Nano = System.nanoTime()
  def clock(): Double = t0Wall + (System.nanoTime() - t0Nano) / 1e6

  @volatile private var enabled = false
  def on: Boolean = enabled

  private val spans = mutable.ArrayBuffer[Span]()
  private var stack = List.empty[Int]
  private var nextId = 0
  private val groupSpan = mutable.Map[String, Int]()

  private def record(name: String, start: Double, end: Double, parent: Int,
      op: String): Int = spans.synchronized {
    val id = nextId
    nextId += 1
    spans += Span(id, name, start, end, parent, op)
    id
  }

  /** Time `body` as a child of the innermost open span. */
  def span[T](name: String, op: String = "")(body: => T): T =
    if (!enabled) body else timed(name, op)(body)

  /** A span recorded in every traced run, whether or not the current
    * pass is traced: the workload level above the passes.
    */
  def root[T](name: String, op: String = "")(body: => T): T =
    if (!traceRun) body else timed(name, op)(body)

  private def timed[T](name: String, op: String)(body: => T): T = {
    val id = spans.synchronized { val i = nextId; nextId += 1; i }
    val parent = stack.headOption.getOrElse(-1)
    stack = id :: stack
    val start = clock()
    try body
    finally {
      stack = stack.tail
      spans.synchronized { spans += Span(id, name, start, clock(), parent, op) }
    }
  }

  /** A span whose Spark jobs are counted under `group`. */
  def phase[T](name: String, op: String, group: String)(body: => T): T =
    if (!enabled) body
    else span(name, op) {
      groupSpan(group) = stack.head
      sc().setJobGroup(group, s"$op $name")
      try body finally sc().clearJobGroup()
    }

  /** Record an already finished interval of a traced run (e.g. a
    * micro-batch, whose progress is read after the fact).
    */
  def interval(name: String, start: Double, end: Double, op: String,
      group: Option[String] = None): Unit = if (traceRun) {
    val id = record(name, start, end, stack.headOption.getOrElse(-1), op)
    group.foreach(groupSpan(_) = id)
  }

  // ---- Spark listeners, registered only while tracing is on ----------
  private val groups = mutable.Map[String, Work]()
  private val jobGroup = mutable.Map[Int, String]()
  private val stageGroup = mutable.Map[Int, String]()
  private val jobTimes = mutable.Map[Int, (Double, Double)]()
  private val stageTimes = mutable.ArrayBuffer[(Int, Double, Double)]()
  private val stageJob = mutable.Map[Int, Int]()
  /** (phase start ms, analysis ms, optimization ms, planning ms) */
  val planning = mutable.ArrayBuffer[(Double, Double, Double, Double)]()

  private def workOf(g: String): Work = groups.getOrElseUpdate(g, new Work)

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      val p = Option(e.properties)
      def prop(k: String) = p.flatMap(x => Option(x.getProperty(k)))
      val group = prop("spark.jobGroup.id").getOrElse("")
      val g = prop("streaming.sql.batchId").map(Tracer.batchGroup(group, _)).getOrElse(group)
      jobGroup(e.jobId) = g
      jobTimes(e.jobId) = (e.time.toDouble, e.time.toDouble)
      e.stageIds.foreach { s => stageGroup(s) = g; stageJob.getOrElseUpdate(s, e.jobId) }
      workOf(g).jobs += 1
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobTimes.get(e.jobId).foreach { case (s, _) => jobTimes(e.jobId) = (s, e.time.toDouble) }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      if (!e.taskInfo.successful)
        workOf(stageGroup.getOrElse(e.stageId, "")).failedTasks += 1
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Tracer.this.synchronized {
      val i = e.stageInfo
      val w = workOf(stageGroup.getOrElse(i.stageId, ""))
      w.stages += 1
      w.tasks += i.numTasks
      val m = i.taskMetrics
      if (m != null) {
        w.cpuNs += m.executorCpuTime
        w.runMs += m.executorRunTime
        w.gcMs += m.jvmGCTime
        w.inputBytes += m.inputMetrics.bytesRead
        w.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        w.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        w.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
      for (s <- i.submissionTime; c <- i.completionTime)
        stageTimes += ((i.stageId, s.toDouble, c.toDouble))
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = {
      val ph = qe.tracker.phases
      def ms(k: String) = ph.get(k).map(_.durationMs.toDouble).getOrElse(0.0)
      val start = ph.values.map(_.startTimeMs).reduceOption(_ min _).getOrElse(0L)
      planning.synchronized {
        planning += ((start.toDouble, ms("analysis"), ms("optimization"), ms("planning")))
      }
    }
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  /** Switch tracing on or off, (de)registering the listeners on `spark`. */
  def set(spark: SparkSession, value: Boolean): Unit = if (value != enabled) {
    drain()
    if (value) {
      spark.sparkContext.addSparkListener(sparkListener)
      spark.listenerManager.register(qeListener)
    } else {
      spark.sparkContext.removeSparkListener(sparkListener)
      spark.listenerManager.unregister(qeListener)
    }
    enabled = value
  }

  def drain(): Unit = org.apache.spark.PerfbenchBus.drain(sc())

  /** Spark work launched under `group`. */
  def work(group: String): Work = synchronized { groups.getOrElse(group, new Work) }

  /** Jobs and stages become spans under the phase that launched them. */
  private def allSpans(): Seq[Span] = synchronized {
    val jobSpan = mutable.Map[Int, Int]()
    jobTimes.toSeq.sortBy(_._1).foreach { case (j, (s, e)) =>
      val g = jobGroup.getOrElse(j, "")
      jobSpan(j) = record("job", s, e, groupSpan.getOrElse(g, -1), g)
    }
    stageTimes.foreach { case (st, s, e) =>
      val j = stageJob.getOrElse(st, -1)
      record("stage", s, e, jobSpan.getOrElse(j, -1), jobGroup.getOrElse(j, ""))
    }
    spans.synchronized(spans.toSeq)
  }

  /** Per span name: count, total and self milliseconds. Self time is the
    * span's duration minus the part its children cover.
    */
  private def layers(all: Seq[Span]): Seq[(String, Int, Double, Double)] = {
    val kids = all.groupBy(_.parent)
    def covered(sp: Span): Double = {
      val iv = kids.getOrElse(sp.id, Nil)
        .map(c => (math.max(c.start, sp.start), math.min(c.end, sp.end)))
        .filter(x => x._2 > x._1).sortBy(_._1)
      var total, curS, curE = 0.0
      var open = false
      iv.foreach { case (s, e) =>
        if (!open || s > curE) {
          if (open) total += curE - curS
          curS = s; curE = e; open = true
        } else curE = math.max(curE, e)
      }
      if (open) total += curE - curS
      total
    }
    all.groupBy(_.name).toSeq.sortBy(_._1).map { case (n, ss) =>
      val tot = ss.map(s => s.end - s.start).sum
      (n, ss.size, tot, tot - ss.map(covered).sum)
    }
  }

  /** Write spans, the per-layer self-time summary and `metrics` as JSON. */
  def write(path: String, metrics: Seq[(String, Double, String)]): Unit = {
    val all = allSpans()
    val sb = new StringBuilder
    sb ++= "{\"metrics\":{"
    sb ++= metrics.map { case (n, v, u) =>
      s"${Json.str(n)}:{\"value\":${Json.num(v)},\"unit\":${Json.str(u)}}" }.mkString(",")
    sb ++= "},\n\"layers\":["
    sb ++= layers(all).map { case (n, c, t, s) =>
      s"{\"name\":${Json.str(n)},\"count\":$c,\"total_ms\":${Json.num(t)},\"self_ms\":${Json.num(s)}}"
    }.mkString(",\n")
    sb ++= "],\n\"spans\":[\n"
    sb ++= all.sortBy(_.id).map { s =>
      s"{\"id\":${s.id},\"name\":${Json.str(s.name)},\"start\":${Json.num(s.start - t0Wall)}," +
        s"\"end\":${Json.num(s.end - t0Wall)},\"parent\":${s.parent},\"op\":${Json.str(s.op)}}"
    }.mkString(",\n")
    sb ++= "]}\n"
    val p = java.nio.file.Paths.get(path)
    java.nio.file.Files.createDirectories(p.getParent)
    java.nio.file.Files.write(p, sb.toString.getBytes("UTF-8"))
  }
}

object Tracer {
  /** Group of micro-batch `batch` of the stream whose run id is `runId`. */
  def batchGroup(runId: String, batch: Any): String = s"$runId:batch:$batch"
}

object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else java.math.BigDecimal.valueOf(v).toPlainString
}
