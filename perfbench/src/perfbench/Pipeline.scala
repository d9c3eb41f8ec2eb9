package perfbench

import scala.collection.mutable
import graft.core.config.{ConfigLoader, ConfigValidator, Enums}
import graft.runner._

/** `pipeline`: the nine-component curation pipeline, loaded from the
  * benchmark's HOCON copy, validated and run on a shared session. An
  * operation is `SimplePipelineRunner.run` up to its `PipelineResult`,
  * with the parquet snapshot written; a pass adds loading and validating
  * the HOCON file.
  * The seed is recorded but does not change the inputs.
  */
final class PipelineWorkload(b: Bench) {
  private val a = b.a
  private val snapshot = s"${a.scratch}/pipeline/curation_snapshot"

  /** One traced run's figures. */
  private final case class Traced(load: Double, validate: Double, run: Double,
      components: Seq[(String, Double, String)], retries: Int)
  private val traced = mutable.ArrayBuffer[Traced]()

  /** Times every component; while tracing, also puts its Spark jobs in a
    * job group of their own and records a span for it.
    */
  private final class Timing(runId: String) extends PipelineHooks {
    val components = mutable.ArrayBuffer[(String, Double, String)]()
    var retries = 0
    private var start, wallStart = 0.0
    private def group(c: String) = s"$runId:component:$c"
    override def beforeComponent(c: String): Unit = {
      if (b.tracer.on) b.spark.sparkContext.setJobGroup(group(c), c)
      wallStart = b.tracer.clock()
      start = b.now()
    }
    override def afterComponent(c: String, r: ComponentResult): Unit = {
      components += ((c, b.now() - start, group(c)))
      if (b.tracer.on) {
        b.spark.sparkContext.clearJobGroup()
        b.tracer.interval("component", wallStart, b.tracer.clock(), c, Some(group(c)))
      }
    }
    override def onRetryAttempt(c: String, n: Int, e: Throwable, d: Double): Unit = retries += 1
  }

  /** Load, validate and run the pipeline once, then check its snapshot. */
  private def once(id: String, measured: Boolean): Unit = {
    val hooks = new Timing(id)
    val on = b.tracer.on
    val t0 = b.now()
    var load, validate, run = 0.0
    val res = b.attempt(id) {
      b.tracer.span("pipeline", id) {
        val cfg = b.tracer.span("config.load", id)(ConfigLoader.loadFile(a.conf))
        load = b.now() - t0
        val report = b.tracer.span("config.validate", id)(ConfigValidator.validateFile(a.conf))
        validate = b.now() - t0 - load
        if (!report.isValid) throw new IllegalStateException(report.issues.mkString("; "))
        val r = new SimplePipelineRunner(cfg, hooks, Some(b.spark)).run()
        run = b.now() - t0 - load - validate
        r
      }
    }
    val t = b.now() - t0
    res.foreach { r =>
      if (r.status != PipelineStatus.Success)
        b.fail(id, s"status ${r.status}: ${r.errors.mkString("; ")}")
      else if (measured) {
        b.opSamples += ((run, on))
        b.passSamples += ((t, on))
        b.log(f"$id${if (on) " (traced)" else ""}: ${t}%.2fs")
        if (on) traced += Traced(load, validate, t, hooks.components.toSeq, hooks.retries)
      } else b.attempt(s"$id-snapshot") {
        val (rows, digest) = Digest.of(b.spark.read.parquet(snapshot))
        b.check("pipeline_snapshot", rows, digest)
      }
    }
  }

  def run(): Unit = {
    if (a.mode == "expect") {
      b.startSession()
      once("expect", measured = false)
      return
    }
    b.setup(once("warm", measured = false))
    b.tracer.root("workload", a.workload) {
      val end = b.now() + a.seconds
      var i = 0
      while (i < b.minPasses(1, 2) || b.now() < end) {
        b.tracedPass(i)
        once(s"run$i", measured = true)
        i += 1
      }
      b.tracer.set(b.spark, false)
    }
    if (a.trace) report()
  }

  private def report(): Unit = {
    b.metric("config.load_s", Stats.median(traced.map(_.load).toSeq), "s")
    b.metric("config.validate_s", Stats.median(traced.map(_.validate).toSeq), "s")
    val comps = traced.flatMap(_.components).toSeq
    comps.groupBy(_._1).foreach { case (c, xs) =>
      b.metric(s"runner.component_s.$c", Stats.median(xs.map(_._2)), "s")
      b.metric(s"runner.component_jobs.$c",
        Stats.mean(xs.map(x => b.tracer.work(x._3).jobs.toDouble)), "count")
    }
    b.metric("runner.retries", traced.map(_.retries).sum.toDouble, "count")
    val sinks = ConfigLoader.loadFile(a.conf).components
      .filter(_.componentType == Enums.ComponentType.Sink).map(_.name).toSet
    b.metric("runner.sink_frac",
      comps.filter(c => sinks(c._1)).map(_._2).sum / traced.map(_.run).sum, "ratio")
    SparkLayer.report(b, comps.map(_._3), comps.map(_._2))
  }

}
