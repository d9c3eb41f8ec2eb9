package graft.runner

import org.apache.spark.sql.SparkSession
import graft.core.component.Cfg
import graft.core.config.{ComponentConfig, ConfigLoader, Enums, PipelineConfig}
import graft.core.resilience.CircuitBreaker
import graft.runtime.SessionWrapper

/** Sequential pipeline runner (reference: runner/simple_runner.py:24-196).
  *
  * Deliberately sequential — one component at a time in topological
  * order (docs/scope.rst:231-244): Spark parallelizes *inside* each
  * component across the cluster; running components serially keeps
  * ordering predictable and resume semantics simple. `depends_on`
  * controls ordering, not parallelism.
  *
  * Components hand each other lazy temp views, and most curation
  * components join their input with an aggregate of that same input, so
  * a fully lazy pipeline repeats its lineage in every downstream plan.
  * The runner therefore places the cuts: after a component succeeds,
  * its `output_view` is replaced by an eager `localCheckpoint` of
  * itself ([[ComponentExecutor]]), except where fusing costs nothing —
  * a view whose optimised plan is a scan with only Project/Filter above
  * it, and a view whose only dependent component is a sink, which fuses
  * into the write. A cut view holds executor storage until it is
  * replaced or dropped and its RDD is garbage-collected, and it is
  * session-scoped: resume in a new session does not find it.
  */
final class SimplePipelineRunner(
    config: PipelineConfig,
    hooks: PipelineHooks = NoOpHooks,
    session: Option[SparkSession] = None,
    checkpointStore: Option[CheckpointStore] = None,
    failFast: Boolean = true,
    clock: () => Double = () => System.nanoTime() / 1e9,
    sleep: Double => Unit = s => Thread.sleep((s * 1000).toLong)) {
  import PipelineHooks.safely

  private val wrapper = new SessionWrapper(config.spark, session)
  private val circuitBreakers =
    new scala.collection.concurrent.TrieMap[String, CircuitBreaker]()
  private val allHooks = new CompositeHooks(
    Seq(hooks) ++ checkpointStore.map(new CheckpointHooks(_, config)))

  def run(): PipelineResult = {
    val start = clock()
    safely("beforePipeline")(allHooks.beforePipeline(config.name))

    // resume: components completed under the same structural fingerprint
    // are skipped (simple_runner.py:127-130)
    val completed: Set[String] =
      checkpointStore.map(_.completedFor(config.name, config)).getOrElse(Set.empty)

    val order = config.executionOrder
    val executor = new ComponentExecutor(() => wrapper.session, allHooks,
      circuitBreakers, clock, sleep)

    val results = scala.collection.mutable.ListBuffer[ComponentResult]()
    var failed = false
    for (name <- order) {
      val cfg = config.component(name).get
      if (!cfg.enabled || completed.contains(name))
        results += ComponentResult(name, ComponentStatus.Skipped)
      else if (failed && failFast)
        results += ComponentResult(name, ComponentStatus.Skipped)
      else {
        val r = executor.execute(cfg, cutOf(cfg))
        results += r
        if (r.status == ComponentStatus.Failed) failed = true
      }
    }

    val totalMs = ((clock() - start) * 1000).toLong
    val result = PipelineResult(
      config.name,
      PipelineResult.statusOf(results.toSeq),
      results.toSeq,
      totalMs,
      errors = results.flatMap(_.error).map(_.getMessage).toSeq)
    safely("afterPipeline")(allHooks.afterPipeline(config.name, result))
    result
  }

  /** The view to cut after `cfg` succeeds: its `output_view`, unless
    * the only component depending on `cfg` is a sink.
    */
  private def cutOf(cfg: ComponentConfig): Option[String] = {
    val readers = config.components.filter(_.dependsOn.contains(cfg.name))
    val sinkOnly = readers.map(_.componentType) == Seq(Enums.ComponentType.Sink)
    Cfg.strOpt(cfg.config, "output_view").filterNot(_ => sinkOnly)
  }

  /** Stop the session if this runner created it. */
  def close(): Unit = wrapper.stop()
}

object SimplePipelineRunner {
  /** from_file (simple_runner.py:68-80). */
  def fromFile(
      path: String,
      hooks: PipelineHooks = NoOpHooks,
      session: Option[SparkSession] = None): SimplePipelineRunner =
    new SimplePipelineRunner(ConfigLoader.loadFile(path), hooks, session)
}
