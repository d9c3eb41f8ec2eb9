package graft.runner

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Project}
import graft.core.component._
import graft.core.config.ComponentConfig
import graft.core.resilience.{CircuitBreaker, RetryExecutor}
import graft.runtime.ComponentLoader

/** Per-component execution (reference: runner/component_executor.py:27-186):
  * circuit-breaker gate → reflective instantiation → session injection →
  * Resource.open → retry-wrapped run() and cut → Resource.close
  * (finally) → hook callbacks; every failure is captured into a
  * ComponentResult rather than thrown.
  *
  * The cut (the `cut` view the runner names, see
  * [[SimplePipelineRunner]]) runs inside the retry, after run() and
  * before afterComponent: its jobs, time, errors and retries belong to
  * the producing component, so hooks see them, the circuit breaker
  * counts them, and a component whose plan fails when it runs is never
  * journalled as completed.
  */
final class ComponentExecutor(
    spark: () => SparkSession,
    hooks: PipelineHooks,
    circuitBreakers: scala.collection.concurrent.Map[String, CircuitBreaker],
    clock: () => Double = () => System.nanoTime() / 1e9,
    sleep: Double => Unit = s => Thread.sleep((s * 1000).toLong)) {
  import PipelineHooks.safely

  def circuitBreakerFor(cfg: ComponentConfig): Option[CircuitBreaker] =
    cfg.effectiveCircuitBreaker.map { cbCfg =>
      circuitBreakers.getOrElseUpdate(cfg.name,
        new CircuitBreaker(cfg.name, cbCfg, clock,
          (from, to) => safely("onCircuitBreakerStateChange")(
            hooks.onCircuitBreakerStateChange(cfg.name, from, to))))
    }

  def execute(cfg: ComponentConfig, cut: Option[String]): ComponentResult = {
    val start = clock()
    def ms = ((clock() - start) * 1000).toLong
    safely("beforeComponent")(hooks.beforeComponent(cfg.name))

    val cb = circuitBreakerFor(cfg)
    if (cb.exists(!_.allowRequest())) {
      val err = CircuitBreaker.CircuitOpenError(cfg.name)
      safely("onComponentFailure")(hooks.onComponentFailure(cfg.name, err))
      val r = ComponentResult(cfg.name, ComponentStatus.Failed, ms, 0, Some(err))
      safely("afterComponent")(hooks.afterComponent(cfg.name, r))
      return r
    }

    var retries = 0
    val result =
      try {
        val component = ComponentLoader.load(cfg.classPath, cfg.config)
        component match {
          case df: DataFlow => df.setSparkSession(spark())
          case _ => ()
        }
        component match {
          case r: Resource => r.open()
          case _ => ()
        }
        try {
          val retryCfg = cfg.effectiveRetry.getOrElse(graft.core.config.RetryConfig(maxAttempts = 1))
          val retry = new RetryExecutor(retryCfg, sleep,
            onRetry = (attempt, e, delay) => {
              retries = attempt
              safely("onRetryAttempt")(hooks.onRetryAttempt(cfg.name, attempt, e, delay))
            })
          retry.execute { () => component.run(); cut.foreach(materialise) }
          cb.foreach(_.recordSuccess())
          ComponentResult(cfg.name, ComponentStatus.Success, ms, retries)
        } finally {
          component match {
            case r: Resource => safely("Resource.close")(r.close())
            case _ => ()
          }
        }
      } catch {
        case e: Throwable =>
          cb.foreach(_.recordFailure())
          safely("onComponentFailure")(hooks.onComponentFailure(cfg.name, e))
          ComponentResult(cfg.name, ComponentStatus.Failed, ms, retries, Some(e))
      }
    safely("afterComponent")(hooks.afterComponent(cfg.name, result))
    result
  }

  /** Replace `view` with an eager `localCheckpoint` of itself, under the
    * same name, unless its optimised plan is a scan with only
    * Project/Filter above it: re-reading such a view costs what reading
    * a checkpoint does, and leaving it lazy keeps filter pushdown and
    * column pruning into the scan.
    *
    * Plain `localCheckpoint`, not `Scale.gatedCheckpoint`: a global
    * window in the view (e.g. `Sampling.neymanOf`'s) runs single-task
    * wherever the view executes, so the cut adds no funnel the gate
    * could prevent, and gating it would refuse NeymanSample views.
    */
  private def materialise(view: String): Unit = {
    val df = spark().table(view)
    if (!scanOnly(df.queryExecution.optimizedPlan))
      df.localCheckpoint().createOrReplaceTempView(view)
  }

  /** A leaf with only Project/Filter above it. */
  private def scanOnly(plan: LogicalPlan): Boolean = plan match {
    case Project(_, child) => scanOnly(child)
    case Filter(_, child) => scanOnly(child)
    case p => p.children.isEmpty
  }
}
