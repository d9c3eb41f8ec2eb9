package graft.core.config

/** Typed pipeline-configuration model (reference:
  * core/config/{base,retry,spark,component,hooks,secrets,pipeline}.py).
  * Frozen case classes with constructor-time validation, mirroring the
  * reference's frozen dataclasses + __post_init__ checks.
  */

final case class ConfigError(message: String) extends RuntimeException(message)

object Enums {
  sealed abstract class Environment(val name: String)
  object Environment {
    case object Local extends Environment("local")
    case object Dev extends Environment("dev")
    case object Staging extends Environment("staging")
    case object Prod extends Environment("prod")
    val all = Seq(Local, Dev, Staging, Prod)
    def from(s: String): Environment =
      all.find(_.name == s.toLowerCase)
        .getOrElse(throw ConfigError(s"unknown environment: $s"))
  }

  sealed abstract class PipelineMode(val name: String)
  object PipelineMode {
    case object Batch extends PipelineMode("batch")
    case object Streaming extends PipelineMode("streaming")
    def from(s: String): PipelineMode = s.toLowerCase match {
      case "batch" => Batch
      case "streaming" => Streaming
      case o => throw ConfigError(s"unknown pipeline mode: $o")
    }
  }

  sealed abstract class ComponentType(val name: String)
  object ComponentType {
    case object Source extends ComponentType("source")
    case object Transformation extends ComponentType("transformation")
    case object Sink extends ComponentType("sink")
    def from(s: String): ComponentType = s.toLowerCase match {
      case "source" => Source
      case "transformation" => Transformation
      case "sink" => Sink
      case o => throw ConfigError(s"unknown component type: $o")
    }
  }
}

/** Retry with exponential backoff + jitter (core/config/retry.py:6-44).
  * Delay for attempt n = min(initial·mult^n, max)·(1 + jitter·rand).
  */
final case class RetryConfig(
    maxAttempts: Int = 3,
    initialDelaySeconds: Double = 1.0,
    maxDelaySeconds: Double = 60.0,
    backoffMultiplier: Double = 2.0,
    jitter: Double = 0.1,
    retryOnExceptions: Seq[String] = Nil) {
  if (maxAttempts < 1) throw ConfigError("max_attempts must be >= 1")
  if (initialDelaySeconds < 0) throw ConfigError("initial_delay must be >= 0")
  if (maxDelaySeconds < initialDelaySeconds)
    throw ConfigError("max_delay must be >= initial_delay")
  if (backoffMultiplier < 1.0) throw ConfigError("backoff_multiplier must be >= 1")
  if (jitter < 0 || jitter > 1) throw ConfigError("jitter must be in [0,1]")
}

/** Circuit breaker thresholds (core/config/retry.py:47-75). */
final case class CircuitBreakerConfig(
    failureThreshold: Int = 5,
    successThreshold: Int = 2,
    timeoutSeconds: Double = 60.0,
    halfOpenMaxCalls: Int = 1) {
  if (failureThreshold < 1) throw ConfigError("failure_threshold must be >= 1")
  if (successThreshold < 1) throw ConfigError("success_threshold must be >= 1")
  if (timeoutSeconds <= 0) throw ConfigError("timeout must be > 0")
  if (halfOpenMaxCalls < 1) throw ConfigError("half_open_max_calls must be >= 1")
}

/** Bundled policy, mutually exclusive with standalone retry/CB on a
  * component (core/config/retry.py:78-93, expansion in component.py:60-65).
  */
final case class ResiliencePolicy(
    retry: Option[RetryConfig] = None,
    circuitBreaker: Option[CircuitBreakerConfig] = None)

/** Presets (core/config/presets.py:14-109). */
object Presets {
  val NoRetry: RetryConfig = RetryConfig(maxAttempts = 1)
  val DefaultRetry: RetryConfig = RetryConfig()
  val AggressiveRetry: RetryConfig =
    RetryConfig(maxAttempts = 5, initialDelaySeconds = 0.5, maxDelaySeconds = 30.0)
  val ConservativeRetry: RetryConfig =
    RetryConfig(maxAttempts = 2, initialDelaySeconds = 5.0, maxDelaySeconds = 120.0)
  val DefaultCircuitBreaker: CircuitBreakerConfig = CircuitBreakerConfig()
  val SensitiveCircuitBreaker: CircuitBreakerConfig =
    CircuitBreakerConfig(failureThreshold = 2, timeoutSeconds = 120.0)
  val ResilientCircuitBreaker: CircuitBreakerConfig =
    CircuitBreakerConfig(failureThreshold = 10, timeoutSeconds = 30.0)
}

/** Spark session settings flattened to spark.* properties
  * (core/config/spark.py:8-83). The resource settings are optional: one
  * the config leaves unset is not emitted, so spark-submit's and
  * spark-defaults' values stand on a cluster.
  */
final case class SparkConfig(
    appName: String = "graft-pipeline",
    master: Option[String] = None,
    deployMode: Option[String] = None,
    driverMemory: Option[String] = None,
    driverCores: Option[Int] = None,
    executorMemory: Option[String] = None,
    executorCores: Option[Int] = None,
    numExecutors: Option[Int] = None,
    dynamicAllocation: Option[Boolean] = None,
    sparkConf: Map[String, String] = Map.empty,
    connectString: Option[String] = None) {

  /** Flatten to spark.* properties (spark.py:59-83): the app name, then
    * only the settings that are set. Explicit sparkConf entries win over
    * the derived ones.
    */
  def toSparkConfMap: Map[String, String] =
    Map("spark.app.name" -> appName) ++ Seq(
      "spark.master" -> master,
      "spark.driver.memory" -> driverMemory,
      "spark.driver.cores" -> driverCores,
      "spark.executor.memory" -> executorMemory,
      "spark.executor.cores" -> executorCores,
      "spark.executor.instances" -> numExecutors,
      "spark.dynamicAllocation.enabled" -> dynamicAllocation)
      .collect { case (k, Some(v)) => k -> v.toString } ++ sparkConf
}

object SparkConfig {

  /** The in-process session every graft main and the spec suite open
    * through [[graft.runtime.SessionWrapper]]: `local[cores]` with one
    * shuffle partition per core, UI off, UTC session time (the DuckDB
    * oracle's zone), and `nanosAsLong` — `events.parquet` carries INT64
    * TIMESTAMP(NANOS), which Spark otherwise refuses
    * (PARQUET_TYPE_ILLEGAL); [[graft.Tables.t]] converts it back.
    * `cores` defaults to SPARK_GRAFT_CPUS (32 when unset).
    */
  def local(cores: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt): SparkConfig =
    SparkConfig(
      master = Some(s"local[$cores]"),
      sparkConf = Map(
        "spark.sql.shuffle.partitions" -> cores.toString,
        "spark.ui.enabled" -> "false",
        "spark.sql.session.timeZone" -> "UTC",
        "spark.sql.legacy.parquet.nanosAsLong" -> "true"))
}

final case class ComponentConfig(
    name: String,
    componentType: Enums.ComponentType,
    classPath: String,
    config: Map[String, Any] = Map.empty,
    dependsOn: Seq[String] = Nil,
    retry: Option[RetryConfig] = None,
    circuitBreaker: Option[CircuitBreakerConfig] = None,
    resilience: Option[ResiliencePolicy] = None,
    enabled: Boolean = true) {
  if (name.isEmpty) throw ConfigError("component name must be non-empty")
  if (classPath.isEmpty) throw ConfigError(s"component $name: class_path required")
  if (resilience.nonEmpty && (retry.nonEmpty || circuitBreaker.nonEmpty))
    throw ConfigError(
      s"component $name: resilience bundle is mutually exclusive with retry/circuit_breaker")

  /** Effective policies after expanding a resilience bundle
    * (component.py:60-65).
    */
  def effectiveRetry: Option[RetryConfig] =
    resilience.flatMap(_.retry).orElse(retry)
  def effectiveCircuitBreaker: Option[CircuitBreakerConfig] =
    resilience.flatMap(_.circuitBreaker).orElse(circuitBreaker)
}

final case class HooksConfig(
    logging: Boolean = true,
    metrics: Boolean = false,
    audit: Boolean = false)

final case class SecretsConfig(
    provider: String = "env",
    cacheTtlSeconds: Double = 300.0,
    auditEnabled: Boolean = false)

/** Top-level pipeline config with DAG validation
  * (core/config/pipeline.py:12-146).
  */
final case class PipelineConfig(
    name: String,
    version: String = "1.0",
    spark: SparkConfig = SparkConfig(),
    components: Seq[ComponentConfig] = Nil,
    environment: Enums.Environment = Enums.Environment.Local,
    mode: Enums.PipelineMode = Enums.PipelineMode.Batch,
    hooks: HooksConfig = HooksConfig(),
    secrets: SecretsConfig = SecretsConfig(),
    tags: Map[String, String] = Map.empty) {

  if (name.isEmpty) throw ConfigError("pipeline name must be non-empty")
  // unique component names (pipeline.py:52-58)
  private val names = components.map(_.name)
  if (names.distinct.size != names.size) {
    val dup = names.diff(names.distinct).distinct
    throw ConfigError(s"duplicate component names: ${dup.mkString(", ")}")
  }
  // all deps must reference existing components (pipeline.py:60-70)
  private val nameSet = names.toSet
  for (c <- components; d <- c.dependsOn)
    if (!nameSet.contains(d))
      throw ConfigError(s"component ${c.name} depends on unknown component $d")
  // cycle detection, DFS with recursion stack (pipeline.py:72-99)
  locally {
    val adj = components.map(c => c.name -> c.dependsOn).toMap
    val visiting = scala.collection.mutable.Set[String]()
    val done = scala.collection.mutable.Set[String]()
    def dfs(n: String, path: List[String]): Unit = {
      if (visiting(n))
        throw ConfigError(s"dependency cycle: ${(n :: path.takeWhile(_ != n)).reverse.mkString(" -> ")} -> $n")
      if (!done(n)) {
        visiting += n
        adj(n).foreach(dfs(_, n :: path))
        visiting -= n
        done += n
      }
    }
    names.foreach(dfs(_, Nil))
  }

  def component(name: String): Option[ComponentConfig] =
    components.find(_.name == name)

  /** Kahn toposort with a FIFO queue → stable, declaration-order-biased
    * ordering (pipeline.py:115-146).
    */
  def executionOrder: Seq[String] = {
    val indeg = scala.collection.mutable.Map[String, Int](
      components.map(c => c.name -> c.dependsOn.size): _*)
    val dependents = components.flatMap(c => c.dependsOn.map(_ -> c.name))
      .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val queue = scala.collection.mutable.Queue[String](
      components.filter(_.dependsOn.isEmpty).map(_.name): _*)
    val order = scala.collection.mutable.ListBuffer[String]()
    while (queue.nonEmpty) {
      val n = queue.dequeue()
      order += n
      for (m <- dependents.getOrElse(n, Nil)) {
        indeg(m) -= 1
        if (indeg(m) == 0) queue.enqueue(m)
      }
    }
    if (order.size != components.size)
      throw ConfigError("dependency cycle detected during toposort")
    order.toSeq
  }
}
