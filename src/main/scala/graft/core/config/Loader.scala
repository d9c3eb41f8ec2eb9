package graft.core.config

/** HOCON → typed PipelineConfig binding (reference:
  * core/config/loader.py:14-70 — load_from_file / load_from_string /
  * load_from_env). Unknown keys are ignored (dataconf behavior);
  * missing required keys raise ConfigError.
  */
object ConfigLoader {

  def loadFile(path: String): PipelineConfig = bind(Hocon.parseFile(path))

  def loadString(text: String): PipelineConfig = bind(Hocon.parse(text))

  /** Reference's load_from_env: path taken from an env var. */
  def loadEnv(envVar: String = "PIPELINE_CONFIG"): PipelineConfig =
    sys.env.get(envVar) match {
      case Some(p) => loadFile(p)
      case None => throw ConfigError(s"env var $envVar not set")
    }

  // ---- binding helpers ----

  private type Obj = Map[String, Any]

  private def obj(v: Any, ctx: String): Obj = v match {
    case m: Map[String @unchecked, Any @unchecked] => m
    case o => throw ConfigError(s"$ctx: expected object, got $o")
  }
  private def str(v: Any, ctx: String): String = v match {
    case s: String => s
    case o => throw ConfigError(s"$ctx: expected string, got $o")
  }
  private def int(v: Any, ctx: String): Int = v match {
    case l: Long => l.toInt
    case i: Int => i
    case o => throw ConfigError(s"$ctx: expected int, got $o")
  }
  private def dbl(v: Any, ctx: String): Double = v match {
    case d: Double => d
    case l: Long => l.toDouble
    case o => throw ConfigError(s"$ctx: expected number, got $o")
  }
  private def bool(v: Any, ctx: String): Boolean = v match {
    case b: Boolean => b
    case o => throw ConfigError(s"$ctx: expected boolean, got $o")
  }
  private def strSeq(v: Any, ctx: String): Seq[String] = v match {
    case l: List[Any @unchecked] => l.map(str(_, ctx))
    case o => throw ConfigError(s"$ctx: expected string array, got $o")
  }
  private def strMap(v: Any, ctx: String): Map[String, String] =
    obj(v, ctx).map { case (k, x) => k -> String.valueOf(x) }

  private def req(m: Obj, key: String, ctx: String): Any =
    m.getOrElse(key, throw ConfigError(s"$ctx: missing required key '$key'"))

  def bind(tree: Obj): PipelineConfig = {
    val ctx = "pipeline"
    PipelineConfig(
      name = str(req(tree, "name", ctx), s"$ctx.name"),
      version = tree.get("version").map(String.valueOf(_)).getOrElse("1.0"),
      spark = tree.get("spark").map(v => bindSpark(obj(v, "spark"))).getOrElse(SparkConfig()),
      components = tree.get("components") match {
        case Some(l: List[Any @unchecked]) =>
          l.map(v => bindComponent(obj(v, "component")))
        case Some(o) => throw ConfigError(s"components: expected array, got $o")
        case None => Nil
      },
      environment = tree.get("environment")
        .map(v => Enums.Environment.from(str(v, "environment")))
        .getOrElse(Enums.Environment.Local),
      mode = tree.get("mode")
        .map(v => Enums.PipelineMode.from(str(v, "mode")))
        .getOrElse(Enums.PipelineMode.Batch),
      hooks = tree.get("hooks").map(v => bindHooks(obj(v, "hooks"))).getOrElse(HooksConfig()),
      secrets = tree.get("secrets").map(v => bindSecrets(obj(v, "secrets"))).getOrElse(SecretsConfig()),
      tags = tree.get("tags").map(strMap(_, "tags")).getOrElse(Map.empty))
  }

  def bindSpark(m: Obj): SparkConfig = SparkConfig(
    appName = m.get("app_name").map(str(_, "spark.app_name")).getOrElse("graft-pipeline"),
    master = m.get("master").map(str(_, "spark.master")),
    deployMode = m.get("deploy_mode").map(str(_, "spark.deploy_mode")),
    driverMemory = m.get("driver_memory").map(str(_, "spark.driver_memory")),
    driverCores = m.get("driver_cores").map(int(_, "spark.driver_cores")),
    executorMemory = m.get("executor_memory").map(str(_, "spark.executor_memory")),
    executorCores = m.get("executor_cores").map(int(_, "spark.executor_cores")),
    numExecutors = m.get("num_executors").map(int(_, "spark.num_executors")),
    dynamicAllocation = m.get("dynamic_allocation").map(bool(_, "spark.dynamic_allocation")),
    sparkConf = m.get("spark_conf").map(strMap(_, "spark.spark_conf")).getOrElse(Map.empty),
    connectString = m.get("connect_string").map(str(_, "spark.connect_string")))

  def bindRetry(m: Obj): RetryConfig = RetryConfig(
    maxAttempts = m.get("max_attempts").map(int(_, "retry.max_attempts")).getOrElse(3),
    initialDelaySeconds = m.get("initial_delay_seconds").map(dbl(_, "retry.initial_delay_seconds")).getOrElse(1.0),
    maxDelaySeconds = m.get("max_delay_seconds").map(dbl(_, "retry.max_delay_seconds")).getOrElse(60.0),
    backoffMultiplier = m.get("backoff_multiplier").map(dbl(_, "retry.backoff_multiplier")).getOrElse(2.0),
    jitter = m.get("jitter").map(dbl(_, "retry.jitter")).getOrElse(0.1),
    retryOnExceptions = m.get("retry_on_exceptions").map(strSeq(_, "retry.retry_on_exceptions")).getOrElse(Nil))

  def bindCircuitBreaker(m: Obj): CircuitBreakerConfig = CircuitBreakerConfig(
    failureThreshold = m.get("failure_threshold").map(int(_, "cb.failure_threshold")).getOrElse(5),
    successThreshold = m.get("success_threshold").map(int(_, "cb.success_threshold")).getOrElse(2),
    timeoutSeconds = m.get("timeout_seconds").map(dbl(_, "cb.timeout_seconds")).getOrElse(60.0),
    halfOpenMaxCalls = m.get("half_open_max_calls").map(int(_, "cb.half_open_max_calls")).getOrElse(1))

  def bindComponent(m: Obj): ComponentConfig = {
    val name = str(req(m, "name", "component"), "component.name")
    val ctx = s"component $name"
    ComponentConfig(
      name = name,
      componentType = Enums.ComponentType.from(
        str(req(m, "component_type", ctx), s"$ctx.component_type")),
      classPath = str(req(m, "class_path", ctx), s"$ctx.class_path"),
      config = m.get("config").map(obj(_, s"$ctx.config")).getOrElse(Map.empty),
      dependsOn = m.get("depends_on").map(strSeq(_, s"$ctx.depends_on")).getOrElse(Nil),
      retry = m.get("retry").map(v => bindRetry(obj(v, s"$ctx.retry"))),
      circuitBreaker = m.get("circuit_breaker").map(v => bindCircuitBreaker(obj(v, s"$ctx.circuit_breaker"))),
      resilience = m.get("resilience").map { v =>
        val r = obj(v, s"$ctx.resilience")
        ResiliencePolicy(
          retry = r.get("retry").map(x => bindRetry(obj(x, s"$ctx.resilience.retry"))),
          circuitBreaker = r.get("circuit_breaker").map(x => bindCircuitBreaker(obj(x, s"$ctx.resilience.circuit_breaker"))))
      },
      enabled = m.get("enabled").map(bool(_, s"$ctx.enabled")).getOrElse(true))
  }

  def bindHooks(m: Obj): HooksConfig = HooksConfig(
    logging = m.get("logging").map(bool(_, "hooks.logging")).getOrElse(true),
    metrics = m.get("metrics").map(bool(_, "hooks.metrics")).getOrElse(false),
    audit = m.get("audit").map(bool(_, "hooks.audit")).getOrElse(false))

  def bindSecrets(m: Obj): SecretsConfig = SecretsConfig(
    provider = m.get("provider").map(str(_, "secrets.provider")).getOrElse("env"),
    cacheTtlSeconds = m.get("cache_ttl_seconds").map(dbl(_, "secrets.cache_ttl_seconds")).getOrElse(300.0),
    auditEnabled = m.get("audit_enabled").map(bool(_, "secrets.audit_enabled")).getOrElse(false))
}
