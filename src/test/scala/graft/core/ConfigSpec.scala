package graft.core

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.core.config._

class HoconSpec extends AnyFunSuite {
  test("parses nested objects, dotted keys, arrays, types") {
    val tree = Hocon.parse("""
      # pipeline config
      name = demo
      version = "2.0"
      spark {
        app_name = my-app   // inline comment
        driver_cores = 4
        timeout = 1.5
        dynamic = true
        nothing = null
      }
      spark.extra = here
      tags = [a, "b c", 3]
    """)
    assert(tree("name") == "demo")
    assert(tree("version") == "2.0")
    assert(Hocon.at(tree, "spark.app_name").contains("my-app"))
    assert(Hocon.at(tree, "spark.driver_cores").contains(4L))
    assert(Hocon.at(tree, "spark.timeout").contains(1.5))
    assert(Hocon.at(tree, "spark.dynamic").contains(true))
    assert(Hocon.at(tree, "spark.nothing").contains(null))
    assert(Hocon.at(tree, "spark.extra").contains("here"))
    assert(tree("tags") == List("a", "b c", 3L))
  }

  test("object merge: later dotted keys merge into earlier blocks") {
    val tree = Hocon.parse("a { x = 1 }\na { y = 2 }\na.z = 3")
    assert(Hocon.at(tree, "a.x").contains(1L))
    assert(Hocon.at(tree, "a.y").contains(2L))
    assert(Hocon.at(tree, "a.z").contains(3L))
  }

  test("env substitution") {
    val path = sys.env.keys.head // any env var that exists
    val tree = Hocon.parse(s"v = $${$path}\nopt = $${?GRAFT_NOT_SET_XYZ}")
    assert(tree("v") == sys.env(path))
    assert(tree("opt") == null)
  }

  test("config-path substitution: chains, objects, env fallback, cycles") {
    val tree = Hocon.parse(
      """base { host = db.example, port = 5432 }
        |primary = ${base}
        |url = ${primary.host}
        |alias = ${url}
        |""".stripMargin)
    assert(Hocon.at(tree, "primary.port").contains(5432L))
    assert(tree("url") == "db.example")
    assert(tree("alias") == "db.example")
    val e = intercept[Hocon.ParseError](
      Hocon.parse("a = ${b}\nb = ${a}"))
    assert(e.getMessage.contains("cycle"))
  }

  test("value concatenation: substitutions inside longer values") {
    val tree = Hocon.parse(
      """root = "/data"
        |orders = ${root}/orders.parquet
        |tagged = pre-${root}-post
        |quoted = "a "${root}" b"
        |spaced = "x" "y"
        |plain = 12.5
        |""".stripMargin)
    assert(tree("orders") == "/data/orders.parquet")
    assert(tree("tagged") == "pre-/data-post")
    assert(tree("quoted") == "a /data b")
    assert(tree("spaced") == "x y")
    assert(tree("plain") == 12.5) // single unquoted token keeps its type
  }

  test("include splices a file relative to the includer; later keys win") {
    val dir = java.nio.file.Files.createTempDirectory("hocon")
    java.nio.file.Files.writeString(dir.resolve("common.conf"),
      "shared { retries = 3, mode = common }\n")
    java.nio.file.Files.writeString(dir.resolve("main.conf"),
      """include "common.conf"
        |shared.mode = overridden
        |own = 1
        |""".stripMargin)
    val tree = Hocon.parseFile(dir.resolve("main.conf").toString)
    assert(Hocon.at(tree, "shared.retries").contains(3L))
    assert(Hocon.at(tree, "shared.mode").contains("overridden"))
    assert(tree("own") == 1L)
    val e = intercept[Hocon.ParseError](Hocon.parse("include \"/nope/missing.conf\""))
    assert(e.getMessage.contains("not found"))
  }

  test("parse errors carry line numbers") {
    val e = intercept[Hocon.ParseError](Hocon.parse("a = 1\nb = "))
    assert(e.line >= 2)
  }

  test("property: random config trees render-parse round-trip") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val genKey = Gen.choose(1, 8).flatMap(n =>
      Gen.listOfN(n, Gen.alphaLowerChar).map(_.mkString))
    val genLeaf: Gen[Any] = Gen.oneOf(
      Gen.choose(-1000000L, 1000000L).map(x => x: Any),
      Gen.oneOf(true, false).map(x => x: Any),
      Gen.choose(1, 10).flatMap(n =>
        Gen.listOfN(n, Gen.alphaNumChar).map(_.mkString: Any)))
    def genTree(depth: Int): Gen[Map[String, Any]] =
      Gen.choose(1, 4).flatMap { n =>
        Gen.listOfN(n, for {
          k <- genKey
          v <- if (depth <= 0) genLeaf
               else Gen.frequency(3 -> genLeaf, 1 -> genTree(depth - 1))
        } yield k -> v).map(kvs => kvs.toMap)
      }
    def render(m: Map[String, Any], indent: String = ""): String =
      m.map {
        case (k, sub: Map[String @unchecked, Any @unchecked]) =>
          s"$indent$k {\n${render(sub, indent + "  ")}$indent}\n"
        case (k, s: String) => s"""$indent$k = "$s"""" + "\n"
        case (k, v) => s"$indent$k = $v\n"
      }.mkString
    (0 until 60).foreach { i =>
      genTree(2).apply(Gen.Parameters.default, Seed(i.toLong)).foreach { tree =>
        assert(Hocon.parse(render(tree)) == tree, s"round-trip failed:\n${render(tree)}")
      }
    }
  }
}

class ConfigModelSpec extends AnyFunSuite {
  private def comp(name: String, deps: String*) = ComponentConfig(
    name, Enums.ComponentType.Transformation, "graft.components.SqlTransform",
    dependsOn = deps)

  test("duplicate component names rejected") {
    val e = intercept[ConfigError](
      PipelineConfig("p", components = Seq(comp("a"), comp("a"))))
    assert(e.message.contains("duplicate"))
  }

  test("unknown dependency rejected") {
    val e = intercept[ConfigError](
      PipelineConfig("p", components = Seq(comp("a", "ghost"))))
    assert(e.message.contains("ghost"))
  }

  test("cycle rejected") {
    val e = intercept[ConfigError](PipelineConfig("p",
      components = Seq(comp("a", "b"), comp("b", "c"), comp("c", "a"))))
    assert(e.message.contains("cycle"))
  }

  test("resilience bundle mutually exclusive with standalone retry") {
    val e = intercept[ConfigError](ComponentConfig(
      "x", Enums.ComponentType.Source, "cls",
      retry = Some(RetryConfig()),
      resilience = Some(ResiliencePolicy(retry = Some(RetryConfig())))))
    assert(e.message.contains("mutually exclusive"))
  }

  test("resilience bundle expands into effective policies") {
    val r = RetryConfig(maxAttempts = 7)
    val cb = CircuitBreakerConfig(failureThreshold = 9)
    val c = ComponentConfig("x", Enums.ComponentType.Source, "cls",
      resilience = Some(ResiliencePolicy(Some(r), Some(cb))))
    assert(c.effectiveRetry.contains(r))
    assert(c.effectiveCircuitBreaker.contains(cb))
  }

  test("retry config validation") {
    intercept[ConfigError](RetryConfig(maxAttempts = 0))
    intercept[ConfigError](RetryConfig(jitter = 1.5))
    intercept[ConfigError](RetryConfig(initialDelaySeconds = 10, maxDelaySeconds = 1))
  }

  test("presets are valid configurations with documented shapes") {
    import graft.core.config.Presets._
    assert(NoRetry.maxAttempts == 1)
    assert(AggressiveRetry.maxAttempts > DefaultRetry.maxAttempts)
    assert(ConservativeRetry.initialDelaySeconds > DefaultRetry.initialDelaySeconds)
    assert(SensitiveCircuitBreaker.failureThreshold < DefaultCircuitBreaker.failureThreshold)
    assert(ResilientCircuitBreaker.failureThreshold > DefaultCircuitBreaker.failureThreshold)
  }

  test("spark conf flattening; explicit spark_conf wins") {
    val sc = SparkConfig(appName = "x", master = Some("local[2]"),
      sparkConf = Map("spark.executor.memory" -> "16g"))
    val m = sc.toSparkConfMap
    assert(m("spark.master") == "local[2]")
    assert(m("spark.executor.memory") == "16g")
    assert(m("spark.app.name") == "x")
  }

  test("spark block: only the resource settings it sets are emitted") {
    val resources = Set("spark.driver.memory", "spark.driver.cores",
      "spark.executor.memory", "spark.executor.cores",
      "spark.executor.instances", "spark.dynamicAllocation.enabled")
    def bound(block: String) = ConfigLoader.loadString(
      s"name = p\nspark { app_name = x\n$block }").spark.toSparkConfMap
    assert(bound("").keySet.intersect(resources).isEmpty)
    val one = bound("executor_memory = 8g")
    assert(one.keySet.intersect(resources) == Set("spark.executor.memory"))
    assert(one("spark.executor.memory") == "8g")
  }

  test("SparkConfig.local: local[cores], one shuffle partition per core, UI off, UTC, nanosAsLong") {
    val m = SparkConfig.local(3).toSparkConfMap
    assert(m("spark.master") == "local[3]")
    assert(m("spark.sql.shuffle.partitions") == "3")
    assert(m("spark.ui.enabled") == "false")
    assert(m("spark.sql.session.timeZone") == "UTC")
    assert(m("spark.sql.legacy.parquet.nanosAsLong") == "true")
  }
}

class TopoSortSpec extends AnyFunSuite {
  /** Deterministic sampling driver for ScalaCheck generators (the
    * scalatest-scalacheck bridge artifact isn't available offline).
    */
  private def forAllSampled[T](gen: Gen[T], n: Int = 100)(body: T => Unit): Unit =
    (0 until n).foreach { i =>
      gen.apply(Gen.Parameters.default, Seed(i.toLong)).foreach(body)
    }

  private def comp(name: String, deps: Seq[String]) = ComponentConfig(
    name, Enums.ComponentType.Transformation, "cls", dependsOn = deps)

  /** Property (mirrors reference Hypothesis tests,
    * tests/unit/test_properties.py:384-450): order contains each
    * component once, and every dependency precedes its dependent.
    */
  private def assertValidOrder(cfg: PipelineConfig): Unit = {
    val order = cfg.executionOrder
    assert(order.sorted == cfg.components.map(_.name).sorted)
    val pos = order.zipWithIndex.toMap
    for (c <- cfg.components; d <- c.dependsOn)
      assert(pos(d) < pos(c.name), s"$d must precede ${c.name}")
  }

  test("chain topology") {
    val n = 20
    val comps = (0 until n).map(i =>
      comp(s"c$i", if (i == 0) Nil else Seq(s"c${i - 1}")))
    val cfg = PipelineConfig("p", components = comps)
    assert(cfg.executionOrder == (0 until n).map(i => s"c$i"))
  }

  test("star topology: hub first") {
    val comps = comp("hub", Nil) +: (1 to 10).map(i => comp(s"leaf$i", Seq("hub")))
    assertValidOrder(PipelineConfig("p", components = comps))
  }

  test("independent components keep declaration order") {
    val comps = Seq("z", "m", "a").map(comp(_, Nil))
    assert(PipelineConfig("p", components = comps).executionOrder == Seq("z", "m", "a"))
  }

  test("random DAGs: order always valid") {
    // edges only from lower to higher index → guaranteed acyclic
    val genDag = for {
      n <- Gen.choose(1, 15)
      edges <- Gen.listOfN(n * 2, for {
        a <- Gen.choose(0, n - 1); b <- Gen.choose(0, n - 1)
      } yield (math.min(a, b), math.max(a, b)))
    } yield {
      val deps = edges.filter { case (a, b) => a != b }
        .groupBy(_._2).view.mapValues(_.map(x => s"c${x._1}").distinct).toMap
      (0 until n).map(i => comp(s"c$i", deps.getOrElse(i, Nil)))
    }
    forAllSampled(genDag) { comps =>
      assertValidOrder(PipelineConfig("p", components = comps))
    }
  }
}

class ConfigLoaderSpec extends AnyFunSuite {
  test("binds a full pipeline config") {
    val cfg = ConfigLoader.loadString("""
      name = customer-etl
      version = "1.2"
      environment = prod
      mode = batch
      spark {
        app_name = etl
        master = "local[2]"
        spark_conf { "spark.sql.shuffle.partitions" = "10" }
      }
      hooks { logging = true, metrics = true }
      components = [
        {
          name = read
          component_type = source
          class_path = "graft.components.ReadCsv"
          config { path = "/tmp/in.csv", output_view = raw }
        },
        {
          name = clean
          component_type = transformation
          class_path = "graft.components.SqlTransform"
          config { sql = "SELECT * FROM raw", output_view = cleaned }
          depends_on = [read]
          retry { max_attempts = 5, jitter = 0.0 }
        }
      ]
    """)
    assert(cfg.name == "customer-etl")
    assert(cfg.environment == Enums.Environment.Prod)
    assert(cfg.spark.sparkConf("spark.sql.shuffle.partitions") == "10")
    assert(cfg.hooks.metrics)
    assert(cfg.components.map(_.name) == Seq("read", "clean"))
    assert(cfg.component("clean").get.retry.get.maxAttempts == 5)
    assert(cfg.component("clean").get.dependsOn == Seq("read"))
    assert(cfg.executionOrder == Seq("read", "clean"))
  }

  test("missing required keys raise ConfigError") {
    intercept[ConfigError](ConfigLoader.loadString("version = 1"))
    intercept[ConfigError](ConfigLoader.loadString(
      "name = p\ncomponents = [{ name = x, component_type = source }]"))
  }
}
