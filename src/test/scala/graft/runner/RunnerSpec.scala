package graft.runner

import java.nio.file.Files
import graft.SparkSpec
import graft.core.component._
import graft.core.config._
import graft.runtime.ComponentLoader

/** Helper components driven by a mutable journal so specs can assert
  * execution order and failure handling without Spark jobs.
  */
object TestComponents {
  val journal = new java.util.concurrent.CopyOnWriteArrayList[String]()
  @volatile var failuresLeft: Int = 0

  final class Noop(val name: String) extends PipelineComponent {
    def run(): Unit = journal.add(name)
  }
  object Noop extends ComponentFactory {
    def fromConfig(c: Map[String, Any]): PipelineComponent =
      new Noop(Cfg.strOr(c, "label", "noop"))
  }

  final class Boom(val name: String) extends PipelineComponent {
    def run(): Unit = { journal.add(name); throw new RuntimeException("boom") }
  }
  object Boom extends ComponentFactory {
    def fromConfig(c: Map[String, Any]): PipelineComponent =
      new Boom(Cfg.strOr(c, "label", "boom"))
  }

  /** Fails `failuresLeft` times, then succeeds — exercises retry. */
  final class Flaky(val name: String) extends PipelineComponent {
    def run(): Unit = {
      journal.add(name)
      if (failuresLeft > 0) { failuresLeft -= 1; throw new RuntimeException("flaky") }
    }
  }
  object Flaky extends ComponentFactory {
    def fromConfig(c: Map[String, Any]): PipelineComponent = new Flaky("flaky")
  }

  def reset(): Unit = { journal.clear(); failuresLeft = 0 }
}

class RunnerSpec extends SparkSpec {
  import TestComponents._

  private def comp(name: String, cls: String, deps: Seq[String] = Nil,
      retry: Option[RetryConfig] = None, enabled: Boolean = true) =
    ComponentConfig(name, Enums.ComponentType.Transformation,
      s"graft.runner.TestComponents$$$cls",
      config = Map("label" -> name), dependsOn = deps, retry = retry,
      enabled = enabled)

  private def runPipeline(cfg: PipelineConfig,
      store: Option[CheckpointStore] = None,
      failFast: Boolean = true): PipelineResult = {
    val runner = new SimplePipelineRunner(cfg, NoOpHooks, Some(spark),
      store, failFast, sleep = _ => ())
    runner.run()
  }

  test("runs in dependency order and reports SUCCESS") {
    reset()
    val cfg = PipelineConfig("p", components = Seq(
      comp("c", "Noop", Seq("b")), comp("b", "Noop", Seq("a")), comp("a", "Noop")))
    val r = runPipeline(cfg)
    assert(r.status == PipelineStatus.Success)
    assert(journal.toArray.toList == List("a", "b", "c"))
  }

  test("fail-fast skips downstream components; status aggregation") {
    reset()
    val cfg = PipelineConfig("p", components = Seq(
      comp("a", "Noop"), comp("bad", "Boom", Seq("a")), comp("z", "Noop", Seq("bad"))))
    val r = runPipeline(cfg)
    assert(r.status == PipelineStatus.PartialSuccess)
    assert(r.failed.map(_.name) == Seq("bad"))
    assert(r.skipped.map(_.name) == Seq("z"))
    assert(!journal.contains("z"))
  }

  test("no-fail-fast continues after failure; all-failed is FAILURE") {
    reset()
    val cfg = PipelineConfig("p", components = Seq(
      comp("bad1", "Boom"), comp("bad2", "Boom")))
    val r = runPipeline(cfg, failFast = false)
    assert(r.status == PipelineStatus.Failure)
    assert(journal.toArray.toList == List("bad1", "bad2"))
  }

  test("disabled components are skipped, not executed") {
    reset()
    val cfg = PipelineConfig("p", components = Seq(
      comp("a", "Noop"), comp("off", "Boom", enabled = false)))
    val r = runPipeline(cfg)
    assert(r.status == PipelineStatus.Success)
    assert(r.skipped.map(_.name) == Seq("off"))
  }

  test("retry recovers a flaky component and counts retries") {
    reset()
    failuresLeft = 2
    val cfg = PipelineConfig("p", components = Seq(
      comp("flaky", "Flaky",
        retry = Some(RetryConfig(maxAttempts = 5, jitter = 0.0)))))
    val r = runPipeline(cfg)
    assert(r.status == PipelineStatus.Success)
    assert(r.components.head.retries == 2)
    assert(journal.size == 3)
  }

  test("checkpoint resume skips completed components; mismatch refuses") {
    reset()
    val dir = Files.createTempDirectory("graft-cp").toString
    val store = new CheckpointStore(dir)
    val cfg = PipelineConfig("p", components = Seq(
      comp("a", "Noop"), comp("bad", "Boom", Seq("a"))))
    assert(runPipeline(cfg, Some(store)).status == PipelineStatus.PartialSuccess)
    assert(store.completedFor("p", cfg) == Set("a"))

    // resume with the same structure: 'a' must be skipped, not re-run
    journal.clear()
    val r2 = runPipeline(cfg, Some(store))
    assert(r2.skipped.map(_.name) == Seq("a"))
    assert(journal.toArray.toList == List("bad"))

    // structural change (class swap) invalidates the checkpoint
    val changed = PipelineConfig("p", components = Seq(
      comp("a", "Boom"), comp("bad", "Boom", Seq("a"))))
    intercept[CheckpointStore.FingerprintMismatch](
      store.completedFor("p", changed))
  }

  test("a view whose plan fails is reported on its producer, not on the sink") {
    import spark.implicits._
    val work = Files.createTempDirectory("graft-cut-fail")
    val in = work.resolve("in").toString
    Seq((1L, "a"), (2L, "b")).toDF("id", "k").write.parquet(in)
    val cfg = ConfigLoader.loadString(s"""
      name = cut-fail
      components = [
        { name = read, component_type = source
          class_path = "graft.components.ReadFormat"
          config { format = parquet, path = "$in", output_view = cf_raw } },
        { name = bad, component_type = transformation
          class_path = "graft.components.SqlTransform"
          depends_on = [read]
          config { output_view = cf_bad,
            sql = "SELECT k, coalesce(raise_error(concat('bad key ', k)), k) AS e FROM cf_raw GROUP BY k" } },
        { name = next, component_type = transformation
          class_path = "graft.components.SqlTransform"
          depends_on = [bad]
          config { output_view = cf_next, sql = "SELECT k, e FROM cf_bad" } },
        { name = write, component_type = sink
          class_path = "graft.components.WriteFormat"
          depends_on = [next]
          config { format = parquet, input_view = cf_next,
            path = "${work.resolve("out")}" } }
      ]
    """)
    val store = new CheckpointStore(work.resolve("cp").toString)
    val r = runPipeline(cfg, Some(store))
    assert(r.components.map(c => c.name -> c.status) == Seq(
      "read" -> ComponentStatus.Success, "bad" -> ComponentStatus.Failed,
      "next" -> ComponentStatus.Skipped, "write" -> ComponentStatus.Skipped))
    assert(r.failed.head.error.get.getMessage.contains("bad key"))
    assert(store.completedFor("cut-fail", cfg) == Set("read"))
  }

  test("checkpoint cleared after a fully successful run") {
    reset()
    val store = new CheckpointStore(Files.createTempDirectory("graft-cp2").toString)
    val cfg = PipelineConfig("p2", components = Seq(comp("a", "Noop")))
    assert(runPipeline(cfg, Some(store)).status == PipelineStatus.Success)
    assert(store.load("p2").isEmpty)
  }

  test("fingerprint covers name/class/deps and ignores config + enabled") {
    val store = new CheckpointStore(Files.createTempDirectory("graft-fp").toString)
    val base = PipelineConfig("p", components = Seq(comp("a", "Noop")))
    val sameStructure = PipelineConfig("p", components = Seq(
      comp("a", "Noop").copy(config = Map("label" -> "other"), enabled = false)))
    val differentClass = PipelineConfig("p", components = Seq(comp("a", "Boom")))
    assert(store.fingerprint(base) == store.fingerprint(sameStructure))
    assert(store.fingerprint(base) != store.fingerprint(differentClass))
  }

  test("hooks fire in order and hook errors never fail the pipeline") {
    reset()
    val calls = scala.collection.mutable.ListBuffer[String]()
    val hooks = new PipelineHooks {
      override def beforePipeline(p: String): Unit = { calls += s"bp"; throw new RuntimeException("hook boom") }
      override def beforeComponent(c: String): Unit = calls += s"bc:$c"
      override def afterComponent(c: String, r: ComponentResult): Unit = calls += s"ac:$c"
      override def afterPipeline(p: String, r: PipelineResult): Unit = calls += "ap"
    }
    val r = new SimplePipelineRunner(
      PipelineConfig("p", components = Seq(comp("a", "Noop"))),
      hooks, Some(spark), sleep = _ => ()).run()
    assert(r.status == PipelineStatus.Success)
    assert(calls.toList == List("bp", "bc:a", "ac:a", "ap"))
  }
}

/** End-to-end: the reference's local-demo pipeline shape
  * (examples/local_demo.conf) — CSV read → SQL clean → CSV write, run
  * from a HOCON config string (SURVEY.md §7.2 minimum slice).
  */
class LocalDemoSpec extends SparkSpec {
  test("read -> sql transform -> write CSV end-to-end from config") {
    val work = Files.createTempDirectory("graft-demo")
    val in = work.resolve("customers.csv")
    Files.writeString(in,
      """customer_id,name,email,region
        |1,Alice,ALICE@x.com,us-east
        |2,bob,,us-west
        |3,Carol,Carol@y.org,eu-west
        |4,dan,DAN@z.io,us-east
        |""".stripMargin)
    val out = work.resolve("out").toString
    val cfg = ConfigLoader.loadString(s"""
      name = local-demo
      components = [
        { name = read, component_type = source
          class_path = "graft.components.ReadCsv"
          config { path = "$in", output_view = raw_customers } },
        { name = clean, component_type = transformation
          class_path = "graft.components.SqlTransform"
          depends_on = [read]
          config {
            output_view = cleaned
            sql = "SELECT customer_id, UPPER(name) AS name, LOWER(email) AS email, region FROM raw_customers WHERE email IS NOT NULL"
          } },
        { name = write, component_type = sink
          class_path = "graft.components.WriteCsv"
          depends_on = [clean]
          config { input_view = cleaned, path = "$out" } }
      ]
    """)
    val r = new SimplePipelineRunner(cfg, NoOpHooks, Some(spark)).run()
    assert(r.status == PipelineStatus.Success)
    val rows = spark.read.option("header", "true").csv(out)
      .collect().map(_.toSeq.mkString(",")).sorted
    assert(rows.length == 3) // null-email row filtered
    assert(rows.head == "1,ALICE,alice@x.com,us-east")
  }

  test("read -> SQL WHERE -> parquet write cuts nothing and keeps the pushed filter") {
    import spark.implicits._
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.util.QueryExecutionListener
    val work = Files.createTempDirectory("graft-fuse")
    val in = work.resolve("in").toString
    Seq((1L, 5L), (2L, 15L), (3L, 25L)).toDF("id", "v").write.parquet(in)
    val cfg = ConfigLoader.loadString(s"""
      name = fuse-demo
      components = [
        { name = read, component_type = source
          class_path = "graft.components.ReadFormat"
          config { format = parquet, path = "$in", output_view = fuse_raw } },
        { name = keep, component_type = transformation
          class_path = "graft.components.SqlTransform"
          depends_on = [read]
          config { output_view = fuse_kept,
            sql = "SELECT id, v FROM fuse_raw WHERE v > 10" } },
        { name = write, component_type = sink
          class_path = "graft.components.WriteFormat"
          depends_on = [keep]
          config { format = parquet, input_view = fuse_kept,
            path = "${work.resolve("out")}" } }
      ]
    """)
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val jobListener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    val plans = new java.util.concurrent.CopyOnWriteArrayList[String]()
    val qeListener = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        plans.add(qe.executedPlan.toString)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    def jobsOf(body: => Unit): Int = {
      org.apache.spark.graft.ListenerBusFlush.drain(sc)
      jobs.set(0)
      body
      org.apache.spark.graft.ListenerBusFlush.drain(sc)
      jobs.get
    }
    sc.addSparkListener(jobListener)
    spark.listenerManager.register(qeListener)
    try {
      val viaRunner = jobsOf(assert(
        new SimplePipelineRunner(cfg, NoOpHooks, Some(spark)).run().status ==
          PipelineStatus.Success))
      // both views stay lazy plans over the parquet scan
      for (v <- Seq("fuse_raw", "fuse_kept"))
        assert(spark.table(v).queryExecution.analyzed.collectFirst {
          case r: org.apache.spark.sql.execution.LogicalRDD => r }.isEmpty, v)
      val sink = plans.toArray.map(_.toString)
        .filter(_.contains("InsertIntoHadoopFsRelationCommand"))
      assert(sink.length == 1 &&
        sink.head.contains("PushedFilters: [IsNotNull(v), GreaterThan(v,10)]"),
        sink.mkString("\n"))
      // the same chain run by hand, with no runner: as many jobs
      val byHand = jobsOf(
        spark.read.format("parquet").load(in).where("v > 10").select("id", "v")
          .write.format("parquet").mode("overwrite").save(work.resolve("out2").toString))
      assert(viaRunner == byHand, s"runner $viaRunner jobs, by hand $byHand")
    } finally {
      sc.removeSparkListener(jobListener)
      spark.listenerManager.unregister(qeListener)
    }
  }

  test("curation pipeline e2e: boilerplate -> familiarity -> importance -> filter -> gate -> budget -> cap -> parquet") {
    val work = Files.createTempDirectory("graft-curation-e2e")
    val out = work.resolve("snapshot").toString
    val conf = Files.readString(java.nio.file.Path.of("examples/curation_pipeline.conf"))
      .replace("/root/testdata/sf0.001/documents.parquet",
        "/root/testdata/sf0.001/documents.parquet")
      .replace("/tmp/graft_curation_snapshot", out)
    val cfg = ConfigLoader.loadString(conf)
    val r = new SimplePipelineRunner(cfg, NoOpHooks, Some(spark)).run()
    assert(r.status == PipelineStatus.Success,
      s"pipeline failed: ${r.components.map(c => c.name -> c.error)}")
    val snap = spark.read.parquet(out)
    assert(snap.columns.toSet ==
      Set("doc_id", "text", "source", "lang", "n_chars", "familiarity",
        "importance", "quality_score", "quality_n_tokens"))
    // the classifier gate scored every surviving row above its floor
    assert(snap.filter(org.apache.spark.sql.functions.col("quality_score")
      <= -100000L).count() == 0)
    val n = snap.count()
    assert(n > 0 && n < 500, s"budget cut must drop docs, kept $n")
    // the snapshot respects the per-source budget on CLEANED token counts
    import org.apache.spark.sql.functions._
    val overBudget = snap
      .groupBy(col("source"))
      .agg(sum(graft.ops.TextAnalysis.tokenCount(col("text"))).as("toks"))
      .filter(col("toks") > 600L).count()
    assert(overBudget == 0L, "every source stays within its token budget")
    // and the per-source cap (conf: cap = 10)
    val overCap = snap.groupBy(col("source"))
      .agg(count(lit(1)).as("n")).filter(col("n") > 10L).count()
    assert(overCap == 0L, "no source exceeds its document cap")
    // the runner cut every view a later component re-reads; the scan,
    // the scan-only filter and the view only the sink reads stay lazy
    import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, SubqueryAlias, View}
    def body(p: LogicalPlan): LogicalPlan = p match {
      case SubqueryAlias(_, c) => body(c)
      case v: View => body(v.child)
      case o => o
    }
    def isCut(v: String) = body(spark.table(v).queryExecution.analyzed)
      .isInstanceOf[org.apache.spark.sql.execution.LogicalRDD]
    for (v <- Seq("deboilered", "scored", "imp_scored", "gated", "mixed"))
      assert(isCut(v), s"$v must be cut")
    for (v <- Seq("raw_docs", "curated", "capped"))
      assert(!isCut(v), s"$v must stay lazy")
  }

  test("sampling pipeline e2e: neyman draw -> waste report -> parquet outputs") {
    val work = Files.createTempDirectory("graft-sampling-e2e")
    val sampleOut = work.resolve("sample").toString
    val wasteOut = work.resolve("waste").toString
    val conf = Files.readString(
        java.nio.file.Path.of("examples/sampling_pipeline.conf"))
      .replace("/tmp/graft_neyman_sample", sampleOut)
      .replace("/tmp/graft_sample_waste", wasteOut)
    val cfg = ConfigLoader.loadString(conf)
    val r = new SimplePipelineRunner(cfg, NoOpHooks, Some(spark)).run()
    assert(r.status == PipelineStatus.Success,
      s"pipeline failed: ${r.components.map(c => c.name -> c.error)}")
    import org.apache.spark.sql.functions._
    val sample = spark.read.parquet(sampleOut)
    // the draw hits the configured target exactly (allocations sum to it)
    assert(sample.count() == 120, s"drew ${sample.count()} docs, want 120")
    // the draw follows the op-level allocation per source
    val drawn = sample.groupBy(col("source")).count().collect()
      .map(rw => rw.getString(0) -> rw.getLong(1)).toMap
    val alloc = graft.ops.Sampling.neymanOf(
        graft.Tables.t(spark, "/root/testdata/sf0.001", "documents"), 120L)
      .collect().map(rw => rw.getString(0) -> rw.getLong(3)).toMap
    assert(drawn == alloc.filter(_._2 > 0L),
      s"per-source draw $drawn must match the allocation $alloc")
    val waste = spark.read.parquet(wasteOut)
    assert(waste.count() > 0 &&
      waste.columns.toSet.contains("waste_frac"))
  }

  test("CLI dry-run validates config; bad class path rejected") {
    val good = Files.createTempFile("graft", ".conf")
    Files.writeString(good,
      """name = p
        |components = [{ name = a, component_type = source
        |  class_path = "graft.components.ReadCsv"
        |  config { path = "/tmp/x.csv", output_view = v } }]
        |""".stripMargin)
    assert(Cli.execute(Seq(good.toString, "--dry-run")) == 0)

    val bad = Files.createTempFile("graft", ".conf")
    Files.writeString(bad,
      """name = p
        |components = [{ name = a, component_type = source
        |  class_path = "does.not.Exist" }]
        |""".stripMargin)
    assert(Cli.execute(Seq(bad.toString, "--dry-run")) == 1)
  }

  test("package scan lists concrete components; validate warns on shape") {
    val found = ComponentLoader.listAvailableComponents("graft.components")
    assert(found.contains("graft.components.ReadCsv"))
    assert(found.contains("graft.components.SqlTransform"))
    assert(found.contains("graft.components.WriteTable"))
    assert(found == found.sorted && found.distinct == found)
    // scanning compiled-from-jar packages works through the jar branch
    intercept[graft.core.component.ComponentNotFoundError](
      ComponentLoader.listAvailableComponents("no.such.pkg"))
    // validate: factory-backed classes are clean; plain classes warn
    assert(ComponentLoader.validateComponentClass("graft.components.ReadCsv").isEmpty)
    intercept[graft.core.component.ComponentNotFoundError](
      ComponentLoader.validateComponentClass("does.not.Exist"))
  }

  test("parseArgs: value-bearing --log-level works in any position") {
    assert(Cli.parseArgs(Seq("p.conf", "--log-level", "DEBUG"))
      .exists(a => a.configPath == "p.conf" && a.logLevel == "DEBUG"))
    assert(Cli.parseArgs(Seq("--log-level", "DEBUG", "p.conf"))
      .exists(a => a.configPath == "p.conf" && a.logLevel == "DEBUG"))
    assert(Cli.parseArgs(Seq("--dry-run", "--log-level", "WARN", "p.conf"))
      .exists(a => a.dryRun && a.logLevel == "WARN"))
    assert(Cli.parseArgs(Seq("p.conf", "--log-level")).isLeft) // missing value
    assert(Cli.parseArgs(Seq("p.conf", "--log-level", "--dry-run")).isLeft)
    assert(Cli.parseArgs(Seq("p.conf", "--bogus")).isLeft)
    assert(Cli.parseArgs(Seq("a.conf", "b.conf")).isLeft) // two positionals
    assert(Cli.parseArgs(Seq("--dry-run")).isLeft) // no config path
  }
}
