package perfbench

import scala.collection.mutable
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.{SparkEntry, Tables}

/** `queries`: a fixed set of registry queries, relational (`Olap`) and
  * corpus (`Corpus`) ones, in a closed loop with one client. An operation
  * builds its query with `SparkEntry.queries(name)(spark, dir)` and
  * writes it to the `noop` sink; its latency runs from the registry call
  * to the sink's return.
  * The seed permutes the query order of every pass.
  */
final class QueryLoop(b: Bench) {
  import QueryLoop._
  private val a = b.a
  private val names = Olap ++ Corpus
  private val rng = new scala.util.Random(a.seed)

  /** One measured operation of a traced pass. */
  private final case class Op(id: String, build: Double, action: Double,
      actionStart: Double, actionEnd: Double)
  private val traced = mutable.ArrayBuffer[Op]()

  private def artifacts(): Set[String] =
    Option(new java.io.File(System.getProperty("java.io.tmpdir")).list())
      .map(_.toSet.filter(_.startsWith("graft_"))).getOrElse(Set.empty)

  def run(): Unit = {
    val registry = SparkEntry.queries
    val fns = names.map(n => n -> registry.getOrElse(n,
      throw new IllegalStateException(s"$n is not in SparkEntry.queries")))

    if (a.mode == "dump") { dump(fns); return }
    if (a.mode == "expect") {
      b.startSession()
      fns.foreach { case (n, f) =>
        b.attempt(n) { val (r, d) = Digest.of(f(b.spark, a.data)); b.check(n, r, d) } }
      return
    }

    // The first warm pass checks every output and builds the frozen
    // artifacts (graft_* entries under java.io.tmpdir). Pass times keep
    // falling by a third over the first four passes as the JIT warms up;
    // the second warm pass takes most of that fall out of the measured
    // passes at little cost in run time, since they get faster by as much.
    var builds = 0
    var buildS = 0.0
    b.setup {
      rng.shuffle(fns).foreach { case (n, f) =>
        val before = artifacts()
        val t0 = b.now()
        b.attempt(n) { val (r, d) = Digest.of(f(b.spark, a.data)); b.check(n, r, d) }
        val fresh = (artifacts() -- before).size
        if (fresh > 0) { builds += fresh; buildS += b.now() - t0 }
      }
      rng.shuffle(fns).foreach { case (n, f) =>
        b.attempt(n)(f(b.spark, a.data).write.mode("overwrite").format("noop").save())
      }
    }

    val beforeMeasure = artifacts()
    val tables = mutable.ArrayBuffer[(Double, String)]()
    b.tracer.root("workload", a.workload) {
      val end = b.now() + a.seconds
      var i = 0
      while (i < b.minPasses(2, 4) || b.now() < end) {
        val on = b.tracedPass(i)
        if (on) Tables.all.foreach { t =>
          val g = s"tables:$i:$t"
          val t0 = b.now()
          b.tracer.phase("tables", s"table:$t", g)(Tables.t(b.spark, a.data, t))
          tables += ((b.now() - t0, g))
        }
        val p0 = b.now()
        var ok = true
        b.tracer.span("pass", s"pass$i") {
          rng.shuffle(fns).foreach { case (n, f) =>
            val op = s"p$i:$n"
            val t0 = b.now()
            var t1, w0, w1 = 0.0
            val done = b.attempt(n) {
              b.tracer.span("op", op) {
                val df = b.tracer.phase("build", op, s"$op:build")(f(b.spark, a.data))
                t1 = b.now()
                w0 = b.tracer.clock()
                b.tracer.phase("action", op, s"$op:action") {
                  df.write.mode("overwrite").format("noop").save()
                }
                w1 = b.tracer.clock()
              }
            }
            val t2 = b.now()
            if (done.isEmpty) ok = false
            else {
              b.opSamples += ((t2 - t0, on))
              if (on) traced += Op(op, t1 - t0, t2 - t1, w0, w1)
            }
          }
        }
        if (ok) b.passSamples += ((b.now() - p0, on))
        b.log(f"pass $i${if (on) " (traced)" else ""}: ${b.now() - p0}%.2fs")
        i += 1
      }
      b.tracer.set(b.spark, false)
    }
    val measuredBuilds = (artifacts() -- beforeMeasure).size

    if (a.trace) {
      // construction: graft.queries builds the relational queries,
      // graft.ops the corpus ones
      for ((layerName, set) <- Seq("queries" -> Olap.toSet, "ops" -> Corpus.toSet)) {
        val ops = traced.filter(o => set(o.id.split(":")(1)))
        val builds1 = ops.map(_.build).toSeq
        b.metric(s"$layerName.build_s", Stats.median(builds1), "s")
        b.metric(s"$layerName.build_jobs",
          Stats.mean(ops.map(o => b.tracer.work(s"${o.id}:build").jobs.toDouble).toSeq), "count")
        b.metric(s"$layerName.build_frac", builds1.sum / ops.map(o => o.build + o.action).sum, "ratio")
      }
      b.metric("ops.artifact_builds", builds, "count")
      b.metric("ops.artifact_build_s", buildS, "s")
      b.metric("ops.artifact_builds_measured", measuredBuilds, "count")
      b.metric("tables.read_s", Stats.mean(tables.map(_._1).toSeq), "s")
      b.metric("tables.read_jobs",
        Stats.mean(tables.map(t => b.tracer.work(t._2).jobs.toDouble).toSeq), "count")
      SparkLayer.report(b, traced.map(_.id + ":action").toSeq, traced.map(_.action).toSeq)
      val plans = traced.map { o =>
        val ev = b.tracer.planning.filter(p => p._1 >= o.actionStart - 1 && p._1 <= o.actionEnd)
        (ev.map(_._2).sum, ev.map(_._3).sum, ev.map(_._4).sum)
      }.toSeq
      b.metric("plans.analysis_s", Stats.median(plans.map(_._1)) / 1e3, "s")
      b.metric("plans.optimization_s", Stats.median(plans.map(_._2)) / 1e3, "s")
      b.metric("plans.planning_s", Stats.median(plans.map(_._3)) / 1e3, "s")
      kernels()
    }
  }

  /** Write each query's output and its DuckDB oracle SQL under `a.out`,
    * in the layout `tools/check_oracle.py` reads.
    */
  private def dump(fns: Seq[(String, (org.apache.spark.sql.SparkSession, String) => DataFrame)]): Unit = {
    b.startSession()
    fns.foreach { case (n, f) => f(b.spark, a.data).write.mode("overwrite").parquet(s"${a.out}/$n") }
    val oracles = SparkEntry.oracleSql
    val json = names.flatMap(n => oracles.get(n).map(q => s"${Json.str(n)}:${Json.str(q)}"))
      .mkString("{", ",\n", "}\n")
    java.nio.file.Files.write(java.nio.file.Paths.get(a.out, "oracle_sql.json"), json.getBytes("UTF-8"))
  }

  /** Each compiled kernel timed on its own: an aggregate over `rows`
    * inputs with the kernel, minus the same aggregate with a trivial
    * expression over the same columns; the median of three tries.
    */
  private def kernels(): Unit = {
    val s = b.spark
    graft.functions.GraftFunctions.register(s)
    Tables.t(s, a.data, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
      .createOrReplaceTempView("pb_emb")
    s.table("pb_emb").cache().count()
    val pairs = s.sql("SELECT x.e AS a, y.e AS b FROM pb_emb x CROSS JOIN pb_emb y")
    val texts = Tables.t(s, a.data, "documents")
      .crossJoin(s.range(TextReps).toDF("rep")).select(col("text")).cache()
    val pairRows = pairs.count()
    val textRows = texts.count()
    def ns(df: DataFrame, rows: Long, kernel: Column, base: Column): Double = {
      def time(c: Column) = { val t0 = b.now(); df.agg(sum(c)).collect(); b.now() - t0 }
      Stats.median((1 to 3).map(_ => time(kernel) - time(base))) * 1e9 / rows
    }
    val pairBase = size(col("a")) + size(col("b"))
    b.metric("functions.cosine_sim_ns_per_row",
      ns(pairs, pairRows, expr("cosine_sim(a, b)"), pairBase), "ns")
    b.metric("functions.dist2_ns_per_row",
      ns(pairs, pairRows, expr("dist2(a, b)"), pairBase), "ns")
    val textBase = length(col("text"))
    b.metric("functions.pii_redact_ns_per_row",
      ns(texts, textRows, length(expr("pii_redact(text)")), textBase), "ns")
    b.metric("ops.tokens_ns_per_row",
      ns(texts, textRows, size(graft.ops.TextAnalysis.tokens(col("text"))), textBase), "ns")
    b.metric("ops.shingles_ns_per_row",
      ns(texts, textRows, size(graft.ops.Dedup.shingles(col("text"), 5)), textBase), "ns")
    texts.unpersist()
    s.catalog.uncacheTable("pb_emb")
  }
}

object QueryLoop {
  /** Relational registry queries: a lineitem scan with aggregation, a
    * join with aggregation, and an anti join. They use no compiled
    * kernels and no frozen artifacts.
    */
  val Olap = Seq("q1_pricing_summary", "q3_join_agg", "q9_anti_join")

  /** A corpus query: an IVF-PQ search served from the frozen index the
    * warm pass builds, with eager jobs during construction. It takes two
    * to three times as long as a relational query; with three relational
    * queries to one, the median latency falls inside the relational
    * cluster rather than on its upper edge, where it swung by 27% between
    * runs.
    */
  val Corpus = Seq("sim_ivfpq_serve")

  val TextReps = 2
}

/** `spark.*` per-layer metrics: Spark work of the operations' sink
  * actions, each summed per operation and averaged over operations.
  */
object SparkLayer {
  def report(b: Bench, groups: Seq[String], actionS: Seq[Double]): Unit = {
    val ws = groups.map(b.tracer.work)
    val n = math.max(groups.size, 1).toDouble
    def per(f: Work => Long) = ws.map(f).sum / n
    b.metric("spark.action_s", Stats.median(actionS), "s")
    b.metric("spark.jobs", per(_.jobs), "count")
    b.metric("spark.stages", per(_.stages), "count")
    b.metric("spark.tasks", per(_.tasks), "count")
    b.metric("spark.task_cpu_s", per(_.cpuNs) / 1e9, "s")
    b.metric("spark.task_run_s", per(_.runMs) / 1e3, "s")
    b.metric("spark.gc_s", per(_.gcMs) / 1e3, "s")
    b.metric("spark.input_bytes", per(_.inputBytes), "bytes")
    b.metric("spark.shuffle_read_bytes", per(_.shuffleRead), "bytes")
    b.metric("spark.shuffle_write_bytes", per(_.shuffleWrite), "bytes")
    b.metric("spark.spill_bytes", per(_.spill), "bytes")
    b.metric("spark.cpu_busy_frac",
      ws.map(_.cpuNs).sum / 1e9 / math.max(actionS.sum * b.a.cores, 1e-9), "ratio")
    b.metric("spark.failed_tasks", ws.map(_.failedTasks).sum.toDouble, "count")
  }
}
