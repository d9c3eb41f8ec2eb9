package graft

/** The bench's failure path: a query that throws is reported by name
  * and contributes neither a time nor a share of the suite total.
  */
class BenchSpec extends SparkSpec {

  test("a planted throwing query is reported as failed, not timed") {
    val ok: Bench.Query = (s, _) => s.range(1000).selectExpr("id * 2 AS x")
    val boom: Bench.Query = (s, _) =>
      s.range(10).selectExpr("raise_error('planted failure') AS x")
    val r = Bench.sweeps(spark, sfDir,
      Map("a_ok" -> ok, "b_boom" -> boom, "c_ok" -> ok), passes = 3)
    assert(r.failed == Seq("b_boom"))
    assert(r.times.map(_._1) == Seq("a_ok", "c_ok"))
    val others = r.times.map(_._2).sum
    assert(r.total == others)
    val value = "%.3f".formatLocal(java.util.Locale.ROOT, others)
    val (full, summary) = Bench.lines(r, sfDir, streamRps = 0L)
    for (line <- Seq(full, summary)) {
      assert(line.contains("\"n_failed\":1,\"failed\":[\"b_boom\"],"), line)
      assert(!line.contains("\"b_boom\":"), line)
      assert(line.endsWith(s"\"value\":$value}"), line)
    }
    assert(summary.contains("\"n_queries\":2,"), summary)
  }

  test("the stdout summary lists at most ten failed names; the full line lists all") {
    val failed = (1 to 12).map(i => f"q$i%02d")
    val (full, summary) =
      Bench.lines(Bench.Result(Seq("ok" -> 1.0), failed), "sf", 0L)
    assert(summary.contains("\"n_failed\":12,"))
    assert(failed.take(10).forall(n => summary.contains("\"" + n + "\"")))
    assert(!summary.contains("\"q11\"") && !summary.contains("\"q12\""))
    assert(failed.forall(n => full.contains("\"" + n + "\"")))
    assert(summary.endsWith("\"value\":1.000}"))
  }
}
