package graft
import graft.core.config.SparkConfig
import graft.runtime.SessionWrapper
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = new SessionWrapper(SparkConfig.local()).session
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // local-iteration filter: SPARK_GRAFT_ONLY=q1,q2 runs a subset
    // (unset in the driver env, so the driver always dumps everything)
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    val selected = SparkEntry.queries.filter { case (n, _) =>
      only.forall(_.contains(n))
    }
    selected.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // enable data-derived frozen-literal oracles (PQ codebook) — the
    // literals must come from the SAME sfDir the queries just ran on
    graft.ops.Similarity.oracleContext = Some((spark, sfDir))
    // emit only the SELECTED queries' oracles: under SPARK_GRAFT_ONLY a
    // full oracle map would make every unrun query read as MISSING to
    // check_oracle's completeness sweep (the driver never filters, so
    // its gate always sees the full map)
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => selected.contains(k) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // the completeness sweep's ground truth: EVERY selected query name,
    // oracle-backed or not. A rows-only query that throws above writes
    // no output dir and has no oracle key, so sweeping oracle keys alone
    // leaves it invisible (ADVICE r14 #1) — check_oracle sweeps this
    // list instead when present.
    val sel = selected.keys.toSeq.sorted.map(q).mkString("[", ",", "]")
    Files.writeString(Paths.get(s"$outDir/selected_queries.json"), sel)
    spark.stop()
  }
}
