package graft

import org.scalatest.funsuite.AnyFunSuite

/** Driver-contract consistency: the oracle map may never carry a key
  * that isn't a registered query (the driver iterates queries and
  * looks oracles up by name — an orphan oracle would silently never
  * run), and names must be stable snake_case identifiers (they become
  * file paths and JSON keys in the driver's artifacts).
  * No SparkSession needed: without Verify's context both maps are
  * static (the 13 context-dependent oracles, the IVF-PQ family and the
  * three graph queries, only ADD keys for already-registered queries
  * when the context is set; SimilaritySpec builds them).
  */
class RegistrySpec extends AnyFunSuite {

  test("every oracle key is a registered query") {
    val q = SparkEntry.queries.keySet
    val orphans = SparkEntry.oracleSql.keySet -- q
    assert(orphans.isEmpty, s"oracles without queries: $orphans")
  }

  test("query names are stable snake_case identifiers") {
    val bad = SparkEntry.queries.keySet
      .filterNot(_.matches("[a-z0-9]+(_[a-z0-9]+)*"))
    assert(bad.isEmpty, s"non-conforming names: $bad")
  }

  test("the embedding oracles' dot fold and label-centroid fold are written only in Similarity.DuckSql") {
    // a hand copy of an IEEE fold can drift from the Spark side's order;
    // every embedding oracle composes the one vocabulary instead
    val lines = MainSources.lines
    val sim = lines.filter(_._1.startsWith("src/main/scala/graft/ops/Similarity.scala:"))
    val from = sim.indexWhere(_._2.contains("private[graft] object DuckSql {"))
    val to = sim.indexWhere(_._2 == "  }", from + 1)
    assert(from >= 0 && to > from, "Similarity.DuckSql not found")
    val vocabulary = sim.slice(from, to + 1).map(_._1).toSet
    val dotTemplate = """list_sum\(\[.*\$.*\[i\] \* .*for i in range\(1, """.r
    val dots = lines.filter(l => dotTemplate.findFirstIn(l._2).nonEmpty).map(_._1)
    val folds = lines.filter(_._2.contains("csum AS (")).map(_._1)
    assert(dots.nonEmpty && dots.forall(vocabulary),
      s"dot-fold templates outside the vocabulary: ${dots.filterNot(vocabulary)}")
    assert(folds.nonEmpty && folds.forall(vocabulary),
      s"label-centroid folds outside the vocabulary: ${folds.filterNot(vocabulary)}")
    val localFolds = lines.filter(l =>
      """def (dt|dt64|cosv|dl)\(""".r.findFirstIn(l._2).nonEmpty).map(_._1)
    assert(localFolds.isEmpty, s"local fold definitions: $localFolds")
  }

  test("registered query count matches the round record") {
    assert(SparkEntry.queries.size == 287, // r17: +ta_lm_kn4,
      // +ta_lm_kn4_levels (the KN-style continuation-count tier),
      // +sim_ivfpq_opq, +sim_ivfpq_opq_serve,
      // +sim_ivfpq_opq_recall_curve (the rotated tier)
      s"query count drifted: ${SparkEntry.queries.size} — update the " +
        "round record (NOTES.md/README.md) together with this pin")
  }
}
