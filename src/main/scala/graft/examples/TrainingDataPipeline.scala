package graft.examples

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables.t
import graft.core.config.SparkConfig
import graft.ops.{Dedup, Sampling}
import graft.ops.Scale.GatedCheckpoint
import graft.runtime.SessionWrapper

/** End-to-end training-data curation pipeline — the capstone composition
  * of the engine's operators, in the order a corpus pipeline actually
  * runs them:
  *
  *   1. quality gate   — token count / non-alpha ratio (one scan)
  *   2. exact dedup    — keep the min-doc_id copy of identical texts
  *   3. near-dup dedup — MinHash-LSH pairs → connected components →
  *                       keep each cluster's canonical (min id) doc
  *   4. split          — deterministic md5 train/val/test assignment
  *   5. write          — parquet partitioned by split
  *
  * Every stage is a DataFrame plan; nothing collects to the driver. At
  * 100 TB the stage costs are: one scan (1), one shuffle on text hash
  * (2), the LSH bucket join + O(diameter log) label rounds over the
  * pair set — pairs, not documents (3), a map-only projection (4), and
  * the partitioned write (5).
  *
  *   sbt "runMain graft.examples.TrainingDataPipeline <sfDir> <outDir>"
  *
  * Prints one JSON summary line (counts per stage + per split).
  */
object TrainingDataPipeline {

  final case class Summary(
      input: Long, afterQuality: Long, afterExact: Long, afterNearDup: Long,
      bySplit: Map[String, Long])

  /** `editDistVerified = false`: near-dup stage = MinHash-LSH pairs →
    * components → keep each cluster's min-id canonical (the fast path).
    * `true`: the full production chain with a stricter verifier and a
    * smarter survivor policy — shingle-blocked candidates verified by
    * bounded edit distance ([[Dedup.dedupEditDistanceOf]]) → connected
    * components → longest-document representatives
    * ([[graft.ops.Curation.dedupRepresentativesOf]]). Same plan skeleton,
    * only the verify kernel and the per-component keep rule change.
    */
  def run(spark: SparkSession, sfDir: String, outDir: String,
      editDistVerified: Boolean = false): Summary = {
    val docs = t(spark, sfDir, "documents").select(col("doc_id"), col("text"))
    val input = docs.count()

    // 1. quality gate (same thresholds the ta_quality query reports)
    val quality = StreamingCuration.qualityGate(docs)
    val nQuality = quality.count()

    // 2. exact dedup: canonical = min doc_id per identical text
    val canonicalExact = quality
      .withColumn("__h", md5(col("text")))
      .withColumn("__rk", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("__h")).orderBy(col("doc_id").asc)))
      .filter(col("__rk") === 1).drop("__h", "__rk")
    val nExact = canonicalExact.count()

    // 3. near-dup removal. Fast path: LSH pairs on the survivors →
    //    components → drop every doc whose component id isn't itself.
    //    Edit-distance-verified path: blocked candidates verified by
    //    bounded Levenshtein, then keep each component's LONGEST member
    //    (ties to the lowest doc_id) via the representative policy.
    val kept =
      if (editDistVerified) {
        val pairs = Dedup.dedupEditDistanceOf(canonicalExact)
          .select(col("a"), col("b"))
        val comps = Dedup.connectedComponents(pairs)
        val reps = graft.ops.Curation.dedupRepresentativesOf(
          comps,
          canonicalExact.select(
            col("doc_id"), length(col("text")).as("n_chars")))
        // docs in no component survive untouched; each component keeps
        // exactly its representative
        canonicalExact
          .join(comps.select(col("doc_id")), Seq("doc_id"), "left_anti")
          .unionByName(canonicalExact.join(
            reps.select(col("rep_doc_id").as("doc_id")),
            Seq("doc_id"), "left_semi"))
      } else {
        val sets = Dedup.shingleSetsOf(canonicalExact).cache()
        try {
          val buckets = Dedup.lshBucketsFused(sets)
          val pairs =
            Dedup.verifyJaccardSets(Dedup.candidatePairs(buckets), sets, 0.8)
          val dupIds = Dedup.connectedComponents(pairs)
            .filter(col("doc_id") =!= col("component_id"))
            .select(col("doc_id"))
          canonicalExact.join(dupIds, Seq("doc_id"), "left_anti")
            .gatedCheckpoint()
        } finally { sets.unpersist(); () }
      }
    val nKept = kept.count()

    // 4+5. deterministic split, partitioned write
    val split = Sampling.hashSplit(kept, "doc_id")
    split.write.mode("overwrite").partitionBy("split").parquet(outDir)

    val bySplit = spark.read.parquet(outDir)
      .groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    Summary(input, nQuality, nExact, nKept, bySplit)
  }

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = new SessionWrapper(SparkConfig.local()).session
    spark.sparkContext.setLogLevel("WARN")
    val s = run(spark, sfDir, outDir)
    val splits = s.bySplit.toSeq.sortBy(_._1)
      .map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
    println(s"""{"input":${s.input},"after_quality":${s.afterQuality},"after_exact":${s.afterExact},"after_near_dup":${s.afterNearDup},"by_split":$splits}""")
    spark.stop()
  }
}
