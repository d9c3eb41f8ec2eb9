package graft.components

import graft.core.component._
import graft.ops.Curation
import org.apache.spark.sql.functions._

/** Curation operators exposed as pipeline components (the reference's
  * extension path: write a DataFlow, wire it in HOCON —
  * reference README.md:49-76). Like every component, these read and
  * write NAMED TEMP VIEWS. Most of them join their input with an
  * aggregate of that same input, so the runner cuts each output view
  * once it is made (an eager `localCheckpoint`, see
  * [[graft.runner.SimplePipelineRunner]]) and the next component reads
  * it instead of re-running the lineage; a view only the sink reads
  * fuses into the write.
  */

/** CCNet-style boilerplate removal over a (doc_id, text, …) view: the
  * cleaned text REPLACES `text` (plus n_chunks/n_removed metadata), so
  * downstream text components compose unchanged. Extra input columns
  * ride through by a doc_id join so source/lang metadata survives.
  */
final class BoilerplateRemoval(
    inputView: String, outputView: String, width: Int, minDocs: Int)
  extends DataFlow {
  val name = s"boilerplate_removal($outputView)"
  def run(): Unit = {
    val docs = spark.table(inputView)
    // budget-switched removal (Curation.cleanWithFrequent): broadcast
    // kernel for a small frequent set, distributed hash join above it
    val cleaned = Curation.cleanWithFrequent(
        docs, Curation.frequentChunkHashes(docs, width, minDocs), width)
      .withColumnRenamed("clean_text", "text")
    val meta = docs.drop("text")
    cleaned.join(meta, Seq("doc_id"))
      .createOrReplaceTempView(outputView)
  }
}
object BoilerplateRemoval extends ComponentFactory {
  def fromConfig(c: Map[String, Any]): PipelineComponent =
    new BoilerplateRemoval(
      Cfg.str(c, "input_view"), Cfg.str(c, "output_view"),
      Cfg.intOr(c, "chunk_tokens", Curation.ChunkTokens),
      Cfg.intOr(c, "min_docs", Curation.BoilerMinDocs))
}

/** Corpus-trigram familiarity scoring over a (doc_id, text, …) view:
  * trains the frequency model on `model_view` (defaults to the input
  * view itself — self-scoring) and appends (n_tris, fam_sum,
  * familiarity) columns.
  */
final class FamiliarityScore(
    inputView: String, outputView: String, modelView: Option[String])
  extends DataFlow {
  val name = s"familiarity_score($outputView)"
  def run(): Unit = {
    val docs = spark.table(inputView)
    val model = Curation.trainTrigramModel(
      spark.table(modelView.getOrElse(inputView)))
    docs.join(Curation.scoreFamiliarity(docs, model), Seq("doc_id"))
      .createOrReplaceTempView(outputView)
  }
}
object FamiliarityScore extends ComponentFactory {
  def fromConfig(c: Map[String, Any]): PipelineComponent =
    new FamiliarityScore(
      Cfg.str(c, "input_view"), Cfg.str(c, "output_view"),
      Cfg.strOpt(c, "model_view"))
}

/** Per-source token-budget mixture selection over a
  * (doc_id, source, n_chars, text, …) view: keeps only the selected
  * documents (longest-first greedy under `budget` tokens per source).
  */
final class TokenBudgetMix(
    inputView: String, outputView: String, budget: Long)
  extends DataFlow {
  val name = s"token_budget_mix($outputView)"
  def run(): Unit = {
    val docs = spark.table(inputView)
    docs.join(
        Curation.mixBudgetOf(docs, budget).select(col("doc_id")),
        Seq("doc_id"), "left_semi")
      .createOrReplaceTempView(outputView)
  }
}
object TokenBudgetMix extends ComponentFactory {
  def fromConfig(c: Map[String, Any]): PipelineComponent =
    new TokenBudgetMix(
      Cfg.str(c, "input_view"), Cfg.str(c, "output_view"),
      Cfg.longOr(c, "budget_tokens", Curation.MixBudget))
}

/** DSIR-shaped importance scoring over a (doc_id, text, …) view:
  * appends an `importance` column (the per-trigram mean discriminant,
  * [[Curation.importanceOf]]). The target domain is either a separate
  * view (`target_view`) or a SQL predicate over the input
  * (`target_filter`, e.g. "lang = 'en'").
  */
final class ImportanceScore(
    inputView: String, outputView: String,
    targetView: Option[String], targetFilter: Option[String])
  extends DataFlow {
  val name = s"importance_score($outputView)"
  def run(): Unit = {
    val docs = spark.table(inputView)
    val target = targetView.map(spark.table).getOrElse {
      val f = targetFilter.getOrElse(sys.error(
        s"$name: need target_view or target_filter"))
      docs.where(f)
    }
    docs.join(
        Curation.importanceOf(docs, target)
          .select(col("doc_id"), col("mean_score").as("importance")),
        Seq("doc_id"))
      .createOrReplaceTempView(outputView)
  }
}
object ImportanceScore extends ComponentFactory {
  def fromConfig(c: Map[String, Any]): PipelineComponent =
    new ImportanceScore(
      Cfg.str(c, "input_view"), Cfg.str(c, "output_view"),
      Cfg.strOpt(c, "target_view"), Cfg.strOpt(c, "target_filter"))
}

/** UniMax language-balanced selection over a (doc_id, source, text, …)
  * view: allocates a GLOBAL token budget across sources by the
  * water-filling rule ([[graft.ops.Sampling.unimaxSelection]] — equal
  * shares unless capacity = total×epochs binds) and keeps the selected
  * document instances with an `epoch` column appended; rows replicate
  * when a scarce source is taken for several epochs. The per-source
  * TokenBudgetMix caps each source independently; this one balances
  * ACROSS sources under one budget.
  */
final class UnimaxMix(
    inputView: String, outputView: String, budget: Long, maxEpochs: Int)
  extends DataFlow {
  val name = s"unimax_mix($outputView)"
  def run(): Unit = {
    val docs = spark.table(inputView)
    docs.join(
        graft.ops.Sampling.unimaxSelection(docs, budget, maxEpochs)
          .select(col("doc_id"), col("epoch")),
        Seq("doc_id"))
      .createOrReplaceTempView(outputView)
  }
}
object UnimaxMix extends ComponentFactory {
  def fromConfig(c: Map[String, Any]): PipelineComponent =
    new UnimaxMix(
      Cfg.str(c, "input_view"), Cfg.str(c, "output_view"),
      Cfg.longOr(c, "budget_tokens", graft.ops.Sampling.UnimaxBudget),
      Cfg.intOr(c, "max_epochs", graft.ops.Sampling.UnimaxEpochs))
}

/** The kept (source, doc_id, rk) set of a per-source md5(doc_id)-rank
  * draw, via the bounded mergeable min-k aggregator — shared by the
  * row-form sampling components. The r1–r16 component form was a
  * source-partitioned rank window over the FULL view: a window
  * partition cannot be split by AQE, so a hot source's entire mass
  * sorted through one task at 100 TB (the smell the registered-suite
  * rewrites measured at 26× on the ×100 one-band worst case). Min-k
  * buffers never exceed k, the shuffle carries ≤ k (h, doc_id) pairs
  * per (source, partition), and the kept id set (≤ k × |sources|
  * rows) broadcasts into a semi-join that restores the full rows.
  */
private[components] object SourceDraw {
  def keptIds(docs: org.apache.spark.sql.DataFrame, k: Int)
      : org.apache.spark.sql.DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    docs
      .select(col("source").cast("string").as("source"),
        md5(col("doc_id").cast("string")).as("h"),
        col("doc_id").cast("long").as("doc_id"))
      .as[(String, String, Long)]
      .groupByKey(_._1)
      .mapValues(t => (t._2, t._3))
      .agg(new graft.functions.MinKPairsAggregator(k).toColumn.name("top"))
      .toDF("source", "top")
      .select(col("source"), posexplode(col("top")))
      .select(col("source"), col("col._2").as("doc_id"),
        (col("pos") + 1).cast("long").as("rk"))
  }
}

/** Per-source document cap over a (doc_id, source, …) view: keeps at
  * most `cap` documents per source, drawn by md5(doc_id) rank — the
  * domain-capping guard with recomputable membership
  * ([[graft.ops.Sampling.capPerSourceSummary]] semantics, row form).
  * r17: the draw is [[SourceDraw.keptIds]]'s min-k aggregation + a
  * broadcast semi-join, not a rank window — same membership, no
  * per-source single-task sort.
  */
final class PerSourceCap(
    inputView: String, outputView: String, cap: Int)
  extends DataFlow {
  val name = s"per_source_cap($outputView)"
  def run(): Unit = {
    val docs = spark.table(inputView)
    val kept = SourceDraw.keptIds(docs, cap).select(col("doc_id"))
    docs.join(broadcast(kept),
        docs("doc_id").cast("long") === kept("doc_id"), "left_semi")
      .createOrReplaceTempView(outputView)
  }
}
object PerSourceCap extends ComponentFactory {
  def fromConfig(c: Map[String, Any]): PipelineComponent =
    new PerSourceCap(
      Cfg.str(c, "input_view"), Cfg.str(c, "output_view"),
      Cfg.intOr(c, "cap", graft.ops.Sampling.CapPerSource))
}

/** Frozen hashed-linear quality gate over a (doc_id, text, …) view
  * ([[graft.ops.CorpusFilters.qualityClassifierOf]] — the
  * fastText-style corpus filter): every document is scored by the
  * broadcast fixed-width weight vector and rows with
  * `quality_score > min_score` survive; the score and token count ride
  * along as columns so downstream mixing/reporting stages can reuse
  * them without re-scoring.
  */
final class QualityClassifierGate(
    inputView: String, outputView: String, minScore: Long)
  extends DataFlow {
  val name = s"quality_classifier_gate($outputView)"
  def run(): Unit = {
    val docs = spark.table(inputView)
    val scored = graft.ops.CorpusFilters.qualityClassifierOf(docs)
      .select(col("doc_id"), col("score").as("quality_score"),
        col("n_tokens").as("quality_n_tokens"))
    // ADVICE r7: left-join, not inner — qualityClassifierOf emits no
    // row for documents that tokenize to zero tokens (explode drops
    // them), and an inner join would silently gate those out even under
    // a keep-everything min_score. Unscored docs get score 0 / 0 tokens
    // and face the same threshold as everything else.
    docs.join(scored, Seq("doc_id"), "left")
      .withColumn("quality_score", coalesce(col("quality_score"), lit(0L)))
      .withColumn("quality_n_tokens",
        coalesce(col("quality_n_tokens"), lit(0L)))
      .filter(col("quality_score") > minScore)
      .createOrReplaceTempView(outputView)
  }
}
object QualityClassifierGate extends ComponentFactory {
  def fromConfig(c: Map[String, Any]): PipelineComponent =
    new QualityClassifierGate(
      Cfg.str(c, "input_view"), Cfg.str(c, "output_view"),
      Cfg.longOr(c, "min_score", 0L))
}

/** Neyman stratified sampler as a pipeline stage: allocates the target
  * across sources by N_h·S_h over a metric column
  * ([[graft.ops.Sampling.neymanOf]] semantics), then DRAWS the
  * allocation deterministically — each source's n_h lowest-md5(doc_id)
  * docs — so membership is recomputable from ids alone (the sampling
  * doctrine every other sampler here follows).
  * r17: the draw is [[SourceDraw.keptIds]] at the max per-source
  * allocation (the allocation table is one bounded row per source),
  * trimmed to each source's own allocation, then a broadcast
  * semi-join — not a rank window. The min-k buffer is allocation-
  * sized: a sample TARGET, not corpus-sized, by construction.
  */
final class NeymanSample(
    inputView: String, outputView: String, target: Long)
  extends DataFlow {
  val name = s"neyman_sample($outputView)"
  def run(): Unit = {
    val docs = spark.table(inputView)
    val alloc = graft.ops.Sampling.neymanOf(docs, target)
      .select(col("source"), col("allocation"))
    // bounded: one row per source
    val maxAlloc = alloc.agg(max(col("allocation"))).head.getLong(0)
    require(maxAlloc <= Int.MaxValue.toLong,
      s"per-source allocation $maxAlloc exceeds the min-k buffer bound")
    val kept =
      if (maxAlloc <= 0L)
        docs.select(col("doc_id").cast("long").as("doc_id"))
          .filter(lit(false))
      else
        SourceDraw.keptIds(docs, maxAlloc.toInt)
          .join(broadcast(alloc), Seq("source"))
          .filter(col("rk") <= col("allocation"))
          .select(col("doc_id"))
    docs.join(broadcast(kept),
        docs("doc_id").cast("long") === kept("doc_id"), "left_semi")
      .createOrReplaceTempView(outputView)
  }
}
object NeymanSample extends ComponentFactory {
  def fromConfig(c: Map[String, Any]): PipelineComponent =
    new NeymanSample(
      Cfg.str(c, "input_view"), Cfg.str(c, "output_view"),
      Cfg.longOr(c, "target", graft.ops.Sampling.NeymanTarget))
}

/** Batching-waste report as a pipeline stage: materializes
  * [[graft.ops.Packing.packBucketWasteOf]] for the view — the
  * planning artifact a packing stage reads before choosing its window.
  */
final class BucketWasteReport(inputView: String, outputView: String)
  extends DataFlow {
  val name = s"bucket_waste_report($outputView)"
  def run(): Unit =
    graft.ops.Packing.packBucketWasteOf(spark.table(inputView))
      .createOrReplaceTempView(outputView)
}
object BucketWasteReport extends ComponentFactory {
  def fromConfig(c: Map[String, Any]): PipelineComponent =
    new BucketWasteReport(
      Cfg.str(c, "input_view"), Cfg.str(c, "output_view"))
}

/** T5/UL2 span-corruption layout planning over a (doc_id, text, …)
  * view — materializes the per-document denoising-span plan and
  * encoder/decoder sequence sizing ([[graft.ops.Packing.spanCorruptionOf]])
  * as a view the downstream batch packer consumes.
  */
final class SpanCorruptionPlan(inputView: String, outputView: String)
  extends DataFlow {
  val name = s"span_corruption_plan($outputView)"
  def run(): Unit =
    graft.ops.Packing.spanCorruptionOf(spark.table(inputView))
      .createOrReplaceTempView(outputView)
}
object SpanCorruptionPlan extends ComponentFactory {
  def fromConfig(c: Map[String, Any]): PipelineComponent =
    new SpanCorruptionPlan(
      Cfg.str(c, "input_view"), Cfg.str(c, "output_view"))
}

/** Character-level duplicated-span audit over a (doc_id, text, …)
  * view — the Lee et al. ExactSubstr convention
  * ([[graft.ops.Curation.substrSpansOf]]) as a pipeline stage: per-doc
  * duplicated-span counts/mass/fraction, the report a curation run
  * reads before deciding span-level removal.
  */
final class DupSpanAudit(inputView: String, outputView: String, l: Int)
  extends DataFlow {
  val name = s"dup_span_audit($outputView)"
  def run(): Unit =
    Curation.substrSpansOf(spark.table(inputView), l)
      .createOrReplaceTempView(outputView)
}
object DupSpanAudit extends ComponentFactory {
  def fromConfig(c: Map[String, Any]): PipelineComponent =
    new DupSpanAudit(
      Cfg.str(c, "input_view"), Cfg.str(c, "output_view"),
      Cfg.intOr(c, "span_chars", Curation.SubstrSpanL))
}
