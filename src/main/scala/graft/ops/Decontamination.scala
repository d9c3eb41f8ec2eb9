package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.Scale.GatedCheckpoint

/** Benchmark decontamination over the `documents` table: find training
  * documents that share word n-grams with a held-out evaluation set, so
  * they can be dropped before training (the standard "did the eval set
  * leak into the corpus?" sweep an LLM data pipeline runs last).
  *
  * The evaluation set here is the deterministic hash tail of the corpus
  * — `md5(doc_id) >= "f8"` (~3.1% of docs), the same stable-membership
  * idiom as [[Sampling]]: any row's eval membership is recomputable from
  * its id alone, which is what makes a contamination audit repeatable.
  * In production the eval side is an external benchmark table; the
  * operator shape is identical.
  *
  * 100 TB shape: shingles leave the scan already fnv64-hashed to longs
  * ([[Dedup.shingled]]), so the contamination probe joins on 8-byte
  * keys. The eval side is BOUNDED (benchmarks are small — thousands of
  * docs, not billions), so it broadcasts and the corpus is scanned once
  * with a broadcast hash join — no shuffle of the training side at all.
  * The per-pair `count` aggregates (train_id, eval_id) — cardinality
  * bounded by |eval| × matches, not by the corpus.
  */
object Decontamination {

  /** Eval docs = top ~3.1% of the md5 hash space (8/256). */
  val EvalLower = "f8"

  /** Pairs must share at least this many distinct shingles to count as
    * contamination (1 shared trigram among unrelated docs is noise).
    */
  val MinShared = 2L

  /** Wide-window sweep: a single shared 13-gram is already strong
    * evidence of verbatim overlap (the conventional production window),
    * so the wide variant uses minShared = 1.
    */
  val WideN = 13

  private def isEval(id: Column): Column =
    md5(id.cast("string")) >= EvalLower

  /** (train_id, eval_id, n_shared) for every train/eval pair sharing ≥
    * `minShared` distinct `n`-gram shingles.
    */
  def contaminationPairs(s: SparkSession, dir: String,
      n: Int = Dedup.ShingleN, minShared: Long = MinShared): DataFrame = {
    import s.implicits._
    // filter BEFORE shingling: the md5 predicate runs on the scan, so the
    // eval side reads ~3% of the corpus and the broadcast stays bounded
    val docs = graft.Tables.t(s, dir, "documents")
    contaminationPairsOf(
      docs.filter(!isEval($"doc_id")),
      docs.filter(isEval($"doc_id")), n, minShared)
  }

  /** [[contaminationPairs]] over arbitrary (doc_id, text) frames — the
    * production shape where the eval side is an external benchmark
    * table, not a hash split of the corpus.
    */
  def contaminationPairsOf(train: DataFrame, evalDocs: DataFrame,
      n: Int = Dedup.ShingleN, minShared: Long = MinShared): DataFrame = {
    val s = train.sparkSession
    import s.implicits._
    contaminationAgainst(train,
      Dedup.shingledOf(evalDocs, n).select($"doc_id".as("eval_id"), $"sh"),
      minShared, n)
  }

  /** The probe stage against a PRE-SHINGLED eval table, (eval_id, sh) —
    * pair with [[writeEvalShingles]]: benchmarks change rarely, so a
    * pipeline shingles them once, persists the table, and every corpus
    * batch (streaming or backfill) joins the frozen table without ever
    * re-reading benchmark text. Cost ∝ batch; the eval side broadcasts
    * (benchmarks are thousands of docs, not billions).
    */
  def contaminationAgainst(train: DataFrame, evalSh: DataFrame,
      minShared: Long = MinShared, n: Int = Dedup.ShingleN): DataFrame = {
    val s = train.sparkSession
    import s.implicits._
    Dedup.shingledOf(train, n)
      .join(broadcast(evalSh), "sh")
      .groupBy($"doc_id".as("train_id"), $"eval_id")
      .agg(count(lit(1)).as("n_shared"))
      .filter($"n_shared" >= minShared)
      .orderBy("train_id", "eval_id")
  }

  /** Shingle an eval/benchmark set once and persist it — the frozen
    * state [[contaminationAgainst]] probes.
    */
  def writeEvalShingles(evalDocs: DataFrame, path: String,
      n: Int = Dedup.ShingleN): Unit = {
    val s = evalDocs.sparkSession
    import s.implicits._
    Dedup.shingledOf(evalDocs, n)
      .select($"doc_id".as("eval_id"), $"sh")
      .write.mode("overwrite").parquet(path)
  }

  /** Cosine threshold for the semantic sweep (the synthetic embeddings
    * cluster loosely; 0.30 is well into the upper tail — see the probe
    * counts in the spec).
    */
  val SemThreshold = 0.30

  /** Semantic decontamination: training documents whose EMBEDDING is
    * near-parallel to an eval vector — catches paraphrased/translated
    * benchmark leakage the verbatim n-gram sweep cannot see (the
    * standard second gate next to [[contaminationPairs]]). Eval side =
    * the same md5-tail split, on the embeddings table.
    *
    * 100 TB shape: benchmarks are SMALL, so the eval vectors collect
    * once (bounded, the query-vector idiom) and broadcast; the training
    * side is scanned exactly once with a per-row compiled kernel — no
    * shuffle at all before the output sort, and nothing corpus-sized
    * ever moves. Cosine is the same left-to-right IEEE fold as the
    * sim_* kernels, so DuckDB replays every value bit-exactly.
    */
  def deconSemantic(s: SparkSession, dir: String,
      threshold: Double = SemThreshold): DataFrame = {
    import s.implicits._
    val e = graft.Tables.t(s, dir, "embeddings")
      .select($"vec_id", $"embedding".cast("array<double>").as("v"))
    deconSemanticOf(
      e.filter(!isEval($"vec_id")), e.filter(isEval($"vec_id")), threshold)
  }

  /** [[deconSemantic]] over arbitrary (vec_id, v: array<double>) frames
    * — the production shape with an external benchmark embedding table.
    */
  def deconSemanticOf(train: DataFrame, evalVecs: DataFrame,
      threshold: Double = SemThreshold): DataFrame = {
    val s = train.sparkSession
    import s.implicits._
    // Zero-norm vectors make cos NaN; Scala's >= drops NaN silently but
    // IEEE-mode engines may order it above all values — skip them
    // explicitly on BOTH sides (mirrored by the norm > 0 predicates in
    // the oracle SQL) so degenerate embeddings can't diverge engines.
    val ev = evalVecs.as[(Long, Array[Double])].collect().sortBy(_._1)
      .map { case (id, v) =>
        (id, v, math.sqrt(Similarity.dotArr(v, v)))
      }
      .filter(_._3 > 0.0) // bounded: benchmarks are thousands of vectors
    val bc = s.sparkContext.broadcast(ev)
    train.as[(Long, Array[Double])]
      .flatMap { case (id, v) =>
        val na = math.sqrt(Similarity.dotArr(v, v))
        if (na <= 0.0) Iterator.empty
        else bc.value.iterator.flatMap { case (eid, evv, ne) =>
          val c = Similarity.dotArr(v, evv) / (na * ne)
          if (c >= threshold) Some((id, eid, c)) else None
        }
      }
      .toDF("train_id", "eval_id", "cos")
      .orderBy("train_id", "eval_id")
  }

  /** Per-eval-doc contamination report: how many training docs hit it,
    * and how hard — the summary a pipeline gates a training run on.
    */
  def contaminationReport(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    contaminationPairs(s, dir)
      .groupBy($"eval_id")
      .agg(
        count(lit(1)).as("n_train_docs"),
        max($"n_shared").as("max_shared"),
        sum($"n_shared").as("total_shared"))
      .orderBy("eval_id")
  }

  /** Jaccard bound for the MinHash decon sweep — the near-dup
    * threshold, not the shared-shingle heuristic: this tier catches
    * eval documents that are WHOLESALE near-copies of training docs
    * (the Lee et al. 2022 contamination class), complementing
    * [[contaminationPairs]]' n-gram-overlap evidence tier.
    */
  val MinhashThreshold = 0.8

  /** MinHash-LSH decontamination: banded-LSH candidates between the
    * eval split and the training split, exact-Jaccard verified — the
    * scale tier of decontamination (the n-gram pair sweep touches
    * every shared shingle; this one touches only band-bucket
    * collisions, cost ∝ eval batch). Delegates to
    * [[Dedup.crossCorpusNearDups]], so the incremental contract holds:
    * a frozen benchmark's buckets/sets persist and each corpus batch
    * probes them. Output (eval_id, train_id, jaccard).
    */
  def deconMinhash(s: SparkSession, dir: String,
      threshold: Double = MinhashThreshold): DataFrame = {
    import s.implicits._
    val docs = graft.Tables.t(s, dir, "documents").select($"doc_id", $"text")
    // shingle the corpus ONCE and split the cached set table — the
    // shingling pass is the dominant cost and both sides need it
    val sets = Dedup.shingleSetsOf(docs).cache()
    try {
      Dedup.crossCorpusNearDups(
          sets.filter(isEval($"doc_id")),
          sets.filter(!isEval($"doc_id")), threshold)
        .select($"a".as("eval_id"), $"b".as("train_id"), $"jaccard")
        .orderBy("eval_id", "train_id")
        .gatedCheckpoint()
    } finally sets.unpersist()
  }

  /** Snapshot V1 of the synthetic benchmark: md5 tail slice [f4, fc) —
    * overlapping [[EvalLower]]'s ≥ f8 (snapshot V2) on [f8, fc), so a
    * refresh exhibits all three transition classes: evals RELEASED by
    * V2 ([f4, f8)), KEPT ([f8, fc)), and NEW (≥ fc). Same
    * recomputable-membership idiom as the base split.
    */
  val SnapV1Lower = "f4"
  val SnapV1Upper = "fc"

  /** decon_cross_snapshot: the benchmark-REFRESH audit (VERDICT r10
    * next-step #8) — when the frozen eval set moves from snapshot V1
    * to V2, which training documents does the new snapshot newly
    * forbid, which stay forbidden, and which V1-only hits are released?
    * One row per train doc contaminated under EITHER snapshot:
    * (train_id, n_eval_v1, n_eval_v2, status ∈ new|kept|released),
    * with n_eval_* = distinct eval docs hit at the [[MinShared]]
    * evidence tier. The training universe is docs in NEITHER snapshot,
    * so both probes audit the same corpus and the statuses are pure
    * snapshot deltas.
    *
    * 100 TB shape: the corpus is shingled ONCE; both snapshots ride a
    * single broadcast join against the tagged union of the two
    * (bounded) eval shingle tables — no second corpus scan, no shuffle
    * of the training side; the per-pair and per-doc aggregates are
    * bounded by |eval| × matches. Production swaps the md5 slices for
    * two frozen [[writeEvalShinglesVersioned]] snapshot versions —
    * identical probe shape.
    */
  def deconCrossSnapshot(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = graft.Tables.t(s, dir, "documents")
    def m(c: Column) = md5(c.cast("string"))
    val inV1 = m($"doc_id") >= SnapV1Lower && m($"doc_id") < SnapV1Upper
    val inV2 = m($"doc_id") >= EvalLower
    // ONE eval shingle pass for both snapshots: each doc tokenizes once
    // and its hashes fan out under every snapshot tag it belongs to —
    // the snapshots OVERLAP on [f8, fc) by design, so an overlap doc
    // emits both tags, exactly the rows the r17 per-snapshot shingledOf
    // union produced (that form scanned + tokenized the eval slices
    // twice)
    val taggedEval = docs.filter(inV1 || inV2)
      .select($"doc_id", $"text", inV1.as("v1"), inV2.as("v2"))
      .as[(Long, String, Boolean, Boolean)]
      .flatMap { case (id, text, v1, v2) =>
        val hs = Dedup.widthShingleHashes(text, Seq(Dedup.ShingleN))
          .map(_._2).toArray
        val t1: Iterator[(Long, Long, Int)] =
          if (v1) hs.iterator.map(h => (id, h, 1)) else Iterator.empty
        val t2: Iterator[(Long, Long, Int)] =
          if (v2) hs.iterator.map(h => (id, h, 2)) else Iterator.empty
        t1 ++ t2
      }
      .toDF("eval_id", "sh", "snap")
    crossSnapshotStatus(crossSnapshotHitsOf(
        docs.filter(!inV1 && !inV2), taggedEval))
      .orderBy("train_id")
  }

  /** The cross-snapshot probe's shared trunk — one corpus shingle
    * pass, ONE broadcast join of the tagged two-snapshot shingle
    * union, per-(train, eval, snap) evidence at the [[MinShared]]
    * tier, reduced per train doc. Shared by the registered batch query
    * and its incremental streaming twin
    * ([[graft.examples.StreamingCuration.mergeCrossSnapshotState]]),
    * so the two can never drift. `taggedEval` is (eval_id, sh, snap);
    * `train` is (doc_id, text, …).
    */
  def crossSnapshotHitsOf(train: DataFrame, taggedEval: DataFrame): DataFrame =
    Dedup.shingledOf(train, Dedup.ShingleN)
      .join(broadcast(taggedEval), "sh")
      .groupBy(col("doc_id").as("train_id"), col("eval_id"), col("snap"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= MinShared)
      .groupBy(col("train_id"))
      .agg(
        countDistinct(when(col("snap") === 1, col("eval_id"))).as("n_eval_v1"),
        countDistinct(when(col("snap") === 2, col("eval_id"))).as("n_eval_v2"))

  /** Status classification over [[crossSnapshotHitsOf]] rows. */
  def crossSnapshotStatus(counts: DataFrame): DataFrame =
    counts.select(col("train_id"), col("n_eval_v1"), col("n_eval_v2"),
      when(col("n_eval_v1") > 0L && col("n_eval_v2") > 0L, "kept")
        .when(col("n_eval_v2") > 0L, "new")
        .otherwise("released").as("status"))

  /** Evidence tiers for [[deconTierCurve]] — dyadic, like the EWMA and
    * span-length bands.
    */
  val TierCurveTiers: Seq[Long] = Seq(1L, 2L, 4L, 8L, 16L)

  /** decon_tier_curve: the evidence-threshold TUNING curve — for each
    * dyadic `n_shared` tier, how many (train, eval) pairs, distinct
    * training docs, and distinct eval docs a decontamination gate at
    * that tier would flag. The decon analog of `dedup_jaccard_hist`: a
    * pipeline owner reads this before choosing [[MinShared]] (a cliff
    * between tiers says thresholds inside the gap are stable; a smear
    * says the benchmark leaks gradually and the gate needs the wide-N
    * variant instead).
    *
    * 100 TB shape: ONE corpus shingle pass + ONE broadcast eval probe
    * (the [[contaminationPairs]] trunk at evidence tier 1), then every
    * tier reads the SAME bounded pair table via conditional aggregates
    * in a single pass — no re-probe per tier; the 1-row aggregate
    * reshapes to tier rows with `stack`.
    */
  def deconTierCurve(s: SparkSession, dir: String): DataFrame =
    tierCurveOfPairs(contaminationPairs(s, dir, minShared = 1L))

  /** The per-tier rollup over any (train_id, eval_id, n_shared)
    * evidence table — shared by the registered query and the
    * incremental twin
    * ([[graft.examples.StreamingCuration.tierCurveFromState]]).
    */
  def tierCurveOfPairs(pairs: DataFrame): DataFrame = {
    val aggs = TierCurveTiers.flatMap { t =>
      Seq(
        count(when(col("n_shared") >= t, 1)).as(s"p$t"),
        countDistinct(when(col("n_shared") >= t, col("train_id"))).as(s"tr$t"),
        countDistinct(when(col("n_shared") >= t, col("eval_id"))).as(s"ev$t"))
    }
    pairs.agg(aggs.head, aggs.tail: _*)
      .selectExpr("stack(" + TierCurveTiers.length + ", " +
        TierCurveTiers.map(t => s"${t}L, p$t, tr$t, ev$t").mkString(", ") +
        ") as (tier, n_pairs, n_train_docs, n_eval_docs)")
      .orderBy("tier")
  }

  /** decon_smear_report: the combined-width evidence report the
    * [[deconTierCurve]] doc points at — for every train/eval pair
    * flagged at EITHER evidence width, the trigram mass (n=3, the
    * smear-sensitive window) and the 13-gram count (the verbatim
    * window) side by side, classed `hard` (≥1 shared 13-gram — long
    * verbatim overlap, the conventional production trip-wire) vs
    * `smeared` (trigram mass ≥ [[MinShared]] with NO 13-gram — gradual
    * paraphrase-style leakage only the narrow window sees). A pipeline
    * owner reads this to decide whether [[WideN]] alone is a safe gate
    * for a given benchmark or the narrow sweep must stay on.
    *
    * r15 (VERDICT r14 ask #3): the report carries a THIRD evidence
    * width — character-level winnow fingerprints (`n_shared_w`, the
    * [[deconWinnow]] kernel) — and the class `char_verbatim` for pairs
    * whose verbatim character runs word tokenization smears (joined
    * words, punctuation-mangled quotes): ≥ [[MinShared]] shared
    * df-capped fingerprints with no 13-gram.
    *
    * 100 TB shape: the training corpus is scanned ONCE, emitting all
    * three channels from one text pass ([[smearChannelsOf]] — the
    * shared [[Dedup.widthShingleHashes]] + [[TextAnalysis.winnow]]
    * kernels); the eval side is bounded and broadcasts as a
    * channel-tagged union (the cross-snapshot tagged-probe pattern;
    * the char channel df-capped on eval's own frequencies); one
    * broadcast join on (channel, 8-byte hash), one (train, eval)
    * aggregation with conditional sums — cardinality bounded by
    * contaminated mass, and nothing corpus-sized shuffles.
    */
  def deconSmearReport(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = graft.Tables.t(s, dir, "documents")
    smearClassOf(smearPairsOf(
      docs.filter(!isEval($"doc_id")), docs.filter(isEval($"doc_id"))))
  }

  /** Channel tag for character-level winnow fingerprints in the
    * width-tagged smear probe — word widths use their gram count
    * (3/13), the char channel uses 0 (no word width is 0, so the tag
    * can never collide with a shingle width).
    */
  val WinnowChannel = 0

  /** The smear report's probe trunk — (train_id, eval_id, n_shared_3,
    * n_shared_13, n_shared_w) for every pair sharing ≥1 shingle at
    * either word width OR ≥1 winnow fingerprint (the char channel,
    * VERDICT r14 ask #3) — shared by the registered query and the
    * incremental twin
    * ([[graft.examples.StreamingCuration.smearReportFromState]]), so
    * the two derivations cannot drift. Per-pair counts are complete
    * within a train doc's batch (whole documents arrive in one row,
    * and both kernels emit per-doc DEDUPLICATED hashes), which is what
    * makes the twin's appends the merge.
    */
  def smearPairsOf(train: DataFrame, evalDocs: DataFrame): DataFrame = {
    val s = train.sparkSession
    import s.implicits._
    val widths = Seq(Dedup.ShingleN, WideN)
    // ONE eval kernel pass emits all three probe channels — the same
    // [[smearChannelsOf]] kernel the train side runs (the r17 form
    // tokenized the eval side FOUR times: once per word width plus
    // twice inside the winnow df-cap — 4 of the plan's 5 MapPartitions
    // passes). The winnow channel's eval-df cap (the
    // [[cappedEvalWinnowFps]] guard, unchanged semantics) filters the
    // cached channel table instead of re-running the winnow kernel;
    // the bounded tagged probe checkpoints eagerly so the cache can
    // release before the corpus-mass train join executes.
    val evalCh = smearChannelsOf(evalDocs, widths).cache()
    val evalSh = try {
      val wFp = evalCh.filter($"n" === WinnowChannel)
      val hot = wFp.groupBy($"sh").agg(count(lit(1)).as("df"))
        .filter($"df" > WinnowEvalMaxDf).select($"sh")
      evalCh.filter($"n" =!= WinnowChannel)
        .unionByName(wFp.join(broadcast(hot), Seq("sh"), "left_anti"))
        .select($"n", $"doc_id".as("eval_id"), $"sh")
        .gatedCheckpoint()
    } finally evalCh.unpersist()
    smearChannelsOf(train, widths)
      .join(broadcast(evalSh), Seq("n", "sh"))
      .groupBy($"doc_id".as("train_id"), $"eval_id")
      .agg(
        sum(when($"n" === Dedup.ShingleN, 1L).otherwise(0L)).as("n_shared_3"),
        sum(when($"n" === WideN, 1L).otherwise(0L)).as("n_shared_13"),
        sum(when($"n" === WinnowChannel, 1L).otherwise(0L)).as("n_shared_w"))
  }

  /** ONE corpus scan emitting all three probe channels: word shingles
    * at each width via the shared [[Dedup.widthShingleHashes]] kernel
    * (tag = width) plus winnow fingerprints via the compiled
    * [[TextAnalysis.winnow]] kernel (tag = [[WinnowChannel]]) — the
    * widened form of the r13 both-widths-from-one-tokenize shape.
    */
  private[ops] def smearChannelsOf(train: DataFrame, widths: Seq[Int]): DataFrame = {
    val s = train.sparkSession
    import s.implicits._
    val ws = widths.distinct.sorted
    train.select($"doc_id", $"text").as[(Long, String)]
      .flatMap { case (id, text) =>
        (Dedup.widthShingleHashes(text, ws) ++
          TextAnalysis.winnow(text).iterator.map(fp => (WinnowChannel, fp)))
          .map { case (n, h) => (id, n, h) }
      }
      .toDF("doc_id", "n", "sh")
  }

  /** The report tail over any (train_id, eval_id, n_shared_3,
    * n_shared_13, n_shared_w) evidence table: gate at [[MinShared]]
    * trigrams OR one 13-gram OR [[MinShared]] winnow fingerprints;
    * class `hard` (verbatim 13-word run — the conventional trip-wire)
    * vs `char_verbatim` (no 13-gram, but a character-level verbatim
    * run the winnow sweep caught — the leakage class word
    * tokenization smears) vs `smeared` (word-trigram mass only —
    * paraphrase-style gradual overlap).
    */
  def smearClassOf(pairs: DataFrame): DataFrame =
    pairs
      .filter(col("n_shared_3") >= MinShared || col("n_shared_13") >= 1L ||
        col("n_shared_w") >= MinShared)
      .select(col("train_id"), col("eval_id"),
        col("n_shared_3"), col("n_shared_13"), col("n_shared_w"),
        when(col("n_shared_13") >= 1L, lit("hard"))
          .when(col("n_shared_w") >= MinShared, lit("char_verbatim"))
          .otherwise(lit("smeared"))
          .as("status"))
      .orderBy("train_id", "eval_id")

  /** Eval-side document-frequency cap for the winnow probe: a
    * fingerprint present in more eval documents than this is benchmark
    * boilerplate (shared preamble/license runs) and carries no
    * discrimination — dropping it bounds the per-fingerprint join
    * fan-out, the same skew guard as
    * [[TextAnalysis.dedupWinnowPairs]]'s corpus-wide cap. Computed on
    * the BOUNDED eval side only, so the guard itself is cheap.
    */
  val WinnowEvalMaxDf = 20L

  /** decon_winnow: character-level decontamination via winnowing
    * fingerprints (Schleimer et al. 2003) — the third evidence width
    * next to the word-3-gram and word-13-gram sweeps: winnowing's
    * guarantee (any shared substring of length ≥ k+w−1 = 11 CHARS
    * shares a fingerprint) catches verbatim character runs that word
    * tokenization smears across token boundaries (joined words,
    * punctuation-mangled quotes), the leakage class neither word width
    * sees. Pairs must share ≥ [[MinShared]] distinct df-capped
    * fingerprints.
    *
    * 100 TB shape: identical to [[contaminationPairs]] — fingerprints
    * leave the scan as 8-byte longs from the compiled
    * [[TextAnalysis.winnow]] kernel (~2/(w+1) of positions, so the
    * exploded fingerprint table is a fraction of the character mass);
    * the eval side is bounded, df-capped on ITS OWN document
    * frequencies, and broadcast, so the training corpus is scanned
    * once with a broadcast hash join and the per-pair aggregate is
    * bounded by contaminated mass — nothing corpus-sized shuffles.
    */
  def deconWinnow(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = graft.Tables.t(s, dir, "documents")
    deconWinnowOf(docs.filter(!isEval($"doc_id")), docs.filter(isEval($"doc_id")))
  }

  /** [[deconWinnow]] over arbitrary (doc_id, text) frames — the
    * production shape with an external benchmark table.
    */
  def deconWinnowOf(train: DataFrame, evalDocs: DataFrame,
      minShared: Long = MinShared): DataFrame =
    winnowGate(
      winnowProbeOf(train, cappedEvalWinnowFps(evalDocs)), minShared)

  /** The df-capped eval fingerprint table (eval_id, fp) — the frozen
    * half of the winnow probe: benchmarks change rarely, so a pipeline
    * fingerprints them once (cap INCLUDED — the guard is a property of
    * the snapshot, not of the probing batch) and every corpus batch
    * joins the bounded result.
    */
  def cappedEvalWinnowFps(evalDocs: DataFrame): DataFrame = {
    val s = evalDocs.sparkSession
    import s.implicits._
    // ONE eval winnow kernel pass: the df-cap guard and the anti-join
    // both read the cached fingerprint table (the r17 form ran the
    // kernel twice — once under `hot`, once under the anti-join); the
    // capped result is eval-bounded and checkpoints eagerly so the
    // cache releases before the corpus-mass probe join executes.
    val evFp = winnowFpsOf(evalDocs).select($"doc_id".as("eval_id"), $"fp")
      .cache()
    try {
      val hot = evFp.groupBy($"fp").agg(count(lit(1)).as("df"))
        .filter($"df" > WinnowEvalMaxDf).select($"fp")
      // both sides of the guard are eval-bounded; broadcast the hot list
      // explicitly (the sibling df-cap guards' form) so a large benchmark
      // snapshot can never sort-merge the exploded eval fingerprints
      evFp.join(broadcast(hot), Seq("fp"), "left_anti").gatedCheckpoint()
    } finally evFp.unpersist()
  }

  /** The probe trunk: per-(train, eval) distinct-shared-fingerprint
    * counts at evidence tier ≥ 1 against a prepared
    * [[cappedEvalWinnowFps]] table — shared by the registered query
    * and the incremental streaming twin
    * ([[graft.examples.StreamingCuration.mergeWinnowEvidenceState]]),
    * so the two derivations cannot drift. Counts are complete within a
    * train doc's batch (whole documents arrive in one row, and the
    * kernel emits per-doc DEDUPLICATED fingerprints), which is what
    * makes the twin's appends the merge.
    */
  def winnowProbeOf(train: DataFrame, evalFps: DataFrame): DataFrame =
    winnowFpsOf(train)
      .join(broadcast(evalFps), "fp")
      .groupBy(col("doc_id").as("train_id"), col("eval_id"))
      .agg(count(lit(1)).as("n_shared"))

  /** The report tail over any (train_id, eval_id, n_shared) winnow
    * evidence table: gate at `minShared` distinct fingerprints.
    */
  def winnowGate(pairs: DataFrame,
      minShared: Long = MinShared): DataFrame =
    pairs.filter(col("n_shared") >= minShared)
      .orderBy("train_id", "eval_id")

  /** decon_winnow_curve: the evidence-threshold TUNING curve for the
    * character-level gate — [[deconTierCurve]]'s exact analog over
    * winnow-fingerprint evidence: per dyadic shared-fingerprint tier,
    * the pairs / distinct train docs / distinct eval docs a char-level
    * gate at that tier would flag. Read before choosing the winnow
    * [[MinShared]] the same way the word-level curve tunes the n-gram
    * gate. Shares [[tierCurveOfPairs]] (one conditional-aggregate pass
    * over the bounded tier-1 pair table, `stack` reshape) and the
    * [[winnowProbeOf]]/[[cappedEvalWinnowFps]] probe trunks, so the
    * three winnow queries and the streaming twin can never drift.
    */
  def deconWinnowCurve(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = graft.Tables.t(s, dir, "documents")
    tierCurveOfPairs(winnowProbeOf(
      docs.filter(!isEval($"doc_id")),
      cappedEvalWinnowFps(docs.filter(isEval($"doc_id")))))
  }

  /** Per-eval-doc winnow contamination rollup — [[contaminationReport]]
    * at the character level: how many training docs hit each benchmark
    * item through the fingerprint sweep, and how hard. Same bounded
    * aggregation over the gated pair table; a pipeline gates a
    * training run on this next to the word-level report.
    */
  def deconWinnowReport(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    deconWinnow(s, dir)
      .groupBy($"eval_id")
      .agg(
        count(lit(1)).as("n_train_docs"),
        max($"n_shared").as("max_shared"),
        sum($"n_shared").as("total_shared"))
      .orderBy("eval_id")
  }

  /** decon_source_report: contamination attribution by SOURCE — for
    * every training source, its corpus size, how many of its docs are
    * contaminated (≥ [[MinShared]] shared 3-gram shingles with any
    * benchmark item), the pair/eval-doc/shingle mass behind that, and
    * the contaminated share. THE actionable form of the sweep: a
    * pipeline owner doesn't delete individual doc ids, they quarantine
    * or renegotiate a DATA SOURCE — this report names the vendor and
    * quantifies the blast radius (and a zero-contamination source
    * still appears, share 0, so "clean" is a positive finding, not an
    * absence).
    *
    * 100 TB shape: the contaminated pair table is bounded and
    * BROADCASTS into one training-corpus scan (left join — the
    * per-source totals ride the same scan as the contamination tags);
    * one aggregation with three distinct measures (one Expand, the
    * dq_table_stats stance); output is |sources| rows.
    */
  def deconSourceReport(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = graft.Tables.t(s, dir, "documents")
    val pairs = contaminationPairs(s, dir)
    docs.filter(!isEval($"doc_id"))
      .select($"doc_id".as("train_id"), $"source")
      .join(broadcast(pairs), Seq("train_id"), "left")
      .groupBy($"source")
      .agg(
        countDistinct($"train_id").as("n_docs"),
        countDistinct(when($"eval_id".isNotNull, $"train_id"))
          .as("n_contaminated_docs"),
        count($"eval_id").as("n_pairs"),
        countDistinct($"eval_id").as("n_eval_docs"),
        coalesce(sum($"n_shared"), lit(0L)).as("total_shared"))
      .select($"source", $"n_docs", $"n_contaminated_docs", $"n_pairs",
        $"n_eval_docs", $"total_shared",
        ($"n_contaminated_docs".cast("double") / $"n_docs".cast("double"))
          .as("contaminated_share"))
      .orderBy("source")
  }

  /** Exploded (doc_id, fp) winnow fingerprints — the compiled
    * signed-Long kernel; per-doc sets arrive already deduplicated, so
    * downstream pair counts are distinct-fingerprint counts.
    */
  private[ops] def winnowFpsOf(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    docs.select($"doc_id", $"text").as[(Long, String)]
      .flatMap { case (id, text) =>
        TextAnalysis.winnow(text).iterator.map(fp => (id, fp))
      }
      .toDF("doc_id", "fp")
  }

  /** Persist an eval/benchmark shingle snapshot as a VERSIONED state —
    * the crash-safe form of [[writeEvalShingles]] (VERDICT r10
    * next-step #8): each benchmark refresh commits a fresh
    * `eval_shingles_v<N>` under the [[graft.streaming.VersionedState]]
    * protocol, so a crashed refresh leaves the previous snapshot fully
    * servable and readers only ever see a committed version. Snapshots
    * are unmanaged versions (batchId −1): a benchmark refresh is an
    * operator action, not a stream batch.
    */
  def writeEvalShinglesVersioned(spark: SparkSession, stateDir: String,
      evalDocs: DataFrame, n: Int = Dedup.ShingleN): Unit = {
    import spark.implicits._
    val sh = Dedup.shingledOf(evalDocs, n)
      .select($"doc_id".as("eval_id"), $"sh")
    graft.streaming.VersionedState.fold(spark, stateDir,
      "eval_shingles", -1L)(_.write(sh))
  }

  /** The latest committed eval-shingle snapshot (None before the first
    * [[writeEvalShinglesVersioned]] refresh).
    */
  def latestEvalShingles(spark: SparkSession,
      stateDir: String): Option[DataFrame] =
    graft.streaming.VersionedState.readTable(spark, stateDir, "eval_shingles")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "decon_minhash" -> ((s, d) => deconMinhash(s, d)),
    "decon_pairs" -> ((s, d) => contaminationPairs(s, d)),
    "decon_pairs_13gram" -> ((s, d) =>
      contaminationPairs(s, d, n = WideN, minShared = 1L)),
    "decon_semantic" -> ((s, d) => deconSemantic(s, d)),
    "decon_cross_snapshot" -> deconCrossSnapshot,
    // new in r12: evidence-threshold tuning curve (one probe, one
    // conditional-aggregate pass over the bounded pair table)
    "decon_tier_curve" -> deconTierCurve,
    // new in r13: combined-width hard-vs-smeared leakage report (one
    // corpus scan emitting both widths, width-tagged broadcast probe)
    "decon_smear_report" -> ((s, d) => deconSmearReport(s, d)),
    // new in r14: character-level winnow-fingerprint sweep (VERDICT r13
    // next-step #7a), hash-exact via the ta_winnow mod-2^64 replay
    "decon_winnow" -> ((s, d) => deconWinnow(s, d)),
    "decon_winnow_report" -> ((s, d) => deconWinnowReport(s, d)),
    "decon_winnow_curve" -> deconWinnowCurve,
    // new in r15: contamination attribution by training SOURCE — the
    // quarantine-the-vendor report (bounded pairs broadcast into one
    // corpus scan; zero-contamination sources appear with share 0)
    "decon_source_report" -> ((s, d) => deconSourceReport(s, d)),
    "decon_report" -> contaminationReport)

  /** DuckDB n-gram shingle CTE, the n-parameterized twin of
    * [[Dedup.shingleCte]] (identical output at n=3).
    */
  private def shingleCteN(n: Int, name: String = "sh") = s"""
    $name AS (
      SELECT doc_id, unnest(list_distinct(
        [array_to_string(ws[i:i+${n - 1}], ' ') for i in range(1, len(ws) - ${n - 2})])) AS sh
      FROM (SELECT doc_id, list_filter(string_split_regex(trim(text), '\\s+'), x -> len(x) > 0) AS ws
            FROM documents)
      WHERE len(ws) >= $n)"""

  private def pairsSql(n: Int, minShared: Long) = s"""
      WITH ${shingleCteN(n)},
      pairs AS (
        SELECT t.doc_id AS train_id, e.doc_id AS eval_id,
          CAST(COUNT(*) AS BIGINT) AS n_shared
        FROM sh t JOIN sh e ON t.sh = e.sh
        WHERE md5(CAST(e.doc_id AS VARCHAR)) >= '$EvalLower'
          AND md5(CAST(t.doc_id AS VARCHAR)) < '$EvalLower'
        GROUP BY 1, 2
        HAVING COUNT(*) >= $minShared)"""

  /** Left-to-right IEEE dot fold over DOUBLE-cast lists — the proven
    * cosine-oracle idiom (the raw list is FLOAT; folding it uncast
    * diverges in the 9th digit).
    */
  private def dt(x: String, y: String) =
    s"list_sum([CAST($x AS DOUBLE[])[i] * CAST($y AS DOUBLE[])[i] for i in range(1, 65)])"

  /** Static entries plus — when [[Similarity.oracleContext]] is set by
    * Verify and the corpus passes [[TextAnalysis.asciiReplaySafe]] —
    * the winnow-probe replay, which rides the same mod-2^64 fingerprint
    * CTEs as the ta_winnow oracle (charAt(i) == unicode(substr(s,i,1))
    * only holds on ASCII-safe corpora).
    */
  def oracles: Map[String, String] =
    staticOracles ++
      graft.ops.Similarity.oracleContext.flatMap { case (s, dir) =>
        if (!TextAnalysis.asciiReplaySafe(s, dir)) None
        else Some(Map(
          "decon_winnow" -> s"""
            ${winnowPairsCtes()}
            SELECT train_id, eval_id, n_shared FROM pairs
            ORDER BY train_id, eval_id""",
          // three independent sweeps FULL-OUTER-joined — structurally
          // different from the Spark one-scan channel-tagged probe; in
          // the DYNAMIC set since r15 because the char width rides the
          // winnow mod-2^64 replay (ascii-gated like its siblings)
          "decon_smear_report" -> s"""
            ${winnowPairsCtes(1L)},
            ${shingleCteN(Dedup.ShingleN, "sh3")},
            ${shingleCteN(WideN, "sh13")},
            p3 AS (
              SELECT t.doc_id AS train_id, e.doc_id AS eval_id,
                CAST(COUNT(*) AS BIGINT) AS n3
              FROM sh3 t JOIN sh3 e ON t.sh = e.sh
              WHERE md5(CAST(e.doc_id AS VARCHAR)) >= '$EvalLower'
                AND md5(CAST(t.doc_id AS VARCHAR)) < '$EvalLower'
              GROUP BY 1, 2),
            p13 AS (
              SELECT t.doc_id AS train_id, e.doc_id AS eval_id,
                CAST(COUNT(*) AS BIGINT) AS n13
              FROM sh13 t JOIN sh13 e ON t.sh = e.sh
              WHERE md5(CAST(e.doc_id AS VARCHAR)) >= '$EvalLower'
                AND md5(CAST(t.doc_id AS VARCHAR)) < '$EvalLower'
              GROUP BY 1, 2),
            j AS (
              SELECT COALESCE(p3.train_id, p13.train_id) AS train_id,
                COALESCE(p3.eval_id, p13.eval_id) AS eval_id,
                COALESCE(n3, 0) AS n_shared_3,
                COALESCE(n13, 0) AS n_shared_13
              FROM p3 FULL OUTER JOIN p13
                ON p3.train_id = p13.train_id AND p3.eval_id = p13.eval_id),
            j2 AS (
              SELECT COALESCE(j.train_id, w.train_id) AS train_id,
                COALESCE(j.eval_id, w.eval_id) AS eval_id,
                COALESCE(j.n_shared_3, 0) AS n_shared_3,
                COALESCE(j.n_shared_13, 0) AS n_shared_13,
                COALESCE(w.n_shared, 0) AS n_shared_w
              FROM j FULL OUTER JOIN pairs w
                ON j.train_id = w.train_id AND j.eval_id = w.eval_id)
            SELECT train_id, eval_id, n_shared_3, n_shared_13, n_shared_w,
              CASE WHEN n_shared_13 >= 1 THEN 'hard'
                   WHEN n_shared_w >= $MinShared THEN 'char_verbatim'
                   ELSE 'smeared' END AS status
            FROM j2
            WHERE n_shared_3 >= $MinShared OR n_shared_13 >= 1
              OR n_shared_w >= $MinShared
            ORDER BY train_id, eval_id""",
          "decon_winnow_report" -> s"""
            ${winnowPairsCtes()}
            SELECT eval_id,
              CAST(COUNT(*) AS BIGINT) AS n_train_docs,
              MAX(n_shared) AS max_shared,
              CAST(SUM(n_shared) AS BIGINT) AS total_shared
            FROM pairs GROUP BY eval_id ORDER BY eval_id""",
          // per-tier conditional aggregates over the SAME tier-1 pair
          // table the Spark single pass reads — the decon_tier_curve
          // oracle tail verbatim, over winnow evidence
          "decon_winnow_curve" -> s"""
            ${winnowPairsCtes(1L)}
            SELECT CAST(t.tier AS BIGINT) AS tier,
              CAST(COUNT(*) FILTER (WHERE p.n_shared >= t.tier) AS BIGINT)
                AS n_pairs,
              CAST(COUNT(DISTINCT p.train_id)
                FILTER (WHERE p.n_shared >= t.tier) AS BIGINT)
                AS n_train_docs,
              CAST(COUNT(DISTINCT p.eval_id)
                FILTER (WHERE p.n_shared >= t.tier) AS BIGINT)
                AS n_eval_docs
            FROM (VALUES ${TierCurveTiers.map(t => s"($t)").mkString(", ")})
              t(tier)
            LEFT JOIN pairs p ON TRUE
            GROUP BY t.tier
            ORDER BY tier"""))
      }.getOrElse(Map.empty)

  /** Winnow contamination pair CTEs shared by the decon_winnow,
    * decon_winnow_report, and decon_winnow_curve oracles: the
    * ta_winnow fps CTEs (the proven mod-2^64 signed replay of the
    * [[TextAnalysis.winnow]] kernel), exploded and split by the same
    * md5 eval predicate, with the eval-df cap and pair tier mirrored
    * (`minShared` = 1 gives the curve's tier-1 evidence table). fpx
    * feeds both splits, so it materializes (the CTE-inliner 2^N
    * hazard).
    */
  private def winnowPairsCtes(minShared: Long = MinShared): String = s"""
      WITH ${TextAnalysis.winnowFpsCtesSql},
      fpx AS MATERIALIZED (SELECT doc_id, unnest(f) AS fp FROM fps),
      ev AS MATERIALIZED (
        SELECT doc_id AS eval_id, fp FROM fpx
        WHERE md5(CAST(doc_id AS VARCHAR)) >= '$EvalLower'),
      hot AS (SELECT fp FROM ev GROUP BY fp HAVING COUNT(*) > $WinnowEvalMaxDf),
      pairs AS (
        SELECT t.doc_id AS train_id, e.eval_id,
          CAST(COUNT(*) AS BIGINT) AS n_shared
        FROM fpx t JOIN ev e ON t.fp = e.fp
        WHERE md5(CAST(t.doc_id AS VARCHAR)) < '$EvalLower'
          AND t.fp NOT IN (SELECT fp FROM hot)
        GROUP BY 1, 2
        HAVING COUNT(*) >= $minShared)"""

  private val staticOracles: Map[String, String] = Map(
    // per-tier conditional aggregates over the SAME tier-1 pair table
    // the Spark single pass reads; LEFT JOIN ON TRUE keeps all tier
    // rows alive on a contamination-free corpus (zero counts, like
    // Spark's agg-on-empty)
    "decon_tier_curve" -> s"""
      ${pairsSql(Dedup.ShingleN, 1L)}
      SELECT CAST(t.tier AS BIGINT) AS tier,
        CAST(COUNT(*) FILTER (WHERE p.n_shared >= t.tier) AS BIGINT)
          AS n_pairs,
        CAST(COUNT(DISTINCT p.train_id) FILTER (WHERE p.n_shared >= t.tier)
          AS BIGINT) AS n_train_docs,
        CAST(COUNT(DISTINCT p.eval_id) FILTER (WHERE p.n_shared >= t.tier)
          AS BIGINT) AS n_eval_docs
      FROM (VALUES ${TierCurveTiers.map(t => s"($t)").mkString(", ")}) t(tier)
      LEFT JOIN pairs p ON TRUE
      GROUP BY t.tier
      ORDER BY tier""",
    // cross-set all-pairs exact Jaccard truth — the banded plan must
    // reproduce it exactly (the dedup_minhash_lsh stance, cross-split)
    "decon_minhash" -> s"""
      WITH ${shingleCteN(Dedup.ShingleN)},
      cnt AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
      inter AS (
        SELECT e.doc_id AS eval_id, t.doc_id AS train_id, COUNT(*) AS i
        FROM sh e JOIN sh t ON e.sh = t.sh
        WHERE md5(CAST(e.doc_id AS VARCHAR)) >= '$EvalLower'
          AND md5(CAST(t.doc_id AS VARCHAR)) < '$EvalLower'
        GROUP BY 1, 2)
      SELECT eval_id, train_id,
        CAST(i AS DOUBLE) / (ce.n + ct.n - i) AS jaccard
      FROM inter
      JOIN cnt ce ON eval_id = ce.doc_id
      JOIN cnt ct ON train_id = ct.doc_id
      WHERE CAST(i AS DOUBLE) / (ce.n + ct.n - i) >= $MinhashThreshold
      ORDER BY eval_id, train_id""",
    "decon_semantic" -> s"""
      WITH ev AS (
        SELECT vec_id, embedding FROM embeddings
        WHERE md5(CAST(vec_id AS VARCHAR)) >= '$EvalLower'
          AND sqrt(${dt("embedding", "embedding")}) > 0),
      tr AS (
        SELECT vec_id, embedding FROM embeddings
        WHERE md5(CAST(vec_id AS VARCHAR)) < '$EvalLower'
          AND sqrt(${dt("embedding", "embedding")}) > 0),
      p AS (
        SELECT tr.vec_id AS train_id, ev.vec_id AS eval_id,
          (${dt("tr.embedding", "ev.embedding")}
            / (sqrt(${dt("tr.embedding", "tr.embedding")})
             * sqrt(${dt("ev.embedding", "ev.embedding")}))) AS cos
        FROM tr CROSS JOIN ev)
      SELECT train_id, eval_id, cos FROM p
      WHERE cos >= $SemThreshold
      ORDER BY train_id, eval_id""",
    "decon_pairs" -> s"""
      ${pairsSql(Dedup.ShingleN, MinShared)}
      SELECT train_id, eval_id, n_shared FROM pairs
      ORDER BY train_id, eval_id""",
    "decon_pairs_13gram" -> s"""
      ${pairsSql(WideN, 1L)}
      SELECT train_id, eval_id, n_shared FROM pairs
      ORDER BY train_id, eval_id""",
    // two independent width sweeps FULL-OUTER-joined — deliberately NOT
    // the Spark plan's one-scan tagged union, so the oracle checks the
    // combined report against a structurally different derivation
    "decon_report" -> s"""
      ${pairsSql(Dedup.ShingleN, MinShared)}
      SELECT eval_id,
        CAST(COUNT(*) AS BIGINT) AS n_train_docs,
        MAX(n_shared) AS max_shared,
        CAST(SUM(n_shared) AS BIGINT) AS total_shared
      FROM pairs GROUP BY eval_id ORDER BY eval_id""",
    "decon_source_report" -> s"""
      ${pairsSql(Dedup.ShingleN, MinShared)},
      src AS (
        SELECT doc_id AS train_id, source FROM documents
        WHERE md5(CAST(doc_id AS VARCHAR)) < '$EvalLower'),
      j AS (
        SELECT s.source, s.train_id, p.eval_id, p.n_shared
        FROM src s LEFT JOIN pairs p ON p.train_id = s.train_id),
      agg AS (
        SELECT source,
          CAST(COUNT(DISTINCT train_id) AS BIGINT) AS n_docs,
          CAST(COUNT(DISTINCT CASE WHEN eval_id IS NOT NULL
            THEN train_id END) AS BIGINT) AS n_contaminated_docs,
          CAST(COUNT(eval_id) AS BIGINT) AS n_pairs,
          CAST(COUNT(DISTINCT eval_id) AS BIGINT) AS n_eval_docs,
          CAST(COALESCE(SUM(n_shared), 0) AS BIGINT) AS total_shared
        FROM j GROUP BY source)
      SELECT source, n_docs, n_contaminated_docs, n_pairs, n_eval_docs,
        total_shared,
        CAST(n_contaminated_docs AS DOUBLE) / CAST(n_docs AS DOUBLE)
          AS contaminated_share
      FROM agg ORDER BY source""",
    "decon_cross_snapshot" -> s"""
      WITH ${shingleCteN(Dedup.ShingleN)},
      tagged AS (
        SELECT doc_id AS eval_id, sh, 1 AS snap FROM sh
        WHERE md5(CAST(doc_id AS VARCHAR)) >= '$SnapV1Lower'
          AND md5(CAST(doc_id AS VARCHAR)) < '$SnapV1Upper'
        UNION ALL
        SELECT doc_id, sh, 2 FROM sh
        WHERE md5(CAST(doc_id AS VARCHAR)) >= '$EvalLower'),
      pairs AS (
        SELECT t.doc_id AS train_id, e.eval_id, e.snap,
          COUNT(*) AS n_shared
        FROM sh t JOIN tagged e ON t.sh = e.sh
        WHERE md5(CAST(t.doc_id AS VARCHAR)) < '$SnapV1Lower'
        GROUP BY 1, 2, 3
        HAVING COUNT(*) >= $MinShared),
      per AS (
        SELECT train_id,
          CAST(COUNT(DISTINCT CASE WHEN snap = 1 THEN eval_id END) AS BIGINT)
            AS n_eval_v1,
          CAST(COUNT(DISTINCT CASE WHEN snap = 2 THEN eval_id END) AS BIGINT)
            AS n_eval_v2
        FROM pairs GROUP BY train_id)
      SELECT train_id, n_eval_v1, n_eval_v2,
        CASE WHEN n_eval_v1 > 0 AND n_eval_v2 > 0 THEN 'kept'
             WHEN n_eval_v2 > 0 THEN 'new'
             ELSE 'released' END AS status
      FROM per ORDER BY train_id""")
}
