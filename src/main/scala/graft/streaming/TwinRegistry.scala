package graft.streaming

/** Canonical registry of the incremental "streaming twin" surfaces —
  * every report that can be served from persisted fold state instead of
  * re-scanning the corpus, each provably equal to its one-shot batch
  * operator (r12 VERDICT ask #4: the twin COUNT and per-twin parity
  * coverage were previously enforced only by narrative; this registry is
  * the machine-checked enumeration, the twins' analog of the 261-query
  * pin in RegistrySpec).
  *
  * A twin entry is REQUIRED to name:
  *  - its batch twin (the operator whose output the state reproduces),
  *  - its fold/ingest entry points and its reader,
  *  - the state tables it owns under the state root, and
  *  - the EXACT ScalaTest name of the spec that pins
  *    `reader(state) == batch` — TwinRegistrySpec asserts that string
  *    literally occurs in the test sources, so twin #32 cannot land
  *    without a parity test, and renaming a fold/reader without updating
  *    the registry fails the suite.
  *
  * Two protocols (both single-committer; see
  * [[graft.examples.StreamingCuration.rotationLock]] for the one
  * cross-function serialization requirement):
  *  - `versioned-state`: folds ride [[VersionedState]] (crash-safe
  *    commits, watermark/folded-id replay gating, append-heal-at-read).
  *  - `persisted-artifact`: the state is a durable artifact with its own
  *    lifecycle protocol (bloom sidecar + rebuild, on-disk kNN graph
  *    with compaction, frozen quantizer cache, accumulated corpus
  *    shingle-set table).
  */
object TwinRegistry {

  final case class Twin(
      name: String,            // stable snake_case id
      protocol: String,        // "versioned-state" | "persisted-artifact"
      batchTwin: String,       // the one-shot operator this state reproduces
      mergeOps: Seq[String],   // fold/ingest entry points (method names)
      readerOp: String,        // report-from-state entry point (method name)
      stateTables: Seq[String],// state dirs/tables under the state root
      paritySpec: String)      // EXACT test name pinning reader==batch

  private def sc(m: String) = m // StreamingCuration methods (the default home)

  val twins: Seq[Twin] = Seq(
    Twin("profile", "versioned-state", "TextAnalysis.taProfile",
      Seq(sc("mergeProfileState")), "profileFromState", Seq("profile_texts"),
      "incremental profile state equals the batch taProfile after N batches"),
    Twin("mix", "versioned-state", "Sampling token-budget greedy fill",
      Seq(sc("mergeMixState")), "mixFromState", Seq("mix"),
      "incremental mix state equals the batch greedy fill when batches respect the order"),
    Twin("window_freq", "versioned-state", "Curation.exactSubstrWithDup",
      Seq(sc("mergeWindowFreq")), "exactSubstrAgainstState", Seq("window_freq"),
      "incremental window-freq state: state-driven span removal equals the batch operator"),
    Twin("boilerplate", "versioned-state", "Curation.taBoilerplate",
      Seq(sc("mergeChunkFreq")), "boilerplateAgainstState", Seq("chunk_freq"),
      "incremental boilerplate: frequency state accumulates; cross-batch repeats strip"),
    Twin("hll_distinct", "versioned-state", "QualityQueries HLL unique check",
      Seq(sc("mergeProfileState")), "distinctFromState", Seq("hll_regs"),
      "incremental HLL state: folded registers bit-equal the single pass; estimate sane"),
    Twin("heavy_hitters", "versioned-state", "TextAnalysis heavy hitters (MG)",
      Seq(sc("mergeHeavyHitterState")), "heavyHittersFromState", Seq("hh"),
      "incremental heavy-hitter sketch: folded state verifies to the batch answer"),
    Twin("cms", "versioned-state", "count-min point estimates",
      Seq(sc("mergeCmsState")), "cmsEstimateFromState", Seq("cms_sketch"),
      "incremental CMS state: folded registers bit-equal the single pass; estimates one-sided"),
    Twin("quantile_sketch", "versioned-state", "QualityQueries.dqQuantileSketch",
      Seq(sc("mergeQuantileState")), "quantilesFromState", Seq("quantile_buckets"),
      "incremental quantile-sketch state: folded == one-shot; estimates bracket exact ranks"),
    Twin("bpe_train", "versioned-state", "TextAnalysis.bpeTrainOf",
      Seq(sc("mergeTokenFreqState")), "bpeTrainFromState", Seq("key_counts_token"),
      "incremental BPE vocabulary state: out-of-order folds + retrain-from-state == one-shot trainer"),
    Twin("bpe_curve", "versioned-state", "TextAnalysis.taBpeCurve",
      Seq(sc("mergeTokenFreqState")), "bpeCurveFromState", Seq("key_counts_token"),
      "incremental BPE vocabulary state: out-of-order folds + retrain-from-state == one-shot trainer"),
    Twin("daily_volume_ewma", "versioned-state", "dyadic EWMA volume monitor",
      Seq(sc("mergeDailyVolumeState")), "ewmaFromState", Seq("key_counts_day"),
      "incremental daily-volume state: any-order folds == one-shot dyadic EWMA"),
    Twin("substr_spans", "versioned-state", "Curation.dedupSubstrSpans",
      Seq(sc("mergeSubstrSpanState")), "substrSpansFromState",
      Seq("substr_gram_index", "substr_doc_lens"),
      "incremental ExactSubstr state: out-of-order folds + crashed double-append == one-shot"),
    Twin("tier_evidence", "versioned-state", "Decontamination.deconTierCurve",
      Seq(sc("mergeTierEvidenceState"), sc("refreshEvalShingles")),
      "tierCurveFromState", Seq("tier_evidence", "eval_shingles"),
      "incremental tier-evidence state: per-batch folds + replay == one-shot tier curve"),
    Twin("cross_snapshot", "versioned-state", "Decontamination.deconCrossSnapshot",
      Seq(sc("mergeCrossSnapshotState"), sc("refreshEvalShingles")),
      "crossSnapshotFromState",
      Seq("cross_snapshot_hits", "eval_shingles", "eval_shingles_prev"),
      "incremental cross-snapshot decon audit: rotated snapshots + per-batch folds == one-shot"),
    Twin("key_skew", "versioned-state", "Scale.keySkew",
      Seq(sc("mergeKeyCountState")), "skewFromState", Seq("key_counts_<key>"),
      "incremental key-count state: folded counts exact; skew audit == batch"),
    Twin("bucket_waste", "versioned-state", "Packing bucket-waste report",
      Seq(sc("mergeBucketWasteState")), "bucketWasteFromState", Seq("bucket_waste"),
      "incremental bucket-waste state: folded report == batch op exactly"),
    Twin("norm_hist", "versioned-state", "Similarity.simNormHist",
      Seq(sc("mergeNormHistState")), "normHistFromState", Seq("norm_hist"),
      "incremental norm-hist state: folded bands == one-shot histogram"),
    Twin("len_profile", "versioned-state", "TextAnalysis.taLenProfile",
      Seq(sc("mergeLenProfileState")), "lenProfileFromState", Seq("len_profile"),
      "incremental len-profile state: additive folds == one-shot percentiles"),
    Twin("manifest", "versioned-state", "corpus manifest (counts/sums/xor sig)",
      Seq(sc("mergeManifestState")), "manifestFromState", Seq("manifest"),
      "incremental manifest state: any-order folds == one-shot manifest"),
    Twin("filter_ablation", "versioned-state", "TextAnalysis.taFilterAblation",
      Seq(sc("mergeFilterAblationState")), "filterAblationFromState",
      Seq("filter_ablation"),
      "incremental filter-ablation state: additive folds == one-shot ablation table"),
    Twin("heaps_curve", "versioned-state", "TextAnalysis.heapsCurveOf",
      Seq(sc("mergeVocabGrowthState")), "heapsCurveFromState", Seq("vocab_first"),
      "incremental vocab-growth state: doc_id-ordered folds == one-shot Heaps curve"),
    Twin("simpson", "versioned-state", "Simpson diversity profile",
      Seq(sc("mergeTokenCountState")), "simpsonFromState", Seq("token_counts"),
      "incremental token-count state: simpson and TVD from state == batch ops"),
    Twin("divergence", "versioned-state", "source-vs-corpus TVD",
      Seq(sc("mergeTokenCountState")), "divergenceFromState", Seq("token_counts"),
      "incremental token-count state: simpson and TVD from state == batch ops"),
    Twin("kmv", "versioned-state", "QualityQueries KMV distinct sketch",
      Seq(sc("mergeKmvState")), "kmvEstimateFromState", Seq("kmv_<key>"),
      "incremental KMV state: folded sketch == one-shot; estimate exact below k"),
    Twin("bm25", "versioned-state", "TextAnalysis BM25 scoring",
      Seq(sc("mergeBm25State")), "bm25FromState", Seq("bm25"),
      "incremental BM25 stats: folded state reproduces the batch scores bit-exactly"),
    Twin("novelty", "versioned-state", "shingle first-occurrence novelty",
      Seq(sc("mergeNoveltyState")), "noveltyFromState", Seq("novelty"),
      "incremental novelty state: per-batch scores concatenate to the one-shot batch answer"),
    Twin("para_dedup", "versioned-state", "Curation.paragraphDedupOf",
      Seq(sc("mergeParaState")), "paraDedupFromState", Seq("paradedup"),
      "incremental paragraph-dedup state: per-batch results concatenate to the one-shot batch answer"),
    Twin("smear_evidence", "versioned-state", "Decontamination.deconSmearReport",
      Seq(sc("mergeSmearEvidenceState")), "smearReportFromState",
      Seq("smear_evidence"),
      "incremental smear-evidence state: out-of-order folds + replay + torn append == one-shot smear report"),
    Twin("budget_curve", "versioned-state", "Packing.packBudgetCurve",
      Seq(sc("mergeLenProfileState")), "budgetCurveFromState",
      Seq("len_profile"),
      "incremental budget curve: the max-seq-len sweep from the folded length histogram == one-shot"),
    Twin("mix_curve", "versioned-state", "Curation.mixBudgetCurve",
      Seq(sc("mergeMixCurveState")), "mixCurveFromState", Seq("mix_curve"),
      "incremental mix-curve state: greedy runs folded at the sweep cap reproduce the batch budget curve"),
    Twin("winnow_evidence", "versioned-state", "Decontamination.deconWinnow",
      Seq(sc("mergeWinnowEvidenceState")), "winnowReportFromState",
      Seq("winnow_evidence"),
      "incremental winnow-evidence state: out-of-order folds + replay + torn append == one-shot winnow decon"),
    // persisted-artifact protocol (artifact lifecycle != VersionedState,
    // but the same contract: fold ∝ batch, reader == batch twin)
    Twin("knn_graph", "persisted-artifact", "Similarity.simKnnGraph",
      Seq("appendKnnBatch", "compactKnnGraph"), "knnNeighbors",
      Seq("knn graph dir (band table + neighbor lists)"),
      "streaming kNN-graph ingestion: micro-batches append; twins adopted in both directions"),
    Twin("bloom_exact_dedup", "persisted-artifact", "Dedup.dedupExact novelty filter",
      Seq("readOrRebuildBloom"), "processBatch",
      Seq("corpus_bloom.bin", "corpus_bloom.capacity", "corpus_docs"),
      "bloom lifecycle: an outgrown sketch rebuilds at 2x and novelty stays exact"),
    Twin("cross_corpus_near_dedup", "persisted-artifact", "Dedup near-dup pairs",
      Seq("crossCorpusNearDups"), "crossCorpusNearDups",
      Seq("corpus_sets", "corpus_docs"),
      "cross-corpus incremental dedup = full-run pairs restricted to cross pairs"),
    Twin("semantic_assign", "persisted-artifact", "Curation.dedupSemanticKmeans",
      Seq("ensureSemanticQuantizer"), "readSemanticQuantizer",
      Seq("quantizer cache (frozen centroids parquet)"),
      "frozen semantic quantizer: batches assign against the stored model, no drift"),
    Twin("lm_model", "versioned-state", "TextAnalysis.taLmSurprisal",
      Seq(sc("mergeLmModelState")), "lmScoreAgainstState",
      Seq("lm_uni", "lm_big"),
      "incremental LM model state: folded counts score a corpus identically to the one-shot bigram model"),
    Twin("lm_trigram_model", "versioned-state", "TextAnalysis.taLmTrigram",
      Seq(sc("mergeLmTrigramModelState")), "lmTrigramScoreAgainstState",
      Seq("lm_uni", "lm_big", "lm_tri"),
      "incremental trigram-LM model state: folded counts score a corpus identically to the one-shot Katz-backoff model"),
    Twin("lm_kn4_model", "versioned-state", "TextAnalysis.taLmKn4",
      Seq(sc("mergeLmKn4ModelState")), "lmKn4ScoreAgainstState",
      Seq("lm_uni", "lm_big", "lm_tri", "lm_quad"),
      "incremental KN-4-gram model state: folded counts score a corpus identically to the one-shot continuation-count model"),
    // the first O(cap × |keys|)-BOUNDED twin state: min-k is a lossless
    // mergeable summary, so the fold never stores more than cap rows
    // per key no matter how many batches fold (40th/41st twins, VERDICT
    // r16 ask #4 — two readers over the shared mergeMinKDrawState
    // machinery, the simpson/divergence pattern)
    Twin("min_k_cap", "versioned-state", "Sampling.capPerSourceSummary",
      Seq(sc("mergeCapPerSourceState")), "capPerSourceFromState",
      Seq("min_k_draw_cap_per_source", "min_k_counts_cap_per_source"),
      "incremental min-k cap state: any-order folds == one-shot per-source cap summary; state stays cap-bounded"),
    Twin("min_k_band", "versioned-state", "Sampling.sampleLmBand",
      Seq(sc("mergeLmBandState")), "lmBandFromState",
      Seq("min_k_draw_lm_band", "min_k_counts_lm_band"),
      "incremental min-k band state: folded frozen-score bands == one-shot band-stratified draw"),
    // the three IVF-PQ tiers share one writer/append/search; the
    // index records its encoding, so the reader needs no tier argument
    Twin("ivfpq_index", "persisted-artifact", "Similarity.simIvfPqANN",
      Seq("writeIvfPqIndex", "appendIvfPqBatch"), "searchIvfPqIndex",
      Seq("cent_id-partitioned code table", "_pqcentroids", "_codebook"),
      "frozen IVF-PQ index: serve equals the inline hybrid exactly; appended batches assign against the frozen artifacts"),
    Twin("ivfpq_residual_index", "persisted-artifact",
      "Similarity.simIvfPqANN(enc = PqEncoding.Residual)",
      Seq("writeIvfPqIndex", "appendIvfPqBatch"), "searchIvfPqIndex",
      Seq("cent_id-partitioned code table", "_pqcentroids", "_codebook",
        "_residual marker"),
      "frozen residual IVF-PQ index: serve equals the inline residual tier exactly; marker blocks cross-tier decoding; appends assign against the frozen artifacts"),
    Twin("ivfpq_opq_index", "persisted-artifact",
      "Similarity.simIvfPqANN(enc = PqEncoding.Opq)",
      Seq("writeIvfPqIndex", "appendIvfPqBatch"), "searchIvfPqIndex",
      Seq("cent_id-partitioned code table", "_pqcentroids", "_codebook",
        "_rotation sidecar", "_opq marker"),
      "frozen OPQ IVF-PQ index: serve equals the inline OPQ tier exactly; tier markers refuse all six cross-tier directions; appends assign against the frozen artifacts"))
}
