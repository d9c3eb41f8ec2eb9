package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables.t
import graft.ops.Scale.GatedCheckpoint

/** Deterministic sampling/splitting for training-data pipelines.
  *
  * The split key is `md5(id)` compared lexicographically against hex
  * thresholds: stable across runs, engines, partitionings, and cluster
  * sizes — unlike `randomSplit`/`sample`, whose assignment depends on
  * partition layout and seed plumbing. Deterministic membership is what
  * makes train/test contamination auditable after the fact: any row's
  * split is recomputable from its id alone, anywhere.
  *
  * Fractions are approximate (hash-uniform): a threshold prefix `cd`
  * captures 205/256 ≈ 80.1% of the hash space. At corpus scale the
  * binomial deviation is negligible; exactness of FRACTIONS is not the
  * contract, exactness of MEMBERSHIP is.
  */
object Sampling {

  /** Default thresholds: ~80/10/10 train/val/test. */
  val TrainUpper = "cd" // [00, cd) ≈ 80.1%
  val ValUpper = "e7"   // [cd, e7) ≈ 10.2%

  /** Split assignment column from an id column. */
  def splitColumn(id: Column): Column = {
    val h = md5(id.cast("string"))
    when(h < TrainUpper, lit("train"))
      .when(h < ValUpper, lit("val"))
      .otherwise(lit("test"))
  }

  /** Attach a deterministic split column keyed on `idCol`. */
  def hashSplit(df: DataFrame, idCol: String): DataFrame =
    df.withColumn("split", splitColumn(col(idCol)))

  /** Deterministic per-class sample: keep ~fraction of each class,
    * membership decided by md5(id) against the class-independent
    * threshold — the stable alternative to `sampleBy`.
    */
  def stratifiedSample(df: DataFrame, idCol: String, fraction: Double): DataFrame = {
    require(fraction > 0 && fraction <= 1, "fraction must be in (0,1]")
    val limit = f"${(fraction * 256).toInt}%02x"
    df.filter(md5(col(idCol).cast("string")) < limit)
  }

  /** Split summary as an oracle-checkable query: per-split counts and
    * id checksums prove membership determinism, not just sizes.
    */
  def splitSummary(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    hashSplit(t(s, dir, "documents"), "doc_id")
      .groupBy($"split")
      .agg(
        count(lit(1)).as("n"),
        sum($"doc_id").as("sum_ids"),
        min($"doc_id").as("min_id"),
        max($"doc_id").as("max_id"))
      .orderBy("split")
  }

  /** Temperature-flattening constant: keepFrac(domain) = min(1, K/√n).
    * Big domains are downsampled ∝ n^-1/2 (α = 0.5 temperature), small
    * domains kept whole — the standard multi-source mixing move that
    * stops one giant crawl from drowning curated sources.
    */
  val TempK = 8.0

  /** Deterministic per-domain temperature sampling over `source`:
    * membership = 16-bit md5 prefix under a per-domain cutoff, so the
    * sample is recomputable row-by-row anywhere. All cutoff arithmetic
    * is correctly-rounded IEEE ops (÷, √, ×, floor) in a fixed order —
    * bit-identical in any engine, which is what lets DuckDB replay it.
    *
    * 100 TB shape: one small per-domain aggregate (|domains| rows)
    * broadcast back onto the scan; the filter is pure codegen per row —
    * no shuffle of the corpus.
    */
  def temperatureSummary(s: SparkSession, dir: String, k: Double = TempK): DataFrame = {
    import s.implicits._
    val docs = t(s, dir, "documents").select($"doc_id", $"source")
    val cut = docs.groupBy($"source")
      .agg(count(lit(1)).as("n_docs"))
      .withColumn("cutoff",
        floor(least(lit(1.0), lit(k) / sqrt($"n_docs".cast("double"))) * 65536.0)
          .cast("long"))
    val kept = docs.join(broadcast(cut), "source")
      .filter($"cutoff" >= 65536L ||
        substring(md5($"doc_id".cast("string")), 1, 4) <
          format_string("%04x", $"cutoff"))
    cut.join(
        kept.groupBy($"source").agg(
          count(lit(1)).as("n_kept"), sum($"doc_id").as("sum_kept_ids")),
        Seq("source"), "left")
      .select($"source", $"n_docs", $"cutoff",
        coalesce($"n_kept", lit(0L)).as("n_kept"),
        coalesce($"sum_kept_ids", lit(0L)).as("sum_kept_ids"))
      .orderBy("source")
  }

  /** Per-source document cap (C4/RefinedWeb-style domain capping). */
  val CapPerSource = 15

  /** Cap every source at `cap` documents, chosen by md5(doc_id) rank —
    * an unbiased, recomputable draw (same membership contract as the
    * split/temperature ops), unlike "first N by id", which biases
    * toward whatever the id order encodes (usually crawl time). The
    * standard guard against one domain dominating a mixed corpus when
    * temperature flattening is too gentle.
    *
    * 100 TB shape (r16 rewrite): the r10–r15 form was one rank window
    * partitioned by source — but a window partition CANNOT be split by
    * AQE (every row of a key must reach one task), so a hot source's
    * full mass funnels through a single sort task at scale: the exact
    * smell the sample_lm_band ×100 probe measured at 26× before its
    * rewrite. The cap is now ONE map-side-combining exact
    * [[graft.functions.MinKPairsAggregator]] aggregation (min-k is a
    * lossless mergeable summary; buffers never exceed cap, the shuffle
    * carries ≤ cap pairs + one count per (source, partition)), with
    * n_docs riding the same pass. Output unchanged — same oracle, same
    * ranks, same sums.
    */
  def capPerSourceSummary(
      s: SparkSession, dir: String, cap: Int = CapPerSource): DataFrame = {
    import s.implicits._
    t(s, dir, "documents")
      .select($"source", md5($"doc_id".cast("string")).as("h"), $"doc_id")
      .as[(String, String, Long)]
      .groupByKey(_._1)
      .mapValues(t => (t._2, t._3))
      .agg(
        new graft.functions.MinKPairsAggregator(cap).toColumn.name("top"),
        count(lit(1)).as[Long].name("n_docs"))
      .toDF("source", "top", "n_docs")
      .select($"source", $"n_docs",
        size($"top").cast("long").as("n_kept"),
        coalesce(aggregate($"top", lit(0L),
          (acc, x) => acc + x.getField("_2")), lit(0L)).as("sum_kept_ids"))
      .orderBy("source")
  }

  // ---- UniMax language-balanced budget allocation ----

  /** Budget/epoch-cap for the registered UniMax run: at the test
    * corpus' capacities (20 sources × ~1.1–1.6 k tokens × 3 epochs ≈
    * 81 k total) a 75 k budget makes small sources bind on CAPACITY
    * (fully used at the epoch cap) while the largest bind on the fair
    * SHARE — both regimes of the allocator exercised in one run.
    */
  val UnimaxBudget = 75000L
  val UnimaxEpochs = 3

  /** UniMax allocation (Chung et al. 2023): distribute a total token
    * budget over sources so every source gets the SAME share unless its
    * capacity (total tokens × epoch cap) is smaller — walk sources in
    * ascending capacity order, give each min(capacity,
    * remaining / sources_left) (integer floor division — the documented
    * contract), and fold what a capped source couldn't take back into
    * the pool. Unlike temperature flattening there is no tuned
    * exponent: scarce sources are fully used up to the epoch cap and
    * abundant ones split the rest evenly.
    *
    * The allocation loop is DRIVER-side by design: its input is the
    * per-source totals table (≤ |sources| rows — bounded at any corpus
    * scale) and the loop is inherently sequential (each step's share
    * depends on what capped sources returned to the pool). Selection is
    * distributed: the corpus replicates ×epochs (codegen'd sequence
    * explode), orders per source by (epoch, md5(doc_id), doc_id) — the
    * uniform recomputable draw of the cap/temperature ops — and the
    * inclusive running total is a per-source [[Scale.runningSum]].
    * All-integer output → hash-exact
    * against the DuckDB oracle, whose allocator is a recursive CTE over
    * the same capacity order.
    */
  def sampleUnimax(
      s: SparkSession, dir: String,
      budget: Long = UnimaxBudget, maxEpochs: Int = UnimaxEpochs): DataFrame =
    unimaxOf(t(s, dir, "documents"), budget, maxEpochs)

  /** The pure UniMax water-filling loop over (source, capacity) pairs:
    * walk ascending capacity (ties by source — a total order), give
    * each source min(capacity, remaining / sources_left) with integer
    * floor division, fold the surplus of capped sources back into the
    * pool. Extracted so the ScalaCheck properties (exact spend,
    * cap-respect, near-equal share-bound allocs, input-order
    * independence) can drive it without Spark.
    */
  def unimaxAllocate(caps: Seq[(String, Long)], budget: Long): Map[String, Long] = {
    val byCap = caps.sortBy { case (src, cap) => (cap, src) }
    var remaining = budget
    byCap.zipWithIndex.map { case ((src, cap), i) =>
      val share = remaining / (byCap.length - i)
      val a = math.min(cap, share)
      remaining -= a
      src -> a
    }.toMap
  }

  /** The row-level UniMax selection: the kept (source, epoch, doc_id,
    * n_tokens) instances under the water-filling allocation — the form
    * a pipeline consumes (the registered summary aggregates it). Rows
    * replicate per epoch when a scarce source is taken several times.
    */
  def unimaxSelection(
      docs: DataFrame, budget: Long = UnimaxBudget,
      maxEpochs: Int = UnimaxEpochs, partitions: Int = 32): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val sized = docs.select($"doc_id", $"source",
      TextAnalysis.tokenCount($"text").as("n_tokens"))
    val totals = sized.groupBy($"source")
      .agg(sum($"n_tokens").as("total")).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    val budgetOf = unimaxAllocate(
      totals.map { case (src, tot) => src -> tot * maxEpochs }, budget)
    unimaxSelectionFrom(sized, budgetOf, maxEpochs, partitions)
  }

  /** [[unimaxSelection]] over a PRECOMPUTED (doc_id, source, n_tokens)
    * frame and allocation map — lets callers that already aggregated
    * the per-source totals (e.g. [[unimaxOf]]'s report half) thread
    * them through instead of paying a second full tokenize+aggregate
    * scan and driver round-trip (ADVICE r6).
    */
  def unimaxSelectionFrom(
      sized: DataFrame, budgetOf: Map[String, Long],
      maxEpochs: Int = UnimaxEpochs, partitions: Int = 32): DataFrame = {
    val s = sized.sparkSession
    import s.implicits._
    // per-source running sum over the epoch-replicated uniform-draw order
    val rep = sized.select($"source",
      explode(sequence(lit(1L), lit(maxEpochs.toLong))).as("epoch"),
      $"doc_id", $"n_tokens")
    Scale.runningSum(rep, Some("source"),
      Seq($"epoch".asc, md5($"doc_id".cast("string")).asc, $"doc_id".asc),
      Some("n_tokens"), partitions)
      .rows.filter($"cum" <= Scale.groupValue($"source", budgetOf))
      .select("source", "epoch", "doc_id", "n_tokens")
  }

  /** [[sampleUnimax]] over an arbitrary (doc_id, source, text) frame. */
  def unimaxOf(
      docs: DataFrame, budget: Long = UnimaxBudget,
      maxEpochs: Int = UnimaxEpochs, partitions: Int = 32): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val sized = docs.select($"doc_id", $"source",
      TextAnalysis.tokenCount($"text").as("n_tokens"))
    val totals = sized.groupBy($"source")
      .agg(count(lit(1)).as("n_docs"), sum($"n_tokens").as("total"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val allocBySrc = unimaxAllocate(
      totals.map { case (src, _, tot) => src -> tot * maxEpochs }, budget)
    val allocs = totals
      .map { case (src, nd, tot) =>
        (src, nd, tot, tot * maxEpochs, allocBySrc(src))
      }
      .sortBy(_._1)
    val keptSummary = unimaxSelectionFrom(sized, allocBySrc, maxEpochs, partitions)
      .groupBy($"source").agg(
        count(lit(1)).as("n_kept"),
        sum($"n_tokens").as("kept_tokens"),
        sum($"doc_id").as("sum_kept_ids"))
    allocs.toSeq
      .toDF("source", "n_docs", "total_tokens", "capacity", "alloc")
      .join(keptSummary, Seq("source"), "left")
      .select($"source", $"n_docs", $"total_tokens", $"capacity", $"alloc",
        coalesce($"n_kept", lit(0L)).as("n_kept"),
        coalesce($"kept_tokens", lit(0L)).as("kept_tokens"),
        coalesce($"sum_kept_ids", lit(0L)).as("sum_kept_ids"))
      .orderBy("source")
  }

  val ReservoirK = 50

  /** Deterministic fixed-k uniform "reservoir" sample: keep the k docs
    * with the smallest md5(doc_id) (ties doc_id asc) — the family's
    * recomputable uniform draw, expressed as a global top-k. Spark
    * plans TakeOrderedAndProject: every partition keeps a k-row heap
    * and the driver merges k·partitions rows — no global sort, no
    * reservoir state to thread, and membership is recheckable from the
    * id alone on any node (the property streaming reservoirs lose).
    * This is the distributed answer to "give me a fixed-size uniform
    * sample of a 100 TB corpus".
    */
  def sampleReservoir(s: SparkSession, dir: String, k: Int = ReservoirK): DataFrame = {
    import s.implicits._
    t(s, dir, "documents")
      .select($"doc_id", $"source", md5($"doc_id".cast("string")).as("h"))
      .orderBy($"h".asc, $"doc_id".asc)
      .limit(k)
  }

  // ---- greedy k-center (farthest-point) coreset selection ----

  val KCenterK = 8

  /** Squared euclidean distance — the COMPILED
    * [[graft.functions.SquaredDistance]] expression (r18, guide §4):
    * the previous `aggregate(zip_with(...))` fold evaluated its lambda
    * interpreted per element, k−1 corpus passes × 64 dims per greedy
    * round. The expression emits the identical left-to-right
    * `acc += (aᵢ−bᵢ)²` IEEE op sequence into whole-stage codegen, so
    * the doubles stay bit-identical to the in-memory spec replay and
    * the DuckDB oracle (parity corners pinned in Dist2Spec).
    */
  private def dist2(a: Column, b: Column): Column =
    call_function("dist2", a, b)

  /** Greedy k-center / farthest-point traversal (Gonzalez 1985 — the
    * 2-approximation; used for diversity coreset selection, Sener &
    * Savarese ICLR 2018): seed at the lowest vec_id, then k−1 rounds
    * of "pick the point farthest from the chosen set" (ties to the
    * lowest vec_id), tracking each pick's coverage radius. The radius
    * sequence is nonincreasing — the classic coverage curve.
    *
    * Rows-only by design (iterative data-dependent argmax); pinned
    * bit-exact against an in-memory greedy replay in the spec.
    *
    * 100 TB shape: k narrow passes over (vec_id, v, running min-dist²)
    * state; each round broadcasts ONE center vector into the compiled
    * distance fold and collects ONE argmax row via a TakeOrdered heap
    * (no global sort). State is localCheckpointed per round so lineage
    * stays flat. No pairwise matrix, no corpus-sized driver traffic.
    */
  def sampleKCenter(s: SparkSession, dir: String, k: Int = KCenterK): DataFrame = {
    import s.implicits._
    graft.functions.GraftFunctions.register(s)
    var st = t(s, dir, "embeddings")
      .select($"vec_id", $"embedding".cast("array<double>").as("v"))
      .withColumn("mind", lit(Double.MaxValue))
      .gatedCheckpoint()
    val seed = st.orderBy($"vec_id".asc).limit(1)
      .select($"vec_id", $"v").collect().head
    var centerId = seed.getLong(0)
    var center = seed.getSeq[Double](1).toArray
    val picked = scala.collection.mutable.ArrayBuffer[(Long, Long, Double)](
      (0L, centerId, 0.0))
    (1 until k).foreach { rank =>
      st = st
        .withColumn("mind", least($"mind", dist2($"v", typedlit(center))))
        .gatedCheckpoint()
      val chosen = picked.map(_._2).toSeq
      val next = st.filter(!$"vec_id".isin(chosen: _*))
        .orderBy($"mind".desc, $"vec_id".asc).limit(1)
        .select($"vec_id", $"mind", $"v").collect().head
      centerId = next.getLong(0)
      center = next.getSeq[Double](2).toArray
      picked += ((rank.toLong, centerId, next.getDouble(1)))
    }
    s.createDataFrame(picked.toSeq)
      .toDF("rank", "vec_id", "radius2")
      .orderBy("rank")
  }

  /** Leakage-safe (group-aware) train/val/test split: the fold is
    * decided by a document's near-duplicate COMPONENT, not the document
    * itself — the corpus form of GroupShuffleSplit. A doc-keyed split
    * scatters near-copies across folds, so eval measures memorization of
    * train near-duplicates (the contamination Lee et al. 2022 §5 show
    * inflates scores); hashing the component root instead keeps every
    * near-dup cluster whole in one fold BY CONSTRUCTION. Membership
    * stays recomputable from the component id alone ([[splitColumn]]'s
    * md5-threshold contract).
    *
    * 100 TB shape: components come from the banded-LSH near-dup
    * pipeline (never all-pairs); the component table joins back by
    * doc_id equi-join (dup-mass-sized — NOT broadcast); the fold
    * assignment is a per-row hash and the summary one map-side
    * combinable aggregation. Cross-engine equality of the per-fold
    * masses IS the leakage proof: the oracle re-derives components
    * independently, so a cluster split across folds would shift a
    * count and break the hash.
    *
    * ADVICE r7 — probabilistic caveat, stated explicitly: the Spark
    * side derives edges from BANDED MinHash candidates while the
    * oracle uses exact all-pairs Jaccard ≥ 0.8, so the hash-parity
    * additionally certifies that the banding had ZERO false negatives
    * on this corpus (P[miss] = (1-s^r)^b ≈ 2e-4 at s=0.8 with the
    * configured 16 bands × 4 rows). On a new corpus a ≥0.8 pair that
    * misses every band would split a cluster across folds and fail the
    * hash — that is the check doing its job, not a bug; same standing
    * assumption as `dedup_components`/`dedup_method_agreement`
    * (documented in PARITY.md).
    */
  def sampleGroupSplit(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val comps = Dedup.dedupComponents(s, dir)
      .select($"doc_id", $"component_id")
    t(s, dir, "documents")
      .select($"doc_id", TextAnalysis.tokenCount($"text").as("n_tokens"))
      .join(comps, Seq("doc_id"), "left")
      .select($"doc_id", $"n_tokens",
        coalesce($"component_id", $"doc_id").as("comp"))
      .withColumn("fold", splitColumn($"comp"))
      .groupBy($"fold")
      .agg(
        countDistinct($"comp").as("n_components"),
        count(lit(1)).as("n_docs"),
        sum($"n_tokens").as("n_tokens"))
      .orderBy("fold")
  }

  /** Total sample size for the registered Neyman-allocation query. */
  val NeymanTarget = 1000L

  /** Neyman (optimal) stratified allocation: given a target sample
    * size, stratum h receives n_h ∝ N_h·S_h — more budget where the
    * stratum is big AND internally variable (Neyman 1934; the standard
    * survey-sampling result minimizing estimator variance at fixed n).
    * Here strata = sources and the measured variable is doc length
    * (n_chars); a real pipeline plugs in any per-doc quality metric.
    * Fractional shares round by largest remainder (ties → source asc),
    * so allocations are integers summing exactly to the target.
    *
    * Determinism: population stddev from exact integer (Σx, Σx²) in a
    * SPELLED double op chain; the share normalizer folds the per-source
    * weights in source order (bounded source set), so every IEEE op
    * replays cross-engine. Largest-remainder ranking is total-ordered.
    *
    * 100 TB shape: one scan → map-side-combinable (count, Σx, Σx²) per
    * source; everything after operates on the bounded source table.
    */
  def sampleNeyman(s: SparkSession, dir: String): DataFrame =
    neymanOf(t(s, dir, "documents"), NeymanTarget)

  def neymanOf(docs: DataFrame, target: Long): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val W = org.apache.spark.sql.expressions.Window
    val w = W.orderBy($"frac".desc, $"source".asc)
    // one documents scan: the moment table is #sources rows — it
    // checkpoints so the weight fold and the final join don't re-scan
    val st = docs.groupBy($"source").agg(
      count(lit(1)).as("n_pop"),
      sum($"n_chars").as("sx"),
      sum($"n_chars" * $"n_chars").as("sxx"))
      .gatedCheckpoint()
    val ws = st.select($"source", $"n_pop",
      sqrt(($"sxx".cast("double") -
        $"sx".cast("double") * $"sx".cast("double") / $"n_pop".cast("double"))
        / $"n_pop".cast("double")).as("s_pop"))
      .withColumn("wt", $"n_pop".cast("double") * $"s_pop")
    val tw = ws.select(
      sort_array(collect_list(struct($"source", $"wt"))).as("l"),
      sum($"n_pop").as("npop_total"))
      .select(aggregate($"l", lit(0.0),
        (acc, x) => acc + x.getField("wt")).as("tw"), $"npop_total")
    ws.crossJoin(broadcast(tw))
      // degenerate corpus (every stratum zero-variance ⇒ all weights 0):
      // fall back to proportional allocation — the standard convention,
      // and it keeps the share arithmetic NaN-free
      .withColumn("share",
        when($"tw" === 0.0,
          lit(target).cast("double") * $"n_pop".cast("double") /
            $"npop_total".cast("double"))
          .otherwise(lit(target).cast("double") * $"wt" / $"tw"))
      .withColumn("base", floor($"share").cast("long"))
      .withColumn("frac", $"share" - floor($"share"))
      .withColumn("leftover",
        lit(target) - sum($"base").over(
          W.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)))
      .withColumn("rk", row_number().over(w).cast("long"))
      .select($"source", $"n_pop", $"s_pop",
        ($"base" + when($"rk" <= $"leftover", 1L).otherwise(0L))
          .as("allocation"))
      .orderBy("source")
  }

  /** Number of bootstrap replicates for the registered query. */
  val BootstrapReplicates = 3

  /** Cumulative Poisson(1) probabilities as 32-hex-digit thresholds
    * over the md5 space — floor(C_k · 16³²) rendered in hex, so a
    * replicate count is pure STRING comparison (the [[splitColumn]]
    * idiom): k(doc, b) = |{j : md5("boot:b:doc") ≥ t_j}|, capped at 8.
    * No float ever enters the draw, so both engines agree exactly.
    * Computed once from the e⁻¹ decimal constant under DECIMAL128.
    */
  lazy val PoissonCumHex: Seq[String] = {
    val eInv = BigDecimal("0.3678794411714423215955237701614608674458")
    val fact = Seq(1, 1, 2, 6, 24, 120, 720, 5040)
    fact.scanLeft(BigDecimal(0)) { (acc, f) => acc + eInv / BigDecimal(f) }
      .tail
      .map { c =>
        val n = (c * BigDecimal(BigInt(16).pow(32))).toBigInt
        val hx = n.toString(16)
        ("0" * (32 - hx.length)) + hx
      }
  }

  /** Poisson bootstrap over the corpus (Chamandy et al. 2012 — the
    * standard way to put uncertainty bars on massive-data statistics
    * without resampling rows): replicate b draws each doc
    * k ~ Poisson(1) times, with k derived DETERMINISTICALLY from
    * md5("boot:b:doc") against the [[PoissonCumHex]] thresholds — any
    * worker recomputes its replicate membership from ids alone, the
    * recomputable-membership doctrine. Per replicate: docs, dropped
    * (k=0) docs, total draws, and the replicate's weighted mean doc
    * length — the spread ACROSS replicates is the bootstrap standard
    * error of the corpus mean. Integer sums + one IEEE division per
    * replicate ⇒ hash-exact.
    *
    * 100 TB shape: one scan fanned out ×B (B small), per-replicate
    * map-side-combinable sums; no shuffle of doc rows at all.
    */
  def samplePoissonBootstrap(s: SparkSession, dir: String,
      replicates: Int = BootstrapReplicates): DataFrame = {
    import s.implicits._
    val reps = s.range(1, replicates + 1).toDF("b")
    val h = md5(concat(lit("boot:"), $"b".cast("string"), lit(":"),
      $"doc_id".cast("string")))
    val k = PoissonCumHex.foldLeft(lit(0L)) { (acc, t) =>
      acc + when(h >= t, 1L).otherwise(0L)
    }
    t(s, dir, "documents")
      .select($"doc_id", $"n_chars")
      .crossJoin(broadcast(reps))
      .select($"b", $"n_chars", k.as("k"))
      .groupBy($"b")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when($"k" === 0L, 1L).otherwise(0L)).as("n_dropped"),
        sum($"k").as("total_draws"),
        sum($"k" * $"n_chars").as("drawn_chars"))
      .select($"b", $"n_docs", $"n_dropped", $"total_draws",
        ($"drawn_chars".cast("double") / $"total_draws".cast("double"))
          .as("mean_chars"))
      .orderBy($"b")
  }

  /** Per-LM-quality-band document cap. */
  val LmBandCap = 50

  /** sample_lm_band: LM-quality-STRATIFIED sampling — the CCNet
    * deployment of the perplexity filter as a SAMPLER rather than a
    * cut: documents bucket by integer bits-per-bigram band (the
    * [[graft.ops.TextAnalysis.lmSurprisalOf]] score, the same bands
    * ta_lm_quality_hist reports), and each band keeps its `cap` docs
    * with smallest md5(doc_id) (ties doc_id) — an unbiased,
    * recomputable within-band draw (the [[capPerSourceSummary]]
    * md5-rank contract) that preserves the corpus's full quality
    * SPECTRUM at bounded volume instead of amputating the tails: the
    * shape used when the filtered-out bands are still wanted as
    * contrastive/robustness data.
    *
    * 100 TB shape: the per-doc score is the certified lm-surprisal
    * trunk (count-table joins, no window); banding is a projection.
    * The cap is NOT a band-partitioned rank window — band cardinality
    * is value-domain-bounded (≤ ~64: bits/bigram of an add-one model
    * is bounded by ⌈log₂(corpus tokens + V)⌉) but band MASS is
    * O(corpus), so a per-band window sort funnels a band's full mass
    * through single tasks (the first draft measured 26× on the ×100
    * one-band worst case vs the trunk's 4.9×). Instead the cap is one
    * map-side-combining [[graft.functions.MinKPairsAggregator]] pass —
    * min-k is an EXACT mergeable summary, buffers never exceed cap, so
    * the shuffle carries ≤ cap pairs per (band, partition) and the
    * ranked winner set is bands × cap rows.
    */
  def sampleLmBand(s: SparkSession, dir: String,
      cap: Int = LmBandCap): DataFrame = {
    import s.implicits._
    val banded = TextAnalysis.lmSurprisalOf(t(s, dir, "documents"))
      .select(floor($"bits_per_bigram").cast("long").as("bpb_band"),
        md5($"doc_id".cast("string")).as("h"), $"doc_id")
      .as[(Long, String, Long)]
    banded.groupByKey(_._1)
      .mapValues(t => (t._2, t._3))
      .agg(new graft.functions.MinKPairsAggregator(cap)
        .toColumn.name("top"))
      .toDF("bpb_band", "top")
      .select($"bpb_band", posexplode($"top"))
      .select($"col._2".as("doc_id"), $"bpb_band",
        ($"pos" + 1).cast("long").as("rk"))
      .orderBy("bpb_band", "rk")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "sample_lm_band" -> ((s, d) => sampleLmBand(s, d)),
    "sample_poisson_bootstrap" -> ((s, d) => samplePoissonBootstrap(s, d)),
    "sample_neyman" -> ((s, d) => sampleNeyman(s, d)),
    "sample_group_split" -> sampleGroupSplit,
    "sample_kcenter" -> ((s, d) => sampleKCenter(s, d)),
    "sample_split" -> splitSummary,
    "sample_temperature" -> ((s, d) => temperatureSummary(s, d)),
    "sample_unimax" -> ((s, d) => sampleUnimax(s, d)),
    "sample_reservoir" -> ((s, d) => sampleReservoir(s, d)),
    "sample_cap_per_source" -> ((s, d) => capPerSourceSummary(s, d)))

  val oracles: Map[String, String] = Map(
    // the lm-surprisal trunk's CTEs + banding + the md5-rank cap (the
    // same VARCHAR-md5 ranking contract as sample_cap_per_source)
    "sample_lm_band" -> s"""
      WITH ${TextAnalysis.lmSurprisalCtes},
      banded AS (
        SELECT doc_id,
          CAST(FLOOR(CAST(total_bits AS DOUBLE) / CAST(n_bigrams AS DOUBLE))
            AS BIGINT) AS bpb_band
        FROM perdoc),
      ranked AS (
        SELECT doc_id, bpb_band,
          CAST(ROW_NUMBER() OVER (PARTITION BY bpb_band
            ORDER BY md5(CAST(doc_id AS VARCHAR)) ASC, doc_id ASC)
            AS BIGINT) AS rk
        FROM banded)
      SELECT doc_id, bpb_band, rk FROM ranked WHERE rk <= $LmBandCap
      ORDER BY bpb_band, rk""",
    // hex-threshold Poisson draws replay as plain string comparisons
    "sample_poisson_bootstrap" -> {
      val kExpr = PoissonCumHex
        .map(t => s"(CASE WHEN h >= '$t' THEN 1 ELSE 0 END)")
        .mkString(" + ")
      s"""
      WITH reps AS (SELECT CAST(b AS BIGINT) AS b
                    FROM UNNEST(range(1, ${BootstrapReplicates + 1})) AS u(b)),
      hashed AS (
        SELECT reps.b, d.n_chars,
          md5('boot:' || reps.b || ':' || d.doc_id) AS h
        FROM documents d CROSS JOIN reps),
      keyed AS (
        SELECT b, n_chars, CAST($kExpr AS BIGINT) AS k
        FROM hashed)
      SELECT b, CAST(COUNT(*) AS BIGINT) AS n_docs,
        CAST(SUM(CASE WHEN k = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
        CAST(SUM(k) AS BIGINT) AS total_draws,
        CAST(SUM(k * n_chars) AS DOUBLE) /
          CAST(SUM(k) AS DOUBLE) AS mean_chars
      FROM keyed GROUP BY b ORDER BY b"""
    },
    // exact-integer moments -> spelled IEEE stddev/share chain ->
    // largest-remainder integer rounding; the weight normalizer folds
    // in source order (list_sum(list(...)), the proven idiom)
    "sample_neyman" -> s"""
      WITH st AS (
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n_pop,
          CAST(SUM(n_chars) AS BIGINT) AS sx,
          CAST(SUM(n_chars * n_chars) AS BIGINT) AS sxx
        FROM documents GROUP BY source),
      ws AS (
        SELECT source, n_pop,
          sqrt((CAST(sxx AS DOUBLE) -
            CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / CAST(n_pop AS DOUBLE))
            / CAST(n_pop AS DOUBLE)) AS s_pop
        FROM st),
      w2 AS (SELECT *, CAST(n_pop AS DOUBLE) * s_pop AS wt FROM ws),
      tw AS (SELECT list_sum(list(wt ORDER BY source)) AS t,
               CAST(SUM(n_pop) AS BIGINT) AS npop_total FROM w2),
      sh AS (
        SELECT source, n_pop, s_pop,
          CASE WHEN tw.t = 0.0
            THEN CAST($NeymanTarget AS DOUBLE) * CAST(n_pop AS DOUBLE) /
              CAST(tw.npop_total AS DOUBLE)
            ELSE CAST($NeymanTarget AS DOUBLE) * wt / tw.t END AS share
        FROM w2, tw),
      b AS (
        SELECT *, CAST(FLOOR(share) AS BIGINT) AS base,
          share - FLOOR(share) AS frac
        FROM sh),
      lo AS (SELECT $NeymanTarget - SUM(base) AS l FROM b),
      rk AS (
        SELECT *, ROW_NUMBER() OVER (ORDER BY frac DESC, source ASC) AS r
        FROM b)
      SELECT source, n_pop, s_pop,
        CAST(base + CASE WHEN r <= lo.l THEN 1 ELSE 0 END AS BIGINT)
          AS allocation
      FROM rk, lo ORDER BY source""",
    // components re-derived INDEPENDENTLY (all-pairs jaccard + recursive
    // CTE), so matching per-fold masses proves no near-dup cluster
    // spans folds in the Spark plan either
    "sample_group_split" -> s"""
      WITH RECURSIVE ${Dedup.componentsCteBody},
      comp AS (
        SELECT id AS doc_id, MIN(lbl) AS component_id
        FROM reach GROUP BY id),
      d AS (
        SELECT doc_id,
          CAST(len(list_filter(string_split_regex(trim(text), '\\s+'),
            x -> len(x) > 0)) AS BIGINT) AS n_tokens
        FROM documents),
      j AS (
        SELECT d.doc_id, d.n_tokens,
          COALESCE(c.component_id, d.doc_id) AS comp
        FROM d LEFT JOIN comp c ON c.doc_id = d.doc_id),
      f AS (
        SELECT comp, n_tokens,
          CASE WHEN md5(CAST(comp AS VARCHAR)) < '$TrainUpper' THEN 'train'
               WHEN md5(CAST(comp AS VARCHAR)) < '$ValUpper' THEN 'val'
               ELSE 'test' END AS fold
        FROM j)
      SELECT fold, CAST(COUNT(DISTINCT comp) AS BIGINT) AS n_components,
        CAST(COUNT(*) AS BIGINT) AS n_docs,
        CAST(SUM(n_tokens) AS BIGINT) AS n_tokens
      FROM f GROUP BY fold ORDER BY fold""",
    // The greedy trace is fully deterministic, so the whole k-round
    // farthest-point loop replays as a recursive CTE: state rows
    // (round, vec_id, running min-dist²), each round's center = the
    // previous round's argmax (mind DESC, vec_id ASC). The distance is
    // the same left-to-right list_sum fold as the Spark kernel, so ids
    // AND radius doubles are bit-identical. Standing assumption (like
    // the fnv families): coverage radii stay > 0 — an exact-duplicate
    // corpus could let the CTE re-pick a zero-radius chosen center
    // where the Spark side's explicit exclusion picks the next id.
    "sample_kcenter" -> s"""
      WITH RECURSIVE
      e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      seed AS (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT 1),
      st(r, vec_id, mind) AS (
        SELECT 1, e.vec_id,
          list_sum([(e.v[i] - s.v[i]) * (e.v[i] - s.v[i])
            for i in range(1, 65)])
        FROM e, seed s
        UNION ALL
        SELECT st.r + 1, st.vec_id,
          least(st.mind,
            list_sum([(ev.v[i] - c.v[i]) * (ev.v[i] - c.v[i])
              for i in range(1, 65)]))
        FROM st
        JOIN e ev ON ev.vec_id = st.vec_id
        JOIN (
          SELECT e2.vec_id, e2.v
          FROM st s2 JOIN e e2 ON e2.vec_id = s2.vec_id
          ORDER BY s2.mind DESC, s2.vec_id ASC LIMIT 1
        ) c ON TRUE
        WHERE st.r < ${KCenterK - 1}
      ),
      sel AS (
        SELECT r, vec_id, mind,
          ROW_NUMBER() OVER (PARTITION BY r
            ORDER BY mind DESC, vec_id ASC) AS rk
        FROM st)
      SELECT CAST(0 AS BIGINT) AS rank, (SELECT vec_id FROM seed) AS vec_id,
        0.0 AS radius2
      UNION ALL
      SELECT CAST(r AS BIGINT), vec_id, mind FROM sel WHERE rk = 1
      ORDER BY rank""",
    "sample_reservoir" -> s"""
      SELECT doc_id, source, md5(CAST(doc_id AS VARCHAR)) AS h
      FROM documents
      ORDER BY h ASC, doc_id ASC
      LIMIT $ReservoirK""",
    "sample_split" -> s"""
      SELECT CASE WHEN md5(CAST(doc_id AS VARCHAR)) < '$TrainUpper' THEN 'train'
                  WHEN md5(CAST(doc_id AS VARCHAR)) < '$ValUpper' THEN 'val'
                  ELSE 'test' END AS split,
        COUNT(*) AS n,
        CAST(SUM(doc_id) AS BIGINT) AS sum_ids,
        MIN(doc_id) AS min_id,
        MAX(doc_id) AS max_id
      FROM documents
      GROUP BY 1 ORDER BY 1""",
    "sample_temperature" -> s"""
      WITH cut AS (
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
          CAST(floor(LEAST(CAST(1.0 AS DOUBLE),
            CAST($TempK AS DOUBLE) / sqrt(CAST(COUNT(*) AS DOUBLE))) * 65536.0)
            AS BIGINT) AS cutoff
        FROM documents GROUP BY source),
      kept AS (
        SELECT d.source, d.doc_id
        FROM documents d JOIN cut c ON d.source = c.source
        WHERE c.cutoff >= 65536
           OR substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 4) < printf('%04x', c.cutoff))
      SELECT c.source, c.n_docs, c.cutoff,
        CAST(COUNT(k.doc_id) AS BIGINT) AS n_kept,
        CAST(COALESCE(SUM(k.doc_id), 0) AS BIGINT) AS sum_kept_ids
      FROM cut c LEFT JOIN kept k ON c.source = k.source
      GROUP BY c.source, c.n_docs, c.cutoff
      ORDER BY c.source""",
    // the allocator replays as a recursive CTE walking the same
    // ascending-capacity order; '//' is DuckDB's integer floor division
    // = the Spark driver loop's Long division (remaining stays >= 0)
    "sample_unimax" -> s"""
      WITH RECURSIVE sized AS (
        SELECT source, doc_id,
          CAST(len(list_filter(string_split_regex(trim(text), '\\s+'), x -> len(x) > 0)) AS BIGINT) AS nt
        FROM documents),
      tot AS (
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
          CAST(SUM(nt) AS BIGINT) AS total
        FROM sized GROUP BY source),
      caps AS (
        SELECT source, n_docs, total,
          total * $UnimaxEpochs AS capacity,
          row_number() OVER (ORDER BY total * $UnimaxEpochs ASC, source ASC) AS i,
          COUNT(*) OVER () AS k
        FROM tot),
      a AS (
        SELECT 0 AS i, CAST($UnimaxBudget AS BIGINT) AS remaining,
          CAST(NULL AS VARCHAR) AS source, CAST(0 AS BIGINT) AS alloc
        UNION ALL
        SELECT c.i,
          a.remaining - LEAST(c.capacity, a.remaining // (c.k - c.i + 1)),
          c.source,
          LEAST(c.capacity, a.remaining // (c.k - c.i + 1))
        FROM a JOIN caps c ON c.i = a.i + 1),
      rep AS (
        SELECT s.source, s.doc_id, s.nt,
          SUM(s.nt) OVER (PARTITION BY s.source
            ORDER BY e.epoch ASC, md5(CAST(s.doc_id AS VARCHAR)) ASC, s.doc_id ASC
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        FROM sized s
        CROSS JOIN (SELECT unnest(range(1, $UnimaxEpochs + 1)) AS epoch) e),
      kept AS (
        SELECT r.source, r.doc_id, r.nt
        FROM rep r JOIN a ON a.source = r.source
        WHERE r.cum <= a.alloc)
      SELECT c.source, c.n_docs, c.total AS total_tokens,
        CAST(c.capacity AS BIGINT) AS capacity, CAST(a.alloc AS BIGINT) AS alloc,
        CAST(COUNT(k.doc_id) AS BIGINT) AS n_kept,
        CAST(COALESCE(SUM(k.nt), 0) AS BIGINT) AS kept_tokens,
        CAST(COALESCE(SUM(k.doc_id), 0) AS BIGINT) AS sum_kept_ids
      FROM caps c
      JOIN a ON a.source = c.source
      LEFT JOIN kept k ON k.source = c.source
      GROUP BY c.source, c.n_docs, c.total, c.capacity, a.alloc
      ORDER BY c.source""",
    "sample_cap_per_source" -> s"""
      WITH ranked AS (
        SELECT source, doc_id,
          row_number() OVER (PARTITION BY source
            ORDER BY md5(CAST(doc_id AS VARCHAR)) ASC, doc_id ASC) AS rk
        FROM documents)
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        CAST(SUM(CASE WHEN rk <= $CapPerSource THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        CAST(SUM(CASE WHEN rk <= $CapPerSource THEN doc_id ELSE 0 END) AS BIGINT) AS sum_kept_ids
      FROM ranked GROUP BY source ORDER BY source""")
}
