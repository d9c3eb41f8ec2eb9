package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables.t
import graft.ops.Scale.GatedCheckpoint

/** Near-duplicate detection for LLM training corpora, at four levels of
  * fidelity/cost. All variants are pure DataFrame plans (no collect, no
  * driver loops) so they scale by partitioning:
  *
  *  - exact:        one hash-groupBy — a single shuffle of (key → id).
  *  - minhash LSH:  shingle → k minhashes → band buckets → bucket join.
  *    Candidate generation touches only docs sharing a band bucket, so
  *    the pair space is ~linear in corpus size instead of O(n²).
  *  - simhash:      64-bit signature via per-bit majority vote — one
  *    aggregation pass, then banded candidate join + hamming verify.
  *  - ngram exact:  inverted shingle index join with a document-frequency
  *    cap (hot shingles contribute no information but O(df²) candidate
  *    pairs — the cap is the skew guard that keeps 100 TB runs alive).
  *
  * Hash functions are Spark's codegen'd murmur3 `hash(…, seed)` and
  * `xxhash64` — deterministic across runs and cluster layouts.
  */
object Dedup {

  /** Distinct word n-gram shingles of a text column. */
  def shingles(text: Column, n: Int): Column = {
    val ws = TextAnalysis.tokens(text)
    when(size(ws) >= n,
      array_distinct(transform(sequence(lit(0), size(ws) - n),
        i => array_join(slice(ws, i + lit(1), lit(n)), " "))))
      .otherwise(array().cast("array<string>"))
  }

  val ShingleN = 3
  val NumHashes = 64
  val Bands = 16
  val RowsPerBand: Int = NumHashes / Bands

  /** FNV-1a 64-bit over the shingle text — a compiled scalar hash for
    * the typed shingling path. Collision probability across distinct
    * shingles is ~n²/2⁶⁴: negligible at any corpus that fits a cluster.
    */
  def fnv64(str: String): Long = {
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < str.length) {
      h ^= str.charAt(i)
      h *= 0x100000001b3L
      i += 1
    }
    h
  }

  /** fnv64 of `ws.slice(from, from + n).mkString(" ")` WITHOUT
    * materializing the slice or the joined string — the hash folds each
    * word's chars and the single space separator directly, so the longs
    * are bit-identical to the string form (pinned in OpsSpec) while the
    * shingle loops stop allocating two objects per window. The word
    * windows of a `\s+` split never contain a space, so inserting ' '
    * between words is exactly what mkString(" ") hashed.
    */
  def fnv64Shingle(ws: Array[String], from: Int, n: Int): Long = {
    var h = 0xcbf29ce484222325L
    var k = from
    val end = from + n
    while (k < end) {
      if (k > from) { h ^= ' '; h *= 0x100000001b3L }
      val w = ws(k)
      var j = 0
      while (j < w.length) {
        h ^= w.charAt(j)
        h *= 0x100000001b3L
        j += 1
      }
      k += 1
    }
    h
  }

  /** Exploded distinct (doc_id, shingleHash) pairs. Two deliberate
    * moves, each worth ~5× at bench scale:
    *  - shingling runs as a typed flatMap (compiled JVM loop) instead of
    *    Catalyst transform/slice/array_join — higher-order array
    *    expressions are interpreted per element and dominated the op;
    *  - shingles leave the scan stage already hashed to longs, so every
    *    downstream shuffle, window, and join keys on 8 bytes, never on a
    *    multi-word string.
    */
  private[ops] def shingled(s: SparkSession, dir: String): DataFrame =
    shingledOf(t(s, dir, "documents"))

  /** As [[shingled]] but over an arbitrary (doc_id, text) frame — so
    * callers can push row filters BELOW the typed flatMap (a filter
    * written after it cannot cross the object boundary, forcing a full
    * corpus shingle pass — see [[Decontamination]]) — and with the
    * window width `n` a parameter (dedup uses 3; decontamination
    * sweeps are conventionally run at much wider windows, e.g. 13).
    */
  private[graft] def shingledOf(docs: DataFrame, n: Int = ShingleN): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    docs
      .select($"doc_id", $"text").as[(Long, String)]
      .flatMap { case (id, text) =>
        distinctShingles(TextAnalysis.words(text), n).iterator.map(h => (id, h))
      }
      .toDF("doc_id", "sh")
  }

  /** The DISTINCT fnv64 hashes of the `n`-word windows of `ws`, in
    * first-occurrence order — the shingle walk of [[shingledOf]],
    * [[widthShingleHashes]], [[shingleSetsOf]] and
    * [[CorpusFilters.sourceOverlapOf]].
    */
  private[graft] def distinctShingles(ws: Array[String], n: Int): Array[Long] = {
    val seen = new scala.collection.mutable.HashSet[Long]
    val out = Array.newBuilder[Long]
    var i = 0
    while (i + n <= ws.length) {
      val h = fnv64Shingle(ws, i, n)
      if (seen.add(h)) out += h
      i += 1
    }
    out.result()
  }

  /** Multi-width shingling in ONE corpus scan: (doc_id, n, sh) rows for
    * every width in `ns`, per-doc-distinct within each width — the
    * tokenize happens once per document and each width walks the shared
    * token array (vs one full corpus pass per width through
    * [[shingledOf]]). Built for [[Decontamination.deconSmearReport]],
    * which probes the 3-gram and 13-gram evidence widths side by side.
    */
  private[graft] def shingledOfWidths(
      docs: DataFrame, ns: Seq[Int]): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val widths = ns.distinct.sorted
    docs
      .select($"doc_id", $"text").as[(Long, String)]
      .flatMap { case (id, text) =>
        widthShingleHashes(text, widths).map { case (n, h) => (id, n, h) }
      }
      .toDF("doc_id", "n", "sh")
  }

  /** Per-text kernel of [[shingledOfWidths]]: width-tagged DISTINCT
    * fnv64 shingle hashes, one pass per width. Shared with the
    * decon_smear_report channel emitter
    * ([[graft.ops.Decontamination.smearChannelsOf]]) so the combined
    * word+char probe reads the corpus once without forking the
    * shingling logic. Callers pass widths already distinct (dup widths
    * would double-count).
    */
  private[graft] def widthShingleHashes(
      text: String, widths: Seq[Int]): Iterator[(Int, Long)] = {
    val ws = TextAnalysis.words(text)
    widths.iterator.flatMap(n => distinctShingles(ws, n).iterator.map(h => (n, h)))
  }

  /** Exact dedup: group identical texts, keep the smallest doc_id as the
    * canonical representative. One shuffle on the text hash.
    */
  def dedupExact(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "documents")
      .groupBy(md5($"text").as("text_hash"))
      .agg(min($"doc_id").as("canonical_id"), count(lit(1)).as("n_copies"))
      .select($"canonical_id", $"n_copies", $"text_hash")
      .orderBy("canonical_id")
  }

  /** x^n for power-of-two n as an explicit squaring chain — the
    * libm-free dyadic power both engines evaluate with the SAME
    * multiplication tree (hence identical bits); `pow()` with a
    * fractional or runtime exponent is NOT cross-engine stable.
    */
  private def powDyadic(c: org.apache.spark.sql.Column, n: Int) = {
    require(n > 0 && Integer.bitCount(n) == 1, s"n=$n must be a power of 2")
    var x = c; var m = 1
    while (m < n) { x = x * x; m *= 2 }
    x
  }

  /** LSH banding S-curve — the (bands × rows) tuning chart: for each
    * Jaccard band midpoint s, the probability the repo's
    * [[Bands]]×[[RowsPerBand]] MinHash banding emits a pair as a
    * candidate, P(s) = 1 − (1 − s^r)^b. This is the analytic
    * justification of the banding parameters (P ≈ 1 at the 0.8
    * near-dup threshold, P ≈ 0 under the sub-0.3 noise mass) — the
    * complement of the MEASURED dedup_jaccard_hist /
    * dedup_method_agreement evidence, and the chart consulted before
    * changing either parameter. EXACT cross-engine because r = 4 and
    * b = 16 are dyadic: both powers evaluate as fixed squaring chains
    * ([[powDyadic]]) — no libm pow anywhere.
    *
    * 100 TB shape: a 20-row generated table; free at any scale.
    */
  def dedupLshSCurve(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val jac = ($"k" * 2 + 1).cast("double") / lit(40.0)
    val pBand = powDyadic(jac, RowsPerBand)
    val pDet = lit(1.0) - powDyadic(lit(1.0) - pBand, Bands)
    s.range(0, 20).toDF("k")
      .select(jac.as("jaccard"), pBand.as("p_band"), pDet.as("p_detect"))
      .orderBy("jaccard")
  }

  /** Per-source exact-duplicate rate — the "which feed is dirtiest"
    * report a curation dashboard leads with: per source, docs vs
    * distinct texts, the extra copies a keep-one pass would drop, the
    * worst family size, and the duplicate rate. Same two-level
    * aggregation as [[dedupExact]] with `source` carried through
    * (intra-SOURCE duplicates only — cross-source overlap is
    * [[graft.ops.CorpusFilters]]' source_overlap matrix).
    *
    * 100 TB shape: (source, text-hash) aggregation with map-side
    * combine → per-source re-aggregation; no window, no collect.
    */
  def dedupRateBySource(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "documents")
      .groupBy($"source", md5($"text").as("h"))
      .agg(count(lit(1)).as("m"))
      .groupBy($"source")
      .agg(sum($"m").as("n_docs"),
        count(lit(1)).as("n_distinct"),
        sum($"m" - 1L).as("n_dup_docs"),
        max($"m").as("max_family"))
      .select($"source", $"n_docs", $"n_distinct", $"n_dup_docs",
        $"max_family",
        ($"n_dup_docs".cast("double") / $"n_docs".cast("double"))
          .as("dup_rate"))
      .orderBy("source")
  }

  /** Bag-of-words (word-order-insensitive) exact dedup: the signature
    * is the md5 of the SORTED token multiset, so shuffled/reordered
    * duplicates — template rotations, list reorderings, title/body
    * swaps — collapse into one family where byte-exact dedup
    * ([[dedupExact]]) sees distinct texts. The multiset (sort_array
    * keeps repeats) preserves token counts, so two docs sharing a
    * vocabulary at different frequencies do NOT collide.
    *
    * 100 TB shape: one codegen'd scan (split → sort_array → concat_ws
    * → md5) and one signature-keyed aggregation with map-side
    * combine — the [[dedupExact]] plan with a richer key; per-doc sort
    * cost is local and linearithmic in doc length.
    */
  def dedupBow(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "documents")
      .groupBy(md5(concat_ws(" ", sort_array(
        TextAnalysis.tokens(lower($"text")))))
        .as("bow_hash"))
      .agg(min($"doc_id").as("canonical_id"), count(lit(1)).as("n_copies"))
      .select($"canonical_id", $"n_copies", $"bow_hash")
      .orderBy("canonical_id")
  }

  /** Bloom-prefiltered incremental exact dedup: which batch documents
    * are NOVEL against a stored corpus. The corpus's md5 set compresses
    * into a Bloom filter (`df.stat.bloomFilter` — Spark's own sketch,
    * the same structure its runtime-filter injection ships) that rides
    * a broadcast; a compiled per-partition pass splits the batch into
    * definite-novel (bloom says absent — Bloom filters have NO false
    * negatives) and candidate-duplicate rows, and only the candidates —
    * batch_size × fpp + true dups, not the whole batch — pay the exact
    * anti-join against the corpus. The answer is therefore EXACT
    * (oracle = plain anti-join); the bloom only moves work off the join.
    *
    * 100 TB shape: ~1.2 GB of bloom bits covers 1e9 corpus docs at 1%
    * fpp — resident where the corpus itself never could be, and
    * incrementally maintainable (`BloomFilter.put`/`mergeInPlace`) as
    * batches are accepted, the same contract as the chunk_freq and
    * corpus_sets state tables.
    */
  def bloomNovel(
      batch: DataFrame, corpus: DataFrame,
      expectedCorpusItems: Long, fpp: Double = 0.01): DataFrame = {
    val bloom = corpus.select(col("text_md5"))
      .stat.bloomFilter("text_md5", math.max(1L, expectedCorpusItems), fpp)
    bloomNovelWith(batch, bloom, corpus)
  }

  /** [[bloomNovel]] against an ALREADY-BUILT (typically persisted and
    * incrementally maintained) bloom — the form a streaming pipeline
    * uses so no batch ever rebuilds the corpus sketch.
    */
  def bloomNovelWith(
      batch: DataFrame,
      bloom: org.apache.spark.util.sketch.BloomFilter,
      corpus: DataFrame): DataFrame = {
    val s = batch.sparkSession
    import s.implicits._
    val bloomBc = s.sparkContext.broadcast(bloom)
    val flagged = batch.select(col("doc_id"), col("text_md5"))
      .as[(Long, String)]
      .mapPartitions { it =>
        val bf = bloomBc.value
        it.map { case (id, h) => (id, h, bf.mightContainString(h)) }
      }
      .toDF("doc_id", "text_md5", "maybe_dup")
    val definiteNovel = flagged.filter(!col("maybe_dup"))
      .select(col("doc_id"), col("text_md5"))
    val verifiedNovel = flagged.filter(col("maybe_dup"))
      .select(col("doc_id"), col("text_md5"))
      .join(corpus.select(col("text_md5")), Seq("text_md5"), "left_anti")
      .select(col("doc_id"), col("text_md5"))
    definiteNovel.unionByName(verifiedNovel).orderBy("doc_id")
  }

  /** [[bloomNovel]] as a driver-checkable query: corpus = documents with
    * doc_id % 10 != 0, batch = the rest; novel = batch docs whose text
    * md5 the corpus does not contain.
    */
  def dedupBloomNovel(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val all = t(s, dir, "documents")
      .select($"doc_id", md5($"text").as("text_md5"))
    val corpus = all.filter($"doc_id" % 10 =!= 0)
    val batch = all.filter($"doc_id" % 10 === 0)
    bloomNovel(batch, corpus, expectedCorpusItems = 10000L)
  }

  /** MinHash signatures: k independent hash functions simulated as
    * murmur3 with k seeds; signature i = min over shingles. Single
    * aggregation — the shuffle key is doc_id.
    */
  def minhashSignatures(sh: DataFrame): DataFrame = {
    val mins = (0 until NumHashes).map(i => min(hash(col("sh"), lit(i))).as(s"h$i"))
    sh.groupBy(col("doc_id")).agg(mins.head, mins.tail: _*)
  }

  /** LSH banding: b bands of r signature components, band bucket key =
    * hash of the band's components. Docs agreeing on any full band land
    * in the same bucket.
    */
  def lshBuckets(sigs: DataFrame): DataFrame = {
    val bandStructs = (0 until Bands).map { b =>
      val comps = (b * RowsPerBand until (b + 1) * RowsPerBand).map(r => col(s"h$r"))
      struct(lit(b).as("band"), hash(comps: _*).as("bh"))
    }
    sigs.select(col("doc_id"), explode(array(bandStructs: _*)).as("bk"))
      .select(col("doc_id"), col("bk.band"), col("bk.bh"))
  }

  /** Candidate pairs from shared LSH buckets. `maxBucket` caps the
    * self-join fan-out per bucket (skew guard: a degenerate bucket of
    * size m yields m² pairs; at 100 TB a cap is mandatory).
    *
    * The cap is applied as a broadcast ANTI-join against the (tiny)
    * over-cap bucket list rather than a size window over all bucket
    * rows — a window would shuffle+sort the full bucket table just to
    * drop a handful of hot buckets.
    */
  def candidatePairs(buckets: DataFrame, maxBucket: Int = 1000): DataFrame = {
    val hot = buckets.groupBy(col("band"), col("bh"))
      .agg(count(lit(1)).as("bsz"))
      .filter(col("bsz") > maxBucket)
      .select(col("band"), col("bh"))
    val sized = buckets.join(broadcast(hot), Seq("band", "bh"), "left_anti")
    sized.as("x").join(sized.as("y"),
        col("x.band") === col("y.band") && col("x.bh") === col("y.bh") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
      .distinct()
  }

  /** Exact Jaccard verification of candidate pairs against the full
    * shingle sets (LSH recall is probabilistic; the verify step makes
    * the final answer exact, so the oracle is the all-pairs truth).
    *
    * Shape: per-doc sorted hash arrays (one compiled aggregation), two
    * equi-joins attach them to each pair, then a typed two-pointer merge
    * counts the intersection — compiled, no row explosion. The previous
    * 3-join form expanded every pair by its full shingle list and was
    * ~4× slower on large candidate sets. Per-row cost is
    * O(|set a| + |set b|); jaccard = i/(na+nb-i) as a single double
    * division of exact ints, bit-identical to the DuckDB oracle.
    */
  def verifyJaccard(cand: DataFrame, sh: DataFrame, threshold: Double): DataFrame =
    verifyJaccardSets(cand,
      sh.groupBy(col("doc_id"))
        .agg(sort_array(collect_set(col("sh"))).as("set")),
      threshold)

  /** Per-document sorted shingle-hash sets in ONE narrow pass — no
    * explode, no groupBy shuffle; the set column feeds both band-bucket
    * generation and the verify join.
    */
  def shingleSets(s: SparkSession, dir: String): DataFrame =
    shingleSetsOf(t(s, dir, "documents"))

  /** Same, over any (doc_id, text) frame — the entry point for
    * incremental/streaming batches that don't come from the documents
    * table.
    */
  def shingleSetsOf(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    docs
      .select($"doc_id", $"text").as[(Long, String)]
      .map { case (id, text) =>
        val set = distinctShingles(TextAnalysis.words(text), ShingleN)
        java.util.Arrays.sort(set)
        (id, set)
      }
      .toDF("doc_id", "set")
  }

  /** MinHash-LSH near-dup pairs, exact-verified at jaccard ≥ 0.8.
    *
    * Fused pipeline: shingle sets, the 64 minhashes, and the band
    * buckets are all computed per document row inside one narrow typed
    * pass (`Murmur3_x86_32.hashLong` — the same murmur Spark's hash()
    * applies to longs). The ONLY shuffles left are the candidate
    * bucket self-join and the two verify set-joins; the previous form
    * paid an extra explode + groupBy(doc_id) round-trip to assemble
    * signatures from exploded shingle rows.
    */
  /** Fused (doc_id, band, bh) bucket rows straight from per-doc shingle
    * sets: signature and band hashes computed in one narrow compiled
    * pass. Shared by the full self-dedup and the incremental
    * cross-corpus form.
    */
  def lshBucketsFused(sets: DataFrame): DataFrame = {
    val s = sets.sparkSession
    import s.implicits._
    sets.as[(Long, Array[Long])]
      .flatMap { case (id, hashes) =>
        if (hashes.isEmpty) Iterator.empty
        else {
          val sig = new Array[Int](NumHashes)
          var i = 0
          while (i < NumHashes) {
            var m = Int.MaxValue
            var j = 0
            while (j < hashes.length) {
              val h = org.apache.spark.unsafe.hash.Murmur3_x86_32
                .hashLong(hashes(j), i)
              if (h < m) m = h
              j += 1
            }
            sig(i) = m
            i += 1
          }
          (0 until Bands).iterator.map { b =>
            var bh = 42
            var r = b * RowsPerBand
            while (r < (b + 1) * RowsPerBand) {
              bh = org.apache.spark.unsafe.hash.Murmur3_x86_32.hashInt(sig(r), bh)
              r += 1
            }
            (id, b, bh)
          }
        }
      }
      .toDF("doc_id", "band", "bh")
  }

  def dedupMinhashLsh(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val sets = shingleSets(s, dir).cache()
    try {
      val buckets = lshBucketsFused(sets)
      val cand = candidatePairs(buckets)
      verifyJaccardSets(cand, sets, 0.8).orderBy("a", "b")
        .gatedCheckpoint()
    } finally sets.unpersist()
  }

  /** Verify against precomputed per-doc sorted sets (two equi-joins +
    * two-pointer intersection; see verifyJaccard for rationale).
    */
  def verifyJaccardSets(cand: DataFrame, sets: DataFrame, threshold: Double): DataFrame = {
    val s = cand.sparkSession
    import s.implicits._
    cand
      .join(sets.as("pa"), col("a") === col("pa.doc_id"))
      .join(sets.as("pb"), col("b") === col("pb.doc_id"))
      .select(col("a"), col("b"), col("pa.set").as("sa"), col("pb.set").as("sb"))
      .as[(Long, Long, Array[Long], Array[Long])]
      .map { case (a, b, sa, sb) =>
        var i = 0
        var j = 0
        var inter = 0
        while (i < sa.length && j < sb.length) {
          if (sa(i) == sb(j)) { inter += 1; i += 1; j += 1 }
          else if (sa(i) < sb(j)) i += 1
          else j += 1
        }
        (a, b, inter.toDouble / (sa.length + sb.length - inter))
      }
      .toDF("a", "b", "jaccard")
      .filter(col("jaccard") >= threshold)
  }

  /** Inverted-index exact n-gram Jaccard: candidates = doc pairs sharing
    * ≥1 shingle whose document frequency is under the cap; then exact
    * verify. Same answer as all-pairs Jaccard whenever every qualifying
    * pair shares at least one sub-cap shingle (always true at threshold
    * 0.8 unless the corpus is a single giant cluster).
    */
  def dedupNgramJaccard(s: SparkSession, dir: String, maxDocFreq: Int = 100): DataFrame = {
    val sets = shingleSets(s, dir).cache()
    try {
      // decomposed verify (see intersectCandidatesOf): jaccard =
      // inter / (|A| + |B| − inter), same IEEE division as the
      // two-pointer form, but candidates never carry full sets
      intersectCandidatesOf(sets, maxDocFreq)
        .select(col("a"), col("b"),
          (col("inter").cast("double") /
            (col("na") + col("nb") - col("inter")).cast("double"))
            .as("jaccard"))
        .filter(col("jaccard") >= 0.8)
        .orderBy("a", "b")
        .gatedCheckpoint()
    } finally sets.unpersist()
  }

  /** Similarity histogram for threshold TUNING: how many candidate
    * pairs fall in each Jaccard tenth-band — the evidence a
    * pipeline owner looks at before choosing the dedup threshold (a
    * cliff between bands says thresholds inside the gap are stable; a
    * smear says the corpus has no natural cut). Candidates come from
    * the same df-capped inverted index as [[dedupNgramJaccard]]; the
    * band is the INTEGER (10·inter) div union, so banding never
    * touches a float boundary and both engines bin identically. The
    * cumulative column n_cum is "pairs a threshold of band/10 would
    * match". The window runs over ≤ 11 band rows (band ∈ [0, 10]).
    */
  def dedupJaccardHist(s: SparkSession, dir: String,
      maxDocFreq: Int = NearDupMaxDocFreq): DataFrame = {
    import s.implicits._
    val sets = shingleSets(s, dir).cache()
    try {
      // decomposed verify (see intersectCandidatesOf): the band is the
      // same integer (10·i) div u, u = na + nb − inter
      val iu = intersectCandidatesOf(sets, maxDocFreq)
        .select(col("inter").as("i"),
          (col("na") + col("nb") - col("inter")).as("u"))
      val banded = iu.select(expr("(10 * i) div u").as("band"))
        .groupBy($"band").agg(count(lit(1)).as("n_pairs"))
      val w = org.apache.spark.sql.expressions.Window.orderBy($"band".desc)
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.currentRow)
      banded.withColumn("n_cum", sum($"n_pairs").over(w))
        .orderBy("band")
        // the window input is the band aggregate: ≤11 rows (band =
        // (10·i) div u ∈ [0,10]) regardless of corpus size
        .gatedCheckpoint(boundedWindowOk = "≤11 jaccard-band rows")
    } finally sets.unpersist()
  }

  /** Containment-band tuning histogram — [[dedupJaccardHist]]'s sibling
    * for the ASYMMETRIC score: pairs per containment tenth-band with
    * the cumulative "pairs a threshold of band/10 would match" column,
    * read before fixing [[ContainThreshold]]. Subset duplicates smear
    * under Jaccard but cliff under containment, so the two histograms
    * together tell a pipeline owner which operator family their corpus
    * actually needs. Band = (10·|A∩B|) div min(|A|,|B|) — integer
    * arithmetic, so banding never touches a float boundary and both
    * engines bin identically (the jaccard_hist rule).
    *
    * 100 TB shape: rides [[intersectCandidatesOf]] (scalar+hot-array
    * candidates, no full-set shipping); the band aggregation is
    * map-side combinable and the cumulative window runs over ≤ 11
    * band rows regardless of corpus size.
    */
  def dedupContainmentHist(s: SparkSession, dir: String,
      maxDocFreq: Int = NearDupMaxDocFreq): DataFrame = {
    import s.implicits._
    val sets = shingleSets(s, dir).cache()
    try {
      val banded = intersectCandidatesOf(sets, maxDocFreq)
        .select(expr("(10 * inter) div least(na, nb)").as("band"))
        .groupBy($"band").agg(count(lit(1)).as("n_pairs"))
      val w = org.apache.spark.sql.expressions.Window.orderBy($"band".desc)
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.currentRow)
      banded.withColumn("n_cum", sum($"n_pairs").over(w))
        .orderBy("band")
        // ≤11 rows: band = (10·inter) div min ∈ [0,10]
        .gatedCheckpoint(boundedWindowOk = "≤11 containment-band rows")
    } finally sets.unpersist()
  }

  /** Default near-dup verify parameters — the SINGLE source of truth
    * for the Scala-side defaults AND the DuckDB oracle SQL (which
    * interpolates these at construction), so the registered query and
    * its oracle cannot silently drift apart (VERDICT r6).
    */
  val EditMinShared = 4L
  val EditMaxDistFrac = 0.25
  val NearDupMaxDocFreq = 100
  val ContainThreshold = 0.9

  /** Edit-distance-verified near-dup: candidate pairs must share ≥
    * `minShared` distinct word-trigram shingles (the same inverted-index
    * blocking as [[dedupNgramJaccard]]), then exact character
    * Levenshtein decides — a pair qualifies when distance ≤
    * `maxDistFrac` × the longer text. Character-level edit distance
    * catches small in-place edits (typo farms, template fills) that
    * set-based Jaccard over-penalizes, at O(len²) per SURVIVING
    * candidate only — the blocking join is what keeps the quadratic
    * step off the full pair space. Texts attach to candidates by unique
    * doc_id keys, so no skew; the corpus is ASCII, where Spark's
    * char-based and DuckDB's byte-based levenshtein agree (the operator
    * itself is encoding-agnostic).
    *
    * Oracle scope: the registered DuckDB oracle is BUILT from the same
    * [[EditMinShared]]/[[EditMaxDistFrac]]/[[NearDupMaxDocFreq]]
    * constants that are these parameters' defaults (string-interpolated
    * at oracle-construction time), so the two can't silently diverge —
    * non-default invocations are gated by the ScalaCheck kernel
    * property in OpsSpec (blocked+prefiltered+bounded DP == naive
    * unbounded reference), not by the oracle.
    */
  def dedupEditDistance(
      s: SparkSession, dir: String,
      minShared: Long = EditMinShared, maxDistFrac: Double = EditMaxDistFrac,
      maxDocFreq: Int = NearDupMaxDocFreq): DataFrame = {
    import s.implicits._
    dedupEditDistanceOf(
      graft.Tables.t(s, dir, "documents").select($"doc_id", $"text"),
      minShared, maxDistFrac, maxDocFreq)
  }

  /** Blocking-stage candidates for [[dedupEditDistanceOf]]: pairs
    * sharing ≥ `minShared` sub-df-cap shingles. The df cap (the
    * dedupNgramJaccard guard): a stop-shingle in a million docs would
    * alone contribute 10^12 candidate pairs — drop shingles above the
    * document-frequency cap via a broadcast anti-join BEFORE pairing.
    * The cap is part of the operator's definition (pairs must share
    * >= minShared RARE shingles), so the oracle replays it identically
    * and the result stays hash-exact. Candidate generation is
    * output-sensitive, not corpus-quadratic: on the ×10 sf1 corpus
    * these candidates tracked the verified edit-distance pairs at 99.2%
    * precision (248,799 for 246,699; pair-mass certificate, NOTES.md).
    */
  def editCandidatesOf(
      docs: DataFrame, minShared: Long = EditMinShared,
      maxDocFreq: Int = NearDupMaxDocFreq): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    // ONE shingle kernel pass (the dedupContainmentOf cache pattern):
    // the un-cached form re-ran the corpus flatMap FOUR times — once
    // under each of the blocking self-join's sides and once under each
    // side's df-cap aggregate (r18 plan capture: 4 MapPartitions, 12
    // scans). The per-doc sorted-set table caches instead, and all
    // three consumers explode from it; the candidate output is
    // pair-mass-bounded, so the eager checkpoint that makes the
    // unpersist safe materializes only (a, b) id rows.
    val sets = shingleSetsOf(docs).cache()
    try {
      val sh = sets.select($"doc_id", explode($"set").as("sh"))
      val hot = sh.groupBy($"sh").agg(count(lit(1)).as("df"))
        .filter($"df" > maxDocFreq).select($"sh")
      val rare = sh.join(broadcast(hot), Seq("sh"), "left_anti")
      rare.as("x").join(rare.as("y"),
          col("x.sh") === col("y.sh") && col("x.doc_id") < col("y.doc_id"))
        .groupBy(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
        .agg(count(lit(1)).as("n_shared"))
        .filter($"n_shared" >= minShared)
        .select($"a", $"b")
        .gatedCheckpoint()
    } finally sets.unpersist()
  }

  /** [[dedupEditDistance]] over an arbitrary (doc_id, text) frame — the
    * form the ScalaCheck kernel property drives with generated corpora.
    */
  def dedupEditDistanceOf(
      docs: DataFrame,
      minShared: Long = EditMinShared, maxDistFrac: Double = EditMaxDistFrac,
      maxDocFreq: Int = NearDupMaxDocFreq): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val cand = editCandidatesOf(docs, minShared, maxDocFreq)
    // two semantics-preserving cost cuts before/inside the quadratic DP
    // (neither can change the answer, so the oracle stays the plain
    // unbounded form):
    //  1. length-gap prefilter — levenshtein >= |len(a) - len(b)|, so a
    //     gap beyond the row's own budget can never qualify; pure
    //     arithmetic kills most candidates before any DP runs.
    //  2. early-exit DP — the 3-arg levenshtein with a GLOBAL threshold
    //     floor(maxDistFrac * corpus max length) returns -1 past the
    //     bound at O(len × threshold) instead of O(len²); any row's own
    //     budget is <= the global bound, so -1 rows are exactly the
    //     rows the per-row filter would drop anyway. The corpus-max
    //     scalar is one bounded 1-row aggregate.
    // max over zero rows is null — an empty corpus must yield an empty
    // result, not an NPE (thr falls back to 1; cand is empty anyway)
    val maxRow = docs.agg(max(length($"text"))).head
    val maxLenAll = if (maxRow.isNullAt(0)) 0 else maxRow.getInt(0)
    val thr = math.max(1, math.floor(maxDistFrac * maxLenAll).toInt)
    cand
      .join(docs.select($"doc_id".as("a"), $"text".as("ta")), "a")
      .join(docs.select($"doc_id".as("b"), $"text".as("tb")), "b")
      .select($"a", $"b", $"ta", $"tb",
        greatest(length($"ta"), length($"tb")).cast("long").as("max_len"))
      .filter(abs(length($"ta") - length($"tb")).cast("double") <=
        lit(maxDistFrac) * $"max_len".cast("double"))
      .select($"a", $"b",
        levenshtein($"ta", $"tb", thr).cast("long").as("dist"),
        $"max_len")
      .filter($"dist" >= 0L && $"dist".cast("double") <=
        lit(maxDistFrac) * $"max_len".cast("double"))
      .orderBy("a", "b")
  }

  /** Asymmetric n-gram CONTAINMENT near-dup: a pair qualifies when the
    * smaller document's shingle set is ≥ `threshold` contained in the
    * larger's — containment = |A∩B| / min(|A|,|B|). Jaccard punishes
    * length asymmetry (a paragraph quoted verbatim inside a 100×-longer
    * page has Jaccard ≈ 0.01), so subset duplicates — boilerplate-
    * wrapped articles, quote farms, page-of-pages aggregators — are
    * invisible to [[dedupNgramJaccard]] but exactly what this operator
    * catches. Broder's resemblance-vs-containment distinction (SEQUENCES
    * 1997) is the published basis.
    *
    * Same inverted-index blocking as Jaccard (candidates share ≥1
    * under-df-cap shingle; verify is the exact two-pointer intersection
    * over the per-doc sorted sets), so one shuffle on shingle hash for
    * candidates and id-only pair rows throughout — the df cap bounds a
    * hot shingle's pair fan-out at scale, and the quadratic step never
    * runs (containment is computed per surviving candidate only). Equals
    * the all-pairs truth whenever every qualifying pair shares at least
    * one sub-cap shingle (at threshold 0.9 a qualifying pair shares
    * ≥ 0.9·min distinct shingles — the same justification as the
    * Jaccard plan, and the oracle IS the uncapped all-pairs form).
    */
  def dedupContainment(
      s: SparkSession, dir: String,
      threshold: Double = ContainThreshold,
      maxDocFreq: Int = NearDupMaxDocFreq): DataFrame =
    dedupContainmentOf(t(s, dir, "documents"), threshold, maxDocFreq)

  /** [[dedupContainment]] over any (doc_id, text) frame — the spec
    * entry point for planted subset-duplicate corpora. Its blocking
    * (≥1 shared sub-cap shingle, intentionally looser than the edit
    * blocking) grew 38.9× on the ×10 sf1 corpus, against the 100× an
    * all-pairs plan would show (pair-mass certificate, NOTES.md).
    */
  def dedupContainmentOf(
      docs: DataFrame,
      threshold: Double = ContainThreshold,
      maxDocFreq: Int = NearDupMaxDocFreq): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val sets = shingleSetsOf(docs.select($"doc_id", $"text")).cache()
    try {
      // decomposed verify (see intersectCandidatesOf): candidates never
      // carry full sets; containment = the same single IEEE division
      intersectCandidatesOf(sets, maxDocFreq)
        .select($"a", $"b",
          ($"inter".cast("double") / least($"na", $"nb").cast("double"))
            .as("containment"))
        .filter($"containment" >= threshold)
        .orderBy("a", "b")
        .gatedCheckpoint()
    } finally sets.unpersist()
  }

  /** Decomposed inverted-index intersection trunk for the exact
    * near-dup verifies (r14, after the dedup_containment sf10cd probe
    * read 230× at 100× data): (a, b, inter, na, nb) for every pair
    * sharing ≥1 sub-df-cap shingle, with `inter` the TRUE full-set
    * intersection — WITHOUT ever attaching a full shingle array to a
    * candidate pair. The old shape (`.distinct()` candidates, then two
    * joins shipping both docs' complete sorted sets per candidate) was
    * superlinear in practice at 100×: candidate mass × avg-set-size of
    * array payload through two shuffles, plus a corpus-sized array
    * cache under memory pressure. The identity that removes it:
    *
    *   |A∩B| = |rare(A) ∩ rare(B)| + |hot(A) ∩ hot(B)|
    *
    * — every shared shingle is either sub-cap (counted exactly, for
    * free, by `groupBy(a,b).count` over the SAME blocking self-join
    * that generated the candidate — the editdist pattern) or hot
    * (counted by a compiled two-pointer walk over the docs' HOT-ONLY
    * member arrays, which are bounded by the boilerplate vocabulary a
    * document contains, a tiny fraction of its set). Candidates now
    * carry five scalars plus two small arrays; nothing corpus-sized is
    * cached for the verify. Measured: dedup_containment 458 s → see
    * NOTES sf10cd table at 100×.
    */
  private[ops] def intersectCandidatesOf(
      sets: DataFrame, maxDocFreq: Int = NearDupMaxDocFreq): DataFrame = {
    val s = sets.sparkSession
    import s.implicits._
    val sh = sets.select($"doc_id", explode($"set").as("sh"))
    // materialize the (small) hot list once: it feeds both the anti-join
    // guard and the per-doc hot-member arrays
    val hot = sh.groupBy($"sh").agg(count(lit(1)).as("df"))
      .filter($"df" > maxDocFreq).select($"sh")
      .gatedCheckpoint()
    val rare = sh.join(broadcast(hot), Seq("sh"), "left_anti")
    val shared = rare.as("x").join(rare.as("y"),
        col("x.sh") === col("y.sh") && col("x.doc_id") < col("y.doc_id"))
      .groupBy(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
      .agg(count(lit(1)).as("n_sub"))
    // per-doc HOT members, sorted for the two-pointer walk; docs with
    // none stay absent and coalesce to empty below
    val hotArr = sh.join(broadcast(hot), Seq("sh"), "left_semi")
      .groupBy($"doc_id").agg(sort_array(collect_list($"sh")).as("hs"))
    val sizes = sets.select($"doc_id", size($"set").cast("long").as("n"))
    val empty = array().cast("array<bigint>")
    shared
      .join(sizes.select($"doc_id".as("a"), $"n".as("na")), "a")
      .join(sizes.select($"doc_id".as("b"), $"n".as("nb")), "b")
      .join(hotArr.select($"doc_id".as("a"), $"hs".as("ha")), Seq("a"), "left")
      .join(hotArr.select($"doc_id".as("b"), $"hs".as("hb")), Seq("b"), "left")
      .select($"a", $"b", $"n_sub", $"na", $"nb",
        coalesce($"ha", empty).as("ha"), coalesce($"hb", empty).as("hb"))
      .as[(Long, Long, Long, Long, Long, Array[Long], Array[Long])]
      .map { case (a, b, nSub, na, nb, ha, hb) =>
        var i = 0
        var j = 0
        var inter = nSub
        while (i < ha.length && j < hb.length) {
          if (ha(i) == hb(j)) { inter += 1; i += 1; j += 1 }
          else if (ha(i) < hb(j)) i += 1
          else j += 1
        }
        (a, b, inter, na, nb)
      }
      .toDF("a", "b", "inter", "na", "nb")
  }

  /** Exact containment verify over precomputed sorted sets: two-pointer
    * intersection, then one IEEE division |A∩B| / min(|A|,|B|) — the
    * same single-division discipline that keeps [[verifyJaccardSets]]
    * hash-exact cross-engine. The inverted-index callers never produce
    * a min-side-empty candidate (pairs share ≥1 shingle by
    * construction), but direct calls can: an empty side makes the
    * division NaN, and Spark SQL's `>=` orders NaN ABOVE every value
    * (unlike Scala's IEEE `>=`), which would KEEP the degenerate pair —
    * so empty-min pairs are dropped explicitly before the division
    * (boundary pinned in OpsSpec).
    */
  def verifyContainmentSets(cand: DataFrame, sets: DataFrame, threshold: Double): DataFrame = {
    val s = cand.sparkSession
    import s.implicits._
    cand
      .join(sets.as("pa"), col("a") === col("pa.doc_id"))
      .join(sets.as("pb"), col("b") === col("pb.doc_id"))
      .select(col("a"), col("b"), col("pa.set").as("sa"), col("pb.set").as("sb"))
      .as[(Long, Long, Array[Long], Array[Long])]
      .flatMap { case (a, b, sa, sb) =>
        if (sa.isEmpty || sb.isEmpty) None
        else {
          var i = 0
          var j = 0
          var inter = 0
          while (i < sa.length && j < sb.length) {
            if (sa(i) == sb(j)) { inter += 1; i += 1; j += 1 }
            else if (sa(i) < sb(j)) i += 1
            else j += 1
          }
          Some((a, b, inter.toDouble / math.min(sa.length, sb.length)))
        }
      }
      .toDF("a", "b", "containment")
      .filter(col("containment") >= threshold)
  }

  /** 64-bit SimHash per document over shingle features: bit j of the
    * signature = majority vote of feature-hash bit j. One aggregation
    * with 64 conditional sums — single pass, map-side partials.
    */
  def simhashSignatures(sh: DataFrame): DataFrame = {
    val h = xxhash64(col("sh"))
    val votes = (0 until 64).map { j =>
      sum(when(h.bitwiseAND(lit(1L << j)) =!= 0L, 1).otherwise(-1)).as(s"v$j")
    }
    val sig = (0 until 64).map { j =>
      when(col(s"v$j") > 0, lit(1L << j)).otherwise(lit(0L))
    }.reduce((a, b) => a.bitwiseOR(b))
    sh.groupBy(col("doc_id"))
      .agg(votes.head, votes.tail: _*)
      .select(col("doc_id"), sig.as("simhash"))
  }

  /** splitmix64 finalizer — decorrelates signature bits from the FNV
    * shingle hash in the fused kernel (any well-mixed 64-bit hash works
    * for simhash; the Column path uses xxhash64 instead).
    */
  def splitmix64(x0: Long): Long = {
    var z = x0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** Fused simhash: per-document signature from the cached shingle-hash
    * set in one narrow pass (no explode, no groupBy shuffle) — same
    * fusion as the minhash path. Docs below the shingle length are
    * excluded, matching the exploded form's semantics.
    */
  def simhashSets(sets: DataFrame): DataFrame = {
    val s = sets.sparkSession
    import s.implicits._
    sets.as[(Long, Array[Long])]
      .filter(_._2.nonEmpty)
      .map { case (id, hashes) =>
        val votes = new Array[Int](64)
        var k = 0
        while (k < hashes.length) {
          val h = splitmix64(hashes(k))
          var j = 0
          while (j < 64) {
            if (((h >>> j) & 1L) == 1L) votes(j) += 1 else votes(j) -= 1
            j += 1
          }
          k += 1
        }
        var sig = 0L
        var j = 0
        while (j < 64) { if (votes(j) > 0) sig |= (1L << j); j += 1 }
        (id, sig)
      }
      .toDF("doc_id", "simhash")
  }

  def dedupSimhash(s: SparkSession, dir: String): DataFrame =
    simhashSets(shingleSets(s, dir)).orderBy("doc_id")

  /** Portable simhash: the same per-bit majority vote as [[simhashSets]]
    * but feature bit j of a shingle = bit (j mod 4) of hex nibble
    * (j div 4) of the shingle's md5 — reproducible in ANY engine with an
    * md5 (and so DuckDB-oracle-checkable), unlike the fnv64/splitmix64
    * form whose wrapping 64-bit arithmetic SQL engines refuse. One
    * narrow compiled pass per document; the per-partition md5 memo
    * collapses repeated natural-language shingles to ~|vocab| digests.
    */
  def simhashPortableSigs(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "documents").select($"doc_id", $"text").as[(Long, String)]
      .mapPartitions { it =>
        val memo = new TextAnalysis.Md5Memo()
        it.flatMap { case (id, text) =>
          val ws = TextAnalysis.words(text)
          if (ws.length < ShingleN) Iterator.empty
          else {
            val votes = new Array[Int](64)
            val seen = new scala.collection.mutable.HashSet[String]
            var i = 0
            while (i + ShingleN <= ws.length) {
              val g = ws.slice(i, i + ShingleN).mkString(" ")
              if (seen.add(g)) {
                val hx = memo(g)
                var j = 0
                while (j < 64) {
                  if (((Character.digit(hx.charAt(j >> 2), 16) >> (j & 3)) & 1) == 1)
                    votes(j) += 1
                  else votes(j) -= 1
                  j += 1
                }
              }
              i += 1
            }
            var sig = 0L
            var j = 0
            while (j < 64) { if (votes(j) > 0) sig |= (1L << j); j += 1 }
            Iterator.single((id, sig))
          }
        }
      }
      .toDF("doc_id", "simhash")
  }

  /** Signature rendered as 16 hex chars, char i = nibble (sig >>> 4i) —
    * char 0 is the LEAST significant nibble. A string output keeps the
    * driver compare scalar-typed on every engine.
    */
  private def sigHex(sig: Long): String = {
    val cs = new Array[Char](16)
    var i = 0
    while (i < 16) { cs(i) = TextAnalysis.HexChars(((sig >>> (4 * i)) & 0xFL).toInt); i += 1 }
    new String(cs)
  }

  def dedupSimhashPortable(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    simhashPortableSigs(s, dir).as[(Long, Long)]
      .map { case (id, sig) => (id, sigHex(sig)) }
      .toDF("doc_id", "simhash_hex")
      .orderBy("doc_id")
  }

  /** Portable simhash near-dup pairs. The 4×16-bit banding is EXACT at
    * maxHamming ≤ 3: three flipped bits can touch at most three of the
    * four bands, so every qualifying pair agrees on ≥1 full band
    * (pigeonhole) and the banded candidate join loses nothing — the
    * oracle is all-pairs hamming, and this plan must equal it.
    */
  def dedupSimhashPairsPortable(s: SparkSession, dir: String): DataFrame =
    simhashPairs(simhashPortableSigs(s, dir))
      .select(col("a"), col("b"), col("hamming").cast("long").as("hamming"))
      .orderBy("a", "b")

  /** SimHash near-dup pairs: 4×16-bit band candidates (a pair within
    * hamming ≤ 3 must agree on ≥1 full 16-bit band by pigeonhole when
    * flips spread, and with high probability otherwise), verified with
    * an exact popcount on the XOR.
    */
  def simhashPairs(sigs: DataFrame, maxHamming: Int = 3): DataFrame = {
    val bands = (0 until 4).map { k =>
      struct(lit(k).as("band"),
        shiftrightunsigned(col("simhash"), k * 16).bitwiseAND(lit(0xFFFFL)).as("bh"))
    }
    val buckets = sigs.select(col("doc_id"), col("simhash"),
      explode(array(bands: _*)).as("bk"))
      .select(col("doc_id"), col("simhash"), col("bk.band"), col("bk.bh"))
    buckets.as("x").join(buckets.as("y"),
        col("x.band") === col("y.band") && col("x.bh") === col("y.bh") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"),
        expr("bit_count(x.simhash ^ y.simhash)").as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** SimHash near-dup pairs over the corpus (banded candidates +
    * hamming verify), from the fused signature kernel. Oracle:
    * [[simhashPairsOracleSql]] replays fnv64+splitmix64 in DuckDB
    * mod-2^64 arithmetic and compares against ALL-PAIRS hamming — the
    * banded plan must equal the ground truth (pigeonhole at ≤3).
    */
  def dedupSimhashPairs(s: SparkSession, dir: String): DataFrame =
    simhashPairs(simhashSets(shingleSets(s, dir)))
      .select(col("a"), col("b"), col("hamming").cast("long").as("hamming"))
      .orderBy("a", "b")

  /** Strategy-agreement forensics: how much of the exact-duplicate
    * removal set the near-duplicate (Jaccard-component) pass already
    * covers, and vice versa — the report that tells a pipeline owner
    * whether the cheap exact pass is subsumed (skip it) or
    * complementary (keep both). Removal sets use each family's
    * keep-first survivor rule: exact drops non-minimum doc_ids per
    * normalized-text fingerprint; near drops non-root members of
    * Jaccard ≥ 0.8 components. One full-outer join of two id-only
    * sets → a single integer Venn row; the agreement share is one IEEE
    * division.
    */
  def dedupMethodAgreement(s: SparkSession, dir: String): DataFrame =
    methodAgreementOf(t(s, dir, "documents"))

  /** Agreement kernel over any (doc_id, text) frame — near-dup removal
    * via the same banded-LSH → verify → components chain the corpus
    * pipeline runs.
    */
  def methodAgreementOf(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val w = org.apache.spark.sql.expressions.Window.partitionBy($"fp")
    val exactRemoved = docs
      .select($"doc_id", TextAnalysis.fingerprint($"text").as("fp"))
      .withColumn("m", min($"doc_id").over(w))
      .filter($"doc_id" =!= $"m").select($"doc_id")
    val sets = shingleSetsOf(docs).gatedCheckpoint()
    val prs = verifyJaccardSets(
      candidatePairs(lshBucketsFused(sets)), sets, 0.8)
    val nearRemoved = connectedComponents(prs)
      .filter($"doc_id" =!= $"component_id").select($"doc_id")
    exactRemoved.withColumn("e", lit(1L))
      .join(nearRemoved.withColumn("n", lit(1L)), Seq("doc_id"), "full_outer")
      .agg(
        coalesce(sum($"e"), lit(0L)).as("n_exact"),
        coalesce(sum($"n"), lit(0L)).as("n_near"),
        coalesce(sum(when($"e".isNotNull && $"n".isNotNull, 1L)), lit(0L))
          .as("n_both"),
        count(lit(1)).as("n_either"))
      .select($"n_exact", $"n_near", $"n_both", $"n_either",
        when($"n_either" > 0L,
          $"n_both".cast("double") / $"n_either".cast("double"))
          .otherwise(lit(0.0)).as("agreement_jaccard"))
  }

  /** dedup_source_matrix: exact-duplicate mass between every pair of
    * SOURCES — the data-procurement audit ("am I paying two vendors
    * for the same documents?"): per unordered source pair, the number
    * of identical-text doc pairs crossing them and the number of
    * distinct texts they share; the diagonal carries each source's
    * internal duplication (n·(n−1)/2 pairs per group). Off-diagonal
    * rows exist only where overlap exists — a sparse matrix at real
    * source counts; a source with zero internal dups still appears on
    * the diagonal at 0 (clean is a positive finding).
    *
    * 100 TB shape: one corpus scan collapses to (text-hash, source,
    * n) group counts — distinct-text-sized, the exact-dedup shuffle —
    * then a self-equi-join on the hash (co-partitioned; group sizes
    * are duplicate multiplicities, small by nature) and one
    * |sources|²-bounded aggregation. All-integer counts ⇒ hash-exact.
    */
  def dedupSourceMatrix(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val g = t(s, dir, "documents")
      .groupBy(md5($"text").as("h"), $"source")
      .agg(count(lit(1)).as("n"))
    g.as("a").join(g.as("b"),
        col("a.h") === col("b.h") && col("a.source") <= col("b.source"))
      .select(col("a.source").as("source_a"), col("b.source").as("source_b"),
        when(col("a.source") === col("b.source"),
          expr("a.n * (a.n - 1) DIV 2")).otherwise(expr("a.n * b.n"))
          .as("pairs"),
        when(col("a.source") === col("b.source"), when(col("a.n") >= 2, 1L).otherwise(0L))
          .otherwise(lit(1L)).as("shared"))
      .groupBy($"source_a", $"source_b")
      .agg(sum($"pairs").as("n_dup_pairs"),
        sum($"shared").as("n_shared_texts"))
      .orderBy("source_a", "source_b")
  }

  /** dedup_source_matrix_near: the NEAR-duplicate companion of
    * [[dedupSourceMatrix]] — verified jaccard ≥ 0.8 pairs from the
    * banded LSH chain, attributed to unordered source pairs: the
    * "vendor B is lightly editing vendor A's documents" audit that
    * exact hashing cannot see. Per source pair: near-dup pair count
    * and the maximum jaccard (max, not a float sum — an unordered
    * double sum would be fold-order-dependent and break the replay).
    *
    * 100 TB shape: endpoint sources resolve via two doc_id-keyed
    * SHUFFLE equi-joins against the (doc_id, source) projection — the
    * r15 form broadcast the pair table on the claim it is "bounded by
    * near-dup mass", but near-dup mass is a FRACTION of the corpus,
    * not a constant: on web-scale data verified ≥0.8-jaccard pairs run
    * to billions, and a Spark broadcast is a driver-side collect with
    * a hard size cap — an OOM cliff, not a slowdown. Both join sides
    * here are scale-free per partition (the pair table co-partitions
    * on each endpoint in turn; the documents projection is two thin
    * columns), so the shape survives any pair mass. At test scale AQE
    * may still elect a broadcast from MEASURED sizes — that is the
    * safe, size-gated kind; the plan gate pins that no unconditional
    * broadcast hint remains.
    */
  def dedupSourceMatrixNear(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val pairs = dedupMinhashLsh(s, dir)
    val src = t(s, dir, "documents").select($"doc_id", $"source")
    pairs
      .join(src.select($"doc_id".as("a"), $"source".as("sa")), Seq("a"))
      .join(src.select($"doc_id".as("b"), $"source".as("sb")), Seq("b"))
      .select(least($"sa", $"sb").as("source_a"),
        greatest($"sa", $"sb").as("source_b"), $"jaccard")
      .groupBy($"source_a", $"source_b")
      .agg(count(lit(1)).as("n_pairs"), max($"jaccard").as("max_jaccard"))
      .orderBy("source_a", "source_b")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // new in r15: the cross-source duplication audits (exact + near)
    "dedup_source_matrix" -> dedupSourceMatrix,
    "dedup_source_matrix_near" -> dedupSourceMatrixNear,
    "dedup_jaccard_hist" -> ((s, d) => dedupJaccardHist(s, d)),
    // new in r14: the asymmetric-score sibling, on the decomposed trunk
    "dedup_containment_hist" -> ((s, d) => dedupContainmentHist(s, d)),
    "dedup_method_agreement" -> dedupMethodAgreement,
    "dedup_exact" -> dedupExact,
    "dedup_bow" -> dedupBow,
    "dedup_rate_by_source" -> dedupRateBySource,
    "dedup_lsh_scurve" -> dedupLshSCurve,
    "dedup_bloom_novel" -> dedupBloomNovel,
    "dedup_minhash_lsh" -> dedupMinhashLsh,
    "dedup_ngram_jaccard" -> ((s, d) => dedupNgramJaccard(s, d)),
    "dedup_containment" -> ((s, d) => dedupContainment(s, d)),
    "dedup_editdist" -> ((s, d) => dedupEditDistance(s, d)),
    // oracle-gated since r13 via the full fnv64+splitmix64 DuckDB
    // replay ([[simhashOracleSql]]); rows-only fallback only when the
    // corpus fails [[TextAnalysis.asciiReplaySafe]]
    "dedup_simhash" -> dedupSimhash,
    "dedup_simhash_pairs" -> dedupSimhashPairs,
    "dedup_simhash_portable" -> dedupSimhashPortable,
    "dedup_simhash_pairs_portable" -> dedupSimhashPairsPortable,
    "dedup_components" -> dedupComponents,
    "dedup_cluster_sizes" -> dedupClusterSizes,
    "dedup_shingle_profile" -> dedupShingleProfile,
    "dedup_components_alt" -> dedupComponentsAlternating)

  /** DuckDB-side distinct (doc_id, shingle) pairs, mirroring
    * shingles(text, 3).
    */
  private[ops] val shingleCte = """
    sh AS (
      SELECT doc_id, unnest(list_distinct(
        [array_to_string(ws[i:i+2], ' ') for i in range(1, len(ws) - 1)])) AS sh
      FROM (SELECT doc_id, list_filter(string_split_regex(trim(text), '\s+'), x -> len(x) > 0) AS ws
            FROM documents)
      WHERE len(ws) >= 3)"""

  /** All-pairs exact Jaccard ≥ 0.8 — the ground truth that both the LSH
    * and the inverted-index plan must reproduce. Feasible in DuckDB at
    * oracle scale; the Spark plans exist because this O(n²) form is not
    * feasible at corpus scale.
    */
  private val jaccardOracle = s"""
    WITH $shingleCte,
    cnt AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
      SELECT x.doc_id AS a, y.doc_id AS b, COUNT(*) AS i
      FROM sh x JOIN sh y ON x.sh = y.sh AND x.doc_id < y.doc_id
      GROUP BY x.doc_id, y.doc_id)
    SELECT a, b, CAST(i AS DOUBLE) / (ca.n + cb.n - i) AS jaccard
    FROM inter
    JOIN cnt ca ON a = ca.doc_id
    JOIN cnt cb ON b = cb.doc_id
    WHERE CAST(i AS DOUBLE) / (ca.n + cb.n - i) >= 0.8
    ORDER BY a, b"""

  /** Connected components over a near-dup pair set: every document in a
    * transitive cluster gets the cluster's minimum doc_id as its
    * component id — the canonical-representative assignment a dedup
    * pipeline keeps/drops by.
    *
    * Iterative min-label propagation with pointer jumping: each round
    * every node takes the minimum label among itself and its neighbors
    * (one hop), then jumps to its label's label (path doubling) — so
    * label distance to the component minimum roughly halves per round
    * and convergence is O(log diameter), not O(diameter). Near-dup
    * graphs are shallow (diameter ≲ 4); the jump is what keeps
    * adversarially long chains from stalling the loop. Each round
    * localCheckpoints to truncate lineage, and the convergence probe is
    * a LIMIT 1 count — no full-result collect.
    */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 20): DataFrame = {
    val edges = pairs.select(col("a"), col("b"))
      .union(pairs.select(col("b").as("a"), col("a").as("b")))
      .gatedCheckpoint()
    var labels = edges.select(col("a").as("id")).distinct()
      .withColumn("lbl", col("id"))
      .gatedCheckpoint()
    var it = 0
    var converged = false
    while (!converged && it < maxIter) {
      val nbrMin = edges.join(labels, edges("b") === labels("id"))
        .groupBy(edges("a").as("nid")).agg(min(col("lbl")).as("nlbl"))
      val hop = labels.join(nbrMin, labels("id") === nbrMin("nid"), "left")
        .select(col("id"),
          least(col("lbl"), coalesce(col("nlbl"), col("lbl"))).as("lbl"))
      // pointer jump: follow the label to ITS label (every label is a
      // node id, so the self-join always matches); changed-flag rides
      // along so the convergence probe reads the checkpointed frame
      val next = hop.as("h")
        .join(labels.as("p"), col("h.lbl") === col("p.id"))
        .select(col("h.id").as("id"),
          least(col("h.lbl"), col("p.lbl")).as("lbl"))
        .gatedCheckpoint()
      // converged when no node's label changed vs the previous round
      converged = next.as("n")
        .join(labels.as("o"), col("n.id") === col("o.id"))
        .filter(col("n.lbl") =!= col("o.lbl"))
        .limit(1).isEmpty
      labels = next.select(col("id"), col("lbl"))
      it += 1
    }
    labels.select(col("id").as("doc_id"), col("lbl").as("component_id"))
  }

  /** Near-dup clusters from the MinHash-LSH verified pairs. */
  def dedupComponents(s: SparkSession, dir: String): DataFrame =
    connectedComponents(dedupMinhashLsh(s, dir))
      .orderBy("doc_id")

  /** Document-frequency profile of the shingle space — the evidence
    * for choosing the blocking df cap ([[NearDupMaxDocFreq]]): per df
    * band (1, 2–10, 11–100, >100): how many distinct shingles, how
    * many postings they carry, and the candidate-pair mass
    * Σ df·(df−1)/2 each band would contribute to an UNCAPPED inverted
    * index — the band above the cap is exactly the work the cap
    * avoids. Pure integer arithmetic, one scan → shingle-keyed df agg
    * → 4-key collapse.
    */
  def dedupShingleProfile(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val df = shingledOf(t(s, dir, "documents").select($"doc_id", $"text"))
      .groupBy($"sh").agg(count(lit(1)).as("df"))
    df.select(
        when($"df" === 1L, "1").when($"df" <= 10L, "2-10")
          .when($"df" <= 100L, "11-100").otherwise(">100").as("df_band"),
        $"df")
      .groupBy($"df_band")
      .agg(
        count(lit(1)).as("n_shingles"),
        sum($"df").as("n_postings"),
        // Column `/` is DOUBLE division — sum the (always even) integer
        // products and halve once, floor-cast back to the exact long
        floor(sum($"df" * ($"df" - 1L)) / 2.0).cast("long").as("pair_mass"))
      .orderBy("df_band")
  }

  /** Cluster-size histogram over the near-dup components — the
    * dedup-planning summary: how many clusters of each size, how many
    * docs they hold, and how many docs a keep-one-per-cluster pass
    * would drop (`n_redundant` — the storage/compute savings
    * estimate). Docs in no verified pair count as singletons via the
    * usual coalesce(component_id, doc_id).
    *
    * 100 TB shape: components come from the banded-LSH pipeline; the
    * doc join is a doc_id equi-join; both aggregations are map-side
    * combinable and the final key space is the handful of distinct
    * cluster sizes.
    */
  def dedupClusterSizes(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val comps = dedupComponents(s, dir).select($"doc_id", $"component_id")
    t(s, dir, "documents").select($"doc_id")
      .join(comps, Seq("doc_id"), "left")
      .select(coalesce($"component_id", $"doc_id").as("comp"))
      .groupBy($"comp").agg(count(lit(1)).as("sz"))
      .groupBy($"sz").agg(count(lit(1)).as("n_clusters"))
      .select($"sz".as("cluster_size"), $"n_clusters",
        ($"sz" * $"n_clusters").as("n_docs"),
        (($"sz" - 1L) * $"n_clusters").as("n_redundant"))
      .orderBy($"cluster_size")
  }

  /** Alternating large-star/small-star connected components (the
    * MapReduce-era two-phase algorithm: Kiveris et al., "Connected
    * Components in MapReduce and Beyond", SoCC'14 — public algorithm,
    * re-expressed as DataFrame rounds). Each round is two
    * groupBy+join shuffles over the EDGE set only — no per-node label
    * table — and converges in O(log n) rounds on ANY graph shape,
    * including the adversarial long-path graphs where plain label
    * propagation needs diameter rounds. The fixpoint is a star forest:
    * every node points directly at its component minimum.
    *
    *  - large-star: every node attaches its strictly-LARGER neighbors
    *    to min(N(u) ∪ u) — lengthens no path, halves tall trees;
    *  - small-star: with edges oriented high→low, every node attaches
    *    its smaller neighbors (and itself) to the neighborhood min.
    */
  def connectedComponentsAlternating(pairs: DataFrame, maxIter: Int = 30): DataFrame = {
    var edges = pairs
      .select(greatest(col("a"), col("b")).as("hi"),
        least(col("a"), col("b")).as("lo"))
      .filter(col("hi") =!= col("lo"))
      .distinct()
      .gatedCheckpoint()
    val allNodes = edges.select(col("hi").as("id"))
      .union(edges.select(col("lo").as("id"))).distinct()
      .gatedCheckpoint()
    var converged = false
    var it = 0
    while (!converged && it < maxIter) {
      // large-star over symmetric neighborhoods; each undirected edge
      // is emitted once, from its smaller endpoint's perspective
      val sym = edges.select(col("hi").as("u"), col("lo").as("v"))
        .union(edges.select(col("lo").as("u"), col("hi").as("v")))
      val m1 = sym.groupBy(col("u")).agg(min(col("v")).as("mn"))
        .select(col("u"), least(col("u"), col("mn")).as("m"))
      val ls = sym.join(m1, "u")
        .filter(col("v") > col("u"))
        .select(col("v").as("hi"), col("m").as("lo")) // v > u >= m
        .distinct()
      // small-star on the high→low orientation
      val m2 = ls.groupBy(col("hi")).agg(min(col("lo")).as("m"))
      val next = ls.join(m2, "hi")
        .filter(col("lo") =!= col("m"))
        .select(col("lo").as("hi"), col("m").as("lo"))
        .union(m2.select(col("hi"), col("m").as("lo")))
        .filter(col("hi") =!= col("lo"))
        .distinct()
        .gatedCheckpoint()
      // fixpoint when the canonical edge set stops changing (both
      // sides are distinct sets, so two one-row except probes decide)
      converged = next.except(edges).limit(1).isEmpty &&
        edges.except(next).limit(1).isEmpty
      edges = next
      it += 1
    }
    // star forest: non-roots point at the component min; roots (and
    // any node only ever seen as a minimum) label themselves
    val labels = edges.select(col("hi").as("nid"), col("lo").as("cid"))
    allNodes.join(labels, allNodes("id") === labels("nid"), "left")
      .select(col("id").as("doc_id"),
        coalesce(col("cid"), col("id")).as("component_id"))
  }

  /** The same near-dup clustering answer as dedup_components, computed
    * by the alternating algorithm — oracle-checked against the same
    * recursive-CTE transitive closure.
    */
  def dedupComponentsAlternating(s: SparkSession, dir: String): DataFrame =
    connectedComponentsAlternating(dedupMinhashLsh(s, dir))
      .orderBy("doc_id")

  /** Incremental dedup: near-dup pairs between a NEW batch and an
    * EXISTING corpus, never base×base — the production shape where a
    * daily batch lands against a 100 TB corpus. Cost ∝ batch size:
    * only buckets containing at least one new doc produce candidates,
    * the existing side contributes its (precomputed, stored) bucket
    * and shingle-set tables, and the verify joins touch only candidate
    * ids. Output: (a=new doc, b=base doc, jaccard).
    */
  def crossCorpusNearDups(
      newSets: DataFrame, baseSets: DataFrame,
      threshold: Double = 0.8, maxBucket: Int = 1000): DataFrame = {
    val nb = lshBucketsFused(newSets)
    val bb = lshBucketsFused(baseSets)
    // skew cap across the union, same anti-join form as candidatePairs
    val hot = nb.select(col("band"), col("bh"))
      .unionAll(bb.select(col("band"), col("bh")))
      .groupBy(col("band"), col("bh"))
      .agg(count(lit(1)).as("bsz"))
      .filter(col("bsz") > maxBucket)
      .select(col("band"), col("bh"))
    val nOk = nb.join(broadcast(hot), Seq("band", "bh"), "left_anti")
    val bOk = bb.join(broadcast(hot), Seq("band", "bh"), "left_anti")
    val cand = nOk.as("x").join(bOk.as("y"),
        col("x.band") === col("y.band") && col("x.bh") === col("y.bh") &&
          col("x.doc_id") =!= col("y.doc_id"))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
      .distinct()
    verifyJaccardSets(cand,
      newSets.unionByName(baseSets).dropDuplicates("doc_id"), threshold)
  }

  /** Static entries plus — when [[Similarity.oracleContext]] is set by
    * Verify and the corpus passes [[TextAnalysis.asciiReplaySafe]] — the
    * fnv64/splitmix64 simhash replay oracles (r12 VERDICT ask #2: the
    * last two hash-determined rows-only entries go oracle-gated).
    */
  def oracles: Map[String, String] =
    staticOracles ++
      graft.ops.Similarity.oracleContext.flatMap { case (s, dir) =>
        if (!TextAnalysis.asciiReplaySafe(s, dir)) None
        else Some(Map(
          "dedup_simhash" -> simhashOracleSql,
          "dedup_simhash_pairs" -> simhashPairsOracleSql))
      }.getOrElse(Map.empty)

  private val staticOracles: Map[String, String] = Map(
    "dedup_exact" -> """
      SELECT MIN(doc_id) AS canonical_id, COUNT(*) AS n_copies, md5(text) AS text_hash
      FROM documents
      GROUP BY text
      ORDER BY canonical_id""",
    // same multiplication TREE as the Spark powDyadic chains:
    // s^4 = (s·s)·(s·s), y^16 = (y4·y4)·(y4·y4) with y4 = (y·y)·(y·y)
    "dedup_lsh_scurve" -> """
      WITH ks AS (SELECT unnest(range(0, 20)) AS k),
      j AS (SELECT CAST(2 * k + 1 AS DOUBLE) / 40.0 AS jaccard FROM ks),
      b AS (SELECT jaccard,
              (jaccard * jaccard) * (jaccard * jaccard) AS p_band FROM j),
      y AS (SELECT jaccard, p_band, 1 - p_band AS y0 FROM b),
      y4 AS (SELECT jaccard, p_band, (y0 * y0) * (y0 * y0) AS v FROM y)
      SELECT jaccard, p_band, 1 - ((v * v) * (v * v)) AS p_detect
      FROM y4 ORDER BY jaccard""",
    // all-pairs jaccard truth attributed by source — the banded plan's
    // pair set must reproduce it exactly (the dedup_minhash_lsh stance)
    "dedup_source_matrix_near" -> s"""
      WITH $shingleCte,
      cnt AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
      inter AS (
        SELECT x.doc_id AS a, y.doc_id AS b, COUNT(*) AS i
        FROM sh x JOIN sh y ON x.sh = y.sh AND x.doc_id < y.doc_id
        GROUP BY x.doc_id, y.doc_id),
      pr AS (
        SELECT a, b, CAST(i AS DOUBLE) / (ca.n + cb.n - i) AS jaccard
        FROM inter
        JOIN cnt ca ON a = ca.doc_id
        JOIN cnt cb ON b = cb.doc_id
        WHERE CAST(i AS DOUBLE) / (ca.n + cb.n - i) >= 0.8),
      tagged AS (
        SELECT LEAST(da.source, db.source) AS source_a,
          GREATEST(da.source, db.source) AS source_b, pr.jaccard
        FROM pr
        JOIN documents da ON da.doc_id = pr.a
        JOIN documents db ON db.doc_id = pr.b)
      SELECT source_a, source_b, CAST(COUNT(*) AS BIGINT) AS n_pairs,
        MAX(jaccard) AS max_jaccard
      FROM tagged GROUP BY 1, 2 ORDER BY 1, 2""",
    "dedup_source_matrix" -> """
      WITH g AS (
        SELECT md5(text) AS h, source, CAST(COUNT(*) AS BIGINT) AS n
        FROM documents GROUP BY 1, 2)
      SELECT a.source AS source_a, b.source AS source_b,
        CAST(SUM(CASE WHEN a.source = b.source THEN a.n * (a.n - 1) // 2
          ELSE a.n * b.n END) AS BIGINT) AS n_dup_pairs,
        CAST(SUM(CASE WHEN a.source = b.source
          THEN CASE WHEN a.n >= 2 THEN 1 ELSE 0 END
          ELSE 1 END) AS BIGINT) AS n_shared_texts
      FROM g a JOIN g b ON a.h = b.h AND a.source <= b.source
      GROUP BY 1, 2 ORDER BY 1, 2""",
    "dedup_rate_by_source" -> """
      WITH fam AS (
        SELECT source, md5(text) AS h, COUNT(*) AS m
        FROM documents GROUP BY source, md5(text))
      SELECT source,
        CAST(SUM(m) AS BIGINT) AS n_docs,
        CAST(COUNT(*) AS BIGINT) AS n_distinct,
        CAST(SUM(m - 1) AS BIGINT) AS n_dup_docs,
        CAST(MAX(m) AS BIGINT) AS max_family,
        CAST(SUM(m - 1) AS DOUBLE) / CAST(SUM(m) AS DOUBLE) AS dup_rate
      FROM fam GROUP BY source ORDER BY source""",
    "dedup_bow" -> """
      WITH sig AS (
        SELECT doc_id,
          md5(array_to_string(list_sort(
            list_filter(string_split_regex(trim(lower(text)), '\s+'),
              x -> len(x) > 0)), ' ')) AS bow_hash
        FROM documents)
      SELECT MIN(doc_id) AS canonical_id, COUNT(*) AS n_copies, bow_hash
      FROM sig GROUP BY bow_hash ORDER BY canonical_id""",
    // the bloom is only an accelerator — the exact answer is the plain
    // anti-join, which is the oracle
    "dedup_bloom_novel" -> """
      WITH h AS (SELECT doc_id, md5(text) AS text_md5 FROM documents)
      SELECT doc_id, text_md5 FROM h
      WHERE doc_id % 10 = 0
        AND text_md5 NOT IN (SELECT text_md5 FROM h WHERE doc_id % 10 <> 0)
      ORDER BY doc_id""",
    "dedup_minhash_lsh" -> jaccardOracle,
    "dedup_ngram_jaccard" -> jaccardOracle,
    // all-pairs containment truth — the inverted-index plan must
    // reproduce it exactly (same stance as the Jaccard oracle)
    "dedup_containment" -> s"""
      WITH $shingleCte,
      cnt AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
      inter AS (
        SELECT x.doc_id AS a, y.doc_id AS b, COUNT(*) AS i
        FROM sh x JOIN sh y ON x.sh = y.sh AND x.doc_id < y.doc_id
        GROUP BY x.doc_id, y.doc_id)
      SELECT a, b, CAST(i AS DOUBLE) / LEAST(ca.n, cb.n) AS containment
      FROM inter
      JOIN cnt ca ON a = ca.doc_id
      JOIN cnt cb ON b = cb.doc_id
      WHERE CAST(i AS DOUBLE) / LEAST(ca.n, cb.n) >= $ContainThreshold
      ORDER BY a, b""",
    "dedup_editdist" -> s"""
      WITH $shingleCte,
      rare AS (
        SELECT doc_id, sh FROM sh
        WHERE sh IN (SELECT sh FROM sh GROUP BY sh
                     HAVING COUNT(*) <= $NearDupMaxDocFreq)),
      cand AS (
        SELECT x.doc_id AS a, y.doc_id AS b
        FROM rare x JOIN rare y ON x.sh = y.sh AND x.doc_id < y.doc_id
        GROUP BY 1, 2
        HAVING COUNT(*) >= $EditMinShared)
      SELECT c.a, c.b,
        CAST(levenshtein(da.text, db.text) AS BIGINT) AS dist,
        CAST(GREATEST(length(da.text), length(db.text)) AS BIGINT) AS max_len
      FROM cand c
      JOIN documents da ON c.a = da.doc_id
      JOIN documents db ON c.b = db.doc_id
      WHERE CAST(levenshtein(da.text, db.text) AS DOUBLE)
            <= $EditMaxDistFrac * CAST(GREATEST(length(da.text), length(db.text)) AS DOUBLE)
      ORDER BY a, b""",
    // transitive closure over the exact pair set: min reachable doc_id
    // per node via a recursive CTE — DuckDB's answer to what the Spark
    // side computes with iterative min-label propagation
    "dedup_components" -> componentsOracle,
    "dedup_shingle_profile" -> s"""
      WITH $shingleCte,
      dft AS (SELECT sh, CAST(COUNT(*) AS BIGINT) AS df FROM sh GROUP BY sh),
      banded AS (
        SELECT CASE WHEN df = 1 THEN '1' WHEN df <= 10 THEN '2-10'
                    WHEN df <= 100 THEN '11-100' ELSE '>100' END AS df_band,
          df
        FROM dft)
      SELECT df_band, CAST(COUNT(*) AS BIGINT) AS n_shingles,
        CAST(SUM(df) AS BIGINT) AS n_postings,
        CAST(SUM(df * (df - 1)) // 2 AS BIGINT) AS pair_mass
      FROM banded GROUP BY df_band ORDER BY df_band""",
    // size histogram over the INDEPENDENTLY re-derived components
    // (all-pairs jaccard + recursive CTE), singletons via left join
    "dedup_cluster_sizes" -> s"""
      WITH RECURSIVE $componentsCteBody,
      comp AS (SELECT id AS doc_id, MIN(lbl) AS component_id
               FROM reach GROUP BY id),
      wc AS (
        SELECT d.doc_id, COALESCE(c.component_id, d.doc_id) AS comp
        FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id),
      sizes AS (SELECT comp, CAST(COUNT(*) AS BIGINT) AS sz
                FROM wc GROUP BY comp)
      SELECT sz AS cluster_size, CAST(COUNT(*) AS BIGINT) AS n_clusters,
        sz * CAST(COUNT(*) AS BIGINT) AS n_docs,
        (sz - 1) * CAST(COUNT(*) AS BIGINT) AS n_redundant
      FROM sizes GROUP BY sz ORDER BY sz""",
    "dedup_components_alt" -> componentsOracle,
    // candidate rule parameter-derived from the SAME Scala default
    // (NearDupMaxDocFreq); intersections are over FULL shingle sets,
    // candidates over the df-capped index — mirroring the Spark plan
    "dedup_jaccard_hist" -> s"""
      WITH $shingleCte,
      dft AS (SELECT sh AS g, COUNT(*) AS df FROM sh GROUP BY sh),
      rare AS (
        SELECT s.doc_id, s.sh FROM sh s
        JOIN dft ON dft.g = s.sh WHERE dft.df <= $NearDupMaxDocFreq),
      cand AS (
        SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
        FROM rare x JOIN rare y
          ON x.sh = y.sh AND x.doc_id < y.doc_id),
      cnt AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n
              FROM sh GROUP BY doc_id),
      i2 AS (
        SELECT c.a, c.b, CAST(COUNT(*) AS BIGINT) AS i
        FROM cand c
        JOIN sh x ON x.doc_id = c.a
        JOIN sh y ON y.doc_id = c.b AND y.sh = x.sh
        GROUP BY c.a, c.b),
      bands AS (
        SELECT (10 * i2.i) // (ca.n + cb.n - i2.i) AS band
        FROM i2 JOIN cnt ca ON i2.a = ca.doc_id
        JOIN cnt cb ON i2.b = cb.doc_id),
      hist AS (
        SELECT CAST(band AS BIGINT) AS band,
          CAST(COUNT(*) AS BIGINT) AS n_pairs
        FROM bands GROUP BY band)
      SELECT band, n_pairs,
        CAST(SUM(n_pairs) OVER (ORDER BY band DESC
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
          AS n_cum
      FROM hist ORDER BY band""",
    // identical all-pairs derivation with the asymmetric denominator:
    // the decomposed Spark trunk must reproduce the uncapped truth
    "dedup_containment_hist" -> s"""
      WITH $shingleCte,
      dft AS (SELECT sh AS g, COUNT(*) AS df FROM sh GROUP BY sh),
      rare AS (
        SELECT s.doc_id, s.sh FROM sh s
        JOIN dft ON dft.g = s.sh WHERE dft.df <= $NearDupMaxDocFreq),
      cand AS (
        SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
        FROM rare x JOIN rare y
          ON x.sh = y.sh AND x.doc_id < y.doc_id),
      cnt AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n
              FROM sh GROUP BY doc_id),
      i2 AS (
        SELECT c.a, c.b, CAST(COUNT(*) AS BIGINT) AS i
        FROM cand c
        JOIN sh x ON x.doc_id = c.a
        JOIN sh y ON y.doc_id = c.b AND y.sh = x.sh
        GROUP BY c.a, c.b),
      bands AS (
        SELECT (10 * i2.i) // least(ca.n, cb.n) AS band
        FROM i2 JOIN cnt ca ON i2.a = ca.doc_id
        JOIN cnt cb ON i2.b = cb.doc_id),
      hist AS (
        SELECT CAST(band AS BIGINT) AS band,
          CAST(COUNT(*) AS BIGINT) AS n_pairs
        FROM bands GROUP BY band)
      SELECT band, n_pairs,
        CAST(SUM(n_pairs) OVER (ORDER BY band DESC
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
          AS n_cum
      FROM hist ORDER BY band""",
    "dedup_method_agreement" -> s"""
      WITH RECURSIVE $componentsCteBody,
      comp AS (
        SELECT id AS doc_id, MIN(lbl) AS component_id
        FROM reach GROUP BY id),
      nearr AS (SELECT doc_id FROM comp WHERE doc_id <> component_id),
      fp AS (
        SELECT doc_id,
          md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))) AS fp
        FROM documents),
      exr AS (
        SELECT doc_id FROM (
          SELECT doc_id, MIN(doc_id) OVER (PARTITION BY fp) AS m FROM fp)
        WHERE doc_id <> m),
      u AS (
        SELECT COALESCE(e.doc_id, n.doc_id) AS doc_id,
          e.doc_id IS NOT NULL AS ise, n.doc_id IS NOT NULL AS isn
        FROM exr e FULL OUTER JOIN nearr n ON e.doc_id = n.doc_id)
      SELECT
        CAST(COALESCE(SUM(CASE WHEN ise THEN 1 END), 0) AS BIGINT) AS n_exact,
        CAST(COALESCE(SUM(CASE WHEN isn THEN 1 END), 0) AS BIGINT) AS n_near,
        CAST(COALESCE(SUM(CASE WHEN ise AND isn THEN 1 END), 0) AS BIGINT)
          AS n_both,
        CAST(COUNT(*) AS BIGINT) AS n_either,
        CASE WHEN COUNT(*) > 0
          THEN CAST(COALESCE(SUM(CASE WHEN ise AND isn THEN 1 END), 0)
            AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
          ELSE CAST(0 AS DOUBLE) END AS agreement_jaccard
      FROM u""",
    "dedup_simhash_portable" -> s"""
      WITH $portableSigCte
      SELECT doc_id, simhash_hex FROM sigs ORDER BY doc_id""",
    "dedup_simhash_pairs_portable" -> s"""
      WITH $portableSigCte
      SELECT a, b, hamming FROM (
        SELECT x.doc_id AS a, y.doc_id AS b,
          CAST(list_sum(
            [bit_count(xor(strpos('0123456789abcdef', substr(x.simhash_hex, i, 1)) - 1,
                           strpos('0123456789abcdef', substr(y.simhash_hex, i, 1)) - 1))
             for i in range(1, 17)]) AS BIGINT) AS hamming
        FROM sigs x JOIN sigs y ON x.doc_id < y.doc_id) p
      WHERE hamming <= 3
      ORDER BY a, b""")

  /** CTE chain deriving near-dup components (reach(id, lbl)) — shared
    * by the components oracles here and the group-split oracle in
    * [[Sampling]].
    */
  private[ops] lazy val componentsCteBody = s"""$shingleCte,
      cnt AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
      inter AS (
        SELECT x.doc_id AS a, y.doc_id AS b, COUNT(*) AS i
        FROM sh x JOIN sh y ON x.sh = y.sh AND x.doc_id < y.doc_id
        GROUP BY x.doc_id, y.doc_id),
      pairs AS (
        SELECT a, b FROM inter
        JOIN cnt ca ON a = ca.doc_id
        JOIN cnt cb ON b = cb.doc_id
        WHERE CAST(i AS DOUBLE) / (ca.n + cb.n - i) >= 0.8),
      edges AS (SELECT a, b FROM pairs UNION ALL SELECT b, a FROM pairs),
      reach(id, lbl) AS (
        SELECT a, a FROM edges
        UNION
        SELECT e.a, r.lbl FROM edges e JOIN reach r ON e.b = r.id)"""

  private lazy val componentsOracle = s"""
      WITH RECURSIVE $componentsCteBody
      SELECT id AS doc_id, MIN(lbl) AS component_id
      FROM reach GROUP BY id ORDER BY doc_id"""
  // dedup_simhash / dedup_simhash_pairs (fnv64+splitmix64 form): native
  // DuckDB integers can't wrap, but mod-2^64 arithmetic is expressible
  // through UBIGINT/HUGEINT — the Verify-time dynamic oracles
  // ([[simhashOracleSql]], asciiReplaySafe-gated) replay both hashes
  // from raw characters. The *_portable twins remain as the
  // engine-agnostic md5-nibble form.

  /** DuckDB mirror of [[simhashPortableSigs]] + [[sigHex]]: per-shingle
    * md5 nibble bits → per-bit majority votes → hex-rendered signature
    * (char i = bits 4i..4i+3, bit r of the nibble = signature bit 4i+r).
    */
  private lazy val portableSigCte = s"""$shingleCte,
    hx AS (SELECT doc_id, md5(sh) AS h FROM sh),
    bits AS (
      SELECT doc_id, bb.b AS b,
        ((strpos('0123456789abcdef', substr(h, CAST(bb.b // 4 AS INT) + 1, 1)) - 1)
          >> CAST(bb.b % 4 AS INT)) & 1 AS bit
      FROM hx CROSS JOIN (SELECT unnest(range(64)) AS b) bb),
    votes AS (
      SELECT doc_id, b, SUM(CASE WHEN bit = 1 THEN 1 ELSE -1 END) AS v
      FROM bits GROUP BY doc_id, b),
    nibs AS (
      SELECT doc_id, b // 4 AS ni,
        SUM(CASE WHEN v > 0 THEN (1 << CAST(b % 4 AS INT)) ELSE 0 END) AS nib
      FROM votes GROUP BY doc_id, b // 4),
    sigs AS (
      SELECT doc_id,
        string_agg(substr('0123456789abcdef', CAST(nib AS INT) + 1, 1), '' ORDER BY ni) AS simhash_hex
      FROM nibs GROUP BY doc_id)"""

  // ---- fnv64+splitmix64 simhash replay (r12 VERDICT ask #2) ----------
  //
  // DuckDB cannot wrap 64-bit arithmetic natively (every integer op
  // errors on overflow), but mod-2^64 arithmetic is EXPRESSIBLE: carry
  // values as UBIGINT (exact [0, 2^64) domain — xor and logical >> are
  // native), and route every product through HUGEINT with an explicit
  // `% 2^64`. A 64×64-bit product can reach 2^128 (overflowing signed
  // HUGEINT), so multipliers ≥ 2^63 are split into 32-bit halves:
  //   a·b mod 2^64 = (a·b_lo + (a·b_hi mod 2^32)·2^32) mod 2^64,
  // every partial ≤ 2^97. The fnv64 prime (2^40+0x1b3) is small enough
  // to multiply directly. This yields a FULL independent replay — DuckDB
  // re-derives every per-shingle hash from raw characters — rather than
  // a frozen (shingle → hash) literal table; gated on asciiReplaySafe
  // because the per-char fold assumes charAt(i) == unicode(substr(s,i,1)).

  private val U64 = BigInt(1) << 64

  /** `a · mult (mod 2^64)` over a UBIGINT SQL expression, splitting the
    * multiplier so no intermediate exceeds HUGEINT range.
    */
  private def mulmod64(a: String, mult: BigInt): String = {
    val lo = mult & 0xFFFFFFFFL
    val hi = mult >> 32
    s"CAST(((CAST($a AS HUGEINT) * $lo) + " +
      s"((CAST($a AS HUGEINT) * $hi) % 4294967296) * 4294967296) % $U64 AS UBIGINT)"
  }

  private def u64(x: Long): BigInt = BigInt(x) & (U64 - 1)

  /** CTE chain `sigs(doc_id, usig)` — the exact [[simhashSets]] kernel
    * in DuckDB: distinct shingles per doc (shared [[shingleCte]]), fnv64
    * per character (recursive CTE over the DISTINCT shingle vocabulary —
    * |vocab| · maxlen rows, not corpus-sized), splitmix64 staged through
    * the split multiplies, then the per-bit majority vote. Distinctness
    * is by shingle TEXT here vs by fnv64 HASH in [[shingleSets]] —
    * identical absent a 64-bit collision inside one document.
    */
  private lazy val simhashReplayCte: String = {
    val fnvBasis = u64(0xcbf29ce484222325L)
    val golden = u64(0x9e3779b97f4a7c15L)
    s"""$shingleCte,
    vocab AS (SELECT DISTINCT sh FROM sh),
    fnv(sh, i, h) AS (
      SELECT sh, 1, CAST($fnvBasis AS UBIGINT) FROM vocab
      UNION ALL
      SELECT sh, i + 1,
        CAST((CAST(xor(h, CAST(unicode(substr(sh, i, 1)) AS UBIGINT)) AS HUGEINT)
              * ${graft.ops.Curation.Fnv64Prime}) % $U64 AS UBIGINT)
      FROM fnv WHERE i <= len(sh)),
    fh AS (SELECT sh, h FROM fnv WHERE i = len(sh) + 1),
    s1 AS (SELECT sh, CAST((CAST(h AS HUGEINT) + $golden) % $U64 AS UBIGINT) AS z FROM fh),
    s2 AS (SELECT sh, ${mulmod64("xor(z, z >> 30)", u64(0xbf58476d1ce4e5b9L))} AS z FROM s1),
    s3 AS (SELECT sh, ${mulmod64("xor(z, z >> 27)", u64(0x94d049bb133111ebL))} AS z FROM s2),
    hv AS (SELECT sh, xor(z, z >> 31) AS hh FROM s3),
    dh AS (SELECT DISTINCT s.doc_id, v.hh FROM sh s JOIN hv v USING (sh)),
    bits AS (
      SELECT doc_id, bb.j AS j, CAST((hh >> CAST(bb.j AS INT)) & 1 AS INT) AS bit
      FROM dh CROSS JOIN (SELECT unnest(range(64)) AS j) bb),
    votes AS (
      SELECT doc_id, j, SUM(CASE WHEN bit = 1 THEN 1 ELSE -1 END) AS v
      FROM bits GROUP BY doc_id, j),
    sigs AS (
      SELECT doc_id,
        CAST(SUM(CASE WHEN v > 0 THEN CAST(1 AS UBIGINT) << CAST(j AS INT)
                 ELSE CAST(0 AS UBIGINT) END) AS UBIGINT) AS usig
      FROM votes GROUP BY doc_id)"""
  }

  /** Unsigned signature rendered back to the Spark LongType domain. */
  private val sigAsBigint =
    s"""CAST(CASE WHEN usig >= ${BigInt(1) << 63}
         THEN CAST(usig AS HUGEINT) - $U64
         ELSE CAST(usig AS HUGEINT) END AS BIGINT)"""

  private[ops] lazy val simhashOracleSql = s"""
      WITH RECURSIVE $simhashReplayCte
      SELECT doc_id, $sigAsBigint AS simhash FROM sigs ORDER BY doc_id"""

  /** Ground-truth pairs: ALL-PAIRS hamming ≤ 3 over the replayed
    * signatures — the Spark side's 4×16-bit banding must lose nothing
    * (pigeonhole: 3 flips touch ≤ 3 of 4 bands).
    */
  private[ops] lazy val simhashPairsOracleSql = s"""
      WITH RECURSIVE $simhashReplayCte
      SELECT a, b, hamming FROM (
        SELECT x.doc_id AS a, y.doc_id AS b,
          CAST(bit_count(xor(x.usig, y.usig)) AS BIGINT) AS hamming
        FROM sigs x JOIN sigs y ON x.doc_id < y.doc_id) p
      WHERE hamming <= 3
      ORDER BY a, b"""
}
