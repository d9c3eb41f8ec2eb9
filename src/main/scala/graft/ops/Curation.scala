package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables.t
import graft.ops.Scale.GatedCheckpoint

/** Corpus-curation operators layered on the dedup/similarity stack:
  * boilerplate segment removal (CCNet-style), clustered semantic
  * dedup (SemDeDup-style), and per-cluster representative selection.
  *
  * Reference has no equivalents (its surface stops at SqlTransform,
  * `examples/batch.py:288`); these are the LLM-training-data operators
  * the assignment adds as first-class capabilities.
  */
object Curation {

  // ---- boilerplate segment removal ----

  val ChunkTokens = 8
  val BoilerMinDocs = 2

  /** Fixed-width token chunks of a document, in order — the declarative
    * (Column-expression) reference form of [[chunkStrings]]. The hot
    * path runs the fused kernel; this form exists so specs can state
    * expected values in independent Spark SQL and so SQL-text pipelines
    * can reuse the chunking. Documents with no tokens produce no chunks
    * (and drop out of the result, matching the oracle's
    * UNNEST-of-empty-range semantics).
    */
  def chunksOf(text: Column, width: Int = ChunkTokens): Column = {
    val tk = TextAnalysis.tokens(text)
    transform(
      sequence(lit(0), (ceil(size(tk) / lit(width.toDouble)) - 1).cast("int")),
      i => concat_ws(" ", slice(tk, i * width + 1, lit(width))))
  }

  /** Max frequent-hash rows the removal pass will collect and broadcast
    * (32-hex strings, ~130 B each in a java Set → ~130 MB at the
    * default). At `minDocs = 2` the frequent set is NOT a Zipf head — on
    * a template-heavy corpus every chunk shared by even two documents
    * qualifies, so its size is O(distinct repeated chunks), i.e.
    * corpus-scale. Above the budget the broadcast-kernel path would OOM
    * the driver, so removal switches to the distributed join plan
    * ([[cleanChunksJoin]]); below it the kernel path keeps its
    * zero-shuffle property. The switch costs one bounded probe job
    * (`limit(budget+1)` — never more than budget+1 rows reach the
    * driver).
    */
  val BoilerBroadcastBudget = 1000000

  /** CCNet-style boilerplate removal, on fixed 8-token chunks instead
    * of lines (the corpus's documents are single-line). A chunk is
    * boilerplate when its md5 occurs in >= `minDocs` DISTINCT documents;
    * every occurrence is removed and the document is re-assembled from
    * its surviving chunks in order.
    *
    * Scale shape (the CCNet two-pass):
    *  1. frequency pass — chunk hashes only (32-hex strings, never the
    *     chunk text) shuffle once into a distinct-doc count with
    *     map-side partial aggregation.
    *  2. removal pass — budget-switched ([[boilerplateWithFrequent]]):
    *     a small frequent set broadcasts into one compiled kernel per
    *     document (re-chunk, drop members, hash the reassembled text in
    *     place — no explode, no join, the text never enters a shuffle);
    *     a corpus-scale frequent set stays distributed and removal runs
    *     as a hash-only semi-join keyed on chunk hash instead.
    */
  def taBoilerplate(
      s: SparkSession, dir: String,
      width: Int = ChunkTokens, minDocs: Int = BoilerMinDocs): DataFrame =
    boilerplateOf(t(s, dir, "documents"), width, minDocs)

  /** [[taBoilerplate]] over an arbitrary (doc_id, text, …) frame. */
  def boilerplateOf(
      docsIn: DataFrame,
      width: Int = ChunkTokens, minDocs: Int = BoilerMinDocs,
      broadcastBudget: Int = BoilerBroadcastBudget): DataFrame =
    boilerplateWithFrequent(
      docsIn, frequentChunkHashes(docsIn, width, minDocs), width, broadcastBudget)

  /** The frequency pass as a DataFrame: chunk hashes in >= `minDocs`
    * distinct documents. Stays distributed — the caller decides whether
    * it is small enough to collect.
    */
  def frequentChunkHashes(
      docsIn: DataFrame, width: Int = ChunkTokens,
      minDocs: Int = BoilerMinDocs): DataFrame = {
    val s = docsIn.sparkSession
    import s.implicits._
    distinctChunkHashes(docsIn, width)
      .groupBy($"h").agg(count(lit(1)).as("nd"))
      .filter($"nd" >= minDocs)
      .select($"h")
  }

  /** Removal against a frequent-hash TABLE, budget-switched: probe the
    * set size with a bounded `limit(budget+1)` collect; if the whole set
    * came back it is broadcast into the zero-shuffle kernel
    * ([[cleanChunks]]), otherwise removal runs distributed
    * ([[cleanChunksJoin]]) and the driver never holds the set. Both
    * paths produce identical rows (spec-pinned).
    */
  def boilerplateWithFrequent(
      docsIn: DataFrame, frequentDf: DataFrame, width: Int = ChunkTokens,
      broadcastBudget: Int = BoilerBroadcastBudget): DataFrame =
    reportOf(cleanWithFrequent(docsIn, frequentDf, width, broadcastBudget))

  /** [[boilerplateWithFrequent]] with the reassembled text kept. */
  def cleanWithFrequent(
      docsIn: DataFrame, frequentDf: DataFrame, width: Int = ChunkTokens,
      broadcastBudget: Int = BoilerBroadcastBudget): DataFrame = {
    val head = frequentDf.limit(broadcastBudget + 1)
      .collect().map(_.getString(0))
    if (head.length <= broadcastBudget) cleanChunks(docsIn, head.toSet, width)
    else cleanChunksJoin(docsIn, frequentDf, width)
  }

  /** Each document's DISTINCT chunk hashes, (doc_id, h) — the frequency
    * pass's kernel, fused: per-doc dedup happens in a local set, so only
    * 32-hex hashes (never chunk text) reach any shuffle. Also the unit
    * that incremental pipelines aggregate into a persistent
    * chunk-frequency state table.
    */
  def distinctChunkHashes(docsIn: DataFrame, width: Int = ChunkTokens): DataFrame = {
    val s = docsIn.sparkSession
    import s.implicits._
    docsIn.select($"doc_id", $"text").as[(Long, String)]
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        it.flatMap { case (id, text) =>
          val seen = new java.util.LinkedHashSet[String]()
          chunkStrings(text, width).foreach { chunk =>
            md.reset()
            seen.add(md5Hex(md, chunk))
          }
          scala.jdk.CollectionConverters.IteratorHasAsScala(seen.iterator()).asScala
            .map(h => (id, h))
        }
      }
      .toDF("doc_id", "h")
  }

  /** The removal pass against a given frequent-chunk set (computed
    * corpus-wide by [[boilerplateOf]], or read from a persistent
    * frequency table by an incremental pipeline).
    */
  def removeChunks(
      docsIn: DataFrame, frequent: Set[String],
      width: Int = ChunkTokens): DataFrame =
    reportOf(cleanChunks(docsIn, frequent, width))

  /** The oracle-gated report form of a clean-chunks frame. */
  private def reportOf(clean: DataFrame): DataFrame =
    clean
      .select(col("doc_id"), col("n_chunks"), col("n_removed"),
        // Spark md5() = MD5 of the UTF-8 bytes, identical to the
        // kernel-side digest the frequency pass uses
        md5(col("clean_text")).as("clean_md5"))
      .orderBy("doc_id")

  /** The removal kernel with the reassembled text kept — the form a
    * pipeline component passes downstream (the md5 report form above is
    * what the oracle gate hashes).
    */
  def cleanChunks(
      docsIn: DataFrame, frequent: Set[String],
      width: Int = ChunkTokens): DataFrame = {
    val s = docsIn.sparkSession
    import s.implicits._
    val frequentBc = s.sparkContext.broadcast(frequent)
    docsIn.select($"doc_id", $"text").as[(Long, String)].mapPartitions { it =>
      val freq = frequentBc.value
      val md = java.security.MessageDigest.getInstance("MD5")
      it.map { case (id, text) =>
        var removed = 0L
        var nChunks = 0L
        val kept = new java.lang.StringBuilder
        chunkStrings(text, width).foreach { chunk =>
          nChunks += 1L
          md.reset()
          if (freq.contains(md5Hex(md, chunk))) removed += 1L
          else {
            if (kept.length > 0) kept.append(' ')
            kept.append(chunk)
          }
        }
        (id, nChunks, removed, kept.toString)
      }
    }.toDF("doc_id", "n_chunks", "n_removed", "clean_text")
      .filter(col("n_chunks") > 0L)
  }

  /** Distributed removal for a frequent set too large to broadcast.
    * Only HASHES shuffle: (doc_id, chunk_idx, h) rows semi-join the
    * frequent table on `h` (one right row per key, so a boilerplate
    * chunk in millions of docs skews only the LEFT side of a join group
    * — AQE skew-split territory, never a driver structure), the removed
    * indices collapse to one bounded list per affected document, and a
    * doc_id-keyed join hands that list to the same reassembly kernel.
    * Documents' text crosses the final join once, keyed by unique
    * doc_id — no skew. Output is row-identical to [[cleanChunks]]
    * (spec-pinned).
    */
  def cleanChunksJoin(
      docsIn: DataFrame, frequentDf: DataFrame,
      width: Int = ChunkTokens): DataFrame = {
    val s = docsIn.sparkSession
    import s.implicits._
    val removed = chunkHashesIndexed(docsIn, width)
      .join(frequentDf.select($"h"), Seq("h"), "left_semi")
      .groupBy($"doc_id").agg(collect_list($"chunk_idx").as("removed_idx"))
    docsIn.select($"doc_id", $"text")
      .join(removed, Seq("doc_id"), "left")
      .select($"doc_id", $"text",
        coalesce($"removed_idx", typedLit(Seq.empty[Int])).as("removed_idx"))
      .as[(Long, String, Seq[Int])]
      .mapPartitions { it =>
        it.map { case (id, text, removedIdx) =>
          val rem = removedIdx.toSet
          var nChunks = 0L
          var nRemoved = 0L
          val kept = new java.lang.StringBuilder
          var ci = 0
          chunkStrings(text, width).foreach { chunk =>
            nChunks += 1L
            if (rem.contains(ci)) nRemoved += 1L
            else {
              if (kept.length > 0) kept.append(' ')
              kept.append(chunk)
            }
            ci += 1
          }
          (id, nChunks, nRemoved, kept.toString)
        }
      }.toDF("doc_id", "n_chunks", "n_removed", "clean_text")
      .filter(col("n_chunks") > 0L)
  }

  /** Every chunk occurrence with its position, (doc_id, chunk_idx, h) —
    * the join path's left side. Unlike [[distinctChunkHashes]] repeats
    * within a document are kept (each occurrence must be removable
    * independently); still hashes only, never chunk text.
    */
  def chunkHashesIndexed(docsIn: DataFrame, width: Int = ChunkTokens): DataFrame = {
    val s = docsIn.sparkSession
    import s.implicits._
    docsIn.select($"doc_id", $"text").as[(Long, String)]
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        it.flatMap { case (id, text) =>
          chunkStrings(text, width).zipWithIndex.map { case (chunk, i) =>
            md.reset()
            (id, i, md5Hex(md, chunk))
          }
        }
      }
      .toDF("doc_id", "chunk_idx", "h")
  }

  /** Intra-document dedup: drop every repeat of a chunk WITHIN its own
    * document (scraped pages love repeating nav blocks and footers
    * inside one page), keeping first occurrences in order — the in-doc
    * counterpart of the cross-doc boilerplate pass, and typically run
    * before it so repeats can't inflate the corpus frequency table.
    * Pure per-document kernel over the scan: no shuffle, no state, the
    * cheapest curation operator in the registry.
    */
  def taIntradoc(
      s: SparkSession, dir: String, width: Int = ChunkTokens): DataFrame =
    intraDocDedupOf(t(s, dir, "documents"), width)

  /** [[taIntradoc]] over an arbitrary (doc_id, text, …) frame. */
  def intraDocDedupOf(docsIn: DataFrame, width: Int = ChunkTokens): DataFrame = {
    val s = docsIn.sparkSession
    import s.implicits._
    val clean = docsIn.select($"doc_id", $"text").as[(Long, String)]
      .mapPartitions { it =>
        it.map { case (id, text) =>
          val seen = new java.util.HashSet[String]()
          var nChunks = 0L
          var dropped = 0L
          val kept = new java.lang.StringBuilder
          chunkStrings(text, width).foreach { chunk =>
            nChunks += 1L
            if (!seen.add(chunk)) dropped += 1L
            else {
              if (kept.length > 0) kept.append(' ')
              kept.append(chunk)
            }
          }
          (id, nChunks, dropped, kept.toString)
        }
      }.toDF("doc_id", "n_chunks", "n_removed", "clean_text")
      .filter(col("n_chunks") > 0L)
    reportOf(clean)
  }

  /** The document's fixed-width token chunks — same tokenization as
    * [[chunksOf]]/TextAnalysis.tokens (trim, split \s+, drop empties;
    * Java and Spark share the regex engine, so token streams are
    * identical).
    */
  private def chunkStrings(text: String, width: Int): Iterator[String] = {
    val toks = text.trim.split("\\s+").filter(_.nonEmpty)
    val nChunks = (toks.length + width - 1) / width
    (0 until nChunks).iterator.map { c =>
      toks.slice(c * width, math.min(toks.length, (c + 1) * width)).mkString(" ")
    }
  }

  private def md5Hex(md: java.security.MessageDigest, s: String): String = {
    val bytes = md.digest(s.getBytes("UTF-8"))
    val sb = new java.lang.StringBuilder(32)
    var i = 0
    while (i < bytes.length) {
      sb.append(Character.forDigit((bytes(i) >> 4) & 0xf, 16))
      sb.append(Character.forDigit(bytes(i) & 0xf, 16))
      i += 1
    }
    sb.toString
  }

  // ---- exact repeated-substring removal (ExactSubstr-style) ----

  val SubstrWindow = 8

  /** Cross-document repeated-span removal: every sliding `k`-token
    * window that occurs verbatim in `minDocs`+ distinct documents marks
    * its tokens; per document the marked windows are merged into maximal
    * spans and those tokens removed. This is the exact-substring dedup
    * of Lee et al., "Deduplicating Training Data Makes Language Models
    * Better" (2022), §4.1 (suffix-array ExactSubstr), re-expressed as a
    * window-hash inverted index: a shared passage of L >= k tokens
    * produces L-k+1 overlapping marked windows that merge back into ONE
    * span covering exactly its L tokens — same spans as the
    * suffix-array formulation for any duplicate of length >= k, without
    * the non-distributable global suffix sort.
    *
    * Distinct from [[taBoilerplate]] (fixed non-overlapping chunks:
    * misses duplicates straddling a chunk boundary or offset by one
    * token) and [[taIntradoc]] (within-document repeats only).
    *
    * 100 TB shape: the window table is ~n_tokens rows/doc — the same
    * inverted index every shingle operator here builds; the df count is
    * one hash-partitioned aggregate with map-side partials; the
    * mark-back join carries (hash, doc_id, pos) only; the per-doc
    * regroup is bounded by document length. A site-wide hot passage
    * skews its hash's join bucket — AQE skew-join splits it, and the
    * occurrences must all be marked anyway (they are the operator's
    * output, not waste).
    */
  def taExactSubstr(
      s: SparkSession, dir: String, k: Int = SubstrWindow,
      minDocs: Int = BoilerMinDocs): DataFrame =
    exactSubstrOf(t(s, dir, "documents"), k, minDocs)

  /** [[taExactSubstr]] over an arbitrary (doc_id, text, …) frame. */
  def exactSubstrOf(
      docsIn: DataFrame, k: Int = SubstrWindow,
      minDocs: Int = BoilerMinDocs): DataFrame = {
    val s = docsIn.sparkSession
    import s.implicits._
    // ONE window-hash kernel pass: the df count and the mark-back join
    // both read the cached window table (the r17 form ran the corpus
    // kernel TWICE — once under `dup`, once under the marks join); the
    // per-doc mark table is bounded by duplicated mass and checkpoints
    // eagerly so the cache releases before the removal pass executes.
    val wins = windowHashes(docsIn, k).cache()
    val marks = try {
      val dup = wins.groupBy($"h")
        .agg(countDistinct($"doc_id").as("nd"))
        .filter($"nd" >= minDocs).select($"h")
      marksOf(wins, dup).gatedCheckpoint()
    } finally wins.unpersist()
    substrRemovalPass(docsIn, marks, k)
  }

  /** Per-doc sorted duplicated-window start positions against a given
    * duplicated-hash frame — the shared mark-back join of
    * [[exactSubstrOf]] (cached window table) and
    * [[exactSubstrWithDup]] (fresh kernel pass against state).
    */
  private def marksOf(wins: DataFrame, dup: DataFrame): DataFrame = {
    val s = wins.sparkSession
    import s.implicits._
    wins.join(dup.select($"h"), "h")
      .groupBy($"doc_id")
      .agg(sort_array(collect_list($"p")).as("ps"))
  }

  /** Character-level duplicated-span audit length (Lee et al. use 50
    * bytes; scaled to the synthetic corpus's ~300-char documents so the
    * fixture actually exercises span merging).
    */
  val SubstrSpanL = 25

  /** dedup_substr_spans: CHARACTER-level exact duplicated-span report —
    * the suffix-array ExactSubstr convention of Lee et al. 2022 §4.1
    * (and the BigQuery replication), complementing [[taExactSubstr]]'s
    * token-window form: byte/char granularity, and a span is duplicated
    * when it occurs ≥2 times ANYWHERE in the corpus (total occurrences,
    * within-doc repeats included), not in `minDocs` distinct documents.
    * Per document: the maximal merged spans of length ≥ L that also
    * occur elsewhere, their count, character mass, and fraction.
    *
    * Suffix-array-free formulation: every duplicated span of length
    * ≥ L is exactly a maximal run of duplicated L-grams at consecutive
    * start positions, so (1) slide an L-char window (pure codegen'd
    * substring — no UDF), (2) count occurrences per gram corpus-wide,
    * (3) mark positions whose gram occurs ≥2 times, (4) coalesce
    * overlapping [p, p+L) intervals per document (the q79 prev-max-end
    * pattern, window PARTITIONED by doc_id). Identical spans to the
    * suffix-array algorithm for every duplicate of length ≥ L, with no
    * non-distributable global suffix sort.
    *
    * 100 TB shape: all of a document's gram fingerprints are computed
    * in ONE projection (`transform` over the position sequence, then
    * posexplode of the 8-byte hash array — the document text never
    * rides the explode, so the gram table is (doc_id, pos, long) and
    * nothing wider ever shuffles); the corpus-wide occurrence count is
    * a single h-partitioned window over that one gram pass (no second
    * scan, no mark-back join); the interval merge is a per-document
    * window. Engines fingerprint DIFFERENTLY on purpose — Spark
    * xxhash64, the oracle the raw gram string — so agreement rests
    * only on xxhash64 being collision-free on the corpus (the
    * standing fnv assumption of the jaccard oracle family); at corpus
    * scale production widens to 128 bits, since 64-bit collides
    * approaching 10⁹–10¹⁰ grams.
    */
  def dedupSubstrSpans(s: SparkSession, dir: String): DataFrame =
    substrSpansOf(t(s, dir, "documents"))

  /** Coalesce fixed-length gram marks into maximal per-document spans
    * — the ONE implementation of the q79 prev-max-end interval merge
    * shared by [[substrSpansOf]] and
    * [[graft.ops.Packing.spanCorruptionOf]] (formerly three hand-rolled
    * copies). Input: (doc_id, p [, carry…]) mark rows; output one row
    * per merged span (doc_id, span_id, sp, ep) with ep = last mark + l
    * and any carry columns passed through via first().
    */
  def coalesceFixedSpans(marks: DataFrame, l: Long,
      carry: Seq[String] = Nil): DataFrame = {
    val s = marks.sparkSession
    import s.implicits._
    val wPrev = org.apache.spark.sql.expressions.Window
      .partitionBy($"doc_id").orderBy($"p")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val wRun = org.apache.spark.sql.expressions.Window
      .partitionBy($"doc_id").orderBy($"p")
    val aggs = (max($"p") + l).as("ep") +:
      carry.map(c => first(col(c)).as(c))
    marks
      .withColumn("prev_end", max($"p" + l).over(wPrev))
      .withColumn("new_span",
        when($"prev_end".isNull || $"p" > $"prev_end", 1L).otherwise(0L))
      .withColumn("span_id", sum($"new_span").over(wRun))
      .groupBy($"doc_id", $"span_id")
      .agg(min($"p").as("sp"), aggs: _*)
  }

  /** dedup_substr_spans128: the 128-bit-fingerprint twin of
    * [[dedupSubstrSpans]] (VERDICT r10 ask #4) — the EXACT same plan
    * (one gram projection, one fingerprint-partitioned window, one
    * per-doc interval merge) with the gram keyed by a PAIR of
    * independent xxhash64 values instead of one. The 64-bit birthday
    * bound fails approaching 10⁹–10¹⁰ grams — a 100 TB corpus is past
    * it (~10¹⁴ grams: collisions certain, each one a spurious
    * duplicated span) — while the 128-bit pair's collision expectation
    * at 10¹⁴ grams is ~10⁻¹¹. Same oracle as the 64-bit form: the
    * oracle fingerprints with the raw gram string, so it is
    * hash-width-agnostic by construction.
    */
  def dedupSubstrSpans128(s: SparkSession, dir: String): DataFrame =
    substrSpansOf(t(s, dir, "documents"), wide = true)

  /** dedup_span_length_hist: the duplicated-span LENGTH distribution —
    * the companion report the ExactSubstr line of work publishes next
    * to the per-doc audit (how much duplicated mass lives in barely-L
    * spans vs whole-document runs — the shape that decides whether to
    * cut spans or drop documents). Per power-of-2 length band
    * (band_lo = 2^⌊log₂ len⌋ via the binary-string-length idiom, an
    * exact integer in both engines): merged-span count, character
    * mass, and the corpus-wide mass share (one IEEE division against
    * a window total).
    *
    * 100 TB shape: identical to [[dedupSubstrSpans]] up to the merged
    * span table (compiled gram kernel → ONE h-partitioned window →
    * per-doc merge), then a band collapse whose output is bounded by
    * log₂(max doc length) rows — the dq single-scan discipline.
    */
  def dedupSpanLengthHist(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val grams = substrGramsOf(t(s, dir, "documents"))
    val wOcc = org.apache.spark.sql.expressions.Window.partitionBy($"h")
    val spans = coalesceFixedSpans(
      grams
        .withColumn("occ", count(lit(1)).over(wOcc))
        .filter($"occ" >= 2L)
        .select($"doc_id", $"p"),
      SubstrSpanL.toLong)
    val banded = spans
      .select(($"ep" - $"sp").as("len"))
      .select(expr(
        "shiftleft(cast(1 as bigint), cast(length(bin(len)) - 1 as int))")
        .as("band_lo"), $"len")
      .groupBy($"band_lo")
      .agg(count(lit(1)).as("n_spans"), sum($"len").as("dup_chars"))
      // ≤ log₂(max doc length) rows — the eager cut stops the corpus
      // gram+window+merge pipeline from executing TWICE (the r17 plan
      // ran the whole subtree once under the mass-share crossJoin's
      // broadcast total and once under the final projection)
      .gatedCheckpoint()
    // corpus total as a lazy broadcast scalar (the simIvfBalance
    // pattern) — no unpartitioned window enters the plan
    val tot = banded.agg(sum($"dup_chars").as("total_chars"))
    banded.crossJoin(broadcast(tot))
      .select($"band_lo", $"n_spans", $"dup_chars",
        ($"dup_chars".cast("double") / $"total_chars".cast("double"))
          .as("mass_share"))
      .orderBy("band_lo")
  }

  /** [[dedupSubstrSpans]] over any (doc_id, text) frame; `wide` keys
    * grams by a 128-bit fingerprint pair ([[dedupSubstrSpans128]]).
    * Split into [[substrGramsOf]] (the gram inverted index) +
    * [[substrSpansFromGrams]] (the count/merge tail) so the streaming
    * twin ([[graft.examples.StreamingCuration.mergeSubstrSpanState]])
    * reports through the IDENTICAL tail over its accumulated index.
    */
  def substrSpansOf(docsIn: DataFrame, l: Int = SubstrSpanL,
      wide: Boolean = false): DataFrame = {
    val s = docsIn.sparkSession
    import s.implicits._
    val docs = docsIn.select($"doc_id",
      length($"text").cast("long").as("n_chars"))
    substrSpansFromGrams(docs, substrGramsOf(docsIn, l, wide), l)
  }

  /** The (doc_id, p, h) L-gram fingerprint table of a corpus — the
    * inverted index [[substrSpansOf]] counts over and the streaming
    * twin accumulates. COMPILED per-partition kernel: per document,
    * one code-point pass emits an fnv64 fingerprint per overlapping
    * gram (the jaccard-family hash convention) — the document text
    * never leaves the kernel, so only (doc_id, p, long) rows ever
    * shuffle. The r10/r11 Catalyst form (transform + posexplode of
    * xxhash64) had the right SHAPE but evaluated the lambda
    * INTERPRETED per element (the dedup_source_overlap lesson):
    * 3.06 s → ~1.1 s at sf0.1 for the 64-bit width. `wide` emits an
    * independent second fnv64 (distinct offset basis) — a 16-byte
    * struct key, ~2x the hashing for the 128-bit collision bound.
    * Positions are 1-based code-point offsets, matching the character
    * semantics of Spark `length` / DuckDB `len` downstream.
    */
  /** ONE definition of the gram fingerprint (FNV-1a over a code-point
    * window) shared by [[substrGramsOf]] both widths and
    * [[graft.ops.TextAnalysis.compressionPortableOf]] — a fork here
    * would silently break the cross-hash oracle convention (r11 review
    * finding #5). The second basis gives the 128-bit width its
    * independent chain.
    */
  private[graft] val Fnv64Basis = 0xcbf29ce484222325L
  private[graft] val Fnv64Basis2 = 0xaf63bd4c8601b7dfL
  private[graft] val Fnv64Prime = 0x100000001b3L

  private[graft] def fnv64Window(
      cps: Array[Int], from: Int, l: Int, basis: Long): Long = {
    var h = basis
    var i = 0
    while (i < l) { h ^= cps(from + i); h *= Fnv64Prime; i += 1 }
    h
  }

  /** Code points of a possibly-null text — null reads as empty, the
    * row-preserving semantics the Catalyst predecessor had via
    * length(NULL) = NULL (r11 review finding #2: the raw
    * `text.codePoints()` NPE'd an executor on a null text row).
    */
  private[graft] def codePointsOf(text: String): Array[Int] =
    if (text == null) Array.emptyIntArray else text.codePoints().toArray

  def substrGramsOf(docsIn: DataFrame, l: Int = SubstrSpanL,
      wide: Boolean = false): DataFrame = {
    val s = docsIn.sparkSession
    import s.implicits._
    val src = docsIn.select($"doc_id", $"text").as[(Long, String)]
    if (!wide)
      src.mapPartitions { it =>
        it.flatMap { case (id, text) =>
          val cps = codePointsOf(text)
          val g = cps.length - l + 1
          if (g <= 0) Iterator.empty
          else (0 until g).iterator.map { p =>
            (id, (p + 1).toLong, fnv64Window(cps, p, l, Fnv64Basis))
          }
        }
      }.toDF("doc_id", "p", "h")
    else
      src.mapPartitions { it =>
        it.flatMap { case (id, text) =>
          val cps = codePointsOf(text)
          val g = cps.length - l + 1
          if (g <= 0) Iterator.empty
          else (0 until g).iterator.map { p =>
            (id, (p + 1).toLong,
              (fnv64Window(cps, p, l, Fnv64Basis),
                fnv64Window(cps, p, l, Fnv64Basis2)))
          }
        }
      }.toDF("doc_id", "p", "h")
  }

  /** The count/merge tail of [[substrSpansOf]]: corpus-wide occurrence
    * count (ONE h-partitioned window), mark positions whose gram occurs
    * ≥2 times, per-doc interval merge, report against the (doc_id,
    * n_chars) length table.
    */
  def substrSpansFromGrams(docLens: DataFrame, grams: DataFrame,
      l: Int = SubstrSpanL): DataFrame = {
    val s = grams.sparkSession
    import s.implicits._
    val wOcc = org.apache.spark.sql.expressions.Window.partitionBy($"h")
    val perDoc = coalesceFixedSpans(
        grams
          .withColumn("occ", count(lit(1)).over(wOcc))
          .filter($"occ" >= 2L)
          .select($"doc_id", $"p"),
        l.toLong)
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_spans"), sum($"ep" - $"sp").as("dup_chars"))
    docLens.select($"doc_id", $"n_chars")
      .join(perDoc, Seq("doc_id"), "left")
      .select($"doc_id", $"n_chars",
        coalesce($"n_spans", lit(0L)).as("n_spans"),
        coalesce($"dup_chars", lit(0L)).as("dup_chars"),
        // empty documents are legal input: NULL frac, not a 0/0 ANSI
        // error (caught by the random-corpus property spec)
        when($"n_chars" > 0L,
          coalesce($"dup_chars", lit(0L)).cast("double") /
            $"n_chars".cast("double")).as("dup_frac"))
      .orderBy($"doc_id")
  }

  /** The (doc_id, p, h) sliding-window hash table of a corpus — the
    * inverted index both the batch dup-count and the streaming
    * window-frequency state build on.
    */
  def windowHashes(docsIn: DataFrame, k: Int = SubstrWindow): DataFrame = {
    val s = docsIn.sparkSession
    import s.implicits._
    // r18: the window fingerprint is fnv64 over the joined token window
    // (the jaccard-family convention — 8-byte longs shuffle and join
    // where the old MD5 hex form digested and moved 32-char strings).
    // The hash never reaches any output: the oracle re-derives
    // duplicated windows from the raw token strings, so agreement rests
    // only on collision-freedom over the corpus (the standing fnv
    // assumption of the shingle family; production widens to 128 bits
    // past ~10⁹ windows).
    docsIn.select($"doc_id", $"text").as[(Long, String)]
      .flatMap { case (id, text) =>
        val toks = text.trim.split("\\s+").filter(_.nonEmpty)
        if (toks.length < k) Iterator.empty
        else (0 to toks.length - k).iterator.map { p0 =>
          (id, (p0 + 1).toLong, graft.ops.Dedup.fnv64Shingle(toks, p0, k))
        }
      }.toDF("doc_id", "p", "h")
  }

  /** The removal pass against a GIVEN duplicated-window-hash frame
    * (computed corpus-wide by [[exactSubstrOf]], or read from the
    * accumulated window-frequency state by the streaming form).
    */
  def exactSubstrWithDup(
      docsIn: DataFrame, dup: DataFrame, k: Int = SubstrWindow): DataFrame =
    substrRemovalPass(docsIn, marksOf(windowHashes(docsIn, k), dup), k)

  /** The removal tail over a prepared per-doc mark table. */
  private def substrRemovalPass(
      docsIn: DataFrame, marks: DataFrame, k: Int): DataFrame = {
    val s = docsIn.sparkSession
    import s.implicits._
    val docs = docsIn.select($"doc_id", $"text").as[(Long, String)]
    docs.toDF("doc_id", "text")
      .join(marks, Seq("doc_id"), "left")
      .select($"doc_id", $"text",
        coalesce($"ps", array().cast("array<bigint>")).as("ps"))
      .as[(Long, String, Seq[Long])]
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        it.map { case (id, text, ps) =>
          val toks = text.trim.split("\\s+").filter(_.nonEmpty)
          val n = toks.length
          val covered = new Array[Boolean](n)
          ps.foreach { p =>
            var i = p.toInt - 1
            val end = math.min(n, p.toInt - 1 + k)
            while (i < end) { covered(i) = true; i += 1 }
          }
          var nSpans = 0L
          var nRemoved = 0L
          val kept = new java.lang.StringBuilder
          var i = 0
          while (i < n) {
            if (covered(i)) {
              nRemoved += 1L
              if (i == 0 || !covered(i - 1)) nSpans += 1L
            } else {
              if (kept.length > 0) kept.append(' ')
              kept.append(toks(i))
            }
            i += 1
          }
          (id, n.toLong, nSpans, nRemoved, md5Hex(md, kept.toString))
        }
      }
      .toDF("doc_id", "n_tokens", "n_spans", "n_removed", "clean_md5")
      .filter($"n_tokens" > 0L)
      .orderBy("doc_id")
  }

  // ---- clustered semantic dedup (SemDeDup-style) ----

  val NumCentroids = 8
  val SemThreshold = 0.40

  /** Deterministic centroids derived from md5 so the DuckDB oracle can
    * regenerate them bit-for-bit: component j (1-based) of centroid k is
    * `strpos('0123456789abcdef', first hex char of md5("c{k}_{j}")) - 8.5`
    * — uniform in {-7.5 … 7.5} \ {0}. A deployment would plug k-means
    * centroids in here; the operator shape is identical.
    */
  lazy val centroids: Array[Array[Double]] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    Array.tabulate(NumCentroids) { k =>
      Array.tabulate(64) { j0 =>
        val h = md.digest(s"c${k}_${j0 + 1}".getBytes("UTF-8"))
        // first hex char = high nibble of byte 0; strpos is 1-based
        (((h(0) >> 4) & 0xf) + 1) - 8.5
      }
    }
  }

  /** Embeddings with their assigned cluster: argmax cosine over the
    * fixed centroids, ties to the lowest k (strictly-greater update in
    * k order = ROW_NUMBER(cos DESC, k ASC) in the oracle). One fused
    * compiled pass per row — K dots + the argmax in primitive loops
    * (pattern: [[Dedup]]'s fused kernels). An expression-level argmax
    * (greatest + CASE chain) is NOT used because Catalyst inlines the
    * shared cosines into every branch: the executed plan evaluated
    * each centroid cosine ~10×/row. No shuffle either way; arithmetic
    * is the same left-to-right IEEE fold as `cosine_sim`, so the
    * DuckDB oracle replays it bit-exactly.
    */
  def assignClusters(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val cents = centroids
    val centNorms = cents.map { c =>
      var n = 0.0; var j = 0
      while (j < c.length) { n += c(j) * c(j); j += 1 }
      math.sqrt(n)
    }
    t(s, dir, "embeddings")
      .select($"vec_id", $"embedding".cast("array<double>").as("v"))
      .as[(Long, Array[Double])]
      .mapPartitions { it =>
        it.map { case (id, v) =>
          var nv = 0.0
          var i = 0
          while (i < v.length) { nv += v(i) * v(i); i += 1 }
          val nvs = math.sqrt(nv)
          var bestK = 0
          var bestC = Double.NegativeInfinity
          var k = 0
          while (k < cents.length) {
            val c = cents(k)
            var d = 0.0
            var j = 0
            while (j < c.length) { d += v(j) * c(j); j += 1 }
            val cos = d / (nvs * centNorms(k))
            if (cos > bestC) { bestC = cos; bestK = k }
            k += 1
          }
          (id, v, bestK.toLong)
        }
      }
      .toDF("vec_id", "v", "cluster")
  }

  /** SemDeDup-style semantic dedup: vectors are assigned to a coarse
    * cluster, then exact cosine dedup (keep-first: a duplicate's keeper
    * is the smallest same-cluster vec_id with cos >= threshold) runs
    * WITHIN each cluster only. The cluster count caps pairwise cost at
    * sum(|cluster|²) instead of n² — at corpus scale NumCentroids grows
    * ~sqrt(n) (k-means over a sample) so cluster sizes stay bounded and
    * the within-cluster step stays embarrassingly parallel; here K is
    * fixed small so the oracle can replay the assignment exactly.
    */
  def dedupSemantic(
      s: SparkSession, dir: String,
      threshold: Double = SemThreshold): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    dedupSemanticWith(assignClusters(s, dir), threshold)
  }

  /** The within-cluster keep-first pair stage, over any (vec_id, v,
    * cluster) assignment — md5 centroids (oracle path), k-means
    * centroids ([[dedupSemanticKmeans]]), or an externally-trained
    * quantizer.
    */
  def dedupSemanticWith(
      assign0: DataFrame, threshold: Double,
      maxCluster: Option[Int] = None): DataFrame = {
    val s = assign0.sparkSession
    import s.implicits._
    // skew guard (the Dedup bucket-cap pattern): a cluster above the
    // cap would contribute |cluster|² pairs to one task, so its members
    // are excluded via a broadcast anti-join of the (tiny) over-cap
    // cluster list; the cap is the explicit recall/cost dial. None (the
    // oracle path) means exact.
    val assign = maxCluster match {
      case None => assign0
      case Some(cap) =>
        val over = assign0.groupBy($"cluster").agg(count(lit(1)).as("n"))
          .filter($"n" > cap).select($"cluster")
        assign0.join(broadcast(over), Seq("cluster"), "left_anti")
    }
    val x = assign.select($"cluster", $"vec_id".as("a"), $"v".as("va"))
    val y = assign.select($"cluster", $"vec_id".as("b"), $"v".as("vb"))
    x.join(y, Seq("cluster"))
      .filter($"a" < $"b")
      .select($"cluster", $"a", $"b",
        call_function("cosine_sim", $"va", $"vb").as("cos"))
      .filter($"cos" >= threshold)
      .groupBy($"cluster", $"b".as("dup_id"))
      .agg(min(struct($"a", $"cos")).as("m"))
      .select($"cluster", $"dup_id",
        $"m.a".as("keeper_id"), $"m.cos".as("cos"))
      .orderBy("dup_id")
  }

  /** Semantic dedup under a TRAINED quantizer: Lloyd's k-means
    * centroids ([[Similarity.kmeans]]) replace the fixed md5 centroids.
    * Assignment uses squared-euclidean distance (Lloyd's objective);
    * the dedup criterion inside a cluster stays exact cosine — the
    * clustering only bounds WHERE pairs are examined, never what
    * qualifies as a duplicate. This is the deployment form — tighter
    * clusters catch more near-dups at the same pairwise budget. Float
    * centroid means are not cross-engine replayable, so this variant is
    * rows-only at the driver and property-gated in CurationSpec (every
    * flagged pair is a true cosine near-dup; the md5-centroid twin is
    * the oracle-exact anchor of the shared pair stage).
    *
    * Train/freeze/apply split (the [[Similarity.writeIvfIndex]]
    * `_centroids/` pattern): training runs ONCE per (corpus, k) and the
    * quantizer persists; every subsequent invocation — including new
    * batches via [[assignBatchFrozen]] — scores under the FROZEN model,
    * so query cost is assignment + within-cluster pairs, never Lloyd's
    * rounds. Lloyd's init is deterministic here, so the cached quantizer
    * is bit-identical to a retrain — freezing changes cost, not rows.
    */
  def dedupSemanticKmeans(
      s: SparkSession, dir: String,
      threshold: Double = SemThreshold, k: Int = NumCentroids): DataFrame =
    dedupSemanticFrozen(s, dir, ensureSemanticQuantizer(s, dir, k), threshold)

  /** Train-or-reuse the cached quantizer for (dir, k, fingerprint) and
    * return its path — shared by the registered query and its
    * frozen-centroid oracle ([[kmeansOracleSql]]), so both sides of the
    * Verify compare read the IDENTICAL centroid bits.
    */
  def ensureSemanticQuantizer(
      s: SparkSession, dir: String, k: Int = NumCentroids): String =
    ArtifactStore.ensure("semquant", s"_k$k", dir,
      ArtifactStore.fingerprint(s, dir, "embeddings"))(
      writeSemanticQuantizer(s, dir, _, k))

  /** Train the Lloyd's quantizer on a corpus's embeddings and persist
    * it as a (cent_id, cent) table — the train-once half of the split.
    * A deployment retrains on corpus refresh cadence, never per query.
    */
  def writeSemanticQuantizer(
      s: SparkSession, dir: String, path: String,
      k: Int = NumCentroids): Unit = {
    import s.implicits._
    val vecs = t(s, dir, "embeddings")
      .select($"vec_id", $"embedding".cast("array<double>").as("e"))
    val cents = Similarity.kmeans(vecs, k)
    cents.toIndexedSeq.zipWithIndex
      .map { case (c, i) => (i.toLong, c) }
      .toDF("cent_id", "cent")
      .coalesce(1).write.mode("overwrite").parquet(path)
  }

  /** The frozen quantizer, cent_id-ordered. Bounded collect: k rows. */
  def readSemanticQuantizer(s: SparkSession, path: String): Array[Array[Double]] =
    s.read.parquet(path).orderBy("cent_id").collect()
      .map(_.getSeq[Double](1).toArray)

  /** Score a corpus under a FROZEN quantizer — the apply half: one
    * compiled assignment pass + the shared within-cluster pair stage.
    */
  def dedupSemanticFrozen(
      s: SparkSession, dir: String, quantizerPath: String,
      threshold: Double = SemThreshold): DataFrame = {
    import s.implicits._
    graft.functions.GraftFunctions.register(s)
    val vecs = t(s, dir, "embeddings")
      .select($"vec_id", $"embedding".cast("array<double>").as("e"))
    dedupSemanticWith(
      Similarity
        .assignEuclidean(vecs.as[(Long, Array[Double])],
          readSemanticQuantizer(s, quantizerPath))
        .select($"vec_id", $"v", $"cluster"),
      threshold)
  }

  /** Incremental batch assignment: (vec_id, e) rows of a NEW batch
    * assigned under the frozen quantizer — cost ∝ batch, the quantizer
    * never retrains (no silent centroid drift; spec-pinned). The same
    * contract as [[Similarity.appendIvfBatch]].
    */
  def assignBatchFrozen(batch: DataFrame, quantizerPath: String): DataFrame = {
    val s = batch.sparkSession
    import s.implicits._
    Similarity.assignEuclidean(
        batch.select(col("vec_id"), col("e")).as[(Long, Array[Double])],
        readSemanticQuantizer(s, quantizerPath))
      .select(col("vec_id"), col("v"), col("cluster"))
  }

  // ---- per-language top-k n-grams ----

  /** The most frequent word bigrams per language — the corpus statistic
    * behind stopword lists, boilerplate candidates, and language-drift
    * monitoring. Ties break to the lexicographically smaller bigram so
    * the top-k is total-ordered and engine-exact.
    *
    * Scale shape: one (lang, bigram) count aggregation with map-side
    * partial combine (the explode never reaches the shuffle unreduced),
    * then the per-lang top-k as ONE bounded mergeable
    * [[graft.functions.TopKCountedAggregator]] pass (r17 rewrite). The
    * ranked input is the bigram LEXICON, Heaps-sublinear in theory —
    * but the r16 trigram probes measured lexicon growth near-LINEAR on
    * adversarial corpora, and a per-lang rank window cannot be split by
    * AQE: one lang's full lexicon would sort through a single task.
    * The min-k buffers never exceed k, so the shuffle carries ≤ k
    * (count, bigram) pairs per (lang, partition) regardless of lexicon
    * size.
    */
  def taNgramTop(s: SparkSession, dir: String, k: Int = 5): DataFrame = {
    import s.implicits._
    // r17: compiled flatMap kernel replaces the transform(sequence)/
    // try_element_at chain — Catalyst HOF lambdas evaluate interpreted
    // per element (the lmBigramsOf r17 rewrite, same measured class);
    // token semantics identical (trim+split+non-empty == tokens()).
    val bigrams = t(s, dir, "documents")
      .select($"lang", $"text").as[(String, String)]
      .flatMap { case (lang, text) =>
        // null text ⇒ no bigrams (the old tokens(NULL) → size −1 path)
        if (text == null) Iterator.empty
        else {
          val ws = text.trim.split("\\s+").filter(_.nonEmpty)
          if (ws.length < 2) Iterator.empty
          else (0 to ws.length - 2).iterator
            .map(i => (lang, ws(i) + " " + ws(i + 1)))
        }
      }
      .toDF("lang", "bigram")
    bigrams.groupBy($"lang", $"bigram")
      .agg(count(lit(1)).as("n"))
      .as[(String, String, Long)]
      .groupByKey(_._1)
      .mapValues(t => (t._3, t._2)) // (n, bigram) under (desc, asc)
      .agg(new graft.functions.TopKCountedAggregator(k)
        .toColumn.name("top"))
      .toDF("lang", "top")
      .select($"lang", posexplode($"top"))
      .select($"lang", ($"pos" + 1).cast("long").as("rk"),
        $"col._2".as("bigram"), $"col._1".as("n"))
      .orderBy("lang", "rk")
  }

  // ---- per-source corpus profile ----

  /** The per-source corpus health report a pipeline records before and
    * after every curation stage: volume (docs, tokens), exact-dup rate
    * (distinct text md5s vs rows), and the short-doc count the quality
    * gate would cut. One shuffle on source with map-side partials; the
    * exact distinct-md5 count is a second partial-agg pass — at 100 TB
    * a profile would swap it for approx_count_distinct (the
    * dq_unique_check pattern), same plan shape.
    */
  def taProfile(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "documents")
      .select($"source", md5($"text").as("m"),
        TextAnalysis.tokenCount($"text").as("n_tokens"))
      .groupBy($"source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum($"n_tokens").as("total_tokens"),
        countDistinct($"m").as("distinct_texts"),
        sum(when($"n_tokens" < 5L, 1L).otherwise(0L)).as("short_docs"))
      .select($"source", $"n_docs", $"total_tokens", $"distinct_texts",
        ($"n_docs" - $"distinct_texts").as("dup_docs"), $"short_docs",
        ($"total_tokens".cast("double") / $"n_docs".cast("double"))
          .as("mean_tokens"))
      .orderBy("source")
  }

  // ---- cluster-balanced sampling (topic balancing) ----

  /** Topic-balanced sampling over embedding clusters: every cluster is
    * downsampled to ~the smallest cluster's size, so no topic dominates
    * the mix — the embedding-space analogue of [[Sampling]]'s per-domain
    * temperature flattening. Membership is the same deterministic
    * md5-prefix idiom (16-bit prefix under a per-cluster cutoff), so the
    * sample is recomputable row-by-row anywhere; cutoff arithmetic is a
    * fixed IEEE op chain and the md5 centroids are engine-replayable,
    * making the whole summary hash-exact under the DuckDB oracle.
    *
    * 100 TB shape: the fused assignment kernel (no shuffle) + one tiny
    * per-cluster aggregate broadcast back over the scan; the keep filter
    * is pure codegen per row. The scalar min rides a broadcast 1-row
    * cross join — no driver collect.
    */
  def sampleClusterBalanced(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val assign = assignClusters(s, dir).select($"vec_id", $"cluster")
    val counts = assign.groupBy($"cluster").agg(count(lit(1)).as("n_vecs"))
    // cutoff clamped to >= 1: a cluster more than 65536x the smallest
    // would otherwise floor to 0 and be DROPPED rather than downsampled
    // — the clamp keeps ~1/65536 of such a cluster, preserving the
    // "every cluster survives, downsampled" contract on pathologically
    // imbalanced corpora. Mirrored in the DuckDB oracle.
    val cut = counts
      .crossJoin(broadcast(counts.agg(min($"n_vecs").as("min_cluster"))))
      .withColumn("cutoff",
        greatest(lit(1L),
          floor(least(lit(1.0),
            $"min_cluster".cast("double") / $"n_vecs".cast("double")) * 65536.0)
            .cast("long")))
    val kept = assign.join(broadcast(cut.select($"cluster", $"cutoff")), "cluster")
      .filter($"cutoff" >= 65536L ||
        substring(md5($"vec_id".cast("string")), 1, 4) <
          format_string("%04x", $"cutoff"))
    cut.join(
        kept.groupBy($"cluster").agg(
          count(lit(1)).as("n_kept"), sum($"vec_id").as("sum_kept_ids")),
        Seq("cluster"), "left")
      .select($"cluster", $"n_vecs", $"min_cluster", $"cutoff",
        coalesce($"n_kept", lit(0L)).as("n_kept"),
        coalesce($"sum_kept_ids", lit(0L)).as("sum_kept_ids"))
      .orderBy("cluster")
  }

  // ---- per-component representative selection ----

  /** Canonical-representative selection over the MinHash near-dup
    * clusters: for each connected component, keep the longest document
    * (max n_chars, ties to the lowest doc_id). This is the "which copy
    * survives dedup" policy step a curation pipeline runs after
    * clustering; n_members is what a dedup report aggregates.
    *
    * Scale shape: the component table is tiny relative to the corpus
    * (only docs that appear in a near-dup pair), so the doc-metadata
    * join broadcasts the component side; the window and size
    * aggregation then run on that small table only.
    */
  def dedupRepresentatives(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    dedupRepresentativesOf(
      dedupComponentsOf(s, dir),
      t(s, dir, "documents").select($"doc_id", $"n_chars"))
  }

  /** [[dedupRepresentatives]] over a MATERIALIZED (doc_id, component_id)
    * table — the production shape: at corpus scale the component table
    * is computed once (or maintained incrementally) and persisted, and
    * the survivor policy reruns against it without re-running the
    * LSH + connected-components chain. The registered query recomputes
    * the chain only because the driver gate invokes it standalone.
    */
  def dedupRepresentativesOf(comp: DataFrame, docs: DataFrame): DataFrame = {
    // r18 (guide §2.4): the rank-1 window + size aggregate + join was
    // three passes over the member table (partition sort, agg, SMJ);
    // the argmax IS an aggregate — max(struct(n_chars, -doc_id)) picks
    // the longest member with ties to the LOWEST doc_id (the negation
    // folds the tiebreak into the same max; doc_id is unique, so the
    // ordering is total and the pick deterministic). ONE aggregate
    // with map-side partials replaces all three, and a megacluster can
    // never funnel its full member mass through a single window-sort
    // task — the partial aggregate reduces each map partition to one
    // row per component BEFORE the exchange, which the window form
    // cannot do. (Struct min/max plans as SortAggregate — no codegen
    // hash buffer; a min_by/ObjectHashAggregate variant measured
    // slower still, 2.027 vs 1.776 — numbers in OPTIMIZATION_r18.md.)
    // Row-identical to the rank-1 form.
    val s = comp.sparkSession
    import s.implicits._
    docs.join(broadcast(comp), Seq("doc_id"))
      .groupBy($"component_id")
      .agg(count(lit(1)).as("n_members"),
        max(struct($"n_chars".cast("long").as("nc"), (-$"doc_id").as("nd")))
          .as("m"))
      .select($"component_id", $"n_members",
        (-$"m.nd").as("rep_doc_id"), $"m.nc".as("rep_chars"))
      .orderBy("component_id")
  }

  private def dedupComponentsOf(s: SparkSession, dir: String): DataFrame =
    Dedup.connectedComponents(Dedup.dedupMinhashLsh(s, dir))

  // ---- corpus-trigram familiarity (model-based quality scoring) ----

  /** Character-trigram familiarity: train a frequency model ON the
    * corpus, then score each document by the mean corpus frequency of
    * its trigrams — the distributed shape of LM-perplexity filtering
    * (train/load model → broadcast → score), with an exactly-checkable
    * integer statistic in place of float log-probs. Low familiarity =
    * improbable character sequences (mojibake, binary spill, wrong
    * language); real deployments swap the model pass for KenLM scores,
    * the plan shape is identical.
    *
    * Scale shape: the model is a trigram→count table — Zipf-bounded, and
    * at corpus scale capped to the top-V trigrams before broadcast (the
    * tail contributes ~0 to any score). Scoring is then a broadcast
    * join: the corpus never shuffles on trigram, and the per-doc
    * reduction is one doc_id-keyed aggregation with map-side combine.
    */
  /** (doc_id, code, occ) rows: per-document occurrence counts of every
    * character trigram of the normalized (case-folded,
    * whitespace-collapsed) text, with the trigram packed into a long
    * (three UTF-16 units, 16 bits each) inside one compiled pass — the
    * per-doc pre-aggregation happens in the kernel, so what leaves the
    * scan is a few hundred (long, long) pairs per document instead of
    * one string row per character position. The packing is a bijection
    * onto BMP-text trigram strings, so counts (and therefore every
    * downstream integer statistic) are identical to the exploded-string
    * form the DuckDB oracle computes.
    */
  def trigramsOf(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    docs
      .select($"doc_id",
        lower(regexp_replace(trim($"text"), "\\s+", " ")).as("norm"))
      .filter(length($"norm") >= 3)
      .as[(Long, String)]
      .mapPartitions { it =>
        it.flatMap { case (id, txt) =>
          val m = new java.util.HashMap[java.lang.Long, Array[Long]]()
          var i = 0
          val n = txt.length - 2
          while (i < n) {
            val code = (txt.charAt(i).toLong << 32) |
              (txt.charAt(i + 1).toLong << 16) | txt.charAt(i + 2).toLong
            val slot = m.get(code)
            if (slot == null) m.put(code, Array(1L)) else slot(0) += 1L
            i += 1
          }
          val out = new Array[(Long, Long, Long)](m.size)
          val entries = m.entrySet().iterator()
          var j = 0
          while (entries.hasNext) {
            val e = entries.next()
            out(j) = (id, e.getKey, e.getValue()(0))
            j += 1
          }
          out.iterator
        }
      }
      .toDF("doc_id", "code", "occ")
  }

  /** The trigram frequency model: one total count per distinct packed
    * trigram code.
    */
  def trainTrigramModel(docs: DataFrame): DataFrame =
    trigramsOf(docs).groupBy(col("code"))
      .agg(sum(col("occ")).as("freq"))

  /** Score documents against a (possibly frozen, pre-trained) model.
    * Trigrams the model has never seen contribute 0 to the sum but DO
    * count in the denominator — unseen text lowers familiarity, which
    * is the filter's point. Left join + broadcast: the scored corpus
    * never shuffles on trigram.
    */
  def scoreFamiliarity(docs: DataFrame, model: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    trigramsOf(docs).join(broadcast(model), Seq("code"), "left")
      .groupBy($"doc_id")
      .agg(sum($"occ").as("n_tris"),
        sum($"occ" * coalesce($"freq", lit(0L))).as("fam_sum"))
      .select($"doc_id", $"n_tris", $"fam_sum",
        ($"fam_sum".cast("double") / $"n_tris".cast("double")).as("familiarity"))
      .orderBy("doc_id")
  }

  def taFamiliarity(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    scoreFamiliarity(docs, trainTrigramModel(docs))
  }

  // ---- DSIR-shaped importance scoring (domain-targeted selection) ----

  /** Importance scoring for domain-targeted data selection — the DSIR
    * shape (Xie et al. 2023, "Data Selection for Language Models via
    * Importance Resampling"): score every raw document by how much its
    * hashed-feature distribution looks like a TARGET domain versus the
    * raw corpus. Features are the packed character trigrams of
    * [[trigramsOf]]; instead of DSIR's float log-ratio
    * Σ log(p_t(f)/p_r(f)) the score is the first-order linear
    * discriminant in EXACT integers:
    *
    *   score(doc) = Σ_f occ(f, doc) · (cnt_t(f)·N_r − cnt_r(f)·N_t)
    *
    * (cnt/N = trigram counts and totals in the target/raw models) —
    * positive exactly when the doc's trigrams are on average relatively
    * more frequent in the target domain, order-free and hash-exact
    * cross-engine where a log-sum is not. Products stay in Long through
    * bench scales; a 100 TB deployment divides per-feature first (two
    * IEEE divs) and accepts float scores.
    *
    * Scale shape: identical to [[taFamiliarity]] — two Zipf-bounded
    * trigram models joined and broadcast, two bounded 1-row totals, one
    * broadcast-join scoring pass with map-side combine; the corpus
    * never shuffles on trigram.
    */
  def taImportance(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = t(s, dir, "documents")
    // fused model pass: when the target is a predicate over the scored
    // corpus itself, both models come out of ONE trigram aggregation
    // (freq_t = the predicate-conditional sum) — one corpus scan
    // instead of two. importanceOf stays the general form for disjoint
    // target samples.
    val isTarget = $"lang" === "en"
    val tagged = trigramsOf(docs.select($"doc_id", $"text"))
      .join(docs.select($"doc_id", isTarget.as("is_t")), "doc_id")
    val model = tagged.groupBy($"code")
      .agg(sum($"occ").as("freq_r"),
        sum(when($"is_t", $"occ").otherwise(0L)).as("freq_t"))
    scoreImportance(trigramsOf(docs.select($"doc_id", $"text")), model)
  }

  /** [[taImportance]] scoring `docs` against an arbitrary target-domain
    * sample (need not be a subset of `docs`).
    */
  def importanceOf(docs: DataFrame, target: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val mr = trainTrigramModel(docs).withColumnRenamed("freq", "freq_r")
    val mt = trainTrigramModel(target).withColumnRenamed("freq", "freq_t")
    val model = mr.join(mt, Seq("code"), "full")
      .select($"code",
        coalesce($"freq_r", lit(0L)).as("freq_r"),
        coalesce($"freq_t", lit(0L)).as("freq_t"))
    scoreImportance(trigramsOf(docs), model)
  }

  /** The shared scoring half: per-doc discriminant sums against a
    * (code, freq_r, freq_t) model (broadcast; two bounded 1-row
    * totals).
    */
  private def scoreImportance(tris: DataFrame, model: DataFrame): DataFrame = {
    val s = tris.sparkSession
    import s.implicits._
    val frozen = model.gatedCheckpoint()
    val totals = frozen
      .agg(coalesce(sum($"freq_r"), lit(0L)),
        coalesce(sum($"freq_t"), lit(0L))).head()
    scoreImportanceWith(tris, frozen, totals.getLong(0), totals.getLong(1))
  }

  private def scoreImportanceWith(
      tris: DataFrame, model: DataFrame, nR: Long, nT: Long): DataFrame = {
    val s = tris.sparkSession
    import s.implicits._
    tris.join(broadcast(model), Seq("code"), "left")
      .groupBy($"doc_id")
      .agg(sum($"occ").as("n_tris"),
        sum($"occ" * (coalesce($"freq_t", lit(0L)) * nR -
          coalesce($"freq_r", lit(0L)) * nT)).as("raw_score"))
      .select($"doc_id", $"n_tris", $"raw_score",
        ($"raw_score".cast("double") / $"n_tris".cast("double"))
          .as("mean_score"))
      .orderBy("doc_id")
  }

  /** Importance-weight concentration report, per source: effective
    * sample size and max-weight share of the DSIR discriminant weights
    * — THE health metric for importance sampling/reweighting (Kong
    * 1992: ESS = (Σw)²/Σw²): when ESS/n collapses, the "resampled"
    * corpus is effectively a handful of documents and the mixture
    * tuner must clip or temper before trusting [[sampleDsirTopK]]-style
    * selection. Weights are the non-negative part of the integer raw
    * scores (the discriminant is signed; sampling mass can't be).
    *
    * Determinism: Σw and Σw² fold in DECIMAL(38,0) — exact in any
    * accumulation order, mirrored by DuckDB's HUGEINT — and only the
    * final ratio steps are IEEE doubles (a product and a division,
    * identical instruction-for-instruction in both engines).
    *
    * Overflow contract (ADVICE r9 #1): a per-row long square always
    * fits DECIMAL(38,0) (max long² ≈ 8.5e37 < 1e38), so the only cap
    * that can bind is the Σw² accumulator — exact while
    * n·wmax² < 10^38, i.e. |raw_score| ≤ ~10^17/√n per source (the
    * trigram discriminant is ≤ ~10^6·doc_len, orders of magnitude
    * inside the bound at any plausible corpus). If the bound is ever
    * exceeded the query FAILS LOUDLY rather than diverging: under
    * ANSI mode (Spark 4 default) the decimal sum itself throws, and
    * under non-ANSI mode the raise_error guard below converts the
    * silent overflow-NULL into an error — DuckDB's HUGEINT would stay
    * exact to 1.7e38, so a silent NULL would otherwise read as a
    * value mismatch instead of the overflow it is.
    *
    * 100 TB shape: rides the one-scan fused importance model
    * ([[taImportance]]); the report itself is one map-side-combinable
    * per-source aggregation over (source, w) rows.
    */
  def sampleEss(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ws = taImportance(s, dir)
      .join(t(s, dir, "documents").select($"doc_id", $"source"), "doc_id")
      .select($"source", greatest($"raw_score", lit(0L)).as("w"))
    ws.groupBy($"source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when($"w" > 0L, 1L).otherwise(0L)).as("n_pos"),
        sum($"w".cast("decimal(38,0)")).as("sw"),
        sum(($"w".cast("decimal(19,0)") * $"w".cast("decimal(19,0)"))
          .cast("decimal(38,0)")).as("sww"),
        max($"w").as("wmax"))
      .select($"source", $"n_docs", $"n_pos",
        // w is never NULL (greatest(raw,0) over non-null longs), so a
        // NULL accumulator can only mean non-ANSI decimal overflow —
        // fail loudly instead of diverging from the HUGEINT oracle
        when($"sww".isNull || $"sw".isNull,
          raise_error(lit("sample_ess: Σw/Σw² overflowed decimal(38,0)" +
            " — raw_score magnitude exceeded the documented bound"))
            .cast("double"))
          .when($"sww" > 0,
            $"sw".cast("double") * $"sw".cast("double") / $"sww".cast("double"))
          .as("ess"),
        when($"sw".isNull,
          raise_error(lit("sample_ess: Σw overflowed decimal(38,0)"))
            .cast("double"))
          .when($"sw" > 0, $"wmax".cast("double") / $"sw".cast("double"))
          .as("max_share"))
      .orderBy("source")
  }

  /** Persist a trained importance model — (code, freq_r, freq_t) plus a
    * one-row `_totals/` sidecar (written AFTER the main table; Spark
    * scans skip underscore dirs) — the train-once half: a deployment
    * scores every incoming batch under the frozen discriminant without
    * rescanning either corpus ([[writeCharLm]]'s contract).
    */
  def writeImportanceModel(docs: DataFrame, target: DataFrame, path: String): Unit = {
    val s = docs.sparkSession
    import s.implicits._
    val mr = trainTrigramModel(docs).withColumnRenamed("freq", "freq_r")
    val mt = trainTrigramModel(target).withColumnRenamed("freq", "freq_t")
    val model = mr.join(mt, Seq("code"), "full")
      .select($"code",
        coalesce($"freq_r", lit(0L)).as("freq_r"),
        coalesce($"freq_t", lit(0L)).as("freq_t"))
      .gatedCheckpoint()
    model.write.mode("overwrite").parquet(path)
    model.agg(
        coalesce(sum($"freq_r"), lit(0L)).as("n_r"),
        coalesce(sum($"freq_t"), lit(0L)).as("n_t"))
      .coalesce(1).write.mode("overwrite").parquet(s"$path/_totals")
  }

  /** Score an arbitrary (doc_id, text, …) frame under a FROZEN
    * importance model — cost ∝ the scored frame; bit-identical to
    * inline training on the same corpora (spec-pinned), because the
    * discriminant is pure integer arithmetic.
    */
  def scoreImportanceFrozen(batch: DataFrame, modelPath: String): DataFrame = {
    val s = batch.sparkSession
    import s.implicits._
    val model = s.read.parquet(modelPath)
    val tot = s.read.parquet(s"$modelPath/_totals").head()
    scoreImportanceWith(trigramsOf(batch), model, tot.getLong(0), tot.getLong(1))
  }

  // ---- char-LM log-prob quality score (perplexity-style filter) ----

  /** Character-trigram language model with add-one (Laplace) smoothing
    * — the float log-prob form of the standard LM-perplexity quality
    * filter that [[taFamiliarity]]'s integer statistic stands in for:
    * P(c3 | c1 c2) = (count(c1c2c3) + 1) / (count(c1c2·) + V), V = the
    * distinct third-character vocabulary. A document's score is the
    * occurrence-weighted mean log P over its trigrams; perplexity =
    * exp(−score). Mojibake, binary spill, and wrong-language text land
    * in low-probability transitions and sink.
    *
    * Same train/freeze/score plan shape as familiarity: the model is
    * two Zipf-bounded tables (trigram counts + context counts) and a
    * scalar, broadcast at scoring time — the scored corpus never
    * shuffles on trigram; the per-doc reduction is one doc_id-keyed
    * aggregation with map-side combine. Float log arithmetic is not
    * bit-replayable cross-engine, so this operator is rows-only at the
    * driver gate and property-pinned in CurationSpec (ranking agreement
    * with familiarity on clean-vs-mojibake fixtures, frozen-model
    * streaming parity).
    */
  final case class CharLm(tri: DataFrame, ctx: DataFrame, vocab: Long)

  /** Train on a corpus: trigram counts (reusing [[trigramsOf]]'s packed
    * codes), context (first-two-chars) counts, and the third-character
    * vocabulary size.
    */
  def trainCharLm(docs: DataFrame): CharLm = {
    val s = docs.sparkSession
    import s.implicits._
    val tri = trainTrigramModel(docs).gatedCheckpoint()
    val ctx = tri.groupBy(shiftright($"code", 16).as("ctx"))
      .agg(sum($"freq").as("cfreq"))
    val vocab = tri
      .select(countDistinct($"code".bitwiseAND(lit(0xffffL))))
      .head.getLong(0)
    CharLm(tri, ctx, vocab)
  }

  /** Score documents under a (possibly frozen) char LM. Unseen trigrams
    * take the smoothed floor 1 / (cfreq + V) — or 1 / V for an unseen
    * context — so probabilities never hit zero and log stays finite.
    */
  def scoreCharLm(docs: DataFrame, lm: CharLm): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    trigramsOf(docs)
      .withColumn("ctx", shiftright($"code", 16))
      .join(broadcast(lm.tri), Seq("code"), "left")
      .join(broadcast(lm.ctx), Seq("ctx"), "left")
      .select($"doc_id", $"occ",
        log((coalesce($"freq", lit(0L)).cast("double") + 1.0) /
          (coalesce($"cfreq", lit(0L)).cast("double") + lm.vocab.toDouble))
          .as("logp"))
      .groupBy($"doc_id")
      .agg(sum($"occ").as("n_tris"),
        (sum($"occ".cast("double") * $"logp") / sum($"occ").cast("double"))
          .as("avg_logprob"))
      .select($"doc_id", $"n_tris", $"avg_logprob",
        exp(-$"avg_logprob").as("perplexity"))
      .orderBy("doc_id")
  }

  /** Persist a trained LM (tri + ctx tables, vocab scalar) — the freeze
    * half; streaming scorers read it back and never retrain per batch.
    */
  def writeCharLm(lm: CharLm, path: String): Unit = {
    val s = lm.tri.sparkSession
    import s.implicits._
    lm.tri.write.mode("overwrite").parquet(s"$path/tri")
    lm.ctx.write.mode("overwrite").parquet(s"$path/ctx")
    Seq(lm.vocab).toDF("vocab").coalesce(1)
      .write.mode("overwrite").parquet(s"$path/vocab")
  }

  def readCharLm(s: SparkSession, path: String): CharLm =
    CharLm(
      s.read.parquet(s"$path/tri"),
      s.read.parquet(s"$path/ctx"),
      s.read.parquet(s"$path/vocab").head.getLong(0))

  /** Fixed-point micro-unit scale for the exact char-LM score. */
  val CharLmUnit = 1000000L

  /** Integer-EXACT char-LM scoring — the oracle-gated twin of
    * [[scoreCharLm]] (VERDICT r6 #4, the RankUnit pattern): each
    * trigram's smoothed probability (freq+1)/(cfreq+V) is floored into
    * integer micro-units — (10⁶·(freq+1)) DIV (cfreq+V) — and the doc
    * score is the plain integer sum Σ occ·p_micro. Every operation is
    * an integer multiply/floor-divide/sum, so the result is
    * bit-identical under ANY partitioning AND engine (DuckDB's `//`
    * replays the floor), where the float log-prob fold of
    * [[scoreCharLm]] is merge-order- and libm-dependent. Semantics:
    * the arithmetic-mean smoothed probability in micro-units — the
    * same familiarity ordering signal, exactly representable.
    * Overflow bound: p_micro ≤ 10⁶ (freq+1 ≤ cfreq+V always, since
    * freq ≤ cfreq and V ≥ 1), so a doc's sum ≤ 10⁶·n_tris — Long-safe
    * past 10¹² trigrams/doc.
    */
  def scoreCharLmMicro(docs: DataFrame, lm: CharLm): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    trigramsOf(docs)
      .withColumn("ctx", shiftright($"code", 16))
      .join(broadcast(lm.tri), Seq("code"), "left")
      .join(broadcast(lm.ctx), Seq("ctx"), "left")
      .select($"doc_id", $"occ",
        expr(s"($CharLmUnit * (coalesce(freq, 0L) + 1L)) DIV " +
          s"(coalesce(cfreq, 0L) + ${lm.vocab}L)").as("p_micro"))
      .groupBy($"doc_id")
      .agg(sum($"occ").as("n_tris"),
        sum($"occ" * $"p_micro").as("prob_micro_sum"))
      .select($"doc_id", $"n_tris", $"prob_micro_sum",
        expr("prob_micro_sum DIV n_tris").as("avg_prob_micro"))
      .orderBy("doc_id")
  }

  /** Registered self-scoring form (train on the corpus, score the
    * corpus) — the integer-exact micro score, fully oracle-gated; the
    * float log-prob/perplexity form stays available as
    * [[scoreCharLm]] for API use (spec-gated, engine-local floats).
    */
  private val lmCache =
    new java.util.concurrent.ConcurrentHashMap[String, CharLm]()

  /** Frozen per-corpus-fingerprint char LM — train once per (dir,
    * corpus content), reuse across registered calls in the session
    * (ta_charlm, ta_charlm_buckets, repeat bench sweeps). The model is
    * all-integer (trigram counts on a lineage-truncated frame), so a
    * cache hit is bit-identical to a retrain; the fingerprint is the
    * rewrite-sensitive [[ArtifactStore.fingerprint]] of the documents
    * table, the quantizer/BPE-cache invalidation discipline.
    */
  def charLmFor(s: SparkSession, dir: String): CharLm =
    lmCache.computeIfAbsent(
      dir + "|" + ArtifactStore.fingerprint(s, dir, "documents"),
      _ => trainCharLm(t(s, dir, "documents")))

  def taCharLm(s: SparkSession, dir: String): DataFrame =
    scoreCharLmMicro(t(s, dir, "documents"), charLmFor(s, dir))

  /** Decile histogram of the exact char-LM micro score — the
    * "perplexity bucketing" step of CCNet-style quality filtering
    * (Wenzek et al. 2020 split Common Crawl into head/middle/tail by
    * LM-score quantiles), over [[scoreCharLmMicro]]'s integer scores
    * and [[Scale.rankCutpointsN]]'s distributed prefix-sum deciles —
    * the same composition as dq_drift_chi2, so the cutpoint kernel
    * gets a second INDEPENDENT oracle check via DuckDB's native
    * percentile_disc. One scoring pass + one bounded cutpoint pass +
    * one bucket-count aggregation; nothing corpus-sized leaves the
    * executors.
    */
  def taCharLmBuckets(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val scored = scoreCharLmMicro(t(s, dir, "documents"), charLmFor(s, dir))
      .select(($"prob_micro_sum".cast("double") / $"n_tris".cast("double"))
        .as("v"))
      .gatedCheckpoint() // score once, scan twice
    val cuts = graft.ops.Scale.rankCutpointsN(scored, $"v", 10)
    val bucket =
      if (cuts.isEmpty) lit(0)
      else cuts.map(c => when($"v" > lit(c), 1).otherwise(0)).reduce(_ + _)
    scored.select(bucket.as("bucket"))
      .groupBy($"bucket").agg(count(lit(1)).as("n_docs"))
      .select($"bucket".cast("long").as("bucket"), $"n_docs")
      .orderBy("bucket")
  }

  val DsirPerSource = 10

  /** The DSIR SELECTION half: per-source top-n documents by the exact
    * integer importance discriminant (ties doc_id asc) — what
    * [[taImportance]]'s scores exist FOR (Xie et al. 2023 resample the
    * raw corpus toward the target domain; the deterministic top-n is
    * the auditable variant). The heavy lifting (model build, scoring)
    * is the importance pass itself; the selection (r17 rewrite) is ONE
    * bounded mergeable [[graft.functions.TopKByScoreAggregator]] pass
    * over (raw_score desc, doc_id asc) pairs — the r10–r16 form was a
    * source-partitioned rank window, which cannot be split by AQE, so
    * a hot source's full scored mass (O(corpus docs), thin id-rows but
    * still one task's sort) funneled through a single reducer at
    * 100 TB. Min-k buffers never exceed n, so the shuffle carries ≤ n
    * pairs per (source, partition). Output unchanged — same oracle,
    * same ranks.
    */
  def sampleDsirTopK(s: SparkSession, dir: String, n: Int = DsirPerSource): DataFrame = {
    import s.implicits._
    taImportance(s, dir)
      .select($"doc_id", $"raw_score")
      .join(t(s, dir, "documents").select($"doc_id", $"source"), Seq("doc_id"))
      .select($"source", $"raw_score", $"doc_id")
      .as[(String, Long, Long)]
      .groupByKey(_._1)
      .mapValues(t => (t._2, t._3)) // (raw_score, doc_id) under (desc, asc)
      .agg(new graft.functions.TopKByScoreAggregator(n)
        .toColumn.name("top"))
      .toDF("source", "top")
      .select($"source", posexplode($"top"))
      .select($"source", ($"pos" + 1).cast("long").as("rk"),
        $"col._2".as("doc_id"), $"col._1".as("raw_score"))
      .orderBy("source", "rk")
  }

  // ---- token-budget mixture selection ----

  val MixBudget = 600L

  /** Per-source token-budget fill: within every source, take documents
    * longest-first (ties to the lowest doc_id) until the source's token
    * budget is spent — the "build a training mix under a per-domain
    * token budget" selection step. Inclusive greedy: a document is kept
    * while the running total INCLUDING it stays within budget.
    *
    * Scale shape: the per-source running sum is a prefix sum over the
    * (source, n_chars desc, doc_id) total order, computed as the
    * two-pass distributed prefix sum ([[Packing.packSequences]]'s
    * pattern) instead of a `Window.partitionBy(source)` running sum —
    * the window form serializes each source through ONE reducer, so a
    * mega-source (the realistic mix case: few sources, one huge) stalls
    * the stage. Here the corpus range-partitions on the full sort key,
    * so a mega-source PARALLELIZES across partitions; pass 1 ships one
    * (partition, source) partial per boundary to the driver (≤
    * partitions + sources rows), pass 2 emits each partition's rows
    * knowing only its per-source base offsets.
    */
  def mixBudget(s: SparkSession, dir: String, budget: Long = MixBudget): DataFrame =
    mixBudgetOf(t(s, dir, "documents"), budget)

  /** [[mixBudget]] over an arbitrary (doc_id, source, n_chars, text)
    * frame.
    */
  def mixBudgetOf(
      docs: DataFrame, budget: Long = MixBudget,
      partitions: Int = 32,
      initialRuns: Map[String, Long] = Map.empty): DataFrame =
    mixRunsOf(docs, budget, partitions, initialRuns)
      .orderBy("source", "cum_tokens")

  /** The greedy-fill kernel shared by [[mixBudgetOf]] and
    * [[mixBudgetCurveOf]]: per-source inclusive prefix sums over the
    * (n_chars desc, doc_id) order, emitting only rows whose running
    * total stays within `cap` — the single-budget fill caps at its
    * budget; the budget SWEEP caps at its LARGEST budget, so nothing
    * unkeepable under any budget is ever emitted.
    */
  private def mixRunsOf(
      docs: DataFrame, cap: Long,
      partitions: Int = 32,
      initialRuns: Map[String, Long] = Map.empty): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val budget = cap
    // range-partition + sort on the FULL greedy order (source, n_chars
    // desc, doc_id): partition p holds a contiguous slice, sources may
    // span partitions. localCheckpoint freezes the sampled range
    // boundaries so both passes see identical partitions.
    val sized = docs
      .select($"doc_id", $"source", $"n_chars".cast("long").as("n_chars"),
        TextAnalysis.tokenCount($"text").as("n_tokens"))
      .repartitionByRange(partitions, $"source".asc, $"n_chars".desc, $"doc_id".asc)
      .sortWithinPartitions($"source".asc, $"n_chars".desc, $"doc_id".asc)
      .as[(Long, String, Long, Long)]
      .gatedCheckpoint()
    // pass 1: per-(partition, source) token totals — bounded by
    // #partitions + #sources rows, never corpus-sized
    val partials = sized.rdd.mapPartitionsWithIndex { (pid, it) =>
      val m = scala.collection.mutable.LinkedHashMap.empty[String, Long]
      it.foreach { case (_, src, _, n) =>
        m.update(src, m.getOrElse(src, 0L) + n)
      }
      m.iterator.map { case (src, tot) => (pid, src, tot) }
    }.collect()
    // base(pid, src) = src's tokens in partitions before pid, seeded
    // with the caller's prior per-source run (the incremental streaming
    // form continues a source's greedy fill across batches this way)
    val base: Map[(Int, String), Long] =
      partials.groupBy(_._2).flatMap { case (src, rows) =>
        var acc = initialRuns.getOrElse(src, 0L)
        rows.sortBy(_._1).map { case (pid, _, tot) =>
          val entry = ((pid, src), acc)
          acc += tot
          entry
        }
      }
    val baseBc = s.sparkContext.broadcast(base)
    // pass 2: sequential scan per partition; rows arrive in greedy order
    val rows = sized.rdd.mapPartitionsWithIndex { (pid, it) =>
      val bases = baseBc.value
      var cur: String = null
      var run = 0L
      it.flatMap { case (id, src, _, n) =>
        if (src != cur) { cur = src; run = bases.getOrElse((pid, src), 0L) }
        run += n
        if (run <= budget) Iterator.single((src, id, n, run))
        else Iterator.empty
      }
    }
    s.createDataFrame(rows).toDF("source", "doc_id", "n_tokens", "cum_tokens")
  }

  /** Budgets for [[mixBudgetCurve]] — dyadic around [[MixBudget]]. */
  val MixCurveBudgets: Seq[Long] = Seq(150L, 300L, 600L, 1200L, 2400L)

  /** mix_budget_curve: the per-source token-budget TUNING curve — for
    * each candidate budget, how many documents / tokens the greedy fill
    * keeps and how many sources are actively contributing, WITHOUT
    * re-running the fill per budget. The mixing analog of
    * `pack_budget_curve`/`decon_tier_curve`: the inclusive-greedy rule
    * is a PREFIX rule (doc kept at budget B iff its running total ≤ B),
    * so one prefix-sum pass capped at the largest candidate answers
    * every budget via conditional aggregates + `stack`.
    *
    * 100 TB shape: the capped [[mixRunsOf]] kernel (two-pass
    * distributed prefix sum — a mega-source parallelizes across range
    * partitions, only per-(partition, source) totals reach the driver)
    * emits at most sources × maxBudget tokens' worth of rows; then TWO
    * map-side-combinable aggregations (doc/token mass conditionals, and
    * a per-source min-run rollup for the active-source counts — a
    * source is active at B iff its FIRST kept run ≤ B, which avoids the
    * Expand-style multi-countDistinct that would replicate the rows
    * |budgets|+1 times) joined as a broadcast 1-row cross. Cost
    * independent of the budget count; plan-gated.
    */
  def mixBudgetCurve(s: SparkSession, dir: String): DataFrame =
    mixBudgetCurveOf(t(s, dir, "documents"))

  def mixBudgetCurveOf(
      docs: DataFrame,
      budgets: Seq[Long] = MixCurveBudgets): DataFrame = {
    val bs = budgets.distinct.sorted
    mixCurveOfRuns(mixRunsOf(docs, cap = bs.max), bs)
  }

  /** The curve's aggregate tail over ANY accumulated greedy-runs table
    * (source, doc_id, n_tokens, cum_tokens) whose fill was capped at ≥
    * `budgets.max` — shared by the registered [[mixBudgetCurve]] query
    * and its incremental streaming twin
    * ([[graft.examples.StreamingCuration.mixCurveFromState]]), so the
    * two derivations cannot drift. The prefix-rule invariant transfers:
    * a doc is kept at budget B iff its running total ≤ B, regardless of
    * whether the runs accumulated in one pass or across stream batches
    * (cum_tokens continues across batches in the state form).
    */
  def mixCurveOfRuns(
      runs: DataFrame,
      budgets: Seq[Long] = MixCurveBudgets): DataFrame = {
    val s = runs.sparkSession
    import s.implicits._
    val bs = budgets.distinct.sorted
    val massAggs = bs.flatMap { b =>
      Seq(
        sum(when($"cum_tokens" <= b, lit(1L)).otherwise(lit(0L)))
          .as(s"d$b"),
        sum(when($"cum_tokens" <= b, $"n_tokens").otherwise(lit(0L)))
          .as(s"t$b"))
    }
    val mass = runs.agg(massAggs.head, massAggs.tail: _*)
    // cum_tokens is increasing within a source, so min(cum) is the
    // source's first kept run — active at B ⇔ min(cum) ≤ B
    val srcAggs = bs.map { b =>
      sum(when($"m" <= b, lit(1L)).otherwise(lit(0L))).as(s"s$b")
    }
    val active = runs.groupBy($"source")
      .agg(min($"cum_tokens").as("m"))
      .agg(srcAggs.head, srcAggs.tail: _*)
    mass.crossJoin(broadcast(active))
      .selectExpr(s"stack(${bs.size}, " +
        bs.map(b => s"${b}L, coalesce(d$b, 0L), coalesce(t$b, 0L), " +
          s"coalesce(s$b, 0L)").mkString(", ") +
        ") as (budget, n_docs, n_tokens, n_sources)")
      .orderBy("budget")
  }

  /** Epoch cap and budget for the registered epoch-aware mix: at the
    * test corpus' per-source totals (~1.1–1.6 k tokens) a 4 k budget
    * makes some sources exhaust the full epoch cap before the budget
    * (the "small high-quality source repeated 3×" case) while others
    * cut mid-epoch — both stop conditions exercised in one run.
    */
  val MixEpochs = 3
  val MixEpochBudget = 4000L

  /** Epoch-aware token-budget mix — the multi-epoch generalization of
    * [[mixBudget]]: a source whose corpus is smaller than its budget
    * REPEATS (up to `maxEpochs` passes — the "epoching" knob of
    * LLM data recipes, where scarce high-quality sources are seen
    * several times) and the greedy fill walks (epoch asc, n_chars desc,
    * doc_id asc) per source, so every repeat replays the same
    * longest-first order and the budget cuts mid-epoch exactly where
    * the running total crosses.
    *
    * Scale shape: identical to [[mixBudgetOf]] — the epoch column just
    * joins the range-partition sort key, so the replicated corpus
    * (×maxEpochs) still parallelizes across partitions and only
    * per-(partition, source) totals reach the driver. The replication
    * itself is a codegen'd explode of a maxEpochs-long sequence, never
    * a driver loop.
    */
  def mixEpochs(
      s: SparkSession, dir: String,
      budget: Long = MixEpochBudget, maxEpochs: Int = MixEpochs): DataFrame =
    mixEpochsOf(t(s, dir, "documents"), budget, maxEpochs)

  /** [[mixEpochs]] over an arbitrary (doc_id, source, n_chars, text)
    * frame.
    */
  def mixEpochsOf(
      docs: DataFrame, budget: Long = MixEpochBudget,
      maxEpochs: Int = MixEpochs, partitions: Int = 32): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val sized = docs
      .select($"doc_id", $"source", $"n_chars".cast("long").as("n_chars"),
        TextAnalysis.tokenCount($"text").as("n_tokens"))
      .withColumn("epoch", explode(sequence(lit(1L), lit(maxEpochs.toLong))))
      .repartitionByRange(partitions,
        $"source".asc, $"epoch".asc, $"n_chars".desc, $"doc_id".asc)
      .sortWithinPartitions(
        $"source".asc, $"epoch".asc, $"n_chars".desc, $"doc_id".asc)
      .select($"doc_id", $"source", $"epoch", $"n_chars", $"n_tokens")
      .as[(Long, String, Long, Long, Long)]
      .gatedCheckpoint() // freeze sampled range boundaries
    val partials = sized.rdd.mapPartitionsWithIndex { (pid, it) =>
      val m = scala.collection.mutable.LinkedHashMap.empty[String, Long]
      it.foreach { case (_, src, _, _, n) =>
        m.update(src, m.getOrElse(src, 0L) + n)
      }
      m.iterator.map { case (src, tot) => (pid, src, tot) }
    }.collect() // bounded: <= partitions + sources rows
    val base: Map[(Int, String), Long] =
      partials.groupBy(_._2).flatMap { case (src, rows) =>
        var acc = 0L
        rows.sortBy(_._1).map { case (pid, _, tot) =>
          val e = ((pid, src), acc); acc += tot; e
        }
      }
    val baseBc = s.sparkContext.broadcast(base)
    val rows = sized.rdd.mapPartitionsWithIndex { (pid, it) =>
      val bases = baseBc.value
      var cur: String = null
      var run = 0L
      it.flatMap { case (id, src, epoch, _, n) =>
        if (src != cur) { cur = src; run = bases.getOrElse((pid, src), 0L) }
        run += n
        if (run <= budget) Iterator.single((src, epoch, id, n, run))
        else Iterator.empty
      }
    }
    s.createDataFrame(rows)
      .toDF("source", "epoch", "doc_id", "n_tokens", "cum_tokens")
      .orderBy("source", "cum_tokens")
  }

  /** The mixture report a training run records next to its data
    * snapshot: per source, how much survived the budget cut and what
    * fraction of the source's tokens made it in. Integer sums + one
    * IEEE division per row, so the oracle hash-matches exactly.
    */
  /** Temperature exponents swept by [[mixTemperatureCurve]] — dyadic
    * α values only, so n^α composes from `sqrt` (correctly-rounded
    * IEEE, hence engine-portable), never `pow` (libm, whose fractional
    * powers are NOT bit-identical across implementations).
    */
  val TempCurveAlphas: Seq[Double] = Seq(0.25, 0.5, 0.75, 1.0)

  /** Temperature-mixing curve: each source's sampling share under
    * n^α flattening for a sweep of temperatures α — the table mixture
    * designers read before fixing the corpus temperature (UniMax /
    * multilingual-LM practice: α→0 flattens toward uniform, α=1 is
    * natural proportions; the chosen α is wherever head sources stop
    * drowning the tail). Weights use only sqrt compositions (see
    * [[TempCurveAlphas]]) and per-α totals fold in sorted source
    * order (the neymanOf ordered-fold idiom), so every double is
    * bit-identical cross-engine.
    *
    * 100 TB shape: one scan → |sources| count rows → a 4-way α
    * fan-out over the bounded table → per-α ordered fold (bounded
    * collect_list) + broadcast join. Nothing scales with volume but
    * the first aggregation.
    */
  def mixTemperatureCurve(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val nd = $"n".cast("double")
    val ex = t(s, dir, "documents")
      .groupBy($"source").agg(count(lit(1)).as("n"))
      .select($"source", $"n",
        explode(array(TempCurveAlphas.map(lit(_)): _*)).as("alpha"))
      .withColumn("w",
        when($"alpha" === 0.25, sqrt(sqrt(nd)))
          .when($"alpha" === 0.5, sqrt(nd))
          .when($"alpha" === 0.75, sqrt(nd) * sqrt(sqrt(nd)))
          .otherwise(nd))
      .gatedCheckpoint() // bounded: |sources| × |alphas| rows
    val tots = ex.groupBy($"alpha").agg(
      aggregate(sort_array(collect_list(struct($"source", $"w"))), lit(0.0),
        (acc, x) => acc + x.getField("w")).as("tot"))
    ex.join(broadcast(tots), "alpha")
      .select($"alpha", $"source", $"n".as("n_docs"), $"w",
        ($"w" / $"tot").as("share"))
      .orderBy("alpha", "source")
  }

  def mixReport(s: SparkSession, dir: String, budget: Long = MixBudget): DataFrame = {
    import s.implicits._
    val sized = t(s, dir, "documents")
      .select($"source", TextAnalysis.tokenCount($"text").as("n_tokens"))
    val totals = sized.groupBy($"source")
      .agg(count(lit(1)).as("n_docs"), sum($"n_tokens").as("total_tokens"))
    val kept = mixBudget(s, dir, budget).groupBy($"source")
      .agg(count(lit(1)).as("n_kept"), sum($"n_tokens").as("kept_tokens"))
    totals.join(kept, Seq("source"), "left")
      .select($"source", $"n_docs", $"total_tokens",
        coalesce($"n_kept", lit(0L)).as("n_kept"),
        coalesce($"kept_tokens", lit(0L)).as("kept_tokens"),
        (coalesce($"kept_tokens", lit(0L)).cast("double") /
          $"total_tokens".cast("double")).as("kept_frac"))
      .orderBy("source")
  }

  // ---- registry ----

  /** Curriculum ordering: each source's documents ranked easy→hard
    * (short→long, the classic LM curriculum; doc_id breaks ties), then
    * interleaved round-robin — global training order is (src_rank,
    * source), so every consecutive |sources|-block mixes all sources at
    * the same difficulty band. The order is carried by the emitted
    * (src_rank, source) key pair, NOT a global row_number — a global
    * position column would force a single-partition window at 100 TB,
    * while the key pair sorts distributively whenever the order is
    * actually consumed.
    *
    * 100 TB shape (r17 rewrite): the r10–r16 form was a rank window
    * partitioned by source — order-PRODUCING (every row keeps its
    * rank), so the min-k aggregator that retired the top-cap windows
    * does not apply; and a window partition cannot be split by AQE,
    * so a hot source's full mass sorted through ONE task. The rank is
    * now [[Scale.perKeyRowNumber]]'s two-pass distributed prefix
    * count: range-partition on the FULL (source, n_tokens, doc_id)
    * order (a mega-source parallelizes across partitions), ship one
    * bounded (partition, source) count per boundary to the driver,
    * emit ranks from per-partition base offsets. Output unchanged —
    * same oracle, same ranks.
    */
  def mixCurriculum(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val sized = t(s, dir, "documents")
      .select($"doc_id", $"source",
        TextAnalysis.tokenCount($"text").as("n_tokens"))
    Scale.perKeyRowNumber(sized, "source", Seq("n_tokens", "doc_id"), "src_rank")
      .select($"src_rank", $"source", $"doc_id", $"n_tokens")
      .orderBy($"src_rank", $"source", $"doc_id")
  }

  /** Cluster-quality telemetry for the coarse quantizer: per cluster
    * the vector count, dominant label, and label purity (top-label
    * share) — the health report an IVF/SemDeDup deployment watches to
    * decide when the quantizer needs retraining (purity collapsing
    * toward 1/|labels| means the partitioning no longer separates the
    * data). Assignment is the same fused argmax-cosine kernel the
    * semantic dedup family uses (md5-derived frozen centroids, so the
    * DuckDB oracle replays assignment bit-exactly); the report is one
    * (cluster, label) aggregation + a rank over the bounded cluster
    * set. Integer counts ⇒ hash-exact; purity is one IEEE division.
    */
  def simClusterPurity(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val asg = assignClusters(s, dir).select($"vec_id", $"cluster")
    val lc = asg
      .join(t(s, dir, "embeddings").select($"vec_id", $"label"), "vec_id")
      .groupBy($"cluster", $"label").agg(count(lit(1)).as("n"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"cluster").orderBy($"n".desc, $"label".asc)
    val wAll = org.apache.spark.sql.expressions.Window.partitionBy($"cluster")
    lc.withColumn("rk", row_number().over(w))
      .withColumn("n_vecs", sum($"n").over(wAll))
      .filter($"rk" === 1)
      .select($"cluster", $"n_vecs", $"label".as("top_label"),
        $"n".as("top_n"),
        ($"n".cast("double") / $"n_vecs".cast("double")).as("purity"))
      .orderBy("cluster")
  }

  /** Learning rate for the multiplicative-weights mixing step. */
  val MwuEta = 0.5

  /** One multiplicative-weights domain-reweighting step — the
    * DoReMi-shaped update (Xie et al. 2023): domains whose signal says
    * "underweighted" gain mixture share, renormalized. DoReMi's signal
    * is per-domain excess LOSS from a proxy model; the registered
    * query derives a deterministic stand-in (each source's mean doc
    * length vs the corpus mean — any per-doc metric plugs in via
    * [[mixMwuStepOf]]) and applies the POLYNOMIAL update
    * w' ∝ share·(1 + η·excess) rather than exp(η·excess): libm exp is
    * not bit-identical across engines, while the polynomial form is
    * plain IEEE arithmetic, so the whole step replays hash-exact.
    *
    * Determinism: integer (count, Σ) moments per source; spelled
    * divisions; the renormalizer folds weights in source order.
    *
    * 100 TB shape: one scan → map-side-combinable per-source moments;
    * the update itself runs on the bounded source table.
    */
  def mixMwuStep(s: SparkSession, dir: String): DataFrame =
    mixMwuStepOf(t(s, dir, "documents"), MwuEta)

  def mixMwuStepOf(docs: DataFrame, eta: Double): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    // ONE documents scan: the per-source moment table is bounded
    // (#sources rows), so it checkpoints and every downstream consumer
    // (totals, base, renormalizer) reads the materialized handful of
    // rows instead of re-scanning the corpus (PlanSpec-pinned).
    val st = docs.groupBy($"source").agg(
      count(lit(1)).as("n_docs"),
      sum($"n_chars").as("sx"))
      .gatedCheckpoint()
    val tot = st.agg(
      coalesce(sum($"n_docs"), lit(0L)).as("nn"),
      coalesce(sum($"sx"), lit(0L)).as("tx"))
    val base = st.crossJoin(broadcast(tot))
      .select($"source", $"n_docs",
        ($"n_docs".cast("double") / $"nn".cast("double")).as("share"),
        ((($"sx".cast("double") / $"n_docs".cast("double")) -
          ($"tx".cast("double") / $"nn".cast("double"))) /
          ($"tx".cast("double") / $"nn".cast("double"))).as("excess"))
      .withColumn("w_raw", $"share" * (lit(1.0) + lit(eta) * $"excess"))
    val tw = base
      .select(sort_array(collect_list(struct($"source", $"w_raw"))).as("l"))
      .select(aggregate($"l", lit(0.0),
        (acc, x) => acc + x.getField("w_raw")).as("tw"))
    base.crossJoin(broadcast(tw))
      .select($"source", $"n_docs", $"share", $"excess",
        ($"w_raw" / $"tw").as("w_next"))
      .orderBy("source")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "sim_cluster_purity" -> simClusterPurity,
    "mix_mwu_step" -> ((s, d) => mixMwuStep(s, d)),
    "mix_curriculum" -> mixCurriculum,
    "ta_boilerplate" -> ((s, d) => taBoilerplate(s, d)),
    "ta_intradoc" -> ((s, d) => taIntradoc(s, d)),
    "ta_exact_substr" -> ((s, d) => taExactSubstr(s, d)),
    "dedup_substr_spans" -> dedupSubstrSpans,
    "dedup_substr_spans128" -> dedupSubstrSpans128,
    "dedup_span_length_hist" -> dedupSpanLengthHist,
    "ta_profile" -> taProfile,
    "ta_ngram_top" -> ((s, d) => taNgramTop(s, d)),
    "ta_familiarity" -> taFamiliarity,
    "ta_importance" -> taImportance,
    "ta_charlm" -> taCharLm,
    "ta_charlm_buckets" -> taCharLmBuckets,
    "sample_dsir_topk" -> ((s, d) => sampleDsirTopK(s, d)),
    "sample_ess" -> sampleEss,
    "mix_budget" -> ((s, d) => mixBudget(s, d)),
    // new in r13: the budget sweep (one capped greedy pass, stack)
    "mix_budget_curve" -> ((s, d) => mixBudgetCurve(s, d)),
    "mix_epochs" -> ((s, d) => mixEpochs(s, d)),
    "mix_report" -> ((s, d) => mixReport(s, d)),
    "mix_temperature_curve" -> mixTemperatureCurve,
    "dedup_semantic" -> ((s, d) => dedupSemantic(s, d)),
    "sample_cluster_balanced" -> sampleClusterBalanced,
    // oracle-gated since r12 via the frozen-centroid replay
    // ([[kmeansOracleSql]] — the pq-codebook pattern): the trained
    // centroids freeze as literals; DuckDB independently recomputes
    // assignment + cosine + representative choice
    "dedup_semantic_kmeans" -> ((s, d) => dedupSemanticKmeans(s, d)),
    "dedup_representatives" -> dedupRepresentatives)

  /** DuckDB oracles. Cosine arithmetic replays the same left-to-right
    * IEEE-double folds as `cosine_sim` (pattern proven bit-exact by the
    * sim_* oracles); centroids regenerate from md5 as documented on
    * [[centroids]].
    */
  private def duckCosL(a: String, b: String) = {
    def dt(x: String, y: String) =
      s"list_sum([$x[i] * $y[i] for i in range(1, 65)])"
    s"(${dt(a, b)} / (sqrt(${dt(a, a)}) * sqrt(${dt(b, b)})))"
  }

  /** Shared per-doc importance-score CTE chain (ends in `isc`) — one
    * source of truth for the ta_importance oracle and the dsir-top-k
    * oracle built on it.
    */
  private val importanceScoreCte = """
      nd AS (
        SELECT doc_id, lang,
          lower(regexp_replace(trim(text), '\s+', ' ', 'g')) AS norm
        FROM documents),
      tris AS (
        SELECT doc_id, lang, substr(norm, i, 3) AS tri
        FROM nd, UNNEST(range(1, len(norm) - 1)) AS u(i)
        WHERE len(norm) >= 3),
      model AS (
        SELECT tri, CAST(count(*) AS BIGINT) AS freq_r,
          CAST(count(*) FILTER (WHERE lang = 'en') AS BIGINT) AS freq_t
        FROM tris GROUP BY tri),
      tot AS (
        SELECT CAST(sum(freq_r) AS BIGINT) AS n_r,
               CAST(sum(freq_t) AS BIGINT) AS n_t
        FROM model),
      isc AS (
        SELECT t.doc_id,
          count(*) AS n_tris,
          CAST(sum(m.freq_t * x.n_r - m.freq_r * x.n_t) AS BIGINT) AS raw_score,
          CAST(sum(m.freq_t * x.n_r - m.freq_r * x.n_t) AS DOUBLE)
            / CAST(count(*) AS DOUBLE) AS mean_score
        FROM tris t JOIN model m ON t.tri = m.tri CROSS JOIN tot x
        GROUP BY t.doc_id)"""

  /** Shared per-doc char-LM micro-score CTE chain (ends in `lmsc`).
    * Self-scoring ⇒ every trigram and context is in the model, so the
    * inner joins are total; `//` replays Spark's DIV floor exactly.
    */
  private val charLmScoreCte = s"""
      nd AS (
        SELECT doc_id, lower(regexp_replace(trim(text), '\\s+', ' ', 'g')) AS norm
        FROM documents),
      tris AS (
        SELECT doc_id, substr(norm, i, 3) AS tri
        FROM nd, UNNEST(range(1, len(norm) - 1)) AS u(i)
        WHERE len(norm) >= 3),
      model AS (SELECT tri, CAST(count(*) AS BIGINT) AS freq FROM tris GROUP BY tri),
      ctx AS (
        SELECT substr(tri, 1, 2) AS c2, CAST(sum(freq) AS BIGINT) AS cfreq
        FROM model GROUP BY 1),
      voc AS (SELECT CAST(count(DISTINCT substr(tri, 3, 1)) AS BIGINT) AS v FROM model),
      g AS (
        SELECT doc_id, tri, CAST(count(*) AS BIGINT) AS occ
        FROM tris GROUP BY 1, 2),
      lmsc AS (
        SELECT g.doc_id,
          CAST(sum(g.occ) AS BIGINT) AS n_tris,
          CAST(sum(g.occ * (($CharLmUnit * (m.freq + 1)) // (c.cfreq + voc.v))) AS BIGINT) AS prob_micro_sum
        FROM g
        JOIN model m ON g.tri = m.tri
        JOIN ctx c ON substr(g.tri, 1, 2) = c.c2
        CROSS JOIN voc
        GROUP BY g.doc_id)"""

  /** The dedup_substr_spans oracle, shared verbatim by the 128-bit
    * twin: it fingerprints with the RAW gram string, so the Spark-side
    * hash width is invisible to it.
    */
  private def substrSpansOracle: String = s"""
      WITH d AS (
        SELECT doc_id, text, CAST(len(text) AS BIGINT) AS n_chars
        FROM documents),
      g AS (
        -- the RAW gram is the oracle's fingerprint (Spark uses
        -- xxhash64 of it; both are collision-free on the corpus, so
        -- the >= 2 occurrence sets agree — the jaccard-family
        -- cross-hash convention)
        SELECT doc_id, CAST(i AS BIGINT) AS p,
          substr(text, CAST(i AS INT), $SubstrSpanL) AS h
        FROM d, UNNEST(range(1, n_chars - $SubstrSpanL + 2)) u(i)),
      dup AS (SELECT h FROM g GROUP BY h HAVING COUNT(*) >= 2),
      marks AS (SELECT doc_id, p FROM g JOIN dup USING (h)),
      flagged AS (
        SELECT doc_id, p,
          MAX(p + $SubstrSpanL) OVER (PARTITION BY doc_id ORDER BY p
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
        FROM marks),
      spans AS (
        SELECT doc_id, p,
          SUM(CASE WHEN prev_end IS NULL OR p > prev_end THEN 1 ELSE 0 END)
            OVER (PARTITION BY doc_id ORDER BY p) AS span_id
        FROM flagged),
      merged AS (
        SELECT doc_id, span_id, MIN(p) AS sp, MAX(p) + $SubstrSpanL AS ep
        FROM spans GROUP BY doc_id, span_id),
      per_doc AS (
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_spans,
          CAST(SUM(ep - sp) AS BIGINT) AS dup_chars
        FROM merged GROUP BY doc_id)
      SELECT d.doc_id, d.n_chars,
        COALESCE(n_spans, 0) AS n_spans,
        COALESCE(dup_chars, 0) AS dup_chars,
        CASE WHEN d.n_chars > 0 THEN
          CAST(COALESCE(dup_chars, 0) AS DOUBLE) / CAST(d.n_chars AS DOUBLE)
        END AS dup_frac
      FROM d LEFT JOIN per_doc USING (doc_id)
      ORDER BY d.doc_id"""

  /** dedup_semantic_kmeans oracle: the FROZEN-CENTROID replay (the
    * [[Similarity.pqOracleSql]] codebook contract applied to the
    * Lloyd's quantizer). The trained centroids are read from the SAME
    * cached quantizer the registered query scores under
    * ([[ensureSemanticQuantizer]] — whichever side runs first trains,
    * the other reads the cache), so they freeze into the SQL
    * bit-identically via shortest-round-trip `Double.toString`
    * literals; DuckDB then independently recomputes EVERYTHING
    * downstream of the model — the squared-euclidean argmin assignment
    * (same left-to-right per-dimension IEEE fold as
    * [[Similarity.assignEuclidean]]'s while-loop, ties to the lowest
    * cent_id), the within-cluster cosine, the threshold, and the
    * keep-first representative choice. Centroid QUALITY (monotone
    * WCSS, fixpoint stability, no-drift freezing) stays spec-gated —
    * the same division of labor as the knn-graph frozen-pair oracle.
    */
  def kmeansOracleSql(s: SparkSession, dir: String): String = {
    val cents = readSemanticQuantizer(
      s, ensureSemanticQuantizer(s, dir, NumCentroids))
    if (cents.isEmpty || cents(0).isEmpty)
      return """
      SELECT CAST(NULL AS BIGINT) AS cluster, CAST(NULL AS BIGINT) AS dup_id,
        CAST(NULL AS BIGINT) AS keeper_id, CAST(NULL AS DOUBLE) AS cos
      WHERE FALSE"""
    val dim = cents(0).length
    def dl(x: Double): String = java.lang.Double.toString(x)
    val centRows = cents.zipWithIndex
      .map { case (c, i) => s"($i, [${c.map(dl).mkString(", ")}])" }
      .mkString(", ")
    // per-dimension (v-c)² terms then one left-to-right list_sum — the
    // exact op sequence of assignEuclidean's compiled loop
    val dist2 =
      s"list_sum([(e.v[i] - c.cv[i]) * (e.v[i] - c.cv[i]) for i in range(1, ${dim + 1})])"
    s"""
      WITH cents AS (SELECT * FROM (VALUES $centRows) c(k, cv)),
      e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      assign AS (
        SELECT vec_id, v, k AS cluster FROM (
          SELECT e.vec_id, e.v, c.k,
            ROW_NUMBER() OVER (PARTITION BY e.vec_id
              ORDER BY $dist2 ASC, c.k ASC) AS rk
          FROM e CROSS JOIN cents c) WHERE rk = 1),
      hits AS (
        SELECT x.cluster, x.vec_id AS a, y.vec_id AS b,
               ${duckCosL("x.v", "y.v")} AS cos
        FROM assign x JOIN assign y
          ON x.cluster = y.cluster AND x.vec_id < y.vec_id)
      SELECT CAST(cluster AS BIGINT) AS cluster, b AS dup_id,
        min(a) AS keeper_id, min_by(cos, a) AS cos
      FROM hits WHERE cos >= $SemThreshold
      GROUP BY cluster, b
      ORDER BY dup_id"""
  }

  /** Static entries plus — when [[Similarity.oracleContext]] is set by
    * Verify — the data-derived frozen-centroid kmeans oracle.
    */
  def oracles: Map[String, String] =
    staticOracles ++
      Similarity.oracleContext.map { case (s, dir) =>
        Map("dedup_semantic_kmeans" -> kmeansOracleSql(s, dir))
      }.getOrElse(Map.empty)

  private val staticOracles: Map[String, String] = Map(
    "sim_cluster_purity" -> s"""
      WITH cents AS (
        SELECT k,
          [CAST(strpos('0123456789abcdef', substr(md5('c' || k || '_' || j), 1, 1)) - 8.5 AS DOUBLE)
           for j in range(1, 65)] AS cv
        FROM (SELECT unnest(range($NumCentroids)) AS k)),
      e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, label
            FROM embeddings),
      assign AS (
        SELECT vec_id, label, k AS cluster FROM (
          SELECT e.vec_id, e.label, c.k,
            ROW_NUMBER() OVER (PARTITION BY e.vec_id
              ORDER BY ${duckCosL("v", "cv")} DESC, c.k ASC) AS rk
          FROM e CROSS JOIN cents c) WHERE rk = 1),
      lc AS (
        SELECT cluster, label, CAST(COUNT(*) AS BIGINT) AS n
        FROM assign GROUP BY 1, 2),
      rk AS (
        SELECT cluster, label, n,
          ROW_NUMBER() OVER (PARTITION BY cluster
            ORDER BY n DESC, label ASC) AS rk,
          CAST(SUM(n) OVER (PARTITION BY cluster) AS BIGINT) AS n_vecs
        FROM lc)
      SELECT cluster, n_vecs, label AS top_label, n AS top_n,
        CAST(n AS DOUBLE) / CAST(n_vecs AS DOUBLE) AS purity
      FROM rk WHERE rk = 1 ORDER BY cluster""",
    "ta_importance" -> s"""
      WITH $importanceScoreCte
      SELECT doc_id, n_tris, raw_score, mean_score
      FROM isc ORDER BY doc_id""",
    "mix_temperature_curve" -> s"""
      WITH c AS (
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n
        FROM documents GROUP BY source),
      ex AS (
        SELECT source, n, a.alpha,
          CASE a.alpha
            WHEN 0.25 THEN sqrt(sqrt(CAST(n AS DOUBLE)))
            WHEN 0.5 THEN sqrt(CAST(n AS DOUBLE))
            WHEN 0.75 THEN sqrt(CAST(n AS DOUBLE)) * sqrt(sqrt(CAST(n AS DOUBLE)))
            ELSE CAST(n AS DOUBLE) END AS w
        FROM c CROSS JOIN
          (SELECT CAST(unnest([${TempCurveAlphas.mkString(", ")}]) AS DOUBLE) AS alpha) a),
      tots AS (
        SELECT alpha, list_sum(list(w ORDER BY source)) AS tot
        FROM ex GROUP BY alpha)
      SELECT ex.alpha, source, n AS n_docs, w, w / tot AS share
      FROM ex JOIN tots USING (alpha)
      ORDER BY alpha, source""",
    "sample_ess" -> s"""
      WITH $importanceScoreCte,
      ws AS (
        SELECT d.source, GREATEST(isc.raw_score, 0) AS w
        FROM isc JOIN documents d USING (doc_id))
      SELECT source,
        CAST(COUNT(*) AS BIGINT) AS n_docs,
        CAST(SUM(CASE WHEN w > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
        CASE WHEN SUM(CAST(w AS HUGEINT) * w) > 0 THEN
          CAST(SUM(w) AS DOUBLE) * CAST(SUM(w) AS DOUBLE)
            / CAST(SUM(CAST(w AS HUGEINT) * w) AS DOUBLE)
        END AS ess,
        CASE WHEN SUM(w) > 0 THEN
          CAST(MAX(w) AS DOUBLE) / CAST(SUM(w) AS DOUBLE)
        END AS max_share
      FROM ws GROUP BY source ORDER BY source""",
    "sample_dsir_topk" -> s"""
      WITH $importanceScoreCte,
      ranked AS (
        SELECT d.source, isc.doc_id, isc.raw_score,
          ROW_NUMBER() OVER (PARTITION BY d.source
            ORDER BY isc.raw_score DESC, isc.doc_id ASC) AS rk
        FROM isc JOIN documents d ON isc.doc_id = d.doc_id)
      SELECT source, CAST(rk AS BIGINT) AS rk, doc_id, raw_score
      FROM ranked WHERE rk <= $DsirPerSource
      ORDER BY source, rk""",
    "ta_charlm" -> s"""
      WITH $charLmScoreCte
      SELECT doc_id, n_tris, prob_micro_sum,
        CAST(prob_micro_sum // n_tris AS BIGINT) AS avg_prob_micro
      FROM lmsc ORDER BY doc_id""",
    // deciles via DuckDB's native percentile_disc — the second
    // independent check of the rankCutpointsN prefix-sum kernel
    // (dq_drift_chi2 is the first)
    "ta_charlm_buckets" -> s"""
      WITH $charLmScoreCte,
      sc2 AS (
        SELECT CAST(prob_micro_sum AS DOUBLE) / CAST(n_tris AS DOUBLE) AS v
        FROM lmsc),
      cuts AS (
        SELECT ${(1 to 9).map(i =>
          s"percentile_disc(0.$i) WITHIN GROUP (ORDER BY v) AS c$i")
          .mkString(", ")}
        FROM sc2),
      b AS (
        SELECT ${(1 to 9).map(i =>
          s"CASE WHEN v > c$i THEN 1 ELSE 0 END").mkString(" + ")} AS bucket
        FROM sc2 CROSS JOIN cuts)
      SELECT CAST(bucket AS BIGINT) AS bucket,
        CAST(COUNT(*) AS BIGINT) AS n_docs
      FROM b GROUP BY bucket ORDER BY bucket""",
    "ta_familiarity" -> """
      WITH nd AS (
        SELECT doc_id, lower(regexp_replace(trim(text), '\s+', ' ', 'g')) AS norm
        FROM documents),
      tris AS (
        SELECT doc_id, substr(norm, i, 3) AS tri
        FROM nd, UNNEST(range(1, len(norm) - 1)) AS u(i)
        WHERE len(norm) >= 3),
      model AS (SELECT tri, count(*) AS freq FROM tris GROUP BY tri)
      SELECT t.doc_id,
        count(*) AS n_tris,
        CAST(sum(m.freq) AS BIGINT) AS fam_sum,
        CAST(sum(m.freq) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS familiarity
      FROM tris t JOIN model m ON t.tri = m.tri
      GROUP BY t.doc_id
      ORDER BY t.doc_id""",
    "mix_mwu_step" -> s"""
      WITH st AS (
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
          CAST(SUM(n_chars) AS BIGINT) AS sx
        FROM documents GROUP BY source),
      tot AS (
        SELECT CAST(COALESCE(SUM(n_docs), 0) AS BIGINT) AS nn,
          CAST(COALESCE(SUM(sx), 0) AS BIGINT) AS tx
        FROM st),
      base AS (
        SELECT source, n_docs,
          CAST(n_docs AS DOUBLE) / CAST(nn AS DOUBLE) AS share,
          ((CAST(sx AS DOUBLE) / CAST(n_docs AS DOUBLE)) -
           (CAST(tx AS DOUBLE) / CAST(nn AS DOUBLE))) /
           (CAST(tx AS DOUBLE) / CAST(nn AS DOUBLE)) AS excess
        FROM st, tot),
      w AS (SELECT *, share * (1.0 + $MwuEta * excess) AS w_raw FROM base),
      tw AS (SELECT list_sum(list(w_raw ORDER BY source)) AS t FROM w)
      SELECT source, n_docs, share, excess, w_raw / tw.t AS w_next
      FROM w, tw ORDER BY source""",
    "mix_report" -> s"""
      WITH sized AS (
        SELECT source, doc_id, n_chars,
          CAST(len(list_filter(string_split_regex(trim(text), '\\s+'), x -> len(x) > 0)) AS BIGINT) AS n_tokens
        FROM documents),
      cum AS (
        SELECT source, doc_id, n_tokens,
          CAST(SUM(n_tokens) OVER (PARTITION BY source
            ORDER BY n_chars DESC, doc_id ASC
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens
        FROM sized),
      totals AS (
        SELECT source, count(*) AS n_docs,
          CAST(sum(n_tokens) AS BIGINT) AS total_tokens
        FROM sized GROUP BY source),
      kept AS (
        SELECT source, count(*) AS n_kept,
          CAST(sum(n_tokens) AS BIGINT) AS kept_tokens
        FROM cum WHERE cum_tokens <= $MixBudget GROUP BY source)
      SELECT t.source, t.n_docs, t.total_tokens,
        coalesce(k.n_kept, 0) AS n_kept,
        coalesce(k.kept_tokens, 0) AS kept_tokens,
        CAST(coalesce(k.kept_tokens, 0) AS DOUBLE) / CAST(t.total_tokens AS DOUBLE) AS kept_frac
      FROM totals t LEFT JOIN kept k ON t.source = k.source
      ORDER BY t.source""",
    "mix_budget" -> s"""
      WITH sized AS (
        SELECT source, doc_id, n_chars,
          CAST(len(list_filter(string_split_regex(trim(text), '\\s+'), x -> len(x) > 0)) AS BIGINT) AS n_tokens
        FROM documents),
      cum AS (
        SELECT source, doc_id, n_tokens,
          CAST(SUM(n_tokens) OVER (PARTITION BY source
            ORDER BY n_chars DESC, doc_id ASC
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens
        FROM sized)
      SELECT source, doc_id, n_tokens, cum_tokens
      FROM cum WHERE cum_tokens <= $MixBudget
      ORDER BY source, cum_tokens""",
    // the same per-source window prefix sum as mix_budget, swept via
    // the VALUES × LEFT JOIN + FILTER reshape (the tier-curve idiom)
    "mix_budget_curve" -> s"""
      WITH sized AS (
        SELECT source, doc_id, n_chars,
          CAST(len(list_filter(string_split_regex(trim(text), '\\s+'), x -> len(x) > 0)) AS BIGINT) AS n_tokens
        FROM documents),
      cum AS (
        SELECT source, doc_id, n_tokens,
          CAST(SUM(n_tokens) OVER (PARTITION BY source
            ORDER BY n_chars DESC, doc_id ASC
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens
        FROM sized)
      SELECT CAST(b.b AS BIGINT) AS budget,
        CAST(COUNT(*) FILTER (WHERE c.cum_tokens <= b.b) AS BIGINT) AS n_docs,
        CAST(COALESCE(SUM(c.n_tokens) FILTER (WHERE c.cum_tokens <= b.b), 0)
          AS BIGINT) AS n_tokens,
        CAST(COUNT(DISTINCT c.source) FILTER (WHERE c.cum_tokens <= b.b)
          AS BIGINT) AS n_sources
      FROM (VALUES ${MixCurveBudgets.map(b => s"($b)").mkString(", ")}) b(b)
      LEFT JOIN cum c ON TRUE
      GROUP BY b.b ORDER BY budget""",
    "mix_epochs" -> s"""
      WITH sized AS (
        SELECT source, doc_id, n_chars,
          CAST(len(list_filter(string_split_regex(trim(text), '\\s+'), x -> len(x) > 0)) AS BIGINT) AS n_tokens
        FROM documents),
      rep AS (
        SELECT source, doc_id, n_chars, n_tokens, CAST(e.epoch AS BIGINT) AS epoch
        FROM sized CROSS JOIN (SELECT unnest(range(1, $MixEpochs + 1)) AS epoch) e),
      cum AS (
        SELECT source, epoch, doc_id, n_tokens,
          CAST(SUM(n_tokens) OVER (PARTITION BY source
            ORDER BY epoch ASC, n_chars DESC, doc_id ASC
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens
        FROM rep)
      SELECT source, epoch, doc_id, n_tokens, cum_tokens
      FROM cum WHERE cum_tokens <= $MixEpochBudget
      ORDER BY source, cum_tokens""",
    "ta_ngram_top" -> """
      WITH toks AS (
        SELECT lang,
          list_filter(string_split_regex(trim(text), '\s+'), x -> len(x) > 0) AS tk
        FROM documents),
      bg AS (
        SELECT lang, tk[i] || ' ' || tk[i+1] AS bigram
        FROM toks, UNNEST(range(1, len(tk))) AS u(i)
        WHERE len(tk) >= 2),
      counted AS (SELECT lang, bigram, COUNT(*) AS n FROM bg GROUP BY 1, 2),
      ranked AS (
        SELECT lang, bigram, n,
          ROW_NUMBER() OVER (PARTITION BY lang ORDER BY n DESC, bigram ASC) AS rk
        FROM counted)
      SELECT lang, rk, bigram, n FROM ranked WHERE rk <= 5
      ORDER BY lang, rk""",
    "ta_profile" -> """
      WITH sized AS (
        SELECT source, md5(text) AS m,
          CAST(len(list_filter(string_split_regex(trim(text), '\s+'), x -> len(x) > 0)) AS BIGINT) AS n_tokens
        FROM documents)
      SELECT source,
        COUNT(*) AS n_docs,
        CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
        COUNT(DISTINCT m) AS distinct_texts,
        COUNT(*) - COUNT(DISTINCT m) AS dup_docs,
        CAST(SUM(CASE WHEN n_tokens < 5 THEN 1 ELSE 0 END) AS BIGINT) AS short_docs,
        CAST(SUM(n_tokens) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS mean_tokens
      FROM sized
      GROUP BY source
      ORDER BY source""",
    "ta_intradoc" -> s"""
      WITH toks AS (
        SELECT doc_id,
          list_filter(string_split_regex(trim(text), '\\s+'), x -> len(x) > 0) AS tk
        FROM documents),
      chunks AS (
        SELECT doc_id, i AS chunk_idx,
               array_to_string(tk[(i-1)*$ChunkTokens+1 : i*$ChunkTokens], ' ') AS chunk
        FROM toks, UNNEST(range(1, CAST(ceil(len(tk)/$ChunkTokens.0) AS BIGINT)+1)) AS u(i)),
      firsts AS (
        SELECT doc_id, chunk, MIN(chunk_idx) AS first_idx
        FROM chunks GROUP BY doc_id, chunk),
      tot AS (
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_chunks
        FROM chunks GROUP BY doc_id),
      agg AS (
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_uniq,
          md5(string_agg(chunk, ' ' ORDER BY first_idx)) AS clean_md5
        FROM firsts GROUP BY doc_id)
      SELECT t.doc_id, t.n_chunks,
        t.n_chunks - a.n_uniq AS n_removed, a.clean_md5
      FROM tot t JOIN agg a ON t.doc_id = a.doc_id
      ORDER BY t.doc_id""",
    "mix_curriculum" -> """
      WITH sized AS (
        SELECT doc_id, source,
          CAST(len(list_filter(string_split_regex(trim(text), '\s+'),
            x -> len(x) > 0)) AS BIGINT) AS n_tokens
        FROM documents)
      SELECT CAST(row_number() OVER (PARTITION BY source
               ORDER BY n_tokens ASC, doc_id ASC) AS BIGINT) AS src_rank,
             source, doc_id, n_tokens
      FROM sized
      ORDER BY src_rank, source, doc_id""",
    "dedup_substr_spans" -> substrSpansOracle,
    // same raw-gram fingerprint + merge CTEs as the span audit, then
    // the dyadic band collapse (binary-string-length log2, exact
    // integers) and one IEEE division against the corpus total
    "dedup_span_length_hist" -> s"""
      WITH d AS (
        SELECT doc_id, text, CAST(len(text) AS BIGINT) AS n_chars
        FROM documents),
      g AS (
        SELECT doc_id, CAST(i AS BIGINT) AS p,
          substr(text, CAST(i AS INT), $SubstrSpanL) AS h
        FROM d, UNNEST(range(1, n_chars - $SubstrSpanL + 2)) u(i)
        WHERE n_chars >= $SubstrSpanL),
      dup AS (SELECT h FROM g GROUP BY h HAVING COUNT(*) >= 2),
      marks AS (SELECT doc_id, p FROM g JOIN dup USING (h)),
      flagged AS (
        SELECT doc_id, p,
          MAX(p + $SubstrSpanL) OVER (PARTITION BY doc_id ORDER BY p
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
        FROM marks),
      spans AS (
        SELECT doc_id, p,
          SUM(CASE WHEN prev_end IS NULL OR p > prev_end THEN 1 ELSE 0 END)
            OVER (PARTITION BY doc_id ORDER BY p) AS span_id
        FROM flagged),
      merged AS (
        SELECT doc_id, span_id,
          MAX(p) + $SubstrSpanL - MIN(p) AS len
        FROM spans GROUP BY doc_id, span_id),
      banded AS (
        SELECT CAST(2 ** (length(bin(len)) - 1) AS BIGINT) AS band_lo,
          CAST(COUNT(*) AS BIGINT) AS n_spans,
          CAST(SUM(len) AS BIGINT) AS dup_chars
        FROM merged GROUP BY 1)
      SELECT band_lo, n_spans, dup_chars,
        CAST(dup_chars AS DOUBLE) /
          CAST((SELECT SUM(dup_chars) FROM banded) AS DOUBLE) AS mass_share
      FROM banded
      ORDER BY band_lo""",
    // identical oracle by design: it fingerprints with the raw gram
    // string, so the Spark-side hash width (64 vs 128 bit) is
    // invisible to it — both agree iff the hash is collision-free
    "dedup_substr_spans128" -> substrSpansOracle,

    "ta_exact_substr" -> s"""
      WITH toks AS (
        SELECT doc_id,
          list_filter(string_split_regex(trim(text), '\\s+'), x -> len(x) > 0) AS tk
        FROM documents),
      base AS (SELECT doc_id, tk, len(tk) AS n FROM toks WHERE len(tk) > 0),
      wins AS (
        SELECT doc_id, p,
          md5(array_to_string(tk[p : p + $SubstrWindow - 1], ' ')) AS h
        FROM base, UNNEST(range(1, n - $SubstrWindow + 2)) AS u(p)
        WHERE n >= $SubstrWindow),
      dup AS (
        SELECT h FROM wins GROUP BY h
        HAVING count(DISTINCT doc_id) >= $BoilerMinDocs),
      cover AS (
        SELECT DISTINCT w.doc_id, t AS pos
        FROM wins w JOIN dup d ON w.h = d.h,
          UNNEST(range(w.p, w.p + $SubstrWindow)) AS u(t)),
      runs AS (
        SELECT doc_id, pos,
          CASE WHEN pos - 1 = lag(pos) OVER (PARTITION BY doc_id ORDER BY pos)
               THEN 0 ELSE 1 END AS brk
        FROM cover),
      per_doc AS (
        SELECT doc_id, CAST(count(*) AS BIGINT) AS n_removed,
               CAST(sum(brk) AS BIGINT) AS n_spans
        FROM runs GROUP BY doc_id),
      clean AS (
        SELECT b.doc_id,
          md5(coalesce(
            string_agg(b.tk[u.p], ' ' ORDER BY u.p)
              FILTER (WHERE c.pos IS NULL), '')) AS clean_md5
        FROM base b
        CROSS JOIN UNNEST(range(1, b.n + 1)) AS u(p)
        LEFT JOIN cover c ON c.doc_id = b.doc_id AND c.pos = u.p
        GROUP BY b.doc_id)
      SELECT b.doc_id, CAST(b.n AS BIGINT) AS n_tokens,
        coalesce(p.n_spans, 0) AS n_spans,
        coalesce(p.n_removed, 0) AS n_removed,
        c.clean_md5
      FROM base b
      LEFT JOIN per_doc p ON b.doc_id = p.doc_id
      JOIN clean c ON b.doc_id = c.doc_id
      ORDER BY b.doc_id""",
    "ta_boilerplate" -> s"""
      WITH toks AS (
        SELECT doc_id,
          list_filter(string_split_regex(trim(text), '\\s+'), x -> len(x) > 0) AS tk
        FROM documents),
      chunks AS (
        SELECT doc_id, i AS chunk_idx,
               array_to_string(tk[(i-1)*$ChunkTokens+1 : i*$ChunkTokens], ' ') AS chunk
        FROM toks, UNNEST(range(1, CAST(ceil(len(tk)/$ChunkTokens.0) AS BIGINT)+1)) AS u(i)),
      hashed AS (SELECT doc_id, chunk_idx, chunk, md5(chunk) AS h FROM chunks),
      freq AS (
        SELECT h FROM hashed GROUP BY h
        HAVING count(DISTINCT doc_id) >= $BoilerMinDocs),
      flagged AS (
        SELECT c.doc_id, c.chunk_idx, c.chunk, (f.h IS NOT NULL) AS boiler
        FROM hashed c LEFT JOIN freq f ON c.h = f.h)
      SELECT doc_id,
        count(*) AS n_chunks,
        CAST(sum(CASE WHEN boiler THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
        md5(coalesce(
          string_agg(chunk, ' ' ORDER BY chunk_idx) FILTER (WHERE NOT boiler),
          '')) AS clean_md5
      FROM flagged
      GROUP BY doc_id
      ORDER BY doc_id""",
    "sample_cluster_balanced" -> s"""
      WITH cents AS (
        SELECT k,
          [CAST(strpos('0123456789abcdef', substr(md5('c' || k || '_' || j), 1, 1)) - 8.5 AS DOUBLE)
           for j in range(1, 65)] AS cv
        FROM (SELECT unnest(range($NumCentroids)) AS k)),
      e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      assign AS (
        SELECT vec_id, k AS cluster FROM (
          SELECT e.vec_id, c.k,
            ROW_NUMBER() OVER (PARTITION BY e.vec_id
              ORDER BY ${duckCosL("v", "cv")} DESC, c.k ASC) AS rk
          FROM e CROSS JOIN cents c) WHERE rk = 1),
      counts AS (
        SELECT cluster, CAST(COUNT(*) AS BIGINT) AS n_vecs
        FROM assign GROUP BY cluster),
      cut AS (
        SELECT cluster, n_vecs,
          (SELECT MIN(n_vecs) FROM counts) AS min_cluster,
          GREATEST(CAST(1 AS BIGINT),
            CAST(floor(LEAST(CAST(1.0 AS DOUBLE),
              CAST((SELECT MIN(n_vecs) FROM counts) AS DOUBLE)
                / CAST(n_vecs AS DOUBLE)) * 65536.0) AS BIGINT)) AS cutoff
        FROM counts),
      kept AS (
        SELECT a.cluster, a.vec_id
        FROM assign a JOIN cut c ON a.cluster = c.cluster
        WHERE c.cutoff >= 65536
           OR substr(md5(CAST(a.vec_id AS VARCHAR)), 1, 4) < printf('%04x', c.cutoff))
      SELECT c.cluster, c.n_vecs, c.min_cluster, c.cutoff,
        CAST(COUNT(k.vec_id) AS BIGINT) AS n_kept,
        CAST(COALESCE(SUM(k.vec_id), 0) AS BIGINT) AS sum_kept_ids
      FROM cut c LEFT JOIN kept k ON c.cluster = k.cluster
      GROUP BY c.cluster, c.n_vecs, c.min_cluster, c.cutoff
      ORDER BY c.cluster""",
    "dedup_semantic" -> s"""
      WITH cents AS (
        SELECT k,
          [CAST(strpos('0123456789abcdef', substr(md5('c' || k || '_' || j), 1, 1)) - 8.5 AS DOUBLE)
           for j in range(1, 65)] AS cv
        FROM (SELECT unnest(range($NumCentroids)) AS k)),
      e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      assign AS (
        SELECT vec_id, v, k AS cluster FROM (
          SELECT e.vec_id, e.v, c.k,
            ROW_NUMBER() OVER (PARTITION BY e.vec_id
              ORDER BY ${duckCosL("v", "cv")} DESC, c.k ASC) AS rk
          FROM e CROSS JOIN cents c) WHERE rk = 1),
      hits AS (
        SELECT x.cluster, x.vec_id AS a, y.vec_id AS b,
               ${duckCosL("x.v", "y.v")} AS cos
        FROM assign x JOIN assign y
          ON x.cluster = y.cluster AND x.vec_id < y.vec_id)
      SELECT cluster, b AS dup_id, min(a) AS keeper_id, min_by(cos, a) AS cos
      FROM hits WHERE cos >= $SemThreshold
      GROUP BY cluster, b
      ORDER BY dup_id""",
    "dedup_representatives" -> s"""
      WITH RECURSIVE ${Dedup.shingleCte},
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
        SELECT e.a, r.lbl FROM edges e JOIN reach r ON e.b = r.id),
      comp AS (SELECT id AS doc_id, MIN(lbl) AS component_id FROM reach GROUP BY id),
      scored AS (
        SELECT c.component_id, c.doc_id, d.n_chars,
          ROW_NUMBER() OVER (PARTITION BY c.component_id
            ORDER BY d.n_chars DESC, c.doc_id ASC) AS rk
        FROM comp c JOIN documents d ON c.doc_id = d.doc_id),
      sizes AS (
        SELECT component_id, CAST(count(*) AS BIGINT) AS n_members
        FROM scored GROUP BY component_id)
      SELECT s.component_id, z.n_members, s.doc_id AS rep_doc_id,
        CAST(s.n_chars AS BIGINT) AS rep_chars
      FROM scored s JOIN sizes z ON s.component_id = z.component_id
      WHERE s.rk = 1
      ORDER BY s.component_id""")
}
