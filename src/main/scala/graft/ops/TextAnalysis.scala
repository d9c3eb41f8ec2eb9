package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables.t
import graft.ops.Scale.GatedCheckpoint

/** Text-analysis operators for LLM training-data pipelines, over the
  * `documents` table: tokenization stats, quality scoring, n-gram
  * language ID, and document fingerprinting.
  *
  * Everything is built from codegen'd `org.apache.spark.sql.functions`
  * expressions — no UDFs — so at 100 TB these run inside whole-stage
  * codegen directly over the parquet scan, with only the columns used
  * (`text`, `doc_id`) read from disk.
  */
object TextAnalysis {

  /** Whitespace tokens of text (empty-token-free). Split on `\s+`
    * yields at most one leading and one trailing "" (interior
    * separators are maximal runs), so `array_remove(_, "")` — a
    * CODEGEN'D expression — returns exactly the same token list the
    * old `filter(split(trim(text)), len > 0)` HOF form did, without
    * evaluating an interpreted lambda per token (the r17 LM-kernel
    * lesson applied to the family's shared idiom; measured 0.304 →
    * 0.192 s isolated for the corpus tokenCount pass at sf0.1, r18).
    * Element-wise equivalence (incl. tab/newline-led text, all-space,
    * empty, NULL) is pinned by TokenIdiomSpec.
    */
  def tokens(text: Column): Column =
    array_remove(split(text, "\\s+"), "")

  private val WordSep = java.util.regex.Pattern.compile("\\s+")

  /** [[tokens]] for the compiled per-document kernels: exactly
    * `array_remove(split(text, "\\s+"), "")` (Spark's `split` runs the
    * same java.util.regex `\s+`), and `null` reads as no words. No
    * `trim` first: Java's `trim` strips every char ≤ U+0020, which `\s`
    * does not all match, so a trimmed split disagrees with [[tokens]]
    * on text that starts or ends with a control char (TokenIdiomSpec
    * pins the two forms element-wise equal).
    */
  def words(text: String): Array[String] =
    if (text == null) Array.empty[String]
    else WordSep.split(text).filter(_.nonEmpty)

  /** Lowercased whitespace tokens — the compiled idiom for the five
    * case-folded text-analysis streams (coverage / RAKE / Heaps /
    * divergence / Simpson) whose legacy form was the interpreted
    * `filter(split(trim(lower(text))), len > 0)` HOF. `lower` maps
    * letters to letters and never to or from whitespace, so it commutes
    * with the split-boundary argument that makes [[tokens]] exact:
    * the two forms return the identical token list element-wise
    * (TokenIdiomSpec pins the lowercased cases too).
    */
  def lowerTokens(text: Column): Column = tokens(lower(text))

  def tokenCount(text: Column): Column = size(tokens(text)).cast("long")

  /** Stopword-profile hit count: word-boundary regex, one pass. */
  def profileHits(text: Column, words: Seq[String]): Column =
    regexp_count(text, lit("\\b(" + words.mkString("|") + ")\\b")).cast("long")

  /** Language profiles for the n-gram-heuristic language ID. Tiny on
    * purpose: real pipelines plug in larger profiles; the operator shape
    * (k parallel regex counts + deterministic argmax) is what scales.
    */
  val langProfiles: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "is", "of", "and", "to", "in", "a"),
    "es" -> Seq("el", "la", "de", "que", "y", "los", "una"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht"),
    "fr" -> Seq("le", "les", "et", "dans", "est", "une"))

  /** Deterministic argmax over profile scores (first profile wins ties,
    * 'und' = undetermined when no profile hits).
    */
  def langId(text: Column): Column = {
    val scores = langProfiles.map { case (l, ws) => l -> profileHits(text, ws) }
    val best = scores.map(_._2).reduce((a, b) => greatest(a, b))
    scores.foldRight(lit("und")) { case ((l, sc), els) =>
      when(sc === best && best > 0, lit(l)).otherwise(els)
    }
  }

  /** Normalized-text MD5 fingerprint (case-folded, whitespace-collapsed)
    * — the exact-dedup key that survives formatting noise.
    */
  def fingerprint(text: Column): Column =
    md5(lower(regexp_replace(trim(text), "\\s+", " ")))

  /** BPE-ish subword segmentation count: a GPT-2-style pre-tokenizer
    * regex (contraction suffixes, letter runs, digit runs, punctuation
    * runs — no lookahead, so the same pattern runs under Java regex and
    * DuckDB's RE2). Counts segments, which is the token count a BPE
    * vocabulary would start from.
    */
  val BpePattern = "'(?:[sdmt]|ll|ve|re)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\\s']+"
  def bpeishCount(text: Column): Column =
    regexp_count(text, lit(BpePattern)).cast("long")

  /** Winnowing document fingerprints (the standard k-gram rolling-hash
    * min-sampling scheme): polynomial rolling hash over character
    * k-grams (O(1) per step via precomputed base^(k-1)), then the
    * minimum hash of each window of w consecutive k-grams, rightmost
    * tie-break, deduplicated. Guarantees any substring match of length
    * ≥ k+w-1 shares a fingerprint — the property plagiarism/near-dup
    * detection relies on. Runs compiled (no Catalyst expressions) —
    * same rationale as the shingling path in [[Dedup]]. A null text
    * has no fingerprints.
    */
  def winnow(text: String, k: Int = 8, w: Int = 4): Array[Long] = {
    if (text == null) return Array.empty
    val s = text.toLowerCase(java.util.Locale.ROOT).replaceAll("\\s+", " ").trim
    if (s.length < k) return Array.empty
    val B = 1000003L
    var bk = 1L // B^(k-1), wrapping in Long is fine: deterministic
    var i = 0
    while (i < k - 1) { bk *= B; i += 1 }
    val n = s.length - k + 1
    val hs = new Array[Long](n)
    var h = 0L
    i = 0
    while (i < k) { h = h * B + s.charAt(i); i += 1 }
    hs(0) = h
    i = 1
    while (i < n) {
      h = (h - s.charAt(i - 1) * bk) * B + s.charAt(i + k - 1)
      hs(i) = h
      i += 1
    }
    if (n <= w) return Array(hs.min)
    val out = new scala.collection.mutable.TreeSet[Long]()
    i = 0
    while (i + w <= n) {
      var m = hs(i)
      var j = i + 1
      while (j < i + w) { if (hs(j) <= m) m = hs(j); j += 1 }
      out += m
      i += 1
    }
    out.toArray
  }

  // ---- queries ----

  def taTokens(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "documents")
      .select($"doc_id", tokenCount($"text").as("n_tokens"),
        length($"text").cast("long").as("n_chars_calc"))
      .orderBy("doc_id")
  }

  def taQuality(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val nTok = tokenCount($"text")
    val nonAlpha = length(regexp_replace($"text", "[a-z0-9 ]", "")).cast("long")
    val stop = profileHits($"text", langProfiles.head._2)
    t(s, dir, "documents")
      .select($"doc_id",
        nTok.as("n_tokens"),
        (stop.cast("double") / nTok).as("stopword_ratio"),
        (nonAlpha.cast("double") / greatest(length($"text").cast("long"), lit(1L))).as("nonalpha_ratio"),
        (length(regexp_replace($"text", " ", "")).cast("double") / nTok).as("avg_token_len"),
        (nTok >= 5L && nTok <= 10000L && (nonAlpha.cast("double") / greatest(length($"text").cast("long"), lit(1L))) < 0.3)
          .as("quality_ok"))
      .orderBy("doc_id")
  }

  /** Gopher-rule stop list (Rae et al. 2021 §A1.1 use common English
    * function words; the published rule asks for ≥ 2 DISTINCT hits).
    */
  val GopherStops: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /** The Gopher quality-rule bundle (Rae et al. 2021, Appendix A —
    * the canonical public pre-filter for LLM corpora), distinct from
    * [[taQuality]]'s generic ratios: word-count window, mean word
    * length window, symbol-to-word ratios (#, ellipsis), fraction of
    * words containing an alphabetic character, and ≥ 2 distinct
    * stop-word hits. One codegen'd projection over the scan — counts
    * are exact integers, ratios single IEEE divisions, so the whole
    * row set is hash-exact cross-engine. `passed` is the published
    * conjunction.
    */
  def taGopherRules(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val toks = tokens($"text")
    val nWords = size(toks).cast("long")
    val wordChars = length(regexp_replace($"text", "\\s+", "")).cast("long")
    val meanWl = wordChars.cast("double") / nWords
    // Rae et al. count the '…' glyph alongside '...' and match stop
    // words case-insensitively ('The' counts) — match on lower(text)
    // since the stop list is lowercase (ADVICE r6).
    val hashRatio = regexp_count($"text", lit("#")).cast("double") / nWords
    val ellipsisRatio = regexp_count($"text", lit("\\.\\.\\.|…")).cast("double") / nWords
    val alphaFrac = size(filter(toks, w => w.rlike("[a-zA-Z]")))
      .cast("double") / nWords
    val stopHits = GopherStops
      .map(w => when(lower($"text").rlike(s"\\b$w\\b"), 1).otherwise(0))
      .reduce(_ + _).cast("long")
    t(s, dir, "documents")
      .select($"doc_id", nWords.as("n_words"), meanWl.as("mean_word_len"),
        hashRatio.as("hash_ratio"), ellipsisRatio.as("ellipsis_ratio"),
        alphaFrac.as("alpha_word_frac"), stopHits.as("n_stop_hits"),
        (nWords >= 50L && nWords <= 100000L &&
          meanWl >= 3.0 && meanWl <= 10.0 &&
          hashRatio <= 0.1 && ellipsisRatio <= 0.1 &&
          alphaFrac >= 0.8 && stopHits >= 2L).as("passed"))
      .orderBy("doc_id")
  }

  /** Garbage-text detector — the mojibake/OCR-noise filter (broken
    * decodes, scanner output, binary-in-text) that runs beside the
    * Gopher ratios in web-corpus pipelines: per doc, non-printable-
    * ASCII mass, U+FFFD replacement-character count (the universal
    * "decode went wrong" tracer), a long-consonant-run flag (OCR
    * keyboard-mash signature), the digit ratio, and the composite
    * garbage verdict. The synthetic corpus is clean, so the query
    * plants a deterministic junk block on every 43rd doc (the
    * [[taPiiRedact]] planting precedent; same expression in the
    * oracle) so every counter and the verdict are exercised nonzero.
    *
    * 100 TB shape: one codegen'd regex projection over the scan — no
    * shuffle, no UDF; counts are exact integers, one IEEE division.
    */
  def taGarbageScore(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val txt = when($"doc_id" % 43 === 0,
      concat($"text", lit(" �� zzzzxxxxqqqwwww 999999999999")))
      .otherwise($"text")
    t(s, dir, "documents")
      .select($"doc_id",
        length(txt).cast("long").as("n_chars_eff"),
        regexp_count(txt, lit("[^\\x20-\\x7E]")).cast("long").as("n_non_ascii"),
        regexp_count(txt, lit("�")).cast("long").as("n_repl"),
        lower(txt).rlike("[bcdfghjklmnpqrstvwxz]{7,}").as("has_long_run"),
        (regexp_count(txt, lit("[0-9]")).cast("double") /
          length(txt).cast("double")).as("digit_ratio"))
      .withColumn("is_garbage",
        $"n_repl" > 0L || $"has_long_run" || $"digit_ratio" > 0.3)
      .orderBy("doc_id")
  }

  /** Rule names for [[taFilterAblation]], in output order. */
  val GopherRuleNames: Seq[String] = Seq(
    "word_count", "mean_word_len", "hash_ratio",
    "ellipsis_ratio", "alpha_word_frac", "stop_hits")

  /** Per-rule ablation of the Gopher bundle — the corpus-paper
    * ablation table (RefinedWeb/Dolma/FineWeb all publish one): for
    * each published sub-rule, how many docs fail it, how many fail
    * ONLY it (the marginal docs that dropping the rule would recover),
    * and the word mass of those unique fails; the trailing 'any' row
    * summarizes the conjunction (docs failing ≥1 rule / exactly one
    * rule / their word mass). Unlike
    * [[graft.ops.CorpusFilters.curationFunnel]]'s sequential stage
    * survival (order-dependent by design), ablation is order-FREE —
    * unique-fail counts are properties of the rule SET, the artifact
    * that decides which rule to relax when the kept fraction is too
    * low.
    *
    * 100 TB shape: one codegen'd scan → six boolean flags + a per-doc
    * fail count → ONE map-side-combinable aggregation row → a 7-row
    * stack. Counts are exact integers; no divisions in the output.
    */
  def taFilterAblation(s: SparkSession, dir: String): DataFrame =
    filterAblationOf(t(s, dir, "documents"))

  /** [[taFilterAblation]] over any (text, …) frame — shared by the
    * registered query, the incremental streaming twin (the 7×3 counter
    * table is additive across batches because per-doc flags are
    * independent), and the planted-corpus specs.
    */
  def filterAblationOf(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val toks = tokens($"text")
    val nWords = size(toks).cast("long")
    val wordChars = length(regexp_replace($"text", "\\s+", "")).cast("long")
    val meanWl = wordChars.cast("double") / nWords
    val hashRatio = regexp_count($"text", lit("#")).cast("double") / nWords
    val ellipsisRatio = regexp_count($"text", lit("\\.\\.\\.|…")).cast("double") / nWords
    val alphaFrac = size(filter(toks, w => w.rlike("[a-zA-Z]")))
      .cast("double") / nWords
    val stopHits = GopherStops
      .map(w => when(lower($"text").rlike(s"\\b$w\\b"), 1).otherwise(0))
      .reduce(_ + _).cast("long")
    val pass: Seq[org.apache.spark.sql.Column] = Seq(
      nWords >= 50L && nWords <= 100000L,
      meanWl >= 3.0 && meanWl <= 10.0,
      hashRatio <= 0.1,
      ellipsisRatio <= 0.1,
      alphaFrac >= 0.8,
      stopHits >= 2L)
    val flagged = docs
      .select(nWords.as("nw") +:
        pass.zipWithIndex.map { case (p, i) => p.as(s"p$i") }: _*)
      .withColumn("fc",
        (0 until 6).map(i => when(!col(s"p$i"), 1).otherwise(0)).reduce(_ + _))
    val aggCols = (0 until 6).flatMap { i =>
      Seq(
        coalesce(sum(when(!col(s"p$i"), 1L).otherwise(0L)), lit(0L)).as(s"f$i"),
        coalesce(sum(when(!col(s"p$i") && $"fc" === 1, 1L).otherwise(0L)),
          lit(0L)).as(s"u$i"),
        coalesce(sum(when(!col(s"p$i") && $"fc" === 1, $"nw").otherwise(0L)),
          lit(0L)).as(s"w$i"))
    } ++ Seq(
      coalesce(sum(when($"fc" >= 1, 1L).otherwise(0L)), lit(0L)).as("fa"),
      coalesce(sum(when($"fc" === 1, 1L).otherwise(0L)), lit(0L)).as("ua"),
      coalesce(sum(when($"fc" === 1, $"nw").otherwise(0L)), lit(0L)).as("wa"))
    val stackArgs = GopherRuleNames.zipWithIndex.map { case (n, i) =>
      s"${i + 1}L, '$n', f$i, u$i, w$i"
    }.mkString(",\n         ") + ",\n         7L, 'any', fa, ua, wa"
    flagged.agg(aggCols.head, aggCols.tail: _*)
      .select(expr(
        s"""stack(7,
         $stackArgs)
         AS (rule_id, rule, n_fail, n_unique_fail, words_unique_fail)"""))
      .orderBy("rule_id")
  }

  def taLangId(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "documents")
      .select($"doc_id", langId($"text").as("lang_pred"))
      .orderBy("doc_id")
  }

  def taFingerprint(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "documents")
      .select($"doc_id", fingerprint($"text").as("fp"))
      .orderBy("doc_id")
  }

  def taBpeTokens(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "documents")
      .select($"doc_id", bpeishCount($"text").as("n_bpe_tokens"),
        tokenCount($"text").as("n_ws_tokens"))
      .orderBy("doc_id")
  }

  /** Winnowing fingerprints per doc, summarized to a hash-stable row
    * (count + fold) — the full set feeds dedup joins in practice.
    */
  def taWinnow(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "documents").select($"doc_id", $"text").as[(Long, String)]
      .map { case (id, text) =>
        val fps = winnow(text)
        (id, fps.length.toLong, fps.foldLeft(0L)(_ ^ _))
      }
      .toDF("doc_id", "n_fingerprints", "fp_xor")
      .orderBy("doc_id")
  }

  /** Portable winnowing: same window-minimum selection as [[winnow]]
    * but grams hash through md5 hex strings (lexicographic order), so
    * fingerprints are reproducible in ANY engine with an md5 — the
    * cross-system-auditable variant (and the DuckDB-oracle-checkable
    * one; the fnv64 form needs wrapping 64-bit arithmetic SQL engines
    * refuse). Value-ties make the tie-break rule irrelevant: equal
    * minima dedupe to one fingerprint either way.
    */
  private[ops] val HexChars = "0123456789abcdef".toCharArray

  /** 32-char lowercase hex of an md5 digest — table-driven; a
    * String.format per byte costs more than the md5 itself.
    */
  def md5Hex(md: java.security.MessageDigest, bytes: Array[Byte]): String = {
    val d = md.digest(bytes)
    val cs = new Array[Char](32)
    var b = 0
    while (b < d.length) {
      cs(b * 2) = HexChars((d(b) >> 4) & 0xf)
      cs(b * 2 + 1) = HexChars(d(b) & 0xf)
      b += 1
    }
    new String(cs)
  }

  /** Per-partition gram→md5hex memo: natural-language k-grams repeat
    * heavily, so the corpus-wide md5 count collapses to ~|vocab| per
    * partition. Size-capped so adversarial high-entropy text can't
    * balloon the executor heap.
    */
  final class Md5Memo(max: Int = 1 << 20) {
    private val md = java.security.MessageDigest.getInstance("MD5")
    private val m = new java.util.HashMap[String, String]()
    def apply(gram: String): String = {
      val hit = m.get(gram)
      if (hit != null) hit
      else {
        val h = md5Hex(md, gram.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        if (m.size < max) m.put(gram, h)
        h
      }
    }
    def digestOf(s: String): String =
      md5Hex(md, s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }

  def winnowPortable(text: String, memo: Md5Memo,
      k: Int = 8, w: Int = 4): Array[String] = {
    if (text == null) return Array.empty
    val s = text.toLowerCase(java.util.Locale.ROOT).replaceAll("\\s+", " ").trim
    if (s.length < k) return Array.empty
    val n = s.length - k + 1
    val hs = new Array[String](n)
    var i = 0
    while (i < n) {
      hs(i) = memo(s.substring(i, i + k))
      i += 1
    }
    if (n <= w) return Array(hs.min)
    val out = new scala.collection.mutable.TreeSet[String]()
    i = 0
    while (i + w <= n) {
      var m = hs(i)
      var j = i + 1
      while (j < i + w) { if (hs(j) <= m) m = hs(j); j += 1 }
      out += m
      i += 1
    }
    out.toArray
  }

  /** Portable-winnow query: fingerprint count + md5 digest of the
    * sorted fingerprint set (scalar outputs for the hash gate).
    */
  def taWinnowPortable(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "documents").select($"doc_id", $"text").as[(Long, String)]
      .mapPartitions { it =>
        val memo = new Md5Memo()
        it.map { case (id, text) =>
          val fps = winnowPortable(text, memo)
          (id, fps.length.toLong, memo.digestOf(fps.mkString(",")))
        }
      }
      .toDF("doc_id", "n_fp", "fp_digest")
      .orderBy("doc_id")
  }

  /** Winnow-pair guards: fingerprints appearing in more documents than
    * this carry no discrimination (boilerplate character runs) and are
    * dropped before the pair fan-out; a pair must then share at least
    * [[WinnowMinShared]] surviving fingerprints to be reported.
    */
  val WinnowMaxFpDf = 20
  val WinnowMinShared = 10L

  /** MOSS-style plagiarism candidates (Schleimer et al. 2003 §4 — the
    * original application of winnowing): document pairs sharing ≥
    * [[WinnowMinShared]] df-capped winnow fingerprints, scored by
    * shared / min(|fpA|, |fpB|) (a containment-style score, so a short
    * document lifted wholesale into a long one still scores ~1). The
    * winnowing guarantee transfers: any shared substring of length ≥
    * k + w − 1 contributes at least one shared fingerprint, so long
    * verbatim overlaps cannot evade the report.
    *
    * 100 TB shape: the fingerprint pass is the compiled per-doc kernel
    * (no per-gram rows until the explode of the ~2/(w+1)-density
    * selection); the pair space is the df-capped inverted index — the
    * same skew-guarded blocking as every near-dup family here, never
    * all-pairs.
    */
  def dedupWinnowPairs(s: SparkSession, dir: String): DataFrame =
    winnowPairsOf(t(s, dir, "documents"))

  /** Pair kernel over any (doc_id, text) frame. */
  def winnowPairsOf(docs: DataFrame,
      minShared: Long = WinnowMinShared): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val fps = docs.select($"doc_id", $"text")
      .as[(Long, String)]
      .mapPartitions { it =>
        val memo = new Md5Memo()
        it.map { case (id, text) => (id, winnowPortable(text, memo)) }
      }
      .toDF("doc_id", "f")
      .gatedCheckpoint() // feeds sizes + the inverted index
    val cnt = fps.select($"doc_id", size($"f").cast("long").as("n"))
    val fpx = fps.select($"doc_id", explode($"f").as("fp"))
    val hot = fpx.groupBy($"fp").agg(count(lit(1)).as("df"))
      .filter($"df" > WinnowMaxFpDf).select($"fp")
    val rare = fpx.join(broadcast(hot), Seq("fp"), "left_anti")
    val pr = rare.as("x").join(rare.as("y"),
        col("x.fp") === col("y.fp") && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
      .groupBy($"a", $"b").agg(count(lit(1)).as("n_shared"))
      .filter($"n_shared" >= minShared)
    pr.join(cnt.select($"doc_id".as("a"), $"n".as("n_a")), "a")
      .join(cnt.select($"doc_id".as("b"), $"n".as("n_b")), "b")
      .select($"a", $"b", $"n_shared", $"n_a", $"n_b",
        ($"n_shared".cast("double") / least($"n_a", $"n_b").cast("double"))
          .as("score"))
      .orderBy("a", "b")
  }

  /** Compression-ratio quality signal — the classic "is this document
    * mostly repeated bytes" filter (low deflate ratio ⇒ templated or
    * repetitive text; the signal DCLM/RefinedWeb-style pipelines use
    * alongside the Gopher ratios). One compiled pass with a reused
    * per-partition Deflater (fixed level ⇒ deterministic); rows-only by
    * design — no SQL engine exposes zlib — with the discrimination
    * property (repetitive ≪ diverse) pinned by spec. Output ratio =
    * compressed/raw bytes, exact integers + one IEEE division.
    */
  def taCompressionRatio(s: SparkSession, dir: String): DataFrame =
    compressionRatioOf(t(s, dir, "documents"))

  /** Gram length of the portable compressibility estimate — deflate's
    * minimum back-reference length is 3, but at 3 chars natural text is
    * saturated with incidental repeats; 8 keeps the distinct-fraction
    * signal discriminative on ~300-char docs.
    */
  val CompressGramL = 8

  /** ta_compression_portable: the oracle-portable arithmetic stand-in
    * for [[taCompressionRatio]] (VERDICT r10 ask #5, the
    * ta_winnow_portable pattern): zlib's output size is an
    * implementation detail of the codec (level, window, match
    * heuristics — no SQL engine reproduces it), so the deflate query
    * stays rows-only FOREVER; this twin distills the LZ core of the
    * signal — repeated-substring mass — into exact integer arithmetic
    * both engines replay bit-for-bit. Model: a doc's overlapping
    * L-grams split into FIRST occurrences (coded as L literal bytes)
    * and REPEATS (a 2-byte back-reference); docs shorter than L code
    * raw. The estimate RANKS compressibility (repetitive text → few
    * distinct grams → small estimate), it does not predict zlib's
    * byte count. Engines fingerprint differently on purpose — Spark
    * xxhash64, the oracle the raw gram — the standing cross-hash
    * convention.
    *
    * 100 TB shape: one COMPILED per-partition kernel pass — per doc,
    * an fnv64 fingerprint per overlapping gram (the jaccard-family
    * hash convention) into a sorted long array whose transition count
    * is the exact distinct count; O(chars·L + grams·log grams) per
    * document, no explode, no shuffle, embarrassingly parallel. The
    * first cut expressed the same arithmetic as a Catalyst
    * transform/array_distinct chain and benched 3.5 s at sf0.1 — HOF
    * lambdas evaluate INTERPRETED per element (the
    * dedup_source_overlap lesson, once more with feeling); the kernel
    * measures ~10× cheaper. Code-point iteration keeps the character
    * semantics of Spark `length`/DuckDB `len` (a surrogate pair is ONE
    * character on both sides).
    */
  def taCompressionPortable(s: SparkSession, dir: String): DataFrame =
    compressionPortableOf(t(s, dir, "documents"))

  def compressionPortableOf(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val l = CompressGramL
    docs.select($"doc_id", $"text").as[(Long, String)]
      .mapPartitions { it =>
        it.map { case (id, text) =>
          // null text keeps its row with NULL n_chars (so est_bytes /
          // est_ratio fall out NULL too) — the dedup_substr_spans
          // convention, and what the DuckDB oracle's len(NULL)=NULL
          // computes (ADVICE r11 #2); shared fingerprint kernel —
          // see Curation.fnv64Window
          if (text == null) (id, Option.empty[Long], 0L, 0L)
          else {
            val cps = graft.ops.Curation.codePointsOf(text)
            val n = cps.length
            val g = math.max(n - l + 1, 0)
            var distinct = 0L
            if (g > 0) {
              val hs = new Array[Long](g)
              var p = 0
              while (p < g) {
                hs(p) = graft.ops.Curation.fnv64Window(
                  cps, p, l, graft.ops.Curation.Fnv64Basis)
                p += 1
              }
              java.util.Arrays.sort(hs)
              var k = 0
              while (k < g) {
                if (k == 0 || hs(k) != hs(k - 1)) distinct += 1
                k += 1
              }
            }
            (id, Some(n.toLong), g.toLong, distinct)
          }
        }
      }
      .toDF("doc_id", "n_chars", "n_grams", "n_distinct")
      .select($"doc_id", $"n_chars", $"n_grams", $"n_distinct",
        when($"n_grams" === 0L, $"n_chars")
          .otherwise($"n_distinct" * l + ($"n_grams" - $"n_distinct") * 2L)
          .as("est_bytes"))
      .withColumn("est_ratio",
        when($"n_chars" > 0L,
          $"est_bytes".cast("double") / $"n_chars".cast("double")))
      .orderBy("doc_id")
  }

  def compressionRatioOf(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    docs.select($"doc_id", $"text").as[(Long, String)]
      .mapPartitions { it =>
        // ADVICE r7: ONE Deflater per partition, reset() per row — the
        // native zlib stream allocation is the per-row cost worth
        // hoisting (the doc comment always promised this).
        val buf = new Array[Byte](1 << 16)
        val d = new java.util.zip.Deflater(
          java.util.zip.Deflater.BEST_COMPRESSION, false)
        // release the native zlib stream when the TASK completes
        // (ADVICE r8 #2): iterator-exhaustion cleanup leaks it under
        // partial consumption (limit/take/sample) or a mid-partition
        // failure — the completion listener fires on all three paths
        val tc = org.apache.spark.TaskContext.get()
        if (tc != null) tc.addTaskCompletionListener[Unit](_ => d.end())
        it.map { case (id, text) =>
          val raw = text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
          d.reset()
          d.setInput(raw); d.finish()
          var n = 0L
          while (!d.finished()) n += d.deflate(buf)
          (id, raw.length.toLong, n)
        }
      }
      .toDF("doc_id", "n_bytes", "n_compressed")
      .select($"doc_id", $"n_bytes", $"n_compressed",
        ($"n_compressed".cast("double") /
          greatest($"n_bytes", lit(1L)).cast("double")).as("ratio"))
      .orderBy("doc_id")
  }

  // ---- PII redaction ----

  /** PII patterns in the Java∩RE2 common subset (ASCII classes, \b
    * word boundaries, no lookaround/backrefs — one pattern text behaves
    * identically under Spark's Java regex and RE2-family engines).
    * Applied URL-first so an address inside a URL is consumed as URL.
    */
  val PiiUrl = "https?://[^\\s]+"
  val PiiEmail = "\\b[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}\\b"
  val PiiIp = "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"
  val PiiPhone = "\\b[0-9]{3}-[0-9]{3}-[0-9]{4}\\b"

  /** Chained single-pass redaction: four codegen'd regexp_replace stages
    * over the scan — no UDF, no shuffle; at 100 TB this runs entirely
    * inside whole-stage codegen with only (doc_id, text) read.
    */
  def redactPii(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(
          regexp_replace(text, PiiUrl, "<URL>"),
          PiiEmail, "<EMAIL>"),
        PiiIp, "<IP>"),
      PiiPhone, "<PHONE>")

  /** The synthetic corpus carries no PII, so the query plants a
    * deterministic doc_id-derived contact block first (same expression
    * in the oracle) — the redaction then has real matches to erase and
    * the counts/digest prove every pattern fired.
    */
  def taPiiRedact(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val planted = concat($"text",
      lit(" Contact user"), $"doc_id", lit("@example.com or http://site"),
      $"doc_id" % 10, lit(".example.org/a?b=1 at 192.168."),
      $"doc_id" % 256, lit(".7 tel 555-123-4567."))
    t(s, dir, "documents")
      .select($"doc_id", planted.as("txt"))
      .select(
        $"doc_id",
        regexp_count($"txt", lit(PiiEmail)).cast("long").as("n_emails"),
        regexp_count($"txt", lit(PiiUrl)).cast("long").as("n_urls"),
        regexp_count($"txt", lit(PiiIp)).cast("long").as("n_ips"),
        regexp_count($"txt", lit(PiiPhone)).cast("long").as("n_phones"),
        md5(redactPii($"txt")).as("redacted_md5"),
        length(redactPii($"txt")).cast("long").as("redacted_len"))
      .orderBy("doc_id")
  }

  // ---- repetition / boilerplate scoring ----

  /** Per-document repetition metrics in ONE compiled pass — no token
    * explode, no shuffle (the 100 TB shape: a doc-parallel map, stats
    * folded in-loop). Ratios are single exact-integer divisions, so
    * they're bit-identical across engines.
    */
  def taRepetition(s: SparkSession, dir: String): DataFrame =
    repetitionOf(t(s, dir, "documents")).orderBy("doc_id")

  /** Same metrics over any (doc_id, text) frame. */
  def repetitionOf(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    docs.select($"doc_id", $"text").as[(Long, String)]
      .map { case (id, text) =>
        val ws = words(text)
        val counts = new java.util.HashMap[String, Int]()
        var i = 0
        while (i < ws.length) {
          counts.merge(ws(i), 1, (a, b) => a + b)
          i += 1
        }
        var maxC = 0
        val it = counts.values().iterator()
        while (it.hasNext) { val c = it.next(); if (c > maxC) maxC = c }
        val sents =
          if (text == null) Array.empty[String] else text.split("\\. ").filter(_.nonEmpty)
        val distinctSents = sents.toSet.size
        (id, ws.length.toLong, counts.size.toLong,
          if (ws.length == 0) 0.0 else counts.size.toDouble / ws.length,
          if (ws.length == 0) 0.0 else maxC.toDouble / ws.length,
          sents.length.toLong,
          if (sents.length == 0) 0.0
          else (sents.length - distinctSents).toDouble / sents.length)
      }
      .toDF("doc_id", "n_tokens", "n_distinct_tokens", "distinct_ratio",
        "max_token_frac", "n_sents", "dup_sent_frac")
  }

  /** Character-diversity scoring via the Simpson index Σp² — the
    * probability two random character positions hold the same char.
    * Repetitive spans, binary spill, and single-char padding push it
    * toward 1; natural text sits low. Unlike Shannon entropy (whose
    * log() is not bit-identical across libm implementations), Simpson
    * is RATIONAL: per-char counts are integers, the collision mass
    * Σn_c² is an integer, and one final IEEE division produces the
    * score — so the whole signal hash-matches the oracle. One compiled
    * pass per document, counts in a local map, no char-grain explode.
    */
  def taCharDiversity(s: SparkSession, dir: String): DataFrame =
    charDiversityOf(t(s, dir, "documents"))

  /** [[taCharDiversity]] over an arbitrary (doc_id, text, …) frame. */
  def charDiversityOf(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    docs
      .select($"doc_id", $"text")
      .filter(length($"text") > 0)
      .as[(Long, String)]
      .mapPartitions { it =>
        it.map { case (id, txt) =>
          val counts = new java.util.HashMap[Character, Array[Long]]()
          var i = 0
          while (i < txt.length) {
            val slot = counts.get(txt.charAt(i))
            if (slot == null) counts.put(txt.charAt(i), Array(1L))
            else slot(0) += 1L
            i += 1
          }
          var mass = 0L
          val vals = counts.values().iterator()
          while (vals.hasNext) { val n = vals.next()(0); mass += n * n }
          (id, txt.length.toLong, counts.size.toLong, mass)
        }
      }
      .toDF("doc_id", "n_chars_t", "distinct_chars", "coll_mass")
      .select($"doc_id", $"n_chars_t", $"distinct_chars", $"coll_mass",
        ($"coll_mass".cast("double") /
          ($"n_chars_t".cast("double") * $"n_chars_t".cast("double"))).as("simpson"))
      .orderBy("doc_id")
  }

  // ---- BM25 ranked retrieval ----

  /** Default retrieval query for the registered form: one rare corpus
    * term (high idf) plus three common ones — exercises the idf spread.
    */
  val Bm25Query = "dup hash join stream"
  val Bm25TopN = 50

  /** BM25 top-n retrieval over the documents table — the
    * relevance-selection primitive of a training-data pipeline ("find
    * the documents most like this topic probe"). Okapi BM25 with
    * k1 = 6/5 and b = 3/4 kept as EXACT RATIONALS, and the
    * Robertson–Sparck-Jones idf ratio (2N−2df+1)/(2df+1) WITHOUT the
    * usual ln() damping: every per-term contribution is then one IEEE
    * division of two exact integer products, and the per-doc score a
    * fixed left-to-right fold over query-term order — bit-reproducible
    * in any engine (the ln form mixes libm implementations; the
    * rational idf is the same monotone-in-df ordering per term). The
    * closed form per (term, doc):
    *   (2N−2df+1)·44·tf·T / ((2df+1)·(20·tf·T + 6·T + 18·dl·N))
    * where N = docs, T = total tokens, dl = doc length (so avgdl = T/N;
    * 44/20 = (k1+1)·k1-free scaling, 6/20 = k1(1−b), 18/20 = k1·b).
    * Products stay exact in Long up to ~2^63 — holds through bench
    * scales; a 100 TB deployment flips the noted double-product form.
    *
    * 100 TB shape: one kernel pass computes (dl, tf-vector) per doc —
    * only that skinny projection ever shuffles or persists; corpus
    * stats and per-term dfs are TWO bounded 1-row aggregates; scoring
    * is a map with the (N, T, df[]) closure; top-n compiles to
    * TakeOrderedAndProject (no global sort materialization).
    */
  def taBm25(
      s: SparkSession, dir: String, query: String = Bm25Query,
      n: Int = Bm25TopN): DataFrame =
    bm25Of(t(s, dir, "documents"), query, n)

  /** The BM25 term stream of a text: [[words]] of its `Locale.ROOT`
    * lower case. Query terms, the tf loop and the streaming df fold
    * ([[graft.examples.StreamingCuration.mergeBm25State]]) all read
    * terms through it, so batch and incremental dfs count the same
    * terms.
    */
  private[graft] def bm25Words(text: String): Array[String] =
    if (text == null) Array.empty[String]
    else words(text.toLowerCase(java.util.Locale.ROOT))

  /** A query's distinct terms in first-occurrence order — the order
    * [[bm25Score]] folds them in.
    */
  private[graft] def bm25Terms(query: String): Array[String] =
    bm25Words(query).distinct

  /** (dl, tf of each of `terms`) for one document. */
  private[graft] def bm25Tf(text: String, terms: Array[String]): (Long, Array[Long]) = {
    val toks = bm25Words(text)
    val tfs = new Array[Long](terms.length)
    toks.foreach { tk =>
      var i = 0
      while (i < terms.length) { if (terms(i) == tk) tfs(i) += 1L; i += 1 }
    }
    (toks.length.toLong, tfs)
  }

  /** The exact-rational BM25 score of one document: the closed form of
    * [[taBm25]] per term index in `idxs`, folded left to right.
    */
  private[graft] def bm25Score(nd: Long, tt: Long, dl: Long,
      tfs: Array[Long], dfs: Array[Long], idxs: Array[Int]): Double = {
    var score = 0.0
    var j = 0
    while (j < idxs.length) {
      val i = idxs(j)
      val tf = tfs(i)
      val num = (2L * nd - 2L * dfs(i) + 1L) * 44L * tf * tt
      val den = (2L * dfs(i) + 1L) *
        (20L * tf * tt + 6L * tt + 18L * dl * nd)
      score += num.toDouble / den.toDouble
      j += 1
    }
    score
  }

  /** [[taBm25]] over an arbitrary (doc_id, text, …) frame. */
  def bm25Of(docsIn: DataFrame, query: String, n: Int): DataFrame = {
    val s = docsIn.sparkSession
    import s.implicits._
    val terms = bm25Terms(query)
    val k = terms.length
    require(k > 0, "bm25 needs at least one query term")
    val base = docsIn.select($"doc_id", $"text").as[(Long, String)]
      .map { case (id, text) =>
        val (dl, tfs) = bm25Tf(text, terms)
        (id, dl, tfs)
      }
      .toDF("doc_id", "dl", "tfs")
      .filter($"dl" > 0L)
      .gatedCheckpoint() // skinny (id, dl, k ints): one text scan feeds all three passes
    val statsRow = base.agg(
      count(lit(1)), sum($"dl"),
      array((0 until k).map(i =>
        sum(when(element_at($"tfs", i + 1) > 0L, 1L).otherwise(0L))): _*))
      .head()
    val nd = statsRow.getLong(0)
    val tt = statsRow.getLong(1)
    val dfs = statsRow.getSeq[Long](2).toArray
    val all = Array.range(0, k)
    base.as[(Long, Long, Array[Long])]
      .map { case (id, dl, tfs) => (id, dl, bm25Score(nd, tt, dl, tfs, dfs, all)) }
      .toDF("doc_id", "n_tokens", "score")
      .orderBy($"score".desc, $"doc_id".asc)
      .limit(n)
  }

  /** The registered multi-query probe set: three queries spanning the
    * idf spectrum (rare-term, common-term, mixed).
    */
  val Bm25MultiQueries: Seq[(String, String)] = Seq(
    "q_rare" -> "dup window",
    "q_common" -> "scan column order",
    "q_mixed" -> "dup hash join stream")
  val Bm25PerQueryK = 10

  /** Batch retrieval: BM25 top-k per query over a query SET — the
    * production shape (a probe batch amortizes the corpus pass; one
    * query per pass would rescan per probe). One kernel pass computes
    * (dl, tf over the UNION of all query terms) per document; scoring
    * then folds each query's own terms in its own order (same
    * exact-rational closed form as [[bm25Of]]), emitting one (query,
    * doc, score) row per pair; per-query top-k is a qid-partitioned
    * rank — the shuffle carries scored pairs only, never text.
    */
  def taBm25Multi(
      s: SparkSession, dir: String,
      queries: Seq[(String, String)] = Bm25MultiQueries,
      k: Int = Bm25PerQueryK): DataFrame =
    bm25MultiOf(t(s, dir, "documents"), queries, k)

  /** [[taBm25Multi]] over an arbitrary (doc_id, text, …) frame. */
  def bm25MultiOf(docsIn: DataFrame, queries: Seq[(String, String)],
      k: Int): DataFrame = {
    val s = docsIn.sparkSession
    import s.implicits._
    val qTerms: Seq[(String, Array[String])] = queries.map { case (qid, q) =>
      qid -> bm25Terms(q)
    }
    val union: Array[String] = qTerms.flatMap(_._2).distinct.toArray
    val nu = union.length
    require(nu > 0, "bm25 multi needs at least one term")
    val base = docsIn.select($"doc_id", $"text").as[(Long, String)]
      .map { case (id, text) =>
        val (dl, tfs) = bm25Tf(text, union)
        (id, dl, tfs)
      }
      .toDF("doc_id", "dl", "tfs")
      .filter($"dl" > 0L)
      .gatedCheckpoint()
    val statsRow = base.agg(
      count(lit(1)), sum($"dl"),
      array((0 until nu).map(i =>
        sum(when(element_at($"tfs", i + 1) > 0L, 1L).otherwise(0L))): _*))
      .head()
    val nd = statsRow.getLong(0)
    val tt = statsRow.getLong(1)
    val dfs = statsRow.getSeq[Long](2).toArray
    val unionIdx = union.zipWithIndex.toMap
    val plans: Seq[(String, Array[Int])] =
      qTerms.map { case (qid, ts) => qid -> ts.map(unionIdx) }
    val scored = base.as[(Long, Long, Array[Long])]
      .flatMap { case (id, dl, tfs) =>
        plans.iterator.map { case (qid, idxs) =>
          (qid, id, bm25Score(nd, tt, dl, tfs, dfs, idxs))
        }
      }
      .toDF("query_id", "doc_id", "score")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"query_id").orderBy($"score".desc, $"doc_id".asc)
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter($"rank" <= k)
      .select($"query_id", $"rank", $"doc_id", $"score")
      .orderBy($"query_id", $"rank")
  }

  // ---- heavy hitters (sketch + exact verify) ----

  /** Heavy = a token holding more than 1/32 of all corpus tokens. */
  val HhPhiInv = 32L

  /** 63 counters: the Misra–Gries guarantee then covers every token
    * with frequency > n/64, a 2x safety margin under the 1/32 report
    * threshold — no true heavy hitter can be missed.
    */
  val HhSketchK = 63

  /** Corpus-wide heavy-hitter tokens by the production sketch-then-
    * verify pattern: pass 1 folds the corpus into ONE bounded
    * [[graft.functions.MisraGriesAggregator]] summary per partition
    * (fixed k counters each — the shuffle carries sketches, never the
    * full token-count table) whose merged candidate set provably
    * contains every token with frequency > n/(k+1); pass 2 re-counts
    * the <= k candidates EXACTLY (broadcast isin filter over the scan)
    * and thresholds at freq·$HhPhiInv > n in integers. The output is
    * therefore the exact heavy-hitter set — deterministic and
    * oracle-gated even though the sketch's candidate set varies with
    * merge order. At 100 TB pass 2 touches only rows matching <= k
    * tokens; the exact GROUP BY the oracle runs would shuffle the
    * whole vocabulary instead.
    */
  def taHeavyHitters(s: SparkSession, dir: String): DataFrame =
    heavyHittersOf(t(s, dir, "documents"))

  /** [[taHeavyHitters]] over an arbitrary (doc_id, text, …) frame. */
  def heavyHittersOf(docsIn: DataFrame): DataFrame = {
    val s = docsIn.sparkSession
    import s.implicits._
    val toks = docsIn.select(explode(tokens(lower($"text"))).as("token"))
    val mg = udaf(new graft.functions.MisraGriesAggregator(HhSketchK))
    val row = toks.agg(count(lit(1)).as("n"), mg($"token").as("sketch")).head()
    val n = row.getLong(0)
    val cand = row.getMap[String, Long](1).keys.toSeq
    if (cand.isEmpty)
      Seq.empty[(String, Long)].toDF("token", "freq")
    else
      toks.filter($"token".isin(cand: _*))
        .groupBy($"token").agg(count(lit(1)).as("freq"))
        .filter($"freq" * HhPhiInv > n)
        .orderBy($"freq".desc, $"token".asc)
  }

  // ---- count-min sketch point-frequency estimates ----

  /** Probe tokens for the registered CMS query: a frequency spread from
    * stop-words down, plus one token guaranteed absent from the corpus —
    * its exact count is 0, so any nonzero estimate in the output row is
    * pure, visible collision mass.
    */
  val CmsProbes: Seq[String] = Seq(
    "the", "of", "and", "data", "model", "quantum", "zzzabsentprobe")

  /** Corpus token frequencies through a count-min sketch
    * ([[graft.functions.CountMinAggregator]]), estimates next to exact
    * counts for the probe set. The sketch pass is the 100 TB shape: the
    * exploded token stream never shuffles — each partition folds into
    * one 4×4096 long buffer (map-side partial aggregation) and only the
    * fixed 128 KiB buffers merge, vs the full-vocabulary shuffle the
    * exact GROUP BY pays. The md5-prefix cells are computed by
    * codegen'd SQL functions (`conv(substring(md5(token), 8r+1, 3), 16,
    * 10)`) so the pre-aggregation pipeline stays whole-stage; the exact
    * side only ever re-counts the ≤|probes| matching tokens (broadcast
    * isin filter over the scan — the heavy-hitters verify pattern).
    * Driver traffic is bounded: one 128 KiB sketch + |probes| rows.
    *
    * Deterministic end to end (integer sums + min over md5-derived
    * cells), so unlike the HLL register sketch this one carries a full
    * cross-engine oracle: DuckDB rebuilds the identical sketch from the
    * identical cells and must reproduce every estimate bit-exactly.
    */
  def taCmsFreq(s: SparkSession, dir: String): DataFrame =
    cmsFreqOf(t(s, dir, "documents"), CmsProbes)

  /** [[taCmsFreq]] over an arbitrary (doc_id, text, …) frame. */
  def cmsFreqOf(docsIn: DataFrame, probes: Seq[String]): DataFrame = {
    val s = docsIn.sparkSession
    import s.implicits._
    val depth = graft.functions.CountMinAggregator.DefaultDepth
    val width = graft.functions.CountMinAggregator.DefaultWidth
    val toks = docsIn.select(explode(tokens(lower($"text"))).as("token"))
    val cellCols = (0 until depth).map(r =>
      conv(substring(md5($"token"), 8 * r + 1, 3), 16, 10).cast("int"))
    val cm = udaf(new graft.functions.CountMinAggregator(depth, width))
    val sketch = toks
      .select(array(cellCols: _*).as("cells"))
      .agg(cm($"cells")).head().getSeq[Long](0).toArray
    val exact = toks.filter($"token".isin(probes: _*))
      .groupBy($"token").agg(count(lit(1)).as("c"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    probes.sorted.map { p =>
      val est = graft.functions.CountMinAggregator.estimate(
        sketch, graft.functions.CountMinAggregator.cellsOf(p, depth), width)
      val ex = exact.getOrElse(p, 0L)
      (p, est, ex, est - ex)
    }.toDF("token", "est", "exact", "overcount")
  }

  // ---- BPE vocabulary training ----

  val BpeMerges = 30

  /** Train a byte-pair-encoding merge table on the corpus — the real
    * iterative algorithm (Sennrich et al. 2016), not a pre-tokenizer
    * heuristic: V rounds of (count adjacent symbol pairs → take the
    * most frequent → fuse it everywhere). Distributed in the
    * fastBPE/word-frequency shape: the corpus collapses ONCE to a
    * (word, freq) table (vocabulary-sized — at 100 TB maybe 10^8 rows
    * against 10^12 documents), and every round is then one
    * pair-count aggregation with map-side partials + one bounded
    * 1-row argmax collect + one kernel pass fusing the winning pair
    * left-to-right. Lineage is truncated every few rounds
    * (localCheckpoint, the kmeans/connected-components pattern) so V
    * rounds stay O(V) not O(2^V).
    *
    * Deterministic everywhere: pair counts are integer sums and the
    * argmax tie-breaks by (count desc, left asc, right asc) — a total
    * order — so the merge sequence is partition-independent
    * (spec-pinned against an in-memory reference). Oracle-gated since
    * r12 by a FULL independent replay: DuckDB re-runs every unrolled
    * round — pair counts, argmax, fuse — from the raw corpus
    * ([[bpeTrainOracleSql]]); the earlier "not one-SQL-expressible"
    * judgment fell to materialized-CTE unrolling, the
    * integer-PageRank precedent.
    */
  def taBpeTrain(
      s: SparkSession, dir: String, nMerges: Int = BpeMerges): DataFrame =
    bpeTrainOf(t(s, dir, "documents"), nMerges)

  /** [[taBpeTrain]] over an arbitrary (doc_id, text, …) frame. */
  def bpeTrainOf(docsIn: DataFrame, nMerges: Int): DataFrame = {
    val s = docsIn.sparkSession
    import s.implicits._
    bpeTrainFromFreq(
      docsIn.select(explode(tokens(lower($"text"))).as("w"))
        .groupBy($"w").agg(count(lit(1)).as("freq")),
      nMerges)
  }

  /** The trainer's merge loop over an already-collapsed (w, freq)
    * vocabulary — the entry point for INCREMENTAL retraining: the
    * word-frequency table is an additive sufficient statistic, so a
    * stream folds it per batch
    * ([[graft.examples.StreamingCuration.mergeTokenFreqState]]) and a
    * benchmark-cadence retrain reads the folded state instead of
    * re-scanning corpus text (at 100 TB: vocabulary-sized input, not
    * corpus-sized).
    */
  def bpeTrainFromFreq(wordFreqIn: DataFrame, nMerges: Int): DataFrame = {
    val s = wordFreqIn.sparkSession
    import s.implicits._
    val wordFreq = wordFreqIn.select(col("w"), col("freq"))
      .gatedCheckpoint()
    // right-size the iteration: ~50k words per task keeps each of the
    // V rounds one short stage instead of |shuffle.partitions| empty
    // tasks — the vocabulary (not the corpus) sets the parallelism
    val nPart = math.max(1,
      math.min(512L, wordFreq.count() / 50000L + 1L)).toInt
    var words = wordFreq
      .select($"w", $"freq").as[(String, Long)]
      .map { case (w, f) => (w.map(_.toString).toArray.toSeq, f) }
      .toDF("syms", "freq")
      .as[(Seq[String], Long)]
      .repartition(nPart)
      .gatedCheckpoint()
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Long, String, String, Long)]
    var round = 0
    var done = false
    while (round < nMerges && !done) {
      // one shuffle-free job per round: per-partition pair-count maps,
      // tree-merged — the pair table is what every in-memory BPE
      // trainer (fastBPE et al.) holds anyway; treeAggregate keeps the
      // driver merging log(nPart) maps, not nPart
      val counts = words.rdd.treeAggregate(
        scala.collection.mutable.HashMap.empty[(String, String), Long])(
        seqOp = { (m, row) =>
          val (syms, f) = row
          var i = 0
          while (i + 1 < syms.length) {
            val p = (syms(i), syms(i + 1))
            m.update(p, m.getOrElse(p, 0L) + f)
            i += 1
          }
          m
        },
        combOp = { (x, y) =>
          y.foreach { case (p, c) => x.update(p, x.getOrElse(p, 0L) + c) }
          x
        })
      if (counts.isEmpty) done = true
      else {
        val ((ma, mb), cnt) = counts.toSeq
          .sortBy { case ((x, y), c) => (-c, x, y) }.head
        merges += ((round + 1L, ma, mb, cnt))
        words = words.map { case (syms, f) =>
          // classic left-to-right greedy fuse of the winning pair
          val out = scala.collection.mutable.ArrayBuffer.empty[String]
          var i = 0
          while (i < syms.length) {
            if (i + 1 < syms.length && syms(i) == ma && syms(i + 1) == mb) {
              out += (ma + mb); i += 2
            } else { out += syms(i); i += 1 }
          }
          (out.toSeq, f)
        }
        if (round % 5 == 4) words = words.gatedCheckpoint()
        round += 1
      }
    }
    merges.toSeq.toDF("rank", "left", "right", "pair_freq").orderBy("rank")
  }

  /** Encode one token stream under a learned merge table (merges applied
    * in rank order, each fused left-to-right) — the apply half.
    */
  def bpeEncode(word: String, merges: Seq[(String, String)]): Array[String] = {
    var syms = word.map(_.toString).toArray
    merges.foreach { case (a, b) =>
      if (syms.length >= 2) {
        val out = scala.collection.mutable.ArrayBuffer.empty[String]
        var i = 0
        while (i < syms.length) {
          if (i + 1 < syms.length && syms(i) == a && syms(i + 1) == b) {
            out += (a + b); i += 2
          } else { out += syms(i); i += 1 }
        }
        syms = out.toArray
      }
    }
    syms
  }

  // ---- BPE encoding (the apply half of taBpeTrain) ----

  /** Persist a learned merge table ([[bpeTrainOf]] output) so scoring
    * jobs and streaming batches encode under a FROZEN tokenizer instead
    * of retraining — the same train/freeze/apply split as the char-LM
    * and importance models. The table is V rows (the merge budget), so
    * the apply side always broadcasts it.
    */
  def writeBpeMerges(merges: DataFrame, path: String): Unit =
    merges.coalesce(1).write.mode("overwrite").parquet(path)

  def readBpeMerges(s: SparkSession, path: String): Seq[(String, String)] =
    s.read.parquet(path).orderBy("rank").collect()
      .map(r => (r.getAs[String]("left"), r.getAs[String]("right"))).toSeq

  /** Encode every document under a merge table: per-doc whitespace
    * words (same tokenization the trainer collapsed on), each encoded
    * by [[bpeEncode]], reduced to (word count, BPE symbol count, most
    * frequent symbol). One fused mapPartitions kernel, zero shuffles:
    * the merge table is a broadcast of ≤V pairs, and a per-partition
    * memo caches the symbol count of hot words (Zipf does the rest —
    * the cache is capped, and a miss just re-encodes, so the output is
    * cache-independent). At 100 TB the alternative shape is the
    * trainer's: encode the DISTINCT-word table once (vocabulary-sized)
    * and equi-join counts back — worth it when documents repeat a
    * small vocabulary; the kernel form needs no shuffle at all.
    * top_sym ties break lexicographically — a total order, so the
    * result is deterministic and partition-independent.
    */
  def bpeEncodeDocs(docsIn: DataFrame, merges: Seq[(String, String)]): DataFrame = {
    val s = docsIn.sparkSession
    import s.implicits._
    val bc = s.sparkContext.broadcast(merges)
    docsIn.select($"doc_id", lower($"text").as("text"))
      .as[(Long, String)]
      .mapPartitions { it =>
        val ms = bc.value
        val memo = scala.collection.mutable.HashMap.empty[String, Array[String]]
        it.map { case (id, text) =>
          // null text ≡ no words (the replay oracle's LEFT JOIN emits
          // the same (0, 0, '', 0) row)
          val ws = words(text)
          val freq = scala.collection.mutable.HashMap.empty[String, Long]
          var nSyms = 0L
          ws.foreach { w =>
            val syms =
              if (memo.contains(w)) memo(w)
              else {
                val e = bpeEncode(w, ms)
                if (memo.size < 65536) memo.update(w, e)
                e
              }
            nSyms += syms.length
            syms.foreach(sy => freq.update(sy, freq.getOrElse(sy, 0L) + 1L))
          }
          val (topSym, topFreq) =
            if (freq.isEmpty) ("", 0L)
            else freq.toSeq.minBy { case (sy, c) => (-c, sy) }
          (id, ws.length.toLong, nSyms, topSym, topFreq)
        }
      }
      .toDF("doc_id", "n_words", "n_syms", "top_sym", "top_freq")
      .orderBy("doc_id")
  }

  /** Merge-budget grid for [[taBpeCurve]]. */
  val BpeCurveBudgets: Seq[Int] = Seq(0, 5, 10, 15, 20, 25, 30)

  /** ta_bpe_curve: the tokenizer merge-BUDGET ablation — total corpus
    * symbol count and symbols-per-word under the first b merges of the
    * frozen table, for every b in [[BpeCurveBudgets]] — the curve a
    * tokenizer owner reads to pick a vocabulary size (each extra merge
    * buys less compression; the knee is the budget). Rides
    * [[ensureBpeMerges]]'s cached per-corpus table.
    *
    * 100 TB shape: the corpus collapses ONCE to the (word, freq)
    * vocabulary (the trainer's move), then ONE kernel pass applies the
    * merges sequentially per word and snapshots |symbols| at each
    * budget — cost ≈ one full encode, not one per budget; the output
    * aggregation is map-side-combinable over budgets × vocab.
    */
  def taBpeCurve(s: SparkSession, dir: String): DataFrame =
    bpeCurveOf(t(s, dir, "documents"),
      readBpeMerges(s, ensureBpeMerges(s, dir)))

  def bpeCurveOf(docsIn: DataFrame, merges: Seq[(String, String)],
      budgets: Seq[Int] = BpeCurveBudgets): DataFrame = {
    val s = docsIn.sparkSession
    import s.implicits._
    bpeCurveFromFreq(
      docsIn.select(explode(tokens(lower($"text"))).as("w"))
        .groupBy($"w").agg(count(lit(1)).as("freq")),
      merges, budgets)
  }

  /** The curve kernel over an already-collapsed (w, freq) vocabulary —
    * like [[bpeTrainFromFreq]], the entry point for the incremental
    * form: a stream folds token counts and the budget curve recomputes
    * from the folded state, never from corpus text.
    */
  def bpeCurveFromFreq(wordFreq: DataFrame, merges: Seq[(String, String)],
      budgets: Seq[Int] = BpeCurveBudgets): DataFrame = {
    val s = wordFreq.sparkSession
    import s.implicits._
    val bc = s.sparkContext.broadcast(merges)
    val grid = budgets.distinct.sorted
    wordFreq.select(col("w"), col("freq"))
      .as[(String, Long)]
      .mapPartitions { it =>
        val ms = bc.value
        it.flatMap { case (w, f) =>
          var syms = w.map(_.toString).toArray
          var r = 0
          grid.map { b =>
            while (r < b && r < ms.length) {
              val (a, bb) = ms(r)
              if (syms.length >= 2) {
                val out = scala.collection.mutable.ArrayBuffer.empty[String]
                var i = 0
                while (i < syms.length) {
                  if (i + 1 < syms.length && syms(i) == a && syms(i + 1) == bb) {
                    out += (a + bb); i += 2
                  } else { out += syms(i); i += 1 }
                }
                syms = out.toArray
              }
              r += 1
            }
            (b, f, f * syms.length)
          }
        }
      }
      .toDF("budget", "f", "fsyms")
      .groupBy($"budget")
      .agg(sum($"f").as("n_words"), sum($"fsyms").as("n_syms"))
      .select($"budget".cast("long").as("budget"), $"n_words", $"n_syms",
        ($"n_syms".cast("double") / $"n_words".cast("double"))
          .as("syms_per_word"))
      .orderBy("budget")
  }

  /** Registered form: train on the corpus ONCE per (corpus fingerprint,
    * merge budget) and encode under the frozen table — the
    * train/freeze/apply split of dedupSemanticKmeans, with the same
    * race-safe atomic-rename publish. The trainer is deterministic and
    * partition-independent (spec-pinned), so a cache hit is
    * bit-identical to a retrain: freezing changes COST, not rows.
    * Oracle-gated since r12: the frozen-merge replay
    * ([[bpeEncodeOracleSql]]) re-encodes the distinct vocabulary in
    * DuckDB under the same merge chain; the spec additionally pins the
    * kernel against a direct in-memory re-encode, the frozen
    * round-trip, and stale-cache invalidation on corpus rewrite.
    */
  def taBpeEncode(s: SparkSession, dir: String, nMerges: Int = BpeMerges): DataFrame =
    bpeEncodeDocs(t(s, dir, "documents"),
      readBpeMerges(s, ensureBpeMerges(s, dir, nMerges)))

  /** Train-or-reuse the cached merge table for (dir, nMerges,
    * fingerprint) and return its path — shared by the registered
    * queries and the frozen-merge oracles ([[bpeOracleSqls]]), so both
    * sides of the Verify compare replay the IDENTICAL merge sequence.
    */
  def ensureBpeMerges(
      s: SparkSession, dir: String, nMerges: Int = BpeMerges): String =
    ArtifactStore.ensure("bpemerges", s"_n$nMerges", dir,
      ArtifactStore.fingerprint(s, dir, "documents"))(
      writeBpeMerges(bpeTrainOf(t(s, dir, "documents"), nMerges), _))

  /** Cumulative n-gram novelty: the fraction of a doc's distinct
    * word-trigram shingles whose FIRST corpus occurrence (min doc_id)
    * is this doc — the per-document novelty diagnostic of the
    * exact-substring dedup literature (Lee et al. 2022 report corpus
    * memorization by first-occurrence fraction): low-novelty docs are
    * template fills/boilerplate even when no single pair crosses a
    * dedup threshold, so this scores what pairwise dedup can't see.
    *
    * 100 TB shape: ONE shingle kernel pass (the per-doc sorted-set
    * table caches, the dedupContainmentOf pattern — the r17 join form
    * ran the corpus flatMap twice), one shuffle on shingle hash for
    * the min-doc_id first-occurrence table (map-side combine: min is
    * associative), then the novelty credit NEVER joins at shingle
    * mass: a doc's novel-shingle count equals the number of distinct
    * corpus shingles whose first owner IS the doc (the first owner has
    * the shingle by definition), so `first` collapses by first_id into
    * a ≤1-row-per-doc credit table and attaches by doc_id. A hot
    * shingle contributes ONE first-occurrence row regardless of df.
    * Counts are integers + one IEEE division → hash-exact.
    */
  def taNovelty(s: SparkSession, dir: String): DataFrame =
    noveltyOf(t(s, dir, "documents"))

  /** [[taNovelty]] over any (doc_id, text) frame — the spec entry
    * point for planted copy/disjoint corpora.
    */
  def noveltyOf(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val sets = Dedup.shingleSetsOf(docs.select($"doc_id", $"text")).cache()
    try {
      // n_novel(doc) = |{sh : min owner of sh == doc}| — the same count
      // the old per-(doc, sh) join form summed, without re-exploding the
      // corpus against the first-occurrence table
      val novel = sets.select($"doc_id", explode($"set").as("sh"))
        .groupBy($"sh").agg(min($"doc_id").as("first_id"))
        .groupBy($"first_id").agg(count(lit(1)).as("nn"))
      sets
        .filter(size($"set") > 0) // docs under ShingleN tokens had no rows
        .select($"doc_id", size($"set").cast("long").as("n_shingles"))
        .join(novel.select($"first_id".as("doc_id"), $"nn"), Seq("doc_id"), "left")
        .select($"doc_id", $"n_shingles",
          coalesce($"nn", lit(0L)).as("n_novel"),
          (coalesce($"nn", lit(0L)).cast("double") /
            $"n_shingles".cast("double")).as("novelty"))
        .orderBy("doc_id")
        .gatedCheckpoint() // eager: the finally-unpersist below is safe
    } finally sets.unpersist()
  }

  /** DuckDB replay of the n-gram-profile language id, shared by the
    * ta_langid oracle and the confusion-matrix oracle.
    */
  private lazy val langIdOracleSql: String = {
    val scores = langProfiles.map { case (l, ws) =>
      l -> hitsSql("\\b(" + ws.mkString("|") + ")\\b")
    }
    val scoreSel = scores.map { case (l, e) => s"$e AS s_$l" }.mkString(", ")
    val best = "GREATEST(" + scores.map(x => "s_" + x._1).mkString(", ") + ")"
    val cases = scores.map { case (l, _) =>
      s"WHEN s_$l = best AND best > 0 THEN '$l'"
    }.mkString(" ")
    s"""
      SELECT doc_id, CASE $cases ELSE 'und' END AS lang_pred
      FROM (SELECT *, $best AS best
            FROM (SELECT doc_id, $scoreSel FROM documents))
      ORDER BY doc_id"""
  }

  /** Language-metadata audit: declared `lang` column vs the n-gram
    * language id, as an agreement matrix — off-diagonal mass is
    * mislabeled or code-mixed metadata, the check a multilingual
    * pipeline runs before trusting upstream language tags for mixing
    * or filtering decisions. Integer counts + one IEEE share division.
    *
    * 100 TB shape: one scan through the langid expression chain → a
    * (declared, detected)-keyed map-side-combinable aggregation.
    */
  def taLangConfusion(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = org.apache.spark.sql.expressions.Window
      .rowsBetween(Long.MinValue, Long.MaxValue)
    t(s, dir, "documents")
      .select($"lang".as("lang_declared"), langId($"text").as("lang_pred"))
      .groupBy($"lang_declared", $"lang_pred")
      .agg(count(lit(1)).as("n_docs"))
      .withColumn("total", sum($"n_docs").over(w))
      .select($"lang_declared", $"lang_pred", $"n_docs",
        ($"lang_declared" =!= $"lang_pred").as("mismatch"),
        ($"n_docs".cast("double") / $"total".cast("double")).as("share"))
      .orderBy("lang_declared", "lang_pred")
  }

  /** Tokenizer fertility report: per source, characters-per-BPE-symbol
    * and symbols-per-word under the corpus's FROZEN merge table — the
    * multilingual tokenizer-efficiency metric (a language whose
    * fertility is 2× pays 2× the context budget per character;
    * tokenizer papers report exactly this table). Rides
    * [[taBpeEncode]]'s cached per-corpus merges, so the iterative
    * trainer runs once per corpus fingerprint. Oracle-gated since r12
    * ([[bpeFertilityOracleSql]] — the encode replay reduced per
    * source); the arithmetic is integer sums + two IEEE divisions,
    * also spec-pinned on a hand corpus.
    *
    * 100 TB shape: the encode pass is the memoized per-partition
    * kernel; the report is one map-side-combinable per-source
    * aggregation over its output.
    */
  def taFertility(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = t(s, dir, "documents")
    taBpeEncode(s, dir)
      .join(docs.select($"doc_id", $"source",
        length($"text").cast("long").as("n_chars")), "doc_id")
      .groupBy($"source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum($"n_chars").as("n_chars"),
        sum($"n_words").as("n_words"),
        sum($"n_syms").as("n_syms"))
      .select($"source", $"n_docs", $"n_chars", $"n_words", $"n_syms",
        ($"n_chars".cast("double") / $"n_syms".cast("double"))
          .as("chars_per_sym"),
        ($"n_syms".cast("double") / $"n_words".cast("double"))
          .as("syms_per_word"))
      .orderBy("source")
  }

  /** Ranks entering the dyadic Zipf fit (the head of the frequency
    * table carries the Zipf signal; the tail is noise at any K).
    */
  val ZipfTopK = 256

  /** ta_zipf_dyadic: Zipf-law slope of the corpus token-frequency
    * distribution at DYADIC (doubling-bucket) resolution — the
    * corpus-health scalar every mixing/dedup run reads first: a
    * healthy natural-language corpus fits ln f ≈ c − s·ln r with
    * s ≈ 1; a template-flooded or deduplicated-to-death corpus bends
    * away. The least-squares fit runs over (⌊log₂ rank⌋, ⌊log₂ freq⌋)
    * of the top [[ZipfTopK]] tokens.
    *
    * Why dyadic and not ln: floor(log₂ n) of an integer is EXACT in
    * both engines (length(bin(n))−1 — a string length, no
    * transcendental), so every regression sum folds in pure integers,
    * order-free, and only the final slope/intercept divisions are
    * IEEE — the [[graft.ops.Curation.mixTemperatureCurve]]
    * dyadic-exponent doctrine. A natural-log fit would hash-diverge on
    * the last bit because ln is not correctly-rounded and JVM/libm
    * disagree.
    *
    * 100 TB shape: one token aggregation (map-side combine) →
    * TakeOrdered K rows → a K-row window (Limit-bounded, gate-exempt)
    * → one 1-row integer aggregation. The corpus never moves twice.
    */
  def taZipfDyadic(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val top = t(s, dir, "documents")
      .select(explode(tokens(lower($"text"))).as("token"))
      .groupBy($"token").agg(count(lit(1)).as("freq"))
      .orderBy($"freq".desc, $"token".asc).limit(ZipfTopK)
    val w = org.apache.spark.sql.expressions.Window
      .orderBy($"freq".desc, $"token".asc)
    val pts = top
      .withColumn("r", row_number().over(w).cast("long"))
      .select((length(bin($"r")) - 1).cast("long").as("x"),
        (length(bin($"freq")) - 1).cast("long").as("y"))
    // degenerate-regressor guard: a vocabulary of ONE ranked token has
    // zero x-variance (n·Sxx = Sx²) — report NULL fit instead of an
    // ANSI divide-by-zero (same class as the substrSpansOf empty-doc
    // fix; n ≥ 2 always has x-variance since ⌊lb 1⌋ ≠ ⌊lb 2⌋)
    pts.agg(count(lit(1)).as("n"), sum($"x").as("sx"), sum($"y").as("sy"),
        sum($"x" * $"y").as("sxy"), sum($"x" * $"x").as("sxx"))
      .select($"n".as("n_ranked"),
        when($"n" * $"sxx" =!= $"sx" * $"sx",
          ($"n" * $"sxy" - $"sx" * $"sy").cast("double") /
            ($"n" * $"sxx" - $"sx" * $"sx").cast("double")).as("slope"),
        when($"n" * $"sxx" =!= $"sx" * $"sx",
          ($"sy".cast("double") -
            (($"n" * $"sxy" - $"sx" * $"sy").cast("double") /
              ($"n" * $"sxx" - $"sx" * $"sx").cast("double")) *
              $"sx".cast("double")) / $"n".cast("double")).as("intercept"))
  }

  /** ta_lm_surprisal: bigram language-model quality scoring — the
    * CCNet/KenLM-style perplexity filter re-expressed INTEGER-EXACT.
    * An add-one bigram model is trained on the corpus itself
    * (P(w|prev) = (c(prev,w)+1)/(c(prev)+V)); each bigram occurrence
    * scores its surprisal as the BIT LENGTH of the reciprocal
    * probability's integer part — bits = ⌊log₂((c(prev)+V) DIV
    * (c(prev,w)+1))⌋ computed as `length(binary(den DIV num)) − 1`, so
    * every term is integer arithmetic both engines evaluate
    * identically (no libm log — the repo's dyadic-reformulation
    * stance: a floating ln(·) chain would hash-mismatch between JVM
    * fdlibm and DuckDB's libm). Per doc: bigram count, total surprisal
    * bits, and bits/bigram (ONE IEEE division). High bits/bigram =
    * improbable token transitions (garbled or off-distribution text);
    * low = templated/repetitive — the two tails a perplexity filter
    * cuts. Coarser than fractional-bit perplexity, but monotone in the
    * same signal and exactly replayable.
    *
    * 100 TB shape: bigrams come from an array-level zip_with in the
    * scan projection (no window, no per-doc shuffle); the model IS two
    * count tables built by linear map-side-combining aggregations; the
    * scoring joins co-partition on the bigram/unigram keys (fact-fact
    * joins — at corpus scale the vocabulary is NOT broadcastable, so a
    * shuffle join is the correct shape, unlike the broadcast-dim gates
    * elsewhere); V is a broadcast 1-row scalar; the integer sum is
    * commutative so the rollup needs no ordered fold.
    */
  def taLmSurprisal(s: SparkSession, dir: String): DataFrame =
    lmSurprisalOf(t(s, dir, "documents"))

  /** Per-doc word n-gram stream (doc_id, cols…) of a (doc_id, text)
    * frame, n = `cols.length` consecutive [[words]] per row, none for a
    * document under n words or with null text — a compiled flatMap
    * kernel (no window, no shuffle). The bigram (prev, w), trigram
    * (a, b, c) and 4-gram (a, b, c, d) streams of the LM family, shared
    * by the one-shot model builders and the incremental twins' folds.
    *
    * r17 optimization (guide §1.2 step 2 — per-task work): the
    * previous form built the stream with nested `zip_with`/`slice`
    * higher-order functions; Catalyst HOF lambdas are evaluated
    * INTERPRETED per element, and each zip level allocated an
    * intermediate struct array per document. Emitting the rows straight
    * off the token array measured 2.2–2.8× on the (tri/quad)-gram trunks
    * at sf0.1 (tocc 1.16→0.53 s, qocc 1.58→0.56 s, min-of-4 isolated),
    * with the token semantics of `tokens()`.
    */
  private[graft] def lmNgramsOf(docs: DataFrame, cols: String*): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    val n = cols.length
    val schema = StructType(StructField("doc_id", LongType, nullable = false) +:
      cols.map(StructField(_, StringType)))
    docs.select($"doc_id", $"text").as[(Long, String)]
      .flatMap { case (id, text) =>
        val ws = words(text)
        (0 to ws.length - n).iterator.map(i =>
          org.apache.spark.sql.Row.fromSeq(id +: ws.slice(i, i + n).toSeq))
      }(org.apache.spark.sql.Encoders.row(schema))
  }

  /** Per-doc token stream (doc_id, w) — the unigram half of the model. */
  private[graft] def lmTokensOf(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    docs.select($"doc_id", explode(tokens($"text")).as("w"))
  }

  /** The scoring tail over ANY model tables — `uni(w, c_w)` and
    * `bcnt(prev, w, c_bw)` — shared by the one-shot [[lmSurprisalOf]]
    * and the incremental twin
    * ([[graft.examples.StreamingCuration.lmScoreAgainstState]]), so
    * the two derivations cannot drift. Bigrams whose `prev` or pair is
    * absent from the model drop out (inner joins): in the one-shot
    * form every bigram is in-model by construction; against a FROZEN
    * model they are unscorable-OOV transitions, the documented
    * score-new-data-against-yesterday's-model semantics.
    */
  private[graft] def lmScoreWith(scored: DataFrame, uni: DataFrame,
      bcnt: DataFrame): DataFrame = {
    val s = scored.sparkSession
    import s.implicits._
    val vdf = uni.agg(count(lit(1)).as("v"))
    lmNgramsOf(scored, "prev", "w")
      .join(bcnt, Seq("prev", "w"))
      .join(uni.select($"w".as("prev"), $"c_w".as("c_prev")), Seq("prev"))
      .crossJoin(broadcast(vdf))
      .select($"doc_id",
        (length(conv(expr("(c_prev + v) DIV (c_bw + 1)"), 10, 2)) - 1)
          .cast("long").as("bits"))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_bigrams"), sum($"bits").as("total_bits"))
      .select($"doc_id", $"n_bigrams", $"total_bits",
        ($"total_bits".cast("double") / $"n_bigrams".cast("double"))
          .as("bits_per_bigram"))
      .orderBy("doc_id")
  }

  /** Per-doc trunk over any (doc_id, text) frame — shared by the
    * registered query and [[taLmQualityHist]]: train the add-one
    * bigram model on the frame itself, score the frame against it.
    */
  def lmSurprisalOf(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val uni = lmTokensOf(docs).groupBy($"w").agg(count(lit(1)).as("c_w"))
    val bcnt = lmNgramsOf(docs, "prev", "w")
      .groupBy($"prev", $"w").agg(count(lit(1)).as("c_bw"))
    lmScoreWith(docs, uni, bcnt)
  }

  /** Corpus quality distribution: documents per integer
    * bits-per-bigram band — the histogram a pipeline owner reads to
    * place the perplexity filter's two cut points (the low templated
    * tail and the high garbled tail). One more bounded aggregation
    * over the [[lmSurprisalOf]] per-doc table.
    */
  def taLmQualityHist(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    lmSurprisalOf(t(s, dir, "documents"))
      .groupBy(floor($"bits_per_bigram").cast("long").as("bpb_band"))
      .agg(count(lit(1)).as("n_docs"),
        sum($"n_bigrams").as("n_bigrams"))
      .orderBy("bpb_band")
  }

  /** ta_lm_trigram: Katz-STYLE trigram-backoff LM scoring (VERDICT r15
    * ask #7) — the shape CCNet-class filters actually ship, still
    * INTEGER-EXACT via bit length. Per trigram occurrence (a,b,c):
    * when the trigram is RELIABLE (model count ≥ 2 — Katz's
    * count-threshold zone), score the trigram estimate
    * bits = ⌊log₂((c(a,b)+V) DIV (c(a,b,c)+1))⌋; when it is a
    * singleton (its only evidence is this occurrence), BACK OFF to the
    * add-one bigram estimate of the (b,c) transition plus a fixed
    * 1-bit penalty — Katz's Good-Turing discount α is a float ratio
    * that would break the integer-exact replay, and a constant-bit
    * penalty preserves exactly the ordering signal the filter cuts on
    * (templated text scores low, garbled text high; spec-pinned).
    * Per doc: trigram count, backoff count (the model-coverage
    * diagnostic), total bits, bits/trigram (ONE IEEE division).
    *
    * 100 TB shape: trigrams from nested array zips in the scan
    * projection; the model is THREE map-side-combining count tables.
    * Scoring is VOCABULARY-sided, not stream-sided: a trigram's bits
    * depend only on model counts, so the model joins run once per
    * DISTINCT trigram (the scored-lexicon table), and the per-doc
    * occurrence stream — pre-collapsed to (doc, trigram, n_occ)
    * aggregates — pays exactly ONE co-partitioned join against it.
    * (The occurrence-sided form — four string-keyed joins over the
    * full stream — measured 61× at the ×100 Heaps worst case versus
    * the bigram scorer's 4.9×; this shape cut it to the same class.)
    * All joins are fact-fact on n-gram keys (not broadcastable at
    * corpus scale — SMJ is the correct shape); V broadcasts as a 1-row
    * scalar; integer sums commute.
    */
  def lmTrigramSurprisalOf(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val uni = lmTokensOf(docs).groupBy($"w").agg(count(lit(1)).as("c_w"))
    val bcnt = lmNgramsOf(docs, "prev", "w")
      .groupBy($"prev", $"w").agg(count(lit(1)).as("c_bw"))
    // tcnt = None: the tail derives the trigram table from its own
    // occurrence aggregate, reusing that shuffle instead of extracting
    // the trigram stream twice
    lmTrigramScoreWith(docs, uni, bcnt, None)
  }

  /** The trigram scoring tail over ANY model tables — `uni(w, c_w)`,
    * `bcnt(prev, w, c_bw)`, `tcnt(a, b, c, c_t)` — shared by the
    * one-shot [[lmTrigramSurprisalOf]] and the incremental twin
    * ([[graft.examples.StreamingCuration.lmTrigramScoreAgainstState]]),
    * so the two derivations cannot drift (the [[lmScoreWith]] stance).
    * Frozen-model semantics COMPOSE with Katz backoff: a trigram
    * ABSENT from the model (left join, c_t → 0) is simply the
    * unreliable class and backs off; only a transition whose backoff
    * estimator is itself out-of-model — (b,c) or b unseen — is
    * unscorable-OOV and drops (inner joins, the [[lmScoreWith]]
    * contract). In the one-shot form everything is in-model by
    * construction, so the left joins never produce a null and nothing
    * drops.
    */
  private[graft] def lmTrigramScoreWith(docs: DataFrame, uni: DataFrame,
      bcnt: DataFrame, tcntOpt: Option[DataFrame]): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val tocc = lmNgramsOf(docs, "a", "b", "c")
      .groupBy($"doc_id", $"a", $"b", $"c").agg(count(lit(1)).as("n_occ"))
    // self-trained (None): the model's trigram table IS the scored
    // frame's, re-aggregated from the same occurrence shuffle
    val tcnt = tcntOpt.getOrElse(
      tocc.groupBy($"a", $"b", $"c").agg(sum($"n_occ").as("c_t")))
    val lex = tocc.select($"a", $"b", $"c").distinct()
    val vdf = uni.agg(count(lit(1)).as("v"))
    val scored = lex
      .join(tcnt, Seq("a", "b", "c"), "left")
      .join(bcnt.select($"prev".as("b"), $"w".as("c"), $"c_bw".as("c_bc")),
        Seq("b", "c"))
      .join(uni.select($"w".as("b"), $"c_w".as("c_b")), Seq("b"))
      // the context bigram is only read on the reliable branch, where
      // c_t >= 2 guarantees (a,b) is in-model — left join so a
      // backoff-bound trigram lacking (a,b) is not dropped
      .join(bcnt.select($"prev".as("a"), $"w".as("b"), $"c_bw".as("c_ab")),
        Seq("a", "b"), "left")
      .crossJoin(broadcast(vdf))
      .select($"a", $"b", $"c",
        when(coalesce($"c_t", lit(0L)) >= 2,
          (length(conv(expr("(c_ab + v) DIV (c_t + 1)"), 10, 2)) - 1)
            .cast("long"))
          .otherwise(
            (length(conv(expr("(c_b + v) DIV (c_bc + 1)"), 10, 2)))
              .cast("long"))
          .as("bits"),
        when(coalesce($"c_t", lit(0L)) >= 2, lit(0L)).otherwise(lit(1L))
          .as("backoff"))
    tocc
      .join(scored, Seq("a", "b", "c"))
      .groupBy($"doc_id")
      .agg(sum($"n_occ").as("n_trigrams"),
        sum($"backoff" * $"n_occ").as("n_backoff"),
        sum($"bits" * $"n_occ").as("total_bits"))
      .select($"doc_id", $"n_trigrams", $"n_backoff", $"total_bits",
        ($"total_bits".cast("double") / $"n_trigrams".cast("double"))
          .as("bits_per_trigram"))
      .orderBy("doc_id")
  }

  def taLmTrigram(s: SparkSession, dir: String): DataFrame =
    lmTrigramSurprisalOf(t(s, dir, "documents"))

  /** ta_lm_backoff_rate: trigram-model coverage by SOURCE — per
    * source, how much of its trigram stream the corpus-level model had
    * to back off on (singleton trigrams), plus mean bits/trigram. A
    * source whose backoff share towers over the corpus's is
    * off-distribution relative to the pooled model — the procurement
    * diagnostic ("which vendor's text doesn't look like the rest")
    * that complements [[graft.ops.Dedup.dedupSourceMatrix]]'s
    * duplication audits. One doc_id-keyed join of the per-doc
    * [[lmTrigramSurprisalOf]] table against the (doc_id, source)
    * projection, then a |sources|-bounded aggregation; all-integer
    * counts + two IEEE divisions.
    */
  def taLmBackoffRate(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.ops.Scale.GatedCheckpoint
    // materialize the per-doc table before the source join: it is
    // doc-count-bounded (not corpus-token-sized), and without the cut
    // the optimizer re-derives the whole trigram trunk under the join
    // (measured 170 s vs the trunk's own 52 s at the ×100 probe)
    lmTrigramSurprisalOf(t(s, dir, "documents")).gatedCheckpoint()
      .join(t(s, dir, "documents").select($"doc_id", $"source"),
        Seq("doc_id"))
      .groupBy($"source")
      .agg(count(lit(1)).as("n_docs"),
        sum($"n_trigrams").as("n_trigrams"),
        sum($"n_backoff").as("n_backoff"),
        sum($"total_bits").as("total_bits"))
      .select($"source", $"n_docs", $"n_trigrams", $"n_backoff",
        ($"n_backoff".cast("double") / $"n_trigrams".cast("double"))
          .as("backoff_share"),
        ($"total_bits".cast("double") / $"n_trigrams".cast("double"))
          .as("bits_per_trigram"))
      .orderBy("source")
  }

  /** ta_lm_kn4: Kneser–Ney-STYLE 4-gram LM scoring (VERDICT r16 ask
    * #3) — the capstone of the integer-exact LM family. Kneser–Ney's
    * insight (Kneser & Ney 1995; Chen & Goodman 1999) is that BACKOFF
    * distributions should weight a continuation by how many DISTINCT
    * contexts it completes (continuation counts), not how often it
    * occurs — "Francisco" is frequent but only ever follows "San", so
    * its backoff weight should be tiny. Continuation counts are
    * DISTINCT-TYPE counts, i.e. all-integer — which is exactly what
    * makes a KN-style tier DuckDB-replayable where Good–Turing's
    * float discount α is not (the open design question the r16
    * verdict named, resolved the same way the trigram tier replaced
    * Katz's float α with a constant-bit penalty).
    *
    * The model is the textbook continuation-count recursion, every
    * table derived from the ONE 4-gram type table `qcnt(a,b,c,d,c4)`:
    *   ctx4(a,b,c)  = Σ_d c4           (higher-order context mass)
    *   cont3(b,c,d) = |{a : (a,b,c,d) ∈ qcnt}|   N1+(•bcd)
    *   ctx3(b,c)    = |{(a,d) : (a,b,c,d) ∈ qcnt}|  N1+(•bc•)
    *   cont2(c,d)   = |{b : (b,c,d) ∈ cont3}|    N1+(•cd) over types
    *   ctx2(c)      = |{(b,d)}|, cont1(d) = |{c : (c,d) ∈ cont2}|,
    *   ctx1         = |cont2| (distinct continuation-bigram types).
    * Scoring ladder per 4-gram occurrence, each level the add-V
    * floor-log₂ bit estimate of its level's ratio plus a fixed 1-bit
    * penalty per level backed off (the trigram tier's convention):
    *   c4 ≥ 2        → ⌊log₂((ctx4+V) DIV (c4+1))⌋           level 0
    *   cont3 ≥ 2     → ⌊log₂((ctx3+V) DIV (cont3+1))⌋ + 1    level 1
    *   cont2 ≥ 2     → ⌊log₂((ctx2+V) DIV (cont2+1))⌋ + 2    level 2
    *   otherwise     → ⌊log₂((ctx1+V) DIV (cont1+1))⌋ + 3    level 3
    * The ladder keys on evidence BREADTH (≥ 2 distinct contexts), the
    * genuinely KN-flavored reliability test; V is the corpus
    * vocabulary, the family's shared smoothing constant.
    *
    * 100 TB shape: 4-grams from nested array zips in the scan
    * projection; ONE (doc, 4-gram) occurrence shuffle; `qcnt` is
    * gatedCheckpoint-ed (type-lexicon-sized — the model artifact) so
    * the seven model aggregates are passes over the checkpoint, not
    * seven re-derivations of the corpus trunk. Scoring is
    * VOCABULARY-sided (the trigram tier's measured 14.4×-vs-61×
    * lesson): bits depend only on model counts, so the model joins
    * run once per DISTINCT 4-gram and the per-doc occurrence stream
    * pays exactly ONE co-partitioned join against the scored lexicon.
    * All lexicon joins are fact-fact on n-gram keys (a 4-gram lexicon
    * is not broadcastable at corpus scale — SMJ is the correct
    * shape); V and ctx1 broadcast as 1-row scalars; integer sums
    * commute.
    */
  private[graft] def lmKn4Scored(docs: DataFrame)
      : (DataFrame, DataFrame) =
    lmKn4ScoredWith(docs, None, None)

  /** The KN-4-gram scored-lexicon builder over ANY model — shared by
    * the one-shot [[lmKn4SurprisalOf]]/[[taLmKn4Levels]] (model =
    * the frame's own 4-gram table, everything in-model) and the
    * incremental twin
    * ([[graft.examples.StreamingCuration.lmKn4ScoreAgainstState]]),
    * so the two derivations cannot drift (the lmScoreWith stance).
    * Frozen-model semantics COMPOSE with the continuation ladder: a
    * 4-gram ABSENT from the model (left join, c4 → 0) simply lacks
    * level-0 evidence and backs off; an absent (b,c,d) continuation
    * backs off further; only a transition whose FINAL estimator — the
    * d unigram-continuation — is out-of-model is unscorable-OOV and
    * drops (inner join on cont1, the lmScoreWith contract). Each
    * ladder guard (count ≥ 2) implies its level's context row exists,
    * so the left-joined context columns are never read as null.
    */
  private[graft] def lmKn4ScoredWith(docs: DataFrame,
      qcntOpt: Option[DataFrame], vdfOpt: Option[DataFrame])
      : (DataFrame, DataFrame) = {
    val s = docs.sparkSession
    import s.implicits._
    // r17 note (guide §1 — measured BOTH scales before choosing): the
    // quadgram trunk has two consumers split by qcnt's checkpoint (the
    // model job and the final per-doc join), so the trunk executes
    // twice. A trunk-level gatedCheckpoint removes the recompute and
    // measured ~0.5 s faster for ta_lm_kn4 at sf0.1 in a same-JVM
    // back-to-back read (3.08 vs 3.56) — but it makes ta_lm_kn4_levels
    // PAY a corpus-occurrence materialization it never reads (~0.4 s),
    // and the occurrence table is the one table here that grows with
    // the CORPUS, not the lexicon — at 100 TB block-manager-
    // materializing it is the riskier side of a tie, while the
    // recomputed trunk is the compiled [[lmNgramsOf]] kernel.
    // Do not re-add the checkpoint without a clean-window `ScaleSmoke
    // sf10cd` comparison for ta_lm_kn4.
    //
    // r18 (VERDICT r17 ask #1, all three shapes measured): removing
    // the qcnt checkpoint outright (one DAG, exchange reuse) measured
    // 2.82 → 4.58 s — AQE's stage cache does NOT bridge the seven
    // model aggregates the checkpoint serves, so the cut stays. The
    // adopted shape instead makes the RECOMPUTED side cheaper: the
    // per-doc rollup joins the RAW quadgram stream on (a,b,c,d) and
    // counts occurrences AFTER the join (sum(n_occ) over the (doc,
    // 4-gram) aggregate == count(*) over the raw stream — integer-
    // identical), so the recomputed trunk pays ONE corpus-mass
    // exchange (abcd, feeding the lexicon join) instead of two (the
    // (doc,abcd) occurrence aggregation + the abcd re-shuffle).
    // Isolated min-of-4 at sf0.1: 2.852 → 2.696 s; ×100 sf10cd
    // numbers in OPTIMIZATION_r18.md.
    val qstream = lmNgramsOf(docs, "a", "b", "c", "d")
    val qocc = qstream
      .groupBy($"doc_id", $"a", $"b", $"c", $"d")
      .agg(count(lit(1)).as("n_occ"))
    // self-trained (None): the model's 4-gram table re-aggregates the
    // (doc_id, 4-gram) occurrence table rather than aggregating the
    // raw quadgram stream directly. This is a MEASURED choice, not an
    // obvious one — the direct single-shuffle form looks cheaper on
    // paper (narrower key, one exchange), and at sf0.1 the two are
    // neutral, but at the ×100 deep-salted Heaps worst case the
    // direct trunk measured 213.5 s (ratio 22.3) against this form's
    // 84.3 s (ratio 10.9): with near-unique types, map-side combine
    // buys nothing for either key, and the two-step form's second
    // aggregation consumes an already-reduced, already-partitioned
    // stream instead of re-paying the raw corpus through one giant
    // hash aggregation. Checkpointed: type-lexicon-sized, SEVEN model
    // aggregates read it below.
    val qcnt = qcntOpt.getOrElse(
        qocc.groupBy($"a", $"b", $"c", $"d").agg(sum($"n_occ").as("c4")))
      .gatedCheckpoint()
    val ctx4 = qcnt.groupBy($"a", $"b", $"c").agg(sum($"c4").as("ctx4"))
    val cont3 = qcnt.groupBy($"b", $"c", $"d")
      .agg(count(lit(1)).as("cont3"))
    val ctx3 = qcnt.groupBy($"b", $"c").agg(count(lit(1)).as("ctx3"))
    val cont2 = cont3.groupBy($"c", $"d").agg(count(lit(1)).as("cont2"))
    val ctx2 = cont3.groupBy($"c").agg(count(lit(1)).as("ctx2"))
    val cont1 = cont2.groupBy($"d").agg(count(lit(1)).as("cont1"))
    val vdf = vdfOpt.getOrElse(
      lmTokensOf(docs).select($"w").distinct().agg(count(lit(1)).as("v")))
    val scalars = vdf.crossJoin(cont2.agg(count(lit(1)).as("ctx1")))
    // self-trained: the scored lexicon IS the model's key set (qcnt
    // re-aggregates from this very frame), so the base is qcnt itself
    // and the c4 join would be a self-join no-op — skip it. Frozen
    // model: the lexicon comes from the SCORED frame and c4 attaches
    // by left join (absent → backoff). Identical columns either way;
    // the coalesce guards below are no-ops on the self-trained path.
    val base = qcntOpt match {
      case None => qcnt
      case Some(_) => qstream.select($"a", $"b", $"c", $"d").distinct()
        .join(qcnt, Seq("a", "b", "c", "d"), "left")
    }
    val c4v = coalesce($"c4", lit(0L))
    val cont3v = coalesce($"cont3", lit(0L))
    val cont2v = coalesce($"cont2", lit(0L))
    val level = when(c4v >= 2, lit(0L))
      .when(cont3v >= 2, lit(1L))
      .when(cont2v >= 2, lit(2L))
      .otherwise(lit(3L))
    // length(bin(x)) - 1 = ⌊log₂ x⌋; the +1-bit-per-level penalty
    // folds into the constant (-1, 0, +1, +2). The DIV operands ride
    // the same coalesce as the guards so a frozen-model null can
    // never poison an expression (the guarded branch is unreached,
    // but Spark evaluates `when` arms' inputs eagerly under codegen).
    val bits = when(c4v >= 2,
        (length(conv(expr(
          "(ctx4 + v) DIV (coalesce(c4, 0) + 1)"), 10, 2)) - 1)
          .cast("long"))
      .when(cont3v >= 2,
        length(conv(expr(
          "(ctx3 + v) DIV (coalesce(cont3, 0) + 1)"), 10, 2))
          .cast("long"))
      .when(cont2v >= 2,
        (length(conv(expr(
          "(ctx2 + v) DIV (coalesce(cont2, 0) + 1)"), 10, 2)) + 1)
          .cast("long"))
      .otherwise(
        (length(conv(expr("(ctx1 + v) DIV (cont1 + 1)"), 10, 2)) + 2)
          .cast("long"))
    // r18 NEGATIVE RESULT, measured and pinned (VERDICT r17 ask #2):
    // the collapsed form — pre-joining the four backoff tables at
    // (b,c,d) trigram-lexicon mass and attaching (bo_level, bo_bits)
    // to the 4-gram lexicon in ONE join — was implemented in-place for
    // the self-trained path and measured in the FULL query at both
    // scales: sf0.1 isolated min-of-4 ta_lm_kn4 2.503 → 3.421 s,
    // ta_lm_kn4_levels 1.665 → 3.338 s; ×100 deep-salted sf10cd
    // same-session warm A/B 79.4 → 106.6 s. The isolated scored-only
    // probe that had favored it (ProbeR17 kn4chain: 44.5 → 35.5 s at
    // ×100) carried a qocc checkpoint contaminant in its variant; the
    // clean in-query form loses at BOTH scales (the deep-salted
    // lexicon is near-unique, so trigram-mass ≈ 4-gram-mass and the
    // pre-join only adds exchange width). Do not re-collapse without
    // beating the full-query numbers above.
    val scored = base
      .join(ctx4, Seq("a", "b", "c"), "left")
      .join(cont3, Seq("b", "c", "d"), "left")
      .join(ctx3, Seq("b", "c"), "left")
      .join(cont2, Seq("c", "d"), "left")
      .join(ctx2, Seq("c"), "left")
      .join(cont1, Seq("d"))
      .crossJoin(broadcast(scalars))
      .select($"a", $"b", $"c", $"d", $"c4",
        level.as("level"), bits.as("bits"))
    (qstream, scored)
  }

  /** Per-doc KN-4-gram surprisal over any (doc_id, text) frame:
    * 4-gram count, backoff count (occurrences scored below level 0 —
    * the model-coverage diagnostic), total bits, bits/4-gram (ONE
    * IEEE division). Docs under 4 tokens have no 4-grams and are
    * absent, the n-gram family convention.
    */
  def lmKn4SurprisalOf(docs: DataFrame): DataFrame = {
    val (qstream, scored) = lmKn4Scored(docs)
    lmKn4PerDoc(qstream, scored)
  }

  /** The per-doc rollup over a scored 4-gram lexicon — shared by the
    * one-shot and the incremental twin so the output columns cannot
    * drift. Takes the RAW (doc_id, a, b, c, d) occurrence stream and
    * counts after the lexicon join (r18): one corpus-mass exchange on
    * the recomputed trunk instead of two; sum(n_occ) over the (doc,
    * 4-gram) aggregate == count(*) over the stream, integer-identical.
    */
  private[graft] def lmKn4PerDoc(qstream: DataFrame,
      scored: DataFrame): DataFrame = {
    val s = qstream.sparkSession
    import s.implicits._
    qstream
      .join(scored, Seq("a", "b", "c", "d"))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_quadgrams"),
        sum(when($"level" >= 1, 1L).otherwise(0L)).as("n_backoff"),
        sum($"bits").as("total_bits"))
      .select($"doc_id", $"n_quadgrams", $"n_backoff", $"total_bits",
        ($"total_bits".cast("double") / $"n_quadgrams".cast("double"))
          .as("bits_per_quadgram"))
      .orderBy("doc_id")
  }

  def taLmKn4(s: SparkSession, dir: String): DataFrame =
    lmKn4SurprisalOf(t(s, dir, "documents"))

  /** ta_lm_kn4_levels: the backoff-ladder census — per scoring level,
    * distinct 4-gram types, occurrence mass, and total bits. The
    * model-capacity audit a pipeline owner reads to size the n-gram
    * order (a corpus scoring mostly at level ≥ 2 does not support a
    * 4-gram model; one scoring mostly at level 0 might support a
    * 5-gram). Four-row output: one |levels|-bounded rollup over the
    * scored lexicon joined to the occurrence aggregate.
    */
  def taLmKn4Levels(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // self-trained, so each type's occurrence mass IS its model count
    // c4 (qcnt re-aggregates from the same frame) — the census reads
    // the scored LEXICON alone, no occurrence-stream join (the same
    // identity the DuckDB oracle exploits)
    val (_, scored) = lmKn4Scored(t(s, dir, "documents"))
    scored.groupBy($"level")
      .agg(count(lit(1)).as("n_types"),
        sum($"c4").as("n_occ"),
        sum($"bits" * $"c4").as("total_bits"))
      .orderBy("level")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "ta_lm_surprisal" -> taLmSurprisal,
    "ta_lm_quality_hist" -> taLmQualityHist,
    "ta_lm_trigram" -> taLmTrigram,
    "ta_lm_backoff_rate" -> taLmBackoffRate,
    "ta_lm_kn4" -> taLmKn4,
    "ta_lm_kn4_levels" -> taLmKn4Levels,
    "ta_zipf_dyadic" -> taZipfDyadic,
    // oracle-gated since r12: frozen-merge replay ([[bpeEncodeCtes]])
    "ta_fertility" -> ((s, d) => taFertility(s, d)),
    "ta_novelty" -> taNovelty,
    "ta_bm25" -> ((s, d) => taBm25(s, d)),
    "ta_bm25_multi" -> ((s, d) => taBm25Multi(s, d)),
    "ta_heavy_hitters" -> taHeavyHitters,
    "ta_cms_freq" -> taCmsFreq,
    // oracle-gated since r12: FULL independent replay — DuckDB re-runs
    // all V training rounds including each round's argmax
    // ([[bpeTrainOracleSql]]), resolving the r11 "BPE endgame" ask
    "ta_bpe_train" -> ((s, d) => taBpeTrain(s, d)),
    // oracle-gated since r12: frozen-merge replay over the distinct
    // vocabulary ([[bpeEncodeOracleSql]])
    "ta_bpe_encode" -> ((s, d) => taBpeEncode(s, d)),
    // new in r12, oracle-gated: merge-budget ablation curve (one
    // kernel pass, snapshots at each budget; [[bpeCurveOracleSql]])
    "ta_bpe_curve" -> ((s, d) => taBpeCurve(s, d)),
    "ta_char_diversity" -> taCharDiversity,
    "ta_pii_redact" -> taPiiRedact,
    "ta_repetition" -> taRepetition,
    "ta_tokens" -> taTokens,
    "ta_quality" -> taQuality,
    "ta_gopher_rules" -> taGopherRules,
    "ta_filter_ablation" -> taFilterAblation,
    "ta_garbage_score" -> taGarbageScore,
    "ta_langid" -> taLangId,
    "ta_lang_confusion" -> taLangConfusion,
    "ta_fingerprint" -> taFingerprint,
    "ta_bpe_tokens" -> taBpeTokens,
    // rows-only: JVM-hash winnow fingerprints (the md5-portable twin
    // ta_winnow_portable carries the full oracle)
    "ta_winnow" -> taWinnow,
    "ta_winnow_portable" -> taWinnowPortable,
    "dedup_winnow_pairs" -> dedupWinnowPairs,
    // rows-only FOREVER (VERDICT r10 ask #5 located proof): the value
    // IS zlib's output size, an implementation detail of the codec —
    // level, 32K window, lazy-match heuristics — that no SQL engine
    // reproduces; any portable reformulation is a DIFFERENT statistic,
    // which is exactly what ta_compression_portable registers below.
    // Discrimination property (repetitive << diverse) is spec-pinned.
    "ta_compression_ratio" -> taCompressionRatio,
    "ta_compression_portable" -> taCompressionPortable)

  // ---- BPE replay oracles (VERDICT r11 ask #3) ----

  /** The wrapped-symbol string encoding behind the BPE replay oracles:
    * a word's symbol sequence renders as U+001F-wrapped symbols
    * ("␟a␟␟b␟␟c␟"), chosen so that
    *  (a) plain SQL `replace` of "␟a␟␟b␟" with "␟ab␟" IS the trainer's
    *      greedy left-to-right non-overlapping fuse — the separators
    *      anchor whole-symbol matches, and consecutive fuse sites
    *      share no characters, so the scan-after-replacement semantics
    *      of `replace` equal the kernel's i+=2 advance; and
    *  (b) splitting on "␟␟" recovers the symbol list for the
    *      OVERLAPPING adjacent pair count the trainer records — count
    *      and fuse genuinely differ when left==right ([a,a,a] has two
    *      countable pairs but one greedy fuse), so the count must NOT
    *      be derived from replace's length delta.
    * Every chained CTE is MATERIALIZED: DuckDB inlines plain CTEs, and
    * a t(r-1) referenced by both round r's count and round r's fuse
    * would otherwise expand 2^V scans.
    */
  private val BpeSep = "\u001f"

  private def sqlLit(x: String) = "'" + x.replace("'", "''") + "'"

  /** Replay safety for the data-derived DuckDB oracles (BPE family here,
    * the fnv64/splitmix64 simhash replay in [[graft.ops.Dedup]]): TRUE
    * iff every document is printable-ASCII plus {\t, \n, \f, \r} with no
    * NULL texts. That closed class is exactly where the two engines'
    * text primitives provably agree:
    *  - Java regex `\s` vs DuckDB RE2 `\s` (U+000B is whitespace only to
    *    Java — a VT-split corpus tokenizes differently on the two sides);
    *  - `lower()` (locale-style mappings such as U+0130 İ → "i̇" are
    *    Java-side multi-char expansions RE2-side lower never performs);
    *  - per-UTF-16-char iteration vs per-codepoint iteration (non-BMP),
    *    which the U+001F-separator BPE encoding and the per-char fnv64
    *    fold both assume;
    *  - DuckDB `unicode(substr(s,i,1))` == Java `charAt(i)`.
    * One bounded aggregate; on a violation the data-derived oracle
    * entries are simply omitted → the rows-only fallback (r12 ADVICE #1:
    * the old guard rejected only U+001F and non-BMP, so a VT or İ corpus
    * could pass the guard yet diverge — this class is closed under every
    * primitive the replays use).
    */
  private[ops] def asciiReplaySafe(s: SparkSession, dir: String): Boolean = {
    def compute(): Boolean =
      t(s, dir, "documents")
        .agg(coalesce(sum(when(col("text").isNull, lit(1L)).otherwise(
          regexp_count(col("text"), lit("[^\\x20-\\x7e\\t\\n\\f\\r]")))),
          lit(0L)))
        .head().getLong(0) == 0L
    // the guard is a full corpus scan and BOTH oracle gates (BPE here,
    // simhash in Dedup) consult it per Verify run — memoize on the
    // local parquet listing's signature so a rewritten fixture dir
    // invalidates; non-local paths skip the memo (correctness over
    // reuse). r13 ADVICE #3: millisecond lastModified can miss an
    // in-place same-size rewrite inside one mtime tick, so the key
    // carries NANOSECOND mtimes (Files.getLastModifiedTime) plus file
    // count — and the memo is bounded (a Verify run touches a handful
    // of dirs; clearing on overflow only costs a rescan).
    val d = new java.io.File(s"$dir/documents.parquet")
    if (!d.isDirectory) compute()
    else {
      val files = d.listFiles()
      if (files == null) compute()
      else {
        def mtimeNs(f: java.io.File): Long =
          try java.nio.file.Files.getLastModifiedTime(f.toPath)
            .to(java.util.concurrent.TimeUnit.NANOSECONDS)
          catch { case _: java.io.IOException => f.lastModified }
        val sig = dir + "|n=" + files.length + "|" + files.sortBy(_.getName)
          .map(f => s"${f.getName}:${f.length}:${mtimeNs(f)}")
          .mkString(",")
        if (replaySafeMemo.size > 64) replaySafeMemo.clear()
        replaySafeMemo.computeIfAbsent(sig, _ => compute()).booleanValue()
      }
    }
  }

  private val replaySafeMemo =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Boolean]()

  private def bpeReplaySafe(s: SparkSession, dir: String): Boolean =
    asciiReplaySafe(s, dir)

  private def bpeTokSql(cols: String) = s"""
      tk AS (
        SELECT $cols unnest(list_filter(
          string_split_regex(trim(lower(text)), '\\s+'),
          x -> len(x) > 0)) AS w
        FROM documents)"""

  private def bpeWrapExpr(c: String) =
    s"${sqlLit(BpeSep)} || array_to_string(string_split($c, ''), " +
      s"${sqlLit(BpeSep + BpeSep)}) || ${sqlLit(BpeSep)}"

  /** ta_bpe_train oracle: the FULL INDEPENDENT training replay — no
    * frozen literals except the round count. DuckDB re-derives, per
    * unrolled round: every adjacent-pair count over the current
    * symbol-sequence table (overlapping count via the recovered symbol
    * list), the argmax under the trainer's total order (count desc,
    * left asc, right asc — byte-order string compare equals the
    * kernel's UTF-16 compare on the [[bpeReplaySafe]]-guarded BMP
    * corpus), and the greedy fuse of the winner (the `replace`
    * equivalence documented on [[BpeSep]]). Strictly stronger than the
    * frozen-pair pattern: a wrong merge choice, not just a wrong
    * count, fails the gate.
    */
  def bpeTrainOracleSql(s: SparkSession, dir: String): String = {
    val n = s.read.parquet(ensureBpeMerges(s, dir)).count().toInt
    if (n == 0)
      return """
      SELECT CAST(NULL AS BIGINT) AS rank, CAST(NULL AS VARCHAR) AS "left",
        CAST(NULL AS VARCHAR) AS "right", CAST(NULL AS BIGINT) AS pair_freq
      WHERE FALSE"""
    val S = sqlLit(BpeSep)
    val SS = sqlLit(BpeSep + BpeSep)
    val rounds = (1 to n).map { r =>
      s"""      p$r AS (
        SELECT u.p['a'] AS a, u.p['b'] AS b, CAST(SUM(t.freq) AS BIGINT) AS cnt
        FROM (SELECT freq, string_split(substr(s, 2, len(s) - 2), $SS) AS syms
              FROM t${r - 1}) t,
          UNNEST([{'a': syms[i], 'b': syms[i + 1]}
                  for i in range(1, len(syms))]) u(p)
        GROUP BY 1, 2),
      m$r AS MATERIALIZED (
        SELECT a, b, cnt FROM p$r ORDER BY cnt DESC, a ASC, b ASC LIMIT 1),
      t$r AS MATERIALIZED (
        SELECT t.freq, replace(t.s, $S || m.a || $SS || m.b || $S,
          $S || m.a || m.b || $S) AS s
        FROM t${r - 1} t CROSS JOIN m$r m)"""
    }.mkString(",\n")
    val finals = (1 to n).map { r =>
      s"""SELECT CAST($r AS BIGINT) AS rank, a AS "left", b AS "right",
        cnt AS pair_freq FROM m$r"""
    }.mkString(" UNION ALL ")
    s"""
      WITH ${bpeTokSql("")},
      wf AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS freq FROM tk GROUP BY w),
      t0 AS MATERIALIZED (SELECT freq, ${bpeWrapExpr("w")} AS s FROM wf),
$rounds
      SELECT rank, "left", "right", pair_freq FROM ($finals) ORDER BY rank"""
  }

  /** Shared CTE chain for the encode-side oracles: tokenize (kept per
    * occurrence), encode the DISTINCT vocabulary under the frozen
    * merge chain (the kernel's memo, as SQL), join back, aggregate per
    * doc. Ends in `agg(doc_id, n_words, n_syms)` + `occ(doc_id, syms)`.
    */
  private def bpeEncodeCtes(merges: Seq[(String, String)]): String = {
    val S = BpeSep
    val chain = merges.zipWithIndex.map { case ((a, b), i) =>
      s"""      v${i + 1} AS (SELECT w, replace(s, ${sqlLit(S + a + S + S + b + S)},
        ${sqlLit(S + a + b + S)}) AS s FROM v$i)"""
    }
    val chainSql = if (chain.isEmpty) "" else chain.mkString(",\n") + ",\n"
    s"""${bpeTokSql("doc_id,")},
      vocab AS (SELECT DISTINCT w FROM tk),
      v0 AS (SELECT w, ${bpeWrapExpr("w")} AS s FROM vocab),
$chainSql      enc AS MATERIALIZED (
        SELECT w, string_split(substr(s, 2, len(s) - 2),
          ${sqlLit(S + S)}) AS syms
        FROM v${merges.length}),
      occ AS MATERIALIZED (
        SELECT tk.doc_id, e.syms FROM tk JOIN enc e USING (w)),
      agg AS (
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_words,
          CAST(COALESCE(SUM(len(syms)), 0) AS BIGINT) AS n_syms
        FROM occ GROUP BY doc_id)"""
  }

  /** ta_bpe_encode oracle: frozen-merge replay (the quantizer/codebook
    * contract — the merge table is the frozen MODEL; everything the
    * query emits re-derives independently).
    */
  def bpeEncodeOracleSql(s: SparkSession, dir: String): String = {
    val merges = readBpeMerges(s, ensureBpeMerges(s, dir))
    s"""
      WITH ${bpeEncodeCtes(merges)},
      symc AS (
        SELECT doc_id, sym, COUNT(*) AS c
        FROM (SELECT doc_id, unnest(syms) AS sym FROM occ)
        GROUP BY doc_id, sym),
      top AS (
        SELECT doc_id, sym, c FROM (
          SELECT doc_id, sym, c, ROW_NUMBER() OVER (PARTITION BY doc_id
            ORDER BY c DESC, sym ASC) AS rk FROM symc) WHERE rk = 1)
      SELECT d.doc_id, COALESCE(a.n_words, 0) AS n_words,
        COALESCE(a.n_syms, 0) AS n_syms, COALESCE(tp.sym, '') AS top_sym,
        CAST(COALESCE(tp.c, 0) AS BIGINT) AS top_freq
      FROM documents d
      LEFT JOIN agg a ON d.doc_id = a.doc_id
      LEFT JOIN top tp ON d.doc_id = tp.doc_id
      ORDER BY d.doc_id"""
  }

  /** ta_fertility oracle: the encode replay reduced per source —
    * integer sums, then the same two single IEEE divisions as the
    * Spark select.
    */
  def bpeFertilityOracleSql(s: SparkSession, dir: String): String = {
    val merges = readBpeMerges(s, ensureBpeMerges(s, dir))
    s"""
      WITH ${bpeEncodeCtes(merges)},
      j AS (
        SELECT d.doc_id, d.source, CAST(len(d.text) AS BIGINT) AS n_chars,
          COALESCE(a.n_words, 0) AS n_words, COALESCE(a.n_syms, 0) AS n_syms
        FROM documents d LEFT JOIN agg a ON d.doc_id = a.doc_id)
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        CAST(SUM(n_chars) AS BIGINT) AS n_chars,
        CAST(SUM(n_words) AS BIGINT) AS n_words,
        CAST(SUM(n_syms) AS BIGINT) AS n_syms,
        CAST(SUM(n_chars) AS DOUBLE) / CAST(SUM(n_syms) AS DOUBLE)
          AS chars_per_sym,
        CAST(SUM(n_syms) AS DOUBLE) / CAST(SUM(n_words) AS DOUBLE)
          AS syms_per_word
      FROM j GROUP BY source ORDER BY source"""
  }

  /** ta_bpe_curve oracle: ONE shared frozen-merge chain over the
    * (word, freq) vocabulary with a per-budget symbol-count snapshot —
    * the same single-pass shape as the Spark kernel. Budgets beyond
    * the trained merge count snapshot the full chain on both sides.
    */
  def bpeCurveOracleSql(s: SparkSession, dir: String): String = {
    val merges = readBpeMerges(s, ensureBpeMerges(s, dir))
    val S = BpeSep
    val chain = merges.zipWithIndex.map { case ((a, b), i) =>
      s"""      u${i + 1} AS MATERIALIZED (
        SELECT freq, replace(s, ${sqlLit(S + a + S + S + b + S)},
          ${sqlLit(S + a + b + S)}) AS s FROM u$i)"""
    }
    val chainSql = if (chain.isEmpty) "" else chain.mkString(",\n") + ",\n"
    val budgetSelects = BpeCurveBudgets.distinct.sorted.map { b =>
      val pos = math.min(b, merges.length)
      s"""SELECT CAST($b AS BIGINT) AS budget,
        CAST(SUM(freq) AS BIGINT) AS n_words,
        CAST(SUM(freq * len(string_split(substr(s, 2, len(s) - 2),
          ${sqlLit(S + S)}))) AS BIGINT) AS n_syms
        FROM u$pos HAVING COUNT(*) > 0"""
    }.mkString(" UNION ALL ")
    s"""
      WITH ${bpeTokSql("")},
      wf AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS freq FROM tk GROUP BY w),
      u0 AS MATERIALIZED (SELECT freq, ${bpeWrapExpr("w")} AS s FROM wf),
$chainSql      curve AS ($budgetSelects)
      SELECT budget, n_words, n_syms,
        CAST(n_syms AS DOUBLE) / CAST(n_words AS DOUBLE) AS syms_per_word
      FROM curve ORDER BY budget"""
  }

  /** Static entries plus — when [[Similarity.oracleContext]] is set by
    * Verify and the corpus passes [[bpeReplaySafe]] — the four
    * data-derived BPE replay oracles and the winnow mod-2^64 replay
    * (r14: ta_winnow moves rows-only → hash-exact, leaving
    * ta_compression_ratio as the single located-forever rows-only
    * entry — a zlib codec output size is genuinely not SQL-replayable).
    */
  def oracles: Map[String, String] =
    staticOracles ++
      graft.ops.Similarity.oracleContext.flatMap { case (s, dir) =>
        if (!bpeReplaySafe(s, dir)) None
        else Some(Map(
          "ta_bpe_train" -> bpeTrainOracleSql(s, dir),
          "ta_bpe_encode" -> bpeEncodeOracleSql(s, dir),
          "ta_fertility" -> bpeFertilityOracleSql(s, dir),
          "ta_bpe_curve" -> bpeCurveOracleSql(s, dir),
          "ta_winnow" -> winnowReplayOracleSql))
      }.getOrElse(Map.empty)

  private val enPat = "\\b(" + langProfiles.head._2.mkString("|") + ")\\b"
  private def hitsSql(pat: String) =
    s"CAST(len(regexp_extract_all(text, '$pat')) AS BIGINT)"

  /** The DuckDB twin of the planted contact block + redaction chain —
    * `||` casts doc_id the same way concat does, and the pattern texts
    * are shared constants so the two engines run literally the same
    * regexes.
    */
  private val piiRedactSql = {
    def rr(inner: String, pat: String, tok: String) =
      s"regexp_replace($inner, '$pat', '$tok', 'g')"
    val chain = rr(rr(rr(rr("txt", PiiUrl, "<URL>"), PiiEmail, "<EMAIL>"),
      PiiIp, "<IP>"), PiiPhone, "<PHONE>")
    s"""
      WITH p AS (
        SELECT doc_id,
          text || ' Contact user' || doc_id || '@example.com or http://site'
               || (doc_id % 10) || '.example.org/a?b=1 at 192.168.'
               || (doc_id % 256) || '.7 tel 555-123-4567.' AS txt
        FROM documents)
      SELECT doc_id,
        CAST(len(regexp_extract_all(txt, '$PiiEmail')) AS BIGINT) AS n_emails,
        CAST(len(regexp_extract_all(txt, '$PiiUrl')) AS BIGINT) AS n_urls,
        CAST(len(regexp_extract_all(txt, '$PiiIp')) AS BIGINT) AS n_ips,
        CAST(len(regexp_extract_all(txt, '$PiiPhone')) AS BIGINT) AS n_phones,
        md5($chain) AS redacted_md5,
        CAST(length($chain) AS BIGINT) AS redacted_len
      FROM p ORDER BY doc_id"""
  }

  /** The registered query's terms as a DuckDB VALUES list, (1-based
    * order, term) — the oracle folds contributions in this order, like
    * the kernel.
    */
  private def bm25TermValues: String =
    bm25Terms(Bm25Query).zipWithIndex.map { case (t, i) => s"(${i + 1}, '$t')" }.mkString(", ")

  /** (qid, fold-order i, term) VALUES for the multi-query oracle. */
  private def bm25MultiTermValues: String =
    Bm25MultiQueries.flatMap { case (qid, q) =>
      bm25Terms(q).zipWithIndex.map { case (t, i) => s"('$qid', ${i + 1}, '$t')" }
    }.mkString(", ")

  /** Shared CTEs of the two LM-surprisal oracles: the add-one bigram
    * model's count tables and the per-doc integer surprisal rollup —
    * `length(bin(den // num)) − 1` is the same integer floor-log₂ the
    * Spark side computes via `length(conv(den DIV num, 10, 2)) − 1`.
    */
  /** Shared CTEs of the trigram-backoff oracles: the three count
    * tables and the per-doc Katz-style rollup (`perdoc3`). Same
    * integer-floor-log₂ and backoff-penalty folds as the Spark kernel;
    * every chained CTE MATERIALIZED (the BPE 2^N-inline lesson).
    */
  private[ops] def lmTrigramCtes: String = s"""
      ws AS MATERIALIZED (
        SELECT doc_id, list_filter(string_split_regex(trim(text), '\\s+'),
          x -> len(x) > 0) AS tk
        FROM documents),
      toks AS (SELECT doc_id, unnest(tk) AS w FROM ws),
      uni AS MATERIALIZED (
        SELECT w, CAST(COUNT(*) AS BIGINT) AS c_w FROM toks GROUP BY w),
      vv AS (SELECT CAST(COUNT(*) AS BIGINT) AS v FROM uni),
      big AS MATERIALIZED (
        SELECT doc_id, tk[i] AS prev, tk[i + 1] AS w
        FROM ws, UNNEST(range(1, len(tk))) AS r(i)),
      bcnt AS MATERIALIZED (
        SELECT prev, w, CAST(COUNT(*) AS BIGINT) AS c_bw
        FROM big GROUP BY prev, w),
      tri AS MATERIALIZED (
        SELECT doc_id, tk[i] AS a, tk[i + 1] AS b, tk[i + 2] AS c
        FROM ws, UNNEST(range(1, len(tk) - 1)) AS r(i)),
      tcnt AS MATERIALIZED (
        SELECT a, b, c, CAST(COUNT(*) AS BIGINT) AS c_t
        FROM tri GROUP BY a, b, c),
      perdoc3 AS MATERIALIZED (
        SELECT t.doc_id, CAST(COUNT(*) AS BIGINT) AS n_trigrams,
          CAST(SUM(CASE WHEN tc.c_t >= 2 THEN 0 ELSE 1 END) AS BIGINT)
            AS n_backoff,
          CAST(SUM(CASE WHEN tc.c_t >= 2
            THEN length(bin((ab.c_bw + vv.v) // (tc.c_t + 1))) - 1
            ELSE length(bin((u.c_w + vv.v) // (bc.c_bw + 1))) END)
            AS BIGINT) AS total_bits
        FROM tri t
        JOIN tcnt tc ON t.a = tc.a AND t.b = tc.b AND t.c = tc.c
        JOIN bcnt ab ON ab.prev = t.a AND ab.w = t.b
        JOIN bcnt bc ON bc.prev = t.b AND bc.w = t.c
        JOIN uni u ON u.w = t.b
        CROSS JOIN vv
        GROUP BY t.doc_id)"""

  /** Shared CTEs of the KN-4-gram oracles: the continuation-count
    * recursion replayed verbatim — every model table an integer
    * DISTINCT-type aggregate of the 4-gram type table, the scoring
    * ladder the same floor-log₂ bit arithmetic (length(bin(x)) - 1),
    * the per-level penalty folded into the constant. All-integer, so
    * byte-exact across engines.
    */
  private[ops] def lmKn4Ctes: String = s"""
      ws AS MATERIALIZED (
        SELECT doc_id, list_filter(string_split_regex(trim(text), '\\s+'),
          x -> len(x) > 0) AS tk
        FROM documents),
      toks AS (SELECT doc_id, unnest(tk) AS w FROM ws),
      vv AS (SELECT CAST(COUNT(DISTINCT w) AS BIGINT) AS v FROM toks),
      quad AS MATERIALIZED (
        SELECT doc_id, tk[i] AS a, tk[i + 1] AS b, tk[i + 2] AS c,
          tk[i + 3] AS d
        FROM ws, UNNEST(range(1, len(tk) - 2)) AS r(i)),
      qcnt AS MATERIALIZED (
        SELECT a, b, c, d, CAST(COUNT(*) AS BIGINT) AS c4
        FROM quad GROUP BY a, b, c, d),
      kctx4 AS (SELECT a, b, c, CAST(SUM(c4) AS BIGINT) AS ctx4
        FROM qcnt GROUP BY a, b, c),
      kcont3 AS MATERIALIZED (
        SELECT b, c, d, CAST(COUNT(*) AS BIGINT) AS cont3
        FROM qcnt GROUP BY b, c, d),
      kctx3 AS (SELECT b, c, CAST(COUNT(*) AS BIGINT) AS ctx3
        FROM qcnt GROUP BY b, c),
      kcont2 AS MATERIALIZED (
        SELECT c, d, CAST(COUNT(*) AS BIGINT) AS cont2
        FROM kcont3 GROUP BY c, d),
      kctx2 AS (SELECT c, CAST(COUNT(*) AS BIGINT) AS ctx2
        FROM kcont3 GROUP BY c),
      kcont1 AS (SELECT d, CAST(COUNT(*) AS BIGINT) AS cont1
        FROM kcont2 GROUP BY d),
      kctx1 AS (SELECT CAST(COUNT(*) AS BIGINT) AS ctx1 FROM kcont2),
      kscored AS MATERIALIZED (
        SELECT q.a, q.b, q.c, q.d, q.c4,
          CASE WHEN q.c4 >= 2 THEN 0
               WHEN t3.cont3 >= 2 THEN 1
               WHEN t2.cont2 >= 2 THEN 2
               ELSE 3 END AS level,
          CAST(CASE WHEN q.c4 >= 2
            THEN length(bin((x4.ctx4 + vv.v) // (q.c4 + 1))) - 1
               WHEN t3.cont3 >= 2
            THEN length(bin((x3.ctx3 + vv.v) // (t3.cont3 + 1)))
               WHEN t2.cont2 >= 2
            THEN length(bin((x2.ctx2 + vv.v) // (t2.cont2 + 1))) + 1
            ELSE length(bin((x1.ctx1 + vv.v) // (t1.cont1 + 1))) + 2
            END AS BIGINT) AS bits
        FROM qcnt q
        JOIN kctx4 x4 ON x4.a = q.a AND x4.b = q.b AND x4.c = q.c
        JOIN kcont3 t3 ON t3.b = q.b AND t3.c = q.c AND t3.d = q.d
        JOIN kctx3 x3 ON x3.b = q.b AND x3.c = q.c
        JOIN kcont2 t2 ON t2.c = q.c AND t2.d = q.d
        JOIN kctx2 x2 ON x2.c = q.c
        JOIN kcont1 t1 ON t1.d = q.d
        CROSS JOIN vv CROSS JOIN kctx1 x1),
      kperdoc AS MATERIALIZED (
        SELECT g.doc_id, CAST(COUNT(*) AS BIGINT) AS n_quadgrams,
          CAST(SUM(CASE WHEN s.level >= 1 THEN 1 ELSE 0 END) AS BIGINT)
            AS n_backoff,
          CAST(SUM(s.bits) AS BIGINT) AS total_bits
        FROM quad g
        JOIN kscored s
          ON s.a = g.a AND s.b = g.b AND s.c = g.c AND s.d = g.d
        GROUP BY g.doc_id)"""

  private[ops] def lmSurprisalCtes: String = s"""
      ws AS MATERIALIZED (
        SELECT doc_id, list_filter(string_split_regex(trim(text), '\\s+'),
          x -> len(x) > 0) AS tk
        FROM documents),
      toks AS (SELECT doc_id, unnest(tk) AS w FROM ws),
      uni AS MATERIALIZED (
        SELECT w, CAST(COUNT(*) AS BIGINT) AS c_w FROM toks GROUP BY w),
      vv AS (SELECT CAST(COUNT(*) AS BIGINT) AS v FROM uni),
      big AS MATERIALIZED (
        SELECT doc_id, tk[i] AS prev, tk[i + 1] AS w
        FROM ws, UNNEST(range(1, len(tk))) AS r(i)),
      bcnt AS MATERIALIZED (
        SELECT prev, w, CAST(COUNT(*) AS BIGINT) AS c_bw
        FROM big GROUP BY prev, w),
      perdoc AS (
        SELECT b.doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
          CAST(SUM(length(bin((u.c_w + vv.v) // (c.c_bw + 1))) - 1)
            AS BIGINT) AS total_bits
        FROM big b
        JOIN bcnt c ON b.prev = c.prev AND b.w = c.w
        JOIN uni u ON u.w = b.prev
        CROSS JOIN vv
        GROUP BY b.doc_id)"""

  private val staticOracles: Map[String, String] = Map(
    "ta_lm_surprisal" -> s"""
      WITH $lmSurprisalCtes
      SELECT doc_id, n_bigrams, total_bits,
        CAST(total_bits AS DOUBLE) / CAST(n_bigrams AS DOUBLE)
          AS bits_per_bigram
      FROM perdoc ORDER BY doc_id""",
    "ta_lm_quality_hist" -> s"""
      WITH $lmSurprisalCtes
      SELECT
        CAST(FLOOR(CAST(total_bits AS DOUBLE) / CAST(n_bigrams AS DOUBLE))
          AS BIGINT) AS bpb_band,
        CAST(COUNT(*) AS BIGINT) AS n_docs,
        CAST(SUM(n_bigrams) AS BIGINT) AS n_bigrams
      FROM perdoc GROUP BY 1 ORDER BY bpb_band""",
    // Katz-style trigram backoff: reliable trigrams (c_t >= 2) score
    // the trigram estimate; singletons back off to the (b,c) bigram
    // estimate + 1 bit (length(bin(x)) = 1 + (length(bin(x)) - 1) IS
    // the penalty-plus-bit-length fold). Same integer-floor-log2
    // convention as the bigram oracle above.
    "ta_lm_trigram" -> s"""
      WITH $lmTrigramCtes
      SELECT doc_id, n_trigrams, n_backoff, total_bits,
        CAST(total_bits AS DOUBLE) / CAST(n_trigrams AS DOUBLE)
          AS bits_per_trigram
      FROM perdoc3 ORDER BY doc_id""",
    // KN-style 4-gram backoff: the continuation-count recursion,
    // all-integer, replayed level-for-level (lmKn4Ctes)
    "ta_lm_kn4" -> s"""
      WITH $lmKn4Ctes
      SELECT doc_id, n_quadgrams, n_backoff, total_bits,
        CAST(total_bits AS DOUBLE) / CAST(n_quadgrams AS DOUBLE)
          AS bits_per_quadgram
      FROM kperdoc ORDER BY doc_id""",
    // the backoff-ladder census: in the self-trained form each type's
    // occurrence mass IS its model count c4, so the rollup reads the
    // scored lexicon alone
    "ta_lm_kn4_levels" -> s"""
      WITH $lmKn4Ctes
      SELECT level, CAST(COUNT(*) AS BIGINT) AS n_types,
        CAST(SUM(c4) AS BIGINT) AS n_occ,
        CAST(SUM(bits * c4) AS BIGINT) AS total_bits
      FROM kscored GROUP BY level ORDER BY level""",
    // the per-doc trigram table rolled up by source — coverage audit
    "ta_lm_backoff_rate" -> s"""
      WITH $lmTrigramCtes
      SELECT d.source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        CAST(SUM(n_trigrams) AS BIGINT) AS n_trigrams,
        CAST(SUM(n_backoff) AS BIGINT) AS n_backoff,
        CAST(SUM(n_backoff) AS DOUBLE) / CAST(SUM(n_trigrams) AS DOUBLE)
          AS backoff_share,
        CAST(SUM(total_bits) AS DOUBLE) / CAST(SUM(n_trigrams) AS DOUBLE)
          AS bits_per_trigram
      FROM perdoc3 p JOIN documents d USING (doc_id)
      GROUP BY d.source ORDER BY d.source""",
    // the raw gram is the oracle's fingerprint (Spark uses xxhash64 —
    // the standing cross-hash convention); every output column is
    // exact integers + one final IEEE division
    "ta_compression_portable" -> s"""
      WITH d AS (
        SELECT doc_id, text, CAST(len(text) AS BIGINT) AS n_chars
        FROM documents),
      g AS (
        SELECT doc_id, substr(text, CAST(i AS INT), $CompressGramL) AS h
        FROM d, UNNEST(range(1, n_chars - $CompressGramL + 2)) u(i)
        WHERE n_chars >= $CompressGramL),
      agg AS (
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams,
          CAST(COUNT(DISTINCT h) AS BIGINT) AS n_distinct
        FROM g GROUP BY doc_id),
      est AS (
        SELECT d.doc_id, d.n_chars,
          COALESCE(n_grams, 0) AS n_grams,
          COALESCE(n_distinct, 0) AS n_distinct,
          CASE WHEN COALESCE(n_grams, 0) = 0 THEN d.n_chars
            ELSE n_distinct * $CompressGramL + (n_grams - n_distinct) * 2
          END AS est_bytes
        FROM d LEFT JOIN agg USING (doc_id))
      SELECT doc_id, n_chars, n_grams, n_distinct, est_bytes,
        CASE WHEN n_chars > 0 THEN
          CAST(est_bytes AS DOUBLE) / CAST(n_chars AS DOUBLE)
        END AS est_ratio
      FROM est
      ORDER BY doc_id""",
    // dyadic log₂ via binary-string length — exact integers in both
    // engines, so every regression sum is order-free; only the final
    // slope/intercept divisions are IEEE (same op order both sides)
    "ta_zipf_dyadic" -> s"""
      WITH tk AS (
        SELECT unnest(list_filter(string_split_regex(trim(lower(text)),
          '\\s+'), x -> len(x) > 0)) AS token
        FROM documents),
      f AS (
        SELECT token, CAST(COUNT(*) AS BIGINT) AS freq FROM tk
        GROUP BY token ORDER BY freq DESC, token ASC LIMIT $ZipfTopK),
      p AS (
        SELECT
          CAST(len(bin(CAST(ROW_NUMBER() OVER
            (ORDER BY freq DESC, token ASC) AS BIGINT))) - 1 AS BIGINT) AS x,
          CAST(len(bin(freq)) - 1 AS BIGINT) AS y
        FROM f),
      a AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(x) AS BIGINT) AS sx,
          CAST(SUM(y) AS BIGINT) AS sy, CAST(SUM(x * y) AS BIGINT) AS sxy,
          CAST(SUM(x * x) AS BIGINT) AS sxx
        FROM p)
      SELECT n AS n_ranked,
        CASE WHEN n * sxx <> sx * sx THEN
          CAST(n * sxy - sx * sy AS DOUBLE) /
            CAST(n * sxx - sx * sx AS DOUBLE) END AS slope,
        CASE WHEN n * sxx <> sx * sx THEN
          (CAST(sy AS DOUBLE) -
            (CAST(n * sxy - sx * sy AS DOUBLE) /
             CAST(n * sxx - sx * sx AS DOUBLE)) * CAST(sx AS DOUBLE)) /
            CAST(n AS DOUBLE) END AS intercept
      FROM a""",
    // same doc-distinct word-trigram space as the dedup family
    // (Dedup.shingleCte); hashed vs string shingles agree on every
    // count as long as fnv is collision-free on the corpus — the same
    // standing assumption the jaccard oracles rest on
    "ta_novelty" -> s"""
      WITH ${Dedup.shingleCte},
      first AS (SELECT sh AS g, MIN(doc_id) AS first_id FROM sh GROUP BY 1)
      SELECT s.doc_id,
        CAST(COUNT(*) AS BIGINT) AS n_shingles,
        CAST(SUM(CASE WHEN s.doc_id = f.first_id THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
        CAST(SUM(CASE WHEN s.doc_id = f.first_id THEN 1 ELSE 0 END) AS DOUBLE)
          / CAST(COUNT(*) AS DOUBLE) AS novelty
      FROM sh s JOIN first f ON s.sh = f.g
      GROUP BY s.doc_id
      ORDER BY s.doc_id""",
    "ta_bm25_multi" -> s"""
      WITH toks AS (
        SELECT doc_id,
          list_filter(string_split_regex(trim(lower(text)), '\\s+'), x -> len(x) > 0) AS tk
        FROM documents),
      base AS (SELECT doc_id, tk, CAST(len(tk) AS BIGINT) AS dl FROM toks WHERE len(tk) > 0),
      stats AS (
        SELECT CAST(count(*) AS BIGINT) AS nd, CAST(sum(dl) AS BIGINT) AS tt
        FROM base),
      terms(qid, i, term) AS (VALUES $bm25MultiTermValues),
      tf AS (
        SELECT b.doc_id, b.dl, t.qid, t.i,
          CAST(len(list_filter(b.tk, x -> x = t.term)) AS BIGINT) AS tf
        FROM base b CROSS JOIN terms t),
      dfs AS (
        SELECT qid, i, CAST(count(*) FILTER (WHERE tf > 0) AS BIGINT) AS df
        FROM tf GROUP BY qid, i),
      contrib AS (
        SELECT f.doc_id, f.qid, f.i,
          CAST((2*s.nd - 2*d.df + 1) * 44 * f.tf * s.tt AS DOUBLE) /
          CAST((2*d.df + 1) * (20*f.tf*s.tt + 6*s.tt + 18*f.dl*s.nd) AS DOUBLE) AS c
        FROM tf f JOIN dfs d ON f.qid = d.qid AND f.i = d.i CROSS JOIN stats s),
      scores AS (
        SELECT qid, doc_id, list_sum(list(c ORDER BY i)) AS score
        FROM contrib GROUP BY qid, doc_id),
      ranked AS (
        SELECT qid AS query_id,
          CAST(row_number() OVER (PARTITION BY qid
            ORDER BY score DESC, doc_id ASC) AS BIGINT) AS rank,
          doc_id, score
        FROM scores)
      SELECT query_id, rank, doc_id, score FROM ranked
      WHERE rank <= $Bm25PerQueryK
      ORDER BY query_id, rank""",
    "ta_heavy_hitters" -> s"""
      WITH toks AS (
        SELECT unnest(list_filter(
          string_split_regex(trim(lower(text)), '\\s+'), x -> len(x) > 0)) AS token
        FROM documents),
      tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM toks),
      cnt AS (SELECT token, CAST(count(*) AS BIGINT) AS freq FROM toks GROUP BY token)
      SELECT c.token, c.freq FROM cnt c CROSS JOIN tot t
      WHERE c.freq * $HhPhiInv > t.n
      ORDER BY c.freq DESC, c.token ASC""",
    "ta_cms_freq" -> {
      // one cell term per digest window: 3 hex nibbles at 1-based
      // positions 8r+1..8r+3 read base-16 — the CountMinAggregator.cellsOf
      // contract, replayed per-nibble because DuckDB has no conv()
      def cellSql(hexExpr: String): String =
        s"""(strpos('0123456789abcdef', substr($hexExpr, CAST(8*r+1 AS INT), 1)) - 1) * 256
          + (strpos('0123456789abcdef', substr($hexExpr, CAST(8*r+2 AS INT), 1)) - 1) * 16
          + (strpos('0123456789abcdef', substr($hexExpr, CAST(8*r+3 AS INT), 1)) - 1)"""
      val probeValues = CmsProbes.map(p => s"('$p')").mkString(", ")
      s"""
      WITH toks AS (
        SELECT unnest(list_filter(
          string_split_regex(trim(lower(text)), '\\s+'), x -> len(x) > 0)) AS token
        FROM documents),
      cnt AS (SELECT token, COUNT(*) AS c FROM toks GROUP BY token),
      rr AS (SELECT unnest(range(4)) AS r),
      cells AS (
        SELECT token, c, r, ${cellSql("md5(token)")} AS cell
        FROM cnt CROSS JOIN rr),
      sums AS (SELECT r, cell, SUM(c) AS s FROM cells GROUP BY r, cell),
      probe AS (SELECT * FROM (VALUES $probeValues) p(token)),
      pcells AS (
        SELECT token, r, ${cellSql("md5(token)")} AS cell
        FROM probe CROSS JOIN rr),
      est AS (
        SELECT p.token, MIN(COALESCE(s.s, 0)) AS est
        FROM pcells p LEFT JOIN sums s ON s.r = p.r AND s.cell = p.cell
        GROUP BY p.token)
      SELECT e.token, CAST(e.est AS BIGINT) AS est,
        CAST(COALESCE(c.c, 0) AS BIGINT) AS exact,
        CAST(e.est - COALESCE(c.c, 0) AS BIGINT) AS overcount
      FROM est e LEFT JOIN cnt c ON c.token = e.token
      ORDER BY e.token"""
    },
    "ta_bm25" -> s"""
      WITH toks AS (
        SELECT doc_id,
          list_filter(string_split_regex(trim(lower(text)), '\\s+'), x -> len(x) > 0) AS tk
        FROM documents),
      base AS (SELECT doc_id, tk, CAST(len(tk) AS BIGINT) AS dl FROM toks WHERE len(tk) > 0),
      stats AS (
        SELECT CAST(count(*) AS BIGINT) AS nd, CAST(sum(dl) AS BIGINT) AS tt
        FROM base),
      terms(i, term) AS (VALUES $bm25TermValues),
      tf AS (
        SELECT b.doc_id, b.dl, t.i,
          CAST(len(list_filter(b.tk, x -> x = t.term)) AS BIGINT) AS tf
        FROM base b CROSS JOIN terms t),
      dfs AS (
        SELECT i, CAST(count(*) FILTER (WHERE tf > 0) AS BIGINT) AS df
        FROM tf GROUP BY i),
      contrib AS (
        SELECT f.doc_id, f.i,
          CAST((2*s.nd - 2*d.df + 1) * 44 * f.tf * s.tt AS DOUBLE) /
          CAST((2*d.df + 1) * (20*f.tf*s.tt + 6*s.tt + 18*f.dl*s.nd) AS DOUBLE) AS c
        FROM tf f JOIN dfs d ON f.i = d.i CROSS JOIN stats s),
      scores AS (
        SELECT doc_id, list_sum(list(c ORDER BY i)) AS score
        FROM contrib GROUP BY doc_id)
      SELECT b.doc_id, b.dl AS n_tokens, sc.score
      FROM scores sc JOIN base b ON sc.doc_id = b.doc_id
      ORDER BY sc.score DESC, b.doc_id ASC LIMIT $Bm25TopN""",
    "ta_char_diversity" -> """
      WITH ch AS (
        SELECT doc_id,
          unnest([substr(text, i, 1) for i in range(1, len(text) + 1)]) AS c
        FROM documents WHERE len(text) > 0),
      cnt AS (SELECT doc_id, c, count(*) AS n FROM ch GROUP BY doc_id, c)
      SELECT doc_id,
        CAST(sum(n) AS BIGINT) AS n_chars_t,
        count(*) AS distinct_chars,
        CAST(sum(n * n) AS BIGINT) AS coll_mass,
        CAST(sum(n * n) AS DOUBLE)
          / (CAST(sum(n) AS DOUBLE) * CAST(sum(n) AS DOUBLE)) AS simpson
      FROM cnt GROUP BY doc_id ORDER BY doc_id""",
    "ta_pii_redact" -> piiRedactSql,
    "ta_repetition" -> """
      WITH toks AS (
        SELECT doc_id,
          unnest(list_filter(string_split_regex(trim(text), '\s+'), x -> len(x) > 0)) AS tk
        FROM documents),
      tc AS (SELECT doc_id, tk, COUNT(*) AS c FROM toks GROUP BY doc_id, tk),
      ts AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tokens,
               COUNT(*) AS n_distinct, MAX(c) AS max_c
             FROM tc GROUP BY doc_id),
      sstat AS (
        SELECT doc_id, len(ss) AS n_sents, len(list_distinct(ss)) AS n_distinct_sents
        FROM (SELECT doc_id, list_filter(string_split(text, '. '), x -> len(x) > 0) AS ss
              FROM documents))
      SELECT d.doc_id,
        CAST(COALESCE(ts.n_tokens, 0) AS BIGINT) AS n_tokens,
        CAST(COALESCE(ts.n_distinct, 0) AS BIGINT) AS n_distinct_tokens,
        CASE WHEN COALESCE(ts.n_tokens, 0) = 0 THEN 0.0
             ELSE CAST(ts.n_distinct AS DOUBLE) / ts.n_tokens END AS distinct_ratio,
        CASE WHEN COALESCE(ts.n_tokens, 0) = 0 THEN 0.0
             ELSE CAST(ts.max_c AS DOUBLE) / ts.n_tokens END AS max_token_frac,
        CAST(COALESCE(s.n_sents, 0) AS BIGINT) AS n_sents,
        CASE WHEN COALESCE(s.n_sents, 0) = 0 THEN 0.0
             ELSE CAST(s.n_sents - s.n_distinct_sents AS DOUBLE) / s.n_sents END AS dup_sent_frac
      FROM documents d
      LEFT JOIN ts ON d.doc_id = ts.doc_id
      LEFT JOIN sstat s ON d.doc_id = s.doc_id
      ORDER BY d.doc_id""",
    "ta_tokens" -> """
      SELECT doc_id,
        CAST(len(list_filter(string_split_regex(trim(text), '\s+'), x -> len(x) > 0)) AS BIGINT) AS n_tokens,
        CAST(length(text) AS BIGINT) AS n_chars_calc
      FROM documents ORDER BY doc_id""",
    "ta_quality" -> s"""
      WITH base AS (
        SELECT doc_id, text,
          CAST(len(list_filter(string_split_regex(trim(text), '\\s+'), x -> len(x) > 0)) AS BIGINT) AS n_tokens,
          CAST(length(regexp_replace(text, '[a-z0-9 ]', '', 'g')) AS BIGINT) AS nonalpha,
          ${hitsSql(enPat)} AS stop_hits
        FROM documents)
      SELECT doc_id, n_tokens,
        CAST(stop_hits AS DOUBLE) / n_tokens AS stopword_ratio,
        CAST(nonalpha AS DOUBLE) / GREATEST(CAST(length(text) AS BIGINT), 1) AS nonalpha_ratio,
        CAST(length(replace(text, ' ', '')) AS DOUBLE) / n_tokens AS avg_token_len,
        (n_tokens >= 5 AND n_tokens <= 10000
          AND CAST(nonalpha AS DOUBLE) / GREATEST(CAST(length(text) AS BIGINT), 1) < 0.3) AS quality_ok
      FROM base ORDER BY doc_id""",
    "ta_langid" -> langIdOracleSql,
    // declared-vs-detected agreement matrix over the same langid CTE
    "ta_lang_confusion" -> s"""
      WITH pred AS ($langIdOracleSql),
      joined AS (
        SELECT d.lang AS lang_declared, p.lang_pred
        FROM documents d JOIN pred p ON d.doc_id = p.doc_id),
      agg AS (
        SELECT lang_declared, lang_pred, CAST(COUNT(*) AS BIGINT) AS n_docs
        FROM joined GROUP BY lang_declared, lang_pred),
      tot AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS t FROM agg)
      SELECT lang_declared, lang_pred, n_docs,
        lang_declared <> lang_pred AS mismatch,
        CAST(n_docs AS DOUBLE) / CAST(tot.t AS DOUBLE) AS share
      FROM agg, tot ORDER BY lang_declared, lang_pred""",
    "ta_gopher_rules" -> {
      val stopTerms = GopherStops.map(w =>
        s"CASE WHEN regexp_matches(lower(text), '\\b$w\\b') THEN 1 ELSE 0 END")
        .mkString(" + ")
      s"""
      WITH b AS (
        SELECT doc_id,
          CAST(len(list_filter(string_split_regex(trim(text), '\\s+'), x -> len(x) > 0)) AS BIGINT) AS n_words,
          CAST(length(regexp_replace(text, '\\s+', '', 'g')) AS BIGINT) AS word_chars,
          CAST(len(regexp_extract_all(text, '#')) AS BIGINT) AS n_hash,
          CAST(len(regexp_extract_all(text, '\\.\\.\\.|…')) AS BIGINT) AS n_ell,
          CAST(len(list_filter(string_split_regex(trim(text), '\\s+'),
            x -> len(x) > 0 AND regexp_matches(x, '[a-zA-Z]'))) AS BIGINT) AS n_alpha,
          CAST($stopTerms AS BIGINT) AS n_stop_hits
        FROM documents)
      SELECT doc_id, n_words,
        CAST(word_chars AS DOUBLE) / n_words AS mean_word_len,
        CAST(n_hash AS DOUBLE) / n_words AS hash_ratio,
        CAST(n_ell AS DOUBLE) / n_words AS ellipsis_ratio,
        CAST(n_alpha AS DOUBLE) / n_words AS alpha_word_frac,
        n_stop_hits,
        (n_words >= 50 AND n_words <= 100000
          AND CAST(word_chars AS DOUBLE) / n_words >= 3.0
          AND CAST(word_chars AS DOUBLE) / n_words <= 10.0
          AND CAST(n_hash AS DOUBLE) / n_words <= 0.1
          AND CAST(n_ell AS DOUBLE) / n_words <= 0.1
          AND CAST(n_alpha AS DOUBLE) / n_words >= 0.8
          AND n_stop_hits >= 2) AS passed
      FROM b ORDER BY doc_id"""
    },
    "ta_garbage_score" -> """
      WITH g AS (
        SELECT doc_id,
          CASE WHEN doc_id % 43 = 0
            THEN text || ' ' || chr(65533) || chr(65533) || ' zzzzxxxxqqqwwww 999999999999'
            ELSE text END AS txt
        FROM documents)
      SELECT doc_id,
        CAST(length(txt) AS BIGINT) AS n_chars_eff,
        CAST(len(regexp_extract_all(txt, '[^\x20-\x7E]')) AS BIGINT) AS n_non_ascii,
        CAST(len(regexp_extract_all(txt, chr(65533))) AS BIGINT) AS n_repl,
        regexp_matches(lower(txt), '[bcdfghjklmnpqrstvwxz]{7,}') AS has_long_run,
        CAST(len(regexp_extract_all(txt, '[0-9]')) AS DOUBLE)
          / CAST(length(txt) AS DOUBLE) AS digit_ratio,
        (len(regexp_extract_all(txt, chr(65533))) > 0
          OR regexp_matches(lower(txt), '[bcdfghjklmnpqrstvwxz]{7,}')
          OR CAST(len(regexp_extract_all(txt, '[0-9]')) AS DOUBLE)
             / CAST(length(txt) AS DOUBLE) > 0.3) AS is_garbage
      FROM g ORDER BY doc_id""",
    "ta_filter_ablation" -> {
      val stopTerms = GopherStops.map(w =>
        s"CASE WHEN regexp_matches(lower(text), '\\b$w\\b') THEN 1 ELSE 0 END")
        .mkString(" + ")
      val unions = GopherRuleNames.zipWithIndex.map { case (n, i) =>
        s"""SELECT ${i + 1} AS rule_id, '$n' AS rule,
            f$i AS n_fail, u$i AS n_unique_fail, w$i AS words_unique_fail
            FROM a"""
      }.mkString(" UNION ALL ") +
        " UNION ALL SELECT 7, 'any', fa, ua, wa FROM a"
      s"""
      WITH b AS (
        SELECT doc_id,
          CAST(len(list_filter(string_split_regex(trim(text), '\\s+'), x -> len(x) > 0)) AS BIGINT) AS n_words,
          CAST(length(regexp_replace(text, '\\s+', '', 'g')) AS BIGINT) AS word_chars,
          CAST(len(regexp_extract_all(text, '#')) AS BIGINT) AS n_hash,
          CAST(len(regexp_extract_all(text, '\\.\\.\\.|…')) AS BIGINT) AS n_ell,
          CAST(len(list_filter(string_split_regex(trim(text), '\\s+'),
            x -> len(x) > 0 AND regexp_matches(x, '[a-zA-Z]'))) AS BIGINT) AS n_alpha,
          CAST($stopTerms AS BIGINT) AS n_stop_hits
        FROM documents),
      fl AS (
        SELECT n_words AS nw,
          (n_words >= 50 AND n_words <= 100000) AS p0,
          (CAST(word_chars AS DOUBLE) / n_words >= 3.0
            AND CAST(word_chars AS DOUBLE) / n_words <= 10.0) AS p1,
          (CAST(n_hash AS DOUBLE) / n_words <= 0.1) AS p2,
          (CAST(n_ell AS DOUBLE) / n_words <= 0.1) AS p3,
          (CAST(n_alpha AS DOUBLE) / n_words >= 0.8) AS p4,
          (n_stop_hits >= 2) AS p5
        FROM b),
      fx AS (
        SELECT *,
          (CASE WHEN NOT p0 THEN 1 ELSE 0 END + CASE WHEN NOT p1 THEN 1 ELSE 0 END
           + CASE WHEN NOT p2 THEN 1 ELSE 0 END + CASE WHEN NOT p3 THEN 1 ELSE 0 END
           + CASE WHEN NOT p4 THEN 1 ELSE 0 END + CASE WHEN NOT p5 THEN 1 ELSE 0 END) AS fc
        FROM fl),
      a AS (
        SELECT
          ${(0 until 6).map(i =>
            s"""CAST(COALESCE(SUM(CASE WHEN NOT p$i THEN 1 ELSE 0 END), 0) AS BIGINT) AS f$i,
            CAST(COALESCE(SUM(CASE WHEN NOT p$i AND fc = 1 THEN 1 ELSE 0 END), 0) AS BIGINT) AS u$i,
            CAST(COALESCE(SUM(CASE WHEN NOT p$i AND fc = 1 THEN nw ELSE 0 END), 0) AS BIGINT) AS w$i""")
            .mkString(",\n          ")},
          CAST(COALESCE(SUM(CASE WHEN fc >= 1 THEN 1 ELSE 0 END), 0) AS BIGINT) AS fa,
          CAST(COALESCE(SUM(CASE WHEN fc = 1 THEN 1 ELSE 0 END), 0) AS BIGINT) AS ua,
          CAST(COALESCE(SUM(CASE WHEN fc = 1 THEN nw ELSE 0 END), 0) AS BIGINT) AS wa
        FROM fx)
      SELECT CAST(rule_id AS BIGINT) AS rule_id, rule, n_fail, n_unique_fail,
        words_unique_fail
      FROM ($unions) ORDER BY rule_id"""
    },
    "ta_fingerprint" -> """
      SELECT doc_id, md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS fp
      FROM documents ORDER BY doc_id""",
    "ta_bpe_tokens" -> s"""
      SELECT doc_id,
        CAST(len(regexp_extract_all(text, '${BpePattern.replace("'", "''")}')) AS BIGINT) AS n_bpe_tokens,
        CAST(len(list_filter(string_split_regex(trim(text), '\\s+'), x -> len(x) > 0)) AS BIGINT) AS n_ws_tokens
      FROM documents ORDER BY doc_id""",
    "dedup_winnow_pairs" -> s"""
      WITH norm AS (
        SELECT doc_id, trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS s
        FROM documents),
      grams AS (
        SELECT doc_id, [md5(s[i:i+7]) for i in range(1, len(s) - 8 + 2)] AS hs
        FROM norm WHERE len(s) >= 8),
      fps AS (
        SELECT doc_id,
          CASE WHEN len(hs) <= 4 THEN [list_min(hs)]
               ELSE list_sort(list_distinct(
                 [list_min(hs[i:i+3]) for i in range(1, len(hs) - 4 + 2)]))
          END AS f
        FROM grams),
      fpx AS (SELECT doc_id, unnest(f) AS fp FROM fps),
      dfq AS (SELECT fp, COUNT(*) AS df FROM fpx GROUP BY fp),
      rare AS (
        SELECT x.doc_id, x.fp FROM fpx x
        JOIN dfq ON dfq.fp = x.fp WHERE dfq.df <= $WinnowMaxFpDf),
      cnt AS (SELECT doc_id, CAST(len(f) AS BIGINT) AS n FROM fps),
      pr AS (
        SELECT x.doc_id AS a, y.doc_id AS b, CAST(COUNT(*) AS BIGINT) AS n_shared
        FROM rare x JOIN rare y ON x.fp = y.fp AND x.doc_id < y.doc_id
        GROUP BY 1, 2 HAVING COUNT(*) >= $WinnowMinShared)
      SELECT pr.a, pr.b, pr.n_shared, ca.n AS n_a, cb.n AS n_b,
        CAST(pr.n_shared AS DOUBLE) / CAST(LEAST(ca.n, cb.n) AS DOUBLE)
          AS score
      FROM pr JOIN cnt ca ON pr.a = ca.doc_id JOIN cnt cb ON pr.b = cb.doc_id
      ORDER BY pr.a, pr.b""",
    "ta_winnow_portable" -> """
      WITH norm AS (
        SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS s
        FROM documents),
      grams AS (
        SELECT doc_id, [md5(s[i:i+7]) for i in range(1, len(s) - 8 + 2)] AS hs
        FROM norm WHERE len(s) >= 8),
      fps AS (
        SELECT doc_id,
          CASE WHEN len(hs) <= 4 THEN [list_min(hs)]
               ELSE list_sort(list_distinct(
                 [list_min(hs[i:i+3]) for i in range(1, len(hs) - 4 + 2)]))
          END AS f
        FROM grams)
      SELECT doc_id,
        CAST(len(f) AS BIGINT) AS n_fp,
        md5(array_to_string(f, ',')) AS fp_digest
      FROM fps ORDER BY doc_id""")

  // ---- ta_winnow replay oracle (VERDICT r13 ask #2) ------------------
  //
  // The [[winnow]] kernel's rolling hash runs in WRAPPING signed-Long
  // arithmetic — i.e. mod 2^64 with a signed reinterpretation at every
  // comparison. The r13 simhash replay (ops/Dedup.scala) demonstrated
  // mod-2^64 arithmetic is DuckDB-expressible; winnowing is in fact
  // easier, because the rolling recurrence
  //   h_{i+1} = (h_i - c_i·B^{k-1})·B + c_{i+k}   (all ops mod 2^64)
  // telescopes to the direct polynomial h_i = Σ_j c_{i+j}·B^{k-1-j}
  // (mod 2^64) — ring identities hold regardless of evaluation order,
  // including through the wrapped precomputed B^{k-1}. With k = 8 fixed
  // that is 8 HUGEINT products per position (each ≤ 2^16·2^64 = 2^80,
  // the sum ≤ 2^83 — far inside HUGEINT), one `% 2^64`, and a signed
  // reinterpretation (x ≥ 2^63 → x − 2^64) BEFORE min-selection, since
  // the kernel's hs.min / `<=` / TreeSet all order signed. No recursive
  // CTE, no split multiplies. Gated on [[asciiReplaySafe]] like every
  // replay (charAt(i) == unicode(substr(s,i,1)) only holds there).
  // Window selection/dedup mirrors ta_winnow_portable's proven shape.

  /** The replay's fps CTE chain (norm → grams0 → grams → fps), ending
    * in `fps(doc_id, f: BIGINT[])` — the per-doc deduplicated signed
    * fingerprint list, exactly [[winnow]]'s output. Shared by the
    * ta_winnow oracle and [[Decontamination]]'s winnow-probe oracle
    * (same gate: emitted only where [[asciiReplaySafe]] holds).
    */
  private[ops] lazy val winnowFpsCtesSql: String = {
    val U64 = BigInt(1) << 64
    val B = BigInt(1000003)
    // B^(7-j) mod 2^64 for term j of the degree-7 polynomial
    val pow = (0 to 7).map(j => B.modPow(7 - j, U64))
    val terms = (0 to 7).map { j =>
      val idx = if (j == 0) "i" else s"i+$j"
      s"CAST(unicode(s[$idx:$idx]) AS HUGEINT) * ${pow(j)}"
    }.mkString(" + ")
    s"""norm AS (
        SELECT doc_id, trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS s
        FROM documents),
      grams0 AS (
        SELECT doc_id,
          [CAST(($terms) % $U64 AS HUGEINT)
           for i in range(1, len(s) - 8 + 2)] AS mu
        FROM norm WHERE len(s) >= 8),
      grams AS (
        SELECT doc_id,
          [CAST(CASE WHEN m >= ${BigInt(1) << 63} THEN m - $U64 ELSE m END
                AS BIGINT) for m in mu] AS hs
        FROM grams0),
      fps AS (
        SELECT doc_id,
          CASE WHEN len(hs) <= 4 THEN [list_min(hs)]
               ELSE list_sort(list_distinct(
                 [list_min(hs[i:i+3]) for i in range(1, len(hs) - 4 + 2)]))
          END AS f
        FROM grams)"""
  }

  private[ops] lazy val winnowReplayOracleSql: String = s"""
      WITH $winnowFpsCtesSql,
      fpx AS (SELECT doc_id, unnest(f) AS fp FROM fps),
      ag AS (
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_fingerprints,
          CAST(bit_xor(fp) AS BIGINT) AS fp_xor
        FROM fpx GROUP BY doc_id)
      SELECT d.doc_id,
        COALESCE(ag.n_fingerprints, CAST(0 AS BIGINT)) AS n_fingerprints,
        COALESCE(ag.fp_xor, CAST(0 AS BIGINT)) AS fp_xor
      FROM documents d LEFT JOIN ag ON d.doc_id = ag.doc_id
      ORDER BY d.doc_id"""
}
