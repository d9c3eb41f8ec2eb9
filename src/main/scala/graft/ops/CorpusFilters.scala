package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables.t
import graft.ops.Scale.GatedCheckpoint

/** Corpus-cleaning filters for LLM training-data pipelines: the C4
  * line/document rules (Raffel et al. 2020, "Exploring the Limits of
  * Transfer Learning…" §2.2), RefinedWeb/MassiveText-style exact
  * line-level deduplication (Penedo et al. 2023 §3; Rae et al. 2021
  * A1.2), Flesch readability scoring, a code-vs-prose heuristic, and
  * per-document TF-IDF keyword extraction.
  *
  * The synthetic `documents` text is a single line with no punctuation,
  * so the line-structured operators first impose a deterministic line
  * structure (every 8 whitespace tokens becomes a line) and plant the
  * features the rules react to (terminal punctuation, boilerplate
  * markers) keyed off `(doc_id + line_idx)` residues — the same
  * planted-fixture pattern as [[TextAnalysis.taPiiRedact]]. Both
  * engines build literally the same lines, so the rule kernels are
  * verified hash-exact end-to-end.
  *
  * 100 TB shape: every operator here is one documents scan → narrow
  * per-row string work (codegen'd `functions`, no UDFs) → at most one
  * aggregation keyed by `doc_id` or a line hash. No all-pairs step, no
  * driver collect; the only shuffles move (id, short-string) rows.
  */
object CorpusFilters {

  // ---- shared deterministic line structure ----

  /** 8 whitespace-separated tokens + the following space → a line break
    * after the 8th token. Non-overlapping left-to-right replacement has
    * the same semantics under Java regex and DuckDB's RE2.
    */
  private[ops] val LineRegex = "((?:\\S+ ){7}\\S+) "

  /** Spark-side lines-with-index: (doc_id, idx, line). Shared with the
    * streaming paragraph-dedup state so batch and incremental forms
    * split identically.
    */
  private[graft] def lines(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    docs
      .select($"doc_id",
        split(regexp_replace(trim($"text"), LineRegex, "$1\n"), "\n").as("ls"))
      .select($"doc_id", posexplode($"ls").as(Seq("idx", "line")))
  }

  /** DuckDB twin of [[lines]] — lateral UNNEST(range(…)) gives the
    * 0-based index posexplode gives.
    */
  private[ops] val linesCte = """
    l0 AS (
      SELECT doc_id,
        string_split(regexp_replace(trim(text), '((?:\S+ ){7}\S+) ',
          '\1' || chr(10), 'g'), chr(10)) AS ls
      FROM documents),
    lines AS (
      SELECT doc_id, i - 1 AS idx, ls[i] AS line
      FROM l0, UNNEST(range(1, len(ls) + 1)) AS t(i))"""

  private def wordCount(c: Column): Column =
    size(TextAnalysis.tokens(c)).cast("long")

  // ---- C4 cleaning rules (Raffel et al. 2020 §2.2) ----

  /** Planted per-line features, keyed off m = doc_id + idx:
    * terminal '.' on 3 of 4 lines, boilerplate markers on sparse
    * residues. Shared constants so both engines plant identically.
    */
  private val C4Lorem = " lorem ipsum"
  private val C4Brace = " {"
  private val C4Js = " javascript needed"

  private def c4Planted(docId: Column, idx: Column, line: Column): Column = {
    val m = docId + idx
    concat(line,
      when(m % 11 === 5, lit(C4Lorem)).otherwise(lit("")),
      when(m % 13 === 7, lit(C4Brace)).otherwise(lit("")),
      when(m % 17 === 9, lit(C4Js)).otherwise(lit("")),
      when(m % 4 =!= 3, lit(".")).otherwise(lit("")))
  }

  /** C4 line rules over the planted lines — keep a line iff it (a) has
    * no boilerplate marker ("lorem ipsum", '{', "javascript"), (b) ends
    * in terminal punctuation, and (c) has ≥ 5 words; a dropped line is
    * attributed to its FIRST failing rule in that order. Document rule:
    * pass iff ≥ 3 kept lines. Emits the cleaned document (kept lines
    * re-joined in order) as an md5 so the whole reassembly is verified.
    *
    * One scan → posexplode → one groupBy(doc_id): the explode fans out
    * short strings only and the aggregation is map-side combinable
    * except for the bounded per-doc kept-line list.
    */
  def taC4Rules(s: SparkSession, dir: String): DataFrame =
    c4Of(t(s, dir, "documents"))

  def c4Of(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val l = lines(docs)
      .withColumn("pl", c4Planted($"doc_id", $"idx", $"line"))
      .withColumn("dirty",
        $"pl".contains("lorem ipsum") || $"pl".contains("{") ||
          lower($"pl").contains("javascript"))
      .withColumn("punct_ok", $"pl".rlike("[.!?\"]$"))
      .withColumn("w", wordCount($"pl"))
      .withColumn("kept", !$"dirty" && $"punct_ok" && $"w" >= 5)
    l.groupBy($"doc_id")
      .agg(
        count(lit(1)).as("n_lines"),
        sum(when($"kept", 1L).otherwise(0L)).as("n_kept"),
        sum(when($"dirty", 1L).otherwise(0L)).as("n_dropped_dirty"),
        sum(when(!$"dirty" && !$"punct_ok", 1L).otherwise(0L))
          .as("n_dropped_punct"),
        sum(when(!$"dirty" && $"punct_ok" && $"w" < 5, 1L).otherwise(0L))
          .as("n_dropped_short"),
        sum(when($"kept", $"w").otherwise(0L)).as("kept_words"),
        md5(array_join(
          transform(sort_array(collect_list(when($"kept",
            struct($"idx", $"pl")))), x => x.getField("pl")),
          "\n")).as("clean_md5"))
      .withColumn("doc_pass", $"n_kept" >= 3)
      .orderBy("doc_id")
  }

  // ---- exact line-level dedup (RefinedWeb §3 / MassiveText A1.2) ----

  /** Remove every occurrence of a (normalized) line after its global
    * first occurrence — ordered by (doc_id, idx) — and reassemble each
    * document from its surviving lines.
    *
    * Scale shape: lines carry only (doc_id, idx, md5-key, short line);
    * the first-occurrence table is a map-side-combinable min-struct per
    * key, then one equi-join back on the key. No window over the whole
    * corpus, no driver state. At 100 TB the key shuffle is the cost —
    * (16-byte hash, id) pairs, the minimum any global line-dedup moves.
    */
  def dedupParagraph(s: SparkSession, dir: String): DataFrame =
    paragraphDedupOf(t(s, dir, "documents"))

  def paragraphDedupOf(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val l = lines(docs)
      .withColumn("key", md5(lower(trim($"line"))))
    val firsts = l.groupBy($"key")
      .agg(min(struct($"doc_id", $"idx")).as("f"))
    l.join(firsts, Seq("key"))
      .withColumn("kept", struct($"doc_id", $"idx") === $"f")
      .groupBy($"doc_id")
      .agg(
        count(lit(1)).as("n_lines"),
        sum(when(!$"kept", 1L).otherwise(0L)).as("n_removed"),
        md5(array_join(
          transform(sort_array(collect_list(when($"kept",
            struct($"idx", $"line")))), x => x.getField("line")),
          "\n")).as("clean_md5"))
      .withColumn("kept_frac",
        ($"n_lines" - $"n_removed").cast("double") / $"n_lines".cast("double"))
      .orderBy("doc_id")
  }

  // ---- Flesch readability (integer-rational exact) ----

  /** Flesch reading ease + Flesch–Kincaid grade with the float constants
    * cleared to integers: both scores are emitted as an exact
    * (numerator, denominator) BIGINT pair scaled by 1000·S·W, plus the
    * IEEE-exact double quotient — the same rational trick that made BM25
    * and the importance scores hash-exact cross-engine.
    *
    * W = whitespace tokens, S = ⌈W/8⌉ (the deterministic line count —
    * the corpus has no sentence punctuation), Syl = vowel-group count
    * (the standard [aeiouy]+ heuristic). flesch = 206.835 − 1.015·(W/S)
    * − 84.6·(Syl/W); grade = 0.39·(W/S) + 11.8·(Syl/W) − 15.59.
    */
  def taReadability(s: SparkSession, dir: String): DataFrame =
    readabilityOf(t(s, dir, "documents"))

  def readabilityOf(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    docs
      .select($"doc_id", trim($"text").as("tx"))
      .withColumn("w", wordCount($"tx"))
      .filter($"w" > 0)
      .withColumn("sn", (($"w" + 7L) / 8L).cast("long"))
      .withColumn("syl", regexp_count(lower($"tx"), lit("[aeiouy]+")).cast("long"))
      .withColumn("den", lit(1000L) * $"sn" * $"w")
      .withColumn("flesch_num",
        lit(206835L) * $"sn" * $"w" - lit(1015L) * $"w" * $"w" -
          lit(84600L) * $"syl" * $"sn")
      .withColumn("grade_num",
        lit(390L) * $"w" * $"w" + lit(11800L) * $"syl" * $"sn" -
          lit(15590L) * $"sn" * $"w")
      .select($"doc_id", $"w".as("n_words"), $"sn".as("n_sentences"),
        $"syl".as("n_syllables"), $"flesch_num", $"grade_num",
        $"den".as("score_den"),
        ($"flesch_num".cast("double") / $"den".cast("double")).as("flesch"),
        ($"grade_num".cast("double") / $"den".cast("double")).as("fk_grade"))
      .orderBy("doc_id")
  }

  // ---- code-vs-prose heuristic ----

  /** Integer structural-signal counts (braces, semicolons, assignment,
    * code keywords) with a planted code block on two doc_id residues —
    * the classifier shape used to route code out of prose corpora.
    * is_code is an integer-threshold rule; density is an IEEE-exact
    * integer quotient.
    */
  private val CodeSnippetA = " def f(x): { return x * 2; }"
  private val CodeSnippetB = " var x = 1; let y = x;"

  def taCodeDetect(s: SparkSession, dir: String): DataFrame =
    codeDetectOf(t(s, dir, "documents"))

  def codeDetectOf(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val planted = docs
      .select($"doc_id",
        concat(trim($"text"),
          when($"doc_id" % 9 === 0, lit(CodeSnippetA))
            .when($"doc_id" % 9 === 4, lit(CodeSnippetB))
            .otherwise(lit(""))).as("tx"))
    planted
      .withColumn("n_brace", regexp_count($"tx", lit("[{}]")).cast("long"))
      .withColumn("n_semi", regexp_count($"tx", lit(";")).cast("long"))
      .withColumn("n_kw", regexp_count($"tx",
        lit("\\b(def|class|return|import|function|var|let|const)\\b")).cast("long"))
      .withColumn("n_eq", regexp_count($"tx", lit("=")).cast("long"))
      .withColumn("n_words", wordCount($"tx"))
      .withColumn("score",
        lit(3L) * $"n_brace" + lit(3L) * $"n_semi" + lit(2L) * $"n_kw" + $"n_eq")
      .select($"doc_id", $"n_brace", $"n_semi", $"n_kw", $"n_eq", $"n_words",
        $"score", ($"score" >= 6L).as("is_code"),
        (($"score" * 1000L).cast("double") / $"n_words".cast("double"))
          .as("density"))
      .orderBy("doc_id")
  }

  // ---- per-document TF-IDF keywords ----

  /** Top-3 df-normalized salient terms per document: score = tf · N/df
    * (the log-free TF-IDF variant — an exact integer ratio, so the
    * double is bit-identical cross-engine), ties broken by term. The
    * vocabulary df table is tiny relative to the corpus (it is the
    * distinct token set), so at scale the df join is a broadcast and
    * the only big shuffle is the (doc_id, term) partial-count combine.
    */
  def taTfidf(s: SparkSession, dir: String): DataFrame =
    tfidfOf(t(s, dir, "documents"))

  def tfidfOf(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val toks = docs
      .select($"doc_id",
        explode(filter(split(lower(trim($"text")), "\\s+"),
          tk => length(tk) > 0)).as("term"))
    val tf = toks.groupBy($"doc_id", $"term").agg(count(lit(1)).as("tf"))
    val df = tf.groupBy($"term").agg(count(lit(1)).as("df"))
    val n = tf.select(countDistinct($"doc_id").as("n_docs"))
    val w = Window.partitionBy($"doc_id").orderBy($"score".desc, $"term".asc)
    tf.join(broadcast(df), Seq("term"))
      .crossJoin(broadcast(n))
      .withColumn("score",
        ($"tf" * $"n_docs").cast("double") / $"df".cast("double"))
      .withColumn("rk", row_number().over(w))
      .filter($"rk" <= 3)
      .select($"doc_id", $"rk", $"term", $"tf", $"df", $"score")
      .orderBy($"doc_id", $"rk")
  }

  // ---- cross-source overlap forensics ----

  /** Which sources share content: the source-pair overlap matrix over
    * distinct word trigrams — the corpus-forensics view that finds
    * mirrored/scraped-twice feeds before they skew a mixture. Keys are
    * fnv64(trigram) (8-byte keys; collision-free-on-the-corpus is the
    * same standing assumption the Jaccard oracle family documents).
    *
    * 100 TB shape: per-source distinct shingles is one hash aggregation
    * of (source, 8-byte xxhash64 key); each key then aggregates its
    * source SET (bounded by #sources) and fans out its pairs, which
    * collapse map-side into the sources² matrix — no self-join ever
    * re-shuffles the shingle table, no all-pairs over documents.
    */
  def dedupSourceOverlap(s: SparkSession, dir: String): DataFrame =
    sourceOverlapOf(t(s, dir, "documents"))

  def sourceOverlapOf(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    // distinct (source, trigram-hash64): 8-byte keys from the compiled
    // shingling kernel (the Dedup.shingledOf pattern — a Catalyst HOF
    // chain here re-evaluates the tokenize regex per lambda element,
    // ~8× slower; the fnv64 kernel is one pass per doc)
    val sh = docs
      .select($"source", $"text").as[(String, String)]
      .flatMap { case (src, text) =>
        Dedup.distinctShingles(TextAnalysis.words(text), 3).iterator.map(h => (src, h))
      }
      .toDF("source", "k")
      .distinct()
      .gatedCheckpoint() // one shingle pass feeds totals + sets
    val totals = sh.groupBy($"source").agg(count(lit(1)).as("n"))
    // per-trigram source set, then the bounded pair fan-out — replaces a
    // self-join that would re-shuffle (and hash-probe) the shingle table
    // twice: one aggregation keyed by the 8-byte hash, pair rows are
    // ≤ sources² per key and collapse map-side into the 190-row matrix
    val shared = sh.groupBy($"k")
      .agg(sort_array(collect_set($"source")).as("ss"))
      .filter(size($"ss") >= 2)
      .select(explode(flatten(transform($"ss", (a, i) =>
        transform(slice($"ss", i + 2, size($"ss")), b =>
          struct(a.as("source_a"), b.as("source_b")))))).as("p"))
      .groupBy($"p.source_a".as("source_a"), $"p.source_b".as("source_b"))
      .agg(count(lit(1)).as("n_shared"))
    shared
      .join(totals.select($"source".as("source_a"), $"n".as("n_a")), "source_a")
      .join(totals.select($"source".as("source_b"), $"n".as("n_b")), "source_b")
      .select($"source_a", $"source_b", $"n_shared", $"n_a", $"n_b",
        ($"n_shared".cast("double") /
          ($"n_a" + $"n_b" - $"n_shared").cast("double")).as("jaccard"))
      .orderBy("source_a", "source_b")
  }

  // ---- curation funnel ----

  /** Staged curation funnel — the per-stage survivor report every
    * cleaning pipeline publishes: all docs → exact-dedup firsts →
    * length floor → language identified → Gopher max-word-length rule.
    * Stages are CUMULATIVE (a doc must pass all earlier stages), and
    * the whole funnel is computed in ONE documents scan (per-doc flags,
    * then conditional sums unpivoted to stage rows) — at 100 TB the
    * only shuffle is the fingerprint first-occurrence aggregation.
    */
  def curationFunnel(s: SparkSession, dir: String): DataFrame = {
    // r18 shape (guide §2.4 remove shuffles / §4 codegen): the old form
    // attached the exact-dedup "first" flag with an fp-PARTITIONED
    // window (corpus-mass shuffle + per-partition sort; a megadup
    // fingerprint funnels its whole group through ONE task at 100 TB)
    // and computed the Gopher max-word-length with an interpreted
    // transform/array_max lambda per token (VERDICT r17 ask #4). Now:
    // ONE per-fingerprint AGGREGATE (map-side partials, skew-safe)
    // whose min(struct(doc_id, …)) carries the first doc's flag fields,
    // and the word-length rule as a compiled regex — maxw ≤ 15 ⟺ no
    // run of 16 non-whitespace chars ⟺ NOT rlike "\S{16}" (for n = 0
    // docs okw differs from the old NULL maxw comparison only where f2
    // already gates the doc out). Funnel sums are identical integers;
    // isolated numbers in OPTIMIZATION_r18.md.
    import s.implicits._
    val perDoc = t(s, dir, "documents")
      .select($"doc_id",
        TextAnalysis.fingerprint($"text").as("fp"),
        TextAnalysis.tokenCount($"text").as("n"),
        TextAnalysis.langId($"text").as("lang"),
        (!$"text".rlike("\\S{16}")).as("okw"))
    // min(struct(doc_id, …)) carries the first doc's fields; it plans
    // as a partial+final SortAggregate (struct min/max can't use the
    // codegen hash buffer), which still beats both the old window form
    // (isolated 0.590 vs 0.637 floor) and a min_by/ObjectHashAggregate
    // variant (0.742 — TypedImperativeAggregate buffer overhead)
    val perFp = perDoc.groupBy($"fp").agg(
      count(lit(1)).as("nd"), sum($"n").as("nt"),
      min(struct($"doc_id", $"n", $"lang", $"okw")).as("f"))
    val agg = perFp.agg(
      sum($"nd").as("d0"), sum($"nt").as("t0"),
      count(lit(1)).as("d1"), sum($"f.n").as("t1"),
      sum(when($"f.n" >= 20, 1L).otherwise(0L)).as("d2"),
      sum(when($"f.n" >= 20, $"f.n").otherwise(0L)).as("t2"),
      sum(when($"f.n" >= 20 && $"f.lang" =!= "und", 1L).otherwise(0L))
        .as("d3"),
      sum(when($"f.n" >= 20 && $"f.lang" =!= "und", $"f.n").otherwise(0L))
        .as("t3"),
      sum(when($"f.n" >= 20 && $"f.lang" =!= "und" && $"f.okw", 1L)
        .otherwise(0L)).as("d4"),
      sum(when($"f.n" >= 20 && $"f.lang" =!= "und" && $"f.okw", $"f.n")
        .otherwise(0L)).as("t4"))
    agg.select(expr(
      """stack(5,
         0L, 'all', d0, t0,
         1L, 'exact_dedup', d1, t1,
         2L, 'min_length', d2, t2,
         3L, 'lang_id', d3, t3,
         4L, 'gopher_word_len', d4, t4)
         AS (stage_id, stage, n_docs, n_tokens)"""))
      .orderBy("stage_id")
  }

  // ---- hashing-trick quality classifier ----

  /** Weight-vector width of the frozen classifier (hashing trick —
    * Weinberger et al. 2009): every token maps to one of this many
    * buckets via md5, so the model is a FIXED-size weight vector no
    * matter how large the vocabulary grows.
    */
  val QcBuckets = 64

  /** Frozen linear quality classifier over hashed bag-of-words — the
    * fastText-style quality gate LLM corpora are filtered with (GPT-3's
    * quality classifier, Brown et al. 2020 App. A; DataComp-LM, Li et
    * al. 2024 §4.4): score(doc) = Σ_tokens w[h(token) mod B]. The
    * weights here are md5-derived integers standing in for trained
    * parameters (training happens offline; serving always runs a FROZEN
    * model) — what this operator verifies end-to-end is the serving
    * architecture: tokenize → hash to a bounded bucket id → broadcast
    * the fixed-size weight vector → map-side integer scoring.
    *
    * 100 TB shape: one documents scan; the explode fans out (doc_id,
    * bucket) ints only; the weight table is [[QcBuckets]] rows and
    * broadcast, so the only shuffle is the map-side-combinable per-doc
    * sum. Integer score ⇒ partition-independent and hash-exact
    * cross-engine; `score_per_1k` is one IEEE double division at the
    * end.
    */
  def taQualityClassifier(s: SparkSession, dir: String): DataFrame =
    qualityClassifierOf(t(s, dir, "documents"))

  def qualityClassifierOf(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val weights = broadcast(s.range(QcBuckets).select(
      $"id".as("bucket"),
      (conv(substring(md5(concat(lit("w:"), $"id".cast("string"))), 1, 4),
        16, 10).cast("long") % 1999 - 999).as("w")))
    docs
      .select($"doc_id", explode(TextAnalysis.lowerTokens($"text")).as("term"))
      .select($"doc_id",
        (conv(substring(md5($"term"), 1, 3), 16, 10).cast("long")
          % QcBuckets).as("bucket"))
      .join(weights, "bucket")
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_tokens"), sum($"w").as("score"))
      .select($"doc_id", $"n_tokens", $"score",
        (($"score" * 1000L).cast("double") / $"n_tokens".cast("double"))
          .as("score_per_1k"),
        ($"score" > 0L).as("keep"))
      .orderBy("doc_id")
  }

  // ---- vocabulary coverage (Heaps-law view) ----

  /** Per-source vocabulary coverage: token mass, unigram/bigram type
    * counts, and the type-token ratio — the Heaps-law diagnostic that
    * separates genuinely diverse sources from template-generated or
    * mirrored feeds (a low TTR at high token mass means the source
    * repeats itself; a bigram-type count near its unigram² ceiling
    * means unusually free word order). Exact distinct counts ⇒
    * hash-exact cross-engine; swap in approx_count_distinct at corpus
    * scale where a 1% vocabulary estimate suffices.
    *
    * One documents scan feeds all three aggregations (the tokenized
    * frame is checkpointed); bigrams via equal-length slice zip — NOT
    * sequence(1, size-1), which DESCENDS [1, 0] on single-token docs.
    */
  def taNgramCoverage(s: SparkSession, dir: String): DataFrame =
    ngramCoverageOf(t(s, dir, "documents"))

  def ngramCoverageOf(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val tk = docs
      .select($"source", TextAnalysis.lowerTokens($"text").as("tk"))
      .gatedCheckpoint()
    val ct = tk.groupBy($"source").agg(
      count(lit(1)).as("n_docs"),
      sum(size($"tk")).cast("long").as("n_tokens"))
    val uni = tk.select($"source", explode($"tk").as("g"))
      .groupBy($"source").agg(countDistinct($"g").as("uni_types"))
    // r18: compiled bigram kernel (the lmNgramsOf lesson) — the old
    // zip_with-over-equal-length-slices chain evaluated its lambda
    // interpreted per element over corpus mass. Emission order and
    // values are identical: adjacent-token pairs joined by one space,
    // none for docs under two tokens (the ADVICE r7 zero-token clamp
    // falls out of the length guard; a null token array — null text —
    // emits nothing, matching explode-of-null row-drop semantics).
    val bi = tk.as[(String, Array[String])]
      .flatMap { case (src, toks) =>
        if (toks == null || toks.length < 2) Iterator.empty
        else {
          val out = new Array[(String, String)](toks.length - 1)
          var i = 0
          while (i < toks.length - 1) {
            out(i) = (src, toks(i) + " " + toks(i + 1))
            i += 1
          }
          out.iterator
        }
      }
      .toDF("source", "g")
      .groupBy($"source").agg(countDistinct($"g").as("bi_types"))
    ct.join(uni, "source").join(bi, "source")
      .select($"source", $"n_docs", $"n_tokens", $"uni_types", $"bi_types",
        ($"uni_types".cast("double") / $"n_tokens".cast("double")).as("ttr"))
      .orderBy("source")
  }

  // ---- RAKE keyword extraction ----

  /** Phrase delimiters for RAKE — the corpus-present subset of the
    * function-word list (a real deployment plugs in a full stopword
    * lexicon; the algorithm is delimiter-set-agnostic).
    */
  val RakeStops: Seq[String] = Seq("a", "the")

  /** How many keywords the registered query reports. */
  val RakeTopN = 30

  /** RAKE keyword extraction (Rose et al. 2010): candidate phrases are
    * maximal stopword-free token runs; a word's score is
    * degree/frequency, where degree sums the lengths of every phrase
    * the word occurs in — words that live in LONG multi-word phrases
    * outrank equally-frequent words that appear alone. Integer
    * (freq, deg) pairs ⇒ hash-exact; the score is one IEEE division.
    *
    * 100 TB shape: one scan → posexplode of (short word, int pos) →
    * per-DOC windows (entity-bounded, the sessionization bound) for
    * phrase ids → two map-side-combinable aggregations → top-k via
    * orderBy+limit (TakeOrderedAndProject) with the rank window on the
    * k survivors only.
    */
  def taRakeKeywords(s: SparkSession, dir: String): DataFrame =
    rakeKeywordsOf(t(s, dir, "documents"), RakeTopN)

  def rakeKeywordsOf(docs: DataFrame, topN: Int): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val tk = docs.select($"doc_id",
      posexplode(TextAnalysis.lowerTokens($"text")).as(Seq("pos", "w")))
    val win = Window.partitionBy($"doc_id").orderBy($"pos")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ph = tk
      .withColumn("is_stop", $"w".isInCollection(RakeStops))
      .withColumn("phrase_id",
        sum(when($"is_stop", 1L).otherwise(0L)).over(win))
      .filter(!$"is_stop")
      .select($"doc_id", $"phrase_id", $"w")
      .gatedCheckpoint() // feeds lengths + word stats
    val plen = ph.groupBy($"doc_id", $"phrase_id")
      .agg(count(lit(1)).as("plen"))
    val stats = ph.join(plen, Seq("doc_id", "phrase_id"))
      .groupBy($"w")
      .agg(count(lit(1)).as("freq"), sum($"plen").as("deg"))
      .withColumn("score", $"deg".cast("double") / $"freq".cast("double"))
    val top = stats.orderBy($"score".desc, $"w".asc).limit(topN)
    top.withColumn("rk", row_number()
        .over(Window.orderBy($"score".desc, $"w".asc)).cast("long"))
      .select($"rk", $"w", $"freq", $"deg", $"score")
      .orderBy("rk")
  }

  // ---- registry ----

  /** Heaps-law vocabulary growth curve: the corpus is consumed in
    * doc_id order and the distinct-token (vocabulary) count is reported
    * at each decile of token mass — the diagnostic that separates a
    * diverse corpus (vocab keeps climbing) from a templated/mirrored
    * one (the curve flattens early). Complements [[ngramCoverageOf]]'s
    * single end-point TTR with the whole trajectory.
    *
    * Determinism: a token's first-occurrence position is an integer
    * (per-doc offset prefix-sum + in-doc position); decile boundaries
    * are exact integer ceil-div of the total token mass, computed on
    * the driver with long arithmetic — the DuckDB oracle's `//` at ANY
    * total (the former Column `/` was double division, exact only
    * below 2^53 — ADVICE r8 #4); vocab counts are exact. One IEEE
    * division per output row (ttr).
    *
    * 100 TB shape: the per-doc offset is a [[Scale.runningSum]] over
    * doc_id, which also yields the corpus total; the former
    * `Window.orderBy(doc_id)` serialized one row per DOC through a
    * single task, a genuine 100× killer at 10⁹ docs (VERDICT r8 #2).
    * First-occurrence is one min per token; the decile probe is a
    * 10-row broadcast theta-join whose fan-out collapses map-side into
    * 10 aggregation rows.
    */
  def taHeapsCurve(s: SparkSession, dir: String): DataFrame =
    heapsCurveOf(t(s, dir, "documents"))

  def heapsCurveOf(docs: DataFrame, partitions: Int = 32): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val tk = docs.select($"doc_id",
      posexplode(TextAnalysis.lowerTokens($"text")).as(Seq("pos", "w")))
    val rs = Scale.runningSum(tk.groupBy($"doc_id").agg(count(lit(1)).as("n")),
      None, Seq($"doc_id".asc), Some("n"), partitions)
    val total = rs.total
    val offs = rs.rows.select($"doc_id", ($"cum" - $"n").as("off"))
    val firstOcc = tk.join(offs, "doc_id")
      .select($"w", ($"off" + $"pos" + 1L).as("gpos"))
      .groupBy($"w").agg(min($"gpos").as("f"))
    val dec = (1L to 10L).map(d => (d, (total * d + 9L) / 10L))
      .toDF("decile", "tokens_seen")
    dec.join(firstOcc, $"f" <= $"tokens_seen")
      .groupBy($"decile", $"tokens_seen")
      .agg(count(lit(1)).as("vocab"))
      .select($"decile", $"tokens_seen", $"vocab",
        ($"vocab".cast("double") / $"tokens_seen".cast("double")).as("ttr"))
      .orderBy($"decile")
  }

  /** Percentiles reported by [[taLenProfile]]. */
  val LenPcts: Seq[Int] = Seq(10, 25, 50, 75, 90)

  /** Per-source document-length profile: exact token-count percentiles
    * (value at rank ceil(p·n/100) of the ascending order) — the length
    * panel of a curation dashboard, read before setting min/max-length
    * gates or packing bucket boundaries per source.
    *
    * Exactness + scale: the percentile probe runs over per-source
    * (length, count) collapse rows — the dq_outlier_mad idiom — so the
    * per-source window input is bounded by the DISTINCT length domain,
    * not the document volume; rank targets clear by integer
    * cross-multiplication (100·cum ≥ p·n), no division anywhere.
    *
    * 100 TB shape: one scan → (source, len) counts with map-side
    * combine → a bounded per-source cumulative window → a 5-way probe
    * fan-out that collapses to 5 rows per source.
    */
  def taLenProfile(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val sp = docs.sparkSession
    import sp.implicits._
    lenProfileOfCounts(docs
      .select($"source", TextAnalysis.tokenCount($"text").as("len"))
      .groupBy($"source", $"len").agg(count(lit(1)).as("c")))
  }

  /** The percentile probe over a pre-collapsed (source, len, c) count
    * table — shared by the registered query and the additive streaming
    * twin (the collapse is a sum, so folded state probes identically).
    */
  def lenProfileOfCounts(vc: DataFrame): DataFrame = {
    val sp = vc.sparkSession
    import sp.implicits._
    val wCum = Window.partitionBy($"source").orderBy($"len".asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy($"source")
    val cum = vc
      .withColumn("cum", sum($"c").over(wCum))
      .withColumn("n_docs", sum($"c").over(wAll))
    cum.select($"source", $"len", $"c", $"cum", $"n_docs",
        explode(array(LenPcts.map(p => lit(p.toLong)): _*)).as("p"))
      .filter($"cum" * 100L >= $"p" * $"n_docs" &&
        ($"cum" - $"c") * 100L < $"p" * $"n_docs")
      .select($"source", $"p", $"n_docs", $"len")
      .orderBy("source", "p")
  }

  /** Per-source distributional divergence from the corpus: total
    * variation distance between each source's unigram distribution and
    * the corpus-wide one — the "does this source speak a different
    * language than the mix" signal mixture tuners watch (KL/JS need
    * libm log, which is NOT bit-identical across engines; TVD is the
    * same metric family in pure integer arithmetic).
    *
    * Identity that keeps it exact AND scale-safe: with c_i = source
    * counts (total C), d_i = corpus counts (total D),
    *   TVD = Σ|c_i/C − d_i/D| / 2 = [Σ_{i∈src}|c_i·D − d_i·C|
    *         + C·(D − Σ_{i∈src} d_i)] / (2·C·D)
    * — the out-of-vocabulary mass folds into one closed-form term, so
    * only the source's OWN token rows are ever joined (never a
    * source × full-vocabulary outer product). Integer numerators sum
    * exactly in any order; one spelled IEEE division per source.
    *
    * 100 TB shape: one tokenized scan → (source, token) counts →
    * token-keyed equi-join to the corpus counts → per-source
    * map-side-combinable sums. The global total is a broadcast scalar.
    */
  def taSourceDivergence(s: SparkSession, dir: String): DataFrame =
    sourceDivergenceOf(t(s, dir, "documents"))

  def sourceDivergenceOf(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val tk = docs
      .select($"source", explode(TextAnalysis.lowerTokens($"text")).as("w"))
    val st = tk.groupBy($"source", $"w").agg(count(lit(1)).as("c"))
      .gatedCheckpoint() // feeds corpus counts + the join
    val dt = st.groupBy($"w").agg(sum($"c").as("d"))
    val totals = st.groupBy($"source").agg(sum($"c").as("ctot"))
    val dTot = dt.agg(coalesce(sum($"d"), lit(0L)).as("dtot"))
    st.join(dt, "w")
      .join(totals, "source")
      .crossJoin(broadcast(dTot))
      .groupBy($"source")
      .agg(
        first($"ctot").as("n_tokens"),
        count(lit(1)).as("vocab"),
        first($"dtot").as("dtot"),
        sum(abs($"c" * $"dtot" - $"d" * $"ctot")).as("in_vocab_num"),
        sum($"d").as("d_in_vocab"))
      .select($"source", $"n_tokens", $"vocab",
        ($"in_vocab_num" + $"n_tokens" * ($"dtot" - $"d_in_vocab"))
          .as("tvd_num"),
        (($"in_vocab_num" + $"n_tokens" * ($"dtot" - $"d_in_vocab"))
          .cast("double") /
          (lit(2.0) * $"n_tokens".cast("double") * $"dtot".cast("double")))
          .as("tvd"))
      .orderBy("source")
  }

  /** Per-source Simpson concentration and effective vocabulary — the
    * log-free diversity measure (Shannon entropy needs libm log, which
    * is not bit-identical across engines; Simpson's index is pure
    * integer arithmetic): simpson = Σc_i²/C² is the probability two
    * random tokens coincide, and C²/Σc_i² is the "effective number of
    * tokens" (inverse-Simpson / Hill number of order 2 — a corpus that
    * uses 10k words like a 40-word template scores 40). Integer Σc²
    * numerators sum exactly in any order; two spelled IEEE divisions
    * per source.
    *
    * 100 TB shape: one tokenized scan → (source, token) counts →
    * per-source map-side-combinable Σ/Σ² — the same two-level collapse
    * as every moment profile here.
    */
  def taSimpsonDiversity(s: SparkSession, dir: String): DataFrame =
    simpsonDiversityOf(t(s, dir, "documents"))

  def simpsonDiversityOf(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    docs
      .select($"source", explode(TextAnalysis.lowerTokens($"text")).as("w"))
      .groupBy($"source", $"w").agg(count(lit(1)).as("c"))
      .groupBy($"source")
      .agg(
        sum($"c").as("n_tokens"),
        count(lit(1)).as("vocab"),
        sum($"c" * $"c").as("sumsq"))
      .select($"source", $"n_tokens", $"vocab", $"sumsq",
        ($"sumsq".cast("double") /
          ($"n_tokens".cast("double") * $"n_tokens".cast("double")))
          .as("simpson"),
        (($"n_tokens".cast("double") * $"n_tokens".cast("double")) /
          $"sumsq".cast("double")).as("effective_vocab"))
      .orderBy("source")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "ta_simpson_diversity" -> taSimpsonDiversity,
    "ta_source_divergence" -> taSourceDivergence,
    "ta_len_profile" -> taLenProfile,
    "ta_heaps_curve" -> taHeapsCurve,
    "ta_rake_keywords" -> taRakeKeywords,
    "ta_ngram_coverage" -> taNgramCoverage,
    "ta_quality_classifier" -> taQualityClassifier,
    "ta_c4_rules" -> taC4Rules,
    "dedup_paragraph" -> dedupParagraph,
    "dedup_source_overlap" -> dedupSourceOverlap,
    "curation_funnel" -> curationFunnel,
    "ta_readability" -> taReadability,
    "ta_code_detect" -> taCodeDetect,
    "ta_tfidf" -> taTfidf)

  /** First `n` md5-hex nibbles decoded to an integer — DuckDB has no
    * conv(), so the hex prefix is replayed nibble-by-nibble (the
    * [[TextAnalysis]] CMS-cell precedent).
    */
  private def duckHexPrefix(hexExpr: String, n: Int): String =
    (0 until n).map { i =>
      val mult = math.pow(16, n - 1 - i).toLong
      s"(strpos('0123456789abcdef', substr($hexExpr, ${i + 1}, 1)) - 1) * $mult"
    }.mkString("(", " + ", ")")

  val oracles: Map[String, String] = Map(
    "ta_simpson_diversity" -> """
      WITH tk AS (
        SELECT source, u.w FROM documents,
          UNNEST(list_filter(string_split_regex(trim(lower(text)), '\s+'),
            x -> len(x) > 0)) AS u(w)),
      st AS (SELECT source, w, CAST(COUNT(*) AS BIGINT) AS c
             FROM tk GROUP BY source, w),
      agg AS (
        SELECT source, CAST(SUM(c) AS BIGINT) AS n_tokens,
          CAST(COUNT(*) AS BIGINT) AS vocab,
          CAST(SUM(c * c) AS BIGINT) AS sumsq
        FROM st GROUP BY source)
      SELECT source, n_tokens, vocab, sumsq,
        CAST(sumsq AS DOUBLE) /
          (CAST(n_tokens AS DOUBLE) * CAST(n_tokens AS DOUBLE)) AS simpson,
        (CAST(n_tokens AS DOUBLE) * CAST(n_tokens AS DOUBLE)) /
          CAST(sumsq AS DOUBLE) AS effective_vocab
      FROM agg ORDER BY source""",
    "ta_len_profile" -> s"""
      WITH toks AS (
        SELECT source,
          CAST(len(list_filter(string_split_regex(trim(text), '\\s+'), x -> len(x) > 0)) AS BIGINT) AS len
        FROM documents),
      vc AS (
        SELECT source, len, CAST(COUNT(*) AS BIGINT) AS c
        FROM toks GROUP BY source, len),
      cum AS (
        SELECT source, len, c,
          CAST(SUM(c) OVER (PARTITION BY source ORDER BY len) AS BIGINT) AS cum,
          CAST(SUM(c) OVER (PARTITION BY source) AS BIGINT) AS n_docs
        FROM vc)
      SELECT source, p, n_docs, len
      FROM cum CROSS JOIN (SELECT CAST(unnest([${LenPcts.mkString(", ")}]) AS BIGINT) AS p) ps
      WHERE cum * 100 >= p * n_docs AND (cum - c) * 100 < p * n_docs
      ORDER BY source, p""",
    "ta_source_divergence" -> """
      WITH tk AS (
        SELECT source, u.w FROM documents,
          UNNEST(list_filter(string_split_regex(trim(lower(text)), '\s+'),
            x -> len(x) > 0)) AS u(w)),
      st AS (SELECT source, w, CAST(COUNT(*) AS BIGINT) AS c
             FROM tk GROUP BY source, w),
      dt AS (SELECT w, CAST(SUM(c) AS BIGINT) AS d FROM st GROUP BY w),
      totals AS (SELECT source, CAST(SUM(c) AS BIGINT) AS ctot
                 FROM st GROUP BY source),
      dtot AS (SELECT CAST(COALESCE(SUM(d), 0) AS BIGINT) AS dtot FROM dt),
      agg AS (
        SELECT st.source,
          MIN(t.ctot) AS n_tokens,
          CAST(COUNT(*) AS BIGINT) AS vocab,
          MIN(dtot.dtot) AS dtot,
          CAST(SUM(ABS(st.c * dtot.dtot - dt.d * t.ctot)) AS BIGINT)
            AS in_vocab_num,
          CAST(SUM(dt.d) AS BIGINT) AS d_in_vocab
        FROM st
        JOIN dt ON st.w = dt.w
        JOIN totals t ON st.source = t.source
        CROSS JOIN dtot
        GROUP BY st.source)
      SELECT source, n_tokens, vocab,
        in_vocab_num + n_tokens * (dtot - d_in_vocab) AS tvd_num,
        CAST(in_vocab_num + n_tokens * (dtot - d_in_vocab) AS DOUBLE) /
          (2.0 * CAST(n_tokens AS DOUBLE) * CAST(dtot AS DOUBLE)) AS tvd
      FROM agg ORDER BY source""",
    "ta_heaps_curve" -> """
      WITH toks AS (
        SELECT doc_id,
          list_filter(string_split_regex(trim(lower(text)), '\s+'),
            x -> len(x) > 0) AS l
        FROM documents),
      tk AS (
        SELECT doc_id, i AS pos, l[i] AS w
        FROM toks, UNNEST(range(1, len(l) + 1)) AS u(i)),
      cnts AS (SELECT doc_id, CAST(len(l) AS BIGINT) AS n FROM toks),
      offs AS (
        SELECT doc_id, COALESCE(SUM(n) OVER (ORDER BY doc_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
        FROM cnts),
      firstocc AS (
        SELECT w, MIN(o.off + t.pos) AS f
        FROM tk t JOIN offs o ON t.doc_id = o.doc_id
        GROUP BY w),
      tot AS (SELECT CAST(COALESCE(SUM(n), 0) AS BIGINT) AS n FROM cnts),
      dec AS (
        SELECT CAST(d AS BIGINT) AS decile,
          CAST((tot.n * d + 9) // 10 AS BIGINT) AS tokens_seen
        FROM tot, UNNEST(range(1, 11)) AS u(d))
      SELECT decile, tokens_seen, CAST(COUNT(*) AS BIGINT) AS vocab,
        CAST(COUNT(*) AS DOUBLE) / CAST(tokens_seen AS DOUBLE) AS ttr
      FROM dec JOIN firstocc ON f <= tokens_seen
      GROUP BY decile, tokens_seen
      ORDER BY decile""",
    "ta_rake_keywords" -> s"""
      WITH ws0 AS (
        SELECT doc_id, list_filter(
          string_split_regex(trim(lower(text)), '\\s+'),
          x -> len(x) > 0) AS ws
        FROM documents),
      tk AS (
        SELECT doc_id, i - 1 AS pos, ws[i] AS w
        FROM ws0, UNNEST(range(1, len(ws) + 1)) AS t(i)),
      ph AS (
        SELECT doc_id, pos, w,
          SUM(CASE WHEN w IN (${RakeStops.map("'" + _ + "'").mkString(", ")})
            THEN 1 ELSE 0 END) OVER (PARTITION BY doc_id ORDER BY pos
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS phrase_id,
          w IN (${RakeStops.map("'" + _ + "'").mkString(", ")}) AS is_stop
        FROM tk),
      pw AS (SELECT doc_id, phrase_id, w FROM ph WHERE NOT is_stop),
      plen AS (
        SELECT doc_id, phrase_id, CAST(COUNT(*) AS BIGINT) AS plen
        FROM pw GROUP BY 1, 2),
      st AS (
        SELECT w, CAST(COUNT(*) AS BIGINT) AS freq,
          CAST(SUM(plen) AS BIGINT) AS deg
        FROM pw JOIN plen USING (doc_id, phrase_id) GROUP BY w),
      rk AS (
        SELECT w, freq, deg,
          CAST(deg AS DOUBLE) / CAST(freq AS DOUBLE) AS score,
          CAST(ROW_NUMBER() OVER (ORDER BY
            CAST(deg AS DOUBLE) / CAST(freq AS DOUBLE) DESC, w ASC)
            AS BIGINT) AS rk
        FROM st)
      SELECT rk, w, freq, deg, score FROM rk
      WHERE rk <= $RakeTopN ORDER BY rk""",
    "ta_ngram_coverage" -> """
      WITH tk AS (
        SELECT source, list_filter(
          string_split_regex(trim(lower(text)), '\s+'),
          x -> len(x) > 0) AS tk
        FROM documents),
      ct AS (
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
          CAST(SUM(len(tk)) AS BIGINT) AS n_tokens
        FROM tk GROUP BY source),
      uni AS (
        SELECT source, CAST(COUNT(DISTINCT g) AS BIGINT) AS uni_types
        FROM (SELECT source, unnest(tk) AS g FROM tk) GROUP BY source),
      bi AS (
        SELECT source, CAST(COUNT(DISTINCT g) AS BIGINT) AS bi_types
        FROM (SELECT source,
                unnest([tk[i] || ' ' || tk[i + 1]
                        for i in range(1, len(tk))]) AS g
              FROM tk)
        GROUP BY source)
      SELECT ct.source, n_docs, n_tokens, uni_types, bi_types,
        CAST(uni_types AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS ttr
      FROM ct JOIN uni USING (source) JOIN bi USING (source)
      ORDER BY source""",
    "ta_quality_classifier" -> s"""
      WITH toks AS (
        SELECT doc_id, unnest(list_filter(
          string_split_regex(trim(lower(text)), '\\s+'), x -> len(x) > 0)) AS term
        FROM documents),
      tb AS (
        SELECT doc_id,
          ${duckHexPrefix("md5(term)", 3)} % $QcBuckets AS bucket
        FROM toks),
      wt AS (
        SELECT b AS bucket,
          (${duckHexPrefix("md5('w:' || b)", 4)} % 1999) - 999 AS w
        FROM (SELECT unnest(range($QcBuckets)) AS b)),
      sc AS (
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
          CAST(SUM(w) AS BIGINT) AS score
        FROM tb JOIN wt USING (bucket) GROUP BY doc_id)
      SELECT doc_id, n_tokens, score,
        CAST(score * 1000 AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS score_per_1k,
        score > 0 AS keep
      FROM sc ORDER BY doc_id""",
    "ta_c4_rules" -> s"""
      WITH $linesCte,
      pl AS (
        SELECT doc_id, idx,
          line
            || CASE WHEN (doc_id + idx) % 11 = 5 THEN '$C4Lorem' ELSE '' END
            || CASE WHEN (doc_id + idx) % 13 = 7 THEN '$C4Brace' ELSE '' END
            || CASE WHEN (doc_id + idx) % 17 = 9 THEN '$C4Js' ELSE '' END
            || CASE WHEN (doc_id + idx) % 4 <> 3 THEN '.' ELSE '' END AS pl
        FROM lines),
      r AS (
        SELECT doc_id, idx, pl,
          (pl LIKE '%lorem ipsum%' OR pl LIKE '%{%'
            OR lower(pl) LIKE '%javascript%') AS dirty,
          regexp_matches(pl, '[.!?"]$$') AS punct_ok,
          CAST(len(list_filter(string_split_regex(trim(pl), '\\s+'),
            x -> len(x) > 0)) AS BIGINT) AS w
        FROM pl),
      k AS (
        SELECT *, (NOT dirty AND punct_ok AND w >= 5) AS kept FROM r)
      SELECT doc_id,
        CAST(COUNT(*) AS BIGINT) AS n_lines,
        CAST(SUM(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        CAST(SUM(CASE WHEN dirty THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped_dirty,
        CAST(SUM(CASE WHEN NOT dirty AND NOT punct_ok THEN 1 ELSE 0 END) AS BIGINT)
          AS n_dropped_punct,
        CAST(SUM(CASE WHEN NOT dirty AND punct_ok AND w < 5 THEN 1 ELSE 0 END)
          AS BIGINT) AS n_dropped_short,
        CAST(SUM(CASE WHEN kept THEN w ELSE 0 END) AS BIGINT) AS kept_words,
        md5(coalesce(string_agg(CASE WHEN kept THEN pl END, chr(10) ORDER BY idx),
          '')) AS clean_md5,
        (SUM(CASE WHEN kept THEN 1 ELSE 0 END) >= 3) AS doc_pass
      FROM k GROUP BY doc_id ORDER BY doc_id""",
    "dedup_paragraph" -> s"""
      WITH $linesCte,
      k AS (
        SELECT doc_id, idx, line,
          ROW_NUMBER() OVER (PARTITION BY md5(lower(trim(line)))
            ORDER BY doc_id, idx) AS rn
        FROM lines)
      SELECT doc_id,
        CAST(COUNT(*) AS BIGINT) AS n_lines,
        CAST(SUM(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
        md5(coalesce(string_agg(CASE WHEN rn = 1 THEN line END, chr(10)
          ORDER BY idx), '')) AS clean_md5,
        CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS DOUBLE)
          / CAST(COUNT(*) AS DOUBLE) AS kept_frac
      FROM k GROUP BY doc_id ORDER BY doc_id""",
    "dedup_source_overlap" -> """
      WITH ssh AS (
        SELECT DISTINCT source,
          unnest([array_to_string(ws[i:i+2], ' ')
            for i in range(1, len(ws) - 1)]) AS g
        FROM (SELECT source,
                list_filter(string_split_regex(trim(text), '\s+'),
                  x -> len(x) > 0) AS ws
              FROM documents)
        WHERE len(ws) >= 3),
      tot AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n FROM ssh GROUP BY 1),
      sh2 AS (
        SELECT a.source AS source_a, b.source AS source_b,
          CAST(COUNT(*) AS BIGINT) AS n_shared
        FROM ssh a JOIN ssh b ON a.g = b.g AND a.source < b.source
        GROUP BY 1, 2)
      SELECT s.source_a, s.source_b, s.n_shared, ta.n AS n_a, tb.n AS n_b,
        CAST(s.n_shared AS DOUBLE)
          / CAST(ta.n + tb.n - s.n_shared AS DOUBLE) AS jaccard
      FROM sh2 s
      JOIN tot ta ON s.source_a = ta.source
      JOIN tot tb ON s.source_b = tb.source
      ORDER BY source_a, source_b""",
    "curation_funnel" -> {
      val scores = TextAnalysis.langProfiles.map { case (l, ws) =>
        l -> ("CAST(len(regexp_extract_all(text, '\\b(" + ws.mkString("|") +
          ")\\b')) AS BIGINT)")
      }
      val scoreSel = scores.map { case (l, e) => s"$e AS s_$l" }.mkString(", ")
      val best = "GREATEST(" + scores.map(x => "s_" + x._1).mkString(", ") + ")"
      val cases = scores.map { case (l, _) =>
        s"WHEN s_$l = best AND best > 0 THEN '$l'"
      }.mkString(" ")
      s"""
      WITH f AS (
        SELECT doc_id,
          md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))) AS fp,
          CAST(len(list_filter(string_split_regex(trim(text), '\\s+'),
            x -> len(x) > 0)) AS BIGINT) AS n,
          list_max([len(x) for x in list_filter(
            string_split_regex(trim(text), '\\s+'), x -> len(x) > 0)]) AS maxw,
          $scoreSel
        FROM documents),
      mx AS (
        SELECT *, $best AS best,
          doc_id = MIN(doc_id) OVER (PARTITION BY fp) AS first
        FROM f),
      fl AS (
        SELECT n, first AS f1,
          (first AND n >= 20) AS f2,
          (first AND n >= 20 AND (CASE $cases ELSE 'und' END) <> 'und') AS f3,
          (first AND n >= 20 AND (CASE $cases ELSE 'und' END) <> 'und'
            AND maxw <= 15) AS f4
        FROM mx),
      agg AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS d0, CAST(SUM(n) AS BIGINT) AS t0,
          CAST(SUM(CASE WHEN f1 THEN 1 ELSE 0 END) AS BIGINT) AS d1,
          CAST(SUM(CASE WHEN f1 THEN n ELSE 0 END) AS BIGINT) AS t1,
          CAST(SUM(CASE WHEN f2 THEN 1 ELSE 0 END) AS BIGINT) AS d2,
          CAST(SUM(CASE WHEN f2 THEN n ELSE 0 END) AS BIGINT) AS t2,
          CAST(SUM(CASE WHEN f3 THEN 1 ELSE 0 END) AS BIGINT) AS d3,
          CAST(SUM(CASE WHEN f3 THEN n ELSE 0 END) AS BIGINT) AS t3,
          CAST(SUM(CASE WHEN f4 THEN 1 ELSE 0 END) AS BIGINT) AS d4,
          CAST(SUM(CASE WHEN f4 THEN n ELSE 0 END) AS BIGINT) AS t4
        FROM fl)
      SELECT CAST(0 AS BIGINT) AS stage_id, 'all' AS stage, d0 AS n_docs, t0 AS n_tokens FROM agg
      UNION ALL SELECT 1, 'exact_dedup', d1, t1 FROM agg
      UNION ALL SELECT 2, 'min_length', d2, t2 FROM agg
      UNION ALL SELECT 3, 'lang_id', d3, t3 FROM agg
      UNION ALL SELECT 4, 'gopher_word_len', d4, t4 FROM agg
      ORDER BY stage_id"""
    },
    "ta_readability" -> """
      WITH b AS (
        SELECT doc_id, trim(text) AS tx,
          CAST(len(list_filter(string_split_regex(trim(text), '\s+'),
            x -> len(x) > 0)) AS BIGINT) AS w,
          CAST(len(regexp_extract_all(lower(text), '[aeiouy]+')) AS BIGINT) AS syl
        FROM documents),
      c AS (
        SELECT doc_id, w, (w + 7) // 8 AS sn, syl FROM b WHERE w > 0)
      SELECT doc_id, w AS n_words, sn AS n_sentences, syl AS n_syllables,
        206835 * sn * w - 1015 * w * w - 84600 * syl * sn AS flesch_num,
        390 * w * w + 11800 * syl * sn - 15590 * sn * w AS grade_num,
        1000 * sn * w AS score_den,
        CAST(206835 * sn * w - 1015 * w * w - 84600 * syl * sn AS DOUBLE)
          / CAST(1000 * sn * w AS DOUBLE) AS flesch,
        CAST(390 * w * w + 11800 * syl * sn - 15590 * sn * w AS DOUBLE)
          / CAST(1000 * sn * w AS DOUBLE) AS fk_grade
      FROM c ORDER BY doc_id""",
    "ta_code_detect" -> s"""
      WITH p AS (
        SELECT doc_id,
          trim(text)
            || CASE WHEN doc_id % 9 = 0 THEN '$CodeSnippetA'
                    WHEN doc_id % 9 = 4 THEN '$CodeSnippetB'
                    ELSE '' END AS tx
        FROM documents),
      c AS (
        SELECT doc_id,
          CAST(len(regexp_extract_all(tx, '[{}]')) AS BIGINT) AS n_brace,
          CAST(len(regexp_extract_all(tx, ';')) AS BIGINT) AS n_semi,
          CAST(len(regexp_extract_all(tx,
            '\\b(def|class|return|import|function|var|let|const)\\b'))
            AS BIGINT) AS n_kw,
          CAST(len(regexp_extract_all(tx, '=')) AS BIGINT) AS n_eq,
          CAST(len(list_filter(string_split_regex(trim(tx), '\\s+'),
            x -> len(x) > 0)) AS BIGINT) AS n_words
        FROM p)
      SELECT doc_id, n_brace, n_semi, n_kw, n_eq, n_words,
        3 * n_brace + 3 * n_semi + 2 * n_kw + n_eq AS score,
        (3 * n_brace + 3 * n_semi + 2 * n_kw + n_eq >= 6) AS is_code,
        CAST((3 * n_brace + 3 * n_semi + 2 * n_kw + n_eq) * 1000 AS DOUBLE)
          / CAST(n_words AS DOUBLE) AS density
      FROM c ORDER BY doc_id""",
    "ta_tfidf" -> """
      WITH toks AS (
        SELECT doc_id, unnest(list_filter(
          string_split_regex(trim(lower(text)), '\s+'), x -> len(x) > 0)) AS term
        FROM documents),
      tf AS (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
             FROM toks GROUP BY 1, 2),
      df AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1),
      n AS (SELECT CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs FROM tf),
      sc AS (
        SELECT tf.doc_id, tf.term, tf.tf, df.df,
          CAST(tf.tf * n.n_docs AS DOUBLE) / CAST(df.df AS DOUBLE) AS score
        FROM tf JOIN df USING (term) CROSS JOIN n),
      rk AS (
        SELECT doc_id, term, tf, df, score,
          ROW_NUMBER() OVER (PARTITION BY doc_id
            ORDER BY score DESC, term ASC) AS rk
        FROM sc)
      SELECT doc_id, rk, term, tf, df, score FROM rk
      WHERE rk <= 3 ORDER BY doc_id, rk""")
}
