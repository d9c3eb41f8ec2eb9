package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** sf1 scaling smoke (VERDICT r6 #7): materialize a ~10× sf0.1 corpus
  * once (driver-generated testdata is read-only, so the scale-up lives
  * in tmpdir) and run the historically slowest queries through a single
  * unmeasured completion sweep — the cheapest end-to-end evidence that
  * the partition/shuffle shapes survive a 10× scale step without
  * spill-death, beyond plan inspection.
  *
  * Scale-up construction: dimensions copy through unchanged (the
  * realistic cluster shape — facts grow, dims don't); fact tables
  * replicate ×[[Reps]] with key columns shifted per replica so key
  * cardinality scales with volume and referential pairs (orders ↔
  * lineitem) stay consistent. Document text gets a per-replica prefix
  * so the shingle space grows with the corpus instead of collapsing
  * into 10-way exact duplicates (which would measure a pathological
  * dup-density no real 10× corpus has); embeddings replicate id-shifted
  * (duplicate vectors are realistic near-dup mass for ANN/graph ops).
  *
  * Run by `sbt "runMain graft.ScaleSmoke"` — never by [[Bench]], so
  * round artifacts are unaffected; results print to stderr and are
  * recorded in NOTES.md.
  */
object ScaleSmoke {
  val Reps = 10

  /** The slowest bench entries per BENCH_r06/BASELINE.md — the queries
    * whose scale behavior is worth end-to-end evidence.
    */
  val SlowestQueries: Seq[String] = Seq(
    "sim_graph_centrality", "dedup_containment", "dedup_components_alt",
    "dedup_editdist", "sim_knn_graph", "dq_outlier_mad", "mix_budget",
    "q66_equidepth_hist", "ta_cms_freq", "dedup_minhash_lsh",
    // round-7 session-2 heavyweights: shingle-set overlap matrix,
    // TF-IDF vocab join, line dedup reassembly, histogram BFD packing
    "dedup_source_overlap", "ta_tfidf", "dedup_paragraph", "pack_bfd",
    // session-3 heavyweights: dense-graph triangle census, agreement
    // forensics (reruns the LSH chain), component-keyed split, lift
    "sim_triangles", "dedup_method_agreement", "sample_group_split",
    "q74_basket_lift",
    // round-8 heavyweights: component-size histogram (reruns the LSH
    // chain), cross-split LSH decon, one-pass recall curve
    "dedup_cluster_sizes", "decon_minhash", "sim_recall_curve",
    // round-10: char-gram span audit — the suite's newest heavy
    "dedup_substr_spans",
    // round-11: the 128-bit span twin (2x the gram shuffle width) and
    // the two-snapshot decon probe (two eval broadcasts over one scan)
    "dedup_substr_spans128", "decon_cross_snapshot")

  def ensureSf1(spark: SparkSession, srcDir: String): String =
    ensureScaled(spark, srcDir, Reps, "graft_sf1")

  /** sf3 materialization (VERDICT r7 ask #6): 30× sf0.1 — a second
    * order of magnitude above the bench corpus, same replication
    * construction as sf1.
    */
  def ensureSf3(spark: SparkSession, srcDir: String): String =
    ensureScaled(spark, srcDir, 3 * Reps, "graft_sf3")

  /** First free key after a table's max — the replica id-remap base
    * (shared by every scaled-fixture builder).
    */
  private def keyBase(df: DataFrame, c: String): Long =
    // cast first: an INT key column (embeddings.label) would otherwise
    // throw Integer-cannot-cast-to-Long at head()
    df.agg(max(col(c).cast("long"))).head.getLong(0) + 1L

  /** The replica fixtures shift a key by i*base in LONG then cast back
    * to the column's physical type; on an INT column a shift past
    * Int.MaxValue would wrap (or null under ANSI) SILENTLY, breaking
    * the disjoint-range invariant the closed-form predictions
    * ([[labelConfusionExpected]]) depend on — fail loud instead
    * (ADVICE r16). Every shifted value is < base*reps (base = max+1),
    * so the bound is exact.
    */
  private def requireShiftFits(df: DataFrame, c: String,
      base: Long, reps: Int): Unit =
    if (df.schema(c).dataType == org.apache.spark.sql.types.IntegerType)
      require(base * reps <= Int.MaxValue.toLong,
        s"$c shift overflows INT: base=$base reps=$reps — widen $c " +
          "to LONG before replicating")

  def ensureScaled(
      spark: SparkSession, srcDir: String, reps: Int, name: String): String = {
    val out = s"${System.getProperty("java.io.tmpdir")}/$name"
    val done = new java.io.File(s"$out/_DONE")
    if (done.exists()) return out
    import spark.implicits._
    def tbl(n: String) = Tables.t(spark, srcDir, n)
    def replicate(n: String)(f: (DataFrame, Int) => DataFrame): Unit =
      (0 until reps).map(i => f(tbl(n), i)).reduce(_ unionByName _)
        .write.mode("overwrite").parquet(s"$out/$n.parquet")
    Seq("region", "nation", "customer", "supplier", "part").foreach { n =>
      tbl(n).write.mode("overwrite").parquet(s"$out/$n.parquet")
    }
    val okBase = keyBase(tbl("orders"), "o_orderkey")
    replicate("orders")((df, i) =>
      df.withColumn("o_orderkey", $"o_orderkey" + lit(i * okBase)))
    replicate("lineitem")((df, i) =>
      df.withColumn("l_orderkey", $"l_orderkey" + lit(i * okBase)))
    val evBase = keyBase(tbl("events"), "event_id")
    val userBase = keyBase(tbl("events"), "user_id")
    replicate("events")((df, i) => df
      .withColumn("event_id", $"event_id" + lit(i * evBase))
      .withColumn("user_id", $"user_id" + lit(i * userBase)))
    val docBase = keyBase(tbl("documents"), "doc_id")
    replicate("documents")((df, i) =>
      if (i == 0) df
      else df
        .withColumn("doc_id", $"doc_id" + lit(i * docBase))
        .withColumn("text", concat(lit(s"r$i "), $"text"))
        .withColumn("n_chars", $"n_chars" + lit(s"r$i ".length.toLong)))
    val vecBase = keyBase(tbl("embeddings"), "vec_id")
    replicate("embeddings")((df, i) =>
      df.withColumn("vec_id", $"vec_id" + lit(i * vecBase)))
    java.nio.file.Files.write(done.toPath, Array.emptyByteArray)
    out
  }

  /** One completion sweep of [[SlowestQueries]] at sf1; per-query wall
    * times to stderr (unmeasured protocol — evidence of completion and
    * rough scaling factor, not a benchmark figure).
    */
  def run(spark: SparkSession, srcDir: String): Unit = {
    val dir = ensureSf1(spark, srcDir)
    SlowestQueries.foreach { name =>
      val t0 = System.nanoTime()
      SparkEntry.queries(name)(spark, dir)
        .write.mode("overwrite").format("noop").save()
      val secs = (System.nanoTime() - t0) / 1e9
      System.err.println(f"[sf1] $name%-24s $secs%.1f s")
    }
  }

  /** sf3 probe of the top-3 heavies (VERDICT r7 ask #6): a single
    * completion sweep at 30× sf0.1 pushing the scale evidence a second
    * order of magnitude. Run by `sbt "runMain graft.ScaleSmoke sf3"`;
    * stderr-only like [[run]]; results recorded as a table in NOTES.md.
    */
  val Sf3Queries: Seq[String] =
    Seq("sim_triangles", "dedup_components_alt", "dedup_minhash_lsh",
      "dedup_substr_spans", "dedup_substr_spans128")

  def runSf3(spark: SparkSession, srcDir: String): Unit = {
    val dir = ensureSf3(spark, srcDir)
    Sf3Queries.foreach { name =>
      val t0 = System.nanoTime()
      SparkEntry.queries(name)(spark, dir)
        .write.mode("overwrite").format("noop").save()
      val secs = (System.nanoTime() - t0) / 1e9
      System.err.println(f"[sf3] $name%-24s $secs%.1f s")
    }
  }

  /** sf10 probe (VERDICT r8 ask #6): 100× the bench corpus — TWO full
    * orders of magnitude — on the two heavies whose scale story
    * matters most: the LSH banding chain and the triangle kernel
    * (which at 100× crosses its [[graft.ops.Similarity.TriBroadcastMaxEdges]]
    * budget and exercises the declarative join FALLBACK — the probe
    * certifies the budget switch, not just the kernel). ~15 GB of
    * parquet in /tmp; same replication construction as sf1/sf3.
    * Run by `sbt "runMain graft.ScaleSmoke sf10"`; stderr-only;
    * results recorded as a table in NOTES.md.
    */
  val Sf10Queries: Seq[String] = Seq("dedup_minhash_lsh", "sim_triangles")

  def ensureSf10(spark: SparkSession, srcDir: String): String =
    ensureScaled(spark, srcDir, 10 * Reps, "graft_sf10")

  def runSf10(spark: SparkSession, srcDir: String): Unit = {
    val dir = ensureSf10(spark, srcDir)
    Sf10Queries.foreach { name =>
      val t0 = System.nanoTime()
      SparkEntry.queries(name)(spark, dir)
        .write.mode("overwrite").format("noop").save()
      val secs = (System.nanoTime() - t0) / 1e9
      System.err.println(f"[sf10] $name%-24s $secs%.1f s")
    }
  }

  /** sf10 document corpus at ~CONSTANT dup density (VERDICT r9 ask
    * #3): the plain ×100 replication hands every doc N−1 near-replicas
    * (the `r$i ` prefix shifts 1 token of ~50, Jaccard ≈ 0.95), so
    * TRUE pair mass grows ~N²/2 — the 148.2 s sf10 minhash row
    * measures that synthetic pair-mass explosion, not the candidate
    * generator. Here every replica i > 0 is DEEP-salted instead: each
    * token is prefixed with the replica tag, so replicas share no
    * shingles across copies while each copy preserves the original's
    * intra-copy near-dup families exactly — pair mass scales ×N
    * (linear), the dup DENSITY a real 100× corpus has. Only the
    * documents table is materialized (the probe query reads nothing
    * else).
    */
  def ensureSf10ConstDup(spark: SparkSession, srcDir: String): String = {
    val out = s"${System.getProperty("java.io.tmpdir")}/graft_sf10cd"
    val done = new java.io.File(s"$out/_DONE")
    if (done.exists()) return out
    import spark.implicits._
    val docs = Tables.t(spark, srcDir, "documents")
    val docBase = keyBase(docs, "doc_id")
    (0 until 10 * Reps).map { i =>
      if (i == 0) docs
      else docs
        .withColumn("doc_id", $"doc_id" + lit(i * docBase))
        // separator after the replica tag: a bare "x$i" prefix is
        // ambiguous (replica 1 of token "2foo" == replica 12 of
        // "foo"), which would silently re-introduce cross-replica
        // shingle overlap on digit-leading tokens
        .withColumn("text", array_join(
          transform(filter(split(trim($"text"), "\\s+"), t => length(t) > 0),
            t => concat(lit(s"x${i}_"), t)), " "))
        .withColumn("n_chars", length($"text").cast(docs.schema("n_chars").dataType))
    }.reduce(_ unionByName _)
      .write.mode("overwrite").parquet(s"$out/documents.parquet")
    java.nio.file.Files.write(done.toPath, Array.emptyByteArray)
    out
  }

  /** Char-gram-preserving 100× fixture (VERDICT r14 ask #4): the
    * deep-salted [[ensureSf10ConstDup]] prefixes every TOKEN, which
    * preserves word-shingle df but collapses char-gram spans (~2
    * words → ~1 word) — so char-level pair-verify mass stayed at
    * replica-0 level and dedup_winnow_pairs' sf10cd row certified scan
    * cost only. This fixture replicates by a per-replica CHARACTER
    * SUBSTITUTION CIPHER instead (class-preserving bijections over
    * a–z/A–Z/0–9, whitespace and punctuation fixed, built by sorting
    * each class by md5(replica:char) — deterministic, distinct per
    * replica; the A–Z permutation is the uppercase IMAGE of the a–z
    * one, so the bijection COMMUTES with case folding — winnow
    * lowercases text first, and independent case permutations would
    * break case-insensitive char equality like 'The' vs 'the' spans
    * inside replicas, under-replicating char-gram pair mass — the
    * r15 x95.6-vs-x100 gap): a bijection applied uniformly preserves
    * EVERY within-replica character-equality structure exactly — gram
    * lengths, repeats, shared spans, winnow guarantee, fingerprint df
    * distribution — while cross-replica grams hash apart (the
    * char-level analog of sf10emb's sign-flip orthogonal transform).
    * Near-dup pairs therefore replicate ×100 WITH their char-gram
    * evidence intact, and the corpus-wide df cap behaves exactly as at
    * base scale. n_chars needs no rewrite: ciphers are
    * length-preserving.
    */
  def ensureSf10CharDup(spark: SparkSession, srcDir: String): String = {
    // "chd2": the r16 fixture derives the A–Z permutation as the
    // uppercase IMAGE of the a–z one (r15 ADVICE) — the r15 cache under
    // graft_sf10chd has independent case permutations and is stale.
    val out = s"${System.getProperty("java.io.tmpdir")}/graft_sf10chd2"
    val done = new java.io.File(s"$out/_DONE")
    if (done.exists()) return out
    import spark.implicits._
    val docs = Tables.t(spark, srcDir, "documents")
    val docBase = keyBase(docs, "doc_id")
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    def permOf(chars: Seq[Char], r: Int): String =
      if (r == 0) chars.mkString
      else chars.sortBy(c => md5hex(s"$r:$c")).mkString
    val from = (('a' to 'z') ++ ('A' to 'Z') ++ ('0' to '9')).mkString
    (0 until 10 * Reps).map { i =>
      if (i == 0) docs
      else docs
        .withColumn("doc_id", $"doc_id" + lit(i * docBase))
        .withColumn("text", translate($"text", from,
          permOf('a' to 'z', i) + permOf('a' to 'z', i).toUpperCase +
            permOf('0' to '9', i)))
    }.reduce(_ unionByName _)
      .write.mode("overwrite").parquet(s"$out/documents.parquet")
    java.nio.file.Files.write(done.toPath, Array.emptyByteArray)
    out
  }

  /** The char-gram operators probed over [[ensureSf10CharDup]]: winnow
    * PAIR mass must grow ~×100 (each replica contributes its base-
    * corpus near-dup pairs with char evidence intact) and wall must be
    * at-or-below linear.
    */
  val Sf10ChdQueries: Seq[String] = Seq("dedup_winnow_pairs")

  def runSf10CharDup(spark: SparkSession, srcDir: String): Unit =
    runConstDensityProbes(spark, srcDir, ensureSf10CharDup(spark, srcDir),
      Sf10ChdQueries, "sf10chd")

  /** Constant-density sf10 probe: time AND output row count (pair /
    * span mass) per query, so NOTES.md can put measured mass beside
    * the wall time. The LSH chain certified near-linear here in r10;
    * r12 adds the substr-spans family (VERDICT r11 ask #4) — its
    * fingerprint-partitioned occurrence window is the suite's heaviest
    * shape and its cost is gram-mass-proportional, exactly what the
    * deep-salted corpus scales linearly. Gated by the `sf10cd` arg;
    * stderr-only like the others.
    */
  val Sf10cdQueries: Seq[String] =
    Seq("dedup_minhash_lsh", "dedup_substr_spans", "dedup_substr_spans128",
      "dedup_span_length_hist",
      // r13 (VERDICT r12 ask #3): the BPE family. Its 100 TB argument is
      // the vocabulary collapse — cost ∝ corpus for the ONE collapse
      // pass, then ∝ |vocab|·rounds for training — and vocab growth is
      // Heaps-law, NOT automatically linear. The deep-salted corpus is
      // the WORST case for it: every replica brings disjoint word types,
      // so |vocab| grows the full ×100 (harsher than any real corpus's
      // sublinear Heaps exponent). ta_bpe_train times the trainer,
      // ta_bpe_curve the budget-ablation kernel, ta_bpe_encode the
      // per-doc encode under a PRE-WARMED cached merge table (training
      // cost is its own row, not double-counted into encode).
      "ta_bpe_train", "ta_bpe_curve", "ta_bpe_encode",
      // r13 session 2: the decontamination probes — the broadcast-eval
      // single-scan shape at 100× corpus (the eval side stays the same
      // ~3% md5 tail, so the broadcast grows with it; the question the
      // probe answers is whether the train-side scan + probe join stays
      // corpus-linear and the bounded pair table stays bounded)
      "decon_tier_curve", "decon_smear_report",
      // r14 (VERDICT r13 ask #3): the two remaining top-cost uncertified
      // heavies — banded edit-distance candidate generation and the
      // prefix-band containment join. Both generate candidate PAIRS from
      // banded inverted indexes; the deep-salted corpus keeps dup
      // density constant so their pair mass should scale ×N, and the
      // probe checks the candidate fan-out (not just the verify step)
      // rides that linear mass rather than a hidden quadratic.
      "dedup_editdist", "dedup_containment",
      // r14: the first containment probe read 230× — the old verify
      // attached FULL shingle arrays to every candidate (two array
      // shuffles × candidate mass + a corpus-sized array cache). The
      // decomposed intersectCandidatesOf trunk fixed it; jaccard and
      // its band histogram shared the defective shape, so all three
      // certify under the new trunk.
      "dedup_ngram_jaccard", "dedup_jaccard_hist",
      // r15: the source-attribution audits — exact matrix (dedup-exact
      // shuffle + hash self-join), near matrix (rides the certified LSH
      // chain + one broadcast endpoint join), and the decon source
      // rollup (bounded pairs broadcast into one ×100 corpus tag-scan)
      "dedup_source_matrix", "dedup_source_matrix_near",
      "decon_source_report",
      // r15: the bigram-LM quality scorer — like the BPE family, its
      // 100 TB cost question is vocabulary growth, and the deep-salted
      // corpus is the WORST case (disjoint word types per replica, so
      // |vocab| and |observed bigrams| both grow the full ×100 — real
      // corpora grow sublinearly by Heaps' law); the probe checks the
      // count tables + co-partitioned scoring joins ride that mass
      "ta_lm_surprisal",
      // r16: the trigram-backoff scorer — the SAME Heaps-law worst case,
      // one order harsher (the trigram table grows the full ×100 and is
      // strictly larger than the bigram one; four co-partitioned
      // scoring joins instead of two)
      "ta_lm_trigram",
      // r16: the trigram trunk's source rollup and the band-stratified
      // sampler (surprisal trunk + band-partitioned cap window — the
      // window's partition count is value-domain-bounded, so the probe
      // checks the per-band sort rides the ×100 band mass)
      "ta_lm_backoff_rate", "sample_lm_band",
      // r17: the KN-4-gram tier — the Heaps worst case one order
      // harsher still: the 4-gram type table grows the full ×100 AND
      // every continuation-count table is a distinct-type aggregate of
      // it; the probe checks the checkpointed-lexicon fan-out plus the
      // single occurrence-side join ride that mass
      "ta_lm_kn4",
      // r14 session 2: the character-level winnow family — decon_winnow
      // (compiled signed-Long kernel + broadcast df-capped eval probe;
      // at 100× the eval side grows ×100 with the md5 tail, so the probe
      // checks the broadcast-probe shape holds when the benchmark itself
      // is large) and dedup_winnow_pairs (md5-STRING fingerprints through
      // the df-capped inverted index — strings in the shuffle are the
      // suspected scale smell worth measuring, the containment lesson)
      "decon_winnow", "dedup_winnow_pairs",
      // r14 session 2: the remaining top-cost documents-table queries
      // without a 100× row (suite ranks 4/5/10/11). All ride the LSH
      // candidate chain (certified 5.1× in r13) into different tails:
      // connected components (star contraction, O(log n) rounds — the
      // probe checks the round count's log growth doesn't hide a
      // superlinear edge mass), leak-safe group splitting, cluster-size
      // histogram, and representative election.
      "dedup_components_alt", "sample_group_split",
      "dedup_cluster_sizes", "dedup_representatives",
      // r17: the rank-window retirements (VERDICT r16 #1). The fixture
      // keeps the SAME source set at ×100 mass per source — the hot-key
      // worst case for the retired per-source windows. mix_curriculum
      // probes the two-pass prefix-sum rank kernel (order-producing, so
      // min-k can't apply); sample_dsir_topk and ta_ngram_top probe the
      // descending-key min-k aggregations (dsir rides the importance
      // trunk, ngram_top the Heaps-worst-case bigram lexicon that grows
      // the full ×100 here like the LM family's tables).
      "mix_curriculum", "sample_dsir_topk", "ta_ngram_top")

  def runSf10ConstDup(spark: SparkSession, srcDir: String): Unit =
    runConstDensityProbes(spark, srcDir, ensureSf10ConstDup(spark, srcDir),
      Sf10cdQueries, "sf10cd")

  /** The shared symmetric-warm probe sweep over a pre-built 100×
    * constant-density fixture — used by the documents-table sweep
    * (`sf10cd`) and the embeddings sweep (`sf10emb`).
    */
  private def runConstDensityProbes(spark: SparkSession, srcDir: String,
      dir: String, queries: Seq[String], tag: String): Unit = {
    // iteration aid (never set by the driver): restrict the sweep to
    // matching names so a new probe row doesn't re-pay the whole table.
    // An EMPTY value reads as unset — Some(Seq()) would silently match
    // nothing and the certification sweep would "succeed" at 0 queries.
    // SPARK_GRAFT_SF10CD_ONLY governs EVERY probe sweep routed through
    // this helper — sf10cd documents, sf10emb embeddings, AND the
    // sf10rel relational sweep (the name predates sf10rel; kept for
    // muscle-memory compatibility — one knob, the sweeps never run
    // together); entries are trimmed so "a, b" lists work like
    // SPARK_GRAFT_CANARY_QUERIES' do.
    val only = sys.env.get("SPARK_GRAFT_SF10CD_ONLY")
      .map(_.split(",").toSeq.map(_.trim).filter(_.nonEmpty))
      .filter(_.nonEmpty)
    queries.filter(n => only.forall(_.exists(n.contains))).foreach { name =>
      // time each query at the SOURCE sf too (identical probe protocol),
      // so the NOTES ratio table compares like with like instead of
      // borrowing bench-suite figures measured under a different
      // reducer. warm=true runs the plan once unmeasured first: the
      // first execution of a fresh JVM carries JIT + codegen-cache +
      // parquet-footer cost (a ~1 s sf0.1 query read 8.6 s cold), which
      // would inflate the DENOMINATOR and flatter the 100× ratio.
      def probe(d: String, warm: Boolean): (Double, Long) = {
        if (name == "ta_bpe_encode")
          graft.ops.TextAnalysis.ensureBpeMerges(spark, d)
        // hash-reduce over EVERY output column: a bare count() lets
        // Catalyst prune unused window/span columns (Window preserves
        // cardinality, so ColumnPruning deletes it outright) and the
        // probe times a gutted plan — first sf10cd run measured
        // dedup_substr_spans at 1.8 s "for" 100× data. The double
        // fold dodges ANSI long-SUM overflow.
        def once(): Long = {
          val q0 = SparkEntry.queries(name)(spark, d)
          q0.select(xxhash64(q0.columns.map(col): _*).as("h"))
            .agg(count(lit(1)), sum(col("h").cast("double"))).head().getLong(0)
        }
        if (warm) once()
        // the measured pass IS once() — one copy of the hash-reduce
        // shape, so the warm and measured plans can never drift apart
        val t0 = System.nanoTime()
        val n = once()
        ((System.nanoTime() - t0) / 1e9, n)
      }
      // BOTH sides warm (r13 ADVICE #5): the sf0.1 warm pass covers JIT
      // and codegen, but parquet-footer and page-cache reads are
      // per-DATASET — an unwarmed 100× side pays cold-read cost its
      // warmed denominator does not, biasing ratios upward and risking
      // false superlinearity verdicts. One unmeasured pass per side,
      // min-of-N-spirit symmetric.
      val (s0, n0) = probe(srcDir, warm = true)
      val (s1, n1) = probe(dir, warm = true)
      System.err.println(
        f"[$tag] $name%-24s sf0.1 $s0%6.1f s ($n0%d rows) -> 100x " +
          f"$s1%7.1f s ($n1%d rows), ratio ${s1 / s0}%.1f")
    }
  }

  /** 100× embeddings at constant NEIGHBOR density (r14): each replica
    * i > 0 is the base table under a per-replica DIAGONAL ±1 orthogonal
    * transform — coordinate j's sign flips when
    * xxhash64(i·64 + j) is odd — with vec_ids remapped by +i·base.
    * Intra-replica dot products are IEEE-IDENTICAL to the base's (the
    * same per-coordinate products in the same order; the two sign
    * flips cancel), so every replica preserves the base corpus's
    * neighbor structure EXACTLY, while cross-replica cosines are
    * Rademacher-modulated sums concentrating near 0 — the corpus grows
    * ×100 without densifying any neighborhood, the embedding analog of
    * the deep-salted documents fixture. The query set (vec_id <
    * NumQueries) stays the base ten vectors, so the sweep measures the
    * production ANN scale question: THE SAME queries against a 100×
    * index. Labels carry through unchanged (schema-identical table).
    */
  def ensureSf10Emb(spark: SparkSession, srcDir: String): String = {
    val out = s"${System.getProperty("java.io.tmpdir")}/graft_sf10emb"
    val done = new java.io.File(s"$out/_DONE")
    if (done.exists()) return out
    import spark.implicits._
    val e = Tables.t(spark, srcDir, "embeddings")
    val base = keyBase(e, "vec_id")
    (0 until 10 * Reps).map { i =>
      if (i == 0) e
      else e
        .withColumn("vec_id", $"vec_id" + lit(i * base))
        .withColumn("embedding", expr(
          s"transform(embedding, (x, j) -> CAST(x * (CASE WHEN " +
            s"pmod(xxhash64(${i}L * 64 + j), 2) = 0 THEN 1.0 ELSE -1.0 " +
            s"END) AS FLOAT))"))
    }.reduce(_ unionByName _)
      .write.mode("overwrite").parquet(s"$out/embeddings.parquet")
    java.nio.file.Files.write(done.toPath, Array.emptyByteArray)
    out
  }

  /** LABEL-STRATIFIED embeddings fixture (VERDICT r14 ask #7): the
    * sign-flip [[ensureSf10Emb]] preserves intra-replica geometry but
    * keeps the base LABELS, so label semantics scramble at scale — a
    * replica-7 vector labeled 3 is nowhere near replica-0's label-3
    * cluster, yet shares its label, so per-label metrics
    * (sim_knn_probe accuracy, sim_label_confusion's matrix) read
    * noise. This variant ALSO shifts labels per replica
    * (label + i·labelBase): each replica is a self-contained labeled
    * corpus IEEE-identical to the base under its orthogonal transform,
    * and cross-replica candidates carry DISTINCT labels — a spurious
    * ~0.3-cosine cross-replica neighbor can never masquerade as a
    * correct label. Parameterized replica count: the quadratic
    * all-pairs operator (sim_label_confusion rides the tiled exact
    * pass) probes at ×10 where its pair mass is already ×100; the
    * query-bounded kNN probe takes the full ×100.
    */
  def ensureSf10EmbLab(spark: SparkSession, srcDir: String,
      reps: Int): String = {
    val out =
      s"${System.getProperty("java.io.tmpdir")}/graft_sf10emblab$reps"
    val done = new java.io.File(s"$out/_DONE")
    if (done.exists()) return out
    import spark.implicits._
    val e = Tables.t(spark, srcDir, "embeddings")
    val base = keyBase(e, "vec_id")
    val labelBase = keyBase(e, "label")
    requireShiftFits(e, "label", labelBase, reps)
    (0 until reps).map { i =>
      if (i == 0) e
      else e
        .withColumn("vec_id", $"vec_id" + lit(i * base))
        // keep the column's physical type (INT in the shipped fixture)
        // so replica 0 and the shifted replicas union cleanly
        .withColumn("label", ($"label" + lit(i * labelBase))
          .cast(e.schema("label").dataType))
        .withColumn("embedding", expr(
          s"transform(embedding, (x, j) -> CAST(x * (CASE WHEN " +
            s"pmod(xxhash64(${i}L * 64 + j), 2) = 0 THEN 1.0 ELSE -1.0 " +
            s"END) AS FLOAT))"))
    }.reduce(_ unionByName _)
      .write.mode("overwrite").parquet(s"$out/embeddings.parquet")
    java.nio.file.Files.write(done.toPath, Array.emptyByteArray)
    out
  }

  /** IDENTICAL-replica embeddings fixture (VERDICT r15 ask #8): the
    * sign-flip fixtures certify WALL at scale but not the 0.40
    * THRESHOLD semantics — their cross-replica cosines are a
    * Rademacher tail (measured max 0.795 at ×10, versus a base-corpus
    * max pair cosine of 0.60), so the ×N confusion matrix picks up
    * spurious cross-replica rows that no threshold the base corpus
    * can express would exclude. This fixture replicates with
    * embeddings BYTE-UNCHANGED and only (vec_id, label) shifted: every
    * cross-replica dot product is bit-identical to a base dot product,
    * so the qualifying pair set at ANY threshold is a closed-form
    * function of the base matrix — within-replica rows are N shifted
    * copies of the base rows, and the (i<j) cross-replica block is the
    * base's ordered label-pair mass plus the self-copy diagonal
    * (cos(u,u) ≥ any threshold). [[labelConfusionExpected]] computes
    * that prediction; the probe and spec assert the operator's ×N
    * OUTPUT equals it row-for-row — threshold semantics certified at
    * scale, not just wall.
    */
  def ensureSf10EmbIdent(spark: SparkSession, srcDir: String,
      reps: Int): String = {
    // cache key carries the SOURCE dir (unlike the sibling fixtures,
    // this one is also built from sf0.001 by the spec — a shared name
    // would serve the wrong corpus)
    val srcTag = java.lang.Integer.toHexString(srcDir.hashCode)
    val out =
      s"${System.getProperty("java.io.tmpdir")}/graft_sf10embident${reps}_$srcTag"
    val done = new java.io.File(s"$out/_DONE")
    if (done.exists()) return out
    import spark.implicits._
    val e = Tables.t(spark, srcDir, "embeddings")
    val base = keyBase(e, "vec_id")
    val labelBase = keyBase(e, "label")
    requireShiftFits(e, "label", labelBase, reps)
    (0 until reps).map { i =>
      if (i == 0) e
      else e
        .withColumn("vec_id", $"vec_id" + lit(i * base))
        .withColumn("label", ($"label" + lit(i * labelBase))
          .cast(e.schema("label").dataType))
    }.reduce(_ unionByName _)
      .write.mode("overwrite").parquet(s"$out/embeddings.parquet")
    java.nio.file.Files.write(done.toPath, Array.emptyByteArray)
    out
  }

  /** Closed-form ×reps label-confusion matrix over the identical-
    * replica fixture, from the BASE matrix rows (label_a, label_b,
    * n_pairs) and the base per-label vector counts. Label ranges are
    * disjoint ascending per replica, so for i<j least/greatest always
    * resolves to (rep-i label, rep-j label). Returns
    * (label_a, label_b) -> n_pairs; shares follow as count/total (the
    * same one IEEE division the operator performs).
    */
  def labelConfusionExpected(
      baseRows: Seq[(Long, Long, Long)],
      hist: Map[Long, Long],
      reps: Int, labelBase: Long): Map[(Long, Long), Long] = {
    // ordered qualifying mass m(x,y): an unordered (la<lb) row feeds
    // both directions; a diagonal row counts twice ordered
    val m = scala.collection.mutable.Map.empty[(Long, Long), Long]
    baseRows.foreach { case (la, lb, c) =>
      if (la == lb) m((la, la)) = m.getOrElse((la, la), 0L) + 2L * c
      else {
        m((la, lb)) = m.getOrElse((la, lb), 0L) + c
        m((lb, la)) = m.getOrElse((lb, la), 0L) + c
      }
    }
    val out = scala.collection.mutable.Map.empty[(Long, Long), Long]
    def add(k: (Long, Long), c: Long): Unit =
      if (c > 0L) out(k) = out.getOrElse(k, 0L) + c
    (0 until reps).foreach { i =>
      // within-replica block: the base matrix, label-shifted
      baseRows.foreach { case (la, lb, c) =>
        add((la + i * labelBase, lb + i * labelBase), c)
      }
      // cross blocks i<j: ordered mass + the self-copy diagonal
      ((i + 1) until reps).foreach { j =>
        m.foreach { case ((x, y), c) =>
          add((x + i * labelBase, y + j * labelBase), c)
        }
        hist.foreach { case (l, n) =>
          add((l + i * labelBase, l + j * labelBase), n)
        }
      }
    }
    out.toMap
  }

  /** The ask-#8 probe: run the REGISTERED sim_label_confusion (0.40
    * threshold, tiled exact pass) over the ×reps identical-replica
    * fixture and assert its output equals [[labelConfusionExpected]]
    * row-for-row — counts AND shares. Prints wall + verdict.
    */
  def runSf10EmbIdentLab(spark: SparkSession, srcDir: String,
      reps: Int = 10): Unit = {
    import spark.implicits._
    val dir = ensureSf10EmbIdent(spark, srcDir, reps)
    val e = Tables.t(spark, srcDir, "embeddings")
    val labelBase = keyBase(e, "label")
    val hist = e.groupBy($"label".cast("long").as("l"))
      .agg(count(lit(1)).as("n")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    def asL(r: org.apache.spark.sql.Row, i: Int): Long =
      r.getAs[Number](i).longValue() // label is physically INT
    val base = graft.ops.Similarity.simLabelConfusion(spark, srcDir)
      .collect().map(r => (asL(r, 0), asL(r, 1), asL(r, 2))).toSeq
    val want = labelConfusionExpected(base, hist, reps, labelBase)
    val t0 = System.nanoTime()
    val got = graft.ops.Similarity.simLabelConfusion(spark, dir).collect()
      .map(r => (asL(r, 0), asL(r, 1)) ->
        ((asL(r, 2), r.getDouble(4)))).toMap
    val wall = (System.nanoTime() - t0) / 1e9
    val total = want.values.sum
    val wantFull = want.map { case (k, c) =>
      k -> ((c, c.toDouble / total.toDouble)) }
    val ok = got == wantFull
    System.err.println(
      f"[sf10embident] sim_label_confusion reps=$reps wall=$wall%.1f s " +
        f"rows=${got.size} (base=${base.size}) output==analytic: " +
        (if (ok) "PASS" else "FAIL"))
    if (!ok) {
      val missing = wantFull.keySet.diff(got.keySet)
      val extra = got.keySet.diff(wantFull.keySet)
      val diff = wantFull.keySet.intersect(got.keySet)
        .filter(k => got(k) != wantFull(k))
      System.err.println(s"[sf10embident] missing=$missing extra=$extra " +
        s"value-diff=${diff.take(10).map(k => (k, got(k), wantFull(k)))}")
    }
    require(ok, "x-scale confusion matrix diverged from the analytic form")
  }

  def runSf10EmbLab(spark: SparkSession, srcDir: String): Unit = {
    runConstDensityProbes(spark, srcDir,
      ensureSf10EmbLab(spark, srcDir, 10 * Reps),
      Seq("sim_knn_probe"), "sf10emblab")
    // the confusion matrix rides the tiled all-pairs exact pass — a
    // deliberately quadratic operator (the sim_knn_graph stance), so
    // its probe runs at ×10 corpus = ×100 PAIR mass; the ratio column
    // reads against that pair-mass growth, not corpus growth
    runConstDensityProbes(spark, srcDir,
      ensureSf10EmbLab(spark, srcDir, Reps),
      Seq("sim_label_confusion"), "sf10emblab10")
  }

  /** Embeddings-family probes over [[ensureSf10Emb]]: the exact
    * broadcast-query baseline (brute top-k and range search — linear
    * scans by construction, certifying the codegen'd kernel rides the
    * scale step), the three compressed/bucketed ANN tiers (LSH bands,
    * IVF with broadcast centroids — the chronic bench-flag query, SQ8),
    * and the kNN-graph builder (the banded blocking that backs the
    * persisted-artifact twin).
    */
  val Sf10EmbQueries: Seq[String] = Seq(
    "sim_brute_topk", "sim_range_search", "sim_lsh_ann", "sim_ivf_ann",
    "sim_sq_ann", "sim_knn_graph",
    // r14 session 2: the graph SERVING path against a prebuilt 100×
    // artifact — both queries run over the frozen on-disk index
    // (ensureGraphIndex builds once per corpus fingerprint during the
    // warm pass; the measured pass is pure beam search / centrality
    // against the stored neighbor lists, the production shape)
    "sim_graph_search", "sim_graph_centrality",
    // r15: the IVF-PQ hybrid serving tier (VERDICT r14 ask #6) — the
    // same fixed query set against a ×100 index; cost should ride the
    // probed-cell mass (~nprobe/k of the corpus) through the 8-byte
    // ADC sieve, not the corpus. The serve form runs against the
    // FROZEN on-disk index (built once per corpus fingerprint during
    // the warm pass — the graph-serving probe protocol): the measured
    // pass is partition-filtered code scan + ADC + re-rank only.
    "sim_ivfpq_ann", "sim_ivfpq_serve",
    // r16: the residual tier (same serving shape, residual codes) and
    // the nprobe fan-out curve (VERDICT r15 ask #5 — its ×k tiers over
    // a ×100 scored stream make it the sweep's most expensive row;
    // restrict with SPARK_GRAFT_SF10CD_ONLY when iterating)
    "sim_ivfpq_residual", "sim_ivfpq_residual_serve",
    "sim_ivfpq_recall_curve",
    // r17: the OPQ-rotated tier — identical serving shape; the only
    // delta vs residual is 64 extra dots per encoded vector inside the
    // fused scan (inline) / at query-table build time (serve), so the
    // probe checks rotation cost stays invisible at ×100
    "sim_ivfpq_opq", "sim_ivfpq_opq_serve")

  def runSf10Emb(spark: SparkSession, srcDir: String): Unit =
    runConstDensityProbes(spark, srcDir, ensureSf10Emb(spark, srcDir),
      Sf10EmbQueries, "sf10emb")

  /** Relational/metric probes at 100× over the PLAIN replicated fixture
    * ([[ensureSf10]] — keys shift per replica, referential pairs stay
    * consistent, part keys deliberately do NOT shift so co-purchase
    * identities repeat across replicas the way real catalog keys do):
    * the last top-10 bench entries without a 100× row. q74's pair mass
    * grows exactly ×100 (same baskets per replica, same pair
    * identities, supports ×100 — lift VALUES are scale-invariant, so
    * the top-k is stable and only the aggregation mass grows);
    * dq_outlier_mad's exact-rank MAD kernel re-ranks ×100 rows per
    * group.
    */
  val Sf10RelQueries: Seq[String] = Seq("q74_basket_lift", "dq_outlier_mad")

  def runSf10Rel(spark: SparkSession, srcDir: String): Unit =
    runConstDensityProbes(spark, srcDir, ensureSf10(spark, srcDir),
      Sf10RelQueries, "sf10rel")

  /** Streaming-twin FOLD-COST probe (r14): the twins' 100 TB claim is
    * "fold cost ∝ batch, never ∝ accumulated state" — argued
    * structurally (append-only evidence, no state reads on the fold
    * path) but never measured. The falsifiable part is the
    * [[graft.streaming.VersionedState]] machinery itself: version dirs
    * and fold-meta accumulate per batch, so a hidden list/copy-all
    * step would make LATE folds slower than EARLY ones. Protocol: the
    * corpus streams in [[TwinFoldBatches]] equal disjoint batches into
    * (a) the winnow-evidence twin (append-mode evidence, a frozen eval
    * split as the benchmark) and (b) the mix-curve twin
    * (budget-BOUNDED state rewritten per fold); per-fold wall times
    * print as first/median/last thirds — flat means the claim holds at
    * a state 25× the batch.
    */
  val TwinFoldBatches = 25

  def runTwinFold(spark: SparkSession, srcDir: String): Unit = {
    import spark.implicits._
    val root = java.nio.file.Files
      .createTempDirectory("graft_twinfold").toString
    val docs = Tables.t(spark, srcDir, "documents")
    val isEval = md5($"doc_id".cast("string")) >=
      graft.ops.Decontamination.EvalLower
    // frozen benchmark split — deterministic per batchId (the fold
    // contract), materialized once like a persisted eval table
    import graft.ops.Scale.GatedCheckpoint
    val evalDocs = docs.filter(isEval)
      .select($"doc_id", $"text").gatedCheckpoint()
    def sweep(tag: String)(fold: (Int, DataFrame) => Unit): Unit = {
      val times = (0 until TwinFoldBatches).map { i =>
        val batch = docs.filter(pmod($"doc_id", lit(TwinFoldBatches)) === i)
        val t0 = System.nanoTime()
        fold(i, batch)
        (System.nanoTime() - t0) / 1e9
      }
      val sorted = times.sorted
      System.err.println(
        f"[twinfold] $tag%-16s folds=${times.size} first=${times.head}%.2f s " +
          f"median=${sorted(times.size / 2)}%.2f s last=${times.last}%.2f s " +
          f"last3/first3=${times.takeRight(3).sum / times.take(3).sum}%.2f")
    }
    sweep("winnow_evidence") { (i, b) =>
      graft.examples.StreamingCuration.mergeWinnowEvidenceState(
        spark, s"$root/win", b, evalDocs, batchId = i.toLong)
    }
    sweep("mix_curve") { (i, b) =>
      graft.examples.StreamingCuration.mergeMixCurveState(
        spark, s"$root/mix", b, batchId = i.toLong)
    }
  }

  /** Twin fold-cost at 100× STATE (VERDICT r14 ask #2): the 25-batch
    * [[runTwinFold]] sweep shows flat folds at state ≈ 25× batch, but
    * the 100 TB claim is state ~10⁴× batch. This probe measures the
    * claim's falsifiable form directly: the SAME small fixed batch
    * (1/25 of the sf0.1 corpus) folds into (a) a state seeded from the
    * sf0.1 corpus and (b) a state seeded from the 100× sf10cd corpus —
    * if any fold path secretly reads accumulated state ∝ its size
    * (a list-all-versions scan, an evidence re-read, an unbounded
    * merged-table rewrite), the big-state fold is ~100× slower; if
    * fold ∝ batch holds, the two walls are equal. Three twins spanning
    * the state classes: `len_profile` (value-domain-bounded rewrite),
    * `manifest` (|sources|-row xor fold), `winnow_evidence`
    * (append-mode evidence — state GROWS with contaminated mass, the
    * class where a hidden re-read would hurt most). Median of 3
    * measured folds per side, distinct batchIds, per-fold doc_id
    * offsets so appends never alias.
    */
  def runTwinFold100(spark: SparkSession, srcDir: String): Unit = {
    import spark.implicits._
    import graft.ops.Scale.GatedCheckpoint
    val root = java.nio.file.Files
      .createTempDirectory("graft_twinfold100").toString
    val small = Tables.t(spark, srcDir, "documents")
    val big = Tables.t(spark, ensureSf10ConstDup(spark, srcDir), "documents")
    val isEval = md5($"doc_id".cast("string")) >=
      graft.ops.Decontamination.EvalLower
    // frozen benchmark split from the SOURCE corpus — the same eval
    // table probes both states (the fold contract's deterministic form)
    val evalDocs = small.filter(isEval)
      .select($"doc_id", $"text").gatedCheckpoint()
    val batch = small.filter(pmod($"doc_id", lit(25)) === 7)
      .gatedCheckpoint()
    def offsetIds(df: DataFrame, j: Int): DataFrame =
      df.withColumn("doc_id", $"doc_id" + lit(j * 100000000L))
    // the runConstDensityProbes iteration knob, same semantics: empty
    // reads as unset, entries trimmed, substring match
    val only = sys.env.get("SPARK_GRAFT_SF10CD_ONLY")
      .map(_.split(",").toSeq.map(_.trim).filter(_.nonEmpty))
      .filter(_.nonEmpty)
    def probe(tag: String)(
        fold: (String, Long, DataFrame) => Unit): Unit = {
      if (!only.forall(_.exists(tag.contains))) return
      fold(s"$root/$tag-small", 0L, small)
      fold(s"$root/$tag-big", 0L, big)
      def measure(dir: String): Double = {
        val ts = (1 to 3).map { j =>
          val t0 = System.nanoTime()
          fold(dir, j.toLong, offsetIds(batch, j))
          (System.nanoTime() - t0) / 1e9
        }
        ts.sorted.apply(1) // median of 3
      }
      val s = measure(s"$root/$tag-small")
      val b = measure(s"$root/$tag-big")
      System.err.println(
        f"[twinfold100] $tag%-16s smallState=$s%.2f s bigState=$b%.2f s " +
          f"big/small=${b / s}%.2f")
    }
    probe("len_profile")((d, id, b) =>
      graft.examples.StreamingCuration.mergeLenProfileState(spark, d, b, id))
    probe("manifest")((d, id, b) =>
      graft.examples.StreamingCuration.mergeManifestState(spark, d, b, id))
    probe("winnow_evidence")((d, id, b) =>
      graft.examples.StreamingCuration.mergeWinnowEvidenceState(
        spark, d, b, evalDocs, id))
    // r15: the LM model twin — two value-domain-bounded count
    // rewrites (unigram + bigram); under the deep-salted 100× corpus
    // the BIGRAM table grows the full ×100 (disjoint word types per
    // replica — the Heaps-law worst case), so this is the twin whose
    // read-merge-rewrite fold is most exposed to state size
    probe("lm_model")((d, id, b) =>
      graft.examples.StreamingCuration.mergeLmModelState(spark, d, b, id))
    // r16: the trigram twin — the same read-merge-rewrite class with a
    // strictly LARGER merged table (the ×100 deep-salted trigram
    // lexicon), so this is now the twin most exposed to state size
    probe("lm_trigram_model")((d, id, b) =>
      graft.examples.StreamingCuration
        .mergeLmTrigramModelState(spark, d, b, id))
    // r17: the KN-4-gram twin — one order harsher again (the ×100
    // 4-gram type table strictly contains the trigram lexicon's
    // growth), and the fold now rewrites FOUR tables; this is the
    // twin most exposed to state size
    probe("lm_kn4_model")((d, id, b) =>
      graft.examples.StreamingCuration
        .mergeLmKn4ModelState(spark, d, b, id))
  }

  /** Entry for every scale sweep: `sbt "runMain graft.ScaleSmoke sf10"`
    * (or `sf3`, `sf10cd`, …; no argument runs the sf1 sweep).
    */
  def main(args: Array[String]): Unit = {
    val spark = new graft.runtime.SessionWrapper(
      graft.core.config.SparkConfig.local()).session
    spark.sparkContext.setLogLevel("WARN")
    val src = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    if (args.contains("sf10cd")) runSf10ConstDup(spark, src)
    else if (args.contains("sf10embident")) runSf10EmbIdentLab(spark, src)
    else if (args.contains("sf10emblab")) runSf10EmbLab(spark, src)
    else if (args.contains("sf10emb")) runSf10Emb(spark, src)
    else if (args.contains("sf10rel")) runSf10Rel(spark, src)
    else if (args.contains("sf10chd")) runSf10CharDup(spark, src)
    else if (args.contains("twinfold100")) runTwinFold100(spark, src)
    else if (args.contains("twinfold")) runTwinFold(spark, src)
    else if (args.contains("sf10")) runSf10(spark, src)
    else if (args.contains("sf3")) runSf3(spark, src)
    else run(spark, src)
    spark.stop()
  }
}
