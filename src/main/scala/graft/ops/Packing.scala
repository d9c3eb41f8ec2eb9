package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables.t
import graft.ops.Scale.GatedCheckpoint

/** Sequence assembly for LLM training and retrieval pipelines, over the
  * `documents` table.
  *
  * Two operators:
  *
  *  - '''pack_sequences''' — GPT-style concat-and-chunk packing: every
  *    document is laid out at its global token offset (documents
  *    concatenated in doc_id order), and fixed-length training sequences
  *    of [[SeqLen]] tokens are cut across document boundaries. Output is
  *    one row per (document, sequence) incidence with the token slice of
  *    the document that lands in that sequence — exactly the index a
  *    packed-dataset loader needs, with zero padding waste.
  *  - '''pack_chunks''' — RAG-style per-document sliding-window chunking
  *    ([[ChunkLen]] tokens, [[ChunkOverlap]] overlap). Embarrassingly
  *    parallel, pure codegen (`sequence` + `explode`), no shuffle.
  *
  * 100 TB shape of pack_sequences: the global token offset is a prefix
  * sum over a total order — the naive form (`Window.orderBy` with no
  * partition key) funnels the corpus through ONE task; here it is a
  * [[Scale.runningSum]] over (doc_id, n_tokens), with no wide shuffle
  * of text at all.
  */
object Packing {

  val SeqLen = 2048L
  val ChunkLen = 512L
  val ChunkOverlap = 64L
  val ChunkStride: Long = ChunkLen - ChunkOverlap

  /** Concat-and-chunk packing: rows (doc_id, seq_id, tok_from, tok_to) —
    * tokens [tok_from, tok_to) of doc_id belong to training sequence
    * seq_id. A document longer than `seqLen` spans several sequences; a
    * sequence boundary mid-document splits the document's slice.
    */
  def packSequences(s: SparkSession, dir: String, seqLen: Long = SeqLen,
      partitions: Int = 32): DataFrame = {
    import s.implicits._
    packSequencesOf(t(s, dir, "documents")
      .select($"doc_id", TextAnalysis.tokenCount($"text").as("n"))
      .as[(Long, Long)], seqLen, partitions)
  }

  /** [[packSequences]] over any (doc_id, n) Dataset — the form the
    * ScalaCheck property drives with generated corpora. Empty documents
    * (n = 0) take no slice of any sequence.
    */
  def packSequencesOf(
      counts: org.apache.spark.sql.Dataset[(Long, Long)],
      seqLen: Long, partitions: Int = 32): DataFrame = {
    val rs = Scale.runningSum(counts.toDF("doc_id", "n").filter(col("n") > 0L),
      None, Seq(col("doc_id").asc), Some("n"), partitions)
    rs.rows
      .select(col("doc_id"), col("n"), (col("cum") - col("n")).as("start"),
        explode(sequence(expr(s"(cum - n) div $seqLen"),
          expr(s"(cum - 1) div $seqLen"))).as("seq_id"))
      .select(col("doc_id"), col("seq_id"),
        greatest(lit(0L), col("seq_id") * seqLen - col("start")).as("tok_from"),
        least(col("n"), (col("seq_id") + 1L) * seqLen - col("start")).as("tok_to"))
      .orderBy("doc_id", "seq_id")
  }

  /** Sliding-window chunking: rows (doc_id, chunk_id, tok_from, tok_to);
    * chunk k of a doc covers tokens [k*stride, min(n, k*stride+chunkLen)).
    * Every chunk start below n emits, so consecutive chunks overlap by
    * `ChunkOverlap` tokens. Pure narrow codegen over the scan.
    */
  def packChunks(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "documents")
      .select($"doc_id", TextAnalysis.tokenCount($"text").as("n"))
      .filter($"n" > 0L)
      .select($"doc_id", $"n",
        explode(sequence(lit(0L), $"n" - 1L, lit(ChunkStride))).as("tok_from"))
      .select($"doc_id",
        ($"tok_from" / ChunkStride).cast("long").as("chunk_id"),
        $"tok_from",
        least($"n", $"tok_from" + ChunkLen).as("tok_to"))
      .orderBy("doc_id", "chunk_id")
  }

  val ShardCount = 8

  /** Balanced SHARD assignment — the "write the corpus as N training
    * shards of near-equal token mass" step every packed-dataset export
    * ends with (webdataset/TFRecord shard writing). Docs are ranked by
    * (n_tokens desc, doc_id asc) and dealt SERPENTINE over the N
    * shards (block k deals left-to-right, block k+1 right-to-left) —
    * the classic LPT-style greedy that bounds shard imbalance by one
    * document per block, deterministic and engine-replayable where
    * true greedy bin-packing is inherently sequential.
    *
    * 100 TB shape: the global size rank is a [[Scale.runningSum]] of 1
    * over the (n desc, id) order — no single-partition window — and the
    * per-shard summary aggregates with map-side partials. Output is the
    * N-row shard manifest.
    */
  def packShards(s: SparkSession, dir: String,
      shards: Int = ShardCount, partitions: Int = 32): DataFrame = {
    import s.implicits._
    val docs = t(s, dir, "documents")
      .select($"doc_id", TextAnalysis.tokenCount($"text").as("n_tokens"))
      .filter($"n_tokens" > 0L)
    // serpentine deal of the 0-based global size rank cum − 1: block
    // (cum − 1) / N deals left-to-right when even, right-to-left when odd
    val pos = ($"cum" - 1L) % shards.toLong
    Scale.runningSum(docs, None, Seq($"n_tokens".desc, $"doc_id".asc), None,
      partitions)
      .rows.select(
        when(expr(s"(cum - 1) div $shards") % 2L === 0L, pos)
          .otherwise(lit(shards - 1L) - pos).as("shard_id"),
        $"doc_id", $"n_tokens")
      .groupBy($"shard_id")
      .agg(count(lit(1)).as("n_docs"),
        sum($"n_tokens").as("shard_tokens"),
        sum($"doc_id").as("sum_doc_ids"))
      .orderBy("shard_id")
  }

  // ---- whole-document bin packing (Krell et al. 2021-style) ----

  /** Context length for pack_bfd bins. */
  val BfdLen = 128L

  /** One placement segment of the histogram BFD solve: ranks
    * [rankFrom, rankFrom + nBins·perBin) of length-class `len` map to
    * bins firstBin + (rank − rankFrom) / perBin.
    */
  final case class BfdSeg(len: Long, rankFrom: Long, nBins: Long,
      perBin: Long, firstBin: Long)

  /** Best-fit-decreasing bin packing solved on the LENGTH HISTOGRAM —
    * the observation (Krell et al. 2021, "Efficient Sequence Packing")
    * that with lengths capped at L there are ≤ L distinct values, so
    * the whole packing plan is a driver-side solve over a bounded
    * histogram no matter how many documents exist.
    *
    * Semantics: item-level best-fit-decreasing with total determinism —
    * items ordered (len desc, doc_id asc), each placed in the bin with
    * the smallest remaining capacity ≥ len, ties to the lowest bin id.
    * Identical items drain a chosen bin completely before the next
    * (the absorbed bin stays the best fit as its capacity shrinks), so
    * the histogram solve batches [[BfdSeg]] segments over bin GROUPS
    * (contiguous id ranges with equal remaining capacity) instead of
    * looping per item: state is O(L²) segments, never corpus-sized.
    * Pinned equal to the naive per-item replay by ScalaCheck.
    */
  def bfdHistogram(hist: Seq[(Long, Long)], binLen: Long): Seq[BfdSeg] = {
    // groups: (firstId, count, rem) — bins [firstId, firstId+count) all
    // at remaining capacity rem; ids are creation-ordered and a group
    // drains in id order, so groups stay contiguous forever.
    final case class G(first: Long, count: Long, rem: Long)
    val groups = scala.collection.mutable.ArrayBuffer.empty[G]
    var nextBin = 0L
    val segs = scala.collection.mutable.ArrayBuffer.empty[BfdSeg]
    hist.sortBy { case (len, _) => -len }.foreach { case (len, total) =>
      require(len >= 1 && len <= binLen, s"length $len outside (0, $binLen]")
      var c = total
      var rank = 0L
      while (c > 0) {
        // best fit: smallest rem >= len, tie -> lowest first id
        val fitIdx = groups.zipWithIndex
          .filter(_._1.rem >= len)
          .sortBy { case (g, _) => (g.rem, g.first) }
          .headOption.map(_._2)
        fitIdx match {
          case Some(i) =>
            val g = groups(i)
            val perBin = g.rem / len // items one bin absorbs
            val binsNeeded =
              math.min(g.count, (c + perBin - 1) / perBin)
            val fullBins = math.min(binsNeeded, c / perBin)
            if (fullBins > 0) {
              segs += BfdSeg(len, rank, fullBins, perBin, g.first)
              rank += fullBins * perBin
              c -= fullBins * perBin
            }
            val partial = if (fullBins < binsNeeded) c % perBin else 0L
            if (partial > 0) {
              segs += BfdSeg(len, rank, 1L, partial, g.first + fullBins)
              rank += partial
              c -= partial
            }
            // split the group: drained bins re-enter at their new rem
            val drained = fullBins + (if (partial > 0) 1L else 0L)
            groups.remove(i)
            if (drained < g.count)
              groups += G(g.first + drained, g.count - drained, g.rem)
            if (fullBins > 0 && g.rem - perBin * len > 0)
              groups += G(g.first, fullBins, g.rem - perBin * len)
            if (partial > 0 && g.rem - partial * len > 0)
              groups += G(g.first + fullBins, 1L, g.rem - partial * len)
          case None =>
            // open fresh bins: each absorbs binLen/len items
            val perBin = binLen / len
            val fullBins = c / perBin
            if (fullBins > 0) {
              segs += BfdSeg(len, rank, fullBins, perBin, nextBin)
              rank += fullBins * perBin
              c -= fullBins * perBin
              if (binLen - perBin * len > 0)
                groups += G(nextBin, fullBins, binLen - perBin * len)
              nextBin += fullBins
            }
            if (c > 0) {
              segs += BfdSeg(len, rank, 1L, c, nextBin)
              if (binLen - c * len > 0)
                groups += G(nextBin, 1L, binLen - c * len)
              nextBin += 1
              rank += c
              c = 0
            }
        }
      }
    }
    segs.toSeq
  }

  /** Naive per-item BFD with the same determinism rules — the spec
    * reference the histogram solve must reproduce exactly.
    */
  def bfdNaive(items: Seq[(Long, Long)], binLen: Long): Map[Long, Long] = {
    val bins = scala.collection.mutable.ArrayBuffer.empty[Long] // rem
    val out = scala.collection.mutable.Map.empty[Long, Long]
    items.sortBy { case (id, len) => (-len, id) }.foreach { case (id, len) =>
      val fit = bins.zipWithIndex.filter(_._1 >= len)
        .sortBy { case (rem, i) => (rem, i) }.headOption.map(_._2)
      val b = fit.getOrElse { bins += binLen; bins.length - 1 }
      bins(b) -= len
      out(id) = b.toLong
    }
    out.toMap
  }

  /** Whole-document best-fit-decreasing packing into [[BfdLen]]-token
    * context windows (documents are never split — the packing variant
    * that avoids cross-document attention contamination; over-long
    * docs are capped at L, standing in for a pre-chunking pass).
    * Output: one row per document with its bin assignment.
    *
    * 100 TB shape: one scan → (len, count) histogram (≤ L rows to the
    * driver), the bounded [[bfdHistogram]] solve, then assignment is a
    * broadcast join of the O(L²) segment plan against per-class ranks.
    * The only wide operation is the rank (window by length class —
    * at extreme per-length skew the class rank could use the
    * pack_shards prefix-count instead). No corpus-sized driver state.
    */
  def packBfd(s: SparkSession, dir: String, binLen: Long = BfdLen): DataFrame = {
    import s.implicits._
    val docs = t(s, dir, "documents")
      .select($"doc_id",
        least(TextAnalysis.tokenCount($"text"), lit(binLen)).as("n"))
      .filter($"n" > 0L)
      .gatedCheckpoint() // one scan feeds histogram + ranks
    val hist = docs.groupBy($"n").agg(count(lit(1)).as("c"))
      .as[(Long, Long)].collect().toSeq
    val segs = bfdHistogram(hist, binLen)
    val segDf = s.createDataFrame(segs).toDF(
      "n", "rank_from", "n_bins", "per_bin", "first_bin")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"n").orderBy($"doc_id")
    docs
      .withColumn("rank", row_number().over(w).cast("long") - 1L)
      .join(broadcast(segDf),
        docs("n") === segDf("n") &&
          $"rank" >= $"rank_from" &&
          $"rank" < $"rank_from" + $"n_bins" * $"per_bin")
      .select($"doc_id", docs("n").as("n_tokens"),
        ($"first_bin" + ($"rank" - $"rank_from") / $"per_bin")
          .cast("long").as("bin_id"))
      .orderBy("doc_id")
  }

  /** Per-bin boundary metadata for the BFD packing — the artifact a
    * trainer actually consumes: each packed context window's ordered
    * (doc, start_offset, length) layout, from which position ids and
    * the block-diagonal attention mask are built (the "mask out
    * cross-document attention" requirement of packed training, Krell
    * et al. 2021 §3). Within a bin, documents sit in BFD arrival order
    * — the global (len desc, id asc) order restricted to the bin — so
    * offsets are a windowed prefix sum over that order. The window
    * partitions by bin (≤ binLen docs each), never globally.
    */
  def packBfdOffsets(s: SparkSession, dir: String,
      binLen: Long = BfdLen): DataFrame = {
    import s.implicits._
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"bin_id").orderBy($"n_tokens".desc, $"doc_id".asc)
    packBfd(s, dir, binLen)
      .withColumn("pos", row_number().over(w).cast("long"))
      .withColumn("start_offset",
        sum($"n_tokens").over(w.rowsBetween(
          org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.currentRow)) - $"n_tokens")
      .select($"bin_id", $"pos", $"doc_id", $"start_offset", $"n_tokens")
      .orderBy("bin_id", "pos")
  }

  /** Length buckets for [[packBucketWaste]]: powers of two from the
    * smallest practical batch window to the context cap. A doc longer
    * than the cap is chunked into cap-sized windows (the last one
    * padded) rather than assigned a bigger bucket.
    */
  val WasteBuckets: Seq[Long] = Seq(16L, 32L, 64L, 128L, 256L, 512L,
    1024L, 2048L, 4096L)

  /** Padding-waste report for length-bucketed batching — the
    * answer to "what fraction of accelerator tokens would be pad?" per
    * candidate window size. Every doc lands in the smallest power-of-2
    * bucket ≥ its token count (cap-bucket docs chunk into
    * ceil(n/cap) windows); per bucket: docs, windows, real tokens,
    * padded slots, waste and waste fraction. Pure integer arithmetic
    * plus one IEEE division per row ⇒ hash-exact cross-engine.
    * Zero-token docs contribute no sequence and are excluded (same
    * choice as the packers, replayed by the oracle).
    *
    * 100 TB shape: one scan → map-side-combinable aggregation on a
    * 9-value key. Nothing else moves.
    */
  /** Dyadic context-length budgets for [[packBudgetCurve]]. */
  val BudgetCurveLengths: Seq[Long] =
    Seq(256L, 512L, 1024L, 2048L, 4096L, 8192L)

  /** pack_budget_curve: the max-sequence-length TUNING curve — for each
    * dyadic context budget L, what the corpus costs under the two
    * standard fill policies, all read from ONE token-count pass:
    * truncate-to-L (docs over budget, tokens lost) and concat-and-cut
    * packing of the truncated stream (bins, tail padding, utilization).
    * The packing analog of `decon_tier_curve`/`ta_bpe_curve`: a
    * pipeline owner reads this table to pick max_seq_len BEFORE
    * committing a tokenization run, instead of re-packing per
    * candidate length. (The fixed-bucket per-doc padding policy lives
    * in [[packBucketWaste]]; BFD bin packing at ONE length in
    * [[packBfd]] — this is the cross-length sweep.)
    *
    * 100 TB shape: ONE corpus scan → ONE 1-row aggregate (per-budget
    * conditional sums, map-side combinable) → `stack` reshape to
    * |budgets| rows. No join, no per-budget re-scan — cost independent
    * of the budget count, exactly the ta_bpe_curve shape.
    */
  def packBudgetCurve(s: SparkSession, dir: String): DataFrame =
    packBudgetCurveOf(t(s, dir, "documents"))

  def packBudgetCurveOf(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val lens = docs
      .select(graft.ops.TextAnalysis.tokenCount($"text").as("n"))
      .filter($"n" > 0L)
    val aggs = BudgetCurveLengths.flatMap { l =>
      Seq(
        sum(when($"n" > l, lit(1L)).otherwise(lit(0L))).as(s"o$l"),
        sum(when($"n" > l, $"n" - lit(l)).otherwise(lit(0L))).as(s"t$l"),
        sum(least($"n", lit(l))).as(s"k$l"))
    }
    budgetCurveTail(lens.agg(aggs.head, aggs.tail: _*))
  }

  /** [[packBudgetCurve]] from a (len, c) value-domain token-count
    * HISTOGRAM instead of raw documents — the sums are linear in the
    * counts, so a c-weighted conditional aggregate over the bounded
    * histogram equals the per-doc pass exactly (spec-pinned). This is
    * what lets the incremental twin
    * ([[graft.examples.StreamingCuration.budgetCurveFromState]]) serve
    * the sweep from the length-profile fold state with NO new fold and
    * no corpus re-scan; rows may repeat a `len` (e.g. per-source) —
    * linearity makes that free.
    */
  def packBudgetCurveOfCounts(counts: DataFrame): DataFrame = {
    val s = counts.sparkSession
    import s.implicits._
    val pos = counts.filter($"len" > 0L)
    val aggs = BudgetCurveLengths.flatMap { l =>
      Seq(
        sum(when($"len" > l, $"c").otherwise(lit(0L))).as(s"o$l"),
        sum(when($"len" > l, ($"len" - lit(l)) * $"c").otherwise(lit(0L)))
          .as(s"t$l"),
        sum(least($"len", lit(l)) * $"c").as(s"k$l"))
    }
    budgetCurveTail(pos.agg(aggs.head, aggs.tail: _*))
  }

  /** Shared reshape/derivation tail over the 1-row (o_l, t_l, k_l)
    * aggregate — both curve forms read the same stack + ceil-div +
    * IEEE-division expressions, so bins/pad/utilization cannot drift.
    */
  private def budgetCurveTail(agg1: DataFrame): DataFrame = {
    val s = agg1.sparkSession
    import s.implicits._
    agg1
      .selectExpr(s"stack(${BudgetCurveLengths.size}, " +
        BudgetCurveLengths.map(l => s"${l}L, coalesce(o$l, 0L), " +
          s"coalesce(t$l, 0L), coalesce(k$l, 0L)").mkString(", ") +
        ") as (context_len, n_docs_truncated, tokens_lost, tokens_kept)")
      .withColumn("n_bins", expr(
        "CAST((tokens_kept + context_len - 1) DIV context_len AS LONG)"))
      .withColumn("pad_waste", $"n_bins" * $"context_len" - $"tokens_kept")
      .withColumn("utilization",
        when($"n_bins" === 0L, lit(1.0)).otherwise(
          $"tokens_kept".cast("double") /
            ($"n_bins" * $"context_len").cast("double")))
      .orderBy("context_len")
  }

  def packBucketWaste(s: SparkSession, dir: String): DataFrame =
    packBucketWasteOf(t(s, dir, "documents"))

  def packBucketWasteOf(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val cap = WasteBuckets.last
    val n = graft.ops.TextAnalysis.tokenCount($"text")
    val bucket = WasteBuckets.init.reverse
      .foldLeft(lit(cap)) { (acc, b) => when(n <= b, lit(b)).otherwise(acc) }
    docs
      .select(n.as("n"), bucket.as("bucket"))
      .filter($"n" > 0L)
      // Column `/` is DOUBLE division — floor it back to the exact
      // integer ceil-div (token counts ≪ 2^52, so the double is exact)
      .withColumn("windows",
        floor(($"n" + $"bucket" - 1L) / $"bucket").cast("long"))
      .groupBy($"bucket")
      .agg(
        count(lit(1)).as("n_docs"),
        sum($"windows").as("n_windows"),
        sum($"n").as("n_tokens"),
        sum($"windows" * $"bucket").as("n_padded"))
      .select($"bucket", $"n_docs", $"n_windows", $"n_tokens", $"n_padded",
        ($"n_padded" - $"n_tokens").as("waste"),
        (($"n_padded" - $"n_tokens").cast("double") /
          $"n_padded".cast("double")).as("waste_frac"))
      .orderBy($"bucket")
  }

  /** Epochs / shards for the registered epoch-order query. */
  val EpochOrderEpochs = 3
  val EpochOrderShards = 8

  /** Deterministic per-epoch reshuffling — the RNG-free form of the
    * training loader's shuffle buffer: epoch e assigns every doc a
    * fresh pseudo-random rank md5("epoch:e:doc"), which yields a
    * different shard assignment AND intra-shard order each epoch while
    * staying a pure function of (epoch, doc_id) — any worker can
    * recompute its shard without a shared RNG state or a global
    * shuffle service (the same recomputable-membership doctrine as the
    * samplers). Shard = rank-hash bucket; position = rank within
    * shard. Summary output (epoch × shard): docs, tokens, and the
    * first doc in order — enough to pin both the assignment and the
    * ordering cross-engine without materializing E×N rows in the
    * artifact.
    *
    * 100 TB shape: one scan per epoch fan-out (E is small), ONE
    * aggregation on (epoch, shard) with map-side partials — the
    * exchange carries E×shards partial rows per map task, never the
    * E×corpus row stream. The loader-side full (epoch, doc, shard,
    * pos) table ranks with a per-(epoch, shard) window (entity-bounded
    * at E×shards ≪ corpus — but see below for the summary).
    *
    * r18 (guide §2.4, the dedup_representatives argmax pattern): the
    * summary previously ranked every row with a row_number window over
    * (epoch, shard) and then consumed the rank ONLY as
    * `min(struct(pos, doc_id))` — an argmin. `min(struct(rk, doc_id))`
    * over the UN-ranked stream is the same argmin (pos=1 ⟺ minimal
    * (rk, doc_id) in the window's own order — rk is the md5 hex
    * string, whose lexicographic compare IS the window's sort), so the
    * corpus-mass sort+window drops out and the aggregate partials
    * collapse map-side. Isolated min-of-4 at sf0.1: 0.489 → 0.450 s
    * (the scan+tokenCount dominates locally); ×100 deep-salted fixture
    * (ProbeR18 epochx100, warm + min-of-2): 2.337 → 1.719 s — the
    * window's E×corpus sort grows with scale, the partials don't.
    * plans/r18/pack_epoch_order_before/after.txt (window=1 →
    * window=0).
    */
  def packEpochOrder(s: SparkSession, dir: String,
      epochs: Int = EpochOrderEpochs, shards: Int = EpochOrderShards): DataFrame = {
    import s.implicits._
    val docs = t(s, dir, "documents")
      .select($"doc_id", graft.ops.TextAnalysis.tokenCount($"text").as("n"))
      .filter($"n" > 0L)
    val eps = s.range(1, epochs + 1).toDF("epoch")
    docs.crossJoin(broadcast(eps))
      .withColumn("rk", md5(concat(lit("epoch:"), $"epoch".cast("string"),
        lit(":"), $"doc_id".cast("string"))))
      .withColumn("shard",
        pmod(conv(substring($"rk", 1, 4), 16, 10).cast("long"),
          lit(shards.toLong)))
      .groupBy($"epoch", $"shard")
      .agg(
        count(lit(1)).as("n_docs"),
        sum($"n").as("n_tokens"),
        min(struct($"rk", $"doc_id")).getField("doc_id").as("first_doc"))
      .orderBy($"epoch", $"shard")
  }

  /** Turn width of [[packSftTurns]]' synthetic dialogs. */
  val SftTurnLen = 12L

  /** SFT loss-mask turn layout: each document becomes a deterministic
    * multi-turn dialog — fixed [[SftTurnLen]]-token turns alternating
    * user/assistant roles (a synthetic stand-in for chat transcripts,
    * which the testdata doesn't carry; the corpus is punctuation-free
    * so sentence splitting degenerates) — and the op emits the layout
    * an SFT trainer needs: per turn its role, the token slice
    * [tok_from, tok_to) on the doc's token axis, and whether it
    * trains. The convention is the standard "train on assistant
    * tokens only" SFT recipe; the layout machinery (offsets, masks,
    * alternation), not the dialog synthesis, is the operator.
    *
    * 100 TB shape: pure narrow codegen over the scan — the
    * [[packChunks]] shape (`sequence` + `explode`, integer `div`), no
    * shuffle, no window at all.
    */
  def packSftTurns(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "documents")
      .select($"doc_id", TextAnalysis.tokenCount($"text").as("n"))
      .filter($"n" > 0L)
      .select($"doc_id", $"n",
        explode(sequence(lit(0L), $"n" - 1L, lit(SftTurnLen))).as("tok_from"))
      .withColumn("turn_idx", expr(s"tok_from div $SftTurnLen"))
      .select($"doc_id", $"turn_idx",
        when($"turn_idx" % 2 === 0, "user").otherwise("assistant").as("role"),
        (least($"n", $"tok_from" + SftTurnLen) - $"tok_from").as("n_tokens"),
        $"tok_from",
        least($"n", $"tok_from" + SftTurnLen).as("tok_to"),
        ($"turn_idx" % 2 === 1).as("in_loss"))
      .orderBy("doc_id", "turn_idx")
  }

  /** Span-corruption start probability as a 12-hex-nibble threshold:
    * ⌊0.05·16¹²⌋ = 0x0CCCCCCCCCCC. With span length 3 and overlap
    * merge the expected mask fraction is 1 − 0.95³ ≈ 14.3% — the T5
    * corruption-rate neighborhood.
    */
  val SpanCorruptStartHex = "0ccccccccccc"
  val SpanCorruptLen = 3L

  /** pack_span_corruption: the T5/UL2 span-corruption LAYOUT plan —
    * per document, the denoising spans a deterministic corruption draw
    * selects, and the resulting encoder/decoder sequence lengths
    * (inputs = kept tokens + one sentinel per span; targets =
    * sentinels + masked tokens + final sentinel — the packer's sizing
    * inputs for denoising-objective batches). The draw follows the
    * recomputable-membership doctrine (Poisson-bootstrap precedent):
    * position p starts a length-[[SpanCorruptLen]] span iff the first
    * 12 md5 nibbles of "doc_id:p" fall below [[SpanCorruptStartHex]]
    * (lexicographic hex compare = numeric compare), so any row's mask
    * is re-derivable from ids alone — no RNG state, identical in both
    * engines. Overlapping/adjacent spans merge (the q79 interval
    * coalesce), and the final span clips at the document end.
    *
    * 100 TB shape: all of a document's draw bits are computed in ONE
    * projection (`transform` over the position sequence — the
    * dedup_substr_spans shape) and only marked positions leave the
    * row; the span merge is a per-DOCUMENT window; the summary is one
    * map-side-combinable aggregation.
    */
  def packSpanCorruption(s: SparkSession, dir: String): DataFrame =
    spanCorruptionOf(t(s, dir, "documents"))

  /** [[packSpanCorruption]] over any (doc_id, text) frame — the form
    * the [[graft.components.SpanCorruptionPlan]] component wires into
    * pipelines.
    */
  def spanCorruptionOf(docsIn: DataFrame): DataFrame = {
    val s = docsIn.sparkSession
    import s.implicits._
    val l = SpanCorruptLen
    val docs = docsIn
      .select($"doc_id", TextAnalysis.tokenCount($"text").as("n"))
      .filter($"n" > 0L)
    // COMPILED kernel for the per-position md5 draw (the r11
    // interpreted-HOF lesson: the former transform-lambda evaluated
    // Catalyst md5 interpreted per position). Identical membership:
    // `substring(md5(...), 1, 12) < SpanCorruptStartHex` compares two
    // fixed-length lowercase-hex strings, which is exactly the numeric
    // comparison of the digest's first 48 bits against the threshold
    // value — the windowHashes MessageDigest-per-partition pattern.
    val thresholdBits = java.lang.Long.parseLong(SpanCorruptStartHex, 16)
    val marks = docs.as[(Long, Long)]
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        it.flatMap { case (id, n) =>
          (1L to n).iterator.flatMap { p =>
            md.reset()
            val d = md.digest(s"$id:$p".getBytes("UTF-8"))
            var v = 0L
            var i = 0
            while (i < 6) { v = (v << 8) | (d(i) & 0xffL); i += 1 }
            if (v < thresholdBits) Iterator.single((id, n, p))
            else Iterator.empty
          }
        }
      }.toDF("doc_id", "n", "p")
    val perDoc = Curation.coalesceFixedSpans(marks, l, carry = Seq("n"))
      .select($"doc_id", $"sp", least($"ep", $"n" + 1L).as("ep"))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_spans"), sum($"ep" - $"sp").as("n_masked"))
    docs.join(perDoc, Seq("doc_id"), "left")
      .select($"doc_id", $"n".as("n_tokens"),
        coalesce($"n_spans", lit(0L)).as("n_spans"),
        coalesce($"n_masked", lit(0L)).as("n_masked"),
        (coalesce($"n_masked", lit(0L)).cast("double") /
          $"n".cast("double")).as("mask_frac"),
        ($"n" - coalesce($"n_masked", lit(0L)) +
          coalesce($"n_spans", lit(0L))).as("inputs_len"),
        (coalesce($"n_masked", lit(0L)) +
          coalesce($"n_spans", lit(0L)) + 1L).as("targets_len"))
      .orderBy("doc_id")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "pack_span_corruption" -> packSpanCorruption,
    "pack_sft_turns" -> packSftTurns,
    "pack_epoch_order" -> ((s, d) => packEpochOrder(s, d)),
    "pack_sequences" -> ((s, d) => packSequences(s, d)),
    "pack_shards" -> ((s, d) => packShards(s, d)),
    "pack_bfd" -> ((s, d) => packBfd(s, d)),
    "pack_bfd_offsets" -> ((s, d) => packBfdOffsets(s, d)),
    "pack_bucket_waste" -> ((s, d) => packBucketWaste(s, d)),
    // new in r13: the max-seq-len sweep (one pass, stack reshape)
    "pack_budget_curve" -> ((s, d) => packBudgetCurve(s, d)),
    "pack_chunks" -> packChunks)

  /** DuckDB token count, identical to TextAnalysis.tokenCount (parity
    * proven by the ta_tokens oracle).
    */
  private val tokCte = """
    toks AS (
      SELECT doc_id,
        CAST(len(list_filter(string_split_regex(trim(text), '\s+'), x -> len(x) > 0)) AS BIGINT) AS n
      FROM documents)"""

  // BFD is sequential, but fully deterministic — so the whole greedy
  // replays as a recursive CTE: state (item index, bin-rem list,
  // assignment list), each step placing item rn=i+1 into the
  // smallest-rem fitting bin (tie → lowest bin index) or appending a
  // fresh bin. Independent of the Spark side's HISTOGRAM solve — the
  // oracle is the naive per-item definition, so a histogram-batching
  // bug cannot hide. Shared by pack_bfd and pack_bfd_offsets.
  private lazy val bfdCore: String = s"""
      WITH RECURSIVE
      toks AS (
        SELECT doc_id,
          LEAST(CAST(len(list_filter(string_split_regex(trim(text), '\\s+'),
            x -> len(x) > 0)) AS BIGINT), $BfdLen) AS n
        FROM documents
        WHERE len(list_filter(string_split_regex(trim(text), '\\s+'),
          x -> len(x) > 0)) > 0),
      items AS (
        SELECT doc_id, n, ROW_NUMBER() OVER (ORDER BY n DESC, doc_id ASC) AS rn
        FROM toks),
      nitems AS (SELECT COUNT(*) AS total FROM items),
      st(i, bins, assigns) AS (
        SELECT 0, CAST([] AS BIGINT[]),
          CAST([] AS STRUCT(id BIGINT, bin BIGINT)[])
        UNION ALL
        SELECT st.i + 1,
          CASE WHEN best.bj IS NULL
               THEN list_append(st.bins, $BfdLen - it.n)
               ELSE [CASE WHEN j = best.bj THEN st.bins[j] - it.n
                          ELSE st.bins[j] END
                     for j in range(1, len(st.bins) + 1)]
          END,
          list_append(st.assigns, {'id': it.doc_id,
            'bin': COALESCE(best.bj, len(st.bins) + 1) - 1})
        FROM st
        JOIN items it ON it.rn = st.i + 1
        LEFT JOIN LATERAL (
          SELECT [j for j in range(1, len(st.bins) + 1)
                  if st.bins[j] >= it.n
                     and st.bins[j] = list_min(
                       [st.bins[x] for x in range(1, len(st.bins) + 1)
                        if st.bins[x] >= it.n])][1] AS bj
        ) best ON TRUE
        WHERE st.i < (SELECT total FROM nitems)
      ),
      final AS (SELECT assigns FROM st ORDER BY i DESC LIMIT 1),
      asg AS (
        SELECT a.id AS doc_id, it.n AS n_tokens, a.bin AS bin_id
        FROM final, UNNEST(final.assigns) AS t(a)
        JOIN items it ON it.doc_id = a.id)"""

  val oracles: Map[String, String] = Map(
    "pack_span_corruption" -> s"""
      WITH $tokCte,
      d AS (SELECT doc_id, n FROM toks WHERE n > 0),
      m AS (
        SELECT doc_id, n, CAST(i AS BIGINT) AS p
        FROM d, UNNEST(range(1, n + 1)) u(i)
        WHERE substr(md5(concat(CAST(doc_id AS VARCHAR), ':',
          CAST(i AS VARCHAR))), 1, 12) < '$SpanCorruptStartHex'),
      f AS (
        SELECT doc_id, n, p,
          MAX(p + $SpanCorruptLen) OVER (PARTITION BY doc_id ORDER BY p
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
        FROM m),
      sp AS (
        SELECT doc_id, n, p,
          SUM(CASE WHEN prev_end IS NULL OR p > prev_end THEN 1 ELSE 0 END)
            OVER (PARTITION BY doc_id ORDER BY p) AS span_id
        FROM f),
      mg AS (
        SELECT doc_id, span_id, MIN(n) AS n, MIN(p) AS sp,
          LEAST(MAX(p) + $SpanCorruptLen, MIN(n) + 1) AS ep
        FROM sp GROUP BY doc_id, span_id),
      pd AS (
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_spans,
          CAST(SUM(ep - sp) AS BIGINT) AS n_masked
        FROM mg GROUP BY doc_id)
      SELECT d.doc_id, n AS n_tokens,
        COALESCE(n_spans, 0) AS n_spans,
        COALESCE(n_masked, 0) AS n_masked,
        CAST(COALESCE(n_masked, 0) AS DOUBLE) / CAST(n AS DOUBLE)
          AS mask_frac,
        n - COALESCE(n_masked, 0) + COALESCE(n_spans, 0) AS inputs_len,
        COALESCE(n_masked, 0) + COALESCE(n_spans, 0) + 1 AS targets_len
      FROM d LEFT JOIN pd USING (doc_id)
      ORDER BY d.doc_id""",
    "pack_epoch_order" -> s"""
      WITH $tokCte,
      d AS (SELECT doc_id, n FROM toks WHERE n > 0),
      ep AS (SELECT CAST(e AS BIGINT) AS epoch
             FROM UNNEST(range(1, ${EpochOrderEpochs + 1})) AS u(e)),
      r AS (
        SELECT d.doc_id, d.n, ep.epoch,
          md5('epoch:' || ep.epoch || ':' || d.doc_id) AS rk
        FROM d CROSS JOIN ep),
      h AS (
        SELECT *,
          ((strpos('0123456789abcdef', substr(rk, 1, 1)) - 1) * 4096
           + (strpos('0123456789abcdef', substr(rk, 2, 1)) - 1) * 256
           + (strpos('0123456789abcdef', substr(rk, 3, 1)) - 1) * 16
           + (strpos('0123456789abcdef', substr(rk, 4, 1)) - 1))
            % $EpochOrderShards AS shard
        FROM r),
      p AS (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY epoch, shard
          ORDER BY rk ASC, doc_id ASC) AS pos
        FROM h)
      SELECT epoch, CAST(shard AS BIGINT) AS shard,
        CAST(COUNT(*) AS BIGINT) AS n_docs,
        CAST(SUM(n) AS BIGINT) AS n_tokens,
        CAST(MIN(CASE WHEN pos = 1 THEN doc_id END) AS BIGINT) AS first_doc
      FROM p GROUP BY epoch, shard ORDER BY epoch, shard""",
    // per-budget conditional aggregates via the VALUES × LEFT JOIN +
    // FILTER idiom (the tier-curve oracle's reshape); bins/pad/util
    // derive in an outer select with the same single IEEE division
    "pack_budget_curve" -> s"""
      WITH $tokCte,
      l AS (SELECT n FROM toks WHERE n > 0),
      agg AS (
        SELECT CAST(b.l AS BIGINT) AS context_len,
          CAST(COUNT(*) FILTER (WHERE x.n > b.l) AS BIGINT)
            AS n_docs_truncated,
          CAST(COALESCE(SUM(x.n - b.l) FILTER (WHERE x.n > b.l), 0)
            AS BIGINT) AS tokens_lost,
          CAST(COALESCE(SUM(LEAST(x.n, b.l)), 0) AS BIGINT) AS tokens_kept
        FROM (VALUES ${Packing.BudgetCurveLengths.map(l => s"($l)").mkString(", ")}) b(l)
        LEFT JOIN l x ON TRUE
        GROUP BY b.l)
      SELECT context_len, n_docs_truncated, tokens_lost, tokens_kept,
        CAST((tokens_kept + context_len - 1) // context_len AS BIGINT)
          AS n_bins,
        CAST((tokens_kept + context_len - 1) // context_len AS BIGINT)
          * context_len - tokens_kept AS pad_waste,
        CASE WHEN tokens_kept = 0 THEN CAST(1.0 AS DOUBLE)
          ELSE CAST(tokens_kept AS DOUBLE) /
            CAST(CAST((tokens_kept + context_len - 1) // context_len AS BIGINT)
              * context_len AS DOUBLE) END AS utilization
      FROM agg ORDER BY context_len""",
    "pack_bucket_waste" -> s"""
      WITH $tokCte,
      b AS (
        SELECT n,
          CASE ${Packing.WasteBuckets.init
            .map(b => s"WHEN n <= $b THEN $b").mkString(" ")}
            ELSE ${Packing.WasteBuckets.last} END AS bucket
        FROM toks WHERE n > 0),
      w AS (
        SELECT n, bucket, CAST((n + bucket - 1) // bucket AS BIGINT) AS windows
        FROM b),
      agg AS (
        SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_docs,
          CAST(SUM(windows) AS BIGINT) AS n_windows,
          CAST(SUM(n) AS BIGINT) AS n_tokens,
          CAST(SUM(windows * bucket) AS BIGINT) AS n_padded
        FROM w GROUP BY bucket)
      SELECT bucket, n_docs, n_windows, n_tokens, n_padded,
        n_padded - n_tokens AS waste,
        CAST(n_padded - n_tokens AS DOUBLE) / CAST(n_padded AS DOUBLE) AS waste_frac
      FROM agg ORDER BY bucket""",
    "pack_bfd" -> s"""$bfdCore
      SELECT doc_id, n_tokens, bin_id FROM asg ORDER BY doc_id""",
    "pack_bfd_offsets" -> s"""$bfdCore
      SELECT bin_id,
        CAST(ROW_NUMBER() OVER (PARTITION BY bin_id
          ORDER BY n_tokens DESC, doc_id ASC) AS BIGINT) AS pos,
        doc_id,
        CAST(SUM(n_tokens) OVER (PARTITION BY bin_id
          ORDER BY n_tokens DESC, doc_id ASC
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
          - n_tokens AS BIGINT) AS start_offset,
        n_tokens
      FROM asg ORDER BY bin_id, pos""",
    "pack_sft_turns" -> s"""
      WITH $tokCte
      SELECT doc_id,
        tok_from // $SftTurnLen AS turn_idx,
        CASE WHEN (tok_from // $SftTurnLen) % 2 = 0 THEN 'user' ELSE 'assistant' END AS role,
        CAST(LEAST(n, tok_from + $SftTurnLen) - tok_from AS BIGINT) AS n_tokens,
        tok_from,
        CAST(LEAST(n, tok_from + $SftTurnLen) AS BIGINT) AS tok_to,
        ((tok_from // $SftTurnLen) % 2 = 1) AS in_loss
      FROM (SELECT doc_id, n, unnest(range(0, n, $SftTurnLen)) AS tok_from
            FROM toks WHERE n > 0)
      ORDER BY doc_id, turn_idx""",
    "pack_sequences" -> s"""
      WITH $tokCte,
      cum AS (
        SELECT doc_id, n,
          CAST(SUM(n) OVER (ORDER BY doc_id) - n AS BIGINT) AS strt
        FROM toks WHERE n > 0),
      spans AS (
        SELECT doc_id, n, strt,
          unnest(range(strt // $SeqLen, (strt + n - 1) // $SeqLen + 1)) AS seq_id
        FROM cum)
      SELECT doc_id, seq_id,
        CAST(GREATEST(0, seq_id * $SeqLen - strt) AS BIGINT) AS tok_from,
        CAST(LEAST(n, (seq_id + 1) * $SeqLen - strt) AS BIGINT) AS tok_to
      FROM spans ORDER BY doc_id, seq_id""",
    "pack_chunks" -> s"""
      WITH $tokCte
      SELECT doc_id,
        tok_from // $ChunkStride AS chunk_id,
        tok_from,
        CAST(LEAST(n, tok_from + $ChunkLen) AS BIGINT) AS tok_to
      FROM (SELECT doc_id, n, unnest(range(0, n, $ChunkStride)) AS tok_from
            FROM toks WHERE n > 0)
      ORDER BY doc_id, chunk_id""",
    "pack_shards" -> s"""
      WITH $tokCte,
      ranked AS (
        SELECT doc_id, n,
          ROW_NUMBER() OVER (ORDER BY n DESC, doc_id ASC) - 1 AS r
        FROM toks WHERE n > 0),
      dealt AS (
        SELECT doc_id, n,
          CASE WHEN (r // $ShardCount) % 2 = 0 THEN r % $ShardCount
               ELSE $ShardCount - 1 - (r % $ShardCount) END AS shard_id
        FROM ranked)
      SELECT CAST(shard_id AS BIGINT) AS shard_id,
        CAST(COUNT(*) AS BIGINT) AS n_docs,
        CAST(SUM(n) AS BIGINT) AS shard_tokens,
        CAST(SUM(doc_id) AS BIGINT) AS sum_doc_ids
      FROM dealt GROUP BY shard_id ORDER BY shard_id""")
}
