package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical
import org.apache.spark.sql.functions._

/** Scale patterns as reusable operators: skew-salted aggregation and
  * bucketed co-located joins. These exist so pipelines have first-class
  * tools for the two failure modes that kill 100 TB jobs — a hot key
  * overwhelming one reducer, and a fact-fact join shuffling both sides.
  */
object Scale {

  /** Unpartitioned windows over an unbounded input in an optimized
    * plan — the serialized-window scale killer (every row funnels
    * through ONE task). A window with an empty partitionSpec is
    * tolerated only when its input is bounded by construction, i.e. a
    * logical Limit sits below it. Shared by the PlanSpec sweep over
    * every registered query's declarative plan AND the
    * [[GatedCheckpoint]] runtime gate, so the two can never drift.
    */
  def serialWindows(plan: logical.LogicalPlan): Seq[logical.Window] = {
    // a Limit bounds the window ONLY if it sits on the window's input
    // CHAIN (unary ancestors of the scan feeding it). Searching the
    // whole subtree would wave through `big.join(dim.limit(10))` — a
    // limit on a JOIN BRANCH bounds nothing about the fact side, and
    // this detector is runtime-load-bearing (gatedCheckpoint).
    def boundedByLimit(p: logical.LogicalPlan): Boolean = p match {
      case _: logical.GlobalLimit | _: logical.LocalLimit => true
      case u: logical.UnaryNode => boundedByLimit(u.child)
      case _ => false
    }
    plan.collect {
      case w: logical.Window if w.partitionSpec.isEmpty &&
          !boundedByLimit(w.child) => w
    }
  }

  /** Key-partitioned rank windows over unbounded corpus mass — the
    * per-key sibling of [[serialWindows]] (VERDICT r16 #6). A window
    * partitioned by a LOW-CARDINALITY key (source, lang, a quality
    * band: dimensions whose cardinality grows with the number of
    * domains, not with data volume) over a corpus-mass input is the
    * skew twin of the unpartitioned funnel: a window partition cannot
    * be split by AQE, so one hot key's full mass sorts through ONE
    * task (measured 26× at the ×100 one-band worst case before the
    * min-k rewrites). Flagged: a window whose partition keys all
    * resolve to `lowCardKeys` names and whose input subtree reaches a
    * relation leaf without passing a bounding node — a Limit, a
    * LocalRelation, or an Aggregate whose grouping keys are themselves
    * all low-card (a (lang, bigram) lexicon aggregate does NOT bound:
    * the r16 trigram probes measured lexicon growth near-linear on
    * adversarial corpora). Checkpointed segments (LogicalRDD leaves)
    * conservatively read as unbounded — the PlanSpec whitelist carries
    * the audited bound.
    */
  def perKeyCorpusWindows(plan: logical.LogicalPlan,
      lowCardKeys: Set[String]): Seq[logical.Window] = {
    def boundedMass(p: logical.LogicalPlan): Boolean = p match {
      case _: logical.GlobalLimit | _: logical.LocalLimit => true
      case a: logical.Aggregate =>
        a.groupingExpressions.isEmpty ||
          a.groupingExpressions.forall(
            _.references.forall(r => lowCardKeys.contains(r.name)))
      case _: logical.LocalRelation => true
      case _: logical.LeafNode => false
      case other => other.children.forall(boundedMass)
    }
    plan.collect {
      case w: logical.Window if w.partitionSpec.nonEmpty &&
          w.partitionSpec.exists(_.references.nonEmpty) &&
          w.partitionSpec.forall(
            _.references.forall(r => lowCardKeys.contains(r.name))) &&
          !boundedMass(w.child) => w
    }
  }

  /** EVERY key-partitioned window over non-aggregated corpus-mass
    * input — the superset sweep of [[perKeyCorpusWindows]] (VERDICT
    * r17 ask #8). A window partition cannot be split by AQE, so
    * corpus-mass rows carrying ONE hot key value (a boilerplate gram
    * fingerprint, a megadup fingerprint) sort through a single task no
    * matter the key's cardinality — the hot-gram ×100 fixture measures
    * that cliff directly (plans/r18). Exemptions: partition keys in
    * `perKeyBounded` (keys whose PER-KEY mass is bounded by
    * construction — a doc_id's own rows are bounded by document
    * length, a fixed query set's by its audited candidate caps);
    * windows whose input passes ANY Aggregate (the group collapse
    * reduces per-key window mass to group cardinality — the stricter
    * low-card-key rule stays with [[perKeyCorpusWindows]]); bounded
    * leaves (Limit/LocalRelation) as before. Checkpointed segments
    * (LogicalRDD leaves) conservatively read as unbounded.
    */
  def corpusMassKeyWindows(plan: logical.LogicalPlan,
      perKeyBounded: Set[String]): Seq[logical.Window] = {
    def boundedMass(p: logical.LogicalPlan): Boolean = p match {
      case _: logical.GlobalLimit | _: logical.LocalLimit => true
      case _: logical.Aggregate => true
      case _: logical.LocalRelation => true
      case _: logical.LeafNode => false
      case other => other.children.forall(boundedMass)
    }
    plan.collect {
      case w: logical.Window if w.partitionSpec.nonEmpty &&
          w.partitionSpec.exists(_.references.nonEmpty) &&
          !w.partitionSpec.forall(
            _.references.forall(r => perKeyBounded.contains(r.name))) &&
          !boundedMass(w.child) => w
    }
  }

  /** `localCheckpoint` with the unpartitioned-window gate applied to
    * the segment about to execute (PlanSpec r9 blind spot: an eagerly
    * checkpointed segment has already collapsed to a LogicalRDD by the
    * time the registered-query sweep inspects the optimized plan, so a
    * serialized window hiding inside one was invisible to the gate).
    * Every kernel checkpoint in this repo routes through here, so the
    * gate now covers 100% of each query's plan: the declarative tail
    * via PlanSpec, every executed-early segment via this assert. The
    * plan traversal is driver-side and costs microseconds — the
    * optimizer output is computed for the execution anyway.
    *
    * `boundedWindowOk` is the audited escape hatch: pass the bound
    * that makes a deliberate unpartitioned window safe (e.g. "≤10
    * decile rows") and it is waved through, mirroring the PlanSpec
    * whitelist.
    */
  implicit class GatedCheckpoint[T](private val ds: Dataset[T]) {
    def gatedCheckpoint(eager: Boolean = true,
        boundedWindowOk: String = null): Dataset[T] = {
      if (boundedWindowOk == null) {
        val bad = serialWindows(ds.queryExecution.optimizedPlan)
        require(bad.isEmpty,
          s"unpartitioned unbounded window inside a checkpointed segment " +
            s"— a 100 TB single-task funnel: ${bad.head.simpleString(120)}")
      }
      ds.localCheckpoint(eager)
    }
  }

  /** Two-phase salted aggregation: groupBy (key, salt) with map-side
    * partials spreads a hot key over `salts` reducers, then a second
    * tiny aggregation merges the salted partials. Correct for any
    * algebraic aggregate given its merge expression. AQE's skew handling
    * covers joins; for aggregations over a hot key this is still the
    * pattern.
    *
    * aggs: (partialExpr, mergeExpr, name) — e.g.
    * (sum(c), sum(col(name)), "total").
    */
  def saltedAggregate(
      df: DataFrame,
      key: Column,
      salts: Int,
      aggs: Seq[(Column, Column, String)]): DataFrame = {
    val salted = df.withColumn("__salt", pmod(monotonically_increasing_id(), lit(salts)))
    val phase1 = salted
      .groupBy(key.as("__key"), col("__salt"))
      .agg(aggs.head._1.as(aggs.head._3),
        aggs.tail.map { case (p, _, n) => p.as(n) }: _*)
    phase1
      .groupBy(col("__key"))
      .agg(aggs.head._2.as(aggs.head._3),
        aggs.tail.map { case (_, m, n) => m.as(n) }: _*)
  }

  /** Write both sides bucketed + sorted on the join key, then join the
    * bucketed tables: with matching bucket counts Spark plans a
    * sort-merge join with NO shuffle exchange on either side — the
    * co-located join that makes repeated fact-fact joins affordable.
    * Returns the joined frame; PlanSpec asserts the exchange-free plan.
    */
  def bucketedJoin(
      s: SparkSession,
      left: DataFrame, right: DataFrame,
      leftName: String, rightName: String,
      key: String, buckets: Int): DataFrame = {
    def writeBucketed(df: DataFrame, table: String): Unit = {
      s.sql(s"DROP TABLE IF EXISTS $table")
      // a dropped-but-orphaned location (e.g. from a killed session)
      // blocks CREATE TABLE — clear it
      graft.streaming.StateFs.deleteRecursively(new org.apache.hadoop.fs.Path(
        s.conf.get("spark.sql.warehouse.dir"), table).toString)
      df.write.mode("overwrite")
        .bucketBy(buckets, key).sortBy(key)
        .saveAsTable(table)
    }
    writeBucketed(left, leftName)
    writeBucketed(right, rightName)
    s.table(leftName).join(s.table(rightName), key)
  }

  /** Range-clustered parquet layout: repartitionByRange + in-partition
    * sort before the write, so every output file covers a narrow,
    * pairwise-disjoint key range. Parquet footers then carry tight
    * min/max stats and a selective predicate skips whole files /
    * row groups at scan time — the cheap alternative to directory
    * partitioning when the clustering key is high-cardinality (at
    * 100 TB: directory-per-key explodes the metastore; range files
    * don't). The sampling-based range partitioner keeps output files
    * near-equal in size even under key skew.
    */
  def writeRangeClustered(
      df: DataFrame, key: Column, path: String, partitions: Int): Unit =
    df.repartitionByRange(partitions, key)
      .sortWithinPartitions(key)
      .write.mode("overwrite").parquet(path)

  /** Morton (z-order) interleave of two non-negative ints already
    * scaled to [0, 2^bits): bit b of x lands at 2b, bit b of y at 2b+1.
    * Pure codegen'd shift/and/or expressions — no UDF. Public-knowledge
    * technique (Morton 1966; used by every lakehouse layout engine) for
    * multi-dimensional file clustering: sorting by the interleaved key
    * keeps files tight in BOTH dimensions at once, so a 2-D box
    * predicate prunes ~quadratically more files than clustering on one
    * column alone.
    */
  def zOrderValue(x: Column, y: Column, bits: Int = 16): Column =
    (0 until bits).map { b =>
      val xb = shiftleft(shiftrightunsigned(x, b).bitwiseAND(lit(1L)), 2 * b)
      val yb = shiftleft(shiftrightunsigned(y, b).bitwiseAND(lit(1L)), 2 * b + 1)
      xb.bitwiseOR(yb)
    }.reduce(_ bitwiseOR _)

  /** Linear scaling of a value in [min, max] to the [0, 2^bits) grid —
    * the normalization step before interleaving. Rank-based bucketing
    * (percentile boundaries) is the skew-robust alternative; linear is
    * exact and cheap when bounds are known.
    */
  def scaleToBits(c: Column, minV: Long, maxV: Long, bits: Int): Column =
    least(lit((1L << bits) - 1),
      ((c - minV) * ((1L << bits) - 1) / (maxV - minV)).cast("long"))

  /** Z-ordered parquet layout: cluster files on the Morton interleave
    * of two dimensions, so per-file min/max footer stats are tight on
    * BOTH columns and a 2-D predicate skips all but the files whose
    * z-curve segment crosses the query box. Same write mechanics as
    * [[writeRangeClustered]] — range partition + in-partition sort on
    * the z-value, which never reaches the files.
    */
  def writeZOrdered(
      df: DataFrame, x: Column, y: Column, path: String,
      partitions: Int, bits: Int = 16): Unit =
    df.withColumn("__z", zOrderValue(x, y, bits))
      .repartitionByRange(partitions, col("__z"))
      .sortWithinPartitions(col("__z"))
      .drop("__z")
      .write.mode("overwrite").parquet(path)

  /** Equi-depth cutpoints of a numeric column: the 2^bits − 1 inclusive
    * integer-rank boundaries (cut_q = min v with 2^bits·cum ≥ q·n) of
    * the ACTUAL distribution — the rank grid behind [[rankScaleToBits]].
    * Computed by the q66 kernel: (value, count) collapse with map-side
    * partials, range partition, two-pass distributed prefix sum; no
    * monolithic percentile buffer, and only the ≤ 2^bits − 1 crossing
    * rows ever reach the driver. Empty input yields an empty array.
    */
  def rankCutpoints(
      df: DataFrame, c: Column, bits: Int, partitions: Int = 32): Array[Double] =
    rankCutpointsN(df, c, 1 << bits, partitions)

  /** [[rankCutpoints]] with an arbitrary denominator: the den − 1
    * inclusive integer-rank boundaries (cut_q = min v with den·cum ≥
    * q·n). den = 10 gives exact deciles — the q66 definition, exposed
    * for any operator needing equi-depth boundaries of a column.
    */
  def rankCutpointsN(
      df: DataFrame, c: Column, den: Int, partitions: Int = 32): Array[Double] = {
    val s = df.sparkSession
    import s.implicits._
    val sorted = df.select(c.cast("double").as("v"))
      .groupBy($"v").agg(count(lit(1)).as("c"))
      .repartitionByRange(partitions, $"v".asc)
      .sortWithinPartitions($"v".asc)
      .as[(Double, Long)]
      .gatedCheckpoint() // freeze sampled range boundaries
    val partials = sorted.rdd.mapPartitionsWithIndex { (pid, it) =>
      var tot = 0L
      it.foreach(tot += _._2)
      Iterator.single((pid, tot))
    }.collect().sortBy(_._1)
    val n = partials.map(_._2).sum
    if (n == 0L) return Array.empty
    val bases = partials.scanLeft((0, 0L)) { case ((_, acc), (pid, tot)) =>
      (pid + 1, acc + tot)
    }.init.map { case (pid, acc) => pid -> acc }.toMap
    val basesBc = s.sparkContext.broadcast(bases)
    val cuts = sorted.rdd.mapPartitionsWithIndex { (pid, it) =>
      var cum = basesBc.value(pid)
      it.flatMap { case (v, cnt) =>
        val prev = cum
        cum += cnt
        (1 until den).iterator
          .filter(q => den.toLong * prev < q.toLong * n && den.toLong * cum >= q.toLong * n)
          .map(q => q -> v)
      }
    }.collect().toMap
    (1 until den).map(cuts).toArray
  }

  /** The last-row-of-each-tile boundaries of `ntile(n)` over the total
    * order (key asc, id asc) — the distributed replacement for an
    * unpartitioned `ntile(n).over(Window.orderBy(...))`, which funnels
    * EVERY input row through one task (the serialized-quantile killer
    * at 10⁹ rows; VERDICT r8 #3). Standard ntile semantics: with
    * total = q·n + r, the first r tiles hold q+1 rows; tile t's last
    * row has rank t·q + min(t, r).
    *
    * Kernel: range-partition by (key, id), per-partition COUNTS (one
    * tiny job — #partitions rows to the driver), prefix-sum bases,
    * then each partition emits only the ≤ n−1 rows whose global rank
    * is a tile boundary. Two scans of (key, id), nothing else ever
    * leaves the executors. The caller turns the boundaries into a
    * codegen'd score with [[ntileFromBoundaries]] — a broadcast-free
    * comparison chain against n−1 literal pairs.
    *
    * The (key, id) pair must be unique (id a tiebreaker), exactly the
    * precondition a deterministic ntile ordering needs anyway. DESC
    * orderings: negate the key. Returns an empty array when the input
    * is empty (no rows to score).
    */
  def ntileBoundaries(df: DataFrame, key: Column, id: Column, n: Int,
      partitions: Int = 32): Array[(Long, Long)] = {
    val s = df.sparkSession
    import s.implicits._
    val sorted = df.select(key.cast("long").as("k"), id.cast("long").as("id"))
      .repartitionByRange(partitions, $"k".asc, $"id".asc)
      .sortWithinPartitions($"k".asc, $"id".asc)
      .as[(Long, Long)]
      .gatedCheckpoint() // freeze sampled range boundaries
    val partials = sorted.rdd.mapPartitionsWithIndex { (pid, it) =>
      var c = 0L
      it.foreach(_ => c += 1)
      Iterator.single((pid, c))
    }.collect().sortBy(_._1)
    val total = partials.map(_._2).sum
    if (total == 0L) return Array.empty
    val per = total / n
    val rem = (total % n).toInt
    // rank (1-based) of the LAST row of tile q, q = 1..n-1; duplicates
    // when total < n (trailing empty tiles share the final row's rank)
    val targets = (1 until n).map(q => q * per + math.min(q, rem)).toArray
    val bases = partials.scanLeft((0, 0L)) { case ((_, acc), (pid, c)) =>
      (pid + 1, acc + c)
    }.init.map { case (pid, acc) => pid -> acc }.toMap
    val basesBc = s.sparkContext.broadcast(bases)
    val targetsBc = s.sparkContext.broadcast(targets)
    val found = sorted.rdd.mapPartitionsWithIndex { (pid, it) =>
      var rank = basesBc.value(pid)
      val ts = targetsBc.value
      it.flatMap { case (k, id) =>
        rank += 1
        val r = rank
        ts.indices.iterator.filter(ts(_) == r).map(qi => (qi, k, id))
      }
    }.collect()
    val byQ = found.map { case (qi, k, id) => qi -> ((k, id)) }.toMap
    (0 until n - 1).map(byQ).toArray
  }

  /** The ntile score column for [[ntileBoundaries]] output: a row's
    * tile is 1 + the number of tile-boundary rows strictly before it
    * in the (key asc, id asc) order — a pure codegen'd comparison
    * chain against literal pairs; no window, no shuffle, no broadcast.
    */
  def ntileFromBoundaries(key: Column, id: Column,
      bounds: Array[(Long, Long)]): Column =
    if (bounds.isEmpty) lit(1L)
    else bounds.map { case (bk, bid) =>
      when(key.cast("long") > lit(bk) ||
        (key.cast("long") === lit(bk) && id.cast("long") > lit(bid)), 1L)
        .otherwise(0L)
    }.reduce(_ + _) + lit(1L)

  /** Per-key 1-based row rank over the total order (key asc,
    * orderCols asc) WITHOUT a key-partitioned rank window — the
    * order-PRODUCING member of the rank-window-retirement family
    * (VERDICT r16 #1). A `row_number().over(Window.partitionBy(key))`
    * assigns a rank to EVERY row, and a window partition cannot be
    * split by AQE: a hot key's full mass sorts through ONE task at
    * 100 TB (the smell the min-k aggregator kills for top-CAP shapes —
    * but min-k cannot produce a full ranking). This kernel can: it is
    * the [[ntileBoundaries]]/unimax two-pass distributed prefix count.
    *
    * Pass 0 range-partitions on the FULL (key, order) sort key, so a
    * mega-key PARALLELIZES across partitions instead of serializing
    * through one. Pass 1 ships one (partition, key) row count per
    * boundary to the driver (≤ partitions + |keys| rows — bounded at
    * any corpus scale). Pass 2 emits each row with rank = its key's
    * base offset for this partition + the local running position.
    * Nothing corpus-sized ever leaves the executors.
    *
    * The (key, orderCols) tuple must be a total order (unique — give
    * it an id tiebreaker), exactly what a deterministic rank needs
    * anyway. DESC orderings: negate the column.
    */
  def perKeyRowNumber(df: DataFrame, keyCol: String, orderCols: Seq[String],
      rankCol: String, partitions: Int = 32): DataFrame = {
    val s = df.sparkSession
    val sortCols = (keyCol +: orderCols).map(c => col(c).asc)
    val sorted = df
      .repartitionByRange(partitions, sortCols: _*)
      .sortWithinPartitions(sortCols: _*)
      .gatedCheckpoint() // freeze sampled range boundaries
    val keyIdx = sorted.schema.fieldIndex(keyCol)
    val partials = sorted.rdd.mapPartitionsWithIndex { (pid, it) =>
      val m = scala.collection.mutable.LinkedHashMap.empty[Any, Long]
      it.foreach { r =>
        val k = r.get(keyIdx)
        m.update(k, m.getOrElse(k, 0L) + 1L)
      }
      m.iterator.map { case (k, c) => (pid, k, c) }
    }.collect() // bounded: <= partitions + |keys| rows
    val base: Map[(Int, Any), Long] =
      partials.groupBy(_._2).flatMap { case (k, rows) =>
        var acc = 0L
        rows.sortBy(_._1).map { case (pid, _, c) =>
          val e = ((pid, k), acc); acc += c; e
        }
      }
    val baseBc = s.sparkContext.broadcast(base)
    val schema = sorted.schema
      .add(rankCol, org.apache.spark.sql.types.LongType, nullable = false)
    val ranked = sorted.rdd.mapPartitionsWithIndex { (pid, it) =>
      val bases = baseBc.value
      var cur: Any = null
      var started = false
      var rank = 0L
      it.map { r =>
        val k = r.get(keyIdx)
        if (!started || k != cur) {
          cur = k; started = true
          rank = bases.getOrElse((pid, k), 0L)
        }
        rank += 1L
        org.apache.spark.sql.Row.fromSeq(r.toSeq :+ rank)
      }
    }
    s.createDataFrame(ranked, schema)
  }

  /** Rank (equi-depth) scaling to the [0, 2^bits) grid: a value's cell
    * is how many cutpoints it exceeds — each cell holds ~the same row
    * count no matter how skewed the distribution. [[scaleToBits]]'
    * linear grid collapses a heavy-tailed dimension into a handful of
    * cells (the z-curve then degenerates to 1-D clustering and footer
    * pruning dies on that axis); the rank grid is the skew-robust
    * alternative, at the cost of one cutpoints pass over the data. The
    * mapping is a codegen'd sum of comparisons against broadcast
    * literals — no UDF, no join.
    */
  def rankScaleToBits(c: Column, cuts: Array[Double]): Column =
    if (cuts.isEmpty) lit(0L)
    else cuts.map(cut => when(c.cast("double") > lit(cut), 1L).otherwise(0L))
      .reduce(_ + _)

  /** Z-ordered layout over the RANK grid of both dimensions: equi-depth
    * cells ([[rankCutpoints]] + [[rankScaleToBits]]) feed the Morton
    * interleave, so file clustering stays 2-D even when one or both
    * dimensions are heavily skewed. 6 bits/dim (4096 z-cells) is ample
    * for FILE-level pruning — cells only need to outnumber files.
    */
  def writeZOrderedRank(
      df: DataFrame, x: Column, y: Column, path: String,
      partitions: Int, bits: Int = 6): Unit = {
    val cx = rankCutpoints(df, x, bits, partitions)
    val cy = rankCutpoints(df, y, bits, partitions)
    df.withColumn("__z",
        zOrderValue(rankScaleToBits(x, cx), rankScaleToBits(y, cy), bits))
      .repartitionByRange(partitions, col("__z"))
      .sortWithinPartitions(col("__z"))
      .drop("__z")
      .write.mode("overwrite").parquet(path)
  }

  /** Per-file [min,max] of a long column, straight from the parquet
    * footers (no data read) — the stats a range-clustered scan prunes
    * with, exposed so layout quality is testable and monitorable.
    */
  /** Compact a small-file parquet directory toward `targetBytes` output
    * files — the standard maintenance pass against the 100 TB
    * small-file problem (every file costs a footer read, a task, and
    * NameNode/liststatus pressure; 10^6 64 KB files read slower than
    * 10^3 64 MB ones). The file count comes from the directory's ACTUAL
    * on-disk bytes (one liststatus, no data read), then one
    * `repartition(n)` round-robin rewrite produces evenly-sized files.
    * Returns (files before, bytes before, files after). Data is
    * preserved row-for-row (spec-checked); ordering is not — callers
    * needing co-location compact via [[writeRangeClustered]]/
    * [[writeZOrdered]] instead, which this does not replace.
    */
  /** Compact a directory of small parquet files. Swap ordering is the
    * crash-safety choice (r11 review finding #1):
    *
    *  - default (`duplicateSafe = false`): delete originals, then move
    *    compacted files in — a crash in the window loses rows, so this
    *    order is ONLY for tables whose consumers cannot tolerate
    *    duplicate rows (corpus_docs feeds the xor manifest signature);
    *    their loss exposure is bounded by the re-foldability of the
    *    corpus tables.
    *  - `duplicateSafe = true`: move compacted files IN first, delete
    *    originals after — a crash in the window leaves DUPLICATES,
    *    never loss. Correct for append-only state whose readers dedup
    *    on a natural key (the ExactSubstr gram index / doc-lens tables,
    *    which `dropDuplicates` at read) — those states are NOT
    *    rebuildable from elsewhere, so the loss-free order is the only
    *    admissible one. Compacted file names are UUID-fresh, so no
    *    originals are overwritten by the move.
    */
  def compactSmallFiles(
      s: SparkSession, path: String, targetBytes: Long = 128L << 20,
      duplicateSafe: Boolean = false): (Long, Long, Long) = {
    import org.apache.hadoop.fs.Path
    val dir = new Path(path)
    val fs = dir.getFileSystem(s.sparkContext.hadoopConfiguration)
    val files = fs.listStatus(dir).toSeq
      .filter(f => f.getPath.getName.endsWith(".parquet"))
    if (files.isEmpty) return (0L, 0L, 0L)
    val totalBytes = files.map(_.getLen).sum
    val nOut = math.max(1L, (totalBytes + targetBytes - 1) / targetBytes).toInt
    val tmp = path.stripSuffix("/") + "_compact_tmp"
    // read EXACTLY the snapshotted file list, not the directory — a
    // file appended between the snapshot and this read would be both
    // compacted into tmp and left in place (it's not in `files`),
    // duplicating its rows for dupSafe=false tables (ADVICE r11 #4)
    s.read.parquet(files.map(_.getPath.toString): _*).repartition(nOut)
      .write.mode("overwrite").parquet(tmp)
    def moveIn(): Unit =
      fs.listStatus(new Path(tmp)).toSeq
        .filter(f => f.getPath.getName.endsWith(".parquet"))
        .foreach(f => fs.rename(f.getPath, new Path(dir, f.getPath.getName)))
    def dropOriginals(): Unit =
      files.foreach(f => fs.delete(f.getPath, false))
    if (duplicateSafe) { moveIn(); dropOriginals() }
    else { dropOriginals(); moveIn() }
    fs.delete(new Path(tmp), true)
    val after = fs.listStatus(dir).toSeq
      .count(f => f.getPath.getName.endsWith(".parquet")).toLong
    (files.size.toLong, totalBytes, after)
  }

  def parquetFileRanges(s: SparkSession, path: String, column: String): Seq[(String, Long, Long)] = {
    import org.apache.hadoop.fs.Path
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val conf = s.sparkContext.hadoopConfiguration
    val dir = new Path(path)
    val fs = dir.getFileSystem(conf)
    fs.listStatus(dir).toSeq
      .filter(f => f.getPath.getName.endsWith(".parquet"))
      .map { f =>
        val reader = ParquetFileReader.open(HadoopInputFile.fromPath(f.getPath, conf))
        try {
          val ranges = reader.getFooter.getBlocks.asScalaBlocks.flatMap { b =>
            b.getColumns.asScalaCols.find(_.getPath.toDotString == column).map { c =>
              val st = c.getStatistics
              (st.genericGetMin.asInstanceOf[java.lang.Long].longValue(),
                st.genericGetMax.asInstanceOf[java.lang.Long].longValue())
            }
          }
          (f.getPath.getName, ranges.map(_._1).min, ranges.map(_._2).max)
        } finally reader.close()
      }
  }

  // tiny shims so the parquet-hadoop java lists read naturally above
  private implicit final class BlocksOps(private val l: java.util.List[org.apache.parquet.hadoop.metadata.BlockMetaData]) {
    def asScalaBlocks: Seq[org.apache.parquet.hadoop.metadata.BlockMetaData] =
      scala.jdk.CollectionConverters.ListHasAsScala(l).asScala.toSeq
  }
  private implicit final class ColsOps(private val l: java.util.List[org.apache.parquet.hadoop.metadata.ColumnChunkMetaData]) {
    def asScalaCols: Seq[org.apache.parquet.hadoop.metadata.ColumnChunkMetaData] =
      scala.jdk.CollectionConverters.ListHasAsScala(l).asScala.toSeq
  }
}
