package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables.t
import graft.ops.Scale.GatedCheckpoint

/** Data-quality check operators as queries (SURVEY.md §2.A, reference:
  * core/quality/checks.py). Unlike the reference — which runs two separate
  * actions per check (e.g. a null count and a total count) — every check
  * here is a SINGLE aggregation pass, so at 100 TB each check costs one
  * scan, with count/sum partial aggregation pushed map-side.
  *
  * The reusable check engine (timings, failure modes, thresholds) lives in
  * [[graft.core.quality]]; these entries expose the check computations to
  * the driver's DuckDB-oracle gate.
  */
object QualityQueries {

  /** row_count_check (checks.py:14-37): COUNT(*) >= min_rows. */
  def dqRowCount(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "orders").agg(count(lit(1)).as("row_count"))
      .select(lit("orders").as("table_name"), $"row_count",
        ($"row_count" >= 100L).as("passed"))
  }

  /** null_check (checks.py:40-67): null percentage ≤ threshold, one pass. */
  def dqNullCheck(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "events")
      .agg(
        sum(when($"props".isNull, 1L).otherwise(0L)).as("null_count"),
        count(lit(1)).as("row_count"))
      .select(lit("events.props").as("checked"), $"null_count", $"row_count",
        ($"null_count".cast("double") * 100.0 / $"row_count").as("null_pct"),
        (($"null_count".cast("double") * 100.0 / $"row_count") <= 5.0).as("passed"))
  }

  /** unique_check (checks.py:70-107): COUNT(*) == COUNT(DISTINCT key).
    * Composite keys supported the same way (count_distinct(cols*)).
    * At 100 TB: run approx_count_distinct as a cheap pre-check first —
    * exposed as approx_distinct below.
    */
  def dqUniqueCheck(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "orders")
      .agg(count(lit(1)).as("row_count"),
        countDistinct($"o_orderkey").as("distinct_count"))
      .select(lit("orders.o_orderkey").as("checked"), $"row_count", $"distinct_count",
        ($"row_count" === $"distinct_count").as("passed"))
  }

  /** range_check (checks.py:110-174): values outside [min,max], one pass. */
  def dqRangeCheck(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "lineitem")
      .agg(
        sum(when($"l_discount" < 0.0 || $"l_discount" > 0.1, 1L).otherwise(0L)).as("violations"),
        count(lit(1)).as("row_count"))
      .select(lit("lineitem.l_discount").as("checked"), $"violations", $"row_count",
        ($"violations" === 0L).as("passed"))
  }

  /** custom_sql_check (checks.py:258-308): arbitrary SQL → passed row. */
  def dqCustomSql(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "lineitem").createOrReplaceTempView("dq_lineitem")
    s.sql("""
      SELECT COUNT(*) = 0 AS passed, COUNT(*) AS violation_count
      FROM dq_lineitem
      WHERE l_quantity < 1.0 OR l_quantity > 50.0 OR l_extendedprice <= 0.0
    """)
  }

  /** 100 TB variant of unique_check: HLL sketch instead of exact distinct
    * — no exact-distinct shuffle; rsd 1% default. Oracle-checked on the
    * exact row count; the approx estimate is bounds-checked, not
    * hash-matched.
    */
  def dqApproxDistinct(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "orders")
      .agg(count(lit(1)).as("row_count"),
        approx_count_distinct($"o_orderkey").as("approx_distinct"))
      .select($"row_count",
        ($"approx_distinct" > $"row_count" * 9 / 10).as("within_10pct"))
  }

  /** referential_check (beyond-reference): orphan o_custkey values.
    * LEFT ANTI against the (broadcastable) parent: the fact side never
    * shuffles.
    */
  def dqReferential(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val orphans = t(s, dir, "orders")
      .filter($"o_custkey".isNotNull)
      .join(broadcast(t(s, dir, "customer")), $"o_custkey" === $"c_custkey", "left_anti")
      .agg(count(lit(1)).as("orphans"))
    orphans.select(lit("orders.o_custkey->customer").as("checked"),
      $"orphans", ($"orphans" === 0L).as("passed"))
  }

  /** freshness_check (beyond-reference): newest event vs a fixed as-of
    * instant (fixed so the oracle is deterministic).
    */
  def dqFreshness(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "events")
      .agg(date_format(max($"ts"), "yyyy-MM-dd HH:mm:ss").as("max_ts"))
      .select(lit("events.ts").as("checked"), $"max_ts",
        ($"max_ts" >= "2024-01-01 00:00:00").as("passed"))
  }

  /** distribution_check (beyond-reference): share of event_type='click'
    * within bounds; share = single integer division, bit-deterministic.
    */
  def dqDistribution(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "events")
      .agg(
        sum(when($"event_type" === "click", 1L).otherwise(0L)).as("hits"),
        count(lit(1)).as("total"))
      .select(lit("events.event_type=click").as("checked"), $"hits", $"total",
        ($"hits".cast("double") / $"total").as("share"),
        ($"hits".cast("double") / $"total").between(0.05, 0.5).as("passed"))
  }

  /** anomaly_check (beyond-ref): per-group z-score outlier detection
    * with ENGINE-EXACT statistics — values quantize to integer cents via
    * the IEEE-exact floor(x*100+0.5) (the SQ8 trick), so sums and
    * sums-of-squares are integers, and mean/variance/z re-derive from
    * them through a fixed IEEE op sequence both engines replay
    * bit-identically. The usual stddev aggregate is NOT used: float
    * accumulation order varies with partitioning, which would make the
    * check's own answer non-reproducible — a bad property for a gate.
    * Scale shape: one integer-stats aggregation (map-side combine) +
    * the tiny per-group stats broadcast back over the scan.
    */
  val AnomalyZ = 3.0

  def dqAnomaly(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val cents = t(s, dir, "events")
      .select($"event_id", $"event_type",
        floor($"value" * 100.0 + 0.5).cast("long").as("cents"))
    val mean = $"s".cast("double") / $"n".cast("double")
    val variance = $"q".cast("double") / $"n".cast("double") - mean * mean
    // zero-variance guard: a constant or single-row group would make
    // z = 0/0 = NaN, and NaN ordering DIFFERS across engines (Spark
    // drops the row, DuckDB sorts NaN above every value and keeps it).
    // Filtering the group stats by n > 1 AND variance > 0 — the same
    // IEEE expression both engines replay — removes the divergence by
    // construction: such groups have no outliers to flag.
    val stats = cents.groupBy($"event_type").agg(
        count(lit(1)).as("n"),
        sum($"cents").as("s"),
        sum($"cents" * $"cents").as("q"))
      .filter($"n" > 1L && variance > 0.0)
    cents.join(broadcast(stats), Seq("event_type"))
      .select($"event_id", $"event_type", $"cents",
        (($"cents".cast("double") - mean) / sqrt(variance)).as("z"))
      .filter(abs($"z") > AnomalyZ)
      .select($"event_id", $"event_type", $"cents", $"z")
      .orderBy("event_id")
  }

  /** robust-outlier check (beyond-ref): median/MAD screen per group —
    * the distribution-free counterpart of [[dqAnomaly]]'s z-score.
    * Mean/stddev are themselves dragged by the outliers they're meant
    * to find (masking); the median and the median absolute deviation
    * have a 50% breakdown point, so the flag count is stable even on
    * heavily contaminated columns — the standard robust screen
    * (Hampel's rule). A row is an outlier when
    * |x − median| > k·MAD with k = 1.5.
    *
    * Engine-exactness: a discrete median SELECTS an actual data value
    * (no interpolation), so median and MAD are hash-portable where
    * percentile_cont would not be; |x−med| and k·MAD are single IEEE
    * ops both engines replay identically. The oracle keeps DuckDB's
    * native percentile_disc — the same inclusive-rank definition — as
    * an INDEPENDENT check of the prefix-sum medians. Scale shape: two
    * [[groupedDiscMedian]] prefix-sum passes + one conditional-count
    * pass with the tiny (3-group) stats table broadcast back — no
    * monolithic percentile buffer anywhere (the grouped
    * percentile_disc form cost 3.6 s at sf0.1; this is ~3× cheaper).
    */
  val MadK = 1.5

  /** Exact per-group discrete medians (percentile_disc(0.5) semantics:
    * min v with 2·cum ≥ n — the inclusive rational comparison both
    * engines implement, cleared of the division so there is no float
    * boundary hazard): cum is the per-group [[graft.ops.Scale.runningSum]]
    * of 1 over (group, value), so one huge group parallelizes across
    * partitions, and only the one crossing row per group reaches the
    * driver. Raw rows go in directly (one exchange) — a (group, value)
    * pre-count would be a second shuffle for no reduction when values
    * are near-distinct, and duplicate rows walk the same crossing rule
    * at weight 1. The result is a tiny group→median map, not a frame.
    */
  private def groupedDiscMedian(
      pairs: org.apache.spark.sql.Dataset[(String, Double)],
      parts: Int = 32): Map[String, Double] = {
    val rs = graft.ops.Scale.runningSum(pairs.toDF("g", "v"), Some("g"),
      Seq(col("v").asc), None, parts)
    val n = graft.ops.Scale.groupValue(col("g"), rs.totals)
    rs.rows.filter(lit(2L) * (col("cum") - 1L) < n && lit(2L) * col("cum") >= n)
      .select("g", "v").collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
  }

  def dqOutlierMad(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val li = t(s, dir, "lineitem").select($"l_returnflag".as("flag"),
      $"l_extendedprice".as("x"))
    val med = groupedDiscMedian(li.as[(String, Double)])
    // per-flag median as a when-chain literal (groups are few); the MAD
    // pass reuses the same prefix-sum kernel on |x - med|
    val medCol = med.foldLeft(lit(null).cast("double")) {
      case (acc, (g, m)) => when($"flag" === lit(g), lit(m)).otherwise(acc)
    }
    val mad = groupedDiscMedian(
      li.select($"flag", abs($"x" - medCol).as("d")).as[(String, Double)])
    val stats = med.toSeq.sorted
      .map { case (g, m) => (g, m, mad(g)) }.toDF("flag", "med", "mad")
    li.join(broadcast(stats), Seq("flag"))
      .groupBy($"flag", $"med", $"mad").agg(
        sum(when(abs($"x" - $"med") > lit(MadK) * $"mad", 1L).otherwise(0L))
          .as("n_outliers"),
        count(lit(1)).as("n_rows"))
      .select($"flag", $"med", $"mad", $"n_outliers", $"n_rows")
      .orderBy("flag")
  }

  /** distribution-drift check (beyond-ref): chi-square of the CURRENT
    * half of the event stream's `value` distribution against the
    * REFERENCE (earlier) half, over the reference's own exact deciles —
    * the standard production screen for "did the data shift under the
    * model". The time split is the integer midpoint of the observed
    * micros range; decile boundaries come from
    * [[graft.ops.Scale.rankCutpointsN]] (den = 10 — the q66 distributed
    * prefix-sum kernel, no monolithic percentile buffer) computed on
    * the reference slice only, and the count pass buckets BOTH slices
    * against those broadcast literal cutpoints in one scan.
    *
    * Engine-exactness: counts are integer; expected_i =
    * cur_total·ref_i/ref_total and each chi² term are single IEEE
    * expressions both engines replay; the running chi² total
    * accumulates through DECIMAL(18,6) (the q26/q40 window-sum
    * precedent — decimal addition is associative, so the fold is
    * engine-independent) and casts back to double. Chi² is preferred
    * over PSI here because PSI's ln() would hit each libm's own
    * rounding. The oracle rebuilds the deciles with DuckDB's native
    * percentile_disc — an INDEPENDENT check of the kernel's cutpoints.
    */
  def dqDriftChi2(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = t(s, dir, "events")
      .filter($"value".isNotNull)
      .select(unix_micros($"ts").as("tus"), $"value")
    val mm = ev.agg(min($"tus"), max($"tus")).head()
    // Edge guards (ADVICE r6): an empty table yields null min/max —
    // return the empty result frame instead of NPEing; a single shared
    // timestamp leaves the reference slice empty and rankCutpointsN
    // cut-less — fall back to one bucket (lit(0)), the rankScaleToBits
    // pattern, so the chi² math still runs on a degenerate split.
    if (mm.isNullAt(0))
      return ev.limit(0).select(
        lit(0L).as("bucket"), lit(0L).as("ref_n"), lit(0L).as("cur_n"),
        lit(0.0).as("expected"), lit(0.0).as("chi2_term"),
        lit(0.0).as("cum_chi2"))
    val thr = (mm.getLong(0) + mm.getLong(1)) / 2
    val cuts = graft.ops.Scale.rankCutpointsN(
      ev.filter($"tus" < thr).select($"value"), $"value", 10)
    val bucket =
      if (cuts.isEmpty) lit(0)
      else cuts
        .map(cut => when($"value" > lit(cut), 1).otherwise(0))
        .reduce(_ + _)
    val wAll = org.apache.spark.sql.expressions.Window.partitionBy()
    val wCum = org.apache.spark.sql.expressions.Window.orderBy($"bucket")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    ev.select(($"tus" < thr).as("is_ref"), bucket.as("bucket"))
      .groupBy($"bucket").agg(
        sum(when($"is_ref", 1L).otherwise(0L)).as("ref_n"),
        sum(when(!$"is_ref", 1L).otherwise(0L)).as("cur_n"))
      .withColumn("expected",
        sum($"cur_n").over(wAll).cast("double") * $"ref_n" /
          sum($"ref_n").over(wAll))
      .withColumn("chi2_term",
        when($"expected" > 0.0,
          ($"cur_n".cast("double") - $"expected") *
            ($"cur_n".cast("double") - $"expected") / $"expected")
          .otherwise(0.0))
      .withColumn("cum_chi2",
        sum($"chi2_term".cast("decimal(18,6)")).over(wCum).cast("double"))
      .select($"bucket".cast("long").as("bucket"), $"ref_n", $"cur_n",
        $"expected", $"chi2_term", $"cum_chi2")
      .orderBy("bucket")
  }

  /** completeness profile (beyond-reference): null counts for EVERY
    * audited column in ONE scan — the reference's null_check costs one
    * action per column; this is the profiling form a wide table needs
    * (one pass, conditional sums with map-side combine, then the single
    * stats row unpivots to one row per column).
    */
  def dqCompleteness(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "events")
      .agg(
        count(lit(1)).as("n"),
        sum(when($"props".isNull, 1L).otherwise(0L)).as("np"),
        sum(when($"user_id".isNull, 1L).otherwise(0L)).as("nu"),
        sum(when($"value".isNull, 1L).otherwise(0L)).as("nv"),
        sum(when($"event_type".isNull, 1L).otherwise(0L)).as("ne"))
      .selectExpr("n",
        """stack(4,
          'props', np,
          'user_id', nu,
          'value', nv,
          'event_type', ne) AS (col_name, nulls)""")
      .select($"col_name", $"nulls", $"n".as("n_rows"),
        ($"nulls".cast("double") * 100.0 / $"n").as("null_pct"),
        (($"nulls".cast("double") * 100.0 / $"n") <= 5.0).as("passed"))
      .orderBy("col_name")
  }

  /** pattern_check (CHANGELOG-listed in the reference, implemented
    * here): customer names must match the generator's shape.
    */
  def dqPattern(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "customer")
      .filter($"c_name".isNotNull)
      .agg(
        sum(when($"c_name".rlike("^Customer#[0-9]+$"), 1L).otherwise(0L)).as("matches"),
        count(lit(1)).as("total"))
      .select(lit("customer.c_name").as("checked"), $"matches", $"total",
        ($"matches" === $"total").as("passed"))
  }

  /** Distinct-text cardinality via the hand-rolled mergeable
    * [[graft.functions.HllAggregator]] sketch (4 KiB registers,
    * partition-independent by register-max merge), next to the exact
    * count for the error to be visible in the row. FULL-oracle design
    * (VERDICT r6 #6): the hashed output carries only the EXACT distinct
    * count and a bounds_ok boolean (estimate within [[HllRelBound]] of
    * exact) — both engine-agreeable, so DuckDB replays the row exactly
    * (its oracle asserts bounds_ok unconditionally; a sketch regression
    * past the bound flips Spark's boolean and fails the hash). The raw
    * register values stay implementation-specific and spec-gated
    * (bit-equal state under any merge order, <2% typical error at
    * p=12); the streaming register state is the constant-size twin of
    * the profile state's exact md5 table.
    */
  val HllRelBound = 0.05

  def dqUniqueHll(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val hll = udaf(new graft.functions.HllAggregator())
    val row = t(s, dir, "documents")
      .select($"text", xxhash64($"text").as("h"))
      .agg(hll($"h"), countDistinct($"text")).head()
    val est = graft.functions.HllAggregator.estimate(row.getAs[Array[Byte]](0))
    val exact = row.getLong(1)
    val relErr = math.abs(est - exact).toDouble / math.max(1L, exact).toDouble
    Seq(("documents.text", exact, relErr <= HllRelBound))
      .toDF("checked", "exact_distinct", "bounds_ok")
  }

  /** Benford-distribution shares: log10(1+1/d), written as decimal
    * literals so BOTH engines round the identical text to the identical
    * nearest double (computing log10 at runtime would hit each libm's
    * own rounding).
    */
  private val BenfordShares: Seq[(String, Double)] = Seq(
    "1" -> 0.301029995663981, "2" -> 0.176091259055681,
    "3" -> 0.124938736608300, "4" -> 0.096910013008056,
    "5" -> 0.079181246047625, "6" -> 0.066946789630613,
    "7" -> 0.057991946977687, "8" -> 0.051152522447381,
    "9" -> 0.045757490560675)

  /** dq_benford (beyond-ref): first-significant-digit distribution of a
    * numeric column vs Benford's law — the classic fabricated-data
    * screen. The first digit comes from the STRING rendering (both
    * engines print shortest-roundtrip doubles, so the first [1-9] char
    * agrees even when one side chooses scientific notation); shares are
    * exact IEEE divisions of integer counts, so every output double is
    * engine-identical. One scan: the per-digit counts feed a 9-row
    * unpartitioned window for the total — no second pass.
    */
  def dqBenford(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val benford = BenfordShares.foldLeft(lit(0.0)) {
      case (acc, (d, p)) => when($"digit" === d, lit(p)).otherwise(acc)
    }
    val w = org.apache.spark.sql.expressions.Window.partitionBy()
    t(s, dir, "events")
      .select(regexp_extract($"value".cast("string"), "[1-9]", 0).as("digit"))
      .filter($"digit" =!= "")
      .groupBy($"digit").agg(count(lit(1)).as("cnt"))
      .withColumn("total", sum($"cnt").over(w))
      .select($"digit", $"cnt",
        ($"cnt".cast("double") / $"total").as("obs_share"),
        benford.as("benford_share"),
        abs($"cnt".cast("double") / $"total" - benford).as("abs_dev"))
      .withColumn("passed", $"abs_dev" <= 0.05)
      .orderBy("digit")
  }

  /** Cross-table field-consistency check (beyond-ref): a lineitem must
    * not ship before its order's date — the standard temporal
    * referential screen (the single-table checks can't see it). One
    * equi join on the key + one conditional aggregation: at scale both
    * sides shuffle on orderkey (or AQE converts to broadcast when one
    * side fits), and only the violation counters cross stages. All
    * integer output → hash-exact.
    */
  def dqCrossField(s: SparkSession, dir: String): DataFrame =
    dqCrossFieldOf(t(s, dir, "lineitem"), t(s, dir, "orders"))

  /** [[dqCrossField]] over arbitrary frames — the planted-violation
    * spec entry point.
    */
  def dqCrossFieldOf(lineitem: DataFrame, orders: DataFrame): DataFrame = {
    val s = lineitem.sparkSession
    import s.implicits._
    lineitem.select($"l_orderkey", $"l_shipdate")
      .join(
        orders.select($"o_orderkey".as("l_orderkey"), $"o_orderdate"),
        Seq("l_orderkey"))
      .agg(
        count(lit(1)).as("n_rows"),
        sum(when($"l_shipdate" < $"o_orderdate", 1L).otherwise(0L))
          .as("n_violations"))
      .select(lit("l_shipdate >= o_orderdate").as("checked"),
        $"n_rows", $"n_violations", ($"n_violations" === 0L).as("passed"))
  }

  /** One-pass table statistics (the ANALYZE/CBO stats shape): per
    * audited column — null count, EXACT distinct count, numeric
    * min/max — from a SINGLE scan. The k COUNT(DISTINCT) measures
    * compile to one Expand feeding one aggregation (the q38 plan, not
    * k scans); min/max/null counters ride the same pass with map-side
    * partials, and the one stats row unpivots via stack. Exact NDV is
    * the documented scale hazard (it shuffles the distinct values) —
    * at 100 TB swap in the mergeable HLL sketch of [[dqUniqueHll]] per
    * column; everything else is O(1) state per task at any scale.
    * Numeric min/max stay typed DOUBLE (never rendered to strings, so
    * no cross-engine formatting hazard); ids < 2⁵³ cast exactly.
    */
  def dqTableStats(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "events")
      .agg(
        count(lit(1)).as("n"),
        sum(when($"event_id".isNull, 1L).otherwise(0L)).as("nn1"),
        countDistinct($"event_id").as("d1"),
        min($"event_id").cast("double").as("mn1"),
        max($"event_id").cast("double").as("mx1"),
        sum(when($"user_id".isNull, 1L).otherwise(0L)).as("nn2"),
        countDistinct($"user_id").as("d2"),
        min($"user_id").cast("double").as("mn2"),
        max($"user_id").cast("double").as("mx2"),
        sum(when($"event_type".isNull, 1L).otherwise(0L)).as("nn3"),
        countDistinct($"event_type").as("d3"),
        sum(when($"value".isNull, 1L).otherwise(0L)).as("nn4"),
        countDistinct($"value").as("d4"),
        min($"value").as("mn4"),
        max($"value").as("mx4"))
      .selectExpr("n", """stack(4,
        'event_id', nn1, d1, mn1, mx1,
        'user_id', nn2, d2, mn2, mx2,
        'event_type', nn3, d3, CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
        'value', nn4, d4, mn4, mx4) AS (col_name, n_nulls, n_distinct, min_num, max_num)""")
      .select($"col_name", $"n".as("n_rows"), $"n_nulls", $"n_distinct",
        $"min_num", $"max_num")
      .orderBy("col_name")
  }

  // ---- mergeable quantile sketch (DDSketch-shaped) ----

  /** Percentiles the sketch query reports. */
  val QsPcts: Seq[Int] = Seq(50, 90, 95, 99)

  /** Two-significant-decimal-digit bucketing of a positive value: the
    * bucket holding `v ≥ 1` is keyed by its LOWER BOUND — the first two
    * digits of floor(v) zero-extended to its digit count — with width
    * 10^(digits-2) (width 1 below 100, where buckets are exact). A
    * fixed-size, mergeable, deterministic relative-error histogram: the
    * DDSketch idea (Masson et al., VLDB 2019) with γ chosen so buckets
    * are exact decimal prefixes, which makes the sketch replayable in
    * ANY engine with string ops — no log(), no float bin edges.
    * Guaranteed relative bucket width ≤ 1/10 of the lower bound.
    */
  private[graft] def sketchBuckets(vals: DataFrame): DataFrame = {
    val s = vals.sparkSession
    import s.implicits._
    vals.filter($"value" >= 1.0)
      .select(floor($"value").cast("long").cast("string").as("sv"))
      .select(
        expr("CAST(rpad(substr(sv, 1, 2), length(sv), '0') AS BIGINT)").as("lo"),
        expr("CAST(rpad('1', greatest(length(sv) - 1, 1), '0') AS BIGINT)")
          .as("width"))
      .groupBy($"lo", $"width").agg(count(lit(1)).as("cnt"))
  }

  /** Rank-based quantile estimates from a (lo, width, cnt) bucket
    * sketch: for percentile p, target rank = ceil(p·n/100) (integer
    * arithmetic) and the estimate is the first bucket whose cumulative
    * count reaches it — the true value lies in [est_lo, est_hi).
    */
  private[graft] def quantilesFromBuckets(
      buckets: DataFrame, pcts: Seq[Int]): DataFrame = {
    val s = buckets.sparkSession
    import s.implicits._
    // the sketch feeds BOTH the cumulative window and the total —
    // materialize it (bounded: ≤ ~90 cells/decade) so neither branch
    // re-runs the upstream scan
    val b = buckets.gatedCheckpoint()
    // the window runs over the BOUNDED sketch (≤ ~90 buckets per decade
    // × decades present), not the data — single-task is fine
    val w = Window.orderBy($"lo")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = b.withColumn("cum", sum($"cnt").over(w))
    val tot = b.agg(sum($"cnt").cast("long").as("n"))
    cum.crossJoin(broadcast(tot))
      .select($"lo", $"width", $"cum", $"n",
        explode(array(pcts.map(p => lit(p.toLong)): _*)).as("p"))
      .withColumn("target", expr("(p * n + 99) div 100"))
      .filter($"cum" >= $"target")
      .groupBy($"p", $"n", $"target")
      .agg(min(struct($"lo", $"width")).as("m"))
      .select($"p", $"n", $"target".as("target_rank"),
        $"m.lo".as("est_lo"), ($"m.lo" + $"m.width").as("est_hi"))
      .orderBy("p")
  }

  /** Quantile estimates of `lineitem.l_extendedprice` through the
    * mergeable decimal sketch — the scale path for percentile
    * monitoring: at 100 TB the exact-rank kernels (dq_outlier_mad,
    * q66) shuffle (value, count) pairs, while this sketch reduces every
    * partition to ≤ a few hundred integer cells that merge by plain
    * count addition — the same one-pass/mergeable contract as the HLL,
    * CMS, and Misra-Gries entries, but for ranks. Estimates carry a
    * ≤ 10% relative error certificate (bucket width / lower bound).
    */
  def dqQuantileSketch(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    quantilesFromBuckets(
      sketchBuckets(t(s, dir, "lineitem")
        .select($"l_extendedprice".as("value"))),
      QsPcts)
  }

  // ---- join-key skew audit ----

  /** A key is "heavy" when its row count exceeds this multiple of the
    * mean rows-per-key (integer cross-multiplied, engine-portable).
    */
  val SkewHeavyFactor = 10L

  /** Per-key skew statistics for one candidate join/aggregation key:
    * the per-key count collapse (≤ |distinct keys| rows, computed
    * distributed and checkpointed because BOTH the totals and the
    * heavy-mass pass read it), then one re-aggregation. No global sort
    * and no top-k collect: "heavy" is a THRESHOLD against the mean
    * (cnt · n_keys > factor · n_rows), so the audit stays one
    * bounded-output aggregation no matter how many distinct keys exist
    * — unlike a top-1%-of-keys definition, whose cut set grows with
    * the key universe.
    */
  private[graft] def keySkew(df: DataFrame, keyCol: String, label: String): DataFrame =
    keySkewFromCounts(
      df.groupBy(col(keyCol).as("k")).agg(count(lit(1)).as("cnt"))
        .gatedCheckpoint(),
      label)

  /** Skew statistics from a precomputed (k, cnt) table — shared with
    * the incremental streaming key-count state. The counts frame is
    * read twice (totals + heavy mass); callers pass a materialized one.
    */
  private[graft] def keySkewFromCounts(
      counts: DataFrame, label: String): DataFrame = {
    val s = counts.sparkSession
    import s.implicits._
    val tot = counts.agg(
      count(lit(1)).as("n_keys"), sum($"cnt").as("n_rows"),
      max($"cnt").as("max_cnt"))
    counts.crossJoin(broadcast(tot))
      .select($"cnt", $"n_keys", $"n_rows", $"max_cnt",
        ($"cnt" * $"n_keys" > lit(SkewHeavyFactor) * $"n_rows").as("heavy"))
      .groupBy($"n_keys", $"n_rows", $"max_cnt")
      .agg(
        sum(when($"heavy", 1L).otherwise(0L)).as("n_heavy_keys"),
        sum(when($"heavy", $"cnt").otherwise(0L)).as("heavy_rows"))
      .select(lit(label).as("key_col"), $"n_rows", $"n_keys", $"max_cnt",
        $"n_heavy_keys", $"heavy_rows",
        ($"heavy_rows".cast("double") / $"n_rows".cast("double"))
          .as("heavy_share"),
        (($"max_cnt" * $"n_keys").cast("double") / $"n_rows".cast("double"))
          .as("skew_factor"))
  }

  /** Join-key skew audit across the candidate shuffle keys — the
    * pre-flight check that decides WHERE salting / AQE skew-join
    * handling is needed before a 100 TB run: rows per key, the max/mean
    * skew factor, and the row mass held by heavy keys
    * (> [[SkewHeavyFactor]]× mean). A skew_factor near 1 means uniform
    * (hash partitioning balances); heavy_share > 0 pinpoints the keys
    * that will straggle a shuffle join. All counts integer ⇒ hash-exact
    * cross-engine; the two shares are final IEEE divisions.
    */
  def dqSkewReport(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val li = t(s, dir, "lineitem")
    keySkew(li, "l_partkey", "lineitem.l_partkey")
      .unionByName(keySkew(li, "l_suppkey", "lineitem.l_suppkey"))
      .unionByName(keySkew(t(s, dir, "orders"), "o_custkey", "orders.o_custkey"))
      .unionByName(keySkew(t(s, dir, "events"), "event_type", "events.event_type"))
      .orderBy("key_col")
  }

  // ---- CUSUM change-point localization ----

  /** CUSUM change-point screen over the event stream, per event_type:
    * the classic Page (1954) statistic S_k = Σ_{i≤k}(x_i − x̄) whose
    * |max| locates the most likely level-shift point — the TIME
    * localization counterpart of [[dqDriftChi2]]'s distributional
    * drift test. Values quantize to integer cents (the [[dqAnomaly]]
    * trick) and the mean is cleared by cross-multiplying:
    * S_k·n = n·prefix_k − k·total — all BIGINT, so the argmax and the
    * statistic are hash-exact cross-engine with no float accumulation.
    *
    * 100 TB shape: per-entity ordered windows (here one per
    * event_type; real deployments shard per (entity, day)); prefix
    * sums are one windowed pass, the argmax one rank — no collect, no
    * self-join. Overflow bound: n·prefix ≤ n²·max_cents — safe in
    * BIGINT up to ~10⁹ rows/group at 10⁵ cents.
    */
  def dqCusumChangepoint(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    cusumOf(t(s, dir, "events").select($"event_type", $"event_id", $"ts",
      floor($"value" * 100.0 + 0.5).cast("long").as("cents")))
  }

  /** CUSUM kernel over any (event_type, event_id, ts, cents) frame. */
  private[graft] def cusumOf(ev: DataFrame): DataFrame = {
    val s = ev.sparkSession
    import s.implicits._
    val wOrd = Window.partitionBy($"event_type").orderBy($"ts", $"event_id")
    val wAll = Window.partitionBy($"event_type")
    val scored = ev
      .withColumn("k", row_number().over(wOrd).cast("long"))
      .withColumn("prefix", sum($"cents").over(
        wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("n", count(lit(1)).over(wAll))
      .withColumn("total", sum($"cents").over(wAll))
      .withColumn("s_scaled", $"n" * $"prefix" - $"k" * $"total")
      .withColumn("abs_s", abs($"s_scaled"))
    val wPick = Window.partitionBy($"event_type")
      .orderBy($"abs_s".desc, $"k".asc)
    scored.withColumn("rk", row_number().over(wPick))
      .filter($"rk" === 1)
      .select($"event_type", $"n".as("n_events"), $"k".as("cp_k"),
        date_format($"ts", "yyyy-MM-dd HH:mm:ss").as("cp_ts"),
        $"s_scaled", $"abs_s".as("cusum_max"))
      .orderBy("event_type")
  }

  /** Quality TREND: the least-squares slope of the per-day null count
    * of `events.props` — drift direction for a completeness metric,
    * complementing the point-in-time [[dqNullCheck]] and the
    * distributional [[dqDriftChi2]]. The slope is computed as an exact
    * integer rational (the readability precedent): num = nΣxy − ΣxΣy,
    * den = nΣx² − (Σx)² over (epoch-day, null-count) points — both
    * BIGINT, so the verdict is partition-independent and hash-exact;
    * the quotient is one IEEE division. One scan → per-day collapse
    * (≤ days rows) → one re-aggregation.
    */
  def dqNullTrend(s: SparkSession, dir: String): DataFrame =
    nullTrendOf(t(s, dir, "events"))

  /** Trend kernel over any (ts, props) frame. */
  private[graft] def nullTrendOf(ev: DataFrame): DataFrame = {
    val s = ev.sparkSession
    import s.implicits._
    val daily = ev
      .select(
        datediff(to_date($"ts"), lit("1970-01-01").cast("date"))
          .cast("long").as("x"),
        when($"props".isNull, 1L).otherwise(0L).as("isnull"))
      .groupBy($"x")
      .agg(count(lit(1)).as("t"), sum($"isnull").as("y"))
    daily.agg(
        count(lit(1)).as("n"), sum($"x").as("sx"), sum($"y").as("sy"),
        sum($"x" * $"y").as("sxy"), sum($"x" * $"x").as("sxx"),
        sum($"t").as("rows_total"))
      .select($"n".as("n_days"), $"rows_total", $"sy".as("null_total"),
        ($"n" * $"sxy" - $"sx" * $"sy").as("slope_num"),
        ($"n" * $"sxx" - $"sx" * $"sx").as("slope_den"))
      .select($"n_days", $"rows_total", $"null_total", $"slope_num",
        $"slope_den",
        when($"slope_den" =!= 0L,
          $"slope_num".cast("double") / $"slope_den".cast("double"))
          .otherwise(lit(0.0)).as("slope"),
        ($"slope_num" > 0L).as("rising"))
  }

  /** KMV sketch size. */
  val KmvK = 64

  /** Cross-table key-overlap profiling WITHOUT a join — the KMV
    * (k-minimum-values) sketch (Bar-Yossef et al. 2002; the Theta/
    * DataSketches family): each side keeps only the k smallest md5
    * values of its distinct keys, distinct-count estimates come from
    * the kth minimum ((k−1)/kth as a fraction of hash space), and the
    * overlap estimate intersects the two sketches inside the union's
    * k-minimum set. Here: which customers appear in the event stream
    * (identity coverage across datasets — the events side is a strict
    * subset, so the overlap is genuinely partial)? Exact counterparts
    * are emitted alongside at bench scale — at 100 TB only the
    * sketches are computable, and each side costs one scan + a
    * k-row TakeOrdered (per-partition heaps, no global sort, no join).
    * md5 makes every estimate deterministic ⇒ full cross-engine oracle.
    */
  def dqKmvOverlap(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    def sketch(df: DataFrame, keyCol: String): DataFrame =
      df.select(md5(concat(lit("kmv:"), col(keyCol).cast("string"))).as("h"))
        .distinct().orderBy($"h").limit(KmvK)
        .gatedCheckpoint()
    val events = t(s, dir, "events")
    val customer = t(s, dir, "customer")
    val a = sketch(events, "user_id")
    val b = sketch(customer, "c_custkey")
    val u = a.unionByName(b).distinct().orderBy($"h").limit(KmvK)
      .gatedCheckpoint()
    def est(n: Column, kth: Column): Column =
      when(n < KmvK, n.cast("double"))
        .otherwise(lit((KmvK - 1L) * (1L << 48)).cast("double")
          / conv(substring(kth, 1, 12), 16, 10).cast("long").cast("double"))
    val sa = a.agg(count(lit(1)).as("n_ka"), max($"h").as("kth_a"))
    val sb = b.agg(count(lit(1)).as("n_kb"), max($"h").as("kth_b"))
    val inter = u.join(a, Seq("h"), "left_semi")
      .join(b, Seq("h"), "left_semi")
      .agg(count(lit(1)).as("n_inter_sk"))
    val un = u.agg(count(lit(1)).as("n_u"))
    val aK = events.select($"user_id".as("kk")).distinct()
      .gatedCheckpoint()
    val bK = customer.select($"c_custkey".as("kk")).distinct()
      .gatedCheckpoint()
    val exact = aK.agg(count(lit(1)).as("n_a_exact")).crossJoin(
      bK.agg(count(lit(1)).as("n_b_exact"))).crossJoin(
      aK.join(bK, Seq("kk"), "left_semi")
        .agg(count(lit(1)).as("n_inter_exact"))).crossJoin(
      aK.unionByName(bK).distinct()
        .agg(count(lit(1)).as("n_union_exact")))
    sa.crossJoin(sb).crossJoin(inter).crossJoin(un).crossJoin(exact)
      .select(
        lit(KmvK.toLong).as("k"),
        $"n_a_exact", $"n_b_exact", $"n_inter_exact",
        est($"n_ka", $"kth_a").as("est_a"),
        est($"n_kb", $"kth_b").as("est_b"),
        ($"n_inter_exact".cast("double") / $"n_union_exact".cast("double"))
          .as("jaccard_exact"),
        ($"n_inter_sk".cast("double") / $"n_u".cast("double"))
          .as("jaccard_est"))
  }

  /** Day-of-week seasonality profile over the events stream — the
    * weekly-rhythm baseline a freshness/volume monitor compares
    * against (a weekday-heavy product that suddenly spikes Sunday is
    * an incident; without the profile it's invisible in daily totals).
    * dow is computed portably as days-since-a-known-Monday mod 7
    * (0=Mon … 6=Sun) — engine dayofweek() builtins disagree on week
    * start, integer date arithmetic doesn't. Counts are exact; share
    * is one IEEE division per row.
    *
    * 100 TB shape: one scan → map-side-combinable aggregation on a
    * 7-value key; the total rides the same frame via a window over 7
    * rows.
    */
  def dqSeasonality(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val anchor = lit(java.sql.Date.valueOf("1970-01-05")) // a Monday
    val byDow = t(s, dir, "events")
      .select(pmod(datediff($"ts".cast("date"), anchor), lit(7))
        .cast("long").as("dow"), $"user_id")
      .groupBy($"dow")
      .agg(count(lit(1)).as("n_events"),
        countDistinct($"user_id").as("n_users"))
    val w = Window.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    byDow
      .withColumn("total", sum($"n_events").over(w))
      .select($"dow", $"n_events", $"n_users",
        ($"n_events".cast("double") / $"total".cast("double")).as("share"))
      .orderBy("dow")
  }

  /** Trailing window for [[dqVolumeZscore]]. */
  val ZscoreWindow = 7

  /** Daily-volume anomaly score: each day's event count against the
    * mean/stddev of the TRAILING [[ZscoreWindow]] days (excluding
    * itself) — the alerting primitive behind "today's ingest is 4σ off
    * its weekly baseline". Complements [[dqCusumChangepoint]] (level
    * shifts in hindsight) and [[dqSeasonality]] (the weekly rhythm):
    * this one is computable the moment a day closes. Only days with a
    * FULL trailing window score (deterministic row set); population
    * variance from exact integer window sums in a spelled IEEE chain;
    * zero-variance baselines emit null z (0/0 stays honest).
    *
    * 100 TB shape: one scan → per-day collapse (≤ days rows), then
    * windows over the tiny daily series.
    */
  /** Cross-table reconciliation report — the classic warehouse audit
    * (header total vs detail rollup: does `o_totalprice` equal the
    * order's lineitem revenue?): every order lands in a ratio band
    * (actual/expected <0.5, 0.5–0.9, 0.9–1.1 "reconciled", 1.1–2, ≥2,
    * or no_lines), with counts and the absolute money gap per band.
    * On the synthetic corpus header totals are independent of the
    * details, so the report SHOWS that (nothing reconciles) — which is
    * precisely what the check is for.
    *
    * Exactness: the expected revenue folds in DECIMAL; ratio bands are
    * integer-scaled DECIMAL cross-multiplications (10·tp < 5·exp ⇔
    * ratio < 0.5) — no division anywhere; gaps convert to double only
    * on output.
    *
    * 100 TB shape: one lineitem aggregation keyed by order, one
    * order-keyed join (sort-merge at scale, AQE-skew-safe), one 6-row
    * band aggregation with map-side combine.
    */
  /** dq_fk_orphans: multi-relationship referential-integrity audit —
    * per FK relationship, child rows/keys and ORPHAN rows/keys
    * (children whose parent key is absent). [[dqReferential]] proves
    * the zero path on one clean relationship; this is the full join-
    * graph audit with DETECTION evidence: two clean TPC-H
    * relationships, plus a STAGED orders table with planted
    * orphans (o_custkey shifted above the real key space on
    * o_orderkey % 17 = 0 — the q80/q72 planted-change-set discipline,
    * offset derived from max(c_custkey) via a lazy broadcast so it
    * can't collide at any SF), proving detection with an exactly
    * predictable count.
    *
    * 100 TB shape: each relationship is ONE scan of the child — a
    * left equi-join against the parent key set (sort-merge at scale,
    * AQE-skew-safe) whose hit/miss flag feeds all four counters in a
    * single conditional aggregation (the oracle's own shape) — so no
    * fact table is read twice and nothing wider than (key, flag) ever
    * shuffles.
    */
  def dqFkOrphans(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    def audit(rel: String, child: DataFrame, key: String,
        parentKeys: DataFrame): DataFrame =
      child
        .join(parentKeys.withColumn("__hit", lit(1)), Seq(key), "left")
        .agg(count(lit(1)).as("n_child"),
          countDistinct(col(key)).as("n_child_keys"),
          sum(when($"__hit".isNull, 1L).otherwise(0L)).as("n_orphan_rows"),
          countDistinct(when($"__hit".isNull, col(key))).as("n_orphan_keys"))
        .select(lit(rel).as("relationship"),
          $"n_child", $"n_child_keys", $"n_orphan_rows", $"n_orphan_keys")
    val cust = t(s, dir, "customer").select($"c_custkey")
    val ord = t(s, dir, "orders")
    val staged = ord
      .crossJoin(broadcast(cust.agg(max($"c_custkey").as("__mk"))))
      .select(when($"o_orderkey" % 17 === 0, $"o_custkey" + $"__mk")
        .otherwise($"o_custkey").as("c_custkey"))
    audit("lineitem->orders",
        t(s, dir, "lineitem").select($"l_orderkey".as("o_orderkey")),
        "o_orderkey", ord.select($"o_orderkey"))
      .unionByName(audit("orders->customer",
        ord.select($"o_custkey".as("c_custkey")), "c_custkey", cust))
      .unionByName(audit("staged_orders->customer", staged, "c_custkey", cust))
      .orderBy("relationship")
  }

  def dqReconciliation(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val exp = t(s, dir, "lineitem")
      .groupBy($"l_orderkey")
      .agg(sum($"l_extendedprice".cast("decimal(18,2)") *
        (lit(1) - $"l_discount".cast("decimal(6,4)"))).as("expected"))
    val j = t(s, dir, "orders")
      .select($"o_orderkey", $"o_totalprice".cast("decimal(18,2)").as("tp"))
      .join(exp, $"o_orderkey" === $"l_orderkey", "left")
    val banded = j.select($"tp", $"expected",
      when($"expected".isNull, "0_no_lines")
        .when($"tp" * 10 < $"expected" * 5, "1_below_half")
        .when($"tp" * 10 < $"expected" * 9, "2_low")
        .when($"tp" * 10 < $"expected" * 11, "3_reconciled")
        .when($"tp" < $"expected" * 2, "4_high")
        .otherwise("5_above_double").as("band"))
    banded.groupBy($"band")
      .agg(count(lit(1)).as("n_orders"),
        sum($"tp").cast("double").as("total_actual"),
        coalesce(sum($"expected"), lit(0)).cast("double").as("total_expected"),
        coalesce(sum(abs($"tp" - $"expected")), lit(0)).cast("double")
          .as("abs_gap"))
      .orderBy("band")
  }

  /** Reproducibility manifest of the document corpus — the dataset-
    * card artifact a training run records before touching data: per
    * source, doc/token/char counts and an ORDER-FREE content signature
    * (bit_xor of a 60-bit md5 prefix per document), so two
    * independently-shuffled materializations of the same corpus
    * produce byte-identical manifests and any single changed/missing
    * document flips the signature. The check run between pipeline
    * re-executions, cross-region copies, and vendor deliveries.
    *
    * 100 TB shape: one codegen'd scan → one per-source aggregation
    * with map-side combine (count/sum/bit_xor all commute). Pure
    * integers — hash-exact by construction.
    */
  def dqManifest(s: SparkSession, dir: String): DataFrame =
    manifestOf(t(s, dir, "documents"))

  /** [[dqManifest]] over any (source, text, n_chars) frame — shared by
    * the registered query, the streaming twin, and the
    * signature-sensitivity spec.
    */
  def manifestOf(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    docs
      .select($"source",
        graft.ops.TextAnalysis.tokenCount($"text").as("nt"),
        $"n_chars",
        conv(substring(md5($"text"), 1, 15), 16, 10).cast("long").as("sig"))
      .groupBy($"source")
      .agg(count(lit(1)).as("n_docs"),
        sum($"nt").as("n_tokens"),
        sum($"n_chars").as("n_chars"),
        expr("bit_xor(sig)").as("content_sig"))
      .orderBy("source")
  }

  /** Full-row duplicate audit of the event stream — the classic
    * ingestion DQ check (at-least-once delivery, replayed batches, and
    * CDC re-emits all manifest as exact row duplicates): group on the
    * ENTIRE row, then report per event_type (plus an '_all' rollup
    * row) the duplicate-group count, the extra-row mass a compaction
    * would drop, and the worst multiplicity. The synthetic feed is
    * dup-free by construction, so the audit plants a deterministic
    * redelivery slice (every 97th event re-emitted — the
    * [[graft.ops.TextAnalysis.taPiiRedact]] planting precedent; same
    * expression in the oracle) so every counter is exercised nonzero.
    *
    * 100 TB shape: one hash aggregation on the full row — map-side
    * combine collapses clean data to ~unique rows before the shuffle —
    * then a rollup re-aggregation over the group counts. No window, no
    * sort, no collect.
    */
  def dqDupRows(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = t(s, dir, "events")
    // plant rides the ONE scan: a per-row copy count exploded in place
    // (a union of a second filtered read would scan events twice)
    val stream = ev
      .withColumn("copy", explode(sequence(lit(1),
        when($"event_id" % 97 === 0, 2).otherwise(1))))
      .drop("copy")
    stream
      .groupBy($"event_id", $"ts", $"user_id", $"event_type", $"value", $"props")
      .agg(count(lit(1)).as("m"))
      .rollup($"event_type")
      .agg(
        sum($"m").as("n_rows"),
        count(lit(1)).as("n_distinct"),
        sum(when($"m" > 1L, 1L).otherwise(0L)).as("n_dup_groups"),
        sum(when($"m" > 1L, $"m" - 1L).otherwise(0L)).as("n_extra_rows"),
        max($"m").as("max_multiplicity"))
      .select(coalesce($"event_type", lit("_all")).as("event_type"),
        $"n_rows", $"n_distinct", $"n_dup_groups", $"n_extra_rows",
        $"max_multiplicity")
      .orderBy("event_type")
  }

  def dqVolumeZscore(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val daily = t(s, dir, "events")
      .groupBy($"ts".cast("date").as("day"))
      .agg(count(lit(1)).as("n_events"))
    val w = Window.orderBy($"day").rowsBetween(-ZscoreWindow, -1)
    daily
      .withColumn("w_cnt", count(lit(1)).over(w))
      .withColumn("w_sum", sum($"n_events").over(w))
      .withColumn("w_sumsq", sum($"n_events" * $"n_events").over(w))
      .filter($"w_cnt" === ZscoreWindow)
      .withColumn("mean7",
        $"w_sum".cast("double") / $"w_cnt".cast("double"))
      .withColumn("sd7", sqrt(
        ($"w_sumsq".cast("double") -
          $"w_sum".cast("double") * $"w_sum".cast("double") /
            $"w_cnt".cast("double")) / $"w_cnt".cast("double")))
      .select($"day", $"n_events", $"mean7",
        when($"sd7" > 0.0,
          ($"n_events".cast("double") - $"mean7") / $"sd7").as("z"))
      .orderBy($"day")
  }

  /** dq_ewma_dyadic: EWMA volume anomaly monitor with α = 1/2 — the
    * exponentially-weighted complement of [[dqVolumeZscore]]'s flat
    * 7-day window (EWMA reacts in one day; the flat window dilutes a
    * spike by 1/7). The recurrence s_t = (s_{t-1} + x_t)/2 is
    * cross-engine EXACT because α is dyadic: with W_t ≡ s_t·2^{t-1}
    * the recurrence collapses to the INTEGER cumsum
    * W_t = W_{t-1} + x_t·2^{t-2} (W_1 = x_1), so the state is exact
    * longs — the REAL bound is t ≤ 65 − bitlen(max daily count), not
    * a flat day count (ADVICE r10 #1: at 10⁹ events/day the exponent
    * budget is ~34 days), and [[ewmaDyadicOf]] raise_errors past it
    * rather than let shiftleft's mod-64 shift masking wrap wt
    * silently — the reported ewma is one exact
    * division-by-a-power-of-two, and the spike flag
    * x_t·2^{t-2} > 2·W_{t-1} ("today > 2× yesterday's EWMA") is a
    * pure integer cross-multiplication — no float ever enters a
    * comparison. The mix_temperature_curve dyadic doctrine applied to
    * time-series smoothing.
    *
    * 100 TB shape: one events scan → per-day counts (map-side
    * combinable); everything after operates on one row per calendar
    * DAY (the dq_volume_zscore window regime — bounded by the time
    * span, not the volume).
    */
  def dqEwmaDyadic(s: SparkSession, dir: String): DataFrame =
    ewmaDyadicOf(t(s, dir, "events")
      .groupBy(col("ts").cast("date").as("day"))
      .agg(count(lit(1)).as("n_events")))

  /** [[dqEwmaDyadic]] over any (day, n_events) frame.
    *
    * Overflow guard (ADVICE r10 #1): wt = n_events·2^{t−2} needs
    * bitlen(n_events) + (t−2) ≤ 63 bits; past that Spark's shiftleft
    * masks the shift amount mod 64 (1<<64 == 1) and wt wraps with NO
    * ANSI error, silently diverging from DuckDB's << — and since
    * [[graft.examples.StreamingCuration.mergeDailyVolumeState]] makes
    * the day count unbounded over a stream's lifetime, the monitor
    * fails LOUDLY at the exact first unsafe row instead (bitlen via
    * `length(bin(x))`, an integer check — no float enters the guard).
    * The cumulative W_t is covered separately: each safe wt is a
    * positive long and the window sum overflow throws under ANSI
    * (Spark 4 default). A stream that outlives the exponent budget
    * rebases by restarting the state epoch (the daily totals are the
    * sufficient statistic; re-anchoring t=1 at any day re-opens 63
    * bits), which keeps every in-range row bit-exact vs the oracle —
    * a silent renormalization inside this op would not be.
    */
  def ewmaDyadicOf(daily: DataFrame): DataFrame = {
    val s = daily.sparkSession
    import s.implicits._
    val wOrd = Window.orderBy($"day")
    val wCum = Window.orderBy($"day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    daily
      .withColumn("t", row_number().over(wOrd).cast("long"))
      .withColumn("wt",
        // n_events = 0 is exact at ANY t (0·2^k = 0 under any shift
        // wrapping — r11 review finding #4: a gap-filled series must
        // not trip the guard on its zero days)
        when($"t" > 1L && $"n_events" > 0L &&
            length(bin($"n_events".cast("long"))).cast("long") + $"t" - 2L > 63L,
          raise_error(format_string(
            "dq_ewma_dyadic: 2^(t-2) exponent overflow at day %s (t=%s, " +
              "n_events=%s): bitlen(n_events)+t-2 > 63. Re-anchor the " +
              "EWMA epoch (restart the daily-volume state) to re-open " +
              "the dyadic exponent budget.",
            $"day".cast("string"), $"t", $"n_events")).cast("long"))
          .when($"t" === 1L, $"n_events")
          .otherwise($"n_events" * expr("shiftleft(cast(1 as bigint), cast(t - 2 as int))")))
      .withColumn("w_cum", sum($"wt").over(wCum))
      .withColumn("w_prev", $"w_cum" - $"wt")
      .select($"day", $"n_events",
        // exact: W_t / 2^(t-1) — numerator exact long, divisor a power
        // of two, one IEEE division
        ($"w_cum".cast("double") /
          expr("shiftleft(cast(1 as bigint), cast(t - 1 as int))").cast("double"))
          .as("ewma"),
        when($"t" > 1L,
          $"wt".cast("double") / $"w_prev".cast("double")).as("vol_ratio"),
        when($"t" > 1L, $"wt" > $"w_prev" * 2L).otherwise(lit(false))
          .as("spike"))
      .orderBy($"day")
  }

  /** dq_completeness_matrix: per-COLUMN completeness profile — the
    * whole-table null matrix every data-profiling pass (Deequ
    * completeness, Great Expectations column summaries) starts with,
    * where [[dqNullCheck]] audits one configured column. Two variants
    * ride ONE scan: the clean documents table (zero path) and a
    * STAGED variant with planted nulls (lang on doc_id%13, text on
    * doc_id%31 — the planted-damage discipline), whose flags derive
    * from doc_id inside the same projection, so detection evidence
    * costs no second read.
    *
    * 100 TB shape: one scan → ONE aggregation row holding every
    * (variant, column) counter (map-side combinable) → a fixed-width
    * stack; the dq single-scan discipline holds even with both
    * variants audited.
    */
  def dqCompletenessMatrix(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val d = t(s, dir, "documents")
    def nulls(c: Column) = sum(when(c.isNull, 1L).otherwise(0L))
    d.agg(
        count(lit(1)).as("n"),
        nulls($"lang").as("c_lang"), nulls($"source").as("c_source"),
        nulls($"text").as("c_text"), nulls($"n_chars").as("c_nchars"),
        nulls(when($"doc_id" % 13 === 0, lit(null)).otherwise($"lang"))
          .as("s_lang"),
        nulls($"source").as("s_source"),
        nulls(when($"doc_id" % 31 === 0, lit(null)).otherwise($"text"))
          .as("s_text"),
        nulls($"n_chars").as("s_nchars"))
      .select(expr(
        """stack(8,
           'clean', 'lang',    c_lang,
           'clean', 'n_chars', c_nchars,
           'clean', 'source',  c_source,
           'clean', 'text',    c_text,
           'staged', 'lang',    s_lang,
           'staged', 'n_chars', s_nchars,
           'staged', 'source',  s_source,
           'staged', 'text',    s_text)
           AS (variant, column_name, n_null)"""),
        $"n".as("n_rows"))
      .select($"variant", $"column_name", $"n_rows", $"n_null",
        (($"n_rows" - $"n_null").cast("double") / $"n_rows".cast("double"))
          .as("completeness"))
      .orderBy($"variant", $"column_name")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dq_completeness_matrix" -> dqCompletenessMatrix,
    "dq_ewma_dyadic" -> dqEwmaDyadic,
    "dq_volume_zscore" -> dqVolumeZscore,
    "dq_dup_rows" -> dqDupRows,
    "dq_manifest" -> dqManifest,
    "dq_fk_orphans" -> dqFkOrphans,
    "dq_reconciliation" -> dqReconciliation,
    "dq_seasonality" -> dqSeasonality,
    "dq_kmv_overlap" -> dqKmvOverlap,
    "dq_null_trend" -> dqNullTrend,
    "dq_skew_report" -> dqSkewReport,
    "dq_cusum_changepoint" -> dqCusumChangepoint,
    "dq_quantile_sketch" -> dqQuantileSketch,
    "dq_table_stats" -> dqTableStats,
    "dq_cross_field" -> dqCrossField,
    "dq_drift_chi2" -> dqDriftChi2,
    "dq_benford" -> dqBenford,
    "dq_unique_hll" -> dqUniqueHll,
    "dq_pattern" -> dqPattern,
    "dq_row_count" -> dqRowCount,
    "dq_null_check" -> dqNullCheck,
    "dq_unique_check" -> dqUniqueCheck,
    "dq_range_check" -> dqRangeCheck,
    "dq_custom_sql" -> dqCustomSql,
    "dq_referential" -> dqReferential,
    "dq_freshness" -> dqFreshness,
    "dq_distribution" -> dqDistribution,
    "dq_anomaly" -> dqAnomaly,
    "dq_outlier_mad" -> dqOutlierMad,
    "dq_completeness" -> dqCompleteness)

  private val benfordCase: String =
    "CASE digit " + BenfordShares.map { case (d, p) =>
      s"WHEN '$d' THEN CAST($p AS DOUBLE) "
    }.mkString + "ELSE 0.0 END"

  /** One UNION-ALL branch of the skew-audit oracle: the same per-key
    * collapse, threshold, and re-aggregation on one (table, key).
    */
  private def skewSql(table: String, key: String, label: String): String = s"""
    SELECT '$label' AS key_col, n_rows, n_keys, max_cnt, n_heavy_keys,
      heavy_rows,
      CAST(heavy_rows AS DOUBLE) / CAST(n_rows AS DOUBLE) AS heavy_share,
      CAST(max_cnt * n_keys AS DOUBLE) / CAST(n_rows AS DOUBLE) AS skew_factor
    FROM (
      WITH c AS (
        SELECT $key AS k, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM $table GROUP BY 1),
      t AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS nk, CAST(SUM(cnt) AS BIGINT) AS nr,
          CAST(MAX(cnt) AS BIGINT) AS mx
        FROM c)
      SELECT t.nk AS n_keys, t.nr AS n_rows, t.mx AS max_cnt,
        CAST(SUM(CASE WHEN c.cnt * t.nk > $SkewHeavyFactor * t.nr
          THEN 1 ELSE 0 END) AS BIGINT) AS n_heavy_keys,
        CAST(SUM(CASE WHEN c.cnt * t.nk > $SkewHeavyFactor * t.nr
          THEN c.cnt ELSE 0 END) AS BIGINT) AS heavy_rows
      FROM c CROSS JOIN t GROUP BY 1, 2, 3)"""

  /** First 12 md5-hex nibbles as a 48-bit integer (no conv() in
    * DuckDB — replayed nibble-by-nibble, the CMS-cell precedent).
    */
  private def hex12(expr: String): String =
    (0 until 12).map { i =>
      val mult = 1L << (4 * (11 - i))
      s"(strpos('0123456789abcdef', substr($expr, ${i + 1}, 1)) - 1) * ${mult}"
    }.mkString("(", " + ", ")")

  val oracles: Map[String, String] = Map(
    "dq_fk_orphans" -> """
      WITH mk AS (SELECT MAX(c_custkey) AS m FROM customer),
      a1 AS (
        SELECT 'lineitem->orders' AS relationship,
          CAST(COUNT(*) AS BIGINT) AS n_child,
          CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_child_keys,
          CAST(SUM(CASE WHEN o.o_orderkey IS NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS n_orphan_rows,
          CAST(COUNT(DISTINCT CASE WHEN o.o_orderkey IS NULL
            THEN l_orderkey END) AS BIGINT) AS n_orphan_keys
        FROM lineitem l LEFT JOIN orders o ON o.o_orderkey = l.l_orderkey),
      a2 AS (
        SELECT 'orders->customer',
          CAST(COUNT(*) AS BIGINT),
          CAST(COUNT(DISTINCT o_custkey) AS BIGINT),
          CAST(SUM(CASE WHEN c.c_custkey IS NULL THEN 1 ELSE 0 END)
            AS BIGINT),
          CAST(COUNT(DISTINCT CASE WHEN c.c_custkey IS NULL
            THEN o_custkey END) AS BIGINT)
        FROM orders o LEFT JOIN customer c ON c.c_custkey = o.o_custkey),
      st AS (
        SELECT CASE WHEN o_orderkey % 17 = 0
          THEN o_custkey + (SELECT m FROM mk) ELSE o_custkey END AS k
        FROM orders),
      a3 AS (
        SELECT 'staged_orders->customer',
          CAST(COUNT(*) AS BIGINT),
          CAST(COUNT(DISTINCT k) AS BIGINT),
          CAST(SUM(CASE WHEN c.c_custkey IS NULL THEN 1 ELSE 0 END)
            AS BIGINT),
          CAST(COUNT(DISTINCT CASE WHEN c.c_custkey IS NULL
            THEN k END) AS BIGINT)
        FROM st LEFT JOIN customer c ON c.c_custkey = st.k)
      SELECT * FROM a1 UNION ALL SELECT * FROM a2 UNION ALL
      SELECT * FROM a3 ORDER BY relationship""",
    "dq_reconciliation" -> """
      WITH exp AS (
        SELECT l_orderkey,
          SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
              (1 - CAST(l_discount AS DECIMAL(6,4)))) AS expected
        FROM lineitem GROUP BY l_orderkey),
      j AS (
        SELECT CAST(o_totalprice AS DECIMAL(18,2)) AS tp, expected
        FROM orders o LEFT JOIN exp ON exp.l_orderkey = o.o_orderkey),
      banded AS (
        SELECT tp, expected,
          CASE WHEN expected IS NULL THEN '0_no_lines'
               WHEN tp * 10 < expected * 5 THEN '1_below_half'
               WHEN tp * 10 < expected * 9 THEN '2_low'
               WHEN tp * 10 < expected * 11 THEN '3_reconciled'
               WHEN tp < expected * 2 THEN '4_high'
               ELSE '5_above_double' END AS band
        FROM j)
      SELECT band,
        CAST(COUNT(*) AS BIGINT) AS n_orders,
        CAST(SUM(tp) AS DOUBLE) AS total_actual,
        CAST(COALESCE(SUM(expected), 0) AS DOUBLE) AS total_expected,
        CAST(COALESCE(SUM(ABS(tp - expected)), 0) AS DOUBLE) AS abs_gap
      FROM banded GROUP BY band ORDER BY band""",
    "dq_manifest" -> {
      // 15 md5-hex nibbles decoded to a 60-bit integer — DuckDB has no
      // conv(), so the prefix replays nibble-by-nibble (the
      // CorpusFilters duckHexPrefix idiom)
      val sig = (0 until 15).map { i =>
        val mult = java.math.BigInteger.valueOf(16L).pow(14 - i).longValueExact()
        s"(strpos('0123456789abcdef', substr(hx, ${i + 1}, 1)) - 1) * $mult"
      }.mkString("(", " + ", ")")
      s"""
      WITH d AS (
        SELECT source,
          CAST(len(list_filter(string_split_regex(trim(text), '\\s+'), x -> len(x) > 0)) AS BIGINT) AS nt,
          n_chars, md5(text) AS hx
        FROM documents)
      SELECT source,
        CAST(COUNT(*) AS BIGINT) AS n_docs,
        CAST(SUM(nt) AS BIGINT) AS n_tokens,
        CAST(SUM(n_chars) AS BIGINT) AS n_chars,
        CAST(bit_xor($sig) AS BIGINT) AS content_sig
      FROM d GROUP BY source ORDER BY source"""
    },
    "dq_dup_rows" -> """
      WITH stream AS (
        SELECT * FROM events
        UNION ALL
        SELECT * FROM events WHERE event_id % 97 = 0),
      g AS (
        SELECT event_type, COUNT(*) AS m
        FROM stream
        GROUP BY event_id, ts, user_id, event_type, value, props)
      SELECT COALESCE(event_type, '_all') AS event_type,
        CAST(SUM(m) AS BIGINT) AS n_rows,
        CAST(COUNT(*) AS BIGINT) AS n_distinct,
        CAST(SUM(CASE WHEN m > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_groups,
        CAST(SUM(CASE WHEN m > 1 THEN m - 1 ELSE 0 END) AS BIGINT) AS n_extra_rows,
        CAST(MAX(m) AS BIGINT) AS max_multiplicity
      FROM g GROUP BY ROLLUP(event_type) ORDER BY event_type""",
    "dq_completeness_matrix" -> """
      WITH a AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
          CAST(SUM(CASE WHEN lang IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS c_lang,
          CAST(SUM(CASE WHEN source IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS c_source,
          CAST(SUM(CASE WHEN text IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS c_text,
          CAST(SUM(CASE WHEN n_chars IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS c_nchars,
          CAST(SUM(CASE WHEN doc_id % 13 = 0 OR lang IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS s_lang,
          CAST(SUM(CASE WHEN doc_id % 31 = 0 OR text IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS s_text
        FROM documents),
      st AS (
        SELECT 'clean' AS variant, 'lang' AS column_name, n AS n_rows, c_lang AS n_null FROM a
        UNION ALL SELECT 'clean', 'n_chars', n, c_nchars FROM a
        UNION ALL SELECT 'clean', 'source', n, c_source FROM a
        UNION ALL SELECT 'clean', 'text', n, c_text FROM a
        UNION ALL SELECT 'staged', 'lang', n, s_lang FROM a
        UNION ALL SELECT 'staged', 'n_chars', n, c_nchars FROM a
        UNION ALL SELECT 'staged', 'source', n, c_source FROM a
        UNION ALL SELECT 'staged', 'text', n, s_text FROM a)
      SELECT variant, column_name, n_rows, n_null,
        CAST(n_rows - n_null AS DOUBLE) / CAST(n_rows AS DOUBLE) AS completeness
      FROM st ORDER BY variant, column_name""",
    "dq_ewma_dyadic" -> """
      WITH daily AS (
        SELECT CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS n_events
        FROM events GROUP BY 1),
      r AS (
        SELECT day, n_events,
          CAST(ROW_NUMBER() OVER (ORDER BY day) AS BIGINT) AS t
        FROM daily),
      w AS (
        SELECT day, n_events, t,
          CASE WHEN t = 1 THEN n_events
               ELSE n_events * (CAST(1 AS BIGINT) << (t - 2)) END AS wt
        FROM r),
      c AS (
        SELECT day, n_events, t, wt,
          CAST(SUM(wt) OVER (ORDER BY day
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
            AS w_cum
        FROM w)
      SELECT day, n_events,
        CAST(w_cum AS DOUBLE) /
          CAST((CAST(1 AS BIGINT) << (t - 1)) AS DOUBLE) AS ewma,
        CASE WHEN t > 1
          THEN CAST(wt AS DOUBLE) / CAST(w_cum - wt AS DOUBLE) END
          AS vol_ratio,
        CASE WHEN t > 1 THEN wt > (w_cum - wt) * 2 ELSE FALSE END AS spike
      FROM c ORDER BY day""",
    "dq_volume_zscore" -> s"""
      WITH daily AS (
        SELECT CAST(ts AS DATE) AS day,
          CAST(COUNT(*) AS BIGINT) AS n_events
        FROM events GROUP BY day),
      win AS (
        SELECT day, n_events,
          COUNT(*) OVER tw AS w_cnt,
          SUM(n_events) OVER tw AS w_sum,
          SUM(n_events * n_events) OVER tw AS w_sumsq
        FROM daily
        WINDOW tw AS (ORDER BY day
          ROWS BETWEEN $ZscoreWindow PRECEDING AND 1 PRECEDING)),
      scored AS (
        SELECT day, n_events,
          CAST(w_sum AS DOUBLE) / CAST(w_cnt AS DOUBLE) AS mean7,
          sqrt((CAST(w_sumsq AS DOUBLE) -
            CAST(w_sum AS DOUBLE) * CAST(w_sum AS DOUBLE) /
              CAST(w_cnt AS DOUBLE)) / CAST(w_cnt AS DOUBLE)) AS sd7
        FROM win WHERE w_cnt = $ZscoreWindow)
      SELECT day, n_events, mean7,
        CASE WHEN sd7 > 0.0
          THEN (CAST(n_events AS DOUBLE) - mean7) / sd7 END AS z
      FROM scored ORDER BY day""",
    "dq_seasonality" -> """
      WITH d AS (
        SELECT ((DATE_DIFF('day', DATE '1970-01-05', CAST(ts AS DATE)) % 7)
                + 7) % 7 AS dow, user_id
        FROM events),
      g AS (
        SELECT CAST(dow AS BIGINT) AS dow,
          CAST(COUNT(*) AS BIGINT) AS n_events,
          CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
        FROM d GROUP BY dow),
      tot AS (SELECT CAST(SUM(n_events) AS BIGINT) AS t FROM g)
      SELECT dow, n_events, n_users,
        CAST(n_events AS DOUBLE) / CAST(tot.t AS DOUBLE) AS share
      FROM g, tot ORDER BY dow""",
    "dq_kmv_overlap" -> s"""
      WITH a AS (
        SELECT DISTINCT md5('kmv:' || user_id) AS h FROM events
        ORDER BY h LIMIT $KmvK),
      b AS (
        SELECT DISTINCT md5('kmv:' || c_custkey) AS h FROM customer
        ORDER BY h LIMIT $KmvK),
      u AS (
        SELECT h FROM (SELECT h FROM a UNION SELECT h FROM b)
        ORDER BY h LIMIT $KmvK),
      sa AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_ka, MAX(h) AS kth_a FROM a),
      sb AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_kb, MAX(h) AS kth_b FROM b),
      si AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_inter_sk FROM u
        WHERE h IN (SELECT h FROM a) AND h IN (SELECT h FROM b)),
      su AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_u FROM u),
      ak AS (SELECT DISTINCT user_id AS kk FROM events),
      bk AS (SELECT DISTINCT c_custkey AS kk FROM customer),
      ex AS (
        SELECT
          (SELECT CAST(COUNT(*) AS BIGINT) FROM ak) AS n_a_exact,
          (SELECT CAST(COUNT(*) AS BIGINT) FROM bk) AS n_b_exact,
          (SELECT CAST(COUNT(*) AS BIGINT) FROM ak
           WHERE kk IN (SELECT kk FROM bk)) AS n_inter_exact,
          (SELECT CAST(COUNT(*) AS BIGINT) FROM
            (SELECT kk FROM ak UNION SELECT kk FROM bk)) AS n_union_exact)
      SELECT CAST($KmvK AS BIGINT) AS k,
        n_a_exact, n_b_exact, n_inter_exact,
        CASE WHEN n_ka < $KmvK THEN CAST(n_ka AS DOUBLE)
          ELSE CAST(${(KmvK - 1L) * (1L << 48)} AS DOUBLE)
            / CAST(${hex12("kth_a")} AS DOUBLE) END AS est_a,
        CASE WHEN n_kb < $KmvK THEN CAST(n_kb AS DOUBLE)
          ELSE CAST(${(KmvK - 1L) * (1L << 48)} AS DOUBLE)
            / CAST(${hex12("kth_b")} AS DOUBLE) END AS est_b,
        CAST(n_inter_exact AS DOUBLE) / CAST(n_union_exact AS DOUBLE)
          AS jaccard_exact,
        CAST(n_inter_sk AS DOUBLE) / CAST(n_u AS DOUBLE) AS jaccard_est
      FROM sa, sb, si, su, ex""",
    "dq_null_trend" -> """
      WITH daily AS (
        SELECT CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS x,
          CAST(COUNT(*) AS BIGINT) AS t,
          CAST(SUM(CASE WHEN props IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS y
        FROM events GROUP BY 1),
      ag AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(x) AS BIGINT) AS sx,
          CAST(SUM(y) AS BIGINT) AS sy, CAST(SUM(x * y) AS BIGINT) AS sxy,
          CAST(SUM(x * x) AS BIGINT) AS sxx,
          CAST(SUM(t) AS BIGINT) AS rows_total
        FROM daily)
      SELECT n AS n_days, rows_total, sy AS null_total,
        CAST(n * sxy - sx * sy AS BIGINT) AS slope_num,
        CAST(n * sxx - sx * sx AS BIGINT) AS slope_den,
        CASE WHEN n * sxx - sx * sx <> 0
          THEN CAST(n * sxy - sx * sy AS DOUBLE)
            / CAST(n * sxx - sx * sx AS DOUBLE)
          ELSE CAST(0 AS DOUBLE) END AS slope,
        n * sxy - sx * sy > 0 AS rising
      FROM ag""",
    "dq_skew_report" -> (Seq(
      skewSql("lineitem", "l_partkey", "lineitem.l_partkey"),
      skewSql("lineitem", "l_suppkey", "lineitem.l_suppkey"),
      skewSql("orders", "o_custkey", "orders.o_custkey"),
      skewSql("events", "event_type", "events.event_type"))
      .mkString("", " UNION ALL ", " ORDER BY key_col")),
    "dq_cusum_changepoint" -> """
      WITH e AS (
        SELECT event_type, event_id, ts,
          CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS cents
        FROM events),
      sc AS (
        SELECT event_type, ts,
          CAST(ROW_NUMBER() OVER (PARTITION BY event_type
            ORDER BY ts, event_id) AS BIGINT) AS k,
          SUM(cents) OVER (PARTITION BY event_type ORDER BY ts, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prefix,
          CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT) AS n,
          SUM(cents) OVER (PARTITION BY event_type) AS total
        FROM e),
      st AS (
        SELECT event_type, n, k, ts,
          n * prefix - k * total AS s_scaled,
          abs(n * prefix - k * total) AS abs_s
        FROM sc),
      rk AS (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type
          ORDER BY abs_s DESC, k ASC) AS rk
        FROM st)
      SELECT event_type, n AS n_events, k AS cp_k,
        STRFTIME(ts, '%Y-%m-%d %H:%M:%S') AS cp_ts,
        CAST(s_scaled AS BIGINT) AS s_scaled,
        CAST(abs_s AS BIGINT) AS cusum_max
      FROM rk WHERE rk = 1 ORDER BY event_type""",
    "dq_quantile_sketch" -> s"""
      WITH v AS (
        SELECT CAST(floor(l_extendedprice) AS BIGINT) AS fv
        FROM lineitem WHERE l_extendedprice >= 1.0),
      b AS (
        SELECT
          CAST(rpad(substr(CAST(fv AS VARCHAR), 1, 2),
            CAST(len(CAST(fv AS VARCHAR)) AS INT), '0') AS BIGINT) AS lo,
          CAST(rpad('1',
            CAST(greatest(len(CAST(fv AS VARCHAR)) - 1, 1) AS INT),
            '0') AS BIGINT) AS width,
          CAST(COUNT(*) AS BIGINT) AS cnt
        FROM v GROUP BY 1, 2),
      c AS (
        SELECT lo, width, cnt,
          SUM(cnt) OVER (ORDER BY lo
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        FROM b),
      tt AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n FROM b),
      pq AS (SELECT CAST(unnest([${QsPcts.mkString(", ")}]) AS BIGINT) AS p),
      sel AS (
        SELECT pq.p, tt.n, (pq.p * tt.n + 99) // 100 AS target,
          CAST(MIN(c.lo) AS BIGINT) AS est_lo,
          CAST(arg_min(c.width, c.lo) AS BIGINT) AS w
        FROM pq CROSS JOIN tt
        JOIN c ON c.cum >= (pq.p * tt.n + 99) // 100
        GROUP BY 1, 2, 3)
      SELECT p, n, CAST(target AS BIGINT) AS target_rank, est_lo,
        est_lo + w AS est_hi
      FROM sel ORDER BY p""",
    // the exact half of the HLL check: DuckDB replays exact_distinct
    // and asserts bounds_ok — a sketch regression past HllRelBound
    // flips Spark's boolean and the hashes diverge
    "dq_unique_hll" -> """
      SELECT 'documents.text' AS checked,
        CAST(COUNT(DISTINCT text) AS BIGINT) AS exact_distinct,
        TRUE AS bounds_ok
      FROM documents""",
    "dq_table_stats" -> """
      SELECT 'event_id' AS col_name, CAST(COUNT(*) AS BIGINT) AS n_rows,
        CAST(SUM(CASE WHEN event_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
        CAST(COUNT(DISTINCT event_id) AS BIGINT) AS n_distinct,
        CAST(MIN(event_id) AS DOUBLE) AS min_num,
        CAST(MAX(event_id) AS DOUBLE) AS max_num
      FROM events
      UNION ALL
      SELECT 'user_id', CAST(COUNT(*) AS BIGINT),
        CAST(SUM(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        CAST(COUNT(DISTINCT user_id) AS BIGINT),
        CAST(MIN(user_id) AS DOUBLE), CAST(MAX(user_id) AS DOUBLE)
      FROM events
      UNION ALL
      SELECT 'event_type', CAST(COUNT(*) AS BIGINT),
        CAST(SUM(CASE WHEN event_type IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        CAST(COUNT(DISTINCT event_type) AS BIGINT),
        CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE)
      FROM events
      UNION ALL
      SELECT 'value', CAST(COUNT(*) AS BIGINT),
        CAST(SUM(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        CAST(COUNT(DISTINCT value) AS BIGINT),
        MIN(value), MAX(value)
      FROM events
      ORDER BY col_name""",
    "dq_cross_field" -> """
      SELECT 'l_shipdate >= o_orderdate' AS checked,
        CAST(COUNT(*) AS BIGINT) AS n_rows,
        CAST(SUM(CASE WHEN l.l_shipdate < o.o_orderdate THEN 1 ELSE 0 END) AS BIGINT) AS n_violations,
        SUM(CASE WHEN l.l_shipdate < o.o_orderdate THEN 1 ELSE 0 END) = 0 AS passed
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey""",
    // deciles deliberately via DuckDB's native percentile_disc (the
    // same inclusive-rank definition) — an independent check of the
    // Spark side's distributed prefix-sum cutpoints
    "dq_drift_chi2" -> s"""
      WITH ev AS (
        SELECT epoch_us(ts) AS tus, value FROM events WHERE value IS NOT NULL),
      mm AS (SELECT (MIN(tus) + MAX(tus)) // 2 AS thr FROM ev),
      ref AS (SELECT value FROM ev CROSS JOIN mm WHERE tus < thr),
      cuts AS (
        SELECT ${(1 to 9).map(i =>
          s"percentile_disc(0.$i) WITHIN GROUP (ORDER BY value) AS c$i")
          .mkString(", ")}
        FROM ref),
      b AS (
        SELECT ${(1 to 9).map(i =>
          s"CASE WHEN value > c$i THEN 1 ELSE 0 END").mkString(" + ")} AS bucket,
          tus < thr AS is_ref
        FROM ev CROSS JOIN mm CROSS JOIN cuts),
      cnt AS (
        SELECT bucket,
          CAST(SUM(CASE WHEN is_ref THEN 1 ELSE 0 END) AS BIGINT) AS ref_n,
          CAST(SUM(CASE WHEN is_ref THEN 0 ELSE 1 END) AS BIGINT) AS cur_n
        FROM b GROUP BY bucket),
      tot AS (
        SELECT bucket, ref_n, cur_n,
          CAST(SUM(cur_n) OVER () AS DOUBLE) * ref_n
            / CAST(SUM(ref_n) OVER () AS BIGINT) AS expected
        FROM cnt),
      terms AS (
        SELECT bucket, ref_n, cur_n, expected,
          CASE WHEN expected > 0
            THEN (CAST(cur_n AS DOUBLE) - expected)
               * (CAST(cur_n AS DOUBLE) - expected) / expected
            ELSE 0.0 END AS chi2_term
        FROM tot)
      SELECT CAST(bucket AS BIGINT) AS bucket, ref_n, cur_n, expected,
        chi2_term,
        CAST(SUM(CAST(chi2_term AS DECIMAL(18,6))) OVER (ORDER BY bucket
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS cum_chi2
      FROM terms
      ORDER BY bucket""",
    "dq_benford" -> s"""
      WITH d AS (
        SELECT regexp_extract(CAST(value AS VARCHAR), '[1-9]') AS digit
        FROM events),
      g AS (
        SELECT digit, COUNT(*) AS cnt FROM d WHERE digit <> '' GROUP BY digit),
      t_ AS (
        SELECT digit, cnt, CAST(SUM(cnt) OVER () AS BIGINT) AS total FROM g)
      SELECT digit, cnt,
        CAST(cnt AS DOUBLE) / total AS obs_share,
        $benfordCase AS benford_share,
        abs(CAST(cnt AS DOUBLE) / total - $benfordCase) AS abs_dev,
        abs(CAST(cnt AS DOUBLE) / total - $benfordCase) <= 0.05 AS passed
      FROM t_
      ORDER BY digit""",
    "dq_row_count" -> """
      SELECT 'orders' AS table_name, COUNT(*) AS row_count,
        COUNT(*) >= 100 AS passed
      FROM orders""",
    "dq_null_check" -> """
      SELECT 'events.props' AS checked,
        CAST(SUM(CASE WHEN props IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_count,
        COUNT(*) AS row_count,
        CAST(SUM(CASE WHEN props IS NULL THEN 1 ELSE 0 END) AS DOUBLE) * 100.0 / COUNT(*) AS null_pct,
        (CAST(SUM(CASE WHEN props IS NULL THEN 1 ELSE 0 END) AS DOUBLE) * 100.0 / COUNT(*)) <= 5.0 AS passed
      FROM events""",
    "dq_unique_check" -> """
      SELECT 'orders.o_orderkey' AS checked,
        COUNT(*) AS row_count,
        COUNT(DISTINCT o_orderkey) AS distinct_count,
        COUNT(*) = COUNT(DISTINCT o_orderkey) AS passed
      FROM orders""",
    "dq_range_check" -> """
      SELECT 'lineitem.l_discount' AS checked,
        CAST(SUM(CASE WHEN l_discount < 0.0 OR l_discount > 0.1 THEN 1 ELSE 0 END) AS BIGINT) AS violations,
        COUNT(*) AS row_count,
        CAST(SUM(CASE WHEN l_discount < 0.0 OR l_discount > 0.1 THEN 1 ELSE 0 END) AS BIGINT) = 0 AS passed
      FROM lineitem""",
    "dq_custom_sql" -> """
      SELECT COUNT(*) = 0 AS passed, COUNT(*) AS violation_count
      FROM lineitem
      WHERE l_quantity < 1.0 OR l_quantity > 50.0 OR l_extendedprice <= 0.0""",
    "dq_pattern" -> """
      SELECT 'customer.c_name' AS checked,
        CAST(SUM(CASE WHEN regexp_matches(c_name, '^Customer#[0-9]+$') THEN 1 ELSE 0 END) AS BIGINT) AS matches,
        COUNT(*) AS total,
        CAST(SUM(CASE WHEN regexp_matches(c_name, '^Customer#[0-9]+$') THEN 1 ELSE 0 END) AS BIGINT) = COUNT(*) AS passed
      FROM customer
      WHERE c_name IS NOT NULL""",
    "dq_referential" -> """
      SELECT 'orders.o_custkey->customer' AS checked,
        COUNT(*) AS orphans,
        COUNT(*) = 0 AS passed
      FROM orders
      WHERE o_custkey IS NOT NULL
        AND NOT EXISTS (SELECT 1 FROM customer WHERE c_custkey = o_custkey)""",
    "dq_freshness" -> """
      SELECT 'events.ts' AS checked,
        STRFTIME(MAX(ts), '%Y-%m-%d %H:%M:%S') AS max_ts,
        STRFTIME(MAX(ts), '%Y-%m-%d %H:%M:%S') >= '2024-01-01 00:00:00' AS passed
      FROM events""",
    "dq_anomaly" -> s"""
      WITH c AS (
        SELECT event_id, event_type,
          CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS cents
        FROM events),
      st0 AS (
        SELECT event_type, COUNT(*) AS n,
          CAST(sum(cents) AS BIGINT) AS s,
          CAST(sum(cents * cents) AS BIGINT) AS q
        FROM c GROUP BY event_type),
      st AS (
        -- zero-variance guard, same IEEE expression as the engine: a
        -- constant/single-row group yields z = 0/0 = NaN, which the two
        -- engines order differently — exclude the group in both
        SELECT * FROM st0
        WHERE n > 1
          AND CAST(q AS DOUBLE) / CAST(n AS DOUBLE)
              - (CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
                * (CAST(s AS DOUBLE) / CAST(n AS DOUBLE)) > 0.0)
      SELECT event_id, c.event_type, cents,
        (CAST(cents AS DOUBLE) - CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
          / sqrt(CAST(q AS DOUBLE) / CAST(n AS DOUBLE)
                 - (CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
                   * (CAST(s AS DOUBLE) / CAST(n AS DOUBLE))) AS z
      FROM c JOIN st ON c.event_type = st.event_type
      WHERE abs((CAST(cents AS DOUBLE) - CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
          / sqrt(CAST(q AS DOUBLE) / CAST(n AS DOUBLE)
                 - (CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
                   * (CAST(s AS DOUBLE) / CAST(n AS DOUBLE)))) > $AnomalyZ
      ORDER BY event_id""",
    "dq_outlier_mad" -> s"""
      WITH li AS (
        SELECT l_returnflag AS flag, l_extendedprice AS x FROM lineitem),
      med AS (
        SELECT flag, percentile_disc(0.5) WITHIN GROUP (ORDER BY x) AS med
        FROM li GROUP BY flag),
      mad AS (
        SELECT li.flag, med,
          percentile_disc(0.5) WITHIN GROUP (ORDER BY abs(x - med)) AS mad,
          COUNT(*) AS n_rows
        FROM li JOIN med ON li.flag = med.flag
        GROUP BY li.flag, med)
      SELECT li.flag, med, mad,
        CAST(SUM(CASE WHEN abs(x - med) > $MadK * mad THEN 1 ELSE 0 END) AS BIGINT)
          AS n_outliers,
        CAST(n_rows AS BIGINT) AS n_rows
      FROM li JOIN mad ON li.flag = mad.flag
      GROUP BY li.flag, med, mad, n_rows
      ORDER BY li.flag""",
    "dq_completeness" -> """
      WITH a AS (
        SELECT COUNT(*) AS n,
          CAST(SUM(CASE WHEN props IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS np,
          CAST(SUM(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nu,
          CAST(SUM(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nv,
          CAST(SUM(CASE WHEN event_type IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS ne
        FROM events),
      rows_ AS (
        SELECT 'props' AS col_name, np AS nulls, n FROM a
        UNION ALL SELECT 'user_id', nu, n FROM a
        UNION ALL SELECT 'value', nv, n FROM a
        UNION ALL SELECT 'event_type', ne, n FROM a)
      SELECT col_name, nulls, n AS n_rows,
        CAST(nulls AS DOUBLE) * 100.0 / n AS null_pct,
        (CAST(nulls AS DOUBLE) * 100.0 / n) <= 5.0 AS passed
      FROM rows_
      ORDER BY col_name""",
    "dq_distribution" -> """
      SELECT 'events.event_type=click' AS checked,
        CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS hits,
        COUNT(*) AS total,
        CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) AS share,
        CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) BETWEEN 0.05 AND 0.5 AS passed
      FROM events""")
}
