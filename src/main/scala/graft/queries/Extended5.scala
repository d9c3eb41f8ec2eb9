package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables.t

/** Fifth extension block of the SQL-pass-through surface (SURVEY.md
  * §2.B): the interval/temporal join family Spark has no dedicated
  * operator for — a global (no equi-key) range join via band
  * bucketing, and the forward-with-tolerance member of the as-of
  * family (backward as-of is q25). Same determinism conventions as
  * [[Relational]].
  */
object Extended5 {

  /** Band width for q63: pairs within 10 seconds. */
  private val BandUs = 10000000L

  /** Tolerance for q64: next purchase within 1 hour. */
  private val TolUs = 3600000000L

  /** q63: global range join — all pairs of events from DIFFERENT users
    * within 10 s of each other. There is no equi key, so the naive plan
    * is a cartesian product with a band predicate (O(n²) — dead at any
    * scale). The scale shape is band bucketing: quantize time into
    * W-sized buckets, replicate the smaller-id probe side into its
    * bucket ±1 (3× — a pair at most W apart spans at most adjacent
    * buckets), equi-join on the bucket, then apply the exact band
    * predicate. Each qualifying pair matches EXACTLY once (the build
    * side keeps its single home bucket), so no dedup pass is needed.
    *
    * At 100 TB: the shuffle is an ordinary hash join on the bucket key;
    * candidates per bucket are bounded by (event density × W), W tunes
    * replication vs candidate count, and a hot second (skewed bucket)
    * is split by AQE's skew-join handling — never a cartesian. Gap is
    * integer microseconds (both engines floor ns → µs), so the output
    * is hash-exact.
    */
  def q63RangeJoin(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    rangeJoinBucketed(
      t(s, dir, "events")
        .select($"event_id", $"user_id", unix_micros($"ts").as("tus")),
      BandUs)
  }

  /** The band-bucketed kernel over any (event_id, user_id, tus) frame —
    * exposed so the property spec can drive it with adversarial
    * boundary-straddling timestamps.
    */
  def rangeJoinBucketed(evIn: DataFrame, bandUs: Long): DataFrame = {
    val s = evIn.sparkSession
    import s.implicits._
    val ev = evIn.withColumn("bucket", expr(s"tus DIV $bandUs"))
    val probe = ev
      .select($"event_id".as("id_a"), $"user_id".as("user_a"),
        $"tus".as("tus_a"),
        explode(array($"bucket" - 1, $"bucket", $"bucket" + 1)).as("pb"))
    val build = ev
      .select($"event_id".as("id_b"), $"user_id".as("user_b"),
        $"tus".as("tus_b"), $"bucket")
    probe.join(build,
        $"pb" === $"bucket" && $"id_a" < $"id_b" &&
          $"user_a" =!= $"user_b" &&
          abs($"tus_a" - $"tus_b") <= bandUs)
      .select($"id_a", $"id_b", $"user_a", $"user_b",
        abs($"tus_a" - $"tus_b").as("gap_us"))
      .orderBy("id_a", "id_b")
  }

  /** q64: forward as-of join with tolerance — for every 'view' event,
    * the user's NEXT 'purchase' at-or-after it, but only within 1 hour
    * (else no match). Backward as-of is q25; forward-with-tolerance
    * completes the family (pandas merge_asof direction='forward').
    *
    * Same union-then-window shape as q25 — no join at all: tag both
    * streams, sort per user by (time, tag, id) with purchases after
    * views at equal timestamps (inclusive >=), and take
    * first(ignoreNulls) over the forward frame; one shuffle on
    * user_id total, so it scales as a single window, not a per-row
    * probe. The tolerance is applied afterwards as a filter on the
    * matched timestamp. Ties (several purchases in the same
    * microsecond) resolve to the lowest event_id — a total order, so
    * the result is deterministic and hash-comparable against DuckDB's
    * LATERAL form. NULL match is encoded as -1 on both engines (the
    * driver compare is happier with non-null integer columns).
    */
  def q64ForwardAsof(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = t(s, dir, "events")
      .filter($"event_type".isin("view", "purchase"))
      .select($"event_id", $"user_id", unix_micros($"ts").as("tus"),
        date_format($"ts", "yyyy-MM-dd HH:mm:ss").as("view_time"),
        $"event_type")
    val views = ev.filter($"event_type" === "view")
      .select($"event_id", $"user_id", $"tus", $"view_time",
        lit(null).cast("struct<pt:bigint,pid:bigint>").as("p"),
        lit(0).as("tag"))
    val purchases = ev.filter($"event_type" === "purchase")
      .select(lit(null).cast("long").as("event_id"), $"user_id", $"tus",
        lit(null).cast("string").as("view_time"),
        struct($"tus".as("pt"), $"event_id".as("pid")).as("p"),
        lit(1).as("tag"))
    val w = Window.partitionBy($"user_id")
      .orderBy($"tus".asc, $"tag".asc, $"p.pid".asc_nulls_first)
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    views.unionByName(purchases)
      .withColumn("m", first($"p", ignoreNulls = true).over(w))
      .filter($"tag" === 0)
      .withColumn("ok", $"m".isNotNull && $"m.pt" - $"tus" <= TolUs)
      .select($"event_id".as("view_id"), $"user_id", $"view_time",
        when($"ok", $"m.pid").otherwise(-1L).as("purchase_id"),
        when($"ok", $"m.pt" - $"tus").otherwise(-1L).as("gap_us"))
      .orderBy("view_id")
  }

  /** q65: gaps-and-islands — each user's LONGEST run of consecutive
    * active days. The classic island trick: distinct (user, day),
    * then day_number − row_number() is constant within a consecutive
    * run, so one groupBy collapses each island and a per-user window
    * picks the longest (ties to the earliest start — total order).
    *
    * Scale shape: the distinct and both windows all partition by
    * user_id — one shuffle key end to end, no self-join (the naive
    * formulation is a per-row "previous day" self-join). Day
    * arithmetic is integer (days since epoch), so engine-exact.
    */
  def q65GapsIslands(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val days = t(s, dir, "events")
      .select($"user_id", to_date($"ts").as("d")).distinct()
    val w = Window.partitionBy($"user_id").orderBy($"d")
    val st = days
      .withColumn("grp",
        datediff($"d", lit("1970-01-01").cast("date")) - row_number().over(w))
      .groupBy($"user_id", $"grp")
      .agg(count(lit(1)).as("streak_days"),
        min($"d").as("start_day"), max($"d").as("end_day"))
    val wr = Window.partitionBy($"user_id")
      .orderBy($"streak_days".desc, $"start_day".asc)
    st.withColumn("rk", row_number().over(wr)).filter($"rk" === 1)
      .select($"user_id", $"streak_days", $"start_day", $"end_day")
      .orderBy("user_id")
  }

  /** q66: exact equi-depth (decile) histogram of a measure — the
    * boundary statistic behind range-partition planning, skew
    * detection, and bucketed sampling. Cutpoint q is the smallest data
    * value whose cumulative count clears rank q·n/10 — the
    * percentile_disc definition (cdf(x) ≥ q/10) with the division
    * cleared to pure integers (10·cum ≥ q·n), so there is no float
    * boundary hazard on either engine and both replay it identically.
    *
    * Scale shape: a monolithic percentile aggregate buffers the whole
    * column in ONE reducer per percentile (the first cut of this query
    * cost 18 s at sf0.1 — 9 aggregates × 600 k buffered doubles); here
    * the cutpoints are [[graft.ops.Scale.rankCutpointsN]] (den = 10),
    * and each row's bucket is a sum of nine comparisons against them.
    * At 100 TB swap the exact cutpoints for approx_percentile if the
    * (value, count) table itself is too hot — the bucket pass is
    * unchanged; that swap is the only scale knob.
    */
  def q66EquidepthHist(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val li = t(s, dir, "lineitem").select($"l_extendedprice".as("x"))
    val bucket = graft.ops.Scale.rankScaleToBits($"x",
      graft.ops.Scale.rankCutpointsN(li, $"x", 10))
    li.select($"x", bucket.as("bucket"))
      .groupBy($"bucket")
      .agg(count(lit(1)).as("n"), min($"x").as("lo"), max($"x").as("hi"))
      .select($"bucket".cast("long").as("bucket"), $"n", $"lo", $"hi")
      .orderBy("bucket")
  }

  /** q67: first-order Markov transition matrix over per-user event
    * sequences — which event type follows which, with conditional
    * probabilities. The sequence order is (ts, event_id) per user (a
    * total order, so lead() is deterministic); transitions count per
    * (from, to) pair and P(to|from) is one IEEE division of exact
    * longs, replayed identically by the oracle.
    *
    * Scale shape: ONE shuffle on user_id for the lead window (the
    * sessionize/as-of pattern — per-user sequences are the parallel
    * unit), then the grouped count collapses to |types|² rows with
    * map-side partials; the share window runs over that tiny grouped
    * table, not the corpus.
    */
  def q67Transitions(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = t(s, dir, "events")
      .select($"user_id", $"event_id", $"event_type",
        unix_micros($"ts").as("tus"))
    val w = Window.partitionBy($"user_id")
      .orderBy($"tus".asc, $"event_id".asc)
    val wt = Window.partitionBy($"from_type")
    ev.withColumn("to_type", lead($"event_type", 1).over(w))
      .filter($"to_type".isNotNull)
      .groupBy($"event_type".as("from_type"), $"to_type")
      .agg(count(lit(1)).as("n"))
      .withColumn("p", $"n".cast("double") / sum($"n").over(wt))
      .select($"from_type", $"to_type", $"n", $"p")
      .orderBy("from_type", "to_type")
  }

  /** q68: top-10 three-step event paths — the n-gram generalization of
    * q67's transition matrix (funnel discovery: which 3-step journeys
    * actually happen). Two leads over the same per-user (ts, event_id)
    * window — ONE shuffle on user_id total; the grouped path counts are
    * |types|³-bounded and the global top-10 is a TakeOrderedAndProject
    * heap with the full path as tiebreak (a total order, so the cut is
    * deterministic).
    */
  def q68PathTopk(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"user_id")
      .orderBy($"tus".asc, $"event_id".asc)
    t(s, dir, "events")
      .select($"user_id", $"event_id", $"event_type",
        unix_micros($"ts").as("tus"))
      .withColumn("t2", lead($"event_type", 1).over(w))
      .withColumn("t3", lead($"event_type", 2).over(w))
      .filter($"t2".isNotNull && $"t3".isNotNull)
      .groupBy($"event_type".as("s1"), $"t2".as("s2"), $"t3".as("s3"))
      .agg(count(lit(1)).as("n"))
      .orderBy($"n".desc, $"s1".asc, $"s2".asc, $"s3".asc)
      .limit(10)
  }

  /** q69: ROLLING DISTINCT COUNT — per (user, day), the distinct event
    * types seen in the trailing 7-day window. SQL engines write
    * `COUNT(DISTINCT x) OVER (RANGE 6 PRECEDING)`; Spark has no
    * distinct window aggregate, so the emulation is
    * `size(collect_set(x))` over a numeric RANGE frame on the day
    * ordinal — set state is bounded by the type cardinality (small by
    * definition for a distinct-count-of-categories query), the frame
    * bounds state to 7 days of rows per user, and the resulting size
    * is an exact integer regardless of collect order. One shuffle on
    * user_id shared by the dedup and the window (the q5/q17 pattern).
    * The oracle deliberately takes the self-join formulation — an
    * INDEPENDENT derivation of the same counts.
    */
  def q69RollingDistinct(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = t(s, dir, "events")
      .filter($"user_id".isNotNull)
      .select($"user_id", to_date($"ts").as("day"), $"event_type")
      .distinct()
    val w = Window.partitionBy($"user_id").orderBy($"dayNum")
      .rangeBetween(-6L, 0L)
    ev.withColumn("dayNum",
        datediff($"day", lit("2024-01-01").cast("date")).cast("long"))
      .withColumn("n7", size(collect_set($"event_type").over(w)).cast("long"))
      .groupBy($"user_id", $"day")
      .agg(count(lit(1)).as("n_types_today"), max($"n7").as("n_types_7d"))
      .orderBy("user_id", "day")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q69_rolling_distinct" -> q69RollingDistinct,
    "q63_range_join" -> q63RangeJoin,
    "q64_forward_asof" -> q64ForwardAsof,
    "q65_gaps_islands" -> q65GapsIslands,
    "q66_equidepth_hist" -> q66EquidepthHist,
    "q67_transitions" -> q67Transitions,
    "q68_path_topk" -> q68PathTopk)

  val oracles: Map[String, String] = Map(
    "q69_rolling_distinct" -> """
      WITH ev AS (
        SELECT DISTINCT user_id, CAST(ts AS DATE) AS day, event_type
        FROM events WHERE user_id IS NOT NULL),
      days AS (SELECT DISTINCT user_id, day FROM ev),
      rolled AS (
        SELECT d.user_id, d.day,
          CAST(COUNT(DISTINCT e.event_type) AS BIGINT) AS n_types_7d
        FROM days d
        JOIN ev e ON e.user_id = d.user_id
          AND e.day BETWEEN d.day - 6 AND d.day
        GROUP BY 1, 2),
      today AS (
        SELECT user_id, day, CAST(COUNT(*) AS BIGINT) AS n_types_today
        FROM ev GROUP BY 1, 2)
      SELECT t.user_id, t.day, t.n_types_today, r.n_types_7d
      FROM today t
      JOIN rolled r ON t.user_id = r.user_id AND t.day = r.day
      ORDER BY t.user_id, t.day""",
    "q63_range_join" -> s"""
      SELECT a.event_id AS id_a, b.event_id AS id_b,
        a.user_id AS user_a, b.user_id AS user_b,
        CAST(abs(epoch_us(a.ts) - epoch_us(b.ts)) AS BIGINT) AS gap_us
      FROM events a JOIN events b
        ON a.event_id < b.event_id AND a.user_id <> b.user_id
       AND abs(epoch_us(a.ts) - epoch_us(b.ts)) <= $BandUs
      ORDER BY id_a, id_b""",
    "q64_forward_asof" -> s"""
      SELECT v.event_id AS view_id, v.user_id,
        STRFTIME(v.ts, '%Y-%m-%d %H:%M:%S') AS view_time,
        coalesce(p.pid, -1) AS purchase_id,
        coalesce(p.pt - epoch_us(v.ts), -1) AS gap_us
      FROM events v LEFT JOIN LATERAL (
        SELECT event_id AS pid, epoch_us(ts) AS pt
        FROM events
        WHERE user_id = v.user_id AND event_type = 'purchase'
          AND epoch_us(ts) >= epoch_us(v.ts)
          AND epoch_us(ts) <= epoch_us(v.ts) + $TolUs
        ORDER BY epoch_us(ts), event_id LIMIT 1) p ON TRUE
      WHERE v.event_type = 'view'
      ORDER BY view_id""",
    "q65_gaps_islands" -> """
      WITH days AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events),
      isl AS (
        SELECT user_id, d,
          date_diff('day', DATE '1970-01-01', d)
            - ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY d) AS grp
        FROM days),
      st AS (
        SELECT user_id, COUNT(*) AS streak_days,
          MIN(d) AS start_day, MAX(d) AS end_day
        FROM isl GROUP BY user_id, grp),
      rk AS (
        SELECT *, ROW_NUMBER() OVER (
          PARTITION BY user_id ORDER BY streak_days DESC, start_day ASC) AS rk
        FROM st)
      SELECT user_id, CAST(streak_days AS BIGINT) AS streak_days,
        start_day, end_day
      FROM rk WHERE rk = 1 ORDER BY user_id""",
    // deliberately NOT the Spark plan's formula: DuckDB's native
    // percentile_disc is the same inclusive-rank definition
    // (min x with cum >= ceil(q*n/10), probed exact at the
    // float-hazard boundaries), so this is an INDEPENDENT check of the
    // distributed prefix-sum cutpoints
    "q66_equidepth_hist" -> ("""
      WITH cuts AS (
        SELECT """ + (1 to 9).map(i =>
          s"percentile_disc(0.$i) WITHIN GROUP (ORDER BY l_extendedprice) AS c$i")
          .mkString(", ") + """
        FROM lineitem),
      b AS (
        SELECT """ + (1 to 9).map(i =>
          s"CASE WHEN l_extendedprice > c$i THEN 1 ELSE 0 END")
          .mkString(" + ") + """ AS bucket, l_extendedprice AS x
        FROM lineitem CROSS JOIN cuts)
      SELECT CAST(bucket AS BIGINT) AS bucket,
        CAST(COUNT(*) AS BIGINT) AS n, MIN(x) AS lo, MAX(x) AS hi
      FROM b GROUP BY bucket ORDER BY bucket"""),
    "q67_transitions" -> """
      WITH seq AS (
        SELECT event_type AS from_type,
          lead(event_type, 1) OVER (PARTITION BY user_id
            ORDER BY epoch_us(ts) ASC, event_id ASC) AS to_type
        FROM events),
      cnt AS (
        SELECT from_type, to_type, CAST(COUNT(*) AS BIGINT) AS n
        FROM seq WHERE to_type IS NOT NULL
        GROUP BY from_type, to_type)
      SELECT from_type, to_type, n,
        CAST(n AS DOUBLE) / CAST(SUM(n) OVER (PARTITION BY from_type) AS BIGINT) AS p
      FROM cnt
      ORDER BY from_type, to_type""",
    "q68_path_topk" -> """
      WITH seq AS (
        SELECT event_type AS s1,
          lead(event_type, 1) OVER w AS s2,
          lead(event_type, 2) OVER w AS s3
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts) ASC, event_id ASC))
      SELECT s1, s2, s3, CAST(COUNT(*) AS BIGINT) AS n
      FROM seq WHERE s2 IS NOT NULL AND s3 IS NOT NULL
      GROUP BY s1, s2, s3
      ORDER BY n DESC, s1 ASC, s2 ASC, s3 ASC
      LIMIT 10"""
  )
}
