package graft.ops

import graft.{QueryDef, Tables}
import graft.Dsl._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Window functions + sort/limit/top-k (SURVEY.md §2.6–§2.7).
  *
  * Determinism: every window ORDER BY carries a unique tiebreaker column
  * (rule D1 applies inside frames too — ntile/row_number/first_value are
  * row-order-dependent), and every frame is spelled out explicitly because
  * default frames differ per function. Frame sums go through DECIMAL
  * (rule D2) and outputs are pinned (rule D9).
  *
  * Scale: partition keys are chosen with bounded partition sizes
  * (custkey ~10 orders, nationkey ~1/25 of customers, brand ~1/25 of
  * parts) so WindowExec's per-partition sort never sees a giant
  * partition; the exchange hashes on the partition key exactly like a
  * groupBy shuffle. Global sorts (q_sort_nulls, q_limit_offset) use
  * Spark's range partitioning — a sampled range exchange, not a
  * single-node sort, so they survive a 100× scale-up.
  */
object Windows {

  // ---------------------------------------------------------------- §2.6

  private val winRank = QueryDef(
    "q_win_rank",
    (s, d) => {
      val w = Window.partitionBy(col("c_nationkey"))
        .orderBy(descl("c_acctbal"), ascf("c_custkey"))
      Tables.customer(s, d)
        .select(col("c_nationkey"), col("c_custkey"), col("c_acctbal"),
          // ranking fns are INT in Spark, BIGINT in DuckDB — pin to BIGINT
          row_number().over(w).cast("bigint").as("rn"),
          rank().over(w).cast("bigint").as("rnk"),
          dense_rank().over(w).cast("bigint").as("drnk"))
        .orderBy(ascf("c_nationkey"), ascf("rn"))
    },
    Some("""SELECT c_nationkey, c_custkey, c_acctbal,
           |  row_number() OVER w AS rn,
           |  rank() OVER w AS rnk,
           |  dense_rank() OVER w AS drnk
           |FROM customer
           |WINDOW w AS (PARTITION BY c_nationkey
           |             ORDER BY c_acctbal DESC NULLS LAST, c_custkey ASC NULLS FIRST)
           |ORDER BY c_nationkey ASC NULLS FIRST, rn ASC NULLS FIRST""".stripMargin))

  private val winRunning = QueryDef(
    "q_win_running",
    (s, d) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(ascf("o_orderdate"), ascf("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.orders(s, d)
        .select(col("o_custkey"), col("o_orderkey"),
          epochUs(col("o_orderdate")).as("o_date_us"),
          pinDouble(sum(dec(col("o_totalprice"))).over(w)).as("running_spend"))
        .orderBy(ascf("o_custkey"), ascf("o_orderkey"))
    },
    Some("""SELECT o_custkey, o_orderkey, epoch_us(o_orderdate) AS o_date_us,
           |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
           |    PARTITION BY o_custkey
           |    ORDER BY o_orderdate ASC NULLS FIRST, o_orderkey ASC NULLS FIRST
           |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           |    AS DOUBLE) AS running_spend
           |FROM orders
           |ORDER BY o_custkey ASC NULLS FIRST, o_orderkey ASC NULLS FIRST""".stripMargin))

  private val winLeadLag = QueryDef(
    "q_win_lead_lag",
    (s, d) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(ascf("o_orderdate"), ascf("o_orderkey"))
      Tables.orders(s, d)
        .withColumn("ts_us", epochUs(col("o_orderdate")))
        .select(col("o_custkey"), col("o_orderkey"), col("ts_us"),
          lag(col("ts_us"), 1).over(w).as("prev_us"),
          lead(col("ts_us"), 1).over(w).as("next_us"),
          (col("ts_us") - lag(col("ts_us"), 1).over(w)).as("gap_us"))
        .orderBy(ascf("o_custkey"), ascf("o_orderkey"))
    },
    Some("""SELECT o_custkey, o_orderkey, ts_us,
           |  lag(ts_us, 1) OVER w AS prev_us,
           |  lead(ts_us, 1) OVER w AS next_us,
           |  ts_us - lag(ts_us, 1) OVER w AS gap_us
           |FROM (SELECT o_custkey, o_orderkey, o_orderdate,
           |             epoch_us(o_orderdate) AS ts_us FROM orders)
           |WINDOW w AS (PARTITION BY o_custkey
           |             ORDER BY o_orderdate ASC NULLS FIRST, o_orderkey ASC NULLS FIRST)
           |ORDER BY o_custkey ASC NULLS FIRST, o_orderkey ASC NULLS FIRST""".stripMargin))

  /** RANGE frame needs a single numeric sort key; o_totalprice is an exact
    * 2-dp value, so round(x*100) → BIGINT cents is exact on both engines
    * (plain CAST would diverge: Spark truncates double→bigint, DuckDB
    * rounds). The ±1000.00 frame is value-based, so rows with equal cents
    * share a frame and the result is order-independent per row.
    */
  private val winRangeFrame = QueryDef(
    "q_win_range_frame",
    (s, d) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("cents"))
        .rangeBetween(-100000L, 100000L)
      Tables.orders(s, d)
        .withColumn("cents", round(col("o_totalprice") * 100, 0).cast("bigint"))
        .select(col("o_custkey"), col("o_orderkey"), col("cents"),
          count(lit(1)).over(w).as("near_cnt"),
          pinDouble(sum(dec(col("o_totalprice"))).over(w)).as("near_sum"))
        .orderBy(ascf("o_custkey"), ascf("o_orderkey"))
    },
    Some("""SELECT o_custkey, o_orderkey, cents,
           |  count(*) OVER w AS near_cnt,
           |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER w AS DOUBLE) AS near_sum
           |FROM (SELECT *, CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents FROM orders)
           |WINDOW w AS (PARTITION BY o_custkey ORDER BY cents ASC
           |             RANGE BETWEEN 100000 PRECEDING AND 100000 FOLLOWING)
           |ORDER BY o_custkey ASC NULLS FIRST, o_orderkey ASC NULLS FIRST""".stripMargin))

  private val winNtilePct = QueryDef(
    "q_win_ntile_pct",
    (s, d) => {
      val w = Window.partitionBy(col("c_nationkey"))
        .orderBy(ascf("c_acctbal"), ascf("c_custkey"))
      Tables.customer(s, d)
        .select(col("c_nationkey"), col("c_custkey"),
          ntile(4).over(w).cast("bigint").as("quartile"),
          round(percent_rank().over(w), 6).as("pct_rank"),
          round(cume_dist().over(w), 6).as("cume"))
        .orderBy(ascf("c_nationkey"), ascf("c_custkey"))
    },
    // rank ratios k/n can land EXACTLY on a decimal rounding tie (e.g.
    // 333/640 = 0.5203125) where Spark's round — which rounds the
    // shortest decimal string — goes up, but DuckDB rounds the binary
    // double (just below the tie) down. The DECIMAL(18,12) intermediate
    // recovers the intended short decimal before the 6-digit round,
    // reproducing Spark's semantics (caught by the sf0.1 parity sweep).
    Some("""SELECT c_nationkey, c_custkey,
           |  ntile(4) OVER w AS quartile,
           |  round(CAST(percent_rank() OVER w AS DECIMAL(18,12)), 6) + 0.0 AS pct_rank,
           |  round(CAST(cume_dist() OVER w AS DECIMAL(18,12)), 6) + 0.0 AS cume
           |FROM customer
           |WINDOW w AS (PARTITION BY c_nationkey
           |             ORDER BY c_acctbal ASC NULLS FIRST, c_custkey ASC NULLS FIRST)
           |ORDER BY c_nationkey ASC NULLS FIRST, c_custkey ASC NULLS FIRST""".stripMargin))

  /** first/last/nth need the full-partition frame pinned explicitly —
    * the default frame (unbounded-preceding..current-row) silently makes
    * last_value = current row.
    */
  private val winFirstLast = QueryDef(
    "q_win_first_last",
    (s, d) => {
      val w = Window.partitionBy(col("c_nationkey"))
        .orderBy(descl("c_acctbal"), ascf("c_custkey"))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      Tables.customer(s, d)
        .select(col("c_nationkey"), col("c_custkey"),
          first(col("c_custkey")).over(w).as("richest"),
          last(col("c_custkey")).over(w).as("poorest"),
          nth_value(col("c_custkey"), 3).over(w).as("third"))
        .orderBy(ascf("c_nationkey"), ascf("c_custkey"))
    },
    Some("""SELECT c_nationkey, c_custkey,
           |  first_value(c_custkey) OVER w AS richest,
           |  last_value(c_custkey) OVER w AS poorest,
           |  nth_value(c_custkey, 3) OVER w AS third
           |FROM customer
           |WINDOW w AS (PARTITION BY c_nationkey
           |             ORDER BY c_acctbal DESC NULLS LAST, c_custkey ASC NULLS FIRST
           |             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
           |ORDER BY c_nationkey ASC NULLS FIRST, c_custkey ASC NULLS FIRST""".stripMargin))

  // ---------------------------------------------------------------- §2.7

  /** D1 showcase: Spark ASC defaults to NULLS FIRST, DuckDB to NULLS LAST —
    * every sort key spells out its null placement on both sides.
    */
  private val sortNulls = QueryDef(
    "q_sort_nulls",
    (s, d) =>
      Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_linenumber"),
          nullif(col("l_tax"), lit(0.0)).as("tax_n"))
        .orderBy(descl("tax_n"), ascf("l_orderkey"), ascf("l_linenumber")),
    Some("""SELECT l_orderkey, l_linenumber, nullif(l_tax, 0.0) AS tax_n
           |FROM lineitem
           |ORDER BY tax_n DESC NULLS LAST, l_orderkey ASC NULLS FIRST,
           |  l_linenumber ASC NULLS FIRST""".stripMargin))

  private val limitOffset = QueryDef(
    "q_limit_offset",
    (s, d) =>
      Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
        .orderBy(ascf("o_orderkey"))
        .offset(100)
        .limit(50),
    Some("""SELECT o_orderkey, o_custkey, o_totalprice
           |FROM orders
           |ORDER BY o_orderkey ASC NULLS FIRST
           |LIMIT 50 OFFSET 100""".stripMargin))

  /** Top-k per group via row_number — the scalable top-k idiom: the rank
    * filter cuts each partition to k rows before any global collection
    * (vs a global sort + per-group limit, which would shuffle everything).
    */
  private val topkGroup = QueryDef(
    "q_topk_group",
    (s, d) => {
      val w = Window.partitionBy(col("p_brand"))
        .orderBy(descl("p_retailprice"), ascf("p_partkey"))
      Tables.part(s, d)
        .select(col("p_brand"), col("p_partkey"), col("p_retailprice"),
          row_number().over(w).cast("bigint").as("rn"))
        .filter(col("rn") <= 3)
        .orderBy(ascf("p_brand"), ascf("rn"))
    },
    Some("""SELECT p_brand, p_partkey, p_retailprice, rn FROM (
           |  SELECT p_brand, p_partkey, p_retailprice,
           |    row_number() OVER (PARTITION BY p_brand
           |      ORDER BY p_retailprice DESC NULLS LAST, p_partkey ASC NULLS FIRST) AS rn
           |  FROM part)
           |WHERE rn <= 3
           |ORDER BY p_brand ASC NULLS FIRST, rn ASC NULLS FIRST""".stripMargin))

  /** Batch sessionization over events (r5): the window-function twin of
    * q_stream_session — a session closes after a 30-minute inactivity
    * gap. lag + a running sum of session-start flags assigns the session
    * index in ONE window pass (no iterative state), then two grouped
    * aggregations produce the per-user session census. All time math is
    * exact epoch-µs int64 (rule D5). Scale: everything is partitioned by
    * user_id — the same hash shuffle as a groupBy, per-user event counts
    * bounded — the standard distributed sessionization shape at 100 TB.
    */
  private val winSessionize = QueryDef(
    "q_win_sessionize",
    (s, d) => {
      val gapUs = 1800000000L
      val w = Window.partitionBy(col("user_id"))
        .orderBy(ascf("e"), ascf("event_id"))
      val sess = Tables.events(s, d)
        .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("e"))
        .withColumn("prev", lag(col("e"), 1).over(w))
        .withColumn("new_s",
          when(col("prev").isNull || col("e") - col("prev") > gapUs, 1L)
            .otherwise(0L))
        .withColumn("sid",
          sum(col("new_s")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
      sess.groupBy(col("user_id"), col("sid"))
        .agg(count(lit(1)).as("ne"),
          (max(col("e")) - min(col("e"))).as("span"))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_sessions"),
          sum(col("ne")).as("n_events"),
          max(col("ne")).as("max_session_events"),
          sum(col("span")).as("sum_span_us"))
        .orderBy(ascf("user_id"))
    },
    Some("""WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS e FROM events),
           |l AS (SELECT *, lag(e) OVER (PARTITION BY user_id
           |    ORDER BY e ASC, event_id ASC) AS prev FROM e),
           |f AS (SELECT *, CASE WHEN prev IS NULL OR e - prev > 1800000000
           |    THEN 1 ELSE 0 END AS new_s FROM l),
           |s AS (SELECT *, sum(new_s) OVER (PARTITION BY user_id
           |    ORDER BY e ASC, event_id ASC ROWS UNBOUNDED PRECEDING) AS sid
           |  FROM f),
           |g AS (SELECT user_id, sid, count(*) AS ne, max(e) - min(e) AS span
           |  FROM s GROUP BY user_id, sid)
           |SELECT user_id, count(*) AS n_sessions,
           |  CAST(sum(ne) AS BIGINT) AS n_events,
           |  CAST(max(ne) AS BIGINT) AS max_session_events,
           |  CAST(sum(span) AS BIGINT) AS sum_span_us
           |FROM g GROUP BY user_id ORDER BY user_id ASC NULLS FIRST""".stripMargin))

  /** Gaps-and-islands longest activity streak (round 5): each user's
    * longest run of CONSECUTIVE active days, via the classic
    * day − row_number island key (consecutive days share the key, any
    * gap starts a new island), rolled up to a streak-length census —
    * the engagement metric behind "N-day streak" features, and the one
    * canonical SQL window pattern the surface was missing.
    *
    * Scale: distinct to the activity grain first (the window sorts
    * activity rows, never raw events); one window pass per user; the
    * census is streak-grain. Determinism: (user, day) is unique after
    * the distinct so row_number's order is total; ties for a user's
    * best streak break toward the EARLIEST start (rank orders by
    * len desc, start asc).
    */
  private val winStreak = QueryDef(
    "q_win_streak",
    (s, d) => {
      val act = graft.Tables.events(s, d)
        .select(col("user_id"),
          floorDiv(unix_micros(col("ts")), 86400000000L).as("day"))
        .distinct()
      val wU = Window.partitionBy(col("user_id")).orderBy(ascf("day"))
      val islands = act
        .withColumn("grp", col("day") - row_number().over(wU))
        .groupBy(col("user_id"), col("grp"))
        .agg(count(lit(1)).as("len"), min(col("day")).as("start"))
      val wBest = Window.partitionBy(col("user_id"))
        .orderBy(descl("len"), ascf("start"))
      val best = islands.withColumn("rn", row_number().over(wBest))
        .filter(col("rn") === 1)
      best.groupBy(col("len").as("streak_len"))
        .agg(count(lit(1)).as("n_users"),
          sum(col("user_id")).as("uid_checksum"))
        .orderBy(ascf("streak_len"))
    },
    Some("""WITH a AS (SELECT DISTINCT user_id,
           |    epoch_us(ts) // 86400000000 AS day FROM events),
           |i AS (SELECT user_id, day,
           |    day - row_number() OVER (PARTITION BY user_id
           |      ORDER BY day ASC) AS grp
           |  FROM a),
           |st AS (SELECT user_id, grp, count(*) AS len,
           |    min(day) AS start
           |  FROM i GROUP BY user_id, grp),
           |b AS (SELECT user_id, len,
           |    row_number() OVER (PARTITION BY user_id
           |      ORDER BY len DESC, start ASC) AS rn
           |  FROM st)
           |SELECT len AS streak_len, count(*) AS n_users,
           |  CAST(sum(user_id) AS BIGINT) AS uid_checksum
           |FROM b WHERE rn = 1
           |GROUP BY len
           |ORDER BY streak_len ASC NULLS FIRST""".stripMargin))

  /** Ordered sequence-pattern detection (round 6): for every purchase,
    * did the user's history contain a click STRICTLY BEFORE a view
    * STRICTLY BEFORE it — the MATCH_RECOGNIZE / funnel-with-ordering
    * shape (SQL-standard row-pattern matching, which Spark lacks as an
    * operator), expressed as two stacked window passes:
    *   pass 1: per row, the latest PRIOR click time (conditional max
    *           over the preceding frame);
    *   pass 2: per row, the latest prior view THAT ITSELF HAD a prior
    *           click (conditional max over pass 1's column) — a
    *           purchase matches iff that value exists.
    * Subsequence semantics (other events may interleave), strict
    * ordering by (event time, event_id). Census per user: purchases,
    * matched purchases, and the exact click→view→purchase completion
    * lag checksum for matched ones.
    *
    * Scale: the two Window operators share one (user_id) exchange and
    * one (user_id, us, event_id) sort — pass 2 consumes pass 1's order
    * directly with no re-sort between them (verified in the executed
    * plan: Exchange → Sort → Window → Window) — then a user-grain
    * partial agg. Determinism: the window order carries the unique
    * event_id tiebreak (D1 inside frames); all outputs integer.
    */
  private val winPattern = QueryDef(
    "q_win_pattern",
    (s, d) => {
      val wPrec = Window.partitionBy(col("user_id"))
        .orderBy(ascf("us"), ascf("event_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val e = Tables.events(s, d)
        .select(col("user_id"), col("event_id"), col("event_type"),
          epochUs(col("ts")).as("us"))
      val p1 = e.withColumn("pc_us",
        max(when(col("event_type") === "click", col("us"))).over(wPrec))
      val p2 = p1
        .withColumn("cv_us",
          when(col("event_type") === "view" && col("pc_us").isNotNull,
            col("us")))
        .withColumn("pcv_us", max(col("cv_us")).over(wPrec))
      p2.filter(col("event_type") === "purchase")
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_purchases"),
          sum(when(col("pcv_us").isNotNull, 1L).otherwise(0L))
            .as("n_matched"),
          sum(when(col("pcv_us").isNotNull, col("us") - col("pcv_us"))
            .otherwise(0L)).as("lag_checksum_us"))
        .orderBy(ascf("user_id"))
    },
    Some("""WITH e AS (SELECT user_id, event_id, event_type,
           |    epoch_us(ts::TIMESTAMP) AS us FROM events),
           |p1 AS (SELECT *, max(CASE WHEN event_type = 'click' THEN us END)
           |    OVER (PARTITION BY user_id ORDER BY us ASC, event_id ASC
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pc_us
           |  FROM e),
           |p2 AS (SELECT *, max(CASE WHEN event_type = 'view'
           |      AND pc_us IS NOT NULL THEN us END)
           |    OVER (PARTITION BY user_id ORDER BY us ASC, event_id ASC
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pcv_us
           |  FROM p1)
           |SELECT user_id, count(*) AS n_purchases,
           |  CAST(sum(CASE WHEN pcv_us IS NOT NULL THEN 1 ELSE 0 END)
           |    AS BIGINT) AS n_matched,
           |  CAST(sum(CASE WHEN pcv_us IS NOT NULL THEN us - pcv_us
           |    ELSE 0 END) AS BIGINT) AS lag_checksum_us
           |FROM p2 WHERE event_type = 'purchase'
           |GROUP BY user_id ORDER BY user_id ASC NULLS FIRST""".stripMargin))

  /** Rolling DISTINCT count over a row frame (round 7): per user, how
    * many distinct event types occurred within the trailing 10 events —
    * the behavioral-diversity feature a sessionization/engagement
    * pipeline computes, and a window shape Spark has NO native form for
    * (`countDistinct` is not a window function). The portable rewrite:
    * `size(array_distinct(collect_list(...) over frame))` — collect the
    * frame (bounded: ≤10 elements, so per-row state is O(frame), never
    * O(partition)), dedup, measure. DuckDB grades it with its native
    * `count(DISTINCT) OVER`, so the rewrite's semantics are pinned to
    * the SQL-standard meaning rather than to themselves.
    *
    * Scale: one hash exchange on user_id + per-partition sort — the
    * standard window shape; the bounded frame keeps memory flat no
    * matter how hot a user is. An UNBOUNDED distinct-over would instead
    * carry a per-row growing set — that shape belongs to q_sketch_hll
    * (mergeable HLL), not a window.
    */
  private val winDistinct = QueryDef(
    "q_win_distinct",
    (s, d) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(ascf("ts"), ascf("event_id"))
        .rowsBetween(-9, Window.currentRow)
      Tables.events(s, d)
        .select(col("user_id"), col("event_id"),
          unix_micros(col("ts")).as("ts_us"),
          size(array_distinct(collect_list(col("event_type")).over(w)))
            .cast("long").as("n_distinct_10"))
        .orderBy(ascf("user_id"), ascf("event_id"))
    },
    Some("""SELECT user_id, event_id, epoch_us(ts) AS ts_us,
           |  CAST(count(DISTINCT event_type) OVER (
           |    PARTITION BY user_id
           |    ORDER BY ts ASC NULLS FIRST, event_id ASC NULLS FIRST
           |    ROWS BETWEEN 9 PRECEDING AND CURRENT ROW)
           |    AS BIGINT) AS n_distinct_10
           |FROM events
           |ORDER BY user_id ASC NULLS FIRST, event_id ASC NULLS FIRST"""
      .stripMargin))

  /** Sweep-line peak concurrency (round 7): the ops-dashboard gauge —
    * how many intervals of each type are simultaneously open at the
    * worst moment. Each event opens an interval (duration synthesized
    * deterministically from its value — the q_fn_url derive-from-
    * columns pattern); the sweep unions +1 at start and −1 at end and
    * takes the running sum's maximum.
    *
    * Determinism: the sweep order is pinned TOTALLY — (t, delta DESC,
    * event_id): starts sort before ends at the same instant (touching
    * intervals count as overlapping, stated policy), and event_id
    * breaks remaining ties.
    *
    * Scale: the cumulative sum partitions by type — a per-type ordered
    * prefix sum. At 100 TB the same sweep runs as the classic two-pass
    * distributed prefix sum (per-range partial sums, then boundary
    * carry-over broadcast); the windowed spelling here IS the per-range
    * inner loop of that plan.
    */
  private val winConcurrency = QueryDef(
    "q_win_concurrency",
    (s, d) => {
      val e = Tables.events(s, d).select(col("event_type"),
        col("event_id"), unix_micros(col("ts").cast("timestamp")).as("t0"),
        ((dec(col("value")) * 100).cast("long") * 10000L + 1000000L)
          .as("dur"))
      // both endpoints explode out of ONE scan (a union of two
      // projections re-reads the corpus per branch — the q_win_attrib
      // plan lesson, applied at design time this round)
      val pts = e.select(col("event_type"), col("event_id"),
        explode(expr(
          """array(struct(t0 AS t, 1L AS delta),
            |      struct(t0 + dur AS t, -1L AS delta))""".stripMargin))
          .as("p"))
        .select(col("event_type"), col("p.t").as("t"),
          col("p.delta").as("delta"), col("event_id"))
      val w = Window.partitionBy(col("event_type"))
        .orderBy(ascf("t"), descl("delta"), ascf("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      pts.withColumn("open", sum(col("delta")).over(w))
        .groupBy(col("event_type"))
        .agg((count(lit(1)) / 2).cast("long").as("n_intervals"),
          max(col("open")).as("max_concurrent"))
        .orderBy(ascf("event_type"))
    },
    Some("""WITH e AS (SELECT event_type, event_id,
           |    epoch_us(ts) AS t0,
           |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)
           |      * 10000 + 1000000 AS dur
           |  FROM events),
           |pts AS (
           |  SELECT event_type, t0 AS t, CAST(1 AS BIGINT) AS delta,
           |      event_id FROM e
           |  UNION ALL
           |  SELECT event_type, t0 + dur, CAST(-1 AS BIGINT), event_id
           |    FROM e),
           |sw AS (SELECT event_type,
           |    sum(delta) OVER (PARTITION BY event_type
           |      ORDER BY t ASC NULLS FIRST, delta DESC NULLS LAST,
           |        event_id ASC NULLS FIRST
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           |      AS open
           |  FROM pts)
           |SELECT event_type,
           |  CAST(count(*) / 2 AS BIGINT) AS n_intervals,
           |  CAST(max(open) AS BIGINT) AS max_concurrent
           |FROM sw GROUP BY event_type
           |ORDER BY event_type ASC NULLS FIRST""".stripMargin))

  /** Interval merge / coverage census (round 7): coalesce overlapping
    * intervals into maximal islands and measure covered time — the
    * uptime/downtime-window computation (and q_win_concurrency's dual:
    * concurrency asks "how many open at once", this asks "how much of
    * the timeline is open at all"). The classic gaps-and-islands on
    * intervals: an interval starts a new island iff its start exceeds
    * the running max of all PRECEDING ends; the running count of
    * island-starts is the island id.
    *
    * Touching intervals (start == previous end) merge — the same
    * closed-interval policy q_win_concurrency pins from the other side.
    *
    * Scale: two per-type ordered window passes (running max-end, then
    * running island count) in ONE sort order — one shuffle, one sort;
    * the island aggregate is island-bounded.
    */
  private val winIntervals = QueryDef(
    "q_win_intervals",
    (s, d) => {
      val ev = Tables.events(s, d).select(col("event_type"),
        col("event_id"),
        unix_micros(col("ts").cast("timestamp")).as("t0"),
        ((dec(col("value")) * 100).cast("long") * 10000L + 1000000L)
          .as("dur"))
        .withColumn("en", col("t0") + col("dur"))
      val wOrd = Window.partitionBy(col("event_type"))
        .orderBy(ascf("t0"), ascf("event_id"))
      val wPrev = wOrd.rowsBetween(Window.unboundedPreceding, -1)
      val wCum = wOrd.rowsBetween(Window.unboundedPreceding,
        Window.currentRow)
      val isl = ev
        .withColumn("pmax", max(col("en")).over(wPrev))
        .withColumn("is_new",
          when(col("pmax").isNull || col("t0") > col("pmax"), 1L)
            .otherwise(0L))
        .withColumn("island", sum(col("is_new")).over(wCum))
      isl.groupBy(col("event_type"), col("island"))
        .agg(min(col("t0")).as("s"), max(col("en")).as("e"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_islands"),
          sum(col("e") - col("s")).as("covered_us"),
          max(col("e") - col("s")).as("max_span_us"))
        .orderBy(ascf("event_type"))
    },
    Some("""WITH ev AS (SELECT event_type, event_id,
           |    epoch_us(ts) AS t0,
           |    epoch_us(ts)
           |      + CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)
           |        * 10000 + 1000000 AS en
           |  FROM events),
           |mx AS (SELECT event_type, t0, en,
           |    max(en) OVER (PARTITION BY event_type
           |      ORDER BY t0 ASC NULLS FIRST, event_id ASC NULLS FIRST
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           |      AS pmax,
           |    event_id
           |  FROM ev),
           |fl AS (SELECT event_type, t0, en, event_id,
           |    CASE WHEN pmax IS NULL OR t0 > pmax THEN 1 ELSE 0 END
           |      AS is_new
           |  FROM mx),
           |isl AS (SELECT event_type, t0, en,
           |    sum(is_new) OVER (PARTITION BY event_type
           |      ORDER BY t0 ASC NULLS FIRST, event_id ASC NULLS FIRST
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           |      AS island
           |  FROM fl),
           |g AS (SELECT event_type, island, min(t0) AS s, max(en) AS e
           |  FROM isl GROUP BY 1, 2)
           |SELECT event_type, CAST(count(*) AS BIGINT) AS n_islands,
           |  CAST(sum(e - s) AS BIGINT) AS covered_us,
           |  CAST(max(e - s) AS BIGINT) AS max_span_us
           |FROM g GROUP BY event_type
           |ORDER BY event_type ASC NULLS FIRST""".stripMargin))

  /** Period-over-period rank movement (round 7): rank every part by
    * revenue within each year, join consecutive years, and report the
    * per-year movement census plus the single biggest climber — the
    * "movers and shakers" report behind every leaderboard-delta
    * dashboard (SKU velocity, trending queries, chart positions).
    *
    * Scale: the corpus collapses to a (year, part) revenue aggregate in
    * one shuffle; ranking partitions by year (parallel per-year sorts on
    * the part-sized relation); the consecutive-year self-join is an
    * equi-join on (partkey, year+1) over part-sized inputs. Nothing
    * after the first aggregation is fact-table-sized.
    *
    * Determinism (D1/D2): ranks use row_number over (cents DESC,
    * partkey ASC) — a total value order, no dense_rank tie ambiguity;
    * the top climber breaks delta ties by partkey ASC.
    */
  private val winRankDelta = QueryDef(
    "q_win_rank_delta",
    (s, d) => {
      val li = Tables.lineitem(s, d)
        .join(Tables.orders(s, d).select(col("o_orderkey"),
          year(col("o_orderdate")).cast("long").as("yr")),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("yr"), col("l_partkey"))
        .agg(sum((dec12(col("l_extendedprice")) * 100).cast("long"))
          .as("cents"))
      val wr = Window.partitionBy(col("yr"))
        .orderBy(descl("cents"), ascf("l_partkey"))
      val ranked = graft.Caches.scoped(
        li.withColumn("rk", row_number().over(wr).cast("long")))
      val joined = ranked.as("p").join(ranked.as("c"),
          col("p.l_partkey") === col("c.l_partkey") &&
            col("p.yr") + 1 === col("c.yr"))
        .select(col("c.yr").as("yr"), col("c.l_partkey").as("pk"),
          (col("p.rk") - col("c.rk")).as("delta"))
      val wtop = Window.partitionBy(col("yr"))
        .orderBy(descl("delta"), ascf("pk"))
      joined
        .withColumn("trn", row_number().over(wtop))
        .groupBy(col("yr"))
        .agg(count(lit(1)).as("n_common"),
          sum(abs(col("delta"))).as("sum_abs_delta"),
          max(col("delta")).as("max_climb"),
          (-min(col("delta"))).as("max_drop"),
          max(when(col("trn") === 1, col("pk"))).as("top_climber"))
        .orderBy(ascf("yr"))
    },
    Some("""WITH rev AS (SELECT year(o.o_orderdate) AS yr, l.l_partkey,
           |    CAST(sum(CAST(CAST(l.l_extendedprice AS DECIMAL(12,2))
           |      * 100 AS BIGINT)) AS BIGINT) AS cents
           |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
           |  GROUP BY 1, 2),
           |ranked AS (SELECT yr, l_partkey,
           |    CAST(row_number() OVER (PARTITION BY yr
           |      ORDER BY cents DESC, l_partkey ASC) AS BIGINT) AS rk
           |  FROM rev),
           |j AS (SELECT c.yr, c.l_partkey AS pk, p.rk - c.rk AS delta
           |  FROM ranked p JOIN ranked c
           |    ON p.l_partkey = c.l_partkey AND p.yr + 1 = c.yr),
           |t AS (SELECT yr, pk, delta,
           |    row_number() OVER (PARTITION BY yr
           |      ORDER BY delta DESC, pk ASC) AS trn
           |  FROM j)
           |SELECT CAST(yr AS BIGINT) AS yr,
           |  CAST(count(*) AS BIGINT) AS n_common,
           |  CAST(sum(abs(delta)) AS BIGINT) AS sum_abs_delta,
           |  CAST(max(delta) AS BIGINT) AS max_climb,
           |  CAST(-min(delta) AS BIGINT) AS max_drop,
           |  CAST(max(CASE WHEN trn = 1 THEN pk END) AS BIGINT)
           |    AS top_climber
           |FROM t GROUP BY yr
           |ORDER BY yr ASC NULLS FIRST""".stripMargin))

  /** Largest-remainder proportional allocation (round 7): apportion a
    * fixed integer budget of 10 000 units across nations proportional to
    * order revenue — the Hamilton apportionment every quota system runs
    * (ad-spend splits, seat apportionment, sampling quotas, shard
    * capacity). Floor quotas first (S·rev div T), then the leftover
    * R = S − Σfloor units go to the R largest remainders — the method
    * whose output sums to EXACTLY S by construction, which is the whole
    * point vs naive rounding (Σround(S·share) misses S by ±k).
    *
    * Scale: the corpus-sized work is one revenue group-by with map-side
    * partials; quota/remainder arithmetic and the remainder-rank window
    * all run on the nation-sized census (the unpartitioned window scans
    * ≤ |dims| rows — harness-scale note, same as q_lake_zorder). The
    * total T and leftover R ride 1-row broadcasts, never a collect.
    *
    * Determinism (D1/D2): all-int64 floor quotas ((S·rev) div T and %,
    * every operand non-negative so `div` ≡ `//`); remainder ranks break
    * ties by nationkey ASC — a total order, so the marginal unit lands
    * identically in both engines.
    */
  private val winAlloc = QueryDef(
    "q_win_alloc",
    (s, d) => {
      val o = Tables.orders(s, d).select(col("o_custkey"), col("o_totalprice"))
      val c = Tables.customer(s, d).select(col("c_custkey"), col("c_nationkey"))
      val n = Tables.nation(s, d).select(col("n_nationkey"), col("n_name"))
      val rev = o.join(broadcast(c), col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_nationkey").as("nk"))
        .agg(sum((dec(col("o_totalprice")) * 100).cast("long")).as("rev_cents"))
      val t = rev.agg(sum(col("rev_cents")).as("t"))
      val q = rev.join(broadcast(t))
        .select(col("nk"), col("rev_cents"),
          expr("(10000 * rev_cents) div t").as("base_seats"),
          expr("(10000 * rev_cents) % t").as("rem"))
      val left = q.agg((lit(10000L) - sum(col("base_seats"))).as("r"))
      val ranked = q.withColumn("rk",
        row_number().over(Window.orderBy(descl("rem"), ascf("nk"))))
      ranked.join(broadcast(left))
        .join(broadcast(n), col("nk") === col("n_nationkey"))
        .select(col("n_name"), col("rev_cents"), col("base_seats"),
          when(col("rk") <= col("r"), 1L).otherwise(0L).as("extra"),
          (col("base_seats") +
            when(col("rk") <= col("r"), 1L).otherwise(0L)).as("seats"))
        .orderBy(ascf("n_name"))
    },
    Some("""WITH rev AS (SELECT c.c_nationkey AS nk,
           |    CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
           |      AS BIGINT)) AS BIGINT) AS rev_cents
           |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
           |  GROUP BY 1),
           |t AS (SELECT CAST(sum(rev_cents) AS BIGINT) AS t FROM rev),
           |q AS (SELECT nk, rev_cents,
           |    CAST((10000 * rev_cents) // t.t AS BIGINT) AS base_seats,
           |    CAST((10000 * rev_cents) % t.t AS BIGINT) AS rem
           |  FROM rev CROSS JOIN t),
           |lft AS (SELECT 10000 - sum(base_seats) AS r FROM q),
           |ranked AS (SELECT nk, rev_cents, base_seats,
           |    row_number() OVER (ORDER BY rem DESC, nk ASC) AS rk
           |  FROM q)
           |SELECT n.n_name,
           |  ranked.rev_cents,
           |  ranked.base_seats,
           |  CAST(CASE WHEN rk <= lft.r THEN 1 ELSE 0 END AS BIGINT) AS extra,
           |  CAST(ranked.base_seats +
           |    CASE WHEN rk <= lft.r THEN 1 ELSE 0 END AS BIGINT) AS seats
           |FROM ranked CROSS JOIN lft
           |JOIN nation n ON ranked.nk = n.n_nationkey
           |ORDER BY n_name ASC NULLS FIRST""".stripMargin))

  /** Token-bucket rate-limit audit (round 7): replay every user's event
    * stream through a capacity-3, one-token-per-2h bucket and census
    * which events WOULD have been throttled — the capacity-planning /
    * abuse-tuning question ("what would this limiter catch") answered
    * offline before a limiter ships. The bucket is the true stateful
    * recurrence (tokens + anchored refill credit), not a windowed
    * approximation: an accept changes every later decision, so this is
    * a sequential per-user fold (aggregate HOF — the q_ts_holt
    * pattern) emitting the throttled ids, mirrored by a recursive-CTE
    * replay in the oracle.
    *
    * Scale: one exchange on user_id feeds the per-user fold (state = 2
    * ints + the throttled-id list, bounded by the user's own events);
    * the census re-joins throttled ids to types via the event_id key.
    * Bucket parameters are knobs; the fold is the mechanism.
    *
    * Determinism (D1/D2): (ts_us, event_id) total order; all-integer
    * credit arithmetic (elapsed div P, anchor += gained·P, credits
    * beyond full reset the anchor — the rule spelled identically in
    * both engines).
    */
  private val winRatelimit = QueryDef(
    "q_win_ratelimit",
    (s, d) => {
      val P = 7200000000L // 2h in µs
      val ev = Tables.events(s, d).select(col("user_id"),
        unix_micros(col("ts")).as("ts_us"), col("event_id"),
        col("event_type"))
      val gained = s"IF(st.an < 0L, 0L, (e.ts_us - st.an) div ${P}L)"
      val tk1 = s"least(3L, st.tk + $gained)"
      val an1 = s"IF(st.an < 0L OR $tk1 >= 3L, e.ts_us, " +
        s"st.an + $gained * ${P}L)"
      val thr = ev.groupBy(col("user_id"))
        .agg(expr(
          s"""aggregate(
             |  sort_array(collect_list(struct(ts_us, event_id))),
             |  named_struct('tk', 3L, 'an', -1L,
             |    'thr', cast(array() as array<bigint>)),
             |  (st, e) -> named_struct(
             |    'tk', IF($tk1 >= 1L, $tk1 - 1L, $tk1),
             |    'an', $an1,
             |    'thr', IF($tk1 >= 1L, st.thr,
             |      array_append(st.thr, e.event_id))),
             |  st -> st.thr)""".stripMargin).as("thr"))
        .select(explode(col("thr")).as("tid"))
      val thrByType = thr
        .join(ev.select(col("event_id"), col("event_type").as("tt")),
          col("tid") === col("event_id"))
        .groupBy(col("tt"))
        .agg(count(lit(1)).as("n_throttled"),
          sum(col("tid")).as("throttled_checksum"))
      ev.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_events"))
        .join(thrByType, col("event_type") === col("tt"), "left")
        .select(col("event_type"), col("n_events"),
          coalesce(col("n_throttled"), lit(0L)).as("n_throttled"),
          coalesce(col("throttled_checksum"), lit(0L))
            .as("throttled_checksum"))
        .orderBy(ascf("event_type"))
    },
    Some("""WITH RECURSIVE
           |ev AS (SELECT user_id, epoch_us(ts::TIMESTAMP) AS ts_us,
           |    event_id, event_type,
           |    row_number() OVER (PARTITION BY user_id
           |      ORDER BY epoch_us(ts::TIMESTAMP) ASC, event_id ASC) AS i
           |  FROM events),
           |dp AS (
           |  SELECT user_id, CAST(0 AS BIGINT) AS i,
           |    CAST(3 AS BIGINT) AS tk, CAST(-1 AS BIGINT) AS an,
           |    CAST(NULL AS BIGINT) AS event_id,
           |    CAST(NULL AS VARCHAR) AS event_type,
           |    FALSE AS throttled
           |  FROM (SELECT DISTINCT user_id FROM ev)
           |  UNION ALL
           |  SELECT e.user_id, e.i,
           |    CASE WHEN least(3, dp.tk + CASE WHEN dp.an < 0 THEN 0
           |        ELSE (e.ts_us - dp.an) // 7200000000 END) >= 1
           |      THEN least(3, dp.tk + CASE WHEN dp.an < 0 THEN 0
           |        ELSE (e.ts_us - dp.an) // 7200000000 END) - 1
           |      ELSE least(3, dp.tk + CASE WHEN dp.an < 0 THEN 0
           |        ELSE (e.ts_us - dp.an) // 7200000000 END) END AS tk,
           |    CASE WHEN dp.an < 0 OR least(3, dp.tk +
           |        CASE WHEN dp.an < 0 THEN 0
           |          ELSE (e.ts_us - dp.an) // 7200000000 END) >= 3
           |      THEN e.ts_us
           |      ELSE dp.an + (CASE WHEN dp.an < 0 THEN 0
           |        ELSE (e.ts_us - dp.an) // 7200000000 END) * 7200000000
           |      END AS an,
           |    e.event_id, e.event_type,
           |    least(3, dp.tk + CASE WHEN dp.an < 0 THEN 0
           |      ELSE (e.ts_us - dp.an) // 7200000000 END) < 1 AS throttled
           |  FROM dp JOIN ev e ON e.user_id = dp.user_id
           |    AND e.i = dp.i + 1)
           |SELECT e.event_type AS event_type,
           |  CAST(count(*) AS BIGINT) AS n_events,
           |  CAST(coalesce(sum(CASE WHEN d.throttled THEN 1 ELSE 0 END), 0)
           |    AS BIGINT) AS n_throttled,
           |  CAST(coalesce(sum(CASE WHEN d.throttled THEN d.event_id END), 0)
           |    AS BIGINT) AS throttled_checksum
           |FROM ev e LEFT JOIN dp d
           |  ON d.user_id = e.user_id AND d.i = e.i
           |GROUP BY e.event_type
           |ORDER BY e.event_type ASC NULLS FIRST""".stripMargin))

  /** Running-peak drawdown census (round 7): per nation, the daily
    * order-revenue series against its historical peak — worst absolute
    * decline, worst relative decline, and days spent underwater. The
    * finance-desk max-drawdown statistic applied to the ops metric
    * every revenue dashboard tracks ("how far below our best day are
    * we, and for how long?"). q_ts_bollinger flags band BREAKOUTS;
    * this measures depth-below-PEAK — the cumulative-maximum frame
    * member of the window family.
    *
    * Scale: the corpus collapses to (nation, day) grain in one partial
    * agg (~nations × days rows); the running max is ONE window pass
    * partitioned by nation (parallel across nations, frames spelled
    * ROWS UNBOUNDED PRECEDING explicitly — day is unique within a
    * nation so ROWS ≡ RANGE, and spelling ROWS keeps WindowExec on the
    * O(1)-per-row running-max path); the census re-aggregates the
    * day-grain relation. Nation names broadcast.
    *
    * Determinism (D1/D2): exact cents; dd ≥ 0 and peak > 0 (revenues
    * positive), so the e6 ratio's floor division is trunc-safe on both
    * engines; nations total-ordered by name.
    */
  private val winDrawdown = QueryDef(
    "q_win_drawdown",
    (s, d) => {
      val days = Tables.orders(s, d)
        .join(broadcast(Tables.customer(s, d)
          .select(col("c_custkey"), col("c_nationkey"))),
          col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_nationkey").as("nk"),
          to_date(col("o_orderdate")).as("day"))
        .agg(sum((dec(col("o_totalprice")) * 100).cast("long"))
          .as("rev"))
      val w = Window.partitionBy(col("nk")).orderBy(ascf(col("day")))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val dd = days
        .withColumn("peak", max(col("rev")).over(w))
        .withColumn("dd", col("peak") - col("rev"))
        // dd rides daily revenue cents (~4e12/nation-day at 100 TB) —
        // the bare e6 product has ~2x headroom; stage it
        .withColumn("ddr_e6", expr(
          "cast(cast(dd as decimal(38,0)) * 1000000 div peak as bigint)"))
      val nat = broadcast(Tables.nation(s, d)
        .select(col("n_nationkey"), col("n_name")))
      dd.groupBy(col("nk")).agg(
        count(lit(1)).as("n_days"),
        max(col("rev")).as("peak_cents"),
        max(col("dd")).as("max_dd_cents"),
        max(col("ddr_e6")).as("max_ddr_e6"),
        sum(when(col("dd") > 0, 1L).otherwise(0L)).as("n_underwater"))
        .join(nat, col("nk") === col("n_nationkey"))
        .select(col("n_name"), col("n_days"), col("peak_cents"),
          col("max_dd_cents"), col("max_ddr_e6"), col("n_underwater"))
        .orderBy(ascf("n_name"))
    },
    Some("""WITH days AS (SELECT c_nationkey AS nk,
           |    CAST(date_trunc('day', o_orderdate) AS DATE) AS day,
           |    CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
           |      AS BIGINT)) AS BIGINT) AS rev
           |  FROM orders JOIN customer ON o_custkey = c_custkey
           |  GROUP BY 1, 2),
           |dd AS (SELECT nk, rev,
           |    max(rev) OVER (PARTITION BY nk ORDER BY day ASC
           |      ROWS UNBOUNDED PRECEDING) AS peak
           |  FROM days),
           |agg AS (SELECT nk,
           |    CAST(count(*) AS BIGINT) AS n_days,
           |    CAST(max(rev) AS BIGINT) AS peak_cents,
           |    CAST(max(peak - rev) AS BIGINT) AS max_dd_cents,
           |    CAST(max((CAST(peak - rev AS HUGEINT) * 1000000) // peak)
           |      AS BIGINT)
           |      AS max_ddr_e6,
           |    CAST(sum(CASE WHEN peak > rev THEN 1 ELSE 0 END) AS BIGINT)
           |      AS n_underwater
           |  FROM dd GROUP BY nk)
           |SELECT n_name, n_days, peak_cents, max_dd_cents, max_ddr_e6,
           |  n_underwater
           |FROM agg JOIN nation ON nk = n_nationkey
           |ORDER BY n_name ASC NULLS FIRST""".stripMargin))

  /** FIFO supply↔demand matching as a prefix-sum interval join (round
    * 7): per part, finished lots (linestatus F, ship-date order) fill
    * open demand (linestatus O, same order) first-in-first-out — the
    * inventory/cost-basis allocation every warehouse and accounting
    * ledger runs. The sequential pointer-walk formulation is inherently
    * serial; the ALGEBRAIC form is not: give each supply row the
    * cumulative interval [cs−q, cs) and each demand row [cd−q, cd),
    * and FIFO matches are EXACTLY the pairwise interval intersections
    * — matched(s,d) = min(cs,cd) − max(cs−q_s, cd−q_d) over pairs
    * whose intervals overlap. Two window passes + one range join
    * replace the serial replay (the q_ts_cusum trick — a recursive
    * process rewritten as window algebra — applied to ALLOCATION).
    *
    * Scale: both cumsums partition by partkey (bounded partitions,
    * ~30 rows/part) and reuse one exchange per stream; the pair join
    * is an equi-join on partkey with range residuals, and each supply
    * row overlaps O(1 + q_s/avg q_d) demand rows — output-linear, the
    * same bound interval joins get elsewhere. Leftovers come from
    * per-part totals, not the pair relation.
    *
    * Determinism: quantities are exact cents (dec12·100 — D2); rows
    * pre-aggregate to the unique (pk, status, ship-µs, orderkey,
    * linenumber) grain so the cumsum ORDER is total (D1 — raw
    * lineitem duplicates would make per-row intervals order-dependent
    * even though totals are not); everything downstream is int64.
    */
  private val winFifo = QueryDef(
    "q_win_fifo",
    (s, d) => {
      val li = Tables.lineitem(s, d)
        .select(col("l_partkey").as("pk"), col("l_linestatus").as("st"),
          epochUs(col("l_shipdate")).as("us"),
          col("l_orderkey").as("ok"), col("l_linenumber").as("ln"),
          (dec12(col("l_quantity")) * lit(100)).cast("long").as("qc"))
        .groupBy(col("pk"), col("st"), col("us"), col("ok"), col("ln"))
        .agg(sum(col("qc")).as("q"))
      val w = Window.partitionBy(col("pk"))
        .orderBy(ascf("us"), ascf("ok"), ascf("ln"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      // Round 11 (guide §2.4): ONE window pass computes both running
      // sums as conditional cumsums (at an F row, the when-filtered
      // cumulative F-sum equals the old F-only window's value, and
      // symmetrically for O), scoped-persisted so the four consumers
      // below reuse the single exchange+sort — the cached relation
      // keeps its pk hash partitioning, so the pairs join and the
      // ts/td re-aggregations need no further exchange.
      val both = graft.Caches.scoped(li
        .withColumn("cs", sum(when(col("st") === "F", col("q"))).over(w))
        .withColumn("cd", sum(when(col("st") === "O", col("q"))).over(w)))
      val sup = both.filter(col("st") === "F")
        .select(col("pk"), col("q").as("qs"), col("cs"))
      val dem = both.filter(col("st") === "O")
        .select(col("pk").as("pkd"), col("q").as("qd"), col("cd"))
      val pairs = sup.join(dem,
          col("pk") === col("pkd") &&
            col("cs") > col("cd") - col("qd") &&
            col("cd") > col("cs") - col("qs"))
        .select(col("pk"),
          (least(col("cs"), col("cd")) -
            greatest(col("cs") - col("qs"), col("cd") - col("qd")))
            .as("m"))
        .groupBy(col("pk"))
        .agg(count(lit(1)).as("np"), sum(col("m")).as("ms"))
        .select(col("pk").as("pkp"), col("np"), col("ms"))
      val ts = sup.groupBy(col("pk")).agg(sum(col("qs")).as("tsup"))
      val td = dem.groupBy(col("pkd")).agg(sum(col("qd")).as("tdem"))
      val tot = ts.join(td, col("pk") === col("pkd"), "full")
        .select(coalesce(col("pk"), col("pkd")).as("pkt"),
          coalesce(col("tsup"), lit(0L)).as("tsup"),
          coalesce(col("tdem"), lit(0L)).as("tdem"))
      tot.join(pairs, col("pkt") === col("pkp"), "left")
        .select(col("pkt"), col("tsup"), col("tdem"),
          coalesce(col("np"), lit(0L)).as("np"),
          coalesce(col("ms"), lit(0L)).as("ms"))
        .groupBy(pmod(col("pkt"), lit(8L)).as("bucket"))
        .agg(count(lit(1)).as("n_parts"), sum(col("np")).as("n_pairs"),
          sum(col("ms")).as("matched_cq"),
          sum(col("tsup") - least(col("tsup"), col("tdem")))
            .as("left_supply_cq"),
          sum(col("tdem") - least(col("tsup"), col("tdem")))
            .as("left_demand_cq"))
        .orderBy(ascf("bucket"))
    },
    Some("""WITH li AS (SELECT l_partkey AS pk, l_linestatus AS st,
           |    epoch_us(l_shipdate::TIMESTAMP) AS us,
           |    l_orderkey AS ok, l_linenumber AS ln,
           |    CAST(CAST(l_quantity AS DECIMAL(12,2)) * 100 AS BIGINT) AS qc
           |  FROM lineitem),
           |g AS (SELECT pk, st, us, ok, ln, CAST(sum(qc) AS BIGINT) AS q
           |  FROM li GROUP BY 1, 2, 3, 4, 5),
           |sup AS (SELECT pk, q AS qs, sum(q) OVER (PARTITION BY pk
           |    ORDER BY us ASC, ok ASC, ln ASC ROWS UNBOUNDED PRECEDING)
           |    AS cs
           |  FROM g WHERE st = 'F'),
           |dem AS (SELECT pk AS pkd, q AS qd, sum(q) OVER (PARTITION BY pk
           |    ORDER BY us ASC, ok ASC, ln ASC ROWS UNBOUNDED PRECEDING)
           |    AS cd
           |  FROM g WHERE st = 'O'),
           |pr AS (SELECT pk,
           |    least(cs, cd) - greatest(cs - qs, cd - qd) AS m
           |  FROM sup JOIN dem ON pk = pkd
           |    AND cs > cd - qd AND cd > cs - qs),
           |pa AS (SELECT pk AS pkp, CAST(count(*) AS BIGINT) AS np,
           |    CAST(sum(m) AS BIGINT) AS ms FROM pr GROUP BY 1),
           |ts AS (SELECT pk, CAST(sum(qs) AS BIGINT) AS tsup
           |  FROM sup GROUP BY 1),
           |td AS (SELECT pkd, CAST(sum(qd) AS BIGINT) AS tdem
           |  FROM dem GROUP BY 1),
           |tot AS (SELECT coalesce(ts.pk, td.pkd) AS pkt,
           |    coalesce(tsup, 0) AS tsup, coalesce(tdem, 0) AS tdem
           |  FROM ts FULL JOIN td ON ts.pk = td.pkd),
           |j AS (SELECT pkt, tsup, tdem, coalesce(np, 0) AS np,
           |    coalesce(ms, 0) AS ms
           |  FROM tot LEFT JOIN pa ON tot.pkt = pa.pkp)
           |SELECT pkt % 8 AS bucket, CAST(count(*) AS BIGINT) AS n_parts,
           |  CAST(sum(np) AS BIGINT) AS n_pairs,
           |  CAST(sum(ms) AS BIGINT) AS matched_cq,
           |  CAST(sum(tsup - least(tsup, tdem)) AS BIGINT)
           |    AS left_supply_cq,
           |  CAST(sum(tdem - least(tsup, tdem)) AS BIGINT)
           |    AS left_demand_cq
           |FROM j GROUP BY 1 ORDER BY bucket ASC NULLS FIRST""".stripMargin))

  /** FIFO queue replay via the Lindley recurrence as WINDOW ALGEBRA
    * (round 7): per (event_type, hour) worker queue, arrivals in
    * (ts, event_id) order, deterministic service s = 1 + id mod 30
    * minutes — how long did each job WAIT behind its predecessors?
    * The textbook recurrence depart_i = max(arr_i, depart_{i−1}) + s_i
    * is sequential, but it has the closed form
    *   depart_i = S_i + max_{j≤i}(arr_j − S_{j−1}),  S = prefix-sum(s)
    * so the whole simulation collapses to one prefix-sum window and one
    * running-max window — the q_ts_cusum recursive→window-algebra trick
    * applied to queueing theory. No fold, no recursion, no state: the
    * oracle is plain window SQL and the Spark plan is two frames over
    * one exchange.
    *
    * Scale: queues are sharded by (server, hour window), so per-group
    * state is window-bounded no matter the corpus — exactly how a fleet
    * replays its job logs (per-worker-per-window); the two windows
    * share one (type, hour) exchange+sort; census output is type-sized.
    *
    * Determinism (D1/D2): integer seconds throughout; (ts, event_id)
    * total arrival order; util_e6 trunc-div.
    */
  private val winQueueReplay = QueryDef(
    "q_win_queue_replay",
    (s, d) => {
      val ev = Tables.events(s, d)
        .select(col("event_type"),
          floorDiv(unix_micros(col("ts")), 1000000L).as("arr"),
          floorDiv(unix_micros(col("ts")), 3600000000L).as("hr"),
          col("event_id"),
          (lit(60L) * (lit(1L) + pmod(col("event_id"), lit(30L))))
            .as("svc"))
      val w = Window.partitionBy(col("event_type"), col("hr"))
        .orderBy(ascf("arr"), ascf("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val sim = ev
        .withColumn("sp", sum(col("svc")).over(w))
        .withColumn("m", max(col("arr") - (col("sp") - col("svc"))).over(w))
        .withColumn("wait", col("sp") - col("svc") + col("m") - col("arr"))
      sim.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_jobs"),
          countDistinct(col("hr")).as("n_queues"),
          sum(col("wait")).as("total_wait_s"),
          max(col("wait")).as("max_wait_s"),
          sum(when(col("wait") > 0, 1L).otherwise(0L)).as("n_delayed"),
          sum(col("svc")).as("total_svc_s"))
        // corpus-summed wait seconds per type cross the e6 cliff well
        // below 100 TB — stage the numerator
        .withColumn("avg_wait_e6", expr(
          "cast(cast(total_wait_s as decimal(38,0)) * 1000000 " +
            "div n_jobs as bigint)"))
        .orderBy(ascf("event_type"))
    },
    Some("""WITH e AS (SELECT event_type,
           |    epoch_us(ts) // 1000000 AS arr,
           |    epoch_us(ts) // 3600000000 AS hr,
           |    event_id,
           |    60 * (1 + event_id % 30) AS svc
           |  FROM events),
           |s1 AS (SELECT event_type, hr, svc, arr, event_id,
           |    sum(svc) OVER wq AS sp
           |  FROM e
           |  WINDOW wq AS (PARTITION BY event_type, hr
           |    ORDER BY arr ASC, event_id ASC
           |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
           |s2 AS (SELECT event_type, hr, svc, arr, sp,
           |    max(arr - (sp - svc)) OVER wq AS m
           |  FROM s1
           |  WINDOW wq AS (PARTITION BY event_type, hr
           |    ORDER BY arr ASC, event_id ASC
           |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
           |wt AS (SELECT event_type, hr, svc,
           |    sp - svc + m - arr AS wait FROM s2)
           |SELECT event_type, CAST(count(*) AS BIGINT) AS n_jobs,
           |  CAST(count(DISTINCT hr) AS BIGINT) AS n_queues,
           |  CAST(sum(wait) AS BIGINT) AS total_wait_s,
           |  CAST(max(wait) AS BIGINT) AS max_wait_s,
           |  CAST(sum(CASE WHEN wait > 0 THEN 1 ELSE 0 END) AS BIGINT)
           |    AS n_delayed,
           |  CAST(sum(svc) AS BIGINT) AS total_svc_s,
           |  CAST(CAST(sum(wait) AS HUGEINT) * 1000000 // count(*)
           |    AS BIGINT) AS avg_wait_e6
           |FROM wt GROUP BY event_type
           |ORDER BY event_type ASC NULLS FIRST""".stripMargin))

  /** Cooldown debounce (round 7): per user, keep an event only if ≥ 24 h
    * have passed since the last KEPT event — the notification-throttle /
    * alert-dedup primitive. The deliberate contrast with
    * q_win_queue_replay: the Lindley recurrence had a window-algebra
    * closed form, but debounce kept-ness depends on the kept
    * PREDECESSOR (a lag() of a column being defined decides which rows
    * exist to lag over), so it is genuinely sequential — no frame
    * expresses it, and the engines are graded on the fold itself
    * (aggregate HOF vs recursive-CTE oracle, the q_ts_holt pattern at
    * USER grain). q_win_sessionize keys on raw inter-event gaps;
    * debounce keys on gaps TO THE LAST SURVIVOR — one dropped event
    * changes every later decision.
    *
    * Scale: per-user arrays are stream-length-bounded (≈ tens–hundreds
    * of events; a hot user would shard by day first, the queue-replay
    * windowing); one corpus shuffle to user grain; census per
    * user-shard.
    *
    * Determinism (D1/D2): µs integer timestamps under the
    * (ts, event_id) total order; checksum of kept SECONDS exact.
    */
  private val winDebounce = QueryDef(
    "q_win_debounce",
    (s, d) => {
      val W = 86400000000L
      Tables.events(s, d)
        .select(col("user_id"), unix_micros(col("ts")).as("tu"),
          col("event_id"))
        .groupBy(col("user_id"))
        .agg(array_sort(collect_list(struct(col("tu"), col("event_id"))))
          .as("xs"))
        .withColumn("st", expr(
          s"""aggregate(xs,
             |  named_struct('last', 0L, 'nk', 0L, 'cks', 0L),
             |  (st, x) -> CASE
             |    WHEN st.nk = 0L OR x.tu - st.last >= ${W}L
             |      THEN named_struct('last', x.tu, 'nk', st.nk + 1L,
             |        'cks', st.cks + x.tu div 1000000L)
             |    ELSE st END)""".stripMargin))
        .select(col("user_id"), size(col("xs")).cast("long").as("ne"),
          col("st.nk").as("nk"), col("st.cks").as("cks"))
        .groupBy(pmod(col("user_id"), lit(16L)).as("bucket"))
        .agg(count(lit(1)).as("n_users"),
          sum(col("ne")).as("n_events"),
          sum(col("nk")).as("n_kept"),
          sum(col("cks")).as("kept_ts_checksum"),
          max(col("nk")).as("max_kept"))
        .orderBy(ascf("bucket"))
    },
    Some("""WITH RECURSIVE e AS (SELECT user_id, epoch_us(ts) AS tu,
           |    event_id FROM events),
           |hr AS (SELECT user_id, tu, row_number() OVER (
           |    PARTITION BY user_id ORDER BY tu ASC, event_id ASC) AS rn
           |  FROM e),
           |s AS (
           |  SELECT user_id, rn, tu AS last, CAST(1 AS BIGINT) AS nk,
           |    tu // 1000000 AS cks
           |  FROM hr WHERE rn = 1
           |  UNION ALL
           |  SELECT hr.user_id, hr.rn,
           |    CASE WHEN hr.tu - s.last >= 86400000000
           |      THEN hr.tu ELSE s.last END,
           |    s.nk + CASE WHEN hr.tu - s.last >= 86400000000
           |      THEN 1 ELSE 0 END,
           |    s.cks + CASE WHEN hr.tu - s.last >= 86400000000
           |      THEN hr.tu // 1000000 ELSE 0 END
           |  FROM s JOIN hr ON hr.user_id = s.user_id
           |    AND hr.rn = s.rn + 1),
           |fin AS (SELECT s.*, row_number() OVER (
           |    PARTITION BY user_id ORDER BY rn DESC) AS rr FROM s)
           |SELECT user_id % 16 AS bucket,
           |  CAST(count(*) AS BIGINT) AS n_users,
           |  CAST(sum(rn) AS BIGINT) AS n_events,
           |  CAST(sum(nk) AS BIGINT) AS n_kept,
           |  CAST(sum(cks) AS BIGINT) AS kept_ts_checksum,
           |  CAST(max(nk) AS BIGINT) AS max_kept
           |FROM fin WHERE rr = 1
           |GROUP BY 1
           |ORDER BY bucket ASC NULLS FIRST""".stripMargin))

  /** Gaps-and-islands over an integer key sequence (round 8, batch
    * 107): the classic SQL island analysis — q_win_sessionize finds
    * TIME islands by gap threshold; this finds VALUE islands of
    * consecutive integers via the key − row_number() invariant (inside
    * a run of consecutive keys, key and rank advance in lockstep, so
    * their difference is the island id). Input: distinct order keys
    * with every key ≡ 3 (mod 7) removed — deterministic synthetic gaps
    * at every SF. Graded: the island-LENGTH histogram plus span/
    * missing-key accounting (n islands of each length, and Σ islands ×
    * length must re-derive the present-key count — a wrong rank breaks
    * the hash twice over).
    *
    * Scale: the global rank is `Dsl.globalRowNumber` — the
    * range-partitioned two-pass rank, no single-partition window over
    * the corpus-grain key relation; island grouping is one hash
    * aggregate keyed on (key − rank); the histogram is a second,
    * length-bounded aggregate.
    *
    * Determinism: keys are distinct ints (total order); island ids and
    * lengths are exact integer arithmetic.
    */
  private val winGapIslands = QueryDef(
    "q_win_gap_islands",
    (s, d) => {
      val keys = graft.Tables.orders(s, d)
        .select(col("o_orderkey").cast("long").as("k")).distinct()
        .filter(pmod(col("k"), lit(7)) =!= 3)
      val islands = graft.Dsl
        .globalRowNumber(keys, "rn", Seq(ascf("k")))
        .groupBy((col("k") - col("rn")).as("island_id"))
        .agg(count(lit(1)).as("len"))
      islands.groupBy(col("len"))
        .agg(count(lit(1)).as("n_islands"))
        .withColumn("keys_covered", col("len") * col("n_islands"))
        .orderBy(ascf("len"))
    },
    Some("""WITH keys AS (SELECT DISTINCT CAST(o_orderkey AS BIGINT) AS k
           |  FROM orders WHERE CAST(o_orderkey AS BIGINT) % 7 <> 3),
           |r AS (SELECT k, row_number() OVER (ORDER BY k ASC) AS rn
           |  FROM keys),
           |isl AS (SELECT k - rn AS island_id,
           |    CAST(count(*) AS BIGINT) AS len
           |  FROM r GROUP BY 1)
           |SELECT len, CAST(count(*) AS BIGINT) AS n_islands,
           |  CAST(len * count(*) AS BIGINT) AS keys_covered
           |FROM isl GROUP BY len
           |ORDER BY len ASC NULLS FIRST""".stripMargin))

  def defs: Seq[QueryDef] = Seq(
    winRank, winRunning, winLeadLag, winRangeFrame, winNtilePct, winFirstLast,
    sortNulls, limitOffset, topkGroup, winSessionize, winStreak, winPattern,
    winDistinct, winConcurrency, winIntervals, winRankDelta, winAlloc,
    winRatelimit, winDrawdown, winFifo, winQueueReplay, winDebounce,
    winGapIslands)
}
