package graft.ops

import graft.{QueryDef, Tables}
import graft.Dsl._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Aggregations (SURVEY.md §2.5).
  *
  * Determinism: every money sum goes through DECIMAL(18,2) (rule D2 —
  * double accumulation is order-dependent under parallel partial
  * aggregation; decimal sums are exact and verified equal to DuckDB).
  * Derived statistics (stddev/corr) are computed from exact decimal
  * moments and converted to double only at the very end (q_agg_stats).
  *
  * Scale: groupBy on low-cardinality keys is a map-side partial aggregate
  * (HashAggregateExec partial → exchange → final) — the shuffle carries
  * one row per (key × partition), not per input row, so these plans are
  * flat in input size.
  */
object Aggregates {

  /** avg as round(exact_decimal_sum / count, 4) — identical formula in the
    * oracle SQL so both engines divide the same exact numerator.
    */
  private def avg4(sumDec: org.apache.spark.sql.Column,
                   cnt: org.apache.spark.sql.Column) =
    round(sumDec.cast("double") / cnt, 4)

  private val aggQ1 = QueryDef(
    "q_agg_q1",
    (s, d) =>
      Tables.lineitem(s, d)
        .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp_ntz"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          pinDouble(sum(dec(col("l_quantity")))).as("sum_qty"),
          pinDouble(sum(dec(col("l_extendedprice")))).as("sum_base_price"),
          pinDouble(sum(dec12(col("l_extendedprice")) * oneMinus(col("l_discount"))))
            .as("sum_disc_price"),
          pinDouble(sum(dec12(col("l_extendedprice")) * oneMinus(col("l_discount"))
            * onePlus(col("l_tax")))).as("sum_charge"),
          avg4(sum(dec(col("l_quantity"))), count(lit(1))).as("avg_qty"),
          avg4(sum(dec(col("l_extendedprice"))), count(lit(1))).as("avg_price"),
          count(lit(1)).as("count_order"))
        .orderBy(ascf("l_returnflag"), ascf("l_linestatus")),
    Some("""SELECT l_returnflag, l_linestatus,
           |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
           |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
           |  CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
           |    * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2)))) AS DOUBLE) AS sum_disc_price,
           |  CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
           |    * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2)))
           |    * (CAST(1 AS DECIMAL(3,2)) + CAST(l_tax AS DECIMAL(3,2)))) AS DOUBLE) AS sum_charge,
           |  round(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(*), 4) AS avg_qty,
           |  round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / count(*), 4) AS avg_price,
           |  count(*) AS count_order
           |FROM lineitem
           |WHERE l_shipdate <= TIMESTAMP '1998-09-02'
           |GROUP BY l_returnflag, l_linestatus
           |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin))

  /** TPC-H Q18 shape (round 7): large-volume customers — orders whose
    * total line quantity exceeds a threshold, with customer attribution.
    * Plan shape for 100 TB: the HAVING pre-aggregate is one hash shuffle
    * of lineitem on l_orderkey producing an order-sized relation; the
    * fact-side re-join runs on the SAME key, so with the aggregate
    * output left partitioned by l_orderkey the join adds no second
    * lineitem shuffle (Exchange reuse); orders joins on that key too,
    * and customer rides in as a broadcast. The top-100 is a partial
    * TakeOrdered, never a global sort.
    *
    * Determinism: quantity sums are exact DECIMAL (D2) pinned at output
    * (D9); the LIMIT order is total via the o_orderkey tiebreak (D1).
    */
  private val aggQ18 = QueryDef(
    "q_agg_q18",
    (s, d) => {
      import org.apache.spark.sql.functions.broadcast
      val big = Tables.lineitem(s, d)
        .groupBy(col("l_orderkey").as("bigkey"))
        .agg(sum(dec(col("l_quantity"))).as("oq"))
        .filter(col("oq") > 250)
        .select(col("bigkey"))
      Tables.lineitem(s, d)
        .join(big, col("l_orderkey") === col("bigkey"))
        .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(Tables.customer(s, d)
          .select(col("c_custkey"), col("c_name"))),
          col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_name"), col("c_custkey"), col("o_orderkey"),
          col("o_orderdate"), col("o_totalprice"))
        .agg(pinDouble(sum(dec(col("l_quantity")))).as("sum_qty"))
        .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
          epochUs(col("o_orderdate")).as("o_date_us"),
          col("o_totalprice"), col("sum_qty"))
        .orderBy(descl("o_totalprice"), ascf("o_orderkey"))
        .limit(100)
    },
    Some("""WITH big AS (
           |  SELECT l_orderkey AS bigkey FROM lineitem
           |  GROUP BY 1
           |  HAVING sum(CAST(l_quantity AS DECIMAL(18,2))) > 250)
           |SELECT c_name, c_custkey, o_orderkey,
           |  CAST(epoch_us(o_orderdate) AS BIGINT) AS o_date_us,
           |  o_totalprice,
           |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
           |FROM customer JOIN orders ON c_custkey = o_custkey
           |  JOIN lineitem ON o_orderkey = l_orderkey
           |  JOIN big ON o_orderkey = bigkey
           |GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
           |ORDER BY o_totalprice DESC NULLS LAST, o_orderkey ASC NULLS FIRST
           |LIMIT 100""".stripMargin))

  private val aggGlobal = QueryDef(
    "q_agg_global",
    (s, d) =>
      Tables.lineitem(s, d)
        .agg(
          count(lit(1)).as("cnt"),
          count(col("l_quantity")).as("cnt_qty"),
          min(col("l_extendedprice")).as("min_price"),
          max(col("l_extendedprice")).as("max_price"),
          pinDouble(sum(dec(col("l_extendedprice")))).as("sum_price"),
          avg4(sum(dec(col("l_extendedprice"))), count(lit(1))).as("avg_price")),
    Some("""SELECT count(*) AS cnt, count(l_quantity) AS cnt_qty,
           |  min(l_extendedprice) AS min_price, max(l_extendedprice) AS max_price,
           |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
           |  round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / count(*), 4) AS avg_price
           |FROM lineitem""".stripMargin))

  private val aggDistinct = QueryDef(
    "q_agg_distinct",
    (s, d) =>
      Tables.lineitem(s, d)
        .groupBy(col("l_returnflag"))
        .agg(
          countDistinct(col("l_partkey")).as("dist_parts"),
          countDistinct(col("l_suppkey")).as("dist_supps"),
          count(lit(1)).as("cnt"))
        .orderBy(ascf("l_returnflag")),
    Some("""SELECT l_returnflag, count(DISTINCT l_partkey) AS dist_parts,
           |  count(DISTINCT l_suppkey) AS dist_supps, count(*) AS cnt
           |FROM lineitem GROUP BY l_returnflag
           |ORDER BY l_returnflag ASC NULLS FIRST""".stripMargin))

  private val aggHaving = QueryDef(
    "q_agg_having",
    (s, d) =>
      Tables.orders(s, d)
        .groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("order_cnt"),
          pinDouble(sum(dec(col("o_totalprice")))).as("total_spent"))
        .filter(col("order_cnt") >= 12)
        .orderBy(ascf("o_custkey")),
    Some("""SELECT o_custkey, count(*) AS order_cnt,
           |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_spent
           |FROM orders GROUP BY o_custkey
           |HAVING count(*) >= 12
           |ORDER BY o_custkey ASC NULLS FIRST""".stripMargin))

  private val aggRollup = QueryDef(
    "q_agg_rollup",
    (s, d) =>
      Tables.lineitem(s, d)
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(pinDouble(sum(dec(col("l_quantity")))).as("sum_qty"),
          count(lit(1)).as("cnt"))
        .orderBy(ascf("l_returnflag"), ascf("l_linestatus")),
    Some("""SELECT l_returnflag, l_linestatus,
           |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty, count(*) AS cnt
           |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
           |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin))

  private val aggCube = QueryDef(
    "q_agg_cube",
    (s, d) =>
      Tables.lineitem(s, d)
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(pinDouble(sum(dec(col("l_quantity")))).as("sum_qty"),
          count(lit(1)).as("cnt"))
        .orderBy(ascf("l_returnflag"), ascf("l_linestatus")),
    Some("""SELECT l_returnflag, l_linestatus,
           |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty, count(*) AS cnt
           |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
           |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin))

  private val aggGsets = QueryDef(
    "q_agg_gsets",
    (s, d) =>
      Tables.lineitem(s, d)
        .groupingSets(
          Seq(Seq(col("l_returnflag")), Seq(col("l_linestatus"))),
          col("l_returnflag"), col("l_linestatus"))
        .agg(pinDouble(sum(dec(col("l_quantity")))).as("sum_qty"),
          count(lit(1)).as("cnt"))
        .orderBy(ascf("l_returnflag"), ascf("l_linestatus")),
    Some("""SELECT l_returnflag, l_linestatus,
           |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty, count(*) AS cnt
           |FROM lineitem GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
           |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin))

  /** stddev/variance/correlation from EXACT decimal moments (rule D2):
    * builtin stddev accumulates doubles in partition order and would
    * diverge from DuckDB; the moment sums are exact, so the final double
    * formula is bit-identical on both engines. x = l_quantity (integral),
    * y = l_discount (hundredths) keep the moments small and exact.
    */
  private val aggStats = QueryDef(
    "q_agg_stats",
    (s, d) => {
      // Factors cast to decimal BEFORE multiplying (never double-product →
      // decimal: that cast hits engine-specific tie-rounding, ADVICE r01).
      // The decimal sums are exact, so the double conversion and the final
      // formula are bit-identical on both engines.
      val x = dec12(col("l_quantity")); val y = pct(col("l_discount"))
      Tables.lineitem(s, d)
        .groupBy(col("l_returnflag"))
        .agg(
          count(lit(1)).as("n"),
          sum(x).cast("double").as("sx"),
          sum(x * x).cast("double").as("sxx"),
          sum(y).cast("double").as("sy"),
          sum(y * y).cast("double").as("syy"),
          sum(x * y).cast("double").as("sxy"))
        .select(
          col("l_returnflag"), col("n"),
          round((col("sxx") - col("sx") * col("sx") / col("n"))
            / (col("n") - 1), 4).as("var_qty"),
          round(sqrt((col("sxx") - col("sx") * col("sx") / col("n"))
            / (col("n") - 1)), 4).as("stddev_qty"),
          (round((col("sxy") - col("sx") * col("sy") / col("n"))
            / sqrt((col("sxx") - col("sx") * col("sx") / col("n"))
              * (col("syy") - col("sy") * col("sy") / col("n"))), 4)
            + lit(0.0)).as("corr_qty_disc"))
        .orderBy(ascf("l_returnflag"))
    },
    Some("""WITH f AS (
           |  SELECT l_returnflag,
           |    CAST(l_quantity AS DECIMAL(12,2)) AS x,
           |    CAST(l_discount AS DECIMAL(3,2)) AS y
           |  FROM lineitem),
           |m AS (
           |  SELECT l_returnflag, count(*) AS n,
           |    CAST(sum(x) AS DOUBLE) AS sx,
           |    CAST(sum(x * x) AS DOUBLE) AS sxx,
           |    CAST(sum(y) AS DOUBLE) AS sy,
           |    CAST(sum(y * y) AS DOUBLE) AS syy,
           |    CAST(sum(x * y) AS DOUBLE) AS sxy
           |  FROM f GROUP BY l_returnflag)
           |SELECT l_returnflag, n,
           |  round((sxx - sx * sx / n) / (n - 1), 4) AS var_qty,
           |  round(sqrt((sxx - sx * sx / n) / (n - 1)), 4) AS stddev_qty,
           |  round((sxy - sx * sy / n)
           |    / sqrt((sxx - sx * sx / n) * (syy - sy * sy / n)), 4) + 0.0 AS corr_qty_disc
           |FROM m
           |ORDER BY l_returnflag ASC NULLS FIRST""".stripMargin))

  /** HLL sketch — no oracle (sketch implementations are engine-specific);
    * exactness bounds are asserted in MinHashSpec instead (SURVEY.md §5.3).
    */
  private val aggApproxDistinct = QueryDef(
    "q_agg_approx_distinct",
    (s, d) =>
      Tables.lineitem(s, d)
        .groupBy(col("l_returnflag"))
        .agg(approx_count_distinct(col("l_orderkey")).as("approx_orders"))
        .orderBy(ascf("l_returnflag")),
    None)

  /** Exact interpolated percentiles: Spark `percentile` and DuckDB
    * `quantile_cont` both sort and linearly interpolate — on the
    * small-integer-valued quantity column the interpolation arithmetic
    * is exact, and round(4) absorbs any last-ulp formula difference.
    */
  private val aggPercentile = QueryDef(
    "q_agg_percentile",
    (s, d) =>
      Tables.lineitem(s, d)
        .groupBy(col("l_returnflag"))
        .agg(
          round(expr("percentile(l_quantity, 0.5)"), 4).as("p50"),
          round(expr("percentile(l_quantity, 0.9)"), 4).as("p90"),
          round(expr("percentile(l_quantity, 0.99)"), 4).as("p99"),
          count(lit(1)).as("cnt"))
        .orderBy(ascf("l_returnflag")),
    Some("""SELECT l_returnflag,
           |  round(quantile_cont(l_quantity, 0.5), 4) AS p50,
           |  round(quantile_cont(l_quantity, 0.9), 4) AS p90,
           |  round(quantile_cont(l_quantity, 0.99), 4) AS p99,
           |  count(*) AS cnt
           |FROM lineitem GROUP BY l_returnflag
           |ORDER BY l_returnflag ASC NULLS FIRST""".stripMargin))

  /** Pivot: one output column per pinned pivot value (explicit value
    * list keeps the schema static — at scale an un-pinned pivot would
    * need a driver-side distinct pass first). The oracle states the
    * equivalent conditional aggregation, which is also exactly how
    * Spark plans a pivot internally.
    */
  private val aggPivot = QueryDef(
    "q_agg_pivot",
    (s, d) =>
      Tables.lineitem(s, d)
        .groupBy(col("l_returnflag"))
        .pivot("l_linestatus", Seq("F", "O"))
        .agg(pinDouble(sum(dec(col("l_quantity")))))
        .withColumnsRenamed(Map("F" -> "qty_f", "O" -> "qty_o"))
        .orderBy(ascf("l_returnflag")),
    Some("""SELECT l_returnflag,
           |  CAST(sum(CASE WHEN l_linestatus = 'F'
           |    THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE) AS qty_f,
           |  CAST(sum(CASE WHEN l_linestatus = 'O'
           |    THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE) AS qty_o
           |FROM lineitem GROUP BY l_returnflag
           |ORDER BY l_returnflag ASC NULLS FIRST""".stripMargin))

  /** Unpivot (melt) — the inverse of q_agg_pivot: three measure columns
    * become (metric, value) rows. Raw values only, so no rounding rules
    * apply; the oracle is the dialect-safe UNION ALL expansion (which is
    * also how Spark's Expand operator executes it — one pass, no shuffle
    * until the final sort).
    */
  private val aggUnpivot = QueryDef(
    "q_agg_unpivot",
    (s, d) =>
      Tables.lineitem(s, d)
        .filter(col("l_orderkey") < 1000)
        .select(col("l_orderkey"), col("l_linenumber"),
          col("l_quantity"), col("l_extendedprice"), col("l_discount"))
        .unpivot(
          ids = Array(col("l_orderkey"), col("l_linenumber")),
          values = Array(col("l_quantity"), col("l_extendedprice"),
            col("l_discount")),
          variableColumnName = "metric",
          valueColumnName = "value")
        .orderBy(ascf("l_orderkey"), ascf("l_linenumber"),
          ascf("metric"), ascf("value")),
    Some("""SELECT l_orderkey, l_linenumber, metric, value FROM (
           |  SELECT l_orderkey, l_linenumber,
           |    'l_quantity' AS metric, l_quantity AS value
           |  FROM lineitem WHERE l_orderkey < 1000
           |  UNION ALL
           |  SELECT l_orderkey, l_linenumber,
           |    'l_extendedprice', l_extendedprice
           |  FROM lineitem WHERE l_orderkey < 1000
           |  UNION ALL
           |  SELECT l_orderkey, l_linenumber, 'l_discount', l_discount
           |  FROM lineitem WHERE l_orderkey < 1000)
           |ORDER BY l_orderkey ASC NULLS FIRST, l_linenumber ASC NULLS FIRST,
           |  metric ASC NULLS FIRST, value ASC NULLS FIRST""".stripMargin))

  /** grouping()/grouping_id exposure: disambiguates "NULL because
    * subtotal row" from "NULL because the data was NULL" in rollups —
    * part of the grouping-set surface a reference user relies on.
    */
  private val aggGrouping = QueryDef(
    "q_agg_grouping",
    (s, d) =>
      Tables.lineitem(s, d)
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("cnt"),
          grouping(col("l_returnflag")).cast("bigint").as("g_rf"),
          grouping(col("l_linestatus")).cast("bigint").as("g_ls"))
        .orderBy(ascf("g_rf"), ascf("g_ls"),
          ascf("l_returnflag"), ascf("l_linestatus")),
    Some("""SELECT l_returnflag, l_linestatus, count(*) AS cnt,
           |  CAST(grouping(l_returnflag) AS BIGINT) AS g_rf,
           |  CAST(grouping(l_linestatus) AS BIGINT) AS g_ls
           |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
           |ORDER BY g_rf ASC NULLS FIRST, g_ls ASC NULLS FIRST,
           |  l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin))

  /** Per-group MODE with a deterministic tiebreak (round 5): the modal
    * doc-length bucket (n_chars // 64, the q_profile_hist cell) per
    * language — mode is the one classic descriptive statistic the
    * surface lacked, and a bare mode() is nondeterministic under ties,
    * so the contract pins (count desc, bucket asc) and grades the
    * winner exactly.
    *
    * Scale: bucket-grain partial agg on the scan, then a window over
    * the ≤ (langs × buckets) relation — never a per-doc sort.
    */
  private val aggMode = QueryDef(
    "q_agg_mode",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val b = Tables.documents(s, d)
        .select(col("lang"), floorDiv(col("n_chars"), 64L).as("bucket"))
        .groupBy(col("lang"), col("bucket"))
        .agg(count(lit(1)).as("cnt"))
      val w = Window.partitionBy(col("lang"))
        .orderBy(descl("cnt"), ascf("bucket"))
      b.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("lang"), col("bucket").as("mode_bucket"),
          col("cnt").as("mode_cnt"))
        .orderBy(ascf("lang"))
    },
    Some("""WITH b AS (SELECT lang, n_chars // 64 AS bucket, count(*) AS cnt
           |  FROM documents GROUP BY 1, 2),
           |r AS (SELECT lang, bucket, cnt,
           |    row_number() OVER (PARTITION BY lang
           |      ORDER BY cnt DESC, bucket ASC) AS rn FROM b)
           |SELECT lang, bucket AS mode_bucket, cnt AS mode_cnt
           |FROM r WHERE rn = 1
           |ORDER BY lang ASC NULLS FIRST""".stripMargin))

  /** Bitmap/bitset aggregation (round 5): per-(user, day) behavior
    * signature as a bit_or-aggregated mask over the (small, enumerable)
    * event-type domain — click=1, error=2, purchase=4, signup=8,
    * view=16 — then a census of signature combinations. The exact-
    * bitmap twin of the approximate-distinct sketch: for domains that
    * fit a machine word, bit_or IS the distinct-set aggregate,
    * mergeable and 8 bytes per group at any scale. (The grain is
    * user-DAY, not user: over a long history every user hits every
    * type and the census collapses to one row.)
    *
    * Scale: (user, day)-grain partial agg (bit_or combines map-side),
    * then a ≤ 32-row census. Determinism: pure integer bit algebra;
    * days via exact epoch-µs floor cells (D5).
    */
  private val aggBitset = QueryDef(
    "q_agg_bitset",
    (s, d) => {
      val bit = when(col("event_type") === "click", 1L)
        .when(col("event_type") === "error", 2L)
        .when(col("event_type") === "purchase", 4L)
        .when(col("event_type") === "signup", 8L)
        .otherwise(16L)
      Tables.events(s, d)
        .select(col("user_id"),
          floorDiv(unix_micros(col("ts")), 86400000000L).as("day"),
          bit.as("b"))
        .groupBy(col("user_id"), col("day"))
        .agg(expr("bit_or(b)").as("mask"))
        .groupBy(col("mask"))
        .agg(count(lit(1)).as("n_user_days"),
          sum(col("user_id")).as("uid_checksum"))
        .withColumn("n_types", bit_count(col("mask")).cast("long"))
        .select(col("mask"), col("n_types"), col("n_user_days"),
          col("uid_checksum"))
        .orderBy(ascf("mask"))
    },
    Some("""WITH b AS (SELECT user_id,
           |    epoch_us(ts) // 86400000000 AS day,
           |    CASE event_type WHEN 'click' THEN 1 WHEN 'error' THEN 2
           |      WHEN 'purchase' THEN 4 WHEN 'signup' THEN 8
           |      ELSE 16 END AS b
           |  FROM events),
           |m AS (SELECT user_id, day, CAST(bit_or(b) AS BIGINT) AS mask
           |  FROM b GROUP BY user_id, day)
           |SELECT mask, CAST(bit_count(mask) AS BIGINT) AS n_types,
           |  count(*) AS n_user_days,
           |  CAST(sum(user_id) AS BIGINT) AS uid_checksum
           |FROM m GROUP BY mask
           |ORDER BY mask ASC NULLS FIRST""".stripMargin))

  /** Per-user Shannon entropy of the event-type distribution, bucketed
    * into a census (round 5): the label-balance / behavioral-diversity
    * statistic a training-data pipeline computes per source or per user
    * before mixing (a user whose events are all one type carries ~0
    * nats; a uniform 5-type user carries ln 5 ≈ 1.609).
    *
    * Determinism (D12 + D2): H = Σ_t (c_t/n)·ln(n/c_t) is evaluated as
    * integer-quantized per-type terms — term_e6 = floor((lnInt(n) −
    * lnInt(c)) · 1e6 · c), an IEEE-determined double product of the two
    * bit-identical [[graft.functions.DetMath]] logs, floored to BIGINT —
    * summed EXACTLY as int64 (order-free where a double Σ would be
    * order-dependent under parallel aggregation), then floor-divided by
    * n (all operands non-negative, so truncating `div` ≡ `//` ≡ floor).
    * Bucket width 0.2 nats → ≤ 9 census rows regardless of scale.
    *
    * Scale: one (user, type) partial agg on the scan, a user-grain
    * re-agg of THAT relation (never a second scan), and a ≤9-row census.
    */
  private val aggEntropy = QueryDef(
    "q_agg_entropy",
    (s, d) => {
      import graft.functions.DetMath
      val cnt = Tables.events(s, d)
        .select(col("user_id"), col("event_type"))
        .groupBy(col("user_id"), col("event_type"))
        .agg(count(lit(1)).as("c"))
      val tot = cnt.groupBy(col("user_id")).agg(sum(col("c")).as("n"))
      val h = cnt.join(tot, "user_id")
        .withColumn("term_e6",
          floor((DetMath.lnInt(col("n")) - DetMath.lnInt(col("c")))
            * lit(1000000.0) * col("c").cast("double")).cast("long"))
        .groupBy(col("user_id"), col("n"))
        .agg(sum(col("term_e6")).as("se"))
        .withColumn("h_e6", expr("se div n"))
      h.groupBy(expr("h_e6 div 200000").as("bucket"))
        .agg(count(lit(1)).as("n_users"),
          min(col("h_e6")).as("min_h_e6"), max(col("h_e6")).as("max_h_e6"))
        .orderBy(ascf("bucket"))
    },
    Some {
      import graft.functions.DetMath._
      s"""WITH c AS (SELECT user_id, event_type, count(*) AS c
         |  FROM events GROUP BY 1, 2),
         |t AS (SELECT user_id, CAST(sum(c) AS BIGINT) AS n
         |  FROM c GROUP BY 1),
         |j AS (SELECT c.user_id, c.c, t.n
         |  FROM c JOIN t ON c.user_id = t.user_id),
         |r1 AS (SELECT *, ${kSql("n")} AS kn, ${kSql("c")} AS kc FROM j),
         |r2 AS (SELECT *, ${mSql("n", "kn")} AS mn,
         |    ${mSql("c", "kc")} AS mc FROM r1),
         |r3 AS (SELECT *, ${zSql("mn")} AS zn, ${zSql("mc")} AS zc FROM r2),
         |r4 AS (SELECT *, zn * zn AS z2n, zc * zc AS z2c FROM r3),
         |r5 AS (SELECT *, ${hornerSql("z2n")} AS hn,
         |    ${hornerSql("z2c")} AS hc FROM r4),
         |tm AS (SELECT user_id, n, CAST(floor(
         |    (${lnSql("kn", "zn", "hn")} - ${lnSql("kc", "zc", "hc")})
         |      * CAST(1000000 AS DOUBLE) * CAST(c AS DOUBLE)) AS BIGINT)
         |    AS term_e6 FROM r5),
         |h AS (SELECT user_id, CAST(sum(term_e6) // n AS BIGINT)
         |    AS h_e6 FROM tm GROUP BY user_id, n)
         |SELECT CAST(h_e6 // 200000 AS BIGINT) AS bucket,
         |  count(*) AS n_users,
         |  min(h_e6) AS min_h_e6, max(h_e6) AS max_h_e6
         |FROM h GROUP BY 1
         |ORDER BY bucket ASC NULLS FIRST""".stripMargin
    })

  /** TPC-H Q14 shape (round 7): promotion revenue share per ship-month
    * — the conditional-aggregate ratio report (what fraction of revenue
    * came from PROMO parts), extended from Q14's single month to the
    * full monthly series.
    *
    * Plan shape for 100 TB: part projects (p_partkey, p_type) only and
    * BROADCASTS — the fact table never shuffles; the month-grain
    * aggregate partial-combines on the scan side, so the exchange
    * carries one row per (partition, month). Both the promo and total
    * sums come from the SAME pass (a CASE inside the aggregate), never
    * two scans.
    *
    * Determinism: revenue accumulates as exact DECIMAL (D2); both sums
    * pin to double at output (D9) and the share divides those two
    * correctly-rounded doubles — identical IEEE ops on identical
    * operands in both engines.
    */
  private val aggQ14 = QueryDef(
    "q_agg_q14",
    (s, d) => {
      val rev = dec12(col("l_extendedprice")) * oneMinus(col("l_discount"))
      val m = Tables.lineitem(s, d)
        .join(broadcast(Tables.part(s, d)
          .select(col("p_partkey"), col("p_type"))),
          col("l_partkey") === col("p_partkey"))
        .groupBy(date_trunc("month", col("l_shipdate")).as("month"))
        .agg(
          pinDouble(sum(when(col("p_type") === "PROMO", rev)
            .otherwise(lit(0).cast(org.apache.spark.sql.types
              .DecimalType(12, 2))))).as("promo_revenue"),
          pinDouble(sum(rev)).as("total_revenue"),
          count(lit(1)).as("n_items"))
      m.select(epochUs(col("month")).as("month_us"),
          col("promo_revenue"), col("total_revenue"), col("n_items"),
          (lit(100.0) * col("promo_revenue") / col("total_revenue"))
            .as("promo_share"))
        .orderBy(ascf("month_us"))
    },
    Some("""WITH m AS (SELECT date_trunc('month', l_shipdate) AS month,
           |    CAST(sum(CASE WHEN p_type = 'PROMO'
           |      THEN CAST(l_extendedprice AS DECIMAL(12,2))
           |        * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2)))
           |      ELSE CAST(0 AS DECIMAL(12,2)) END) AS DOUBLE)
           |      AS promo_revenue,
           |    CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
           |      * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2)))) AS DOUBLE)
           |      AS total_revenue,
           |    count(*) AS n_items
           |  FROM lineitem JOIN part ON l_partkey = p_partkey
           |  GROUP BY 1)
           |SELECT CAST(epoch_us(month) AS BIGINT) AS month_us,
           |  promo_revenue, total_revenue, n_items,
           |  CAST(100 AS DOUBLE) * promo_revenue / total_revenue
           |    AS promo_share
           |FROM m ORDER BY month_us ASC NULLS FIRST""".stripMargin))

  /** TPC-H Q6 shape (round 7): the forecast-revenue-change scan — a
    * single-table filter + global aggregate, and deliberately the
    * SIMPLEST plan on the surface: at 100 TB this query is pure scan
    * bandwidth (all three predicates push to the parquet scan, the
    * aggregate partial-combines per file, the exchange carries one row
    * per partition), so it is the key that benchmarks the engine's
    * floor, not its optimizer.
    *
    * Determinism: the discount band compares exact DECIMAL(3,2) values
    * (a double-literal BETWEEN would compare two engines' independently
    * parsed doubles — identical here, but the decimal spelling makes
    * the exactness structural); revenue = Σ price·discount accumulates
    * in exact decimal (D2), pinned to double at output (D9).
    */
  private val aggQ6 = QueryDef(
    "q_agg_q6",
    (s, d) => {
      val dlo = lit("0.05").cast(org.apache.spark.sql.types.DecimalType(3, 2))
      val dhi = lit("0.07").cast(org.apache.spark.sql.types.DecimalType(3, 2))
      Tables.lineitem(s, d)
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp_ntz")
          && col("l_shipdate") < lit("1997-01-01").cast("timestamp_ntz")
          && pct(col("l_discount")).between(dlo, dhi)
          && col("l_quantity") < 24)
        .agg(pinDouble(sum(dec12(col("l_extendedprice")) * pct(col("l_discount"))))
          .as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy(ascf("n_items"))
    },
    Some("""SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
           |    * CAST(l_discount AS DECIMAL(3,2))) AS DOUBLE) AS revenue,
           |  count(*) AS n_items
           |FROM lineitem
           |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
           |  AND l_shipdate < TIMESTAMP '1997-01-01'
           |  AND CAST(l_discount AS DECIMAL(3,2))
           |    BETWEEN CAST('0.05' AS DECIMAL(3,2))
           |    AND CAST('0.07' AS DECIMAL(3,2))
           |  AND l_quantity < 24
           |ORDER BY n_items ASC NULLS FIRST""".stripMargin))

  /** Gini concentration coefficient per segment (round 7): how
    * concentrated line revenue is within each returnflag slice — the
    * inequality statistic behind every "top-X% of customers drive Y% of
    * revenue" analysis, from the rank formula
    * G = (2·Σ i·x₍ᵢ₎ − (n+1)·Σx) / (n·Σx) over ascending-sorted values.
    *
    * Determinism: ranks come from a window ordered by x alone — ties
    * get arbitrary consecutive ranks, but Σ i·x is INVARIANT under
    * permutations within equal x (swapping equal values changes
    * nothing), so the statistic is total-order-free by algebra rather
    * than by tiebreak. Values are whole dollars (floorDiv of exact
    * cents) keeping Σ i·x ≈ 7.6·10¹⁶ at sf0.1 inside int64 (~10¹⁷ at
    * the 10× probe); the final ×10⁶ ratio stages through
    * DECIMAL(38,0)/HUGEINT.
    *
    * Scale: a rank statistic needs a per-group sort — the same
    * partitioned total sort a layout rewrite pays (q_lake_zorder
    * precedent); production swaps the exact ranks for the mergeable
    * quantile sketch's Lorenz approximation when a sort is too dear.
    */
  private val aggGini = QueryDef(
    "q_agg_gini",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val b = Tables.lineitem(s, d).select(col("l_returnflag").as("rf"),
        floorDiv((dec(col("l_extendedprice")) * 100).cast("long"), 100L)
          .as("x"))
      val w = Window.partitionBy(col("rf")).orderBy(ascf("x"))
      b.withColumn("i", row_number().over(w))
        .groupBy(col("rf"))
        .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
          sum(col("i") * col("x")).as("six"))
        .select(col("rf"), col("n"),
          expr("""CAST(CAST(2 * six - (n + 1) * sx AS DECIMAL(38,0))
                 | * 1000000 div (n * sx) AS BIGINT)""".stripMargin)
            .as("gini_e6"))
        .orderBy(ascf("rf"))
    },
    Some("""WITH b AS (SELECT l_returnflag AS rf,
           |    CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
           |      AS BIGINT) // 100 AS x
           |  FROM lineitem),
           |r AS (SELECT rf, x, row_number() OVER (PARTITION BY rf
           |    ORDER BY x ASC NULLS FIRST) AS i
           |  FROM b),
           |m AS (SELECT rf, CAST(count(*) AS BIGINT) AS n,
           |    CAST(sum(x) AS BIGINT) AS sx,
           |    CAST(sum(i * x) AS BIGINT) AS six
           |  FROM r GROUP BY rf)
           |SELECT rf, n,
           |  CAST(CAST(2 * six - (n + 1) * sx AS HUGEINT)
           |    * 1000000 // (n * sx) AS BIGINT) AS gini_e6
           |FROM m ORDER BY rf ASC NULLS FIRST""".stripMargin))

  /** Herfindahl–Hirschman concentration index per ship-year (round 7):
    * supplier market shares squared and summed — the antitrust /
    * supply-risk statistic (10 000 = monopoly, < 1 500 = competitive,
    * in the conventional e4-share units; here e8 since shares carry e4).
    * Complements q_agg_gini: Gini ranks WITHIN a distribution, HHI
    * measures how much of the market the top few OWN.
    *
    * Determinism: shares quantize to e4 by exact floor division of
    * cent-exact revenue (share_e4 = rev·10⁴ div total — the remainder
    * discipline every mix key uses), so hhi_e8 = Σ share² is pure
    * int64 (≤ 10⁸).
    *
    * Scale: one (year, supplier) partial agg on the scan; the share
    * step joins the year-grain total by broadcast; the census is
    * year-sized. Revenue at e2 cents ≤ 2⁶³ for any plausible SF (sum
    * of DECIMAL(18,2) stays exact far beyond).
    */
  private val aggHhi = QueryDef(
    "q_agg_hhi",
    (s, d) => {
      // scoped persist: the total re-aggregates rev — unpersisted, the
      // broadcast side re-runs the corpus agg (the r7 double-lineage
      // pattern, pre-empted at design time)
      val rev = graft.Caches.scoped(Tables.lineitem(s, d)
        .groupBy(year(col("l_shipdate")).cast("long").as("yr"),
          col("l_suppkey"))
        .agg((sum(dec(col("l_extendedprice"))) * 100).cast("long")
          .as("cents")))
      val tot = rev.groupBy(col("yr"))
        .agg(sum(col("cents")).as("total"),
          count(lit(1)).as("n_suppliers"))
      rev.join(broadcast(tot), "yr")
        .withColumn("share_e4", expr("(cents * 10000L) div total"))
        .groupBy(col("yr"), col("n_suppliers"))
        .agg(sum(col("share_e4") * col("share_e4")).as("hhi_e8"),
          max(col("share_e4")).as("top_share_e4"))
        .select(col("yr"), col("n_suppliers"), col("hhi_e8"),
          col("top_share_e4"))
        .orderBy(ascf("yr"))
    },
    Some("""WITH rev AS (SELECT
           |    CAST(extract(year FROM l_shipdate) AS BIGINT) AS yr,
           |    l_suppkey,
           |    CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) * 100
           |      AS BIGINT) AS cents
           |  FROM lineitem GROUP BY 1, 2),
           |tot AS (SELECT yr, CAST(sum(cents) AS BIGINT) AS total,
           |    CAST(count(*) AS BIGINT) AS n_suppliers
           |  FROM rev GROUP BY yr),
           |sh AS (SELECT rev.yr, tot.n_suppliers,
           |    (rev.cents * 10000) // tot.total AS share_e4
           |  FROM rev JOIN tot ON rev.yr = tot.yr)
           |SELECT yr, n_suppliers,
           |  CAST(sum(share_e4 * share_e4) AS BIGINT) AS hhi_e8,
           |  CAST(max(share_e4) AS BIGINT) AS top_share_e4
           |FROM sh GROUP BY yr, n_suppliers
           |ORDER BY yr ASC NULLS FIRST""".stripMargin))

  /** FILTER-clause aggregates (round 7): several differently-predicated
    * aggregates computed in ONE pass over the fact table — the ANSI
    * `agg(x) FILTER (WHERE p)` surface, the idiomatic replacement for N
    * self-joins or N separate scans when a report needs conditional
    * counts/sums side by side. Spark plans every filtered aggregate into
    * the same hash-aggregate operator (one scan, map-side partials, one
    * exchange on the group key), so adding a predicate column is free at
    * 100 TB where an extra corpus scan is not.
    *
    * Determinism (D10/D11): money sums in exact DECIMAL with the shared
    * q_agg_q1 cast ladder, double only at the output boundary; the
    * discount predicate compares DECIMAL(3,2) to DECIMAL(3,2) so neither
    * engine ever compares raw binary doubles against a decimal literal;
    * empty filter groups pin to 0 via coalesce on both sides.
    */
  private val aggFiltered = QueryDef(
    "q_agg_filtered",
    (s, d) =>
      Tables.lineitem(s, d)
        .groupBy(col("l_returnflag"))
        .agg(
          count(lit(1)).as("n_total"),
          expr("count(*) FILTER (WHERE l_quantity > 25)").as("n_heavy"),
          expr("count(*) FILTER (WHERE l_quantity > 25 AND l_linestatus = 'O')")
            .as("n_heavy_open"),
          coalesce(pinDouble(expr(
            "sum(CAST(l_quantity AS DECIMAL(18,2))) FILTER (WHERE l_linestatus = 'F')")),
            lit(0d)).as("qty_f"),
          coalesce(pinDouble(expr(
            """sum(CAST(l_extendedprice AS DECIMAL(12,2))
              |  * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2))))
              |FILTER (WHERE CAST(l_discount AS DECIMAL(3,2))
              |  > CAST(0.02 AS DECIMAL(3,2)))""".stripMargin)),
            lit(0d)).as("disc_revenue"))
        .orderBy(ascf("l_returnflag")),
    Some("""SELECT l_returnflag,
           |  count(*) AS n_total,
           |  count(*) FILTER (WHERE l_quantity > 25) AS n_heavy,
           |  count(*) FILTER (WHERE l_quantity > 25 AND l_linestatus = 'O')
           |    AS n_heavy_open,
           |  coalesce(CAST(sum(CAST(l_quantity AS DECIMAL(18,2)))
           |    FILTER (WHERE l_linestatus = 'F') AS DOUBLE), 0) AS qty_f,
           |  coalesce(CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
           |      * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2))))
           |    FILTER (WHERE CAST(l_discount AS DECIMAL(3,2))
           |      > CAST(0.02 AS DECIMAL(3,2))) AS DOUBLE), 0) AS disc_revenue
           |FROM lineitem
           |GROUP BY l_returnflag
           |ORDER BY l_returnflag ASC NULLS FIRST""".stripMargin))

  /** Pareto frontier / skyline (round 7): the parts no other part
    * dominates on (cheaper, bigger) — the multi-criteria shortlist
    * operator behind every "best tradeoff" query (price/quality,
    * latency/recall). A part is dominated iff some part is ≤ on price
    * and ≥ on size with at least one strict; equal (price, size) pairs
    * dominate neither and all survive.
    *
    * Scale: the corpus-sized work is ONE (price, size) group-by; the
    * frontier test then runs on the distinct-PRICE relation — per-price
    * max size, and a running max over strictly-cheaper prices via a
    * RANGE frame — so the unpartitioned window scans value-distinct
    * rows, never the table (the standard "reduce, then skyline the
    * sketch" layout; a fully partition-local skyline + merge does the
    * same thing one level deeper).
    *
    * Determinism (D1/D2): exact integer cents/sizes; the output is the
    * full frontier with duplicate multiplicity, totally ordered by
    * price.
    */
  private val aggSkyline = QueryDef(
    "q_agg_skyline",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val parts = Tables.part(s, d).select(
        (dec(col("p_retailprice")) * 100).cast("long").as("price_cents"),
        col("p_size").cast("long").as("size"))
      val g = parts.groupBy(col("price_cents"), col("size"))
        .agg(count(lit(1)).as("n_parts"))
      val pmax = parts.groupBy(col("price_cents"))
        .agg(max(col("size")).as("ms"))
      val wcm = Window.orderBy(col("price_cents"))
        .rangeBetween(Window.unboundedPreceding, -1)
      val front = pmax
        .withColumn("cm", max(col("ms")).over(wcm))
        .filter(col("cm").isNull || col("ms") > col("cm"))
      g.join(front, g("price_cents") === front("price_cents") &&
          g("size") === front("ms"))
        .select(g("price_cents"), g("size"), col("n_parts"))
        .orderBy(ascf("price_cents"))
    },
    Some("""WITH p AS (SELECT
           |    CAST(CAST(p_retailprice AS DECIMAL(18,2)) * 100 AS BIGINT)
           |      AS price_cents,
           |    CAST(p_size AS BIGINT) AS size
           |  FROM part),
           |g AS (SELECT price_cents, size, count(*) AS n_parts
           |  FROM p GROUP BY 1, 2),
           |pmax AS (SELECT price_cents, max(size) AS ms
           |  FROM p GROUP BY 1),
           |front AS (SELECT price_cents, ms FROM (
           |    SELECT price_cents, ms, max(ms) OVER (ORDER BY price_cents
           |      RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS cm
           |    FROM pmax)
           |  WHERE cm IS NULL OR ms > cm)
           |SELECT g.price_cents AS price_cents, g.size AS size,
           |    CAST(g.n_parts AS BIGINT) AS n_parts
           |FROM g JOIN front ON g.price_cents = front.price_cents
           |  AND g.size = front.ms
           |ORDER BY g.price_cents ASC NULLS FIRST""".stripMargin))

  /** Pareto / 80-20 concentration census (round 7): how many top parts
    * (by cent-exact revenue) cover 50% / 80% / 90% of total revenue —
    * the "how concentrated is the catalog" read behind inventory
    * rationalization, cache sizing, and hot-key planning (the
    * operational twin of [[aggGini]]'s statistic: Gini scores the
    * inequality, Pareto tells you WHERE to cut).
    *
    * Scale: the corpus collapses to a part-sized revenue aggregate in
    * one shuffle; the cumulative sum is `Dsl.globalCumSum` — the
    * range-partitioned two-pass prefix sum (part grain GROWS with SF,
    * so a single-partition window here was the q_lake_zorder shape;
    * VERDICT r7 watch-list, closed round 8). The minimal prefix count
    * for threshold X is Σ[100·(cum−rev) < X·total] — one conditional
    * aggregate, no second pass.
    *
    * Determinism (D1/D2): exact integer cents; the rank order
    * (rev DESC, partkey ASC) is total; threshold compares are pure
    * int64 (total ≈ 1e13 cents × 100 stays far under 2⁶³).
    */
  private val aggPareto = QueryDef(
    "q_agg_pareto",
    (s, d) => {
      val rev = Tables.lineitem(s, d)
        .groupBy(col("l_partkey"))
        .agg(sum((dec(col("l_extendedprice")) * 100).cast("long"))
          .as("rev"))
      val cum = globalCumSum(rev, "rev", "cum",
        Seq(descl("rev"), ascf("l_partkey")))
      val tot = cum.agg(sum(col("rev")).as("total"))
      cum.join(broadcast(tot))
        .agg(count(lit(1)).as("n_parts"),
          max(col("total")).as("total_cents"),
          sum(when((col("cum") - col("rev")) * 100 < col("total") * 50,
            1L).otherwise(0L)).as("top_n_50"),
          sum(when((col("cum") - col("rev")) * 100 < col("total") * 80,
            1L).otherwise(0L)).as("top_n_80"),
          sum(when((col("cum") - col("rev")) * 100 < col("total") * 90,
            1L).otherwise(0L)).as("top_n_90"))
        .orderBy(ascf("n_parts"))
    },
    Some("""WITH rev AS (SELECT l_partkey,
           |    CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100
           |      AS BIGINT)) AS BIGINT) AS rev
           |  FROM lineitem GROUP BY 1),
           |cum AS (SELECT l_partkey, rev,
           |    CAST(sum(rev) OVER (ORDER BY rev DESC, l_partkey ASC
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           |      AS BIGINT) AS cum
           |  FROM rev),
           |t AS (SELECT CAST(sum(rev) AS BIGINT) AS total FROM rev)
           |SELECT CAST(count(*) AS BIGINT) AS n_parts,
           |  CAST(max(t.total) AS BIGINT) AS total_cents,
           |  CAST(sum(CASE WHEN (cum - rev) * 100 < t.total * 50
           |    THEN 1 ELSE 0 END) AS BIGINT) AS top_n_50,
           |  CAST(sum(CASE WHEN (cum - rev) * 100 < t.total * 80
           |    THEN 1 ELSE 0 END) AS BIGINT) AS top_n_80,
           |  CAST(sum(CASE WHEN (cum - rev) * 100 < t.total * 90
           |    THEN 1 ELSE 0 END) AS BIGINT) AS top_n_90
           |FROM cum CROSS JOIN t
           |ORDER BY n_parts ASC NULLS FIRST""".stripMargin))

  /** Market-basket association rules (round 7): support, confidence,
    * and lift for same-order part-BRAND pairs — the frequent-pair
    * statistics behind "customers who bought X also bought Y"
    * (recommenders, merchandising, store layout). Brands rather than
    * raw parts keep the item vocabulary dense enough that pairs recur
    * (the standard pre-aggregation: baskets are itemsets over a
    * bounded catalog dimension). Top-15 rules by lift among pairs with
    * support ≥ 10 baskets.
    *
    * Scale: pair generation is a SELF-JOIN WITHIN each basket (a < b
    * on the distinct brands of one order) — bounded by basket size²,
    * never catalog²; item and pair counts are two hash aggregates;
    * lift needs only the broadcast 1-row basket total. This is exactly
    * the first pass of Apriori/FP-growth (pair-level), which at 100 TB
    * is the only level most production basket analyses run.
    *
    * Determinism (D2/D12): counts int64; confidence/lift in e6 by
    * floor division of non-negative ints (lift numerator n_ab·N ≤
    * 1e6·1e7 ⇒ ×1e6 stages through DECIMAL(38,0)/HUGEINT on both
    * engines); top-15 under the total order (lift DESC, a, b).
    */
  private val aggBasketLift = QueryDef(
    "q_agg_basket_lift",
    (s, d) => {
      val li = Tables.lineitem(s, d).select(col("l_orderkey"),
        col("l_partkey"))
      val p = Tables.part(s, d).select(col("p_partkey"), col("p_brand"))
      val items = graft.Caches.scoped(li
        .join(broadcast(p), col("l_partkey") === col("p_partkey"))
        .select(col("l_orderkey").as("ok"), col("p_brand").as("b"))
        .distinct())
      val nb1 = items.select(col("ok")).distinct()
        .agg(count(lit(1)).as("nbk"))
      val single = items.groupBy(col("b")).agg(count(lit(1)).as("nb"))
      // Round 11 (guide §2.3, aggregate before you shuffle): the old
      // items⋈items self-join on ok emitted every per-order brand pair
      // as a JOIN row, so all ~k²/2-per-order pair rows crossed the
      // (ba, bb) exchange. Collapsing each order to its sorted brand
      // array and expanding pairs per-row lets the (ba, bb) partial
      // aggregation run MAP-SIDE — the pair space is brand² (~300), so
      // each partition ships ≤300 partial counts instead of every pair
      // occurrence. Same multiset of (ba < bb) pairs per order, same
      // counts, one fewer items shuffle.
      val pairs = items.groupBy(col("ok"))
        .agg(sort_array(collect_list(col("b"))).as("bs"))
        .select(explode(expr(
          """flatten(transform(bs, (x, i) ->
            |  transform(slice(bs, i + 2, size(bs)),
            |    y -> struct(x as ba, y as bb))))""".stripMargin)).as("p"))
        .groupBy(col("p.ba").as("ba"), col("p.bb").as("bb"))
        .agg(count(lit(1)).as("nab"))
        .filter(col("nab") >= 10)
      pairs
        .join(broadcast(single.select(col("b").as("sa"), col("nb").as("na"))),
          col("ba") === col("sa"))
        .join(broadcast(single.select(col("b").as("sb"), col("nb").as("nb2"))),
          col("bb") === col("sb"))
        .crossJoin(broadcast(nb1))
        .select(col("ba"), col("bb"), col("nab"), col("na"),
          col("nb2").as("nb"),
          expr("(nab * 1000000) div nbk").as("support_e6"),
          expr("(nab * 1000000) div na").as("conf_a_to_b_e6"),
          expr("""cast((cast(nab as decimal(38,0)) * nbk * 1000000)
                 | div (cast(na as decimal(38,0)) * nb2) as bigint)"""
            .stripMargin).as("lift_e6"))
        .orderBy(descl("lift_e6"), ascf("ba"), ascf("bb"))
        .limit(15)
    },
    Some("""WITH items AS (SELECT DISTINCT l_orderkey AS ok, p_brand AS b
           |  FROM lineitem JOIN part ON l_partkey = p_partkey),
           |nb AS (SELECT count(DISTINCT ok) AS n FROM items),
           |single AS (SELECT b, count(*) AS cnt FROM items GROUP BY b),
           |pairs AS (SELECT x.b AS ba, y.b AS bb, count(*) AS nab
           |  FROM items x JOIN items y ON x.ok = y.ok AND x.b < y.b
           |  GROUP BY 1, 2
           |  HAVING count(*) >= 10)
           |SELECT p.ba, p.bb, p.nab,
           |  CAST(sa.cnt AS BIGINT) AS na, CAST(sb.cnt AS BIGINT) AS nb,
           |  CAST((p.nab * 1000000) // nbk.n AS BIGINT) AS support_e6,
           |  CAST((p.nab * 1000000) // sa.cnt AS BIGINT) AS conf_a_to_b_e6,
           |  CAST((CAST(p.nab AS HUGEINT) * nbk.n * 1000000)
           |    // (CAST(sa.cnt AS HUGEINT) * sb.cnt) AS BIGINT) AS lift_e6
           |FROM pairs p
           |JOIN single sa ON p.ba = sa.b
           |JOIN single sb ON p.bb = sb.b
           |CROSS JOIN nb nbk
           |ORDER BY lift_e6 DESC NULLS LAST, ba ASC NULLS FIRST,
           |  bb ASC NULLS FIRST
           |LIMIT 15""".stripMargin))

  /** Cramér's V association census (round 7): is a customer's market
    * segment associated with their nation? The χ² statistic over the
    * (segment, nation) contingency table, normalized to [0, 1] — the
    * categorical-vs-categorical twin of q_profile_corr (Pearson is for
    * numeric pairs; V is THE drift/feature-redundancy statistic for
    * categorical columns in a curation profile).
    *
    * Zero cells matter: a (segment, nation) pair that never occurs
    * still contributes (r·c/N)²-shaped mass to χ², so the table is the
    * FULL margin cross product (segments × nations, left-joined with
    * observed counts, absent → 0), not just the observed group-by.
    *
    * Scale: the only corpus-sized pass is one (seg, nat) hash
    * aggregate; margins re-aggregate that cell relation (≤ segs·nats
    * rows), the grid is a broadcast cross join of two dimension-sized
    * relations, and the final census is one global aggregate.
    *
    * Determinism (D2/D12): each cell's χ² term is ((o·N − r·c)² ·
    * 1e6) div (N·r·c) — the square stages through DECIMAL(38,0) /
    * HUGEINT (diff ≤ N² ≈ 2.25e10 at the 10× probe; squared ≈ 5e20
    * needs 128-bit before the ×1e6). Per-cell floor division is
    * engine-identical, so chi2_e6 is a pure int64 sum; only the final
    * sqrt(φ²/k) is double, from the same int on both sides.
    */
  private val aggCramersV = QueryDef(
    "q_agg_cramers_v",
    (s, d) => {
      val cust = Tables.customer(s, d)
        .select(col("c_mktsegment").as("seg"),
          col("c_nationkey").cast("long").as("nat"))
      // one corpus pass; everything below re-aggregates these cells
      val obs = graft.Caches.scoped(cust.groupBy(col("seg"), col("nat"))
        .agg(count(lit(1)).as("o")))
      val rows = obs.groupBy(col("seg")).agg(sum(col("o")).as("r"))
      val cols = obs.groupBy(col("nat")).agg(sum(col("o")).as("c"))
      val tot = obs.agg(sum(col("o")).as("n"),
        count_distinct(col("seg")).as("n_seg"),
        count_distinct(col("nat")).as("n_nat"))
      rows.crossJoin(cols)
        .join(obs, Seq("seg", "nat"), "left")
        .withColumn("o0", coalesce(col("o"), lit(0L)))
        .crossJoin(broadcast(tot))
        .withColumn("term_e6",
          expr("""cast(cast(o0 * n - r * c as decimal(38,0))
                 |  * cast(o0 * n - r * c as decimal(38,0)) * 1000000
                 |  div (cast(n as decimal(38,0)) * r * c) as bigint)"""
            .stripMargin))
        .groupBy(col("n"), col("n_seg"), col("n_nat"))
        .agg(sum(col("term_e6")).as("chi2_e6"))
        .withColumn("v2_e6",
          expr("chi2_e6 div (n * (least(n_seg, n_nat) - 1))"))
        .withColumn("cramers_v",
          sqrt(col("v2_e6").cast("double") / 1000000d))
        .select(col("n"), col("n_seg"), col("n_nat"), col("chi2_e6"),
          col("v2_e6"), col("cramers_v"))
        .orderBy(ascf("n"))
    },
    Some("""WITH obs AS (SELECT c_mktsegment AS seg,
           |    CAST(c_nationkey AS BIGINT) AS nat, count(*) AS o
           |  FROM customer GROUP BY 1, 2),
           |r AS (SELECT seg, CAST(sum(o) AS BIGINT) AS r FROM obs
           |  GROUP BY seg),
           |c AS (SELECT nat, CAST(sum(o) AS BIGINT) AS c FROM obs
           |  GROUP BY nat),
           |t AS (SELECT CAST(sum(o) AS BIGINT) AS n,
           |    CAST(count(DISTINCT seg) AS BIGINT) AS n_seg,
           |    CAST(count(DISTINCT nat) AS BIGINT) AS n_nat FROM obs),
           |cells AS (SELECT r.seg, c.nat, r.r, c.c,
           |    CAST(coalesce(obs.o, 0) AS BIGINT) AS o0
           |  FROM r CROSS JOIN c
           |  LEFT JOIN obs ON obs.seg = r.seg AND obs.nat = c.nat),
           |chi AS (SELECT t.n, t.n_seg, t.n_nat,
           |    CAST(sum(CAST(o0 * n - r * c AS HUGEINT)
           |      * CAST(o0 * n - r * c AS HUGEINT) * 1000000
           |      // (CAST(n AS HUGEINT) * r * c)) AS BIGINT) AS chi2_e6
           |  FROM cells CROSS JOIN t
           |  GROUP BY 1, 2, 3)
           |SELECT n, n_seg, n_nat, chi2_e6,
           |  CAST(chi2_e6 // (n * (least(n_seg, n_nat) - 1)) AS BIGINT)
           |    AS v2_e6,
           |  sqrt(CAST(chi2_e6 // (n * (least(n_seg, n_nat) - 1))
           |    AS DOUBLE) / 1000000) AS cramers_v
           |FROM chi ORDER BY n ASC NULLS FIRST""".stripMargin))

  /** Mann–Whitney U / Wilcoxon rank-sum census (round 7): are returned
    * ('A') line items priced differently from refused ('R') ones? The
    * nonparametric two-sample location test — the distribution-free
    * alternative to a t-test, and via AUC = U/(n₁n₂) the EXACT
    * statistic behind ROC-AUC evaluation of any scorer (the q_profile_ks
    * twin: KS compares CDFs' max gap, U compares the whole mass).
    *
    * Rank computation never sorts the corpus row-by-row: rows collapse
    * to the distinct-VALUE relation first (one hash aggregate keeping
    * per-value counts for both samples), then one window over that
    * value-distinct sketch assigns midrank mass algebraically — ties get
    * the exact average rank via 2·rank arithmetic (the doubled sum
    * 2R_A = Σ n_A(v)·(2·cum_less(v) + t(v) + 1) is integer even when
    * midranks are .5).
    *
    * Scale: the "reduce, then window the sketch" layout (q_agg_skyline
    * precedent) — the unpartitioned window scans value-distinct rows
    * (≤ distinct prices), never the table; at fleet scale that window
    * becomes a range-partitioned prefix sum.
    *
    * Determinism (D2/D12): cent-exact prices; all rank mass is int64
    * (2R_A ≤ 2n² ≈ 3.2e13 at the 10× probe); the e6 effect sizes stage
    * the ×1e6 through DECIMAL(38,0)/HUGEINT where u2·1e6 would pass
    * 2⁶³.
    */
  private val aggMannWhitney = QueryDef(
    "q_agg_mannwhitney",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val vals = Tables.lineitem(s, d)
        .filter(col("l_returnflag").isin("A", "R"))
        .select((dec(col("l_extendedprice")) * 100).cast("long").as("v"),
          when(col("l_returnflag") === "A", 1L).otherwise(0L).as("a"))
      val byVal = vals.groupBy(col("v"))
        .agg(sum(col("a")).as("na"), sum(lit(1L) - col("a")).as("nb"))
      val w = Window.orderBy(ascf("v"))
        .rowsBetween(Window.unboundedPreceding, -1)
      byVal
        .withColumn("cum_less",
          coalesce(sum(col("na") + col("nb")).over(w), lit(0L)))
        .agg(sum(col("na")).as("n_a"), sum(col("nb")).as("n_b"),
          sum(col("na") * (lit(2L) * col("cum_less") + col("na")
            + col("nb") + lit(1L))).as("r2_a"))
        .withColumn("u2_a", col("r2_a") - col("n_a") * (col("n_a") + 1L))
        .withColumn("auc_e6",
          expr("""cast(cast(u2_a as decimal(38,0)) * 1000000
                 |  div (2 * cast(n_a as decimal(38,0)) * n_b) as bigint)"""
            .stripMargin))
        .withColumn("rb_e6",
          expr("""cast(cast(u2_a as decimal(38,0)) * 1000000
                 |  div (cast(n_a as decimal(38,0)) * n_b) - 1000000
                 |  as bigint)""".stripMargin))
        .select(col("n_a"), col("n_b"), col("r2_a"), col("u2_a"),
          col("auc_e6"), col("rb_e6"))
        .orderBy(ascf("n_a"))
    },
    Some("""WITH vals AS (SELECT
           |    CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
           |      AS BIGINT) AS v,
           |    CASE WHEN l_returnflag = 'A' THEN 1 ELSE 0 END AS a
           |  FROM lineitem WHERE l_returnflag IN ('A', 'R')),
           |byval AS (SELECT v, CAST(sum(a) AS BIGINT) AS na,
           |    CAST(sum(1 - a) AS BIGINT) AS nb
           |  FROM vals GROUP BY v),
           |cum AS (SELECT v, na, nb,
           |    coalesce(CAST(sum(na + nb) OVER (ORDER BY v ASC NULLS FIRST
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           |      AS BIGINT), 0) AS cum_less
           |  FROM byval),
           |agg AS (SELECT CAST(sum(na) AS BIGINT) AS n_a,
           |    CAST(sum(nb) AS BIGINT) AS n_b,
           |    CAST(sum(na * (2 * cum_less + na + nb + 1)) AS BIGINT)
           |      AS r2_a
           |  FROM cum),
           |u AS (SELECT n_a, n_b, r2_a,
           |    r2_a - n_a * (n_a + 1) AS u2_a FROM agg)
           |SELECT n_a, n_b, r2_a, CAST(u2_a AS BIGINT) AS u2_a,
           |  CAST(CAST(u2_a AS HUGEINT) * 1000000
           |    // (2 * CAST(n_a AS HUGEINT) * n_b) AS BIGINT) AS auc_e6,
           |  CAST(CAST(u2_a AS HUGEINT) * 1000000
           |    // (CAST(n_a AS HUGEINT) * n_b) - 1000000 AS BIGINT)
           |    AS rb_e6
           |FROM u ORDER BY n_a ASC NULLS FIRST""".stripMargin))

  /** Theil-T inequality with between/within decomposition (round 7):
    * T = (1/N)Σ(x/μ)ln(x/μ) over ACTIVE suppliers' cent-exact revenue,
    * split across nations — the third member of the concentration
    * family and the only DECOMPOSABLE one: Gini ranks a distribution,
    * HHI measures the head, Theil answers "is the inequality BETWEEN
    * nations or WITHIN them" (the question every fleet/cost/skew
    * attribution actually asks). T ≈ T_between + T_within (exact
    * before quantization; each output is defined by its own floor).
    *
    * Identity used: ln(x/μ) = ln x − ln S + ln N on integers, so every
    * logarithm runs through [[graft.functions.DetMath]] (D12); the
    * between term distributes over rows as S_g(...)/N_g per member so
    * ALL three statistics come from ONE row-grain relation and one
    * staged-ln chain.
    *
    * Scale: the corpus collapses to supplier-grain revenue in one
    * partial agg; nation margins broadcast; the census is global.
    * Sums of e6 terms stage through DECIMAL(38,0)/HUGEINT (per-row
    * terms reach ~1e16 at the 10× probe).
    */
  private val aggTheil = QueryDef(
    "q_agg_theil",
    (s, d) => {
      import graft.functions.DetMath
      val rev = Tables.lineitem(s, d)
        .groupBy(col("l_suppkey"))
        .agg((sum(dec(col("l_extendedprice"))) * 100).cast("long").as("x"))
        .join(broadcast(Tables.supplier(s, d)
          .select(col("s_suppkey"), col("s_nationkey").as("nat"))),
          col("l_suppkey") === col("s_suppkey"))
      val grp = rev.groupBy(col("nat"))
        .agg(sum(col("x")).as("sg"), count(lit(1)).as("ng"))
      val tot = grp.agg(sum(col("sg")).as("stot"), sum(col("ng")).as("n"),
        count(lit(1)).as("n_groups"))
      val rows = rev.join(broadcast(grp), "nat").crossJoin(broadcast(tot))
      val lx = DetMath.lnInt(col("x"))
      val lsg = DetMath.lnInt(col("sg"))
      val lng = DetMath.lnInt(col("ng"))
      val ls = DetMath.lnInt(col("stot"))
      val ln_ = DetMath.lnInt(col("n"))
      rows
        .withColumn("t_tot", floor((lx - ls + ln_) * lit(1000000.0)
          * col("x").cast("double")).cast("long"))
        .withColumn("t_win", floor((lx - lsg + lng) * lit(1000000.0)
          * col("x").cast("double")).cast("long"))
        .withColumn("t_btw", floor((lsg - ls - lng + ln_) * lit(1000000.0)
          * (col("sg").cast("double") / col("ng").cast("double")))
          .cast("long"))
        .groupBy(col("n"), col("n_groups"), col("stot"))
        .agg(sum(col("t_tot").cast("decimal(38,0)")).as("st"),
          sum(col("t_win").cast("decimal(38,0)")).as("sw"),
          sum(col("t_btw").cast("decimal(38,0)")).as("sb"))
        .select(col("n"), col("n_groups"), col("stot").as("s_cents"),
          expr("cast(st div cast(stot as decimal(38,0)) as bigint)")
            .as("theil_e6"),
          expr("cast(sb div cast(stot as decimal(38,0)) as bigint)")
            .as("between_e6"),
          expr("cast(sw div cast(stot as decimal(38,0)) as bigint)")
            .as("within_e6"))
        .orderBy(ascf("n"))
    },
    Some {
      import graft.functions.DetMath._
      s"""WITH rev AS (SELECT l_suppkey,
         |    CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) * 100
         |      AS BIGINT) AS x
         |  FROM lineitem GROUP BY 1),
         |rn AS (SELECT rev.x, s.s_nationkey AS nat
         |  FROM rev JOIN supplier s ON rev.l_suppkey = s.s_suppkey),
         |grp AS (SELECT nat, CAST(sum(x) AS BIGINT) AS sg,
         |    CAST(count(*) AS BIGINT) AS ng
         |  FROM rn GROUP BY nat),
         |tot AS (SELECT CAST(sum(sg) AS BIGINT) AS stot,
         |    CAST(sum(ng) AS BIGINT) AS n,
         |    CAST(count(*) AS BIGINT) AS n_groups FROM grp),
         |rows_ AS (SELECT rn.x, grp.sg, grp.ng, tot.stot, tot.n,
         |    tot.n_groups
         |  FROM rn JOIN grp ON rn.nat = grp.nat CROSS JOIN tot),
         |r1 AS (SELECT *, ${kSql("x")} AS kx, ${kSql("sg")} AS ksg,
         |    ${kSql("ng")} AS kng, ${kSql("stot")} AS ks,
         |    ${kSql("n")} AS kn FROM rows_),
         |r2 AS (SELECT *, ${mSql("x", "kx")} AS mx,
         |    ${mSql("sg", "ksg")} AS msg, ${mSql("ng", "kng")} AS mng,
         |    ${mSql("stot", "ks")} AS ms, ${mSql("n", "kn")} AS mn
         |  FROM r1),
         |r3 AS (SELECT *, ${zSql("mx")} AS zx, ${zSql("msg")} AS zsg,
         |    ${zSql("mng")} AS zng, ${zSql("ms")} AS zs,
         |    ${zSql("mn")} AS zn FROM r2),
         |r4 AS (SELECT *, zx * zx AS z2x, zsg * zsg AS z2sg,
         |    zng * zng AS z2ng, zs * zs AS z2s, zn * zn AS z2n FROM r3),
         |r5 AS (SELECT *, ${hornerSql("z2x")} AS hx,
         |    ${hornerSql("z2sg")} AS hsg, ${hornerSql("z2ng")} AS hng,
         |    ${hornerSql("z2s")} AS hs, ${hornerSql("z2n")} AS hn
         |  FROM r4),
         |lns AS (SELECT x, sg, ng, stot, n, n_groups,
         |    ${lnSql("kx", "zx", "hx")} AS lx,
         |    ${lnSql("ksg", "zsg", "hsg")} AS lsg,
         |    ${lnSql("kng", "zng", "hng")} AS lng,
         |    ${lnSql("ks", "zs", "hs")} AS ls,
         |    ${lnSql("kn", "zn", "hn")} AS ln_
         |  FROM r5),
         |tm AS (SELECT n, n_groups, stot,
         |    CAST(floor((lx - ls + ln_) * CAST(1000000 AS DOUBLE)
         |      * CAST(x AS DOUBLE)) AS HUGEINT) AS t_tot,
         |    CAST(floor((lx - lsg + lng) * CAST(1000000 AS DOUBLE)
         |      * CAST(x AS DOUBLE)) AS HUGEINT) AS t_win,
         |    CAST(floor((lsg - ls - lng + ln_) * CAST(1000000 AS DOUBLE)
         |      * (CAST(sg AS DOUBLE) / CAST(ng AS DOUBLE))) AS HUGEINT)
         |      AS t_btw
         |  FROM lns)
         |SELECT n, n_groups, stot AS s_cents,
         |  CAST(sum(t_tot) // CAST(stot AS HUGEINT) AS BIGINT)
         |    AS theil_e6,
         |  CAST(sum(t_btw) // CAST(stot AS HUGEINT) AS BIGINT)
         |    AS between_e6,
         |  CAST(sum(t_win) // CAST(stot AS HUGEINT) AS BIGINT)
         |    AS within_e6
         |FROM tm GROUP BY n, n_groups, stot
         |ORDER BY n ASC NULLS FIRST""".stripMargin
    })

  /** Mutual information I(segment; nation) with marginal/joint entropies
    * and the uncertainty coefficient U(seg|nat) = I/H(seg) (round 7):
    * the information-theoretic twin of q_agg_cramers_v — χ² asks "is the
    * grid independent", MI answers "how many NATS does knowing one
    * column buy about the other", which is the statistic feature
    * selection and redundant-column pruning actually rank by, and U
    * normalizes it to [0,1] without the min(r,c)−1 shape term.
    *
    * Every statistic is one sum over the OBSERVED cell relation (zero
    * cells carry no mass in c·ln c, unlike χ² where they carry
    * (r·c/N)² — so no grid cross join here): the marginal entropies
    * distribute over cells because Σ_{cells of x} o·f(x) = r_x·f(x),
    * exactly the q_agg_theil distribute-the-group-term trick, so ONE
    * row-grain relation and one staged-ln chain yields H(X), H(Y),
    * H(X,Y), I = those three with signs, and U.
    *
    * Scale: the corpus collapses to the (seg, nat) contingency cells in
    * one partial agg; margins re-aggregate the cells and broadcast.
    *
    * Determinism (D12): all logs are DetMath staged-ln on integer
    * counts; per-cell e6 terms floor to int64 and sum through
    * DECIMAL(38,0)/HUGEINT; U is an integer division of the two sum
    * numerators (the common 1/N cancels), zero-entropy guarded
    * identically in both engines.
    */
  private val aggMutualInfo = QueryDef(
    "q_agg_mutual_info",
    (s, d) => {
      import graft.functions.DetMath
      val cust = Tables.customer(s, d)
        .select(col("c_mktsegment").as("seg"),
          col("c_nationkey").cast("long").as("nat"))
      val obs = graft.Caches.scoped(cust.groupBy(col("seg"), col("nat"))
        .agg(count(lit(1)).as("o")))
      val rx = obs.groupBy(col("seg")).agg(sum(col("o")).as("r"))
      val cy = obs.groupBy(col("nat")).agg(sum(col("o")).as("c"))
      val tot = obs.agg(sum(col("o")).as("n"), count(lit(1)).as("n_cells"))
      val j = obs.join(broadcast(rx), "seg").join(broadcast(cy), "nat")
        .crossJoin(broadcast(tot))
      val lo = DetMath.lnInt(col("o"))
      val lr = DetMath.lnInt(col("r"))
      val lc = DetMath.lnInt(col("c"))
      val ln_ = DetMath.lnInt(col("n"))
      j
        .withColumn("t_hx", floor((ln_ - lr) * lit(1000000.0)
          * col("o").cast("double")).cast("long"))
        .withColumn("t_hy", floor((ln_ - lc) * lit(1000000.0)
          * col("o").cast("double")).cast("long"))
        .withColumn("t_hxy", floor((ln_ - lo) * lit(1000000.0)
          * col("o").cast("double")).cast("long"))
        .withColumn("t_mi", floor((lo - lr - lc + ln_) * lit(1000000.0)
          * col("o").cast("double")).cast("long"))
        .groupBy(col("n"), col("n_cells"))
        .agg(sum(col("t_hx").cast("decimal(38,0)")).as("shx"),
          sum(col("t_hy").cast("decimal(38,0)")).as("shy"),
          sum(col("t_hxy").cast("decimal(38,0)")).as("shxy"),
          sum(col("t_mi").cast("decimal(38,0)")).as("smi"))
        .select(col("n"), col("n_cells"),
          expr("cast(shx div cast(n as decimal(38,0)) as bigint)")
            .as("h_seg_e6"),
          expr("cast(shy div cast(n as decimal(38,0)) as bigint)")
            .as("h_nat_e6"),
          expr("cast(shxy div cast(n as decimal(38,0)) as bigint)")
            .as("h_joint_e6"),
          expr("cast(smi div cast(n as decimal(38,0)) as bigint)")
            .as("mi_e6"),
          expr("""case when shx = 0 then 0
                 |  else cast((smi * 1000000) div shx as bigint) end"""
            .stripMargin).as("u_seg_e6"))
        .orderBy(ascf("n"))
    },
    Some {
      import graft.functions.DetMath._
      s"""WITH obs AS (SELECT c_mktsegment AS seg,
         |    CAST(c_nationkey AS BIGINT) AS nat,
         |    CAST(count(*) AS BIGINT) AS o
         |  FROM customer GROUP BY 1, 2),
         |rm AS (SELECT seg, CAST(sum(o) AS BIGINT) AS r FROM obs
         |  GROUP BY seg),
         |cm AS (SELECT nat, CAST(sum(o) AS BIGINT) AS c FROM obs
         |  GROUP BY nat),
         |t AS (SELECT CAST(sum(o) AS BIGINT) AS n,
         |    CAST(count(*) AS BIGINT) AS n_cells FROM obs),
         |j AS (SELECT obs.o, rm.r, cm.c, t.n, t.n_cells
         |  FROM obs JOIN rm USING (seg) JOIN cm USING (nat) CROSS JOIN t),
         |r1 AS (SELECT *, ${kSql("o")} AS ko, ${kSql("r")} AS kr,
         |    ${kSql("c")} AS kc, ${kSql("n")} AS kn FROM j),
         |r2 AS (SELECT *, ${mSql("o", "ko")} AS mo, ${mSql("r", "kr")} AS mr,
         |    ${mSql("c", "kc")} AS mc, ${mSql("n", "kn")} AS mn FROM r1),
         |r3 AS (SELECT *, ${zSql("mo")} AS zo, ${zSql("mr")} AS zr,
         |    ${zSql("mc")} AS zc, ${zSql("mn")} AS zn FROM r2),
         |r4 AS (SELECT *, zo * zo AS z2o, zr * zr AS z2r,
         |    zc * zc AS z2c, zn * zn AS z2n FROM r3),
         |r5 AS (SELECT *, ${hornerSql("z2o")} AS ho, ${hornerSql("z2r")} AS hr,
         |    ${hornerSql("z2c")} AS hc, ${hornerSql("z2n")} AS hn FROM r4),
         |lns AS (SELECT o, n, n_cells,
         |    ${lnSql("ko", "zo", "ho")} AS lo,
         |    ${lnSql("kr", "zr", "hr")} AS lr,
         |    ${lnSql("kc", "zc", "hc")} AS lc,
         |    ${lnSql("kn", "zn", "hn")} AS ln_
         |  FROM r5),
         |tm AS (SELECT n, n_cells,
         |    CAST(floor((ln_ - lr) * CAST(1000000 AS DOUBLE)
         |      * CAST(o AS DOUBLE)) AS HUGEINT) AS t_hx,
         |    CAST(floor((ln_ - lc) * CAST(1000000 AS DOUBLE)
         |      * CAST(o AS DOUBLE)) AS HUGEINT) AS t_hy,
         |    CAST(floor((ln_ - lo) * CAST(1000000 AS DOUBLE)
         |      * CAST(o AS DOUBLE)) AS HUGEINT) AS t_hxy,
         |    CAST(floor((lo - lr - lc + ln_) * CAST(1000000 AS DOUBLE)
         |      * CAST(o AS DOUBLE)) AS HUGEINT) AS t_mi
         |  FROM lns),
         |agg AS (SELECT n, n_cells, sum(t_hx) AS shx, sum(t_hy) AS shy,
         |    sum(t_hxy) AS shxy, sum(t_mi) AS smi
         |  FROM tm GROUP BY n, n_cells)
         |SELECT n, n_cells,
         |  CAST(shx // CAST(n AS HUGEINT) AS BIGINT) AS h_seg_e6,
         |  CAST(shy // CAST(n AS HUGEINT) AS BIGINT) AS h_nat_e6,
         |  CAST(shxy // CAST(n AS HUGEINT) AS BIGINT) AS h_joint_e6,
         |  CAST(smi // CAST(n AS HUGEINT) AS BIGINT) AS mi_e6,
         |  CAST(CASE WHEN shx = 0 THEN 0
         |    ELSE (smi * 1000000) // shx END AS BIGINT) AS u_seg_e6
         |FROM agg ORDER BY n ASC NULLS FIRST""".stripMargin
    })

  /** Welch's two-sample t-test, A-vs-R line-item prices (round 7):
    * the parametric member of the two-sample tier — q_profile_ks grades
    * the CDF gap, q_agg_mannwhitney the rank mass, this one the
    * mean-difference-in-SE-units location statistic plus the
    * Welch–Satterthwaite degrees of freedom and Cohen's d effect size
    * (the "is the shift real AND is it big" pair every A/B readout
    * reports).
    *
    * Both samples reduce in ONE conditional-aggregate pass (no second
    * scan, no pivot): n/Σx/Σx² per flag via CASE sums. Everything
    * downstream is closed-form on those six numbers — variance
    * numerators n·Σx²−(Σx)² stay exact in DECIMAL(38,0)/HUGEINT
    * (Σx² alone passes 2⁶³ at the 10× probe, and the dm numerator
    * s₁n₂−s₂n₁ passes it too, so BOTH stage through wide decimals
    * BEFORE multiplying), variances quantize to e4 int64 — NOT e6:
    * Spark's `div` always lands in BIGINT, and cent²-variance ×1e6
    * (~9e18) brushes the int64 ceiling, so e4 buys 100× headroom and
    * every later product re-stages through decimal — and t/d emerge
    * as doubles from mirrored IEEE expressions over identical int64
    * inputs (< 2⁵³, so the double conversions are exact). Integer div
    * truncates toward zero in BOTH engines (Spark `div`, DuckDB `//`
    * — verified on negatives), so the possibly-negative dm_e6 is safe.
    *
    * Scale: one partial-aggregate scan; the test itself is a 1-row
    * closed form.
    */
  private val aggTtest = QueryDef(
    "q_agg_ttest",
    (s, d) => {
      val li = Tables.lineitem(s, d)
        .filter(col("l_returnflag").isin("A", "R"))
        .select(col("l_returnflag").as("f"),
          (dec(col("l_extendedprice")) * 100).cast("long").as("x"))
        .withColumn("xd", col("x").cast("decimal(18,0)"))
      val agg = li.agg(
        sum(when(col("f") === "A", 1L).otherwise(0L)).as("n1"),
        sum(when(col("f") === "A", col("x")).otherwise(0L)).as("s1"),
        sum(when(col("f") === "A", col("xd") * col("xd"))
          .otherwise(lit(0).cast("decimal(37,0)"))).as("q1"),
        sum(when(col("f") === "R", 1L).otherwise(0L)).as("n2"),
        sum(when(col("f") === "R", col("x")).otherwise(0L)).as("s2"),
        sum(when(col("f") === "R", col("xd") * col("xd"))
          .otherwise(lit(0).cast("decimal(37,0)"))).as("q2"))
      agg
        .withColumn("v1e4", expr(
          """(cast(n1 as decimal(38,0)) * q1
            |  - cast(s1 as decimal(38,0)) * cast(s1 as decimal(38,0)))
            |  * 10000 div cast(n1 * (n1 - 1) as decimal(38,0))"""
            .stripMargin))
        .withColumn("v2e4", expr(
          """(cast(n2 as decimal(38,0)) * q2
            |  - cast(s2 as decimal(38,0)) * cast(s2 as decimal(38,0)))
            |  * 10000 div cast(n2 * (n2 - 1) as decimal(38,0))"""
            .stripMargin))
        .withColumn("a_e4", expr("v1e4 div n1"))
        .withColumn("b_e4", expr("v2e4 div n2"))
        .withColumn("se2_e4", col("a_e4") + col("b_e4"))
        .withColumn("dm_e6", expr(
          """cast((cast(s1 as decimal(38,0)) * n2
            |  - cast(s2 as decimal(38,0)) * n1) * 1000000
            |  div cast(n1 * n2 as decimal(38,0)) as bigint)""".stripMargin))
        .withColumn("sp2", expr(
          """(cast(n1 - 1 as decimal(38,0)) * v1e4
            |  + cast(n2 - 1 as decimal(38,0)) * v2e4)
            |  div (cast(n1 + n2 - 2 as decimal(38,0)) * 10000)"""
            .stripMargin))
        .withColumn("dof_e3", expr(
          """cast(case when n1 < 2 or n2 < 2 then 0 else
            |  (cast(a_e4 + b_e4 as decimal(38,0))
            |    * cast(a_e4 + b_e4 as decimal(38,0))
            |    * cast((n1 - 1) * (n2 - 1) as decimal(38,0)) * 1000)
            |  div (cast(a_e4 as decimal(38,0)) * cast(a_e4 as decimal(38,0))
            |         * (n2 - 1)
            |       + cast(b_e4 as decimal(38,0)) * cast(b_e4 as decimal(38,0))
            |         * (n1 - 1)) end as bigint)""".stripMargin))
        .select(
          col("n1").as("n_a"), col("n2").as("n_r"),
          (col("s1").cast("double") / col("n1").cast("double")).as("mean_a"),
          (col("s2").cast("double") / col("n2").cast("double")).as("mean_r"),
          col("dm_e6"),
          when(col("se2_e4") === 0, lit(0.0))
            .otherwise(col("dm_e6").cast("double")
              / (lit(10000.0) * sqrt(col("se2_e4").cast("double"))))
            .as("t_welch"),
          col("dof_e3"),
          when(col("sp2") === 0, lit(0.0))
            .otherwise(col("dm_e6").cast("double")
              / (lit(1000000.0) * sqrt(col("sp2").cast("double"))))
            .as("cohens_d"))
        .orderBy(ascf("n_a"))
    },
    Some("""WITH base AS (SELECT l_returnflag AS f,
           |    CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
           |      AS x
           |  FROM lineitem WHERE l_returnflag IN ('A', 'R')),
           |agg AS (SELECT
           |    CAST(sum(CASE WHEN f = 'A' THEN 1 ELSE 0 END) AS BIGINT)
           |      AS n1,
           |    CAST(sum(CASE WHEN f = 'A' THEN x ELSE 0 END) AS BIGINT)
           |      AS s1,
           |    sum(CASE WHEN f = 'A'
           |      THEN CAST(x AS HUGEINT) * CAST(x AS HUGEINT)
           |      ELSE CAST(0 AS HUGEINT) END) AS q1,
           |    CAST(sum(CASE WHEN f = 'R' THEN 1 ELSE 0 END) AS BIGINT)
           |      AS n2,
           |    CAST(sum(CASE WHEN f = 'R' THEN x ELSE 0 END) AS BIGINT)
           |      AS s2,
           |    sum(CASE WHEN f = 'R'
           |      THEN CAST(x AS HUGEINT) * CAST(x AS HUGEINT)
           |      ELSE CAST(0 AS HUGEINT) END) AS q2
           |  FROM base),
           |v AS (SELECT *,
           |    (CAST(n1 AS HUGEINT) * q1
           |      - CAST(s1 AS HUGEINT) * CAST(s1 AS HUGEINT))
           |      * 10000 // CAST(n1 * (n1 - 1) AS HUGEINT) AS v1e4,
           |    (CAST(n2 AS HUGEINT) * q2
           |      - CAST(s2 AS HUGEINT) * CAST(s2 AS HUGEINT))
           |      * 10000 // CAST(n2 * (n2 - 1) AS HUGEINT) AS v2e4
           |  FROM agg),
           |w AS (SELECT *,
           |    CAST(v1e4 // n1 AS BIGINT) AS a_e4,
           |    CAST(v2e4 // n2 AS BIGINT) AS b_e4,
           |    CAST((CAST(s1 AS HUGEINT) * n2 - CAST(s2 AS HUGEINT) * n1)
           |      * 1000000 // CAST(n1 * n2 AS HUGEINT) AS BIGINT) AS dm_e6,
           |    CAST((CAST(n1 - 1 AS HUGEINT) * v1e4
           |        + CAST(n2 - 1 AS HUGEINT) * v2e4)
           |      // (CAST(n1 + n2 - 2 AS HUGEINT) * 10000) AS BIGINT)
           |      AS sp2
           |  FROM v),
           |x2 AS (SELECT *, a_e4 + b_e4 AS se2_e4,
           |    CAST(CASE WHEN n1 < 2 OR n2 < 2 THEN 0 ELSE
           |      (CAST(a_e4 + b_e4 AS HUGEINT)
           |        * CAST(a_e4 + b_e4 AS HUGEINT)
           |        * CAST((n1 - 1) * (n2 - 1) AS HUGEINT) * 1000)
           |      // (CAST(a_e4 AS HUGEINT) * CAST(a_e4 AS HUGEINT)
           |            * (n2 - 1)
           |          + CAST(b_e4 AS HUGEINT) * CAST(b_e4 AS HUGEINT)
           |            * (n1 - 1)) END AS BIGINT) AS dof_e3
           |  FROM w)
           |SELECT n1 AS n_a, n2 AS n_r,
           |  CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE) AS mean_a,
           |  CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE) AS mean_r,
           |  dm_e6,
           |  CASE WHEN se2_e4 = 0 THEN 0.0
           |    ELSE CAST(dm_e6 AS DOUBLE)
           |      / (CAST(10000 AS DOUBLE) * sqrt(CAST(se2_e4 AS DOUBLE)))
           |    END AS t_welch,
           |  dof_e3,
           |  CASE WHEN sp2 = 0 THEN 0.0
           |    ELSE CAST(dm_e6 AS DOUBLE)
           |      / (CAST(1000000 AS DOUBLE) * sqrt(CAST(sp2 AS DOUBLE)))
           |    END AS cohens_d
           |FROM x2 ORDER BY n_a ASC NULLS FIRST""".stripMargin))

  /** Grouped Spearman rank correlation (round 7): per nation, the
    * rank correlation between a supplier's account balance and its
    * realized line-item revenue — "does capital predict throughput?"
    * as the distribution-free counterpart of q_profile_corr's Pearson
    * (monotone association, immune to the heavy right tail revenue
    * has). Completes the correlation tier: Pearson (linear), Kendall-
    * free Spearman (monotone), Mann–Whitney (two-sample location).
    *
    * Exact midranks via the q_agg_mannwhitney identity: 2·midrank =
    * 2·rank() + ties − 1, so u,v stay int64 with no half-units; rho is
    * then Pearson on (u, v) — the doubled scale cancels algebraically,
    * so no correction term exists to drift. Moments n·Σuv−Σu·Σv etc.
    * are exact int64 (u ≤ 2n, so n·Σu² ≤ 4n⁴ ≈ 1e11 even at the 10×
    * probe's n=400 — far under 2⁵³); rho emerges as a double from the
    * MIRRORED IEEE expression num/(sqrt(d1)·sqrt(d2)) over identical
    * int64 inputs (the q_profile_corr discipline: sqrt/mul/div are
    * each correctly rounded, identical operands ⇒ identical bits).
    * Groups with a zero denominator (constant ranks) pin rho = 0 by
    * CASE on both engines.
    *
    * Scale: the corpus collapses to supplier grain in ONE partial agg
    * (revenue per suppkey — map-side combinable); ranking windows run
    * on the supplier-sized relation partitioned BY NATION (parallel
    * across groups, never a global sort); nation names broadcast.
    *
    * Determinism (D1/D2): cents exact via DECIMAL staging; ranks and
    * moments all int64; nations total-ordered by name.
    */
  private val aggSpearman = QueryDef(
    "q_agg_spearman",
    (s, d) => {
      val rev = Tables.lineitem(s, d)
        .groupBy(col("l_suppkey"))
        .agg(sum((dec(col("l_extendedprice")) * 100).cast("long"))
          .as("rev"))
      val sup = Tables.supplier(s, d)
        .select(col("s_suppkey"), col("s_nationkey"),
          (dec(col("s_acctbal")) * 100).cast("long").as("bal"))
      val base = sup
        .join(rev, col("s_suppkey") === col("l_suppkey"), "left")
        .select(col("s_nationkey").as("nk"), col("bal"),
          coalesce(col("rev"), lit(0L)).as("rv"))
      val wb = Window.partitionBy(col("nk")).orderBy(ascf(col("bal")))
      val wr = Window.partitionBy(col("nk")).orderBy(ascf(col("rv")))
      val ranked = base
        .withColumn("u", (lit(2L) * rank().over(wb)
          + count(lit(1)).over(Window.partitionBy(col("nk"), col("bal")))
          - 1L).cast("long"))
        .withColumn("v", (lit(2L) * rank().over(wr)
          + count(lit(1)).over(Window.partitionBy(col("nk"), col("rv")))
          - 1L).cast("long"))
      val m = ranked.groupBy(col("nk")).agg(
        count(lit(1)).as("n_sup"),
        sum(col("u")).as("su"), sum(col("v")).as("sv"),
        sum(col("u") * col("u")).as("suu"),
        sum(col("v") * col("v")).as("svv"),
        sum(col("u") * col("v")).as("suv"))
      val nat = broadcast(Tables.nation(s, d)
        .select(col("n_nationkey"), col("n_name")))
      m.join(nat, col("nk") === col("n_nationkey"))
        .withColumn("num", col("n_sup") * col("suv") - col("su") * col("sv"))
        .withColumn("d1", col("n_sup") * col("suu") - col("su") * col("su"))
        .withColumn("d2", col("n_sup") * col("svv") - col("sv") * col("sv"))
        .select(col("n_name"), col("n_sup"), col("num"), col("d1"),
          col("d2"),
          when(col("d1") === 0 || col("d2") === 0, lit(0.0))
            .otherwise(col("num").cast("double")
              / (sqrt(col("d1").cast("double"))
                * sqrt(col("d2").cast("double")))).as("rho"))
        .orderBy(ascf("n_name"))
    },
    Some("""WITH rev AS (SELECT l_suppkey,
           |    CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
           |      AS BIGINT)) AS BIGINT) AS rev
           |  FROM lineitem GROUP BY l_suppkey),
           |base AS (SELECT s_nationkey AS nk,
           |    CAST(CAST(s_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT)
           |      AS bal,
           |    CAST(coalesce(rev, 0) AS BIGINT) AS rv
           |  FROM supplier LEFT JOIN rev ON s_suppkey = l_suppkey),
           |ranked AS (SELECT nk,
           |    CAST(2 * rank() OVER (PARTITION BY nk ORDER BY bal ASC)
           |      + count(*) OVER (PARTITION BY nk, bal) - 1 AS BIGINT)
           |      AS u,
           |    CAST(2 * rank() OVER (PARTITION BY nk ORDER BY rv ASC)
           |      + count(*) OVER (PARTITION BY nk, rv) - 1 AS BIGINT)
           |      AS v
           |  FROM base),
           |m AS (SELECT nk, CAST(count(*) AS BIGINT) AS n_sup,
           |    CAST(sum(u) AS BIGINT) AS su, CAST(sum(v) AS BIGINT) AS sv,
           |    CAST(sum(u * u) AS BIGINT) AS suu,
           |    CAST(sum(v * v) AS BIGINT) AS svv,
           |    CAST(sum(u * v) AS BIGINT) AS suv
           |  FROM ranked GROUP BY nk)
           |SELECT n_name, n_sup,
           |  CAST(n_sup * suv - su * sv AS BIGINT) AS num,
           |  CAST(n_sup * suu - su * su AS BIGINT) AS d1,
           |  CAST(n_sup * svv - sv * sv AS BIGINT) AS d2,
           |  CASE WHEN n_sup * suu - su * su = 0
           |      OR n_sup * svv - sv * sv = 0 THEN 0.0
           |    ELSE CAST(n_sup * suv - su * sv AS DOUBLE)
           |      / (sqrt(CAST(n_sup * suu - su * su AS DOUBLE))
           |        * sqrt(CAST(n_sup * svv - sv * sv AS DOUBLE))) END
           |    AS rho
           |FROM m JOIN nation ON nk = n_nationkey
           |ORDER BY n_name ASC NULLS FIRST""".stripMargin))

  /** Exponentially time-decayed activity counters (round 7): per
    * (event type, user shard), Σ 2^(−age_weeks) at the corpus's max
    * day — the feature-store "decayed engagement" counter that makes
    * recent activity dominate without a cutoff cliff (a plain count
    * weights a 30-day-old event like yesterday's; a window drops it
    * entirely; exponential decay is the standard middle, and HALVING
    * per week makes it EXACT: weight_e6 = 10⁶ shifted right by the
    * integer week age — dyadic decay needs no transcendental function
    * and no rounding contract at all).
    *
    * The decayed counter is also the MAINTAINABLE one at scale:
    * tomorrow's score = today's score halved (plus today's events), so
    * the nightly job is state-sized, never a history re-scan — the
    * q_agg_incremental argument applied to recency weighting. Graded
    * here as the direct whole-corpus computation.
    *
    * Determinism: age = (max_day − day) via integer epoch-day
    * floor-div; shift capped at 62 (beyond that the weight is 0 in
    * both engines anyway — 10⁶ < 2²⁰); all-integer sums; 1-row max
    * sketch cross-joined (zorder pattern).
    */
  private val aggDecay = QueryDef(
    "q_agg_decay",
    (s, d) => {
      val ev = Tables.events(s, d)
        .select(col("event_type"), col("user_id"),
          floorDiv(unix_micros(col("ts")), 86400000000L).as("day"))
      val mx = ev.agg(max(col("day")).as("mxd"))
      ev.crossJoin(broadcast(mx))
        .withColumn("wk", expr("least((mxd - day) div 7, 62L)"))
        .withColumn("w_e6", expr("1000000L div (1L << cast(wk as int))"))
        .groupBy(col("event_type"),
          pmod(col("user_id"), lit(16L)).as("shard"))
        .agg(count(lit(1)).as("n_events"),
          sum(col("w_e6")).as("score_e6"),
          max(col("day")).as("last_day"),
          sum(when(col("wk") === 0, 1L).otherwise(0L)).as("n_this_week"))
        .orderBy(ascf("event_type"), ascf("shard"))
    },
    Some("""WITH ev AS (SELECT event_type, user_id,
           |    epoch_us(ts) // 86400000000 AS day FROM events),
           |mx AS (SELECT max(day) AS mxd FROM ev),
           |wk AS (SELECT event_type, user_id, day,
           |    least((mxd - day) // 7, 62) AS wk
           |  FROM ev CROSS JOIN mx)
           |SELECT event_type, user_id % 16 AS shard,
           |  CAST(count(*) AS BIGINT) AS n_events,
           |  CAST(sum(1000000 // (CAST(1 AS BIGINT) << CAST(wk AS INTEGER)))
           |    AS BIGINT) AS score_e6,
           |  CAST(max(day) AS BIGINT) AS last_day,
           |  CAST(sum(CASE WHEN wk = 0 THEN 1 ELSE 0 END) AS BIGINT)
           |    AS n_this_week
           |FROM wk GROUP BY 1, 2
           |ORDER BY event_type ASC NULLS FIRST, shard ASC NULLS FIRST"""
      .stripMargin))

  /** Lorenz curve deciles (round 7): the inequality CURVE behind the
    * q_agg_gini scalar — customers ranked by total spend, cut into ten
    * equal-count deciles, and for each decile the cumulative share of
    * all revenue earned by customers up to and including it. The gini
    * key answers "how unequal" in one number; this key is the artifact
    * an analyst actually plots (and the 80/20 q_agg_pareto cut is one
    * point on it).
    *
    * Scale: one orders pass to customer grain; the decile cut is
    * `Dsl.globalNtile` — a range-partitioned two-pass assignment, no
    * single-partition window over the SF-growing customer grain
    * (VERDICT r7 watch-list, closed round 8) — then all curve math on
    * the 10-row decile sketch (the grand total rides a broadcast-size
    * window over 10 rows).
    *
    * Determinism (D1/D2): spend in exact cents; ntile over the total
    * (spend, custkey) order; share_e6/cum_share_e6 trunc-div.
    */
  private val aggLorenz = QueryDef(
    "q_agg_lorenz",
    (s, d) => {
      val spend = Tables.orders(s, d)
        .groupBy(col("o_custkey"))
        .agg((sum(dec(col("o_totalprice"))) * 100).cast("long").as("cents"))
      // customer grain grows with SF — the decile cut is Dsl.globalNtile
      // (range-partitioned two-pass), not a single-partition window
      // (VERDICT r7 watch-list, closed round 8)
      val ranked = globalNtile(spend, 10, "decile10",
          Seq(ascf("cents"), ascf("o_custkey")))
        .withColumn("decile", col("decile10").cast("long"))
      val dec10 = ranked.groupBy(col("decile"))
        .agg(count(lit(1)).as("n_customers"),
          sum(col("cents")).as("decile_cents"))
      val w = Window.orderBy(ascf("decile"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wAll = Window.orderBy(ascf("decile"))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      dec10
        .withColumn("cum_cents", sum(col("decile_cents")).over(w))
        .withColumn("total_cents", sum(col("decile_cents")).over(wAll))
        .select(col("decile"), col("n_customers"), col("decile_cents"),
          // e6 share numerators in DECIMAL(38,0)/HUGEINT (round 12, the
          // batch-117 overflow pattern): cents sums reach ~2.3e12 at
          // sf0.1, so `cents * 1e6` crosses int64 at ~4× that scale —
          // the 10× ScaleProbe crashed exactly here (ARITHMETIC_OVERFLOW
          // under ANSI mode). Values at every graded SF are unchanged.
          expr("""CAST(CAST(decile_cents AS DECIMAL(38,0)) * 1000000
                 | div total_cents AS BIGINT)""".stripMargin).as("share_e6"),
          expr("""CAST(CAST(cum_cents AS DECIMAL(38,0)) * 1000000
                 | div total_cents AS BIGINT)""".stripMargin).as("cum_share_e6"))
        .orderBy(ascf("decile"))
    },
    Some("""WITH sp AS (SELECT o_custkey,
           |    CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100
           |      AS BIGINT) AS cents
           |  FROM orders GROUP BY 1),
           |r AS (SELECT cents, ntile(10) OVER (
           |    ORDER BY cents ASC, o_custkey ASC) AS decile FROM sp),
           |d AS (SELECT CAST(decile AS BIGINT) AS decile,
           |    CAST(count(*) AS BIGINT) AS n_customers,
           |    CAST(sum(cents) AS BIGINT) AS decile_cents
           |  FROM r GROUP BY 1),
           |c AS (SELECT *,
           |    CAST(sum(decile_cents) OVER (ORDER BY decile ASC
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           |      AS BIGINT) AS cum_cents,
           |    CAST(sum(decile_cents) OVER () AS BIGINT) AS total_cents
           |  FROM d)
           |SELECT decile, n_customers, decile_cents,
           |  CAST(CAST(decile_cents AS HUGEINT) * 1000000 // total_cents
           |    AS BIGINT) AS share_e6,
           |  CAST(CAST(cum_cents AS HUGEINT) * 1000000 // total_cents
           |    AS BIGINT) AS cum_share_e6
           |FROM c
           |ORDER BY decile ASC NULLS FIRST""".stripMargin))

  /** CUPED variance reduction (round 7): the A/B-testing workhorse —
    * adjust each user's experiment-period metric y by their
    * PRE-period metric x (adj = y − θx with θ = cov(x,y)/var(x)), which
    * provably shrinks variance by the squared correlation while leaving
    * treatment-effect estimates unbiased. Pre = each user's first-15-day
    * spend-weighted event value, post = the rest; variant = user mod 2
    * (an A/A split — the graded quantity is the MACHINERY: θ, the
    * adjusted sums, and the achieved variance-reduction ratio, which
    * the spec cross-checks against ρ²).
    *
    * Scale: two user-grain partial aggs (one scan); θ's moment sums are
    * global scalars broadcast back; the adjusted census is one more
    * pass over user-grain rows. All the fleet-scale cost is the scan —
    * exactly how experiment platforms compute CUPED nightly.
    *
    * Determinism (D2): cents-exact metrics; θ cleared of denominators
    * (θ_num = nΣxy−ΣxΣy, θ_den = nΣx²−(Σx)²) through DECIMAL(38,0)/
    * HUGEINT and truncated to θ_e6 once; adjusted values are then exact
    * int64 e6 quantities; the variance-reduction ratio divides two
    * decimal-staged second moments to one e6 int.
    */
  private val aggCuped = QueryDef(
    "q_agg_cuped",
    (s, d) => {
      val ev = Tables.events(s, d)
        .select(col("user_id"),
          floorDiv(unix_micros(col("ts")), 86400000000L).as("day"),
          (dec(col("value")) * 100).cast("long").as("cents"))
      val firstDay = ev.agg(min(col("day")).as("d0"))
      val users = graft.Caches.scoped(ev.crossJoin(broadcast(firstDay))
        .groupBy(col("user_id"))
        .agg(sum(when(col("day") < col("d0") + 15, col("cents"))
            .otherwise(0L)).as("x"),
          sum(when(col("day") >= col("d0") + 15, col("cents"))
            .otherwise(0L)).as("y")))
      val theta = users.agg(count(lit(1)).as("n"),
          sum(col("x")).as("sx"), sum(col("y")).as("sy"),
          sum(col("x") * col("x")).as("sxx"),
          sum(col("x") * col("y")).as("sxy"))
        .select(expr(
          """CAST((CAST(n AS DECIMAL(38,0)) * sxy
            |  - CAST(sx AS DECIMAL(38,0)) * sy) * 1000000
            |  div (CAST(n AS DECIMAL(38,0)) * sxx
            |  - CAST(sx AS DECIMAL(38,0)) * sx) AS BIGINT)"""
            .stripMargin).as("theta_e6"))
      users.crossJoin(broadcast(theta))
        .select(pmod(col("user_id"), lit(2L)).as("variant"),
          col("y"), col("theta_e6"),
          (col("y") * 1000000L - col("theta_e6") * col("x")).as("adj"))
        // rescale e6→e3 BEFORE squaring: the second moments of the e6
        // quantities overflow even DECIMAL(38)/HUGEINT at the 10x probe
        // (n·Σadj² ≈ 2·10³⁸); both engines rescale identically so the
        // ratio is still exact to its printed precision
        .withColumn("adjk", expr("adj div 1000"))
        .withColumn("yk", col("y") * 1000L)
        .groupBy(col("variant"))
        .agg(count(lit(1)).as("n_users"),
          sum(col("y")).as("y_sum_cents"),
          sum(col("adj")).as("adj_sum_e6"),
          max(col("theta_e6")).as("theta_e6"),
          expr(
            """CAST((CAST(count(1) AS DECIMAL(38,0))
              |    * sum(CAST(adjk AS DECIMAL(38,0)) * adjk)
              |  - CAST(sum(adjk) AS DECIMAL(38,0)) * sum(adjk)) * 1000000
              |  div (CAST(count(1) AS DECIMAL(38,0))
              |    * sum(CAST(yk AS DECIMAL(38,0)) * yk)
              |  - CAST(sum(yk) AS DECIMAL(38,0)) * sum(yk))
              |  AS BIGINT)""".stripMargin).as("var_ratio_e6"))
        .orderBy(ascf("variant"))
    },
    Some("""WITH e AS (SELECT user_id,
           |    epoch_us(ts) // 86400000000 AS day,
           |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
           |  FROM events),
           |d0 AS (SELECT min(day) AS d0 FROM e),
           |u AS (SELECT user_id,
           |    CAST(sum(CASE WHEN day < d0.d0 + 15 THEN cents ELSE 0 END)
           |      AS BIGINT) AS x,
           |    CAST(sum(CASE WHEN day >= d0.d0 + 15 THEN cents ELSE 0 END)
           |      AS BIGINT) AS y
           |  FROM e, d0 GROUP BY user_id),
           |th AS (SELECT CAST((CAST(count(*) AS HUGEINT) * sum(x * y)
           |    - CAST(sum(x) AS HUGEINT) * sum(y)) * 1000000
           |    // (CAST(count(*) AS HUGEINT) * sum(x * x)
           |    - CAST(sum(x) AS HUGEINT) * sum(x)) AS BIGINT) AS theta_e6
           |  FROM u),
           |a AS (SELECT user_id % 2 AS variant, y, th.theta_e6,
           |    y * 1000000 - th.theta_e6 * x AS adj,
           |    (y * 1000000 - th.theta_e6 * x) // 1000 AS adjk,
           |    y * 1000 AS yk
           |  FROM u, th)
           |SELECT variant, CAST(count(*) AS BIGINT) AS n_users,
           |  CAST(sum(y) AS BIGINT) AS y_sum_cents,
           |  CAST(sum(adj) AS BIGINT) AS adj_sum_e6,
           |  CAST(max(theta_e6) AS BIGINT) AS theta_e6,
           |  CAST((CAST(count(*) AS HUGEINT)
           |      * sum(CAST(adjk AS HUGEINT) * adjk)
           |    - CAST(sum(adjk) AS HUGEINT) * sum(adjk)) * 1000000
           |    // (CAST(count(*) AS HUGEINT)
           |      * sum(CAST(yk AS HUGEINT) * yk)
           |    - CAST(sum(yk) AS HUGEINT) * sum(yk))
           |    AS BIGINT) AS var_ratio_e6
           |FROM a GROUP BY variant
           |ORDER BY variant ASC NULLS FIRST""".stripMargin))

  /** Empirical-Bayes rate shrinkage (round 7): per-part return rates
    * smoothed toward the prior (k+α)/(n+α+β) with a fixed α=β=25
    * pseudo-count prior — the CTR/conversion-rate smoothing every
    * ranking system applies so a 1-for-1 part doesn't outrank a
    * 900-for-1000 one. The census grades the smoothing MECHANICS per
    * brand: raw pooled rate, mean shrunk rate, how many parts sit at a
    * raw extreme (0 or 1 — exactly the rows shrinkage exists to fix),
    * and the largest absolute raw→shrunk shift.
    *
    * Scale: one lineitem scan to (part) grain with map-side combine, a
    * broadcast part→brand dim, brand-sized census — the nightly
    * feature-store job shape.
    *
    * Determinism (D1/D2): pure integer counting; all rates e6 by
    * trunc-div; max-shift via abs of exact e6 ints.
    */
  private val aggBayesShrink = QueryDef(
    "q_agg_bayes_shrink",
    (s, d) => {
      val pk = Tables.lineitem(s, d)
        .groupBy(col("l_partkey"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("l_returnflag") === "R", 1L).otherwise(0L))
            .as("k"))
        .withColumn("raw_e6", expr("k * 1000000 div n"))
        .withColumn("shrunk_e6",
          expr("(k + 25) * 1000000 div (n + 50)"))
      pk.join(broadcast(Tables.part(s, d)
          .select(col("p_partkey"), col("p_brand"))),
          col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand"))
        .agg(count(lit(1)).as("n_parts"),
          sum(col("n")).as("n_lines"),
          sum(col("k")).as("n_returned"),
          expr("sum(k) * 1000000 div sum(n)").as("raw_pooled_e6"),
          expr("sum(shrunk_e6) div count(1)").as("mean_shrunk_e6"),
          sum(when(col("raw_e6") === 0L || col("raw_e6") === 1000000L, 1L)
            .otherwise(0L)).as("n_extreme_raw"),
          max(abs(col("shrunk_e6") - col("raw_e6"))).as("max_shift_e6"))
        .orderBy(ascf("p_brand"))
    },
    Some("""WITH pk AS (SELECT l_partkey, count(*) AS n,
           |    CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
           |      AS BIGINT) AS k
           |  FROM lineitem GROUP BY 1),
           |r AS (SELECT l_partkey, n, k,
           |    k * 1000000 // n AS raw_e6,
           |    (k + 25) * 1000000 // (n + 50) AS shrunk_e6
           |  FROM pk)
           |SELECT p.p_brand AS p_brand,
           |  CAST(count(*) AS BIGINT) AS n_parts,
           |  CAST(sum(r.n) AS BIGINT) AS n_lines,
           |  CAST(sum(r.k) AS BIGINT) AS n_returned,
           |  CAST(sum(r.k) * 1000000 // sum(r.n) AS BIGINT)
           |    AS raw_pooled_e6,
           |  CAST(sum(r.shrunk_e6) // count(*) AS BIGINT)
           |    AS mean_shrunk_e6,
           |  CAST(sum(CASE WHEN r.raw_e6 = 0 OR r.raw_e6 = 1000000
           |    THEN 1 ELSE 0 END) AS BIGINT) AS n_extreme_raw,
           |  CAST(max(abs(r.shrunk_e6 - r.raw_e6)) AS BIGINT)
           |    AS max_shift_e6
           |FROM r JOIN part p ON r.l_partkey = p.p_partkey
           |GROUP BY p.p_brand
           |ORDER BY p_brand ASC NULLS FIRST""".stripMargin))

  /** Hierarchy subtree rollup via ancestor-path explosion (round 7):
    * the org-chart / bill-of-materials aggregate — every node's revenue
    * summed over its ENTIRE subtree. The hierarchy is the synthetic
    * decimal 10-ary tree over custkeys (parent = key div 10; keys 1–9
    * are roots; custkey 0 — whose consistent ancestry would need
    * unbounded depth — is excluded by the anc ≥ 1 filter in BOTH
    * engines), and the plan is the warehouse-native one: instead of
    * iterating levels (or a recursive CTE), each node EXPLODES its ≤ 5
    * ancestor prefixes (key div 10^k) and one groupBy(ancestor) folds
    * every subtree simultaneously — the flattened-hierarchy rollup that
    * replaces CONNECT BY at scale. The census grades per depth: node
    * count, total subtree revenue, and the largest subtree by size and
    * by revenue (depth = digit-count − 1, pinning the ancestor
    * arithmetic from a second direction).
    *
    * Scale: ancestor explosion is ×depth (≤ 5 here, ≤ ~20 for any real
    * hierarchy), then ONE partial-agg'd shuffle keyed by ancestor —
    * O(nodes·depth) total, no iteration, no per-level barrier; the
    * revenue base is one orders pass.
    *
    * Determinism (D1/D2): exact cents; integer div-10^k ancestors;
    * depth census under total order.
    */
  private val aggHierarchy = QueryDef(
    "q_agg_hierarchy",
    (s, d) => {
      val rev = Tables.orders(s, d)
        .groupBy(col("o_custkey").as("ck"))
        .agg((sum(dec(col("o_totalprice"))) * 100).cast("long")
          .as("cents"))
      val base = graft.Caches.scoped(Tables.customer(s, d)
        .select(col("c_custkey").as("ck"))
        .join(rev, Seq("ck"), "left")
        .select(col("ck"), coalesce(col("cents"), lit(0L)).as("cents")))
      val sub = base
        .select(explode(expr(
          """filter(transform(sequence(0, 4),
            |  k -> ck div cast(pow(10, k) as bigint)), a -> a >= 1)"""
            .stripMargin)).as("anc"), col("cents"))
        .groupBy(col("anc"))
        .agg(count(lit(1)).as("subtree_size"),
          sum(col("cents")).as("subtree_cents"))
      base.select(col("ck")).join(sub, col("ck") === col("anc"))
        .withColumn("depth", (length(col("ck").cast("string")) - 1)
          .cast("long"))
        .groupBy(col("depth"))
        .agg(count(lit(1)).as("n_nodes"),
          sum(col("subtree_cents")).as("sum_subtree_cents"),
          max(col("subtree_size")).as("max_subtree_size"),
          max(col("subtree_cents")).as("max_subtree_cents"))
        .orderBy(ascf("depth"))
    },
    Some("""WITH rev AS (SELECT o_custkey AS ck,
           |    CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100
           |      AS BIGINT) AS cents
           |  FROM orders GROUP BY 1),
           |base AS (SELECT c.c_custkey AS ck,
           |    CAST(coalesce(rev.cents, 0) AS BIGINT) AS cents
           |  FROM customer c LEFT JOIN rev ON c.c_custkey = rev.ck),
           |anc AS (SELECT b.ck // CAST(pow(10, t.k) AS BIGINT) AS anc,
           |    b.cents
           |  FROM base b CROSS JOIN range(0, 5) t(k)
           |  WHERE b.ck // CAST(pow(10, t.k) AS BIGINT) >= 1),
           |sub AS (SELECT anc, CAST(count(*) AS BIGINT) AS subtree_size,
           |    CAST(sum(cents) AS BIGINT) AS subtree_cents
           |  FROM anc GROUP BY anc)
           |SELECT CAST(length(CAST(b.ck AS VARCHAR)) - 1 AS BIGINT)
           |    AS depth,
           |  CAST(count(*) AS BIGINT) AS n_nodes,
           |  CAST(sum(s.subtree_cents) AS BIGINT) AS sum_subtree_cents,
           |  CAST(max(s.subtree_size) AS BIGINT) AS max_subtree_size,
           |  CAST(max(s.subtree_cents) AS BIGINT) AS max_subtree_cents
           |FROM base b JOIN sub s ON b.ck = s.anc
           |GROUP BY 1
           |ORDER BY depth ASC NULLS FIRST""".stripMargin))

  /** Delta-method variance for RATIO metrics (round 8, batch 102): the
    * missing leg of the experimentation stack (q_agg_cuped adjusts,
    * q_agg_ttest tests, THIS estimates the variance of the metric
    * every platform actually ships — spend per order, clicks per
    * session — whose denominator is itself random, so the naive
    * per-unit variance is WRONG). Per market segment over CUSTOMER
    * analysis units: R̂ = ΣX/ΣY and Var(R̂) ≈ (S_X² − 2R·S_XY +
    * R²·S_Y²)/(n·Ȳ²), computed with denominators cleared:
    *
    *   a = n·Sxx − Sx², b = n·Sxy − Sx·Sy, c = n·Syy − Sy²
    *   num = Sy²·a − 2·Sx·Sy·b + Sx²·c,   den = n·Sy⁴
    *   Var = num/den  (emitted ×10¹² as a double)
    *
    * Scale: one orders pass to customer grain (broadcast customer dim
    * for the segment), one 5-group moment aggregate; everything after
    * is 5-row arithmetic. The standard nightly-experimentation shape.
    *
    * Determinism (D2/D9): X is whole dollars (cents div 100 — exact by
    * definition, and it keeps num < 10³⁸ through sf10); all moments
    * and the cleared-denominator algebra run in DECIMAL(38,0) ↔
    * HUGEINT, exact on both engines; the ONLY inexact step is the
    * final correctly-rounded decimal→double casts and one IEEE
    * divide/multiply, spelled identically on both sides; ratio_e6 is
    * a truncating div of non-negative exacts.
    */
  private val aggDeltaMethod = QueryDef(
    "q_agg_delta_method",
    (s, d) => {
      val cust = Tables.orders(s, d)
        .groupBy(col("o_custkey"))
        .agg(expr("sum(cast(cast(o_totalprice as decimal(18,2)) * 100 " +
            "as bigint)) div 100").as("x"),
          count(lit(1)).as("y"))
        .join(broadcast(Tables.customer(s, d)
          .select(col("c_custkey"), col("c_mktsegment").as("segment"))),
          col("o_custkey") === col("c_custkey"))
      val m = cust.groupBy(col("segment")).agg(
        count(lit(1)).as("n"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(expr("cast(x as decimal(38,0)) * cast(x as decimal(38,0))"))
          .as("sxx"),
        sum(expr("cast(x as decimal(38,0)) * cast(y as decimal(38,0))"))
          .as("sxy"),
        sum(expr("cast(y as decimal(38,0)) * cast(y as decimal(38,0))"))
          .as("syy"))
      m.select(col("segment"), col("n"), col("sx"), col("sy"),
          expr("sx * 1000000 div sy").as("ratio_e6"),
          expr("""cast(cast(
            |  cast(sy as decimal(38,0)) * cast(sy as decimal(38,0))
            |    * (cast(n as decimal(38,0)) * sxx
            |       - cast(sx as decimal(38,0)) * cast(sx as decimal(38,0)))
            |  - 2 * cast(sx as decimal(38,0)) * cast(sy as decimal(38,0))
            |    * (cast(n as decimal(38,0)) * sxy
            |       - cast(sx as decimal(38,0)) * cast(sy as decimal(38,0)))
            |  + cast(sx as decimal(38,0)) * cast(sx as decimal(38,0))
            |    * (cast(n as decimal(38,0)) * syy
            |       - cast(sy as decimal(38,0)) * cast(sy as decimal(38,0)))
            |  as double) / cast(
            |  cast(n as decimal(38,0)) * cast(sy as decimal(38,0))
            |    * cast(sy as decimal(38,0)) * cast(sy as decimal(38,0))
            |    * cast(sy as decimal(38,0)) as double)
            |* 1000000000000.0D as double)""".stripMargin).as("var_e12"))
        .orderBy(ascf("segment"))
    },
    Some("""WITH cu AS (SELECT o_custkey,
           |    CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
           |      AS BIGINT)) // 100 AS BIGINT) AS x,
           |    CAST(count(*) AS BIGINT) AS y
           |  FROM orders GROUP BY 1),
           |j AS (SELECT c.c_mktsegment AS segment, cu.x, cu.y
           |  FROM cu JOIN customer c ON cu.o_custkey = c.c_custkey),
           |m AS (SELECT segment, CAST(count(*) AS BIGINT) AS n,
           |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
           |    sum(CAST(x AS HUGEINT) * CAST(x AS HUGEINT)) AS sxx,
           |    sum(CAST(x AS HUGEINT) * CAST(y AS HUGEINT)) AS sxy,
           |    sum(CAST(y AS HUGEINT) * CAST(y AS HUGEINT)) AS syy
           |  FROM j GROUP BY 1)
           |SELECT segment, n, sx, sy,
           |  CAST(sx * 1000000 // sy AS BIGINT) AS ratio_e6,
           |  CAST(
           |    CAST(CAST(sy AS HUGEINT) * CAST(sy AS HUGEINT)
           |        * (CAST(n AS HUGEINT) * sxx
           |           - CAST(sx AS HUGEINT) * CAST(sx AS HUGEINT))
           |      - 2 * CAST(sx AS HUGEINT) * CAST(sy AS HUGEINT)
           |        * (CAST(n AS HUGEINT) * sxy
           |           - CAST(sx AS HUGEINT) * CAST(sy AS HUGEINT))
           |      + CAST(sx AS HUGEINT) * CAST(sx AS HUGEINT)
           |        * (CAST(n AS HUGEINT) * syy
           |           - CAST(sy AS HUGEINT) * CAST(sy AS HUGEINT))
           |      AS DOUBLE)
           |    / CAST(CAST(n AS HUGEINT) * CAST(sy AS HUGEINT)
           |        * CAST(sy AS HUGEINT) * CAST(sy AS HUGEINT)
           |        * CAST(sy AS HUGEINT) AS DOUBLE)
           |    * 1000000000000.0 AS DOUBLE) AS var_e12
           |FROM m ORDER BY segment ASC NULLS FIRST""".stripMargin))

  /** Sample-ratio-mismatch guardrail (round 8, batch 107): the FIRST
    * check every experimentation platform runs before reading any
    * metric — does the observed variant split match the intended
    * 50/50? Per event type over events (variant = user mod 2, an A/A
    * assignment whose MACHINERY is what's graded): observed counts,
    * exact expected counts (e_a = n div 2, e_b = n − e_a — the
    * off-by-one stays exact), the χ² statistic ×10⁶, and the SRM flag
    * against the 1-dof 5% critical value 3.841458 (a spelled constant
    * on both engines).
    *
    * Scale: one corpus scan to a (type, variant) partial aggregate;
    * everything after is per-type arithmetic. The nightly-guardrail
    * cost profile.
    *
    * Determinism: integer counts; χ² cleared to e6 by truncating divs
    * of non-negative ints; D1 on event_type.
    */
  private val aggSrm = QueryDef(
    "q_agg_srm",
    (s, d) => {
      val counts = Tables.events(s, d)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(when(pmod(col("user_id"), lit(2)) === 0, 1L).otherwise(0L))
            .as("n_a"))
        .withColumn("n_b", col("n") - col("n_a"))
        .withColumn("e_a", expr("n div 2"))
        .withColumn("e_b", col("n") - expr("n div 2"))
      // e_a = n div 2 is 0 for a single-row group: Spark's div would
      // yield NULL while DuckDB's // raises — guard on BOTH engines
      // (ADVICE r8); a 1-row group has no testable split, chi2 := 0
      counts
        .withColumn("chi2_e6", expr(
          """case when e_a > 0 then
            |  (n_a - e_a) * (n_a - e_a) * 1000000 div e_a
            |  + (n_b - e_b) * (n_b - e_b) * 1000000 div e_b
            |else 0 end""".stripMargin))
        .withColumn("srm_flag",
          when(col("chi2_e6") > 3841458L, 1L).otherwise(0L))
        .select(col("event_type"), col("n"), col("n_a"), col("n_b"),
          col("chi2_e6"), col("srm_flag"))
        .orderBy(ascf("event_type"))
    },
    Some("""WITH c AS (SELECT event_type,
           |    CAST(count(*) AS BIGINT) AS n,
           |    CAST(sum(CASE WHEN CAST(user_id AS BIGINT) % 2 = 0
           |      THEN 1 ELSE 0 END) AS BIGINT) AS n_a
           |  FROM events GROUP BY 1),
           |e AS (SELECT event_type, n, n_a, n - n_a AS n_b,
           |    n // 2 AS e_a, n - n // 2 AS e_b FROM c)
           |SELECT event_type, n, n_a, n_b,
           |  CAST(CASE WHEN e_a > 0 THEN
           |    (n_a - e_a) * (n_a - e_a) * 1000000 // e_a
           |    + (n_b - e_b) * (n_b - e_b) * 1000000 // e_b
           |  ELSE 0 END AS BIGINT) AS chi2_e6,
           |  CAST(CASE WHEN e_a > 0 THEN
           |    CASE WHEN (n_a - e_a) * (n_a - e_a) * 1000000 // e_a
           |        + (n_b - e_b) * (n_b - e_b) * 1000000 // e_b > 3841458
           |      THEN 1 ELSE 0 END
           |  ELSE 0 END AS BIGINT) AS srm_flag
           |FROM e ORDER BY event_type ASC NULLS FIRST""".stripMargin))

  /** Power analysis / minimum detectable sample size (round 8, batch
    * 109): the question asked BEFORE an experiment runs — how many
    * units per variant to detect a 5%-of-mean lift at α=0.05 (two-
    * sided), power 0.8? Closed form n = 2(z_α/2 + z_β)²·σ²/δ² with
    * 2(1.959964 + 0.841621)² = 15.698 spelled as the integer constant
    * 15698e−3 on both engines. Per event type: exact moment-based
    * variance of the e6-quantized value, the 5% MDE, and the CEILING
    * sample size (ceil(a/b) = (a + b − 1) div b on non-negative ints).
    *
    * Scale: one corpus scan to per-type moment sums (map-side
    * combine); everything after is 5-row arithmetic. Together with
    * q_agg_srm (ratio check), q_agg_cuped (variance reduction),
    * q_agg_delta_method (ratio-metric variance) and q_agg_ttest, this
    * closes the experimentation lifecycle: size → guard → adjust →
    * estimate → test.
    *
    * Determinism (D2): x is the exact e6 value; nΣx² widens to
    * DECIMAL(38,0) ↔ HUGEINT before the subtraction; variance, MDE and
    * the ceiling division are truncating integer ops of non-negative
    * quantities, identical on both engines.
    */
  private val aggPower = QueryDef(
    "q_agg_power",
    (s, d) => {
      val m = Tables.events(s, d)
        .select(col("event_type"),
          round(col("value") * 1000, 0).cast("long").as("x"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
          sum(expr("cast(x as decimal(38,0)) * cast(x as decimal(38,0))"))
            .as("sxx"))
      // the n−1 divisor is 0 for a single-row group: Spark div → NULL,
      // DuckDB // → error (ADVICE r8) — guard both engines; a 1-row
      // group has no sample variance, var := 0
      m.withColumn("mean_e3", expr("sx div n"))
        .withColumn("var_e6", expr(
          """case when n > 1 then
            |  cast((cast(n as decimal(38,0)) * sxx
            |    - cast(sx as decimal(38,0)) * cast(sx as decimal(38,0)))
            |    div (cast(n as decimal(38,0)) * cast(n - 1 as decimal(38,0)))
            |    as bigint)
            |else 0L end""".stripMargin))
        .withColumn("delta_e3", expr("(sx div n) div 20"))
        .withColumn("n_required", expr(
          """case when delta_e3 > 0 then
            |  (15698 * var_e6 + 1000 * delta_e3 * delta_e3 - 1)
            |    div (1000 * delta_e3 * delta_e3)
            |else 0 end""".stripMargin))
        .select(col("event_type"), col("n"), col("mean_e3"),
          col("var_e6"), col("delta_e3"), col("n_required"))
        .orderBy(ascf("event_type"))
    },
    Some("""WITH b AS (SELECT event_type,
           |    CAST(round(value * 1000, 0) AS BIGINT) AS x
           |  FROM events),
           |m AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
           |    CAST(sum(x) AS BIGINT) AS sx,
           |    sum(CAST(x AS HUGEINT) * CAST(x AS HUGEINT)) AS sxx
           |  FROM b GROUP BY 1),
           |v AS (SELECT event_type, n, sx // n AS mean_e3,
           |    CAST(CASE WHEN n > 1 THEN
           |      (CAST(n AS HUGEINT) * sxx
           |        - CAST(sx AS HUGEINT) * CAST(sx AS HUGEINT))
           |        // (CAST(n AS HUGEINT) * CAST(n - 1 AS HUGEINT))
           |    ELSE 0 END AS BIGINT) AS var_e6,
           |    (sx // n) // 20 AS delta_e3
           |  FROM m)
           |SELECT event_type, n, CAST(mean_e3 AS BIGINT) AS mean_e3,
           |  var_e6, CAST(delta_e3 AS BIGINT) AS delta_e3,
           |  CAST(CASE WHEN delta_e3 > 0 THEN
           |    (15698 * var_e6 + 1000 * delta_e3 * delta_e3 - 1)
           |      // (1000 * delta_e3 * delta_e3)
           |  ELSE 0 END AS BIGINT) AS n_required
           |FROM v ORDER BY event_type ASC NULLS FIRST""".stripMargin))

  /** Winsorized mean per group (round 10): the robust-location estimate
    * that CLAMPS tail values to the P10/P90 order statistics instead of
    * dropping them (q_profile_trimmed is the dropping variant) — the
    * outlier treatment that keeps n constant, which matters whenever
    * downstream weights assume every row still counts.
    *
    * Both engines compute the SAME explicit order-statistic definition
    * rather than calling their (differently-interpolating) quantile
    * builtins: lo = min v with cumcount ≥ ⌈n/10⌉, hi = min v with
    * cumcount ≥ ⌈9n/10⌉, over the per-group value histogram — so parity
    * is by construction, not by builtin coincidence.
    *
    * Scale: the corpus collapses to the (group, value) histogram in ONE
    * partial-agg pass (value domain bounded: quantities 1..50); every
    * window after runs on ≤ |groups|·|domain| rows. The winsorized sum
    * is recovered from the histogram arithmetically — no second corpus
    * scan.
    *
    * Determinism (D1/D2/D12): integer values, exact ceilings via
    * (n+9) div 10 / (9n+9) div 10, e6 means by floor division.
    */
  private val aggWinsorized = QueryDef(
    "q_agg_winsorized",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val hist = graft.Tables.lineitem(s, d)
        .select(col("l_linestatus").as("status"),
          col("l_quantity").cast("long").as("v"))
        .groupBy(col("status"), col("v"))
        .agg(count(lit(1)).as("cnt"))
      val wCum = Window.partitionBy(col("status")).orderBy(ascf("v"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wAll = Window.partitionBy(col("status"))
      val cum = hist
        .withColumn("cum", sum(col("cnt")).over(wCum))
        .withColumn("n", sum(col("cnt")).over(wAll))
        .withColumn("sum_raw", sum(col("v") * col("cnt")).over(wAll))
      val thr = cum.groupBy(col("status"), col("n"), col("sum_raw"))
        .agg(
          min(when(col("cum") >= expr("(n + 9) div 10"), col("v")))
            .as("lo"),
          min(when(col("cum") >= expr("(9 * n + 9) div 10"), col("v")))
            .as("hi"))
      hist.join(broadcast(thr), Seq("status"))
        .withColumn("cv",
          greatest(least(col("v"), col("hi")), col("lo")) * col("cnt"))
        .groupBy(col("status"), col("n"), col("sum_raw"),
          col("lo"), col("hi"))
        .agg(sum(col("cv")).as("sum_wins"))
        .select(col("status"), col("n"), col("lo").as("p10"),
          col("hi").as("p90"),
          // sum_raw/sum_wins are corpus-sized sums (~25·|lineitem| per
          // status), so the ×1e6 product wraps int64 near SF 10k —
          // staged through DECIMAL(38,0)/HUGEINT (ADVICE r10); the
          // floored means themselves are row-scale and fit BIGINT
          expr("cast((cast(sum_raw as decimal(38,0)) * 1000000) div n " +
            "as bigint)").as("mean_e6"),
          expr("cast((cast(sum_wins as decimal(38,0)) * 1000000) div n " +
            "as bigint)").as("wins_mean_e6"))
        .orderBy(ascf("status"))
    },
    Some("""WITH h AS (SELECT l_linestatus AS status,
           |    CAST(l_quantity AS BIGINT) AS v, count(*) AS cnt
           |  FROM lineitem GROUP BY 1, 2),
           |c AS (SELECT status, v, cnt,
           |    sum(cnt) OVER (PARTITION BY status ORDER BY v ASC
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
           |    sum(cnt) OVER (PARTITION BY status) AS n,
           |    sum(v * cnt) OVER (PARTITION BY status) AS sum_raw
           |  FROM h),
           |t AS (SELECT status, n, sum_raw,
           |    min(CASE WHEN cum >= (n + 9) // 10 THEN v END) AS lo,
           |    min(CASE WHEN cum >= (9 * n + 9) // 10 THEN v END) AS hi
           |  FROM c GROUP BY status, n, sum_raw),
           |w AS (SELECT h.status, t.n, t.sum_raw, t.lo, t.hi,
           |    sum(greatest(least(h.v, t.hi), t.lo) * h.cnt) AS sum_wins
           |  FROM h JOIN t ON h.status = t.status
           |  GROUP BY h.status, t.n, t.sum_raw, t.lo, t.hi)
           |SELECT status, CAST(n AS BIGINT) AS n,
           |  CAST(lo AS BIGINT) AS p10, CAST(hi AS BIGINT) AS p90,
           |  CAST((CAST(sum_raw AS HUGEINT) * 1000000) // n AS BIGINT)
           |    AS mean_e6,
           |  CAST((CAST(sum_wins AS HUGEINT) * 1000000) // n AS BIGINT)
           |    AS wins_mean_e6
           |FROM w
           |ORDER BY status ASC NULLS FIRST""".stripMargin))

  def defs: Seq[QueryDef] = Seq(
    aggQ1, aggQ18, aggGlobal, aggDistinct, aggHaving,
    aggRollup, aggCube, aggGsets, aggStats, aggApproxDistinct,
    aggPercentile, aggPivot, aggUnpivot, aggGrouping, aggMode, aggBitset,
    aggEntropy, aggQ14, aggQ6, aggGini, aggHhi, aggFiltered, aggSkyline,
    aggPareto, aggBasketLift, aggCramersV, aggMannWhitney, aggTheil,
    aggMutualInfo, aggTtest, aggSpearman, aggDecay, aggLorenz, aggCuped,
    aggBayesShrink, aggHierarchy, aggDeltaMethod, aggSrm, aggPower,
    aggWinsorized)
}
