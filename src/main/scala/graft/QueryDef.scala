package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** One contract entry: a DataFrame builder plus (usually) the equivalent
  * DuckDB SQL the driver hash-compares against (SURVEY.md §2).
  */
final case class QueryDef(
    name: String,
    build: (SparkSession, String) => DataFrame,
    oracle: Option[String])

/** Cross-engine determinism helpers (SURVEY.md §2.1 rules D1–D8).
  *
  * D1: every query ends in a total order with explicit null placement —
  *     Spark ASC defaults to NULLS FIRST, DuckDB to NULLS LAST, so the
  *     oracle SQL must always spell it out; we mirror that explicitness
  *     on the Spark side via ascf/descl.
  * D2: double accumulation is order-dependent under parallelism — cast to
  *     DECIMAL(18,2) before sum/avg (verified exact parity with DuckDB).
  */
object Dsl {
  val Money: DecimalType = DecimalType(18, 2)

  /** Exact money arithmetic: cast BEFORE any aggregation (rule D2). */
  def dec(c: Column): Column = c.cast(Money)

  /** Narrower money type so decimal products stay under precision 38
    * (Spark silently drops scale on decimal-precision overflow, which
    * would diverge from DuckDB). Source prices are exact 2-dp values.
    */
  def dec12(c: Column): Column = c.cast(DecimalType(12, 2))

  /** Hundredth-valued factor (discount/tax ∈ 0.00–0.99) as DECIMAL(3,2).
    * Casting each FACTOR to decimal before multiplying keeps the whole
    * product exact — casting a double PRODUCT to decimal hits engine-
    * specific tie-rounding (verified divergent) and is forbidden.
    */
  def pct(c: Column): Column = c.cast(DecimalType(3, 2))

  /** Exact decimal (1 - c) for hundredth-valued c. */
  def oneMinus(c: Column): Column = lit(1).cast(DecimalType(3, 2)) - pct(c)

  /** Exact decimal (1 + c) for hundredth-valued c. */
  def onePlus(c: Column): Column = lit(1).cast(DecimalType(3, 2)) + pct(c)

  /** Timestamp out as epoch-µs BIGINT (rule D5); parquet NTZ needs a cast
    * to TIMESTAMP first, value-preserving under the UTC session TZ.
    */
  def epochUs(c: Column): Column = unix_micros(c.cast("timestamp"))

  /** Rule D9 (ADVICE r02): decimal OUTPUT columns are ungradeable — the
    * driver reads the Spark parquet via pandas (decimals stay
    * scale-preserving `Decimal('138014.00')`) but the DuckDB oracle via
    * `.df()` (decimals become float64 `138014.0`), so any value with a
    * trailing zero renders differently and hash-mismatches. Fix: keep all
    * INTERNAL math exact-decimal (rule D2), then cast the FINAL output to
    * DOUBLE on both sides (`CAST(... AS DOUBLE)` in the oracle). Both
    * engines correctly-round the same exact decimal to the nearest
    * float64 (unscaled values ≪ 2^53 at verify scale), so the doubles are
    * bit-identical; pandas then sees float64 on both paths.
    */
  def pin2(c: Column): Column = c.cast("double")
  def pin4(c: Column): Column = c.cast("double")
  def pin6(c: Column): Column = c.cast("double")

  /** Exact FLOOR division of a BIGINT column by a positive literal:
    * `(c − pmod(c, m)) / m` — the numerator is an exact multiple of m
    * (pmod is non-negative), and the division runs in DECIMAL(38,0), so
    * the quotient is exact for EVERY int64 input (an earlier double
    * division was exact only for |numerator| < 2^53 — epoch-µs crosses
    * that around year 2255, and a generic Dsl helper must not carry a
    * silent domain cliff; review r5). A bare `/` + cast rounds toward
    * ZERO, which mis-buckets negative values (pre-epoch timestamps) by
    * one cell relative to the pure-range semantics the oracles state
    * (review r5; latent on the 2024-only fixtures, wrong the day a
    * negative timestamp appears).
    */
  def floorDiv(c: Column, m: Long): Column =
    ((c.cast(DecimalType(38, 0)) - pmod(c, lit(m)).cast(DecimalType(38, 0)))
      / lit(m)).cast("long")

  /** ASC NULLS FIRST — matches `ASC NULLS FIRST` in oracle SQL (D1). */
  def ascf(c: Column): Column = c.asc_nulls_first
  def ascf(name: String): Column = col(name).asc_nulls_first

  /** DESC NULLS LAST — matches `DESC NULLS LAST` in oracle SQL (D1). */
  def descl(c: Column): Column = c.desc_nulls_last
  def descl(name: String): Column = col(name).desc_nulls_last

  /** Distributed exact `ntile(k) OVER (ORDER BY sortCols)` (VERDICT r7
    * #1). Spark plans a partitionBy-less window as ONE task holding the
    * whole relation — fine on value-bounded inputs, a scale-killer on a
    * corpus. This helper reproduces the ntile result bit-for-bit with no
    * single-partition stage, so oracle SQL can keep the plain `ntile(k)
    * OVER (ORDER BY ...)` spelling:
    *
    *   1. `repartitionByRange(parts, sortCols)` — a sampled range
    *      exchange; partition i holds a contiguous slice of the total
    *      order (RangePartitioner sampling is seeded deterministically,
    *      so the two jobs below see identical boundaries).
    *   2. per-partition row counts (32-row relation) → running-sum
    *      prefix offsets + grand total N, via a window over the COUNTS
    *      relation (value-bounded: ≤ parts rows).
    *   3. global rank = broadcast-joined prefix offset + local
    *      `row_number` within the range partition (the only window over
    *      corpus rows is partitioned by `spark_partition_id()`).
    *   4. ntile arithmetic on (rank, N): with q = N div k, rem = N % k,
    *      the first rem tiles take q+1 rows — exactly Spark's and
    *      DuckDB's ntile. Requires sortCols to be a total order (no
    *      ties), which every call site guarantees with a PK suffix.
    */
  def globalNtile(df: org.apache.spark.sql.DataFrame, k: Int, out: String,
      sortCols: Seq[Column]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val parts = math.max(k, 32)
    // Persisted (scoped lifetime): the COUNTS job and the RANK job must
    // observe the SAME range boundaries, but RangePartitioner samples
    // its boundaries from the input's physical layout — and when the
    // input itself contains AQE-replanned shuffles, two independent
    // executions can sample different layouts and disagree (measured:
    // the nested q_lake_zorder call mis-sized files by ±30 rows until
    // this persist). A production layout rewrite materializes this
    // staged sort anyway — it IS the output being written.
    val parted = Caches.scoped(df.repartitionByRange(parts, sortCols: _*)
      .withColumn("__gnt_pid", spark_partition_id()))
    val counts = parted.groupBy(col("__gnt_pid"))
      .agg(count(lit(1)).as("__gnt_cnt"))
    val wOff = Window.orderBy(col("__gnt_pid").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val wAll = Window.orderBy(col("__gnt_pid").asc)
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val offsets = counts
      .withColumn("__gnt_off",
        coalesce(sum(col("__gnt_cnt")).over(wOff), lit(0L)))
      .withColumn("__gnt_n", sum(col("__gnt_cnt")).over(wAll))
      .select(col("__gnt_pid"), col("__gnt_off"), col("__gnt_n"))
    val tile =
      s"""CASE WHEN __gnt_r <= ((__gnt_n div ${k}L) + 1L) * (__gnt_n % ${k}L)
         |  THEN CAST((__gnt_r - 1L) div ((__gnt_n div ${k}L) + 1L) + 1L AS INT)
         |  ELSE CAST((__gnt_n % ${k}L)
         |    + (__gnt_r - 1L - ((__gnt_n div ${k}L) + 1L) * (__gnt_n % ${k}L))
         |      div (__gnt_n div ${k}L) + 1L AS INT)
         |END""".stripMargin
    parted
      .withColumn("__gnt_rn", row_number().over(
        Window.partitionBy(col("__gnt_pid")).orderBy(sortCols: _*)))
      .join(broadcast(offsets), Seq("__gnt_pid"))
      .withColumn("__gnt_r", col("__gnt_off") + col("__gnt_rn"))
      .withColumn(out, expr(tile))
      .select(df.columns.map(col).toIndexedSeq :+ col(out): _*)
  }

  /** Distributed exact `row_number() OVER (ORDER BY sortCols)` — the
    * third member of the globalNtile family: range exchange →
    * per-partition counts → broadcast prefix offsets + local
    * row_number. Same total-order and persist requirements as
    * globalNtile (which computes exactly this rank internally before
    * the tile arithmetic).
    */
  def globalRowNumber(df: org.apache.spark.sql.DataFrame, out: String,
      sortCols: Seq[Column]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val parted = Caches.scoped(df.repartitionByRange(32, sortCols: _*)
      .withColumn("__grn_pid", spark_partition_id()))
    val counts = parted.groupBy(col("__grn_pid"))
      .agg(count(lit(1)).as("__grn_cnt"))
    val wOff = Window.orderBy(col("__grn_pid").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = counts
      .withColumn("__grn_off",
        coalesce(sum(col("__grn_cnt")).over(wOff), lit(0L)))
      .select(col("__grn_pid"), col("__grn_off"))
    parted
      .withColumn("__grn_rn", row_number().over(
        Window.partitionBy(col("__grn_pid")).orderBy(sortCols: _*)))
      .join(broadcast(offsets), Seq("__grn_pid"))
      .withColumn(out, col("__grn_off") + col("__grn_rn"))
      .select(df.columns.map(col).toIndexedSeq :+ col(out): _*)
  }

  /** Distributed exact running sum — `sum(valueCol) OVER (ORDER BY
    * sortCols ROWS UNBOUNDED PRECEDING..CURRENT ROW)` with no
    * single-partition window (the globalNtile machinery applied to a
    * prefix SUM): range exchange → per-partition value sums → broadcast
    * prefix offsets → within-partition running sum + offset. Requires
    * sortCols to be a total order (ROWS ≡ RANGE only without ties);
    * every call site guarantees it with a PK suffix. The staged
    * relation is persisted for the same two-job boundary-consistency
    * reason globalNtile documents.
    */
  def globalCumSum(df: org.apache.spark.sql.DataFrame, valueCol: String,
      out: String, sortCols: Seq[Column]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val parted = Caches.scoped(df.repartitionByRange(32, sortCols: _*)
      .withColumn("__gcs_pid", spark_partition_id()))
    val sums = parted.groupBy(col("__gcs_pid"))
      .agg(sum(col(valueCol)).as("__gcs_sum"))
    val wOff = Window.orderBy(col("__gcs_pid").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = sums
      .withColumn("__gcs_off",
        coalesce(sum(col("__gcs_sum")).over(wOff), lit(0L)))
      .select(col("__gcs_pid"), col("__gcs_off"))
    parted
      .withColumn("__gcs_run", sum(col(valueCol)).over(
        Window.partitionBy(col("__gcs_pid")).orderBy(sortCols: _*)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .join(broadcast(offsets), Seq("__gcs_pid"))
      .withColumn(out, col("__gcs_off") + col("__gcs_run"))
      .select(df.columns.map(col).toIndexedSeq :+ col(out): _*)
  }

  /** Broadcast a label-sized pointer map only while it is driver-safe
    * (VERDICT r7 #8). At fixture scale the doubling maps of the
    * dbscan/mst label loops are tiny and broadcast is the right plan;
    * a percolated 100× core graph could grow a map past driver memory.
    * Above `spark.graft.broadcastLabelLimit` rows (default 2,000,000 —
    * a ~32 MB two-long-column broadcast), fall back to a SHUFFLE_HASH
    * hint: same result keyed on the same join column, executor-bounded
    * memory, no sort. `rows` is the caller's already-known count (the
    * maps are statsTruncate'd, so counting one is a cached-RDD scan,
    * not a lineage replay).
    */
  def maybeBroadcastMap(m: org.apache.spark.sql.DataFrame,
      rows: Long): DataFrame = {
    val limit = m.sparkSession.conf
      .getOption("spark.graft.broadcastLabelLimit")
      .map(_.toLong).getOrElse(2000000L)
    if (rows <= limit) broadcast(m) else m.hint("shuffle_hash")
  }

  /** Eager lineage truncation for iterative loops. If the application
    * has configured a RELIABLE checkpoint dir (SparkContext
    * .setCheckpointDir — the standard cluster config), the frame
    * checkpoints to that fault-tolerant store, so losing an executor
    * mid-loop recomputes from the last round, not from a dead executor's
    * local blocks (VERDICT r5 #2). local[] runs without a dir keep the
    * cheaper executor-local localCheckpoint. The origin plan's stats
    * survive — see [[statsTruncate]] for loops whose join estimates
    * compound.
    */
  def truncateLineage(df: DataFrame): DataFrame =
    if (df.sparkSession.sparkContext.getCheckpointDir.isDefined) df.checkpoint(true)
    else df.localCheckpoint(true)

  /** Lineage AND stats truncation for iterative loops. Spark 4's
    * (local)checkpoint keeps the origin plan's size estimate on the
    * LogicalRDD, and the sizeInBytes-only join estimate is the PRODUCT
    * of the children — so K rounds of self-joins compound the estimate
    * exponentially until physical planning itself hangs multiplying
    * million-digit BigIntegers (measured on the q_graph_mst loop).
    * Rebuilding from the checkpointed RDD drops the origin stats; the
    * row round-trip is free at the label/sketch scales loops run on.
    */
  def statsTruncate(df: DataFrame): DataFrame = {
    val cp = truncateLineage(df)
    df.sparkSession.createDataFrame(cp.rdd, cp.schema)
  }
}

/** Single source of truth for the SparkEntry contract maps: a key can never
  * exist in `queries` but not `oracleSql` unintentionally (SURVEY.md §7.1).
  */
object Registry {
  def all: Seq[QueryDef] = {
    val defs =
      ops.Relational.defs ++
        ops.Aggregates.defs ++
        ops.Windows.defs ++
        ops.SetOps.defs ++
        ops.Scalars.defs ++
        ops.Text.defs ++
        ops.Similarity.defs ++
        ops.Pipeline.defs ++
        ops.Multimodal.defs ++
        ops.Streaming.defs ++
        ops.Udx.defs ++
        ops.Sources.defs ++
        ops.Sampling.defs ++
        ops.Curation.defs ++
        ops.Graph.defs ++
        ops.Clustering.defs ++
        ops.TimeSeries.defs ++
        ops.Sketch.defs ++
        ops.Lakehouse.defs ++
        ops.Incremental.defs ++
        ops.Geo.defs ++
        ops.Ranking.defs ++
        ops.Privacy.defs
    // toMap would silently keep only the last entry on a name collision,
    // shrinking the graded surface with no error (ADVICE r01).
    val dup = defs.groupBy(_.name).collect { case (n, ds) if ds.size > 1 => n }
    require(dup.isEmpty, s"duplicate query names: ${dup.mkString(", ")}")
    defs
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    all.map(q => q.name -> q.build).toMap

  def oracleSql: Map[String, String] =
    all.flatMap(q => q.oracle.map(q.name -> _)).toMap

  /** The keys a Bench or Verify run covers, with the
    * dev-loop filter they came from: `SPARK_GRAFT_ONLY="q_a,q_b"` keeps
    * just those keys (None = every key). A mistyped key is reported on
    * stderr and a filter that matches nothing fails — either used to
    * yield an empty but plausible run (ADVICE r6).
    */
  def selected(tag: String): (Option[Set[String]],
      Seq[(String, (SparkSession, String) => DataFrame)]) = {
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val qs = queries
    val keys = qs.toSeq
      .filter { case (name, _) => only.forall(_.contains(name)) }
    only.foreach { o =>
      val unknown = o -- qs.keySet
      if (unknown.nonEmpty) System.err.println(
        s"[$tag] SPARK_GRAFT_ONLY keys not in the registry: ${unknown.toSeq.sorted.mkString(", ")}")
      require(keys.nonEmpty,
        s"SPARK_GRAFT_ONLY matched no registered query (names: ${o.mkString(",")})")
    }
    (only, keys)
  }
}
