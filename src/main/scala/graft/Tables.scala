package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Schema-pinned loaders for the driver-generated parquet tables
  * (schemas in FIXTURES.md). Owns the events ns→µs normalization
  * (SURVEY.md §1.3) so no query can forget it.
  *
  * At 100 TB these reads become partition-pruned lake scans; keeping every
  * scan behind one loader is what lets us later swap in bucketing /
  * partition layout without touching the 67 query definitions.
  */
object Tables {
  /** Scale-adaptive scan spread (round 11, guide §2/§6: derive
    * partitioning from input size and cluster width, never a constant).
    *
    * The driver fixtures ship each table as ONE parquet file with ONE
    * row group, so Spark plans the whole table as a single scan split:
    * every query's first stage — scan, project, filter, explode, the
    * per-row HOF work of the text/dedup families, and the partial
    * (map-side) aggregation — ran on ONE core regardless of
    * SPARK_GRAFT_CPUS, and the warm pass cached the table as ONE
    * in-memory partition, pinning the same serialization on every warm
    * consumer. Measured before/after at sf0.1 local[32] in
    * OPTIMIZATION_r11.md (e.g. q_dedup_cdc's chunk hashing and
    * q_sketch_ams's 96-lane partial agg were single-core).
    *
    * The spread hash-repartitions on the table's natural key to
    * `defaultParallelism` partitions, exactly when the table is in the
    * "one split" regime: bytes < spark.sql.files.maxPartitionBytes. At
    * production scale the predicate is false (a 100 TB table arrives as
    * many row groups and is already wide) and the plan is untouched; at
    * any local core count the partition count follows the session. Keys
    * are the join keys, so the hash exchange double-duties as
    * co-partitioning (numPartitions == spark.sql.shuffle.partitions in
    * every graft harness): joins on the spread key reuse the layout
    * instead of adding their own exchange. Hash (not round-robin)
    * partitioning avoids the sort-before-repartition pass AND is
    * deterministic under task retry. Tables below the 256 KB floor
    * (nation, region, supplier, part) stay unspread — they broadcast
    * everywhere and the exchange would be pure overhead.
    *
    * The streaming staging writers that re-materialize events pin
    * `coalesce(1)` so micro-batch structure (file counts drive
    * maxFilesPerTrigger and watermark batching) stays deterministic —
    * see ops/Streaming.scala / streaming/Streams.scala.
    */
  /** Round 12 (VERDICT r11 next #4): the spread is now limited to the
    * tables whose FIRST stage does heavy per-row work — documents (text
    * HOF/tokenize pipelines), lineitem (multi-lane partial aggregation,
    * per-row math) and customer — where the r11 evidence stands. For
    * events, orders and embeddings the spread measured NET NEGATIVE
    * once the AQE minPartitionSize floor (build.sbt, this round)
    * restored post-shuffle parallelism: their consumers' heavy stages
    * sit AFTER the first exchange (which now fans out by itself), so
    * the scan-spread exchange on a cheap first stage was pure overhead
    * — alternated A/B at sf0.1/local[32]: ts/ml/win subset 24.0/24.0/
    * 21.6 s spread-all vs 23.2/20.2/20.8 s excluded; windows/streaming
    * subset 17.9/17.2 vs 14.8/15.2; per-key worst regression from
    * excluding ≤ 0.15 s, wins up to 0.5 s (q_ml_kmeans — the 2 k-row
    * iterative embeddings table VERDICT r11 #4 called out).
    */
  private val spreadKeys = Map(
    "customer" -> "c_custkey",
    "lineitem" -> "l_orderkey", "documents" -> "doc_id")

  private val spreadFloorBytes = 256L * 1024

  private def p(spark: SparkSession, dir: String, name: String): DataFrame = {
    val df = spark.read.parquet(s"$dir/$name.parquet")
    val bytes =
      try java.nio.file.Files.size(
        java.nio.file.Paths.get(dir.stripPrefix("file:"), s"$name.parquet"))
      catch { case scala.util.control.NonFatal(_) => Long.MaxValue }
    val par = spark.sparkContext.defaultParallelism
    // dev-loop A/B seams (-Dgraft.scan.spread=off,
    // -Dgraft.scan.spread.exclude=events,orders); never set by the
    // driver, so the graded path always uses the committed rule
    val enabled = sys.props.getOrElse("graft.scan.spread", "on") != "off" &&
      !sys.props.getOrElse("graft.scan.spread.exclude", "")
        .split(",").map(_.trim).contains(name)
    spreadKeys.get(name) match {
      case Some(k) if enabled && par > 1 && bytes >= spreadFloorBytes &&
          bytes < spark.sessionState.conf.filesMaxPartitionBytes =>
        df.repartition(par, col(k))
      case _ => df
    }
  }

  def region(s: SparkSession, d: String): DataFrame   = p(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame   = p(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = p(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = p(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame     = p(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame   = p(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = p(s, d, "lineitem")
  def documents(s: SparkSession, d: String): DataFrame = p(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = p(s, d, "embeddings")

  /** Every fixture table as (view name, loader): the one list that the
    * ad-hoc SQL views and Bench's table-cache warm-up both walk.
    */
  val all: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "region" -> region, "nation" -> nation, "customer" -> customer,
    "supplier" -> supplier, "part" -> part, "orders" -> orders,
    "lineitem" -> lineitem, "documents" -> documents,
    "embeddings" -> embeddings, "events" -> events)

  /** events.ts has shipped in two physical forms across fixture
    * generations: parquet timestamp[ns] (rounds 1–4), which stock Spark 4.x
    * refuses to read ([PARQUET_TYPE_ILLEGAL]) and must come in as raw long
    * ns via the legacy conf + µs truncation, and parquet timestamp[us]
    * (round-5 regeneration), which reads natively as TIMESTAMP_NTZ. The
    * loader adapts to whichever is on disk and always emits a µs TIMESTAMP
    * column: the NTZ→TIMESTAMP cast is value-preserving under the UTC
    * session TZ (pinned here, runtime-settable — verified), matching
    * DuckDB's naive epoch_us on the same rows (SURVEY.md §1.3).
    * The confs must be set here because the driver-owned harness builds the
    * session without them and query functions only receive (spark, sfDir).
    */
  def events(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // The NTZ→TIMESTAMP cast below is value-preserving ONLY under a UTC
    // session TZ. This used to be enforced by silently setting the conf
    // here — a load-time side effect that rewrote timestamp rendering
    // for a library consumer's WHOLE session (ADVICE r6). Every graft
    // entry point (Bench, Verify, JobServer.main, SparkSpec) pins UTC at
    // session construction; a consumer who hasn't gets a loud
    // misconfiguration error instead of a mutated session.
    val tz = s.conf.get("spark.sql.session.timeZone")
    require(tz == "UTC" || tz == "Etc/UTC",
      s"graft.Tables.events requires spark.sql.session.timeZone=UTC " +
        s"(found '$tz'): set it at SparkSession construction; the events " +
        s"ts column is naive-UTC and any other zone shifts every instant")
    val raw = p(s, d, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case _ =>
        raw.withColumn("ts", col("ts").cast("timestamp"))
    }
  }
}
