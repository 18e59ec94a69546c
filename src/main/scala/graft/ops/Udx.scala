package graft.ops

import graft.{QueryDef, Tables}
import graft.Dsl._
import graft.functions.Tokenize
import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

/** UDF / UDAF / UDTF surface (SURVEY.md §2.14).
  *
  * Each of the three extension mechanisms is exercised once: a Scala
  * scalar `udf` (q_udf_scalar), a typed `Aggregator` registered via
  * `udaf` (q_udaf_geomean), and a custom Catalyst `Generator`
  * (q_udtf_tokenize — graft.functions.Tokenize). Scalar UDFs and UDAFs
  * break a whole-stage-codegen span, which is why the rest of the engine
  * prefers builtins (SURVEY.md §4) — these queries exist to prove the
  * extension points, with determinism handled the same way as builtins.
  */
object Udx {

  /** Deterministic ln-sum: quantize ln(x) to exact 1e-12-resolution
    * BIGINT so partial aggregation order cannot change the sum (the same
    * D2/D3 trick as the decimal moments — a raw double ln-sum is
    * partition-order-dependent). Sub-ulp libm drift between engines is
    * absorbed by the final round(…, 4).
    */
  private final case class LnAcc(var sumLnE12: Long, var n: Long)

  private object GeoMean extends Aggregator[Double, LnAcc, Double] {
    override def zero: LnAcc = LnAcc(0L, 0L)
    override def reduce(b: LnAcc, x: Double): LnAcc = {
      b.sumLnE12 += math.round(math.log(x) * 1e12); b.n += 1; b
    }
    override def merge(a: LnAcc, b: LnAcc): LnAcc = {
      a.sumLnE12 += b.sumLnE12; a.n += b.n; a
    }
    override def finish(r: LnAcc): Double =
      if (r.n == 0) Double.NaN
      else math.exp(r.sumLnE12.toDouble / 1e12 / r.n)
    override def bufferEncoder: Encoder[LnAcc] = Encoders.product[LnAcc]
    override def outputEncoder: Encoder[Double] = Encoders.scalaDouble
  }

  private val udfScalar = QueryDef(
    "q_udf_scalar",
    (s, d) => {
      val discountClass = udf((disc: Double) =>
        if (disc < 0.03) "low" else if (disc < 0.07) "mid" else "high")
      Tables.lineitem(s, d)
        .select(discountClass(col("l_discount")).as("disc_class"),
          col("l_quantity"))
        .groupBy(col("disc_class"))
        .agg(count(lit(1)).as("cnt"),
          pinDouble(sum(dec(col("l_quantity")))).as("sum_qty"))
        .orderBy(ascf("disc_class"))
    },
    Some("""SELECT CASE WHEN l_discount < 0.03 THEN 'low'
           |            WHEN l_discount < 0.07 THEN 'mid'
           |            ELSE 'high' END AS disc_class,
           |  count(*) AS cnt,
           |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
           |FROM lineitem GROUP BY 1
           |ORDER BY disc_class ASC NULLS FIRST""".stripMargin))

  private val udafGeomean = QueryDef(
    "q_udaf_geomean",
    (s, d) => {
      val gm = udaf(GeoMean)
      Tables.lineitem(s, d)
        .groupBy(col("l_returnflag"))
        .agg(round(gm(col("l_extendedprice")), 4).as("geomean_price"),
          count(lit(1)).as("cnt"))
        .orderBy(ascf("l_returnflag"))
    },
    Some("""SELECT l_returnflag,
           |  round(exp(CAST(sum(CAST(round(ln(l_extendedprice) * 1000000000000, 0)
           |      AS BIGINT)) AS DOUBLE) / 1000000000000 / count(*)), 4)
           |    AS geomean_price,
           |  count(*) AS cnt
           |FROM lineitem GROUP BY l_returnflag
           |ORDER BY l_returnflag ASC NULLS FIRST""".stripMargin))

  /** Weighted average via a typed Aggregator (round 7): quantity-
    * weighted mean unit price per returnflag — the second `udaf`-path
    * key, exercising a TWO-FIELD buffer (the geomean buffer is
    * effectively one accumulator plus a count; real UDAFs carry
    * composite state and must merge it field-wise).
    *
    * Determinism: the buffer accumulates exact int64 (cent·quantity
    * products ≤ 5·10⁸/row) so partial-merge order cannot move the sum;
    * the finish divides two exact int64s through IEEE division —
    * bit-identical to the oracle's spelling.
    */
  private final case class WAcc(var cq: Long, var w: Long)

  private object WeightedAvg
      extends Aggregator[(Long, Long), WAcc, Double] {
    override def zero: WAcc = WAcc(0L, 0L)
    override def reduce(b: WAcc, x: (Long, Long)): WAcc = {
      b.cq += x._1 * x._2; b.w += x._2; b
    }
    override def merge(a: WAcc, b: WAcc): WAcc = {
      a.cq += b.cq; a.w += b.w; a
    }
    override def finish(r: WAcc): Double =
      if (r.w == 0) Double.NaN
      else r.cq.toDouble / r.w.toDouble / 100.0
    override def bufferEncoder: Encoder[WAcc] = Encoders.product[WAcc]
    override def outputEncoder: Encoder[Double] = Encoders.scalaDouble
  }

  private val udafWavg = QueryDef(
    "q_udaf_wavg",
    (s, d) => {
      val wa = udaf(WeightedAvg)
      Tables.lineitem(s, d)
        .select(col("l_returnflag"),
          (dec(col("l_extendedprice")) * 100).cast("long").as("cents"),
          col("l_quantity").cast("long").as("qty"))
        .groupBy(col("l_returnflag"))
        // a tuple-input Aggregator flattens to one argument per field
        .agg(wa(col("cents"), col("qty")).as("wavg_price"),
          count(lit(1)).as("cnt"))
        .orderBy(ascf("l_returnflag"))
    },
    Some("""SELECT l_returnflag,
           |  CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
           |      AS BIGINT) * CAST(l_quantity AS BIGINT)) AS DOUBLE)
           |    / CAST(sum(CAST(l_quantity AS BIGINT)) AS DOUBLE)
           |    / CAST(100 AS DOUBLE) AS wavg_price,
           |  count(*) AS cnt
           |FROM lineitem GROUP BY l_returnflag
           |ORDER BY l_returnflag ASC NULLS FIRST""".stripMargin))

  private val udtfTokenize = QueryDef(
    "q_udtf_tokenize",
    (s, d) =>
      Tables.documents(s, d)
        .filter(col("doc_id") < 50)
        .select(col("doc_id"), Tokenize.of(col("text")).as(Seq("pos", "token")))
        .orderBy(ascf("doc_id"), ascf("pos")),
    Some("""WITH t AS (SELECT doc_id,
           |    unnest(string_split(text, ' ')) AS token,
           |    generate_subscripts(string_split(text, ' '), 1) AS i
           |  FROM documents WHERE doc_id < 50)
           |SELECT doc_id, CAST(i - 1 AS INTEGER) AS pos, token FROM t
           |ORDER BY doc_id ASC NULLS FIRST, pos ASC NULLS FIRST""".stripMargin))

  /** The OSDI'04 MapReduce programming model on the graded surface
    * (round 4): wordcount written against `graft.mr.MapReduce` — the
    * literal map → shuffle → reduce API a MapReduce-server user would
    * port 1:1 — executing as a Catalyst plan with map-side partial
    * reduce, hash-checked against the SQL oracle. This is the
    * capability-parity exhibit: the legacy programming model runs on
    * this engine and produces oracle-identical results.
    */
  private val mrWordcount = QueryDef(
    "q_mr_wordcount",
    (s, d) => {
      import s.implicits._
      val docs = Tables.documents(s, d).select(col("text")).as[String]
      graft.mr.MapReduce.run(docs)(
        t => t.split(" ", -1).toSeq.map(w => (w, 1L)))(_ + _)
        .toDF("word", "cnt")
        .orderBy(ascf("word"))
    },
    Some("""SELECT w AS word, CAST(count(*) AS BIGINT) AS cnt
           |FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
           |GROUP BY w ORDER BY word ASC NULLS FIRST""".stripMargin))

  /** The OSDI'04 §2.3 inverted-index example through the MapReduce
    * veneer (round 7): map emits one (word, doc-stats) pair per
    * DISTINCT word of each document, reduce folds the postings with a
    * tuple combiner — the second canonical MapReduce job, and the one
    * that exercises a STRUCTURED value type through the veneer
    * (wordcount's combiner is a bare Long).
    *
    * Determinism: list-valued reduce output (the paper's literal
    * "sorted list of doc ids") would depend on reduce order, so the
    * graded output is the algebraic summary every combiner-compatible
    * index job ships instead: (postings count, min/max/sum of doc ids)
    * — associative + commutative, hence partition-order-free.
    *
    * Scale: the per-doc DISTINCT runs inside the mapper (map-side, no
    * shuffle); the combiner partial-reduces before the exchange (OSDI
    * §4.3, automatic under reduceGroups), so the shuffle carries one
    * partial per (word, partition).
    */
  private val mrInvidx = QueryDef(
    "q_mr_invidx",
    (s, d) => {
      import s.implicits._
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), col("text")).as[(Long, String)]
      graft.mr.MapReduce.run(docs) { case (id, t) =>
        t.split(" ", -1).distinct.toSeq
          .map(w => (w, (1L, id, id, id)))
      } { case ((c1, mn1, mx1, s1), (c2, mn2, mx2, s2)) =>
        (c1 + c2, math.min(mn1, mn2), math.max(mx1, mx2), s1 + s2)
      }
        .map { case (w, (c, mn, mx, sm)) => (w, c, mn, mx, sm) }
        .toDF("word", "n_docs", "min_doc", "max_doc", "doc_sum")
        .orderBy(ascf("word"))
    },
    Some("""WITH wd AS (SELECT DISTINCT doc_id,
           |    unnest(string_split(text, ' ')) AS w
           |  FROM documents)
           |SELECT w AS word, CAST(count(*) AS BIGINT) AS n_docs,
           |  CAST(min(doc_id) AS BIGINT) AS min_doc,
           |  CAST(max(doc_id) AS BIGINT) AS max_doc,
           |  CAST(sum(doc_id) AS BIGINT) AS doc_sum
           |FROM wd GROUP BY w
           |ORDER BY word ASC NULLS FIRST""".stripMargin))

  /** Distributed grep — the OSDI'04 §2.3 FIRST example — through the
    * MapReduce veneer (round 7): the mapper emits a (lang, match-stats)
    * pair only for documents containing the pattern, the combiner folds
    * counts and an id checksum. (Round 8 completes the paper's FULL
    * §2.3 example list — see q_mr_url_freq.)
    *
    * The pattern is a substring match (the paper's grep is a regex over
    * records; the D6 discipline prefers substring compares where
    * semantics allow). Map-side filtering means non-matching records
    * never reach the shuffle — grep's defining asymmetry at 100 TB:
    * the exchange carries match STATISTICS, not matches.
    */
  private val mrGrep = QueryDef(
    "q_mr_grep",
    (s, d) => {
      import s.implicits._
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), col("lang"), col("text"))
        .as[(Long, String, String)]
      graft.mr.MapReduce.run(docs) { case (id, lang, t) =>
        if (t.contains("query")) Seq((lang, (1L, id))) else Seq.empty
      } { case ((c1, s1), (c2, s2)) => (c1 + c2, s1 + s2) }
        .map { case (lang, (c, sm)) => (lang, c, sm) }
        .toDF("lang", "n_matches", "id_checksum")
        .orderBy(ascf("lang"))
    },
    Some("""SELECT lang, CAST(count(*) AS BIGINT) AS n_matches,
           |  CAST(sum(doc_id) AS BIGINT) AS id_checksum
           |FROM documents
           |WHERE contains(text, 'query')
           |GROUP BY lang
           |ORDER BY lang ASC NULLS FIRST""".stripMargin))

  /** The OSDI §5.3 distributed sort (round 7): a TeraSort-shaped total
    * order over lineitem price cents through the MR veneer — the last of
    * the paper's four canonical examples (wordcount, grep, inverted
    * index, sort) the engine grades. [[graft.mr.MapReduce.sort]] plans
    * it as a range shuffle (each reducer owns a contiguous key interval)
    * + per-reducer sort, so no task ever materializes more than one
    * partition — the only sort shape that works at 100 TB.
    *
    * Grading certifies the range property, not just the row values: the
    * global rank of each row is reconstructed DISTRIBUTEDLY as
    * (rows in earlier partitions) + (rank within own partition), which
    * equals the oracle's row_number over the total order iff the
    * partition intervals are truly non-overlapping — an overlapped
    * boundary shifts every downstream rank and breaks the hash. The
    * graded slice is the head-100 of the order (rank-bounded, so the
    * output stays O(1) at any SF); Round7Spec separately asserts the
    * valsort invariant (every partition physically sorted, boundaries
    * non-decreasing).
    *
    * Determinism (D1/D2): keys are exact int64 cents with the
    * (l_orderkey, l_linenumber) tiebreak; fully-duplicate key rows are
    * interchangeable so ranks are tie-invariant.
    */
  private val mrSort = QueryDef(
    "q_mr_sort",
    (s, d) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val li = Tables.lineitem(s, d)
        .select((dec(col("l_extendedprice")) * 100).cast("long").as("cents"),
          col("l_orderkey"), col("l_linenumber"))
        .as[(Long, Long, Int)]
      val sorted = graft.mr.MapReduce.sort(li, 32)(r => (r, 1L))
      // rank rows in PHYSICAL iteration order — pos agrees with the
      // oracle's logical row_number only if the per-partition sort
      // actually happened, so the hash grades the physical sort too
      val ranked = graft.Caches.scoped(sorted.mapPartitions { it =>
        val pid = org.apache.spark.TaskContext.getPartitionId().toLong
        var i = 0L
        it.map { case ((c, ok, ln), _) => i += 1; (pid, i, c, ok, ln) }
      }.toDF("pid", "pos", "cents", "l_orderkey", "l_linenumber"))
      // partition-count prefix offsets: ≤ |partitions| rows, so the
      // global window here is 32 rows, not the corpus
      val offs = ranked.groupBy(col("pid")).agg(count(lit(1)).as("cnt"))
        .withColumn("off",
          coalesce(sum(col("cnt")).over(Window.orderBy(ascf("pid"))
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        .select(col("pid"), col("off"))
      ranked.join(broadcast(offs), "pid")
        .withColumn("rn", col("off") + col("pos"))
        .filter(col("rn") <= 100)
        .select(col("rn"), col("cents"), col("l_orderkey"),
          col("l_linenumber"))
        .orderBy(ascf("rn"))
    },
    Some("""WITH s AS (SELECT
           |    CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
           |      AS cents,
           |    l_orderkey, l_linenumber
           |  FROM lineitem),
           |r AS (SELECT cents, l_orderkey, l_linenumber,
           |    CAST(row_number() OVER (ORDER BY cents ASC, l_orderkey ASC,
           |      l_linenumber ASC) AS BIGINT) AS rn
           |  FROM s)
           |SELECT rn, cents, l_orderkey, l_linenumber
           |FROM r WHERE rn <= 100
           |ORDER BY rn ASC NULLS FIRST""".stripMargin))

  /** The reduce-side (repartition) join through the MapReduce veneer
    * (round 7): the fifth canonical MR usage pattern — tag two inputs,
    * shuffle both on the key, pair them inside each reduce group —
    * expressed as `MapReduce.join` (Dataset.cogroup: each side shuffles
    * exactly once, pairing is per-group, right side materialized per
    * KEY GROUP only). Orders join customers on custkey; the graded
    * census (orders + cent-exact revenue per nation) equals a plain
    * relational join oracle, so the veneer's join SEMANTICS — not just
    * its row count — are pinned against SQL.
    *
    * Scale: identical exchange shape to a shuffled hash join (one
    * shuffle per side on the key); per-group memory is the key's
    * fan-in (≤ a customer's orders), never the relation. The DataFrame
    * spelling (q_join_inner etc.) stays the right tool — this key
    * exists so a legacy tagged-join job has a graded 1:1 port path.
    *
    * Determinism: census sums are associative/commutative (D2 exact
    * cents); output ordered by nation name.
    */
  private val mrJoin = QueryDef(
    "q_mr_join",
    (s, d) => {
      import s.implicits._
      val o = Tables.orders(s, d).select(col("o_custkey").cast("long"),
        (dec(col("o_totalprice")) * 100).cast("long")).as[(Long, Long)]
      val c = Tables.customer(s, d).select(col("c_custkey").cast("long"),
        col("c_nationkey").cast("long")).as[(Long, Long)]
      graft.mr.MapReduce.join(o, c)
        .toDF("custkey", "cents", "nationkey")
        .groupBy(col("nationkey"))
        .agg(count(lit(1)).as("n_orders"), sum(col("cents")).as("rev_cents"))
        .join(broadcast(Tables.nation(s, d)
          .select(col("n_nationkey"), col("n_name"))),
          col("nationkey") === col("n_nationkey"))
        .select(col("n_name"), col("n_orders"), col("rev_cents"))
        .orderBy(ascf("n_name"))
    },
    Some("""SELECT n.n_name,
           |  CAST(count(*) AS BIGINT) AS n_orders,
           |  CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
           |    AS BIGINT)) AS BIGINT) AS rev_cents
           |FROM orders o
           |JOIN customer c ON o.o_custkey = c.c_custkey
           |JOIN nation n ON c.c_nationkey = n.n_nationkey
           |GROUP BY n.n_name
           |ORDER BY n_name ASC NULLS FIRST""".stripMargin))

  final case class SecSortRow(user_id: Long, tu: Long,
      event_id: Long, code: Int)
  final case class SecSortAgg(user_id: Long, n_events: Long,
      first_code: Long, last_code: Long, pos_checksum: Long,
      n_changes: Long)

  /** MR secondary sort (round 7): THE canonical MapReduce idiom the
    * veneer set still lacked — deliver each key's values to the reducer
    * IN ORDER without buffering them (composite key (user, ts) shuffle,
    * partition by user only, so the framework's sort does the ordering
    * and the reducer streams with O(1) state). Spark spelling:
    * `repartition(user)` + `sortWithinPartitions(user, ts, id)` + a
    * streaming mapPartitions that folds adjacent same-user runs —
    * exactly the plan MR's secondary sort compiles to, and the only
    * shape that works when one key's value list exceeds reducer memory
    * (a groupBy+collect_list would buffer it). Graded artifacts are all
    * ORDER-SENSITIVE: first/last event code, the position-weighted
    * checksum Σ rank·code (any permutation of a user's events breaks
    * it), and adjacent-change counts.
    *
    * Scale: one hash exchange + per-partition sort (the groupBy shuffle
    * plus the sort MR always paid); reducer state is one accumulator
    * per in-flight user, never a value list. Census per user-shard.
    *
    * Determinism (D1): (ts, event_id) is a total order per user; pure
    * integer artifacts.
    */
  private val mrSecondarySort = QueryDef(
    "q_mr_secondary_sort",
    (s, d) => {
      import s.implicits._
      val rows = Tables.events(s, d)
        .select(col("user_id"), unix_micros(col("ts")).as("tu"),
          col("event_id"),
          ascii(substring(col("event_type"), 1, 1)).as("code"))
        .as[SecSortRow]
      val perUser = rows
        .repartition(col("user_id"))
        .sortWithinPartitions(ascf("user_id"), ascf("tu"), ascf("event_id"))
        .mapPartitions { it =>
          new Iterator[SecSortAgg] {
            private var pending: Option[SecSortRow] = None
            def hasNext: Boolean = pending.isDefined || it.hasNext
            def next(): SecSortAgg = {
              val head = pending.getOrElse(it.next())
              pending = None
              var n = 1L; val first = head.code.toLong
              var last = head.code.toLong
              var ck = head.code.toLong; var ch = 0L
              var prev = head.code
              var done = false
              while (!done && it.hasNext) {
                val r = it.next()
                if (r.user_id != head.user_id) { pending = Some(r); done = true }
                else {
                  n += 1
                  if (r.code != prev) ch += 1
                  prev = r.code; last = r.code.toLong
                  ck += n * r.code
                }
              }
              SecSortAgg(head.user_id, n, first, last, ck, ch)
            }
          }
        }(Encoders.product[SecSortAgg])
      perUser.groupBy(pmod(col("user_id"), lit(16L)).as("bucket"))
        .agg(count(lit(1)).as("n_users"),
          sum(col("n_events")).as("n_events"),
          sum(col("first_code")).as("first_checksum"),
          sum(col("last_code")).as("last_checksum"),
          sum(col("pos_checksum")).as("pos_checksum"),
          sum(col("n_changes")).as("n_changes"),
          max(col("n_events")).as("max_events"))
        .orderBy(ascf("bucket"))
    },
    Some("""WITH e AS (SELECT user_id, epoch_us(ts) AS tu, event_id,
           |    ascii(substring(event_type, 1, 1)) AS code FROM events),
           |r AS (SELECT user_id, code,
           |    row_number() OVER wu AS rn,
           |    lag(code) OVER wu AS pc,
           |    count(*) OVER (PARTITION BY user_id) AS n
           |  FROM e
           |  WINDOW wu AS (PARTITION BY user_id
           |    ORDER BY tu ASC, event_id ASC)),
           |u AS (SELECT user_id, max(n) AS n,
           |    sum(CASE WHEN rn = 1 THEN code ELSE 0 END) AS fst,
           |    sum(CASE WHEN rn = n THEN code ELSE 0 END) AS lst,
           |    CAST(sum(rn * code) AS BIGINT) AS ck,
           |    CAST(sum(CASE WHEN pc IS NOT NULL AND pc <> code
           |      THEN 1 ELSE 0 END) AS BIGINT) AS ch
           |  FROM r GROUP BY user_id)
           |SELECT user_id % 16 AS bucket,
           |  CAST(count(*) AS BIGINT) AS n_users,
           |  CAST(sum(n) AS BIGINT) AS n_events,
           |  CAST(sum(fst) AS BIGINT) AS first_checksum,
           |  CAST(sum(lst) AS BIGINT) AS last_checksum,
           |  CAST(sum(ck) AS BIGINT) AS pos_checksum,
           |  CAST(sum(ch) AS BIGINT) AS n_changes,
           |  CAST(max(n) AS BIGINT) AS max_events
           |FROM u GROUP BY 1
           |ORDER BY bucket ASC NULLS FIRST""".stripMargin))

  /** Count of URL access frequency — OSDI'04 §2.3's SECOND example —
    * through the MapReduce veneer (round 8): the mapper parses each
    * access-log record into its URL (here events rows rendered as
    * `/<event_type>/<user_id mod 100>` resource paths — the fixture's
    * stand-in for a web log) and emits (URL, 1); the combiner sums.
    * With q_mr_url_freq, q_mr_revlink and q_mr_termvector this round
    * completes the paper's §2.3 canonical example list on the graded
    * surface: grep ✓ url-frequency ✓ wordcount ✓ reverse link graph ✓
    * term-vector ✓ inverted index ✓ distributed sort ✓.
    *
    * Scale: the map side is a pure projection; the combiner
    * partial-sums before the exchange, so the shuffle carries one
    * partial per (URL, partition) — URL-cardinality-bounded.
    */
  private val mrUrlFreq = QueryDef(
    "q_mr_url_freq",
    (s, d) => {
      import s.implicits._
      val ev = Tables.events(s, d)
        .select(col("event_type"), col("user_id").cast("long"))
        .as[(String, Long)]
      graft.mr.MapReduce.run(ev) { case (t, u) =>
        Seq((s"/$t/${u % 100}", 1L))
      }(_ + _)
        .toDF("url", "n_hits")
        .orderBy(ascf("url"))
    },
    Some("""SELECT '/' || event_type || '/' ||
           |    CAST(CAST(user_id AS BIGINT) % 100 AS VARCHAR) AS url,
           |  CAST(count(*) AS BIGINT) AS n_hits
           |FROM events GROUP BY 1
           |ORDER BY url ASC NULLS FIRST""".stripMargin))

  /** Reverse web-link graph — OSDI'04 §2.3's fourth example — through
    * the MapReduce veneer (round 8): the source graph is REAL fixture
    * structure (order → part lines read as page → outlink); the mapper
    * emits (target, source) reversed, the reducer folds the postings
    * into the algebraic summary the q_mr_invidx precedent established
    * (a literal source LIST would be reduce-order-dependent): per
    * target, inlink count, distinct-ish min/max source and source sum.
    *
    * Scale: one shuffle keyed on target (part-cardinality); the
    * combiner partial-folds per partition, so heavy targets cost one
    * partial per partition, not one record per inlink, at the exchange.
    */
  private val mrRevlink = QueryDef(
    "q_mr_revlink",
    (s, d) => {
      import s.implicits._
      val links = Tables.lineitem(s, d)
        .select(col("l_orderkey").cast("long"),
          col("l_partkey").cast("long"))
        .as[(Long, Long)]
      graft.mr.MapReduce.run(links) { case (src, tgt) =>
        Seq((tgt, (1L, src, src, src)))
      } { case ((c1, mn1, mx1, s1), (c2, mn2, mx2, s2)) =>
        (c1 + c2, math.min(mn1, mn2), math.max(mx1, mx2), s1 + s2)
      }
        .map { case (t, (c, mn, mx, sm)) => (t, c, mn, mx, sm) }
        .toDF("target", "n_inlinks", "min_src", "max_src", "src_sum")
        .orderBy(ascf("target"))
    },
    Some("""SELECT CAST(l_partkey AS BIGINT) AS target,
           |  CAST(count(*) AS BIGINT) AS n_inlinks,
           |  CAST(min(l_orderkey) AS BIGINT) AS min_src,
           |  CAST(max(l_orderkey) AS BIGINT) AS max_src,
           |  CAST(sum(l_orderkey) AS BIGINT) AS src_sum
           |FROM lineitem GROUP BY 1
           |ORDER BY target ASC NULLS FIRST""".stripMargin))

  /** Term-vector per host — OSDI'04 §2.3's fifth example — through the
    * MapReduce veneer (round 8): map emits ((host, word), 1) per token
    * with the document's `source` as the host, the combiner sums, and
    * the paper's "most important terms" head is the top-5 per host by
    * (count DESC, word ASC) — expressed as a window over the
    * veneer-reduced term counts (the reducer-side heap of a classic MR
    * job IS a per-key top-k; on this engine that is a rank window over
    * the host-partitioned aggregate, which AQE keeps host-local).
    *
    * Scale: the shuffle carries (host, word) partials (vocabulary-
    * bounded); the top-k window partitions by host — no global sort,
    * no single-partition stage.
    */
  private val mrTermvector = QueryDef(
    "q_mr_termvector",
    (s, d) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val docs = Tables.documents(s, d)
        .select(col("source"), col("text")).as[(String, String)]
      val counts = graft.mr.MapReduce.run(docs) { case (host, t) =>
        t.split(" ", -1).toSeq.map(w => ((host, w), 1L))
      }(_ + _)
        .map { case ((h, w), c) => (h, w, c) }
        .toDF("host", "word", "cnt")
      counts
        .withColumn("rank", row_number().over(Window.partitionBy(col("host"))
          .orderBy(descl("cnt"), ascf("word"))).cast("long"))
        .filter(col("rank") <= 5)
        .select(col("host"), col("rank"), col("word"), col("cnt"))
        .orderBy(ascf("host"), ascf("rank"))
    },
    Some("""WITH tw AS (SELECT source AS host,
           |    unnest(string_split(text, ' ')) AS word
           |  FROM documents),
           |tc AS (SELECT host, word, CAST(count(*) AS BIGINT) AS cnt
           |  FROM tw GROUP BY 1, 2),
           |r AS (SELECT host, word, cnt,
           |    CAST(row_number() OVER (PARTITION BY host
           |      ORDER BY cnt DESC, word ASC) AS BIGINT) AS rank
           |  FROM tc)
           |SELECT host, rank, word, cnt FROM r WHERE rank <= 5
           |ORDER BY host ASC NULLS FIRST, rank ASC NULLS FIRST"""
      .stripMargin))

  def defs: Seq[QueryDef] =
    Seq(udfScalar, udafGeomean, udafWavg, udtfTokenize, mrWordcount,
      mrInvidx, mrGrep, mrSort, mrJoin, mrSecondarySort, mrUrlFreq,
      mrRevlink, mrTermvector)
}
