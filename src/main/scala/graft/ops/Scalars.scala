package graft.ops

import graft.{QueryDef, Tables}
import graft.Dsl._
import org.apache.spark.sql.functions._

/** Scalar functions + array/map/explode (SURVEY.md §2.9–§2.10).
  *
  * All expressions here are Catalyst builtins (whole-stage-codegen'd) —
  * no UDFs in the hot path. Cross-engine type traps handled per the
  * probe run against DuckDB 1.0:
  *   - length/strpos/year/ranking are BIGINT in DuckDB, INT in Spark → cast
  *   - floor/ceil are DOUBLE in DuckDB, BIGINT in Spark → cast both
  *   - sign is TINYINT in DuckDB, DOUBLE in Spark → cast both
  *   - DuckDB regexp_replace is first-match unless the 'g' flag is given
  *     (Spark is always global)
  *   - DuckDB map[key] yields a LIST → the map oracle states the expected
  *     scalars directly instead of indexing a map
  * ln/exp/power go through round(,4) (rule D3 — libm last-ulp drift).
  */
object Scalars {

  // ---------------------------------------------------------------- §2.9

  private val fnString = QueryDef(
    "q_fn_string",
    (s, d) =>
      Tables.part(s, d)
        .select(col("p_partkey"),
          upper(col("p_name")).as("up"),
          lower(col("p_brand")).as("lo"),
          substring(col("p_name"), 1, 5).as("sub5"),
          lpad(trim(col("p_name")), 20, "*").as("padded"),
          expr("replace(p_name, 'widget', 'gear')").as("rep"),
          concat_ws("-", col("p_brand"), col("p_type")).as("cw"),
          length(col("p_name")).cast("bigint").as("len"),
          instr(col("p_name"), "e").cast("bigint").as("pos_e"))
        .orderBy(ascf("p_partkey")),
    Some("""SELECT p_partkey, upper(p_name) AS up, lower(p_brand) AS lo,
           |  substring(p_name, 1, 5) AS sub5,
           |  lpad(trim(p_name), 20, '*') AS padded,
           |  replace(p_name, 'widget', 'gear') AS rep,
           |  concat_ws('-', p_brand, p_type) AS cw,
           |  length(p_name) AS len,
           |  strpos(p_name, 'e') AS pos_e
           |FROM part ORDER BY p_partkey ASC NULLS FIRST""".stripMargin))

  /** Rule D6: Java regex vs RE2 — shared subset only (classes, +*?,
    * anchors, alternation; no backrefs/lookaround).
    */
  private val fnRegex = QueryDef(
    "q_fn_regex",
    (s, d) =>
      Tables.part(s, d)
        .filter(col("p_name").rlike("w[a-z]*t"))
        .select(col("p_partkey"),
          regexp_extract(col("p_name"), "([a-z]+)$", 1).as("last_word"),
          regexp_replace(col("p_name"), "[aeiou]", "_").as("devowel"))
        .orderBy(ascf("p_partkey")),
    Some("""SELECT p_partkey,
           |  regexp_extract(p_name, '([a-z]+)$', 1) AS last_word,
           |  regexp_replace(p_name, '[aeiou]', '_', 'g') AS devowel
           |FROM part WHERE regexp_matches(p_name, 'w[a-z]*t')
           |ORDER BY p_partkey ASC NULLS FIRST""".stripMargin))

  /** Rule D7: no dayofweek (Spark 1=Sunday, DuckDB 0=Sunday) — year/month/
    * day, date_trunc, interval arithmetic and day-diffs only.
    */
  private val fnDate = QueryDef(
    "q_fn_date",
    (s, d) =>
      Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_linenumber"),
          year(col("l_shipdate")).cast("bigint").as("yr"),
          month(col("l_shipdate")).cast("bigint").as("mo"),
          dayofmonth(col("l_shipdate")).cast("bigint").as("dy"),
          epochUs(date_trunc("month", col("l_shipdate"))).as("trunc_mo_us"),
          epochUs(col("l_shipdate") + expr("INTERVAL 3 DAYS")).as("plus3_us"),
          datediff(col("l_shipdate").cast("date"),
            lit("1995-01-01").cast("date")).cast("bigint").as("days_since"))
        .orderBy(ascf("l_orderkey"), ascf("l_linenumber"), ascf("plus3_us"),
          ascf("yr"), ascf("mo"), ascf("dy"), ascf("trunc_mo_us"),
          ascf("days_since")),
    Some("""SELECT l_orderkey, l_linenumber,
           |  year(l_shipdate) AS yr, month(l_shipdate) AS mo,
           |  CAST(day(l_shipdate) AS BIGINT) AS dy,
           |  epoch_us(date_trunc('month', l_shipdate)) AS trunc_mo_us,
           |  epoch_us(l_shipdate + INTERVAL 3 DAY) AS plus3_us,
           |  datediff('day', DATE '1995-01-01', CAST(l_shipdate AS DATE)) AS days_since
           |FROM lineitem
           |ORDER BY l_orderkey ASC NULLS FIRST, l_linenumber ASC NULLS FIRST,
           |  plus3_us ASC NULLS FIRST, yr ASC NULLS FIRST, mo ASC NULLS FIRST,
           |  dy ASC NULLS FIRST, trunc_mo_us ASC NULLS FIRST,
           |  days_since ASC NULLS FIRST""".stripMargin))

  private val fnMath = QueryDef(
    "q_fn_math",
    (s, d) =>
      Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"),
          round(col("l_extendedprice"), 1).as("r1"),
          floor(col("l_extendedprice")).cast("bigint").as("fl"),
          ceil(col("l_extendedprice")).cast("bigint").as("ce"),
          abs(col("l_extendedprice") - 50000.0).as("ab"),
          (col("l_orderkey") % 7).as("md"),
          signum(col("l_extendedprice") - 50000.0).cast("bigint").as("sg"),
          round(sqrt(col("l_extendedprice")), 4).as("sq"),
          round(pow(col("l_quantity"), 2.0), 4).as("pw"),
          round(log(col("l_extendedprice")), 4).as("lg"),
          round(exp(col("l_quantity") / 10.0), 4).as("ex"))
        .orderBy(ascf("l_orderkey"), ascf("l_linenumber"),
          ascf("l_extendedprice"), ascf("pw"), ascf("ex")),
    Some("""SELECT l_orderkey, l_linenumber, l_extendedprice,
           |  round(l_extendedprice, 1) AS r1,
           |  CAST(floor(l_extendedprice) AS BIGINT) AS fl,
           |  CAST(ceil(l_extendedprice) AS BIGINT) AS ce,
           |  abs(l_extendedprice - 50000.0) AS ab,
           |  l_orderkey % 7 AS md,
           |  CAST(sign(l_extendedprice - 50000.0) AS BIGINT) AS sg,
           |  round(sqrt(l_extendedprice), 4) AS sq,
           |  round(pow(l_quantity, 2.0), 4) AS pw,
           |  round(ln(l_extendedprice), 4) AS lg,
           |  round(exp(l_quantity / 10.0), 4) AS ex
           |FROM lineitem
           |ORDER BY l_orderkey ASC NULLS FIRST, l_linenumber ASC NULLS FIRST,
           |  l_extendedprice ASC NULLS FIRST, pw ASC NULLS FIRST, ex ASC NULLS FIRST""".stripMargin))

  private val fnCond = QueryDef(
    "q_fn_cond",
    (s, d) =>
      Tables.customer(s, d)
        .select(col("c_custkey"),
          when(col("c_mktsegment").isin("BUILDING", "AUTOMOBILE"), "core")
            .when(col("c_acctbal") > 5000, "rich")
            .otherwise("other").as("seg_class"),
          coalesce(nullif(col("c_mktsegment"), lit("MACHINERY")),
            lit("redacted")).as("seg_co"),
          greatest(col("c_acctbal"), lit(0.0)).as("bal_floor"),
          least(col("c_acctbal"), lit(1000.0)).as("bal_cap"))
        .orderBy(ascf("c_custkey")),
    Some("""SELECT c_custkey,
           |  CASE WHEN c_mktsegment IN ('BUILDING','AUTOMOBILE') THEN 'core'
           |       WHEN c_acctbal > 5000 THEN 'rich'
           |       ELSE 'other' END AS seg_class,
           |  coalesce(nullif(c_mktsegment, 'MACHINERY'), 'redacted') AS seg_co,
           |  greatest(c_acctbal, 0.0) AS bal_floor,
           |  least(c_acctbal, 1000.0) AS bal_cap
           |FROM customer ORDER BY c_custkey ASC NULLS FIRST""".stripMargin))

  /** Rule D4: never double→string (formatting differs). double→bigint is
    * also avoided (Spark truncates, DuckDB rounds) — exact-2dp doubles go
    * through decimal instead.
    */
  private val fnCast = QueryDef(
    "q_fn_cast",
    (s, d) =>
      Tables.orders(s, d)
        .select(col("o_orderkey"),
          col("o_orderkey").cast("string").as("key_str"),
          col("o_orderkey").cast("string").cast("bigint").as("key_back"),
          col("o_custkey").cast("double").as("cust_dbl"),
          pinDouble(dec(col("o_totalprice"))).as("price_dec"),
          (col("o_orderkey") % 100).cast("int").as("key_mod_i32"),
          epochUs(col("o_orderdate")).as("odate_us"))
        .orderBy(ascf("o_orderkey")),
    Some("""SELECT o_orderkey,
           |  CAST(o_orderkey AS VARCHAR) AS key_str,
           |  CAST(CAST(o_orderkey AS VARCHAR) AS BIGINT) AS key_back,
           |  CAST(o_custkey AS DOUBLE) AS cust_dbl,
           |  CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS price_dec,
           |  CAST(o_orderkey % 100 AS INTEGER) AS key_mod_i32,
           |  epoch_us(o_orderdate) AS odate_us
           |FROM orders ORDER BY o_orderkey ASC NULLS FIRST""".stripMargin))

  private val fnJson = QueryDef(
    "q_fn_json",
    (s, d) =>
      Tables.events(s, d)
        .select(col("event_id"),
          get_json_object(col("props"), "$.k").as("k_str"),
          get_json_object(col("props"), "$.k").cast("bigint").as("k_num"))
        .orderBy(ascf("event_id")),
    // TRY_CAST mirrors Spark's null-on-failure cast (ADVICE r02): a plain
    // CAST would hard-error the whole oracle on any non-numeric k.
    Some("""SELECT event_id,
           |  json_extract_string(props, '$.k') AS k_str,
           |  TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_num
           |FROM events ORDER BY event_id ASC NULLS FIRST""".stripMargin))

  // --------------------------------------------------------------- §2.10

  /** Rule D8: 1-based element access on both engines (verified); float
    * elements widen to double (exact) before any rounding. List-typed
    * outputs are ungradeable (the driver's pandas sort crashes on ndarray
    * cells — ADVICE r02), so the slice is emitted as three scalar columns.
    */
  private val arrFuncs = QueryDef(
    "q_arr_funcs",
    (s, d) => {
      // + 0.0 normalizes negative zero: rounding a tiny negative to 0
      // yields 0.0 in Spark (string-based round) but -0.0 in DuckDB
      // (binary round) — they render apart (sf0.1 parity sweep)
      def el(i: Int) =
        round(element_at(col("embedding"), i).cast("double"), 4) + lit(0.0)
      Tables.embeddings(s, d)
        .select(col("vec_id"),
          size(col("embedding")).cast("bigint").as("dim"),
          el(1).as("e1"), el(2).as("e2"), el(3).as("e3"),
          (round(aggregate(slice(col("embedding"), 1, 3),
            lit(0.0), (acc, x) => acc + x.cast("double")), 4) + lit(0.0))
            .as("head3_sum"))
        .orderBy(ascf("vec_id"))
    },
    Some("""SELECT vec_id, len(embedding) AS dim,
           |  round(CAST(embedding[1] AS DOUBLE), 4) + 0.0 AS e1,
           |  round(CAST(embedding[2] AS DOUBLE), 4) + 0.0 AS e2,
           |  round(CAST(embedding[3] AS DOUBLE), 4) + 0.0 AS e3,
           |  round(CAST(embedding[1] AS DOUBLE) + CAST(embedding[2] AS DOUBLE)
           |    + CAST(embedding[3] AS DOUBLE), 4) + 0.0 AS head3_sum
           |FROM embeddings ORDER BY vec_id ASC NULLS FIRST""".stripMargin))

  /** Per-position stats over exploded vectors. Spark posexplode is
    * 0-based; the oracle reconstructs the same 0-based position via a
    * range(64) join (dim is fixed at 64 — FIXTURES.md). Float values are
    * scaled to exact integers (round(x·1e6)) so the per-position sums are
    * exact BIGINT arithmetic, not order-dependent double accumulation.
    */
  private val arrExplode = QueryDef(
    "q_arr_explode",
    (s, d) =>
      Tables.embeddings(s, d)
        .filter(col("vec_id") < 20)
        .select(col("vec_id"), posexplode(col("embedding")).as(Seq("pos", "v")))
        .withColumn("v_e6",
          round(col("v").cast("double") * 1000000, 0).cast("bigint"))
        .groupBy(col("pos").cast("bigint").as("pos"))
        .agg(count(lit(1)).as("cnt"),
          sum(col("v_e6")).as("sum_e6"),
          min(col("v_e6")).as("min_e6"),
          max(col("v_e6")).as("max_e6"))
        .orderBy(ascf("pos")),
    Some("""SELECT CAST(i AS BIGINT) AS pos, count(*) AS cnt,
           |  CAST(sum(CAST(round(CAST(embedding[i+1] AS DOUBLE) * 1000000, 0) AS BIGINT)) AS BIGINT) AS sum_e6,
           |  min(CAST(round(CAST(embedding[i+1] AS DOUBLE) * 1000000, 0) AS BIGINT)) AS min_e6,
           |  max(CAST(round(CAST(embedding[i+1] AS DOUBLE) * 1000000, 0) AS BIGINT)) AS max_e6
           |FROM embeddings, range(64) t(i)
           |WHERE vec_id < 20
           |GROUP BY i ORDER BY pos ASC NULLS FIRST""".stripMargin))

  /** Collected list emitted as a joined string (list cells are ungradeable
    * — ADVICE r02); sort before join pins element order (D8).
    */
  private val arrAgg = QueryDef(
    "q_arr_agg",
    (s, d) =>
      Tables.documents(s, d)
        .groupBy(col("lang"))
        .agg(array_join(array_sort(collect_set(col("source"))), ",").as("srcs"),
          size(collect_set(col("source"))).cast("bigint").as("n_src"))
        .orderBy(ascf("lang")),
    Some("""SELECT lang,
           |  array_to_string(list_sort(list(DISTINCT source)), ',') AS srcs,
           |  count(DISTINCT source) AS n_src
           |FROM documents GROUP BY lang ORDER BY lang ASC NULLS FIRST""".stripMargin))

  /** MapType exercised on the Spark side (construct → element_at → size);
    * DuckDB map indexing yields a LIST in 1.0, so the oracle states the
    * expected scalars directly — the contract is the scalar output.
    */
  private val mapFuncs = QueryDef(
    "q_map_funcs",
    (s, d) => {
      val m = map_from_arrays(
        array(lit("brand"), lit("type")),
        array(col("p_brand"), col("p_type")))
      Tables.part(s, d)
        .select(col("p_partkey"),
          element_at(m, "brand").as("m_brand"),
          element_at(m, "type").as("m_type"),
          size(m).cast("bigint").as("m_card"))
        .orderBy(ascf("p_partkey"))
    },
    Some("""SELECT p_partkey, p_brand AS m_brand, p_type AS m_type,
           |  CAST(2 AS BIGINT) AS m_card
           |FROM part ORDER BY p_partkey ASC NULLS FIRST""".stripMargin))

  /** StructType exercised end-to-end: build a struct, access fields,
    * nest it, emit scalars (struct columns themselves never go to
    * parquet output — same rule as maps/lists, D9).
    */
  private val fnStruct = QueryDef(
    "q_fn_struct",
    (s, d) => {
      val pt = struct(col("p_brand").as("brand"), col("p_size").as("sz"),
        struct(col("p_type").as("t")).as("inner"))
      Tables.part(s, d)
        .select(col("p_partkey"), pt.as("ps"))
        .select(col("p_partkey"),
          col("ps.brand").as("brand"),
          (col("ps.sz") + 1).cast("bigint").as("sz1"),
          col("ps.inner.t").as("inner_type"))
        .orderBy(ascf("p_partkey"))
    },
    Some("""WITH t AS (SELECT p_partkey,
           |    struct_pack(brand := p_brand, sz := p_size,
           |      inner_s := struct_pack(t := p_type)) AS ps
           |  FROM part)
           |SELECT p_partkey, ps.brand AS brand,
           |  CAST(ps.sz + 1 AS BIGINT) AS sz1,
           |  ps.inner_s.t AS inner_type
           |FROM t ORDER BY p_partkey ASC NULLS FIRST""".stripMargin))

  /** Array higher-order functions: filter / exists / forall / reduce
    * over the quantized embedding (exact ints — D3), scalar outputs.
    */
  private val arrHof = QueryDef(
    "q_arr_hof",
    (s, d) => {
      val v = transform(col("embedding"),
        x => round(x.cast("double") * 1000000, 0).cast("long"))
      Tables.embeddings(s, d)
        .select(col("vec_id"),
          size(filter(v, x => x > 0)).cast("bigint").as("n_pos"),
          exists(v, x => x > 300000).as("any_big"),
          forall(v, x => x > -2000000).as("all_sane"),
          aggregate(filter(v, x => x > 0), lit(0L), (a, x) => a + x)
            .as("pos_sum"))
        .orderBy(ascf("vec_id"))
    },
    Some("""WITH q AS (SELECT vec_id,
           |    list_transform(embedding,
           |      x -> CAST(round(CAST(x AS DOUBLE) * 1000000, 0) AS BIGINT)) AS v
           |  FROM embeddings)
           |SELECT vec_id,
           |  CAST(len(list_filter(v, x -> x > 0)) AS BIGINT) AS n_pos,
           |  CAST(len(list_filter(v, x -> x > 300000)) AS BIGINT) > 0 AS any_big,
           |  CAST(len(list_filter(v, x -> x <= -2000000)) AS BIGINT) = 0 AS all_sane,
           |  coalesce(CAST(list_sum(list_filter(v, x -> x > 0)) AS BIGINT), 0) AS pos_sum
           |FROM q ORDER BY vec_id ASC NULLS FIRST""".stripMargin))

  /** Bitwise function family (round 4): and/or/xor masks, shifts, and
    * popcount over event ids — exact int64 on both engines, the last
    * scalar family the inventory lacked.
    */
  private val fnBitwise = QueryDef(
    "q_fn_bitwise",
    (s, d) =>
      Tables.events(s, d)
        .select(col("event_id"),
          col("event_id").bitwiseAND(lit(255L)).as("lo_byte"),
          col("event_id").bitwiseOR(lit(4096L)).as("with_flag"),
          col("event_id").bitwiseXOR(col("user_id")).as("mixed"),
          bit_count(col("event_id")).cast("bigint").as("popcount"),
          shiftleft(col("event_id"), 3).as("shl3"),
          shiftright(col("event_id"), 2).as("shr2"))
        .orderBy(ascf("event_id")),
    Some("""SELECT event_id,
           |  event_id & 255 AS lo_byte,
           |  event_id | 4096 AS with_flag,
           |  xor(event_id, user_id) AS mixed,
           |  CAST(bit_count(event_id) AS BIGINT) AS popcount,
           |  event_id << 3 AS shl3,
           |  event_id >> 2 AS shr2
           |FROM events ORDER BY event_id ASC NULLS FIRST""".stripMargin))

  /** URL canonicalization + dedup census (round 6): the web-curation
    * normalizer every crawl pipeline runs before URL-level dedup —
    * lowercase scheme/host, drop the default port, strip tracking
    * parameters (utm_*, ref), sort the survivors — then census how many
    * raw URLs collapse per canonical form. URLs are synthesized
    * deterministically from doc columns (case-varied scheme/host, a
    * :443 port, shuffled tracking params), so both engines start from
    * identical strings; parsing stays in the D6 Java∩RE2 regex subset
    * (classes, anchors, +*? — no lookaround), and param filtering uses
    * substring compares, not LIKE (whose `_` wildcard would need
    * dialect-specific escaping).
    *
    * Shape at 100 TB: pure per-row string work (codegen'd) + one
    * (lang, canonical) partial agg + one lang-grain rollup — the
    * canonical key IS the dedup shuffle key, exactly how a crawl
    * URL-dedup partitions.
    */
  private val fnUrl = QueryDef(
    "q_fn_url",
    (s, d) => {
      val raw = Tables.documents(s, d).select(col("doc_id"), col("lang"),
        concat(
          when(pmod(col("doc_id"), lit(2)) === 0, lit("HTTPS://WWW."))
            .otherwise(lit("https://www.")),
          col("source"), lit(".Example.COM:443/"), col("lang"),
          lit("/item?utm_source=feed&id="),
          expr("doc_id div 10").cast("string"), lit("&ref=r"),
          pmod(col("doc_id"), lit(7)).cast("string"),
          lit("&utm_medium=rss")).as("url"))
      val parsed = raw
        // the scheme is PARSED and lowercased, not assumed (ADVICE r6:
        // a hardcoded 'https://' was correct only because every
        // synthesized URL happened to be https)
        .withColumn("scheme",
          lower(regexp_extract(col("url"), "^([a-zA-Z]+)://", 1)))
        .withColumn("host",
          lower(regexp_extract(col("url"), "^[a-zA-Z]+://([^/:?]+)", 1)))
        .withColumn("path",
          regexp_extract(col("url"), "://[^/?]+(/[^?]*)", 1))
        .withColumn("qs", regexp_extract(col("url"), "\\?(.*)$", 1))
        .withColumn("allp", split(col("qs"), "&"))
        .withColumn("kept", array_sort(expr(
          "filter(allp, p -> substring(p, 1, 4) <> 'utm_' " +
            "AND substring(p, 1, 4) <> 'ref=')")))
        .withColumn("canonical", concat(col("scheme"), lit("://"), col("host"),
          col("path"), lit("?"), array_join(col("kept"), "&")))
        .withColumn("dropped",
          (size(col("allp")) - size(col("kept"))).cast("long"))
      val g = parsed.groupBy(col("lang"), col("canonical"))
        .agg(count(lit(1)).as("cnt"), sum(col("dropped")).as("dr"))
      g.groupBy(col("lang"))
        .agg(sum(col("cnt")).as("n_urls"),
          count(lit(1)).as("n_canonical"),
          max(col("cnt")).as("max_group"),
          sum(col("dr")).as("n_params_dropped"))
        .orderBy(ascf("lang"))
    },
    Some("""WITH raw AS (SELECT doc_id, lang,
           |    (CASE WHEN doc_id % 2 = 0 THEN 'HTTPS://WWW.'
           |      ELSE 'https://www.' END)
           |    || source || '.Example.COM:443/' || lang
           |    || '/item?utm_source=feed&id=' || CAST(doc_id // 10 AS VARCHAR)
           |    || '&ref=r' || CAST(doc_id % 7 AS VARCHAR)
           |    || '&utm_medium=rss' AS url
           |  FROM documents),
           |parsed AS (SELECT lang,
           |    lower(regexp_extract(url, '^([a-zA-Z]+)://', 1)) AS scheme,
           |    lower(regexp_extract(url, '^[a-zA-Z]+://([^/:?]+)', 1)) AS host,
           |    regexp_extract(url, '://[^/?]+(/[^?]*)', 1) AS path,
           |    regexp_extract(url, '\?(.*)$', 1) AS qs
           |  FROM raw),
           |canon AS (SELECT lang,
           |    string_split(qs, '&') AS allp,
           |    list_sort(list_filter(string_split(qs, '&'),
           |      p -> substring(p, 1, 4) <> 'utm_'
           |        AND substring(p, 1, 4) <> 'ref=')) AS kept,
           |    scheme || '://' || host || path AS hp
           |  FROM parsed),
           |c2 AS (SELECT lang,
           |    hp || '?' || array_to_string(kept, '&') AS canonical,
           |    CAST(len(allp) - len(kept) AS BIGINT) AS dropped
           |  FROM canon),
           |g AS (SELECT lang, canonical, count(*) AS cnt,
           |    sum(dropped) AS dr
           |  FROM c2 GROUP BY 1, 2)
           |SELECT lang, CAST(sum(cnt) AS BIGINT) AS n_urls,
           |  CAST(count(*) AS BIGINT) AS n_canonical,
           |  CAST(max(cnt) AS BIGINT) AS max_group,
           |  CAST(sum(dr) AS BIGINT) AS n_params_dropped
           |FROM g GROUP BY lang
           |ORDER BY lang ASC NULLS FIRST""".stripMargin))

  /** Cryptographic digest functions as a shard-assignment census
    * (round 7): content-addressable storage keys every blob by its
    * digest and shards by the digest PREFIX — this key computes
    * md5/sha-256 per document and grades the resulting 16-way
    * first-nibble shard layout (doc count, language spread, byte mass,
    * lexicographic sha anchor per shard).
    *
    * Scale: the digests are per-row codegen'd projections (no shuffle),
    * and the census groups on a 16-value key — the exchange is constant
    * size at any SF. This is exactly the balance check run before
    * picking a digest-prefix partitioning for a 100 TB blob store: a
    * flat histogram certifies the shard key.
    *
    * Determinism: both engines hash the UTF-8 bytes of the text with
    * the same standard algorithms (RFC 1321 md5, FIPS 180-4 sha-256)
    * and render lowercase hex, so every digest string — and everything
    * derived from it — is bit-identical by specification.
    */
  private val fnHash = QueryDef(
    "q_fn_hash",
    (s, d) => {
      val h = Tables.documents(s, d).select(col("lang"), col("n_chars"),
        md5(col("text")).as("m"), sha2(col("text"), 256).as("s2"))
      h.groupBy(substring(col("m"), 1, 1).as("shard"))
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("lang")).as("n_langs"),
          sum(col("n_chars")).as("sum_chars"),
          min(col("s2")).as("min_sha256"))
        .orderBy(ascf("shard"))
    },
    Some("""WITH h AS (SELECT lang, n_chars,
           |    md5(text) AS m, sha256(text) AS s2
           |  FROM documents)
           |SELECT substring(m, 1, 1) AS shard,
           |  CAST(count(*) AS BIGINT) AS n_docs,
           |  CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
           |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
           |  min(s2) AS min_sha256
           |FROM h GROUP BY 1
           |ORDER BY shard ASC NULLS FIRST""".stripMargin))

  /** IPv4 parsing and CIDR classification (round 7): the network-log
    * analytics surface — dotted-quad strings are PARSED back to octets,
    * packed into a uint32-in-int64, classified against the RFC-1918
    * private ranges, and bucketed by /8 and /16 — the per-subnet census
    * every access-log pipeline runs. Addresses are synthesized from
    * user_id (the q_fn_url pattern: both engines derive the identical
    * string column from fixture data, then the PARSE path is what's
    * graded — a broken split/pack/classify breaks the hash).
    *
    * Scale: one events scan; parse/pack/classify are per-row codegen'd
    * string+integer projections; distinct-ip and distinct-subnet counts
    * ride the same /8-keyed hash aggregate with map-side partials.
    *
    * Determinism (D2): all arithmetic is int64 modulo/packing on
    * non-negative operands; the regex-free split('.') subset is shared
    * by both engines.
    */
  private val fnIp = QueryDef(
    "q_fn_ip",
    (s, d) => {
      val raw = Tables.events(s, d).select(col("user_id"))
        .withColumn("o1s", when(pmod(col("user_id"), lit(3)) === 0, lit(10L))
          .when(pmod(col("user_id"), lit(3)) === 1, lit(172L))
          .otherwise(lit(203L)))
        .withColumn("o2s", when(col("o1s") === 172,
            lit(16L) + pmod(col("user_id") * 7, lit(16L)))
          .otherwise(pmod(col("user_id") * 7, lit(256L))))
        .withColumn("ip", concat_ws(".",
          col("o1s").cast("string"), col("o2s").cast("string"),
          pmod(col("user_id") * 13, lit(256L)).cast("string"),
          (lit(1L) + pmod(col("user_id") * 29, lit(254L))).cast("string")))
        .select(col("ip"))
      // the graded path starts here: parse the STRING back
      val parsed = raw
        .withColumn("parts", split(col("ip"), "\\."))
        .withColumn("o1", element_at(col("parts"), 1).cast("long"))
        .withColumn("o2", element_at(col("parts"), 2).cast("long"))
        .withColumn("o3", element_at(col("parts"), 3).cast("long"))
        .withColumn("o4", element_at(col("parts"), 4).cast("long"))
        .withColumn("ip32",
          ((col("o1") * 256 + col("o2")) * 256 + col("o3")) * 256 + col("o4"))
        .withColumn("is_private", (col("o1") === 10) ||
          (col("o1") === 172 && col("o2") >= 16 && col("o2") <= 31))
        .withColumn("subnet16", expr("ip32 div 65536"))
      parsed.groupBy(col("o1"), col("is_private"))
        .agg(count(lit(1)).as("n_events"),
          countDistinct(col("ip32")).as("n_ips"),
          countDistinct(col("subnet16")).as("n_subnets"),
          min(col("ip32")).as("min_ip32"),
          max(col("ip32")).as("max_ip32"))
        .orderBy(ascf("o1"))
    },
    Some("""WITH raw AS (SELECT
           |    CAST(CASE WHEN user_id % 3 = 0 THEN 10
           |      WHEN user_id % 3 = 1 THEN 172 ELSE 203 END AS VARCHAR)
           |    || '.' ||
           |    CAST(CASE WHEN user_id % 3 = 1
           |        THEN 16 + (user_id * 7) % 16
           |        ELSE (user_id * 7) % 256 END AS VARCHAR)
           |    || '.' || CAST((user_id * 13) % 256 AS VARCHAR)
           |    || '.' || CAST(1 + (user_id * 29) % 254 AS VARCHAR) AS ip
           |  FROM events),
           |p AS (SELECT
           |    CAST(string_split(ip, '.')[1] AS BIGINT) AS o1,
           |    CAST(string_split(ip, '.')[2] AS BIGINT) AS o2,
           |    CAST(string_split(ip, '.')[3] AS BIGINT) AS o3,
           |    CAST(string_split(ip, '.')[4] AS BIGINT) AS o4
           |  FROM raw),
           |x AS (SELECT o1,
           |    ((o1 * 256 + o2) * 256 + o3) * 256 + o4 AS ip32,
           |    (o1 = 10 OR (o1 = 172 AND o2 BETWEEN 16 AND 31))
           |      AS is_private
           |  FROM p),
           |y AS (SELECT o1, is_private, ip32, ip32 // 65536 AS subnet16
           |  FROM x)
           |SELECT o1, is_private,
           |  CAST(count(*) AS BIGINT) AS n_events,
           |  CAST(count(DISTINCT ip32) AS BIGINT) AS n_ips,
           |  CAST(count(DISTINCT subnet16) AS BIGINT) AS n_subnets,
           |  CAST(min(ip32) AS BIGINT) AS min_ip32,
           |  CAST(max(ip32) AS BIGINT) AS max_ip32
           |FROM y GROUP BY o1, is_private
           |ORDER BY o1 ASC NULLS FIRST""".stripMargin))

  /** Binary-to-text transport codecs (round 7): RFC 4648 base64 and
    * hex over document text, with both DECODE paths round-tripped and
    * the round-trip exactness counted — the encode/decode primitive
    * every binary-over-JSON/text transport (webhooks, protobuf-in-
    * logs, data URIs) runs at corpus scale. Both engines implement the
    * same RFCs (java.util.Base64 basic alphabet, no line wrap ↔ DuckDB
    * to_base64), so the encoded STRINGS are graded directly, not just
    * their lengths: prefix checksums pin the alphabet and padding.
    *
    * Scale: embarrassingly parallel per-row codegen'd projections; the
    * only exchange is the lang-grain census.
    *
    * Determinism (D2): integer char codes and lengths; prefix checksum
    * = Σ ascii of the first 8 encoded chars.
    */
  private val fnBase64 = QueryDef(
    "q_fn_base64",
    (s, d) => {
      val enc = Tables.documents(s, d).select(col("doc_id"), col("lang"),
          col("text"))
        // Spark's base64 emits the MIME flavor (CRLF every 76 chars);
        // the graded surface is RFC 4648 BASIC, so the line breaks are
        // stripped explicitly rather than left to a session conf
        .withColumn("b64",
          translate(base64(col("text").cast("binary")), "\r\n", ""))
        .withColumn("hx", hex(col("text").cast("binary")))
        .withColumn("rt_b64", unbase64(col("b64")).cast("string"))
        .withColumn("rt_hx", unhex(col("hx")).cast("string"))
      enc.groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(length(col("b64"))).as("b64_len_sum"),
          sum(length(col("hx"))).as("hex_len_sum"),
          sum(when(col("rt_b64") === col("text"), 1L).otherwise(0L))
            .as("n_b64_exact"),
          sum(when(col("rt_hx") === col("text"), 1L).otherwise(0L))
            .as("n_hex_exact"),
          sum(expr(
            """aggregate(transform(split(substring(b64, 1, 8), ''),
              |  c -> ascii(c)), 0L, (a, x) -> a + x)""".stripMargin))
            .as("b64_prefix_checksum"))
        .orderBy(ascf("lang"))
    },
    Some("""WITH enc AS (SELECT doc_id, lang, text,
           |    to_base64(encode(text)) AS b64,
           |    hex(encode(text)) AS hx
           |  FROM documents)
           |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
           |  CAST(sum(length(b64)) AS BIGINT) AS b64_len_sum,
           |  CAST(sum(length(hx)) AS BIGINT) AS hex_len_sum,
           |  CAST(sum(CASE WHEN from_base64(b64)::VARCHAR = text
           |    THEN 1 ELSE 0 END) AS BIGINT) AS n_b64_exact,
           |  CAST(sum(CASE WHEN unhex(hx)::VARCHAR = text
           |    THEN 1 ELSE 0 END) AS BIGINT) AS n_hex_exact,
           |  CAST(sum((SELECT coalesce(sum(ascii(c)), 0)
           |    FROM unnest(string_split(substring(b64, 1, 8), '')) AS t(c)))
           |    AS BIGINT) AS b64_prefix_checksum
           |FROM enc GROUP BY lang
           |ORDER BY lang ASC NULLS FIRST""".stripMargin))

  /** Deterministic content UUIDs (round 7): RFC 4122 version-3 style —
    * md5 of (namespace ‖ text) reformatted as 8-4-4-4-12 with the
    * version nibble pinned to '3' and the variant nibble folded into
    * 8..b — the ID-minting rule that lets independent pipelines assign
    * the SAME id to the same content with no coordination (the content-
    * addressed twin of q_shard_rendezvous's placement rule). The graded
    * columns pin distinctness (same text ⇒ same id, different ⇒
    * different at corpus scale), well-formedness (regex over the full
    * shape), and a char-code checksum of the variant nibble (exactly
    * the bits the reformat must touch).
    *
    * Scale: per-row codegen'd digest + string surgery, zero shuffle
    * before the lang census.
    *
    * Determinism: md5 is bit-identical by specification; the nibble
    * arithmetic is shared string indexing over a literal alphabet.
    */
  private val fnUuid = QueryDef(
    "q_fn_uuid",
    (s, d) => {
      val base = Tables.documents(s, d).select(col("doc_id"), col("lang"),
          col("text"))
        .withColumn("h", md5(concat(lit("graft:"), col("text"))))
        .withColumn("vn",
          (instr(lit("0123456789abcdef"), substring(col("h"), 17, 1))
            - 1) % 4)
        .withColumn("uuid", concat(
          substring(col("h"), 1, 8), lit("-"),
          substring(col("h"), 9, 4), lit("-3"),
          substring(col("h"), 14, 3), lit("-"),
          expr("substring('89ab', cast(vn + 1 as int), 1)"),
          substring(col("h"), 18, 3), lit("-"),
          substring(col("h"), 21, 12)))
      base.groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("uuid")).as("n_distinct"),
          sum(when(col("uuid").rlike(
            "^[0-9a-f]{8}-[0-9a-f]{4}-3[0-9a-f]{3}-[89ab][0-9a-f]{3}-" +
              "[0-9a-f]{12}$"), 1L).otherwise(0L)).as("n_wellformed"),
          sum(ascii(substring(col("uuid"), 20, 1))).as("variant_checksum"))
        .orderBy(ascf("lang"))
    },
    Some("""WITH b AS (SELECT doc_id, lang,
           |    md5('graft:' || text) AS h FROM documents),
           |u AS (SELECT doc_id, lang,
           |    substring(h, 1, 8) || '-' || substring(h, 9, 4) || '-3'
           |    || substring(h, 14, 3) || '-'
           |    || substring('89ab', CAST((instr('0123456789abcdef',
           |        substring(h, 17, 1)) - 1) % 4 + 1 AS INT), 1)
           |    || substring(h, 18, 3) || '-' || substring(h, 21, 12)
           |      AS uuid
           |  FROM b)
           |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
           |  CAST(count(DISTINCT uuid) AS BIGINT) AS n_distinct,
           |  CAST(sum(CASE WHEN regexp_matches(uuid,
           |    '^[0-9a-f]{8}-[0-9a-f]{4}-3[0-9a-f]{3}-[89ab][0-9a-f]{3}-[0-9a-f]{12}$')
           |    THEN 1 ELSE 0 END) AS BIGINT) AS n_wellformed,
           |  CAST(sum(ascii(substring(uuid, 20, 1))) AS BIGINT)
           |    AS variant_checksum
           |FROM u GROUP BY lang
           |ORDER BY lang ASC NULLS FIRST""".stripMargin))

  /** Spark 4 VARIANT semi-structured path (round 7): q_fn_json grades
    * string-path extraction (get_json_object); this grades the TYPED
    * semi-structured pipeline Spark 4 ships for JSON lakes —
    * parse_json → VARIANT once, then typed variant_get extractions at
    * nested object paths and 0-indexed array positions. The exercised
    * document is synthesized from fixture columns by IDENTICAL string
    * concatenation in both engines (the q_fn_url derive-don't-invent
    * pattern), nesting an object, an int, a string, and a 2-element
    * array; the census grades nested-path ints, both array cells, the
    * round-tripped string equalling its source column, and the
    * null-on-absent-path contract.
    *
    * Scale: parse-once-extract-many is the point of VARIANT — the
    * binary encoding is built in one pass and every extraction is a
    * path lookup, not a re-parse (vs q_fn_json's per-call string
    * parse); all map-side, census type-sized.
    *
    * Determinism (D1/D2): integer payloads render identically in the
    * concat on both engines; pure integer census.
    */
  private val fnVariant = QueryDef(
    "q_fn_variant",
    (s, d) => {
      val doc = concat(
        lit("""{"id": """), col("event_id").cast("string"),
        lit(""", "meta": {"type": """"), col("event_type"),
        lit("""", "k": """),
        get_json_object(col("props"), "$.k").cast("bigint").cast("string"),
        lit("""}, "tags": ["""),
        pmod(col("user_id"), lit(5L)).cast("string"), lit(", "),
        pmod(get_json_object(col("props"), "$.k").cast("bigint"), lit(7L))
          .cast("string"),
        lit("]}"))
      Tables.events(s, d)
        .select(col("event_id"), col("event_type"), doc.as("j"))
        .withColumn("v", expr("parse_json(j)"))
        .select(col("event_type"),
          expr("variant_get(v, '$.meta.k', 'bigint')").as("k"),
          expr("variant_get(v, '$.tags[0]', 'bigint')").as("t0"),
          expr("variant_get(v, '$.tags[1]', 'bigint')").as("t1"),
          expr("variant_get(v, '$.meta.type', 'string')").as("ty"),
          expr("variant_get(v, '$.absent', 'bigint')").as("ab"),
          expr("variant_get(v, '$.id', 'bigint')").as("vid"),
          col("event_id"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          sum(col("k")).as("k_sum"),
          sum(col("t0")).as("tag0_sum"),
          sum(col("t1")).as("tag1_sum"),
          sum(when(col("ty") === col("event_type"), 1L).otherwise(0L))
            .as("n_type_roundtrip"),
          sum(when(col("ab").isNull, 1L).otherwise(0L)).as("n_absent_null"),
          sum(when(col("vid") === col("event_id"), 1L).otherwise(0L))
            .as("n_id_roundtrip"))
        .orderBy(ascf("event_type"))
    },
    Some("""WITH j AS (SELECT event_type, event_id,
           |    '{"id": ' || CAST(event_id AS VARCHAR)
           |    || ', "meta": {"type": "' || event_type
           |    || '", "k": ' || CAST(CAST(json_extract_string(props, '$.k')
           |         AS BIGINT) AS VARCHAR)
           |    || '}, "tags": [' || CAST(user_id % 5 AS VARCHAR)
           |    || ', ' || CAST(CAST(json_extract_string(props, '$.k')
           |         AS BIGINT) % 7 AS VARCHAR)
           |    || ']}' AS doc
           |  FROM events),
           |x AS (SELECT event_type, event_id,
           |    CAST(json_extract_string(doc, '$.meta.k') AS BIGINT) AS k,
           |    CAST(json_extract_string(doc, '$.tags[0]') AS BIGINT) AS t0,
           |    CAST(json_extract_string(doc, '$.tags[1]') AS BIGINT) AS t1,
           |    json_extract_string(doc, '$.meta.type') AS ty,
           |    CAST(json_extract_string(doc, '$.absent') AS BIGINT) AS ab,
           |    CAST(json_extract_string(doc, '$.id') AS BIGINT) AS vid
           |  FROM j)
           |SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
           |  CAST(sum(k) AS BIGINT) AS k_sum,
           |  CAST(sum(t0) AS BIGINT) AS tag0_sum,
           |  CAST(sum(t1) AS BIGINT) AS tag1_sum,
           |  CAST(sum(CASE WHEN ty = event_type THEN 1 ELSE 0 END)
           |    AS BIGINT) AS n_type_roundtrip,
           |  CAST(sum(CASE WHEN ab IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           |    AS n_absent_null,
           |  CAST(sum(CASE WHEN vid = event_id THEN 1 ELSE 0 END)
           |    AS BIGINT) AS n_id_roundtrip
           |FROM x GROUP BY event_type
           |ORDER BY event_type ASC NULLS FIRST""".stripMargin))

  def defs: Seq[QueryDef] = Seq(
    fnString, fnRegex, fnDate, fnMath, fnCond, fnCast, fnJson,
    arrFuncs, arrExplode, arrAgg, mapFuncs, fnStruct, arrHof, fnBitwise,
    fnUrl, fnHash, fnIp, fnBase64, fnUuid, fnVariant)
}
