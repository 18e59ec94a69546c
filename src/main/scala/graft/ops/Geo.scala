package graft.ops

import graft.{QueryDef, Tables}
import graft.Dsl._
import org.apache.spark.sql.functions._

/** Spatial analytics (round 7): grid-bucketed proximity joins.
  *
  * The fixtures carry no coordinate columns, so planar positions are
  * SYNTHESIZED deterministically from entity keys (the q_fn_url pattern:
  * derive the exercised column from fixture data so the oracle computes
  * the identical input): integer positions on a 10000×10000 micro-grid
  * via fixed multiplier-mod maps. All geometry is exact int64 — squared
  * Euclidean distances, no sqrt, no floating point anywhere (D2).
  *
  * The operator shape is the standard distributed spatial-join pattern:
  * bucket space into cells, replicate one (small) side into its 3×3 cell
  * neighborhood, equi-join on the cell id, THEN do exact distance math
  * on the cell-bounded candidate set — never an all-pairs theta join.
  * This is how a 100 TB point corpus joins against a facility table:
  * candidates per point are bounded by cell occupancy, the equi-join
  * shuffles on the cell key (or broadcasts the replicated small side),
  * and the distance predicate runs codegen'd on candidates only.
  */
object Geo {

  /** Cell width: 500 micro-units → a 20×20 grid over the synthetic
    * plane. A supplier within `Cell` of a customer is ALWAYS in the
    * customer's 3×3 cell neighborhood, so "nearest within one cell
    * radius" is exact for the neighborhood join (documented semantics:
    * candidates beyond one cell are out of scope, the classic bounded-
    * radius NN).
    */
  private val Cell = 500L

  private val geoGrid = QueryDef(
    "q_geo_grid",
    (s, d) => {
      val cust = Tables.customer(s, d).select(col("c_custkey"),
          col("c_nationkey"),
          pmod(col("c_custkey") * 48271, lit(10000L)).as("xc"),
          pmod(col("c_custkey") * 69621, lit(10000L)).as("yc"))
      val c = graft.Caches.scoped(cust
        .withColumn("gx", expr(s"xc div $Cell"))
        .withColumn("gy", expr(s"yc div $Cell")))
      val sup = Tables.supplier(s, d).select(col("s_suppkey"),
        pmod(col("s_suppkey") * 40503, lit(10000L)).as("xs"),
        pmod(col("s_suppkey") * 65539, lit(10000L)).as("ys"))
      // replicate the SMALL side into its 9 neighbor cells; the big
      // side keeps exactly one row per point
      val sn = sup
        .withColumn("dx", explode(sequence(lit(-1L), lit(1L))))
        .withColumn("dy", explode(sequence(lit(-1L), lit(1L))))
        .select(col("s_suppkey"), col("xs"), col("ys"),
          (expr(s"xs div $Cell") + col("dx")).as("gx"),
          (expr(s"ys div $Cell") + col("dy")).as("gy"))
      val cand = c.join(broadcast(sn), Seq("gx", "gy"))
        .select(col("c_custkey"),
          ((col("xc") - col("xs")) * (col("xc") - col("xs")) +
            (col("yc") - col("ys")) * (col("yc") - col("ys"))).as("d2"))
      // min, not a window rank: the census grades the DISTANCE, so the
      // per-point reduction is a partial-aggregable min (map-side
      // combine on the candidate set, no per-point sort)
      val best = cand.groupBy(col("c_custkey")).agg(min(col("d2")).as("d2"))
      c.join(best, Seq("c_custkey"), "left")
        .join(broadcast(Tables.nation(s, d)
          .select(col("n_nationkey"), col("n_name"))),
          col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(count(lit(1)).as("n_customers"),
          sum(when(col("d2").isNotNull, 1L).otherwise(0L)).as("n_matched"),
          coalesce(sum(col("d2")), lit(0L)).as("sum_d2"),
          coalesce(max(col("d2")), lit(0L)).as("max_d2"))
        .orderBy(ascf("n_name"))
    },
    Some(s"""WITH c AS (SELECT c_custkey, c_nationkey,
           |    (c_custkey * 48271) % 10000 AS xc,
           |    (c_custkey * 69621) % 10000 AS yc
           |  FROM customer),
           |cg AS (SELECT c.*, xc // $Cell AS gx, yc // $Cell AS gy FROM c),
           |s AS (SELECT s_suppkey,
           |    (s_suppkey * 40503) % 10000 AS xs,
           |    (s_suppkey * 65539) % 10000 AS ys
           |  FROM supplier),
           |sn AS (SELECT s.s_suppkey, s.xs, s.ys,
           |    xs // $Cell + dx.d AS gx, ys // $Cell + dy.d AS gy
           |  FROM s
           |  CROSS JOIN (SELECT unnest(range(-1, 2)) AS d) dx
           |  CROSS JOIN (SELECT unnest(range(-1, 2)) AS d) dy),
           |cand AS (SELECT cg.c_custkey, cg.c_nationkey, sn.s_suppkey,
           |    (cg.xc - sn.xs) * (cg.xc - sn.xs)
           |      + (cg.yc - sn.ys) * (cg.yc - sn.ys) AS d2
           |  FROM cg JOIN sn ON cg.gx = sn.gx AND cg.gy = sn.gy),
           |best AS (SELECT c_custkey, min(d2) AS d2
           |  FROM cand GROUP BY c_custkey),
           |j AS (SELECT cg.c_nationkey, b.d2
           |  FROM cg LEFT JOIN best b ON cg.c_custkey = b.c_custkey)
           |SELECT n.n_name,
           |  CAST(count(*) AS BIGINT) AS n_customers,
           |  CAST(sum(CASE WHEN d2 IS NULL THEN 0 ELSE 1 END) AS BIGINT)
           |    AS n_matched,
           |  CAST(coalesce(sum(d2), 0) AS BIGINT) AS sum_d2,
           |  CAST(coalesce(max(d2), 0) AS BIGINT) AS max_d2
           |FROM j JOIN nation n ON j.c_nationkey = n.n_nationkey
           |GROUP BY n.n_name
           |ORDER BY n_name ASC NULLS FIRST""".stripMargin))

  /** Trajectory length census (round 7): treat each order's lineitems
    * as a route visiting its suppliers' positions in line-number order,
    * and measure the Manhattan path length — the GPS-trace /
    * delivery-route aggregation shape (per-entity ordered waypoints →
    * consecutive-segment geometry → per-entity reduction → census).
    *
    * Scale: waypoint ordering is a window partitioned by the route key
    * — routes sort independently and in parallel, nothing crosses
    * routes; the supplier position map rides a broadcast; the final
    * census is year-sized. One corpus shuffle (on l_orderkey), shared
    * by the window and the per-route aggregate.
    *
    * Determinism (D1/D2): Manhattan distance |dx|+|dy| is exact int64
    * (no sqrt); waypoints order by (l_linenumber, s_suppkey) which is
    * value-deterministic — remaining full-duplicate rows are
    * interchangeable and leave every segment length unchanged.
    */
  private val geoTrajectory = QueryDef(
    "q_geo_trajectory",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val sup = Tables.supplier(s, d).select(col("s_suppkey"),
        pmod(col("s_suppkey") * 40503, lit(10000L)).as("xs"),
        pmod(col("s_suppkey") * 65539, lit(10000L)).as("ys"))
      val li = Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_suppkey"))
        .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
      val w = Window.partitionBy(col("l_orderkey"))
        .orderBy(ascf("l_linenumber"), ascf("s_suppkey"))
      val segs = li
        .withColumn("px", lag(col("xs"), 1).over(w))
        .withColumn("py", lag(col("ys"), 1).over(w))
        .withColumn("seg", when(col("px").isNull, lit(0L))
          .otherwise(abs(col("xs") - col("px")) + abs(col("ys") - col("py"))))
      val routes = segs.groupBy(col("l_orderkey"))
        .agg(count(lit(1)).as("n_stops"), sum(col("seg")).as("len"))
      routes.join(Tables.orders(s, d)
          .select(col("o_orderkey"),
            year(col("o_orderdate")).cast("long").as("yr")),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("yr"))
        .agg(count(lit(1)).as("n_routes"),
          sum(col("n_stops")).as("n_stops"),
          sum(col("len")).as("total_len"),
          max(col("len")).as("max_len"))
        .orderBy(ascf("yr"))
    },
    Some("""WITH sup AS (SELECT s_suppkey,
           |    (s_suppkey * 40503) % 10000 AS xs,
           |    (s_suppkey * 65539) % 10000 AS ys
           |  FROM supplier),
           |li AS (SELECT l.l_orderkey, l.l_linenumber, sup.s_suppkey,
           |    sup.xs, sup.ys
           |  FROM lineitem l JOIN sup ON l.l_suppkey = sup.s_suppkey),
           |segs AS (SELECT l_orderkey,
           |    CASE WHEN lag(xs) OVER w IS NULL THEN 0
           |      ELSE abs(xs - lag(xs) OVER w) + abs(ys - lag(ys) OVER w)
           |      END AS seg
           |  FROM li WINDOW w AS (PARTITION BY l_orderkey
           |    ORDER BY l_linenumber ASC, s_suppkey ASC)),
           |routes AS (SELECT l_orderkey, count(*) AS n_stops,
           |    sum(seg) AS len
           |  FROM segs GROUP BY l_orderkey)
           |SELECT CAST(year(o.o_orderdate) AS BIGINT) AS yr,
           |  CAST(count(*) AS BIGINT) AS n_routes,
           |  CAST(sum(r.n_stops) AS BIGINT) AS n_stops,
           |  CAST(sum(r.len) AS BIGINT) AS total_len,
           |  CAST(max(r.len) AS BIGINT) AS max_len
           |FROM routes r JOIN orders o ON r.l_orderkey = o.o_orderkey
           |GROUP BY 1
           |ORDER BY yr ASC NULLS FIRST""".stripMargin))

  /** Grid-bucketed DBSCAN (round 7): density clustering over the
    * customer point cloud — core points (≥ minPts=4 neighbors within
    * ε=250, self included), border points (non-core with a core
    * neighbor), noise, and the connected clusters of the core graph.
    * Positions use the HLL-style avalanche hash (mod-prime → xor-shift
    * → mod-prime) rather than the grid keys' multiplier-mod maps: an
    * AFFINE position map sends sequential keys to a lattice whose
    * neighbor counts are all-or-nothing (measured: 0 cores at sf0.01,
    * 14998/15000 at sf0.1), which would make the density census
    * vacuous — the q_sketch_hll degenerate-progression lesson applied
    * to geometry.
    *
    * Cluster labeling is BORŮVKA-STYLE LABEL HOOKING, not min-label
    * propagation: each round every label hooks to its minimum
    * neighboring label (2-cycles resolve to the smaller, pointer
    * doubling compresses) — component count at least halves per round,
    * so convergence is O(log components), where plain min-label
    * propagation travels ONE graph hop per round and needs
    * diameter-many rounds (measured on the percolated sf0.1 core
    * graph: hooking converges in 4 rounds where propagation still held
    * 22 labels after 8). K=6 rounds / J=6 jumps; GeoSpec pins the
    * fixpoint (one more round changes nothing) at the graded SFs.
    *
    * Scale: the corpus-sized work is the 3×3-cell candidate self-join
    * (candidates bounded by cell occupancy — never all-pairs) and one
    * neighbor-count aggregate. The hook loop runs CONTRACTED: after
    * every round the edge relation is rewritten onto the new labels and
    * deduplicated, so it shrinks geometrically and only round 1 touches
    * edge-sized data (uncontracted, each round re-joined the full
    * node-pair relation — the 10× probe ran past 10 minutes; contracted
    * it is seconds). Label state is stats/lineage-truncated per round
    * (Dsl.statsTruncate); the doubling map broadcasts while small and
    * falls back to a shuffle-hash join past
    * spark.graft.broadcastLabelLimit rows (Dsl.maybeBroadcastMap), so
    * a percolated core graph cannot overflow the driver.
    *
    * Determinism (D1/D2): exact integer geometry (squared distances, no
    * sqrt); min-label hooks and (l < p) cycle resolution are
    * value-deterministic; census sums order-free.
    */
  private val DbP = 2147483647L
  private val dbscanRounds = 6
  private val dbscanJumps = 6

  private def posSpark(u: String): String = {
    val h1 = s"((($u) % $DbP) * 15485863 + 101) % $DbP"
    val g = s"(($h1) ^ shiftright(($h1), 15))"
    s"(((($g) * 32452843 + 1009) % $DbP) % 10000)"
  }
  private def posSql(u: String): String = {
    val h1 = s"((($u) % $DbP) * 15485863 + 101) % $DbP"
    val g = s"xor(($h1), ($h1) >> 15)"
    s"(((($g) * 32452843 + 1009) % $DbP) % 10000)"
  }

  /** CONTRACTED min-label hooking (factored round 8 so the 100× loop
    * probe drives the same code the graded key runs — ScaleProbe100).
    * `edges0` carries BOTH directions of every edge so the per-label
    * min is one aggregate; `labels0` is (node, label) with label=node.
    * The edge relation is rewritten onto the new labels (and
    * deduplicated) after every hook round, so it shrinks geometrically —
    * without contraction the rounds each re-join the full node-pair
    * relation and the 10× probe ran past 10 min; with it, only round 1
    * touches edge-sized data. Each round is one `Dsl.hookAndCompress`
    * step (truncated label state, doubling map broadcast only while
    * driver-safe, VERDICT r7 #8), whose jumped map then rewrites the
    * edges.
    */
  private[graft] def contractedHookLabels(
      edges0: org.apache.spark.sql.DataFrame,
      labels0: org.apache.spark.sql.DataFrame,
      rounds: Int, jumps: Int): org.apache.spark.sql.DataFrame = {
    var edgesR = graft.Dsl.statsTruncate(edges0)
    var lab = graft.Dsl.statsTruncate(labels0)
    var round = 0
    // early exit on convergence is EXACT: with no cross-label edge left,
    // every remaining round hooks nothing, maps identity, changes
    // nothing — the oracle's unrolled no-op rounds are free to skip.
    // isEmpty on the checkpointed relation is a cheap first-partition
    // probe, and it saves the ~6 tiny jobs a dead round still costs.
    while (round < rounds && !edgesR.isEmpty) {
      round += 1
      val (relabelled, map, mapRows) = graft.Dsl.hookAndCompress(lab,
        edgesR.groupBy(col("u").as("l")).agg(min(col("v")).as("m")), jumps)
      lab = relabelled
      def bcm(m: org.apache.spark.sql.DataFrame) =
        graft.Dsl.maybeBroadcastMap(m, mapRows)
      edgesR = graft.Dsl.statsTruncate(edgesR
        .join(bcm(map.select(col("l").as("ul"), col("p").as("pu"))),
          col("u") === col("ul"))
        .join(bcm(map.select(col("l").as("vl"), col("p").as("pv"))),
          col("v") === col("vl"))
        .filter(col("pu") =!= col("pv"))
        .select(col("pu").as("u"), col("pv").as("v")).distinct())
    }
    lab
  }

  private val geoDbscan = QueryDef(
    "q_geo_dbscan",
    (s, d) => {
      import graft.Caches
      val pts = Caches.scoped(Tables.customer(s, d)
        .select(col("c_custkey").as("k"))
        .withColumn("x", expr(posSpark("k")))
        .withColumn("y", expr(posSpark("k + 777000000")))
        .withColumn("gx", expr(s"x div $Cell"))
        .withColumn("gy", expr(s"y div $Cell")))
      // Round 12 (guide §2.3/§3): the old 9-cell replication joined
      // every point against its full 3×3 neighborhood, evaluating each
      // unordered pair TWICE (once from each endpoint) and shuffling a
      // 9× replicated relation. The candidate relation is symmetric, so
      // it is now built HALF-sized — same-cell pairs once under k < kb,
      // cross-cell pairs once via a 4-direction FORWARD replication
      // (E, NE, N, NW: every unordered pair of adjacent cells is
      // covered by exactly one direction) — and mirrored afterwards,
      // when only true eps-neighbors remain. Replication drops 9× → 4×
      // and pair evaluations halve; the mirrored union is exactly the
      // old ordered-pair relation (each ordered pair once), so every
      // consumer (degree counts, borders, hook edges) and the oracle's
      // 9-cell formulation see identical rows.
      val dist2 = (col("x") - col("xb")) * (col("x") - col("xb")) +
        (col("y") - col("yb")) * (col("y") - col("yb"))
      val fwd = pts
        .withColumn("d", explode(expr(
          "array(struct(1L AS dx, 0L AS dy), struct(1L AS dx, 1L AS dy), " +
            "struct(0L AS dx, 1L AS dy), struct(-1L AS dx, 1L AS dy))")))
        .select(col("k").as("kb"), col("x").as("xb"), col("y").as("yb"),
          (col("gx") + col("d.dx")).as("gx"),
          (col("gy") + col("d.dy")).as("gy"))
      val sameCell = pts.join(
          pts.select(col("k").as("kb"), col("x").as("xb"),
            col("y").as("yb"), col("gx"), col("gy")),
          Seq("gx", "gy"))
        .filter(col("k") < col("kb")).filter(dist2 <= lit(62500L))
        .select(col("k").as("ka"), col("kb"))
      val crossCell = pts.join(fwd, Seq("gx", "gy"))
        .filter(dist2 <= lit(62500L))
        .select(col("k").as("ka"), col("kb"))
      // half is cached so the mirror below never re-runs the joins, and
      // cand is cached ON TOP so the 4 consumers (degree counts, borders
      // ×2, hook edges) scan ONE materialized relation instead of
      // re-unioning half per consumer (measured: the repeated union
      // stages cost ~1.2 s each across this key's 360-job loop)
      val half = Caches.scoped(sameCell.unionByName(crossCell))
      val cand = Caches.scoped(half.unionByName(
        half.select(col("kb").as("ka"), col("ka").as("kb"))))
      val nb = cand.groupBy(col("ka")).agg(count(lit(1)).as("n"))
      val core = Caches.scoped(pts.select(col("k"))
        .join(nb, col("k") === col("ka"), "left")
        .filter(coalesce(col("n"), lit(0L)) >= 3)
        .select(col("k")))
      val borders = cand
        .join(core.select(col("k").as("ck")), col("kb") === col("ck"))
        .select(col("ka")).distinct()
        .join(core, col("ka") === col("k"), "left_anti")
      val lab = contractedHookLabels(
        cand
          .join(core.select(col("k").as("c1")), col("ka") === col("c1"))
          .join(core.select(col("k").as("c2")), col("kb") === col("c2"))
          .select(col("ka").as("u"), col("kb").as("v")),
        core.select(col("k").as("node"), col("k").as("label")),
        dbscanRounds, dbscanJumps)
      val clusters = lab.groupBy(col("label")).agg(count(lit(1)).as("cs"))
      val a1 = pts.agg(count(lit(1)).as("n_points"))
      val a2 = core.agg(count(lit(1)).as("n_core"),
        coalesce(sum(col("k")), lit(0L)).as("core_id_checksum"))
      val a3 = borders.agg(count(lit(1)).as("n_border"))
      val a4 = clusters.agg(count(lit(1)).as("n_clusters"),
        coalesce(max(col("cs")), lit(0L)).as("max_cluster"))
      a1.crossJoin(a2).crossJoin(a3).crossJoin(a4)
        .select(col("n_points"), col("n_core"), col("n_border"),
          (col("n_points") - col("n_core") - col("n_border")).as("n_noise"),
          col("n_clusters"), col("max_cluster"), col("core_id_checksum"))
        .orderBy(ascf("n_points"))
    },
    Some {
      def round(r: Int): String = {
        val prev = s"lab${r - 1}"
        val eprev = s"e${r - 1}"
        val mJ = s"m${r}_$dbscanJumps"
        val jumps = (1 to dbscanJumps).map { j =>
          s"""m${r}_$j AS MATERIALIZED (SELECT m1.l, m2.p
             |  FROM m${r}_${j - 1} m1 JOIN m${r}_${j - 1} m2
             |  ON m1.p = m2.l)""".stripMargin
        }.mkString(",\n")
        s"""hk$r AS MATERIALIZED (SELECT u AS la, min(v) AS m
           |  FROM $eprev GROUP BY u),
           |p$r AS (SELECT x.la AS l,
           |    CASE WHEN y.m = x.la AND x.la < x.m THEN x.la ELSE x.m END
           |      AS p
           |  FROM hk$r x LEFT JOIN hk$r y ON x.m = y.la),
           |m${r}_0 AS MATERIALIZED (SELECT dd.l, coalesce(p$r.p, dd.l) AS p
           |  FROM (SELECT DISTINCT label AS l FROM $prev) dd
           |  LEFT JOIN p$r ON dd.l = p$r.l),
           |$jumps,
           |lab$r AS MATERIALIZED (SELECT $prev.node, $mJ.p AS label
           |  FROM $prev JOIN $mJ ON $prev.label = $mJ.l),
           |e$r AS MATERIALIZED (SELECT DISTINCT mu.p AS u, mv.p AS v
           |  FROM $eprev JOIN $mJ mu ON $eprev.u = mu.l
           |  JOIN $mJ mv ON $eprev.v = mv.l
           |  WHERE mu.p <> mv.p)""".stripMargin
      }
      s"""WITH p AS (SELECT c_custkey AS k,
         |    ${posSql("c_custkey")} AS x,
         |    ${posSql("c_custkey + 777000000")} AS y
         |  FROM customer),
         |pg AS (SELECT k, x, y, x // $Cell AS gx, y // $Cell AS gy FROM p),
         |pn AS (SELECT k AS kb, x AS xb, y AS yb,
         |    gx + dx.dd AS gx, gy + dy.dd AS gy
         |  FROM pg
         |  CROSS JOIN (SELECT unnest(range(-1, 2)) AS dd) dx
         |  CROSS JOIN (SELECT unnest(range(-1, 2)) AS dd) dy),
         |cand AS MATERIALIZED (SELECT pg.k AS ka, pn.kb
         |  FROM pg JOIN pn ON pg.gx = pn.gx AND pg.gy = pn.gy
         |  WHERE pg.k <> pn.kb
         |    AND (pg.x - pn.xb) * (pg.x - pn.xb)
         |      + (pg.y - pn.yb) * (pg.y - pn.yb) <= 62500),
         |nbr AS (SELECT ka, count(*) AS n FROM cand GROUP BY ka),
         |core AS MATERIALIZED (SELECT p.k FROM p
         |  LEFT JOIN nbr ON p.k = nbr.ka
         |  WHERE coalesce(nbr.n, 0) >= 3),
         |borders AS (SELECT DISTINCT c.ka FROM cand c
         |  JOIN core ON c.kb = core.k
         |  WHERE c.ka NOT IN (SELECT k FROM core)),
         |e0 AS MATERIALIZED (SELECT c.ka AS u, c.kb AS v FROM cand c
         |  WHERE c.ka IN (SELECT k FROM core)
         |    AND c.kb IN (SELECT k FROM core)),
         |lab0 AS (SELECT k AS node, k AS label FROM core),
         |${(1 to dbscanRounds).map(round).mkString(",\n")},
         |cs AS (SELECT label, count(*) AS cs
         |  FROM lab$dbscanRounds GROUP BY label)
         |SELECT CAST((SELECT count(*) FROM p) AS BIGINT) AS n_points,
         |  CAST((SELECT count(*) FROM core) AS BIGINT) AS n_core,
         |  CAST((SELECT count(*) FROM borders) AS BIGINT) AS n_border,
         |  CAST((SELECT count(*) FROM p) - (SELECT count(*) FROM core)
         |    - (SELECT count(*) FROM borders) AS BIGINT) AS n_noise,
         |  CAST((SELECT count(*) FROM cs) AS BIGINT) AS n_clusters,
         |  CAST((SELECT coalesce(max(cs), 0) FROM cs) AS BIGINT)
         |    AS max_cluster,
         |  CAST((SELECT coalesce(sum(k), 0) FROM core) AS BIGINT)
         |    AS core_id_checksum
         |ORDER BY n_points ASC NULLS FIRST""".stripMargin
    })

  /** Geohash-style spatial bucketing (round 7): Morton (Z-order)
    * interleave of the 14-bit supplier coordinates into a 28-bit code,
    * rendered as a 6-character string over the standard geohash base32
    * alphabet, and censused by 3-char prefix — the textual spatial key
    * every geo index/bucketing layer (geohash, S2-as-string, quadkeys)
    * ships: prefix length IS the resolution knob, and prefix grouping
    * IS the spatial join/rollup primitive. x-bits take odd positions
    * (the geohash longitude-first convention, documented rather than
    * assumed — our plane is synthetic).
    *
    * Scale: encode is a per-row codegen'd 28-term integer projection
    * (no UDF); the census is one hash aggregate on the prefix with
    * map-side partials; top-12 = TakeOrdered partial heaps, no global
    * sort.
    *
    * Determinism (D1/D2): pure integer bit arithmetic spelled
    * identically in both engines; (n_points DESC, prefix ASC) is total
    * under LIMIT.
    */
  private val geoHash = QueryDef(
    "q_geo_hash",
    (s, d) => {
      // 28-term Morton interleave + base32 render, generated once per
      // engine from the same loop (Spark spells shifts as shiftright,
      // DuckDB as >>; the arithmetic is term-for-term identical)
      val alpha = "0123456789bcdefghjkmnpqrstuvwxyz"
      val morton = (0 to 13).map { i =>
        s"(shiftright(x, $i) & 1) * ${1L << (2 * i + 1)} + " +
          s"(shiftright(y, $i) & 1) * ${1L << (2 * i)}"
      }.mkString(" + ")
      val pts = Tables.supplier(s, d).select(col("s_suppkey").as("k"))
        .withColumn("x", expr(posSpark("k + 31000000")))
        .withColumn("y", expr(posSpark("k + 64000000")))
        .withColumn("z", expr(morton))
        .withColumn("z4", col("z") * 4)
        .withColumn("gh", expr((0 to 5).map { k =>
          s"substring('$alpha', cast((shiftright(z4, ${5 * (5 - k)}) & 31)" +
            " + 1 as int), 1)"
        }.mkString("concat(", ", ", ")")))
      pts.groupBy(substring(col("gh"), 1, 3).as("prefix"))
        .agg(count(lit(1)).as("n_points"),
          sum(col("k")).as("key_checksum"),
          min(col("z")).as("min_z"), max(col("z")).as("max_z"))
        .orderBy(descl("n_points"), ascf("prefix"))
        .limit(12)
    },
    Some {
      val alpha = "0123456789bcdefghjkmnpqrstuvwxyz"
      val morton = (0 to 13).map { i =>
        s"(((x >> $i) & 1) * ${1L << (2 * i + 1)} + " +
          s"((y >> $i) & 1) * ${1L << (2 * i)})"
      }.mkString(" + ")
      val gh = (0 to 5).map { k =>
        s"substring('$alpha', CAST(((z4 >> ${5 * (5 - k)}) & 31) + 1 AS INT), 1)"
      }.mkString(" || ")
      s"""WITH p AS (SELECT s_suppkey AS k,
         |    ${posSql("s_suppkey + 31000000")} AS x,
         |    ${posSql("s_suppkey + 64000000")} AS y
         |  FROM supplier),
         |z AS (SELECT k, x, y, $morton AS z FROM p),
         |g AS (SELECT k, z, z * 4 AS z4 FROM z),
         |enc AS (SELECT k, z, $gh AS gh FROM g)
         |SELECT substring(gh, 1, 3) AS prefix,
         |  CAST(count(*) AS BIGINT) AS n_points,
         |  CAST(sum(k) AS BIGINT) AS key_checksum,
         |  CAST(min(z) AS BIGINT) AS min_z,
         |  CAST(max(z) AS BIGINT) AS max_z
         |FROM enc GROUP BY 1
         |ORDER BY n_points DESC NULLS LAST, prefix ASC NULLS FIRST
         |LIMIT 12""".stripMargin
    })

  def defs: Seq[QueryDef] = Seq(geoGrid, geoTrajectory, geoDbscan, geoHash)
}
