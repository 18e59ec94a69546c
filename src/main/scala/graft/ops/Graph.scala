package graft.ops

import graft.{Caches, QueryDef, Tables}
import graft.Dsl._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Iterative graph analytics (round 5): weighted PageRank over the
  * customer-nation → supplier-nation trade graph.
  *
  * This is the canonical "big edge list, small node table" distributed
  * graph shape: the 100 TB-heavy step is ONE aggregation of the raw fact
  * table down to weighted node-pair edges (a single hash shuffle on
  * (src, dst)); the K rank iterations then run on the node-sized relation
  * and join back through a BROADCAST of the rank table, so no iteration
  * ever reshuffles the edges. With a node table too big to broadcast the
  * same loop runs as K hash joins on src — the edge aggregation still
  * dominates.
  *
  * Determinism (rules D2/D11/D12): all rank arithmetic is exact int64 in
  * 1e-6 units — rank' = 150000 + (85 · Σ_u floor(rank_u · w(u,v) /
  * outw(u))) div 100, every operand non-negative so Spark's truncating
  * `div` and DuckDB's floor `//` agree — and the oracle unrolls the SAME
  * K=3 iterations, so parity holds by construction (the q_dedup_components
  * fixed-K pattern). No libm anywhere. Magnitude bound: total rank mass ≤
  * nodes · 10^6 and rank·w stays < 2^63 while per-edge weights are below
  * ~3.7e11 — beyond that, widen the contribution product to DECIMAL(38,0)
  * on both engines (the q_sim_centroid moment pattern).
  */
object Graph {

  private val pagerank = QueryDef(
    "q_graph_pagerank",
    (s, d) => {
      val li = Tables.lineitem(s, d).select(col("l_orderkey"), col("l_suppkey"))
      val o = Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey"))
      val c = Tables.customer(s, d).select(col("c_custkey"), col("c_nationkey"))
      val sup = Tables.supplier(s, d).select(col("s_suppkey"), col("s_nationkey"))
      // the one heavy pass: fact table → ≤ nations² weighted edges
      val edges = li
        .join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(c), col("o_custkey") === col("c_custkey"))
        .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
        .groupBy(col("c_nationkey").as("src"), col("s_nationkey").as("dst"))
        .agg(count(lit(1)).as("w"))
      val outw = edges.groupBy(col("src")).agg(sum(col("w")).as("outw"))
      // scoped persist: WITHOUT it each unrolled iteration re-derives the
      // edge relation from the fact table — 3 full corpus passes for a
      // ≤ n²-row relation (seen in the r5 plan dump). Cached, the fact
      // table is read once and iterations touch only node-sized data.
      val ew = Caches.scoped(edges.join(outw, "src"))
      val nodes = Tables.nation(s, d).select(col("n_nationkey").as("node"))
      var ranks = nodes.select(col("node"), lit(1000000L).as("r"))
      for (_ <- 1 to 3) {
        val contrib = ew.join(broadcast(ranks), col("src") === col("node"))
          .select(col("dst"), expr("(r * w) div outw").as("cv"))
        val sums = contrib.groupBy(col("dst")).agg(sum(col("cv")).as("sv"))
        ranks = nodes.join(sums, col("node") === col("dst"), "left")
          .select(col("node"),
            expr("150000 + (85 * coalesce(sv, bigint(0))) div 100").as("r"))
      }
      ranks
        .join(broadcast(Tables.nation(s, d)
          .select(col("n_nationkey"), col("n_name"))),
          col("node") === col("n_nationkey"))
        .select(col("n_name"), col("r").as("rank_e6"))
        .orderBy(ascf("n_name"))
    },
    Some("""WITH edges AS (
           |  SELECT c.c_nationkey AS src, s.s_nationkey AS dst,
           |         count(*) AS w
           |  FROM lineitem l
           |  JOIN orders o ON l.l_orderkey = o.o_orderkey
           |  JOIN customer c ON o.o_custkey = c.c_custkey
           |  JOIN supplier s ON l.l_suppkey = s.s_suppkey
           |  GROUP BY 1, 2),
           |outw AS (SELECT src, CAST(sum(w) AS BIGINT) AS outw
           |  FROM edges GROUP BY src),
           |ew AS (SELECT e.src, e.dst, e.w, o.outw
           |  FROM edges e JOIN outw o ON e.src = o.src),
           |r0 AS (SELECT n_nationkey AS node, CAST(1000000 AS BIGINT) AS r
           |  FROM nation),
           |s1 AS (SELECT ew.dst, CAST(sum((r0.r * ew.w) // ew.outw) AS BIGINT) AS sv
           |  FROM ew JOIN r0 ON ew.src = r0.node GROUP BY ew.dst),
           |r1 AS (SELECT n.n_nationkey AS node,
           |    CAST(150000 + (85 * coalesce(s1.sv, 0)) // 100 AS BIGINT) AS r
           |  FROM nation n LEFT JOIN s1 ON n.n_nationkey = s1.dst),
           |s2 AS (SELECT ew.dst, CAST(sum((r1.r * ew.w) // ew.outw) AS BIGINT) AS sv
           |  FROM ew JOIN r1 ON ew.src = r1.node GROUP BY ew.dst),
           |r2 AS (SELECT n.n_nationkey AS node,
           |    CAST(150000 + (85 * coalesce(s2.sv, 0)) // 100 AS BIGINT) AS r
           |  FROM nation n LEFT JOIN s2 ON n.n_nationkey = s2.dst),
           |s3 AS (SELECT ew.dst, CAST(sum((r2.r * ew.w) // ew.outw) AS BIGINT) AS sv
           |  FROM ew JOIN r2 ON ew.src = r2.node GROUP BY ew.dst),
           |r3 AS (SELECT n.n_nationkey AS node,
           |    CAST(150000 + (85 * coalesce(s3.sv, 0)) // 100 AS BIGINT) AS r
           |  FROM nation n LEFT JOIN s3 ON n.n_nationkey = s3.dst)
           |SELECT n.n_name, r3.r AS rank_e6
           |FROM r3 JOIN nation n ON r3.node = n.n_nationkey
           |ORDER BY n_name ASC NULLS FIRST""".stripMargin))

  /** The sparsified undirected trade graph shared by the triangle, BFS,
    * degree and node-similarity keys: fact table → weighted nation-pair
    * edges (the ONE heavy shuffle), self-loops dropped, then each node
    * keeps its top-3 heaviest out-neighbors (w desc, dst asc tiebreak —
    * deterministic and scale-invariant where a fixed weight threshold
    * would not be), and directed survivors collapse to distinct
    * undirected (a < b) pairs. Everything after the first aggregation is
    * node²-bounded.
    *
    * Session-SHARED (r5, the jaccardPairs precedent): four graded keys
    * consume this relation, and the build is one fact-table pass while
    * the result is ≤ nodes²/2 rows — so it is computed once per
    * (session, sfDir) and kept resident, not rebuilt per query. The
    * bench cold pass releases shared relations between queries, so
    * per-query cold numbers still carry the full build cost.
    */
  private[graft] def undirectedTop3(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame =
    Caches.shared(s"und3:${Caches.sessionKey(s)}:$d")(undirectedTop3Build(s, d))

  private def undirectedTop3Build(s: org.apache.spark.sql.SparkSession, d: String) = {
    import org.apache.spark.sql.expressions.Window
    val li = Tables.lineitem(s, d).select(col("l_orderkey"), col("l_suppkey"))
    val o = Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey"))
    val c = Tables.customer(s, d).select(col("c_custkey"), col("c_nationkey"))
    val sup = Tables.supplier(s, d).select(col("s_suppkey"), col("s_nationkey"))
    val edges = li
      .join(o, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(c), col("o_custkey") === col("c_custkey"))
      .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
      .filter(col("c_nationkey") =!= col("s_nationkey"))
      .groupBy(col("c_nationkey").as("src"), col("s_nationkey").as("dst"))
      .agg(count(lit(1)).as("w"))
    val rn = Window.partitionBy(col("src")).orderBy(descl("w"), ascf("dst"))
    edges.withColumn("rn", row_number().over(rn)).filter(col("rn") <= 3)
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .distinct()
  }

  private val UndSql =
    """edges AS (
      |  SELECT c.c_nationkey AS src, s.s_nationkey AS dst, count(*) AS w
      |  FROM lineitem l
      |  JOIN orders o ON l.l_orderkey = o.o_orderkey
      |  JOIN customer c ON o.o_custkey = c.c_custkey
      |  JOIN supplier s ON l.l_suppkey = s.s_suppkey
      |  WHERE c.c_nationkey <> s.s_nationkey
      |  GROUP BY 1, 2),
      |top3 AS (SELECT src, dst FROM (
      |    SELECT src, dst, row_number() OVER (PARTITION BY src
      |      ORDER BY w DESC, dst ASC) AS rn FROM edges)
      |  WHERE rn <= 3),
      |und AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
      |  FROM top3)""".stripMargin

  /** Triangle counting (round 5): per-nation triangle participation in
    * the sparsified trade graph — the standard clustering/community
    * signal (a node in many triangles sits in a tight trading cluster).
    *
    * Scale: the (a<b) edge orientation makes the canonical two-join
    * triangle enumeration duplicate-free (each triangle a<b<c appears
    * exactly once), and the joins run on the node²-bounded edge relation,
    * never the fact table; the edge relation is session-shared because
    * the 3-way self-join (and the three sibling graph keys) would
    * otherwise re-derive it from the fact scan. Per-node counts are an
    * explode-free UNION ALL of the three corners.
    *
    * Determinism: pure integer counting; the left join keeps
    * zero-triangle nations in the census.
    */
  private val triangles = QueryDef(
    "q_graph_triangles",
    (s, d) => {
      val und = undirectedTop3(s, d)
      val tri = und.as("e1")
        .join(und.as("e2"), col("e1.b") === col("e2.a"))
        .join(und.as("e3"),
          col("e3.a") === col("e1.a") && col("e3.b") === col("e2.b"))
        .select(col("e1.a").as("x"), col("e1.b").as("y"), col("e2.b").as("z"))
      val members = tri.select(col("x").as("node"))
        .union(tri.select(col("y").as("node")))
        .union(tri.select(col("z").as("node")))
        .groupBy(col("node")).agg(count(lit(1)).as("tc"))
      Tables.nation(s, d).select(col("n_nationkey"), col("n_name"))
        .join(members, col("n_nationkey") === col("node"), "left")
        .select(col("n_name"),
          coalesce(col("tc"), lit(0L)).as("n_triangles"))
        .orderBy(ascf("n_name"))
    },
    Some(s"""WITH $UndSql,
           |tri AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z
           |  FROM und e1
           |  JOIN und e2 ON e1.b = e2.a
           |  JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b),
           |m AS (SELECT x AS node FROM tri
           |  UNION ALL SELECT y FROM tri
           |  UNION ALL SELECT z FROM tri),
           |cnt AS (SELECT node, count(*) AS tc FROM m GROUP BY node)
           |SELECT n.n_name,
           |  CAST(coalesce(cnt.tc, 0) AS BIGINT) AS n_triangles
           |FROM nation n LEFT JOIN cnt ON n.n_nationkey = cnt.node
           |ORDER BY n_name ASC NULLS FIRST""".stripMargin))

  /** Single-source shortest paths, K=3 unrolled BFS (round 5): hop
    * distance from nation 0 over the sparsified undirected trade graph —
    * the q_dedup_components / q_graph_pagerank fixed-iteration parity
    * pattern applied to reachability. Frontier expansion is a join of
    * the (u,v)-symmetrized edge list against the broadcast node-sized
    * distance table; the session-shared edge base plus a scoped persist
    * of the symmetrized view keep the three unrolled iterations from
    * re-deriving anything from the fact scan. Unreached
    * nodes report -1 (a 3-hop horizon is the documented semantics, not
    * an approximation of full BFS).
    *
    * Determinism: the min-relax step is written as an explicit CASE on
    * both engines (no reliance on engine-specific least() null
    * handling); all distances exact int64.
    */
  private val bfs = QueryDef(
    "q_graph_bfs",
    (s, d) => {
      val und = undirectedTop3(s, d)
      val adj = Caches.scoped(
        und.select(col("a").as("u"), col("b").as("v"))
          .union(und.select(col("b").as("u"), col("a").as("v"))))
      val nodes = Tables.nation(s, d).select(col("n_nationkey").as("node"))
      var dist = nodes.select(col("node"),
        when(col("node") === 0, lit(0L)).otherwise(lit(null).cast("long")).as("dd"))
      for (_ <- 1 to 3) {
        val reach = adj.join(broadcast(dist), col("u") === col("node"))
          .filter(col("dd").isNotNull)
          .groupBy(col("v")).agg(min(col("dd") + 1).as("nd"))
        dist = dist.join(reach, col("node") === col("v"), "left")
          .select(col("node"),
            when(col("dd").isNull, col("nd"))
              .when(col("nd").isNull, col("dd"))
              .when(col("nd") < col("dd"), col("nd"))
              .otherwise(col("dd")).as("dd"))
      }
      dist.join(broadcast(Tables.nation(s, d)
          .select(col("n_nationkey"), col("n_name"))),
          col("node") === col("n_nationkey"))
        .select(col("n_name"), coalesce(col("dd"), lit(-1L)).as("dist"))
        .orderBy(ascf("n_name"))
    },
    Some(s"""WITH $UndSql,
           |adj AS (SELECT a AS u, b AS v FROM und
           |  UNION ALL SELECT b AS u, a AS v FROM und),
           |d0 AS (SELECT n_nationkey AS node,
           |    CASE WHEN n_nationkey = 0 THEN CAST(0 AS BIGINT) END AS dd
           |  FROM nation),
           |f1 AS (SELECT adj.v, CAST(min(d0.dd + 1) AS BIGINT) AS nd
           |  FROM adj JOIN d0 ON adj.u = d0.node
           |  WHERE d0.dd IS NOT NULL GROUP BY adj.v),
           |d1 AS (SELECT d0.node,
           |    CASE WHEN d0.dd IS NULL THEN f1.nd
           |         WHEN f1.nd IS NULL THEN d0.dd
           |         WHEN f1.nd < d0.dd THEN f1.nd
           |         ELSE d0.dd END AS dd
           |  FROM d0 LEFT JOIN f1 ON d0.node = f1.v),
           |f2 AS (SELECT adj.v, CAST(min(d1.dd + 1) AS BIGINT) AS nd
           |  FROM adj JOIN d1 ON adj.u = d1.node
           |  WHERE d1.dd IS NOT NULL GROUP BY adj.v),
           |d2 AS (SELECT d1.node,
           |    CASE WHEN d1.dd IS NULL THEN f2.nd
           |         WHEN f2.nd IS NULL THEN d1.dd
           |         WHEN f2.nd < d1.dd THEN f2.nd
           |         ELSE d1.dd END AS dd
           |  FROM d1 LEFT JOIN f2 ON d1.node = f2.v),
           |f3 AS (SELECT adj.v, CAST(min(d2.dd + 1) AS BIGINT) AS nd
           |  FROM adj JOIN d2 ON adj.u = d2.node
           |  WHERE d2.dd IS NOT NULL GROUP BY adj.v),
           |d3 AS (SELECT d2.node,
           |    CASE WHEN d2.dd IS NULL THEN f3.nd
           |         WHEN f3.nd IS NULL THEN d2.dd
           |         WHEN f3.nd < d2.dd THEN f3.nd
           |         ELSE d2.dd END AS dd
           |  FROM d2 LEFT JOIN f3 ON d2.node = f3.v)
           |SELECT n.n_name, CAST(coalesce(d3.dd, -1) AS BIGINT) AS dist
           |FROM d3 JOIN nation n ON d3.node = n.n_nationkey
           |ORDER BY n_name ASC NULLS FIRST""".stripMargin))

  /** Degree census with average-neighbor-degree (round 5): per-nation
    * degree in the sparsified trade graph plus the mean degree of its
    * neighbors in 1e-6 units — the assortativity precursor (hub-attached
    * vs periphery-attached nodes separate immediately on this number).
    *
    * Scale: one fact-table aggregation builds the edges (the
    * session-shared [[undirectedTop3]] relation, so the directed view +
    * the degree self-join never re-derive it); everything
    * after is node²-bounded. avg_nbr_deg is an exact integer floor
    * division — both operands non-negative, so Spark's truncating `div`
    * and DuckDB's `//` agree (no pmod construction needed).
    */
  private val degree = QueryDef(
    "q_graph_degree",
    (s, d) => {
      val und = undirectedTop3(s, d)
      val dir = und.select(col("a").as("node"), col("b").as("nbr"))
        .union(und.select(col("b").as("node"), col("a").as("nbr")))
      val deg = dir.groupBy(col("node")).agg(count(lit(1)).as("deg"))
      val nbrSum = dir
        .join(deg.select(col("node").as("nbr"), col("deg").as("nbr_deg")),
          "nbr")
        .groupBy(col("node")).agg(sum(col("nbr_deg")).as("snd"))
      deg.join(nbrSum, "node")
        .join(broadcast(Tables.nation(s, d)
          .select(col("n_nationkey"), col("n_name"))),
          col("node") === col("n_nationkey"))
        .select(col("n_name"), col("deg"),
          expr("(snd * 1000000) div deg").as("avg_nbr_deg_e6"))
        .orderBy(ascf("n_name"))
    },
    Some(s"""WITH $UndSql,
           |dir AS (SELECT a AS node, b AS nbr FROM und
           |  UNION ALL SELECT b AS node, a AS nbr FROM und),
           |deg AS (SELECT node, count(*) AS deg FROM dir GROUP BY node),
           |nsum AS (SELECT dir.node, CAST(sum(d2.deg) AS BIGINT) AS snd
           |  FROM dir JOIN deg d2 ON dir.nbr = d2.node
           |  GROUP BY dir.node)
           |SELECT n.n_name, CAST(deg.deg AS BIGINT) AS deg,
           |  CAST((nsum.snd * 1000000) // deg.deg AS BIGINT) AS avg_nbr_deg_e6
           |FROM deg JOIN nsum ON deg.node = nsum.node
           |JOIN nation n ON deg.node = n.n_nationkey
           |ORDER BY n_name ASC NULLS FIRST""".stripMargin))

  /** Common-neighbor (Jaccard) node similarity over the sparsified
    * trade graph (round 5): for every node pair sharing ≥ 1 neighbor,
    * |Γx∩Γy| and Jaccard |Γx∩Γy|/|Γx∪Γy| in 1e-6 units, plus whether
    * the pair is itself an edge — the classic link-prediction /
    * role-equivalence scores (high jac + adjacent=0 IS the predicted
    * link). Wedge enumeration (e1 ⋈ e2 on the shared center, v1 < v2)
    * makes each common neighbor contribute exactly one pair row, so
    * cn = count(*) with no dedup.
    *
    * Scale: the fact→edge aggregation is the one corpus shuffle
    * (the session-shared [[undirectedTop3]] relation, reused across the
    * four graph keys); wedges and degrees run on the
    * node²-bounded edge relation. Top-3 sparsification bounds each
    * node's wedge fan-out at 3·deg — on a power-law graph THIS is what
    * keeps the wedge join from going quadratic on hub nodes (the
    * q_stream_join skew lesson applied to graphs).
    */
  private val graphJaccard = QueryDef(
    "q_graph_jaccard",
    (s, d) => {
      val und = undirectedTop3(s, d)
      val sym = und.select(col("a").as("u"), col("b").as("v"))
        .union(und.select(col("b").as("u"), col("a").as("v")))
      val deg = sym.groupBy(col("u")).agg(count(lit(1)).as("deg"))
      val cn = sym.alias("e1").join(sym.alias("e2"),
          col("e1.u") === col("e2.u") && col("e1.v") < col("e2.v"))
        .groupBy(col("e1.v").as("x"), col("e2.v").as("y"))
        .agg(count(lit(1)).as("cn"))
      cn.join(deg.select(col("u").as("x"), col("deg").as("dx")), "x")
        .join(deg.select(col("u").as("y"), col("deg").as("dy")), "y")
        .withColumn("jac_e6", expr("cn * 1000000 div (dx + dy - cn)"))
        .join(und.select(col("a").as("x"), col("b").as("y"),
          lit(1L).as("adj")), Seq("x", "y"), "left")
        .select(col("x").cast("long").as("x"),
          col("y").cast("long").as("y"), col("cn"), col("dx"), col("dy"),
          col("jac_e6"), coalesce(col("adj"), lit(0L)).as("adjacent"))
        .orderBy(descl("jac_e6"), ascf("x"), ascf("y"))
    },
    Some(s"""WITH $UndSql,
           |sym AS (SELECT a AS u, b AS v FROM und
           |  UNION ALL SELECT b, a FROM und),
           |deg AS (SELECT u, count(*) AS deg FROM sym GROUP BY u),
           |cn AS (SELECT e1.v AS x, e2.v AS y, count(*) AS cn
           |  FROM sym e1 JOIN sym e2 ON e1.u = e2.u AND e1.v < e2.v
           |  GROUP BY 1, 2),
           |j AS (SELECT cn.x, cn.y, cn.cn,
           |    CAST(dx.deg AS BIGINT) AS dx, CAST(dy.deg AS BIGINT) AS dy
           |  FROM cn JOIN deg dx ON cn.x = dx.u JOIN deg dy ON cn.y = dy.u)
           |SELECT CAST(j.x AS BIGINT) AS x, CAST(j.y AS BIGINT) AS y,
           |  j.cn, j.dx, j.dy,
           |  CAST(j.cn * 1000000 // (j.dx + j.dy - j.cn) AS BIGINT)
           |    AS jac_e6,
           |  CASE WHEN u2.a IS NULL THEN CAST(0 AS BIGINT)
           |    ELSE CAST(1 AS BIGINT) END AS adjacent
           |FROM j LEFT JOIN und u2 ON j.x = u2.a AND j.y = u2.b
           |ORDER BY jac_e6 DESC NULLS LAST, x ASC NULLS FIRST,
           |  y ASC NULLS FIRST""".stripMargin))

  private val lpaRounds = 4

  /** Synchronous label propagation (round 6): community detection over
    * the sparsified trade graph — each round every node adopts the most
    * frequent label among its neighbors PLUS ITSELF (the self-vote damps
    * the 2-cycle oscillation synchronous LPA is known for), ties broken
    * by the smaller label. Both engines run exactly `lpaRounds`
    * identical rounds (the q_dedup_components / q_graph_pagerank fixed-K
    * unrolled-oracle pattern), so whatever state round K reaches is
    * hash-graded — convergence is not assumed.
    *
    * Scale: the fact table collapses to the node²-bounded edge relation
    * once (session-shared build); each round is one edge-sized join +
    * a (node, label)-grain count + a per-node window argmax. The loop
    * runs the components-loop discipline (round 7 — VERDICT r6 flagged
    * 5.3 s of pure stage overhead on a 25-node graph): the symmetrized
    * edge relation is partitioned on the join key ONCE and kept
    * resident (scoped persist), and each round's labels are eagerly
    * checkpointed — labels feed both the neighbor join and the
    * self-vote union, so an unmaterialized round DOUBLES the replayed
    * plan per iteration (the components loop's 2^K lesson, just smaller
    * here because K=4).
    *
    * Determinism: votes are integer counts; argmax order (c DESC,
    * lbl ASC) is total; isolated nodes keep their own label through the
    * self-vote, so no node ever leaves the relation.
    */
  private val labelProp = QueryDef(
    "q_graph_label_prop",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val und = undirectedTop3(s, d)
      val sym = Caches.scoped(
        und.select(col("a").as("u"), col("b").as("n"))
          .union(und.select(col("b").as("u"), col("a").as("n")))
          .repartition(col("n")))
      val nodes = Tables.nation(s, d).select(col("n_nationkey").as("u"))
      var labels = nodes.withColumn("lbl", col("u"))
      for (_ <- 1 to lpaRounds) {
        val votes = sym
          .join(labels.select(col("u").as("n"), col("lbl")), "n")
          .select(col("u"), col("lbl"))
          .union(labels.select(col("u"), col("lbl")))
          .groupBy(col("u"), col("lbl")).agg(count(lit(1)).as("c"))
        val w = Window.partitionBy(col("u")).orderBy(descl("c"), ascf("lbl"))
        val frame = votes.withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1).select(col("u"), col("lbl"))
        labels = truncateLineage(frame)
      }
      labels.groupBy(col("lbl"))
        .agg(count(lit(1)).as("n_members"), sum(col("u")).as("member_sum"))
        .join(Tables.nation(s, d).select(col("n_nationkey").as("lbl"),
          col("n_name").as("rep_name")), "lbl")
        .select(col("lbl").cast("long").as("community"), col("rep_name"),
          col("n_members"), col("member_sum").cast("long").as("member_sum"))
        .orderBy(ascf("community"))
    },
    Some {
      val rounds = (1 to lpaRounds).map { k =>
        val prev = s"l${k - 1}"
        s"""v$k AS (SELECT u, lbl, count(*) AS c FROM (
           |    SELECT s.u AS u, l.lbl AS lbl FROM sym s
           |      JOIN $prev l ON s.n = l.u
           |    UNION ALL SELECT u, lbl FROM $prev)
           |  GROUP BY 1, 2),
           |l$k AS MATERIALIZED (SELECT u, lbl FROM (SELECT u, lbl,
           |    row_number() OVER (PARTITION BY u
           |      ORDER BY c DESC, lbl ASC) AS rn FROM v$k)
           |  WHERE rn = 1)""".stripMargin
      }.mkString(",\n")
      s"""WITH $UndSql,
         |sym AS (SELECT a AS u, b AS n FROM und
         |  UNION ALL SELECT b, a FROM und),
         |l0 AS (SELECT n_nationkey AS u, n_nationkey AS lbl FROM nation),
         |$rounds
         |SELECT CAST(g.lbl AS BIGINT) AS community, n.n_name AS rep_name,
         |  CAST(g.n_members AS BIGINT) AS n_members,
         |  CAST(g.member_sum AS BIGINT) AS member_sum
         |FROM (SELECT lbl, count(*) AS n_members, sum(u) AS member_sum
         |  FROM l$lpaRounds GROUP BY lbl) g
         |JOIN nation n ON g.lbl = n.n_nationkey
         |ORDER BY community ASC NULLS FIRST""".stripMargin
    })

  /** Bounded harmonic closeness centrality from a seed panel (round 7):
    * multi-source BFS over the sparsified trade graph from 5 landmark
    * seeds, then per node the harmonic sum Σ 1/dist over reached seeds
    * (in exact 1e6 units via truncating integer division — Spark `div`
    * and DuckDB `//` both truncate toward zero, verified). This is the
    * landmark (pivot) approximation every large-graph centrality system
    * uses: exact all-pairs closeness is O(V·E) and unnecessary — a
    * fixed seed panel gives a consistent comparable score at seed-count
    * cost. Distances are 3-hop-bounded like q_graph_bfs (unrolled
    * synchronous rounds, the fixed-K oracle pattern); unreached
    * (node, seed) pairs simply don't contribute, self-distance is
    * excluded per the harmonic definition.
    *
    * Scale: state is (node × 5 seeds) rows — seed-panel-sized, never
    * edge-sized; each round is one edge join + (v, seed) min-agg, the
    * same per-round shape as BFS with a composite key. At a real graph
    * scale the rounds run on the pre-partitioned edge exchange exactly
    * like the components loop.
    */
  private val closeness = QueryDef(
    "q_graph_closeness",
    (s, d) => {
      val und = undirectedTop3(s, d)
      val adj = Caches.scoped(
        und.select(col("a").as("u"), col("b").as("v"))
          .union(und.select(col("b").as("u"), col("a").as("v"))))
      val seeds = Seq(0L, 5L, 10L, 15L, 20L)
      var dist = Tables.nation(s, d)
        .select(col("n_nationkey").cast("long").as("node"))
        .select(col("node"), explode(typedlit(seeds)).as("seed"))
        .withColumn("dd",
          when(col("node") === col("seed"), lit(0L))
            .otherwise(lit(null).cast("long")))
      for (_ <- 1 to 3) {
        val reach = adj.join(broadcast(dist), col("u") === col("node"))
          .filter(col("dd").isNotNull)
          .groupBy(col("v"), col("seed").as("sd"))
          .agg(min(col("dd") + 1).as("nd"))
        dist = dist.join(reach,
            col("node") === col("v") && col("seed") === col("sd"), "left")
          .select(col("node"), col("seed"),
            when(col("dd").isNull, col("nd"))
              .when(col("nd").isNull, col("dd"))
              .when(col("nd") < col("dd"), col("nd"))
              .otherwise(col("dd")).as("dd"))
      }
      val harm = dist.filter(col("dd") >= 1)
        .groupBy(col("node"))
        .agg(count(lit(1)).as("n_reached"),
          sum(expr("1000000 div dd")).as("harmonic_x1e6"))
      Tables.nation(s, d)
        .select(col("n_nationkey").cast("long").as("nk"), col("n_name"))
        .join(harm, col("nk") === col("node"), "left")
        .select(col("n_name"),
          coalesce(col("n_reached"), lit(0L)).as("n_reached"),
          coalesce(col("harmonic_x1e6"), lit(0L)).as("harmonic_x1e6"))
        .orderBy(ascf("n_name"))
    },
    Some {
      def round(i: Int): String = {
        val prev = s"d${i - 1}"
        s"""f$i AS (SELECT adj.v, $prev.seed,
           |    CAST(min($prev.dd + 1) AS BIGINT) AS nd
           |  FROM adj JOIN $prev ON adj.u = $prev.node
           |  WHERE $prev.dd IS NOT NULL GROUP BY 1, 2),
           |d$i AS (SELECT $prev.node, $prev.seed,
           |    CASE WHEN $prev.dd IS NULL THEN f$i.nd
           |         WHEN f$i.nd IS NULL THEN $prev.dd
           |         WHEN f$i.nd < $prev.dd THEN f$i.nd
           |         ELSE $prev.dd END AS dd
           |  FROM $prev LEFT JOIN f$i
           |    ON $prev.node = f$i.v AND $prev.seed = f$i.seed)"""
          .stripMargin
      }
      s"""WITH $UndSql,
         |adj AS (SELECT a AS u, b AS v FROM und
         |  UNION ALL SELECT b AS u, a AS v FROM und),
         |sd(seed) AS (VALUES (0), (5), (10), (15), (20)),
         |d0 AS (SELECT CAST(n_nationkey AS BIGINT) AS node,
         |    CAST(seed AS BIGINT) AS seed,
         |    CASE WHEN n_nationkey = seed THEN CAST(0 AS BIGINT) END AS dd
         |  FROM nation CROSS JOIN sd),
         |${round(1)},
         |${round(2)},
         |${round(3)},
         |h AS (SELECT node, count(*) AS n_reached,
         |    CAST(sum(1000000 // dd) AS BIGINT) AS harmonic_x1e6
         |  FROM d3 WHERE dd >= 1 GROUP BY node)
         |SELECT n.n_name,
         |  CAST(coalesce(h.n_reached, 0) AS BIGINT) AS n_reached,
         |  CAST(coalesce(h.harmonic_x1e6, 0) AS BIGINT) AS harmonic_x1e6
         |FROM nation n LEFT JOIN h ON n.n_nationkey = h.node
         |ORDER BY n_name ASC NULLS FIRST""".stripMargin
    })

  /** Pivot strongly-connected component (round 7): the forward-backward
    * reachability intersection — the inner step of every parallel SCC
    * decomposition (FW-BW / coloring): nodes reachable FROM the pivot
    * along directed trade edges, nodes reaching the pivot (reverse
    * edges), and their intersection = the pivot's SCC. Directed edges
    * are the top-3-by-weight OUT-neighbors per nation (direction
    * preserved — unlike the undirected relation the BFS family shares),
    * reachability is 3-hop-bounded like q_graph_bfs, same fixed-K
    * unrolled-oracle pattern. A full decomposition iterates this step
    * on the residual graph — each iteration is exactly this shape, so
    * the one-pivot key grades the whole algorithm's building block.
    * Pivot = nation 6, chosen so the graded SCC is NON-trivial on the
    * fixtures (5 nodes at sf0.01; pivot 0's SCC was just itself — a
    * vacuous grade); correctness is pivot-independent.
    *
    * Scale: two bounded BFS passes over the same edge exchange (the
    * reverse direction is a column swap, not a second build); per-round
    * state is node-sized. Output: per-node fwd/bwd/SCC membership flags
    * — the coloring a decomposition would recurse on.
    */
  private val scc = QueryDef(
    "q_graph_scc",
    (s, d) => {
      val li = Tables.lineitem(s, d).select(col("l_orderkey"), col("l_suppkey"))
      val o = Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey"))
      val c = Tables.customer(s, d).select(col("c_custkey"), col("c_nationkey"))
      val sup = Tables.supplier(s, d).select(col("s_suppkey"), col("s_nationkey"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("src")).orderBy(descl("w"), ascf("dst"))
      val edges = Caches.scoped(li
        .join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(c), col("o_custkey") === col("c_custkey"))
        .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
        .filter(col("c_nationkey") =!= col("s_nationkey"))
        .groupBy(col("c_nationkey").as("src"), col("s_nationkey").as("dst"))
        .agg(count(lit(1)).as("w"))
        .withColumn("rn", row_number().over(w)).filter(col("rn") <= 3)
        .select(col("src").cast("long").as("src"),
          col("dst").cast("long").as("dst")))
      def reach(adj: org.apache.spark.sql.DataFrame) = {
        var r = Tables.nation(s, d)
          .select(col("n_nationkey").cast("long").as("node"))
          .withColumn("ok", col("node") === 6L)
        for (_ <- 1 to 3) {
          val f = adj.join(broadcast(r.filter(col("ok"))),
              col("u") === col("node"))
            .select(col("v")).distinct()
          r = r.join(f, col("node") === col("v"), "left")
            .select(col("node"), (col("ok") || col("v").isNotNull).as("ok"))
        }
        r
      }
      val fwd = reach(edges.select(col("src").as("u"), col("dst").as("v")))
        .withColumnRenamed("ok", "fwd")
      val bwd = reach(edges.select(col("dst").as("u"), col("src").as("v")))
        .withColumnRenamed("ok", "bwd")
      fwd.join(bwd, "node")
        .join(broadcast(Tables.nation(s, d)
          .select(col("n_nationkey").cast("long").as("nk"), col("n_name"))),
          col("node") === col("nk"))
        .select(col("n_name"),
          when(col("fwd"), 1L).otherwise(0L).as("fwd"),
          when(col("bwd"), 1L).otherwise(0L).as("bwd"),
          when(col("fwd") && col("bwd"), 1L).otherwise(0L).as("in_scc"))
        .orderBy(ascf("n_name"))
    },
    Some {
      def rounds(adjName: String, p: String): String =
        (1 to 3).map { t =>
          val prev = s"$p${t - 1}"
          s"""${p}f$t AS (SELECT DISTINCT $adjName.v FROM $adjName
             |  JOIN $prev ON $adjName.u = $prev.node WHERE $prev.ok),
             |$p$t AS (SELECT $prev.node,
             |    ($prev.ok OR ${p}f$t.v IS NOT NULL) AS ok
             |  FROM $prev LEFT JOIN ${p}f$t ON $prev.node = ${p}f$t.v)"""
            .stripMargin
        }.mkString(",\n")
      s"""WITH e0 AS (
         |  SELECT c.c_nationkey AS src, s.s_nationkey AS dst, count(*) AS w
         |  FROM lineitem l
         |  JOIN orders o ON l.l_orderkey = o.o_orderkey
         |  JOIN customer c ON o.o_custkey = c.c_custkey
         |  JOIN supplier s ON l.l_suppkey = s.s_suppkey
         |  WHERE c.c_nationkey <> s.s_nationkey
         |  GROUP BY 1, 2),
         |edges AS (SELECT CAST(src AS BIGINT) AS src,
         |    CAST(dst AS BIGINT) AS dst FROM (
         |    SELECT src, dst, row_number() OVER (PARTITION BY src
         |      ORDER BY w DESC, dst ASC) AS rn FROM e0)
         |  WHERE rn <= 3),
         |fa AS (SELECT src AS u, dst AS v FROM edges),
         |ba AS (SELECT dst AS u, src AS v FROM edges),
         |a0 AS (SELECT CAST(n_nationkey AS BIGINT) AS node,
         |    n_nationkey = 6 AS ok FROM nation),
         |b0 AS (SELECT CAST(n_nationkey AS BIGINT) AS node,
         |    n_nationkey = 6 AS ok FROM nation),
         |${rounds("fa", "a")},
         |${rounds("ba", "b")}
         |SELECT n.n_name,
         |  CAST(CASE WHEN a3.ok THEN 1 ELSE 0 END AS BIGINT) AS fwd,
         |  CAST(CASE WHEN b3.ok THEN 1 ELSE 0 END AS BIGINT) AS bwd,
         |  CAST(CASE WHEN a3.ok AND b3.ok THEN 1 ELSE 0 END AS BIGINT)
         |    AS in_scc
         |FROM a3 JOIN b3 ON a3.node = b3.node
         |JOIN nation n ON a3.node = n.n_nationkey
         |ORDER BY n_name ASC NULLS FIRST""".stripMargin
    })

  /** k-core decomposition by fixed-round peeling (round 7): over the
    * document near-dup pair graph (the session-shared ≥0.95-Jaccard
    * relation that also feeds q_dedup_components), repeatedly drop
    * vertices whose degree among SURVIVORS is < 2, R=4 rounds, then
    * report per language: graph vertices, 2-core survivors, and the
    * within-core degree mass (= 2·core edges). The 2-core strips
    * pendant near-dup pairs and chains, leaving only clusters with
    * internal redundancy ≥ a cycle/clique — the dense backbone a
    * curation pipeline escalates to cluster-representative dedup, vs
    * the simple pairs it can resolve greedily.
    *
    * Scale: each round is two hash joins of the pre-partitioned
    * (scoped-persisted) edge relation against the shrinking vertex-sized
    * survivor set, then a count — edges are shuffled into their layout
    * ONCE. The survivor frame is lineage-truncated per round (it feeds
    * two joins in the next round — unchecked, the plan doubles per
    * iteration) by Dsl.truncateLineage.
    * Production peeling runs the same loop delta-wise; the fixed-R
    * unroll is the cross-engine-gradeable form, and R=4 removes
    * pendant chains of length ≤ 4 — documented semantics, not a
    * convergence claim.
    *
    * Determinism: pure integer degree counting; per-lang census is
    * order-free.
    */
  private val kcore = QueryDef(
    "q_graph_kcore",
    (s, d) => {
      val edges = Pipeline.componentEdges(s, d) // symmetrized (d1,d2)
      def coreDeg(alive: org.apache.spark.sql.DataFrame) =
        edges
          .join(alive.select(col("node").as("au")), col("d1") === col("au"))
          .join(alive.select(col("node").as("av")), col("d2") === col("av"))
          .groupBy(col("d1")).agg(count(lit(1)).as("deg"))
      val verts = Pipeline.componentVerts(edges)
        .select(col("id").as("node"))
      var alive = verts
      for (_ <- 1 to 4) {
        val frame = coreDeg(alive).filter(col("deg") >= 2)
          .select(col("d1").as("node"))
        alive = truncateLineage(frame)
      }
      val cd = coreDeg(alive)
      val docLang = Tables.documents(s, d)
        .select(col("doc_id").as("node"), col("lang"))
      val vCensus = verts.join(docLang, "node")
        .groupBy(col("lang")).agg(count(lit(1)).as("nv"))
      val cCensus = cd.join(docLang, col("d1") === col("node"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("nc"), sum(col("deg")).as("degsum"))
      Tables.documents(s, d).select(col("lang")).distinct()
        .join(vCensus, Seq("lang"), "left")
        .join(cCensus, Seq("lang"), "left")
        .select(col("lang"),
          coalesce(col("nv"), lit(0L)).as("graph_verts"),
          coalesce(col("nc"), lit(0L)).as("core2_verts"),
          coalesce(col("degsum"), lit(0L)).as("core2_deg_sum"))
        .orderBy(ascf("lang"))
    },
    Some {
      def round(prev: String, cur: String) =
        s"""d$cur AS (SELECT sym.u, count(*) AS deg FROM sym
           |  JOIN a$prev x ON sym.u = x.node
           |  JOIN a$prev y ON sym.v = y.node GROUP BY sym.u),
           |a$cur AS (SELECT u AS node FROM d$cur WHERE deg >= 2)""".stripMargin
      Similarity.oracleJaccardCte +
        s""",
           |sym AS (SELECT d1 AS u, d2 AS v FROM jp
           |  UNION ALL SELECT d2 AS u, d1 AS v FROM jp),
           |a0 AS (SELECT DISTINCT u AS node FROM sym),
           |${round("0", "1")},
           |${round("1", "2")},
           |${round("2", "3")},
           |${round("3", "4")},
           |cd AS (SELECT sym.u, count(*) AS deg FROM sym
           |  JOIN a4 x ON sym.u = x.node
           |  JOIN a4 y ON sym.v = y.node GROUP BY sym.u),
           |vc AS (SELECT doc.lang, count(*) AS nv
           |  FROM a0 JOIN documents doc ON a0.node = doc.doc_id
           |  GROUP BY doc.lang),
           |cc AS (SELECT doc.lang, count(*) AS nc, sum(cd.deg) AS degsum
           |  FROM cd JOIN documents doc ON cd.u = doc.doc_id
           |  GROUP BY doc.lang)
           |SELECT l.lang AS lang,
           |  CAST(coalesce(vc.nv, 0) AS BIGINT) AS graph_verts,
           |  CAST(coalesce(cc.nc, 0) AS BIGINT) AS core2_verts,
           |  CAST(coalesce(cc.degsum, 0) AS BIGINT) AS core2_deg_sum
           |FROM (SELECT DISTINCT lang FROM documents) l
           |LEFT JOIN vc ON l.lang = vc.lang
           |LEFT JOIN cc ON l.lang = cc.lang
           |ORDER BY lang ASC NULLS FIRST""".stripMargin
    })

  /** Market-basket co-purchase affinity (round 7): the "customers who
    * bought X also bought Y" read — top-20 part pairs co-occurring
    * within an order, scored by support (n_orders) AND lift (observed
    * co-occurrence over the independence expectation, in 1e-6 units).
    * Lift > 1e6 is the association signal a recommender or assortment
    * planner acts on; support alone just rediscovers popular parts.
    *
    * Scale: the pair explosion is BASKET-bounded, not catalog-bounded —
    * pairs per order ≤ C(items, 2) with items ≤ 13 on these fixtures
    * (verified), so the pair relation is ~6× lineitem regardless of the
    * 20 k-part catalog; marginals are one distinct-pair aggregate each;
    * the top-20 is TakeOrdered partial heaps. No node²/catalog² term
    * anywhere.
    *
    * Determinism: all-integer counts; lift_e6 = n_pair·N·10⁶ div
    * (n_p1·n_p2) exact int64 (numerator ≤ ~10¹³ at sf0.1, denominators
    * catalog-frequency-bounded); top-20 fed by the total order
    * (n_pair DESC, p1, p2).
    */
  private val copurchase = QueryDef(
    "q_graph_copurchase",
    (s, d) => {
      val items = graft.Caches.scoped(Tables.lineitem(s, d)
        .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
        .distinct())
      val n = items.select(countDistinct(col("o")).as("n_orders"))
      val freq = items.groupBy(col("p")).agg(count(lit(1)).as("np"))
      val pairs = items.as("a")
        .join(items.as("b"), col("a.o") === col("b.o")
          && col("a.p") < col("b.p"))
        .groupBy(col("a.p").as("p1"), col("b.p").as("p2"))
        .agg(count(lit(1)).as("n_pair"))
      pairs
        .join(freq.withColumnRenamed("p", "p1")
          .withColumnRenamed("np", "np1"), "p1")
        .join(freq.withColumnRenamed("p", "p2")
          .withColumnRenamed("np", "np2"), "p2")
        .crossJoin(broadcast(n))
        // top-20 cut FIRST: the order is (n_pair, p1, p2) only, so the
        // lift arithmetic runs on 20 rows, not every co-purchased pair
        .orderBy(descl("n_pair"), ascf("p1"), ascf("p2"))
        .limit(20)
        .select(col("p1"), col("p2"), col("n_pair"),
          // the triple product n_pair·n_orders·1e6 crosses int64 once
          // n_pair·n_orders > 9.2e12 (corpus-scale order counts) —
          // stage both sides of the division through DECIMAL(38,0)
          expr("cast(cast(n_pair as decimal(38,0)) * n_orders * 1000000 " +
            "div (cast(np1 as decimal(38,0)) * np2) as bigint)")
            .as("lift_e6"))
        .orderBy(descl("n_pair"), ascf("p1"), ascf("p2"))
    },
    Some("""WITH items AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
           |  FROM lineitem),
           |n AS (SELECT CAST(count(DISTINCT o) AS BIGINT) AS n_orders
           |  FROM items),
           |freq AS (SELECT p, CAST(count(*) AS BIGINT) AS np
           |  FROM items GROUP BY p),
           |pairs AS (SELECT a.p AS p1, b.p AS p2,
           |    CAST(count(*) AS BIGINT) AS n_pair
           |  FROM items a JOIN items b ON a.o = b.o AND a.p < b.p
           |  GROUP BY 1, 2),
           |sel AS (SELECT p1, p2, n_pair, f1.np AS np1, f2.np AS np2,
           |    n_orders
           |  FROM pairs
           |    JOIN freq f1 ON pairs.p1 = f1.p
           |    JOIN freq f2 ON pairs.p2 = f2.p
           |    CROSS JOIN n
           |  ORDER BY n_pair DESC NULLS LAST, p1 ASC NULLS FIRST,
           |    p2 ASC NULLS FIRST
           |  LIMIT 20)
           |SELECT p1, p2, n_pair,
           |  CAST((CAST(n_pair AS HUGEINT) * n_orders * 1000000)
           |    // (CAST(np1 AS HUGEINT) * np2)
           |    AS BIGINT) AS lift_e6
           |FROM sel
           |ORDER BY n_pair DESC NULLS LAST, p1 ASC NULLS FIRST,
           |  p2 ASC NULLS FIRST""".stripMargin))

  /** Adamic–Adar link prediction (round 7): the common-neighbor score
    * that DISCOUNTS popular intermediaries — each shared neighbor z
    * contributes 1/ln(deg z) instead of 1 — completing the
    * link-prediction pair with q_graph_jaccard (which size-normalizes
    * but weights all common neighbors equally; a hub connecting
    * everyone carries no signal, and AA is the standard correction).
    *
    * Scale: same wedge enumeration as q_graph_jaccard over the shared
    * sparsified trade graph (top-3 bounds wedge fan-out at 3·deg); the
    * per-neighbor weight joins the node-sized degree relation; the sum
    * is per-pair.
    *
    * Determinism: deg ≥ 2 for every wedge center BY CONSTRUCTION (a
    * common neighbor touches both endpoints), so ln(deg) > 0; the
    * weight w_e6 = floor(10⁶ / lnInt(deg)) floors a division of
    * bit-identical doubles (DetMath.lnInt is the D12 deterministic ln,
    * replicated in staged SQL), and the pair score sums exact int64.
    */
  private val adamicAdar = QueryDef(
    "q_graph_adamic_adar",
    (s, d) => {
      import graft.functions.DetMath
      val und = undirectedTop3(s, d)
      val sym = und.select(col("a").as("u"), col("b").as("v"))
        .union(und.select(col("b").as("u"), col("a").as("v")))
      val deg = sym.groupBy(col("u")).agg(count(lit(1)).as("deg"))
      val wz = sym.alias("e1").join(sym.alias("e2"),
          col("e1.u") === col("e2.u") && col("e1.v") < col("e2.v"))
        .select(col("e1.v").as("x"), col("e2.v").as("y"),
          col("e1.u").as("z"))
        .join(deg.select(col("u").as("z"), col("deg")), "z")
        .withColumn("w_e6",
          floor(lit(1000000.0) / DetMath.lnInt(col("deg"))).cast("long"))
      wz.groupBy(col("x"), col("y"))
        .agg(count(lit(1)).as("cn"), sum(col("w_e6")).as("aa_e6"))
        .join(und.select(col("a").as("x"), col("b").as("y"),
          lit(1L).as("adj")), Seq("x", "y"), "left")
        .select(col("x").cast("long").as("x"),
          col("y").cast("long").as("y"), col("cn"), col("aa_e6"),
          coalesce(col("adj"), lit(0L)).as("adjacent"))
        .orderBy(descl("aa_e6"), ascf("x"), ascf("y"))
    },
    Some {
      import graft.functions.DetMath._
      s"""WITH $UndSql,
         |sym AS (SELECT a AS u, b AS v FROM und
         |  UNION ALL SELECT b, a FROM und),
         |deg AS (SELECT u, CAST(count(*) AS BIGINT) AS deg
         |  FROM sym GROUP BY u),
         |d1 AS (SELECT u, deg, ${kSql("deg")} AS k FROM deg),
         |d2 AS (SELECT *, ${mSql("deg", "k")} AS mm FROM d1),
         |d3 AS (SELECT *, ${zSql("mm")} AS z FROM d2),
         |d4 AS (SELECT *, z * z AS z2 FROM d3),
         |d5 AS (SELECT *, ${hornerSql("z2")} AS h FROM d4),
         |dw AS (SELECT u,
         |    CAST(floor(CAST(1000000 AS DOUBLE)
         |      / ${lnSql("k", "z", "h")}) AS BIGINT) AS w_e6
         |  FROM d5),
         |wz AS (SELECT e1.v AS x, e2.v AS y, e1.u AS z
         |  FROM sym e1 JOIN sym e2 ON e1.u = e2.u AND e1.v < e2.v),
         |aa AS (SELECT wz.x, wz.y, CAST(count(*) AS BIGINT) AS cn,
         |    CAST(sum(dw.w_e6) AS BIGINT) AS aa_e6
         |  FROM wz JOIN dw ON wz.z = dw.u GROUP BY 1, 2)
         |SELECT CAST(aa.x AS BIGINT) AS x, CAST(aa.y AS BIGINT) AS y,
         |  aa.cn, aa.aa_e6,
         |  CASE WHEN u2.a IS NULL THEN CAST(0 AS BIGINT)
         |    ELSE CAST(1 AS BIGINT) END AS adjacent
         |FROM aa LEFT JOIN und u2 ON aa.x = u2.a AND aa.y = u2.b
         |ORDER BY aa_e6 DESC NULLS LAST, x ASC NULLS FIRST,
         |  y ASC NULLS FIRST""".stripMargin
    })

  /** HITS hubs & authorities (round 7): Kleinberg's mutual-
    * reinforcement scores over the DIRECTED weighted trade graph —
    * authority(v) = Σ incoming hub·w, hub(u) = Σ outgoing authority·w —
    * the asymmetric complement to q_graph_pagerank (pagerank measures
    * one stationary importance; HITS separates "broad buyers" (hubs)
    * from "broad suppliers" (authorities), which IS the customer-vs-
    * supplier asymmetry of the trade edges).
    *
    * Both engines run exactly K=2 unrolled iterations (the pagerank /
    * components fixed-K pattern — convergence never assumed, round-K
    * state hash-graded). Normalization (HITS diverges without it) is
    * max-normalization to 1e6 units per half-step: score·10⁶ div max,
    * exact via a DECIMAL(38,0)/HUGEINT staged integral division (raw
    * Σ h·w reaches ~10¹³ at sf0.1, so score·10⁶ crosses int64 — the
    * q_sketch_hll widening, applied at design time).
    *
    * Scale: the fact table collapses to the ≤ nations² edge relation
    * once (scoped persist — the pagerank lesson: unpersisted, every
    * unrolled iteration re-derives it from the fact scan); each
    * half-step is one edge-sized join + a node-grain aggregate + a
    * 1-row max broadcast.
    */
  private val hits = QueryDef(
    "q_graph_hits",
    (s, d) => {
      val li = Tables.lineitem(s, d).select(col("l_orderkey"), col("l_suppkey"))
      val o = Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey"))
      val c = Tables.customer(s, d).select(col("c_custkey"), col("c_nationkey"))
      val sup = Tables.supplier(s, d).select(col("s_suppkey"), col("s_nationkey"))
      val e = Caches.scoped(li
        .join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(c), col("o_custkey") === col("c_custkey"))
        .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
        .groupBy(col("c_nationkey").as("src"), col("s_nationkey").as("dst"))
        .agg(count(lit(1)).as("w")))
      val nodes = Tables.nation(s, d).select(col("n_nationkey").as("node"))
      // each half-step state is eagerly CHECKPOINTED (node-sized): f
      // feeds both the rows and the max, and each iteration chains on
      // the last — unmaterialized, the unrolled plan replayed every
      // prior half-step per reference (962-node plan in the first
      // dump); a persist+broadcast-max variant fixed the plan size but
      // paid ~10 s of pure stage-barrier overhead at sf0.1 (the LPA
      // round-overhead disease — measured 10.2 s vs pagerank's 0.6 s),
      // so the max runs as a single-partition window over the 25-row
      // frame and the state truncates lineage the LPA way
      def normalize(raw: org.apache.spark.sql.DataFrame, out: String): org.apache.spark.sql.DataFrame = {
        import org.apache.spark.sql.expressions.Window
        val f = nodes.join(raw, Seq("node"), "left")
          .select(col("node"), coalesce(col("s"), lit(0L)).as("s"))
          .withColumn("m", max(col("s")).over(Window.partitionBy()))
          .select(col("node"),
            expr("CAST(CAST(s AS DECIMAL(38,0)) * 1000000 div m AS BIGINT)")
              .as(out))
        truncateLineage(f)
      }
      var hub: org.apache.spark.sql.DataFrame =
        nodes.select(col("node"), lit(1000000L).as("h"))
      var auth: org.apache.spark.sql.DataFrame =
        nodes.select(col("node"), lit(1000000L).as("a"))
      for (_ <- 1 to 2) {
        auth = normalize(
          e.join(broadcast(hub), col("src") === col("node"))
            .groupBy(col("dst").as("node"))
            .agg(sum(col("h") * col("w")).as("s")), "a")
        hub = normalize(
          e.join(broadcast(auth), col("dst") === col("node"))
            .groupBy(col("src").as("node"))
            .agg(sum(col("a") * col("w")).as("s")), "h")
      }
      hub.join(auth, "node")
        .join(broadcast(Tables.nation(s, d)
          .select(col("n_nationkey").as("node"), col("n_name"))), "node")
        .select(col("n_name"), col("h").as("hub_e6"), col("a").as("auth_e6"))
        .orderBy(ascf("n_name"))
    },
    Some {
      def half(k: Int, joinKey: String, groupKey: String, prevRel: String,
          prevCol: String, rel: String, outCol: String): String =
        s"""${rel}raw AS (SELECT e.$groupKey AS node,
           |    CAST(sum($prevRel.$prevCol * e.w) AS BIGINT) AS s
           |  FROM e JOIN $prevRel ON e.$joinKey = $prevRel.node
           |  GROUP BY 1),
           |${rel}f AS (SELECT n.n_nationkey AS node,
           |    coalesce(${rel}raw.s, 0) AS s
           |  FROM nation n LEFT JOIN ${rel}raw
           |    ON n.n_nationkey = ${rel}raw.node),
           |${rel}m AS (SELECT max(s) AS m FROM ${rel}f),
           |$rel AS (SELECT node,
           |    CAST(CAST(s AS HUGEINT) * 1000000 // m AS BIGINT)
           |      AS $outCol
           |  FROM ${rel}f, ${rel}m)""".stripMargin
      s"""WITH e AS (
         |  SELECT c.c_nationkey AS src, s.s_nationkey AS dst,
         |      count(*) AS w
         |  FROM lineitem l
         |  JOIN orders o ON l.l_orderkey = o.o_orderkey
         |  JOIN customer c ON o.o_custkey = c.c_custkey
         |  JOIN supplier s ON l.l_suppkey = s.s_suppkey
         |  GROUP BY 1, 2),
         |h0 AS (SELECT n_nationkey AS node, CAST(1000000 AS BIGINT) AS h
         |  FROM nation),
         |${half(1, "src", "dst", "h0", "h", "a1", "a")},
         |${half(1, "dst", "src", "a1", "a", "h1", "h")},
         |${half(2, "src", "dst", "h1", "h", "a2", "a")},
         |${half(2, "dst", "src", "a2", "a", "h2", "h")}
         |SELECT n.n_name, h2.h AS hub_e6, a2.a AS auth_e6
         |FROM h2 JOIN a2 ON h2.node = a2.node
         |JOIN nation n ON h2.node = n.n_nationkey
         |ORDER BY n_name ASC NULLS FIRST""".stripMargin
    })

  /** Degree assortativity (round 7): the Pearson correlation of degrees
    * across edges — THE one-number answer to "do hubs trade with hubs
    * or with the periphery?" (positive = social-network-like core,
    * negative = hub-and-spoke). Each undirected edge contributes its
    * endpoint-degree pair in BOTH orders (the standard symmetrization),
    * and the correlation runs the q_profile_corr fused-moment shape on
    * the edge-sized relation.
    *
    * Determinism: degrees are tiny integers, every moment exact int64;
    * r divides through IEEE sqrt/mul/div on identical operands.
    * Scale: node-sized degree relation joins the node²-bounded edge
    * relation twice; moments partial-aggregate.
    */
  private val assortativity = QueryDef(
    "q_graph_assortativity",
    (s, d) => {
      val und = undirectedTop3(s, d)
      val sym = und.select(col("a").as("u"), col("b").as("v"))
        .union(und.select(col("b").as("u"), col("a").as("v")))
      val deg = sym.groupBy(col("u")).agg(count(lit(1)).as("deg"))
      val pairs = sym
        .join(deg.select(col("u"), col("deg").as("dx")), "u")
        .join(deg.select(col("u").as("v"), col("deg").as("dy")), "v")
        .select(col("dx").cast("long").as("x"),
          col("dy").cast("long").as("y"))
      pairs.agg(count(lit(1)).as("n"),
          sum(col("x")).as("sx"), sum(col("y")).as("sy"),
          sum(col("x") * col("x")).as("sxx"),
          sum(col("y") * col("y")).as("syy"),
          sum(col("x") * col("y")).as("sxy"))
        .select((col("n") / 2).cast("long").as("n_edges"),
          ((col("n") * col("sxy") - col("sx") * col("sy")).cast("double")
            / (sqrt((col("n") * col("sxx") - col("sx") * col("sx"))
              .cast("double"))
              * sqrt((col("n") * col("syy") - col("sy") * col("sy"))
                .cast("double")))).as("assortativity"))
        .orderBy(ascf("n_edges"))
    },
    Some(s"""WITH $UndSql,
            |sym AS (SELECT a AS u, b AS v FROM und
            |  UNION ALL SELECT b, a FROM und),
            |deg AS (SELECT u, CAST(count(*) AS BIGINT) AS deg
            |  FROM sym GROUP BY u),
            |pr AS (SELECT dx.deg AS x, dy.deg AS y
            |  FROM sym JOIN deg dx ON sym.u = dx.u
            |    JOIN deg dy ON sym.v = dy.u),
            |m AS (SELECT CAST(count(*) AS BIGINT) AS n,
            |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
            |    CAST(sum(x * x) AS BIGINT) AS sxx,
            |    CAST(sum(y * y) AS BIGINT) AS syy,
            |    CAST(sum(x * y) AS BIGINT) AS sxy
            |  FROM pr)
            |SELECT CAST(n / 2 AS BIGINT) AS n_edges,
            |  CAST(n * sxy - sx * sy AS DOUBLE)
            |    / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
            |       * sqrt(CAST(n * syy - sy * sy AS DOUBLE)))
            |    AS assortativity
            |FROM m ORDER BY n_edges ASC NULLS FIRST""".stripMargin))

  /** Edge reciprocity (round 7): the fraction of directed trade edges
    * whose REVERSE edge also exists — the directionality census that
    * separates two-way trading relationships from one-way supply
    * chains, and the natural companion statistic to q_graph_hits
    * (strong hubs + low reciprocity = a hub-and-spoke market; high
    * reciprocity = mutual trade).
    *
    * Scale: the fact table collapses once to the ≤ nations² directed
    * edge relation (scoped persist — both the census and the reverse
    * probe read it); the reciprocity check is a self-join on the
    * swapped key, node²-bounded. Weighted reciprocity (min(w, w_rev)
    * mass) rides along — the Garlaschelli–Loffredo refinement.
    *
    * Determinism: pure integer counting; ratio in 1e-6 units by exact
    * floor division.
    */
  private val reciprocity = QueryDef(
    "q_graph_reciprocity",
    (s, d) => {
      val li = Tables.lineitem(s, d).select(col("l_orderkey"), col("l_suppkey"))
      val o = Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey"))
      val c = Tables.customer(s, d).select(col("c_custkey"), col("c_nationkey"))
      val sup = Tables.supplier(s, d).select(col("s_suppkey"), col("s_nationkey"))
      val e = Caches.scoped(li
        .join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(c), col("o_custkey") === col("c_custkey"))
        .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
        .filter(col("c_nationkey") =!= col("s_nationkey"))
        .groupBy(col("c_nationkey").as("src"), col("s_nationkey").as("dst"))
        .agg(count(lit(1)).as("w")))
      val joined = e.join(
        e.select(col("dst").as("src"), col("src").as("dst"),
          col("w").as("w_rev")),
        Seq("src", "dst"), "left")
      joined.agg(count(lit(1)).as("n_edges"),
          sum(when(col("w_rev").isNotNull, 1L).otherwise(0L))
            .as("n_reciprocal"),
          sum(col("w")).as("weight_total"),
          sum(when(col("w_rev").isNotNull, least(col("w"), col("w_rev")))
            .otherwise(lit(0L))).as("weight_reciprocated"))
        .select(col("n_edges"), col("n_reciprocal"),
          expr("(n_reciprocal * 1000000L) div n_edges")
            .as("reciprocity_e6"),
          col("weight_total"), col("weight_reciprocated"))
        .orderBy(ascf("n_edges"))
    },
    Some("""WITH e AS (
           |  SELECT c.c_nationkey AS src, s.s_nationkey AS dst,
           |      CAST(count(*) AS BIGINT) AS w
           |  FROM lineitem l
           |  JOIN orders o ON l.l_orderkey = o.o_orderkey
           |  JOIN customer c ON o.o_custkey = c.c_custkey
           |  JOIN supplier s ON l.l_suppkey = s.s_suppkey
           |  WHERE c.c_nationkey <> s.s_nationkey
           |  GROUP BY 1, 2),
           |j AS (SELECT e.src, e.dst, e.w, r.w AS w_rev
           |  FROM e LEFT JOIN e r ON e.src = r.dst AND e.dst = r.src),
           |m AS (SELECT CAST(count(*) AS BIGINT) AS n_edges,
           |    CAST(sum(CASE WHEN w_rev IS NOT NULL THEN 1 ELSE 0 END)
           |      AS BIGINT) AS n_reciprocal,
           |    CAST(sum(w) AS BIGINT) AS weight_total,
           |    CAST(sum(CASE WHEN w_rev IS NOT NULL
           |        THEN least(w, w_rev) ELSE 0 END) AS BIGINT)
           |      AS weight_reciprocated
           |  FROM j)
           |SELECT n_edges, n_reciprocal,
           |  CAST((n_reciprocal * 1000000) // n_edges AS BIGINT)
           |    AS reciprocity_e6,
           |  weight_total, weight_reciprocated
           |FROM m ORDER BY n_edges ASC NULLS FIRST""".stripMargin))

  /** Local clustering coefficient (round 7): per-node transitivity of
    * the sparsified trade graph — C(v) = 2·T(v) / (deg(v)·(deg(v)−1)),
    * the fraction of a node's neighbor pairs that are themselves
    * connected. Together with [[triangles]] (raw counts) this is the
    * standard tight-community signal: a high-degree nation with a LOW
    * coefficient is a hub bridging otherwise-disconnected partners.
    *
    * Scale: both inputs are node-sized reductions of the session-shared
    * [[undirectedTop3]] relation — degree is one count over the
    * symmetrized edge list, T(v) reuses the duplicate-free (a<b<c)
    * two-join triangle enumeration — so nothing beyond the shared
    * fact→edge aggregation ever touches the corpus.
    *
    * Determinism (D2/D12): the coefficient is exact int64 in 1e-6 units,
    * (2e6·T) div (deg·(deg−1)), every operand non-negative so truncating
    * `div` and DuckDB `//` agree; deg < 2 reports 0 by explicit CASE.
    */
  private val clustering = QueryDef(
    "q_graph_clustering",
    (s, d) => {
      val und = undirectedTop3(s, d)
      val deg = und.select(col("a").as("node"))
        .union(und.select(col("b").as("node")))
        .groupBy(col("node")).agg(count(lit(1)).as("dg"))
      val tri = und.as("e1")
        .join(und.as("e2"), col("e1.b") === col("e2.a"))
        .join(und.as("e3"),
          col("e3.a") === col("e1.a") && col("e3.b") === col("e2.b"))
        .select(col("e1.a").as("x"), col("e1.b").as("y"), col("e2.b").as("z"))
      val tc = tri.select(col("x").as("node"))
        .union(tri.select(col("y").as("node")))
        .union(tri.select(col("z").as("node")))
        .groupBy(col("node")).agg(count(lit(1)).as("tc"))
      Tables.nation(s, d).select(col("n_nationkey"), col("n_name"))
        .join(deg, col("n_nationkey") === deg("node"), "left")
        .drop("node")
        .join(tc, col("n_nationkey") === tc("node"), "left")
        .select(col("n_name"),
          coalesce(col("dg"), lit(0L)).as("degree"),
          coalesce(col("tc"), lit(0L)).as("n_triangles"))
        .select(col("n_name"), col("degree"), col("n_triangles"),
          when(col("degree") >= 2,
            expr("(2000000 * n_triangles) div (degree * (degree - 1))"))
            .otherwise(lit(0L)).as("coeff_e6"))
        .orderBy(ascf("n_name"))
    },
    Some(s"""WITH $UndSql,
           |deg AS (SELECT node, count(*) AS dg FROM (
           |    SELECT a AS node FROM und UNION ALL SELECT b FROM und)
           |  GROUP BY node),
           |tri AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z
           |  FROM und e1
           |  JOIN und e2 ON e1.b = e2.a
           |  JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b),
           |m AS (SELECT x AS node FROM tri
           |  UNION ALL SELECT y FROM tri
           |  UNION ALL SELECT z FROM tri),
           |tc AS (SELECT node, count(*) AS tc FROM m GROUP BY node),
           |base AS (SELECT n.n_name,
           |    CAST(coalesce(d.dg, 0) AS BIGINT) AS degree,
           |    CAST(coalesce(t.tc, 0) AS BIGINT) AS n_triangles
           |  FROM nation n
           |  LEFT JOIN deg d ON n.n_nationkey = d.node
           |  LEFT JOIN tc t ON n.n_nationkey = t.node)
           |SELECT n_name, degree, n_triangles,
           |  CAST(CASE WHEN degree >= 2
           |    THEN (2000000 * n_triangles) // (degree * (degree - 1))
           |    ELSE 0 END AS BIGINT) AS coeff_e6
           |FROM base ORDER BY n_name ASC NULLS FIRST""".stripMargin))

  /** Minimum spanning forest via fixed-round Borůvka (round 7): the
    * cheapest edge set connecting the weighted trade graph — the
    * backbone-extraction operator (network design, single-link
    * clustering's dendrogram skeleton, graph sparsification). Each round
    * every component picks its minimum incident edge under the TOTAL
    * edge order (w, a, b) — which makes the MSF unique, so it is exactly
    * hash-gradeable even with duplicate weights — then components merge
    * by hooking each label to the far end of its chosen edge, resolving
    * mutual-pair 2-cycles to the smaller label, and pointer-doubling to
    * the root. K=5 rounds: component count at least halves per round, so
    * 2⁵ = 32 > 25 nodes guarantees the forest is COMPLETE, not a prefix;
    * J=5 jumps per round likewise bound any hook-chain depth.
    *
    * Scale: the 100 TB-heavy step is the ONE fact-table aggregation down
    * to canonical (a<b, w) node-pair edges; all K rounds run on the
    * node²-bounded edge sketch and node-sized label state (Borůvka is
    * THE distributed MST algorithm precisely because each round is a
    * constant number of joins + one argmin — no priority queue, no
    * sequential growth like Prim/Kruskal). Labels checkpoint per round
    * (the q_dedup_components lineage tier).
    *
    * Determinism (D1/D2): integer weights; argmin over the total order
    * (w, a, b); mutual-min ties resolve to the smaller label on both
    * engines; output is the forest edge list totally ordered by (w, a, b)
    * ((a, b) is unique).
    */
  private val mstRounds = 5
  private val mstJumps = 5

  private val mst = QueryDef(
    "q_graph_mst",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val li = Tables.lineitem(s, d).select(col("l_orderkey"), col("l_suppkey"))
      val o = Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey"))
      val c = Tables.customer(s, d).select(col("c_custkey"), col("c_nationkey"))
      val sup = Tables.supplier(s, d).select(col("s_suppkey"), col("s_nationkey"))
      // the one corpus-sized pass: fact table → canonical undirected edges
      val e = Caches.scoped(li
        .join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(c), col("o_custkey") === col("c_custkey"))
        .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
        .filter(col("c_nationkey") =!= col("s_nationkey"))
        .groupBy(
          least(col("c_nationkey"), col("s_nationkey")).cast("long").as("a"),
          greatest(col("c_nationkey"), col("s_nationkey")).cast("long").as("b"))
        .agg(count(lit(1)).as("w")))
      // see Dsl.statsTruncate for the checkpoint-origin-stats story
      // (this loop is where the planning hang was first measured)
      def truncate(df: org.apache.spark.sql.DataFrame) =
        graft.Dsl.statsTruncate(df)
      var lab = Tables.nation(s, d)
        .select(col("n_nationkey").cast("long").as("node"))
        .withColumn("label", col("node"))
      var chosen: org.apache.spark.sql.DataFrame = null
      // early exit on convergence is EXACT (the q_geo_dbscan
      // contractedHookLabels argument): once no cross-label edge
      // remains, pick is empty, every later round unions nothing and
      // maps identity — the oracle's unrolled no-op rounds are free to
      // skip. The nation forest converges in ~2 rounds; the fixed
      // 5-round unroll was paying ~3 dead rounds of stage overhead.
      var mstRound = 0
      var mstDone = false
      while (mstRound < mstRounds && !mstDone) {
        mstRound += 1
        val el = e
          .join(lab.select(col("node").as("na"), col("label").as("la")),
            col("a") === col("na"))
          .join(lab.select(col("node").as("nb"), col("label").as("lb")),
            col("b") === col("nb"))
          .filter(col("la") =!= col("lb"))
          .select(col("a"), col("b"), col("w"), col("la"), col("lb"))
        val cand = el.select(col("la").as("l"), col("w"), col("a"),
            col("b"), col("lb").as("m"))
          .unionByName(el.select(col("lb").as("l"), col("w"), col("a"),
            col("b"), col("la").as("m")))
        val wmin = Window.partitionBy(col("l"))
          .orderBy(ascf("w"), ascf("a"), ascf("b"))
        // label-sized; lineage-truncated: it feeds the chosen-edge set,
        // BOTH sides of the 2-cycle resolve, and (via m0) 2^J leaves of
        // the doubling chain — unchecked, the round's plan fans out to
        // ~128 copies of the edge-labeling join (measured as a hang at
        // sf0.001 before the fix)
        val pick = truncate(cand.withColumn("rn", row_number().over(wmin))
          .filter(col("rn") === 1)
          .select(col("l"), col("w"), col("a"), col("b"), col("m")))
        if (pick.isEmpty) mstDone = true
        val pe = pick.select(col("a"), col("b"), col("w")).distinct()
        chosen = if (chosen == null) pe else chosen.unionByName(pe)
        // a converged round hooks nothing — skip the (eager) map build
        // and label rewrite entirely rather than materializing identity
        // frames
        if (!mstDone) {
          // hook l→m; a mutual pair (the two labels that picked the same
          // edge) is the only possible cycle under a total edge order —
          // resolve it by rooting the smaller label
          val p0 = pick.select(col("l"), col("m"))
          val p1 = p0.as("x")
            .join(p0.select(col("l").as("yl"), col("m").as("ym")),
              col("m") === col("yl"), "left")
            .select(col("l"),
              when(col("ym") === col("l") && col("l") < col("m"), col("l"))
                .otherwise(col("m")).as("p"))
          // materialize the hook map once: the doubling chain below scans
          // this label-sized frame at 2^J leaves, which is only sane when
          // each leaf is an in-memory scan, not the whole round's lineage
          var map = truncate(lab.select(col("label").as("l")).distinct()
            .join(p1, Seq("l"), "left")
            .select(col("l"), coalesce(col("p"), col("l")).as("p")))
          // label-count rows, invariant across the jumps; broadcast only
          // while driver-safe (VERDICT r7 #8 — see Dsl.maybeBroadcastMap)
          val mapRows = map.count()
          def bcm(m: org.apache.spark.sql.DataFrame) =
            graft.Dsl.maybeBroadcastMap(m, mapRows)
          for (_ <- 1 to mstJumps) {
            map = map
              .join(bcm(map.select(col("l").as("l2"), col("p").as("p2"))),
                col("p") === col("l2"))
              .select(col("l"), col("p2").as("p"))
          }
          lab = truncate(lab.join(bcm(map), lab("label") === map("l"))
            .select(col("node"), col("p").as("label")))
        }
      }
      chosen.orderBy(ascf("w"), ascf("a"), ascf("b"))
    },
    Some {
      def round(r: Int): String = {
        val prev = s"lab${r - 1}"
        val jumps = (1 to mstJumps).map { j =>
          s"""m${r}_$j AS MATERIALIZED (SELECT m1.l, m2.p
             |  FROM m${r}_${j - 1} m1 JOIN m${r}_${j - 1} m2
             |  ON m1.p = m2.l)""".stripMargin
        }.mkString(",\n")
        s"""el$r AS (SELECT e.a, e.b, e.w, x.label AS la, y.label AS lb
           |  FROM e JOIN $prev x ON e.a = x.node
           |  JOIN $prev y ON e.b = y.node
           |  WHERE x.label <> y.label),
           |cand$r AS (SELECT la AS l, w, a, b, lb AS m FROM el$r
           |  UNION ALL SELECT lb AS l, w, a, b, la AS m FROM el$r),
           |pick$r AS MATERIALIZED (SELECT l, w, a, b, m FROM (
           |    SELECT l, w, a, b, m, row_number() OVER (PARTITION BY l
           |      ORDER BY w ASC, a ASC, b ASC) AS rn FROM cand$r)
           |  WHERE rn = 1),
           |p$r AS (SELECT x.l,
           |    CASE WHEN y.m = x.l AND x.l < x.m THEN x.l ELSE x.m END AS p
           |  FROM pick$r x LEFT JOIN pick$r y ON x.m = y.l),
           |m${r}_0 AS MATERIALIZED (SELECT d.l, coalesce(p$r.p, d.l) AS p
           |  FROM (SELECT DISTINCT label AS l FROM $prev) d
           |  LEFT JOIN p$r ON d.l = p$r.l),
           |$jumps,
           |lab$r AS MATERIALIZED (SELECT $prev.node, m${r}_$mstJumps.p AS label
           |  FROM $prev JOIN m${r}_$mstJumps ON $prev.label = m${r}_$mstJumps.l)"""
          .stripMargin
      }
      val unions = (1 to mstRounds)
        .map(r => s"SELECT DISTINCT a, b, w FROM pick$r")
        .mkString("\n  UNION ALL ")
      s"""WITH e AS MATERIALIZED (
         |  SELECT CAST(least(c.c_nationkey, s.s_nationkey) AS BIGINT) AS a,
         |    CAST(greatest(c.c_nationkey, s.s_nationkey) AS BIGINT) AS b,
         |    count(*) AS w
         |  FROM lineitem l
         |  JOIN orders o ON l.l_orderkey = o.o_orderkey
         |  JOIN customer c ON o.o_custkey = c.c_custkey
         |  JOIN supplier s ON l.l_suppkey = s.s_suppkey
         |  WHERE c.c_nationkey <> s.s_nationkey
         |  GROUP BY 1, 2),
         |lab0 AS (SELECT CAST(n_nationkey AS BIGINT) AS node,
         |    CAST(n_nationkey AS BIGINT) AS label FROM nation),
         |${(1 to mstRounds).map(round).mkString(",\n")}
         |SELECT a, b, w FROM (
         |  $unions)
         |ORDER BY w ASC NULLS FIRST, a ASC NULLS FIRST,
         |  b ASC NULLS FIRST""".stripMargin
    })

  /** Directed triangle motif census (round 7): over the directed top-3
    * trade graph, count FEED-FORWARD triangles (a→b, b→c, a→c — the
    * hierarchy/shortcut motif) vs CYCLIC triangles (a→b→c→a — the
    * circular-flow motif) — the motif decomposition network analysis
    * uses to characterize local structure beyond undirected triangle
    * counts (q_graph_triangles): a trade graph dominated by
    * feed-forward motifs is hierarchical, one rich in cycles is
    * circular.
    *
    * Scale: two 2-hop joins over the node²-bounded directed edge
    * relation (shuffled once, scoped persist); feed-forward triples
    * are role-unique (source/middle/sink) so they count directly,
    * while each 3-cycle appears once per rotation — canonicalized by
    * requiring the minimum node first (a < b AND a < c), which keeps
    * the two orientations of a cycle distinct, as they are.
    *
    * Determinism (D2): pure integer counting; share in e6 by floor
    * division with the zero-triangle case pinned.
    */
  private val motifs = QueryDef(
    "q_graph_motifs",
    (s, d) => {
      val li = Tables.lineitem(s, d).select(col("l_orderkey"), col("l_suppkey"))
      val o = Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey"))
      val c = Tables.customer(s, d).select(col("c_custkey"), col("c_nationkey"))
      val sup = Tables.supplier(s, d).select(col("s_suppkey"), col("s_nationkey"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("src")).orderBy(descl("w"), ascf("dst"))
      val e = graft.Caches.scoped(li
        .join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(c), col("o_custkey") === col("c_custkey"))
        .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
        .filter(col("c_nationkey") =!= col("s_nationkey"))
        .groupBy(col("c_nationkey").as("src"), col("s_nationkey").as("dst"))
        .agg(count(lit(1)).as("w"))
        .withColumn("rn", row_number().over(w)).filter(col("rn") <= 3)
        .select(col("src").cast("long").as("u"),
          col("dst").cast("long").as("v")))
      val ff = e.as("e1")
        .join(e.select(col("u").as("u2"), col("v").as("v2")),
          col("v") === col("u2"))
        .join(e.select(col("u").as("u3"), col("v").as("v3")),
          col("u") === col("u3") && col("v2") === col("v3"))
        .filter(col("u") =!= col("v2"))
        .agg(count(lit(1)).as("n_ff"))
      val cyc = e.as("c1")
        .join(e.select(col("u").as("u2"), col("v").as("v2")),
          col("v") === col("u2"))
        .join(e.select(col("u").as("u3"), col("v").as("v3")),
          col("v2") === col("u3") && col("v3") === col("u"))
        .filter(col("u") < col("v") && col("u") < col("v2"))
        .agg(count(lit(1)).as("n_cycle"))
      val ne = e.agg(count(lit(1)).as("n_edges"))
      ne.crossJoin(broadcast(ff)).crossJoin(broadcast(cyc))
        .select(col("n_edges"), col("n_ff"), col("n_cycle"),
          when(col("n_ff") + col("n_cycle") === 0, 0L)
            .otherwise(expr("(n_ff * 1000000) div (n_ff + n_cycle)"))
            .as("ff_share_e6"))
        .orderBy(ascf("n_edges"))
    },
    Some("""WITH e0 AS (
           |  SELECT c.c_nationkey AS src, s.s_nationkey AS dst,
           |    count(*) AS w
           |  FROM lineitem l
           |  JOIN orders o ON l.l_orderkey = o.o_orderkey
           |  JOIN customer c ON o.o_custkey = c.c_custkey
           |  JOIN supplier s ON l.l_suppkey = s.s_suppkey
           |  WHERE c.c_nationkey <> s.s_nationkey
           |  GROUP BY 1, 2),
           |e AS (SELECT CAST(src AS BIGINT) AS u, CAST(dst AS BIGINT) AS v
           |  FROM (SELECT src, dst, row_number() OVER (PARTITION BY src
           |      ORDER BY w DESC, dst ASC) AS rn FROM e0)
           |  WHERE rn <= 3),
           |ff AS (SELECT count(*) AS n_ff
           |  FROM e e1 JOIN e e2 ON e1.v = e2.u
           |  JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v
           |  WHERE e1.u <> e2.v),
           |cyc AS (SELECT count(*) AS n_cycle
           |  FROM e c1 JOIN e c2 ON c1.v = c2.u
           |  JOIN e c3 ON c3.u = c2.v AND c3.v = c1.u
           |  WHERE c1.u < c1.v AND c1.u < c2.v),
           |ne AS (SELECT count(*) AS n_edges FROM e)
           |SELECT CAST(ne.n_edges AS BIGINT) AS n_edges,
           |  CAST(ff.n_ff AS BIGINT) AS n_ff,
           |  CAST(cyc.n_cycle AS BIGINT) AS n_cycle,
           |  CAST(CASE WHEN ff.n_ff + cyc.n_cycle = 0 THEN 0
           |    ELSE (ff.n_ff * 1000000) // (ff.n_ff + cyc.n_cycle) END
           |    AS BIGINT) AS ff_share_e6
           |FROM ne CROSS JOIN ff CROSS JOIN cyc
           |ORDER BY n_edges ASC NULLS FIRST""".stripMargin))

  /** Eccentricity / radius / diameter census (round 7): per-node
    * longest shortest path over the trade graph, with the graph's
    * center (ecc = radius) and periphery (ecc = diameter) flagged —
    * the placement/latency-bound statistic (how far can a message
    * originating here have to travel). The all-pairs complement of
    * q_graph_bfs (one source) and q_graph_closeness (5 seeds, average
    * nearness): eccentricity is the worst case, so it needs every
    * pair.
    *
    * All-pairs distances by MIN-PLUS DOUBLING, not per-seed BFS: 3
    * rounds of dist ∪ (dist ⋈ dist) reach 2³ = 8 hops — O(log D)
    * rounds over the node²-bounded distance relation (625 rows here),
    * never the fact table. `statsTruncate` between rounds per the
    * q_graph_mst precedent (self-join loops compound size estimates
    * exponentially). Unreachable pairs simply never appear; ecc is
    * over the reachable set and n_reach exposes it.
    *
    * Determinism: pure integer hop counts; flags by equality against
    * the broadcast 1-row radius/diameter census.
    */
  private val eccentric = QueryDef(
    "q_graph_eccentric",
    (s, d) => {
      val und = undirectedTop3(s, d)
      val adj = und.select(col("a").as("u"), col("b").as("v"))
        .union(und.select(col("b").as("u"), col("a").as("v")))
      val nodes = Tables.nation(s, d)
        .select(col("n_nationkey").cast("long").as("node"))
      var dist = adj.select(col("u").as("a"), col("v").as("b"),
          lit(1L).as("dd"))
        .union(nodes.select(col("node").as("a"), col("node").as("b"),
          lit(0L).as("dd")))
      for (_ <- 1 to 3) {
        val comp = dist.as("x")
          .join(dist.select(col("a").as("a2"), col("b").as("b2"),
            col("dd").as("dd2")), col("b") === col("a2"))
          .select(col("a"), col("b2").as("b"),
            (col("dd") + col("dd2")).as("dd"))
        dist = graft.Dsl.statsTruncate(
          dist.union(comp).groupBy(col("a"), col("b"))
            .agg(min(col("dd")).as("dd")))
      }
      val ecc = dist.groupBy(col("a"))
        .agg(max(col("dd")).as("ecc"), count(lit(1)).as("n_reach"))
      val rd = ecc.agg(min(col("ecc")).as("radius"),
        max(col("ecc")).as("diameter"))
      ecc.crossJoin(broadcast(rd))
        .join(broadcast(Tables.nation(s, d)
          .select(col("n_nationkey").cast("long").as("nk"), col("n_name"))),
          col("a") === col("nk"))
        .select(col("n_name"), col("ecc"), col("n_reach"),
          (col("ecc") === col("radius")).cast("long").as("is_central"),
          (col("ecc") === col("diameter")).cast("long").as("is_peripheral"))
        .orderBy(ascf("n_name"))
    },
    Some {
      // every round referenced twice (x ⋈ y) — MATERIALIZED per the
      // q_ml_kmeans precedent, else DuckDB inlines each reference and
      // the corpus-scan CTE under d0 re-expands 2^rounds times
      def round(i: Int): String = {
        val p = s"d${i - 1}"
        s"""d$i AS MATERIALIZED (SELECT a, b, CAST(min(dd) AS BIGINT) AS dd
           |  FROM (
           |    SELECT a, b, dd FROM $p
           |    UNION ALL
           |    SELECT x.a, y.b, x.dd + y.dd
           |    FROM $p x JOIN $p y ON x.b = y.a)
           |  GROUP BY a, b)""".stripMargin
      }
      s"""WITH $UndSql,
         |adj AS (SELECT a AS u, b AS v FROM und
         |  UNION ALL SELECT b AS u, a AS v FROM und),
         |d0 AS MATERIALIZED (
         |  SELECT CAST(u AS BIGINT) AS a, CAST(v AS BIGINT) AS b,
         |    CAST(1 AS BIGINT) AS dd FROM adj
         |  UNION ALL
         |  SELECT CAST(n_nationkey AS BIGINT), CAST(n_nationkey AS BIGINT),
         |    CAST(0 AS BIGINT) FROM nation),
         |${round(1)},
         |${round(2)},
         |${round(3)},
         |ecc AS (SELECT a, max(dd) AS ecc, count(*) AS n_reach
         |  FROM d3 GROUP BY a),
         |rd AS (SELECT min(ecc) AS radius, max(ecc) AS diameter FROM ecc)
         |SELECT n.n_name, CAST(ecc.ecc AS BIGINT) AS ecc,
         |  CAST(ecc.n_reach AS BIGINT) AS n_reach,
         |  CAST(CASE WHEN ecc.ecc = rd.radius THEN 1 ELSE 0 END AS BIGINT)
         |    AS is_central,
         |  CAST(CASE WHEN ecc.ecc = rd.diameter THEN 1 ELSE 0 END AS BIGINT)
         |    AS is_peripheral
         |FROM ecc CROSS JOIN rd
         |JOIN nation n ON ecc.a = n.n_nationkey
         |ORDER BY n.n_name ASC NULLS FIRST""".stripMargin
    })

  /** Per-EDGE triangle-support census — the k-truss first peel
    * (round 7): for every undirected trade edge {a,b}, support =
    * |N(a) ∩ N(b)| (triangles through the edge), bucketed into a
    * support histogram with an id checksum. q_graph_triangles counts
    * per NODE and q_graph_clustering normalizes per node; truss
    * decomposition is the EDGE-grain refinement — community cores are
    * defined by edges with support ≥ k−2, and "support 0" edges are
    * exactly the bridges no triangle reinforces. The histogram is the
    * peel schedule: bucket < 2 is what the 4-truss peel would remove
    * first.
    *
    * Scale: support is the canonical edge-support join — edge {a,b}
    * joins the both-direction adjacency on each endpoint with the
    * common-neighbor equality, so candidates are Σ_{(a,b)} d(a)·d(b),
    * bounded linear-in-edges under the top-3 degree cap (and at fleet
    * scale by the standard degree-ordered orientation). One shuffle on
    * the session-shared [[undirectedTop3]] relation; the census is
    * edge-grain.
    *
    * Determinism: pure integer counting; zero-support edges kept via
    * left join + coalesce; checksum Σ(31a + b) is support-bucket
    * invariant under any join order.
    */
  private val truss = QueryDef(
    "q_graph_truss",
    (s, d) => {
      val und = undirectedTop3(s, d)
      val adj = und.select(col("a").as("u"), col("b").as("v"))
        .union(und.select(col("b").as("u"), col("a").as("v")))
      val sup = und.as("e")
        .join(adj.select(col("u").as("u1"), col("v").as("w1")),
          col("u1") === col("e.a"))
        .join(adj.select(col("u").as("u2"), col("v").as("w2")),
          col("u2") === col("e.b") && col("w2") === col("w1"))
        .groupBy(col("e.a").as("sa"), col("e.b").as("sb"))
        .agg(count(lit(1)).as("s"))
      und
        .join(sup, col("a") === col("sa") && col("b") === col("sb"), "left")
        .select(col("a"), col("b"),
          coalesce(col("s"), lit(0L)).as("support"))
        .groupBy(col("support"))
        .agg(count(lit(1)).as("n_edges"),
          sum(col("a") * 31 + col("b")).as("ab_checksum"))
        .orderBy(ascf("support"))
    },
    Some(s"""WITH $UndSql,
           |adj AS (SELECT a AS u, b AS v FROM und
           |  UNION ALL SELECT b, a FROM und),
           |sup AS (SELECT e.a, e.b, CAST(count(*) AS BIGINT) AS s
           |  FROM und e
           |  JOIN adj n1 ON n1.u = e.a
           |  JOIN adj n2 ON n2.u = e.b AND n2.v = n1.v
           |  GROUP BY e.a, e.b),
           |es AS (SELECT und.a, und.b,
           |    CAST(coalesce(sup.s, 0) AS BIGINT) AS support
           |  FROM und LEFT JOIN sup ON sup.a = und.a AND sup.b = und.b)
           |SELECT support, CAST(count(*) AS BIGINT) AS n_edges,
           |  CAST(sum(a * 31 + b) AS BIGINT) AS ab_checksum
           |FROM es GROUP BY support
           |ORDER BY support ASC NULLS FIRST""".stripMargin))

  /** Newman modularity of the REGION partition over the trade graph
    * (round 7): Q = Σ_c (e_c/m − (d_c/2m)²) — "does the region
    * grouping explain the trade edges better than a degree-preserving
    * random graph would". The evaluation half of community detection
    * (q_graph_label_prop finds communities; modularity SCORES a
    * partition), and with regions as the candidate partition it is the
    * geography-vs-trade question directly. Per-region contributions are
    * graded alongside the global Q, so a region that trades mostly
    * outside itself shows its negative term explicitly.
    *
    * Scale: degrees re-aggregate the session-shared edge relation;
    * the within-community edge count is one broadcast-mapped pass over
    * edges; the census is community-grain (5 rows). All statistics are
    * closed-form on (e_c, d_c, m).
    *
    * Determinism: Q·4m² is exact int64 (t_c = 4·m·e_c − d_c²);
    * contributions and Q floor to e6 by integer division, truncation
    * toward zero identical in both engines; isolated nations carry
    * d = 0 via left join + coalesce.
    */
  private val modularity = QueryDef(
    "q_graph_modularity",
    (s, d) => {
      val und = undirectedTop3(s, d)
      val nodeC = Tables.nation(s, d)
        .select(col("n_nationkey").as("nk"), col("n_regionkey").as("rk"))
        .join(broadcast(Tables.region(s, d)
          .select(col("r_regionkey"), col("r_name"))),
          col("rk") === col("r_regionkey"))
        .select(col("nk"), col("r_name"))
      val m = und.agg(count(lit(1)).as("m"))
      val deg = und.select(col("a").as("v"))
        .union(und.select(col("b").as("v")))
        .groupBy(col("v")).agg(count(lit(1)).as("deg"))
      val dcs = nodeC.join(deg, col("nk") === col("v"), "left")
        .groupBy(col("r_name"))
        .agg(count(lit(1)).as("n_nations"),
          sum(coalesce(col("deg"), lit(0L))).as("deg_sum"))
      val ein = und
        .join(broadcast(nodeC.select(col("nk").as("na"),
          col("r_name").as("ra"))), col("a") === col("na"))
        .join(broadcast(nodeC.select(col("nk").as("nb"),
          col("r_name").as("rb"))), col("b") === col("nb"))
        .filter(col("ra") === col("rb"))
        .groupBy(col("ra")).agg(count(lit(1)).as("e_within"))
      dcs
        .join(ein, col("r_name") === col("ra"), "left")
        .select(col("r_name"), col("n_nations"), col("deg_sum"),
          coalesce(col("e_within"), lit(0L)).as("e_within"))
        .crossJoin(broadcast(m))
        // 4·m·e_within, deg_sum² and 4·m² all cross int64 once the
        // graph holds ~1.5e9 edges — the whole t_c algebra stages
        // through DECIMAL(38,0); div truncates toward zero identically
        // on both engines for the (possibly negative) numerator
        .withColumn("t_c",
          expr("cast(m as decimal(38,0)) * 4 * e_within" +
            " - cast(deg_sum as decimal(38,0)) * deg_sum"))
        .select(col("r_name"), col("n_nations"), col("deg_sum"),
          col("e_within"),
          expr("cast(t_c * 1000000 div (cast(m as decimal(38,0)) * m * 4)" +
            " as bigint)").as("contrib_e6"),
          expr("cast(sum(t_c) over () * 1000000" +
            " div (cast(m as decimal(38,0)) * m * 4) as bigint)")
            .as("q_e6"))
        .orderBy(ascf("r_name"))
    },
    Some(s"""WITH $UndSql,
           |nodec AS (SELECT n.n_nationkey AS nk, r.r_name
           |  FROM nation n JOIN region r ON n.n_regionkey = r.r_regionkey),
           |m AS (SELECT CAST(count(*) AS BIGINT) AS m FROM und),
           |deg AS (SELECT v, CAST(count(*) AS BIGINT) AS deg FROM (
           |    SELECT a AS v FROM und UNION ALL SELECT b FROM und)
           |  GROUP BY v),
           |dcs AS (SELECT nodec.r_name,
           |    CAST(count(*) AS BIGINT) AS n_nations,
           |    CAST(sum(coalesce(deg.deg, 0)) AS BIGINT) AS deg_sum
           |  FROM nodec LEFT JOIN deg ON nodec.nk = deg.v
           |  GROUP BY nodec.r_name),
           |ein AS (SELECT ca.r_name AS ra, CAST(count(*) AS BIGINT)
           |      AS e_within
           |  FROM und
           |  JOIN nodec ca ON und.a = ca.nk
           |  JOIN nodec cb ON und.b = cb.nk
           |  WHERE ca.r_name = cb.r_name
           |  GROUP BY ca.r_name),
           |base AS (SELECT dcs.r_name, dcs.n_nations, dcs.deg_sum,
           |    CAST(coalesce(ein.e_within, 0) AS BIGINT) AS e_within,
           |    m.m,
           |    4 * CAST(m.m AS HUGEINT)
           |        * CAST(coalesce(ein.e_within, 0) AS BIGINT)
           |      - CAST(dcs.deg_sum AS HUGEINT) * dcs.deg_sum AS t_c
           |  FROM dcs LEFT JOIN ein ON dcs.r_name = ein.ra CROSS JOIN m)
           |SELECT r_name, n_nations, deg_sum, e_within,
           |  CAST((t_c * 1000000) // (4 * CAST(m AS HUGEINT) * m)
           |    AS BIGINT) AS contrib_e6,
           |  CAST((sum(t_c) OVER () * 1000000)
           |      // (4 * CAST(m AS HUGEINT) * m) AS BIGINT)
           |    AS q_e6
           |FROM base ORDER BY r_name ASC NULLS FIRST""".stripMargin))

  /** Exact betweenness centrality (round 7): for every nation, the
    * summed pair dependency Σ_{s<t} σ_sv·σ_vt/σ_st over unordered
    * reachable pairs with d(s,v)+d(v,t) = d(s,t) — the "who sits on
    * the shortest paths" broker statistic, the one centrality the
    * family still lacked (degree = local mass ✓, closeness = distance
    * ✓, eccentricity = worst case ✓, pagerank/HITS = flow ✓;
    * betweenness = MEDIATION: a node can be peripheral by all four
    * and still be the single bridge every path crosses).
    *
    * Algorithm: level-synchronous BFS from ALL sources at once carrying
    * shortest-path COUNTS — 8 unrolled rounds of frontier ⋈ adjacency
    * with a Σσ merge and an anti-join against the settled set (8 ≥ the
    * graph's diameter by the q_graph_eccentric measurement, and a
    * fixture-regeneration-proof bound: the top-3-sparsified nation
    * graph is node²-capped at 625 pair rows). Dependencies then need NO
    * Brandes back-propagation: the midpoint identity (paths through v =
    * σ_sv·σ_vt exactly when distances add) turns accumulation into two
    * joins of the pair relation against itself — the join-algebra form,
    * ≤ nodes³ rows, all shuffle-free at this grain.
    *
    * Scale: every round's frontier is node²-bounded; statsTruncate per
    * round (the q_graph_mst estimate-blowup lesson). At fleet scale
    * exact all-pairs betweenness is O(V·E) by nature — the standard
    * answer is pivot SAMPLING (run the same plan from k hash-chosen
    * sources), which changes only the d0 seed filter.
    *
    * Determinism: pure integer σ counting; per-pair dependency
    * quantizes as σσ·1e6 div σ_st (all non-negative, trunc ≡ floor,
    * identical both engines) and SUMS exactly; zero-betweenness
    * nations kept by left join (D1 total order on names).
    */
  private val betweenness = QueryDef(
    "q_graph_betweenness",
    (s, d) => {
      val und = undirectedTop3(s, d)
      val adj = und.select(col("a").as("u"), col("b").as("v"))
        .union(und.select(col("b").as("u"), col("a").as("v")))
      val nodes = Tables.nation(s, d)
        .select(col("n_nationkey").cast("long").as("node"))
      var bfs = nodes.select(col("node").as("s"), col("node").as("t"),
        lit(0L).as("dd"), lit(1L).as("sig"))
      for (r <- 1 to 8) {
        val nxt = bfs.filter(col("dd") === (r - 1))
          .join(adj, col("t") === col("u"))
          .groupBy(col("s"), col("v"))
          .agg(sum(col("sig")).as("sig"))
          .join(bfs.select(col("s").as("ps"), col("t").as("pt")),
            col("s") === col("ps") && col("v") === col("pt"), "left_anti")
          .select(col("s"), col("v").as("t"), lit(r.toLong).as("dd"),
            col("sig"))
        bfs = graft.Dsl.statsTruncate(bfs.union(nxt))
      }
      val st = bfs.filter(col("dd") >= 1 && col("s") < col("t"))
        .select(col("s").as("ss"), col("t").as("tt"),
          col("dd").as("dst"), col("sig").as("sst"))
      val sv = bfs.select(col("s").as("s1"), col("t").as("v1"),
        col("dd").as("d1"), col("sig").as("g1"))
      val vt = bfs.select(col("s").as("v2"), col("t").as("t2"),
        col("dd").as("d2"), col("sig").as("g2"))
      val dep = st
        .join(sv, col("s1") === col("ss"))
        .join(vt, col("v2") === col("v1") && col("t2") === col("tt"))
        .filter(col("d1") + col("d2") === col("dst") &&
          col("v1") =!= col("ss") && col("v1") =!= col("tt"))
        .groupBy(col("v1").as("node"))
        .agg(sum(expr("g1 * g2 * 1000000 div sst")).as("bc"),
          count(lit(1)).as("np"))
      Tables.nation(s, d)
        .select(col("n_nationkey").cast("long").as("nk"), col("n_name"))
        .join(dep, col("nk") === col("node"), "left")
        .select(col("n_name"),
          coalesce(col("bc"), lit(0L)).as("bc_e6"),
          coalesce(col("np"), lit(0L)).as("n_pairs"))
        .orderBy(ascf("n_name"))
    },
    Some {
      def round(i: Int): String = {
        val p = s"b${i - 1}"
        s"""b$i AS MATERIALIZED (
           |  SELECT s, t, dd, sig FROM $p
           |  UNION ALL
           |  SELECT f.s, a.v AS t, CAST($i AS BIGINT) AS dd,
           |    CAST(sum(f.sig) AS BIGINT) AS sig
           |  FROM $p f JOIN adj a ON f.t = a.u
           |  WHERE f.dd = ${i - 1}
           |    AND NOT EXISTS (SELECT 1 FROM $p p2
           |      WHERE p2.s = f.s AND p2.t = a.v)
           |  GROUP BY f.s, a.v)""".stripMargin
      }
      s"""WITH $UndSql,
         |adj AS (SELECT CAST(a AS BIGINT) AS u, CAST(b AS BIGINT) AS v
         |  FROM und
         |  UNION ALL SELECT CAST(b AS BIGINT), CAST(a AS BIGINT) FROM und),
         |b0 AS MATERIALIZED (SELECT CAST(n_nationkey AS BIGINT) AS s,
         |    CAST(n_nationkey AS BIGINT) AS t, CAST(0 AS BIGINT) AS dd,
         |    CAST(1 AS BIGINT) AS sig FROM nation),
         |${(1 to 8).map(round).mkString(",\n")},
         |st AS (SELECT s AS ss, t AS tt, dd AS dst, sig AS sst
         |  FROM b8 WHERE dd >= 1 AND s < t),
         |dep AS (SELECT sv.t AS node,
         |    CAST(sum(sv.sig * vt.sig * 1000000 // st.sst) AS BIGINT) AS bc,
         |    CAST(count(*) AS BIGINT) AS np
         |  FROM st
         |  JOIN b8 sv ON sv.s = st.ss
         |  JOIN b8 vt ON vt.s = sv.t AND vt.t = st.tt
         |  WHERE sv.dd + vt.dd = st.dst
         |    AND sv.t <> st.ss AND sv.t <> st.tt
         |  GROUP BY sv.t)
         |SELECT n.n_name, CAST(coalesce(dep.bc, 0) AS BIGINT) AS bc_e6,
         |  CAST(coalesce(dep.np, 0) AS BIGINT) AS n_pairs
         |FROM nation n LEFT JOIN dep ON n.n_nationkey = dep.node
         |ORDER BY n.n_name ASC NULLS FIRST""".stripMargin
    })

  /** Two-hop transition structure P² over the directed weighted trade
    * graph (round 7): one step of transition-matrix squaring — the
    * building block of personalized PageRank, node2vec context
    * distributions, and diffusion features (pagerank iterates P from a
    * uniform start; P² answers the LOCAL question "where does a walk
    * FROM s stand after two steps", including mass returning to s).
    * Per source: reachable-in-2 count, total quantized two-hop mass
    * (≤ 1e6; the shortfall IS the visible quantization loss, graded),
    * and the argmax destination with its probability.
    *
    * Scale: the fact table collapses to ≤ nations² edges once (the
    * pagerank/HITS shape); the squaring join and all windows run on
    * that node²-bounded relation. k-step features = repeat the same
    * join — cost per step is edge-relation-sized, never corpus-sized.
    *
    * Determinism: p_e6 = w·1e6 div outw exact trunc; two-hop
    * numerators Σ p·p ≤ 25·10¹² int64; argmax tiebreak smallest
    * destination key; mass div 1e6 trunc-identical (D1 name order).
    */
  private val walk2 = QueryDef(
    "q_graph_walk2",
    (s, d) => {
      val li = Tables.lineitem(s, d).select(col("l_orderkey"), col("l_suppkey"))
      val o = Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey"))
      val c = Tables.customer(s, d).select(col("c_custkey"), col("c_nationkey"))
      val sup = Tables.supplier(s, d).select(col("s_suppkey"), col("s_nationkey"))
      val edges = li
        .join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(c), col("o_custkey") === col("c_custkey"))
        .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
        .groupBy(col("c_nationkey").cast("long").as("src"),
          col("s_nationkey").cast("long").as("dst"))
        .agg(count(lit(1)).as("w"))
      val outw = edges.groupBy(col("src").as("src2"))
        .agg(sum(col("w")).as("ow"))
      val p = graft.Caches.scoped(edges
        .join(outw, col("src") === col("src2"))
        .select(col("src"), col("dst"),
          expr("w * 1000000L div ow").as("p")))
      val two = p.alias("a").join(p.alias("b"), col("a.dst") === col("b.src"))
        .groupBy(col("a.src").as("s"), col("b.dst").as("t"))
        .agg(sum(col("a.p") * col("b.p")).as("n2"))
      val w2 = org.apache.spark.sql.expressions.Window.partitionBy(col("s"))
      val per = two.withColumn("mx", max(col("n2")).over(w2))
        .groupBy(col("s"))
        .agg(count(lit(1)).as("n_two_hop"),
          expr("cast(sum(n2) div 1000000L as bigint)").as("mass_e6"),
          min(when(col("n2") === col("mx"), col("t"))).as("top_t"),
          expr("cast(min(mx) div 1000000L as bigint)").as("top_p2_e6"))
      val names = Tables.nation(s, d)
        .select(col("n_nationkey").cast("long").as("nk"), col("n_name"))
      names.join(per, col("nk") === col("s"), "left")
        .join(broadcast(names.select(col("nk").as("nk2"),
          col("n_name").as("top_name"))), col("top_t") === col("nk2"), "left")
        .select(col("n_name"),
          coalesce(col("n_two_hop"), lit(0L)).as("n_two_hop"),
          coalesce(col("mass_e6"), lit(0L)).as("mass_e6"),
          coalesce(col("top_name"), lit("-")).as("top_name"),
          coalesce(col("top_p2_e6"), lit(0L)).as("top_p2_e6"))
        .orderBy(ascf("n_name"))
    },
    Some("""WITH edges AS (
           |  SELECT CAST(c.c_nationkey AS BIGINT) AS src,
           |    CAST(s.s_nationkey AS BIGINT) AS dst,
           |    CAST(count(*) AS BIGINT) AS w
           |  FROM lineitem l
           |  JOIN orders o ON l.l_orderkey = o.o_orderkey
           |  JOIN customer c ON o.o_custkey = c.c_custkey
           |  JOIN supplier s ON l.l_suppkey = s.s_suppkey
           |  GROUP BY 1, 2),
           |ow AS (SELECT src AS src2, CAST(sum(w) AS BIGINT) AS ow
           |  FROM edges GROUP BY 1),
           |p AS MATERIALIZED (SELECT src, dst,
           |    CAST(w * 1000000 // ow AS BIGINT) AS p
           |  FROM edges JOIN ow ON src = src2),
           |two AS (SELECT a.src AS s, b.dst AS t,
           |    CAST(sum(a.p * b.p) AS BIGINT) AS n2
           |  FROM p a JOIN p b ON a.dst = b.src GROUP BY 1, 2),
           |mx AS (SELECT *, max(n2) OVER (PARTITION BY s) AS mx FROM two),
           |per AS (SELECT s, CAST(count(*) AS BIGINT) AS n_two_hop,
           |    CAST(sum(n2) // 1000000 AS BIGINT) AS mass_e6,
           |    min(CASE WHEN n2 = mx THEN t END) AS top_t,
           |    CAST(min(mx) // 1000000 AS BIGINT) AS top_p2_e6
           |  FROM mx GROUP BY s)
           |SELECT n.n_name,
           |  coalesce(per.n_two_hop, 0) AS n_two_hop,
           |  coalesce(per.mass_e6, 0) AS mass_e6,
           |  coalesce(n2n.n_name, '-') AS top_name,
           |  coalesce(per.top_p2_e6, 0) AS top_p2_e6
           |FROM nation n
           |LEFT JOIN per ON n.n_nationkey = per.s
           |LEFT JOIN nation n2n ON per.top_t = n2n.n_nationkey
           |ORDER BY n.n_name ASC NULLS FIRST""".stripMargin))

  /** Greedy bipartite maximal matching (round 7): supplier↔part
    * assignment over the weighted lineitem incidence graph via K = 4
    * propose-accept rounds — the distributed-native matching recipe
    * (each unmatched supplier proposes to its heaviest available part;
    * each part accepts its heaviest proposer; matched endpoints retire).
    * This is the combinatorial-OPTIMIZATION tier the graph family
    * lacked: components/pagerank/k-core DESCRIBE structure, matching
    * ALLOCATES under exclusivity — the assignment primitive behind
    * task↔worker placement, ad↔slot allocation, and entity
    * reconciliation. Greedy propose-accept gives a maximal (not
    * maximum) matching with the 1/2-approximation guarantee; K rounds
    * of it are exactly gradeable.
    *
    * Scale: each round is two windowed argmaxes over the AVAILABLE edge
    * relation (per-supplier, then per-part — both shuffle edge-sized,
    * shrinking every round) plus two anti-joins against the matched
    * set; the matched relation is vertex-bounded and statsTruncate'd
    * per round (the q_graph_mst lineage story). No round ever touches
    * more than the live edges.
    *
    * Determinism: pure-integer weights (edge multiplicity); every
    * argmax carries a total tiebreak (w DESC, key ASC); the oracle
    * unrolls the identical 4 rounds as MATERIALIZED CTE pairs.
    */
  private val matching = QueryDef(
    "q_graph_matching",
    (s, d) => {
      val edges = graft.Caches.scoped(Tables.lineitem(s, d)
        .groupBy(col("l_suppkey").as("s"), col("l_partkey").as("p"))
        .agg(count(lit(1)).as("w")))
      var matched = edges.filter(lit(false))
      for (_ <- 1 to 4) {
        val avail = edges
          .join(matched.select(col("s")), Seq("s"), "left_anti")
          .join(matched.select(col("p")), Seq("p"), "left_anti")
        val prop = avail.withColumn("rn", row_number().over(Window
            .partitionBy(col("s")).orderBy(descl("w"), ascf("p"))))
          .filter(col("rn") === 1).drop("rn")
        val acc = prop.withColumn("rn", row_number().over(Window
            .partitionBy(col("p")).orderBy(descl("w"), ascf("s"))))
          .filter(col("rn") === 1).drop("rn")
        matched = graft.Dsl.statsTruncate(
          matched.unionByName(acc.select(col("s"), col("p"), col("w"))))
      }
      Tables.supplier(s, d)
        .join(broadcast(Tables.nation(s, d)
          .select(col("n_nationkey"), col("n_name"))),
          col("s_nationkey") === col("n_nationkey"))
        .join(matched, col("s_suppkey") === col("s"), "left")
        .groupBy(col("n_name"))
        .agg(count(lit(1)).as("n_suppliers"),
          sum(when(col("p").isNotNull, 1L).otherwise(0L)).as("n_matched"),
          coalesce(sum(col("w")), lit(0L)).as("matched_weight"))
        .orderBy(ascf("n_name"))
    },
    Some {
      val rounds = (1 to 4).map { k =>
        val prev = s"m${k - 1}"
        s"""a$k AS (SELECT e.s, e.p, e.w FROM e
           |  WHERE e.s NOT IN (SELECT s FROM $prev)
           |    AND e.p NOT IN (SELECT p FROM $prev)),
           |pr$k AS (SELECT s, p, w FROM (SELECT a$k.*, row_number() OVER (
           |    PARTITION BY s ORDER BY w DESC, p ASC) AS rn FROM a$k)
           |  WHERE rn = 1),
           |ac$k AS MATERIALIZED (SELECT s, p, w FROM (
           |    SELECT pr$k.*, row_number() OVER (
           |      PARTITION BY p ORDER BY w DESC, s ASC) AS rn FROM pr$k)
           |  WHERE rn = 1),
           |m$k AS MATERIALIZED (SELECT s, p, w FROM $prev
           |  UNION ALL SELECT s, p, w FROM ac$k)""".stripMargin
      }.mkString(",\n")
      s"""WITH e AS (SELECT CAST(l_suppkey AS BIGINT) AS s,
         |    CAST(l_partkey AS BIGINT) AS p,
         |    CAST(count(*) AS BIGINT) AS w
         |  FROM lineitem GROUP BY 1, 2),
         |m0 AS (SELECT s, p, w FROM e WHERE false),
         |$rounds
         |SELECT n.n_name AS n_name,
         |  CAST(count(*) AS BIGINT) AS n_suppliers,
         |  CAST(sum(CASE WHEN m4.p IS NOT NULL THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_matched,
         |  CAST(coalesce(sum(m4.w), 0) AS BIGINT) AS matched_weight
         |FROM supplier su
         |JOIN nation n ON su.s_nationkey = n.n_nationkey
         |LEFT JOIN m4 ON su.s_suppkey = m4.s
         |GROUP BY n.n_name
         |ORDER BY n_name ASC NULLS FIRST""".stripMargin
    })

  /** Greedy graph coloring via independent-set rounds (round 7): the
    * conflict-free SCHEDULING primitive — nodes sharing an edge must
    * not share a color (maintenance slots for co-dependent services,
    * wavelengths, exam timetables). Four Luby-style rounds over the
    * shared trade graph: in round r, an uncolored node takes color r
    * iff it beats every uncolored neighbor under the static priority
    * (degree DESC, id ASC) — beats is a total order, so each round's
    * winner set is independent BY CONSTRUCTION and the result is a
    * proper partial coloring; greedy-largest-degree-first is the
    * classic Welsh–Powell order, distributed. q_graph_matching
    * allocates EDGES under exclusivity; this allocates NODE SLOTS
    * under adjacency — the two canonical combinatorial allocation
    * primitives.
    *
    * Scale: each round is one join of the symmetric edge relation
    * against the uncolored set plus an anti-join — edge-relation-sized
    * work on a relation that SHRINKS as nodes color; the per-node
    * priority is computed once. Isolated nodes (no edges) win round 1
    * trivially — graded, not special-cased.
    *
    * Determinism: pure integer priorities with total tiebreak; census
    * per color with id checksums; the oracle unrolls the identical 4
    * rounds.
    */
  private val coloring = QueryDef(
    "q_graph_coloring",
    (s, d) => {
      val und = undirectedTop3(s, d)
      val sym = und.select(col("a").as("v"), col("b").as("u"))
        .unionByName(und.select(col("b").as("v"), col("a").as("u")))
      val nodes = Tables.nation(s, d)
        .select(col("n_nationkey").cast("long").as("v"))
      val deg = graft.Caches.scoped(nodes
        .join(sym.groupBy(col("v")).agg(count(lit(1)).as("dv")),
          Seq("v"), "left")
        .select(col("v"), coalesce(col("dv"), lit(0L)).as("dv")))
      var colored = deg.select(col("v"), lit(0L).as("color")).filter(lit(false))
      for (r <- 1 to 4) {
        val unc = deg.join(colored.select(col("v")), Seq("v"), "left_anti")
        val nbr = unc.select(col("v").as("u"), col("dv").as("du"))
        val losers = sym.join(unc, Seq("v")).join(nbr, Seq("u"))
          .filter(col("du") > col("dv") ||
            (col("du") === col("dv") && col("u") < col("v")))
          .select(col("v")).distinct()
        val winners = unc.join(losers, Seq("v"), "left_anti")
          .select(col("v"), lit(r.toLong).as("color"))
        colored = graft.Dsl.statsTruncate(colored.unionByName(winners))
      }
      deg.join(colored, Seq("v"), "left")
        .select(col("v"), coalesce(col("color"), lit(0L)).as("color"))
        .groupBy(col("color"))
        .agg(count(lit(1)).as("n_nodes"), sum(col("v")).as("id_sum"),
          min(col("v")).as("min_id"), max(col("v")).as("max_id"))
        .orderBy(ascf("color"))
    },
    Some {
      val rounds = (1 to 4).map { r =>
        val prev = s"c${r - 1}"
        s"""un$r AS (SELECT deg.v, deg.dv FROM deg
           |  WHERE deg.v NOT IN (SELECT v FROM $prev)),
           |lo$r AS (SELECT DISTINCT a.v FROM sym
           |  JOIN un$r a ON sym.v = a.v
           |  JOIN un$r b ON sym.u = b.v
           |  WHERE b.dv > a.dv OR (b.dv = a.dv AND b.v < a.v)),
           |w$r AS MATERIALIZED (SELECT v, CAST($r AS BIGINT) AS color
           |  FROM un$r WHERE v NOT IN (SELECT v FROM lo$r)),
           |c$r AS MATERIALIZED (SELECT v, color FROM $prev
           |  UNION ALL SELECT v, color FROM w$r)""".stripMargin
      }.mkString(",\n")
      s"""WITH $UndSql,
         |sym AS (SELECT a AS v, b AS u FROM und
         |  UNION ALL SELECT b AS v, a AS u FROM und),
         |deg AS (SELECT CAST(n.n_nationkey AS BIGINT) AS v,
         |    CAST(coalesce(dc.c, 0) AS BIGINT) AS dv
         |  FROM nation n LEFT JOIN (SELECT v, count(*) AS c FROM sym
         |    GROUP BY v) dc ON n.n_nationkey = dc.v),
         |c0 AS (SELECT CAST(NULL AS BIGINT) AS v,
         |    CAST(NULL AS BIGINT) AS color WHERE false),
         |$rounds
         |SELECT coalesce(c4.color, 0) AS color,
         |  CAST(count(*) AS BIGINT) AS n_nodes,
         |  CAST(sum(deg.v) AS BIGINT) AS id_sum,
         |  CAST(min(deg.v) AS BIGINT) AS min_id,
         |  CAST(max(deg.v) AS BIGINT) AS max_id
         |FROM deg LEFT JOIN c4 ON deg.v = c4.v
         |GROUP BY 1
         |ORDER BY color ASC NULLS FIRST""".stripMargin
    })

  /** 2-approximate vertex cover via locally-dominant edges (round 7):
    * the classic approximation-algorithm pairing with q_graph_matching
    * (bipartite propose-accept) and q_graph_coloring (independent
    * sets) — a maximal matching's ENDPOINTS form a vertex cover at
    * most 2× optimal (every cover must hit each matched edge at least
    * once), and the distributed maximal matching on a GENERAL graph
    * uses locally-dominant edges: in each round an edge joins iff it
    * is the minimum (a, b)-lexicographic live edge at BOTH endpoints
    * (mutual minima cannot conflict, so each round's picks are a
    * matching by construction). Graded census: matched edges, cover
    * size, the cover id checksum, and n_uncovered_edges — the
    * maximality readout (0 ⇔ the matching is maximal ⇔ the cover is
    * valid).
    *
    * Scale: per round, one incidence expansion (2 rows per live edge),
    * one per-node windowed argmin, one self-join of the rank-1 rows —
    * all edge-relation-sized on a relation that shrinks as endpoints
    * get covered; K = 4 rounds reach maximality on any
    * bounded-diameter sparse graph (asserted by the graded
    * n_uncovered_edges = 0 at every SF).
    *
    * Determinism: (a, b)-lexicographic edge priority is total; pure
    * integer census.
    */
  private val vertexCover = QueryDef(
    "q_graph_vertex_cover",
    (s, d) => {
      val und = graft.Caches.scoped(undirectedTop3(s, d)
        .select(col("a").cast("long").as("a"),
          col("b").cast("long").as("b")))
      var cover = und.select(col("a").as("v")).filter(lit(false))
      for (_ <- 1 to 4) {
        val live = und
          .join(cover.select(col("v").as("a")), Seq("a"), "left_anti")
          .join(cover.select(col("v").as("b")), Seq("b"), "left_anti")
        val inc = live.select(col("a").as("node"), col("a"), col("b"))
          .unionByName(live.select(col("b").as("node"), col("a"), col("b")))
        val top = inc.withColumn("rn", row_number().over(Window
            .partitionBy(col("node")).orderBy(ascf("a"), ascf("b"))))
          .filter(col("rn") === 1)
          .select(col("node"), col("a"), col("b"))
        val dominant = top.groupBy(col("a"), col("b"))
          .agg(count(lit(1)).as("nends"))
          .filter(col("nends") === 2)
        cover = graft.Dsl.statsTruncate(cover
          .unionByName(dominant.select(col("a").as("v")))
          .unionByName(dominant.select(col("b").as("v"))))
      }
      val cv = cover.distinct()
      val uncovered = und
        .join(cv.select(col("v").as("a")), Seq("a"), "left_anti")
        .join(cv.select(col("v").as("b")), Seq("b"), "left_anti")
      und.agg(count(lit(1)).as("n_edges"))
        .crossJoin(cv.agg(count(lit(1)).as("cover_size"),
          coalesce(sum(col("v")), lit(0L)).as("cover_checksum")))
        .crossJoin(uncovered.agg(count(lit(1)).as("n_uncovered_edges")))
        .select(col("n_edges"),
          expr("cover_size div 2").as("n_matched"),
          col("cover_size"), col("cover_checksum"),
          col("n_uncovered_edges"))
        .orderBy(ascf("n_edges"))
    },
    Some {
      val rounds = (1 to 4).map { k =>
        val prev = s"c${k - 1}"
        s"""lv$k AS (SELECT u.a, u.b FROM ud u
           |  WHERE u.a NOT IN (SELECT v FROM $prev)
           |    AND u.b NOT IN (SELECT v FROM $prev)),
           |tp$k AS (SELECT node, a, b FROM (
           |    SELECT node, a, b, row_number() OVER (
           |      PARTITION BY node ORDER BY a ASC, b ASC) AS rn
           |    FROM (SELECT a AS node, a, b FROM lv$k
           |          UNION ALL SELECT b AS node, a, b FROM lv$k))
           |  WHERE rn = 1),
           |dm$k AS MATERIALIZED (SELECT a, b FROM tp$k
           |  GROUP BY a, b HAVING count(*) = 2),
           |c$k AS MATERIALIZED (SELECT v FROM $prev
           |  UNION ALL SELECT a AS v FROM dm$k
           |  UNION ALL SELECT b AS v FROM dm$k)""".stripMargin
      }.mkString(",\n")
      s"""WITH $UndSql,
         |ud AS (SELECT CAST(a AS BIGINT) AS a, CAST(b AS BIGINT) AS b
         |  FROM und),
         |c0 AS (SELECT CAST(NULL AS BIGINT) AS v WHERE false),
         |$rounds,
         |cv AS (SELECT DISTINCT v FROM c4),
         |unc AS (SELECT count(*) AS n FROM ud
         |  WHERE a NOT IN (SELECT v FROM cv)
         |    AND b NOT IN (SELECT v FROM cv))
         |SELECT CAST((SELECT count(*) FROM ud) AS BIGINT) AS n_edges,
         |  CAST((SELECT count(*) FROM cv) // 2 AS BIGINT) AS n_matched,
         |  CAST((SELECT count(*) FROM cv) AS BIGINT) AS cover_size,
         |  CAST((SELECT coalesce(sum(v), 0) FROM cv) AS BIGINT)
         |    AS cover_checksum,
         |  CAST((SELECT n FROM unc) AS BIGINT) AS n_uncovered_edges
         |ORDER BY n_edges ASC NULLS FIRST""".stripMargin
    })

  /** Community conductance (round 8, batch 103): the cut-quality
    * metric that complements q_graph_modularity's density score — for
    * each REGION community of the trade graph, φ(S) = cut(S) /
    * min(vol(S), vol(V∖S)): the fraction of a community's edge volume
    * that leaks across its boundary (low φ = well-separated community;
    * φ is the Cheeger/sparsest-cut quantity spectral partitioning
    * bounds). Graded per region: member nodes, edge volume, cut size,
    * conductance (e6).
    *
    * Scale: degrees are one pass over the node²-bounded shared edge
    * relation; community tags ride the broadcast nation dim; cut
    * counting is a projection + 5-group aggregate. Nothing touches the
    * fact table beyond the session-shared graph build.
    *
    * Determinism: pure integer counting; conductance is a truncating
    * div of non-negative ints, pinned 0 when a side is empty; D1 on
    * region.
    */
  private val conductance = QueryDef(
    "q_graph_conductance",
    (s, d) => {
      val und = undirectedTop3(s, d)
      val nat = Tables.nation(s, d).select(
        col("n_nationkey").cast("long").as("nk"),
        col("n_regionkey").cast("long").as("rk"))
      val deg = und.select(col("a").as("n"))
        .unionByName(und.select(col("b").as("n")))
        .groupBy(col("n")).agg(count(lit(1)).as("deg"))
        .join(broadcast(nat), col("n") === col("nk"))
      val vol = deg.groupBy(col("rk"))
        .agg(count(lit(1)).as("n_nodes"), sum(col("deg")).as("volume"))
      val tv = deg.agg(sum(col("deg")).as("totvol"))
      val cut = und
        .join(broadcast(nat.select(col("nk").as("ak"), col("rk").as("ra"))),
          col("a") === col("ak"))
        .join(broadcast(nat.select(col("nk").as("bk"), col("rk").as("rb"))),
          col("b") === col("bk"))
        .filter(col("ra") =!= col("rb"))
        .select(explode(array(col("ra"), col("rb"))).as("rk"))
        .groupBy(col("rk")).agg(count(lit(1)).as("n_cut"))
      Tables.nation(s, d)
        .select(col("n_regionkey").cast("long").as("region")).distinct()
        .join(vol.withColumnRenamed("rk", "region"), Seq("region"), "left")
        .join(cut.withColumnRenamed("rk", "region"), Seq("region"), "left")
        .crossJoin(broadcast(tv))
        .select(col("region"),
          coalesce(col("n_nodes"), lit(0L)).as("n_nodes"),
          coalesce(col("volume"), lit(0L)).as("volume"),
          coalesce(col("n_cut"), lit(0L)).as("n_cut"),
          col("totvol"))
        .withColumn("conductance_e6", expr(
          """case when least(volume, totvol - volume) > 0
            |then n_cut * 1000000 div least(volume, totvol - volume)
            |else 0 end""".stripMargin))
        .drop("totvol")
        .orderBy(ascf("region"))
    },
    Some(s"""WITH $UndSql,
           |dg AS (SELECT n, count(*) AS deg FROM (
           |    SELECT a AS n FROM und UNION ALL SELECT b AS n FROM und)
           |  GROUP BY 1),
           |nd AS (SELECT dg.n, dg.deg,
           |    CAST(na.n_regionkey AS BIGINT) AS rk
           |  FROM dg JOIN nation na ON dg.n = na.n_nationkey),
           |vol AS (SELECT rk, CAST(count(*) AS BIGINT) AS n_nodes,
           |    CAST(sum(deg) AS BIGINT) AS volume FROM nd GROUP BY 1),
           |tv AS (SELECT CAST(sum(deg) AS BIGINT) AS totvol FROM nd),
           |ce AS (SELECT CAST(x.n_regionkey AS BIGINT) AS ra,
           |    CAST(y.n_regionkey AS BIGINT) AS rb
           |  FROM und JOIN nation x ON und.a = x.n_nationkey
           |  JOIN nation y ON und.b = y.n_nationkey),
           |ct AS (SELECT rk, CAST(count(*) AS BIGINT) AS n_cut FROM (
           |    SELECT ra AS rk FROM ce WHERE ra <> rb
           |    UNION ALL SELECT rb AS rk FROM ce WHERE ra <> rb)
           |  GROUP BY 1),
           |rg AS (SELECT DISTINCT CAST(n_regionkey AS BIGINT) AS region
           |  FROM nation)
           |SELECT rg.region AS region,
           |  CAST(coalesce(vol.n_nodes, 0) AS BIGINT) AS n_nodes,
           |  CAST(coalesce(vol.volume, 0) AS BIGINT) AS volume,
           |  CAST(coalesce(ct.n_cut, 0) AS BIGINT) AS n_cut,
           |  CAST(CASE WHEN least(coalesce(vol.volume, 0),
           |      tv.totvol - coalesce(vol.volume, 0)) > 0
           |    THEN coalesce(ct.n_cut, 0) * 1000000
           |      // least(coalesce(vol.volume, 0),
           |           tv.totvol - coalesce(vol.volume, 0))
           |    ELSE 0 END AS BIGINT) AS conductance_e6
           |FROM rg LEFT JOIN vol ON rg.region = vol.rk
           |LEFT JOIN ct ON rg.region = ct.rk CROSS JOIN tv
           |ORDER BY region ASC NULLS FIRST""".stripMargin))

  def defs: Seq[QueryDef] = Seq(pagerank, triangles, bfs, degree,
    graphJaccard, labelProp, closeness, scc, kcore, copurchase,
    adamicAdar, hits, assortativity, reciprocity, clustering, mst, motifs,
    eccentric, truss, modularity, betweenness, walk2, matching, coloring,
    vertexCover, conductance)
}
