package graft.ops

import graft.{Caches, QueryDef}
import graft.Dsl._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Deterministic k-means over the quantized embedding table (round 6 —
  * VERDICT r5 #5: the semantic-dedup / topic-balance clustering pass a
  * curation pipeline runs, previously the one missing iterative op).
  *
  * Exactly gradeable by construction (the q_graph_pagerank fixed-K
  * pattern applied to clustering):
  *  - vectors are the 1e-6-quantized int64 arrays (VecOps.quantized,
  *    rule D3), so every distance is an exact int64 sum;
  *  - K seed centroids are the vectors with the smallest values of the
  *    deterministic mix hash ((vec_id mod 2³¹) · 2654435761) mod
  *    1000000007 — the id PRE-FOLDS into 2³¹ before the multiply (the
  *    q_sample_hash ScaleProbe lesson: shifted 10× ids ≈ 9·10⁹ overflow
  *    the raw product under ANSI mode; SCALING.md)
  *    (vec_id tiebreak) — data-derived, order-free, and replicated
  *    verbatim in the oracle;
  *  - each round reassigns by exact integer argmin (distance, then
  *    cluster id on ties) and recomputes centroids with TRUNCATING
  *    integer division (Spark `div` and DuckDB `//` both truncate
  *    toward zero — verified, including negative sums — so centroids
  *    stay exact int64 and bit-identical across engines);
  *  - both engines run exactly `kmeansRounds` identical rounds, so
  *    parity holds by construction; the convergence claim itself is
  *    pinned by PropertiesSpec against a scalar replica (oracle
  *    lockstep is blind to algorithmic drift, as components taught).
  *
  * Scale shape: per round, assignment is MAP-SIDE — the K×64 centroid
  * table collapses to ONE broadcast row and the argmin runs as an
  * array HOF inside the scan (no per-cluster join, no shuffle) — and
  * the update is a single (cluster, dim) partial aggregation whose
  * shuffle carries K·64 rows per partition. The only corpus-sized
  * exchange per round is that update shuffle; nothing is ever
  * vec_id-keyed. Each round's K-row centroid relation is cached
  * scoped (its PLAN embeds all previous rounds — uncached, every
  * reference would recompute the full chain, the 2^K blowup the
  * components loop documents).
  */
object Clustering {

  /** Single source of truth for K and the round count — the Spark loop,
    * the oracle unroll, and the PropertiesSpec replica all read these.
    */
  private[graft] val kmeansK = 8
  private[graft] val kmeansRounds = 3

  /** Seed hash, spelled identically in the oracle. */
  private val seedHashSql =
    "(((vec_id % 2147483648) * 2654435761) % 1000000007)"

  /** Fit: returns (final centroids (cluster, carr), final assignment
    * (vec_id, v, cluster, dist)) after `rounds` reassign+update rounds
    * plus one closing assignment under the final centroids. `emb` must
    * be (vec_id, v: array<bigint>); dims uniform. Extracted so the spec
    * can replay it on toy data against a scalar replica.
    */
  private[graft] def kmeansFit(emb: DataFrame, k: Int, rounds: Int)
      : (DataFrame, DataFrame) = {
    // top-K by (hash, vec_id) is a distributed TakeOrdered; the window
    // then ranks only the K survivors (never a global single-partition
    // window over the corpus)
    val seeds = emb
      .withColumn("h", expr(seedHashSql))
      .orderBy(ascf("h"), ascf("vec_id")).limit(k)
    var cent = Caches.scoped(seeds
      .withColumn("cluster",
        (row_number().over(Window.orderBy(ascf("h"), ascf("vec_id"))) - 1)
          .cast("long"))
      .select(col("cluster"), col("v").as("carr")))
    // argmin over the single collected centroid row: distances via
    // zip_with/aggregate (codegen'd), strict < keeps the smallest
    // cluster id on ties because cs is sorted by cluster
    def assign(c: DataFrame): DataFrame = {
      val cs = c.agg(array_sort(
        collect_list(struct(col("cluster").as("c"), col("carr").as("a"))))
        .as("cs"))
      emb.crossJoin(broadcast(cs))
        .withColumn("best", expr(
          """aggregate(
            |  transform(cs, x -> struct(x.c as c,
            |    aggregate(zip_with(v, x.a, (p, q) -> (p - q) * (p - q)),
            |      bigint(0), (s, t) -> s + t) as d)),
            |  struct(bigint(-1) as c, bigint(9223372036854775807) as d),
            |  (acc, x) -> IF(x.d < acc.d, x, acc))""".stripMargin))
        .select(col("vec_id"), col("v"),
          col("best.c").as("cluster"), col("best.d").as("dist"))
    }
    for (_ <- 1 to rounds) {
      val asg = assign(cent)
      val sums = asg
        .select(col("cluster"), posexplode(col("v")).as(Seq("pos", "x")))
        .groupBy(col("cluster"), col("pos"))
        .agg(sum(col("x")).as("sx"), count(lit(1)).as("cnt"))
        .withColumn("cx", expr("sx div cnt"))
      val upd = sums.groupBy(col("cluster"))
        .agg(array_sort(collect_list(struct(col("pos"), col("cx")))).as("pc"))
        .select(col("cluster"),
          transform(col("pc"), p => p.getField("cx")).as("next"))
      // empty clusters carry their centroid forward (cent always holds
      // all K rows, so the left join preserves the full cluster list)
      cent = Caches.scoped(cent
        .join(upd, Seq("cluster"), "left")
        .select(col("cluster"),
          coalesce(col("next"), col("carr")).as("carr")))
    }
    (cent, assign(cent))
  }

  /** Per-cluster census after the fixed rounds: member count, exact
    * int64 centroid checksum, and total inertia (per-vector distances
    * summed in DECIMAL(38,0)/HUGEINT — n·maxdist can brush int64 —
    * then pinned to double, rule D9/D11).
    */
  private val kmeans = QueryDef(
    "q_ml_kmeans",
    (s, d) => {
      val emb = Caches.scoped(
        VecOps.quantized(s, d).select(col("vec_id"), col("v")))
      val (cent, asg) = kmeansFit(emb, kmeansK, kmeansRounds)
      val census = asg.groupBy(col("cluster"))
        .agg(count(lit(1)).as("n_vecs"),
          sum(col("dist").cast(DecimalType(38, 0))).as("inertia"))
      cent.join(census, Seq("cluster"), "left")
        .select(col("cluster"),
          coalesce(col("n_vecs"), lit(0L)).as("n_vecs"),
          expr("aggregate(carr, bigint(0), (s, t) -> s + t)")
            .as("centroid_checksum"),
          coalesce(col("inertia").cast("double"), lit(0.0)).as("inertia"))
        .orderBy(ascf("cluster"))
    },
    Some {
      // unrolled rounds, every level MATERIALIZED: each centroid CTE is
      // referenced by the next assignment AND the carry-forward join,
      // so inlining would re-run the chain 2^K times (the components
      // oracle lesson)
      val k = kmeansK
      val assignStep = (t: Int, cIn: String, out: String) =>
        s"""${out}0 AS (SELECT n.vec_id AS vec_id, n.v AS v,
           |    c.cluster AS cluster,
           |    CAST(list_sum(list_transform(range(1, 65),
           |      k -> (n.v[k] - c.carr[k]) * (n.v[k] - c.carr[k])))
           |      AS BIGINT) AS dist
           |  FROM n, $cIn c),
           |$out AS MATERIALIZED (SELECT vec_id, v, cluster, dist FROM (
           |    SELECT vec_id, v, cluster, dist, row_number() OVER (
           |      PARTITION BY vec_id ORDER BY dist ASC, cluster ASC) AS rn
           |    FROM ${out}0) WHERE rn = 1)""".stripMargin
      val updateStep = (t: Int) =>
        s"""u$t AS (SELECT cluster, list(cx ORDER BY pos) AS carr FROM (
           |    SELECT cluster, k AS pos,
           |      CAST(sum(a$t.v[k]) // count(*) AS BIGINT) AS cx
           |    FROM a$t, range(1, 65) t(k) GROUP BY cluster, k)
           |  GROUP BY cluster),
           |c$t AS MATERIALIZED (SELECT p.cluster AS cluster,
           |    coalesce(u$t.carr, p.carr) AS carr
           |  FROM c${t - 1} p LEFT JOIN u$t ON p.cluster = u$t.cluster)""".stripMargin
      val rounds = (1 to kmeansRounds).map(t =>
        assignStep(t, s"c${t - 1}", s"a$t") + ",\n" + updateStep(t))
        .mkString(",\n")
      graft.ops.VecOps.oracleQuantized +
        s""",
           |sd AS (SELECT vec_id, v, $seedHashSql AS h FROM n),
           |c0 AS MATERIALIZED (SELECT rn - 1 AS cluster, v AS carr FROM (
           |    SELECT v, row_number() OVER (ORDER BY h ASC, vec_id ASC) AS rn
           |    FROM sd) WHERE rn <= $k),
           |$rounds,
           |${assignStep(kmeansRounds + 1, s"c$kmeansRounds", "af")},
           |g AS (SELECT cluster, count(*) AS n_vecs, sum(dist) AS inertia
           |  FROM af GROUP BY cluster)
           |SELECT c.cluster AS cluster,
           |  CAST(coalesce(g.n_vecs, 0) AS BIGINT) AS n_vecs,
           |  CAST(list_sum(c.carr) AS BIGINT) AS centroid_checksum,
           |  CAST(coalesce(g.inertia, 0) AS DOUBLE) AS inertia
           |FROM c$kmeansRounds c LEFT JOIN g ON c.cluster = g.cluster
           |ORDER BY cluster ASC NULLS FIRST""".stripMargin
    })

  /** Deterministic batch perceptron quality classifier (round 6): the
    * model-based curation filter (the fastText-classifier pass of a
    * training-data pipeline) as an exactly-graded key. The label is
    * TOPICALITY — y = 1 iff the doc uses the token 'data' at least
    * twice (≈ 49% of the fixture corpus) — and the features are surface
    * statistics (token count, distinct tokens, max token length,
    * stopword count) plus one weak lexicon count (occurrences of
    * 'data', the standard keyword-lexicon feature), so the concept is
    * genuinely but imperfectly learnable.
    *
    * Formulation (every step replayed verbatim in the oracle):
    *  - features are CENTERED in 1e2 units: x_k = 100·f_k − μ_k with
    *    μ_k = (100·Σf_k) div n — raw counts share a doc-length factor
    *    that makes the all-predictions-flip gradient dwarf the class
    *    separation (measured: uncentered batch perceptron oscillates
    *    between all-1 and all-0 forever); centering removes it;
    *  - `perceptronRounds` = 5 full-batch rounds: margin = w·x (exact
    *    int64), pred = [margin ≥ 0], gradient Σ (y − pred)·x NORMALIZED
    *    to mean units via sign(g)·((|g|·100) div n) — the sign/abs
    *    spelling is load-bearing: Spark `div` truncates toward zero
    *    while DuckDB `//` floors, so bare division would diverge on
    *    every negative gradient component;
    *  - learned accuracy ≈ 71% with all four confusion cells non-zero
    *    at every fixture scale (measured sf0.001/0.01/0.1) — a real
    *    learned model, not a constant predictor.
    *
    * Scale shape: per round, scoring is MAP-SIDE — the weight vector is
    * ONE broadcast row and the margin an array dot inside the scan; the
    * gradient is a (k)-grain partial aggregation (6 rows per map
    * partition). Nothing is ever doc-keyed; the feature relation builds
    * once off the shared tokenize and is scoped-cached across rounds.
    * Magnitudes: |x_k| ≤ 100·553, |Δw_k| ≤ 100·max|x| per round, so
    * margins stay ≲ 10¹⁰ at any corpus size (the normalization makes
    * weight growth corpus-size-free).
    */
  private[graft] val perceptronRounds = 5

  /** Fit: `rounds` full-batch rounds over feats = (doc_id, y, n, x)
    * with x already centered and bias-prepended (dims elements) and n
    * the constant corpus count; returns the final 1-row weight
    * relation. Extracted so PropertiesSpec can replay it on toy data
    * against a scalar replica (the kmeansFit treatment — oracle
    * lockstep proves engine parity, the replica proves the loop is the
    * algorithm as specified).
    */
  private[graft] def perceptronFit(feats: DataFrame, dims: Int,
      rounds: Int): DataFrame = {
    // The weight vector is MODEL STATE, not data: dims int64s per round
    // come back to the driver (the MLlib/parameter-server pattern) and
    // go out as a broadcast literal — vs. threading a 1-row relation
    // through scoped caches and joins, this collapses each round to ONE
    // distributed job (the gradient partial-agg over the cached feature
    // relation; measured 3.7 s → ~1.5 s at sf0.1) and nothing
    // corpus-sized ever leaves the executors.
    val w = Array.fill(dims)(0L)
    for (_ <- 1 to rounds) {
      val grads = scorePerceptron(feats, litW(feats, w))
        .select(col("n"), (col("y") - col("pred")).as("err"),
          posexplode(col("x")).as(Seq("k", "xk")))
        .groupBy(col("k"))
        .agg(sum(col("err") * col("xk")).as("graw"),
          max(col("n")).as("n"))
        .collect()
      for (r <- grads) {
        val k = r.getInt(0); val graw = r.getLong(1); val n = r.getLong(2)
        // mean-normalized update in e2 units; abs-then-divide keeps the
        // truncation direction engine-identical on negatives (the
        // oracle spells the same CASE)
        w(k) += (if (graw >= 0) graw * 100 / n else -((-graw) * 100 / n))
      }
    }
    litW(feats, w)
  }

  /** The weight vector as a 1-row broadcastable relation. */
  private def litW(feats: DataFrame, w: Array[Long]): DataFrame =
    feats.sparkSession.range(1)
      .select(typedLit(w.toSeq).as("w"))

  /** Margin + prediction of `feats` rows under the 1-row weight
    * relation `wdf` (broadcast; the map-side scoring pass).
    */
  private[graft] def scorePerceptron(feats: DataFrame,
      wdf: DataFrame): DataFrame =
    feats.crossJoin(broadcast(wdf))
      .withColumn("margin", expr(
        """aggregate(zip_with(w, x, (p, q) -> p * q),
          |  bigint(0), (acc, t) -> acc + t)""".stripMargin))
      .withColumn("pred",
        when(col("margin") >= 0L, 1L).otherwise(0L))

  private val perceptron = QueryDef(
    "q_ml_perceptron",
    (s, d) => {
      val raw = Caches.scoped(Text.sharedDocTokens(s, d)
        .select(col("doc_id"),
          when(expr("size(filter(ts, x -> x = 'data')) >= 2"), 1L)
            .otherwise(0L).as("y"),
          expr("""array(bigint(size(ts)),
                 |  bigint(size(array_distinct(ts))),
                 |  bigint(array_max(transform(ts, t -> length(t)))),
                 |  bigint(size(filter(ts, t -> t = 'the' OR t = 'a'))),
                 |  bigint(size(filter(ts, t -> t = 'data'))))"""
            .stripMargin).as("f")))
      // one stats row: n + the 5 feature means in e2 units (exact ints)
      val stats = raw
        .select(posexplode(col("f")).as(Seq("k", "fk")))
        .groupBy(col("k")).agg(sum(col("fk")).as("sk"))
        .agg(array_sort(collect_list(struct(col("k"), col("sk"))))
          .as("ss"), sum(lit(0L)).as("z"))
        .crossJoin(broadcast(raw.agg(count(lit(1)).as("n"))))
        .select(col("n"),
          expr("transform(ss, p -> (p.sk * 100) div n)").as("mu"))
      val feats = Caches.scoped(raw.crossJoin(broadcast(stats))
        .select(col("doc_id"), col("y"), col("n"),
          concat(array(lit(100L)),
            expr("zip_with(f, mu, (p, q) -> p * 100 - q)")).as("x")))
      val w = perceptronFit(feats, 6, perceptronRounds)
      scorePerceptron(feats, w)
        .agg(sum(when(col("y") === 1L && col("pred") === 1L, 1L)
            .otherwise(0L)).as("tp"),
          sum(when(col("y") === 0L && col("pred") === 1L, 1L)
            .otherwise(0L)).as("fp"),
          sum(when(col("y") === 0L && col("pred") === 0L, 1L)
            .otherwise(0L)).as("tn"),
          sum(when(col("y") === 1L && col("pred") === 0L, 1L)
            .otherwise(0L)).as("fn"),
          count(lit(1)).as("n"),
          first(col("w")).as("w"))
        .select(expr("element_at(w, 1)").as("w_bias"),
          expr("element_at(w, 2)").as("w_ntok"),
          expr("element_at(w, 3)").as("w_ndistinct"),
          expr("element_at(w, 4)").as("w_maxlen"),
          expr("element_at(w, 5)").as("w_stop"),
          expr("element_at(w, 6)").as("w_data"),
          col("tp"), col("fp"), col("tn"), col("fn"),
          expr("(tp + tn) * 1000000 div n").as("accuracy_e6"))
        .orderBy(ascf("accuracy_e6"))
    },
    Some {
      val roundCtes = (1 to perceptronRounds).map { t =>
        s"""a$t AS (SELECT f.doc_id, f.y, f.x,
           |    CASE WHEN CAST(list_sum(list_transform(range(1, 7),
           |      k -> w.w[k] * f.x[k])) AS BIGINT) >= 0
           |      THEN 1 ELSE 0 END AS pred
           |  FROM f, w${t - 1} w),
           |g$t AS (SELECT r.range AS k, CASE
           |    WHEN CAST(sum((a.y - a.pred) * a.x[r.range]) AS BIGINT) >= 0
           |    THEN (CAST(sum((a.y - a.pred) * a.x[r.range]) AS BIGINT)
           |      * 100) // (SELECT n FROM cn)
           |    ELSE -(((-CAST(sum((a.y - a.pred) * a.x[r.range]) AS BIGINT))
           |      * 100) // (SELECT n FROM cn)) END AS gk
           |  FROM a$t a CROSS JOIN range(1, 7) r GROUP BY r.range),
           |w$t AS MATERIALIZED (SELECT list(wk + gk ORDER BY k) AS w FROM (
           |    SELECT r.range AS k, w.w[r.range] AS wk,
           |      coalesce(g$t.gk, 0) AS gk
           |    FROM w${t - 1} w CROSS JOIN range(1, 7) r
           |    LEFT JOIN g$t ON r.range = g$t.k))""".stripMargin
      }.mkString(",\n")
      val R = perceptronRounds
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS ts
         |  FROM documents),
         |f0 AS (SELECT doc_id,
         |    CASE WHEN len(list_filter(ts, x -> x = 'data')) >= 2
         |      THEN 1 ELSE 0 END AS y,
         |    [CAST(len(ts) AS BIGINT),
         |     CAST(len(list_distinct(ts)) AS BIGINT),
         |     CAST(list_max(list_transform(ts, x -> length(x))) AS BIGINT),
         |     CAST(len(list_filter(ts, x -> x = 'the' OR x = 'a'))
         |       AS BIGINT),
         |     CAST(len(list_filter(ts, x -> x = 'data')) AS BIGINT)] AS f
         |  FROM t),
         |cn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM f0),
         |mu AS MATERIALIZED (SELECT list(mk ORDER BY k) AS mu FROM (
         |    SELECT r.range AS k,
         |      (CAST(sum(f0.f[r.range]) AS BIGINT) * 100)
         |        // (SELECT n FROM cn) AS mk
         |    FROM f0 CROSS JOIN range(1, 6) r GROUP BY r.range)),
         |f AS (SELECT doc_id, y,
         |    list_prepend(CAST(100 AS BIGINT),
         |      list_transform(range(1, 6),
         |        k -> f0.f[k] * 100 - mu.mu[k])) AS x
         |  FROM f0, mu),
         |w0 AS (SELECT [CAST(0 AS BIGINT), CAST(0 AS BIGINT),
         |    CAST(0 AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS BIGINT),
         |    CAST(0 AS BIGINT)] AS w),
         |$roundCtes,
         |af AS (SELECT f.y,
         |    CASE WHEN CAST(list_sum(list_transform(range(1, 7),
         |      k -> w.w[k] * f.x[k])) AS BIGINT) >= 0
         |      THEN 1 ELSE 0 END AS pred
         |  FROM f, w$R w),
         |cm AS (SELECT
         |    CAST(sum(CASE WHEN y = 1 AND pred = 1 THEN 1 ELSE 0 END)
         |      AS BIGINT) AS tp,
         |    CAST(sum(CASE WHEN y = 0 AND pred = 1 THEN 1 ELSE 0 END)
         |      AS BIGINT) AS fp,
         |    CAST(sum(CASE WHEN y = 0 AND pred = 0 THEN 1 ELSE 0 END)
         |      AS BIGINT) AS tn,
         |    CAST(sum(CASE WHEN y = 1 AND pred = 0 THEN 1 ELSE 0 END)
         |      AS BIGINT) AS fn,
         |    CAST(count(*) AS BIGINT) AS n
         |  FROM af)
         |SELECT w.w[1] AS w_bias, w.w[2] AS w_ntok, w.w[3] AS w_ndistinct,
         |  w.w[4] AS w_maxlen, w.w[5] AS w_stop, w.w[6] AS w_data,
         |  cm.tp, cm.fp, cm.tn, cm.fn,
         |  (cm.tp + cm.tn) * 1000000 // cm.n AS accuracy_e6
         |FROM cm, w$R w ORDER BY accuracy_e6 ASC NULLS FIRST""".stripMargin
    })

  /** Multinomial naive Bayes language classifier (round 6): train token
    * counts per (lang, word) with Laplace add-one smoothing over the
    * whole corpus, score every document against every language, predict
    * by argmax, and grade the full confusion matrix plus a per-cell
    * int64 score checksum.
    *
    * Exactly gradeable because every logarithm is `DetMath.lnInt` on an
    * INTEGER input (counts, class totals + vocab, doc priors) quantized
    * to BIGINT micro-nats BEFORE any summation (rule D12): per-token
    * terms are exact int64, so the per-(doc, lang) score is an exact
    * integer sum — order-free across partitions and engines — and the
    * argmax tiebreak (lang asc) is total. Unseen (lang, word) pairs
    * contribute ln(0+1) = 0 exactly, so the smoothing term needs no
    * join hit to be correct (coalesce to 0).
    *
    * Shape at 100 TB: the corpus explodes once into doc-term counts
    * (one partial-agg shuffle — the same relation tfidf builds); the
    * model side (class-term counts, class totals, priors, vocab) is
    * vocab-sized and BROADCAST; scoring is doc-terms × |langs| rows
    * aggregated per (doc, lang) with map-side combine. No iteration:
    * NB trains in one pass — the cheapest classifier a curation
    * pipeline can field for language/domain routing.
    */
  private val naiveBayes = QueryDef(
    "q_ml_naive_bayes",
    (s, d) => {
      import graft.functions.DetMath
      def lnq(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
        round(DetMath.lnInt(c) * 1000000, 0).cast("long")
      val docs = graft.Tables.documents(s, d)
      val toks = docs.select(col("doc_id"), col("lang"),
        explode(split(col("text"), " ")).as("w"))
      val cdw = toks.groupBy(col("doc_id"), col("lang").as("true_lang"),
          col("w"))
        .agg(count(lit(1)).as("m"))
      val clw = Caches.scoped(toks.groupBy(col("lang"), col("w"))
        .agg(count(lit(1)).as("c")))
      val tl = clw.groupBy(col("lang")).agg(sum(col("c")).as("tsum"))
      val vv = clw.select(col("w")).distinct()
        .agg(count(lit(1)).as("v"))
      val nd = docs.groupBy(col("lang")).agg(count(lit(1)).as("ndl"))
      val ntot = docs.agg(count(lit(1)).as("n"))
      val lw = clw.select(col("lang").as("cand"), col("w"),
        lnq(col("c") + 1).as("lc1"))
      val lconst = tl.join(nd, "lang").crossJoin(vv)
        .select(col("lang").as("cand"), lnq(col("tsum") + col("v")).as("ltv"),
          lnq(col("ndl")).as("lnd"))
      val lnn = ntot.select(lnq(col("n")).as("lnn"))
      val langs = docs.select(col("lang").as("cand")).distinct()
      val sc = cdw.crossJoin(broadcast(langs))
        .join(broadcast(lw), Seq("cand", "w"), "left")
        .groupBy(col("doc_id"), col("true_lang"), col("cand"))
        .agg(sum(col("m") * coalesce(col("lc1"), lit(0L))).as("s1"),
          sum(col("m")).as("mt"))
        .join(broadcast(lconst), "cand")
        .crossJoin(broadcast(lnn))
        .withColumn("score_e6",
          col("s1") - col("mt") * col("ltv") + col("lnd") - col("lnn"))
      val win = Window.partitionBy(col("doc_id"))
        .orderBy(descl("score_e6"), ascf("cand"))
      sc.withColumn("rnk", row_number().over(win))
        .filter(col("rnk") === 1)
        .groupBy(col("true_lang").as("lang"), col("cand").as("pred"))
        .agg(count(lit(1)).as("n_docs"), sum(col("score_e6")).as("score_sum"))
        .orderBy(ascf("lang"), ascf("pred"))
    },
    Some {
      import graft.functions.DetMath._
      s"""WITH t AS MATERIALIZED (SELECT doc_id, lang,
         |    unnest(string_split(text, ' ')) AS w FROM documents),
         |cdw AS (SELECT doc_id, lang AS true_lang, w, count(*) AS m
         |  FROM t GROUP BY 1, 2, 3),
         |clw AS MATERIALIZED (SELECT lang, w, count(*) AS c
         |  FROM t GROUP BY 1, 2),
         |tl AS (SELECT lang, sum(c) AS tsum FROM clw GROUP BY 1),
         |vv AS (SELECT count(DISTINCT w) AS v FROM clw),
         |nd AS (SELECT lang, count(*) AS ndl FROM documents GROUP BY 1),
         |ntot AS (SELECT count(*) AS n FROM documents),
         |w0 AS (SELECT lang AS cand, w, c + 1 AS x FROM clw),
         |w1 AS (SELECT *, ${kSql("x")} AS k FROM w0),
         |w2 AS (SELECT *, ${mSql("x", "k")} AS mm FROM w1),
         |w3 AS (SELECT *, ${zSql("mm")} AS z FROM w2),
         |w4 AS (SELECT *, z * z AS z2 FROM w3),
         |w5 AS (SELECT *, ${hornerSql("z2")} AS h FROM w4),
         |lw AS (SELECT cand, w, CAST(round(${lnSql("k", "z", "h")}
         |    * 1000000, 0) AS BIGINT) AS lc1 FROM w5),
         |c0 AS (SELECT tl.lang AS cand,
         |    CAST(tl.tsum + vv.v AS BIGINT) AS xa, nd.ndl AS xb
         |  FROM tl JOIN nd ON tl.lang = nd.lang CROSS JOIN vv),
         |c1 AS (SELECT *, ${kSql("xa")} AS ka, ${kSql("xb")} AS kb FROM c0),
         |c2 AS (SELECT *, ${mSql("xa", "ka")} AS ma,
         |    ${mSql("xb", "kb")} AS mb FROM c1),
         |c3 AS (SELECT *, ${zSql("ma")} AS za, ${zSql("mb")} AS zb FROM c2),
         |c4 AS (SELECT *, za * za AS z2a, zb * zb AS z2b FROM c3),
         |c5 AS (SELECT *, ${hornerSql("z2a")} AS ha,
         |    ${hornerSql("z2b")} AS hb FROM c4),
         |lconst AS (SELECT cand,
         |    CAST(round(${lnSql("ka", "za", "ha")} * 1000000, 0) AS BIGINT)
         |      AS ltv,
         |    CAST(round(${lnSql("kb", "zb", "hb")} * 1000000, 0) AS BIGINT)
         |      AS lnd FROM c5),
         |n1 AS (SELECT n AS x, ${kSql("n")} AS k FROM ntot),
         |n2 AS (SELECT *, ${mSql("x", "k")} AS mm FROM n1),
         |n3 AS (SELECT *, ${zSql("mm")} AS z FROM n2),
         |n4 AS (SELECT *, z * z AS z2 FROM n3),
         |n5 AS (SELECT *, ${hornerSql("z2")} AS h FROM n4),
         |lnn AS (SELECT CAST(round(${lnSql("k", "z", "h")} * 1000000, 0)
         |    AS BIGINT) AS lnn FROM n5),
         |langs AS (SELECT DISTINCT lang AS cand FROM documents),
         |sc AS (SELECT cdw.doc_id, cdw.true_lang, lg.cand,
         |    sum(cdw.m * coalesce(lw.lc1, 0)) AS s1, sum(cdw.m) AS mt
         |  FROM cdw CROSS JOIN langs lg
         |    LEFT JOIN lw ON lw.cand = lg.cand AND lw.w = cdw.w
         |  GROUP BY 1, 2, 3),
         |fin AS (SELECT sc.doc_id, sc.true_lang, sc.cand,
         |    sc.s1 - sc.mt * lc.ltv + lc.lnd - lnn.lnn AS score_e6
         |  FROM sc JOIN lconst lc ON lc.cand = sc.cand CROSS JOIN lnn),
         |r AS (SELECT *, row_number() OVER (PARTITION BY doc_id
         |    ORDER BY score_e6 DESC, cand ASC) AS rnk FROM fin)
         |SELECT true_lang AS lang, cand AS pred,
         |  CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(score_e6) AS BIGINT) AS score_sum
         |FROM r WHERE rnk = 1 GROUP BY 1, 2
         |ORDER BY lang ASC NULLS FIRST, pred ASC NULLS FIRST""".stripMargin
    })

  /** Exact decision-stump training (round 7): exhaustive best-split
    * search over three integer features (quantity, discount-cents,
    * tax-cents) for the binary label "high-value line"
    * (l_extendedprice ≥ 52000 ≈ the fixture median — quantity genuinely
    * predicts it since price ≈ qty · unit price, so thresholds have a
    * real error gradient and the cumulative-path arithmetic is graded
    * non-vacuously; a feature-independent label would collapse every
    * stump to the majority vote),
    * minimizing misclassification count min(posL,negL)+min(posR,negR)
    * with majority prediction on each side — the split criterion a
    * boosted-tree / CART root node evaluates, reduced to its exactly
    * gradeable integer core. One row per feature: its best threshold,
    * error count, and accuracy.
    *
    * Scale: the fact table collapses to a (feature, value) histogram in
    * ONE unpivoted pass (3 rows/fact map-side, partial-agg'd to ≤ ~70
    * grouped rows before the shuffle); every candidate threshold is then
    * scored from cumulative window sums over that tiny histogram — the
    * standard histogram-based split finding of every distributed GBDT
    * (XGBoost/LightGBM hist mode). Adding features or thresholds grows
    * the histogram, never the fact-table passes.
    *
    * Determinism: pure integer counting; threshold grid = observed
    * values (any split between observed values is equivalent); argmin
    * tiebreak = smallest threshold; discount/tax exact-decimal → cents
    * (never a double product, D2).
    */
  private val stump = QueryDef(
    "q_ml_stump",
    (s, d) => {
      val li = graft.Tables.lineitem(s, d).select(
        col("l_quantity").cast("long").as("qty"),
        (pct(col("l_discount")) * 100).cast("long").as("disc_c"),
        (pct(col("l_tax")) * 100).cast("long").as("tax_c"),
        when(col("l_extendedprice") >= 52000.0, lit(1L)).otherwise(lit(0L))
          .as("y"))
      val long = li.select(col("y"), explode(expr(
        """array(struct('quantity' AS feature, qty AS v),
          |      struct('discount' AS feature, disc_c AS v),
          |      struct('tax' AS feature, tax_c AS v))""".stripMargin))
        .as("fv"))
        .select(col("fv.feature").as("feature"), col("fv.v").as("v"), col("y"))
      val hist = long.groupBy(col("feature"), col("v"))
        .agg(sum(col("y")).as("pos"),
          (count(lit(1)) - sum(col("y"))).as("neg"))
      val wf = Window.partitionBy(col("feature")).orderBy(ascf("v"))
      val wTot = Window.partitionBy(col("feature"))
      val scored = hist
        .withColumn("pos_le", sum(col("pos")).over(wf))
        .withColumn("neg_le", sum(col("neg")).over(wf))
        .withColumn("pos_t", sum(col("pos")).over(wTot))
        .withColumn("neg_t", sum(col("neg")).over(wTot))
        .withColumn("err",
          least(col("pos_le"), col("neg_le")) +
            least(col("pos_t") - col("pos_le"), col("neg_t") - col("neg_le")))
      val best = scored
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("feature")).orderBy(ascf("err"), ascf("v"))))
        .filter(col("rn") === 1)
      best.select(col("feature"), col("v").as("best_threshold"),
        col("err").as("n_err"), (col("pos_t") + col("neg_t")).as("n_total"),
        expr("(pos_t + neg_t - err) * 1000000 div (pos_t + neg_t)")
          .as("accuracy_e6"))
        .orderBy(ascf("feature"))
    },
    Some("""WITH base AS (SELECT
           |    CAST(l_quantity AS BIGINT) AS qty,
           |    CAST(CAST(l_discount AS DECIMAL(3,2)) * 100 AS BIGINT) AS disc_c,
           |    CAST(CAST(l_tax AS DECIMAL(3,2)) * 100 AS BIGINT) AS tax_c,
           |    CASE WHEN l_extendedprice >= 52000.0 THEN 1 ELSE 0 END AS y
           |  FROM lineitem),
           |long AS (
           |  SELECT 'quantity' AS feature, qty AS v, y FROM base
           |  UNION ALL SELECT 'discount', disc_c, y FROM base
           |  UNION ALL SELECT 'tax', tax_c, y FROM base),
           |hist AS (SELECT feature, v, sum(y) AS pos,
           |    count(*) - sum(y) AS neg
           |  FROM long GROUP BY feature, v),
           |scored AS (SELECT feature, v,
           |    sum(pos) OVER wf AS pos_le, sum(neg) OVER wf AS neg_le,
           |    sum(pos) OVER wt AS pos_t, sum(neg) OVER wt AS neg_t
           |  FROM hist
           |  WINDOW wf AS (PARTITION BY feature ORDER BY v ASC
           |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
           |  wt AS (PARTITION BY feature)),
           |err AS (SELECT feature, v, pos_t, neg_t,
           |    least(pos_le, neg_le)
           |      + least(pos_t - pos_le, neg_t - neg_le) AS err
           |  FROM scored),
           |best AS (SELECT feature, v, err, pos_t, neg_t,
           |    row_number() OVER (PARTITION BY feature
           |      ORDER BY err ASC, v ASC) AS rn
           |  FROM err)
           |SELECT feature, CAST(v AS BIGINT) AS best_threshold,
           |  CAST(err AS BIGINT) AS n_err,
           |  CAST(pos_t + neg_t AS BIGINT) AS n_total,
           |  CAST((pos_t + neg_t - err) * 1000000 // (pos_t + neg_t) AS BIGINT)
           |    AS accuracy_e6
           |FROM best WHERE rn = 1
           |ORDER BY feature ASC NULLS FIRST""".stripMargin))

  /** Closed-form ordinary least squares per segment (round 7): the
    * price-model fit an analytics pass runs per (returnflag, linestatus)
    * slice — regress price (hundreds of dollars) on quantity and report
    * slope / intercept / R² from EXACT integer moment sums, the
    * q_profile_corr fused-moment shape extended to the full OLS readout.
    *
    * Scale: ONE aggregation pass with map-side partials produces all six
    * moments per group; groups are segment-cardinality-bounded (6 rows),
    * so the exchange is tiny at any SF. Adding regressors widens the
    * moment row (the normal-equations entries), never adds a pass.
    *
    * Determinism — SHIFTED moments keep every int64 combination exact:
    * slope and r are invariant under constant shifts of x and y, so both
    * engines fold x−25 (quantity pivot) and y−380 (typical price in
    * hundreds) before accumulating. The shift centers the moments near
    * zero: at the 10× probe (n≈3·10⁶ in the largest segment) n·Σy'² ≈
    * 4.5·10¹⁷, ~20× inside int64, where UNSHIFTED hundreds-of-dollars
    * moments would cross 2⁶³ (the q_ml_kmeans/ScaleProbe ANSI-overflow
    * lesson, applied at design time). The de-shifted intercept is
    * recovered as (ȳ+380) − slope·(x̄+25) with identical IEEE-754
    * association in both engines; num/den/vy stay int64-exact, and
    * int64→double is correctly rounded in both engines, so slope,
    * intercept and r² are bit-identical.
    */
  private val linreg = QueryDef(
    "q_ml_linreg",
    (s, d) => {
      val b = graft.Tables.lineitem(s, d).select(
        col("l_returnflag").as("rf"), col("l_linestatus").as("ls"),
        (col("l_quantity").cast("long") - 25).as("x"),
        (floorDiv((dec(col("l_extendedprice")) * 100).cast("long"), 10000L)
          - 380).as("y"))
      val m = b.groupBy(col("rf"), col("ls")).agg(
        count(lit(1)).as("n"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("y") * col("y")).as("syy"))
      m.select(col("rf"), col("ls"), col("n"),
        (col("n") * col("sxy") - col("sx") * col("sy")).as("num"),
        (col("n") * col("sxx") - col("sx") * col("sx")).as("den"),
        (col("n") * col("syy") - col("sy") * col("sy")).as("vy"),
        col("sx"), col("sy"))
        .select(col("rf"), col("ls"), col("n"),
          (col("num").cast("double") / col("den").cast("double"))
            .as("slope"),
          col("num"), col("den"), col("vy"), col("sx"), col("sy"))
        .select(col("rf"), col("ls"), col("n"), col("slope"),
          ((col("sy").cast("double") / col("n").cast("double")
            + lit(380.0))
            - col("slope") * (col("sx").cast("double")
              / col("n").cast("double") + lit(25.0))).as("intercept"),
          {
            val r = col("num").cast("double") /
              (sqrt(col("den").cast("double")) *
                sqrt(col("vy").cast("double")))
            (r * r).as("r2")
          })
        .orderBy(ascf("rf"), ascf("ls"))
    },
    Some("""WITH b AS (SELECT l_returnflag AS rf, l_linestatus AS ls,
           |    CAST(l_quantity AS BIGINT) - 25 AS x,
           |    CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
           |      // 10000 - 380 AS y
           |  FROM lineitem),
           |m AS (SELECT rf, ls, CAST(count(*) AS BIGINT) AS n,
           |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
           |    CAST(sum(x * x) AS BIGINT) AS sxx,
           |    CAST(sum(x * y) AS BIGINT) AS sxy,
           |    CAST(sum(y * y) AS BIGINT) AS syy
           |  FROM b GROUP BY rf, ls),
           |c AS (SELECT rf, ls, n, sx, sy,
           |    n * sxy - sx * sy AS num,
           |    n * sxx - sx * sx AS den,
           |    n * syy - sy * sy AS vy
           |  FROM m),
           |s AS (SELECT rf, ls, n, sx, sy, num, den, vy,
           |    CAST(num AS DOUBLE) / CAST(den AS DOUBLE) AS slope
           |  FROM c)
           |SELECT rf, ls, n, slope,
           |  ((CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)
           |      + CAST(380 AS DOUBLE))
           |    - slope * (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)
           |      + CAST(25 AS DOUBLE))) AS intercept,
           |  (CAST(num AS DOUBLE)
           |      / (sqrt(CAST(den AS DOUBLE)) * sqrt(CAST(vy AS DOUBLE))))
           |    * (CAST(num AS DOUBLE)
           |      / (sqrt(CAST(den AS DOUBLE)) * sqrt(CAST(vy AS DOUBLE))))
           |    AS r2
           |FROM s ORDER BY rf ASC NULLS FIRST, ls ASC NULLS FIRST"""
      .stripMargin))

  /** k-nearest-neighbor classification (round 7): predict each probe
    * vector's label by majority vote of its 5 nearest same-corpus
    * neighbors under exact quantized cosine — the zero-training
    * classifier that completes the ML family (kmeans/perceptron/NB/
    * stump/OLS are all trained models; kNN is the memorized one), and
    * the evaluation harness for every ANN key (the serve path's rerank
    * feeds exactly this vote at 100 TB).
    *
    * Scale: probes broadcast (id ≡ 0 mod 100 — a fixed-rate probe set);
    * the corpus side never shuffles for scoring; the per-probe top-5
    * and the vote argmax run on probe-sized relations. Swapping the
    * brute-force scorer for the persisted-index serve path
    * (q_sim_ann_serve) changes nothing downstream of the candidate set.
    *
    * Determinism: exact int64 dots; cosine rounded to 6dp with the
    * −0.0 normalization (D10); both rank orders total (cos DESC,
    * vec_id ASC / votes DESC, label ASC).
    */
  private val knn = QueryDef(
    "q_ml_knn",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val emb = VecOps.quantized(s, d)
      val probes = emb.filter(pmod(col("vec_id"), lit(100)) === 0)
        .select(col("vec_id").as("pid"), col("label").as("tl"),
          col("v").as("pv"), col("nn").as("pnn"))
      val cand = emb.crossJoin(broadcast(probes))
        .filter(col("vec_id") =!= col("pid"))
        .select(col("pid"), col("tl"), col("vec_id"), col("label"),
          (round(VecOps.cosine(VecOps.dot(col("v"), col("pv")),
            col("nn"), col("pnn")), 6) + lit(0.0)).as("cos"))
      val w = Window.partitionBy(col("pid"))
        .orderBy(descl("cos"), ascf("vec_id"))
      val votes = cand.withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 5)
        .groupBy(col("pid"), col("tl"), col("label"))
        .agg(count(lit(1)).as("votes"))
      val wv = Window.partitionBy(col("pid"))
        .orderBy(descl("votes"), ascf("label"))
      votes.withColumn("vr", row_number().over(wv))
        .filter(col("vr") === 1)
        .select(col("pid").as("vec_id"),
          col("tl").cast("long").as("true_label"),
          col("label").cast("long").as("pred_label"), col("votes"),
          (col("label") === col("tl")).cast("long").as("correct"))
        .orderBy(ascf("vec_id"))
    },
    Some(VecOps.oracleQuantized +
      s""",
         |p AS (SELECT vec_id AS pid, label AS tl, v, nn FROM n
         |  WHERE vec_id % 100 = 0),
         |cand AS (SELECT p.pid, p.tl, a.vec_id, a.label,
         |    round(${VecOps.oracleCosine("a", "p")}, 6) + 0.0 AS cos
         |  FROM n a, p WHERE a.vec_id <> p.pid),
         |top AS (SELECT *, row_number() OVER (PARTITION BY pid
         |    ORDER BY cos DESC NULLS LAST, vec_id ASC NULLS FIRST) AS rn
         |  FROM cand),
         |votes AS (SELECT pid, tl, label,
         |    CAST(count(*) AS BIGINT) AS votes
         |  FROM top WHERE rn <= 5 GROUP BY 1, 2, 3),
         |win AS (SELECT *, row_number() OVER (PARTITION BY pid
         |    ORDER BY votes DESC NULLS LAST, label ASC NULLS FIRST) AS vr
         |  FROM votes)
         |SELECT pid AS vec_id, CAST(tl AS BIGINT) AS true_label,
         |  CAST(label AS BIGINT) AS pred_label, votes,
         |  CAST(CASE WHEN label = tl THEN 1 ELSE 0 END AS BIGINT)
         |    AS correct
         |FROM win WHERE vr = 1
         |ORDER BY vec_id ASC NULLS FIRST""".stripMargin))

  /** Depth-2 decision tree (round 7): recursive partitioning — the CART
    * construction [[stump]] stops one level short of. Level 1 picks the
    * single globally-best (feature, threshold) split by misclassification
    * error; level 2 re-runs the identical split search INSIDE each
    * branch, conditioned on the level-1 decision — the data-dependent
    * recursion that distinguishes a tree from three independent stumps.
    *
    * Scale: exactly one histogram pass per LEVEL (not per node): all
    * nodes of a level share one (branch, feature, value) aggregate with
    * map-side partials, the standard distributed-CART layout (deeper
    * trees add passes linearly in depth, never in node count). The
    * level-1 winner is a 1-row broadcast; branch labeling is a per-row
    * codegen'd CASE.
    *
    * Determinism (D2): integer features, integer error counts; winners
    * break ties by (err, feature, v) ASC — a total order, so both
    * engines pick the same tree.
    */
  private val tree = QueryDef(
    "q_ml_tree",
    (s, d) => {
      val base = graft.Caches.scoped(graft.Tables.lineitem(s, d).select(
        col("l_quantity").cast("long").as("qty"),
        (pct(col("l_discount")) * 100).cast("long").as("disc_c"),
        (pct(col("l_tax")) * 100).cast("long").as("tax_c"),
        when(col("l_extendedprice") >= 52000.0, lit(1L)).otherwise(lit(0L))
          .as("y")))
      def bestSplits(labeled: org.apache.spark.sql.DataFrame) = {
        val long = labeled.select(col("branch"), col("y"), explode(expr(
          """array(struct('quantity' AS feature, qty AS v),
            |      struct('discount' AS feature, disc_c AS v),
            |      struct('tax' AS feature, tax_c AS v))""".stripMargin))
          .as("fv"))
          .select(col("branch"), col("fv.feature").as("feature"),
            col("fv.v").as("v"), col("y"))
        val hist = long.groupBy(col("branch"), col("feature"), col("v"))
          .agg(sum(col("y")).as("pos"),
            (count(lit(1)) - sum(col("y"))).as("neg"))
        val wf = Window.partitionBy(col("branch"), col("feature"))
          .orderBy(ascf("v"))
        val wt = Window.partitionBy(col("branch"), col("feature"))
        hist
          .withColumn("pos_le", sum(col("pos")).over(wf))
          .withColumn("neg_le", sum(col("neg")).over(wf))
          .withColumn("pos_t", sum(col("pos")).over(wt))
          .withColumn("neg_t", sum(col("neg")).over(wt))
          .withColumn("err",
            least(col("pos_le"), col("neg_le")) +
              least(col("pos_t") - col("pos_le"),
                col("neg_t") - col("neg_le")))
          .withColumn("rn", row_number().over(Window
            .partitionBy(col("branch"))
            .orderBy(ascf("err"), ascf("feature"), ascf("v"))))
          .filter(col("rn") === 1)
          .select(col("branch"), col("feature"),
            col("v").as("best_threshold"), col("err").as("n_err"),
            (col("pos_t") + col("neg_t")).as("n_total"),
            expr("(pos_t + neg_t - err) * 1000000 div (pos_t + neg_t)")
              .as("accuracy_e6"))
      }
      val root = bestSplits(base.withColumn("branch", lit("root")))
      val rb = broadcast(root.select(col("feature").as("rf"),
        col("best_threshold").as("rt")))
      val labeled = base.crossJoin(rb)
        .withColumn("branch", when(
          (col("rf") === "quantity" && col("qty") <= col("rt")) ||
            (col("rf") === "discount" && col("disc_c") <= col("rt")) ||
            (col("rf") === "tax" && col("tax_c") <= col("rt")),
          lit("left")).otherwise(lit("right")))
        .drop("rf", "rt")
      root.unionByName(bestSplits(labeled))
        .orderBy(ascf("branch"))
    },
    Some("""WITH base AS (SELECT
           |    CAST(l_quantity AS BIGINT) AS qty,
           |    CAST(CAST(l_discount AS DECIMAL(3,2)) * 100 AS BIGINT)
           |      AS disc_c,
           |    CAST(CAST(l_tax AS DECIMAL(3,2)) * 100 AS BIGINT) AS tax_c,
           |    CASE WHEN l_extendedprice >= 52000.0 THEN 1 ELSE 0 END AS y
           |  FROM lineitem),
           |long0 AS (
           |  SELECT 'quantity' AS feature, qty AS v, y FROM base
           |  UNION ALL SELECT 'discount', disc_c, y FROM base
           |  UNION ALL SELECT 'tax', tax_c, y FROM base),
           |hist0 AS (SELECT feature, v, sum(y) AS pos,
           |    count(*) - sum(y) AS neg
           |  FROM long0 GROUP BY feature, v),
           |sc0 AS (SELECT feature, v,
           |    sum(pos) OVER wf AS pos_le, sum(neg) OVER wf AS neg_le,
           |    sum(pos) OVER wt AS pos_t, sum(neg) OVER wt AS neg_t
           |  FROM hist0
           |  WINDOW wf AS (PARTITION BY feature ORDER BY v ASC
           |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
           |  wt AS (PARTITION BY feature)),
           |er0 AS (SELECT feature, v, pos_t, neg_t,
           |    least(pos_le, neg_le)
           |      + least(pos_t - pos_le, neg_t - neg_le) AS err
           |  FROM sc0),
           |root AS (SELECT 'root' AS branch, feature,
           |    v AS best_threshold, err, pos_t, neg_t
           |  FROM (SELECT feature, v, err, pos_t, neg_t,
           |      row_number() OVER (ORDER BY err ASC, feature ASC, v ASC)
           |        AS rn FROM er0)
           |  WHERE rn = 1),
           |lab AS (SELECT base.*, CASE WHEN
           |    (root.feature = 'quantity' AND base.qty <= root.best_threshold)
           |    OR (root.feature = 'discount'
           |        AND base.disc_c <= root.best_threshold)
           |    OR (root.feature = 'tax'
           |        AND base.tax_c <= root.best_threshold)
           |    THEN 'left' ELSE 'right' END AS branch
           |  FROM base CROSS JOIN root),
           |long1 AS (
           |  SELECT branch, 'quantity' AS feature, qty AS v, y FROM lab
           |  UNION ALL SELECT branch, 'discount', disc_c, y FROM lab
           |  UNION ALL SELECT branch, 'tax', tax_c, y FROM lab),
           |hist1 AS (SELECT branch, feature, v, sum(y) AS pos,
           |    count(*) - sum(y) AS neg
           |  FROM long1 GROUP BY branch, feature, v),
           |sc1 AS (SELECT branch, feature, v,
           |    sum(pos) OVER wf AS pos_le, sum(neg) OVER wf AS neg_le,
           |    sum(pos) OVER wt AS pos_t, sum(neg) OVER wt AS neg_t
           |  FROM hist1
           |  WINDOW wf AS (PARTITION BY branch, feature ORDER BY v ASC
           |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
           |  wt AS (PARTITION BY branch, feature)),
           |er1 AS (SELECT branch, feature, v, pos_t, neg_t,
           |    least(pos_le, neg_le)
           |      + least(pos_t - pos_le, neg_t - neg_le) AS err
           |  FROM sc1),
           |leaves AS (SELECT branch, feature, v AS best_threshold,
           |    err, pos_t, neg_t
           |  FROM (SELECT branch, feature, v, err, pos_t, neg_t,
           |      row_number() OVER (PARTITION BY branch
           |        ORDER BY err ASC, feature ASC, v ASC) AS rn FROM er1)
           |  WHERE rn = 1),
           |allrows AS (SELECT * FROM root UNION ALL SELECT * FROM leaves)
           |SELECT branch, feature,
           |  CAST(best_threshold AS BIGINT) AS best_threshold,
           |  CAST(err AS BIGINT) AS n_err,
           |  CAST(pos_t + neg_t AS BIGINT) AS n_total,
           |  CAST((pos_t + neg_t - err) * 1000000 // (pos_t + neg_t)
           |    AS BIGINT) AS accuracy_e6
           |FROM allrows
           |ORDER BY branch ASC NULLS FIRST""".stripMargin))

  /** Classifier evaluation suite (round 7): confusion matrix and the
    * derived quality metrics — precision, recall, F1, accuracy — for a
    * fixed decision rule (qty ≥ 25) against the shared high-price label,
    * per linestatus segment. This is the EVALUATION operator every ML
    * pipeline runs after q_ml_{stump,tree,perceptron,naive_bayes}-style
    * training: the rule under test is deliberately a frozen constant so
    * the graded surface is the metric arithmetic itself, not a model.
    *
    * Scale: one fact-table scan; the four confusion cells are
    * conditional-sum aggregates in ONE hash aggregate with map-side
    * partials (the q_agg_filtered shape), so the exchange carries
    * |segments| rows regardless of corpus size; metrics are per-row
    * arithmetic on the census.
    *
    * Determinism (D2/D12): all cells int64; metrics in 1e-6 units by
    * floor division of non-negative operands (`div` ≡ `//`);
    * zero-denominator cells pin to 0 by CASE on both engines
    * (F1 = 2tp·1e6 div (2tp+fp+fn) — one division, no rounding drift
    * from a precision/recall recombination).
    */
  private val confusion = QueryDef(
    "q_ml_confusion",
    (s, d) => {
      val li = graft.Tables.lineitem(s, d).select(
        col("l_linestatus").as("seg"),
        when(col("l_quantity") >= 25.0, lit(1L)).otherwise(lit(0L)).as("p"),
        when(col("l_extendedprice") >= 52000.0, lit(1L)).otherwise(lit(0L))
          .as("y"))
      li.groupBy(col("seg"))
        .agg(
          sum(col("p") * col("y")).as("tp"),
          sum(col("p") * (lit(1L) - col("y"))).as("fp"),
          sum((lit(1L) - col("p")) * col("y")).as("fn"),
          sum((lit(1L) - col("p")) * (lit(1L) - col("y"))).as("tn"))
        .select(col("seg"), col("tp"), col("fp"), col("fn"), col("tn"),
          expr("""CASE WHEN tp + fp = 0 THEN 0
                 | ELSE (tp * 1000000) div (tp + fp) END""".stripMargin)
            .as("precision_e6"),
          expr("""CASE WHEN tp + fn = 0 THEN 0
                 | ELSE (tp * 1000000) div (tp + fn) END""".stripMargin)
            .as("recall_e6"),
          expr("""CASE WHEN 2 * tp + fp + fn = 0 THEN 0
                 | ELSE (2 * tp * 1000000) div (2 * tp + fp + fn) END"""
            .stripMargin).as("f1_e6"),
          expr("((tp + tn) * 1000000) div (tp + fp + fn + tn)")
            .as("accuracy_e6"))
        .orderBy(ascf("seg"))
    },
    Some("""WITH base AS (SELECT l_linestatus AS seg,
           |    CASE WHEN l_quantity >= 25.0 THEN 1 ELSE 0 END AS p,
           |    CASE WHEN l_extendedprice >= 52000.0 THEN 1 ELSE 0 END AS y
           |  FROM lineitem),
           |cells AS (SELECT seg,
           |    CAST(sum(p * y) AS BIGINT) AS tp,
           |    CAST(sum(p * (1 - y)) AS BIGINT) AS fp,
           |    CAST(sum((1 - p) * y) AS BIGINT) AS fn,
           |    CAST(sum((1 - p) * (1 - y)) AS BIGINT) AS tn
           |  FROM base GROUP BY seg)
           |SELECT seg, tp, fp, fn, tn,
           |  CAST(CASE WHEN tp + fp = 0 THEN 0
           |    ELSE (tp * 1000000) // (tp + fp) END AS BIGINT)
           |    AS precision_e6,
           |  CAST(CASE WHEN tp + fn = 0 THEN 0
           |    ELSE (tp * 1000000) // (tp + fn) END AS BIGINT) AS recall_e6,
           |  CAST(CASE WHEN 2 * tp + fp + fn = 0 THEN 0
           |    ELSE (2 * tp * 1000000) // (2 * tp + fp + fn) END AS BIGINT)
           |    AS f1_e6,
           |  CAST(((tp + tn) * 1000000) // (tp + fp + fn + tn) AS BIGINT)
           |    AS accuracy_e6
           |FROM cells
           |ORDER BY seg ASC NULLS FIRST""".stripMargin))

  /** One exact ALS half-step (round 7): the alternating-least-squares
    * recommender update — item factors held FIXED (rank 2, deterministic
    * integer vectors derived from the item key), every user's factor
    * vector solved in closed form from the ridge normal equations
    * (AᵀA + λI)p = Aᵀr with λ=1. This is the distributed-ALS shape
    * exactly: ratings group by user in ONE shuffle, each user's 2×2
    * system solves locally (Cramer), item factors ride a broadcast-able
    * derivation — the alternating other half is the same query with u/i
    * swapped, and more rounds alternate the two.
    *
    * The 2×2 solve is EXACT integer arithmetic: det = (a11+1)(a22+1) −
    * a12² ≥ 1 by ridge construction, adjugate·b gives integer
    * numerators (possibly negative), and the e6 quantization uses the
    * shared subtract-pmod floor so Spark `div` and DuckDB `//` agree on
    * signed values (D12).
    *
    * Scale: ratings = one (user, item) partial agg of lineitem⋈orders;
    * per-user moments = a second agg on the user key (same exchange);
    * the census is nation-sized. Nothing iterates: one half-step is one
    * aggregation pass, which is why ALS parallelizes where SGD fights.
    *
    * Determinism (D1/D2/D12): all int64; magnitudes bounded — factor
    * components ≤ 7 ⇒ a-moments ≤ 49·|items|, b-moments ≤ 7·Σr, so
    * numerators stay ≈ 2.5e8 and the ×1e6 scale ≈ 2.5e14 < 2⁶³.
    */
  private val alsStep = QueryDef(
    "q_ml_als_step",
    (s, d) => {
      val li = graft.Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_suppkey"),
          col("l_quantity").cast("long").as("qty"))
      val o = graft.Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_custkey"))
      val ratings = li
        .join(o, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_custkey").as("u"), col("l_suppkey").as("i"))
        .agg(sum(col("qty")).as("r"))
        // fixed rank-2 item factors (the alternating half's output)
        .withColumn("q1", lit(1L) + pmod(col("i") * 7, lit(5)))
        .withColumn("q2", lit(1L) + pmod(col("i") * 3, lit(7)))
      val moments = ratings.groupBy(col("u"))
        .agg(sum(col("q1") * col("q1")).as("a11"),
          sum(col("q1") * col("q2")).as("a12"),
          sum(col("q2") * col("q2")).as("a22"),
          sum(col("r") * col("q1")).as("b1"),
          sum(col("r") * col("q2")).as("b2"))
      val solved = moments
        .withColumn("det",
          (col("a11") + 1) * (col("a22") + 1) - col("a12") * col("a12"))
        .withColumn("n1",
          (col("a22") + 1) * col("b1") - col("a12") * col("b2"))
        .withColumn("n2",
          (col("a11") + 1) * col("b2") - col("a12") * col("b1"))
        // signed e6 floor via subtract-pmod: numerators stay < 2^50
        // (see magnitude bound in the docstring) so plain int64 is safe
        .withColumn("x1", col("n1") * 1000000L)
        .withColumn("x2", col("n2") * 1000000L)
        .withColumn("p1_e6", expr("(x1 - pmod(x1, det)) div det"))
        .withColumn("p2_e6", expr("(x2 - pmod(x2, det)) div det"))
      solved
        .join(broadcast(graft.Tables.customer(s, d)
          .select(col("c_custkey"), col("c_nationkey"))),
          col("u") === col("c_custkey"))
        .groupBy(col("c_nationkey").cast("long").as("nationkey"))
        .agg(count(lit(1)).as("n_users"),
          sum(col("p1_e6")).as("sum_p1_e6"),
          sum(col("p2_e6")).as("sum_p2_e6"),
          min(col("p1_e6")).as("min_p1_e6"),
          max(col("p2_e6")).as("max_p2_e6"))
        .orderBy(ascf("nationkey"))
    },
    Some("""WITH li AS (SELECT o.o_custkey AS u, l.l_suppkey AS i,
           |    sum(CAST(l_quantity AS BIGINT)) AS r
           |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
           |  GROUP BY 1, 2),
           |rated AS (SELECT u, i, r,
           |    1 + (i * 7) % 5 AS q1, 1 + (i * 3) % 7 AS q2
           |  FROM li),
           |mo AS (SELECT u,
           |    sum(q1 * q1) AS a11, sum(q1 * q2) AS a12,
           |    sum(q2 * q2) AS a22,
           |    sum(r * q1) AS b1, sum(r * q2) AS b2
           |  FROM rated GROUP BY u),
           |sv AS (SELECT u,
           |    (a11 + 1) * (a22 + 1) - a12 * a12 AS det,
           |    (a22 + 1) * b1 - a12 * b2 AS n1,
           |    (a11 + 1) * b2 - a12 * b1 AS n2
           |  FROM mo),
           |pq AS (SELECT u,
           |    CAST((n1 * 1000000
           |      - ((n1 * 1000000 % det + det) % det)) // det AS BIGINT)
           |      AS p1_e6,
           |    CAST((n2 * 1000000
           |      - ((n2 * 1000000 % det + det) % det)) // det AS BIGINT)
           |      AS p2_e6
           |  FROM sv)
           |SELECT CAST(c.c_nationkey AS BIGINT) AS nationkey,
           |  CAST(count(*) AS BIGINT) AS n_users,
           |  CAST(sum(p1_e6) AS BIGINT) AS sum_p1_e6,
           |  CAST(sum(p2_e6) AS BIGINT) AS sum_p2_e6,
           |  CAST(min(p1_e6) AS BIGINT) AS min_p1_e6,
           |  CAST(max(p2_e6) AS BIGINT) AS max_p2_e6
           |FROM pq JOIN customer c ON pq.u = c.c_custkey
           |GROUP BY 1
           |ORDER BY nationkey ASC NULLS FIRST""".stripMargin))

  /** Calibration / reliability curve (round 7): bin the scored corpus
    * by the classifier's raw score and compare each bin's PREDICTED
    * positive propensity against its OBSERVED positive rate — the eval
    * that catches a model whose accuracy is fine but whose scores lie
    * (the deployment question is almost always "can I threshold this
    * score", not "is argmax right"). The score under test is the
    * quantity margin the q_ml_confusion rule thresholds; bins are
    * fixed-width score bands (deterministic, data-independent edges —
    * production uses quantile bins, same census one q_agg_percentile
    * away).
    *
    * Scale: one scan; (bin) census with map-side partials — the
    * exchange carries ≤ 10 rows at any corpus size.
    *
    * Determinism (D2/D12): integer scores and counts; rates in e6 by
    * floor division.
    */
  private val calibration = QueryDef(
    "q_ml_calibration",
    (s, d) => {
      val li = graft.Tables.lineitem(s, d).select(
        col("l_quantity").cast("long").as("qty"),
        when(col("l_extendedprice") >= 52000.0, lit(1L)).otherwise(lit(0L))
          .as("y"))
      // fixed-width bins over the 1..50 quantity domain: bin = (qty-1) div 5
      li.withColumn("bin", expr("(qty - 1) div 5"))
        .groupBy(col("bin"))
        .agg(count(lit(1)).as("n"),
          sum(col("y")).as("n_pos"),
          min(col("qty")).as("qty_lo"), max(col("qty")).as("qty_hi"))
        .select(col("bin"), col("n"), col("n_pos"),
          col("qty_lo"), col("qty_hi"),
          expr("(n_pos * 1000000) div n").as("obs_rate_e6"),
          // the rule's predicted propensity: 1 iff the bin is entirely
          // ≥ 25 (the threshold), 0 if entirely below, else mixed by
          // in-bin share of qty ≥ 25 — exact integer arithmetic
          expr("""CASE WHEN qty_lo >= 25 THEN 1000000
                 | WHEN qty_hi < 25 THEN 0
                 | ELSE ((qty_hi - 25 + 1) * 1000000)
                 |   div (qty_hi - qty_lo + 1) END""".stripMargin)
            .as("pred_rate_e6"))
        .orderBy(ascf("bin"))
    },
    Some("""WITH b AS (SELECT
           |    (CAST(l_quantity AS BIGINT) - 1) // 5 AS bin,
           |    CAST(l_quantity AS BIGINT) AS qty,
           |    CASE WHEN l_extendedprice >= 52000.0 THEN 1 ELSE 0 END AS y
           |  FROM lineitem),
           |g AS (SELECT bin, count(*) AS n,
           |    CAST(sum(y) AS BIGINT) AS n_pos,
           |    min(qty) AS qty_lo, max(qty) AS qty_hi
           |  FROM b GROUP BY bin)
           |SELECT CAST(bin AS BIGINT) AS bin, CAST(n AS BIGINT) AS n,
           |  n_pos, CAST(qty_lo AS BIGINT) AS qty_lo,
           |  CAST(qty_hi AS BIGINT) AS qty_hi,
           |  CAST((n_pos * 1000000) // n AS BIGINT) AS obs_rate_e6,
           |  CAST(CASE WHEN qty_lo >= 25 THEN 1000000
           |    WHEN qty_hi < 25 THEN 0
           |    ELSE ((qty_hi - 25 + 1) * 1000000)
           |      // (qty_hi - qty_lo + 1) END AS BIGINT) AS pred_rate_e6
           |FROM g
           |ORDER BY bin ASC NULLS FIRST""".stripMargin))

  /** Brier score with the Murphy decomposition (round 7): the proper
    * scoring rule for probabilistic classifiers — mean squared error
    * between forecast probability and 0/1 outcome — split into
    * reliability (calibration error), resolution (how much the
    * forecaster separates outcomes), and uncertainty (base-rate
    * variance): Brier ≈ REL − RES + UNC. Completes the evaluation
    * tier: confusion (hard labels) ✓ calibration curve (per-bin) ✓
    * Brier (one proper-score number + its diagnosis) ✓. Graded on the
    * same forecaster as q_ml_calibration (the quantity-bin propensity
    * rule scoring y = high-price), so curve and score cannot drift.
    *
    * The forecast is constant within a bin, so the row-level squared
    * error collapses algebraically: Σ_rows (p−y)² = n·p² − 2p·pos +
    * pos·1e12 (y² = y) — bin-grain aggregates suffice, no row-level
    * re-join of predictions.
    *
    * Scale: one corpus pass builds the bin-grain (n, pos, lo, hi)
    * relation; score and decomposition are censuses over ≤ 10 bins
    * with a broadcast 1-row base rate.
    *
    * Determinism (D2/D12): p, o, ō in e6 by floor division; all
    * squared-error sums stage through DECIMAL(38,0)/HUGEINT (n·p² ≈
    * 6e18 at the 10× probe passes 2⁶³); each output is one floor
    * division of exact integers.
    */
  private val brier = QueryDef(
    "q_ml_brier",
    (s, d) => {
      val li = graft.Tables.lineitem(s, d).select(
        col("l_quantity").cast("long").as("qty"),
        when(col("l_extendedprice") >= 52000.0, lit(1L)).otherwise(lit(0L))
          .as("y"))
      val bins = li.withColumn("bin", expr("(qty - 1) div 5"))
        .groupBy(col("bin"))
        .agg(count(lit(1)).as("n_k"), sum(col("y")).as("pos_k"),
          min(col("qty")).as("qty_lo"), max(col("qty")).as("qty_hi"))
        .withColumn("p_k",
          expr("""CASE WHEN qty_lo >= 25 THEN 1000000
                 | WHEN qty_hi < 25 THEN 0
                 | ELSE ((qty_hi - 25 + 1) * 1000000)
                 |   div (qty_hi - qty_lo + 1) END""".stripMargin))
        .withColumn("o_k", expr("(pos_k * 1000000) div n_k"))
      val base = bins.agg(sum(col("n_k")).as("n"),
        sum(col("pos_k")).as("pos"))
        .withColumn("obar", expr("(pos * 1000000) div n"))
      bins.crossJoin(broadcast(base))
        .groupBy(col("n"), col("pos"), col("obar"))
        .agg(count(lit(1)).as("n_bins"),
          sum(expr("""cast(n_k as decimal(38,0)) * p_k * p_k
                     |  - 2 * cast(p_k as decimal(38,0)) * pos_k * 1000000
                     |  + cast(pos_k as decimal(38,0)) * 1000000000000"""
            .stripMargin)).as("sq"),
          sum(expr("""cast(n_k as decimal(38,0)) * (p_k - o_k)
                     |  * (p_k - o_k)""".stripMargin)).as("rel"),
          sum(expr("""cast(n_k as decimal(38,0)) * (o_k - obar)
                     |  * (o_k - obar)""".stripMargin)).as("res"))
        .select(col("n"), col("n_bins"),
          expr("cast(sq div (cast(n as decimal(38,0)) * 1000000) as bigint)")
            .as("brier_e6"),
          expr("cast(rel div (cast(n as decimal(38,0)) * 1000000) as bigint)")
            .as("reliability_e6"),
          expr("cast(res div (cast(n as decimal(38,0)) * 1000000) as bigint)")
            .as("resolution_e6"),
          expr("(obar * (1000000 - obar)) div 1000000")
            .as("uncertainty_e6"))
        .orderBy(ascf("n"))
    },
    Some("""WITH b AS (SELECT
           |    (CAST(l_quantity AS BIGINT) - 1) // 5 AS bin,
           |    CAST(l_quantity AS BIGINT) AS qty,
           |    CASE WHEN l_extendedprice >= 52000.0 THEN 1 ELSE 0 END AS y
           |  FROM lineitem),
           |g AS (SELECT bin, count(*) AS n_k,
           |    CAST(sum(y) AS BIGINT) AS pos_k,
           |    min(qty) AS qty_lo, max(qty) AS qty_hi
           |  FROM b GROUP BY bin),
           |p AS (SELECT *,
           |    CAST(CASE WHEN qty_lo >= 25 THEN 1000000
           |      WHEN qty_hi < 25 THEN 0
           |      ELSE ((qty_hi - 25 + 1) * 1000000)
           |        // (qty_hi - qty_lo + 1) END AS BIGINT) AS p_k,
           |    CAST((pos_k * 1000000) // n_k AS BIGINT) AS o_k
           |  FROM g),
           |t AS (SELECT CAST(sum(n_k) AS BIGINT) AS n,
           |    CAST(sum(pos_k) AS BIGINT) AS pos FROM p),
           |t2 AS (SELECT n, pos,
           |    CAST((pos * 1000000) // n AS BIGINT) AS obar FROM t),
           |a AS (SELECT t2.n, t2.obar, count(*) AS n_bins,
           |    sum(CAST(n_k AS HUGEINT) * p_k * p_k
           |      - 2 * CAST(p_k AS HUGEINT) * pos_k * 1000000
           |      + CAST(pos_k AS HUGEINT) * 1000000000000) AS sq,
           |    sum(CAST(n_k AS HUGEINT) * (p_k - o_k) * (p_k - o_k))
           |      AS rel,
           |    sum(CAST(n_k AS HUGEINT) * (o_k - t2.obar)
           |      * (o_k - t2.obar)) AS res
           |  FROM p CROSS JOIN t2
           |  GROUP BY t2.n, t2.obar)
           |SELECT n, CAST(n_bins AS BIGINT) AS n_bins,
           |  CAST(sq // (CAST(n AS HUGEINT) * 1000000) AS BIGINT)
           |    AS brier_e6,
           |  CAST(rel // (CAST(n AS HUGEINT) * 1000000) AS BIGINT)
           |    AS reliability_e6,
           |  CAST(res // (CAST(n AS HUGEINT) * 1000000) AS BIGINT)
           |    AS resolution_e6,
           |  CAST((obar * (1000000 - obar)) // 1000000 AS BIGINT)
           |    AS uncertainty_e6
           |FROM a ORDER BY n ASC NULLS FIRST""".stripMargin))

  /** Gradient-boosted regression, two rounds (round 7): F₀ = global
    * mean, then per round the exhaustive SSE-optimal stump on the
    * CURRENT RESIDUALS with mean leaf values — the additive-model
    * mechanics of every GBDT (q_ml_stump grades one split on raw
    * labels; boosting grades the residual RE-FIT, which is what makes
    * a forest of weak learners a strong one). Per round: the chosen
    * (feature, threshold), leaf values, split sizes, the variance this
    * split explains, and the SSE ratio after the update — round 2's
    * numbers are computed on residuals round 1 already shrank, so a
    * residual-update bug anywhere breaks round 2's hash.
    *
    * Target: the exact multiplier (1−discount)(1+tax) in e4 units — a
    * KNOWN two-factor interaction, chosen because the fixture's
    * extendedprice is statistically independent of every feature
    * (measured corr(qty, price) = 0.003 at sf0.01; a price target
    * makes the best split explain 0.009% of variance — a vacuous
    * argmax). Here round 1 must discover discount, round 2 must
    * discover tax on the shrunk residuals, and quantity is the
    * planted DISTRACTOR the exhaustive search has to reject — all
    * three behaviors graded non-vacuously.
    *
    * Scale: exactly the GBDT histogram recipe — per round ONE unpivoted
    * corpus pass partial-aggs to a (feature, value) histogram carrying
    * (count, Σr, Σr²); split search = cumulative windows over the tiny
    * histogram; SSE before/after comes from the SAME moments (never a
    * second corpus pass: SSE_side = Σr² − 2γΣr + nγ²); the residual
    * update is a map-side CASE against the broadcast 1-row best split.
    *
    * Determinism: y = the exact DECIMAL product (1−d)(1+t) ×10⁴ —
    * hundredth-valued factors cast to DECIMAL(3,2) BEFORE multiplying
    * (D2; a double product would sit on tie boundaries); residuals
    * exact int64; Σr² widens to
    * DECIMAL(38,0)/HUGEINT before summation; gains compare as
    * per-candidate truncating divisions SL²÷nL + SR²÷nR (part of the
    * contract); argmax tiebreak (gain desc, feature asc, v asc); leaf
    * γ = Σr÷n truncates toward zero identically on negatives.
    */
  private val boost = QueryDef(
    "q_ml_boost",
    (s, d) => {
      val base = Caches.scoped(graft.Tables.lineitem(s, d).select(
        col("l_quantity").cast("long").as("qty"),
        (pct(col("l_discount")) * 100).cast("long").as("disc_c"),
        (pct(col("l_tax")) * 100).cast("long").as("tax_c"),
        ((oneMinus(col("l_discount")) * onePlus(col("l_tax")))
          .cast(DecimalType(8, 4)) * 10000).cast("long").as("y_e4")))
      val f0 = base.agg(sum(col("y_e4")).as("sy"), count(lit(1)).as("n"))
        .select(expr("cast(sy div n as bigint)").as("f0"))
      // rows stays an UNCACHED projection over the cached base: the
      // residual chain is a map-side CASE per round, and re-running it
      // is cheaper than materializing a corpus-sized cache per round
      // (measured 13.6 s → cache only the 1-row split results instead)
      var rows = base.crossJoin(broadcast(f0))
        .select(col("qty"), col("disc_c"), col("tax_c"),
          (col("y_e4") - col("f0")).as("r"))
      val out = (1 to 2).map { round =>
        val long = rows.select(col("r"), explode(expr(
          """array(struct('quantity' AS feature, qty AS v),
            |      struct('discount' AS feature, disc_c AS v),
            |      struct('tax' AS feature, tax_c AS v))""".stripMargin))
          .as("fv"))
          .select(col("fv.feature").as("feature"), col("fv.v").as("v"),
            col("r"))
        val hist = long.groupBy(col("feature"), col("v"))
          .agg(count(lit(1)).as("c"), sum(col("r")).as("sr"),
            sum(col("r").cast(DecimalType(38, 0)) * col("r")).as("sr2"))
        val wf = Window.partitionBy(col("feature")).orderBy(ascf("v"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val wt = Window.partitionBy(col("feature"))
        val scored = hist
          .withColumn("cl", sum(col("c")).over(wf))
          .withColumn("sl", sum(col("sr")).over(wf))
          .withColumn("ct", sum(col("c")).over(wt))
          .withColumn("st", sum(col("sr")).over(wt))
          .withColumn("s2t", sum(col("sr2")).over(wt))
          .filter(col("cl") < col("ct"))
          .withColumn("gain", expr(
            """cast(sl as decimal(38,0)) * sl div cast(cl as decimal(38,0))
              |  + cast(st - sl as decimal(38,0)) * (st - sl)
              |    div cast(ct - cl as decimal(38,0))""".stripMargin))
        val best = scored.withColumn("rn", row_number().over(
            Window.orderBy(descl("gain"), ascf("feature"), ascf("v"))))
          .filter(col("rn") === 1)
        val bb = Caches.scoped(best
          .select(col("feature").as("bf"), col("v").as("bv"),
            col("cl").as("nl"), (col("ct") - col("cl")).as("nr"),
            col("sl"), (col("st") - col("sl")).as("srr"), col("s2t"))
          .withColumn("gl", expr("cast(sl div nl as bigint)"))
          .withColumn("gr", expr("cast(srr div nr as bigint)"))
          .withColumn("sse_after", expr(
            """s2t - 2 * cast(gl as decimal(38,0)) * sl
              |  + cast(nl as decimal(38,0)) * gl * gl
              |  - 2 * cast(gr as decimal(38,0)) * srr
              |  + cast(nr as decimal(38,0)) * gr * gr""".stripMargin)))
        val row = bb.select(lit(round.toLong).as("round"),
          col("bf").as("feature"), col("bv").as("threshold"),
          col("nl").as("n_left"), col("nr").as("n_right"),
          col("gl").as("gamma_l_e4"), col("gr").as("gamma_r_e4"),
          expr("cast((s2t - sse_after) * 1000000 div s2t as bigint)")
            .as("ve_e6"),
          expr("cast(sse_after * 1000000 div s2t as bigint)")
            .as("sse_ratio_e6"))
        rows = rows
          .crossJoin(broadcast(bb.select(col("bf"), col("bv"),
            col("gl"), col("gr"))))
          .withColumn("x", expr(
            """case bf when 'quantity' then qty
              |  when 'discount' then disc_c else tax_c end""".stripMargin))
          .select(col("qty"), col("disc_c"), col("tax_c"),
            (col("r") - when(col("x") <= col("bv"), col("gl"))
              .otherwise(col("gr"))).as("r"))
        row
      }
      out.reduce(_ unionByName _).orderBy(ascf("round"))
    },
    Some {
      def round(i: Int): String = {
        val rrel = if (i == 1) "r1" else s"res${i - 1}"
        s"""long$i AS (
           |  SELECT 'quantity' AS feature, qty AS v, r FROM $rrel
           |  UNION ALL SELECT 'discount', disc_c, r FROM $rrel
           |  UNION ALL SELECT 'tax', tax_c, r FROM $rrel),
           |h$i AS (SELECT feature, v, CAST(count(*) AS BIGINT) AS c,
           |    CAST(sum(r) AS BIGINT) AS sr,
           |    sum(CAST(r AS HUGEINT) * r) AS sr2
           |  FROM long$i GROUP BY 1, 2),
           |c$i AS (SELECT feature, v,
           |    sum(c) OVER wf AS cl, sum(sr) OVER wf AS sl,
           |    sum(c) OVER wt AS ct, sum(sr) OVER wt AS st,
           |    sum(sr2) OVER wt AS s2t
           |  FROM h$i
           |  WINDOW wf AS (PARTITION BY feature ORDER BY v ASC
           |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
           |  wt AS (PARTITION BY feature)),
           |g$i AS (SELECT *,
           |    CAST(sl AS HUGEINT) * sl // cl
           |      + CAST(st - sl AS HUGEINT) * (st - sl) // (ct - cl) AS gain
           |  FROM c$i WHERE cl < ct),
           |b$i AS MATERIALIZED (SELECT feature AS bf, v AS bv,
           |    CAST(cl AS BIGINT) AS nl, CAST(ct - cl AS BIGINT) AS nr,
           |    sl, st - sl AS srr, s2t,
           |    CAST(sl // cl AS BIGINT) AS gl,
           |    CAST((st - sl) // (ct - cl) AS BIGINT) AS gr
           |  FROM g$i
           |  ORDER BY gain DESC, feature ASC, v ASC LIMIT 1),
           |e$i AS MATERIALIZED (SELECT *,
           |    s2t - 2 * CAST(gl AS HUGEINT) * sl
           |      + CAST(nl AS HUGEINT) * gl * gl
           |      - 2 * CAST(gr AS HUGEINT) * srr
           |      + CAST(nr AS HUGEINT) * gr * gr AS sse_after
           |  FROM b$i),
           |res$i AS MATERIALIZED (SELECT qty, disc_c, tax_c,
           |    r - CASE WHEN (CASE bf WHEN 'quantity' THEN qty
           |        WHEN 'discount' THEN disc_c ELSE tax_c END) <= bv
           |      THEN gl ELSE gr END AS r
           |  FROM $rrel CROSS JOIN e$i)""".stripMargin
      }
      s"""WITH base AS (SELECT
         |    CAST(l_quantity AS BIGINT) AS qty,
         |    CAST(CAST(l_discount AS DECIMAL(3,2)) * 100 AS BIGINT)
         |      AS disc_c,
         |    CAST(CAST(l_tax AS DECIMAL(3,2)) * 100 AS BIGINT) AS tax_c,
         |    CAST(CAST((1 - CAST(l_discount AS DECIMAL(3,2)))
         |      * (1 + CAST(l_tax AS DECIMAL(3,2))) AS DECIMAL(8,4))
         |      * 10000 AS BIGINT) AS y_e4
         |  FROM lineitem),
         |f0 AS (SELECT CAST(sum(y_e4) // count(*) AS BIGINT) AS f0
         |  FROM base),
         |r1 AS MATERIALIZED (SELECT qty, disc_c, tax_c, y_e4 - f0 AS r
         |  FROM base CROSS JOIN f0),
         |${round(1)},
         |${round(2)}
         |SELECT * FROM (
         |  SELECT CAST(1 AS BIGINT) AS round, bf AS feature,
         |    CAST(bv AS BIGINT) AS threshold, nl AS n_left, nr AS n_right,
         |    gl AS gamma_l_e4, gr AS gamma_r_e4,
         |    CAST((s2t - sse_after) * 1000000 // s2t AS BIGINT) AS ve_e6,
         |    CAST(sse_after * 1000000 // s2t AS BIGINT) AS sse_ratio_e6
         |  FROM e1
         |  UNION ALL
         |  SELECT CAST(2 AS BIGINT), bf, CAST(bv AS BIGINT), nl, nr, gl, gr,
         |    CAST((s2t - sse_after) * 1000000 // s2t AS BIGINT),
         |    CAST(sse_after * 1000000 // s2t AS BIGINT)
         |  FROM e2)
         |ORDER BY round ASC NULLS FIRST""".stripMargin
    })

  /** Logistic-regression gradient steps (round 8, batch 99): two
    * full-batch gradient-descent steps of a logistic classifier
    * (predict discount ≥ 5% from quantity and tax cents) with the
    * HARD sigmoid σ(m) = clamp(½ + m/4, 0, 1) in e6 fixed point — the
    * piecewise-linear surrogate quantized/embedded inference uses,
    * chosen here because it is EXACTLY representable in both engines
    * (the real exp-sigmoid is not cross-engine bit-stable; rule D7).
    * Per step: one map-side pass computes the error-weighted feature
    * sums against broadcast weights, the 1-row gradient ships back to
    * the driver (the q_ml_perceptron parameter-server pattern), the
    * update w := w − ⌊⌊Σe·x/n⌋/16⌋ is exact integer floor math, and a
    * second pass grades post-step training accuracy. Graded output:
    * per-step weights (e6) + accuracy (e6).
    *
    * Scale: the only corpus-sized work is two codegen'd scans per step
    * (gradient + accuracy); weights are 3 driver longs at any SF — the
    * full-batch GD shape every distributed LR implementation runs.
    * Per-row addend |e·x| ≤ 5·10⁷, so the int64 sum holds to ~10¹¹
    * rows; beyond that the sums widen to DECIMAL(38,0) (same knob as
    * q_agg_cuped).
    *
    * Determinism (D1/D2): all divisions of possibly-negative values
    * TRUNCATE TOWARD ZERO on both engines — DuckDB's integer `//`
    * truncates (measured: −7 // 2 = −3, despite the "floor" folklore),
    * as do Scala's Long `/` and the (c − c % m)/m spelling used for
    * the sigmoid shift; the hard sigmoid clamp is least/greatest;
    * labels and features are exact ints off the fixture.
    */
  private val logregStep = QueryDef(
    "q_ml_logreg_step",
    (s, d) => {
      val base = Caches.scoped(graft.Tables.lineitem(s, d).select(
        col("l_quantity").cast("long").as("x1"),
        (pct(col("l_tax")) * 100).cast("long").as("x2"),
        when(pct(col("l_discount")) * 100 >= 5, 1L).otherwise(0L).as("y")))
      val n = base.count()
      val w = Array(0L, 0L, 0L) // e6 fixed-point (intercept, x1, x2)
      def margin = lit(w(0)) + lit(w(1)) * col("x1") + lit(w(2)) * col("x2")
      // truncating division of a possibly-negative long column: Spark %
      // carries the dividend's sign, so (c − c % m)/m is exact and
      // truncates toward zero — DuckDB's integer `//` semantics
      def tdiv(c: org.apache.spark.sql.Column, m: Long) =
        ((c - c % m) / m).cast("long")
      val out = (1 to 2).map { step =>
        val p = least(greatest(lit(500000L) + tdiv(margin, 4L),
          lit(0L)), lit(1000000L))
        val e = p - col("y") * 1000000L
        val g = base.agg(
          sum(e).as("g0"), sum(e * col("x1")).as("g1"),
          sum(e * col("x2")).as("g2")).head()
        for (j <- 0 to 2)
          w(j) -= g.getLong(j) / n / 16L
        val acc = base.agg(sum(
          when((margin >= 0L) === (col("y") === 1L), 1L).otherwise(0L))
          .as("c")).head().getLong(0)
        (step.toLong, w(0), w(1), w(2), acc * 1000000L / n)
      }
      import s.implicits._
      out.toDF("step", "w0_e6", "w1_e6", "w2_e6", "acc_e6")
        .orderBy(ascf("step"))
    },
    Some {
      // unrolled two-step mirror; step 1's margin is identically 0
      // (w = 0), so p = 500000 exactly on both engines
      """WITH b AS (SELECT CAST(l_quantity AS BIGINT) AS x1,
        |    CAST(CAST(l_tax AS DECIMAL(3,2)) * 100 AS BIGINT) AS x2,
        |    CASE WHEN CAST(l_discount AS DECIMAL(3,2)) * 100 >= 5
        |      THEN 1 ELSE 0 END AS y
        |  FROM lineitem),
        |nn AS (SELECT count(*) AS n FROM b),
        |g1 AS (SELECT sum(500000 - y * 1000000) AS s0,
        |    sum((500000 - y * 1000000) * x1) AS s1,
        |    sum((500000 - y * 1000000) * x2) AS s2
        |  FROM b),
        |w1 AS (SELECT -((s0 // n) // 16) AS w0, -((s1 // n) // 16) AS w1,
        |    -((s2 // n) // 16) AS w2 FROM g1 CROSS JOIN nn),
        |a1 AS (SELECT sum(CASE WHEN
        |      ((w0 + w1 * x1 + w2 * x2) >= 0) = (y = 1)
        |      THEN 1 ELSE 0 END) AS c
        |  FROM b CROSS JOIN w1),
        |e2 AS (SELECT y, x1, x2,
        |    least(greatest(500000 + ((w0 + w1 * x1 + w2 * x2) // 4),
        |      0), 1000000) - y * 1000000 AS e
        |  FROM b CROSS JOIN w1),
        |g2 AS (SELECT sum(e) AS s0, sum(e * x1) AS s1, sum(e * x2) AS s2
        |  FROM e2),
        |w2t AS (SELECT w1.w0 - ((s0 // n) // 16) AS w0,
        |    w1.w1 - ((s1 // n) // 16) AS w1,
        |    w1.w2 - ((s2 // n) // 16) AS w2
        |  FROM g2 CROSS JOIN w1 CROSS JOIN nn),
        |a2 AS (SELECT sum(CASE WHEN
        |      ((w0 + w1 * x1 + w2 * x2) >= 0) = (y = 1)
        |      THEN 1 ELSE 0 END) AS c
        |  FROM b CROSS JOIN w2t)
        |SELECT CAST(step AS BIGINT) AS step,
        |  CAST(w0 AS BIGINT) AS w0_e6, CAST(w1 AS BIGINT) AS w1_e6,
        |  CAST(w2 AS BIGINT) AS w2_e6, CAST(acc AS BIGINT) AS acc_e6
        |FROM (
        |  SELECT 1 AS step, w1.w0 AS w0, w1.w1 AS w1, w1.w2 AS w2,
        |    a1.c * 1000000 // nn.n AS acc
        |  FROM w1 CROSS JOIN a1 CROSS JOIN nn
        |  UNION ALL
        |  SELECT 2 AS step, w2t.w0, w2t.w1, w2t.w2,
        |    a2.c * 1000000 // nn.n AS acc
        |  FROM w2t CROSS JOIN a2 CROSS JOIN nn)
        |ORDER BY step ASC NULLS FIRST""".stripMargin
    })

  /** K-fold cross-validated model selection (round 8, batch 105): the
    * evaluation protocol none of the other q_ml_* keys grade — pick a
    * threshold classifier ("predict discount ≥ 5% iff quantity ≥ v")
    * by 3-fold CV: for each fold, train on the OUT-of-fold rows (argmax
    * training accuracy over all candidate thresholds via one histogram
    * + exclusive-prefix windows — TP(v) + TN(v) from cumulative counts,
    * never a per-threshold scan) and score on the held-out fold.
    * Graded per fold: chosen threshold, train accuracy, test accuracy
    * (e6) — so fold assignment, split search, and the generalization
    * gap are all hash-pinned.
    *
    * Scale: per fold one corpus histogram pass (map-side combine to ≤
    * |qty domain| cells) + one test-scoring pass against the broadcast
    * 1-row winner; the threshold search runs entirely on the
    * value-bounded histogram (the q_ml_stump discipline). Folds are a
    * deterministic key mod — the q_sample_hash reproducibility
    * contract applied to CV.
    *
    * Determinism: integer counts; argmax total order (correct DESC,
    * v ASC); accuracies are truncating divs of non-negative ints.
    */
  private val cvStump = QueryDef(
    "q_ml_cv_stump",
    (s, d) => {
      val base = Caches.scoped(graft.Tables.lineitem(s, d).select(
        col("l_quantity").cast("long").as("qty"),
        when(pct(col("l_discount")) * 100 >= 5, 1L).otherwise(0L).as("y"),
        pmod(col("l_orderkey"), lit(3)).as("fold")))
      import org.apache.spark.sql.expressions.Window
      val out = (0L to 2L).map { f =>
        val hist = base.filter(col("fold") =!= f)
          .groupBy(col("qty"))
          .agg(count(lit(1)).as("n"), sum(col("y")).as("npos"))
        val wB = Window.orderBy(ascf("qty"))
          .rowsBetween(Window.unboundedPreceding, -1)
        val best = hist
          .withColumn("bn", coalesce(sum(col("n")).over(wB), lit(0L)))
          .withColumn("bp", coalesce(sum(col("npos")).over(wB), lit(0L)))
          .crossJoin(broadcast(hist.agg(sum(col("n")).as("tn"),
            sum(col("npos")).as("tp"))))
          .select(col("qty").as("v"),
            ((col("tp") - col("bp")) + (col("bn") - col("bp")))
              .as("correct"),
            col("tn"))
          .orderBy(descl("correct"), ascf("v"))
          .head()
        val (bv, trainCorrect, trainN) =
          (best.getLong(0), best.getLong(1), best.getLong(2))
        val t = base.filter(col("fold") === f)
          .agg(count(lit(1)).as("n"),
            sum(when((col("qty") >= bv) === (col("y") === 1L), 1L)
              .otherwise(0L)).as("c")).head()
        (f, bv, trainCorrect * 1000000L / trainN,
          t.getLong(1) * 1000000L / t.getLong(0))
      }
      import s.implicits._
      out.toDF("fold", "best_v", "train_acc_e6", "test_acc_e6")
        .orderBy(ascf("fold"))
    },
    Some {
      def foldSql(f: Int): String =
        s"""h$f AS (SELECT qty, count(*) AS n, sum(y) AS npos
           |  FROM b WHERE fold <> $f GROUP BY 1),
           |t$f AS (SELECT sum(n) AS tn, sum(npos) AS tp FROM h$f),
           |c$f AS (SELECT qty,
           |    coalesce(sum(n) OVER (ORDER BY qty ASC ROWS BETWEEN
           |      UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS bn,
           |    coalesce(sum(npos) OVER (ORDER BY qty ASC ROWS BETWEEN
           |      UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS bp
           |  FROM h$f),
           |best$f AS (SELECT qty AS v,
           |    (tp - bp) + (bn - bp) AS correct, tn
           |  FROM c$f CROSS JOIN t$f
           |  ORDER BY correct DESC, v ASC LIMIT 1),
           |test$f AS (SELECT count(*) AS n,
           |    sum(CASE WHEN (b.qty >= best$f.v) = (b.y = 1)
           |      THEN 1 ELSE 0 END) AS c
           |  FROM b CROSS JOIN best$f WHERE b.fold = $f),
           |row$f AS (SELECT $f AS fold, best$f.v AS best_v,
           |    best$f.correct * 1000000 // best$f.tn AS train_acc_e6,
           |    test$f.c * 1000000 // test$f.n AS test_acc_e6
           |  FROM best$f CROSS JOIN test$f)""".stripMargin
      s"""WITH b AS (SELECT CAST(l_quantity AS BIGINT) AS qty,
         |    CASE WHEN CAST(l_discount AS DECIMAL(3,2)) * 100 >= 5
         |      THEN 1 ELSE 0 END AS y,
         |    l_orderkey % 3 AS fold
         |  FROM lineitem),
         |${(0 to 2).map(foldSql).mkString(",\n")}
         |SELECT CAST(fold AS BIGINT) AS fold, CAST(best_v AS BIGINT)
         |    AS best_v,
         |  CAST(train_acc_e6 AS BIGINT) AS train_acc_e6,
         |  CAST(test_acc_e6 AS BIGINT) AS test_acc_e6
         |FROM (SELECT * FROM row0 UNION ALL SELECT * FROM row1
         |      UNION ALL SELECT * FROM row2)
         |ORDER BY fold ASC NULLS FIRST""".stripMargin
    })

  /** Weight-of-evidence / information-value table (round 10): the
    * credit-scoring feature-screening census — per quantity bin (the
    * q_ml_calibration bins), WoE = ln(good-share) − ln(bad-share)
    * against the shared high-price label, and the bin's IV contribution
    * (share_good − share_bad)·WoE. Σ IV over bins is the standard
    * "is this feature worth binning into the model" screen (< 0.02
    * useless, > 0.3 strong). Laplace +1 smoothing on every cell so
    * empty-cell bins stay defined (stated convention, applied
    * identically on both engines).
    *
    * Determinism (D12): all four logs are DetMath.lnInt on exact
    * positive integers — bit-identical cross-engine by construction (no
    * libm); shares are e6 floor divisions; the IV term multiplies two
    * ALREADY-QUANTIZED integers and floor-divides once, so no
    * double-product crosses an engine boundary.
    *
    * Scale: one fact scan → 10-bin census with map-side partials;
    * totals broadcast; everything after runs on 10 rows.
    */
  private val woeIv = QueryDef(
    "q_ml_woe_iv",
    (s, d) => {
      import graft.functions.DetMath
      val li = graft.Tables.lineitem(s, d).select(
        expr("(cast(l_quantity as bigint) - 1) div 5").as("bin"),
        when(col("l_extendedprice") >= 52000.0, lit(1L)).otherwise(lit(0L))
          .as("y"))
      val bins = li.groupBy(col("bin"))
        .agg(count(lit(1)).as("n"), sum(col("y")).as("good"))
        .withColumn("bad", col("n") - col("good"))
      val tot = bins.agg(sum(col("good")).as("tg"), sum(col("bad")).as("tb"),
        count(lit(1)).as("nb"))
      val rows = bins.crossJoin(broadcast(tot))
        .withColumn("g1", col("good") + 1L)
        .withColumn("b1", col("bad") + 1L)
        .withColumn("tg1", col("tg") + col("nb"))
        .withColumn("tb1", col("tb") + col("nb"))
      val woe = (DetMath.lnInt(col("g1")) - DetMath.lnInt(col("tg1"))
        - DetMath.lnInt(col("b1")) + DetMath.lnInt(col("tb1")))
      rows
        .withColumn("woe_e6", floor(woe * lit(1000000.0)).cast("long"))
        .withColumn("share_g_e6", expr("(g1 * 1000000) div tg1"))
        .withColumn("share_b_e6", expr("(b1 * 1000000) div tb1"))
        .withColumn("iv_e6", expr(
          """((share_g_e6 - share_b_e6) * woe_e6
            | - pmod((share_g_e6 - share_b_e6) * woe_e6, 1000000))
            | div 1000000""".stripMargin))
        .select(col("bin"), col("n"), col("good"), col("bad"),
          col("woe_e6"), col("share_g_e6"), col("share_b_e6"),
          col("iv_e6"))
        .orderBy(ascf("bin"))
    },
    Some {
      import graft.functions.DetMath._
      s"""WITH li AS (SELECT
         |    (CAST(l_quantity AS BIGINT) - 1) // 5 AS bin,
         |    CASE WHEN l_extendedprice >= 52000.0 THEN 1 ELSE 0 END AS y
         |  FROM lineitem),
         |b AS (SELECT bin, count(*) AS n, CAST(sum(y) AS BIGINT) AS good
         |  FROM li GROUP BY bin),
         |b2 AS (SELECT bin, n, good, n - good AS bad FROM b),
         |t AS (SELECT CAST(sum(good) AS BIGINT) AS tg,
         |    CAST(sum(bad) AS BIGINT) AS tb, count(*) AS nb FROM b2),
         |r0 AS (SELECT bin, n, good, bad,
         |    good + 1 AS g1, bad + 1 AS b1,
         |    tg + nb AS tg1, tb + nb AS tb1
         |  FROM b2 CROSS JOIN t),
         |r1 AS (SELECT *, ${kSql("g1")} AS kg, ${kSql("b1")} AS kb,
         |    ${kSql("tg1")} AS ktg, ${kSql("tb1")} AS ktb FROM r0),
         |r2 AS (SELECT *, ${mSql("g1", "kg")} AS mg,
         |    ${mSql("b1", "kb")} AS mb, ${mSql("tg1", "ktg")} AS mtg,
         |    ${mSql("tb1", "ktb")} AS mtb FROM r1),
         |r3 AS (SELECT *, ${zSql("mg")} AS zg, ${zSql("mb")} AS zb,
         |    ${zSql("mtg")} AS ztg, ${zSql("mtb")} AS ztb FROM r2),
         |r4 AS (SELECT *, zg*zg AS zg2, zb*zb AS zb2, ztg*ztg AS ztg2,
         |    ztb*ztb AS ztb2 FROM r3),
         |r5 AS (SELECT *, ${hornerSql("zg2")} AS hg,
         |    ${hornerSql("zb2")} AS hb, ${hornerSql("ztg2")} AS htg,
         |    ${hornerSql("ztb2")} AS htb FROM r4),
         |r6 AS (SELECT bin, n, good, bad, g1, b1, tg1, tb1,
         |    CAST(floor((${lnSql("kg", "zg", "hg")}
         |      - ${lnSql("ktg", "ztg", "htg")}
         |      - ${lnSql("kb", "zb", "hb")}
         |      + ${lnSql("ktb", "ztb", "htb")})
         |      * CAST(1000000 AS DOUBLE)) AS BIGINT) AS woe_e6
         |  FROM r5),
         |r7 AS (SELECT bin, n, good, bad, woe_e6,
         |    CAST((g1 * 1000000) // tg1 AS BIGINT) AS share_g_e6,
         |    CAST((b1 * 1000000) // tb1 AS BIGINT) AS share_b_e6
         |  FROM r6)
         |SELECT bin, CAST(n AS BIGINT) AS n, good, bad, woe_e6,
         |  share_g_e6, share_b_e6,
         |  CAST(((share_g_e6 - share_b_e6) * woe_e6
         |    - ((((share_g_e6 - share_b_e6) * woe_e6) % 1000000 + 1000000)
         |       % 1000000)) // 1000000 AS BIGINT) AS iv_e6
         |FROM r7
         |ORDER BY bin ASC NULLS FIRST""".stripMargin
    })

  def defs: Seq[QueryDef] = Seq(kmeans, perceptron, naiveBayes, stump,
    linreg, knn, tree, confusion, alsStep, calibration, brier, boost,
    logregStep, cvStump, woeIv)
}
