package graft

import org.apache.spark.sql.execution.{SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec}

/** Physical-plan assertions (SURVEY.md §4): the optimizations we rely on
  * at 100 TB must actually appear in the executed plans — predicate
  * pushdown reaching the parquet scan, column pruning in ReadSchema,
  * broadcast joins for sub-threshold dims, and whole-stage codegen in
  * the hot paths.
  */
class PlanSpec extends SparkSpec {

  private def executedPlan(name: String): SparkPlan = {
    val df = Registry.queries(name)(spark, sfDir)
    // collect() executes THIS QueryExecution so AQE finalizes in place
    // (count() would wrap it in a new plan and leave this one unexecuted)
    df.collect()
    df.queryExecution.executedPlan
  }

  /** Full traversal incl. AQE wrappers — QueryStageExec hides its
    * subtree behind `plan` (children is empty at stage boundaries).
    */
  private def collectAll(p: SparkPlan): Seq[SparkPlan] = {
    val nested = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case r: ReusedExchangeExec => Seq(r.child)
      case w: WholeStageCodegenExec => Seq(w.child)
      // Caches.shared persists the band-candidate / pair relations, so
      // consumers see an InMemoryTableScan — the pinned join shape lives
      // inside the cached plan; recurse into it
      case m: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec =>
        Seq(m.relation.cachedPlan)
      case _ => Seq.empty
    }
    Seq(p) ++ (p.children ++ nested).flatMap(collectAll)
  }

  private def planString(name: String): String = {
    val df = Registry.queries(name)(spark, sfDir)
    df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
  }

  test("q_scan_pushdown pushes its predicates into the parquet scan") {
    val p = planString("q_scan_pushdown")
    assert(p.contains("PushedFilters: ["), p)
    // the quantity/shipdate range predicates must reach the scan
    assert(p.contains("GreaterThanOrEqual(l_quantity") &&
      p.contains("GreaterThanOrEqual(l_shipdate"), p)
  }

  test("q_scan_project prunes to the referenced columns only") {
    val p = planString("q_scan_project")
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    // projection + derived revenue needs 4 columns, not all 16
    assert(!readSchema.contains("l_comment") && !readSchema.contains("l_tax"),
      readSchema)
  }

  test("q_join_broadcast plans a broadcast hash join, not a shuffle") {
    val nodes = collectAll(executedPlan("q_join_broadcast"))
    assert(nodes.exists(_.isInstanceOf[BroadcastHashJoinExec]),
      nodes.map(_.nodeName).distinct.mkString(", "))
    assert(!nodes.exists(_.isInstanceOf[SortMergeJoinExec]),
      "small-dim join fell back to sort-merge")
  }

  test("q_join_skew_aqe executes with an AQE skew-split sort-merge join") {
    // VERDICT r8 next #6: the skew-handling plan a fleet actually runs.
    // The key builds on a child session with probe-scaled skew
    // thresholds; the FINAL adaptive plan must mark the hot-key join
    // skew=true (OptimizeSkewedJoin fired), and the join must still be
    // sort-merge (broadcast disabled — skew split only applies there).
    val df = Registry.queries("q_join_skew_aqe")(spark, sfDir)
    df.collect()
    val nodes = collectAll(df.queryExecution.executedPlan)
    val smj = nodes.collect { case j: SortMergeJoinExec => j }
    assert(smj.nonEmpty, nodes.map(_.nodeName).distinct.mkString(", "))
    assert(smj.exists(_.isSkewJoin),
      s"AQE did not mark the skew join:\n${df.queryExecution.executedPlan}")
  }

  test("flagship aggregation runs inside whole-stage codegen") {
    val nodes = collectAll(executedPlan("q_agg_q1"))
    assert(nodes.exists(_.isInstanceOf[WholeStageCodegenExec]),
      nodes.map(_.nodeName).distinct.mkString(", "))
  }

  test("cosine pair generation joins on LSH band buckets, never label alone") {
    // VERDICT r3 #1: the exact-threshold pair ops must generate
    // candidates from the hyperplane-band buckets; an equi-join keyed on
    // `label` alone would be the quadratic all-pairs shape at 100 TB.
    for (q <- Seq("q_sim_threshold_join", "q_dedup_embed")) {
      // pre-AQE physical plan: at sf0.01 q_dedup_embed finds zero dup
      // pairs, and AQE's empty-relation propagation would prune the
      // whole candidate-join subtree from the executed plan
      val nodes = collectAll(
        Registry.queries(q)(spark, sfDir).queryExecution.sparkPlan)
      val joins = nodes.collect {
        case j: SortMergeJoinExec => (j.joinType, j.leftKeys)
        case j: BroadcastHashJoinExec => (j.joinType, j.leftKeys)
        case j: org.apache.spark.sql.execution.joins.ShuffledHashJoinExec =>
          (j.joinType, j.leftKeys)
      }
      assert(joins.exists { case (_, ks) =>
        ks.exists(_.toString.contains("band")) &&
          ks.exists(_.toString.contains("bv")) },
        s"$q: no join carries the (band, bv) bucket key: " +
          joins.map(_._2.mkString("[", ",", "]")).mkString("; "))
      // the tiny per-label summary LEFT join is fine; what must not
      // exist is an INNER pair-generating join keyed on label alone
      assert(!joins.exists { case (t, ks) =>
        t == org.apache.spark.sql.catalyst.plans.Inner &&
          ks.length == 1 && ks.head.toString.contains("label") },
        s"$q: found an inner self-join keyed on label alone")
    }
  }

  test("stream interval join carries the 30-min cell bucket key") {
    // VERDICT r4 #2: an equi-join on user_id alone is per-user all-pairs
    // — quadratic on a skewed user. The shared clickPurchasePairs must
    // join on (user_id, cell); both consumers inherit the shape.
    for (q <- Seq("q_stream_join", "q_stream_funnel")) {
      val nodes = collectAll(
        Registry.queries(q)(spark, sfDir).queryExecution.sparkPlan)
      val joins = nodes.collect {
        case j: SortMergeJoinExec => (j.joinType, j.leftKeys)
        case j: BroadcastHashJoinExec => (j.joinType, j.leftKeys)
        case j: org.apache.spark.sql.execution.joins.ShuffledHashJoinExec =>
          (j.joinType, j.leftKeys)
      }
      assert(joins.exists { case (_, ks) =>
        ks.exists(_.toString.contains("user_id")) &&
          ks.exists(_.toString.contains("cell")) },
        s"$q: no join carries the (user_id, cell) bucket key: " +
          joins.map(_._2.mkString("[", ",", "]")).mkString("; "))
      assert(!joins.exists { case (t, ks) =>
        t == org.apache.spark.sql.catalyst.plans.Inner &&
          ks.length == 1 && ks.head.toString.contains("user_id") },
        s"$q: found an inner join keyed on user_id alone")
    }
  }

  test("set-similarity candidate joins carry bucket keys, never lang alone") {
    // The r5 exact-join keys must generate candidates from prefix
    // postings (q_sim_cosine_sets: dense token-id key `tid`) or band buckets
    // (q_dedup_simhash_exact: (k, bandv)) — an inner self-join keyed on
    // `lang` alone is the quadratic all-pairs shape at 100 TB.
    val expect = Seq(
      "q_sim_cosine_sets" -> Seq("lang", "tid"),
      "q_dedup_simhash_exact" -> Seq("k", "bandv"))
    for ((q, keys) <- expect) {
      val nodes = collectAll(
        Registry.queries(q)(spark, sfDir).queryExecution.sparkPlan)
      val joins = nodes.collect {
        case j: SortMergeJoinExec => (j.joinType, j.leftKeys)
        case j: BroadcastHashJoinExec => (j.joinType, j.leftKeys)
        case j: org.apache.spark.sql.execution.joins.ShuffledHashJoinExec =>
          (j.joinType, j.leftKeys)
      }
      assert(joins.exists { case (_, ks) =>
        keys.forall(k => ks.exists(_.toString.contains(k))) },
        s"$q: no join carries ${keys.mkString("(", ",", ")")}: " +
          joins.map(_._2.mkString("[", ",", "]")).mkString("; "))
      assert(!joins.exists { case (t, ks) =>
        t == org.apache.spark.sql.catalyst.plans.Inner &&
          ks.length == 1 && ks.head.toString.contains("lang") },
        s"$q: found an inner self-join keyed on lang alone")
      Caches.releaseScoped()
    }
  }

  test("q_join_q5 pushes the date slice into the orders scan") {
    val p = planString("q_join_q5")
    assert(p.contains("GreaterThanOrEqual(o_orderdate") &&
      p.contains("LessThan(o_orderdate"), p.take(2000))
    // at verify scale every dim fits the broadcast threshold — the fact
    // side must not be exchanged for the joins
    val nodes = collectAll(executedPlan("q_join_q5"))
    assert(nodes.exists(_.isInstanceOf[BroadcastHashJoinExec]),
      nodes.map(_.nodeName).distinct.mkString(", "))
  }

  test("partial (map-side) aggregation precedes the shuffle in q_agg_q1") {
    val p = planString("q_agg_q1")
    // two HashAggregate rounds around one Exchange = partial + final
    assert("HashAggregate".r.findAllIn(p).size >= 2, p.take(2000))
    assert(p.contains("Exchange"), p.take(2000))
  }

  test("q_source_partitioned prunes lake partitions at the scan") {
    // the lang filter must resolve into directory pruning (a
    // PartitionFilters entry on the read), not a post-scan Filter —
    // at 100 TB that is scanning 2/5 of the corpus vs all of it
    val p = planString("q_source_partitioned")
    val pf = p.linesIterator.filter(_.contains("PartitionFilters: ["))
      .mkString("\n")
    assert(pf.contains("lang"), s"no partition filter on lang:\n${p.take(2000)}")
  }

  test("q_join_dpp carries a dynamic-pruning subquery on the fact scan") {
    // the dim side must turn into a RUNTIME partition filter on the
    // day-partitioned fact (dynamicpruning expression), not a plain
    // join over a full scan — at 100 TB this is reading 1/5 of the
    // lake vs all of it
    val p = planString("q_join_dpp")
    assert(p.toLowerCase.contains("dynamicpruning"),
      s"no dynamic pruning in the dpp plan:\n${p.take(3000)}")
    Caches.releaseScoped(); Caches.releaseShared()
  }

  test("q_ts_moving computes all rolling aggregates in one Window operator") {
    // sum/max/count share the RANGE frame spec, so Catalyst must fuse
    // them — a second Window node would mean a second sort of the
    // hour-grain relation per added aggregate
    // count operator LINES in the formatted explain (collectAll visits
    // WholeStageCodegen children twice, so instance counting over-counts)
    val p = planString("q_ts_moving")
    val windows = "\\(\\d+\\) Window\\b".r.findAllIn(p).size
    assert(windows == 1,
      s"expected 1 fused Window operator, got $windows:\n${p.take(2000)}")
  }

  test("q_graph_triangles reads the cached edge relation, not 3 fact scans") {
    val df = Registry.queries("q_graph_triangles")(spark, sfDir)
    try {
      df.collect()
      val nodes = collectAll(df.queryExecution.executedPlan)
      val cached = nodes.count(
        _.isInstanceOf[org.apache.spark.sql.execution.columnar.InMemoryTableScanExec])
      assert(cached >= 3,
        s"expected >= 3 cached-edge scans (3-way self-join), got $cached")
    } finally Caches.releaseScoped()
  }

  test("extension rewrites the HOF dot product to the native expression") {
    import org.apache.spark.sql.functions._
    // the engine-portable spelling every oracle mirrors — the OPTIMIZER,
    // not the query author, must swap in the codegen'd primitive loop
    val v = Tables.embeddings(spark, sfDir).limit(50)
      .select(col("vec_id"), transform(col("embedding"),
        x => round(x.cast("double") * 1000000, 0).cast("long")).as("v"))
    val df = v.select(col("vec_id"), expr(
      """aggregate(zip_with(v, v, (p, q) -> p * q),
        |  bigint(0), (acc, t) -> acc + t)""".stripMargin).as("dot"))
    val opt = df.queryExecution.optimizedPlan.toString
    assert(opt.toLowerCase.contains("graft_dot"),
      s"HOF dot not rewritten:\n$opt")
    // result equality: the rewritten plan matches a plain-Scala dot
    val got = df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = v.collect().map { r =>
      val a = r.getSeq[Long](1)
      r.getLong(0) -> a.map(x => x * x).sum
    }.toMap
    assert(got == want)
    // the SQL-registered twin computes the same thing
    v.createOrReplaceTempView("ext_dot_probe")
    val viaSql = spark.sql(
      "SELECT vec_id, graft_dot(v, v) AS dot FROM ext_dot_probe")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaSql == want)
  }

  test("HOF shapes that are NOT a plain dot survive the rewrite rule") {
    import org.apache.spark.sql.functions._
    // squared-distance (kmeans assign) and a non-zero fold seed must be
    // left untouched — a false-positive rewrite would silently change
    // semantics everywhere
    val v = Tables.embeddings(spark, sfDir).limit(10)
      .select(transform(col("embedding"),
        x => round(x.cast("double") * 1000000, 0).cast("long")).as("v"))
    val sq = v.select(expr(
      """aggregate(zip_with(v, v, (p, q) -> (p - q) * (p - q)),
        |  bigint(0), (acc, t) -> acc + t)""".stripMargin).as("d"))
    assert(!sq.queryExecution.optimizedPlan.toString
      .toLowerCase.contains("graft_dot"))
    assert(sq.collect().forall(_.getLong(0) == 0L))
    val seeded = v.select(expr(
      """aggregate(zip_with(v, v, (p, q) -> p * q),
        |  bigint(7), (acc, t) -> acc + t)""".stripMargin).as("d"))
    assert(!seeded.queryExecution.optimizedPlan.toString
      .toLowerCase.contains("graft_dot"))
  }

  test("extension rewrites the HOF squared distance to the native expression") {
    import org.apache.spark.sql.functions._
    // the k-means / IVF / PQ inner-loop spelling — same declare-then-
    // optimize contract as the dot rewrite
    val v = Tables.embeddings(spark, sfDir).limit(50)
      .select(col("vec_id"), transform(col("embedding"),
        x => round(x.cast("double") * 1000000, 0).cast("long")).as("v"))
      .withColumn("w", expr("transform(v, x -> x + 3L)"))
    val df = v.select(col("vec_id"), expr(
      """aggregate(zip_with(v, w, (p, q) -> (p - q) * (p - q)),
        |  bigint(0), (acc, t) -> acc + t)""".stripMargin).as("d"))
    val opt = df.queryExecution.optimizedPlan.toString
    assert(opt.toLowerCase.contains("graft_sqdist"),
      s"HOF sqdist not rewritten:\n$opt")
    // result equality vs plain Scala: Σ(v−(v+3))² = 64·9
    val got = df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.values.forall(_ == 64L * 9), got.take(3).toString)
    // MIXED-order factors are the NEGATED square — must NOT rewrite
    val neg = v.select(expr(
      """aggregate(zip_with(v, w, (p, q) -> (p - q) * (q - p)),
        |  bigint(0), (acc, t) -> acc + t)""".stripMargin).as("d"))
    assert(!neg.queryExecution.optimizedPlan.toString
      .toLowerCase.contains("graft_sqdist"))
    assert(neg.collect().forall(_.getLong(0) == -64L * 9))
    // SQL-registered twin
    v.createOrReplaceTempView("ext_sqd_probe")
    val viaSql = spark.sql(
      "SELECT vec_id, graft_sqdist(v, w) AS d FROM ext_sqd_probe")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaSql == got)
  }

  test("phash candidate join carries the (lang, band, value) bucket key") {
    // The image near-dup candidate generator must join on the full
    // band-bucket key — keyed on lang alone it is the quadratic
    // all-pairs shape (the q_dedup_embed r3 lesson, multimodal edition).
    val nodes = collectAll(
      Registry.queries("q_mm_phash")(spark, sfDir).queryExecution.sparkPlan)
    val joins = nodes.collect {
      case j: SortMergeJoinExec => (j.joinType, j.leftKeys)
      case j: BroadcastHashJoinExec => (j.joinType, j.leftKeys)
      case j: org.apache.spark.sql.execution.joins.ShuffledHashJoinExec =>
        (j.joinType, j.leftKeys)
    }
    assert(joins.exists { case (_, ks) =>
      Seq("bix", "bv").forall(k => ks.exists(_.toString.contains(k))) },
      joins.map(_._2.mkString("[", ",", "]")).mkString("; "))
    assert(!joins.exists { case (t, ks) =>
      t == org.apache.spark.sql.catalyst.plans.Inner &&
        ks.length == 1 && ks.head.toString.contains("lang") },
      "found an inner join keyed on lang alone")
    Caches.releaseScoped()
  }

  test("ann_sq selects candidates with a distributed TakeOrdered, not a global sort") {
    // top-32 by approximate dot must plan as TakeOrderedAndProject
    // (per-partition top-k + merge); a single-partition global Sort
    // would serialize the corpus through one task at scale.
    val p = planString("q_sim_ann_sq")
    assert(p.contains("TakeOrderedAndProject"), p.take(2000))
    Caches.releaseScoped()
  }

  test("ann serve path reads the persisted index and never rebuilds codes") {
    // the build/probe split only pays off if the probe plan scans the
    // persisted artifact: the index location must appear as a scan, and
    // the code DERIVATION (the per-dimension posexplode of the raw
    // vectors) must NOT — the only Generate in the build path would be
    // that explode, so its absence is the no-rebuild proof. The exact
    // rerank still reads embeddings, but only behind the 32-row
    // candidate join.
    val p = planString("q_sim_ann_serve")
    assert(p.contains("graft_ann_index"), p.take(2000))
    assert(!p.contains("Generate"),
      "serve plan contains an explode — it is rebuilding codes:\n" + p.take(2000))
    assert(p.contains("TakeOrderedAndProject"), p.take(2000))
    Caches.releaseScoped()
  }

  test("time travel resolves each version to its own immutable data dir") {
    // both censuses must scan through the manifest indirection — the
    // version directories appear as distinct scan locations; a plan
    // that read one directory twice (or the live dir directly) would
    // not be a snapshot read.
    val p = planString("q_lake_timetravel")
    assert(p.contains("data-00000001"), p.take(2000))
    assert(p.contains("data-00000002"), p.take(2000))
    Caches.releaseScoped()
  }

  test("q_ml_confusion computes all four cells in ONE scan") {
    // the q_agg_filtered promise applied to evaluation: adding a
    // predicated cell must never add a scan (formatted explain lists
    // each physical node exactly once — collectAll multi-visits AQE
    // wrappers and cannot count)
    val p = planString("q_ml_confusion")
    // formatted mode names each node twice: once in the tree, once in
    // the details section — 2 occurrences == 1 physical scan
    val scans = p.sliding("Scan parquet".length).count(_ == "Scan parquet")
    assert(scans == 2, s"expected 1 lineitem scan (2 mentions), saw $scans")
    Caches.releaseScoped()
  }

  test("q_agg_pareto aggregates parts before the cumulative window") {
    // reduce-then-rank: the window input must be the part-sized
    // aggregate, never a window over raw lineitem
    val p = planString("q_agg_pareto")
    assert(p.contains("Window") && p.contains("HashAggregate"), p.take(1500))
    Caches.releaseScoped()
  }

  test("lake layout keys plan no corpus-grain global window (VERDICT r7 #1)") {
    // A `Window.orderBy` with no partitionBy runs as ONE task holding
    // its whole input — fatal when the input is corpus-grain. The three
    // lake-layout keys now cut files via Dsl.globalNtile (range
    // exchange + broadcast prefix offsets); the only empty-partitionSpec
    // windows left must sit above an aggregate (value-bounded input:
    // the 32-row per-partition counts relation).
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    def bounded(p: SparkPlan): Boolean = p match {
      case _: BaseAggregateExec => true
      case a: AdaptiveSparkPlanExec => bounded(a.executedPlan)
      case q: QueryStageExec => bounded(q.plan)
      case r: ReusedExchangeExec => bounded(r.child)
      case m: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec =>
        bounded(m.relation.cachedPlan)
      case _: org.apache.spark.sql.execution.RangeExec => true
      case _: org.apache.spark.sql.execution.LocalTableScanExec => true
      case l if l.children.isEmpty => false // file/RDD scan: corpus-grain
      case other => other.children.forall(bounded)
    }
    for (q <- Seq("q_lake_zorder", "q_lake_zonemap", "q_lake_bloom_index")) {
      val nodes = collectAll(executedPlan(q))
      val bad = nodes.collect {
        case w: WindowExec if w.partitionSpec.isEmpty && !bounded(w.child) => w
      }
      assert(bad.isEmpty,
        s"$q plans a corpus-grain global window: " +
          bad.map(_.simpleString(120)).mkString("; "))
      Caches.releaseScoped()
    }
  }

  test("hybrid RRF legs select candidates with distributed TakeOrdered") {
    // both retrieval legs must plan per-partition top-k + merge (the
    // q_sim_ann_sq discipline); a global Sort would serialize the
    // corpus through one task at scale
    val p = planString("q_sim_hybrid_rrf")
    assert("TakeOrderedAndProject".r.findAllIn(p).size >= 2, p.take(2000))
    Caches.releaseScoped()
  }

  test("range-split assignment plans no corpus-grain global window") {
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    def bounded(p: SparkPlan): Boolean = p match {
      case _: BaseAggregateExec => true
      case a: AdaptiveSparkPlanExec => bounded(a.executedPlan)
      case q: QueryStageExec => bounded(q.plan)
      case r: ReusedExchangeExec => bounded(r.child)
      case m: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec =>
        bounded(m.relation.cachedPlan)
      case l if l.children.isEmpty => false
      case other => other.children.forall(bounded)
    }
    val nodes = collectAll(executedPlan("q_shard_range_splits"))
    val bad = nodes.collect {
      case w: WindowExec if w.partitionSpec.isEmpty && !bounded(w.child) => w
    }
    assert(bad.isEmpty, bad.map(_.simpleString(120)).mkString("; "))
    Caches.releaseScoped()
  }

  test("q_fn_base64 codecs stay in one pass before the lang census") {
    // per-row codec projections: one scan; the only exchanges are the
    // census aggregation's
    val p = planString("q_fn_base64")
    val scans = p.sliding("Scan parquet".length).count(_ == "Scan parquet")
    assert(scans == 2, s"expected 1 scan (2 mentions), saw $scans")
    Caches.releaseScoped()
  }

  test("round-10 global-order keys plan no corpus-grain global window") {
    // q_ml_lift_gains rides Dsl.globalNtile and q_mix_token_budget
    // rides Dsl.globalCumSum — the only empty-partitionSpec windows in
    // either plan must sit above an aggregate or other value-bounded
    // input (the 32-row partition-counts relation / the 10-row decile
    // census), never above corpus-grain rows.
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    def bounded(p: SparkPlan): Boolean = p match {
      case _: BaseAggregateExec => true
      case a: AdaptiveSparkPlanExec => bounded(a.executedPlan)
      case q: QueryStageExec => bounded(q.plan)
      case r: ReusedExchangeExec => bounded(r.child)
      case m: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec =>
        bounded(m.relation.cachedPlan)
      case l if l.children.isEmpty => false
      case other => other.children.forall(bounded)
    }
    for (q <- Seq("q_ml_lift_gains", "q_mix_token_budget")) {
      val nodes = collectAll(executedPlan(q))
      val bad = nodes.collect {
        case w: WindowExec if w.partitionSpec.isEmpty && !bounded(w.child) => w
      }
      assert(bad.isEmpty,
        s"$q plans a corpus-grain global window: " +
          bad.map(_.simpleString(120)).mkString("; "))
      Caches.releaseScoped()
    }
  }

  test("round-11 privacy/curriculum keys plan no corpus-grain global window") {
    // q_priv_clip's ONE window must stay user_id-partitioned (a bare
    // window would serialize the whole event stream through one task —
    // and a contribution cap that needs a global order is the wrong
    // algorithm); q_mix_curriculum rides Dsl.globalNtile, so its only
    // empty-partitionSpec windows sit above value-bounded inputs.
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    def bounded(p: SparkPlan): Boolean = p match {
      case _: BaseAggregateExec => true
      case a: AdaptiveSparkPlanExec => bounded(a.executedPlan)
      case q: QueryStageExec => bounded(q.plan)
      case r: ReusedExchangeExec => bounded(r.child)
      case m: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec =>
        bounded(m.relation.cachedPlan)
      case l if l.children.isEmpty => false
      case other => other.children.forall(bounded)
    }
    for (q <- Seq("q_priv_clip", "q_priv_suppress", "q_mix_curriculum",
        "q_priv_dp_release")) {
      val nodes = collectAll(executedPlan(q))
      val bad = nodes.collect {
        case w: WindowExec if w.partitionSpec.isEmpty && !bounded(w.child) => w
      }
      assert(bad.isEmpty,
        s"$q plans a corpus-grain global window: " +
          bad.map(_.simpleString(120)).mkString("; "))
      Caches.releaseScoped()
    }
  }

  test("every remaining global-window site is value/limit-bounded " +
      "(VERDICT r11 #5)") {
    // Corpus-wide audit of the Window.orderBy-without-partitionBy sites
    // (round 12): each one must consume a relation already bounded by an
    // aggregate (value-grain census: bins, deciles, days, months, price
    // cents, strata, partition counts) or by a limit (top-k candidate
    // lists), never corpus-grain rows — one corpus-grain global window
    // is a total serialization at 100 TB. The per-site human audit is in
    // OPTIMIZATION_r12.md; this pins it mechanically so a future edit
    // cannot silently introduce a corpus-grain single-partition window.
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.{TakeOrderedAndProjectExec,
      GlobalLimitExec, CollectLimitExec}
    // LocalLimitExec is deliberately not bounding: it caps rows per
    // partition only, so under it a window still sees corpus-grain input
    def bounded(p: SparkPlan): Boolean = p match {
      case _: BaseAggregateExec => true
      case _: TakeOrderedAndProjectExec => true
      case _: GlobalLimitExec => true
      case _: CollectLimitExec => true
      case a: AdaptiveSparkPlanExec => bounded(a.executedPlan)
      case q: QueryStageExec => bounded(q.plan)
      case r: ReusedExchangeExec => bounded(r.child)
      case m: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec =>
        bounded(m.relation.cachedPlan)
      case _: org.apache.spark.sql.execution.RangeExec => true
      case _: org.apache.spark.sql.execution.LocalTableScanExec => true
      case l if l.children.isEmpty => false // file/RDD scan: corpus-grain
      case other => other.children.forall(bounded)
    }
    // every query owning one of the 23 audited Window.orderBy sites
    // (site -> key mapping in OPTIMIZATION_r12.md) that is not already
    // covered by the lake-layout / range-split / r10 / r11 window tests
    for (q <- Seq("q_sketch_quantile", "q_ml_kmeans", "q_ml_boost",
        "q_ml_cv_stump", "q_profile_depth", "q_profile_ks", "q_ts_dtw",
        "q_ts_growth", "q_ts_survival", "q_ts_new_returning",
        "q_sim_hybrid_rrf", "q_sample_neyman", "q_win_alloc", "q_mr_sort",
        "q_agg_skyline", "q_agg_mannwhitney", "q_agg_lorenz")) {
      val nodes = collectAll(executedPlan(q))
      val bad = nodes.collect {
        case w: WindowExec if w.partitionSpec.isEmpty && !bounded(w.child) => w
      }
      assert(bad.isEmpty,
        s"$q plans a corpus-grain global window: " +
          bad.map(_.simpleString(120)).mkString("; "))
      Caches.releaseScoped()
    }
  }

  test("q_priv_pseudonym joins on the pseudonym with no broadcast of " +
    "the corpus side") {
    // the pseudonym join must keep the co-partitioned shuffle shape of
    // the raw-key join: both sides exchange on pid (customer fits a
    // broadcast at fixture scale, which is also fine — what must NOT
    // happen is a cartesian or a nested-loop fallback from the hash
    // expression)
    import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
    val nodes = collectAll(executedPlan("q_priv_pseudonym"))
    assert(!nodes.exists(n => n.isInstanceOf[CartesianProductExec] ||
      n.isInstanceOf[BroadcastNestedLoopJoinExec]),
      "pseudonym join degenerated to cartesian/nested-loop")
    Caches.releaseScoped()
  }

  test("MT-eval census windows stay lang-partitioned; no cartesian pairing") {
    // round 11: the shared census the BLEU/ROUGE/chrF rollups ride. The
    // pairing window must stay PARTITIONED BY lang (a bare window here
    // would single-task the corpus), and the clipped-match joins must
    // be keyed equi-joins — a cartesian anywhere in this plan would be
    // the classic pairwise-text blowup the (lang, pid, g) keying exists
    // to prevent.
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.execution.joins.CartesianProductExec
    val df = ops.Text.sharedMtPairCensus(spark, sfDir)
    df.collect()
    val nodes = collectAll(df.queryExecution.executedPlan)
    val bare = nodes.collect {
      case w: WindowExec if w.partitionSpec.isEmpty => w
    }
    assert(bare.isEmpty,
      s"census plans a partitionBy-less window: " +
        bare.map(_.simpleString(120)).mkString("; "))
    assert(!nodes.exists(_.isInstanceOf[CartesianProductExec]),
      "census plans a cartesian product")
    // the three metric rollups must be single-agg consumers: nothing
    // but scan/exchange/aggregate ABOVE the resident census (traversal
    // stops at the InMemoryTableScan boundary — collectAll would dive
    // into the cached census plan, whose lang window is expected)
    def aboveCache(p: SparkPlan): Seq[SparkPlan] = {
      val nested = p match {
        case _: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec =>
          Seq.empty
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: QueryStageExec => Seq(q.plan)
        case r: ReusedExchangeExec => Seq(r.child)
        case w: WholeStageCodegenExec => Seq(w.child)
        case _ => Seq.empty
      }
      Seq(p) ++ (p match {
        case _: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec =>
          Seq.empty
        case _ => (p.children ++ nested).flatMap(aboveCache)
      })
    }
    for (q <- Seq("q_text_bleu", "q_text_rouge", "q_text_chrf")) {
      val qn = aboveCache(executedPlan(q))
      assert(!qn.exists(_.isInstanceOf[WindowExec]),
        s"$q must be a pure rollup of the resident census")
      Caches.releaseScoped()
    }
    Caches.releaseShared()
  }

  test("ann incremental maintenance broadcasts the centroid table") {
    // the base corpus must never rescan per delta: its whole
    // contribution is the pre-aggregated (cells x dims) centroid
    // relation, which must arrive at the delta join as a BROADCAST —
    // a shuffle join here would re-exchange the delta batch against a
    // dim-sized table
    val nodes = collectAll(executedPlan("q_sim_ann_incremental"))
    assert(nodes.exists(_.isInstanceOf[BroadcastHashJoinExec]),
      "expected the centroid (byDim) join to be a BroadcastHashJoin")
    Caches.releaseScoped()
  }
}
