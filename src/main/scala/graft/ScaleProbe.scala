package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale probe: `ScaleProbe <copies> <key|probe>...` stages the sf0.1
  * fixtures at `copies`× under `/tmp/graft_probe_x<copies>` (idempotent)
  * and times each named registry key or probe on it, printing one
  * `SCALE<copies>x <name>: <s> s rows=<n>` line per measurement. Run with
  * e.g. `sbt "runMain graft.ScaleProbe 10 q_agg_q1 component_loop"`;
  * raise `SPARK_DRIVER_MEM` for 100×.
  *
  * One staging recipe at every copy count:
  *
  *  - FACT tables (lineitem, orders, events, embeddings) replicate sf0.1
  *    with their keys shifted per copy. o_custkey is kept, so orders fan
  *    out onto the fixed customer set.
  *  - DIMENSIONS (customer/supplier/part/nation/region) stay at 1×: a
  *    real warehouse scales facts onto a fixed dimensional cardinality,
  *    while duplicated dims multiply dim-join fan-out by copies² (at 100×
  *    q_graph_mst would be a 600-billion-row intermediate, a staging
  *    artifact, not a plan property).
  *  - DOCUMENTS are REGENERATED (deterministic md5-word text, 4%
  *    identical-text 2-cliques) instead of duplicated: key-shifted copies
  *    make every doc a copies-clique in the pair graph (the
  *    duplicated-corpus caveat SQUARED, not a corpus shape), while a real
  *    crawl holds the dup RATE roughly constant. The corpus-sized stages
  *    (tokenize, postings, prefix filter) still scale the full copies×.
  *
  * Each requested registry key first runs once, untimed, on the sf0.001
  * fixture. Keys are then timed by `toRdd.count()` — the full output
  * schema, so a left-join census key cannot have its stats subtree
  * join-eliminated out of the measurement (round 9, the Bench fix) — and
  * BOTH cache lifetimes are released after each: with shared relations
  * resident, the first consumer would be billed for the whole shared
  * build and later ones would time a cache read.
  *
  * Named probes:
  *
  *  - `band_candidates`: the banded similarity index over the staged
  *    (key-shifted, so worst-case same-band occupancy) embeddings, priced
  *    once and kept RESIDENT while q_dedup_embed and q_sim_threshold_join
  *    run (the Bench pass-0 shape); the candidate rowcount is the
  *    sub-quadratic evidence.
  *  - `mt_triple`: the shared MT pair census, priced once and kept
  *    resident while BLEU/ROUGE/chrF run as the lang-grain rollups.
  *  - `graph_regen`: the trade-graph keys on a REGENERATED feed (its own
  *    staging dir): fact keys AND their dimension foreign keys shift
  *    together, so each copy is a disjoint, internally-consistent
  *    subgraph over the same 25 nations and every join stays 1:1 per row.
  *  - `hook_loop` / `hook_loop_fallback`: `Geo.contractedHookLabels` (the
  *    code q_geo_dbscan runs) on a chain forest of copies×100 components
  *    of 150 nodes — the label scale fixtures cannot reach, since dbscan's
  *    core graph is supercritical under duplication. The fallback run sets
  *    spark.graft.broadcastLabelLimit=100000, so maps past 100 k rows take
  *    the shuffle-hash plan instead of a broadcast.
  *  - `component_loop`: `Pipeline.componentLabels` on copies×5000 blocked
  *    4-node components.
  *
  * The loop probes check their exact component counts.
  */
object ScaleProbe {
  private val Src = "/root/testdata/sf0.1"
  private val WarmSrc = new java.io.File(Src).getParent + "/sf0.001"
  private val Off = 1000000000L
  private val Probes = Seq("band_candidates", "mt_triple", "graph_regen",
    "hook_loop", "hook_loop_fallback", "component_loop")

  private def done(dir: String, name: String): java.io.File =
    new java.io.File(s"$dir/_done_$name")

  /** Union of `copies` copies of a sf0.1 table, `shifted` columns offset
    * by `copy × Off`, written to `dir` once. */
  private def replicate(spark: SparkSession, dir: String, name: String,
      shifted: Seq[String], copies: Int): Unit = if (!done(dir, name).exists()) {
    val base = spark.read.parquet(s"$Src/$name.parquet")
    (0 until copies).map { i =>
      shifted.foldLeft(base)((df, c) => df.withColumn(c, col(c) + lit(i * Off)))
    }.reduce(_ unionByName _)
      .write.mode("overwrite").parquet(s"$dir/$name.parquet")
    println(s"staged $dir/$name: ${spark.read.parquet(s"$dir/$name.parquet").count()}")
    done(dir, name).createNewFile()
  }

  private def stage(spark: SparkSession, dir: String, copies: Int): Unit = {
    // events may carry ns timestamps: read them raw, as Tables.events does
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    replicate(spark, dir, "lineitem", Seq("l_orderkey"), copies)
    replicate(spark, dir, "orders", Seq("o_orderkey"), copies)
    replicate(spark, dir, "events", Seq("event_id", "user_id"), copies)
    replicate(spark, dir, "embeddings", Seq("vec_id"), copies)
    for (dim <- Seq("customer", "part", "supplier", "nation", "region"))
      replicate(spark, dir, dim, Nil, 1)
    // documents: text = 80 deterministic md5-derived words; docs j with
    // j%50 ∈ {0,1} share one group id → identical text → an
    // exact-Jaccard 2-clique (4% of docs paired); everything else is
    // (whp) pairless
    if (!done(dir, "documents").exists()) {
      val nDocs = spark.read.parquet(s"$Src/documents.parquet").count() * copies
      spark.range(nDocs).select(col("id").as("doc_id"),
          when(pmod(col("id"), lit(50)) < 2,
            col("id") - pmod(col("id"), lit(50))).otherwise(col("id"))
            .as("gid"))
        .withColumn("text", expr(
          """concat_ws(' ', transform(sequence(0, 79),
            |  i -> substr(md5(concat(cast(gid as string), '-',
            |    cast(i as string))), 1, 8)))""".stripMargin))
        .select(col("doc_id"), col("text"),
          element_at(array(lit("en"), lit("de"), lit("fr"), lit("es"),
            lit("zh")), (pmod(col("gid"), lit(5)) + 1).cast("int"))
            .as("lang"),
          concat(lit("src"), pmod(col("gid"), lit(7))).as("source"),
          length(col("text")).cast("long").as("n_chars"))
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      println(s"staged $dir/documents: " +
        s"${spark.read.parquet(s"$dir/documents.parquet").count()}")
      done(dir, "documents").createNewFile()
    }
  }

  def main(args: Array[String]): Unit = {
    val usage = s"usage: ScaleProbe <copies> <key|probe>... (probes: ${Probes.mkString(", ")})"
    require(args.length >= 2 && args(0).forall(_.isDigit) && args(0).toInt >= 1, usage)
    val copies = args(0).toInt
    val names = args.toSeq.drop(1)
    val unknown = names.filterNot(n => Probes.contains(n) || Registry.queries.contains(n))
    require(unknown.isEmpty, s"not a registry key or probe: ${unknown.mkString(", ")}; $usage")
    val spark = Sessions.local()
    lazy val dst: String = {
      val dir = s"/tmp/graft_probe_x$copies"
      stage(spark, dir, copies)
      dir
    }
    def full(df: DataFrame): Long = df.queryExecution.toRdd.count()
    // Staging and one untimed run of each requested key on the smallest
    // fixture come before any timer: a key's one-time class-loading,
    // codegen and JIT cost would otherwise inflate its first timed row
    // (a generic warm-up query exercises none of the keys' own paths).
    val keys = names.filter(Registry.queries.contains).distinct
    if (keys.nonEmpty) dst
    for (q <- keys) {
      full(Registry.queries(q)(spark, WarmSrc))
      Caches.releaseScoped()
      Caches.releaseShared()
    }
    /** Time one measurement; scoped intermediates are always released,
      * shared relations only when `keepShared` is off. */
    def timed(name: String, keepShared: Boolean = false)(body: => Long): Unit = {
      val t0 = System.nanoTime()
      val n = body
      println(f"SCALE${copies}x $name: ${(System.nanoTime() - t0) / 1e9}%.2f s rows=$n")
      Caches.releaseScoped()
      if (!keepShared) Caches.releaseShared()
    }
    // shared relation priced once, then its consumers run against it
    def resident(shared: String, build: DataFrame, keys: Seq[String],
        note: String): Unit = {
      timed(shared, keepShared = true)(full(build))
      for (q <- keys)
        timed(s"$q ($note resident)", keepShared = true)(
          full(Registry.queries(q)(spark, dst)))
      Caches.releaseShared()
    }
    // chain forest: components of 150 nodes; both edge directions
    def hookLoop(): Long = {
      val nodes = 15000L * copies
      val fwd = spark.range(nodes)
        .filter(pmod(col("id"), lit(150)) =!= 0)
        .select(col("id").as("u"), (col("id") - 1).as("v"))
      val edges = fwd.unionByName(fwd.select(col("v").as("u"), col("u").as("v")))
        .repartition(col("u"))
      val lab = ops.Geo.contractedHookLabels(edges,
        spark.range(nodes).select(col("id").as("node"), col("id").as("label")), 6, 6)
      val n = lab.select(col("label")).distinct().count()
      require(n == nodes / 150, s"expected ${nodes / 150} components, got $n")
      lab.count()
    }
    for (name <- names) name match {
      case "band_candidates" =>
        resident("shared_band_candidates", ops.VecOps.bandCandidatesWithCos(spark, dst),
          Seq("q_dedup_embed", "q_sim_threshold_join"), "shared")
      case "mt_triple" =>
        resident("shared_mt_pairs", ops.Text.sharedMtPairCensus(spark, dst),
          Seq("q_text_bleu", "q_text_rouge", "q_text_chrf"), "census")
      case "graph_regen" =>
        val gdst = s"/tmp/graft_probe_x${copies}_graph"
        replicate(spark, gdst, "lineitem", Seq("l_orderkey", "l_suppkey"), copies)
        replicate(spark, gdst, "orders", Seq("o_orderkey", "o_custkey"), copies)
        replicate(spark, gdst, "customer", Seq("c_custkey"), copies)
        replicate(spark, gdst, "supplier", Seq("s_suppkey"), copies)
        for (dim <- Seq("nation", "region", "part"))
          replicate(spark, gdst, dim, Nil, 1)
        for (q <- Seq("q_graph_pagerank", "q_graph_degree", "q_graph_scc",
            "q_graph_hits", "q_graph_reciprocity"))
          timed(s"$q (regen graph)")(full(Registry.queries(q)(spark, gdst)))
      case "hook_loop" => timed("hook_loop_broadcast")(hookLoop())
      case "hook_loop_fallback" =>
        spark.conf.set("spark.graft.broadcastLabelLimit", "100000")
        try timed("hook_loop_shufflehash")(hookLoop())
        finally spark.conf.unset("spark.graft.broadcastLabelLimit")
      case "component_loop" =>
        timed("component_loop") {
          val nodes = 20000L * copies
          val fwd = spark.range(nodes)
            .filter(pmod(col("id"), lit(4)) =!= 0)
            .select(col("id").as("d1"), (col("id") - 1).as("d2"))
          val edges = Caches.scoped(
            fwd.unionByName(fwd.select(col("d2").as("d1"), col("d1").as("d2")))
              .repartition(col("d2")))
          val lab = ops.Pipeline.componentLabels(edges,
            ops.Pipeline.componentVerts(edges), ops.Pipeline.componentRounds)
          val n = lab.select(col("root")).distinct().count()
          require(n == nodes / 4, s"expected ${nodes / 4} components, got $n")
          lab.count()
        }
      case q => timed(q)(full(Registry.queries(q)(spark, dst)))
    }
    spark.stop()
  }
}
