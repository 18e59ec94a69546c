package graft.ops

import graft.{QueryDef, Tables}
import graft.Dsl._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Dedup & similarity — the LLM-data-pipeline operators (SURVEY.md §2.12).
  *
  * Float determinism (rule D3): every vector is quantized to exact
  * integers (round(x·1e6) as BIGINT) before any arithmetic, so dot
  * products and norms are EXACT int64 sums — order-independent under
  * parallel aggregation and bit-identical across engines. Only the final
  * cosine (two exact ints through sqrt/divide) is double, and both sides
  * spell out the identical formula.
  *
  * Scale (100 TB): similarity self-joins are never all-pairs — they are
  * bucketed (lang / label / LSH band) so candidate counts stay ~linear;
  * the exact confirm runs only on candidates. Token-set intersection is
  * computed via an exploded postings join (shuffle on token), which is
  * the scalable plan — no per-row array UDFs over a cross join.
  */
object Similarity {
  import VecOps.{quantized, dot, cosine, oracleQuantized}

  /** Exact dedup by normalized key (lower/trim, first-5-token prefix —
    * the corpus has no full-text duplicates, FIXTURES.md): survivor = min
    * doc_id per key. One shuffle on the key; at 100 TB the key hash
    * distributes uniformly, and the window is a per-key top-1 (no sort of
    * the whole partition beyond the grouped keys).
    */
  private val dedupExact = QueryDef(
    "q_dedup_exact",
    (s, d) => {
      val nk = array_join(slice(split(lower(trim(col("text"))), " "), 1, 5), " ")
      val w = Window.partitionBy("nk").orderBy(ascf("doc_id"))
      Tables.documents(s, d)
        .withColumn("nk", nk)
        .withColumn("rn", row_number().over(w))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          count(when(col("rn") === 1, lit(1))).as("n_survivors"))
        .orderBy(ascf("lang"))
    },
    Some("""WITH k AS (SELECT doc_id, lang,
           |  array_to_string(string_split(lower(trim(text)), ' ')[1:5], ' ') AS nk
           |  FROM documents),
           |r AS (SELECT lang,
           |  row_number() OVER (PARTITION BY nk ORDER BY doc_id ASC) AS rn FROM k)
           |SELECT lang, count(*) AS n_docs,
           |  count(*) FILTER (WHERE rn = 1) AS n_survivors
           |FROM r GROUP BY lang ORDER BY lang ASC NULLS FIRST""".stripMargin))

  /** Exact token-set Jaccard for same-lang pairs at ≥ 0.95, via PREFIX
    * FILTERING (the PPJoin family): under a global token order (df asc,
    * token asc), two sets with overlap ≥ α must share a token within
    * their first |s|−α+1 tokens, and J ≥ t implies overlap ≥ ⌈t·|s|⌉ for
    * each side — so joining only the short prefixes yields a guaranteed
    * superset of qualifying pairs. A naive full-postings join is Σ df²
    * per token, which explodes on this small-vocabulary corpus (23 s at
    * sf0.1, ~200M join rows); prefixes are ~⌈0.05·|s|⌉+1 ≈ 4 rare tokens
    * per doc. Candidates are then verified exactly with array_intersect.
    * This is THE scalable exact-similarity-join shape at 100 TB.
    *
    * Returns the doc-level pair relation (d1 < d2, same lang, exact
    * jac) — shared by q_sim_jaccard_pairs (which emits the pairs) and
    * q_text_levenshtein (which runs edit distance on them — the "exact
    * verify on candidates" composition VERDICT r3 #2 asked for).
    * Takes any (doc_id, lang, text) relation so PropertiesSpec can
    * brute-force-check the candidate generation on random corpora.
    */
  private[graft] def jaccardPairs(docsIn: DataFrame, t: Double = 0.95): DataFrame = {
      // Dedup-to-set-groups first: many docs share an identical token SET
      // (4,266 groups from 5,000 docs at sf0.1), so all pair math runs on
      // groups and doc pairs are expanded at the end.
      val docs = docsIn
        .select(col("doc_id"), col("lang"),
          array_sort(array_distinct(split(col("text"), " "))).as("st"))
      // scoped persist: six downstream branches (keys, big, candidate
      // joins, same-set pairs) would otherwise re-run the groupBy each —
      // the relation is tiny (4,266 rows at sf0.1); released when the
      // consuming query finishes (VERDICT r4 #1)
      val groups = graft.Caches.scoped(docs.groupBy(col("lang"), col("st"))
        .agg(min(col("doc_id")).as("gid"),
          sort_array(collect_list(col("doc_id"))).as("ids"),
          count(lit(1)).as("c"))
        .withColumn("n", size(col("st"))))

      // J ≥ t forces |aΔb| ≤ floor(|a∩b|·(1-t)/t); with i ≤ 37 (at t=.95)
      // that bound is ≤ 1, so qualifying small-set pairs are exactly
      // "identical or one-element-superset" — found by joining DELETION
      // NEIGHBORHOODS (each set keyed by itself and by itself-minus-one-
      // element). That is O(n) keys per group vs the Σdf² postings join
      // that took 27 s on this tiny-vocab corpus. Large sets (min side
      // > 37, where diff can exceed 1) go through a PPJoin-style rare-
      // token prefix join instead — empty here, but it keeps the operator
      // exact on any corpus. Both paths only generate CANDIDATES; every
      // pair is verified with an exact intersect before output.
      val smallDiffMax = (1.0 / (1.0 / t - 1.0)).floor.toLong // i ≤ 19 ⇒ diff ≤ 1 at t=.95
      val small = groups.filter(col("n") <= 2 * smallDiffMax - 1)
      val keys = small.select(col("lang"), col("gid"),
        explode(concat(
          array(xxhash64(col("lang"), concat_ws("\u0001", col("st")))),
          transform(sequence(lit(1), size(col("st"))), i =>
            xxhash64(col("lang"), concat_ws("\u0001", array_except(
              col("st"), array(element_at(col("st"), i)))))))).as("k"))
      val candSmall = keys.alias("a")
        .join(keys.alias("b"),
          col("a.k") === col("b.k") && col("a.gid") < col("b.gid"))
        .select(col("a.gid").as("g1"), col("b.gid").as("g2"))

      // Round-11 rewrite (the r9 cosineSetPairs treatment, which never
      // reached this relation): dense per-lang integer token ids under
      // the global (df asc, w asc) order — sorting a set's tids IS
      // sorting it in prefix order, so the prefix relation falls out of
      // posexplode over a slice of the sorted array (no per-gid
      // row_number window over the postings), and the exact verify
      // intersects primitive int arrays instead of string arrays.
      // df is taken over ALL groups' tokens (the old order used big-set
      // postings only): any single global order is valid for the prefix
      // filter — rare-first only tunes pruning quality.
      val allToks = groups.select(col("lang"), col("gid"),
        explode(col("st")).as("w"))
      val dfreq = allToks.groupBy(col("lang"), col("w"))
        .agg(count(lit(1)).as("df"))
      val dict = dfreq.withColumn("tid",
        row_number().over(Window.partitionBy(col("lang"))
          .orderBy(ascf("df"), ascf("w"))))
      val intSets = graft.Caches.scoped(allToks.join(dict, Seq("lang", "w"))
        .groupBy(col("lang"), col("gid"))
        .agg(array_sort(collect_list(col("tid"))).as("sti"))
        .withColumn("n", size(col("sti")).cast("long")))
      // materialize the scoped cache BEFORE the main job (the
      // cosineSetPairs lesson): concurrent broadcast futures against a
      // cold cache each recompute the full scan→groups→intSets chain
      intSets.count()
      val prefix = intSets.filter(col("n") > 2 * smallDiffMax - 1)
        .select(col("lang"), col("gid"), col("n"),
          posexplode(expr(
            s"slice(sti, 1, int(size(sti) - ceil(size(sti) * $t) + 1))"))
            .as(Seq("pos0", "tid")))
        .withColumn("pos", (col("pos0") + 1).cast("long"))
      // In-join POSITIONAL gate (lossless, the cosineSetPairs argument):
      // a qualifying pair's overlap is ≤ 1 + min(n1−p1, n2−p2) at any
      // shared prefix token (all shared tokens lie at-or-after the first
      // one under the global order), and J ≥ t needs overlap·(1+t) ≥
      // t·(n1+n2); the pair's FIRST shared token attains both min
      // positions simultaneously and provably sits inside both prefixes,
      // so at least that row survives — candidates stay a superset. The
      // 1e-6 slack only ever ADMITS extra candidates (double t), and the
      // gate subsumes the length-ratio bound (ub ≤ min(n1, n2)).
      val ubBig = lit(1L) +
        least(col("a.n") - col("a.pos"), col("b.n") - col("b.pos"))
      val candBig = prefix.alias("a")
        .join(prefix.alias("b"),
          col("a.lang") === col("b.lang") && col("a.tid") === col("b.tid") &&
            col("a.gid") < col("b.gid") &&
            ubBig.cast("double") * (1.0 + t) >=
              (col("a.n") + col("b.n")).cast("double") * t - 1e-6)
        .select(col("a.gid").as("g1"), col("b.gid").as("g2"))
      // small×big pairs: min side ≤ 37 ⇒ diff ≤ 1 ⇒ covered by candSmall
      // only if the big side emitted deletion keys too — handle by
      // joining small keys against big full-keys (subset-of-big case).
      val big = groups.filter(col("n") > 2 * smallDiffMax - 1)
      val bigKeys = big.select(col("gid"),
        explode(concat(
          array(xxhash64(col("lang"), concat_ws("\u0001", col("st")))),
          transform(sequence(lit(1), size(col("st"))), i =>
            xxhash64(col("lang"), concat_ws("\u0001", array_except(
              col("st"), array(element_at(col("st"), i)))))))).as("k"))
      val candMixed = keys.alias("a")
        .join(bigKeys.alias("b"), col("a.k") === col("b.k"))
        .select(least(col("a.gid"), col("b.gid")).as("g1"),
          greatest(col("a.gid"), col("b.gid")).as("g2"))

      // candidates arrive with duplicates (candBig: one row per shared
      // prefix token); verifying first on the primitive int arrays and
      // deduping the far smaller VERIFIED relation saves the full-
      // candidate exchange (the cosineSetPairs shape). The intersect on
      // dense ids equals the old string-set intersect exactly: the
      // per-lang dictionary is 1:1 and both sets share a lang.
      val cand = candSmall.union(candBig).union(candMixed)
      val ia = intSets.select(col("gid").as("g1"),
        col("sti").as("s1"), col("n").as("n1"))
      val ib = intSets.select(col("gid").as("g2"),
        col("sti").as("s2"), col("n").as("n2"))
      val verified = cand.join(ia, "g1").join(ib, "g2")
        .withColumn("inter",
          size(array_intersect(col("s1"), col("s2"))).cast("long"))
        .withColumn("jac",
          col("inter").cast("double") / (col("n1") + col("n2") - col("inter")))
        .filter(col("jac") >= t)
        .select(col("g1"), col("g2"), col("jac"))
        .distinct()
      val ga = groups.select(col("gid").as("g1"), col("ids").as("ids1"))
      val gb = groups.select(col("gid").as("g2"), col("ids").as("ids2"))
      val crossPairs = verified.join(ga, "g1").join(gb, "g2")
        .select(explode(expr(
          """flatten(transform(ids1, i ->
            |  transform(ids2, j -> struct(least(i, j) as d1,
            |    greatest(i, j) as d2))))""".stripMargin)).as("p"), col("jac"))
        .select(col("p.d1").as("d1"), col("p.d2").as("d2"), col("jac"))
      val samePairs = groups.filter(col("c") >= 2)
        .select(explode(expr(
          """flatten(transform(ids, a ->
            |  filter(transform(ids, b -> struct(a as d1, b as d2)),
            |    p -> p.d1 < p.d2)))""".stripMargin)).as("p"))
        .select(col("p.d1").as("d1"), col("p.d2").as("d2"),
          lit(1.0).as("jac"))
      samePairs.union(crossPairs)
  }

  /** The ≥ 0.95 pair relation on the fixture documents table, computed
    * ONCE per (session, dir) and cached MEMORY_AND_DISK (Caches.shared).
    * Three graded queries consume the identical relation —
    * q_sim_jaccard_pairs, q_text_levenshtein, q_dedup_components — and
    * each used to re-run set-grouping, candidate generation and exact
    * verify from scratch (VERDICT r4 missing #1: three full corpus
    * passes instead of one at 100 TB). The plan is byte-identical to the
    * inline version; caching only changes where the second and third
    * consumers read it from.
    */
  private[graft] def sharedJaccardPairs(s: SparkSession, d: String): DataFrame =
    graft.Caches.shared(s"jaccard:${graft.Caches.sessionKey(s)}:$d") {
      jaccardPairs(Tables.documents(s, d))
    }

  /** DuckDB CTE chain computing the same ≥ 0.95 pair set, ending in
    * `jp(d1, d2, jac)` — shared by the two oracles.
    */
  /** MATERIALIZED hints (r5): `t` is referenced three times and `jp` up
    * to twice by consumers (q_dedup_components' unrolled rounds double-
    * reference every level) — without the hint DuckDB may inline each
    * reference, re-running the heavy postings self-join once per copy
    * (observed: the components oracle at sf0.1 exhausted 80 GB of spill
    * before finishing). Materialization is semantics-free; the hint is
    * oracle-side only.
    */
  private[ops] val oracleJaccardCte: String =
    """WITH t AS MATERIALIZED (SELECT doc_id, lang,
      |  unnest(list_distinct(string_split(text, ' '))) AS w FROM documents),
      |sz AS MATERIALIZED (SELECT doc_id, count(*) AS n FROM t GROUP BY doc_id),
      |p AS MATERIALIZED (SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS inter
      |      FROM t a JOIN t b
      |        ON a.lang = b.lang AND a.w = b.w AND a.doc_id < b.doc_id
      |      GROUP BY 1, 2),
      |jp AS MATERIALIZED (SELECT d1, d2,
      |    CAST(inter AS DOUBLE) / (s1.n + s2.n - inter) AS jac
      |  FROM p JOIN sz s1 ON p.d1 = s1.doc_id JOIN sz s2 ON p.d2 = s2.doc_id
      |  WHERE CAST(inter AS DOUBLE) / (s1.n + s2.n - inter) >= 0.95)""".stripMargin

  private val simJaccard = QueryDef(
    "q_sim_jaccard_pairs",
    (s, d) =>
      sharedJaccardPairs(s, d)
        .select(col("d1"), col("d2"), round(col("jac"), 4).as("jaccard"))
        .orderBy(ascf("d1"), ascf("d2")),
    Some(oracleJaccardCte +
      """
        |SELECT d1, d2, round(jac, 4) AS jaccard FROM jp
        |ORDER BY d1 ASC NULLS FIRST, d2 ASC NULLS FIRST""".stripMargin))

  /** Brute-force cosine top-k of probe vec_id=0 — the ANN baseline. The
    * 1-row probe is broadcast; the scan side never shuffles. Ordered by
    * the ROUNDED cosine + vec_id tiebreak so the top-10 cut is stable.
    */
  private val simCosineTopk = QueryDef(
    "q_sim_cosine_topk",
    (s, d) => {
      val emb = quantized(s, d)
      val probe = emb.filter(col("vec_id") === 0)
        .select(col("v").as("pv"), col("nn").as("pnn"))
      emb.filter(col("vec_id") =!= 0)
        .crossJoin(broadcast(probe))
        .select(col("vec_id"),
          (round(cosine(dot(col("v"), col("pv")), col("nn"), col("pnn")), 6)
            + lit(0.0)).as("cos"))
        .orderBy(descl("cos"), ascf("vec_id"))
        .limit(10)
    },
    Some(oracleQuantized +
      """,
        |p AS (SELECT v, nn FROM n WHERE vec_id = 0)
        |SELECT a.vec_id,
        |  round(CAST(list_sum(list_transform(range(1, 65), k -> a.v[k] * p.v[k])) AS DOUBLE)
        |    / (sqrt(CAST(a.nn AS DOUBLE)) * sqrt(CAST(p.nn AS DOUBLE))), 6) + 0.0 AS cos
        |FROM n a, p WHERE a.vec_id <> 0
        |ORDER BY cos DESC NULLS LAST, vec_id ASC NULLS FIRST
        |LIMIT 10""".stripMargin))

  /** Same-label cosine-threshold join via LSH band candidates: pairs
    * come from the shared 16-bit hyperplane signature's 4×4-bit band
    * buckets (VecOps.bandCandidatesWithCos — join keyed on label+band+
    * value, NEVER label alone), the exact quantized cosine verifies only
    * candidates, and the total pair count per label is arithmetic
    * (n·(n−1)/2), not materialized. All 10 labels stay in the output via
    * a left join from per-label counts. The oracle mirrors the band
    * candidate generation exactly, so the two engines count the same
    * pairs. This was the last all-pairs-within-label self-join in the
    * contract surface (VERDICT r3 #1); at 100 TB the band buckets keep
    * candidates ~n·4/16 instead of n²/label.
    */
  private val simThresholdJoin = QueryDef(
    "q_sim_threshold_join",
    (s, d) => {
      val base = quantized(s, d).groupBy(col("label"))
        .agg(count(lit(1)).as("nv"))
      // column is named n_close_CAND: at threshold 0.3 the 4-band recall
      // is only ~0.4, so this is honestly "close pairs AMONG candidates"
      // — the count a production LSH pipeline reports — not an exact
      // threshold count (review r4; contrast q_dedup_embed, where the
      // 0.99 threshold makes band recall ~0.999)
      val counts = VecOps.bandCandidatesWithCos(s, d)
        .groupBy(col("label"))
        .agg(count(lit(1)).as("n_cand"),
          count(when(col("cos") >= 0.3, lit(1))).as("n_close_cand"))
      base.join(counts, Seq("label"), "left")
        .select(col("label"),
          expr("CAST(nv * (nv - 1) DIV 2 AS BIGINT)").as("n_pairs"),
          coalesce(col("n_cand"), lit(0L)).as("n_cand"),
          coalesce(col("n_close_cand"), lit(0L)).as("n_close_cand"))
        .orderBy(ascf("label"))
    },
    Some(oracleQuantized + VecOps.oracleBandCandidates +
      """,
        |ct AS (SELECT label, count(*) AS n_cand,
        |    count(*) FILTER (WHERE cos >= 0.3) AS n_close_cand
        |  FROM ver GROUP BY label),
        |base AS (SELECT label, count(*) AS nv FROM n GROUP BY label)
        |SELECT base.label AS label,
        |  CAST(base.nv * (base.nv - 1) // 2 AS BIGINT) AS n_pairs,
        |  CAST(coalesce(ct.n_cand, 0) AS BIGINT) AS n_cand,
        |  CAST(coalesce(ct.n_close_cand, 0) AS BIGINT) AS n_close_cand
        |FROM base LEFT JOIN ct ON base.label = ct.label
        |ORDER BY label ASC NULLS FIRST""".stripMargin))

  /** k-NN JOIN (round 4): top-3 neighbors by exact quantized cosine for
    * EVERY probe in a probe set (vec_id < 10), not just one — the batch
    * similarity-search shape (embed a query batch, retrieve neighbors
    * for all of them in one job). The probe set broadcasts and the
    * corpus scans once: cost is |probes|·n distance computations with no
    * shuffle before the per-probe top-k (window over rounded cosine with
    * vec_id tiebreak). At 100 TB the same plan holds — probes stay
    * broadcast, rank runs partial-topk per partition under AQE — or the
    * scan side drops to an IVF/LSH candidate set exactly as in
    * q_sim_ann_{ivf,lsh}.
    */
  private val simKnnJoin = QueryDef(
    "q_sim_knn_join",
    (s, d) => {
      val emb = quantized(s, d)
      val probes = emb.filter(col("vec_id") < 10)
        .select(col("vec_id").as("probe_id"), col("v").as("pv"),
          col("nn").as("pnn"))
      val scored = emb.filter(col("vec_id") >= 10)
        .crossJoin(broadcast(probes))
        .select(col("probe_id"), col("vec_id"),
          (round(cosine(dot(col("v"), col("pv")), col("nn"), col("pnn")), 6)
            + lit(0.0)).as("cos"))
      val w = Window.partitionBy(col("probe_id"))
        .orderBy(descl("cos"), ascf("vec_id"))
      scored.withColumn("rnk", row_number().over(w).cast("bigint"))
        .filter(col("rnk") <= 3)
        .select(col("probe_id"), col("rnk"), col("vec_id"), col("cos"))
        .orderBy(ascf("probe_id"), ascf("rnk"))
    },
    Some(oracleQuantized +
      """,
        |p AS (SELECT vec_id AS probe_id, v AS pv, nn AS pnn FROM n
        |  WHERE vec_id < 10),
        |sc AS (SELECT p.probe_id, a.vec_id,
        |    round(CAST(list_sum(list_transform(range(1, 65), k -> a.v[k] * p.pv[k])) AS DOUBLE)
        |      / (sqrt(CAST(a.nn AS DOUBLE)) * sqrt(CAST(p.pnn AS DOUBLE))), 6) + 0.0 AS cos
        |  FROM n a, p WHERE a.vec_id >= 10),
        |r AS (SELECT probe_id, vec_id, cos,
        |    row_number() OVER (PARTITION BY probe_id
        |      ORDER BY cos DESC NULLS LAST, vec_id ASC) AS rnk
        |  FROM sc)
        |SELECT probe_id, rnk, vec_id, cos FROM r WHERE rnk <= 3
        |ORDER BY probe_id ASC NULLS FIRST, rnk ASC NULLS FIRST""".stripMargin))

  /** MinHash + LSH near-dup detection (no oracle — hash choices are
    * engine-specific; property-tested in MinHashSpec instead).
    *
    * Pipeline: 3-token shingles → 32 minhashes (xxhash64 with fixed seed
    * column) → 4 bands × 8 rows → band-bucket self-join for candidates →
    * confirm by signature agreement ≥ 26/32 (est. Jaccard ≥ ~0.8).
    * Buckets are capped at 50 docs (skew guard: a degenerate bucket would
    * otherwise go quadratic — the standard LSH practice at scale; this
    * corpus is pathologically self-similar, FIXTURES.md).
    * Candidate counts stay ~linear in docs: that is the whole point of
    * banding vs the n² exact join at 100 TB.
    */
  private val dedupMinhash = QueryDef(
    "q_dedup_fuzzy_minhash",
    (s, d) => {
      val nHashes = 32; val bands = 4; val rows = 8
      val docs = Tables.documents(s, d)
      // tokens hoisted to a column: referencing split(text) inside the
      // lambda would re-split the document once per shingle (O(len²))
      val shingles = docs
        .withColumn("tk", split(col("text"), " "))
        .select(col("doc_id"),
          explode(expr(
            "array_distinct(transform(sequence(0, greatest(size(tk)-3, 0)), " +
              "i -> concat_ws(' ', slice(tk, i+1, 3))))")).as("sh"))
      // One 64-bit hash per shingle STRING, then 32 derived hashes over
      // that fixed-width long (xxhash64(h, seed_i)) — the affine-permute
      // trick without mod-2^64 multiplies (ANSI mode rejects the
      // wraparound), and ~32× cheaper than re-hashing the string per
      // seed. Shaped as ONE collect_list agg + array lambdas rather than
      // 32 wide min() aggregates: a 32-buffer HashAggregate generates
      // pathological whole-stage codegen (~10 s one-time compile per
      // session, which dominated a single-shot bench run).
      val sig = shingles
        .withColumn("h", xxhash64(col("sh")))
        .groupBy(col("doc_id"))
        .agg(collect_list(col("h")).as("hs"))
        .select(col("doc_id"), expr(
          s"transform(sequence(0, ${nHashes - 1}), " +
            "i -> array_min(transform(hs, h -> xxhash64(h, i))))").as("sig"))
      // scoped persist: 3 consumers (banding + both signature rejoins);
      // released when the query finishes (VERDICT r4 #1)
      graft.Caches.scoped(sig)
      val banded = sig.select(col("doc_id"),
        posexplode(array((0 until bands).map(b =>
          xxhash64(lit(b) +: (0 until rows).map(r =>
            element_at(col("sig"), b * rows + r + 1)): _*)): _*))
          .as(Seq("band", "bucket")))
      // candidates carry only (d1, d2) through the distinct — signatures
      // (32×8 B each) rejoin AFTER dedup, so the heavy shuffle moves ids,
      // not payloads (this was an 11 s → ~2 s fix at sf0.1).
      val buckets = banded
        .groupBy(col("band"), col("bucket"))
        .agg(collect_list(col("doc_id")).as("ds"))
        .filter(size(col("ds")).between(2, 50))
      val cand = buckets
        .select(explode(expr(
          """flatten(transform(ds, a ->
            |  filter(transform(ds, b -> struct(a as d1, b as d2)),
            |    p -> p.d1 < p.d2)))""".stripMargin)).as("p"))
        .select(col("p.*")).distinct()
      val confirmed = cand
        .join(sig.select(col("doc_id").as("d1"), col("sig").as("s1")), "d1")
        .join(sig.select(col("doc_id").as("d2"), col("sig").as("s2")), "d2")
        .withColumn("agree",
          aggregate(zip_with(col("s1"), col("s2"),
            (x, y) => when(x === y, 1).otherwise(0)), lit(0), (a, x) => a + x))
      val langOf = docs.select(col("doc_id"), col("lang"))
      confirmed
        .join(langOf.withColumnRenamed("doc_id", "d1"), "d1")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_candidates"),
          count(when(col("agree") >= 26, lit(1))).as("n_confirmed"))
        .orderBy(ascf("lang"))
    },
    None)

  /** Deterministic negative sampling (round 5): for each probe in the
    * query batch, K=3 pseudo-random negatives drawn from the corpus
    * vectors with a DIFFERENT label — the contrastive-training
    * companion to q_sim_knn_join's positives. "Random" is a seeded
    * mod-prime mixed hash of (neg_id, probe_id) (the q_sketch_countmin
    * family), so every run / engine / partitioning draws the SAME
    * negatives — the property a `rand()` sample cannot give and a
    * training pipeline needs for reproducibility.
    *
    * Scale: the probe set broadcasts; one corpus scan scores
    * |probes|·n hashes with no shuffle before the per-probe top-k
    * (identical shape to q_sim_knn_join, minus the distance math —
    * selection never touches the vectors).
    */
  private val sampleNegative = QueryDef(
    "q_sample_negative",
    (s, d) => {
      val emb = Tables.embeddings(s, d).select(col("vec_id"), col("label"))
      val probes = emb.filter(col("vec_id") < 10)
        .select(col("vec_id").as("probe_id"), col("label").as("plabel"))
      val scored = emb.filter(col("vec_id") >= 10)
        .crossJoin(broadcast(probes))
        .filter(col("label") =!= col("plabel"))
        .withColumn("h", expr(
          "((vec_id % 2147483647) * 1299721 + " +
            "(probe_id % 2147483647) * 15485863 + 12345) % 2147483647"))
      val w = Window.partitionBy(col("probe_id"))
        .orderBy(ascf("h"), ascf("vec_id"))
      scored.withColumn("rnk", row_number().over(w).cast("bigint"))
        .filter(col("rnk") <= 3)
        .select(col("probe_id"), col("rnk"), col("vec_id").as("neg_id"),
          col("label").as("neg_label"))
        .orderBy(ascf("probe_id"), ascf("rnk"))
    },
    Some("""WITH p AS (SELECT vec_id AS probe_id, label AS plabel
           |  FROM embeddings WHERE vec_id < 10),
           |c AS (SELECT vec_id, label FROM embeddings WHERE vec_id >= 10),
           |s AS (SELECT probe_id, vec_id, label,
           |    ((vec_id % 2147483647) * 1299721 +
           |     (probe_id % 2147483647) * 15485863 + 12345) % 2147483647 AS h
           |  FROM c CROSS JOIN p WHERE c.label <> p.plabel),
           |r AS (SELECT probe_id, vec_id, label,
           |    row_number() OVER (PARTITION BY probe_id
           |      ORDER BY h ASC, vec_id ASC) AS rnk
           |  FROM s)
           |SELECT probe_id, rnk, vec_id AS neg_id, label AS neg_label
           |FROM r WHERE rnk <= 3
           |ORDER BY probe_id ASC NULLS FIRST, rnk ASC NULLS FIRST""".stripMargin))

  /** Binary-cosine (Ochiai) ≥ 0.95 self-join over token SETS (round 5):
    * cos(A,B) = |A∩B|/√(|A||B|) — the size-normalized cousin of
    * q_sim_jaccard_pairs that tolerates subset-skewed pairs Jaccard
    * punishes (cos admits |B| up to |A|/t² ≈ 1.11·|A|; J ≥ 0.95 caps
    * the symmetric difference at ~5% of the union). Same scalable
    * exact-join architecture: identical-set grouping, then a PPJoin
    * prefix filter under the per-lang (df asc, token asc) total order
    * with the COSINE prefix length p = n − ⌈t²n⌉ + 1, computed in pure
    * integers as n − (9025n + 9999) div 10000 + 1.
    *
    * Losslessness (cited bound): a qualifying pair has inter ≥
    * t·√(n_a·n_b) ≥ ⌈t²·max(n_a, n_b)⌉ (feasible sizes satisfy
    * n_b ∈ [t²n_a, n_a/t²]), and if |A∩B| ≥ α the (n−α+1)-prefixes
    * must intersect (the SSJoin/AllPairs prefix lemma); our per-set
    * α = ⌈t²n⌉ only LENGTHENS prefixes vs the pairwise-optimal α, so
    * the candidate set is a superset. The ORACLE is the naive
    * postings join with the same integer predicate, so the hash match
    * PROVES the filter lossless on every fixture — the
    * q_sim_jaccard_pairs grading argument.
    *
    * Determinism: the verify is exact integer cross-multiplication
    * (10⁴·inter² ≥ 9025·n₁·n₂); cos_e6 = floor(inter·10⁶/√(n₁n₂))
    * uses only IEEE-determined ops (exact int→double below 2⁵³,
    * correctly-rounded sqrt and division, floor) — bit-identical
    * cross-engine, then summed as int64 (order-free).
    *
    * Scale: one shuffle to set-groups, one to per-lang df; the
    * candidate join carries only ~0.1·n rare-token prefix postings per
    * group; exact verify only on candidates; dup clusters cost one
    * group row. Census output (per-lang pair counts + checksums), so
    * output stays grain-sized even when the pair set is large.
    *
    * Small-vocab hardening (r5, measured 17.5 s → low single digits at
    * sf0.1): the fixture corpus draws from a tiny vocabulary, so prefix
    * postings reach ~1.2 k per token and the raw posting join emitted
    * 3.5 M pairs (2 M distinct candidates) for ~12 k true pairs. Two
    * further LOSSLESS integer filters run inside the posting join:
    *  - length ratio: inter ≤ min(n₁,n₂) ⇒ a qualifying pair has
    *    9025·max(n₁,n₂) ≤ 10⁴·min(n₁,n₂);
    *  - positional (PPJoin): at the pair's globally-FIRST common token
    *    (positions p₁, p₂ under the shared (df,w) total order) no
    *    common token precedes it, so inter ≤ 1 + min(n₁−p₁, n₂−p₂);
    *    gate each match on (1+min)²·10⁴ ≥ 9025·n₁·n₂. The first
    *    common token of a qualifying pair provably sits inside BOTH
    *    prefixes (else inter ≤ ⌈t²n⌉ − 1 < required), so at least that
    *    row survives — candidates stay a superset of the answer.
    * The exact verify then intersects DENSE-INT token ids (per-lang
    * dictionary in the same (df,w) order) instead of strings: the
    * primitive array_intersect path, ~an order of magnitude cheaper
    * per candidate. PropertiesSpec brute-force-proves the whole
    * relation (filters included) on random corpora.
    */
  /** The (lang, d1, d2, cos_e6) pair relation for binary cosine ≥ 0.95
    * over token sets — extracted so PropertiesSpec can brute-force-prove
    * the prefix-filter candidate generation lossless on random corpora
    * (the jaccardPairs testing pattern). Takes any (doc_id, lang, text)
    * relation; thresholding is pinned at t² = 0.9025 in 1e-4 units.
    */
  private[graft] def cosineSetPairs(docsIn: DataFrame): DataFrame =
    cosineSetPairsFromTokens(docsIn.select(col("doc_id"), col("lang"),
      split(col("text"), " ").as("ts")))

  /** Same relation, taking a pre-tokenized (doc_id, lang, ts) input so
    * the graded query can start from the shared corpus tokenization
    * (Text.sharedDocTokens) instead of re-scanning.
    */
  private[graft] def cosineSetPairsFromTokens(toksIn: DataFrame): DataFrame = {
      val docs = toksIn
        .select(col("doc_id"), col("lang"),
          array_sort(array_distinct(col("ts"))).as("st"))
      val groups = graft.Caches.scoped(docs.groupBy(col("lang"), col("st"))
        .agg(min(col("doc_id")).as("gid"),
          sort_array(collect_list(col("doc_id"))).as("ids"),
          count(lit(1)).as("c"))
        .withColumn("n", size(col("st")).cast("long")))
      val toks = groups.select(col("lang"), col("gid"),
        explode(col("st")).as("w"))
      val dfreq = toks.groupBy(col("lang"), col("w"))
        .agg(count(lit(1)).as("df"))
      // dense per-lang integer token ids under the SAME (df asc, w asc)
      // total order the prefix positions use — the verify intersects int
      // arrays (primitive fast path) instead of hashing strings per row,
      // and sorting a set's tids IS sorting it in prefix order, so the
      // prefix relation falls out of posexplode over the sorted array
      // (no per-gid window pass)
      val dict = dfreq.withColumn("tid",
        row_number().over(Window.partitionBy(col("lang"))
          .orderBy(ascf("df"), ascf("w"))))
      val intSets = graft.Caches.scoped(toks.join(dict, Seq("lang", "w"))
        .groupBy(col("lang"), col("gid"))
        .agg(array_sort(collect_list(col("tid"))).as("sti"))
        .withColumn("n", size(col("sti")).cast("long")))
      // materialize the scoped caches BEFORE the main job: its broadcast
      // futures all fire concurrently at plan time, and against cold
      // caches each future recomputes the full scan→groups→intSets chain
      // (measured as 4+ duplicate 0.6 s stages at sf0.1). One action
      // suffices — computing intSets scans the persisted `groups`, which
      // fills that cache as a side effect.
      intSets.count()
      val prefix = intSets.select(col("lang"), col("gid"), col("n"),
        posexplode(expr(
          "slice(sti, 1, int(size(sti) - (9025 * size(sti) + 9999) div 10000 + 1))"))
          .as(Seq("pos0", "tid")))
        .withColumn("pos", (col("pos0") + 1).cast("long"))
      // posting join + the two extra lossless filters (doc above): the
      // length-ratio and positional bounds prune inside the join, before
      // the candidate distinct
      val posUb = lit(1L) +
        least(col("a.n") - col("a.pos"), col("b.n") - col("b.pos"))
      val cand = prefix.alias("a")
        .join(prefix.alias("b"),
          col("a.lang") === col("b.lang") && col("a.tid") === col("b.tid") &&
            col("a.gid") < col("b.gid") &&
            lit(9025L) * greatest(col("a.n"), col("b.n")) <=
              lit(10000L) * least(col("a.n"), col("b.n")) &&
            posUb * posUb * lit(10000L) >= lit(9025L) * col("a.n") * col("b.n"))
        .select(col("a.gid").as("g1"), col("b.gid").as("g2"))
      val ia = intSets.select(col("lang"), col("gid").as("g1"),
        col("sti").as("s1"), col("n").as("n1"))
      val ib = intSets.select(col("gid").as("g2"),
        col("sti").as("s2"), col("n").as("n2"))
      // candidates arrive with duplicates (one per shared prefix token);
      // verifying first and deduping the ~50× smaller verified relation
      // saves the full-candidate exchange
      val verified = cand.join(ia, "g1").join(ib, "g2")
        .withColumn("inter",
          size(array_intersect(col("s1"), col("s2"))).cast("long"))
        .filter(col("inter") * col("inter") * 10000 >=
          lit(9025L) * col("n1") * col("n2"))
        .withColumn("cos_e6", floor((col("inter") * 1000000L).cast("double")
          / sqrt((col("n1") * col("n2")).cast("double"))).cast("long"))
        .select(col("lang"), col("g1"), col("g2"), col("cos_e6"))
        .distinct()
      val ga = groups.select(col("gid").as("g1"), col("ids").as("ids1"))
      val gb = groups.select(col("gid").as("g2"), col("ids").as("ids2"))
      val crossPairs = verified.join(ga, "g1").join(gb, "g2")
        .select(col("lang"), col("cos_e6"), explode(expr(
          """flatten(transform(ids1, i ->
            |  transform(ids2, j -> struct(least(i, j) as d1,
            |    greatest(i, j) as d2))))""".stripMargin)).as("p"))
        .select(col("lang"), col("p.d1").as("d1"), col("p.d2").as("d2"),
          col("cos_e6"))
      val samePairs = groups.filter(col("c") >= 2)
        .select(col("lang"), explode(expr(
          """flatten(transform(ids, a ->
            |  filter(transform(ids, b -> struct(a as d1, b as d2)),
            |    p -> p.d1 < p.d2)))""".stripMargin)).as("p"))
        .select(col("lang"), col("p.d1").as("d1"), col("p.d2").as("d2"),
          lit(1000000L).as("cos_e6"))
      samePairs.union(crossPairs)
  }

  private val simCosineSets = QueryDef(
    "q_sim_cosine_sets",
    (s, d) => {
      cosineSetPairsFromTokens(Text.sharedDocTokens(s, d))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_pairs"),
          sum(when(col("cos_e6") === 1000000L, 1L).otherwise(0L))
            .as("n_exact"),
          sum(col("d1") + col("d2")).as("id_checksum"),
          sum(col("cos_e6")).as("cos_checksum"))
        .orderBy(ascf("lang"))
    },
    Some("""WITH t AS MATERIALIZED (SELECT doc_id, lang,
           |  unnest(list_distinct(string_split(text, ' '))) AS w
           |  FROM documents),
           |sz AS MATERIALIZED (SELECT doc_id, count(*) AS n FROM t GROUP BY doc_id),
           |p AS (SELECT a.lang, a.doc_id AS d1, b.doc_id AS d2,
           |    count(*) AS inter
           |  FROM t a JOIN t b
           |    ON a.lang = b.lang AND a.w = b.w AND a.doc_id < b.doc_id
           |  GROUP BY 1, 2, 3),
           |q AS (SELECT lang, d1, d2, inter, s1.n AS n1, s2.n AS n2
           |  FROM p JOIN sz s1 ON p.d1 = s1.doc_id
           |         JOIN sz s2 ON p.d2 = s2.doc_id
           |  WHERE inter * inter * 10000 >= 9025 * s1.n * s2.n),
           |e AS (SELECT lang, d1, d2,
           |    CAST(floor(CAST(inter * 1000000 AS DOUBLE)
           |      / sqrt(CAST(n1 * n2 AS DOUBLE))) AS BIGINT) AS cos_e6
           |  FROM q)
           |SELECT lang, count(*) AS n_pairs,
           |  CAST(sum(CASE WHEN cos_e6 = 1000000 THEN 1 ELSE 0 END)
           |    AS BIGINT) AS n_exact,
           |  CAST(sum(d1 + d2) AS BIGINT) AS id_checksum,
           |  CAST(sum(cos_e6) AS BIGINT) AS cos_checksum
           |FROM e GROUP BY lang ORDER BY lang ASC NULLS FIRST""".stripMargin))

  /** Deterministic random projection 64→16 dims (round 7) — the
    * Johnson–Lindenstrauss dimensionality reduction an embedding
    * pipeline runs before ANN indexing or clustering at scale: a ±1
    * (Achlioptas-style) projection preserves pairwise distances within
    * (1±ε) while cutting vector bytes 4×, and a SIGNED projection is
    * exactly what the LSH hyperplane signatures already threshold —
    * this key grades the projection VALUES themselves.
    *
    * Determinism: elements quantize to e6 BIGINT (rule D3), each ±1
    * projection row is precomputed in Scala (`VecOps.hyperPlane`,
    * avalanche-mixed, seed space j=100.. disjoint from the 16 LSH
    * planes) and shipped as the SAME literal array into both engines,
    * and each output component is one exact int64 dot product — the
    * codegen'd `DotLongArrays` on the Spark side, `list_sum` over the
    * literal on the oracle side. No doubles anywhere.
    *
    * Shape at 100 TB: embarrassingly-parallel per-row work — 16 fused
    * dot products inside one codegen stage, no explode, no join, no
    * shuffle at all before the output sort; the projected relation is
    * 4× narrower than its input, which is the point.
    */
  private val vecRandproj = QueryDef(
    "q_vec_randproj",
    (s, d) => {
      val projs = array((0 until 16).map(k =>
        VecOps.dot(col("v"), typedlit(VecOps.hyperPlane(100 + k)))): _*)
      quantized(s, d)
        .select(col("vec_id"), col("label").cast("long").as("label"),
          posexplode(projs).as(Seq("dim", "proj_e6")))
        .select(col("vec_id"), col("label"), col("dim").cast("long").as("dim"),
          col("proj_e6"))
        .orderBy(ascf("vec_id"), ascf("dim"))
    },
    Some {
      val planes = (0 until 16).map(k =>
        s"(${k}, ${VecOps.hyperPlane(100 + k).mkString("[", ", ", "]")})")
        .mkString(",\n|    ")
      s"""WITH e AS (SELECT vec_id, label,
         |    list_transform(embedding, x ->
         |      CAST(round(CAST(x AS DOUBLE)*1000000, 0) AS BIGINT)) AS v
         |  FROM embeddings),
         |planes(dim, pl) AS (VALUES
         |    $planes)
         |SELECT vec_id, CAST(label AS BIGINT) AS label,
         |  CAST(dim AS BIGINT) AS dim,
         |  CAST(list_sum(list_transform(range(1, 65), i -> v[i] * pl[i]))
         |    AS BIGINT) AS proj_e6
         |FROM e CROSS JOIN planes
         |ORDER BY vec_id ASC NULLS FIRST, dim ASC NULLS FIRST""".stripMargin
    })

  /** ANN index evaluation (round 7): recall@10 of the shared LSH band
    * index against exact brute-force ground truth, per probe — the eval
    * harness every ANN deployment runs before trusting an index, as a
    * first-class graded operator (the property tests measure recall in
    * aggregate; this key grades the per-probe arithmetic itself).
    * For each of the 20 probe vectors: the exact same-label top-10 by
    * cosine, the band-candidate top-10, and their overlap.
    *
    * Scale: the EXACT side is probe-bounded (|probes| × same-label
    * rows — the eval budget, not a corpus blowup; production evals
    * sample probes exactly like this); the LSH side reuses the
    * session-shared band-candidate relation. Ranking uses
    * (round(cos, 6) DESC, vec_id ASC) — the q_sim_cosine_topk
    * cross-engine rank discipline.
    *
    * Determinism (D1/D2/D11): integer-quantized vectors, 6dp-rounded
    * cosine ranks with id tiebreaks, integer recall in 1e6 units via
    * floor division by the ACTUAL ground-truth size (≤ 10 when a label
    * has few members).
    *
    * Measured honestly: mean recall@10 ≈ 0.34 at sf0.1 — the 4-band
    * 16-bit index is tuned for NEAR-DUP thresholds (≈0.99 cosine,
    * where its recall is ~0.999), not for general top-10 retrieval
    * over 1500-member labels; that gap is exactly what this eval
    * surfaces, and why production picks bands per target threshold.
    */
  private val simRecall = QueryDef(
    "q_sim_recall",
    (s, d) => {
      import VecOps._
      val emb = quantized(s, d)
      val probes = emb.filter(col("vec_id") < 20)
        .select(col("vec_id").as("pid"), col("label").as("pl"),
          col("v").as("pv"), col("nn").as("pnn"))
      val wP = Window.partitionBy(col("pid"))
        .orderBy(descl("rcos"), ascf("oid"))
      val exactRanked = probes
        .join(emb.select(col("vec_id").as("oid"), col("label").as("ol"),
            col("v").as("ov"), col("nn").as("onn")),
          col("pl") === col("ol") && col("pid") =!= col("oid"))
        .select(col("pid"), col("oid"),
          (round(cosine(dot(col("pv"), col("ov")), col("pnn"), col("onn")),
            6) + lit(0.0)).as("rcos"))
        .withColumn("rn", row_number().over(wP))
      val exact10 = exactRanked.filter(col("rn") <= 10)
        .select(col("pid"), col("oid"))
      val cand = bandCandidatesWithCos(s, d)
      val candDir = cand.filter(col("id_a") < 20)
        .select(col("id_a").as("pid"), col("id_b").as("oid"), col("cos"))
        .unionByName(cand.filter(col("id_b") < 20)
          .select(col("id_b").as("pid"), col("id_a").as("oid"), col("cos")))
      val lshRanked = candDir
        .select(col("pid"), col("oid"),
          (round(col("cos"), 6) + lit(0.0)).as("rcos"))
        .withColumn("rn", row_number().over(wP))
      val lsh10 = lshRanked.filter(col("rn") <= 10)
        .select(col("pid").as("lp"), col("oid").as("lo"))
      val nExact = exact10.groupBy(col("pid")).agg(count(lit(1)).as("n_exact"))
      val nCand = candDir.groupBy(col("pid")).agg(count(lit(1)).as("n_cand"))
      val nHit = exact10
        .join(lsh10, col("pid") === col("lp") && col("oid") === col("lo"))
        .groupBy(col("pid")).agg(count(lit(1)).as("n_hit"))
      probes.select(col("pid"))
        .join(nExact, Seq("pid"), "left")
        .join(nCand, Seq("pid"), "left")
        .join(nHit, Seq("pid"), "left")
        .select(col("pid"),
          coalesce(col("n_exact"), lit(0L)).as("n_exact"),
          coalesce(col("n_cand"), lit(0L)).as("n_cand"),
          coalesce(col("n_hit"), lit(0L)).as("n_hit"),
          when(coalesce(col("n_exact"), lit(0L)) === 0, 0L)
            .otherwise(expr(
              "(coalesce(n_hit, 0L) * 1000000) div coalesce(n_exact, 1L)"))
            .as("recall_e6"))
        .orderBy(ascf("pid"))
    },
    Some(VecOps.oracleQuantized + VecOps.oracleBandCandidates +
      """,
        |probes AS (SELECT vec_id AS pid, label AS pl FROM n
        |  WHERE vec_id < 20),
        |ex AS (SELECT p.pid, o.vec_id AS oid,
        |    round(CAST(list_sum(list_transform(range(1, 65),
        |      k -> np.v[k] * o.v[k])) AS DOUBLE)
        |      / (sqrt(CAST(np.nn AS DOUBLE)) * sqrt(CAST(o.nn AS DOUBLE))),
        |      6) + 0.0 AS rcos
        |  FROM probes p JOIN n np ON p.pid = np.vec_id
        |  JOIN n o ON o.label = p.pl AND o.vec_id <> p.pid),
        |ex10 AS (SELECT pid, oid FROM (
        |    SELECT pid, oid, row_number() OVER (PARTITION BY pid
        |      ORDER BY rcos DESC, oid ASC) AS rn FROM ex)
        |  WHERE rn <= 10),
        |cd AS (SELECT ia AS pid, ib AS oid, cos FROM ver WHERE ia < 20
        |  UNION ALL SELECT ib, ia, cos FROM ver WHERE ib < 20),
        |l10 AS (SELECT pid, oid FROM (
        |    SELECT pid, oid, row_number() OVER (PARTITION BY pid
        |      ORDER BY round(cos, 6) + 0.0 DESC, oid ASC) AS rn FROM cd)
        |  WHERE rn <= 10),
        |ne AS (SELECT pid, count(*) AS n_exact FROM ex10 GROUP BY pid),
        |nc AS (SELECT pid, count(*) AS n_cand FROM cd GROUP BY pid),
        |nh AS (SELECT e.pid, count(*) AS n_hit FROM ex10 e
        |  JOIN l10 l ON e.pid = l.pid AND e.oid = l.oid GROUP BY e.pid)
        |SELECT p.pid AS pid,
        |  CAST(coalesce(ne.n_exact, 0) AS BIGINT) AS n_exact,
        |  CAST(coalesce(nc.n_cand, 0) AS BIGINT) AS n_cand,
        |  CAST(coalesce(nh.n_hit, 0) AS BIGINT) AS n_hit,
        |  CAST(CASE WHEN coalesce(ne.n_exact, 0) = 0 THEN 0
        |    ELSE (coalesce(nh.n_hit, 0) * 1000000)
        |      // coalesce(ne.n_exact, 1) END AS BIGINT) AS recall_e6
        |FROM probes p
        |LEFT JOIN ne ON p.pid = ne.pid
        |LEFT JOIN nc ON p.pid = nc.pid
        |LEFT JOIN nh ON p.pid = nh.pid
        |ORDER BY p.pid ASC NULLS FIRST""".stripMargin))

  /** Matrix-free power iteration for the TOP PRINCIPAL DIRECTION of the
    * embedding corpus (round 7): 3 unrolled rounds of w ← G·w over the
    * uncentered Gram G = Σ_v q qᵀ — the dimensionality-reduction /
    * whitening precursor (randproj preserves distances OBLIVIOUSLY;
    * PCA finds the direction the data actually varies in, the first
    * step of PCA-SQ quantizers, spectral outlier screens, and
    * embedding-drift monitors).
    *
    * The Gram matrix NEVER materializes (64² cells × a corpus-sized
    * build join at fleet scale): each round computes G·w = Σ_v q·(qᵀw)
    * in ONE corpus pass — the per-row scalar s = qᵀw is a codegen'd
    * exact dot against the broadcast 1-row w, and the per-dimension
    * sums are a 64-row partial aggregate of the ×64 explode. That is
    * the standard distributed matrix-free power method (and the same
    * broadcast-model-row shape as q_ml_kmeans scoring).
    *
    * Determinism: all integer — q is e6-quantized (D3), s ≤ 64·10¹²
    * int64, per-term q_k·s widens to DECIMAL(38,0)/HUGEINT BEFORE
    * summation; normalization divides by the SIGNED component at the
    * dimension of max |y| (ties → smallest dim), so the sign
    * convention is pinned and that dimension is exactly ±1e6; `div`
    * truncates toward zero in both engines (verified on negatives).
    * Three rounds is a graded STEP, not a converged eigenvector — the
    * synthetic embeddings are near-isotropic (λ2/λ1 ≈ 0.93), so full
    * convergence needs ~100 rounds; the q_ml_als_step convention.
    * Round7Spec pins the step to an unquantized 3-round replica and
    * the per-step monotone Rayleigh-quotient gain.
    * pivot = 0 would need G·w = 0 exactly (every corpus vector ⊥ w in
    * every round) — structurally impossible for e6-quantized real
    * embeddings; stated rather than guarded, the q_graph_adamic_adar
    * convention.
    */
  private val vecPcaPower = QueryDef(
    "q_vec_pca_power",
    (s, d) => {
      val dec38 = org.apache.spark.sql.types.DecimalType(38, 0)
      val emb = graft.Caches.scoped(
        quantized(s, d).select(col("vec_id"), col("v")))
      var ws = List(s.range(1)
        .select(typedlit(Seq.fill(64)(1000000L)).as("w")))
      for (_ <- 1 to 3) {
        val scored = emb.crossJoin(broadcast(ws.head))
          .withColumn("sv", VecOps.dot(col("v"), col("w")))
        val y = graft.Caches.scoped(scored
          .select(col("sv"), posexplode(col("v")).as(Seq("k", "qk")))
          .groupBy(col("k"))
          .agg(sum(col("qk").cast(dec38) * col("sv")).as("y")))
        val mx = y.agg(max(abs(col("y"))).as("mx"))
        val pk = y.crossJoin(broadcast(mx))
          .filter(abs(col("y")) === col("mx"))
          .agg(min(col("k")).as("pk"))
        val pivot = y.crossJoin(broadcast(pk))
          .filter(col("k") === col("pk")).select(col("y").as("pv"))
        val wNext = y.crossJoin(broadcast(pivot))
          .select(col("k"),
            expr("cast((y * 1000000) div pv as bigint)").as("wv"))
          .groupBy()
          .agg(expr(
            "transform(array_sort(collect_list(struct(k, wv))), x -> x.wv)")
            .as("w"))
        ws = graft.Caches.scoped(wNext) :: ws
      }
      val fin = ws.head.select(posexplode(col("w")).as(Seq("dim", "w_e6")))
      val prev = ws(1).select(posexplode(col("w")).as(Seq("dim2", "prev_e6")))
      fin.join(broadcast(prev), col("dim") === col("dim2"))
        .select(col("dim").cast("long").as("dim"), col("w_e6"),
          col("prev_e6"))
        .orderBy(ascf("dim"))
    },
    Some {
      val w0 = Seq.fill(64)("1000000").mkString("[", ", ", "]")
      def round(i: Int): String =
        s"""s$i AS (SELECT e.v AS v,
           |    CAST(list_sum(list_transform(range(1, 65),
           |      k -> e.v[k] * w${i - 1}.w[k])) AS BIGINT) AS s
           |  FROM e CROSS JOIN w${i - 1}),
           |y$i AS MATERIALIZED (SELECT t.k,
           |    sum(CAST(v[t.k] AS HUGEINT) * s) AS y
           |  FROM s$i CROSS JOIN (SELECT unnest(range(1, 65)) AS k) t
           |  GROUP BY t.k),
           |p$i AS (SELECT min(k) AS pk FROM y$i
           |  WHERE abs(y) = (SELECT max(abs(y)) FROM y$i)),
           |v$i AS (SELECT y AS pv FROM y$i, p$i WHERE y$i.k = p$i.pk),
           |w$i AS MATERIALIZED (SELECT
           |    list(CAST((y * 1000000) // pv AS BIGINT) ORDER BY k) AS w
           |  FROM y$i, v$i)""".stripMargin
      s"""WITH e AS (SELECT vec_id,
         |    list_transform(embedding, x ->
         |      CAST(round(CAST(x AS DOUBLE)*1000000, 0) AS BIGINT)) AS v
         |  FROM embeddings),
         |w0 AS (SELECT $w0 AS w),
         |${(1 to 3).map(round).mkString(",\n")}
         |SELECT CAST(t.k - 1 AS BIGINT) AS dim,
         |  CAST(w3.w[t.k] AS BIGINT) AS w_e6,
         |  CAST(w2.w[t.k] AS BIGINT) AS prev_e6
         |FROM w3 CROSS JOIN w2
         |CROSS JOIN (SELECT unnest(range(1, 65)) AS k) t
         |ORDER BY dim ASC NULLS FIRST""".stripMargin
    })

  /** Maximum-inner-product search vs cosine ranking (round 7): per
    * probe, the exact top-5 by RAW dot product and by cosine, plus how
    * far they agree — recommender scoring ranks by dot (preference =
    * magnitude × direction), retrieval by cosine (direction only), and
    * the two diverge exactly when norms vary; MIPS is its own problem
    * (norm-augmentation reductions exist precisely because of this).
    * The overlap column measures the fixture's norm bias directly.
    *
    * Scale: probes (id ≡ 0 mod 1000) broadcast; the corpus side never
    * shuffles for SCORING — the per-probe exchange carries only the
    * scored relation, and both rankings share ONE (probe) partition
    * sort (two windows, one exchange). At fleet scale the dot side
    * plugs into the same candidate generators as the cosine ANN ladder
    * after the standard MIPS→cosine augmentation.
    *
    * Determinism: dots exact int64 (e6-quantized, |dot| ≤ 64·10¹²) so
    * the dot rank order is pure-integer total (dp desc, vec_id asc);
    * the cosine rank uses the D10-pinned 6dp-rounded cosine with the
    * same vec_id tiebreak — q_sim_cosine_topk's graded convention,
    * bit-identical across engines by the same argument.
    */
  private val simMips = QueryDef(
    "q_sim_mips",
    (s, d) => {
      // popularity scaling k = 1 + id mod 5: the fixture embeddings are
      // unit-normalized (measured norms 1 ± 1e-7), so raw MIPS over
      // them DEGENERATES to cosine (n_common was constant 5); scaling
      // item magnitude by a deterministic popularity factor is the
      // standard recommender setup and makes the dot-vs-cos divergence
      // a real, graded quantity. cos is scale-invariant, so the cosine
      // ranking is unchanged by construction.
      val emb = graft.Caches.scoped(quantized(s, d)
        .select(col("vec_id"),
          transform(col("v"),
            x => x * (pmod(col("vec_id"), lit(5L)) + lit(1L))).as("v"))
        .withColumn("nn", dot(col("v"), col("v"))))
      val probes = emb.filter(pmod(col("vec_id"), lit(1000L)) === 0)
        .select(col("vec_id").as("pid"), col("v").as("pv"),
          col("nn").as("pnn"))
      val scored = emb
        .crossJoin(broadcast(probes))
        .filter(col("vec_id") =!= col("pid"))
        .select(col("pid"), col("vec_id"),
          dot(col("v"), col("pv")).as("dp"),
          (round(cosine(dot(col("v"), col("pv")), col("nn"), col("pnn")), 6)
            + lit(0.0)).as("cos"))
      val wD = Window.partitionBy(col("pid"))
        .orderBy(descl("dp"), ascf("vec_id"))
      val wC = Window.partitionBy(col("pid"))
        .orderBy(descl("cos"), ascf("vec_id"))
      val ranked = scored
        .withColumn("rd", row_number().over(wD))
        .withColumn("rc", row_number().over(wC))
      val dotTop = ranked.filter(col("rd") <= 5)
        .groupBy(col("pid"))
        .agg(max(when(col("rd") === 1, col("vec_id"))).as("top_dot_id"),
          max(when(col("rd") === 1, col("dp"))).as("top_dot"),
          sum(col("vec_id")).as("idsum_dot"))
      val cosTop = ranked.filter(col("rc") <= 5)
        .groupBy(col("pid"))
        .agg(sum(col("vec_id")).as("idsum_cos"))
      val common = ranked.filter(col("rd") <= 5 && col("rc") <= 5)
        .groupBy(col("pid")).agg(count(lit(1)).as("n_common"))
      dotTop.join(cosTop, Seq("pid"))
        .join(common, Seq("pid"), "left")
        .select(col("pid"), col("top_dot_id"), col("top_dot"),
          col("idsum_dot"), col("idsum_cos"),
          coalesce(col("n_common"), lit(0L)).as("n_common"))
        .orderBy(ascf("pid"))
    },
    Some(oracleQuantized +
      """,
        |n2 AS (SELECT vec_id,
        |    list_transform(v, x -> x * (vec_id % 5 + 1)) AS v
        |  FROM n),
        |n3 AS (SELECT vec_id, v,
        |    CAST(list_sum(list_transform(v, x -> x * x)) AS BIGINT) AS nn
        |  FROM n2),
        |pr AS (SELECT vec_id AS pid, v AS pv, nn AS pnn FROM n3
        |  WHERE vec_id % 1000 = 0),
        |sc AS (SELECT pr.pid, a.vec_id,
        |    CAST(list_sum(list_transform(range(1, 65),
        |      k -> a.v[k] * pr.pv[k])) AS BIGINT) AS dp,
        |    round(CAST(list_sum(list_transform(range(1, 65),
        |        k -> a.v[k] * pr.pv[k])) AS DOUBLE)
        |      / (sqrt(CAST(a.nn AS DOUBLE)) * sqrt(CAST(pr.pnn AS DOUBLE))),
        |      6) + 0.0 AS cos
        |  FROM n3 a CROSS JOIN pr WHERE a.vec_id <> pr.pid),
        |rk AS (SELECT *,
        |    row_number() OVER (PARTITION BY pid
        |      ORDER BY dp DESC NULLS LAST, vec_id ASC NULLS FIRST) AS rd,
        |    row_number() OVER (PARTITION BY pid
        |      ORDER BY cos DESC NULLS LAST, vec_id ASC NULLS FIRST) AS rc
        |  FROM sc),
        |dt AS (SELECT pid,
        |    max(CASE WHEN rd = 1 THEN vec_id END) AS top_dot_id,
        |    max(CASE WHEN rd = 1 THEN dp END) AS top_dot,
        |    CAST(sum(vec_id) AS BIGINT) AS idsum_dot
        |  FROM rk WHERE rd <= 5 GROUP BY pid),
        |ct AS (SELECT pid, CAST(sum(vec_id) AS BIGINT) AS idsum_cos
        |  FROM rk WHERE rc <= 5 GROUP BY pid),
        |cm AS (SELECT pid, CAST(count(*) AS BIGINT) AS n_common
        |  FROM rk WHERE rd <= 5 AND rc <= 5 GROUP BY pid)
        |SELECT dt.pid, dt.top_dot_id, dt.top_dot, dt.idsum_dot,
        |  ct.idsum_cos, coalesce(cm.n_common, 0) AS n_common
        |FROM dt JOIN ct ON dt.pid = ct.pid
        |LEFT JOIN cm ON dt.pid = cm.pid
        |ORDER BY dt.pid ASC NULLS FIRST""".stripMargin))

  /** Per-dimension embedding statistics (round 7): the StandardScaler /
    * quantizer FIT — for every dimension of the 64-d embedding column:
    * count, exact e6 sum and sum-of-squares, min/max (the SQ quantizer's
    * range, graded as an output instead of an internal), positive-
    * component count (dead-dimension detection: n_pos ≈ 0 or ≈ n flags
    * a collapsed feature), truncated mean, and exact variance. Every
    * normalization downstream of a 100 TB embedding corpus — z-scoring,
    * clipping, scalar quantization, PCA preconditioning — starts from
    * exactly this relation.
    *
    * Scale: one corpus pass, posexplode to (dim, component) grain with
    * MAP-SIDE partial aggregation — the shuffle carries ≤ 64×partitions
    * partial rows, never the corpus; output is dimension-sized. This is
    * the canonical fit/apply split: the fit is this census, the apply is
    * a broadcast join of its 64 rows.
    *
    * Determinism (D2/D3): components e6-quantized once (VecOps.e6, the
    * same relation every vector key shares), so sums/squares are exact
    * int64 (|x|≤2e6 ⇒ Σx² ≤ n·4e12); the variance numerator n·Σx²−(Σx)²
    * stages through DECIMAL(38,0)/HUGEINT and divides back to an int64
    * e12 quantity (σ² of e6 values ≤ ~4e12); trunc-div identical on
    * negative means (the q_ml_boost contract).
    */
  private val vecStats = QueryDef(
    "q_vec_stats",
    (s, d) => {
      VecOps.quantized(s, d)
        .select(posexplode(col("v")).as(Seq("p", "x")))
        .select((col("p") + 1).cast("long").as("dim"), col("x"))
        .groupBy(col("dim"))
        .agg(count(lit(1)).as("n_vecs"),
          sum(col("x")).as("sum_q"),
          sum(col("x") * col("x")).as("ssq_q"),
          min(col("x")).as("min_q"), max(col("x")).as("max_q"),
          sum(when(col("x") > 0, 1L).otherwise(0L)).as("n_pos"))
        .withColumn("mean_e6", expr("sum_q div n_vecs"))
        .withColumn("var_e12", expr(
          """CAST((CAST(n_vecs AS DECIMAL(38,0)) * ssq_q
            |  - CAST(sum_q AS DECIMAL(38,0)) * sum_q)
            |  div (CAST(n_vecs AS DECIMAL(38,0)) * n_vecs) AS BIGINT)"""
            .stripMargin))
        .orderBy(ascf("dim"))
    },
    Some(VecOps.oracleQuantized +
      s""",
         |c AS (SELECT t.k AS dim, v[t.k] AS x
         |  FROM n CROSS JOIN range(1, 65) t(k))
         |SELECT dim, CAST(count(*) AS BIGINT) AS n_vecs,
         |  CAST(sum(x) AS BIGINT) AS sum_q,
         |  CAST(sum(x * x) AS BIGINT) AS ssq_q,
         |  min(x) AS min_q, max(x) AS max_q,
         |  CAST(sum(CASE WHEN x > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
         |  CAST(sum(x) // count(*) AS BIGINT) AS mean_e6,
         |  CAST((CAST(count(*) AS HUGEINT) * sum(x * x)
         |    - CAST(sum(x) AS HUGEINT) * sum(x))
         |    // (CAST(count(*) AS HUGEINT) * count(*)) AS BIGINT)
         |    AS var_e12
         |FROM c GROUP BY dim
         |ORDER BY dim ASC NULLS FIRST""".stripMargin))

  /** Maximal-marginal-relevance selection (round 7, Carbonell &
    * Goldstein SIGIR'98): the diversity-aware top-k every RAG reranker
    * runs — greedily pick the candidate maximizing relevance-to-query
    * MINUS similarity-to-already-selected, so the result set covers the
    * query's neighborhood instead of returning 8 near-duplicates of the
    * same best hit (plain top-k is q_sim_cosine_topk; this is its
    * redundancy-penalized sibling). Score = 2·rel − max_sel(dot), i.e.
    * λ = 1/2 cleared to integers; query = the min-vec_id embedding;
    * k = 8 rounds; ties by vec_id.
    *
    * Scale: each greedy round is ONE data-parallel scan scoring every
    * remaining candidate against the broadcast selected set (k·64
    * longs) — the argmax is an aggregate, never a driver-side sort of
    * candidates; the k-row selection state lives in the driver (the
    * parameter-server pattern of q_ml_perceptron). In production MMR
    * reranks an ANN candidate pool, so the scans run pool-sized, and
    * the engine-side plan here is exactly that reranker.
    *
    * Determinism (D3): e6-quantized vectors make every dot an exact
    * int64 (≤ 64·4e12), so scores are pure-integer and the argmax total
    * order (score DESC, vec_id ASC) is engine-independent. The oracle
    * re-runs the whole greedy selection as 8 unrolled MATERIALIZED
    * CTEs — two independent executions of the full iterate.
    */
  private val vecMmr: QueryDef = {
    val build = (s: org.apache.spark.sql.SparkSession, d: String) => {
      val emb = graft.Caches.scoped(
        VecOps.quantized(s, d).select(col("vec_id"), col("v")))
      val qid = emb.agg(min(col("vec_id"))).head().getLong(0)
      val qv: Seq[Long] = emb.filter(col("vec_id") === qid)
        .head().getSeq[Long](1)
      val rel = VecOps.dot(col("v"), typedlit(qv))
      var sel = Vector.empty[(Long, Seq[Long], Long, Long, Long)]
      for (_ <- 1 to 8) {
        val excluded = qid +: sel.map(_._1)
        val pen =
          if (sel.isEmpty) lit(0L)
          else if (sel.size == 1)
            VecOps.dot(col("v"), typedlit(sel.head._2))
          else greatest(sel.map(sv =>
            VecOps.dot(col("v"), typedlit(sv._2))): _*)
        val win = emb.filter(!col("vec_id").isInCollection(excluded))
          .select(col("vec_id"), col("v"), rel.as("rel"), pen.as("pen"))
          .withColumn("score", lit(2L) * col("rel") - col("pen"))
          .orderBy(descl("score"), ascf("vec_id"))
          .limit(1).head()
        sel = sel :+ ((win.getLong(0), win.getSeq[Long](1),
          win.getLong(2), win.getLong(3), win.getLong(4)))
      }
      val rows = sel.zipWithIndex.map { case ((id, _, r, p, sc), i) =>
        org.apache.spark.sql.Row((i + 1).toLong, id, r, p, sc) }
      s.createDataFrame(s.sparkContext.parallelize(rows, 1),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("rank",
            org.apache.spark.sql.types.LongType, nullable = false),
          org.apache.spark.sql.types.StructField("vec_id",
            org.apache.spark.sql.types.LongType, nullable = false),
          org.apache.spark.sql.types.StructField("rel",
            org.apache.spark.sql.types.LongType, nullable = false),
          org.apache.spark.sql.types.StructField("pen",
            org.apache.spark.sql.types.LongType, nullable = false),
          org.apache.spark.sql.types.StructField("score",
            org.apache.spark.sql.types.LongType, nullable = false))))
        .orderBy(ascf("rank"))
    }
    def dotSql(a: String, b: String) =
      s"CAST(list_sum(list_transform(range(1, 65), k -> $a.v[k] * $b.v[k])) AS BIGINT)"
    val rounds = (1 to 8).map { i =>
      if (i == 1)
        """s1 AS MATERIALIZED (SELECT vec_id, v, rel,
          |    CAST(0 AS BIGINT) AS pen, 2 * rel AS score
          |  FROM r ORDER BY 2 * rel DESC, vec_id ASC LIMIT 1)""".stripMargin
      else {
        val prev = (1 until i).map(j => s"s$j")
        val penE =
          if (prev.size == 1) dotSql("r", "s1")
          else "greatest(" + prev.map(p => dotSql("r", p))
            .mkString(", ") + ")"
        val notIn = prev.map(p => s"r.vec_id <> $p.vec_id")
          .mkString(" AND ")
        s"""s$i AS MATERIALIZED (SELECT r.vec_id, r.v, r.rel,
           |    $penE AS pen, 2 * r.rel - $penE AS score
           |  FROM r, ${prev.mkString(", ")} WHERE $notIn
           |  ORDER BY score DESC, r.vec_id ASC LIMIT 1)""".stripMargin
      }
    }.mkString(",\n")
    val finalSel = (1 to 8).map(i =>
      s"SELECT CAST($i AS BIGINT) AS rank, vec_id, rel, pen, score FROM s$i")
      .mkString("\nUNION ALL\n")
    QueryDef("q_vec_mmr", build, Some(
      VecOps.oracleQuantized +
        s""",
           |q AS (SELECT vec_id AS vid, v FROM n
           |  WHERE vec_id = (SELECT min(vec_id) FROM n)),
           |r AS (SELECT n.vec_id, n.v,
           |    ${dotSql("n", "q")} AS rel
           |  FROM n, q WHERE n.vec_id <> q.vid),
           |$rounds
           |$finalSel
           |ORDER BY rank ASC NULLS FIRST""".stripMargin))
  }

  /** Farthest-first k-center seeding (round 7, Gonzalez '85): pick k=5
    * centers by repeatedly taking the point FARTHEST from the chosen
    * set (exact squared L2 over the e6-quantized vectors, maximin with
    * id tiebreak) — the 2-approximation for the k-center objective and
    * the standard deterministic stand-in for k-means++ seeding /
    * coreset construction. The graded output carries each center's
    * selection distance (non-increasing by construction) AND the final
    * COVERAGE RADIUS — max over all points of the distance to their
    * nearest center, i.e. the k-center objective value itself, which
    * the 2-approx guarantee bounds.
    *
    * Scale: each greedy round is one data-parallel scan computing the
    * min-distance-to-centers (centers broadcast, ≤ k·64 longs) and an
    * argmax AGGREGATE — never a driver-side sort; the k-row selection
    * state is driver-held (the q_vec_mmr parameter-server loop). This
    * is exactly how k-means|| and coreset builders seed at fleet scale.
    *
    * Determinism (D3): exact int64 squared distances ⇒ pure-integer
    * argmax under (d2 DESC, vec_id ASC); the oracle re-runs the whole
    * greedy traversal as unrolled MATERIALIZED CTEs.
    */
  private val vecKcenter: QueryDef = {
    val K = 5
    val build = (s: org.apache.spark.sql.SparkSession, d: String) => {
      val emb = graft.Caches.scoped(
        VecOps.quantized(s, d).select(col("vec_id"), col("v")))
      def d2To(cv: Seq[Long]) = {
        val diff2 = (1 to 64).map(k =>
          (element_at(col("v"), k) - lit(cv(k - 1))) *
            (element_at(col("v"), k) - lit(cv(k - 1))))
        diff2.reduce(_ + _)
      }
      val c1 = emb.orderBy(ascf("vec_id")).limit(1).head()
      var centers = Vector((c1.getLong(0), c1.getSeq[Long](1), 0L))
      for (_ <- 2 to K) {
        val minD = centers.map(c => d2To(c._2)).reduce(least(_, _))
        val win = emb
          .filter(!col("vec_id").isInCollection(centers.map(_._1)))
          .select(col("vec_id"), col("v"), minD.as("d2"))
          .orderBy(descl("d2"), ascf("vec_id"))
          .limit(1).head()
        centers = centers :+ ((win.getLong(0), win.getSeq[Long](1),
          win.getLong(2)))
      }
      val minAll = centers.map(c => d2To(c._2)).reduce(least(_, _))
      val radius = emb.agg(max(minAll)).head().getLong(0)
      val rows = centers.zipWithIndex.map { case ((id, _, d2), i) =>
        org.apache.spark.sql.Row((i + 1).toLong, id, d2, radius) }
      s.createDataFrame(s.sparkContext.parallelize(rows, 1),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("rank",
            org.apache.spark.sql.types.LongType, nullable = false),
          org.apache.spark.sql.types.StructField("vec_id",
            org.apache.spark.sql.types.LongType, nullable = false),
          org.apache.spark.sql.types.StructField("sel_d2",
            org.apache.spark.sql.types.LongType, nullable = false),
          org.apache.spark.sql.types.StructField("radius_d2",
            org.apache.spark.sql.types.LongType, nullable = false))))
        .orderBy(ascf("rank"))
    }
    def d2Sql(a: String, b: String) =
      s"CAST(list_sum(list_transform(range(1, 65), k -> " +
        s"($a.v[k] - $b.v[k]) * ($a.v[k] - $b.v[k]))) AS BIGINT)"
    val rounds = (2 to K).map { i =>
      val prev = (1 until i).map(j => s"s$j")
      val minE =
        if (prev.size == 1) d2Sql("n", "s1")
        else "least(" + prev.map(p => d2Sql("n", p)).mkString(", ") + ")"
      val notIn = prev.map(p => s"n.vec_id <> $p.vec_id").mkString(" AND ")
      s"""s$i AS MATERIALIZED (SELECT n.vec_id, n.v, $minE AS d2
         |  FROM n, ${prev.mkString(", ")} WHERE $notIn
         |  ORDER BY d2 DESC, n.vec_id ASC LIMIT 1)""".stripMargin
    }.mkString(",\n")
    val allC = (1 to K).map(j => s"s$j").mkString(", ")
    val minAllE = "least(" + (1 to K).map(j => d2Sql("n", s"s$j"))
      .mkString(", ") + ")"
    val sel = (1 to K).map(i =>
      s"SELECT CAST($i AS BIGINT) AS rank, vec_id, " +
        s"${if (i == 1) "CAST(0 AS BIGINT)" else "d2"} AS sel_d2 FROM s$i")
      .mkString("\nUNION ALL\n")
    QueryDef("q_vec_kcenter", build, Some(
      VecOps.oracleQuantized +
        s""",
           |s1 AS MATERIALIZED (SELECT vec_id, v FROM n
           |  ORDER BY vec_id ASC LIMIT 1),
           |$rounds,
           |rad AS (SELECT max($minAllE) AS r FROM n, $allC)
           |SELECT c.rank, c.vec_id, c.sel_d2,
           |  CAST(rad.r AS BIGINT) AS radius_d2
           |FROM ($sel) c, rad
           |ORDER BY rank ASC NULLS FIRST""".stripMargin))
  }

  /** Filtered vector search: pre-filter vs post-filter (round 7) — THE
    * vector-database design question: a query wants neighbors
    * SATISFYING A PREDICATE (here: the probe's own label). Pre-filter
    * ranks within the predicate's pool (always finds k if the pool has
    * k); post-filter takes the global top-20 THEN applies the
    * predicate — cheaper against a global index, but it finds only
    * what survived the cutoff, and the graded census measures exactly
    * that gap per probe: predicate-pool size, how many of the true
    * (pre-filter) top-5 the post-filter route recovers, and whether
    * the two routes even agree on the best hit. Ranking is by exact
    * integer dot (the q_sim_mips convention) so every ordering is
    * pure-integer with id tiebreaks.
    *
    * Scale: probes broadcast against the corpus (the ANN-serving
    * shape); both routes share ONE scored relation and differ only in
    * window partitioning; at fleet scale the pre-filter route becomes
    * a per-label index probe (q_join_bucketed's layout argument) while
    * post-filter rides the global index — this census is the decision
    * data between them.
    *
    * Determinism (D3): exact int64 dots; (dot DESC, vec_id ASC) total
    * orders; pure integer census.
    */
  private val simFilteredTopk = QueryDef(
    "q_sim_filtered_topk",
    (s, d) => {
      val emb = VecOps.quantized(s, d)
      val probes = emb.filter(pmod(col("vec_id"), lit(250L)) === 0)
        .select(col("vec_id").as("pid"), col("label").as("plabel"),
          col("v").as("pv"))
      val scored = graft.Caches.scoped(emb.crossJoin(broadcast(probes))
        .filter(col("vec_id") =!= col("pid"))
        .select(col("pid"), col("plabel"), col("vec_id"), col("label"),
          VecOps.dot(col("v"), col("pv")).as("dp")))
      val wPre = Window.partitionBy(col("pid"))
        .orderBy(descl("dp"), ascf("vec_id"))
      val pre = scored.filter(col("label") === col("plabel"))
        .withColumn("rk", row_number().over(wPre))
        .filter(col("rk") <= 5)
        .select(col("pid"), col("vec_id"), col("rk"))
      val post = scored
        .withColumn("grk", row_number().over(wPre))
        .filter(col("grk") <= 20)
        .filter(col("label") === col("plabel"))
        .withColumn("prk", row_number().over(Window.partitionBy(col("pid"))
          .orderBy(ascf("grk"))))
        .filter(col("prk") <= 5)
        .select(col("pid").as("qid"), col("vec_id").as("pvid"),
          col("prk"))
      val pool = scored.filter(col("label") === col("plabel"))
        .groupBy(col("pid")).agg(count(lit(1)).as("n_pool"))
      val overlap = pre.join(post,
          col("pid") === col("qid") && col("vec_id") === col("pvid"))
        .groupBy(col("pid")).agg(count(lit(1)).as("n_overlap"))
      val top1 = pre.filter(col("rk") === 1)
        .select(col("pid"), col("vec_id").as("pre1"))
        .join(post.filter(col("prk") === 1)
          .select(col("qid").as("pid"), col("pvid").as("post1")),
          Seq("pid"), "left")
      probes.select(col("pid"))
        .join(pool, Seq("pid"), "left")
        .join(post.groupBy(col("qid").as("pid"))
          .agg(count(lit(1)).as("n_post")), Seq("pid"), "left")
        .join(overlap, Seq("pid"), "left")
        .join(top1, Seq("pid"), "left")
        .select(col("pid"),
          coalesce(col("n_pool"), lit(0L)).as("n_pool"),
          coalesce(col("n_post"), lit(0L)).as("n_post_found"),
          coalesce(col("n_overlap"), lit(0L)).as("n_overlap"),
          when(col("pre1") === col("post1"), 1L).otherwise(0L)
            .as("top1_agrees"))
        .orderBy(ascf("pid"))
    },
    Some(VecOps.oracleQuantized +
      s""",
         |pr AS (SELECT vec_id AS pid, label AS plabel, v AS pv
         |  FROM n WHERE vec_id % 250 = 0),
         |sc AS (SELECT pr.pid, pr.plabel, n.vec_id, n.label,
         |    CAST(list_sum(list_transform(range(1, 65),
         |      k -> n.v[k] * pr.pv[k])) AS BIGINT) AS dp
         |  FROM n, pr WHERE n.vec_id <> pr.pid),
         |pre AS (SELECT pid, vec_id, rk FROM (
         |    SELECT pid, vec_id, row_number() OVER (PARTITION BY pid
         |      ORDER BY dp DESC, vec_id ASC) AS rk
         |    FROM sc WHERE label = plabel)
         |  WHERE rk <= 5),
         |post AS (SELECT pid AS qid, vec_id AS pvid, prk FROM (
         |    SELECT pid, vec_id, label, plabel, row_number() OVER (
         |      PARTITION BY pid ORDER BY grk ASC) AS prk FROM (
         |      SELECT pid, vec_id, label, plabel, row_number() OVER (
         |        PARTITION BY pid ORDER BY dp DESC, vec_id ASC) AS grk
         |      FROM sc)
         |    WHERE grk <= 20 AND label = plabel)
         |  WHERE prk <= 5),
         |pool AS (SELECT pid, CAST(count(*) AS BIGINT) AS n_pool
         |  FROM sc WHERE label = plabel GROUP BY pid),
         |ov AS (SELECT pre.pid, CAST(count(*) AS BIGINT) AS n_overlap
         |  FROM pre JOIN post ON pre.pid = post.qid
         |    AND pre.vec_id = post.pvid
         |  GROUP BY pre.pid),
         |t1 AS (SELECT a.pid, a.vec_id AS pre1, b.pvid AS post1
         |  FROM (SELECT pid, vec_id FROM pre WHERE rk = 1) a
         |  LEFT JOIN (SELECT qid, pvid FROM post WHERE prk = 1) b
         |    ON a.pid = b.qid)
         |SELECT pr.pid AS pid,
         |  CAST(coalesce(pool.n_pool, 0) AS BIGINT) AS n_pool,
         |  CAST(coalesce(np.n_post, 0) AS BIGINT) AS n_post_found,
         |  CAST(coalesce(ov.n_overlap, 0) AS BIGINT) AS n_overlap,
         |  CAST(CASE WHEN t1.pre1 = t1.post1 THEN 1 ELSE 0 END AS BIGINT)
         |    AS top1_agrees
         |FROM pr
         |LEFT JOIN pool ON pr.pid = pool.pid
         |LEFT JOIN (SELECT qid, CAST(count(*) AS BIGINT) AS n_post
         |  FROM post GROUP BY qid) np ON pr.pid = np.qid
         |LEFT JOIN ov ON pr.pid = ov.pid
         |LEFT JOIN t1 ON pr.pid = t1.pid
         |ORDER BY pid ASC NULLS FIRST""".stripMargin))

  /** Hybrid retrieval with reciprocal-rank fusion (round 8, batch 104):
    * the modern search-stack shape — a LEXICAL ranked list (term
    * frequency of the 4-term query over documents) and a VECTOR ranked
    * list (exact e6 dot against the vec_id-0 probe, ids shared with
    * doc_id) fused by RRF: score = Σ 1/(60 + rank) over the lists that
    * ranked the id (Cormack et al.'s k=60), emitted ×10⁶ integer.
    * Documents only one leg ranked still fuse (the full-outer
    * semantics that makes RRF robust to modality gaps) — the graded
    * output carries both per-leg ranks so a leg silently dropping out
    * breaks the hash, not just the ordering.
    *
    * Scale: each leg is a distributed top-100 (orderBy+limit plans as
    * TakeOrderedAndProject — per-partition top-k + merge, no global
    * sort); the rank windows and the fusion join run on ≤100-row
    * relations; the corpus-sized work is one token scan and one dot
    * scan (the DotLongArrays codegen path).
    *
    * Determinism: integer tf/dot ranks with id tiebreaks; RRF
    * contributions are truncating divs of positive ints; final top-20
    * re-ranked by (score DESC, id ASC).
    */
  private val simHybridRrf = QueryDef(
    "q_sim_hybrid_rrf",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val qterms = Seq("join", "vector", "stream", "filter")
      val lexTop = Tables.documents(s, d)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
        .filter(col("w").isin(qterms: _*))
        .groupBy(col("doc_id")).agg(count(lit(1)).as("tf"))
        .orderBy(descl("tf"), ascf("doc_id")).limit(100)
      val lexR = lexTop.withColumn("rank_lex", row_number().over(
        Window.orderBy(descl("tf"), ascf("doc_id"))).cast("long"))
      val emb = quantized(s, d)
      val probe = emb.filter(col("vec_id") === 0).select(col("v").as("pv"))
      val vecTop = emb.filter(col("vec_id") =!= 0)
        .crossJoin(broadcast(probe))
        .select(col("vec_id"), dot(col("v"), col("pv")).as("dp"))
        .orderBy(descl("dp"), ascf("vec_id")).limit(100)
      val vecR = vecTop.withColumn("rank_vec", row_number().over(
        Window.orderBy(descl("dp"), ascf("vec_id"))).cast("long"))
      val fused = lexR.select(col("doc_id").as("id"), col("rank_lex"))
        .join(vecR.select(col("vec_id").as("id"), col("rank_vec")),
          Seq("id"), "full_outer")
        .withColumn("rrf_e6",
          expr("coalesce(1000000 div (60 + rank_lex), 0) " +
            "+ coalesce(1000000 div (60 + rank_vec), 0)"))
        .orderBy(descl("rrf_e6"), ascf("id")).limit(20)
      fused.withColumn("fused_rank", row_number().over(
          Window.orderBy(descl("rrf_e6"), ascf("id"))).cast("long"))
        .select(col("fused_rank"), col("id"), col("rrf_e6"),
          coalesce(col("rank_lex"), lit(0L)).as("rank_lex"),
          coalesce(col("rank_vec"), lit(0L)).as("rank_vec"))
        .orderBy(ascf("fused_rank"))
    },
    Some(oracleQuantized +
      """,
        |p AS (SELECT v FROM n WHERE vec_id = 0),
        |lex0 AS (SELECT doc_id, count(*) AS tf FROM (
        |    SELECT doc_id, unnest(string_split(text, ' ')) AS w
        |    FROM documents)
        |  WHERE w IN ('join', 'vector', 'stream', 'filter') GROUP BY 1),
        |lexr AS (SELECT doc_id, row_number() OVER (
        |    ORDER BY tf DESC, doc_id ASC) AS rank_lex
        |  FROM lex0 QUALIFY rank_lex <= 100),
        |vec0 AS (SELECT a.vec_id, CAST(list_sum(list_transform(
        |    range(1, 65), k -> a.v[k] * p.v[k])) AS BIGINT) AS dp
        |  FROM n a, p WHERE a.vec_id <> 0),
        |vecr AS (SELECT vec_id, row_number() OVER (
        |    ORDER BY dp DESC, vec_id ASC) AS rank_vec
        |  FROM vec0 QUALIFY rank_vec <= 100),
        |f AS (SELECT coalesce(lexr.doc_id, vecr.vec_id) AS id,
        |    lexr.rank_lex AS rank_lex, vecr.rank_vec AS rank_vec,
        |    coalesce(1000000 // (60 + lexr.rank_lex), 0)
        |      + coalesce(1000000 // (60 + vecr.rank_vec), 0) AS rrf_e6
        |  FROM lexr FULL OUTER JOIN vecr ON lexr.doc_id = vecr.vec_id),
        |t AS (SELECT *, row_number() OVER (
        |    ORDER BY rrf_e6 DESC, id ASC) AS fused_rank
        |  FROM f QUALIFY fused_rank <= 20)
        |SELECT CAST(fused_rank AS BIGINT) AS fused_rank,
        |  CAST(id AS BIGINT) AS id, CAST(rrf_e6 AS BIGINT) AS rrf_e6,
        |  CAST(coalesce(rank_lex, 0) AS BIGINT) AS rank_lex,
        |  CAST(coalesce(rank_vec, 0) AS BIGINT) AS rank_vec
        |FROM t ORDER BY fused_rank ASC NULLS FIRST""".stripMargin))

  def defs: Seq[QueryDef] = Seq(
    dedupExact, simJaccard, simCosineTopk, simThresholdJoin, simKnnJoin,
    dedupMinhash, sampleNegative, simCosineSets, vecRandproj, simRecall,
    vecPcaPower, simMips, vecStats, vecMmr, vecKcenter, simFilteredTopk,
    simHybridRrf)
}
