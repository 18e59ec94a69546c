package graft.ops

import graft.{QueryDef, Tables}
import graft.Dsl._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Additional large-scale training-data pipeline operators beyond the
  * SURVEY.md §2.12 core: SimHash near-dup, character-n-gram Jaccard
  * near-dup, embedding-cosine near-dup, and LSH-bucketed approximate
  * nearest neighbors. Together with §2.12 these cover the standard
  * dedup/similarity toolbox of an LLM data pipeline.
  *
  * Scale discipline is the same throughout: never an unbucketed n² —
  * SimHash pairs come from 16-bit band buckets (pigeonhole: hamming ≤ 3
  * over 4 bands ⇒ one band equal), ANN candidates from 4-bit hyperplane
  * band buckets; exact verification only touches candidates.
  */
object Pipeline {
  import VecOps._

  /** 64-bit SimHash near-dup detection (no oracle — xxhash64 is
    * engine-specific; MinHashSpec property-tests planted-dup recall).
    * sig bit i = sign of Σ_tokens (±1 by bit i of xxhash64(token));
    * near-dup ⇔ hamming(sig1, sig2) ≤ 3. Candidates via 4×16-bit band
    * buckets — exact recall for hamming ≤ 3 by pigeonhole, ~n/65536
    * expected bucket sizes at scale instead of n² pairs.
    */
  private val dedupSimhash = QueryDef(
    "q_dedup_simhash",
    (s, d) => {
      // One collect_list agg + array lambdas instead of 64 wide agg
      // columns: a 64-buffer HashAggregate generates pathological codegen
      // (~10 s one-time compile per session — dominated bench). Majority
      // vote per bit over the per-doc token-hash list; disjoint bit
      // contributions sum to the signature.
      val toks = Tables.documents(s, d)
        .select(col("doc_id"), col("lang"),
          explode(array_distinct(split(col("text"), " "))).as("w"))
        .withColumn("h", xxhash64(col("w")))
      val sig = toks.groupBy(col("doc_id"), col("lang"))
        .agg(collect_list(col("h")).as("hs"))
        .select(col("doc_id"), col("lang"), expr(
          """aggregate(transform(sequence(0, 63), i ->
            |  CASE WHEN 2 * size(filter(hs, h -> (shiftright(h, i) & 1) = 1))
            |         > size(hs)
            |       THEN shiftleft(bigint(1), i) ELSE bigint(0) END),
            |  bigint(0), (acc, x) -> acc + x)""".stripMargin).as("sig"))
      // scoped persist: self-joined, avoids recomputing the sig pipeline
      // twice; released when the query finishes (VERDICT r4 #1)
      val banded = graft.Caches.scoped(sig.select(col("doc_id"), col("lang"),
        col("sig"),
        posexplode(array((0 until 4).map(b =>
          shiftright(col("sig"), 16 * b).bitwiseAND(lit(0xFFFFL))): _*))
          .as(Seq("band", "bv"))))
      val cand = banded.alias("a")
        .join(banded.alias("b"),
          col("a.lang") === col("b.lang") && col("a.band") === col("b.band") &&
            col("a.bv") === col("b.bv") && col("a.doc_id") < col("b.doc_id"))
        .select(col("a.lang").as("lang"), col("a.doc_id").as("d1"),
          col("b.doc_id").as("d2"),
          bit_count(col("a.sig").bitwiseXOR(col("b.sig"))).as("ham"))
        .distinct()
      cand.groupBy(col("lang"))
        .agg(count(lit(1)).as("n_candidates"),
          count(when(col("ham") <= 3, lit(1))).as("n_dup_pairs"))
        .orderBy(ascf("lang"))
    },
    None)

  /** Character-3-gram Jaccard near-dup counts over ALL same-lang pairs
    * (no id slice — VERDICT r3 #2): total pair counts are arithmetic
    * (n·(n−1)/2), and near pairs (J ≥ 0.9) come from a PPJoin-style
    * prefix-filter candidate join — a LOSSLESS superset (two sets with
    * J ≥ t must share a gram among their (n − ⌈t·n⌉ + 1) rarest grams
    * under a global (df, gram) order), each candidate verified with an
    * exact array_intersect. Docs are first deduped to identical-gram-SET
    * groups (the corpus is pathologically self-similar, FIXTURES.md):
    * intra-group pairs are J = 1 by definition and counted
    * arithmetically, so a 1000-doc duplicate cluster costs one group
    * row, not 10⁶ candidate pairs — the same group trick as
    * q_sim_jaccard_pairs. Short-text guard (ADVICE r3): sequence(1,
    * len−2) would run DESCENDING for len < 3, so grams are generated to
    * greatest(len−2, 1) and non-3-char tails filtered; len < 3 ⇒ empty
    * set ⇒ J undefined ⇒ excluded on both engines (the oracle's
    * range(1, len−1) is empty there, and empty-set groups are skipped
    * in the arithmetic near count).
    */
  private val dedupNgram = QueryDef(
    "q_dedup_ngram",
    (s, d) => {
      // t as an exact rational tN/tD so the integer PPJoin threshold
      // below is DERIVED from it (ADVICE r9: the 9/19 literals hardcoded
      // t = 0.9 separately from the prefix lengths — changing t would
      // silently make the "lossless" prune lossy):
      //   α = ceil(t·s/(1+t)) = ceil(tN·s/(tN+tD)) = (tN·s + tN+tD−1) div (tN+tD)
      val (tN, tD) = (9, 10)
      val t = tN.toDouble / tD
      val g = Tables.documents(s, d)
        .select(col("doc_id"), col("lang"),
          expr("array_distinct(filter(transform(" +
            "sequence(1, greatest(length(text) - 2, 1)), " +
            "i -> substring(text, i, 3)), x -> length(x) = 3))").as("gs"))
      // scoped persist: 4 consumers (base counts, postings, both verify
      // sides); released when the query finishes (VERDICT r4 #1)
      val groups = graft.Caches.scoped(g.groupBy(col("lang"), col("gs"))
        .agg(min(col("doc_id")).as("gid"), count(lit(1)).as("c"))
        .withColumn("n", size(col("gs"))))
      val base = groups.groupBy(col("lang"))
        .agg(sum(col("c")).as("nd"),
          sum(expr("CASE WHEN n > 0 THEN c * (c - 1) DIV 2 ELSE 0 END"))
            .as("same_near"))
      val toks = groups.select(col("lang"), col("gid"), col("n"),
        explode(col("gs")).as("w"))
      val dfreq = toks.groupBy(col("lang"), col("w"))
        .agg(count(lit(1)).as("df"))
      // Round-9 verify-cost rewrite (found when the bench's count()
      // elision fix exposed this key's true cost — 46 s at sf0.1, 39 s
      // of it the 2.2 M-candidate STRING-array intersects; the char-3
      // vocabulary is so small (~1.9 k grams) that the plain prefix
      // filter barely prunes the synthetic corpus):
      //  1. grams get DENSE PER-LANG INTEGER ids (row_number over the
      //     vocab-sized dfreq relation — exact, 1:1, no hashing) and
      //     the verify intersects sorted int arrays instead of string
      //     arrays;
      //  2. the PPJoin POSITIONAL filter runs before the intersect:
      //     for a pair sharing a prefix gram at (p1, p2), the overlap
      //     is ≤ 1 + min(n1−p1, n2−p2) (all shared grams lie at-or-
      //     after the first shared gram in the global (df, w) order),
      //     so pairs whose bound cannot reach α = ceil(t(n1+n2)/(1+t))
      //     = ceil(9(n1+n2)/19) are dropped LOSSLESSLY — taking min
      //     positions per pair only raises the bound, so no true pair
      //     is lost; α is exact-integer ((9s+18) div 19).
      // Both are Spark-side plan choices; the oracle's ground-truth
      // postings count is unchanged and still grades the result.
      val idw = Window.partitionBy(col("lang")).orderBy(ascf("w"))
      // ids assigned on the vocab-grain dfreq (one row per (lang, w)),
      // then joined out — a row_number over the postings would have
      // numbered ROWS, not grams
      val idMap = dfreq.withColumn("wid", row_number().over(idw))
      val toksId = toks.join(idMap, Seq("lang", "w"))
      val gsInt = toksId.groupBy(col("gid"))
        .agg(sort_array(collect_list(col("wid"))).as("si"))
      val wG = Window.partitionBy(col("gid"))
      // Round 12 (guide §2.3/§3, VERDICT r11 next #1): LENGTH-BUCKETED
      // PPJoin. The in-join positional gate below already implies
      // 10·min(n1,n2) ≥ 9·max(n1,n2) (at pos ≥ 1 the bound
      // 19·(1+min(n1−p1, n2−p2)) ≥ 9·(n1+n2) forces 19·min ≥
      // 9·(min+max)), so every qualifying pair's lengths lie within a
      // 10/9 factor. Bucketing n by factor 1.125 — strictly wider than
      // 10/9, so a qualifying pair lands in the same or an ADJACENT
      // bucket even under worst-case fp log error (the margin is
      // ln(10/9)/ln(1.125) ≈ 0.894 < 1) — and putting the bucket in the
      // join KEY cuts the per-gram pair enumeration 2.1× measured at
      // sf0.1 (4.22 M → 1.97 M join rows, same 357,959 gate survivors
      // with and without the bucket). The b side is replicated to its
      // ±1 buckets, so each in-window pair is enumerated exactly once
      // and the per-pair min-position aggregation sees exactly the rows
      // it saw before — candidates, minima and the verify are unchanged.
      // the ±1-bucket argument needs the tD/tN length window to span
      // less than one bucket: a t change that breaks it fails here
      // instead of silently dropping candidates (ADVICE r12)
      require(math.log(tD.toDouble / tN) / math.log(1.125) < 1.0,
        s"PPJoin bucket base 1.125 is lossy for t = $tN/$tD")
      val prefix = toksId
        .withColumn("pos", row_number().over(wG.orderBy(ascf("df"), ascf("w"))))
        .filter(col("pos") <= col("n") - ceil(col("n") * t) + 1)
        .withColumn("bkt", floor(log(1.125, col("n"))).cast("long"))
      val prefixB = prefix.withColumn("bkt",
        explode(array(col("bkt") - 1, col("bkt"), col("bkt") + 1)))
      // Round 11: the positional bound now ALSO gates inside the join
      // (exact integers, ub·(tN+tD) ≥ tN·(n1+n2) ⇔ ub ≥ α) — lossless by
      // the cosineSetPairs argument: a qualifying pair's FIRST shared
      // prefix gram attains both min positions simultaneously and its
      // row passes the gate, so the per-pair min-pos aggregation below
      // sees the true minima and the post-agg α filter is unchanged.
      // Non-qualifying candidate rows are dropped BEFORE the groupBy
      // exchange instead of after it (guide §2.3: shuffle fewer bytes).
      val ubRow = lit(1L) +
        least(col("a.n") - col("a.pos"), col("b.n") - col("b.pos"))
      val cand = prefix.alias("a")
        .join(prefixB.alias("b"),
          col("a.lang") === col("b.lang") && col("a.w") === col("b.w") &&
            col("a.bkt") === col("b.bkt") &&
            col("a.gid") < col("b.gid") &&
            ubRow * lit(tN + tD) >= lit(tN) * (col("a.n") + col("b.n")))
        .groupBy(col("a.lang").as("lang"), col("a.gid").as("g1"),
          col("b.gid").as("g2"))
        .agg(min(col("a.pos")).as("p1"), min(col("b.pos")).as("p2"))
      // narrow (n, c) columns join ALL candidates; the wide int arrays
      // join only the positional-filter SURVIVORS (8× fewer measured),
      // so the array payload never rides the full candidate shuffle
      val ga = groups.select(col("gid").as("g1"),
        col("n").as("n1"), col("c").as("c1"))
      val gb = groups.select(col("gid").as("g2"),
        col("n").as("n2"), col("c").as("c2"))
      val crossNear = cand.join(ga, "g1").join(gb, "g2")
        .filter(lit(1) + least(col("n1") - col("p1"), col("n2") - col("p2"))
          >= expr(s"($tN * (n1 + n2) + ${tN + tD - 1}) div ${tN + tD}"))
        .join(gsInt.select(col("gid").as("g1"), col("si").as("s1")), "g1")
        .join(gsInt.select(col("gid").as("g2"), col("si").as("s2")), "g2")
        .withColumn("inter", size(array_intersect(col("s1"), col("s2"))))
        .filter(col("inter").cast("double")
          / (col("n1") + col("n2") - col("inter")) >= t)
        .groupBy(col("lang"))
        .agg(sum(col("c1") * col("c2")).as("cross_near"))
      base.join(crossNear, Seq("lang"), "left")
        .select(col("lang"),
          expr("CAST(nd * (nd - 1) DIV 2 AS BIGINT)").as("n_pairs"),
          (col("same_near") + coalesce(col("cross_near"), lit(0L)))
            .cast("bigint").as("n_near"))
        .orderBy(ascf("lang"))
    },
    Some("""WITH g AS MATERIALIZED (SELECT doc_id, lang,
           |    list_distinct(list_transform(range(1, len(text) - 1),
           |      i -> substring(text, i, 3))) AS gs
           |  FROM documents),
           |nn AS MATERIALIZED (SELECT doc_id, lang, gs, len(gs) AS n FROM g),
           |base AS (SELECT lang, count(*) AS nd FROM nn GROUP BY lang),
           |t AS MATERIALIZED (SELECT doc_id, lang, unnest(gs) AS w FROM g),
           |p AS (SELECT a.lang AS lang, a.doc_id AS d1, b.doc_id AS d2,
           |    count(*) AS inter
           |  FROM t a JOIN t b ON a.lang = b.lang AND a.w = b.w
           |    AND a.doc_id < b.doc_id
           |  GROUP BY 1, 2, 3),
           |nr AS (SELECT p.lang AS lang, count(*) AS n_near
           |  FROM p JOIN nn n1 ON p.d1 = n1.doc_id JOIN nn n2 ON p.d2 = n2.doc_id
           |  WHERE CAST(p.inter AS DOUBLE) / (n1.n + n2.n - p.inter) >= 0.9
           |  GROUP BY p.lang)
           |SELECT base.lang AS lang,
           |  CAST(base.nd * (base.nd - 1) // 2 AS BIGINT) AS n_pairs,
           |  CAST(coalesce(nr.n_near, 0) AS BIGINT) AS n_near
           |FROM base LEFT JOIN nr ON base.lang = nr.lang
           |ORDER BY lang ASC NULLS FIRST""".stripMargin))

  /** Embedding-cosine near-dup at quantized cosine ≥ 0.99, with pairs
    * generated from the shared hyperplane-LSH band buckets
    * (VecOps.bandCandidatesWithCos) and only candidates exactly
    * verified; survivors keep the smaller vec_id. All 10 labels stay in
    * the output via a left join from per-label counts. The oracle
    * mirrors the band candidate generation, so both engines see the same
    * pair set — and at cos ≥ 0.99 the 4-band recall is ~0.999 anyway.
    * This replaces the former all-pairs-within-label self-join (VERDICT
    * r3 #1): candidate generation is keyed on (label, band, value),
    * never label alone.
    */
  private val dedupEmbed = QueryDef(
    "q_dedup_embed",
    (s, d) => {
      val base = quantized(s, d).groupBy(col("label"))
        .agg(count(lit(1)).as("n_vecs"))
      val dups = VecOps.bandCandidatesWithCos(s, d)
        .filter(col("cos") >= 0.99)
      val removed = dups.groupBy(col("label"))
        .agg(count(lit(1)).as("n_dup_pairs"),
          countDistinct(col("id_b")).as("n_removed"))
      base.join(removed, Seq("label"), "left")
        .select(col("label"), col("n_vecs"),
          coalesce(col("n_dup_pairs"), lit(0L)).as("n_dup_pairs"),
          (col("n_vecs") - coalesce(col("n_removed"), lit(0L))).as("n_survivors"))
        .orderBy(ascf("label"))
    },
    Some(oracleQuantized + VecOps.oracleBandCandidates +
      s""",
         |st AS (SELECT label, count(*) AS n_dup_pairs,
         |    count(DISTINCT ib) AS n_removed FROM ver WHERE cos >= 0.99
         |  GROUP BY label),
         |base AS (SELECT label, count(*) AS n_vecs FROM n GROUP BY label)
         |SELECT base.label AS label, base.n_vecs,
         |  CAST(coalesce(st.n_dup_pairs, 0) AS BIGINT) AS n_dup_pairs,
         |  CAST(base.n_vecs - coalesce(st.n_removed, 0) AS BIGINT) AS n_survivors
         |FROM base LEFT JOIN st ON base.label = st.label
         |ORDER BY label ASC NULLS FIRST""".stripMargin))

  /** LSH-bucketed approximate nearest neighbors (the scale path next to
    * q_sim_cosine_topk's brute-force baseline): a 16-bit random-
    * hyperplane signature (components ±1 from an avalanched (j,k) mix,
    * shipped as identical literal arrays into both engines — ADVICE r4
    * fixed the degenerate linear formula), candidates = vectors
    * sharing any 4-bit band with the probe, exact quantized-cosine
    * rerank, top-10. At 100 TB the band join prunes the scan to
    * ~4·n/16 expected candidates instead of n distance computations.
    */
  private val simAnnLsh = QueryDef(
    "q_sim_ann_lsh",
    (s, d) => {
      // the shared hyperplane signature (VecOps.hyperSig): planes
      // precomputed in Scala, each sign bit one codegen'd dot product
      val emb = quantized(s, d).withColumn("sig", hyperSig(col("v")))
      val probe = emb.filter(col("vec_id") === 0)
        .select(col("v").as("pv"), col("nn").as("pnn"), col("sig").as("psig"))
      val bandMatch = (0 until 4).map(bnd =>
        shiftright(col("sig"), 4 * bnd).bitwiseAND(lit(15L)) ===
          shiftright(col("psig"), 4 * bnd).bitwiseAND(lit(15L)))
        .reduce(_ || _)
      emb.filter(col("vec_id") =!= 0)
        .crossJoin(broadcast(probe))
        .filter(bandMatch)
        .select(col("vec_id"),
          (round(cosine(dot(col("v"), col("pv")), col("nn"), col("pnn")), 6)
            + lit(0.0)).as("cos"))
        .orderBy(descl("cos"), ascf("vec_id"))
        .limit(10)
    },
    Some {
      oracleQuantized +
        s""",
           |sg AS (SELECT vec_id, v, nn, ${VecOps.oracleHyperSig} AS sig FROM n),
           |p AS (SELECT v AS pv, nn AS pnn, sig AS psig FROM sg WHERE vec_id = 0)
           |SELECT a.vec_id,
           |  round(CAST(list_sum(list_transform(range(1, 65), k -> a.v[k] * p.pv[k])) AS DOUBLE)
           |    / (sqrt(CAST(a.nn AS DOUBLE)) * sqrt(CAST(p.pnn AS DOUBLE))), 6) + 0.0 AS cos
           |FROM sg a, p
           |WHERE a.vec_id <> 0 AND (
           |  ((a.sig // 1) % 16) = ((p.psig // 1) % 16) OR
           |  ((a.sig // 16) % 16) = ((p.psig // 16) % 16) OR
           |  ((a.sig // 256) % 16) = ((p.psig // 256) % 16) OR
           |  ((a.sig // 4096) % 16) = ((p.psig // 4096) % 16))
           |ORDER BY cos DESC NULLS LAST, vec_id ASC NULLS FIRST
           |LIMIT 10""".stripMargin
    })

  /** Per-label centroids via exact integer moments — SURVEY §2.12 had
    * DROPPED this operator ("centroid = order-dependent double mean per
    * dimension"); the 1e-6 quantization dissolves that objection: the
    * per-dimension sums are exact int64, so the centroid (and any
    * distance to it) is deterministic. Emits per-label moment summaries
    * plus the quantized cosine between the label centroid and the global
    * centroid — a real clustering-flavored computation, fully
    * oracle-checked. Shape: posexplode → (label, pos) partial-agg — one
    * shuffle carrying 10 labels × 64 dims rows.
    */
  private val simCentroid = QueryDef(
    "q_sim_centroid",
    (s, d) => {
      val byDim = quantized(s, d)
        .select(col("label"), posexplode(col("v")).as(Seq("pos", "x")))
        .groupBy(col("label"), col("pos"))
        .agg(sum(col("x")).as("sx"), count(lit(1)).as("cnt"))
      val global = byDim.groupBy(col("pos"))
        .agg(sum(col("sx")).as("gx"), sum(col("cnt")).as("gn"))
      byDim.join(global, "pos")
        .groupBy(col("label"))
        // first moments stay exact int64 (|Σ components| ≤ n·64·1e6 —
        // safe for n ≤ 1.4e11 vectors); SECOND moments aggregate in
        // DECIMAL(38,0) / HUGEINT (ADVICE r3: sx·gx products reach
        // ~1e30 at 1e9 rows and int64 would wrap silently in Spark
        // while DuckDB widens), then round to DOUBLE at the output —
        // both engines round the same exact integer to the same
        // float64, so the result stays deterministic and hash-equal
        .agg(
          first(col("cnt")).as("n_vecs"),
          sum(col("sx")).as("moment1"),
          sum(col("sx").cast(DecimalType(38, 0)) * col("sx")).as("m_ss"),
          sum(col("sx").cast(DecimalType(38, 0)) * col("gx")).as("m_sg"),
          sum(col("gx").cast(DecimalType(38, 0)) * col("gx")).as("m_gg"))
        .select(col("label"), col("n_vecs"), col("moment1"),
          col("m_ss").cast("double").as("moment2"),
          (round(col("m_sg").cast("double")
            / (sqrt(col("m_ss").cast("double"))
              * sqrt(col("m_gg").cast("double"))), 6) + lit(0.0))
            .as("cos_to_global"))
        .orderBy(ascf("label"))
    },
    Some(VecOps.oracleQuantized +
      """,
        |bd AS (SELECT label, k - 1 AS pos,
        |    CAST(sum(v[k]) AS BIGINT) AS sx, count(*) AS cnt
        |  FROM n, range(1, 65) t(k) GROUP BY label, k),
        |g AS (SELECT pos, CAST(sum(sx) AS BIGINT) AS gx FROM bd GROUP BY pos),
        |m AS (SELECT bd.label AS label,
        |    CAST(any_value(bd.cnt) AS BIGINT) AS n_vecs,
        |    CAST(sum(bd.sx) AS BIGINT) AS moment1,
        |    sum(CAST(bd.sx AS HUGEINT) * bd.sx) AS m_ss,
        |    sum(CAST(bd.sx AS HUGEINT) * g.gx) AS m_sg,
        |    sum(CAST(g.gx AS HUGEINT) * g.gx) AS m_gg
        |  FROM bd JOIN g ON bd.pos = g.pos GROUP BY bd.label)
        |SELECT label, n_vecs, moment1, CAST(m_ss AS DOUBLE) AS moment2,
        |  round(CAST(m_sg AS DOUBLE)
        |    / (sqrt(CAST(m_ss AS DOUBLE)) * sqrt(CAST(m_gg AS DOUBLE))), 6) + 0.0
        |    AS cos_to_global
        |FROM m ORDER BY label ASC NULLS FIRST""".stripMargin))

  /** IVF-style ANN (the second scale path the pipeline mandate names,
    * next to the LSH variant): cells = the 5-bit SIGN PATTERN of the
    * first five quantized dimensions — up to 32 data-derived grid cells
    * (~√n at verify scale; VERDICT r3 #7 — the previous version reused
    * the 10 class labels, making "IVF" a k=10 lookup). The probe ranks
    * cells by exact squared distance to the cell centroid —
    * Σ_k (c·p_k − sx_k)², aggregated in DECIMAL(38,0)/HUGEINT so the
    * ~(n_cell·1e6)² products can't wrap int64 (ADVICE r3), divided back
    * in double deterministically — scans only the nprobe=3 nearest
    * cells' members, and reranks them with the exact quantized cosine.
    * At 100 TB the cell assignment prunes the scan to ~nprobe/cells of
    * the corpus before any distance math, and the centroid table is a
    * broadcast.
    */
  private val simAnnIvf = QueryDef(
    "q_sim_ann_ivf",
    (s, d) => {
      val cellCol = (0 until 5).map(k =>
        when(element_at(col("v"), k + 1) > 0, lit(1L << k)).otherwise(lit(0L)))
        .reduce(_ + _)
      val emb = quantized(s, d).withColumn("cell", cellCol)
      val probe = emb.filter(col("vec_id") === 0)
        .select(col("v").as("pv"), col("nn").as("pnn"))
      val byDim = emb
        .select(col("cell"), posexplode(col("v")).as(Seq("pos", "x")))
        .groupBy(col("cell"), col("pos"))
        .agg(sum(col("x")).as("sx"), count(lit(1)).as("c"))
      val dx = col("c").cast(DecimalType(38, 0)) * col("pk") - col("sx")
      val cellDist = byDim
        .crossJoin(broadcast(probe.select(col("pv"))))
        .withColumn("pk", element_at(col("pv"), (col("pos") + 1).cast("int")))
        .groupBy(col("cell"))
        .agg(sum(dx * dx).as("num"), first(col("c")).as("c"))
        .withColumn("dist2", col("num").cast("double")
          / (col("c").cast("double") * col("c").cast("double")))
      val nearCells = cellDist
        .orderBy(ascf("dist2"), ascf("cell"))
        .limit(3)
        .select(col("cell"))
      emb.filter(col("vec_id") =!= 0)
        .join(broadcast(nearCells), Seq("cell"), "left_semi")
        .crossJoin(broadcast(probe))
        .select(col("vec_id"),
          (round(cosine(dot(col("v"), col("pv")), col("nn"), col("pnn")), 6)
            + lit(0.0)).as("cos"))
        .orderBy(descl("cos"), ascf("vec_id"))
        .limit(10)
    },
    Some {
      val cellSql = (0 until 5).map(k =>
        s"(CASE WHEN v[${k + 1}] > 0 THEN ${1L << k} ELSE 0 END)")
        .mkString(" + ")
      oracleQuantized +
        s""",
           |cl AS (SELECT vec_id, v, nn, $cellSql AS cell FROM n),
           |p AS (SELECT v AS pv, nn AS pnn FROM n WHERE vec_id = 0),
           |bd AS (SELECT cell, k AS pos,
           |    CAST(sum(v[k]) AS BIGINT) AS sx, count(*) AS c
           |  FROM cl, range(1, 65) t(k) GROUP BY cell, k),
           |cd0 AS (SELECT bd.cell AS cell, bd.c AS c,
           |    CAST(bd.c AS HUGEINT) * p.pv[bd.pos] - bd.sx AS dx
           |  FROM bd, p),
           |cd AS (SELECT cell, sum(dx * dx) AS num,
           |    CAST(any_value(c) AS BIGINT) AS c
           |  FROM cd0 GROUP BY cell),
           |near AS (SELECT cell,
           |    CAST(num AS DOUBLE) / (CAST(c AS DOUBLE) * CAST(c AS DOUBLE))
           |      AS dist2
           |  FROM cd
           |  ORDER BY dist2 ASC NULLS FIRST, cell ASC NULLS FIRST LIMIT 3)
           |SELECT a.vec_id,
           |  round(CAST(list_sum(list_transform(range(1, 65), k -> a.v[k] * p.pv[k])) AS DOUBLE)
           |    / (sqrt(CAST(a.nn AS DOUBLE)) * sqrt(CAST(p.pnn AS DOUBLE))), 6) + 0.0 AS cos
           |FROM cl a, p
           |WHERE a.vec_id <> 0 AND a.cell IN (SELECT cell FROM near)
           |ORDER BY cos DESC NULLS LAST, vec_id ASC NULLS FIRST
           |LIMIT 10""".stripMargin
    })

  /** Scalar-quantized ANN (round 6): the compression-codebook family
    * member next to LSH (q_sim_ann_lsh) and IVF (q_sim_ann_ivf) — the
    * SQ4 shape of a product-quantization index. Each dimension is
    * compressed to a 4-bit code against data-derived per-dim [lo, hi]
    * bounds (code = ((x−lo)·16) div (hi−lo+1), all integer), vectors are
    * scored against the probe entirely IN CODE SPACE via midpoint
    * reconstruction (recon = lo + ((2c+1)(hi−lo+1)) div 32 — the ADC
    * table lookup, spelled as arithmetic), and only the top-32
    * approximate candidates are reranked with the exact quantized
    * cosine. Output grades BOTH the approximate int64 dot (the codes
    * themselves) and the exact rerank.
    *
    * Shape at 100 TB: the 64-row bounds table and the probe's
    * reconstruction are broadcasts; the code scan is one explode +
    * partial agg (in a real index the codes are precomputed — 32 bytes
    * a vector, 16× smaller than float32); candidate selection is a
    * distributed TakeOrdered (top-32 per partition, merged), never a
    * global sort. Every quantity before the final cosine is exact
    * int64: |recon·pr| ≤ 1e12/dim, ×64 dims ≪ 2^63.
    */
  private val simAnnSq = QueryDef(
    "q_sim_ann_sq",
    (s, d) => {
      val emb = quantized(s, d)
      val byDim = emb.select(posexplode(col("v")).as(Seq("pos", "x")))
        .groupBy(col("pos"))
        .agg(min(col("x")).as("lo"), max(col("x")).as("hi"))
      val recon = emb
        .select(col("vec_id"), posexplode(col("v")).as(Seq("pos", "x")))
        .join(broadcast(byDim), "pos")
        .withColumn("recon", expr("lo + ((2 * (((x - lo) * 16) div " +
          "(hi - lo + 1)) + 1) * (hi - lo + 1)) div 32"))
      val probeRecon = recon.filter(col("vec_id") === 0)
        .select(col("pos"), col("recon").as("pr"))
      val cands = recon.filter(col("vec_id") =!= 0)
        .join(broadcast(probeRecon), "pos")
        .groupBy(col("vec_id"))
        .agg(sum(col("recon") * col("pr")).as("approx_dot"))
        .orderBy(descl("approx_dot"), ascf("vec_id"))
        .limit(32)
      val probe = emb.filter(col("vec_id") === 0)
        .select(col("v").as("pv"), col("nn").as("pnn"))
      cands.join(emb, "vec_id").crossJoin(broadcast(probe))
        .select(col("vec_id"), col("approx_dot"),
          (round(cosine(dot(col("v"), col("pv")), col("nn"), col("pnn")), 6)
            + lit(0.0)).as("cos"))
        .orderBy(descl("cos"), ascf("vec_id"))
        .limit(10)
    },
    Some(oracleQuantized +
      """,
        |bd AS (SELECT k AS pos, CAST(min(v[k]) AS BIGINT) AS lo,
        |    CAST(max(v[k]) AS BIGINT) AS hi
        |  FROM n, range(1, 65) t(k) GROUP BY k),
        |rc AS (SELECT n.vec_id AS vec_id, bd.pos AS pos,
        |    bd.lo + ((2 * (((n.v[bd.pos] - bd.lo) * 16)
        |      // (bd.hi - bd.lo + 1)) + 1) * (bd.hi - bd.lo + 1)) // 32
        |      AS recon
        |  FROM n, bd),
        |pr AS (SELECT pos, recon AS pr FROM rc WHERE vec_id = 0),
        |cand AS (SELECT rc.vec_id AS vec_id,
        |    CAST(sum(rc.recon * pr.pr) AS BIGINT) AS approx_dot
        |  FROM rc JOIN pr ON rc.pos = pr.pos WHERE rc.vec_id <> 0
        |  GROUP BY 1
        |  ORDER BY approx_dot DESC NULLS LAST, vec_id ASC NULLS FIRST
        |  LIMIT 32),
        |p AS (SELECT v AS pv, nn AS pnn FROM n WHERE vec_id = 0)
        |SELECT c.vec_id AS vec_id, c.approx_dot AS approx_dot,
        |  round(CAST(list_sum(list_transform(range(1, 65),
        |    k -> a.v[k] * p.pv[k])) AS DOUBLE)
        |    / (sqrt(CAST(a.nn AS DOUBLE)) * sqrt(CAST(p.pnn AS DOUBLE))), 6)
        |    + 0.0 AS cos
        |FROM cand c JOIN n a ON c.vec_id = a.vec_id, p
        |ORDER BY cos DESC NULLS LAST, vec_id ASC NULLS FIRST
        |LIMIT 10""".stripMargin))

  /** One persisted SQ index per (session, sfDir): the build half of the
    * build-once/probe-many split (VERDICT r6 missing #2). Writes two
    * parquet relations to a lake location — `bounds` (pos, lo, hi): the
    * 64-row per-dimension quantization grid, and `codes` (vec_id, pos,
    * code): the 4-bit SQ codes — and memoizes the path so every serve
    * query of the session probes the SAME artifact. At 100 TB the codes
    * table is 16× smaller than the float32 vectors and the build (one
    * corpus pass) is the expensive half; probes never touch the raw
    * embeddings until the final top-32 rerank.
    */
  private val annIndexPaths =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private[graft] def annIndexPath(s: org.apache.spark.sql.SparkSession,
      d: String): String =
    annIndexPaths.computeIfAbsent(s"${graft.Caches.sessionKey(s)}:$d", _ => {
      val root = java.nio.file.Files
        .createTempDirectory("graft_ann_index").toString
      val emb = quantized(s, d)
      val byDim = emb.select(posexplode(col("v")).as(Seq("pos", "x")))
        .groupBy(col("pos"))
        .agg(min(col("x")).as("lo"), max(col("x")).as("hi"))
      byDim.coalesce(1).write.mode("overwrite").parquet(s"$root/bounds")
      emb.select(col("vec_id"), posexplode(col("v")).as(Seq("pos", "x")))
        .join(broadcast(byDim), "pos")
        .select(col("vec_id"), col("pos"),
          expr("((x - lo) * 16) div (hi - lo + 1)").cast("int").as("code"))
        .write.mode("overwrite").parquet(s"$root/codes")
      root
    })

  /** ANN serve path over the PERSISTED index (round 7): reads the SQ
    * bounds + codes written by `annIndexPath` — never recomputing the
    * quantization grid or codes — reconstructs midpoints from the codes
    * alone (recon = lo + ((2c+1)(hi−lo+1)) div 32, the ADC lookup), runs
    * the same in-code-space top-32 candidate scan as q_sim_ann_sq, and
    * reranks candidates with the exact quantized cosine against the raw
    * vectors. Because code→recon is exactly the inline build's
    * x→code→recon composition, the serve output is IDENTICAL to
    * q_sim_ann_sq — graded by the same oracle, which is the equality
    * proof of the build/probe split.
    *
    * Shape at 100 TB: build once (per corpus version), probe many —
    * each probe is one scan of the 16×-compressed codes with a
    * broadcast 64-row reconstruction of the probe vector, a distributed
    * TakeOrdered, and a 32-row rerank join. The temp dir stands in for
    * the lake index location.
    */
  private val simAnnServe = QueryDef(
    "q_sim_ann_serve",
    (s, d) => {
      val idx = annIndexPath(s, d)
      val bounds = s.read.parquet(s"$idx/bounds")
      val codes = s.read.parquet(s"$idx/codes")
      val recon = codes.join(broadcast(bounds), "pos")
        .withColumn("recon",
          expr("lo + ((2 * cast(code as bigint) + 1) * (hi - lo + 1)) div 32"))
      val probeRecon = recon.filter(col("vec_id") === 0)
        .select(col("pos"), col("recon").as("pr"))
      val cands = recon.filter(col("vec_id") =!= 0)
        .join(broadcast(probeRecon), "pos")
        .groupBy(col("vec_id"))
        .agg(sum(col("recon") * col("pr")).as("approx_dot"))
        .orderBy(descl("approx_dot"), ascf("vec_id"))
        .limit(32)
      val emb = quantized(s, d)
      val probe = emb.filter(col("vec_id") === 0)
        .select(col("v").as("pv"), col("nn").as("pnn"))
      cands.join(emb, "vec_id").crossJoin(broadcast(probe))
        .select(col("vec_id"), col("approx_dot"),
          (round(cosine(dot(col("v"), col("pv")), col("nn"), col("pnn")), 6)
            + lit(0.0)).as("cos"))
        .orderBy(descl("cos"), ascf("vec_id"))
        .limit(10)
    },
    // identical semantics by construction → graded by the SAME oracle as
    // the inline build (this IS the serve-equals-build proof)
    simAnnSq.oracle)

  /** End-to-end training-data prep composition (round 4): quality
    * filter (≥ 5 tokens, ≤ 400 chars) → exact near-dup removal
    * (normalized 5-token-prefix key, min-doc_id survivor — the
    * q_dedup_exact rule) → per-lang yield report with surviving token
    * volume. One query showing the stages compose without intermediate
    * materialization: filter pushes into the scan, dedup is one window
    * over the normalized key, and every count is a partial agg. This is
    * the shape of a real corpus-prep job at 100 TB.
    */
  private val pipelineE2e = QueryDef(
    "q_pipeline_e2e",
    (s, d) => {
      val docs = Tables.documents(s, d)
        .withColumn("ntok", size(split(col("text"), " ")))
      val base = docs.groupBy(col("lang")).agg(count(lit(1)).as("n_input"))
      val kept = docs.filter(col("ntok") >= 5 && col("n_chars") <= 400)
      val nk = array_join(slice(split(lower(trim(col("text"))), " "), 1, 5), " ")
      val surv = kept.withColumn("nk", nk)
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("nk")).orderBy(ascf("doc_id"))))
        .filter(col("rn") === 1)
      val keptAgg = kept.groupBy(col("lang")).agg(count(lit(1)).as("n_kept"))
      val survAgg = surv.groupBy(col("lang"))
        .agg(count(lit(1)).as("n_survivors"),
          sum(col("ntok").cast("long")).as("surviving_tokens"))
      base.join(keptAgg, Seq("lang"), "left")
        .join(survAgg, Seq("lang"), "left")
        .select(col("lang"), col("n_input"),
          coalesce(col("n_kept"), lit(0L)).as("n_kept"),
          coalesce(col("n_survivors"), lit(0L)).as("n_survivors"),
          coalesce(col("surviving_tokens"), lit(0L)).as("surviving_tokens"))
        .orderBy(ascf("lang"))
    },
    Some("""WITH d0 AS (SELECT doc_id, lang, text, n_chars,
           |    len(string_split(text, ' ')) AS ntok FROM documents),
           |base AS (SELECT lang, count(*) AS n_input FROM d0 GROUP BY lang),
           |kept AS (SELECT *,
           |    array_to_string(string_split(lower(trim(text)), ' ')[1:5], ' ')
           |      AS nk
           |  FROM d0 WHERE ntok >= 5 AND n_chars <= 400),
           |surv AS (SELECT lang, ntok,
           |    row_number() OVER (PARTITION BY nk ORDER BY doc_id ASC) AS rn
           |  FROM kept),
           |ka AS (SELECT lang, count(*) AS n_kept FROM kept GROUP BY lang),
           |sa AS (SELECT lang, count(*) AS n_survivors,
           |    CAST(sum(ntok) AS BIGINT) AS surviving_tokens
           |  FROM surv WHERE rn = 1 GROUP BY lang)
           |SELECT base.lang AS lang, base.n_input,
           |  CAST(coalesce(ka.n_kept, 0) AS BIGINT) AS n_kept,
           |  CAST(coalesce(sa.n_survivors, 0) AS BIGINT) AS n_survivors,
           |  CAST(coalesce(sa.surviving_tokens, 0) AS BIGINT) AS surviving_tokens
           |FROM base LEFT JOIN ka ON base.lang = ka.lang
           |  LEFT JOIN sa ON base.lang = sa.lang
           |ORDER BY lang ASC NULLS FIRST""".stripMargin))

  /** Transitive near-dup clustering (round 4; r5 algorithm upgrade):
    * connected components over the exact-Jaccard ≥ 0.95 pair graph, via
    * K = 5 rounds of min-label propagation EACH FOLLOWED BY a
    * pointer-doubling compression step (root ← root(root)) — the
    * Pregel-style iterative shape a 100 TB dedup pipeline needs for
    * CLUSTER-level survivor selection (pairwise dedup alone
    * double-counts overlapping pairs). Both engines run exactly K
    * identical iterations, so parity holds by construction regardless
    * of graph diameter.
    *
    * Why doubling (r5): plain min-propagation reaches fixpoint only
    * after `diameter` rounds — the regenerated fixtures produced a
    * chain of diameter 8 at sf0.1, quietly outrunning the old K = 6.
    * With per-round compression the reachable horizon roughly DOUBLES
    * each round (the Shiloach–Vishkin shortcut), so convergence is
    * O(log diameter): measured ≤ 4 rounds on every fixture scale
    * (simulation committed in this round's notes), K = 5 is margin, and
    * at 100 TB the same K covers diameters in the dozens where the
    * linear scheme would need dozens of shuffles. Each round is one
    * edge-shuffle + one node-sized compress join; the propagation frame
    * is checkpointed per round to cut lineage. Output: per-lang
    * component census — cluster count, largest cluster, docs in
    * multi-doc clusters.
    */
  /** The symmetrized, propagation-key-partitioned edge relation of the
    * exact-Jaccard pair graph (scoped persist — see the query Scaladoc),
    * and the K-round label propagation over its vertices. Extracted so
    * PropertiesSpec can assert the FIXPOINT property (every edge's
    * endpoints share a root after K rounds) — the one property oracle
    * parity is structurally blind to, because the oracle mirrors the
    * same K rounds and converges or not in lockstep (exactly how the
    * regenerated corpus's diameter-8 chain silently outran the old
    * linear K=6 scheme).
    */
  /** The single source of truth for the propagation round count K: the
    * Spark loop, the oracle's unrolled CTE chain, and the PropertiesSpec
    * fixpoint tests all reference THIS val — a future K bump cannot
    * desynchronize them (ADVICE r5).
    */
  private[graft] val componentRounds = 5

  private[graft] def componentEdges(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame = {
    val pairs = Similarity.sharedJaccardPairs(s, d)
      .select(col("d1"), col("d2"))
    // pre-partition the symmetrized edge relation on the propagation
    // join key and keep it resident for the loop (scoped persist): the
    // cached partitioning satisfies EnsureRequirements in every round,
    // so the edge side of the K per-round joins is shuffled ONCE, not
    // K times — at 10× probe scale the edge relation is ~10 M rows and
    // this was the dominant per-round cost
    graft.Caches.scoped(
      pairs.union(pairs.select(col("d2").as("d1"), col("d1").as("d2")))
        .repartition(col("d2")))
  }

  /** Vertex relation of the symmetrized edge graph — computed ONCE and
    * passed to both componentLabels and the singleton anti-join
    * (ADVICE r5: the distinct used to run twice per query).
    */
  private[graft] def componentVerts(edges: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    edges.select(col("d1").as("id")).distinct()

  private[graft] def componentLabels(edges: org.apache.spark.sql.DataFrame,
      verts: org.apache.spark.sql.DataFrame,
      iterations: Int): org.apache.spark.sql.DataFrame = {
    // propagate labels over the pair-graph VERTICES only (r5 perf
    // rewrite): a doc with no near-dup edge is a singleton whose root
    // never moves off its own id — it cannot adopt a vertex's root
    // (no edge) and no vertex can adopt its id (roots propagate along
    // edges, all of whose endpoints are vertices). Iterating the full
    // corpus therefore re-checkpointed ~n unchanging rows K times; at
    // 100 TB vertices ≈ the near-dup docs, orders of magnitude fewer.
    // Singletons are counted arithmetically by the consumer; the oracle
    // keeps the full-corpus formulation, so parity PROVES the
    // equivalence.
    var labels = verts.select(col("id"), col("id").as("root"))
    for (_ <- 1 to iterations) {
      val nbrMin = edges
        .join(labels.select(col("id").as("b2"), col("root").as("nroot")),
          col("d2") === col("b2"))
        .groupBy(col("d1")).agg(min(col("nroot")).as("nroot"))
      // phase 1 — propagate: root ← min(self, neighbors). The frame
      // feeds BOTH sides of the compress join and the next round —
      // without lineage truncation the plan doubles per iteration
      // (2^K blowup); the barrier sits HERE (not after compress) so
      // the heavy edge-join is materialized exactly once per round
      // and only the node-sized compress join stays lazy.
      val frame = labels
        .join(nbrMin, labels("id") === nbrMin("d1"), "left")
        .select(col("id"),
          least(col("root"), coalesce(col("nroot"), col("root")))
            .as("root"))
      val prop = truncateLineage(frame)
      // phase 2 — compress (pointer doubling): root ← root(root).
      // Total by construction: every root value is itself a vertex id
      // (labels start as own ids and only exchange mins of ids), so
      // the inner self-join loses no rows — a bug here would drop
      // vertices and fail the oracle hash loudly.
      labels = prop
        .join(prop.select(col("id").as("rid"), col("root").as("rroot")),
          col("root") === col("rid"))
        .select(col("id"), col("rroot").as("root"))
    }
    labels
  }

  /** The K-round component labels, shared session-wide (round 6):
    * q_dedup_components (the cluster census) and q_dedup_cluster_rep
    * (the applied dedup) both need them, and the loop's checkpointed
    * rounds are the most expensive build on the surface — one loop per
    * session, not per consumer. The labels relation is vertex-sized and
    * lineage-truncated (checkpoint), so keeping it resident costs the
    * vertex set, not the edge graph.
    */
  private[graft] def sharedComponentLabels(
      s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame =
    graft.Caches.shared(s"complabels:${graft.Caches.sessionKey(s)}:$d") {
      val edges = componentEdges(s, d)
      componentLabels(edges, componentVerts(edges), componentRounds)
    }

  private val dedupComponents = QueryDef(
    "q_dedup_components",
    (s, d) => {
      val docs = Tables.documents(s, d)
      // shared pair relation (Caches.shared, also feeds
      // q_sim_jaccard_pairs / q_text_levenshtein) — already persisted,
      // so all K propagation rounds read the cached graph
      val labels = sharedComponentLabels(s, d)
      // the label relation holds exactly the vertex rows, so the
      // singleton anti-join reads it instead of rebuilding the edge
      // graph (labels are checkpointed; edges may already be released)
      val verts = labels.select(col("id"))
      val vertexClusters = labels
        .join(docs.select(col("doc_id").as("id"), col("lang")), "id")
        .groupBy(col("lang"), col("root"))
        .agg(count(lit(1)).as("csize"))
      val vertexStats = vertexClusters.groupBy(col("lang"))
        .agg(count(lit(1)).as("n_vc"),
          max(col("csize")).as("max_vc"),
          sum(when(col("csize") >= 2, col("csize")).otherwise(lit(0L)))
            .as("docs_cl"))
      val singles = docs
        .join(verts, docs("doc_id") === verts("id"), "left_anti")
        .groupBy(col("lang")).agg(count(lit(1)).as("n_single"))
      docs.select(col("lang")).distinct()
        .join(vertexStats, Seq("lang"), "left")
        .join(singles, Seq("lang"), "left")
        .select(col("lang"),
          (coalesce(col("n_vc"), lit(0L)) + coalesce(col("n_single"), lit(0L)))
            .as("n_components"),
          greatest(coalesce(col("max_vc"), lit(0L)),
            when(coalesce(col("n_single"), lit(0L)) > 0, lit(1L))
              .otherwise(lit(0L))).as("largest_cluster"),
          coalesce(col("docs_cl"), lit(0L)).as("docs_in_clusters"))
        .orderBy(ascf("lang"))
    },
    Some {
      // each round = propagate (p$k) then pointer-doubling compress
      // (l$k): root <- root(root), mirroring the Spark loop exactly.
      // Every level is referenced twice by the next, so each CTE is
      // MATERIALIZED — inlining would re-run the whole chain (down to
      // the heavy jaccard join) once per reference, 2^K times in total.
      oracleComponentChain +
        s""",
           |cl AS (SELECT d.lang AS lang, lK.root AS root, count(*) AS csize
           |  FROM l$componentRounds lK JOIN documents d ON lK.id = d.doc_id
           |  GROUP BY d.lang, lK.root)
           |SELECT lang, count(*) AS n_components,
           |  CAST(max(csize) AS BIGINT) AS largest_cluster,
           |  CAST(sum(CASE WHEN csize >= 2 THEN csize ELSE 0 END) AS BIGINT)
           |    AS docs_in_clusters
           |FROM cl GROUP BY lang ORDER BY lang ASC NULLS FIRST""".stripMargin
    })

  /** The shared oracle label chain (jaccard pair graph → symmetrized
    * edges → K MATERIALIZED propagate+compress rounds, ending at
    * l`componentRounds` over the FULL corpus) — used by both
    * q_dedup_components and q_dedup_cluster_rep, mirroring the shared
    * Spark-side `sharedComponentLabels`.
    */
  private def oracleComponentChain: String = {
    val step = (k: Int) =>
      s"""p$k AS MATERIALIZED (SELECT l.id AS id,
         |    least(l.root, coalesce(m.nroot, l.root)) AS root
         |  FROM l${k - 1} l LEFT JOIN (SELECT e.a AS a, min(p.root) AS nroot
         |    FROM e JOIN l${k - 1} p ON e.b = p.id GROUP BY e.a) m
         |  ON l.id = m.a),
         |l$k AS MATERIALIZED (SELECT l.id AS id, r.root AS root
         |  FROM p$k l JOIN p$k r ON l.root = r.id)""".stripMargin
    Similarity.oracleJaccardCte +
      s""",
         |e AS MATERIALIZED (SELECT d1 AS a, d2 AS b FROM jp
         |  UNION ALL SELECT d2 AS a, d1 AS b FROM jp),
         |l0 AS MATERIALIZED (SELECT doc_id AS id, doc_id AS root FROM documents),
         |${(1 to componentRounds).map(step).mkString(",\n")}""".stripMargin
  }

  /** Applied dedup (round 6): q_dedup_components answers "what are the
    * clusters"; this key answers the question the pipeline actually
    * ships — WHICH documents survive. The canonical representative per
    * near-dup cluster is the minimum doc_id, which after K
    * pointer-doubling rounds IS each vertex's root label (min
    * propagates along edges), so keep = "root is null (singleton — not
    * in the pair graph) or root = own id". Census per lang of the
    * kept corpus: doc counts, kept-id checksum (pins EXACTLY which
    * docs survive, not just how many), kept character mass, and the
    * drop ratio ×1e6.
    *
    * The oracle runs the labels over the FULL corpus (singletons keep
    * root = id) while Spark labels only pair-graph vertices and
    * treats absent-from-labels as kept — the hash match PROVES the
    * vertex-only optimization equivalent, exactly as in
    * q_dedup_components. The labels themselves are built once per
    * session (sharedComponentLabels) for both keys.
    */
  private val dedupClusterRep = QueryDef(
    "q_dedup_cluster_rep",
    (s, d) => {
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), col("lang"), col("n_chars"))
      val labels = sharedComponentLabels(s, d)
      docs.join(labels, docs("doc_id") === labels("id"), "left")
        .withColumn("kept",
          when(col("root").isNull || col("root") === col("doc_id"), 1L)
            .otherwise(0L))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("kept")).as("n_kept"),
          sum(when(col("kept") === 1L, col("doc_id")).otherwise(0L))
            .as("kept_id_checksum"),
          sum(when(col("kept") === 1L, col("n_chars")).otherwise(0L))
            .as("kept_chars"))
        .withColumn("drop_ratio_e6",
          expr("(n_docs - n_kept) * 1000000 div n_docs"))
        .orderBy(ascf("lang"))
    },
    Some {
      oracleComponentChain +
        s""",
           |st AS (SELECT d.lang AS lang, d.doc_id AS id,
           |    d.n_chars AS nc,
           |    CASE WHEN lK.root = d.doc_id THEN 1 ELSE 0 END AS kept
           |  FROM documents d JOIN l$componentRounds lK
           |    ON d.doc_id = lK.id)
           |SELECT lang, count(*) AS n_docs,
           |  CAST(sum(kept) AS BIGINT) AS n_kept,
           |  CAST(sum(CASE WHEN kept = 1 THEN id ELSE 0 END) AS BIGINT)
           |    AS kept_id_checksum,
           |  CAST(sum(CASE WHEN kept = 1 THEN nc ELSE 0 END) AS BIGINT)
           |    AS kept_chars,
           |  (count(*) - CAST(sum(kept) AS BIGINT)) * 1000000 // count(*)
           |    AS drop_ratio_e6
           |FROM st GROUP BY lang ORDER BY lang ASC NULLS FIRST""".stripMargin
    })

  /** Asymmetric shingle CONTAINMENT dedup (round 5): doc a is
    * (near-)contained in doc b when |S_a ∩ S_b| ≥ 0.8·|S_a| over
    * word-3-shingle sets — the doc-INCLUSION detector that symmetric
    * Jaccard misses by construction (a short doc quoted inside a long
    * one has tiny Jaccard but containment ≈ 1), and the op that catches
    * quote-farms and wrapper pages in a training corpus.
    *
    * Scale: docs first collapse to identical-shingle-set groups (the
    * q_dedup_ngram trick — a duplicate cluster costs one group row);
    * candidates come from an a-side-only prefix filter — if containment
    * ≥ t, then among a's (n₁ − ⌈t·n₁⌉ + 1) RAREST shingles (global
    * (df, shingle) order) at least one is in b (pigeonhole), so joining
    * only a's prefix against b's full postings is a LOSSLESS superset;
    * rare-by-construction prefix shingles keep posting lists short.
    * Note the asymmetry: no filter exists on the b side (any superset
    * qualifies), which is exactly why this is a different algorithm
    * from the symmetric PPJoin above.
    *
    * Determinism: the verify predicate is the integer cross-
    * multiplication 10·|S_a ∩ S_b| ≥ 8·n₁ — no division. The oracle is
    * the naive doc-level postings join (no prefix filter), so the hash
    * match PROVES candidate losslessness on every fixture, not just in
    * the comment.
    */
  private val containment = QueryDef(
    "q_text_containment",
    (s, d) => {
      // corpus scan + split shared with the other set-similarity text
      // keys (Text.sharedDocTokens, VERDICT r5 #4)
      val sets = Text.sharedDocTokens(s, d)
        .select(col("lang"), col("doc_id"), col("ts").as("toks"))
        .withColumn("nt", size(col("toks")).cast("long"))
        .withColumn("ss", expr(
          """array_distinct(filter(transform(
            |  sequence(1, greatest(int(nt) - 2, 1)),
            |  i -> IF(i <= int(nt) - 2,
            |          array_join(slice(toks, i, 3), ' '), NULL)),
            |  x -> x IS NOT NULL))""".stripMargin))
        .filter(size(col("ss")) > 0)
      val groups = graft.Caches.scoped(
        sets.groupBy(col("lang"), col("ss"))
          .agg(min(col("doc_id")).as("gid"), count(lit(1)).as("c"),
            sum(col("doc_id")).as("sid"))
          .withColumn("n", size(col("ss")).cast("long")))
      val post = groups.select(col("lang"), col("gid"), col("n"),
        explode(col("ss")).as("w"))
      val dfreq = post.groupBy(col("lang"), col("w"))
        .agg(count(lit(1)).as("df"))
      val wG = Window.partitionBy(col("gid"))
      val prefix = post.join(dfreq, Seq("lang", "w"))
        .withColumn("pos",
          row_number().over(wG.orderBy(ascf("df"), ascf("w"))))
        .filter(col("pos") <= col("n") - expr("(n * 8 + 9) div 10") + 1)
      val cand = prefix.alias("a")
        .join(post.alias("b"),
          col("a.lang") === col("b.lang") && col("a.w") === col("b.w") &&
            col("a.gid") =!= col("b.gid"))
        .select(col("a.lang").as("lang"), col("a.gid").as("g1"),
          col("b.gid").as("g2"))
        .distinct()
      val ga = groups.select(col("gid").as("g1"), col("ss").as("s1"),
        col("n").as("n1"), col("c").as("c1"))
      val gb = groups.select(col("gid").as("g2"), col("ss").as("s2"),
        col("c").as("c2"))
      val verified = cand.join(ga, "g1").join(gb, "g2")
        .filter(size(array_intersect(col("s1"), col("s2"))).cast("long")
          * 10 >= col("n1") * 8)
      val intraG = groups.filter(col("c") >= 2)
        .select(col("lang"), col("gid"))
      val containedG = intraG
        .union(verified.select(col("lang"), col("g1").as("gid")))
        .distinct()
        .join(groups.select(col("gid"), col("c"), col("sid")), "gid")
        .groupBy(col("lang"))
        .agg(sum(col("c")).as("n_contained"),
          sum(col("sid")).as("id_checksum"))
      val pairs = groups.groupBy(col("lang"))
        .agg(sum(col("c") * (col("c") - 1)).as("intra_pairs"),
          sum(col("c")).as("n_docs"))
      val crossPairs = verified.groupBy(col("lang"))
        .agg(sum(col("c1") * col("c2")).as("cross_pairs"))
      pairs.join(crossPairs, Seq("lang"), "left")
        .join(containedG, Seq("lang"), "left")
        .select(col("lang"), col("n_docs"),
          coalesce(col("n_contained"), lit(0L)).as("n_contained"),
          (col("intra_pairs") + coalesce(col("cross_pairs"), lit(0L)))
            .as("n_pairs"),
          coalesce(col("id_checksum"), lit(0L)).as("id_checksum"))
        .orderBy(ascf("lang"))
    },
    Some("""WITH t AS (SELECT lang, doc_id, string_split(text, ' ') AS toks,
           |    CAST(length(string_split(text, ' ')) AS BIGINT) AS nt
           |  FROM documents),
           |sh AS MATERIALIZED (SELECT lang, doc_id, unnest(list_distinct(
           |    [array_to_string(toks[i:i+2], ' ')
           |     for i in range(1, CAST(greatest(nt - 1, 1) AS BIGINT))])) AS w
           |  FROM t),
           |nn AS MATERIALIZED (SELECT lang, doc_id, count(*) AS n FROM sh
           |  GROUP BY lang, doc_id),
           |p AS (SELECT a.lang AS lang, a.doc_id AS d1, b.doc_id AS d2,
           |    count(*) AS inter
           |  FROM sh a JOIN sh b ON a.lang = b.lang AND a.w = b.w
           |    AND a.doc_id <> b.doc_id
           |  GROUP BY 1, 2, 3),
           |cp AS MATERIALIZED (SELECT p.lang AS lang, p.d1, p.d2
           |  FROM p JOIN nn n1 ON p.d1 = n1.doc_id
           |  WHERE p.inter * 10 >= n1.n * 8),
           |base AS (SELECT lang, count(*) AS n_docs FROM nn GROUP BY lang),
           |cd AS (SELECT lang, count(*) AS n_contained,
           |    CAST(sum(d1) AS BIGINT) AS id_checksum
           |  FROM (SELECT DISTINCT lang, d1 FROM cp) GROUP BY lang),
           |np AS (SELECT lang, count(*) AS n_pairs FROM cp GROUP BY lang)
           |SELECT base.lang AS lang, base.n_docs,
           |  CAST(coalesce(cd.n_contained, 0) AS BIGINT) AS n_contained,
           |  CAST(coalesce(np.n_pairs, 0) AS BIGINT) AS n_pairs,
           |  CAST(coalesce(cd.id_checksum, 0) AS BIGINT) AS id_checksum
           |FROM base LEFT JOIN cd ON base.lang = cd.lang
           |LEFT JOIN np ON base.lang = np.lang
           |ORDER BY lang ASC NULLS FIRST""".stripMargin))

  /** Oracle-graded SimHash near-dup (round 5): the exactly-graded twin
    * of `q_dedup_simhash` (whose xxhash64 token hash is engine-specific
    * ⇒ declared no-oracle). Every stage here is arithmetic BOTH engines
    * evaluate bit-identically — the count-min/HLL argument applied to
    * the third and last sketch family on the surface:
    *
    *  - token → int: 31-adic pack of the first 4 chars + 97·length
    *    (ascii of past-end substring is 0 on both engines);
    *  - avalanche: mod-prime → xor-shift → mod-prime (the HLL mix —
    *    a single linear round leaves progression structure);
    *  - 60-bit signature: bit b (b < 60) votes with the middle bit of
    *    g·(2b+105)+b mod P — per-lane odd multipliers as ARITHMETIC, not
    *    a 60-branch CASE (the DetMath lesson: wide CASE ladders break
    *    whole-stage codegen); per-(doc, b) vote sums partial-aggregate
    *    on the scan; tie Σ±1 = 0 votes 1 (pinned). 60 not 64: the top
    *    band of a 64-bit sig would need shiftleft(1L, 63) = the sign
    *    bit, where the engines' overflow behavior differs (DuckDB
    *    errors, Spark wraps);
    *  - candidates: 4 bands × 15 bits (32768 buckets/band) — hamming
    *    ≤ 3 with 4 bands leaves ≥ 1 band untouched (pigeonhole — a
    *    THEOREM, so the band-join oracle mirrors the construction
    *    rather than paying the naive n² join; losslessness here needs
    *    no per-fixture proof);
    *  - verify: bit_count(s1 xor s2) ≤ 3, exact on candidates only.
    *
    * Census per lang (pair/exact counts + id/hamming checksums) keeps
    * the output grain-sized. Scale: the ×60 lane explode is map-side
    * projection feeding a (doc, b)-grain partial agg (shuffle carries
    * 60·n rows); candidates are ~n²/32768 per band per lang — the same
    * budget as the declared no-oracle simhash.
    */
  private val dedupSimhashExact = QueryDef(
    "q_dedup_simhash_exact",
    (s, d) => {
      val P = 2147483647L
      val toks = Tables.documents(s, d)
        .select(col("doc_id"), col("lang"),
          explode(array_distinct(split(col("text"), " "))).as("w"))
        .withColumn("t",
          ascii(substring(col("w"), 1, 1)).cast("bigint") * 29791 +
            ascii(substring(col("w"), 2, 1)).cast("bigint") * 961 +
            ascii(substring(col("w"), 3, 1)).cast("bigint") * 31 +
            ascii(substring(col("w"), 4, 1)).cast("bigint") +
            length(col("w")).cast("bigint") * 97)
        .withColumn("h1", expr(s"((t % $P) * 15485863 + 101) % $P"))
        .withColumn("g", expr("h1 ^ shiftright(h1, 15)"))
      val votes = toks
        .select(col("doc_id"), col("lang"), col("g"),
          explode(sequence(lit(0L), lit(59L))).as("b"))
        .withColumn("hb", expr(s"((g % $P) * (2 * b + 105) + b) % $P"))
        .withColumn("v", expr(
          "CASE WHEN shiftright(hb, 15) & 1 = 1 THEN 1L ELSE -1L END"))
        .groupBy(col("doc_id"), col("lang"), col("b"))
        .agg(sum(col("v")).as("sv"))
      val sigs = graft.Caches.scoped(votes
        .groupBy(col("doc_id"), col("lang"))
        .agg(sum(when(col("sv") >= 0, expr(
          "shiftleft(CAST(1 AS BIGINT), CAST(b AS INT))"))
          .otherwise(0L)).as("sig")))
      val bands = sigs.select(col("doc_id"), col("lang"), col("sig"),
          explode(sequence(lit(0L), lit(3L))).as("k"))
        .withColumn("bandv", expr("shiftright(sig, CAST(k * 15 AS INT)) & 32767"))
      val cand = bands.alias("x").join(bands.alias("y"),
          col("x.lang") === col("y.lang") && col("x.k") === col("y.k") &&
            col("x.bandv") === col("y.bandv") &&
            col("x.doc_id") < col("y.doc_id"))
        .select(col("x.lang").as("lang"), col("x.doc_id").as("d1"),
          col("x.sig").as("s1"), col("y.doc_id").as("d2"),
          col("y.sig").as("s2"))
        .distinct()
      cand
        .withColumn("ham", expr("CAST(bit_count(s1 ^ s2) AS BIGINT)"))
        .filter(col("ham") <= 3)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_pairs"),
          sum(when(col("ham") === 0, 1L).otherwise(0L)).as("n_exact"),
          sum(col("d1") + col("d2")).as("id_checksum"),
          sum(col("ham")).as("ham_sum"))
        .orderBy(ascf("lang"))
    },
    Some("""WITH tk AS (SELECT doc_id, lang,
           |    unnest(list_distinct(string_split(text, ' '))) AS w
           |  FROM documents),
           |ti AS (SELECT doc_id, lang,
           |    CAST(ascii(substring(w, 1, 1)) AS BIGINT) * 29791 +
           |    CAST(ascii(substring(w, 2, 1)) AS BIGINT) * 961 +
           |    CAST(ascii(substring(w, 3, 1)) AS BIGINT) * 31 +
           |    CAST(ascii(substring(w, 4, 1)) AS BIGINT) +
           |    CAST(length(w) AS BIGINT) * 97 AS t FROM tk),
           |av AS (SELECT doc_id, lang,
           |    ((t % 2147483647) * 15485863 + 101) % 2147483647 AS h1
           |  FROM ti),
           |g1 AS (SELECT doc_id, lang, xor(h1, h1 >> 15) AS g FROM av),
           |ln AS (SELECT doc_id, lang, g, r.range AS b
           |  FROM g1 CROSS JOIN range(60) r),
           |vt AS (SELECT doc_id, lang, b,
           |    CASE WHEN (((g % 2147483647) * (2 * b + 105) + b)
           |      % 2147483647 >> 15) & 1 = 1 THEN 1 ELSE -1 END AS v
           |  FROM ln),
           |sv AS (SELECT doc_id, lang, b, sum(v) AS sv
           |  FROM vt GROUP BY 1, 2, 3),
           |sg AS (SELECT doc_id, lang,
           |    CAST(sum(CASE WHEN sv >= 0
           |      THEN (CAST(1 AS BIGINT) << CAST(b AS INTEGER))
           |      ELSE 0 END) AS BIGINT) AS sig
           |  FROM sv GROUP BY 1, 2),
           |bd AS (SELECT doc_id, lang, sig, r.range AS k,
           |    (sig >> CAST(k * 15 AS INTEGER)) & 32767 AS bandv
           |  FROM sg CROSS JOIN range(4) r),
           |cd AS (SELECT DISTINCT x.lang, x.doc_id AS d1, x.sig AS s1,
           |    y.doc_id AS d2, y.sig AS s2
           |  FROM bd x JOIN bd y ON x.lang = y.lang AND x.k = y.k
           |    AND x.bandv = y.bandv AND x.doc_id < y.doc_id),
           |hm AS (SELECT lang, d1, d2,
           |    CAST(bit_count(xor(s1, s2)) AS BIGINT) AS ham FROM cd
           |  WHERE bit_count(xor(s1, s2)) <= 3)
           |SELECT lang, count(*) AS n_pairs,
           |  CAST(sum(CASE WHEN ham = 0 THEN 1 ELSE 0 END) AS BIGINT)
           |    AS n_exact,
           |  CAST(sum(d1 + d2) AS BIGINT) AS id_checksum,
           |  CAST(sum(ham) AS BIGINT) AS ham_sum
           |FROM hm GROUP BY lang ORDER BY lang ASC NULLS FIRST""".stripMargin))

  /** EXACTLY-GRADED MinHash banding (round 6 — VERDICT r5 #7: the last
    * sketch family whose only member was property-tested). The engine-
    * hash q_dedup_fuzzy_minhash keeps xxhash64 shingles; this twin
    * spells the whole permutation family as mod-prime arithmetic into
    * BOTH engines (the q_dedup_simhash_exact treatment):
    *  - token integer t = the char-polynomial hash (same construction
    *    as simhash_exact — engine-portable, collision-harmless since
    *    both engines merge identically);
    *  - 16 permutations h_j(t) = ((t mod P)·(2j+3) + 97j + 13) mod P,
    *    P = 2^31 − 1; per-doc minhash m_j = min over the token set —
    *    one (doc, j)-grain partial agg, shuffle carries 16 rows/doc;
    *  - 4 bands of 4: band value Σ m_j·31^(j mod 4) — exact int64
    *    (m < 2^31, ×29791 ≈ 2^46, ×4 safe), no re-hash to drift on;
    *  - candidates: same-(lang, band, value) join, d1 < d2, distinct —
    *    bucket-bounded, never all-pairs;
    *  - verify: EXACT integer Jaccard on candidates only via the
    *    token-posting join (10·inter ≥ 9·union — threshold 0.9, no
    *    division); band probability at j = 0.9 is 1−(1−0.9⁴)⁴ ≈ 0.99.
    * Census per lang: candidate/duplicate counts + id and intersection
    * checksums. At 100 TB every stage is candidate- or grain-bounded;
    * the recall CLAIM stays owned by MinHashSpec's property tests.
    */
  /** The char-polynomial token-int relation (doc_id, lang, t) behind
    * the exactly-graded MinHash keys — scoped-cached per consumer.
    * Shared by q_dedup_minhash_exact and q_text_dedup_eval (round 7).
    */
  private[graft] def minhashTokenInts(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame =
    graft.Caches.scoped(Text.sharedDocTokens(s, d)
      .select(col("doc_id"), col("lang"),
        explode(array_distinct(col("ts"))).as("w"))
      .withColumn("t",
        ascii(substring(col("w"), 1, 1)).cast("bigint") * 29791 +
          ascii(substring(col("w"), 2, 1)).cast("bigint") * 961 +
          ascii(substring(col("w"), 3, 1)).cast("bigint") * 31 +
          ascii(substring(col("w"), 4, 1)).cast("bigint") +
          length(col("w")).cast("bigint") * 97)
      .select(col("doc_id"), col("lang"), col("t"))
      .distinct())

  /** Same-(lang, band, value) MinHash candidate pairs (lang, d1, d2)
    * from the 16-permutation / 4-band family — the banding stage of
    * q_dedup_minhash_exact, reusable for banding-quality evaluation.
    */
  private[graft] def minhashBandCandidates(
      toks: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val P = 2147483647L
    // all 16 permutation minima as ONE aggregation over the token
    // relation (round 9: the previous explode×16 pushed a 16× row
    // blowup through the (doc, j) shuffle — exposed when the bench's
    // count()-elision fix priced this key honestly). Arithmetic is
    // unchanged expression-for-expression, so the band values — and the
    // oracle's mirrored explode formulation — are bit-identical.
    val minExprs = (0 until 16).map(j =>
      min(expr(s"((t % $P) * (2 * $j + 3) + 97 * $j + 13) % $P")).as(s"m$j"))
    val mins = toks.groupBy(col("doc_id"), col("lang"))
      .agg(minExprs.head, minExprs.tail: _*)
    val bands = mins.select(col("doc_id"), col("lang"),
      explode(array((0 until 4).map(k => struct(
        lit(k.toLong).as("k"),
        (col(s"m${4 * k}") + col(s"m${4 * k + 1}") * 31 +
          col(s"m${4 * k + 2}") * 961 +
          col(s"m${4 * k + 3}") * 29791).as("bandv"))): _*)).as("b"))
      .select(col("doc_id"), col("lang"),
        col("b.k").as("k"), col("b.bandv").as("bandv"))
    bands.alias("x").join(bands.alias("y"),
        col("x.lang") === col("y.lang") && col("x.k") === col("y.k") &&
          col("x.bandv") === col("y.bandv") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.lang").as("lang"), col("x.doc_id").as("d1"),
        col("y.doc_id").as("d2"))
      .distinct()
  }

  /** DuckDB CTE chain computing the same candidate relation, ending in
    * `cd(lang, d1, d2)` — prepend-able (no WITH keyword).
    */
  private[ops] val oracleMinhashCand: String =
    """tk AS (SELECT DISTINCT doc_id, lang,
      |    CAST(ascii(substring(w, 1, 1)) AS BIGINT) * 29791 +
      |    CAST(ascii(substring(w, 2, 1)) AS BIGINT) * 961 +
      |    CAST(ascii(substring(w, 3, 1)) AS BIGINT) * 31 +
      |    CAST(ascii(substring(w, 4, 1)) AS BIGINT) +
      |    CAST(length(w) AS BIGINT) * 97 AS t
      |  FROM (SELECT doc_id, lang,
      |    unnest(list_distinct(string_split(text, ' '))) AS w
      |    FROM documents)),
      |mh AS (SELECT doc_id, lang, r.range AS j,
      |    min(((t % 2147483647) * (2 * r.range + 3) + 97 * r.range + 13)
      |      % 2147483647) AS m
      |  FROM tk CROSS JOIN range(16) r GROUP BY 1, 2, 3),
      |bd AS (SELECT doc_id, lang, j // 4 AS k,
      |    CAST(sum(m * (CASE CAST(j % 4 AS INTEGER) WHEN 0 THEN 1
      |      WHEN 1 THEN 31 WHEN 2 THEN 961 ELSE 29791 END)) AS BIGINT)
      |      AS bandv
      |  FROM mh GROUP BY 1, 2, 3),
      |cd AS MATERIALIZED (SELECT DISTINCT x.lang AS lang, x.doc_id AS d1,
      |    y.doc_id AS d2
      |  FROM bd x JOIN bd y ON x.lang = y.lang AND x.k = y.k
      |    AND x.bandv = y.bandv AND x.doc_id < y.doc_id)""".stripMargin

  private val dedupMinhashExact = QueryDef(
    "q_dedup_minhash_exact",
    (s, d) => {
      // Round-9 GROUP-COLLAPSE rewrite (the q_dedup_ngram /
      // q_sim_jaccard_pairs trick, applied to minhash): docs with
      // IDENTICAL token sets have identical signatures, so every
      // intra-group doc pair is a band candidate with J = 1 — on a
      // corpus with a 1000-doc duplicate cluster that is 10⁶ candidate
      // pairs carrying zero information (measured: the 10× key-shifted
      // probe corpus, 100% dup rate, exploded the doc-level verify to
      // ~197 M pairs / ~20 min). Banding + verify now run on GROUP
      // representatives (identical sets ⇒ identical signatures ⇒ the
      // group-level candidate relation is exactly the doc-level one
      // collapsed), and the doc-level census is recovered
      // arithmetically: a group of c docs contributes C(c,2) intra
      // pairs with inter = n and id-sum (c−1)·Σids; a verified cross
      // pair (A,B) contributes c_A·c_B pairs with id-sum
      // c_B·Σids_A + c_A·Σids_B. Output is bit-identical to the
      // doc-level spelling (the oracle still computes per doc).
      val toks = minhashTokenInts(s, d)
      val toksArr = toks.groupBy(col("doc_id"), col("lang"))
        .agg(sort_array(collect_list(col("t"))).as("ti"))
      val groups = graft.Caches.scoped(toksArr
        .groupBy(col("lang"), col("ti"))
        .agg(min(col("doc_id")).as("gid"), count(lit(1)).as("c"),
          sum(col("doc_id")).as("ids"))
        .withColumn("n", size(col("ti"))))
      val gtoks = groups.filter(col("n") > 0)
        .select(col("gid").as("doc_id"), col("lang"),
          explode(col("ti")).as("t"))
      val gcand = minhashBandCandidates(gtoks)
      val ga = groups.select(col("gid").as("d1"), col("ti").as("sa"),
        col("n").as("n1"), col("c").as("c1"), col("ids").as("ids1"))
      val gb = groups.select(col("gid").as("d2"), col("ti").as("sb"),
        col("n").as("n2"), col("c").as("c2"), col("ids").as("ids2"))
      val cross = gcand.join(ga, "d1").join(gb, "d2")
        .withColumn("inter", size(array_intersect(col("sa"), col("sb"))))
        .withColumn("pairs", col("c1") * col("c2"))
        .withColumn("verified",
          col("inter") * 10 >= (col("n1") + col("n2") - col("inter")) * 9)
        .groupBy(col("lang"))
        .agg(sum(col("pairs")).as("x_cand"),
          sum(when(col("verified"), col("pairs")).otherwise(lit(0L)))
            .as("x_dup"),
          sum(when(col("verified"),
            col("c2") * col("ids1") + col("c1") * col("ids2"))
            .otherwise(lit(0L))).as("x_ids"),
          sum(when(col("verified"), col("inter") * col("pairs"))
            .otherwise(lit(0L))).as("x_inter"))
      // intra-group arithmetic: every same-set pair (n > 0) is a
      // candidate (identical signatures) and verified (J = 1)
      val intra = groups.filter(col("n") > 0)
        .groupBy(col("lang"))
        .agg(sum(expr("c * (c - 1) div 2")).as("i_cand"),
          sum(expr("(c - 1) * ids")).as("i_ids"),
          sum(expr("n * (c * (c - 1) div 2)")).as("i_inter"))
      intra.join(cross, Seq("lang"), "left")
        .select(col("lang"),
          (col("i_cand") + coalesce(col("x_cand"), lit(0L)))
            .as("n_candidates"),
          (col("i_cand") + coalesce(col("x_dup"), lit(0L)))
            .as("n_duplicates"),
          (col("i_ids") + coalesce(col("x_ids"), lit(0L)))
            .as("id_checksum"),
          (col("i_inter") + coalesce(col("x_inter"), lit(0L)))
            .as("inter_checksum"))
        // the oracle's row universe is langs WITH candidates (cc is
        // grouped FROM cd) — a lang of all-singleton groups and no
        // cross candidates must not emit a zero row here either
        .filter(col("n_candidates") > 0)
        .orderBy(ascf("lang"))
    },
    Some("""WITH tk AS (SELECT DISTINCT doc_id, lang,
           |    CAST(ascii(substring(w, 1, 1)) AS BIGINT) * 29791 +
           |    CAST(ascii(substring(w, 2, 1)) AS BIGINT) * 961 +
           |    CAST(ascii(substring(w, 3, 1)) AS BIGINT) * 31 +
           |    CAST(ascii(substring(w, 4, 1)) AS BIGINT) +
           |    CAST(length(w) AS BIGINT) * 97 AS t
           |  FROM (SELECT doc_id, lang,
           |    unnest(list_distinct(string_split(text, ' '))) AS w
           |    FROM documents)),
           |mh AS (SELECT doc_id, lang, r.range AS j,
           |    min(((t % 2147483647) * (2 * r.range + 3) + 97 * r.range + 13)
           |      % 2147483647) AS m
           |  FROM tk CROSS JOIN range(16) r GROUP BY 1, 2, 3),
           |bd AS (SELECT doc_id, lang, j // 4 AS k,
           |    CAST(sum(m * (CASE CAST(j % 4 AS INTEGER) WHEN 0 THEN 1
           |      WHEN 1 THEN 31 WHEN 2 THEN 961 ELSE 29791 END)) AS BIGINT)
           |      AS bandv
           |  FROM mh GROUP BY 1, 2, 3),
           |cd AS (SELECT DISTINCT x.lang AS lang, x.doc_id AS d1,
           |    y.doc_id AS d2
           |  FROM bd x JOIN bd y ON x.lang = y.lang AND x.k = y.k
           |    AND x.bandv = y.bandv AND x.doc_id < y.doc_id),
           |sz AS (SELECT doc_id, count(*) AS n FROM tk GROUP BY 1),
           |iv AS (SELECT c.lang AS lang, c.d1 AS d1, c.d2 AS d2,
           |    count(*) AS inter
           |  FROM cd c JOIN tk t1 ON t1.doc_id = c.d1
           |    JOIN tk t2 ON t2.doc_id = c.d2 AND t2.t = t1.t
           |  GROUP BY 1, 2, 3),
           |vf AS (SELECT iv.lang AS lang, iv.d1 AS d1, iv.d2 AS d2, iv.inter
           |  FROM iv JOIN sz s1 ON iv.d1 = s1.doc_id
           |    JOIN sz s2 ON iv.d2 = s2.doc_id
           |  WHERE iv.inter * 10 >= (s1.n + s2.n - iv.inter) * 9),
           |cc AS (SELECT lang, count(*) AS n_candidates FROM cd GROUP BY 1),
           |dc AS (SELECT lang, count(*) AS n_duplicates,
           |    CAST(sum(d1 + d2) AS BIGINT) AS id_checksum,
           |    CAST(sum(inter) AS BIGINT) AS inter_checksum
           |  FROM vf GROUP BY 1)
           |SELECT cc.lang AS lang, cc.n_candidates,
           |  CAST(coalesce(dc.n_duplicates, 0) AS BIGINT) AS n_duplicates,
           |  CAST(coalesce(dc.id_checksum, 0) AS BIGINT) AS id_checksum,
           |  CAST(coalesce(dc.inter_checksum, 0) AS BIGINT) AS inter_checksum
           |FROM cc LEFT JOIN dc ON cc.lang = dc.lang
           |ORDER BY lang ASC NULLS FIRST""".stripMargin))

  /** Cross-document duplicated-substring census (round 6): the
    * ExactSubstr signal of Lee et al. 2022 ("Deduplicating Training
    * Data Makes Language Models Better" — duplicated SPANS matter even
    * when whole documents differ), approximated at token-8-gram grain:
    * every 8-token window is a span; a span is duplicated when its
    * 8-gram occurs in ≥ 2 distinct documents. Per lang: span count,
    * duplicated-span occurrences, distinct duplicated grams, documents
    * carrying ≥ 1 duplicated span, and the dup ratio in 1e6 units —
    * exactly the census a substring-dedup pass computes before deciding
    * what to cut. The fixtures make it live: the injected near-dup
    * docs produce real duplicated spans in de/en while es/fr/zh grade
    * the all-zero path.
    *
    * Scale: ONE shared corpus tokenize (sharedDocTokens) → ~n_tokens
    * span rows (each token starts ≤ 1 span) partial-agged straight to
    * (lang, gram, doc) grain, then gram grain — the same
    * explode→combine→reduce budget as wordcount, on 8× wider keys; at
    * 100 TB one would hash the gram to int64 first (the q_sample_hash
    * trick) to shrink the shuffle key, which changes no count in this
    * census. No pair join anywhere — dup detection is a GROUP BY, not
    * a self-join, which is what makes substring-grain dedup feasible
    * where pairwise comparison is not.
    *
    * Determinism: pure integer counts; ratio division non-negative
    * (div ≡ //). Affected-doc census joins back to the (gram, doc)
    * grain — grain-sized, not corpus-sized.
    */
  private val dedupSubstr = QueryDef(
    "q_dedup_substr",
    (s, d) => {
      val spans = Text.sharedDocTokens(s, d)
        .filter(size(col("ts")) >= 8)
        .select(col("doc_id"), col("lang"), explode(expr(
          """transform(sequence(1, size(ts) - 7),
            |  i -> array_join(slice(ts, i, 8), ' '))""".stripMargin))
          .as("gram"))
      val dg = graft.Caches.scoped(spans
        .groupBy(col("lang"), col("gram"), col("doc_id"))
        .agg(count(lit(1)).as("occ")))
      val gs = graft.Caches.scoped(dg
        .groupBy(col("lang"), col("gram"))
        .agg(count(lit(1)).as("n_docs"), sum(col("occ")).as("n_occ")))
      val census = gs.groupBy(col("lang"))
        .agg(sum(col("n_occ")).as("n_spans"),
          sum(when(col("n_docs") >= 2, col("n_occ")).otherwise(0L))
            .as("n_dup_spans"),
          sum(when(col("n_docs") >= 2, 1L).otherwise(0L))
            .as("n_dup_grams"))
      val affected = dg
        .join(gs.filter(col("n_docs") >= 2)
            .select(col("lang"), col("gram")),
          Seq("lang", "gram"))
        .groupBy(col("lang"))
        .agg(countDistinct(col("doc_id")).as("n_docs_affected"))
      census.join(affected, Seq("lang"), "left")
        .select(col("lang"), col("n_spans"), col("n_dup_spans"),
          col("n_dup_grams"),
          coalesce(col("n_docs_affected"), lit(0L)).as("n_docs_affected"),
          // spans are token-grain corpus counts — stage the e6 product
          expr("cast(cast(n_dup_spans as decimal(38,0)) * 1000000 " +
            "div n_spans as bigint)").as("dup_ratio_e6"))
        .orderBy(ascf("lang"))
    },
    Some("""WITH t AS (SELECT doc_id, lang, string_split(text, ' ') AS ts
           |  FROM documents WHERE len(string_split(text, ' ')) >= 8),
           |g AS (SELECT doc_id, lang,
           |    unnest(list_transform(range(1, len(ts) - 6),
           |      i -> array_to_string(ts[i:i+7], ' '))) AS gram FROM t),
           |dg AS (SELECT lang, gram, doc_id, count(*) AS occ
           |  FROM g GROUP BY 1, 2, 3),
           |gs AS (SELECT lang, gram, count(*) AS n_docs,
           |    CAST(sum(occ) AS BIGINT) AS n_occ FROM dg GROUP BY 1, 2),
           |cen AS (SELECT lang, CAST(sum(n_occ) AS BIGINT) AS n_spans,
           |    CAST(sum(CASE WHEN n_docs >= 2 THEN n_occ ELSE 0 END)
           |      AS BIGINT) AS n_dup_spans,
           |    CAST(sum(CASE WHEN n_docs >= 2 THEN 1 ELSE 0 END)
           |      AS BIGINT) AS n_dup_grams
           |  FROM gs GROUP BY 1),
           |aff AS (SELECT dg.lang AS lang,
           |    count(DISTINCT dg.doc_id) AS n_docs_affected
           |  FROM dg JOIN gs ON dg.lang = gs.lang AND dg.gram = gs.gram
           |  WHERE gs.n_docs >= 2 GROUP BY 1)
           |SELECT cen.lang AS lang, n_spans, n_dup_spans, n_dup_grams,
           |  CAST(coalesce(aff.n_docs_affected, 0) AS BIGINT)
           |    AS n_docs_affected,
           |  CAST(CAST(n_dup_spans AS HUGEINT) * 1000000 // n_spans
           |    AS BIGINT) AS dup_ratio_e6
           |FROM cen LEFT JOIN aff ON cen.lang = aff.lang
           |ORDER BY lang ASC NULLS FIRST""".stripMargin))

  /** Product-quantized ANN (round 7) — the last rung of the ANN ladder
    * (brute → LSH → IVF → SQ → PQ): the vector splits into M=8
    * subspaces of 8 dims, each subspace gets its own K=16 codeword
    * codebook, and a vector compresses to 8 four-bit codes (4 bytes —
    * 64× smaller than float32, 4× beyond SQ4) scored via the ADC
    * table: approx_dot(v) = Σ_m ⟨probe_m, codeword(m, code_m(v))⟩,
    * one table lookup per subspace instead of any per-dim math.
    *
    * Codebooks are k-means trained ON-ENGINE, deterministically (the
    * q_ml_kmeans discipline): seeds = subvectors of vec_id 0..15, ONE
    * exact-int Lloyd round (argmin by int64 L2, tie → smaller j;
    * update = per-dim truncating-div mean — `div` ≡ `//` verified),
    * then encode against the updated codebooks. Empty codewords simply
    * drop out of the codebook relation on both engines. More Lloyd
    * rounds are a fidelity knob, not a shape change — each round is
    * the same assignment join + (m, j, dim) partial agg.
    *
    * Shape at 100 TB: training/encoding joins are against the
    * (M·K = 128)-row broadcast codebook; the ADC scoring scan reads
    * only the 4-byte codes with a broadcast 128-row ADC table, one
    * partial agg to (vec_id, approx_dot), distributed TakeOrdered(32),
    * 32-row exact rerank — raw embeddings touched only at rerank,
    * exactly like q_sim_ann_sq/serve.
    */
  private val simAnnPq = QueryDef(
    "q_sim_ann_pq",
    (s, d) => {
      val emb = quantized(s, d)
      val sub = graft.Caches.scoped(emb.select(col("vec_id"), explode(expr(
        "transform(sequence(0, 7), m -> struct(m AS m, " +
          "slice(v, m * 8 + 1, 8) AS sv))")).as("t"))
        .select(col("vec_id"), col("t.m").as("m"), col("t.sv").as("sv")))
      val sqdist = "aggregate(zip_with(sv, cw, (a, b) -> (a - b) * (a - b))" +
        ", 0L, (acc, x) -> acc + x)"
      def argmin(points: org.apache.spark.sql.DataFrame,
          book: org.apache.spark.sql.DataFrame) = {
        val w = Window.partitionBy(col("vec_id"), col("m"))
          .orderBy(ascf("dist"), ascf("j"))
        points.join(broadcast(book), "m")
          .withColumn("dist", expr(sqdist))
          .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
          .select(col("vec_id"), col("m"), col("j"))
      }
      val seeds = sub.filter(col("vec_id") < 16)
        .select(col("m"), col("vec_id").as("j"), col("sv").as("cw"))
      val asg0 = argmin(sub, seeds)
      val cent = asg0.join(sub, Seq("vec_id", "m"))
        .select(col("m"), col("j"), posexplode(col("sv")).as(Seq("i", "x")))
        .groupBy(col("m"), col("j"), col("i"))
        .agg(sum(col("x")).as("sx"), count(lit(1)).as("c"))
        .withColumn("cv", expr("sx div c"))
        .groupBy(col("m"), col("j"))
        .agg(expr("transform(array_sort(collect_list(struct(i, cv)))," +
          " t -> t.cv)").as("cw"))
      val codes = argmin(sub, cent)
      val adc = sub.filter(col("vec_id") === 0).drop("vec_id")
        .join(cent, "m")
        .select(col("m"), col("j"),
          expr("aggregate(zip_with(sv, cw, (a, b) -> a * b), 0L," +
            " (acc, x) -> acc + x)").as("dotp"))
      val cands = codes.filter(col("vec_id") =!= 0)
        .join(broadcast(adc), Seq("m", "j"))
        .groupBy(col("vec_id"))
        .agg(sum(col("dotp")).as("approx_dot"))
        .orderBy(descl("approx_dot"), ascf("vec_id"))
        .limit(32)
      val probe = emb.filter(col("vec_id") === 0)
        .select(col("v").as("pv"), col("nn").as("pnn"))
      cands.join(emb, "vec_id").crossJoin(broadcast(probe))
        .select(col("vec_id"), col("approx_dot"),
          (round(cosine(dot(col("v"), col("pv")), col("nn"), col("pnn")), 6)
            + lit(0.0)).as("cos"))
        .orderBy(descl("cos"), ascf("vec_id"))
        .limit(10)
    },
    Some(oracleQuantized +
      """,
        |sub AS (SELECT vec_id, m.range AS m,
        |    v[m.range * 8 + 1 : m.range * 8 + 8] AS sv
        |  FROM n, range(0, 8) m),
        |seed AS (SELECT m, vec_id AS j, sv AS cw FROM sub
        |  WHERE vec_id < 16),
        |d0 AS (SELECT sub.vec_id AS vec_id, sub.m AS m, seed.j AS j,
        |    list_sum(list_transform(range(1, 9),
        |      i -> (sub.sv[i] - seed.cw[i]) * (sub.sv[i] - seed.cw[i])))
        |      AS dist
        |  FROM sub JOIN seed ON sub.m = seed.m),
        |a0 AS (SELECT vec_id, m, j FROM (SELECT *, row_number() OVER (
        |    PARTITION BY vec_id, m ORDER BY dist ASC, j ASC) AS rn FROM d0)
        |  WHERE rn = 1),
        |cd AS (SELECT a0.m AS m, a0.j AS j, i.range AS i,
        |    CAST(sum(sub.sv[i.range]) AS BIGINT) AS sx, count(*) AS c
        |  FROM a0 JOIN sub ON a0.vec_id = sub.vec_id AND a0.m = sub.m,
        |    range(1, 9) i
        |  GROUP BY 1, 2, 3),
        |cent AS (SELECT m, j, list(sx // c ORDER BY i ASC) AS cw
        |  FROM cd GROUP BY m, j),
        |d1 AS (SELECT sub.vec_id AS vec_id, sub.m AS m, cent.j AS j,
        |    list_sum(list_transform(range(1, 9),
        |      i -> (sub.sv[i] - cent.cw[i]) * (sub.sv[i] - cent.cw[i])))
        |      AS dist
        |  FROM sub JOIN cent ON sub.m = cent.m),
        |codes AS (SELECT vec_id, m, j FROM (SELECT *, row_number() OVER (
        |    PARTITION BY vec_id, m ORDER BY dist ASC, j ASC) AS rn FROM d1)
        |  WHERE rn = 1),
        |adc AS (SELECT cent.m AS m, cent.j AS j,
        |    list_sum(list_transform(range(1, 9),
        |      i -> ps.sv[i] * cent.cw[i])) AS dotp
        |  FROM cent JOIN (SELECT m, sv FROM sub WHERE vec_id = 0) ps
        |    ON cent.m = ps.m),
        |cand AS (SELECT codes.vec_id AS vec_id,
        |    CAST(sum(adc.dotp) AS BIGINT) AS approx_dot
        |  FROM codes JOIN adc ON codes.m = adc.m AND codes.j = adc.j
        |  WHERE codes.vec_id <> 0 GROUP BY 1
        |  ORDER BY approx_dot DESC NULLS LAST, vec_id ASC NULLS FIRST
        |  LIMIT 32),
        |p AS (SELECT v AS pv, nn AS pnn FROM n WHERE vec_id = 0)
        |SELECT c.vec_id AS vec_id, c.approx_dot AS approx_dot,
        |  round(CAST(list_sum(list_transform(range(1, 65),
        |    k -> a.v[k] * p.pv[k])) AS DOUBLE)
        |    / (sqrt(CAST(a.nn AS DOUBLE)) * sqrt(CAST(p.pnn AS DOUBLE))), 6)
        |    + 0.0 AS cos
        |FROM cand c JOIN n a ON c.vec_id = a.vec_id, p
        |ORDER BY cos DESC NULLS LAST, vec_id ASC NULLS FIRST
        |LIMIT 10""".stripMargin))

  /** Banding-quality evaluation (round 7): the dedup family's
    * q_sim_recall — per lang, how many of the TRUE near-dup pairs
    * (exact token-set Jaccard ≥ 0.95, the PPJoin-verified
    * sharedJaccardPairs relation) does the MinHash BAND stage surface
    * as candidates, and how many banded candidates are true — the
    * recall/precision readout that decides banding parameters (bands ×
    * rows) before a fleet-scale dedup run. Theory says recall ≈
    * 1−(1−J⁴)⁴ ≈ 0.9987 at J = 0.95; the EXACT miss count is graded
    * (MinHashSpec owns the statistical claim; this key owns the
    * measured census — q_sim_recall's division of labor).
    *
    * Scale: composes two relations that are each candidate-bounded
    * (prefix-filtered exact join; bucket-bounded banding) — the eval
    * itself is pair-grain joins on those small relations; the truth
    * side is session-shared with its three existing consumers.
    *
    * Determinism: pure integer counting; recall_e6 = trunc-div with
    * the empty-truth lang pinned to 1e6 by CASE in both engines; lang
    * spine from documents so zero-pair langs still grade the zero path.
    */
  private val textDedupEval = QueryDef(
    "q_text_dedup_eval",
    (s, d) => {
      // round 12: scoped-cached — BOTH census branches below consume the
      // candidate relation; uncached, each re-ran the signature + band
      // join + distinct chain from the token cache
      val cand = graft.Caches.scoped(
        minhashBandCandidates(minhashTokenInts(s, d)))
      val truePairs = Similarity.sharedJaccardPairs(s, d)
        .select(col("d1"), col("d2"))
      val docs = Tables.documents(s, d).select(col("doc_id"), col("lang"))
      val trueL = truePairs.join(docs, col("d1") === col("doc_id"))
        .select(col("lang"), col("d1"), col("d2"))
      val caught = trueL
        .join(cand.withColumn("hit", lit(1L)), Seq("lang", "d1", "d2"),
          "left")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_true"),
          sum(coalesce(col("hit"), lit(0L))).as("n_caught"))
      val candStats = cand
        .join(truePairs.withColumn("tp", lit(1L)), Seq("d1", "d2"), "left")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_cand"),
          sum(coalesce(col("tp"), lit(0L))).as("n_cand_true"))
      docs.select(col("lang")).distinct()
        .join(caught, Seq("lang"), "left")
        .join(candStats, Seq("lang"), "left")
        .select(col("lang"),
          coalesce(col("n_true"), lit(0L)).as("n_true"),
          coalesce(col("n_caught"), lit(0L)).as("n_caught"),
          expr("""case when coalesce(n_true, 0) = 0 then 1000000L
                 |  else coalesce(n_caught, 0) * 1000000L div n_true end"""
            .stripMargin).as("recall_e6"),
          coalesce(col("n_cand"), lit(0L)).as("n_candidates"),
          coalesce(col("n_cand_true"), lit(0L)).as("n_cand_true95"))
        .orderBy(ascf("lang"))
    },
    Some {
      s"""${Similarity.oracleJaccardCte},
         |dl AS (SELECT d.lang, jp.d1, jp.d2
         |  FROM jp JOIN documents d ON jp.d1 = d.doc_id),
         |$oracleMinhashCand,
         |ca AS (SELECT dl.lang, CAST(count(*) AS BIGINT) AS n_true,
         |    CAST(sum(CASE WHEN cd.d1 IS NULL THEN 0 ELSE 1 END)
         |      AS BIGINT) AS n_caught
         |  FROM dl LEFT JOIN cd ON cd.lang = dl.lang AND cd.d1 = dl.d1
         |    AND cd.d2 = dl.d2
         |  GROUP BY 1),
         |cs AS (SELECT cd.lang, CAST(count(*) AS BIGINT) AS n_cand,
         |    CAST(sum(CASE WHEN jp.d1 IS NULL THEN 0 ELSE 1 END)
         |      AS BIGINT) AS n_cand_true
         |  FROM cd LEFT JOIN jp ON jp.d1 = cd.d1 AND jp.d2 = cd.d2
         |  GROUP BY 1),
         |sp AS (SELECT DISTINCT lang FROM documents)
         |SELECT sp.lang, coalesce(ca.n_true, 0) AS n_true,
         |  coalesce(ca.n_caught, 0) AS n_caught,
         |  CAST(CASE WHEN coalesce(ca.n_true, 0) = 0 THEN 1000000
         |    ELSE coalesce(ca.n_caught, 0) * 1000000 // ca.n_true END
         |    AS BIGINT) AS recall_e6,
         |  coalesce(cs.n_cand, 0) AS n_candidates,
         |  coalesce(cs.n_cand_true, 0) AS n_cand_true95
         |FROM sp LEFT JOIN ca ON sp.lang = ca.lang
         |LEFT JOIN cs ON sp.lang = cs.lang
         |ORDER BY sp.lang ASC NULLS FIRST""".stripMargin
    })

  /** Incremental ANN index maintenance (round 10): the op a production
    * vector index runs between rebuilds — a DELTA batch of new vectors
    * (vec_id ≡ 3 mod 5, ~20%) is absorbed into the EXISTING index by
    * assigning each to its nearest FROZEN centroid (the per-cell mean of
    * the base vectors that built the index), with the codebook itself
    * untouched. Output is the per-cell maintenance census: base size,
    * delta arrivals, how many deltas landed in a different cell than
    * their own sign-cell would suggest (the drift signal that tells you
    * when a REBUILD is due), and an assigned-id checksum pinning exactly
    * which vector went where.
    *
    * Nearest-centroid in exact arithmetic: dist²(x, mean_cell) ∝
    * Σ_k (c·x_k − sx_k)² / c² — numerators exact DECIMAL(38,0)/HUGEINT,
    * the single double division is one correctly-rounded IEEE op on both
    * engines (the q_sim_ann_ivf precedent), ties broken on cell id.
    *
    * Scale: the centroid table is (cells × dims) — a broadcast at any
    * corpus size; the delta batch scores against it with NO scan of the
    * base vectors (their contribution is pre-aggregated into sx/c, which
    * is the whole point of centroid assignment); census joins are
    * cell-grain.
    */
  private val simAnnIncremental = QueryDef(
    "q_sim_ann_incremental",
    (s, d) => {
      val cellCol = (0 until 5).map(k =>
        when(element_at(col("v"), k + 1) > 0, lit(1L << k)).otherwise(lit(0L)))
        .reduce(_ + _)
      val emb = quantized(s, d).withColumn("cell", cellCol)
      val base = emb.filter(pmod(col("vec_id"), lit(5)) =!= 3)
      val delta = emb.filter(pmod(col("vec_id"), lit(5)) === 3)
      val byDim = base
        .select(col("cell"), posexplode(col("v")).as(Seq("pos", "x")))
        .groupBy(col("cell"), col("pos"))
        .agg(sum(col("x")).as("sx"), count(lit(1)).as("c"))
        .withColumnRenamed("cell", "cand_cell")
      val dx = col("c").cast(DecimalType(38, 0)) * col("x") - col("sx")
      val scored = delta
        .select(col("vec_id"), col("cell").as("own_cell"),
          posexplode(col("v")).as(Seq("pos", "x")))
        .join(broadcast(byDim), Seq("pos"))
        .groupBy(col("vec_id"), col("own_cell"), col("cand_cell"))
        .agg(sum(dx * dx).as("num"), first(col("c")).as("c"))
        .withColumn("dist2", col("num").cast("double")
          / (col("c").cast("double") * col("c").cast("double")))
      val assigned = scored
        .withColumn("rk", row_number().over(
          Window.partitionBy(col("vec_id"))
            .orderBy(ascf("dist2"), ascf("cand_cell"))))
        .filter(col("rk") === 1)
      val baseCensus = base.groupBy(col("cell"))
        .agg(count(lit(1)).as("n_base"))
      val deltaCensus = assigned.groupBy(col("cand_cell").as("cell"))
        .agg(count(lit(1)).as("n_delta"),
          sum(when(col("own_cell") =!= col("cand_cell"), 1L).otherwise(0L))
            .as("n_moved"),
          sum(col("vec_id")).as("delta_id_checksum"))
      baseCensus.join(deltaCensus, Seq("cell"), "left")
        .select(col("cell"), col("n_base"),
          coalesce(col("n_delta"), lit(0L)).as("n_delta"),
          coalesce(col("n_moved"), lit(0L)).as("n_moved"),
          coalesce(col("delta_id_checksum"), lit(0L)).as("delta_id_checksum"))
        .orderBy(ascf("cell"))
    },
    Some {
      val cellSql = (0 until 5).map(k =>
        s"(CASE WHEN v[${k + 1}] > 0 THEN ${1L << k} ELSE 0 END)")
        .mkString(" + ")
      VecOps.oracleQuantized +
        s""",
           |cl AS (SELECT vec_id, v, CAST($cellSql AS BIGINT) AS cell FROM n),
           |base AS (SELECT * FROM cl WHERE vec_id % 5 <> 3),
           |delta AS (SELECT * FROM cl WHERE vec_id % 5 = 3),
           |bd AS (SELECT cell AS cand_cell, k AS pos,
           |    CAST(sum(v[k]) AS BIGINT) AS sx, count(*) AS c
           |  FROM base, range(1, 65) t(k) GROUP BY cell, k),
           |sc AS (SELECT dl.vec_id, dl.cell AS own_cell, bd.cand_cell,
           |    sum((CAST(bd.c AS HUGEINT) * dl.v[bd.pos] - bd.sx)
           |      * (CAST(bd.c AS HUGEINT) * dl.v[bd.pos] - bd.sx)) AS num,
           |    CAST(any_value(bd.c) AS BIGINT) AS c
           |  FROM delta dl, bd GROUP BY 1, 2, 3),
           |asg AS (SELECT vec_id, own_cell, cand_cell,
           |    row_number() OVER (PARTITION BY vec_id ORDER BY
           |      CAST(num AS DOUBLE) / (CAST(c AS DOUBLE) * CAST(c AS DOUBLE))
           |        ASC NULLS FIRST,
           |      cand_cell ASC NULLS FIRST) AS rk
           |  FROM sc),
           |bc AS (SELECT cell, count(*) AS n_base FROM base GROUP BY cell),
           |dc AS (SELECT cand_cell AS cell, count(*) AS n_delta,
           |    CAST(sum(CASE WHEN own_cell <> cand_cell THEN 1 ELSE 0 END)
           |      AS BIGINT) AS n_moved,
           |    CAST(sum(vec_id) AS BIGINT) AS delta_id_checksum
           |  FROM asg WHERE rk = 1 GROUP BY 1)
           |SELECT bc.cell, CAST(bc.n_base AS BIGINT) AS n_base,
           |  CAST(coalesce(dc.n_delta, 0) AS BIGINT) AS n_delta,
           |  coalesce(dc.n_moved, 0) AS n_moved,
           |  coalesce(dc.delta_id_checksum, 0) AS delta_id_checksum
           |FROM bc LEFT JOIN dc ON bc.cell = dc.cell
           |ORDER BY bc.cell ASC NULLS FIRST""".stripMargin
    })

  /** Content-defined chunking dedup census (round 11): Rabin-style
    * boundary chunking — cut after char i whenever the rolling
    * polynomial hash of the trailing 8-char window satisfies
    * (h mod 1000003) mod 32 = 0 — then a cross-doc duplicate census of
    * the chunks per language. This is the SUB-document dedup grain the
    * exact/minhash/simhash family lacks: a boilerplate paragraph
    * embedded in otherwise-unique pages never pairs at doc grain, but
    * its chunks collide exactly, and because boundaries depend only on
    * LOCAL content, an insertion upstream shifts every byte offset yet
    * leaves all downstream chunk identities intact (the property that
    * makes CDC the backbone of dedup storage and crawl pipelines;
    * fixed-width blocks lose all alignment after one insertion).
    *
    * The hash is the engine-shared integer construction (the
    * q_text_fingerprint discipline): Σ ascii(cⱼ)·(131ʲ mod 1000003)
    * summed over the window then mod 1000003 — every intermediate fits
    * int64 on both engines, no library hash. Chunk identity here is
    * the chunk STRING (the DuckDB oracle must compute the identical
    * clustering and the engines share no hash function — rule D12,
    * stated as in q_mix_dedup_weight); at 100 TB the group key becomes
    * a 128-bit content fingerprint, same plan, ~20× less shuffle
    * payload.
    *
    * Scale: chunking is per-row higher-order-function work — NO
    * shuffle; the census is ONE exchange on the (lang, chunk) dedup
    * grain, then a lang rollup. ~O(len·8) hash ops per doc.
    *
    * Determinism (D1/D2): exact integer hash, exact counts; the two
    * e6 ratios floor-divide; a lang whose every chunk is unique pins
    * dup_mass_e6 = 0 arithmetically.
    */
  private val dedupCdc = {
    val w = 8
    val P = 1000003L
    val M = 32L
    // 131^j mod P for j = 0..7 — literal table, no runtime pow
    val pows = Seq(1L, 131L, 17161L, 248085L, 499039L, 373914L,
      982590L, 718906L)
    val powsDuck = pows.mkString("[", ", ", "]")
    QueryDef(
      "q_dedup_cdc",
      (s, d) => {
        val chunksExpr =
          s"""CASE WHEN length(text) >= $w THEN
             |  transform(
             |    sequence(1, size(cf) - 1),
             |    k -> substring(text, element_at(cf, k) + 1,
             |      element_at(cf, k + 1) - element_at(cf, k)))
             |ELSE array(text) END""".stripMargin
        // the window hash is UNROLLED over a pre-split codepoint array:
        // the first version nested aggregate() + per-position
        // substring() inside the transform lambda and priced at 15.5 s
        // for 5 k docs (interpreted inner lambdas + per-call UTF8
        // scans); one split + eight element_at multiply-adds per
        // position is the same integer spec at a fraction of the
        // interpreter work (measured 4.2 s isolated at sf0.1)
        val hash = (0 until w).map(j =>
          s"element_at(ac, i - ${w - 1 - j}) * ${pows(j)}")
          .mkString(" + ")
        val cutsExpr =
          s"""CASE WHEN size(ac) >= $w THEN
             |  filter(
             |    transform(sequence($w, size(ac)), i ->
             |      CASE WHEN (($hash) % $P) % $M = 0
             |        THEN i ELSE -1 END),
             |    x -> x != -1)
             |ELSE array() END""".stripMargin
        val cfExpr =
          s"""concat(array(0), cuts,
             |  CASE WHEN size(cuts) > 0
             |      AND element_at(cuts, -1) = length(text)
             |    THEN array()
             |    ELSE array(length(text)) END)""".stripMargin
        val chunks = Tables.documents(s, d)
          .select(col("lang"), col("text"))
          .withColumn("ac",
            expr("transform(split(text, ''), c -> bigint(ascii(c)))"))
          .withColumn("cuts", expr(cutsExpr))
          .withColumn("cf", expr(cfExpr))
          .select(col("lang"), explode(expr(chunksExpr)).as("chunk"))
          .filter(length(col("chunk")) > 0)
        chunks.groupBy(col("lang"), col("chunk"))
          .agg(count(lit(1)).as("c"))
          .groupBy(col("lang"))
          .agg(sum(col("c")).as("n_chunks"),
            count(lit(1)).as("n_distinct"),
            sum(col("c") - 1).as("dup_chunks"),
            max(col("c")).as("max_copies"),
            sum(length(col("chunk")).cast("long") * col("c"))
              .as("sum_len"))
          .select(col("lang"), col("n_chunks"), col("n_distinct"),
            col("dup_chunks"), col("max_copies"),
            expr("""cast((cast(dup_chunks as decimal(38,0)) * 1000000)
                   |  div n_chunks as bigint)""".stripMargin)
              .as("dup_mass_e6"),
            expr("""cast((cast(sum_len as decimal(38,0)) * 1000000)
                   |  div n_chunks as bigint)""".stripMargin)
              .as("avg_len_e6"))
          .orderBy(ascf("lang"))
      },
      Some(s"""WITH ch AS (SELECT lang,
              |    CASE WHEN length(text) >= $w THEN
              |      list_transform(range(1, len(cf)), k ->
              |        substring(text, cf[k] + 1, cf[k + 1] - cf[k]))
              |    ELSE [text] END AS chunks
              |  FROM (
              |    SELECT lang, text,
              |      list_concat(list_concat([0], cuts),
              |        CASE WHEN len(cuts) > 0
              |            AND cuts[-1] = length(text)
              |          THEN [] ELSE [length(text)] END) AS cf
              |    FROM (
              |      SELECT lang, text,
              |        CASE WHEN length(text) >= $w THEN
              |          list_filter(
              |            list_transform(range($w, length(text) + 1), i ->
              |              CASE WHEN (list_sum(
              |                  list_transform(range(0, $w), j ->
              |                    ascii(substring(text,
              |                      i - ${w - 1} + j, 1))
              |                      * ($powsDuck)[j + 1]))
              |                % $P) % $M = 0 THEN i ELSE -1 END),
              |            x -> x <> -1)
              |        ELSE [] END AS cuts
              |      FROM documents))),
              |e AS (SELECT lang, unnest(chunks) AS chunk FROM ch),
              |g AS (SELECT lang, chunk, count(*) AS c FROM e
              |  WHERE length(chunk) > 0 GROUP BY 1, 2),
              |r AS (SELECT lang,
              |    CAST(sum(c) AS BIGINT) AS n_chunks,
              |    CAST(count(*) AS BIGINT) AS n_distinct,
              |    CAST(sum(c - 1) AS BIGINT) AS dup_chunks,
              |    CAST(max(c) AS BIGINT) AS max_copies,
              |    CAST(sum(length(chunk) * c) AS BIGINT) AS sum_len
              |  FROM g GROUP BY 1)
              |SELECT lang, n_chunks, n_distinct, dup_chunks, max_copies,
              |  CAST((CAST(dup_chunks AS HUGEINT) * 1000000)
              |    // n_chunks AS BIGINT) AS dup_mass_e6,
              |  CAST((CAST(sum_len AS HUGEINT) * 1000000)
              |    // n_chunks AS BIGINT) AS avg_len_e6
              |FROM r ORDER BY lang ASC NULLS FIRST""".stripMargin))
  }

  def defs: Seq[QueryDef] = Seq(
    dedupSimhash, dedupNgram, dedupEmbed, simAnnLsh, simCentroid, simAnnIvf,
    simAnnSq, simAnnServe, pipelineE2e, dedupComponents, containment,
    dedupSimhashExact, dedupMinhashExact, dedupSubstr, dedupClusterRep,
    simAnnPq, textDedupEval, simAnnIncremental, dedupCdc)
}
