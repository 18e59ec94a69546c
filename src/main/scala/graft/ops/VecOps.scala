package graft.ops

import graft.Tables
import graft.functions.LongArrayKernel
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Shared exact-arithmetic vector helpers (rule D3, SURVEY.md §2.12):
  * embeddings quantize to 1e-6-resolution BIGINT so dot products and
  * norms are EXACT int64 sums — order-independent under parallel
  * aggregation and bit-identical across engines. Only the final cosine
  * (two exact ints through sqrt/divide) is double, and the oracle spells
  * out the identical formula.
  */
private[graft] object VecOps {

  /** Quantize a float column to exact 1e-6-resolution BIGINT. */
  def e6(c: Column): Column = round(c.cast("double") * 1000000, 0).cast("long")

  /** embeddings with v = quantized vector, nn = exact int self-dot. */
  def quantized(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d)
      .select(col("vec_id"), col("label"),
        transform(col("embedding"), x => e6(x)).as("v"))
      .withColumn("nn", dot(col("v"), col("v")))

  /** Exact int64 dot product of two quantized vectors — the native
    * codegen'd expression (ascending-index summation, bit-identical to
    * the aggregate/zip_with HOF formulation it replaced).
    */
  def dot(a: Column, b: Column): Column =
    LongArrayKernel.of(LongArrayKernel.Dot)(a, b)

  /** cosine from exact int dot/norms — identical formula in the oracle. */
  def cosine(dotc: Column, na: Column, nb: Column): Column =
    dotc.cast("double") / (sqrt(na.cast("double")) * sqrt(nb.cast("double")))

  // ---- 16-bit random-hyperplane LSH signature (shared by q_sim_ann_lsh
  // and the band-candidate pair generators q_sim_threshold_join /
  // q_dedup_embed). Hyperplane j component k is ±1 from an AVALANCHED
  // mix of (j, k) — the low bit of a parity-of-a-linear-form like
  // (j·odd + k·odd) mod 2 collapses all 16 planes onto ±plane0 (ADVICE
  // r4 medium: candidates degenerated back to ~n²/4 per label). The
  // planes are precomputed in Scala and shipped as LITERAL ±1 arrays
  // into both engines, so cross-engine identity holds by construction
  // (no arithmetic re-derivation in SQL to keep in sync); FunctionsSpec
  // pins pairwise non-collinearity, PropertiesSpec measures band recall.

  def hyperPlane(j: Int): Seq[Long] = (0 until 64).map { k =>
    var h = j.toLong * 0x9E3779B97F4A7C15L + (k.toLong + 1) * 0xC2B2AE3D27D4EB4FL
    h ^= (h >>> 33); h *= 0xFF51AFD7ED558CCDL; h ^= (h >>> 33)
    if ((h & 1L) == 0L) 1L else -1L
  }

  /** Signature bit j = sign of v·plane(j); planes are precomputed in
    * Scala and shipped as array literals, each sign bit one codegen'd
    * native dot product.
    */
  def hyperSig(v: Column): Column = (0 until 16).map(j =>
    when(dot(v, typedlit(hyperPlane(j))) > 0,
      lit(1L << j)).otherwise(lit(0L))).reduce(_ + _)

  /** The four 4-bit bands of a signature, as an array column. */
  def sigBands(sig: Column): Column =
    array((0 until 4).map(b =>
      shiftright(sig, 4 * b).bitwiseAND(lit(15L))): _*)

  /** DuckDB expression computing the identical signature from `v`: each
    * plane is injected as the SAME ±1 literal array Scala computed, so
    * the two engines cannot drift on the mixing arithmetic.
    */
  val oracleHyperSig: String = {
    def bitSql(j: Int): String = {
      val plane = hyperPlane(j).mkString("[", ", ", "]")
      s"(CASE WHEN list_sum(list_transform(range(1, 65), k -> " +
        s"v[k] * ($plane)[k])) > 0 THEN ${1 << j} ELSE 0 END)"
    }
    (0 until 16).map(bitSql).mkString(" + ")
  }

  /** DuckDB predicate: rows `a`/`b` (each with a `sig` column) share at
    * least one 4-bit band — the oracle twin of the banded self-join.
    */
  def oracleBandMatch(a: String, b: String): String =
    (0 until 4).map(bnd =>
      s"(($a.sig // ${1 << (4 * bnd)}) % 16) = (($b.sig // ${1 << (4 * bnd)}) % 16)")
      .mkString(" OR ")

  /** Same-label LSH band candidate pairs with their exact quantized
    * cosine: (label, id_a, id_b, cos), id_a < id_b, one row per pair
    * regardless of how many bands agree.
    *
    * This is the scale-safe replacement for an all-pairs-within-label
    * self-join: the candidate join is keyed on (label, band, band-value)
    * — expected bucket size n/16 per band at scale, never n — and only
    * ids travel through the pair distinct; the 64-element vectors rejoin
    * AFTER dedup (same payload discipline as the minhash pipeline).
    *
    * Computed ONCE per (session, dir) and cached (Caches.shared): both
    * q_sim_threshold_join and q_dedup_embed consume the identical
    * relation, and at 100 TB recomputing it is a full extra corpus pass.
    */
  def bandCandidatesWithCos(s: SparkSession, d: String): DataFrame =
    graft.Caches.shared(s"bandcand:${graft.Caches.sessionKey(s)}:$d") {
      bandCandidatesWithCosRaw(s, d)
    }

  private def bandCandidatesWithCosRaw(s: SparkSession, d: String): DataFrame = {
    val emb = quantized(s, d)
    val banded = graft.Caches.scoped(emb
      .select(col("label"), col("vec_id"),
        posexplode(sigBands(hyperSig(col("v")))).as(Seq("band", "bv"))))
      // scoped persist: self-joined below, avoids recomputing the 16-dot
      // signature twice; released when the consuming query finishes
    val cand = banded.alias("a")
      .join(banded.alias("b"),
        col("a.label") === col("b.label") && col("a.band") === col("b.band") &&
          col("a.bv") === col("b.bv") && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.label").as("label"), col("a.vec_id").as("id_a"),
        col("b.vec_id").as("id_b"))
      .distinct()
    val va = emb.select(col("vec_id").as("id_a"), col("v").as("va"),
      col("nn").as("na"))
    val vb = emb.select(col("vec_id").as("id_b"), col("v").as("vb"),
      col("nn").as("nb"))
    cand.join(va, "id_a").join(vb, "id_b")
      .select(col("label"), col("id_a"), col("id_b"),
        cosine(dot(col("va"), col("vb")), col("na"), col("nb")).as("cos"))
  }

  /** DuckDB CTEs mirroring `bandCandidatesWithCos`: appends `sg` (vec
    * signatures), `cand` (band-sharing same-label pairs) and `ver`
    * (pairs with exact cosine) to the `oracleQuantized` prefix.
    */
  val oracleBandCandidates: String =
    s""",
       |sg AS (SELECT vec_id, label, $oracleHyperSig AS sig FROM n),
       |cand AS (SELECT a.label AS label, a.vec_id AS ia, b.vec_id AS ib
       |  FROM sg a JOIN sg b ON a.label = b.label AND a.vec_id < b.vec_id
       |    AND (${oracleBandMatch("a", "b")})),
       |ver AS (SELECT c.label AS label, c.ia AS ia, c.ib AS ib,
       |    ${oracleCosine("x", "y")} AS cos
       |  FROM cand c JOIN n x ON c.ia = x.vec_id JOIN n y ON c.ib = y.vec_id)""".stripMargin

  /** DuckDB CTE mirroring `quantized` — prepend to vector oracles. */
  val oracleQuantized: String =
    """WITH e AS (SELECT vec_id, label,
      |  list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE)*1000000, 0) AS BIGINT)) AS v
      |  FROM embeddings),
      |n AS (SELECT vec_id, label, v,
      |  CAST(list_sum(list_transform(v, x -> x*x)) AS BIGINT) AS nn FROM e)""".stripMargin

  /** DuckDB exact int dot product of rows `a`/`b` from the `n` CTE. */
  def oracleDot(a: String, b: String): String =
    s"CAST(list_sum(list_transform(range(1, 65), k -> $a.v[k] * $b.v[k])) AS DOUBLE)"

  def oracleCosine(a: String, b: String): String =
    s"${oracleDot(a, b)} / (sqrt(CAST($a.nn AS DOUBLE)) * sqrt(CAST($b.nn AS DOUBLE)))"
}
