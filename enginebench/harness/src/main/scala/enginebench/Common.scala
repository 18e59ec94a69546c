package enginebench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.SparkContext
import org.apache.spark.sql.{DataFrame, SparkSession}

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** One run's instructions, written by run.py as JSON. */
final case class Plan(
    workload: String,
    mode: String, // "measure" or "record"
    dataDir: String,
    workDir: String,
    seed: Long,
    window: Int, // timed passes (batch) or request cycles (serve)
    trace: Boolean,
    cpus: Int,
    keys: Seq[String],
    reportKeys: Seq[String], // keys with key.<name>.* metrics, in every workload
    serve: Option[ServeSpec],
    expected: Map[String, (Long, String)],
    resultFile: String,
    traceFile: String)

final case class SqlItem(id: String, template: Int, text: String)

final case class ServeSpec(clients: Int, keys: Seq[String], sql: Seq[SqlItem])

object Plan {
  def load(path: String): Plan = {
    val j = new ObjectMapper().readTree(Files.readAllBytes(Paths.get(path)))
    def strs(n: JsonNode): Seq[String] = n.elements().asScala.map(_.asText).toSeq
    val serve = Option(j.get("serve")).filterNot(_.isNull).map { s =>
      ServeSpec(
        s.get("clients").asInt, strs(s.get("keys")),
        s.get("sql").elements().asScala.map(e =>
          SqlItem(e.get("id").asText, e.get("template").asInt, e.get("text").asText)).toSeq)
    }
    val expected = Option(j.get("expected")).filterNot(_.isNull).toSeq
      .flatMap(_.fields().asScala.map { e =>
        e.getKey -> (e.getValue.get(0).asLong, e.getValue.get(1).asText)
      }).toMap
    Plan(j.get("workload").asText, j.get("mode").asText, j.get("data_dir").asText,
      j.get("work_dir").asText, j.get("seed").asLong, j.get("window").asInt,
      j.get("trace").asBoolean, j.get("cpus").asInt,
      Option(j.get("keys")).map(strs).getOrElse(Nil),
      Option(j.get("report_keys")).map(strs).getOrElse(Nil), serve, expected,
      j.get("result_file").asText, j.get("trace_file").asText)
  }
}

/** Row-set fingerprint: the row count plus the wrapping sum of a 64-bit
  * hash of each row's JSON rendering, so row order does not matter.
  */
object Fingerprint {
  def rowHash(json: String): Long = {
    val d = java.security.MessageDigest.getInstance("SHA-1").digest(json.getBytes(UTF_8))
    java.nio.ByteBuffer.wrap(d, 0, 8).getLong
  }

  def of(rows: Iterator[String]): (Long, String) = {
    var n = 0L
    var h = 0L
    rows.foreach { r => n += 1; h += rowHash(r) }
    (n, java.lang.Long.toUnsignedString(h, 16))
  }
}

/** Outcome of one timed request. */
final case class Sample(
    name: String,       // registry key or SQL grid id
    qid: String,        // unique per request in the run
    startMs: Double,    // relative to the harness clock origin
    latencyS: Double,
    ok: Boolean,        // completed and output matched
    error: Option[String],
    fingerprint: Option[(Long, String)],
    parts: Map[String, Double]) // harness-timed sub-steps (ms) and counts

object Sample {
  /** A finished request. In measure mode it is ok only if its rows match
    * the expected fingerprint of its name; record mode checks nothing.
    */
  def of(name: String, qid: String, startMs: Double, latencyS: Double,
      res: Either[String, (Long, String)], plan: Plan,
      parts: Map[String, Double]): Sample = res match {
    case Left(err) => Sample(name, qid, startMs, latencyS, ok = false, Some(err), None, parts)
    case Right(fp) =>
      val expected = plan.expected.get(name)
      val ok = plan.mode != "measure" || expected.contains(fp)
      val err = if (ok) None else Some(s"output mismatch: got $fp, expected $expected")
      Sample(name, qid, startMs, latencyS, ok, err, Some(fp), parts)
  }
}

/** Record mode: each output of the workload's own path is kept as one
  * parquet file per name under `<work>/parity`, beside an
  * `oracle_sql.json` of its DuckDB statement (the key's
  * `Registry.oracleSql`, or the SQL statement itself): the layout
  * `dev/parity.py` reads. record.py accepts a recording only if parity
  * passes on these files and their fingerprints equal the ones the
  * workload path reported.
  */
object Parity {
  def dir(plan: Plan): String = s"${plan.workDir}/parity"

  def keep(df: DataFrame, plan: Plan, name: String): Unit =
    df.coalesce(1).write.mode("overwrite").parquet(s"${dir(plan)}/$name")

  /** Writes `oracle_sql.json`; returns each kept output's fingerprint,
    * read back from its parquet file.
    */
  def fingerprints(spark: SparkSession, plan: Plan): Map[String, (Long, String)] = {
    val keys = plan.keys ++ plan.serve.toSeq.flatMap(_.keys)
    val oracle = keys.map(k => k -> graft.Registry.oracleSql(k)) ++
      plan.serve.toSeq.flatMap(_.sql.map(s => s.id -> s.text))
    Files.createDirectories(Paths.get(dir(plan)))
    Files.writeString(Paths.get(dir(plan), "oracle_sql.json"),
      J.obj(oracle.map { case (k, v) => k -> J.str(v) }))
    oracle.map(_._1).filter(n => Files.exists(Paths.get(dir(plan), n))).map { name =>
      name -> Fingerprint.of(spark.read.parquet(s"${dir(plan)}/$name").toJSON.collect().iterator)
    }.toMap
  }
}

object Stats {
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** The tail percentile, fixed at p75 and interpolated. A run times 6
    * (`batch`) or 12 (`serve`) requests, too few for ten above any
    * percentile; a fixed one keeps the figure comparable from run to run.
    * The record states how many samples lie above it.
    */
  val TailPercentile = 75
}

object Sys {
  def procStatusKb(field: String): Long =
    try Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith(field + ":"))
      .map(_.split("\\s+")(1).toLong).getOrElse(-1L)
    catch { case scala.util.control.NonFatal(_) => -1L }

  def loadavg(): String =
    try new String(Files.readAllBytes(Paths.get("/proc/loadavg")), UTF_8).trim
    catch { case scala.util.control.NonFatal(_) => "unavailable" }

  /** Cached storage (MB, memory plus disk) and persisted RDD count. */
  def storage(sc: SparkContext): (Double, Int) =
    (sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1048576.0,
      sc.getPersistentRDDs.size)

  /** Milliseconds since the JVM process started. */
  def sinceJvmStartMs: Double =
    System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
}

/** Minimal JSON writer for the result and trace files. */
object J {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)

  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")

  def arr(items: Seq[String]): String = items.mkString("[", ",", "]")
}
