package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    // published BEFORE the registry initializes: per-corpus oracle paths
    // (q_lake_export/import/delta_log read engine output at a path that
    // is a pure function of sfDir) render for THIS corpus, so parity
    // holds at any scale factor, not just the driver's grading sf
    sys.props("graft.sf.dir") = sfDir
    val spark = Sessions.local()
    new java.io.File(outDir).mkdirs()
    val (_, selected) = Registry.selected("verify")
    selected.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // free each query's scoped intermediates (shared relations stay:
      // reuse across queries is semantically transparent)
      Caches.releaseScoped()
    }
    // oracle_sql.json goes to a strict JSON parser: one raw tab or CR in
    // an oracle's SQL would fail the whole load, and every parity check
    def q(s: String): String = "\"" + Json.esc(s) + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
