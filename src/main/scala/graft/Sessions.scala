package graft

import org.apache.spark.sql.SparkSession

/** The one place a graft session is configured. Every entry point —
  * Bench, Verify, ExplainDump, ScaleProbe, the JobServer and
  * HttpEndpoint mains, and the test fixture — builds its session here,
  * so they all run the same engine:
  *
  *  - `local[cpus]`, with `spark.sql.shuffle.partitions` = cpus;
  *  - UTC session time zone, pinned at construction so no query's result
  *    or timing depends on whether an events query (whose loader also
  *    sets it) ran first;
  *  - [[GraftExtensions]] loaded (rules, strategies, `graft_*` functions);
  *  - FAIR scheduling. Jobs that name no pool land in the builder's
  *    `default` pool, which schedules FIFO, so a single-caller main
  *    (Verify, Bench) runs exactly as under the FIFO scheduler; the
  *    servers put each client in its own pool, so one client's heavy job
  *    cannot starve another's trivial one;
  *  - no UI, WARN log level.
  */
object Sessions {

  /** Local parallelism: `SPARK_GRAFT_CPUS`, default 4. */
  val envCpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt).getOrElse(4)

  def local(cpus: Int = envCpus): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.scheduler.mode", "FAIR")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
