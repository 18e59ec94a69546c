package enginebench

import org.apache.spark.sql.SparkSession

import java.nio.file.{Files, Paths}

/** Harness entry point: `Main <plan.json>`. Builds the session the way
  * the engine's own mains do, runs one workload, writes the result file
  * named in the plan and, for a traced run, the span file. In record
  * mode the result also carries the fingerprints of the outputs kept for
  * `dev/parity.py` (see [[Parity]]).
  */
object Main {
  def session(plan: Plan): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[${plan.cpus}]")
      .config("spark.sql.shuffle.partitions", plan.cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${plan.workDir}/spark-local")
      .config("spark.sql.warehouse.dir", s"${plan.workDir}/warehouse")
    // the standalone HttpEndpoint main schedules clients FAIR
    if (plan.workload == "serve") b.config("spark.scheduler.mode", "FAIR")
    if (plan.trace) Probe.settings.foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def main(args: Array[String]): Unit = {
    val plan = Plan.load(args(0))
    val loadStart = Sys.loadavg()
    val tracer = new Tracer(plan.trace)
    val spark = session(plan)
    val sessionMs = Sys.sinceJvmStartMs
    val probe = if (plan.trace) Some(Probe.installed) else None
    val calls = new Serve.Calls
    val outcome =
      if (plan.workload == "serve") Serve.run(spark, plan, tracer, calls)
      else Batch.run(spark, plan, tracer)
    val groups = probe.map { p => Probe.flush(spark, p); p.groups }.getOrElse(Map.empty)
    val kept = if (plan.mode != "record") Map.empty[String, (Long, String)]
      else Parity.fingerprints(spark, plan)
    val report = new Report(plan, outcome, groups, calls, tracer)
    val json = report.json(loadStart, Sys.loadavg(), sessionMs,
      probe.map(_.unpairedExecutions).getOrElse(0), kept)
    Files.writeString(Paths.get(plan.resultFile), json)
    tracer.write(plan.traceFile)
    spark.stop()
  }
}
