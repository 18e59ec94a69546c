package enginebench

import scala.collection.mutable

/** Turns one run's samples and listener counters into the result file:
  * end-to-end metrics always, per-layer metrics for a traced run, and
  * the run record (sample counts, tail percentile, failures, per-key
  * job and stage counts).
  */
final class Report(plan: Plan, o: Outcome, groups: Map[String, GroupAgg],
    calls: Serve.Calls, tracer: Tracer) {

  private val ok = o.samples.filter(_.ok)
  private val wallS = (o.timedEndMs - o.timedStartMs) / 1e3
  private val latencies = ok.map(_.latencyS)
  private val tail = Stats.quantile(latencies, Stats.TailPercentile / 100.0)

  private val serve = plan.workload == "serve"

  /** Listener counters of one request: its job groups merged. */
  final class QueryAgg {
    var jobs, buildJobs, stagesRun, stagesListed, tasks, failedTasks = 0
    var runMs, gcMs, cpuNs, shR, shW, spill, inB, inRows = 0L
    var peak = 0L
    val waits = mutable.ArrayBuffer.empty[Double]
    val phases = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    val funcs = mutable.ArrayBuffer.empty[(String, Double)]
    def add(g: GroupAgg, build: Boolean): Unit = {
      jobs += g.jobs; if (build) buildJobs += g.jobs
      stagesRun += g.stagesRun; stagesListed += g.stagesListed
      tasks += g.tasks; failedTasks += g.tasksFailed
      runMs += g.runMs; gcMs += g.gcMs; cpuNs += g.cpuNs
      shR += g.shuffleReadB; shW += g.shuffleWriteB; spill += g.spillB
      inB += g.inputB; inRows += g.inputRows
      peak = math.max(peak, g.peakExecMemB)
      waits ++= g.taskWaitMs
      g.phasesMs.foreach { case (k, v) => phases(k) += v }
      funcs ++= g.execFuncs
    }
  }

  private val InProc = "eb\\|(.+)\\|(build|plan|exec)".r
  private val Served = "graft-\\d+-job-(\\d+)".r

  /** qid → merged counters, for every request the run made. */
  private val perQid: Map[String, QueryAgg] = {
    val jobIdToQid = (o.samples ++ o.warm).flatMap(s => s.parts.get("job_id")
      .map(id => id.toLong.toString -> s.qid)).toMap
    val m = mutable.Map.empty[String, QueryAgg]
    groups.foreach {
      case (InProc(qid, phase), g) =>
        m.getOrElseUpdate(qid, new QueryAgg).add(g, phase == "build")
      case (Served(id), g) =>
        jobIdToQid.get(id).foreach(q => m.getOrElseUpdate(q, new QueryAgg).add(g, build = false))
      case _ =>
    }
    m.toMap
  }

  private val timedAggs: Seq[(Sample, QueryAgg)] =
    ok.flatMap(s => perQid.get(s.qid).map(s -> _))

  /** Per key, the counters of its last completed timed request. */
  private val lastByKey: Map[String, QueryAgg] =
    timedAggs.groupBy(_._1.name).map { case (k, xs) => k -> xs.last._2 }

  /** Mean over the key set (one value per key), so the figure does not
    * depend on how many times each key happened to run in the window.
    * Serve requests are drawn at random, so there it is the plain mean.
    */
  private def perQuery(f: QueryAgg => Double): Double = {
    val xs = if (serve) timedAggs.map(x => f(x._2)) else lastByKey.values.map(f).toSeq
    if (xs.isEmpty) 0.0 else xs.sum / xs.size
  }

  private def p50(xs: Iterable[Double]): Double =
    if (xs.isEmpty) 0.0 else Stats.median(xs.toSeq)

  private def sumOf(f: QueryAgg => Double): Double = timedAggs.map(x => f(x._2)).sum

  private val MB = 1048576.0

  def endToEnd: Seq[(String, Double, String)] = Seq(
    ("setup_s", o.setupMs / 1e3, "s"),
    ("throughput_qps", ok.size / wallS, "1/s"),
    ("latency_s.p50", Stats.median(latencies), "s"),
    ("latency_s.tail", tail, "s"),
    ("ok_ratio", ok.size.toDouble / math.max(1, o.samples.size), "ratio"))

  private def keyMetrics: Seq[(String, Double, String)] = {
    val lat = ok.groupBy(_.name).map { case (k, xs) => k -> Stats.median(xs.map(_.latencyS)) }
    plan.reportKeys.flatMap { k => Seq(
      (s"key.$k.s", lat.getOrElse(k, 0.0), "s"),
      (s"key.$k.jobs", lastByKey.get(k).map(_.jobs.toDouble).getOrElse(0.0), "count")) }
  }

  /** First-use cost: per name, the first warm-up latency minus the
    * median timed latency, summed. It prices what warm-up pays once:
    * building the `Caches.shared` relations, plus first-use JIT.
    */
  private def firstUseS: Double = {
    val timed = ok.groupBy(_.name).map { case (k, xs) => k -> Stats.median(xs.map(_.latencyS)) }
    o.warm.filter(_.ok).groupBy(_.name).toSeq.map { case (k, xs) =>
      timed.get(k).map(t => math.max(0.0, xs.head.latencyS - t)).getOrElse(0.0)
    }.sum
  }

  def perLayer: Seq[(String, Double, String)] = {
    val phase = (k: String) => timedAggs.map(_._2.phases(k))
    val planMs =
      if (serve) timedAggs.map(x => Seq("analysis", "optimization", "planning").map(x._2.phases).sum)
      else ok.map(_.parts.getOrElse("plan", 0.0))
    val totalJobs = sumOf(_.jobs)
    val totalRunS = sumOf(_.runMs) / 1e3
    val (storageMb, rdds) = o.passes.lastOption.map(p => (p._2, p._3.toDouble))
      .getOrElse {
        val (mb, n) = Sys.storage(org.apache.spark.sql.SparkSession.active.sparkContext)
        (mb, n.toDouble)
      }
    val parts = (k: String) => ok.flatMap(_.parts.get(k))
    val writeMs = timedAggs.map(_._2.funcs.filter(_._1 == "command").map(_._2).sum)
    Seq(
      ("registry.build_ms.p50", if (serve) 0.0 else p50(parts("build")), "ms"),
      ("registry.build_jobs", if (serve) 0.0 else perQuery(_.buildJobs), "count"),
      ("planner.analysis_ms.p50", p50(phase("analysis")), "ms"),
      ("planner.optimization_ms.p50", p50(phase("optimization")), "ms"),
      ("planner.planning_ms.p50", p50(phase("planning")), "ms"),
      ("planner.plan_ms.p50", p50(planMs), "ms"),
      ("scheduler.jobs_per_query", perQuery(_.jobs), "count"),
      ("scheduler.stages_per_query", perQuery(_.stagesRun), "count"),
      ("scheduler.tasks_per_query", perQuery(_.tasks), "count"),
      ("scheduler.stages_skipped_ratio",
        if (sumOf(_.stagesListed) == 0) 0.0 else 1 - sumOf(_.stagesRun) / sumOf(_.stagesListed),
        "ratio"),
      ("scheduler.ms_per_job",
        if (totalJobs == 0) 0.0 else ok.map(_.latencyS).sum * 1e3 / totalJobs, "ms"),
      ("scheduler.task_wait_ms.p50", p50(timedAggs.flatMap(_._2.waits)), "ms"),
      ("scheduler.failed_tasks", sumOf(_.failedTasks), "count"),
      ("executor.run_s", perQuery(_.runMs) / 1e3, "s"),
      ("executor.cpu_s", perQuery(_.cpuNs) / 1e9, "s"),
      ("executor.gc_s", perQuery(_.gcMs) / 1e3, "s"),
      ("executor.cores_busy", totalRunS / (wallS * plan.cpus), "ratio"),
      ("shuffle.write_mb", perQuery(_.shW) / MB, "MB"),
      ("shuffle.read_mb", perQuery(_.shR) / MB, "MB"),
      ("shuffle.spill_mb", perQuery(_.spill) / MB, "MB"),
      ("shuffle.peak_exec_mem_mb",
        (timedAggs.map(_._2.peak) :+ 0L).max / MB, "MB"),
      ("tables.input_mb", perQuery(_.inB) / MB, "MB"),
      ("tables.input_rows", perQuery(_.inRows), "rows"),
      ("caches.shared_build_s", firstUseS, "s"),
      ("caches.storage_mb_end", storageMb, "MB"),
      ("caches.persisted_rdds_end", rdds, "count"),
      ("jobserver.queue_wait_ms.p50", p50(parts("queue_wait_ms")), "ms"),
      ("jobserver.queue_wait_ms.p90",
        if (serve && ok.nonEmpty) Stats.quantile(parts("queue_wait_ms"), 0.9) else 0.0, "ms"),
      ("jobserver.run_ms.p50", p50(parts("run_ms")), "ms"),
      ("jobserver.write_ms.p50", if (serve) p50(writeMs) else 0.0, "ms"),
      ("jobserver.result_kb.p50", p50(parts("result_kb")), "kB"),
      ("http.submit_ms.p50", p50(asSeq(calls.submit)), "ms"),
      ("http.poll_ms.p50", p50(asSeq(calls.poll)), "ms"),
      ("http.rows_ms.p50", p50(asSeq(calls.rows)), "ms"),
      ("http.requests_per_job",
        if (ok.isEmpty) 0.0 else parts("requests").sum / ok.size, "count"),
      ("http.non2xx", o.samples.flatMap(_.parts.get("non2xx")).sum, "count"),
      ("memory.peak_rss_mb", Sys.procStatusKb("VmHWM") / 1024.0, "MB"),
      ("trace.throughput_qps", ok.size / wallS, "1/s"),
      ("trace.latency_s.p50", Stats.median(latencies), "s"),
    ) ++ keyMetrics
  }

  private def asSeq(q: java.util.Collection[Double]): Seq[Double] = {
    import scala.jdk.CollectionConverters._
    q.asScala.toSeq
  }

  private def fpJson(fps: Map[String, (Long, String)]): String =
    J.obj(fps.toSeq.sortBy(_._1).map { case (k, (n, h)) => k -> J.arr(Seq(n.toString, J.str(h))) })

  /** Per key: the (jobs, stages) of each completed timed request. */
  private def countsByKey: Map[String, Seq[(Int, Int)]] =
    timedAggs.groupBy(_._1.name).map { case (k, xs) =>
      k -> xs.map(x => (x._2.jobs, x._2.stagesRun)) }

  def json(loadStart: String, loadEnd: String, sessionMs: Double, unpaired: Int,
      kept: Map[String, (Long, String)]): String = {
    def metrics(ms: Seq[(String, Double, String)]) = J.obj(ms.map { case (n, v, u) =>
      n -> J.obj(Seq("value" -> J.num(v), "unit" -> J.str(u))) })
    val failed = o.samples.filterNot(_.ok)
    val warmFailed = o.warm.filterNot(_.ok)
    val errors = (failed ++ warmFailed).take(10).map(s =>
      J.obj(Seq("name" -> J.str(s.name), "qid" -> J.str(s.qid),
        "error" -> J.str(s.error.getOrElse("")))))
    val checked = plan.mode == "measure" &&
      (o.samples ++ o.warm).forall(s => s.fingerprint.isEmpty || plan.expected.contains(s.name))
    val counts = if (plan.trace) countsByKey else Map.empty[String, Seq[(Int, Int)]]
    val drifting = counts.collect { case (k, xs) if xs.distinct.size > 1 => k }.toSeq.sorted
    // job spans, linked to their request by the shared qid
    if (plan.trace) {
      val qidOfGroup: String => Option[String] = {
        case InProc(q, _) => Some(q)
        case Served(id) => (o.samples ++ o.warm).find(_.parts.get("job_id").contains(id.toDouble))
          .map(_.qid)
        case _ => None
      }
      groups.foreach { case (g, a) => qidOfGroup(g).foreach { q =>
        a.jobSpans.foreach { case (_, s, e) =>
          tracer.add(tracer.newId(), "spark.job", -1, q, tracer.epochToMs(s), tracer.epochToMs(e))
        }
      } }
    }
    val fps = (o.samples ++ o.warm).flatMap(s => s.fingerprint.map(s.name -> _)).toMap
    J.obj(Seq(
      "attempted" -> o.samples.size.toString,
      "failed" -> failed.size.toString,
      "warm_attempted" -> o.warm.size.toString,
      "warm_failed" -> warmFailed.size.toString,
      "checked" -> checked.toString,
      "end_to_end" -> metrics(endToEnd),
      "per_layer" -> (if (plan.trace) metrics(perLayer) else "{}"),
      "record" -> J.obj(Seq(
        "n" -> ok.size.toString,
        "tail_percentile" -> Stats.TailPercentile.toString,
        "tail_samples_above" -> latencies.count(_ > tail).toString,
        "timed_s" -> J.num(wallS),
        "session_s" -> J.num(sessionMs / 1e3),
        "peak_rss_mb" -> J.num(Sys.procStatusKb("VmHWM") / 1024.0),
        "passes" -> o.passes.size.toString,
        "storage_after_pass_mb" -> J.arr(o.passes.map(p => J.num(p._2))),
        "persisted_rdds_after_pass" -> J.arr(o.passes.map(_._3.toString)),
        "loadavg_start" -> J.str(loadStart),
        "loadavg_end" -> J.str(loadEnd),
        "max_heap_mb" -> J.num(Runtime.getRuntime.maxMemory / MB),
        "cpus" -> plan.cpus.toString,
        "drifting_keys" -> J.arr(drifting.map(J.str)),
        "unpaired_executions" -> unpaired.toString,
        // every serve job writes its result through a command execution
        "requests_without_executions" -> timedAggs.count { case (_, a) =>
          if (serve) !a.funcs.exists(_._1 == "command") else a.funcs.isEmpty }.toString,
        "latency_by_name" -> J.obj(o.samples.filter(_.fingerprint.isDefined).groupBy(_.name)
          .toSeq.sortBy(_._1).map { case (k, xs) =>
            k -> J.arr(Seq(xs.size.toString, J.num(Stats.median(xs.map(_.latencyS))))) }),
        "key_counts" -> J.obj(counts.toSeq.sortBy(_._1).map { case (k, xs) =>
          k -> J.arr(xs.map { case (j, s) => J.arr(Seq(j.toString, s.toString)) }) }))),
      // every request in start order: name, start (s after the window
      // opened; warm-up is negative), latency (s), ok
      "samples" -> J.arr((o.warm ++ o.samples).sortBy(_.startMs).map(s => J.arr(Seq(
        J.str(s.name), J.num((s.startMs - o.timedStartMs) / 1e3), J.num(s.latencyS),
        s.ok.toString)))),
      "errors" -> J.arr(errors),
      "fingerprints" -> fpJson(fps),
      "parity_fingerprints" -> fpJson(kept),
    ))
  }
}
