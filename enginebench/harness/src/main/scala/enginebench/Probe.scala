package enginebench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable

/** Counters of one job group. */
final class GroupAgg {
  var jobs = 0
  var stagesListed = 0
  var stagesRun = 0
  var tasks = 0
  var tasksFailed = 0
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleReadB = 0L
  var shuffleWriteB = 0L
  var spillB = 0L
  var peakExecMemB = 0L
  var inputB = 0L
  var inputRows = 0L
  val taskWaitMs = mutable.ArrayBuffer.empty[Double]
  val jobSpans = mutable.ArrayBuffer.empty[(Int, Long, Long)] // id, start, end
  val phasesMs = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  val execFuncs = mutable.ArrayBuffer.empty[(String, Double)] // funcName, ms
}

/** Per-job-group counters collected from Spark's public listener APIs.
  *
  * Every event is attributed through the job group it ran under (the
  * `spark.jobGroup.id` local property the harness or `JobServer` set on
  * the submitting thread): jobs directly, stages through the first job
  * that lists them, tasks through their stage, SQL executions through
  * the execution id their jobs carry or `SparkListenerSQLExecutionStart.
  * jobGroupId`. Nothing is attributed
  * by time window, so counts do not depend on what ran concurrently.
  */
final class Probe extends SparkListener with QueryExecutionListener {
  Probe.active = this

  private val byGroup = mutable.Map.empty[String, GroupAgg]
  private val stageGroup = mutable.Map.empty[Int, String]
  private val stageSubmitMs = mutable.Map.empty[Int, Long]
  private val jobGroup = mutable.Map.empty[Int, String]
  private val jobStartMs = mutable.Map.empty[Int, Long]
  private val execGroup = mutable.Map.empty[Long, String]
  // QueryExecutionListener events may be delivered before the matching
  // SQLExecutionStart reaches this listener; resolved in `groups`
  private val execEvents =
    mutable.ArrayBuffer.empty[(Long, String, Map[String, Double], Double)]
  private val endedGroups = mutable.Set.empty[String]
  private val execStartMs = mutable.Map.empty[Long, Long]
  private var ending: Option[(Long, Long)] = None
  private var unpaired = 0

  private def agg(g: String): GroupAgg = byGroup.getOrElseUpdate(g, new GroupAgg)
  private val NoGroup = "(none)"

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse(NoGroup)
    jobGroup(e.jobId) = g
    jobStartMs(e.jobId) = e.time
    Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .foreach(id => execGroup.getOrElseUpdate(id.toLong, g))
    val a = agg(g)
    a.jobs += 1
    a.stagesListed += e.stageInfos.size
    e.stageInfos.foreach(si => stageGroup.getOrElseUpdate(si.stageId, g))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    val g = jobGroup.getOrElse(e.jobId, NoGroup)
    val a = agg(g)
    a.jobSpans += ((e.jobId, jobStartMs.getOrElse(e.jobId, e.time), e.time))
    endedGroups += g
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val id = e.stageInfo.stageId
    e.stageInfo.submissionTime.foreach(t => stageSubmitMs(id) = t)
    agg(stageGroup.getOrElse(id, NoGroup)).stagesRun += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val a = agg(stageGroup.getOrElse(e.stageId, NoGroup))
    a.tasks += 1
    if (e.taskInfo.failed || e.taskInfo.killed) a.tasksFailed += 1
    stageSubmitMs.get(e.stageId).foreach(s =>
      a.taskWaitMs += math.max(0L, e.taskInfo.launchTime - s).toDouble)
    val m = e.taskMetrics
    if (m != null) {
      a.runMs += m.executorRunTime
      a.cpuNs += m.executorCpuTime
      a.gcMs += m.jvmGCTime
      a.shuffleReadB += m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead
      a.shuffleWriteB += m.shuffleWriteMetrics.bytesWritten
      a.spillB += m.memoryBytesSpilled + m.diskBytesSpilled
      a.peakExecMemB = math.max(a.peakExecMemB, m.peakExecutionMemory)
      a.inputB += m.inputMetrics.bytesRead
      a.inputRows += m.inputMetrics.recordsRead
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized {
      s.jobGroupId.foreach(g => execGroup(s.executionId) = g)
      execStartMs(s.executionId) = s.time
    }
    case end: SparkListenerSQLExecutionEnd => synchronized {
      ending = Some(end.executionId -> (end.time - execStartMs.getOrElse(end.executionId, end.time)))
    }
    case _ =>
  }

  /** A QueryExecutionListener callback arrives while the listener bus
    * dispatches the SQLExecutionEnd it reports, right after this
    * listener saw that same event (both sit on the shared queue, this
    * one registered first), so it belongs to the execution in `ending`.
    * The pairing is checked: the callback's duration must match the
    * start-to-end time of that execution (within 5 ms or 2%); callbacks
    * that fail the check are counted, not attributed.
    */
  private def record(funcName: String, qe: QueryExecution, ms: Double): Unit = {
    val phases = qe.tracker.phases.map { case (k, v) => k -> v.durationMs.toDouble }
    synchronized {
      ending match {
        case Some((id, spanMs)) if math.abs(spanMs - ms) <= math.max(5.0, 0.02 * ms) =>
          execEvents += ((id, funcName, phases, ms))
        case _ => unpaired += 1
      }
      ending = None
    }
  }

  /** QueryExecutionListener callbacks that could not be paired. */
  def unpairedExecutions: Int = synchronized(unpaired)

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(funcName, qe, durationNs / 1e6)

  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
    synchronized { ending = None; unpaired += 1 }

  /** Counters per job group, with SQL executions folded in. Call after
    * [[Probe.flush]] so every event of the measured work has arrived.
    */
  def groups: Map[String, GroupAgg] = synchronized {
    val (resolved, pending) = execEvents.partition(e => execGroup.contains(e._1))
    resolved.foreach { case (id, func, phases, ms) =>
      val a = agg(execGroup(id))
      phases.foreach { case (k, v) => a.phasesMs(k) += v }
      a.execFuncs += ((func, ms))
    }
    execEvents.clear()
    execEvents ++= pending
    byGroup.toMap
  }

  private def sawMarker(g: String): Boolean = synchronized {
    endedGroups(g) && {
      val ids = execGroup.collect { case (id, `g`) => id }.toSet
      execEvents.exists(e => ids(e._1))
    }
  }
}

object Probe {
  @volatile private var active: Probe = _

  /** Session settings that attach the probe. Spark builds the listener
    * itself (`spark.extraListeners`), so it is on the shared listener
    * queue before any session's execution-listener bus. Every session,
    * the root one and each child session `JobServer.submitSql` makes
    * with `newSession()`, loads [[ProbeExecutions]] through the static
    * `spark.sql.queryExecutionListeners`, so executions of all of them
    * reach the one probe.
    */
  val settings: Seq[(String, String)] = Seq(
    "spark.extraListeners" -> classOf[Probe].getName,
    "spark.sql.queryExecutionListeners" -> classOf[ProbeExecutions].getName)

  /** The probe Spark built from [[settings]]. */
  def installed: Probe =
    Option(active).getOrElse(throw new IllegalStateException("probe settings not applied"))

  private var markers = 0

  /** Wait until the listener buses have delivered everything posted so
    * far: run one marker query under its own job group and wait for its
    * job end and its execution event, which both queue behind every
    * earlier event.
    */
  def flush(spark: SparkSession, p: Probe): Unit = {
    markers += 1
    val g = s"eb|marker|$markers"
    val sc = spark.sparkContext
    sc.setJobGroup(g, "listener flush")
    try spark.range(1).collect() finally sc.clearJobGroup()
    val deadline = System.nanoTime() + 30_000_000_000L
    while (!p.sawMarker(g) && System.nanoTime() < deadline) Thread.sleep(20)
    if (!p.sawMarker(g)) System.err.println("[enginebench] listener flush timed out")
  }
}

/** Forwards one session's execution callbacks to the run's [[Probe]]. */
final class ProbeExecutions extends QueryExecutionListener {
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    Probe.installed.onSuccess(funcName, qe, durationNs)

  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
    Probe.installed.onFailure(funcName, qe, e)
}

/** In-memory spans, written out when the run ends. Times are
  * milliseconds from the harness clock origin.
  */
final class Tracer(val enabled: Boolean) {
  val originNs: Long = System.nanoTime()
  val originEpochMs: Long = System.currentTimeMillis()
  private val nextId = new java.util.concurrent.atomic.AtomicLong(1)
  private val spans = new java.util.concurrent.ConcurrentLinkedQueue[String]()

  def nowMs: Double = (System.nanoTime() - originNs) / 1e6
  def epochToMs(epochMs: Long): Double = (epochMs - originEpochMs).toDouble

  def newId(): Long = if (enabled) nextId.getAndIncrement() else 0L

  def add(id: Long, name: String, parent: Long, qid: String,
      startMs: Double, endMs: Double): Unit =
    if (enabled) spans.add(J.obj(Seq(
      "id" -> id.toString, "parent" -> parent.toString, "name" -> J.str(name),
      "qid" -> J.str(qid), "start_ms" -> J.num(startMs), "end_ms" -> J.num(endMs))))

  /** Time `body` as a span; returns its result. */
  def span[T](name: String, parent: Long, qid: String)(body: Long => T): T = {
    val id = newId()
    val t0 = nowMs
    try body(id) finally add(id, name, parent, qid, t0, nowMs)
  }

  def write(path: String): Unit = if (enabled) {
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.write(java.nio.file.Paths.get(path), spans.asScala.toSeq.asJava)
  }
}
