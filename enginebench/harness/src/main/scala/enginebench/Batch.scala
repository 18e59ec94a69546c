package enginebench

import graft.{Caches, Registry}
import org.apache.spark.sql.{DataFrame, SparkSession}

import scala.collection.mutable

/** What a workload hands to the report. */
final case class Outcome(
    samples: Seq[Sample],        // timed requests, in completion order
    warm: Seq[Sample],           // warm-up requests
    setupMs: Double,             // JVM start until the first timed request
    timedStartMs: Double,
    timedEndMs: Double,
    passes: Seq[(Int, Double, Int)]) // pass, storage MB, persisted RDDs after it

/** `batch`: one in-process caller runs registry keys in a
  * closed loop, in passes over the key set; each pass visits the keys in
  * an order drawn from the seed. A request is the registry build, the
  * physical planning of its result and the collection of every result
  * row as JSON, each phase under its own job group
  * `eb|<qid>|build|plan|exec`.
  */
object Batch {
  /** Untimed passes before the window: one, which builds the shared
    * relations and pays each key's first-use code generation. JIT
    * compilation goes on into the window; a longer warm-up would leave
    * the window too short for the run budget (see README.md).
    */
  private val WarmPasses = 1

  def order(keys: Seq[String], seed: Long, pass: Int): Seq[String] =
    new scala.util.Random(seed * 1000003L + pass).shuffle(keys)

  def runOne(spark: SparkSession, build: (SparkSession, String) => DataFrame,
      key: String, qid: String, plan: Plan, tracer: Tracer, parent: Long): Sample = {
    val sc = spark.sparkContext
    val t0 = tracer.nowMs
    var phases = Map.empty[String, Double]
    def phase[T](name: String, qspan: Long)(body: => T): T = {
      sc.setJobGroup(s"eb|$qid|$name", s"$key $name")
      val s = tracer.nowMs
      try tracer.span(name, qspan, qid)(_ => body)
      finally phases += name -> (tracer.nowMs - s)
    }
    val qspan = tracer.newId()
    val res: Either[String, (Long, String)] =
      try {
        val df = phase("build", qspan)(build(spark, plan.dataDir))
        val ds = phase("plan", qspan) { val d = df.toJSON; d.queryExecution.executedPlan; d }
        val rows = phase("exec", qspan)(ds.collect())
        if (plan.mode == "record") Parity.keep(df, plan, key)
        Right(Fingerprint.of(rows.iterator))
      } catch {
        case e: Throwable => Left(s"${e.getClass.getSimpleName}: ${e.getMessage}".take(500))
      } finally {
        sc.clearJobGroup()
        Caches.releaseScoped()
      }
    val t1 = tracer.nowMs
    tracer.add(qspan, "query", parent, qid, t0, t1)
    Sample.of(key, qid, t0, phases.values.sum / 1e3, res, plan, phases)
  }

  def run(spark: SparkSession, plan: Plan, tracer: Tracer): Outcome = {
    val registry = Registry.queries
    val unknown = plan.keys.filterNot(registry.contains)
    require(unknown.isEmpty, s"keys not in the registry: ${unknown.mkString(", ")}")
    val root = tracer.newId()
    val rootStart = tracer.nowMs

    val warm = mutable.ArrayBuffer.empty[Sample]
    val warmPasses = if (plan.mode == "record") 0 else WarmPasses
    for (p <- 0 until warmPasses) tracer.span("warmup", root, s"w$p") { ps =>
      order(plan.keys, plan.seed, -1 - p).foreach { k =>
        warm += runOne(spark, registry(k), k, s"w$p-$k", plan, tracer, ps)
      }
    }

    val samples = mutable.ArrayBuffer.empty[Sample]
    val passes = mutable.ArrayBuffer.empty[(Int, Double, Int)]
    val setupMs = Sys.sinceJvmStartMs
    val start = tracer.nowMs
    // The window is a fixed number of whole passes (run.py sizes it from
    // --seconds), so every run times the same requests at the same point
    // of the JVM's life, and every key is equally represented in it.
    // Record mode runs exactly one pass.
    val passCount = if (plan.mode == "record") 1 else plan.window
    var pass = 0
    while (pass < passCount) {
      tracer.span("pass", root, s"t$pass") { ps =>
        order(plan.keys, plan.seed, pass).foreach { k =>
          samples += runOne(spark, registry(k), k, s"t$pass-$k", plan, tracer, ps)
        }
      }
      val (mb, n) = Sys.storage(spark.sparkContext)
      passes += ((pass, mb, n))
      pass += 1
    }
    val end = tracer.nowMs
    tracer.add(root, plan.workload, 0, "", rootStart, end)
    Outcome(samples.toSeq, warm.toSeq, setupMs, start, end, passes.toSeq)
  }
}
