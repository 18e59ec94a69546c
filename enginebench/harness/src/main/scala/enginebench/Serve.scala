package enginebench

import graft.server.HttpEndpoint
import org.apache.spark.sql.SparkSession

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.util.concurrent.ConcurrentLinkedQueue
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** `serve`: closed-loop clients, each on its own loopback HTTP
  * connection to an in-process [[HttpEndpoint]]. A request submits a
  * registry key (`/v1/keys`) or a grid SQL statement (`/v1/sql`), polls
  * the job until it is terminal, then fetches every result row with one
  * `/rows` page. The seed drives the sequence of requests (see
  * [[Sequence]]); the clients take from it in turn.
  */
object Serve {
  /** Pause between status polls of one request. */
  private val PollMs = 10L

  private val IdRe = "\"id\":(\\d+)".r.unanchored
  private val StateRe = "\"state\":\"([A-Z]+)\"".r.unanchored
  private val PathRe = "\"path\":\"([^\"]*)\"".r.unanchored

  /** Per-HTTP-call latencies shared by all clients (ms). */
  final class Calls {
    val submit = new ConcurrentLinkedQueue[Double]()
    val poll = new ConcurrentLinkedQueue[Double]()
    val rows = new ConcurrentLinkedQueue[Double]()
  }

  final class Client(spark: SparkSession, port: Int, clientName: String, plan: Plan,
      tracer: Tracer) {
    private val http = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()
    private val base = s"http://127.0.0.1:$port"

    private def call(calls: ConcurrentLinkedQueue[Double], parent: Long, qid: String,
        span: String, req: HttpRequest, counts: mutable.Map[String, Double])
        : HttpResponse[String] = {
      val t0 = tracer.nowMs
      val r = http.send(req, HttpResponse.BodyHandlers.ofString())
      val t1 = tracer.nowMs
      if (calls != null) calls.add(t1 - t0)
      tracer.add(tracer.newId(), span, parent, qid, t0, t1)
      counts("requests") += 1
      if (r.statusCode / 100 != 2) counts("non2xx") += 1
      r
    }

    /** One request, from submit until every result row is in hand. */
    def request(item: Either[String, SqlItem], qid: String, parent: Long,
        calls: Calls): Sample = {
      val name = item.fold(identity, _.id)
      val counts = mutable.Map.empty[String, Double].withDefaultValue(0.0)
      val qspan = tracer.newId()
      val t0 = tracer.nowMs
      val res: Either[String, (Long, String)] = try {
        val (route, body) = item.fold(k => ("keys", k), s => ("sql", s.text))
        val sub = call(calls.submit, qspan, qid, "submit",
          HttpRequest.newBuilder(URI.create(s"$base/v1/$route?client=$clientName"))
            .POST(HttpRequest.BodyPublishers.ofString(body)).build(), counts)
        val id = sub.body match {
          case IdRe(n) if sub.statusCode == 200 => n.toLong
          case b => throw new IllegalStateException(s"submit ${sub.statusCode}: $b")
        }
        counts("job_id") = id.toDouble
        val submitted = tracer.nowMs
        var state = "QUEUED"
        var status = ""
        var running = Double.NaN
        while (state == "QUEUED" || state == "RUNNING") {
          val st = call(calls.poll, qspan, qid, "poll",
            HttpRequest.newBuilder(URI.create(s"$base/v1/jobs/$id")).GET().build(), counts)
          status = st.body
          state = status match { case StateRe(s) => s; case _ => "UNKNOWN" }
          if (state != "QUEUED" && running.isNaN) running = tracer.nowMs
          if (state == "QUEUED" || state == "RUNNING") Thread.sleep(PollMs)
        }
        val done = tracer.nowMs
        counts("queue_wait_ms") = running - submitted
        counts("run_ms") = done - running
        if (state != "DONE") throw new IllegalStateException(s"job $id: $status".take(500))
        val path = status match {
          case PathRe(p) => p
          case _ => throw new IllegalStateException(s"job $id: no result path in $status")
        }
        counts("result_kb") = dirBytes(path) / 1024.0
        val rows = call(calls.rows, qspan, qid, "rows",
          HttpRequest.newBuilder(URI.create(s"$base/v1/jobs/$id/rows?limit=100000"))
            .GET().build(), counts)
        if (rows.statusCode != 200) throw new IllegalStateException(
          s"rows ${rows.statusCode}: ${rows.body.take(300)}")
        if (plan.mode == "record") Parity.keep(spark.read.parquet(path), plan, name)
        Right(Fingerprint.of(rows.body.linesIterator.filter(_.nonEmpty)))
      } catch {
        case e: Throwable => Left(s"${e.getClass.getSimpleName}: ${e.getMessage}".take(500))
      }
      val t1 = tracer.nowMs
      tracer.add(qspan, "request", parent, qid, t0, t1)
      Sample.of(name, qid, t0, (t1 - t0) / 1e3, res, plan, counts.toMap)
    }
  }

  private def dirBytes(path: String): Double = {
    val f = new java.io.File(path.stripPrefix("file:"))
    Option(f.listFiles()).map(_.filter(_.isFile).map(_.length).sum.toDouble)
      .getOrElse(f.length.toDouble)
  }

  /** The request sequence all clients draw from, in cycles: each cycle
    * is every key once plus every SQL template once with a literal drawn
    * from its grid, in an order drawn from the seed. Cycles keep the mix
    * of a measured window the same from seed to seed.
    */
  final class Sequence(spec: ServeSpec, seed: Long) {
    private val next = new java.util.concurrent.atomic.AtomicLong(0)
    private val templates = spec.sql.groupBy(_.template).toSeq.sortBy(_._1).map(_._2)
    val cycleLen: Int = spec.keys.size + templates.size
    private val cycles = new java.util.concurrent.ConcurrentHashMap[Long, IndexedSeq[Either[String, SqlItem]]]()

    private def cycle(i: Long) = cycles.computeIfAbsent(i, _ => {
      val rnd = new scala.util.Random(seed * 1000003L + i)
      val sql = templates.map(t => Right(t(rnd.nextInt(t.size))))
      rnd.shuffle(spec.keys.map(Left(_)) ++ sql).toIndexedSeq
    })

    def take(): Either[String, SqlItem] = {
      val n = next.getAndIncrement()
      cycle(n / cycleLen)((n % cycleLen).toInt)
    }
  }

  def run(spark: SparkSession, plan: Plan, tracer: Tracer, calls: Calls): Outcome = {
    val spec = plan.serve.getOrElse(throw new IllegalArgumentException("serve spec missing"))
    val results = s"${plan.workDir}/results"
    val ep = new HttpEndpoint(spark, results, plan.dataDir, parallelism = spec.clients).start()
    val root = tracer.newId()
    val rootStart = tracer.nowMs
    try {
      val clients = (0 until spec.clients).map(c =>
        new Client(spark, ep.boundPort, s"c$c", plan, tracer))
      val all: Seq[Either[String, SqlItem]] = spec.keys.map(Left(_)) ++ spec.sql.map(Right(_))

      if (plan.mode == "record") {
        val s = all.zipWithIndex.map { case (it, i) =>
          clients.head.request(it, s"r$i", root, new Calls)
        }
        val end = tracer.nowMs
        tracer.add(root, plan.workload, 0, "", rootStart, end)
        return Outcome(s, Nil, Sys.sinceJvmStartMs, rootStart, end, Nil)
      }

      // warm-up: every request the window can send (each key, each SQL
      // statement of the grid) once, spread over the clients
      val warmCalls = new Calls
      val warm = parallel(spec.clients) { c =>
        all.indices.filter(_ % spec.clients == c).map(i =>
          clients(c).request(all(i), s"w$c-$i", root, warmCalls))
      }.flatten

      val setupMs = Sys.sinceJvmStartMs
      val start = tracer.nowMs
      // the window is a fixed number of whole cycles (run.py sizes it
      // from --seconds), so every run sends the same mix at the same
      // point of the JVM's life
      val seq = new Sequence(spec, plan.seed)
      val left = new java.util.concurrent.atomic.AtomicInteger(plan.window * seq.cycleLen)
      val timed = parallel(spec.clients) { c =>
        val out = mutable.ArrayBuffer.empty[Sample]
        tracer.span("client", root, s"c$c") { cs =>
          while (left.getAndDecrement() > 0)
            out += clients(c).request(seq.take(), s"t$c-${out.size}", cs, calls)
        }
        out.toSeq
      }.flatten.sortBy(s => s.startMs + s.latencyS * 1e3)
      val end = tracer.nowMs
      tracer.add(root, plan.workload, 0, "", rootStart, end)
      Outcome(timed, warm, setupMs, start, end, Nil)
    } finally ep.stop()
  }

  /** Run `body(c)` for each client on its own thread; wait for all. */
  private def parallel[T](n: Int)(body: Int => T): Seq[T] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(n)
    try {
      val fs = (0 until n).map(c => pool.submit(new java.util.concurrent.Callable[T] {
        def call(): T = body(c)
      }))
      fs.map(_.get())
    } finally pool.shutdownNow()
  }
}
