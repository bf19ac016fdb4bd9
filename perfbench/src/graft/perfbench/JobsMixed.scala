package graft.perfbench

import java.net.{HttpURLConnection, URI}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Path

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.SparkEntry
import graft.driver.{JobControl, JobHttpApi}

/** `jobs-mixed`: two closed-loop clients submit a seeded sequence of short
  * registered apps to the job HTTP API and poll each job until it ends. The
  * clients start each round together, so the two jobs of a round contend.
  * A run is whole cycles in which every client runs every app once against
  * a fixed partner app, so the app mix and the contending pairs, and with
  * them the latency distribution, are the same on every seed. */
final class JobsMixed extends Workload {
  import JobsMixed._

  val name = "jobs-mixed"

  private val nOrders = 15000

  private var dirs: Dirs = _
  private var seed = 0L
  private var refs: Map[String, Seq[Seq[Any]]] = Map.empty
  private var control: JobControl = _
  private var server: com.sun.net.httpserver.HttpServer = _
  private var base = ""
  /** Apps whose result differed from the reference in the last warm-up. */
  private var mismatches: Seq[String] = Nil
  /** (job, API job id, submitted_ms) of every traced API job. */
  private val submittedMs = mutable.ArrayBuffer.empty[(Int, String, Long)]

  def generate(spark: SparkSession, s: Long, d: Dirs): Unit = {
    dirs = d
    seed = s
    val t = Gen.tpch(s, nOrders)
    def write(df: org.apache.spark.sql.DataFrame, table: String) =
      Workload.writeTable(df, d.data.resolve(s"$table.parquet"))
    write(spark.createDataFrame(t.region), "region")
    write(spark.createDataFrame(t.nation), "nation")
    write(spark.createDataFrame(t.customer), "customer")
    write(spark.createDataFrame(t.orders), "orders")
    write(spark.createDataFrame(t.lineitem), "lineitem")
    refs = Reference.tpchApps(t)
  }

  override def load(spark: SparkSession, tr: Tracer): Unit = {
    control = new JobControl(spark, dirs.data.toString)
    server = JobHttpApi.start(control, 0)
    base = s"http://127.0.0.1:${server.getAddress.getPort}/api/v1.0/jobs"
  }

  /** Runs every app once, collecting its result, then one app through the
    * API. The API runs jobs into a discarding sink, so this is where each
    * app's result is checked against its reference (comparing the small
    * results takes milliseconds); [[round]] checks every API job's status. */
  def warmup(spark: SparkSession, tr: Tracer): Unit = {
    mismatches = apps.flatMap { app =>
      val got = SparkEntry.queries(app)(spark, dirs.data.toString).collect().toSeq.map(_.toSeq)
      diffRows(got, refs(app)).map(d => s"$app: $d")
    }
    require(runJob(apps.head, tr).ok, s"warm-up job ${apps.head} failed")
  }

  override def roundsPerCycle: Int = apps.size

  def round(spark: SparkSession, i: Int, out: Path, tr: Tracer): Seq[JobResult] = {
    val picks = Gen.requestCycle(seed, i / apps.size, apps)(i % apps.size)
    val threads = picks.map { app =>
      val res = new java.util.concurrent.atomic.AtomicReference[Outcome]()
      val t = new Thread(() => res.set(
        try runJob(app, tr)
        catch { case e: Exception => Outcome(app, s"ERROR ${e.getMessage}", 0.0) }),
        "perfbench-client")
      t.start()
      (t, res)
    }
    threads.map { case (t, res) =>
      t.join()
      val o = res.get
      JobResult(o.seconds, if (o.ok) None else Some(s"${o.app} ended ${o.status}"))
    }
  }

  /** Submit `app`, poll until it ends. Latency runs from the POST to the
    * first poll that sees a terminal status. */
  private def runJob(app: String, tr: Tracer): Outcome = tr.span("jobs.http") {
    val t0 = System.nanoTime()
    val (code, doc) = http("POST", base, Json.obj("app" -> app).json)
    val submitMs = (System.nanoTime() - t0) / 1e6
    require(code == 201, s"POST $app → $code $doc")
    val id = field(doc, "id")
    tr.bindGroup(id, tr.currentSpan)
    var status = field(doc, "status")
    var last = doc
    var polls = 0
    while (!Terminal(status)) {
      Thread.sleep(PollMs)
      val (c, d) = http("GET", s"$base/$id", null)
      require(c == 200, s"GET $id → $c $d")
      polls += 1
      status = field(d, "status")
      last = d
    }
    val seconds = (System.nanoTime() - t0) / 1e9
    tr.record("http.submit_ms", submitMs)
    tr.record("http.polls", polls.toDouble)
    val submitted = field(last, "submitted_ms").toLong
    if (status == JobControl.Succeeded)
      tr.record("jobs.run_s", (field(last, "finished_ms").toLong - submitted) / 1000.0)
    if (tr.enabled) submittedMs.synchronized { submittedMs += ((tr.job, id, submitted)) }
    Outcome(app, status, seconds)
  }

  override def verify(spark: SparkSession, i: Int, out: Path): Seq[String] =
    if (i == 0) mismatches else Nil

  /** Queue wait runs from submission to the job's first Spark job: the
    * worker pool's queue plus planning. */
  override def layerMetrics(tr: Tracer, tracedJobs: Set[Int]): Map[String, Double] = {
    val waits = submittedMs.synchronized(submittedMs.toSeq).collect {
      case (j, id, sub) if tracedJobs(j) => tr.firstJobStartMs(id).map(s => (s - sub) / 1000.0)
    }.flatten
    val spans = tr.allSpans.filter(s => tracedJobs(s.job)).map(_.id).toSet
    Map(
      // every app loads its tables through graft.Tables and caches nothing,
      // so all input the jobs read is the Tables layer's
      "tables.input_mb" ->
        tr.stagesOf(spans).map(_.inputB).sum / Tracer.MB / math.max(tracedJobs.size, 1),
      "jobs.queue_wait_s.p50" -> Stats.median(waits),
      "jobs.run_s.p50" -> Stats.median(tr.recordedValues("jobs.run_s", tracedJobs)),
      "http.submit_ms.p50" -> Stats.median(tr.recordedValues("http.submit_ms", tracedJobs)),
      "http.polls_per_job" -> Stats.mean(tr.recordedValues("http.polls", tracedJobs)))
  }

  override def close(): Unit = {
    if (server != null) server.stop(0)
    if (control != null) control.shutdown()
    server = null
    control = null
  }
}

object JobsMixed {
  /** Short registered apps over the star schema, each with a reference. */
  val apps: Seq[String] = Seq("q1_agg", "q2_filter_agg", "q3_join_agg", "q4_topk",
    "q5_join_region", "q12_distinct_agg", "q6_semi_join", "q7_anti_join")

  private val PollMs = 5L
  private val Terminal = Set(JobControl.Succeeded, JobControl.Failed, JobControl.Cancelled)

  final case class Outcome(app: String, status: String, seconds: Double) {
    def ok: Boolean = status == JobControl.Succeeded
  }

  private def http(method: String, url: String, body: String): (Int, String) = {
    val c = URI.create(url).toURL.openConnection().asInstanceOf[HttpURLConnection]
    try {
      c.setRequestMethod(method)
      if (body != null) {
        c.setDoOutput(true)
        c.setRequestProperty("Content-Type", "application/json")
        c.getOutputStream.write(body.getBytes(UTF_8))
      }
      val code = c.getResponseCode
      val in = if (code >= 400) c.getErrorStream else c.getInputStream
      (code, if (in == null) "" else new String(in.readAllBytes(), UTF_8))
    } finally c.disconnect()
  }

  /** A string or number field of a flat job document. */
  private def field(doc: String, key: String): String =
    ("\"" + key + "\":(?:\"([^\"]*)\"|(-?[0-9]+|null))").r.findFirstMatchIn(doc)
      .map(m => Option(m.group(1)).getOrElse(m.group(2)))
      .getOrElse(throw new IllegalStateException(s"no '$key' in $doc"))

  /** None when `got` and `want` hold the same multiset of rows, doubles
    * compared to a relative 1e-9; otherwise a description of the first
    * difference. */
  private def diffRows(got: Seq[Seq[Any]], want: Seq[Seq[Any]]): Option[String] = {
    // order rows by their non-double columns; rows tied there compare
    // pairwise in that order
    def key(r: Seq[Any]) = r.map {
      case _: Double => ""
      case x => String.valueOf(x)
    }.mkString("\u0001")
    def close(a: Seq[Any], b: Seq[Any]) = a.size == b.size && a.zip(b).forall {
      case (x: Double, y: Double) => math.abs(x - y) <= 1e-9 * math.max(1.0, math.abs(y))
      case (x, y) => x == y
    }
    if (got.size != want.size) Some(s"${got.size} rows, reference ${want.size}")
    else got.sortBy(key).zip(want.sortBy(key)).collectFirst {
      case (a, b) if !close(a, b) => s"row ${a.mkString("(", ", ", ")")}, " +
        s"reference ${b.mkString("(", ", ", ")")}"
    }
  }
}
