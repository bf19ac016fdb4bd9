package graft

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.util.Properties

import com.fasterxml.jackson.databind.ObjectMapper
import graft.driver.{JobControl, JobHttpApi}
import org.apache.spark.{Success, TaskEndReason, TaskKilled, TaskResultLost}
import org.apache.spark.scheduler.{JobSucceeded, SparkListenerJobEnd,
  SparkListenerJobStart, SparkListenerStageCompleted,
  SparkListenerStageSubmitted, SparkListenerTaskEnd, StageInfo, TaskInfo,
  TaskLocality}
import org.apache.spark.sql.graft.SparkJobs

/** The submit/track/cancel facade and its REST skin — route parity with
  * remap's initiator API (reference http_interface.py). */
class JobControlSpec extends GraftSuite {

  private def await(c: JobControl, id: String, until: Set[String],
                    timeoutMs: Long = 60000): String = {
    val t0 = System.currentTimeMillis()
    while (!until.contains(c.get(id).get.status)) {
      assert(System.currentTimeMillis() - t0 < timeoutMs,
        s"job $id stuck in ${c.get(id).get.status}")
      Thread.sleep(50)
    }
    c.get(id).get.status
  }

  test("submit runs a registered query to completion; status transitions stick") {
    val c = new JobControl(spark, sf)
    try {
      val j = c.submit("q1_agg")
      assert(j.status == JobControl.Queued)
      assert(await(c, j.id, Set(JobControl.Succeeded, JobControl.Failed))
        == JobControl.Succeeded)
      val done = c.get(j.id).get
      assert(done.finishedMs.nonEmpty && done.error.isEmpty)
      // cancel after the fact: job exists (true), terminal status sticks
      assert(c.cancel(j.id))
      assert(c.get(j.id).get.status == JobControl.Succeeded)
    } finally c.shutdown()
  }

  test("history cap evicts oldest terminal jobs AND their progress, jointly") {
    val c = new JobControl(spark, sf, maxJobHistory = 2)
    try {
      val j1 = c.submit("q1_agg")
      await(c, j1.id, Set(JobControl.Succeeded, JobControl.Failed))
      assert(c.progressOf(j1.id).sparkJobs > 0,
        "j1 should have tracked progress before eviction")
      val j2 = c.submit("q1_agg")
      await(c, j2.id, Set(JobControl.Succeeded, JobControl.Failed))
      val j3 = c.submit("q1_agg") // pushes history past the cap → evicts j1
      assert(c.get(j1.id).isEmpty, "oldest terminal job should be evicted")
      assert(c.progressOf(j1.id) == JobControl.Progress(0, 0, 0, 0, 0, 0),
        "evicted job's progress entry must go in the same sweep")
      assert(c.get(j2.id).nonEmpty && c.get(j3.id).nonEmpty)
      await(c, j3.id, Set(JobControl.Succeeded, JobControl.Failed))
    } finally c.shutdown()
  }

  test("an observed CANCELLED status never resurrects to RUNNING/SUCCEEDED") {
    // cancel-while-queued race: a cancel landing before the worker thread
    // claims the job finds no job group to kill; the worker must then NOT
    // claim Queued→Running and run the dead job to SUCCEEDED. Submitting
    // and cancelling immediately hits the pre-claim window often enough
    // to make this a meaningful canary in every interleaving the box
    // produces — in ALL of them, a status read as CANCELLED must stick.
    val c = new JobControl(spark, sf)
    try {
      (1 to 8).foreach { _ =>
        val j = c.submit("q1_agg")
        c.cancel(j.id)
        if (c.get(j.id).get.status == JobControl.Cancelled) {
          Thread.sleep(300) // give a buggy worker time to resurrect it
          assert(c.get(j.id).get.status == JobControl.Cancelled,
            "terminal CANCELLED was overwritten by the worker thread")
        } else {
          // cancel raced past the claim: any terminal-or-running status is
          // legal except FAILED (cancellation must not read as failure)
          val fin = await(c, j.id, Set(JobControl.Cancelled,
            JobControl.Succeeded, JobControl.Failed))
          assert(fin != JobControl.Failed, fin)
        }
      }
    } finally c.shutdown()
  }

  test("unknown app is rejected synchronously; unknown id cancels to false") {
    val c = new JobControl(spark, sf)
    try {
      intercept[IllegalArgumentException](c.submit("no_such_query"))
      assert(!c.cancel("job-999"))
      assert(c.listApps.contains("q32_pagerank"))
      assert(c.listNodes.nonEmpty)
    } finally c.shutdown()
  }

  test("cancel stops a running job group") {
    val c = new JobControl(spark, sf)
    try {
      // the pagerank Pregel loop runs long enough to catch mid-flight
      val j = c.submit("q32_pagerank")
      await(c, j.id, Set(JobControl.Running, JobControl.Succeeded,
        JobControl.Failed))
      assert(c.cancel(j.id))
      val fin = await(c, j.id, Set(JobControl.Cancelled, JobControl.Succeeded,
        JobControl.Failed))
      // racing completion is legal; what is NOT legal is FAILED — a
      // cancellation must never be recorded as a query failure
      assert(fin == JobControl.Cancelled || fin == JobControl.Succeeded, fin)
    } finally c.shutdown()
  }

  test("REST skin: apps/jobs/nodes routes round-trip") {
    val c = new JobControl(spark, sf)
    val server = JobHttpApi.start(c)
    val base = s"http://127.0.0.1:${server.getAddress.getPort}/api/v1.0"
    val http = HttpClient.newHttpClient()
    def get(p: String) = http.send(
      HttpRequest.newBuilder(URI.create(base + p)).GET().build(),
      HttpResponse.BodyHandlers.ofString())
    try {
      val apps = get("/apps")
      assert(apps.statusCode() == 200 && apps.body().contains("\"q1_agg\""))

      val post = http.send(
        HttpRequest.newBuilder(URI.create(base + "/jobs"))
          .POST(HttpRequest.BodyPublishers.ofString("""{"app":"q2_filter_agg"}"""))
          .build(),
        HttpResponse.BodyHandlers.ofString())
      assert(post.statusCode() == 201 && post.body().contains("\"q2_filter_agg\""))
      val id = "\"id\":\"([^\"]+)\"".r.findFirstMatchIn(post.body()).get.group(1)
      await(c, id, Set(JobControl.Succeeded, JobControl.Failed))

      val one = get(s"/jobs/$id")
      assert(one.statusCode() == 200 && one.body().contains("SUCCEEDED"))
      assert(get("/jobs").body().contains(id))
      assert(get("/jobs/job-424242").statusCode() == 404)

      val badApp = http.send(
        HttpRequest.newBuilder(URI.create(base + "/jobs"))
          .POST(HttpRequest.BodyPublishers.ofString("""{"app":"nope"}"""))
          .build(),
        HttpResponse.BodyHandlers.ofString())
      assert(badApp.statusCode() == 400)
      val noApp = http.send(
        HttpRequest.newBuilder(URI.create(base + "/jobs"))
          .POST(HttpRequest.BodyPublishers.ofString("{}")).build(),
        HttpResponse.BodyHandlers.ofString())
      assert(noApp.statusCode() == 400 &&
        noApp.body().contains("No app name specified"))

      val del = http.send(
        HttpRequest.newBuilder(URI.create(base + s"/jobs/$id"))
          .DELETE().build(),
        HttpResponse.BodyHandlers.ofString())
      assert(del.statusCode() == 204)

      val nodes = get("/nodes")
      assert(nodes.statusCode() == 200 && nodes.body().contains("address"))
    } finally { server.stop(0); c.shutdown() }
  }

  test("appField parses escaped quotes and ignores other keys") {
    assert(JobHttpApi.appField("""{"priority":3,"app":"q1_agg"}""")
      .contains("q1_agg"))
    assert(JobHttpApi.appField("""{"app":"we\"ird"}""").contains("we\"ird"))
    assert(JobHttpApi.appField("""{"priority":3}""").isEmpty)
    assert(JobHttpApi.priorityField("""{"priority":3,"app":"x"}""") == 3)
    assert(JobHttpApi.priorityField("""{"priority":-1}""") == -1)
    assert(JobHttpApi.priorityField("""{"app":"x"}""") == 0)
  }

  test("progress counters populate for a tracked job and surface in the job doc") {
    val c = new JobControl(spark, sf)
    val server = JobHttpApi.start(c)
    val base = s"http://127.0.0.1:${server.getAddress.getPort}/api/v1.0"
    val http = HttpClient.newHttpClient()
    try {
      val j = c.submit("q1_agg")
      await(c, j.id, Set(JobControl.Succeeded, JobControl.Failed))
      // Listener bus is async: by SUCCEEDED all events are POSTED, but
      // they drain after. First-event sighting can observe a mid-drain
      // state (stage 2 submitted, its tasks not yet counted → pct < 100),
      // so poll until two consecutive snapshots are identical AND carry
      // completed work — in-order delivery makes a stable nonzero
      // snapshot the drained one.
      val t0 = System.currentTimeMillis()
      var p = c.progressOf(j.id)
      var settled = false
      while (!settled && System.currentTimeMillis() - t0 < 30000) {
        Thread.sleep(200)
        val q = c.progressOf(j.id)
        settled = q == p && q.tasksCompleted > 0 && q.stagesCompleted > 0
        p = q
      }
      assert(p.sparkJobs >= 1, p.toString)
      assert(p.stagesSubmitted >= 1 && p.stagesCompleted >= 1, p.toString)
      assert(p.tasksTotal >= 1 && p.tasksCompleted >= 1, p.toString)
      assert(p.taskRetries == 0, p.toString)
      assert(p.pct == 100, p.toString)
      // and the REST job doc carries the same depth
      val doc = http.send(
        HttpRequest.newBuilder(URI.create(base + s"/jobs/${j.id}")).GET().build(),
        HttpResponse.BodyHandlers.ofString()).body()
      assert(doc.contains("\"progress\":{"), doc)
      assert(doc.contains("\"pct\":100"), doc)
      assert(doc.contains("\"task_retries\":0"), doc)
      assert("\"tasks_completed\":(\\d+)".r.findFirstMatchIn(doc)
        .exists(_.group(1).toInt >= 1), doc)
      // an unknown-to-the-scheduler job (still queued/never started) reads
      // as zeros rather than absent
      assert(c.progressOf("job-424242").pct == 0)
    } finally { server.stop(0); c.shutdown() }
  }

  test("priority lands as the scheduler pool on every Spark job the query spawns") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val pools = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(ev: SparkListenerJobStart): Unit = {
        val p = ev.properties.getProperty("spark.scheduler.pool")
        val g = ev.properties.getProperty("spark.jobGroup.id", "")
        if (g.startsWith("job-")) pools.add(String.valueOf(p))
      }
    }
    spark.sparkContext.addSparkListener(listener)
    val c = new JobControl(spark, sf)
    try {
      val j = c.submit("q1_agg", priority = 7)
      assert(j.priority == 7)
      await(c, j.id, Set(JobControl.Succeeded, JobControl.Failed))
      // listener bus is async: wait for at least one captured job start
      val t0 = System.currentTimeMillis()
      while (pools.isEmpty && System.currentTimeMillis() - t0 < 30000)
        Thread.sleep(50)
      val seen = pools.toArray(Array.empty[String]).toSet
      assert(seen == Set("graft-p7"), seen.toString)
    } finally {
      spark.sparkContext.removeSparkListener(listener)
      c.shutdown()
    }
  }

  test("REST skin: oversized, empty, non-JSON and non-string-app bodies submit nothing") {
    val c = new JobControl(spark, sf)
    val server = JobHttpApi.start(c)
    val base = s"http://127.0.0.1:${server.getAddress.getPort}/api/v1.0"
    val http = HttpClient.newHttpClient()
    def post(body: String) = http.send(
      HttpRequest.newBuilder(URI.create(base + "/jobs"))
        .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
      HttpResponse.BodyHandlers.ofString())
    try {
      val before = c.listJobs
      // a valid request padded past the cap: the cap, not the content, rejects it
      val big = post("""{"app":"q1_agg","pad":"""" +
        "x" * JobHttpApi.MaxBodyBytes + "\"}")
      assert(big.statusCode() == 413 && big.body().contains("\"error\""),
        big.body())
      Seq("", "app=q1_agg", """x "app":"q1_agg"""", """{"app":"q1_agg"""",
          """{"app":["q1_agg"]}""", """{"app":1}""", """["q1_agg"]""")
        .foreach { b =>
          val r = post(b)
          assert(r.statusCode() >= 400 && r.statusCode() < 500 &&
            r.body().contains("\"error\""), s"$b -> ${r.statusCode()} ${r.body()}")
        }
      assert(c.listJobs == before)
      // a request just under the cap still goes through
      val ok = post("""{"app":"q1_agg","pad":"""" +
        "x" * (JobHttpApi.MaxBodyBytes - 40) + "\"}")
      assert(ok.statusCode() == 201, ok.body())
      val id = "\"id\":\"([^\"]+)\"".r.findFirstMatchIn(ok.body()).get.group(1)
      await(c, id, Set(JobControl.Succeeded, JobControl.Failed))
    } finally { server.stop(0); c.shutdown() }
  }

  test("a submitted query starts no Spark job before its action's first job") {
    // its first build resolves the tables' schemas; later submissions reuse them
    SparkEntry.queries("q3_join_agg")(spark, sf)
    val c = new JobControl(spark, sf)
    try {
      var id = ""
      val started = SparkJobs.during(spark) {
        id = c.submit("q3_join_agg").id
        assert(await(c, id, Set(JobControl.Succeeded, JobControl.Failed))
          == JobControl.Succeeded)
      }.filter(_.group == id)
      // every job of the submission belongs to the action's SQL execution;
      // a schema inference ("parquet at Tables.scala") would run outside it
      assert(started.nonEmpty)
      assert(started.forall(_.executionId != null), started.mkString("\n"))
    } finally c.shutdown()
  }

  test("session totals count every Spark job on the context and serve as GET /status") {
    val c = new JobControl(spark, sf)
    val server = JobHttpApi.start(c)
    val base = s"http://127.0.0.1:${server.getAddress.getPort}/api/v1.0"
    try {
      // an untracked run: no job group, still in the session totals
      SparkEntry.queries("q1_agg")(spark, sf).collect()
      SparkJobs.drain(spark)
      val s = c.sessionProgress
      assert(s.jobsSubmitted >= 1 && s.tasksCompleted >= 1, s.toString)

      val r = HttpClient.newHttpClient().send(
        HttpRequest.newBuilder(URI.create(base + "/status")).GET().build(),
        HttpResponse.BodyHandlers.ofString())
      assert(r.statusCode() == 200, r.body())
      val doc = new ObjectMapper().readTree(r.body())
      val got = Seq("jobs_submitted", "jobs_succeeded", "jobs_failed",
        "tasks_completed", "task_failures", "active_stages")
        .map(k => doc.get(k).asLong)
      assert(got == Seq(s.jobsSubmitted, s.jobsSucceeded, s.jobsFailed,
        s.tasksCompleted, s.taskFailures, s.activeStages.toLong), r.body())
    } finally { server.stop(0); c.shutdown() }
  }

  // synthetic scheduler events, posted straight to the listener; ids far
  // above anything the shared test context reaches
  private def stageInfo(id: Int, attempt: Int, tasks: Int): StageInfo =
    new StageInfo(id, attempt, s"synthetic-$id", tasks, Seq.empty, Seq.empty,
      "", null, Seq.empty, None, 0, false, 0)
  private def taskEnd(stage: Int, attempt: Int, index: Int, taskAttempt: Int,
                      reason: TaskEndReason): SparkListenerTaskEnd =
    SparkListenerTaskEnd(stage, attempt, "ResultTask", reason,
      new TaskInfo(index.toLong, index, taskAttempt, index, 0L, "driver",
        "localhost", TaskLocality.PROCESS_LOCAL, false), null, null)

  /** A tracked job that already ran for real, with the bus drained. */
  private def trackedJob(c: JobControl): String = {
    val id = c.submit("q1_agg").id
    assert(await(c, id, Set(JobControl.Succeeded, JobControl.Failed))
      == JobControl.Succeeded)
    SparkJobs.drain(spark)
    id
  }

  test("a failed task attempt is one retry, and its index counts once when a retry succeeds") {
    val c = new JobControl(spark, sf)
    try {
      val id = trackedJob(c)
      val p0 = c.progressOf(id)
      val s0 = c.sessionProgress
      assert(p0.taskRetries == 0 && p0.pct == 100, p0.toString)
      val props = new Properties
      props.setProperty("spark.jobGroup.id", id)
      val (job, st) = (1 << 30, 1 << 30)
      val l = c.listener
      l.onJobStart(SparkListenerJobStart(job, 0L, Seq(stageInfo(st, 0, 2)), props))
      l.onStageSubmitted(SparkListenerStageSubmitted(stageInfo(st, 0, 2)))
      l.onTaskEnd(taskEnd(st, 0, 0, 0, TaskResultLost))
      // a killed speculative copy is not a failure
      l.onTaskEnd(taskEnd(st, 0, 0, 1, TaskKilled("another attempt succeeded")))
      l.onTaskEnd(taskEnd(st, 0, 0, 2, Success))
      l.onTaskEnd(taskEnd(st, 0, 1, 0, Success))
      l.onStageCompleted(SparkListenerStageCompleted(stageInfo(st, 0, 2)))
      l.onJobEnd(SparkListenerJobEnd(job, 0L, JobSucceeded))

      val p = c.progressOf(id)
      assert(p == JobControl.Progress(p0.sparkJobs + 1,
        p0.stagesSubmitted + 1, p0.stagesCompleted + 1, p0.tasksTotal + 2,
        p0.tasksCompleted + 2, 1), p.toString)
      assert(p.tasksCompleted == p.tasksTotal && p.pct == 100, p.toString)
      assert(c.sessionProgress == s0.copy(
        jobsSubmitted = s0.jobsSubmitted + 1,
        jobsSucceeded = s0.jobsSucceeded + 1,
        tasksCompleted = s0.tasksCompleted + 2,
        taskFailures = s0.taskFailures + 1), c.sessionProgress.toString)
      assert(c.trackedStages == 0)
    } finally c.shutdown()
  }

  test("the per-stage map is empty after a job ends: completed, skipped and aborted stages") {
    val c = new JobControl(spark, sf)
    try {
      val id = trackedJob(c)
      assert(c.trackedStages == 0, "a real run leaves no stage entries")
      val s0 = c.sessionProgress
      val props = new Properties
      props.setProperty("spark.jobGroup.id", id)
      val job = 1 << 30
      val (done, skipped, aborted) = ((1 << 30) + 1, (1 << 30) + 2, (1 << 30) + 3)
      val l = c.listener
      l.onJobStart(SparkListenerJobStart(job, 0L,
        Seq(done, skipped, aborted).map(stageInfo(_, 0, 1)), props))
      assert(c.trackedStages == 3)
      l.onStageSubmitted(SparkListenerStageSubmitted(stageInfo(done, 0, 1)))
      l.onTaskEnd(taskEnd(done, 0, 0, 0, Success))
      l.onStageCompleted(SparkListenerStageCompleted(stageInfo(done, 0, 1)))
      // `skipped` is never submitted; `aborted` ends with a failure reason
      l.onStageSubmitted(SparkListenerStageSubmitted(stageInfo(aborted, 0, 1)))
      val failed = stageInfo(aborted, 0, 1)
      failed.failureReason = Some("aborted")
      l.onStageCompleted(SparkListenerStageCompleted(failed))
      assert(c.trackedStages == 2)
      assert(c.sessionProgress.activeStages == s0.activeStages)
      l.onJobEnd(SparkListenerJobEnd(job, 0L,
        SparkJobs.jobFailed(new RuntimeException("aborted"))))
      assert(c.trackedStages == 0)
      assert(c.sessionProgress.jobsFailed == s0.jobsFailed + 1)
    } finally c.shutdown()
  }
}
