package graft.driver

import java.util.concurrent.{ConcurrentHashMap, Executors, ThreadFactory}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import org.apache.spark.scheduler.{JobSucceeded, SparkListener,
  SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted,
  SparkListenerStageSubmitted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.{Success => TaskSuccess, TaskFailedReason}

/** Submit / track / cancel facade — the Spark form of remap's initiator
  * entry point (`/root/reference/daemons/initiator/http_interface.py:45-64`:
  * POST /jobs starts a job, GET /jobs lists them, DELETE cancels;
  * GET /apps lists the registered applications; GET /nodes the workers).
  *
  * Under Spark the scheduler owns placement, retry, and parallelism, so
  * what remains of the initiator surface is exactly this: name → async
  * run → status. Each submission runs on its own pool thread inside a
  * Spark JOB GROUP named by the job id, which is what makes cancellation
  * real: `cancelJobGroup(id, interruptOnCancel=true)` stops every Spark
  * job the query spawned, including mid-stage tasks — the counterpart of
  * the initiator revoking a planned job's task allocations.
  *
  * Progress and retries are observed, not driven: the scheduler already
  * owns allocation and retry, so what remains of the initiator's task
  * bookkeeping (`initiator.py:137-154`: `tasks → allocatedtasks →
  * completedtasks` movement and its "N tasks left, N committed, N
  * complete, N failed" line) is this class's one `SparkListener`. It
  * keeps per-job counters ([[progressOf]]), attributed by the job group,
  * and session-wide totals over every Spark job on the context
  * ([[sessionProgress]]). Its callbacks run on the listener-bus thread,
  * so each one is O(1) counter bumps and map operations and never
  * blocks: a slow listener stalls every other consumer of the bus, and
  * Spark drops events once the bus backs up.
  *
  * Scale note: this is driver-side control plane only — O(submitted jobs)
  * heap, zero involvement in the data path. The run action materializes
  * the query to the `noop` sink (every projected expression is evaluated,
  * nothing is collected to the driver); a deployment that wants results
  * lands them through a real sink inside the query itself.
  */
final class JobControl(spark: SparkSession, sfDir: String,
                       maxJobHistory: Int = 10000) {
  import JobControl._

  private val seq = new AtomicInteger
  private val jobs = new ConcurrentHashMap[String, JobInfo]()
  private val pool = Executors.newCachedThreadPool(new ThreadFactory {
    private val n = new AtomicInteger
    def newThread(r: Runnable): Thread = {
      val t = new Thread(r, s"graft-job-${n.incrementAndGet()}")
      t.setDaemon(true); t
    }
  })

  // --- per-job progress (remap's monitor shows task movement per job:
  // `daemons/initiator/monitor.py:32-45` reads the initiator's
  // tasks/allocatedtasks/completedtasks dicts). Under Spark the submit
  // thread runs every Spark job inside the job-group named by our id, so
  // the listener attributes stage/task events back to the tracked job
  // via the `spark.jobGroup.id` property on SparkListenerJobStart.
  // Retention: `jobs` and `progressById` are the driver-side job HISTORY,
  // one small record per submitted job, capped at `maxJobHistory`: when a
  // submit pushes the history past the cap, the OLDEST TERMINAL jobs are
  // evicted together with their progress entries in one sweep (the two
  // maps cannot drift), so a long-lived driver's control plane stays
  // bounded. Queued/Running jobs are never evicted — the cap applies to
  // history, not to live work.
  private val progressById = new ConcurrentHashMap[String, MutableProgress]()
  // one entry per stage of a tracked job: its owner's progress and the
  // set of completed task INDICES. A logical task counts toward
  // tasksCompleted exactly once no matter which stage ATTEMPT or
  // speculative copy finishes it — counting only attempt 0 undercounted
  // after a fetch-failure retry (the successes land in attempt 1+ and the
  // progress fraction could never reach 100). Keyed by stageId: attempts
  // share the entry, so it is dropped only on a successful completion.
  private val stages = new ConcurrentHashMap[Int, StageEntry]()
  // sparkJobId → its stage ids, so onJobEnd can sweep `stages` entries for
  // stages that never complete successfully (SKIPPED stages reusing
  // cached/shuffle output, failed attempts, or stages abandoned by a job
  // abort) — without the sweep `stages` grows without bound on a
  // long-lived driver
  private val jobStages = new ConcurrentHashMap[Int, Seq[Int]]()

  // --- session totals over every Spark job on the context, tracked or not
  private val jobsSubmitted = new AtomicLong
  private val jobsSucceeded = new AtomicLong
  private val jobsFailed = new AtomicLong
  private val tasksCompleted = new AtomicLong
  private val taskFailures = new AtomicLong
  // live (stageId, attempt) pairs. Keyed by ATTEMPT too: after a
  // fetch-failure resubmit, the failed attempt's StageCompleted event
  // arrives while the new attempt is live — a stageId-only key would let
  // it delete the live attempt
  private val activeStages = ConcurrentHashMap.newKeySet[(Int, Int)]()

  private[graft] val listener: SparkListener = new SparkListener {
    override def onJobStart(ev: SparkListenerJobStart): Unit = {
      jobsSubmitted.incrementAndGet()
      val gid = Option(ev.properties)
        .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).orNull
      if (gid != null && jobs.containsKey(gid)) {
        val p = progressById.computeIfAbsent(gid, _ => new MutableProgress)
        p.sparkJobs.incrementAndGet()
        // a stage another live job already tracks keeps its entry, so its
        // completed indices are not counted twice
        ev.stageInfos.foreach(si =>
          stages.computeIfAbsent(si.stageId, _ => new StageEntry(p)))
        jobStages.put(ev.jobId, ev.stageInfos.map(_.stageId))
      }
    }
    override def onJobEnd(ev: SparkListenerJobEnd): Unit = {
      if (ev.jobResult == JobSucceeded) jobsSucceeded.incrementAndGet()
      else jobsFailed.incrementAndGet()
      val ids = jobStages.remove(ev.jobId)
      if (ids != null) ids.foreach(stages.remove)
    }
    override def onStageSubmitted(ev: SparkListenerStageSubmitted): Unit = {
      val si = ev.stageInfo
      activeStages.add((si.stageId, si.attemptNumber()))
      val s = stages.get(si.stageId)
      if (s != null) {
        s.progress.stagesSubmitted.incrementAndGet()
        // first attempt only: a fetch-failure resubmit re-runs tasks the
        // total already counts
        if (si.attemptNumber() == 0)
          s.progress.tasksTotal.addAndGet(si.numTasks)
      }
    }
    override def onStageCompleted(ev: SparkListenerStageCompleted): Unit = {
      val si = ev.stageInfo
      activeStages.remove((si.stageId, si.attemptNumber()))
      // a failed attempt keeps the entry for the next one; never-completed
      // (skipped/aborted) stages are swept at job end
      if (si.failureReason.isEmpty) {
        val s = stages.remove(si.stageId)
        if (s != null) s.progress.stagesCompleted.incrementAndGet()
      }
    }
    override def onTaskEnd(ev: SparkListenerTaskEnd): Unit = {
      val s = stages.get(ev.stageId)
      ev.reason match {
        // count by task INDEX, once per stage: tasksTotal counts attempt-0
        // partitions, and indices are stable across attempts, so dedup on
        // the index keeps tasksCompleted ≤ tasksTotal (no >100% from
        // retry/speculative copies) while still crediting a task whose
        // only success lands in attempt 1+ (no permanent undercount)
        case TaskSuccess =>
          tasksCompleted.incrementAndGet()
          if (s != null && s.done.add(ev.taskInfo.index))
            s.progress.tasksCompleted.incrementAndGet()
        // only attempts the scheduler counts as failures are retries — a
        // TaskKilled from speculation or job cancellation is normal
        // operation and must not make a healthy run report failed attempts
        case r: TaskFailedReason if r.countTowardsTaskFailures =>
          taskFailures.incrementAndGet()
          if (s != null) s.progress.taskRetries.incrementAndGet()
        case _ => ()
      }
    }
  }
  spark.sparkContext.addSparkListener(listener)

  /** Point-in-time progress for a tracked job — zeros until its first
    * Spark job enters the scheduler (a QUEUED job has no stages yet). */
  def progressOf(id: String): Progress = Option(progressById.get(id))
    .map(_.snapshot).getOrElse(Progress(0, 0, 0, 0, 0, 0))

  /** Point-in-time totals over every Spark job the context ran since this
    * control was created — the initiator's "N tasks left, N committed,
    * N complete, N failed" line for the whole session. */
  def sessionProgress: SessionProgress = SessionProgress(
    jobsSubmitted.get, jobsSucceeded.get, jobsFailed.get,
    tasksCompleted.get, taskFailures.get, activeStages.size)

  /** Entries in the per-stage map: zero once every tracked Spark job has
    * ended, whatever became of its stages. */
  private[graft] def trackedStages: Int = stages.size

  /** The registered applications — remap's GET /apps listed the app
    * directories the initiator could start (`initiator.py` list_apps). */
  def listApps: Seq[String] = graft.SparkEntry.queries.keys.toSeq.sorted

  /** Start a registered query asynchronously; returns immediately with the
    * tracked handle (remap's POST /jobs → 201 + job doc; its required
    * `priority` field — `http_interface.py:49` — maps to a Spark
    * scheduler pool below). Unknown names are rejected here,
    * synchronously — the initiator's RemapException → HTTP 400 path.
    *
    * Priority semantics: the job's Spark jobs run in scheduler pool
    * `graft-p<priority>`. Under `spark.scheduler.mode=FAIR` with pool
    * weights configured (`spark.scheduler.allocation.file`), higher-
    * weighted pools get proportionally more concurrent task slots —
    * the Spark form of remap's priority cores
    * (`daemons/node/node_hardware.py:9-16`). Under the default FIFO
    * scheduler the property is recorded but inert; priority NEVER
    * changes results, only resource share. */
  def submit(name: String, priority: Int = 0): JobInfo = {
    require(graft.SparkEntry.queries.contains(name),
      s"unknown app '$name' — not in SparkEntry.queries")
    val id = s"job-${seq.incrementAndGet()}"
    val info = JobInfo(id, name, Queued, System.currentTimeMillis(), None, None,
      priority)
    jobs.put(id, info)
    evictHistory()
    pool.execute { () =>
      // Queued→Running ONLY: a cancel that lands while the job is still in
      // the pool queue sets CANCELLED before any job group exists, so its
      // cancelJobGroup is a no-op — unconditionally stamping Running here
      // would resurrect the job and run the cancelled query to completion
      val claimed = jobs.computeIfPresent(id, (_, j) =>
        if (j.status == Queued) j.copy(status = Running) else j)
      if (claimed != null && claimed.status == Running) {
        // job-group and pool are thread-local state; this worker owns the id
        spark.sparkContext.setLocalProperty("spark.scheduler.pool",
          s"graft-p$priority")
        spark.sparkContext.setJobGroup(id, s"graft $name",
          interruptOnCancel = true)
        try {
          graft.SparkEntry.queries(name)(spark, sfDir)
            .write.format("noop").mode("overwrite").save()
          finish(id, Succeeded, None)
        } catch {
          case e: Throwable =>
            // a cancel() raced the run: the group cancellation surfaces as a
            // SparkException in this thread; keep the user-intent status
            val wasCancelled = jobs.get(id) != null &&
              jobs.get(id).status == Cancelled
            if (!wasCancelled)
              finish(id, Failed,
                Some(Option(e.getMessage).getOrElse(e.getClass.getName).take(300)))
        } finally {
          spark.sparkContext.clearJobGroup()
          spark.sparkContext.setLocalProperty("spark.scheduler.pool", null)
        }
      }
    }
    info
  }

  /** Evict the oldest TERMINAL jobs (and their progress entries, same
    * sweep) once the history exceeds `maxJobHistory`. O(n log n) on the
    * ≤ cap+1-entry control-plane map — negligible next to a submit. */
  private def evictHistory(): Unit =
    if (jobs.size > maxJobHistory) {
      val terminal = Set(Succeeded, Failed, Cancelled)
      listJobs.filter(j => terminal.contains(j.status))
        .take(jobs.size - maxJobHistory)
        .foreach { j => jobs.remove(j.id); progressById.remove(j.id) }
    }

  private def finish(id: String, st: String, err: Option[String]): Unit =
    jobs.computeIfPresent(id, (_, j) =>
      // terminal states are sticky: a late FAILED from the worker thread
      // must not overwrite the CANCELLED the user observed
      if (j.status == Cancelled || j.status == Succeeded || j.status == Failed) j
      else j.copy(status = st, finishedMs = Some(System.currentTimeMillis()),
        error = err))

  def get(id: String): Option[JobInfo] = Option(jobs.get(id))

  def listJobs: Seq[JobInfo] =
    // submission order — numeric id suffix, not lexicographic ("job-10"
    // must not sort between "job-1" and "job-2")
    jobs.values.toArray(Array.empty[JobInfo]).toSeq
      .sortBy(_.id.stripPrefix("job-").toLong)

  /** Cancel a submitted job (remap's DELETE /jobs/<id>; 404 when unknown →
    * `false` here). Cancelling an already-finished job is a no-op that
    * still returns true — the job exists; there is just nothing to stop. */
  def cancel(id: String): Boolean = Option(jobs.get(id)) match {
    case None => false
    case Some(j) =>
      if (j.status == Queued || j.status == Running) {
        jobs.computeIfPresent(id, (_, x) =>
          if (x.status == Queued || x.status == Running)
            x.copy(status = Cancelled,
              finishedMs = Some(System.currentTimeMillis()))
          else x)
        spark.sparkContext.cancelJobGroup(id)
      }
      true
  }

  /** The worker inventory — remap's GET /nodes listed the node daemons and
    * their cores. Spark's equivalent is the executor set; on local[n] that
    * is the single driver entry. */
  def listNodes: Seq[NodeInfo] =
    spark.sparkContext.getExecutorMemoryStatus.toSeq.map {
      case (addr, (maxMem, remaining)) => NodeInfo(addr, maxMem, remaining)
    }.sortBy(_.address)

  def shutdown(): Unit = {
    spark.sparkContext.removeSparkListener(listener)
    pool.shutdownNow()
  }
}

object JobControl {
  val Queued = "QUEUED"
  val Running = "RUNNING"
  val Succeeded = "SUCCEEDED"
  val Failed = "FAILED"
  val Cancelled = "CANCELLED"

  final case class JobInfo(id: String, name: String, status: String,
                           submittedMs: Long, finishedMs: Option[Long],
                           error: Option[String], priority: Int = 0)
  final case class NodeInfo(address: String, maxMemBytes: Long,
                            remainingMemBytes: Long)

  /** Per-job progress counters — the Spark rendering of the initiator's
    * "N tasks left, N committed, N complete, N failed" per-job state. */
  final case class Progress(sparkJobs: Int, stagesSubmitted: Int,
                            stagesCompleted: Int, tasksTotal: Int,
                            tasksCompleted: Int, taskRetries: Int) {
    /** Completed fraction of first-attempt tasks, in [0, 100]; 0 before
      * any stage is known. */
    def pct: Int =
      if (tasksTotal <= 0) 0
      else math.min(100, (tasksCompleted * 100L / tasksTotal).toInt)
  }

  private[driver] final class MutableProgress {
    val sparkJobs = new AtomicInteger
    val stagesSubmitted = new AtomicInteger
    val stagesCompleted = new AtomicInteger
    val tasksTotal = new AtomicInteger
    val tasksCompleted = new AtomicInteger
    val taskRetries = new AtomicInteger
    def snapshot: Progress = Progress(sparkJobs.get, stagesSubmitted.get,
      stagesCompleted.get, tasksTotal.get, tasksCompleted.get,
      taskRetries.get)
  }

  /** One stage of a tracked job: its owner's progress and the indices of
    * its tasks that have succeeded, in any attempt. */
  private[driver] final class StageEntry(val progress: MutableProgress) {
    val done: java.util.Set[Int] = ConcurrentHashMap.newKeySet[Int]()
  }

  /** Session-wide totals over every Spark job on the context. A task
    * failure is an attempt the scheduler counts toward its retry limit;
    * `activeStages` counts stage attempts submitted and not yet
    * completed. */
  final case class SessionProgress(jobsSubmitted: Long, jobsSucceeded: Long,
                                   jobsFailed: Long, tasksCompleted: Long,
                                   taskFailures: Long, activeStages: Int)
}
