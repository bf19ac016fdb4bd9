package graft.perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.{CacheRegistry, LocalSession}

object Stats {
  /** Median; 0 for an empty sample. */
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
}

/** Benchmark driver: one workload per process.
  *
  * {{{
  * Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir>
  * }}}
  *
  * Set-up (session build, input load, warm-up job) runs [[Setups]] times,
  * first in a cold JVM, and `setup_s` is their median; input generation and
  * the references are not part of it. One untimed warm-up cycle follows,
  * and the measured loop then runs whole cycles until their jobs have taken
  * `--seconds`, with the same cleanup before every round and the clock
  * stopped during cleanup and output verification. The outputs of every
  * round, warm-up included, are checked. With `--trace 1`, odd measured
  * rounds are traced and even ones are not, which gives `trace.overhead`; the
  * per-layer metrics come from the traced rounds (cache counts from the
  * untraced ones, which the tracer's own persists would skew).
  *
  * `peak_live_heap_mb` is the largest live heap (after a full GC) at the
  * end of a job, before cleanup releases what the job left cached or
  * pinned.
  *
  * Prints a run header line, then one JSON result line as the last line of
  * standard output. Exits 1 if any job failed or mismatched its reference.
  */
object Main {
  val Setups = 3

  val endToEnd: Seq[String] =
    Seq("job_s.p50", "jobs_per_s", "setup_s", "peak_live_heap_mb")

  val units: Map[String, String] = Map(
    "job_s.p50" -> "s", "jobs_per_s" -> "jobs/s", "setup_s" -> "s",
    "peak_live_heap_mb" -> "MB",
    "session.build_s" -> "s", "tables.input_mb" -> "MB",
    "mapreduce.shuffle_write_mb" -> "MB", "mapreduce.combine_ratio" -> "ratio",
    "sink.write_s" -> "s", "sink.output_mb" -> "MB",
    "pregel.s_per_superstep" -> "s", "pregel.spark_jobs" -> "count",
    "pregel.driver_gap_s" -> "s", "pregel.shuffle_mb" -> "MB",
    "dedup.signature_s" -> "s", "dedup.candidates" -> "count",
    "dedup.verified_pairs" -> "count", "dedup.candidate_yield" -> "ratio",
    "jobs.queue_wait_s.p50" -> "s", "jobs.run_s.p50" -> "s",
    "http.submit_ms.p50" -> "ms", "http.polls_per_job" -> "count",
    "cache.tracked_frames_after_job" -> "count", "cache.pinned_rdds_after_job" -> "count",
    "spark.tasks" -> "count", "spark.executor_run_s" -> "s", "spark.executor_cpu_s" -> "s",
    "spark.gc_s" -> "s", "spark.shuffle_read_mb" -> "MB", "spark.spill_mb" -> "MB",
    "spark.task_skew" -> "ratio", "trace.overhead" -> "ratio")

  /** Every per-layer metric; a workload that does not call a layer reports
    * 0 for it. */
  val perLayer: Seq[String] = units.keys.toSeq.filterNot(endToEnd.contains).sorted

  final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        work: Path)

  private def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Opts(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", Paths.get(need("work")).toAbsolutePath)
  }

  def main(args: Array[String]): Unit = {
    val code =
      try run(parse(args))
      catch { case e: Throwable => e.printStackTrace(); 2 }
    System.exit(code)
  }

  /** The same cleanup before every round: blocking drain of the library's
    * cache registry, catalog cache clear, a sweep of pinned RDDs (the
    * Pregel results are checkpointed RDDs no catalog sees), removal of the
    * previous outputs, then a full GC. */
  private def cleanup(spark: SparkSession, out: Path): Unit = {
    CacheRegistry.unpersistAll(blocking = true)
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    Workload.deleteTree(out)
    System.gc()
  }

  /** Heap in use right after a full collection. */
  private def liveHeapMb(): Double = {
    System.gc()
    java.lang.management.ManagementFactory.getMemoryMXBean
      .getHeapMemoryUsage.getUsed / Tracer.MB
  }

  private final case class Round(i: Int, warm: Boolean, traced: Boolean, jobs: Seq[JobResult],
                                 seconds: Double, bad: Seq[String])

  def run(o: Opts): Int = {
    val w = Workload(o.workload)
    val dirs = Dirs(o.work.resolve("data"), o.work.resolve("out"))
    Workload.deleteTree(dirs.data)
    Files.createDirectories(dirs.data)
    val nproc = Runtime.getRuntime.availableProcessors

    // ---- set-up, repeated; the last session is the one measured
    val setupS = mutable.ArrayBuffer.empty[Double]
    val buildS = mutable.ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    var tr: Tracer = null
    var genS = 0.0
    for (k <- 0 until Setups) {
      if (spark != null) { w.close(); tr.close(); spark.stop() }
      Workload.deleteTree(dirs.out)
      val t0 = System.nanoTime()
      spark = LocalSession.build(nproc.toString)
      val built = System.nanoTime()
      if (k == 0) {
        w.generate(spark, o.seed, dirs)
        genS = (System.nanoTime() - built) / 1e9
      }
      tr = new Tracer(spark)
      w.load(spark, tr)
      w.warmup(spark, tr)
      setupS += (System.nanoTime() - t0) / 1e9 - (if (k == 0) genS else 0.0)
      buildS += (built - t0) / 1e9
    }

    // ---- rounds: warm-up, then measured
    val rounds = mutable.ArrayBuffer.empty[Round]
    val liveHeap = mutable.ArrayBuffer.empty[Double]
    val tracked = mutable.ArrayBuffer.empty[Double]
    val pinned = mutable.ArrayBuffer.empty[Double]
    var verifyS = 0.0
    /** Runs round `i` and returns its job seconds (the clock stopped
      * during cleanup and verification). */
    def runRound(i: Int, warm: Boolean, traced: Boolean): Double = {
      cleanup(spark, dirs.out)
      val out = dirs.out.resolve(s"round-$i")
      tr.job = i
      tr.enabled = traced
      val t0 = System.nanoTime()
      val jobs =
        try w.round(spark, i, out, tr)
        catch { case e: Exception => Seq(JobResult(Double.NaN, Some(e.toString))) }
      val secs = (System.nanoTime() - t0) / 1e9
      tr.enabled = false
      if (!warm && !traced) {
        tracked += CacheRegistry.trackedCount.toDouble
        pinned += spark.sparkContext.getPersistentRDDs.size.toDouble
        liveHeap += liveHeapMb()
      }
      val v0 = System.nanoTime()
      val bad =
        if (jobs.exists(_.failure.isDefined)) jobs.flatMap(_.failure)
        else try w.verify(spark, i, out) catch { case e: Exception => Seq(e.toString) }
      verifyS += (System.nanoTime() - v0) / 1e9
      rounds += Round(i, warm, traced, jobs, secs, bad)
      secs
    }
    // Job times still fall over the first jobs after set-up (JIT, first use
    // of the job API's pools), so without an untimed warm-up cycle a run
    // that fits one more job reports a lower median.
    var i = 0
    while (i < w.roundsPerCycle) {
      runRound(i, warm = true, traced = false)
      i += 1
    }
    // Measured rounds: whole cycles until `--seconds` of job time. Counting
    // job time rather than wall time keeps the number of cycles from
    // flipping with the cleanup and verification time.
    val first = i
    val minRounds = if (o.trace) 2 else 1
    val start = System.nanoTime()
    var timedS = 0.0
    while (i - first < minRounds || (i - first) % w.roundsPerCycle != 0 || timedS < o.seconds) {
      timedS += runRound(i, warm = false, traced = o.trace && (i - first) % 2 == 1)
      i += 1
    }
    cleanup(spark, dirs.out)
    val measureS = (System.nanoTime() - start) / 1e9

    // ---- results
    val plain = rounds.filterNot(r => r.warm || r.traced)
    val plainJobs = plain.flatMap(_.jobs).filter(_.failure.isEmpty).map(_.seconds).toSeq
    val attempted = rounds.map(_.jobs.size).sum
    val failed = rounds.map(r => if (r.bad.nonEmpty) r.jobs.size else 0).sum
    val metrics: Seq[(String, Double)] =
      if (!o.trace) Seq(
        "job_s.p50" -> Stats.median(plainJobs),
        "jobs_per_s" -> plainJobs.size / plain.map(_.seconds).sum,
        "setup_s" -> Stats.median(setupS.toSeq),
        "peak_live_heap_mb" -> liveHeap.max)
      else {
        tr.drain()
        val tracedJobs = rounds.filter(_.traced).map(_.i).toSet
        val tracedTimes = rounds.filter(_.traced).flatMap(_.jobs)
          .filter(_.failure.isEmpty).map(_.seconds).toSeq
        val layers = Layers.generic(tr, tracedJobs) ++ w.layerMetrics(tr, tracedJobs) ++ Map(
          "session.build_s" -> Stats.median(buildS.toSeq),
          "cache.tracked_frames_after_job" -> Stats.mean(tracked.toSeq),
          "cache.pinned_rdds_after_job" -> Stats.mean(pinned.toSeq),
          "trace.overhead" -> Stats.median(tracedTimes) / Stats.median(plainJobs))
        tr.writeSpans(o.work.resolve(s"spans-${o.workload}-seed${o.seed}.jsonl"))
        perLayer.map(n => n -> layers.getOrElse(n, 0.0))
      }

    val rt = java.lang.management.ManagementFactory.getRuntimeMXBean
    val header = Seq(
      "workload" -> o.workload, "seed" -> o.seed, "seconds" -> o.seconds,
      "trace" -> (if (o.trace) 1 else 0), "nproc" -> nproc,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / Tracer.MB,
      "jvm_flags" -> rt.getInputArguments.toArray.toSeq.map(_.toString)
        .filterNot(_.startsWith("--add-opens")),
      "java" -> System.getProperty("java.version"),
      "spark" -> spark.version,
      "commit" -> System.getProperty("perfbench.commit", "unknown"),
      "setups_s" -> setupS.toSeq, "generate_s" -> genS, "measure_s" -> measureS,
      "verify_s" -> verifyS, "job_times_s" -> plainJobs, "warmup_rounds" -> first,
      "rounds" -> rounds.size,
      "jobs" -> attempted, "error_rate" -> failed.toDouble / math.max(attempted, 1),
      "failures" -> rounds.flatMap(_.bad).take(5).toSeq) ++ w.summary.toSeq
    println(Json.obj("perfbench" -> Json.obj(header: _*)).json)
    w.close()
    tr.close()
    spark.stop()
    val ok = failed == 0 && plainJobs.nonEmpty
    println(Json.obj(
      "correct" -> ok, "attempted" -> attempted, "failed" -> failed,
      "metrics" -> Json.obj(metrics.map { case (n, v) =>
        n -> Json.obj("value" -> v, "unit" -> units(n)) }: _*)).json)
    if (ok) 0 else 1
  }
}
