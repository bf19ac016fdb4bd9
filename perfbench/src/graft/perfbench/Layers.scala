package graft.perfbench

/** Per-layer metrics every workload derives the same way from the traced
  * rounds' spans and the stage metrics attributed to them. Values are per
  * traced job (sums over a job's spans, averaged over the traced jobs). */
object Layers {
  import Tracer.MB

  def generic(tr: Tracer, tracedJobs: Set[Int]): Map[String, Double] = {
    val n = math.max(tracedJobs.size, 1).toDouble
    val spans = tr.allSpans.filter(s => tracedJobs(s.job))
    def named(prefix: String) = spans.filter(_.name.startsWith(prefix))
    def ids(ss: Seq[Span]) = ss.map(_.id).toSet
    val all = tr.stagesOf(ids(spans))
    val pregel = named("pregel.")
    val pregelStages = tr.stagesOf(ids(pregel))
    val sink = named("sink.")
    val supersteps = tr.recordedValues("pregel.supersteps", tracedJobs).sum

    // wall time inside each pregel call during which no stage of that call
    // was running: planning, scheduling and driver-side bookkeeping
    val gap = pregel.map { s =>
      val own = tr.stagesOf(Set(s.id)).flatMap(a => for {
        b <- a.submitted; e <- a.completed
      } yield (math.max(b.toDouble, s.start), math.min(e.toDouble, s.end)))
        .filter { case (b, e) => e > b }.sortBy(_._1)
      var busy = 0.0
      var curB = Double.NaN
      var curE = Double.NaN
      own.foreach { case (b, e) =>
        if (curE.isNaN || b > curE) {
          if (!curE.isNaN) busy += curE - curB
          curB = b; curE = e
        } else curE = math.max(curE, e)
      }
      if (!curE.isNaN) busy += curE - curB
      (s.end - s.start - busy) / 1000.0
    }.sum

    // max / median task time in the slowest stage of each traced job
    val skew = tracedJobs.toSeq.flatMap { j =>
      val st = tr.stagesOf(ids(spans.filter(_.job == j)))
        .filter(a => a.submitted.isDefined && a.completed.isDefined && a.taskMs.nonEmpty)
      if (st.isEmpty) None
      else {
        val slow = st.maxBy(a => a.completed.get - a.submitted.get)
        val med = Stats.median(slow.taskMs.map(_.toDouble).toSeq)
        Some(if (med > 0) slow.taskMs.max / med else 1.0)
      }
    }

    Map(
      "tables.input_mb" -> tr.stagesOf(ids(named("tables."))).map(_.inputB).sum / MB / n,
      "mapreduce.shuffle_write_mb" ->
        tr.stagesOf(ids(named("mapreduce."))).map(_.shuffleWriteB).sum / MB / n,
      "sink.write_s" -> sink.map(_.seconds).sum / n,
      "sink.output_mb" -> tr.stagesOf(ids(sink)).map(_.outputB).sum / MB / n,
      "pregel.s_per_superstep" ->
        (if (supersteps > 0) pregel.map(_.seconds).sum / supersteps else 0.0),
      "pregel.spark_jobs" -> tr.sparkJobsOf(ids(pregel)) / n,
      "pregel.driver_gap_s" -> gap / n,
      "pregel.shuffle_mb" -> pregelStages.map(_.shuffleWriteB).sum / MB / n,
      "dedup.signature_s" -> named("dedup.minHashSignatures").map(_.seconds).sum / n,
      "spark.tasks" -> all.map(_.tasks).sum / n,
      "spark.executor_run_s" -> all.map(_.runMs).sum / 1000.0 / n,
      "spark.executor_cpu_s" -> all.map(_.cpuNs).sum / 1e9 / n,
      "spark.gc_s" -> all.map(_.gcMs).sum / 1000.0 / n,
      "spark.shuffle_read_mb" -> all.map(_.shuffleReadB).sum / MB / n,
      "spark.spill_mb" -> all.map(_.spillB).sum / MB / n,
      "spark.task_skew" -> Stats.mean(skew))
  }
}
