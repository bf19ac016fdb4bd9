package graft.perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** One timed call into a library layer. Times are epoch milliseconds with a
  * sub-millisecond fraction, on the same clock as Spark's stage times. */
final case class Span(id: Int, name: String, parent: Int, job: Int,
                      start: Double, end: Double) {
  def seconds: Double = (end - start) / 1000.0
}

/** Task metrics summed over one stage, plus its task durations. */
final class StageAgg(val stageId: Int, val owner: Option[Int],
                     val group: Option[String]) {
  var tasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleReadB = 0L
  var shuffleWriteB = 0L
  var shuffleWriteRecords = 0L
  var spillB = 0L
  var inputB = 0L
  var outputB = 0L
  var submitted: Option[Long] = None
  var completed: Option[Long] = None
  val taskMs = mutable.ArrayBuffer.empty[Long]
}

/** In-memory tracer for the traced run. While [[enabled]], [[span]] records
  * a span around a layer call and tags the calling thread's Spark jobs with
  * the span id (a Spark local property), so the listener attributes every
  * stage those jobs run to the call site that submitted them. Jobs run on
  * threads the benchmark does not own (the job API's worker pool) are
  * attributed through their Spark job group instead, see [[bindGroup]].
  * With tracing off, [[span]] and [[materialize]] are pass-throughs. */
final class Tracer(spark: SparkSession) {
  import Tracer._

  @volatile var enabled = false
  @volatile var job = -1

  private val nano0 = System.nanoTime()
  private val epoch0 = System.currentTimeMillis().toDouble
  def now: Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  private val nextId = new java.util.concurrent.atomic.AtomicInteger
  private val spans = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
  private val stack = ThreadLocal.withInitial[List[Int]](() => Nil)
  private val groups = new ConcurrentHashMap[String, Int]()
  private val stages = new ConcurrentHashMap[Int, StageAgg]()
  private val jobsBySpan = new ConcurrentHashMap[Int, Integer]()
  private val groupJobs = new ConcurrentHashMap[String, Integer]()
  private val groupFirstJobMs = new ConcurrentHashMap[String, java.lang.Long]()
  private val recorded = mutable.ArrayBuffer.empty[(Int, String, Double)]

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val sc = spark.sparkContext
      val parents = stack.get
      val id = nextId.incrementAndGet()
      val start = now
      stack.set(id :: parents)
      val prevProp = sc.getLocalProperty(SpanProp)
      sc.setLocalProperty(SpanProp, id.toString)
      try body
      finally {
        sc.setLocalProperty(SpanProp, prevProp)
        stack.set(parents)
        spans.add(Span(id, name, parents.headOption.getOrElse(0), job, start, now))
      }
    }

  /** The id of the innermost open span on this thread (0 = none). */
  def currentSpan: Int = stack.get.headOption.getOrElse(0)

  /** Attribute Spark jobs of job group `group` to span `spanId`. */
  def bindGroup(group: String, spanId: Int): Unit =
    if (enabled) groups.put(group, spanId)

  /** Traced run only: persist and count a lazy layer output so its work is
    * done (and attributed) inside the caller's span. */
  def materialize(df: DataFrame): DataFrame =
    if (!enabled) df
    else { val p = df.persist(StorageLevel.MEMORY_AND_DISK); p.count(); p }

  /** A value a layer call reports (a row count, a latency), kept per job. */
  def record(name: String, value: Double): Unit =
    if (enabled) recorded.synchronized { recorded += ((job, name, value)) }

  def recordedValues(name: String, jobs: Set[Int]): Seq[Double] =
    recorded.synchronized(recorded.collect {
      case (j, n, v) if n == name && jobs(j) => v
    }.toSeq)

  def firstJobStartMs(group: String): Option[Long] =
    Option(groupFirstJobMs.get(group)).map(_.longValue)

  val listener: SparkListener = new SparkListener {
    override def onJobStart(ev: SparkListenerJobStart): Unit = {
      val props = Option(ev.properties)
      val owner = props.flatMap(p => Option(p.getProperty(SpanProp))).map(_.toInt)
      val group = props.flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      if (owner.isDefined || group.isDefined) {
        ev.stageInfos.foreach(si =>
          stages.putIfAbsent(si.stageId, new StageAgg(si.stageId, owner, group)))
        owner.foreach(o => jobsBySpan.merge(o, 1, (a, b) => a + b))
        group.foreach { g =>
          groupJobs.merge(g, 1, (a, b) => a + b)
          groupFirstJobMs.putIfAbsent(g, ev.time)
        }
      }
    }
    override def onStageSubmitted(ev: SparkListenerStageSubmitted): Unit =
      Option(stages.get(ev.stageInfo.stageId)).foreach(a =>
        a.synchronized(a.submitted = a.submitted.orElse(ev.stageInfo.submissionTime)))
    override def onStageCompleted(ev: SparkListenerStageCompleted): Unit =
      Option(stages.get(ev.stageInfo.stageId)).foreach(a =>
        a.synchronized {
          a.submitted = a.submitted.orElse(ev.stageInfo.submissionTime)
          a.completed = ev.stageInfo.completionTime
        })
    override def onTaskEnd(ev: SparkListenerTaskEnd): Unit = {
      val a = stages.get(ev.stageId)
      val m = ev.taskMetrics
      if (a != null && m != null) a.synchronized {
        a.tasks += 1
        a.runMs += m.executorRunTime
        a.cpuNs += m.executorCpuTime
        a.gcMs += m.jvmGCTime
        a.shuffleReadB += m.shuffleReadMetrics.totalBytesRead
        a.shuffleWriteB += m.shuffleWriteMetrics.bytesWritten
        a.shuffleWriteRecords += m.shuffleWriteMetrics.recordsWritten
        a.spillB += m.diskBytesSpilled
        a.inputB += m.inputMetrics.bytesRead
        a.outputB += m.outputMetrics.bytesWritten
        a.taskMs += ev.taskInfo.duration
      }
    }
  }
  spark.sparkContext.addSparkListener(listener)

  /** Wait until the listener has seen every event posted so far. */
  def drain(): Unit = org.apache.spark.perfbench.ListenerBus.drain(spark.sparkContext)

  def close(): Unit = spark.sparkContext.removeSparkListener(listener)

  def allSpans: Seq[Span] = spans.asScala.toSeq.sortBy(_.id)

  /** The span a stage is attributed to: its submitting call site, else the
    * span bound to its job group. */
  private def ownerOf(a: StageAgg): Option[Int] =
    a.owner.orElse(a.group.flatMap(g => Option(groups.get(g)).map(_.intValue)))

  /** Stages attributed to any of `spanIds`. */
  def stagesOf(spanIds: Set[Int]): Seq[StageAgg] =
    stages.values.asScala.toSeq.filter(a => ownerOf(a).exists(spanIds))

  /** Spark jobs started inside any of `spanIds`, including jobs of groups
    * bound to them. */
  def sparkJobsOf(spanIds: Set[Int]): Int =
    spanIds.toSeq.map(s => Option(jobsBySpan.get(s)).map(_.intValue).getOrElse(0)).sum +
      groups.asScala.collect { case (g, s) if spanIds(s) =>
        Option(groupJobs.get(g)).map(_.intValue).getOrElse(0) }.sum

  /** Write every span, with the stage totals attributed to it, one JSON
    * object per line. */
  def writeSpans(path: java.nio.file.Path): Unit = {
    val all = allSpans
    val bySpan = stages.values.asScala.toSeq.groupBy(ownerOf)
    val lines = all.map { s =>
      val st = bySpan.getOrElse(Some(s.id), Nil)
      Json.obj(
        "id" -> s.id, "name" -> s.name, "parent" -> s.parent, "job" -> s.job,
        "start_ms" -> s.start, "end_ms" -> s.end,
        "spark_jobs" -> sparkJobsOf(Set(s.id)),
        "stages" -> st.size,
        "tasks" -> st.map(_.tasks).sum,
        "executor_run_s" -> st.map(_.runMs).sum / 1000.0,
        "executor_cpu_s" -> st.map(_.cpuNs).sum / 1e9,
        "gc_s" -> st.map(_.gcMs).sum / 1000.0,
        "shuffle_read_mb" -> st.map(_.shuffleReadB).sum / MB,
        "shuffle_write_mb" -> st.map(_.shuffleWriteB).sum / MB,
        "spill_mb" -> st.map(_.spillB).sum / MB,
        "input_mb" -> st.map(_.inputB).sum / MB,
        "output_mb" -> st.map(_.outputB).sum / MB)
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, lines.map(_.json).asJava)
  }
}

object Tracer {
  val SpanProp = "perfbench.span"
  val MB: Double = 1024.0 * 1024.0
}
