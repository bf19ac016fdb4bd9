package org.apache.spark.sql.graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{JobFailed, JobResult, SparkListener,
  SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Records the Spark jobs that start while `body` runs. Lives under
  * `org.apache.spark` because draining the listener bus, so that every
  * job-start event has been seen, is `private[spark]`, and so is the
  * failed-job result a synthetic job-end event carries. */
object SparkJobs {

  /** One started job: its job group, the SQL execution it belongs to
    * (null outside any, e.g. a schema-inference job) and its call site. */
  final case class Started(jobId: Int, group: String, executionId: String,
                           callSite: String)

  /** Blocks until every event posted so far has reached every listener. */
  def drain(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()

  /** The result a job-end event carries for a failed job. */
  def jobFailed(e: Exception): JobResult = JobFailed(e)

  /** Every job started, on any thread, while `body` runs, in start order. */
  def during(spark: SparkSession)(body: => Unit): Seq[Started] = {
    val sc = spark.sparkContext
    drain(spark)
    val seen = new ConcurrentLinkedQueue[Started]()
    val listener = new SparkListener {
      override def onJobStart(ev: SparkListenerJobStart): Unit = {
        def prop(k: String) = Option(ev.properties).map(_.getProperty(k)).orNull
        seen.add(Started(ev.jobId, prop("spark.jobGroup.id"),
          prop("spark.sql.execution.id"),
          ev.stageInfos.sortBy(_.stageId).lastOption.map(_.name).orNull))
      }
    }
    sc.addSparkListener(listener)
    try {
      body
      drain(spark)
    } finally sc.removeSparkListener(listener)
    seen.asScala.toSeq.sortBy(_.jobId)
  }

  /** The number of jobs `body` starts on the calling thread; other threads'
    * jobs are told apart by a job group set for the duration. */
  def onThisThread(spark: SparkSession)(body: => Unit): Int = {
    val sc = spark.sparkContext
    val group = s"graft-test-${java.util.UUID.randomUUID()}"
    sc.setJobGroup(group, group)
    try during(spark)(body).count(_.group == group)
    finally sc.clearJobGroup()
  }
}
