package graft

import graft.driver.JobControl
import org.apache.spark.sql.graft.SparkJobs

/** The session progress report: the totals JobControl's listener keeps
  * over every Spark job on the context, tracked job group or not. */
class ProgressReporterSpec extends GraftSuite {

  /** The aborted job's other tasks may still end after its job-end event,
    * so drain the bus and wait until the totals stop moving. */
  private def settled(c: JobControl): JobControl.SessionProgress = {
    var s = c.sessionProgress
    var done = false
    val t0 = System.currentTimeMillis()
    while (!done && System.currentTimeMillis() - t0 < 30000) {
      Thread.sleep(200)
      SparkJobs.drain(spark)
      val t = c.sessionProgress
      done = t == s
      s = t
    }
    s
  }

  test("progress events observed for a run of q1 (jobs, stages, completion)") {
    val c = new JobControl(spark, sf)
    try {
      // an untracked run: no job group, still in the session totals
      SparkEntry.queries("q1_agg")(spark, sf).collect()
      val s = settled(c)
      assert(s.jobsSubmitted >= 1 && s.jobsSucceeded >= 1, s.toString)
      assert(s.jobsFailed == 0 && s.tasksCompleted >= 1, s.toString)
      // every stage it submitted completed
      assert(s.activeStages == 0, s.toString)
    } finally c.shutdown()
  }

  test("a failing job reports the failed attempt and the failed job") {
    val c = new JobControl(spark, sf)
    try {
      import spark.implicits._
      intercept[Exception] {
        spark.range(10).as[Long]
          .map(i => if (i >= 0) throw new RuntimeException("boom") else i)
          .collect()
      }
      val s = settled(c)
      assert(s.jobsFailed >= 1 && s.taskFailures >= 1, s.toString)
      assert(s.activeStages == 0, s.toString)
    } finally c.shutdown()
  }
}
