package org.apache.spark.sql.graft

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** Counts the shuffle records that tasks write while `body` runs. Lives
  * under `org.apache.spark` because draining the listener bus, so that
  * every task-end event has been counted, is `private[spark]`. */
object ShuffleRecords {
  def written(spark: SparkSession)(body: => Unit): Long = {
    val sc = spark.sparkContext
    sc.listenerBus.waitUntilEmpty()
    val records = new AtomicLong
    val listener = new SparkListener {
      override def onTaskEnd(ev: SparkListenerTaskEnd): Unit =
        if (ev.taskMetrics != null)
          records.addAndGet(ev.taskMetrics.shuffleWriteMetrics.recordsWritten)
    }
    sc.addSparkListener(listener)
    try {
      body
      sc.listenerBus.waitUntilEmpty()
    } finally sc.removeSparkListener(listener)
    records.get
  }
}
