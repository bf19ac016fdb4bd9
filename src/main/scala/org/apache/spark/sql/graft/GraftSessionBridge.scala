package org.apache.spark.sql.graft

import java.lang.ref.SoftReference

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Run a plan under SQL conf overrides without mutating the caller's
  * session: [[withConfs]] hands out a clone of the caller (same
  * SparkContext, cache manager and catalog state, its own `SQLConf`) with
  * the overrides set, and [[rebind]] moves a DataFrame's plan into it and
  * back. This is the library's one conf-override mechanism (the graph
  * loops and the at-scale stream gates use it). [[dropCheckpoint]] frees
  * a loop's superseded checkpoint. Lives under `org.apache.spark.sql`
  * because `classic.Dataset.ofRows` and `cloneSession` are
  * `private[sql]` and `SparkContext.unpersistRDD` is `private[spark]`,
  * like the expression bridges in this package. */
object GraftSessionBridge {

  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** `df`'s ANALYSED plan as a DataFrame of `to`. The analyser skips an
    * analysed plan, so table and temp-view names stay resolved as they
    * were in `df`'s own session: a clone handed out by [[withConfs]]
    * copied the caller's temp views when its catalog was first used, and
    * resolving a name again there would read that stale copy. */
  def rebind(df: DataFrame, to: SparkSession): DataFrame =
    ofRows(to, df.queryExecution.analyzed)

  /** Loop sessions kept per caller: a few loop shapes (partition count ×
    * conf set) per caller are live at once, and the least recently used
    * one goes first. */
  private[graft] val maxSessionsPerCaller = 16

  private type Key = (Map[String, String], Seq[(String, String)])

  /** caller → (caller's SQL conf, overrides) → clone. Weak on the caller;
    * the clones are held softly, because a clone references its parent's
    * `SessionState` and through it the caller, so a strong clone would
    * keep its caller alive for good. */
  private val sessions =
    new java.util.WeakHashMap[SparkSession,
      java.util.LinkedHashMap[Key, SoftReference[SparkSession]]]()

  /** The caller's session with `overrides` set, one object per (caller,
    * caller's current SQL conf, overrides).
    *
    * Why not a fresh clone per call: a clone is a new session UUID, and on
    * the executor side every session UUID gets its own isolated
    * classloader (`Executor.isolatedSessionCache`, entered through
    * `ArtifactManager.withResources` on every SQL execution). Spark's
    * codegen cache is keyed on (classloader, source), so each
    * whole-stage-codegen class a plan runs in a fresh clone is compiled
    * again by Janino in its tasks — a per-run clone recompiled every
    * class of every loop, and left its dead entries in the cache. The
    * driver-side compile (the caller's and every clone's
    * `AppClassLoader`) was always a hit.
    *
    * The key holds the caller's whole runtime SQL conf, so a caller that
    * changes a setting gets a new clone that sees it, and the overrides
    * never reach the caller. A clone is never changed after it is handed
    * out, so concurrent users of one clone plan under the same conf. At
    * most [[maxSessionsPerCaller]] clones are kept per caller. */
  def withConfs(spark: SparkSession,
                overrides: Seq[(String, String)]): SparkSession = {
    val key: Key = (spark.conf.getAll, overrides)
    sessions.synchronized {
      val perCaller = sessions.computeIfAbsent(spark, _ =>
        new java.util.LinkedHashMap[Key, SoftReference[SparkSession]](
            16, 0.75f, true) {
          override def removeEldestEntry(e: java.util.Map.Entry[
              Key, SoftReference[SparkSession]]): Boolean =
            size > maxSessionsPerCaller
        })
      Option(perCaller.get(key)).flatMap(r => Option(r.get)).getOrElse {
        val s = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
          .cloneSession()
        // keyed on the conf the clone copied, in case the caller changed
        // a setting on another thread since `key` was read
        val copied = s.conf.getAll
        overrides.foreach { case (k, v) => s.conf.set(k, v) }
        perCaller.put((copied, overrides), new SoftReference(s))
        s
      }
    }
  }

  /** Free the blocks of the local checkpoint that `df` reads, now rather
    * than when the driver's next GC lets the ContextCleaner find the dead
    * RDD. Only for a checkpoint nothing reads again: its lineage is cut,
    * so it cannot be recomputed. (`RDD.unpersist` does the same, but logs
    * a warning for every local checkpoint.) */
  def dropCheckpoint(df: DataFrame): Unit =
    df.queryExecution.analyzed match {
      case r: org.apache.spark.sql.execution.LogicalRDD =>
        r.rdd.sparkContext.unpersistRDD(r.rdd.id, blocking = false)
      case _ =>
    }

  /** How many clones [[withConfs]] keeps for `spark`. */
  private[graft] def sessionCount(spark: SparkSession): Int =
    sessions.synchronized {
      Option(sessions.get(spark)).fold(0)(_.size)
    }
}
