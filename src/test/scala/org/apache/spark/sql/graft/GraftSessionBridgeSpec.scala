package org.apache.spark.sql.graft

/** [[GraftSessionBridge.withConfs]] hands out reused clones: its map must
  * stay bounded per caller (the graph loops key their session on the
  * loop's partition count and AQE settings, so a long-lived driver that
  * runs loops of many sizes must not keep one session per size), and a
  * plan rebound into a reused clone must not resolve names against the
  * catalog copy the clone took when it was made. */
class GraftSessionBridgeSpec extends _root_.graft.GraftSuite {

  test("many distinct partition counts and conf sets keep the per-caller " +
      "map at or under its cap") {
    val caller = spark.newSession()
    val variants = for {
      parts <- 1 to 3 * GraftSessionBridge.maxSessionsPerCaller
      aqe <- Seq("true", "false")
    } yield Seq("spark.sql.shuffle.partitions" -> parts.toString,
      "spark.sql.adaptive.enabled" -> aqe)
    val sessions = variants.map { o =>
      val s = GraftSessionBridge.withConfs(caller, o)
      assert(GraftSessionBridge.sessionCount(caller) <=
        GraftSessionBridge.maxSessionsPerCaller)
      o.foreach { case (k, v) => assert(s.conf.get(k) == v) }
      s
    }
    assert(sessions.distinct.size == variants.size)
    assert(GraftSessionBridge.sessionCount(caller) ==
      GraftSessionBridge.maxSessionsPerCaller)
    // the most recently used variant is still the same session
    assert(GraftSessionBridge.withConfs(caller, variants.last) eq sessions.last)
  }

  test("rebind resolves a temp view in the caller's catalog, not in the " +
      "copy a reused clone took") {
    val caller = spark.newSession()
    caller.range(3).createOrReplaceTempView("bridge_spec_view")
    val clone = GraftSessionBridge.withConfs(caller,
      Seq("spark.sql.shuffle.partitions" -> "1"))
    // a clone copies the caller's temp views when its catalog is first
    // used (here; in a loop, by the first plan it analyses)
    assert(clone.table("bridge_spec_view").count() == 3L)
    caller.range(5).createOrReplaceTempView("bridge_spec_view")
    assert(GraftSessionBridge.withConfs(caller,
      Seq("spark.sql.shuffle.partitions" -> "1")) eq clone)
    assert(clone.table("bridge_spec_view").count() == 3L, "the copy is stale")
    assert(GraftSessionBridge.rebind(caller.table("bridge_spec_view"), clone)
      .count() == 5L)
  }
}
