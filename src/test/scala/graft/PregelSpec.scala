package graft

import org.apache.spark.sql.functions._
import graft.graph.{Algorithms, Pregel}

class PregelSpec extends GraftSuite {
  import spark.implicits._

  test("maxValuePropagation on a connected graph equals agg(max)") {
    val v = Seq((0L, 3L), (1L, 9L), (2L, 1L), (3L, 7L)).toDF("id", "value")
    val e = Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 0L)).toDF("src", "dst")
    val res = Algorithms.maxValuePropagation(v, e).vertices
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(res.values.toSet == Set(9L))
    assert(res.keySet == Set(0L, 1L, 2L, 3L))
  }

  test("vote-to-halt stops before maxIter on the ring") {
    val v = Seq((0L, 5L), (1L, 2L), (2L, 8L)).toDF("id", "value")
    val e = Seq((0L, 1L), (1L, 2L), (2L, 0L)).toDF("src", "dst")
    val res = Algorithms.maxValuePropagation(v, e, maxIter = 100)
    assert(res.supersteps < 100, "should halt by vote, not iteration cap")
    assert(res.vertices.select("value").as[Long].collect().forall(_ == 8L))
  }

  test("pageRank matches a hand-computed fixed point on a 4-node graph") {
    // 0->1, 0->2, 1->2, 2->0, 3->2 (3 is a source; 0..2 strongly connected)
    val edges = Seq((0, 1), (0, 2), (1, 2), (2, 0), (3, 2))
    val v = Seq(0, 1, 2, 3).toDF("id")
    val e = edges.toDF("src", "dst")
    val iters = 12
    // reference update rule computed in plain Scala
    val out = edges.groupBy(_._1).view.mapValues(_.size).toMap
    var pr = Array.fill(4)(1.0 / 4)
    for (_ <- 1 to iters) {
      val msgs = Array.fill(4)(0.0)
      for ((s, d) <- edges) msgs(d) += pr(s) / out(s)
      pr = Array.tabulate(4)(i => 0.15 / 4 + 0.85 * msgs(i))
    }
    val got = Algorithms.pageRank(v, e, iters)
      .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
    for (i <- 0 to 3)
      assert(math.abs(got(i) - pr(i)) < 1e-12, s"vertex $i: ${got(i)} vs ${pr(i)}")
  }

  test("pageRank mass is conserved when no vertex dangles") {
    val total = Algorithms.q32PageRank(spark, sf)
      .agg(sum("pagerank")).as[Double].head()
    assert(math.abs(total - 1.0) < 1e-3)
  }

  test("dynamic topology: adding an edge between supersteps changes reach") {
    // G7 parity: edges are data — re-running with an extra edge row is the
    // reference's subscribe() in DataFrame form.
    val v = Seq((0L, 9L), (1L, 1L), (2L, 1L)).toDF("id", "value")
    val e1 = Seq((0L, 1L)).toDF("src", "dst")
    val r1 = Algorithms.maxValuePropagation(v, e1).vertices
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(r1(2L) == 1L) // vertex 2 unreachable
    val e2 = e1.union(Seq((1L, 2L)).toDF("src", "dst"))
    val r2 = Algorithms.maxValuePropagation(v, e2).vertices
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(r2(2L) == 9L) // now reached
  }

  test("k-core via mid-run edge deletion matches from-scratch recomputation") {
    // Independent check: a plain-Scala peel loop that recomputes degrees
    // from scratch each round — no Pregel, no incremental edge state.
    val n = 40
    val k = 3
    val dir = (for {
      i <- 0 until n
      j <- Seq((i * 7 + 3) % n, (i * 11 + 5) % n) if i != j
    } yield (i.toLong, j.toLong)).distinct
    val und = (dir ++ dir.map(_.swap)).distinct
    var alive = (0 until n).map(_.toLong).toSet
    var changed = true
    while (changed) {
      val live = und.filter(e => alive(e._1) && alive(e._2))
      val deg = live.groupBy(_._1).view.mapValues(_.size).toMap
      val next = alive.filter(v => deg.getOrElse(v, 0) >= k)
      changed = next != alive
      alive = next
    }
    val got = Algorithms.kCore(
        (0 until n).map(_.toLong).toDF("id"), und.toDF("src", "dst"), k)
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(got.keySet == (0 until n).map(_.toLong).toSet)
    assert(got.filter(_._2).keySet == alive,
      s"pregel core ${got.filter(_._2).keySet} != recomputed $alive")
  }

  test("updateEdges hook can ADD edges mid-run (subscribe parity)") {
    // The reference's subscribe(): a vertex starts hearing a new topic
    // mid-computation. Here the 1→2 link carries messages only from
    // superstep 1 on: the edge's `from` column gates the send against the
    // superstep index `t` each vertex carries in its state. A static
    // topology without that edge leaves vertex 2 at its initial value
    // (previous test), so 2 reaching 9 proves the mid-run subscribe.
    val v = Seq((0L, 9L), (1L, 1L), (2L, 1L)).toDF("id", "value")
      .withColumn("t", lit(0))
    val e = Seq((0L, 1L, 0), (1L, 2L, 1)).toDF("src", "dst", "from")
    def run(maxIter: Int) = Pregel.run(v, e, maxIter,
      sendMsg = when(col("from") <= col("t"), col("value")), mergeMsg = max,
      vprog = (df, step) => df.select(col("id"),
        greatest(col("value"), coalesce(col("msg"), col("value"))).as("value"),
        lit(step + 1).as("t"),
        coalesce(col("msg") <= col("value"), lit(true)).as("halt")))
      .vertices.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val first = run(1)
    assert(first(1L) == 9L && first(2L) == 1L,
      s"the 1→2 edge must be silent in superstep 0: $first")
    val got = run(10)
    assert(got(2L) == 9L, s"edge added at step 1 must carry the max: $got")
  }

  test("lineage stays bounded across checkpoint cadence") {
    // 30 supersteps must not blow the plan up — this is the
    // Pregel-lineage risk from SURVEY §7; each block's checkpoint cuts it.
    val v = Seq((0L, 0L), (1L, 0L)).toDF("id", "value")
    val e = Seq((0L, 1L), (1L, 0L)).toDF("src", "dst")
    val res = Pregel.run(
      v, e, maxIter = 30,
      sendMsg = col("value") + 1,
      mergeMsg = max,
      vprog = (df, _) => df.select(col("id"),
        greatest(col("value"), coalesce(col("msg"), col("value"))).as("value")))
    assert(res.supersteps == 30)
    val vals = res.vertices.select("value").as[Long].collect()
    assert(vals.forall(_ >= 29L))
  }

  test("connectedComponents runs to convergence by default: a 40-vertex " +
      "path is one component") {
    // diameter 39: any fixed superstep cap below it would leave the far
    // end of the path with its own label, splitting the component silently
    val n = 40L
    val path = (0L until n - 1).map(i => (i, i + 1))
    val got = Algorithms.connectedComponents((0L until n).toDF("id"),
        (path ++ path.map(_.swap)).toDF("src", "dst"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.size == n)
    assert(got.values.toSet == Set(0L), s"labels: ${got.values.toSet}")
  }

  test("triangle counts: known graph, normalization of dups/direction/loops") {
    // two disjoint triangles {1,2,3} and {4,5,6} bridged by 3-4; edge 1-2
    // appears duplicated AND reversed, plus a self-loop — all must
    // normalize away. A star center (7 with leaves 8,9,10) closes nothing.
    val edges = Seq(
      (1L, 2L), (2L, 1L), (1L, 2L), (2L, 3L), (1L, 3L),
      (4L, 5L), (5L, 6L), (4L, 6L), (3L, 4L), (7L, 7L),
      (7L, 8L), (7L, 9L), (7L, 10L))
      .toDF("src", "dst")
    val got = Algorithms.triangleCounts(edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      4L -> 1L, 5L -> 1L, 6L -> 1L))
  }

  test("labelPropagation recovers two bridged triangles") {
    // triangles {0,1,2} and {3,4,5} with one bridge 2-3: the triangle
    // majority out-votes the bridge, so communities settle to the min id
    // of each triangle — hand-simulated fixed point {0,0,0,3,3,3}
    val v = (0L to 5L).toDF("id")
    val und = Seq((0L, 1L), (1L, 2L), (0L, 2L),
      (3L, 4L), (4L, 5L), (3L, 5L), (2L, 3L))
    val e = (und ++ und.map(_.swap)).toDF("src", "dst")
    val got = Algorithms.labelPropagation(v, e, iters = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(0L -> 0L, 1L -> 0L, 2L -> 0L,
      3L -> 3L, 4L -> 3L, 5L -> 3L))
  }

  test("durable checkpoint: a killed run resumes to the uninterrupted result") {
    // min-label propagation on a directed 20-ring: label 0 travels one hop
    // per superstep, so convergence genuinely needs ~20 supersteps and an
    // interrupt at 6 leaves visibly unconverged state
    val n = 20
    val dir = java.nio.file.Files.createTempDirectory("graft_ckpt").toString
    val vertices = (0 until n).map(_.toLong).toDF("id")
      .select(col("id"), col("id").as("component"))
    val edges = (0 until n).map(i => (i.toLong, ((i + 1) % n).toLong))
      .toDF("src", "dst")
    def run(v0: org.apache.spark.sql.DataFrame, maxIter: Int, start: Int,
            durable: Option[String]) =
      Pregel.run(v0, edges, maxIter,
        sendMsg = col("component"), mergeMsg = min,
        vprog = (df, _) => df.select(col("id"),
          least(col("component"), coalesce(col("msg"), col("component")))
            .as("component"),
          coalesce(col("msg") >= col("component"), lit(true)).as("halt")),
        durableDir = durable, startStep = start)
    val uninterrupted = run(vertices, 40, 0, None).vertices
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(uninterrupted.values.forall(_ == 0L), "ring must converge to 0")
    // "crash" after 6 supersteps — durable state is on disk, mid-flight
    val partial = run(vertices, 6, 0, Some(dir)).vertices
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(partial.values.exists(_ != 0L), "interrupt must precede convergence")
    val Some((saved, savedStep)) = Pregel.resumeState(spark, dir)
    assert(savedStep == 6, s"marker at $savedStep")
    val resumed = run(saved, 40, savedStep, Some(dir)).vertices
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(resumed == uninterrupted)
    // the marker advanced past the interrupt point during the resume
    assert(Pregel.resumeState(spark, dir).get._2 > 6)
  }

  test("longestPathDag: heaviest chain wins over the direct edge") {
    // 1→2 (5), 2→3 (1), 1→3 (3): the 2-hop chain (6) beats the direct 3
    val v = Seq(1L, 2L, 3L, 4L).toDF("id")
    val e = Seq((1L, 2L, 5L), (2L, 3L, 1L), (1L, 3L, 3L))
      .toDF("src", "dst", "w")
    val got = Algorithms.longestPathDag(v, e, maxIter = 10).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 0L, 2L -> 5L, 3L -> 6L, 4L -> 0L), got.toString)
  }

  test("widestPath: longer wide route beats the direct narrow edge") {
    // 0→1 (4) direct, but 0→2 (9), 2→3 (9), 3→1 (5) gives bottleneck 5;
    // 4 is unreachable and must stay NULL
    val v = Seq(0L, 1L, 2L, 3L, 4L).toDF("id")
    val e = Seq((0L, 1L, 4L), (0L, 2L, 9L), (2L, 3L, 9L), (3L, 1L, 5L))
      .toDF("src", "dst", "w")
    val got = Algorithms.widestPath(v, e, sourceId = 0L).collect()
      .map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) -1L else r.getLong(1))).toMap
    assert(got == Map(0L -> 1000000L, 1L -> 5L, 2L -> 9L, 3L -> 9L,
      4L -> -1L), got.toString)
  }

  test("hits: star graph fixed point — center is the authority, leaves the hubs") {
    // leaves 1..3 each point at center 0; the exact fixed point (reached
    // in one iteration under max-normalization) is auth(0)=1, hub(leaf)=1,
    // auth(leaf)=0, hub(0)=0
    val v = Seq(0L, 1L, 2L, 3L).toDF("id")
    val e = Seq((1L, 0L), (2L, 0L), (3L, 0L)).toDF("src", "dst")
      .withColumn("w", lit(1.0))
    val got = Algorithms.hits(v, e, iters = 5).collect()
      .map(r => r.getLong(0) -> ((r.getDouble(1), r.getDouble(2)))).toMap
    assert(got(0L) == ((0.0, 1.0)), got.toString)
    (1L to 3L).foreach(i => assert(got(i) == ((1.0, 0.0)), got.toString))
  }

  test("ccAlternating AQE gate: small graphs replanning-free, big graphs skew-split") {
    // the calibration SKEW_AUDIT_r08.md measured: ungated AQE cost q112
    // +5.5s of per-round replanning on a ~50k-edge graph, while the
    // 6M-edge hub graph needs the split (104s → 38s). A retune that
    // flips either branch re-opens one of those regressions.
    val small = Algorithms.ccLoopConfs(50000L).toMap
    assert(small("spark.sql.adaptive.enabled") == "false", small.toString)
    assert(!small.contains("spark.sql.adaptive.skewJoin.enabled"))
    val big = Algorithms.ccLoopConfs(6000000L).toMap
    assert(big("spark.sql.adaptive.enabled") == "true", big.toString)
    assert(big("spark.sql.adaptive.skewJoin.enabled") == "true")
    // coalescing must stay off: the loop sizes its own shuffles
    assert(big("spark.sql.adaptive.coalescePartitions.enabled") == "false")
    // thresholds must stay row-hot-scale, not the 256 MB byte default
    // (factor 3 / 16m demonstrably missed the late-round straggler)
    assert(big("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes")
      == "4m")
    assert(big("spark.sql.adaptive.skewJoin.skewedPartitionFactor") == "2")
  }

  test("q201 provably exercises the gated AQE branch: its canonical edge " +
      "count clears the 1M gate") {
    // the proof chain behind q201's correctness row: (1) its ACTUAL edge
    // set, canonicalized exactly as ccAlternating's nE measures it
    // (undirected dedup, self-loops dropped), counts ≥ 1e6, (2)
    // ccLoopConfs at that count turns the AQE skew path on (pinned
    // above), and (3) ccAlternating applies ccLoopConfs(nE)
    // unconditionally — so a green q201 hash IS a correctness run
    // through the gated loop session.
    import org.apache.spark.sql.functions._
    val nCanonical = Algorithms.q201Edges(spark)
      .select(col("src").as("u"), col("dst").as("v"))
      .filter(col("u") =!= col("v"))
      .select(greatest(col("u"), col("v")).as("u"),
        least(col("u"), col("v")).as("v"))
      .distinct().count()
    assert(nCanonical == 1024L * 1023L + 768L, nCanonical)
    assert(nCanonical >= 1000000L)
    assert(Algorithms.ccLoopConfs(nCanonical).toMap
      .get("spark.sql.adaptive.skewJoin.enabled").contains("true"))
  }

  test("q204/q205 synthetic graphs are at the claimed scale and shape") {
    import org.apache.spark.sql.functions._
    // q204: 1,032,192 hub-cycle + 256 chain + 512 trim edges — the SCC
    // machinery (trim, ×2 encoding, 2-round settle) runs over ≥1M directed
    // edges in the correctness gate itself
    val e204 = Algorithms.q204Edges(spark)
    val n204 = e204.count()
    assert(n204 == 2L * 1023L * 512L + 256L + 512L, n204)
    assert(n204 >= 1000000L)
    // trim coverage is real: the 512 ids past the block range have
    // out-edges only (no in-edges), so round 1 MUST trim them
    val blockIds = 512L * 1024L
    assert(e204.filter(col("dst") >= blockIds).count() == 0L)
    assert(e204.filter(col("src") >= blockIds).count() == 512L)
    // q205: 1,548,288 star+cross edges; every center's tally window sees
    // exactly 126 incoming votes + its own label from round 2 on
    val e205 = Algorithms.q205Edges(spark)
    val n205 = e205.count()
    assert(n205 == 3L * 63L * 8192L, n205)
    assert(n205 >= 1000000L)
    val centerInDeg = e205.filter(col("dst") < 8192)
      .groupBy("dst").count().agg(min("count"), max("count")).head()
    assert(centerInDeg.getLong(0) == 126L && centerInDeg.getLong(1) == 126L)
  }

  test("q219/q220/q221/q222 synthetic graphs are at the claimed scale") {
    // q219: ring (1024·1024) + even-position skip (512·1024) edges
    assert(Algorithms.q219Edges(spark).count() == 1572864L)
    // q220: one root edge per chain + 7 chain edges per chain = 2^20
    assert(Algorithms.q220Edges(spark).count() == 1048576L)
    // q221: 32768 K9 blocks (36 pairs) + 32768 K5 blocks (10 pairs)
    assert(Algorithms.q221Edges(spark).count() == 1507328L)
    // q222: 12 undirected pairs per block, both directions
    assert(Algorithms.q222Edges(spark).count() == 1179648L)
    // q225/q226: the q220 tree + one decoy shortcut per block
    assert(Algorithms.q225Edges(spark).count() == 1048576L + 131072L)
    // q227: 63·2 wave-0 + 64·2 wave-1 spokes per block + paired bridges
    assert(Algorithms.q227Edges(spark).count() ==
      4096L * (63 * 2 + 64 * 2) + 4096L)
    // q228: landmark chain (3) + one root edge per block + 7-chains
    assert(Algorithms.q228Edges(spark).count() == 1048579L)
    // q229: q219's ring+skip volume, now weight-typed
    assert(Algorithms.q229Edges(spark).count() == 1572864L)
  }

  test("q228 small analog: per-landmark slots stay independent — reached " +
      "values exact, unreached slots null") {
    val blocks = 8L
    val n = blocks * 8L
    val got = Algorithms.landmarkBfs(
        spark.range(n + 4).select(col("id")),
        Algorithms.q228Edges(spark, blocks),
        landmarks = Seq(n, n + 1, n + 2, n + 3), maxIter = 14)
      .filter(col("id") < n)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (if (r.isNullAt(2)) None else Some(r.getLong(2)))).toMap
    assert(got.size == n * 4)
    for (g <- 0L until blocks; j <- 0L until 8L; a <- 0L until 4L) {
      val k = g % 4
      val exp = if (k >= a) Some((k - a) + 1 + j) else None
      assert(got((g * 8 + j, n + a)) == exp, s"vertex ${g * 8 + j} slot $a")
    }
  }

  test("q227 small analog: waves arrive on schedule and the last-wave " +
      "bridge merges converged blocks") {
    val blocks = 4L
    val m = Algorithms.q227BlockSize
    val got = Algorithms.incrementalComponents(
        spark.range(blocks * m).select(col("id")),
        Algorithms.q227Edges(spark, blocks), "wave", lastWave = 2,
        maxIter = 8)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.size == blocks * m)
    got.foreach { case (id, comp) =>
      assert(comp == (id / 256) * 256, s"vertex $id -> $comp")
    }
    // the merge is genuinely the bridge's doing: without wave 2 the
    // fixed point is per-BLOCK (128-sized), so the 256-range labels
    // above can only come from a bridge applied after convergence
    val noBridge = Algorithms.incrementalComponents(
        spark.range(blocks * m).select(col("id")),
        Algorithms.q227Edges(spark, blocks).filter(col("wave") < 2),
        "wave", lastWave = 1, maxIter = 8)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    noBridge.foreach { case (id, comp) =>
      assert(comp == (id / m) * m, s"no-bridge vertex $id -> $comp")
    }
  }

  test("q225/q226 small analogs: widest takes the chain bottleneck over " +
      "the decoy; critical takes the full path sum") {
    val blocks = 8L
    val L = Algorithms.q220ChainLen
    val n = blocks * L
    def chainMin(g: Long, j: Long): Long =
      ((g % 97 + 1) +: (0L until j).map(i => (g + i) % 7 + 1)).min
    def pathSum(g: Long, j: Long): Long =
      (g % 97 + 1) + (0L until j).map(i => (g + i) % 7 + 1).sum
    val wide = Algorithms.widestPath(
        spark.range(n + 1).select(col("id")),
        Algorithms.q225Edges(spark, blocks), sourceId = n, maxIter = 12)
      .filter(col("id") < n)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val crit = Algorithms.longestPathDag(
        spark.range(n + 1).select(col("id")),
        Algorithms.q225Edges(spark, blocks), maxIter = 12)
      .filter(col("id") < n)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    var decoyRejected = 0
    for (g <- 0L until blocks; j <- 0L until L) {
      assert(wide(g * L + j) == chainMin(g, j), s"widest at ${g * L + j}")
      assert(crit(g * L + j) == pathSum(g, j), s"critical at ${g * L + j}")
      // the decoy path (width 1 / the smaller sum) reaches every j ≥ 4;
      // count the vertices where the max-merge had a REAL choice to get
      // wrong, so this analog can't pass vacuously
      if (j >= 4 && chainMin(g, j) > 1) decoyRejected += 1
    }
    assert(decoyRejected > 0, "no vertex ever contested the decoy path")
  }

  test("q219 small analog: pageRank iterates equal the two-variable " +
      "recurrence exactly (bit-for-bit, no rounding)") {
    // 4 blocks × 1024 — same generator, same parity structure; expected
    // values computed in plain Scala with the IDENTICAL double ops the
    // operator's expression tree performs, compared with == on doubles:
    // the class-uniformity + order-invariance argument says the
    // distributed run cannot produce anything else
    val blocks = 4L
    val n = blocks * Algorithms.q219BlockSize
    val c = (1.0 - 0.85) / n
    var a = 1.0 / n
    var b = 1.0 / n
    for (_ <- 1 to Algorithms.q219Iters) {
      val a2 = c + 0.85 * (b / 2)
      val b2 = c + 0.85 * (a + b / 2)
      a = a2; b = b2
    }
    val got = Algorithms.pageRank(
        spark.range(n).select(col("id")),
        Algorithms.q219Edges(spark, blocks), Algorithms.q219Iters)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got.size == n)
    got.foreach { case (id, pr) =>
      assert(pr == (if (id % 2 == 1) a else b),
        s"vertex $id: got $pr, expected ${if (id % 2 == 1) a else b}")
    }
  }

  test("q229 small analog: HITS iterates equal the four-variable " +
      "recurrence exactly (bit-for-bit, no rounding)") {
    // 4 blocks × 1024 — q219's parity structure with type-keyed weights
    // (ring 1, skip 3); expected values computed in plain Scala with the
    // identical double ops (≤2-term sums, exact 1·x / 3·x multiplies,
    // order-invariant max normalizer), compared with == on doubles
    val blocks = 4L
    val n = blocks * Algorithms.q219BlockSize
    var he = 1.0; var ho = 1.0; var ae = 0.0; var ao = 0.0
    for (_ <- 1 to Algorithms.q229Iters) {
      val are = 1.0 * ho + 3.0 * he; val aro = 1.0 * he
      val ma = math.max(are, aro); ae = are / ma; ao = aro / ma
      val hre = 1.0 * ao + 3.0 * ae; val hro = 1.0 * ae
      val mh = math.max(hre, hro); he = hre / mh; ho = hro / mh
    }
    val got = Algorithms.hits(
        spark.range(n).select(col("id")),
        Algorithms.q229Edges(spark, blocks), Algorithms.q229Iters)
      .collect().map(r => r.getLong(0) -> ((r.getDouble(1), r.getDouble(2))))
      .toMap
    assert(got.size == n)
    got.foreach { case (id, (hub, auth)) =>
      val (eh, ea) = if (id % 2 == 0) (he, ae) else (ho, ao)
      assert(hub == eh && auth == ea,
        s"vertex $id: got ($hub, $auth), expected ($eh, $ea)")
    }
  }

  test("q236 small analog: trustRank iterates equal the two-variable " +
      "recurrence exactly — the teleport stays on the seed class") {
    // 4 blocks × 1024, seeds = the even class (nS = n/2, so 1/nS is an
    // exact power-of-two double); same float-safety envelope as q219
    val blocks = 4L
    val n = blocks * Algorithms.q219BlockSize
    val nS = n / 2
    var ve = 1.0 / nS
    var vo = 0.0
    for (_ <- 1 to Algorithms.q219Iters) {
      val ve2 = (1.0 - 0.85) * (1.0 / nS) + 0.85 * (vo + ve / 2)
      val vo2 = (1.0 - 0.85) * 0.0 + 0.85 * (ve / 2)
      ve = ve2; vo = vo2
    }
    val seeds = spark.range(n).select(col("id"))
      .filter(pmod(col("id"), lit(2L)) === 0)
    val got = Algorithms.trustRank(
        spark.range(n).select(col("id")),
        Algorithms.q219Edges(spark, blocks), seeds, Algorithms.q219Iters)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got.size == n)
    got.foreach { case (id, tr) =>
      assert(tr == (if (id % 2 == 0) ve else vo),
        s"vertex $id: got $tr, expected ${if (id % 2 == 0) ve else vo}")
    }
  }

  test("q220 small analog: SSSP distances equal the unique path sums") {
    val blocks = 8L
    val L = Algorithms.q220ChainLen
    val n = blocks * L
    val got = Algorithms.shortestPaths(
        spark.range(n + 1).select(col("id")),
        Algorithms.q220Edges(spark, blocks), sourceId = n, maxIter = 12)
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
    assert(got(n).contains(0L)) // the source itself
    for (g <- 0L until blocks; j <- 0L until L) {
      val exp = (g % 97 + 1) + (0L until j).map(i => (g + i) % 7 + 1).sum
      assert(got(g * L + j).contains(exp), s"vertex ${g * L + j}")
    }
  }

  test("q221 small analog: planted-clique triangle counts are exact") {
    val got = Algorithms.triangleCounts(Algorithms.q221Edges(spark, 2L))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // 2 K9 blocks: ids 0..17 with C(8,2)=28; 2 K5 blocks at the offset
    // base with C(4,2)=6
    assert(got.size == 28)
    (0L until 18L).foreach(id => assert(got(id) == 28L, s"K9 vertex $id"))
    (0L until 10L).foreach { i =>
      val id = Algorithms.q221K5Base + i
      assert(got(id) == 6L, s"K5 vertex $id")
    }
  }

  test("q222 small analog: the 2-core is exactly the cliques and the " +
      "chain peels one vertex per round") {
    val blocks = 3L
    val got = Algorithms.kCore(
        spark.range(blocks * 10).select(col("id")),
        Algorithms.q222Edges(spark, blocks), k = 2, maxIter = 10)
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(got.size == blocks * 10)
    got.foreach { case (id, inCore) =>
      assert(inCore == (id % 10 <= 3), s"vertex $id")
    }
    // peel-cadence guard: at maxIter = 3 the 6-vertex chain CANNOT have
    // finished peeling (one death per round), so the run must disagree
    // with the fixed point somewhere — proving the gate's 10 rounds are
    // genuinely iterative, not a single-step filter
    val early = Algorithms.kCore(
        spark.range(blocks * 10).select(col("id")),
        Algorithms.q222Edges(spark, blocks), k = 2, maxIter = 3)
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(early.exists { case (id, inCore) => inCore != (id % 10 <= 3) },
      "3 peel rounds already reached the fixed point — the chain should " +
        "need 6")
  }
}
