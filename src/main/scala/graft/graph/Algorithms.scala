package graft.graph

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.GraftSessionBridge
import org.apache.spark.storage.StorageLevel
import graft.Tables

/** The reference's two golden vertex programs on the [[Pregel]] loop. */
object Algorithms {

  /** PageRank with the reference's exact update rule
    * (`/root/reference/examples/pagerank/pagerank.py:28-45`):
    * `val = (1-d)/N + d * Σ incoming`, message = `val / outdeg`, fixed
    * iteration cap (superstep 30 in the example). Dangling vertices send
    * nothing (the reference would divide by zero — `pagerank.py:41`; we
    * simply emit no message, the standard fix).
    *
    * @param vertices `id` column (any numeric/string type)
    * @param edges    `src`, `dst`; parallel edges count multiply, exactly
    *                 like duplicate entries in the reference's out-list
    */
  def pageRank(vertices: DataFrame, edges: DataFrame, iters: Int,
               damping: Double = 0.85): DataFrame = {
    val n = vertices.count()
    val outdeg = edges.groupBy(col("src").as("id"))
      .agg(count(lit(1)).as("outdeg"))
    val v0 = vertices.select(col("id"))
      .join(outdeg, Seq("id"), "left_outer")
      .select(col("id"), lit(1.0 / n).as("val"),
        coalesce(col("outdeg"), lit(0L)).as("outdeg"))
    Pregel.run(
      v0, edges, maxIter = iters,
      // guarded division: messages only flow along edges (outdeg > 0
      // there by construction), but Catalyst may push this projection
      // below the edge join and evaluate it on DANGLING vertices too —
      // where a bare val/outdeg is an ANSI divide-by-zero crash
      sendMsg = when(col("outdeg") > 0, col("val") / col("outdeg")),
      mergeMsg = sum,
      vprog = (df, _) => df.select(
        col("id"),
        (lit((1.0 - damping) / n) +
          lit(damping) * coalesce(col("msg"), lit(0.0))).as("val"),
        col("outdeg")),
      // fixed iteration count → block-batching is exact, not approximate
      // (blockSize=3 is the measured planning sweet spot — see Pregel's
      // adaptive-blocks rejection note). Finer loop partitions: the
      // rank/outdeg arithmetic is compute-heavy per row (measured −19%
      // on q219 at 131072 vs the 500k default; see rowsPerLoopPartition)
      blockSize = 3, rowsPerPartition = 131072L)
      .vertices.select(col("id"), col("val").as("pagerank"))
  }

  /** Max-value propagation — the "highest" example
    * (`/root/reference/examples/highest/highest.py:26-43`): each vertex
    * keeps the max of its value and incoming messages, forwards its value,
    * votes halt when nothing changed. On a connected graph this converges
    * to the global max — which is exactly what the q33 oracle asserts.
    *
    * @param vertices `id` + long `value`
    */
  def maxValuePropagation(vertices: DataFrame, edges: DataFrame,
                          maxIter: Int = 50): PregelResult =
    Pregel.run(
      vertices, edges, maxIter,
      sendMsg = col("value"),
      mergeMsg = max,
      vprog = (df, _) => df.select(
        col("id"),
        greatest(col("value"), coalesce(col("msg"), col("value"))).as("value"),
        // halt unless a strictly greater value arrived (highest.py:29-33)
        coalesce(col("msg") <= col("value"), lit(true)).as("halt")),
      // max-propagation is monotone: the converged state is a fixed point,
      // so overshooting the vote by < blockSize supersteps is a no-op
      blockSize = 3)

  /** Connected components by min-label propagation: every vertex starts as
    * its own component (its id) and adopts the smallest label reachable
    * over undirected edges; halts when no label decreases. The third
    * golden vertex program — and the step that finishes a dedup pipeline:
    * near-dup PAIRS become canonical CLUSTERS only after a transitive
    * closure, which is exactly what this computes (see q47).
    *
    * @param edges directed rows; pass both directions for undirected CC
    * @param maxIter superstep cap. The default runs until the halt vote,
    *        which min-label propagation always reaches (labels only
    *        decrease); a smaller cap returns unconverged labels — a
    *        component whose diameter exceeds it splits — with no signal
    */
  def connectedComponents(vertices: DataFrame, edges: DataFrame,
                          maxIter: Int = Int.MaxValue,
                          durableDir: Option[String] = None): DataFrame =
    Pregel.run(
      vertices.select(col("id"), col("id").as("component")),
      edges, maxIter,
      sendMsg = col("component"),
      mergeMsg = min,
      vprog = (df, _) => df.select(
        col("id"),
        least(col("component"), coalesce(col("msg"), col("component")))
          .as("component"),
        // halt unless a strictly smaller label arrived
        coalesce(col("msg") >= col("component"), lit(true)).as("halt")),
      // min-label propagation is monotone (see maxValuePropagation)
      blockSize = 3, durableDir = durableDir).vertices

  /** AQE policy for the alternating-star loop session, keyed on edge
    * count — extracted so the gate is pinned by a spec, not just prose.
    *
    * AQE on for ONE reason, and only on BIG graphs: skew-join splitting.
    * Star contraction concentrates the giant component's adjacency on
    * its center key, so the und⋈min join's hub partition becomes the
    * round's straggler (10×-edge audit: ratio 4-6 on late rounds; fix
    * measured 104 s → 38 s at 6M edges). AQE splits that partition and
    * replicates the 1-row-per-key min side; partition COALESCING stays
    * off because the loop already sizes its shuffles to the edge count,
    * and the skew thresholds are lowered from the 256 MB default because
    * a hub partition here is hot in rows, not gigabytes (at factor 3 /
    * 16 MB the splitter ignored the exact late-round straggler it
    * targets — the loop frame SHRINKS as stars contract). The size gate
    * exists because per-stage replanning is driver overhead paid every
    * round: on the sf0.1 corpus graph (~50k edges, no giant component)
    * blanket AQE cost +5.5 s over 18 rounds with nothing to split; 1M
    * edges ≈ the point where one hub partition outweighs ~0.3 s/round
    * of replanning. */
  private[graft] def ccLoopConfs(nE: Long): Seq[(String, String)] =
    if (nE >= 1000000L) Seq(
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "4m",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "4m")
    else Seq("spark.sql.adaptive.enabled" -> "false")

  /** Connected components WITHOUT a vertex program: the alternating
    * large-star/small-star algorithm (Kiveris et al., "Connected
    * Components in MapReduce and Beyond", SoCC'14) — the formulation used
    * for trillion-edge graphs, here as a complement to the Pregel
    * [[connectedComponents]] so the engine carries both iterative
    * paradigms. Each round is two agg+join passes over the EDGE set:
    *
    *   large-star: per node u with m = min(N(u) ∪ {u}), rewire every
    *   BIGGER neighbor v > u to (v, m) — after it, all edges point
    *   big → small;
    *   small-star: per node u with m = min(N(u)), rewire the smaller
    *   neighbors (and u itself) to m.
    *
    * Both steps preserve connectivity and strictly shrink the potential,
    * converging in O(log n) rounds to one star per component rooted at
    * its minimum id — the same min-label result the Pregel form and the
    * q47 recursive-CTE oracle produce (pinned by a property spec).
    *
    * Scale shape vs Pregel CC: no vertex-state join, no vote aggregate —
    * each half-round is one groupBy(min) on node id plus one equi-join
    * back, everything edge-partitioned; a high-degree hub is ONE group in
    * a partial-aggregated min, not a window. Convergence is detected by
    * an (edge-count, hash-sum) checksum going stable: the probe of each
    * round's [[Pregel.advance]]. The result reads the last round's
    * checkpoint, the only one a finished run keeps.
    */
  def ccAlternating(vertices: DataFrame, edges: DataFrame,
                    maxRounds: Int = 20): DataFrame = {
    // canonical undirected edge set: deduped, self-loops dropped,
    // stored big -> small (one small-star's precondition, and exactly
    // what large-star emits)
    val canonical = edges
      .select(col("src").as("u"), col("dst").as("v"))
      .filter(col("u") =!= col("v"))
      .select(greatest(col("u"), col("v")).as("u"),
        least(col("u"), col("v")).as("v"))
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    // Pregel's loop session (see Pregel.loopSession): each round runs ~5
    // shuffles over a GRAPH-sized frame — at the session's default
    // partition count a small graph pays rounds×shuffles×parts near-empty
    // tasks of pure scheduler overhead (measured 19s → ~4s on the q112
    // corpus at local[32]). Size the loop shuffles to the edge count; the
    // AQE settings are ccLoopConfs' size gate.
    val nE = canonical.count() // also materializes the edge cache
    val (loopSession, _) = Pregel.loopSession(vertices.sparkSession, nE,
      confs = ccLoopConfs(nE))
    var e = GraftSessionBridge.rebind(canonical, loopSession)
    try {
      var prev = (-1L, 0L)
      var round = 0
      var done = false
      while (!done && round < maxRounds) {
        val und = e.union(e.select(col("v").as("u"), col("u").as("v")))
        val lsMin = und.groupBy(col("u"))
          .agg(min(col("v")).as("mv"))
          .select(col("u"), least(col("u"), col("mv")).as("m"))
        // Large-star output dedups under an EXPLICIT hash(u) repartition
        // so the whole small-star step reuses that one exchange (guide
        // §2.4): HashPartitioning(u) satisfies the (u, v) dedup's
        // clustering (same u ⟹ same partition), the min aggregate, AND
        // both sides of the join back — the old shape paid a (u, v)
        // distinct exchange, then re-shuffled ls by u for the join
        // (A/B-pinned: q201 iso median 28.8 → 25.7 s; q112's 50k-edge
        // corpus graph reads +0.5 s of repartition fixed cost, inside
        // its noise band). The u key here is the round's BIG endpoints,
        // not the star center, so usually no hub partition forms. The
        // exception is a max-id hub: a high-degree vertex whose id
        // exceeds its neighbors' receives one row per neighbor under
        // its single u key before the dedup, an unsplittable straggler
        // on such adversarial graphs (results are unaffected). The
        // und⋈lsMin join above keeps the AQE-splittable shuffle that
        // guards the star center key.
        val ls = und.join(lsMin, "u").filter(col("v") > col("u"))
          .select(col("v").as("u"), col("m").as("v"))
          .repartition(col("u")).dropDuplicates()
        val ssMin = ls.groupBy(col("u")).agg(min(col("v")).as("m"))
        val ssRaw = ls.join(ssMin, "u").filter(col("v") =!= col("m"))
          .select(col("v").as("u"), col("m").as("v"))
          .union(ssMin.select(col("u"), col("m").as("v")))
          .distinct()
        // (count, xor-of-hashes): order-independent, overflow-free under
        // ANSI; the rows are distinct so this is a set checksum
        val (ss, chk) = Pregel.advance(Option.when(round > 0)(e), ssRaw,
          count(lit(1)), bit_xor(xxhash64(col("u"), col("v"))))
        val cur = (chk.getLong(0), if (chk.isNullAt(1)) 0L else chk.getLong(1))
        done = cur == prev
        prev = cur
        e = ss
        round += 1
      }
      vertices.select(col("id"))
        .join(e.select(col("u").as("id"), col("v").as("component")),
          Seq("id"), "left_outer")
        .select(col("id"),
          coalesce(col("component"), col("id")).as("component"))
    } finally canonical.unpersist(false)
  }

  /** TrustRank (Gyöngyi et al., VLDB'04): PageRank with the teleport mass
    * concentrated on a trusted SEED set instead of spread uniformly —
    * `val = (1−d)·s_i + d·Σ incoming val/outdeg`, where `s_i = 1/|S|` for
    * seeds and 0 elsewhere. The web-corpus curation use: hand-vetted
    * domains seed trust, low-trust pages get down-weighted or dropped
    * before training. Identical Pregel shape to [[pageRank]] (same
    * message, same merge, same blocked supersteps); only the teleport
    * term differs, so everything said there about scale carries over. */
  def trustRank(vertices: DataFrame, edges: DataFrame, seeds: DataFrame,
                iters: Int, damping: Double = 0.85): DataFrame = {
    val nS = seeds.count()
    require(nS > 0, "trustRank: empty seed set")
    val outdeg = edges.groupBy(col("src").as("id"))
      .agg(count(lit(1)).as("outdeg"))
    val v0 = vertices.select(col("id"))
      .join(seeds.select(col("id"), lit(true).as("is_seed")), Seq("id"),
        "left_outer")
      .join(outdeg, Seq("id"), "left_outer")
      .select(col("id"),
        when(col("is_seed"), lit(1.0 / nS)).otherwise(lit(0.0)).as("seed"),
        when(col("is_seed"), lit(1.0 / nS)).otherwise(lit(0.0)).as("val"),
        coalesce(col("outdeg"), lit(0L)).as("outdeg"))
    Pregel.run(
      v0, edges, maxIter = iters,
      // guarded division: messages only flow along edges (outdeg > 0
      // there by construction), but Catalyst may push this projection
      // below the edge join and evaluate it on DANGLING vertices too —
      // where a bare val/outdeg is an ANSI divide-by-zero crash
      sendMsg = when(col("outdeg") > 0, col("val") / col("outdeg")),
      mergeMsg = sum,
      vprog = (df, _) => df.select(
        col("id"), col("seed"),
        ((lit(1.0) - lit(damping)) * col("seed") +
          lit(damping) * coalesce(col("msg"), lit(0.0))).as("val"),
        col("outdeg")),
      // finer loop partitions, same rationale as pageRank (−21% on q236)
      blockSize = 3, rowsPerPartition = 131072L)
      .vertices.select(col("id"), col("val").as("trust"))
  }

  /** k-core: the maximal subgraph where every vertex has degree ≥ k,
    * computed by iterative peeling — remove vertices with degree < k,
    * remove their edges, repeat until stable. The G7 edge-DELETION
    * program: a dead vertex unsubscribes (the reference's unsub,
    * `/root/reference/daemons/core/module_vertex.py:98-102`) by sending
    * nothing — `sendMsg` is gated on its own `alive` state, so dead
    * vertices stop contributing degree from the superstep after they die.
    *
    * Messages carry each live edge's +1 degree contribution; a vertex dies
    * when its degree drops below k, votes halt when its state is unchanged.
    * Returns every input vertex with an `in_core` flag.
    *
    * @param edges directed rows; pass both directions for the undirected
    *              degree semantics k-core assumes
    */
  def kCore(vertices: DataFrame, edges: DataFrame, k: Int,
            maxIter: Int = 50): DataFrame =
    Pregel.run(
      vertices.select(col("id"), lit(true).as("alive")),
      edges, maxIter,
      sendMsg = when(col("alive"), lit(1L)),
      mergeMsg = sum,
      vprog = (df, _) => df.select(
        col("id"),
        (col("alive") && coalesce(col("msg"), lit(0L)) >= k).as("alive"),
        // halt unless this round changed the vertex's fate
        ((col("alive") && coalesce(col("msg"), lit(0L)) >= k) === col("alive"))
          .as("halt")))
      .vertices.select(col("id"), col("alive").as("in_core"))

  /** Incremental connected components — the G7 edge-ADDITION counterpart
    * of [[kCore]]'s deletion-only peeling: edges arrive in WAVES, wave w
    * carrying messages from superstep w on (the reference's subscribe — a
    * vertex starts hearing from NEW sources mid-computation,
    * `/root/reference/daemons/core/module_vertex.py:98-102`). Every edge
    * is cached once with its wave; each vertex carries the index `t` of
    * the superstep it is about to run in its state, and `sendMsg` is
    * gated on `wave <= t`, so an edge is silent until its wave arrives.
    *
    * A converged region can be re-awakened by a later wave's edges, so a
    * vertex may not vote halt while waves are still arriving — the vote is
    * gated on `step >= lastWave`. Once every wave is live, min-label
    * propagation reaches the same fixed point as CC over the FULL edge
    * set, independent of the arrival schedule: that schedule-independence
    * is exactly what the oracle (recursive-CTE closure over all edges) and
    * the recompute property spec certify.
    *
    * @param allEdges directed rows carrying `waveCol` (pass both
    *        directions for undirected CC, same wave on both)
    * @param lastWave largest wave value; maxIter must exceed it by at
    *        least the post-arrival propagation diameter
    */
  def incrementalComponents(vertices: DataFrame, allEdges: DataFrame,
                            waveCol: String, lastWave: Int,
                            maxIter: Int = 30): DataFrame = {
    require(maxIter > lastWave,
      s"maxIter=$maxIter leaves no supersteps after the last wave ($lastWave)")
    Pregel.run(
      vertices.select(col("id"), col("id").as("component"), lit(0).as("t")),
      allEdges.select(col("src"), col("dst"), col(waveCol).as("wave")),
      maxIter,
      sendMsg = when(col("wave") <= col("t"), col("component")),
      mergeMsg = min,
      vprog = (df, step) => df.select(
        col("id"),
        least(col("component"), coalesce(col("msg"), col("component")))
          .as("component"),
        lit(step + 1).as("t"),
        (lit(step >= lastWave) &&
          coalesce(col("msg") >= col("component"), lit(true))).as("halt")))
      .vertices.select(col("id"), col("component"))
  }

  // --------------------------------------------------------------- queries

  /** Deterministic 25-node graph derived from `nation`: every node i has
    * out-edges i→(i+1)%25 and i→(3i+7)%25 (the second map is a bijection
    * since gcd(3,25)=1, so in-degree is 2 everywhere; node 22 emits a
    * parallel pair — deliberately, to pin multiset edge semantics). */
  private def nationEdges(spark: SparkSession, dir: String): DataFrame = {
    val nat = Tables.nation(spark, dir)
    nat.select(col("n_nationkey").as("src"),
        pmod(col("n_nationkey") + 1, lit(25)).as("dst"))
      .union(nat.select(col("n_nationkey").as("src"),
        pmod(col("n_nationkey") * 3 + 7, lit(25)).as("dst")))
  }

  /** Ring-only edges: i→(i+1)%25 — diameter 24, so q33 genuinely exercises
    * ~25 supersteps of vote-to-halt rather than converging instantly. */
  private def nationRing(spark: SparkSession, dir: String): DataFrame =
    Tables.nation(spark, dir).select(col("n_nationkey").as("src"),
      pmod(col("n_nationkey") + 1, lit(25)).as("dst"))

  val pageRankIters = 12

  def q32PageRank(spark: SparkSession, dir: String): DataFrame = {
    val v = Tables.nation(spark, dir).select(col("n_nationkey").as("id"))
    pageRank(v, nationEdges(spark, dir), pageRankIters)
      .select(col("id"), round(col("pagerank"), 6).as("pagerank"))
  }

  /** Oracle: the same fixed-point iteration unrolled as chained CTEs —
    * deterministic because every node's in-degree is 2 and two-term double
    * addition is order-invariant; ROUND(6) absorbs last-bit literal
    * differences. Generated, not hand-written, so Spark and SQL always
    * agree on the iteration count. */
  val q32PageRankSql: String = {
    val prelude = """
      WITH e AS (
        SELECT n_nationkey AS src, (n_nationkey + 1) % 25 AS dst FROM nation
        UNION ALL
        SELECT n_nationkey, (n_nationkey * 3 + 7) % 25 FROM nation
      ), d AS (SELECT src, COUNT(*) AS outdeg FROM e GROUP BY src),
      r0 AS (SELECT n_nationkey AS id, CAST(1.0 AS DOUBLE) / 25 AS val FROM nation)"""
    val steps = (1 to pageRankIters).map { i =>
      s""", r$i AS (
        SELECT n.n_nationkey AS id,
               (CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE)) / 25 +
               CAST(0.85 AS DOUBLE) * COALESCE(SUM(r.val / d.outdeg), 0) AS val
        FROM nation n
        LEFT JOIN e ON e.dst = n.n_nationkey
        LEFT JOIN r${i - 1} r ON r.id = e.src
        LEFT JOIN d ON d.src = e.src
        GROUP BY n.n_nationkey)"""
    }.mkString
    s"$prelude$steps\nSELECT id, ROUND(val, 6) AS pagerank FROM r$pageRankIters"
  }

  // --- q117_trustrank: seed-trust propagation on the nation graph ---------
  /** Seeds = multiples of 5 (five of the 25 nodes). Oracle: the identical
    * fixed-point unrolled as generated CTEs (q32's pattern) — the graph's
    * in-degree-2 regularity keeps the two-term double sums order-invariant,
    * and both engines build the teleport constants from the same literal
    * expression tree, so ROUND(6) only absorbs representation noise. */
  def q117TrustRank(spark: SparkSession, dir: String): DataFrame = {
    val v = Tables.nation(spark, dir).select(col("n_nationkey").as("id"))
    trustRank(v, nationEdges(spark, dir),
      v.filter(pmod(col("id"), lit(5)) === 0), pageRankIters)
      .select(col("id"), round(col("trust"), 6).as("trust"))
  }

  val q117TrustRankSql: String = {
    val seed = "CASE WHEN n_nationkey % 5 = 0 THEN CAST(1.0 AS DOUBLE) / 5 " +
      "ELSE CAST(0.0 AS DOUBLE) END"
    val prelude = s"""
      WITH e AS (
        SELECT n_nationkey AS src, (n_nationkey + 1) % 25 AS dst FROM nation
        UNION ALL
        SELECT n_nationkey, (n_nationkey * 3 + 7) % 25 FROM nation
      ), d AS (SELECT src, COUNT(*) AS outdeg FROM e GROUP BY src),
      t0 AS (SELECT n_nationkey AS id, $seed AS val FROM nation)"""
    val steps = (1 to pageRankIters).map { i =>
      s""", t$i AS (
        SELECT n.n_nationkey AS id,
               (CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE)) *
                 (CASE WHEN n.n_nationkey % 5 = 0
                       THEN CAST(1.0 AS DOUBLE) / 5
                       ELSE CAST(0.0 AS DOUBLE) END) +
               CAST(0.85 AS DOUBLE) * COALESCE(SUM(t.val / d.outdeg), 0)
                 AS val
        FROM nation n
        LEFT JOIN e ON e.dst = n.n_nationkey
        LEFT JOIN t${i - 1} t ON t.id = e.src
        LEFT JOIN d ON d.src = e.src
        GROUP BY n.n_nationkey)"""
    }.mkString
    s"$prelude$steps\nSELECT id, ROUND(val, 6) AS trust FROM t$pageRankIters"
  }

  // --- q158_hits: hubs & authorities (weighted HITS) ----------------------
  /** HITS (Kleinberg, JACM'99), edge-weighted, max-normalized: auth(v)
    * sums w·hub over v's in-edges, hub(u) sums w·auth over u's fresh
    * out-neighbors, and each half-step divides by the frame's maximum —
    * MAX, not the classical L2 norm, because max of doubles is
    * order-invariant and division by one shared scalar is exact, so the
    * DuckDB oracle (the same fixed point unrolled as generated CTEs,
    * q32's pattern) reproduces every iterate bit-for-bit. The ranking is
    * identical to any positive-scalar normalization. On the nation graph
    * every in/out-degree is 2, so each per-vertex sum has exactly two
    * double terms — commutatively exact in IEEE regardless of partial-agg
    * order; the WEIGHTS are what break the graph's regularity (unweighted
    * HITS on a 2-in/2-out-regular graph converges to the all-ones vector
    * — no evidence), and each w·score product is one exact IEEE multiply.
    *
    * Scale shape: per iteration, two id-keyed left joins + hash aggs (the
    * wordcount shuffle shape; a power-law hub key partial-aggregates
    * map-side like any hot groupBy key) and ONE 1-row max broadcast —
    * the q153 argmax discipline: the corpus-sized frame is never
    * reshuffled to learn the normalizer. Each half-step's raw scores go
    * through [[Pregel.advance]]: every normalize references its raw frame
    * TWICE (the scores and the max), so an uncut plan would double per
    * half-step — 2²⁴ nodes by iteration 12, OOM in plan stringification
    * long before execution cost matters. The result reads only the last
    * hub and authority checkpoints, the two a finished run keeps.
    *
    * Memory: while it runs, the loop caches TWO full copies of the edge
    * set (one per join orientation, below). A caller whose graph crowds
    * executor memory can trade one orientation back for an edge-side
    * Exchange per half-step. Not a [[Pregel.run]]: alternating the edge
    * direction there would double every superstep's join input. */
  def hits(vertices: DataFrame, edges: DataFrame, iters: Int): DataFrame = {
    // One edge cache per join orientation, hash-partitioned on the key its
    // half-step joins on (Pregel's edge-cache discipline): auth attaches
    // hub scores along src, hub attaches auth scores along dst. The score
    // checkpoints keep their aggregation's hash(id) partitioning and `ids`
    // is pre-partitioned, so a half-step's only exchange is its groupBy.
    val eSrc = edges.select(col("src"), col("dst"), col("w"))
      .repartition(col("src")).persist(StorageLevel.MEMORY_AND_DISK)
    val eDst = edges.select(col("src"), col("dst"), col("w"))
      .repartition(col("dst")).persist(StorageLevel.MEMORY_AND_DISK)
    val ids = vertices.select(col("id")).repartition(col("id"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // A half-step's raw scores, advanced. Contributions aggregate on the
    // edge⋈score join output BEFORE meeting the vertex list (guide §2.3):
    // every edge endpoint in `ids` has a score row and sum skips nulls, so
    // the left re-attach with coalesce(0) also covers zero-degree vertices.
    def step(prev: Option[DataFrame], e: DataFrame, scores: DataFrame,
             along: String, to: String): DataFrame =
      Pregel.advance(prev, ids.join(
        e.join(scores.select(col("id").as("sid"), col("score").as("s")),
            col(along) === col("sid"))
          .groupBy(col(to).as("id"))
          .agg(sum(col("w") * col("s")).as("raw0")),
        Seq("id"), "left_outer")
        .select(col("id"), coalesce(col("raw0"), lit(0.0)).as("raw")),
        count(lit(1)))._1
    // The normalizer stays a column: collected, it would be a double
    // literal inlined into generated code, new classes every iterate.
    def scores(raw: Option[DataFrame]): DataFrame =
      raw.fold(ids.select(col("id"), lit(1.0).as("score"))) { r =>
        // bcast-ok: a 1-row global max aggregate
        r.crossJoin(broadcast(r.agg(max(col("raw")).as("m"))))
          .select(col("id"),
            when(col("m") > 0, col("raw") / col("m")).otherwise(lit(0.0))
              .as("score"))
      }
    try {
      var hub, auth: Option[DataFrame] = None
      for (_ <- 1 to iters) {
        auth = Some(step(auth, eSrc, scores(hub), "src", "dst"))
        hub = Some(step(hub, eDst, scores(auth), "dst", "src"))
      }
      scores(hub).select(col("id"), col("score").as("hub"))
        .join(scores(auth).select(col("id"), col("score").as("auth")),
          Seq("id"))
    } finally Seq(eSrc, eDst, ids).foreach(_.unpersist(false))
  }

  val hitsIters = 12

  /** Deterministic weights on [[nationEdges]]: `(src + 2·dst) % 7 + 1` —
    * integer-derived in both engines, breaking the 2-regular symmetry. */
  def q158Hits(spark: SparkSession, dir: String): DataFrame = {
    val v = Tables.nation(spark, dir).select(col("n_nationkey").as("id"))
    val we = nationEdges(spark, dir).withColumn("w",
      (pmod(col("src") + lit(2) * col("dst"), lit(7)) + 1).cast("double"))
    hits(v, we, hitsIters)
      .select(col("id"), round(col("hub"), 6).as("hub"),
        round(col("auth"), 6).as("auth"))
  }

  /** Generated like q32's: one (ar, a, hr, h) CTE quartet per iteration,
    * max-normalizers as scalar subqueries with the same >0 guard. All
    * CTEs MATERIALIZED — the unrolled 48-CTE chain otherwise re-opens the
    * nation parquet per reference and trips "Too many open files". */
  val q158HitsSql: String = {
    val prelude = """
      WITH nat AS MATERIALIZED (SELECT n_nationkey FROM nation),
      e AS MATERIALIZED (
        SELECT src, dst, CAST((src + 2 * dst) % 7 + 1 AS DOUBLE) AS w FROM (
          SELECT n_nationkey AS src, (n_nationkey + 1) % 25 AS dst FROM nat
          UNION ALL
          SELECT n_nationkey, (n_nationkey * 3 + 7) % 25 FROM nat) ed
      ),
      h0 AS (SELECT n_nationkey AS id, CAST(1.0 AS DOUBLE) AS score FROM nat)"""
    val steps = (1 to hitsIters).map { i =>
      s""", ar$i AS MATERIALIZED (
        SELECT n.n_nationkey AS id,
               COALESCE(SUM(e.w * h.score), CAST(0.0 AS DOUBLE)) AS raw
        FROM nat n
        LEFT JOIN e ON e.dst = n.n_nationkey
        LEFT JOIN h${i - 1} h ON h.id = e.src
        GROUP BY n.n_nationkey),
      a$i AS MATERIALIZED (
        SELECT id, CASE WHEN (SELECT MAX(raw) FROM ar$i) > 0
                        THEN raw / (SELECT MAX(raw) FROM ar$i)
                        ELSE CAST(0.0 AS DOUBLE) END AS score
        FROM ar$i),
      hr$i AS MATERIALIZED (
        SELECT n.n_nationkey AS id,
               COALESCE(SUM(e.w * a.score), CAST(0.0 AS DOUBLE)) AS raw
        FROM nat n
        LEFT JOIN e ON e.src = n.n_nationkey
        LEFT JOIN a$i a ON a.id = e.dst
        GROUP BY n.n_nationkey),
      h$i AS MATERIALIZED (
        SELECT id, CASE WHEN (SELECT MAX(raw) FROM hr$i) > 0
                        THEN raw / (SELECT MAX(raw) FROM hr$i)
                        ELSE CAST(0.0 AS DOUBLE) END AS score
        FROM hr$i)"""
    }.mkString
    s"$prelude$steps\n      SELECT h.id AS id, ROUND(h.score, 6) AS hub," +
      s" ROUND(a.score, 6) AS auth\n      FROM h$hitsIters h" +
      s" JOIN a$hitsIters a ON a.id = h.id"
  }

  def q33MaxPropagation(spark: SparkSession, dir: String): DataFrame = {
    val v = Tables.nation(spark, dir)
      .select(col("n_nationkey").as("id"),
        col("n_nationkey").cast("long").as("value"))
    maxValuePropagation(v, nationRing(spark, dir)).vertices
  }

  /** maxProp on a connected graph ≡ the global max at every vertex. */
  val q33MaxPropagationSql: String = """
    SELECT n_nationkey AS id,
           (SELECT MAX(CAST(n_nationkey AS BIGINT)) FROM nation) AS value
    FROM nation"""

  /** Deterministic peel graph on the 25 nation keys: a 15-vertex chain
    * (0—1—…—14) attached to a 5-clique (15..19), a pendant 20—15, and
    * isolated 21..24. Its 2-core is exactly the clique, and the chain
    * peels ONE vertex per round — so q60 genuinely exercises ~16 rounds of
    * mid-run edge deletion, not a single-step filter. */
  private def peelGraph(spark: SparkSession, dir: String): DataFrame = {
    val nat = Tables.nation(spark, dir)
    val key = col("n_nationkey")
    val chain = nat.filter(key <= 14).select(key.as("a"), (key + 1).as("b"))
    val clique = nat.filter(key.between(15, 19)).select(key.as("a"))
      // cross-ok: 5×5 fixture clique over the fixed nation keys 15–19
      .crossJoin(nat.filter(key.between(15, 19)).select(key.as("b")))
      .filter(col("a") < col("b"))
    val pendant = nat.filter(key === 20).select(key.as("a"), lit(15).as("b"))
    val und = chain.union(clique).union(pendant)
    und.select(col("a").as("src"), col("b").as("dst"))
      .union(und.select(col("b").as("src"), col("a").as("dst")))
  }

  def q60KCore(spark: SparkSession, dir: String): DataFrame =
    kCore(Tables.nation(spark, dir).select(col("n_nationkey").as("id")),
      peelGraph(spark, dir), k = 2, maxIter = 40)

  /** Oracle: the same peeling unrolled as chained CTEs (q32's pattern —
    * generated, so round count is pinned in one place). The chain needs 15
    * rounds to drain; 17 gives a verified-stable margin. MATERIALIZED is
    * load-bearing: each round references the previous round's CTEs more
    * than once, so DuckDB's default CTE inlining would expand the chain
    * into 2^rounds scans (observed as fd exhaustion, not just slowness). */
  val q60KCoreSql: String = {
    val peelRounds = 17
    val prelude = """
      WITH und AS MATERIALIZED (
        SELECT n_nationkey AS a, n_nationkey + 1 AS b FROM nation
        WHERE n_nationkey <= 14
        UNION ALL
        SELECT i.n_nationkey, j.n_nationkey FROM nation i, nation j
        WHERE i.n_nationkey BETWEEN 15 AND 19
          AND j.n_nationkey BETWEEN 15 AND 19
          AND i.n_nationkey < j.n_nationkey
        UNION ALL
        SELECT 20, 15 FROM nation WHERE n_nationkey = 20
      ),
      e0 AS MATERIALIZED (
        SELECT a AS src, b AS dst FROM und UNION ALL SELECT b, a FROM und),
      v0 AS MATERIALIZED (SELECT n_nationkey AS id FROM nation)"""
    val steps = (1 to peelRounds).map { i => s""",
      d$i AS MATERIALIZED (
        SELECT src AS id, COUNT(*) AS deg FROM e${i - 1} GROUP BY src),
      v$i AS MATERIALIZED (
        SELECT v.id FROM v${i - 1} v JOIN d$i d ON d.id = v.id
        WHERE d.deg >= 2),
      e$i AS MATERIALIZED (
        SELECT e.src, e.dst FROM e${i - 1} e
        WHERE e.src IN (SELECT id FROM v$i)
          AND e.dst IN (SELECT id FROM v$i))"""
    }.mkString
    s"$prelude$steps\n      SELECT n_nationkey AS id, " +
      s"n_nationkey IN (SELECT id FROM v$peelRounds) AS in_core FROM nation"
  }

  // --- q82_triangles: per-vertex triangle counts --------------------------
  /** Per-vertex triangle counts via the degree-oriented wedge join — the
    * join-based algorithm (Cohen's MapReduce triangles / Suri–Vassilvitskii),
    * NOT a Pregel program: triangle counting is two equi-joins, and the
    * whole trick is bounding the wedge (2-path) blowup.
    *
    * Orientation: each undirected edge points from its (degree, id)-lesser
    * endpoint to its greater. Every wedge `u→v, u→w` then has its center u
    * ranked below both endpoints, so a vertex of degree d contributes at
    * most O(d·√m)-bounded oriented wedges overall — the hub that would
    * generate deg² wedges un-oriented generates almost none, because a
    * hub outranks most neighbors. Comparison is pairwise on a (deg, id)
    * struct: no global rank assignment, hence no single-task global sort.
    *
    * Shuffles: canonicalize+distinct (1), degree count (map-side partial),
    * degree attach (2 joins on vertex), the wedge self-join on the center
    * (1), and the closing semi-join on the (v,w) pair (1). Per-vertex
    * counts are orientation-independent, so the oracle replays plain
    * id-ordered counting — it certifies the OUTPUT, letting the plan keep
    * its scale-critical orientation.
    *
    * @param edges directed or undirected rows (`src`, `dst`); direction,
    *              duplicates, and self-loops are all normalized away */
  def triangleCounts(edges: DataFrame): DataFrame = {
    val und = edges
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct()
    val deg = graft.CacheRegistry.persist(
      und.select(col("a").as("v")).unionAll(und.select(col("b").as("v")))
        .groupBy("v").agg(count(lit(1)).as("d")))
    // orient each edge toward the (deg, id)-greater endpoint
    val oriented = graft.CacheRegistry.persist(
      und.join(deg.withColumnRenamed("v", "a").withColumnRenamed("d", "da"), "a")
        .join(deg.withColumnRenamed("v", "b").withColumnRenamed("d", "db"), "b")
        .select(
          when(struct(col("da"), col("a")) < struct(col("db"), col("b")),
            struct(col("a").as("lo"), col("b").as("hi"),
              col("da").as("dlo"), col("db").as("dhi")))
            .otherwise(struct(col("b").as("lo"), col("a").as("hi"),
              col("db").as("dlo"), col("da").as("dhi"))).as("e"))
        .select(col("e.lo").as("u"), col("e.hi").as("v"),
          col("e.dhi").as("dv")))
    // wedges centered on u, endpoints ordered by the same (deg, id) rank;
    // close each wedge against the oriented edge set
    val wedges = oriented.as("e1").join(oriented.as("e2"),
        col("e1.u") === col("e2.u") &&
          struct(col("e1.dv"), col("e1.v")) < struct(col("e2.dv"), col("e2.v")))
      .select(col("e1.u").as("x"), col("e1.v").as("y"), col("e2.v").as("z"))
    val tris = wedges.join(oriented.select(col("u").as("y"), col("v").as("z")),
      Seq("y", "z"), "left_semi")
    tris.select(explode(array(col("x"), col("y"), col("z"))).as("id"))
      .groupBy("id").agg(count(lit(1)).as("n_tri"))
  }

  /** Triangle-rich deterministic graph over customer: c→c+1, c→c+2, c→c+3
    * (targets filtered to existing keys), giving ~3 triangles per vertex
    * on the dense TPC-H key range — large enough (15k vertices at sf0.1)
    * that a wedge blowup would be visible in the bench. */
  def q82Triangles(spark: SparkSession, dir: String): DataFrame = {
    val keys = Tables.customer(spark, dir).select(col("c_custkey"))
    val edges = (1 to 3).map(off =>
        keys.select(col("c_custkey").as("src"),
          (col("c_custkey") + off).as("dst")))
      .reduce(_ unionAll _)
      .join(keys.withColumnRenamed("c_custkey", "dst"), Seq("dst"), "left_semi")
    triangleCounts(edges)
  }

  val q82TrianglesSql: String = """
    WITH k AS (SELECT c_custkey FROM customer),
    e0 AS (
      SELECT c_custkey AS src, c_custkey + 1 AS dst FROM k
      UNION ALL SELECT c_custkey, c_custkey + 2 FROM k
      UNION ALL SELECT c_custkey, c_custkey + 3 FROM k),
    e AS (SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
          FROM e0 WHERE dst IN (SELECT c_custkey FROM k) AND src <> dst),
    t AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z
          FROM e e1
          JOIN e e2 ON e2.a = e1.b
          JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b),
    m AS (SELECT x AS id FROM t UNION ALL SELECT y FROM t UNION ALL
          SELECT z FROM t)
    SELECT id, COUNT(*) AS n_tri FROM m GROUP BY id"""

  /** Single-source shortest paths over WEIGHTED edges — the program that
    * exercises the triplet's EDGE-ATTRIBUTE surface: each message is
    * dist + w with `w` read from the edge row, the one G2 capability no
    * other registered program touches (pageRank/CC/k-core messages carry
    * vertex state only). Bellman-Ford on BSP: unreached vertices hold
    * null, a vertex relaxes to the min incoming dist + w (`least`/`min`
    * skip nulls identically in both engines), votes halt when nothing
    * improved. Integer weights → bit-exact in any engine. */
  def shortestPaths(vertices: DataFrame, edges: DataFrame,
                    sourceId: Long, maxIter: Int = 50): DataFrame =
    Pregel.run(
      vertices.select(col("id"),
        when(col("id") === sourceId, lit(0L))
          .otherwise(lit(null).cast("long")).as("dist")),
      edges, maxIter,
      sendMsg = when(col("dist").isNotNull, col("dist") + col("w")),
      mergeMsg = min,
      vprog = (df, _) => df.select(
        col("id"),
        least(col("dist"), col("msg")).as("dist"),
        // halt unless this round strictly improved the distance
        (least(col("dist"), col("msg")) <=> col("dist")).as("halt")),
      // min-relaxation is monotone: the converged state is a fixed point
      blockSize = 3).vertices

  // --- q199_widest_path: max-bottleneck capacity from a source ------------
  /** Widest-path (max-bottleneck): for every vertex, the best achievable
    * MINIMUM edge weight along any path from the source — the
    * capacity-planning dual of [[shortestPaths]] (max-flow along a single
    * path, link-quality routing, weakest-link lineage). Same Pregel
    * relaxation with the bottleneck lattice: messages `least(width, w)`,
    * merge MAX, halt when no vertex improves. Monotone (widths only
    * grow, bounded by the max edge weight), so the fixed point lands
    * within |V| rounds on ANY graph — unlike max-PLUS relaxation
    * (q167), max-MIN needs no acyclicity: a cycle cannot raise its own
    * bottleneck. Unreached stays NULL; the source reports the `capInit`
    * sentinel (no incoming constraint), documented rather than
    * special-cased so the oracle replays the identical lattice. */
  def widestPath(vertices: DataFrame, edges: DataFrame, sourceId: Long,
                 capInit: Long = 1000000L, maxIter: Int = 50): DataFrame =
    Pregel.run(
      vertices.select(col("id"),
        when(col("id") === sourceId, lit(capInit))
          .otherwise(lit(null).cast("long")).as("width")),
      edges, maxIter,
      sendMsg = when(col("width").isNotNull, least(col("width"), col("w"))),
      mergeMsg = max,
      vprog = (df, _) => df.select(
        col("id"),
        greatest(col("width"), col("msg")).as("width"),
        (greatest(col("width"), col("msg")) <=> col("width")).as("halt")),
      blockSize = 3).vertices

  def q199WidestPath(spark: SparkSession, dir: String): DataFrame =
    widestPath(
      Tables.nation(spark, dir).select(col("n_nationkey").as("id")),
      weightedNationEdges(spark, dir), sourceId = 0L)

  /** q92's generated-round oracle with the bottleneck operators; 25
    * MATERIALIZED rounds ≥ |V| bounds the fixed point on the cyclic
    * graph. The relaxation term guards NULL explicitly: LEAST skips
    * NULLs in DuckDB, which would treat an UNREACHED upstream as
    * infinite capacity (q92's `dist + w` never hit this — addition
    * propagates NULL; min-composition does not). */
  val q199WidestPathSql: String = {
    val prelude = """
      WITH e0 AS (
        SELECT n_nationkey AS src, (n_nationkey + 1) % 25 AS dst FROM nation
        UNION ALL
        SELECT n_nationkey, (n_nationkey * 3 + 7) % 25 FROM nation),
      e AS MATERIALIZED (
        SELECT src, dst, (src * 7 + dst * 3) % 10 + 1 AS w FROM e0),
      d0 AS (SELECT n_nationkey AS id,
                    CASE WHEN n_nationkey = 0
                         THEN CAST(1000000 AS BIGINT) END AS width
             FROM nation)"""
    val steps = (1 to 25).map { k =>
      s""", d$k AS MATERIALIZED (
        SELECT n.n_nationkey AS id,
               GREATEST(p.width,
                        MAX(CASE WHEN q.width IS NOT NULL
                                 THEN LEAST(q.width, e.w) END)) AS width
        FROM nation n
        JOIN d${k - 1} p ON p.id = n.n_nationkey
        LEFT JOIN e ON e.dst = n.n_nationkey
        LEFT JOIN d${k - 1} q ON q.id = e.src
        GROUP BY n.n_nationkey, p.width)"""
    }.mkString
    s"$prelude$steps\nSELECT id, width FROM d25"
  }

  // --- q88_incremental_cc: CC with edges arriving in waves (G7 addition) --
  /** Two-level star graph over the documents ids — every doc points at its
    * 10-block hub, every hub at its 100-block superhub (diameter ≤ 4, so
    * labels settle within a few supersteps of the last wave) — with each
    * undirected edge assigned wave (src+dst) mod 3. The edges of waves 1
    * and 2 carry no messages when the run starts; they join mid-run, at
    * supersteps 1 and 2 (the wave-gated send). The oracle is a
    * recursive-CTE closure over the FULL edge set: it passes only because
    * the incremental run reaches the schedule-independent fixed point. */
  def q88IncrementalCc(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).select(col("doc_id"))
    val fwdRaw = docs.select(col("doc_id").as("src"),
        expr("(doc_id div 10) * 10").as("dst"))
      .unionByName(docs.filter(expr("doc_id % 10 = 0"))
        .select(col("doc_id").as("src"), expr("(doc_id div 100) * 100").as("dst")))
    // clip to EXISTING docs: on a sparse id space the decade/century hub
    // (doc_id div 10)·10 may not be a document, and an edge into a
    // phantom vertex is undefined — the Pregel side would drop it while
    // a naive closure oracle would happily route labels THROUGH it
    // (divergence caught by the round-8 edge-corpus sweep); the hub edge
    // exists only when the hub doc does, identically on both sides
    val fwd = fwdRaw.join(docs.select(col("doc_id").as("dst")),
      Seq("dst"), "left_semi")
    val edges = fwd.unionByName(
        fwd.select(col("dst").as("src"), col("src").as("dst")))
      .withColumn("wave", pmod(col("src") + col("dst"), lit(3)).cast("int"))
    incrementalComponents(docs.select(col("doc_id").as("id")), edges,
        "wave", lastWave = 2, maxIter = 12)
      .select(col("id").as("doc_id"), col("component"))
  }

  val q88IncrementalCcSql: String = """
    WITH RECURSIVE fwd AS (
      SELECT f.src, f.dst FROM (
        SELECT doc_id AS src, (doc_id // 10) * 10 AS dst FROM documents
        UNION ALL
        SELECT doc_id, (doc_id // 100) * 100 FROM documents WHERE doc_id % 10 = 0
      ) f JOIN documents d ON d.doc_id = f.dst),
    ed AS (SELECT src, dst FROM fwd UNION SELECT dst, src FROM fwd),
    reach(id, lbl) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT ed.dst, r.lbl FROM reach r JOIN ed ON ed.src = r.id)
    SELECT id AS doc_id, MIN(lbl) AS component FROM reach
    WHERE id IN (SELECT doc_id FROM documents)
    GROUP BY id"""

  // --- q92_sssp: weighted shortest paths from nation 0 --------------------
  /** The q32 graph (ring + 3i+7 jumps) with deterministic integer weights
    * w = (7·src + 3·dst) mod 10 + 1; distances from node 0. The oracle
    * unrolls 25 Bellman-Ford relaxation rounds as generated CTEs (≥ the
    * longest shortest path on a 25-node graph), so the engines cannot
    * disagree on the round count — q32/q60/q73's shared-constant pattern. */
  private def weightedNationEdges(spark: SparkSession, dir: String): DataFrame =
    nationEdges(spark, dir)
      .withColumn("w", pmod(col("src") * 7 + col("dst") * 3, lit(10)) + 1)

  def q92Sssp(spark: SparkSession, dir: String): DataFrame =
    shortestPaths(
      Tables.nation(spark, dir).select(col("n_nationkey").as("id")),
      weightedNationEdges(spark, dir), sourceId = 0L, maxIter = 30)

  val q92SsspSql: String = {
    // Every round reads d(k-1) TWICE (current dist + incoming relaxations):
    // MATERIALIZED is load-bearing — DuckDB inlines plain CTEs, which
    // makes a twice-referenced 25-deep chain expand exponentially (the
    // un-hinted form exhausted file handles before planning finished).
    val prelude = """
      WITH e0 AS (
        SELECT n_nationkey AS src, (n_nationkey + 1) % 25 AS dst FROM nation
        UNION ALL
        SELECT n_nationkey, (n_nationkey * 3 + 7) % 25 FROM nation),
      e AS MATERIALIZED (
        SELECT src, dst, (src * 7 + dst * 3) % 10 + 1 AS w FROM e0),
      d0 AS (SELECT n_nationkey AS id,
                    CASE WHEN n_nationkey = 0 THEN CAST(0 AS BIGINT) END AS dist
             FROM nation)"""
    val steps = (1 to 25).map { k =>
      s""", d$k AS MATERIALIZED (
        SELECT n.n_nationkey AS id,
               LEAST(p.dist, MIN(q.dist + e.w)) AS dist
        FROM nation n
        JOIN d${k - 1} p ON p.id = n.n_nationkey
        LEFT JOIN e ON e.dst = n.n_nationkey
        LEFT JOIN d${k - 1} q ON q.id = e.src
        GROUP BY n.n_nationkey, p.dist)"""
    }.mkString
    s"$prelude$steps\nSELECT id, dist FROM d25"
  }

  // --- q167_critical_path: weighted longest path on a DAG -----------------
  /** Critical-path / longest-path relaxation over a DAG — the scheduling
    * and lineage-depth primitive (deepest dependency chain ending at each
    * node) that shortest-path machinery cannot answer: max-relaxation is
    * only well-founded because the graph is acyclic, so it is exposed as
    * a DAG-only operator. Same Pregel shape as [[shortestPaths]] with the
    * dual lattice: messages `dist + w`, merge MAX, halt when no vertex
    * improves — a monotone fixed point reached within the DAG depth.
    * Every vertex starts at 0 (a path may begin anywhere), so the result
    * is the heaviest path ENDING at each vertex.
    *
    * Scale shape: inherited from the Pregel loop — per superstep one
    * edge-keyed join + max-merge hash agg (map-side partial; a hub dst
    * key partial-aggregates like any hot groupBy key). */
  def longestPathDag(vertices: DataFrame, edges: DataFrame,
                     maxIter: Int): DataFrame =
    Pregel.run(
      vertices.select(col("id"), lit(0L).as("dist")),
      edges, maxIter,
      sendMsg = col("dist") + col("w"),
      mergeMsg = max,
      vprog = (df, _) => df.select(
        col("id"),
        greatest(col("dist"), col("msg")).as("dist"),
        (greatest(col("dist"), col("msg")) <=> col("dist")).as("halt")),
      // finer loop partitions, same rationale as pageRank (−15% on q226)
      blockSize = 3, rowsPerPartition = 131072L).vertices

  /** The q92 weighted nation graph restricted to src < dst edges — the
    * wrap-around edges drop, every edge ascends, hence a DAG (depth ≤ 24
    * on 25 nodes). */
  private def nationDagEdges(spark: SparkSession, dir: String): DataFrame =
    weightedNationEdges(spark, dir).filter(col("src") < col("dst"))

  def q167CriticalPath(spark: SparkSession, dir: String): DataFrame =
    longestPathDag(
      Tables.nation(spark, dir).select(col("n_nationkey").as("id")),
      nationDagEdges(spark, dir), maxIter = 30)

  /** q92's unrolled-relaxation oracle with the dual operators
    * (GREATEST/MAX — both engines skip NULLs identically); 25 generated
    * MATERIALIZED rounds ≥ the DAG depth. */
  val q167CriticalPathSql: String = {
    val prelude = """
      WITH e0 AS (
        SELECT n_nationkey AS src, (n_nationkey + 1) % 25 AS dst FROM nation
        UNION ALL
        SELECT n_nationkey, (n_nationkey * 3 + 7) % 25 FROM nation),
      e AS MATERIALIZED (
        SELECT src, dst, (src * 7 + dst * 3) % 10 + 1 AS w
        FROM e0 WHERE src < dst),
      d0 AS (SELECT n_nationkey AS id, CAST(0 AS BIGINT) AS dist FROM nation)"""
    val steps = (1 to 25).map { k =>
      s""", d$k AS MATERIALIZED (
        SELECT n.n_nationkey AS id,
               GREATEST(p.dist, MAX(q.dist + e.w)) AS dist
        FROM nation n
        JOIN d${k - 1} p ON p.id = n.n_nationkey
        LEFT JOIN e ON e.dst = n.n_nationkey
        LEFT JOIN d${k - 1} q ON q.id = e.src
        GROUP BY n.n_nationkey, p.dist)"""
    }.mkString
    s"$prelude$steps\nSELECT id, dist FROM d25"
  }

  // --- q94_label_prop: synchronous label propagation communities ----------
  /** Community detection by synchronous label propagation (Raghavan et al.
    * 2007), made deterministic: each round every vertex tallies its OWN
    * label plus all incoming neighbor labels and adopts the most frequent,
    * ties broken by the smallest label — no randomness, no order
    * dependence, so a fixed round count replays identically in any engine.
    * Scale shape per round: one graph-sized equi-join (labels onto edge
    * sources), one map-side-partial `groupBy(id, lbl).count`, and a
    * per-vertex window whose partition is bounded by degree+1 — never a
    * value-keyed window. Each round's labels persist to cut lineage, the
    * same discipline as [[Pregel]]'s loop.
    *
    * @param edges directed rows; pass both directions for undirected LPA
    */
  // --- q145_scc: strongly connected components (trim + FW-BW-MIN) --------
  /** Directed SCC by iterated trim + forward/backward min-label
    * propagation — the FW-BW-Trim family (Hong et al., PPoPP'13;
    * McLendon et al., JPDC'05) restated with MIN labels so the result is
    * a pure function the oracle replays from the reachability closure.
    * Per round over the remaining subgraph:
    *
    *  - trim: a vertex with no in-edges or no out-edges is its own
    *    singleton SCC — settled with NO propagation (on real web/
    *    citation graphs trimming alone settles the majority);
    *  - fwd(v) = min id that reaches v, bwd(v) = min id v reaches: ONE
    *    [[connectedComponents]] run over the DOUBLED graph — vertex
    *    (v, dir) encoded as `2v + dir`, forward edges linking the even
    *    copies and reversed edges the odd copies. The ×2 encoding is
    *    order-preserving, so the even copy's min-label decodes (`div 2`)
    *    to the min forward-ancestor and the odd copy's to the min
    *    backward-ancestor — both fixpoints for one Pregel loop's
    *    superstep/vote overhead (measured 2× on the 25-vertex query,
    *    where per-superstep cost, not data, dominates). Requires
    *    NON-NEGATIVE numeric ids (`div 2` truncates toward zero, so a
    *    negative odd copy would mis-decode); pre-encode other key types;
    *  - settle: fwd(v) = bwd(v) = m ⟹ v ∈ SCC(m) (m reaches v and v
    *    reaches m); every member of SCC(m) shares both labels, so whole
    *    SCCs settle atomically. Remove them; repeat.
    *
    * Each round settles at least the SCC of the globally minimal
    * remaining id (it has no smaller ancestor or descendant), so
    * progress is guaranteed; rounds consumed track the condensation-DAG
    * depth, not vertex count.
    *
    * Scale shape: every engine-side step is graph-sized — degree
    * semi-joins for trim, two Pregel min-propagations, one settle join;
    * the O(n²) closure exists ONLY in the DuckDB oracle. Each round the
    * labels (`scc_id`, null while open) and the remaining edges go
    * through [[Pregel.advance]], or the loop would stack two Pregel
    * lineages per round onto the next round's plan; the labels' probe
    * counts the open vertices. A finished run keeps one checkpoint, its
    * result, and an empty graph yields an empty result. Ids come back
    * BIGINT. */
  def stronglyConnectedComponents(vertices: DataFrame, edges: DataFrame,
                                  maxRounds: Int = 20,
                                  propIter: Int = 20): DataFrame = {
    val open = col("scc_id").isNull
    var (labels, left) = Pregel.advance(None, vertices.select(
      col("id").cast("long").as("id"), lit(null).cast("long").as("scc_id")),
      count(when(open, lit(1))))
    var rem = Pregel.advance(None, edges.select(col("src"), col("dst")),
      count(lit(1)))._1
    var round = 0
    while (round < maxRounds && left.getLong(0) > 0) {
      val core = labels.filter(open).select(col("id"))
        .join(rem.select(col("src").as("id")).distinct(), Seq("id"),
          "left_semi")
        .join(rem.select(col("dst").as("id")).distinct(), Seq("id"),
          "left_semi")
      val enc = core.select((col("id") * 2).as("id"))
        .unionByName(core.select((col("id") * 2 + 1).as("id")))
      val encEdges = rem
        .select((col("src") * 2).as("src"), (col("dst") * 2).as("dst"))
        .unionByName(rem.select((col("dst") * 2 + 1).as("src"),
          (col("src") * 2 + 1).as("dst")))
      val cc = connectedComponents(enc, encEdges, propIter)
      val fb = cc.filter(pmod(col("id"), lit(2)) === 0)
        .select(expr("id div 2").as("id"), expr("component div 2").as("fwd"))
        .join(cc.filter(pmod(col("id"), lit(2)) === 1)
          .select(expr("id div 2").as("id"),
            expr("component div 2").as("bwd")), Seq("id"))
      // an open vertex outside the core (no fwd label) is trimmed: its own
      // singleton SCC; a core vertex settles when fwd = bwd
      val (next, n) = Pregel.advance(Some(labels),
        labels.join(fb, Seq("id"), "left_outer").select(col("id"),
          coalesce(col("scc_id"), when(col("fwd").isNull, col("id"))
            .when(col("fwd") === col("bwd"), col("fwd"))).as("scc_id")),
        count(when(open, lit(1))))
      GraftSessionBridge.dropCheckpoint(cc)
      labels = next
      left = n
      val opened = labels.filter(open).select(col("id"))
      rem = Pregel.advance(Some(rem), rem
        .join(opened.withColumnRenamed("id", "src"), Seq("src"), "left_semi")
        .join(opened.withColumnRenamed("id", "dst"), Seq("dst"), "left_semi"),
        count(lit(1)))._1
      round += 1
    }
    GraftSessionBridge.dropCheckpoint(rem)
    require(left.getLong(0) == 0,
      s"SCC did not settle within $maxRounds rounds")
    labels
  }

  /** Directed test graph: one ring per region (5 five-cycle SCCs) plus a
    * one-way star from every other region's minimum INTO region 0's
    * (merges nothing — reverse reachability is absent). The star makes
    * every non-0 region's bwd-label 0 in round 1 (they all reach vertex
    * 0) while their fwd-labels stay regional, so nothing but region 0
    * settles first and ALL remaining regions settle in round 2 — the
    * multi-round machinery is exercised in exactly two rounds (deeper
    * condensations are the property spec's job; a 5-deep chain here
    * benchmarked 2.5× the wall-clock for no extra coverage). */
  private def regionRingEdges(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val n = Tables.nation(spark, dir)
      .select(col("n_nationkey").as("k"), col("n_regionkey").as("r"))
    val ring = n.select(col("k").as("src"),
      coalesce(lead(col("k"), 1).over(Window.partitionBy("r").orderBy("k")),
        min(col("k")).over(Window.partitionBy("r"))).as("dst"))
    val mins = n.groupBy(col("r")).agg(min(col("k")).as("m"))
    val m0 = mins.orderBy(col("r")).limit(1).select(col("m").as("hub"))
    ring.unionByName(mins
      // bcast-ok: m0 is limit(1) — a single hub row
      .join(broadcast(m0), col("m") =!= col("hub"))
      .select(col("m").as("src"), col("hub").as("dst")))
  }

  def q145Scc(spark: SparkSession, dir: String): DataFrame =
    stronglyConnectedComponents(
      Tables.nation(spark, dir).select(col("n_nationkey").as("id")),
      regionRingEdges(spark, dir))
      .select(col("id").cast("long").as("id"),
        col("scc_id").cast("long").as("scc_id"))

  /** Oracle: SCC from first principles — reachability closure (recursive
    * CTE, zero-step paths seeded), then `scc_id(v) = min{w : v→*w ∧
    * w→*v}`. An independent DEFINITION, not a replay of the rounds. */
  val q145SccSql: String = """
    WITH RECURSIVE n AS (
      SELECT n_nationkey AS k, n_regionkey AS r FROM nation),
    ring AS (
      SELECT k AS src,
             COALESCE(LEAD(k) OVER (PARTITION BY r ORDER BY k),
                      MIN(k) OVER (PARTITION BY r)) AS dst
      FROM n),
    mins AS (SELECT r, MIN(k) AS m FROM n GROUP BY r),
    hub AS (SELECT m AS hub FROM mins ORDER BY r LIMIT 1),
    e AS (SELECT src, dst FROM ring
          UNION ALL
          SELECT m, hub FROM mins, hub WHERE m <> hub),
    reach AS (
      SELECT k AS a, k AS b FROM n
      UNION
      SELECT reach.a, e.dst FROM reach JOIN e ON e.src = reach.b),
    scc AS (
      SELECT x.a AS id, MIN(x.b) AS scc_id
      FROM reach x JOIN reach y ON y.a = x.b AND y.b = x.a
      GROUP BY x.a)
    SELECT CAST(id AS BIGINT) AS id, CAST(scc_id AS BIGINT) AS scc_id
    FROM scc"""

  def labelPropagation(vertices: DataFrame, edges: DataFrame,
                       iters: Int): DataFrame = {
    // Edges cached hash-partitioned on `src` (the Pregel loop's
    // edge-cache discipline): the per-round label attach joins on src
    // every round, and the label side is hash(id) from its own
    // aggregation, so after round 1 the join runs exchange-free.
    val e = graft.CacheRegistry.persist(
      edges.select(col("src"), col("dst")).repartition(col("src")))
    var labels = vertices.select(col("id"), col("id").as("lbl"))
    for (_ <- 1 to iters) {
      val incoming = e
        .join(labels.withColumnRenamed("id", "src"), Seq("src"))
        .select(col("dst").as("id"), col("lbl"))
      val tally = labels.unionAll(incoming)
        .groupBy("id", "lbl").agg(count(lit(1)).as("c"))
      // majority + min tie-break as ONE partial-aggregated struct-max —
      // max(c) picks the majority count, max(-lbl) inside it the
      // SMALLEST label among the tied rows: exactly the old
      // window-max + filter + groupBy(min) chain, minus the value-keyed
      // window's full-tally exchange and sort (the second aggregate's
      // exchange carries one row per vertex per map partition).
      labels = graft.CacheRegistry.persist(
        tally.groupBy("id")
          .agg(max(struct(col("c"), (-col("lbl")).as("nl"))).as("m"))
          .select(col("id"), (-col("m.nl")).as("lbl")))
    }
    labels
  }

  val lpaIters = 6

  /** Five 5-cliques over the nation keys (blocks `div 5`) bridged by one
    * weak edge per block (5b+4 — 5b+5 mod 25): the clique majority (4
    * votes) must out-vote the single bridge label each round, so LPA
    * recovers the blocks — and a tally bug that weighted the bridge wrong
    * would flip the hash. Block membership is an equi-join on the block
    * key, not a cross join. */
  private def communityEdges(spark: SparkSession, dir: String): DataFrame = {
    val nat = Tables.nation(spark, dir)
    val key = col("n_nationkey")
    val blk = nat.select(expr("n_nationkey div 5").as("blk"), key.as("a"))
    val clique = blk.join(blk.withColumnRenamed("a", "b"), Seq("blk"))
      .filter(col("a") =!= col("b"))
      .select(col("a").as("src"), col("b").as("dst"))
    val bridge = nat.filter(pmod(key, lit(5)) === 4)
      .select(key.as("src"), pmod(key + 1, lit(25)).as("dst"))
    clique
      .unionAll(bridge)
      .unionAll(bridge.select(col("dst").as("src"), col("src").as("dst")))
  }

  def q94LabelProp(spark: SparkSession, dir: String): DataFrame =
    labelPropagation(
      Tables.nation(spark, dir).select(col("n_nationkey").as("id")),
      communityEdges(spark, dir), lpaIters)
      .select(col("id"), col("lbl").as("community"))

  /** Oracle: the identical tally unrolled as generated CTEs (q32's
    * pattern — one place owns the round count). Each round references the
    * previous labels twice (own vote + neighbor votes), so every l$k is
    * MATERIALIZED — DuckDB's default CTE inlining would expand the chain
    * exponentially (the q60/q92 lesson). */
  val q94LabelPropSql: String = {
    val prelude = """
      WITH e AS MATERIALIZED (
        SELECT i.n_nationkey AS src, j.n_nationkey AS dst
        FROM nation i JOIN nation j
          ON i.n_nationkey // 5 = j.n_nationkey // 5
         AND i.n_nationkey <> j.n_nationkey
        UNION ALL
        SELECT n_nationkey, (n_nationkey + 1) % 25 FROM nation
        WHERE n_nationkey % 5 = 4
        UNION ALL
        SELECT (n_nationkey + 1) % 25, n_nationkey FROM nation
        WHERE n_nationkey % 5 = 4),
      l0 AS MATERIALIZED (SELECT n_nationkey AS id, n_nationkey AS lbl FROM nation)"""
    val steps = (1 to lpaIters).map { k =>
      s""", c$k AS (
        SELECT id, lbl, COUNT(*) AS c FROM (
          SELECT id, lbl FROM l${k - 1}
          UNION ALL
          SELECT e.dst, l.lbl FROM e JOIN l${k - 1} l ON l.id = e.src) v
        GROUP BY id, lbl),
      l$k AS MATERIALIZED (
        SELECT id, MIN(lbl) AS lbl FROM (
          SELECT id, lbl, c, MAX(c) OVER (PARTITION BY id) AS m FROM c$k) t
        WHERE c = m GROUP BY id)"""
    }.mkString
    s"$prelude$steps\nSELECT id, lbl AS community FROM l$lpaIters"
  }

  // --- q150_landmark_bfs: K-source BFS in one pass, vector state ----------
  /** Unweighted distances from K landmark vertices in ONE Pregel run:
    * vertex state is a K-slot distance vector, messages add one hop per
    * slot, and merge is element-wise min — the landmark/neighborhood-
    * function family (Boldi & Vigna's HyperBall runs this shape with HLL
    * counters; exact small-K vectors here, since K is chosen, not |V|).
    *
    * Scale rationale: landmark distances feed closeness-centrality
    * estimates, graph features, and routing seeds, and the naive spelling
    * is K independent BFS runs — K full traversals of a 100 TB graph. The
    * vector state does all K in the shuffles of ONE traversal; per-slot
    * merge is a `struct` of K `min` aggregates, which Catalyst executes as
    * ordinary partial aggregation (map-side combine per slot) — no
    * `collect_list`, so a 10⁷-degree hub costs K·8 bytes of agg buffer,
    * not degree-sized lists. Unreached slots carry a Long.MaxValue
    * sentinel and propagate unchanged (no +1 overflow), surfacing as NULL
    * in the long-form output. */
  def landmarkBfs(vertices: DataFrame, edges: DataFrame, landmarks: Seq[Long],
                  maxIter: Int = 50): DataFrame = {
    val k = landmarks.size
    require(k >= 1, "need at least one landmark")
    val unreached = lit(Long.MaxValue)
    val init = array(landmarks.map(l =>
      when(col("id") === l, 0L).otherwise(unreached)): _*)
    val res = Pregel.run(
      vertices.select(col("id"), init.as("dists")),
      edges, maxIter,
      sendMsg = transform(col("dists"), d =>
        when(d === unreached, d).otherwise(d + 1L)),
      mergeMsg = m => struct((0 until k).map(i =>
        min(element_at(m, i + 1)).as(s"d$i")): _*),
      vprog = (df, _) => {
        val merged = array((0 until k).map(i =>
          least(element_at(col("dists"), i + 1),
            coalesce(col(s"msg.d$i"), unreached))): _*)
        df.select(col("id"), merged.as("dists"),
          // min-relaxation is monotone: unchanged vector = fixed point
          (merged <=> col("dists")).as("halt"))
      },
      // finer loop partitions: the k-slot array merge is the widest
      // per-row state in the registry (−27% on q228 at 131072)
      blockSize = 3, rowsPerPartition = 131072L)
    res.vertices.select(col("id"), posexplode(col("dists")).as(Seq("slot", "d")))
      .select(col("id"),
        element_at(array(landmarks.map(lit): _*), col("slot") + 1)
          .as("landmark"),
        when(col("d") === unreached, lit(null).cast("long"))
          .otherwise(col("d")).as("dist"))
  }

  private val bfsLandmarks = Seq(0L, 5L, 10L, 15L, 20L)

  def q150LandmarkBfs(spark: SparkSession, dir: String): DataFrame =
    landmarkBfs(
      Tables.nation(spark, dir).select(col("n_nationkey").as("id")),
      nationEdges(spark, dir), bfsLandmarks, maxIter = 30)

  /** Oracle: 25 unrolled min-relaxation rounds per (vertex, landmark) —
    * ≥ the 25-node graph's longest shortest path, so both engines reach
    * the same fixed point (the q92 pattern, keyed by landmark too). */
  val q150LandmarkBfsSql: String = {
    val lms = bfsLandmarks.mkString(", ")
    val prelude = s"""
      WITH e0 AS (
        SELECT n_nationkey AS src, (n_nationkey + 1) % 25 AS dst FROM nation
        UNION ALL
        SELECT n_nationkey, (n_nationkey * 3 + 7) % 25 FROM nation),
      e AS MATERIALIZED (SELECT src, dst FROM e0),
      lm AS (SELECT CAST(unnest([$lms]) AS BIGINT) AS lm),
      d0 AS (SELECT n.n_nationkey AS id, lm.lm,
                    CASE WHEN n.n_nationkey = lm.lm
                         THEN CAST(0 AS BIGINT) END AS dist
             FROM nation n, lm)"""
    val steps = (1 to 25).map { k =>
      s""", d$k AS MATERIALIZED (
        SELECT p.id, p.lm, LEAST(p.dist, MIN(q.dist + 1)) AS dist
        FROM d${k - 1} p
        LEFT JOIN e ON e.dst = p.id
        LEFT JOIN d${k - 1} q ON q.id = e.src AND q.lm = p.lm
        GROUP BY p.id, p.lm, p.dist)"""
    }.mkString
    s"$prelude$steps\nSELECT id, lm AS landmark, dist FROM d25"
  }

  // --- q201_cc_atscale: the gated-AQE CC branch, oracle-checked -----------
  /** Correctness coverage for [[ccLoopConfs]]' nE ≥ 1M branch — the AQE
    * skew-join configuration the 10×-edge audit added for hub stragglers
    * (104 s → 38 s at 6M edges) — which no corpus-derived registry query can
    * reach at gate scale (sf0.01's whole lineitem is ~60k rows). The graph
    * is synthesized from `spark.range`, so the query exercises the SAME
    * gated branch at every sf: 2²⁰ vertices, a 1023-spoke star on every
    * 1024-id block (the centers are exactly the high-degree hubs the skew
    * splitter targets) plus chain edges welding each aligned group of 4
    * centers — 1,048,320 canonical edges ≥ the 1M gate by construction
    * (pinned, with the conf set itself, in PregelSpec). Components are
    * therefore the 4096-id blocks, and the oracle replays the expected
    * per-component rollup in closed form (count 4096, sum of a
    * consecutive-id run) — analytic, engine-independent, and any
    * mislabeling under the AQE loop session breaks the hash. Output is
    * 256 rows, so the compare stays bounded while every one of the 2²⁰
    * labels feeds the checked aggregate. */
  private[graft] val q201Vertices = 1L << 20

  /** q201's edge set, shared with the PregelSpec pin that counts its
    * canonical (deduped, self-loop-free) form against the 1M gate. */
  private[graft] def q201Edges(spark: SparkSession): DataFrame = {
    val spokes = spark.range(q201Vertices)
      .filter(pmod(col("id"), lit(1024)) =!= 0)
      .select(col("id").as("src"), expr("(id div 1024) * 1024").as("dst"))
    val chain = spark.range(1L, 1024L)
      .filter(pmod(col("id"), lit(4)) =!= 0)
      .select((col("id") * 1024).as("src"), ((col("id") - 1) * 1024).as("dst"))
    spokes.unionByName(chain)
  }

  def q201CcAtScale(spark: SparkSession, dir: String): DataFrame =
    ccAlternating(spark.range(q201Vertices).select(col("id")),
        q201Edges(spark))
      .groupBy(col("component"))
      .agg(count(lit(1)).as("n_members"), sum(col("id")).as("sum_ids"))

  /** Closed-form expectation: component g*4096 holds ids
    * [g·4096, (g+1)·4096), so sum_ids = 4096·(g·4096) + 4095·4096/2. */
  val q201CcAtScaleSql: String = """
    SELECT CAST(g * 4096 AS BIGINT) AS component,
           CAST(4096 AS BIGINT) AS n_members,
           CAST(g * 16777216 + 8386560 AS BIGINT) AS sum_ids
    FROM (SELECT CAST(u.i AS BIGINT) AS g
          FROM unnest(range(0, 256)) AS u(i))"""

  // --- q204_scc_atscale: trim + doubled-graph FW-BW at ≥1M edges ----------
  /** At-scale correctness coverage for [[stronglyConnectedComponents]] —
    * q145's machinery (trim, ×2 forward/backward encoding, multi-round
    * settle) runs in the gate only on the 25-vertex nation graph; this
    * query runs the SAME code over a range-synthesized graph the gate can
    * reach at every sf (the q201 trick). Structure, chosen so every piece
    * of the algorithm is load-bearing AND the answer is closed-form:
    *
    *  - 2¹⁹ ids in 512 blocks of 1024, each block a hub-and-spoke CYCLE
    *    (center ↔ every spoke, both directions) — one SCC per block with
    *    diameter 2, so the inner min-label propagation converges in a few
    *    supersteps instead of O(block) (a plain ring would need 1024);
    *  - a one-way chain edge from every ODD block's center into its even
    *    partner ((2k+1)·1024 → 2k·1024): reachability without return, so
    *    nothing merges, but odd blocks see bwd = partner's min ≠ fwd and
    *    CANNOT settle in round 1 — the settle-remove-repeat loop must run
    *    a genuine second round (even blocks settle first, odd second);
    *  - 512 extra vertices 2¹⁹+k, each with ONE out-edge into center
    *    k·1024 and no in-edges — trimmed as singleton SCCs in round 1.
    *
    * ~1.05M directed edges (doubled to ~2.1M in the round-1 encoded CC),
    * pinned ≥ 1M in PregelSpec. Output is the per-SCC rollup (1024 rows:
    * 512 blocks + 512 singletons), each row analytic: block g sums a
    * consecutive run, a singleton sums itself. */
  private[graft] val q204Blocks = 512L
  private[graft] val q204BlockSize = 1024L
  private[graft] def q204Vertices(spark: SparkSession,
                                  blocks: Long = q204Blocks): DataFrame =
    spark.range(blocks * q204BlockSize + blocks).select(col("id"))
  private[graft] def q204Edges(spark: SparkSession,
                               blocks: Long = q204Blocks): DataFrame = {
    val n = blocks * q204BlockSize
    val spokes = spark.range(n)
      .filter(pmod(col("id"), lit(q204BlockSize)) =!= 0)
      .select(col("id"), expr(s"(id div $q204BlockSize) * $q204BlockSize")
        .as("c"))
    val hubCycle = spokes.select(col("id").as("src"), col("c").as("dst"))
      .unionByName(spokes.select(col("c").as("src"), col("id").as("dst")))
    val chain = spark.range(blocks)
      .filter(pmod(col("id"), lit(2)) === 1)
      .select((col("id") * q204BlockSize).as("src"),
        ((col("id") - 1) * q204BlockSize).as("dst"))
    val trimIn = spark.range(blocks)
      .select((col("id") + n).as("src"), (col("id") * q204BlockSize).as("dst"))
    hubCycle.unionByName(chain).unionByName(trimIn)
  }

  def q204SccAtScale(spark: SparkSession, dir: String): DataFrame =
    stronglyConnectedComponents(q204Vertices(spark), q204Edges(spark))
      .groupBy(col("scc_id"))
      .agg(count(lit(1)).as("n_members"), sum(col("id")).as("sum_ids"))

  /** Closed form: block g is SCC(g·1024) over ids [g·1024, (g+1)·1024) —
    * sum 1024·g·1024 + 1023·1024/2; vertex 2¹⁹+k is its own singleton. */
  val q204SccAtScaleSql: String = """
    SELECT CAST(g * 1024 AS BIGINT) AS scc_id,
           CAST(1024 AS BIGINT) AS n_members,
           CAST(g * 1048576 + 523776 AS BIGINT) AS sum_ids
    FROM (SELECT CAST(u.i AS BIGINT) AS g FROM unnest(range(0, 512)) AS u(i))
    UNION ALL
    SELECT CAST(524288 + k AS BIGINT) AS scc_id,
           CAST(1 AS BIGINT) AS n_members,
           CAST(524288 + k AS BIGINT) AS sum_ids
    FROM (SELECT CAST(u.i AS BIGINT) AS k FROM unnest(range(0, 512)) AS u(i))"""

  // --- q205_labelprop_atscale: hub tallies + majority votes at ≥1M edges --
  /** At-scale correctness coverage for [[labelPropagation]] — q94 runs the
    * tally/majority/tie machinery only on 25 nations; this replays it over
    * a range-synthesized graph where the majority contest repeats EVERY
    * round and the margin is exactly one vote, so the self-label and the
    * count-then-max tally are both load-bearing at scale:
    *
    *  - CENTERS take the 8192 globally smallest ids (center of block g is
    *    id g; its 63 spokes are 8192+63g+i), center ↔ each spoke both
    *    directions: round 1 every tally ties at count 1 and the min rule
    *    labels all of block g with g — centers must hold the global
    *    minima or round 1's all-tie min pulls every center to the
    *    previous block's spoke ids and the "stable" structure drifts;
    *  - every spoke of block g also votes one-way into the NEXT block's
    *    center ((g+1) mod 8192): from round 2 on, center g tallies 64
    *    votes for g (own label + 63 own spokes) against 63 votes for
    *    g−1 — the correct majority holds by ONE vote, and since g−1 < g,
    *    a tally that dropped the self-vote or mis-counted would TIE and
    *    the min tie-break would flip every center's label, breaking the
    *    hash (the wrong answer cannot hide behind the tie-break, which is
    *    why the cross votes arrive from the PREVIOUS block, not the next).
    *
    * ~1.55M directed edges, pinned ≥ 1M in PregelSpec; the center tally
    * window partitions hold 127 incoming rows — the bounded-by-degree
    * contract exercised at real degree. Output: per-community rollup,
    * 8192 analytic rows. */
  private[graft] val q205Blocks = 8192L
  private[graft] val q205SpokesPerBlock = 63L
  private[graft] def q205Edges(spark: SparkSession,
                               blocks: Long = q205Blocks): DataFrame = {
    val n = blocks * (q205SpokesPerBlock + 1)
    val spokes = spark.range(blocks, n)
      .select(col("id"),
        expr(s"(id - $blocks) div $q205SpokesPerBlock").as("g"))
    val star = spokes.select(col("id").as("src"), col("g").as("dst"))
      .unionByName(spokes.select(col("g").as("src"), col("id").as("dst")))
    val cross = spokes.select(col("id").as("src"),
      pmod(col("g") + 1, lit(blocks)).as("dst"))
    star.unionByName(cross)
  }

  def q205LabelPropAtScale(spark: SparkSession, dir: String): DataFrame =
    labelPropagation(
      spark.range(q205Blocks * (q205SpokesPerBlock + 1)).select(col("id")),
      q205Edges(spark), lpaIters)
      .groupBy(col("lbl")).agg(count(lit(1)).as("n_members"),
        sum(col("id")).as("sum_ids"))
      .select(col("lbl").as("community"), col("n_members"), col("sum_ids"))

  /** Closed form: community g = {g} ∪ {8192+63g+i : i<63} — sum
    * g + 63·8192 + 63·63·g + 62·63/2 = 3970·g + 518049. */
  val q205LabelPropAtScaleSql: String = """
    SELECT CAST(g AS BIGINT) AS community,
           CAST(64 AS BIGINT) AS n_members,
           CAST(3970 * g + 518049 AS BIGINT) AS sum_ids
    FROM (SELECT CAST(u.i AS BIGINT) AS g FROM unnest(range(0, 8192)) AS u(i))"""

  // --- q219_pagerank_atscale: float-valued Pregel at ≥1M edges ------------
  /** At-scale correctness coverage for [[pageRank]] — q32 runs the damping
    * arithmetic on 25 nations; this replays the SAME entry point over a
    * range-synthesized 2²⁰-vertex graph (1024 blocks × 1024) whose
    * PageRank iterates have a CLOSED FORM the oracle replays bit-for-bit,
    * which for a float-valued program needs the graph to make every
    * message sum order-invariant:
    *
    *  - every vertex p has a ring edge p → p+1 (mod 1024, within block);
    *  - every EVEN p also has a skip edge p → p+2 — so out-degree is 2
    *    for even positions, 1 for odd, and IN-degree is 2 for even
    *    (from p−1 odd and p−2 even), 1 for odd (from p−1 even only).
    *
    * Every vertex of a parity class is isomorphic, so values collapse to
    * a two-variable recurrence: aₜ (odd) and bₜ (even) with
    * aₜ₊₁ = c + 0.85·(bₜ/2), bₜ₊₁ = c + 0.85·(aₜ + bₜ/2), c = 0.15/N.
    * Both messages into an even vertex are single IEEE doubles and
    * 2-term double addition is commutative, so the distributed `sum`
    * merge cannot reorder anything — the fixed-iteration run is exactly
    * the recurrence, and the oracle unrolls it as scalar CTEs with the
    * q32 literal discipline (`(1.0−0.85)/N`, `val/outdeg`, `c+0.85·msg`
    * — identical expression trees in both engines). The output is the
    * per-parity rollup with min=max pinning CLASS-UNIFORMITY: a single
    * misrouted edge, dropped message, or wrong out-degree anywhere in
    * 2²⁰ vertices breaks uniformity or the closed-form value. Scaled by
    * N (an exact power of two, so the multiply is a lossless exponent
    * shift) before ROUND(6) so the rounding operates at ~1, not ~1e−6. */
  private[graft] val q219Blocks = 1024L
  private[graft] val q219BlockSize = 1024L // must stay even: parity classes
  private[graft] val q219Iters = 8

  private[graft] def q219Edges(spark: SparkSession,
                               blocks: Long = q219Blocks): DataFrame = {
    val m = q219BlockSize
    val all = spark.range(blocks * m).select(col("id"),
      expr(s"(id div $m) * $m").as("base"), pmod(col("id"), lit(m)).as("p"))
    val ring = all.select(col("id").as("src"),
      (col("base") + pmod(col("p") + 1, lit(m))).as("dst"))
    val skip = all.filter(pmod(col("p"), lit(2)) === 0)
      .select(col("id").as("src"),
        (col("base") + pmod(col("p") + 2, lit(m))).as("dst"))
    ring.unionByName(skip)
  }

  def q219PageRankAtScale(spark: SparkSession, dir: String): DataFrame = {
    val n = q219Blocks * q219BlockSize
    pageRank(spark.range(n).select(col("id")), q219Edges(spark), q219Iters)
      .groupBy(pmod(col("id"), lit(2L)).as("parity"))
      .agg(count(lit(1)).as("n_vertices"),
        min(round(col("pagerank") * n, 6)).as("min_prn"),
        max(round(col("pagerank") * n, 6)).as("max_prn"))
  }

  /** The two-variable recurrence unrolled as scalar CTEs (the q32
    * pattern: generated, so the iteration count is pinned in one place
    * and the literal expression trees match the Spark side's). */
  val q219PageRankAtScaleSql: String = {
    val n = q219Blocks * q219BlockSize
    val c = s"(CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE)) / $n"
    val prelude = s"""
      WITH r0 AS (SELECT CAST(1.0 AS DOUBLE) / $n AS a,
                         CAST(1.0 AS DOUBLE) / $n AS b)"""
    val steps = (1 to q219Iters).map { i =>
      s""", r$i AS (
        SELECT $c + CAST(0.85 AS DOUBLE) * (b / 2) AS a,
               $c + CAST(0.85 AS DOUBLE) * (a + b / 2) AS b
        FROM r${i - 1})"""
    }.mkString
    s"""$prelude$steps
    SELECT CAST(1 AS BIGINT) AS parity, CAST(${n / 2} AS BIGINT) AS n_vertices,
           ROUND(a * $n, 6) AS min_prn, ROUND(a * $n, 6) AS max_prn
    FROM r$q219Iters
    UNION ALL
    SELECT CAST(0 AS BIGINT), CAST(${n / 2} AS BIGINT),
           ROUND(b * $n, 6), ROUND(b * $n, 6)
    FROM r$q219Iters"""
  }

  // --- q220_sssp_atscale: edge-weighted relaxation at ≥1M edges -----------
  /** At-scale correctness coverage for [[shortestPaths]] — q92 relaxes 50
    * weighted edges; this replays the entry point over a 2²⁰-edge
    * weighted tree (one global source feeding 2¹⁷ chains of length 8),
    * where every distance is the UNIQUE path sum, so the oracle is pure
    * closed-form integer arithmetic — no relaxation replay, no float:
    * dist(8g+j) = (g mod 97 + 1) + j + Σᵢ₍<ⱼ₎ (g+i) mod 7. Root weights
    * sweep 97 values and chain weights 7, so bucket sums are sensitive
    * to every weight read (the G2 edge-attribute surface at real volume:
    * ~1M `dist + w` messages per superstep once the frontier fills).
    * Depth 9 forces ≥9 genuine supersteps of frontier advance; an
    * unreached vertex NULLs its bucket's sum, a single wrong weight
    * shifts it. Output: 512 bucket rollups (2048 chains each). */
  private[graft] val q220Blocks = 131072L // 2^17
  private[graft] val q220ChainLen = 8L

  private[graft] def q220Edges(spark: SparkSession,
                               blocks: Long = q220Blocks): DataFrame = {
    val L = q220ChainLen
    val roots = spark.range(blocks).select(
      lit(blocks * L).as("src"), (col("id") * L).as("dst"),
      (pmod(col("id"), lit(97L)) + 1).as("w"))
    val chain = spark.range(blocks * L)
      .filter(pmod(col("id"), lit(L)) =!= (L - 1))
      .select(col("id").as("src"), (col("id") + 1).as("dst"),
        (pmod(expr(s"id div $L") + pmod(col("id"), lit(L)), lit(7L)) + 1)
          .as("w"))
    roots.unionByName(chain)
  }

  def q220SsspAtScale(spark: SparkSession, dir: String): DataFrame = {
    val n = q220Blocks * q220ChainLen
    shortestPaths(spark.range(n + 1).select(col("id")),
        q220Edges(spark), sourceId = n, maxIter = 12)
      .filter(col("id") < n)
      .groupBy(pmod(expr(s"id div $q220ChainLen"), lit(512L)).as("gb"))
      .agg(count(lit(1)).as("n_vertices"), sum(col("dist")).as("sum_dist"))
  }

  val q220SsspAtScaleSql: String = {
    val n = q220Blocks * q220ChainLen
    s"""
    WITH off AS (
      SELECT m.m AS m, j.j AS j,
             SUM(CASE WHEN i.i < j.j THEN (m.m + i.i) % 7 ELSE 0 END) AS o
      FROM unnest(range(0, 7)) m(m), unnest(range(0, $q220ChainLen)) j(j),
           unnest(range(0, $q220ChainLen)) i(i)
      GROUP BY 1, 2),
    ids AS (SELECT CAST(u.i AS BIGINT) AS id
            FROM unnest(range(0, $n)) u(i)),
    d AS (SELECT id, id // $q220ChainLen AS g, id % $q220ChainLen AS j
          FROM ids)
    SELECT CAST(d.g % 512 AS BIGINT) AS gb, COUNT(*) AS n_vertices,
           CAST(SUM((d.g % 97 + 1) + d.j + o.o) AS BIGINT) AS sum_dist
    FROM d JOIN off o ON o.m = d.g % 7 AND o.j = d.j
    GROUP BY 1"""
  }

  // --- q221_triangles_atscale: the wedge join at ≥1M edges ----------------
  /** At-scale correctness coverage for [[triangleCounts]] — q82 counts on
    * ~15k customer keys; this replays the degree-oriented wedge join over
    * 1.5M planted-clique edges (32768 K₉ blocks + 32768 K₅ blocks at a
    * disjoint id offset), where every count is combinatorially known:
    * each K₉ vertex closes C(8,2)=28 triangles, each K₅ vertex C(4,2)=6.
    * Cliques are the wedge join's WORST density (every oriented 2-path
    * closes — 2.75M + 0.33M wedges, zero wasted candidates), so the
    * orientation, the (deg,id)-struct ranking, and the closing semi-join
    * all run at real volume; the two clique sizes make the per-vertex
    * counts DISTINGUISH the classes, so cross-block contamination or a
    * miscounted wedge anywhere moves a row out of its class and breaks
    * the two-row rollup (counts + id-sums) the oracle states in closed
    * form. */
  private[graft] val q221CliqueBlocks = 32768L
  private[graft] val q221K5Base = 524288L

  private[graft] def q221Edges(spark: SparkSession,
                               blocks: Long = q221CliqueBlocks): DataFrame = {
    def cliqueEdges(k: Int, stride: Long, base: Long) = {
      val pairs = for { i <- 0 until k; j <- i + 1 until k }
        yield struct(lit(i).as("i"), lit(j).as("j"))
      spark.range(blocks)
        .select(col("id").as("g"), explode(array(pairs: _*)).as("p"))
        .select((lit(base) + col("g") * stride + col("p.i")).as("src"),
          (lit(base) + col("g") * stride + col("p.j")).as("dst"))
    }
    cliqueEdges(9, 9L, 0L).unionByName(cliqueEdges(5, 5L, q221K5Base))
  }

  def q221TrianglesAtScale(spark: SparkSession, dir: String): DataFrame =
    triangleCounts(q221Edges(spark))
      .groupBy(col("n_tri"))
      .agg(count(lit(1)).as("n_vertices"), sum(col("id")).as("sum_ids"))

  /** Closed form: K₉ ids are [0, 294912), K₅ ids [524288, 688128). */
  val q221TrianglesAtScaleSql: String = {
    val n9 = q221CliqueBlocks * 9 // 294912
    val n5 = q221CliqueBlocks * 5 // 163840
    s"""
    SELECT CAST(28 AS BIGINT) AS n_tri, CAST($n9 AS BIGINT) AS n_vertices,
           (SELECT CAST(SUM(CAST(u.i AS BIGINT)) AS BIGINT)
            FROM unnest(range(0, $n9)) u(i)) AS sum_ids
    UNION ALL
    SELECT CAST(6 AS BIGINT), CAST($n5 AS BIGINT),
           (SELECT CAST(SUM(CAST($q221K5Base + u.i AS BIGINT)) AS BIGINT)
            FROM unnest(range(0, $n5)) u(i))"""
  }

  // --- q222_kcore_atscale: iterative peeling at ≥1M edges -----------------
  /** At-scale correctness coverage for [[kCore]] — q60 peels 25 nation
    * keys; this replays the G7 edge-DELETION machinery (dead vertices'
    * sends gated off from the superstep after they die) over
    * 1.18M directed edges: 49152 blocks of a K₄ clique with a 6-vertex
    * pendant chain. At k=2 the chain peels exactly ONE vertex per round
    * (the free end's degree hits 1 only after its successor died), so
    * six genuine rounds of mid-run topology deletion run at ~1M-edge
    * volume before the clique stabilizes as the 2-core; a premature
    * halt, a dead vertex still sending, or one peel order bug flips
    * `in_core` somewhere in 491520 vertices and moves a vertex between
    * the two closed-form rollup rows. */
  private[graft] val q222Blocks = 49152L

  private[graft] def q222Edges(spark: SparkSession,
                               blocks: Long = q222Blocks): DataFrame = {
    // block of 10: K4 over {0,1,2,3}, attach (3,4), chain 4-5-…-9
    val pairs = (for { i <- 0 until 4; j <- i + 1 until 4 } yield (i, j)) ++
      Seq((3, 4)) ++ (4 until 9).map(j => (j, j + 1))
    val pairCol = array(pairs.map { case (a, b) =>
      struct(lit(a).as("a"), lit(b).as("b")) }: _*)
    val und = spark.range(blocks)
      .select(col("id").as("g"), explode(pairCol).as("p"))
      .select((col("g") * 10 + col("p.a")).as("a"),
        (col("g") * 10 + col("p.b")).as("b"))
    und.select(col("a").as("src"), col("b").as("dst"))
      .unionByName(und.select(col("b").as("src"), col("a").as("dst")))
  }

  def q222KcoreAtScale(spark: SparkSession, dir: String): DataFrame =
    kCore(spark.range(q222Blocks * 10).select(col("id")),
        q222Edges(spark), k = 2, maxIter = 10)
      .groupBy(col("in_core"))
      .agg(count(lit(1)).as("n_vertices"), sum(col("id")).as("sum_ids"))

  /** Closed form: the 2-core is exactly the clique positions (id mod 10
    * ≤ 3); the chain (positions 4–9) peels away entirely. */
  val q222KcoreAtScaleSql: String = s"""
    SELECT (id % 10) <= 3 AS in_core, COUNT(*) AS n_vertices,
           CAST(SUM(id) AS BIGINT) AS sum_ids
    FROM (SELECT CAST(u.i AS BIGINT) AS id
          FROM unnest(range(0, ${q222Blocks * 10})) u(i))
    GROUP BY 1"""

  // --- q225/q226: the other two relaxation lattices at ≥1M edges ----------
  /** The q220 tree plus a UNIT-WEIGHT mid-chain shortcut per block
    * (source → 8g+4, w=1) — a decoy second path whose job is to make the
    * merge direction load-bearing for the max-side lattices: on the pure
    * tree every vertex has one path, so max-MIN and max-PLUS would be
    * indistinguishable from min-PLUS (q220). With the shortcut, vertices
    * j ≥ 4 carry two genuine paths and the WRONG merge produces visibly
    * different values (widest: 1 instead of the chain bottleneck;
    * critical: the strictly-smaller shortcut sum). Still a DAG. */
  private[graft] def q225Edges(spark: SparkSession,
                               blocks: Long = q220Blocks): DataFrame =
    q220Edges(spark, blocks).unionByName(
      spark.range(blocks).select(
        lit(blocks * q220ChainLen).as("src"),
        (col("id") * q220ChainLen + 4).as("dst"), lit(1L).as("w")))

  /** At-scale correctness coverage for [[widestPath]] (max-MIN lattice)
    * — q199 runs it on 25 nations; this replays the entry point over
    * 1.18M weighted edges where every width is closed-form:
    * width(8g+j) = min(g mod 97 + 1, min over the chain prefix), and the
    * decoy's width-1 path must LOSE the max-merge at every j ≥ 4 where
    * the chain bottleneck exceeds 1 (~86% of vertices — a min-merge bug
    * floors them all to 1 and breaks the hash). */
  def q225WidestAtScale(spark: SparkSession, dir: String): DataFrame = {
    val n = q220Blocks * q220ChainLen
    widestPath(spark.range(n + 1).select(col("id")), q225Edges(spark),
        sourceId = n, maxIter = 12)
      .filter(col("id") < n)
      .groupBy(pmod(expr(s"id div $q220ChainLen"), lit(512L)).as("gb"))
      .agg(count(lit(1)).as("n_vertices"), sum(col("width")).as("sum_width"))
  }

  val q225WidestAtScaleSql: String = {
    val n = q220Blocks * q220ChainLen
    s"""
    WITH mn AS (
      SELECT m.m AS m, j.j AS j,
             MIN(CASE WHEN i.i < j.j THEN (m.m + i.i) % 7 + 1 END) AS r
      FROM unnest(range(0, 7)) m(m), unnest(range(0, $q220ChainLen)) j(j),
           unnest(range(0, $q220ChainLen)) i(i)
      GROUP BY 1, 2),
    ids AS (SELECT CAST(u.i AS BIGINT) AS id
            FROM unnest(range(0, $n)) u(i)),
    d AS (SELECT id, id // $q220ChainLen AS g, id % $q220ChainLen AS j
          FROM ids)
    SELECT CAST(d.g % 512 AS BIGINT) AS gb, COUNT(*) AS n_vertices,
           CAST(SUM(LEAST(d.g % 97 + 1, COALESCE(mn.r, 1000000)))
             AS BIGINT) AS sum_width
    FROM d JOIN mn ON mn.m = d.g % 7 AND mn.j = d.j
    GROUP BY 1"""
  }

  /** At-scale correctness coverage for [[longestPathDag]] (max-PLUS
    * lattice) — q167 runs it on 25 nations; same 1.18M-edge DAG. The
    * heaviest path ending at 8g+j is the full source→chain path (its sum
    * strictly dominates the decoy's 1 + suffix because every skipped
    * weight is ≥ 1), so the closed form is exactly q220's path sum — and
    * a min-side bug would surface the decoy's strictly-smaller sum at
    * every j ≥ 4. */
  def q226CriticalAtScale(spark: SparkSession, dir: String): DataFrame = {
    val n = q220Blocks * q220ChainLen
    longestPathDag(spark.range(n + 1).select(col("id")), q225Edges(spark),
        maxIter = 12)
      .filter(col("id") < n)
      .groupBy(pmod(expr(s"id div $q220ChainLen"), lit(512L)).as("gb"))
      .agg(count(lit(1)).as("n_vertices"), sum(col("dist")).as("sum_dist"))
  }

  val q226CriticalAtScaleSql: String = {
    val n = q220Blocks * q220ChainLen
    s"""
    WITH off AS (
      SELECT m.m AS m, j.j AS j,
             SUM(CASE WHEN i.i < j.j THEN (m.m + i.i) % 7 ELSE 0 END) AS o
      FROM unnest(range(0, 7)) m(m), unnest(range(0, $q220ChainLen)) j(j),
           unnest(range(0, $q220ChainLen)) i(i)
      GROUP BY 1, 2),
    ids AS (SELECT CAST(u.i AS BIGINT) AS id
            FROM unnest(range(0, $n)) u(i)),
    d AS (SELECT id, id // $q220ChainLen AS g, id % $q220ChainLen AS j
          FROM ids)
    SELECT CAST(d.g % 512 AS BIGINT) AS gb, COUNT(*) AS n_vertices,
           CAST(SUM((d.g % 97 + 1) + d.j + o.o) AS BIGINT) AS sum_dist
    FROM d JOIN off o ON o.m = d.g % 7 AND o.j = d.j
    GROUP BY 1"""
  }

  // --- q227_incremental_cc_atscale: G7 edge ADDITION at ≥1M edges ---------
  /** At-scale correctness coverage for [[incrementalComponents]] — the G7
    * dynamic-topology ADDITION path (q222 gates the deletion path; q88
    * runs the wave machinery only over corpus-sized docs). 4096
    * 128-vertex hub blocks whose edges arrive in three waves:
    *
    *  - wave 0: spokes 1–63 ↔ hub — the starting topology;
    *  - wave 1: spokes 64–127 ↔ hub — half of every block joins MID-RUN
    *    (vertices that held their own id as label until their first
    *    edge exists);
    *  - wave 2: a bridge between each EVEN block's hub and the next
    *    block's hub — two already-converged 128-vertex components must
    *    MERGE after the last wave (the re-awakening the halt-vote gate
    *    `step ≥ lastWave` exists for: a vertex may not halt while waves
    *    are still arriving).
    *
    * ~1.04M directed edges (pinned in PregelSpec). Blocks are contiguous
    * id ranges and pairs are contiguous too, so the final fixed point is
    * closed-form: component(id) = (id div 256)·256. A wave delivered one
    * superstep late, a premature halt, or a missed merge leaves some
    * block un-merged (128-sized components) or mislabeled and breaks the
    * 2048-row rollup hash. */
  private[graft] val q227Blocks = 4096L
  private[graft] val q227BlockSize = 128L

  private[graft] def q227Edges(spark: SparkSession,
                               blocks: Long = q227Blocks): DataFrame = {
    val m = q227BlockSize
    val spokes = spark.range(blocks * m)
      .filter(pmod(col("id"), lit(m)) =!= 0)
      .select(col("id"), expr(s"(id div $m) * $m").as("hub"),
        when(pmod(col("id"), lit(m)) < m / 2, 0).otherwise(1).as("wave"))
    val star = spokes.select(col("id").as("src"), col("hub").as("dst"),
        col("wave"))
      .unionByName(spokes.select(col("hub").as("src"), col("id").as("dst"),
        col("wave")))
    val bridge = spark.range(blocks / 2).select(
      (col("id") * 2 * m).as("src"), ((col("id") * 2 + 1) * m).as("dst"),
      lit(2).as("wave"))
    star.unionByName(bridge)
      .unionByName(bridge.select(col("dst").as("src"), col("src").as("dst"),
        col("wave")))
  }

  def q227IncrementalCcAtScale(spark: SparkSession, dir: String): DataFrame =
    incrementalComponents(
        spark.range(q227Blocks * q227BlockSize).select(col("id")),
        q227Edges(spark), "wave", lastWave = 2, maxIter = 8)
      .groupBy(col("component"))
      .agg(count(lit(1)).as("n_members"), sum(col("id")).as("sum_ids"))

  /** Closed form: block pairs are contiguous 256-id ranges. */
  val q227IncrementalCcAtScaleSql: String = s"""
    SELECT CAST((id // 256) * 256 AS BIGINT) AS component,
           COUNT(*) AS n_members, CAST(SUM(id) AS BIGINT) AS sum_ids
    FROM (SELECT CAST(u.i AS BIGINT) AS id
          FROM unnest(range(0, ${q227Blocks * q227BlockSize})) u(i))
    GROUP BY 1"""

  // --- q228_landmark_atscale: vector-valued vertex state at ≥1M edges -----
  /** At-scale correctness coverage for [[landmarkBfs]] — the one Pregel
    * program whose vertex state is a VECTOR (per-landmark distance array
    * with component-wise min merge and a struct-of-mins message
    * aggregate); every other gated program carries scalar state. 2¹⁷
    * unweighted 8-chains; four landmarks form their own hop-chain
    * L₀→L₁→L₂→L₃ and landmark L_k feeds the roots of blocks g ≡ k
    * (mod 4), so slot a of vertex (g, j) is closed-form
    * `(g%4 − a) + 1 + j` when g%4 ≥ a and NULL (unreachable) otherwise —
    * every vertex carries reached AND unreached slots simultaneously,
    * which is exactly the mixed-state vector the component-wise merge
    * must keep independent (cross-slot bleed, a wrong struct field, or a
    * MaxValue overflow in the +1 hop breaks either a value or a NULL).
    * ~1.05M edges; 2048 rollup rows per landmark×bucket with
    * all-or-nothing reachability per bucket (512 | block count keeps
    * g%4 constant within a bucket). */
  private[graft] val q228Blocks = 131072L

  private[graft] def q228Edges(spark: SparkSession,
                               blocks: Long = q228Blocks): DataFrame = {
    val L = 8L
    val n = blocks * L
    val lmChain = spark.range(3).select(
      (lit(n) + col("id")).as("src"), (lit(n) + col("id") + 1).as("dst"))
    val roots = spark.range(blocks).select(
      (lit(n) + pmod(col("id"), lit(4L))).as("src"), (col("id") * L).as("dst"))
    val chain = spark.range(n).filter(pmod(col("id"), lit(L)) =!= L - 1)
      .select(col("id").as("src"), (col("id") + 1).as("dst"))
    lmChain.unionByName(roots).unionByName(chain)
  }

  def q228LandmarkAtScale(spark: SparkSession, dir: String): DataFrame = {
    val n = q228Blocks * 8L
    landmarkBfs(spark.range(n + 4).select(col("id")), q228Edges(spark),
        landmarks = Seq(n, n + 1, n + 2, n + 3), maxIter = 14)
      .filter(col("id") < n)
      .groupBy(col("landmark"), pmod(expr("id div 8"), lit(512L)).as("gb"))
      .agg(count(col("dist")).as("n_reached"), sum(col("dist")).as("sum_dist"))
  }

  val q228LandmarkAtScaleSql: String = {
    val n = q228Blocks * 8L
    s"""
    WITH grid AS (
      SELECT a.a AS a, CAST(g.i AS BIGINT) AS g, j.j AS j
      FROM unnest(range(0, 4)) a(a), unnest(range(0, $q228Blocks)) g(i),
           unnest(range(0, 8)) j(j)),
    d AS (SELECT a, g, j,
                 CASE WHEN g % 4 >= a THEN (g % 4 - a) + 1 + j END AS dist
          FROM grid)
    SELECT CAST($n + a AS BIGINT) AS landmark, CAST(g % 512 AS BIGINT) AS gb,
           COUNT(dist) AS n_reached, CAST(SUM(dist) AS BIGINT) AS sum_dist
    FROM d GROUP BY 1, 2"""
  }

  // --- q229_hits_atscale: max-normalized HITS at ≥1.5M edges --------------
  /** At-scale correctness coverage for [[hits]] — q158 runs the hub/auth
    * fixed point on 25 nations; this replays the SAME entry point over
    * q219's 2²⁰-vertex ring+skip parity graph with TYPE-keyed weights
    * (ring w=1, skip w=3), which is exactly the float-safety envelope the
    * q219 gate established: every per-vertex message sum has ≤2 IEEE
    * double terms (2-term addition is commutative — no order to get
    * wrong), every w·score product is one exact multiply, and the
    * normalizer is a global MAX (order-invariant, unlike the L2 norm —
    * the reason [[hits]] max-normalizes in the first place). Every vertex
    * of a parity class is isomorphic, so the 2²⁰-vertex fixed point
    * collapses to a four-variable recurrence
    *
    *   ar_e = 1·h_o + 3·h_e   ar_o = 1·h_e   a = ar / max(ar_e, ar_o)
    *   hr_e = 1·a_o + 3·a_e   hr_o = 1·a_e   h = hr / max(hr_e, hr_o)
    *
    * that the oracle unrolls as scalar CTEs with the q219 literal
    * discipline (identical expression trees both sides). The per-parity
    * rollup's min=max pins CLASS-UNIFORMITY: one misrouted edge, wrong
    * weight, or dropped message anywhere in 1.57M edges breaks it.
    * 4 iterations — the recurrence is still visibly moving (h_o walks
    * 0.3077 → 0.3023 → …), so the iterate count is load-bearing. */
  private[graft] val q229Iters = 4

  private[graft] def q229Edges(spark: SparkSession,
                               blocks: Long = q219Blocks): DataFrame = {
    val m = q219BlockSize
    val all = spark.range(blocks * m).select(col("id"),
      expr(s"(id div $m) * $m").as("base"), pmod(col("id"), lit(m)).as("p"))
    val ring = all.select(col("id").as("src"),
      (col("base") + pmod(col("p") + 1, lit(m))).as("dst"),
      lit(1.0).as("w"))
    val skip = all.filter(pmod(col("p"), lit(2)) === 0)
      .select(col("id").as("src"),
        (col("base") + pmod(col("p") + 2, lit(m))).as("dst"),
        lit(3.0).as("w"))
    ring.unionByName(skip)
  }

  def q229HitsAtScale(spark: SparkSession, dir: String): DataFrame = {
    val n = q219Blocks * q219BlockSize
    hits(spark.range(n).select(col("id")), q229Edges(spark), q229Iters)
      .groupBy(pmod(col("id"), lit(2L)).as("parity"))
      .agg(count(lit(1)).as("n_vertices"),
        min(round(col("hub"), 6)).as("min_hub"),
        max(round(col("hub"), 6)).as("max_hub"),
        min(round(col("auth"), 6)).as("min_auth"),
        max(round(col("auth"), 6)).as("max_auth"))
  }

  /** The four-variable recurrence unrolled as scalar CTEs. [[hits]] seeds
    * BOTH score vectors at 1.0 and its normalize guard (`raw/max` only
    * when max > 0) never fires on this all-positive graph, so plain
    * division mirrors the Spark expression tree exactly. */
  val q229HitsAtScaleSql: String = {
    val n = q219Blocks * q219BlockSize
    val prelude = """
      WITH r0 AS (SELECT CAST(1.0 AS DOUBLE) AS he, CAST(1.0 AS DOUBLE) AS ho)"""
    val steps = (1 to q229Iters).map { i =>
      s""", ar$i AS (
        SELECT 1 * ho + 3 * he AS are, 1 * he AS aro, he, ho FROM r${i - 1}),
      a$i AS (
        SELECT are / GREATEST(are, aro) AS ae, aro / GREATEST(are, aro) AS ao,
               he, ho FROM ar$i),
      hr$i AS (
        SELECT 1 * ao + 3 * ae AS hre, 1 * ae AS hro, ae, ao FROM a$i),
      r$i AS (
        SELECT hre / GREATEST(hre, hro) AS he, hro / GREATEST(hre, hro) AS ho,
               ae, ao FROM hr$i)"""
    }.mkString
    s"""$prelude$steps
    SELECT CAST(0 AS BIGINT) AS parity, CAST(${n / 2} AS BIGINT) AS n_vertices,
           ROUND(he, 6) AS min_hub, ROUND(he, 6) AS max_hub,
           ROUND(ae, 6) AS min_auth, ROUND(ae, 6) AS max_auth
    FROM r$q229Iters
    UNION ALL
    SELECT CAST(1 AS BIGINT), CAST(${n / 2} AS BIGINT),
           ROUND(ho, 6), ROUND(ho, 6), ROUND(ao, 6), ROUND(ao, 6)
    FROM r$q229Iters"""
  }

  // --- q236_trustrank_atscale: seed-personalized teleport at ≥1.5M edges --
  /** At-scale correctness coverage for [[trustRank]] — q117 runs the
    * seeded teleport on 25 nations; this replays the SAME entry point
    * over q219's parity graph with seeds = THE EVEN CLASS (2¹⁹ seeds, so
    * `1/nS` is an exact power-of-two double and the seed count the
    * operator derives via `seeds.count()` is load-bearing at volume).
    * The teleport term now differs BY CLASS — exactly what
    * distinguishes trustRank from pageRank — and the iterates collapse
    * to a two-variable recurrence with q219's float-safety envelope
    * (≤2 message doubles per vertex, exact `/1` and `/2` divisions):
    *
    *   v_e' = 0.15·(1/2¹⁹) + 0.85·(v_o + v_e/2)     v_o' = 0 + 0.85·(v_e/2)
    *
    * Scaled by N before ROUND(6) (exact exponent shift), per-parity
    * min=max pins class uniformity. A pageRank-regression (uniform
    * teleport) shifts every odd value off the closed form. */
  private[graft] def q236Seeds(spark: SparkSession): DataFrame =
    spark.range(q219Blocks * q219BlockSize)
      .select(col("id")).filter(pmod(col("id"), lit(2L)) === 0)

  def q236TrustRankAtScale(spark: SparkSession, dir: String): DataFrame = {
    val n = q219Blocks * q219BlockSize
    trustRank(spark.range(n).select(col("id")), q219Edges(spark),
        q236Seeds(spark), q219Iters)
      .groupBy(pmod(col("id"), lit(2L)).as("parity"))
      .agg(count(lit(1)).as("n_vertices"),
        min(round(col("trust") * n, 6)).as("min_tr"),
        max(round(col("trust") * n, 6)).as("max_tr"))
  }

  val q236TrustRankAtScaleSql: String = {
    val n = q219Blocks * q219BlockSize
    val nS = n / 2
    val one = "CAST(1.0 AS DOUBLE)"
    val d = "CAST(0.85 AS DOUBLE)"
    val prelude = s"""
      WITH r0 AS (SELECT $one / $nS AS ve, CAST(0.0 AS DOUBLE) AS vo)"""
    val steps = (1 to q219Iters).map { i =>
      s""", r$i AS (
        SELECT ($one - $d) * ($one / $nS) + $d * (vo + ve / 2) AS ve,
               ($one - $d) * CAST(0.0 AS DOUBLE) + $d * (ve / 2) AS vo
        FROM r${i - 1})"""
    }.mkString
    s"""$prelude$steps
    SELECT CAST(0 AS BIGINT) AS parity, CAST($nS AS BIGINT) AS n_vertices,
           ROUND(ve * $n, 6) AS min_tr, ROUND(ve * $n, 6) AS max_tr
    FROM r$q219Iters
    UNION ALL
    SELECT CAST(1 AS BIGINT), CAST($nS AS BIGINT),
           ROUND(vo * $n, 6), ROUND(vo * $n, 6)
    FROM r$q219Iters"""
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q236_trustrank_atscale" -> q236TrustRankAtScale _,
    "q229_hits_atscale" -> q229HitsAtScale _,
    "q228_landmark_atscale" -> q228LandmarkAtScale _,
    "q227_incremental_cc_atscale" -> q227IncrementalCcAtScale _,
    "q225_widest_atscale" -> q225WidestAtScale _,
    "q226_critical_atscale" -> q226CriticalAtScale _,
    "q219_pagerank_atscale" -> q219PageRankAtScale _,
    "q220_sssp_atscale"   -> q220SsspAtScale _,
    "q221_triangles_atscale" -> q221TrianglesAtScale _,
    "q222_kcore_atscale"  -> q222KcoreAtScale _,
    "q32_pagerank"        -> q32PageRank _,
    "q117_trustrank"      -> q117TrustRank _,
    "q158_hits"           -> q158Hits _,
    "q167_critical_path"  -> q167CriticalPath _,
    "q33_max_propagation" -> q33MaxPropagation _,
    "q60_kcore"           -> q60KCore _,
    "q82_triangles"       -> q82Triangles _,
    "q88_incremental_cc"  -> q88IncrementalCc _,
    "q92_sssp"            -> q92Sssp _,
    "q199_widest_path"    -> q199WidestPath _,
    "q94_label_prop"      -> q94LabelProp _,
    "q145_scc"            -> q145Scc _,
    "q150_landmark_bfs"   -> q150LandmarkBfs _,
    "q201_cc_atscale"     -> q201CcAtScale _,
    "q204_scc_atscale"    -> q204SccAtScale _,
    "q205_labelprop_atscale" -> q205LabelPropAtScale _,
  )

  def oracles: Map[String, String] = Map(
    "q236_trustrank_atscale" -> q236TrustRankAtScaleSql,
    "q229_hits_atscale" -> q229HitsAtScaleSql,
    "q228_landmark_atscale" -> q228LandmarkAtScaleSql,
    "q227_incremental_cc_atscale" -> q227IncrementalCcAtScaleSql,
    "q225_widest_atscale" -> q225WidestAtScaleSql,
    "q226_critical_atscale" -> q226CriticalAtScaleSql,
    "q219_pagerank_atscale" -> q219PageRankAtScaleSql,
    "q220_sssp_atscale"   -> q220SsspAtScaleSql,
    "q221_triangles_atscale" -> q221TrianglesAtScaleSql,
    "q222_kcore_atscale"  -> q222KcoreAtScaleSql,
    "q32_pagerank"        -> q32PageRankSql,
    "q117_trustrank"      -> q117TrustRankSql,
    "q158_hits"           -> q158HitsSql,
    "q167_critical_path"  -> q167CriticalPathSql,
    "q33_max_propagation" -> q33MaxPropagationSql,
    "q60_kcore"           -> q60KCoreSql,
    "q82_triangles"       -> q82TrianglesSql,
    "q88_incremental_cc"  -> q88IncrementalCcSql,
    "q92_sssp"            -> q92SsspSql,
    "q199_widest_path"    -> q199WidestPathSql,
    "q94_label_prop"      -> q94LabelPropSql,
    "q145_scc"            -> q145SccSql,
    "q150_landmark_bfs"   -> q150LandmarkBfsSql,
    "q201_cc_atscale"     -> q201CcAtScaleSql,
    "q204_scc_atscale"    -> q204SccAtScaleSql,
    "q205_labelprop_atscale" -> q205LabelPropAtScaleSql,
  )
}
