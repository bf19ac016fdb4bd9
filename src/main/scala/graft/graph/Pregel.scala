package graft.graph

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.GraftSessionBridge
import org.apache.spark.storage.StorageLevel

/** Result of a Pregel run: final vertex state + how many supersteps ran
  * (with `blockSize` > 1 this can overshoot convergence by up to
  * blockSize−1 — the vote is only read at block boundaries). */
final case class PregelResult(vertices: DataFrame, supersteps: Int)

/** DataFrame-native Pregel/BSP loop — the Spark form of the reference's
  * vertex paradigm (`/root/reference/daemons/core/module_vertex.py:76-180`,
  * initiator FSM `/root/reference/daemons/initiator/module_vertex.py:98-172`).
  *
  * Mapping of the reference machinery:
  *   - superstep barrier (SHIFT→COMPUTE→PROCESS surveyor FSM): each loop
  *     iteration's Spark action is a natural global barrier;
  *   - message routing via the nanomsg vertexbroker topic prefix
  *     (`module_vertex.py:94-96`): a shuffle on `dst` — and exactly-once,
  *     where the reference's relay is at-most-once by design
  *     (`module_vertex.py:150-159` throws duplicates away); we document the
  *     deviation as a fix, not a parity break;
  *   - double-buffered message queues (`module_vertex.py:80-81,116-125`):
  *     the messages DataFrame of superstep N is consumed to build vertices
  *     N+1 — the dataflow IS the double buffer;
  *   - vote-to-halt (`module_vertex.py:165-179`): a `halt` boolean column
  *     produced by the vertex program; the loop stops when every vertex
  *     votes halt, or at `maxIter` (pagerank's superstep cap,
  *     `examples/pagerank/pagerank.py:39-43`);
  *   - sub/unsub (G7, `module_vertex.py:98-102`): a vertex deciding from
  *     its own state whom it talks to. The edge set is cached once and
  *     never rewired; a program with dynamic topology gates `sendMsg` on
  *     vertex state or an edge attribute (`when(alive, ...)`,
  *     `when(wave <= t, ...)`) — a null message is no message. See
  *     [[Algorithms.kCore]] (deletion) and
  *     [[Algorithms.incrementalComponents]] (addition).
  *
  * Scale design: vertices and messages both hash-partition on `id`, so the
  * post-aggregation join can reuse the exchange; every block of supersteps
  * ends in ONE lazy `localCheckpoint`, which truncates lineage — without it
  * the join-per-iteration plan grows exponentially and kills the driver
  * long before 100 TB kills the executors. The loop additionally sizes its
  * shuffle partitions to the graph (see [[loopSession]]) and can batch
  * `blockSize` supersteps per plan to amortize Catalyst's fixed planning
  * cost — the two costs that dominate iterative dataflow once per-task
  * work is small.
  */
object Pregel {

  /** Default target rows per shuffle partition inside a graph loop.
    * A vertex program can pass a finer `rowsPerPartition` when its
    * supersteps are compute-heavy per row (wide vector state, per-edge
    * weight arithmetic): q228's 4-landmark array program dropped 27% at
    * 131072 rows/partition, pagerank/trustrank/longest-path 10-20% —
    * while programs with many cheap supersteps over small or shrinking
    * frontiers (SCC's forward/backward passes, alternating-star CC)
    * measurably LOSE at finer grain because per-superstep fixed cost
    * scales with partition count. Both regimes clamp to the session
    * setting, so cluster-scale graphs keep full parallelism either way. */
  private[graft] val rowsPerLoopPartition = 500000L

  /** The session a graph loop plans in, and its shuffle partition count.
    *
    * Size the loop's shuffles to the GRAPH (`rows`), not the session
    * default. Cached/checkpointed plans are exempt from AQE partition
    * coalescing (spark.sql.optimizer.canChangeCachedPlanOutputPartitioning
    * defaults to false), so every superstep of a small graph would
    * otherwise pay `spark.sql.shuffle.partitions` near-empty tasks per
    * shuffle — at local[32] that made a 25-vertex PageRank ~10× slower
    * than the data justifies, and on a 1000-executor cluster it is the
    * same waste in scheduler RPCs. At real scale rows/rowsPerPartition
    * exceeds the session setting and the clamp keeps full parallelism.
    *
    * The overrides live on a CLONE of the caller's session (same
    * SparkContext, catalog, cache manager, runtime conf state, and temp
    * views — only the SQLConf overrides differ), so concurrent queries on
    * the caller's session are never planned with loop settings and two
    * concurrent loops cannot race a save/restore. `confs` are the loop's
    * AQE settings; the default turns AQE off, because the loop sizes its
    * shuffles explicitly and per-stage replanning is pure driver overhead
    * at superstep cadence. */
  private[graft] def loopSession(
      spark: SparkSession, rows: Long,
      rowsPerPartition: Long = rowsPerLoopPartition,
      confs: Seq[(String, String)] = Seq("spark.sql.adaptive.enabled" -> "false"))
      : (SparkSession, Int) = {
    val sessionParts = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val loopParts =
      math.min(sessionParts.toLong, rows / rowsPerPartition + 1).toInt
    val s = GraftSessionBridge.cloneSession(spark)
    s.conf.set("spark.sql.shuffle.partitions", loopParts.toString)
    confs.foreach { case (k, v) => s.conf.set(k, v) }
    (s, loopParts)
  }

  /** Durable-checkpoint support: a long Pregel run (hundreds of supersteps
    * over a 100 TB-derived graph) must survive a driver loss without
    * recomputing from superstep 0 — `localCheckpoint` truncates lineage
    * but dies with the executors. When `durableDir` is set, every block
    * ALSO writes the vertex state to `durableDir/step_<n>` parquet plus an
    * atomically-renamed `LATEST` marker (written only AFTER the parquet
    * commit, so a crash mid-write leaves the previous consistent state
    * discoverable). On a cluster the directory must be shared storage
    * (HDFS/S3), like any checkpoint dir. Cost: one extra write job per
    * block — opt-in for runs whose recompute cost exceeds it.
    *
    * [[resumeState]] reads the newest consistent state; pass it as
    * `vertices` with `startStep` to continue — vprog sees the same
    * absolute superstep indices it would have seen uninterrupted. */
  def resumeState(spark: SparkSession,
                  durableDir: String): Option[(DataFrame, Int)] = {
    val marker = java.nio.file.Paths.get(durableDir, "LATEST")
    if (!java.nio.file.Files.exists(marker)) None
    else {
      val n = java.nio.file.Files.readString(marker).trim.toInt
      Some((spark.read.parquet(s"$durableDir/step_$n"), n))
    }
  }

  private def writeDurable(v: DataFrame, durableDir: String,
                           step: Int): Unit = {
    v.write.mode("overwrite").parquet(s"$durableDir/step_$step")
    val dir = java.nio.file.Paths.get(durableDir)
    val tmp = dir.resolve("LATEST.tmp")
    java.nio.file.Files.writeString(tmp, step.toString)
    java.nio.file.Files.move(tmp, dir.resolve("LATEST"),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
  }

  /** Run a vertex program.
    *
    * @param vertices initial state, must carry an `id` column (+ state cols)
    * @param edges    `src`, `dst` (+ optional edge attribute cols)
    * @param maxIter  superstep cap (G6)
    * @param sendMsg  message payload, evaluated per out-edge over the
    *                 vertex⋈edges triplet (vertex state + edge attrs);
    *                 null = send nothing (G2's `forward`, and G7's
    *                 sub/unsub when gated on state)
    * @param mergeMsg commutative+associative aggregation over the `msg`
    *                 column — Catalyst makes it a partial agg, i.e. the
    *                 map-side combine remap never had
    * @param vprog    vertex update: receives current state joined with the
    *                 aggregated `msg` column (null when no messages) and the
    *                 0-based superstep; returns the new state with the same
    *                 `id` + state columns, optionally a `halt` boolean for
    *                 vote-to-halt (G5)
    * @param blockSize supersteps composed into ONE plan per materialization.
    *                 Catalyst planning (~200 ms/plan regardless of data
    *                 size) dominates a superstep once tasks are cheap, so
    *                 batching k supersteps per action cuts driver overhead
    *                 ~k×. The halt vote is only checked at block
    *                 boundaries, so a converged program runs up to
    *                 blockSize−1 extra supersteps — only set blockSize > 1
    *                 when that is harmless: fixed-iteration programs
    *                 (PageRank) or monotone ones whose converged state is a
    *                 fixed point (max/min propagation, components)
    * Adaptive block growth (double the block each materialization) was
    * tried and REJECTED, twice, with measurements: per-plan Catalyst
    * analysis + codegen cost grows super-linearly in composed supersteps,
    * so bigger blocks lose more on planning than they save on plan count —
    * blocks of 12 burned minutes of driver CPU (vs sub-second at 3), and
    * even a cap of 6 made the 27-superstep q33 4× slower (26.9s vs 6.4s at
    * fixed blockSize=3; sf0.1, local[32]). blockSize=3 is the measured
    * sweet spot for this loop's join+agg+join superstep shape.
    * @param durableDir write the state of every block there (see
    *                 [[resumeState]])
    * @param startStep absolute index of the first superstep (resume)
    * @param rowsPerPartition loop shuffle grain (see [[rowsPerLoopPartition]])
    */
  def run(vertices: DataFrame, edges: DataFrame, maxIter: Int,
          sendMsg: Column, mergeMsg: Column => Column,
          vprog: (DataFrame, Int) => DataFrame,
          blockSize: Int = 1,
          durableDir: Option[String] = None,
          startStep: Int = 0,
          rowsPerPartition: Long = rowsPerLoopPartition): PregelResult = {
    require(vertices.columns.contains("id"), "vertices need an `id` column")
    require(edges.columns.contains("src") && edges.columns.contains("dst"),
      "edges need `src` and `dst` columns")
    require(blockSize >= 1, "blockSize must be >= 1")
    require(startStep >= 0, "startStep must be >= 0")

    val spark = vertices.sparkSession
    var e = edges.persist(StorageLevel.MEMORY_AND_DISK)
    // everything after the first persist sits inside the try so a failure
    // anywhere — including setup (materializing the edge cache can run a
    // whole dedup pipeline for q47) — unpersists in the finally
    try {
    var v = vertices.localCheckpoint(true)
    val nEdges = e.count() // also materializes the edge cache
    val nVerts = v.count() // cheap: v is checkpointed
    val (session, loopParts) =
      loopSession(spark, math.max(nVerts, nEdges), rowsPerPartition)
    def inLoop(df: DataFrame): DataFrame = GraftSessionBridge.rebind(df, session)

    // Re-cache the edges HASH-PARTITIONED AND SORTED on `src`, the
    // triplets join's key (guide §2.4: operations keyed the same way
    // share one exchange). Every superstep joins vertices⋈edges on
    // id === src; with the cache exposing HashPartitioning(src,
    // loopParts) and per-partition src order, EnsureRequirements drops
    // the edge-side Exchange AND the edge-side Sort from every
    // superstep's SortMergeJoin — one setup shuffle of the edge set
    // buys maxIter exchanges+sorts of the same bytes (exchange reuse
    // only deduplicated WITHIN a block's plan, never across blocks, and
    // never the per-join sorts). The vertex side needs nothing: cur is
    // hash(id)-partitioned from superstep 1 on (join/agg output), and
    // LogicalRDD checkpoints preserve partitioning across blocks. This
    // also subsumes the old >2·loopParts coalesce compaction (the
    // repartition fixes the partition count exactly).
    e = inLoop {
      val c = e.repartition(loopParts, col("src"))
        .sortWithinPartitions("src")
        .persist(StorageLevel.MEMORY_AND_DISK)
      c.count() // materialize (reads the old cache, no recompute)
      e.unpersist(false)
      c
    }
    if (v.queryExecution.toRdd.getNumPartitions > 2 * loopParts)
      v = v.coalesce(loopParts).localCheckpoint(true)
    v = inLoop(v)
    var step = startStep
    var allHalt = false
    while (step < maxIter && !allHalt) {
      val block = math.min(blockSize, maxIter - step)
      // Compose `block` supersteps into one lazy plan. Plan aliases (not
      // df("col") attribute refs): the vertex frame's lineage contains the
      // edge frame both across materializations and within a block, so
      // attribute-id references would trip DetectAmbiguousSelfJoin; the
      // innermost SubqueryAlias shadows outer ones, so reusing __v/__e
      // per superstep resolves correctly.
      var cur = v
      var voteToHalt = false
      for (i <- 0 until block) {
        val triplets = cur.as("__v").join(e.as("__e"), col("__v.id") === col("__e.src"))
        val msgs = triplets
          .select(col("__e.dst").as("id"), sendMsg.as("msg"))
          .filter(col("msg").isNotNull)
        val agg = msgs.groupBy(col("id")).agg(mergeMsg(col("msg")).as("msg"))
        val joined = cur.join(agg, Seq("id"), "left_outer")
        val nv0 = vprog(joined, step + i)
        voteToHalt = nv0.columns.contains("halt")
        cur = nv0
      }
      step += block

      // One materialization per block: a LAZY local checkpoint, which the
      // durable write or the halt action below materializes in the same
      // Spark job — an eager checkpoint would run a second job per block
      // for nothing. Superseded generations are left to the
      // ContextCleaner (unpersist is a no-op on a checkpoint's plan).
      v = cur.localCheckpoint(false)
      durableDir.foreach(writeDurable(v, _, step))
      // The halt vote is an AGGREGATE, not filter(...).isEmpty: isEmpty is
      // a limit(1) that can stop after the first non-halting partition,
      // leaving this block's checkpoint partially materialized — the next
      // block would then silently recompute the missing partitions from
      // lineage. bool_and scans every partition, so the same job that
      // answers the vote also finishes the materialization (empty frame →
      // vacuous halt).
      allHalt =
        if (voteToHalt)
          // collect-ok: 1-row bool_and aggregate — the BSP halt vote
          v.agg(coalesce(bool_and(col("halt")), lit(true)))
            .head().getBoolean(0)                       // action → barrier
        else { v.count(); false }                       // action → barrier
    }

    // v is already a checkpoint: hand it back on the CALLER's session
    PregelResult(GraftSessionBridge.rebind(v.drop("halt"), spark), step)
    } finally e.unpersist(false)
  }
}
