package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.ops.Windows

/** Similarity search over an embedding column (`Array[Float]`).
  *
  * Two paths, per the north-star brief:
  *   - brute-force cosine top-k — the exactness baseline: broadcast the
  *     query set, one scan of the corpus, salted two-phase top-k; no
  *     shuffle of the corpus itself, so it scales to any corpus size
  *     as long as the query set broadcasts;
  *   - sign-LSH (random-hyperplane) bucketed ANN — the scale path when
  *     the query set itself is large: both sides bucket by hyperplane
  *     sign bits, candidates come only from matching (multiprobe)
  *     buckets, so cost is per-bucket, never |corpus|×|queries|.
  *
  * All arithmetic is double (`Array[Float]` cast element-wise): Spark's
  * `aggregate` folds sequentially, which makes the dot product
  * deterministic and bit-identical to DuckDB's `list_dot_product` on the
  * same doubles — ranks are computed on ROUND(cos, 6) with an id tiebreak
  * so the cross-engine ordering is stable.
  */
object Similarity {

  /** Element-wise widening to double — float accumulation would both
    * drift from the oracle and lose precision at dim≫64. A native array
    * cast, NOT `transform(c, _.cast("double"))`: the HOF form evaluates
    * its lambda interpreted per element on every corpus row (the exact
    * shape the codebase bans from hot paths), while Cast stays inside
    * whole-stage codegen; float→double widening is exact either way. */
  def vecAsDouble(c: Column): Column = c.cast("array<double>")

  /** Dot product via the native codegen'd expression — same left-to-right
    * summation order as a sequential fold (bit-identical to DuckDB's
    * `list_dot_product`), but a primitive loop inside whole-stage codegen
    * instead of an interpreted `aggregate(zip_with(...))` HOF. */
  def dot(a: Column, b: Column): Column = graft.functions.VectorExpressions.dot(a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** `df` with a size guard fused into its plan: the action that reads it
    * fails with `remediation` once `df` holds more than `cap` rows. The
    * count is a scalar subquery over at most cap+1 rows (limit before
    * count), run by that action, so a violating caller pays a bounded
    * probe and building the plan starts no Spark job — the same
    * execution-time failure as [[sortedNeighborhoodPairs]]' catalog
    * guard. An empty `df` never evaluates the guard. */
  private def sizeGuarded(df: DataFrame, cap: Int,
                          remediation: String): DataFrame =
    df.filter(when(df.limit(cap + 1).select(count(lit(1))).scalar() > cap,
      raise_error(lit(remediation))).otherwise(lit(true)))

  /** Brute-force cosine top-k: every query against every corpus vector,
    * ranked per query on the rounded cosine. `queries` is broadcast — the
    * corpus is never shuffled; the only shuffle is the two-phase top-k on
    * (query, salt), so the plan survives a corpus 1000× larger — but ONLY
    * while the query side fits a broadcast. `maxQueryRows` makes that
    * precondition a loud failure instead of a driver OOM: a 10M-row query
    * set must go through [[annCosineTopK]] (or a corpus⋈corpus shuffle
    * join), not through this operator with a bigger cap. The guard is
    * [[sizeGuarded]]: it fails the first action, and building the plan
    * runs no job. */
  def cosineTopK(corpus: DataFrame, queries: DataFrame, k: Int,
                 maxQueryRows: Int = 500000): DataFrame = {
    val q = sizeGuarded(queries, maxQueryRows,
      s"cosineTopK broadcasts the query side: more than " +
        s"$maxQueryRows rows — use annCosineTopK for large query sets")
    val pairs = corpus.withColumn("nv", norm(col("v")))
      // bcast-ok: query side, size-guarded by sizeGuarded above
      .crossJoin(broadcast(q.withColumn("nq", norm(col("qv")))))
      .filter(col("vec_id") =!= col("qid"))
      .withColumn("cos",
        round(dot(col("qv"), col("v")) / (col("nq") * col("nv")), 6))
    Windows.perGroupTopK(pairs,
      group = Seq(col("qid")),
      order = Seq(col("cos").desc, col("vec_id")),
      saltSrc = col("vec_id"), k = k)
      .select(col("qid"), col("vec_id"), col("cos"), col("rn").cast("int").as("rank"))
  }

  /** Deterministic ±1 hyperplane components (explicit LCG — no dependence
    * on JVM PRNG stream stability). */
  private def hyperplane(plane: Int, dim: Int): Seq[Double] = {
    var x = 0x9E3779B97F4A7C15L ^ (plane * 0xBF58476D1CE4E5B9L)
    Seq.fill(dim) {
      x = x * 6364136223846793005L + 1442695040888963407L
      if (((x >>> 62) & 1L) == 1L) 1.0 else -1.0
    }
  }

  /** Sign-LSH bucket id: bit j = sign of ⟨v, hyperplane_j⟩. Nearby vectors
    * (small angle) agree on most sign bits, so they collide in buckets. */
  def signLshBucket(v: Column, planes: Int, dim: Int): Column =
    (0 until planes).map { j =>
      val h = array(hyperplane(j, dim).map(lit): _*)
      when(dot(v, h) > 0, lit(1 << j)).otherwise(lit(0))
    }.reduce(_ + _)

  /** Hard ceiling on the derived plane count (2^16 buckets at the cap). */
  val maxPlanes = 16

  /** [[signLshBucket]] with a RUNTIME plane count (a per-row-constant
    * column from the broadcast [[planesDf]] row): bit j contributes only
    * when j < planes. The guard is the OUTER branch, so the plane-j dot
    * product is never evaluated for unused bits — a fixed-width unroll to
    * [[maxPlanes]] whose cost is the runtime plane count, not 16. */
  def signLshBucketUpTo(v: Column, planes: Column, dim: Int): Column =
    (0 until maxPlanes).map { j =>
      val h = array(hyperplane(j, dim).map(lit): _*)
      when(lit(j) < planes,
        when(dot(v, h) > 0, lit(1 << j)).otherwise(lit(0)))
        .otherwise(lit(0))
    }.reduce(_ + _)

  /** One-row (planes) frame derived from the corpus IN-PLAN: the smallest
    * p ≤ [[maxPlanes]] with 2^p ≥ ⌈n / targetBucket⌉ — bucket count scales
    * with the corpus so the expected bucket stays ~targetBucket as the
    * corpus grows (a fixed plane count makes per-bucket cost quadratic in
    * corpus size). Pure integer arithmetic (`2^p·target ≥ n`), so the
    * DuckDB replay derives the identical count. */
  private[graft] def planesDf(corpus: DataFrame, targetBucket: Long): DataFrame =
    corpus.agg(count(lit(1)).as("n"))
      .select(explode(sequence(lit(1), lit(maxPlanes))).as("p"), col("n"))
      .filter(expr(s"shiftleft(CAST(1 AS BIGINT), p) * $targetBucket >= n"))
      .agg(coalesce(min(col("p")), lit(maxPlanes)).as("planes"))

  /** Multiprobe masks for the runtime plane count: the exact bucket plus
    * every hamming-1 neighbor, exploded per probe row. */
  private val probeMasks: Column =
    expr("explode(concat(array(0), " +
      "transform(sequence(0, planes - 1), j -> shiftleft(1, j))))")

  /** Corpus bucketed with the derived plane count, minus degenerate
    * buckets: bucket sizes via groupBy.count + semi join (map-side
    * partial, never a value-keyed window — a degenerate bucket is
    * precisely a hot key), buckets over `maxBucket` dropped from candidate
    * generation entirely, like [[Dedup.lshCandidates]]. Persisted: the
    * frame feeds both the sizing aggregate and the candidate join, and its
    * lineage holds [[maxPlanes]] dot products per row. */
  private def cappedBuckets(corpus: DataFrame, vec: String, pl: DataFrame,
                            maxBucket: Long, dim: Int): DataFrame = {
    val bucketed = graft.CacheRegistry.persist(
      // cross-ok: pl is the caller's broadcast 1-row hyperplane frame
      corpus.crossJoin(pl)
        .withColumn("bkt", signLshBucketUpTo(col(vec), col("planes"), dim))
        .drop("planes"))
    val smallBuckets = bucketed.groupBy("bkt")
      .agg(count(lit(1)).as("bsz"))
      .filter(col("bsz") <= maxBucket)
      .select("bkt")
    bucketed.join(smallBuckets, Seq("bkt"), "left_semi")
  }

  /** ANN cosine top-k: bucket both sides with a plane count derived from
    * the corpus ([[planesDf]]), drop degenerate buckets, probe the exact
    * bucket plus all hamming-1 neighbors (multiprobe — recovers most
    * boundary losses), rank candidates per query. Approximate by design:
    * verified against the brute-force baseline by a recall test; the
    * derived plane count and cap are replayed bit-for-bit by the oracle.
    *
    * @param targetBucket expected bucket occupancy the plane count aims
    *        for; the scale knob (cost per bucket ~ targetBucket²)
    * @param maxBucket degenerate-bucket cap: buckets larger than this
    *        (duplicate pile-ups, adversarial inputs) are dropped from
    *        candidate generation — recall loss on pathological data is the
    *        documented price of bounded per-bucket cost
    * @param broadcastQueries true (default) map-side-joins the probe side —
    *        right while queries×(planes+1) rows fit a broadcast. For query
    *        sets past that, pass false: the bucket equi-join shuffles both
    *        sides on `bkt` instead, which scales with data size — unlike
    *        [[cosineTopK]], whose all-pairs shape has no shuffle form. */
  def annCosineTopK(corpus: DataFrame, queries: DataFrame, k: Int,
                    targetBucket: Long = defaultTargetBucket,
                    maxBucket: Long = defaultMaxBucket, dim: Int = 64,
                    broadcastQueries: Boolean = true): DataFrame = {
    // bcast-ok: hyperplane frame — row count fixed by targetBucket, not data-scaled
    val pl = broadcast(planesDf(corpus, targetBucket))
    val capped = cappedBuckets(corpus, "v", pl, maxBucket, dim)
    // cross-ok: pl is the broadcast 1-row hyperplane frame above
    val qb = queries.crossJoin(pl)
      .withColumn("qbkt", signLshBucketUpTo(col("qv"), col("planes"), dim))
      .select(col("qid"), col("qv"), col("qbkt"), probeMasks.as("probe"))
      .withColumn("bkt", col("qbkt").bitwiseXOR(col("probe")))
      .drop("qbkt", "probe")
    val qside = qb.withColumn("nq", norm(col("qv")))
    val pairs = capped.withColumn("nv", norm(col("v")))
      // bcast-ok: gated by the broadcastQueries knob (caller asserts a small query set; shuffle path otherwise)
      .join(if (broadcastQueries) broadcast(qside) else qside, Seq("bkt"))
      .filter(col("vec_id") =!= col("qid"))
      .withColumn("cos",
        round(dot(col("qv"), col("v")) / (col("nq") * col("nv")), 6))
    Windows.perGroupTopK(pairs.dropDuplicates("qid", "vec_id"),
      group = Seq(col("qid")),
      order = Seq(col("cos").desc, col("vec_id")),
      saltSrc = col("vec_id"), k = k)
      .select(col("qid"), col("vec_id"), col("cos"), col("rn").cast("int").as("rank"))
  }

  // --------------------------------------------------------------- queries

  /** Zero-norm (all-zero) embeddings are DIRECTIONLESS: cosine against
    * them is 0/0, which under ANSI mode kills the whole job with
    * DIVIDE_BY_ZERO — and one bad encoder output in 100 TB of embeddings
    * is a certainty, not an edge case (found by the round-8 adversarial
    * edge-corpus sweep: a single zero vector crashed nine similarity
    * queries). The rule: zero-norm vectors are excluded from every
    * cosine-semantics corpus at load (a directionless vector can be
    * similar to nothing); the oracle SQL mirrors the same WHERE. The
    * euclidean family (k-means cells) keeps them — a zero point has a
    * perfectly defined position. */
  private def nonzeroVecs(df: DataFrame, vecCol: String): DataFrame =
    df.filter(dot(col(vecCol), col(vecCol)) > lit(0.0))

  /** The oracle-side mirror of [[nonzeroVecs]]. */
  private val nonzeroVecWhere: String =
    "list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) > 0"

  private def corpus(spark: SparkSession, dir: String): DataFrame =
    nonzeroVecs(Tables.embeddings(spark, dir)
      .select(col("vec_id"), vecAsDouble(col("embedding")).as("v")), "v")

  private def queryVecs(spark: SparkSession, dir: String): DataFrame =
    nonzeroVecs(Tables.embeddings(spark, dir)
      .filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), vecAsDouble(col("embedding")).as("qv")),
      "qv")

  // --- q28_similarity_topk: exact cosine top-5 for 10 query vectors -------
  def q28SimilarityTopK(spark: SparkSession, dir: String): DataFrame =
    cosineTopK(corpus(spark, dir), queryVecs(spark, dir), 5)

  val q28SimilarityTopKSql: String = s"""
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
               WHERE $nonzeroVecWhere),
    q AS (SELECT vec_id AS qid, v AS qv FROM v WHERE vec_id < 10),
    p AS (SELECT qid, vec_id,
                 ROUND(list_dot_product(qv, v) /
                       (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(v, v))),
                       6) AS cos
          FROM q, v WHERE vec_id <> qid),
    r AS (SELECT qid, vec_id, cos,
                 CAST(ROW_NUMBER() OVER (PARTITION BY qid
                                         ORDER BY cos DESC, vec_id) AS INT) AS rank
          FROM p)
    SELECT qid, vec_id, cos, rank FROM r WHERE rank <= 5"""

  // --- q42_ann_topk: bucketed approximate variant -------------------------
  // "Approximate" refers to recall vs the exhaustive q28, not to
  // nondeterminism: the hyperplanes are fixed, so bucketing, multiprobe and
  // ranking are a pure function of the data — which makes the ANN result
  // itself oracle-able. The SQL below replays the exact pipeline in DuckDB
  // with the hyperplane components inlined as literals (generated from the
  // same LCG, so the engines cannot drift). A recall spec against q28
  // additionally guards the ALGORITHM's quality, which a replay oracle
  // cannot.
  def q42AnnTopK(spark: SparkSession, dir: String): DataFrame =
    annCosineTopK(corpus(spark, dir), queryVecs(spark, dir), 5)

  // Shared constants between the Scala defaults and the generated oracle
  // SQL — the engines cannot disagree on the knob values
  private val defaultTargetBucket = 8L
  private val defaultMaxBucket = 512L

  // --- DuckDB replay helpers: the hyperplane components as SQL literals ----
  private def hyperplaneSql(j: Int, dim: Int): String =
    hyperplane(j, dim).map(d => if (d > 0) "1.0" else "-1.0")
      .mkString("[", ",", "]")

  /** The [[signLshBucketUpTo]] expression over a SQL vector column —
    * unrolled to [[maxPlanes]] with the same `j < planes` guard, reading
    * the derived count from the `pl` CTE (which must be in the FROM). */
  private def bucketSqlAdaptive(vec: String, dim: Int = 64): String =
    (0 until maxPlanes).map { j =>
      s"(CASE WHEN $j < pl.planes THEN (CASE WHEN list_dot_product($vec, ${
        hyperplaneSql(j, dim)}) > 0 THEN ${1 << j} ELSE 0 END) ELSE 0 END)"
    }.mkString(" + ")

  /** The [[planesDf]] derivation as CTEs: `pn` (corpus count) and `pl`
    * (smallest p ≤ maxPlanes with 2^p·target ≥ n) — the identical integer
    * arithmetic the Spark plan runs. */
  private def planesCteSql(corpusCte: String, targetBucket: Long): String = s"""
    pn AS (SELECT COUNT(*) AS n FROM $corpusCte),
    pl AS (SELECT COALESCE(MIN(p), $maxPlanes) AS planes
           FROM (SELECT unnest(range(1, ${maxPlanes + 1})) AS p), pn
           WHERE (CAST(1 AS BIGINT) << p) * $targetBucket >= pn.n)"""

  /** Per-row multiprobe explode over the runtime plane count (the SQL form
    * of [[probeMasks]]); emits a `probe` column next to `cols`. */
  private def probeUnnestSql(cols: String, from: String): String =
    s"""SELECT $cols,
               unnest(list_prepend(0,
                 list_transform(range(0, pl.planes), j -> (1 << j)))) AS probe
        FROM $from, pl"""

  val q42AnnTopKSql: String = s"""
    WITH ve AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
                WHERE $nonzeroVecWhere),
    ${planesCteSql("ve", defaultTargetBucket)},
    b AS (SELECT vec_id, v, ${bucketSqlAdaptive("v")} AS bkt FROM ve, pl),
    sz AS (SELECT bkt FROM b GROUP BY bkt HAVING COUNT(*) <= $defaultMaxBucket),
    bc AS (SELECT b.vec_id, b.v, b.bkt FROM b JOIN sz USING (bkt)),
    q AS (SELECT vec_id AS qid, v AS qv, bkt AS qbkt FROM b WHERE vec_id < 10),
    qp AS (SELECT qid, qv, CAST(xor(qbkt, probe) AS INT) AS bkt
           FROM (${probeUnnestSql("qid, qv, qbkt", "q")}) t),
    p AS (SELECT qp.qid, bc.vec_id,
                 ROUND(list_dot_product(qp.qv, bc.v) /
                       (sqrt(list_dot_product(qp.qv, qp.qv)) *
                        sqrt(list_dot_product(bc.v, bc.v))), 6) AS cos
          FROM qp JOIN bc ON qp.bkt = bc.bkt AND bc.vec_id <> qp.qid),
    r AS (SELECT qid, vec_id, cos,
                 CAST(ROW_NUMBER() OVER (PARTITION BY qid
                                         ORDER BY cos DESC, vec_id) AS INT) AS rank
          FROM p)
    SELECT qid, vec_id, cos, rank FROM r WHERE rank <= 5"""

  // --- embedding-cosine near-dup -------------------------------------------
  /** Vector pairs above a cosine threshold, found through sign-LSH buckets
    * with hamming-1 multiprobe on one side — the embedding-space cousin of
    * q31/q35, never an all-pairs join. The plane count derives from the
    * corpus ([[planesDf]]) so expected bucket occupancy stays ~targetBucket
    * at any corpus size, and buckets past `maxBucket` (duplicate pile-ups —
    * exactly the buckets whose |l|·|r| cost explodes) are dropped from BOTH
    * sides of the pair join, like [[Dedup.lshCandidates]]'s cap. Intended
    * for genuine near-dups (cos ≥ ~0.9, small angles) where sign bits
    * mostly agree; the synthetic corpus has no such pairs (max pairwise
    * cos ≈ 0.51), so the q48 query derives a planted variant in-query (see
    * [[q48EmbedNearDup]]); planted-pair specs cover the API directly,
    * including the cap and a >6-plane derived count. */
  def embeddingNearDup(corpus: DataFrame, threshold: Double,
                       targetBucket: Long = defaultTargetBucket,
                       maxBucket: Long = defaultMaxBucket,
                       dim: Int = 64): DataFrame = {
    // bcast-ok: hyperplane frame — row count fixed by targetBucket, not data-scaled
    val pl = broadcast(planesDf(corpus, targetBucket))
    val b = graft.CacheRegistry.persist(
      cappedBuckets(corpus, "v", pl, maxBucket, dim)
        .withColumn("nrm", norm(col("v"))))
    // cross-ok: pl is the broadcast 1-row hyperplane frame above
    val probed = b.crossJoin(pl)
      .select(col("vec_id"), col("v"), col("nrm"), col("bkt"),
        probeMasks.as("probe"))
      .withColumn("bkt", col("bkt").bitwiseXOR(col("probe")))
      .drop("probe")
    b.as("l").join(probed.as("r"),
        col("l.bkt") === col("r.bkt") && col("l.vec_id") < col("r.vec_id"))
      .select(col("l.vec_id").as("id_a"), col("r.vec_id").as("id_b"),
        round(dot(col("l.v"), col("r.v")) / (col("l.nrm") * col("r.nrm")), 6).as("cos"))
      .filter(col("cos") >= threshold)
      .distinct()
  }

  // --- q48_embed_neardup: embedding-cosine near-dup over a planted corpus --
  // The corpus is the embeddings table plus, for vec_id < 50, a shifted copy
  // (vec_id + 100000, v + 0.02): cos(v, v + 0.02·1) ≈ 0.987 on this data,
  // cleanly above the 0.9 threshold while every background pair stays below
  // ~0.51. The derivation is elementwise-deterministic, so the DuckDB oracle
  // rebuilds the identical corpus and replays the detector (buckets from the
  // same literal hyperplanes, hamming-1 multiprobe, threshold) — like q42,
  // the oracle checks the pipeline bit-for-bit, and the pair set it must
  // reproduce is exactly the planted one.
  def q48EmbedNearDup(spark: SparkSession, dir: String): DataFrame =
    embeddingNearDup(nearDupCorpus(spark, dir), threshold = 0.9)

  private[graft] def nearDupCorpus(spark: SparkSession, dir: String): DataFrame = {
    val base = corpus(spark, dir)
    base.unionByName(
      base.filter(col("vec_id") < 50)
        .select((col("vec_id") + 100000).as("vec_id"),
          transform(col("v"), x => x + lit(0.02)).as("v")))
  }

  val q48EmbedNearDupSql: String = s"""
    WITH ve AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
                WHERE $nonzeroVecWhere),
    corpus AS (
      SELECT vec_id, v FROM ve
      UNION ALL
      SELECT vec_id + 100000, list_transform(v, x -> x + 0.02)
      FROM ve WHERE vec_id < 50),
    ${planesCteSql("corpus", defaultTargetBucket)},
    b0 AS (SELECT vec_id, v, ${bucketSqlAdaptive("v")} AS bkt FROM corpus, pl),
    sz AS (SELECT bkt FROM b0 GROUP BY bkt HAVING COUNT(*) <= $defaultMaxBucket),
    b AS (SELECT b0.vec_id, b0.v, b0.bkt FROM b0 JOIN sz USING (bkt)),
    pr AS (SELECT vec_id, v, CAST(xor(bkt, probe) AS INT) AS bkt
           FROM (${probeUnnestSql("vec_id, v, bkt", "b")}) t),
    p AS (SELECT l.vec_id AS id_a, r.vec_id AS id_b,
                 ROUND(list_dot_product(l.v, r.v) /
                       (sqrt(list_dot_product(l.v, l.v)) *
                        sqrt(list_dot_product(r.v, r.v))), 6) AS cos
          FROM b l JOIN pr r ON l.bkt = r.bkt AND l.vec_id < r.vec_id)
    SELECT DISTINCT id_a, id_b, cos FROM p WHERE cos >= 0.9"""

  // --- q43_ivf_label_pairs: IVF-style partitioned top pairs ---------------
  // Inverted-file search with the `label` column as the coarse quantizer:
  // pairs form only within a label partition (the IVF cell), top-3 most
  // similar per cell. Exact within cells, so fully oracle-able — and the
  // label-partitioned join is the shape an IVF index join has at scale.
  def ivfLabelTopPairs(spark: SparkSession, dir: String, k: Int): DataFrame = {
    val b = nonzeroVecs(Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("label"), vecAsDouble(col("embedding")).as("v")),
      "v")
      .withColumn("nrm", norm(col("v")))
    val pairs = b.as("l").join(b.as("r"),
        col("l.label") === col("r.label") && col("l.vec_id") < col("r.vec_id"))
      .select(col("l.label").as("label"),
        col("l.vec_id").as("id_a"), col("r.vec_id").as("id_b"),
        round(dot(col("l.v"), col("r.v")) / (col("l.nrm") * col("r.nrm")), 6).as("cos"))
    Windows.perGroupTopK(pairs,
      group = Seq(col("label")),
      order = Seq(col("cos").desc, col("id_a"), col("id_b")),
      saltSrc = col("id_a"), k = k)
      .select(col("label"), col("id_a"), col("id_b"), col("cos"),
        col("rn").cast("int").as("rank"))
  }

  def q43IvfLabelPairs(spark: SparkSession, dir: String): DataFrame =
    ivfLabelTopPairs(spark, dir, 3)

  val q43IvfLabelPairsSql: String = s"""
    WITH v AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings
               WHERE $nonzeroVecWhere),
    p AS (SELECT a.label, a.vec_id AS id_a, b.vec_id AS id_b,
                 ROUND(list_dot_product(a.v, b.v) /
                       (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))),
                       6) AS cos
          FROM v a JOIN v b ON a.label = b.label AND a.vec_id < b.vec_id),
    r AS (SELECT label, id_a, id_b, cos,
                 CAST(ROW_NUMBER() OVER (PARTITION BY label
                                         ORDER BY cos DESC, id_a, id_b) AS INT) AS rank
          FROM p)
    SELECT label, id_a, id_b, cos, rank FROM r WHERE rank <= 3"""

  // --- q73_kmeans: Lloyd iterations — the IVF coarse-quantizer trainer ----
  /** Deterministic k-means over the embedding corpus: seed centroids are
    * the k lowest-id vectors, then `iters` Lloyd rounds (assign → mean),
    * then a final assignment. This is the training step q43's IVF cells
    * assume, and the workhorse of semantic dedup / diversity sampling over
    * embedding spaces.
    *
    * Scale shape per round: centroids broadcast (k×dim doubles — trivially
    * small at any corpus size), ONE pass over the corpus computing k
    * distances per vector via the codegen'd `dot_product` (the corpus is
    * never shuffled for assignment — only the (id, cid) argmin partial-
    * aggregates), and the centroid update partial-aggregates per (cid,
    * dim) map-side, so the update shuffle carries k×dim rows per map task
    * regardless of corpus size.
    *
    * Determinism across engines (what the oracle certifies): distances are
    * index-ordered double sums (`dot` ≡ DuckDB `list_dot_product`, the
    * bit-identity q43/q48 already pin); argmin ties break on cid; the
    * per-dimension mean is an order-free DECIMAL sum cast to double before
    * the divide (the `dsum` pattern) — so two engines, or two partitionings
    * of the same engine, produce identical centroids bit-for-bit. */
  def kMeans(vecs0: DataFrame, id: String, vec: String,
             k: Int, iters: Int): DataFrame =
    kMeansOnPersisted(graft.CacheRegistry.persist(
      vecs0.select(col(id), vecAsDouble(col(vec)).as("v"))), id, k, iters)

  /** Lloyd loop over an ALREADY-persisted `(id, v: array<double>)` frame —
    * split out so [[semanticDedup]] can share one cached corpus projection
    * between the training loop and its pair join instead of caching the
    * corpus twice. */
  private def kMeansOnPersisted(ve: DataFrame, id: String,
                                k: Int, iters: Int): DataFrame =
    assignTo(ve, trainedCentroids(ve, id, k, iters), id)
      .select(col(id), col("cid").as("cluster"), round(col("d2"), 6).as("d2"))

  /** One argmin assignment of `(id, v)` rows against broadcast `(cid, c)`
    * centroids — the kernel [[kMeansOnPersisted]] and the PQ encoders
    * share. The corpus never shuffles: the k-row centroid frame broadcasts
    * into the cross join and the argmin partial-aggregates map-side. */
  private def assignTo(ve: DataFrame, cent: DataFrame,
                       id: String): DataFrame =
    // bcast-ok: centroid frame — k rows
    ve.crossJoin(broadcast(cent))
      .withColumn("d2", dot(col("v"), col("v")) -
        lit(2) * dot(col("v"), col("c")) + dot(col("c"), col("c")))
      .groupBy(col(id))
      .agg(min(struct(col("d2"), col("cid"))).as("m"))
      .select(col(id), col("m.cid").as("cid"), col("m.d2").as("d2"))

  /** The Lloyd training loop alone — returns the final `(cid, c)`
    * centroid frame so callers needing the CODEBOOK (ADC lookup tables,
    * not just assignments) can reuse it. */
  private def trainedCentroids(ve: DataFrame, id: String,
                               k: Int, iters: Int): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    def update(asg: DataFrame): DataFrame =
      asg.join(ve, id)
        .select(col("cid"), posexplode(col("v")).as(Seq("pos", "x")))
        .groupBy(col("cid"), col("pos"))
        .agg((sum(col("x").cast(DecimalType(28, 12))).cast("double") /
          count(lit(1))).as("x"))
        .groupBy(col("cid"))
        // groupagg-ok: dim rows per centroid — vector dimensionality, a constant
        .agg(sort_array(collect_list(struct(col("pos"), col("x")))).as("ps"))
        // per-row HOF over k tiny rows — interpreted is fine here
        .select(col("cid"), transform(col("ps"), p => p("x")).as("c"))
    // seed = the k lowest-id vectors (orderBy+limit, NOT `id < k`: ids need
    // not be dense or zero-based, and a sparse id space must still yield k
    // seeds). The cid label is the seed's own id — stable under any id set.
    var cent = ve.orderBy(col(id)).limit(k)
      .select(col(id).cast("long").as("cid"), col("v").as("c"))
    for (_ <- 1 to iters) cent = update(assignTo(ve, cent, id))
    cent
  }

  val kMeansK = 8
  val kMeansIters = 2

  def q73KMeans(spark: SparkSession, dir: String): DataFrame =
    kMeans(Tables.embeddings(spark, dir), "vec_id", "embedding",
      kMeansK, kMeansIters)

  /** Oracle: the same Lloyd iterations unrolled as generated CTEs (q32's
    * pattern — Spark and SQL can never disagree on k or the round count).
    * Parameterized by the corpus CTE body (`veSql` must yield
    * `(vec_id, v DOUBLE[])`) so q74's planted-corpus replay reuses the
    * identical chain; the caller appends its own final SELECT over `af`
    * (= the post-training assignment `(vec_id, cid, d2)`).
    *
    * @param pre CTE-name prefix so two chains can coexist in one WITH —
    *            what [[q99PqSql]] needs to train one codebook per
    *            subspace. Inner table aliases never leak, so only the
    *            CTE names carry the prefix. */
  private[ext] def kMeansCtes(veSql: String, k: Int, iters: Int,
                              pre: String = ""): String = {
    val prelude = s"""
    ${pre}ve AS ($veSql),
    ${pre}c0 AS (SELECT CAST(vec_id AS BIGINT) AS cid, v AS c FROM ${pre}ve
           ORDER BY vec_id LIMIT $k)"""
    def assignSql(i: String, prev: String) = s"""
    ${pre}s$i AS (SELECT ve.vec_id, c.cid,
                   list_dot_product(ve.v, ve.v) - 2*list_dot_product(ve.v, c.c)
                     + list_dot_product(c.c, c.c) AS d2
            FROM ${pre}ve ve CROSS JOIN $prev c),
    ${pre}a$i AS (SELECT vec_id, cid, d2 FROM (
              SELECT vec_id, cid, d2,
                     ROW_NUMBER() OVER (PARTITION BY vec_id
                                        ORDER BY d2, cid) AS rn
              FROM ${pre}s$i) t WHERE rn = 1)"""
    val steps = (1 to iters).map { i =>
      s""",${assignSql(i.toString, s"${pre}c${i - 1}")},
    ${pre}m$i AS (SELECT a.cid, r.i AS pos,
                   CAST(SUM(CAST(e.v[r.i] AS DECIMAL(28,12))) AS DOUBLE)
                     / COUNT(*) AS x
            FROM ${pre}a$i a JOIN ${pre}ve e USING (vec_id),
                 unnest(range(1, len(e.v) + 1)) AS r(i)
            GROUP BY a.cid, r.i),
    ${pre}c$i AS (SELECT cid, list(x ORDER BY pos) AS c FROM ${pre}m$i GROUP BY cid)"""
    }.mkString
    s"""$prelude$steps,${assignSql("f", s"${pre}c$iters")}"""
  }

  val q73KMeansSql: String = s"""
    WITH ${kMeansCtes("SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings",
      kMeansK, kMeansIters)}
    SELECT vec_id, cid AS cluster, ROUND(d2, 6) AS d2 FROM af"""

  /** The DuckDB replay of [[kMeansIvf]], composed from [[kMeansCtes]] (the
    * coarse chain, prefix `${pre}g`) plus unrolled per-cell fine rounds.
    * Ends in `${pre}faf` = (vec_id, cid, ccell, d2-unrounded); the corpus
    * CTE is `${pre}gve`. Per-cell seeds are ROW_NUMBER ≤ kf over
    * (ccell, vec_id) — exactly [[Windows.perGroupTopK]]'s contract — and
    * fine assignment joins each point to its own cell's centroids only,
    * with the same (d2, cid) tie-break as the Spark struct-min. */
  private[ext] def kMeansIvfCtes(veSql: String, k: Int, iters: Int,
                                 pre: String = "", nprobe: Int = 1): String = {
    val kc = math.max(1, math.ceil(math.sqrt(k.toDouble)).toInt)
    val kf = (k + kc - 1) / kc
    def fineAssign(i: String, prev: String, pts: String = s"${pre}vc") = s"""
    ${pre}fs$i AS (SELECT p.vec_id, c.cid, c.ccell,
                   list_dot_product(p.v, p.v) - 2*list_dot_product(p.v, c.c)
                     + list_dot_product(c.c, c.c) AS d2
            FROM $pts p JOIN $prev c ON c.ccell = p.ccell),
    ${pre}fa$i AS (SELECT vec_id, cid, ccell, d2 FROM (
              SELECT vec_id, cid, ccell, d2,
                     ROW_NUMBER() OVER (PARTITION BY vec_id
                                        ORDER BY d2, cid) AS rn
              FROM ${pre}fs$i) t WHERE rn = 1)"""
    val fineSteps = (1 to iters).map { i =>
      s""",${fineAssign(i.toString, s"${pre}fc${i - 1}")},
    ${pre}fm$i AS (SELECT a.ccell, a.cid, r.i AS pos,
                   CAST(SUM(CAST(e.v[r.i] AS DECIMAL(28,12))) AS DOUBLE)
                     / COUNT(*) AS x
            FROM ${pre}fa$i a JOIN ${pre}vc e ON e.vec_id = a.vec_id,
                 unnest(range(1, len(e.v) + 1)) AS r(i)
            GROUP BY a.ccell, a.cid, r.i),
    ${pre}fc$i AS (SELECT ccell, cid, list(x ORDER BY pos) AS c
            FROM ${pre}fm$i GROUP BY ccell, cid)"""
    }.mkString
    // nprobe > 1: the FINAL assignment reads per-point candidates from the
    // `nprobe` nearest coarse cells (the coarse chain's final score CTE
    // `${pre}gsf` already holds every point×coarse-centroid distance);
    // training CTEs keep the primary-cell `${pre}vc` — exactly the Spark
    // side's contract (fine codebooks partition their primary cells).
    val probedCte =
      if (nprobe <= 1) ""
      else s""",
    ${pre}vcn AS (SELECT e.vec_id, e.v, t.cid AS ccell FROM (
              SELECT vec_id, cid, d2,
                     ROW_NUMBER() OVER (PARTITION BY vec_id
                                        ORDER BY d2, cid) AS rn
              FROM ${pre}gsf) t JOIN ${pre}gve e ON e.vec_id = t.vec_id
            WHERE t.rn <= $nprobe)"""
    val finalPts = if (nprobe <= 1) s"${pre}vc" else s"${pre}vcn"
    s"""${kMeansCtes(veSql, kc, iters, s"${pre}g")},
    ${pre}vc AS (SELECT e.vec_id, e.v, a.cid AS ccell
           FROM ${pre}gve e JOIN ${pre}gaf a ON a.vec_id = e.vec_id)$probedCte,
    ${pre}fc0 AS (SELECT ccell, CAST(vec_id AS BIGINT) AS cid, v AS c FROM (
              SELECT ccell, vec_id, v,
                     ROW_NUMBER() OVER (PARTITION BY ccell
                                        ORDER BY vec_id) AS rn
              FROM ${pre}vc) t WHERE rn <= $kf)$fineSteps,${
      fineAssign("f", s"${pre}fc$iters", finalPts)}"""
  }

  // --- q74_semantic_dedup: SemDeDup — k-means cells, then cosine prune ----
  /** k at/above which [[semanticDedup]]'s `"auto"` routing swaps the flat
    * broadcast argmin for [[kMeansIvf]]'s two-level N·√k assignment. Set
    * from the round-15 crossover measurement:
    * flat and IVF SemDeDup timed head-to-head end-to-end on the identical
    * corpus and k = n/256 schedule — flat wins at k = 512 (8.9 vs 14.9 s),
    * IVF from k = 1024 on (14.6 vs 12.2 s, then 27.7 vs 17.2 at 2048 and
    * 86.1 vs 23.9 at 4096). The r14 extrapolation (~2²³ rows) was an
    * order of magnitude conservative: the flat argmin's N·k term is
    * already dominant at 2¹⁸ rows on 32 cores. Callers pin a path with
    * `routing = "flat"` / `"ivf"` (the probes do, so the measured
    * exponents stay path-pure). */
  val semanticDedupIvfK: Int = 1024

  /** Semantic deduplication (SemDeDup, Abbas et al. 2023): cluster the
    * embedding space with [[kMeans]], detect near-duplicate pairs only
    * WITHIN a cluster, and keep a document iff NO above-threshold neighbor
    * precedes it in the farthest-from-centroid-first order (larger `d2`
    * first, ties break on lower id) — the paper's matrix rule with its
    * keep-the-least-typical ordering. Note the rule checks against ALL
    * preceding neighbors, dropped or not, exactly as the published
    * algorithm does: in a similarity CHAIN a–b–c (a~b, b~c, a≁c, d2
    * a<b<c), both a and b drop even though b itself is gone — the
    * conservative, order-free-to-replay choice (a per-component champion
    * would need the transitive closure). Output is every corpus row with
    * its cluster and a `kept` flag, so the decision is auditable
    * row-by-row rather than a silent drop.
    *
    * Scale shape: the cluster count `k` is THE knob — pair cost is
    * Σ|cell|², so k grows with the corpus (k ≈ N/⟨target cell size⟩,
    * e.g. 100k cells for 100M docs) and the within-cell join shuffles both
    * sides on `cluster`, never forming |corpus|² candidates. Training cost
    * is [[kMeans]]'s: one corpus pass per Lloyd round against broadcast
    * centroids — and with k ∝ N that flat argmin is an honest N·k = N²/
    * ⟨cell⟩ term (the scale probe's `semdedup_cells` row measured it). At
    * the 100M-doc/100k-cell point use [[semanticDedupIvf]]: two-level
    * routing (coarse Lloyd at ⌈√k⌉ centroids, then per-cell fine Lloyd)
    * drops assignment AND training to N·√k while leaving the pair stage,
    * the keep rule, and this operator's plan untouched; the flat argmin
    * here stays the cheaper constant at small k. The default
    * `routing = "auto"` makes that switch itself at k ≥
    * [[semanticDedupIvfK]] (the probe-measured crossover); `"flat"` and
    * `"ivf"` pin a path for callers whose oracle or probe must stay
    * path-pure. The keep rule
    * needs no global order — each cell resolves independently, and the
    * anti-join side (`dropped`) partial-aggregates map-side via
    * `distinct`. */
  def semanticDedup(corpus0: DataFrame, id: String, vec: String,
                    k: Int, iters: Int, threshold: Double,
                    routing: String = "auto"): DataFrame = {
    require(Set("auto", "flat", "ivf")(routing),
      s"routing must be auto|flat|ivf, got $routing")
    val useIvf =
      routing == "ivf" || (routing == "auto" && k >= semanticDedupIvfK)
    val ve = graft.CacheRegistry.persist(
      corpus0.select(col(id), vecAsDouble(col(vec)).as("v")))
    val asg =
      if (useIvf) ivfAssign(ve, id, k, iters).drop("ccell")
      else kMeansOnPersisted(ve, id, k, iters)
    pruneWithinClusters(ve, asg, id, threshold)
  }

  /** SemDeDup's pair + keep stage over an `(id, cluster, d2)` assignment —
    * shared verbatim by [[semanticDedup]] (flat argmin) and
    * [[semanticDedupIvf]] (two-level routing): the clustering strategy
    * changes WHERE pairs are sought, never the keep rule. Cells resolve
    * independently (no global order), and the anti-join side
    * partial-aggregates map-side via `distinct`. */
  private def pruneWithinClusters(ve: DataFrame, asg: DataFrame,
                                  id: String, threshold: Double): DataFrame = {
    val m = graft.CacheRegistry.persist(
      asg.join(ve, id).withColumn("nrm", norm(col("v"))))
    val dropped = m.as("l").join(m.as("r"),
        col("l.cluster") === col("r.cluster") &&
          col(s"l.$id") =!= col(s"r.$id") &&
          (col("r.d2") > col("l.d2") ||
            (col("r.d2") === col("l.d2") && col(s"r.$id") < col(s"l.$id"))))
      .filter(round(dot(col("l.v"), col("r.v")) /
        (col("l.nrm") * col("r.nrm")), 6) >= threshold)
      .select(col(s"l.$id").as(id)).distinct()
      .withColumn("drp", lit(true))
    m.select(col(id), col("cluster"))
      .join(dropped, Seq(id), "left_outer")
      .select(col(id), col("cluster"), col("drp").isNull.as("kept"))
  }

  /** Two-level ("IVF") k-means — [[kMeans]]'s scale path when the cluster
    * count grows with the corpus (the SemDeDup regime: k ≈ N/⟨cell⟩, so a
    * flat broadcast-argmin round is an honest N·k term). Every stage here
    * is N·√k instead:
    *
    *  1. COARSE router: the plain Lloyd loop at kc = ⌈√k⌉ centroids —
    *     N·√k per round, broadcast argmin, corpus never shuffled;
    *  2. route every point to its coarse cell (one more N·√k argmin);
    *  3. FINE codebook per cell, all cells trained simultaneously: seeds
    *     are each cell's ⌈k/kc⌉ lowest-id members ([[Windows.perGroupTopK]]
    *     — salt-safe, so a hot cell never funnels one task), and each
    *     Lloyd round assigns points against ONLY their own cell's
    *     centroids via a broadcast equi-join on the cell id (k total
    *     centroid rows broadcast; N·(k/kc) = N·√k distance evals), with
    *     the same decimal-exact means as [[kMeans]];
    *  4. final within-cell argmin — N·√k.
    *
    * The approximation vs flat k-means: a point's best fine centroid is
    * sought only inside its `nprobe` nearest coarse cells (default 1),
    * the standard IVF trade — `nprobe = 2` halves the boundary error
    * (a point just across a coarse boundary recovers the fine centroid
    * flat k-means would give it) for 2× FINAL-assignment cost, still
    * N·√k·nprobe; training is identical at any nprobe, so codebooks
    * stay a partition of their primary cells and assignments at higher
    * nprobe are pointwise-no-worse in d2 (SimilaritySpec asserts it).
    * Everything is deterministic — lowest-id seeding at both
    * levels, (d2, cid) tie-breaks, index-ordered double sums — so the
    * DuckDB replay chain ([[kMeansIvfCtes]]) is bit-identical, the q73/
    * q230 contract. Output: (id, cluster, ccell, d2) — cluster is the
    * fine centroid's seed id, ccell the coarse cell's, both stable under
    * any id set. */
  def kMeansIvf(vecs0: DataFrame, id: String, vec: String,
                k: Int, iters: Int, nprobe: Int = 1): DataFrame = {
    val ve = graft.CacheRegistry.persist(
      vecs0.select(col(id), vecAsDouble(col(vec)).as("v")))
    ivfAssign(ve, id, k, iters, nprobe)
  }

  /** The two-level assignment kernel over an already-persisted `(id, v)`
    * frame — split out so [[semanticDedupIvf]] shares the cached corpus
    * projection with its pair stage, mirroring [[kMeansOnPersisted]]. */
  private def ivfAssign(ve: DataFrame, id: String,
                        k: Int, iters: Int, nprobe: Int = 1): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val kc = math.max(1, math.ceil(math.sqrt(k.toDouble)).toInt)
    val kf = (k + kc - 1) / kc
    val coarse = trainedCentroids(ve, id, kc, iters)
    val vc = graft.CacheRegistry.persist(
      ve.join(assignTo(ve, coarse, id)
        .select(col(id), col("cid").as("ccell")), id))
    // per-cell seeds: the kf lowest-id members of each coarse cell — the
    // per-cell analogue of trainedCentroids' orderBy(id).limit(k) seeding;
    // the fine cid label is the seed's own id, globally unique across cells
    val seeds = Windows.perGroupTopK(vc, Seq(col("ccell")),
        Seq(col(id).asc), col(id), kf)
      .select(col("ccell"), col(id).cast("long").as("cid"), col("v").as("c"))
    // one fine Lloyd round, every cell at once: points meet ONLY their own
    // cell's centroids, so the struct-min argmin sees ≤ kf candidates
    def assignCell(cent: DataFrame, pts: DataFrame = vc): DataFrame =
      // bcast-ok: fine centroid frame — k rows total across all cells
      pts.join(broadcast(cent), Seq("ccell"))
        .withColumn("d2", dot(col("v"), col("v")) -
          lit(2) * dot(col("v"), col("c")) + dot(col("c"), col("c")))
        .groupBy(col(id))
        .agg(min(struct(col("d2"), col("cid"), col("ccell"))).as("m"))
        .select(col(id), col("m.cid").as("cid"),
          col("m.ccell").as("ccell"), col("m.d2").as("d2"))
    def updateCell(asg: DataFrame): DataFrame =
      asg.join(vc.drop("ccell"), id)
        .select(col("ccell"), col("cid"),
          posexplode(col("v")).as(Seq("pos", "x")))
        .groupBy(col("ccell"), col("cid"), col("pos"))
        .agg((sum(col("x").cast(DecimalType(28, 12))).cast("double") /
          count(lit(1))).as("x"))
        .groupBy(col("ccell"), col("cid"))
        // groupagg-ok: dim rows per centroid — vector dimensionality, a constant
        .agg(sort_array(collect_list(struct(col("pos"), col("x")))).as("ps"))
        // per-row HOF over k tiny rows — interpreted is fine here
        .select(col("ccell"), col("cid"),
          transform(col("ps"), p => p("x")).as("c"))
    var fine = seeds
    for (_ <- 1 to iters) fine = updateCell(assignCell(fine))
    // nprobe ≥ 2 halves the classic IVF boundary error for nprobe× final-
    // assignment cost (still N·√k·nprobe): training is UNCHANGED — fine
    // centroids remain a partition of their primary cells, the standard
    // IVF contract — but the FINAL argmin lets each point meet the fine
    // codebooks of its `nprobe` nearest coarse cells, so a point sitting
    // just across a coarse boundary can recover the fine centroid flat
    // k-means would have given it. Candidate sets are supersets of the
    // nprobe=1 set, so per-point d2 can only improve (SimilaritySpec
    // asserts this monotonicity). Routing is perGroupTopK over each
    // point's kc coarse distances — groups are kc rows, a constant.
    val probed =
      if (nprobe <= 1) vc
      else {
        // bcast-ok: coarse centroid frame — kc = ⌈√k⌉ rows
        val scored = ve.crossJoin(broadcast(coarse))
          .withColumn("d2c", dot(col("v"), col("v")) -
            lit(2) * dot(col("v"), col("c")) + dot(col("c"), col("c")))
        Windows.perGroupTopK(scored, Seq(col(id)),
            Seq(col("d2c").asc, col("cid").asc), col("cid"), nprobe)
          .select(col(id), col("v"), col("cid").as("ccell"))
      }
    assignCell(fine, probed)
      .select(col(id), col("cid").as("cluster"), col("ccell"),
        round(col("d2"), 6).as("d2"))
  }

  /** [[semanticDedup]] with the flat argmin swapped for [[kMeansIvf]]'s
    * two-level routing — the production shape at the 100M-doc/100k-cell
    * point the semanticDedup scaladoc prices: assignment (and training)
    * drop from N·k to N·√k while the pair stage, the keep rule, and the
    * cluster-keyed pair join are untouched. */
  def semanticDedupIvf(corpus0: DataFrame, id: String, vec: String,
                       k: Int, iters: Int, threshold: Double,
                       nprobe: Int = 1): DataFrame = {
    val ve = graft.CacheRegistry.persist(
      corpus0.select(col(id), vecAsDouble(col(vec)).as("v")))
    pruneWithinClusters(ve,
      ivfAssign(ve, id, k, iters, nprobe).drop("ccell"), id, threshold)
  }

  /** q74 runs [[semanticDedup]] over q48's planted corpus (base embeddings
    * plus a +0.02 elementwise shift of vec_id < 50, cos ≈ 0.987 to their
    * originals vs ≤ ~0.51 background): the planted twins are the semantic
    * duplicates the operator must find and prune. The DuckDB oracle replays
    * the whole pipeline — unrolled Lloyd CTEs over the identical planted
    * corpus, the same rounded cosine, the same farther-from-centroid keep
    * rule — so clustering drift, a missed twin, or a wrong keep decision
    * all fail the hash. */
  def q74SemanticDedup(spark: SparkSession, dir: String): DataFrame =
    semanticDedup(
      nearDupCorpus(spark, dir).select(col("vec_id"), col("v")),
      "vec_id", "v", kMeansK, kMeansIters, threshold = 0.9)

  private val plantedVeSql: String = s"""
      SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
      WHERE $nonzeroVecWhere
      UNION ALL
      SELECT vec_id + 100000, list_transform(embedding::DOUBLE[], x -> x + 0.02)
      FROM embeddings WHERE vec_id < 50 AND $nonzeroVecWhere"""

  val q74SemanticDedupSql: String = s"""
    WITH ${kMeansCtes(plantedVeSql, kMeansK, kMeansIters)},
    r AS (SELECT vec_id, cid AS cluster, ROUND(d2, 6) AS d2 FROM af),
    mv AS (SELECT r.vec_id, r.cluster, r.d2, ve.v,
                  sqrt(list_dot_product(ve.v, ve.v)) AS nrm
           FROM r JOIN ve USING (vec_id)),
    dropped AS (
      SELECT DISTINCT l.vec_id
      FROM mv l JOIN mv rr
        ON l.cluster = rr.cluster AND l.vec_id <> rr.vec_id
       AND (rr.d2 > l.d2 OR (rr.d2 = l.d2 AND rr.vec_id < l.vec_id))
      WHERE ROUND(list_dot_product(l.v, rr.v) / (l.nrm * rr.nrm), 6) >= 0.9)
    SELECT mv.vec_id, mv.cluster, (d.vec_id IS NULL) AS kept
    FROM mv LEFT JOIN dropped d ON d.vec_id = mv.vec_id"""

  // --- q99_pq: product quantization — codebooks + code assignment ---------
  /** Product quantization (Jégou et al. 2011): split every vector into `m`
    * contiguous subvectors, train an independent [[kMeans]] codebook per
    * subspace, and encode each vector as its per-subspace nearest-centroid
    * codes — the compression that turns a 64-dim float corpus into m
    * small ints per vector, the storage layer under IVF-PQ ANN indexes at
    * billion-vector scale (memory drops ~64×; ADC distances then need only
    * the codes plus m tiny lookup tables).
    *
    * Scale shape: the corpus projection persists ONCE; each subspace's
    * Lloyd loop inherits [[kMeans]]'s contract (centroids broadcast,
    * corpus never shuffled for assignment, decimal-exact means), and the
    * final m assignments join back on the id — m map-side-combined
    * argmin aggregates plus one id-keyed join. Subspace count and k are
    * the recall/compression knobs; both engines replay the exact same
    * training because every step is the oracle-pinned kMeans arithmetic.
    *
    * @param subDims inclusive 1-based (start, length) slices; must tile
    *                the vector dimension
    */
  def productQuantize(vecs0: DataFrame, id: String, vec: String,
                      subDims: Seq[(Int, Int)], k: Int,
                      iters: Int): DataFrame = {
    val ve = graft.CacheRegistry.persist(
      vecs0.select(col(id), vecAsDouble(col(vec)).as("v")))
    subDims.zipWithIndex.map { case ((start, len), s) =>
      val sub = graft.CacheRegistry.persist(
        ve.select(col(id), slice(col("v"), start, len).as("v")))
      kMeansOnPersisted(sub, id, k, iters)
        .select(col(id), col("cluster").as(s"sub${s}_code"),
          col("d2").as(s"sub${s}_d2"))
    }.reduce(_.join(_, id))
  }

  val pqK = 4
  val pqIters = 2

  def q99Pq(spark: SparkSession, dir: String): DataFrame =
    productQuantize(Tables.embeddings(spark, dir), "vec_id", "embedding",
      Seq((1, 32), (33, 32)), pqK, pqIters)

  /** Oracle: TWO prefixed [[kMeansCtes]] chains — one codebook per
    * subspace, exactly the chain q73 already certifies — joined on the
    * vector id. DuckDB's `v[a:b]` slice is 1-based inclusive, matching
    * Spark's `slice(v, start, length)`. */
  val q99PqSql: String = s"""
    WITH ${kMeansCtes(
      "SELECT vec_id, (embedding::DOUBLE[])[1:32] AS v FROM embeddings",
      pqK, pqIters, "p0")},
    ${kMeansCtes(
      "SELECT vec_id, (embedding::DOUBLE[])[33:64] AS v FROM embeddings",
      pqK, pqIters, "p1")}
    SELECT a.vec_id, a.cid AS sub0_code, ROUND(a.d2, 6) AS sub0_d2,
           b.cid AS sub1_code, ROUND(b.d2, 6) AS sub1_d2
    FROM p0af a JOIN p1af b USING (vec_id)"""

  // --- q100_pq_adc: asymmetric-distance top-k over PQ codes ---------------
  /** The search half of IVF-PQ: score the whole corpus against a query
    * using ONLY the PQ codes — per subspace, the squared distance from the
    * query subvector to each of the k centroids becomes a k-entry lookup
    * table, and a corpus vector's approximate distance is the sum of its
    * codes' table entries (asymmetric distance computation, Jégou 2011
    * §III). At scale this is the whole point of PQ: the scan touches m
    * small-int codes per vector instead of the float vector, and the
    * tables are m·k doubles broadcast everywhere.
    *
    * Plan shape: codebooks train per subspace ([[trainedCentroids]],
    * corpus never shuffled), the LUT is centroids × ONE query row (two
    * broadcast sides), codes meet their table entry by a broadcast hash
    * join on the code, and the top-k is a global TakeOrdered with an id
    * tiebreak — no shuffle carries anything corpus-sized except the final
    * id-keyed join of the m code columns. */
  def pqAdcTopK(vecs0: DataFrame, id: String, vec: String,
                subDims: Seq[(Int, Int)], k: Int, iters: Int,
                topK: Int): DataFrame = {
    val ve = graft.CacheRegistry.persist(
      vecs0.select(col(id), vecAsDouble(col(vec)).as("v")))
    // the query = the lowest-id vector: deterministic under any id space
    val qv = ve.orderBy(col(id)).limit(1).select(col("v").as("qv"))
    val parts = subDims.zipWithIndex.map { case ((start, len), s) =>
      val sub = graft.CacheRegistry.persist(
        ve.select(col(id), slice(col("v"), start, len).as("v")))
      val cent = trainedCentroids(sub, id, k, iters)
      // bcast-ok: LUT is k centroids x one query row
      val lut = cent.crossJoin(broadcast(
          qv.select(slice(col("qv"), start, len).as("q"))))
        .select(col("cid").as(s"code$s"),
          (dot(col("q"), col("q")) - lit(2) * dot(col("q"), col("c")) +
            dot(col("c"), col("c"))).as(s"d$s"))
      assignTo(sub, cent, id)
        .select(col(id), col("cid").as(s"code$s"))
        // bcast-ok: LUT — k rows
        .join(broadcast(lut), s"code$s")
    }
    parts.reduce(_.join(_, id))
      .withColumn("adc",
        subDims.indices.map(s => col(s"d$s")).reduce(_ + _))
      .orderBy(col("adc"), col(id))
      .limit(topK)
      .select(col(id) +: subDims.indices.map(s => col(s"code$s")) :+
        round(col("adc"), 6).as("adc6"): _*)
  }

  val pqTopK = 10

  def q100PqAdc(spark: SparkSession, dir: String): DataFrame =
    pqAdcTopK(Tables.embeddings(spark, dir), "vec_id", "embedding",
      Seq((1, 32), (33, 32)), pqK, pqIters, pqTopK)

  // --- q155_index_persist: build-once / query-many PQ index lifecycle ----
  /** The lifecycle piece around q99/q100: a trained ANN index is an
    * ARTIFACT — trained once, persisted, loaded by every downstream query
    * job — never retrained per query. This trains the q100 PQ index,
    * WRITES its two artifact classes as parquet (per-subspace codebooks:
    * k×dim rows, driver-trivial; per-vector code table: one row per
    * corpus vector — the real index, columnar and scan-cheap), reloads
    * both through fresh reads, and answers the q100 ADC query from the
    * STORED artifacts alone. Doubles round-trip parquet exactly, so the
    * result is bit-identical to the in-memory path and the oracle is
    * q100's full recompute — the persistence hop is hash-certified, the
    * q58/q75/q81 sink-roundtrip discipline applied to an index.
    *
    * Scale: at 100 TB the code table is ~1% of the corpus (two INTs per
    * vector) and the query phase never touches raw embeddings except the
    * query vector itself — the entire point of building the index. */
  def q155IndexPersist(spark: SparkSession, dir: String): DataFrame = {
    val subDims = Seq((1, 32), (33, 32))
    val path = graft.sources.Sink.scratchPath("graft_pq_index", dir)
    val ve = graft.CacheRegistry.persist(
      Tables.embeddings(spark, dir).select(col("vec_id"),
        vecAsDouble(col("embedding")).as("v")))
    subDims.zipWithIndex.foreach { case ((start, len), s) =>
      val sub = graft.CacheRegistry.persist(
        ve.select(col("vec_id"), slice(col("v"), start, len).as("v")))
      val cent = trainedCentroids(sub, "vec_id", pqK, pqIters)
      cent.write.mode("overwrite").parquet(s"$path/cent$s")
      assignTo(sub, cent, "vec_id")
        .select(col("vec_id"), col("cid").as(s"code$s"))
        .write.mode("overwrite").parquet(s"$path/code$s")
    }
    // query phase: stored artifacts only (ve supplies just the query vec)
    val qv = ve.orderBy(col("vec_id")).limit(1).select(col("v").as("qv"))
    val parts = subDims.zipWithIndex.map { case ((start, len), s) =>
      val cent = spark.read.parquet(s"$path/cent$s")
      val codes = spark.read.parquet(s"$path/code$s")
      // bcast-ok: LUT is k centroids x one query row
      val lut = cent.crossJoin(broadcast(
          qv.select(slice(col("qv"), start, len).as("q"))))
        .select(col("cid").as(s"code$s"),
          (dot(col("q"), col("q")) - lit(2) * dot(col("q"), col("c")) +
            dot(col("c"), col("c"))).as(s"d$s"))
      // bcast-ok: LUT — k rows
      codes.join(broadcast(lut), s"code$s")
    }
    parts.reduce(_.join(_, "vec_id"))
      .withColumn("adc",
        subDims.indices.map(s => col(s"d$s")).reduce(_ + _))
      .orderBy(col("adc"), col("vec_id"))
      .limit(pqTopK)
      .select(col("vec_id") +: subDims.indices.map(s => col(s"code$s")) :+
        round(col("adc"), 6).as("adc6"): _*)
  }

  /** Oracle: the q99 codebook chains plus the ADC join — the lookup
    * tables come from the FINAL centroid CTEs (`p0c2`/`p1c2`), and the
    * adc sum is ordered d0 + d1 in both engines so the doubles are
    * bit-identical before the ROUND/ORDER. */
  val q100PqAdcSql: String = s"""
    WITH ${kMeansCtes(
      "SELECT vec_id, (embedding::DOUBLE[])[1:32] AS v FROM embeddings",
      pqK, pqIters, "p0")},
    ${kMeansCtes(
      "SELECT vec_id, (embedding::DOUBLE[])[33:64] AS v FROM embeddings",
      pqK, pqIters, "p1")},
    qv AS (SELECT embedding::DOUBLE[] AS v FROM embeddings
           ORDER BY vec_id LIMIT 1),
    l0 AS (SELECT c.cid, list_dot_product(q.q, q.q)
                  - 2*list_dot_product(q.q, c.c)
                  + list_dot_product(c.c, c.c) AS d
           FROM p0c$pqIters c CROSS JOIN (SELECT v[1:32] AS q FROM qv) q),
    l1 AS (SELECT c.cid, list_dot_product(q.q, q.q)
                  - 2*list_dot_product(q.q, c.c)
                  + list_dot_product(c.c, c.c) AS d
           FROM p1c$pqIters c CROSS JOIN (SELECT v[33:64] AS q FROM qv) q),
    j AS (SELECT a.vec_id, a.cid AS code0, b.cid AS code1,
                 l0.d + l1.d AS adc
          FROM p0af a JOIN p1af b USING (vec_id)
          JOIN l0 ON l0.cid = a.cid
          JOIN l1 ON l1.cid = b.cid)
    SELECT vec_id, code0, code1, ROUND(adc, 6) AS adc6
    FROM j ORDER BY adc, vec_id LIMIT $pqTopK"""

  // --- q104_hard_negatives: contrastive wrong-label neighbors -------------
  /** Hard-negative mining for contrastive training: for each query vector,
    * the most-similar vectors that share its k-means CELL but carry a
    * DIFFERENT label — the "looks alike, isn't" examples that make
    * embedding models actually learn boundaries (random negatives are too
    * easy). Candidates come only from the query's cell, so the pair join
    * is cell-bounded exactly like SemDeDup's (`k` is the scale knob,
    * Σ|cell|² never |corpus|²); ranking replays q28's discipline — rank
    * on the ROUNDED cosine with an id tiebreak.
    *
    * @param nNeg negatives kept per query */
  def hardNegatives(spark: SparkSession, dir: String, maxQid: Long,
                    nNeg: Int): DataFrame = {
    val lv = graft.CacheRegistry.persist(
      nonzeroVecs(Tables.embeddings(spark, dir).select(col("vec_id"),
        col("label"), vecAsDouble(col("embedding")).as("v")), "v"))
    val m = graft.CacheRegistry.persist(
      kMeans(Tables.embeddings(spark, dir), "vec_id", "embedding",
          kMeansK, kMeansIters)
        .join(lv, "vec_id")
        .withColumn("nrm", norm(col("v"))))
    val pairs = m.filter(col("vec_id") < maxQid).as("q")
      .join(m.as("c"),
        col("c.cluster") === col("q.cluster") &&
          col("c.label") =!= col("q.label"))
      .select(col("q.vec_id").as("qid"), col("c.vec_id").as("neg_id"),
        round(dot(col("q.v"), col("c.v")) /
          (col("q.nrm") * col("c.nrm")), 6).as("cos6"))
    Windows.perGroupTopK(pairs, group = Seq(col("qid")),
        order = Seq(col("cos6").desc, col("neg_id")),
        saltSrc = col("neg_id"), k = nNeg)
      .select(col("qid"), col("neg_id"), col("cos6"),
        col("rn").cast("int").as("rank"))
  }

  def q104HardNegatives(spark: SparkSession, dir: String): DataFrame =
    hardNegatives(spark, dir, maxQid = 10L, nNeg = 3)

  /** Oracle: the q73 chain (unprefixed — `af` is the trained assignment)
    * plus the cell-bounded wrong-label pair join and q28's rounded-cosine
    * ranking. */
  val q104HardNegativesSql: String = s"""
    WITH ${kMeansCtes("SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings",
      kMeansK, kMeansIters)},
    lv AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings
           WHERE $nonzeroVecWhere),
    m AS (SELECT a.vec_id, a.cid, l.label, l.v
          FROM af a JOIN lv l USING (vec_id)),
    p AS (SELECT q.vec_id AS qid, c.vec_id AS neg_id,
                 ROUND(list_dot_product(q.v, c.v) /
                       (sqrt(list_dot_product(q.v, q.v)) *
                        sqrt(list_dot_product(c.v, c.v))), 6) AS cos6
          FROM m q JOIN m c
            ON c.cid = q.cid AND c.label <> q.label
          WHERE q.vec_id < 10),
    r AS (SELECT qid, neg_id, cos6,
                 CAST(ROW_NUMBER() OVER (PARTITION BY qid
                                         ORDER BY cos6 DESC, neg_id) AS INT)
                   AS rank
          FROM p)
    SELECT qid, neg_id, cos6, rank FROM r WHERE rank <= 3"""

  // --- q105_ann_recall: the ANN evaluation harness as a query -------------
  /** Recall@k of the LSH-bucketed ANN (q42) against the exhaustive
    * brute force (q28), computed IN-PLAN: per query, how many of the true
    * top-5 the approximate index recovered. The evaluation that gates any
    * index rollout, expressed as a first-class auditable query — both
    * inputs are the already-oracled pipelines, so the oracle composes
    * their SQL verbatim as nested CTEs and cannot drift from them. The
    * semi-join and count run on two k·|queries|-row frames: negligible at
    * any corpus size.
    *
    * Expectation-setting: on the synthetic hash-spread embeddings the
    * absolute numbers are LOW by construction — near-uniform vectors have
    * near-orthogonal "nearest" neighbors, the regime where sign-LSH
    * recall honestly collapses. Where neighbor structure exists the same
    * index recovers it (SimilaritySpec pins ≥0.8 twin recall at 11
    * planes); this query is the measurement you run to pick
    * `targetBucket`/probe-radius on YOUR corpus, not a fixed quality
    * claim. */
  def q105AnnRecall(spark: SparkSession, dir: String): DataFrame = {
    val exact = q28SimilarityTopK(spark, dir).select(col("qid"), col("vec_id"))
    val approx = q42AnnTopK(spark, dir).select(col("qid"), col("vec_id"))
    val hits = exact.join(approx, Seq("qid", "vec_id"), "left_semi")
      .groupBy(col("qid")).agg(count(lit(1)).as("hits"))
    exact.select(col("qid")).distinct()
      .join(hits, Seq("qid"), "left")
      .withColumn("n_hits", coalesce(col("hits"), lit(0L)))
      .select(col("qid"), col("n_hits"),
        graft.ops.Relational.ratio6("n_hits", "5").as("recall6"))
  }

  val q105AnnRecallSql: String = s"""
    WITH exact AS ($q28SimilarityTopKSql),
    approx AS ($q42AnnTopKSql),
    h AS (SELECT e.qid, COUNT(*) AS n
          FROM exact e JOIN approx a
            ON a.qid = e.qid AND a.vec_id = e.vec_id
          GROUP BY e.qid),
    qs AS (SELECT DISTINCT qid FROM exact)
    SELECT qs.qid, CAST(COALESCE(h.n, 0) AS BIGINT) AS n_hits,
           ${graft.ops.Relational.ratio6Sql("COALESCE(h.n, 0)", "5")}
             AS recall6
    FROM qs LEFT JOIN h USING (qid)"""

  // --- q116_fuzzy_nn: blocked edit-distance nearest neighbor --------------
  /** String-similarity join — the entity-resolution / record-linkage
    * primitive: for every row, the nearest OTHER distinct value of a
    * string column by Levenshtein distance, restricted to a blocking key
    * (same first token, length within `lenBand`). The blocking contract
    * IS the operator's semantics: a candidate outside the block is by
    * definition not a match, which is what makes the result exactly
    * oracle-able and keeps the cost model honest — no silent recall
    * hand-waving.
    *
    * Scale shape — collapse before the quadratic: the O(n²) Levenshtein
    * never touches ROWS, only DISTINCT VALUES. Low-cardinality string
    * columns (names, categories, near-canonical titles) collapse by
    * orders of magnitude — here 20k rows → 64 distinct names, turning
    * 48M row-pairs into 4k value-pairs — and every row then picks up its
    * value's answer by one equi-join on the value key (map-side partial
    * makes the distinct cheap; the per-value NN table is tiny and
    * broadcasts). For genuinely high-cardinality columns the block size
    * is the knob, exactly as in [[graft.ext.Dedup.lshCandidates]].
    * The low-cardinality contract is ENFORCED, not assumed: the distinct
    * value count is measured once (the frame is persisted, so the probe
    * is not repeated work), and past `maxBroadcastValues` the final
    * row↔answer join falls back to an unhinted shuffle join instead of
    * broadcasting a data-scaled frame. EAGERNESS NOTE: because the probe
    * must run before the join strategy is chosen, CALLING this builder
    * executes a Spark job (the distinct-value count) even if the returned
    * DataFrame is never acted on — unlike the module's otherwise-lazy
    * plan builders — and the persisted values frame stays registered in
    * [[graft.CacheRegistry]] until the caller's next unpersistAll. The
    * probe is not a size guard, so it does not become a fused
    * `raise_error` like [[cosineTopK]]'s: it picks the join strategy,
    * and q116's plan pin needs the broadcast hint it decides.
    * Ties break on (distance, neighbor value) so the answer is
    * deterministic. Singleton blocks yield NULL neighbors, never a
    * fabricated match. */
  def fuzzyNearestNeighbor(df: DataFrame, idCol: String, nameCol: String,
                           lenBand: Int = 2,
                           maxBroadcastValues: Int = 1000000): DataFrame = {
    val rows = df.select(col(idCol), lower(col(nameCol)).as("name"))
    val values = graft.CacheRegistry.persist(
      rows.groupBy(col("name"))
        .agg(min(col(idCol)).as("rep_id"))
        .select(col("name"), col("rep_id"),
          split(col("name"), " ").getItem(0).as("blk"),
          length(col("name")).as("ln")))
    val fitsBroadcast =
      values.limit(maxBroadcastValues + 1).count() <= maxBroadcastValues
    val cand = values.as("a").join(values.as("b"),
        col("a.blk") === col("b.blk") && col("a.name") =!= col("b.name") &&
          abs(col("a.ln") - col("b.ln")) <= lenBand)
      .select(col("a.name").as("name"),
        struct(levenshtein(col("a.name"), col("b.name")).as("dist"),
          col("b.name").as("nn_name"), col("b.rep_id").as("nn_id")).as("c"))
    val best = cand.groupBy(col("name")).agg(min(col("c")).as("m"))
      .select(col("name"), col("m.nn_name").as("nn_name"),
        col("m.nn_id").as("nn_partkey"), col("m.dist").as("dist"))
    // bcast-ok: one row per distinct name, measured ≤ maxBroadcastValues
    // above; high-cardinality inputs take the unhinted branch
    rows.join(if (fitsBroadcast) broadcast(best) else best,
        Seq("name"), "left_outer")
      .select(col(idCol), col("name"), col("nn_name"), col("nn_partkey"),
        col("dist"))
  }

  def q116FuzzyNn(spark: SparkSession, dir: String): DataFrame =
    fuzzyNearestNeighbor(Tables.part(spark, dir), "p_partkey", "p_name")

  val q116FuzzyNnSql: String = """
    WITH pr AS (SELECT p_partkey, lower(p_name) AS name FROM part),
    vals AS (
      SELECT name, MIN(p_partkey) AS rep_id,
             split_part(name, ' ', 1) AS blk, len(name) AS ln
      FROM pr GROUP BY name),
    cand AS (
      SELECT a.name AS name, levenshtein(a.name, b.name) AS dist,
             b.name AS nn_name, b.rep_id AS nn_id
      FROM vals a JOIN vals b
        ON a.blk = b.blk AND a.name <> b.name AND abs(a.ln - b.ln) <= 2),
    best AS (
      SELECT name, nn_name, nn_id, dist,
             ROW_NUMBER() OVER (PARTITION BY name ORDER BY dist, nn_name)
               AS rn
      FROM cand)
    SELECT p.p_partkey, p.name, b.nn_name, b.nn_id AS nn_partkey,
           CAST(b.dist AS INT) AS dist
    FROM pr p LEFT JOIN best b ON b.name = p.name AND b.rn = 1"""

  // --- q126_fuzzy_pairs: threshold edit-distance pair join ----------------
  /** All distinct-name pairs within edit distance 3 inside a block — the
    * pair-list companion of [[fuzzyNearestNeighbor]], and the registered
    * showcase for the [[graft.plans.LevenshteinBandGuard]] optimizer
    * rule: the join condition is written as the natural
    * `levenshtein(a, b) <= 3` and the OPTIMIZER inserts the length-band
    * guard and pushes the threshold into the banded O(d·len) Levenshtein
    * variant (PlanShapeSpec pins both). The oracle runs the unrewritten
    * predicate in DuckDB — hash equality IS the proof the rewrite is
    * semantics-preserving on real data. */
  def q126FuzzyPairs(spark: SparkSession, dir: String): DataFrame = {
    val names = Tables.part(spark, dir)
      .select(lower(col("p_name")).as("name")).distinct()
      .withColumn("blk", split(col("name"), " ").getItem(0))
    names.as("a").join(names.as("b"),
        col("a.blk") === col("b.blk") && col("a.name") < col("b.name") &&
          levenshtein(col("a.name"), col("b.name")) <= 3)
      .select(col("a.name").as("name_a"), col("b.name").as("name_b"),
        levenshtein(col("a.name"), col("b.name")).as("dist"))
  }

  val q126FuzzyPairsSql: String = """
    WITH nm AS (
      SELECT DISTINCT lower(p_name) AS name,
             split_part(lower(p_name), ' ', 1) AS blk
      FROM part)
    SELECT a.name AS name_a, b.name AS name_b,
           CAST(levenshtein(a.name, b.name) AS INT) AS dist
    FROM nm a JOIN nm b
      ON a.blk = b.blk AND a.name < b.name
     AND levenshtein(a.name, b.name) <= 3"""

  // --- q128_record_linkage: exact-first, fuzzy-fallback entity match ------
  /** The full record-linkage composite: a "dirty" id-less feed (derived
    * deterministically — every third name loses its second character)
    * links back to the master table EXACT-FIRST (one equi-join resolves
    * the clean majority at hash-join cost), and only the residue enters
    * the fuzzy stage: a blocked Levenshtein join (shared suffix key —
    * robust to the head-of-string corruption) resolved to the single
    * best candidate by (distance, key). Unmatchable rows keep a NULL
    * method rather than vanishing — the manual-review queue.
    *
    * Scale shape: the exact stage is one shuffle join doing ~all the
    * work; the fuzzy stage's quadratic is bounded by block size and its
    * Levenshtein predicate gets the [[graft.plans.LevenshteinBandGuard]]
    * rewrite like any other; the final assembly is two left joins on the
    * dirty key. */
  def q128RecordLinkage(spark: SparkSession, dir: String): DataFrame = {
    val clean = Tables.customer(spark, dir)
      .select(col("c_custkey").as("key"), lower(col("c_name")).as("name"))
    val dirty = clean.select((col("key") + 1000000L).as("d_id"),
      when(pmod(col("key"), lit(3)) === 0,
        concat(substring(col("name"), 1, 1), expr("substring(name, 3)")))
        .otherwise(col("name")).as("dname"))
    linkRecords(clean, dirty)
  }

  /** The linkage kernel behind [[q128RecordLinkage]], parameterized by its
    * `(key, name)` master and `(d_id, dname)` feed so the q235 gate can
    * run the identical plan over a range-synthesized corpus. */
  private[graft] def linkRecords(clean: DataFrame, dirty: DataFrame): DataFrame = {
    val exact = dirty.join(clean, col("dname") === col("name"))
      .groupBy(col("d_id"), col("dname"))
      .agg(min(col("key")).as("matched_key"))
      .select(col("d_id"), lit("exact").as("method"),
        col("matched_key"), lit(0).as("dist"))
    val rest = dirty.join(exact.select(col("d_id")), Seq("d_id"), "left_anti")
    val fuzzy = rest.join(clean,
        expr("right(dname, 3)") === expr("right(name, 3)") &&
          levenshtein(col("dname"), col("name")) <= 2)
      .select(col("d_id"),
        struct(levenshtein(col("dname"), col("name")).as("dist"),
          col("key").as("matched_key")).as("c"))
      .groupBy(col("d_id")).agg(min(col("c")).as("m"))
      .select(col("d_id"), lit("fuzzy").as("method"),
        col("m.matched_key").as("matched_key"), col("m.dist").as("dist"))
    dirty.join(exact.unionByName(fuzzy), Seq("d_id"), "left_outer")
      .select(col("d_id"), col("dname"), col("method"), col("matched_key"),
        col("dist"))
  }

  val q128RecordLinkageSql: String = """
    WITH clean AS (
      SELECT c_custkey AS key, lower(c_name) AS name FROM customer),
    dirty AS (
      SELECT key + 1000000 AS d_id,
             CASE WHEN key % 3 = 0
                  THEN substring(name, 1, 1) || substring(name, 3)
                  ELSE name END AS dname
      FROM clean),
    ex AS (
      SELECT d.d_id, MIN(c.key) AS matched_key
      FROM dirty d JOIN clean c ON d.dname = c.name GROUP BY 1),
    fz AS (
      SELECT d_id, matched_key, dist FROM (
        SELECT d.d_id, c.key AS matched_key,
               CAST(levenshtein(d.dname, c.name) AS INT) AS dist,
               ROW_NUMBER() OVER (PARTITION BY d.d_id
                 ORDER BY levenshtein(d.dname, c.name), c.key) AS rn
        FROM dirty d JOIN clean c
          ON right(d.dname, 3) = right(c.name, 3)
         AND levenshtein(d.dname, c.name) <= 2
        WHERE d.d_id NOT IN (SELECT d_id FROM ex)) t
      WHERE rn = 1)
    SELECT d.d_id, d.dname,
           CASE WHEN e.d_id IS NOT NULL THEN 'exact'
                WHEN f.d_id IS NOT NULL THEN 'fuzzy' END AS method,
           COALESCE(e.matched_key, f.matched_key) AS matched_key,
           CASE WHEN e.d_id IS NOT NULL THEN 0
                WHEN f.d_id IS NOT NULL THEN f.dist END AS dist
    FROM dirty d
    LEFT JOIN ex e ON e.d_id = d.d_id
    LEFT JOIN fz f ON f.d_id = d.d_id"""

  // --- q235_linkage_atscale: exact-first record linkage at 2^20 entities --
  /** At-scale correctness coverage for [[linkRecords]] — q128 links ~1.5k
    * customers; this replays the SAME kernel over 2²⁰ synthesized
    * entities (`name = 'c' || lpad(key, 7, '0')`), sized so each stage
    * carries its production shape: the EXACT stage is a 2²⁰-row string
    * equi-join resolving all but every 256th record, and only the 4,096
    * corrupted names (2nd character dropped — length 7 vs 8, so they can
    * never exact-match) reach the fuzzy stage, whose last-3-digit
    * blocking (the dropped character never touches the suffix) yields
    * ~1,049 candidates per residual — a ~4.3M-pair bounded Levenshtein
    * join, exactly the exact-first design's point: the quadratic stage
    * sees 0.4% of the feed. The original always sits at distance 1, but
    * same-block decoys at distance ≤2 exist (ids differing in one early
    * digit), so the (dist, key) tie-break is load-bearing; the oracle
    * replays the identical two-stage plan over the same range generator
    * (min-struct vs ROW_NUMBER — the two formulations q128 already
    * proved equivalent). Rolled up per method (2 rows): counts and the
    * exact matched-key / distance sums pin every row's resolution. */
  private[graft] val q235Keys = 1L << 20

  private[graft] def q235Clean(spark: SparkSession,
                             keys: Long = q235Keys): DataFrame =
    spark.range(keys).select(col("id").as("key"),
      concat(lit("c"), lpad(col("id").cast("string"), 7, "0")).as("name"))

  private[graft] def q235Dirty(clean: DataFrame): DataFrame =
    clean.select((col("key") + 10000000L).as("d_id"),
      when(pmod(col("key"), lit(256L)) === 0,
        concat(substring(col("name"), 1, 1), expr("substring(name, 3)")))
        .otherwise(col("name")).as("dname"))

  def q235LinkageAtScale(spark: SparkSession, dir: String): DataFrame = {
    val clean = q235Clean(spark)
    linkRecords(clean, q235Dirty(clean))
      .groupBy(col("method"))
      .agg(count(lit(1)).as("n"), sum(col("matched_key")).as("sum_keys"),
        sum(col("dist")).as("sum_dist"))
  }

  /** MATERIALIZED CTEs + a pre-materialized NOT-EXISTS residue instead of
    * q128's `NOT IN` inside the fuzzy join's WHERE: at 2²⁰ entities DuckDB
    * evaluated that NOT IN per candidate pair (~400 s measured); filtering
    * the residue FIRST is the same rows in 2.4 s. Semantically identical —
    * d_id is never null, so NOT IN ≡ NOT EXISTS here. */
  private[graft] def q235OracleSql(keys: Long = q235Keys): String = s"""
    WITH clean AS MATERIALIZED (
      SELECT u.i AS key, 'c' || lpad(CAST(u.i AS VARCHAR), 7, '0') AS name
      FROM range(0, $keys) AS u(i)),
    dirty AS MATERIALIZED (
      SELECT key + 10000000 AS d_id,
             CASE WHEN key % 256 = 0
                  THEN substring(name, 1, 1) || substring(name, 3)
                  ELSE name END AS dname
      FROM clean),
    ex AS MATERIALIZED (
      SELECT d.d_id, MIN(c.key) AS matched_key
      FROM dirty d JOIN clean c ON d.dname = c.name GROUP BY 1),
    rest AS MATERIALIZED (
      SELECT d.d_id, d.dname FROM dirty d
      WHERE NOT EXISTS (SELECT 1 FROM ex e WHERE e.d_id = d.d_id)),
    fz AS (
      SELECT d_id, matched_key, dist FROM (
        SELECT d.d_id, c.key AS matched_key,
               CAST(levenshtein(d.dname, c.name) AS INT) AS dist,
               ROW_NUMBER() OVER (PARTITION BY d.d_id
                 ORDER BY levenshtein(d.dname, c.name), c.key) AS rn
        FROM rest d JOIN clean c
          ON right(d.dname, 3) = right(c.name, 3)
         AND levenshtein(d.dname, c.name) <= 2) t
      WHERE rn = 1),
    assembled AS (
      SELECT CASE WHEN e.d_id IS NOT NULL THEN 'exact'
                  WHEN f.d_id IS NOT NULL THEN 'fuzzy' END AS method,
             COALESCE(e.matched_key, f.matched_key) AS matched_key,
             CASE WHEN e.d_id IS NOT NULL THEN 0
                  WHEN f.d_id IS NOT NULL THEN f.dist END AS dist
      FROM dirty d
      LEFT JOIN ex e ON e.d_id = d.d_id
      LEFT JOIN fz f ON f.d_id = d.d_id)
    SELECT method, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(matched_key) AS BIGINT) AS sum_keys,
           CAST(SUM(dist) AS BIGINT) AS sum_dist
    FROM assembled GROUP BY method"""

  // --- q134_link_pred: neighborhood-overlap link prediction ---------------
  /** Link prediction by neighborhood overlap on a bipartite relation:
    * entities sharing many right-hand neighbors ("customers who bought the
    * same parts") are candidate links, scored by common-neighbor count and
    * exact-rational Jaccard over neighbor sets. The same shape powers
    * account-linking in training-data curation (two crawl identities
    * sharing many page fingerprints) and co-purchase recommendation.
    *
    * The pair generation pivots on the RIGHT key (one self-join per shared
    * neighbor — the PPJoin/LSH bucket-join shape, never entity×entity),
    * and `maxDeg` drops right-hand keys with more than `maxDeg` left
    * neighbors BEFORE the self-join: a hub key contributes deg² pairs but
    * near-zero signal (everything co-occurs with a bestseller), so capping
    * both bounds the blow-up (≤ maxDeg²/2 rows per key) and denoises —
    * the standard frequent-item cut. Degrees for the Jaccard denominator
    * are computed on the CAPPED relation so the score's universe matches
    * the pair universe; the degree frames scale with the entity count, so
    * they carry no broadcast hint — AQE broadcasts them while they fit and
    * falls back to a (pair-keyed, hence small relative to the preceding
    * self-join) shuffle join beyond that. Output is top-k by
    * (jaccard, pair) — jaccard6 is exact-rational, so the boundary cannot
    * flake across engines. */
  def linkPredict(rel: DataFrame, left: String, right: String,
                  maxDeg: Int = 64, minCommon: Long = 2,
                  k: Int = 100): DataFrame = {
    val r = rel.select(col(left).as("l"), col(right).as("r")).distinct()
    val keyDeg = r.groupBy(col("r")).agg(count(lit(1)).as("rdeg"))
    // persisted: the capped relation feeds BOTH sides of the self-join and
    // the degree frame — unpersisted, the whole upstream (source join +
    // distinct + cap semi-join) would run three times
    val capped = graft.CacheRegistry.persist(
      r.join(keyDeg.filter(col("rdeg") <= maxDeg)
        .select("r"), "r"))
    val deg = capped.groupBy(col("l")).agg(count(lit(1)).as("deg"))
    val pairs = capped.as("a")
      .join(capped.as("b"), col("a.r") === col("b.r") && col("a.l") < col("b.l"))
      .groupBy(col("a.l").as("id_a"), col("b.l").as("id_b"))
      .agg(count(lit(1)).as("common"))
      .filter(col("common") >= minCommon)
    pairs
      .join(deg.select(col("l").as("id_a"), col("deg").as("deg_a")), "id_a")
      .join(deg.select(col("l").as("id_b"), col("deg").as("deg_b")), "id_b")
      .select(col("id_a"), col("id_b"), col("common"),
        graft.ops.Relational.ratio6(
          "common", "deg_a + deg_b - common").as("jaccard6"))
      .orderBy(col("jaccard6").desc, col("id_a"), col("id_b")).limit(k)
  }

  /** Co-purchase links over the customer–part relation (orders⋈lineitem). */
  def q134LinkPred(spark: SparkSession, dir: String): DataFrame =
    linkPredict(
      Tables.orders(spark, dir).select("o_orderkey", "o_custkey")
        .join(Tables.lineitem(spark, dir).select("l_orderkey", "l_partkey"),
          col("o_orderkey") === col("l_orderkey")),
      "o_custkey", "l_partkey")

  val q134LinkPredSql: String = s"""
    WITH rel AS (
      SELECT DISTINCT o_custkey AS l, l_partkey AS r
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
    keep AS (SELECT r FROM rel GROUP BY r HAVING COUNT(*) <= 64),
    capped AS (SELECT rel.l, rel.r FROM rel JOIN keep USING (r)),
    deg AS (SELECT l, COUNT(*) AS deg FROM capped GROUP BY l),
    pairs AS (
      SELECT a.l AS id_a, b.l AS id_b, COUNT(*) AS common
      FROM capped a JOIN capped b ON a.r = b.r AND a.l < b.l
      GROUP BY 1, 2 HAVING COUNT(*) >= 2)
    SELECT id_a, id_b, common,
           ${graft.ops.Relational.ratio6Sql(
             "common", "da.deg + db.deg - common")} AS jaccard6
    FROM pairs JOIN deg da ON da.l = id_a JOIN deg db ON db.l = id_b
    ORDER BY jaccard6 DESC, id_a, id_b LIMIT 100"""

  // --- q139_feature_norm: per-dimension z-normalization of embeddings -----
  /** Feature standardization over an embedding column — the preprocessing
    * pass ANN/k-means runs so no dimension dominates the metric. Each
    * component is first quantized to an exact BIGINT (`floor(x·10⁶)` —
    * float→double is exact, the multiply and floor are correctly rounded,
    * so ANY engine derives the identical integer), per-dimension
    * count/Σ/Σ² are then exact integer aggregates (order-free), and the
    * z-score is ONE identical IEEE expression tree over those exact
    * inputs (the q115/q129 discipline) — bit-identical doubles with no
    * rounding step. Zero-variance and single-point dimensions yield NULL,
    * never ±∞.
    *
    * Scale shape: posexplode → map-side-partial agg keyed by the
    * 64-value dim column → a 64-row stats frame broadcast back into a
    * codegen'd projection; the corpus shuffles once (the dim agg), and
    * Σ(xq²) ≤ 10¹²·rows stays in BIGINT to ~10⁶ rows/dim — past that,
    * lift the two sums to DECIMAL(38,0). */
  def featureNormalize(emb: DataFrame, id: String, vec: String): DataFrame = {
    val comps = emb
      .select(col(id), posexplode(vecAsDouble(col(vec))).as(Seq("dim", "x")))
      .withColumn("xq", floor(col("x") * 1000000).cast("long"))
    val stats = comps.groupBy(col("dim"))
      .agg(count(lit(1)).as("n"), sum(col("xq")).as("s"),
        sum(col("xq") * col("xq")).as("ss"))
    // bcast-ok: stats is one row per embedding dimension — dim-bounded
    comps.join(broadcast(stats), "dim")
      .select(col(id), col("dim"),
        expr("""CASE WHEN n > 1 AND
                  CAST(ss AS DOUBLE) / CAST(n AS DOUBLE)
                    - (CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
                      * (CAST(s AS DOUBLE) / CAST(n AS DOUBLE)) > 0
                THEN (CAST(xq AS DOUBLE) - CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
                     / sqrt(CAST(ss AS DOUBLE) / CAST(n AS DOUBLE)
                            - (CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
                              * (CAST(s AS DOUBLE) / CAST(n AS DOUBLE)))
                END""").as("z"))
  }

  def q139FeatureNorm(spark: SparkSession, dir: String): DataFrame =
    featureNormalize(Tables.embeddings(spark, dir), "vec_id", "embedding")

  val q139FeatureNormSql: String = """
    WITH comp AS (
      SELECT vec_id, CAST(i - 1 AS INT) AS dim,
             CAST(FLOOR(CAST(e.embedding[i] AS DOUBLE) * 1000000) AS BIGINT)
               AS xq
      FROM embeddings e, unnest(range(1, len(e.embedding) + 1)) AS r(i)),
    st AS (SELECT dim, CAST(COUNT(*) AS BIGINT) AS n,
                  CAST(SUM(xq) AS BIGINT) AS s,
                  CAST(SUM(xq * xq) AS BIGINT) AS ss
           FROM comp GROUP BY dim)
    SELECT vec_id, dim,
           CASE WHEN n > 1 AND
                  CAST(ss AS DOUBLE) / CAST(n AS DOUBLE)
                    - (CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
                      * (CAST(s AS DOUBLE) / CAST(n AS DOUBLE)) > 0
                THEN (CAST(xq AS DOUBLE) - CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
                     / sqrt(CAST(ss AS DOUBLE) / CAST(n AS DOUBLE)
                            - (CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
                              * (CAST(s AS DOUBLE) / CAST(n AS DOUBLE)))
           END AS z
    FROM comp JOIN st USING (dim)"""

  // --- q143_rrf: reciprocal-rank fusion of lexical + vector retrieval -----
  /** Hybrid-search fusion: combine two independent rankings of the same
    * id space by `Σ 1/(k₀ + rank)` (Cormack et al.'s reciprocal-rank
    * fusion, k₀ = 60) — the standard way a RAG stack merges BM25 and
    * embedding retrieval without score calibration, because RRF consumes
    * only RANKS. That is also what makes it oracle-exact here: ranks are
    * integers both engines agree on (each leg is already hash-certified),
    * `k₀ + rank` is exact in a double, and the fused score is two
    * correctly-rounded divisions added in a fixed order — no calibration
    * constant, no `ln`, nothing engine-specific.
    *
    * Scale shape: each leg arrives pre-truncated to its top-N (a
    * TakeOrdered, never a corpus sort), so the fuse is a full-outer join
    * of two N-row frames and a global top-k over ≤ 2N rows — driver-scale
    * work regardless of corpus size. Absent-from-one-leg ids keep the
    * other leg's term (the union semantics RRF specifies). */
  def rrfFuse(lex: DataFrame, vec: DataFrame, id: String,
              k0: Int = 60, k: Int = 20): DataFrame =
    lex.select(col(id), col("rank").as("lex_rank"))
      .join(vec.select(col(id), col("rank").as("vec_rank")),
        Seq(id), "full_outer")
      .select(col(id), col("lex_rank"), col("vec_rank"),
        (coalesce(lit(1.0) / (lit(k0) + col("lex_rank")).cast("double"),
          lit(0.0)) +
         coalesce(lit(1.0) / (lit(k0) + col("vec_rank")).cast("double"),
           lit(0.0))).as("rrf"))
      .orderBy(col("rrf").desc, col(id)).limit(k)

  /** Lexical leg: BM25 top-100 for the shared query terms; vector leg:
    * exact cosine top-100 around corpus vector 0 (the id spaces align by
    * construction in the synthetic tables — a real deployment joins
    * through a doc↔embedding mapping table). */
  def q143Rrf(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("score").desc, col("doc_id"))
    val lex = TextAnalysis.bm25TopK(Tables.documents(spark, dir),
        "doc_id", "text", TextAnalysis.bm25QueryTerms, k = 100)
      .withColumn("rank", row_number().over(w).cast("int"))
    val vec = cosineTopK(corpus(spark, dir),
        corpus(spark, dir).filter(col("vec_id") === 0)
          .select(col("vec_id").as("qid"), col("v").as("qv")), k = 100)
      .select(col("vec_id").as("doc_id"), col("rank"))
    rrfFuse(lex, vec, "doc_id")
  }

  val q143RrfSql: String = {
    val inList = TextAnalysis.bm25QueryTerms.map(t => s"'$t'").mkString(", ")
    raw"""
    WITH t AS (
      SELECT doc_id, w FROM (
        SELECT doc_id,
               unnest(string_split_regex(lower(text), '\s+')) AS w
        FROM documents) x
      WHERE w <> ''),
    nn AS (SELECT COUNT(*) AS N FROM documents),
    dl AS (SELECT doc_id, COUNT(*) AS dl FROM t GROUP BY doc_id),
    tl AS (SELECT COUNT(*) AS L FROM t),
    qtf AS (SELECT doc_id, w, COUNT(*) AS tf FROM t
            WHERE w IN ($inList) GROUP BY doc_id, w),
    dfq AS (SELECT w, COUNT(*) AS df FROM qtf GROUP BY w),
    bv AS (SELECT q.doc_id, q.w,
                  CAST(22 * L * tf * (2*N - 2*df + 1) AS DOUBLE) /
                  CAST((10*L*tf + 3*L + 9*dl.dl*N) * (2*df + 1) AS DOUBLE)
                    AS v
           FROM qtf q JOIN dfq USING (w) JOIN dl ON dl.doc_id = q.doc_id,
                nn, tl),
    sc AS (SELECT doc_id,
                  list_reduce(list_prepend(0.0, list(v ORDER BY w)),
                              (a, b) -> a + b) AS score
           FROM bv GROUP BY doc_id),
    lex AS (SELECT doc_id,
                   CAST(ROW_NUMBER() OVER (ORDER BY score DESC, doc_id)
                        AS INT) AS lex_rank
            FROM sc ORDER BY score DESC, doc_id LIMIT 100),
    ve AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
           WHERE $nonzeroVecWhere),
    qv AS (SELECT v AS qv FROM ve WHERE vec_id = 0),
    p AS (SELECT vec_id,
                 ROUND(list_dot_product(qv, v) /
                       (sqrt(list_dot_product(qv, qv)) *
                        sqrt(list_dot_product(v, v))), 6) AS cos
          FROM ve, qv WHERE vec_id <> 0),
    vec AS (SELECT vec_id AS doc_id,
                   CAST(ROW_NUMBER() OVER (ORDER BY cos DESC, vec_id)
                        AS INT) AS vec_rank
            FROM p ORDER BY cos DESC, vec_id LIMIT 100),
    f AS (SELECT COALESCE(lex.doc_id, vec.doc_id) AS doc_id,
                 lex_rank, vec_rank
          FROM lex FULL OUTER JOIN vec ON lex.doc_id = vec.doc_id)
    SELECT doc_id, lex_rank, vec_rank,
           COALESCE(CAST(1 AS DOUBLE) / CAST(60 + lex_rank AS DOUBLE), 0.0) +
           COALESCE(CAST(1 AS DOUBLE) / CAST(60 + vec_rank AS DOUBLE), 0.0)
             AS rrf
    FROM f ORDER BY rrf DESC, doc_id LIMIT 20"""
  }

  // --- q157_sorted_neighborhood: SNM blocking for entity resolution -------
  /** Sorted-neighborhood blocking (Hernández/Stolfo, SIGMOD'95) with the
    * Sorted-Blocks overlap variant: records sort by a blocking key, every
    * window of `w` consecutive records yields candidate pairs, and
    * adjacent blocks exchange their w−1 boundary rows so a duplicate run
    * straddling a block edge is not lost. Complements q126/q128's
    * EQUALITY blocking: the sorted order pairs near keys that equality
    * blocking would separate, at linear candidate cost O(n·w) instead of
    * block-quadratic.
    *
    * Scale shape: the sort is block-keyed (`Window.partitionBy(blk)`,
    * never a single global window) and the window expansion is ONE
    * hash equi-join on (blk, rn) — the w−1 offsets explode on the left,
    * the right side is probed once per offset. The overlap stage touches
    * only 2(w−1) rows per block, routed through the block CATALOG (a
    * distinct-blk frame orders of magnitude smaller than the data; its
    * row_number is catalog-sized by construction and the next-block map
    * broadcasts). The block key must be chosen so block cardinality grows
    * with the corpus — here the name's first token; at 100 TB a longer
    * key prefix — a low-cardinality block makes the per-block sort the
    * bottleneck exactly like any skewed groupBy. The catalog-sized
    * contract is ENFORCED, not assumed: the successor map's global
    * `row_number` window and broadcast both assume blocks ≪ rows, so a
    * `raise_error` guard fused into the row_number output fails the job
    * with the remediation (coarser block key, or a range-partitioned
    * successor derivation) the moment a catalog exceeds
    * `maxCatalogBlocks` — at execution time, inside the same job, so the
    * plan stays lazy and no probe pre-job re-runs the sort lineage. */
  def sortedNeighborhoodPairs(recs: DataFrame, id: String, key: String,
                              blkOf: Column => Column, w: Int = 4,
                              maxDist: Int = 3,
                              maxCatalogBlocks: Int = 4000000): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = recs.select(col(id).as("id"), col(key).as("key"))
      .withColumn("blk", blkOf(col("key")))
    val byBlk = Window.partitionBy(col("blk")).orderBy(col("key"), col("id"))
    // persisted: probed by the within-window join (both sides), the tail
    // and head slices, and its lineage holds the per-block sort
    val rk = graft.CacheRegistry.persist(
      base.select(col("id"), col("key"), col("blk"),
        row_number().over(byBlk).as("rn"),
        count(lit(1)).over(Window.partitionBy(col("blk"))).as("cnt")))
    val probes = rk.withColumn("d", explode(array((1 until w).map(lit): _*)))
      .select(col("id").as("id_l"), col("key").as("key_l"),
        col("blk"), (col("rn") + col("d")).as("rn"))
    val within = probes.join(
      rk.select(col("id").as("id_r"), col("key").as("key_r"),
        col("blk"), col("rn")),
      Seq("blk", "rn"))
    val cat = rk.select(col("blk")).distinct()
    // Catalog-size guard, folded into the row_number itself instead of an
    // eager limit(n+1).count() pre-job (the r9 probe re-ran the per-block
    // sort lineage once per invocation — q157's bench went 0.47→2.01 s for
    // a number the window below derives anyway). raise_error fires during
    // the SAME job the moment row maxCatalogBlocks+1 streams out of the
    // sort, so an oversized catalog still fails loudly — at execution time,
    // with the remediation text — and the plan stays lazy (no job until the
    // caller acts).
    val bi = cat.withColumn("bi",
      // window-ok: ≤ maxCatalogBlocks rows enforced by the raise_error
      // guard fused into this window's output
      row_number().over(Window.orderBy(col("blk"))))
      .withColumn("bi", when(col("bi") > maxCatalogBlocks,
        raise_error(lit(s"sortedNeighborhoodPairs: more than " +
          s"$maxCatalogBlocks distinct blocks — the block-successor " +
          "catalog assumes blocks ≪ rows; coarsen the block key or " +
          "derive successors range-partitioned"))
          .cast("int")).otherwise(col("bi")))
    val nxt = bi.as("x").join(bi.as("y"), col("y.bi") === col("x.bi") + 1)
      .select(col("x.blk").as("blk"), col("y.blk").as("nblk"))
    val tails = rk.filter(col("rn") > col("cnt") - (w - 1))
      .select(col("id").as("id_l"), col("key").as("key_l"), col("blk"))
    val heads = rk.filter(col("rn") <= w - 1)
      .select(col("id").as("id_r"), col("key").as("key_r"),
        col("blk").as("nblk"))
    // bcast-ok: block-successor map, ≤ maxCatalogBlocks rows by the
    // raise_error guard fused into the catalog row_number above
    val overlap = tails.join(broadcast(nxt), Seq("blk")).join(heads, Seq("nblk"))
    val cand = within.select(col("id_l"), col("key_l"), col("id_r"), col("key_r"))
      .union(overlap.select(col("id_l"), col("key_l"), col("id_r"), col("key_r")))
    cand.select(
        least(col("id_l"), col("id_r")).as("id_a"),
        greatest(col("id_l"), col("id_r")).as("id_b"),
        when(col("id_l") < col("id_r"), col("key_l")).otherwise(col("key_r"))
          .as("name_a"),
        when(col("id_l") < col("id_r"), col("key_r")).otherwise(col("key_l"))
          .as("name_b"),
        levenshtein(col("key_l"), col("key_r")).as("dist"))
      .filter(col("dist") <= maxDist)
  }

  def q157SortedNeighborhood(spark: SparkSession, dir: String): DataFrame =
    sortedNeighborhoodPairs(
      Tables.part(spark, dir)
        .select(col("p_partkey"), lower(col("p_name")).as("name")),
      "p_partkey", "name", k => split(k, " ").getItem(0))

  val q157SortedNeighborhoodSql: String = """
    WITH rec AS (
      SELECT p_partkey AS id, lower(p_name) AS key,
             split_part(lower(p_name), ' ', 1) AS blk
      FROM part),
    rk AS (
      SELECT id, key, blk,
             ROW_NUMBER() OVER (PARTITION BY blk ORDER BY key, id) AS rn,
             COUNT(*) OVER (PARTITION BY blk) AS cnt
      FROM rec),
    blks AS (
      SELECT blk, ROW_NUMBER() OVER (ORDER BY blk) AS bi
      FROM (SELECT DISTINCT blk FROM rec)),
    within AS (
      SELECT a.id AS id_l, a.key AS key_l, b.id AS id_r, b.key AS key_r
      FROM rk a JOIN rk b
        ON b.blk = a.blk AND b.rn BETWEEN a.rn + 1 AND a.rn + 3),
    ovl AS (
      SELECT a.id AS id_l, a.key AS key_l, b.id AS id_r, b.key AS key_r
      FROM rk a
      JOIN blks ba ON ba.blk = a.blk
      JOIN blks bb ON bb.bi = ba.bi + 1
      JOIN rk b ON b.blk = bb.blk AND b.rn <= 3
      WHERE a.rn > a.cnt - 3),
    cand AS (SELECT * FROM within UNION ALL SELECT * FROM ovl)
    SELECT LEAST(id_l, id_r) AS id_a, GREATEST(id_l, id_r) AS id_b,
           CASE WHEN id_l < id_r THEN key_l ELSE key_r END AS name_a,
           CASE WHEN id_l < id_r THEN key_r ELSE key_l END AS name_b,
           CAST(levenshtein(key_l, key_r) AS INT) AS dist
    FROM cand WHERE levenshtein(key_l, key_r) <= 3"""

  // --- q173_jaro_winkler: prefix-weighted name similarity pairs -----------
  /** Blocked name-pair scoring with the native codegen'd
    * [[graft.functions.TextExpressions.jaroWinkler]] expression — the
    * string-similarity class q126's Levenshtein cannot express (edit
    * distance punishes transpositions and ignores the shared-prefix
    * signal record linkage lives on). Same first-token blocking as q126;
    * the expression's semantics are pinned to DuckDB's
    * `jaro_winkler_similarity` (floor-halved transpositions, boost only
    * past jaro 0.7 — empirically confirmed corners), so the oracle runs
    * the BUILT-IN DuckDB function against our native expression:
    * independent implementations, one hash. */
  def q173JaroWinkler(spark: SparkSession, dir: String): DataFrame = {
    val names = Tables.part(spark, dir)
      .select(lower(col("p_name")).as("name")).distinct()
      .withColumn("blk", split(col("name"), " ").getItem(0))
    val jw = graft.functions.TextExpressions.jaroWinkler(
      col("a.name"), col("b.name"))
    names.as("a").join(names.as("b"),
        col("a.blk") === col("b.blk") && col("a.name") < col("b.name"))
      .select(col("a.name").as("name_a"), col("b.name").as("name_b"),
        round(jw, 6).as("jw6"))
      .filter(col("jw6") >= 0.8)
  }

  val q173JaroWinklerSql: String = """
    WITH nm AS (
      SELECT DISTINCT lower(p_name) AS name,
             split_part(lower(p_name), ' ', 1) AS blk
      FROM part)
    SELECT a.name AS name_a, b.name AS name_b,
           ROUND(jaro_winkler_similarity(a.name, b.name), 6) AS jw6
    FROM nm a JOIN nm b ON a.blk = b.blk AND a.name < b.name
    WHERE ROUND(jaro_winkler_similarity(a.name, b.name), 6) >= 0.8"""

  // --- q189_jl_projection: Johnson-Lindenstrauss dimensionality cut -------
  /** Random-projection dimensionality reduction: 64-dim embeddings onto
    * k = 16 signed-±1 hyperplanes, scaled 1/√k — the JL step that runs in
    * FRONT of an IVF/PQ index build when the raw dimension makes codebook
    * training the bottleneck. The same deterministic LCG hyperplanes as
    * the sign-LSH bucketer, so the projection is a pure function of the
    * data and fully replayable.
    *
    * Cross-engine exactness: each component is one sequential-fold dot
    * product (bit-identical to `list_dot_product`), the 1/√16 = 1/4 scale
    * is exact binary, and the 6-dp round crosses the boundary as always.
    * Pure projection — no shuffle; at 100 TB it pipelines into whatever
    * consumes it. */
  def jlProject(corpus: DataFrame, k: Int = 16, dim: Int = 64): DataFrame = {
    require(k > 0 && (math.sqrt(k) == math.floor(math.sqrt(k))),
      "jlProject: k must be a perfect square so 1/sqrt(k) is exact in SQL")
    val scale = math.sqrt(k)
    corpus.select(col("vec_id"),
      array((0 until k).map { j =>
        val h = array(hyperplane(j, dim).map(lit): _*)
        round(dot(col("v"), h) / scale, 6)
      }: _*).as("proj"))
  }

  /** The q189 registry entry ships [[jlProject]]'s components as k scalar
    * DOUBLE columns `p00..p15` rather than one `proj` array: a top-level
    * list column breaks the driver comparator's pandas `sort_values`
    * (ndarray cells are unhashable), and stringifying doubles would trade
    * exact binary comparison for engine-specific float rendering. Scalar
    * columns keep the compare bit-exact AND comparator-safe. */
  def q189JlProjection(spark: SparkSession, dir: String): DataFrame =
    // UNFILTERED corpus, deliberately: JL projection is a pure linear map
    // with no cosine — a zero vector projects to a perfectly defined zero
    // row, so the nonzeroVecs rule does not apply (and the oracle scans
    // the raw table)
    jlProject(Tables.embeddings(spark, dir)
      .select(col("vec_id"), vecAsDouble(col("embedding")).as("v")))
      .select(col("vec_id") +:
        (0 until 16).map(j => element_at(col("proj"), j + 1)
          .as(f"p$j%02d")): _*)

  val q189JlProjectionSql: String = {
    val comps = (0 until 16).map(j =>
      f"ROUND(list_dot_product(v, ${hyperplaneSql(j, 64)}) / 4.0, 6) AS p$j%02d")
      .mkString(",\n             ")
    s"""
    WITH c AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
    SELECT vec_id,
           $comps
    FROM c"""
  }

  // --- q179_margin_mining: margin-criterion cross-corpus pair mining ------
  /** Margin-criterion alignment mining (the bitext-mining selection rule):
    * a cross-corpus candidate pair is kept when its cosine stands out
    * RELATIVE to both endpoints' neighborhoods —
    * `margin(x,y) = cos(x,y) / ((avgTopK(x→B) + avgTopK(y→A)) / 2) ≥ τ` —
    * not on an absolute threshold, which would flood the mined set with
    * hub vectors (close to everything, aligned with nothing). Candidates
    * are x's forward top-k.
    *
    * Exactness: cosines cross the engines as 6-dp-scaled BIGINTs, the
    * margin inequality is cross-multiplied into pure integer arithmetic
    * (`2·c·nₐ·n_b·τden ≥ τnum·(sₐ·n_b + s_b·nₐ)`, with actual
    * neighborhood sizes so short sides don't distort the average), and
    * the reported margin is ratio6 — set membership and every reported
    * number are bit-identical across engines.
    *
    * Scale shape: this exact spelling is the all-pairs baseline, guarded
    * like [[cosineTopK]] (the B side must broadcast). At corpus scale the
    * candidate generation and both neighborhood averages swap onto the
    * [[annCosineTopK]] bucketed substrate unchanged — the margin filter
    * itself only ever consumes top-k frames. */
  def marginPairs(a: DataFrame, b: DataFrame, k: Int,
                  tauNum: Long = 105, tauDen: Long = 100,
                  maxSideRows: Int = 500000): DataFrame = {
    val bSide = sizeGuarded(b, maxSideRows,
      s"marginPairs broadcasts the B side: more than $maxSideRows rows — " +
        "swap candidate generation onto annCosineTopK for large corpora")
    val pairs = graft.CacheRegistry.persist(
      a.withColumn("an", norm(col("av")))
        // bcast-ok: B side, size-guarded by sizeGuarded above
        .crossJoin(broadcast(bSide.withColumn("bn", norm(col("bv")))))
        .withColumn("c6",
          round(round(dot(col("av"), col("bv")) / (col("an") * col("bn")), 6)
            * 1000000).cast("long"))
        .select(col("aid"), col("bid"), col("c6")))
    val topA = Windows.perGroupTopK(pairs, group = Seq(col("aid")),
      order = Seq(col("c6").desc, col("bid")), saltSrc = col("bid"), k = k)
    val statsA = topA.groupBy(col("aid"))
      .agg(sum(col("c6")).as("sa"), count(lit(1)).as("na"))
    val statsB = Windows.perGroupTopK(pairs, group = Seq(col("bid")),
        order = Seq(col("c6").desc, col("aid")), saltSrc = col("aid"), k = k)
      .groupBy(col("bid"))
      .agg(sum(col("c6")).as("sb"), count(lit(1)).as("nb"))
    topA.select(col("aid"), col("bid"), col("c6"))
      .join(statsA, "aid").join(statsB, "bid")
      .filter(col("sa") * col("nb") + col("sb") * col("na") > 0 &&
        lit(2) * col("c6") * col("na") * col("nb") * tauDen >=
          lit(tauNum) * (col("sa") * col("nb") + col("sb") * col("na")))
      .select(col("aid"), col("bid"),
        (col("c6").cast("double") / 1000000).as("cos6"),
        graft.ops.Relational.ratio6(
          "2 * c6 * na * nb", "sa * nb + sb * na").as("margin6"))
  }

  /** Even vec_ids play corpus A, odd play corpus B; k = 4, τ = 1.05. */
  def q179MarginMining(spark: SparkSession, dir: String): DataFrame = {
    val v = nonzeroVecs(Tables.embeddings(spark, dir)
      .select(col("vec_id"), vecAsDouble(col("embedding")).as("v")), "v")
    marginPairs(
      v.filter(pmod(col("vec_id"), lit(2)) === 0)
        .select(col("vec_id").as("aid"), col("v").as("av")),
      v.filter(pmod(col("vec_id"), lit(2)) === 1)
        .select(col("vec_id").as("bid"), col("v").as("bv")),
      k = 4)
  }

  val q179MarginMiningSql: String = s"""
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
               WHERE $nonzeroVecWhere),
    aa AS (SELECT vec_id AS aid, v AS av FROM v WHERE vec_id % 2 = 0),
    bb AS (SELECT vec_id AS bid, v AS bv FROM v WHERE vec_id % 2 = 1),
    p AS (SELECT aid, bid,
                 CAST(ROUND(ROUND(list_dot_product(av, bv) /
                        (sqrt(list_dot_product(av, av)) *
                         sqrt(list_dot_product(bv, bv))), 6)
                      * 1000000) AS BIGINT) AS c6
          FROM aa CROSS JOIN bb),
    ra AS (SELECT aid, bid, c6,
                  ROW_NUMBER() OVER (PARTITION BY aid
                                     ORDER BY c6 DESC, bid) AS rn
           FROM p),
    sa AS (SELECT aid, CAST(SUM(c6) AS BIGINT) AS sa, COUNT(*) AS na
           FROM ra WHERE rn <= 4 GROUP BY aid),
    rb AS (SELECT bid, aid, c6,
                  ROW_NUMBER() OVER (PARTITION BY bid
                                     ORDER BY c6 DESC, aid) AS rn
           FROM p),
    sb AS (SELECT bid, CAST(SUM(c6) AS BIGINT) AS sb, COUNT(*) AS nb
           FROM rb WHERE rn <= 4 GROUP BY bid)
    SELECT c.aid, c.bid, CAST(c.c6 AS DOUBLE) / 1000000 AS cos6,
           ${graft.ops.Relational.ratio6Sql(
             "2 * c.c6 * sa.na * sb.nb", "sa.sa * sb.nb + sb.sb * sa.na")}
             AS margin6
    FROM (SELECT aid, bid, c6 FROM ra WHERE rn <= 4) c
    JOIN sa USING (aid) JOIN sb USING (bid)
    WHERE sa.sa * sb.nb + sb.sb * sa.na > 0
      AND 2 * c.c6 * sa.na * sb.nb * 100 >=
          105 * (sa.sa * sb.nb + sb.sb * sa.na)"""

  // --- q203_int8_quant: symmetric int8 scalar quantization ----------------
  /** Per-vector symmetric int8 scalar quantization — the storage format a
    * 100 TB embedding corpus actually ships (4 bytes/dim float32 → 1 byte
    * of code + one float scale per vector, a 3.9× index-size cut that PQ
    * (q99) refines further but SQ serves first because decode is one
    * multiply). Codes are `floor(x · 127/max|x|)` per component, so the
    * widest component maps to ±127 and the dequant error is bounded by
    * `max|x|/127` per dimension.
    *
    * The reference has no quantizer (its embedding-adjacent surface is
    * generic map/reduce); this extends the q99/q100 compression family.
    *
    * Cross-engine exactness (why the oracle hash-matches, the q139
    * discipline): float→double is exact, `max(abs(x))` over the array is
    * order-free, `127.0/ma` and `x·s` are single correctly-rounded IEEE
    * ops both engines evaluate identically, and `floor` of the identical
    * double is the identical integer — after which every output is exact
    * BIGINT arithmetic (min/max/Σ/Σc² over ≤128 codes). `floor` (not
    * round) sidesteps round-half-mode questions, and its codes stay in
    * [-128, 127]: x ≥ -ma gives x·s ≥ -127·(1+ε) so floor ≥ -128 — int8
    * by construction, no clamp. The one double output, the scale, is
    * itself a single division both engines derive bit-identically.
    *
    * All-zero vectors have no widest component (`127/0`); they are
    * excluded with the same rationale as [[nonzeroVecs]] — nothing to
    * quantize — and the oracle mirrors the WHERE.
    *
    * Scale shape: a single codegen'd projection — no shuffle, no agg, no
    * join; quantizing 100 TB is exactly one read pass. */
  def int8Quantize(emb: DataFrame, id: String, vec: String): DataFrame = {
    val v = vecAsDouble(col(vec))
    emb
      .select(col(id), v.as("v"),
        array_max(transform(v, x => abs(x))).as("ma"))
      .filter(col("ma") > lit(0.0))
      .withColumn("s", lit(127.0) / col("ma"))
      .withColumn("codes",
        transform(col("v"), x => floor(x * col("s")).cast("long")))
      .select(col(id),
        array_min(col("codes")).as("code_min"),
        array_max(col("codes")).as("code_max"),
        aggregate(col("codes"), lit(0L), (a, c) => a + c).as("code_sum"),
        aggregate(col("codes"), lit(0L), (a, c) => a + c * c)
          .as("code_sq_sum"),
        col("s").as("q_scale"))
  }

  def q203Int8Quant(spark: SparkSession, dir: String): DataFrame =
    int8Quantize(Tables.embeddings(spark, dir), "vec_id", "embedding")

  val q203Int8QuantSql: String = """
    WITH m AS (
      SELECT vec_id, embedding::DOUBLE[] AS v,
             list_max(list_transform(embedding::DOUBLE[], x -> abs(x))) AS ma
      FROM embeddings),
    c AS (
      SELECT vec_id, 127.0 / ma AS s,
             list_transform(v, x -> CAST(FLOOR(x * (127.0 / ma)) AS BIGINT))
               AS codes
      FROM m WHERE ma > 0)
    SELECT vec_id,
           CAST(list_min(codes) AS BIGINT) AS code_min,
           CAST(list_max(codes) AS BIGINT) AS code_max,
           CAST(list_sum(codes) AS BIGINT) AS code_sum,
           CAST(list_sum(list_transform(codes, c -> c * c)) AS BIGINT)
             AS code_sq_sum,
           s AS q_scale
    FROM c"""

  // --- q207/q208: the similarity family's two pillars at ≥1M vectors ------
  /** At-scale correctness coverage for [[annCosineTopK]] (q207) and
    * [[cosineTopK]] (q208) — the q201/q204 trick applied to the similarity
    * family, whose gate coverage otherwise runs only on the 1 000-vector
    * embeddings table. A range-synthesized corpus of 2²⁰ vectors in 32
    * clusters of 32 768, built so every stage of both operators is
    * load-bearing AND the top-k answer is closed-form:
    *
    *  - cluster c occupies the orthogonal coordinate plane (2c, 2c+1):
    *    member j is x·e₂c + y·e₂c₊₁ with y = 32768 and x = 32769+j > y.
    *    Because x > y > 0, sign(⟨v, h⟩) = sign(h₂c·x + h₂c₊₁·y) =
    *    sign(h₂c) for ANY ±1-component hyperplane h — every member of a
    *    cluster lands in the same sign-LSH bucket as the cluster's pure-
    *    axis query e₂c (whose sign is also sign(h₂c)) under EVERY possible
    *    hyperplane draw. Bucket routing is therefore provably stable by
    *    construction, not by luck of the seeded planes, and `maxBucket` is
    *    set to the corpus size so no analytic recall term is needed;
    *  - cross-cluster cosine is exactly 0 (disjoint support), within-
    *    cluster cosine x/√(x²+y²) is strictly increasing in j with ≈10⁻⁵
    *    separation between neighbors (safe at ROUND(·,6)), so the exact
    *    AND the ANN top-k are the identical closed form: ranks 1..8 are
    *    the 8 largest j, and co-bucketed foreign clusters or multiprobe
    *    spill-ins can never reach the top-k (their cosine is 0 while
    *    k = 8 ≪ 32 768 own-cluster candidates with cosine > 0);
    *  - the arithmetic is bit-exact cross-engine: x ≤ 65 536 so x², y²,
    *    and the dot product (a single nonzero product) are exact doubles;
    *    ‖q‖ = 1 exactly; IEEE sqrt and divide are correctly rounded in
    *    both engines, so `ROUND(x/√(x²+y²), 6)` hash-matches DuckDB.
    *
    * q207 drives the full ANN machinery — in-plan plane derivation
    * ([[planesDf]] resolves p = 5 from n = 2²⁰ / targetBucket = 32 768),
    * bucket sizing + cap semi-join, hamming-1 multiprobe, candidate dedup,
    * salted two-phase top-k — over ~6M candidate pairs. q208 drives the
    * brute-force path's guarded query broadcast and corpus-scan shape over
    * the full 2²⁵ pair cross product. Both run once in Bench's stress
    * lane; SimilaritySpec pins the small-analog equivalence (ANN ≡ brute ≡
    * closed form) and the full-scale row count / derived plane count. */
  private[graft] val q207Clusters = 32
  private[graft] val q207ClusterSize = 32768L

  private[graft] def q207Corpus(spark: SparkSession,
                                clusters: Int = q207Clusters,
                                clusterSize: Long = q207ClusterSize): DataFrame = {
    val d = 2 * clusters
    spark.range(clusters * clusterSize)
      .select(col("id").as("vec_id"),
        expr(s"CAST(id div $clusterSize AS INT)").as("c"),
        (col("id") % clusterSize + clusterSize + 1).cast("double").as("x"))
      .select(col("vec_id"),
        concat(
          array_repeat(lit(0.0), col("c") * 2),
          array(col("x"), lit(clusterSize.toDouble)),
          array_repeat(lit(0.0), lit(d - 2) - col("c") * 2)).as("v"))
  }

  private[graft] def q207QueryVecs(spark: SparkSession,
                                   clusters: Int = q207Clusters): DataFrame = {
    val d = 2 * clusters
    spark.range(clusters)
      .select((col("id") + lit(1000000000L)).as("qid"),
        concat(
          array_repeat(lit(0.0), (col("id") * 2).cast("int")),
          array(lit(1.0)),
          array_repeat(lit(0.0), lit(d - 1) - (col("id") * 2).cast("int")))
          .as("qv"))
  }

  def q207AnnAtScale(spark: SparkSession, dir: String): DataFrame =
    annCosineTopK(q207Corpus(spark), q207QueryVecs(spark), k = 8,
      targetBucket = q207ClusterSize,
      maxBucket = q207Clusters * q207ClusterSize,
      dim = 2 * q207Clusters)

  def q208CosineAtScale(spark: SparkSession, dir: String): DataFrame =
    cosineTopK(q207Corpus(spark), q207QueryVecs(spark), 8)

  /** Closed form: rank r of query c is member j = 32768−r of cluster c,
    * i.e. vec_id = c·32768 + 32768 − r with x = 65537 − r. */
  private[graft] def q207OracleSql(clusters: Int = q207Clusters,
                                   clusterSize: Long = q207ClusterSize,
                                   k: Int = 8): String = {
    val xTop = 2 * clusterSize + 1
    val y2 = clusterSize * clusterSize
    s"""
    SELECT CAST(1000000000 + c AS BIGINT) AS qid,
           CAST(c * $clusterSize + $clusterSize - r AS BIGINT) AS vec_id,
           ROUND(($xTop.0 - r) /
                 sqrt(($xTop.0 - r) * ($xTop.0 - r) + $y2.0), 6) AS cos,
           CAST(r AS INT) AS rank
    FROM (SELECT CAST(u.i AS BIGINT) AS c FROM unnest(range(0, $clusters)) AS u(i)),
         (SELECT CAST(u.i AS BIGINT) AS r FROM unnest(range(1, ${k + 1})) AS u(i))"""
  }

  // --- q230_kmeans_atscale: the Lloyd loop at ≥1M vectors ------------------
  /** At-scale correctness coverage for [[kMeans]] — q73 trains on ≤500
    * embeddings; this replays the SAME entry point (seed-by-lowest-id,
    * broadcast-centroid argmin assignment, decimal-exact centroid means)
    * over 2²⁰ range-synthesized 4-dim vectors in 8 planted clusters
    * 1000 apart per dimension with integer jitter ≤ ±3. Every coordinate
    * is an integer-valued double, so the per-cluster DECIMAL(28,12) sums
    * are exact at 131,072 rows. (With integer coordinates a double sum is
    * also exact at this magnitude — per-cluster totals ≈ 9.2e8 ≪ 2⁵³ —
    * so this gate exercises the fixed-point aggregation path AT VOLUME
    * rather than proving its necessity; the fractional corpora upstream
    * (q73/q99) are where decimal-vs-double is load-bearing.) The seeds
    * (ids 0..7, one per cluster by
    * construction) make Lloyd deterministic with no boundary ties. The
    * oracle replays the identical unrolled [[kMeansCtes]] chain over the
    * same range generator — the q73 bit-identity contract at 2,000× the
    * rows. Output: per-cluster rollup (8 rows) of membership count, the
    * exact id sum, and the d2 envelope. */
  private[graft] val q230Vecs = 1L << 20

  /** Rewrites a range-generator Spark SQL dim expression into its DuckDB
    * oracle form: the generator column `id` → `u.i` (the oracle's
    * `range(...) AS u(i)` alias) and Spark's `div` → DuckDB's `//`.
    * Word-boundary regexes, NOT substring `.replace`: a future dim
    * expression containing e.g. `width` or `grid` would be silently
    * corrupted into wrong SQL by a substring rewrite (r14 ADVICE). */
  private def duckDim(e: String): String =
    e.replaceAll("\\bid\\b", "u.i").replaceAll("\\bdiv\\b", "//")

  private[graft] def q230VecExprs: Seq[String] = Seq(
    "CAST(id % 8 * 1000 + (id div 8) % 5 - 2 AS DOUBLE)",
    "CAST((7 - id % 8) * 1000 + (id div 8) % 3 - 1 AS DOUBLE)",
    "CAST(id % 8 * 250 + 100 + (id div 8) % 7 - 3 AS DOUBLE)",
    "CAST(id % 8 * 125 + (id div 8) % 2 AS DOUBLE)")

  private[graft] def q230Frame(spark: SparkSession,
                             vecs: Long = q230Vecs): DataFrame =
    spark.range(vecs).select(col("id").as("vec_id"),
      array(q230VecExprs.map(expr): _*).as("embedding"))

  def q230KmeansAtScale(spark: SparkSession, dir: String): DataFrame =
    kMeans(q230Frame(spark), "vec_id", "embedding", kMeansK, kMeansIters)
      .groupBy(col("cluster"))
      .agg(count(lit(1)).as("n_members"), sum(col("vec_id")).as("sum_ids"),
        min(col("d2")).as("min_d2"), max(col("d2")).as("max_d2"))

  private[graft] def q230OracleSql(vecs: Long = q230Vecs): String = {
    val dims = q230VecExprs
      .map(duckDim)
      .mkString(",\n             ")
    s"""
    WITH ${kMeansCtes(
      s"""SELECT u.i AS vec_id,
           [$dims] AS v
         FROM range(0, $vecs) AS u(i)""", kMeansK, kMeansIters)}
    SELECT cid AS cluster, CAST(COUNT(*) AS BIGINT) AS n_members,
           CAST(SUM(vec_id) AS BIGINT) AS sum_ids,
           MIN(ROUND(d2, 6)) AS min_d2, MAX(ROUND(d2, 6)) AS max_d2
    FROM af GROUP BY cid"""
  }

  // --- q272_kmeansivf_atscale: two-level (IVF) k-means at ≥1M vectors ------
  /** At-scale correctness coverage for [[kMeansIvf]] — the N·√k two-level
    * path has no sf-corpus analog (k there is 8), so this gates it directly:
    * 2²⁰ 3-dim vectors on a 128×64 direction lattice (id % 8192 picks one
    * of 8192 (v0, v1) lattice points; id div 8192 adds a 0..4 jitter in
    * v2, so every lattice class holds 128 near-coincident rows), with
    * k = 1024 → kc = 32 coarse stripes and kf = 32 fine centroids per
    * cell. Both Lloyd levels, the per-cell lowest-id seeding, the routed
    * broadcast equi-join, and the (d2, cid) tie-break all fire at volume;
    * the oracle replays the identical composed [[kMeansIvfCtes]] chain
    * over the same range generator — the q230 bit-identity contract for
    * the two-level path. Output: per-(fine, cell) rollup (≤1024 rows) of
    * membership count, exact id sum, and the d2 envelope. */
  private[graft] val q272Vecs = 1L << 20
  private[graft] val q272K = 1024

  private[graft] def q272VecExprs: Seq[String] = Seq(
    "CAST(1000 + (id % 8192) div 64 AS DOUBLE)",
    "CAST((id % 8192) % 64 * 16 AS DOUBLE)",
    "CAST((id div 8192) % 5 AS DOUBLE)")

  private[graft] def q272Frame(spark: SparkSession,
                               vecs: Long = q272Vecs): DataFrame =
    spark.range(vecs).select(col("id").as("vec_id"),
      array(q272VecExprs.map(expr): _*).as("embedding"))

  def q272KmeansIvfAtScale(spark: SparkSession, dir: String): DataFrame =
    kMeansIvf(q272Frame(spark), "vec_id", "embedding", q272K, iters = 1)
      .groupBy(col("cluster"), col("ccell"))
      .agg(count(lit(1)).as("n_members"), sum(col("vec_id")).as("sum_ids"),
        min(col("d2")).as("min_d2"), max(col("d2")).as("max_d2"))

  private[graft] def q272OracleSql(vecs: Long = q272Vecs): String = {
    val dims = q272VecExprs
      .map(duckDim)
      .mkString(",\n             ")
    s"""
    WITH ${kMeansIvfCtes(
      s"""SELECT u.i AS vec_id,
           [$dims] AS v
         FROM range(0, $vecs) AS u(i)""", q272K, 1)}
    SELECT cid AS cluster, ccell, CAST(COUNT(*) AS BIGINT) AS n_members,
           CAST(SUM(vec_id) AS BIGINT) AS sum_ids,
           MIN(ROUND(d2, 6)) AS min_d2, MAX(ROUND(d2, 6)) AS max_d2
    FROM faf GROUP BY cid, ccell"""
  }

  // --- q274_ivfnprobe_atscale: multiprobe (nprobe = 2) final assignment ----
  /** At-scale correctness coverage for [[kMeansIvf]]'s `nprobe = 2`
    * multiprobe assignment — the IDENTICAL corpus, k, and rollup as q272,
    * differing ONLY in the final-assignment candidate set (each point
    * meets the fine codebooks of its 2 nearest coarse stripes). The q272
    * lattice puts whole classes near coarse-stripe boundaries, so the
    * rollup genuinely moves wherever a boundary class recovers a
    * neighboring stripe's fine centroid; the oracle replays the same
    * composed [[kMeansIvfCtes]] chain with the probed-candidates CTE — a
    * routing drift, a duplicate candidate in the probed union, or a
    * tie-break slip all fail the hash. */
  def q274IvfNprobeAtScale(spark: SparkSession, dir: String): DataFrame =
    kMeansIvf(q272Frame(spark), "vec_id", "embedding", q272K, iters = 1,
        nprobe = 2)
      .groupBy(col("cluster"), col("ccell"))
      .agg(count(lit(1)).as("n_members"), sum(col("vec_id")).as("sum_ids"),
        min(col("d2")).as("min_d2"), max(col("d2")).as("max_d2"))

  private[graft] def q274OracleSql(vecs: Long = q272Vecs): String = {
    val dims = q272VecExprs
      .map(duckDim)
      .mkString(",\n             ")
    s"""
    WITH ${kMeansIvfCtes(
      s"""SELECT u.i AS vec_id,
           [$dims] AS v
         FROM range(0, $vecs) AS u(i)""", q272K, 1, nprobe = 2)}
    SELECT cid AS cluster, ccell, CAST(COUNT(*) AS BIGINT) AS n_members,
           CAST(SUM(vec_id) AS BIGINT) AS sum_ids,
           MIN(ROUND(d2, 6)) AS min_d2, MAX(ROUND(d2, 6)) AS max_d2
    FROM faf GROUP BY cid, ccell"""
  }

  // --- q273_semdedupivf_atscale: IVF-routed SemDeDup at scale --------------
  /** At-scale correctness coverage for [[semanticDedupIvf]] — q74 gates the
    * flat-argmin SemDeDup on the ~500-vector sf corpus; this replays the
    * IVF-routed form over 2¹⁸ 4-dim vectors: the q272 direction lattice
    * (4096 classes × 64 rows) plus a VARIANT axis (id div 4096 alternates
    * a 0/1400 component in v3 — cross-variant cosine lands at ~0.58–0.73,
    * robustly under the 0.9 threshold, while same-variant same-class pairs
    * sit at ~1), so the within-cell pair stage must both accept and reject
    * at volume and the farthest-first keep order is load-bearing wherever
    * a cell holds near-ties. k = 2048 keeps fine cells at ~128 rows —
    * pair candidates stay Σ|cell|² ≈ n·128, the linear budget the k ∝ n
    * discipline promises. The oracle replays the whole pipeline: the
    * composed [[kMeansIvfCtes]] chain, the same rounded cosine, the same
    * keep rule — clustering drift, a missed pair, or a wrong keep
    * decision all fail the hash. Output: rollup by (vec_id % 64, kept)
    * with count and exact id sum. */
  private[graft] val q273Vecs = 1L << 18
  private[graft] val q273K = 2048

  private[graft] def q273VecExprs: Seq[String] = Seq(
    "CAST(1000 + (id % 4096) div 64 AS DOUBLE)",
    "CAST((id % 4096) % 64 * 16 AS DOUBLE)",
    "CAST((id div 4096) % 2 * 1400 AS DOUBLE)",
    "CAST((id div 8192) % 5 AS DOUBLE)")

  private[graft] def q273Frame(spark: SparkSession,
                               vecs: Long = q273Vecs): DataFrame =
    spark.range(vecs).select(col("id").as("vec_id"),
      array(q273VecExprs.map(expr): _*).as("embedding"))

  def q273SemdedupIvfAtScale(spark: SparkSession, dir: String): DataFrame =
    semanticDedupIvf(q273Frame(spark), "vec_id", "embedding", q273K,
      iters = 1, threshold = 0.9)
      .groupBy((col("vec_id") % 64).as("cls"), col("kept"))
      .agg(count(lit(1)).as("n_docs"), sum(col("vec_id")).as("sum_ids"))

  private[graft] def q273OracleSql(vecs: Long = q273Vecs): String = {
    val dims = q273VecExprs
      .map(duckDim)
      .mkString(",\n             ")
    s"""
    WITH ${kMeansIvfCtes(
      s"""SELECT u.i AS vec_id,
           [$dims] AS v
         FROM range(0, $vecs) AS u(i)""", q273K, 1)},
    r AS (SELECT vec_id, cid AS cluster, ROUND(d2, 6) AS d2 FROM faf),
    mv AS (SELECT r.vec_id, r.cluster, r.d2, e.v,
                  sqrt(list_dot_product(e.v, e.v)) AS nrm
           FROM r JOIN gve e ON e.vec_id = r.vec_id),
    dropped AS (
      SELECT DISTINCT l.vec_id
      FROM mv l JOIN mv rr
        ON l.cluster = rr.cluster AND l.vec_id <> rr.vec_id
       AND (rr.d2 > l.d2 OR (rr.d2 = l.d2 AND rr.vec_id < l.vec_id))
      WHERE ROUND(list_dot_product(l.v, rr.v) / (l.nrm * rr.nrm), 6) >= 0.9)
    SELECT CAST(mv.vec_id % 64 AS BIGINT) AS cls,
           (d.vec_id IS NULL) AS kept,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(mv.vec_id) AS BIGINT) AS sum_ids
    FROM mv LEFT JOIN dropped d ON d.vec_id = mv.vec_id
    GROUP BY 1, 2"""
  }

  // --- q257_pqadc_atscale: PQ train + ADC top-k at ≥1M vectors -------------
  /** At-scale correctness coverage for [[productQuantize]]/[[pqAdcTopK]] —
    * q99/q100 train on the ~500-vector sf corpus; this replays the SAME
    * ADC entry point over 2²⁰ range-synthesized 4-dim vectors whose two
    * PQ subspaces each carry 4 planted code clusters (`id % 4`, separated
    * ≥250 per dimension against integer jitter ≤ ±3, so Lloyd is
    * deterministic with no boundary ties and the seeds — ids 0..3, one
    * per cluster by construction — label both codebooks stably). ADC
    * distance is a pure function of the CODE PAIR, so the top-10 is the
    * ten lowest ids inside the query's own code pair — an outcome the
    * oracle derives by replaying the exact unrolled [[kMeansCtes]] chains
    * plus the LUT join: the q100 bit-identity contract at ~2,000× the
    * rows. What the gate holds closed at volume: training never shuffles
    * the corpus (broadcast-centroid argmin per subspace), the LUT meets
    * the codes through a k-row broadcast join, and the top-k is a
    * TakeOrdered with an id tiebreak, never a global sort. */
  private[graft] val q257Vecs = 1L << 20

  private[graft] def q257VecExprs: Seq[String] = Seq(
    "CAST(id % 4 * 1000 + (id div 4) % 5 - 2 AS DOUBLE)",
    "CAST((3 - id % 4) * 1000 + (id div 4) % 3 - 1 AS DOUBLE)",
    "CAST(id % 4 * 500 + (id div 4) % 7 - 3 AS DOUBLE)",
    "CAST(id % 4 * 250 + 100 + (id div 4) % 2 AS DOUBLE)")

  private[graft] def q257Frame(spark: SparkSession,
                               vecs: Long = q257Vecs): DataFrame =
    spark.range(vecs).select(col("id").as("vec_id"),
      array(q257VecExprs.map(expr): _*).as("embedding"))

  def q257PqAdcAtScale(spark: SparkSession, dir: String): DataFrame =
    pqAdcTopK(q257Frame(spark), "vec_id", "embedding",
      Seq((1, 2), (3, 2)), pqK, pqIters, pqTopK)

  private[graft] def q257OracleSql(vecs: Long = q257Vecs): String = {
    val d = q257VecExprs
      .map(duckDim)
    def gen(lo: Int, hi: Int) =
      s"""SELECT u.i AS vec_id, [${d.slice(lo, hi).mkString(", ")}] AS v
         FROM range(0, $vecs) AS u(i)"""
    s"""
    WITH ${kMeansCtes(gen(0, 2), pqK, pqIters, "p0")},
    ${kMeansCtes(gen(2, 4), pqK, pqIters, "p1")},
    qv0 AS (SELECT v AS q FROM p0ve ORDER BY vec_id LIMIT 1),
    qv1 AS (SELECT v AS q FROM p1ve ORDER BY vec_id LIMIT 1),
    l0 AS (SELECT c.cid, list_dot_product(q.q, q.q)
                  - 2*list_dot_product(q.q, c.c)
                  + list_dot_product(c.c, c.c) AS d
           FROM p0c$pqIters c CROSS JOIN qv0 q),
    l1 AS (SELECT c.cid, list_dot_product(q.q, q.q)
                  - 2*list_dot_product(q.q, c.c)
                  + list_dot_product(c.c, c.c) AS d
           FROM p1c$pqIters c CROSS JOIN qv1 q),
    j AS (SELECT a.vec_id, a.cid AS code0, b.cid AS code1,
                 l0.d + l1.d AS adc
          FROM p0af a JOIN p1af b USING (vec_id)
          JOIN l0 ON l0.cid = a.cid
          JOIN l1 ON l1.cid = b.cid)
    SELECT vec_id, code0, code1, ROUND(adc, 6) AS adc6
    FROM j ORDER BY adc, vec_id LIMIT $pqTopK"""
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q257_pqadc_atscale" -> q257PqAdcAtScale _,
    "q230_kmeans_atscale" -> q230KmeansAtScale _,
    "q272_kmeansivf_atscale" -> q272KmeansIvfAtScale _,
    "q273_semdedupivf_atscale" -> q273SemdedupIvfAtScale _,
    "q274_ivfnprobe_atscale" -> q274IvfNprobeAtScale _,
    "q207_ann_atscale" -> q207AnnAtScale _,
    "q208_cosine_atscale" -> q208CosineAtScale _,
    "q203_int8_quant" -> q203Int8Quant _,
    "q179_margin_mining" -> q179MarginMining _,
    "q189_jl_projection" -> q189JlProjection _,
    "q173_jaro_winkler" -> q173JaroWinkler _,
    "q157_sorted_neighborhood" -> q157SortedNeighborhood _,
    "q28_similarity_topk" -> q28SimilarityTopK _,
    "q42_ann_topk"        -> q42AnnTopK _,
    "q43_ivf_label_pairs" -> q43IvfLabelPairs _,
    "q48_embed_neardup"   -> q48EmbedNearDup _,
    "q73_kmeans"          -> q73KMeans _,
    "q74_semantic_dedup"  -> q74SemanticDedup _,
    "q99_pq"              -> q99Pq _,
    "q100_pq_adc"         -> q100PqAdc _,
    "q155_index_persist"  -> q155IndexPersist _,
    "q104_hard_negatives" -> q104HardNegatives _,
    "q105_ann_recall"     -> q105AnnRecall _,
    "q116_fuzzy_nn"       -> q116FuzzyNn _,
    "q126_fuzzy_pairs"    -> q126FuzzyPairs _,
    "q128_record_linkage" -> q128RecordLinkage _,
    "q235_linkage_atscale" -> q235LinkageAtScale _,
    "q134_link_pred"      -> q134LinkPred _,
    "q139_feature_norm"   -> q139FeatureNorm _,
    "q143_rrf"            -> q143Rrf _,
  )

  def oracles: Map[String, String] = Map(
    "q257_pqadc_atscale" -> q257OracleSql(),
    "q230_kmeans_atscale" -> q230OracleSql(),
    "q272_kmeansivf_atscale" -> q272OracleSql(),
    "q273_semdedupivf_atscale" -> q273OracleSql(),
    "q274_ivfnprobe_atscale" -> q274OracleSql(),
    "q207_ann_atscale" -> q207OracleSql(),
    "q208_cosine_atscale" -> q207OracleSql(),
    "q203_int8_quant" -> q203Int8QuantSql,
    "q179_margin_mining" -> q179MarginMiningSql,
    "q189_jl_projection" -> q189JlProjectionSql,
    "q173_jaro_winkler" -> q173JaroWinklerSql,
    "q157_sorted_neighborhood" -> q157SortedNeighborhoodSql,
    "q28_similarity_topk" -> q28SimilarityTopKSql,
    "q42_ann_topk"        -> q42AnnTopKSql,
    "q43_ivf_label_pairs" -> q43IvfLabelPairsSql,
    "q48_embed_neardup"   -> q48EmbedNearDupSql,
    "q73_kmeans"          -> q73KMeansSql,
    "q74_semantic_dedup"  -> q74SemanticDedupSql,
    "q99_pq"              -> q99PqSql,
    "q100_pq_adc"         -> q100PqAdcSql,
    // the persisted-index query must equal the full in-memory recompute
    "q155_index_persist"  -> q100PqAdcSql,
    "q104_hard_negatives" -> q104HardNegativesSql,
    "q105_ann_recall"     -> q105AnnRecallSql,
    "q116_fuzzy_nn"       -> q116FuzzyNnSql,
    "q126_fuzzy_pairs"    -> q126FuzzyPairsSql,
    "q128_record_linkage" -> q128RecordLinkageSql,
    "q235_linkage_atscale" -> q235OracleSql(),
    "q134_link_pred"      -> q134LinkPredSql,
    "q139_feature_norm"   -> q139FeatureNormSql,
    "q143_rrf"            -> q143RrfSql,
  )
}
