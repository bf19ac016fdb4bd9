package graft

import org.apache.spark.sql.functions._
import graft.ext.Similarity

class SimilaritySpec extends GraftSuite {
  import spark.implicits._

  private def corpus = Tables.embeddings(spark, sf)
    .select(col("vec_id"), Similarity.vecAsDouble(col("embedding")).as("v"))

  /** Deterministic hash-spread 64-dim vector (components centered in
    * [-1, 1)) — the synthetic corpus builder the bucketing specs share. */
  private def hv(id: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    transform(sequence(lit(0), lit(63)),
      j => (pmod(xxhash64(id, j), lit(1000L)).cast("double") - lit(499.5)) / 500.0)

  test("cosine of identical vectors is 1, orthogonal is 0") {
    val df = Seq((Seq(1.0, 0.0), Seq(1.0, 0.0), Seq(0.0, 1.0)))
      .toDF("a", "b", "c")
    val r = df.select(
      Similarity.cosine(col("a"), col("b")).as("same"),
      Similarity.cosine(col("a"), col("c")).as("orth")).head()
    assert(math.abs(r.getDouble(0) - 1.0) < 1e-12)
    assert(math.abs(r.getDouble(1)) < 1e-12)
  }

  test("brute-force top-k is ranked, self-free, and k-bounded") {
    val top = Similarity.q28SimilarityTopK(spark, sf).collect()
    val byQ = top.groupBy(_.getLong(0))
    assert(byQ.size == 10)
    byQ.foreach { case (q, rows) =>
      assert(rows.length == 5)
      assert(!rows.exists(_.getLong(1) == q), "self-match leaked")
      val cs = rows.sortBy(_.getInt(3)).map(_.getDouble(2))
      assert(cs.zip(cs.tail).forall { case (a, b) => a >= b })
    }
  }

  test("ANN multiprobe reaches usable recall vs brute force on fixed data") {
    val exact = Similarity.q28SimilarityTopK(spark, sf)
      .select("qid", "vec_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ann = Similarity.q42AnnTopK(spark, sf)
      .select("qid", "vec_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & ann).size.toDouble / exact.size
    // deterministic on the fixed corpus; the derived plane count (6 at
    // n=500) with multiprobe on well-spread vectors — pin a floor well
    // under the measured value
    assert(recall >= 0.2, s"recall@5 collapsed: $recall")
    assert(ann.nonEmpty)
  }

  test("plane count derives from the corpus size (2^p·target >= n)") {
    def planes(n: Long): Int = Similarity.planesDf(
      spark.range(n).select(col("id")), 8).head().getInt(0)
    assert(planes(1) == 1)      // tiny corpus: floor of one plane
    assert(planes(64) == 3)     // 2^3·8 = 64 >= 64
    assert(planes(500) == 6)    // the sf0.01 embeddings count
    assert(planes(5000) == 10)
    assert(planes(100000000) == 16, "capped at maxPlanes")
  }

  test("embeddingNearDup caps degenerate buckets, keeps healthy ones") {
    // 200 hash-spread background vectors + 30 exact clones (one bucket of
    // 30 > maxBucket=20, the duplicate pile-up the cap exists for) + one
    // planted twin pair in a healthy bucket. Clone pairs must vanish; the
    // twin pair must survive.
    val background = spark.range(200).select(col("id").as("vec_id"), hv(col("id")).as("v"))
    val clones = spark.range(30).select((col("id") + 5000).as("vec_id"),
      hv(lit(1L)).as("v"))
    val twins = spark.range(1).select(lit(100500L).as("vec_id"),
      transform(hv(lit(100L)), x => x + lit(1e-3)).as("v"))
    val found = Similarity.embeddingNearDup(
        background.unionByName(clones).unionByName(twins),
        threshold = 0.99, maxBucket = 20)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!found.exists { case (a, b) => a >= 5000 && a < 5030 && b >= 5000 && b < 5030 },
      s"clone pairs survived the cap: $found")
    assert(found.contains((100L, 100500L)), s"healthy twin pair lost: $found")
  }

  test("planted twins recovered at a derived plane count above 6") {
    // 9050 hash-spread vectors derive 11 planes (2^11·8 = 16384 >= 9050) —
    // the >6-plane regime larger corpora run in. Twins at cos ≈ 1-ε agree
    // on ~all sign bits, so recall must stay high even with 2048 buckets.
    val big = spark.range(9000).select(col("id").as("vec_id"), hv(col("id")).as("v"))
    val twins = spark.range(50).select((col("id") + 500000).as("vec_id"),
      transform(hv(col("id")), x => x + lit(1e-3)).as("v"))
    val corpus9050 = big.unionByName(twins)
    assert(Similarity.planesDf(corpus9050, 8).head().getInt(0) == 11)
    val found = Similarity.embeddingNearDup(corpus9050, threshold = 0.99)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val twinPairs = (0L until 50L).map(i => (i, i + 500000L)).toSet
    val recall = (found & twinPairs).size / 50.0
    assert(recall >= 0.8, s"twin recall collapsed at 11 planes: $recall")
  }

  test("embeddingNearDup finds planted near-identical vectors, no all-pairs") {
    // plant: vec 1000 = vec 0 + tiny noise (cos ≈ 0.9999)
    val base = corpus.filter(col("vec_id") < 50)
    val planted = base.filter(col("vec_id") === 0)
      .select(lit(1000L).as("vec_id"),
        transform(col("v"), x => x + lit(1e-4)).as("v"))
    val dups = Similarity.embeddingNearDup(base.union(planted), 0.95)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(dups == Set((0L, 1000L)))
  }

  test("ivf label pairs stay within their label cell") {
    val labels = Tables.embeddings(spark, sf)
      .select("vec_id", "label").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val rows = Similarity.q43IvfLabelPairs(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (lbl, a, b) = (r.getInt(0), r.getLong(1), r.getLong(2))
      assert(labels(a) == lbl && labels(b) == lbl)
    }
    rows.groupBy(_.getInt(0)).values.foreach(g => assert(g.length <= 3))
  }

  test("kMeans matches a plain-Scala Lloyd recompute on the corpus") {
    val k = 4; val iters = 2
    val got = Similarity.kMeans(Tables.embeddings(spark, sf),
        "vec_id", "embedding", k, iters)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

    // independent recompute: driver-side Lloyd with the same seeding and
    // decimal-mean rule
    val vecs = corpus.collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    def d2(a: Array[Double], b: Array[Double]): Double = {
      // same association order as dot(v,v) - 2*dot(v,c) + dot(c,c)
      def dot(x: Array[Double], y: Array[Double]) =
        x.indices.foldLeft(0.0)((s, i) => s + x(i) * y(i))
      dot(a, a) - 2 * dot(a, b) + dot(b, b)
    }
    var cent: Map[Long, Array[Double]] =
      (0 until k).map(i => i.toLong -> vecs(i.toLong)).toMap
    def assign(c: Map[Long, Array[Double]]): Map[Long, Long] =
      vecs.map { case (id, v) =>
        id -> c.toSeq.map { case (cid, cv) => (d2(v, cv), cid) }.min._2
      }
    for (_ <- 1 to iters) {
      val a = assign(cent)
      cent = a.groupBy(_._2).map { case (cid, members) =>
        val vs = members.keys.toSeq.map(vecs)
        cid -> Array.tabulate(vs.head.length) { i =>
          val sum = vs.map(v => BigDecimal(v(i)).setScale(12,
            BigDecimal.RoundingMode.HALF_UP)).sum
          (sum.toDouble / vs.size)
        }
      }
    }
    assert(got == assign(cent))
  }

  test("semanticDedup prunes planted twins only, keeping one member each") {
    val out = Similarity.q74SemanticDedup(spark, sf).collect()
    assert(out.length == 550) // 500 base + 50 planted twins
    val kept = out.filter(_.getBoolean(2)).map(_.getLong(0)).toSet
    val dropped = out.filterNot(_.getBoolean(2)).map(_.getLong(0)).toSet
    assert(dropped.nonEmpty, "no twin was pruned")
    // only twin-pair members can cross the 0.9 threshold (background pairs
    // top out near 0.51), so every dropped id is a twin-pair member...
    assert(dropped.forall(id => id < 50 || id >= 100000))
    // ...and its twin survives: a doc's only >=0.9 partner is its twin, and
    // the keep rule retains exactly the farther-from-centroid member
    dropped.foreach { id =>
      val twin = if (id >= 100000) id - 100000 else id + 100000
      assert(kept.contains(twin), s"dropped $id but twin $twin also gone")
    }
  }

  test("productQuantize codes each subspace independently") {
    // halves cluster CROSSED: ids 1,3 are low in sub0 and high in sub1,
    // ids 2,4 the reverse — seeds are ids 1,2, so after one Lloyd round
    // every vector's code pair is (nearest seed per half), hand-checked
    val vecs = Seq(
      (1L, Seq(0.0, 0.0, 10.0, 10.0)),
      (2L, Seq(10.0, 10.0, 0.0, 0.0)),
      (3L, Seq(0.5, 0.5, 9.0, 9.0)),
      (4L, Seq(9.0, 9.0, 1.0, 1.0)))
      .toDF("vec_id", "embedding")
    val got = Similarity.productQuantize(vecs, "vec_id", "embedding",
        Seq((1, 2), (3, 2)), k = 2, iters = 1)
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(3))).toMap
    assert(got == Map(1L -> ((1L, 1L)), 2L -> ((2L, 2L)),
      3L -> ((1L, 1L)), 4L -> ((2L, 2L))))
    // quantization error is non-negative and zero only for the exact seeds
    val d2s = Similarity.productQuantize(vecs, "vec_id", "embedding",
        Seq((1, 2), (3, 2)), k = 2, iters = 0)
      .collect().map(r => r.getLong(0) -> (r.getDouble(2), r.getDouble(4)))
      .toMap
    assert(d2s(1L) == ((0.0, 0.0)) && d2s(2L) == ((0.0, 0.0)))
  }

  test("pqAdcTopK ranks by summed lookup-table distances (hand-computed)") {
    // same crossed-half corpus; query = lowest id = v1 = [0,0,10,10].
    // after 1 Lloyd round: sub0 centroids (0.25,0.25)/(9.5,9.5), sub1
    // (9.5,9.5)/(0.5,0.5) → LUT dists 0.125/180.5 and 0.5/180.5, so
    // adc(v1)=adc(v3)=0.625, adc(v2)=adc(v4)=361 — order 1,3,2,4
    val vecs = Seq(
      (1L, Seq(0.0, 0.0, 10.0, 10.0)),
      (2L, Seq(10.0, 10.0, 0.0, 0.0)),
      (3L, Seq(0.5, 0.5, 9.0, 9.0)),
      (4L, Seq(9.0, 9.0, 1.0, 1.0)))
      .toDF("vec_id", "embedding")
    val got = Similarity.pqAdcTopK(vecs, "vec_id", "embedding",
        Seq((1, 2), (3, 2)), k = 2, iters = 1, topK = 4)
      .collect().map(r => (r.getLong(0), r.getDouble(3)))
    assert(got.toSeq == Seq((1L, 0.625), (3L, 0.625),
      (2L, 361.0), (4L, 361.0)))
  }

  test("hardNegatives only pairs across labels, ranked by similarity") {
    val out = Similarity.q104HardNegatives(spark, sf).collect()
    assert(out.nonEmpty)
    val labels = graft.Tables.embeddings(spark, sf)
      .select("vec_id", "label").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    out.foreach { r =>
      val (qid, neg) = (r.getLong(0), r.getLong(1))
      assert(labels(qid) != labels(neg), s"$qid paired with same-label $neg")
    }
    // ranks are 1..n and cosine is non-increasing within each query
    out.groupBy(_.getLong(0)).values.foreach { rs =>
      val sorted = rs.sortBy(_.getInt(3))
      assert(sorted.map(_.getInt(3)).toSeq == (1 to sorted.length))
      val cs = sorted.map(_.getDouble(2))
      assert(cs.zip(cs.tail).forall { case (a, b) => a >= b })
    }
  }

  test("annRecall equals the driver-side intersection of q28 and q42") {
    def pairs(df: org.apache.spark.sql.DataFrame) = df
      .select("qid", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairs(Similarity.q28SimilarityTopK(spark, sf))
    val approx = pairs(Similarity.q42AnnTopK(spark, sf))
    val expected = exact.groupBy(_._1).view
      .mapValues(g => g.count(approx.contains).toLong).toMap
    val got = Similarity.q105AnnRecall(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == expected)
    assert(got.values.forall(h => h >= 0L && h <= 5L))
  }

  test("fuzzyNearestNeighbor: value-level NN, blocking, singleton → NULL") {
    val df = Seq(
      (1L, "red apple"), (2L, "red apply"), (3L, "red banana"),
      (4L, "blue pear"), (5L, "red apple"))
      .toDF("id", "name")
    val got = Similarity.fuzzyNearestNeighbor(df, "id", "name")
      .collect().map { r => r.getLong(0) ->
        ((if (r.isNullAt(2)) null else r.getString(2),
          if (r.isNullAt(3)) None else Some(r.getLong(3)),
          if (r.isNullAt(4)) None else Some(r.getInt(4)))) }.toMap
    // apple ↔ apply at distance 1; rows 1 and 5 share a value and must get
    // the identical answer; the rep id for "red apple" is min(1, 5) = 1
    assert(got(1L) == (("red apply", Some(2L), Some(1))))
    assert(got(5L) == got(1L))
    assert(got(2L) == (("red apple", Some(1L), Some(1))))
    // banana's nearest is whichever of apple/apply wins (dist, name) order
    // — assert the tie-break contract rather than a hand-computed distance
    val (bn, bid, _) = got(3L)
    assert(bn == "red apple" && bid == Some(1L))
    // singleton block: no fabricated neighbor
    assert(got(4L) == ((null, None, None)))
  }

  test("fuzzyNearestNeighbor: high-cardinality input takes the unhinted " +
      "fallback with identical results") {
    // 120 distinct names (3 per block, dist-1 chains) — over the forced
    // maxBroadcastValues=16, so the final row↔answer join must take the
    // no-broadcast-hint branch; contract: byte-identical answers
    val df = (0 until 40).flatMap { b =>
      Seq((b * 3L + 1, s"blk$b aaa"), (b * 3L + 2, s"blk$b aab"),
        (b * 3L + 3, s"blk$b abb"))
    }.toDF("id", "name")
    def key(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getLong(3), r.getInt(4))).toSet
    val hinted = key(Similarity.fuzzyNearestNeighbor(df, "id", "name"))
    val fallback = key(
      Similarity.fuzzyNearestNeighbor(df, "id", "name",
        maxBroadcastValues = 16))
    assert(fallback == hinted)
    assert(fallback.size == 120)
  }

  test("record linkage: exact wins, fuzzy resolves residue, unmatchable → NULL") {
    // replicate q128's derivation on the real table, then check the three
    // regimes hold: %3==0 keys (corrupted) link fuzzy at distance 1 back
    // to THEIR OWN clean row; others link exact at distance 0
    val got = Similarity.q128RecordLinkage(spark, sf)
      .collect().map(r => r.getLong(0) -> ((
        if (r.isNullAt(2)) null else r.getString(2),
        if (r.isNullAt(3)) -1L else r.getLong(3),
        if (r.isNullAt(4)) -1 else r.getInt(4)))).toMap
    assert(got.nonEmpty)
    got.foreach { case (dId, (method, key, dist)) =>
      val orig = dId - 1000000L
      if (orig % 3 == 0)
        assert(method == "fuzzy" && key == orig && dist == 1,
          s"$dId: $method/$key/$dist")
      else
        assert(method == "exact" && key == orig && dist == 0,
          s"$dId: $method/$key/$dist")
    }
  }

  test("linkPredict scores neighbor overlap and drops hub keys") {
    // A and B share items 1,2 (plus singles); C touches only item 2.
    // Item 99 is a "bestseller" shared by everyone — with maxDeg=3 it must
    // be dropped BEFORE pair generation, both from pairs and from degrees.
    val rel = Seq(
      (10L, 1L), (10L, 2L), (10L, 3L), (10L, 99L),
      (20L, 1L), (20L, 2L), (20L, 4L), (20L, 99L),
      (30L, 2L), (30L, 99L),
      (40L, 99L), (50L, 99L)).toDF("user", "item")
    val got = Similarity.linkPredict(rel, "user", "item",
        maxDeg = 3, minCommon = 1, k = 10)
      .collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b")) ->
        ((r.getAs[Long]("common"), r.getAs[Double]("jaccard6"))))
      .toMap
    // capped degrees: 10→{1,2,3}, 20→{1,2,4}, 30→{2}; 40/50 vanish
    assert(got == Map(
      (10L, 20L) -> ((2L, 0.5)),      // 2 / (3+3-2)
      (10L, 30L) -> ((1L, 0.333333)), // 1 / (3+1-1)
      (20L, 30L) -> ((1L, 0.333333))))
  }

  test("featureNormalize: exact z for planted dims, NULL for degenerate") {
    // dim 0: values 1.0, 2.0, 3.0 → xq 1e6, 2e6, 3e6; mean 2e6,
    // var = (14/3 - 4)·10¹² = (2/3)·10¹² → z = ±1e6/sqrt((2/3)·10¹²), 0
    // dim 1: constant → zero variance → NULL
    val emb = Seq(
      (1L, Array(1.0f, 5.0f)),
      (2L, Array(2.0f, 5.0f)),
      (3L, Array(3.0f, 5.0f))).toDF("vec_id", "embedding")
    val got = Similarity.featureNormalize(emb, "vec_id", "embedding")
      .collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Int]("dim")) ->
        Option(r.get(2)).map(_.asInstanceOf[Double]))
      .toMap
    val n = 3.0
    val mean = 6.0e6 / n
    val variance = (1.0e12 + 4.0e12 + 9.0e12) / n - mean * mean
    def z(xq: Double) = (xq - mean) / math.sqrt(variance)
    assert(got((1L, 0)) == Some(z(1e6)))
    assert(got((2L, 0)) == Some(z(2e6)))
    assert(got((3L, 0)) == Some(z(3e6)))
    assert(got((1L, 1)).isEmpty && got((2L, 1)).isEmpty,
      "zero-variance dim must yield NULL, not ±inf")
  }

  test("int8Quantize: hand-computed codes, all-zero vector excluded") {
    val emb = Seq(
      (1L, Array(1.0f, -0.5f, 0.25f, 0.0f)),
      (2L, Array(0.0f, 0.0f, 0.0f, 0.0f)), // directionless: dropped
      (3L, Array(-2.0f, 1.0f, 0.5f, -1.0f))).toDF("vec_id", "embedding")
    val got = Similarity.int8Quantize(emb, "vec_id", "embedding")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5))).toSet
    // vec 1: ma=1, s=127 → codes [127, ⌊-63.5⌋=-64, ⌊31.75⌋=31, 0]
    // vec 3: ma=2, s=63.5 → codes [-127, 63, 31, ⌊-63.5⌋=-64]
    assert(got == Set(
      (1L, -64L, 127L, 94L, 16129L + 4096L + 961L, 127.0),
      (3L, -127L, 63L, -97L, 16129L + 3969L + 961L + 4096L, 63.5)))
  }

  test("rrfFuse: hand-computed fusion, union semantics, id tiebreak") {
    val lex = Seq((1L, 1), (2L, 2), (3L, 3)).toDF("doc_id", "rank")
    val vec = Seq((3L, 1), (4L, 2)).toDF("doc_id", "rank")
    val got = Similarity.rrfFuse(lex, vec, "doc_id").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Double]("rrf")))
    // id3 in both legs: 1/63 + 1/61; ids 2 and 4 tie at 1/62 → id order
    assert(got.map(_._1).toSeq == Seq(3L, 1L, 2L, 4L), s"got ${got.toSeq}")
    val s = got.toMap
    assert(s(3L) == 1.0 / 63.0 + 1.0 / 61.0)
    assert(s(1L) == 1.0 / 61.0 && s(2L) == 1.0 / 62.0 && s(4L) == 1.0 / 62.0)
  }

  test("q155: the persisted-index query is bit-identical to the in-memory PQ path") {
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).toSeq
    val roundtrip = canon(Similarity.q155IndexPersist(spark, sf))
    val inMemory = canon(Similarity.q100PqAdc(spark, sf))
    assert(roundtrip == inMemory)
    // the artifacts exist on disk: 2 codebooks + 2 code tables
    val path = graft.sources.Sink.scratchPath("graft_pq_index", sf)
    Seq("cent0", "cent1", "code0", "code1").foreach { a =>
      assert(new java.io.File(s"$path/$a/_SUCCESS").exists(), a)
    }
  }

  test("sorted neighborhood: window pairs, block-overlap pairs, window cutoff") {
    val recs = Seq(
      (1L, "aa"), (2L, "ab"), (3L, "ac"), (4L, "az"), // block 'a', sorted
      (5L, "ba"))                                     // block 'b'
      .toDF("id", "name")
    val got = Similarity.sortedNeighborhoodPairs(
        recs, "id", "name", k => substring(k, 1, 1), w = 3, maxDist = 9)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // within-window (w=3 → offsets 1..2): (1,2),(1,3),(2,3),(2,4),(3,4);
    // overlap: block-a tail {3,4} × block-b head {5}; (1,4) is 3 apart —
    // beyond the window — and must NOT appear even though lev('aa','az')
    // would pass the distance gate
    assert(got == Set((1L, 2L), (1L, 3L), (2L, 3L), (2L, 4L), (3L, 4L),
      (3L, 5L), (4L, 5L)), got.toString)
  }

  test("sorted neighborhood: catalog past maxCatalogBlocks raises, not " +
      "single-tasks") {
    val recs = Seq((1L, "aa"), (2L, "ab"), (3L, "ba"), (4L, "bb"))
      .toDF("id", "name")
    // the guard is a raise_error fused into the catalog row_number, so the
    // plan builds lazily and the failure fires on the first ACTION — with
    // the remediation text carried somewhere in the exception chain
    val df = Similarity.sortedNeighborhoodPairs(
      recs, "id", "name", k => substring(k, 1, 1), maxCatalogBlocks = 1)
    val e = intercept[Exception] { df.count() }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil
      else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e).exists(_.contains("distinct blocks")), e.toString)
  }

  test("cosineTopK and marginPairs build without a Spark job; an oversized " +
      "broadcast side fails at the action with the remediation") {
    // range sources: a local Seq folds into a LocalRelation, whose counts
    // the optimizer answers without a job
    val vecs = spark.range(3).select(col("id"),
      array(col("id").cast("double"), lit(1.0)).as("v"))
    val corpus = vecs.select(col("id").as("vec_id"), col("v"))
    val queries = vecs.select((col("id") + 10).as("qid"), col("v").as("qv"))
    val a = vecs.select(col("id").as("aid"), col("v").as("av"))
    val b = vecs.select((col("id") + 10).as("bid"), col("v").as("bv"))
    def jobs(body: => Unit): Int =
      org.apache.spark.sql.graft.SparkJobs.onThisThread(spark)(body)
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil
      else Option(t.getMessage).toSeq ++ messages(t.getCause)
    var top, margin: org.apache.spark.sql.DataFrame = null
    assert(jobs { top = Similarity.cosineTopK(corpus, queries, 2,
      maxQueryRows = 2) } == 0)
    assert(jobs { margin = Similarity.marginPairs(a, b, 2,
      maxSideRows = 2) } == 0)
    val e1 = intercept[Exception](top.collect())
    assert(messages(e1).exists(_.contains("cosineTopK broadcasts the query " +
      "side: more than 2 rows — use annCosineTopK for large query sets")),
      e1.toString)
    val e2 = intercept[Exception](margin.collect())
    assert(messages(e2).exists(_.contains("marginPairs broadcasts the B " +
      "side: more than 2 rows — swap candidate generation onto " +
      "annCosineTopK for large corpora")), e2.toString)
    // at the cap the guard lets the same sides through
    assert(Similarity.cosineTopK(corpus, queries, 2, maxQueryRows = 3)
      .count() == 6)
    assert(Similarity.marginPairs(a, b, 2, maxSideRows = 3).count() > 0)
  }

  test("marginPairs keeps standout pairs, drops neighborhood-average ones") {
    // a1=(1,0) matches b1 exactly; a2=diag matches b3=diag exactly; the
    // 45°-apart pairs score cos .707107 — above any absolute threshold a
    // mined set would use, but NOT above their neighborhoods' average, so
    // the margin rule must keep only the two exact matches
    val s = math.sqrt(0.5)
    val a = Seq((0L, Array(1.0, 0.0)), (2L, Array(s, s))).toDF("aid", "av")
    val b = Seq((1L, Array(1.0, 0.0)), (3L, Array(0.0, 1.0)),
      (5L, Array(s, s))).toDF("bid", "bv")
    val got = Similarity.marginPairs(a, b, k = 2)
      .collect()
      .map(r => (r.getAs[Long]("aid"), r.getAs[Long]("bid")) ->
        ((r.getAs[Double]("cos6"), r.getAs[Double]("margin6")))).toMap
    assert(got.keySet == Set((0L, 1L), (2L, 5L)), got.toString)
    assert(got.values.forall { case (c, m) => c == 1.0 && m > 1.17 && m < 1.18 },
      got.toString)
  }

  test("jlProject: 16 components, exact linearity on integer inputs") {
    // integer inputs → every dot is an exact ±1 sum, /4 and the 6-dp
    // round are exact, so projection must be EXACTLY linear
    val v1 = Array.fill(64)(1.0)
    val v2 = v1.map(_ * 2)
    val df = Seq((1L, v1), (2L, v2)).toDF("vec_id", "v")
    val got = Similarity.jlProject(df)
      .collect()
      .map(r => r.getAs[Long]("vec_id") ->
        r.getAs[scala.collection.Seq[Double]]("proj")).toMap
    assert(got(1L).size == 16, got(1L).toString)
    assert(got(2L) == got(1L).map(_ * 2), s"${got(1L)} vs ${got(2L)}")
    assert(got(1L).exists(_ != 0.0), "degenerate all-zero projection")
  }

  /** q207/q208 pin, small analog (4 clusters × 64): the ANN path and the
    * brute-force path must BOTH produce the closed form — on this corpus
    * family ANN ≡ exact because every query provably co-buckets with its
    * own cluster under any hyperplane draw (see q207Corpus scaladoc), so
    * any divergence is a routing/capping/ranking bug, not recall loss. */
  test("q207/q208 small analog: ANN and brute force both match closed form") {
    val clusters = 4
    val size = 64L
    val corpus = Similarity.q207Corpus(spark, clusters, size)
    val queries = Similarity.q207QueryVecs(spark, clusters)
    val expected = (for {
      c <- 0 until clusters
      r <- 1 to 8
    } yield {
      val x = (2 * size + 1 - r).toDouble
      val cos = BigDecimal(x / math.sqrt(x * x + (size * size).toDouble))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      (1000000000L + c, c * size + size - r, cos, r)
    }).toSet
    def tuples(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("qid"), r.getAs[Long]("vec_id"),
        r.getAs[Double]("cos"), r.getAs[Int]("rank"))).toSet
    val ann = tuples(Similarity.annCosineTopK(corpus, queries, 8,
      targetBucket = size, maxBucket = clusters * size, dim = 2 * clusters))
    val brute = tuples(Similarity.cosineTopK(corpus, queries, 8))
    assert(ann == expected, s"ann diff: ${(ann -- expected).take(3)} / ${(expected -- ann).take(3)}")
    assert(brute == expected, s"brute diff: ${(brute -- expected).take(3)} / ${(expected -- brute).take(3)}")
  }

  /** Full-scale pin for the q207/q208 gate rows: the synthesized corpus is
    * over the 1M mark (so the gate genuinely runs the operators at scale)
    * and planesDf resolves exactly 5 hyperplanes from it in-plan — the
    * value the closed-form oracle's bucket-stability argument was sized
    * against. Count is cheap: Catalyst prunes the vector construction. */
  test("q207 full corpus: 2^20 vectors, 5 hyperplanes derived in-plan") {
    assert(Similarity.q207Corpus(spark).count() == 1048576L)
    val p = Similarity.planesDf(
      Similarity.q207Corpus(spark), Similarity.q207ClusterSize)
      .head().getInt(0)
    assert(p == 5, s"derived planes $p")
  }

  test("q230 small analog: Lloyd recovers the planted clusters with the " +
      "seeds' own ids as labels") {
    // 4096 vectors, 8 planted clusters 1000 apart with jitter ≤ ±3; seeds
    // are ids 0..7 = one per cluster, so cluster label ≡ planted id % 8
    val got = Similarity.kMeans(Similarity.q230Frame(spark, 4096L),
        "vec_id", "embedding", Similarity.kMeansK, Similarity.kMeansIters)
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    assert(got.length == 4096)
    got.foreach { case (id, cluster) =>
      assert(cluster == id % 8, s"vec $id landed in $cluster")
    }
  }

  test("q230/q235/q257 synthetic corpora are at the claimed scale") {
    assert(Similarity.q230Frame(spark).count() == 1048576L)
    assert(Similarity.q235Clean(spark).count() == 1048576L)
    assert(Similarity.q257Frame(spark).count() == 1048576L)
  }

  test("q257 small analog: ADC top-10 is the ten lowest ids of the " +
      "query's own code pair, codebooks labeled by their seeds") {
    // 4096 vectors, 4 planted clusters per subspace; the query is id 0
    // (cluster 0 in both subspaces, seeds are ids 0..3), ADC distance is
    // a pure function of the code pair, so the top-10 must be ids
    // 0, 4, 8, …, 36 — all coded (0, 0)
    val rows = Similarity.pqAdcTopK(Similarity.q257Frame(spark, 4096L),
        "vec_id", "embedding", Seq((1, 2), (3, 2)),
        Similarity.pqK, Similarity.pqIters, Similarity.pqTopK)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rows.map(_._1).toSeq == (0L to 36L by 4L).toSeq,
      rows.mkString(", "))
    rows.foreach { case (id, c0, c1) =>
      assert(c0 == 0L && c1 == 0L, s"vec $id coded ($c0, $c1)")
    }
  }

  test("kMeansIvf two-level assignment, hand-checked: coarse split, " +
      "per-cell lowest-id seeds, per-cell Lloyd means") {
    // two coarse groups 1000 apart on x, two fine clusters 10 apart inside
    // each; ids laid out so the two lowest ids (coarse seeds) land one per
    // group, and each cell's two lowest ids (fine seeds) land one per fine
    // cluster. k=4 → kc=2, kf=2.
    //   cell A: {0,4}→(0|0.5, 1), {2,5}→(10|10.5, 1)
    //   cell B: {1,6}→(1000|1000.5, 1), {3,7}→(1010|1010.5, 1)
    // After one fine round the centroids are the pair means (x±0.25), so
    // every point's d2 is 0.25² = 0.0625.
    val vecs = Seq(
      (0L, Seq(0.0, 1.0)), (1L, Seq(1000.0, 1.0)),
      (2L, Seq(10.0, 1.0)), (3L, Seq(1010.0, 1.0)),
      (4L, Seq(0.5, 1.0)), (5L, Seq(10.5, 1.0)),
      (6L, Seq(1000.5, 1.0)), (7L, Seq(1010.5, 1.0)))
      .toDF("vec_id", "embedding")
    val got = Similarity.kMeansIvf(vecs, "vec_id", "embedding",
        k = 4, iters = 1)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3))))
      .toMap
    val exp = Map(
      0L -> ((0L, 0L, 0.0625)), 4L -> ((0L, 0L, 0.0625)),
      2L -> ((2L, 0L, 0.0625)), 5L -> ((2L, 0L, 0.0625)),
      1L -> ((1L, 1L, 0.0625)), 6L -> ((1L, 1L, 0.0625)),
      3L -> ((3L, 1L, 0.0625)), 7L -> ((3L, 1L, 0.0625)))
    assert(got == exp, got.toSeq.sortBy(_._1).mkString(", "))
  }

  test("semanticDedupIvf prunes the q74 planted twins, keeping one " +
      "member each — the IVF routing changes cost, not the keep rule") {
    // same corpus + assertions as the flat-argmin q74 test: twins (+0.02
    // elementwise, cos ≈ 0.987) are near-coincident, so both route to the
    // same coarse cell and the same fine centroid; background pairs top
    // out near 0.51 and can never cross the 0.9 threshold
    val out = Similarity.semanticDedupIvf(
        Similarity.nearDupCorpus(spark, sf).select(col("vec_id"), col("v")),
        "vec_id", "v", Similarity.kMeansK, Similarity.kMeansIters,
        threshold = 0.9)
      .collect()
    assert(out.length == 550)
    val kept = out.filter(_.getBoolean(2)).map(_.getLong(0)).toSet
    val dropped = out.filterNot(_.getBoolean(2)).map(_.getLong(0)).toSet
    assert(dropped.nonEmpty, "no twin was pruned")
    assert(dropped.forall(id => id < 50 || id >= 100000))
    dropped.foreach { id =>
      val twin = if (id >= 100000) id - 100000 else id + 100000
      assert(kept.contains(twin), s"dropped $id but twin $twin also gone")
    }
  }

  test("kMeansIvf fine assignment meets the corpus as a broadcast " +
      "equi-join on the cell id — never a sort-merge on ccell") {
    // the Lloyd subtrees hide behind persists (the q230 exemption from
    // PlanShapeSpec), but the OUTER join — corpus × fine centroids — is
    // the N·√k contract and stays visible in the executed plan
    val p = Similarity.kMeansIvf(Similarity.q272Frame(spark, 16384L),
        "vec_id", "embedding", k = 64, iters = 1)
      .queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin [ccell"),
      "fine assignment lost its broadcast equi-join: " + p.take(800))
    assert(!p.contains("SortMergeJoin [ccell"), p.take(800))
  }

  test("q272/q273 synthetic corpora are at the claimed scale") {
    assert(Similarity.q272Frame(spark).count() == 1048576L)
    assert(Similarity.q273Frame(spark).count() == 262144L)
  }

  test("q273 variant axis: cross-variant cosine sits under 0.9, " +
      "same-class same-variant sits at ~1 — the threshold discriminates") {
    // the at-scale gate's accept/reject claim, verified directly on the
    // generator: class (v0, v1) shared, v3 jitter equal → only v2 differs
    val f = Similarity.q273Frame(spark, 16384L)
    val cs = f.as("a").join(f.as("b"),
        col("a.vec_id") % 4096 === col("b.vec_id") % 4096 &&
          col("a.vec_id") < col("b.vec_id"))
      .select(
        (((col("a.vec_id") / 4096).cast("long") % 2) =!=
          ((col("b.vec_id") / 4096).cast("long") % 2)).as("cross"),
        round(Similarity.cosine(
          Similarity.vecAsDouble(col("a.embedding")),
          Similarity.vecAsDouble(col("b.embedding"))), 6).as("cos"))
      .collect().map(r => r.getBoolean(0) -> r.getDouble(1))
    assert(cs.nonEmpty)
    val (cross, same) = cs.partition(_._1)
    assert(cross.nonEmpty && same.nonEmpty)
    cross.foreach { case (_, c) => assert(c < 0.9, s"cross-variant cos $c") }
    assert(same.exists(_._2 >= 0.9), "no same-variant pair above threshold")
  }

  test("q235 small analog: exact stage resolves originals; corrupted " +
      "names resolve at distance 1 through the blocked fuzzy stage") {
    val clean = Similarity.q235Clean(spark, 4096L)
    val rows = Similarity.linkRecords(clean, Similarity.q235Dirty(clean))
      .collect().map(r => (r.getLong(0), r.getString(2),
        r.getLong(3), r.getInt(4)))
    assert(rows.length == 4096)
    val (fuzzy, exact) = rows.partition(_._2 == "fuzzy")
    // every 256th key is corrupted (length 7 vs 8 — can never exact-match)
    assert(fuzzy.length == 16 && exact.length == 4080)
    exact.foreach { case (dId, _, matched, dist) =>
      assert(matched == dId - 10000000L && dist == 0, s"exact row $dId")
    }
    fuzzy.foreach { case (dId, _, matched, dist) =>
      // the original is always a distance-1 candidate; same-block decoys
      // are possible but can never beat distance 1, so dist is pinned
      // even where the (dist, key) tie-break picks a smaller-key decoy
      assert(dist == 1, s"fuzzy row $dId resolved at distance $dist")
      assert(matched % 1000 == dId % 1000,
        s"fuzzy row $dId matched outside its last-3-digit block: $matched")
    }
  }

  test("kMeansIvf nprobe: candidate supersets make d2 pointwise " +
      "monotone, and nprobe=2 recovers boundary points nprobe=1 loses") {
    // pseudo-random 1-D corpus (constant second dim, q272 style): 4096
    // points hash-scattered over [0, 1000), k = 64 -> kc = 8 coarse
    // cells, kf = 8 fine centroids per cell. Coarse boundaries fall
    // between hash clusters, so some points' nearest FINE centroid lives
    // in the neighboring coarse cell -- the routing error nprobe exists
    // to halve. nprobe = kc probes EVERY cell, i.e. exhaustive argmin
    // over the identical fine codebook (training is nprobe-independent),
    // which makes it the routing-error-free reference for the SAME
    // centroids -- flat kMeans would confound training differences.
    val vecs = spark.range(4096).select(col("id").as("vec_id"),
      array((pmod(xxhash64(col("id")), lit(1000000L)).cast("double") /
        lit(1000.0)), lit(1.0)).as("embedding"))
    def d2s(nprobe: Int): Map[Long, Double] =
      Similarity.kMeansIvf(vecs, "vec_id", "embedding", k = 64, iters = 1,
          nprobe = nprobe)
        .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    val d1 = d2s(1); val d2 = d2s(2); val dAll = d2s(8)
    assert(d1.keySet == d2.keySet && d2.keySet == dAll.keySet)
    d1.keys.foreach { id =>
      assert(d2(id) <= d1(id) + 1e-6, s"vec $id worsened at nprobe=2")
      assert(dAll(id) <= d2(id) + 1e-6, s"vec $id worse than exhaustive")
    }
    // the corpus genuinely exercises the boundary: nprobe=1 leaves some
    // points in a worse fine cell, nprobe=2 strictly improves them...
    val improved = d1.keys.count(id => d2(id) < d1(id) - 1e-6)
    assert(improved > 0, "no boundary point improved -- corpus too easy")
    // ...and nprobe=2 agrees with the exhaustive assignment on strictly
    // more points than nprobe=1 (the halved-boundary-error claim)
    def optimal(d: Map[Long, Double]): Int =
      d.count { case (id, v) => v <= dAll(id) + 1e-6 }
    assert(optimal(d2) > optimal(d1),
      s"nprobe=2 optimal ${optimal(d2)} vs nprobe=1 ${optimal(d1)}")
  }

  test("kMeansIvf nprobe=2 on the hand-checked corpus is an identity: " +
      "points whose primary fine centroid is globally best never move") {
    // the 8-point two-level corpus from the hand-checked test: every
    // point's own-cell fine centroid is also its global best (cells are
    // 1000 apart), so probing the second coarse cell must change NOTHING
    // -- assignment, cell label, and d2 all identical. This pins the
    // no-regression side of the nprobe contract (the strict-improvement
    // side lives in the hash-scattered test above, where coarse
    // boundaries cut through clusters); it would catch, e.g., a
    // tie-break drift or a duplicate-candidate bug in the probed union.
    val vecs = Seq(
      (0L, Seq(0.0, 1.0)), (1L, Seq(1000.0, 1.0)),
      (2L, Seq(10.0, 1.0)), (3L, Seq(1010.0, 1.0)),
      (4L, Seq(0.5, 1.0)), (5L, Seq(10.5, 1.0)),
      (6L, Seq(1000.5, 1.0)), (7L, Seq(1010.5, 1.0)))
      .toDF("vec_id", "embedding")
    def at(nprobe: Int): Map[Long, (Long, Long, Double)] =
      Similarity.kMeansIvf(vecs, "vec_id", "embedding", k = 4, iters = 1,
          nprobe = nprobe)
        .collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3))))
        .toMap
    // nprobe=1 reproduces the hand-checked nprobe-free assignment exactly
    val exp1 = Map(
      0L -> ((0L, 0L, 0.0625)), 4L -> ((0L, 0L, 0.0625)),
      2L -> ((2L, 0L, 0.0625)), 5L -> ((2L, 0L, 0.0625)),
      1L -> ((1L, 1L, 0.0625)), 6L -> ((1L, 1L, 0.0625)),
      3L -> ((3L, 1L, 0.0625)), 7L -> ((3L, 1L, 0.0625)))
    assert(at(1) == exp1, at(1).toSeq.sortBy(_._1).mkString(", "))
    // nprobe=2 probes both coarse cells; every point's primary fine
    // centroid is already its global best here, so nothing may move
    assert(at(2) == exp1, at(2).toSeq.sortBy(_._1).mkString(", "))
  }

  test("semanticDedup auto-routing: flat argmin below the crossover k, " +
      "two-level IVF at/above it, explicit routing pins either path") {
    // plan-shape check only (the paths' semantics are gated by q74 and
    // q273): the IVF assignment is the only stage that joins on `ccell`,
    // so its broadcast equi-join marks the route taken
    val corpus = spark.range(64).select(col("id").as("vec_id"),
      array((col("id") % 8).cast("double") * 100.0, lit(1.0)).as("embedding"))
    def plan(k: Int, routing: String): String =
      ext.Similarity.semanticDedup(corpus, "vec_id", "embedding", k,
          iters = 1, threshold = 0.9, routing = routing)
        .queryExecution.executedPlan.toString
    val below = ext.Similarity.semanticDedupIvfK - 1
    val at = ext.Similarity.semanticDedupIvfK
    assert(!plan(below, "auto").contains("ccell"),
      "auto routed IVF below the crossover")
    assert(plan(at, "auto").contains("BroadcastHashJoin [ccell"),
      "auto kept the flat argmin at the crossover k")
    assert(!plan(at, "flat").contains("ccell"),
      "routing=flat did not pin the flat argmin above the crossover")
    assert(plan(below, "ivf").contains("BroadcastHashJoin [ccell"),
      "routing=ivf did not pin IVF")
    intercept[IllegalArgumentException] {
      ext.Similarity.semanticDedup(corpus, "vec_id", "embedding", 8,
        iters = 1, threshold = 0.9, routing = "bogus")
    }
  }
}
