package graft

import java.sql.Timestamp
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.ops.Joins
import graft.streaming.Streams
import graft.ext.Dedup
import graft.graph.Algorithms

/** Randomized properties (SURVEY §5): deterministic ScalaCheck generators
  * (fixed seeds, reproducible) against naive Scala reference
  * implementations. These target the operators whose correctness rests on
  * a non-obvious argument — the AllPairs prefix bound, as-of tie rules,
  * session-gap folding, BSP convergence — where example tests can miss a
  * boundary the generator will hit. */
class GraftPropertiesSpec extends GraftSuite {
  import spark.implicits._

  private def sample[A](g: Gen[A], seed: Long): A =
    g.apply(Gen.Parameters.default, Seed(seed)).get

  private def round6(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  test("property: asOfJoin matches the naive per-row latest-preceding rule") {
    val gen = for {
      nl <- Gen.choose(5, 30)
      nr <- Gen.choose(0, 30)
      lefts <- Gen.listOfN(nl,
        Gen.zip(Gen.choose(1L, 5L), Gen.choose(0L, 200L)))
      rights <- Gen.listOfN(nr,
        Gen.zip(Gen.choose(1L, 5L), Gen.choose(0L, 200L), Gen.choose(0, 99)))
    } yield (lefts, rights)
    (1L to 6L).foreach { s =>
      val (l0, r0) = sample(gen, s)
      // the small ts range forces equal-ts collisions, exercising tie rules
      val lefts = l0.zipWithIndex.map { case ((k, t), i) => (i.toLong, k, t) }
      val rights = r0.zipWithIndex.map { case ((k, t, v), i) =>
        (1000L + i, k, t, v.toDouble) }
      val got = Joins.asOfJoin(
          lefts.toDF("event_id", "key", "ts"),
          rights.toDF("event_id", "key", "ts", "value"),
          key = "key", ts = "ts", tieBreak = "event_id",
          rightPayload = Seq("value"))
        .select("event_id", "asof_value").collect()
        .map(r => r.getLong(0) ->
          (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
      val expected = lefts.map { case (id, k, t) =>
        val c = rights.filter(r => r._2 == k && r._3 <= t)
        id -> (if (c.isEmpty) None else Some(c.maxBy(r => (r._3, r._1))._4))
      }.toMap
      assert(got == expected, s"seed $s")
    }
  }

  test("property: sessionizeBatch matches a naive gap fold") {
    val gapMin = 30
    val gapUs = gapMin * 60L * 1000000L
    val gen = Gen.listOfN(40,
      Gen.zip(Gen.choose(1L, 4L), Gen.choose(0L, 4L * 3600)))
    (1L to 6L).foreach { s =>
      val evs = sample(gen, s).zipWithIndex.map { case ((u, sec), i) =>
        (i.toLong, u, new Timestamp(sec * 1000L)) }
      val got = Streams.sessionizeBatch(
          evs.toDF("event_id", "user_id", "ts"), gapMin)
        .select("user_id", "session_start_us", "n_events", "duration_us")
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3))).toSet
      val expected = evs.groupBy(_._2).flatMap { case (u, es) =>
        val ts = es.map(e => e._3.getTime * 1000L).sorted
        ts.tail.foldLeft(List(List(ts.head))) { (acc, t) =>
          if (t - acc.head.head <= gapUs) (t :: acc.head) :: acc.tail
          else List(t) :: acc
        }.map(sess => (u, sess.min, sess.size, sess.max - sess.min))
      }.toSet
      assert(got == expected, s"seed $s")
    }
  }

  test("property: prefix-filtered jaccard equals brute force over all pairs") {
    // tiny vocabulary forces heavy shingle collisions, so the prefix filter
    // actually prunes; threshold varies so the prefix length does too
    val vocab = Vector("w0", "w1", "w2", "w3", "w4", "w5")
    val gen = for {
      nd <- Gen.choose(8, 20)
      docs <- Gen.listOfN(nd, Gen.choose(0, 10).flatMap(len =>
        Gen.listOfN(len, Gen.oneOf(vocab)).map(_.mkString(" "))))
    } yield docs
    def shingleSet(text: String): Set[String] = {
      val toks = text.toLowerCase.split("\\s+").filter(_.nonEmpty).toSeq
      if (toks.length >= 3) toks.sliding(3).map(_.mkString(" ")).toSet
      else Set(toks.mkString(" "))
    }
    // MinHash-LSH shares the exact verify: whatever its banding admits must
    // carry the brute-force inter / n_a / n_b / jaccard, so its rows are a
    // subset of the brute-force set (LSH may miss pairs, never invent one)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("id_a", "id_b", "inter", "n_a", "n_b", "jaccard").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getInt(3),
          r.getInt(4), r.getDouble(5))).toSet
    var minHashRows = 0
    for (s <- 1L to 4L; t <- Seq(0.5, 0.8)) {
      val docs = sample(gen, s).zipWithIndex.map { case (txt, i) => (i.toLong, txt) }
      val got = Dedup.ngramJaccardPairs(
          docs.toDF("doc_id", "text"), "doc_id", "text", 3, t)
        .select("id_a", "id_b", "inter").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      val full = (for {
        (a, ta) <- docs; (b, tb) <- docs if a < b
        sa = shingleSet(ta); sb = shingleSet(tb)
        inter = (sa & sb).size
        jaccard = round6(inter.toDouble / (sa.size + sb.size - inter))
        if jaccard >= t
      } yield (a, b, inter, sa.size, sb.size, jaccard)).toSet
      val expected = full.map { case (a, b, inter, _, _, _) => (a, b, inter) }
      assert(got == expected, s"seed $s threshold $t")
      val lsh = rows(Dedup.nearDupMinHash(
        docs.toDF("doc_id", "text"), "doc_id", "text", threshold = t))
      assert(lsh.subsetOf(full), s"seed $s threshold $t: ${lsh -- full}")
      minHashRows += lsh.size
    }
    assert(minHashRows > 0, "MinHash found no pair on any seed — vacuous")
  }

  test("property: containmentPairs equals brute force, capped and uncapped") {
    // same collision-heavy vocabulary as the jaccard property; the capped
    // pass recomputes the brute force over the df-filtered shingle
    // UNIVERSE — the exact semantics the maxPostings scaladoc promises
    val vocab = Vector("w0", "w1", "w2", "w3", "w4", "w5")
    val gen = for {
      nd <- Gen.choose(8, 16)
      docs <- Gen.listOfN(nd, Gen.choose(0, 10).flatMap(len =>
        Gen.listOfN(len, Gen.oneOf(vocab)).map(_.mkString(" "))))
    } yield docs
    def shingleSet(text: String): Set[String] = {
      val toks = text.toLowerCase.split("\\s+").filter(_.nonEmpty).toSeq
      if (toks.length >= 3) toks.sliding(3).map(_.mkString(" ")).toSet
      else Set(toks.mkString(" "))
    }
    for (s <- 11L to 13L; cap <- Seq(Int.MaxValue, 3)) {
      val docs = sample(gen, s).zipWithIndex.map { case (txt, i) => (i.toLong, txt) }
      val t = 0.5
      val got = Dedup.containmentPairs(
          docs.toDF("doc_id", "text"), "doc_id", "text", 3, t, cap)
        .select("id_a", "id_b", "inter").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      // brute force over the df-capped universe (cap = MaxValue → full)
      val raw = docs.map { case (i, txt) => i -> shingleSet(txt) }
      val df = raw.flatMap(_._2).groupBy(identity).view.mapValues(_.size)
      val sets = raw.map { case (i, sh) =>
        i -> sh.filter(g => df(g) <= cap) }.toMap
      val expected = (for {
        (a, sa) <- sets.toSeq; (b, sb) <- sets.toSeq
        if a != b && sa.nonEmpty
        inter = (sa & sb).size
        if round6(inter.toDouble / sa.size) >= t
      } yield (a, b, inter)).toSet
      assert(got == expected, s"seed $s cap $cap")
    }
  }

  test("property: weightedNgramJaccardPairs equals brute-force multiset " +
      "Jaccard") {
    // each document repeats one of two short templates 1–4 times plus a
    // tail of at most one word: 3-shingles repeat inside a document, so
    // the bag counts, not only the distinct sets, decide the ratios (T×2
    // against T×3 is 0.6, not 1.0), and documents built from one template
    // land on both sides of the threshold (T×1 against T×2 is 0.33)
    val vocab = Vector("w0", "w1", "w2", "w3", "w4")
    val doc = (templates: Seq[Seq[String]]) => for {
      tpl <- Gen.oneOf(templates)
      reps <- Gen.choose(1, 4)
      tail <- Gen.choose(0, 1).flatMap(Gen.listOfN(_, Gen.oneOf(vocab)))
    } yield (Seq.fill(reps)(tpl).flatten ++ tail).mkString(" ")
    val gen = for {
      templates <- Gen.listOfN(2, Gen.listOfN(4, Gen.oneOf(vocab)))
      nd <- Gen.choose(8, 12)
      docs <- Gen.listOfN(nd, doc(templates))
    } yield docs
    def bag(text: String): Map[String, Int] = {
      val toks = text.toLowerCase.split("\\s+").filter(_.nonEmpty).toSeq
      val sh =
        if (toks.length >= 3) toks.sliding(3).map(_.mkString(" ")).toSeq
        else Seq(toks.mkString(" "))
      sh.groupBy(identity).view.mapValues(_.size).toMap
    }
    val t = 0.5
    var rows, bagOnly = 0
    for (s <- 1L to 3L) {
      val docs = sample(gen, s).zipWithIndex.map { case (txt, i) => (i.toLong, txt) }
      val got = Dedup.weightedNgramJaccardPairs(
          docs.toDF("doc_id", "text"), "doc_id", "text", 3, t)
        .select("id_a", "id_b", "inter", "n_a", "n_b", "wjaccard6").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4), r.getDouble(5))).toSet
      val expected = (for {
        (a, ta) <- docs; (b, tb) <- docs if a < b
        ba = bag(ta); bb = bag(tb)
        inter = ba.keySet.intersect(bb.keySet).toSeq
          .map(g => math.min(ba(g), bb(g))).sum.toLong
        na = ba.values.sum.toLong; nb = bb.values.sum.toLong
        // Σmin / Σmax, with Σmax = n_a + n_b − Σmin
        wj = (BigDecimal(inter) / BigDecimal(na + nb - inter))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
        if wj >= t
      } yield (a, b, inter, na, nb, wj)).toSet
      assert(got == expected, s"seed $s")
      rows += got.size
      // pairs whose set Jaccard differs: the multiplicities mattered
      bagOnly += expected.count { case (a, b, _, _, _, wj) =>
        val (sa, sb) = (bag(docs(a.toInt)._2).keySet, bag(docs(b.toInt)._2).keySet)
        wj != (BigDecimal((sa & sb).size) / BigDecimal((sa | sb).size))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      }
    }
    assert(rows > 0, "no pair reached the threshold on any seed — vacuous")
    assert(bagOnly > 0, "no pair where the bag counts change the ratio")
  }

  test("property: trustRank seeded with EVERY vertex degenerates to pageRank") {
    // with S = V the teleport vector is uniform 1/N — TrustRank's update
    // rule becomes PageRank's exactly; the two code paths build the
    // constant differently ((1-d)*s_i vs (1-d)/N), so compare at 1e-12
    val gen = for {
      n <- Gen.choose(4, 10)
      ne <- Gen.choose(3, 20)
      es <- Gen.listOfN(ne, Gen.zip(Gen.choose(0, n - 1), Gen.choose(0, n - 1)))
    } yield (n, es)
    (1L to 3L).foreach { s =>
      val (n, es) = sample(gen, s)
      val vertices = (0 until n).map(_.toLong).toDF("id")
      val edges = es.map { case (a, b) => (a.toLong, b.toLong) }
        .toDF("src", "dst")
      val pr = Algorithms.pageRank(vertices, edges, iters = 8)
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      val tr = Algorithms.trustRank(vertices, edges, vertices, iters = 8)
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      assert(pr.keySet == tr.keySet, s"seed $s")
      pr.foreach { case (id, v) =>
        assert(math.abs(v - tr(id)) < 1e-12, s"seed $s vertex $id: $v vs ${tr(id)}")
      }
    }
  }

  test("property: ccAlternating equals union-find AND the Pregel CC on random graphs") {
    val gen = for {
      n <- Gen.choose(3, 14)
      ne <- Gen.choose(0, 16)
      es <- Gen.listOfN(ne, Gen.zip(Gen.choose(0, n - 1), Gen.choose(0, n - 1)))
    } yield (n, es)
    (1L to 5L).foreach { s =>
      val (n, es) = sample(gen, s)
      val vertices = (0 until n).map(_.toLong).toDF("id")
      val edges = es.map { case (a, b) => (a.toLong, b.toLong) }
        .toDF("src", "dst")
      val got = Algorithms.ccAlternating(vertices, edges)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val parent = Array.tabulate(n)(identity)
      def find(x: Int): Int =
        if (parent(x) == x) x else { parent(x) = find(parent(x)); parent(x) }
      es.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val roots = (0 until n).map(find)
      val minOf = (0 until n).groupBy(roots).map { case (r, m) => r -> m.min }
      val expected = (0 until n).map(i => i.toLong -> minOf(roots(i)).toLong).toMap
      assert(got == expected, s"seed $s")
      // and the two distributed paradigms agree with each other
      val pregel = Algorithms.connectedComponents(vertices,
          edges.union(edges.select(col("dst").as("src"), col("src").as("dst")))
            .union(vertices.select(col("id").as("src"), col("id").as("dst"))))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == pregel, s"paradigm disagreement, seed $s")
    }
  }

  test("property: stronglyConnectedComponents equals the closure definition") {
    // fixed case first: trim (vertex 0 has no in-edge), multi-round
    // settling (cycle {1,2,3} feeds its smaller fwd-label into {4,5})
    val fixedV = (0L to 5L).toDF("id")
    val fixedE = Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L),
      (4L, 5L), (5L, 4L)).toDF("src", "dst")
    val fixed = Algorithms.stronglyConnectedComponents(fixedV, fixedE,
        maxRounds = 10, propIter = 12)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fixed == Map(0L -> 0L, 1L -> 1L, 2L -> 1L, 3L -> 1L,
      4L -> 4L, 5L -> 4L), s"fixed case: $fixed")

    val gen = for {
      n <- Gen.choose(3, 10)
      ne <- Gen.choose(0, 18)
      es <- Gen.listOfN(ne, Gen.zip(Gen.choose(0, n - 1), Gen.choose(0, n - 1)))
    } yield (n, es)
    (1L to 3L).foreach { s =>
      val (n, es) = sample(gen, s)
      val vertices = (0 until n).map(_.toLong).toDF("id")
      val edges = es.map { case (a, b) => (a.toLong, b.toLong) }
        .toDF("src", "dst")
      val got = Algorithms.stronglyConnectedComponents(vertices, edges,
          maxRounds = 15, propIter = 12)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      // Floyd–Warshall closure; scc_id = min mutually-reachable vertex
      val reach = Array.fill(n, n)(false)
      (0 until n).foreach(i => reach(i)(i) = true)
      es.foreach { case (a, b) => reach(a)(b) = true }
      for (k <- 0 until n; i <- 0 until n; j <- 0 until n)
        if (reach(i)(k) && reach(k)(j)) reach(i)(j) = true
      val expected = (0 until n).map { v =>
        v.toLong ->
          (0 until n).filter(w => reach(v)(w) && reach(w)(v)).min.toLong
      }.toMap
      assert(got == expected, s"seed $s")
    }
  }

  test("property: connectedComponents equals union-find on random graphs") {
    val gen = for {
      n <- Gen.choose(3, 12)
      ne <- Gen.choose(0, 12)
      es <- Gen.listOfN(ne, Gen.zip(Gen.choose(0, n - 1), Gen.choose(0, n - 1)))
    } yield (n, es)
    (1L to 5L).foreach { s =>
      val (n, es) = sample(gen, s)
      val vertices = (0 until n).map(_.toLong).toDF("id")
      // self-loops keep the frame non-empty and never change components
      val edges = ((0 until n).map(i => (i.toLong, i.toLong)) ++
        es.flatMap { case (a, b) =>
          Seq((a.toLong, b.toLong), (b.toLong, a.toLong)) }).toDF("src", "dst")
      val got = Algorithms.connectedComponents(vertices, edges)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val parent = Array.tabulate(n)(identity)
      def find(x: Int): Int =
        if (parent(x) == x) x else { parent(x) = find(parent(x)); parent(x) }
      es.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val roots = (0 until n).map(find)
      val minOf = (0 until n).groupBy(roots).map { case (r, m) => r -> m.min }
      val expected = (0 until n).map(i => i.toLong -> minOf(roots(i)).toLong).toMap
      assert(got == expected, s"seed $s")
    }
  }

  test("property: maxValuePropagation reaches the global max on any ring") {
    val gen = for {
      n <- Gen.choose(4, 8)
      vals <- Gen.listOfN(n, Gen.choose(-1000L, 1000L))
      chords <- Gen.listOfN(3, Gen.zip(Gen.choose(0, n - 1), Gen.choose(0, n - 1)))
    } yield (n, vals, chords)
    (1L to 3L).foreach { s =>
      val (n, vals, chords) = sample(gen, s)
      val vertices = vals.zipWithIndex
        .map { case (v, i) => (i.toLong, v) }.toDF("id", "value")
      val ring = (0 until n).map(i => (i.toLong, ((i + 1) % n).toLong))
      val edges = (ring ++ chords.map { case (a, b) => (a.toLong, b.toLong) })
        .toDF("src", "dst")
      val result = Algorithms.maxValuePropagation(vertices, edges, maxIter = n + 2)
      val got = result.vertices.select("value").as[Long].collect().toSet
      assert(got == Set(vals.max), s"seed $s: $got != ${vals.max}")
    }
  }

  test("property: blocked Pregel equals superstep-at-a-time on random graphs") {
    // blockSize composes supersteps into one plan; for monotone programs
    // the final state must be identical to blockSize=1 (the overshoot past
    // convergence is a fixed point). Random graphs + values across seeds.
    import graft.graph.Pregel
    val gen = for {
      n <- Gen.choose(3, 12)
      vals <- Gen.listOfN(n, Gen.choose(0L, 1000L))
      extra <- Gen.listOfN(4, Gen.zip(Gen.choose(0, n - 1), Gen.choose(0, n - 1)))
    } yield (n, vals, extra)
    (1L to 3L).foreach { s =>
      val (n, vals, extra) = sample(gen, s)
      val vertices = vals.zipWithIndex
        .map { case (v, i) => (i.toLong, v) }.toDF("id", "value")
      val edges = ((0 until n).map(i => (i.toLong, ((i + 1) % n).toLong)) ++
        extra.map { case (a, b) => (a.toLong, b.toLong) }).toDF("src", "dst")
      def run(bs: Int) = Pregel.run(
          vertices, edges, maxIter = 40,
          sendMsg = col("value"),
          mergeMsg = max,
          vprog = (df, _) => df.select(
            col("id"),
            greatest(col("value"), coalesce(col("msg"), col("value"))).as("value"),
            coalesce(col("msg") <= col("value"), lit(true)).as("halt")),
          blockSize = bs)
        .vertices.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(run(1) == run(3), s"seed $s: blocked != unblocked")
    }
  }

  test("property: saltedJoin equals the plain equi-join on skewed keys") {
    val gen = for {
      nl <- Gen.choose(20, 120)
      nr <- Gen.choose(1, 20)
      // 70% of probe rows pile onto key 1 — the skew the salt must spread
      lefts <- Gen.listOfN(nl, Gen.frequency(
        7 -> Gen.const(1L), 3 -> Gen.choose(2L, 6L)))
      rights <- Gen.listOfN(nr, Gen.zip(Gen.choose(1L, 6L), Gen.choose(0, 99)))
    } yield (lefts, rights)
    (1L to 4L).foreach { s =>
      val (l0, r0) = sample(gen, s)
      val left = l0.zipWithIndex.map { case (k, i) => (i.toLong, k) }
        .toDF("row_id", "key")
      val right = r0.map { case (k, v) => (k, v) }.toDF("key", "payload")
      val salted = Joins.saltedJoin(left, right, "key",
          saltSrc = col("row_id"), salts = 4)
        .select("row_id", "key", "payload")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).sorted.toSeq
      val plain = left.join(right, "key")
        .select("row_id", "key", "payload")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).sorted.toSeq
      assert(salted == plain, s"seed $s")
    }
  }

  test("property: ratio6 equals BigDecimal HALF_UP rounding on random ratios") {
    // the integer-exact round must agree with the decimal definition of
    // round(p/q, 6) for arbitrary non-negative p and positive q — this is
    // the contract the DuckDB mirror relies on
    val gen = Gen.listOfN(40,
      Gen.zip(Gen.choose(0L, 2000000L), Gen.choose(1L, 300000L)))
    (1L to 3L).foreach { s =>
      val pairs = sample(gen, s)
      val got = pairs.toDF("p", "q")
        .select(graft.ops.Relational.ratio6("p", "q").as("r"))
        .collect().map(_.getDouble(0)).toSeq
      val want = pairs.map { case (p, q) =>
        (BigDecimal(p) / BigDecimal(q))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      }
      assert(got == want, s"seed $s")
    }
  }

  test("ratio6 raises in-plan on a negative numerator instead of diverging") {
    // Spark `div` truncates toward zero, DuckDB `//` floors — a negative p
    // would silently disagree between engines, so the guard must be loud.
    // Every registered call site passes a count/size (provably >= 0).
    val e = intercept[Exception] {
      Seq((-1L, 10L)).toDF("p", "q")
        .select(graft.ops.Relational.ratio6("p", "q").as("r")).collect()
    }
    assert(e.getMessage.contains("ratio6"), e.getMessage)
  }

  test("property: decRatio6 equals BigDecimal HALF_UP on signed decimal sums") {
    // the signed/decimal companion of ratio6 (profile means): half away
    // from zero at 6 dp over an exact DECIMAL(28,6) numerator — checked
    // against the BigDecimal definition on both signs and q boundaries
    val gen = Gen.listOfN(40, Gen.zip(
      Gen.choose(-2000000000000L, 2000000000000L), // numerator in 1e-6 units
      Gen.choose(1L, 300000L)))
    (1L to 3L).foreach { s =>
      val pairs = sample(gen, s)
      val got = pairs.map { case (micro, q) => (BigDecimal(micro, 6), q) }
        .toDF("p", "q")
        .select(graft.ops.Relational.decRatio6(
          "CAST(p AS DECIMAL(28,6))", "q").as("r"))
        .collect().map(_.getDouble(0)).toSeq
      val want = pairs.map { case (micro, q) =>
        (BigDecimal(micro, 6) / BigDecimal(q))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      }
      assert(got == want, s"seed $s")
    }
  }

  test("property: weighted SSSP equals driver-side Bellman-Ford") {
    // the one program whose messages read an EDGE attribute (dist + w) —
    // checked against an independent O(V·E) relaxation, including
    // unreachable vertices (null dist) and parallel edges
    val gen = for {
      n <- Gen.choose(4, 12)
      m <- Gen.choose(n, 3 * n)
      es <- Gen.listOfN(m, Gen.zip(
        Gen.choose(0, n - 1), Gen.choose(0, n - 1), Gen.choose(1, 9)))
    } yield (n, es)
    (1L to 3L).foreach { s =>
      val (n, es) = sample(gen, s)
      val edges = es.map { case (a, b, w) => (a.toLong, b.toLong, w.toLong) }
        .toDF("src", "dst", "w")
      val verts = (0L until n.toLong).toDF("id")
      val got = Algorithms.shortestPaths(verts, edges, sourceId = 0L,
          maxIter = n + 3)
        .collect().map(r => r.getLong(0) ->
          (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
      val dist = Array.fill[Option[Long]](n)(None)
      dist(0) = Some(0L)
      for (_ <- 1 until n; (a, b, w) <- es)
        dist(a).foreach(da =>
          if (dist(b).forall(_ > da + w)) dist(b) = Some(da + w))
      assert(got == dist.zipWithIndex.map { case (d, i) => i.toLong -> d }.toMap,
        s"seed $s")
    }
  }

  test("property: edge-addition CC equals full-graph recomputation") {
    // G7 growth: waves 1 and 2 start sending mid-run (wave-gated); the fixed
    // point must be schedule-independent, i.e. identical to CC over the
    // full edge set — on any random graph, including chains (worst-case
    // propagation diameter) and wave sets with no wave-0 edges at all
    val gen = for {
      n <- Gen.choose(4, 12)
      m <- Gen.choose(n, 3 * n)
      es <- Gen.listOfN(m, Gen.zip(
        Gen.choose(0, n - 1), Gen.choose(0, n - 1), Gen.choose(0, 2)))
    } yield (n, es)
    (1L to 3L).foreach { s =>
      val (n, es) = sample(gen, s)
      val edges = es.flatMap { case (a, b, w) =>
        Seq((a.toLong, b.toLong, w), (b.toLong, a.toLong, w)) }
        .toDF("src", "dst", "wave")
      val verts = (0L until n.toLong).toDF("id")
      val got = Algorithms.incrementalComponents(verts, edges, "wave",
          lastWave = 2, maxIter = n + 6)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val want = Algorithms.connectedComponents(verts,
          edges.select("src", "dst"), maxIter = n + 6)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == want, s"seed $s")
    }
  }

  test("property: state-gated kCore equals a from-scratch peel loop") {
    // G7 deletion: a dead vertex stops sending its degree contribution —
    // checked against a plain-Scala loop that recomputes degrees over the
    // surviving edges every round, on random graphs (sparse ones peel in
    // long chains, dense ones keep a core) for k = 2 and 3
    val gen = for {
      n <- Gen.choose(6, 20)
      m <- Gen.choose(n, 3 * n)
      es <- Gen.listOfN(m, Gen.zip(Gen.choose(0, n - 1), Gen.choose(0, n - 1)))
    } yield (n, es)
    for (s <- 1L to 3L; k <- Seq(2, 3)) {
      val (n, es) = sample(gen, s)
      val dir = es.collect { case (a, b) if a != b => (a.toLong, b.toLong) }
      val und = (dir ++ dir.map(_.swap)).distinct
      var alive = (0L until n.toLong).toSet
      var changed = true
      while (changed) {
        val deg = und.filter(e => alive(e._1) && alive(e._2))
          .groupBy(_._1).view.mapValues(_.size).toMap
        val next = alive.filter(v => deg.getOrElse(v, 0) >= k)
        changed = next != alive
        alive = next
      }
      val got = Algorithms.kCore((0L until n.toLong).toDF("id"),
          und.toDF("src", "dst"), k, maxIter = n + 2)
        .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
      assert(got.keySet == (0L until n.toLong).toSet, s"seed $s k=$k")
      assert(got.filter(_._2).keySet == alive, s"seed $s k=$k")
    }
  }

  test("property: native rolling_fingerprint is bit-identical to the HOF fold") {
    // the native codegen expression replaced an interpreted
    // transform+aggregate pair — same tokenization, same arithmetic, on
    // arbitrary whitespace/empty/edge inputs
    val chars = Gen.frequency(
      8 -> Gen.alphaNumChar,
      2 -> Gen.oneOf(' ', '\t', '\n', '.', ',', '-', 'X'))
    val gen = Gen.listOfN(60,
      Gen.choose(0, 50).flatMap(n => Gen.listOfN(n, chars).map(_.mkString)))
    (1L to 3L).foreach { s =>
      val texts = sample(gen, s) ++ Seq("", " ", "\t\n ", "  a", "a  b ")
      val rows = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("id", "text")
        .select(
          graft.ext.TextAnalysis.rollingFingerprint(col("text")).as("native"),
          graft.ext.TextAnalysis.rollingFingerprintHof(col("text")).as("hof"))
        .collect()
      rows.foreach(r => assert(r.getLong(0) == r.getLong(1), s"seed $s"))
    }
  }

  test("property: oriented triangle counts equal brute force on random graphs") {
    // the degree orientation is a pure optimization — per-vertex counts
    // must match an O(n³) driver-side enumeration on any graph, including
    // duplicates, reversed edges, and self-loops from the generator
    val gen = for {
      n <- Gen.choose(4, 14)
      m <- Gen.choose(n, 3 * n)
      es <- Gen.listOfN(m, Gen.zip(Gen.choose(0, n - 1), Gen.choose(0, n - 1)))
    } yield (n, es)
    (1L to 3L).foreach { s =>
      val (n, es) = sample(gen, s)
      val und = es.map { case (a, b) => (a.toLong, b.toLong) }
        .filter { case (a, b) => a != b }
        .map { case (a, b) => (math.min(a, b), math.max(a, b)) }.toSet
      val expected = (0 until n).map(_.toLong).combinations(3)
        .filter { case Seq(x, y, z) =>
          und((x, y)) && und((y, z)) && und((x, z)) }
        .foldLeft(Map.empty[Long, Long].withDefaultValue(0L)) { (acc, t) =>
          t.foldLeft(acc)((a, v) => a.updated(v, a(v) + 1L)) }
      val got = Algorithms.triangleCounts(
          es.map { case (a, b) => (a.toLong, b.toLong) }.toDF("src", "dst"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == expected.filter(_._2 > 0), s"seed $s: $got vs $expected")
    }
  }

  test("property: largestRemainderAlloc equals the driver-side Hamilton rule") {
    val gen = for {
      n <- Gen.choose(3, 12)
      ws <- Gen.listOfN(n, Gen.choose(1L, 100L))
      b <- Gen.choose(10L, 5000L)
    } yield (ws, b)
    (1L to 5L).foreach { s =>
      val (ws, b) = sample(gen, s)
      val named = ws.zipWithIndex.map { case (w, i) => (f"s$i%02d", w) }
      val total = ws.sum
      val base = named.map { case (n, w) => n -> (b * w / total) }.toMap
      val rem = named.map { case (n, w) => n -> (b * w % total) }.toMap
      val left = b - base.values.sum
      val bumped = named.map(_._1)
        .sortBy(n => (-rem(n), n)).take(left.toInt).toSet
      val expected = named.map { case (n, _) =>
        n -> (base(n) + (if (bumped(n)) 1L else 0L)) }.toMap
      val got = graft.ext.Sampling.largestRemainderAlloc(
          named.toDF("s", "w"), "s", "w", b)
        .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
      assert(got == expected, s"seed $s")
      assert(got.values.sum == b, s"seed $s: allocations must sum to budget")
      // quota rule: every stratum gets its floor or floor+1, never more
      got.foreach { case (n, a) =>
        assert(a == base(n) || a == base(n) + 1, s"seed $s $n") }
    }
  }

  test("property: funnel equals the naive strictly-after scan") {
    val steps = Seq("A", "B", "C")
    val gen = for {
      m <- Gen.choose(5, 40)
      es <- Gen.listOfN(m, Gen.zip(Gen.choose(1L, 5L),
        Gen.oneOf("A", "B", "C", "X"), Gen.choose(0L, 50L)))
    } yield es
    (1L to 6L).foreach { s =>
      val es = sample(gen, s)
      def earliest(u: Long, st: String, after: Long): Option[Long] =
        es.filter(e => e._1 == u && e._2 == st && e._3 > after)
          .map(_._3).minOption
      val expected = es.map(_._1).distinct.flatMap { u =>
        es.filter(e => e._1 == u && e._2 == "A").map(_._3).minOption.map {
          t1 =>
            val t2 = earliest(u, "B", t1)
            val t3 = t2.flatMap(earliest(u, "C", _))
            u -> (t1 * 1000000L, t2.map(_ * 1000000L), t3.map(_ * 1000000L),
              1 + t2.size + t3.size)
        }
      }.toMap
      val got = graft.ops.Windows.funnel(
          es.map { case (u, t, ts) =>
            (u, t, Timestamp.from(java.time.Instant.ofEpochSecond(ts)))
          }.toDF("user_id", "event_type", "ts"),
          "user_id", "event_type", "ts", steps)
        .collect().map(r => r.getLong(0) -> (r.getLong(1),
          if (r.isNullAt(2)) None else Some(r.getLong(2)),
          if (r.isNullAt(3)) None else Some(r.getLong(3)),
          r.getInt(4))).toMap
      assert(got == expected, s"seed $s")
    }
  }

  test("property: labelPropagation is edge-order invariant and matches a naive tally") {
    val gen = for {
      n <- Gen.choose(3, 10)
      m <- Gen.choose(2, 2 * n)
      es <- Gen.listOfN(m, Gen.zip(Gen.choose(0, n - 1), Gen.choose(0, n - 1)))
    } yield (n, es)
    (1L to 4L).foreach { s =>
      val (n, es0) = sample(gen, s)
      val es = es0.map { case (a, b) => (a.toLong, b.toLong) }
      val iters = 4
      // driver replay: votes = own label + one per incoming edge (multiset
      // semantics: parallel edges vote multiply), winner = max count then
      // min label — must match the Spark tally exactly
      var lbl = (0 until n).map(i => i.toLong -> i.toLong).toMap
      for (_ <- 1 to iters) {
        lbl = (0 until n).map { i =>
          val votes = lbl(i.toLong) ::
            es.filter(_._2 == i.toLong).map(e => lbl(e._1)).toList
          val best = votes.groupBy(identity).view.mapValues(_.size).toSeq
            .maxBy { case (l, c) => (c, -l) }._1
          i.toLong -> best
        }.toMap
      }
      def run(edges: Seq[(Long, Long)]): Map[Long, Long] =
        Algorithms.labelPropagation(
            (0 until n).map(_.toLong).toDF("id"),
            edges.toDF("src", "dst"), iters)
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val got = run(es)
      assert(got == lbl, s"seed $s")
      assert(run(es.reverse) == got, s"seed $s: edge order changed labels")
    }
  }

  test("property: landmarkBfs equals naive per-landmark BFS on random digraphs") {
    val gen = for {
      n <- Gen.choose(4, 10)
      m <- Gen.choose(2, 14)
      es <- Gen.listOfN(m, Gen.zip(Gen.choose(0, n - 1), Gen.choose(0, n - 1)))
    } yield (n, es)
    (1L to 4L).foreach { s =>
      val (n, es0) = sample(gen, s)
      val es = es0.filter(e => e._1 != e._2)
        .map { case (a, b) => (a.toLong, b.toLong) }
      if (es.nonEmpty) {
        val landmarks = Seq(0L, (n / 2).toLong)
        val got = Algorithms.landmarkBfs(
            (0 until n).map(_.toLong).toDF("id"), es.toDF("src", "dst"),
            landmarks, maxIter = n + 2)
          .collect().map(r => (r.getLong(0), r.getLong(1)) ->
            Option(r.getAs[java.lang.Long]("dist")).map(_.toLong)).toMap
        // naive driver BFS per landmark
        val adj = es.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
        val want = landmarks.flatMap { lm =>
          val dist = scala.collection.mutable.Map(lm -> 0L)
          var frontier = List(lm)
          while (frontier.nonEmpty)
            frontier = frontier.flatMap(u => adj.getOrElse(u, Nil)
              .filter(v => !dist.contains(v))
              .map { v => dist(v) = dist(u) + 1; v }).distinct
          (0 until n).map(i => (i.toLong, lm) -> dist.get(i.toLong))
        }.toMap
        assert(got == want, s"seed $s")
      }
    }
  }

  test("property: bpeEncode equals a naive driver-side BPE trainer replay") {
    val gen = for {
      nw <- Gen.choose(3, 8)
      ws <- Gen.listOfN(nw, for {
        len <- Gen.choose(1, 6)
        cs <- Gen.listOfN(len, Gen.oneOf('a', 'b', 'c'))
      } yield cs.mkString)
    } yield ws
    (1L to 3L).foreach { s =>
      val words = sample(gen, s)
      val merges = 3
      val docs = Seq((1L, words.mkString(" "))).toDF("doc_id", "text")
      val got = ext.TextAnalysis.bpeEncode(docs, "text", merges)
        .collect().map(r => r.getString(0) -> r.getString(3)).toMap
      // naive replay: weighted overlapping pair counts, argmax by
      // (count desc, pair lex), left-to-right greedy application
      var vocab: Map[String, (Long, Vector[String])] =
        words.groupBy(identity).map { case (w, g) =>
          w -> (g.size.toLong, w.map(_.toString).toVector) }
      for (_ <- 1 to merges) {
        val counts = scala.collection.mutable.Map[(String, String), Long]()
        vocab.values.foreach { case (wc, syms) =>
          syms.zip(syms.tail).foreach(p =>
            counts(p) = counts.getOrElse(p, 0L) + wc) }
        if (counts.nonEmpty) {
          val (a, b) = counts.toSeq.minBy { case ((x, y), c) => (-c, x, y) }._1
          vocab = vocab.map { case (w, (wc, syms)) =>
            val out = scala.collection.mutable.ArrayBuffer[String]()
            syms.foreach { x =>
              if (out.nonEmpty && out.last == a && x == b)
                out(out.size - 1) = a + b
              else out += x
            }
            w -> (wc, out.toVector)
          }
        }
      }
      val want = vocab.map { case (w, (_, syms)) => w -> syms.mkString(" ") }
      assert(got == want, s"seed $s")
      // the segmentation must always concatenate back to the word
      got.foreach { case (w, seg) => assert(seg.replace(" ", "") == w) }
    }
  }
}
