package graft

import org.apache.spark.sql.functions._
import graft.ext.Dedup

class DedupSpec extends GraftSuite {
  import spark.implicits._

  test("substrDupSignals flags aligned verbatim reuse, not unique text") {
    // docs 1 and 2 share an 80-char front-aligned span (the dominant
    // real-world reuse shape); doc 3 is unique; doc 4 is too short to
    // sample and must not appear at all
    val shared = (0 until 80).map(i => ('a' + (i * 7 % 26)).toChar).mkString
    val uniq = (0 until 100).map(i => ('a' + (i * 11 % 26)).toChar).mkString
    val docs = Seq(
      (1L, shared + " tail one appended here to differ"),
      (2L, shared + " a completely different tail text"),
      (3L, uniq),
      (4L, "short")).toDF("doc_id", "text")
    val out = Dedup.substrDupSignals(docs, "doc_id", "text", k = 64, stride = 16)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(!out.contains(4L), "sub-window doc sampled anyway")
    assert(out(3L)._2 == 0L, s"unique doc flagged: ${out(3L)}")
    // the shared 80-char span samples windows at offsets 0 and 16 in BOTH
    // docs — at least those two per doc must be flagged
    assert(out(1L)._2 >= 2L && out(2L)._2 >= 2L, out.toString)
  }

  test("exactDedup keeps exactly the min-tiebreak row per key") {
    val df = Seq(
      (3L, "a", "x"), (1L, "a", "y"), (2L, "b", "z"), (5L, "a", "w"))
      .toDF("id", "k", "payload")
    val out = Dedup.exactDedup(df, Seq("k"), "id")
      .collect().map(r => (r.getString(1), r.getLong(0), r.getString(2))).toSet
    assert(out == Set(("a", 1L, "y"), ("b", 2L, "z")))
  }

  test("shingles produce n-grams and degrade gracefully on short docs") {
    val df = Seq("one two three four", "hi").toDF("t")
    val sh = df.select(Dedup.shingles(col("t"), 3).as("s"))
      .collect().map(_.getSeq[String](0).toSeq)
    assert(sh(0) == Seq("one two three", "two three four"))
    assert(sh(1) == Seq("hi"))
  }

  test("golden planted near-dup pair is found by all three detectors") {
    // two near-identical docs (one word changed), two unrelated docs
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta iota lambda"),
      (3L, "one two three four five six seven eight nine ten"),
      (4L, "red green blue cyan magenta yellow black white gray pink"))
      .toDF("doc_id", "text")
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val expected = Set((1L, 2L))
    assert(pairs(Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.5)) == expected)
    assert(pairs(Dedup.nearDupMinHash(docs, "doc_id", "text", 3, 32, 8, 0.5)) == expected)
    // short docs carry more per-bit vote noise than the corpus — open the
    // hamming gate wide; the jaccard verification still does the filtering
    assert(pairs(Dedup.nearDupSimHash(docs, "doc_id", "text", 24, 3, 0.5)) == expected)
  }

  test("MinHash-LSH recovers the exact-Jaccard pair set on the corpus") {
    // recall check at sf0.001: banding (k=64, b=16) at threshold 0.8 must
    // not miss a single true pair — this is what lets q31 share q35's oracle
    val docs = Tables.documents(spark, sf)
    val exact = Dedup.ngramJaccardPairs(docs, "doc_id", "text")
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.nearDupMinHash(docs, "doc_id", "text")
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty, "corpus should contain planted near-dups")
    assert(lsh == exact)
    // SimHash contract: never a false positive (jaccard verify), and the
    // 8-block pigeonhole guarantees recall for pairs at hamming ≤ 7 — a
    // short-doc pair can legitimately exceed that (more per-bit vote noise),
    // so assert exactly the guarantee, not more.
    val sim = Dedup.nearDupSimHash(docs, "doc_id", "text")
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val fp = Dedup.simHash(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def hamming(p: (Long, Long)) = java.lang.Long.bitCount(fp(p._1) ^ fp(p._2))
    assert(sim.subsetOf(exact))
    val guaranteed = exact.filter(hamming(_) <= 7)
    assert(guaranteed.subsetOf(sim),
      s"pairs within the hamming-7 guarantee missed: ${guaranteed -- sim}")
  }

  test("simHash is 64-bit stable and near-dups have small hamming distance") {
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta iota lambda"),
      (3L, "one two three four five six seven eight nine ten"))
      .toDF("doc_id", "text")
    val fp = Dedup.simHash(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def hamming(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    // near-dups are closer than unrelated docs; absolute distances are
    // noisy on 10-token docs, the ordering is the invariant
    assert(hamming(fp(1L), fp(2L)) < hamming(fp(1L), fp(3L)))
    // determinism across evaluations
    val fp2 = Dedup.simHash(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fp == fp2)
  }

  test("decontaminate flags exactly the docs sharing a benchmark n-gram") {
    val bench = Seq(
      (100L, "the quick brown fox jumps over the lazy dog tonight"))
      .toDF("doc_id", "text")
    val corpus = Seq(
      // contains "the quick brown fox jumps" → contaminated
      (1L, "witnesses saw the quick brown fox jumps over everything here"),
      // shares words but no 5-gram run → clean
      (2L, "the brown dog and the lazy fox were quick tonight"),
      // unrelated → clean
      (3L, "completely different subject matter entirely"),
      // shorter than 5 tokens can only hit via the whole-string shingle
      (4L, "tiny doc"))
      .toDF("doc_id", "text")
    val out = Dedup.decontaminate(corpus, bench, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> (r.getInt(1), r.getBoolean(2))).toMap
    assert(out(1L)._2 && out(1L)._1 >= 1, s"doc 1 should be contaminated: $out")
    assert(!out(2L)._2 && !out(3L)._2 && !out(4L)._2, s"2/3/4 clean: $out")
    assert(out.keySet == Set(1L, 2L, 3L, 4L))
  }

  test("lsh bucket cap drops degenerate buckets") {
    val docs = (1L to 50L).map(i => (i, "same same same text here")).toDF("doc_id", "text")
    val withSig = Dedup.minHashSignatures(docs, "doc_id", "text", 3, 32)
    val capped = Dedup.lshCandidates(withSig, "doc_id", col("sig"), 8, maxBucket = 10,
      sigLen = 32)
    assert(capped.count() == 0) // every bucket has 50 members > cap
  }

  test("bloomDecontaminate matches exact decontamination with zero misses") {
    val docs = Tables.documents(spark, sf)
    val corpus = docs.filter(pmod(col("doc_id"), lit(97)) =!= 0)
    val bench = docs.filter(pmod(col("doc_id"), lit(97)) === 0)
    val rows = Dedup.bloomDecontaminate(corpus, bench, "doc_id", "text").collect()
    assert(rows.forall(r => !r.getBoolean(2)), "Bloom produced a false negative")
    assert(rows.forall(r => r.getBoolean(3)), "false-positive fraction over bound")
    val flags = rows.map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    val exact = Dedup.decontaminate(corpus, bench, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getBoolean(2))).toMap
    assert(flags == exact, "exact contamination flags diverge")
  }

  test("incremental dedup equals the batch pair set restricted to new docs") {
    val docs = Tables.documents(spark, sf)
    val isNew = pmod(col("doc_id"), lit(5)) === 1
    def pairSet(df: org.apache.spark.sql.DataFrame) =
      df.select("id_a", "id_b", "jaccard").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val incremental = pairSet(Dedup.incrementalNearDups(
      docs.filter(!isNew), docs.filter(isNew), "doc_id", "text"))
    val batchRestricted = pairSet(Dedup.nearDupMinHash(docs, "doc_id", "text")
      .filter(pmod(col("id_a"), lit(5)) === 1 || pmod(col("id_b"), lit(5)) === 1))
    assert(incremental == batchRestricted)
    // and at least one cross (new×old) pair exists, or the test is vacuous
    assert(incremental.exists { case (a, b, _) => a % 5 == 1 ^ b % 5 == 1 })
    // the same equality under a bucket cap that binds: the incremental
    // index sizes probed buckets over new AND old members, so it drops
    // exactly the buckets the batch self-join drops. On this corpus every
    // pair survives in some bucket of ≤ 2 members (caps 2–16 drop nothing),
    // so the cap that binds is 1; a cap sized on the new batch alone would
    // see each new×old bucket as 1 member and keep those pairs
    val maxBucket = 1
    val incrementalCapped = pairSet(Dedup.incrementalNearDups(
      docs.filter(!isNew), docs.filter(isNew), "doc_id", "text",
      maxBucket = maxBucket))
    val batchCapped = pairSet(Dedup.nearDupMinHash(docs, "doc_id", "text",
        maxBucket = maxBucket)
      .filter(pmod(col("id_a"), lit(5)) === 1 || pmod(col("id_b"), lit(5)) === 1))
    assert(incrementalCapped == batchCapped)
    assert((incremental -- incrementalCapped).nonEmpty,
      s"maxBucket $maxBucket dropped no pair — the cap never bound")
  }

  test("ngramNovelty scores first-seen shingles by corpus id order") {
    // d1 owns both its shingles; d2 shares "a b c" with d1 (novelty 1/2);
    // d3 is shorter than the shingle width → whole-string fallback, novel
    val docs = Seq((1L, "a b c d"), (2L, "a b c e"), (3L, "x"))
      .toDF("doc_id", "text")
    val got = Dedup.ngramNovelty(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(got == Map(
      1L -> ((2L, 2L, 1.0)),
      2L -> ((2L, 1L, 0.5)),
      3L -> ((1L, 1L, 1.0))))
  }

  test("spanExcision cuts covered spans, keeps clean fragments, drops residue") {
    val bench = Seq((100L, "p q r s t")).toDF("doc_id", "text")
    val corpus = Seq(
      (1L, "a b c p q r s t x y z"), // hit at pos 3 → covers 3..7
      (2L, "p q r s t"),             // fully covered → no fragments
      (3L, "m n o"),                 // < 5 tokens: no window, passes whole
      (4L, "a b p q r s t"))         // clean run "a b" < minTokens → dropped
      .toDF("doc_id", "text")
    val got = Dedup.spanExcision(corpus, bench, "doc_id", "text", n = 5)
      .collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> ((r.getString(2), r.getInt(3))))
      .toMap
    assert(got == Map(
      (1L, 1) -> (("a b c", 3)),
      (1L, 2) -> (("x y z", 3)),
      (3L, 1) -> (("m n o", 3))))
  }

  test("segmentDedup keeps the global first occurrence and reassembles") {
    val docs = Seq(
      (1L, "a b c d e f"),  // both segments first-seen
      (2L, "a b c x y z"),  // "a b c" lost to doc 1
      (3L, ""),             // empty text → empty clean_text, 0/0
      (4L, "d e f a b c"),  // both segments lost
      (5L, "q r s q r s"))  // within-doc dup: second occurrence dropped
      .toDF("doc_id", "text")
    val got = Dedup.segmentDedup(docs, "doc_id", "text", w = 3)
      .collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getInt(2), r.getInt(3))))
      .toMap
    assert(got == Map(
      1L -> (("a b c d e f", 2, 0)),
      2L -> (("x y z", 1, 1)),
      3L -> (("", 0, 0)),
      4L -> (("", 0, 2)),
      5L -> (("q r s", 1, 1))))
  }

  test("source overlap matrix equals a driver-side rollup of the q35 pairs") {
    val docs = Tables.documents(spark, sf)
    val srcOf = docs.select("doc_id", "source").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val expected = Dedup.q35NgramJaccard(spark, sf)
      .select("id_a", "id_b").collect()
      .map { r =>
        val (a, b) = (srcOf(r.getLong(0)), srcOf(r.getLong(1)))
        (Seq(a, b).min, Seq(a, b).max)
      }
      .groupBy(identity).view.mapValues(_.length.toLong).toMap
    val got = Dedup.q123SourceOverlap(spark, sf)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
      .toMap
    assert(got == expected)
    assert(got.nonEmpty, "vacuous: no near-dup pairs in the corpus")
  }

  test("canonicalPick keeps the longest member, ties to the smallest id") {
    val clusters = Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 4L))
      .toDF("doc_id", "cluster")
    // cluster 1: docs 2 and 3 tie on length 30 → keep 2; 40 chars dropped
    val docs = Seq((1L, 10L), (2L, 30L), (3L, 30L), (4L, 7L))
      .toDF("doc_id", "n_chars")
    val got = Dedup.canonicalPick(clusters, docs, "doc_id", "n_chars")
      .collect()
      .map(r => r.getAs[Long]("cluster") ->
        ((r.getAs[Long]("keep_id"), r.getAs[Long]("n_members"),
          r.getAs[Long]("keep_chars"), r.getAs[Long]("chars_dropped"))))
      .toMap
    assert(got == Map(
      1L -> ((2L, 3L, 30L, 40L)),
      4L -> ((4L, 1L, 7L, 0L))))
  }

  private def picks(clusters: Seq[(Long, Long)],
                    sizes: Seq[(Long, Option[Long])]): Map[Long, (Long, Long, Long, Long)] =
    Dedup.canonicalPick(clusters.toDF("doc_id", "cluster"),
        sizes.toDF("doc_id", "n_chars"), "doc_id", "n_chars")
      .collect()
      .map(r => r.getAs[Long]("cluster") ->
        ((r.getAs[Long]("keep_id"), r.getAs[Long]("n_members"),
          r.getAs[Long]("keep_chars"), r.getAs[Long]("chars_dropped"))))
      .toMap

  test("canonicalPick: a null-size member never wins but still counts") {
    // cluster 1: doc 1 (the smallest id) has no size; doc 3 outgrows doc 2
    val got = picks(Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 4L)),
      Seq((1L, None), (2L, Some(15L)), (3L, Some(20L)), (4L, Some(9L))))
    assert(got == Map(
      1L -> ((3L, 3L, 20L, 15L)),
      4L -> ((4L, 1L, 9L, 0L))), got.toString)
  }

  test("canonicalPick: a cluster whose sizes are all null has no keeper") {
    val got = picks(Seq((1L, 1L), (2L, 1L), (3L, 3L)),
      Seq((1L, None), (2L, None), (3L, Some(5L))))
    assert(got == Map(3L -> ((3L, 1L, 5L, 0L))), got.toString)
  }

  test("dedupYield attributes global keep decisions back to each source") {
    // cluster 1 spans sources: keep doc 2 (longest) in sA; doc 1 (sA) and
    // doc 3 (sB) drop. Singleton 4 (sB) keeps itself.
    val clusters = Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 4L))
      .toDF("doc_id", "cluster")
    val docs = Seq((1L, 10L, "sA"), (2L, 30L, "sA"), (3L, 25L, "sB"),
      (4L, 7L, "sB")).toDF("doc_id", "n_chars", "source")
    val got = Dedup.dedupYield(clusters, docs, "doc_id", "n_chars", "source")
      .collect()
      .map(r => r.getAs[String]("source") ->
        ((r.getAs[Long]("n_docs"), r.getAs[Long]("n_kept"),
          r.getAs[Long]("n_dropped"), r.getAs[Long]("chars_total"),
          r.getAs[Long]("chars_dropped"), r.getAs[Double]("dup_ratio6"))))
      .toMap
    assert(got == Map(
      "sA" -> ((2L, 1L, 1L, 40L, 10L, 0.5)),
      "sB" -> ((2L, 1L, 1L, 32L, 25L, 0.5))), got.toString)
  }

  /** Scala brute-force replay of winnowing at (k, w): contiguous tokens,
    * rightmost-min tie lane, truncated tail windows suppressed. */
  private def winnowRef(text: String, k: Int, w: Int): Set[Long] = {
    val M = 1000000007L
    val ts = text.trim.toLowerCase.split("\\s+").filter(_.nonEmpty).toSeq
    val vs = ts.map(t => 31L * t.length + t.head.toInt)
    if (vs.length < k) Set.empty
    else {
      val ghs = vs.sliding(k)
        .map(g => g.tail.foldLeft(g.head)((a, v) => (a * 1000003L + v) % M))
        .toVector
      val keys = ghs.zipWithIndex.map { case (h, i) =>
        h * 1048576L + math.max(0L, 1048575L - (i + 1)) }
      val nWin = math.max(1, ghs.length - w + 1)
      (0 until nWin).map(j => keys.slice(j, j + w).min / 1048576L).toSet
    }
  }

  test("winnowing fingerprints match the brute-force reference") {
    val texts = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "alpha beta gamma"),          // exactly one gram → one fingerprint
      (3L, "tiny doc"),                  // < k tokens → none
      (4L, "rep rep rep rep rep rep rep rep")) // all grams tie → rightmost mins
    val docs = texts.toDF("doc_id", "text")
    val got = Dedup.winnowingFingerprints(docs, "doc_id", "text", k = 3, w = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    for ((id, t) <- texts) {
      val want = winnowRef(t, 3, 4)
      assert(got.getOrElse(id, Set.empty) == want,
        s"doc $id: got ${got.getOrElse(id, Set.empty)}, want $want")
    }
  }

  test("weighted jaccard separates repetition that set jaccard cannot see") {
    // docs 1 and 2 repeat the same template 5x vs 2x: identical DISTINCT
    // shingle sets (set J = 1) but weighted J = 4/13 — only the exact
    // copy pair (2,3) survives the 0.8 gate
    val docs = Seq(
      (1L, "a b c " * 5), (2L, "a b c " * 2), (3L, "a b c " * 2))
      .toDF("doc_id", "text")
    def ids(df: org.apache.spark.sql.DataFrame) = df.select("id_a", "id_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(ids(Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.8)) ==
      Set((1L, 2L), (1L, 3L), (2L, 3L)))
    val wj = Dedup.weightedNgramJaccardPairs(docs, "doc_id", "text")
    assert(ids(wj) == Set((2L, 3L)), ids(wj).toString)
    val row = wj.collect().head
    assert(row.getAs[Double]("wjaccard6") == 1.0)
  }

  test("vocabGrowthCurve: duplicates add no novelty, later buckets accumulate") {
    val docs = Seq(
      (1L, "a b c d"),   // shingles: "a b c", "b c d" — both novel
      (2L, "a b c d"),   // exact dup: zero novel shingles
      (51L, "x y z"))    // bucket 1: one novel shingle
      .toDF("doc_id", "text")
    val got = Dedup.vocabGrowthCurve(docs, "doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == Set((0L, 2L, 2L), (1L, 1L, 3L)), got.toString)
  }

  test("winnowing guarantee: a shared w+k-1 token run yields a shared pair") {
    val shared = "alpha beta gamma delta epsilon zeta" // 6 = w+k-1 tokens
    val docs = Seq(
      (1L, s"one two three $shared four five six"),
      (2L, s"seven eight nine ten $shared eleven twelve"),
      (3L, "red green blue cyan magenta yellow black white gray pink"))
      .toDF("doc_id", "text")
    val pairs = Dedup.winnowingPairs(docs, "doc_id", "text",
        k = 3, w = 4, maxDf = 64, minShared = 1)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    assert(pairs == Set((1L, 2L)), pairs.toString)
  }

  /** q209 pin, small analog (256 docs, 8 planted groups of 4): the full
    * nearDupMinHash pipeline must return EXACTLY the planted within-group
    * pairs — identical docs collide in every band with probability 1, and
    * the unique-token fillers must stay silent (their true Jaccard with
    * everything is 0, so the verify filter drops any candidate noise). */
  test("q209 small analog: exactly the planted dup pairs, fillers silent") {
    val out = Dedup.nearDupMinHash(
        Dedup.q209Corpus(spark, docs = 256L, groups = 8L), "doc_id", "text")
      .collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"),
        r.getAs[Int]("inter"), r.getAs[Int]("n_a"), r.getAs[Int]("n_b"),
        r.getAs[Double]("jaccard"))).toSet
    val expected = (for {
      g <- 0L until 8L
      p <- 0L until 4L
      q <- (p + 1) until 4L
    } yield (4 * g + p, 4 * g + q, 5, 5, 5, 1.0)).toSet
    assert(out == expected,
      s"diff: ${(out -- expected).take(3)} / ${(expected -- out).take(3)}")
  }

  /** Full-scale pin for the q209 gate row: the synthesized corpus really
    * is over the 1M-document mark at every sf (count is cheap — Catalyst
    * prunes the text construction under count). */
  test("q209 full corpus is 2^20 documents") {
    assert(Dedup.q209Corpus(spark).count() == 1048576L)
  }

  /** q249 pin, small analog (512 docs, 8 planted groups per stratum): the
    * gate's exact call — 4×16-bit blocks, maxHamming 3 — must return the
    * planted within-group pairs from BOTH length strata (long twins via
    * SimHash blocks, short twins via the exact inverted-index path) and
    * nothing else: fillers carry globally unique tokens, so the verify
    * filter silences any fingerprint coincidence. */
  test("q249 small analog: both strata recovered, fillers silent") {
    val out = Dedup.nearDupSimHash(
        Dedup.q249Corpus(spark, docs = 512L, groups = 8L), "doc_id", "text",
        maxHamming = 3, blocks = 4)
      .collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"),
        r.getAs[Int]("inter"), r.getAs[Int]("n_a"), r.getAs[Int]("n_b"),
        r.getAs[Double]("jaccard"))).toSet
    val expected = (for {
      (base, sz) <- Seq((0L, 31), (32L, 5))
      g <- 0L until 8L
      p <- 0L until 4L
      q <- (p + 1) until 4L
    } yield (base + 4 * g + p, base + 4 * g + q, sz, sz, sz, 1.0)).toSet
    assert(out == expected,
      s"diff: ${(out -- expected).take(3)} / ${(expected -- out).take(3)}")
  }

  /** Full-scale pins for the q249 gate row: 2²⁰ docs, and the two strata
    * sit where the scaladoc says (33-token long docs, 7-token short). */
  test("q249 full corpus is 2^20 documents with the planted strata") {
    assert(Dedup.q249Corpus(spark).count() == 1048576L)
    val rows = Dedup.q249Corpus(spark, docs = 40000L, groups = 4096L)
      .filter(col("doc_id").isin(0L, 16384L, 32768L))
      .collect().map(r => (r.getAs[Long]("doc_id"),
        r.getAs[String]("text").split(" ").length)).toMap
    assert(rows == Map(0L -> 33, 16384L -> 7, 32768L -> 33), rows.toString)
  }

  /** q250 pin, small analog (256 docs, 8 pairs per class): twins emit at
    * J=1, the planted boundary pairs emit at J=0.8 EXACTLY (32 shared of
    * 36+36 shingles), the just-below class (31/39 ≈ 0.795) is generated
    * as candidates but suppressed by the exact verify, and unique-token
    * fillers stay silent. */
  test("q250 small analog: boundary pairs at exactly 0.8, below-class suppressed") {
    val out = Dedup.ngramJaccardPairs(
        Dedup.q250Corpus(spark, docs = 256L, pairsPerClass = 8L),
        "doc_id", "text")
      .collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"),
        r.getAs[Int]("inter"), r.getAs[Int]("n_a"), r.getAs[Int]("n_b"),
        r.getAs[Double]("jaccard"))).toSet
    val expected = (for {
      (base, inter, sz, jac) <- Seq((0L, 34, 34, 1.0), (16L, 32, 36, 0.8))
      j <- 0L until 8L
    } yield (base + 2 * j, base + 2 * j + 1, inter, sz, sz, jac)).toSet
    assert(out == expected,
      s"diff: ${(out -- expected).take(3)} / ${(expected -- out).take(3)}")
  }

  /** The q250 below-threshold class really does reach the candidate stage
    * (31 shared ≥ the relaxed PPJoin bound) — certified by widening the
    * threshold to 0.7 and seeing the class appear at J=31/39. */
  test("q250 below-class is a candidate, not prefix-pruned") {
    val out = Dedup.ngramJaccardPairs(
        Dedup.q250Corpus(spark, docs = 64L, pairsPerClass = 8L),
        "doc_id", "text", threshold = 0.7)
      .filter(col("id_a") >= 32L && col("id_a") < 48L)
      .collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Double]("jaccard"))).toSet
    val expected = (0L until 8L).map(j =>
      (32L + 2 * j, math.rint(31.0 / 39.0 * 1e6) / 1e6)).toSet
    assert(out == expected, out.toString)
  }

  test("q250 full corpus is 2^20 documents") {
    assert(Dedup.q250Corpus(spark).count() == 1048576L)
  }

  /** q251 pin, small analog (256 docs, 16-doc benchmark): per-row flags
    * before the gate's rollup — contaminated ⇔ id < docs/2 (hot lane
    * embedding benchmark doc 0, uniform lane embedding id mod 16), missed
    * false everywhere, fp_ok true, and the 64 empty-text tail docs kept by
    * the left-outer rejoin. */
  test("q251 small analog: exact flags, no misses, empty docs retained") {
    val out = Dedup.bloomDecontaminate(
        Dedup.q251Corpus(spark, docs = 256L, benchDocs = 16L),
        Dedup.q251Benchmark(spark, n = 16L), "doc_id", "text")
      .collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Boolean]("contaminated"),
        r.getAs[Boolean]("missed"), r.getAs[Boolean]("fp_ok")))
    assert(out.length == 256)
    assert(out.forall { case (id, c, m, f) => c == (id < 128L) && !m && f },
      out.filterNot { case (id, c, m, f) => c == (id < 128L) && !m && f }
        .take(3).toString)
    // the hot lane really embeds benchmark doc 0's text verbatim
    val hot = Dedup.q251Corpus(spark, docs = 256L, benchDocs = 16L)
      .filter(col("doc_id") === 10L).collect()(0).getAs[String]("text")
    assert(hot.contains("k0t0 k0t1 k0t2 k0t3 k0t4 k0t5 k0t6"), hot)
  }

  test("q251 full corpus is 2^20 documents") {
    assert(Dedup.q251Corpus(spark).count() == 1048576L)
  }

  /** q253 pin, small analog (256-doc corpus, 8 pairs per class): new×old
    * copy pairs and new×new twins come back, corpus-internal old twins are
    * EXCLUDED (the incremental contract), fillers silent. */
  test("q253 small analog: new-involving pairs only, old twins excluded") {
    val out = Dedup.incrementalNearDups(
        Dedup.q253Corpus(spark, docs = 256L, pairs = 8L),
        Dedup.q253Batch(spark, corpusDocs = 256L, pairs = 8L),
        "doc_id", "text")
      .collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"),
        r.getAs[Int]("inter"), r.getAs[Double]("jaccard"))).toSet
    val copies = (0L until 16L).map(j => (16L + j, 256L + j, 5, 1.0))
    val twins = (0L until 8L).map(m =>
      (256L + 16 + 2 * m, 256L + 16 + 2 * m + 1, 5, 1.0))
    val expected = (copies ++ twins).toSet
    assert(out == expected,
      s"diff: ${(out -- expected).take(3)} / ${(expected -- out).take(3)}")
  }

  test("q253 full corpus is 2^20 documents, batch 2^14") {
    assert(Dedup.q253Corpus(spark).count() == 1048576L)
    assert(Dedup.q253Batch(spark).count() == 16384L)
  }

  /** q254 pin, small analog (256 docs, 8 pairs per class): full/partial/
    * boundary containment emit A→B only, the below class and every
    * reverse direction stay silent, and z-prefixed fillers (whose shared
    * boilerplate shingle is df-capped out of the universe at full scale —
    * here df ≈ 192 < maxPostings, so the cap is exercised via the
    * explicit maxPostings=64 override) produce nothing. */
  test("q254 small analog: directed classes exact, boilerplate capped") {
    val out = Dedup.containmentPairs(
        Dedup.q254Corpus(spark, docs = 256L, pairsPerClass = 8L),
        "doc_id", "text", maxPostings = 64)
      .collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"),
        r.getAs[Int]("inter"), r.getAs[Int]("n_a"),
        r.getAs[Double]("containment6"))).toSet
    val expected = (for {
      (base, inter, na, c6) <- Seq((0L, 8, 8, 1.0), (16L, 4, 6, 0.666667),
        (32L, 4, 8, 0.5))
      j <- 0L until 8L
    } yield (base + 2 * j, base + 2 * j + 1, inter, na, c6)).toSet
    assert(out == expected,
      s"diff: ${(out -- expected).take(3)} / ${(expected -- out).take(3)}")
  }

  test("q254 full corpus is 2^20 documents") {
    assert(Dedup.q254Corpus(spark).count() == 1048576L)
  }

  /** q271 pin, small analog (256 docs, 4 pairs per glue class, cap 16):
    * P glue df = 16 (AT the cap — survives), Q glue df = 17 (one over —
    * dropped), z glue df = 223 (sitewide — dropped). The verdict flip is
    * then checked DIRECTLY by moving the cap one step each way around the
    * same corpus. */
  test("q271 small analog: verdict flips exactly across the maxPostings cap") {
    val corpus = Dedup.q271Corpus(spark, docs = 256L, pairs = 4L, cap = 16)
    def run(cap: Int) = Dedup.containmentPairs(corpus, "doc_id", "text",
        maxPostings = cap)
      .collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"),
        r.getAs[Int]("inter"), r.getAs[Int]("n_a"),
        r.getAs[Double]("containment6"))).toSet
    val p = (0L until 4L).map(j => (2 * j, 2 * j + 1, 3, 6, 0.5)).toSet
    val q = (0L until 4L).map(j => (8 + 2 * j, 9 + 2 * j, 3, 6, 0.5)).toSet
    // at the designed cap: P emits at exactly the threshold, Q is silent
    assert(run(16) == p, "at-cap glue must survive; over-cap must drop")
    // one below: the P glue now exceeds the cap too — the class vanishes
    // (without the glue the geometry is 2 of 5 = 0.4, sub-threshold)
    assert(run(15).isEmpty, "a cap at df-1 must erase the P class")
    // one above: the Q glue re-enters the universe — both classes emit
    assert(run(17) == (p ++ q), "a cap at df+1 must revive the Q class")
  }

  test("q271 full corpus is 2^20 documents") {
    assert(Dedup.q271Corpus(spark).count() == 1048576L)
  }

  /** q256 pin, small analog (256 docs, 8 pairs per class): the repeated-
    * template twins report BAG size 66 (an implementation that dedups
    * shingles would say 34), the boundary pairs hit wj=0.8 exactly, the
    * below class and fillers are silent. */
  test("q256 small analog: bag sizes honest, boundary exact, below silent") {
    val out = Dedup.weightedNgramJaccardPairs(
        Dedup.q256Corpus(spark, docs = 256L, pairsPerClass = 8L),
        "doc_id", "text")
      .collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"),
        r.getAs[Long]("inter"), r.getAs[Long]("n_a"), r.getAs[Long]("n_b"),
        r.getAs[Double]("wjaccard6"))).toSet
    val expected = (for {
      (base, inter, sz, wj) <- Seq((0L, 66L, 66L, 1.0), (16L, 32L, 36L, 0.8))
      j <- 0L until 8L
    } yield (base + 2 * j, base + 2 * j + 1, inter, sz, sz, wj)).toSet
    assert(out == expected,
      s"diff: ${(out -- expected).take(3)} / ${(expected -- out).take(3)}")
  }

  test("q256 full corpus is 2^20 documents") {
    assert(Dedup.q256Corpus(spark).count() == 1048576L)
  }

  test("q265 small analog: reuse docs share 4 of 5 windows, clean docs " +
      "none, short docs are dropped by the length filter") {
    val docs = 4096L
    val r = docs / 4
    val s = docs / 8
    val got = Dedup.q265VerbatimAtScale0(spark, docs)
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getDouble(2)) ->
        ((x.getLong(3), x.getLong(4)))).toMap
    val total = docs * (docs - 1) / 2
    val reuseSum = 2L * r * (r - 1)
    val shortSum = 4L * s * (s - 1) + 5L * s
    assert(got.keySet == Set((5L, 4L, 0.8), (5L, 0L, 0.0)), got.keySet)
    assert(got((5L, 4L, 0.8)) == ((r, reuseSum)))
    assert(got((5L, 0L, 0.0)) ==
      ((docs - r - s, total - reuseSum - shortSum)))
    // per-doc spot check: one reuse doc's dup windows are the three
    // license-aligned windows plus the zero-padded straddle
    val win = Dedup.substrDupSignals(Dedup.q265Frame(spark, 64L),
        "doc_id", "text", k = 16, stride = 8)
      .collect().map(x => x.getLong(0) -> ((x.getLong(1), x.getLong(2))))
      .toMap
    assert(win(0L) == ((5L, 4L)) && win(4L) == ((5L, 4L)))
    assert(win(1L) == ((5L, 0L)) && win(2L) == ((5L, 0L)))
    assert(!win.contains(5L) && !win.contains(13L), "short docs leaked in")
  }

  test("q265 full corpus is 2^20 documents") {
    assert(Dedup.q265Frame(spark).count() == 1048576L)
  }

  test("q266 small analog: the four contamination layouts excise to the " +
      "expected literal fragments") {
    val docs = 4096L
    val m = docs / 4
    val expected = Dedup.q266Frags.map { case (cls, fid, txt, nt) =>
      (cls.toLong, fid, txt, nt) -> ((m, 2L * m * (m - 1) + cls * m))
    }.toMap
    val got = Dedup.q266SpanexcisionAtScale0(spark, docs)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2),
        r.getInt(3)) -> ((r.getLong(4), r.getLong(5)))).toMap
    assert(got == expected, {
      val d = (got.keySet ++ expected.keySet)
        .find(k => got.get(k) != expected.get(k))
      s"first diff at $d: got ${d.flatMap(got.get)}, " +
        s"want ${d.flatMap(expected.get)}"
    })
  }

  test("q266 full corpus is 2^20 documents") {
    assert(Dedup.q266Frame(spark).count() == 1048576L)
  }

  test("native minhash_signature is bit-identical to the aggregate form") {
    import org.apache.spark.sql.functions._
    // varied docs: multi-shingle, short (< n tokens), duplicate shingles,
    // empty text, null text — every branch of the expression
    val docs = spark.createDataFrame(Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "one two"),
      (3L, "rep rep rep rep rep rep"),
      (4L, ""),
      (5L, null.asInstanceOf[String])
    )).toDF("doc_id", "text")
    val (n, k) = (3, 64)
    // the r15-replaced explode+aggregate formulation, verbatim
    val sh = docs.select(col("doc_id"),
      explode(array_distinct(Dedup.shingles(col("text"), n))).as("s"))
    val mins = (0 until k).map(j => min(xxhash64(col("s"), lit(j))).as(s"m$j"))
    val oldForm = sh.groupBy(col("doc_id")).agg(mins.head, mins.tail: _*)
      .select(col("doc_id"),
        array((0 until k).map(j => col(s"m$j")): _*).as("sig"))
    val newForm = Dedup.minHashSignatures(docs, "doc_id", "text", n, k)
    val o = oldForm.collect().map(r =>
      r.getLong(0) -> r.getSeq[Long](1)).toMap
    val nw = newForm.collect().map(r =>
      r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(o == nw, s"signatures diverge: old=${o.keySet} new=${nw.keySet}")
    // the null-text doc is dropped by BOTH forms
    assert(!nw.contains(5L) && !o.contains(5L))
  }

  test("minHashSignatures computes each signature once: the optimized " +
      "plan holds one minhash_signature") {
    import org.apache.spark.sql.graft.MinHashSignature
    // a range, not a local Seq: the optimizer would fold a local
    // relation's whole plan into one LocalRelation
    val docs = spark.range(1, 3).select(col("id").as("doc_id"),
      when(col("id") === 1L, lit("a b c d")).as("text"))
    val sigs = Dedup.minHashSignatures(docs, "doc_id", "text", 3, 64)
    val found = sigs.queryExecution.optimizedPlan.flatMap(_.expressions
      .flatMap(_.collect { case m: MinHashSignature => m }))
    assert(found.size == 1, sigs.queryExecution.optimizedPlan.toString)
    assert(sigs.collect().map(_.getLong(0)).toSeq == Seq(1L))
  }

  test("native simhash64 is bit-identical to the packed-lane aggregate form") {
    import org.apache.spark.sql.functions._
    val docs = spark.createDataFrame(Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "one two"),
      (3L, "rep rep rep rep rep rep"),
      (4L, "  mixed   Whitespace\ttokens  "),
      (5L, ""),
      (6L, null.asInstanceOf[String])
    )).toDF("doc_id", "text")
    // the r15-replaced packed-lane aggregate formulation, verbatim
    val tok = graft.ops.Text
      .explodeTokens(docs.select(col("doc_id"), col("text")), "text", "t")
      .select(col("doc_id"), xxhash64(col("t")).as("h"))
    val packed = (0 until 32).map { g =>
      val lo = shiftright(col("h"), 2 * g).bitwiseAND(lit(1L))
      val hi = shiftright(col("h"), 2 * g + 1).bitwiseAND(lit(1L))
      sum(lo + shiftleft(hi, 32)).as(s"p$g")
    }
    val fp = (0 until 64).map { j =>
      val c = shiftright(col(s"p${j / 2}"), 32 * (j % 2))
        .bitwiseAND(lit(0xFFFFFFFFL))
      when(c * 2 > col("n"), lit(1L << j)).otherwise(lit(0L))
    }.reduce((a, b) => a.bitwiseOR(b))
    val oldForm = tok.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n"), packed: _*)
      .select(col("doc_id"), fp.as("simhash"))
    val o = oldForm.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val nw = Dedup.simHash(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(o == nw, s"fingerprints diverge: old=$o new=$nw")
    // empty and null text are dropped by BOTH forms
    assert(!nw.contains(5L) && !nw.contains(6L))
  }
}
