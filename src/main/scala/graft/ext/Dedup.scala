package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{CacheRegistry, Tables}
import graft.ops.Text

/** Deduplication for LLM training-data pipelines: exact key-dedup,
  * MinHash-LSH near-dedup, SimHash near-dedup, and exact n-gram Jaccard —
  * all banded/bucketed designs that never form an all-pairs join.
  *
  * The set-similarity detectors share one substrate and differ only in how
  * they form candidates and which measure they verify:
  *  - one set builder, [[rankedSets]]: hashed distinct shingle sets sorted
  *    rarest-first with their PPJoin prefix length and an optional df cap
  *    (exact Jaccard q35, containment q148); LSH and SimHash keep row-local
  *    [[hashedSets]] instead, so their path stays shuffle-free up to the
  *    bucket join;
  *  - one oversize cap, [[dropOversized]]: a broadcast anti-join against
  *    keys holding more than the cap (LSH buckets in q31/q70, shingle df in
  *    q148);
  *  - one Jaccard verify, [[verifyJaccard]], over `(doc_id, sh)` (q31,
  *    q35, q41, q70); containment keeps its directed `ratio6` verify.
  *
  * The reference has no dedup operator; its closest idiom is collation's
  * `list(set(l))` combiner (`/root/reference/examples/collation/
  * collation.py:18-19`). These are the north-star extensions from
  * SURVEY.md §7 step 5.
  */
object Dedup {

  /** Exact dedup: keep exactly one row per key — the row minimizing
    * `tieBreak` — via `min_by` so the plan is a single hash aggregate with
    * map-side partial aggregation. No window, no sort: at 100 TB a
    * `Window.partitionBy(key)` would sort every key group, while `min_by`
    * partial-aggregates to one struct per key per map task. */
  def exactDedup(df: DataFrame, keys: Seq[String], tieBreak: String): DataFrame = {
    val others = df.columns.toSeq
    df.groupBy(keys.map(col): _*)
      .agg(min_by(struct(others.map(col): _*), col(tieBreak)).as("kept"))
      .select(others.map(c => col(s"kept.$c").as(c)): _*)
  }

  /** Word n-gram shingles over the whitespace tokenizer; a document
    * shorter than `n` tokens contributes its whole token string. Backed by
    * the native codegen'd `ngram_shingles` expression — the equivalent
    * four-level HOF formulation evaluates interpreted and floored every
    * dedup query at ~0.7 ms/doc (see the expression's Scaladoc). */
  def shingles(text: Column, n: Int): Column =
    graft.functions.TextExpressions.ngramShingles(text, n)

  /** MinHash signatures: k independent min-hashes of each document's shingle
    * set. Hash j is `xxhash64(shingle, j)` — seeding by position replaces the
    * classical (a·h+b) mod p family with no quality loss.
    *
    * Shape matters enormously here, measured in three generations:
    *   - an array-expression formulation (`array(array_min(transform(sh,
    *     hash_j)) for j)`) duplicates the shingle subtree k times and
    *     evaluates every `transform` interpreted — 256 s for 5 000 docs;
    *   - the explode-then-aggregate form (one codegen'd hash aggregate
    *     with 64 min buffers) computes shingles once but re-hashes each
    *     shingle STRING k times (`xxhash64(s, j)` per j) and shuffles
    *     k longs per doc through the aggregate exchange;
    *   - the current form: one native row-local expression
    *     ([[org.apache.spark.sql.graft.MinHashSignature]]) that hashes
    *     each shingle string once, derives the k slot hashes by
    *     seed-chaining (`hashInt(j, hashUTF8String(s, 42))` — exactly the
    *     value `xxhash64(s, j)` produces, so signatures are BIT-IDENTICAL
    *     to the aggregate form, pinned by DedupSpec), and keeps the whole
    *     computation map-side: no explode, no aggregate, NO shuffle.
    * The null filter reproduces the explode form's silent drop of
    * null-text documents (no shingle rows → no group). It tests `text`,
    * not `sig`: the signature is null exactly when the text is, and the
    * optimizer pushes a `sig IS NOT NULL` below the projection with the
    * whole signature inlined into it, computing every signature twice. */
  def minHashSignatures(docs: DataFrame, id: String, text: String,
                        n: Int, k: Int): DataFrame =
    docs.filter(col(text).isNotNull)
      .select(col(id),
        graft.functions.TextExpressions.minHashSignature(col(text), n, k)
          .as("sig"))

  // ------------------------------------------- the set-similarity substrate

  /** Hashed distinct shingle sets, df-ranked: the one set builder behind
    * the prefix-filtered detectors ([[ngramJaccardPairs]],
    * [[containmentPairs]]). Per document it returns `(doc_id, sh, sz,
    * plen)`: `sh` is the distinct n-gram shingle set hashed to 64 bits and
    * sorted rarest-first by (document frequency, token), `sz` = |sh|, and
    * `plen` = `sz − minInter(sz) + 1` is the PPJoin prefix length for
    * `threshold` (see [[ngramJaccardPairs]]). `maxPostings`, when given,
    * is the df cap: shingles in more than that many documents leave the
    * shingle universe through [[dropOversized]] before ranking, so the
    * df-attach join's worst task holds ≤ maxPostings rows of one key.
    * The first frame returned holds the kept `(tok, doc_id, cnt)` rows the
    * sets were built from — with a cap, the postings index of
    * [[containmentPairs]].
    *
    * Payload and collisions — the argument for every hashed set in this
    * file ([[hashedSets]], [[weightedNgramJaccardPairs]]' bag counts):
    * shingles are made distinct as STRINGS (the semantic unit), then every
    * downstream stage carries `xxhash64(shingle)` (8 bytes) instead of the
    * ~25+-byte n-gram string. The verify joins shuffle both full `sh`
    * arrays per candidate row, so token width is the spill multiplier:
    * the containment verify's shuffle/spill measured 74 GB on the 100×
    * one-box probe while it carried string arrays, and hashing cut the
    * payload ~3–4×; intersects compare longs instead of strings. The
    * prefix filter is pigeonhole-based, so it is exact under any token
    * encoding. Sizes and intersections differ from the string-level truth
    * only if two DISTINCT shingles in one compared pair collide in 64
    * bits — probability ≤ sz²·2⁻⁶⁴ per pair (sz ≈ 10³ → ~5·10⁻¹⁴) — and
    * xxhash64 is deterministic, so a string-side oracle (DuckDB) either
    * always or never agrees for a given corpus. */
  private def rankedSets(docs: DataFrame, id: String, text: String, n: Int,
                         threshold: Double,
                         maxPostings: Option[Int]): (DataFrame, DataFrame) = {
    // persisted: the token rows feed both the df aggregate and the join
    // back, so the shingle-building subtree evaluates ONCE
    val sh = CacheRegistry.persist(docs.select(col(id).as("doc_id"),
      explode(array_distinct(shingles(col(text), n))).as("shingle"))
      .select(col("doc_id"), xxhash64(col("shingle")).as("tok")))
    val dfCounts = keyCounts(sh, "tok")
    val ranked = maxPostings.fold(sh)(dropOversized(sh, dfCounts, _))
      .join(dfCounts, Seq("tok"))
    // persisted when capped: the capped rows are then also containment's
    // container-side postings, and the cache keeps the join's partitioning
    // on tok, so the candidate join reads them without another shuffle
    val tokens =
      if (maxPostings.isDefined) CacheRegistry.persist(ranked) else ranked
    // persisted: the sets feed every detector's plan several times
    // (prefix sides, both verify sides) — without the persist the df
    // aggregation and ranking rerun per reference. At corpus scale it
    // spills to disk, which still beats recomputation.
    (tokens, CacheRegistry.persist(tokens
      .groupBy("doc_id")
      // groupagg-ok: one document's hashed shingle tokens — doc-sized
      .agg(sort_array(collect_list(struct(col("cnt"), col("tok"))))
        .as("ranked"))
      .select(col("doc_id"),
        transform(col("ranked"), r => r("tok")).as("sh"),
        size(col("ranked")).as("sz"))
      .withColumn("plen",
        (col("sz") - minInterExpr(threshold, "sz") + 1).cast("int"))))
  }

  /** Hashed distinct shingle sets `(doc_id, sh)` built row-locally — no
    * df, no shuffle — for the detectors whose candidates come from LSH or
    * SimHash banding rather than a df-ranked prefix. Persisted:
    * [[verifyJaccard]] reads it for both sides of every candidate pair.
    * Payload and collisions: see [[rankedSets]]. */
  private def hashedSets(docs: DataFrame, id: String, text: String,
                         n: Int): DataFrame =
    CacheRegistry.persist(docs.select(col(id).as("doc_id"),
      transform(array_distinct(shingles(col(text), n)), s => xxhash64(s))
        .as("sh")))

  /** Each document's prefix tokens — the first `plen` of its rarest-first
    * set — one row per (doc_id, tok). */
  private def prefixTokens(sets: DataFrame): DataFrame =
    sets.select(col("doc_id"),
      explode(slice(col("sh"), lit(1), col("plen"))).as("tok"))

  /** `⌈sz·(t − 5·10⁻⁷)⌉` in exact integer arithmetic over the size column
    * `sz` — the LOWEST intersection the final half-up six-digit
    * [[graft.ops.Relational.ratio6]] `≥ t` filter can accept. The PPJoin
    * prefix/length bounds must prune against THIS, not `⌈sz·t⌉`: a pair
    * whose true ratio is a hair under t still rounds up to t once
    * sz ≳ 2·10⁶ distinct shingles, and pruning with the unrounded bound
    * would drop a pair the exact-recompute oracle keeps. Below that size the two bounds differ by at most 1 — the
    * relaxation costs one extra prefix element. */
  private def minInterExpr(threshold: Double, sz: String): Column = {
    val t7 = math.round(threshold * 1e7) - 5
    expr(s"($sz * ${t7}L + 9999999L) div 10000000L")
  }

  /** Rows per key of `rows`, as `(keys…, cnt)`. A groupBy.count, NOT a
    * value-keyed window: count().over(Window.partitionBy(key)) would
    * shuffle every row of a hot key — a boilerplate shingle, a degenerate
    * LSH bucket — onto ONE task before any cap runs, and the hot keys are
    * exactly what the caps exist to drop. The aggregate partial-aggregates
    * map-side: one row per key per map task crosses the wire. */
  private def keyCounts(rows: DataFrame, keys: String*): DataFrame =
    rows.groupBy(keys.map(col): _*).agg(count(lit(1)).as("cnt"))

  /** The one oversize cap: drops every row of `rows` whose key holds more
    * than `cap` rows in `counts` (a [[keyCounts]] frame), as a broadcast
    * ANTI-join against the oversized keys. The oversized list is small —
    * at most (counted rows)/cap keys by pigeonhole — while the rows it
    * drops are the hottest in the frame, so they are dropped map-side and
    * never cross the wire. The alternatives both shuffle the hot rows: an
    * inner count-attach join lands a hot key's every row on the one task
    * owning it, and a shuffled semi join against the SMALL keys shuffles
    * the whole index plus an index-sized key list. Used by the LSH bucket
    * cap ([[lshCandidates]], [[incrementalNearDups]]) and the containment
    * df cap ([[containmentPairs]] via [[rankedSets]]). */
  private def dropOversized(rows: DataFrame, counts: DataFrame,
                            cap: Long): DataFrame = {
    val keys = counts.columns.toSeq.filter(_ != "cnt")
    // bcast-ok: keys holding more than `cap` rows — at most (counted
    // rows)/cap of them by pigeonhole, e.g. ~1.7k LSH buckets at 2²⁰ docs
    rows.join(broadcast(counts.filter(col("cnt") > cap)
      .select(keys.map(col): _*)), keys, "left_anti")
  }

  /** The one Jaccard verify: attaches both sides' hashed sets (`doc_id`,
    * `sh` — from [[rankedSets]] or [[hashedSets]]) to candidate pairs
    * `(id_a, id_b)` via two hash joins and keeps the pairs whose exact
    * Jaccard rounds to ≥ threshold, rounded by the integer-exact
    * [[graft.ops.Relational.ratio6]] like every other detector's ratio.
    * Output: (id_a, id_b, inter, n_a, n_b, jaccard) — the integer columns
    * make cross-engine comparison exact.
    * [[containmentPairs]] keeps its own directed verify. */
  private def verifyJaccard(pairs: DataFrame, sets: DataFrame,
                            threshold: Double): DataFrame =
    pairs
      .join(sets.as("sa"), col("id_a") === col("sa.doc_id"))
      .join(sets.as("sb"), col("id_b") === col("sb.doc_id"))
      .withColumn("inter", size(array_intersect(col("sa.sh"), col("sb.sh"))))
      .withColumn("n_a", size(col("sa.sh")))
      .withColumn("n_b", size(col("sb.sh")))
      .withColumn("jaccard",
        graft.ops.Relational.ratio6("inter", "n_a + n_b - inter"))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "inter", "n_a", "n_b", "jaccard")

  // ----------------------------------------------------------- the detectors

  /** One (id, band, bandHash) row per document per band — the LSH bucket
    * index. Shared by the batch self-join ([[lshCandidates]]) and the
    * incremental probe join ([[incrementalNearDups]]). The band hash takes
    * its r = sigLen/bands elements as direct `element_at` arguments: no
    * per-band array allocation (a `slice` copies r longs per band per row)
    * and no 16-struct row before the explode — measured on the 2²⁰-doc
    * q253 corpus at 14.1 s → 7.3 s for the band stage. Equal bands hash
    * equal; unequal ones collide with probability 2⁻⁶⁴ (bh is an internal
    * grouping key, never an output). */
  private def bandBuckets(withSig: DataFrame, id: String, bands: Int,
                          sigLen: Int): DataFrame = {
    require(sigLen > 0 && sigLen % bands == 0,
      s"LSH banding: bands ($bands) must divide the signature length ($sigLen)")
    val r = sigLen / bands
    val bhs = (0 until bands).map { b =>
      xxhash64((lit(b) +: (1 to r).map(j =>
        element_at(col("sig"), b * r + j))): _*)
    }
    withSig.select(col(id), posexplode(array(bhs: _*)).as(Seq("band", "bh")))
  }

  /** LSH banding: `sigLen`-long signatures cut into `bands` bands of
    * sigLen/bands rows; two documents are candidates iff some band hashes
    * identically. Returns (id_a, id_b) candidate pairs from a bucket
    * equi-join — the shuffle key is (band, bandHash), so cost scales with
    * bucket sizes, never |docs|². Buckets larger than `maxBucket` are
    * dropped ([[dropOversized]]): a bucket with thousands of members is a
    * degenerate hash (boilerplate shingle) whose pairs would dominate cost
    * while being verifiable from other bands. */
  def lshCandidates(docs: DataFrame, id: String, sig: Column,
                    bands: Int, maxBucket: Int = 10000,
                    sigLen: Int): DataFrame = {
    // persisted: the bucket index feeds the sizing aggregate AND both
    // sides of the capped self-join, and its lineage holds the whole
    // signature computation. The capped frame is not persisted: both
    // sides re-apply the broadcast anti-join map-side over the cached
    // index, cheaper than a second index-sized cache read twice.
    val buckets = CacheRegistry.persist(
      bandBuckets(docs.select(col(id), sig.as("sig")), id, bands, sigLen))
    val capped =
      dropOversized(buckets, keyCounts(buckets, "band", "bh"), maxBucket)
    capped.as("l")
      .join(capped.as("r"),
        col("l.band") === col("r.band") && col("l.bh") === col("r.bh") &&
          col(s"l.$id") < col(s"r.$id"))
      .select(col(s"l.$id").as("id_a"), col(s"r.$id").as("id_b"))
      .distinct()
  }

  /** MinHash-LSH near-duplicate detection: shingle → signature → banded
    * candidates → exact-Jaccard verification over row-local
    * [[hashedSets]].
    *
    * Default banding k=64/b=16 (4 rows per band) balances both failure
    * modes, measured on the test corpora:
    *   - recall: k=32/b=8 missed a j≈0.89 boundary pair (per-pair miss
    *     (1−j⁴)⁸ ≈ 4·10⁻⁴); 16 bands square that away (≈2·10⁻⁷);
    *   - selectivity: r=2 bands admit background pairs at P≈j² per band —
    *     on a 5k-doc corpus with 1.1M shingle-sharing pairs (background
    *     j≈0.05–0.3) that ballooned candidates to ~1M; r=4 keeps the
    *     background admission near (j⁴)·16 ≈ 10⁻⁴, so verification cost
    *     tracks true near-dups, not corpus noise. */
  def nearDupMinHash(docs: DataFrame, id: String, text: String,
                     n: Int = 3, k: Int = 64, bands: Int = 16,
                     threshold: Double = 0.8,
                     maxBucket: Int = 10000): DataFrame = {
    val withSig = minHashSignatures(docs, id, text, n, k)
    val pairs = lshCandidates(withSig, id, col("sig"), bands, maxBucket,
      sigLen = k)
    verifyJaccard(pairs, hashedSets(docs, id, text, n), threshold)
  }

  /** Exact n-gram Jaccard with prefix filtering (the AllPairs/PPJoin
    * candidate bound): under a global rarity order of shingles, a pair with
    * Jaccard ≥ t must share a token among each side's first
    * `|X| − ⌈t·|X|⌉ + 1` tokens — because J ≥ t forces an overlap of at
    * least ⌈t·max(|A|,|B|)⌉ ≥ ⌈t·|X|⌉, and a pair sharing nothing in
    * either prefix cannot reach it. So only the RAREST ~(1−t) fraction of
    * each document's shingles generates candidates, instead of every
    * shared shingle (a naive inverted index pairs every pair of docs
    * sharing ANY shingle — millions of background pairs on a 5k-doc
    * corpus, and quadratic blowup on common boilerplate at 100 TB).
    * Candidates are then verified exactly on the full shingle sets. The
    * sets are [[rankedSets]] with no df cap; the bound uses the rounding
    * slack of [[minInterExpr]]. */
  def ngramJaccardPairs(docs: DataFrame, id: String, text: String,
                        n: Int = 3, threshold: Double = 0.8): DataFrame = {
    val (_, sets) = rankedSets(docs, id, text, n, threshold, maxPostings = None)
    val prefixes = prefixTokens(sets)
    val cand = prefixes.as("a")
      .join(prefixes.as("b"),
        col("a.tok") === col("b.tok") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .distinct()
    verifyJaccard(cand, sets, threshold)
  }

  /** Asymmetric shingle CONTAINMENT pairs: all ordered (id_a, id_b) with
    * |A∩B| / |A| ≥ threshold — "most of A's n-grams appear in B". The
    * directed relation symmetric Jaccard cannot express: a quote, mirror
    * excerpt, or boilerplate-wrapped copy is CONTAINED in its source while
    * their Jaccard stays low (the big doc's extra shingles dilute the
    * union). Crawl curation uses it to drop the contained copy and keep
    * the superset document.
    *
    * Scale shape — the asymmetric PPJoin variant of [[ngramJaccardPairs]]
    * over the same [[rankedSets]]: the prefix filter applies to the
    * CONTAINED side only (A must share at least one of its `sz−⌈t·sz⌉+1`
    * rarest shingles with B), while the B side indexes its full shingle
    * set — containment puts no lower bound on B's size, so B gets no
    * prefix. Candidate cost is bounded by the document frequency of A's
    * rarest shingles (prefixes are df-ranked, so hot boilerplate shingles
    * stay out of the probe side), and the verify step is one
    * array_intersect over the two cached sets. All shuffles are
    * key-partitioned aggregates/joins; nothing is windowed by value.
    *
    * `maxPostings` hard-caps worst-case candidate volume (the mirror of
    * [[lshCandidates]]' `maxBucket`, through the same [[dropOversized]]):
    * shingles appearing in more than `maxPostings` documents are
    * boilerplate by definition and are excluded from the shingle UNIVERSE
    * — prefixes, postings, and the verify intersect all operate on the
    * capped sets, so both engines (and the oracle SQL) agree on the
    * reduced semantics. This bounds every posting list at `maxPostings`
    * rows, making candidate volume ≤ |prefix occurrences| × maxPostings
    * instead of quadratic in the hottest shingle's df. Recall note:
    * containment is then judged over non-boilerplate shingles only — a
    * pair whose overlap is PURE boilerplate no longer qualifies (usually
    * the desired behavior: a shared nav bar is not containment), and a
    * document consisting entirely of capped shingles gets no judgment at
    * all. The default (10000) never binds on the test corpora — semantics
    * there are identical to the uncapped operator.
    *
    * Residual cost honesty: on a twin-heavy corpus (k verbatim copies of
    * each doc) the TRUE output is itself Θ(k²) pairs — no candidate cap
    * can make that cheap, which is why the pipeline discipline is
    * exact-dedup (q27) BEFORE containment. The cap bounds the
    * boilerplate-driven failure mode, not the duplicated-corpus one. */
  def containmentPairs(docs: DataFrame, id: String, text: String,
                       n: Int = 3, threshold: Double = 0.5,
                       maxPostings: Int = defaultMaxPostings): DataFrame = {
    // container-side postings: every kept token of every doc — each
    // posting list is ≤ maxPostings rows by construction
    val (postings, sets) =
      rankedSets(docs, id, text, n, threshold, Some(maxPostings))
    val cand = prefixTokens(sets).as("a")
      .join(postings.as("b"),
        col("a.tok") === col("b.tok") &&
          col("a.doc_id") =!= col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .distinct()
    cand
      .join(sets.as("fa"), col("id_a") === col("fa.doc_id"))
      .join(sets.as("fb"), col("id_b") === col("fb.doc_id"))
      // length filter BEFORE the intersect: a qualifying pair needs
      // inter ≥ minInter(sz_a) ≤ min(sz_a, sz_b), so a container shorter
      // than that cannot qualify — implied by the final threshold filter
      // (with the same rounding slack), but it prunes candidates ahead of
      // the O(sz) intersect and pushes into the join
      .filter(col("fb.sz").cast("long") >= minInterExpr(threshold, "fa.sz"))
      .withColumn("inter", size(array_intersect(col("fa.sh"), col("fb.sh"))))
      .withColumn("n_a", col("fa.sz").cast("int"))
      // integer half-up ratio, not round(double): cross-engine-exact
      .withColumn("containment6",
        graft.ops.Relational.ratio6("inter", "n_a"))
      .filter(col("containment6") >= threshold)
      .select(col("id_a"), col("id_b"), col("inter").cast("int").as("inter"),
        col("n_a"), col("containment6"))
  }

  // --- q148_containment: directed near-dup (excerpt → source) -------------
  def q148Containment(spark: SparkSession, dir: String): DataFrame =
    containmentPairs(Tables.documents(spark, dir), "doc_id", "text")

  /** Benchmark decontamination — the training-data step that removes
    * evaluation contamination: a corpus document is contaminated when it
    * shares at least one distinct word n-gram with any benchmark document.
    * The reference has no such operator; it is standard practice for LLM
    * training corpora (n-gram overlap against held-out benchmarks).
    *
    * Shape for 100 TB: the benchmark side is small by definition, so its
    * DISTINCT shingle set is broadcast — the corpus is scanned once and
    * never shuffled for the membership test; the only corpus-sized shuffle
    * is the per-doc hit count (map-side partial agg on doc id). Returns
    * every corpus doc with its hit count and a `contaminated` flag —
    * filtering is the caller's one-liner, keeping the counts inspectable.
    */
  def decontaminate(corpus: DataFrame, benchmark: DataFrame,
                    id: String, text: String, n: Int = 5): DataFrame = {
    val benchSh = benchmark
      .select(explode(array_distinct(shingles(col(text), n))).as("shingle"))
      .distinct()
    val hits = corpus
      .select(col(id), explode(array_distinct(shingles(col(text), n))).as("shingle"))
      // bcast-ok: benchmark-side shingles — decontamination contract: benchmark suites << corpus (scaladoc)
      .join(broadcast(benchSh), Seq("shingle"), "inner")
      .groupBy(col(id))
      .agg(count(lit(1)).cast("int").as("n_hit_shingles"))
    corpus.select(col(id))
      .join(hits, Seq(id), "left_outer")
      .select(col(id),
        coalesce(col("n_hit_shingles"), lit(0)).as("n_hit_shingles"),
        (coalesce(col("n_hit_shingles"), lit(0)) > 0).as("contaminated"))
  }

  /** Bloom-filter decontamination — [[decontaminate]]'s scale path for when
    * the benchmark's distinct shingle set is too large to broadcast as rows.
    * A 2²⁰-bit filter is 128 KB no matter how many shingles feed it (as
    * strings, a large benchmark suite's 5-grams run to tens of GB); the
    * price is a bounded false-positive rate, which decontamination
    * tolerates by construction — a false positive drops one extra clean
    * document, a false negative would leak an eval answer into training,
    * and a Bloom filter provably never produces the latter.
    *
    * Build: k probe positions per benchmark shingle (`xxhash64(shingle, i)
    * mod m`), OR'd into 64-bit words with a map-side-partial `bit_or`
    * aggregate, assembled into ONE map row and broadcast. Probe: the corpus
    * is scanned once; each shingle tests its k bits via `element_at` on the
    * broadcast map — no join, no shuffle until the per-doc aggregate (which
    * partial-aggregates map-side). The exact membership flag rides the same
    * scan (broadcast left join against the benchmark set) so the returned
    * frame certifies the filter against ground truth:
    * `missed` (exact hit the filter failed to flag) is FALSE for every row
    * by Bloom's no-false-negative guarantee, and `fp_ok` asserts the
    * observed per-document false-positive fraction stays under
    * `maxDocFpFrac`. Output: (id, contaminated, missed, fp_ok).
    *
    * SIZING CONTRACT: the defaults (2²⁰ bits, k=3) are sized for up to
    * ~50k distinct benchmark shingles (fill ≲ 15%, per-probe FP ≲ 0.3%).
    * A benchmark suite with millions of shingles needs a proportionally
    * larger `mBits` (rule of thumb: ≥ 16–20 bits per distinct shingle) —
    * still KBs-to-MBs where the raw strings are GBs. `fp_ok` is the
    * runtime check that the sizing held: an undersized filter fails the
    * flag (and the q69 oracle) loudly instead of silently over-dropping.
    */
  def bloomDecontaminate(corpus: DataFrame, benchmark: DataFrame,
                         id: String, text: String, n: Int = 5,
                         mBits: Int = 1 << 20, kHashes: Int = 3,
                         maxDocFpFrac: Double = 0.05): DataFrame = {
    require((mBits & (mBits - 1)) == 0 && mBits >= 64,
      s"bloomDecontaminate: mBits must be a power of two >= 64, got $mBits")
    // persisted: the distinct benchmark set feeds BOTH the Bloom build and
    // the exact-membership broadcast — without it the benchmark is
    // shingled and distinct-aggregated twice
    val benchSh = CacheRegistry.persist(benchmark
      .select(explode(array_distinct(shingles(col(text), n))).as("shingle"))
      .distinct())
    val bloomMap = benchSh
      .select(explode(array((0 until kHashes).map(i =>
        pmod(xxhash64(col("shingle"), lit(i)), lit(mBits.toLong))): _*)).as("pos"))
      .groupBy(shiftright(col("pos"), 6).as("widx"))
      .agg(expr("bit_or(shiftleft(CAST(1 AS BIGINT), CAST(pmod(pos, 64) AS INT)))")
        .as("bits"))
      // groupagg-ok: ≤ mBits/64 filter words — fixed constant
      .agg(map_from_entries(collect_list(struct(col("widx"), col("bits")))).as("bm"))
    val probed = corpus
      .select(col(id), explode(array_distinct(shingles(col(text), n))).as("shingle"))
      // bcast-ok: benchmark-side shingles — decontamination contract: benchmark suites << corpus (scaladoc)
      .join(broadcast(benchSh.withColumn("__bench", lit(true))),
        Seq("shingle"), "left_outer")
      // bcast-ok: bloomMap is a 1-row map aggregate
      .crossJoin(broadcast(bloomMap))
    val allBitsSet = (0 until kHashes).map { i =>
      expr(s"(shiftright(coalesce(element_at(bm, shiftright(" +
        s"pmod(xxhash64(shingle, $i), CAST($mBits AS BIGINT)), 6)), " +
        s"CAST(0 AS BIGINT)), " +
        s"CAST(pmod(pmod(xxhash64(shingle, $i), CAST($mBits AS BIGINT)), 64) AS INT)) & 1) = 1")
    }.reduce(_ && _)
    val perDoc = probed
      .groupBy(col(id))
      .agg(max(coalesce(col("__bench"), lit(false))).as("contaminated"),
        max(allBitsSet).as("bloom_hit"))
    // rejoin onto the corpus ids: a NULL-text document produces no shingle
    // rows (explode of a null array emits nothing) and would silently
    // vanish from the output — decontaminate() keeps every corpus doc, so
    // this path must too
    val allDocs = corpus.select(col(id))
      .join(perDoc, Seq(id), "left_outer")
      .select(col(id),
        coalesce(col("contaminated"), lit(false)).as("contaminated"),
        coalesce(col("bloom_hit"), lit(false)).as("bloom_hit"))
    val fpStats = allDocs.agg(
      (sum(when(col("bloom_hit") && !col("contaminated"), 1L).otherwise(0L)) <=
        count(lit(1)).cast("double") * maxDocFpFrac).as("fp_ok"))
    // bcast-ok: fpStats is a 1-row global aggregate
    allDocs.crossJoin(broadcast(fpStats))
      .select(col(id), col("contaminated"),
        (col("contaminated") && !col("bloom_hit")).as("missed"),
        col("fp_ok"))
  }

  /** Incremental near-dup detection: check a NEW batch of documents against
    * an existing corpus (and against itself) without re-pairing the corpus.
    * The batch-mode [[nearDupMinHash]] self-joins the full bucket index —
    * right for a one-time corpus dedup, quadratic waste when 0.1% of a
    * 100 TB corpus arrives daily. Here only the new batch's buckets probe
    * the combined index, so join work scales with |new|, not |corpus|²;
    * in production the corpus side's signatures come from a signature
    * store written by the original dedup pass (they are recomputed here —
    * per-document work that maps over the corpus once, no pairing).
    * Returns exactly the near-dup pairs involving at least one new
    * document, in [[nearDupMinHash]]'s output schema, through the same
    * bucket cap ([[dropOversized]]) and verify ([[verifyJaccard]]). */
  def incrementalNearDups(corpus: DataFrame, newDocs: DataFrame,
                          id: String, text: String,
                          n: Int = 3, k: Int = 64, bands: Int = 16,
                          threshold: Double = 0.8,
                          maxBucket: Int = 10000): DataFrame = {
    val bNew = CacheRegistry.persist(bandBuckets(
      minHashSignatures(newDocs, id, text, n, k), id, bands, sigLen = k))
    // Probe-side pruning: only buckets the NEW batch occupies can produce
    // a pair (the pair join's left side is bNew), so the corpus index is
    // filtered to those buckets map-side BEFORE anything is sized, cached,
    // or shuffled — otherwise the whole |corpus|×bands index (2²⁴ rows at
    // the q253 gate) goes through the bucket-size aggregate and a cache
    // whose members overwhelmingly sit in never-probed buckets. The semi
    // join keeps EVERY member of a probed bucket, so the sizes below equal
    // the full-index sizes for every bucket that can produce a pair: the
    // cap sees a boilerplate bucket as hot whichever batch its members
    // arrived in, and the output equals the batch pair set restricted to
    // pairs with a new side.
    val probedKeys = bNew.select("band", "bh").distinct()
    val bAll = CacheRegistry.persist(
      bNew.unionByName(bandBuckets(
          minHashSignatures(corpus, id, text, n, k), id, bands, sigLen = k))
        // bcast-ok: distinct (band,bh) of the new batch — ≤ |new|·bands
        // two-long rows; |new| ≪ |corpus| is the operator's contract (a
        // corpus-sized batch belongs in nearDupMinHash's self-join instead)
        .join(broadcast(probedKeys), Seq("band", "bh"), "left_semi"))
    val sizes = keyCounts(bAll, "band", "bh")
    val pairs = dropOversized(bNew, sizes, maxBucket).as("l")
      .join(dropOversized(bAll, sizes, maxBucket).as("r"),
        col("l.band") === col("r.band") && col("l.bh") === col("r.bh") &&
          col(s"l.$id") =!= col(s"r.$id"))
      // canonical (min, max) ordering: a new×new pair is seen from both
      // sides, a new×old pair from the new side only — distinct unifies
      .select(least(col(s"l.$id"), col(s"r.$id")).as("id_a"),
        greatest(col(s"l.$id"), col(s"r.$id")).as("id_b"))
      .distinct()
    verifyJaccard(pairs, hashedSets(corpus.unionByName(newDocs), id, text, n),
      threshold)
  }

  /** 64-bit SimHash over the token multiset: per-bit weighted votes
    * (+1/−1 per token occurrence by the token hash's bit), sign of the
    * vote becomes the fingerprint bit — bit j is set iff 2·(set-bit
    * count) > token count.
    *
    * Shape history (each generation measured): the first form was an
    * explode + packed-lane hash aggregate (two 32-bit counters per long —
    * a 64-buffer aggregate blows past `spark.sql.codegen.maxFields` and
    * drops to interpreted execution, 5× slower). The current form is one
    * native row-local expression ([[org.apache.spark.sql.graft.SimHash64]])
    * that tokenizes, hashes each token once, and votes all 64 bits in a
    * single JIT-compiled pass — no explode, no aggregate, NO shuffle, and
    * bit-identical to the packed-lane form (integer arithmetic; pinned by
    * DedupSpec old-vs-new). The null filter reproduces the aggregate
    * form's silent drop of token-less documents (no rows → no group). */
  def simHash(docs: DataFrame, id: String, text: String): DataFrame =
    docs.select(col(id),
        graft.functions.TextExpressions.simHash64(col(text)).as("simhash"))
      .filter(col("simhash").isNotNull)

  /** SimHash near-dup: band the 64-bit fingerprint into eight 8-bit blocks
    * (pigeonhole: hamming ≤ 7 ⇒ at least one block matches exactly),
    * bucket-join on (block, value), gate on hamming distance, then verify
    * with exact Jaccard like the other detectors. Eight narrow blocks
    * trade bucket selectivity for a hamming-7 recall guarantee — so
    * `maxHamming` defaults to 7, the largest distance the banding
    * provably generates a candidate for (a hamming-8 pair with one
    * differing bit per block matches no block). The planted corpus
    * near-dups sit at hamming 0–5; a wider-block layout (4×16) would
    * need hamming ≤ 3 and provably misses them.
    *
    * Length stratification: a document with few tokens has too little
    * per-bit vote signal for a stable 64-bit fingerprint (one changed word
    * out of 11 flips many bits), so documents with ≤ `shortDocTokens`
    * distinct shingles take the exact inverted-index path instead. That
    * path is complete, and cheap by construction: Jaccard ≥ t bounds the
    * partner's set size to shortDocTokens/t, so only docs that small join
    * the index — the pair space is (short × short-ish), never (short ×
    * corpus). Pairs where both sides exceed the cutoff go through SimHash,
    * which has real signal there. The two emitted pair sets are disjoint
    * (min side ≤ cutoff vs both > cutoff).
    *
    * `blocks` is THE corpus-size knob: k blocks of 64/k bits guarantee
    * candidates for hamming ≤ k−1, and expected bucket occupancy is
    * |docs| · k / 2^(64/k). The 8×8-bit default is right for corpora up to
    * ~10⁵ docs (buckets stay tens of rows); at 10⁶+ an 8-bit block value
    * collides ~|docs|/256 times and the bucket pair space turns quadratic
    * — switch to 4×16-bit blocks (maxHamming ≤ 3), where 2²⁰ docs yield
    * ~16-row buckets. Recall drops with the guarantee radius, which is the
    * honest trade: at crawl scale, hamming > 3 on 64 bits is not a
    * near-dup. `maxHamming` above blocks−1 stays legal (extra recall is
    * opportunistic, not guaranteed). */
  def nearDupSimHash(docs: DataFrame, id: String, text: String,
                     maxHamming: Int = 7, n: Int = 3,
                     threshold: Double = 0.8,
                     shortDocTokens: Int = 24,
                     blocks: Int = 8): DataFrame = {
    require(blocks >= 2 && 64 % blocks == 0,
      s"nearDupSimHash: blocks must divide 64 (got $blocks)")
    // persisted: both strata filter this frame, and the shingle sizing is
    // the expensive part of it
    val sized = CacheRegistry.persist(docs.withColumn("__sz",
      size(array_distinct(shingles(col(text), n)))))
    val partnerMax = math.floor(shortDocTokens / threshold).toInt
    val exactShort =
      ngramJaccardPairs(sized.filter(col("__sz") <= partnerMax).drop("__sz"),
          id, text, n, threshold)
        .filter(least(col("n_a"), col("n_b")) <= shortDocTokens)
    val longDocs = sized.filter(col("__sz") > shortDocTokens).drop("__sz")
    simHashPairs(longDocs, id, text, maxHamming, n, threshold, blocks)
      .union(exactShort)
  }

  /** The raw SimHash detector over one stratum — see [[nearDupSimHash]]. */
  private def simHashPairs(docs: DataFrame, id: String, text: String,
                           maxHamming: Int, n: Int,
                           threshold: Double, nBlocks: Int): DataFrame = {
    val fp = simHash(docs, id, text)
    val width = 64 / nBlocks
    // persisted: the block self-join references `blocks` on both sides,
    // and its lineage holds the 64-vote fingerprint aggregation
    val blocks = CacheRegistry.persist(fp.select(col(id), col("simhash"),
      explode(array(
        (0 until nBlocks).map(b =>
          struct(lit(b).as("blk"),
            shiftright(col("simhash"), width * b)
              .bitwiseAND(lit((1L << width) - 1)).as("v"))): _*))
        .as("bb"))
      .select(col(id), col("simhash"), col("bb.blk").as("blk"), col("bb.v").as("v")))
    // Salted self-join for the pair expansion. Two hazards this layout
    // kills, both measured at the 10× audit corpus:
    //  (a) the frame is tiny in BYTES but the join's output explodes
    //      quadratically per bucket, so AQE's byte-sized coalescing (the
    //      cached-plan re-coalesce LocalSession enables) would collapse
    //      it to ~11 partitions that own all the work (13s → 66s); the
    //      pinned-count repartitions are immune to the coalesce, and the
    //      join reuses them exchange-free;
    //  (b) a hot (blk, v) bucket — an 8-bit block value shared by many
    //      fingerprints — is ONE key, so no key-partitioning alone can
    //      split it (ratio-4 straggler on the expansion stage). The salt
    //      splits each bucket's pair space g ways: the left row keeps
    //      hash(id) mod g, the right side is replicated under all g salt
    //      values, and (blk, v, salt) joins produce every (l.id < r.id)
    //      pair exactly once — exact, g× replication of cheap 4-column
    //      rows, g× finer task granularity on the quadratic stage.
    val nPart = docs.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    val g = 8
    val lhs = blocks
      .withColumn("sg", pmod(xxhash64(col(id)), lit(g.toLong)).cast("int"))
      .repartition(nPart, col("blk"), col("v"), col("sg"))
    val rhs = blocks
      .withColumn("sg", explode(array((0 until g).map(lit): _*)))
      .repartition(nPart, col("blk"), col("v"), col("sg"))
    val pairs = lhs.as("l")
      .join(rhs.as("r"),
        col("l.blk") === col("r.blk") && col("l.v") === col("r.v") &&
          col("l.sg") === col("r.sg") && col(s"l.$id") < col(s"r.$id"))
      .filter(bit_count(col("l.simhash").bitwiseXOR(col("r.simhash"))) <= maxHamming)
      .select(col(s"l.$id").as("id_a"), col(s"r.$id").as("id_b"))
      .distinct()
    verifyJaccard(pairs, hashedSets(docs, id, text, n), threshold)
  }

  /** Winnowing fingerprint selection + near-dup candidates (Schleimer /
    * Wilkerson / Aiken, SIGMOD'03 — the MOSS algorithm). Hash every k-token
    * gram, slide a window of `w` consecutive gram hashes over each
    * document, keep each window's MINIMUM hash (ties → rightmost), and
    * dedup the kept set: the paper's guarantee is that any token run of
    * length ≥ w+k−1 shared by two documents yields at least one shared
    * fingerprint, while only ~2/(w+1) of all grams are retained — a
    * position-robust sample that every-i-th-gram schemes (which one-token
    * insertions de-align) cannot give. Distinct from q39 (ONE whole-doc
    * fingerprint: equality-only), q31/q41 (set-level resemblance): this is
    * the LOCAL fingerprint family — shared fingerprints localize WHERE the
    * overlap is, which is why plagiarism/provenance pipelines use it.
    *
    * Scale shape: the gram build and window-min are doc-keyed window
    * functions — one shuffle of (doc, pos, token-value) longs, per-group
    * work bounded by document length, never a value-keyed window (the
    * PlanShapeSpec invariant). The candidate phase is the q35
    * inverted-index join on the fingerprint value with a stop-fingerprint
    * cap: any fingerprint held by more than `maxDf` documents is dropped
    * (boilerplate phrases — the df-capped analogue of q31's bucket cap),
    * so no bucket goes quadratic at corpus scale.
    *
    * Arithmetic is engine-neutral (q39's discipline): token value
    * `v = 31·len + first-char code`, gram hash a base-1000003 polynomial
    * mod 1e9+7, and the rightmost-min tie-break is encoded numerically as
    * `key = ghash·2²⁰ + (2²⁰−1 − gi)` so ONE `min()` over the w-frame
    * resolves both the value and the tie (larger gram index → smaller
    * key). `gi` is clamped into the 2²⁰ tie lane — past a million grams a
    * doc's ties break leftmost instead, which stays deterministic in both
    * engines. Window starts past `n−w+1` are suppressed (their frames are
    * truncated sub-windows); documents with fewer than w grams keep their
    * single full-frame minimum. */
  private[graft] def winnowingFingerprints(
      docs: DataFrame, id: String, text: String,
      k: Int, w: Int): DataFrame = {
    val M = 1000000007L
    val toks = Text.posTokens(docs.select(col(id), col(text)), text)
    val byDoc = Window.partitionBy(col(id)).orderBy(col("pos"))
    def v(c: Column): Column =
      (length(c) * 31 + ascii(substring(c, 1, 1))).cast("long")
    // k contiguous raw-split positions (empty tokens break gram chains —
    // the posTokens adjacency contract, same as the oracle's equi-joins)
    val withLeads = toks.select(col(id) +: col("pos") +: col("w") +:
        (1 until k).flatMap(j => Seq(
          lead(col("w"), j).over(byDoc).as(s"w$j"),
          lead(col("pos"), j).over(byDoc).as(s"pos$j"))): _*)
      .filter((1 until k).map(j => col(s"pos$j") === col("pos") + j)
        .reduce(_ && _))
    val ghash = (1 until k).foldLeft(v(col("w")))(
      (acc, j) => pmod(acc * 1000003L + v(col(s"w$j")), lit(M)))
    val grams = withLeads.select(col(id), col("pos"), ghash.as("ghash"))
    val seq = grams.select(col(id), col("ghash"),
      row_number().over(byDoc).as("gi"),
      count(lit(1)).over(Window.partitionBy(col(id))).as("n"))
    val keyed = seq.withColumn("tkey",
      col("ghash") * 1048576L +
        greatest(lit(0L), lit(1048575L) - col("gi")))
    keyed
      .withColumn("wk", min(col("tkey")).over(
        Window.partitionBy(col(id)).orderBy(col("gi")).rowsBetween(0, w - 1)))
      .filter(col("gi") <= greatest(lit(1), col("n") - (w - 1)))
      .select(col(id), expr("wk div 1048576").as("fp")).distinct()
  }

  def winnowingPairs(docs: DataFrame, id: String, text: String,
                     k: Int = 3, w: Int = 4, maxDf: Int = 64,
                     minShared: Int = 2): DataFrame = {
    // persisted: referenced by the stop-fingerprint cap, both join sides,
    // and the per-doc sizes — and its lineage holds the window stack
    val fps = CacheRegistry.persist(
      winnowingFingerprints(docs, id, text, k, w))
    val hot = fps.groupBy(col("fp")).agg(count(lit(1)).as("df"))
      .filter(col("df") > maxDf).select(col("fp"))
    val kept = fps.join(hot, Seq("fp"), "left_anti")
    val sizes = kept.groupBy(col(id)).agg(count(lit(1)).as("sz"))
    kept.as("a").join(kept.as("b"),
        col(s"a.fp") === col(s"b.fp") && col(s"a.$id") < col(s"b.$id"))
      .groupBy(col(s"a.$id").as("id_a"), col(s"b.$id").as("id_b"))
      .agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= minShared)
      .join(sizes.select(col(id).as("id_a"), col("sz").as("n_a")), Seq("id_a"))
      .join(sizes.select(col(id).as("id_b"), col("sz").as("n_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"), col("shared"),
        col("n_a"), col("n_b"),
        graft.ops.Relational.ratio6(
          "shared", "n_a + n_b - shared").as("resemblance6"))
  }

  /** Multiset (weighted) n-gram Jaccard pairs — q35 with MULTIPLICITY:
    * `J_w = Σ min(cA(s), cB(s)) / Σ max(cA(s), cB(s))`, the bag
    * resemblance that set Jaccard silently inflates for repetition-heavy
    * documents (a doc that repeats one template paragraph five times has
    * the same DISTINCT shingle set as one clean copy — weighted Jaccard
    * sees the mismatch; the q65 repetition signals are the per-doc
    * diagnosis, this is the pairwise detector). `Σ max = n_a + n_b −
    * Σ min`, so one min-sum join suffices.
    *
    * Scale shape: a shingle-keyed inverted-index self-join (shingles are
    * the sharp key unigrams are not) over hashed per-doc bag counts, with
    * no prefix filter, sizes joined after the pair aggregation; the
    * threshold and output ratio are one integer-exact
    * [[graft.ops.Relational.ratio6]] each.
    *
    * The PPJoin bound of [[ngramJaccardPairs]] does carry over to
    * multiplicities: tag each occurrence as (shingle, k) for k ≤ its
    * count, and Σ min / Σ max is exactly the set Jaccard of the tagged
    * sets. This private index stays because it is faster. A prototype of
    * the swap (tagged bag tokens, then [[rankedSets]]' ranking, the prefix
    * self-join and the `array_intersect` verify with ratio6) matched this
    * output on the small q256 analog, on 3 random repeat-heavy corpora at
    * t ∈ {0.5, 0.8} and on the full 2²⁰-document q256 (8,192 rows). At
    * full size it took 123.5 / 138.8 / 143.5 s against 92.3 / 71.8 /
    * 79.7 s for this index: median 138.8 s against 79.7 s (+74 %), 3 runs
    * each in one JVM on a 4-core VM, run in the order old, new, new, old,
    * old, new. */
  def weightedNgramJaccardPairs(docs: DataFrame, id: String, text: String,
                                n: Int = 3,
                                threshold: Double = 0.8): DataFrame = {
    // every row of the inverted-index self-join carries the shingle key,
    // so the n-gram string is hashed BEFORE the count aggregation; the bag
    // counts occurrences of the string up to 64-bit collisions (payload
    // and collision argument: rankedSets)
    val sh = CacheRegistry.persist(
      docs.select(col(id), explode(shingles(col(text), n)).as("s"))
        .select(col(id), xxhash64(col("s")).as("s"))
        .groupBy(col(id), col("s")).agg(count(lit(1)).as("c")))
    val sizes = sh.groupBy(col(id)).agg(sum(col("c")).as("sz"))
    sh.as("a").join(sh.as("b"),
        col("a.s") === col("b.s") && col(s"a.$id") < col(s"b.$id"))
      .groupBy(col(s"a.$id").as("id_a"), col(s"b.$id").as("id_b"))
      .agg(sum(least(col("a.c"), col("b.c"))).as("inter"))
      .join(sizes.select(col(id).as("id_a"), col("sz").as("n_a")), Seq("id_a"))
      .join(sizes.select(col(id).as("id_b"), col("sz").as("n_b")), Seq("id_b"))
      .filter(graft.ops.Relational.ratio6(
        "inter", "n_a + n_b - inter") >= threshold)
      .select(col("id_a"), col("id_b"), col("inter").cast("long").as("inter"),
        col("n_a").cast("long").as("n_a"), col("n_b").cast("long").as("n_b"),
        graft.ops.Relational.ratio6("inter", "n_a + n_b - inter")
          .as("wjaccard6"))
  }

  /** Vocabulary-growth (Heaps-law) curve: how many NEVER-SEEN-BEFORE
    * n-gram shingles each ingestion bucket contributes, cumulatively —
    * the corpus-health curve curation teams watch: a feed whose novel-
    * shingle rate collapses has gone stale/duplicated (the aggregate view
    * of q101's per-doc novelty; q101 scores documents, this scores the
    * INGESTION ORDER). First-seen attribution is the same
    * `groupBy(shingle).min(doc)` frame as q101 — one inverted-index
    * shuffle; the curve itself is a bucket-count-sized frame (corpus
    * rows ÷ bucketSize), so its single ordered cumulative window is
    * curve-sized by construction — pick bucketSize so the CURVE stays
    * human/driver-scale, which is what a curve is for. */
  def vocabGrowthCurve(docs: DataFrame, id: String, text: String,
                       n: Int = 3, bucketSize: Int = 50): DataFrame = {
    val sh = docs.select(col(id),
      explode(array_distinct(shingles(col(text), n))).as("s"))
    val first = sh.groupBy(col("s")).agg(min(col(id)).as("first_doc"))
    first.groupBy(expr(s"first_doc div $bucketSize").as("bucket"))
      .agg(count(lit(1)).as("novel"))
      .withColumn("cum_vocab",
        sum(col("novel")).over(org.apache.spark.sql.expressions.Window
          .orderBy(col("bucket"))))
      .select(col("bucket").cast("long").as("bucket"),
        col("novel").cast("long").as("novel"),
        col("cum_vocab").cast("long").as("cum_vocab"))
  }

  def q168VocabGrowth(spark: SparkSession, dir: String): DataFrame =
    vocabGrowthCurve(Tables.documents(spark, dir), "doc_id", "text")

  def q165WeightedJaccard(spark: SparkSession, dir: String): DataFrame =
    weightedNgramJaccardPairs(Tables.documents(spark, dir), "doc_id", "text")

  val q165WeightedJaccardSql: String = s"""
    WITH toks AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '')
               AS ts
      FROM documents),
    sh AS (
      SELECT doc_id, ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] AS s,
             COUNT(*) AS c
      FROM toks, unnest(range(1, len(ts) - 1)) AS u(i)
      WHERE len(ts) >= 3 GROUP BY 1, 2
      UNION ALL
      SELECT doc_id, array_to_string(ts, ' '), 1 FROM toks WHERE len(ts) < 3),
    sz AS (SELECT doc_id, SUM(c) AS sz FROM sh GROUP BY 1),
    pairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, SUM(LEAST(a.c, b.c)) AS inter
      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2)
    SELECT p.id_a, p.id_b, CAST(p.inter AS BIGINT) AS inter,
           CAST(za.sz AS BIGINT) AS n_a, CAST(zb.sz AS BIGINT) AS n_b,
           ${graft.ops.Relational.ratio6Sql(
             "p.inter", "za.sz + zb.sz - p.inter")} AS wjaccard6
    FROM pairs p
    JOIN sz za ON za.doc_id = p.id_a
    JOIN sz zb ON zb.doc_id = p.id_b
    WHERE ${graft.ops.Relational.ratio6Sql(
      "p.inter", "za.sz + zb.sz - p.inter")} >= 0.8"""

  // --------------------------------------------------------------- queries

  // --- q27_exact_dedup: one canonical document per (lang, source) --------
  def q27ExactDedup(spark: SparkSession, dir: String): DataFrame =
    exactDedup(
      Tables.documents(spark, dir).select("doc_id", "lang", "source", "n_chars"),
      keys = Seq("lang", "source"), tieBreak = "doc_id")

  val q27ExactDedupSql: String = """
    SELECT doc_id, lang, source, n_chars FROM (
      SELECT doc_id, lang, source, n_chars,
             ROW_NUMBER() OVER (PARTITION BY lang, source ORDER BY doc_id) AS rn
      FROM documents) t
    WHERE rn = 1"""

  /** The distinct-3-gram-shingle CTEs alone (`toks`, `sh`) — the DuckDB
    * mirror of `array_distinct(shingles(text, 3))`, shared by the pair
    * oracles and q101's novelty oracle. */
  private[ext] val ngramShingleCtes: String = """toks AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS ts
      FROM documents),
    sh AS (
      SELECT DISTINCT doc_id, ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] AS shingle
      FROM toks, unnest(range(1, len(ts) - 1)) AS u(i)
      WHERE len(ts) >= 3
      UNION
      -- COALESCE: array_to_string([], ' ') is NULL in DuckDB and a NULL
      -- shingle never equi-joins — an EMPTY doc would silently vanish
      -- from every per-doc rollup over sh while Spark's single empty
      -- shingle keeps it (round-8 edge-corpus sweep, q101)
      SELECT doc_id, COALESCE(array_to_string(ts, ' '), '')
      FROM toks WHERE len(ts) < 3)"""

  /** Shared CTE chain computing the exact 3-gram shingle pair overlaps —
    * composed into both the pair-set oracle and q47's cluster oracle. */
  private[ext] val ngramPairCtes: String = s"""$ngramShingleCtes,
    sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
    pairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2)"""

  /** Shared oracle for every near-dup detector: exact 3-gram Jaccard pairs
    * at threshold 0.8, computed in DuckDB with the same inverted-index
    * shape. The detectors (q31 MinHash-LSH, q41 SimHash) must recover this
    * exact pair set on the fixed corpus — recall misses fail the hash
    * compare, which is the point. */
  val ngramJaccardOracleSql: String = s"""
    WITH $ngramPairCtes
    SELECT p.id_a, p.id_b,
           CAST(p.inter AS INT) AS inter,
           CAST(za.sz AS INT) AS n_a,
           CAST(zb.sz AS INT) AS n_b,
           ROUND(CAST(p.inter AS DOUBLE) / (za.sz + zb.sz - p.inter), 6) AS jaccard
    FROM pairs p
    JOIN sizes za ON za.doc_id = p.id_a
    JOIN sizes zb ON zb.doc_id = p.id_b
    WHERE CAST(p.inter AS DOUBLE) / (za.sz + zb.sz - p.inter) >= 0.8"""

  // --- q35_ngram_jaccard: exact near-dup pairs (inverted index) -----------
  def q35NgramJaccard(spark: SparkSession, dir: String): DataFrame =
    ngramJaccardPairs(Tables.documents(spark, dir), "doc_id", "text")

  // --- q31_minhash_lsh: banded MinHash near-dup ---------------------------
  def q31MinHashLsh(spark: SparkSession, dir: String): DataFrame =
    nearDupMinHash(Tables.documents(spark, dir), "doc_id", "text")

  // --- q209_minhash_atscale: the full LSH pipeline at ≥1M documents -------
  /** At-scale correctness coverage for [[nearDupMinHash]] — q31 exercises
    * shingle → signature → banding → bucket join → exact-Jaccard verify
    * only on the few-thousand-row documents table; this replays the SAME
    * pipeline (identical defaults: n=3, k=64, 16 bands, t=0.8) over a
    * range-synthesized corpus of 2²⁰ documents where the answer is closed
    * form:
    *
    *  - the first 16 384 ids form 4 096 planted groups of 4 EXACT
    *    duplicates (ids 4g..4g+3 share the 7-token text "g⟨g⟩t0 … g⟨g⟩t6");
    *    identical text ⇒ identical shingle set ⇒ identical MinHash
    *    signature under ANY hash family ⇒ every band of every group
    *    collides, so the planted pairs are found with probability 1 — no
    *    probabilistic recall term in the oracle;
    *  - the remaining ~1.03M filler docs each carry 7 globally unique
    *    tokens ("f⟨id⟩t0 …"), so their shingle sets are pairwise disjoint
    *    from everything: true Jaccard 0 with every other document, and the
    *    verify stage's `jaccard ≥ 0.8` filter silences any band-hash
    *    coincidence (a 64-bit xxhash collision could only ever add a
    *    CANDIDATE, never an output row — the output is exactly the
    *    4 096 × C(4,2) = 24 576 planted pairs regardless);
    *  - every doc has 7 distinct tokens ⇒ exactly 5 distinct 3-shingles,
    *    so inter = n_a = n_b = 5 and jaccard = 1.0 on every output row.
    *
    * Group band-buckets hold 4 members (≪ maxBucket), fillers are
    * singletons — the cap path runs without dropping anything. ~5.2M
    * shingle rows × 64 seeded hashes feed the signature aggregate and
    * 2²⁴ band-bucket rows feed the capped self-join, all inside the
    * correctness gate at every sf. Runs once in Bench's stress lane;
    * DedupSpec pins the small-analog pair list and the ≥1M doc count. */
  private[graft] val q209Groups = 4096L
  private[graft] val q209GroupSize = 4L
  private[graft] val q209Docs = 1048576L

  private[graft] def q209Corpus(spark: SparkSession, docs: Long = q209Docs,
                                groups: Long = q209Groups): DataFrame = {
    val dup = groups * q209GroupSize
    spark.range(docs)
      .withColumn("p",
        when(col("id") < dup,
          concat(lit("g"), expr(s"CAST(id div $q209GroupSize AS STRING)")))
          .otherwise(concat(lit("f"), col("id").cast("string"))))
      .select(col("id").as("doc_id"),
        concat_ws(" ",
          (0 until 7).map(t => concat(col("p"), lit(s"t$t"))): _*).as("text"))
  }

  def q209MinhashAtScale(spark: SparkSession, dir: String): DataFrame =
    nearDupMinHash(q209Corpus(spark), "doc_id", "text")

  /** Closed form: all within-group ordered pairs, 5-shingle sets, J = 1. */
  private[graft] def q209OracleSql(groups: Long = q209Groups,
                                   groupSize: Long = q209GroupSize): String = s"""
    SELECT CAST(g * $groupSize + p AS BIGINT) AS id_a,
           CAST(g * $groupSize + q AS BIGINT) AS id_b,
           CAST(5 AS INT) AS inter, CAST(5 AS INT) AS n_a,
           CAST(5 AS INT) AS n_b, CAST(1.0 AS DOUBLE) AS jaccard
    FROM (SELECT CAST(u.i AS BIGINT) AS g FROM unnest(range(0, $groups)) AS u(i)),
         (SELECT CAST(u.i AS BIGINT) AS p FROM unnest(range(0, $groupSize)) AS u(i)),
         (SELECT CAST(u.i AS BIGINT) AS q FROM unnest(range(0, $groupSize)) AS u(i))
    WHERE p < q"""

  // --- q41_simhash: SimHash-banded near-dup -------------------------------
  def q41SimHash(spark: SparkSession, dir: String): DataFrame =
    nearDupSimHash(Tables.documents(spark, dir), "doc_id", "text")

  // --- q249_simhash_atscale: both SimHash strata at ≥1M documents ---------
  /** At-scale correctness coverage for [[nearDupSimHash]] — q41 runs the
    * detector over the few-thousand-row documents table; this replays the
    * SAME entry point over 2²⁰ range-built documents, exercising BOTH
    * length strata and the 4×16-bit block layout that IS the scale
    * configuration (see the `blocks` scaladoc: at 2²⁰ docs an 8-bit block
    * value repeats ~4096× and the bucket join turns quadratic — 16-bit
    * blocks keep expected occupancy at ~16 rows). The answer is closed
    * form by the q209 construction:
    *
    *  - ids [0, 16 384): 4 096 planted groups of 4 EXACT duplicates with
    *    33 tokens ("g⟨g⟩t0 … t32" → 31 distinct 3-shingles > the 30-token
    *    exact-path partner cap, so the group rides the SIMHASH stratum);
    *    identical text ⇒ identical token multiset ⇒ identical fingerprint
    *    ⇒ hamming 0 ⇒ all four blocks collide — found with probability 1
    *    under ANY block layout, no probabilistic recall term;
    *  - ids [16 384, 32 768): 4 096 groups of 4 exact duplicates with 7
    *    tokens ("s⟨g⟩t0 … t6" → 5 shingles ≤ shortDocTokens=24, riding the
    *    exact inverted-index stratum — the stratification split is itself
    *    under test at volume);
    *  - ~1.02M fillers with 33 globally unique tokens ("f⟨id⟩t0 …"):
    *    disjoint shingle sets, true Jaccard 0 with everything — any
    *    fingerprint coincidence the hamming filter admits is silenced by
    *    the exact-Jaccard verify (can add a candidate, never an output
    *    row). Filler fingerprints are 33-vote majorities of independent
    *    xxhash64 bits — effectively uniform, so 16-bit buckets hold ~16
    *    rows and the salted expansion stays linear.
    *
    * Output: exactly 2 × 4 096 × C(4,2) = 49 152 pairs — J = 1.0 with
    * inter = n_a = n_b = 31 (long stratum) or 5 (short stratum). Runs once
    * in Bench's stress lane; DedupSpec pins the small-analog behavior. */
  private[graft] val q249Docs = 1048576L
  private[graft] val q249Groups = 4096L

  private[graft] def q249Corpus(spark: SparkSession,
                                docs: Long = q249Docs,
                                groups: Long = q249Groups): DataFrame = {
    val dup = groups * 4
    val p = when(col("id") < dup,
        concat(lit("g"), expr("CAST(id div 4 AS STRING)")))
      .when(col("id") < 2 * dup,
        concat(lit("s"), expr(s"CAST((id - $dup) div 4 AS STRING)")))
      .otherwise(concat(lit("f"), col("id").cast("string")))
    val nTok = when(col("id") >= dup && col("id") < 2 * dup, 7).otherwise(33)
    spark.range(docs)
      .withColumn("p", p)
      .select(col("id").as("doc_id"),
        concat_ws(" ", (0 until 33).map(t =>
          when(lit(t) < nTok, concat(col("p"), lit(s"t$t")))): _*).as("text"))
  }

  def q249SimhashAtScale(spark: SparkSession, dir: String): DataFrame =
    nearDupSimHash(q249Corpus(spark), "doc_id", "text",
      maxHamming = 3, blocks = 4)

  /** Closed form: within-group ordered pairs for both strata. */
  private[graft] def q249OracleSql(groups: Long = q249Groups): String = s"""
    WITH g AS (SELECT CAST(u.i AS BIGINT) AS g FROM unnest(range(0, $groups)) AS u(i)),
         p AS (SELECT CAST(u.i AS BIGINT) AS p FROM unnest(range(0, 4)) AS u(i)),
         q AS (SELECT CAST(u.i AS BIGINT) AS q FROM unnest(range(0, 4)) AS u(i)),
         st AS (SELECT CAST(0 AS BIGINT) AS base, 31 AS sz
                UNION ALL SELECT ${groups * 4}, 5)
    SELECT CAST(st.base + g * 4 + p AS BIGINT) AS id_a,
           CAST(st.base + g * 4 + q AS BIGINT) AS id_b,
           CAST(st.sz AS INT) AS inter, CAST(st.sz AS INT) AS n_a,
           CAST(st.sz AS INT) AS n_b, CAST(1.0 AS DOUBLE) AS jaccard
    FROM st, g, p, q WHERE p < q"""

  // --- q250_jaccard_atscale: exact PPJoin near-dup at ≥1M documents -------
  /** At-scale correctness coverage for [[ngramJaccardPairs]] — q35 runs the
    * exact prefix-filtered detector over the few-thousand-row documents
    * table; this replays the SAME entry point (n=3, t=0.8) over 2²⁰
    * range-built documents with the decision boundary planted EXACTLY ON
    * the threshold, so both the candidate bound and the final rounded
    * filter are certified at volume:
    *
    *  - ids [0, 8 192): 4 096 TWIN pairs (2j, 2j+1 identical, 36 tokens
    *    "t⟨j⟩c0 … c35" → 34 shingles): J = 1.0, emitted;
    *  - ids [8 192, 16 384): 4 096 pairs sharing a 34-token common run
    *    plus 4 per-side unique tokens ("e⟨j⟩c0…c33 e⟨j⟩a0…a3" vs
    *    "…e⟨j⟩b0…b3"): 36 shingles each, 32 shared (the windows fully
    *    inside the common run), J = 32/(72−32) = 0.8 EXACTLY — the ≥
    *    boundary row, emitted. A `>`-for-`≥` regression in either the
    *    PPJoin bound or the verify filter erases all 4 096 rows;
    *  - ids [16 384, 24 576): 4 096 pairs with a 33-token common run and
    *    the same 4-token sides: 35 shingles, 31 shared, J = 31/39 ≈
    *    0.79487 — candidates (31 ≥ the relaxed minInter bound) that the
    *    exact verify must DROP: the suppressed class certifies the filter
    *    is doing work at volume, not rubber-stamping candidates;
    *  - ~1.0M fillers with 36 globally unique tokens ("f⟨id⟩c0 …"):
    *    df=1 shingles, so their prefixes hit nothing — the inverted index
    *    carries ~7 prefix rows per doc (the 1−t fraction) and the
    *    candidate join output stays at the planted ~12k pairs.
    *
    * Output: exactly 8 192 rows, closed form. Runs once in Bench's stress
    * lane; DedupSpec pins the small analog including the suppressed class. */
  private[graft] val q250Docs = 1048576L
  private[graft] val q250PairsPerClass = 4096L

  private[graft] def q250Corpus(spark: SparkSession,
                                docs: Long = q250Docs,
                                pairsPerClass: Long = q250PairsPerClass): DataFrame = {
    val (twinEnd, exactEnd, belowEnd) =
      (2 * pairsPerClass, 4 * pairsPerClass, 6 * pairsPerClass)
    val j = expr("CAST(id div 2 AS STRING)")
    val pfx = when(col("id") < twinEnd, concat(lit("t"), j))
      .when(col("id") < exactEnd, concat(lit("e"), j))
      .when(col("id") < belowEnd, concat(lit("b"), j))
      .otherwise(concat(lit("f"), col("id").cast("string")))
    val commonCnt = when(col("id") < twinEnd, 36)
      .when(col("id") < exactEnd, 34)
      .when(col("id") < belowEnd, 33)
      .otherwise(36)
    val sideCnt = when(col("id") >= twinEnd && col("id") < belowEnd, 4)
      .otherwise(0)
    val sideChr = when(pmod(col("id"), lit(2L)) === 0, lit("a")).otherwise(lit("b"))
    val toks = (0 until 38).map { i =>
      when(lit(i) < commonCnt, concat(pfx, lit("c"), lit(i)))
        .when(lit(i) < commonCnt + sideCnt,
          concat(pfx, sideChr, (lit(i) - commonCnt).cast("string")))
    }
    spark.range(docs).select(col("id").as("doc_id"),
      concat_ws(" ", toks: _*).as("text"))
  }

  def q250JaccardAtScale(spark: SparkSession, dir: String): DataFrame =
    ngramJaccardPairs(q250Corpus(spark), "doc_id", "text")

  /** Closed form: twin pairs at J=1 and boundary pairs at J=0.8 exactly;
    * the below-threshold class and the fillers never appear. */
  private[graft] def q250OracleSql(pairsPerClass: Long = q250PairsPerClass): String = s"""
    WITH j AS (SELECT CAST(u.i AS BIGINT) AS j
               FROM unnest(range(0, $pairsPerClass)) AS u(i)),
         cls AS (SELECT CAST(0 AS BIGINT) AS base, 34 AS inter, 34 AS sz,
                        CAST(1.0 AS DOUBLE) AS jac
                 UNION ALL
                 SELECT ${2 * pairsPerClass}, 32, 36, CAST(0.8 AS DOUBLE))
    SELECT CAST(cls.base + 2 * j AS BIGINT) AS id_a,
           CAST(cls.base + 2 * j + 1 AS BIGINT) AS id_b,
           CAST(cls.inter AS INT) AS inter, CAST(cls.sz AS INT) AS n_a,
           CAST(cls.sz AS INT) AS n_b, cls.jac AS jaccard
    FROM cls, j"""

  // --- q251_decontaminate_atscale: Bloom decontamination at ≥1M docs ------
  /** At-scale correctness coverage for [[bloomDecontaminate]] — q69 runs the
    * Bloom scale path over the few-thousand-row documents table; this
    * replays the SAME entry point (defaults: n=5, 2²⁰-bit filter, k=3) over
    * 2²⁰ range-built corpus documents against a 4 096-doc benchmark
    * (12 288 distinct 5-grams → filter fill ≈ 3.5%, the sizing contract's
    * comfortable regime), with contamination planted closed-form:
    *
    *  - ids [0, 2¹⁸): ALL embed benchmark doc 0's full 7-token text inside
    *    four unique padding tokens — ONE benchmark shingle set hit by
    *    262 144 corpus docs, the hot-key shape the broadcast membership
    *    design exists for (no shuffle ever keys on the shingle);
    *  - ids [2¹⁸, 2¹⁹): embed benchmark doc (id mod 4096) — the uniform
    *    contamination lane;
    *  - ids [2¹⁹, 2²⁰−64): clean, 11 globally unique tokens;
    *  - the last 64 ids: EMPTY text — no shingle rows survive the explode,
    *    so the left-outer rejoin (not the probe scan) must keep them.
    *
    * Every output column is deterministic despite the probabilistic
    * filter: `contaminated` rides the exact broadcast membership,
    * `missed` is provably false (Bloom admits no false negatives), and
    * `fp_ok` holds by ~350× margin (expected FP docs ≈ 150 of 524 352
    * clean vs the 5% bound). Rolled up to 64 buckets with a
    * contaminated-id checksum so per-row flag errors can't cancel. */
  private[graft] val q251Docs = 1048576L
  private[graft] val q251BenchDocs = 4096L

  private[graft] def q251Benchmark(spark: SparkSession,
                                   n: Long = q251BenchDocs): DataFrame =
    spark.range(n).select(col("id").as("doc_id"),
      concat_ws(" ", (0 until 7).map(t =>
        concat(lit("k"), col("id").cast("string"), lit(s"t$t"))): _*).as("text"))

  private[graft] def q251Corpus(spark: SparkSession,
                                docs: Long = q251Docs,
                                benchDocs: Long = q251BenchDocs): DataFrame = {
    val (hotEnd, contamEnd) = (docs / 4, docs / 2)
    val b = when(col("id") < hotEnd, lit(0L))
      .otherwise(pmod(col("id"), lit(benchDocs)))
    val kPfx = concat(lit("k"), b.cast("string"))
    val u = concat(lit("u"), col("id").cast("string"))
    val contamText = concat_ws(" ",
      Seq(concat(u, lit("p0")), concat(u, lit("p1"))) ++
        (0 until 7).map(t => concat(kPfx, lit(s"t$t"))) ++
        Seq(concat(u, lit("p2")), concat(u, lit("p3"))): _*)
    val cleanText = concat_ws(" ",
      (0 until 11).map(t => concat(u, lit(s"p$t"))): _*)
    spark.range(docs).select(col("id").as("doc_id"),
      when(col("id") < contamEnd, contamText)
        .when(col("id") >= docs - 64, lit(""))
        .otherwise(cleanText).as("text"))
  }

  def q251DecontaminateAtScale(spark: SparkSession, dir: String): DataFrame =
    bloomDecontaminate(q251Corpus(spark), q251Benchmark(spark),
        "doc_id", "text")
      .groupBy(pmod(col("doc_id"), lit(64L)).as("bucket"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("contaminated"), 1L).otherwise(0L)).as("n_contaminated"),
        sum(when(col("contaminated"), col("doc_id"))).as("sum_contaminated_ids"),
        expr("bool_and(NOT missed)").as("none_missed"),
        expr("bool_and(fp_ok)").as("all_fp_ok"))

  /** Closed form: contaminated ⇔ id < docs/2; missed never; fp_ok always. */
  private[graft] def q251OracleSql(docs: Long = q251Docs): String = s"""
    WITH d AS (SELECT CAST(u.i AS BIGINT) AS doc_id,
                      u.i < ${docs / 2} AS contaminated
               FROM range(0, $docs) AS u(i))
    SELECT CAST(doc_id % 64 AS BIGINT) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN contaminated THEN 1 ELSE 0 END) AS BIGINT)
             AS n_contaminated,
           CAST(SUM(CASE WHEN contaminated THEN doc_id END) AS BIGINT)
             AS sum_contaminated_ids,
           TRUE AS none_missed, TRUE AS all_fp_ok
    FROM d GROUP BY 1"""

  // --- q253_incremental_atscale: batch-probes-index dedup at ≥1M corpus ---
  /** At-scale correctness coverage for [[incrementalNearDups]] — q70 probes
    * a ~20-doc batch against the sf corpus; this replays the SAME entry
    * point with a 2¹⁴-doc batch arriving against a 2²⁰-doc corpus, with
    * every pair class planted closed-form (q209's 7-token construction —
    * identical text ⇒ identical signature ⇒ found with probability 1):
    *
    *  - corpus ids [0, 8 192): 4 096 OLD twin pairs, entirely inside the
    *    corpus — the class the operator must NOT emit (its contract is
    *    pairs involving ≥1 new doc; re-pairing the corpus is exactly the
    *    quadratic work incrementality exists to skip);
    *  - corpus ids [8 192, 16 384): unique "targets" each copied verbatim
    *    by one new doc → 8 192 new×old pairs (seen from the new side
    *    only — the canonical least/greatest ordering is under test);
    *  - new ids [2²⁰+8 192, 2²⁰+16 384): 4 096 new×new twin pairs (seen
    *    from BOTH sides — the distinct must unify them);
    *  - ~1.0M corpus fillers with globally unique tokens: silent.
    *
    * Output: exactly 12 288 pairs, J = 1.0, inter = n_a = n_b = 5. The
    * scale shape certified: only the batch's 2¹⁸ band rows probe the
    * combined index (join work ∝ |new|), while the corpus contributes
    * signatures once, never pairs. Runs once in Bench's stress lane. */
  private[graft] val q253CorpusDocs = 1048576L
  private[graft] val q253BatchPairs = 4096L // targets-copied AND new-twin pair count scale together

  private[graft] def q253Corpus(spark: SparkSession,
                                docs: Long = q253CorpusDocs,
                                pairs: Long = q253BatchPairs): DataFrame = {
    val (oldTwinEnd, targetEnd) = (2 * pairs, 4 * pairs)
    val p = when(col("id") < oldTwinEnd,
        concat(lit("o"), expr("CAST(id div 2 AS STRING)")))
      .when(col("id") < targetEnd,
        concat(lit("c"), (col("id") - oldTwinEnd).cast("string")))
      .otherwise(concat(lit("f"), col("id").cast("string")))
    spark.range(docs).withColumn("p", p)
      .select(col("id").as("doc_id"),
        concat_ws(" ",
          (0 until 7).map(t => concat(col("p"), lit(s"t$t"))): _*).as("text"))
  }

  private[graft] def q253Batch(spark: SparkSession,
                               corpusDocs: Long = q253CorpusDocs,
                               pairs: Long = q253BatchPairs): DataFrame = {
    val copyEnd = 2 * pairs
    val p = when(col("id") < copyEnd,
        concat(lit("c"), col("id").cast("string")))
      .otherwise(concat(lit("n"),
        expr(s"CAST((id - $copyEnd) div 2 AS STRING)")))
    spark.range(4 * pairs).withColumn("p", p)
      .select((col("id") + corpusDocs).as("doc_id"),
        concat_ws(" ",
          (0 until 7).map(t => concat(col("p"), lit(s"t$t"))): _*).as("text"))
  }

  def q253IncrementalAtScale(spark: SparkSession, dir: String): DataFrame =
    incrementalNearDups(q253Corpus(spark), q253Batch(spark),
      "doc_id", "text")

  /** Closed form: new×old copy pairs plus new×new twins; old×old silent. */
  private[graft] def q253OracleSql(corpusDocs: Long = q253CorpusDocs,
                                   pairs: Long = q253BatchPairs): String = s"""
    WITH nw AS (
      SELECT CAST(${2 * pairs} + u.i AS BIGINT) AS id_a,
             CAST($corpusDocs + u.i AS BIGINT) AS id_b
      FROM range(0, ${2 * pairs}) AS u(i)
      UNION ALL
      SELECT CAST($corpusDocs + ${2 * pairs} + 2 * u.i AS BIGINT),
             CAST($corpusDocs + ${2 * pairs} + 2 * u.i + 1 AS BIGINT)
      FROM range(0, $pairs) AS u(i))
    SELECT id_a, id_b, CAST(5 AS INT) AS inter, CAST(5 AS INT) AS n_a,
           CAST(5 AS INT) AS n_b, CAST(1.0 AS DOUBLE) AS jaccard
    FROM nw"""

  // --- q254_containment_atscale: directed PPJoin + df-cap at ≥1M docs -----
  /** At-scale correctness coverage for [[containmentPairs]] — q148 runs the
    * directed detector over the few-thousand-row documents table; this
    * replays the SAME entry point (n=3, t=0.5, default maxPostings) over
    * 2²⁰ range-built documents where the directed answer is closed form
    * AND the df-cap provably does work (the gate only finishes because it
    * does):
    *
    *  - every ~1.0M filler STARTS with the same three tokens "z0 z1 z2" —
    *    one sitewide boilerplate shingle with df ≈ 10⁶ ≫ maxPostings.
    *    Uncapped, it alone generates ~10¹² candidate pairs; capped, it is
    *    dropped from the shingle universe by the broadcast anti-join
    *    BEFORE its occurrences can shuffle anywhere (the hot-key shape
    *    the two-step cap exists for), and fillers reduce to 9 unique
    *    shingles each — silent;
    *  - ids [0, 8 192): 4 096 excerpt⊂source pairs (A = 10-token run, B =
    *    the same run + 10-token tail): inter = n_a = 8 → containment 1.0
    *    A→B; the reverse direction (8/18) must NOT emit — the length
    *    filter prunes it before the intersect;
    *  - ids [8 192, 16 384): partial containment 4/6 → 0.666667 (emitted);
    *  - ids [16 384, 24 576): 4/8 → 0.5, EXACTLY ON the ≥ boundary
    *    (emitted — a `>` regression erases the class);
    *  - ids [24 576, 32 768): 4/9 ≈ 0.444 — below threshold; the df-ranked
    *    prefix provably excludes the shared run (shared ∈ prefix ⇔
    *    inter ≥ minInter, which fails), so the class certifies the
    *    PPJoin bound prunes non-qualifying pairs END-TO-END (never a
    *    candidate, never an output row).
    *
    * Output: exactly 12 288 directed rows. Runs once in Bench's stress
    * lane; DedupSpec pins the small analog including both suppressed
    * directions. */
  private[graft] val q254Docs = 1048576L
  private[graft] val q254PairsPerClass = 4096L

  private[graft] def q254Corpus(spark: SparkSession,
                                docs: Long = q254Docs,
                                pairsPerClass: Long = q254PairsPerClass): DataFrame = {
    val (fEnd, tEnd, hEnd, xEnd) = (2 * pairsPerClass, 4 * pairsPerClass,
      6 * pairsPerClass, 8 * pairsPerClass)
    val j = expr("CAST(id div 2 AS STRING)")
    val isA = pmod(col("id"), lit(2L)) === 0
    val pfx = when(col("id") < fEnd, concat(lit("F"), j))
      .when(col("id") < tEnd, concat(lit("T"), j))
      .when(col("id") < hEnd, concat(lit("H"), j))
      .when(col("id") < xEnd, concat(lit("X"), j))
    // common-run length, contained-side unique tail, container tail
    val runCnt = when(col("id") < fEnd, 10).otherwise(6)
    val aTail = when(col("id") < fEnd, 0).when(col("id") < tEnd, 2)
      .when(col("id") < hEnd, 4).otherwise(5)
    val bTail = when(col("id") < fEnd, 10).otherwise(8)
    val tailCnt = when(isA, aTail).otherwise(bTail)
    val tailChr = when(isA, lit("a")).otherwise(lit("u"))
    val planted = (0 until 20).map { i =>
      when(lit(i) < runCnt, concat(pfx, lit("k"), lit(i)))
        .when(lit(i) < runCnt + tailCnt,
          concat(pfx, tailChr, (lit(i) - runCnt).cast("string")))
    }
    val fillerToks = Seq(lit("z0"), lit("z1"), lit("z2")) ++
      (0 until 9).map(t =>
        concat(lit("f"), col("id").cast("string"), lit(s"t$t")))
    spark.range(docs).select(col("id").as("doc_id"),
      when(col("id") < xEnd, concat_ws(" ", planted: _*))
        .otherwise(concat_ws(" ", fillerToks: _*)).as("text"))
  }

  def q254ContainmentAtScale(spark: SparkSession, dir: String): DataFrame =
    containmentPairs(q254Corpus(spark), "doc_id", "text")

  /** Closed form: the three emitted classes, A-side contained in B-side. */
  private[graft] def q254OracleSql(pairsPerClass: Long = q254PairsPerClass): String = s"""
    WITH j AS (SELECT CAST(u.i AS BIGINT) AS j
               FROM unnest(range(0, $pairsPerClass)) AS u(i)),
         cls AS (SELECT CAST(0 AS BIGINT) AS base, 8 AS inter, 8 AS n_a,
                        CAST(1.0 AS DOUBLE) AS c6
                 UNION ALL SELECT ${2 * pairsPerClass}, 4, 6,
                        CAST(0.666667 AS DOUBLE)
                 UNION ALL SELECT ${4 * pairsPerClass}, 4, 8,
                        CAST(0.5 AS DOUBLE))
    SELECT CAST(cls.base + 2 * j AS BIGINT) AS id_a,
           CAST(cls.base + 2 * j + 1 AS BIGINT) AS id_b,
           CAST(cls.inter AS INT) AS inter, CAST(cls.n_a AS INT) AS n_a,
           cls.c6 AS containment6
    FROM cls, j"""

  // --- q271_postingscap_atscale: the maxPostings boundary, verdict-flip ---
  /** At-scale gate for [[containmentPairs]]' `maxPostings` REDUCED-UNIVERSE
    * semantics — q254 proves the cap drops a sitewide shingle, but no
    * corpus planted a shingle exactly AT the cap with pairs whose verdict
    * flips across it. Here two glue shingles straddle the boundary by
    * construction (df counted doc-exactly across pair docs + padding
    * fillers):
    *
    *  - **P glue** `p0 p1 p2`, df = maxPostings EXACTLY → stays in the
    *    universe (`dfq > maxPostings` drops only above). Each of the
    *    `pairs` P pairs shares {glue, 2 run shingles} of A's 6 → ratio6(3,
    *    6) = 0.5, exactly ON the ≥ threshold → emitted. An off-by-one
    *    `>=` cap erases the whole class (without glue: 2 of 5 = 0.4);
    *  - **Q glue** `q0 q1 q2`, df = maxPostings + 1 → dropped. The SAME
    *    pair geometry must emit NOTHING: a cap that fails to bind (or
    *    binds one too late) revives Q at 3/6 = 0.5;
    *  - reverse directions are sub-threshold in both classes (3/8, 2/7),
    *    and neither glue ever enters a prefix (it is each doc's hottest
    *    shingle), so the cap's candidate-volume bound is exercised with
    *    ZERO glue-driven candidates — occupancy, not luck;
    *  - ~1.0M z-fillers carry the sitewide boilerplate shingle
    *    (df ≈ 10⁶ ≫ cap) — as in q254, the gate only finishes because
    *    the broadcast anti-join drops it before it can shuffle.
    *
    * Output: exactly `pairs` directed rows, closed form. DedupSpec's
    * small analog flips the cap ±1 around a planted df and asserts the
    * class appears/vanishes accordingly. */
  private[graft] val q271Docs = 1048576L
  private[graft] val q271Pairs = 1024L

  private[graft] def q271Corpus(spark: SparkSession,
                                docs: Long = q271Docs,
                                pairs: Long = q271Pairs,
                                cap: Int = defaultMaxPostings): DataFrame = {
    require(cap >= 2 * pairs, "glue df budget must cover the pair docs")
    val pEnd = 2 * pairs; val qEnd = 4 * pairs
    val pFillEnd = qEnd + (cap - 2 * pairs)
    val qFillEnd = pFillEnd + (cap + 1 - 2 * pairs)
    require(docs > qFillEnd, "corpus must leave room for z-fillers")
    val j = expr("CAST(id div 2 AS STRING)")
    val isA = pmod(col("id"), lit(2L)) === 0
    // A = [glue run][4-token common run][unique tail]: 8 tokens → 6
    // windows = glue + 2 junctions + 2 shared + 1 tail, so sz_A = 6 with
    // the glue, 5 without. B = [common run][3 unique][glue run]: 10 tokens
    // → 8 windows, sharing {glue, 2 run windows} with A and nothing else.
    def pairText(glue: String, pfx: Column) = {
      val c = (0 until 4).map(i => concat(pfx, lit(s"c$i")))
      val g = Seq(lit(s"${glue}0"), lit(s"${glue}1"), lit(s"${glue}2"))
      val aSide = g ++ c ++ Seq(concat(pfx, lit("a0")))
      val bSide = c ++ (0 until 3).map(i => concat(pfx, lit(s"w$i"))) ++ g
      when(isA, concat_ws(" ", aSide: _*))
        .otherwise(concat_ws(" ", bSide: _*))
    }
    val fillTail = Seq(concat(lit("G"), col("id").cast("string"), lit("a")),
      concat(lit("G"), col("id").cast("string"), lit("b")))
    def fillText(glue: String) = concat_ws(" ",
      (Seq(lit(s"${glue}0"), lit(s"${glue}1"), lit(s"${glue}2")) ++
        fillTail): _*)
    spark.range(docs).select(col("id").as("doc_id"),
      when(col("id") < pEnd, pairText("p", concat(lit("P"), j)))
        .when(col("id") < qEnd, pairText("q", concat(lit("Q"), j)))
        .when(col("id") < pFillEnd, fillText("p"))
        .when(col("id") < qFillEnd, fillText("q"))
        .otherwise(fillText("z")).as("text"))
  }

  def q271PostingscapAtScale(spark: SparkSession, dir: String): DataFrame =
    containmentPairs(q271Corpus(spark), "doc_id", "text")

  /** Closed form: the P class alone, A→B at exactly the threshold. */
  private[graft] def q271OracleSql(pairs: Long = q271Pairs): String = s"""
    SELECT CAST(2 * u.i AS BIGINT) AS id_a,
           CAST(2 * u.i + 1 AS BIGINT) AS id_b,
           CAST(3 AS INT) AS inter, CAST(6 AS INT) AS n_a,
           CAST(0.5 AS DOUBLE) AS containment6
    FROM unnest(range(0, $pairs)) AS u(i)"""

  // --- q256_wjaccard_atscale: multiset Jaccard at ≥1M documents -----------
  /** At-scale correctness coverage for [[weightedNgramJaccardPairs]] —
    * q165 runs the bag detector over the few-thousand-row documents table;
    * this replays the SAME entry point (n=3, t=0.8) over 2²⁰ range-built
    * documents where the MULTIPLICITY arithmetic itself is load-bearing:
    *
    *  - ids [0, 8 192): 4 096 twin pairs whose text is a 34-token template
    *    REPEATED TWICE (68 tokens → 66 windows: the 32 interior shingles
    *    count 2, the 2 copy-boundary shingles count 1). Both sides match
    *    at wj = 1.0 with inter = n = 66 — an implementation that silently
    *    dedups shingles reports n = 34 and fails the hash; this is the
    *    repetition signal the weighted detector exists to see;
    *  - ids [8 192, 16 384): 4 096 distinct-token pairs planted exactly ON
    *    the boundary (34-token common run + 4 per-side uniques → inter 32
    *    of 36+36: ratio6(32, 40) = 0.8, emitted);
    *  - ids [16 384, 24 576): the just-below class (33+4 → 31/39 ≈ 0.795,
    *    suppressed);
    *  - ~1.0M fillers with 36 globally unique tokens — their shingles
    *    join nothing, so the inverted-index self-join's output tracks the
    *    planted pairs only.
    *
    * Output: exactly 8 192 rows, closed form. Runs once in Bench's stress
    * lane; DedupSpec pins the small analog. */
  private[graft] val q256Docs = 1048576L
  private[graft] val q256PairsPerClass = 4096L

  private[graft] def q256Corpus(spark: SparkSession,
                                docs: Long = q256Docs,
                                pairsPerClass: Long = q256PairsPerClass): DataFrame = {
    val (w1End, w2End, w3End) =
      (2 * pairsPerClass, 4 * pairsPerClass, 6 * pairsPerClass)
    val j = expr("CAST(id div 2 AS STRING)")
    val pfx = when(col("id") < w1End, concat(lit("r"), j))
      .when(col("id") < w2End, concat(lit("e"), j))
      .when(col("id") < w3End, concat(lit("b"), j))
      .otherwise(concat(lit("f"), col("id").cast("string")))
    val commonCnt = when(col("id") < w3End, when(col("id") < w2End, 34)
      .otherwise(33)).otherwise(36)
    val sideCnt = when(col("id") >= w1End && col("id") < w3End, 4)
      .otherwise(0)
    val sideChr = when(pmod(col("id"), lit(2L)) === 0, lit("a")).otherwise(lit("b"))
    // one lambda over the 68 token slots keeps the projection small enough
    // for whole-stage codegen to compile; array_join skips null slots
    val toks = transform(sequence(lit(0), lit(67)), i =>
      when(col("id") < w1End, concat(col("pfx"), lit("c"), (i % 34).cast("string")))
        .when(i < col("common"), concat(col("pfx"), lit("c"), i.cast("string")))
        .when(i < col("common") + col("side"),
          concat(col("pfx"), col("side_chr"), (i - col("common")).cast("string"))))
    spark.range(docs)
      .select(col("id"), pfx.as("pfx"), commonCnt.as("common"),
        sideCnt.as("side"), sideChr.as("side_chr"))
      .select(col("id").as("doc_id"), array_join(toks, " ").as("text"))
  }

  def q256WjaccardAtScale(spark: SparkSession, dir: String): DataFrame =
    weightedNgramJaccardPairs(q256Corpus(spark), "doc_id", "text")

  /** Closed form: repetition twins at wj=1 (bag size 66, NOT the distinct
    * 34) and boundary pairs at wj=0.8 exactly. */
  private[graft] def q256OracleSql(pairsPerClass: Long = q256PairsPerClass): String = s"""
    WITH j AS (SELECT CAST(u.i AS BIGINT) AS j
               FROM unnest(range(0, $pairsPerClass)) AS u(i)),
         cls AS (SELECT CAST(0 AS BIGINT) AS base, 66 AS inter, 66 AS sz,
                        CAST(1.0 AS DOUBLE) AS wj
                 UNION ALL SELECT ${2 * pairsPerClass}, 32, 36,
                        CAST(0.8 AS DOUBLE))
    SELECT CAST(cls.base + 2 * j AS BIGINT) AS id_a,
           CAST(cls.base + 2 * j + 1 AS BIGINT) AS id_b,
           CAST(cls.inter AS BIGINT) AS inter, CAST(cls.sz AS BIGINT) AS n_a,
           CAST(cls.sz AS BIGINT) AS n_b, cls.wj AS wjaccard6
    FROM cls, j"""

  /** (id_a, id_b) pairs → both-direction (src, dst) edge rows from ONE
    * pass over the pair frame: a union of two selects would plant the
    * whole upstream pipeline twice in the plan and compute it twice when
    * Pregel materializes the edge cache. Shared by q47 and Bench's
    * substrate warmup, so the warmed plan shape cannot drift from the
    * real one. */
  private[graft] def undirectedEdges(pairs: DataFrame): DataFrame =
    pairs.select(explode(array(
        struct(col("id_a").as("src"), col("id_b").as("dst")),
        struct(col("id_b").as("src"), col("id_a").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))

  // --- q47_dedup_clusters: pairs → canonical clusters ---------------------
  /** The step that finishes a dedup pipeline: the exact near-dup PAIRS
    * become canonical CLUSTERS via connected components (min-label
    * propagation on the Pregel loop) — every document labeled with the
    * smallest doc_id in its near-dup group, singletons labeling
    * themselves. Keeping min(cluster) per group is then `exactDedup` on
    * the cluster column. Oracle: DuckDB recursive-CTE transitive closure
    * over the same pair set — an independent algorithm for the same
    * fixed point. */
  def q47DedupClusters(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val edges = undirectedEdges(ngramJaccardPairs(docs, "doc_id", "text"))
    graft.graph.Algorithms
      .connectedComponents(docs.select(col("doc_id").as("id")), edges)
      .select(col("id").as("doc_id"), col("component").as("cluster"))
  }

  // --- q112_cc_alternating: the same clusters, MapReduce-CC paradigm ------
  /** q47's clustering computed by the OTHER distributed-CC paradigm —
    * alternating large-star/small-star
    * ([[graft.graph.Algorithms.ccAlternating]]) instead of Pregel label
    * propagation. Same detector substrate, same min-label result, same
    * recursive-closure oracle: what the hash-match certifies is that two
    * independent algorithm families agree with DuckDB's transitive
    * closure on the identical pair set. */
  def q112CcAlternating(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val edges = undirectedEdges(ngramJaccardPairs(docs, "doc_id", "text"))
    graft.graph.Algorithms
      .ccAlternating(docs.select(col("doc_id").as("id")), edges)
      .select(col("id").as("doc_id"), col("component").as("cluster"))
  }

  // --- q131_canonical_pick: cluster survivorship policy -------------------
  /** The KEEP decision that follows clustering: one canonical document per
    * near-dup cluster by an explicit survivorship rule — keep the LONGEST
    * member (`n_chars`), ties to the smallest `doc_id` — plus the audit
    * numbers a curation run reports (members merged, characters kept vs
    * discarded). Picking the longest copy is the usual crawl-dedup policy
    * (truncated mirrors lose to the full page); making the rule an operator
    * (rather than `min(doc_id)` baked into CC) is what lets a pipeline
    * change policy without re-clustering.
    *
    * Scale shape: one aggregate per cluster frame. `max(struct(size,
    * ~id))` orders by size, then by the bitwise complement of the id
    * (order-reversing and, unlike negation, overflow-free), so its
    * maximum is "longest, then smallest id"; the member count and the
    * size sum ride in the same pass. A null size sorts below every
    * length, so it never wins while a member has one; a cluster whose
    * sizes are all null has no keeper and is dropped. A struct buffer is
    * not fixed-width, so Spark plans this as a sort-based aggregate; it
    * still partial-aggregates before its one shuffle, unlike a
    * `row_number over (partition by cluster)` window, and needs no join
    * back to find the keeper. */
  def canonicalPick(clusters: DataFrame, docs: DataFrame, id: String,
                    sizeCol: String): DataFrame =
    clusters.join(docs.select(col(id), col(sizeCol)), id)
      .groupBy(col("cluster"))
      .agg(max(struct(col(sizeCol).as("sz"), bitwise_not(col(id)).as("nid")))
          .as("k"),
        count(lit(1)).as("n_members"),
        sum(col(sizeCol)).as("_tot"))
      .filter(col("k.sz").isNotNull)
      .select(col("cluster"), bitwise_not(col("k.nid")).as("keep_id"),
        col("n_members"), col("k.sz").as("keep_chars"),
        (col("_tot") - col("k.sz")).as("chars_dropped"))

  /** q47's verified clusters composed with the survivorship policy; the
    * oracle replays the recursive-CTE closure and the pick as two
    * aggregates and a join, so a drifted tie-break (or a cluster that
    * lost a member) fails the hash. */
  def q131CanonicalPick(spark: SparkSession, dir: String): DataFrame =
    canonicalPick(q47DedupClusters(spark, dir),
      Tables.documents(spark, dir), "doc_id", "n_chars")

  /** The transitive-closure clustering CTE chain (threshold 0.8), shared
    * by the q47 oracle and q50's pipeline oracle so the clustering
    * definition lives in exactly one place. Prepend `WITH RECURSIVE`. */
  private[ext] val clusterCtes: String = s"""$ngramPairCtes,
    tp AS (
      SELECT p.id_a, p.id_b FROM pairs p
      JOIN sizes za ON za.doc_id = p.id_a
      JOIN sizes zb ON zb.doc_id = p.id_b
      WHERE CAST(p.inter AS DOUBLE) / (za.sz + zb.sz - p.inter) >= 0.8),
    e AS (SELECT id_a AS a, id_b AS b FROM tp
          UNION SELECT id_b, id_a FROM tp),
    reach AS (
      SELECT a, b FROM e
      UNION
      SELECT r.a, e.b FROM reach r JOIN e ON r.b = e.a),
    clusters AS (
      SELECT d.doc_id,
             LEAST(d.doc_id, COALESCE(MIN(r.b), d.doc_id)) AS cluster
      FROM documents d LEFT JOIN reach r ON r.a = d.doc_id
      GROUP BY d.doc_id)"""

  val q47DedupClustersSql: String = s"""
    WITH RECURSIVE $clusterCtes
    SELECT doc_id, cluster FROM clusters"""

  /** Declared after [[clusterCtes]] — a forward reference would read null
    * at object init. */
  val q131CanonicalPickSql: String = s"""
    WITH RECURSIVE $clusterCtes,
    m AS (SELECT c.cluster, d.doc_id, d.n_chars
          FROM clusters c JOIN documents d USING (doc_id)),
    st AS (SELECT cluster, MAX(n_chars) AS keep_chars,
                  COUNT(*) AS n_members, SUM(n_chars) AS tot
           FROM m GROUP BY cluster),
    k AS (SELECT m.cluster, MIN(m.doc_id) AS keep_id
          FROM m JOIN st ON m.cluster = st.cluster
                        AND m.n_chars = st.keep_chars
          GROUP BY m.cluster)
    SELECT st.cluster, k.keep_id, CAST(st.n_members AS BIGINT) AS n_members,
           st.keep_chars, CAST(st.tot - st.keep_chars AS BIGINT) AS chars_dropped
    FROM st JOIN k ON st.cluster = k.cluster"""

  // --- q175_dedup_yield: corpus-level dedup savings report ----------------
  /** The number a curation run actually publishes: per SOURCE, how much
    * the dedup pass saved — documents scanned, documents surviving the
    * survivorship pick, characters dropped, and the duplicate ratio. A
    * cluster's members can span sources, so the keep decision is made
    * globally ([[canonicalPick]] over the full cluster frame) and then
    * attributed back to each member's source; per-source arithmetic on
    * per-source clusters would double-count cross-source groups.
    *
    * Scale shape: the cluster frame is one row per document; the keep set
    * joins back by document id (hash join on the corpus key — no window,
    * no skew: document ids are unique) and the report is one hash
    * aggregate over |sources| groups with map-side partials. */
  def dedupYield(clusters: DataFrame, docs: DataFrame, id: String,
                 sizeCol: String, dimCol: String): DataFrame = {
    val keep = canonicalPick(clusters, docs, id, sizeCol)
      .select(col("keep_id").as(id), lit(1L).as("is_keep"))
    clusters
      .join(docs.select(col(id), col(sizeCol), col(dimCol)), id)
      .join(keep, Seq(id), "left_outer")
      .groupBy(col(dimCol))
      .agg(count(lit(1)).as("n_docs"),
        sum(coalesce(col("is_keep"), lit(0L))).as("n_kept"),
        sum(col(sizeCol)).as("chars_total"),
        sum(when(col("is_keep").isNull, col(sizeCol)).otherwise(lit(0L)))
          .as("chars_dropped"))
      .select(col(dimCol), col("n_docs"), col("n_kept"),
        (col("n_docs") - col("n_kept")).as("n_dropped"),
        col("chars_total"), col("chars_dropped"),
        graft.ops.Relational.ratio6("n_docs - n_kept", "n_docs")
          .as("dup_ratio6"))
  }

  def q175DedupYield(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    dedupYield(q47DedupClusters(spark, dir), docs, "doc_id", "n_chars",
      "source")
  }

  /** Replays the closure clustering, the q131 survivorship pick, and the
    * per-source attribution — a drifted keep decision (or a member
    * counted under the wrong source) fails the hash. */
  val q175DedupYieldSql: String = s"""
    WITH RECURSIVE $clusterCtes,
    m AS (SELECT c.cluster, d.doc_id, d.n_chars
          FROM clusters c JOIN documents d USING (doc_id)),
    st AS (SELECT cluster, MAX(n_chars) AS keep_chars FROM m GROUP BY cluster),
    k AS (SELECT m.cluster, MIN(m.doc_id) AS keep_id
          FROM m JOIN st ON m.cluster = st.cluster
                        AND m.n_chars = st.keep_chars
          GROUP BY m.cluster),
    lab AS (SELECT m.doc_id, d.source, d.n_chars,
                   CASE WHEN k.keep_id IS NULL THEN 0 ELSE 1 END AS is_keep
            FROM m JOIN documents d USING (doc_id)
            LEFT JOIN k ON k.keep_id = m.doc_id)
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM(is_keep) AS BIGINT) AS n_kept,
           CAST(COUNT(*) - SUM(is_keep) AS BIGINT) AS n_dropped,
           CAST(SUM(n_chars) AS BIGINT) AS chars_total,
           CAST(SUM(CASE WHEN is_keep = 0 THEN n_chars ELSE 0 END) AS BIGINT)
             AS chars_dropped,
           ${graft.ops.Relational.ratio6Sql(
             "COUNT(*) - SUM(is_keep)", "COUNT(*)")} AS dup_ratio6
    FROM lab GROUP BY source"""

  // --- q62_decontaminate: benchmark n-gram overlap removal ----------------
  /** Deterministic split: docs with doc_id % 97 == 0 play the "benchmark";
    * the rest are the training corpus to scrub. */
  def q62Decontaminate(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    decontaminate(
      docs.filter(pmod(col("doc_id"), lit(97)) =!= 0),
      docs.filter(pmod(col("doc_id"), lit(97)) === 0),
      "doc_id", "text", n = 5)
  }

  /** The 5-gram contamination CTE chain (benchmark = doc_id % 97 == 0),
    * shared by the q62 oracle and q63's full-pipeline oracle. Names are
    * suffixed `5` to compose cleanly next to the 3-gram [[clusterCtes]]. */
  private[ext] val contaminationCtes: String = """toks5 AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS ts
      FROM documents),
    sh5 AS (
      SELECT DISTINCT doc_id,
             ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] || ' ' ||
             ts[i+3] || ' ' || ts[i+4] AS shingle
      FROM toks5, unnest(range(1, len(ts) - 3)) AS u(i)
      WHERE len(ts) >= 5
      UNION
      SELECT doc_id, array_to_string(ts, ' ') FROM toks5 WHERE len(ts) < 5),
    bsh5 AS (SELECT DISTINCT shingle FROM sh5 WHERE doc_id % 97 = 0),
    hits5 AS (
      SELECT s.doc_id, COUNT(*) AS n_hit
      FROM sh5 s JOIN bsh5 b ON s.shingle = b.shingle
      WHERE s.doc_id % 97 <> 0
      GROUP BY s.doc_id)"""

  val q62DecontaminateSql: String = s"""
    WITH $contaminationCtes
    SELECT d.doc_id,
           CAST(COALESCE(h.n_hit, 0) AS INT) AS n_hit_shingles,
           COALESCE(h.n_hit, 0) > 0 AS contaminated
    FROM documents d LEFT JOIN hits5 h ON h.doc_id = d.doc_id
    WHERE d.doc_id % 97 <> 0"""

  // --- q69_bloom_decontaminate: Bloom-filter membership at scale ----------
  /** Same corpus/benchmark split as q62; the oracle recomputes EXACT
    * contamination and pins the Bloom path's guarantees as derived
    * booleans (q13's pattern for sketches): `contaminated` must
    * hash-match the exact CTE, `missed` must be FALSE everywhere (no
    * false negatives), `fp_ok` must be TRUE (observed FP fraction under
    * the documented bound). */
  def q69BloomDecontaminate(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    bloomDecontaminate(
      docs.filter(pmod(col("doc_id"), lit(97)) =!= 0),
      docs.filter(pmod(col("doc_id"), lit(97)) === 0),
      "doc_id", "text", n = 5)
  }

  val q69BloomDecontaminateSql: String = s"""
    WITH $contaminationCtes
    SELECT d.doc_id,
           COALESCE(h.n_hit, 0) > 0 AS contaminated,
           FALSE AS missed,
           TRUE AS fp_ok
    FROM documents d LEFT JOIN hits5 h ON h.doc_id = d.doc_id
    WHERE d.doc_id % 97 <> 0"""

  // --- q70_incremental_dedup: new batch vs existing corpus ----------------
  /** New batch = doc_id % 5 == 1 (a stable 20% at every scale factor);
    * the oracle is the exact-Jaccard pair set restricted to pairs with at
    * least one new side — recall misses fail the hash, exactly as q31. */
  def q70IncrementalDedup(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    incrementalNearDups(
      docs.filter(pmod(col("doc_id"), lit(5)) =!= 1),
      docs.filter(pmod(col("doc_id"), lit(5)) === 1),
      "doc_id", "text")
  }

  val q70IncrementalDedupSql: String =
    s"$ngramJaccardOracleSql AND (p.id_a % 5 = 1 OR p.id_b % 5 = 1)"

  // --- q93_substr_dup: ExactSubstr-style verbatim-window detection --------
  /** Cross-document VERBATIM text reuse (the ExactSubstr method of Lee et
    * al. 2022, "Deduplicating Training Data Makes Language Models
    * Better", re-shaped for dataflow): k-char windows sampled every
    * `stride` chars; a window whose exact text occurs in MORE THAN ONE
    * document marks boilerplate/licensing/verbatim reuse that the
    * token-set detectors (q31/35/41) blur away. Output is per-document:
    * total sampled windows, how many are shared with another document,
    * and the integer-exact ratio.
    *
    * Stride is the cost/recall knob: stride=1 is the exhaustive
    * suffix-array equivalent (one row per character); stride>1 samples
    * 1/stride of the positions and detects reuse whose occurrences align
    * mod stride (whole-document and front-aligned boilerplate reuse — the
    * dominant real-world cases) plus any pair sharing a sampled phase.
    * Scale shape: the window frame is corpus-chars/stride rows (explode +
    * plain codegen'd substring — no HOF lambdas); both aggregates are
    * map-side partials keyed by window text / doc id, and the dup-window
    * set joins back with a semi join, never a value-keyed window. */
  def substrDupSignals(docs: DataFrame, id: String, text: String,
                       k: Int, stride: Int): DataFrame = {
    require(k > 0 && stride > 0, "k/stride must be positive")
    // persisted: feeds the window-multiplicity aggregate AND the per-doc
    // totals/semi-join, and its lineage holds the whole explode
    val wins = graft.CacheRegistry.persist(
      docs.filter(length(col(text)) >= k)
        .select(col(id),
          explode(sequence(lit(0),
            expr(s"CAST((length($text) - $k) div $stride AS INT)"))).as("i"),
          col(text))
        .select(col(id), expr(s"substring($text, i * $stride + 1, $k)").as("win")))
    val dupWins = wins.groupBy("win")
      .agg(count_distinct(col(id)).as("nd"))
      .filter(col("nd") > 1)
      .select("win")
    val totals = wins.groupBy(id).agg(count(lit(1)).as("n_windows"))
    val dups = wins.join(dupWins, Seq("win"), "left_semi")
      .groupBy(id).agg(count(lit(1)).as("n_dup"))
    totals.join(dups, Seq(id), "left_outer")
      .select(col(id), col("n_windows"),
        coalesce(col("n_dup"), lit(0L)).as("n_dup_windows"),
        graft.ops.Relational.ratio6("coalesce(n_dup, 0)", "n_windows")
          .as("dup_ratio"))
  }

  def q93SubstrDup(spark: SparkSession, dir: String): DataFrame =
    substrDupSignals(Tables.documents(spark, dir), "doc_id", "text",
      k = 64, stride = 16)

  val q93SubstrDupSql: String = s"""
    WITH w AS (
      SELECT doc_id, substring(text, p.i * 16 + 1, 64) AS win
      FROM documents, unnest(range(0, ((length(text) - 64) // 16) + 1)) AS p(i)
      WHERE length(text) >= 64),
    dw AS (SELECT win FROM (
             SELECT win, COUNT(DISTINCT doc_id) AS nd FROM w GROUP BY win) t
           WHERE nd > 1),
    tot AS (SELECT doc_id, COUNT(*) AS n_windows FROM w GROUP BY doc_id),
    du AS (SELECT w.doc_id, COUNT(*) AS n_dup
           FROM w JOIN dw USING (win) GROUP BY w.doc_id)
    SELECT tot.doc_id, tot.n_windows,
           COALESCE(du.n_dup, CAST(0 AS BIGINT)) AS n_dup_windows,
           ${graft.ops.Relational.ratio6Sql(
             "COALESCE(du.n_dup, 0)", "tot.n_windows")} AS dup_ratio
    FROM tot LEFT JOIN du ON du.doc_id = tot.doc_id"""

  // --- q113_span_excision: cut contaminated spans, keep clean fragments ---
  /** Span-level decontamination: where [[decontaminate]] (q62) DROPS a
    * document that shares any benchmark n-gram, this EXCISES only the
    * overlapping token spans and keeps the clean remainder as fragments —
    * the PaLM/Llama-style treatment that saves the 99% of a long document
    * that a single quoted eval question would otherwise discard.
    *
    * Semantics: a corpus token position is covered if any benchmark
    * n-gram matches the positional n-gram window starting at most n−1
    * tokens before it; maximal runs of UNCOVERED tokens (gaps-and-islands
    * on `pos − row_number`) become fragments, and fragments shorter than
    * `minTokens` are dropped (an excision residue of one or two tokens is
    * noise, not training text). Documents shorter than n tokens carry no
    * positional window and pass through whole — doc-level matching of
    * short texts is q62's job.
    *
    * Scale shape: one tokenize pass; positional n-grams come from a
    * per-doc `lead` window (ONE partition-by-doc sort that the island
    * numbering and fragment ordering reuse — no second shuffle
    * partitioning); the benchmark shingle set is broadcast exactly as in
    * q62; covered positions collapse to a per-doc int array joined back
    * on the doc key, so the corpus is never shuffled on a value key. The
    * per-token `array_contains` probe is O(covered-positions) within one
    * document — bounded by doc length, independent of corpus size. */
  def spanExcision(corpus: DataFrame, benchmark: DataFrame,
                   id: String, text: String, n: Int = 5,
                   minTokens: Int = 3): DataFrame = {
    require(n >= 2, s"spanExcision: n must be >= 2, got $n")
    val toks = graft.ops.Text.posTokens(
      corpus.select(col(id), col(text)), text, as = "tok")
    val benchSh = benchmark
      .select(explode(array_distinct(shingles(col(text), n))).as("shingle"))
      .distinct()
    val w = Window.partitionBy(col(id)).orderBy(col("pos"))
    val gram = concat_ws(" ",
      col("tok") +: (1 until n).map(i => lead(col("tok"), i).over(w)): _*)
    val posSh = toks
      .select(col(id), col("pos"), gram.as("shingle"),
        lead(col("tok"), n - 1).over(w).isNotNull.as("full"))
      .filter(col("full"))
    val coveredArr = posSh
      // bcast-ok: benchmark-side shingles — decontamination contract: benchmark suites << corpus (scaladoc)
      .join(broadcast(benchSh), Seq("shingle"))
      .select(col(id), explode(sequence(col("pos"), col("pos") + lit(n - 1)))
        .as("pos"))
      // groupagg-ok: one document's covered token positions — doc-sized
      .groupBy(col(id)).agg(collect_set(col("pos")).as("cov"))
    val unc = toks
      .join(coveredArr, Seq(id), "left_outer")
      .filter(col("cov").isNull || !array_contains(col("cov"), col("pos")))
      .withColumn("grp", col("pos") - row_number().over(w))
    unc.groupBy(col(id), col("grp"))
      .agg(min(col("pos")).as("mn"),
        count(lit(1)).cast("int").as("n_tokens"),
        // groupagg-ok: one fragment's tokens — doc-sized
        concat_ws(" ", sort_array(collect_list(struct(col("pos"), col("tok"))))
          .getField("tok")).as("frag_text"))
      .filter(col("n_tokens") >= minTokens)
      .select(col(id),
        row_number().over(Window.partitionBy(col(id)).orderBy(col("mn")))
          .cast("int").as("frag_id"),
        col("frag_text"), col("n_tokens"))
  }

  /** Same corpus/benchmark split as q62 (doc_id % 97), n=5, minTokens=3. */
  def q113SpanExcision(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    spanExcision(
      docs.filter(pmod(col("doc_id"), lit(97)) =!= 0),
      docs.filter(pmod(col("doc_id"), lit(97)) === 0),
      "doc_id", "text", n = 5)
  }

  val q113SpanExcisionSql: String = s"""
    WITH $contaminationCtes,
    pos5 AS (
      SELECT t.doc_id, u.i AS s,
             t.ts[u.i] || ' ' || t.ts[u.i+1] || ' ' || t.ts[u.i+2] || ' ' ||
             t.ts[u.i+3] || ' ' || t.ts[u.i+4] AS shingle
      FROM toks5 t, unnest(range(1, len(t.ts) - 3)) AS u(i)
      WHERE len(t.ts) >= 5 AND t.doc_id % 97 <> 0),
    cov AS (
      SELECT DISTINCT p.doc_id, c.i
      FROM pos5 p JOIN bsh5 b ON p.shingle = b.shingle,
           unnest(range(p.s, p.s + 5)) AS c(i)),
    alltok AS (
      SELECT t.doc_id, u.i, t.ts[u.i] AS tok
      FROM toks5 t, unnest(range(1, len(t.ts) + 1)) AS u(i)
      WHERE t.doc_id % 97 <> 0),
    unc AS (
      SELECT a.doc_id, a.i, a.tok,
             a.i - ROW_NUMBER() OVER (PARTITION BY a.doc_id ORDER BY a.i)
               AS grp
      FROM alltok a LEFT JOIN cov c ON c.doc_id = a.doc_id AND c.i = a.i
      WHERE c.doc_id IS NULL),
    frags AS (
      SELECT doc_id, grp, MIN(i) AS mn, COUNT(*) AS n_tokens,
             STRING_AGG(tok, ' ' ORDER BY i) AS frag_text
      FROM unc GROUP BY doc_id, grp)
    SELECT doc_id,
           CAST(ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY mn) AS INT)
             AS frag_id,
           frag_text,
           CAST(n_tokens AS INT) AS n_tokens
    FROM frags WHERE n_tokens >= 3"""

  // --- q114_segment_dedup: unit-level dedup with document reassembly ------
  /** CCNet-style unit-level deduplication: split every document into
    * units, keep only the globally FIRST occurrence of each distinct unit
    * text (by (doc_id, unit-index) order), and reassemble each document
    * from its surviving units — removing the shared boilerplate that
    * doc-level detectors can't touch without dropping whole documents.
    * The synthetic corpus has no newlines, so the registered query
    * segments by fixed `w`-token windows; on real data the segmenter is
    * `split(text, '\\n')` with the identical downstream plan.
    *
    * Scale shape: units come straight off the token array (`sequence` +
    * `slice`, both codegen'd — no explode-then-window). The
    * first-occurrence keeper is `groupBy(seg).agg(min(struct(id, idx)))`
    * + an equi-join back — the groupBy+join discipline (map-side partial
    * absorbs a hot boilerplate segment; a value-keyed window would sort
    * every occurrence of it into one task). Reassembly is one
    * per-doc aggregate over conditional collect_list. */
  def segmentDedup(docs: DataFrame, id: String, text: String,
                   w: Int = 3): DataFrame = {
    require(w >= 1, s"segmentDedup: window must be >= 1, got $w")
    val ts = split(regexp_replace(trim(lower(col(text))), "\\s+", " "), " ")
    val segs = docs
      .select(col(id), explode(sequence(lit(1), size(ts), lit(w))).as("s"),
        ts.as("ts"))
      .select(col(id), (((col("s") - 1) / w).cast("int") + 1).as("sidx"),
        concat_ws(" ", slice(col("ts"), col("s"), lit(w))).as("seg"))
      .filter(col("seg") =!= "")
    val keeper = segs.groupBy(col("seg"))
      .agg(min(struct(col(id).as("kid"), col("sidx").as("ksidx"))).as("k"))
    val perDoc = segs.join(keeper, Seq("seg"))
      .withColumn("kept",
        col("k.kid") === col(id) && col("k.ksidx") === col("sidx"))
      .groupBy(col(id))
      .agg(
        // groupagg-ok: one document's segments — doc-sized
        concat_ws(" ", sort_array(collect_list(
          when(col("kept"), struct(col("sidx"), col("seg")))))
          .getField("seg")).as("clean_text"),
        sum(when(col("kept"), 1).otherwise(0)).cast("int").as("n_kept"),
        sum(when(!col("kept"), 1).otherwise(0)).cast("int").as("n_dropped"))
    docs.select(col(id)).join(perDoc, Seq(id), "left_outer")
      .select(col(id),
        coalesce(col("clean_text"), lit("")).as("clean_text"),
        coalesce(col("n_kept"), lit(0)).as("n_kept"),
        coalesce(col("n_dropped"), lit(0)).as("n_dropped"))
  }

  def q114SegmentDedup(spark: SparkSession, dir: String): DataFrame =
    segmentDedup(Tables.documents(spark, dir), "doc_id", "text", w = 3)

  val q114SegmentDedupSql: String = """
    WITH toksS AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '')
               AS ts
      FROM documents),
    segsS AS (
      SELECT doc_id, CAST((u.s - 1) // 3 + 1 AS INT) AS sidx,
             array_to_string(ts[u.s : u.s + 2], ' ') AS seg
      FROM toksS, unnest(range(1, len(ts) + 1, 3)) AS u(s)),
    markedS AS (
      SELECT doc_id, sidx, seg,
             ROW_NUMBER() OVER (PARTITION BY seg ORDER BY doc_id, sidx) = 1
               AS kept
      FROM segsS),
    perDocS AS (
      SELECT doc_id,
             STRING_AGG(seg, ' ' ORDER BY sidx) FILTER (WHERE kept)
               AS clean_text,
             COUNT(*) FILTER (WHERE kept) AS n_kept,
             COUNT(*) FILTER (WHERE NOT kept) AS n_dropped
      FROM markedS GROUP BY doc_id)
    SELECT d.doc_id,
           COALESCE(p.clean_text, '') AS clean_text,
           CAST(COALESCE(p.n_kept, 0) AS INT) AS n_kept,
           CAST(COALESCE(p.n_dropped, 0) AS INT) AS n_dropped
    FROM documents d LEFT JOIN perDocS p ON p.doc_id = d.doc_id"""

  // --- q130_durable_cc: q47's clustering under durable checkpointing ------
  /** The q47 clustering computed WITH the Pregel durable checkpoint
    * enabled — the fault-tolerance path under the correctness gate: the
    * hash match certifies the durable write/marker cycle changes nothing
    * about the computation, and the written state is the real mid-run
    * state (PregelSpec separately proves a killed run RESUMES from it to
    * the identical result). */
  def q130DurableCc(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val edges = undirectedEdges(ngramJaccardPairs(docs, "doc_id", "text"))
    graft.graph.Algorithms
      .connectedComponents(docs.select(col("doc_id").as("id")), edges,
        durableDir = Some(graft.sources.Sink.scratchPath("graft_cc_ckpt", dir)))
      .select(col("id").as("doc_id"), col("component").as("cluster"))
  }

  // --- q123_source_overlap: which sources duplicate each other ------------
  /** The curation dashboard behind dedup: the near-dup PAIR set rolled up
    * to an unordered source×source matrix — which crawl mirrors which,
    * where the cross-source contamination concentrates, what a source
    * actually adds. Composition, not new machinery: the verified q35 pair
    * detector feeds two doc→source equi-joins (the pair frame is orders
    * of magnitude smaller than the corpus, so it broadcasts into both)
    * and one small groupBy; source pairs are canonicalized
    * least/greatest so (a,b) and (b,a) collapse. */
  def q123SourceOverlap(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val src = docs.select(col("doc_id"), col("source"))
    ngramJaccardPairs(docs, "doc_id", "text")
      .select(col("id_a"), col("id_b"))
      .join(src.select(col("doc_id").as("id_a"), col("source").as("sa")),
        Seq("id_a"))
      .join(src.select(col("doc_id").as("id_b"), col("source").as("sb")),
        Seq("id_b"))
      .select(least(col("sa"), col("sb")).as("source_a"),
        greatest(col("sa"), col("sb")).as("source_b"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).as("n_pairs"))
  }

  val q123SourceOverlapSql: String = s"""
    WITH $ngramPairCtes,
    jp AS (
      SELECT p.id_a, p.id_b
      FROM pairs p
      JOIN sizes za ON za.doc_id = p.id_a
      JOIN sizes zb ON zb.doc_id = p.id_b
      WHERE CAST(p.inter AS DOUBLE) / (za.sz + zb.sz - p.inter) >= 0.8)
    SELECT least(da.source, db.source) AS source_a,
           greatest(da.source, db.source) AS source_b,
           COUNT(*) AS n_pairs
    FROM jp
    JOIN documents da ON da.doc_id = jp.id_a
    JOIN documents db ON db.doc_id = jp.id_b
    GROUP BY 1, 2"""

  // --- q101_novelty: first-occurrence n-gram novelty per document ---------
  /** Corpus-order novelty: the share of a document's DISTINCT 3-gram
    * shingles whose earliest occurrence (minimum doc id) is this document
    * — the "new n-gram rate" curators use to measure how much a crawl
    * increment actually adds versus re-crawls (low novelty ⇒ the doc is
    * assembled from already-seen text even when no single pair-dup fires).
    *
    * Scale shape: the exploded distinct-shingle frame persists once; the
    * first-seen map is a `groupBy(shingle).min` with map-side partial
    * aggregation (one row per distinct shingle), joined back on the
    * shingle key — the groupBy+join discipline, never a value-keyed
    * window over shingle occurrences. The ratio is [[ratio6]] integer
    * arithmetic. */
  def ngramNovelty(docs: DataFrame, id: String, text: String): DataFrame = {
    val sh = graft.CacheRegistry.persist(
      docs.select(col(id),
        explode(array_distinct(shingles(col(text), 3))).as("s")))
    val first = sh.groupBy(col("s")).agg(min(col(id)).as("first_doc"))
    sh.join(first, Seq("s"))
      .groupBy(col(id))
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col(id) === col("first_doc"), 1L).otherwise(0L))
          .as("n_novel"))
      .select(col(id), col("n_shingles"), col("n_novel"),
        graft.ops.Relational.ratio6("n_novel", "n_shingles").as("novelty6"))
  }

  def q101Novelty(spark: SparkSession, dir: String): DataFrame =
    ngramNovelty(Tables.documents(spark, dir), "doc_id", "text")

  val q101NoveltySql: String = s"""
    WITH $ngramShingleCtes,
    f AS (SELECT shingle, MIN(doc_id) AS first_doc FROM sh GROUP BY shingle)
    SELECT sh.doc_id,
           COUNT(*) AS n_shingles,
           CAST(SUM(CASE WHEN sh.doc_id = f.first_doc THEN 1 ELSE 0 END)
                AS BIGINT) AS n_novel,
           ${graft.ops.Relational.ratio6Sql(
             "SUM(CASE WHEN sh.doc_id = f.first_doc THEN 1 ELSE 0 END)",
             "COUNT(*)")} AS novelty6
    FROM sh JOIN f USING (shingle)
    GROUP BY sh.doc_id"""

  // --- q156_winnowing: MOSS winnowing fingerprint near-dup ---------------
  def q156Winnowing(spark: SparkSession, dir: String): DataFrame =
    winnowingPairs(Tables.documents(spark, dir), "doc_id", "text")

  /** DuckDB replay of [[winnowingPairs]] at the registered defaults
    * (k=3, w=4, maxDf=64, minShared=2): the positional-token CTE is q153's,
    * the gram chain is the `pos+1` adjacency equi-join, and the window-min
    * / tie-lane arithmetic is integer-identical to the Scala. */
  val q156WinnowingSql: String = raw"""
    WITH t AS (
      SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS ws
      FROM documents),
    tok AS MATERIALIZED (
      SELECT doc_id, u['pos'] AS pos, u['w'] AS w FROM (
        SELECT doc_id, unnest(list_transform(range(1, len(ws) + 1),
            i -> struct_pack(pos := i - 1, w := ws[i]))) AS u
        FROM t) s
      WHERE u['w'] <> ''),
    g3 AS (
      SELECT a.doc_id, a.pos,
             (((31 * length(a.w) + ascii(a.w[1:1])) * 1000003
               + (31 * length(b.w) + ascii(b.w[1:1]))) % 1000000007
              * 1000003
              + (31 * length(c.w) + ascii(c.w[1:1]))) % 1000000007 AS ghash
      FROM tok a
      JOIN tok b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
      JOIN tok c ON c.doc_id = a.doc_id AND c.pos = a.pos + 2),
    seqd AS (
      SELECT doc_id, ghash,
             ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) AS gi,
             COUNT(*) OVER (PARTITION BY doc_id) AS n
      FROM g3),
    keyed AS (
      SELECT doc_id, gi, n,
             ghash * 1048576 + GREATEST(0, 1048575 - gi) AS tkey
      FROM seqd),
    wins AS (
      SELECT doc_id, gi, n,
             MIN(tkey) OVER (PARTITION BY doc_id ORDER BY gi
                             ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS wk
      FROM keyed),
    fps AS (
      SELECT DISTINCT doc_id, wk // 1048576 AS fp
      FROM wins WHERE gi <= GREATEST(1, n - 3)),
    hot AS (SELECT fp FROM (SELECT fp, COUNT(*) AS df FROM fps GROUP BY fp)
            WHERE df > 64),
    kept AS (SELECT * FROM fps
             WHERE fp NOT IN (SELECT fp FROM hot)),
    sizes AS (SELECT doc_id, COUNT(*) AS sz FROM kept GROUP BY doc_id),
    pairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS shared
      FROM kept a JOIN kept b ON a.fp = b.fp AND a.doc_id < b.doc_id
      GROUP BY 1, 2)
    SELECT p.id_a, p.id_b, p.shared, za.sz AS n_a, zb.sz AS n_b,
           """ + graft.ops.Relational.ratio6Sql(
             "p.shared", "za.sz + zb.sz - p.shared") + raw""" AS resemblance6
    FROM pairs p
    JOIN sizes za ON za.doc_id = p.id_a
    JOIN sizes zb ON zb.doc_id = p.id_b
    WHERE p.shared >= 2"""

  // declared after [[ngramShingleCtes]] — same forward-reference rule
  val q168VocabGrowthSql: String = s"""
    WITH $ngramShingleCtes,
    fs AS (SELECT shingle, MIN(doc_id) AS first_doc FROM sh GROUP BY shingle),
    bk AS (SELECT first_doc // 50 AS bucket, COUNT(*) AS novel
           FROM fs GROUP BY 1)
    SELECT CAST(bucket AS BIGINT) AS bucket, CAST(novel AS BIGINT) AS novel,
           CAST(SUM(novel) OVER (ORDER BY bucket) AS BIGINT) AS cum_vocab
    FROM bk"""

  // declared after [[ngramShingleCtes]]: a forward reference between plain
  // vals in one object silently interpolates null into the SQL
  /** One constant owns the df-cap default so the Scala signature and the
    * generated oracle SQL cannot drift (the q42 targetBucket pattern) —
    * drift would surface only on corpora where the cap binds, which the
    * test corpora deliberately don't. */
  private[graft] final val defaultMaxPostings: Int = 10000

  val q148ContainmentSql: String = s"""
    WITH $ngramShingleCtes,
    -- mirror of containmentPairs' maxPostings df-cap (shared constant):
    -- boilerplate shingles leave the universe before sizing OR pairing
    shc AS (SELECT s.doc_id, s.shingle FROM sh s
            JOIN (SELECT shingle FROM sh GROUP BY shingle
                  HAVING COUNT(*) <= $defaultMaxPostings) k USING (shingle)),
    sizes AS (SELECT doc_id, COUNT(*) AS sz FROM shc GROUP BY doc_id),
    pairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
      FROM shc a JOIN shc b ON a.shingle = b.shingle AND a.doc_id <> b.doc_id
      GROUP BY 1, 2)
    SELECT p.id_a, p.id_b, CAST(p.inter AS INT) AS inter,
           CAST(za.sz AS INT) AS n_a,
           ${graft.ops.Relational.ratio6Sql("p.inter", "za.sz")}
             AS containment6
    FROM pairs p JOIN sizes za ON za.doc_id = p.id_a
    WHERE ${graft.ops.Relational.ratio6Sql("p.inter", "za.sz")} >= 0.5"""

  // --- q265_verbatim_atscale: ExactSubstr windows at 2^20 documents -------
  /** At-scale correctness coverage for [[substrDupSignals]] — q93 scans
    * the ~500-doc sf corpus; this replays the SAME entry point (k = 16,
    * stride = 8) over 2²⁰ range-built 48-char documents in three planted
    * classes whose window census is closed-form:
    *
    *  - **reuse** (id ≡ 0 mod 4): a fixed 32-char license block + a
    *    16-char unique tail. Of the five sampled windows, the three
    *    inside the block are shared by every reuse doc, the
    *    block-suffix+tail-prefix straddle is ALSO shared (the tail's
    *    7-digit ids all lpad to the same leading zeros — deliberate, it
    *    plants a dup window that is NOT a pure block window), and the
    *    tail window is unique → n_dup = 4 of 5;
    *  - **clean** (the rest): three 16-char blocks each embedding the
    *    full zero-padded id at a distinct marker, so ALL five windows
    *    (aligned and straddling) are globally unique → n_dup = 0 of 5;
    *  - **short** (id ≡ 5 mod 8): text shorter than k — the length
    *    filter must drop these docs entirely, so the rollup's doc total
    *    coming up 2¹⁷ short IS the assertion.
    *
    * Output: rollup by (n_windows, n_dup_windows, dup_ratio) with count
    * and id sum — two rows whose counts and arithmetic-progression sums
    * the oracle emits closed-form. What the gate holds closed at volume:
    * the ~4.6M-row window frame is explode + codegen'd substring, window
    * multiplicity is an aggregate (never a value-keyed window), and dup
    * windows join back with a semi join. */
  private[graft] val q265Docs = 1L << 20

  private[graft] val q265License = "licenseheaderblockredistribution"

  private[graft] def q265TextSql: String = s"""
    CASE WHEN doc_id % 4 = 0
           THEN '$q265License' || 'd' || lpad(CAST(doc_id AS STRING), 15, '0')
         WHEN doc_id % 8 = 5
           THEN 'x' || CAST(doc_id AS STRING)
         ELSE 'a' || lpad(CAST(doc_id AS STRING), 15, '0')
           || 'b' || lpad(CAST(doc_id AS STRING), 15, '0')
           || 'c' || lpad(CAST(doc_id AS STRING), 15, '0') END"""

  private[graft] def q265Frame(spark: SparkSession,
                               docs: Long = q265Docs): DataFrame =
    spark.range(docs).select(col("id").as("doc_id"))
      .select(col("doc_id"), expr(q265TextSql).as("text"))

  def q265VerbatimAtScale(spark: SparkSession, dir: String): DataFrame =
    q265VerbatimAtScale0(spark, q265Docs)

  private[graft] def q265VerbatimAtScale0(spark: SparkSession,
                                          docs: Long): DataFrame =
    substrDupSignals(q265Frame(spark, docs), "doc_id", "text",
      k = 16, stride = 8)
      .groupBy(col("n_windows"), col("n_dup_windows"), col("dup_ratio"))
      .agg(count(lit(1)).as("n_docs"), sum(col("doc_id")).as("sum_ids"))

  private[graft] def q265OracleSql(docs: Long = q265Docs): String = {
    // the closed forms below count residue classes as exact fractions of
    // `docs` — valid only when every class is full; a caller passing an
    // unaligned size would get a silently wrong oracle, not an error
    require(docs % 8 == 0, s"q265 oracle needs docs % 8 == 0, got $docs")
    val r = docs / 4                    // reuse docs: ids 0, 4, 8, …
    val s = docs / 8                    // short docs: ids 5, 13, 21, …
    val reuseSum = 2L * r * (r - 1)     // Σ 4j over j < r
    val shortSum = 4L * s * (s - 1) + 5L * s
    val total = docs * (docs - 1) / 2
    val cleanN = docs - r - s
    val cleanSum = total - reuseSum - shortSum
    s"""
    SELECT CAST(5 AS BIGINT) AS n_windows, CAST(4 AS BIGINT)
             AS n_dup_windows,
           CAST(0.8 AS DOUBLE) AS dup_ratio,
           CAST($r AS BIGINT) AS n_docs, CAST($reuseSum AS BIGINT) AS sum_ids
    UNION ALL
    SELECT CAST(5 AS BIGINT), CAST(0 AS BIGINT), CAST(0.0 AS DOUBLE),
           CAST($cleanN AS BIGINT), CAST($cleanSum AS BIGINT)"""
  }

  // --- q266_spanexcision_atscale: span decontamination at 2^20 docs -------
  /** At-scale correctness coverage for [[spanExcision]] — q113 excises
    * the ~500-doc sf corpus; this replays the SAME entry point (n = 5,
    * minTokens = 3) over 2²⁰ range-built 16-token documents in four
    * contamination layouts against a one-shingle benchmark
    * (`g0 g1 g2 g3 g4`):
    *
    *  - clean → the whole document survives as one 16-token fragment;
    *  - front-contaminated (positions 0–4) → one 11-token tail fragment;
    *  - middle-contaminated (6–10) → TWO fragments (6 + 5 tokens) — the
    *    gaps-and-islands split;
    *  - end-contaminated (9–13) with a 2-token residue → the residue
    *    falls to minTokens and ONLY the 9-token head survives.
    *
    * Texts are class-deterministic, so the five expected (class,
    * frag_id, frag_text, n_tokens) rows are literals and the rollup
    * counts/id-sums are arithmetic progressions the oracle emits
    * closed-form. What the gate holds closed at volume: the benchmark
    * side broadcasts (one shingle), the positional grams ride ONE
    * per-doc window sort, and covered positions collapse to a doc-keyed
    * array — the corpus is never shuffled on a value key. */
  private[graft] val q266Docs = 1L << 20

  private[graft] val q266ClassTexts: Seq[String] = Seq(
    (0 to 15).map(j => s"a$j").mkString(" "),
    ("g0 g1 g2 g3 g4 " + (5 to 15).map(j => s"b$j").mkString(" ")),
    ((0 to 5).map(j => s"c$j").mkString(" ") + " g0 g1 g2 g3 g4 " +
      (11 to 15).map(j => s"c$j").mkString(" ")),
    ((0 to 8).map(j => s"d$j").mkString(" ") + " g0 g1 g2 g3 g4 d14 d15"))

  private[graft] def q266TextSql: String =
    q266ClassTexts.zipWithIndex.map { case (t, i) =>
      s"WHEN $i THEN '$t'"
    }.mkString("CASE doc_id % 4 ", " ", " END")

  private[graft] def q266Frame(spark: SparkSession,
                               docs: Long = q266Docs): DataFrame =
    spark.range(docs).select(col("id").as("doc_id"))
      .select(col("doc_id"), expr(q266TextSql).as("text"))

  def q266SpanexcisionAtScale(spark: SparkSession, dir: String): DataFrame =
    q266SpanexcisionAtScale0(spark, q266Docs)

  private[graft] def q266SpanexcisionAtScale0(spark: SparkSession,
                                              docs: Long): DataFrame = {
    val bench = spark.range(1).select(col("id").as("doc_id"),
      lit("g0 g1 g2 g3 g4").as("text"))
    spanExcision(q266Frame(spark, docs), bench, "doc_id", "text", n = 5)
      .groupBy((col("doc_id") % 4).as("cls"), col("frag_id"),
        col("frag_text"), col("n_tokens"))
      .agg(count(lit(1)).as("n_docs"), sum(col("doc_id")).as("sum_ids"))
  }

  /** The five expected fragments per class: (cls, frag_id, text, n). */
  private[graft] val q266Frags: Seq[(Int, Int, String, Int)] = Seq(
    (0, 1, (0 to 15).map(j => s"a$j").mkString(" "), 16),
    (1, 1, (5 to 15).map(j => s"b$j").mkString(" "), 11),
    (2, 1, (0 to 5).map(j => s"c$j").mkString(" "), 6),
    (2, 2, (11 to 15).map(j => s"c$j").mkString(" "), 5),
    (3, 1, (0 to 8).map(j => s"d$j").mkString(" "), 9))

  private[graft] def q266OracleSql(docs: Long = q266Docs): String = {
    // same residue-class-fullness assumption as q265's oracle
    require(docs % 4 == 0, s"q266 oracle needs docs % 4 == 0, got $docs")
    val m = docs / 4
    q266Frags.map { case (cls, fid, txt, nt) =>
      val sumIds = 2L * m * (m - 1) + cls.toLong * m
      s"""SELECT CAST($cls AS BIGINT) AS cls, CAST($fid AS INT) AS frag_id,
            '$txt' AS frag_text, CAST($nt AS INT) AS n_tokens,
            CAST($m AS BIGINT) AS n_docs, CAST($sumIds AS BIGINT) AS sum_ids"""
    }.mkString("\n    UNION ALL\n    ")
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q266_spanexcision_atscale" -> q266SpanexcisionAtScale _,
    "q265_verbatim_atscale" -> q265VerbatimAtScale _,
    "q27_exact_dedup"   -> q27ExactDedup _,
    "q31_minhash_lsh"   -> q31MinHashLsh _,
    "q35_ngram_jaccard" -> q35NgramJaccard _,
    "q41_simhash"       -> q41SimHash _,
    "q47_dedup_clusters" -> q47DedupClusters _,
    "q131_canonical_pick" -> q131CanonicalPick _,
    "q175_dedup_yield"  -> q175DedupYield _,
    "q112_cc_alternating" -> q112CcAlternating _,
    "q130_durable_cc"   -> q130DurableCc _,
    "q62_decontaminate" -> q62Decontaminate _,
    "q113_span_excision" -> q113SpanExcision _,
    "q114_segment_dedup" -> q114SegmentDedup _,
    "q123_source_overlap" -> q123SourceOverlap _,
    "q69_bloom_decontaminate" -> q69BloomDecontaminate _,
    "q70_incremental_dedup" -> q70IncrementalDedup _,
    "q93_substr_dup"    -> q93SubstrDup _,
    "q101_novelty"      -> q101Novelty _,
    "q148_containment"  -> q148Containment _,
    "q156_winnowing"    -> q156Winnowing _,
    "q165_weighted_jaccard" -> q165WeightedJaccard _,
    "q168_vocab_growth" -> q168VocabGrowth _,
    "q209_minhash_atscale" -> q209MinhashAtScale _,
    "q249_simhash_atscale" -> q249SimhashAtScale _,
    "q250_jaccard_atscale" -> q250JaccardAtScale _,
    "q251_decontaminate_atscale" -> q251DecontaminateAtScale _,
    "q253_incremental_atscale" -> q253IncrementalAtScale _,
    "q254_containment_atscale" -> q254ContainmentAtScale _,
    "q271_postingscap_atscale" -> q271PostingscapAtScale _,
    "q256_wjaccard_atscale" -> q256WjaccardAtScale _,
  )

  def oracles: Map[String, String] = Map(
    "q266_spanexcision_atscale" -> q266OracleSql(),
    "q265_verbatim_atscale" -> q265OracleSql(),
    "q209_minhash_atscale" -> q209OracleSql(),
    "q249_simhash_atscale" -> q249OracleSql(),
    "q250_jaccard_atscale" -> q250OracleSql(),
    "q251_decontaminate_atscale" -> q251OracleSql(),
    "q253_incremental_atscale" -> q253OracleSql(),
    "q254_containment_atscale" -> q254OracleSql(),
    "q271_postingscap_atscale" -> q271OracleSql(),
    "q256_wjaccard_atscale" -> q256OracleSql(),
    "q148_containment"  -> q148ContainmentSql,
    "q27_exact_dedup"   -> q27ExactDedupSql,
    "q31_minhash_lsh"   -> ngramJaccardOracleSql,
    "q35_ngram_jaccard" -> ngramJaccardOracleSql,
    "q41_simhash"       -> ngramJaccardOracleSql,
    "q47_dedup_clusters" -> q47DedupClustersSql,
    "q131_canonical_pick" -> q131CanonicalPickSql,
    "q175_dedup_yield"  -> q175DedupYieldSql,
    "q112_cc_alternating" -> q47DedupClustersSql,
    "q130_durable_cc"   -> q47DedupClustersSql,
    "q62_decontaminate" -> q62DecontaminateSql,
    "q113_span_excision" -> q113SpanExcisionSql,
    "q114_segment_dedup" -> q114SegmentDedupSql,
    "q123_source_overlap" -> q123SourceOverlapSql,
    "q69_bloom_decontaminate" -> q69BloomDecontaminateSql,
    "q70_incremental_dedup" -> q70IncrementalDedupSql,
    "q93_substr_dup"    -> q93SubstrDupSql,
    "q101_novelty"      -> q101NoveltySql,
    "q156_winnowing"    -> q156WinnowingSql,
    "q165_weighted_jaccard" -> q165WeightedJaccardSql,
    "q168_vocab_growth" -> q168VocabGrowthSql,
  )
}
