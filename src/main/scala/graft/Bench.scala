package graft
import org.apache.spark.sql.DataFrame
import java.nio.file.{Files, Paths}

/** Per-round benchmark: runs every registered query against
  * SPARK_GRAFT_SF_DIR and emits one JSON line with per-query seconds.
  *
  * Harness details (each fixes a judged round-1 flaw):
  *   - results sink to the `noop` datasource, not `count()`, so every
  *     projected expression is actually evaluated (a `count()` lets Catalyst
  *     prune unevaluated columns from projection-only queries);
  *   - one untimed warmup pass pays session/codegen/JIT cost so timings are
  *     comparable across rounds;
  *   - failures are recorded per-query in an `errors` field and flip the
  *     exit code — a broken query can no longer hide inside a green total;
  *   - the JSON line is printed to stdout AND written to `bench_latest.json`
  *     so the driver can parse it even when sbt log noise surrounds stdout.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = LocalSession.build(cpus)

    def exec(df: DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()

    // Warmup, untimed: flagship agg + one join + a 3-vertex Pregel run + a
    // 20-doc dedup pass — the iterative path AND the dedup detectors each
    // compile their own family of whole-stage-codegen classes and planner
    // shapes, whose one-time cost would otherwise bill the first query of
    // that family to run (measured ~7s on q47's first run vs ~3.3s
    // steady-state — most of its recorded spread was this compile).
    // Graph loops plan in one reused session per loop shape
    // (GraftSessionBridge.withConfs), so the classes the warm-up loops
    // compile stay in the codegen cache for the timed loops of the same
    // shape; with a fresh session per run, every run compiled its loop's
    // classes again and this warm-up primed only the JIT and the planner.
    try {
      import org.apache.spark.sql.functions._
      exec(ops.Relational.q1Agg(spark, sfDir))
      exec(ops.Relational.q3JoinAgg(spark, sfDir))
      val wv = spark.range(3).select(col("id"), col("id").as("value"))
      val we = spark.range(3).select(col("id").as("src"),
        pmod(col("id") + 1, lit(3)).as("dst"))
      exec(graph.Algorithms.maxValuePropagation(wv, we, maxIter = 4).vertices)
      // a 30-vertex RING runs ~30 supersteps (10 blocks) — the long-loop
      // cadence q32/q33/q60 actually execute, which the 4-superstep pass
      // above never reaches; without it their first timed runs still
      // carried block-loop JIT drift
      val rv = spark.range(30).select(col("id"), col("id").as("value"))
      val re = spark.range(30).select(col("id").as("src"),
        pmod(col("id") + 1, lit(30)).as("dst"))
      exec(graph.Algorithms.maxValuePropagation(rv, re, maxIter = 30).vertices)
      val wd = spark.range(20).select(col("id").as("doc_id"),
        concat_ws(" ", (0 until 30).map(j =>
          pmod(col("id") * (j + 7), lit(50)).cast("string")): _*).as("text"))
      exec(ext.Dedup.nearDupMinHash(wd, "doc_id", "text"))
      exec(ext.Dedup.nearDupSimHash(wd, "doc_id", "text"))
      // The q47-family substrate (PPJoin jaccard → CC on the Pregel loop,
      // plus the shared docStats scan), THRICE on a duplicate-seeded tiny
      // corpus: none of it is touched by the warmups above, and its
      // planner/JIT paths keep speeding up over ~4 executions (measured
      // 4.5→3.2s descending curve on q47 that billed the first timed runs
      // as "spread"). Three cheap passes park the curve near steady state
      // before anything is timed.
      val wdup = spark.range(60).select(col("id").as("doc_id"),
        concat_ws(" ", (0 until 25).map(j =>
          pmod(col("id").divide(lit(3)).cast("long") * (j + 7),
            lit(40)).cast("string")): _*).as("text"))
      for (_ <- 1 to 3) {
        val edges = ext.Dedup.undirectedEdges(
          ext.Dedup.ngramJaccardPairs(wdup, "doc_id", "text"))
        exec(graph.Algorithms.connectedComponents(
          wdup.select(col("doc_id").as("id")), edges))
        exec(ext.TextAnalysis.docStats(wdup))
        CacheRegistry.unpersistAll()
        spark.catalog.clearCache()
      }
      CacheRegistry.unpersistAll()
      spark.catalog.clearCache()
    } catch { case _: Throwable => () }

    // SPARK_GRAFT_ONLY=q32_pagerank,q47_dedup_clusters → targeted profiling
    // (parser shared with Verify via SparkEntry.onlyFilter)
    val only = SparkEntry.onlyFilter
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.forall(_.contains(n)))
    // Each query runs once UNTIMED, then SPARK_GRAFT_RUNS timed times
    // (default 3), reporting the per-query MEDIAN of the timed runs plus
    // their min-max spread. Single runs of the iterative queries swung >2×
    // run-to-run (q47 recorded 11.3s in one round vs ~4.5s instrumented).
    // The untimed run exists because run 1 was structurally slower, which
    // the SPREAD then reported as variance: every query's first execution
    // compiles its whole-stage-codegen classes (identical plans hit the
    // codegen cache on later runs) and, for the write-path queries
    // (q71/q76/q87), faults a cold scratch directory into the page cache —
    // measured 1–2s of run-1-only cost on the dedup/bucketing families.
    val runs = math.max(1, sys.env.getOrElse("SPARK_GRAFT_RUNS", "3").toInt)
    val warmups = math.max(1, sys.env.getOrElse("SPARK_GRAFT_WARMUPS", "1").toInt)
    // Per-query cost bound: a query whose WARMUP run exceeds this many
    // seconds gets ONE timed run instead of `runs` — its median would cost
    // 4× a known-expensive execution for a number the warmup already
    // predicts. The r6 driver bench spent 35:34 and starved the verify
    // phase; q13 (36.5s) and q140 (16.9s) × 4 executions were the worst
    // line items. Medians of one run are noisier, which is the accepted
    // price of the driver run FINISHING; builders profile with
    // SPARK_GRAFT_SLOW_CUTOFF=9999 to force full runs.
    val slowCutoff =
      sys.env.getOrElse("SPARK_GRAFT_SLOW_CUTOFF", "8.0").toDouble
    // Stress lane: queries that exist to oracle-check an at-scale code path
    // (synthetic range-built load, not corpus reads) run EXACTLY ONCE, timed,
    // with no warmup pass. q201 alone was 26.3s × 2 executions — 11% of the
    // r9 bench wall — and the number it produces is deliberately dominated by
    // synthetic data generation, so a median-of-3 buys nothing. Correctness
    // coverage is unaffected (Verify runs every query regardless).
    val stressQueries: Set[String] = Set(
      "q201_cc_atscale", "q204_scc_atscale", "q205_labelprop_atscale",
      "q206_stream_atscale", "q207_ann_atscale", "q208_cosine_atscale",
      "q209_minhash_atscale", "q210_topk_atscale", "q211_asof_atscale",
      "q212_saltedjoin_atscale", "q213_prefixsum_atscale",
      "q214_streamjoin_atscale", "q215_bm25_atscale", "q216_cms_atscale",
      "q217_ticket_atscale", "q218_scd2_atscale", "q219_pagerank_atscale",
      "q220_sssp_atscale", "q221_triangles_atscale", "q222_kcore_atscale",
      "q223_media_atscale", "q224_streamdedup_atscale",
      "q225_widest_atscale", "q226_critical_atscale",
      "q227_incremental_cc_atscale", "q228_landmark_atscale",
      "q229_hits_atscale", "q230_kmeans_atscale", "q231_skyline_atscale",
      "q232_seqpack_atscale", "q233_sessionwindow_atscale",
      "q234_phrase_atscale", "q235_linkage_atscale",
      "q236_trustrank_atscale", "q237_equidepth_atscale",
      "q238_hilbert_atscale", "q239_zorder_atscale",
      "q240_boilerplate_atscale", "q241_invindex_atscale",
      "q242_upsert_atscale", "q243_profile_atscale", "q244_bpe_atscale",
      "q245_hll_atscale", "q246_cube_atscale",
      "q247_stratified_atscale", "q248_funnel_atscale",
      "q249_simhash_atscale", "q250_jaccard_atscale",
      "q251_decontaminate_atscale", "q252_diff_atscale",
      "q253_incremental_atscale", "q254_containment_atscale",
      "q255_temperature_atscale", "q256_wjaccard_atscale",
      "q257_pqadc_atscale", "q258_cooccur_atscale",
      "q259_tfidf_atscale", "q260_urldedup_atscale",
      "q261_dsir_atscale", "q262_chunk_atscale",
      "q263_filtergate_atscale", "q264_sourcecap_atscale",
      "q265_verbatim_atscale", "q266_spanexcision_atscale",
      "q267_retention_atscale", "q268_rarity_atscale",
      "q269_clustersplit_atscale", "q270_correlations_atscale",
      "q271_postingscap_atscale",
      "q272_kmeansivf_atscale", "q273_semdedupivf_atscale",
      "q274_ivfnprobe_atscale")
    // Optional per-query reference timings: the committed
    // bench_baseline.json (same JSON shape Bench writes — the builder
    // refreshes it from isolated full runs each round; per-query MIN).
    // Used ONLY to decide whether a row's recorded time looks
    // interference-inflated and deserves one confirmation rerun — both
    // lanes consult it since r15 (four corpus rows read 3–6× baseline in
    // the r14 driver artifact with nothing to catch it). An optional
    // top-level "iso" object carries the ISOLATED cost for queries whose
    // in-suite number is legitimately faster than a cold run (warm-JIT
    // lane effects — q253 reads ~31 s behind its lane predecessors vs
    // ~64 s isolated): the rerun trigger uses max(queries, iso) so a
    // lane-order change can't read as a regression, while the
    // suspicious-fast check keeps using the in-suite min.
    def parseObj(s: String, key: String): Map[String, Double] =
      // tolerate whitespace after the key (a pretty-printed baseline
      // silently parsing to empty would disable the guard with no error)
      ("\"" + key + "\"\\s*:\\s*\\{").r.findFirstMatchIn(s) match {
        case None => Map.empty
        case Some(m) =>
          val sub = s.substring(m.end - 1, s.indexOf('}', m.end) + 1)
          "\"([^\"]+)\"\\s*:\\s*([-0-9.eE+]+)".r.findAllMatchIn(sub)
            .map(g => g.group(1) -> g.group(2).toDouble).toMap
      }
    val baselineFile = Paths.get("bench_baseline.json")
    val (baseline, baselineIso) =
      if (!Files.exists(baselineFile)) (Map.empty[String, Double], Map.empty[String, Double])
      else {
        val s = Files.readString(baselineFile)
        (parseObj(s, "queries"), parseObj(s, "iso"))
      }
    // The guard must not fail OPEN silently: a format drift that parses
    // the existing file to an empty map would disable every rerun check
    // with no signal (exactly the failure mode the tolerant parse above
    // was added for). Warn loudly and record the state in the artifact.
    val baselineLoaded = baseline.nonEmpty
    if (Files.exists(baselineFile) && !baselineLoaded)
      System.err.println(
        "[bench] WARNING: bench_baseline.json exists but parsed to an " +
        "empty queries map — the interference rerun guard is DISABLED. " +
        "Check the file's format (compact {\"queries\":{...}} expected).")
    // (first run, confirmation rerun) for every row the baseline check
    // re-ran — recorded verbatim, per lane, so the artifact shows its work
    val stressReruns =
      scala.collection.mutable.LinkedHashMap[String, (Double, Double)]()
    val corpusReruns =
      scala.collection.mutable.LinkedHashMap[String, (Double, Double)]()
    // rows whose rerun did NOT land back in the baseline's accepted band —
    // the inflated first number is kept (a real regression reproduces;
    // substituting the min there would mask it) and the name is flagged
    val flaggedRows = scala.collection.mutable.ArrayBuffer[String]()
    // rows recorded suspiciously FAR BELOW their in-suite baseline min —
    // never altered (fast is not a correctness problem) but surfaced, so
    // a warm-context artifact or a baseline ratchet can't pass unnoticed
    val fastRows = scala.collection.mutable.ArrayBuffer[String]()
    // the rerun trigger/acceptance threshold: far above the worst of the
    // committed in-suite min and (if present) the isolated cost
    def inflatedAbove(name: String): Option[Double] =
      baseline.get(name).map { b =>
        val hi = math.max(b, baselineIso.getOrElse(name, b))
        math.max(1.5 * hi, hi + 2.0)
      }
    // one confirmation execution behind the same GC fence the timed runs
    // use; returns None if the rerun itself fails (keep the first number)
    def rerunOnce(name: String): Option[Double] = {
      CacheRegistry.unpersistAll(blocking = true)
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(true))
      System.gc()
      System.gc()
      Thread.sleep(100)
      val t0 = System.nanoTime()
      try {
        exec(SparkEntry.queries(name)(spark, sfDir))
        Some((System.nanoTime() - t0) / 1e9)
      } catch { case _: Throwable => None }
    }
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    // stream_state must reflect THIS invocation only: the peaks map is
    // process-global and per-gate-cleared at gate START, so a filtered
    // (SPARK_GRAFT_ONLY) run in a JVM that already did a full pass would
    // otherwise print stale peaks from gates it never executed
    streaming.Streams.lastStateMetrics.clear()
    val results = names.map { name =>
      var slow = false
      val isStress = stressQueries.contains(name)
      val qWarmups = if (isStress) 0 else warmups
      val qRuns = if (isStress) 1 else runs
      val times = (1 to qWarmups + qRuns).flatMap { r =>
        if (errors.contains(name)) None // failed: don't re-fail N more times
        else if (slow && r > qWarmups + 1) None // cost-bounded: 1 timed run
        else {
          // Between runs (untimed): release everything the previous run
          // pinned, so one run's allocation debt doesn't bill the next —
          // per-query attribution was ±10× noisy without it.
          //   - blocking unpersist: async eviction I/O was still in flight
          //     when the next timed run started;
          //   - getPersistentRDDs sweep: the Pregel loops return a
          //     localCheckpoint'ed result whose RDD blocks stay pinned
          //     until GC — CacheRegistry/clearCache cannot see them, and
          //     they accumulated across runs of the q47 family;
          //   - double gc: the first pass queues ContextCleaner weak-ref
          //     work (broadcasts, checkpoint blocks); the second collects
          //     what the cleaner just released.
          // The unpersist+gc+drain path runs ONLY when blocks are actually
          // pinned: a full GC on the driver's large heap costs seconds, and
          // paying it 584 times (146 queries × 4 executions) for the ~90%
          // of queries that pin nothing is most of the r6 bench's 35-minute
          // wall (the builder's 32-core run of the same suite was ~6 min).
          // Snapshot BEFORE the unpersist calls: they remove the entries
          // from sc.persistentRdds, so a post-clear read would report
          // "nothing pinned" for exactly the CacheRegistry-heavy queries
          // whose allocation debt the gc+drain exists to retire.
          // Stress rows ALWAYS take the gc+drain path (r13): they run
          // exactly once, so one inflated execution IS the recorded
          // number — the r12 driver sweep showed run-once rows absorbing
          // the predecessor's allocation debt (q209 33.9→67.9 s on
          // unchanged code; isolated reruns in the round-13 skew audit
          // reproduced r11 exactly). Debt is not always pin-visible
          // (humongous-object fragmentation, queued ContextCleaner work),
          // so the hadPins gate alone cannot protect them. Corpus rows
          // keep the pin-gated fast path: a full GC on the large driver
          // heap costs seconds, and 146 queries × 4 executions of it is
          // most of a 35-minute bench wall (the r6 lesson) — their
          // medians-of-3 absorb noise the way a run-once row cannot.
          val hadPins = spark.sparkContext.getPersistentRDDs.nonEmpty
          CacheRegistry.unpersistAll(blocking = true)
          spark.catalog.clearCache()
          if (hadPins || isStress) {
            // sweep the survivors CacheRegistry/clearCache cannot see
            // (localCheckpoint'ed Pregel results), then collect the debt
            spark.sparkContext.getPersistentRDDs.values
              .foreach(_.unpersist(true))
            System.gc()
            System.gc()
            Thread.sleep(100) // let ContextCleaner drain before the clock starts
          }
          val t0 = System.nanoTime()
          try exec(SparkEntry.queries(name)(spark, sfDir))
          catch { case e: Throwable =>
            errors(name) =
              Option(e.getMessage).getOrElse(e.getClass.getName).take(200)
          }
          val dt = (System.nanoTime() - t0) / 1e9
          if (r <= qWarmups) { // warmup run(s): never timed
            if (dt > slowCutoff) slow = true
            None
          }
          else Some(dt)
        }
      }
      if (sys.env.contains("SPARK_GRAFT_DEBUG_TIMES"))
        System.err.println(f"[bench] $name runs: ${
          times.map(t => f"$t%.2f").mkString(" ")}")
      val sorted = times.sorted
      val median0 = if (sorted.isEmpty) 0.0 else sorted(sorted.size / 2)
      val spread = if (sorted.isEmpty) 0.0 else sorted.last - sorted.head
      // Interference reproducibility (r14, doctrine revised + corpus lane
      // added r15): one inflated reading must not become the recorded
      // number — rounds 9/10/12/13/14 each burned a verdict cycle
      // re-pinning exactly this class (q209 r12, q204 r13, four corpus
      // rows at 3–6× baseline r14: 2×+ moves on unchanged code that
      // isolated reruns reproduced at baseline). If the committed
      // baseline knows this query and the recorded time (run-once value
      // for a stress row, median for a corpus row) landed far above it
      // (>1.5× AND >2 s over max(baseline, iso) — sub-second jitter rows
      // never trigger), run it ONCE more behind the same GC fence.
      // SUBSTITUTE the rerun only when it lands back inside the
      // baseline's accepted band (below the same trigger threshold and
      // not suspiciously below the in-suite min) — that CONFIRMS
      // interference. Otherwise keep the first number and flag the row:
      // a real regression reproduces on the rerun, and the old
      // unconditional min-of-two was one-sided — a same-JVM rerun runs
      // plan-warm, so it could only ever lower numbers and would let
      // baselines ratchet downward across rounds (r14 ADVICE). Both runs
      // land verbatim in the artifact's stress_reruns / corpus_reruns.
      val recorded = inflatedAbove(name) match {
        case Some(hi) if median0 > hi && !errors.contains(name) &&
            times.nonEmpty =>
          rerunOnce(name) match {
            case Some(r) =>
              if (isStress) stressReruns(name) = (median0, r)
              else corpusReruns(name) = (median0, r)
              val fastFloor = baseline.get(name).map(_ * 0.5).getOrElse(0.0)
              if (r <= hi && r >= fastFloor) r
              else { flaggedRows += name; median0 }
            case None => median0 // keep the timed number on a rerun failure
          }
        case _ => median0
      }
      // the symmetric check the r14 guard lacked: a row far BELOW its
      // committed in-suite min is surfaced (warm-context lane effect or a
      // pending baseline ratchet), never altered
      baseline.get(name).foreach { b =>
        if (recorded < 0.5 * b && b > 1.0) fastRows += name
      }
      name -> (recorded, spread)
    }

    def jq(s: String): String =
      "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"")
        .replaceAll("[\\x00-\\x1f]", " ") + "\""
    val qs = results.map { case (k, (m, _)) => s"${jq(k)}:$m" }.mkString("{", ",", "}")
    val spreads = results.map { case (k, (_, s)) => s"${jq(k)}:$s" }.mkString("{", ",", "}")
    val errs = errors.map { case (k, v) => s"${jq(k)}:${jq(v)}" }.mkString("{", ",", "}")
    val total = results.map(_._2._1).sum
    // two lanes, reported separately: corpus rows (median-of-N over sf
    // reads) and run-once stress rows (synthetic at-scale gates) move for
    // different reasons — a like-for-like round comparison needs each
    // lane's own total, not one number mixing them
    val corpusSecs = results.collect {
      case (k, (m, _)) if !stressQueries.contains(k) => m }.sum
    val stressSecs = total - corpusSecs
    val rer = stressReruns.map { case (k, (a, b)) => s"${jq(k)}:[$a,$b]" }
      .mkString("{", ",", "}")
    val crer = corpusReruns.map { case (k, (a, b)) => s"${jq(k)}:[$a,$b]" }
      .mkString("{", ",", "}")
    val flg = flaggedRows.map(jq).mkString("[", ",", "]")
    val fst = fastRows.map(jq).mkString("[", ",", "]")
    // the four stateful gates' honest axis (peak state rows/bytes) —
    // populated by Streams.recordStatePeak during their runs
    val streamState = {
      import scala.jdk.CollectionConverters._
      streaming.Streams.lastStateMetrics.asScala.toSeq.sortBy(_._1)
        .map { case (k, (r, b)) =>
          s"""${jq(k)}:{"peak_state_rows":$r,"peak_state_bytes":$b}""" }
        .mkString("{", ",", "}")
    }
    val filtered = only.isDefined
    val line =
      s"""{"metric":"total","value":$total,"unit":"sec","filtered":$filtered,"runs_per_query":$runs,"n_queries":${results.size},"corpus_secs":$corpusSecs,"stress_secs":$stressSecs,"baseline_loaded":$baselineLoaded,"stress_reruns":$rer,"corpus_reruns":$crer,"flagged":$flg,"fast_rows":$fst,"stream_state":$streamState,"queries":$qs,"spread":$spreads,"errors":$errs,"sf":${jq(sfDir)}}"""
    println(line)
    // bench_latest.json always means "the full suite" — a SPARK_GRAFT_ONLY
    // profiling run must not masquerade as a full-bench total
    if (!filtered) Files.writeString(Paths.get("bench_latest.json"), line + "\n")
    // The full per-query JSON above is ~7KB and overflows the driver's
    // stdout tail capture (BENCH_r*.json "parsed" was null through r9).
    // Emit a compact summary as the ABSOLUTE LAST stdout line so a
    // last-line parse always succeeds; the full detail stays one line up
    // and in bench_latest.json.
    println(s"""{"metric":"total","value":$total,"unit":"sec","n_queries":${results.size},"n_errors":${errors.size},"sf":${jq(sfDir)}}""")
    spark.stop()
    if (errors.nonEmpty) sys.exit(1)
  }
}
