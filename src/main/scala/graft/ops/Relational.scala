package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.Tables

/** Relational operator surface: scan/filter/project, hash aggregation,
  * joins (broadcast + shuffle), global sort + limit (top-k).
  *
  * The reference engine (gtoonstra/remap) has no relational operators at all
  * — selection/projection live inside user `map` callbacks
  * (`daemons/core/remap.py`, the example apps), grouping is its sorted-run
  * shuffle (`daemons/core/module_reducer.py:44-96`), and joins simply do not
  * exist (SURVEY.md §2.7). This module exposes the full declarative surface
  * a user of the reference would have had to hand-write, as Catalyst plans:
  * filters/projections push into the parquet scan, aggregates get map-side
  * partial aggregation, small dimension joins broadcast.
  */
object Relational {

  /** Exact sum of a double column, returned as double.
    *
    * Double addition is not associative, so a plain `sum(double)` differs in
    * the last bits depending on partitioning/merge order — which breaks
    * hash-comparison against any other engine. Casting to decimal first makes
    * the aggregation exact (hence order-independent) in both Spark and the
    * DuckDB oracle; the final cast back to double is a single deterministic
    * rounding. This also mirrors what a production engine should do at 100 TB:
    * money columns aggregate in fixed-point, not binary floating point.
    */
  def dsum(c: Column): Column = sum(c.cast(DecimalType(28, 6))).cast("double")

  /** Order-independent average built from the exact decimal sum. */
  def davg(c: Column): Column = dsum(c) / count(c)

  /** SQL fragment mirroring [[dsum]] for the DuckDB oracle. */
  def dsumSql(expr: String): String =
    s"CAST(SUM(CAST($expr AS DECIMAL(28,6))) AS DOUBLE)"
  def davgSql(expr: String): String =
    s"${dsumSql(expr)} / COUNT($expr)"

  /** `round(p/q, 6)` for INTEGER p ≥ 0, q — computed with integer half-up
    * arithmetic (`floor((2p·10⁶+q)/2q)`), never a float round.
    * `round(double, 6)` of an integer ratio is a cross-engine landmine:
    * Spark rounds the shortest-decimal representation, DuckDB rounds a
    * float multiply, and they disagree exactly at 6-dp boundary doubles
    * (bit q37 at sf0.1). The integer form has no boundary; the final
    * ÷10⁶ of a ≤10⁷ integer is one correctly-rounded double op. NULL when
    * q ≤ 0. Operands are SQL fragments so Spark (`div`) and DuckDB (`//`)
    * each get their native integer division. */
  def ratio6(p: String, q: String): Column = expr(
    s"""CASE WHEN ($p) < 0 THEN
          CAST(raise_error('ratio6: negative numerator') AS DOUBLE)
        WHEN ($q) > 0 THEN
          CAST((2 * CAST($p AS BIGINT) * 1000000 + CAST($q AS BIGINT))
               div (2 * CAST($q AS BIGINT)) AS DOUBLE) / 1000000
        END""")

  /** DuckDB mirror of [[ratio6]]. */
  def ratio6Sql(p: String, q: String): String =
    s"""CASE WHEN ($p) < 0 THEN
          CAST(error('ratio6: negative numerator') AS DOUBLE)
        WHEN ($q) > 0 THEN
          CAST((2 * CAST($p AS BIGINT) * 1000000 + CAST($q AS BIGINT))
               // (2 * CAST($q AS BIGINT)) AS DOUBLE) / 1000000
        END"""

  /** `round(p/q, 6)` where `p` is an exact DECIMAL expression (any sign,
    * scale ≤ 6 — e.g. a [[dsum]]-style `sum(cast(c as decimal(28,6)))`
    * BEFORE its double cast) and `q` a positive integer count. The signed
    * companion of [[ratio6]]: the scaled numerator can exceed BIGINT, so
    * the half-up step runs on the decimal quotient/remainder pair instead
    * of the `2p·10⁶` trick — `q0 = |p|·10⁶ div q`, round half away from
    * zero on the remainder, re-apply the sign (truncate-vs-floor division
    * divergence never arises: both operands of every division are
    * non-negative). `·10⁶` multiplies by a DECIMAL(7,0), NOT an integer
    * literal: decimal×int in Spark needs precision 39 and would silently
    * drop a scale digit under allowPrecisionLoss. NULL when q ≤ 0. */
  def decRatio6(p: String, q: String): Column = expr(
    s"""CASE WHEN ($q) > 0 THEN
          CAST((CASE WHEN ($p) < 0 THEN -1 ELSE 1 END) *
            ((CAST(abs($p) * CAST(1000000 AS DECIMAL(7,0)) AS DECIMAL(38,0))
                div CAST($q AS BIGINT)) +
             (CASE WHEN 2 * CAST(CAST(abs($p) * CAST(1000000 AS DECIMAL(7,0))
                                       AS DECIMAL(38,0))
                                 % CAST($q AS BIGINT) AS BIGINT)
                        >= CAST($q AS BIGINT) THEN 1 ELSE 0 END))
          AS DOUBLE) / 1000000
        END""")

  /** DuckDB mirror of [[decRatio6]] — HUGEINT carries the ≤10²⁸ scaled
    * numerator exactly, as DECIMAL(38,0) does on the Spark side. */
  def decRatio6Sql(p: String, q: String): String =
    s"""CASE WHEN ($q) > 0 THEN
          CAST((CASE WHEN ($p) < 0 THEN -1 ELSE 1 END) *
            ((CAST(abs($p) * CAST(1000000 AS DECIMAL(7,0)) AS HUGEINT)
                // CAST($q AS BIGINT)) +
             (CASE WHEN 2 * CAST(CAST(abs($p) * CAST(1000000 AS DECIMAL(7,0))
                                       AS HUGEINT)
                                 % CAST($q AS BIGINT) AS BIGINT)
                        >= CAST($q AS BIGINT) THEN 1 ELSE 0 END))
          AS DOUBLE) / 1000000
        END"""

  // --- q1_agg: flagship — TPC-H Q1 analog (scan → filter → hash agg) ------
  // Remap analog: wordcount-style map+combiner+reduce over every lineitem
  // row; here it is a single partial-agg + final-agg pair, no user code.
  def q1Agg(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") <= lit("2000-01-01"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        dsum(col("l_quantity")).as("sum_qty"),
        dsum(col("l_extendedprice")).as("sum_base_price"),
        dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("sum_disc_price"),
        dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * (lit(1.0) + col("l_tax"))).as("sum_charge"),
        davg(col("l_quantity")).as("avg_qty"),
        davg(col("l_extendedprice")).as("avg_price"),
        davg(col("l_discount")).as("avg_disc"),
        count(lit(1)).as("count_order"))

  val q1AggSql: String = s"""
    SELECT l_returnflag, l_linestatus,
      ${dsumSql("l_quantity")} AS sum_qty,
      ${dsumSql("l_extendedprice")} AS sum_base_price,
      ${dsumSql("l_extendedprice * (1.0 - l_discount)")} AS sum_disc_price,
      ${dsumSql("l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax)")} AS sum_charge,
      ${davgSql("l_quantity")} AS avg_qty,
      ${davgSql("l_extendedprice")} AS avg_price,
      ${davgSql("l_discount")} AS avg_disc,
      COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2000-01-01'
    GROUP BY l_returnflag, l_linestatus"""

  // --- q2_filter_agg: TPC-H Q6 analog (tight filter → single-row agg) -----
  // Exercises predicate pushdown: all three filters reach the parquet scan.
  def q2FilterAgg(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .filter(
        col("l_shipdate") >= lit("1996-01-01") && col("l_shipdate") < lit("1998-01-01") &&
        col("l_discount").between(0.03, 0.07) && col("l_quantity") < 24)
      .agg(dsum(col("l_extendedprice") * col("l_discount")).as("revenue"),
           count(lit(1)).as("n_rows"))

  val q2FilterAggSql: String = s"""
    SELECT ${dsumSql("l_extendedprice * l_discount")} AS revenue,
           COUNT(*) AS n_rows
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
      AND l_discount BETWEEN 0.03 AND 0.07 AND l_quantity < 24"""

  // --- q3_join_agg: fact⋈fact⋈dim three-way join → agg --------------------
  // customer grows linearly with the dataset, so it carries NO broadcast
  // hint: AQE's runtime size check picks broadcast-hash while the side fits
  // (it does at every test sf) and degrades to a shuffle join at the scale
  // where a forced hint would OOM the driver. orders⋈lineitem is the real
  // shuffle join either way.
  // countDistinct stays MIXED into the agg list deliberately: its distinct
  // rewrite does expand the scan 2×, but q3's other buffers are a decimal
  // sum and a count (bytes, not q13's 4KB HLL sketches), so the expand is
  // benign — a two-level (segment, orderkey)-then-segment rewrite was
  // measured SLOWER (2.5s vs 2.0s solo at sf0.1: the extra ~|orders|-group
  // shuffle costs more than doubling cheap partial-agg input). The q13
  // dedupe-first rule is about buffer weight, not distinct counts per se.
  def q3JoinAgg(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
    val o = Tables.orders(spark, dir)
    val l = Tables.lineitem(spark, dir)
    l.join(o, l("l_orderkey") === o("o_orderkey"))
      .join(c, o("o_custkey") === c("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(
        dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"),
        countDistinct(col("o_orderkey")).as("n_orders"),
        count(lit(1)).as("n_lineitems"))
  }

  val q3JoinAggSql: String = s"""
    SELECT c_mktsegment,
      ${dsumSql("l_extendedprice * (1.0 - l_discount)")} AS revenue,
      COUNT(DISTINCT o_orderkey) AS n_orders,
      COUNT(*) AS n_lineitems
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    GROUP BY c_mktsegment"""

  // --- q4_topk: global order + limit (TakeOrdered — no full sort) ---------
  // o_orderkey tiebreak keeps the result deterministic for the oracle.
  def q4TopK(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(10)

  val q4TopKSql: String = """
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 10"""

  // --- q5_join_region: snowflake dim chain, both joins broadcast ----------
  def q5JoinRegion(spark: SparkSession, dir: String): DataFrame = {
    val r = Tables.region(spark, dir)
    val n = Tables.nation(spark, dir)
    val c = Tables.customer(spark, dir)
    // bcast-ok: nation is a 25-row fixed dim
    c.join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      // bcast-ok: region is a 5-row fixed dim
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .groupBy(col("r_name"))
      .agg(count(lit(1)).as("n_customers"),
           dsum(col("c_acctbal")).as("sum_acctbal"))
  }

  val q5JoinRegionSql: String = s"""
    SELECT r_name, COUNT(*) AS n_customers, ${dsumSql("c_acctbal")} AS sum_acctbal
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY r_name"""

  // --- q12_distinct_agg: exact distinct counts per group ------------------
  def q12DistinctAgg(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy(col("l_returnflag"))
      .agg(countDistinct(col("l_partkey")).as("n_parts"),
           countDistinct(col("l_suppkey")).as("n_supps"),
           count(lit(1)).as("n_rows"))

  val q12DistinctAggSql: String = """
    SELECT l_returnflag,
      COUNT(DISTINCT l_partkey) AS n_parts,
      COUNT(DISTINCT l_suppkey) AS n_supps,
      COUNT(*) AS n_rows
    FROM lineitem GROUP BY l_returnflag"""

  // --- q13_approx_distinct: HLL++ sketch --------------------------------
  // The sketch estimate itself is engine-specific, so the oracled output is
  // the exact count plus a derived boolean asserting the estimate landed
  // within the 5% bound — DuckDB trivially produces `TRUE`, and the hash
  // check fails iff the sketch drifts out of bounds. ScalaTest additionally
  // pins the raw relative error.
  //
  // Shape matters: `agg(approx_count_distinct(k), countDistinct(k))` in ONE
  // aggregate makes the distinct rewrite evaluate the HLL's PARTIAL step per
  // (group, k) pair — one 2^12-register buffer per distinct orderkey, gigabytes
  // of aggregation state for a 3-group result. Deduplicating first and
  // aggregating the distinct rows costs one extra exchange, keeps HLL buffers
  // at one per GROUP, and leaves the estimate bit-identical (HLL is
  // insensitive to duplicates).
  def q13ApproxDistinct(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .select(col("l_returnflag"), col("l_orderkey"))
      .distinct()
      .groupBy(col("l_returnflag"))
      // count(col) skips the one (flag, NULL) row distinct() may keep —
      // matching countDistinct's null semantics while still EMITTING a
      // group whose keys are all NULL (a pre-aggregation isNotNull filter
      // would drop that group entirely; COUNT DISTINCT keeps it at 0)
      .agg(count(col("l_orderkey")).as("exact_orders"),
           approx_count_distinct(col("l_orderkey"), 0.02).as("approx_orders"))
      // bound: 5% relative with a ±2 absolute floor — Spark's HLL++ has
      // no sparse mode, so a 16-distinct group can estimate 15 (6.25%
      // relative, 1 absolute); the floor only matters below 40 distincts,
      // where relative error is the wrong yardstick anyway (edge-corpus
      // sweep finding)
      .select(col("l_returnflag"), col("exact_orders"),
        (abs(col("approx_orders") - col("exact_orders")) <=
          greatest(col("exact_orders") * 0.05, lit(2.0))).as("approx_ok"))

  val q13ApproxDistinctSql: String = """
    SELECT l_returnflag,
           COUNT(DISTINCT l_orderkey) AS exact_orders,
           TRUE AS approx_ok
    FROM lineitem GROUP BY l_returnflag"""

  // --- q46_percentiles: exact interpolated quantiles per group ------------
  // `percentile` is exact (the aggregate buffers and sorts each group's
  // values) — right for an oracled check against DuckDB's `quantile_cont`,
  // which uses the same linear interpolation at rank p·(n−1). At 100 TB the
  // scale path is `approx_percentile` (mergeable sketch, bounded memory);
  // RelationalExtSpec bounds its drift against the exact values, q13-style.
  // One ARRAY-form percentile aggregate, not three scalar ones: the scalar
  // form buffers and sorts each group's value set once PER CALL (3×
  // buffering, 3 sorts); the array form shares one buffer and one sort for
  // all requested ranks — bit-identical results, measured ~2× on this
  // query. The same applies to q54 below.
  def q46Percentiles(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy(col("l_returnflag"))
      .agg(
        expr("percentile(l_extendedprice, array(0.5D, 0.9D, 0.99D))").as("ps"),
        count(lit(1)).as("n"))
      .select(col("l_returnflag"),
        round(col("ps")(0), 4).as("p50"),
        round(col("ps")(1), 4).as("p90"),
        round(col("ps")(2), 4).as("p99"),
        col("n"))

  val q46PercentilesSql: String = """
    SELECT l_returnflag,
           ROUND(quantile_cont(l_extendedprice, 0.5), 4) AS p50,
           ROUND(quantile_cont(l_extendedprice, 0.9), 4) AS p90,
           ROUND(quantile_cont(l_extendedprice, 0.99), 4) AS p99,
           COUNT(*) AS n
    FROM lineitem GROUP BY l_returnflag"""

  // --- q106_equidepth_hist: quantile binning (feature bucketization) ------
  /** Per-group equi-depth histogram: quartile boundaries from the exact
    * interpolated percentile (q46's oracle-certified ROUND(…, 4) form),
    * then per-bin row counts and value spans — ML feature bucketization
    * and the optimizer-statistics histogram, as one auditable result.
    * Binning compares against the ROUNDED boundaries in both engines, so
    * a value landing exactly on a boundary bins identically — the
    * boundary VALUE equality is exactly what q46 already certifies.
    *
    * Scale shape: one percentile aggregate per group (the scale caveat
    * and its q54 sketch answer are documented there), boundaries
    * broadcast back (rows = groups), bin assignment is a codegen'd CASE,
    * and the count is a map-side-partial groupBy(group, bin). */
  def q106EquidepthHist(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .select(col("l_returnflag"), col("l_extendedprice"))
    val bounds = li.groupBy(col("l_returnflag"))
      .agg(expr("percentile(l_extendedprice, array(0.25D, 0.5D, 0.75D))")
        .as("bs"))
      .select(col("l_returnflag"),
        round(col("bs")(0), 4).as("b1"),
        round(col("bs")(1), 4).as("b2"),
        round(col("bs")(2), 4).as("b3"))
    // bcast-ok: bounds is one row per l_returnflag — enum-bounded
    li.join(broadcast(bounds), "l_returnflag")
      .withColumn("bin",
        when(col("l_extendedprice") > col("b3"), 3)
          .when(col("l_extendedprice") > col("b2"), 2)
          .when(col("l_extendedprice") > col("b1"), 1)
          .otherwise(0).cast("int"))
      .groupBy(col("l_returnflag"), col("bin"))
      .agg(count(lit(1)).as("n_rows"),
        min(col("l_extendedprice")).as("lo"),
        max(col("l_extendedprice")).as("hi"))
  }

  val q106EquidepthHistSql: String = """
    WITH b AS (
      SELECT l_returnflag,
             ROUND(quantile_cont(l_extendedprice, 0.25), 4) AS b1,
             ROUND(quantile_cont(l_extendedprice, 0.5), 4) AS b2,
             ROUND(quantile_cont(l_extendedprice, 0.75), 4) AS b3
      FROM lineitem GROUP BY l_returnflag)
    SELECT l.l_returnflag,
           CAST(CASE WHEN l_extendedprice > b3 THEN 3
                     WHEN l_extendedprice > b2 THEN 2
                     WHEN l_extendedprice > b1 THEN 1
                     ELSE 0 END AS INT) AS bin,
           COUNT(*) AS n_rows,
           MIN(l_extendedprice) AS lo,
           MAX(l_extendedprice) AS hi
    FROM lineitem l JOIN b USING (l_returnflag)
    GROUP BY 1, 2"""

  // --- q54_approx_percentiles: the 100 TB percentile plan, oracled --------
  // The scale path: `approx_percentile` (KLL-style mergeable sketch, bounded
  // memory per group, partial-aggregates map-side) instead of q46's exact
  // `percentile` (buffers every group's value set — fine for an oracle, a
  // scale-killer at 100×). q13-style derived oracle: the exact columns
  // hash-check against DuckDB; the sketch's values are implementation-
  // specific, so they are asserted within a relative bound instead. The
  // accuracy knob 10000 bounds RANK error at n/10000 rows; at sf0.01
  // (~20k rows/group) that is ±2 ranks — far inside the 1% value bound.
  def q54ApproxPercentiles(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    // The sketch returns an ACTUAL data value; the exact target is the
    // INTERPOLATED percentile. At scale they agree within 1% relative,
    // but on a tiny group the interpolation gap alone can exceed 1%
    // (measured 2.9% at n=29) — so the bound also accepts an ap equal to
    // the discrete percentile, which is what a zero-error sketch returns
    // (verified: at full accuracy ap == percentile_disc on every group).
    // One sorted-array aggregate supplies all three disc percentiles
    // (percentile_disc(p) = smallest value with cdf ≥ p = the ⌈p·n⌉-th
    // order statistic): three separate percentile_disc calls each buffer
    // AND sort the group — measured 4.4 s vs ~0.4 s for this query.
    li.groupBy(col("l_returnflag"))
      .agg(
        expr("percentile(l_extendedprice, array(0.5D, 0.9D, 0.99D))").as("pe"),
        expr("approx_percentile(l_extendedprice, array(0.5D, 0.9D, 0.99D), 10000)")
          .as("ap"),
        // groupagg-ok: exact-percentile semantics buffer the key group by
        // definition (as does the built-in percentile above); the same
        // query's approx_percentile column and q54 are the corpus-scale path
        sort_array(collect_list(col("l_extendedprice"))).as("sv"),
        count(lit(1)).as("n"))
      .withColumn("pd50", element_at(col("sv"), ceil(col("n") * 0.5).cast("int")))
      .withColumn("pd90", element_at(col("sv"), ceil(col("n") * 0.9).cast("int")))
      .withColumn("pd99", element_at(col("sv"), ceil(col("n") * 0.99).cast("int")))
      .select(col("l_returnflag"),
        round(col("pe")(0), 4).as("p50_exact"),
        round(col("pe")(1), 4).as("p90_exact"),
        round(col("pe")(2), 4).as("p99_exact"),
        col("n"),
        (((abs(col("ap")(0) - round(col("pe")(0), 4)) / round(col("pe")(0), 4) < 0.01) ||
            col("ap")(0) === col("pd50")) &&
         ((abs(col("ap")(1) - round(col("pe")(1), 4)) / round(col("pe")(1), 4) < 0.01) ||
            col("ap")(1) === col("pd90")) &&
         ((abs(col("ap")(2) - round(col("pe")(2), 4)) / round(col("pe")(2), 4) < 0.01) ||
            col("ap")(2) === col("pd99")))
          .as("approx_ok"))
  }

  val q54ApproxPercentilesSql: String = """
    SELECT l_returnflag,
           ROUND(quantile_cont(l_extendedprice, 0.5), 4) AS p50_exact,
           ROUND(quantile_cont(l_extendedprice, 0.9), 4) AS p90_exact,
           ROUND(quantile_cont(l_extendedprice, 0.99), 4) AS p99_exact,
           COUNT(*) AS n, TRUE AS approx_ok
    FROM lineitem GROUP BY l_returnflag"""

  // --- q109_sketch_union: mergeable distinct-count sketches ---------------
  /** The two-level distinct-count plan 100 TB actually requires:
    * DataSketches HLL sketches built per SUB-group (stage 1 — at scale,
    * per partition / file / ingest batch, often precomputed and stored),
    * then `hll_union_agg` merged up to the report group (stage 2) — the
    * raw data is touched once and never re-shuffled for a distinct. q13's
    * `approx_count_distinct` answers one query; a STORED sketch column
    * answers every future rollup by union alone, which is why lakehouse
    * metric layers persist sketches, not counts.
    *
    * Oracle, q13-style: sub-sketch count and exact distinct hash-check
    * against DuckDB; the merged estimate is implementation-specific, so it
    * is asserted within the configured-precision bound (lgK=14 → ~0.8%
    * standard error; 5% is >6σ) as a derived boolean. A spec additionally
    * pins union-vs-direct-sketch agreement. */
  def q109SketchUnion(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val sub = li.groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(hll_sketch_agg(col("l_orderkey"), lit(14)).as("sk"))
    val merged = sub.groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n_subsketches"),
        hll_sketch_estimate(hll_union_agg(col("sk"))).as("est"))
    val exact = li.select(col("l_returnflag"), col("l_orderkey")).distinct()
      .groupBy(col("l_returnflag"))
      .agg(count(col("l_orderkey")).as("exact_orders"))
    exact.join(merged, "l_returnflag")
      .select(col("l_returnflag"), col("exact_orders"), col("n_subsketches"),
        (col("exact_orders") === 0 ||
          abs(col("est") - col("exact_orders")) / col("exact_orders") < 0.05)
          .as("union_ok"))
  }

  val q109SketchUnionSql: String = """
    SELECT l_returnflag,
           COUNT(DISTINCT l_orderkey) AS exact_orders,
           COUNT(DISTINCT l_linestatus) AS n_subsketches,
           TRUE AS union_ok
    FROM lineitem GROUP BY l_returnflag"""

  // --- q111_multiway_join: TPC-H Q5-shaped 6-table local-supplier query ---
  /** The classic join-order stress: lineitem ⋈ orders ⋈ customer ⋈
    * supplier ⋈ nation ⋈ region with the "local supplier" correlation
    * (customer and supplier share a nation) and a date slice — revenue by
    * nation. Declared as one flat join chain: Catalyst's cost-based
    * reorder + AQE pick the physical order, the two genuinely small
    * dims (nation, region) are broadcast explicitly, and the
    * customer⋈supplier correlation rides the fact-side equi-keys —
    * the plan the brief's 1000-executor cluster wants is exactly what a
    * declarative chain gives for free, which is the point of this query
    * next to the hand-shaped ones.
    *
    * The supplier join keys on (l_suppkey AND nation equality), so the
    * row never multiplies: each lineitem matches at most its one
    * supplier, kept only when nations align. Date arithmetic stays on
    * o_orderdate (pushed to the orders scan). */
  def q111MultiwayJoin(spark: SparkSession, dir: String): DataFrame = {
    val l = Tables.lineitem(spark, dir)
    val o = Tables.orders(spark, dir)
      .filter(col("o_orderdate") >= lit("1994-01-01") &&
              col("o_orderdate") < lit("1997-01-01"))
    val c = Tables.customer(spark, dir)
    val s = Tables.supplier(spark, dir)
    val n = Tables.nation(spark, dir)
    val r = Tables.region(spark, dir).filter(col("r_name") === "ASIA")
    l.join(o, l("l_orderkey") === o("o_orderkey"))
      .join(c, o("o_custkey") === c("c_custkey"))
      .join(s, l("l_suppkey") === s("s_suppkey") &&
               c("c_nationkey") === s("s_nationkey"))
      // bcast-ok: nation is a 25-row fixed dim
      .join(broadcast(n), s("s_nationkey") === n("n_nationkey"))
      // bcast-ok: region is a 5-row fixed dim
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .groupBy(col("n_name"))
      .agg(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
        .as("revenue"),
        count(lit(1)).as("n_items"))
  }

  val q111MultiwayJoinSql: String = s"""
    SELECT n_name,
           ${dsumSql("l_extendedprice * (1.0 - l_discount)")} AS revenue,
           COUNT(*) AS n_items
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE o_orderdate >= DATE '1994-01-01'
      AND o_orderdate <  DATE '1997-01-01'
      AND r_name = 'ASIA'
    GROUP BY n_name"""

  // --- q52_pivot: wide-format aggregation ----------------------------------
  // `pivot` with an explicit value list compiles to conditional aggregation
  // (one agg expression per value) — a single hash aggregate, no extra
  // shuffle vs the long-format groupBy, which is also exactly how the
  // oracle expresses it. Listing the values explicitly matters at scale:
  // an unlisted pivot first runs a distinct query over the pivot column.
  def q52Pivot(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy(col("l_returnflag"))
      .pivot("l_linestatus", Seq("F", "O"))
      .agg(dsum(col("l_quantity")))
      .select(col("l_returnflag"),
        coalesce(col("F"), lit(0.0)).as("qty_f"),
        coalesce(col("O"), lit(0.0)).as("qty_o"))

  val q52PivotSql: String = s"""
    SELECT l_returnflag,
           COALESCE(${dsumSql("CASE WHEN l_linestatus = 'F' THEN l_quantity END")}, 0.0) AS qty_f,
           COALESCE(${dsumSql("CASE WHEN l_linestatus = 'O' THEN l_quantity END")}, 0.0) AS qty_o
    FROM lineitem GROUP BY l_returnflag"""

  // --- q14_cube / q15_rollup: grouping sets ---------------------------------
  def q14Cube(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .cube(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("sum_qty"))

  val q14CubeSql: String = s"""
    SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
           ${dsumSql("l_quantity")} AS sum_qty
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)"""

  def q15Rollup(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .rollup(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("sum_price"))

  val q15RollupSql: String = s"""
    SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
           ${dsumSql("o_totalprice")} AS sum_price
    FROM orders
    GROUP BY ROLLUP (o_orderstatus, o_orderpriority)"""

  // --- q119_grouping_sets: arbitrary grouping-set combinations ------------
  /** The general form behind cube (q14) and rollup (q15): an explicit set
    * list — here ((lang, source), (lang), ()) — that computes exactly the
    * wanted marginals and no others (a cube over k columns materializes
    * 2^k groupings; a curation report usually needs three). `grouping()`
    * flags disambiguate a subtotal's NULL from a genuine NULL value in
    * the data. One pass, one Expand node — same single-scan property the
    * cube/rollup plans have. */
  def q119GroupingSets(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .groupingSets(
        Seq(Seq(col("lang"), col("source")), Seq(col("lang")), Seq()),
        col("lang"), col("source"))
      .agg(grouping(col("lang")).cast("long").as("g_lang"),
        grouping(col("source")).cast("long").as("g_source"),
        count(lit(1)).as("n_docs"),
        sum(col("n_chars").cast("long")).as("sum_chars"))

  val q119GroupingSetsSql: String = """
    SELECT lang, source,
           CAST(GROUPING(lang) AS BIGINT) AS g_lang,
           CAST(GROUPING(source) AS BIGINT) AS g_source,
           COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS sum_chars
    FROM documents
    GROUP BY GROUPING SETS ((lang, source), (lang), ())"""

  // --- q20_setops: UNION ALL → INTERSECT → EXCEPT chain --------------------
  def q20SetOps(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
    val machinery = c.filter(col("c_mktsegment") === "MACHINERY").select(col("c_custkey"))
    val building  = c.filter(col("c_mktsegment") === "BUILDING").select(col("c_custkey"))
    val highBal   = c.filter(col("c_acctbal") > 1000).select(col("c_custkey"))
    val nation12  = c.filter(col("c_nationkey").isin(1, 2)).select(col("c_custkey"))
    machinery.union(building).intersect(highBal).except(nation12)
  }

  // NB: SQL gives INTERSECT higher precedence than UNION/EXCEPT; the
  // parens pin the same left-to-right shape as the DataFrame chain.
  val q20SetOpsSql: String = """
    SELECT c_custkey FROM (
      (SELECT c_custkey FROM customer WHERE c_mktsegment = 'MACHINERY'
       UNION ALL
       SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING')
      INTERSECT
      SELECT c_custkey FROM customer WHERE c_acctbal > 1000
      EXCEPT
      SELECT c_custkey FROM customer WHERE c_nationkey IN (1, 2)) t"""

  // --- q23_sql_subquery: SQL entry point + uncorrelated scalar subquery ---
  // The threshold itself uses the exact-decimal average so both engines
  // compare against the identical double.
  // A query-scoped view name avoids clobbering any caller-registered
  // `orders` view; the view is dropped after the plan is built (the plan
  // holds the resolved relation, not the catalog name).
  def q23SqlSubquery(spark: SparkSession, dir: String): DataFrame = {
    val view = "graft_q23_orders"
    Tables.orders(spark, dir).createOrReplaceTempView(view)
    val df = spark.sql(s"""
      SELECT o_orderstatus, COUNT(*) AS n_big,
             ${dsumSql("o_totalprice")} AS sum_price
      FROM $view
      WHERE o_totalprice > (SELECT ${davgSql("o_totalprice")} FROM $view)
      GROUP BY o_orderstatus""")
    spark.catalog.dropTempView(view)
    df
  }

  val q23SqlSubquerySql: String = s"""
    SELECT o_orderstatus, COUNT(*) AS n_big,
           ${dsumSql("o_totalprice")} AS sum_price
    FROM orders
    WHERE o_totalprice > (SELECT ${davgSql("o_totalprice")} FROM orders)
    GROUP BY o_orderstatus"""

  // --- q135_skyline: per-group 2D Pareto frontier --------------------------
  /** Skyline (Pareto-frontier) query: the rows no other row in the same
    * group DOMINATES, where `o` dominates `p` iff `o.x ≤ p.x ∧ o.y ≥ p.y`
    * with at least one strict — "cheapest for its size / biggest for its
    * price". The naive definition is an all-pairs inequality anti-join
    * (O(n²) per group — unrunnable at scale); for two dimensions it
    * collapses to a STAIRCASE: a row is on the skyline iff its `y` equals
    * the max `y` at its exact `x` AND strictly exceeds the running max `y`
    * over all smaller `x`. That is one map-side-partial aggregate on
    * (group, x) plus a cumulative window over the DISTINCT-x frame (tiny:
    * bounded by |distinct x| per group, not rows) and a broadcastable join
    * back — O(n) data movement. The oracle runs the naive NOT-EXISTS
    * definition: two independent formulations of dominance must agree on
    * the exact row set. */
  def skyline2d(df: DataFrame, group: String, x: String, y: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val best = df.groupBy(col(group), col(x)).agg(max(col(y)).as("_best_y"))
    val stair = best.withColumn("_prev_max",
      max(col("_best_y")).over(Window.partitionBy(col(group)).orderBy(col(x))
        .rowsBetween(Window.unboundedPreceding, -1)))
    df.join(stair, Seq(group, x))
      .filter(col(y) === col("_best_y") &&
        (col("_prev_max").isNull || col(y) > col("_prev_max")))
      .drop("_best_y", "_prev_max")
  }

  /** Per-brand price/size frontier over part: the parts not beaten on both
    * price (lower is better) and size (higher is better) by any same-brand
    * part. */
  def q135Skyline(spark: SparkSession, dir: String): DataFrame =
    skyline2d(Tables.part(spark, dir)
        .select("p_brand", "p_partkey", "p_size", "p_retailprice"),
      "p_brand", "p_retailprice", "p_size")

  val q135SkylineSql: String = """
    SELECT p.p_brand, p.p_partkey, p.p_size, p.p_retailprice FROM part p
    WHERE NOT EXISTS (SELECT 1 FROM part o
      WHERE o.p_brand = p.p_brand
        AND o.p_retailprice <= p.p_retailprice AND o.p_size >= p.p_size
        AND (o.p_retailprice < p.p_retailprice OR o.p_size > p.p_size))"""

  // --- q237_equidepth_atscale: exact percentile boundaries at 2^20 rows ----
  /** At-scale correctness coverage for [[q106EquidepthHist]]'s shape — the
    * exact `percentile` aggregate + broadcast-bounds binning ran only on
    * ~60k lineitem rows; this replays the same two-pass plan over 2²⁰
    * range-synthesized rows in 16 groups of 65,536, where every value is
    * the integer `7·rank + group` (a disjoint arithmetic progression per
    * group, so quartile INTERPOLATION lands between known lattice points:
    * (n−1)·0.25 = 16383.75 exercises the fractional path in both
    * engines). The oracle replays quantile_cont + the same binning over
    * the same generator — the q106 cross-engine contract at 17× the rows
    * and 2¹⁶ values per exact-percentile buffer. Output: 64 bins whose
    * counts are exactly n/4 per bin (equidepth BY CONSTRUCTION — a
    * boundary off by one value breaks a count) plus integer lo/hi. */
  private[graft] val q237Rows = 1L << 20
  private[graft] val q237Groups = 16L

  def q237EquidepthAtScale(spark: SparkSession, dir: String): DataFrame = {
    val src = spark.range(q237Rows).select(
      pmod(col("id"), lit(q237Groups)).as("g"),
      (expr(s"id div $q237Groups") * 7 + pmod(col("id"), lit(q237Groups)))
        .cast("double").as("v"))
    val bounds = src.groupBy(col("g"))
      .agg(expr("percentile(v, array(0.25D, 0.5D, 0.75D))").as("bs"))
      .select(col("g"), round(col("bs")(0), 4).as("b1"),
        round(col("bs")(1), 4).as("b2"), round(col("bs")(2), 4).as("b3"))
    // bcast-ok: bounds is one row per group — 16 rows
    src.join(broadcast(bounds), "g")
      .withColumn("bin",
        when(col("v") > col("b3"), 3).when(col("v") > col("b2"), 2)
          .when(col("v") > col("b1"), 1).otherwise(0).cast("int"))
      .groupBy(col("g"), col("bin"))
      .agg(count(lit(1)).as("n_rows"), min(col("v")).as("lo"),
        max(col("v")).as("hi"))
  }

  private[graft] def q237OracleSql(rows: Long = q237Rows): String = s"""
    WITH src AS (
      SELECT u.i % $q237Groups AS g,
             CAST((u.i // $q237Groups) * 7 + u.i % $q237Groups AS DOUBLE) AS v
      FROM range(0, $rows) AS u(i)),
    b AS (
      SELECT g, ROUND(quantile_cont(v, 0.25), 4) AS b1,
             ROUND(quantile_cont(v, 0.5), 4) AS b2,
             ROUND(quantile_cont(v, 0.75), 4) AS b3
      FROM src GROUP BY g)
    SELECT CAST(src.g AS BIGINT) AS g,
           CAST(CASE WHEN v > b3 THEN 3 WHEN v > b2 THEN 2
                     WHEN v > b1 THEN 1 ELSE 0 END AS INT) AS bin,
           CAST(COUNT(*) AS BIGINT) AS n_rows, MIN(v) AS lo, MAX(v) AS hi
    FROM src JOIN b ON b.g = src.g
    GROUP BY 1, 2"""

  // --- q245_hll_atscale: the dedup-first HLL discipline at 2^20 keys ------
  /** At-scale correctness coverage for q13's approx-distinct shape — the
    * sf corpus gives HLL++ three groups of ≤15k orderkeys; this replays
    * the SAME dedup-first composition (distinct → groupBy → one HLL
    * buffer PER GROUP, never per (group, key) pair) over 2²³
    * range-synthesized rows: 8 groups × 2¹⁷ planted distinct keys, each
    * key repeated 8× so the pre-aggregation distinct is load-bearing
    * (2²³ → 2²⁰ rows) and the per-group cardinality (131,072) sits far
    * beyond any sparse/exact small-range mode — the register-merge
    * estimator is what runs. Oracle: the closed-form exact count plus
    * the q13 bound-as-boolean (the estimate itself is engine-specific;
    * the hash fails iff HLL drifts past 5%). RelationalSpec additionally
    * pins the raw relative error at this cardinality. */
  private[graft] val q245Rows = 1L << 23
  private[graft] val q245Groups = 8L
  private[graft] val q245KeysPerGroup = 1L << 17

  /** (g, exact_keys, approx_keys) before the bound projection — split out
    * so RelationalSpec can pin the RAW relative error, not just the
    * boolean the oracle hashes. */
  private[graft] def q245Raw(spark: SparkSession,
                             rows: Long = q245Rows,
                             keysPerGroup: Long = q245KeysPerGroup)
      : DataFrame =
    spark.range(rows).select(
        pmod(col("id"), lit(q245Groups)).as("g"),
        pmod(expr(s"id div $q245Groups"), lit(keysPerGroup)).as("k"))
      .distinct()
      .groupBy(col("g"))
      .agg(count(col("k")).as("exact_keys"),
        approx_count_distinct(col("k"), 0.02).as("approx_keys"))

  def q245HllAtScale(spark: SparkSession, dir: String): DataFrame =
    q245Raw(spark)
      .select(col("g"), col("exact_keys"),
        (abs(col("approx_keys") - col("exact_keys")) <=
          col("exact_keys") * 0.05).as("approx_ok"))

  private[graft] def q245OracleSql(): String = s"""
    SELECT CAST(u.i AS BIGINT) AS g,
           CAST($q245KeysPerGroup AS BIGINT) AS exact_keys,
           TRUE AS approx_ok
    FROM range(0, $q245Groups) AS u(i)"""

  // --- q246_cube_atscale: the 4-way Expand shuffle at 2^22 rows -----------
  /** At-scale correctness coverage for q14's cube shape — the sf corpus
    * cubes ~600k lineitem rows over two 2/3-value dims; this replays the
    * same `cube().agg(count, exact sum)` over 2²² range rows and two
    * 16-value dims, so the Expand operator multiplies a meaningful
    * volume (2²² rows × 4 grouping sets = 2²⁴ shuffle rows) into ONE
    * hash aggregate: the scale hazard of grouping sets is exactly that
    * 4× map-side amplification, and the plan pin holds it to one Expand
    * + one exchange (map-side partial agg collapses the 2²⁴ rows to
    * ≤ 4·289 per task before the wire). Every id contributes its value
    * to all four grouping sets, so each of the 289 output cells carries
    * an exact integer sum the DuckDB CUBE replays bit-for-bit. */
  private[graft] val q246Rows = 1L << 22

  def q246CubeAtScale(spark: SparkSession, dir: String): DataFrame =
    q246Run(spark, q246Rows)

  /** The q246 pipeline parameterized by row count — the gate pins it at
    * [[q246Rows]]; other row counts measure the Expand exponent. */
  private[graft] def q246Run(spark: SparkSession, rows: Long): DataFrame =
    spark.range(rows).select(
        pmod(col("id"), lit(16L)).as("g1"),
        pmod(expr("id div 16"), lit(16L)).as("g2"),
        col("id").as("v"))
      .cube(col("g1"), col("g2"))
      .agg(count(lit(1)).as("n"), sum(col("v")).as("sum_v"))

  private[graft] def q246OracleSql(rows: Long = q246Rows): String = s"""
    SELECT g1, g2, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(v) AS BIGINT) AS sum_v
    FROM (SELECT u.i % 16 AS g1, (u.i // 16) % 16 AS g2, u.i AS v
          FROM range(0, $rows) AS u(i))
    GROUP BY CUBE (g1, g2)"""

  // --- q231_skyline_atscale: the staircase frontier at ≥3M rows ------------
  /** At-scale correctness coverage for [[skyline2d]] — q135's NOT-EXISTS
    * oracle is O(n²) per group and can never follow the operator to size,
    * so this gate plants a corpus whose skyline is known BY CONSTRUCTION
    * (the oracle emits the analytic frontier, no dominance computation at
    * all — two independent formulations, one hash). Per group g ∈ [0,64),
    * i ∈ [0,16384), three planted classes:
    *
    *  - frontier `(x=2i, y=i+1)`: y strictly increases with x, so no
    *    point dominates another — all 2²⁰ rows are skyline;
    *  - same-x filler `(x=2i, y=i)`: dominated by the frontier point at
    *    its exact x (equal x, strictly greater y) — exercises the
    *    `y = best_y(x)` branch of the staircase;
    *  - odd-x decoy `(x=2i+1, y=i+1)`: dominated by `(2i, i+1)` (strictly
    *    smaller x, equal y) — at its own x it IS the best y, so only the
    *    strictly-greater-than-running-max branch can reject it; a `>=`
    *    regression admits all 2²⁰ decoys and breaks the hash.
    *
    * Output is the per-group rollup (64 rows) of count and the exact
    * integer x/y sums; the oracle derives the same sums from the
    * construction (`Σ2i`, `Σ(i+1)` over the frontier index range) — pure
    * range SQL, no skyline logic. Scale shape is the operator's own: one
    * map-side-partial agg on (g, x), a per-group window over the
    * DISTINCT-x frame (16,384 rows per group, never the corpus), and an
    * equi-join back. */
  private[graft] val q231Groups = 64L
  private[graft] val q231PerGroup = 16384L

  private[graft] def q231Frame(spark: SparkSession,
                               perGroup: Long = q231PerGroup): DataFrame = {
    val base = spark.range(q231Groups * perGroup).select(
      expr(s"id div $perGroup").as("g"), pmod(col("id"), lit(perGroup)).as("i"))
    val frontier = base.select(col("g"), (col("i") * 2).as("x"),
      (col("i") + 1).as("y"))
    val filler = base.select(col("g"), (col("i") * 2).as("x"),
      col("i").as("y"))
    val decoy = base.select(col("g"), (col("i") * 2 + 1).as("x"),
      (col("i") + 1).as("y"))
    frontier.unionByName(filler).unionByName(decoy)
  }

  def q231SkylineAtScale(spark: SparkSession, dir: String): DataFrame =
    skyline2d(q231Frame(spark), "g", "x", "y")
      .groupBy(col("g"))
      .agg(count(lit(1)).as("n_skyline"),
        sum(col("x")).as("sum_x"), sum(col("y")).as("sum_y"),
        max(col("x")).as("max_x"), max(col("y")).as("max_y"))

  private[graft] def q231OracleSql(perGroup: Long = q231PerGroup): String = s"""
    WITH f AS (SELECT CAST(SUM(2 * u.i) AS BIGINT) AS sum_x,
                      CAST(SUM(u.i + 1) AS BIGINT) AS sum_y
               FROM unnest(range(0, $perGroup)) AS u(i))
    SELECT CAST(g.i AS BIGINT) AS g, CAST($perGroup AS BIGINT) AS n_skyline,
           f.sum_x, f.sum_y,
           CAST(${2 * (perGroup - 1)} AS BIGINT) AS max_x,
           CAST($perGroup AS BIGINT) AS max_y
    FROM unnest(range(0, $q231Groups)) AS g(i), f"""

  /** Query registry (grows in later commits). */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q1_agg"        -> q1Agg _,
    "q2_filter_agg" -> q2FilterAgg _,
    "q3_join_agg"   -> q3JoinAgg _,
    "q4_topk"       -> q4TopK _,
    "q5_join_region" -> q5JoinRegion _,
    "q12_distinct_agg"   -> q12DistinctAgg _,
    "q13_approx_distinct" -> q13ApproxDistinct _,
    "q14_cube"      -> q14Cube _,
    "q15_rollup"    -> q15Rollup _,
    "q52_pivot"     -> q52Pivot _,
    "q20_setops"    -> q20SetOps _,
    "q23_sql_subquery" -> q23SqlSubquery _,
    "q46_percentiles" -> q46Percentiles _,
    "q54_approx_percentiles" -> q54ApproxPercentiles _,
    "q106_equidepth_hist" -> q106EquidepthHist _,
    "q109_sketch_union" -> q109SketchUnion _,
    "q111_multiway_join" -> q111MultiwayJoin _,
    "q119_grouping_sets" -> q119GroupingSets _,
    "q135_skyline"  -> q135Skyline _,
    "q231_skyline_atscale" -> q231SkylineAtScale _,
    "q237_equidepth_atscale" -> q237EquidepthAtScale _,
    "q245_hll_atscale" -> q245HllAtScale _,
    "q246_cube_atscale" -> q246CubeAtScale _,
  )

  def oracles: Map[String, String] = Map(
    "q1_agg"        -> q1AggSql,
    "q2_filter_agg" -> q2FilterAggSql,
    "q3_join_agg"   -> q3JoinAggSql,
    "q4_topk"       -> q4TopKSql,
    "q5_join_region" -> q5JoinRegionSql,
    "q12_distinct_agg" -> q12DistinctAggSql,
    "q13_approx_distinct" -> q13ApproxDistinctSql,
    "q14_cube"      -> q14CubeSql,
    "q15_rollup"    -> q15RollupSql,
    "q52_pivot"     -> q52PivotSql,
    "q20_setops"    -> q20SetOpsSql,
    "q23_sql_subquery" -> q23SqlSubquerySql,
    "q46_percentiles" -> q46PercentilesSql,
    "q106_equidepth_hist" -> q106EquidepthHistSql,
    "q54_approx_percentiles" -> q54ApproxPercentilesSql,
    "q109_sketch_union" -> q109SketchUnionSql,
    "q111_multiway_join" -> q111MultiwayJoinSql,
    "q119_grouping_sets" -> q119GroupingSetsSql,
    "q135_skyline"  -> q135SkylineSql,
    "q231_skyline_atscale" -> q231OracleSql(),
    "q237_equidepth_atscale" -> q237OracleSql(),
    "q245_hll_atscale" -> q245OracleSql(),
    "q246_cube_atscale" -> q246OracleSql(),
  )
}
