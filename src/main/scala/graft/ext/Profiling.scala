package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Data profiling and quality constraints — the ANALYZE / Deequ-shaped
  * surface of the engine: per-column statistics for planning and drift
  * detection, and declarative constraint checks (uniqueness, referential
  * integrity, ranges, non-null) whose violations are counted, never
  * silently assumed away.
  *
  * The reference has nothing comparable; in a 100 TB training pipeline
  * these run as the admission gate in front of every ingest (a crawl drop
  * whose `n_null(text)` jumps is quarantined before it poisons dedup).
  */
object Profiling {

  /** Per-column numeric profile in ONE scan: five aggregates per column
    * plus one shared row count ride the same pass (a per-column loop would
    * scan the table once per column), then one `explode` unpivots to a
    * row per column.
    *
    * Cross-engine determinism: sums are decimal-exact ([[graft.ops
    * .Relational.dsum]] discipline) and the 6-dp mean is integer half-up
    * arithmetic over the exact decimal sum ([[graft.ops.Relational
    * .decRatio6]]) — a `round(double, 6)` of the exact rational sum/count
    * would hit the same 6-dp-boundary divergence class ratio6 exists to
    * kill. Squares are summed as decimal-of-double-product: the double
    * multiply is itself exactly reproducible, and the DECIMAL(28,6)
    * quantization of it is the same in both engines. stddev is the one
    * residual `round(double, 6)`: a square root is irrational, so no
    * integer-exact form exists — both engines round the same IEEE sqrt of
    * the same exact-sum-derived variance, which can only diverge if a
    * variance lands within half an ulp of a 6-dp boundary (accepted,
    * documented risk — unlike the mean, it cannot be eliminated). */
  def profileNumeric(df: DataFrame, cols: Seq[String]): DataFrame = {
    import graft.ops.Relational.{decRatio6, dsum}
    import org.apache.spark.sql.types.DecimalType
    require(cols.nonEmpty, "profileNumeric: no columns given")
    // ONE shared total-rows aggregate plus five per column; `__sum` stays
    // DECIMAL (dsum without its final double cast) because the mean's
    // half-up rounding needs the exact rational, not a double projection
    val aggs = count(lit(1)).as("__rows") +: cols.flatMap { c =>
      Seq(
        count(col(c)).as(s"${c}__n"),
        sum(col(c).cast(DecimalType(28, 6))).as(s"${c}__sum"),
        dsum(col(c) * col(c)).as(s"${c}__sumsq"),
        min(col(c)).as(s"${c}__min"),
        max(col(c)).as(s"${c}__max"))
    }
    val packed = cols.map { c =>
      val n = col(s"${c}__n").cast("double")
      val mean = col(s"${c}__sum").cast("double") / n
      val variance = col(s"${c}__sumsq") / n - mean * mean
      struct(
        lit(c).as("column"),
        col(s"${c}__n").as("n"),
        (col("__rows") - col(s"${c}__n")).as("n_null"),
        col(s"${c}__min").cast("double").as("min"),
        col(s"${c}__max").cast("double").as("max"),
        // backtick-quoted: decRatio6 goes through expr() string parsing,
        // and profile columns (hence the derived aliases) need not be bare
        // SQL identifiers
        decRatio6(s"`${c}__sum`", s"`${c}__n`").as("mean"),
        // population stddev; greatest(0) guards the tiny negative residue
        // float cancellation can leave when variance ~ 0. An ALL-NULL
        // column gets NULL, not a fabricated 0.0 dispersion (greatest
        // skips nulls, so the null variance must be gated explicitly).
        when(col(s"${c}__n") > 0,
          round(sqrt(greatest(variance, lit(0.0))), 6)).as("stddev"))
    }
    df.agg(aggs.head, aggs.tail: _*)
      .select(explode(array(packed: _*)).as("p"))
      .select(col("p.*"))
  }

  /** SQL fragment computing one column's profile row — mirrors
    * [[profileNumeric]]'s arithmetic exactly (same [[graft.ops.Relational
    * .dsumSql]] sums); UNION ALL per column. */
  private[graft] def profileSql(table: String, c: String): String = {
    import graft.ops.Relational.{decRatio6Sql, dsumSql}
    val mean = s"${dsumSql(c)} / COUNT($c)"
    s"""
    SELECT '$c' AS "column", COUNT($c) AS n,
           COUNT(*) - COUNT($c) AS n_null,
           CAST(MIN($c) AS DOUBLE) AS min, CAST(MAX($c) AS DOUBLE) AS max,
           ${decRatio6Sql(s"SUM(CAST($c AS DECIMAL(28,6)))", s"COUNT($c)")}
             AS mean,
           CASE WHEN COUNT($c) = 0 THEN NULL
                ELSE ROUND(sqrt(GREATEST(
                  ${dsumSql(s"$c * $c")} / COUNT($c) - ($mean) * ($mean),
                  0.0)), 6) END AS stddev
    FROM $table"""
  }

  // --- q85_profile: one-scan numeric profile of lineitem ------------------
  val q85Cols: Seq[String] =
    Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")

  def q85Profile(spark: SparkSession, dir: String): DataFrame =
    profileNumeric(Tables.lineitem(spark, dir), q85Cols)

  val q85ProfileSql: String =
    q85Cols.map(profileSql("lineitem", _)).mkString("\nUNION ALL\n")

  // --- q243_profile_atscale: the one-scan admission gate at 2^20 × 8 ------
  /** At-scale correctness coverage for [[profileNumeric]] — q85 profiles 4
    * lineitem columns at sf size; this replays the SAME entry point over
    * 2²⁰ range-synthesized rows × 8 columns (41 aggregates in the single
    * pass), with each column planting a distinct arithmetic hazard so the
    * one-scan claim and the exactness claims are both load-bearing at
    * volume:
    *
    *  - p1 = id (full-range: Σ ≈ 5.5e11, Σsq ≈ 3.8e17 — deep into the
    *    territory where only the DECIMAL(28,6) sum is partition-order
    *    exact), p2 = id % 997, p6 = id² % 10007 (modular ramps);
    *  - p3: every 7th value NULL — n vs n_null bookkeeping at volume;
    *  - p4 = id · 0.25 — fractional but binary-exact doubles, so the
    *    decimal quantization of value and square is identical in both
    *    engines;
    *  - p5 = 500000 − id — sign flip mid-column: the signed
    *    [[graft.ops.Relational.decRatio6]] mean path (negative exact sum)
    *    at scale;
    *  - p7 = 42 — zero variance: the greatest(variance, 0) guard must
    *    yield exactly 0.0, not a float residue;
    *  - p8 — ALL NULL: n = 0 lane (NULL mean/stddev/min/max, never a
    *    fabricated 0) riding the same scan as 2²⁰-row columns.
    *
    * The oracle replays [[profileSql]]'s per-column fragments over the
    * identical range generator. ProfileAtScalePlanSpec pins the plan to
    * ONE Range source — the whole point of the operator is that adding
    * columns must not add scans. */
  private[graft] val q243Rows = 1L << 20
  private[graft] val q243Cols: Seq[String] =
    Seq("p1", "p2", "p3", "p4", "p5", "p6", "p7", "p8")

  private[graft] def q243Frame(spark: SparkSession,
                               rows: Long = q243Rows): DataFrame =
    spark.range(rows).select(
      col("id").as("p1"),
      pmod(col("id"), lit(997L)).as("p2"),
      when(pmod(col("id"), lit(7L)) === 0, lit(null).cast("long"))
        .otherwise(pmod(col("id"), lit(1000L))).as("p3"),
      (col("id").cast("double") * 0.25).as("p4"),
      (lit(500000L) - col("id")).as("p5"),
      pmod(col("id") * col("id"), lit(10007L)).as("p6"),
      lit(42L).as("p7"),
      lit(null).cast("long").as("p8"))

  def q243ProfileAtScale(spark: SparkSession, dir: String): DataFrame =
    profileNumeric(q243Frame(spark), q243Cols)

  private[graft] def q243OracleSql(rows: Long = q243Rows): String = {
    val gen = s"""WITH src AS (
      SELECT u.i AS p1, u.i % 997 AS p2,
             CASE WHEN u.i % 7 = 0 THEN NULL ELSE u.i % 1000 END AS p3,
             CAST(u.i AS DOUBLE) * 0.25 AS p4,
             500000 - u.i AS p5,
             (u.i * u.i) % 10007 AS p6,
             CAST(42 AS BIGINT) AS p7,
             CAST(NULL AS BIGINT) AS p8
      FROM range(0, $rows) AS u(i))
    """
    gen + q243Cols.map(profileSql("src", _)).mkString("\nUNION ALL\n")
  }

  // ------------------------------------------------------------ constraints

  /** Rows of `child` whose `keys` have no match in `parent` — referential-
    * integrity violations as data, not a boolean. Anti-join on the key:
    * one shuffle (or zero against a broadcast/bucketed parent). */
  def fkViolations(child: DataFrame, parent: DataFrame,
                   keys: Seq[(String, String)]): DataFrame = {
    require(keys.nonEmpty, "fkViolations: no key columns given")
    val cond = keys.map { case (ck, pk) => child(ck) === parent(pk) }
      .reduce(_ && _)
    child.join(parent, cond, "left_anti")
  }

  /** Key groups appearing more than once — uniqueness violations with
    * their multiplicities. groupBy.count + filter: map-side partial agg,
    * never a window. */
  def uniqueViolations(df: DataFrame, keys: Seq[String]): DataFrame =
    df.groupBy(keys.map(col): _*).agg(count(lit(1)).as("n"))
      .filter(col("n") > 1)

  /** One row per named constraint with its violation count — the
    * admission-gate report. Each entry is (name, violating-rows frame);
    * counts aggregate independently and union into one tiny frame. */
  def constraintReport(checks: Seq[(String, DataFrame)]): DataFrame = {
    require(checks.nonEmpty, "constraintReport: no checks given")
    checks.map { case (name, viol) =>
      viol.agg(count(lit(1)).as("violations"))
        .select(lit(name).as("constraint"), col("violations"))
    }.reduce(_ unionByName _)
  }

  // --- q86_constraints: the admission gate over the TPC-H-ish tables ------
  /** Four representative constraint families: PK uniqueness, FK integrity,
    * a domain range, and non-null — all expected clean on the generated
    * data except the deliberately-wide quantity range check, which pins
    * that violation COUNTS (not just booleans) survive the union. */
  def q86Constraints(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val orders = Tables.orders(spark, dir)
    val customer = Tables.customer(spark, dir)
    val li = Tables.lineitem(spark, dir)
    constraintReport(Seq(
      "documents_pk_unique" ->
        uniqueViolations(docs, Seq("doc_id")),
      "orders_custkey_fk" ->
        fkViolations(orders, customer, Seq("o_custkey" -> "c_custkey")),
      "lineitem_qty_in_1_25" ->
        li.filter(col("l_quantity") < 1 || col("l_quantity") > 25),
      "documents_text_nonnull" ->
        docs.filter(col("text").isNull)))
  }

  val q86ConstraintsSql: String = """
    SELECT 'documents_pk_unique' AS "constraint",
           (SELECT COUNT(*) FROM (SELECT doc_id FROM documents
             GROUP BY doc_id HAVING COUNT(*) > 1)) AS violations
    UNION ALL
    SELECT 'orders_custkey_fk',
           (SELECT COUNT(*) FROM orders o WHERE NOT EXISTS
             (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey))
    UNION ALL
    SELECT 'lineitem_qty_in_1_25',
           (SELECT COUNT(*) FROM lineitem
             WHERE l_quantity < 1 OR l_quantity > 25)
    UNION ALL
    SELECT 'documents_text_nonnull',
           (SELECT COUNT(*) FROM documents WHERE text IS NULL)"""

  /** Pairwise Pearson correlation from EXACT integer sufficient statistics
    * — the profiling layer's drift detector (a quantity↔discount
    * correlation flip between ingest batches is a pricing-pipeline bug
    * long before any model sees the data).
    *
    * Cross-engine determinism, one step past [[profileNumeric]]'s stddev
    * compromise: every sufficient statistic (n, Σx, Σy, Σx², Σy², Σxy) is
    * an exact BIGINT, and both engines then evaluate the SAME final
    * expression tree — `covn / sqrt(double(vx) * double(vy))` over those
    * exact integers. int→double casts are correctly rounded, the multiply
    * / sqrt / divide are single IEEE ops, so the result is BIT-identical
    * across engines: the correlation needs no `round(…, 6)` at all, and
    * the hash compare certifies exactly that. Degenerate variance (a
    * constant column in some group) yields NULL, not a 0/0 NaN.
    *
    * One scan, map-side partial aggregation, |groups| output rows — the
    * N×N-pairs profile at 100 TB is still a single pass because every
    * pair's five sums ride the same hash aggregate. */
  def correlations(df: DataFrame, groupCol: String,
                   cols: Seq[(String, Column)]): DataFrame = {
    require(cols.size >= 2, "correlations: need at least two columns")
    val ints = cols.map { case (n, c) => n -> c.cast("long") }
    val sumAggs = count(lit(1)).as("n") +: (
      ints.flatMap { case (n, c) =>
        Seq(sum(c).as(s"s_$n"), sum(c * c).as(s"s_${n}_$n")) } ++
      ints.combinations(2).toSeq.map { case Seq((a, ca), (b, cb)) =>
        sum(ca * cb).as(s"s_${a}_$b") })
    val corrCols = ints.combinations(2).toSeq.map { case Seq((a, _), (b, _)) =>
      val covn = col("n") * col(s"s_${a}_$b") - col(s"s_$a") * col(s"s_$b")
      val vx = col("n") * col(s"s_${a}_$a") - col(s"s_$a") * col(s"s_$a")
      val vy = col("n") * col(s"s_${b}_$b") - col(s"s_$b") * col(s"s_$b")
      when(vx > 0 && vy > 0,
        covn.cast("double") / sqrt(vx.cast("double") * vy.cast("double")))
        .as(s"corr_${a}_$b")
    }
    df.groupBy(col(groupCol))
      .agg(sumAggs.head, sumAggs.tail: _*)
      .select(col(groupCol) +: col("n") +: corrCols: _*)
  }

  // --- q115_correlations: per-returnflag correlation triangle -------------
  /** lineitem's (quantity, discount, tax) correlation triangle per return
    * flag. The doubles are integer-ized first (cents / whole units) with
    * `CAST(ROUND(x*100) AS BIGINT)` — the multiply and round are the same
    * IEEE ops in both engines, so the integer inputs (and hence every
    * downstream statistic) agree exactly. */
  def q115Correlations(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    correlations(li, "l_returnflag", Seq(
      "qty"  -> round(col("l_quantity")).cast("long"),
      "disc" -> round(col("l_discount") * 100).cast("long"),
      "tax"  -> round(col("l_tax") * 100).cast("long")))
  }

  val q115CorrelationsSql: String = """
    WITH s AS (
      SELECT l_returnflag,
             CAST(ROUND(l_quantity) AS BIGINT) AS x,
             CAST(ROUND(l_discount * 100) AS BIGINT) AS y,
             CAST(ROUND(l_tax * 100) AS BIGINT) AS z
      FROM lineitem),
    g AS (
      SELECT l_returnflag, COUNT(*) AS n,
             CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
             CAST(SUM(z) AS BIGINT) AS sz,
             CAST(SUM(x*x) AS BIGINT) AS sxx, CAST(SUM(y*y) AS BIGINT) AS syy,
             CAST(SUM(z*z) AS BIGINT) AS szz,
             CAST(SUM(x*y) AS BIGINT) AS sxy, CAST(SUM(x*z) AS BIGINT) AS sxz,
             CAST(SUM(y*z) AS BIGINT) AS syz
      FROM s GROUP BY 1)
    SELECT l_returnflag, n,
      CASE WHEN n*sxx - sx*sx > 0 AND n*syy - sy*sy > 0 THEN
        CAST(n*sxy - sx*sy AS DOUBLE) /
        sqrt(CAST(n*sxx - sx*sx AS DOUBLE) * CAST(n*syy - sy*sy AS DOUBLE))
      END AS corr_qty_disc,
      CASE WHEN n*sxx - sx*sx > 0 AND n*szz - sz*sz > 0 THEN
        CAST(n*sxz - sx*sz AS DOUBLE) /
        sqrt(CAST(n*sxx - sx*sx AS DOUBLE) * CAST(n*szz - sz*sz AS DOUBLE))
      END AS corr_qty_tax,
      CASE WHEN n*syy - sy*sy > 0 AND n*szz - sz*sz > 0 THEN
        CAST(n*syz - sy*sz AS DOUBLE) /
        sqrt(CAST(n*syy - sy*sy AS DOUBLE) * CAST(n*szz - sz*sz AS DOUBLE))
      END AS corr_disc_tax
    FROM g"""

  // --- q121_ecdf: empirical-CDF normalization via the value dictionary ----
  /** Percentile-rank (ECDF) normalization of a numeric column —
    * `ecdf(v) = P[X ≤ v]` — the score-to-rank transform curriculum
    * ordering and cross-source score calibration need (raw quality scores
    * from different scorers aren't comparable; their percentiles are).
    *
    * Scale shape — the two-level window trick: a row-level
    * `cume_dist() OVER (ORDER BY v)` is an un-partitioned global sort of
    * the corpus (one task at 100 TB, the classic window-function trap).
    * Instead the cumulative count runs over the DISTINCT-VALUE dictionary
    * (`groupBy(v).count`), and since round 9 on
    * [[graft.ops.Windows.rangePrefixSum]] — the cumulative holds even for
    * a near-unique value column. Every row then picks its ecdf up by an
    * equi-join on the value — UNHINTED: the dictionary is data-scaled (a
    * near-unique column makes it corpus-sized), so the join strategy is
    * left to AQE's runtime size check, which broadcasts exactly when the
    * dictionary is actually small (the q3/q134 discipline — data-scaled
    * frames never carry a force-hint). The ratio is
    * [[graft.ops.Relational.ratio6]] integer arithmetic. */
  def ecdfNormalize(df: DataFrame, valueCol: String): DataFrame = {
    val vals = df.groupBy(col(valueCol)).agg(count(lit(1)).as("cnt"))
    val nTot = vals.agg(sum(col("cnt")).as("n"))
    val cum = graft.ops.Windows.rangePrefixSum(vals, valueCol, "cnt", "cum")
      // bcast-ok: nTot is a 1-row global aggregate
      .crossJoin(broadcast(nTot))
      .select(col(valueCol), col("cum"), col("n"))
    df.join(cum, Seq(valueCol))
      .select(df.columns.map(col) :+
        graft.ops.Relational.ratio6("cum", "n").as("ecdf6"): _*)
  }

  def q121Ecdf(spark: SparkSession, dir: String): DataFrame =
    ecdfNormalize(
      Tables.documents(spark, dir).select("doc_id", "n_chars"), "n_chars")

  val q121EcdfSql: String = s"""
    WITH v AS (SELECT n_chars, COUNT(*) AS cnt FROM documents GROUP BY 1),
    c AS (
      SELECT n_chars,
             SUM(cnt) OVER (ORDER BY n_chars
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
             SUM(cnt) OVER () AS n
      FROM v)
    SELECT d.doc_id, d.n_chars,
           ${graft.ops.Relational.ratio6Sql("c.cum", "c.n")} AS ecdf6
    FROM documents d JOIN c ON c.n_chars = d.n_chars"""

  // --- q190_quantile_norm: map each group onto the pooled distribution ----
  /** Quantile normalization (the batch-effect correction): every group's
    * value is replaced by the POOLED distribution's value at the
    * equivalent rank, so all groups end up with the same marginal
    * distribution — the cross-source length/score harmonization step
    * before mixing corpora trained on different crawls. Positional
    * convention throughout: a value's in-group rank is its cumulative
    * count (upper ECDF), the pooled target rank is `⌈r·N/n_g⌉`, and the
    * normalized value is the smallest pooled value whose cumulative
    * reaches it — all integer arithmetic, no interpolation.
    *
    * Scale shape: both cumulative frames are distinct-value dictionaries
    * (per-group and pooled value-count frames — the q121/q163
    * discipline); the rank lookup is a range join against the BROADCAST
    * pooled dictionary — a non-equi predicate, so unlike q121's equi
    * lookup there is no AQE shuffle fallback, and the dictionary ≪ corpus
    * contract is ENFORCED: the pooled aggregate also counts its own
    * distinct values, and a `raise_error` guard fused into `pcum` (a
    * column the join condition reads, so pruning cannot elide it) fails
    * the broadcast job with remediation the moment the dictionary exceeds
    * `maxDictValues` — no eager probe job, the plan stays lazy. Nothing
    * touches row-level data after the two count aggregations. Output is
    * dictionary-level (group, value → normalized), which a caller joins
    * back like q121. */
  def quantileNormalize(df: DataFrame, group: String,
                        value: String,
                        maxDictValues: Int = 4000000): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val counts = graft.CacheRegistry.persist(
      df.select(col(group).as("g"), col(value).as("v"))
        .groupBy(col("g"), col("v")).agg(count(lit(1)).as("cnt")))
    val wg = Window.partitionBy(col("g")).orderBy(col("v"))
    val grpCum = counts.select(col("g"), col("v"), col("cnt"),
      sum(col("cnt")).over(wg).as("r"),
      sum(col("cnt")).over(Window.partitionBy(col("g"))).as("ng"))
    val pooled = counts.groupBy(col("v")).agg(sum(col("cnt")).as("pc"))
    val pooledN = pooled.agg(sum(col("pc")).as("n"),
      count(lit(1)).as("dict_sz"))
    val pooledCum = graft.ops.Windows.rangePrefixSum(pooled, "v", "pc", "pcum")
      .withColumn("pprev", col("pcum") - col("pc"))
      // bcast-ok: pooledN is a 1-row global aggregate
      .crossJoin(broadcast(pooledN))
      .withColumn("pcum", when(col("dict_sz") > maxDictValues,
        raise_error(lit("quantileNormalize: pooled value dictionary " +
          s"exceeds $maxDictValues distinct values — the rank lookup " +
          "range-joins against a broadcast dictionary; bucketize the " +
          "value column (round/bin) or raise maxDictValues"))
          .cast("long")).otherwise(col("pcum")))
      .select(col("v").as("pv"), col("pcum"), col("pprev"), col("n"))
    // bcast-ok: pooled distinct-value dictionary, ≤ maxDictValues rows by
    // the raise_error guard fused into pcum above
    grpCum.join(broadcast(pooledCum),
        expr("(r * n + ng - 1) div ng > pprev AND " +
          "(r * n + ng - 1) div ng <= pcum"))
      .select(col("g"), col("v"), col("cnt").cast("long").as("cnt"),
        col("pv").as("qnorm"))
  }

  def q190QuantileNorm(spark: SparkSession, dir: String): DataFrame =
    quantileNormalize(
      graft.Tables.documents(spark, dir).select("lang", "n_chars"),
      "lang", "n_chars")

  val q190QuantileNormSql: String = """
    WITH c AS (SELECT lang AS g, n_chars AS v, COUNT(*) AS cnt
               FROM documents GROUP BY 1, 2),
    gc AS (SELECT g, v, cnt,
                  SUM(cnt) OVER (PARTITION BY g ORDER BY v) AS r,
                  SUM(cnt) OVER (PARTITION BY g) AS ng
           FROM c),
    p AS (SELECT v, SUM(cnt) AS pc FROM c GROUP BY v),
    pcm AS (SELECT v AS pv,
                   SUM(pc) OVER (ORDER BY v) AS pcum,
                   SUM(pc) OVER (ORDER BY v) - pc AS pprev,
                   SUM(pc) OVER () AS n
            FROM p)
    SELECT gc.g, gc.v, CAST(gc.cnt AS BIGINT) AS cnt, pcm.pv AS qnorm
    FROM gc JOIN pcm
      ON (gc.r * pcm.n + gc.ng - 1) // gc.ng > pcm.pprev
     AND (gc.r * pcm.n + gc.ng - 1) // gc.ng <= pcm.pcum"""

  // --- q191_fd_audit: functional-dependency discovery ---------------------
  /** Functional-dependency audit over declared candidate pairs: does
    * `lhs → rhs` hold (every lhs class maps to exactly one rhs value)?
    * The schema-inference/data-contract check a profiling pass runs —
    * a violated FD that "should" hold (order → customer, url → domain)
    * is a corruption signal, and a holding FD is a normalization
    * opportunity. Per pair: class count, violating classes, the worst
    * class's rhs fan-out, and the verdict.
    *
    * Each pair is one `groupBy(lhs).agg(count_distinct(rhs))` — exact
    * distinct per class (the classes are the scale unit, not rows) —
    * folded to a single summary row; pairs union into one frame. */
  def fdAudit(df: DataFrame, pairs: Seq[(String, String)]): DataFrame = {
    require(pairs.nonEmpty, "fdAudit: no candidate pairs")
    pairs.map { case (a, b) =>
      // internal alias must not collide with a user column named `k`
      df.groupBy(col(a)).agg(countDistinct(col(b)).as("__fd_k"))
        .agg(count(lit(1)).as("n_classes"),
          sum(when(col("__fd_k") > 1, 1L).otherwise(0L)).as("violating"),
          max(col("__fd_k")).as("max_fanout"))
        .select(lit(s"$a->$b").as("fd"),
          col("n_classes").cast("long").as("n_classes"),
          col("violating").cast("long").as("violating"),
          col("max_fanout").cast("long").as("max_fanout"),
          (col("violating") === 0).as("holds"))
    }.reduce(_ unionByName _)
  }

  def q191FdAudit(spark: SparkSession, dir: String): DataFrame =
    fdAudit(graft.Tables.documents(spark, dir),
      Seq("doc_id" -> "source", "lang" -> "source", "source" -> "lang"))

  val q191FdAuditSql: String = {
    def arm(a: String, b: String) = s"""
      SELECT '$a->$b' AS fd, COUNT(*) AS n_classes,
             CAST(SUM(CASE WHEN k > 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS violating,
             CAST(MAX(k) AS BIGINT) AS max_fanout,
             SUM(CASE WHEN k > 1 THEN 1 ELSE 0 END) = 0 AS holds
      FROM (SELECT $a, COUNT(DISTINCT $b) AS k FROM documents GROUP BY $a)"""
    Seq(arm("doc_id", "source"), arm("lang", "source"),
      arm("source", "lang")).mkString("\nUNION ALL\n")
  }

  // --- q193_cusum: change-point location over daily volume ----------------
  /** CUSUM change-point detection per group: the day where the cumulative
    * deviation from the group's own mean peaks — the classic "when did
    * this source's volume regime change" locator (a level shift makes
    * |CUSUM| a tent with its apex at the change). Integer-exact: over D
    * zero-filled days with group total S, `CUSUM_k·D = D·Σ_{d≤k}c_d − k·S`
    * — reported SCALED BY D so it stays a BIGINT (both engines agree on
    * every bit, no mean division anywhere). Apex ties resolve to the
    * earliest day; the last day is excluded (its CUSUM is 0 by
    * construction).
    *
    * Scale shape: the q176 substrate — one corpus-collapse shuffle to
    * (group, day) counts, zero-fill over the global span, then
    * group-keyed windows on the dashboard-sized series frame and a
    * max-agg + min-day-over-achievers pick. */
  def cusumChangePoint(events: DataFrame, group: String,
                       ts: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val counts = graft.CacheRegistry.persist(
      events.select(col(group).as("g"),
          datediff(date_trunc("day", col(ts)),
            to_date(lit("2024-01-01"))).as("d"))
        .groupBy(col("g"), col("d")).agg(count(lit(1)).as("c")))
    val span = counts.agg(min(col("d")).as("d0"), max(col("d")).as("d1"))
    val series = counts.select(col("g")).distinct()
      // bcast-ok: span is a 1-row min/max aggregate
      .crossJoin(broadcast(span))
      .select(col("g"), explode(sequence(col("d0"), col("d1"))).as("d"))
      .join(counts, Seq("g", "d"), "left_outer")
      .select(col("g"), col("d"), coalesce(col("c"), lit(0L)).as("c"))
    val wg = Window.partitionBy(col("g")).orderBy(col("d"))
    val cs = series
      .withColumn("cum", sum(col("c")).over(wg))
      .withColumn("idx", row_number().over(wg))
      .withColumn("nd", count(lit(1)).over(Window.partitionBy(col("g"))))
      .withColumn("s", sum(col("c")).over(Window.partitionBy(col("g"))))
      .filter(col("idx") < col("nd")) // interior days only
      .withColumn("cusum", col("cum") * col("nd") - col("idx") * col("s"))
    val peaks = cs.groupBy(col("g"))
      .agg(max(abs(col("cusum"))).as("peak"),
        max(col("nd")).as("n_days"), max(col("s")).as("total"))
    cs.join(peaks, Seq("g"))
      .filter(abs(col("cusum")) === col("peak"))
      .groupBy(col("g"), col("peak"), col("n_days"), col("total"))
      .agg(min(col("d")).as("change_day"))
      .select(col("g"), col("change_day").cast("int").as("change_day"),
        col("peak").cast("long").as("max_abs_cusum_d"),
        col("n_days").cast("long").as("n_days"),
        col("total").cast("long").as("total"))
  }

  def q193Cusum(spark: SparkSession, dir: String): DataFrame =
    cusumChangePoint(graft.Tables.events(spark, dir), "event_type", "ts")

  val q193CusumSql: String = """
    WITH daily AS (
      SELECT event_type AS g,
             datediff('day', DATE '2024-01-01',
                      date_trunc('day', CAST(ts AS TIMESTAMP))) AS d,
             COUNT(*) AS c
      FROM events GROUP BY 1, 2),
    span AS (SELECT MIN(d) AS d0, MAX(d) AS d1 FROM daily),
    series AS (
      SELECT gs.g, sp.d0 + u.i AS d, COALESCE(daily.c, 0) AS c
      FROM (SELECT DISTINCT g FROM daily) gs
      CROSS JOIN span sp
      CROSS JOIN unnest(range(0, sp.d1 - sp.d0 + 1)) AS u(i)
      LEFT JOIN daily ON daily.g = gs.g AND daily.d = sp.d0 + u.i),
    cs AS (SELECT g, d,
                  SUM(c) OVER (PARTITION BY g ORDER BY d) AS cum,
                  ROW_NUMBER() OVER (PARTITION BY g ORDER BY d) AS idx,
                  COUNT(*) OVER (PARTITION BY g) AS nd,
                  SUM(c) OVER (PARTITION BY g) AS s
           FROM series),
    ci AS (SELECT g, d, cum * nd - idx * s AS cusum, nd, s
           FROM cs WHERE idx < nd),
    pk AS (SELECT g, MAX(ABS(cusum)) AS peak, MAX(nd) AS n_days,
                  MAX(s) AS total
           FROM ci GROUP BY g)
    SELECT ci.g, CAST(MIN(ci.d) AS INT) AS change_day,
           CAST(pk.peak AS BIGINT) AS max_abs_cusum_d,
           CAST(pk.n_days AS BIGINT) AS n_days,
           CAST(pk.total AS BIGINT) AS total
    FROM ci JOIN pk ON ci.g = pk.g AND ABS(ci.cusum) = pk.peak
    GROUP BY ci.g, pk.peak, pk.n_days, pk.total"""

  // --- q138_chi2: categorical association (contingency chi-square) --------
  /** Pearson chi-square contingency cells for two categorical columns —
    * the drift/association check a curation dashboard runs ("did the
    * language mix shift per source?"). Per cell: observed count, expected
    * count under independence (exact-rational `rowTot·colTot/N`, half-up
    * at 6 dp), and the chi-square contribution `(O−E)²/E`. The
    * contribution is restructured to clear fractions —
    * `(O·N − rowTot·colTot)² / (N·rowTot·colTot)` — so both factors are
    * EXACT integers (the square carried as DECIMAL(38,0): `(O·N)²` can
    * pass 2⁶³ even when every input is BIGINT-sized) and the only
    * rounding is one double division, identical in any engine.
    *
    * Scale shape: the corpus collapses to one count row per cell
    * (map-side partial); marginals and N are aggregates OVER THE CELL
    * FRAME (cardinality |a|·|b|, not rows) and broadcast back. At 100 TB
    * this is a metadata-sized computation after one scan. */
  def chi2Cells(df: DataFrame, a: String, b: String): DataFrame = {
    val cells = df.groupBy(col(a), col(b)).agg(count(lit(1)).as("o"))
    val ra = cells.groupBy(col(a)).agg(sum(col("o")).as("ra"))
    val cb = cells.groupBy(col(b)).agg(sum(col("o")).as("cb"))
    val n = cells.agg(sum(col("o")).as("n"))
    // bcast-ok: per-category marginals — contingency columns are categorical by contract
    cells.join(broadcast(ra), a).join(broadcast(cb), b)
      // bcast-ok: n is a 1-row global aggregate
      .crossJoin(broadcast(n))
      .select(col(a), col(b), col("o"),
        graft.ops.Relational.ratio6("ra * cb", "n").as("expected6"),
        (expr("""CAST(CAST(o * n - ra * cb AS DECIMAL(19,0))
                      * CAST(o * n - ra * cb AS DECIMAL(19,0))
                 AS DECIMAL(38,0))""").cast("double") /
          expr("n * ra * cb").cast("double")).as("chi2_cell"))
  }

  def q138Chi2(spark: SparkSession, dir: String): DataFrame =
    chi2Cells(graft.Tables.documents(spark, dir), "lang", "source")

  val q138Chi2Sql: String = s"""
    WITH cells AS (
      SELECT lang, source, COUNT(*) AS o FROM documents GROUP BY 1, 2),
    ra AS (SELECT lang, CAST(SUM(o) AS BIGINT) AS ra FROM cells GROUP BY 1),
    cb AS (SELECT source, CAST(SUM(o) AS BIGINT) AS cb FROM cells GROUP BY 1),
    nn AS (SELECT CAST(SUM(o) AS BIGINT) AS n FROM cells)
    SELECT lang, source, o,
           ${graft.ops.Relational.ratio6Sql("ra * cb", "n")} AS expected6,
           CAST(CAST(o * n - ra * cb AS HUGEINT)
                * CAST(o * n - ra * cb AS HUGEINT) AS DOUBLE)
             / CAST(n * ra * cb AS DOUBLE) AS chi2_cell
    FROM cells JOIN ra USING (lang) JOIN cb USING (source), nn"""

  // --- q141_count_min: count-min sketch over the token stream -------------
  /** Count-min sketch (Cormode–Muthukrishnan) — the frequency sketch the
    * family was missing next to HLL (distinct, q13) and Bloom (membership,
    * q69): `depth` hash rows × `width` counters, point estimate = MIN over
    * rows of the probed counters, with the classic one-sided guarantee
    * (never an undercount; overshoot ≤ e·L/width with prob 1−e^−depth).
    * Hashes are the engine-portable md5→uint32 nibble substrate
    * ([[graft.ext.Sampling.nibbleSumSql]]) keyed `"j:token"`, so the
    * oracle REPLAYS the sketch bit-for-bit rather than trusting it; the
    * emitted `no_undercount` booleans pin the guarantee in the hash
    * compare at every scale factor.
    *
    * Scale shape: the corpus pays ONE wordcount shuffle (map-side
    * partial); all `depth` md5s hash the DISTINCT-token frame, vocabulary-
    * not corpus-sized; the sketch itself is ≤ depth·width rows at ANY
    * corpus size, so the probe side joins it BROADCAST. This is the
    * whole point of a sketch at 100 TB — the q72 exact heavy hitters pay
    * a full wordcount every query, the sketch answers point lookups from
    * 4 KB of state a driver can hold, merge (cell-wise +), and ship. */
  def countMinSketch(items: DataFrame, item: String, weight: Column,
                     width: Int = 1024, depth: Int = 4): DataFrame =
    items
      .select(col(item).as("w"), weight.as("cnt"),
        explode(sequence(lit(0), lit(depth - 1))).as("j"))
      .withColumn("h8", substring(md5(concat(col("j").cast("string"),
        lit(":"), col("w")).cast("binary")), 1, 8))
      .withColumn("bucket",
        expr(graft.ext.Sampling.nibbleSumSql("h8")) % width)
      .groupBy(col("j"), col("bucket"))
      .agg(sum(col("cnt")).as("c"))

  /** Build the sketch from `documents` tokens, then audit it: probe the
    * top-k exact tokens and emit exact vs estimate side by side. */
  def cmsAudit(docs: DataFrame, text: String, width: Int, depth: Int,
               k: Int): DataFrame = {
    val cnt = graft.CacheRegistry.persist(
      docs.select(explode(split(lower(trim(col(text))), "\\s+")).as("w"))
        .filter(col("w") =!= "")
        .groupBy(col("w")).agg(count(lit(1)).as("cnt")))
    val sketch = countMinSketch(cnt, "w", col("cnt"), width, depth)
    cnt.orderBy(col("cnt").desc, col("w")).limit(k)
      .select(col("w"), explode(sequence(lit(0), lit(depth - 1))).as("j"),
        col("cnt"))
      .withColumn("h8", substring(md5(concat(col("j").cast("string"),
        lit(":"), col("w")).cast("binary")), 1, 8))
      .withColumn("bucket",
        expr(graft.ext.Sampling.nibbleSumSql("h8")) % width)
      // bcast-ok: count-min sketch — fixed depth x width
      .join(broadcast(sketch), Seq("j", "bucket"))
      .groupBy(col("w"))
      .agg(max(col("cnt")).cast("long").as("exact_cnt"),
        min(col("c")).cast("long").as("est"))
      .select(col("w"), col("exact_cnt"), col("est"),
        (col("est") >= col("exact_cnt")).as("no_undercount"))
  }

  /** width=16 against a 31-token synthetic vocabulary — deliberately
    * UNDER-provisioned so the pigeonhole forces real collisions and the
    * hash compare certifies overcounted cells and the no-undercount
    * guarantee under pressure, not a trivially collision-free replay. */
  def q141CountMin(spark: SparkSession, dir: String): DataFrame =
    cmsAudit(graft.Tables.documents(spark, dir), "text",
      width = 16, depth = 4, k = 50)

  val q141CountMinSql: String = {
    val nib = graft.ext.Sampling.nibbleSumSql("h8")
    raw"""
    WITH tok AS (
      SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS w
      FROM documents),
    cnt AS (SELECT w, COUNT(*) AS cnt FROM tok WHERE w <> '' GROUP BY w),
    h AS (SELECT w, cnt, j,
                 substring(md5(CAST(j AS VARCHAR) || ':' || w), 1, 8) AS h8
          FROM cnt, unnest([0, 1, 2, 3]) AS u(j)),
    hb AS (SELECT w, cnt, j, $nib % 16 AS bucket FROM h),
    sk AS (SELECT j, bucket, SUM(cnt) AS c FROM hb GROUP BY j, bucket),
    pr AS (SELECT w FROM cnt ORDER BY cnt DESC, w LIMIT 50),
    est AS (SELECT hb.w, MAX(hb.cnt) AS exact_cnt, MIN(sk.c) AS est
            FROM pr JOIN hb USING (w)
            JOIN sk ON sk.j = hb.j AND sk.bucket = hb.bucket
            GROUP BY hb.w)
    SELECT w, CAST(exact_cnt AS BIGINT) AS exact_cnt,
           CAST(est AS BIGINT) AS est, est >= exact_cnt AS no_undercount
    FROM est"""
  }

  // --- q216_cms_atscale: the sketch audit under collision pressure at 2²⁰
  /** At-scale correctness coverage for [[countMinSketch]]/[[cmsAudit]] —
    * q141 audits the sketch over the few-thousand-row documents table
    * (31 distinct tokens); this replays the SAME audit over a
    * range-synthesized corpus of 2²⁰ documents carrying a 1024-token
    * vocabulary into a width-64 sketch, so the pigeonhole forces ≥16-way
    * bucket sharing in every hash row while ~4.2M tokens flow through the
    * wordcount shuffle and all 4 md5 rows hash the (vocabulary-sized)
    * distinct-token frame. Token k = d mod 1024 appears (d mod 7)+1
    * times per doc, so exact counts VARY across colliding tokens and an
    * estimate that read the wrong bucket (or dropped a colliding term's
    * mass) breaks the hash; the emitted `no_undercount` booleans pin the
    * one-sided guarantee under real pressure at gate scale. The oracle
    * replays the sketch bit-for-bit in DuckDB over its own generated
    * corpus (q141's CTE chain, FROM a range CTE, width 64). */
  private[graft] val q216Docs = 1L << 20

  private[graft] def q216Corpus(spark: SparkSession,
                                docs: Long = q216Docs): DataFrame =
    spark.range(docs).select(col("id").as("doc_id"),
      expr("repeat(concat('t', CAST(id % 1024 AS STRING), ' '), " +
        "CAST(id % 7 AS INT) + 1)").as("text"))

  def q216CmsAtScale(spark: SparkSession, dir: String): DataFrame =
    cmsAudit(q216Corpus(spark), "text", width = 64, depth = 4, k = 50)

  private[graft] def q216OracleSql(docs: Long = q216Docs): String = {
    val nib = graft.ext.Sampling.nibbleSumSql("h8")
    raw"""
    WITH docs AS (
      SELECT repeat('t' || CAST(u.i % 1024 AS VARCHAR) || ' ',
                    CAST(u.i % 7 AS INT) + 1) AS text
      FROM unnest(range(0, $docs)) AS u(i)),
    tok AS (
      SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS w
      FROM docs),
    cnt AS (SELECT w, COUNT(*) AS cnt FROM tok WHERE w <> '' GROUP BY w),
    h AS (SELECT w, cnt, j,
                 substring(md5(CAST(j AS VARCHAR) || ':' || w), 1, 8) AS h8
          FROM cnt, unnest([0, 1, 2, 3]) AS u(j)),
    hb AS (SELECT w, cnt, j, $nib % 64 AS bucket FROM h),
    sk AS (SELECT j, bucket, SUM(cnt) AS c FROM hb GROUP BY j, bucket),
    pr AS (SELECT w FROM cnt ORDER BY cnt DESC, w LIMIT 50),
    est AS (SELECT hb.w, MAX(hb.cnt) AS exact_cnt, MIN(sk.c) AS est
            FROM pr JOIN hb USING (w)
            JOIN sk ON sk.j = hb.j AND sk.bucket = hb.bucket
            GROUP BY hb.w)
    SELECT w, CAST(exact_cnt AS BIGINT) AS exact_cnt,
           CAST(est AS BIGINT) AS est, est >= exact_cnt AS no_undercount
    FROM est"""
  }

  // --- q161_join_size: CM-sketch join-cardinality estimation --------------
  /** Join-size estimation from two count-min sketches — the AQP/planner
    * primitive: `|A ⨝ B|` on a key is the inner product Σ_k cA(k)·cB(k),
    * and the sketch estimate is, per hash row j, Σ_b cA_j[b]·cB_j[b]
    * (Cormode–Muthukrishnan's inner-product estimator), one-sided like
    * the point estimate: collisions only ADD cross terms, so every row's
    * estimate ≥ the exact size. This is what a planner consults before
    * committing to a shuffle join at 100 TB — both sketches are ≤
    * depth·width rows regardless of corpus size, broadcastable, and
    * mergeable cell-wise, so the estimate costs two key-cardinality
    * groupBys and a sketch-sized join instead of the join itself.
    *
    * The registered query estimates the same-user (click, view) pair
    * count on events, width 16 over ~150 users — deliberately
    * under-provisioned (q141's discipline) so the hash compare certifies
    * genuine collision overshoot plus the no-undercount guarantee, not a
    * collision-free replay. Hashes are the engine-portable md5→nibble
    * substrate shared with q141, so DuckDB rebuilds both sketches
    * bit-for-bit; all arithmetic (counts, products, sums) is exact
    * BIGINT. */
  def cmJoinSizeAudit(a: DataFrame, b: DataFrame, key: String,
                      width: Int = 16, depth: Int = 4): DataFrame = {
    def cnts(df: DataFrame) =
      df.groupBy(col(key).as("k")).agg(count(lit(1)).as("cnt"))
    val ca = graft.CacheRegistry.persist(cnts(a))
    val cb = graft.CacheRegistry.persist(cnts(b))
    val ska = countMinSketch(ca, "k", col("cnt"), width, depth)
    val skb = countMinSketch(cb, "k", col("cnt"), width, depth)
    val est = ska.as("x").join(skb.as("y"),
        col("x.j") === col("y.j") && col("x.bucket") === col("y.bucket"))
      .groupBy(col("x.j").as("j"))
      .agg(sum(col("x.c") * col("y.c")).as("est_j"))
    val exact = ca.as("a").join(cb.as("b"), col("a.k") === col("b.k"))
      .agg(coalesce(sum(col("a.cnt") * col("b.cnt")), lit(0L))
        .as("exact_size"))
    // bcast-ok: exact is a 1-row aggregate
    est.crossJoin(broadcast(exact))
      .select(col("j").cast("int").as("j"),
        col("est_j").cast("long").as("est_j"),
        col("exact_size").cast("long").as("exact_size"),
        (col("est_j") >= col("exact_size")).as("no_undercount"))
  }

  def q161JoinSize(spark: SparkSession, dir: String): DataFrame = {
    val ev = graft.Tables.events(spark, dir)
    cmJoinSizeAudit(
      ev.filter(col("event_type") === "click"),
      ev.filter(col("event_type") === "view"), "user_id")
  }

  val q161JoinSizeSql: String = {
    val nib = graft.ext.Sampling.nibbleSumSql("h8")
    raw"""
    WITH ca AS (SELECT user_id AS k, COUNT(*) AS cnt FROM events
                WHERE event_type = 'click' GROUP BY 1),
    cb AS (SELECT user_id AS k, COUNT(*) AS cnt FROM events
           WHERE event_type = 'view' GROUP BY 1),
    ha AS (SELECT k, cnt, j,
                  substring(md5(CAST(j AS VARCHAR) || ':' ||
                                CAST(k AS VARCHAR)), 1, 8) AS h8
           FROM ca, unnest([0, 1, 2, 3]) AS u(j)),
    ska AS (SELECT j, $nib % 16 AS bucket, SUM(cnt) AS c
            FROM ha GROUP BY 1, 2),
    hb AS (SELECT k, cnt, j,
                  substring(md5(CAST(j AS VARCHAR) || ':' ||
                                CAST(k AS VARCHAR)), 1, 8) AS h8
           FROM cb, unnest([0, 1, 2, 3]) AS u(j)),
    skb AS (SELECT j, $nib % 16 AS bucket, SUM(cnt) AS c
            FROM hb GROUP BY 1, 2),
    ex AS (SELECT COALESCE(SUM(a.cnt * b.cnt), 0) AS exact_size
           FROM ca a JOIN cb b ON a.k = b.k),
    est AS (SELECT x.j AS j, SUM(x.c * y.c) AS est_j
            FROM ska x JOIN skb y ON x.j = y.j AND x.bucket = y.bucket
            GROUP BY 1)
    SELECT CAST(est.j AS INT) AS j, CAST(est_j AS BIGINT) AS est_j,
           CAST(exact_size AS BIGINT) AS exact_size,
           est_j >= exact_size AS no_undercount
    FROM est, ex"""
  }

  // --- q162_gini: Gini concentration per group ----------------------------
  /** Per-group Gini coefficient over a non-negative integer metric — the
    * inequality profile (is one crawl's byte mass concentrated in a few
    * giant documents?) next to q142's Simpson homogeneity and q144/q159's
    * cross-group drift. Computed by the sorted-rank identity
    * `G = (2·Σᵢ i·xᵢ − (n+1)·Σx) / (n·Σx)` (x ascending, i = 1..n), made
    * EXACT and sort-free over data rows via the q133 distinct-value
    * discipline: a tie block of count c after `below` smaller rows
    * occupies ranks below+1..below+c, so Σ i·x over the block is
    * `x·(c·below + c(c+1)/2)` — all BIGINT, one cumulative window over
    * the per-group DISTINCT values, finished by a single
    * [[graft.ops.Relational.ratio6]] (numerator ≥ 0 for non-negative x
    * by the rearrangement inequality, meeting ratio6's precondition).
    *
    * Scale shape: one (group, value) count shuffle with map-side partial,
    * a cumulative window partitioned by GROUP over its distinct values
    * (value-cardinality-bounded, never data rows), one group re-agg.
    * BIGINT headroom: Σ i·x ~ n·Σx — exact to ~10⁹ rows × 10⁹ totals
    * split across groups; DECIMAL swap past (the q142 note). */
  def giniPerGroup(df: DataFrame, group: String, value: String): DataFrame = {
    val counts = df.select(col(group).as("g"), col(value).as("x"))
      .groupBy(col("g"), col("x")).agg(count(lit(1)).as("c"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("g")).orderBy(col("x"))
    val below = sum(col("c")).over(w) - col("c")
    val ranked = counts.select(col("g"), col("x"), col("c"),
      below.as("below"))
    ranked
      .groupBy(col("g"))
      .agg(sum(col("c")).as("n"),
        sum(col("x") * col("c")).as("total"),
        sum(col("x") * (col("c") * col("below") +
          expr("c * (c + 1) div 2"))).as("ix"))
      .select(col("g"), col("n").cast("long").as("n"),
        col("total").cast("long").as("total"),
        graft.ops.Relational.ratio6(
          "2 * ix - (n + 1) * total", "n * total").as("gini6"))
  }

  def q162Gini(spark: SparkSession, dir: String): DataFrame =
    giniPerGroup(graft.Tables.documents(spark, dir), "source", "n_chars")

  val q162GiniSql: String = s"""
    WITH c AS (SELECT source AS g, n_chars AS x, COUNT(*) AS c
               FROM documents GROUP BY 1, 2),
    r AS (SELECT g, x, c,
                 SUM(c) OVER (PARTITION BY g ORDER BY x) - c AS below
          FROM c),
    a AS (SELECT g, SUM(c) AS n, SUM(x * c) AS total,
                 SUM(x * (c * below + c * (c + 1) // 2)) AS ix
          FROM r GROUP BY g)
    SELECT g, CAST(n AS BIGINT) AS n, CAST(total AS BIGINT) AS total,
           ${graft.ops.Relational.ratio6Sql(
             "2 * ix - (n + 1) * total", "n * total")} AS gini6
    FROM a"""

  // --- q163_winsorize: exact-fence winsorized robust statistics -----------
  /** Per-group winsorization — clamp a metric to its exact [P05, P95]
    * order statistics and report the robust mean — the outlier-capping
    * step before any mean-based quality gate (a handful of giant
    * documents otherwise own the average). Fences are EXACT order
    * statistics (k-th smallest, k = ⌈q·n⌉ computed as the integer
    * `(n·q% + 99) div 100` — no interpolation, no floats), found on the
    * per-group distinct-value cumulative frame (the q133 discipline), so
    * the winsorized sum `Σ c·clamp(x, lo, hi)` stays BIGINT end-to-end
    * and the mean is one [[graft.ops.Relational.ratio6]].
    *
    * Scale shape: one (group, value) count shuffle, one group-partitioned
    * cumulative over distinct values, group sizes broadcast into the
    * fence probe — data rows are never sorted or windowed. */
  def winsorizedStats(df: DataFrame, group: String, value: String,
                      loPct: Int = 5, hiPct: Int = 95): DataFrame = {
    val counts = df.select(col(group).as("g"), col(value).as("x"))
      .groupBy(col("g"), col("x")).agg(count(lit(1)).as("c"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("g")).orderBy(col("x"))
    val cum = graft.CacheRegistry.persist(
      counts.withColumn("cum", sum(col("c")).over(w)))
    val sizes = cum.groupBy(col("g")).agg(max(col("cum")).as("n"))
    // bcast-ok: sizes is one row per group — categorical grouping contract
    val fences = cum.join(broadcast(sizes), Seq("g"))
      .groupBy(col("g"), col("n"))
      .agg(
        min(when(col("cum") >= expr(s"(n * $loPct + 99) div 100"), col("x")))
          .as("lo"),
        min(when(col("cum") >= expr(s"(n * $hiPct + 99) div 100"), col("x")))
          .as("hi"))
    // bcast-ok: fences is one row per group — categorical grouping contract
    cum.join(broadcast(fences), Seq("g"))
      .groupBy(col("g"), col("n"), col("lo"), col("hi"))
      .agg(sum(col("c") * greatest(col("lo"), least(col("hi"), col("x"))))
        .as("wsum"))
      .select(col("g"), col("n").cast("long").as("n"),
        col("lo").cast("long").as("lo"), col("hi").cast("long").as("hi"),
        graft.ops.Relational.ratio6("wsum", "n").as("wmean6"))
  }

  def q163Winsorize(spark: SparkSession, dir: String): DataFrame =
    winsorizedStats(graft.Tables.documents(spark, dir), "lang", "n_chars")

  val q163WinsorizeSql: String = s"""
    WITH c AS (SELECT lang AS g, n_chars AS x, COUNT(*) AS c
               FROM documents GROUP BY 1, 2),
    cm AS (SELECT g, x, c, SUM(c) OVER (PARTITION BY g ORDER BY x) AS cum
           FROM c),
    s AS (SELECT g, MAX(cum) AS n FROM cm GROUP BY g),
    f AS (SELECT cm.g, s.n,
                 MIN(CASE WHEN cum >= (n * 5 + 99) // 100 THEN x END) AS lo,
                 MIN(CASE WHEN cum >= (n * 95 + 99) // 100 THEN x END) AS hi
          FROM cm JOIN s USING (g) GROUP BY cm.g, s.n),
    a AS (SELECT cm.g, f.n, f.lo, f.hi,
                 SUM(c * GREATEST(f.lo, LEAST(f.hi, x))) AS wsum
          FROM cm JOIN f USING (g) GROUP BY cm.g, f.n, f.lo, f.hi)
    SELECT g, CAST(n AS BIGINT) AS n, CAST(lo AS BIGINT) AS lo,
           CAST(hi AS BIGINT) AS hi,
           ${graft.ops.Relational.ratio6Sql("wsum", "n")} AS wmean6
    FROM a"""

  // --- q166_theil_sen: robust per-entity trend (median pairwise slope) ----
  /** Theil–Sen slope per entity over its daily activity — the robust
    * volume-trend detector (is this user/source ramping up or decaying?)
    * that a least-squares fit gets wrong under a single spike day: the
    * estimator is the MEDIAN of all pairwise slopes `(c₂−c₁)/(d₂−d₁)`,
    * breakdown point 29%. Day indices are integer offsets from a fixed
    * epoch and counts are exact, so every slope is one IEEE division both
    * engines compute identically; the median is positional (middle
    * row_number, two-term mean for even counts) over the per-entity slope
    * frame — ties collapse to equal doubles, so ORDER BY slope alone is
    * value-deterministic.
    *
    * Scale shape: the corpus collapses to (entity, day) counts first
    * (ONE map-side-partial shuffle — the only corpus-sized pass); the
    * pairwise explode and its window live on per-entity DAILY frames,
    * bounded by (span choose 2) per entity — days-per-entity is
    * physically bounded, corpus rows are not. */
  def theilSenTrend(events: DataFrame, entity: String, ts: String): DataFrame = {
    val daily = graft.CacheRegistry.persist(
      events.select(col(entity).as("e"),
          datediff(date_trunc("day", col(ts)),
            to_date(lit("2024-01-01"))).as("d"))
        .groupBy(col("e"), col("d")).agg(count(lit(1)).as("c")))
    val slopes = daily.as("a").join(daily.as("b"),
        col("a.e") === col("b.e") && col("a.d") < col("b.d"))
      .select(col("a.e").as("e"),
        ((col("b.c") - col("a.c")).cast("double") / (col("b.d") - col("a.d")))
          .as("slope"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("e")).orderBy(col("slope"))
    val ranked = slopes.select(col("e"), col("slope"),
      row_number().over(w).as("rn"),
      count(lit(1)).over(org.apache.spark.sql.expressions.Window
        .partitionBy(col("e"))).as("m"))
    ranked
      .filter(col("rn") === expr("(m + 1) div 2") ||
        col("rn") === expr("m div 2 + 1"))
      .groupBy(col("e"))
      .agg(max(col("m")).as("n_pairs"),
        round((sum(col("slope")) / count(lit(1))), 6).as("slope6"))
      .select(col("e"), col("n_pairs").cast("long").as("n_pairs"),
        col("slope6"))
  }

  def q166TheilSen(spark: SparkSession, dir: String): DataFrame =
    theilSenTrend(graft.Tables.events(spark, dir), "user_id", "ts")

  val q166TheilSenSql: String = """
    WITH daily AS (
      SELECT user_id AS e,
             datediff('day', DATE '2024-01-01',
                      date_trunc('day', CAST(ts AS TIMESTAMP))) AS d,
             COUNT(*) AS c
      FROM events GROUP BY 1, 2),
    sl AS (SELECT a.e,
                  CAST(b.c - a.c AS DOUBLE) / (b.d - a.d) AS slope
           FROM daily a JOIN daily b ON a.e = b.e AND a.d < b.d),
    r AS (SELECT e, slope,
                 ROW_NUMBER() OVER (PARTITION BY e ORDER BY slope) AS rn,
                 COUNT(*) OVER (PARTITION BY e) AS m
          FROM sl)
    SELECT e, CAST(MAX(m) AS BIGINT) AS n_pairs,
           ROUND(SUM(slope) / COUNT(*), 6) AS slope6
    FROM r
    WHERE rn = (m + 1) // 2 OR rn = m // 2 + 1
    GROUP BY e"""

  // --- q176_acf: per-group lag-k autocorrelation of daily volume ----------
  /** Autocorrelation of each group's daily event-count series at chosen
    * lags — the seasonality detector (lag 7 high → weekly cycle; lag 1
    * high → day-to-day momentum) that tells a pipeline whether "today
    * looks unlike yesterday" is signal or just the weekend. The series is
    * ZERO-FILLED over the corpus-wide [min, max] day span: a missing day
    * in a count series is a real zero, and computing ACF on observed days
    * only would silently correlate across gaps.
    *
    * Cross-engine exactness, same discipline as [[correlations]]: daily
    * counts are BIGINTs, every sufficient statistic (n, Σx, Σy, Σx², Σy²,
    * Σxy) is exact integer arithmetic, and the final Pearson expression
    * is the identical IEEE op sequence in both engines — no rounding
    * anywhere.
    *
    * Scale shape: the corpus collapses to (group, day) counts in ONE
    * map-side-partial shuffle — the only pass that sees raw events. The
    * zero-filled series is |groups| × span-days rows (dashboard-sized);
    * the lag pairing is a self-equi-join on (group, day+k) over that tiny
    * frame, and the stats are one more hash aggregate. At 100 TB the
    * events scan dominates and everything downstream is negligible. */
  def lagAutocorr(events: DataFrame, group: String, ts: String,
                  lags: Seq[Int]): DataFrame = {
    val counts = graft.CacheRegistry.persist(
      events.select(col(group).as("g"),
          datediff(date_trunc("day", col(ts)),
            to_date(lit("2024-01-01"))).as("d"))
        .groupBy(col("g"), col("d")).agg(count(lit(1)).as("c")))
    val span = counts.agg(min(col("d")).as("d0"), max(col("d")).as("d1"))
    val series = counts.select(col("g")).distinct()
      // bcast-ok: span is a 1-row min/max aggregate
      .crossJoin(broadcast(span))
      .select(col("g"), explode(sequence(col("d0"), col("d1"))).as("d"))
      .join(counts, Seq("g", "d"), "left_outer")
      .select(col("g"), col("d"), coalesce(col("c"), lit(0L)).as("c"))
    val pairs = series
      .select(col("g"), col("d"), col("c"),
        explode(array(lags.map(lit): _*)).as("k")).as("x")
      .join(series.as("y"),
        col("x.g") === col("y.g") && col("y.d") === col("x.d") + col("x.k"))
      .select(col("x.g").as("g"), col("x.k").as("k"),
        col("x.c").as("cx"), col("y.c").as("cy"))
    pairs.groupBy(col("g"), col("k"))
      .agg(count(lit(1)).as("n"),
        sum(col("cx")).as("sx"), sum(col("cy")).as("sy"),
        sum(col("cx") * col("cx")).as("sxx"),
        sum(col("cy") * col("cy")).as("syy"),
        sum(col("cx") * col("cy")).as("sxy"))
      .select(col("g"), col("k").cast("int").as("lag"),
        col("n").cast("long").as("n"),
        when(col("n") * col("sxx") - col("sx") * col("sx") > 0 &&
             col("n") * col("syy") - col("sy") * col("sy") > 0,
          (col("n") * col("sxy") - col("sx") * col("sy")).cast("double") /
            sqrt((col("n") * col("sxx") - col("sx") * col("sx")).cast("double") *
                 (col("n") * col("syy") - col("sy") * col("sy")).cast("double")))
          .as("acf"))
  }

  def q176Acf(spark: SparkSession, dir: String): DataFrame =
    lagAutocorr(graft.Tables.events(spark, dir), "event_type", "ts",
      Seq(1, 7))

  val q176AcfSql: String = """
    WITH daily AS (
      SELECT event_type AS g,
             datediff('day', DATE '2024-01-01',
                      date_trunc('day', CAST(ts AS TIMESTAMP))) AS d,
             COUNT(*) AS c
      FROM events GROUP BY 1, 2),
    span AS (SELECT MIN(d) AS d0, MAX(d) AS d1 FROM daily),
    series AS (
      SELECT gs.g, sp.d0 + u.i AS d, COALESCE(daily.c, 0) AS c
      FROM (SELECT DISTINCT g FROM daily) gs
      CROSS JOIN span sp
      CROSS JOIN unnest(range(0, sp.d1 - sp.d0 + 1)) AS u(i)
      LEFT JOIN daily ON daily.g = gs.g AND daily.d = sp.d0 + u.i),
    lagk AS (SELECT unnest([1, 7]) AS k),
    p AS (SELECT x.g, lagk.k, x.c AS cx, y.c AS cy
          FROM series x CROSS JOIN lagk
          JOIN series y ON y.g = x.g AND y.d = x.d + lagk.k),
    st AS (SELECT g, k, COUNT(*) AS n,
                  CAST(SUM(cx) AS BIGINT) AS sx, CAST(SUM(cy) AS BIGINT) AS sy,
                  CAST(SUM(cx*cx) AS BIGINT) AS sxx,
                  CAST(SUM(cy*cy) AS BIGINT) AS syy,
                  CAST(SUM(cx*cy) AS BIGINT) AS sxy
           FROM p GROUP BY 1, 2)
    SELECT g, CAST(k AS INT) AS lag, CAST(n AS BIGINT) AS n,
           CASE WHEN n*sxx - sx*sx > 0 AND n*syy - sy*sy > 0 THEN
             CAST(n*sxy - sx*sy AS DOUBLE) /
             sqrt(CAST(n*sxx - sx*sx AS DOUBLE) *
                  CAST(n*syy - sy*sy AS DOUBLE))
           END AS acf
    FROM st"""

  // --- q180_benford: first-significant-digit fraud/anomaly screen ---------
  /** Benford's-law screen over a money-like column: the first significant
    * digit of naturally-occurring amounts follows `log10(1 + 1/d)`, and a
    * synthesized or tampered feed (or a generator bug in a data vendor's
    * pipeline) shows up as a flat or spiked digit histogram. Output is
    * one row per digit with the observed share, the Benford expectation,
    * and their signed deviation.
    *
    * Cross-engine exactness: the value is integer-ized to cents first
    * (`ROUND(v·100)` — the q115 discipline), the digit is the first
    * character of the INTEGER's decimal string (never a float `log10`
    * whose boundary could flip a digit), shares are ratio6, the
    * expectations are shared 6-dp literals, and the deviation is one IEEE
    * subtraction of identical operands. One scan, one 9-group hash
    * aggregate: nothing here notices 100 TB beyond the scan. */
  def benfordScreen(df: DataFrame, value: String): DataFrame = {
    val expected = Map(1 -> 0.301030, 2 -> 0.176091, 3 -> 0.124939,
      4 -> 0.096910, 5 -> 0.079181, 6 -> 0.066947, 7 -> 0.057992,
      8 -> 0.051153, 9 -> 0.045757)
    val expectedCase = (1 to 9).map(d =>
      s"WHEN $d THEN CAST(${expected(d)} AS DOUBLE)").mkString(" ")
    val digits = df
      .select(expr(s"CAST(ROUND(($value) * 100) AS BIGINT)").as("cents"))
      .filter(col("cents") > 0)
      .select(substring(col("cents").cast("string"), 1, 1).cast("int")
        .as("digit"))
    val counts = digits.groupBy(col("digit")).agg(count(lit(1)).as("n"))
    val total = counts.agg(sum(col("n")).as("t"))
    // bcast-ok: total is a 1-row aggregate
    counts.crossJoin(broadcast(total))
      .select(col("digit"), col("n").cast("long").as("n"),
        graft.ops.Relational.ratio6("n", "t").as("share6"),
        expr(s"CASE digit $expectedCase END").as("benford6"))
      .withColumn("dev", col("share6") - col("benford6"))
  }

  def q180Benford(spark: SparkSession, dir: String): DataFrame =
    benfordScreen(graft.Tables.events(spark, dir), "value")

  val q180BenfordSql: String = s"""
    WITH d AS (
      SELECT CAST(substring(CAST(CAST(ROUND(value * 100) AS BIGINT)
                                 AS VARCHAR), 1, 1) AS INT) AS digit
      FROM events WHERE CAST(ROUND(value * 100) AS BIGINT) > 0),
    c AS (SELECT digit, COUNT(*) AS n FROM d GROUP BY digit),
    t AS (SELECT CAST(SUM(n) AS BIGINT) AS t FROM c)
    SELECT digit, CAST(n AS BIGINT) AS n,
           ${graft.ops.Relational.ratio6Sql("n", "t")} AS share6,
           CASE digit WHEN 1 THEN CAST(0.301030 AS DOUBLE)
                      WHEN 2 THEN CAST(0.176091 AS DOUBLE)
                      WHEN 3 THEN CAST(0.124939 AS DOUBLE)
                      WHEN 4 THEN CAST(0.096910 AS DOUBLE)
                      WHEN 5 THEN CAST(0.079181 AS DOUBLE)
                      WHEN 6 THEN CAST(0.066947 AS DOUBLE)
                      WHEN 7 THEN CAST(0.057992 AS DOUBLE)
                      WHEN 8 THEN CAST(0.051153 AS DOUBLE)
                      WHEN 9 THEN CAST(0.045757 AS DOUBLE) END AS benford6,
           ${graft.ops.Relational.ratio6Sql("n", "t")} -
             CASE digit WHEN 1 THEN CAST(0.301030 AS DOUBLE)
                        WHEN 2 THEN CAST(0.176091 AS DOUBLE)
                        WHEN 3 THEN CAST(0.124939 AS DOUBLE)
                        WHEN 4 THEN CAST(0.096910 AS DOUBLE)
                        WHEN 5 THEN CAST(0.079181 AS DOUBLE)
                        WHEN 6 THEN CAST(0.066947 AS DOUBLE)
                        WHEN 7 THEN CAST(0.057992 AS DOUBLE)
                        WHEN 8 THEN CAST(0.051153 AS DOUBLE)
                        WHEN 9 THEN CAST(0.045757 AS DOUBLE) END AS dev
    FROM c CROSS JOIN t"""

  // --- q182_k_anonymity: quasi-identifier re-identification audit ---------
  /** k-anonymity audit over a quasi-identifier combination: every
    * equivalence class (all rows sharing the quasi values) with fewer
    * than k members is a re-identification risk — the privacy check a
    * training-data release runs BEFORE publishing, next to the q66 PII
    * scrub (scrubbing direct identifiers does nothing about a (lang,
    * source, ...) combination that singles a record out). Reports every
    * class with its size, the at-risk flag, and the worst-case
    * re-identification probability 1/n as an exact 6-dp ratio.
    *
    * One hash aggregate with map-side partials over |classes| groups —
    * the audit is a wordcount no matter the corpus size. */
  def kAnonymityAudit(df: DataFrame, quasi: Seq[String], k: Int): DataFrame = {
    require(quasi.nonEmpty, "kAnonymityAudit: no quasi-identifier columns")
    df.groupBy(quasi.map(col): _*)
      .agg(count(lit(1)).as("n"))
      .select(quasi.map(col) ++ Seq(col("n").cast("long").as("n"),
        (col("n") < k).as("at_risk"),
        graft.ops.Relational.ratio6("1", "n").as("reident_risk6")): _*)
  }

  def q182KAnonymity(spark: SparkSession, dir: String): DataFrame =
    kAnonymityAudit(graft.Tables.documents(spark, dir),
      Seq("lang", "source"), k = 10)

  val q182KAnonymitySql: String = s"""
    SELECT lang, source, COUNT(*) AS n,
           COUNT(*) < 10 AS at_risk,
           ${graft.ops.Relational.ratio6Sql("1", "COUNT(*)")}
             AS reident_risk6
    FROM documents GROUP BY lang, source"""

  // --- q184_cuped: variance-reduced experiment readout --------------------
  /** CUPED (Controlled-experiment Using Pre-Experiment Data): adjust each
    * variant's experiment-period metric by its pre-period covariate —
    * `Ŷ = Y − θ·(X − E[X])` with `θ = cov(X,Y)/var(X)` — the standard
    * variance-reduction that lets an A/B test reach significance on a
    * fraction of the traffic. Per-user X (pre-period activity) and Y
    * (experiment-period activity) are exact integer counts; θ and the
    * adjusted means come out of ONE pooled sufficient-statistics row.
    *
    * Cross-engine exactness: never average per-user adjusted doubles (the
    * sum order would differ) — algebra first:
    * `mean(Ŷ|v) = Σy_v/n_v − θ·(Σx_v/n_v − Σx/n)`, every operand an exact
    * BIGINT, every division/multiply one IEEE op both engines evaluate
    * identically on identical inputs. θ NULL when var(X) = 0.
    *
    * Scale shape: events collapse to per-user (x, y) in one map-side-
    * partial shuffle; pooled stats and the per-variant rollup are
    * broadcast-sized. The experiment readout is a wordcount. */
  def cupedReadout(events: DataFrame, key: String, ts: String,
                   cutoverDay: Int, variants: Int = 2): DataFrame = {
    val per = events.select(col(key).as("u"),
        datediff(date_trunc("day", col(ts)),
          to_date(lit("2024-01-01"))).as("d"))
      .groupBy(col("u"))
      .agg(sum(when(col("d") < cutoverDay, 1L).otherwise(0L)).as("x"),
        sum(when(col("d") >= cutoverDay, 1L).otherwise(0L)).as("y"))
      .withColumn("variant", pmod(col("u"), lit(variants)).cast("int"))
    val pooled = per.agg(count(lit(1)).as("n"),
      sum(col("x")).as("sx"), sum(col("y")).as("sy"),
      sum(col("x") * col("x")).as("sxx"), sum(col("x") * col("y")).as("sxy"))
    val theta = when(col("n") * col("sxx") - col("sx") * col("sx") > 0,
      (col("n") * col("sxy") - col("sx") * col("sy")).cast("double") /
        (col("n") * col("sxx") - col("sx") * col("sx")).cast("double"))
    per.groupBy(col("variant"))
      .agg(count(lit(1)).as("nv"),
        sum(col("x")).as("sxv"), sum(col("y")).as("syv"))
      // bcast-ok: pooled is a 1-row aggregate
      .crossJoin(broadcast(pooled))
      .select(col("variant"), col("nv").cast("long").as("n_users"),
        (col("syv").cast("double") / col("nv").cast("double")).as("mean_y"),
        theta.as("theta"),
        (col("syv").cast("double") / col("nv").cast("double") -
          theta * (col("sxv").cast("double") / col("nv").cast("double") -
            col("sx").cast("double") / col("n").cast("double")))
          .as("mean_y_cuped"))
  }

  def q184Cuped(spark: SparkSession, dir: String): DataFrame =
    cupedReadout(graft.Tables.events(spark, dir), "user_id", "ts",
      cutoverDay = 15)

  val q184CupedSql: String = """
    WITH per AS (
      SELECT user_id AS u,
             CAST(SUM(CASE WHEN datediff('day', DATE '2024-01-01',
                             date_trunc('day', CAST(ts AS TIMESTAMP))) < 15
                           THEN 1 ELSE 0 END) AS BIGINT) AS x,
             CAST(SUM(CASE WHEN datediff('day', DATE '2024-01-01',
                             date_trunc('day', CAST(ts AS TIMESTAMP))) >= 15
                           THEN 1 ELSE 0 END) AS BIGINT) AS y
      FROM events GROUP BY user_id),
    pv AS (SELECT u, x, y, CAST(u % 2 AS INT) AS variant FROM per),
    pooled AS (SELECT COUNT(*) AS n,
                      CAST(SUM(x) AS BIGINT) AS sx,
                      CAST(SUM(y) AS BIGINT) AS sy,
                      CAST(SUM(x*x) AS BIGINT) AS sxx,
                      CAST(SUM(x*y) AS BIGINT) AS sxy
               FROM pv),
    v AS (SELECT variant, COUNT(*) AS nv,
                 CAST(SUM(x) AS BIGINT) AS sxv,
                 CAST(SUM(y) AS BIGINT) AS syv
          FROM pv GROUP BY variant)
    SELECT variant, CAST(nv AS BIGINT) AS n_users,
           CAST(syv AS DOUBLE) / CAST(nv AS DOUBLE) AS mean_y,
           CASE WHEN n*sxx - sx*sx > 0 THEN
             CAST(n*sxy - sx*sy AS DOUBLE) / CAST(n*sxx - sx*sx AS DOUBLE)
           END AS theta,
           CAST(syv AS DOUBLE) / CAST(nv AS DOUBLE) -
             (CASE WHEN n*sxx - sx*sx > 0 THEN
                CAST(n*sxy - sx*sy AS DOUBLE) / CAST(n*sxx - sx*sx AS DOUBLE)
              END) *
             (CAST(sxv AS DOUBLE) / CAST(nv AS DOUBLE) -
              CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)) AS mean_y_cuped
    FROM v CROSS JOIN pooled"""

  // --- q170_mad: median absolute deviation per group ----------------------
  /** Robust dispersion: the LOWER-median (k = (n+1) div 2-th order
    * statistic — integer-exact, no interpolation, documented choice) of
    * `|x − median|` per group. Completes the robust trio — q163 fences,
    * q166 trend, this the spread — for outlier flagging at `k·MAD`
    * without a stddev a single spike can inflate.
    *
    * Two rounds of the same distinct-value cumulative discipline: one to
    * find each group's median, one over the re-aggregated deviation
    * values; the value-count frames are all the shuffles ever carry.
    * Everything BIGINT. */
  def madPerGroup(df: DataFrame, group: String, value: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("g")).orderBy(col("x"))
    def kth(counts: DataFrame): DataFrame = {
      val cum = counts.withColumn("cum", sum(col("c")).over(w))
      val sizes = cum.groupBy(col("g")).agg(max(col("cum")).as("n"))
      // bcast-ok: sizes is one row per group — categorical grouping contract
      cum.join(broadcast(sizes), Seq("g"))
        .groupBy(col("g"), col("n"))
        .agg(min(when(col("cum") >= expr("(n + 1) div 2"), col("x")))
          .as("med"))
    }
    val counts = graft.CacheRegistry.persist(
      df.select(col(group).as("g"), col(value).as("x"))
        .groupBy(col("g"), col("x")).agg(count(lit(1)).as("c")))
    val med = kth(counts)
    // bcast-ok: med is one row per group — categorical grouping contract
    val devCounts = counts.join(broadcast(med.select(col("g"), col("med"))),
        Seq("g"))
      .groupBy(col("g"), abs(col("x") - col("med")).as("x"))
      .agg(sum(col("c")).as("c"))
    kth(devCounts)
      .select(col("g"), col("n").cast("long").as("n"),
        col("med").cast("long").as("mad"))
      .join(med.select(col("g"), col("med").cast("long").as("median")),
        Seq("g"))
      .select(col("g"), col("n"), col("median"), col("mad"))
  }

  def q170Mad(spark: SparkSession, dir: String): DataFrame =
    madPerGroup(graft.Tables.documents(spark, dir), "lang", "n_chars")

  val q170MadSql: String = """
    WITH c AS (SELECT lang AS g, n_chars AS x, COUNT(*) AS c
               FROM documents GROUP BY 1, 2),
    cm AS (SELECT g, x, c, SUM(c) OVER (PARTITION BY g ORDER BY x) AS cum
           FROM c),
    s AS (SELECT g, MAX(cum) AS n FROM cm GROUP BY g),
    med AS (SELECT cm.g, s.n,
                   MIN(CASE WHEN cum >= (n + 1) // 2 THEN x END) AS med
            FROM cm JOIN s USING (g) GROUP BY cm.g, s.n),
    dc AS (SELECT c.g, abs(c.x - m.med) AS x, SUM(c.c) AS c
           FROM c JOIN med m ON m.g = c.g GROUP BY 1, 2),
    dcm AS (SELECT g, x, c, SUM(c) OVER (PARTITION BY g ORDER BY x) AS cum
            FROM dc),
    mad AS (SELECT dcm.g, s.n,
                   MIN(CASE WHEN cum >= (n + 1) // 2 THEN x END) AS mad
            FROM dcm JOIN s USING (g) GROUP BY dcm.g, s.n)
    SELECT mad.g, CAST(mad.n AS BIGINT) AS n,
           CAST(med.med AS BIGINT) AS median, CAST(mad.mad AS BIGINT) AS mad
    FROM mad JOIN med ON med.g = mad.g"""

  // --- q172_skew_report: join-key skew advisory ---------------------------
  /** The pre-join skew check as a first-class operator — what this
    * library's own skew audits did by hand: for a prospective
    * join/groupBy key, report cardinality, the heaviest key's share, the
    * Gini of the key-count distribution (q162's exact rank identity over
    * the counts-of-counts frame), and a RECOMMENDED SALT FACTOR
    * `⌈top1 / ⌈rows/partitions⌉⌉` — how many ways the hottest key must
    * split so no single task owns more than an even partition's worth.
    * All integers until the two ratio6 digits.
    *
    * Scale shape: one key-count shuffle (map-side partial), then every
    * frame is key-cardinality- or distinct-count-sized; the advisory row
    * is a broadcast-combined single row. */
  def skewReport(df: DataFrame, keyCol: Column,
                 partitions: Int = 32): DataFrame = {
    val counts = graft.CacheRegistry.persist(
      df.groupBy(keyCol.as("k")).agg(count(lit(1)).as("c")))
    val cc = counts.groupBy(col("c").as("x")).agg(count(lit(1)).as("cnt"))
    val gini = graft.ops.Windows.rangePrefixSum(cc, "x", "cnt", "ccum")
      .withColumn("below", col("ccum") - col("cnt"))
      .agg(sum(col("x") * (col("cnt") * col("below") +
        expr("cnt * (cnt + 1) div 2"))).as("ix"))
    val tot = counts.agg(sum(col("c")).as("n_rows"),
      count(lit(1)).as("n_keys"), max(col("c")).as("top1_count"))
    // bcast-ok: gini is a 1-row aggregate
    tot.crossJoin(broadcast(gini))
      .select(col("n_rows").cast("long").as("n_rows"),
        col("n_keys").cast("long").as("n_keys"),
        col("top1_count").cast("long").as("top1_count"),
        graft.ops.Relational.ratio6("top1_count", "n_rows").as("top1_share6"),
        graft.ops.Relational.ratio6(
          "2 * ix - (n_keys + 1) * n_rows", "n_keys * n_rows").as("gini6"),
        expr(s"""CAST((top1_count + ((n_rows + ${partitions - 1}) div
          $partitions) - 1) div ((n_rows + ${partitions - 1}) div
          $partitions) AS INT)""").as("salt_factor"))
  }

  def q172SkewReport(spark: SparkSession, dir: String): DataFrame =
    skewReport(graft.Tables.events(spark, dir), col("event_type"))

  val q172SkewReportSql: String = s"""
    WITH c AS (SELECT event_type AS k, COUNT(*) AS c
               FROM events GROUP BY 1),
    cc AS (SELECT c AS x, COUNT(*) AS cnt FROM c GROUP BY 1),
    r AS (SELECT x, cnt,
                 SUM(cnt) OVER (ORDER BY x) - cnt AS below
          FROM cc),
    g AS (SELECT SUM(x * (cnt * below + cnt * (cnt + 1) // 2)) AS ix FROM r),
    t AS (SELECT SUM(c) AS n_rows, COUNT(*) AS n_keys,
                 MAX(c) AS top1_count
          FROM c)
    SELECT CAST(n_rows AS BIGINT) AS n_rows,
           CAST(n_keys AS BIGINT) AS n_keys,
           CAST(top1_count AS BIGINT) AS top1_count,
           ${graft.ops.Relational.ratio6Sql("top1_count", "n_rows")}
             AS top1_share6,
           ${graft.ops.Relational.ratio6Sql(
             "2 * ix - (n_keys + 1) * n_rows", "n_keys * n_rows")} AS gini6,
           CAST((top1_count + ((n_rows + 31) // 32) - 1)
                // ((n_rows + 31) // 32) AS INT) AS salt_factor
    FROM t, g"""

  // --- q142_diversity: Simpson token-diversity per source -----------------
  /** Per-source lexical diversity via the Simpson homogeneity index
    * `D = Σ nᵢ(nᵢ−1) / (N(N−1))` — the probability two tokens drawn
    * without replacement are the same type. A source whose D spikes
    * between crawls has collapsed onto a template (bot spam, boilerplate
    * flood) — the mixture-health counterpart of q122's OOV drift. Simpson
    * is chosen over Shannon entropy DELIBERATELY: entropy needs `ln`
    * (not IEEE-correctly-rounded, diverges between engines) while D is an
    * exact rational — per-type products carried as DECIMAL(19,0)², the
    * sum as DECIMAL(38,0), and one [[graft.ops.Relational.decRatio6]]
    * half-up 6-dp quotient.
    *
    * Scale shape: one `(source, token)` wordcount shuffle with map-side
    * partial, one source-sized re-agg — no joins, no windows; output rows
    * = |sources|. BIGINT headroom: the denominator `N(N−1)` overflows
    * BIGINT past ~3·10⁹ tokens per source; at that scale swap it to the
    * DECIMAL(38,0) form (the numerator already carries ~10³⁸). */
  def simpsonDiversity(df: DataFrame, group: String, item: Column): DataFrame =
    df.select(col(group), item.as("w"))
      .groupBy(col(group), col("w")).agg(count(lit(1)).as("n"))
      .groupBy(col(group))
      .agg(sum(col("n")).cast("long").as("n_tokens"),
        count(lit(1)).cast("long").as("n_types"),
        sum(expr("CAST(n AS DECIMAL(19,0)) * CAST(n - 1 AS DECIMAL(19,0))"))
          .as("num"))
      .filter(col("n_tokens") > 1)
      .select(col(group), col("n_tokens"), col("n_types"),
        graft.ops.Relational.decRatio6("num", "n_tokens * (n_tokens - 1)")
          .as("simpson6"))

  def q142Diversity(spark: SparkSession, dir: String): DataFrame =
    simpsonDiversity(
      graft.Tables.documents(spark, dir)
        .select(col("source"),
          explode(split(lower(trim(col("text"))), "\\s+")).as("w"))
        .filter(col("w") =!= ""),
      "source", col("w"))

  val q142DiversitySql: String = raw"""
    WITH tok AS (
      SELECT source,
             unnest(string_split_regex(lower(trim(text)), '\s+')) AS w
      FROM documents),
    ty AS (SELECT source, w, COUNT(*) AS n FROM tok
           WHERE w <> '' GROUP BY source, w),
    ag AS (SELECT source, SUM(n) AS n_tokens, COUNT(*) AS n_types,
                  SUM(CAST(n AS DECIMAL(19,0)) *
                      CAST(n - 1 AS DECIMAL(19,0))) AS num
           FROM ty GROUP BY source)
    SELECT source, CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(n_types AS BIGINT) AS n_types,
           ${graft.ops.Relational.decRatio6Sql(
      "num", "n_tokens * (n_tokens - 1)")} AS simpson6
    FROM ag WHERE n_tokens > 1"""

  // --- q144_ks_drift: two-sample Kolmogorov–Smirnov distance --------------
  /** Numeric-distribution drift: the two-sample KS statistic
    * `D = max_x |F_a(x) − F_b(x)|` for every pair of groups — the
    * continuous companion of q138's categorical chi-square (chi2 sees a
    * shifted histogram only after binning; KS sees any CDF divergence).
    * Cleared of fractions exactly: `D·n_a·n_b = max |c_a(x)·n_b −
    * c_b(x)·n_a|` over the merged value set, all BIGINT, finished by one
    * [[graft.ops.Relational.ratio6]] — no floats until the last digit-
    * pinned division.
    *
    * Scale shape: one `(group, value)` count shuffle, a ±delta union
    * re-agg, and a cumulative window PARTITIONED BY PAIR over distinct
    * values — bounded by value cardinality per pair, never corpus rows;
    * group sizes broadcast. Pair fan-out is |groups|² merged-value
    * frames: the pairwise form is for tens of cohorts (langs, crawls) —
    * for hundreds, fix one side as the reference corpus. BIGINT
    * headroom: `c·n` — exact to ~3·10⁹-row groups, DECIMAL swap past. */
  def ksPairs(df: DataFrame, group: String, value: String): DataFrame = {
    val counts = graft.CacheRegistry.persist(
      df.select(col(group).as("g"), col(value).as("x"))
        .groupBy(col("g"), col("x")).agg(count(lit(1)).as("c")))
    val sizes = counts.groupBy(col("g")).agg(sum(col("c")).as("n"))
    val pairs = sizes.select(col("g").as("ga"), col("n").as("na"))
      .join(sizes.select(col("g").as("gb"), col("n").as("nb")),
        col("ga") < col("gb"))
    val deltas = counts
      // bcast-ok: group-pair frame — categorical squared, not data-scaled
      .join(broadcast(pairs.select("ga", "gb")), col("g") === col("ga"))
      .select(col("ga"), col("gb"), col("x"),
        col("c").as("dca"), lit(0L).as("dcb"))
      .unionByName(counts
        // bcast-ok: group-pair frame — categorical squared, not data-scaled
        .join(broadcast(pairs.select("ga", "gb")), col("g") === col("gb"))
        .select(col("ga"), col("gb"), col("x"),
          lit(0L).as("dca"), col("c").as("dcb")))
      .groupBy(col("ga"), col("gb"), col("x"))
      .agg(sum(col("dca")).as("dca"), sum(col("dcb")).as("dcb"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("ga"), col("gb")).orderBy(col("x"))
    deltas
      .withColumn("ca", sum(col("dca")).over(w))
      .withColumn("cb", sum(col("dcb")).over(w))
      // bcast-ok: group-pair frame — categorical squared, not data-scaled
      .join(broadcast(pairs), Seq("ga", "gb"))
      .groupBy(col("ga"), col("gb"), col("na"), col("nb"))
      .agg(max(abs(col("ca") * col("nb") - col("cb") * col("na")))
        .as("dnum"))
      .select(col("ga"), col("gb"),
        col("na").cast("long").as("na"), col("nb").cast("long").as("nb"),
        graft.ops.Relational.ratio6("dnum", "na * nb").as("ks6"))
  }

  def q144KsDrift(spark: SparkSession, dir: String): DataFrame =
    ksPairs(graft.Tables.documents(spark, dir), "lang", "n_chars")

  // --- q159_mannwhitney: two-sample rank-sum drift test -------------------
  /** Mann–Whitney U (Wilcoxon rank-sum) for every group pair — the
    * LOCATION-shift companion of q144's KS: KS reacts to any CDF
    * divergence, U asks specifically "does one cohort's metric run
    * systematically higher?", with a tie-corrected normal z. The standard
    * pre-/post-crawl quality-metric gate.
    *
    * Rank arithmetic never touches a float: with ranks doubled, the
    * tie-averaged rank of value x is the INTEGER `2·below(x) + t(x) + 1`
    * (below = combined count of strictly smaller values, t = x's tie
    * group), so the doubled rank sum `R2 = Σ dca·(2·below + t + 1)`, the
    * doubled statistic `U2 = R2 − na(na+1)`, and the tie term
    * `T = Σ(t³−t)` are all exact BIGINTs. Only the final z divides into
    * doubles — one fixed expression tree both engines evaluate
    * identically, then ROUND(6) (irrational √ ⇒ no 6-dp boundary, the
    * q37 stddev argument). BIGINT headroom: R2 ~ c·n², exact to ~10⁹-row
    * pairs — the q144 DECIMAL-swap note applies.
    *
    * Scale shape: identical to [[ksPairs]] — one (group, value) count
    * shuffle, a ±delta union re-agg, a cumulative window partitioned by
    * PAIR over distinct values (value-cardinality-bounded, never corpus
    * rows), sizes broadcast. */
  def mannWhitneyPairs(df: DataFrame, group: String, value: String): DataFrame = {
    val counts = graft.CacheRegistry.persist(
      df.select(col(group).as("g"), col(value).as("x"))
        .groupBy(col("g"), col("x")).agg(count(lit(1)).as("c")))
    val sizes = counts.groupBy(col("g")).agg(sum(col("c")).as("n"))
    val pairs = sizes.select(col("g").as("ga"), col("n").as("na"))
      .join(sizes.select(col("g").as("gb"), col("n").as("nb")),
        col("ga") < col("gb"))
    val deltas = counts
      // bcast-ok: group-pair frame — categorical squared, not data-scaled
      .join(broadcast(pairs.select("ga", "gb")), col("g") === col("ga"))
      .select(col("ga"), col("gb"), col("x"),
        col("c").as("dca"), lit(0L).as("dcb"))
      .unionByName(counts
        // bcast-ok: group-pair frame — categorical squared, not data-scaled
        .join(broadcast(pairs.select("ga", "gb")), col("g") === col("gb"))
        .select(col("ga"), col("gb"), col("x"),
          lit(0L).as("dca"), col("c").as("dcb")))
      .groupBy(col("ga"), col("gb"), col("x"))
      .agg(sum(col("dca")).as("dca"), sum(col("dcb")).as("dcb"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("ga"), col("gb")).orderBy(col("x"))
    val t = col("dca") + col("dcb")
    val below = sum(col("dca")).over(w) + sum(col("dcb")).over(w) - t
    val stats = deltas
      .select(col("ga"), col("gb"), col("dca"),
        t.as("t"), below.as("below"))
      .groupBy(col("ga"), col("gb"))
      .agg(sum(col("dca") * (lit(2L) * col("below") + col("t") + 1L))
          .as("r2"),
        sum(col("t") * col("t") * col("t") - col("t")).as("tie"))
    val n = col("na") + col("nb")
    val u2 = col("r2") - col("na") * (col("na") + 1L)
    val varU = col("na").cast("double") * col("nb") *
      ((n + 1L) - col("tie").cast("double") / (n * (n - 1L))) / 12.0
    // bcast-ok: group-pair frame — categorical squared, not data-scaled
    stats.join(broadcast(pairs), Seq("ga", "gb"))
      .select(col("ga"), col("gb"),
        col("na").cast("long").as("na"), col("nb").cast("long").as("nb"),
        (u2.cast("double") / 2.0).as("u"),
        round(when(varU > 0,
            (u2 - col("na") * col("nb")).cast("double") /
              (lit(2.0) * sqrt(varU))), 6).as("z6"))
  }

  def q159MannWhitney(spark: SparkSession, dir: String): DataFrame =
    mannWhitneyPairs(graft.Tables.documents(spark, dir), "lang", "n_chars")

  val q159MannWhitneySql: String = s"""
    WITH c AS (SELECT lang AS g, n_chars AS x, COUNT(*) AS c
               FROM documents GROUP BY 1, 2),
    s AS (SELECT g, SUM(c) AS n FROM c GROUP BY g),
    pr AS (SELECT a.g AS ga, a.n AS na, b.g AS gb, b.n AS nb
           FROM s a JOIN s b ON a.g < b.g),
    m AS (SELECT ga, gb, x, SUM(dca) AS dca, SUM(dcb) AS dcb FROM (
            SELECT pr.ga, pr.gb, c.x, c.c AS dca, 0 AS dcb
            FROM c JOIN pr ON c.g = pr.ga
            UNION ALL
            SELECT pr.ga, pr.gb, c.x, 0, c.c
            FROM c JOIN pr ON c.g = pr.gb) u
          GROUP BY ga, gb, x),
    cum AS (SELECT ga, gb, dca, dca + dcb AS t,
                   SUM(dca) OVER (PARTITION BY ga, gb ORDER BY x)
                   + SUM(dcb) OVER (PARTITION BY ga, gb ORDER BY x)
                   - (dca + dcb) AS below
            FROM m),
    st AS (SELECT ga, gb,
                  SUM(dca * (2 * below + t + 1)) AS r2,
                  SUM(t * t * t - t) AS tie
           FROM cum GROUP BY ga, gb)
    SELECT st.ga, st.gb,
           CAST(na AS BIGINT) AS na, CAST(nb AS BIGINT) AS nb,
           CAST(r2 - na * (na + 1) AS DOUBLE) / 2.0 AS u,
           ROUND(CASE WHEN CAST(na AS DOUBLE) * nb *
                      ((na + nb + 1) - CAST(tie AS DOUBLE)
                        / ((na + nb) * (na + nb - 1))) / 12.0 > 0
             THEN CAST(r2 - na * (na + 1) - na * nb AS DOUBLE) /
                  (2.0 * sqrt(CAST(na AS DOUBLE) * nb *
                    ((na + nb + 1) - CAST(tie AS DOUBLE)
                      / ((na + nb) * (na + nb - 1))) / 12.0))
             END, 6) AS z6
    FROM st JOIN pr ON pr.ga = st.ga AND pr.gb = st.gb"""

  val q144KsDriftSql: String = s"""
    WITH c AS (SELECT lang AS g, n_chars AS x, COUNT(*) AS c
               FROM documents GROUP BY 1, 2),
    s AS (SELECT g, SUM(c) AS n FROM c GROUP BY g),
    pr AS (SELECT a.g AS ga, a.n AS na, b.g AS gb, b.n AS nb
           FROM s a JOIN s b ON a.g < b.g),
    m AS (SELECT ga, gb, x, SUM(dca) AS dca, SUM(dcb) AS dcb FROM (
            SELECT pr.ga, pr.gb, c.x, c.c AS dca, 0 AS dcb
            FROM c JOIN pr ON c.g = pr.ga
            UNION ALL
            SELECT pr.ga, pr.gb, c.x, 0, c.c
            FROM c JOIN pr ON c.g = pr.gb) u
          GROUP BY ga, gb, x),
    cum AS (SELECT ga, gb, x,
                   SUM(dca) OVER (PARTITION BY ga, gb ORDER BY x) AS ca,
                   SUM(dcb) OVER (PARTITION BY ga, gb ORDER BY x) AS cb
            FROM m),
    d AS (SELECT cum.ga, cum.gb, pr.na, pr.nb,
                 MAX(abs(ca * nb - cb * na)) AS dnum
          FROM cum JOIN pr ON pr.ga = cum.ga AND pr.gb = cum.gb
          GROUP BY cum.ga, cum.gb, pr.na, pr.nb)
    SELECT ga, gb, CAST(na AS BIGINT) AS na, CAST(nb AS BIGINT) AS nb,
           ${graft.ops.Relational.ratio6Sql("dnum", "na * nb")} AS ks6
    FROM d"""

  // --- q270_correlations_atscale: the co-moment triangle at 2^20 rows -----
  /** At-scale correctness coverage for [[correlations]] — q115 runs over
    * the ~6k-row lineitem slice; this replays the SAME entry point over
    * 2²⁰ range-built rows in 4 groups with planted integer
    * relationships: x = j mod 1000, y = 2x + parity jitter (near-perfect
    * positive), z = 999 − x (EXACTLY affine-negative, so corr_x_z must
    * come out at the double closest to −1 in both engines). Values are
    * kept ≤ 2·10³ so every co-moment product stays far inside BIGINT
    * (n·Σxy ≈ 7·10¹⁶ — the headroom the operator's integer-first design
    * claims). The oracle emits the closed form: per-group sums computed
    * exactly in the oracle generator, then the IDENTICAL
    * double-division/sqrt op sequence, so the 12 correlation doubles are
    * bit-for-bit. What the gate holds closed at volume: one groupBy
    * computes all 10 co-moments map-side-partial — no second scan, no
    * window, no join. */
  private[graft] val q270Rows = 1L << 20

  private[graft] def q270Frame(spark: SparkSession,
                               rows: Long = q270Rows): DataFrame =
    spark.range(rows).select(
      pmod(col("id"), lit(4L)).as("g"),
      expr("(id div 4) % 1000").as("x"),
      expr("2 * ((id div 4) % 1000) + (id div 4 + id % 4) % 2").as("y"),
      expr("999 - (id div 4) % 1000").as("z"))

  def q270CorrelationsAtScale(spark: SparkSession, dir: String): DataFrame =
    q270CorrelationsAtScale0(spark, q270Rows)

  private[graft] def q270CorrelationsAtScale0(spark: SparkSession,
                                              rows: Long): DataFrame =
    correlations(q270Frame(spark, rows), "g", Seq(
      "x" -> col("x"), "y" -> col("y"), "z" -> col("z")))

  /** Closed-form oracle: replay the per-group sums exactly (driver-side
    * Long arithmetic over the generator's j-walk), then the operator's
    * own double op sequence — one division over one sqrt of a product —
    * so the emitted literals are the bit-identical doubles. */
  private[graft] def q270OracleSql(rows: Long = q270Rows): String = {
    val rowsOf = (g: Long) =>
      (0L until rows / 4).map { j =>
        val x = j % 1000
        (x, 2 * x + (j + g) % 2, 999 - x)
      }
    def corr(n: Long, sa: Long, sb: Long, saa: Long, sbb: Long,
             sab: Long): Double = {
      val covn = n * sab - sa * sb
      val vx = n * saa - sa * sa
      val vy = n * sbb - sb * sb
      covn.toDouble / math.sqrt(vx.toDouble * vy.toDouble)
    }
    (0L until 4L).map { g =>
      val rs = rowsOf(g)
      val n = rs.size.toLong
      val (sx, sy, sz) = (rs.map(_._1).sum, rs.map(_._2).sum, rs.map(_._3).sum)
      val sxx = rs.map(r => r._1 * r._1).sum
      val syy = rs.map(r => r._2 * r._2).sum
      val szz = rs.map(r => r._3 * r._3).sum
      val sxy = rs.map(r => r._1 * r._2).sum
      val sxz = rs.map(r => r._1 * r._3).sum
      val syz = rs.map(r => r._2 * r._3).sum
      val (cxy, cxz, cyz) = (corr(n, sx, sy, sxx, syy, sxy),
        corr(n, sx, sz, sxx, szz, sxz), corr(n, sy, sz, syy, szz, syz))
      s"""SELECT CAST($g AS BIGINT) AS g, CAST($n AS BIGINT) AS n,
            CAST('${cxy}' AS DOUBLE) AS corr_x_y,
            CAST('${cxz}' AS DOUBLE) AS corr_x_z,
            CAST('${cyz}' AS DOUBLE) AS corr_y_z"""
    }.mkString("\n    UNION ALL\n    ")
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q85_profile"      -> q85Profile _,
    "q243_profile_atscale" -> q243ProfileAtScale _,
    "q270_correlations_atscale" -> q270CorrelationsAtScale _,
    "q86_constraints"  -> q86Constraints _,
    "q115_correlations" -> q115Correlations _,
    "q121_ecdf"         -> q121Ecdf _,
    "q138_chi2"         -> q138Chi2 _,
    "q141_count_min"    -> q141CountMin _,
    "q216_cms_atscale"  -> q216CmsAtScale _,
    "q142_diversity"    -> q142Diversity _,
    "q144_ks_drift"     -> q144KsDrift _,
    "q159_mannwhitney"  -> q159MannWhitney _,
    "q161_join_size"    -> q161JoinSize _,
    "q162_gini"         -> q162Gini _,
    "q163_winsorize"    -> q163Winsorize _,
    "q166_theil_sen"    -> q166TheilSen _,
    "q176_acf"          -> q176Acf _,
    "q180_benford"      -> q180Benford _,
    "q182_k_anonymity"  -> q182KAnonymity _,
    "q184_cuped"        -> q184Cuped _,
    "q190_quantile_norm" -> q190QuantileNorm _,
    "q191_fd_audit"     -> q191FdAudit _,
    "q193_cusum"        -> q193Cusum _,
    "q170_mad"          -> q170Mad _,
    "q172_skew_report"  -> q172SkewReport _,
  )

  def oracles: Map[String, String] = Map(
    "q85_profile"      -> q85ProfileSql,
    "q243_profile_atscale" -> q243OracleSql(),
    "q270_correlations_atscale" -> q270OracleSql(),
    "q86_constraints"  -> q86ConstraintsSql,
    "q115_correlations" -> q115CorrelationsSql,
    "q121_ecdf"         -> q121EcdfSql,
    "q138_chi2"         -> q138Chi2Sql,
    "q141_count_min"    -> q141CountMinSql,
    "q216_cms_atscale"  -> q216OracleSql(),
    "q142_diversity"    -> q142DiversitySql,
    "q144_ks_drift"     -> q144KsDriftSql,
    "q159_mannwhitney"  -> q159MannWhitneySql,
    "q161_join_size"    -> q161JoinSizeSql,
    "q162_gini"         -> q162GiniSql,
    "q163_winsorize"    -> q163WinsorizeSql,
    "q166_theil_sen"    -> q166TheilSenSql,
    "q176_acf"          -> q176AcfSql,
    "q180_benford"      -> q180BenfordSql,
    "q182_k_anonymity"  -> q182KAnonymitySql,
    "q184_cuped"        -> q184CupedSql,
    "q190_quantile_norm" -> q190QuantileNormSql,
    "q191_fd_audit"     -> q191FdAuditSql,
    "q193_cusum"        -> q193CusumSql,
    "q170_mad"          -> q170MadSql,
    "q172_skew_report"  -> q172SkewReportSql,
  )
}
