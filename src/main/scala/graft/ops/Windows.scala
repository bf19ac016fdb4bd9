package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.Tables

/** Window functions. Absent in the reference (SURVEY.md §2.8) — its only
  * frame-like behavior is the secondary sort at partition flush
  * (`daemons/core/remap.py:132-139`). Windows subsume that idiom (per-group
  * ordering + rank) and are the scalable form of per-group top-k: one
  * shuffle on the partition key, no driver-side collection.
  */
object Windows {

  /** Scale-safe per-group top-k.
    *
    * A single `Window.partitionBy(group)` puts each group's ENTIRE row set on
    * one task for a full sort — with a low-cardinality group key (5 market
    * segments here) that is unbounded skew at 100×, and AQE cannot split a
    * window partition. Instead: phase 1 ranks within `(group, salt)` — `salts`
    * balanced partitions per group — and keeps k rows per salted partition;
    * phase 2 re-ranks the surviving ≤ k·salts rows per group. The final
    * result is identical to the naive single-window plan (row_number over the
    * same total order), but no task ever sorts more than ~|group|/salts rows.
    * The salt is derived from the tiebreak key, not `rand()`, so the plan
    * stays deterministic.
    */
  def perGroupTopK(df: DataFrame, group: Seq[Column], order: Seq[Column],
                   saltSrc: Column, k: Int, salts: Int = 64): DataFrame = {
    // the output claims `rn` and the intermediate claims `gtk_salt_rn`;
    // silently overwriting a caller column of either name would drop rows
    // by a ranking the caller never asked for
    require(!df.columns.contains("rn") && !df.columns.contains("gtk_salt_rn"),
      "perGroupTopK reserves the `rn` and `gtk_salt_rn` column names")
    val salted = Window.partitionBy(group :+ pmod(saltSrc, lit(salts)): _*)
      .orderBy(order: _*)
    val fin = Window.partitionBy(group: _*).orderBy(order: _*)
    df.withColumn("gtk_salt_rn", row_number().over(salted))
      .filter(col("gtk_salt_rn") <= k)
      .drop("gtk_salt_rn")
      .withColumn("rn", row_number().over(fin))
      .filter(col("rn") <= k)
  }

  /** Scale-safe global prefix sum — [[perGroupTopK]]'s sibling for the
    * other window-function trap: `sum(...) OVER (ORDER BY key)` with no
    * partition funnels the whole frame through ONE task. Callers here
    * always run it over a distinct-KEY frame (post-`groupBy` value
    * dictionaries: latencies, rarity scores, value counts), which is
    * smaller than the corpus but still GROWS with it — "the dictionary is
    * small" is a contract, not a law, and this removes the need for it.
    *
    * Plan: range-partition the frame by the key into `buckets` ordered
    * slices; an in-partition cumulative window (partitioned — never one
    * task); per-slice totals as `sum(valueCol)` grouped on the slice id of
    * the SAME partitioned frame (so slice ids cannot drift between the two
    * reads; a plain sum, not max of the running sum, so negative values —
    * deltas, signed adjustments — total correctly); an exclusive prefix
    * over the ≤ `buckets`-row totals frame; broadcast the offsets back. Output value = local cumsum +
    * slice offset — bit-identical to the one-task window at any
    * partitioning, since a prefix sum over distinct keys is
    * partition-independent.
    *
    * Contract: ONE ROW PER KEY (range boundaries may split equal keys
    * across slices, which would double-count a key's prefix) — every
    * call site feeds a `groupBy(key)` aggregate, which guarantees it.
    * Reserved column check mirrors [[perGroupTopK]]. */
  def rangePrefixSum(df: DataFrame, orderCol: String, valueCol: String,
                     out: String, buckets: Int = 256): DataFrame = {
    require(Seq("rps_pid", "rps_loc").forall(c => !df.columns.contains(c)),
      "rangePrefixSum reserves the `rps_pid` and `rps_loc` column names")
    val local = df.repartitionByRange(buckets, col(orderCol))
      .withColumn("rps_pid", spark_partition_id())
      .withColumn("rps_loc", sum(col(valueCol)).over(
        Window.partitionBy(col("rps_pid")).orderBy(col(orderCol))))
    val offs = local.groupBy(col("rps_pid"))
      .agg(sum(col(valueCol)).as("rps_n"))
      .withColumn("rps_off", coalesce(
        // window-ok: one row per range slice, ≤ `buckets` rows by construction
        sum(col("rps_n")).over(Window.orderBy(col("rps_pid"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L).cast("long")))
      .select(col("rps_pid"), col("rps_off"))
    // bcast-ok: offs is one row per range slice, ≤ `buckets` rows by construction
    local.join(broadcast(offs), "rps_pid")
      .withColumn(out, col("rps_loc") + col("rps_off"))
      .drop("rps_pid", "rps_loc")
  }

  // --- q9_window_topk: per-group top-k via the two-phase salted plan ------
  def q9WindowTopK(spark: SparkSession, dir: String): DataFrame =
    perGroupTopK(
      Tables.customer(spark, dir),
      group = Seq(col("c_mktsegment")),
      order = Seq(col("c_acctbal").desc, col("c_custkey")),
      saltSrc = col("c_custkey"), k = 3)
      .select(col("c_mktsegment"), col("c_custkey"), col("c_acctbal"), col("rn"))

  val q9WindowTopKSql: String = """
    SELECT c_mktsegment, c_custkey, c_acctbal, rn FROM (
      SELECT c_mktsegment, c_custkey, c_acctbal,
             CAST(ROW_NUMBER() OVER (PARTITION BY c_mktsegment
                                ORDER BY c_acctbal DESC, c_custkey) AS INT) AS rn
      FROM customer) t
    WHERE rn <= 3"""

  // --- q10_window_running: running sum + lag over a deterministic order ---
  // The running sum goes through decimal so the prefix sums are exact and
  // engine-independent (same reasoning as Relational.dsum).
  def q10WindowRunning(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    Tables.orders(spark, dir)
      .withColumn("order_seq", row_number().over(w))
      .withColumn("run_spend",
        sum(col("o_totalprice").cast(DecimalType(28, 6)))
          .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
          .cast("double"))
      .withColumn("prev_price", lag(col("o_totalprice"), 1).over(w))
      .select(col("o_custkey"), col("o_orderkey"), col("order_seq"),
              col("run_spend"), col("prev_price"))
  }

  val q10WindowRunningSql: String = """
    SELECT o_custkey, o_orderkey,
      CAST(ROW_NUMBER() OVER w AS INT) AS order_seq,
      CAST(SUM(CAST(o_totalprice AS DECIMAL(28,6)))
           OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS run_spend,
      LAG(o_totalprice, 1) OVER w AS prev_price
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)"""

  // --- q11_window_rank: rank family over suppliers per nation -------------
  def q11WindowRank(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("s_nationkey"))
      .orderBy(col("s_acctbal").desc, col("s_suppkey"))
    Tables.supplier(spark, dir)
      .select(col("s_nationkey"), col("s_suppkey"), col("s_acctbal"),
        rank().over(w).as("rnk"),
        dense_rank().over(w).as("drnk"),
        ntile(4).over(w).as("quartile"))
  }

  val q11WindowRankSql: String = """
    SELECT s_nationkey, s_suppkey, s_acctbal,
      CAST(RANK() OVER w AS INT) AS rnk,
      CAST(DENSE_RANK() OVER w AS INT) AS drnk,
      CAST(NTILE(4) OVER w AS INT) AS quartile
    FROM supplier
    WINDOW w AS (PARTITION BY s_nationkey ORDER BY s_acctbal DESC, s_suppkey)"""

  // --- time-series resample + forward fill --------------------------------
  /** Resample an event stream to a fixed grid per key and forward-fill the
    * gaps — the feature-engineering primitive for per-entity time series
    * (a user's daily activity with silent days carried forward).
    *
    * Three steps, each scale-bounded: (1) bucket-aggregate the raw events
    * (map-side partial agg — the only pass over the full data); (2) build
    * each key's grid with `sequence(min, max, step)` + explode — grid size
    * is span/step per key, never data-sized; (3) left-join observations
    * onto the grid and forward-fill with `last(ignoreNulls)` over a
    * per-key ordered window — the window partition is ONE KEY'S GRID
    * (bounded by span/step), not a value column, so the q31/q35 hot-key
    * concentration cannot happen here. */
  def resampleFfill(events: DataFrame, key: String, ts: String,
                    value: String, unit: String = "day"): DataFrame = {
    // a NULL timestamp has no place on a time grid: its bucket would never
    // join the grid and the row would vanish, silently under-reporting
    // counts (the removeBoilerplate null-doc lesson). Fail loudly instead
    // — writeKvText's null-key precedent.
    val bucket = when(col(ts).isNull,
        raise_error(lit(s"resampleFfill: null timestamp in column $ts")))
      .otherwise(date_trunc(unit, col(ts)))
    val buckets = events
      .select(col(key), bucket.as("bucket"), col(value).as("v"))
      .groupBy(col(key), col("bucket"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("v").cast(DecimalType(28, 6))).cast("double").as("sum_v"))
    val grid = buckets.groupBy(col(key))
      .agg(min(col("bucket")).as("b0"), max(col("bucket")).as("b1"))
      .select(col(key),
        explode(sequence(col("b0"), col("b1"), expr(s"interval 1 $unit")))
          .as("bucket"))
    val w = Window.partitionBy(col(key)).orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grid.join(buckets, Seq(key, "bucket"), "left_outer")
      .select(col(key), col("bucket"),
        coalesce(col("n_events"), lit(0L)).as("n_events"),
        round(last(col("sum_v"), ignoreNulls = true).over(w), 6)
          .as("filled_v"))
  }

  // --- q83_resample: daily per-user activity, gaps forward-filled ---------
  def q83Resample(spark: SparkSession, dir: String): DataFrame =
    resampleFfill(Tables.events(spark, dir), "user_id", "ts", "value")

  val q83ResampleSql: String = """
    WITH b AS (
      SELECT user_id, date_trunc('day', CAST(ts AS TIMESTAMP)) AS bucket,
             COUNT(*) AS n_events,
             CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS sum_v
      FROM events GROUP BY 1, 2),
    span AS (SELECT user_id, MIN(bucket) AS b0, MAX(bucket) AS b1
             FROM b GROUP BY 1),
    grid AS (SELECT user_id, unnest(generate_series(b0, b1,
                      INTERVAL 1 DAY))::TIMESTAMP AS bucket
             FROM span)
    SELECT g.user_id, g.bucket,
           COALESCE(b.n_events, 0) AS n_events,
           ROUND(LAST_VALUE(b.sum_v IGNORE NULLS) OVER (
             PARTITION BY g.user_id ORDER BY g.bucket
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6)
             AS filled_v
    FROM grid g LEFT JOIN b ON b.user_id = g.user_id AND b.bucket = g.bucket"""

  // --- q164_interp_fill: resample with linear interpolation ---------------
  /** [[resampleFfill]]'s other fill policy: interior gaps take the LINEAR
    * interpolation between the surrounding observations — the right
    * semantics for sampled continuous signals (a sensor mean, a rate)
    * where carrying the last value forward fabricates a plateau. Grid and
    * bucket aggregation are q83's exactly; each gap row finds its
    * neighbors with four ignoreNulls window functions over the SAME
    * per-key ordered grid (one shuffle, one sort — Spark stacks all four
    * frames on one WindowExec pair), and the interpolation
    * `v0 + (v1 − v0) · (t − t0)/(t1 − t0)` is one fixed double tree over
    * decimal-exact endpoint sums and INTEGER epoch offsets, identical in
    * both engines (grid interior guarantees both neighbors exist; the
    * grid spans min..max observed, so edge rows are observations).
    *
    * Scale shape: identical to q83 — the window partition is one key's
    * grid (span/step-bounded), never a value column. */
  def resampleInterp(events: DataFrame, key: String, ts: String,
                     value: String, unit: String = "day"): DataFrame = {
    val bucket = when(col(ts).isNull,
        raise_error(lit(s"resampleInterp: null timestamp in column $ts")))
      .otherwise(date_trunc(unit, col(ts)))
    val buckets = events
      .select(col(key), bucket.as("bucket"), col(value).as("v"))
      .groupBy(col(key), col("bucket"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("v").cast(DecimalType(28, 6))).cast("double").as("sum_v"))
    val grid = buckets.groupBy(col(key))
      .agg(min(col("bucket")).as("b0"), max(col("bucket")).as("b1"))
      .select(col(key),
        explode(sequence(col("b0"), col("b1"), expr(s"interval 1 $unit")))
          .as("bucket"))
    val wPrev = Window.partitionBy(col(key)).orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wNext = Window.partitionBy(col(key)).orderBy(col("bucket"))
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val obsB = when(col("sum_v").isNotNull, col("bucket"))
    val t = unix_timestamp(col("bucket")).cast("double")
    val t0 = unix_timestamp(col("t0")).cast("double")
    val t1 = unix_timestamp(col("t1")).cast("double")
    grid.join(buckets, Seq(key, "bucket"), "left_outer")
      .select(col(key), col("bucket"), col("sum_v"),
        coalesce(col("n_events"), lit(0L)).as("n_events"),
        last(col("sum_v"), ignoreNulls = true).over(wPrev).as("v0"),
        last(obsB, ignoreNulls = true).over(wPrev).as("t0"),
        first(col("sum_v"), ignoreNulls = true).over(wNext).as("v1"),
        first(obsB, ignoreNulls = true).over(wNext).as("t1"))
      .select(col(key), col("bucket"), col("n_events"),
        round(coalesce(col("sum_v"),
          col("v0") + (col("v1") - col("v0")) * ((t - t0) / (t1 - t0))), 6)
          .as("v6"),
        col("sum_v").isNull.as("is_gap"))
  }

  def q164InterpFill(spark: SparkSession, dir: String): DataFrame =
    resampleInterp(Tables.events(spark, dir), "user_id", "ts", "value")

  val q164InterpFillSql: String = """
    WITH b AS (
      SELECT user_id, date_trunc('day', CAST(ts AS TIMESTAMP)) AS bucket,
             COUNT(*) AS n_events,
             CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS sum_v
      FROM events GROUP BY 1, 2),
    span AS (SELECT user_id, MIN(bucket) AS b0, MAX(bucket) AS b1
             FROM b GROUP BY 1),
    grid AS (SELECT user_id, unnest(generate_series(b0, b1,
                      INTERVAL 1 DAY))::TIMESTAMP AS bucket
             FROM span),
    j AS (SELECT g.user_id, g.bucket, b.sum_v,
                 COALESCE(b.n_events, 0) AS n_events,
                 LAST_VALUE(b.sum_v IGNORE NULLS) OVER wp AS v0,
                 LAST_VALUE(CASE WHEN b.sum_v IS NOT NULL THEN g.bucket END
                            IGNORE NULLS) OVER wp AS t0,
                 FIRST_VALUE(b.sum_v IGNORE NULLS) OVER wn AS v1,
                 FIRST_VALUE(CASE WHEN b.sum_v IS NOT NULL THEN g.bucket END
                             IGNORE NULLS) OVER wn AS t1
          FROM grid g LEFT JOIN b
            ON b.user_id = g.user_id AND b.bucket = g.bucket
          WINDOW wp AS (PARTITION BY g.user_id ORDER BY g.bucket
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                 wn AS (PARTITION BY g.user_id ORDER BY g.bucket
                        ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
    SELECT user_id, bucket, n_events,
           ROUND(COALESCE(sum_v,
             v0 + (v1 - v0) *
               ((CAST(epoch(bucket) AS DOUBLE) - CAST(epoch(t0) AS DOUBLE)) /
                (CAST(epoch(t1) AS DOUBLE) - CAST(epoch(t0) AS DOUBLE)))), 6)
             AS v6,
           sum_v IS NULL AS is_gap
    FROM j"""

  // --- q169_streaks: gaps-and-islands activity runs -----------------------
  /** Per-entity activity streaks — the gaps-and-islands idiom: collapse
    * events to distinct active days, then `day_index − row_number()` is
    * CONSTANT exactly within a maximal run of consecutive days, so one
    * per-entity window + one groupBy yields every streak without a self
    * join or iteration. Output per entity: active days, number of
    * streaks, longest streak, and the current tail streak's length
    * (streak ending on the entity's last active day) — the
    * engagement-contract trio every retention dashboard wants.
    *
    * All integer arithmetic (day offsets from a fixed epoch); windows are
    * entity-keyed over ACTIVE-DAY frames (bounded by span, not events —
    * the q83 argument).
    *
    * Scale shape: one distinct-(entity, day) shuffle with map-side
    * partial, one entity window, two entity-keyed aggs. */
  def activityStreaks(events: DataFrame, entity: String, ts: String): DataFrame = {
    val days = events.select(col(entity).as("e"),
        datediff(date_trunc("day", col(ts)), to_date(lit("2024-01-01")))
          .as("d"))
      .distinct()
    val w = Window.partitionBy(col("e")).orderBy(col("d"))
    val isl = days.withColumn("isl", col("d") - row_number().over(w))
    val streaks = isl.groupBy(col("e"), col("isl"))
      .agg(count(lit(1)).as("len"), max(col("d")).as("last_d"))
    streaks.groupBy(col("e"))
      .agg(sum(col("len")).as("active_days"),
        count(lit(1)).as("n_streaks"),
        max(col("len")).as("longest"),
        max_by(col("len"), col("last_d")).as("current"))
      .select(col("e"), col("active_days").cast("long").as("active_days"),
        col("n_streaks").cast("long").as("n_streaks"),
        col("longest").cast("long").as("longest"),
        col("current").cast("long").as("current"))
  }

  def q169Streaks(spark: SparkSession, dir: String): DataFrame =
    activityStreaks(Tables.events(spark, dir), "user_id", "ts")

  val q169StreaksSql: String = """
    WITH days AS (
      SELECT DISTINCT user_id AS e,
             datediff('day', DATE '2024-01-01',
                      date_trunc('day', CAST(ts AS TIMESTAMP))) AS d
      FROM events),
    isl AS (SELECT e, d,
                   d - ROW_NUMBER() OVER (PARTITION BY e ORDER BY d) AS isl
            FROM days),
    st AS (SELECT e, isl, COUNT(*) AS len, MAX(d) AS last_d
           FROM isl GROUP BY 1, 2)
    SELECT e, CAST(SUM(len) AS BIGINT) AS active_days,
           CAST(COUNT(*) AS BIGINT) AS n_streaks,
           CAST(MAX(len) AS BIGINT) AS longest,
           CAST(arg_max(len, last_d) AS BIGINT) AS current
    FROM st GROUP BY e"""

  // --- q174_rolling_dau: trailing-window distinct actives (DAU/WAU) -------
  /** Daily actives and TRAILING-7-day actives per day — the engagement
    * ratio every growth dashboard wants, and a computation window
    * functions cannot express (COUNT(DISTINCT) over a moving frame is
    * unsupported in every engine, because distinctness doesn't decompose
    * over frame slides). The scalable spelling: collapse to distinct
    * (entity, day) once, then each active day COVERS the `w` window
    * positions it contributes to — a bounded ×w explode — and the
    * trailing count is a plain distinct + groupBy on the cover day. The
    * shuffle carries (entity, day) pairs ×w, never events; no frame ever
    * holds a distinct-set accumulator.
    *
    * Day arithmetic on integer epoch offsets (the q166 convention);
    * cover days clipped to the observed [min, max] span (leading days
    * have genuinely partial windows — reported, not fabricated). */
  def rollingActiveUsers(events: DataFrame, entity: String, ts: String,
                         windowDays: Int = 7): DataFrame = {
    val userDays = graft.CacheRegistry.persist(
      events.select(col(entity).as("e"),
          datediff(date_trunc("day", col(ts)), to_date(lit("2024-01-01")))
            .as("d"))
        .distinct())
    val span = userDays.agg(min(col("d")).as("d0"), max(col("d")).as("d1"))
    val dau = userDays.groupBy(col("d")).agg(count(lit(1)).as("dau"))
    val wau = userDays
      .withColumn("cd",
        explode(sequence(col("d"), col("d") + (windowDays - 1))))
      .select(col("e"), col("cd")).distinct()
      .groupBy(col("cd")).agg(count(lit(1)).as("wau"))
    // bcast-ok: span is a 1-row global min/max aggregate
    wau.crossJoin(broadcast(span))
      .filter(col("cd").between(col("d0"), col("d1")))
      .join(dau.select(col("d").as("cd"), col("dau")), Seq("cd"), "left_outer")
      .select(col("cd").cast("long").as("day"),
        coalesce(col("dau"), lit(0L)).cast("long").as("dau"),
        col("wau").cast("long").as("wau"),
        graft.ops.Relational.ratio6("coalesce(dau, 0)", "wau")
          .as("stickiness6"))
  }

  def q174RollingDau(spark: SparkSession, dir: String): DataFrame =
    rollingActiveUsers(Tables.events(spark, dir), "user_id", "ts")

  val q174RollingDauSql: String = s"""
    WITH ud AS (
      SELECT DISTINCT user_id AS e,
             datediff('day', DATE '2024-01-01',
                      date_trunc('day', CAST(ts AS TIMESTAMP))) AS d
      FROM events),
    span AS (SELECT MIN(d) AS d0, MAX(d) AS d1 FROM ud),
    dau AS (SELECT d, COUNT(*) AS dau FROM ud GROUP BY d),
    cov AS (SELECT DISTINCT e, d + i AS cd
            FROM ud, unnest(range(0, 7)) AS u(i)),
    wau AS (SELECT cd, COUNT(*) AS wau FROM cov GROUP BY cd)
    SELECT CAST(w.cd AS BIGINT) AS day,
           CAST(COALESCE(dau.dau, 0) AS BIGINT) AS dau,
           CAST(w.wau AS BIGINT) AS wau,
           ${graft.ops.Relational.ratio6Sql("COALESCE(dau.dau, 0)", "w.wau")}
             AS stickiness6
    FROM wau w CROSS JOIN span
    LEFT JOIN dau ON dau.d = w.cd
    WHERE w.cd BETWEEN span.d0 AND span.d1"""

  // --- q178_decay_trend: exact exponentially-decayed trending score -------
  /** "What's trending": per group, recent activity counts more — each
    * event is weighted `2^-(age_days)` relative to the corpus's newest
    * day, over a bounded horizon. The weights are binary powers ON
    * PURPOSE: the score is computed as an exact BIGINT
    * `Σ count_d · 2^(H − age_d)` (the `2^H`-scaled fixed-point form), so
    * ranking and the 6-dp share are bit-identical across engines — a
    * float `exp(-λ·age)` spelling would make "trending #1 vs #2" depend
    * on summation order. Half-life = one day; horizon H days (older
    * events contribute nothing, which also bounds the scaled sum well
    * inside BIGINT: the 2·p·10⁶ trick in ratio6 needs p ≲ 4.6e12, so H
    * defaults to 20).
    *
    * Scale shape: raw events collapse to (group, day) counts in one
    * map-side-partial shuffle; the horizon max-day and the share total
    * are broadcast one-row frames. Nothing downstream of the first
    * aggregate exceeds |groups| × H rows. */
  def decayTrendScore(events: DataFrame, group: String, ts: String,
                      horizonDays: Int = 20): DataFrame = {
    val daily = events.select(col(group).as("g"),
        datediff(date_trunc("day", col(ts)), to_date(lit("2024-01-01")))
          .as("d"))
      .groupBy(col("g"), col("d")).agg(count(lit(1)).as("c"))
    val newest = daily.agg(max(col("d")).as("d1"))
    // bcast-ok: newest is a 1-row global max aggregate
    val scores = daily.crossJoin(broadcast(newest))
      .filter(col("d1") - col("d") <= horizonDays)
      .withColumn("w", expr(
        s"c * shiftleft(CAST(1 AS BIGINT), CAST($horizonDays - (d1 - d) AS INT))"))
      .groupBy(col("g")).agg(sum(col("w")).as("iscore"))
    val total = scores.agg(sum(col("iscore")).as("t"))
    // bcast-ok: total is a 1-row global sum aggregate
    scores.crossJoin(broadcast(total))
      .select(col("g"), col("iscore").cast("long").as("iscore"),
        graft.ops.Relational.ratio6("iscore", "t").as("share6"))
  }

  def q178DecayTrend(spark: SparkSession, dir: String): DataFrame =
    decayTrendScore(Tables.events(spark, dir), "event_type", "ts")

  val q178DecayTrendSql: String = s"""
    WITH dd AS (
      SELECT event_type AS g,
             datediff('day', DATE '2024-01-01',
                      date_trunc('day', CAST(ts AS TIMESTAMP))) AS d,
             COUNT(*) AS c
      FROM events GROUP BY 1, 2),
    mx AS (SELECT MAX(d) AS d1 FROM dd),
    sc AS (SELECT g,
                  CAST(SUM(c * (CAST(1 AS BIGINT) << (20 - (d1 - d))))
                       AS BIGINT) AS iscore
           FROM dd CROSS JOIN mx WHERE d1 - d <= 20 GROUP BY g),
    tot AS (SELECT CAST(SUM(iscore) AS BIGINT) AS t FROM sc)
    SELECT g, iscore,
           ${graft.ops.Relational.ratio6Sql("iscore", "t")} AS share6
    FROM sc CROSS JOIN tot"""

  // --- q186_diurnal: hour-of-day seasonality profile ----------------------
  /** Diurnal profile per group: total volume, the peak hour (ties to the
    * smallest hour), the peak's count and its share — the load-shape
    * summary capacity planning and anomaly baselines start from. Peak
    * selection is a max aggregate plus a min-over-achievers semi-join,
    * never a 24-row-per-group window
    * sort (harmless at 24 rows, but the pattern must stay consistent so
    * PlanShapeSpec's no-value-keyed-window claim survives composition).
    *
    * One corpus-sized (group, hour) count shuffle; everything after is
    * |groups|×24. */
  def diurnalProfile(events: DataFrame, group: String, ts: String): DataFrame = {
    val counts = graft.CacheRegistry.persist(
      events.select(col(group).as("g"), hour(col(ts)).as("h"))
        .groupBy(col("g"), col("h")).agg(count(lit(1)).as("n")))
    val stats = counts.groupBy(col("g"))
      .agg(max(col("n")).as("peak_n"), sum(col("n")).as("n_total"))
    val peak = counts
      .join(stats.select(col("g"), col("peak_n")), Seq("g"))
      .filter(col("n") === col("peak_n"))
      .groupBy(col("g")).agg(min(col("h")).as("peak_hour"))
    stats.join(peak, Seq("g"))
      .select(col("g"), col("n_total").cast("long").as("n_total"),
        col("peak_hour").cast("int").as("peak_hour"),
        col("peak_n").cast("long").as("peak_n"),
        graft.ops.Relational.ratio6("peak_n", "n_total").as("peak_share6"))
  }

  def q186Diurnal(spark: SparkSession, dir: String): DataFrame =
    diurnalProfile(Tables.events(spark, dir), "event_type", "ts")

  val q186DiurnalSql: String = s"""
    WITH c AS (SELECT event_type AS g,
                      EXTRACT(hour FROM CAST(ts AS TIMESTAMP)) AS h,
                      COUNT(*) AS n
               FROM events GROUP BY 1, 2),
    st AS (SELECT g, MAX(n) AS peak_n, SUM(n) AS n_total FROM c GROUP BY g),
    pk AS (SELECT c.g, MIN(c.h) AS peak_hour
           FROM c JOIN st ON c.g = st.g AND c.n = st.peak_n GROUP BY c.g)
    SELECT st.g, CAST(st.n_total AS BIGINT) AS n_total,
           CAST(pk.peak_hour AS INT) AS peak_hour,
           CAST(st.peak_n AS BIGINT) AS peak_n,
           ${graft.ops.Relational.ratio6Sql("st.peak_n", "st.n_total")}
             AS peak_share6
    FROM st JOIN pk ON st.g = pk.g"""

  // --- q103_funnel: ordered multi-step conversion funnel ------------------
  /** Funnel analysis: for each entity, the earliest time it completed
    * step 1, then the earliest step-2 event STRICTLY AFTER that, then the
    * earliest step-3 event after THAT — the order-sensitive definition
    * (a purchase before the first view does not count) that a naive
    * per-type min() gets wrong. Output is one row per entity that entered
    * the funnel, with per-step microsecond timestamps (null = never
    * reached) and the completed-step count.
    *
    * Scale shape: one filtered entity-keyed groupBy per step plus an
    * entity-keyed equi-join against the previous step's frame (whose rows
    * only shrink step over step) — no windows, no per-entity event-list
    * collection, every shuffle on the entity key. Step k's filter
    * `type = stepK AND ts > prev` reaches the scan as a pushed predicate
    * on the type column. */
  def funnel(events: DataFrame, entity: String, typeCol: String,
             ts: String, steps: Seq[String]): DataFrame = {
    require(steps.nonEmpty, "funnel needs at least one step")
    val e = events.select(col(entity), col(typeCol),
      unix_micros(col(ts)).as("ts_us"))
    val s1 = e.filter(col(typeCol) === steps.head)
      .groupBy(col(entity)).agg(min(col("ts_us")).as("t1_us"))
    val rest = steps.tail.zipWithIndex.map { case (st, i) => (st, i + 2) }
    val frames = rest.foldLeft(List(s1)) { case (acc, (st, k)) =>
      val prev = acc.head
      val next = e.filter(col(typeCol) === st)
        .join(prev.select(col(entity), col(s"t${k - 1}_us")), entity)
        .filter(col("ts_us") > col(s"t${k - 1}_us"))
        .groupBy(col(entity)).agg(min(col("ts_us")).as(s"t${k}_us"))
      next :: acc
    }.reverse
    val joined = frames.reduceLeft((l, r) => l.join(r, Seq(entity), "left"))
    val stepCols = (2 to steps.size).map(k =>
      when(col(s"t${k}_us").isNotNull, 1).otherwise(0))
    joined.withColumn("steps_completed",
      stepCols.foldLeft(lit(1))(_ + _).cast("int"))
  }

  def q103Funnel(spark: SparkSession, dir: String): DataFrame =
    funnel(graft.Tables.events(spark, dir), "user_id", "event_type", "ts",
      Seq("view", "click", "purchase"))

  // --- q248_funnel_atscale: the order-sensitive funnel at 2^20 users ------
  /** At-scale correctness coverage for [[funnel]] — q103 runs over the
    * ~10k-event sf table; this replays the SAME entry point over 2²⁰
    * range-built users (~2.9M events) with a user class (id mod 8)
    * planting every completion depth AND the two traps that define the
    * operator:
    *
    *  - classes 0/4: view→click→purchase in order — full 3-step
    *    completion;
    *  - classes 1/5: view@t0, click AT EXACTLY t0, click@t0+1µs — the
    *    equal-timestamp click must NOT count (the step predicate is
    *    STRICTLY after), so t2 lands on the later click: the strictness
    *    boundary is load-bearing for 2¹⁸ users, not one fixture row;
    *  - classes 2/6: view only — depth 1;
    *  - class 3: purchase@t0, click@t0+1µs, view@t0+2µs — the REVERSED
    *    sequence a naive per-type min() scores as a full conversion;
    *    order-sensitive scoring must emit depth 1 (funnel entry at the
    *    view, nothing after it);
    *  - class 7: click+purchase but NO view — never enters the funnel,
    *    must be ABSENT from the output (2¹⁷ users the step-1 filter has
    *    to drop).
    *
    * Per-user timestamps ride a distinct per-user base (t0 = epoch +
    * 1000·id µs) so the rollup can pin the exact per-class step offsets
    * via `tk_us − t0` sums, all closed form. Scale shape is the
    * operator's own: entity-keyed groupBys and equi-joins, no windows —
    * the plan pin holds that at 2²⁰ entities. */
  private[graft] val q248Users = 1L << 20

  private[graft] def q248Events(spark: SparkSession,
                                users: Long = q248Users): DataFrame = {
    val e = (t: String, off: Int) =>
      struct(lit(t).as("event_type"),
        (col("t0") + lit(off.toLong)).as("ts_us"))
    spark.range(users).select(col("id").as("user_id"),
        (lit(1700000000000000L) + col("id") * 1000L).as("t0"),
        pmod(col("id"), lit(8L)).as("cls"))
      .select(col("user_id"), explode(
        when(col("cls").isin(0L, 4L),
          array(e("view", 0), e("click", 1), e("purchase", 2)))
        .when(col("cls").isin(1L, 5L),
          array(e("view", 0), e("click", 0), e("click", 1)))
        .when(col("cls").isin(2L, 6L), array(e("view", 0)))
        .when(col("cls") === 3L,
          array(e("purchase", 0), e("click", 1), e("view", 2)))
        .otherwise(array(e("purchase", 0), e("click", 1)))).as("e"))
      .select(col("user_id"), col("e.event_type").as("event_type"),
        timestamp_micros(col("e.ts_us")).as("ts"))
  }

  def q248FunnelAtScale(spark: SparkSession, dir: String): DataFrame =
    funnel(q248Events(spark), "user_id", "event_type", "ts",
        Seq("view", "click", "purchase"))
      .groupBy(pmod(col("user_id"), lit(8L)).as("cls"))
      .agg(count(lit(1)).as("n_users"),
        min(col("steps_completed")).as("min_steps"),
        max(col("steps_completed")).as("max_steps"),
        sum(col("t1_us") - lit(1700000000000000L)
          - col("user_id") * 1000L).as("d1"),
        count(col("t2_us")).as("n_t2"),
        sum(col("t2_us") - col("t1_us")).as("d2"),
        count(col("t3_us")).as("n_t3"),
        sum(col("t3_us") - col("t2_us")).as("d3"))

  /** Closed form per class — class 7 never enters (no row), class 3
    * enters at the view with nothing after (d1 = 2µs/user). */
  private[graft] def q248OracleSql(users: Long = q248Users): String = {
    val n = users / 8
    s"""
    SELECT CAST(c.cls AS BIGINT) AS cls, CAST(c.n AS BIGINT) AS n_users,
           CAST(c.mn AS INT) AS min_steps, CAST(c.mx AS INT) AS max_steps,
           CAST(c.d1 AS BIGINT) AS d1,
           CAST(c.n2 AS BIGINT) AS n_t2, CAST(c.d2 AS BIGINT) AS d2,
           CAST(c.n3 AS BIGINT) AS n_t3, CAST(c.d3 AS BIGINT) AS d3
    FROM (VALUES
      (0, $n, 3, 3, 0,  $n, $n,   $n, $n),
      (1, $n, 2, 2, 0,  $n, $n,   0, NULL),
      (2, $n, 1, 1, 0,  0, NULL,  0, NULL),
      (3, $n, 1, 1, ${2L * n}, 0, NULL, 0, NULL),
      (4, $n, 3, 3, 0,  $n, $n,   $n, $n),
      (5, $n, 2, 2, 0,  $n, $n,   0, NULL),
      (6, $n, 1, 1, 0,  0, NULL,  0, NULL))
      AS c(cls, n, mn, mx, d1, n2, d2, n3, d3)"""
  }

  // --- q107_retention: cohort retention matrix ----------------------------
  /** Day-granular cohort retention: a user's cohort is their first active
    * day; cell (cohort_day, day_offset) counts how many of that cohort's
    * users were active day_offset days later — the standard
    * engagement-decay matrix. Days are epoch-day integers (`unix_micros
    * div 86400e6`), not calendar truncation, so both engines derive them
    * with exact integer arithmetic in the session's UTC frame.
    *
    * Scale shape: raw events collapse to distinct (entity, day) FIRST — a
    * map-side-partial dedup on a key set bounded by users × days, orders
    * of magnitude below the event count; the cohort min is an entity-keyed
    * agg over that same frame (co-partitioned, no second wide shuffle of
    * raw events), and the matrix is a plain count over (cohort, offset) —
    * never a distinct-count over raw events, never a per-user window. */
  def retentionMatrix(events: DataFrame, entity: String, ts: String): DataFrame = {
    val active = events
      .select(col(entity),
        expr(s"CAST(unix_micros($ts) div 86400000000 AS INT)").as("day"))
      .distinct()
    val cohort = active.groupBy(col(entity))
      .agg(min(col("day")).as("cohort_day"))
    active.join(cohort, entity)
      .groupBy(col("cohort_day"),
        (col("day") - col("cohort_day")).as("day_offset"))
      .agg(count(lit(1)).as("n_users"))
  }

  def q107Retention(spark: SparkSession, dir: String): DataFrame =
    retentionMatrix(graft.Tables.events(spark, dir), "user_id", "ts")

  val q107RetentionSql: String = """
    WITH a AS (SELECT DISTINCT user_id,
                      CAST(epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS INT) AS day
               FROM events),
    c AS (SELECT user_id, MIN(day) AS cohort_day FROM a GROUP BY user_id)
    SELECT cohort_day, a.day - cohort_day AS day_offset, COUNT(*) AS n_users
    FROM a JOIN c USING (user_id)
    GROUP BY 1, 2"""

  val q103FunnelSql: String = """
    WITH e AS (SELECT user_id, event_type,
                      epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us FROM events),
    s1 AS (SELECT user_id, MIN(ts_us) AS t1_us FROM e
           WHERE event_type = 'view' GROUP BY user_id),
    s2 AS (SELECT e.user_id, MIN(ts_us) AS t2_us
           FROM e JOIN s1 USING (user_id)
           WHERE event_type = 'click' AND ts_us > t1_us
           GROUP BY e.user_id),
    s3 AS (SELECT e.user_id, MIN(ts_us) AS t3_us
           FROM e JOIN s2 USING (user_id)
           WHERE event_type = 'purchase' AND ts_us > t2_us
           GROUP BY e.user_id)
    SELECT s1.user_id, t1_us, t2_us, t3_us,
           CAST(1 + CASE WHEN t2_us IS NOT NULL THEN 1 ELSE 0 END
                  + CASE WHEN t3_us IS NOT NULL THEN 1 ELSE 0 END AS INT)
             AS steps_completed
    FROM s1 LEFT JOIN s2 USING (user_id) LEFT JOIN s3 USING (user_id)"""

  // --- q267_retention_atscale: the cohort matrix at 2^20 users ------------
  /** At-scale correctness coverage for [[retentionMatrix]] — q107 runs
    * over the ~250-user sf events table; this replays the SAME entry
    * point over 2²⁰ range-built users in 8 cohorts (first day =
    * id mod 8) × 4 activity classes (`(id div 8) mod 4` → offset sets
    * {0}, {0,1}, {0,1,7}, {0,30}), every (user, day) emitted as THREE
    * raw events with intra-day microsecond jitter — the duplication the
    * distinct-first collapse exists for (~6M raw events → ~2.1M
    * distinct (user, day) rows). Classes are independent of cohorts by
    * construction, so every matrix cell is closed form: offset 0 counts
    * all four classes (131,072 per cohort), offset 1 two classes,
    * offsets 7/30 one each — 32 cells the oracle emits directly. What
    * the gate holds closed at volume: raw events collapse BEFORE any
    * cohort arithmetic (the distinct is the only event-sized shuffle),
    * the cohort min rides the same (user, day) frame, and no per-user
    * window exists anywhere. */
  private[graft] val q267Users = 1L << 20

  private[graft] def q267Events(spark: SparkSession,
                                users: Long = q267Users): DataFrame =
    spark.range(users).select(col("id").as("user_id"))
      .select(col("user_id"),
        explode(expr("""CASE CAST((user_id div 8) % 4 AS INT)
                          WHEN 0 THEN array(0, 0, 0)
                          WHEN 1 THEN array(0, 1, 1)
                          WHEN 2 THEN array(0, 1, 7)
                          ELSE array(0, 30, 30) END""")).as("off"))
      .select(col("user_id"), col("off"),
        explode(expr("sequence(0, 2)")).as("rep"))
      .select(col("user_id"),
        expr("""timestamp_micros((user_id % 8 + off) * 86400000000L
                  + (user_id % 1000) * 1000 + rep)""").as("ts"))

  def q267RetentionAtScale(spark: SparkSession, dir: String): DataFrame =
    q267RetentionAtScale0(spark, q267Users)

  private[graft] def q267RetentionAtScale0(spark: SparkSession,
                                           users: Long): DataFrame =
    retentionMatrix(q267Events(spark, users), "user_id", "ts")

  private[graft] def q267OracleSql(users: Long = q267Users): String = {
    // closed forms assume full cohorts (users/8) that split evenly into the
    // four offset classes (perCohort/4); an unaligned size would produce a
    // silently wrong oracle, so fail loudly instead
    require(users % 32 == 0, s"q267 oracle needs users % 32 == 0, got $users")
    val perCohort = users / 8
    val cells = (0 until 8).flatMap { d =>
      // offset → how many of the four classes contain it
      Seq(0 -> 4L, 1 -> 2L, 7 -> 1L, 30 -> 1L).map { case (o, k) =>
        (d, o, k * perCohort / 4)
      }
    }
    cells.map { case (d, o, n) =>
      s"SELECT CAST($d AS INT) AS cohort_day, CAST($o AS INT) AS day_offset, " +
        s"CAST($n AS BIGINT) AS n_users"
    }.mkString("\n    UNION ALL\n    ")
  }

  // --- q187_funnel_latency: time-to-convert order statistics --------------
  /** How long conversion takes, not just whether it happens: exact
    * p25/p50/p75/p90 of `t_last − t_first` microseconds over entities
    * that completed the whole funnel. Order statistics use the q163/q170
    * positional convention — the value at rank `⌈n·p/100⌉` over the
    * distinct-value cumulative frame, integer-exact, no interpolation.
    *
    * The cumulative frame is the distinct-latency set — µs latencies are
    * nearly unique per converter, so it scales with CONVERTED entities;
    * round 9 moved it from a one-task global window onto
    * [[rangePrefixSum]], so the quartile scan holds even when the funnel
    * converts a 100 TB corpus's worth of users. */
  def funnelLatencyQuartiles(events: DataFrame, entity: String,
                             typeCol: String, ts: String,
                             steps: Seq[String]): DataFrame = {
    val last = s"t${steps.size}_us"
    val lat = funnel(events, entity, typeCol, ts, steps)
      .filter(col(last).isNotNull)
      .select((col(last) - col("t1_us")).as("lat"))
    val c = lat.groupBy(col("lat")).agg(count(lit(1)).as("c"))
    val cum = rangePrefixSum(c, "lat", "c", "cum")
    val total = c.agg(sum(col("c")).as("n"))
    // bcast-ok: total is a 1-row global sum aggregate
    cum.crossJoin(broadcast(total))
      .agg(max(col("n")).cast("long").as("n_converted"),
        min(when(col("cum") >= expr("(n * 25 + 99) div 100"), col("lat")))
          .as("p25_us"),
        min(when(col("cum") >= expr("(n * 50 + 99) div 100"), col("lat")))
          .as("p50_us"),
        min(when(col("cum") >= expr("(n * 75 + 99) div 100"), col("lat")))
          .as("p75_us"),
        min(when(col("cum") >= expr("(n * 90 + 99) div 100"), col("lat")))
          .as("p90_us"))
  }

  def q187FunnelLatency(spark: SparkSession, dir: String): DataFrame =
    funnelLatencyQuartiles(graft.Tables.events(spark, dir), "user_id",
      "event_type", "ts", Seq("view", "click", "purchase"))

  val q187FunnelLatencySql: String = """
    WITH e AS (SELECT user_id, event_type,
                      epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us FROM events),
    s1 AS (SELECT user_id, MIN(ts_us) AS t1_us FROM e
           WHERE event_type = 'view' GROUP BY user_id),
    s2 AS (SELECT e.user_id, MIN(ts_us) AS t2_us
           FROM e JOIN s1 USING (user_id)
           WHERE event_type = 'click' AND ts_us > t1_us
           GROUP BY e.user_id),
    s3 AS (SELECT e.user_id, MIN(ts_us) AS t3_us
           FROM e JOIN s2 USING (user_id)
           WHERE event_type = 'purchase' AND ts_us > t2_us
           GROUP BY e.user_id),
    lat AS (SELECT s3.t3_us - s1.t1_us AS lat
            FROM s3 JOIN s1 USING (user_id)),
    c AS (SELECT lat, COUNT(*) AS c FROM lat GROUP BY lat),
    cm AS (SELECT lat, c, SUM(c) OVER (ORDER BY lat) AS cum FROM c),
    t AS (SELECT SUM(c) AS n FROM c)
    SELECT CAST(MAX(n) AS BIGINT) AS n_converted,
           MIN(CASE WHEN cum >= (n * 25 + 99) // 100 THEN lat END) AS p25_us,
           MIN(CASE WHEN cum >= (n * 50 + 99) // 100 THEN lat END) AS p50_us,
           MIN(CASE WHEN cum >= (n * 75 + 99) // 100 THEN lat END) AS p75_us,
           MIN(CASE WHEN cum >= (n * 90 + 99) // 100 THEN lat END) AS p90_us
    FROM cm CROSS JOIN t"""

  // --- q196_interarrival: per-type inter-arrival time profile -------------
  /** Inter-arrival profile: the p50/p90 of the gap between one entity's
    * CONSECUTIVE events of the same type — the metric that separates
    * "bursty" signals (errors clustering in incidents) from steady ones,
    * and the empirical base for choosing session gaps and stream
    * watermark horizons. Successor gaps come from an entity-bounded
    * window (partition by user × type); quantiles use the positional
    * convention over per-type distinct-gap cumulative frames (the q163
    * discipline — shuffles carry value counts, not events). */
  def interArrivalProfile(events: DataFrame, entity: String, group: String,
                          ts: String): DataFrame = {
    val w = Window.partitionBy(col("g"), col("u"))
      .orderBy(col("us"), col("event_id"))
    val gaps = events
      .select(col(group).as("g"), col(entity).as("u"),
        unix_micros(col(ts)).as("us"), col("event_id"))
      .withColumn("prev", lag(col("us"), 1).over(w))
      .filter(col("prev").isNotNull)
      .select(col("g"), (col("us") - col("prev")).as("gap"))
    val c = gaps.groupBy(col("g"), col("gap")).agg(count(lit(1)).as("c"))
    val cum = c
      .withColumn("cum",
        sum(col("c")).over(Window.partitionBy(col("g")).orderBy(col("gap"))))
      .withColumn("n", sum(col("c")).over(Window.partitionBy(col("g"))))
    cum.groupBy(col("g"))
      .agg(max(col("n")).cast("long").as("n_gaps"),
        min(when(col("cum") >= expr("(n * 50 + 99) div 100"), col("gap")))
          .as("p50_us"),
        min(when(col("cum") >= expr("(n * 90 + 99) div 100"), col("gap")))
          .as("p90_us"))
  }

  def q196Interarrival(spark: SparkSession, dir: String): DataFrame =
    interArrivalProfile(Tables.events(spark, dir), "user_id", "event_type",
      "ts")

  val q196InterarrivalSql: String = """
    WITH e AS (SELECT event_type AS g, user_id AS u, event_id,
                      epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events),
    gp AS (SELECT g, us - lag(us) OVER (PARTITION BY g, u
                                        ORDER BY us, event_id) AS gap
           FROM e),
    c AS (SELECT g, gap, COUNT(*) AS c FROM gp WHERE gap IS NOT NULL
          GROUP BY g, gap),
    cm AS (SELECT g, gap, c,
                  SUM(c) OVER (PARTITION BY g ORDER BY gap) AS cum,
                  SUM(c) OVER (PARTITION BY g) AS n
           FROM c)
    SELECT g, CAST(MAX(n) AS BIGINT) AS n_gaps,
           MIN(CASE WHEN cum >= (n * 50 + 99) // 100 THEN gap END) AS p50_us,
           MIN(CASE WHEN cum >= (n * 90 + 99) // 100 THEN gap END) AS p90_us
    FROM cm GROUP BY g"""

  // --- q129_rolling_anomaly: trailing-window z-score outlier flags --------
  /** Streaming-shaped anomaly detection in batch form: each event's value
    * scored against the trailing `win` PRECEDING events of ITS OWN entity
    * — the metrics-monitoring primitive (a user whose purchase value
    * jumps 3σ off their recent history) that needs no global statistics.
    *
    * The window deliberately EXCLUDES the current row. Including it
    * bounds the statistic at sqrt(n−1) — a single arbitrarily large
    * outlier inflates its own window's mean and σ so much that its
    * z-score can never exceed ~2.83 at n = 9, making a 3σ threshold
    * structurally unreachable (found by this operator's own spec: a
    * 50× spike failed to flag). History-only scoring is the standard
    * formulation and keeps z unbounded for genuine outliers.
    *
    * Scale shape: ONE entity-keyed window (partition by user, order by
    * time) carries all three running aggregates — count, Σv, Σv² — so the
    * plan is a single exchange+sort regardless of window width; per-user
    * history is entity-bounded, never a value-keyed hot partition.
    *
    * Cross-engine determinism (the q115 discipline, windowed): the sums
    * are DECIMAL-exact (value and value·value quantized at 10⁻⁶ — the
    * double product itself is reproducible), and both engines then run
    * the IDENTICAL double expression tree (cast, divide, multiply, sqrt)
    * over those exact sums — so the z-score is bit-identical with no
    * rounding step. Histories shorter than `minN` yield NULL (a z-score
    * against two points is noise, not signal); zero variance yields NULL
    * rather than ±∞. */
  def rollingAnomaly(events: DataFrame, entity: String, ts: String,
                     tieBreak: String, value: String, win: Int = 8,
                     minN: Int = 5, sigma: Double = 3.0): DataFrame = {
    val w = Window.partitionBy(col(entity))
      .orderBy(col(ts), col(tieBreak))
      .rowsBetween(-win, -1)
    val dec = (c: Column) => c.cast(DecimalType(28, 6))
    val scored = events
      .withColumn("__n", count(col(value)).over(w))
      .withColumn("__s", sum(dec(col(value))).over(w))
      .withColumn("__s2", sum(dec(col(value) * col(value))).over(w))
    val n = col("__n").cast("double")
    val mean = col("__s").cast("double") / n
    val variance = col("__s2").cast("double") / n - mean * mean
    scored.select(col(entity), col(tieBreak),
        when(col("__n") >= minN && variance > 0,
          (col(value) - mean) / sqrt(variance)).as("z"))
      .withColumn("is_anomaly",
        when(col("z").isNotNull, abs(col("z")) > sigma))
  }

  def q129RollingAnomaly(spark: SparkSession, dir: String): DataFrame =
    rollingAnomaly(Tables.events(spark, dir), "user_id", "ts", "event_id",
      "value")

  val q129RollingAnomalySql: String = """
    WITH s AS (
      SELECT user_id, event_id, value,
             COUNT(value) OVER w AS n,
             SUM(CAST(value AS DECIMAL(28,6))) OVER w AS sv,
             SUM(CAST(value * value AS DECIMAL(28,6))) OVER w AS sv2
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN 8 PRECEDING AND 1 PRECEDING)),
    z AS (
      SELECT user_id, event_id,
             CASE WHEN n >= 5
                   AND CAST(sv2 AS DOUBLE) / CAST(n AS DOUBLE)
                       - (CAST(sv AS DOUBLE) / CAST(n AS DOUBLE))
                         * (CAST(sv AS DOUBLE) / CAST(n AS DOUBLE)) > 0
                  THEN (value - CAST(sv AS DOUBLE) / CAST(n AS DOUBLE))
                       / sqrt(CAST(sv2 AS DOUBLE) / CAST(n AS DOUBLE)
                              - (CAST(sv AS DOUBLE) / CAST(n AS DOUBLE))
                                * (CAST(sv AS DOUBLE) / CAST(n AS DOUBLE)))
             END AS z
      FROM s)
    SELECT user_id, event_id, z,
           CASE WHEN z IS NOT NULL THEN abs(z) > 3.0 END AS is_anomaly
    FROM z"""

  // --- q137_transitions: sequence mining → Markov transition matrix -------
  /** First-order transition matrix over per-entity event sequences: for
    * every entity, order its events, pair each with its successor
    * (`lead`), and count (from_state → to_state) transitions corpus-wide,
    * with the row-conditional probability as an exact-rational ratio.
    * This is the sequence-mining primitive behind session-path analysis,
    * churn modeling, and curriculum ordering of training events.
    *
    * Scale shape: ONE shuffle on the entity key, a per-entity sort
    * (bounded by events-per-entity, never corpus-global), and a
    * map-side-partial count whose output is |states|² rows; the
    * from-state totals frame broadcasts. Ordering is total —
    * `(ts, tiebreak)` — so the successor function (hence every count) is
    * a pure function of the data in any engine. */
  def transitionMatrix(events: DataFrame, entity: String, ts: String,
                       state: String, tiebreak: String): DataFrame = {
    val w = Window.partitionBy(col(entity)).orderBy(col(ts), col(tiebreak))
    val steps = events
      .withColumn("_next", lead(col(state), 1).over(w))
      .filter(col("_next").isNotNull)
      .groupBy(col(state).as("from_state"), col("_next").as("to_state"))
      .agg(count(lit(1)).as("n"))
    steps
      // bcast-ok: one row per distinct from_state — enum-bounded state space, not data-scaled
      .join(broadcast(steps.groupBy(col("from_state"))
        .agg(sum(col("n")).as("tot"))), "from_state")
      .select(col("from_state"), col("to_state"), col("n"),
        graft.ops.Relational.ratio6("n", "tot").as("p6"))
  }

  /** User-journey transitions over the events table. The oracle orders by
    * the same microsecond instants ([[graft.Tables.events]] truncates the
    * nano column with `div 1000`; `epoch_ns // 1000` is its DuckDB twin) —
    * ordering by the RAW nanos could break microsecond ties differently
    * than the tiebreak column does. */
  def q137Transitions(spark: SparkSession, dir: String): DataFrame =
    transitionMatrix(Tables.events(spark, dir)
        .select("user_id", "ts", "event_type", "event_id"),
      "user_id", "ts", "event_type", "event_id")

  val q137TransitionsSql: String = s"""
    WITH o AS (
      SELECT event_type,
             LEAD(event_type) OVER (PARTITION BY user_id
               ORDER BY epoch_ns(ts) // 1000, event_id) AS next_type
      FROM events),
    s AS (SELECT event_type AS from_state, next_type AS to_state,
                 COUNT(*) AS n
          FROM o WHERE next_type IS NOT NULL GROUP BY 1, 2),
    t AS (SELECT from_state, SUM(n) AS tot FROM s GROUP BY 1)
    SELECT from_state, to_state, CAST(n AS BIGINT) AS n,
           ${graft.ops.Relational.ratio6Sql("n", "tot")} AS p6
    FROM s JOIN t USING (from_state)"""

  // --- q210/q213: the window family's two scale-safe plans at ≥1M rows ----
  /** At-scale correctness coverage for [[perGroupTopK]] (q210) — q9 runs
    * the salted two-phase plan over the 15k-row customer table, where the
    * salting is real code but trivial load. This replays the SAME entry
    * point over a range-synthesized 2²¹-row frame with 8 groups of 262 144
    * rows each — exactly the low-cardinality-group shape the two-phase plan
    * exists for (a naive `Window.partitionBy(g)` would sort 262k rows in
    * ONE task; phase 1's 64 salts cap every task's sort at ~4k rows).
    *
    * The order column is an LCG permutation `v = (id·1103515245 + 12345)
    * mod 2³¹` — an odd multiplier makes it injective over the id range (no
    * ties anywhere, so the tiebreak never decides) and scatters the top-k
    * uniformly across the frame, so every salted partition genuinely
    * contends in phase 1 rather than one tail slice holding all winners.
    * At the gate size (2²¹ rows) all products stay below 2⁵²; more
    * generally the arithmetic fits exact 64-bit integers in BOTH engines
    * (at 2²⁴ rows products pass 2⁵² but remain exact BIGINT — only a DOUBLE round-trip would
    * lose bits, and neither engine takes one); the oracle is DuckDB's
    * own naive one-window plan over the
    * same generated frame — an independent implementation of the total
    * order the two-phase plan must reproduce exactly. */
  private[graft] val q210Rows = 1L << 21
  private[graft] val q210Groups = 8L

  private[graft] def q210Frame(spark: SparkSession, rows: Long = q210Rows,
                               groups: Long = q210Groups): DataFrame =
    spark.range(rows).select(col("id"), (col("id") % groups).as("g"),
      ((col("id") * lit(1103515245L) + lit(12345L)) % lit(2147483648L)).as("v"))

  def q210TopkAtScale(spark: SparkSession, dir: String): DataFrame =
    perGroupTopK(q210Frame(spark),
      group = Seq(col("g")), order = Seq(col("v").desc, col("id")),
      saltSrc = col("id"), k = 5)
      .select(col("g"), col("id"), col("v"), col("rn"))

  private[graft] def q210OracleSql(rows: Long = q210Rows,
                                   groups: Long = q210Groups): String = s"""
    WITH t AS (SELECT CAST(u.i AS BIGINT) AS id,
                      CAST(u.i % $groups AS BIGINT) AS g,
                      (CAST(u.i AS BIGINT) * 1103515245 + 12345) % 2147483648 AS v
               FROM unnest(range(0, $rows)) AS u(i))
    SELECT g, id, v, rn FROM (
      SELECT g, id, v,
             CAST(ROW_NUMBER() OVER (PARTITION BY g ORDER BY v DESC, id) AS INT) AS rn
      FROM t) x
    WHERE rn <= 5"""

  /** At-scale correctness coverage for [[rangePrefixSum]] (q213) — all six
    * production call sites feed post-groupBy value dictionaries (small),
    * and the round's signed-value fix (per-slice offsets from `sum`, not
    * `max` of the running sum) is property-tested but never gated at a
    * size where the 256-way range partitioning actually splits. This runs
    * the entry point over 2²⁰ distinct keys with the SIGNED value
    * `v = id − 2¹⁹` — every slice below the midpoint has a negative total,
    * so an offset computed as max-of-running-sum would be wrong in half
    * the slices, and the global cumsum descends for 2¹⁹ keys before
    * rising. Output is bucket-rolled (1024 rows of `sum(cum)`) to keep the
    * gate light; all values are integer-exact. The oracle is DuckDB's
    * naive one-task `SUM() OVER (ORDER BY id)` — the single-partition plan
    * the range-partitioned one must equal bit-for-bit. */
  private[graft] val q213Keys = 1L << 20

  def q213PrefixSumAtScale(spark: SparkSession, dir: String): DataFrame = {
    val keys = q213Keys
    val frame = spark.range(keys)
      .select(col("id"), (col("id") - lit(keys / 2)).as("v"))
    rangePrefixSum(frame, "id", "v", "cum")
      .groupBy(expr("id div 1024").as("b"))
      .agg(sum(col("cum")).as("sum_cum"), count(lit(1)).as("n"))
  }

  private[graft] def q213OracleSql(keys: Long = q213Keys): String = s"""
    WITH t AS (SELECT CAST(u.i AS BIGINT) AS id,
                      CAST(u.i AS BIGINT) - ${keys / 2} AS v
               FROM unnest(range(0, $keys)) AS u(i)),
    c AS (SELECT id, SUM(v) OVER (ORDER BY id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM t)
    SELECT id // 1024 AS b, CAST(SUM(cum) AS BIGINT) AS sum_cum,
           COUNT(*) AS n
    FROM c GROUP BY 1"""

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q210_topk_atscale" -> q210TopkAtScale _,
    "q213_prefixsum_atscale" -> q213PrefixSumAtScale _,
    "q9_window_topk"    -> q9WindowTopK _,
    "q10_window_running" -> q10WindowRunning _,
    "q11_window_rank"   -> q11WindowRank _,
    "q83_resample"      -> q83Resample _,
    "q164_interp_fill"  -> q164InterpFill _,
    "q169_streaks"      -> q169Streaks _,
    "q174_rolling_dau"  -> q174RollingDau _,
    "q178_decay_trend"  -> q178DecayTrend _,
    "q186_diurnal"      -> q186Diurnal _,
    "q187_funnel_latency" -> q187FunnelLatency _,
    "q196_interarrival" -> q196Interarrival _,
    "q103_funnel"       -> q103Funnel _,
    "q248_funnel_atscale" -> q248FunnelAtScale _,
    "q267_retention_atscale" -> q267RetentionAtScale _,
    "q107_retention"    -> q107Retention _,
    "q129_rolling_anomaly" -> q129RollingAnomaly _,
    "q137_transitions"  -> q137Transitions _,
  )

  def oracles: Map[String, String] = Map(
    "q210_topk_atscale" -> q210OracleSql(),
    "q213_prefixsum_atscale" -> q213OracleSql(),
    "q9_window_topk"    -> q9WindowTopKSql,
    "q10_window_running" -> q10WindowRunningSql,
    "q11_window_rank"   -> q11WindowRankSql,
    "q83_resample"      -> q83ResampleSql,
    "q164_interp_fill"  -> q164InterpFillSql,
    "q169_streaks"      -> q169StreaksSql,
    "q174_rolling_dau"  -> q174RollingDauSql,
    "q178_decay_trend"  -> q178DecayTrendSql,
    "q186_diurnal"      -> q186DiurnalSql,
    "q187_funnel_latency" -> q187FunnelLatencySql,
    "q196_interarrival" -> q196InterarrivalSql,
    "q103_funnel"       -> q103FunnelSql,
    "q248_funnel_atscale" -> q248OracleSql(),
    "q267_retention_atscale" -> q267OracleSql(),
    "q107_retention"    -> q107RetentionSql,
    "q129_rolling_anomaly" -> q129RollingAnomalySql,
    "q137_transitions"  -> q137TransitionsSql,
  )
}
