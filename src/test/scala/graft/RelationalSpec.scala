package graft

import graft.ops.Relational

class RelationalSpec extends GraftSuite {

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("q1_agg groups are the 6 returnflag×linestatus combos") {
    val rows = Relational.q1Agg(spark, sf).collect()
    assert(rows.length == 6)
    val counts = rows.map(_.getAs[Long]("count_order"))
    assert(counts.forall(_ > 0))
    // exact-decimal sum must equal a driver-side exact recompute
    val li = Tables.lineitem(spark, sf)
      .filter(org.apache.spark.sql.functions.col("l_shipdate") <= "2000-01-01")
      .select("l_returnflag", "l_linestatus", "l_quantity").collect()
    val expected = li.groupBy(r => (r.getString(0), r.getString(1)))
      .map { case (k, rs) =>
        k -> rs.map(r => BigDecimal(r.getDouble(2)).setScale(6, BigDecimal.RoundingMode.HALF_UP)).sum.toDouble
      }
    rows.foreach { r =>
      val k = (r.getAs[String]("l_returnflag"), r.getAs[String]("l_linestatus"))
      assert(r.getAs[Double]("sum_qty") == expected(k), s"sum_qty mismatch for $k")
    }
  }

  test("q4_topk is sorted desc with deterministic tiebreak") {
    val rows = Relational.q4TopK(spark, sf).collect()
    assert(rows.length == 10)
    val prices = rows.map(_.getAs[Double]("o_totalprice"))
    assert(prices.zip(prices.tail).forall { case (a, b) => a >= b })
  }

  test("every registered query returns rows at sf0.001") {
    // per-query wall time (build + count), printed slowest first: this walk
    // dominates the suite's run time, so the log says where it goes
    val seconds = scala.collection.mutable.ArrayBuffer.empty[(String, Double)]
    try SparkEntry.queries.foreach { case (name, fn) =>
      val t0 = System.nanoTime()
      try assert(fn(spark, sf).count() > 0, s"$name returned 0 rows")
      finally seconds += name -> (System.nanoTime() - t0) / 1e9
    } finally {
      println(f"registered-query walk: ${seconds.map(_._2).sum}%.1f s over " +
        s"${seconds.size} queries, slowest first:")
      seconds.sortBy(-_._2).foreach { case (name, s) =>
        println(f"  $s%8.2f s  $name") }
      // operator-internal persists must not outlive the walk: a plan left
      // in the shared session's CacheManager would be silently substituted
      // into later suites' matching subplans (breaking PlanShapeSpec's
      // shape guards depending on suite order)
      CacheRegistry.unpersistAll(blocking = true)
      spark.catalog.clearCache()
    }
  }

  test("every oracle key has a matching query") {
    val missing = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(missing.isEmpty, s"oracles without queries: $missing")
  }

  test("every query has an oracle (none silently rows-only checked)") {
    // Intentionally oracle-less entries go here WITH a reason; an empty
    // set means the driver hash-compares every registered query.
    val oracleLess: Set[String] = Set.empty
    val missing =
      SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet -- oracleLess
    assert(missing.isEmpty, s"queries without oracles: $missing")
    val stale = oracleLess.intersect(SparkEntry.oracleSql.keySet)
    assert(stale.isEmpty, s"oracle-less allowlist is stale: $stale")
  }

  test("no registered query emits a top-level array/map column") {
    // The driver's comparator sorts rows with pandas sort_values, which
    // dies on unhashable ndarray cells — every array-valued result must
    // serialize at the output boundary (to_json / concat_ws / scalar
    // explode), like q30 and q114 do. Only the analyzed schema is READ,
    // but note that CONSTRUCTING some entries runs Spark jobs (the
    // iterative graph/dedup operators execute their loops at build time),
    // so this is not free — it shares that cost with the rows>0 walk
    // above and sweeps the caches construction pinned.
    import org.apache.spark.sql.types.{ArrayType, MapType}
    val offenders = try SparkEntry.queries.toSeq.flatMap { case (name, fn) =>
      fn(spark, sf).schema.fields.toSeq.collect {
        case f if f.dataType.isInstanceOf[ArrayType] ||
                  f.dataType.isInstanceOf[MapType] =>
          s"$name.${f.name}: ${f.dataType.simpleString}"
      }
    } finally {
      CacheRegistry.unpersistAll(blocking = true)
      spark.catalog.clearCache()
    }
    assert(offenders.isEmpty,
      s"top-level array/map columns break the driver comparator: " +
        offenders.mkString(", "))
  }

  test("equi-depth histogram: bins partition each group at ~n/4 rows") {
    val rows = graft.ops.Relational.q106EquidepthHist(spark, sf).collect()
    val byGroup = rows.groupBy(_.getString(0))
    assert(byGroup.nonEmpty)
    byGroup.foreach { case (g, bins) =>
      assert(bins.map(_.getInt(1)).sorted.toSeq == Seq(0, 1, 2, 3), g)
      val counts = bins.sortBy(_.getInt(1)).map(_.getLong(2))
      val n = counts.sum
      // equi-depth: every quartile bin within 2% of n/4 (+2 for tiny
      // groups — interpolated boundaries can off-balance by at most the
      // tied-value run length)
      counts.foreach(c =>
        assert(math.abs(c - n / 4.0) <= n * 0.02 + 2, s"$g: $c of $n"))
      // spans are ordered and non-overlapping: bin b's hi <= bin b+1's lo
      val spans = bins.sortBy(_.getInt(1))
        .map(r => (r.getDouble(3), r.getDouble(4)))
      spans.zip(spans.tail).foreach { case ((_, hi), (lo, _)) =>
        assert(hi <= lo, s"$g: overlapping bins") }
    }
  }

  test("skyline2d equals the brute-force dominance definition") {
    import org.apache.spark.sql.functions.col
    val df = Tables.part(spark, sf)
      .select("p_brand", "p_partkey", "p_size", "p_retailprice")
    val rows = df.collect().map(r => (r.getString(0), r.getLong(1),
      r.getInt(2), r.getDouble(3)))
    val expected = rows.filter { case (b, _, sz, pr) =>
      !rows.exists { case (ob, _, osz, opr) =>
        ob == b && opr <= pr && osz >= sz && (opr < pr || osz > sz)
      }
    }.map(_._2).toSet
    val got = Relational.skyline2d(df, "p_brand", "p_retailprice", "p_size")
      .collect().map(_.getAs[Long]("p_partkey")).toSet
    assert(got == expected)
    assert(got.nonEmpty, "vacuous: empty frontier")
  }

  test("q231 small analog: the skyline is exactly the planted frontier — " +
      "same-x fillers and odd-x decoys all rejected") {
    import org.apache.spark.sql.functions.col
    val per = 64L
    val got = Relational.skyline2d(Relational.q231Frame(spark, per),
        "g", "x", "y")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val expected = (for {
      g <- 0L until Relational.q231Groups
      i <- 0L until per
    } yield (g, 2 * i, i + 1)).toSet
    assert(got == expected,
      s"diff: ${(got -- expected).take(3)} / ${(expected -- got).take(3)}")
  }

  test("q231 synthetic corpus is at the claimed scale") {
    assert(Relational.q231Frame(spark).count() == 3145728L)
  }

  test("q237 bins are exactly equidepth and contiguous — the construction " +
      "proof, independent of the replay oracle") {
    val rows = Relational.q237EquidepthAtScale(spark, sf)
      .collect().map(r => (r.getLong(0), r.getInt(1)) ->
        ((r.getLong(2), r.getDouble(3), r.getDouble(4)))).toMap
    assert(rows.size == 64)
    val per = Relational.q237Rows / Relational.q237Groups / 4
    for (g <- 0L until Relational.q237Groups) {
      for (b <- 0 to 3) {
        val (n, _, _) = rows((g, b))
        assert(n == per, s"group $g bin $b holds $n rows, expected $per")
      }
      // bins tile the group's value range with no gap-crossing rows
      for (b <- 0 to 2) {
        assert(rows((g, b))._3 < rows((g, b + 1))._2,
          s"group $g: bin $b hi overlaps bin ${b + 1} lo")
      }
    }
  }

  test("q245 raw HLL relative error stays inside 5% at 2^17 keys/group — " +
      "the bound the oracle hashes as a boolean, pinned numerically") {
    val rows = Relational.q245Raw(spark).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rows.length == Relational.q245Groups)
    rows.foreach { case (g, exact, approx) =>
      assert(exact == Relational.q245KeysPerGroup,
        s"group $g: dedup lost keys — exact=$exact")
      val rel = math.abs(approx - exact).toDouble / exact
      assert(rel <= 0.05, s"group $g: HLL rel err $rel (approx=$approx)")
    }
  }

  test("q246 cube emits all 289 grouping cells; the grand-total cell " +
      "carries the exact full-range sum") {
    val rows = Relational.q246CubeAtScale(spark, sf).collect()
    assert(rows.length == 289, s"expected 16*16+16+16+1 cells: ${rows.length}")
    val total = rows.filter(r => r.isNullAt(0) && r.isNullAt(1)).head
    val n = Relational.q246Rows
    assert(total.getLong(2) == n)
    assert(total.getLong(3) == n * (n - 1) / 2,
      s"grand-total sum ${total.getLong(3)}")
  }
}
