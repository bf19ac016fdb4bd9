package graft.perfbench

import scala.collection.mutable

/** Plain-Scala references computed from the generated inputs. Nothing here
  * touches Spark or the library: each is an independent formulation of
  * what the library's output must be. */
object Reference {

  def tokens(text: String): Array[String] =
    text.toLowerCase(java.util.Locale.ROOT).split("\\s+").filter(_.nonEmpty)

  // ---------------------------------------------------------- wordcount

  def wordcount(docs: Seq[Gen.Doc]): Map[String, Long] = {
    val m = mutable.HashMap.empty[String, Long]
    docs.foreach(d => tokens(d.text).foreach(w => m(w) = m.getOrElse(w, 0L) + 1))
    m.toMap
  }

  /** word → (distinct source count, sorted sources joined by ","). */
  def collation(docs: Seq[Gen.Doc]): Map[String, (Int, String)] = {
    val m = mutable.HashMap.empty[String, mutable.Set[String]]
    docs.foreach(d => tokens(d.text).foreach(w =>
      m.getOrElseUpdate(w, mutable.Set.empty) += d.source))
    m.map { case (w, s) => w -> (s.size, s.toSeq.sorted.mkString(",")) }.toMap
  }

  // ------------------------------------------------------------- graphs

  /** Power-iteration PageRank with the library's stated semantics: every
    * vertex starts at 1/n; each superstep a vertex's new rank is
    * (1−d)/n + d·Σ rank(u)/outdeg(u) over in-edges (u → v). Rank held by
    * vertices without out-edges is not redistributed. */
  def pageRank(n: Int, ids: Array[Long], edges: Array[(Long, Long)],
               iters: Int, d: Double = 0.85): Map[Long, Double] = {
    val idx = ids.zipWithIndex.toMap
    val src = edges.map(e => idx(e._1))
    val dst = edges.map(e => idx(e._2))
    val outdeg = new Array[Int](n)
    src.foreach(s => outdeg(s) += 1)
    var r = Array.fill(n)(1.0 / n)
    (0 until iters).foreach { _ =>
      val acc = new Array[Double](n)
      var k = 0
      while (k < src.length) { acc(dst(k)) += r(src(k)) / outdeg(src(k)); k += 1 }
      r = acc.map(m => (1.0 - d) / n + d * m)
    }
    ids.indices.map(i => ids(i) -> r(i)).toMap
  }

  /** Union-find components over undirected edges; label = smallest id. */
  def components(ids: Iterable[Long], edges: Iterable[(Long, Long)]): Map[Long, Long] = {
    val parent = mutable.HashMap.empty[Long, Long]
    ids.foreach(i => parent(i) = i)
    def find(x: Long): Long = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != r) { val nx = parent(c); parent(c) = r; c = nx }
      r
    }
    edges.foreach { case (a, b) =>
      val ra = find(a); val rb = find(b)
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    ids.map(i => i -> find(i)).toMap
  }

  /** Supersteps that synchronous min-label propagation over the directed
    * edge set takes until every vertex votes to halt: the rounds in which
    * some label still shrinks, plus the final all-halt round. */
  def labelPropagationSupersteps(ids: Array[Long], edges: Array[(Long, Long)]): Int = {
    val idx = ids.zipWithIndex.toMap
    val src = edges.map(e => idx(e._1))
    val dst = edges.map(e => idx(e._2))
    val label = ids.clone()
    var steps = 0
    var changed = true
    while (changed) {
      val next = label.clone()
      var k = 0
      while (k < src.length) {
        if (label(src(k)) < next(dst(k))) next(dst(k)) = label(src(k))
        k += 1
      }
      changed = !java.util.Arrays.equals(next, label)
      System.arraycopy(next, 0, label, 0, label.length)
      steps += 1
    }
    steps
  }

  // -------------------------------------------------------------- dedup

  /** Word n-gram shingles: lowercase, whitespace split, n-token windows
    * joined by one space; fewer than n tokens → the whole token string. */
  def shingles(text: String, n: Int): Set[String] = {
    val t = tokens(text)
    if (t.length < n) Set(t.mkString(" "))
    else t.sliding(n).map(_.mkString(" ")).toSet
  }

  def jaccard(a: Set[String], b: Set[String]): Double = {
    val inter = a.count(b.contains)
    inter.toDouble / (a.size + b.size - inter)
  }

  // -------------------------------------------------------- jobs-mixed

  /** Expected rows per app name, compared to the library's output by
    * [[JobsMixed]] (doubles to a relative 1e-9). */
  def tpchApps(t: Gen.Tpch): Map[String, Seq[Seq[Any]]] = {
    // the library compares timestamps to 'yyyy-mm-dd' literals read as
    // midnight in the session time zone, which is UTC
    def midnight(d: String): Long = java.time.LocalDate.parse(d)
      .atStartOfDay(java.time.ZoneOffset.UTC).toInstant.toEpochMilli
    def le(x: java.sql.Timestamp, d: String) = x.getTime <= midnight(d)
    def ge(x: java.sql.Timestamp, d: String) = x.getTime >= midnight(d)
    def dsum(xs: Iterable[Double]): Double =
      xs.foldLeft(BigDecimal(0)) { (a, x) =>
        a + BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP)
      }.toDouble
    val li = t.lineitem
    val q1 = li.filter(l => le(l.l_shipdate, "2000-01-01"))
      .groupBy(l => (l.l_returnflag, l.l_linestatus)).toSeq.map { case ((rf, ls), g) =>
        val n = g.size
        Seq(rf, ls, dsum(g.map(_.l_quantity)), dsum(g.map(_.l_extendedprice)),
          dsum(g.map(l => l.l_extendedprice * (1.0 - l.l_discount))),
          dsum(g.map(l => l.l_extendedprice * (1.0 - l.l_discount) * (1.0 + l.l_tax))),
          dsum(g.map(_.l_quantity)) / n, dsum(g.map(_.l_extendedprice)) / n,
          dsum(g.map(_.l_discount)) / n, n.toLong)
      }
    val q2sel = li.filter(l => ge(l.l_shipdate, "1996-01-01") &&
      !ge(l.l_shipdate, "1998-01-01") && l.l_discount >= 0.03 &&
      l.l_discount <= 0.07 && l.l_quantity < 24)
    val q2 = Seq(Seq(if (q2sel.isEmpty) null
                     else dsum(q2sel.map(l => l.l_extendedprice * l.l_discount)),
                     q2sel.size.toLong))
    val orderById = t.orders.map(o => o.o_orderkey -> o).toMap
    val custById = t.customer.map(c => c.c_custkey -> c).toMap
    val q3 = li.flatMap { l =>
      orderById.get(l.l_orderkey).flatMap(o => custById.get(o.o_custkey).map(c => (l, o, c)))
    }.groupBy(_._3.c_mktsegment).toSeq.map { case (seg, g) =>
      Seq(seg, dsum(g.map { case (l, _, _) => l.l_extendedprice * (1.0 - l.l_discount) }),
        g.map(_._2.o_orderkey).distinct.size.toLong, g.size.toLong)
    }
    val q4 = t.orders.sortBy(o => (-o.o_totalprice, o.o_orderkey)).take(10)
      .map(o => Seq[Any](o.o_orderkey, o.o_custkey, o.o_totalprice))
    val regionOfNation = t.nation.map(n => n.n_nationkey -> n.n_regionkey).toMap
    val regionName = t.region.map(r => r.r_regionkey -> r.r_name).toMap
    val q5 = t.customer.groupBy(c => regionName(regionOfNation(c.c_nationkey)))
      .toSeq.map { case (r, g) => Seq(r, g.size.toLong, dsum(g.map(_.c_acctbal))) }
    val q12 = li.groupBy(_.l_returnflag).toSeq.map { case (rf, g) =>
      Seq(rf, g.map(_.l_partkey).distinct.size.toLong,
        g.map(_.l_suppkey).distinct.size.toLong, g.size.toLong)
    }
    val bigQty = li.filter(_.l_quantity >= 49).map(_.l_orderkey).toSet
    val q6 = t.orders.filter(o => bigQty.contains(o.o_orderkey))
      .map(o => Seq[Any](o.o_orderkey, o.o_totalprice))
    val richCust = t.orders.filter(_.o_totalprice > 400000).map(_.o_custkey).toSet
    val q7 = t.customer.filterNot(c => richCust.contains(c.c_custkey))
      .map(c => Seq(c.c_custkey, c.c_name))
    Map("q1_agg" -> q1, "q2_filter_agg" -> q2, "q3_join_agg" -> q3,
      "q4_topk" -> q4, "q5_join_region" -> q5, "q12_distinct_agg" -> q12,
      "q6_semi_join" -> q6, "q7_anti_join" -> q7)
  }
}
