package graft.perfbench

import scala.collection.mutable

/** Seeded input generators. Every generator is a pure function of its seed
  * and size arguments: the same seed always yields the same inputs. */
object Gen {

  final case class Doc(docId: Long, text: String, lang: String, source: String,
                       nChars: Long)

  /** Zipf(s) sampler over ranks 0 until n (rank 0 most frequent). */
  final class Zipf(n: Int, s: Double) {
    private val cdf: Array[Double] = {
      val c = new Array[Double](n)
      var acc = 0.0
      var i = 0
      while (i < n) { acc += 1.0 / math.pow(i + 1, s); c(i) = acc; i += 1 }
      c
    }
    def sample(rng: java.util.Random): Int = {
      val u = rng.nextDouble() * cdf(n - 1)
      val i = java.util.Arrays.binarySearch(cdf, u)
      if (i >= 0) i else math.min(-i - 1, n - 1)
    }
  }

  /** A vocabulary of `n` distinct lowercase words. The first letter is
    * drawn from the seed so every routing label of the wordcount mapper
    * (a2e/f2n/o2s/t2z) is hit; one word in ten starts with a digit and
    * routes to `_default`. The fixed-width base-26 suffix keeps words
    * distinct. */
  def vocabulary(n: Int, rng: java.util.Random): Array[String] =
    Array.tabulate(n) { i =>
      val head =
        if (rng.nextInt(10) == 0) ('0' + rng.nextInt(10)).toChar
        else ('a' + rng.nextInt(26)).toChar
      val sb = new StringBuilder().append(head)
      var x = i
      var k = 0
      while (k < 4) { sb.append(('a' + x % 26).toChar); x /= 26; k += 1 }
      sb.toString
    }

  private def doc(id: Long, toks: Array[String], source: String): Doc = {
    val text = toks.mkString(" ")
    Doc(id, text, "en", source, text.length.toLong)
  }

  /** `mr-wordcount` corpus: Zipf(1.1) tokens, 20 source labels. */
  def zipfCorpus(seed: Long, nDocs: Int, meanLen: Int, vocab: Int): Seq[Doc] = {
    val rng = new java.util.Random(seed)
    val words = vocabulary(vocab, rng)
    val z = new Zipf(vocab, 1.1)
    (0 until nDocs).map { i =>
      val len = meanLen / 2 + rng.nextInt(meanLen)
      doc(i.toLong, Array.fill(len)(words(z.sample(rng))), s"src${rng.nextInt(20)}")
    }
  }

  /** `dedup-pipeline` corpus: Zipf background documents plus planted
    * near-duplicate clusters. Each cluster is a base document and copies
    * that each replace one token, so every planted pair shares all but a
    * few 3-gram shingles (Jaccard well above 0.8; checked here). Ids are
    * shuffled so clusters are not contiguous. Returns the documents and
    * the planted pairs as (smaller id, larger id). */
  def plantedDupCorpus(seed: Long, nBackground: Int, nClusters: Int,
                       docLen: Int, vocab: Int)
      : (Seq[Doc], Set[(Long, Long)]) = {
    val rng = new java.util.Random(seed)
    val words = vocabulary(vocab, rng)
    val z = new Zipf(vocab, 1.1)
    def draw(len: Int) = Array.fill(len)(words(z.sample(rng)))
    val groups = mutable.ArrayBuffer.empty[Seq[Array[String]]]
    (0 until nBackground).foreach { _ =>
      groups += Seq(draw(docLen / 2 + rng.nextInt(docLen)))
    }
    (0 until nClusters).foreach { _ =>
      val base = draw(docLen)
      val copies = (0 until 1 + rng.nextInt(3)).map { _ =>
        val c = base.clone()
        c(rng.nextInt(c.length)) = words(rng.nextInt(vocab))
        c
      }
      groups += (base +: copies)
    }
    val total = groups.map(_.size).sum
    val ids = shuffled((0 until total).map(_.toLong).toArray, rng)
    var next = 0
    val docs = mutable.ArrayBuffer.empty[Doc]
    val planted = mutable.Set.empty[(Long, Long)]
    groups.foreach { g =>
      val gIds = g.map { toks =>
        val id = ids(next); next += 1
        docs += doc(id, toks, s"src${rng.nextInt(20)}")
        id
      }
      for (i <- gIds.indices; j <- i + 1 until gIds.size)
        planted += ((math.min(gIds(i), gIds(j)), math.max(gIds(i), gIds(j))))
    }
    val byId = docs.map(d => d.docId -> d.text).toMap
    planted.foreach { case (a, b) =>
      val j = Reference.jaccard(Reference.shingles(byId(a), 3),
        Reference.shingles(byId(b), 3))
      require(j >= 0.85, s"planted pair ($a,$b) has Jaccard $j")
    }
    (docs.sortBy(_.docId).toSeq, planted.toSet)
  }

  /** Directed R-MAT graph (a,b,c,d = 0.57,0.19,0.19,0.05) on 2^scale
    * vertices with `nEdges` draws; self loops and duplicate edges are
    * dropped and vertex ids are permuted so hubs are not the smallest
    * ids. Every id in [0, 2^scale) is a vertex. */
  def rmat(seed: Long, scale: Int, nEdges: Int): (Array[Long], Array[(Long, Long)]) = {
    val rng = new java.util.Random(seed)
    val n = 1 << scale
    val perm = shuffled((0 until n).map(_.toLong).toArray, rng)
    val seen = mutable.HashSet.empty[Long]
    val edges = mutable.ArrayBuffer.empty[(Long, Long)]
    var k = 0
    while (k < nEdges) {
      var src = 0; var dst = 0; var bit = 0
      while (bit < scale) {
        val u = rng.nextDouble()
        if (u >= 0.57) {
          if (u < 0.76) dst |= 1 << bit
          else if (u < 0.95) src |= 1 << bit
          else { src |= 1 << bit; dst |= 1 << bit }
        }
        bit += 1
      }
      if (src != dst && seen.add(src.toLong * n + dst))
        edges += ((perm(src), perm(dst)))
      k += 1
    }
    (Array.tabulate(n)(_.toLong), edges.toArray)
  }

  private def shuffled[T](xs: Array[T], rng: java.util.Random): Array[T] = {
    var i = xs.length - 1
    while (i > 0) {
      val j = rng.nextInt(i + 1)
      val t = xs(i); xs(i) = xs(j); xs(j) = t
      i -= 1
    }
    xs
  }

  // ------------------------------------------------------------ jobs-mixed

  final case class Region(r_regionkey: Int, r_name: String)
  final case class Nation(n_nationkey: Int, n_name: String, n_regionkey: Int)
  final case class Customer(c_custkey: Long, c_name: String, c_nationkey: Int,
                            c_acctbal: Double, c_mktsegment: String)
  final case class Order(o_orderkey: Long, o_custkey: Long, o_orderstatus: String,
                         o_totalprice: Double, o_orderdate: java.sql.Timestamp,
                         o_orderpriority: String)
  final case class LineItem(l_orderkey: Long, l_partkey: Long, l_suppkey: Long,
                            l_linenumber: Int, l_quantity: Double,
                            l_extendedprice: Double, l_discount: Double,
                            l_tax: Double, l_returnflag: String,
                            l_linestatus: String, l_shipdate: java.sql.Timestamp)
  final case class Tpch(region: Seq[Region], nation: Seq[Nation],
                        customer: Seq[Customer], orders: Seq[Order],
                        lineitem: Seq[LineItem])

  private val segments = Seq("AUTOMOBILE", "BUILDING", "FURNITURE",
    "HOUSEHOLD", "MACHINERY")
  private val priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM",
    "4-NOT SPECIFIED", "5-LOW")

  private def cents(rng: java.util.Random, lo: Double, hi: Double): Double =
    math.round((lo + rng.nextDouble() * (hi - lo)) * 100) / 100.0

  private def day(rng: java.util.Random): java.sql.Timestamp = {
    // 1995-01-01 .. 2002-12-31 at midnight UTC
    val d = java.time.LocalDate.of(1995, 1, 1).plusDays(rng.nextInt(2922).toLong)
    new java.sql.Timestamp(d.atStartOfDay(java.time.ZoneOffset.UTC)
      .toInstant.toEpochMilli)
  }

  /** A TPC-H-shaped star schema: `nOrders` orders of 1..7 line items each
    * (about 4·nOrders line items), nOrders/10 customers. */
  def tpch(seed: Long, nOrders: Int): Tpch = {
    val rng = new java.util.Random(seed)
    val region = Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
      .zipWithIndex.map { case (n, i) => Region(i, n) }
    val nation = (0 until 25).map(i => Nation(i, f"NATION$i%02d", i % 5))
    val nCust = nOrders / 10
    val customer = (0 until nCust).map { i =>
      Customer(i.toLong, f"Customer#$i%09d", rng.nextInt(25),
        cents(rng, -999.99, 9999.99), segments(rng.nextInt(5)))
    }
    val orders = mutable.ArrayBuffer.empty[Order]
    val items = mutable.ArrayBuffer.empty[LineItem]
    (0 until nOrders).foreach { o =>
      val nLines = 1 + rng.nextInt(7)
      var total = 0.0
      (1 to nLines).foreach { ln =>
        val qty = (1 + rng.nextInt(50)).toDouble
        val price = cents(rng, 900.0, 2100.0) * qty
        val rounded = math.round(price * 100) / 100.0
        total += rounded
        val flag = Seq("A", "N", "R")(rng.nextInt(3))
        items += LineItem(o.toLong, rng.nextInt(2000).toLong,
          rng.nextInt(100).toLong, ln, qty, rounded,
          rng.nextInt(11) / 100.0, rng.nextInt(9) / 100.0, flag,
          if (rng.nextBoolean()) "O" else "F", day(rng))
      }
      orders += Order(o.toLong, rng.nextInt(nCust).toLong,
        Seq("F", "O", "P")(rng.nextInt(3)), math.round(total * 100) / 100.0,
        day(rng), priorities(rng.nextInt(5)))
    }
    Tpch(region, nation, customer, orders.toSeq, items.toSeq)
  }

  /** One cycle of the two-client `jobs-mixed` schedule: apps.size rounds
    * in which each client runs every app once. App k always shares its
    * round with app k + apps.size/2, so the pairs that contend are the
    * same on every seed; the seed orders the rounds. Returns
    * cycle(round)(client). */
  def requestCycle(seed: Long, cycle: Int, apps: Seq[String]): IndexedSeq[IndexedSeq[String]] = {
    val half = apps.size / 2
    val rounds = (0 until half).flatMap { k =>
      Seq(IndexedSeq(apps(k), apps(k + half)), IndexedSeq(apps(k + half), apps(k)))
    }.toArray
    shuffled(rounds, new java.util.Random(seed * 1000003L + cycle)).toIndexedSeq
  }
}
