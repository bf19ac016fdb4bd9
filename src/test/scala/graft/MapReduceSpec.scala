package graft

import java.nio.file.Files
import java.util.Locale
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ShuffleRecords
import graft.ops.{MapReduce, Text}

/** Remap-parity semantics: the typed MR pipeline must agree with the
  * declarative form, the combiner must not change results, secondary sort
  * must actually order within partitions, and partition-label routing must
  * be physical-only. */
class MapReduceSpec extends GraftSuite {
  import spark.implicits._

  private lazy val docs = Tables.documents(spark, sf)

  test("typed mapReduce wordcount equals declarative groupBy.count") {
    val typed = MapReduce.mapReduce[String, String, Int, String, Long](
      docs.select("text").as[String],
      // remap map contract: yield (partition_label, k2, v2) — the label
      // mirrors wordcount.py's first-letter ranges and must not matter
      // Locale.ROOT: default-locale toLowerCase diverges from Catalyst's
      // lower() under e.g. tr_TR, which the declarative side uses
      (text: String) => text.toLowerCase(Locale.ROOT).split("\\s+").filter(_.nonEmpty)
        .map(w => (if (w.head <= 'n') "a2n" else "o2z", w, 1)),
      (word: String, ones: Iterator[Int]) => Iterator.single((word, ones.map(_.toLong).sum)))
      .collect().toMap
    val declarative = Text.q24Wordcount(spark, sf)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(typed == declarative)
  }

  test("combiner application is result-invariant (collation semantics)") {
    val pairs = docs
      .select(explode(Text.tokenize(col("text"))).as("word"), col("source"))
      .as[(String, String)]
    val distinctCombiner: Seq[String] => Seq[String] = _.distinct
    val combined = MapReduce.groupWithCombiner(pairs, distinctCombiner)
      .collect().map { case (w, vs) => w -> vs.toSet }.toMap
    val plain = pairs.groupByKey(_._1)
      .mapGroups((w, it) => (w, it.map(_._2).toSet))
      .collect().toMap
    assert(combined == plain)
    // the per-task buffer itself: a bound of 1–3 values forces a flush every
    // few pairs, so each key is spread over many partial rows, and the
    // partials combined after the shuffle must still equal plain grouping
    val local = pairs.collect().toSeq
    val unbounded = local.groupMap(_._1)(_._2)
    val identityCombiner: Seq[String] => Seq[String] = identity
    // None is mapReduce's form: no combiner, every value reaches the reducer
    for (bound <- 1 to 3;
         combiner <- Seq(None, Some(identityCombiner), Some(distinctCombiner))) {
      val finish = combiner.getOrElse(identityCombiner)
      val partials = ops.MapSideGroupAccess(local.iterator, combiner, bound).toSeq
      assert(partials.length > unbounded.size, s"bound $bound never flushed early")
      val merged = partials.groupMap(_._1)(_._2).view
        .mapValues(ps => finish(ps.flatten).sorted).toMap
      assert(merged == unbounded.view.mapValues(vs => finish(vs).sorted).toMap,
        s"bound $bound, combiner $combiner")
    }
  }

  test("typed mapReduce with tuple keys and nullable values sees every value") {
    val pairs = docs
      .select(explode(Text.tokenize(col("text"))).as("word"), col("source"))
      .as[(String, String)]
    // k2 = (source, initial); v2 = the word, or null for words of ≤ 3 chars;
    // the reducer needs every value: the count includes the nulls
    val typed = MapReduce.mapReduce[(String, String), (String, String), String,
        (String, String), (Long, String)](
      pairs,
      { case (w, s) => Iterator.single(("label", (s, w.take(1)), if (w.length > 3) w else null)) },
      (k, vs) => {
        val all = vs.toSeq
        Iterator.single((k, (all.length.toLong, all.filter(_ != null).maxOption.orNull)))
      })
      .collect().toMap
    val declarative = pairs.toDF("word", "source")
      .groupBy(col("source"), substring(col("word"), 1, 1))
      .agg(count(lit(1)), max(when(length(col("word")) > 3, col("word"))))
      .collect()
      .map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getString(3)))
      .toMap
    assert(declarative.values.exists(_._2 == null), "no all-null group exercised")
    assert(typed == declarative)
  }

  test("typed wordcount shuffles one row per distinct word and map task") {
    val lines = docs.select("text").as[String]
    val mapTasks = lines.rdd.getNumPartitions
    val distinctWords = Text.q24Wordcount(spark, sf).count()
    val records = ShuffleRecords.written(spark) {
      MapReduce.mapReduce[String, String, Long, String, Long](
        lines,
        line => line.toLowerCase(Locale.ROOT).split("\\s+").iterator
          .filter(_.nonEmpty).map(w => ("_default", w, 1L)),
        (w, ones) => Iterator.single((w, ones.sum)))
        .collect()
    }
    assert(records > 0 && records <= distinctWords * mapTasks,
      s"$records shuffle records for $distinctWords words in $mapTasks map tasks")
  }

  test("secondarySort orders rows by sort key within every partition") {
    val sorted = MapReduce.secondarySort(
      Tables.lineitem(spark, sf).select("l_returnflag", "l_quantity", "l_orderkey"),
      col("l_returnflag"), col("l_quantity"), col("l_orderkey"))
    // Within each physical partition rows must be sorted by (label, key) —
    // several labels may hash into one partition, but each label's rows are
    // contiguous and key-ordered, which is exactly remap's flush guarantee.
    val perPartition = sorted.select("l_returnflag", "l_quantity")
      .as[(String, Double)]
      .mapPartitions { rows =>
        val rs = rows.toVector
        val ordered = rs.zip(rs.drop(1)).forall { case ((la, qa), (lb, qb)) =>
          la < lb || (la == lb && qa <= qb)
        }
        Iterator.single((ordered, rs.map(_._1).toSet))
      }.collect()
    assert(perPartition.forall(_._1), "rows out of order within a partition")
    // every label lands in exactly one partition (co-location guarantee)
    val labelSets = perPartition.map(_._2).filter(_.nonEmpty)
    val all = labelSets.flatten
    assert(all.length == all.distinct.length, "label split across partitions")
  }

  test("partition-label routing never changes query results") {
    val base = Tables.customer(spark, sf)
    val routed = MapReduce.routeByLabel(
      base, when(col("c_custkey") % 2 === 0, "even").otherwise("odd"))
    val a = base.groupBy("c_mktsegment").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val b = routed.groupBy("c_mktsegment").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(a == b)
  }

  test("CR-only CSV reads all rows, not one giant line") {
    val dir = Files.createTempDirectory("graft_crcsv")
    val f = dir.resolve("ins.csv")
    // classic-Mac line endings, like the reference's insurance_sample.csv
    Files.writeString(f,
      "county,limit,value\rCLAY,10,1\rCLAY,5,2\rSUWANNEE,7,3\r")
    val df = Text.crCsv(spark, f.toString)
    assert(df.count() == 3)
    assert(df.columns.toSeq == Seq("county", "limit", "value"))
    val clay = df.filter(col("county") === "CLAY").count()
    assert(clay == 2)
  }

  test("textLines yields (filename, line) per line") {
    val dir = Files.createTempDirectory("graft_text")
    Files.writeString(dir.resolve("a.txt"), "one\ntwo\nthree\n")
    val df = Text.textLines(spark, dir.toString)
    assert(df.count() == 3)
    assert(df.filter(col("filename").contains("a.txt")).count() == 3)
  }

  test("xmlElementText yields element text in document order") {
    val dir = Files.createTempDirectory("graft_xml")
    Files.writeString(dir.resolve("d.xml"),
      "<root>r<a>alpha<b>beta</b></a><c>gamma</c></root>")
    val texts = Text.xmlElementText(spark, dir.toString)
      .select("text").as[String].collect().toSeq
    assert(texts == Seq("r", "alpha", "beta", "gamma"))
  }

  test("htmlLineText keeps the last text node per line") {
    val dir = Files.createTempDirectory("graft_html")
    Files.writeString(dir.resolve("p.html"),
      "<html><body>\n<p>first <b>second</b></p>\n<div></div>\n</body></html>\n")
    val rows = Text.htmlLineText(spark, dir.toString)
      .select("text").as[String].collect().toSeq
    assert(rows.contains("second"))   // last text node on the <p> line
    assert(rows.count(_ == null) >= 1) // tag-only lines yield null
  }

  test("htmlStripTags extracts full text") {
    val df = Seq("<p>hello <b>big</b> world</p>").toDF("h")
    val out = df.select(Text.htmlStripTags(col("h"))).as[String].head()
    assert(out == "hello big world")
  }
}

package ops {
  /** Test access to the private map-side buffer of [[MapReduce]]. */
  object MapSideGroupAccess {
    def apply[K, V](pairs: Iterator[(K, V)], combiner: Option[Seq[V] => Seq[V]],
                    bound: Int): Iterator[(K, Seq[V])] =
      MapReduce.mapSideGroup(pairs, combiner, bound)
  }
}
