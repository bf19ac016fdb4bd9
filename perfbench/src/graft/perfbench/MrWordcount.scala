package graft.perfbench

import java.nio.file.Path

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.Tables
import graft.ops.MapReduce
import graft.sources.Sink

/** `mr-wordcount`: remap's wordcount through the typed map/reduce contract
  * with its a2e/f2n/o2s/t2z/_default label routing, then collation through
  * the combiner path and a secondary sort, both written through the sink. */
final class MrWordcount extends Workload {
  val name = "mr-wordcount"

  private val nDocs = 12000
  private val meanLen = 100
  private val vocab = 40000

  private var dirs: Dirs = _
  private var tokens = 0L
  private var refCounts: Map[String, Long] = Map.empty
  private var refCollation: Map[String, (Int, String)] = Map.empty

  def generate(spark: SparkSession, seed: Long, d: Dirs): Unit = {
    dirs = d
    val docs = Gen.zipfCorpus(seed, nDocs, meanLen, vocab)
    Workload.writeDocuments(spark, docs, d)
    refCounts = Reference.wordcount(docs)
    refCollation = Reference.collation(docs)
    tokens = refCounts.values.sum
  }

  override def load(spark: SparkSession, tr: Tracer): Unit =
    Tables.documents(spark, dirs.data.toString).count()

  def warmup(spark: SparkSession, tr: Tracer): Unit =
    job(spark, dirs.out.resolve("warmup"), tr)

  def round(spark: SparkSession, i: Int, out: Path, tr: Tracer): Seq[JobResult] = {
    val t0 = System.nanoTime()
    job(spark, out, tr)
    Seq(JobResult((System.nanoTime() - t0) / 1e9, None))
  }

  private def job(spark: SparkSession, out: Path, tr: Tracer): Unit = {
    import spark.implicits._
    val docs = tr.span("tables.documents") {
      tr.materialize(Tables.documents(spark, dirs.data.toString))
    }
    val counts = tr.span("mapreduce.mapReduce") {
      tr.materialize(MapReduce.mapReduce[String, String, Long, String, Long](
        docs.select("text").as[String],
        line => MrWordcount.words(line).map(w => (MrWordcount.label(w), w, 1L)),
        (w, ones) => Iterator.single((w, ones.sum))).toDF("word", "n"))
    }
    val collation = tr.span("mapreduce.groupWithCombiner") {
      val pairs = docs.select("text", "source").as[(String, String)]
        .flatMap { case (text, source) => MrWordcount.words(text).map(w => (w, source)) }
      tr.materialize(MapReduce.groupWithCombiner[String, String](pairs, _.distinct)
        .toDF("word", "sources")
        .select(col("word"), size(col("sources")).as("n_sources"),
          array_join(array_sort(col("sources")), ",").as("sources_csv")))
    }
    val sorted = tr.span("mapreduce.secondarySort") {
      tr.materialize(MapReduce.secondarySort(collation, col("n_sources"), col("word")))
    }
    tr.span("sink.writeParquet") { Sink.writeParquet(counts, out.resolve("wordcount").toString) }
    tr.span("sink.writeParquet") { Sink.writeParquet(sorted, out.resolve("collation").toString) }
  }

  override def verify(spark: SparkSession, i: Int, out: Path): Seq[String] = {
    val bad = Seq.newBuilder[String]
    val counts = spark.read.parquet(out.resolve("wordcount").toString).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    if (counts != refCounts)
      bad += s"wordcount: ${(counts.toSet diff refCounts.toSet).size} rows differ " +
        s"(${counts.size} words, reference ${refCounts.size})"
    // read-back check of the secondary sort: rows of each part file in file
    // order must be sorted by (n_sources, word), and no n_sources value may
    // span two files
    val rows = spark.read.parquet(out.resolve("collation").toString)
      .withColumn("file", input_file_name())
      .withColumn("pos", monotonically_increasing_id())
      .collect()
      .map(r => (r.getAs[String]("file"), r.getAs[Long]("pos"), r.getAs[String]("word"),
        r.getAs[Int]("n_sources"), r.getAs[String]("sources_csv")))
    val got = rows.map(r => r._3 -> (r._4, r._5)).toMap
    if (rows.length != got.size || got != refCollation)
      bad += s"collation: ${(got.toSet diff refCollation.toSet).size} rows differ " +
        s"(${rows.length} rows, reference ${refCollation.size})"
    val byFile = rows.groupBy(_._1).values.map(_.sortBy(_._2).map(r => (r._4, r._3)).toSeq)
    if (!byFile.forall(f => f == f.sorted))
      bad += "collation: a part file is not sorted by (n_sources, word)"
    val keysPerFile = byFile.toSeq.map(_.map(_._1).toSet)
    if (keysPerFile.map(_.size).sum != keysPerFile.flatten.toSet.size)
      bad += "collation: an n_sources value spans more than one part file"
    bad.result()
  }

  override def layerMetrics(tr: Tracer, tracedJobs: Set[Int]): Map[String, Double] = {
    val mr = tr.allSpans.filter(s => tracedJobs(s.job) && s.name.startsWith("mapreduce."))
    val records = tr.stagesOf(mr.map(_.id).toSet).map(_.shuffleWriteRecords).sum
    // both map functions emit one record per token
    Map("mapreduce.combine_ratio" -> records.toDouble / (2.0 * tokens * tracedJobs.size))
  }
}

object MrWordcount {
  def words(line: String): Iterator[String] =
    line.toLowerCase(java.util.Locale.ROOT).split("\\s+").iterator.filter(_.nonEmpty)

  /** remap wordcount's partition labels (`examples/wordcount/wordcount.py`). */
  def label(w: String): String = w.head match {
    case c if c >= 'a' && c <= 'e' => "a2e"
    case c if c >= 'f' && c <= 'n' => "f2n"
    case c if c >= 'o' && c <= 's' => "o2s"
    case c if c >= 't' && c <= 'z' => "t2z"
    case _ => "_default"
  }
}
