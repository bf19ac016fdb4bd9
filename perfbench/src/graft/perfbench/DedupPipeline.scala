package graft.perfbench

import java.nio.file.Path

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.Tables
import graft.ext.Dedup
import graft.graph.Algorithms
import graft.sources.Sink

/** `dedup-pipeline`: MinHash-LSH near-duplicate pairs → undirected edges →
  * connected components → one canonical document per cluster, over a
  * corpus with planted near-duplicate clusters. The pairs and the picks are
  * written through the sink; the components read the written pairs back,
  * as a pipeline that keeps its intermediate result would. */
final class DedupPipeline extends Workload {
  val name = "dedup-pipeline"

  private val nBackground = 3000
  private val nClusters = 400
  private val docLen = 100
  private val vocab = 40000
  private val threshold = 0.8

  private var dirs: Dirs = _
  private var text: Map[Long, String] = Map.empty
  private var nChars: Map[Long, Long] = Map.empty
  private var planted: Set[(Long, Long)] = Set.empty
  /** Label-propagation supersteps over the planted-pair graph. */
  private var ccSteps = 0
  private val recalls = scala.collection.mutable.ArrayBuffer.empty[Double]

  def generate(spark: SparkSession, seed: Long, d: Dirs): Unit = {
    dirs = d
    val (docs, p) = Gen.plantedDupCorpus(seed, nBackground, nClusters, docLen, vocab)
    Workload.writeDocuments(spark, docs, d)
    text = docs.map(x => x.docId -> x.text).toMap
    nChars = docs.map(x => x.docId -> x.nChars).toMap
    planted = p
    ccSteps = Reference.labelPropagationSupersteps(docs.map(_.docId).toArray,
      p.toArray.flatMap(e => Seq(e, e.swap)))
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
    val docs = tr.span("tables.documents") {
      tr.materialize(Tables.documents(spark, dirs.data.toString))
    }
    if (tr.enabled) {
      // the public stages before verification are lazy: materialize each
      // one so its cost and its row count are measured on their own
      val sigs = tr.span("dedup.minHashSignatures") {
        tr.materialize(Dedup.minHashSignatures(docs, "doc_id", "text", 3, 64))
      }
      tr.span("dedup.lshCandidates") {
        val c = tr.materialize(Dedup.lshCandidates(sigs, "doc_id", col("sig"), 16, sigLen = 64))
        tr.record("dedup.candidates", c.count().toDouble)
      }
    }
    val pairs = tr.span("dedup.nearDupMinHash") {
      tr.materialize(Dedup.nearDupMinHash(docs, "doc_id", "text", threshold = threshold))
    }
    tr.span("sink.writeParquet") { Sink.writeParquet(pairs, out.resolve("pairs").toString) }
    val written = spark.read.parquet(out.resolve("pairs").toString)
    if (tr.enabled) tr.record("dedup.verified_pairs", written.count().toDouble)
    tr.record("pregel.supersteps", ccSteps.toDouble)
    val clusters = tr.span("pregel.connectedComponents") {
      Algorithms.connectedComponents(docs.select(col("doc_id").as("id")),
        Dedup.undirectedEdges(written), maxIter = Int.MaxValue)
    }.select(col("id").as("doc_id"), col("component").as("cluster"))
    val picks = tr.span("dedup.canonicalPick") {
      tr.materialize(Dedup.canonicalPick(clusters, docs, "doc_id", "n_chars"))
    }
    tr.span("sink.writeParquet") { Sink.writeParquet(picks, out.resolve("picks").toString) }
  }

  override def verify(spark: SparkSession, i: Int, out: Path): Seq[String] = {
    val bad = Seq.newBuilder[String]
    val pairs = spark.read.parquet(out.resolve("pairs").toString).collect().map { r =>
      (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"), r.getAs[Int]("inter"),
        r.getAs[Int]("n_a"), r.getAs[Int]("n_b"), r.getAs[Double]("jaccard"))
    }
    // every output pair: exact shingle-set sizes and Jaccard ≥ threshold
    val wrong = pairs.count { case (a, b, inter, na, nb, j) =>
      val sa = Reference.shingles(text(a), 3)
      val sb = Reference.shingles(text(b), 3)
      val exact = Reference.jaccard(sa, sb)
      a >= b || sa.size != na || sb.size != nb || sa.count(sb.contains) != inter ||
        exact < threshold || math.abs(exact - j) > 1e-6
    }
    if (wrong > 0) bad += s"pairs: $wrong of ${pairs.length} pairs fail the exact Jaccard check"
    val found = pairs.map(p => (p._1, p._2)).toSet
    recalls += planted.count(found).toDouble / planted.size
    // clusters and survivors: union-find over the output pairs
    val comp = Reference.components(text.keys, found)
    val want = comp.groupBy(_._2).map { case (cluster, members) =>
      val ids = members.keys.toSeq
      val keepChars = ids.map(nChars).max
      cluster -> (ids.filter(nChars(_) == keepChars).min, ids.size.toLong, keepChars,
        ids.map(nChars).sum - keepChars)
    }
    val got = spark.read.parquet(out.resolve("picks").toString).collect().map { r =>
      r.getAs[Long]("cluster") -> (r.getAs[Long]("keep_id"), r.getAs[Long]("n_members"),
        r.getAs[Long]("keep_chars"), r.getAs[Long]("chars_dropped"))
    }
    if (got.length != want.size || got.toMap != want)
      bad += s"picks: ${(got.toSet diff want.toSet).size} clusters differ " +
        s"(${got.length} rows, reference ${want.size})"
    bad.result()
  }

  override def layerMetrics(tr: Tracer, tracedJobs: Set[Int]): Map[String, Double] = {
    val cand = tr.recordedValues("dedup.candidates", tracedJobs)
    val verified = tr.recordedValues("dedup.verified_pairs", tracedJobs)
    Map("dedup.candidates" -> Stats.mean(cand),
      "dedup.verified_pairs" -> Stats.mean(verified),
      "dedup.candidate_yield" -> (if (cand.sum > 0) verified.sum / cand.sum else 0.0))
  }

  override def summary: Map[String, Any] = Map(
    "planted_pairs" -> planted.size,
    "dup_recall" -> (if (recalls.isEmpty) None else Some(recalls.min)))
}
