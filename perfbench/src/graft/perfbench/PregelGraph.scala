package graft.perfbench

import java.nio.file.Path

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.graph.Algorithms
import graft.sources.Sink

/** `pregel-graph`: PageRank for 30 supersteps (the reference's cap) and
  * connected components until every vertex votes to halt, over a seeded
  * R-MAT graph plus one path component; both results written through the
  * sink. */
final class PregelGraph extends Workload {
  val name = "pregel-graph"

  private val scale = 13
  private val nEdges = 50000
  private val iters = 30
  private val warmupIters = 3
  private val chainLength = 9
  /** PageRank values must match power iteration to this relative error. */
  private val tolerance = 1e-9

  private var dirs: Dirs = _
  private var ids: Array[Long] = Array.empty
  private var refRank: Map[Long, Double] = Map.empty
  private var refComp: Map[Long, Long] = Map.empty
  private var ccSteps = 0

  def generate(spark: SparkSession, seed: Long, d: Dirs): Unit = {
    dirs = d
    import spark.implicits._
    val (rv, re) = Gen.rmat(seed, scale, nEdges)
    // a separate path component whose smallest id sits at one end: min-label
    // propagation needs exactly chainLength supersteps to settle it, more
    // than the R-MAT part ever needs, so the component search runs the same
    // number of supersteps on every seed
    val chain = Array.tabulate(chainLength)(k => rv.length.toLong + k)
    val v = rv ++ chain
    val e = re ++ chain.sliding(2).map(p => (p(0), p(1)))
    ids = v
    Workload.writeTable(v.toSeq.toDF("id"), d.data.resolve("vertices.parquet"))
    Workload.writeTable(e.toSeq.toDF("src", "dst"), d.data.resolve("edges.parquet"))
    refRank = Reference.pageRank(v.length, v, e, iters)
    val both = e ++ e.map(_.swap)
    refComp = Reference.components(v, both)
    ccSteps = Reference.labelPropagationSupersteps(v, both)
  }

  /** The job's calls with both loops capped at one block of supersteps:
    * the same plans and code paths at a fraction of the job's time. */
  def warmup(spark: SparkSession, tr: Tracer): Unit =
    job(spark, dirs.out.resolve("warmup"), tr, warmupIters)

  def round(spark: SparkSession, i: Int, out: Path, tr: Tracer): Seq[JobResult] = {
    val t0 = System.nanoTime()
    job(spark, out, tr)
    Seq(JobResult((System.nanoTime() - t0) / 1e9, None))
  }

  private def job(spark: SparkSession, out: Path, tr: Tracer,
                  cap: Int = Int.MaxValue): Unit = {
    val v = spark.read.parquet(dirs.data.resolve("vertices.parquet").toString)
    val e = spark.read.parquet(dirs.data.resolve("edges.parquet").toString)
    val ranks = tr.span("pregel.pageRank") { Algorithms.pageRank(v, e, math.min(iters, cap)) }
    val undirected = e.select(col("src"), col("dst"))
      .union(e.select(col("dst").as("src"), col("src").as("dst")))
    val comps = tr.span("pregel.connectedComponents") {
      Algorithms.connectedComponents(v, undirected, maxIter = cap)
    }
    tr.record("pregel.supersteps", (iters + ccSteps).toDouble)
    tr.span("sink.writeParquet") { Sink.writeParquet(ranks, out.resolve("pagerank").toString) }
    tr.span("sink.writeParquet") { Sink.writeParquet(comps, out.resolve("components").toString) }
  }

  override def verify(spark: SparkSession, i: Int, out: Path): Seq[String] = {
    val bad = Seq.newBuilder[String]
    val ranks = spark.read.parquet(out.resolve("pagerank").toString).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val off = refRank.count { case (id, want) =>
      ranks.get(id).forall(got => math.abs(got - want) > tolerance * math.abs(want))
    }
    if (ranks.size != refRank.size || off > 0)
      bad += s"pagerank: $off of ${refRank.size} ranks off by more than $tolerance " +
        s"(${ranks.size} rows)"
    val comps = spark.read.parquet(out.resolve("components").toString).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    if (comps != refComp)
      bad += s"components: ${(comps.toSet diff refComp.toSet).size} labels differ " +
        s"(${comps.size} rows, reference ${refComp.size})"
    bad.result()
  }

  override def summary: Map[String, Any] =
    Map("vertices" -> ids.length, "cc_supersteps" -> ccSteps)
}
