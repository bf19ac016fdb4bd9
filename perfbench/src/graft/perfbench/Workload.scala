package graft.perfbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Outcome of one job: its latency, and a failure reason when the job threw
  * or its output did not match the reference. */
final case class JobResult(seconds: Double, failure: Option[String])

/** Where a workload keeps its generated inputs and its outputs. */
final case class Dirs(data: Path, out: Path)

/** One benchmark workload. The harness calls, in order: [[generate]] once
  * (untimed), then [[load]] and [[warmup]] once per set-up (timed as
  * set-up), then [[round]] repeatedly with the clock running only inside
  * it, and [[verify]] after each round (untimed). */
trait Workload {
  def name: String

  /** Build inputs from the seed and write them under `dirs.data`; compute
    * the references. Not part of any timed phase. */
  def generate(spark: SparkSession, seed: Long, dirs: Dirs): Unit

  /** Input load, part of set-up. */
  def load(spark: SparkSession, tr: Tracer): Unit = ()

  /** The warm-up job, part of set-up: one job on the same inputs, so the
    * first measured job runs on a warm JVM. */
  def warmup(spark: SparkSession, tr: Tracer): Unit

  /** One round: normally one job; `jobs-mixed` runs one job per client
    * concurrently. Outputs go under `out`. */
  def round(spark: SparkSession, i: Int, out: Path, tr: Tracer): Seq[JobResult]

  /** The measured loop stops only after a multiple of this many rounds. */
  def roundsPerCycle: Int = 1

  /** Compare round `i`'s outputs in `out` with the references; returns the
    * mismatches found (empty = correct). */
  def verify(spark: SparkSession, i: Int, out: Path): Seq[String] = Nil

  /** Per-layer values this workload reports beyond the generic ones. */
  def layerMetrics(tr: Tracer, tracedJobs: Set[Int]): Map[String, Double] = Map.empty

  /** Workload-specific figures for the run header line (e.g. recall). */
  def summary: Map[String, Any] = Map.empty

  /** Release whatever [[load]] started (servers, pools). */
  def close(): Unit = ()
}

object Workload {
  def all: Seq[String] = Seq("mr-wordcount", "pregel-graph", "dedup-pipeline", "jobs-mixed")

  def apply(name: String): Workload = name match {
    case "mr-wordcount"   => new MrWordcount
    case "pregel-graph"   => new PregelGraph
    case "dedup-pipeline" => new DedupPipeline
    case "jobs-mixed"     => new JobsMixed
    case other => throw new IllegalArgumentException(
      s"unknown workload '$other' (known: ${all.mkString(", ")})")
  }

  /** Write generated rows as one parquet table (plain Spark writer: input
    * generation must not go through the sink layer under test). */
  def writeTable(df: DataFrame, path: Path): Unit =
    df.write.mode("overwrite").parquet(path.toString)

  /** Write a generated corpus as the `documents` table. */
  def writeDocuments(spark: SparkSession, docs: Seq[Gen.Doc], dirs: Dirs): Unit =
    writeTable(spark.createDataFrame(docs).toDF("doc_id", "text", "lang", "source", "n_chars"),
      dirs.data.resolve("documents.parquet"))

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(x => Files.delete(x))
      finally s.close()
    }
}
