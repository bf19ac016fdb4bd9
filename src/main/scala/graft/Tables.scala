package graft

import java.io.FileNotFoundException

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
import org.apache.spark.sql.types._

/** Loaders for the driver-generated parquet tables (see TESTDATA.md).
  *
  * All graft queries take `(SparkSession, sfDir)` and load inputs through
  * here so the scan always goes through the vectorized parquet reader with
  * Catalyst column pruning / predicate pushdown intact.
  *
  * Every load passes a schema sentinel ([[sentinel]]): the driver has
  * regenerated `/root/testdata` mid-round before with a changed physical
  * type (r6: `events.ts` INT64-nanos → TIMESTAMP_MICROS), which surfaced as
  * 16 unrelated query-shaped stack traces. The sentinel turns the next such
  * drift into ONE clear error naming the table and column.
  *
  * Every load reads with a schema from [[schemaOf]], the one schema
  * resolver. A bare `spark.read.parquet(path)` infers the schema by running
  * a Spark job that reads a footer, before the query's own action; on the
  * job API that job was part of every submission's fixed cost. The resolver
  * infers once per path and keeps the schema while its key still matches:
  *   - the path's data-file listing (name, length and modification time of
  *     every file, `_`/`.` files excluded), so a table rewritten in place is
  *     inferred again and the sentinel sees the new columns;
  *   - the session's parquet-reader confs that are set
  *     (`spark.sql.parquet.*`, `spark.sql.legacy.parquet.*`,
  *     `spark.sql.caseSensitive`), so `nanosAsLong` and the other reader
  *     switches that change the inferred types are honoured per session.
  * It holds at most [[maxResolvedPaths]] paths and evicts the least
  * recently used, so a long-lived driver stays bounded. A cached schema
  * costs one driver-side listing of the path and no Spark job.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Columns every query layer assumes present, per table. Names only —
    * physical types are allowed to drift where [[normalizeEventTs]] can
    * adapt; missing/renamed columns cannot be adapted to and must fail
    * loudly at load. */
  private val expectedCols: Map[String, Seq[String]] = Map(
    "region"     -> Seq("r_regionkey", "r_name"),
    "nation"     -> Seq("n_nationkey", "n_name", "n_regionkey"),
    "customer"   -> Seq("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"),
    "supplier"   -> Seq("s_suppkey", "s_name", "s_nationkey", "s_acctbal"),
    "part"       -> Seq("p_partkey", "p_name", "p_brand", "p_type", "p_size", "p_retailprice"),
    "orders"     -> Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
                        "o_orderdate", "o_orderpriority"),
    "lineitem"   -> Seq("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
                        "l_quantity", "l_extendedprice", "l_discount", "l_tax",
                        "l_returnflag", "l_linestatus", "l_shipdate"),
    "events"     -> Seq("event_id", "ts", "user_id", "event_type", "value", "props"),
    "documents"  -> Seq("doc_id", "text", "lang", "source", "n_chars"),
    "embeddings" -> Seq("vec_id", "embedding", "label"))

  private def sentinel(name: String, df: DataFrame): DataFrame = {
    val have = df.schema.fieldNames.toSet
    val missing = expectedCols.getOrElse(name, Nil).filterNot(have)
    if (missing.nonEmpty) throw new IllegalStateException(
      s"testdata schema drift: table '$name' is missing expected column(s) " +
        s"${missing.mkString(", ")} — found ${df.schema.fieldNames.mkString(", ")}. " +
        "The driver likely regenerated /root/testdata with a new layout; " +
        "update graft.Tables.expectedCols and any per-column adapters.")
    df
  }

  def apply(spark: SparkSession, dir: String, name: String): DataFrame =
    if (name == "events") events(spark, dir)
    else sentinel(name, read(spark, s"$dir/$name.parquet"))

  private def read(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(schemaOf(spark, path)).parquet(path)

  /** Paths the schema resolver keeps at most. */
  private[graft] val maxResolvedPaths = 64

  private final case class Resolved(files: Seq[(String, Long, Long)],
                                    confs: Map[String, String],
                                    schema: StructType)

  // access-ordered, so the eldest entry is the least recently used
  private val resolved =
    new java.util.LinkedHashMap[String, Resolved](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, Resolved]): Boolean =
        size > maxResolvedPaths
    }

  private[graft] def resolvedPaths: Int = resolved.synchronized(resolved.size)

  /** The parquet schema at `path` as `spark.read.parquet(path).schema`
    * gives it, inferred only when the path's files or the session's
    * parquet-reader confs changed since the last inference (see the object
    * Scaladoc). A missing path is never cached: the inference raises
    * Spark's usual error. */
  private[graft] def schemaOf(spark: SparkSession, path: String): StructType = {
    val files = dataFiles(spark, path)
    val confs = spark.conf.getAll.filter { case (k, _) =>
      k.startsWith("spark.sql.parquet.") ||
        k.startsWith("spark.sql.legacy.parquet.") ||
        k == "spark.sql.caseSensitive"
    }
    resolved.synchronized(Option(resolved.get(path)))
      .filter(r => r.files == files && r.confs == confs)
      .map(_.schema)
      .getOrElse {
        val schema = spark.read.parquet(path).schema
        resolved.synchronized(resolved.put(path, Resolved(files, confs, schema)))
        schema
      }
  }

  private def dataFiles(spark: SparkSession, path: String): Seq[(String, Long, Long)] = {
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    def walk(st: FileStatus): Seq[(String, Long, Long)] =
      if (st.isDirectory) fs.listStatus(st.getPath).toSeq
        .filterNot { c =>
          val n = c.getPath.getName
          n.startsWith("_") || n.startsWith(".")
        }
        .sortBy(_.getPath.getName).flatMap(walk)
      else Seq((st.getPath.toString, st.getLen, st.getModificationTime))
    try walk(fs.getFileStatus(root))
    catch { case _: FileNotFoundException => Nil }
  }

  /** `events.ts` has shipped in two physical vintages:
    *   - parquet TIMESTAMP(NANOS), which Spark's vectorized reader only
    *     accepts as INT64 via `spark.sql.legacy.parquet.nanosAsLong`
    *     (rounds 1–5 testdata);
    *   - parquet TIMESTAMP_MICROS with isAdjustedToUTC=false, which Spark 4
    *     reads as TIMESTAMP_NTZ (round-6+ regenerated testdata).
    * The conf is set as a safety net for caller-built sessions (it is inert
    * for micros files) and [[normalizeEventTs]] branches on whatever type
    * actually arrived, so either vintage loads.
    */
  private def eventsRaw(spark: SparkSession, dir: String): DataFrame = {
    if (spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false") != "true")
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    read(spark, s"$dir/events.parquet")
  }

  /** Normalize whatever physical type `ts` arrived as to a session-local
    * TimestampType (micros). Event-time semantics downstream (windows,
    * watermarks, as-of joins) are at >= second granularity, so the
    * nanos→micros truncation on the legacy vintage is safe. Sessions run
    * with spark.sql.session.timeZone=UTC (LocalSession/SparkTestBase), so
    * the NTZ→TIMESTAMP cast is a value-preserving reinterpretation.
    *
    * Works on streaming DataFrames too — the branch is on the analyzed
    * schema, not on data. */
  def normalizeEventTs(df: DataFrame, column: String = "ts"): DataFrame =
    df.schema(column).dataType match {
      case LongType =>
        // `div` is exact integer division — nano epoch values (~1.7e18)
        // overflow double's 2^53 exact range, so `/ 1000` would be off by
        // 1µs on some rows.
        df.withColumn(column, timestamp_micros(expr(s"$column div 1000")))
      case TimestampType => df
      case TimestampNTZType =>
        // The NTZ micros are UTC wall-clock by the data's contract. A bare
        // NTZ→TIMESTAMP cast interprets them in the SESSION time zone —
        // correct only under UTC sessions (LocalSession/SparkTestBase).
        // For a caller-built session in another zone, shift the wall
        // clock to session-local first so the cast lands on the same
        // instant instead of silently sliding every event by the zone
        // offset. (Within the 1h/year DST-ambiguous window a non-UTC
        // session can still be off by the overlap — run event-time
        // pipelines in UTC sessions, like every sanctioned entry point.)
        val tz = df.sparkSession.sessionState.conf.sessionLocalTimeZone
        val asTs =
          if (tz == "UTC") col(column).cast(TimestampType)
          else expr(s"cast(convert_timezone('UTC', '$tz', $column) as timestamp)")
        df.withColumn(column, asTs)
      case other => throw new IllegalStateException(
        s"testdata schema drift: events.$column arrived as $other — expected " +
          "INT64 (legacy nanosAsLong), TIMESTAMP, or TIMESTAMP_NTZ. " +
          "Teach graft.Tables.normalizeEventTs the new vintage.")
    }

  def region(spark: SparkSession, dir: String): DataFrame     = apply(spark, dir, "region")
  def nation(spark: SparkSession, dir: String): DataFrame     = apply(spark, dir, "nation")
  def customer(spark: SparkSession, dir: String): DataFrame   = apply(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame   = apply(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame       = apply(spark, dir, "part")
  def orders(spark: SparkSession, dir: String): DataFrame     = apply(spark, dir, "orders")
  def lineitem(spark: SparkSession, dir: String): DataFrame   = apply(spark, dir, "lineitem")
  def events(spark: SparkSession, dir: String): DataFrame =
    normalizeEventTs(sentinel("events", eventsRaw(spark, dir)))
  def documents(spark: SparkSession, dir: String): DataFrame  = apply(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "embeddings")
}
