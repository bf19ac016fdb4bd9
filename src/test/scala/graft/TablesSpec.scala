package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.SparkJobs
import org.apache.spark.sql.types._

/** Loader contract: both `ts` physical vintages normalize to the same
  * instant, and schema drift fails with ONE clear message at load time
  * (round-6 lesson: a silent testdata regeneration surfaced as 16
  * query-shaped DATATYPE_MISMATCH stack traces instead). */
class TablesSpec extends GraftSuite {

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  test("events loads from driver testdata with ts as TimestampType") {
    val ev = Tables.events(spark, sf)
    assert(ev.schema("ts").dataType == TimestampType)
    assert(ev.limit(1).count() == 1)
  }

  test("both ts vintages (INT64-nanos, TIMESTAMP_MICROS ntz) yield identical instants") {
    import spark.implicits._
    val dir = tmp("graft_ts_vintage")
    // one known instant: 2026-01-02 03:04:05.123456 UTC
    val micros = 1767323045123456L
    // legacy vintage: plain INT64 column holding nanos (what nanosAsLong
    // handed the old TIMESTAMP(NANOS) files to us as)
    Seq((1L, micros * 1000L)).toDF("event_id", "ts")
      .write.mode("overwrite").parquet(s"$dir/legacy/events.parquet")
    // current vintage: TIMESTAMP_NTZ micros (what Spark 4 reads the
    // regenerated isAdjustedToUTC=false TIMESTAMP_MICROS files as)
    Seq((1L, java.time.LocalDateTime.ofEpochSecond(
        micros / 1000000L, ((micros % 1000000L) * 1000L).toInt,
        java.time.ZoneOffset.UTC)))
      .toDF("event_id", "ts")
      .write.mode("overwrite").parquet(s"$dir/ntz/events.parquet")

    def instant(vintage: String): Long = {
      val df = Tables.normalizeEventTs(
        spark.read.parquet(s"$dir/$vintage/events.parquet"))
      assert(df.schema("ts").dataType == TimestampType)
      df.select(unix_micros(col("ts"))).as[Long].head()
    }
    assert(instant("legacy") == micros)
    assert(instant("ntz") == micros)
  }

  test("ts already TimestampType passes through unchanged") {
    import spark.implicits._
    val df = Seq((1L, new java.sql.Timestamp(1700000000000L)))
      .toDF("event_id", "ts")
    assert(Tables.normalizeEventTs(df) eq df)
  }

  test("unknown ts vintage fails with a message naming the column") {
    import spark.implicits._
    val df = Seq((1L, "2026-01-01")).toDF("event_id", "ts")
    val e = intercept[IllegalStateException](Tables.normalizeEventTs(df))
    assert(e.getMessage.contains("events.ts"))
    assert(e.getMessage.contains("StringType"))
  }

  test("schema sentinel fires on a drifted parquet, naming table and columns") {
    import spark.implicits._
    val dir = tmp("graft_drift")
    // 'documents' missing text/lang/source/n_chars
    Seq((1L, "x")).toDF("doc_id", "body")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val e = intercept[IllegalStateException](
      Tables(spark, dir, "documents"))
    assert(e.getMessage.contains("documents"))
    assert(e.getMessage.contains("text"))
    assert(e.getMessage.contains("schema drift"))
  }

  test("all ten driver tables pass the sentinel at sf0.001") {
    Tables.names.foreach { n =>
      assert(Tables(spark, sf, n).columns.nonEmpty, n)
    }
  }

  test("events instants are session-timezone independent (NTZ vintage)") {
    // a caller-built session in another zone must read the SAME instants
    // — java.sql.Timestamp compares by epoch, so equal sets ⇔ equal
    // instants regardless of each session's rendering
    val other = spark.newSession()
    other.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
    val utc = Tables.events(spark, sf)
      .select("event_id", "ts").collect()
      .map(r => r.getLong(0) -> r.getTimestamp(1).getTime).toMap
    val la = Tables.events(other, sf)
      .select("event_id", "ts").collect()
      .map(r => r.getLong(0) -> r.getTimestamp(1).getTime).toMap
    assert(la == utc, "events.ts shifted under a non-UTC session")
  }

  // ------------------------------------------------------ schema resolver
  private def jobs(body: => Unit): Int = SparkJobs.onThisThread(spark)(body)

  test("resolver: every driver table's schema equals a plain inference") {
    Tables.names.foreach { n =>
      val path = s"$sf/$n.parquet"
      val ref = spark.read.parquet(path).schema
      assert(Tables.schemaOf(spark, path) == ref, n)
      if (n != "events") assert(Tables(spark, sf, n).schema == ref, n)
    }
  }

  test("resolver: a second load of a driver table starts no Spark job") {
    Tables.names.foreach(n => Tables(spark, sf, n))
    Tables.names.foreach { n =>
      assert(jobs(Tables(spark, sf, n).schema) == 0, n)
    }
  }

  test("resolver: a table rewritten in place is inferred again") {
    import spark.implicits._
    val dir = tmp("graft_rewrite")
    def write(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val full = Seq((1L, "some text", "en", "web", 9)).toDF(
      "doc_id", "text", "lang", "source", "n_chars")
    write(full)
    assert(jobs(Tables(spark, dir, "documents")) == 1)
    assert(jobs(Tables(spark, dir, "documents")) == 0)
    write(full.drop("text"))
    var drift: IllegalStateException = null
    assert(jobs {
      drift = intercept[IllegalStateException](Tables(spark, dir, "documents"))
    } == 1)
    assert(drift.getMessage.contains("schema drift") &&
      drift.getMessage.contains("text"), drift.getMessage)
    write(full)
    val back = Tables(spark, dir, "documents")
    assert(back.columns.toSeq == full.columns.toSeq)
    assert(back.as[(Long, String, String, String, Int)].collect().toSeq ==
      Seq((1L, "some text", "en", "web", 9)))
  }

  test("resolver: flipping nanosAsLong on a nanos-vintage events table infers again") {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    val dir = tmp("graft_nanos")
    val path = s"$dir/events.parquet"
    // parquet TIMESTAMP(NANOS), the rounds 1–5 vintage; Spark cannot write
    // it, so the parquet example writer does
    val schema = MessageTypeParser.parseMessageType(
      """message events { required int64 event_id;
        |  required int64 ts (TIMESTAMP(NANOS,true)); required int64 user_id;
        |  required binary event_type (STRING); required double value;
        |  required binary props (STRING); }""".stripMargin)
    val micros = 1767323045123456L
    val w = ExampleParquetWriter.builder(new org.apache.hadoop.fs.Path(path))
      .withType(schema).build()
    try w.write(new SimpleGroupFactory(schema).newGroup()
      .append("event_id", 1L).append("ts", micros * 1000L)
      .append("user_id", 7L).append("event_type", "click")
      .append("value", 1.5).append("props", "{}"))
    finally w.close()

    val s = spark.newSession()
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    def instant(): Long = {
      val ev = Tables.events(s, dir)
      assert(ev.schema("ts").dataType == TimestampType)
      ev.select(unix_micros(col("ts"))).head().getLong(0)
    }
    s.conf.set(key, "true")
    assert(jobs(Tables.events(s, dir)) == 1)
    assert(instant() == micros)
    assert(Tables.schemaOf(s, path)("ts").dataType == LongType)
    // the flipped conf is part of the key: the cached INT64 schema is not
    // handed out, the footer is read again under the new setting
    s.conf.set(key, "false")
    assert(jobs {
      val again = scala.util.Try(Tables.schemaOf(s, path))
      assert(again.isFailure || again.get("ts").dataType != LongType, again)
    } == 1)
    // the loader sets the conf back itself, and the instant is unchanged
    assert(instant() == micros)
    assert(s.conf.get(key) == "true")
  }

  test("resolver: at most maxResolvedPaths paths are kept, least recent out") {
    import spark.implicits._
    val src = tmp("graft_cap_src")
    Seq((1L, "x")).toDF("k", "v").coalesce(1).write.parquet(s"$src/t")
    val part = java.nio.file.Files.list(java.nio.file.Paths.get(s"$src/t"))
      .filter(_.getFileName.toString.endsWith(".parquet")).findFirst().get
    val dir = tmp("graft_cap")
    val paths = (0 to Tables.maxResolvedPaths).map { i =>
      val p = java.nio.file.Paths.get(dir, s"t$i.parquet")
      java.nio.file.Files.copy(part, p)
      p.toString
    }
    paths.foreach(p => Tables.schemaOf(spark, p))
    assert(Tables.resolvedPaths <= Tables.maxResolvedPaths)
    assert(jobs(Tables.schemaOf(spark, paths.last)) == 0)
    assert(jobs(Tables.schemaOf(spark, paths.head)) == 1)
  }
}
