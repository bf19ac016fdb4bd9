package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Text sources and the reference's golden text pipelines.
  *
  * Sources mirror the reference readers (`/root/reference/daemons/core/
  * remap.py:20-90`): `TextFileReader` (S1) yields `(filename, line)`,
  * `XMLFileReader` (S2) yields every element's text in document order,
  * `HTMLFileReader` (S3) yields the last text node seen per input line,
  * and the CR-only-line-ending CSV fixture (S6,
  * `testdata/csv/insurance_sample.csv`). Each becomes a DataFrame scan so
  * downstream ops stay in Catalyst; the per-file parse for XML runs inside
  * `flatMap` on executors — one task per file split, no driver round-trip.
  *
  * The query entries are the reference's flagship examples re-expressed
  * declaratively over the `documents` corpus: wordcount
  * (`examples/wordcount/wordcount.py:20-41`), collation / inverted index
  * (`examples/collation/collation.py:21-42`), and secondary-sorted group
  * materialization (`examples/secondarysort/secondarysort.py:9-20`).
  */
object Text {

  // ------------------------------------------------------------------ S1
  /** `(filename, line)` rows — `TextFileReader.read` parity
    * (`remap.py:26-32`). Progress/isComplete collapse into Spark metrics. */
  def textLines(spark: SparkSession, path: String): DataFrame =
    spark.read.textFile(path)
      .select(input_file_name().as("filename"), col("value").as("line"))

  // ------------------------------------------------------------------ S2
  /** Element text in document order per file — `XMLFileReader` parity
    * (`remap.py:43-66`, ElementTree `.iter()` + `.text`). Whole-doc parse
    * per file, executed per-partition on executors. `.text` in ElementTree
    * is the text directly under the element before its first child; we
    * match that by concatenating direct child text nodes. */
  def xmlElementText(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    spark.read.option("wholetext", "true").textFile(path)
      .select(input_file_name().as("filename"), col("value"))
      .as[(String, String)]
      .flatMap { case (file, doc) =>
        def walk(e: scala.xml.Node): Iterator[scala.xml.Elem] = e match {
          case el: scala.xml.Elem =>
            Iterator.single(el) ++ el.child.iterator.flatMap(walk)
          case _ => Iterator.empty
        }
        walk(scala.xml.XML.loadString(doc)).map { el =>
          val direct = el.child.takeWhile(!_.isInstanceOf[scala.xml.Elem])
            .collect { case t: scala.xml.Text => t.data }.mkString
          (file, if (direct.isEmpty) null else direct)
        }
      }.toDF("filename", "text")
  }

  // ------------------------------------------------------------------ S3
  /** Strip HTML tags from a column — codegen'd regexp, no UDF. */
  def htmlStripTags(c: Column): Column =
    trim(regexp_replace(regexp_replace(c, "<[^>]*>", " "), "\\s+", " "))

  /** Last text node per input line — `HTMLFileReader` parity
    * (`remap.py:68-90`: `handle_data` keeps only the last chunk per line;
    * lossy by design). Deviation: the reference carries the previous
    * line's data over when a line has no text node — we yield null there
    * instead of duplicating stale text. */
  def htmlLineText(spark: SparkSession, path: String): DataFrame =
    textLines(spark, path).select(
      col("filename"),
      {
        val texts = filter(
          split(regexp_replace(col("line"), "<[^>]*>", "\u0000"), "\u0000"),
          t => trim(t) =!= "")
        when(size(texts) > 0, element_at(texts, -1)).otherwise(null)
      }.as("text"))

  // ------------------------------------------------------------------ S6
  /** CR-only line endings (classic-Mac CSV) — the reference's
    * `insurance_sample.csv` fixture. A default read silently yields one
    * giant row; `lineSep \r` pins it. */
  def crCsv(spark: SparkSession, path: String, header: Boolean = true): DataFrame =
    spark.read
      .option("lineSep", "\r")
      .option("header", header.toString)
      .csv(path)

  // ------------------------------------------------------------ tokenizer
  /** Whitespace tokenizer: the Spark form of wordcount's
    * translate+split+lower (`wordcount.py:21-27`). Stays in whole-stage
    * codegen — no UDF. */
  def tokenize(c: Column): Column =
    filter(split(lower(c), "\\s+"), w => w =!= "")

  /** `explode(tokenize(text))` without the higher-order `filter`: HOF
    * lambdas evaluate interpreted inside the Generate operator (no
    * whole-stage codegen) — measured ~3× slower over the documents corpus.
    * Exploding the raw split and dropping empties with a plain, codegen'd
    * Filter yields identical rows. Use this in exploded hot paths;
    * [[tokenize]] remains for per-row array contexts. */
  def explodeTokens(df: DataFrame, text: String, as: String): DataFrame =
    df.withColumn(as, explode(split(lower(col(text)), "\\s+")))
      .filter(col(as) =!= "")

  /** POSITIONAL token stream — the q95 contract: lowercase, trim,
    * whitespace-split, empties dropped AFTER positioning, so `pos` is a
    * raw-split index and adjacency is exactly `pos + 1` (empty tokens
    * break adjacency chains, by design). Every positional operator
    * (cooccurrence, bigram LM, span excision, DSIR, phrase search) goes
    * through here: the tokenization convention is corpus-wide, and five
    * hand-copied spellings of it would fork silently on the first edit.
    * All non-`text` columns of `df` are carried through. */
  def posTokens(df: DataFrame, text: String, as: String = "w"): DataFrame =
    df.select(df.columns.filter(_ != text).map(col) :+
        posexplode(split(lower(trim(col(text))), "\\s+")).as(Seq("pos", as)): _*)
      .filter(col(as) =!= "")

  // --- q24_wordcount: flagship MR example as one declarative pipeline ----
  // map → label-route → combine → reduce (wordcount.py:20-41) collapses to
  // explode + groupBy.count: partial agg gives the combiner, the shuffle
  // gives the partitioner, and hash partitioning fixes the reference's
  // hand-rolled a2e/f2n/o2s/t2z ranges (whose `_default` bucket skews).
  def q24Wordcount(spark: SparkSession, dir: String): DataFrame =
    explodeTokens(Tables.documents(spark, dir).select("text"), "text", "word")
      .groupBy(col("word"))
      .agg(count(lit(1)).as("n"))

  val q24WordcountSql: String = """
    SELECT word, COUNT(*) AS n
    FROM (SELECT unnest(string_split_regex(lower(text), '\s+')) AS word
          FROM documents) t
    WHERE word <> ''
    GROUP BY word"""

  // --- q25_collation: inverted index word → distinct sources -------------
  // collation.py:21-42 — map yields (word, sourcefile), combiner+reducer
  // are `list(set(l))`. collect_set IS that combiner, applied map-side by
  // partial aggregation; the sorted CSV rendering makes the set
  // deterministic for cross-engine hashing.
  def q25Collation(spark: SparkSession, dir: String): DataFrame =
    explodeTokens(Tables.documents(spark, dir).select("text", "source"),
        "text", "word")
      .select(col("word"), col("source"))
      .groupBy(col("word"))
      // groupagg-ok: sources per word ≤ the corpus source-label enum (collation contract)
      .agg(collect_set(col("source")).as("sources"))
      .select(col("word"),
        size(col("sources")).as("n_sources"),
        array_join(array_sort(col("sources")), ",").as("sources_csv"))

  val q25CollationSql: String = """
    SELECT word,
           CAST(COUNT(DISTINCT source) AS INT) AS n_sources,
           string_agg(DISTINCT source, ',' ORDER BY source) AS sources_csv
    FROM (SELECT unnest(string_split_regex(lower(text), '\s+')) AS word, source
          FROM documents) t
    WHERE word <> ''
    GROUP BY word"""

  // --- q26_secondary_sort: per-group materialization in custom-key order --
  // secondarysort.py:9-20 partitions insurance rows by county and sorts by
  // eq_site_limit within; here lineitem lines sort by (quantity, linenumber)
  // within their order. The oracled form renders the sorted group as CSV;
  // the streaming-scale form is MapReduce.secondarySort (no group
  // materialization), property-tested in MapReduceSpec.
  def q26SecondarySort(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy(col("l_orderkey"))
      // groupagg-ok: one order's line rows — order-sized, never corpus-scaled
      .agg(collect_list(struct(col("l_quantity"), col("l_linenumber"))).as("ls"))
      .select(col("l_orderkey"),
        size(col("ls")).as("n_lines"),
        array_join(
          transform(array_sort(col("ls")), x => x("l_linenumber").cast("string")),
          ",").as("lines_by_qty"))

  val q26SecondarySortSql: String = """
    SELECT l_orderkey,
           CAST(COUNT(*) AS INT) AS n_lines,
           string_agg(CAST(l_linenumber AS VARCHAR), ','
                      ORDER BY l_quantity, l_linenumber) AS lines_by_qty
    FROM lineitem
    GROUP BY l_orderkey"""

  // ------------------------------------------------- fixture-source queries
  /** Checked-in fixtures exercising the file sources end-to-end; tiny and
    * hand-authored (mirroring the reference's `testdata/gutenberg/`,
    * `testdata/html/`, `testdata/csv/insurance_sample.csv` shapes), so the
    * DuckDB oracle can independently read the same bytes. The default is
    * `fixtures` under the working directory (sbt forks tests and `run` in
    * the project root), made absolute because the oracle SQL embeds it;
    * `GRAFT_FIXTURES_DIR` overrides it. */
  val fixturesDir: String = sys.env.getOrElse("GRAFT_FIXTURES_DIR",
    java.nio.file.Paths.get("fixtures").toAbsolutePath.toString)

  private def basename(c: Column): Column = regexp_extract(c, "[^/]+$", 0)

  // --- q53_text_source: S1 reader → per-file wordcount --------------------
  /** The reference's primary intake (`TextFileReader` → wordcount map),
    * oracled against DuckDB's `read_text` over the same fixture files —
    * the filename column proves the `(filename, line)` contract, not just
    * the line payload. */
  def q53TextSource(spark: SparkSession, dir: String): DataFrame =
    explodeTokens(
      // *.txt glob matches the oracle's read_text('.../*.txt') — a bare
      // directory read would also pick up any future non-.txt file
      textLines(spark, s"$fixturesDir/text/*.txt")
        .select(basename(col("filename")).as("filename"), col("line")),
      "line", "word")
      .groupBy(col("filename"), col("word"))
      .agg(count(lit(1)).as("n"))

  val q53TextSourceSql: String = s"""
    SELECT parse_filename(filename) AS filename, word, COUNT(*) AS n
    FROM (SELECT filename,
                 unnest(string_split_regex(lower(content), '\\s+')) AS word
          FROM read_text('$fixturesDir/text/*.txt')) t
    WHERE word <> ''
    GROUP BY filename, word"""

  // --- q55_xml_source: S2 reader, element text in document order ----------
  /** Oracle is a hand-derived VALUES literal (DuckDB has no XML parser;
    * the fixture is checked-in and immutable, so the expected rows are a
    * constant — same pattern as q42's inlined-literal replay oracle).
    * Derivation: single-line XML (no whitespace text nodes); ElementTree
    * `.text` = direct text before the first child element, null when the
    * element starts with a child or is empty. */
  def q55XmlSource(spark: SparkSession, dir: String): DataFrame =
    xmlElementText(spark, s"$fixturesDir/xml")
      .select(basename(col("filename")).as("filename"), col("text"))

  val q55XmlSourceSql: String = """
    SELECT * FROM (VALUES
      ('catalog.xml', CAST(NULL AS VARCHAR)),
      ('catalog.xml', NULL),
      ('catalog.xml', NULL),
      ('catalog.xml', 'the art of spark'),
      ('catalog.xml', '2014'),
      ('catalog.xml', 'stream processing'),
      ('catalog.xml', '2018'),
      ('catalog.xml', 'end of catalog'),
      ('feed.xml', NULL),
      ('feed.xml', NULL),
      ('feed.xml', 'alpha release'),
      ('feed.xml', 'beta release')
    ) t(filename, text)"""

  // --- q56_html_source: S3 reader, last text node per line ----------------
  /** DuckDB recomputes the same spec independently: strip tags to NUL
    * separators, keep the last non-blank segment per line. `rtrim` drops
    * the file's final newline (Spark's text reader emits no trailing empty
    * line; DuckDB's split would). */
  def q56HtmlSource(spark: SparkSession, dir: String): DataFrame =
    htmlLineText(spark, s"$fixturesDir/html")
      .select(basename(col("filename")).as("filename"), col("text"))

  val q56HtmlSourceSql: String = s"""
    SELECT parse_filename(filename) AS filename,
           CASE WHEN len(segs) = 0 THEN NULL ELSE segs[-1] END AS text
    FROM (SELECT filename,
                 list_filter(
                   string_split(regexp_replace(line, '<[^>]*>', chr(0), 'g'),
                                chr(0)),
                   x -> trim(x) <> '') AS segs
          FROM (SELECT filename,
                       unnest(string_split(rtrim(content, chr(10)), chr(10))) AS line
                FROM read_text('$fixturesDir/html/*.html')) l) s"""

  // --- q57_cr_csv: S6 reader, CR-only line endings ------------------------
  def q57CrCsv(spark: SparkSession, dir: String): DataFrame =
    crCsv(spark, s"$fixturesDir/csv/claims_cr.csv")
      .groupBy(col("county"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("long")).as("total_value"))

  val q57CrCsvSql: String = s"""
    SELECT county, COUNT(*) AS n,
           CAST(SUM(CAST(value AS BIGINT)) AS BIGINT) AS total_value
    FROM read_csv('$fixturesDir/csv/claims_cr.csv', header=true)
    GROUP BY county"""

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q24_wordcount"      -> q24Wordcount _,
    "q25_collation"      -> q25Collation _,
    "q26_secondary_sort" -> q26SecondarySort _,
    "q53_text_source"    -> q53TextSource _,
    "q55_xml_source"     -> q55XmlSource _,
    "q56_html_source"    -> q56HtmlSource _,
    "q57_cr_csv"         -> q57CrCsv _,
  )

  def oracles: Map[String, String] = Map(
    "q24_wordcount"      -> q24WordcountSql,
    "q25_collation"      -> q25CollationSql,
    "q26_secondary_sort" -> q26SecondarySortSql,
    "q53_text_source"    -> q53TextSourceSql,
    "q55_xml_source"     -> q55XmlSourceSql,
    "q56_html_source"    -> q56HtmlSourceSql,
    "q57_cr_csv"         -> q57CrCsvSql,
  )
}
