package graft.ops

import scala.collection.mutable
import scala.reflect.classTag

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder}
import org.apache.spark.sql.catalyst.encoders.{AgnosticEncoder, AgnosticEncoders}
import org.apache.spark.sql.catalyst.encoders.AgnosticEncoders.{EncoderField, IterableEncoder, ProductEncoder}
import org.apache.spark.sql.types.Metadata

/** Remap-parity MapReduce surface: the reference's *entire* user API is a
  * pair of Python generators driven by its file-based shuffle —
  * `map(k1,v1) → yield (partition, k2, v2)` (work loop
  * `/root/reference/daemons/core/module_mapper.py:43-65`) and
  * `reduce(k2, [v2]) → yield (k3, v3)` (sorted-run merge + group dispatch
  * `/root/reference/daemons/core/module_reducer.py:58-96`), with an optional
  * map-side combiner applied per key at partition flush
  * (`/root/reference/daemons/core/remap.py:136-144`) and an optional custom
  * sort key for secondary sort (`remap.py:132-139`).
  *
  * Here each hook maps onto the typed Dataset API so Catalyst/Tungsten own
  * the shuffle: `mapPartitions` over a bounded per-task `key → [values]`
  * buffer (M1/M2 plus remap's partitioner dict, with the optional combiner
  * applied per key — A1), `groupByKey.flatMapGroups` over the buffered
  * partials (A4), and `repartition.sortWithinPartitions` (O2/K1). Only one
  * `(k2, [v2])` row per key and flush crosses the shuffle, as in remap's
  * `"k2,json_list"` partition files. The app-chosen partition
  * *label* of remap (M3 — e.g. wordcount's hand range-partitioning
  * `examples/wordcount/wordcount.py:28-37`) is exposed for parity but is
  * physical-only: results never depend on it, which a property test pins.
  */
object MapReduce {

  /** Values one task holds in its map-side buffer before it flushes: at
    * most 2 MB of references per task, and large enough that a task over a
    * few hundred thousand Zipf-distributed words flushes once or twice. */
  private val bufferedValues = 1 << 18

  /** M1/M2 + A4: full map → shuffle-on-k2 → reduce pipeline.
    *
    * The partition label of the remap contract is dropped at the logical
    * level: remap routes each k2 to exactly one label, so grouping by k2
    * alone yields identical groups; Spark's hash shuffle replaces the
    * hand-rolled label routing (and fixes its inherent skew — remap's
    * `_default` label takes every non-a-z word). Values are pre-grouped per
    * task by [[mapSideGroup]] without a combiner, so `reduceFn` still sees
    * every value of its key.
    */
  def mapReduce[I, K2, V2, K3, V3](
      input: Dataset[I],
      mapFn: I => IterableOnce[(String, K2, V2)],
      reduceFn: (K2, Iterator[V2]) => IterableOnce[(K3, V3)])(
      implicit km: Encoder[(String, K2, V2)], kk: Encoder[K2],
      out: Encoder[(K3, V3)]): Dataset[(K3, V3)] = {
    implicit val groupedE: Encoder[(K2, Seq[V2])] = groupedEncoder(km, kk)
    input.mapPartitions(rows => mapSideGroup[K2, V2](
        rows.flatMap(mapFn).map(t => (t._2, t._3)), None, bufferedValues))
      .groupByKey(_._1)
      .flatMapGroups((k: K2, parts: Iterator[(K2, Seq[V2])]) =>
        reduceFn(k, parts.flatMap(_._2)))
  }

  /** `Encoder[(K2, Seq[V2])]` for the buffered partials of [[mapReduce]]:
    * `kk` paired with a sequence of the map output's value encoder. */
  private def groupedEncoder[K2, V2](km: Encoder[(String, K2, V2)],
      kk: Encoder[K2]): Encoder[(K2, Seq[V2])] = {
    val v = AgnosticEncoders.agnosticEncoderFor(km) match {
      case ProductEncoder(_, fields, _) if fields.length == 3 => fields(2)
      case other => throw new IllegalArgumentException(
        s"mapReduce needs a tuple encoder for the map output, got $other")
    }
    val vs = IterableEncoder(classTag[Seq[V2]],
      v.enc.asInstanceOf[AgnosticEncoder[V2]], containsNull = v.nullable,
      lenientSerialization = false)
    val k = AgnosticEncoders.agnosticEncoderFor(kk)
    ProductEncoder(classTag[(K2, Seq[V2])],
      Seq(EncoderField("_1", k, k.nullable, Metadata.empty),
          EncoderField("_2", vs, vs.nullable, Metadata.empty)),
      None)
  }

  /** One key's buffered values and the length at which the combiner next
    * runs: twice the length it left, so each value is combined O(1) times
    * even when the combiner shrinks the buffer only a little. */
  private final class Group[V](var combineAt: Int) {
    var values = new mutable.ArrayBuffer[V](4)
    /** values were added since the combiner last ran */
    def grown: Boolean = values.length > combineAt / 2
  }

  /** Remap's partitioner dict (`remap.py:119-146`): group one task's
    * `(k, v)` pairs in a `key → [values]` hash buffer, applying `combiner`
    * (when given) to a key's values as they grow and once more at flush.
    * When `bound` values are buffered, or the input ends, emit one
    * `(k, values)` row per key and start over, so memory stays bounded and
    * a key may appear in several rows of one task.
    *
    * Keys are pre-grouped by Scala equality (`==`/`##`). That is safe
    * because Scala-equal keys are equal to Spark's grouping too; keys whose
    * Scala equality is weaker than Spark's, such as arrays (compared by
    * reference) or NaN, simply do not combine here and meet in the
    * shuffle instead. */
  private[ops] def mapSideGroup[K, V](pairs: Iterator[(K, V)],
      combiner: Option[Seq[V] => Seq[V]], bound: Int): Iterator[(K, Seq[V])] =
    new Iterator[(K, Seq[V])] {
      private val firstCombineAt = if (combiner.isDefined) 2 else Int.MaxValue
      private var groups = mutable.HashMap.empty[K, Group[V]]
      private var held = 0
      private var flushed: Iterator[(K, Seq[V])] = Iterator.empty

      def hasNext: Boolean = flushed.hasNext || { fill(); flushed.hasNext }

      def next(): (K, Seq[V]) =
        if (hasNext) flushed.next() else Iterator.empty.next()

      /** Combines `g`'s values; returns how many fewer it holds. */
      private def combine(g: Group[V]): Int = {
        val before = g.values.length
        g.values = mutable.ArrayBuffer.from(combiner.get(g.values.toVector))
        g.combineAt = math.max(2 * g.values.length, 2)
        before - g.values.length
      }

      private def fill(): Unit = {
        while (held < bound && pairs.hasNext) {
          val (k, v) = pairs.next()
          val g = groups.getOrElseUpdate(k, new Group[V](firstCombineAt))
          g.values += v
          held += 1
          if (g.values.length >= g.combineAt) held -= combine(g)
        }
        val full = groups
        groups = mutable.HashMap.empty[K, Group[V]]
        held = 0
        flushed = full.iterator.map { case (k, g) =>
          if (combiner.isDefined && g.grown) combine(g)
          (k, g.values.toVector)
        }
      }
    }

  /** A1+A6 composed: group values per key with a combiner applied map-side
    * by [[mapSideGroup]] and once more to each key's concatenated partials
    * after the shuffle (collation's `list(set(l))` combiner —
    * `/root/reference/examples/collation/collation.py:18-19,41-42`). */
  def groupWithCombiner[K, V](ds: Dataset[(K, V)], combiner: Seq[V] => Seq[V])(
      implicit kE: Encoder[K], outE: Encoder[(K, Seq[V])]): Dataset[(K, Seq[V])] =
    ds.mapPartitions(pairs => mapSideGroup(pairs, Some(combiner), bufferedValues))
      .groupByKey(_._1)
      .mapGroups((k: K, parts: Iterator[(K, Seq[V])]) =>
        (k, combiner(parts.flatMap(_._2).toVector)))

  /** O2/K1: secondary sort — remap's `TextPartitioner(customkey=...)`
    * (`remap.py:132-139`; insurance example sorts tuples by field 3 within
    * county partitions, `examples/secondarysort/secondarysort.py:9,14-17`).
    * One shuffle on the partition expression, then an in-partition sort —
    * never a global sort. At scale the partition expression should be
    * high-cardinality or salted; the guarantee is per-partition order only,
    * exactly remap's guarantee. */
  def secondarySort(df: DataFrame, partCol: Column, sortCols: Column*): DataFrame =
    df.repartition(partCol).sortWithinPartitions(partCol +: sortCols: _*)

  /** M3: app-chosen partition-label routing, physical-only parity knob. */
  def routeByLabel(df: DataFrame, label: Column): DataFrame =
    df.repartition(label)

  // --------------------------------------------------------------- queries

  // --- q59_typed_mr: the typed map/reduce contract, oracled ---------------
  /** Wordcount through the TYPED [[mapReduce]] path — the literal remap
    * user contract (`map` yields `(label, word, 1)` with the reference's
    * a2e/f2n/o2s/t2z/_default routing, `reduce` sums;
    * `examples/wordcount/wordcount.py:20-41`) — sharing q24's oracle, so
    * the generator-based API is hash-certified equivalent to the
    * declarative pipeline, not just spec-equivalent. */
  def q59TypedMr(spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    def label(w: String): String = w.head match {
      case c if c >= 'a' && c <= 'e' => "a2e"
      case c if c >= 'f' && c <= 'n' => "f2n"
      case c if c >= 'o' && c <= 's' => "o2s"
      case c if c >= 't' && c <= 'z' => "t2z"
      case _ => "_default"
    }
    val lines = graft.Tables.documents(spark, dir).select("text").as[String]
    mapReduce[String, String, Long, String, Long](
      lines,
      // Locale.ROOT: default-locale toLowerCase diverges from Catalyst's
      // locale-independent lower() under e.g. tr_TR ('I' → dotless 'ı'),
      // which would break the hash-shared q24 oracle
      line => line.toLowerCase(java.util.Locale.ROOT).split("\\s+").iterator
        .filter(_.nonEmpty).map(w => (label(w), w, 1L)),
      (w, vs) => Iterator.single((w, vs.sum)))
      .toDF("word", "n")
  }

  // --- q61_typed_combiner: the A1 combiner contract, oracled --------------
  /** Collation through the TYPED combiner path — remap's `list(set(l))`
    * combiner applied at every flush and merge
    * (`examples/collation/collation.py:8,18-19,41-42`) runs through
    * [[groupWithCombiner]], whose per-task buffers combine map-side. Shares
    * q25's oracle, so the buffered combiner is hash-certified
    * equivalent to the declarative collect_set pipeline. */
  def q61TypedCombiner(spark: org.apache.spark.sql.SparkSession,
                       dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val pairs = graft.Tables.documents(spark, dir)
      .select("text", "source").as[(String, String)]
      .flatMap { case (text, source) =>
        text.toLowerCase(java.util.Locale.ROOT).split("\\s+").iterator
          .filter(_.nonEmpty).map(w => (w, source))
      }
    groupWithCombiner[String, String](pairs, vs => vs.distinct)
      .toDF("word", "sources")
      .select(col("word"),
        size(col("sources")).as("n_sources"),
        array_join(array_sort(col("sources")), ",").as("sources_csv"))
  }

  def queries: Map[String, (org.apache.spark.sql.SparkSession, String) => DataFrame] =
    Map("q59_typed_mr" -> q59TypedMr _,
        "q61_typed_combiner" -> q61TypedCombiner _)

  def oracles: Map[String, String] =
    Map("q59_typed_mr" -> graft.ops.Text.q24WordcountSql,
        "q61_typed_combiner" -> graft.ops.Text.q25CollationSql)
}
