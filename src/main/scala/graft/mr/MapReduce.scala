package graft.mr

import org.apache.spark.sql.{Dataset, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

/** Faithful MapReduce compatibility surface.
  *
  * Mirrors the reference's plugin ABI (SURVEY §2.10):
  *   - map:    (filename, contents) => Seq[(key, value)]
  *     (func type at cmd/storage-node/main.go:585,717)
  *   - reduce: (key, values) => value — holistic, receives the full
  *     value list per key (cmd/storage-node/main.go:1243,1349)
  *
  * The reference distributed these as Go plugins looked up by hardcoded
  * symbol names regardless of the requested func-id
  * (cmd/storage-node/main.go:699,1225 — SURVEY U4); here the registry is
  * an actual name→function map, and "distribution" is the Spark
  * classpath.
  *
  * Execution collapses the reference's map-per-chunk → materialized
  * double-hash shuffle → reduce → controller re-aggregation pipeline
  * (manager.go:864-1173) into ONE Spark shuffle on the key: `flatMap` →
  * `groupByKey(key)` → `mapGroups(reduce)`. That is semantically the
  * `-aggregate=true` mode — globally correct counts — without the
  * duplicate-key-across-reducers quirk of the two-level file hash
  * (SURVEY §1.4.2), which we intentionally do not replicate.
  *
  * Combiners: the reference has none — every `(word,"1")` pair crosses
  * the shuffle (SURVEY §2.4). A registered reducer may declare a
  * [[Combine]] form, which the default path (`numPartitions = None`)
  * uses to shrink the map output before the key shuffle:
  *   - [[Combine.Fold]]: the reduce equals an incremental
  *     [[ReduceAgg]] aggregator, so the key shuffle carries one partial
  *     buffer per key per task (wordcount, sum, max).
  *   - [[Combine.DistinctValues]]: the reduce depends only on the SET
  *     of values, so each map task drops the (key, value) pairs it has
  *     already emitted ([[dropRepeats]], no extra exchange) and the same
  *     holistic reduce renders the result (posting_list,
  *     distinct_count). The combiner switches itself off in a task
  *     whose pairs barely repeat, e.g. one row per unique document.
  * Every path shuffles once on the key. Reducers without a form
  * (concat, any caller-registered reduce) and the explicit
  * `-reducers N` path shuffle every pair.
  *
  * Scale note: `mapGroups` streams each group's values through an
  * iterator; the holistic `Seq[String]` signature forces buffering ONE
  * group in memory (the reference buffered the entire reduce partition,
  * cmd/storage-node/main.go:1318-1321 — strictly worse). A Fold reducer
  * never buffers a group: its state is one constant-size buffer per key.
  */
object MapReduce {
  type MapFunc = (String, String) => Seq[(String, String)]
  type ReduceFunc = (String, Seq[String]) => String

  /** How the default `runJob` path may combine a reducer's input
    * map-side. A form is a promise about the holistic reduce it rides
    * with; MapReduceSpec pins each built-in form against its reduce. */
  sealed trait Combine
  object Combine {
    /** `reduce(k, vs)` equals `agg` folded over the (k, v) pairs. */
    final case class Fold(agg: Aggregator[(String, String), _, String]) extends Combine
    /** `reduce(k, vs)` depends only on `vs.distinct`, in any order. */
    case object DistinctValues extends Combine
  }

  /** The DistinctValues combiner over one map task's pairs: an
    * in-mapper combine that drops pairs the task has already emitted,
    * so no exchange is added. The set of seen pairs is cleared when it
    * holds `cap` pairs, which bounds its memory. Like Hive's map-side
    * hash aggregation it turns itself off when it does not pay: if
    * fewer than a quarter of the first `probe` pairs repeat, the rest of
    * the task passes through unchecked. A repeat it lets through only
    * costs shuffle volume, as the reduce sees the set of values anyway. */
  private[graft] def dropRepeats(pairs: Iterator[(String, String)],
                                 probe: Int = 1 << 14,
                                 cap: Int = 1 << 16): Iterator[(String, String)] = {
    val seen = new java.util.HashSet[(String, String)]()
    var checked, repeats = 0L
    var checking = true
    pairs.filter { kv =>
      !checking || {
        if (seen.size >= cap) seen.clear()
        val fresh = seen.add(kv)
        checked += 1
        if (!fresh) repeats += 1
        if (checked == probe && repeats * 4 < checked) { checking = false; seen.clear() }
        fresh
      }
    }
  }

  /** name → (map, reduce). Replaces the plugin registry
    * (manager.go:1815-1864) with an in-process map. */
  final class Registry {
    private val maps = scala.collection.concurrent.TrieMap.empty[String, MapFunc]
    private val reduces =
      scala.collection.concurrent.TrieMap.empty[String, (ReduceFunc, Option[Combine])]
    def registerMap(name: String, f: MapFunc): this.type = { maps(name) = f; this }
    // the form is stored with its reduce, so re-registering a name
    // never leaves a stale combiner behind
    def registerReduce(name: String, f: ReduceFunc,
                       combine: Option[Combine] = None): this.type = {
      reduces(name) = (f, combine); this
    }
    def map(name: String): MapFunc =
      maps.getOrElse(name, throw new NoSuchElementException(s"map func '$name' not registered"))
    def reduce(name: String): ReduceFunc = entry(name)._1
    def combine(name: String): Option[Combine] = entry(name)._2
    private def entry(name: String) =
      reduces.getOrElse(name, throw new NoSuchElementException(s"reduce func '$name' not registered"))
  }

  /** Built-in functions: the word-count pair the reference ships
    * (mapreduce/functions/wordcount.go). Tokenize on runs of
    * non-letter/non-digit, lowercase, emit (token,"1"); reduce = count
    * of values (wordcount.go:32,41-45). */
  val builtins: Registry = new Registry()
    .registerMap("wordcount", { (_, contents) =>
      contents.split("[^\\p{L}\\p{N}]+").iterator
        .filter(_.nonEmpty).map(w => (w.toLowerCase, "1")).toSeq
    })
    .registerReduce("wordcount", (_, values) => values.size.toString,
      Some(Combine.Fold(ReduceAgg.countAgg)))
    // Second REGISTERED job pair proving the U3 surface generically
    // (the reference's plugin ABI supports arbitrary pairs,
    // cmd/storage-node/main.go:699,1225 — ours must too, not just
    // wordcount): a classic inverted index. map emits each token once
    // per input row with the row's file name as value; reduce renders
    // the sorted distinct posting list. Under `readTextInput` a row is
    // one LINE, so the map only dedups within a line: a token on many
    // lines of one file is emitted once per line. The DistinctValues
    // combiner removes most of those repeats map-side, before the
    // shuffle (with one row per unique document there are none, and it
    // switches off), and the reduce-side distinct makes the result
    // independent of how the caller's rows split a document.
    // Holistic-reduce buffering is one posting list — the ABI's
    // documented cost.
    .registerMap("inverted_index", { (name, contents) =>
      contents.split("[^\\p{L}\\p{N}]+").iterator
        .filter(_.nonEmpty).map(_.toLowerCase).toSeq.distinct
        .map(w => (w, name))
    })
    .registerReduce("posting_list", (_, values) => values.distinct.sorted.mkString(","),
      Some(Combine.DistinctValues))
    // Third registered pair (round 12): distinct-count — with the
    // inverted_index map it computes document frequency per token, the
    // df leg of TF-IDF through the faithful ABI. Holistic on one key's
    // posting list (the ABI's documented cost); the engine-native scale
    // form is approx_count_distinct / the KMV sketch family.
    .registerReduce("distinct_count", (_, values) => values.distinct.size.toString,
      Some(Combine.DistinctValues))
    // the registry generalizes beyond the reference's single hardcoded
    // pair (SURVEY U4): a grep-style filtering map, identity, and
    // numeric reducers
    .registerMap("identity", (name, contents) => Seq((name, contents)))
    .registerMap("lines", { (_, contents) =>
      contents.split("\n").iterator.filter(_.nonEmpty).map(l => (l, "1")).toSeq
    })
    .registerReduce("sum", (_, values) => values.map(_.toLong).sum.toString,
      Some(Combine.Fold(ReduceAgg.sumAgg)))
    .registerReduce("max", (_, values) => values.map(_.toLong).max.toString,
      Some(Combine.Fold(ReduceAgg.maxAgg)))
    .registerReduce("concat", (_, values) => values.sorted.mkString(","))

  /** Run a MapReduce job over a Dataset of (filename, contents) rows.
    *
    * Equivalent of `client mapreduce <in> <out> <map> <reduce>` with
    * `-aggregate=true` (SURVEY §3.1). Returns (key, value) sorted by key
    * — string sort, matching the reference's lexicographic output order
    * (golden smallt_out.txt: "1, 10, 11, … 2, 20, …"). The default path
    * applies the reducer's registered [[Combine]] form, if any; the
    * result is the same with or without it.
    */
  def runJob(input: Dataset[(String, String)],
             mapId: String, reduceId: String,
             registry: Registry = builtins,
             numPartitions: Option[Int] = None): Dataset[(String, String)] = {
    val spark = input.sparkSession
    import spark.implicits._
    val mf = registry.map(mapId)
    val rf = registry.reduce(reduceId)
    val mapped = input.flatMap { case (name, contents) => mf(name, contents) }
    val reduced = numPartitions match {
      // explicit reducer count (the reference's `-reducers N`): shuffle
      // once on the key column, then group on that same column so the
      // HashPartitioning(key, n) satisfies the aggregation's required
      // distribution — no second exchange. (groupByKey would append its
      // own key expression and re-shuffle.) No combiner: this path
      // keeps the reference's every-pair shuffle (a Fold would need its
      // own exchange below the N-way one).
      case Some(n) =>
        mapped.toDF("key", "value")
          .repartition(n, $"key")
          .groupBy($"key").agg(collect_list($"value").as("values"))
          .as[(String, Seq[String])]
          .map { case (k, vs) => (k, rf(k, vs)) }
      // default: key shuffle sized by spark.sql.shuffle.partitions +
      // AQE coalescing — better at scale than a fixed N.
      case None =>
        def holistic(kv: Dataset[(String, String)]) = kv.groupByKey(_._1)
          .mapGroups { (key, it) => (key, rf(key, it.map(_._2).toSeq)) }
        registry.combine(reduceId) match {
          // partial aggregate per task, then one buffer per key per
          // task crosses the shuffle
          case Some(Combine.Fold(agg)) =>
            mapped.groupByKey(_._1).agg(agg.toColumn)
              .toDF("_1", "_2").as[(String, String)]
          // each map task drops the pairs it already emitted; the
          // holistic reduce dedups whatever repeats across tasks
          case Some(Combine.DistinctValues) => holistic(mapped.mapPartitions(dropRepeats(_)))
          case None => holistic(mapped)
        }
    }
    reduced
      .orderBy($"_1")
      .withColumnRenamed("_1", "key").withColumnRenamed("_2", "value")
      .as[(String, String)]
  }

  /** Read text files the way the reference's map stage consumed chunks —
    * except line-aligned (Spark `text`), which is strictly more correct
    * than the reference's byte-exact 4 MiB chunking that split tokens at
    * chunk boundaries (manager.go:405-411; SURVEY §1.4.1). At 100 TB the
    * file splits are governed by spark.sql.files.maxPartitionBytes. */
  def readTextInput(spark: SparkSession, path: String): Dataset[(String, String)] = {
    import spark.implicits._
    // the reference ABI passes the REAL source file name to the map
    // function — a directory input must not collapse into one key
    spark.read.text(path)
      .select(input_file_name(), col("value"))
      .as[(String, String)]
  }

  /** Final text sink: `key\tvalue\n`, keys sorted — the reference's
    * aggregated output format (cmd/storage-node/main.go:1328-1352,
    * manager.go:1128-1135). `single=true` ≈ `-aggregate` one-file mode;
    * false leaves one part per partition (A7/A8). When `outputKey` is
    * set in multi-part mode, part files are renamed to the reference's
    * `<outputKey>-reduce-<i>` layout (manager.go:1732-1764). */
  def writeTsv(result: Dataset[(String, String)], path: String,
               single: Boolean = false,
               outputKey: Option[String] = None): Unit = {
    // raw text sink, not the CSV writer: csv() would quote/escape keys
    // containing quotes or tabs, diverging from the reference's raw
    // `key\tvalue\n` bytes (cmd/storage-node/main.go:1351)
    val sorted = result.toDF("key", "value").orderBy("key")
      .select(concat_ws("\t", col("key"), col("value")))
    // single-file mode must coalesce AFTER the sort: the range
    // exchange the sort inserts would otherwise re-split the data into
    // shuffle-partition-many files. Coalescing a range-sorted result
    // reads its partitions in index order, so global order survives.
    val out = if (single) sorted.coalesce(1) else sorted
    out.write.mode(SaveMode.Overwrite).text(path)
    if (!single) outputKey.foreach(renameToReduceParts(path, _))
  }

  /** Rename Spark `part-NNNNN-*` files to `<outputKey>-reduce-<i>` —
    * the reference's per-reducer file ABI (manager.go:1732-1764).
    * Partition index order is preserved (part names sort by index), so
    * reducer i's rows stay in `<outputKey>-reduce-<i>`. Local/HDFS-style
    * file URIs only — at 100 TB on object storage keep Spark's native
    * part layout and let the consumer glob. */
  private def renameToReduceParts(path: String, outputKey: String): Unit = {
    val dir = new java.io.File(path)
    val parts = Option(dir.listFiles()).getOrElse(Array.empty)
      .filter(f => f.getName.startsWith("part-") && !f.getName.endsWith(".crc"))
      .sortBy(_.getName)
    parts.zipWithIndex.foreach { case (f, i) =>
      // drop the checksum sidecar: the renamed file no longer matches
      // its `.part-*.crc` name and would fail Hadoop's local-FS read
      val crc = new java.io.File(dir, s".${f.getName}.crc")
      if (crc.exists()) crc.delete()
      val target = new java.io.File(dir, s"$outputKey-reduce-$i")
      if (!f.renameTo(target))
        throw new java.io.IOException(s"rename ${f.getName} -> ${target.getName} failed")
    }
  }

  /** In-memory rendering of the final sink, for golden comparison. */
  def renderTsv(result: Dataset[(String, String)]): String = {
    result.orderBy("key").collect()
      .map { case (k, v) => s"$k\t$v\n" }.mkString
  }
}
