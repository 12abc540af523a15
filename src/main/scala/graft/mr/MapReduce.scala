package graft.mr

import scala.collection.immutable.ArraySeq

import org.apache.spark.sql.{Dataset, Encoders, SaveMode, SparkSession}
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
  * (manager.go:864-1173) into ONE Spark shuffle on the key: one
  * `mapPartitions` per map task → hash exchange on the key → a sort
  * within each reduce partition → one reduce per run of equal keys.
  * That is semantically the `-aggregate=true` mode — globally correct
  * counts — without the duplicate-key-across-reducers quirk of the
  * two-level file hash (SURVEY §1.4.2), which we intentionally do not
  * replicate.
  *
  * Combiners: the reference has none — every `(word,"1")` pair crosses
  * the shuffle (SURVEY §2.4). A registered reducer may declare a
  * [[Combine]] form; then the map task folds its pairs into one partial
  * per key in a hash map ([[combinePairs]], the classic in-mapper
  * combiner), and one row per distinct key per task crosses the key
  * exchange, on the default and the `-reducers N` path alike:
  *   - [[Combine.Fold]]: the reduce equals an incremental
  *     [[ReduceAgg]] aggregator; the partial is its buffer, merged after
  *     the exchange (wordcount, sum, max).
  *   - [[Combine.DistinctValues]]: the reduce depends only on the SET
  *     of values; the partial is the key's value set, and the same
  *     holistic reduce runs over the concatenated sets (posting_list,
  *     distinct_count).
  * Reducers without a form (concat, any caller-registered reduce)
  * shuffle every pair.
  *
  * Scale note: the map-side state is capped at [[CombineCap]] entries
  * per task (drained and restarted when full), and the reduce side
  * streams each key's run through an iterator; the holistic
  * `Seq[String]` signature forces buffering ONE group in memory (the
  * reference buffered the entire reduce partition,
  * cmd/storage-node/main.go:1318-1321 — strictly worse). A Fold reducer
  * never buffers a group: its state is one constant-size buffer per key.
  */
object MapReduce {
  type MapFunc = (String, String) => Seq[(String, String)]
  type ReduceFunc = (String, Seq[String]) => String

  /** How `runJob` may combine a reducer's input map-side. A form is a
    * promise about the holistic reduce it rides with; MapReduceSpec
    * pins each built-in form against its reduce. */
  sealed trait Combine
  object Combine {
    /** `reduce(k, vs)` equals `agg` folded over the (k, v) pairs. */
    final case class Fold(agg: Aggregator[(String, String), _, String]) extends Combine
    /** `reduce(k, vs)` depends only on `vs.distinct`, in any order. */
    case object DistinctValues extends Combine
  }

  /** Entries one map task's combiner holds (Fold keys, DistinctValues
    * values) before it drains: bounds its memory. */
  private[graft] val CombineCap = 1 << 16

  /** The in-mapper combiner over one map task's pairs: folds each pair
    * into its key's partial (`add`, starting from `zero()`) in a hash
    * map, and emits each (key, partial) once. When the partials hold
    * `cap` entries (`held` counts one partial's), the map is drained
    * through the iterator and refilled from the rest of the task, so a
    * key may then be emitted more than once — the reduce side merges
    * partials anyway. */
  private[graft] def combinePairs[P](pairs: Iterator[(String, String)], zero: () => P, cap: Int)(
      add: (P, (String, String)) => P, held: P => Int): Iterator[(String, P)] =
    new Iterator[(String, P)] {
      private val partials = new java.util.HashMap[String, P]()
      private var out = partials.entrySet.iterator
      def hasNext: Boolean = out.hasNext || { fill(); out.hasNext }
      def next(): (String, P) = {
        if (!hasNext) throw new NoSuchElementException("combiner drained")
        val e = out.next()
        (e.getKey, e.getValue)
      }
      private def fill(): Unit = {
        partials.clear()
        var total = 0
        while (total < cap && pairs.hasNext) {
          val kv = pairs.next()
          val old = partials.get(kv._1)
          val before = if (old == null) 0 else held(old)
          val now = add(if (old == null) zero() else old, kv)
          partials.put(kv._1, now)
          total += held(now) - before
        }
        out = partials.entrySet.iterator
      }
    }

  /** One reduce per run of equal keys in a partition sorted by key. */
  private def reduceRuns[P](rows: Iterator[(String, P)])(
      f: (String, Iterator[P]) => String): Iterator[(String, String)] = {
    val in = rows.buffered
    new Iterator[(String, String)] {
      def hasNext: Boolean = in.hasNext
      def next(): (String, String) = {
        val key = in.head._1
        val run = new Iterator[P] {
          def hasNext: Boolean = in.hasNext && in.head._1 == key
          def next(): P = in.next()._2
        }
        val value = f(key, run)
        run.foreach(_ => ()) // a reduce may stop before the end of its run
        (key, value)
      }
    }
  }

  /** Letter (L*) and number (Nd, Nl, No) general categories, one bit
    * per `Character.getType` value. */
  private val WordTypes = Seq(Character.UPPERCASE_LETTER, Character.LOWERCASE_LETTER,
    Character.TITLECASE_LETTER, Character.MODIFIER_LETTER, Character.OTHER_LETTER,
    Character.DECIMAL_DIGIT_NUMBER, Character.LETTER_NUMBER, Character.OTHER_NUMBER)
    .foldLeft(0)((m, t) => m | 1 << t)

  /** The built-in maps' tokenizer: the maximal runs of letters and
    * numbers in `s`, exactly `s.split("[^\\p{L}\\p{N}]+").filter(_.nonEmpty)`
    * (the reference's wordcount.go:32 split) without a regex. It scans
    * code points: a surrogate pair is one code point, a lone surrogate
    * separates. Tokens keep their case; the maps lowercase after
    * splitting, which is not the same as splitting lowercased text
    * ("İ" lowercases to i + U+0307, a combining mark). */
  def tokens(s: String): ArraySeq[String] = {
    val out = Array.newBuilder[String]
    var start = -1 // first char of the current token, -1 between tokens
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      var width = 1
      val word =
        if (c < 0x80) { val l = c | 0x20; (l >= 'a' && l <= 'z') || (c >= '0' && c <= '9') }
        else {
          val cp = s.codePointAt(i)
          width = Character.charCount(cp)
          (WordTypes >> Character.getType(cp) & 1) != 0
        }
      if (word) { if (start < 0) start = i }
      else if (start >= 0) { out += s.substring(start, i); start = -1 }
      i += width
    }
    if (start >= 0) out += s.substring(start)
    ArraySeq.unsafeWrapArray(out.result())
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
    * non-letter/non-digit ([[tokens]]), lowercase, emit (token,"1");
    * reduce = count of values (wordcount.go:32,41-45). */
  val builtins: Registry = new Registry()
    .registerMap("wordcount", (_, contents) => tokens(contents).map(w => (w.toLowerCase, "1")))
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
    // combiner folds those repeats into one value set per token per
    // map task, and the reduce-side distinct makes the result
    // independent of how the caller's rows split a document.
    // Holistic-reduce buffering is one posting list — the ABI's
    // documented cost.
    .registerMap("inverted_index", (name, contents) =>
      tokens(contents).map(_.toLowerCase).distinct.map(w => (w, name)))
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
    * (golden smallt_out.txt: "1, 10, 11, … 2, 20, …"). The reducer's
    * registered [[Combine]] form, if any, combines in the map task; the
    * result is the same with or without it.
    *
    * `numPartitions` is the reference's `-reducers N`: the key exchange
    * has exactly N partitions. Without it the exchange is sized by
    * spark.sql.shuffle.partitions + AQE coalescing — better at scale
    * than a fixed N.
    */
  def runJob(input: Dataset[(String, String)],
             mapId: String, reduceId: String,
             registry: Registry = builtins,
             numPartitions: Option[Int] = None): Dataset[(String, String)] =
    runJobCapped(input, mapId, reduceId, registry, numPartitions, CombineCap)

  /** [[runJob]] with the combiner's cap as a parameter, so a test can
    * drain the combiner on small inputs. */
  private[graft] def runJobCapped(input: Dataset[(String, String)],
                                  mapId: String, reduceId: String, registry: Registry,
                                  numPartitions: Option[Int], cap: Int): Dataset[(String, String)] = {
    val spark = input.sparkSession
    import spark.implicits._
    val mf = registry.map(mapId)
    val rf = registry.reduce(reduceId)
    type Rows = Iterator[(String, String)]
    val pairs = (rows: Rows) => rows.flatMap { case (name, contents) => mf(name, contents) }
    // shuffle once on the key column, then reduce each key's run of
    // the sorted partition: (key) partitioning needs no second
    // exchange, and no AppendColumns re-serializes every row's key
    // as groupByKey would
    def byKey[P](rows: Dataset[(String, P)])(
        reduce: (String, Iterator[P]) => String): Dataset[(String, String)] = {
      val key = rows("_1")
      numPartitions.fold(rows.repartition(key))(rows.repartition(_, key))
        .sortWithinPartitions(key)
        .mapPartitions(reduceRuns(_)(reduce))
    }
    // a Fold ships one aggregator buffer per key per task
    def fold[B](agg: Aggregator[(String, String), B, String]) = {
      val buffers = input.mapPartitions((rows: Rows) =>
        combinePairs(pairs(rows), () => agg.zero, cap)(agg.reduce, _ => 1)
      )(Encoders.tuple(Encoders.STRING, agg.bufferEncoder))
      byKey(buffers)((_, bufs) => agg.finish(bufs.reduce(agg.merge)))
    }
    val reduced = registry.combine(reduceId) match {
      case Some(Combine.Fold(agg)) => fold(agg)
      case Some(Combine.DistinctValues) =>
        val sets = input.mapPartitions((rows: Rows) =>
          combinePairs(pairs(rows), () => new java.util.HashSet[String](), cap)(
            (set, kv) => { set.add(kv._2); set }, _.size)
            .map { case (k, set) => (k, set.toArray(Array.empty[String]).toSeq) })
        byKey(sets)((k, runSets) => rf(k, runSets.flatten.toSeq))
      case None => byKey(input.mapPartitions(pairs))((k, values) => rf(k, values.toSeq))
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
    val rows = result.toDF("key", "value")
    // single-file mode: one task sorts and writes everything, so a
    // sort within that one partition is the global sort — no range
    // sort, whose sampling job re-runs the upstream job. Multi-part
    // mode range-sorts, so the parts in reducer order are globally
    // sorted.
    val sorted = if (single) rows.repartition(1).sortWithinPartitions("key") else rows.orderBy("key")
    sorted.select(concat_ws("\t", col("key"), col("value")))
      .write.mode(SaveMode.Overwrite).text(path)
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
