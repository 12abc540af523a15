package graft

import graft.mr.MapReduce
import graft.operators.SkewJoin
import org.apache.spark.sql.functions._

class MapReduceSpec extends SparkSpec {

  test("registry: unknown function name fails fast") {
    intercept[NoSuchElementException](MapReduce.builtins.map("nope"))
    intercept[NoSuchElementException](MapReduce.builtins.reduce("nope"))
  }

  test("generic map/reduce pairs compose: lines + sum") {
    import spark.implicits._
    val input = Seq(
      ("f1", "a\nb\na"),
      ("f2", "a\nc")).toDS()
    val counts = MapReduce.runJob(input, "lines", "sum").collect().toMap
    assert(counts == Map("a" -> "3", "b" -> "1", "c" -> "1"))
    val maxes = MapReduce.runJob(input, "lines", "max").collect().toMap
    assert(maxes == Map("a" -> "1", "b" -> "1", "c" -> "1"))
  }

  test("inverted index plugin pair: distinct sorted postings through runJob") {
    import spark.implicits._
    val input = Seq(
      ("docB", "Red green RED"), // repeated + mixed-case token: ONE posting
      ("docA", "green blue"),
      ("docC", "blue, blue; red!")).toDS()
    val out = MapReduce.runJob(input, "inverted_index", "posting_list")
      .collect().toMap
    assert(out == Map(
      "red" -> "docB,docC",
      "green" -> "docA,docB",
      "blue" -> "docA,docC"))
  }

  test("identity map + concat reduce keep values grouped per file") {
    import spark.implicits._
    val input = Seq(("k1", "v1"), ("k1", "v2"), ("k2", "v3")).toDS()
    val out = MapReduce.runJob(input, "identity", "concat").collect().toMap
    assert(out == Map("k1" -> "v1,v2", "k2" -> "v3"))
  }

  /** The built-in reducers that declare a combine form, re-registered
    * with the same map and reduce functions but no form: `runJob` on
    * this registry takes the plain holistic path. */
  private val Combined = Seq("wordcount", "sum", "max", "posting_list", "distinct_count")
  private val holisticOnly = {
    val r = new MapReduce.Registry()
    Seq("wordcount", "inverted_index", "lines", "identity")
      .foreach(m => r.registerMap(m, MapReduce.builtins.map(m)))
    Combined.foreach(n => r.registerReduce(n, MapReduce.builtins.reduce(n)))
    r
  }

  test("combine forms: runJob equals the holistic path on every declared reducer") {
    import spark.implicits._
    assert(Combined.forall(MapReduce.builtins.combine(_).isDefined))
    assert(Combined.forall(holisticOnly.combine(_).isEmpty))
    val golden = MapReduce.readTextInput(spark,
      java.nio.file.Paths.get(getClass.getResource("/smallt.txt").toURI).toString)
    // hostile text: one token holding most of the values, one token
    // repeated in every file (so across partitions too), non-ASCII and
    // non-BMP letters, and file names (the inverted index's values)
    // containing ',' and '\t'
    val files = Seq("a.txt", "b,c.txt", "d\te.txt", "straße.txt", "\uD835\uDD18.txt")
    val hostileText = (files.flatMap { f =>
      Seq((f, "hot " * 50 + "shared Straße ÉCOLE école"),
        (f, "\uD840\uDC00\uD840\uDC01 \uD835\uDD18\uD835\uDD2B shared"),
        (f, "hot shared, hot\tshared"))
    } ++ Seq(("a.txt", "lone"), ("a.txt", ""))).toDS()
    // numeric values for sum/max through the identity map (key = file
    // column): a dominant key, Long extremes (sum wraps identically in
    // both paths), repeated values, and a text key with ',' and '\t'
    val hostileKv = (
      (1 to 400).map(i => ("big", (i % 7 - 3).toString)) ++
      Seq(("big", Long.MaxValue.toString), ("big", Long.MaxValue.toString),
        ("min", Long.MinValue.toString), ("min", Long.MinValue.toString),
        ("neg", "-5"), ("neg", "-9"), ("k,\t\uD835\uDD18", "0"), ("k,\t\uD835\uDD18", "0"))
    ).toDS()
    val jobs = Seq(
      golden -> Seq("wordcount" -> "wordcount", "lines" -> "sum", "lines" -> "max",
        "inverted_index" -> "posting_list", "inverted_index" -> "distinct_count"),
      hostileText -> Seq("wordcount" -> "wordcount", "lines" -> "sum",
        "inverted_index" -> "posting_list", "inverted_index" -> "distinct_count"),
      hostileKv -> Seq("identity" -> "sum", "identity" -> "max",
        "identity" -> "posting_list", "identity" -> "distinct_count"))
    // the default cap, caps small enough to drain the combiner many
    // times per task, and the `-reducers N` path
    val variants = Seq((MapReduce.CombineCap, None), (1, None), (2, None), (3, None),
      (MapReduce.CombineCap, Some(3)), (2, Some(3)))
    for {
      (data, pairs) <- jobs
      (m, r) <- pairs
    } {
      // the reduce over every pair, computed without Spark
      val local = data.collect().toSeq
        .flatMap { case (name, contents) => MapReduce.builtins.map(m)(name, contents) }
        .groupBy(_._1).toSeq
        .map { case (k, kvs) => (k, MapReduce.builtins.reduce(r)(k, kvs.map(_._2))) }.sorted
      assert(local.nonEmpty, s"$m/$r produced nothing")
      assert(MapReduce.runJob(data, m, r, holisticOnly).collect().sorted.toSeq == local,
        s"$m/$r holistic")
      for {
        (input, layout) <- Seq(data -> "as read", data.repartition(1) -> "1 partition",
          data.repartition(13) -> "13 partitions")
        (cap, reducers) <- variants
      } {
        val combined = MapReduce.runJobCapped(input, m, r, MapReduce.builtins, reducers, cap)
        assert(combined.collect().sorted.toSeq == local, s"$m/$r ($layout, cap $cap, $reducers)")
      }
    }
  }

  test("re-registering a reducer drops its combine form") {
    val r = new MapReduce.Registry()
      .registerReduce("n", MapReduce.builtins.reduce("wordcount"),
        MapReduce.builtins.combine("wordcount"))
      .registerReduce("n", (_, values) => values.mkString)
    assert(r.combine("n").isEmpty)
  }

  test("combinePairs folds a task's pairs per key and drains at the cap") {
    import MapReduce.combinePairs
    val kv = Seq(("k", "a"), ("k", "a"), ("k", "b"), ("j", "a"), ("k", "c"), ("j", "a"))
    def counts(cap: Int) = combinePairs(kv.iterator, () => 0L, cap)((n, _) => n + 1, _ => 1).toSeq
    def sets(cap: Int) = combinePairs(kv.iterator, () => new java.util.HashSet[String](), cap)(
      (set, p) => { set.add(p._2); set }, _.size)
      .map { case (k, set) => (k, set.toArray.map(_.toString).sorted.mkString(",")) }.toSeq
    // under the cap: one partial per distinct key
    assert(counts(MapReduce.CombineCap).sorted == Seq(("j", 2L), ("k", 4L)))
    assert(sets(MapReduce.CombineCap).sorted == Seq(("j", "a"), ("k", "a,b,c")))
    // a Fold partial holds one entry: two keys fill cap 2, so the map
    // drains after (k, a) (k, a) (k, b) (j, a) and refills from (k, c)
    assert(counts(2).sorted == Seq(("j", 1L), ("j", 1L), ("k", 1L), ("k", 3L)))
    // a DistinctValues partial holds its set: {a, b} and {a} fill cap 3
    assert(sets(3).sorted == Seq(("j", "a"), ("j", "a"), ("k", "a,b"), ("k", "c")))
    // cap 1 passes each pair through as its own partial
    assert(counts(1).size == kv.size)
    // draining is lazy: the first partial is out after cap pairs are read
    var read = 0
    val out = combinePairs(Iterator.tabulate(10) { i => read += 1; (s"k$i", "v") },
      () => 0L, 4)((n, _) => n + 1, _ => 1)
    assert(out.hasNext && read == 4)
    assert(out.size == 10 && read == 10)
  }

  /** The built-in maps' tokenizer's specification. */
  private def splitTokens(s: String) = s.split("[^\\p{L}\\p{N}]+").filter(_.nonEmpty).toSeq

  test("tokens equals the regex split on hostile text") {
    val hostile = Seq(
      "", " ", "a", "--a--b--", "İstanbul", "i\u0307x", "\u0307", "XII Ⅻ ²³ x²",
      "\uD835\uDC00\uD835\uDC01 𝐀b", "０１２ ３-４", "ÉCOLE école Straße",
      "a\uD835b", "a\uDC00b", "\uD835", "\uDC00\uD835", "\uD840\uDC00\uD840\uDC01",
      "tab\tnew\nline\u00A0nbsp", "x_y.z,w;v", "ʰ ǅ 〇 ٣", "\uD800\uDC00")
    for (s <- hostile) assert(MapReduce.tokens(s) == splitTokens(s), s)
    assert(MapReduce.tokens("İstanbul 𝐀 Ⅻ² ０１") == Seq("İstanbul", "𝐀", "Ⅻ²", "０１"))
    assert(MapReduce.tokens("i\u0307x a\uD835b") == Seq("i", "x", "a", "b"))
    // split, then lowercase: İ lowercases to i + U+0307, which a split
    // of the lowercased text would cut (U+0307 is a mark, not a letter)
    val wc = MapReduce.builtins.map("wordcount")("f", "İstanbul")
    assert(wc == Seq(("i\u0307stanbul", "1")) && wc.head._1.length == 9)
  }

  test("tokens equals the regex split on a seeded fuzz of 100k strings") {
    val rnd = new scala.util.Random(16)
    val sb = new java.lang.StringBuilder
    val strings = Iterator.fill(100000) {
      sb.setLength(0)
      for (_ <- 0 until rnd.nextInt(24)) rnd.nextInt(10) match {
        case 0 | 1 | 2 | 3 => sb.append((rnd.nextInt(0x80)).toChar)
        case 4 => sb.append(' ')
        case 5 | 6 => // BMP, surrogates excluded
          val c = 0x80 + rnd.nextInt(0xFFFF - 0x80 - 0x800)
          sb.append((if (c >= 0xD800) c + 0x800 else c).toChar)
        case 7 => sb.appendCodePoint(0x10000 + rnd.nextInt(0x100000)) // supplementary
        case 8 => sb.appendCodePoint(0x1D400 + rnd.nextInt(0x400)) // math letters and digits
        case _ => sb.append((0xD800 + rnd.nextInt(0x800)).toChar) // a lone surrogate
      }
      sb.toString
    }
    val mismatches = strings.filter(s => MapReduce.tokens(s) != splitTokens(s)).take(5)
      .map(_.codePoints.toArray.map(_.toHexString).mkString(" ")).toList
    assert(mismatches.isEmpty, s"code points of mismatching strings: $mismatches")
  }

  test("salted join equals plain join") {
    import spark.implicits._
    // skewed large side: key 1 dominates
    val large = (1 to 1000).map(i => (if (i <= 900) 1L else i.toLong, i.toLong))
      .toDF("k", "row_id")
    val small = Seq((1L, "one"), (950L, "x"), (2000L, "unused"))
      .toDF("k", "label")
    val salted = SkewJoin.saltedJoin(large, small, "k", "row_id", buckets = 4)
      .select("k", "row_id", "label")
    val plain = large.join(small, "k").select("k", "row_id", "label")
    assert(salted.count() == plain.count())
    assert(salted.except(plain).isEmpty && plain.except(salted).isEmpty)
  }
}
