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
    for {
      (data, pairs) <- jobs
      (input, layout) <- Seq(data -> "as read", data.repartition(1) -> "1 partition",
        data.repartition(13) -> "13 partitions")
      (m, r) <- pairs
    } {
      val combined = MapReduce.runJob(input, m, r).collect().sorted.toSeq
      val holistic = MapReduce.runJob(input, m, r, holisticOnly).collect().sorted.toSeq
      assert(combined.nonEmpty, s"$m/$r ($layout) produced nothing")
      assert(combined == holistic, s"$m/$r ($layout)")
    }
  }

  test("re-registering a reducer drops its combine form") {
    val r = new MapReduce.Registry()
      .registerReduce("n", MapReduce.builtins.reduce("wordcount"),
        MapReduce.builtins.combine("wordcount"))
      .registerReduce("n", (_, values) => values.mkString)
    assert(r.combine("n").isEmpty)
  }

  test("dropRepeats drops a task's repeated pairs and switches off when they are rare") {
    import MapReduce.dropRepeats
    val kv = (i: Int) => (s"k${i % 3}", s"v$i")
    // mostly repeats: every pair after the first occurrence is dropped
    val hot = Seq.tabulate(100)(i => kv(i % 5))
    assert(dropRepeats(hot.iterator, probe = 20).toSeq == hot.distinct)
    // the set is cleared at `cap`, so a repeat after that passes again
    assert(dropRepeats(Iterator(kv(1), kv(2), kv(1)), cap = 2).size == 3)
    // fewer than a quarter of the first `probe` pairs repeat: from
    // there on every pair passes unchecked
    val cold = (0 until 20).map(kv) ++ Seq(kv(0), kv(0))
    assert(dropRepeats(cold.iterator, probe = 20).toSeq == cold)
    val warm = (0 until 15).map(kv) ++ (0 until 5).map(kv) ++ Seq(kv(0), kv(0))
    assert(dropRepeats(warm.iterator, probe = 20).toSeq == warm.distinct)
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
