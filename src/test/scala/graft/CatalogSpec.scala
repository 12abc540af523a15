package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.mr.MapReduce
import graft.streaming.BoundedReplay.deleteStaged

class CatalogSpec extends SparkSpec {

  test("catalog put/get/list/delete mirror DFS namespace semantics") {
    import spark.implicits._
    val cat = new Catalog(spark)
    cat.put("data/a", Seq(1, 2).toDF("x"))
    cat.put("data/b", Seq(3).toDF("x"))
    cat.put("other/c", Seq(4).toDF("x"))
    assert(cat.list("data/") == Seq("data/a", "data/b"))
    assert(cat.list() == Seq("data/a", "data/b", "other/c"))
    assert(cat.get("data/a").count() == 2)
    assert(cat.exists("data/b"))
    assert(cat.delete("data/b"))
    assert(!cat.exists("data/b"))
    assert(!cat.delete("data/b"))
    assert(cat.list("data/") == Seq("data/a"))
    intercept[NoSuchElementException](cat.get("nope"))
  }

  test("catalog entries are queryable via spark.sql") {
    import spark.implicits._
    val cat = new Catalog(spark)
    cat.put("sql/demo", Seq((1L, "x"), (2L, "y")).toDF("id", "s"))
    val view = cat.sqlName("sql/demo")
    val n = spark.sql(s"SELECT count(*) AS n FROM $view").collect()(0).getLong(0)
    assert(n == 2)
    cat.delete("sql/demo")
    intercept[Exception](spark.sql(s"SELECT * FROM $view").collect())
  }

  test("sqlName is injective for keys that sanitize identically") {
    import spark.implicits._
    val cat = new Catalog(spark)
    val keys = Seq("a/b", "a.b", "a_b", "1table")
    assert(keys.map(cat.sqlName).distinct.size == keys.size)
    // colliding-sanitization keys coexist as separate views
    cat.put("a/b", Seq(1).toDF("x"))
    cat.put("a.b", Seq(2, 3).toDF("x"))
    cat.put("1table", Seq(4).toDF("x"))
    assert(spark.sql(s"SELECT count(*) AS n FROM ${cat.sqlName("a/b")}")
      .collect()(0).getLong(0) == 1)
    assert(spark.sql(s"SELECT count(*) AS n FROM ${cat.sqlName("a.b")}")
      .collect()(0).getLong(0) == 2)
    // deleting one key leaves the other's view intact
    cat.delete("a/b")
    assert(spark.sql(s"SELECT count(*) AS n FROM ${cat.sqlName("a.b")}")
      .collect()(0).getLong(0) == 2)
    keys.filter(cat.exists).foreach(cat.delete)
  }

  test("salted aggregation equals direct aggregation on skewed keys") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.DecimalType
    val skewed = (1 to 5000).map(i => (if (i <= 4500) "hot" else s"k$i", i.toDouble))
      .toDF("key", "v")
    val direct = skewed.groupBy("key")
      .agg(count(lit(1)).as("n"), sum(col("v").cast(DecimalType(18, 2))).as("total"))
    val salted = graft.operators.SkewAgg.saltedCountSum(
      skewed, "key", col("v").cast(DecimalType(18, 2)))
    assert(salted.count() == direct.count())
    assert(salted.except(direct).isEmpty && direct.except(salted).isEmpty)
  }

  test("catalog persist/load round-trip through parquet") {
    import spark.implicits._
    val cat = new Catalog(spark)
    val dir = Files.createTempDirectory("graft-cat")
    try {
      cat.put("t", Seq((1L, "a"), (2L, "b")).toDF("id", "s"))
      cat.persist("t", s"$dir/t")
      val back = cat.load("t2", s"$dir/t")
      assert(back.orderBy("id").collect().map(_.getLong(0)).toSeq == Seq(1L, 2L))
    } finally deleteStaged(dir)
  }

  test("TSV sink: single-file aggregate mode vs multi-part mode") {
    import spark.implicits._
    val result = MapReduce.runJob(
      Seq(("f", "b a a c b a")).toDS(), "wordcount", "wordcount")
    val dir = Files.createTempDirectory("graft-tsv")
    try {
      // -aggregate=true ≈ one merged sorted file (SURVEY A6)
      MapReduce.writeTsv(result, s"$dir/single", single = true)
      val files = new java.io.File(s"$dir/single").listFiles()
        .filter(_.getName.startsWith("part-"))
      assert(files.length == 1)
      val content = new String(Files.readAllBytes(files.head.toPath))
      assert(content == "a\t3\nb\t2\nc\t1\n")
      // -aggregate=false ≈ R part files (SURVEY A7/A8); content identical
      MapReduce.writeTsv(result, s"$dir/multi", single = false)
      val multi = spark.read.option("sep", "\t")
        .csv(s"$dir/multi").as[(String, String)].collect().toMap
      assert(multi == Map("a" -> "3", "b" -> "2", "c" -> "1"))
    } finally deleteStaged(dir)
  }

  test("TSV single-file mode holds without AQE partition coalescing") {
    // the range sort fans out to all shuffle partitions; coalesce(1)
    // after the sort must still yield ONE globally-sorted file even
    // when AQE isn't shrinking the exchange behind the scenes
    import spark.implicits._
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val dir = Files.createTempDirectory("graft-tsv-noaqe")
    try {
      val result = (1 to 500).map(i => (f"k$i%04d", i.toString)).toDS()
      MapReduce.writeTsv(result, s"$dir/single", single = true)
      val files = new java.io.File(s"$dir/single").listFiles()
        .filter(_.getName.startsWith("part-"))
      assert(files.length == 1, s"expected 1 part file, got ${files.length}")
      val keys = scala.io.Source.fromFile(files.head).getLines()
        .map(_.split("\t")(0)).toSeq
      assert(keys == keys.sorted && keys.size == 500)
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      deleteStaged(dir)
    }
  }

  test("TSV multi-part mode renames to <outputKey>-reduce-<i> (A8 ABI)") {
    import spark.implicits._
    val result = (1 to 100).map(i => (f"k$i%03d", i.toString)).toDS()
    val dir = Files.createTempDirectory("graft-tsv-a8")
    try {
      MapReduce.writeTsv(result, s"$dir/out", single = false,
        outputKey = Some("wc"))
      val names = new java.io.File(s"$dir/out").listFiles().map(_.getName)
        .filter(n => !n.startsWith(".") && n != "_SUCCESS")
      assert(names.nonEmpty && names.forall(_.matches("wc-reduce-\\d+")), names.mkString(","))
      assert(names.map(_.stripPrefix("wc-reduce-").toInt).sorted.toSeq ==
        (0 until names.length).toSeq)
      // rows survive the rename byte-for-byte
      val rows = names.flatMap(n =>
        scala.io.Source.fromFile(new java.io.File(s"$dir/out", n)).getLines())
      assert(rows.length == 100)
    } finally deleteStaged(dir)
  }

  test("upsert replaces matching keys and keeps the rest") {
    import spark.implicits._
    val cat = new Catalog(spark)
    cat.put("up/base", Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v"))
    val merged = cat.upsert("up/base",
      Seq((2L, "B2"), (4L, "d")).toDF("id", "v"), "id")
    assert(merged.as[(Long, String)].collect().toMap ==
      Map(1L -> "a", 2L -> "B2", 3L -> "c", 4L -> "d"))
    // the catalog entry itself was replaced
    assert(cat.get("up/base").count() == 4)
    // upsert into an absent key behaves as put
    val fresh = cat.upsert("up/new", Seq((9L, "z")).toDF("id", "v"), "id")
    assert(fresh.count() == 1)
  }

  test("compaction rewrites many small files into few sized ones") {
    import spark.implicits._
    val work = Files.createTempDirectory("graft-compact")
    try {
      val dir = s"$work/t"
      val df = (1L to 1000L).toDF("n")
      df.repartition(64).write.parquet(dir) // 64 tiny files
      val before = new java.io.File(dir).listFiles()
        .count(_.getName.endsWith(".parquet"))
      assert(before >= 32, s"expected many small files, got $before")
      val cat = new Catalog(spark)
      val after = cat.compact(dir) // total bytes << target => 1 file
      assert(after == 1, s"expected 1 compacted file, got $after")
      val back = spark.read.parquet(dir).as[Long].collect().sorted
      assert(back.length == 1000 && back.head == 1L && back.last == 1000L)
    } finally deleteStaged(work)
  }

  test("artifact-store GC keeps the newest K vintages and purges the rest") {
    val work = Files.createTempDirectory("graft-artifacts")
    try {
      val root = work.toString
      // four artifact vintages with distinct mtimes (oldest first)
      val names = Seq("aaaa", "bbbb", "cccc", "dddd")
      names.zipWithIndex.foreach { case (n, i) =>
        val d = new java.io.File(root, n)
        assert(d.mkdirs())
        val f = new java.io.File(d, "part-0.parquet")
        assert(f.createNewFile())
        assert(d.setLastModified(1000000L * (i + 1)))
      }
      val purged = Catalog.purgeStale(root, keep = 2)
      assert(purged == Seq("aaaa", "bbbb"), s"purged: $purged")
      val left = new java.io.File(root).listFiles().map(_.getName).sorted.toSeq
      assert(left == Seq("cccc", "dddd"))
      // idempotent; keep larger than population purges nothing; missing
      // root purges nothing
      assert(Catalog.purgeStale(root, keep = 2).isEmpty)
      assert(Catalog.purgeStale(root, keep = 99).isEmpty)
      assert(Catalog.purgeStale(root + "/nope", keep = 1).isEmpty)
    } finally deleteStaged(work)
  }

  test("artifact root resolves prop over env over the .graft-artifacts default") {
    assert(Catalog.artifactRootFrom(Some("/p"), Some("/e")) == "/p")
    assert(Catalog.artifactRootFrom(None, Some("/e")) == "/e")
    assert(Catalog.artifactRootFrom(None, None) == ".graft-artifacts")
    // and the composed path shape the families key by
    assert(Catalog.artifactPath("fam", "/tmp") ==
      s"${Catalog.artifactRoot}/fam/${Catalog.pathDigest("/tmp")}")
  }

  test("edges artifact writer self-GCs stale vintages; an evicted vintage heals by rebuild") {
    // the round-11 gap: purgeStale existed but nothing called it — the
    // store grew one directory per corpus vintage forever. The writer
    // now GCs its family root after every persist (keep = artifactKeep,
    // newest-first by mtime).
    val keep = Catalog.artifactKeep
    val work = Files.createTempDirectory("graft-gc")
    try {
      val fam = s"$work/dedup_edges"
      // keep+1 fake stale vintages, oldest first — the real persist below
      // makes keep+2 children, so the two oldest must go
      (1 to keep + 1).foreach { i =>
        val d = new java.io.File(fam, f"vintage$i%02d")
        assert(d.mkdirs())
        assert(d.setLastModified(1000000000000L + i * 60000L))
      }
      val digest = Catalog.pathDigest(sf0001)
      graft.ext.Dedup.edgesArtifactPersist(spark, sf0001, s"$fam/$digest")
      val left = new java.io.File(fam).listFiles().map(_.getName).toSet
      assert(left.contains(digest), s"fresh artifact must survive its own GC: $left")
      assert(!left.contains("vintage01") && !left.contains("vintage02"),
        s"the two oldest vintages must be evicted: $left")
      assert(left.size == keep, s"expected $keep survivors, got $left")
      // eviction is never data loss: the artifact is a cache, so a purged
      // vintage rebuilds from the corpus on the next persist/load
      val healed = new java.io.File(fam, "vintage01")
      graft.ext.Dedup.edgesArtifactPersist(spark, sf0001, healed.toString)
      assert(spark.read.parquet(healed.toString)
        .filter(org.apache.spark.sql.functions.col("kind") === "meta").count() == 1,
        "rebuilt vintage must be a complete artifact")
    } finally deleteStaged(work)
  }

  test("path digest is canonical: spellings and symlinks key one artifact") {
    val real = Files.createTempDirectory("graft-digest")
    val link = java.nio.file.Paths.get(real.toString + ".lnk")
    try {
      val d0 = Catalog.pathDigest(real.toString)
      assert(Catalog.pathDigest(real.toString + "/") == d0)
      assert(Catalog.pathDigest(real.toString + "/./") == d0)
      Files.createSymbolicLink(link, real)
      assert(Catalog.pathDigest(link.toString) == d0,
        "a symlink spelling must key the same artifact")
    } finally {
      Files.deleteIfExists(link)
      deleteStaged(real)
    }
  }

  test("graft_dot is callable from SQL after extension registration") {
    graft.functions.GraftFunctions.register(spark)
    val r = spark.sql(
      "SELECT graft_dot(array(1.0d, 2.0d, 3.0d), array(4.0d, 5.0d, 6.0d)) AS d")
      .collect()(0).getDouble(0)
    assert(r == 32.0)
    val c = spark.sql(
      "SELECT graft_array_eq_count(array(1L, 2L, 3L), array(1L, 9L, 3L)) AS c")
      .collect()(0).getInt(0)
    assert(c == 2)
  }
}
