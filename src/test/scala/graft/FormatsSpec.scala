package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.sources.Formats
import graft.streaming.BoundedReplay.deleteStaged

class FormatsSpec extends SparkSpec {

  test("JSON-lines round-trip; malformed lines surface as corrupt records") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-jsonl")
    try {
      val df = Seq((1L, "a"), (2L, "b")).toDF("id", "s")
      Formats.writeJsonLines(df, s"$dir/out")
      // drop a malformed line in as its own file (appending to a part
      // file would break its Hadoop .crc sidecar)
      Files.writeString(
        dir.resolve("out").resolve("extra.json"), "{not json\n")
      val schema = StructType(Seq(
        StructField("id", LongType), StructField("s", StringType),
        StructField("_corrupt_record", StringType)))
      val back = Formats.readJsonLines(spark, s"$dir/out", schema).cache()
      assert(back.filter(col("_corrupt_record").isNotNull).count() == 1)
      assert(back.filter(col("_corrupt_record").isNull).count() == 2)
      back.unpersist()
    } finally deleteStaged(dir)
  }

  test("TSV round-trip preserves key/value rows") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-tsv2")
    try {
      val df = Seq(("k1", 10L), ("k2", 20L)).toDF("key", "value")
      Formats.writeTsv(df, s"$dir/out")
      val schema = StructType(Seq(
        StructField("key", StringType), StructField("value", LongType)))
      val back = Formats.readTsv(spark, s"$dir/out", schema)
      assert(back.as[(String, Long)].collect().toMap == Map("k1" -> 10L, "k2" -> 20L))
    } finally deleteStaged(dir)
  }

  test("ORC round-trip preserves rows and pushes predicates to the scan") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-orc")
    try {
      val df = Tables.lineitem(spark, sf0001)
        .select("l_orderkey", "l_quantity", "l_shipdate")
      Formats.writeOrc(df, s"$dir/li")
      val back = Formats.readOrc(spark, s"$dir/li")
      assert(back.count() == df.count())
      val filtered = back.filter($"l_quantity" > 25.0)
      val plan = filtered.queryExecution.executedPlan.toString
      assert(plan.contains("PushedFilters: [IsNotNull(l_quantity)"),
        s"ORC scan must push the quantity filter:\n$plan")
      assert(filtered.count() == df.filter($"l_quantity" > 25.0).count())
    } finally deleteStaged(dir)
  }

  test("binaryFile source exposes payload bytes and metadata") {
    val dir = Files.createTempDirectory("graft-bin")
    try {
      Files.write(dir.resolve("x.bin"), Array[Byte](1, 2, 3))
      val df = Formats.readBinary(spark, dir.toString, "*.bin")
      val row = df.select("length", "content").collect()(0)
      assert(row.getLong(0) == 3)
      assert(row.getAs[Array[Byte]](1).toSeq == Seq[Byte](1, 2, 3))
    } finally deleteStaged(dir)
  }

  test("partitioned parquet write prunes partitions on read") {
    val dir = Files.createTempDirectory("graft-part")
    try {
      val orders = Tables.orders(spark, sf0001)
        .withColumn("o_year", org.apache.spark.sql.functions.year(
          org.apache.spark.sql.functions.col("o_orderdate")))
      orders.write.partitionBy("o_year").mode("overwrite").parquet(s"$dir/orders")
      val pruned = spark.read.parquet(s"$dir/orders")
        .filter(col("o_year") === 1996)
      val scan = pruned.queryExecution.executedPlan.toString
      assert(scan.contains("PartitionFilters: [isnotnull(o_year"),
        s"expected partition pruning in:\n$scan")
      assert(pruned.count() ==
        orders.filter(col("o_year") === 1996).count())
    } finally deleteStaged(dir)
  }

  test("z-order partitioned write realizes multi-dim file skipping without a total sort") {
    import org.apache.spark.sql.functions._
    val dir = Files.createTempDirectory("graft-zorder")
    try {
      val out = s"$dir/li"
      val nFiles = graft.operators.Layout.zorderWriteLineitem(spark, sf0001, out)
      assert(nFiles >= 8, s"range write produced only $nFiles files")
      // per-file footer stats, read back the honest way: min/max per file
      val files = new java.io.File(out).listFiles()
        .filter(_.getName.endsWith(".parquet")).map(_.toString).sorted
      val stats = files.map { f =>
        val r = spark.read.parquet(f)
          .agg(min("zkey"), max("zkey"), min("l_partkey"), max("l_partkey"),
            min("l_suppkey"), max("l_suppkey")).collect()(0)
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4), r.getLong(5))
      }.sortBy(_._1)
      // 1. the layout realized: zkey intervals are non-overlapping
      stats.sliding(2).foreach { case Array(a, b) =>
        assert(a._2 <= b._1, s"overlapping zkey ranges: $a vs $b")
      }
      // 2. footer min/max skip MOST files for a point predicate on
      //    EITHER interleaved dimension (a 1-key sort clusters only its
      //    own key: every file would match on the other one)
      val pk = stats(stats.length / 2)._3  // an existing mid partkey
      val sk = stats(stats.length / 2)._5
      val pkMatch = stats.count(s => s._3 <= pk && pk <= s._4)
      val skMatch = stats.count(s => s._5 <= sk && sk <= s._6)
      assert(pkMatch <= files.length / 2,
        s"partkey=$pk footer ranges match $pkMatch of ${files.length} files")
      assert(skMatch <= files.length / 2,
        s"suppkey=$sk footer ranges match $skMatch of ${files.length} files")
      // 3. a zkey range predicate reaches the parquet reader as a pushed
      //    filter (row-group skipping applies on the sorted column)
      val scan = spark.read.parquet(out)
        .filter(col("zkey") < stats(1)._1)
        .queryExecution.executedPlan.toString
      assert(scan.contains("PushedFilters: [IsNotNull(zkey), LessThan(zkey"),
        s"zkey range not pushed to the scan:\n$scan")
    } finally deleteStaged(dir)
  }

  test("curation pipeline composes dedup + quality + near-dup stages") {
    val (curated, stats) = graft.ext.Pipeline.curate(spark, sf0001)
    assert(stats.n_input == 500)
    assert(stats.n_after_exact <= stats.n_input)
    assert(stats.n_after_quality <= stats.n_after_exact)
    assert(stats.n_after_neardup <= stats.n_after_quality)
    assert(stats.n_after_neardup > 0 && stats.total_tokens > 0)
    assert(curated.count() == stats.n_after_neardup)
    // curated docs keep the full original schema
    assert(curated.columns.contains("text") && curated.columns.contains("doc_id"))
  }

  test("bucketed tables join without an exchange") {
    import spark.implicits._
    // clean any leftover table/location from an earlier aborted run
    Seq("bucket_a", "bucket_b").foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS $t")
      val loc = new java.io.File(s"spark-warehouse/$t")
      if (loc.exists()) {
        loc.listFiles().foreach(_.delete()); loc.delete()
      }
    }
    val a = (1L to 1000L).map(i => (i, s"a$i")).toDF("k", "av")
    val b = (1L to 1000L).map(i => (i, i * 2)).toDF("k", "bv")
    Formats.writeBucketed(a, "bucket_a", "k", 4)
    Formats.writeBucketed(b, "bucket_b", "k", 4)
    // force the shuffle-join path (broadcast would bypass bucketing on
    // a table this small; at scale both sides are too big to broadcast)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = spark.table("bucket_a").join(spark.table("bucket_b"), "k")
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"bucketed join should be exchange-free, got:\n$plan")
      assert(joined.count() == 1000)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.sql("DROP TABLE bucket_a"); spark.sql("DROP TABLE bucket_b")
    }
  }
}
