package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.BoundedTopK

/** Native bounded top-k aggregate vs the window idiom, plus plan shape. */
class TopKAggSpec extends SparkSpec {

  test("valuesAtGroupRanks fetches the window-rank values without a full sort") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val rows = rnd.shuffle((1 to 3000).toList).zipWithIndex.map {
      case (v, i) => (s"g${i % 5}", v * 0.25)
    }
    val df = rows.toDF("g", "v")
    // ranks spanning bucket boundaries, plus the extremes
    val ranks = Seq.tabulate(5)(i => s"g$i").flatMap(g =>
      Seq(1L, 7L, 300L, 599L, 600L).map(rk => (g, rk))).toDF("g", "rk")
    val got = operators.Relational.valuesAtGroupRanks(df, ranks)
      .orderBy("g", "rk").collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    val w = Window.partitionBy("g").orderBy("v")
    val want = df.withColumn("rk", row_number().over(w).cast("long"))
      .join(ranks, Seq("g", "rk"))
      .select(col("g"), col("rk"), col("v"))
      .orderBy("g", "rk").collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    assert(got.toSeq == want.toSeq)
    assert(got.length == 25)
  }

  test("grouped_topk_agg equals the window row_number form") {
    val agg = operators.Relational.groupedTopkAgg(spark, sf0001).collect()
    val w = Window.partitionBy("o_orderpriority")
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    val win = Tables.orders(spark, sf0001)
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= 3)
      .select("o_orderpriority", "rk", "o_orderkey", "o_totalprice")
      .orderBy("o_orderpriority", "rk")
      .collect()
    assert(agg.toSeq == win.toSeq)
  }

  test("bounded top-k survives partial/merge across many partitions") {
    val df = Tables.orders(spark, sf0001).repartition(7)
      .groupBy("o_orderpriority")
      .agg(BoundedTopK(5,
        struct(negate(col("o_totalprice")).as("np"), col("o_orderkey"))).as("top"))
      .select(col("o_orderpriority"), explode(col("top")).as("s"))
      .select(col("o_orderpriority"), col("s.o_orderkey").as("o_orderkey"))
    val single = Tables.orders(spark, sf0001).coalesce(1)
      .groupBy("o_orderpriority")
      .agg(BoundedTopK(5,
        struct(negate(col("o_totalprice")).as("np"), col("o_orderkey"))).as("top"))
      .select(col("o_orderpriority"), explode(col("top")).as("s"))
      .select(col("o_orderpriority"), col("s.o_orderkey").as("o_orderkey"))
    assert(df.collect().toSet == single.collect().toSet)
  }

  test("k larger than the group emits the whole group, sorted") {
    val out = Tables.region(spark, sf0001)
      .groupBy(lit(1).as("g"))
      .agg(BoundedTopK(1000, struct(col("r_regionkey"))).as("top"))
      .select(explode(col("top")).as("s"))
      .select(col("s.r_regionkey").as("k"))
      .collect().map(_.getInt(0)).toSeq
    assert(out == out.sorted && out.size == 5)
  }

  test("plan uses ObjectHashAggregate with no Window node") {
    val plan = operators.Relational.groupedTopkAgg(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(plan.contains("ObjectHashAggregate"), s"expected object hash agg:\n$plan")
    assert(!plan.contains("Window"), s"window operator crept in:\n$plan")
    // partial + final pair: map-side combine shrinks groups to ≤ k
    // rows BEFORE the exchange
    assert(plan.contains("partial_graft_bounded_topk"), s"no partial agg:\n$plan")
  }

  test("distinct top-k: duplicates never occupy a slot, any partitioning") {
    import spark.implicits._
    import graft.functions.BoundedDistinctTopK
    // heavy duplication at the low end: value v repeated 20 times each
    val rows = (0L until 10L).flatMap(v => Seq.fill(20)(v)) ++ (10L until 50L)
    def topOf(parts: Int, k: Int): Seq[Long] =
      rows.toDF("v").repartition(parts)
        .groupBy(lit(1).as("g"))
        .agg(BoundedDistinctTopK(k, struct(col("v"))).as("top"))
        .select(explode(col("top")).as("s"))
        .select(col("s.v")).collect().map(_.getLong(0)).toSeq
    // the k smallest DISTINCT values — duplicates must not crowd out
    // 10..14 (plain BoundedTopK would return 0,0,0,... here)
    assert(topOf(1, 15) == (0L until 15L))
    assert(topOf(7, 15) == (0L until 15L))  // merge path dedupes too
    assert(topOf(7, 1000) == (0L until 50L)) // k > domain: all, sorted
    // eviction at the boundary: a late smaller value displaces the max
    assert(topOf(3, 3) == Seq(0L, 1L, 2L))
  }
}
