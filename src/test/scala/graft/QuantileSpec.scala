package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.Relational

/** [[Relational.exactGroupQuantiles]] against Spark's exact
  * `percentile` over hostile group shapes: one row, two rows, all
  * ties, heavy ties at both bracket endpoints, NULLs, zero and negative
  * values, and groups past the refine cap (the sketch-bracket path).
  * A cap of 1 or 2 forces the bracket to miss or overflow, so those
  * runs mostly pass through the [[Relational.valuesAtGroupRanks]]
  * fetch: over a bracket's inside values when they overflow the cap,
  * over the whole group when the sketch bracket misses the target. */
class QuantileSpec extends SparkSpec {

  private val Ps = Seq(0.0, 0.05, 0.25, 0.5, 0.75, 0.95, 0.99, 1.0)

  private lazy val hostile: DataFrame = {
    import spark.implicits._
    val rnd = new scala.util.Random(17)
    def grp(g: String, vs: Seq[Option[Double]]) = vs.map(v => (g, v))
    val rows =
      grp("one", Seq(Some(3.5))) ++
      grp("two", Seq(Some(4.0), Some(-1.25))) ++
      grp("ties", Seq.fill(50)(Some(7.0))) ++
      grp("nulls", Seq(None, Some(3.0), Some(1.0), None, Some(2.0))) ++
      grp("allnull", Seq(None, None)) ++
      // zero and negatives on the 2-dp grid, zero repeated
      grp("zeroneg", rnd.shuffle((-20 to 20).map(i => Some(i * 0.25)) ++
        Seq.fill(5)(Some(0.0)))) ++
      // past the cap: distinct values, bracketed by the sketch
      grp("big", rnd.shuffle((1 to 6000).map(i => Some(i * 0.01 - 20.0)))) ++
      // past the cap with every target rank inside one of two long
      // runs of ties: both bracket endpoints are tied values
      grp("heavy", rnd.shuffle(Seq.fill(4000)(Some(1.0)) ++
        Seq.fill(4000)(Some(2.0)) ++ (1 to 99).map(i => Some(1.0 + i * 0.01))))
    rows.toDF("g", "v").repartition(3)
  }

  /** Spark's exact percentile per (g, p), rounded to 4 dp. */
  private lazy val reference: Map[(String, Double), Option[Double]] =
    hostile.groupBy("g")
      .agg(round(percentile(col("v"), lit(Ps.head)), 4),
        Ps.tail.map(p => round(percentile(col("v"), lit(p)), 4)): _*)
      .collect().flatMap(r => Ps.zipWithIndex.map { case (p, i) =>
        (r.getString(0), p) -> Option(r.get(i + 1)).map(_.asInstanceOf[Double])
      }).toMap

  private def quantiles(cap: Int): Map[(String, Double), Option[Double]] =
    Relational.exactGroupQuantiles(hostile, Ps, maxGroups = 16, cap)
      .select(col("g"), col("p"),
        round(col("lo_v") * (lit(1.0) - col("frac")) +
          coalesce(col("hi_v"), col("lo_v")) * col("frac"), 4).as("qv"))
      .collect().map(r =>
        (r.getString(0), r.getDouble(1)) -> Option(r.get(2)).map(_.asInstanceOf[Double]))
      .toMap

  test("exact group quantiles equal Spark's percentile on hostile groups") {
    val got = quantiles(Relational.QuantileRefineCap)
    assert(reference.size == 8 * Ps.size)
    assert(got == reference)
  }

  test("a cap of 1 or 2 forces the fallback and returns the same rows") {
    val full = Relational.exactGroupQuantiles(hostile, Ps, maxGroups = 16)
      .orderBy("g", "p").collect().toSeq
    for (cap <- Seq(1, 2)) {
      assert(quantiles(cap) == reference, s"cap $cap")
      assert(Relational.exactGroupQuantiles(hostile, Ps, maxGroups = 16, cap)
        .orderBy("g", "p").collect().toSeq == full, s"cap $cap")
    }
  }

  /** The executed plans of the queries `body` runs. */
  private def executedPlans(body: => Unit): Seq[org.apache.spark.sql.execution.SparkPlan] = {
    import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
    import org.apache.spark.sql.util.QueryExecutionListener
    import scala.jdk.CollectionConverters._
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        plans.add(qe.executedPlan)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    org.apache.spark.GraftTestBus.drain(spark.sparkContext)
    spark.listenerManager.register(listener)
    try {
      body
      org.apache.spark.GraftTestBus.drain(spark.sparkContext)
    } finally spark.listenerManager.unregister(listener)
    plans.asScala.toSeq
  }

  test("a bracket over the cap is fetched from its inside values, not its whole group") {
    import org.apache.spark.sql.execution.FilterExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    // cap 6: the 6,000-value group's brackets hold about 4n/accuracy = 24
    // inside values each, more than the refine pass keeps
    var got = Map.empty[(String, Double), Option[Double]]
    val plans = executedPlans {
      got = Relational.exactGroupQuantiles(hostile.filter(col("g") === "big"), Ps,
          maxGroups = 16, cap = 6)
        .select(col("g"), col("p"),
          round(col("lo_v") * (lit(1.0) - col("frac")) +
            coalesce(col("hi_v"), col("lo_v")) * col("frac"), 4).as("qv"))
        .collect().map(r =>
          (r.getString(0), r.getDouble(1)) -> Option(r.get(2)).map(_.asInstanceOf[Double]))
        .toMap
    }
    assert(got == reference.filter(_._1._1 == "big"))
    // rows that passed the fetch's range filter
    val helper = new AdaptiveSparkPlanHelper {}
    val fetched = plans.flatMap(p => helper.collect(p) {
      case f: FilterExec if f.condition.sql.contains("f_lo") => f.metrics("numOutputRows").value
    })
    assert(fetched.nonEmpty, "no rank needed the fetch")
    assert(fetched.sum > 0 && fetched.sum < 600, s"the fetch read $fetched values")
  }

  test("NULL values are ignored: n is count(v) and only non-null values rank") {
    val rows = Relational.exactGroupQuantiles(hostile.filter(col("g").isin("nulls", "allnull")),
        Seq(0.25, 0.5), maxGroups = 16)
      .orderBy("g", "p").collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getLong(2), r.get(3), r.get(4))).toSeq
    // DuckDB quantile_cont over {1, 2, 3}: p25 = 1.5 (ranks 1 and 2),
    // p50 = 2 (rank 2); a group of only NULLs has no quantile
    assert(rows == Seq(
      ("allnull", 0.25, 0L, null, null), ("allnull", 0.5, 0L, null, null),
      ("nulls", 0.25, 3L, 1.0, 2.0), ("nulls", 0.5, 3L, 2.0, 2.0)))
  }

  test("more groups than maxGroups fails at the bracket pass") {
    val e = intercept[IllegalArgumentException] {
      Relational.exactGroupQuantiles(hostile, Seq(0.5), maxGroups = 4)
    }
    assert(e.getMessage.contains("more than 4 groups"))
  }
}
