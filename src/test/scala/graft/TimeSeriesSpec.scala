package graft

import org.apache.spark.sql.functions._

import graft.operators.TimeSeries

/** Value-level invariants + plan-shape checks for the time-series
  * diagnostics (ACF, CUSUM, truncated EWMA, day-of-week profile). */
class TimeSeriesSpec extends SparkSpec {

  test("kaplan-meier: censoring removes at-risk mass without an event factor (hand-computed fixture)") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // A,B purchase day 1; D purchases day 3 (the horizon); C never
    // purchases → censored at day 3. KM: S(1) = 1−2/4 = 0.5,
    // S(3) = 0.5·(1−1/2) = 0.25 — C reduces n_at_risk at t=3 but
    // contributes no event factor (the bias retention matrices have)
    val day = 86400L * 1000000L
    val rows = Seq(
      (1L, 0L, 10L, "signup"), (2L, 1 * day, 10L, "purchase"),
      (3L, 0L, 11L, "signup"), (4L, 1 * day, 11L, "purchase"),
      (5L, 0L, 12L, "signup"), // C: no purchase
      (6L, 0L, 13L, "signup"), (7L, 3 * day, 13L, "purchase"))
    val dir = java.nio.file.Files.createTempDirectory("graft-km-fixture")
    try {
      rows.toDF("event_id", "us", "user_id", "event_type")
        .select(col("event_id"), timestamp_micros(col("us")).as("ts"),
          col("user_id"), col("event_type"), lit(1.0).as("value"),
          lit("{}").as("props"))
        .write.mode("overwrite").parquet(s"$dir/events.parquet")
      val km = operators.EventOps.survivalKm(spark, dir.toString).collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
          r.getDouble(4)))).toMap
      assert(km == Map(1L -> ((4L, 2L, 0L, 0.5)), 3L -> ((2L, 1L, 1L, 0.25))),
        s"unexpected KM table: $km")
    } finally graft.streaming.BoundedReplay.deleteStaged(dir)
  }

  test("kaplan-meier survival is monotone non-increasing with shrinking risk set") {
    val rows = operators.EventOps.survivalKm(spark, sf0001).collect()
    assert(rows.nonEmpty)
    rows.sliding(2).foreach {
      case Array(a, b) =>
        assert(b.getAs[Double]("survival") <= a.getAs[Double]("survival"))
        assert(b.getAs[Long]("n_at_risk") < a.getAs[Long]("n_at_risk"))
      case _ =>
    }
  }

  test("acf is bounded by 1 in magnitude at every lag") {
    val rows = TimeSeries.acfDailyRevenue(spark, sf0001).collect()
    assert(rows.map(_.getAs[Int]("lag")).sorted.toSeq == (1 to 7))
    rows.foreach { r =>
      val a = r.getAs[Double]("acf")
      assert(math.abs(a) <= 1.0 + 1e-9, s"lag ${r.getAs[Int]("lag")}: acf $a")
      assert(r.getAs[Long]("n_pairs") > 0)
    }
  }

  test("cusum statistic is nonnegative and the peak day is in range") {
    val r = TimeSeries.cusumChangepoint(spark, sf0001).collect().head
    assert(r.getAs[Double]("cusum_stat") >= 0.0)
    assert(r.getAs[Long]("n_days") > 0)
    val day = r.getAs[java.sql.Date]("change_day").toLocalDate
    assert(day.getYear >= 1995 && day.getYear <= 2001)
  }

  test("ewma weights are a truncated geometric series summing below 1") {
    val ws = TimeSeries.ewmaWeights.map(_.toDouble)
    assert(ws.length == TimeSeries.EwmaWindow)
    // strictly decreasing, ratio ≈ (1-α)
    ws.sliding(2).foreach { case Seq(a, b) => assert(b < a) }
    val s = ws.sum
    assert(s < 1.0 && s > 0.9999, s"weight mass $s")
  }

  test("ewma output stays within the window's observed revenue range") {
    val rows = TimeSeries.ewmaDailyRevenue(spark, sf0001).collect()
    assert(rows.length <= 60 && rows.nonEmpty)
    val revs = Tables.orders(spark, sf0001)
      .groupBy(col("o_orderdate").cast("date")).agg(sum("o_totalprice"))
      .collect().map(_.getDouble(1))
    val (lo, hi) = (revs.min, revs.max)
    rows.foreach { r =>
      val e = r.getAs[Double]("ewma")
      assert(e >= lo - 1 && e <= hi + 1, s"ewma $e outside [$lo,$hi]")
      assert(r.getAs[Long]("n_obs") <= TimeSeries.EwmaWindow)
    }
  }

  test("seasonal indices average to ~1 weighted by day counts") {
    val rows = TimeSeries.seasonalityDow(spark, sf0001).collect()
    assert(rows.map(_.getAs[Long]("dow")).sorted.toSeq == (0L to 6L))
    val n = rows.map(_.getAs[Long]("n_days")).sum.toDouble
    val wavg = rows.map(r =>
      r.getAs[Double]("seasonal_index") * r.getAs[Long]("n_days")).sum / n
    assert(math.abs(wavg - 1.0) < 1e-3, s"weighted index mean $wavg")
    val ve = rows.head.getAs[Double]("var_explained")
    assert(ve <= 1.0 + 1e-9)
  }

  test("mann-kendall S is consistent with the sen slope sign and pair count") {
    val r = TimeSeries.trendRobust(spark, sf0001).collect().head
    val n = r.getAs[Long]("n_days"); val pairs = r.getAs[Long]("n_pairs")
    assert(pairs == n * (n - 1) / 2, "every day pair counted once")
    val s = r.getAs[Long]("s_stat")
    assert(math.abs(s) <= pairs)
    // a clear monotone trend must agree in sign with the robust slope
    val z = r.getAs[Double]("z"); val sen = r.getAs[Double]("sen_slope")
    if (math.abs(z) > 1.96) assert(s.sign == math.signum(sen).toLong)
    val trend = r.getAs[String]("trend")
    assert(trend == (if (math.abs(z) <= 1.96) "no trend"
      else if (z > 0) "increasing" else "decreasing"))
  }

  test("the series family aggregates before any window or self-join") {
    // the only input-sized stage is the day aggregation: every window /
    // join in the plan runs on the day frame, so the physical plan has
    // exactly one aggregate taking the parquet scan as its child
    val plan = TimeSeries.acfDailyRevenue(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") || plan.contains("BroadcastNestedLoopJoin"),
      s"unexpected cartesian in:\n$plan")
  }
}
