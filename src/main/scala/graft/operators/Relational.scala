package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.Tables

/** Relational operator suite over the TPC-H-ish fixtures.
  *
  * The reference has no joins, windows, set ops, or expression language
  * (SURVEY §2.3/§2.5/§2.7) — these are the engine-provided operators a
  * user of a real analytics engine needs, expressed declaratively so
  * Catalyst plans them (predicate pushdown, column pruning, join
  * selection, AQE).
  *
  * Determinism discipline (the DuckDB oracle hash-compares values):
  *   - Monetary doubles in the fixtures carry exactly 2 decimals, so
  *     `CAST(x AS DECIMAL)` is exact and decimal sums are
  *     order-independent — identical bits in Spark and DuckDB. Raw
  *     double sums would differ by accumulation order; never used.
  *   - Final doubles are produced by a single deterministic IEEE op
  *     sequence from exact decimal inputs (e.g. `sum_dec::double / n`).
  *   - Every ORDER BY / LIMIT / window carries a unique-key tiebreak.
  *
  * Scale notes per operator are inline.
  */
object Relational {

  /** Exact decimal sum of a 2-dp monetary double, returned as double. */
  private def dsum2(c: Column): Column =
    sum(c.cast(DecimalType(18, 2))).cast("double")

  /** Exact decimal sum of a product of two 2-dp doubles (≤4 true
    * decimals; scale 6 absorbs double rounding noise ~1e-10). */
  private def dsum6(c: Column): Column =
    sum(c.cast(DecimalType(24, 6))).cast("double")

  private def ts(s: String): Column = lit(s).cast("timestamp")

  /** Exact value at specific global in-group ranks WITHOUT ranking
    * the whole input — the order-statistic fetch every percentile
    * query actually needs. Ranking every row sorts all the data just
    * so a handful of ranks can be joined out; here the
    * per-(group, bucket) count histogram (a hash aggregate — no
    * sort) locates which bucket slice holds each requested rank, and
    * ONLY those slices are row-number'd: with |targets| ≤ a few per
    * group, the windowed input is ~|targets|/|buckets| of the data
    * at any scale. Three scans of the input (min/max, histogram,
    * slice filter) all reuse one widening exchange (single-row-group
    * fixture files would otherwise scan as one task; AQE exchange
    * reuse feeds every consumer from the materialized exchange).
    * Returns (g, rk, v) for each requested (g, rk); ties between
    * equal values rank arbitrarily — the value at a rank is unique.
    * `v` must be non-null: a NULL lands in a NULL bucket that takes
    * the lowest ranks but is never fetched, so it shifts every rank. */
  private[graft] def valuesAtGroupRanks(vals0: DataFrame, ranks0: DataFrame,
                                        numBuckets: Int = 64): DataFrame = {
    val vals = vals0.repartition(vals0.sparkSession.sparkContext.defaultParallelism)
    // the rank list is tiny but typically derived from a count
    // aggregate — materialize it once instead of replaying that scan
    // for the bucket-location join and the final fetch join
    val ranks = ranks0.localCheckpoint()
    val stats = vals.groupBy("g")
      .agg(min(col("v")).as("vmin"), max(col("v")).as("vmax"))
    val bucketed = vals.join(broadcast(stats), Seq("g"))
      .select(col("g"), col("v"),
        when(col("vmin") === col("vmax"), lit(1L))
          .otherwise(width_bucket(col("v"), col("vmin"), col("vmax"), lit(numBuckets)))
          .as("bkt"))
    val wOff = Window.partitionBy("g").orderBy("bkt")
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = bucketed.groupBy("g", "bkt").agg(count(lit(1)).as("c"))
      .withColumn("off", coalesce(sum(col("c")).over(wOff), lit(0L)))
    val slices = ranks.join(offsets, Seq("g"))
      .filter(col("rk") > col("off") && col("rk") <= col("off") + col("c"))
      .select(col("g"), col("bkt"), col("off")).distinct()
    val wLocal = Window.partitionBy("g", "bkt").orderBy("v")
    bucketed.join(broadcast(slices), Seq("g", "bkt"))
      .withColumn("rk", col("off") + row_number().over(wLocal).cast("long"))
      .join(broadcast(ranks), Seq("g", "rk"))
      .select(col("g"), col("rk"), col("v"))
  }

  /** `CASE key WHEN k1 THEN v1 … END` over a handful of (key, value)
    * pairs, keys compared null-safely (NULL when no key matches): a
    * per-group constant looked up in-row instead of joined, for tables
    * of at most a few dozen groups that already sit on the driver. */
  private[graft] def groupLookup(key: Column, table: Seq[(Any, Column)]): Column =
    if (table.isEmpty) lit(null)
    else table.tail.foldLeft(when(key <=> lit(table.head._1), table.head._2)) {
      case (c, (k, v)) => c.when(key <=> lit(k), v)
    }

  /** Per-(group, p) bound on the strictly-in-bracket values the refine
    * pass of [[exactGroupQuantiles]] keeps (the smallest ones). A group
    * of at most this many values is bracketed by its min and max, so
    * it always resolves there. In a larger group the target rank sits
    * n/A to 3n/A values above the bracket's low end (A =
    * [[QaaAccuracy]]: the bracket starts 2n/A below the target, give or
    * take the sketch's n/A rank error), so up to cap·A/3 values
    * (1,365,333 at the defaults) a target inside the bracket is among
    * the kept values. Past that it may not be: then it is fetched from
    * the bracket's inside values alone (about 4n/A of them), never
    * from the whole group. */
  final val QuantileRefineCap = 4096

  /** Exact quantile_cont inputs per (g, p) by bracket-and-refine, the
    * filter-and-refine shape of REPOSE/Odyssey (PAPERS.md): two
    * aggregate passes, no rank sort and no checkpoint.
    *
    *   - bracket: one aggregate of `count(v)` and `percentile_approx`
    *     at p ∓ δ, δ = 2/[[QaaAccuracy]] (twice the n/accuracy rank
    *     error whose contract `quantile_approx_audit` oracles), plus at
    *     0 and 1 (min and max), collected and count-asserted against
    *     `maxGroups`.
    *   - refine: one aggregate over `vals` joined to the brackets (a
    *     [[groupLookup]] of literals, ≤ maxGroups·|ps| rows), counting
    *     values below and equal to each endpoint and keeping the
    *     strictly-inside values in a [[graft.functions.BoundedTopK]] of
    *     `cap` — memory per (g, p) is bounded under any skew.
    *   - verify: the counts place each target rank exactly, at an
    *     endpoint or at a position among the kept inside values. A
    *     rank they do not place goes through one [[valuesAtGroupRanks]]
    *     fetch: at rank r − le_lo among the bracket's inside values when
    *     the counts put it there (a bracket over the cap, see
    *     [[QuantileRefineCap]]), else — a sketch miss, e.g. a bracket
    *     that collapses onto one value in a small group — at rank r in
    *     its whole group.
    *
    * Like DuckDB's quantile_cont, NULL values are ignored: n is
    * `count(v)` and only non-null values are ranked; a group with no
    * non-null value yields NULL `lo_v`/`hi_v`/`frac`. Returns a local
    * frame (g, p, n, lo_v, hi_v, frac) with pos = p·(n−1),
    * lo_v/hi_v = the order statistics at ranks ⌊pos⌋+1 and ⌈pos⌉+1,
    * frac = pos − ⌊pos⌋; each caller interpolates in its own op order.
    * The frame spans up to defaultParallelism partitions: a caller that
    * aggregates or sorts it coalesces it to one partition first, so no
    * exchange (two or three more jobs over a handful of rows) is
    * planned. */
  private[graft] def exactGroupQuantiles(vals0: DataFrame, ps: Seq[Double], maxGroups: Int,
                                         cap: Int = QuantileRefineCap): DataFrame = {
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{DoubleType, IntegerType, LongType, StructType}
    val spark = vals0.sparkSession
    val gType = vals0.schema("g").dataType
    val vType = vals0.schema("v").dataType
    val v = col("v")
    val vals = vals0.select(col("g"), v).filter(v.isNotNull)
    val delta = 2.0 / QaaAccuracy
    val qs = Seq(0.0, 1.0) ++ ps.flatMap(p => Seq(p - delta, p + delta))
    // over vals0: a group whose values are all NULL keeps its row (n = 0)
    val stats = vals0.groupBy("g")
      .agg(count(v).as("n"),
        percentile_approx(v, array(qs.map(q => lit(q.max(0.0).min(1.0))): _*),
          lit(QaaAccuracy)).as("a"))
      .limit(maxGroups + 1).collect()
    require(stats.length <= maxGroups,
      s"exactGroupQuantiles: more than $maxGroups groups")

    // per (g, p): n, the two target ranks, frac and the bracket
    case class Target(g: Any, p: Double, n: Long, lo: Long, hi: Long, frac: Double,
                      bLo: Any, bHi: Any)
    val targets = for (s <- stats.toSeq; n = s.getLong(1) if n > 0;
                       (p, i) <- ps.zipWithIndex) yield {
      val a = s.getSeq[Any](2)
      val h = (n - 1).toDouble * p
      val (b, e) = if (n <= cap) (0, 1) else (2 + 2 * i, 3 + 2 * i)
      Target(s.get(0), p, n, math.floor(h).toLong + 1, math.ceil(h).toLong + 1,
        h - math.floor(h), a(b), a(e))
    }
    val refined: Map[(Any, Double), Row] =
      if (targets.isEmpty) Map.empty
      else {
        // the brackets ride into the refine pass as literals, not as a
        // broadcast join: broadcasting even a local frame costs a job
        val brackets = groupLookup(col("g"), targets.groupBy(_.g).toSeq.map { case (g, ts) =>
          g -> array(ts.map(t =>
            struct(lit(t.p).as("p"), lit(t.bLo).as("b_lo"), lit(t.bHi).as("b_hi"))): _*)
        })
        val (lo, hi) = (col("b_lo"), col("b_hi"))
        vals.select(col("g"), v, explode(brackets).as("b"))
          .select(col("g"), v, col("b.*"))
          .groupBy("g", "p")
          .agg(count_if(v < lo).as("lt_lo"), count_if(v <= lo).as("le_lo"),
            count_if(v < hi).as("lt_hi"), count_if(v <= hi).as("le_hi"),
            graft.functions.BoundedTopK(cap, when(v > lo && v < hi, struct(v))).as("mid"))
          .collect().map(r => (r.get(0), r.getDouble(1)) -> r).toMap
      }
    // the value at rank r, when the counts place it at a bracket end or
    // among the kept inside values
    def place(t: Target, r: Long): Option[Any] = refined.get((t.g, t.p)).flatMap { c =>
      val (ltLo, leLo, ltHi, leHi) = (c.getLong(2), c.getLong(3), c.getLong(4), c.getLong(5))
      val mid = c.getSeq[Row](6)
      if (r <= ltLo || r > leHi) None
      else if (r <= leLo) Some(t.bLo)
      else if (r <= ltHi) {
        val i = r - leLo - 1 // a Long: compare before narrowing
        if (i < mid.size) Some(mid(i.toInt).get(0)) else None
      }
      else Some(t.bHi)
    }
    val valueAt = scala.collection.mutable.Map[(Any, Long), Any]()
    for (t <- targets; r <- Seq(t.lo, t.hi); x <- place(t, r)) valueAt((t.g, r)) = x

    // each rank left is fetched as a rank among the values of one open
    // range per (g, range): the bracket's inside values, offset by
    // le_lo, when the counts put it there; else the unbounded range
    val fetch = for (t <- targets; r <- Seq(t.lo, t.hi) if !valueAt.contains((t.g, r)))
      yield refined.get((t.g, t.p)).map(c => (c.getLong(3), c.getLong(4))) match {
        case Some((leLo, ltHi)) if r > leLo && r <= ltHi => (t.g, (t.bLo, t.bHi), leLo, r)
        case _ => (t.g, (null, null), 0L, r)
      }
    if (fetch.nonEmpty) {
      val ranges = fetch.groupBy(_._1).map { case (g, fs) => g -> fs.map(_._2).distinct }
      // (g, range index, rank within the range) → rank within the group
      val want = fetch.map { case (g, range, off, r) =>
        (g, ranges(g).indexOf(range), r - off) -> r }.toMap
      val need = spark.createDataFrame(
        want.keys.toSeq.map { case (g, b, i) => Row(Row(g, b), i) }.asJava,
        new StructType().add("g", new StructType().add("g", gType).add("b", IntegerType))
          .add("rk", LongType))
      val inRange = groupLookup(col("g"), ranges.toSeq.map { case (g, rs) =>
        g -> array(rs.zipWithIndex.map { case ((lo, hi), b) =>
          struct(lit(b).as("b"), lit(lo).cast(vType).as("f_lo"), lit(hi).cast(vType).as("f_hi"))
        }: _*)
      })
      val (fLo, fHi) = (col("f.f_lo"), col("f.f_hi"))
      valuesAtGroupRanks(
          vals.select(col("g"), v, explode(inRange).as("f"))
            .filter((fLo.isNull || v > fLo) && (fHi.isNull || v < fHi))
            .select(struct(col("g"), col("f.b").as("b")).as("g"), v), need)
        .collect().foreach { row =>
          val k = row.getStruct(0)
          valueAt((k.get(0), want((k.get(0), k.getInt(1), row.getLong(1))))) = row.get(2)
        }
      val lost = fetch.map(f => f._1 -> f._4).filterNot(valueAt.contains)
      if (lost.nonEmpty)
        throw new IllegalStateException(s"exactGroupQuantiles: ranks not found: $lost")
    }

    val rows = targets.map(t => Row(t.g, t.p, t.n, valueAt((t.g, t.lo)),
        valueAt((t.g, t.hi)), t.frac)) ++
      stats.toSeq.filter(_.getLong(1) == 0).flatMap(s =>
        ps.map(p => Row(s.get(0), p, 0L, null, null, null)))
    spark.createDataFrame(rows.asJava, new StructType()
      .add("g", gType).add("p", DoubleType).add("n", LongType)
      .add("lo_v", vType).add("hi_v", vType).add("frac", DoubleType))
  }

  /** TPC-H Q1-style pricing summary. One shuffle; HashAggregate does
    * map-side partial agg, so at 100 TB the shuffle carries
    * |partitions|×|groups| rows (groups ≈ 6), not |lineitem|. The
    * shipdate filter is pushed to the parquet scan. */
  def q1PricingSummary(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    li.filter(col("l_shipdate") <= ts("2001-09-02"))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        dsum2(col("l_quantity")).as("sum_qty"),
        dsum2(col("l_extendedprice")).as("sum_base_price"),
        dsum6(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("sum_disc_price"),
        dsum6(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * (lit(1.0) + col("l_tax"))).as("sum_charge"),
        (dsum2(col("l_quantity")) / count(lit(1))).as("avg_qty"),
        (dsum2(col("l_extendedprice")) / count(lit(1))).as("avg_price"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")
  }

  def q1Oracle: String =
    """SELECT l_returnflag, l_linestatus,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
      |  CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(24,6))) AS DOUBLE) AS sum_disc_price,
      |  CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax) AS DECIMAL(24,6))) AS DOUBLE) AS sum_charge,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_price,
      |  COUNT(*) AS count_order
      |FROM lineitem
      |WHERE l_shipdate <= TIMESTAMP '2001-09-02'
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  /** TPC-H Q3-style: top unshipped orders by revenue for one segment.
    * customer is filtered before the join (selectivity 1/5) and joined on
    * o_custkey; at 100 TB both sides are large → shuffle hash join on the
    * key, with AQE skew handling. Top-k via orderBy+limit: Spark plans
    * TakeOrderedAndProject — per-partition heaps, no global sort. */
  def q3Shipping(spark: SparkSession, dir: String): DataFrame = {
    val cust = Tables.customer(spark, dir)
      .filter(col("c_mktsegment") === "BUILDING")
      .select("c_custkey")
    val ord = Tables.orders(spark, dir)
      .filter(col("o_orderdate") < ts("1998-01-01"))
      .select("o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority")
    val li = Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") > ts("1998-01-01"))
      .select("l_orderkey", "l_extendedprice", "l_discount")
    cust.join(ord, cust("c_custkey") === ord("o_custkey"))
      .join(li, ord("o_orderkey") === li("l_orderkey"))
      .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
      .agg(dsum6(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"))
      .orderBy(col("revenue").desc, col("l_orderkey"))
      .limit(10)
  }

  def q3Oracle: String =
    """SELECT l_orderkey, o_orderdate, o_orderpriority,
      |  CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(24,6))) AS DOUBLE) AS revenue
      |FROM customer, orders, lineitem
      |WHERE c_mktsegment = 'BUILDING' AND c_custkey = o_custkey
      |  AND o_orderkey = l_orderkey
      |  AND o_orderdate < TIMESTAMP '1998-01-01'
      |  AND l_shipdate > TIMESTAMP '1998-01-01'
      |GROUP BY l_orderkey, o_orderdate, o_orderpriority
      |ORDER BY revenue DESC, l_orderkey
      |LIMIT 10""".stripMargin

  /** TPC-H Q5-style: revenue per nation for one region/year, customer and
    * supplier in the same nation. region+nation are broadcast (tiny at
    * any scale); orders is filtered to one year before joining. */
  def q5RegionRevenue(spark: SparkSession, dir: String): DataFrame = {
    val reg = Tables.region(spark, dir).filter(col("r_name") === "ASIA")
    val nat = Tables.nation(spark, dir)
    val cust = Tables.customer(spark, dir).select("c_custkey", "c_nationkey")
    val sup = Tables.supplier(spark, dir).select("s_suppkey", "s_nationkey")
    val ord = Tables.orders(spark, dir)
      .filter(col("o_orderdate") >= ts("1996-01-01") && col("o_orderdate") < ts("1997-01-01"))
      .select("o_orderkey", "o_custkey")
    val li = Tables.lineitem(spark, dir)
      .select("l_orderkey", "l_suppkey", "l_extendedprice", "l_discount")
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .join(sup, col("l_suppkey") === col("s_suppkey") && col("c_nationkey") === col("s_nationkey"))
      .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(reg), col("n_regionkey") === col("r_regionkey"))
      .groupBy("n_name")
      .agg(dsum6(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"))
      .orderBy(col("revenue").desc, col("n_name"))
  }

  def q5Oracle: String =
    """SELECT n_name,
      |  CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(24,6))) AS DOUBLE) AS revenue
      |FROM customer, orders, lineitem, supplier, nation, region
      |WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
      |  AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      |  AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
      |  AND r_name = 'ASIA'
      |  AND o_orderdate >= TIMESTAMP '1996-01-01'
      |  AND o_orderdate < TIMESTAMP '1997-01-01'
      |GROUP BY n_name
      |ORDER BY revenue DESC, n_name""".stripMargin

  /** Global top-k without a global sort: TakeOrderedAndProject keeps a
    * size-k heap per partition and merges k×partitions rows on the
    * driver — O(k) driver memory at any scale. */
  def topkOrders(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .select("o_orderkey", "o_custkey", "o_totalprice")
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(10)

  def topkOracle: String =
    """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
      |ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin

  /** Ranking window: top-3 orders per customer. Single shuffle on
    * o_custkey; rank filter applied before any further processing (at
    * scale, WindowGroupLimit pushes the top-k into the sort). */
  def windowRankOrders(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("o_custkey")
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    Tables.orders(spark, dir)
      .select("o_custkey", "o_orderkey", "o_totalprice")
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= 3)
      .orderBy("o_custkey", "rk")
  }

  def windowRankOracle: String =
    """SELECT o_custkey, o_orderkey, o_totalprice, rk FROM (
      |  SELECT o_custkey, o_orderkey, o_totalprice,
      |    row_number() OVER (PARTITION BY o_custkey
      |                       ORDER BY o_totalprice DESC, o_orderkey) AS rk
      |  FROM orders) t
      |WHERE rk <= 3
      |ORDER BY o_custkey, rk""".stripMargin

  /** TPC-H Q6-style: forecast revenue change — a pure scan query (one
    * table, three pushed predicates, single global agg). The plan is
    * the scale benchmark for predicate pushdown: no shuffle except the
    * one-row partial-agg merge. */
  def q6ForecastRevenue(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") >= ts("1996-01-01") &&
        col("l_shipdate") < ts("1997-01-01") &&
        col("l_discount").between(0.05, 0.07) &&
        col("l_quantity") < 24)
      .agg(dsum6(col("l_extendedprice") * col("l_discount")).as("revenue"),
        count(lit(1)).as("n"))

  def q6Oracle: String =
    """SELECT
      |  CAST(SUM(CAST(l_extendedprice * l_discount AS DECIMAL(24,6))) AS DOUBLE) AS revenue,
      |  COUNT(*) AS n
      |FROM lineitem
      |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      |  AND l_shipdate < TIMESTAMP '1997-01-01'
      |  AND l_discount BETWEEN 0.05 AND 0.07
      |  AND l_quantity < 24""".stripMargin

  /** TPC-H Q10-style: top customers by revenue lost to returned items
    * in one quarter — the classic 4-way join (lineitem⨝orders⨝customer
    * ⨝nation) with a broadcast dimension and a bounded top-k. */
  def q10ReturnedItems(spark: SparkSession, dir: String): DataFrame = {
    val ord = Tables.orders(spark, dir)
      .filter(col("o_orderdate") >= ts("1996-01-01") &&
        col("o_orderdate") < ts("1996-04-01"))
      .select("o_orderkey", "o_custkey")
    val li = Tables.lineitem(spark, dir)
      .filter(col("l_returnflag") === "R")
      .select("l_orderkey", "l_extendedprice", "l_discount")
    val cust = Tables.customer(spark, dir)
      .select("c_custkey", "c_name", "c_acctbal", "c_nationkey")
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(spark, dir)),
        col("c_nationkey") === col("n_nationkey"))
      .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
      .agg(dsum6(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"))
      .orderBy(col("revenue").desc, col("c_custkey"))
      .limit(20)
  }

  def q10Oracle: String =
    """SELECT c_custkey, c_name, c_acctbal, n_name,
      |  CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(24,6))) AS DOUBLE) AS revenue
      |FROM customer, orders, lineitem, nation
      |WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
      |  AND o_orderdate >= TIMESTAMP '1996-01-01'
      |  AND o_orderdate < TIMESTAMP '1996-04-01'
      |  AND l_returnflag = 'R' AND c_nationkey = n_nationkey
      |GROUP BY c_custkey, c_name, c_acctbal, n_name
      |ORDER BY revenue DESC, c_custkey
      |LIMIT 20""".stripMargin

  /** TPC-H Q14-style: promotion revenue share for one month — the
    * conditional-aggregate ratio over a fact⨝dimension join. part is
    * unhinted: size-based planning broadcasts it while it fits and
    * degrades to a shuffle join at scale. */
  def q14PromoEffect(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") >= ts("1996-03-01") &&
        col("l_shipdate") < ts("1996-04-01"))
      .select("l_partkey", "l_extendedprice", "l_discount")
    val rev = col("l_extendedprice") * (lit(1.0) - col("l_discount"))
    li.join(Tables.part(spark, dir).select("p_partkey", "p_type"),
        col("l_partkey") === col("p_partkey"))
      .agg((lit(100.0)
        * dsum6(when(col("p_type").startsWith("PROMO"), rev).otherwise(lit(0.0)))
        / dsum6(rev)).as("promo_revenue_pct"))
  }

  def q14Oracle: String =
    """SELECT 100.0 *
      |  CAST(SUM(CAST(CASE WHEN p_type LIKE 'PROMO%'
      |                     THEN l_extendedprice * (1.0 - l_discount)
      |                     ELSE 0.0 END AS DECIMAL(24,6))) AS DOUBLE) /
      |  CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(24,6))) AS DOUBLE)
      |  AS promo_revenue_pct
      |FROM lineitem, part
      |WHERE l_partkey = p_partkey
      |  AND l_shipdate >= TIMESTAMP '1996-03-01'
      |  AND l_shipdate < TIMESTAMP '1996-04-01'""".stripMargin

  /** TPC-H Q18-style large-volume orders: the HAVING subquery is one
    * aggregation over lineitem (map-side partial agg → one shuffle on
    * l_orderkey); its survivors (few — the quantity tail) then join
    * orders and customer. The classic formulation re-joins lineitem and
    * re-aggregates; carrying sum_qty out of the first aggregate makes
    * that second pass unnecessary. At scale the big-order set is tiny,
    * so AQE broadcasts it into the orders join. Top-100 via
    * TakeOrderedAndProject. */
  def q18LargeOrders(spark: SparkSession, dir: String): DataFrame = {
    val big = Tables.lineitem(spark, dir)
      .groupBy("l_orderkey")
      .agg(dsum2(col("l_quantity")).as("sum_qty"))
      .filter(col("sum_qty") > 250.0)
    val ord = Tables.orders(spark, dir)
      .select("o_orderkey", "o_custkey", "o_orderdate", "o_totalprice")
    val cust = Tables.customer(spark, dir).select("c_custkey", "c_name")
    cust.join(ord, col("c_custkey") === col("o_custkey"))
      .join(big, col("o_orderkey") === col("l_orderkey"))
      .select("c_name", "c_custkey", "o_orderkey", "o_orderdate",
        "o_totalprice", "sum_qty")
      .orderBy(col("o_totalprice").desc, col("o_orderdate"), col("o_orderkey"))
      .limit(100)
  }

  def q18Oracle: String =
    """SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
      |FROM customer, orders, lineitem
      |WHERE c_custkey = o_custkey AND o_orderkey = l_orderkey
      |GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
      |HAVING CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) > 250.0
      |ORDER BY o_totalprice DESC, o_orderdate, o_orderkey
      |LIMIT 100""".stripMargin

  /** TPC-H Q7-style nation volume: bidirectional trade between two
    * nations by ship year. The nation filter lands on supplier and
    * customer BEFORE the fact joins (both dims shrink to 2/25 of their
    * rows), nation itself is broadcast, and the three fact joins
    * shuffle on their natural keys. The asymmetric-pair predicate is a
    * cheap post-join filter on two broadcast-provided columns. */
  def q7NationVolume(spark: SparkSession, dir: String): DataFrame = {
    val nat = Tables.nation(spark, dir)
      .filter(col("n_name").isin("NATION_19", "NATION_11"))
      .select("n_nationkey", "n_name")
    val sup = Tables.supplier(spark, dir).select("s_suppkey", "s_nationkey")
      .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("n_name").as("supp_nation"))
    val cust = Tables.customer(spark, dir).select("c_custkey", "c_nationkey")
      .join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"), col("n_name").as("cust_nation"))
    val ord = Tables.orders(spark, dir).select("o_orderkey", "o_custkey")
    val li = Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") >= ts("1995-01-01") &&
        col("l_shipdate") < ts("1997-01-01"))
      .select("l_orderkey", "l_suppkey", "l_extendedprice", "l_discount", "l_shipdate")
    li.join(sup, col("l_suppkey") === col("s_suppkey"))
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .filter(col("supp_nation") =!= col("cust_nation"))
      .groupBy(col("supp_nation"), col("cust_nation"),
        year(col("l_shipdate")).cast("long").as("l_year"))
      .agg(dsum6(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("volume"))
      .orderBy("supp_nation", "cust_nation", "l_year")
  }

  def q7Oracle: String =
    """SELECT supp_nation, cust_nation, l_year,
      |  CAST(SUM(CAST(volume AS DECIMAL(24,6))) AS DOUBLE) AS volume
      |FROM (
      |  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
      |    CAST(year(l_shipdate) AS BIGINT) AS l_year,
      |    l_extendedprice * (1.0 - l_discount) AS volume
      |  FROM supplier s, lineitem l, orders o, customer c, nation n1, nation n2
      |  WHERE s.s_suppkey = l.l_suppkey AND o.o_orderkey = l.l_orderkey
      |    AND c.c_custkey = o.o_custkey
      |    AND s.s_nationkey = n1.n_nationkey AND c.c_nationkey = n2.n_nationkey
      |    AND n1.n_name IN ('NATION_19', 'NATION_11')
      |    AND n2.n_name IN ('NATION_19', 'NATION_11')
      |    AND n1.n_name <> n2.n_name
      |    AND l_shipdate >= TIMESTAMP '1995-01-01'
      |    AND l_shipdate < TIMESTAMP '1997-01-01') shipping
      |GROUP BY supp_nation, cust_nation, l_year
      |ORDER BY supp_nation, cust_nation, l_year""".stripMargin

  /** TPC-H Q19-style disjunctive-predicate revenue: three OR'd
    * brand/size/quantity arms over a part⨝lineitem join. Catalyst
    * splits the disjunction: the part-only predicate
    * (brand ∧ size per arm, OR'd) pushes below the join, the mixed
    * arms stay above — the scan never reads non-candidate parts. */
  def q19DisjunctiveRevenue(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .select("l_partkey", "l_quantity", "l_extendedprice", "l_discount")
    val p = Tables.part(spark, dir).select("p_partkey", "p_brand", "p_size")
    def arm(brand: String, szLo: Int, szHi: Int, qLo: Double, qHi: Double) =
      col("p_brand") === brand && col("p_size").between(szLo, szHi) &&
        col("l_quantity").between(qLo, qHi)
    li.join(p, col("l_partkey") === col("p_partkey"))
      .filter(arm("Brand#1", 1, 15, 1, 20) || arm("Brand#2", 10, 30, 10, 40) ||
        arm("Brand#3", 20, 50, 20, 50))
      .agg(dsum6(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"))
  }

  def q19Oracle: String =
    """SELECT CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(24,6))) AS DOUBLE) AS revenue
      |FROM lineitem, part
      |WHERE l_partkey = p_partkey AND (
      |     (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 20)
      |  OR (p_brand = 'Brand#2' AND p_size BETWEEN 10 AND 30 AND l_quantity BETWEEN 10 AND 40)
      |  OR (p_brand = 'Brand#3' AND p_size BETWEEN 20 AND 50 AND l_quantity BETWEEN 20 AND 50))""".stripMargin

  /** TPC-H Q13-style customer order-count distribution: a left join so
    * zero-order customers survive, then a second aggregation over the
    * first's output — the histogram-of-aggregates shape. Both aggs do
    * map-side partial aggregation; the second one's input is already
    * |customers| rows, and its output |distinct counts|. */
  def q13OrderDistribution(spark: SparkSession, dir: String): DataFrame = {
    val ord = Tables.orders(spark, dir)
      .filter(col("o_orderpriority") =!= "5-LOW")
      .select("o_custkey", "o_orderkey")
    Tables.customer(spark, dir).select("c_custkey")
      .join(ord, col("c_custkey") === col("o_custkey"), "left")
      .groupBy("c_custkey")
      .agg(count(col("o_orderkey")).as("c_count"))
      .groupBy("c_count")
      .agg(count(lit(1)).as("custdist"))
      .orderBy(col("custdist").desc, col("c_count").desc)
  }

  def q13Oracle: String =
    """SELECT c_count, COUNT(*) AS custdist FROM (
      |  SELECT c_custkey, COUNT(o_orderkey) AS c_count
      |  FROM customer LEFT JOIN orders
      |    ON c_custkey = o_custkey AND o_orderpriority <> '5-LOW'
      |  GROUP BY c_custkey) c_orders
      |GROUP BY c_count
      |ORDER BY custdist DESC, c_count DESC""".stripMargin

  /** Window-function battery: lead/lag/ntile/percent_rank/cume_dist/
    * first/last over per-customer order sequences. percent_rank and
    * cume_dist are exact integer-ratio divisions — engine-identical;
    * ORDER BY keys are unique (totalprice ties broken by orderkey) so
    * every rank function is deterministic. */
  def windowFuncsOrders(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("o_custkey")
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    val wFrame = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    Tables.orders(spark, dir)
      .filter(col("o_custkey") <= 200)
      .select("o_custkey", "o_orderkey", "o_totalprice")
      .withColumn("prev_key", lag(col("o_orderkey"), 1).over(w))
      .withColumn("next_key", lead(col("o_orderkey"), 1).over(w))
      .withColumn("quartile", ntile(4).over(w).cast("long"))
      .withColumn("pct_rank", percent_rank().over(w))
      .withColumn("cume", cume_dist().over(w))
      .withColumn("top_key", first(col("o_orderkey")).over(wFrame))
      .withColumn("bottom_key", last(col("o_orderkey")).over(wFrame))
      .orderBy(col("o_custkey"), col("o_totalprice").desc, col("o_orderkey"))
  }

  def windowFuncsOracle: String =
    """SELECT o_custkey, o_orderkey, o_totalprice,
      |  lag(o_orderkey, 1) OVER w AS prev_key,
      |  lead(o_orderkey, 1) OVER w AS next_key,
      |  CAST(ntile(4) OVER w AS BIGINT) AS quartile,
      |  percent_rank() OVER w AS pct_rank,
      |  cume_dist() OVER w AS cume,
      |  first_value(o_orderkey) OVER wf AS top_key,
      |  last_value(o_orderkey) OVER wf AS bottom_key
      |FROM orders WHERE o_custkey <= 200
      |WINDOW w AS (PARTITION BY o_custkey
      |             ORDER BY o_totalprice DESC, o_orderkey),
      |       wf AS (PARTITION BY o_custkey
      |              ORDER BY o_totalprice DESC, o_orderkey
      |              ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
      |ORDER BY o_custkey, o_totalprice DESC, o_orderkey""".stripMargin

  /** GROUPING SETS with grouping_id: the explicit-sets form rollup and
    * cube only special-case — (status,priority), (status), (priority),
    * () — plus the grouping marker needed to tell a real NULL from a
    * superaggregate row. */
  def groupingSetsOrders(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .select(col("o_orderstatus"), col("o_orderpriority"),
        col("o_totalprice").cast(DecimalType(18, 2)).as("p"))
      .groupingSets(
        Seq(Seq(col("o_orderstatus"), col("o_orderpriority")),
          Seq(col("o_orderstatus")), Seq(col("o_orderpriority")), Seq()),
        col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n"), sum(col("p")).cast("double").as("revenue"),
        grouping_id().cast("long").as("gid"))
      .orderBy(col("gid"), col("o_orderstatus"), col("o_orderpriority"))

  def groupingSetsOracle: String =
    """SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
      |  CAST(grouping(o_orderstatus) * 2 + grouping(o_orderpriority) AS BIGINT) AS gid
      |FROM orders
      |GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
      |  (o_orderstatus), (o_orderpriority), ())
      |ORDER BY gid, o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin

  /** Running-total window (frame: unbounded preceding → current row) over
    * an exact decimal sum. Restricted to 10 suppliers to keep the
    * verification output small; the plan shape is scale-independent. */
  def windowRunningQty(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("l_suppkey")
      .orderBy("l_shipdate", "l_orderkey", "l_linenumber")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.lineitem(spark, dir)
      .filter(col("l_suppkey") <= 10)
      .select("l_suppkey", "l_orderkey", "l_linenumber", "l_shipdate", "l_quantity")
      .withColumn("running_qty",
        sum(col("l_quantity").cast(DecimalType(18, 2))).over(w).cast("double"))
      .orderBy("l_suppkey", "l_shipdate", "l_orderkey", "l_linenumber")
  }

  def windowRunningOracle: String =
    """SELECT l_suppkey, l_orderkey, l_linenumber, l_shipdate, l_quantity,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)))
      |    OVER (PARTITION BY l_suppkey
      |          ORDER BY l_shipdate, l_orderkey, l_linenumber
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
      |    AS running_qty
      |FROM lineitem WHERE l_suppkey <= 10
      |ORDER BY l_suppkey, l_shipdate, l_orderkey, l_linenumber""".stripMargin

  /** DISTINCT — partial-aggregated like any groupBy. */
  def distinctSegments(spark: SparkSession, dir: String): DataFrame =
    Tables.customer(spark, dir).select("c_mktsegment").distinct()
      .orderBy("c_mktsegment")

  def distinctSegmentsOracle: String =
    "SELECT DISTINCT c_mktsegment FROM customer ORDER BY c_mktsegment"

  /** UNION ALL + group (the reference's concat mode A7 ≈ UNION ALL). */
  def setopUnionNations(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir).select(col("c_nationkey").as("nationkey"))
    val s = Tables.supplier(spark, dir).select(col("s_nationkey").as("nationkey"))
    c.unionAll(s).groupBy("nationkey").agg(count(lit(1)).as("n"))
      .orderBy("nationkey")
  }

  def setopUnionOracle: String =
    """SELECT nationkey, COUNT(*) AS n FROM (
      |  SELECT c_nationkey AS nationkey FROM customer
      |  UNION ALL SELECT s_nationkey AS nationkey FROM supplier) t
      |GROUP BY nationkey ORDER BY nationkey""".stripMargin

  /** INTERSECT — planned as a left-semi join over distinct keys. */
  def setopIntersectNations(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir).select(col("c_nationkey").as("nationkey"))
    val s = Tables.supplier(spark, dir).select(col("s_nationkey").as("nationkey"))
    c.intersect(s).orderBy("nationkey")
  }

  def setopIntersectOracle: String =
    """SELECT nationkey FROM (
      |  SELECT c_nationkey AS nationkey FROM customer
      |  INTERSECT SELECT s_nationkey AS nationkey FROM supplier) t
      |ORDER BY nationkey""".stripMargin

  /** Scalar string-function battery (SURVEY §2.8 F1-F8 and beyond) —
    * all codegen'd built-ins, no UDFs. */
  def scalarStringFuncs(spark: SparkSession, dir: String): DataFrame =
    Tables.part(spark, dir).select(
      col("p_partkey"),
      upper(col("p_name")).as("name_u"),
      lower(col("p_brand")).as("brand_l"),
      length(col("p_name")).cast("long").as("name_len"),
      substring(col("p_name"), 1, 4).as("name_pre"),
      concat_ws("|", col("p_brand"), col("p_type")).as("brand_type"),
      regexp_replace(col("p_name"), "[aeiou]", "_").as("name_novowel"),
      reverse(col("p_brand")).as("brand_rev"),
      lpad(col("p_size").cast("string"), 3, "0").as("size_pad"),
      col("p_name").startsWith("red").as("is_red"),
      md5(col("p_name")).as("name_md5"))
      .orderBy("p_partkey")

  def scalarStringOracle: String =
    """SELECT p_partkey,
      |  upper(p_name) AS name_u,
      |  lower(p_brand) AS brand_l,
      |  CAST(length(p_name) AS BIGINT) AS name_len,
      |  substring(p_name, 1, 4) AS name_pre,
      |  concat_ws('|', p_brand, p_type) AS brand_type,
      |  regexp_replace(p_name, '[aeiou]', '_', 'g') AS name_novowel,
      |  reverse(p_brand) AS brand_rev,
      |  lpad(CAST(p_size AS VARCHAR), 3, '0') AS size_pad,
      |  p_name LIKE 'red%' AS is_red,
      |  md5(p_name) AS name_md5
      |FROM part ORDER BY p_partkey""".stripMargin

  /** Second scalar string battery: regex extraction, split-part,
    * position, translate/repeat/trim — rounding out §2.8 beyond what
    * the reference ever had. */
  def scalarStringFuncs2(spark: SparkSession, dir: String): DataFrame =
    Tables.part(spark, dir).select(
      col("p_partkey"),
      regexp_extract(col("p_name"), "(\\w+) (\\w+)", 2).as("name_word2"),
      regexp_extract(col("p_name"), "(q)(z)", 1).as("no_match"),
      split_part(col("p_type"), lit("A"), lit(1)).as("type_pre_a"),
      instr(col("p_name"), "id").cast("long").as("id_pos"),
      translate(col("p_brand"), "Br", "Xy").as("brand_tr"),
      repeat(col("p_brand"), 2).as("brand_2x"),
      ltrim(rtrim(concat(lit("  "), col("p_name"), lit("  ")))).as("trimmed"),
      initcap(col("p_name")).as("name_cap"))
      .orderBy("p_partkey")

  def scalarString2Oracle: String =
    """SELECT p_partkey,
      |  regexp_extract(p_name, '(\w+) (\w+)', 2) AS name_word2,
      |  regexp_extract(p_name, '(q)(z)', 1) AS no_match,
      |  split_part(p_type, 'A', 1) AS type_pre_a,
      |  CAST(strpos(p_name, 'id') AS BIGINT) AS id_pos,
      |  translate(p_brand, 'Br', 'Xy') AS brand_tr,
      |  repeat(p_brand, 2) AS brand_2x,
      |  ltrim(rtrim(concat('  ', p_name, '  '))) AS trimmed,
      |  array_to_string(list_transform(string_split(p_name, ' '),
      |    w -> upper(w[1:1]) || lower(w[2:])), ' ') AS name_cap
      |FROM part ORDER BY p_partkey""".stripMargin

  /** Scalar date/time-function battery. */
  def scalarDatetimeFuncs(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir).select(
      col("o_orderkey"),
      year(col("o_orderdate")).cast("long").as("yr"),
      quarter(col("o_orderdate")).cast("long").as("qtr"),
      month(col("o_orderdate")).cast("long").as("mon"),
      dayofmonth(col("o_orderdate")).cast("long").as("dom"),
      date_format(col("o_orderdate"), "EEEE").as("dow_name"),
      to_date(date_trunc("month", col("o_orderdate"))).as("month_start"),
      date_add(to_date(col("o_orderdate")), 30).as("plus30"),
      last_day(to_date(col("o_orderdate"))).as("month_end"),
      datediff(to_date(col("o_orderdate")), to_date(lit("1995-01-01"))).cast("long").as("days_since"))
      .orderBy("o_orderkey")

  def scalarDatetimeOracle: String =
    """SELECT o_orderkey,
      |  CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS yr,
      |  CAST(EXTRACT(quarter FROM o_orderdate) AS BIGINT) AS qtr,
      |  CAST(EXTRACT(month FROM o_orderdate) AS BIGINT) AS mon,
      |  CAST(EXTRACT(day FROM o_orderdate) AS BIGINT) AS dom,
      |  dayname(o_orderdate) AS dow_name,
      |  CAST(date_trunc('month', o_orderdate) AS DATE) AS month_start,
      |  CAST(o_orderdate AS DATE) + 30 AS plus30,
      |  last_day(CAST(o_orderdate AS DATE)) AS month_end,
      |  CAST(date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS BIGINT) AS days_since
      |FROM orders ORDER BY o_orderkey""".stripMargin

  /** Scalar numeric / conditional / bitwise battery. Transcendentals
    * (sqrt, ln, power) are rounded to 6 decimals — libm last-ulp
    * differences between engines sit ~10 orders below that; integer
    * and decimal ops are exact as-is. */
  def scalarNumericFuncs(spark: SparkSession, dir: String): DataFrame =
    Tables.customer(spark, dir).select(
      col("c_custkey"),
      abs(col("c_acctbal")).as("abal"),
      signum(col("c_acctbal")).cast("double").as("sgn"),
      floor(col("c_acctbal")).cast("long").as("fl"),
      ceil(col("c_acctbal")).cast("long").as("ce"),
      round(col("c_acctbal"), 1).as("r1"),
      (col("c_custkey") % 7).cast("long").as("m7"),
      round(sqrt(abs(col("c_acctbal"))), 6).as("sq"),
      round(log(col("c_custkey").cast("double") + 1.0), 6).as("lg"),
      round(pow((col("c_custkey") % 10).cast("double"), 2.0), 6).as("pw"),
      greatest(col("c_acctbal"), lit(0.0)).as("gt0"),
      least(col("c_acctbal"), lit(0.0)).as("lt0"),
      coalesce(expr("nullif(c_mktsegment, 'BUILDING')"), lit("-")).as("seg_nb"),
      when(col("c_acctbal") < 0, "neg")
        .when(col("c_acctbal") < 5000, "mid")
        .otherwise("high").as("bal_band"),
      col("c_custkey").bitwiseAND(lit(255L)).cast("long").as("band255"),
      shiftleft(col("c_custkey") % 16, 2).cast("long").as("shl"),
      col("c_custkey").bitwiseXOR(lit(21L)).cast("long").as("bxor"))
      .orderBy("c_custkey")

  def scalarNumericOracle: String =
    """SELECT c_custkey,
      |  abs(c_acctbal) AS abal,
      |  CAST(sign(c_acctbal) AS DOUBLE) AS sgn,
      |  CAST(floor(c_acctbal) AS BIGINT) AS fl,
      |  CAST(ceil(c_acctbal) AS BIGINT) AS ce,
      |  round(c_acctbal, 1) AS r1,
      |  CAST(c_custkey % 7 AS BIGINT) AS m7,
      |  round(sqrt(abs(c_acctbal)), 6) AS sq,
      |  round(ln(c_custkey + 1.0), 6) AS lg,
      |  round(power(c_custkey % 10, 2.0), 6) AS pw,
      |  greatest(c_acctbal, 0.0) AS gt0,
      |  least(c_acctbal, 0.0) AS lt0,
      |  COALESCE(NULLIF(c_mktsegment, 'BUILDING'), '-') AS seg_nb,
      |  CASE WHEN c_acctbal < 0 THEN 'neg'
      |       WHEN c_acctbal < 5000 THEN 'mid' ELSE 'high' END AS bal_band,
      |  CAST(c_custkey & 255 AS BIGINT) AS band255,
      |  CAST((c_custkey % 16) << 2 AS BIGINT) AS shl,
      |  CAST(xor(c_custkey, 21) AS BIGINT) AS bxor
      |FROM customer ORDER BY c_custkey""".stripMargin

  /** Statistical aggregates with exact-decimal internals: variance is
    * computed as (Σx² − (Σx)²/n)/(n−1) where Σx and Σx² are exact
    * decimal sums — the final double expression is one deterministic
    * IEEE op sequence, identical in both engines (a raw var_samp() would
    * differ by accumulation order). */
  def aggStatsAcctbal(spark: SparkSession, dir: String): DataFrame = {
    val d = col("c_acctbal").cast(DecimalType(18, 2))
    val sumD = sum(d).cast("double")
    val sumSq = sum(d * d).cast("double")
    val n = count(lit(1))
    Tables.customer(spark, dir)
      .groupBy("c_mktsegment")
      .agg(
        n.as("n"),
        min(col("c_acctbal")).as("min_bal"),
        max(col("c_acctbal")).as("max_bal"),
        sumD.as("sum_bal"),
        (sumD / n).as("avg_bal"),
        // sample variance is undefined for n=1: NULL, matching SQL
        when(n > 1, (sumSq - sumD * sumD / n) / (n - lit(1))).as("var_bal"))
      .orderBy("c_mktsegment")
  }

  /** Exact percentiles (linear interpolation) per group, without the
    * two usual scale hazards: no holistic aggregation buffer (the old
    * `percentile()` agg held every group value in one buffer) and no
    * per-group window over the full table (numGroups-wide parallelism
    * collapse). The two bracketing order statistics per requested
    * percentile come from [[exactGroupQuantiles]] (bracket-and-refine;
    * n counts non-null prices, as quantile_cont ranks them);
    * interpolation matches quantile_cont: pos = p·(n−1),
    * v = v_lo + frac·(v_hi − v_lo). Both engines interpolate between
    * the same 2-decimal order statistics, so values land on a
    * 4-decimal grid — round(4) erases last-ulp differences without
    * tie risk. */
  def percentilePrice(spark: SparkSession, dir: String): DataFrame = {
    val vals = Tables.orders(spark, dir)
      .select(col("o_orderpriority").as("g"), col("o_totalprice").as("v"))
    exactGroupQuantiles(vals, Seq(0.25, 0.5, 0.75), maxGroups = 16).coalesce(1)
      .select(col("g"), col("n"), col("p"),
        round(col("lo_v") + col("frac") * (col("hi_v") - col("lo_v")), 4).as("pv"))
      .groupBy("g")
      .agg(max(col("n")).as("n"),
        max(when(col("p") === 0.25, col("pv"))).as("p25"),
        max(when(col("p") === 0.5, col("pv"))).as("p50"),
        max(when(col("p") === 0.75, col("pv"))).as("p75"))
      .select(col("g").as("o_orderpriority"), col("n"), col("p25"), col("p50"), col("p75"))
      .orderBy("o_orderpriority")
  }

  def percentilePriceOracle: String =
    """SELECT o_orderpriority, COUNT(*) AS n,
      |  round(quantile_cont(o_totalprice, 0.25), 4) AS p25,
      |  round(quantile_cont(o_totalprice, 0.50), 4) AS p50,
      |  round(quantile_cont(o_totalprice, 0.75), 4) AS p75
      |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  /** Quantile grid + rank-error tolerance for [[quantileApproxAudit]]:
    * `percentile_approx` (Greenwald–Khanna t-digest-style mergeable
    * sketch) promises a value whose exact RANK is within n/accuracy
    * of the target rank. */
  private val QaaPs = Seq(0.01, 0.05, 0.25, 0.5, 0.75, 0.95, 0.99)
  val QaaAccuracy = 1000

  /** Approx-quantile ERROR AUDIT — the verified 100 TB operating mode
    * for percentiles. SCALE.md documents the switch from the exact
    * bucketed-rank fetch to `approx_percentile` when exactness is
    * negotiable (the sketch is mergeable: partials combine across
    * 1000 executors with no second pass); this query makes that an
    * oracled operating point instead of a doc claim, the same
    * acceptance-gate pattern as `sim_recall_audit` for ANN.
    *
    * Per requested quantile p over lineitem.l_extendedprice it emits
    * the exact interpolated value (quantile_cont semantics, via the
    * bucketed-rank fetch — no global sort, no holistic buffer), the
    * exact order statistics at the sketch's guaranteed rank band
    * ±(⌈n/accuracy⌉+1), and `within_tol` = the sketch value landed
    * inside that band. The oracle computes every deterministic column
    * exactly and asserts `within_tol` TRUE — if Spark's sketch ever
    * violated its rank-error contract, the driver gate goes red. The
    * sketch value itself is NOT a column: Greenwald–Khanna merge
    * order is scheduler-dependent, so only the band verdict is
    * engine-portable. A scalatest asserts the numeric relative error
    * on top (EntrySpec). */
  def quantileApproxAudit(spark: SparkSession, dir: String): DataFrame = {
    val pArr = array(QaaPs.map(lit): _*)
    val vals = Tables.lineitem(spark, dir)
      .select(lit("all").as("g"), col("l_extendedprice").cast("double").as("v"))
    val targets = vals.groupBy("g").agg(count(lit(1)).as("n"))
      .select(col("g"), col("n"), explode(pArr).as("p"))
      .withColumn("pos", col("p") * (col("n") - 1).cast("double"))
      .withColumn("lo", floor(col("pos")).cast("long") + 1)
      .withColumn("hi", ceil(col("pos")).cast("long") + 1)
      .withColumn("frac", col("pos") - floor(col("pos")))
      .withColumn("erk", ceil(col("n").cast("double") / QaaAccuracy).cast("long") + 1)
      .withColumn("rlo",
        greatest(lit(1L), ceil(col("p") * col("n")).cast("long") - col("erk")))
      .withColumn("rhi",
        least(col("n"), ceil(col("p") * col("n")).cast("long") + col("erk")))
    val needed = targets.select(col("g"),
        explode(array(col("lo"), col("hi"), col("rlo"), col("rhi"))).as("rk"))
      .distinct()
    val valueAt = valuesAtGroupRanks(vals, needed).localCheckpoint()
    val approx = vals.groupBy("g")
      .agg(percentile_approx(col("v"), pArr, lit(QaaAccuracy)).as("av"))
      .select(col("g"), posexplode(col("av")).as(Seq("i", "approx_v")))
      .select(col("g"), element_at(pArr, col("i") + 1).as("p"), col("approx_v"))
    targets
      .join(valueAt.select(col("g"), col("rk").as("lo"), col("v").as("v_lo")), Seq("g", "lo"))
      .join(valueAt.select(col("g"), col("rk").as("hi"), col("v").as("v_hi")), Seq("g", "hi"))
      .join(valueAt.select(col("g"), col("rk").as("rlo"), col("v").as("band_lo")), Seq("g", "rlo"))
      .join(valueAt.select(col("g"), col("rk").as("rhi"), col("v").as("band_hi")), Seq("g", "rhi"))
      .join(approx, Seq("g", "p"))
      .select(col("p"), col("n"),
        round(col("v_lo") + col("frac") * (col("v_hi") - col("v_lo")), 4).as("exact_pv"),
        col("band_lo"), col("band_hi"),
        (col("approx_v") >= col("band_lo") && col("approx_v") <= col("band_hi"))
          .as("within_tol"))
      .orderBy("p")
  }

  def quantileApproxAuditOracle: String =
    s"""WITH v AS (SELECT CAST(l_extendedprice AS DOUBLE) AS v FROM lineitem),
       |nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM v),
       |r AS (SELECT v, row_number() OVER (ORDER BY v) AS rk FROM v),
       |p AS (SELECT CAST(unnest([${QaaPs.mkString(", ")}]) AS DOUBLE) AS p),
       |t AS (SELECT p.p, nn.n, p.p * (nn.n - 1) AS pos,
       |    CAST(floor(p.p * (nn.n - 1)) AS BIGINT) + 1 AS lo,
       |    CAST(ceil(p.p * (nn.n - 1)) AS BIGINT) + 1 AS hi,
       |    CAST(ceil(CAST(nn.n AS DOUBLE) / $QaaAccuracy) AS BIGINT) + 1 AS erk
       |  FROM p, nn),
       |b AS (SELECT t.*, greatest(1, CAST(ceil(t.p * t.n) AS BIGINT) - t.erk) AS rlo,
       |    least(t.n, CAST(ceil(t.p * t.n) AS BIGINT) + t.erk) AS rhi FROM t)
       |SELECT b.p, b.n,
       |  round(vlo.v + (b.pos - floor(b.pos)) * (vhi.v - vlo.v), 4) AS exact_pv,
       |  blo.v AS band_lo, bhi.v AS band_hi, true AS within_tol
       |FROM b JOIN r vlo ON vlo.rk = b.lo JOIN r vhi ON vhi.rk = b.hi
       |JOIN r blo ON blo.rk = b.rlo JOIN r bhi ON bhi.rk = b.rhi
       |ORDER BY p""".stripMargin

  /** ROLLUP hierarchy (region → nation) with grouping flags. Subtotal
    * rows carry NULL keys; keys are coalesced to '(all)' and tagged
    * with grouping_id so the result is unambiguous (and hashable). */
  def rollupRevenue(spark: SparkSession, dir: String): DataFrame = {
    val nat = Tables.nation(spark, dir)
    val reg = Tables.region(spark, dir)
    val cust = Tables.customer(spark, dir).select("c_custkey", "c_nationkey")
    val ord = Tables.orders(spark, dir).select("o_custkey", "o_totalprice")
    ord.join(cust, col("o_custkey") === col("c_custkey"))
      .join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(reg), col("n_regionkey") === col("r_regionkey"))
      .rollup(col("r_name"), col("n_name"))
      .agg(grouping_id().cast("long").as("gid"),
        count(lit(1)).as("n_orders"), dsum2(col("o_totalprice")).as("revenue"))
      .select(coalesce(col("r_name"), lit("(all)")).as("region"),
        coalesce(col("n_name"), lit("(all)")).as("nation"),
        col("gid"), col("n_orders"), col("revenue"))
      .orderBy("gid", "region", "nation")
  }

  def rollupRevenueOracle: String =
    """SELECT coalesce(r_name, '(all)') AS region,
      |  coalesce(n_name, '(all)') AS nation,
      |  CAST(GROUPING(r_name) * 2 + GROUPING(n_name) AS BIGINT) AS gid,
      |  COUNT(*) AS n_orders,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
      |FROM orders, customer, nation, region
      |WHERE o_custkey = c_custkey AND c_nationkey = n_nationkey
      |  AND n_regionkey = r_regionkey
      |GROUP BY ROLLUP (r_name, n_name)
      |ORDER BY gid, region, nation""".stripMargin

  /** CUBE over two dimensions — all four grouping combinations in one
    * pass (Spark expands to a union of partial aggregates internally;
    * still a single scan + one shuffle). */
  def cubeStatusPriority(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .cube(col("o_orderstatus"), col("o_orderpriority"))
      .agg(grouping_id().cast("long").as("gid"),
        count(lit(1)).as("n"), dsum2(col("o_totalprice")).as("total"))
      .select(coalesce(col("o_orderstatus"), lit("(all)")).as("status"),
        coalesce(col("o_orderpriority"), lit("(all)")).as("priority"),
        col("gid"), col("n"), col("total"))
      .orderBy("gid", "status", "priority")

  def cubeStatusPriorityOracle: String =
    """SELECT coalesce(o_orderstatus, '(all)') AS status,
      |  coalesce(o_orderpriority, '(all)') AS priority,
      |  CAST(GROUPING(o_orderstatus) * 2 + GROUPING(o_orderpriority) AS BIGINT) AS gid,
      |  COUNT(*) AS n,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
      |FROM orders
      |GROUP BY CUBE (o_orderstatus, o_orderpriority)
      |ORDER BY gid, status, priority""".stripMargin

  /** Semi + anti joins: parts ordered at least once (semi) but never
    * shipped in 1995-Q1 (anti). Planned as left-semi/left-anti hash
    * joins — no row multiplication, the build side is the distinct key
    * set, and the anti side's date filter is pushed to its scan. */
  def semiAntiParts(spark: SparkSession, dir: String): DataFrame = {
    val part = Tables.part(spark, dir).select("p_partkey", "p_name")
    val li = Tables.lineitem(spark, dir)
    // one lineitem pass: per partkey, did ANY line ship in 1995Q1?
    // (max of a 0/1 flag). Both the semi side (key present at all) and
    // the anti side (key present in-window) read this aggregate, so
    // lineitem is scanned once and both joins face a |partkeys|-sized
    // build side AQE can broadcast — instead of two shuffled joins
    // against the raw 600k-row fact table
    val flags = li
      .select(col("l_partkey"),
        when(col("l_shipdate") >= ts("1995-01-01") &&
          col("l_shipdate") < ts("1995-04-01"), 1).otherwise(0).as("f"))
      .groupBy("l_partkey").agg(max(col("f")).as("in_window"))
      .persist()
    graft.GraftSession.releaseAfterAction(spark, flags)
    val ordered = part.join(flags,
      col("p_partkey") === col("l_partkey"), "left_semi")
    ordered.join(flags.filter(col("in_window") === 1),
      col("p_partkey") === col("l_partkey"), "left_anti")
      .select(col("p_partkey"), col("p_name"))
      .orderBy("p_partkey")
  }

  def semiAntiPartsOracle: String =
    """SELECT p_partkey, p_name FROM part
      |WHERE EXISTS (SELECT 1 FROM lineitem WHERE l_partkey = p_partkey)
      |  AND NOT EXISTS (SELECT 1 FROM lineitem
      |    WHERE l_partkey = p_partkey
      |      AND l_shipdate >= TIMESTAMP '1995-01-01'
      |      AND l_shipdate < TIMESTAMP '1995-04-01')
      |ORDER BY p_partkey""".stripMargin

  /** LEFT OUTER join + conditional count: orders per customer including
    * zero-order customers (count of a nullable column skips nulls in
    * both engines). */
  def leftJoinOrderCounts(spark: SparkSession, dir: String): DataFrame = {
    val cust = Tables.customer(spark, dir).select("c_custkey", "c_mktsegment")
    val bigOrders = Tables.orders(spark, dir)
      .filter(col("o_totalprice") > 400000.0)
      .select("o_custkey", "o_orderkey")
    cust.join(bigOrders, col("c_custkey") === col("o_custkey"), "left")
      .groupBy("c_custkey", "c_mktsegment")
      .agg(count(col("o_orderkey")).as("n_big_orders"))
      .orderBy("c_custkey")
  }

  def leftJoinOrderCountsOracle: String =
    """SELECT c_custkey, c_mktsegment, COUNT(o_orderkey) AS n_big_orders
      |FROM customer LEFT JOIN orders
      |  ON c_custkey = o_custkey AND o_totalprice > 400000.0
      |GROUP BY c_custkey, c_mktsegment ORDER BY c_custkey""".stripMargin

  /** Deterministic string aggregation: sorted nation list per region.
    * collect_list is order-nondeterministic at scale — always sort the
    * collected array before joining. */
  def collectNations(spark: SparkSession, dir: String): DataFrame = {
    val nat = Tables.nation(spark, dir)
    val reg = Tables.region(spark, dir)
    nat.join(broadcast(reg), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name").as("region"))
      .agg(array_join(array_sort(collect_list(col("n_name"))), ",").as("nations"),
        count(lit(1)).as("n_nations"))
      .orderBy("region")
  }

  def collectNationsOracle: String =
    """SELECT r_name AS region,
      |  string_agg(n_name, ',' ORDER BY n_name) AS nations,
      |  COUNT(*) AS n_nations
      |FROM nation, region WHERE n_regionkey = r_regionkey
      |GROUP BY r_name ORDER BY region""".stripMargin

  /** Portable pivot: order counts per priority × status via conditional
    * aggregation (the formulation that any engine executes as one
    * grouped scan — Spark's .pivot() plans the same shape). */
  def pivotStatus(spark: SparkSession, dir: String): DataFrame = {
    def cnt(status: String) =
      count(when(col("o_orderstatus") === status, 1)).as(s"n_$status")
    Tables.orders(spark, dir)
      .groupBy("o_orderpriority")
      .agg(cnt("F"), cnt("O"), cnt("P"))
      .orderBy("o_orderpriority")
  }

  def pivotStatusOracle: String =
    """SELECT o_orderpriority,
      |  COUNT(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS n_F,
      |  COUNT(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS n_O,
      |  COUNT(CASE WHEN o_orderstatus = 'P' THEN 1 END) AS n_P
      |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  /** TPC-H Q4-style order-priority check, adapted to the fixture schema
    * (no commitdate/receiptdate): count orders per priority that have at
    * least one lineitem shipped more than 60 days after the order date.
    * The EXISTS is a left-semi join — the probe never duplicates orders
    * however many late lines an order has, and the cross-table date
    * predicate stays a residual on the semi join (only the equi-key
    * shuffles). At 100 TB both sides are facts → shuffle hash semi join
    * on orderkey with map-side dedup of probe hits. */
  def q4PriorityExists(spark: SparkSession, dir: String): DataFrame = {
    val ord = Tables.orders(spark, dir)
      .filter(col("o_orderdate") >= ts("1996-01-01") &&
        col("o_orderdate") < ts("1996-07-01"))
      .select("o_orderkey", "o_orderdate", "o_orderpriority")
    val li = Tables.lineitem(spark, dir).select("l_orderkey", "l_shipdate")
    ord.join(li,
        col("o_orderkey") === col("l_orderkey") &&
          col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAYS"),
        "left_semi")
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("order_count"))
      .orderBy("o_orderpriority")
  }

  def q4Oracle: String =
    """SELECT o_orderpriority, COUNT(*) AS order_count
      |FROM orders
      |WHERE o_orderdate >= TIMESTAMP '1996-01-01'
      |  AND o_orderdate < TIMESTAMP '1996-07-01'
      |  AND EXISTS (SELECT 1 FROM lineitem
      |              WHERE l_orderkey = o_orderkey
      |                AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin

  /** TPC-H Q15-style top supplier: quarterly revenue per supplier, keep
    * the max. The revenue aggregate is one shuffle on l_suppkey
    * (map-side partial agg); its global max is a two-stage 1-row
    * aggregate broadcast back — no second pass over lineitem, no window
    * over the whole supplier set. Double equality on the max is exact:
    * both sides select among identical decimal-derived values. */
  def q15TopSupplier(spark: SparkSession, dir: String): DataFrame = {
    val rev = Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") >= ts("1996-01-01") &&
        col("l_shipdate") < ts("1996-04-01"))
      .groupBy(col("l_suppkey"))
      .agg(dsum6(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
        .as("total_revenue"))
    val maxRev = rev.agg(max(col("total_revenue")).as("max_revenue"))
    rev.join(broadcast(maxRev), col("total_revenue") === col("max_revenue"))
      .join(Tables.supplier(spark, dir).select("s_suppkey", "s_name"),
        col("l_suppkey") === col("s_suppkey"))
      .select("s_suppkey", "s_name", "total_revenue")
      .orderBy("s_suppkey")
  }

  def q15Oracle: String =
    """WITH revenue AS (
      |  SELECT l_suppkey,
      |    CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(24,6))) AS DOUBLE) AS total_revenue
      |  FROM lineitem
      |  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      |    AND l_shipdate < TIMESTAMP '1996-04-01'
      |  GROUP BY l_suppkey)
      |SELECT s_suppkey, s_name, total_revenue
      |FROM supplier, revenue
      |WHERE s_suppkey = l_suppkey
      |  AND total_revenue = (SELECT max(total_revenue) FROM revenue)
      |ORDER BY s_suppkey""".stripMargin

  /** TPC-H Q17-style small-quantity revenue: lineitems of one brand
    * whose quantity is below 20% of that part's average quantity.
    * The correlated AVG is decorrelated into one aggregate over the
    * SAME brand-restricted join output, then joined back per part —
    * lineitem is scanned once, both the aggregate and the re-join
    * shuffle on l_partkey (AQE reuses the exchange). The threshold is
    * built with one fixed IEEE op order (0.2 × (decimal-sum / count))
    * so the comparison is bit-identical in the oracle. */
  def q17SmallQuantity(spark: SparkSession, dir: String): DataFrame = {
    val brandParts = Tables.part(spark, dir)
      .filter(col("p_brand") === "Brand#2").select("p_partkey")
    val li = Tables.lineitem(spark, dir)
      .select("l_partkey", "l_quantity", "l_extendedprice")
      .join(brandParts, col("l_partkey") === col("p_partkey"))
    val thr = li.groupBy(col("l_partkey").as("t_partkey"))
      .agg((lit(0.2) * (dsum2(col("l_quantity")) / count(lit(1)))).as("qty_thr"))
    li.join(thr, col("l_partkey") === col("t_partkey"))
      .filter(col("l_quantity") < col("qty_thr"))
      .agg((dsum2(col("l_extendedprice")) / lit(7.0)).as("avg_yearly"))
  }

  def q17Oracle: String =
    """SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / 7.0 AS avg_yearly
      |FROM lineitem, part
      |WHERE p_partkey = l_partkey AND p_brand = 'Brand#2'
      |  AND l_quantity < (
      |    SELECT 0.2 * (CAST(SUM(CAST(l2.l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*))
      |    FROM lineitem l2 WHERE l2.l_partkey = p_partkey)""".stripMargin

  /** TPC-H Q8-style market share: the share of ASIA-region STANDARD-part
    * order volume supplied by one nation, per year. The deepest join in
    * the suite (part, supplier, lineitem, orders, customer, nation ×2
    * roles, region): every dimension filter (region, part type, order
    * window) lands BEFORE its fact join, nation/region broadcast, and
    * the share is one conditional aggregate over the joined volume —
    * numerator and denominator from the same decimal sums, one IEEE
    * division each year. */
  def q8MarketShare(spark: SparkSession, dir: String): DataFrame = {
    val nat = Tables.nation(spark, dir)
    val reg = Tables.region(spark, dir).filter(col("r_name") === "ASIA")
    val asiaNations = nat.join(broadcast(reg),
      col("n_regionkey") === col("r_regionkey")).select(col("n_nationkey"))
    val cust = Tables.customer(spark, dir).select("c_custkey", "c_nationkey")
      .join(broadcast(asiaNations), col("c_nationkey") === col("n_nationkey"))
      .select("c_custkey")
    val sup = Tables.supplier(spark, dir).select("s_suppkey", "s_nationkey")
      .join(broadcast(nat.select("n_nationkey", "n_name")),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("n_name").as("nation"))
    val parts = Tables.part(spark, dir)
      .filter(col("p_type") === "STANDARD").select("p_partkey")
    val ord = Tables.orders(spark, dir)
      .filter(col("o_orderdate") >= ts("1995-01-01") &&
        col("o_orderdate") < ts("1997-01-01"))
      .select("o_orderkey", "o_custkey", "o_orderdate")
    val li = Tables.lineitem(spark, dir)
      .select("l_orderkey", "l_partkey", "l_suppkey",
        "l_extendedprice", "l_discount")
    val vol = col("l_extendedprice") * (lit(1.0) - col("l_discount"))
    li.join(parts, col("l_partkey") === col("p_partkey"))
      .join(sup, col("l_suppkey") === col("s_suppkey"))
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .groupBy(year(col("o_orderdate")).cast("long").as("o_year"))
      .agg((dsum6(when(col("nation") === "NATION_2", vol).otherwise(lit(0.0)))
        / dsum6(vol)).as("mkt_share"))
      .orderBy("o_year")
  }

  def q8Oracle: String =
    """SELECT o_year,
      |  CAST(SUM(CAST(CASE WHEN nation = 'NATION_2' THEN volume ELSE 0.0 END
      |                AS DECIMAL(24,6))) AS DOUBLE) /
      |  CAST(SUM(CAST(volume AS DECIMAL(24,6))) AS DOUBLE) AS mkt_share
      |FROM (
      |  SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
      |    l_extendedprice * (1.0 - l_discount) AS volume, n2.n_name AS nation
      |  FROM part, supplier, lineitem, orders, customer,
      |       nation n1, nation n2, region
      |  WHERE p_partkey = l_partkey AND s_suppkey = l_suppkey
      |    AND l_orderkey = o_orderkey AND o_custkey = c_custkey
      |    AND c_nationkey = n1.n_nationkey AND n1.n_regionkey = r_regionkey
      |    AND r_name = 'ASIA' AND s_nationkey = n2.n_nationkey
      |    AND o_orderdate >= TIMESTAMP '1995-01-01'
      |    AND o_orderdate < TIMESTAMP '1997-01-01'
      |    AND p_type = 'STANDARD') volumes
      |GROUP BY o_year
      |ORDER BY o_year""".stripMargin

  /** TPC-H Q12-style priority shipping, adapted (no l_shipmode — the
    * fixture's grouping analogue is l_returnflag): per return flag,
    * how many lines shipped in 1997 belong to high- vs low-priority
    * orders. One join + conditional aggregation; the ship-year window
    * prunes lineitem at the scan, and only (flag, two counters)
    * survive the shuffle. */
  def q12PriorityShipping(spark: SparkSession, dir: String): DataFrame = {
    val hi = Seq("1-URGENT", "2-HIGH")
    val li = Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") >= ts("1997-01-01") &&
        col("l_shipdate") < ts("1998-01-01"))
      .select("l_orderkey", "l_returnflag")
    li.join(Tables.orders(spark, dir).select("o_orderkey", "o_orderpriority"),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy("l_returnflag")
      .agg(
        sum(when(col("o_orderpriority").isin(hi: _*), 1L).otherwise(0L))
          .as("high_line_count"),
        sum(when(!col("o_orderpriority").isin(hi: _*), 1L).otherwise(0L))
          .as("low_line_count"))
      .orderBy("l_returnflag")
  }

  def q12Oracle: String =
    """SELECT l_returnflag,
      |  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
      |                THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
      |  CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT','2-HIGH')
      |                THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
      |FROM orders, lineitem
      |WHERE o_orderkey = l_orderkey
      |  AND l_shipdate >= TIMESTAMP '1997-01-01'
      |  AND l_shipdate < TIMESTAMP '1998-01-01'
      |GROUP BY l_returnflag
      |ORDER BY l_returnflag""".stripMargin

  /** TPC-H Q21-style waiting supplier, adapted (no commit/receipt dates
    * — "late" is shipping >90 days after the order date): suppliers
    * whose late lines sat on finished multi-supplier orders where NO
    * other supplier was late — the classic double-correlation
    * (EXISTS + NOT EXISTS on the same fact). Decorrelated as one late
    * line set reused three ways: probe, semi join (another supplier's
    * line on the order), anti join (another supplier's LATE line) —
    * lineitem is scanned twice (once date-filtered), never per
    * correlation, and all three joins shuffle on l_orderkey so AQE can
    * reuse the exchange. */
  def q21WaitingSupplier(spark: SparkSession, dir: String): DataFrame = {
    val ordF = Tables.orders(spark, dir)
      .filter(col("o_orderstatus") === "F")
      .select("o_orderkey", "o_orderdate")
    val li = Tables.lineitem(spark, dir).select("l_orderkey", "l_suppkey")
    val late = Tables.lineitem(spark, dir)
      .select("l_orderkey", "l_suppkey", "l_shipdate")
      .join(ordF, col("l_orderkey") === col("o_orderkey"))
      .filter(col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 90 DAYS"))
      .select("l_orderkey", "l_suppkey")
    val hasOther = late.join(
      li.select(col("l_orderkey").as("o2"), col("l_suppkey").as("s2")),
      col("l_orderkey") === col("o2") && col("s2") =!= col("l_suppkey"),
      "left_semi")
    val soleLate = hasOther.join(
      late.select(col("l_orderkey").as("o3"), col("l_suppkey").as("s3")),
      col("l_orderkey") === col("o3") && col("s3") =!= col("l_suppkey"),
      "left_anti")
    soleLate
      .join(Tables.supplier(spark, dir).select("s_suppkey", "s_name"),
        col("l_suppkey") === col("s_suppkey"))
      .groupBy("s_name")
      .agg(count(lit(1)).as("numwait"))
      .orderBy(col("numwait").desc, col("s_name"))
      .limit(20)
  }

  def q21Oracle: String =
    """SELECT s_name, COUNT(*) AS numwait
      |FROM supplier, lineitem l1, orders
      |WHERE s_suppkey = l1.l_suppkey AND o_orderkey = l1.l_orderkey
      |  AND o_orderstatus = 'F'
      |  AND l1.l_shipdate > o_orderdate + INTERVAL 90 DAY
      |  AND EXISTS (SELECT 1 FROM lineitem l2
      |              WHERE l2.l_orderkey = l1.l_orderkey
      |                AND l2.l_suppkey <> l1.l_suppkey)
      |  AND NOT EXISTS (SELECT 1 FROM lineitem l3, orders o3
      |                  WHERE o3.o_orderkey = l3.l_orderkey
      |                    AND l3.l_orderkey = l1.l_orderkey
      |                    AND l3.l_suppkey <> l1.l_suppkey
      |                    AND l3.l_shipdate > o3.o_orderdate + INTERVAL 90 DAY)
      |GROUP BY s_name
      |ORDER BY numwait DESC, s_name
      |LIMIT 20""".stripMargin

  /** TPC-H Q22-style lapsed high-balance customers, adapted (no
    * c_phone; every fixture customer has SOME order, so "idle" means no
    * RECENT order): customers above the average positive account
    * balance with no orders since mid-2000, counted per market segment.
    * The global average is a two-stage 1-row aggregate broadcast into a
    * residual filter; the "no recent orders" test is a left-anti join
    * whose build side is date-pruned AT THE SCAN — at scale a shuffle
    * hash anti join over the recent slice only, never a NOT IN
    * materialization. */
  def q22IdleCustomers(spark: SparkSession, dir: String): DataFrame = {
    val cust = Tables.customer(spark, dir)
      .select("c_custkey", "c_mktsegment", "c_acctbal")
    val avgPos = cust.filter(col("c_acctbal") > 0.0)
      .agg((dsum2(col("c_acctbal")) / count(lit(1))).as("avg_bal"))
    val recent = Tables.orders(spark, dir)
      .filter(col("o_orderdate") >= ts("2000-06-01"))
      .select("o_custkey")
    cust.join(broadcast(avgPos))
      .filter(col("c_acctbal") > col("avg_bal"))
      .join(recent, col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("numcust"),
        dsum2(col("c_acctbal")).as("totacctbal"))
      .orderBy("c_mktsegment")
  }

  def q22Oracle: String =
    """SELECT c_mktsegment, COUNT(*) AS numcust,
      |  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS totacctbal
      |FROM customer
      |WHERE c_acctbal > (
      |    SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*)
      |    FROM customer WHERE c_acctbal > 0.0)
      |  AND NOT EXISTS (SELECT 1 FROM orders
      |                  WHERE o_custkey = c_custkey
      |                    AND o_orderdate >= TIMESTAMP '2000-06-01')
      |GROUP BY c_mktsegment
      |ORDER BY c_mktsegment""".stripMargin

  /** Pearson correlation per group, oracle-exact. Built-in `corr`
    * accumulates doubles in partition order → non-deterministic last
    * bits across engines/parallelism. Instead: the five sufficient
    * statistics as EXACT decimal sums (the [[dsum2]]/[[dsum6]]
    * discipline), then one fixed-shape double formula over the exact
    * aggregates — bit-identical at any partitioning, in Spark and in
    * the oracle alike. Still a single shuffle with map-side partials;
    * Products cast at scale 4 — their TRUE decimal scale (int·2dp and
    * 2dp·2dp with an integral factor): price² ~1e10 carries ~2e-6 of
    * double noise, which a scale-6 cast resolves differently across
    * engines (Spark rounds the shortest-string repr, DuckDB the raw
    * binary) but a scale-4 cast absorbs (noise ≪ half-step 5e-5), so
    * both recover the exact mathematical value. */
  def statsCorrLineitem(spark: SparkSession, dir: String): DataFrame = {
    def dsum4(c: Column): Column =
      sum(c.cast(DecimalType(27, 4))).cast("double")
    val x = col("l_quantity"); val y = col("l_extendedprice")
    Tables.lineitem(spark, dir)
      .groupBy("l_returnflag")
      .agg(count(lit(1)).cast("double").as("n"),
        dsum2(x).as("sx"), dsum2(y).as("sy"),
        dsum4(x * x).as("sxx"), dsum4(y * y).as("syy"),
        dsum4(x * y).as("sxy"))
      .select(col("l_returnflag"),
        ((col("n") * col("sxy") - col("sx") * col("sy")) /
          sqrt((col("n") * col("sxx") - col("sx") * col("sx")) *
            (col("n") * col("syy") - col("sy") * col("sy"))))
          .as("corr_qty_price"))
      .orderBy("l_returnflag")
  }

  def statsCorrOracle: String =
    """WITH g AS (SELECT l_returnflag,
      |    CAST(COUNT(*) AS DOUBLE) AS n,
      |    CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sx,
      |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sy,
      |    CAST(SUM(CAST(l_quantity*l_quantity AS DECIMAL(27,4))) AS DOUBLE) AS sxx,
      |    CAST(SUM(CAST(l_extendedprice*l_extendedprice AS DECIMAL(27,4))) AS DOUBLE) AS syy,
      |    CAST(SUM(CAST(l_quantity*l_extendedprice AS DECIMAL(27,4))) AS DOUBLE) AS sxy
      |  FROM lineitem GROUP BY l_returnflag)
      |SELECT l_returnflag,
      |  (n*sxy - sx*sy) / sqrt((n*sxx - sx*sx) * (n*syy - sy*sy)) AS corr_qty_price
      |FROM g ORDER BY l_returnflag""".stripMargin

  /** Per-group ordinary least squares (price ~ quantity) from the
    * same five exact decimal sufficient statistics as
    * [[statsCorrLineitem]]: slope, intercept, and r² are pure IEEE
    * arithmetic on exact inputs — bit-identical at any parallelism,
    * one map-side-partial shuffle, no second pass. The workhorse
    * "fit a trend per segment" operator. */
  def regressionQtyPrice(spark: SparkSession, dir: String): DataFrame = {
    def dsum4(c: Column): Column =
      sum(c.cast(DecimalType(27, 4))).cast("double")
    val x = col("l_quantity"); val y = col("l_extendedprice")
    Tables.lineitem(spark, dir)
      .groupBy("l_returnflag")
      .agg(count(lit(1)).cast("double").as("n"),
        dsum2(x).as("sx"), dsum2(y).as("sy"),
        dsum4(x * x).as("sxx"), dsum4(y * y).as("syy"),
        dsum4(x * y).as("sxy"))
      .select(col("l_returnflag"),
        col("n").cast("long").as("n_rows"),
        round(((col("n") * col("sxy") - col("sx") * col("sy")) /
          (col("n") * col("sxx") - col("sx") * col("sx"))), 6).as("slope"),
        round(((col("sy") - ((col("n") * col("sxy") - col("sx") * col("sy")) /
          (col("n") * col("sxx") - col("sx") * col("sx"))) * col("sx")) / col("n")), 6)
          .as("intercept"),
        round(pow((col("n") * col("sxy") - col("sx") * col("sy")) /
          sqrt((col("n") * col("sxx") - col("sx") * col("sx")) *
            (col("n") * col("syy") - col("sy") * col("sy"))), 2), 6).as("r2"))
      .orderBy("l_returnflag")
  }

  def regressionQtyPriceOracle: String =
    """WITH g AS (SELECT l_returnflag,
      |    CAST(COUNT(*) AS DOUBLE) AS n,
      |    CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sx,
      |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sy,
      |    CAST(SUM(CAST(l_quantity*l_quantity AS DECIMAL(27,4))) AS DOUBLE) AS sxx,
      |    CAST(SUM(CAST(l_extendedprice*l_extendedprice AS DECIMAL(27,4))) AS DOUBLE) AS syy,
      |    CAST(SUM(CAST(l_quantity*l_extendedprice AS DECIMAL(27,4))) AS DOUBLE) AS sxy
      |  FROM lineitem GROUP BY l_returnflag)
      |SELECT l_returnflag, CAST(n AS BIGINT) AS n_rows,
      |  round((n*sxy - sx*sy) / (n*sxx - sx*sx), 6) AS slope,
      |  round((sy - ((n*sxy - sx*sy) / (n*sxx - sx*sx)) * sx) / n, 6) AS intercept,
      |  round(pow((n*sxy - sx*sy) /
      |    sqrt((n*sxx - sx*sx) * (n*syy - sy*sy)), 2), 6) AS r2
      |FROM g ORDER BY l_returnflag""".stripMargin

  /** Order-independent table checksum: Σ of per-row 32-bit content
    * hashes (md5 of the canonical row rendering) plus the row count —
    * equal data ⇒ equal checksum regardless of partitioning, file
    * order, or engine. THE cheap answer to "did the migration /
    * rewrite / compaction change anything": one scan, one tiny
    * aggregate, no sort. (A sorted full-table compare is the
    * expensive fallback when checksums differ. Beyond ~2^32 rows,
    * accumulate the Σ in DECIMAL(38,0) — a long Σ of 32-bit hashes
    * can overflow around 4e9 rows.) */
  def tableChecksum(spark: SparkSession, dir: String): DataFrame = {
    val rowRepr = concat_ws("|",
      col("o_orderkey").cast("string"), col("o_custkey").cast("string"),
      col("o_orderstatus"), format_string("%.2f", col("o_totalprice")),
      date_format(col("o_orderdate"), "yyyy-MM-dd"), col("o_orderpriority"))
    val rowHash = conv(substring(md5(rowRepr), 1, 8), 16, 10).cast("long")
    Tables.orders(spark, dir)
      .agg(count(lit(1)).as("n_rows"),
        sum(rowHash).as("checksum"),
        max(rowHash).as("max_row_hash"))
  }

  def tableChecksumOracle: String =
    """SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
      |  CAST(SUM(h) AS BIGINT) AS checksum,
      |  CAST(MAX(h) AS BIGINT) AS max_row_hash
      |FROM (SELECT CAST(concat('0x', substr(md5(
      |    o_orderkey || '|' || o_custkey || '|' || o_orderstatus || '|' ||
      |    printf('%.2f', o_totalprice) || '|' ||
      |    strftime(o_orderdate, '%Y-%m-%d') || '|' || o_orderpriority
      |  ), 1, 8)) AS BIGINT) AS h FROM orders) t""".stripMargin

  /** Edit-distance fuzzy self-join with length blocking. The naive
    * fuzzy join is O(n²) name pairs; levenshtein ≤ 1 implies the
    * lengths differ by ≤ 1, so each left name explodes to its 3
    * candidate lengths and joins the right side on exact length — an
    * equi join whose candidate set is only same-±1-length pairs, with
    * the edit distance as a residual. Same blocking discipline as the
    * LSH dedup family: never materialize the cartesian. */
  def fuzzyNamePairs(spark: SparkSession, dir: String): DataFrame = {
    val names = Tables.nation(spark, dir).select(col("n_name"))
    val left = names.select(col("n_name").as("name_a"),
      explode(sequence(length(col("n_name")) - 1, length(col("n_name")) + 1))
        .as("len_b"))
    val right = names.select(col("n_name").as("name_b"),
      length(col("n_name")).as("len_b"))
    left.join(right, Seq("len_b"))
      .withColumn("dist", levenshtein(col("name_a"), col("name_b")).cast("long"))
      .filter(col("name_a") < col("name_b") && col("dist") <= 1)
      .select("name_a", "name_b", "dist")
      .orderBy("name_a", "name_b")
  }

  def fuzzyNamePairsOracle: String =
    """SELECT a.n_name AS name_a, b.n_name AS name_b,
      |  levenshtein(a.n_name, b.n_name) AS dist
      |FROM nation a JOIN nation b
      |  ON a.n_name < b.n_name
      | AND abs(length(a.n_name) - length(b.n_name)) <= 1
      | AND levenshtein(a.n_name, b.n_name) <= 1
      |ORDER BY name_a, name_b""".stripMargin

  /** Grouped top-k via the native bounded-heap aggregate
    * ([[graft.functions.BoundedTopK]]): top-3 orders per priority class.
    * Unlike the window idiom ([[windowRankOrders]]) nothing ever sorts a
    * full partition — map-side partials shrink every group to ≤ k rows
    * before the shuffle, and per-group memory is O(k) under any skew.
    * Descending price = ascending negated price (exact for doubles);
    * o_orderkey is the deterministic tiebreak. */
  def groupedTopkAgg(spark: SparkSession, dir: String): DataFrame = {
    val top = Tables.orders(spark, dir)
      .groupBy("o_orderpriority")
      .agg(graft.functions.BoundedTopK(3,
        struct(negate(col("o_totalprice")).as("np"),
          col("o_orderkey"), col("o_totalprice"))).as("top"))
    top.select(col("o_orderpriority"), posexplode(col("top")))
      .select(col("o_orderpriority"), (col("pos") + 1).cast("long").as("rk"),
        col("col.o_orderkey").as("o_orderkey"),
        col("col.o_totalprice").as("o_totalprice"))
      .orderBy("o_orderpriority", "rk")
  }

  def groupedTopkOracle: String =
    """SELECT o_orderpriority, CAST(rk AS BIGINT) AS rk, o_orderkey, o_totalprice
      |FROM (SELECT o_orderpriority, o_orderkey, o_totalprice,
      |        row_number() OVER (PARTITION BY o_orderpriority
      |          ORDER BY o_totalprice DESC, o_orderkey) AS rk
      |      FROM orders)
      |WHERE rk <= 3 ORDER BY o_orderpriority, rk""".stripMargin

  /** Numeric binning histogram: order-value distribution in fixed-width
    * buckets — the profiling scan behind any data-quality dashboard.
    * bucket = ⌊price/width⌋ is exact (2-dp inputs ≪ 2^52), so bucket
    * assignment is engine-identical; one shuffle carrying only
    * |buckets| rows after map-side partial agg. */
  def histogramTotalprice(spark: SparkSession, dir: String): DataFrame = {
    val width = 25000.0
    Tables.orders(spark, dir)
      .groupBy(floor(col("o_totalprice") / lit(width)).cast("long").as("bucket"))
      .agg(count(lit(1)).as("n"), dsum2(col("o_totalprice")).as("total"))
      .orderBy("bucket")
  }

  def histogramOracle: String =
    """SELECT CAST(FLOOR(o_totalprice / 25000.0) AS BIGINT) AS bucket,
      |  COUNT(*) AS n,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
      |FROM orders GROUP BY bucket ORDER BY bucket""".stripMargin

  def aggStatsOracle: String =
    """SELECT c_mktsegment,
      |  COUNT(*) AS n,
      |  min(c_acctbal) AS min_bal,
      |  max(c_acctbal) AS max_bal,
      |  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_bal,
      |  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_bal,
      |  CASE WHEN COUNT(*) > 1 THEN
      |  (CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2)) * CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
      |   - CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
      |     * CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*))
      |  / (COUNT(*) - 1) END AS var_bal
      |FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin

  // ────────────────────────────────────────────────────────────────────
  // TPC-H queries over a lineitem-DERIVED partsupp (the fixture ships no
  // partsupp table; see COVERAGE.md). Q2/Q9/Q11/Q16/Q20 all need it, so
  // it is derived once, identically in Spark and in the DuckDB oracle:
  // one row per observed (l_partkey, l_suppkey) pair,
  //   ps_availqty   = exact decimal sum of shipped quantity,
  //   ps_supplycost = min observed line value (l_extendedprice).
  // Both measures are order-independent (decimal sum; min over exact
  // 2-dp doubles), so the two engines derive bit-identical tables.
  // ps_supplycost deliberately avoids the more natural unit price
  // (extendedprice / quantity): the fixture generates extendedprice as
  // qty × 2-dp price, so the quotient lands within rounding noise of a
  // 2-decimal half-step on many rows, where Spark (shortest-repr
  // HALF_UP) and DuckDB (raw binary) snap in different directions —
  // measured 20 mismatching groups at sf0.01. A min over exact 2-dp
  // inputs keeps every downstream product within 4 true decimals, the
  // same exactness contract as the fixture's monetary columns
  // (see q1/statsCorr notes). At 100 TB this is the canonical build-a-dimension-from-the-
  // fact pattern: one shuffle on the pair key with map-side partials,
  // output |pairs| rows ≪ |lineitem|, reused by every query below.
  // ────────────────────────────────────────────────────────────────────

  private def derivedPartsupp(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy(col("l_partkey").as("ps_partkey"),
        col("l_suppkey").as("ps_suppkey"))
      .agg(dsum2(col("l_quantity")).as("ps_availqty"),
        min(col("l_extendedprice")).as("ps_supplycost"))

  /** Shared oracle CTE mirroring [[derivedPartsupp]] bit-for-bit. */
  private val partsuppCte: String =
    """partsupp AS (
      |  SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
      |    CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS ps_availqty,
      |    MIN(l_extendedprice) AS ps_supplycost
      |  FROM lineitem GROUP BY 1, 2)""".stripMargin

  /** TPC-H Q2-style minimum-cost supplier: for each EUROPE-supplied
    * size-15 part, the supplier(s) offering the regional minimum
    * supply cost. The correlated MIN subquery is decorrelated into one
    * aggregate over the SAME filtered offer set joined back on
    * (part, cost) — offers are built once, and the min-side equality is
    * exact (both sides select among identical IEEE division results).
    * Region→nation (25/5 rows) carry broadcast hints; the supplier and
    * part sides GROW with scale factor, so their joins stay size-driven
    * — AQE broadcasts them while measured small and falls back to a
    * shuffle join at 100 TB, where a forced hint would OOM the build.
    * The only fact-sized shuffle is the partsupp derivation itself. */
  def q2MinCostSupplier(spark: SparkSession, dir: String): DataFrame = {
    val eur = Tables.region(spark, dir).filter(col("r_name") === "EUROPE")
    val natEur = Tables.nation(spark, dir).join(broadcast(eur),
      col("n_regionkey") === col("r_regionkey")).select("n_nationkey", "n_name")
    val sup = Tables.supplier(spark, dir)
      .join(broadcast(natEur), col("s_nationkey") === col("n_nationkey"))
      .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    val parts = Tables.part(spark, dir)
      .filter(col("p_size") === 15)
      .select("p_partkey", "p_name")
    val offers = derivedPartsupp(spark, dir)
      .join(sup, col("ps_suppkey") === col("s_suppkey"))
      .join(parts, col("ps_partkey") === col("p_partkey"))
      .select("s_acctbal", "s_name", "n_name", "p_partkey", "p_name",
        "ps_supplycost")
    val minCost = offers.groupBy(col("p_partkey").as("m_partkey"))
      .agg(min(col("ps_supplycost")).as("min_cost"))
    offers.join(minCost, col("p_partkey") === col("m_partkey") &&
        col("ps_supplycost") === col("min_cost"))
      .select("s_acctbal", "s_name", "n_name", "p_partkey", "p_name",
        "ps_supplycost")
      .orderBy(desc("s_acctbal"), col("n_name"), col("s_name"),
        col("p_partkey"))
      .limit(100)
  }

  def q2Oracle: String =
    s"""WITH $partsuppCte,
      |offers AS (
      |  SELECT s_acctbal, s_name, n_name, p_partkey, p_name, ps_supplycost
      |  FROM partsupp, supplier, nation, region, part
      |  WHERE ps_suppkey = s_suppkey AND s_nationkey = n_nationkey
      |    AND n_regionkey = r_regionkey AND r_name = 'EUROPE'
      |    AND ps_partkey = p_partkey AND p_size = 15)
      |SELECT s_acctbal, s_name, n_name, p_partkey, p_name, ps_supplycost
      |FROM offers o
      |WHERE ps_supplycost = (SELECT MIN(i.ps_supplycost) FROM offers i
      |                       WHERE i.p_partkey = o.p_partkey)
      |ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
      |LIMIT 100""".stripMargin

  /** TPC-H Q9-style product-type profit ('red' parts for the fixture's
    * adjective vocabulary — classic Q9 uses 'green'): net profit
    * (revenue − supply cost × quantity) per supplier nation per order
    * year. The part filter lands before the fact join and broadcasts;
    * supplier+nation broadcast; the profit amount is one fixed IEEE
    * expression per row, decimal-summed so the group total is
    * order-independent at any parallelism. */
  def q9ProductProfit(spark: SparkSession, dir: String): DataFrame = {
    val redParts = Tables.part(spark, dir)
      .filter(col("p_name").startsWith("red")).select("p_partkey")
    val sup = Tables.supplier(spark, dir).select("s_suppkey", "s_nationkey")
      .join(broadcast(Tables.nation(spark, dir)
        .select("n_nationkey", "n_name")),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("n_name"))
    val amount = col("l_extendedprice") * (lit(1.0) - col("l_discount")) -
      col("ps_supplycost") * col("l_quantity")
    Tables.lineitem(spark, dir)
      .select("l_orderkey", "l_partkey", "l_suppkey", "l_quantity",
        "l_extendedprice", "l_discount")
      .join(redParts, col("l_partkey") === col("p_partkey"))
      .join(derivedPartsupp(spark, dir)
          .select("ps_partkey", "ps_suppkey", "ps_supplycost"),
        col("l_partkey") === col("ps_partkey") &&
          col("l_suppkey") === col("ps_suppkey"))
      .join(sup, col("l_suppkey") === col("s_suppkey"))
      .join(Tables.orders(spark, dir).select("o_orderkey", "o_orderdate"),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("n_name").as("nation"),
        year(col("o_orderdate")).cast("long").as("o_year"))
      .agg(dsum6(amount).as("sum_profit"))
      .orderBy(col("nation"), desc("o_year"))
  }

  def q9Oracle: String =
    s"""WITH $partsuppCte
      |SELECT n_name AS nation, CAST(year(o_orderdate) AS BIGINT) AS o_year,
      |  CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount)
      |                - ps_supplycost * l_quantity
      |                AS DECIMAL(24,6))) AS DOUBLE) AS sum_profit
      |FROM lineitem, partsupp, supplier, nation, orders, part
      |WHERE ps_partkey = l_partkey AND ps_suppkey = l_suppkey
      |  AND s_suppkey = l_suppkey AND n_nationkey = s_nationkey
      |  AND o_orderkey = l_orderkey AND p_partkey = l_partkey
      |  AND p_name LIKE 'red%'
      |GROUP BY n_name, year(o_orderdate)
      |ORDER BY nation, o_year DESC""".stripMargin

  /** TPC-H Q11-style important stock: parts whose inventory value at
    * EUROPE's suppliers exceeds 2× the average per-part value (classic
    * Q11 scopes one nation and uses a 0.0001/SF fraction of the total;
    * the fixture spreads ~3 suppliers per nation and its part count
    * grows with SF, so the region + the scale-invariant
    * above-2×-average form keep the query populated at every SF).
    * Both the per-part values and the global threshold are decimal sums
    * over the SAME per-pair products (order-independent), the 1-row
    * threshold broadcasts back, and the strict > is between
    * identically-derived doubles. partsupp derives once; AQE reuses the
    * exchange for both aggregations. */
  def q11ImportantStock(spark: SparkSession, dir: String): DataFrame = {
    val eurNations = Tables.nation(spark, dir)
      .join(broadcast(Tables.region(spark, dir)
        .filter(col("r_name") === "EUROPE")),
        col("n_regionkey") === col("r_regionkey"))
      .select("n_nationkey")
    val natSup = Tables.supplier(spark, dir)
      .join(broadcast(eurNations),
        col("s_nationkey") === col("n_nationkey"))
      .select("s_suppkey")
    val ps = derivedPartsupp(spark, dir)
      .join(natSup, col("ps_suppkey") === col("s_suppkey"))
      .select(col("ps_partkey"),
        (col("ps_supplycost") * col("ps_availqty")).as("v"))
    val perPart = ps.groupBy("ps_partkey").agg(dsum6(col("v")).as("value"))
    val threshold = ps.agg(dsum6(col("v")).as("tot"))
      .crossJoin(broadcast(perPart.agg(count(lit(1)).as("ng"))))
      .select((lit(2.0) * col("tot") / col("ng")).as("thr"))
    perPart.join(broadcast(threshold), col("value") > col("thr"))
      .select("ps_partkey", "value")
      .orderBy(desc("value"), col("ps_partkey"))
  }

  def q11Oracle: String =
    s"""WITH $partsuppCte,
      |natps AS (
      |  SELECT ps_partkey, ps_supplycost * ps_availqty AS v
      |  FROM partsupp, supplier, nation, region
      |  WHERE ps_suppkey = s_suppkey AND s_nationkey = n_nationkey
      |    AND n_regionkey = r_regionkey AND r_name = 'EUROPE'),
      |g AS (
      |  SELECT ps_partkey,
      |    CAST(SUM(CAST(v AS DECIMAL(24,6))) AS DOUBLE) AS value
      |  FROM natps GROUP BY ps_partkey)
      |SELECT ps_partkey, value FROM g
      |WHERE value > 2.0 * (SELECT CAST(SUM(CAST(v AS DECIMAL(24,6))) AS DOUBLE)
      |                     FROM natps)
      |              / (SELECT COUNT(*) FROM g)
      |ORDER BY value DESC, ps_partkey""".stripMargin

  /** TPC-H Q16-style supplier counts per part attribute: how many
    * distinct clean suppliers offer each (brand, type, size) combo,
    * excluding one brand, one type family, and suppliers "with
    * complaints" (adapted: negative account balance — the fixture has
    * no s_comment). COUNT(DISTINCT) shuffles (group, suppkey) pairs —
    * partial dedup happens map-side, so the shuffle carries distinct
    * pairs, not raw partsupp rows. */
  def q16PartSupplierCounts(spark: SparkSession, dir: String): DataFrame = {
    val cleanSup = Tables.supplier(spark, dir)
      .filter(col("s_acctbal") >= 0).select("s_suppkey")
    val parts = Tables.part(spark, dir)
      .filter(col("p_brand") =!= "Brand#5" && col("p_type") =!= "PROMO" &&
        col("p_size").isin(1, 4, 7, 10, 13, 16, 19))
      .select("p_partkey", "p_brand", "p_type", "p_size")
    derivedPartsupp(spark, dir).select("ps_partkey", "ps_suppkey")
      .join(cleanSup, col("ps_suppkey") === col("s_suppkey"))
      .join(parts, col("ps_partkey") === col("p_partkey"))
      .groupBy("p_brand", "p_type", "p_size")
      .agg(countDistinct(col("ps_suppkey")).as("supplier_cnt"))
      .orderBy(desc("supplier_cnt"), col("p_brand"), col("p_type"),
        col("p_size"))
  }

  def q16Oracle: String =
    s"""WITH $partsuppCte
      |SELECT p_brand, p_type, p_size,
      |  COUNT(DISTINCT ps_suppkey) AS supplier_cnt
      |FROM partsupp, part, supplier
      |WHERE p_partkey = ps_partkey AND ps_suppkey = s_suppkey
      |  AND s_acctbal >= 0
      |  AND p_brand <> 'Brand#5' AND p_type <> 'PROMO'
      |  AND p_size IN (1, 4, 7, 10, 13, 16, 19)
      |GROUP BY p_brand, p_type, p_size
      |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin

  /** TPC-H Q20-style excess-stock suppliers: EUROPE suppliers holding
    * a 'small'-part position whose availqty exceeds 3.5× what they
    * shipped of it in 1996 (the classic 0.5× becomes 3.5× because the
    * derived availqty already sums ALL seven years of shipments —
    * expected year share ≈ 1/7, so 3.5× keeps the predicate selective;
    * and the classic single nation becomes a region because the
    * fixture's 100 suppliers spread ~3 per nation). The correlated
    * quantity subquery is decorrelated into one 1996-filtered aggregate
    * joined on the pair key; candidate suppliers reach the supplier
    * table as a left-semi join. */
  def q20ExcessSuppliers(spark: SparkSession, dir: String): DataFrame = {
    val smallParts = Tables.part(spark, dir)
      .filter(col("p_name").startsWith("small")).select("p_partkey")
    val shipped96 = Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") >= ts("1996-01-01") &&
        col("l_shipdate") < ts("1997-01-01"))
      .groupBy("l_partkey", "l_suppkey")
      .agg(dsum2(col("l_quantity")).as("qty96"))
    val excess = derivedPartsupp(spark, dir)
      .join(smallParts, col("ps_partkey") === col("p_partkey"))
      .join(shipped96, col("ps_partkey") === col("l_partkey") &&
        col("ps_suppkey") === col("l_suppkey"))
      .filter(col("ps_availqty") > lit(3.5) * col("qty96"))
      .select("ps_suppkey")
    val eurNations = Tables.nation(spark, dir)
      .join(broadcast(Tables.region(spark, dir)
        .filter(col("r_name") === "EUROPE")),
        col("n_regionkey") === col("r_regionkey"))
      .select("n_nationkey")
    Tables.supplier(spark, dir)
      .join(broadcast(eurNations), col("s_nationkey") === col("n_nationkey"))
      .join(excess, col("s_suppkey") === col("ps_suppkey"), "left_semi")
      .select("s_suppkey", "s_name")
      .orderBy("s_name")
  }

  def q20Oracle: String =
    s"""WITH $partsuppCte,
      |shipped96 AS (
      |  SELECT l_partkey, l_suppkey,
      |    CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty96
      |  FROM lineitem
      |  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      |    AND l_shipdate < TIMESTAMP '1997-01-01'
      |  GROUP BY 1, 2)
      |SELECT s_suppkey, s_name
      |FROM supplier, nation, region
      |WHERE s_nationkey = n_nationkey AND n_regionkey = r_regionkey
      |  AND r_name = 'EUROPE'
      |  AND s_suppkey IN (
      |    SELECT ps_suppkey
      |    FROM partsupp, part, shipped96
      |    WHERE ps_partkey = p_partkey AND p_name LIKE 'small%'
      |      AND ps_partkey = l_partkey AND ps_suppkey = l_suppkey
      |      AND ps_availqty > 3.5 * qty96)
      |ORDER BY s_name""".stripMargin

  /** FULL OUTER join with genuinely unmatched rows on BOTH sides:
    * per-customer 2001 spend vs. negative-balance customers. Spark
    * plans a SortMergeJoin(FullOuter) — both sides shuffle on the key,
    * unmatched rows survive with nulls, and the output key is
    * COALESCE'd back together. At scale a full outer can't broadcast
    * (both sides must see non-matches), so shuffle-on-key is the
    * correct — and only — shape. */
  def fullOuterSpend(spark: SparkSession, dir: String): DataFrame = {
    val spend = Tables.orders(spark, dir)
      .filter(col("o_orderdate") >= ts("2001-01-01"))
      .groupBy(col("o_custkey"))
      .agg(dsum2(col("o_totalprice")).as("spend_2001"))
    val debtors = Tables.customer(spark, dir)
      .filter(col("c_acctbal") < 0)
      .select(col("c_custkey"), col("c_acctbal"))
    spend.join(debtors, col("o_custkey") === col("c_custkey"), "full_outer")
      .select(coalesce(col("o_custkey"), col("c_custkey")).as("custkey"),
        col("spend_2001"), col("c_acctbal"))
      .orderBy("custkey")
  }

  def fullOuterSpendOracle: String =
    """WITH spend AS (
      |  SELECT o_custkey,
      |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS spend_2001
      |  FROM orders WHERE o_orderdate >= TIMESTAMP '2001-01-01'
      |  GROUP BY o_custkey),
      |debtors AS (
      |  SELECT c_custkey, c_acctbal FROM customer WHERE c_acctbal < 0)
      |SELECT COALESCE(o_custkey, c_custkey) AS custkey, spend_2001, c_acctbal
      |FROM spend FULL JOIN debtors ON o_custkey = c_custkey
      |ORDER BY custkey""".stripMargin

  /** EXCEPT ALL — multiset difference (the set-op family's third leg
    * next to UNION/INTERSECT): 1999's order-priority bag minus 2000's.
    * Spark plans exceptAll as an aggregate of signed counts (no join
    * blowup); the residual bag is re-counted so the result is compact
    * and deterministically ordered. */
  def setopExceptAll(spark: SparkSession, dir: String): DataFrame = {
    def prios(year: Int) = Tables.orders(spark, dir)
      .filter(col("o_orderdate") >= ts(s"$year-01-01") &&
        col("o_orderdate") < ts(s"${year + 1}-01-01"))
      .select("o_orderpriority")
    prios(1999).exceptAll(prios(2000))
      .groupBy("o_orderpriority").agg(count(lit(1)).as("n"))
      .orderBy("o_orderpriority")
  }

  def setopExceptAllOracle: String =
    """SELECT o_orderpriority, COUNT(*) AS n FROM (
      |  SELECT o_orderpriority FROM orders
      |  WHERE o_orderdate >= TIMESTAMP '1999-01-01'
      |    AND o_orderdate < TIMESTAMP '2000-01-01'
      |  EXCEPT ALL
      |  SELECT o_orderpriority FROM orders
      |  WHERE o_orderdate >= TIMESTAMP '2000-01-01'
      |    AND o_orderdate < TIMESTAMP '2001-01-01')
      |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  /** One-pass numeric column profile — the data-quality audit scan
    * (null/distinct/min/max per column) every ingestion pipeline runs
    * before training. All four columns profile in a SINGLE aggregate
    * (one scan; the exact distinct counts expand the input 4× map-side
    * — the documented cost of exactness), then the wide 1-row result
    * unpivots to one row per column via stack(). */
  def profileLineitem(spark: SparkSession, dir: String): DataFrame = {
    val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
    val aggs = cols.flatMap { c =>
      Seq(count(col(c)).as(s"${c}_n"),
        countDistinct(col(c)).as(s"${c}_nd"),
        min(col(c)).as(s"${c}_min"),
        max(col(c)).as(s"${c}_max"))
    }
    val stackArgs = cols.map(c =>
      s"'$c', ${c}_n, ${c}_nd, ${c}_min, ${c}_max").mkString(", ")
    Tables.lineitem(spark, dir)
      .agg(aggs.head, aggs.tail: _*)
      .selectExpr(s"stack(${cols.size}, $stackArgs) AS " +
        "(col_name, n_nonnull, n_distinct, min_v, max_v)")
      .orderBy("col_name")
  }

  def profileLineitemOracle: String =
    """SELECT 'l_quantity' AS col_name, COUNT(l_quantity) AS n_nonnull,
      |  COUNT(DISTINCT l_quantity) AS n_distinct,
      |  MIN(l_quantity) AS min_v, MAX(l_quantity) AS max_v FROM lineitem
      |UNION ALL
      |SELECT 'l_extendedprice', COUNT(l_extendedprice),
      |  COUNT(DISTINCT l_extendedprice),
      |  MIN(l_extendedprice), MAX(l_extendedprice) FROM lineitem
      |UNION ALL
      |SELECT 'l_discount', COUNT(l_discount), COUNT(DISTINCT l_discount),
      |  MIN(l_discount), MAX(l_discount) FROM lineitem
      |UNION ALL
      |SELECT 'l_tax', COUNT(l_tax), COUNT(DISTINCT l_tax),
      |  MIN(l_tax), MAX(l_tax) FROM lineitem
      |ORDER BY col_name""".stripMargin

  /** Exact per-group median as a local ≤|groups|-row frame (g, med):
    * [[exactGroupQuantiles]] at p = 0.5, interpolated in
    * quantile_cont's op order. */
  private def groupMedian(vals: DataFrame): DataFrame =
    exactGroupQuantiles(vals, Seq(0.5), maxGroups = 16) // ≤ 5 priorities
      .select(col("g"),
        (col("lo_v") * (lit(1.0) - col("frac")) +
          coalesce(col("hi_v"), col("lo_v")) * col("frac")).as("med"))

  /** Median absolute deviation per group — the robust dispersion
    * that [[outlierZscore]]'s σ is not (one extreme row can move σ
    * arbitrarily; the MAD moves only with the middle of the
    * distribution). Two composed exact medians (values, then absolute
    * deviations), each two aggregate passes of [[exactGroupQuantiles]]
    * — no rank sort, no per-group window, no unbounded buffer. The
    * first median is a local ≤ 5-row frame: its values ride into the
    * deviation scan and the final composition as a per-group literal
    * lookup, so nothing is joined, cached or checkpointed. */
  def madPrice(spark: SparkSession, dir: String): DataFrame = {
    val vals = Tables.orders(spark, dir)
      .select(col("o_orderpriority").as("g"), col("o_totalprice").as("v"))
    val medOf = groupLookup(col("g"),
      groupMedian(vals).collect().toSeq.map(r => r.get(0) -> lit(r.get(1))))
    groupMedian(vals.select(col("g"), abs(col("v") - medOf).as("v")))
      .select(col("g").as("o_orderpriority"),
        round(medOf, 4).as("median_v"),
        round(col("med"), 4).as("mad_v"))
      .coalesce(1) // a local frame: sort it without an exchange
      .orderBy("o_orderpriority")
  }

  def madPriceOracle: String =
    """WITH m AS (SELECT o_orderpriority,
      |    quantile_cont(o_totalprice, 0.5) AS med
      |  FROM orders GROUP BY 1),
      |d AS (SELECT o.o_orderpriority, m.med,
      |    abs(o.o_totalprice - m.med) AS dev
      |  FROM orders o JOIN m USING (o_orderpriority))
      |SELECT o_orderpriority, round(MAX(med), 4) AS median_v,
      |  round(quantile_cont(dev, 0.5), 4) AS mad_v
      |FROM d GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  /** Referential-integrity audit between the fact pair: orphan
    * lineitems (no parent order), childless orders, and the count of
    * orders whose lineitem price sum disagrees with o_totalprice —
    * the ingest-consistency report run after every load. One
    * co-partitioned shuffle join on the key (both sides hash on
    * o_orderkey — AQE reuses the exchange) + exact decimal sums; the
    * three verdict counts are a 1-row conditional aggregation. */
  def fkIntegrityAudit(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .groupBy(col("l_orderkey"))
      .agg(count(lit(1)).as("n_items"), dsum2(col("l_extendedprice")).as("li_sum"))
    val joined = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_totalprice"))
      .join(li, col("o_orderkey") === col("l_orderkey"), "full_outer")
    joined.agg(
      sum(when(col("o_orderkey").isNull, 1L).otherwise(0L)).as("orphan_lineitem_keys"),
      sum(when(col("l_orderkey").isNull, 1L).otherwise(0L)).as("childless_orders"),
      sum(when(col("o_orderkey").isNotNull && col("l_orderkey").isNotNull &&
        abs(col("li_sum") - col("o_totalprice")) > 0.01, 1L).otherwise(0L))
        .as("price_mismatch_orders"),
      count(lit(1)).as("n_keys"))
  }

  def fkIntegrityAuditOracle: String =
    """WITH li AS (SELECT l_orderkey, COUNT(*) AS n_items,
      |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS li_sum
      |  FROM lineitem GROUP BY 1)
      |SELECT
      |  CAST(SUM(CASE WHEN o.o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
      |    AS orphan_lineitem_keys,
      |  CAST(SUM(CASE WHEN li.l_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
      |    AS childless_orders,
      |  CAST(SUM(CASE WHEN o.o_orderkey IS NOT NULL AND li.l_orderkey IS NOT NULL
      |       AND abs(li.li_sum - o.o_totalprice) > 0.01 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS price_mismatch_orders,
      |  COUNT(*) AS n_keys
      |FROM orders o FULL OUTER JOIN li ON o.o_orderkey = li.l_orderkey""".stripMargin

  /** Exact p50/p95 for EVERY numeric column at once — the quantile
    * half of the data-profiling dashboard ([[profileLineitem]] covers
    * nulls/distinct/min/max). The table unpivots to a (col_name,
    * value) stream via `stack` (codegen'd, no UDF, one scan for all
    * columns) and [[exactGroupQuantiles]] brackets and refines every
    * column's quantiles in the same two aggregate passes — column
    * count adds no passes and no per-column windows. */
  def numericProfileQuantiles(spark: SparkSession, dir: String): DataFrame = {
    val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
    val stackArgs = cols.map(c => s"'$c', $c").mkString(", ")
    val unpivoted = Tables.lineitem(spark, dir)
      .selectExpr(s"stack(${cols.size}, $stackArgs) AS (g, v)")
    exactGroupQuantiles(unpivoted, Seq(0.5, 0.95), maxGroups = cols.size).coalesce(1)
      .select(col("g"), col("p"),
        round(col("lo_v") * (lit(1.0) - col("frac")) +
          coalesce(col("hi_v"), col("lo_v")) * col("frac"), 4).as("qv"))
      .groupBy(col("g").as("col_name"))
      .agg(max(when(col("p") === 0.5, col("qv"))).as("p50"),
        max(when(col("p") === 0.95, col("qv"))).as("p95"))
      .orderBy("col_name")
  }

  def numericProfileQuantilesOracle: String =
    Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax").map { c =>
      s"""SELECT '$c' AS col_name,
         |  round(quantile_cont($c, 0.50), 4) AS p50,
         |  round(quantile_cont($c, 0.95), 4) AS p95
         |FROM lineitem""".stripMargin
    }.mkString("", "\nUNION ALL\n", "\nORDER BY col_name")

  /** The salted two-stage aggregation ([[SkewAgg.saltedCountSum]]) as
    * an oracled query: per-flag count + exact decimal revenue computed
    * through 16 deterministic salt buckets then merged — byte-identical
    * to the direct groupBy (the oracle IS the direct form). This is the
    * shape that survives a 100 TB key whose final merge state would
    * otherwise serialize on one reducer. */
  def skewSaltedAgg(spark: SparkSession, dir: String): DataFrame =
    SkewAgg.saltedCountSum(
        Tables.lineitem(spark, dir)
          .select(col("l_returnflag"), col("l_orderkey"), col("l_linenumber"),
            col("l_extendedprice")),
        "l_returnflag", col("l_extendedprice").cast(DecimalType(18, 2)))
      .select(col("l_returnflag"), col("n"),
        col("total").cast("double").as("total"))
      .orderBy("l_returnflag")

  def skewSaltedAggOracle: String =
    """SELECT l_returnflag, COUNT(*) AS n,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS total
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** Shuffle-skew audit: simulate the 32-way hash partitioning a
    * shuffle on l_suppkey would produce (engine-neutral md5-prefix
    * bucket — the same key distribution any hash partitioner sees)
    * and report rows per bucket plus each bucket's share of a
    * perfectly even split. This is the pre-flight read before a big
    * join: a max_skew of 1.0 means the shuffle balances; 3× means
    * one reducer does triple work and the key needs salting
    * ([[SkewAgg]]/[[graft.operators.SkewJoin]] are the fixes this
    * audit triggers). One hash aggregate, map-side combined. */
  def shuffleSkewAudit(spark: SparkSession, dir: String): DataFrame = {
    val n = 32
    val bucketed = Tables.lineitem(spark, dir)
      .select((conv(substring(md5(col("l_suppkey").cast("string")), 1, 8), 16, 10)
        .cast("long") % n).as("bucket"))
      .groupBy("bucket").agg(count(lit(1)).as("n_rows"))
    val total = bucketed.agg(sum("n_rows").as("total"))
    bucketed.crossJoin(broadcast(total))
      .select(col("bucket"), col("n_rows"),
        round(col("n_rows") * lit(n.toDouble) / col("total"), 6).as("skew_ratio"))
      .orderBy("bucket")
  }

  def shuffleSkewAuditOracle: String =
    """WITH b AS (SELECT
      |    CAST('0x' || substr(md5(CAST(l_suppkey AS VARCHAR)), 1, 8) AS BIGINT)
      |      % 32 AS bucket,
      |    CAST(COUNT(*) AS BIGINT) AS n_rows
      |  FROM lineitem GROUP BY 1),
      |t AS (SELECT CAST(SUM(n_rows) AS BIGINT) AS total FROM b)
      |SELECT bucket, n_rows,
      |  round(n_rows * 32.0 / total, 6) AS skew_ratio
      |FROM b, t ORDER BY bucket""".stripMargin

  /** Join fan-out profile: the distribution of lineitems per order —
    * the statistic a join planner needs before picking a strategy for
    * orders ⋈ lineitem (average fan-out sizes the output; the max
    * says whether one hot key will stall a reducer). Two stacked
    * aggregations: rows → per-key counts (the join's own build-side
    * cardinality) → fan-out histogram; both map-side combined,
    * output bounded by the max fan-out, not the data. */
  def joinFanoutProfile(spark: SparkSession, dir: String): DataFrame = {
    val perKey = Tables.lineitem(spark, dir)
      .groupBy("l_orderkey").agg(count(lit(1)).as("fanout"))
    val total = perKey.agg(count(lit(1)).as("n_keys"))
    perKey.groupBy("fanout").agg(count(lit(1)).as("n_orders"))
      .crossJoin(broadcast(total))
      .select(col("fanout"), col("n_orders"),
        round(col("n_orders") / col("n_keys"), 6).as("share_of_keys"))
      .orderBy("fanout")
  }

  def joinFanoutProfileOracle: String =
    """WITH pk AS (SELECT l_orderkey, CAST(COUNT(*) AS BIGINT) AS fanout
      |  FROM lineitem GROUP BY 1),
      |t AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_keys FROM pk)
      |SELECT fanout, CAST(COUNT(*) AS BIGINT) AS n_orders,
      |  round(COUNT(*) / CAST(t.n_keys AS DOUBLE), 6) AS share_of_keys
      |FROM pk, t GROUP BY fanout, t.n_keys ORDER BY fanout""".stripMargin

  /** Conditional/boolean aggregate battery: count_if, bool_and/bool_or,
    * plus a decimal-exact WEIGHTED average (discount-weighted price:
    * Σ(price·qty)/Σqty with both sums exact decimals, one IEEE division
    * at the end). All are single-shuffle hash aggregates with map-side
    * partials; boolean aggs reduce to AND/OR monoids so partials are
    * one bit per group. */
  def aggConditional(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy("l_returnflag")
      .agg(
        count_if(col("l_discount") > 0.05).as("n_high_disc"),
        bool_and(col("l_quantity") > 0).as("all_positive_qty"),
        bool_or(col("l_tax") > 0.07).as("any_high_tax"),
        (dsum6(col("l_extendedprice") * col("l_quantity")) /
          dsum2(col("l_quantity"))).as("qty_weighted_price"))
      .orderBy("l_returnflag")

  def aggConditionalOracle: String =
    """SELECT l_returnflag,
      |  CAST(count_if(l_discount > 0.05) AS BIGINT) AS n_high_disc,
      |  bool_and(l_quantity > 0) AS all_positive_qty,
      |  bool_or(l_tax > 0.07) AS any_high_tax,
      |  CAST(SUM(CAST(l_extendedprice * l_quantity AS DECIMAL(24,6))) AS DOUBLE)
      |    / CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
      |    AS qty_weighted_price
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** Multi-quantile exact percentiles — [[percentilePrice]]'s
    * technique generalized to a GRID of quantiles: every (group,
    * quantile) pair gets its two bracketing order statistics from the
    * same two aggregate passes of [[exactGroupQuantiles]], then linear
    * interpolation. No unbounded aggregation buffer and no sort: the
    * grid adds rows to the local bracket frame, not passes. */
  def quantileGridPrice(spark: SparkSession, dir: String): DataFrame = {
    val vals = Tables.orders(spark, dir)
      .select(col("o_orderpriority").as("g"), col("o_totalprice").as("v"))
    exactGroupQuantiles(vals, Seq(0.25, 0.5, 0.75, 0.95), maxGroups = 16).coalesce(1)
      .select(col("g").as("o_orderpriority"), col("p").as("q"),
        // lo·(1−frac) + hi·frac — the exact op order quantile_cont
        // uses (verified against DuckDB bit-for-bit; the algebraically
        // equal lo + frac·(hi−lo) differs in the last ulp)
        (col("lo_v") * (lit(1.0) - col("frac")) +
          coalesce(col("hi_v"), col("lo_v")) * col("frac")).as("quantile_v"))
      .orderBy("o_orderpriority", "q")
  }

  def quantileGridOracle: String =
    Seq(0.25, 0.5, 0.75, 0.95).map { q =>
      s"""SELECT o_orderpriority, CAST($q AS DOUBLE) AS q,
         |  quantile_cont(o_totalprice, $q) AS quantile_v
         |FROM orders GROUP BY o_orderpriority""".stripMargin
    }.mkString("", "\nUNION ALL\n", "\nORDER BY o_orderpriority, q")

  /** Per-group winsorization: clip order values at their group's
    * exact p05/p95 and report the robust mean — the outlier-taming
    * twin of [[outlierZscore]] (clip instead of drop). The bounds
    * come from [[exactGroupQuantiles]] (interpolated in
    * quantile_cont's exact op order — no unbounded agg buffer),
    * pivoted to one tiny local (group → lo, hi) frame that broadcasts
    * back onto the fact scan; the clipped sum is decimal-exact so the
    * mean is partition-order-free. */
  def winsorizePrices(spark: SparkSession, dir: String): DataFrame = {
    val x = col("l_extendedprice")
    val vals = Tables.lineitem(spark, dir)
      .select(col("l_returnflag").as("g"), x.as("v"))
    val quantiles = exactGroupQuantiles(vals, Seq(0.05, 0.95), maxGroups = 16).coalesce(1)
      .select(col("g").as("g_rf"),
        col("p").as("q"),
        (col("lo_v") * (lit(1.0) - col("frac")) +
          coalesce(col("hi_v"), col("lo_v")) * col("frac")).as("qv"))
      .groupBy("g_rf")
      .agg(max(when(col("q") === 0.05, col("qv"))).as("lo"),
        max(when(col("q") === 0.95, col("qv"))).as("hi"))
    val clipped = greatest(least(x, col("hi")), col("lo"))
    Tables.lineitem(spark, dir).select(col("l_returnflag"), x)
      .join(broadcast(quantiles), col("l_returnflag") === col("g_rf"))
      .groupBy("l_returnflag")
      .agg(round(first(col("lo")), 6).as("p05"),
        round(first(col("hi")), 6).as("p95"),
        count(lit(1)).as("n"),
        count(when(x < col("lo"), 1)).as("n_lo_clipped"),
        count(when(x > col("hi"), 1)).as("n_hi_clipped"),
        round(dsum6(clipped) / count(lit(1)), 6).as("win_mean"))
      .orderBy("l_returnflag")
  }

  def winsorizePricesOracle: String =
    """WITH b AS (SELECT l_returnflag,
      |    quantile_cont(l_extendedprice, 0.05) AS lo,
      |    quantile_cont(l_extendedprice, 0.95) AS hi
      |  FROM lineitem GROUP BY 1)
      |SELECT l.l_returnflag, round(b.lo, 6) AS p05, round(b.hi, 6) AS p95,
      |  CAST(COUNT(*) AS BIGINT) AS n,
      |  CAST(COUNT(*) FILTER (WHERE l_extendedprice < b.lo) AS BIGINT)
      |    AS n_lo_clipped,
      |  CAST(COUNT(*) FILTER (WHERE l_extendedprice > b.hi) AS BIGINT)
      |    AS n_hi_clipped,
      |  round(CAST(SUM(CAST(GREATEST(LEAST(l_extendedprice, b.hi), b.lo)
      |        AS DECIMAL(24,6))) AS DOUBLE) / COUNT(*), 6) AS win_mean
      |FROM lineitem l JOIN b USING (l_returnflag)
      |GROUP BY l.l_returnflag, b.lo, b.hi
      |ORDER BY l.l_returnflag""".stripMargin

  /** Scalar battery 4: regular expressions. Patterns stay within the
    * POSIX-compatible intersection of Java regex (Spark) and RE2
    * (DuckDB) — char classes, quantifiers, anchors — so semantics are
    * engine-identical. DuckDB's regexp_replace defaults to
    * first-occurrence; the oracle passes 'g' to match Spark's
    * replace-all. All codegen'd projections, zero shuffle before the
    * final sort. */
  def scalarRegexFuncs(spark: SparkSession, dir: String): DataFrame =
    Tables.customer(spark, dir).select(
      col("c_custkey"),
      regexp_extract(col("c_name"), "([0-9]+)$", 1).as("digits"),
      regexp_extract(col("c_name"), "([0-9]+)$", 1).cast("long").as("digits_num"),
      regexp_replace(col("c_name"), "0+", "0").as("collapsed"),
      col("c_name").rlike("^Customer#[0-9]{9}$").as("well_formed"),
      regexp_count(col("c_name"), lit("[1-9]")).as("nonzero_digits"))
      .orderBy("c_custkey")

  def scalarRegexOracle: String =
    """SELECT c_custkey,
      |  regexp_extract(c_name, '([0-9]+)$', 1) AS digits,
      |  CAST(regexp_extract(c_name, '([0-9]+)$', 1) AS BIGINT) AS digits_num,
      |  regexp_replace(c_name, '0+', '0', 'g') AS collapsed,
      |  regexp_matches(c_name, '^Customer#[0-9]{9}$') AS well_formed,
      |  CAST(len(regexp_extract_all(c_name, '[1-9]')) AS INTEGER)
      |    AS nonzero_digits
      |FROM customer ORDER BY c_custkey""".stripMargin

  /** max_by/min_by battery: per market segment, the customer holding
    * the extreme account balance. The native max_by aggregates with
    * map-side partials (no window, no per-group sort); the comparison
    * key is struct(balance, custkey) so ties break on the unique key
    * and the result is deterministic at any parallelism — the oracle
    * states the same semantics as a rank-1 window. */
  def argmaxCustomer(spark: SparkSession, dir: String): DataFrame =
    Tables.customer(spark, dir)
      .groupBy("c_mktsegment")
      .agg(
        max_by(col("c_custkey"),
          struct(col("c_acctbal"), col("c_custkey"))).as("top_custkey"),
        max(col("c_acctbal")).as("max_bal"),
        min_by(col("c_custkey"),
          struct(col("c_acctbal"), col("c_custkey"))).as("bottom_custkey"),
        min(col("c_acctbal")).as("min_bal"))
      .orderBy("c_mktsegment")

  /** Statistical outlier filter: per-group z-score over order totals,
    * keeping rows more than 2σ from their group mean — the standard
    * anomaly screen before a value lands in a training mix. Two-pass
    * distributed shape: one hash aggregation for (n, Σx, Σx²) per
    * group (map-side partial, 5 groups), then the tiny stats frame
    * broadcasts back onto the fact scan — the corpus is never
    * shuffled. Moments use exact decimal sums (the determinism
    * discipline at the file head) and z is rounded BEFORE the
    * threshold compare so both engines make identical keep/drop
    * decisions at the boundary. (Threshold 1.5σ: a uniform
    * distribution — which the synthetic totalprice is — never exceeds
    * √3 ≈ 1.73σ, so a 2σ screen would be vacuous on the fixture.) */
  def outlierZscore(spark: SparkSession, dir: String): DataFrame = {
    val x = col("o_totalprice")
    val stats = Tables.orders(spark, dir)
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).cast("double").as("n"),
        dsum2(x).as("sx"),
        sum((x * x).cast(DecimalType(27, 4))).cast("double").as("sxx"))
      .select(col("o_orderpriority"), (col("sx") / col("n")).as("mean"),
        sqrt((col("sxx") - col("sx") * col("sx") / col("n")) / col("n")).as("sd"))
    Tables.orders(spark, dir).join(broadcast(stats), Seq("o_orderpriority"))
      .select(col("o_orderkey"), col("o_orderpriority"),
        round((x - col("mean")) / col("sd"), 6).as("z"))
      .filter(abs(col("z")) > 1.5)
      .orderBy("o_orderkey")
  }

  /** Pearson chi-square independence audit of the priority × status
    * contingency table — the categorical-drift check a curation
    * pipeline runs between dataset snapshots. One hash aggregation
    * over the fact scan yields the exact cell counts; row totals,
    * column totals, and expected counts are derived on the tiny cells
    * frame (broadcast joins, no second pass over the data).
    * Everything downstream of the integer counts is deterministic
    * IEEE arithmetic from exact inputs, so per-cell contributions
    * hash-match at any parallelism. */
  def chi2PriorityStatus(spark: SparkSession, dir: String): DataFrame = {
    val cells = Tables.orders(spark, dir)
      .groupBy("o_orderpriority", "o_orderstatus")
      .agg(count(lit(1)).as("n"))
    val rowT = cells.groupBy("o_orderpriority").agg(sum("n").as("row_n"))
    val colT = cells.groupBy("o_orderstatus").agg(sum("n").as("col_n"))
    val tot = cells.agg(sum("n").as("tot"))
    val e = (col("row_n") * col("col_n")).cast("double") / col("tot").cast("double")
    cells.join(broadcast(rowT), Seq("o_orderpriority"))
      .join(broadcast(colT), Seq("o_orderstatus"))
      .crossJoin(broadcast(tot))
      .select(col("o_orderpriority"), col("o_orderstatus"), col("n"),
        round(e, 6).as("expected"),
        round((col("n") - e) * (col("n") - e) / e, 6).as("chi2_term"))
      .orderBy("o_orderpriority", "o_orderstatus")
  }

  def chi2PriorityStatusOracle: String =
    """WITH cells AS (SELECT o_orderpriority, o_orderstatus,
      |    CAST(COUNT(*) AS BIGINT) AS n
      |  FROM orders GROUP BY 1, 2),
      |rt AS (SELECT o_orderpriority, CAST(SUM(n) AS BIGINT) AS row_n
      |  FROM cells GROUP BY 1),
      |ct AS (SELECT o_orderstatus, CAST(SUM(n) AS BIGINT) AS col_n
      |  FROM cells GROUP BY 1),
      |tt AS (SELECT CAST(SUM(n) AS BIGINT) AS tot FROM cells)
      |SELECT c.o_orderpriority, c.o_orderstatus, c.n,
      |  round(CAST(rt.row_n * ct.col_n AS DOUBLE) / CAST(tt.tot AS DOUBLE), 6)
      |    AS expected,
      |  round((c.n - CAST(rt.row_n * ct.col_n AS DOUBLE) / CAST(tt.tot AS DOUBLE))
      |      * (c.n - CAST(rt.row_n * ct.col_n AS DOUBLE) / CAST(tt.tot AS DOUBLE))
      |      / (CAST(rt.row_n * ct.col_n AS DOUBLE) / CAST(tt.tot AS DOUBLE)), 6)
      |    AS chi2_term
      |FROM cells c
      |JOIN rt USING (o_orderpriority)
      |JOIN ct USING (o_orderstatus), tt
      |ORDER BY c.o_orderpriority, c.o_orderstatus""".stripMargin

  def outlierZscoreOracle: String =
    """WITH g AS (SELECT o_orderpriority,
      |    CAST(COUNT(*) AS DOUBLE) AS n,
      |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sx,
      |    CAST(SUM(CAST(o_totalprice*o_totalprice AS DECIMAL(27,4))) AS DOUBLE) AS sxx
      |  FROM orders GROUP BY o_orderpriority),
      |s AS (SELECT o_orderpriority, sx/n AS mean,
      |    sqrt((sxx - sx*sx/n)/n) AS sd FROM g)
      |SELECT o.o_orderkey, o.o_orderpriority,
      |  round((o.o_totalprice - s.mean)/s.sd, 6) AS z
      |FROM orders o JOIN s USING (o_orderpriority)
      |WHERE abs(round((o.o_totalprice - s.mean)/s.sd, 6)) > 1.5
      |ORDER BY o.o_orderkey""".stripMargin

  def argmaxCustomerOracle: String =
    """WITH ranked AS (
      |  SELECT c_mktsegment, c_custkey, c_acctbal,
      |    row_number() OVER (PARTITION BY c_mktsegment
      |      ORDER BY c_acctbal DESC, c_custkey DESC) AS rk_max,
      |    row_number() OVER (PARTITION BY c_mktsegment
      |      ORDER BY c_acctbal ASC, c_custkey ASC) AS rk_min
      |  FROM customer)
      |SELECT c_mktsegment,
      |  MAX(CASE WHEN rk_max = 1 THEN c_custkey END) AS top_custkey,
      |  MAX(CASE WHEN rk_max = 1 THEN c_acctbal END) AS max_bal,
      |  MAX(CASE WHEN rk_min = 1 THEN c_custkey END) AS bottom_custkey,
      |  MAX(CASE WHEN rk_min = 1 THEN c_acctbal END) AS min_bal
      |FROM ranked GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin

  /** Pareto frontier (skyline) of part on (minimize p_retailprice,
    * maximize p_size) — the multi-objective "best tradeoffs" query
    * (cheapest part at every size class). The textbook definition is
    * the O(n²) NOT-EXISTS dominance test — that's the oracle, never
    * the plan. Scale shape: collapse to distinct (price, size) pairs
    * first (hash agg), then sort inside equi-width value buckets — a
    * single global window would funnel every pair into one task, so
    * dominance is split into (a) a per-price-bucket window that runs
    * one task per bucket and (b) a strictly-earlier-bucket running
    * max over the |buckets|-row bucket-maxima table. A pair survives
    * iff its size beats both: rows sorted (price asc, size desc) are
    * dominated exactly when some earlier row's size ≥ theirs. */
  def skylineParts(spark: SparkSession, dir: String): DataFrame = {
    val pairs = Tables.part(spark, dir)
      .groupBy(col("p_retailprice"), col("p_size"))
      .agg(count(lit(1)).as("n_parts"), min("p_partkey").as("min_partkey"))
    val stats = pairs.agg(min("p_retailprice").as("pmin"),
      max("p_retailprice").as("pmax"))
    val bucketed = pairs.join(broadcast(stats))
      .select(col("p_retailprice"), col("p_size"), col("n_parts"),
        col("min_partkey"),
        when(col("pmin") === col("pmax"), lit(1L))
          .otherwise(width_bucket(col("p_retailprice"), col("pmin"),
            col("pmax"), lit(64))).as("bkt"))
    // cross-bucket dominance: max size over all strictly-earlier
    // buckets (every price there is strictly smaller) — |buckets| rows
    val wPrev = graft.BoundedWindow.orderBy(col("bkt")).rowsBetween(Window.unboundedPreceding, -1)
    val prevMax = bucketed.groupBy("bkt").agg(max("p_size").as("bmax"))
      .withColumn("prev_max",
        coalesce(max(col("bmax")).over(wPrev), lit(Int.MinValue)))
      .select("bkt", "prev_max")
    // within-bucket dominance: parallel per bucket; preceding rows in
    // (price asc, size desc) order are exactly the potential dominators
    val wIn = Window.partitionBy("bkt")
      .orderBy(col("p_retailprice").asc, col("p_size").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    bucketed.join(broadcast(prevMax), Seq("bkt"))
      .withColumn("local_max",
        coalesce(max(col("p_size")).over(wIn), lit(Int.MinValue)))
      .filter(col("p_size") > greatest(col("local_max"), col("prev_max")))
      .select(col("p_retailprice"), col("p_size"), col("n_parts"),
        col("min_partkey"))
      .orderBy("p_retailprice")
  }

  def skylinePartsOracle: String =
    """WITH pairs AS (
      |  SELECT p_retailprice, p_size, CAST(COUNT(*) AS BIGINT) AS n_parts,
      |         MIN(p_partkey) AS min_partkey
      |  FROM part GROUP BY 1, 2)
      |SELECT a.p_retailprice, a.p_size, a.n_parts, a.min_partkey
      |FROM pairs a
      |WHERE NOT EXISTS (SELECT 1 FROM pairs b
      |  WHERE b.p_retailprice <= a.p_retailprice AND b.p_size >= a.p_size
      |    AND (b.p_retailprice < a.p_retailprice OR b.p_size > a.p_size))
      |ORDER BY a.p_retailprice""".stripMargin

  /** Distributed MERGE (SCD-style upsert): apply a change batch to the
    * customer dim and emit the new snapshot with per-row action/version
    * lineage. The change batch is derived deterministically from the
    * fact side (per-customer urgent-order spend). The plan is the
    * standard lakehouse merge shape: both sides shuffle ONCE on the
    * join key into a co-partitioned full outer join — matched rows
    * update, left-only rows carry forward, right-only rows insert; no
    * driver state, no row-by-row apply loop, and at 100 TB the merge
    * cost is one co-partitioned shuffle of dim + batch (AQE handles
    * the usually-much-smaller batch side). */
  def scd2Upsert(spark: SparkSession, dir: String): DataFrame = {
    val updates = Tables.orders(spark, dir)
      .filter(col("o_orderpriority") === "1-URGENT")
      .groupBy(col("o_custkey").as("u_custkey"))
      .agg(dsum2(col("o_totalprice")).as("delta"))
    val base = Tables.customer(spark, dir)
      .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
    base.join(updates, col("c_custkey") === col("u_custkey"), "full_outer")
      .select(
        coalesce(col("c_custkey"), col("u_custkey")).as("c_custkey"),
        coalesce(col("c_name"), lit("(new)")).as("c_name"),
        round(coalesce(col("c_acctbal"), lit(0.0)) +
          coalesce(col("delta"), lit(0.0)), 2).as("acctbal_new"),
        when(col("u_custkey").isNull, lit("keep"))
          .when(col("c_custkey").isNull, lit("insert"))
          .otherwise(lit("update")).as("action"),
        when(col("u_custkey").isNull, lit(1)).otherwise(lit(2))
          .cast("int").as("version"))
      .orderBy("c_custkey")
  }

  def scd2UpsertOracle: String =
    """WITH upd AS (SELECT o_custkey AS u_custkey,
      |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS delta
      |  FROM orders WHERE o_orderpriority = '1-URGENT' GROUP BY 1)
      |SELECT COALESCE(c.c_custkey, u.u_custkey) AS c_custkey,
      |  COALESCE(c.c_name, '(new)') AS c_name,
      |  round(COALESCE(c.c_acctbal, CAST(0 AS DOUBLE)) +
      |        COALESCE(u.delta, CAST(0 AS DOUBLE)), 2) AS acctbal_new,
      |  CASE WHEN u.u_custkey IS NULL THEN 'keep'
      |       WHEN c.c_custkey IS NULL THEN 'insert' ELSE 'update' END AS action,
      |  CAST(CASE WHEN u.u_custkey IS NULL THEN 1 ELSE 2 END AS INTEGER) AS version
      |FROM customer c FULL OUTER JOIN upd u ON c.c_custkey = u.u_custkey
      |ORDER BY c_custkey""".stripMargin

  /** Welch's two-sample t-test: does urgent-priority spend differ from
    * the rest? The A/B-test workhorse, computed the only way that
    * scales: per-arm (n, Σx, Σx²) as exact decimal sufficient
    * statistics in ONE map-side-partial aggregation over the scan,
    * then t and the Welch–Satterthwaite df as pure IEEE arithmetic on
    * those exact inputs — bit-identical at any parallelism, no
    * per-row second pass, no driver collect. (p-values need the
    * t CDF, which neither engine exposes deterministically — the
    * statistic + df ARE the portable result.) */
  def ttestUrgentSpend(spark: SparkSession, dir: String): DataFrame = {
    def dsum4(c: Column): Column =
      sum(c.cast(DecimalType(30, 4))).cast("double")
    val arms = Tables.orders(spark, dir)
      .select(when(col("o_orderpriority") === "1-URGENT", "urgent")
        .otherwise("rest").as("arm"), col("o_totalprice").as("x"))
      .groupBy("arm")
      .agg(count(lit(1)).cast("double").as("n"),
        dsum2(col("x")).as("s1"), dsum4(col("x") * col("x")).as("s2"))
      .select(col("arm"), col("n"),
        (col("s1") / col("n")).as("mean"),
        ((col("s2") - col("s1") * col("s1") / col("n")) / (col("n") - 1))
          .as("variance"))
    val a = arms.filter(col("arm") === "urgent")
      .select(col("n").as("na"), col("mean").as("ma"), col("variance").as("va"))
    val b = arms.filter(col("arm") === "rest")
      .select(col("n").as("nb"), col("mean").as("mb"), col("variance").as("vb"))
    a.crossJoin(broadcast(b))
      .select(
        col("na").cast("long").as("n_urgent"), round(col("ma"), 6).as("mean_urgent"),
        col("nb").cast("long").as("n_rest"), round(col("mb"), 6).as("mean_rest"),
        round((col("ma") - col("mb")) /
          sqrt(col("va") / col("na") + col("vb") / col("nb")), 6).as("t_stat"),
        round(pow(col("va") / col("na") + col("vb") / col("nb"), 2) /
          (pow(col("va") / col("na"), 2) / (col("na") - 1) +
            pow(col("vb") / col("nb"), 2) / (col("nb") - 1)), 6).as("welch_df"))
  }

  def ttestUrgentSpendOracle: String =
    """WITH arms AS (SELECT
      |    CASE WHEN o_orderpriority = '1-URGENT' THEN 'urgent' ELSE 'rest'
      |      END AS arm,
      |    CAST(COUNT(*) AS DOUBLE) AS n,
      |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS s1,
      |    CAST(SUM(CAST(o_totalprice*o_totalprice AS DECIMAL(30,4))) AS DOUBLE)
      |      AS s2
      |  FROM orders GROUP BY 1),
      |m AS (SELECT arm, n, s1 / n AS mean,
      |    (s2 - s1 * s1 / n) / (n - 1) AS variance FROM arms),
      |a AS (SELECT n AS na, mean AS ma, variance AS va FROM m
      |      WHERE arm = 'urgent'),
      |b AS (SELECT n AS nb, mean AS mb, variance AS vb FROM m
      |      WHERE arm = 'rest')
      |SELECT CAST(na AS BIGINT) AS n_urgent, round(ma, 6) AS mean_urgent,
      |  CAST(nb AS BIGINT) AS n_rest, round(mb, 6) AS mean_rest,
      |  round((ma - mb) / sqrt(va / na + vb / nb), 6) AS t_stat,
      |  round(pow(va / na + vb / nb, 2) /
      |    (pow(va / na, 2) / (na - 1) + pow(vb / nb, 2) / (nb - 1)), 6)
      |    AS welch_df
      |FROM a, b""".stripMargin

  /** Sample-ratio-mismatch check — the experimentation-platform
    * tripwire that runs BEFORE any effect estimate is trusted: units
    * (customers) are hash-assigned to two arms by the engine-neutral
    * md5-prefix convention (the [[graft.operators.SkewJoin]] /
    * table-checksum idiom — deterministic, engine-mirrorable, no
    * rand()), observed arm counts are compared to the designed 50/50
    * split by the chi-square goodness-of-fit statistic (df=1 it
    * reduces to (n_a−n_b)²/n), and the flag trips at the industry
    * alarm threshold χ² > 10.828 (p < 0.001 — SRM checks run at
    * extreme significance because a true mismatch means the
    * ASSIGNMENT is broken and every downstream estimate is garbage).
    * One scan, one map-side-partial aggregate to a single row —
    * wordcount-shaped at any scale. */
  def srmCheck(spark: SparkSession, dir: String): DataFrame = {
    val armA = (conv(substring(md5(col("c_custkey").cast("string")), 1, 8),
      16, 10).cast("long") % 2) === 0
    Tables.customer(spark, dir)
      .agg(count(lit(1)).as("n_total"),
        sum(when(armA, 1L).otherwise(0L)).as("n_a"))
      .select(col("n_total"), col("n_a"),
        (col("n_total") - col("n_a")).as("n_b"),
        round(pow(col("n_a") - (col("n_total") - col("n_a")), 2)
          / col("n_total").cast("double"), 6).as("chi2"),
        (pow(col("n_a") - (col("n_total") - col("n_a")), 2)
          / col("n_total").cast("double") > 10.828).as("srm_detected"))
  }

  def srmCheckOracle: String =
    """WITH a AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_total,
      |    CAST(SUM(CASE WHEN CAST(concat('0x',
      |        substr(md5(CAST(c_custkey AS VARCHAR)), 1, 8)) AS BIGINT)
      |        % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a
      |  FROM customer)
      |SELECT n_total, n_a, n_total - n_a AS n_b,
      |  round(pow(n_a - (n_total - n_a), 2) / CAST(n_total AS DOUBLE), 6)
      |    AS chi2,
      |  pow(n_a - (n_total - n_a), 2) / CAST(n_total AS DOUBLE) > 10.828
      |    AS srm_detected
      |FROM a""".stripMargin

  /** Analytic power/MDE readout for the urgent-vs-rest experiment
    * frame — "how small an effect could this design even see": with
    * the per-arm (n, s²) sufficient statistics [[ttestUrgentSpend]]
    * already computes, the minimum detectable effect at α = 0.05
    * (two-sided) and power 0.80 is (z_{α/2} + z_{β})·SE =
    * 2.8016·√(s²_a/n_a + s²_b/n_b) — the pre-registration number an
    * experiment review asks for before launch, and the denominator of
    * "is this test even worth running". The z constants are pinned
    * literals (neither engine exposes a deterministic normal
    * quantile); everything else is IEEE arithmetic on exact decimal
    * sums. Same one-scan wordcount shape as the t-test. */
  def powerMde(spark: SparkSession, dir: String): DataFrame = {
    def dsum4(c: Column): Column =
      sum(c.cast(DecimalType(30, 4))).cast("double")
    val arms = Tables.orders(spark, dir)
      .select(when(col("o_orderpriority") === "1-URGENT", "urgent")
        .otherwise("rest").as("arm"), col("o_totalprice").as("x"))
      .groupBy("arm")
      .agg(count(lit(1)).cast("double").as("n"),
        dsum2(col("x")).as("s1"), dsum4(col("x") * col("x")).as("s2"))
      .select(col("arm"), col("n"), (col("s1") / col("n")).as("mean"),
        ((col("s2") - col("s1") * col("s1") / col("n")) / (col("n") - 1))
          .as("variance"))
    val a = arms.filter(col("arm") === "urgent")
      .select(col("n").as("na"), col("variance").as("va"))
    val b = arms.filter(col("arm") === "rest")
      .select(col("n").as("nb"), col("mean").as("mb"), col("variance").as("vb"))
    a.crossJoin(broadcast(b))
      .select(col("na").cast("long").as("n_urgent"),
        col("nb").cast("long").as("n_rest"),
        round(sqrt(col("va") / col("na") + col("vb") / col("nb")), 6).as("se"),
        round(lit(2.8016) * sqrt(col("va") / col("na") + col("vb") / col("nb")), 6)
          .as("mde_abs"),
        round(lit(2.8016) * sqrt(col("va") / col("na") + col("vb") / col("nb"))
          / col("mb"), 6).as("mde_rel"))
  }

  def powerMdeOracle: String =
    """WITH arms AS (SELECT
      |    CASE WHEN o_orderpriority = '1-URGENT' THEN 'urgent' ELSE 'rest'
      |      END AS arm,
      |    CAST(COUNT(*) AS DOUBLE) AS n,
      |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS s1,
      |    CAST(SUM(CAST(o_totalprice*o_totalprice AS DECIMAL(30,4))) AS DOUBLE)
      |      AS s2
      |  FROM orders GROUP BY 1),
      |m AS (SELECT arm, n, s1 / n AS mean,
      |    (s2 - s1 * s1 / n) / (n - 1) AS variance FROM arms),
      |a AS (SELECT n AS na, variance AS va FROM m WHERE arm = 'urgent'),
      |b AS (SELECT n AS nb, mean AS mb, variance AS vb FROM m
      |      WHERE arm = 'rest')
      |SELECT CAST(na AS BIGINT) AS n_urgent, CAST(nb AS BIGINT) AS n_rest,
      |  round(sqrt(va / na + vb / nb), 6) AS se,
      |  round(2.8016 * sqrt(va / na + vb / nb), 6) AS mde_abs,
      |  round(2.8016 * sqrt(va / na + vb / nb) / mb, 6) AS mde_rel
      |FROM a, b""".stripMargin

  /** Difference-in-differences estimate of a segment's spend shift —
    * the workhorse causal-analytics 2×2: treated = customers in the
    * BUILDING market segment, post = orders from 1996 on, outcome =
    * order value. DiD = (T,post − T,pre) − (C,post − C,pre) nets out
    * both the segment's level difference and the common time trend —
    * what a naive post-mean comparison cannot do. One fact scan to
    * FOUR sufficient-statistic cells (count/sum/sum-of-squares ride
    * exact decimals, map-side partials — the [[ttestUrgentSpend]]
    * idiom), so the estimator costs a wordcount at any scale; the
    * large-sample SE is √Σ s²_cell/n_cell over the 4-row frame.
    * Output: the four cells, each row carrying the shared estimate /
    * SE / t (the kruskal broadcast-stats convention). */
  def didSegmentSpend(spark: SparkSession, dir: String): DataFrame = {
    def dsum4(c: Column): Column =
      sum(c.cast(DecimalType(30, 4))).cast("double")
    val cells = Tables.orders(spark, dir)
      .join(broadcast(Tables.customer(spark, dir)
        .select(col("c_custkey"), col("c_mktsegment"))),
        col("o_custkey") === col("c_custkey"))
      .select(
        when(col("c_mktsegment") === "BUILDING", "treated")
          .otherwise("control").as("grp"),
        when(col("o_orderdate") >= lit("1996-01-01").cast("timestamp"),
          "post").otherwise("pre").as("period"),
        col("o_totalprice").as("x"))
      .groupBy("grp", "period")
      .agg(count(lit(1)).cast("double").as("n"),
        dsum2(col("x")).as("s1"), dsum4(col("x") * col("x")).as("s2"))
      .select(col("grp"), col("period"), col("n"),
        (col("s1") / col("n")).as("mean"),
        ((col("s2") - col("s1") * col("s1") / col("n")) / (col("n") - 1))
          .as("variance"))
      .localCheckpoint() // 4 rows; the pivot and the report both read it
    val wide = cells.groupBy(lit(1).as("one"))
      .agg(
        max(when(col("grp") === "treated" && col("period") === "post",
          col("mean"))).as("mtp"),
        max(when(col("grp") === "treated" && col("period") === "pre",
          col("mean"))).as("mtr"),
        max(when(col("grp") === "control" && col("period") === "post",
          col("mean"))).as("mcp"),
        max(when(col("grp") === "control" && col("period") === "pre",
          col("mean"))).as("mcr"),
        sum(round(col("variance") / col("n"), 6).cast(DecimalType(28, 10)))
          .cast("double").as("varsum"))
      .select(
        round((col("mtp") - col("mtr")) - (col("mcp") - col("mcr")), 6)
          .as("did_estimate"),
        round(sqrt(col("varsum")), 6).as("se_did"))
      .withColumn("t_stat",
        round(col("did_estimate") / col("se_did"), 6))
    cells.crossJoin(broadcast(wide))
      .select(col("grp"), col("period"), col("n").cast("long").as("n_orders"),
        round(col("mean"), 6).as("mean_spend"),
        col("did_estimate"), col("se_did"), col("t_stat"))
      .orderBy("grp", "period")
  }

  def didSegmentSpendOracle: String =
    """WITH cells AS (SELECT
      |    CASE WHEN c.c_mktsegment = 'BUILDING' THEN 'treated'
      |      ELSE 'control' END AS grp,
      |    CASE WHEN o.o_orderdate >= TIMESTAMP '1996-01-01' THEN 'post'
      |      ELSE 'pre' END AS period,
      |    CAST(COUNT(*) AS DOUBLE) AS n,
      |    CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS s1,
      |    CAST(SUM(CAST(o.o_totalprice*o.o_totalprice AS DECIMAL(30,4)))
      |      AS DOUBLE) AS s2
      |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      |  GROUP BY 1, 2),
      |m AS (SELECT grp, period, n, s1 / n AS mean,
      |    (s2 - s1 * s1 / n) / (n - 1) AS variance FROM cells),
      |wide AS (SELECT
      |    round((MAX(CASE WHEN grp='treated' AND period='post' THEN mean END)
      |      - MAX(CASE WHEN grp='treated' AND period='pre' THEN mean END))
      |      - (MAX(CASE WHEN grp='control' AND period='post' THEN mean END)
      |      - MAX(CASE WHEN grp='control' AND period='pre' THEN mean END)), 6)
      |      AS did_estimate,
      |    round(sqrt(CAST(SUM(CAST(round(variance / n, 6)
      |      AS DECIMAL(28,10))) AS DOUBLE)), 6) AS se_did
      |  FROM m)
      |SELECT m.grp, m.period, CAST(m.n AS BIGINT) AS n_orders,
      |  round(m.mean, 6) AS mean_spend,
      |  wide.did_estimate, wide.se_did,
      |  round(wide.did_estimate / wide.se_did, 6) AS t_stat
      |FROM m, wide ORDER BY m.grp, m.period""".stripMargin

  /** CUPED variance reduction for the segment experiment — the third
    * member of the experimentation family (t-test → DiD → CUPED): use
    * each unit's PRE-period spend X as a control covariate for its
    * post-period metric Y, Ỹ = Y − θ(X − X̄) with θ = cov(X,Y)/var(X)
    * (Deng et al. 2013). E[Ỹ] = E[Y] per arm (θ and X̄ are GLOBAL, so
    * the adjustment is mean-preserving under randomization) while
    * var(Ỹ) = var(Y)(1 − ρ²) — the shrinkage every experimentation
    * platform applies before the t-test, here measured honestly via
    * the per-arm variance-reduction column and both standard errors.
    *
    * Scale shape: one fact scan to per-UNIT (customer) pre/post sums
    * (map-side partials, |customers| rows), the θ/X̄ stats as one
    * decimal-summed aggregate over that frame, the adjusted metric as
    * a projection against the broadcast 1-row stats — two bounded
    * aggregations after the unit collapse, never a second fact pass.
    * Adjusted values are rounded (6) before the second moment pass so
    * both engines square identical doubles. */
  def cupedSegmentSpend(spark: SparkSession, dir: String): DataFrame = {
    def dsumU(c: Column): Column =
      sum(c.cast(DecimalType(30, 6))).cast("double")
    val cut = lit("1996-01-01").cast("timestamp")
    val units = Tables.orders(spark, dir)
      .groupBy(col("o_custkey"))
      .agg(
        coalesce(sum(when(col("o_orderdate") < cut, col("o_totalprice"))
          .cast(DecimalType(18, 2))).cast("double"), lit(0.0)).as("x"),
        coalesce(sum(when(col("o_orderdate") >= cut, col("o_totalprice"))
          .cast(DecimalType(18, 2))).cast("double"), lit(0.0)).as("y"))
      .join(broadcast(Tables.customer(spark, dir)
        .select(col("c_custkey"), when(col("c_mktsegment") === "BUILDING",
          "treated").otherwise("control").as("arm"))),
        col("o_custkey") === col("c_custkey"))
      .select("arm", "x", "y")
      .localCheckpoint() // |customers| rows; stats + adjusted pass read it
    val stats = units.agg(count(lit(1)).cast("double").as("n"),
        dsumU(col("x")).as("sx"), dsumU(col("y")).as("sy"),
        dsumU(col("x") * col("x")).as("sxx"),
        dsumU(col("x") * col("y")).as("sxy"))
      .select(round(col("sx") / col("n"), 6).as("xbar"),
        round((col("sxy") - col("sx") * col("sy") / col("n")) /
          (col("sxx") - col("sx") * col("sx") / col("n")), 9).as("theta"))
    val adj = units.crossJoin(broadcast(stats))
      .select(col("arm"), col("y"),
        round(col("y") - col("theta") * (col("x") - col("xbar")), 6).as("ya"))
    val arms = adj.groupBy("arm")
      .agg(count(lit(1)).cast("double").as("n"),
        dsumU(col("y")).as("s1"), dsumU(col("y") * col("y")).as("s2"),
        dsumU(col("ya")).as("a1"), dsumU(col("ya") * col("ya")).as("a2"))
      .select(col("arm"), col("n"),
        (col("s1") / col("n")).as("my"),
        ((col("s2") - col("s1") * col("s1") / col("n")) / (col("n") - 1))
          .as("vy"),
        (col("a1") / col("n")).as("ma"),
        ((col("a2") - col("a1") * col("a1") / col("n")) / (col("n") - 1))
          .as("va"))
      .transform(graft.BoundedCheckpoint(_, 4)) // 2 arms, count-asserted
    val t = arms.filter(col("arm") === "treated")
      .select(col("n").as("nt"), col("my").as("myt"), col("vy").as("vyt"),
        col("ma").as("mat"), col("va").as("vat"))
    val c = arms.filter(col("arm") === "control")
      .select(col("n").as("nc"), col("my").as("myc"), col("vy").as("vyc"),
        col("ma").as("mac"), col("va").as("vac"))
    val est = t.crossJoin(broadcast(c))
      .select(
        round(col("mat") - col("mac"), 6).as("adj_diff"),
        round(sqrt(col("vat") / col("nt") + col("vac") / col("nc")), 6)
          .as("se_adj"),
        round(sqrt(col("vyt") / col("nt") + col("vyc") / col("nc")), 6)
          .as("se_unadj"))
    arms.crossJoin(broadcast(est))
      .select(col("arm"), col("n").cast("long").as("n_units"),
        round(col("my"), 6).as("mean_y"),
        round(col("ma"), 6).as("mean_y_adj"),
        round(lit(1.0) - col("va") / col("vy"), 6).as("var_reduction"),
        col("adj_diff"), col("se_adj"), col("se_unadj"))
      .orderBy("arm")
  }

  def cupedSegmentSpendOracle: String =
    """WITH units AS (SELECT o.o_custkey,
      |    COALESCE(CAST(SUM(CASE WHEN o.o_orderdate < TIMESTAMP '1996-01-01'
      |      THEN CAST(o.o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE), 0.0)
      |      AS x,
      |    COALESCE(CAST(SUM(CASE WHEN o.o_orderdate >= TIMESTAMP '1996-01-01'
      |      THEN CAST(o.o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE), 0.0)
      |      AS y
      |  FROM orders o GROUP BY 1),
      |u AS (SELECT CASE WHEN c.c_mktsegment = 'BUILDING' THEN 'treated'
      |    ELSE 'control' END AS arm, units.x, units.y
      |  FROM units JOIN customer c ON units.o_custkey = c.c_custkey),
      |st AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n,
      |    CAST(SUM(CAST(x AS DECIMAL(30,6))) AS DOUBLE) AS sx,
      |    CAST(SUM(CAST(y AS DECIMAL(30,6))) AS DOUBLE) AS sy,
      |    CAST(SUM(CAST(x*x AS DECIMAL(30,6))) AS DOUBLE) AS sxx,
      |    CAST(SUM(CAST(x*y AS DECIMAL(30,6))) AS DOUBLE) AS sxy
      |  FROM u),
      |th AS (SELECT round(sx / n, 6) AS xbar,
      |    round((sxy - sx * sy / n) / (sxx - sx * sx / n), 9) AS theta
      |  FROM st),
      |adj AS (SELECT arm, y,
      |    round(y - th.theta * (x - th.xbar), 6) AS ya FROM u, th),
      |arms AS (SELECT arm, CAST(COUNT(*) AS DOUBLE) AS n,
      |    CAST(SUM(CAST(y AS DECIMAL(30,6))) AS DOUBLE) AS s1,
      |    CAST(SUM(CAST(y*y AS DECIMAL(30,6))) AS DOUBLE) AS s2,
      |    CAST(SUM(CAST(ya AS DECIMAL(30,6))) AS DOUBLE) AS a1,
      |    CAST(SUM(CAST(ya*ya AS DECIMAL(30,6))) AS DOUBLE) AS a2
      |  FROM adj GROUP BY 1),
      |m AS (SELECT arm, n, s1 / n AS my,
      |    (s2 - s1 * s1 / n) / (n - 1) AS vy,
      |    a1 / n AS ma, (a2 - a1 * a1 / n) / (n - 1) AS va FROM arms),
      |t AS (SELECT n AS nt, ma AS mat, va AS vat, vy AS vyt FROM m
      |      WHERE arm = 'treated'),
      |c AS (SELECT n AS nc, ma AS mac, va AS vac, vy AS vyc FROM m
      |      WHERE arm = 'control'),
      |est AS (SELECT round(t.mat - c.mac, 6) AS adj_diff,
      |    round(sqrt(t.vat / t.nt + c.vac / c.nc), 6) AS se_adj,
      |    round(sqrt(t.vyt / t.nt + c.vyc / c.nc), 6) AS se_unadj
      |  FROM t, c)
      |SELECT m.arm, CAST(m.n AS BIGINT) AS n_units,
      |  round(m.my, 6) AS mean_y, round(m.ma, 6) AS mean_y_adj,
      |  round(CAST(1 AS DOUBLE) - m.va / m.vy, 6) AS var_reduction,
      |  est.adj_diff, est.se_adj, est.se_unadj
      |FROM m, est ORDER BY m.arm""".stripMargin

  /** k-anonymity audit of the customer table under the quasi-identifier
    * (nation, market segment, account-balance band): the group-size
    * histogram privacy review runs before releasing training data
    * derived from user records. One hash aggregation to group sizes
    * (map-side partials), a second vocabulary-sized one to the
    * histogram; re-identifiable rows = groups of size < k. */
  def kAnonymityAudit(spark: SparkSession, dir: String): DataFrame =
    Tables.customer(spark, dir)
      .groupBy(col("c_nationkey"), col("c_mktsegment"),
        floor(col("c_acctbal") / 1000).as("bal_band"))
      .agg(count(lit(1)).as("group_size"))
      .groupBy("group_size")
      .agg(count(lit(1)).as("n_groups"),
        (count(lit(1)) * col("group_size")).as("n_rows"))
      .select(col("group_size"), col("n_groups"), col("n_rows"),
        (col("group_size") < 5).as("reidentifiable_at_k5"))
      .orderBy("group_size")

  def kAnonymityAuditOracle: String =
    """WITH g AS (SELECT c_nationkey, c_mktsegment,
      |    floor(c_acctbal / 1000) AS bal_band,
      |    CAST(COUNT(*) AS BIGINT) AS group_size
      |  FROM customer GROUP BY 1, 2, 3)
      |SELECT group_size, CAST(COUNT(*) AS BIGINT) AS n_groups,
      |  CAST(COUNT(*) * group_size AS BIGINT) AS n_rows,
      |  group_size < 5 AS reidentifiable_at_k5
      |FROM g GROUP BY group_size ORDER BY group_size""".stripMargin

  /** Anonymity threshold for the generalization ladder. */
  val GeneralizeK = 5

  /** k-anonymity GENERALIZATION — the fix the audits gate toward:
    * for every finest-level QI group, the first rung of a fixed
    * generalization ladder at which its generalized group reaches
    * k = [[GeneralizeK]], plus the group size actually released at
    * that rung. The ladder coarsens one attribute at a time (the
    * practical domain-hierarchy scheme; full Mondrian is a
    * partitioner, this is the release policy):
    *
    *   L0 (nation, segment, $1k balance band)   — finest
    *   L1 (nation, segment, $5k balance band)
    *   L2 (nation, segment)                     — balance suppressed
    *   L3 (nation)                              — segment suppressed
    *   L4 (∗)                                   — fully suppressed
    *
    * Scale shape: ONE input-sized hash aggregation to L0 cells; every
    * coarser rung re-aggregates the BOUNDED cell frame (L1's band is
    * floor(band0 / 5) — nested-floor identity, so no second table
    * scan), and the rung sizes broadcast back onto the cells. The
    * output answers, per cell, "publish at which resolution" — the
    * per-partition decision a release pipeline executes directly. */
  def kGeneralizationLadder(spark: SparkSession, dir: String): DataFrame = {
    val k = GeneralizeK
    val cells = Tables.customer(spark, dir)
      .groupBy(col("c_nationkey"), col("c_mktsegment"),
        floor(col("c_acctbal") / 1000).as("bal_band"))
      .agg(count(lit(1)).as("n0"))
      // |QI| ≤ 25 nations × 5 segments × 11 acctbal bands (TPC-H fixes
      // the acctbal domain) — count-asserted
      .transform(graft.BoundedCheckpoint(_, 4096))
    val l1 = cells.groupBy(col("c_nationkey"), col("c_mktsegment"),
        floor(col("bal_band") / 5).as("band5"))
      .agg(sum(col("n0")).as("n1"))
    val l2 = cells.groupBy(col("c_nationkey"), col("c_mktsegment"))
      .agg(sum(col("n0")).as("n2"))
    val l3 = cells.groupBy(col("c_nationkey")).agg(sum(col("n0")).as("n3"))
    val l4 = cells.agg(sum(col("n0")).as("n4"))
    cells
      .withColumn("band5", floor(col("bal_band") / 5))
      .join(broadcast(l1), Seq("c_nationkey", "c_mktsegment", "band5"))
      .join(broadcast(l2), Seq("c_nationkey", "c_mktsegment"))
      .join(broadcast(l3), Seq("c_nationkey"))
      .crossJoin(broadcast(l4))
      .select(col("c_nationkey"), col("c_mktsegment"), col("bal_band"),
        col("n0").as("group_size"),
        when(col("n0") >= k, 0L).when(col("n1") >= k, 1L)
          .when(col("n2") >= k, 2L).when(col("n3") >= k, 3L)
          .otherwise(4L).as("release_level"),
        when(col("n0") >= k, col("n0")).when(col("n1") >= k, col("n1"))
          .when(col("n2") >= k, col("n2")).when(col("n3") >= k, col("n3"))
          .otherwise(col("n4")).as("released_size"))
      .orderBy("c_nationkey", "c_mktsegment", "bal_band")
  }

  def kGeneralizationLadderOracle: String = {
    val k = GeneralizeK
    s"""WITH cells AS (SELECT c_nationkey, c_mktsegment,
       |    floor(c_acctbal / 1000) AS bal_band,
       |    CAST(COUNT(*) AS BIGINT) AS n0
       |  FROM customer GROUP BY 1, 2, 3),
       |l1 AS (SELECT c_nationkey, c_mktsegment,
       |    floor(bal_band / 5) AS band5, CAST(SUM(n0) AS BIGINT) AS n1
       |  FROM cells GROUP BY 1, 2, 3),
       |l2 AS (SELECT c_nationkey, c_mktsegment,
       |    CAST(SUM(n0) AS BIGINT) AS n2 FROM cells GROUP BY 1, 2),
       |l3 AS (SELECT c_nationkey, CAST(SUM(n0) AS BIGINT) AS n3
       |  FROM cells GROUP BY 1),
       |l4 AS (SELECT CAST(SUM(n0) AS BIGINT) AS n4 FROM cells)
       |SELECT c.c_nationkey, c.c_mktsegment,
       |  CAST(c.bal_band AS BIGINT) AS bal_band,
       |  c.n0 AS group_size,
       |  CAST(CASE WHEN c.n0 >= $k THEN 0 WHEN l1.n1 >= $k THEN 1
       |       WHEN l2.n2 >= $k THEN 2 WHEN l3.n3 >= $k THEN 3
       |       ELSE 4 END AS BIGINT) AS release_level,
       |  CASE WHEN c.n0 >= $k THEN c.n0 WHEN l1.n1 >= $k THEN l1.n1
       |       WHEN l2.n2 >= $k THEN l2.n2 WHEN l3.n3 >= $k THEN l3.n3
       |       ELSE l4.n4 END AS released_size
       |FROM cells c
       |JOIN l1 ON l1.c_nationkey = c.c_nationkey
       |  AND l1.c_mktsegment = c.c_mktsegment
       |  AND l1.band5 = floor(c.bal_band / 5)
       |JOIN l2 ON l2.c_nationkey = c.c_nationkey
       |  AND l2.c_mktsegment = c.c_mktsegment
       |JOIN l3 ON l3.c_nationkey = c.c_nationkey
       |CROSS JOIN l4
       |ORDER BY c.c_nationkey, c.c_mktsegment, c.bal_band""".stripMargin
  }

  /** Release noise scale: ε = 1 with sensitivity-1 counts → Laplace
    * b = 1. */
  val DpEpsilon = 1.0

  /** Differentially-private count release — the MECHANISM the privacy
    * ladder ([[kAnonymityAudit]] → [[lDiversityAudit]] →
    * [[tClosenessAudit]]) gates toward: per-nation customer counts
    * with Laplace(b = 1/ε) noise via inverse-CDF sampling, plus the
    * per-cell absolute noise so the release's utility is itself
    * auditable. One sensitivity-1 hash aggregation (map-side
    * partials), then a pure projection — the noise costs nothing at
    * any scale.
    *
    * Determinism caveat, stated loudly: the uniform draw is a salted
    * md5 of the cell key, so the mechanism is REPRODUCIBLE — which is
    * what lets two engines verify the release bit-for-bit, and what a
    * production release must NOT do (a deterministic draw is not DP;
    * swap the hash for real entropy at release time — the plan is
    * identical). The (h+0.5)/2³² uniform is bounded away from 0 and 1
    * by construction, so ln(1−2|u−½|) never sees 0; the ln rounds to
    * 9 before use (libm-parity discipline, see header). */
  def dpReleaseCounts(spark: SparkSession, dir: String): DataFrame = {
    val h = conv(substring(md5(concat(lit("graft-dp-v1:"),
      col("c_nationkey").cast("string"))), 1, 8), 16, 10).cast("long")
    val u = (h.cast("double") + 0.5) / 4294967296.0
    val lap = -signum(u - 0.5) *
      round(log(lit(1.0) - lit(2.0) * abs(u - 0.5)), 9) / DpEpsilon
    Tables.customer(spark, dir)
      .groupBy(col("c_nationkey"))
      .agg(count(lit(1)).as("true_count"))
      .select(col("c_nationkey"), col("true_count"),
        round(col("true_count") + lap, 6).as("noised_count"),
        round(abs(lap), 6).as("abs_noise"))
      .orderBy("c_nationkey")
  }

  def dpReleaseCountsOracle: String =
    s"""WITH g AS (SELECT c_nationkey, CAST(COUNT(*) AS BIGINT) AS true_count
       |  FROM customer GROUP BY 1),
       |n AS (SELECT c_nationkey, true_count,
       |    (CAST(CAST(concat('0x', substr(md5('graft-dp-v1:' ||
       |        CAST(c_nationkey AS VARCHAR)), 1, 8)) AS BIGINT) AS DOUBLE)
       |      + 0.5) / 4294967296.0 AS u
       |  FROM g),
       |l AS (SELECT c_nationkey, true_count,
       |    -sign(u - 0.5) * round(ln(1.0 - 2.0 * abs(u - 0.5)), 9)
       |      / $DpEpsilon AS lap
       |  FROM n)
       |SELECT c_nationkey, true_count,
       |  round(true_count + lap, 6) AS noised_count,
       |  round(abs(lap), 6) AS abs_noise
       |FROM l ORDER BY c_nationkey""".stripMargin

  /** Deletion-list selection rate: ~2% of customers carry a pending
    * erasure request in the fixture stand-in. */
  val ForgetThreshold: Long = (0.02 * 4294967296L).toLong

  /** Right-to-be-forgotten purge audit: how many rows each table
    * loses when a deletion request set is applied, cascaded through
    * the schema (customer → their orders → those orders' line items),
    * with before/purged/after per table — the compliance artifact a
    * deletion run must produce. The request set is a PURE FUNCTION of
    * the customer key (salted-hash selection, the [[graft.ext
    * .Sampling]] discipline): customer and orders purge with NO
    * membership join at all (the selector is a projection on their
    * own key column), and only lineitem — which doesn't carry the
    * customer key — pays a join, a co-partitioned LEFT SEMI against
    * the selected orders' keys. At 100 TB that is the minimum
    * possible motion: one keyed semi join for the one table the key
    * doesn't reach. Output: 3 rows, (table, rows_before, rows_purged,
    * rows_after). */
  def tombstonePurgeAudit(spark: SparkSession, dir: String): DataFrame = {
    def selected(key: Column): Column =
      conv(substring(md5(concat(lit("graft-forget-v1:"),
        key.cast("string"))), 1, 8), 16, 10).cast("long") < ForgetThreshold
    def report(df: DataFrame, table: String, sel: Column): DataFrame =
      df.agg(count(lit(1)).as("rows_before"),
          sum(when(sel, 1L).otherwise(0L)).as("rows_purged"))
        .select(lit(table).as("table_name"), col("rows_before"),
          col("rows_purged"),
          (col("rows_before") - col("rows_purged")).as("rows_after"))
    val cust = report(Tables.customer(spark, dir), "customer",
      selected(col("c_custkey")))
    val ord = report(Tables.orders(spark, dir), "orders",
      selected(col("o_custkey")))
    // one pass: LEFT join against the UNIQUE selected order keys (1:1,
    // never row-multiplying) counts before and purged together
    val selOrders = Tables.orders(spark, dir)
      .filter(selected(col("o_custkey"))).select(col("o_orderkey"))
    val li = Tables.lineitem(spark, dir).select(col("l_orderkey"))
      .join(selOrders, col("l_orderkey") === col("o_orderkey"), "left")
      .agg(count(lit(1)).as("rows_before"),
        count(col("o_orderkey")).as("rows_purged"))
      .select(lit("lineitem").as("table_name"), col("rows_before"),
        col("rows_purged"),
        (col("rows_before") - col("rows_purged")).as("rows_after"))
    cust.unionByName(ord).unionByName(li).orderBy("table_name")
  }

  def tombstonePurgeAuditOracle: String = {
    def selSql(key: String): String =
      s"""CAST(concat('0x', substr(md5('graft-forget-v1:' ||
         |      CAST($key AS VARCHAR)), 1, 8)) AS BIGINT) < $ForgetThreshold"""
        .stripMargin
    s"""WITH c AS (SELECT 'customer' AS table_name,
       |    CAST(COUNT(*) AS BIGINT) AS rows_before,
       |    CAST(SUM(CASE WHEN ${selSql("c_custkey")} THEN 1 ELSE 0 END)
       |      AS BIGINT) AS rows_purged
       |  FROM customer),
       |o AS (SELECT 'orders' AS table_name,
       |    CAST(COUNT(*) AS BIGINT) AS rows_before,
       |    CAST(SUM(CASE WHEN ${selSql("o_custkey")} THEN 1 ELSE 0 END)
       |      AS BIGINT) AS rows_purged
       |  FROM orders),
       |l AS (SELECT 'lineitem' AS table_name,
       |    (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem) AS rows_before,
       |    (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem
       |     WHERE l_orderkey IN (SELECT o_orderkey FROM orders
       |                          WHERE ${selSql("o_custkey")})) AS rows_purged),
       |u AS (SELECT * FROM c UNION ALL SELECT * FROM o
       |      UNION ALL SELECT * FROM l)
       |SELECT table_name, rows_before, rows_purged,
       |  rows_before - rows_purged AS rows_after
       |FROM u ORDER BY table_name""".stripMargin
  }

  /** Revenue concentration (Pareto) profile: customers ranked by
    * lifetime spend, cut into deciles, each decile reporting its
    * revenue share and the running cumulative share — "the top 10%
    * of customers carry X% of revenue", the concentration read
    * behind every retention budget. The input-sized work is ONE
    * hash aggregate to per-customer spend; the global rank over the
    * customer frame comes from a range-repartitioned sort +
    * zipWithIndex (the [[Layout.zorderLineitem]] rank discipline —
    * no single-partition window), and deciles collapse it straight
    * back to ten rows. Row-count decile semantics
    * (⌊10·(rank−1)/n⌋) with a (spend desc, custkey) total order,
    * so both engines cut identical boundaries regardless of ties. */
  /** Pseudonym salt. Production replaces this static salt with a
    * keyed MAC (HMAC) whose secret lives in a KMS: the PLAN is
    * identical (one projection), and rotating the key re-keys every
    * pseudonym in one pass — the same verification-only stance as
    * [[dpReleaseCounts]]' hash-seeded Laplace draw, documented loudly
    * for the same reason. */
  val PseudoSalt = "graft-pseudo-v1"

  /** Keyed pseudonymization — the privacy ladder's TRANSFORM rung for
    * direct identifiers, where generalization
    * ([[kGeneralizationLadder]]) handles quasi-identifiers and
    * [[tombstonePurgeAudit]] handles erasure: the customer's name is
    * replaced by a salt-keyed stable token, the surrogate key is
    * retained so every foreign-key join still works, and the balance
    * collapses to the ladder's $1k band. Two audit columns make the
    * release defensible instead of assumed: `n_orders` (referential
    * integrity — the pseudonymized table still joins its fact table;
    * one co-partitioned aggregate+join, the only shuffle that isn't
    * the collision check) and `pseudo_collisions` (count of OTHER
    * customers sharing this token — 64 bits of md5 make it 0, and the
    * column proves it rather than asserting it). Stability matters
    * operationally: the same customer pseudonymizes identically
    * across tables and runs, so longitudinal analysis survives the
    * release; unlinkability across releases comes from rotating the
    * key. */
  def pseudonymizeCustomers(spark: SparkSession, dir: String): DataFrame = {
    val token = concat(lit("cust-"),
      substring(md5(concat(lit(PseudoSalt + ":"),
        col("c_custkey").cast("string"))), 1, 16))
    val c = Tables.customer(spark, dir)
      .select(col("c_custkey"), token.as("pseudonym"),
        col("c_nationkey").cast("long").as("c_nationkey"),
        col("c_mktsegment"),
        (floor(col("c_acctbal") / 1000.0) * 1000).cast("long").as("bal_band"))
    val n = Tables.orders(spark, dir)
      .groupBy(col("o_custkey").as("c_custkey"))
      .agg(count(lit(1)).as("n_orders"))
    val wp = Window.partitionBy("pseudonym")
    c.join(n, Seq("c_custkey"), "left")
      .withColumn("pseudo_collisions",
        (count(lit(1)).over(wp) - 1).cast("long"))
      .select(col("c_custkey"), col("pseudonym"), col("c_nationkey"),
        col("c_mktsegment"), col("bal_band"),
        coalesce(col("n_orders"), lit(0L)).as("n_orders"),
        col("pseudo_collisions"))
      .orderBy("c_custkey")
  }

  def pseudonymizeCustomersOracle: String =
    s"""WITH n AS (SELECT o_custkey AS c_custkey,
       |    CAST(COUNT(*) AS BIGINT) AS n_orders
       |  FROM orders GROUP BY 1),
       |p AS (SELECT c_custkey,
       |    'cust-' || substr(md5('$PseudoSalt:' ||
       |      CAST(c_custkey AS VARCHAR)), 1, 16) AS pseudonym,
       |    CAST(c_nationkey AS BIGINT) AS c_nationkey, c_mktsegment,
       |    CAST(FLOOR(c_acctbal / 1000.0) * 1000 AS BIGINT) AS bal_band
       |  FROM customer)
       |SELECT p.c_custkey, p.pseudonym, p.c_nationkey, p.c_mktsegment,
       |  p.bal_band, COALESCE(n.n_orders, 0) AS n_orders,
       |  CAST(COUNT(*) OVER (PARTITION BY p.pseudonym) - 1 AS BIGINT)
       |    AS pseudo_collisions
       |FROM p LEFT JOIN n USING (c_custkey)
       |ORDER BY p.c_custkey""".stripMargin

  def paretoRevenue(spark: SparkSession, dir: String): DataFrame = {
    val spend = Tables.orders(spark, dir)
      .groupBy(col("o_custkey"))
      .agg(dsum2(col("o_totalprice")).as("spend"))
    val n = spend.count()
    val sorted = spend.repartitionByRange(col("spend").desc, col("o_custkey"))
      .sortWithinPartitions(col("spend").desc, col("o_custkey"))
    val schema = sorted.schema.add("rk", "long")
    val ranked = spark.createDataFrame(
      sorted.rdd.zipWithIndex.map { case (r, i) =>
        org.apache.spark.sql.Row.fromSeq(r.toSeq :+ (i + 1L))
      }, schema)
    val deciles = ranked
      .select(col("spend"), (floor(lit(10L) * (col("rk") - 1L) / lit(n.toDouble)) + 1L)
        .cast("long").as("decile"))
      .groupBy("decile")
      .agg(count(lit(1)).as("n_customers"),
        sum(col("spend").cast(DecimalType(18, 2))).as("rev"))
    val total = deciles.agg(sum(col("rev")).as("tot"))
    val wCum = graft.BoundedWindow.orderBy(col("decile"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    deciles.crossJoin(broadcast(total))
      .select(col("decile"), col("n_customers"),
        col("rev").cast("double").as("revenue"),
        round(col("rev").cast("double") / col("tot").cast("double"), 6)
          .as("rev_share"),
        round(sum(col("rev")).over(wCum).cast("double")
          / col("tot").cast("double"), 6).as("cum_share"))
      .orderBy("decile")
  }

  def paretoRevenueOracle: String =
    """WITH spend AS (SELECT o_custkey,
      |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS spend
      |  FROM orders GROUP BY 1),
      |rk AS (SELECT spend,
      |    row_number() OVER (ORDER BY spend DESC, o_custkey) AS rk,
      |    COUNT(*) OVER () AS n FROM spend),
      |d AS (SELECT CAST(floor(10 * (rk - 1) / CAST(n AS DOUBLE)) + 1 AS BIGINT)
      |      AS decile,
      |    CAST(COUNT(*) AS BIGINT) AS n_customers,
      |    SUM(CAST(spend AS DECIMAL(18,2))) AS rev
      |  FROM rk GROUP BY 1),
      |t AS (SELECT SUM(rev) AS tot FROM d)
      |SELECT decile, n_customers, CAST(rev AS DOUBLE) AS revenue,
      |  round(CAST(rev AS DOUBLE) / CAST(t.tot AS DOUBLE), 6) AS rev_share,
      |  round(CAST(SUM(rev) OVER (ORDER BY decile
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
      |    / CAST(t.tot AS DOUBLE), 6) AS cum_share
      |FROM d, t ORDER BY decile""".stripMargin

  /** l-diversity companion to [[kAnonymityAudit]]: k-anonymity bounds
    * GROUP size, but a size-100 quasi-identifier group whose SENSITIVE
    * attribute (here the balance band) takes one value still leaks it
    * for every member — diversity, not size, is the disclosure bound.
    * Per (nation, segment) QI group: size, distinct sensitive values,
    * the frequency of the modal value, and the l<3 verdict. Two
    * stacked hash aggregations (rows → QI×sensitive cells → QI
    * groups), both map-side combined; modal share via max over cell
    * counts — no windows, no collect. */
  def lDiversityAudit(spark: SparkSession, dir: String): DataFrame =
    Tables.customer(spark, dir)
      .groupBy(col("c_nationkey"), col("c_mktsegment"),
        floor(col("c_acctbal") / 1000).as("bal_band"))
      .agg(count(lit(1)).as("cell"))
      .groupBy(col("c_nationkey"), col("c_mktsegment"))
      .agg(sum(col("cell")).as("group_size"),
        count(lit(1)).as("l_distinct"),
        max(col("cell")).as("modal_count"))
      .select(col("c_nationkey"), col("c_mktsegment"), col("group_size"),
        col("l_distinct"),
        round(col("modal_count") / col("group_size"), 6).as("modal_share"),
        (col("l_distinct") < 3).as("below_l3"))
      .orderBy("c_nationkey", "c_mktsegment")

  def lDiversityAuditOracle: String =
    """WITH cells AS (SELECT c_nationkey, c_mktsegment,
      |    floor(c_acctbal / 1000) AS bal_band,
      |    CAST(COUNT(*) AS BIGINT) AS cell
      |  FROM customer GROUP BY 1, 2, 3),
      |g AS (SELECT c_nationkey, c_mktsegment,
      |    CAST(SUM(cell) AS BIGINT) AS group_size,
      |    CAST(COUNT(*) AS BIGINT) AS l_distinct,
      |    CAST(MAX(cell) AS BIGINT) AS modal_count
      |  FROM cells GROUP BY 1, 2)
      |SELECT c_nationkey, c_mktsegment, group_size, l_distinct,
      |  round(CAST(modal_count AS DOUBLE) / group_size, 6) AS modal_share,
      |  l_distinct < 3 AS below_l3
      |FROM g ORDER BY c_nationkey, c_mktsegment""".stripMargin

  /** t-closeness — the third rung of the release-gate ladder after
    * [[kAnonymityAudit]] (group size) and [[lDiversityAudit]] (value
    * diversity): a diverse group still leaks when its sensitive-value
    * DISTRIBUTION diverges from the table's (a group that is 90%
    * top-band in a 10%-top-band population reveals band membership
    * with 9× lift regardless of l). Per (nation, segment) QI group:
    * total-variation distance ½·Σ|p−q| (the categorical metric) and
    * the ordered earth-mover's distance Σ|cum(p−q)|/(m−1) (the
    * t-closeness paper's metric for ordinal attributes — bands are
    * ordered, so "all mass one band off" should score small and EMD
    * is what says so). The only input-sized work is the ONE hash
    * aggregation to QI×band cells (map-side combined); everything
    * after runs on the bounded |QI|×|bands| frame — the band DOMAIN
    * is the full integer range [min band, max band] (a globally-empty
    * interior band still contributes its |cum| term and counts toward
    * m — the t-closeness paper's ordinal domain, not just the
    * realized bands), each group's grid is densified by a broadcast
    * cross join so absent cells contribute p=0, and both distances
    * sum 9-dp-rounded deltas through decimals (the window cumsum
    * too), so accumulation order can't flake the gate. */
  def tClosenessAudit(spark: SparkSession, dir: String): DataFrame = {
    val cells = Tables.customer(spark, dir)
      .groupBy(col("c_nationkey"), col("c_mktsegment"),
        floor(col("c_acctbal") / 1000).as("bal_band"))
      .agg(count(lit(1)).as("cell"))
      // |QI|×|bands| ≤ 25 × 5 × 11 (fixed TPC-H domains), count-asserted
      .transform(graft.BoundedCheckpoint(_, 4096))
    val global = cells.groupBy(col("bal_band")).agg(sum(col("cell")).as("gcnt"))
    val tot = cells.agg(sum(col("cell")).as("n_total"),
      min(col("bal_band")).as("b0"), max(col("bal_band")).as("b1"))
    val gq = tot
      .select(col("n_total"), (col("b1") - col("b0") + 1).as("n_bands"),
        explode(sequence(col("b0"), col("b1"))).as("bal_band"))
      .join(global, Seq("bal_band"), "left")
      .select(col("bal_band"), col("n_bands"),
        (coalesce(col("gcnt"), lit(0L)).cast("double") / col("n_total"))
          .as("q"))
    val groups = cells.groupBy(col("c_nationkey"), col("c_mktsegment"))
      .agg(sum(col("cell")).as("group_size"))
    val grid = groups.crossJoin(broadcast(gq))
      .join(cells, Seq("c_nationkey", "c_mktsegment", "bal_band"), "left")
      .select(col("c_nationkey"), col("c_mktsegment"), col("group_size"),
        col("bal_band"), col("n_bands"),
        round(coalesce(col("cell"), lit(0L)).cast("double") / col("group_size")
          - col("q"), 9).as("d"))
    val wCum = Window.partitionBy("c_nationkey", "c_mktsegment")
      .orderBy("bal_band")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grid
      .withColumn("cum", sum(col("d").cast(DecimalType(38, 12))).over(wCum))
      .groupBy(col("c_nationkey"), col("c_mktsegment"))
      .agg(first(col("group_size")).as("group_size"),
        first(col("n_bands")).as("m"),
        sum(abs(col("d")).cast(DecimalType(38, 12))).as("sad"),
        sum(abs(col("cum"))).as("scum"))
      .select(col("c_nationkey"), col("c_mktsegment"), col("group_size"),
        round(col("sad").cast("double") * 0.5, 6).as("tvd"),
        round(col("scum").cast("double") /
          greatest(col("m") - 1L, lit(1L)), 6).as("emd"),
        (round(col("scum").cast("double") /
          greatest(col("m") - 1L, lit(1L)), 6) > 0.2).as("above_t02"))
      .orderBy("c_nationkey", "c_mktsegment")
  }

  def tClosenessAuditOracle: String =
    """WITH cells AS (SELECT c_nationkey, c_mktsegment,
      |    floor(c_acctbal / 1000) AS bal_band,
      |    CAST(COUNT(*) AS BIGINT) AS cell
      |  FROM customer GROUP BY 1, 2, 3),
      |gl AS (SELECT bal_band, CAST(SUM(cell) AS BIGINT) AS gcnt FROM cells
      |  GROUP BY 1),
      |tot AS (SELECT CAST(SUM(cell) AS BIGINT) AS n_total,
      |    CAST(MIN(bal_band) AS BIGINT) AS b0,
      |    CAST(MAX(bal_band) AS BIGINT) AS b1 FROM cells),
      |bands AS (SELECT unnest(range(b0, b1 + 1)) AS bal_band,
      |    n_total, b1 - b0 + 1 AS n_bands FROM tot),
      |gq AS (SELECT b.bal_band, b.n_bands,
      |    CAST(COALESCE(gl.gcnt, 0) AS DOUBLE) / b.n_total AS q
      |  FROM bands b LEFT JOIN gl ON gl.bal_band = b.bal_band),
      |grp AS (SELECT c_nationkey, c_mktsegment,
      |    CAST(SUM(cell) AS BIGINT) AS group_size FROM cells GROUP BY 1, 2),
      |grid AS (SELECT g.c_nationkey, g.c_mktsegment, g.group_size,
      |    gq.bal_band, gq.n_bands,
      |    round(CAST(COALESCE(c.cell, 0) AS DOUBLE) / g.group_size - gq.q, 9)
      |      AS d
      |  FROM grp g CROSS JOIN gq
      |  LEFT JOIN cells c ON c.c_nationkey = g.c_nationkey
      |    AND c.c_mktsegment = g.c_mktsegment AND c.bal_band = gq.bal_band),
      |cum AS (SELECT *, SUM(CAST(d AS DECIMAL(38,12))) OVER (
      |      PARTITION BY c_nationkey, c_mktsegment ORDER BY bal_band
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cd
      |  FROM grid),
      |agg AS (SELECT c_nationkey, c_mktsegment,
      |    MIN(group_size) AS group_size, MIN(n_bands) AS m,
      |    CAST(SUM(CAST(abs(d) AS DECIMAL(38,12))) AS DOUBLE) AS sad,
      |    CAST(SUM(abs(cd)) AS DOUBLE) AS scum
      |  FROM cum GROUP BY 1, 2)
      |SELECT c_nationkey, c_mktsegment, group_size,
      |  round(sad * 0.5, 6) AS tvd,
      |  round(scum / greatest(m - 1, 1), 6) AS emd,
      |  round(scum / greatest(m - 1, 1), 6) > 0.2 AS above_t02
      |FROM agg ORDER BY c_nationkey, c_mktsegment""".stripMargin

  /** Incremental view maintenance: merge a delta batch's PARTIAL
    * aggregates into a materialized per-priority revenue view without
    * touching the base data — the algebraic-aggregate property
    * (count/sum combine by addition) that makes streaming and
    * batch refresh the same operation. Base = orders before the split
    * date, delta = the rest (a deterministic fixture split standing in
    * for "yesterday's view + today's batch"). Both sides aggregate
    * independently (map-side partials), then ONE co-partitioned full
    * outer join merges them; the output exposes old/delta/new side by
    * side plus the per-group action, so the refresh is auditable. At
    * scale the view is |groups|-sized and the only input-sized work is
    * the delta scan — the whole point of IVM. */
  def ivmPriorityRevenue(spark: SparkSession, dir: String): DataFrame = {
    val cutoff = "2024-07-01"
    def agg(df: DataFrame, pfx: String): DataFrame =
      df.groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as(s"n_$pfx"), dsum2(col("o_totalprice")).as(s"s_$pfx"))
    val orders = Tables.orders(spark, dir)
    val base = agg(orders.filter(col("o_orderdate") < lit(cutoff)), "old")
    val delta = agg(orders.filter(col("o_orderdate") >= lit(cutoff)), "delta")
    base.join(delta, Seq("o_orderpriority"), "full_outer")
      .select(col("o_orderpriority"),
        coalesce(col("n_old"), lit(0L)).as("n_old"),
        coalesce(col("n_delta"), lit(0L)).as("n_delta"),
        (coalesce(col("n_old"), lit(0L)) + coalesce(col("n_delta"), lit(0L)))
          .as("n_new"),
        round(coalesce(col("s_old"), lit(0.0)), 2).as("rev_old"),
        round(coalesce(col("s_delta"), lit(0.0)), 2).as("rev_delta"),
        round(coalesce(col("s_old"), lit(0.0)) +
          coalesce(col("s_delta"), lit(0.0)), 2).as("rev_new"),
        when(col("n_old").isNull, lit("insert"))
          .when(col("n_delta").isNull, lit("unchanged"))
          .otherwise(lit("update")).as("action"))
      .orderBy("o_orderpriority")
  }

  def ivmPriorityRevenueOracle: String =
    """WITH base AS (SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_old,
      |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS s_old
      |  FROM orders WHERE o_orderdate < TIMESTAMP '2024-07-01'
      |  GROUP BY 1),
      |delta AS (SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_delta,
      |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS s_delta
      |  FROM orders WHERE o_orderdate >= TIMESTAMP '2024-07-01'
      |  GROUP BY 1)
      |SELECT COALESCE(b.o_orderpriority, d.o_orderpriority) AS o_orderpriority,
      |  COALESCE(b.n_old, 0) AS n_old,
      |  COALESCE(d.n_delta, 0) AS n_delta,
      |  COALESCE(b.n_old, 0) + COALESCE(d.n_delta, 0) AS n_new,
      |  round(COALESCE(b.s_old, 0.0), 2) AS rev_old,
      |  round(COALESCE(d.s_delta, 0.0), 2) AS rev_delta,
      |  round(COALESCE(b.s_old, 0.0) + COALESCE(d.s_delta, 0.0), 2) AS rev_new,
      |  CASE WHEN b.n_old IS NULL THEN 'insert'
      |       WHEN d.n_delta IS NULL THEN 'unchanged'
      |       ELSE 'update' END AS action
      |FROM base b FULL OUTER JOIN delta d USING (o_orderpriority)
      |ORDER BY o_orderpriority""".stripMargin

  /** RFM (recency / frequency / monetary) customer segmentation — the
    * marketing-analytics workhorse. Per-customer facts come from ONE
    * hash aggregation over orders (max date, count, exact decimal
    * spend); each dimension is then scored into quintiles by the
    * even-spread rank rule ⌊(rank−1)·5/n⌋+1 over the |customers|-sized
    * fact table — ranks from the bucketed-group-rank helper (value-
    * bucket-local windows, no single-partition collapse), never a bare
    * global ntile. Output: the segment histogram with per-segment
    * averages — bounded at 125 rows regardless of scale. */
  def rfmSegments(spark: SparkSession, dir: String): DataFrame = {
    val facts = Tables.orders(spark, dir)
      .groupBy(col("o_custkey"))
      .agg(max(col("o_orderdate").cast("date")).as("last_date"),
        count(lit(1)).as("freq"), dsum2(col("o_totalprice")).as("money"))
      .select(col("o_custkey"),
        datediff(lit("2025-01-01").cast("date"), col("last_date")).as("recency"),
        col("freq"), col("money")).localCheckpoint()
    val n = facts.count()
    // per-value-bucket ranking (as in valuesAtGroupRanks): rank by
    // (metric, custkey) — a total order, so both engines agree — with
    // the sort localized to value buckets and stitched by a ≤64-row
    // prefix-offset table (no single-partition global window)
    def quintile(metric: Column, asc: Boolean): DataFrame = {
      val vals = facts.select(col("o_custkey"),
        (if (asc) metric else negate(metric)).cast("double").as("v"))
      val stats = vals.agg(min(col("v")).as("vmin"), max(col("v")).as("vmax"))
      val bucketed = vals.crossJoin(broadcast(stats))
        .select(col("o_custkey"), col("v"),
          when(col("vmin") === col("vmax"), lit(1L))
            .otherwise(width_bucket(col("v"), col("vmin"), col("vmax"),
              lit(64))).as("bkt"))
      val wLocal = Window.partitionBy("bkt").orderBy("v", "o_custkey")
      val withRn = bucketed.withColumn("rn", row_number().over(wLocal).cast("long"))
      val wOff = Window.partitionBy(lit(1)).orderBy("bkt")
        .rowsBetween(Window.unboundedPreceding, -1)
      val offsets = bucketed.groupBy("bkt").agg(count(lit(1)).as("c"))
        .withColumn("off", coalesce(sum(col("c")).over(wOff), lit(0L)))
        .select("bkt", "off")
      withRn.join(broadcast(offsets), Seq("bkt"))
        .select(col("o_custkey"),
          // `div`: integral division (Column./ would be double)
          expr(s"(off + rn - 1) * 5 div ${n}L + 1").cast("int").as("q"))
    }
    val r = quintile(col("recency"), asc = true) // low recency days = best
      .withColumnRenamed("q", "r_score")
    val f = quintile(col("freq"), asc = false).withColumnRenamed("q", "f_score")
    val m = quintile(col("money"), asc = false).withColumnRenamed("q", "m_score")
    facts.join(r, "o_custkey").join(f, "o_custkey").join(m, "o_custkey")
      .groupBy("r_score", "f_score", "m_score")
      .agg(count(lit(1)).as("n_customers"),
        round(avg(col("recency")), 6).as("avg_recency_days"),
        round(sum(col("money").cast(DecimalType(28, 6))).cast("double") /
          count(lit(1)), 6).as("avg_spend"))
      .orderBy("r_score", "f_score", "m_score")
  }

  def rfmSegmentsOracle: String =
    """WITH facts AS (SELECT o_custkey,
      |    date_diff('day', MAX(CAST(o_orderdate AS DATE)), DATE '2025-01-01')
      |      AS recency,
      |    CAST(COUNT(*) AS BIGINT) AS freq,
      |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS money
      |  FROM orders GROUP BY 1),
      |nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM facts),
      |r AS (SELECT o_custkey, CAST((row_number() OVER
      |    (ORDER BY recency, o_custkey) - 1) * 5 // nn.n + 1 AS INTEGER)
      |    AS r_score FROM facts, nn),
      |f AS (SELECT o_custkey, CAST((row_number() OVER
      |    (ORDER BY -freq, o_custkey) - 1) * 5 // nn.n + 1 AS INTEGER)
      |    AS f_score FROM facts, nn),
      |m AS (SELECT o_custkey, CAST((row_number() OVER
      |    (ORDER BY -money, o_custkey) - 1) * 5 // nn.n + 1 AS INTEGER)
      |    AS m_score FROM facts, nn)
      |SELECT r.r_score, f.f_score, m.m_score,
      |  CAST(COUNT(*) AS BIGINT) AS n_customers,
      |  round(AVG(fa.recency), 6) AS avg_recency_days,
      |  round(CAST(SUM(CAST(fa.money AS DECIMAL(28,6))) AS DOUBLE) / COUNT(*), 6)
      |    AS avg_spend
      |FROM facts fa JOIN r USING (o_custkey) JOIN f USING (o_custkey)
      |JOIN m USING (o_custkey)
      |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin

  /** Tukey-fence (IQR) outlier screen over events.value per event
    * type — the distribution-free sibling of [[outlierZscore]]: exact
    * p25/p75 from [[exactGroupQuantiles]] (no |groups|-task window, no
    * unbounded buffer), fences at 1.5·IQR, then one broadcast of the
    * tiny local per-group bounds back onto the fact scan for the
    * counts. Fences compare UNROUNDED (both engines compute the
    * identical IEEE interpolation — the winsorize discipline) and
    * report rounded. */
  def outlierIqr(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("event_type").as("g"), col("value").as("v"))
    val quantiles = exactGroupQuantiles(ev, Seq(0.25, 0.75), maxGroups = 64).coalesce(1)
      .select(col("g").as("g_q"), col("p").as("q"),
        (col("lo_v") * (lit(1.0) - col("frac")) +
          coalesce(col("hi_v"), col("lo_v")) * col("frac")).as("qv"))
      .groupBy("g_q")
      .agg(max(when(col("q") === 0.25, col("qv"))).as("p25"),
        max(when(col("q") === 0.75, col("qv"))).as("p75"))
      .select(col("g_q"), col("p25"), col("p75"),
        (col("p25") - lit(1.5) * (col("p75") - col("p25"))).as("lo_f"),
        (col("p75") + lit(1.5) * (col("p75") - col("p25"))).as("hi_f"))
    Tables.events(spark, dir)
      .select(col("event_type"), col("value").as("v"))
      .join(broadcast(quantiles), col("event_type") === col("g_q"))
      .groupBy("event_type")
      .agg(round(first(col("p25")), 6).as("p25"),
        round(first(col("p75")), 6).as("p75"),
        round(first(col("lo_f")), 6).as("lo_fence"),
        round(first(col("hi_f")), 6).as("hi_fence"),
        count(lit(1)).as("n"),
        count(when(col("v") < col("lo_f"), 1)).as("n_low_outliers"),
        count(when(col("v") > col("hi_f"), 1)).as("n_high_outliers"))
      .orderBy("event_type")
  }

  def outlierIqrOracle: String =
    """WITH b AS (SELECT event_type,
      |    quantile_cont(value, 0.25) AS p25,
      |    quantile_cont(value, 0.75) AS p75
      |  FROM events GROUP BY 1),
      |f AS (SELECT event_type, p25, p75,
      |    p25 - 1.5 * (p75 - p25) AS lo_f,
      |    p75 + 1.5 * (p75 - p25) AS hi_f FROM b)
      |SELECT e.event_type,
      |  round(f.p25, 6) AS p25, round(f.p75, 6) AS p75,
      |  round(f.lo_f, 6) AS lo_fence, round(f.hi_f, 6) AS hi_fence,
      |  CAST(COUNT(*) AS BIGINT) AS n,
      |  CAST(COUNT(*) FILTER (WHERE e.value < f.lo_f) AS BIGINT)
      |    AS n_low_outliers,
      |  CAST(COUNT(*) FILTER (WHERE e.value > f.hi_f) AS BIGINT)
      |    AS n_high_outliers
      |FROM events e JOIN f USING (event_type)
      |GROUP BY e.event_type, f.p25, f.p75, f.lo_f, f.hi_f
      |ORDER BY e.event_type""".stripMargin

  // ── scalar math-function battery ──

  /** The numeric scalar-function surface in one per-part projection:
    * exact functions (abs/ceil/floor/sign/sqrt/pow on integers/
    * greatest/least/mod/pmod/bitwise/shifts) emit raw — IEEE defines
    * them exactly, every engine agrees; transcendentals (cbrt/exp/ln/
    * log10/log2/radians/sin/atan) round to 9 decimals because libm
    * implementations may differ in the last ulp (the repo-wide ln
    * discipline). pmod is emulated in the oracle as ((x%n)+n)%n —
    * DuckDB's % follows the dividend sign like Java's. Zero shuffle;
    * whole-stage codegen end to end. */
  def scalarMathFuncs(spark: SparkSession, dir: String): DataFrame =
    Tables.part(spark, dir).select(
      col("p_partkey"),
      abs(col("p_retailprice") - 1000.0).as("abs_v"),
      ceil(col("p_retailprice") / 100.0).cast("long").as("ceil_v"),
      floor(col("p_retailprice") / 100.0).cast("long").as("floor_v"),
      signum((col("p_size") - 25).cast("double")).as("sign_v"),
      sqrt(col("p_size").cast("double")).as("sqrt_v"),
      round(cbrt(col("p_size").cast("double")), 9).as("cbrt_v"),
      round(exp(col("p_size").cast("double") / -10.0), 9).as("exp_v"),
      round(log(col("p_retailprice")), 9).as("ln_v"),
      round(log10(col("p_retailprice")), 9).as("log10_v"),
      round(log2(col("p_size").cast("double")), 9).as("log2_v"),
      pow(col("p_size").cast("double"), 2.0).as("pow_v"),
      pmod(col("p_partkey") - 100, lit(7)).cast("long").as("pmod_v"),
      (col("p_partkey") % 7).cast("long").as("mod_v"),
      greatest(col("p_size"), lit(25)).cast("long").as("greatest_v"),
      least(col("p_size"), lit(25)).cast("long").as("least_v"),
      round(radians(col("p_size").cast("double")), 9).as("radians_v"),
      round(sin(col("p_size").cast("double")), 9).as("sin_v"),
      round(atan(col("p_retailprice") / 1000.0), 9).as("atan_v"),
      col("p_partkey").bitwiseAND(lit(255L)).cast("long").as("band_v"),
      col("p_partkey").bitwiseXOR(lit(170L)).cast("long").as("bxor_v"),
      shiftleft(col("p_size"), 2).cast("long").as("shl_v"))
    .orderBy("p_partkey")

  def scalarMathFuncsOracle: String =
    """SELECT p_partkey,
      |  abs(p_retailprice - 1000.0) AS abs_v,
      |  CAST(ceil(p_retailprice / 100.0) AS BIGINT) AS ceil_v,
      |  CAST(floor(p_retailprice / 100.0) AS BIGINT) AS floor_v,
      |  CAST(sign(CAST(p_size - 25 AS DOUBLE)) AS DOUBLE) AS sign_v,
      |  sqrt(CAST(p_size AS DOUBLE)) AS sqrt_v,
      |  round(cbrt(CAST(p_size AS DOUBLE)), 9) AS cbrt_v,
      |  round(exp(CAST(p_size AS DOUBLE) / -10.0), 9) AS exp_v,
      |  round(ln(p_retailprice), 9) AS ln_v,
      |  round(log10(p_retailprice), 9) AS log10_v,
      |  round(log2(CAST(p_size AS DOUBLE)), 9) AS log2_v,
      |  pow(CAST(p_size AS DOUBLE), 2.0) AS pow_v,
      |  CAST((((p_partkey - 100) % 7) + 7) % 7 AS BIGINT) AS pmod_v,
      |  CAST(p_partkey % 7 AS BIGINT) AS mod_v,
      |  CAST(greatest(p_size, 25) AS BIGINT) AS greatest_v,
      |  CAST(least(p_size, 25) AS BIGINT) AS least_v,
      |  round(radians(CAST(p_size AS DOUBLE)), 9) AS radians_v,
      |  round(sin(CAST(p_size AS DOUBLE)), 9) AS sin_v,
      |  round(atan(p_retailprice / 1000.0), 9) AS atan_v,
      |  CAST(p_partkey & 255 AS BIGINT) AS band_v,
      |  CAST(xor(p_partkey, 170) AS BIGINT) AS bxor_v,
      |  CAST(p_size << 2 AS BIGINT) AS shl_v
      |FROM part ORDER BY p_partkey""".stripMargin

  // ── analytic window-function battery ──

  /** The remaining ANSI window functions in one per-order projection:
    * lag/lead, row_number, ntile over a deterministic total order
    * (orderdate, orderkey — ties impossible, so frame-dependent
    * functions are engine-identical), and rank / dense_rank /
    * percent_rank / cume_dist over a COARSE key (order year) where
    * ties are abundant — those four depend only on sort-key values,
    * so tied rows agree by construction. One window partition per
    * customer (massive cardinality — parallelism scales), both
    * windows share the same partitioning so Catalyst plans ONE
    * exchange; doubles round to 6. */
  def windowFuncBattery(spark: SparkSession, dir: String): DataFrame = {
    val wRow = Window.partitionBy("o_custkey")
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    val wTie = Window.partitionBy("o_custkey").orderBy(year(col("o_orderdate")))
    Tables.orders(spark, dir)
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
        col("o_orderdate"),
        lag(col("o_totalprice"), 1).over(wRow).as("prev_price"),
        lead(col("o_totalprice"), 1).over(wRow).as("next_price"),
        row_number().over(wRow).cast("long").as("row_num"),
        ntile(4).over(wRow).cast("long").as("quartile"),
        rank().over(wTie).cast("long").as("year_rank"),
        dense_rank().over(wTie).cast("long").as("year_dense_rank"),
        round(percent_rank().over(wTie), 6).as("year_pct_rank"),
        round(cume_dist().over(wTie), 6).as("year_cume_dist"))
      .drop("o_orderdate")
      .orderBy("o_custkey", "o_orderkey")
  }

  def windowFuncBatteryOracle: String =
    """SELECT o_custkey, o_orderkey, o_totalprice,
      |  lag(o_totalprice, 1) OVER w_row AS prev_price,
      |  lead(o_totalprice, 1) OVER w_row AS next_price,
      |  CAST(row_number() OVER w_row AS BIGINT) AS row_num,
      |  CAST(ntile(4) OVER w_row AS BIGINT) AS quartile,
      |  CAST(rank() OVER w_tie AS BIGINT) AS year_rank,
      |  CAST(dense_rank() OVER w_tie AS BIGINT) AS year_dense_rank,
      |  round(percent_rank() OVER w_tie, 6) AS year_pct_rank,
      |  round(cume_dist() OVER w_tie, 6) AS year_cume_dist
      |FROM orders
      |WINDOW w_row AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
      |  w_tie AS (PARTITION BY o_custkey ORDER BY year(o_orderdate))
      |ORDER BY o_custkey, o_orderkey""".stripMargin

  // ── unpivot (melt): wide metrics to long key/value rows ──

  /** Wide-to-long reshape: the per-linestatus metric columns melt
    * into (status, metric, value) rows — the operator feeding every
    * "metrics table" sink and the inverse of [[pivotStatus]]. The
    * aggregate runs first (map-side partial, |statuses| rows), so the
    * unpivot touches a tiny frame; on a wide FACT table the same
    * `stack` is a zero-shuffle per-row generator. Values share one
    * double type (ANSI melt requirement); sums are decimal-exact
    * before the cast. */
  def unpivotMetrics(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    Tables.lineitem(spark, dir)
      .groupBy("l_linestatus")
      .agg(sum(col("l_quantity").cast(DecimalType(18, 2))).cast("double")
          .as("sum_qty"),
        sum(col("l_extendedprice").cast(DecimalType(18, 2))).cast("double")
          .as("sum_base_price"),
        count(lit(1)).cast("double").as("n_items"))
      .select(col("l_linestatus"), expr(
        """stack(3, 'sum_qty', sum_qty, 'sum_base_price', sum_base_price,
          |'n_items', n_items) AS (metric, value)""".stripMargin))
      .orderBy("l_linestatus", "metric")
  }

  def unpivotMetricsOracle: String =
    """WITH w AS (SELECT l_linestatus,
      |    CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
      |      AS sum_base_price,
      |    CAST(COUNT(*) AS DOUBLE) AS n_items
      |  FROM lineitem GROUP BY l_linestatus)
      |SELECT l_linestatus, 'sum_qty' AS metric, sum_qty AS value FROM w
      |UNION ALL
      |SELECT l_linestatus, 'sum_base_price', sum_base_price FROM w
      |UNION ALL
      |SELECT l_linestatus, 'n_items', n_items FROM w
      |ORDER BY l_linestatus, metric""".stripMargin

  // ── GROUPING SETS: the explicit multi-granularity aggregate ──

  /** Revenue at three explicit granularities — (flag, status),
    * (flag), and grand total — in ONE pass via GROUPING SETS (rollup
    * and cube are its fixed specializations; this is the free-form
    * operator, with `grouping()` indicators disambiguating real NULLs
    * from aggregation NULLs). Spark expands the sets map-side and
    * partial-aggregates each, so the fact table is still read once;
    * sums are decimal-exact. */
  def groupingSetsRevenue(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    Tables.lineitem(spark, dir)
      .groupingSets(
        Seq(Seq(col("l_returnflag"), col("l_linestatus")),
          Seq(col("l_returnflag")), Seq.empty),
        col("l_returnflag"), col("l_linestatus"))
      .agg(grouping(col("l_returnflag")).cast("long").as("g_flag"),
        grouping(col("l_linestatus")).cast("long").as("g_status"),
        sum(col("l_quantity").cast(DecimalType(18, 2))).cast("double")
          .as("sum_qty"),
        sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .cast(DecimalType(28, 6))).cast("double").as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy("g_flag", "g_status", "l_returnflag", "l_linestatus")
  }

  def groupingSetsRevenueOracle: String =
    """SELECT l_returnflag, l_linestatus,
      |  CAST(GROUPING(l_returnflag) AS BIGINT) AS g_flag,
      |  CAST(GROUPING(l_linestatus) AS BIGINT) AS g_status,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      |  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,6)))
      |    AS DOUBLE) AS revenue,
      |  CAST(COUNT(*) AS BIGINT) AS n_items
      |FROM lineitem
      |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
      |ORDER BY g_flag, g_status, l_returnflag, l_linestatus""".stripMargin

  // ── snapshot diff: what changed between two table versions ──

  /** Keyed diff between two snapshots of the lineitem-derived
    * supplier/part position (the same derivation the TPC-H partsupp
    * adaptations use): snapshot A sees shipments before
    * [[SnapDiffHi]], snapshot B sees shipments since [[SnapDiffLo]] —
    * two overlapping windows, so every diff class occurs: keys only
    * in A (`removed`), only in B (`added`), in both with different
    * content (`changed`) or identical content (`unchanged` — all of
    * the pair's activity falls inside the overlap). This is the
    * migration/replication acceptance gate next to [[tableChecksum]]:
    * the checksum says WHETHER two versions differ, the diff says
    * WHAT — per-action row counts and exact quantity movement.
    *
    * Shape: both snapshots aggregate from one derivation (hash agg
    * with map-side partials), then meet in a single full-outer join
    * co-partitioned on the pair key — at 100 TB that is one shuffle
    * per side on the same key and a 4-row rollup; nothing is
    * collected, no version is scanned twice. */
  private val SnapDiffLo = "1997-01-01"
  private val SnapDiffHi = "2000-01-01"

  def snapshotDiff(spark: SparkSession, dir: String): DataFrame = {
    def snap(pred: Column): DataFrame =
      Tables.lineitem(spark, dir).filter(pred)
        .groupBy(col("l_partkey"), col("l_suppkey"))
        .agg(count(lit(1)).as("n"), dsum2(col("l_quantity")).as("q"))
    val a = snap(col("l_shipdate") < ts(SnapDiffHi))
      .select(col("l_partkey"), col("l_suppkey"),
        col("n").as("n_a"), col("q").as("q_a"))
    val b = snap(col("l_shipdate") >= ts(SnapDiffLo))
      .select(col("l_partkey"), col("l_suppkey"),
        col("n").as("n_b"), col("q").as("q_b"))
    a.join(b, Seq("l_partkey", "l_suppkey"), "full_outer")
      .select(
        when(col("n_b").isNull, lit("removed"))
          .when(col("n_a").isNull, lit("added"))
          .when(col("n_a") === col("n_b") && col("q_a") === col("q_b"),
            lit("unchanged"))
          .otherwise(lit("changed")).as("action"),
        coalesce(col("q_a"), lit(0.0)).as("qa"),
        coalesce(col("q_b"), lit(0.0)).as("qb"))
      .groupBy("action")
      .agg(count(lit(1)).as("n_pairs"),
        dsum2(col("qa")).as("qty_a"),
        dsum2(col("qb")).as("qty_b"),
        dsum2(col("qb") - col("qa")).as("qty_delta"))
      .orderBy("action")
  }

  def snapshotDiffOracle: String =
    s"""WITH a AS (SELECT l_partkey, l_suppkey, COUNT(*) AS n_a,
       |    CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS q_a
       |  FROM lineitem WHERE l_shipdate < TIMESTAMP '$SnapDiffHi'
       |  GROUP BY 1, 2),
       |b AS (SELECT l_partkey, l_suppkey, COUNT(*) AS n_b,
       |    CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS q_b
       |  FROM lineitem WHERE l_shipdate >= TIMESTAMP '$SnapDiffLo'
       |  GROUP BY 1, 2),
       |d AS (SELECT
       |    CASE WHEN b.n_b IS NULL THEN 'removed'
       |         WHEN a.n_a IS NULL THEN 'added'
       |         WHEN a.n_a = b.n_b AND a.q_a = b.q_b THEN 'unchanged'
       |         ELSE 'changed' END AS action,
       |    COALESCE(a.q_a, 0.0) AS qa, COALESCE(b.q_b, 0.0) AS qb
       |  FROM a FULL OUTER JOIN b USING (l_partkey, l_suppkey))
       |SELECT action, CAST(COUNT(*) AS BIGINT) AS n_pairs,
       |  CAST(SUM(CAST(qa AS DECIMAL(18,2))) AS DOUBLE) AS qty_a,
       |  CAST(SUM(CAST(qb AS DECIMAL(18,2))) AS DOUBLE) AS qty_b,
       |  CAST(SUM(CAST(qb - qa AS DECIMAL(18,2))) AS DOUBLE) AS qty_delta
       |FROM d GROUP BY action ORDER BY action""".stripMargin

}
