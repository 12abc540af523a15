package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.Tables

/** Time/JSON operators over the `events` table.
  *
  * The reference has no streaming or time semantics (SURVEY §2.9);
  * these are the batch forms of the standard event-pipeline ops. The
  * streaming forms (watermark + window over readStream) live in
  * graft.streaming.EventStream — same logical transforms.
  */
object EventOps {

  /** JSON field extraction + aggregation. get_json_object is a codegen'd
    * built-in; at scale the props column is the only string parsed and
    * only once per row. */
  def jsonExtract(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(col("event_type"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum(col("k")).as("sum_k"),
        min(col("k")).as("min_k"),
        max(col("k")).as("max_k"))
      .orderBy("event_type")

  def jsonExtractOracle: String =
    """SELECT event_type, COUNT(*) AS n,
      |  CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
      |  MIN(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k,
      |  MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  /** Keyless time-range join, bin-bucketed. "How many clicks (from ANY
    * user) landed within ±10 minutes of each monitored purchase" — no
    * equi key at all, so the naive plan is a nested-loop/cartesian
    * scan of |windows|×|events| pairs. Bucketing both sides into
    * fixed-width time bins (width = half-window, so each window spans
    * ≤ 3 bins and each probe row has exactly one bin) turns it into an
    * ordinary equi join on `bin` with the range predicate as a
    * residual: at 100 TB both sides hash-shuffle on bin, no pair is
    * formed outside neighboring bins, and no probe row can match one
    * window through two bins (its bin is unique) so no dedup is
    * needed. The range residual rides in the join condition (not a
    * post-filter) to keep the left-outer zero-count rows. */
  def rangeJoinEvents(spark: SparkSession, dir: String): DataFrame = {
    val binUs = 10L * 60 * 1000 * 1000 // 10-minute bins = half-window
    val ev = Tables.events(spark, dir)
    val windows = ev
      .filter(col("event_type") === "purchase" && col("user_id") < 5)
      .select(col("user_id"), col("ts"),
        (unix_micros(col("ts")) - binUs).as("lo"),
        (unix_micros(col("ts")) + binUs).as("hi")) // window = [lo, hi)
      .withColumn("bin",
        explode(sequence((col("lo") / binUs).cast("long"),
          ((col("hi") - 1) / binUs).cast("long"))))
    val clicks = ev.filter(col("event_type") === "click")
      .select(unix_micros(col("ts")).as("cm"),
        (unix_micros(col("ts")) / binUs).cast("long").as("bin"))
    windows
      .join(clicks,
        windows("bin") === clicks("bin") &&
          col("cm") >= col("lo") && col("cm") < col("hi"),
        "left_outer")
      .groupBy("user_id", "ts")
      .agg(count(col("cm")).as("n_clicks"))
      .orderBy("user_id", "ts")
  }

  def rangeJoinOracle: String =
    """WITH w AS (SELECT user_id, ts FROM events
      |           WHERE event_type = 'purchase' AND user_id < 5),
      |c AS (SELECT ts AS cts FROM events WHERE event_type = 'click')
      |SELECT w.user_id, w.ts, CAST(COUNT(c.cts) AS BIGINT) AS n_clicks
      |FROM w LEFT JOIN c
      |  ON c.cts >= w.ts - INTERVAL 10 MINUTE
      | AND c.cts <  w.ts + INTERVAL 10 MINUTE
      |GROUP BY w.user_id, w.ts ORDER BY w.user_id, w.ts""".stripMargin

  /** Tumbling-window aggregation (1 hour) — the batch twin of the
    * Structured Streaming windowed agg. date_trunc keeps the key a
    * plain timestamp so the oracle matches exactly. */
  def timeWindow(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(date_trunc("hour", col("ts")).as("hour_ts"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(18, 2))).cast("double").as("sum_value"))
      .orderBy("hour_ts", "event_type")

  def timeWindowOracle: String =
    """SELECT date_trunc('hour', ts) AS hour_ts, event_type, COUNT(*) AS n,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      |FROM events GROUP BY 1, 2 ORDER BY hour_ts, event_type""".stripMargin

  /** Malformed-record filter (SURVEY P4): the reference skipped
    * undecodable JSON lines with a warning
    * (cmd/storage-node/main.go:1292-1296); the engine-equivalent is
    * null-on-malformed parsing + an explicit filter/count. To exercise
    * it deterministically, every third props payload is corrupted
    * (truncated) before parsing; the query reports parsed vs malformed
    * per event type. */
  def malformedFilter(spark: SparkSession, dir: String): DataFrame = {
    val corrupted = when(col("event_id") % 3 === 0,
      substring(col("props"), lit(1), length(col("props")) - 2))
      .otherwise(col("props"))
    Tables.events(spark, dir)
      .select(col("event_type"),
        get_json_object(corrupted, "$.k").cast("long").as("k"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_total"),
        count(col("k")).as("n_parsed"),
        sum(when(col("k").isNull, 1L).otherwise(0L)).as("n_malformed"),
        sum(col("k")).as("sum_k"))
      .orderBy("event_type")
  }

  def malformedFilterOracle: String =
    """WITH c AS (
      |  SELECT event_type,
      |    CASE WHEN event_id % 3 = 0
      |         THEN substring(props, 1, length(props) - 2)
      |         ELSE props END AS props
      |  FROM events),
      |p AS (
      |  SELECT event_type,
      |    CASE WHEN json_valid(props)
      |         THEN CAST(json_extract_string(props, '$.k') AS BIGINT) END AS k
      |  FROM c)
      |SELECT event_type, COUNT(*) AS n_total, COUNT(k) AS n_parsed,
      |  CAST(SUM(CASE WHEN k IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_malformed,
      |  CAST(SUM(k) AS BIGINT) AS sum_k
      |FROM p GROUP BY event_type ORDER BY event_type""".stripMargin

  /** Gap-based sessionization (30-min inactivity gap): lag → new-session
    * flag → running sum = session index → per-session aggregates. Two
    * window passes over ONE shuffle (both windows partition by user_id,
    * so Spark reuses the same exchange), then a partial-agg groupBy that
    * stays partition-local for its user_id component. */
  /** The engine's ONE definition of a session: 30-minute-gap
    * gaps-and-islands over the per-user (ts, event_id) order,
    * appending `session_id` to whatever payload columns the caller
    * selected. Every session query ([[sessionize]], [[sessionPaths]],
    * [[sessionExamples]]) derives from this helper, so a change to
    * the gap convention or the tie-break cannot silently fork the
    * meaning of "session" between them. */
  /** The session gap bound — 30 minutes in µs, shared by the islands
    * derivation and the transition filter. */
  private val SessionGapUs = 30L * 60 * 1000000

  private def withSessionIds(events: DataFrame): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val gapUs = SessionGapUs
    events
      .withColumn("prev_us", lag(unix_micros(col("ts")), 1).over(byUser))
      .withColumn("is_new",
        when(col("prev_us").isNull ||
          unix_micros(col("ts")) - col("prev_us") > gapUs, 1L).otherwise(0L))
      .withColumn("session_id",
        sum(col("is_new")).over(
          byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .drop("prev_us", "is_new")
  }

  def sessionize(spark: SparkSession, dir: String): DataFrame =
    withSessionIds(Tables.events(spark, dir)
      .select("user_id", "event_id", "ts", "value"))
      .groupBy("user_id", "session_id")
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast(DecimalType(18, 2))).cast("double").as("session_value"))
      .orderBy("user_id", "session_id")

  /** Next-event-prediction training examples from the event stream —
    * the pass that turns raw behavioral telemetry into supervised
    * (context → target) pairs, the sequence-model analog of
    * [[graft.ext.TextAnalysis.docChunks]]'s text windows: within each
    * 30-minute-gap session (the SAME gaps-and-islands derivation as
    * [[sessionize]], so "session" means one thing engine-wide), every
    * event from position 2 on becomes one example whose context is
    * the up-to-8 preceding event types in arrival order and whose
    * target is its own type. Pure window work over the per-user
    * partition the sessionization already shuffles — no self-join, no
    * explode; the context window is a bounded-frame ordered
    * collect_list, so example width is capped by construction. Output
    * is loader-ready and deterministic: ties inside a timestamp break
    * on event_id in both engines. */
  def sessionExamples(spark: SparkSession, dir: String): DataFrame = {
    val sessioned = withSessionIds(Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), col("ts"), col("event_type")))
    val bySession = Window.partitionBy("user_id", "session_id")
      .orderBy("ts", "event_id")
    sessioned
      .withColumn("pos", row_number().over(bySession).cast("long"))
      .withColumn("context", array_join(
        collect_list(col("event_type")).over(bySession.rowsBetween(-8, -1)),
        " "))
      .filter(col("pos") >= 2)
      .select(col("user_id"), col("session_id"), col("pos"),
        col("context"), col("event_type").as("target"))
      .orderBy("user_id", "session_id", "pos")
  }

  def sessionExamplesOracle: String =
    """WITH ev AS (SELECT user_id, event_id, ts, event_type,
      |    epoch_us(ts) AS us FROM events),
      |lagged AS (SELECT *,
      |    lag(us) OVER (PARTITION BY user_id ORDER BY ts, event_id)
      |      AS prev_us FROM ev),
      |marked AS (SELECT *,
      |    CASE WHEN prev_us IS NULL OR us - prev_us > 1800000000
      |      THEN 1 ELSE 0 END AS is_new FROM lagged),
      |sess AS (SELECT *,
      |    CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |      AS BIGINT) AS session_id FROM marked),
      |ex AS (SELECT user_id, session_id,
      |    CAST(row_number() OVER w AS BIGINT) AS pos,
      |    array_to_string(list(event_type) OVER
      |      (PARTITION BY user_id, session_id ORDER BY ts, event_id
      |       ROWS BETWEEN 8 PRECEDING AND 1 PRECEDING), ' ') AS context,
      |    event_type AS target
      |  FROM sess
      |  WINDOW w AS (PARTITION BY user_id, session_id
      |               ORDER BY ts, event_id))
      |SELECT user_id, session_id, pos, context, target FROM ex
      |WHERE pos >= 2 ORDER BY user_id, session_id, pos""".stripMargin

  /** Rolling 7-day active users per day — the WAU-style engagement
    * metric. Each event contributes to the 7 window-days it falls
    * inside, expressed as one `sequence` explode (bounded ×7 fan-out,
    * no self-join of the stream, no range join); the per-day distinct
    * count is then a plain two-level hash aggregation. Only days with
    * at least one event in their trailing window appear (inner
    * grouping — matches the oracle). */
  def rollingActiveUsers(spark: SparkSession, dir: String): DataFrame = {
    Tables.events(spark, dir)
      .select(col("user_id"), to_date(col("ts")).as("d"))
      .distinct()
      .select(col("user_id"),
        explode(sequence(col("d"), date_add(col("d"), 6))).as("window_day"))
      .groupBy("window_day")
      .agg(countDistinct(col("user_id")).as("active_users_7d"))
      .orderBy("window_day")
  }

  def rollingActiveUsersOracle: String =
    """WITH ud AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events),
      |expanded AS (
      |  SELECT user_id, CAST(unnest(generate_series(d, d + 6, INTERVAL 1 DAY))
      |    AS DATE) AS window_day
      |  FROM ud)
      |SELECT window_day,
      |  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS active_users_7d
      |FROM expanded GROUP BY window_day ORDER BY window_day""".stripMargin

  /** Inter-event latency profile: exact p50/p95/p99 of the gap (µs)
    * between a user's consecutive events, grouped by the LATER
    * event's type — the ops-dashboard latency metric. Gap derivation
    * is one window pass partitioned by user_id (high cardinality —
    * parallelism scales with users); the exact percentiles come from
    * [[Relational.exactGroupQuantiles]] (two aggregate passes, no
    * |types|-task window), interpolated in quantile_cont's exact op
    * order. */
  def gapPercentiles(spark: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val gaps = Tables.events(spark, dir)
      .select("user_id", "event_id", "ts", "event_type")
      .withColumn("prev_us", lag(unix_micros(col("ts")), 1).over(byUser))
      .filter(col("prev_us").isNotNull)
      .select(col("event_type").as("g"),
        (unix_micros(col("ts")) - col("prev_us")).cast("double").as("v"))
    Relational.exactGroupQuantiles(gaps, Seq(0.5, 0.95, 0.99), maxGroups = 64).coalesce(1)
      .select(col("g"), col("p"),
        round(col("lo_v") * (lit(1.0) - col("frac")) +
          coalesce(col("hi_v"), col("lo_v")) * col("frac"), 4).as("gap_us"))
      .groupBy(col("g").as("event_type"))
      .agg(max(when(col("p") === 0.5, col("gap_us"))).as("p50_us"),
        max(when(col("p") === 0.95, col("gap_us"))).as("p95_us"),
        max(when(col("p") === 0.99, col("gap_us"))).as("p99_us"))
      .orderBy("event_type")
  }

  def gapPercentilesOracle: String =
    """WITH lagged AS (
      |  SELECT event_type,
      |    epoch_us(ts) - lag(epoch_us(ts))
      |      OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap_us
      |  FROM events)
      |SELECT event_type,
      |  round(quantile_cont(CAST(gap_us AS DOUBLE), 0.50), 4) AS p50_us,
      |  round(quantile_cont(CAST(gap_us AS DOUBLE), 0.95), 4) AS p95_us,
      |  round(quantile_cont(CAST(gap_us AS DOUBLE), 0.99), 4) AS p99_us
      |FROM lagged WHERE gap_us IS NOT NULL
      |GROUP BY event_type ORDER BY event_type""".stripMargin

  /** Path analysis: the most common event-type SEQUENCES per session
    * (same 30-min gap sessions as [[sessionize]]) — "what do users
    * actually do", the navigation-mining staple. The per-session
    * path is an ordered struct-sort + projection (bounded by session
    * length, no unbounded state); the path histogram is a hash agg on
    * the path string; top-20 by TakeOrdered. Ties order by path text
    * so the cut is deterministic. */
  def sessionPaths(spark: SparkSession, dir: String, topK: Int = 20): DataFrame = {
    withSessionIds(Tables.events(spark, dir)
      .select("user_id", "event_id", "ts", "event_type"))
      .groupBy("user_id", "session_id")
      .agg(array_join(
        expr("transform(array_sort(collect_list(struct(ts, event_id, event_type))), x -> x.event_type)"),
        ">").as("path"))
      .groupBy("path")
      .agg(count(lit(1)).as("n_sessions"))
      .orderBy(col("n_sessions").desc, col("path"))
      .limit(topK)
  }

  def sessionPathsOracle: String =
    """WITH lagged AS (
      |  SELECT user_id, event_id, ts, event_type,
      |    lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_us
      |  FROM events),
      |flagged AS (
      |  SELECT user_id, event_id, ts, event_type,
      |    CASE WHEN prev_us IS NULL OR epoch_us(ts) - prev_us > 1800000000
      |         THEN 1 ELSE 0 END AS is_new
      |  FROM lagged),
      |sessions AS (
      |  SELECT user_id, event_id, ts, event_type,
      |    SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
      |  FROM flagged),
      |paths AS (
      |  SELECT user_id, session_id,
      |    array_to_string(list(event_type ORDER BY ts, event_id), '>') AS path
      |  FROM sessions GROUP BY user_id, session_id)
      |SELECT path, COUNT(*) AS n_sessions
      |FROM paths GROUP BY path
      |ORDER BY n_sessions DESC, path LIMIT 20""".stripMargin

  /** As-of join within the event stream: for each 'error' event, the
    * most recent strictly-earlier 'click' by the same user.
    *
    * Composed from built-ins (SURVEY §7 preference (a)): union the two
    * event roles, one window pass partitioned by user ordered by time
    * with an ignore-nulls last() over the preceding frame — a single
    * shuffle on user_id, no range join blowup. This is the standard
    * scalable as-of formulation: state per partition is one running
    * value, so it holds at any scale (vs. an O(n·m) inequality join).
    */
  def asofErrorClick(spark: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy("ts", "event_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    Tables.events(spark, dir)
      .filter(col("event_type").isin("error", "click"))
      .withColumn("click_us",
        when(col("event_type") === "click", unix_micros(col("ts"))))
      .withColumn("prev_click_us", last(col("click_us"), ignoreNulls = true).over(byUser))
      .filter(col("event_type") === "error" && col("prev_click_us").isNotNull)
      .select(col("event_id"), col("user_id"), col("ts"),
        timestamp_micros(col("prev_click_us")).as("prev_click_ts"),
        (unix_micros(col("ts")) - col("prev_click_us")).as("gap_us"))
      .orderBy("event_id")
  }

  /** The same error←click as-of matching through the NATIVE as-of join
    * operator (AsOfJoinPlan → AsOfJoinStrategy → AsOfJoinExec — the
    * whole-operator extension tier): each side shuffles once on
    * user_id, sorts (user, time) within partitions, and one forward
    * merge pass pairs every error with its floor click. Unlike the
    * window composition ([[asofErrorClick]]) there is no union stream
    * and the right side is pruned to its three columns before the
    * shuffle. Inclusive bound (click_ts ≤ error ts); fixture
    * timestamps are unique per user, and click_id breaks any tie
    * deterministically. */
  def asofNative(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val errors = ev.filter(col("event_type") === "error")
      .select("event_id", "user_id", "ts")
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"),
        col("user_id").as("click_user"), col("ts").as("click_ts"))
    org.apache.spark.sql.graft.AsOfJoinPlan.dataset(errors, clicks,
        errors.col("user_id"), clicks.col("click_user"),
        errors.col("ts"), clicks.col("click_ts"), clicks.col("click_id"))
      .select(col("event_id"), col("user_id"), col("ts"),
        col("click_id"), col("click_ts"),
        (unix_micros(col("ts")) - unix_micros(col("click_ts"))).as("gap_us"))
      .orderBy("event_id")
  }

  /** Outer form of [[asofNative]]: every error survives; errors with no
    * preceding click carry a null click side — the merge_asof default,
    * which is what a feature-join pipeline wants (no silent row loss). */
  def asofNativeOuter(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val errors = ev.filter(col("event_type") === "error")
      .select("event_id", "user_id", "ts")
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"),
        col("user_id").as("click_user"), col("ts").as("click_ts"))
    org.apache.spark.sql.graft.AsOfJoinPlan.dataset(errors, clicks,
        errors.col("user_id"), clicks.col("click_user"),
        errors.col("ts"), clicks.col("click_ts"), clicks.col("click_id"),
        isOuter = true)
      .select(col("event_id"), col("user_id"), col("ts"),
        col("click_id"), col("click_ts"),
        (unix_micros(col("ts")) - unix_micros(col("click_ts"))).as("gap_us"))
      .orderBy("event_id")
  }

  /** Tolerance-bounded outer as-of: the floor click must lie within
    * 30 minutes of the error or the error reports null — merge_asof's
    * `tolerance` parameter, which is what feature pipelines actually
    * ship (a click from last week is not the "preceding context" of
    * today's error). Exercises the native operator's tolerance path:
    * the merge pass rejects a stale floor in O(1) without any
    * post-join filter re-reading the row. */
  def asofNativeTolerance(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val errors = ev.filter(col("event_type") === "error")
      .select("event_id", "user_id", "ts")
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"),
        col("user_id").as("click_user"), col("ts").as("click_ts"))
    org.apache.spark.sql.graft.AsOfJoinPlan.dataset(errors, clicks,
        errors.col("user_id"), clicks.col("click_user"),
        errors.col("ts"), clicks.col("click_ts"), clicks.col("click_id"),
        isOuter = true, toleranceUs = Some(1800000000L))
      .select(col("event_id"), col("user_id"), col("ts"),
        col("click_id"), col("click_ts"),
        (unix_micros(col("ts")) - unix_micros(col("click_ts"))).as("gap_us"))
      .orderBy("event_id")
  }

  def asofNativeToleranceOracle: String =
    """WITH pairs AS (
      |  SELECT e.event_id, e.user_id, e.ts,
      |    c.event_id AS click_id, c.ts AS click_ts,
      |    row_number() OVER (PARTITION BY e.event_id
      |      ORDER BY c.ts DESC, c.event_id DESC) AS rk
      |  FROM events e LEFT JOIN events c
      |    ON e.user_id = c.user_id AND c.ts <= e.ts
      |   AND epoch_us(e.ts) - epoch_us(c.ts) <= 1800000000
      |   AND c.event_type = 'click'
      |  WHERE e.event_type = 'error')
      |SELECT event_id, user_id, ts, click_id, click_ts,
      |  epoch_us(ts) - epoch_us(click_ts) AS gap_us
      |FROM pairs WHERE rk = 1 ORDER BY event_id""".stripMargin

  /** FORWARD as-of: each error pairs with the EARLIEST click at or
    * after it, within a 1-hour tolerance — "what did the user do
    * next", the reaction-attribution direction (the interval join
    * returns all such clicks; this returns exactly one). Same single
    * merge pass, scanning the right side forward; ties break to the
    * smallest click_id. */
  def asofNativeForward(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val errors = ev.filter(col("event_type") === "error")
      .select("event_id", "user_id", "ts")
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"),
        col("user_id").as("click_user"), col("ts").as("click_ts"))
    org.apache.spark.sql.graft.AsOfJoinPlan.dataset(errors, clicks,
        errors.col("user_id"), clicks.col("click_user"),
        errors.col("ts"), clicks.col("click_ts"), clicks.col("click_id"),
        isOuter = true, toleranceUs = Some(3600000000L), forward = true)
      .select(col("event_id"), col("user_id"), col("ts"),
        col("click_id"), col("click_ts"),
        (unix_micros(col("click_ts")) - unix_micros(col("ts"))).as("gap_us"))
      .orderBy("event_id")
  }

  def asofNativeForwardOracle: String =
    """WITH pairs AS (
      |  SELECT e.event_id, e.user_id, e.ts,
      |    c.event_id AS click_id, c.ts AS click_ts,
      |    row_number() OVER (PARTITION BY e.event_id
      |      ORDER BY c.ts ASC, c.event_id ASC) AS rk
      |  FROM events e LEFT JOIN events c
      |    ON e.user_id = c.user_id AND c.ts >= e.ts
      |   AND epoch_us(c.ts) - epoch_us(e.ts) <= 3600000000
      |   AND c.event_type = 'click'
      |  WHERE e.event_type = 'error')
      |SELECT event_id, user_id, ts, click_id, click_ts,
      |  epoch_us(click_ts) - epoch_us(ts) AS gap_us
      |FROM pairs WHERE rk = 1 ORDER BY event_id""".stripMargin

  def asofNativeOuterOracle: String =
    """WITH pairs AS (
      |  SELECT e.event_id, e.user_id, e.ts,
      |    c.event_id AS click_id, c.ts AS click_ts,
      |    row_number() OVER (PARTITION BY e.event_id
      |      ORDER BY c.ts DESC, c.event_id DESC) AS rk
      |  FROM events e LEFT JOIN events c
      |    ON e.user_id = c.user_id AND c.ts <= e.ts
      |   AND c.event_type = 'click'
      |  WHERE e.event_type = 'error')
      |SELECT event_id, user_id, ts, click_id, click_ts,
      |  epoch_us(ts) - epoch_us(click_ts) AS gap_us
      |FROM pairs WHERE rk = 1 ORDER BY event_id""".stripMargin

  def asofNativeOracle: String =
    """WITH pairs AS (
      |  SELECT e.event_id, e.user_id, e.ts,
      |    c.event_id AS click_id, c.ts AS click_ts,
      |    row_number() OVER (PARTITION BY e.event_id
      |      ORDER BY c.ts DESC, c.event_id DESC) AS rk
      |  FROM events e JOIN events c
      |    ON e.user_id = c.user_id AND c.ts <= e.ts
      |  WHERE e.event_type = 'error' AND c.event_type = 'click')
      |SELECT event_id, user_id, ts, click_id, click_ts,
      |  epoch_us(ts) - epoch_us(click_ts) AS gap_us
      |FROM pairs WHERE rk = 1 ORDER BY event_id""".stripMargin

  def asofErrorClickOracle: String =
    """WITH ec AS (
      |  SELECT event_id, user_id, ts, event_type,
      |    CASE WHEN event_type = 'click' THEN epoch_us(ts) END AS click_us
      |  FROM events WHERE event_type IN ('error', 'click')),
      |w AS (
      |  SELECT event_id, user_id, ts, event_type,
      |    last_value(click_us IGNORE NULLS) OVER (
      |      PARTITION BY user_id ORDER BY ts, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_click_us
      |  FROM ec)
      |SELECT event_id, user_id, ts,
      |  make_timestamp(prev_click_us) AS prev_click_ts,
      |  epoch_us(ts) - prev_click_us AS gap_us
      |FROM w WHERE event_type = 'error' AND prev_click_us IS NOT NULL
      |ORDER BY event_id""".stripMargin

  def sessionizeOracle: String =
    """WITH lagged AS (
      |  SELECT user_id, event_id, ts, value,
      |    lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_us
      |  FROM events),
      |flagged AS (
      |  SELECT user_id, event_id, ts, value,
      |    CASE WHEN prev_us IS NULL OR epoch_us(ts) - prev_us > 1800000000
      |         THEN 1 ELSE 0 END AS is_new
      |  FROM lagged),
      |sessions AS (
      |  SELECT user_id, value,
      |    SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
      |  FROM flagged)
      |SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
      |  COUNT(*) AS n_events,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS session_value
      |FROM sessions GROUP BY user_id, session_id
      |ORDER BY user_id, session_id""".stripMargin

  /** Gap sessionization via Spark's NATIVE session_window — the same
    * semantics as [[sessionize]] but expressed as a dynamic-gap grouping
    * window, exercising Catalyst's SessionWindow path (one shuffle on
    * user, per-group merge of overlapping [ts, ts+gap) intervals).
    * Session boundary: a gap ≥ 30 min starts a new session (Spark
    * merges only strictly-overlapping windows), and session_end is
    * last event + gap — the oracle mirrors both conventions exactly. */
  def sessionizeNative(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"),
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("n_events"))
      .orderBy("user_id", "session_start")

  def sessionizeNativeOracle: String =
    """WITH lagged AS (
      |  SELECT user_id, ts,
      |    lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_us
      |  FROM events),
      |flagged AS (
      |  SELECT user_id, ts,
      |    CASE WHEN prev_us IS NULL OR epoch_us(ts) - prev_us >= 1800000000
      |         THEN 1 ELSE 0 END AS is_new
      |  FROM lagged),
      |sessions AS (
      |  SELECT user_id, ts,
      |    SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts
      |                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      |  FROM flagged)
      |SELECT user_id, MIN(ts) AS session_start,
      |  MAX(ts) + INTERVAL 30 MINUTE AS session_end,
      |  COUNT(*) AS n_events
      |FROM sessions GROUP BY user_id, sid
      |ORDER BY user_id, session_start""".stripMargin

  /** Sliding RANGE-frame window: for every event, how many events the
    * same user produced in the trailing hour (inclusive bounds, peers
    * at equal timestamps included — identical RANGE semantics in both
    * engines; the frame key is epoch micros so the interval arithmetic
    * is exact integer math). One shuffle on user_id; per-partition the
    * frame is a two-pointer pass, never a per-row rescan. */
  def windowRangeFrame(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("us"))
      .rangeBetween(-3600000000L, 0L)
    Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"),
        unix_micros(col("ts")).as("us"))
      .withColumn("n_trailing_hour", count(lit(1)).over(w))
      .select("event_id", "user_id", "n_trailing_hour")
      .orderBy("event_id")
  }

  def windowRangeFrameOracle: String =
    """SELECT event_id, user_id,
      |  COUNT(*) OVER (PARTITION BY user_id ORDER BY epoch_us(ts)
      |    RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
      |    AS n_trailing_hour
      |FROM events ORDER BY event_id""".stripMargin

  /** Cohort retention: users bucketed by their FIRST-seen day (the
    * cohort), then distinct active users per (cohort_day, activity_day)
    * — the standard product-analytics retention matrix. Two shuffles
    * (per-user min, then per-cell distinct count); the cohort table is
    * |users| rows and joins back on user_id before the cell aggregate.
    * At scale both aggregates partial map-side; nothing is ever
    * per-user on the driver. */
  def cohortRetention(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), date_trunc("day", col("ts")).as("day"))
    val cohorts = ev.groupBy("user_id").agg(min(col("day")).as("cohort_day"))
    ev.distinct()
      .join(cohorts, Seq("user_id"))
      .groupBy(col("cohort_day"), col("day").as("activity_day"))
      .agg(countDistinct(col("user_id")).as("n_users"))
      .orderBy("cohort_day", "activity_day")
  }

  def cohortRetentionOracle: String =
    """WITH ev AS (
      |  SELECT DISTINCT user_id, date_trunc('day', ts) AS day FROM events),
      |cohorts AS (
      |  SELECT user_id, MIN(day) AS cohort_day FROM ev GROUP BY user_id)
      |SELECT cohort_day, day AS activity_day,
      |  COUNT(DISTINCT ev.user_id) AS n_users
      |FROM ev JOIN cohorts USING (user_id)
      |GROUP BY cohort_day, day
      |ORDER BY cohort_day, activity_day""".stripMargin

  /** Kaplan-Meier survival curve for time-to-first-purchase — the
    * censoring-aware sibling of [[cohortRetention]]: retention
    * matrices silently treat "hasn't purchased YET" as "never will",
    * biasing every rate downward; KM handles right-censoring exactly.
    * Subject = user, origin = the user's first event, event = first
    * 'purchase', duration in whole days; users with no purchase are
    * censored at the corpus horizon (max ts). Ŝ(t) = Π_{s≤t}
    * (1 − d_s/n_s) with n_s = subjects still at risk entering day s
    * (the standard convention: same-day censorings count as at-risk).
    *
    * Determinism: durations come from MICROSECOND epochs (exact
    * integers both engines — second-truncation order would otherwise
    * flip day boundaries); the product is exp(Σ ln factor) with ln
    * rounded to 9 and decimal-summed (the transcendental discipline),
    * and a d=n day (factor 0) pins survival to exactly 0 from there
    * on instead of feeding ln(0).
    *
    * Scale shape: one event scan collapses to |users| subject rows
    * (map-side-partial min/conditional-min), then to the CALENDAR-
    * bounded day frame — every window after that runs on ≤
    * observation-window-days rows (the declared-bounded-frame rule,
    * [[graft.BoundedWindow]]). */
  def survivalKm(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), col("ts"), col("event_type"))
    val per = ev.groupBy("user_id").agg(
      min(col("ts")).as("origin"),
      min(when(col("event_type") === "purchase", col("ts"))).as("p_ts"))
    val horizon = ev.agg(max(col("ts")).as("h"))
    val durs = per.crossJoin(broadcast(horizon))
      .select(
        floor((unix_micros(coalesce(col("p_ts"), col("h"))) -
          unix_micros(col("origin"))).cast("double") / 86400e6)
          .cast("long").as("t_day"),
        col("p_ts").isNotNull.as("is_event"))
    val byDay = durs.groupBy("t_day").agg(
      sum(when(col("is_event"), 1L).otherwise(0L)).as("n_events"),
      sum(when(col("is_event"), 0L).otherwise(1L)).as("n_censored"))
    val wPre = graft.BoundedWindow.orderBy(col("t_day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wPost = graft.BoundedWindow.orderBy(col("t_day"))
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    byDay
      .withColumn("n_at_risk",
        sum(col("n_events") + col("n_censored")).over(wPost))
      .withColumn("f",
        lit(1.0) - col("n_events").cast("double") / col("n_at_risk"))
      .withColumn("logf", when(col("f") > 0, round(log(col("f")), 9)))
      .withColumn("dead",
        max(when(col("f") === 0, 1L).otherwise(0L)).over(wPre))
      .select(col("t_day"), col("n_at_risk"), col("n_events"),
        col("n_censored"),
        when(col("dead") === 1, lit(0.0))
          .otherwise(round(exp(
            sum(col("logf").cast(DecimalType(28, 12))).over(wPre)
              .cast("double")), 6)).as("survival"))
      .orderBy("t_day")
  }

  def survivalKmOracle: String =
    """WITH per AS (SELECT user_id, MIN(ts) AS origin,
      |    MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS p_ts
      |  FROM events GROUP BY user_id),
      |h AS (SELECT MAX(ts) AS h FROM events),
      |durs AS (SELECT CAST(floor(CAST(epoch_us(COALESCE(p_ts, h.h)) -
      |      epoch_us(origin) AS DOUBLE) / 86400e6) AS BIGINT) AS t_day,
      |    p_ts IS NOT NULL AS is_event
      |  FROM per, h),
      |bd AS (SELECT t_day,
      |    CAST(SUM(CASE WHEN is_event THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_events,
      |    CAST(SUM(CASE WHEN is_event THEN 0 ELSE 1 END) AS BIGINT)
      |      AS n_censored
      |  FROM durs GROUP BY 1),
      |km AS (SELECT t_day, n_events, n_censored,
      |    CAST(SUM(n_events + n_censored) OVER (ORDER BY t_day
      |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS BIGINT)
      |      AS n_at_risk
      |  FROM bd),
      |f AS (SELECT *, CAST(1 AS DOUBLE) -
      |    CAST(n_events AS DOUBLE) / n_at_risk AS fct FROM km),
      |lg AS (SELECT *,
      |    CASE WHEN fct > 0 THEN round(ln(fct), 9) END AS logf,
      |    MAX(CASE WHEN fct = 0 THEN 1 ELSE 0 END) OVER (ORDER BY t_day
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS dead
      |  FROM f)
      |SELECT t_day, n_at_risk, n_events, n_censored,
      |  CASE WHEN dead = 1 THEN CAST(0 AS DOUBLE)
      |    ELSE round(exp(CAST(SUM(CAST(logf AS DECIMAL(28,12)))
      |      OVER (ORDER BY t_day ROWS BETWEEN UNBOUNDED PRECEDING
      |        AND CURRENT ROW) AS DOUBLE)), 6) END AS survival
      |FROM lg ORDER BY t_day""".stripMargin

  /** Time-grid gap-fill: hourly event counts over the COMPLETE hour
    * grid between the first and last event — missing hours surface as
    * explicit zero rows (the resample/densify step of any time-series
    * feed). The grid is generated from a 1-row min/max aggregate
    * (sequence + explode — never a driver-side loop), so it stays a
    * few-KB broadcast join input at any corpus size; the hourly
    * aggregate is one shuffle with map-side partials. */
  def eventsGapfill(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val hourly = ev
      .groupBy(date_trunc("hour", col("ts")).as("hour_ts"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(18, 2))).cast("double")
          .as("sum_value"))
    val grid = ev
      .agg(date_trunc("hour", min(col("ts"))).as("lo"),
        date_trunc("hour", max(col("ts"))).as("hi"))
      .select(explode(sequence(col("lo"), col("hi"),
        expr("interval 1 hour"))).as("hour_ts"))
    grid.join(hourly, Seq("hour_ts"), "left")
      .select(col("hour_ts"), coalesce(col("n"), lit(0L)).as("n"),
        coalesce(col("sum_value"), lit(0.0)).as("sum_value"))
      .orderBy("hour_ts")
  }

  def eventsGapfillOracle: String =
    """WITH h AS (
      |  SELECT date_trunc('hour', ts) AS hour_ts, COUNT(*) AS n,
      |    CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      |  FROM events GROUP BY 1),
      |b AS (
      |  SELECT date_trunc('hour', MIN(ts)) AS lo,
      |         date_trunc('hour', MAX(ts)) AS hi
      |  FROM events),
      |g AS (SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hour_ts
      |      FROM b)
      |SELECT g.hour_ts, COALESCE(h.n, 0) AS n,
      |  COALESCE(h.sum_value, 0.0) AS sum_value
      |FROM g LEFT JOIN h ON g.hour_ts = h.hour_ts
      |ORDER BY g.hour_ts""".stripMargin

  /** Ordered-step conversion funnel view → click → purchase: a user
    * converts at step k only if step k's FIRST qualifying event is
    * strictly after their step-(k−1) conversion time — the product-
    * analytics staple. One conditional aggregation per step, each a
    * hash agg keyed on user_id (the steps co-partition on the same
    * key, so AQE reuses the exchange); the summary is three tiny
    * 1-row frames. No windows, no self-join of the full stream. */
  def funnelEvents(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    def firstAfter(tpe: String, after: Column): Column =
      min(when(col("event_type") === tpe && col("ts") > after, col("ts")))
    val perUser = ev.groupBy("user_id")
      .agg(min(when(col("event_type") === "view", col("ts"))).as("t_view"))
      .join(ev, Seq("user_id"))
      .groupBy("user_id", "t_view")
      .agg(firstAfter("click", col("t_view")).as("t_click"))
      .join(ev, Seq("user_id"))
      .groupBy("user_id", "t_view", "t_click")
      .agg(firstAfter("purchase", col("t_click")).as("t_purchase"))
    perUser.agg(
        count(col("t_view")).as("n_view"),
        count(col("t_click")).as("n_click"),
        count(col("t_purchase")).as("n_purchase"),
        round(count(col("t_click")).cast("double") /
          count(col("t_view")), 6).as("view_to_click"),
        round(count(col("t_purchase")).cast("double") /
          count(col("t_click")), 6).as("click_to_purchase"))
  }

  def funnelEventsOracle: String =
    """WITH s1 AS (SELECT user_id,
      |    MIN(CASE WHEN event_type = 'view' THEN ts END) AS t_view
      |  FROM events GROUP BY user_id),
      |s2 AS (SELECT e.user_id, s1.t_view,
      |    MIN(CASE WHEN e.event_type = 'click' AND e.ts > s1.t_view
      |        THEN e.ts END) AS t_click
      |  FROM events e JOIN s1 USING (user_id)
      |  GROUP BY e.user_id, s1.t_view),
      |s3 AS (SELECT e.user_id, s2.t_view, s2.t_click,
      |    MIN(CASE WHEN e.event_type = 'purchase' AND e.ts > s2.t_click
      |        THEN e.ts END) AS t_purchase
      |  FROM events e JOIN s2 USING (user_id)
      |  GROUP BY e.user_id, s2.t_view, s2.t_click)
      |SELECT CAST(COUNT(t_view) AS BIGINT) AS n_view,
      |  CAST(COUNT(t_click) AS BIGINT) AS n_click,
      |  CAST(COUNT(t_purchase) AS BIGINT) AS n_purchase,
      |  round(CAST(COUNT(t_click) AS DOUBLE) / COUNT(t_view), 6)
      |    AS view_to_click,
      |  round(CAST(COUNT(t_purchase) AS DOUBLE) / COUNT(t_click), 6)
      |    AS click_to_purchase
      |FROM s3""".stripMargin

  /** Markov transition matrix of event types: for every (from → to)
    * pair of CONSECUTIVE same-user events within the 30-minute
    * session gap (same bound as [[sessionize]]), the transition count
    * and the conditional probability P(to | from) — the behavioral
    * fingerprint behind "what usually follows an error". One lead
    * window per user (ties broken by event_id, so the sequence is
    * total-ordered), a |types|²-row hash agg, and a broadcast join of
    * the |types|-row marginals; P from exact integer counts. */
  def eventTransitions(spark: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val gapUs = SessionGapUs
    val pairs = Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), col("ts"), col("event_type"))
      .withColumn("next_type", lead(col("event_type"), 1).over(byUser))
      .withColumn("gap_us",
        lead(unix_micros(col("ts")), 1).over(byUser) - unix_micros(col("ts")))
      .filter(col("next_type").isNotNull && col("gap_us") <= gapUs)
      .groupBy(col("event_type").as("from_type"), col("next_type").as("to_type"))
      .agg(count(lit(1)).as("n"))
    val tot = pairs.groupBy("from_type").agg(sum("n").as("n_from"))
    pairs.join(broadcast(tot), Seq("from_type"))
      .select(col("from_type"), col("to_type"), col("n"),
        round(col("n") / col("n_from"), 6).as("p_cond"))
      .orderBy("from_type", "to_type")
  }

  def eventTransitionsOracle: String =
    """WITH nxt AS (
      |  SELECT event_type,
      |    lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
      |      AS next_type,
      |    lead(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id)
      |      - epoch_us(ts) AS gap_us
      |  FROM events),
      |pairs AS (
      |  SELECT event_type AS from_type, next_type AS to_type,
      |    CAST(COUNT(*) AS BIGINT) AS n
      |  FROM nxt WHERE next_type IS NOT NULL AND gap_us <= 1800000000
      |  GROUP BY 1, 2),
      |tot AS (SELECT from_type, CAST(SUM(n) AS BIGINT) AS n_from
      |        FROM pairs GROUP BY 1)
      |SELECT p.from_type, p.to_type, p.n,
      |  round(CAST(p.n AS DOUBLE) / t.n_from, 6) AS p_cond
      |FROM pairs p JOIN tot t USING (from_type)
      |ORDER BY p.from_type, p.to_type""".stripMargin

  /** Marketing-style conversion attribution: every purchase event is
    * credited to (a) the user's most recent preceding non-purchase
    * event — last touch — and (b) the user's very first event — first
    * touch; the output is the per-channel credit table under both
    * models. Two frame-bounded window passes over ONE user-ordered
    * sort (the exchange is shared), then two |types|-row aggregations
    * full-outer-merged; purchases with no preceding touch credit
    * '(none)'. */
  def attributionTouch(spark: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), col("ts"), col("event_type"))
      .withColumn("last_np",
        last(when(col("event_type") =!= "purchase", col("event_type")),
          ignoreNulls = true)
          .over(byUser.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("first_type",
        first(col("event_type"))
          .over(byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(coalesce(col("last_np"), lit("(none)")).as("last_touch"),
        col("first_type").as("first_touch"))
    val byLast = purchases.groupBy(col("last_touch").as("channel"))
      .agg(count(lit(1)).as("n_last_touch"))
    val byFirst = purchases.groupBy(col("first_touch").as("channel"))
      .agg(count(lit(1)).as("n_first_touch"))
    byLast.join(byFirst, Seq("channel"), "full_outer")
      .select(col("channel"),
        coalesce(col("n_first_touch"), lit(0L)).as("n_first_touch"),
        coalesce(col("n_last_touch"), lit(0L)).as("n_last_touch"))
      .orderBy("channel")
  }

  /** Point-in-time state reconstruction (event sourcing): for every
    * (user, event type), the latest value AS OF a cutoff instant —
    * the "rebuild yesterday's state from the log" primitive behind
    * every backfill and every feature-store snapshot. One hash
    * aggregation with native struct-argmax (`max_by` over the total
    * order (ts, event_id) — the argmax discipline: map-side partials,
    * no per-group window, no self-join); the cutoff filter pushes to
    * the scan, so the log after T is never read. */
  def snapshotReconstruct(spark: SparkSession, dir: String): DataFrame = {
    val cutoff = "2025-06-01"
    Tables.events(spark, dir)
      .filter(col("ts") < lit(cutoff).cast("timestamp"))
      .groupBy(col("user_id"), col("event_type"))
      .agg(
        max(col("ts")).as("last_ts"),
        max_by(col("value"), struct(col("ts"), col("event_id")))
          .as("last_value"),
        count(lit(1)).as("n_events"))
      .select(col("user_id"), col("event_type"), col("last_ts"),
        round(col("last_value"), 6).as("last_value"), col("n_events"))
      .orderBy("user_id", "event_type")
  }

  def snapshotReconstructOracle: String =
    """WITH r AS (SELECT user_id, event_type, ts, event_id, value,
      |    row_number() OVER (PARTITION BY user_id, event_type
      |      ORDER BY ts DESC, event_id DESC) AS rk,
      |    MAX(ts) OVER (PARTITION BY user_id, event_type) AS last_ts,
      |    COUNT(*) OVER (PARTITION BY user_id, event_type) AS n_events
      |  FROM events WHERE ts < TIMESTAMP '2025-06-01')
      |SELECT user_id, event_type, last_ts,
      |  round(value, 6) AS last_value, CAST(n_events AS BIGINT) AS n_events
      |FROM r WHERE rk = 1 ORDER BY user_id, event_type""".stripMargin

  def attributionTouchOracle: String =
    """WITH w AS (
      |  SELECT user_id, event_id, ts, event_type,
      |    last_value(CASE WHEN event_type <> 'purchase' THEN event_type END
      |               IGNORE NULLS)
      |      OVER (PARTITION BY user_id ORDER BY ts, event_id
      |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS last_np,
      |    first_value(event_type)
      |      OVER (PARTITION BY user_id ORDER BY ts, event_id
      |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS first_type
      |  FROM events),
      |p AS (SELECT COALESCE(last_np, '(none)') AS last_touch,
      |             first_type AS first_touch
      |      FROM w WHERE event_type = 'purchase'),
      |bl AS (SELECT last_touch AS channel, CAST(COUNT(*) AS BIGINT)
      |         AS n_last_touch FROM p GROUP BY 1),
      |bf AS (SELECT first_touch AS channel, CAST(COUNT(*) AS BIGINT)
      |         AS n_first_touch FROM p GROUP BY 1)
      |SELECT COALESCE(bl.channel, bf.channel) AS channel,
      |  CAST(COALESCE(bf.n_first_touch, 0) AS BIGINT) AS n_first_touch,
      |  CAST(COALESCE(bl.n_last_touch, 0) AS BIGINT) AS n_last_touch
      |FROM bl FULL OUTER JOIN bf ON bl.channel = bf.channel
      |ORDER BY channel""".stripMargin

  /** Interval union per user (merge-overlaps / gaps-and-islands over
    * true intervals): each event occupies [ts, ts+value seconds];
    * merge the overlapping ones and report coverage — the
    * resource-utilization primitive (machine busy-time, user active
    * time, GPU occupancy) that a plain sessionize (gap-only, point
    * events) can't express. Island detection is the classic running
    * max-of-ends: a new island starts where the start exceeds every
    * prior end; all windows are partitioned by user, so parallelism
    * scales with users and the per-task sort is one user's events.
    * Pure integer epoch-second arithmetic end to end. */
  def intervalCoverage(spark: SparkSession, dir: String): DataFrame = {
    val wOrd = Window.partitionBy("user_id").orderBy("s", "event_id")
    val e = Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), col("value"),
        unix_timestamp(col("ts")).as("s"))
      .withColumn("en", col("s") + floor(col("value")).cast("long"))
    val islands = e
      .withColumn("prev_max_en",
        max(col("en")).over(wOrd.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("is_new",
        (col("prev_max_en").isNull || col("s") > col("prev_max_en"))
          .cast("long"))
      .withColumn("island",
        sum(col("is_new")).over(
          wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("user_id", "island")
      .agg(min(col("s")).as("ist"), max(col("en")).as("ien"),
        count(lit(1)).as("n_ev"))
    islands.groupBy("user_id")
      .agg(sum(col("n_ev")).as("n_events"),
        count(lit(1)).as("n_islands"),
        sum(col("ien") - col("ist")).as("covered_seconds"),
        (max(col("ien")) - min(col("ist"))).as("span_seconds"))
      .select(col("user_id"), col("n_events"), col("n_islands"),
        col("covered_seconds"), col("span_seconds"),
        // greatest(span,1): a lone zero-length interval gives span 0,
        // and 0/0 is engine-dependent (NaN vs NULL vs error)
        round(col("covered_seconds").cast("double") /
          greatest(col("span_seconds"), lit(1L)).cast("double"), 6)
          .as("utilization"))
      .orderBy("user_id")
  }

  def intervalCoverageOracle: String =
    """WITH e AS (SELECT user_id, event_id,
      |    CAST(floor(epoch(ts)) AS BIGINT) AS s,
      |    CAST(floor(epoch(ts)) AS BIGINT) + CAST(floor(value) AS BIGINT)
      |      AS en
      |  FROM events),
      |m AS (SELECT user_id, event_id, s, en,
      |    MAX(en) OVER (PARTITION BY user_id ORDER BY s, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pme
      |  FROM e),
      |fl AS (SELECT user_id, s, en,
      |    CASE WHEN pme IS NULL OR s > pme THEN 1 ELSE 0 END AS is_new,
      |    event_id FROM m),
      |isl AS (SELECT user_id, s, en,
      |    SUM(is_new) OVER (PARTITION BY user_id ORDER BY s, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
      |  FROM fl),
      |g AS (SELECT user_id, island, MIN(s) AS ist, MAX(en) AS ien,
      |    CAST(COUNT(*) AS BIGINT) AS n_ev
      |  FROM isl GROUP BY user_id, island)
      |SELECT user_id, CAST(SUM(n_ev) AS BIGINT) AS n_events,
      |  CAST(COUNT(*) AS BIGINT) AS n_islands,
      |  CAST(SUM(ien - ist) AS BIGINT) AS covered_seconds,
      |  CAST(MAX(ien) - MIN(ist) AS BIGINT) AS span_seconds,
      |  round(CAST(SUM(ien - ist) AS DOUBLE) /
      |    CAST(greatest(MAX(ien) - MIN(ist), 1) AS DOUBLE), 6) AS utilization
      |FROM g GROUP BY user_id ORDER BY user_id""".stripMargin

  val PsiBins = 10

  /** The PSI reference profile fitted on the batch: time midpoint +
    * the base half's binning range. Shared by the batch query and
    * the scan-on-ingest streaming monitor (fit on batch, score on
    * stream). */
  private[graft] case class PsiProfile(mid: Long, vmin: Double, w: Double)

  /** Midpoint (epoch µs) of the event stream's time span — the
    * base/delta boundary both drift gates (PSI, KS) split on. µs sums
    * stay < 2^53, so the double midpoint is exact and its long cast
    * floors exactly like the oracle's integer division; a 0-row
    * stream degrades to mid 0 (empty halves — no population, no
    * drift claim), not a NULL-collect crash. */
  private[graft] def eventsMidUs(spark: SparkSession, dir: String): Long = {
    val midRow = Tables.events(spark, dir)
      .select(unix_micros(col("ts")).as("us"))
      .agg(min(col("us")).as("tmin"), max(col("us")).as("tmax"))
      .select(((col("tmin") + col("tmax")) / 2).cast("long").as("mid"))
      .first()
    if (midRow.isNullAt(0)) 0L else midRow.getLong(0)
  }

  private[graft] def psiProfile(spark: SparkSession, dir: String): PsiProfile = {
    val ev = Tables.events(spark, dir)
      .select(unix_micros(col("ts")).as("us"), col("value"))
    val mid = eventsMidUs(spark, dir)
    val rng = ev.filter(col("us") <= mid)
      .agg(min(col("value")).as("vmin"), max(col("value")).as("vmax"))
      .first()
    val (vmin, vmax) =
      if (rng.isNullAt(0)) (0.0, 0.0) else (rng.getDouble(0), rng.getDouble(1))
    PsiProfile(mid, vmin, if (vmax > vmin) (vmax - vmin) / PsiBins else 1.0)
  }

  /** Clamped fixed-width bin of `value` under the profile. */
  private[graft] def psiBin(pf: PsiProfile): Column =
    least(greatest(
      floor((col("value") - lit(pf.vmin)) / lit(pf.w)), lit(0.0)),
      lit(PsiBins - 1.0)).cast("long")

  /** Population Stability Index of the event `value` distribution
    * between the stream's first and second time half — the
    * feature-drift gate every serving/feature pipeline runs between
    * batches (PSI < 0.1 stable, > 0.25 drifted is the industry
    * reading). Ten fixed-width bins over the base half's exact
    * min/max, add-1 smoothing so empty bins contribute finite terms
    * (no 0·ln 0), PSI = Σ (p−q)·ln(p/q) with each ln rounded to 9
    * then decimal-summed (the partition-order-free discipline).
    * Shape: two scalar passes (the time midpoint, then the base
    * half's value range — the range depends on the midpoint, so the
    * sequencing is inherent), one binning pass collapsing to
    * ≤ 2×[[PsiBins]] cells via map-side partials, everything after
    * on the bounded bin frame. Values outside the base range clamp
    * into the edge bins (the standard PSI convention — new mass
    * beyond the old range IS drift and must land somewhere
    * countable). A half with NO mass reports PSI NULL and verdict
    * false: "base vs a fabricated uniform" is not a drift claim. */
  def psiValueDrift(spark: SparkSession, dir: String): DataFrame = {
    val pf = psiProfile(spark, dir)
    val cells = Tables.events(spark, dir)
      .select(unix_micros(col("ts")).as("us"), col("value"))
      .select(psiBin(pf).as("bin"), (col("us") <= pf.mid).as("is_base"))
      .groupBy("bin")
      .agg(sum(when(col("is_base"), 1L).otherwise(0L)).as("nb"),
        sum(when(!col("is_base"), 1L).otherwise(0L)).as("nd"))
    psiAssemble(spark, cells)
  }

  /** Grid densification + smoothing + the PSI fold over a
    * (bin, nb, nd) cell frame — the arithmetic both the batch query
    * and the streaming monitor share, so their reports are one
    * definition. */
  private[graft] def psiAssemble(spark: SparkSession,
                                 cells: DataFrame): DataFrame = {
    // coalesce: an empty cells frame sums to NULL, and the smoothing
    // must still yield the uniform p = q = 1/bins zero-PSI report
    val tot = cells.agg(coalesce(sum(col("nb")), lit(0L)).as("tb"),
      coalesce(sum(col("nd")), lit(0L)).as("td"))
    val grid = spark.range(PsiBins).select(col("id").as("bin"))
      .join(cells, Seq("bin"), "left")
      .crossJoin(broadcast(tot))
      .select(col("bin"), col("tb"), col("td"),
        coalesce(col("nb"), lit(0L)).as("n_base"),
        coalesce(col("nd"), lit(0L)).as("n_delta"),
        ((coalesce(col("nb"), lit(0L)) + 1).cast("double") /
          (col("tb") + PsiBins)).as("p"),
        ((coalesce(col("nd"), lit(0L)) + 1).cast("double") /
          (col("td") + PsiBins)).as("q"))
      // an EMPTY half has no distribution to compare: its smoothed
      // side is a fabricated uniform, and "base vs uniform" would
      // trip the gate against a population that does not exist —
      // PSI is NULL (verdict false) unless BOTH halves carry mass
      .withColumn("psi_term",
        when(col("tb") > 0 && col("td") > 0,
          round((col("p") - col("q")) * round(log(col("p") / col("q")), 9), 9)))
    val psi = grid.agg(
        sum(col("psi_term").cast(DecimalType(38, 12))).cast("double").as("s"))
      .select(round(col("s"), 6).as("psi"))
    grid.crossJoin(broadcast(psi))
      .select(col("bin"), col("n_base"), col("n_delta"),
        round(col("p"), 6).as("p_base"), round(col("q"), 6).as("p_delta"),
        col("psi_term"), col("psi"),
        coalesce(col("psi") > 0.25, lit(false)).as("drifted"))
      .orderBy("bin")
  }

  /** Exact two-sample Kolmogorov–Smirnov drift gate between the event
    * stream's time halves — the nonparametric companion to
    * [[psiValueDrift]]: PSI reads binned density shift (and depends on
    * the bin grid); KS reads the supremum CDF gap on the RAW value
    * domain, so it catches a pure location/scale shift a coarse grid
    * can blur, and it carries a distribution-free critical value —
    * D > 1.358·√((n₁+n₂)/(n₁·n₂)) rejects at α = 0.05, no calibration
    * folklore needed. Exact, not sampled: per-value (base, delta)
    * counts are a wordcount-shaped aggregate, cumulative counts come
    * from the SAME bucketed two-stage build every rank test here uses
    * ([[Nonparam.cumByValue]] — per-bucket windows plus a
    * domain-bounded prefix table, never a data-sized single-partition
    * window), and the
    * max gap is order-free (single IEEE divisions, no accumulation).
    * One row out: sizes, D, where the gap peaks, the critical value,
    * the verdict. An empty half ⇒ D NULL, drifted false — same
    * no-population-no-claim contract as PSI. */
  def ksValueDrift(spark: SparkSession, dir: String): DataFrame = {
    // only the midpoint — not psiProfile, whose second scan derives
    // the bin grid KS deliberately doesn't use
    val mid = eventsMidUs(spark, dir)
    val byVal = Tables.events(spark, dir)
      .select(col("value").as("x"),
        (unix_micros(col("ts")) <= mid).as("is_base"))
      .groupBy("x")
      .agg(sum(when(col("is_base"), 1L).otherwise(0L)).as("ca"),
        sum(when(!col("is_base"), 1L).otherwise(0L)).as("cb"))
    val tot = byVal.agg(
      coalesce(sum(col("ca")), lit(0L)).as("tb"),
      coalesce(sum(col("cb")), lit(0L)).as("td"))
    val gaps = Nonparam.cumByValue(byVal, 10.0)
      .crossJoin(broadcast(tot))
      .filter(col("tb") > 0 && col("td") > 0)
      .select(col("x").as("value"),
        round(abs((col("cuma_excl") + col("ca")).cast("double") / col("tb") -
          (col("cumb_excl") + col("cb")).cast("double") / col("td")), 9)
          .as("gap"))
    // argmax by (gap desc, value asc) — struct max with negated value
    val dRow = gaps
      .agg(max(struct(col("gap").as("d"), (-col("value")).as("nv"))).as("m"))
      .select(col("m.d").as("ks_d"), (-col("m.nv")).as("at_value"))
    tot.crossJoin(broadcast(dRow))
      .select(col("tb").as("n_base"), col("td").as("n_delta"),
        col("ks_d"), col("at_value"),
        when(col("tb") > 0 && col("td") > 0,
          round(lit(1.358) * sqrt((col("tb") + col("td")).cast("double") /
            (col("tb") * col("td"))), 9)).as("crit_05"))
      .withColumn("drifted",
        coalesce(col("ks_d") > col("crit_05"), lit(false)))
  }

  def ksValueDriftOracle: String =
    s"""WITH ev AS (SELECT epoch_us(ts) AS us, value FROM events),
       |mid AS (SELECT CAST((MIN(us) + MAX(us)) // 2 AS BIGINT) AS mid FROM ev),
       |pv AS (SELECT value,
       |    CAST(SUM(CASE WHEN us <= mid THEN 1 ELSE 0 END) AS BIGINT) AS nb,
       |    CAST(SUM(CASE WHEN us > mid THEN 1 ELSE 0 END) AS BIGINT) AS nd
       |  FROM ev, mid GROUP BY value),
       |tot AS (SELECT CAST(COALESCE(SUM(nb), 0) AS BIGINT) AS tb,
       |    CAST(COALESCE(SUM(nd), 0) AS BIGINT) AS td FROM pv),
       |cum AS (SELECT value,
       |    SUM(nb) OVER (ORDER BY value
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cb,
       |    SUM(nd) OVER (ORDER BY value
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cd
       |  FROM pv),
       |gaps AS (SELECT value,
       |    round(abs(CAST(cb AS DOUBLE) / tb - CAST(cd AS DOUBLE) / td), 9)
       |      AS gap
       |  FROM cum, tot WHERE tb > 0 AND td > 0),
       |d AS (SELECT gap AS ks_d, value AS at_value FROM gaps
       |      ORDER BY gap DESC, value ASC LIMIT 1)
       |SELECT t.tb AS n_base, t.td AS n_delta, d.ks_d, d.at_value,
       |  CASE WHEN t.tb > 0 AND t.td > 0
       |    THEN round(1.358 * sqrt(CAST(t.tb + t.td AS DOUBLE) /
       |      (t.tb * t.td)), 9) END AS crit_05,
       |  COALESCE(d.ks_d > (CASE WHEN t.tb > 0 AND t.td > 0
       |    THEN round(1.358 * sqrt(CAST(t.tb + t.td AS DOUBLE) /
       |      (t.tb * t.td)), 9) END), false) AS drifted
       |FROM tot t LEFT JOIN d ON true""".stripMargin

  def psiValueDriftOracle: String =
    s"""WITH ev AS (SELECT epoch_us(ts) AS us, value FROM events),
       |mid AS (SELECT CAST((MIN(us) + MAX(us)) // 2 AS BIGINT) AS mid FROM ev),
       |rng AS (SELECT MIN(value) AS vmin, MAX(value) AS vmax
       |  FROM ev, mid WHERE us <= mid),
       |wd AS (SELECT vmin,
       |    CASE WHEN vmax > vmin THEN (vmax - vmin) / $PsiBins ELSE 1.0 END
       |      AS w FROM rng),
       |cells AS (SELECT
       |    CAST(LEAST(GREATEST(floor((value - vmin) / w), 0.0),
       |      ${PsiBins - 1}.0) AS BIGINT) AS bin,
       |    CAST(SUM(CASE WHEN us <= mid THEN 1 ELSE 0 END) AS BIGINT) AS nb,
       |    CAST(SUM(CASE WHEN us > mid THEN 1 ELSE 0 END) AS BIGINT) AS nd
       |  FROM ev, mid, wd GROUP BY 1),
       |tot AS (SELECT CAST(COALESCE(SUM(nb), 0) AS BIGINT) AS tb,
       |    CAST(COALESCE(SUM(nd), 0) AS BIGINT) AS td FROM cells),
       |grid AS (SELECT r.range AS bin, tb, td,
       |    COALESCE(nb, 0) AS n_base, COALESCE(nd, 0) AS n_delta,
       |    CAST(COALESCE(nb, 0) + 1 AS DOUBLE) / (tb + $PsiBins) AS p,
       |    CAST(COALESCE(nd, 0) + 1 AS DOUBLE) / (td + $PsiBins) AS q
       |  FROM range($PsiBins) r LEFT JOIN cells ON cells.bin = r.range, tot),
       |terms AS (SELECT *,
       |    CASE WHEN tb > 0 AND td > 0
       |         THEN round((p - q) * round(ln(p / q), 9), 9) END AS psi_term
       |  FROM grid),
       |psi AS (SELECT round(CAST(SUM(CAST(psi_term AS DECIMAL(38,12)))
       |      AS DOUBLE), 6) AS psi FROM terms)
       |SELECT bin, n_base, n_delta, round(p, 6) AS p_base,
       |  round(q, 6) AS p_delta, psi_term, psi.psi,
       |  COALESCE(psi.psi > 0.25, false) AS drifted
       |FROM terms, psi ORDER BY bin""".stripMargin

  /** Ingest-freshness audit — the pipeline-operational table every
    * lakehouse on-call reads first: per event type, volume, last-seen
    * timestamp, and its LAG behind the freshest stream, with a stale
    * flag at the 24 h SLA. "Now" is the corpus's own max timestamp
    * (both engines see identical data, so the reference clock must
    * come FROM the data — a wall clock would be unoracleable and
    * retry-nondeterministic). One scan collapsed by a map-side-
    * partial agg to |event types| rows; the global max is a second
    * aggregate over that bounded frame (declared window), never a
    * second scan. Lag arithmetic runs in exact integer microseconds
    * until the final display division. */
  def eventFreshness(spark: SparkSession, dir: String): DataFrame =
    freshnessReport(Tables.events(spark, dir)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_events"), max(col("ts")).as("last_ts")))

  /** Assemble the freshness table from a per-type
    * (event_type, n_events, last_ts) frame — shared by the batch scan
    * and the streaming monitor (count and max are order-free
    * converging aggregates, so the streamed per-type frame equals the
    * batch one exactly and both register the same oracle object). */
  private[graft] def freshnessReport(per: DataFrame): DataFrame =
    per
      .withColumn("gmax_us",
        max(unix_micros(col("last_ts"))).over(graft.BoundedWindow.all))
      .select(col("event_type"), col("n_events"), col("last_ts"),
        round((col("gmax_us") - unix_micros(col("last_ts"))) / 3600000000.0, 6)
          .as("lag_hours"),
        (col("gmax_us") - unix_micros(col("last_ts")) > 86400000000L)
          .as("stale_24h"))
      .orderBy("event_type")

  def eventFreshnessOracle: String =
    """WITH p AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_events,
      |    MAX(ts) AS last_ts
      |  FROM events GROUP BY 1),
      |g AS (SELECT MAX(epoch_us(last_ts)) AS gmax_us FROM p)
      |SELECT p.event_type, p.n_events, p.last_ts,
      |  round((g.gmax_us - epoch_us(p.last_ts)) / 3600000000.0, 6)
      |    AS lag_hours,
      |  g.gmax_us - epoch_us(p.last_ts) > 86400000000 AS stale_24h
      |FROM p, g ORDER BY p.event_type""".stripMargin
}
