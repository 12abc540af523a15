package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types.DecimalType

/** Structured Streaming forms of the event operators.
  *
  * The reference is batch-only (SURVEY §2.9); these are the streaming
  * twins of EventOps: same logical transforms declared over a
  * streaming DataFrame, executed incrementally with watermark-bounded
  * state. At scale, state lives in the state store keyed by
  * (window, event_type) / user_id — partitioned like any shuffle, so a
  * 1000-executor cluster shards state horizontally.
  */
object EventStream {

  case class Event(event_id: Long, ts: Timestamp, user_id: Long,
                   event_type: String, value: Double)

  case class SessionOut(user_id: Long, session_start: Timestamp,
                        session_end: Timestamp, n_events: Long,
                        session_value: Double)

  case class AsOfOut(event_id: Long, user_id: Long, ts: Timestamp,
                     prev_click_ts: Timestamp, gap_us: Long)

  case class SessionState(start: Long, last: Long, n: Long, total: Double)

  // session boundaries are tracked in epoch MICROseconds: the event
  // timestamps carry microsecond precision and a millis-based state
  // would emit truncated session_start/end (breaking oracle parity)
  private def toMicros(t: Timestamp): Long =
    t.getTime * 1000L + (t.getNanos % 1000000) / 1000L

  private def toTimestamp(us: Long): Timestamp = {
    val t = new Timestamp(Math.floorDiv(us, 1000000L) * 1000L)
    t.setNanos(Math.floorMod(us, 1000000L).toInt * 1000)
    t
  }

  /** Tumbling 1-hour windowed counts with a 10-minute watermark: late
    * events beyond the watermark are dropped and their window's state
    * evicted — bounded state regardless of stream length. Append mode
    * emits each window once, when the watermark passes its end. */
  def windowedCounts(events: DataFrame,
                     watermark: String = "10 minutes",
                     window_ : String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), window_), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(18, 2))).cast("double").as("sum_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n"), col("sum_value"))

  /** The streaming windowed agg run to completion over the events
    * table as a bounded file stream — this is the driver-oracled
    * streaming query: identical output contract to the batch
    * EventOps.timeWindow (1-hour tumbling windows align to epoch
    * hours, exactly date_trunc('hour')), so it verifies against the
    * SAME DuckDB oracle. Complete mode because a bounded stream's
    * final window never passes the watermark in append mode. */
  def windowedCountsOverFiles(spark: org.apache.spark.sql.SparkSession,
                              dir: String): DataFrame =
    BoundedReplay.events(spark, dir, OutputMode.Complete) { stream =>
      windowedCounts(stream, watermark = "0 seconds")
    }.select(col("window_start").as("hour_ts"), col("event_type"),
        col("n"), col("sum_value"))
      .orderBy("hour_ts", "event_type")

  /** SLIDING windowed counts run to completion: 1-hour windows
    * advancing every 15 minutes, so each event lands in FOUR
    * overlapping windows — the smoothing form every rate monitor
    * uses (a tumbling window's edge artifacts disappear when the
    * window slides). State holds window_len/slide concurrent frames
    * per key instead of one; everything else — watermark eviction,
    * complete-mode bounded replay — matches the tumbling twin. The
    * oracle reproduces the overlap by exploding each event to its
    * four covering window starts (generate_series over the slide
    * grid), which is exactly Spark's window-assignment semantics for
    * slide < length. */
  def slidingCountsOverFiles(spark: org.apache.spark.sql.SparkSession,
                             dir: String): DataFrame = {
    BoundedReplay.events(spark, dir, OutputMode.Complete) { stream =>
      stream
        .withWatermark("ts", "0 seconds")
        .groupBy(window(col("ts"), "1 hour", "15 minutes"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast(DecimalType(18, 2))).cast("double").as("sum_value"))
        .select(col("window.start").as("window_start"), col("event_type"),
          col("n"), col("sum_value"))
    }.orderBy("window_start", "event_type")
  }

  def slidingCountsOverFilesOracle: String =
    """WITH win AS (
      |  SELECT e.event_type, e.value,
      |    make_timestamp(g) AS window_start
      |  FROM (SELECT event_type, value,
      |          (epoch_us(ts) // 900000000) * 900000000 AS slot_us
      |        FROM events) e,
      |  LATERAL unnest(generate_series(e.slot_us - 2700000000,
      |                                 e.slot_us, 900000000)) AS t(g))
      |SELECT window_start, event_type, CAST(COUNT(*) AS BIGINT) AS n,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      |FROM win GROUP BY 1, 2 ORDER BY window_start, event_type""".stripMargin

  /** Stream-static enrichment join run to completion over a bounded
    * file stream: each streamed event joins a STATIC per-type profile
    * (its global average value, computed batch-side with the exact
    * decimal discipline), and the enriched stream re-aggregates into
    * above-average counts per type. Stream-static is the standard
    * dimension-enrichment shape — the static side broadcasts fresh per
    * micro-batch, no state store involvement for the join itself; the
    * downstream agg runs Complete mode (bounded stream). Verifies
    * against a pure-SQL twin of the same join+agg. */
  def streamStaticJoinOverFiles(spark: org.apache.spark.sql.SparkSession,
                                dir: String): DataFrame = {
    val typeAvg = graft.Tables.events(spark, dir)
      .groupBy(col("event_type"))
      .agg((sum(col("value").cast(org.apache.spark.sql.types.DecimalType(18, 2)))
        .cast("double") / count(lit(1))).as("avg_value"))
    BoundedReplay.events(spark, dir, OutputMode.Complete) { stream =>
      stream.join(broadcast(typeAvg), Seq("event_type"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_total"),
          sum(when(col("value") > col("avg_value"), 1L).otherwise(0L))
            .as("n_above"))
    }.orderBy("event_type")
  }

  def streamStaticJoinOverFilesOracle: String =
    """WITH a AS (
      |  SELECT event_type,
      |    CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*)
      |      AS avg_value
      |  FROM events GROUP BY 1)
      |SELECT e.event_type, COUNT(*) AS n_total,
      |  CAST(SUM(CASE WHEN e.value > a.avg_value THEN 1 ELSE 0 END)
      |       AS BIGINT) AS n_above
      |FROM events e JOIN a USING (event_type)
      |GROUP BY e.event_type ORDER BY event_type""".stripMargin

  /** Stateless model-apply on a stream: score each event against its
    * type's PRE-COMPUTED (batch) mean/σ and emit 2σ outliers — the
    * fit-on-batch / score-on-stream deployment shape. The bounds
    * frame is 5 rows and broadcast per micro-batch; the stream side
    * is a pure filter-projection — no state store, no watermark, no
    * shuffle, Append mode — so streaming throughput equals scan
    * throughput at any scale. Moments use exact decimal sums and z is
    * rounded before the threshold compare (the batch outlier
    * discipline), so the emitted set is engine-exact and oracled
    * against the identical batch SQL. */
  def outlierScoreOverFiles(spark: org.apache.spark.sql.SparkSession,
                            dir: String): DataFrame = {
    import org.apache.spark.sql.types._
    val stats = graft.Tables.events(spark, dir)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).cast("double").as("n"),
        sum(col("value").cast(DecimalType(18, 2))).cast("double").as("sx"),
        sum((col("value") * col("value")).cast(DecimalType(27, 4)))
          .cast("double").as("sxx"))
      .select(col("event_type"), (col("sx") / col("n")).as("mean"),
        sqrt((col("sxx") - col("sx") * col("sx") / col("n")) / col("n")).as("sd"))
    BoundedReplay.events(spark, dir, OutputMode.Append) { stream =>
      stream.join(broadcast(stats), Seq("event_type"))
        .select(col("event_id"), col("event_type"),
          round((col("value") - col("mean")) / col("sd"), 6).as("z"))
        .filter(abs(col("z")) > 2.0)
    }.orderBy("event_id")
  }

  def outlierScoreOverFilesOracle: String =
    """WITH g AS (SELECT event_type,
      |    CAST(COUNT(*) AS DOUBLE) AS n,
      |    CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sx,
      |    CAST(SUM(CAST(value*value AS DECIMAL(27,4))) AS DOUBLE) AS sxx
      |  FROM events GROUP BY 1),
      |s AS (SELECT event_type, sx/n AS mean,
      |    sqrt((sxx - sx*sx/n)/n) AS sd FROM g)
      |SELECT e.event_id, e.event_type,
      |  round((e.value - s.mean)/s.sd, 6) AS z
      |FROM events e JOIN s USING (event_type)
      |WHERE abs(round((e.value - s.mean)/s.sd, 6)) > 2.0
      |ORDER BY e.event_id""".stripMargin

  /** Gap-based sessionization with explicit state
    * (flatMapGroupsWithState + event-time timeout): a session closes
    * when the watermark passes last-event + gap; closed sessions are
    * emitted downstream, state is dropped. The streaming twin of
    * EventOps.sessionize. */
  def sessionize(events: Dataset[Event],
                 gapMinutes: Int = 30,
                 watermark: String = "10 minutes"): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    val gapUs = gapMinutes * 60000000L
    events
      .withWatermark("ts", watermark)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, SessionOut](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (userId: Long, rows: Iterator[Event], state: GroupState[SessionState]) =>
          // session_value totals are 2-dp inputs accumulated in double;
          // round at emit so the result matches the batch twin's
          // decimal(18,2) sum regardless of micro-batch boundaries
          def emit(s: SessionState): SessionOut =
            SessionOut(userId, toTimestamp(s.start), toTimestamp(s.last),
              s.n, math.rint(s.total * 100) / 100)
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator.single(emit(s))
          } else {
            // merge the batch's events into per-user sessions in event
            // order; emit every session closed by a following event,
            // keep the trailing one in state with a gap timeout
            val sorted = rows.toSeq.sortBy(e => (toMicros(e.ts), e.event_id))
            var cur = state.getOption
            val closed = Seq.newBuilder[SessionOut]
            sorted.foreach { e =>
              val t = toMicros(e.ts)
              cur match {
                case Some(s) if t - s.last <= gapUs =>
                  // a late-but-in-watermark event may predate s.last
                  // (cross-batch reordering): widen the session, never
                  // shrink it — last must stay monotone or a following
                  // in-order event would see a phantom gap
                  cur = Some(s.copy(start = math.min(s.start, t),
                    last = math.max(s.last, t),
                    n = s.n + 1, total = s.total + e.value))
                case Some(s) =>
                  closed += emit(s)
                  cur = Some(SessionState(t, t, 1, e.value))
                case None =>
                  cur = Some(SessionState(t, t, 1, e.value))
              }
            }
            cur.foreach { s =>
              state.update(s)
              // event-time timeout is millisecond-granular: round UP,
              // or a sub-millisecond truncation lets the timeout fire
              // before the gap has fully elapsed and split a session
              // the batch twin would merge
              state.setTimeoutTimestamp((s.last + gapUs + 999L) / 1000L)
            }
            closed.result().iterator
          }
      }
  }

  /** STREAMING as-of join — the incremental twin of the native batch
    * as-of operator (org.apache.spark.sql.graft.AsOfJoinExec): every
    * error event pairs with the latest click that precedes it in the
    * per-user (ts, event_id) order, emitted AS THE ERRORS ARRIVE.
    * Spark has no streaming as-of; the engine expresses it as
    * per-user state of exactly ONE value — the floor click's epoch
    * µs — folded by flatMapGroupsWithState: O(1) state per user (the
    * interval-join formulation of the same question buffers a full
    * watermark window of BOTH sides), no watermark needed for
    * emission because the match is known the moment the error
    * arrives. Within a micro-batch events sort by (ts, event_id) —
    * the same total order the batch window form ranks by — so a
    * click sharing an error's timestamp matches iff its id is lower,
    * exactly like the batch `rowsBetween(-1)` frame. Run to
    * completion over the bounded file replay it verifies against THE
    * SAME oracle as the batch [[graft.operators.EventOps.asofErrorClick]]. */
  def asofOverFiles(spark: org.apache.spark.sql.SparkSession,
                    dir: String): DataFrame = {
    import spark.implicits._
    BoundedReplay.events(spark, dir, OutputMode.Append) { stream =>
      // NULL-key contract: an as-of join is keyed per user, so an event
      // with no user_id has no stream to match in — dropped, same as
      // keyed-stream semantics everywhere (a NULL key would otherwise
      // conflate unknown users into one fictitious session, or crash
      // the non-nullable Event decode)
      stream.filter(col("event_type").isin("error", "click") &&
          col("user_id").isNotNull)
        .select(col("event_id"), col("ts"), col("user_id"),
          col("event_type"), col("value"))
        .as[Event]
        .groupByKey(_.user_id)
        .flatMapGroupsWithState[Long, AsOfOut](
          OutputMode.Append, GroupStateTimeout.NoTimeout) {
          (userId: Long, rows: Iterator[Event], state: GroupState[Long]) =>
            // state = epoch µs of the user's latest click so far;
            // Long.MinValue encodes "none yet"
            var lastClick = state.getOption.getOrElse(Long.MinValue)
            val out = rows.toSeq.sortBy(e => (toMicros(e.ts), e.event_id))
              .flatMap { e =>
                if (e.event_type == "click") {
                  lastClick = math.max(lastClick, toMicros(e.ts)); None
                } else if (lastClick != Long.MinValue &&
                    lastClick <= toMicros(e.ts)) {
                  // the <= guard matters only when the replay spans
                  // micro-batches (maxFilesPerTrigger, a late-arriving
                  // file): the carried state is the max click ts seen in
                  // EARLIER batches, which may postdate an out-of-order
                  // error in THIS batch — matching it would emit a
                  // negative gap_us no batch oracle produces. Such an
                  // error is dropped instead (the O(1)-state design
                  // keeps no earlier clicks to fall back to);
                  // cross-batch out-of-order input that must still
                  // match needs the watermark-buffered interval-join
                  // form, not this operator.
                  Some(AsOfOut(e.event_id, userId, e.ts,
                    toTimestamp(lastClick), toMicros(e.ts) - lastClick))
                } else None
              }
            state.update(lastClick)
            out.iterator
        }
        .toDF()
    }.select(col("event_id"), col("user_id"), col("ts"),
        col("prev_click_ts"), col("gap_us"))
      .orderBy("event_id")
  }

  /** Streaming key de-duplication with watermark-bounded state
    * (dropDuplicatesWithinWatermark): first arrival per (user, type)
    * key wins; state for a key is dropped once the watermark passes
    * its event time + the delay, so state is O(watermark window), not
    * O(stream). The output projects ONLY the key columns — which row
    * of a duplicate set arrives "first" is execution-order-dependent,
    * but the surviving KEY SET is exactly the distinct keys, so the
    * key projection is deterministic and oracle-able as SELECT
    * DISTINCT. (Exactly DISTINCT because the bounded replay is one
    * micro-batch: the watermark only advances between batches, so no
    * key's state evicts mid-run. On an unbounded stream a key
    * recurring after eviction re-emits — that is the operator's
    * documented contract, not a defect.) */
  def distinctKeysOverFiles(spark: org.apache.spark.sql.SparkSession,
                            dir: String): DataFrame = {
    BoundedReplay.events(spark, dir, OutputMode.Append) { stream =>
      stream
        .withWatermark("ts", "10 minutes")
        .dropDuplicatesWithinWatermark("user_id", "event_type")
        .select(col("user_id"), col("event_type"))
    }.orderBy("user_id", "event_type")
  }

  def distinctKeysOverFilesOracle: String =
    """SELECT DISTINCT user_id, event_type FROM events
      |ORDER BY user_id, event_type""".stripMargin

  /** PSI drift monitor in its DEPLOYMENT shape — fit on batch, score
    * on stream: the reference profile (time midpoint + base-half bin
    * range, [[graft.operators.EventOps.psiProfile]]) and the base bin
    * distribution come from ONE batch pass over the standing data;
    * the arriving half then bins ON INGEST through the broadcast
    * profile literals, maintaining only [[graft.operators.EventOps
    * .PsiBins]] rows of counting state. The final report runs through
    * the SAME assembly arithmetic as the batch `psi_value_drift`
    * (one shared definition) and verifies against the identical
    * oracle — the fit-on-batch/score-on-stream pattern of
    * `stream_outlier_score`, applied to distribution drift. */
  def psiMonitorOverFiles(spark: org.apache.spark.sql.SparkSession,
                          dir: String): DataFrame = {
    import graft.operators.EventOps
    val pf = EventOps.psiProfile(spark, dir)
    val baseCells = graft.Tables.events(spark, dir)
      .filter(unix_micros(col("ts")) <= pf.mid)
      .select(EventOps.psiBin(pf).as("bin"))
      .groupBy("bin").agg(count(lit(1)).as("nb"))
    val arriving = BoundedReplay.events(spark, dir, OutputMode.Complete) {
      _.filter(unix_micros(col("ts")) > pf.mid) // the ARRIVING half
        .select(EventOps.psiBin(pf).as("bin"))
        .groupBy("bin").agg(count(lit(1)).as("nd"))
    }
    val cells = baseCells
      .join(arriving, Seq("bin"), "full_outer")
      .select(col("bin"), coalesce(col("nb"), lit(0L)).as("nb"),
        coalesce(col("nd"), lit(0L)).as("nd"))
    EventOps.psiAssemble(spark, cells)
  }

  /** Ingest-freshness monitor maintained ON the stream — the
    * streaming twin of [[graft.operators.EventOps.eventFreshness]]:
    * per event type, volume and last-seen timestamp as ONE streaming
    * aggregation (count is a sum, last_ts a max — both order-free and
    * duplicate-safe under Complete-mode re-emission, so the converged
    * state table equals the batch scan exactly). State is |event
    * types| rows at any stream length — the O(state)-not-O(stream)
    * monitor discipline of the sketch family. The lag/SLA assembly is
    * the literal shared [[graft.operators.EventOps.freshnessReport]],
    * so both forms register the SAME oracle object. This is the
    * monitor a lakehouse actually keeps hot: "which ingest streams
    * are current, right now" without rescanning the corpus. */
  def freshnessMonitorOverFiles(
      spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame = {
    graft.operators.EventOps.freshnessReport(
      BoundedReplay.events(spark, dir, OutputMode.Complete) { stream =>
        stream
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n_events"), max(col("ts")).as("last_ts"))
      })
  }

  /** Gap sessionizer on Spark 4's transformWithState API (arbitrary
    * stateful processing v2, RocksDB-backed): the same session fold as
    * [[sessionize]], but state lives in a typed [[ValueState]] inside a
    * [[StatefulProcessor]] — the modern replacement for
    * flatMapGroupsWithState, with per-state-variable encoders and TTL.
    * A "flush" sentinel event closes the trailing session in-line
    * (TimeMode.None — no timers needed on a bounded stream), so the
    * result is byte-identical to the batch gap sessionization. */
  private[streaming] class GapSessionProcessor(gapUs: Long)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, Event, SessionOut] {
    @transient private var session:
        org.apache.spark.sql.streaming.ValueState[SessionState] = _

    override def init(outputMode: OutputMode,
                      timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      session = getHandle.getValueState[SessionState]("session",
        org.apache.spark.sql.Encoders.product[SessionState],
        org.apache.spark.sql.streaming.TTLConfig.NONE)

    override def handleInputRows(user: Long, rows: Iterator[Event],
        tv: org.apache.spark.sql.streaming.TimerValues): Iterator[SessionOut] = {
      def emit(s: SessionState): SessionOut =
        SessionOut(user, toTimestamp(s.start), toTimestamp(s.last),
          s.n, math.rint(s.total * 100) / 100)
      val sorted = rows.toSeq.sortBy(e => (toMicros(e.ts), e.event_id))
      var cur = if (session.exists()) Some(session.get()) else None
      val closed = Seq.newBuilder[SessionOut]
      sorted.foreach { e =>
        val t = toMicros(e.ts)
        if (e.event_type == "flush") {
          cur.foreach(s => closed += emit(s))
          cur = None
        } else cur match {
          case Some(s) if t - s.last <= gapUs =>
            cur = Some(s.copy(start = math.min(s.start, t),
              last = math.max(s.last, t), n = s.n + 1,
              total = s.total + e.value))
          case Some(s) =>
            closed += emit(s)
            cur = Some(SessionState(t, t, 1, e.value))
          case None =>
            cur = Some(SessionState(t, t, 1, e.value))
        }
      }
      cur match {
        case Some(s) => session.update(s)
        case None => session.clear()
      }
      closed.result().iterator
    }
  }

  /** [[GapSessionProcessor]] run to completion over the bounded file
    * stream — same sentinel staging as [[sessionizeOverFiles]], same
    * oracle. RocksDB is the required state store provider for
    * transformWithState; the previous provider is restored after. */
  def sessionizeTwsOverFiles(spark: org.apache.spark.sql.SparkSession,
                             dir: String, gapMinutes: Int = 30): DataFrame = {
    import spark.implicits._
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val prevProvider = spark.conf.getOption(providerKey)
    spark.conf.set(providerKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      BoundedReplay.events(spark, dir, OutputMode.Append,
          Some(flushSentinels(gapMinutes))) { stream =>
        stream.as[Event].groupByKey(_.user_id)
          .transformWithState(new GapSessionProcessor(gapMinutes * 60000000L),
            org.apache.spark.sql.streaming.TimeMode.None(),
            OutputMode.Append())
          .toDF()
      }.orderBy("user_id", "session_start")
    } finally {
      prevProvider match {
        case Some(p) => spark.conf.set(providerKey, p)
        case None => spark.conf.unset(providerKey)
      }
    }
  }

  def sessionizeTwsOverFilesOracle: String = sessionizeOverFilesOracle

  /** The streaming sessionizer run to completion over the events table
    * as a bounded file stream — driver-oracled like
    * [[windowedCountsOverFiles]]. Append mode never emits a user's
    * trailing session on a bounded stream (no later batch advances the
    * watermark past its timeout), so a sentinel "flush" event per user
    * — gap + 1 h after the last real event — closes every real session
    * in-batch; sentinel sessions themselves stay in state and are
    * never emitted, and the output is filtered to real session starts
    * anyway. Result ≡ the batch gap-sessionization, so it verifies
    * against the same session SQL. */
  def sessionizeOverFiles(spark: org.apache.spark.sql.SparkSession,
                          dir: String, gapMinutes: Int = 30): DataFrame = {
    import spark.implicits._
    BoundedReplay.events(spark, dir, OutputMode.Append,
        Some(flushSentinels(gapMinutes))) { stream =>
      sessionize(stream.as[Event], gapMinutes).toDF()
    }.orderBy("user_id", "session_start")
  }

  /** One "flush" event per user, gap + 1 h after the last real event:
    * it closes the user's trailing session in-batch. A session starting
    * at the sentinel time is the sentinel's own and is filtered out. */
  private def flushSentinels(gapMinutes: Int): BoundedReplay.Sentinels =
    BoundedReplay.Sentinels((gapMinutes + 60L) * 60000000L,
      (batch, ts) => batch.select(col("user_id")).distinct()
        .select((col("user_id") + 1000000000L).as("event_id"), ts.as("ts"),
          col("user_id"), lit("flush").as("event_type"),
          lit(0.0).as("value"), lit(null).cast("string").as("props")),
      sentinelUs => unix_micros(col("session_start")) < sentinelUs)

  /** Stream-stream interval join: every (error, click) pair for the
    * same user where the click lands within an hour of the error — the
    * funnel/attribution join. Both sides carry a watermark and the join
    * condition bounds event time in BOTH directions, so Spark derives a
    * state-eviction bound for each side: state is O(watermark + 1 h of
    * stream), not O(stream). Inner stream-stream joins emit a match as
    * soon as both rows arrive (the watermark only evicts state), so a
    * bounded run emits every pair. At scale the join state is sharded
    * by user_id across the cluster like any shuffle. */
  def intervalJoin(errors: DataFrame, clicks: DataFrame,
                   watermark: String = "10 minutes"): DataFrame = {
    val e = errors
      .select(col("event_id").as("error_id"), col("user_id"),
        col("ts").as("error_ts"))
      .withWatermark("error_ts", watermark)
    val c = clicks
      .select(col("event_id").as("click_id"),
        col("user_id").as("click_user"), col("ts").as("click_ts"))
      .withWatermark("click_ts", watermark)
    e.join(c,
      col("user_id") === col("click_user") &&
        col("click_ts") >= col("error_ts") &&
        col("click_ts") <= col("error_ts") + expr("INTERVAL 1 HOUR"))
      .select(col("user_id"), col("error_id"), col("click_id"),
        col("error_ts"), col("click_ts"))
  }

  /** One bounded-replay pass serving the WHOLE interval-join family:
    * the FULL OUTER stream-stream join strictly contains the inner,
    * left-outer, and semi results (inner = both sides non-null,
    * left = error side non-null, semi = distinct matched errors), so
    * the four driver-oracled queries derive from ONE streaming run
    * instead of four — each run-to-completion pass pays per-micro-
    * batch state-store commits on four stores × partitions, which
    * dominates a bounded replay (see [[BoundedReplay]]);
    * sharing the pass cuts that cost 4×. Memoized per (session, dir);
    * the per-variant streaming operators stay available — composable
    * [[intervalJoin]] for unbounded production streams, and
    * [[intervalJoinVariantOverFiles]] runs any single variant's own
    * streaming plan (StreamingSpec proves the dedicated left-semi /
    * left-outer runs emit exactly the shared pass's derived views). */
  // single-slot memo (invalidation rules in graft.SessionDirMemo):
  // exactly one checkpointed frame is ever retained; the gate and
  // bench run the four interval queries consecutively per dir, so one
  // slot captures the whole win.
  private val ijFullMemo = new graft.SessionDirMemo[DataFrame]

  /** Drop the shared interval-join pass so the next family member pays
    * the full streaming cost — the cold-probe discipline ScaleProbe
    * applies to trained state, here applied by graft.Bench before it
    * times the pass as its own line (so the four derived queries'
    * warm numbers plus the pass line sum to the family's true cost). */
  private[graft] def resetIntervalMemo(): Unit = ijFullMemo.reset()

  /** Materialize the shared full-outer pass for `dir`, populating the
    * memo, and return its row count — the action graft.Bench times as
    * the interval family's one-time shared cost. */
  private[graft] def primeSharedIntervalPass(
      spark: org.apache.spark.sql.SparkSession, dir: String): Long =
    sharedIntervalJoinFull(spark, dir).count()

  private def sharedIntervalJoinFull(
      spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame =
    ijFullMemo.get(spark, dir) {
      intervalJoinVariantOverFiles(spark, dir, "full_outer").localCheckpoint()
    }

  /** The interval join run to completion over the events table as a
    * bounded file stream — driver-oracled like the other streaming
    * twins: the result is exactly the batch interval self-join.
    * Derived from the shared full-outer pass (see
    * [[sharedIntervalJoinFull]]): inner = matched rows only. */
  def intervalJoinOverFiles(spark: org.apache.spark.sql.SparkSession,
                            dir: String): DataFrame =
    sharedIntervalJoinFull(spark, dir)
      .filter(col("error_id").isNotNull && col("click_id").isNotNull)
      .orderBy("user_id", "error_id", "click_id")

  /** Run ONE interval-join variant as its own streaming query over a
    * staged bounded replay and return its result: the dedicated per-variant plan — four watermark-aged
    * state stores per partition, emission driven by the global
    * watermark — used by the shared gate pass (full_outer) and by
    * StreamingSpec to prove each variant's own run matches its
    * derived view. Sentinels: outer/semi/full emission waits for the
    * min-over-both-sides watermark to pass a row's join bound, so a
    * bounded replay appends one far-future sentinel per side
    * (negative user ids, joined to nobody, filtered out of the
    * result); the inner variant emits matches as they meet
    * and needs none, but tolerates them identically. */
  private[graft] def intervalJoinVariantOverFiles(
      spark: org.apache.spark.sql.SparkSession, dir: String,
      joinType: String): DataFrame = {
    val sentinels = BoundedReplay.Sentinels(3L * 3600000000L,
      (_, ts) => spark.range(2).toDF("i")
        .select((col("i") + 3000000000L).as("event_id"), ts.as("ts"),
          (-col("i") - 1L).as("user_id"),
          when(col("i") === 0, "error").otherwise("click").as("event_type"),
          lit(0.0).as("value"), lit(null).cast("string").as("props")),
      _ => col("user_id") >= 0)
    BoundedReplay.events(spark, dir, OutputMode.Append, Some(sentinels)) {
        stream =>
      val e = stream.filter(col("event_type") === "error")
        .select(col("event_id").as("error_id"), col("user_id"),
          col("ts").as("error_ts"))
        .withWatermark("error_ts", "10 minutes")
      val c = stream.filter(col("event_type") === "click")
        .select(col("event_id").as("click_id"),
          col("user_id").as("click_user"), col("ts").as("click_ts"))
        .withWatermark("click_ts", "10 minutes")
      val joined = e.join(c,
        col("user_id") === col("click_user") &&
          col("click_ts") >= col("error_ts") &&
          col("click_ts") <= col("error_ts") + expr("INTERVAL 1 HOUR"),
        joinType)
      joinType match {
        case "left_semi" => joined
        case "full_outer" => joined
          .select(coalesce(col("user_id"), col("click_user")).as("user_id"),
            col("error_id"), col("click_id"), col("error_ts"), col("click_ts"))
        case _ => joined
          .select(col("user_id"), col("error_id"), col("click_id"),
            col("error_ts"), col("click_ts"))
      }
    }
  }

  def intervalJoinOverFilesOracle: String =
    """SELECT e.user_id, e.event_id AS error_id, c.event_id AS click_id,
      |  e.ts AS error_ts, c.ts AS click_ts
      |FROM events e JOIN events c
      |  ON e.user_id = c.user_id
      | AND c.ts >= e.ts AND c.ts <= e.ts + INTERVAL 1 HOUR
      |WHERE e.event_type = 'error' AND c.event_type = 'click'
      |ORDER BY e.user_id, error_id, click_id""".stripMargin

  /** LEFT OUTER stream-stream interval join: every error, with its
    * within-the-hour clicks OR an explicit null row when no click ever
    * follows — the attribution join that also reports the unattributed.
    * Derived from the shared full-outer pass: left = rows whose error
    * side matched or never matched anyone (error_id non-null) — the
    * full result minus right-side non-matches. The dedicated
    * left_outer streaming plan runs in StreamingSpec via
    * [[intervalJoinVariantOverFiles]] and must emit exactly this. */
  def intervalJoinOuterOverFiles(spark: org.apache.spark.sql.SparkSession,
                                 dir: String): DataFrame =
    sharedIntervalJoinFull(spark, dir)
      .filter(col("error_id").isNotNull)
      .orderBy("user_id", "error_id", "click_id")

  /** LEFT SEMI stream-stream interval join: errors that DID get a
    * click within the hour, each emitted once — the "resolved
    * incidents" feed (the left-outer form answers who wasn't
    * attributed; this answers who was, without duplicating an error
    * per click). Derived from the shared full-outer pass: semi =
    * distinct matched error rows. The dedicated left_semi streaming
    * plan runs in StreamingSpec via
    * [[intervalJoinVariantOverFiles]] and must emit exactly this. */
  def intervalJoinSemiOverFiles(spark: org.apache.spark.sql.SparkSession,
                                dir: String): DataFrame =
    sharedIntervalJoinFull(spark, dir)
      .filter(col("error_id").isNotNull && col("click_id").isNotNull)
      .select(col("error_id"), col("user_id"), col("error_ts"))
      .distinct()
      .orderBy("user_id", "error_id")

  def intervalJoinSemiOverFilesOracle: String =
    """SELECT e.event_id AS error_id, e.user_id, e.ts AS error_ts
      |FROM (SELECT * FROM events WHERE event_type = 'error') e
      |WHERE EXISTS (SELECT 1 FROM events c
      |  WHERE c.event_type = 'click' AND c.user_id = e.user_id
      |    AND c.ts >= e.ts AND c.ts <= e.ts + INTERVAL 1 HOUR)
      |ORDER BY user_id, error_id""".stripMargin

  /** FULL OUTER stream-stream interval join: every error with its
    * within-the-hour clicks, PLUS unmatched errors AND unmatched
    * clicks as explicit null rows — the complete attribution picture
    * (which clicks follow no error is as diagnostic as the reverse).
    * This is the variant the shared pass actually EXECUTES as a
    * streaming query (watermark-driven emission, per-side far-future
    * sentinels flushing both sides' final non-matches — see
    * [[intervalJoinVariantOverFiles]]); the inner/left/semi gate
    * queries are projections of this result. */
  def intervalJoinFullOverFiles(spark: org.apache.spark.sql.SparkSession,
                                dir: String): DataFrame =
    sharedIntervalJoinFull(spark, dir)
      .orderBy("user_id", "error_id", "click_id")

  def intervalJoinFullOverFilesOracle: String =
    """SELECT COALESCE(e.user_id, c.user_id) AS user_id,
      |  e.event_id AS error_id, c.event_id AS click_id,
      |  e.ts AS error_ts, c.ts AS click_ts
      |FROM (SELECT * FROM events WHERE event_type = 'error') e
      |FULL JOIN (SELECT * FROM events WHERE event_type = 'click') c
      |  ON e.user_id = c.user_id
      | AND c.ts >= e.ts AND c.ts <= e.ts + INTERVAL 1 HOUR
      |ORDER BY user_id, error_id, click_id""".stripMargin

  def intervalJoinOuterOverFilesOracle: String =
    """SELECT e.user_id, e.event_id AS error_id, c.event_id AS click_id,
      |  e.ts AS error_ts, c.ts AS click_ts
      |FROM (SELECT * FROM events WHERE event_type = 'error') e
      |LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
      |  ON e.user_id = c.user_id
      | AND c.ts >= e.ts AND c.ts <= e.ts + INTERVAL 1 HOUR
      |ORDER BY e.user_id, error_id, click_id""".stripMargin

  def sessionizeOverFilesOracle: String =
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
      |  SELECT user_id, ts, value,
      |    SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
      |  FROM flagged)
      |SELECT user_id, MIN(ts) AS session_start, MAX(ts) AS session_end,
      |  COUNT(*) AS n_events,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS session_value
      |FROM sessions GROUP BY user_id, session_id
      |ORDER BY user_id, session_start""".stripMargin
}
