package graftbench

import scala.collection.mutable.ArrayBuffer

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.{LoggerConfig, Property}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval. Times are milliseconds on one clock (epoch
  * based, nanosecond resolution), so spans the benchmark records and
  * spans rebuilt from Spark's event times line up. `op` is the id of
  * the operation the span belongs to (empty during set-up). */
final case class Span(name: String, startMs: Double, endMs: Double,
                      parent: Int, op: String)

/** Spans and counters of a traced run, kept in memory and written out
  * once the run ends. With `enabled = false` every method is a no-op
  * apart from running the wrapped body, so the untraced run pays for
  * nothing but a branch. */
final class Tracer(val enabled: Boolean) {
  private val epochMs0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def nowMs: Double = epochMs0 + (System.nanoTime() - nano0) / 1e6

  val spans = ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  @volatile var op: String = ""

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = spans.synchronized {
        spans += Span(name, nowMs, Double.NaN, stack.headOption.getOrElse(-1), op)
        spans.size - 1
      }
      stack = id :: stack
      try body
      finally {
        stack = stack.tail
        spans.synchronized { spans(id) = spans(id).copy(endMs = nowMs) }
      }
    }

  /** A span rebuilt from a listener event; its parent is resolved when
    * the spans are written out. */
  def event(name: String, startMs: Double, endMs: Double, op: String): Unit =
    spans.synchronized { spans += Span(name, startMs, endMs, -2, op) }

  /** Counters, summed per op id: `counts(op)(name)`. */
  val counts = scala.collection.mutable.Map.empty[String,
    scala.collection.mutable.Map[String, Double]]
  def add(op: String, name: String, v: Double): Unit = counts.synchronized {
    val m = counts.getOrElseUpdate(op, scala.collection.mutable.Map.empty)
    m(name) = m.getOrElse(name, 0.0) + v
  }
  def max(op: String, name: String, v: Double): Unit = counts.synchronized {
    val m = counts.getOrElseUpdate(op, scala.collection.mutable.Map.empty)
    m(name) = math.max(m.getOrElse(name, 0.0), v)
  }

  /** The op whose benchmark span contains time `t` (ops run one at a
    * time, so the answer is unique); empty outside every op. */
  def opAt(t: Double): String = spans.synchronized {
    spans.iterator.filter(s => s.name == "op" && s.startMs <= t &&
      (s.endMs.isNaN || t <= s.endMs)).map(_.op).toSeq.lastOption.getOrElse("")
  }
}

/** Registers the public Spark hooks a traced run reads:
  *   - a SparkListener for jobs, stages and task metrics, attributed to
  *     ops through the job group the benchmark sets around each op
  *   - a QueryExecutionListener for the analysis, optimization and
  *     planning phases of every executed query
  *   - the CodegenMetrics compile histogram, plus an appender on
  *     CodeGenerator's "Code generated in N ms" line for compile times
  *   - a StreamingQueryListener for micro-batch progress. */
final class Hooks(spark: SparkSession, tr: Tracer) {
  private val jobGroup = "spark.jobGroup.id"
  private val stageOp = scala.collection.concurrent.TrieMap.empty[Int, String]
  private val jobOp = scala.collection.concurrent.TrieMap.empty[Int, (String, Double)]

  /** stream run id -> (the op that started the stream, start time). A
    * stream's micro-batch thread sets the run id as its job group, in
    * place of the op's; the synchronous start event fills this map
    * before any micro-batch job starts, and entries stay for the whole
    * run, as listener queues deliver events in no common order. */
  private val streams = scala.collection.concurrent.TrieMap.empty[String, (String, Double)]

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val group = Option(e.properties).flatMap(p => Option(p.getProperty(jobGroup)))
        .getOrElse("")
      val op = streams.get(group).map(_._1).getOrElse(group)
      jobOp(e.jobId) = (op, e.time.toDouble)
      e.stageIds.foreach(stageOp(_) = op)
      tr.add(op, "exec.jobs", 1)
      // jobs launched while the op's build call was still running
      val t = e.time.toDouble
      val inBuild = tr.spans.synchronized(tr.spans.exists(s =>
        s.op == op && s.name == "entry.build" && s.startMs <= t + 1 &&
          (s.endMs.isNaN || t <= s.endMs + 1)))
      if (inBuild) tr.add(op, "entry.build_jobs", 1)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobOp.remove(e.jobId).foreach { case (op, start) =>
        tr.event("exec.job", start, e.time.toDouble, op)
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val op = stageOp.getOrElse(e.stageInfo.stageId, "")
      tr.add(op, "exec.stages", 1)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val op = stageOp.getOrElse(e.stageId, "")
      val m = e.taskMetrics
      val info = e.taskInfo
      tr.add(op, "exec.tasks", 1)
      if (!info.successful) tr.add(op, "exec.failed_tasks", 1)
      if (m != null) {
        tr.add(op, "exec.run_s", m.executorRunTime / 1e3)
        tr.add(op, "exec.cpu_s", m.executorCpuTime / 1e9)
        tr.add(op, "exec.gc_s", m.jvmGCTime / 1e3)
        val delay = info.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime -
          (if (info.gettingResult) info.finishTime - info.gettingResultTime else 0L)
        tr.add(op, "exec.scheduler_delay_s", math.max(0L, delay) / 1e3)
        tr.add(op, "exec.shuffle_read_mb",
          (m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead) / 1e6)
        tr.add(op, "exec.shuffle_write_mb", m.shuffleWriteMetrics.bytesWritten / 1e6)
        tr.add(op, "exec.shuffle_records", m.shuffleWriteMetrics.recordsWritten.toDouble)
        tr.add(op, "exec.spill_mb", m.diskBytesSpilled / 1e6)
        tr.max(op, "exec.peak_exec_mem_mb", m.peakExecutionMemory / 1e6)
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = {
      qe.tracker.phases.foreach { case (phase, s) =>
        val op = tr.opAt(s.startTimeMs.toDouble)
        tr.event(s"plan.$phase", s.startTimeMs.toDouble, s.endTimeMs.toDouble, op)
      }
    }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
      streams(e.runId.toString) = (tr.op, tr.nowMs)
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val op = streams.get(p.runId.toString).map(_._1).getOrElse(tr.op)
      def d(k: String): Double =
        Option(p.durationMs.get(k)).map(_.doubleValue / 1e3).getOrElse(0.0)
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
      tr.event("streaming.trigger", start, start + d("triggerExecution") * 1e3, op)
      tr.add(op, "streaming.batches", 1)
      if (p.numInputRows == 0) tr.add(op, "streaming.empty_batches", 1)
      tr.add(op, "streaming.input_rows", p.numInputRows.toDouble)
      tr.add(op, "streaming.trigger_s", d("triggerExecution"))
      tr.add(op, "streaming.add_batch_s", d("addBatch"))
      tr.add(op, "streaming.query_planning_s", d("queryPlanning"))
      tr.add(op, "streaming.offset_s", d("latestOffset") + d("getBatch"))
      tr.add(op, "streaming.wal_commit_s", d("walCommit"))
      tr.add(op, "streaming.commit_offsets_s", d("commitOffsets"))
      // state size after this batch; the op's figure is the largest seen
      val key = s"streaming.state.${p.runId}"
      tr.max(op, key + ".rows", p.stateOperators.map(_.numRowsTotal).sum.toDouble)
      tr.max(op, key + ".mb", p.stateOperators.map(_.memoryUsedBytes).sum / 1e6)
    }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
      streams.get(e.runId.toString).foreach { case (op, start) =>
        tr.event("streaming.query", start, tr.nowMs, op)
      }
  }

  private val codegenLogger =
    "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator"
  private val generatedIn = """Code generated in ([0-9.]+) ms""".r.unanchored
  private val appender = new AbstractAppender("graftbench-codegen", null, null,
      true, Property.EMPTY_ARRAY) {
    override def append(e: LogEvent): Unit =
      e.getMessage.getFormattedMessage match {
        case generatedIn(ms) =>
          val end = tr.nowMs
          tr.event("codegen.compile", end - ms.toDouble, end, tr.op)
        case _ =>
      }
  }
  /** Compiles so far, from Spark's CodegenMetrics histogram. */
  def compileCount: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  def register(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    appender.start()
    val lc = new LoggerConfig(codegenLogger, Level.INFO, false)
    lc.addAppender(appender, Level.INFO, null)
    ctx.getConfiguration.addLogger(codegenLogger, lc)
    ctx.updateLoggers()
  }

  /** Wait until every pending event is delivered, then unhook. */
  def finish(): Unit = {
    org.apache.spark.GraftBenchBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    ctx.getConfiguration.removeLogger(codegenLogger)
    ctx.updateLoggers()
    appender.stop()
  }
}
