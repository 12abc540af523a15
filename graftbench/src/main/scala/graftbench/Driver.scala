package graftbench

import java.nio.file.{Files, Path, Paths}
import java.security.MessageDigest

import scala.collection.mutable.ArrayBuffer

import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{Catalog, GraftSession, SparkEntry}
import graft.mr.MapReduce

/** Benchmark driver: one closed-loop client calling graft's public
  * entry points on `local[cores]`.
  *
  * Arguments are `key=value` pairs:
  *   workload  mr_wordcount | query_mix
  *   data      the corpus directory (mr_wordcount) or fixture directory
  *   lines     comma-separated SparkEntry lines in run order (query_mix)
  *   root      the run's private temp root; everything is written here
  *   seconds   target length of the timed window
  *   trace     1 registers the listeners and records spans
  *   cores     Spark local cores
  *   out       where the run record (JSON) is written
  *
  * Phases, in order:
  *   1. set-up: session, tune, one untimed warmup pass over every op
  *      (cold trained state, artifacts, JIT and codegen). The warmup
  *      pass keeps its outputs, which run.py compares with independent
  *      answers.
  *   2. the timed window: the number of whole passes that comes closest
  *      to `seconds`, and at least three, so each op's median survives
  *      one stalled sample. */
object Driver {
  final case class Sample(op: String, pass: Int, wallS: Double, error: Option[String])

  def main(args: Array[String]): Unit = {
    val a = args.map(_.split("=", 2)).map(kv => kv(0) -> kv(1)).toMap
    val workload = a("workload")
    val data = a("data")
    val root = a("root")
    val seconds = a("seconds").toDouble
    val tr = new Tracer(a("trace") == "1")
    val cores = a("cores")

    val spark = tr.span("session.spark_start") {
      SparkSession.builder()
        .master(s"local[$cores]")
        .appName("graftbench")
        .config("spark.sql.shuffle.partitions", cores)
        .config("spark.ui.enabled", "false")
        .config("spark.local.dir", s"$root/local")
        .config("spark.sql.warehouse.dir", s"$root/warehouse")
        .getOrCreate()
    }
    spark.sparkContext.setLogLevel("ERROR")
    tr.span("session.tune") { GraftSession.tune(spark) }
    val hooks = if (tr.enabled) Some(new Hooks(spark, tr)) else None
    hooks.foreach(_.register())

    val w: Workload = workload match {
      case "mr_wordcount" => new MrWorkload(spark, tr, data, root)
      case "query_mix" =>
        new LineWorkload(spark, tr, data, root, a("lines").split(",").toSeq)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    val samples = ArrayBuffer.empty[Sample]
    def runOp(phase: String, pass: Int, op: String, body: => Unit): Sample = {
      spark.catalog.clearCache()
      val id = s"$phase:$pass:$op"
      if (tr.enabled) spark.sparkContext.setJobGroup(id, op)
      tr.op = id
      val t0 = System.nanoTime()
      val err =
        try { tr.span("op") { body }; None }
        catch { case e: Throwable =>
          System.err.println(s"[graftbench] $op failed: $e")
          Some(Option(e.getMessage).getOrElse(e.toString).linesIterator
            .nextOption().getOrElse("").take(300))
        }
      val s = Sample(op, pass, (System.nanoTime() - t0) / 1e9, err)
      tr.op = ""
      if (tr.enabled) spark.sparkContext.clearJobGroup()
      s
    }

    val warmup = tr.span("session.warmup") {
      w.pass(0, check = true).map { case (op, body) =>
        val s = runOp("warmup", 0, op, body())
        w.afterOp(op, 0)
        s
      }
    }
    val setupDoneMs = System.currentTimeMillis()
    // after set-up, so every run measures after the same work: one pass
    // over every op (the timed window's pass count varies with speed)
    val liveHeapMb = liveHeap(spark)

    // timed window: whole passes, so every op is sampled equally often
    val compiles0 = hooks.map(_.compileCount)
    val windowT0 = System.nanoTime()
    def elapsed = (System.nanoTime() - windowT0) / 1e9
    var passes = 0
    while (passes < 3 || elapsed + 0.5 * elapsed / passes < seconds) {
      passes += 1
      w.pass(passes, check = false).foreach { case (op, body) =>
        samples += runOp("timed", passes, op, body())
        w.afterOp(op, passes)
      }
    }
    val windowS = elapsed
    val peakRssMb = peakRss()
    val compiles = hooks.map(_.compileCount - compiles0.get)
    hooks.foreach(_.finish())

    val canary = (1 to 3).map(_ => cpuCanary()).sorted.apply(1)

    def sampleJson(s: Sample) = Map("op" -> s.op, "pass" -> s.pass,
      "wall_s" -> s.wallS, "error" -> s.error.orNull)
    val rec = Map("workload" -> workload, "setup_done_ms" -> setupDoneMs,
      "window_s" -> windowS, "passes" -> passes, "peak_rss_mb" -> peakRssMb,
      "live_heap_mb" -> liveHeapMb,
      "canary_s" -> canary, "jdk" -> System.getProperty("java.version"),
      "spark" -> spark.version, "cores" -> cores,
      "warmup" -> warmup.map(sampleJson), "samples" -> samples.map(sampleJson),
      "extra" -> w.extra()) ++ (if (!tr.enabled) Map.empty else Map(
      "compiles" -> compiles.getOrElse(0L),
      "spans" -> tr.spans.map(s => Map("name" -> s.name, "start_ms" -> s.startMs,
        "end_ms" -> s.endMs, "parent" -> s.parent, "op" -> s.op)),
      "counts" -> tr.counts))
    JsonMapper.builder().addModule(DefaultScalaModule).build()
      .writeValue(new java.io.File(a("out")), rec)
    spark.stop()
  }

  /** Peak resident set size of this JVM in MB (VmHWM). */
  def peakRss(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(-1.0)

  /** Heap in use after full collections, in MB: what the process keeps
    * live across ops (trained state, memos, Spark's own structures,
    * which include its record of the queries run so far).
    * The last op's cached tables are dropped first, as between ops. A
    * collection lets Spark's ContextCleaner free the blocks of
    * broadcasts and shuffles it found unreachable, which can make more
    * of them unreachable, so collections repeat until the figure drops
    * by less than 1 MB. */
  def liveHeap(spark: SparkSession): Double = {
    spark.catalog.clearCache()
    def used(): Double = {
      System.gc()
      java.lang.management.ManagementFactory.getMemoryMXBean
        .getHeapMemoryUsage.getUsed / 1e6
    }
    var prev = Double.MaxValue
    var cur = used()
    var rounds = 0
    while (prev - cur >= 1.0 && rounds < 10) {
      Thread.sleep(500)
      prev = cur
      cur = used()
      rounds += 1
    }
    cur
  }

  @volatile private var canarySink = 0L

  /** Fixed single-threaded work (graft.Bench's canary): a slow canary
    * means a slow machine, not a slow program. */
  def cpuCanary(): Double = {
    val t0 = System.nanoTime()
    var h = 1469598103934665603L
    var i = 0
    while (i < 40000000) { h = (h ^ i) * 1099511628211L; h ^= (h >>> 33); i += 1 }
    canarySink = h
    (System.nanoTime() - t0) / 1e9
  }
}

/** The ops of one workload. Pass `n` lists (op name, body) in run
  * order; with `check` the ops keep their outputs for run.py. */
trait Workload {
  def pass(n: Int, check: Boolean): Seq[(String, () => Unit)]
  /** Untimed bookkeeping after an op (digests, clean-up). */
  def afterOp(op: String, pass: Int): Unit = ()
  /** Workload-specific facts for the run record. */
  def extra(): Map[String, Any]
}

/** query_mix: SparkEntry lines over a fixture. Timed
  * passes use the noop sink, as graft.Bench does; the warmup pass
  * writes each line's result to parquet for the oracle comparison. */
final class LineWorkload(spark: SparkSession, tr: Tracer, dir: String,
                         root: String, lines: Seq[String]) extends Workload {
  private val entries = SparkEntry.queries
  private def build(name: String): DataFrame =
    tr.span("entry.build") { entries(name)(spark, dir) }

  def pass(n: Int, check: Boolean): Seq[(String, () => Unit)] = lines.map { name =>
    name -> (() => {
      val df = build(name)
      if (check) df.coalesce(1).write.mode("overwrite").parquet(s"$root/check/$name")
      else tr.span("sink.noop") { df.write.format("noop").mode("overwrite").save() }
    })
  }

  def extra(): Map[String, Any] =
    Map("oracle_sql" -> lines.map(n => n -> SparkEntry.oracleSql(n)).toMap)
}

/** mr_wordcount: each pass uploads the corpus through the catalog,
  * runs word count and the inverted index through graft.mr, writes
  * both as TSV, then lists and deletes the catalog entries. The last
  * timed pass's files stay on disk for the byte comparison. */
final class MrWorkload(spark: SparkSession, tr: Tracer, corpus: String,
                       root: String) extends Workload {
  import spark.implicits._
  private val catalog = new Catalog(spark)
  private def table(n: Int) = s"$root/warehouse/corpus-$n"
  private def wcOut(n: Int) = s"$root/out/wordcount-$n"
  private def indexOut(n: Int) = s"$root/out/index-$n"
  private val digests = ArrayBuffer.empty[(Int, String, String, Long)]

  def pass(n: Int, check: Boolean): Seq[(String, () => Unit)] = Seq(
    "upload" -> (() => {
      val raw = tr.span("mr.read_text") { MapReduce.readTextInput(spark, corpus) }
      tr.span("catalog.put") { catalog.put("corpus/raw", raw.toDF()) }
      tr.span("catalog.persist") { catalog.persist("corpus/raw", table(n)) }
      tr.span("catalog.load") { catalog.load("corpus/text", table(n)) }
      ()
    }),
    "wordcount" -> (() => {
      val input = catalog.get("corpus/text").as[(String, String)]
      val job = tr.span("mr.run_job") { MapReduce.runJob(input, "wordcount", "wordcount") }
      tr.span("mr.write_tsv") { MapReduce.writeTsv(job, wcOut(n), single = true) }
    }),
    "inverted_index" -> (() => {
      val input = catalog.get("corpus/text").as[(String, String)]
      val job = tr.span("mr.run_job") {
        MapReduce.runJob(input, "inverted_index", "posting_list")
      }
      tr.span("mr.write_tsv") {
        MapReduce.writeTsv(job, indexOut(n), single = false, outputKey = Some("index"))
      }
    }),
    "catalog_cleanup" -> (() => {
      val keys = tr.span("catalog.list") { catalog.list("corpus/") }
      tr.span("catalog.delete") { keys.foreach(catalog.delete) }
    }))

  /** The TSV files of one output, in reducer order. */
  private def parts(dir: String): Seq[Path] = {
    val files = Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty)
      .filterNot(f => f.getName.startsWith(".") || f.getName.startsWith("_"))
    val reduceIdx = """.*-reduce-(\d+)""".r
    files.toSeq.sortBy(f => f.getName match {
      case reduceIdx(i) => (i.toInt, f.getName)
      case other => (-1, other)
    }).map(_.toPath)
  }

  private def sha(files: Seq[Path]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    files.foreach(f => md.update(Files.readAllBytes(f)))
    md.digest().map("%02x".format(_)).mkString
  }

  private def bytes(dir: String): Long = {
    val w = Files.walk(Paths.get(dir))
    try w.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
    finally w.close()
  }

  private val sizes = scala.collection.mutable.Map.empty[String, Long]

  /** After a pass's last op: digest both outputs (the warmup pass and
    * every timed pass are checked), note sizes, and delete the previous
    * pass's files. */
  override def afterOp(op: String, n: Int): Unit = if (op == "catalog_cleanup") {
    sizes("persist_bytes") = bytes(table(n))
    sizes("sink_bytes") = bytes(wcOut(n)) + bytes(indexOut(n))
    digests += ((n, sha(parts(wcOut(n))), sha(parts(indexOut(n))),
      parts(indexOut(n)).size.toLong))
    Seq(table(n - 1), wcOut(n - 1), indexOut(n - 1)).foreach(rm)
  }

  private def rm(dir: String): Unit = {
    val p = Paths.get(dir)
    if (Files.exists(p)) {
      val w = Files.walk(p)
      try w.sorted(java.util.Comparator.reverseOrder()).forEach(Files.delete(_))
      finally w.close()
    }
  }

  def extra(): Map[String, Any] = {
    val last = digests.lastOption.map(_._1).getOrElse(0)
    Map(
      "wordcount_files" -> parts(wcOut(last)).map(_.toString),
      "index_files" -> parts(indexOut(last)).map(_.toString),
      "persist_bytes" -> sizes.getOrElse("persist_bytes", 0L),
      "sink_bytes" -> sizes.getOrElse("sink_bytes", 0L),
      "digests" -> digests.map { case (n, wc, ix, np) =>
        Map("pass" -> n, "wordcount" -> wc, "index" -> ix, "index_parts" -> np)
      })
  }
}
