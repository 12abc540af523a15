package graft.streaming

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.sql.types._

/** The one bounded-replay harness behind every `stream_*` twin: stage a
  * table into a fresh directory (FileStreamSource wants a DIRECTORY of
  * files — the unit a real deployment tails), run the caller's plan
  * over it to completion into a memory sink, and clean up everything
  * the run made: the staged copy, the query, and the sink's temp view.
  * The returned frame holds the sink's resolved plan, so its rows live
  * as long as the caller keeps the frame, not as long as the session.
  */
private[graft] object BoundedReplay {

  /** State parallelism of every replay: a streaming stateful operator
    * opens one state store per shuffle partition and pays a per-store
    * commit EVERY micro-batch, so at 32 partitions the commits — not
    * the rows — dominate a run-to-completion query (measured on the
    * interval join: 10.0 s → 2.7 s at 8; 4 and 16 differ from 8 by
    * ±6%, SCALE.md). Fixed at plan time, hence set before start() and
    * restored after. Production streams with real key cardinality keep
    * the session default. */
  private val StateParts = "8"

  /** Rows appended to an events replay as a second input file, so a
    * bounded stream can flush state its watermark would otherwise hold.
    * `rows` maps the batch events table and the sentinel `ts` (a literal
    * in the fixture's own encoding, `afterUs` past the table's last
    * event) to rows in the events schema; `real`, given the sentinel
    * time in epoch µs, keeps the result rows the sentinels did not
    * make. */
  final case class Sentinels(afterUs: Long,
                             rows: (DataFrame, Column) => DataFrame,
                             real: Long => Column)

  private val docSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType),
    StructField("n_chars", LongType)))

  /** Replay `dir/documents.parquet` in Complete mode. */
  def documents(spark: SparkSession, dir: String)(
      build: DataFrame => DataFrame): DataFrame =
    replay(spark, OutputMode.Complete) { in =>
      stageParquetCopy(Path.of(s"$dir/documents.parquet"), in,
        "documents.parquet")
      spark.readStream.schema(docSchema).parquet(in.toString)
    }(build)

  /** Replay `dir/events.parquet` in `mode`, with `ts` normalized to a µs
    * TimestampType whichever encoding the fixture vintage ships (see
    * [[graft.Tables.events]] for the batch twin), and `sentinels`, if
    * given, staged beside it and filtered out of the result. */
  def events(spark: SparkSession, dir: String, mode: OutputMode,
             sentinels: Option[Sentinels] = None)(
      build: DataFrame => DataFrame): DataFrame = {
    // LongType when events.parquet carries TIMESTAMP(NANOS) (read as
    // raw nanos via `legacy.parquet.nanosAsLong`), else a native
    // timestamp type (TIMESTAMP(MICROS))
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val tsType = spark.read.parquet(s"$dir/events.parquet").schema("ts").dataType
    val staged = sentinels.map { s =>
      val batch = graft.Tables.events(spark, dir)
      // 0 for an EMPTY events table: a legitimate bounded-replay input
      // (the sentinels then sit at epoch+Δ and the stream emits nothing)
      val r = batch.agg(max(unix_micros(col("ts")))).first()
      val us = (if (r.isNullAt(0)) 0L else r.getLong(0)) + s.afterUs
      val ts = tsType match {
        case LongType => lit(us * 1000L) // raw nanos
        case t => timestamp_micros(lit(us)).cast(t)
      }
      (s.rows(batch, ts), s.real(us))
    }
    val out = replay(spark, mode) { in =>
      stageParquetCopy(Path.of(s"$dir/events.parquet"), in, "events.parquet")
      staged.foreach { case (rows, _) =>
        val tmp = in.resolveSibling("sentinels")
        rows.coalesce(1).write.parquet(tmp.toString)
        val part = tmp.toFile.listFiles()
          .filter(f => f.getName.startsWith("part-") &&
            f.getName.endsWith(".parquet")).head
        Files.move(part.toPath, in.resolve("sentinels.parquet"))
      }
      val schema = StructType(Seq(
        StructField("event_id", LongType), StructField("ts", tsType),
        StructField("user_id", LongType), StructField("event_type", StringType),
        StructField("value", DoubleType), StructField("props", StringType)))
      val raw = spark.readStream.schema(schema).parquet(in.toString)
      tsType match {
        case LongType => raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
        case _ => raw.withColumn("ts", col("ts").cast("timestamp"))
      }
    }(build)
    staged.fold(out) { case (_, real) => out.filter(real) }
  }

  /** Stage a stream into the `in` directory of a fresh `graft-replay-*`
    * root (`open` stages and opens it), run `build`'s plan to completion
    * into a memory sink, and return the sink's rows. The sink's temp
    * view is dropped and the staging root deleted whatever happens. */
  private def replay(spark: SparkSession, mode: OutputMode)(
      open: Path => DataFrame)(build: DataFrame => DataFrame): DataFrame = {
    val root = Files.createTempDirectory("graft-replay-")
    try {
      val stream = open(Files.createDirectory(root.resolve("in")))
      val name = s"graft_replay_${java.util.UUID.randomUUID().toString.replace("-", "")}"
      val prev = spark.conf.get("spark.sql.shuffle.partitions")
      spark.conf.set("spark.sql.shuffle.partitions", StateParts)
      val q = try build(stream).writeStream.format("memory").queryName(name)
          .outputMode(mode).start()
        finally spark.conf.set("spark.sql.shuffle.partitions", prev)
      try { q.processAllAvailable(); spark.table(name) }
      finally { q.stop(); spark.catalog.dropTempView(name) }
    } finally deleteStaged(root)
  }

  /** Stage a parquet source into a stream directory, handling BOTH
    * physical layouts a dataset ships in: a single file (the
    * pandas-written gate fixtures) or a DIRECTORY of part files
    * (anything Spark wrote — every real lake table, the scale-probe
    * fixtures). A bare `Files.copy` on a directory copies only the
    * empty directory entry, so the replay would silently stream ZERO
    * rows — exactly the failure the 100× probe surfaced (ratio 0.1:
    * an empty stream is very fast). */
  def stageParquetCopy(src: Path, streamDir: Path, name: String): Unit = {
    import scala.jdk.CollectionConverters._
    if (Files.isDirectory(src)) {
      val listing = Files.list(src)
      // Files.list holds a directory handle until closed — each staged
      // replay leaked one before this try/finally
      val entries = try listing.iterator().asScala.toVector.sortBy(_.toString)
        finally listing.close()
      // a key=value partitioned layout carries column VALUES in the
      // directory names; flattening the files here would silently drop
      // those columns, so refuse loudly instead of staging wrong data
      if (entries.exists(Files.isDirectory(_)))
        throw new IllegalArgumentException(
          s"stageParquetCopy: $src contains subdirectories (partitioned " +
            "layout?) — staged streaming replays support only a flat " +
            "file/part-file layout; rewrite the source unpartitioned first")
      val parts = entries.filter(_.getFileName.toString.endsWith(".parquet"))
      // zero staged files = a replay that streams zero rows and reports
      // zeros as if it ran — the silent failure mode this helper exists
      // to prevent; fail the query instead
      if (parts.isEmpty)
        throw new IllegalArgumentException(
          s"stageParquetCopy: no *.parquet files under $src — refusing to " +
            "stage an empty replay (it would silently stream zero rows)")
      parts.zipWithIndex.foreach { case (p, i) =>
        Files.copy(p, streamDir.resolve(s"part$i-$name"))
      }
    } else Files.copy(src, streamDir.resolve(name))
  }

  /** Remove a directory tree (a replay's staging root, a scratch dir). */
  def deleteStaged(p: Path): Unit = {
    import scala.jdk.CollectionConverters._
    if (Files.exists(p)) {
      Files.walk(p).iterator().asScala.toSeq.reverse
        .foreach(f => Files.deleteIfExists(f))
    }
  }
}
