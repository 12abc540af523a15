package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.{col, count, lit, size, sum}
import org.apache.spark.sql.streaming.OutputMode

import graft.streaming.{BoundedReplay, EventStream}
import graft.streaming.EventStream.Event

class StreamingSpec extends SparkSpec {

  private def ts(minute: Int): Timestamp =
    Timestamp.valueOf(f"2024-01-01 ${minute / 60}%02d:${minute % 60}%02d:00")

  test("windowed counts emit completed windows and drop late data") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    val q = EventStream.windowedCounts(mem.toDF(), watermark = "10 minutes")
      .writeStream.format("memory").queryName("wc_out")
      .outputMode(OutputMode.Append).start()
    try {
      // hour-0 events, then advance watermark well past hour 0
      mem.addData(
        Event(1, ts(5), 1, "click", 1.0),
        Event(2, ts(20), 1, "click", 2.0),
        Event(3, ts(40), 2, "view", 3.0))
      q.processAllAvailable()
      mem.addData(Event(4, ts(150), 1, "click", 4.0)) // hour 2 → watermark 2:20-0:10
      q.processAllAvailable()
      val rows = spark.table("wc_out").collect()
      // hour-0 windows are now final and emitted exactly once
      val clicks = rows.find(r => r.getString(1) == "click" &&
        r.getTimestamp(0) == ts(0))
      assert(clicks.isDefined && clicks.get.getLong(2) == 2)
      assert(clicks.get.getDouble(3) == 3.0)
      // a late hour-0 event behind the watermark must be dropped
      mem.addData(Event(5, ts(30), 9, "click", 99.0))
      q.processAllAvailable()
      val after = spark.table("wc_out").collect()
        .filter(r => r.getString(1) == "click" && r.getTimestamp(0) == ts(0))
      assert(after.length == 1 && after.head.getLong(2) == 2,
        "late event behind watermark must not create or update the closed window")
    } finally q.stop()
  }

  test("file-source streaming agg matches the batch time_window result") {
    import spark.implicits._
    // the production replay of the real events parquet (ts may ship as
    // TIMESTAMP(NANOS) or TIMESTAMP(MICROS) depending on fixture
    // generation) against its batch twin
    val cols = Seq("hour_ts", "event_type", "n", "sum_value").map(col)
    val streamed = EventStream.windowedCountsOverFiles(spark, sf0001)
      .select(cols: _*)
      .as[(java.sql.Timestamp, String, Long, Double)].collect()
    val batch = graft.operators.EventOps.timeWindow(spark, sf0001)
      .select(cols: _*)
      .as[(java.sql.Timestamp, String, Long, Double)].collect()
    assert(streamed.nonEmpty && streamed.sameElements(batch),
      s"stream/batch divergence: ${(streamed diff batch).take(3).toSeq} vs ${(batch diff streamed).take(3).toSeq}")
  }

  test("no stream line outlives its replay: temp views, active queries, staging dirs") {
    // every stream_* line runs twice; the interval family's first run
    // in pass 1 finds its shared-pass memo cold, every later one warm
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
    def views(): Set[String] = spark.catalog.listTables().collect()
      .filter(_.isTemporary).map(_.name).toSet
    def stagingDirs(): Set[String] = Option(tmp.listFiles()).toSeq.flatten
      .filter(f => f.isDirectory && f.getName.startsWith("graft-"))
      .map(_.getName).toSet
    val views0 = views()
    val dirs0 = stagingDirs()
    val lines = SparkEntry.queries.toSeq.filter(_._1.startsWith("stream_"))
    assert(lines.size == 30)
    EventStream.resetIntervalMemo()
    for (pass <- 1 to 2; (name, build) <- lines) {
      build(spark, sf0001).collect()
      val run = s"$name (pass $pass)"
      assert((views() diff views0).isEmpty,
        s"$run left temp views ${views() diff views0}")
      assert(spark.streams.active.isEmpty,
        s"$run left active queries ${spark.streams.active.map(_.name).toSeq}")
      assert((stagingDirs() diff dirs0).isEmpty,
        s"$run left staging dirs ${stagingDirs() diff dirs0}")
    }
  }

  test("stateful sessionization closes sessions on gap and on timeout") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    val q = EventStream.sessionize(mem.toDS(), gapMinutes = 30)
      .writeStream.format("memory").queryName("sess_out")
      .outputMode(OutputMode.Append).start()
    try {
      // user 1: two events 5 min apart (one session), then a 60-min gap
      // event → closes the first session within the batch
      mem.addData(
        Event(1, ts(0), 1, "click", 1.0),
        Event(2, ts(5), 1, "click", 2.0),
        Event(3, ts(65), 1, "click", 4.0))
      q.processAllAvailable()
      val s1 = spark.table("sess_out").as[EventStream.SessionOut].collect()
      assert(s1.length == 1)
      assert(s1.head.n_events == 2 && s1.head.session_value == 3.0)
      assert(s1.head.session_start == ts(0) && s1.head.session_end == ts(5))
      // advance event time far enough that the trailing session
      // (last=65) times out: watermark must pass 65+30
      mem.addData(Event(9, ts(200), 2, "view", 0.0))
      q.processAllAvailable()
      mem.addData(Event(10, ts(210), 2, "view", 0.0)) // one more batch to fire timeout
      q.processAllAvailable()
      val s2 = spark.table("sess_out").as[EventStream.SessionOut].collect()
      assert(s2.length >= 2, s"expected timed-out session, got ${s2.toSeq}")
      val timedOut = s2.filter(_.user_id == 1).maxBy(_.session_start.getTime)
      assert(timedOut.n_events == 1 && timedOut.session_value == 4.0)
    } finally q.stop()
  }

  test("aggregation state survives a stop/restart via the checkpoint") {
    // phase 1 streams 20 docs; phase 2 (a NEW query instance on the
    // SAME checkpoint) streams the same texts under new doc_ids. Only
    // recovered state can know the phase-1 keepers: a state loss would
    // emit keeper_id >= 100 and n_copies = 1.
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val inDir = java.nio.file.Files.createTempDirectory("graft-ckpt-in")
    val ckpt = java.nio.file.Files.createTempDirectory("graft-ckpt")
    def stage(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val tmp = java.nio.file.Files.createTempDirectory("graft-ckpt-stage")
      df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = tmp.toFile.listFiles()
        .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).head
      java.nio.file.Files.move(part.toPath, inDir.resolve(name))
      BoundedReplay.deleteStaged(tmp)
    }
    val results = new scala.collection.concurrent.TrieMap[String, (Long, Long)]
    def runOnce(): Unit = {
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("text",
          org.apache.spark.sql.types.StringType)))
      val q = spark.readStream.schema(schema).parquet(inDir.toString)
        .groupBy(md5(col("text")).as("fp"))
        .agg(min(col("doc_id")).as("keeper_id"), count(lit(1)).as("n_copies"))
        .writeStream
        .outputMode(OutputMode.Update)
        .option("checkpointLocation", ckpt.toString)
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
          batch.collect().foreach(r =>
            results.put(r.getString(0), (r.getLong(1), r.getLong(2))))
        }
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    try {
      val texts = (1L to 20L).map(i => (i, s"doc text number $i"))
      stage(texts.toDF("doc_id", "text"), "phase1.parquet")
      runOnce()
      stage(texts.map { case (i, t) => (i + 100L, t) }.toDF("doc_id", "text"),
        "phase2.parquet")
      runOnce() // new query instance, same checkpoint: state must resume
      assert(results.size == 20)
      results.foreach { case (_, (keeper, n)) =>
        assert(keeper <= 20L, s"keeper $keeper: phase-1 state was lost")
        assert(n == 2L, s"n_copies $n: phase-2 increment missed old state")
      }
    } finally {
      BoundedReplay.deleteStaged(inDir); BoundedReplay.deleteStaged(ckpt)
    }
  }

  test("foreachBatch upserts each micro-batch through the catalog") {
    import spark.implicits._
    import org.apache.spark.sql.DataFrame
    implicit val sqlCtx = spark.sqlContext
    val cat = new Catalog(spark)
    val key = "stream_upsert_sink"
    val mem = MemoryStream[Event]
    // the micro-batch DataFrame is only valid inside the call — eager
    // localCheckpoint decouples the stored table from the stream source
    val q = mem.toDF().writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        cat.upsert(key,
          batch.select(col("event_id"), col("event_type")).localCheckpoint(true),
          "event_id")
        ()
      }
      .outputMode(OutputMode.Append).start()
    try {
      mem.addData(Event(1, ts(0), 1, "click", 1.0),
        Event(2, ts(1), 1, "view", 1.0))
      q.processAllAvailable()
      // batch 2 updates id 2 and inserts id 3 — SCD-1 latest-wins
      mem.addData(Event(2, ts(2), 1, "click", 1.0),
        Event(3, ts(3), 2, "view", 1.0))
      q.processAllAvailable()
    } finally q.stop()
    val out = cat.get(key).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out == Map(1L -> "click", 2L -> "click", 3L -> "view"),
      s"upsert result: $out")
  }

  test("dedicated left_semi / left_outer streaming runs equal the shared-pass derived views") {
    // The four gate queries project ONE full-outer streaming pass; this
    // proves the per-variant streaming plans (own state stores, own
    // watermark emission) produce exactly those projections.
    def key(r: org.apache.spark.sql.Row): String =
      (0 until r.length).map(i => String.valueOf(r.get(i))).mkString("|")
    val semiDedicated = EventStream
      .intervalJoinVariantOverFiles(spark, sf0001, "left_semi")
      .select(col("error_id"), col("user_id"), col("error_ts"))
      .collect().map(key).toSet
    val semiDerived = EventStream.intervalJoinSemiOverFiles(spark, sf0001)
      .collect().map(key).toSet
    assert(semiDedicated == semiDerived,
      s"left_semi dedicated vs derived: ${semiDedicated.size} vs ${semiDerived.size} rows")
    val outerDedicated = EventStream
      .intervalJoinVariantOverFiles(spark, sf0001, "left_outer")
      .collect().map(key).toSet
    val outerDerived = EventStream.intervalJoinOuterOverFiles(spark, sf0001)
      .collect().map(key).toSet
    assert(outerDedicated == outerDerived,
      s"left_outer dedicated vs derived: ${outerDedicated.size} vs ${outerDerived.size} rows")
  }

  test("streaming quality monitor converges to the batch quality rollup") {
    import spark.implicits._
    val streamed = graft.streaming.DocStream
      .streamingQualityMonitor(spark, sf0001)
      .as[(String, String, Long, Long)].collect().toSet
    val batch = Tables.documents(spark, sf0001)
      .select(col("source"),
        graft.ext.TextAnalysis.qualityReason(col("text")).as("reason"),
        size(graft.ext.TextAnalysis.tokens(col("text"))).cast("long")
          .as("n_tokens"))
      .groupBy("source", "reason")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("total_tokens"))
      .as[(String, String, Long, Long)].collect().toSet
    assert(streamed == batch,
      s"stream/batch divergence: ${(streamed diff batch).take(3)} vs ${(batch diff streamed).take(3)}")
    // every reason bucket that fires is one of the contracted four
    assert(streamed.map(_._2).subsetOf(
      Set("pass", "too_short", "low_stopword", "low_diversity")))
  }

  test("streaming readiness gate equals the batch gate row-for-row") {
    // the three execution forms (batch gate, batch delta gate, stream)
    // must emit bit-identical verdict rows — they register one oracle
    graft.ext.Pipeline.resetReadyStateMemo()
    graft.ext.Dedup.resetStandingStateMemo()
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getDouble(2),
        r.getBoolean(3)))
    val batch = rows(graft.ext.Pipeline.trainingReadiness(spark, sf0001))
    val stream = rows(graft.streaming.DocStream
      .streamingTrainingReadiness(spark, sf0001))
    assert(batch.length == 7 && stream.sameElements(batch),
      s"stream gate diverged:\nbatch=${batch.mkString("\n")}\nstream=${stream.mkString("\n")}")
  }

  test("streaming compaction monitor agrees with the batch plan's bin count") {
    import spark.implicits._
    // monitor: per directory, floor-full bins + any remainder bytes
    val monitor = graft.streaming.DocStream
      .streamingCompactionMonitor(spark, sf0001)
      .select(col("source"), col("full_bins"), col("pending_bytes"))
      .as[(String, Long, Long)].collect()
      .map { case (s, fb, pb) => s -> (fb + (if (pb > 0) 1L else 0L)) }
      .toMap
    // batch plan: distinct compact out_ids per directory. The plan
    // packs each file wholly into its start-offset bin, so its last
    // bin can absorb one file's boundary overflow — the plan's bin
    // count is the monitor's byte-quota estimate, or one less when
    // such an overflow saves the final bin. Never more.
    val plan = graft.operators.Layout.compactionPlan(spark, sf0001)
      .filter(col("action") === "compact")
      .groupBy("source").agg(count(lit(1)).as("bins"))
      .as[(String, Long)].collect().toMap
    assert(monitor.nonEmpty)
    monitor.foreach { case (src, est) =>
      val bins = plan.getOrElse(src, 0L)
      assert(bins == est || bins == est - 1,
        s"$src: plan=$bins monitor estimate=$est")
    }
  }

  test("checkpoint kill/resume: aggregation state survives a restart and only new batches process") {
    // The replay twins prove streaming SEMANTICS in-session (memory
    // sink, temp checkpoint); this proves the OPERATIONAL story — a
    // real on-disk checkpointLocation, a stopped ("killed") query, and
    // a second query started from the same checkpoint that (a)
    // processes ONLY files that arrived while it was down and (b)
    // resumes the state store, so merged totals equal the batch answer
    // over everything ever ingested — the restart path the reference's
    // controller lost job state on (manager.go keeps job state in
    // process memory).
    import org.apache.spark.sql.DataFrame
    val work = java.nio.file.Files.createTempDirectory("graft-ckpt")
    val streamDir = work.resolve("in")
    java.nio.file.Files.createDirectories(streamDir)
    val ckpt = work.resolve("ckpt").toString
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
    val schema = docs.schema
    // stage one parquet FILE per ingest batch (FileStreamSource tails
    // files in a directory, not nested dirs)
    def stage(df: DataFrame, n: String): Long = {
      val tmp = work.resolve(n + ".tmp")
      df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = new java.io.File(tmp.toString).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.move(part.toPath, streamDir.resolve(n + ".parquet"))
      df.count()
    }
    // the maintained state: per-source document and char totals (the
    // ingest-monitor shape; every source spans both halves, so run-2
    // totals are only correct if run-1 state was resumed)
    val upserts = scala.collection.mutable.Map[String, (Long, Long)]()
    val sink: (DataFrame, Long) => Unit = (batch, _) =>
      batch.collect().foreach(r =>
        upserts(r.getString(0)) = (r.getLong(1), r.getLong(2)))
    def runOnce(): Long = {
      val q = spark.readStream.schema(schema).parquet(streamDir.toString)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("chars"))
        .writeStream.outputMode(OutputMode.Update)
        .option("checkpointLocation", ckpt)
        .foreachBatch(sink)
        .start()
      try { q.processAllAvailable(); q.recentProgress.map(_.numInputRows).sum }
      finally q.stop()
    }
    val n1 = stage(docs.filter(col("doc_id") % 2 === 0), "b1")
    assert(runOnce() == n1, "first session reads the first batch")
    // the query is now STOPPED (the kill); new data lands while down
    val n2 = stage(docs.filter(col("doc_id") % 2 === 1), "b2")
    val in2 = runOnce()
    assert(in2 == n2,
      s"resumed session must process ONLY the new batch: read $in2 rows, new batch has $n2 (a full re-read would be ${n1 + n2})")
    // state survived: run 2 saw half the corpus yet the upserted view
    // carries FULL totals for every source
    val expect = docs.groupBy(col("source"))
      .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("c"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(upserts.toMap == expect,
      s"resumed state must merge both batches: got $upserts want $expect")
    // checkpoint size vs state rows (SCALE.md operational note)
    def du(f: java.io.File): Long =
      if (f.isFile) f.length
      else Option(f.listFiles()).getOrElse(Array.empty).map(du).sum
    info(s"checkpoint bytes=${du(new java.io.File(ckpt))} state_rows=${expect.size}")
  }

  test("checkpoint kill/resume under the RocksDB state store provider") {
    // The HDFS-provider test above proves the restart path for the
    // default store; the transformWithState family REQUIRES RocksDB
    // (EventStream.sessionizeTwsOverFiles pins the provider), and
    // RocksDB's checkpoint layout differs — changelog/SST files plus
    // zip'd snapshots instead of per-version delta files — so its
    // resume path must be proven separately: this is the provider the
    // operational story actually ships on for custom-state pipelines.
    import org.apache.spark.sql.DataFrame
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val prevProvider = spark.conf.getOption(providerKey)
    spark.conf.set(providerKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val work = java.nio.file.Files.createTempDirectory("graft-ckpt-rocks")
      val streamDir = work.resolve("in")
      java.nio.file.Files.createDirectories(streamDir)
      val ckpt = work.resolve("ckpt").toString
      val docs = spark.read.parquet(s"$sf0001/documents.parquet")
      val schema = docs.schema
      def stage(df: DataFrame, n: String): Long = {
        val tmp = work.resolve(n + ".tmp")
        df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
        val part = new java.io.File(tmp.toString).listFiles()
          .filter(_.getName.endsWith(".parquet")).head
        java.nio.file.Files.move(part.toPath, streamDir.resolve(n + ".parquet"))
        df.count()
      }
      val upserts = scala.collection.mutable.Map[String, (Long, Long)]()
      val sink: (DataFrame, Long) => Unit = (batch, _) =>
        batch.collect().foreach(r =>
          upserts(r.getString(0)) = (r.getLong(1), r.getLong(2)))
      def runOnce(): Long = {
        val q = spark.readStream.schema(schema).parquet(streamDir.toString)
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("chars"))
          .writeStream.outputMode(OutputMode.Update)
          .option("checkpointLocation", ckpt)
          .foreachBatch(sink)
          .start()
        try { q.processAllAvailable(); q.recentProgress.map(_.numInputRows).sum }
        finally q.stop()
      }
      val n1 = stage(docs.filter(col("doc_id") % 2 === 0), "b1")
      assert(runOnce() == n1, "first session reads the first batch")
      val n2 = stage(docs.filter(col("doc_id") % 2 === 1), "b2")
      val in2 = runOnce()
      assert(in2 == n2,
        s"RocksDB resume must process ONLY the new batch: read $in2 rows, new batch has $n2")
      val expect = docs.groupBy(col("source"))
        .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("c"))
        .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
      assert(upserts.toMap == expect,
        s"RocksDB-resumed state must merge both batches: got $upserts want $expect")
      // footprint note for SCALE.md: RocksDB checkpoints carry SST/
      // changelog state per store, not per-version tiny deltas
      def du(f: java.io.File): Long =
        if (f.isFile) f.length
        else Option(f.listFiles()).getOrElse(Array.empty).map(du).sum
      info(s"rocksdb checkpoint bytes=${du(new java.io.File(ckpt))} state_rows=${expect.size}")
    } finally {
      prevProvider match {
        case Some(p) => spark.conf.set(providerKey, p)
        case None => spark.conf.unset(providerKey)
      }
    }
  }
}
