package graft

import org.apache.spark.sql.functions._

/** Adversarial-SHAPE hardening: the 10×/100× probes stress SIZE; this
  * suite stresses shape — the degenerate layouts a 100 TB lake will
  * eventually contain, which small well-behaved fixtures never show:
  *
  *   - a mega duplicate cluster (3,000 near-identical docs → one LSH
  *     bucket orders of magnitude over the star-cap; the scaled-down
  *     stand-in for the 10⁶-member bucket a crawl of a template site
  *     produces),
  *   - sub-[[graft.ext.TextAnalysis.BoilerN]]-token and EMPTY texts
  *     (every 0/0 gram-fraction gate fires),
  *   - the eval source ([[graft.ext.TextAnalysis.EvalSource]]) absent
  *     entirely — target language models with zero mass,
  *   - a 0-row events table (every streaming bounded replay and every
  *     event scalar runs over nothing),
  *   - an all-ties lineitem group (zero variance, vmin == vmax: every
  *     width_bucket / z-score / quantile path hits its degenerate arm),
  *   - identical embedding vectors en masse plus an all-zero vector
  *     (k-means ties, zero norms, zero-variance dimensions).
  *
  * The assertion is NO-THROW + a sane row count per query, not oracle
  * parity (DuckDB comparison stays at the driver gate on the real
  * fixture); a hostile shape must degrade to empty/NULL rows, never to
  * an exception or a hang.
  */
class HostileFixtureSpec extends SparkSpec {

  private lazy val hostileDir: String = {
    val base = sf0001
    val out = "/tmp/graft_hostile_fixture_v3"
    val marker = new java.io.File(s"$out/_built")
    if (!marker.exists()) {
      // dims + orders: unchanged copies
      Seq("region", "nation", "customer", "supplier", "part", "orders")
        .foreach { t =>
          spark.read.parquet(s"$base/$t.parquet")
            .write.mode("overwrite").parquet(s"$out/$t.parquet")
        }
      // lineitem: one all-ties group — every 'R' row carries the same
      // price and quantity (vmin == vmax inside the group)
      spark.read.parquet(s"$base/lineitem.parquet")
        .withColumn("l_extendedprice",
          when(col("l_returnflag") === "R", lit(1000.0))
            .otherwise(col("l_extendedprice")))
        .withColumn("l_quantity",
          when(col("l_returnflag") === "R", lit(10.0))
            .otherwise(col("l_quantity")))
        .write.mode("overwrite").parquet(s"$out/lineitem.parquet")
      // events: the 0-row table (schema preserved, zero rows)
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      spark.read.parquet(s"$base/events.parquet")
        .filter(lit(false))
        .write.mode("overwrite").parquet(s"$out/events.parquet")
      // documents: drop the eval source entirely; add a 3,000-member
      // near-identical cluster (one shared 9-token body, a 1-token
      // tail in 7 variants — every signature scheme buckets them
      // together) and gramless/empty/whitespace texts
      val docs = spark.read.parquet(s"$base/documents.parquet")
      val mega = spark.range(3000)
        .select((col("id") + 50000000L).as("doc_id"),
          concat(lit("shared template header quick brown fox lazy dog tail"),
            lit(" v"), (col("id") % 7).cast("string")).as("text"),
          lit("en").as("lang"), lit("srcmega").as("source"))
        .withColumn("n_chars", length(col("text")).cast("long"))
      val tiny = spark.range(5)
        .select((col("id") + 60000000L).as("doc_id"),
          element_at(array(lit(""), lit("   "), lit("ab"), lit("one two three"),
            lit("contact leak a@b.io 10.0.0.1 555-123-4567 123-45-6789")),
            (col("id") + 1).cast("int")).as("text"),
          lit("en").as("lang"), lit("srctiny").as("source"))
        .withColumn("n_chars", length(col("text")).cast("long"))
      // 300 assets of 512 IDENTICAL bytes each: every 256-byte frame of
      // every asset hashes to the same dHash → ONE frame-level bucket of
      // 600 members, far over the star cap (the all-identical-frames
      // shape a re-encoded template video produces)
      val frames = spark.range(300)
        .select((col("id") + 80000000L).as("doc_id"),
          lit("F" * 512).as("text"),
          lit("en").as("lang"), lit("srcframes").as("source"))
        .withColumn("n_chars", length(col("text")).cast("long"))
      // one document that is a single giant run of PII matches (the
      // leaked-dump shape): 5,000 back-to-back emails
      val giant = spark.range(1)
        .select(lit(90000000L).as("doc_id"),
          lit((1 to 5000).map(i => s"u$i@ex.io").mkString(" ")).as("text"),
          lit("en").as("lang"), lit("srcgiant").as("source"))
        .withColumn("n_chars", length(col("text")).cast("long"))
      docs.filter(col("source") =!= graft.ext.TextAnalysis.EvalSource)
        .unionByName(mega).unionByName(tiny)
        .unionByName(frames).unionByName(giant)
        .write.mode("overwrite").parquet(s"$out/documents.parquet")
      // embeddings: first 100 vectors identical (k-means seed/assignment
      // ties), one all-zero vector (zero norm), rest unchanged
      val emb = spark.read.parquet(s"$base/embeddings.parquet")
      val zeroed = emb
        .withColumn("embedding",
          when(col("vec_id") < 100,
            expr("transform(embedding, x -> CAST(0.25 AS FLOAT))"))
            .otherwise(col("embedding")))
      val zeroVec = emb.limit(1)
        .select(lit(70000000L).as("vec_id"),
          expr("transform(embedding, x -> CAST(0.0 AS FLOAT))").as("embedding"),
          col("label"))
      zeroed.unionByName(zeroVec)
        .write.mode("overwrite").parquet(s"$out/embeddings.parquet")
      marker.getParentFile.mkdirs(); marker.createNewFile()
    }
    out
  }

  test("hostile shapes produce the CONTRACTED degraded behavior, not just no-throw") {
    import org.apache.spark.sql.functions._
    // (a) the 3,000-member near-dup cluster is star-capped: candidate
    // pairs stay LINEAR in cluster size (star topology ≈ members-1 per
    // bucket), nowhere near the ~4.5M all-pairs blowup
    val megaPairs = graft.ext.Dedup.minhashPairs(spark, hostileDir)
      .filter(col("d1") >= 50000000L || col("d2") >= 50000000L)
      .count()
    assert(megaPairs > 0 && megaPairs < 50000L,
      s"mega-cluster pairs $megaPairs — star cap must keep this linear")
    // (b) the PII-bearing doc is flagged; the clean corpus is not
    val pii = graft.ext.Pii.piiScan(spark, hostileDir)
      .filter(col("has_pii")).select("doc_id").collect().map(_.getLong(0))
    assert(pii.toSet == Set(60000004L, 90000000L), s"pii docs: ${pii.toSeq}")
    // (c) weighted sampling ranks weight-0 (empty) docs LAST within
    // their stratum: every NULL-key rank exceeds every non-NULL-key
    // rank (the desc_nulls_last ordering contract, not a tautology)
    val ws = graft.ext.Sampling.weightedSample(spark, hostileDir, n = 10000)
    val tiny = ws.filter(col("source") === "srctiny").collect()
    val nullRks = tiny.filter(_.isNullAt(3)).map(_.getAs[Long]("rk"))
    val realRks = tiny.filter(!_.isNullAt(3)).map(_.getAs[Long]("rk"))
    assert(nullRks.nonEmpty && realRks.nonEmpty &&
      nullRks.min > realRks.max,
      s"weight-0 docs must rank after weighted ones: null=${nullRks.toSeq} real=${realRks.toSeq}")
    // (d) every train doc gets a dsir row (left-join coverage contract)
    val trainDocs = Tables.documents(spark, hostileDir)
      .filter(col("source") =!= graft.ext.TextAnalysis.EvalSource &&
        size(graft.ext.TextAnalysis.tokens(col("text"))) > 0).count()
    val dsirRows = graft.ext.TextAnalysis.dsirWeights(spark, hostileDir).count()
    assert(dsirRows == trainDocs, s"dsir covers $dsirRows of $trainDocs train docs")
  }

  test("dsir weight table covers every train doc once vocabulary exceeds the top-V bound") {
    import org.apache.spark.sql.functions._
    // 1,500 docs of ONE UNIQUE token each + a shared-token eval/train
    // head: vocabulary (1,501) > DsirVocabV (1,024), so the tail docs
    // are 100% out-of-vocabulary — exactly the condition under which
    // the pre-fix inner join silently dropped them from the table
    // versioned path (the hostile fixture's _v2 discipline): bump on
    // any change to the construction or the _built sentinel serves
    // stale parquet to the assertions
    val out = "/tmp/graft_oov_fixture_v1"
    if (!new java.io.File(s"$out/_built").exists()) {
      val tail = spark.range(1500)
        .select(col("id").as("doc_id"),
          concat(lit("uniquetail"), col("id")).as("text"),
          lit("en").as("lang"), lit("src9").as("source"))
      val head = spark.range(1500, 1600).toDF("doc_id")
        .select(col("doc_id"), lit("common words repeated here").as("text"),
          lit("en").as("lang"),
          when(col("doc_id") < 1550L, graft.ext.TextAnalysis.EvalSource)
            .otherwise("src9").as("source"))
      tail.unionByName(head)
        .withColumn("n_chars", length(col("text")).cast("long"))
        .write.mode("overwrite").parquet(s"$out/documents.parquet")
      new java.io.File(s"$out/_built").createNewFile()
    }
    val w = graft.ext.TextAnalysis.dsirWeights(spark, out)
    assert(w.count() == 1550L, // 1500 tail + 50 train head docs
      s"expected one weight row per train doc, got ${w.count()}")
    val oov = w.filter(col("n_invocab") === 0)
    assert(oov.count() == 1500L - (graft.ext.TextAnalysis.DsirVocabV - 4),
      "tail docs beyond the vocab bound must surface as OOV rows")
    assert(oov.filter(col("avg_logratio").isNotNull).count() == 0,
      "OOV-only docs carry NULL scores, never fabricated ones")
  }

  test("frame near-dup: an all-identical-frames mega-bucket hits the star cap") {
    import org.apache.spark.sql.functions._
    // 600 identical frames share every band → one bucket of 600 ≫
    // MaxBucket; all-pairs would be ~180k candidates, the star cap
    // keeps the surviving pair set LINEAR in bucket size
    val pairs = graft.ext.Dedup.framePhashPairs(spark, hostileDir)
      .filter(col("asset1").between(80000000L, 80000299L) &&
        col("asset2").between(80000000L, 80000299L))
      .collect()
    assert(pairs.nonEmpty, "identical frames must still surface SOME pairs")
    assert(pairs.length < 10000,
      s"${pairs.length} frame pairs — star cap must keep this linear")
    assert(pairs.forall(_.getAs[Long]("hamming") == 0L),
      "identical frames must verify at hamming 0")
  }

  test("frame overlap is bounded to [0, 1] even under the star-capped mega-bucket") {
    import org.apache.spark.sql.functions._
    val rows = graft.ext.Dedup.frameOverlapAssets(spark, hostileDir).collect()
    assert(rows.nonEmpty)
    // the same-side fix's invariant: matched count and frame count come
    // from ONE side, so overlap can never exceed 1.0 (under the star
    // cap the reported overlap is a LOWER bound — candidate pairs are
    // capped, matched-frame counts only shrink, never inflate)
    rows.foreach { r =>
      val o = r.getAs[Double]("overlap")
      assert(o > 0.0 && o <= 1.0, s"overlap $o outside (0,1]: $r")
    }
    assert(rows.exists(r =>
      r.getAs[Long]("asset1") >= 80000000L &&
        r.getAs[Long]("asset1") <= 80000299L &&
        r.getAs[Long]("asset2") >= 80000000L &&
        r.getAs[Long]("asset2") <= 80000299L),
      "the capped mega-bucket must still yield cross-asset overlap rows")
  }

  test("streaming PII monitor: a document that is one giant run of PII reports exact counts") {
    import org.apache.spark.sql.functions._
    val row = graft.streaming.DocStream.streamingPiiMonitor(spark, hostileDir)
      .filter(col("source") === "srcgiant").collect()
    assert(row.length == 1)
    assert(row(0).getAs[Long]("n_docs") == 1L)
    assert(row(0).getAs[Long]("n_docs_with_pii") == 1L)
    assert(row(0).getAs[Long]("n_matches") == 5000L,
      s"expected 5000 email matches, got ${row(0).getAs[Long]("n_matches")}")
  }

  test("streaming as-of: NULL-user events are dropped; non-null matches equal the batch form") {
    import org.apache.spark.sql.functions._
    val out = "/tmp/graft_nulluser_fixture_v1"
    if (!new java.io.File(s"$out/_built").exists()) {
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      spark.read.parquet(s"$sf0001/events.parquet")
        .withColumn("user_id",
          when(col("event_id") % 97 === 0, lit(null)).otherwise(col("user_id")))
        .write.mode("overwrite").parquet(s"$out/events.parquet")
      new java.io.File(s"$out/_built").createNewFile()
    }
    val streamed = graft.streaming.EventStream.asofOverFiles(spark, out)
      .select("event_id", "user_id", "gap_us").collect()
    assert(streamed.nonEmpty)
    assert(streamed.forall(r => !r.isNullAt(1)),
      "a NULL-user event must never emit a match")
    assert(streamed.forall(_.getAs[Long]("gap_us") >= 0L))
    // the streamed result IS the batch as-of restricted to keyed events
    val batch = graft.operators.EventOps.asofErrorClick(spark, out)
      .filter(col("user_id").isNotNull)
      .select("event_id", "user_id", "gap_us").collect()
    assert(streamed.map(_.toSeq).toSet == batch.map(_.toSeq).toSet,
      s"streamed ${streamed.length} rows vs batch ${batch.length}")
  }

  test("staging refuses an empty or partitioned source instead of replaying zero rows") {
    import graft.streaming.BoundedReplay
    val stage = java.nio.file.Files.createTempDirectory("graft_stage_dst")
    // a source dir with NO parquet files: the silent-zero-rows bug class
    val empty = java.nio.file.Files.createTempDirectory("graft_empty_src")
    val part = java.nio.file.Files.createTempDirectory("graft_part_src")
    try {
      intercept[IllegalArgumentException] {
        BoundedReplay.stageParquetCopy(empty, stage, "x.parquet")
      }
      // a key=value partitioned source: flattening would drop the
      // partition columns' values — must refuse, not stage wrong data
      java.nio.file.Files.createDirectory(part.resolve("key=1"))
      intercept[IllegalArgumentException] {
        BoundedReplay.stageParquetCopy(part, stage, "y.parquet")
      }
    } finally Seq(stage, empty, part).foreach(BoundedReplay.deleteStaged)
  }

  test("containment: the mega-cluster collapses to keepers and stays pair-bounded") {
    import org.apache.spark.sql.functions._
    // 3,000 near-identical docs reduce to 7 exact-dedup keepers (7
    // tail variants) BEFORE candidate generation, so the worst case
    // is C(7,2)=21 pairs — never the ~4.5M an uncollapsed cluster
    // would enumerate; and the 300 one-token frame docs (no trigrams)
    // must pair with nothing
    val pairs = graft.ext.Dedup.containmentPairs(spark, hostileDir).collect()
    val mega = pairs.filter(r => r.getLong(0) >= 50000000L && r.getLong(0) < 60000000L)
    assert(mega.nonEmpty && mega.length <= 21,
      s"mega-cluster containment pairs ${mega.length} — exact-dedup-first must bound this at C(7,2)")
    assert(mega.forall(_.getAs[Double]("containment") >= 0.8))
    assert(!pairs.exists(r => r.getLong(0) >= 80000000L || r.getLong(1) >= 80000000L),
      "gramless one-token docs must generate no candidates")
  }

  test("embedding outliers: zero-norm vector is survivable on a diffuse corpus") {
    import org.apache.spark.sql.functions._
    // the hostile labels are DIFFUSE (cosines span ~[−0.4, 0.97], σ
    // huge), so a statistically honest screen flags little or nothing
    // — the contract here is no NaN/no throw under the zero-norm
    // vector and the 100-identical-vector block, and that whatever IS
    // flagged sits strictly below its label mean (the tight-cluster
    // detection case lives in the constructed fixture below)
    val out = graft.ext.Similarity.embeddingOutliers(spark, hostileDir).collect()
    out.foreach { r =>
      assert(!r.getAs[Double]("cos_sim").isNaN && !r.getAs[Double]("label_std").isNaN)
      assert(r.getAs[Double]("cos_sim") < r.getAs[Double]("label_mean"))
    }
  }

  test("snapshot diff: degenerate windows produce single-action reports, σ=0 labels flag nothing") {
    import org.apache.spark.sql.functions._
    // versioned fixture discipline: bump _v1 on any construction change
    val out = "/tmp/graft_snapdiff_fixture_v1"
    if (!new java.io.File(s"$out/_built").exists()) {
      val li = spark.read.parquet(s"$sf0001/lineitem.parquet")
      // overlap-only rows: both snapshots see EXACTLY the same lines
      li.filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("2000-01-01").cast("timestamp"))
        .write.mode("overwrite").parquet(s"$out/lineitem.parquet")
      // embeddings: one single-member label (no sample σ), one label of
      // three IDENTICAL vectors (σ = 0, threshold = mean, flags
      // nothing), and one TIGHT cluster + a zero-norm vector (the
      // encoder-failure row the screen exists to catch)
      val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
      emb.limit(1).select(lit(1L).as("vec_id"), col("embedding"), lit(99).as("label"))
        .unionByName(spark.range(3).select((col("id") + 10L).as("vec_id"),
          expr("transform(sequence(1, 8), x -> CAST(0.5 AS FLOAT))").as("embedding"),
          lit(98).as("label")))
        .unionByName(spark.range(8).select((col("id") + 20L).as("vec_id"),
          expr("transform(sequence(1, 8), x -> CAST(CASE WHEN x = 1 THEN 1.0" +
            " ELSE 0.001 * id END AS FLOAT))").as("embedding"),
          lit(97).as("label")))
        .unionByName(spark.range(1).select(lit(30L).as("vec_id"),
          expr("transform(sequence(1, 8), x -> CAST(0.0 AS FLOAT))").as("embedding"),
          lit(97).as("label")))
        .write.mode("overwrite").parquet(s"$out/embeddings.parquet")
      new java.io.File(s"$out/_built").createNewFile()
    }
    val diff = graft.operators.Relational.snapshotDiff(spark, out).collect()
    assert(diff.length == 1 && diff(0).getString(0) == "unchanged",
      s"identical snapshots must report ONE action row: ${diff.toSeq}")
    assert(diff(0).getAs[Double]("qty_delta") == 0.0)
    val flagged = graft.ext.Similarity.embeddingOutliers(spark, out).collect()
    assert(flagged.map(_.getLong(0)).toSeq == Seq(30L),
      s"tight cluster flags exactly the zero-norm vector (labels 98/99 flag " +
        s"nothing); got ${flagged.map(_.getLong(0)).toSeq}")
  }

  test("incremental dedup: the mega-cluster's delta slice is caught against a capped base") {
    import org.apache.spark.sql.functions._
    val rows = graft.ext.Dedup.incrementalDedup(spark, hostileDir)
      .filter(col("doc_id") >= 50000000L && col("doc_id") < 50003000L)
      .collect()
    assert(rows.nonEmpty, "the mega cluster has delta members (ids ending in 9)")
    // 3,000 near-identical docs: every delta member has an identical
    // base twin (same variant), and the 64-smallest-ids base cap keeps
    // the candidate set bounded WITHOUT losing the best match — the
    // cap's correctness claim, asserted on the worst shape
    rows.foreach { r =>
      assert(r.getAs[Boolean]("is_dup"),
        s"mega delta ${r.getAs[Long]("doc_id")} must match the base corpus")
      assert(r.getAs[Double]("est_jaccard") >= 0.75)
      val b = r.getAs[Long]("best_match")
      assert(b % graft.ext.Dedup.DeltaMod != graft.ext.Dedup.DeltaMod - 1)
    }
  }

  test("streaming quality monitor: empty and sub-20-token docs land in too_short, totals cover the corpus") {
    import org.apache.spark.sql.functions._
    val rows = graft.streaming.DocStream
      .streamingQualityMonitor(spark, hostileDir).collect()
    // srctiny is all degenerate (empty/whitespace/2-token/…): every one
    // of its docs fails too_short, none may disappear
    val tiny = rows.filter(_.getAs[String]("source") == "srctiny")
    assert(tiny.map(_.getAs[String]("reason")).toSet == Set("too_short"))
    assert(tiny.map(_.getAs[Long]("n_docs")).sum == 5L)
    // srcmega's 10-token template also fails too_short — 3,000 strong
    val mega = rows.filter(r => r.getAs[String]("source") == "srcmega" &&
      r.getAs[String]("reason") == "too_short")
    assert(mega.map(_.getAs[Long]("n_docs")).sum == 3000L)
    // nothing is dropped: per-source doc counts sum to the corpus
    assert(rows.map(_.getAs[Long]("n_docs")).sum ==
      Tables.documents(spark, hostileDir).count())
  }

  test("calibration stays a 10-row report with bounded scores on the all-ties fixture") {
    import org.apache.spark.sql.functions._
    // the hostile lineitem pins every 'R' row to one price/quantity —
    // a degenerate feature distribution the GD probe must survive with
    // a full bin grid (empty bins NULL, never dropped) and valid scores
    val rows = graft.ext.Learn.calibrationBins(spark, hostileDir).collect()
    assert(rows.length == graft.ext.Learn.CalibBins,
      s"bin grid must densify to exactly ${graft.ext.Learn.CalibBins} rows")
    assert(rows.map(_.getAs[Long]("bin")).toSeq == (0L until 10L).toSeq)
    rows.foreach { r =>
      val ece = r.getAs[Double]("ece"); val brier = r.getAs[Double]("brier")
      assert(ece >= 0.0 && ece <= 1.0 && !ece.isNaN)
      assert(brier >= 0.0 && brier <= 1.0 && !brier.isNaN)
      if (r.getAs[Long]("n_preds") == 0L)
        assert(r.isNullAt(r.fieldIndex("avg_pred")),
          "an empty bin reports NULL, never a fabricated mean")
    }
  }

  test("streaming wordcount equals the batch aggregate on the degenerate corpus") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // empty/whitespace docs contribute zero tokens, the mega cluster
    // contributes 3,000× its template — the stream must converge to
    // the batch answer exactly, dropped-empty-token contract included
    val streamed = graft.streaming.DocStream.streamingWordCount(spark, hostileDir)
      .as[(String, Long)].collect().toSet
    val batch = graft.operators.WordCount
      .wordCount(Tables.documents(spark, hostileDir), "text")
      .as[(String, Long)].collect().toSet
    assert(streamed == batch,
      s"divergence: ${(streamed diff batch).take(3)} vs ${(batch diff streamed).take(3)}")
    assert(!streamed.exists(_._1.isEmpty), "empty tokens never surface")
  }

  test("semantic decontamination: zero-norm and identical train vectors stay survivable") {
    import org.apache.spark.sql.functions._
    // the hostile embeddings carry a zero-norm vector and a 100-member
    // identical block; the report must still be one bounded row per
    // eval vector with finite scores (zero-norm scores 0, ranks last)
    val rows = graft.ext.Similarity.decontaminateSemantic(spark, hostileDir)
      .collect()
    val evalN = Tables.embeddings(spark, hostileDir)
      .filter(col("vec_id") % graft.ext.Similarity.DecontamEvalMod === 0 &&
        col("vec_id") < graft.ext.Similarity.DecontamEvalMod.toLong *
          graft.ext.Similarity.DecontamEvalCap)
      .count()
    assert(rows.length == evalN, "one row per eval vector, none dropped")
    rows.foreach { r =>
      val c = r.getAs[Double]("cos_sim")
      assert(!c.isNaN && c >= -1.0 && c <= 1.0)
    }
    // the identical-block evals (vec_id < 100 ∩ mod-41: 0, 41, 82) have
    // bit-identical train twins in the block → cosine 1, contaminated
    val block = rows.filter(_.getAs[Long]("eval_id") < 100L)
    assert(block.nonEmpty && block.forall(_.getAs[Boolean]("contaminated")),
      "identical-block eval vectors must flag as contaminated")
  }

  test("shard manifest and t-closeness degrade to exact reports on degenerate shapes") {
    import org.apache.spark.sql.functions._
    // empty-text docs hash fine (md5('' ) is defined); shards still
    // partition the corpus exactly
    val m = graft.ext.Sampling.shardManifest(spark, hostileDir).collect()
    assert(m.map(_.getAs[Long]("n_docs")).sum ==
      Tables.documents(spark, hostileDir).count())
    // ONE balance band (every customer identical): the densified grid
    // collapses to m=1, both distances are exactly 0 (p=q=1), and the
    // m−1 EMD divisor must hit its greatest(…,1) guard, not divide by 0
    val out = "/tmp/graft_oneband_fixture_v1"
    if (!new java.io.File(s"$out/_built").exists()) {
      spark.read.parquet(s"$sf0001/customer.parquet")
        .withColumn("c_acctbal", lit(500.0))
        .write.mode("overwrite").parquet(s"$out/customer.parquet")
      new java.io.File(s"$out/_built").createNewFile()
    }
    val t = graft.operators.Relational.tClosenessAudit(spark, out).collect()
    assert(t.nonEmpty)
    t.foreach { r =>
      assert(r.getAs[Double]("tvd") == 0.0 && r.getAs[Double]("emd") == 0.0,
        s"single-band table: every group's distribution IS the global one: $r")
      assert(!r.getAs[Boolean]("above_t02"))
    }
  }

  test("release mechanism, purge cascade, and scene cuts keep their arithmetic contracts") {
    import org.apache.spark.sql.functions._
    // DP release: noise is finite, the noised count differs from the
    // true count by exactly the reported |noise| (self-consistency a
    // release consumer can audit), and no cell is dropped
    val dp = graft.operators.Relational.dpReleaseCounts(spark, hostileDir)
      .collect()
    assert(dp.nonEmpty)
    dp.foreach { r =>
      val t = r.getAs[Long]("true_count").toDouble
      val nz = r.getAs[Double]("noised_count")
      val a = r.getAs[Double]("abs_noise")
      assert(!nz.isNaN && !a.isNaN && a >= 0.0)
      assert(math.abs(math.abs(nz - t) - a) < 2e-6,
        s"|noised - true| must equal abs_noise (±rounding): $r")
    }
    // forget cascade: recompute every purge count INDEPENDENTLY from
    // the selector definition (it is a pure key function, so the test
    // can re-derive it) — asserting the query's own before-purged
    // identity would be a tautology
    def sel(k: org.apache.spark.sql.Column) =
      conv(substring(md5(concat(lit("graft-forget-v1:"), k.cast("string"))),
        1, 8), 16, 10).cast("long") <
        graft.operators.Relational.ForgetThreshold
    val cust = Tables.customer(spark, hostileDir)
    val ord = Tables.orders(spark, hostileDir)
    val li = Tables.lineitem(spark, hostileDir)
    val expect = Map(
      "customer" -> (cust.count(), cust.filter(sel(col("c_custkey"))).count()),
      "orders" -> (ord.count(), ord.filter(sel(col("o_custkey"))).count()),
      "lineitem" -> (li.count(), li.join(
        ord.filter(sel(col("o_custkey"))).select(col("o_orderkey")),
        col("l_orderkey") === col("o_orderkey"), "left_semi").count()))
    val tp = graft.operators.Relational.tombstonePurgeAudit(spark, hostileDir)
      .collect()
    assert(tp.map(_.getAs[String]("table_name")).toSeq ==
      Seq("customer", "lineitem", "orders"))
    tp.foreach { r =>
      val (eb, ep) = expect(r.getAs[String]("table_name"))
      assert(r.getAs[Long]("rows_before") == eb &&
        r.getAs[Long]("rows_purged") == ep &&
        r.getAs[Long]("rows_after") == eb - ep,
        s"independently recomputed purge mismatch: $r vs ($eb, $ep)")
    }
    assert(expect("customer")._2 > 0L,
      "the ~2% selector must fire on the fixture or the test is vacuous")
    // scene cuts: the 300 identical-frame assets must segment to
    // EXACTLY one scene each — frame 0 with NULL hamming, no interior
    // cut (identical frames have distance 0 < threshold)
    val cuts = graft.ext.Dedup.frameSceneCuts(spark, hostileDir)
      .filter(col("asset_id").between(80000000L, 80000299L)).collect()
    assert(cuts.length == 300, s"one scene row per identical-frame asset, got ${cuts.length}")
    assert(cuts.forall(r => r.getAs[Long]("frame_idx") == 0L &&
      r.isNullAt(r.fieldIndex("hamming"))),
      "an all-identical asset is ONE scene: frame 0, NULL distance")
  }

  test("snapshot diff: fully disjoint snapshots report ONLY removed and added") {
    import org.apache.spark.sql.functions._
    // every key before the overlap window is shifted, every key after
    // it is original, nothing in between: snapshot A and snapshot B
    // share NO (partkey, suppkey) — the full-churn shape (a table
    // rewritten wholesale between snapshots)
    val out = "/tmp/graft_disjointsnap_fixture_v1"
    if (!new java.io.File(s"$out/_built").exists()) {
      val li = spark.read.parquet(s"$sf0001/lineitem.parquet")
      val aOnly = li
        .filter(col("l_shipdate") < lit("1997-01-01").cast("timestamp"))
        .withColumn("l_partkey", col("l_partkey") + 10000000L)
      val bOnly = li
        .filter(col("l_shipdate") >= lit("2000-01-01").cast("timestamp"))
      aOnly.unionByName(bOnly)
        .write.mode("overwrite").parquet(s"$out/lineitem.parquet")
      new java.io.File(s"$out/_built").createNewFile()
    }
    val d = graft.operators.Relational.snapshotDiff(spark, out).collect()
    assert(d.map(_.getString(0)).toSet == Set("added", "removed"),
      s"disjoint snapshots must yield exactly added+removed: ${d.toSeq}")
    val rem = d.find(_.getString(0) == "removed").get
    assert(rem.getAs[Double]("qty_b") == 0.0 &&
      rem.getAs[Double]("qty_delta") == -rem.getAs[Double]("qty_a"),
      s"a removed-only action carries no B mass: $rem")
    val add = d.find(_.getString(0) == "added").get
    assert(add.getAs[Double]("qty_a") == 0.0 &&
      add.getAs[Double]("qty_delta") == add.getAs[Double]("qty_b"),
      s"an added-only action carries no A mass: $add")
  }

  test("t-closeness: a single-member QI group with an extreme band stays bounded") {
    import org.apache.spark.sql.functions._
    // one loner customer in its own (nation, segment) group whose
    // balance sits ~10,000 bands beyond the population: the densified
    // band domain stretches to cover it, every group's EMD divisor
    // grows to the full range, and nothing may NaN or blow past the
    // metric bounds
    val out = "/tmp/graft_loner_fixture_v1"
    if (!new java.io.File(s"$out/_built").exists()) {
      val c = spark.read.parquet(s"$sf0001/customer.parquet")
      def typed(name: String, v: org.apache.spark.sql.Column) =
        v.cast(c.schema(name).dataType).as(name)
      val loner = c.limit(1).select(c.schema.fieldNames.map {
        case "c_custkey" => typed("c_custkey", lit(99999999L))
        case "c_nationkey" => typed("c_nationkey", lit(77))
        case "c_mktsegment" => typed("c_mktsegment", lit("LONERSEG"))
        case "c_acctbal" => typed("c_acctbal", lit(9999999.0))
        case other => col(other)
      }.toSeq: _*)
      c.unionByName(loner)
        .write.mode("overwrite").parquet(s"$out/customer.parquet")
      new java.io.File(s"$out/_built").createNewFile()
    }
    val rows = graft.operators.Relational.tClosenessAudit(spark, out).collect()
    val loner = rows.filter(r => r.getAs[Number]("c_nationkey").intValue == 77)
    assert(loner.length == 1 && loner(0).getAs[Long]("group_size") == 1L,
      s"the single-member group must surface: ${loner.toSeq}")
    rows.foreach { r =>
      val tvd = r.getAs[Double]("tvd"); val emd = r.getAs[Double]("emd")
      assert(!tvd.isNaN && tvd >= 0.0 && tvd <= 1.0, s"tvd out of bounds: $r")
      assert(!emd.isNaN && emd >= 0.0 && emd <= 1.1, s"emd out of bounds: $r")
    }
    // the loner IS maximally far from the population distribution
    assert(loner(0).getAs[Double]("tvd") > 0.99,
      s"a singleton group concentrated on one extreme band must score ~1: ${loner(0)}")
  }

  test("incremental dedup (batch + stream): empty delta and delta-only corpora keep the contract") {
    import org.apache.spark.sql.functions._
    // empty DELTA: no doc_id ≡ 9 (mod 10) — today's crawl drop is
    // empty; the screen reports zero rows, never a crash
    val noDelta = "/tmp/graft_nodelta_fixture_v1"
    if (!new java.io.File(s"$noDelta/_built").exists()) {
      spark.read.parquet(s"$sf0001/documents.parquet")
        .filter(col("doc_id") % graft.ext.Dedup.DeltaMod =!=
          (graft.ext.Dedup.DeltaMod - 1))
        .write.mode("overwrite").parquet(s"$noDelta/documents.parquet")
      new java.io.File(s"$noDelta/_built").createNewFile()
    }
    assert(graft.ext.Dedup.incrementalDedup(spark, noDelta).count() == 0L)
    assert(graft.streaming.DocStream
      .streamingIncrementalDedup(spark, noDelta).count() == 0L)
    // empty BASE: every doc is delta — nothing to match against, so
    // every doc reports is_dup = false with NULL match, never a crash
    val allDelta = "/tmp/graft_alldelta_fixture_v1"
    if (!new java.io.File(s"$allDelta/_built").exists()) {
      spark.read.parquet(s"$sf0001/documents.parquet")
        .withColumn("doc_id",
          col("doc_id") * graft.ext.Dedup.DeltaMod +
            (graft.ext.Dedup.DeltaMod - 1))
        .write.mode("overwrite").parquet(s"$allDelta/documents.parquet")
      new java.io.File(s"$allDelta/_built").createNewFile()
    }
    val nDocs = Tables.documents(spark, allDelta).count()
    for (rows <- Seq(
        graft.ext.Dedup.incrementalDedup(spark, allDelta).collect(),
        graft.streaming.DocStream
          .streamingIncrementalDedup(spark, allDelta).collect())) {
      assert(rows.length == nDocs, "every delta doc reports a row")
      assert(rows.forall(r => !r.getAs[Boolean]("is_dup") &&
        r.isNullAt(r.fieldIndex("best_match"))),
        "an empty base can never produce a match")
    }
  }

  test("streaming incremental dedup equals the batch screen on the mega-cluster shape") {
    val streamed = graft.streaming.DocStream
      .streamingIncrementalDedup(spark, hostileDir)
      .collect().map(_.toSeq).toSet
    val batch = graft.ext.Dedup.incrementalDedup(spark, hostileDir)
      .collect().map(_.toSeq).toSet
    assert(streamed == batch,
      s"twin divergence: ${(streamed diff batch).take(3)} vs " +
        s"${(batch diff streamed).take(3)}")
  }

  test("scene cuts: a single-frame asset is one scene; sub-frame assets emit nothing") {
    import org.apache.spark.sql.functions._
    // assets with exactly ONE full 256-byte frame (length 256..511 —
    // the partial tail frame is dropped by contract): no adjacent
    // pair exists, so each yields exactly its opening-scene row with
    // NULL distance
    val oneFrame = Tables.documents(spark, hostileDir)
      .filter(length(col("text")).between(256, 511))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(oneFrame.nonEmpty, "fixture must contain 1-frame assets")
    val cuts = graft.ext.Dedup.frameSceneCuts(spark, hostileDir)
      .filter(col("asset_id").isInCollection(oneFrame)).collect()
    assert(cuts.length == oneFrame.size,
      s"${cuts.length} scene rows for ${oneFrame.size} one-frame assets")
    cuts.foreach { r =>
      assert(r.getAs[Long]("frame_idx") == 0L &&
        r.isNullAt(r.fieldIndex("hamming")),
        s"a 1-frame asset opens its only scene at frame 0: $r")
    }
    // an asset below one full frame carries no hashable frame at all:
    // zero rows (frames() still carries its partial bytes; SCENE
    // segmentation needs a full dHash window), never a crash
    assert(graft.ext.Dedup.frameSceneCuts(spark, hostileDir)
      .filter(col("asset_id") === 60000002L).count() == 0L,
      "sub-frame assets must not fabricate a scene row")
  }

  test("ANN family: corpus below the query band yields empty results; delta assign without a base fails loudly") {
    import org.apache.spark.sql.functions._
    // 16 vectors (ids 0..15): the fixed query band [16, 21) is EMPTY —
    // every ANN query must return zero rows, never throw on the empty
    // probe set
    val tiny = "/tmp/graft_tinyemb_fixture_v1"
    if (!new java.io.File(s"$tiny/_built").exists()) {
      spark.read.parquet(s"$sf0001/embeddings.parquet")
        .filter(col("vec_id") < 16L)
        .write.mode("overwrite").parquet(s"$tiny/embeddings.parquet")
      new java.io.File(s"$tiny/_built").createNewFile()
    }
    assert(graft.ext.Similarity.annIvf(spark, tiny).count() == 0L)
    assert(graft.ext.Similarity.annIvfPq(spark, tiny).count() == 0L)
    // no-delta embeddings: the maintenance tick reports every list
    // with n_delta = 0, NULL mean sim, and no retrain demand
    val noDelta = "/tmp/graft_nodeltaemb_fixture_v1"
    if (!new java.io.File(s"$noDelta/_built").exists()) {
      spark.read.parquet(s"$sf0001/embeddings.parquet")
        .filter(col("vec_id") % 10L =!= 9L)
        .write.mode("overwrite").parquet(s"$noDelta/embeddings.parquet")
      new java.io.File(s"$noDelta/_built").createNewFile()
    }
    val ticks = graft.ext.Similarity.ivfDeltaAssign(spark, noDelta).collect()
    assert(ticks.nonEmpty)
    ticks.foreach { r =>
      assert(r.getAs[Long]("n_delta") == 0L &&
        r.isNullAt(r.fieldIndex("delta_mean_sim")) &&
        !r.getAs[Boolean]("retrain_required"),
        s"an empty delta is a quiet tick: $r")
    }
    // all-delta embeddings: NO standing index exists — bootstrap
    // error, loud fail (the staging contract), never an empty report
    val allDelta = "/tmp/graft_alldeltaemb_fixture_v1"
    if (!new java.io.File(s"$allDelta/_built").exists()) {
      spark.read.parquet(s"$sf0001/embeddings.parquet")
        .withColumn("vec_id", col("vec_id") * 10L + 9L)
        .write.mode("overwrite").parquet(s"$allDelta/embeddings.parquet")
      new java.io.File(s"$allDelta/_built").createNewFile()
    }
    intercept[IllegalArgumentException] {
      graft.ext.Similarity.ivfDeltaAssign(spark, allDelta)
    }
  }

  test("substring dedup: the mega template is fully covered; gramless docs report zero") {
    import org.apache.spark.sql.functions._
    val rows = graft.ext.Dedup.substringDedup(spark, hostileDir).collect()
    val byId = rows.map(r => r.getAs[Long]("doc_id") -> r).toMap
    // every mega doc is one 10-token run shared corpus-wide: full
    // coverage, exactly one maximal run
    val mega = rows.filter(r => r.getAs[Long]("doc_id") >= 50000000L &&
      r.getAs[Long]("doc_id") < 50003000L)
    assert(mega.length == 3000)
    mega.foreach { r =>
      assert(r.getAs[Double]("dup_fraction") == 1.0 &&
        r.getAs[Long]("n_runs") == 1L &&
        r.getAs[Long]("longest_run") == r.getAs[Long]("n_tokens"),
        s"mega doc must be one fully-shared run: $r")
    }
    // sub-k-token docs (frames: ONE giant token; tiny: ≤ 3 tokens)
    // carry no grams and must report zeros, never vanish
    Seq(60000000L, 60000002L, 80000000L).foreach { id =>
      val r = byId(id)
      assert(r.getAs[Long]("dup_tokens") == 0L &&
        r.getAs[Double]("dup_fraction") == 0.0 &&
        r.getAs[Long]("n_runs") == 0L, s"gramless doc must report zeros: $r")
    }
  }

  test("on-ingest substring screen flags the mega-template deltas at full overlap") {
    import org.apache.spark.sql.functions._
    // every mega delta doc's 3 gram windows exist verbatim in its
    // base-side variant twins → shared_fraction exactly 1.0, flagged
    val rows = graft.streaming.DocStream
      .streamingSubstringScreen(spark, hostileDir)
      .filter(col("doc_id").between(50000000L, 50002999L)).collect()
    assert(rows.nonEmpty, "mega cluster has delta members")
    rows.foreach { r =>
      assert(r.getAs[Double]("shared_fraction") == 1.0 &&
        r.getAs[Boolean]("flagged"),
        s"mega delta must screen at full verbatim overlap: $r")
    }
  }

  test("BPE: sampled merge training still encodes the FULL vocabulary") {
    import org.apache.spark.sql.functions._
    // a corpus over 2× BpeTrainDocCap (stride 2: merges train on half
    // the docs) where EVERY doc carries a word unique to it — so half
    // the vocabulary exists only OFF-sample. The encode join must
    // still account for every token of every doc — the full-vocab
    // application path the sf0.01 gate (stride 1) cannot exercise. A
    // regression to sampled-vocab-only encoding silently drops the
    // off-sample words from the token accounting.
    val out = "/tmp/graft_bpebig_fixture_v1"
    if (!new java.io.File(s"$out/_built").exists()) {
      val base = spark.read.parquet(s"$sf0001/documents.parquet")
      (0 until 17).map { k =>
        base.withColumn("doc_id", col("doc_id") + lit(k * 100000L))
          .withColumn("text",
            concat(col("text"), lit(" uniq"), col("doc_id")))
      }.reduce(_ unionByName _)
        .withColumn("n_chars", length(col("text")).cast("long"))
        .write.mode("overwrite").parquet(s"$out/documents.parquet")
      new java.io.File(s"$out/_built").createNewFile()
    }
    val docs = Tables.documents(spark, out)
    assert(docs.count() > 2 * graft.ext.TextAnalysis.BpeTrainDocCap,
      "fixture must exceed 2x the training cap or this test is vacuous")
    val totTokens = docs
      .select(explode(graft.ext.TextAnalysis.tokens(col("text")))).count()
    val encTokens = graft.ext.TextAnalysis.bpeEncode(spark, out)
      .agg(sum("n_tokens")).collect()(0).getLong(0)
    assert(encTokens == totTokens,
      s"encode must account for every token ($encTokens of $totTokens): " +
        "off-sample vocabulary is being dropped")
  }

  test("join-size sketch on the 0-row events table: zero everywhere, NULL rel_err") {
    val r = graft.ext.Sketches.joinSizeEstimate(spark, hostileDir).collect()
    assert(r.length == 1)
    val row = r.head
    assert(row.getAs[Long]("exact_join_size") == 0L)
    assert(row.getAs[Long]("cms_join_size") == 0L,
      "an empty side must estimate 0, not NULL")
    assert(row.getAs[Long]("overcount") == 0L)
    assert(row.isNullAt(row.fieldIndex("rel_err")),
      "relative error of an empty join is contracted NULL, never inf/NaN")
  }

  test("kappa: a single-class corpus (p_e = 1) yields NULL kappa, never NaN") {
    // both margins concentrated on one class: every doc is lang 'und'
    // with marker-free text, so the classifier also answers 'und'
    val out = "/tmp/graft_hostile_kappa_v1"
    val marker = new java.io.File(s"$out/_built")
    if (!marker.exists()) {
      spark.range(20)
        .select(col("id").as("doc_id"),
          lit("zz yy xx ww vv").as("text"), lit("und").as("lang"),
          lit("src0").as("source"))
        .withColumn("n_chars", length(col("text")).cast("long"))
        .write.mode("overwrite").parquet(s"$out/documents.parquet")
      marker.getParentFile.mkdirs(); marker.createNewFile()
    }
    val r = graft.ext.TextAnalysis.kappaLangAgreement(spark, out).collect()
    assert(r.length == 1)
    val row = r.head
    assert(row.getAs[Double]("p_o") == 1.0 && row.getAs[Double]("p_e") == 1.0)
    assert(row.isNullAt(row.fieldIndex("kappa")),
      "0/0 chance correction is contracted NULL")
    assert(row.getAs[String]("verdict") == "slight_or_worse")
  }

  test("clustering depth: a single-date table saturates BOTH layouts to n_files") {
    // every file's range is the same one-day point ⇒ depth = n_files
    // regardless of layout — the metric must say 'reclustering cannot
    // help', not divide by zero or drop the degenerate interior
    val out = "/tmp/graft_hostile_depth_v1"
    val marker = new java.io.File(s"$out/_built")
    if (!marker.exists()) {
      spark.read.parquet(s"$sf0001/orders.parquet")
        .withColumn("o_orderdate",
          to_timestamp(lit("1995-06-15 00:00:00")))
        .write.mode("overwrite").parquet(s"$out/orders.parquet")
      marker.getParentFile.mkdirs(); marker.createNewFile()
    }
    val rows = graft.operators.Layout.clusteringDepth(spark, out).collect()
    assert(rows.length == 2)
    rows.foreach { r =>
      val nf = r.getAs[Long]("n_files")
      assert(r.getAs[Long]("max_depth") == nf,
        s"${r.getAs[String]("layout")}: single-date ranges all overlap")
      assert(r.getAs[Double]("avg_start_depth") == nf.toDouble)
    }
  }

  test("training readiness on the hostile corpus: always 7 verdict rows") {
    // the gate table's contract is structural: SEVEN named checks, in
    // order, whatever the corpus looks like — a report that silently
    // drops a failing check is worse than one that fails it
    val rows = graft.ext.Pipeline.trainingReadiness(spark, hostileDir)
      .collect()
    assert(rows.map(_.getString(0)).toSeq == Seq(
      "exact_dup_rate", "near_dup_doc_rate", "ngram_contaminated_rate",
      "pii_doc_rate", "quality_pass_rate", "split_leakage_groups",
      "substring_contaminated_rate"))
    // the hostile mega-cluster must trip the near-dup gate, and the
    // thresholds/verdicts stay coherent on every row that has a value
    val near = rows.find(_.getString(0) == "near_dup_doc_rate").get
    assert(!near.isNullAt(1) && near.getDouble(1) > 0.10 && !near.getBoolean(3))
    rows.foreach { r =>
      if (!r.isNullAt(1) && !r.isNullAt(3)) {
        val (v, t, p) = (r.getDouble(1), r.getDouble(2), r.getBoolean(3))
        val expected =
          if (r.getString(0) == "quality_pass_rate") v >= t else v <= t
        assert(p == expected, s"${r.getString(0)}: verdict incoherent")
      }
    }
  }

  test("media downsample: zero-byte payloads get NULL ratio, sub-4-byte payloads pass through") {
    import org.apache.spark.sql.functions._
    val rows = graft.ext.Multimodal.mediaDownsample(spark, hostileDir)
      .filter(col("n_bytes") < 4).collect()
      .map(r => (r.getLong(2), r.getLong(3), if (r.isNullAt(4)) None
        else Some(r.getDouble(4)), r.getString(5)))
    assert(rows.exists(_._1 == 0L) && rows.exists(r => r._1 > 0 && r._1 < 4),
      "fixture must carry zero-byte AND 1..3-byte payloads")
    rows.foreach { case (n, dsn, ratio, _) =>
      // remainder pass-through: below one 4-byte group nothing decimates
      assert(dsn == n, s"sub-4-byte payload changed size: $n -> $dsn")
      if (n == 0) assert(ratio.isEmpty, "0-byte ratio must be NULL (when guard)")
      else assert(ratio.contains(1.0), s"pass-through ratio must be 1.0, got $ratio")
    }
    // the empty string's md5 is a fixed constant in every engine —
    // the digest column stays well-defined even with no bytes
    val empty = graft.ext.Multimodal.mediaDownsample(spark, hostileDir)
      .filter(col("n_bytes") === 0).select("ds_md5").collect()
    assert(empty.forall(_.getString(0) == "d41d8cd98f00b204e9800998ecf8427e"))
  }

  test("KMV merge: single source below k hits the exact branch, ALL row equals it") {
    import org.apache.spark.sql.functions._
    // one source, 10 distinct texts (≪ k=256): theta never clips, the
    // estimate must be EXACT (kf < k branch) and the merged ALL sketch
    // must coincide with the single per-source sketch
    val out = "/tmp/graft_kmv_single_fixture_v1"
    val marker = new java.io.File(s"$out/_built")
    if (!marker.exists()) {
      spark.range(10).select(col("id").as("doc_id"),
          concat(lit("distinct text number "), col("id")).as("text"),
          lit("en").as("lang"), lit("only_source").as("source"))
        .withColumn("n_chars", length(col("text")).cast("long"))
        .write.mode("overwrite").parquet(s"$out/documents.parquet")
      marker.getParentFile.mkdirs(); marker.createNewFile()
    }
    val rows = graft.ext.Sketches.kmvMergeSources(spark, out).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4))).sortBy(_._1)
    assert(rows.map(_._1).toSeq == Seq("ALL", "only_source"))
    rows.foreach { case (scope, exact, retained, est, relErr) =>
      assert(exact == 10L && retained == 10L,
        s"$scope: expected 10 retained/exact, got $retained/$exact")
      assert(est == 10.0 && relErr == 0.0,
        s"$scope: below-k sketch must be exact, got est=$est err=$relErr")
    }
  }

  test("BPE merge curve: pair supply exhausted before the merge budget degrades to a flat tail") {
    import org.apache.spark.sql.functions._
    // every doc is the same two 2-char words: exactly TWO learnable
    // merges ('a b' inside each word's split... actually 'ab'/'cd' are
    // single-merge words) — far fewer distinct adjacent pairs than the
    // 5-round budget, so later rounds must be no-ops, not annihilation
    val out = "/tmp/graft_bpe_exhaust_fixture_v1"
    val marker = new java.io.File(s"$out/_built")
    if (!marker.exists()) {
      spark.range(20).select(col("id").as("doc_id"),
          lit("ab cd ab cd ab").as("text"),
          lit("en").as("lang"), lit("src0").as("source"))
        .withColumn("n_chars", length(col("text")).cast("long"))
        .write.mode("overwrite").parquet(s"$out/documents.parquet")
      marker.getParentFile.mkdirs(); marker.createNewFile()
    }
    graft.ext.TextAnalysis.bpeMemo.reset()
    val rows = graft.ext.TextAnalysis.bpeMergeCurve(spark, out).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1)
    assert(rows.length == graft.ext.TextAnalysis.BpeMerges + 1,
      s"curve must keep one point per budgeted round, got ${rows.length}")
    // n_words / n_chars are invariants of the vocabulary — if a spent
    // round annihilated the vocab these would collapse to 0/NULL
    assert(rows.map(_._2).distinct.length == 1 &&
      rows.map(_._3).distinct.length == 1,
      s"vocabulary mass must be constant across rounds:\n${rows.mkString("\n")}")
    // symbols monotonically non-increasing, flat once pairs run out
    rows.sliding(2).foreach { case Array(a, b) =>
      assert(b._4 <= a._4, "n_symbols must be non-increasing")
    }
    // the two distinct words are 2 chars each: after both merge, every
    // word is 1 symbol — the floor; the tail of the curve sits ON it
    assert(rows.last._4 == rows.last._2,
      s"exhausted curve must reach 1 symbol/word: ${rows.last}")
    graft.ext.TextAnalysis.bpeMemo.reset() // don't leak the tiny learner
  }

  test("incremental BPE: divergence mid-table folds the prefix and cascades the tail") {
    import org.apache.spark.sql.functions._
    // engineered counts — base: ab×100, cd×60, ef×50; delta (ids ≡ 9
    // mod 10): ef×20. Round 1 agrees on 'a b' (100); round 2 the
    // standing learner picks 'c d' (60) but the delta pushes 'e f' to
    // 70 — the fold must detect the flip, keep round 1 as folded, and
    // re-learn rounds 2+ on the combined vocabulary; rounds 4-5 have
    // no pairs left and must emit nothing (the exhaustion contract)
    val out = "/tmp/graft_bpe_delta_fixture_v1"
    val marker = new java.io.File(s"$out/_built")
    if (!marker.exists()) {
      val word10 = (w: String) => Seq.fill(10)(w).mkString(" ")
      val base = (Seq(0L, 1L, 2L, 3L, 4L, 5L, 6L, 7L, 8L, 10L).map(
          id => (id, word10("ab"))) ++
        Seq(11L, 12L, 13L, 14L, 15L, 16L).map(id => (id, word10("cd"))) ++
        Seq(17L, 18L, 20L, 21L, 22L).map(id => (id, word10("ef"))))
      val delta = Seq(19L, 29L).map(id => (id, word10("ef")))
      spark.createDataFrame(base ++ delta).toDF("doc_id", "text")
        .withColumn("lang", lit("en")).withColumn("source", lit("src0"))
        .withColumn("n_chars", length(col("text")).cast("long"))
        .write.mode("overwrite").parquet(s"$out/documents.parquet")
      marker.getParentFile.mkdirs(); marker.createNewFile()
    }
    graft.ext.TextAnalysis.bpeMemo.reset()
    graft.ext.TextAnalysis.bpeStandingMemo.reset()
    val folded = graft.ext.TextAnalysis.bpeMergesDelta(spark, out).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(3), r.getBoolean(4)))
      .sortBy(_._1)
    assert(folded.map(x => (x._1, x._2, x._3)).toSeq ==
      Seq((1, "a b", 100L), (2, "e f", 70L), (3, "c d", 60L)),
      s"cascade produced the wrong table:\n${folded.mkString("\n")}")
    assert(folded.map(_._4).toSeq == Seq(true, false, false),
      "round 1 must fold; the diverging round and its tail must refit")
    // and the cascade output equals the from-scratch learner on the
    // converged corpus — the same contract the sf0.01 oracle checks
    val scratch = graft.ext.TextAnalysis.bpeMerges(spark, out).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(3))).sortBy(_._1)
    assert(scratch.toSeq == folded.map(x => (x._1, x._2, x._3)).toSeq)
    graft.ext.TextAnalysis.bpeMemo.reset()
    graft.ext.TextAnalysis.bpeStandingMemo.reset()
  }

  test("session examples: single-event sessions emit nothing, first targets carry 1-token context") {
    import org.apache.spark.sql.functions._
    // the contract under sparse sessions: an example needs ≥1 context
    // event (pos ≥ 2), so a 1-event session contributes NO row and no
    // emitted context is ever empty
    val ex = graft.operators.EventOps.sessionExamples(spark, sf0001)
    assert(ex.filter(col("pos") < 2).count() == 0)
    assert(ex.filter(length(trim(col("context"))) === 0).count() == 0,
      "no emitted example may carry an empty context")
    // cross-check the drop: sessions with ≥2 events produce exactly
    // (len − 1) examples, so singleton sessions are the whole gap
    val perSession = ex.groupBy("user_id", "session_id")
      .agg(count(lit(1)).as("n_ex"), max(col("pos")).as("max_pos")).collect()
    perSession.foreach { r =>
      assert(r.getLong(2) == r.getLong(3) - 1,
        s"session ${r.get(0)}/${r.get(1)}: ${r.getLong(2)} examples for ${r.getLong(3)} events")
    }
  }

  test("incremental gates on the hostile corpus: delta forms equal batch forms") {
    // the strongest convergence evidence: the mega-cluster + empty
    // events + gramless docs corpus, where every standing/delta
    // boundary shape appears at once
    graft.ext.Dedup.standingStateMemo.reset()
    graft.ext.Pipeline.readyStateMemo.reset()
    val full = graft.ext.Dedup.duplicateGroups(spark, hostileDir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val delta = graft.ext.Dedup.dedupGroupsDelta(spark, hostileDir).collect()
    assert(delta.length == full.size)
    delta.foreach { r =>
      assert(full(r.getLong(0)) == r.getLong(1),
        s"doc ${r.getLong(0)}: incremental label diverged on hostile corpus")
    }
    val batchGate = graft.ext.Pipeline.trainingReadiness(spark, hostileDir)
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getBoolean(3)))
    val deltaGate = graft.ext.Pipeline
      .trainingReadinessDelta(spark, hostileDir)
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getBoolean(3)))
    assert(deltaGate.sameElements(batchGate),
      s"hostile readiness diverged:\n${batchGate.mkString("\n")}\nvs\n${deltaGate.mkString("\n")}")
  }

  test("every query survives the hostile-shaped corpus (no throw, no hang)") {
    val failures = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        try {
          val n = fn(spark, hostileDir).count()
          if (n < 0) Some(s"$name: negative count") else None
        } catch {
          case e: Throwable =>
            Some(s"$name: ${e.getClass.getSimpleName}: " +
              String.valueOf(e.getMessage).linesIterator.take(1).mkString.take(180))
        }
    }
    assert(failures.isEmpty,
      s"${failures.size} queries failed on the hostile fixture:\n" +
        failures.mkString("\n"))
  }
}
