package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ext.{Dedup, Pipeline, TextAnalysis}

/** Scale-probe harness: synthesizes a 10× copy of the sf dir's fact
  * tables (shifted keys, perturbed text/timestamps so dedup/session
  * structure stays realistic) and times headline queries at 1× vs 10×.
  *
  * Purpose: measured evidence for the SCALE.md claims — a plan whose
  * runtime grows ~linearly from 1× to 10× on the same 32 cores is
  * shuffle/partition-shaped correctly; anything super-linear flags a
  * quadratic term or a parallelism collapse. (Absolute times still
  * carry local-mode noise; the RATIO is the signal.)
  *
  * Usage: runMain graft.ScaleProbe [sfDir] [workDir] [probe,probe,...]
  * Prints one JSON line: {"probe":..., "t1":..., "t10":..., "ratio":...}
  */
object ScaleProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val factor = sys.env.getOrElse("SPARK_GRAFT_SCALE_FACTOR", "10").toInt
    val work =
      if (args.length > 1) args(1) else s"/tmp/graft_scale$factor"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      // the streaming replay twins collect through a memory sink — a
      // LOCAL-harness term (production writes a distributed sink); at
      // 1000× the interval join's batch exceeds the 1g default, so
      // probes may raise it (driver heap is sized via SPARK_DRIVER_MEM)
      .config("spark.driver.maxResultSize",
        sys.env.getOrElse("SPARK_GRAFT_MAX_RESULT", "1g"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    GraftSession.tune(spark)

    buildScaled(spark, sfDir, work, factor)

    def time(fn: => Unit): Double = {
      val t0 = System.nanoTime(); fn; (System.nanoTime() - t0) / 1e9
    }
    def runOnce(dir: String, probe: Probe): Double = {
      spark.catalog.clearCache()
      // probes time COLD runs: the cross-query trained-state memos (a
      // real optimization for gate/bench passes) would otherwise hide
      // Lloyd/GD training cost — exactly the growth these probes watch.
      // The durable edges artifact is kept: its consumers load it.
      TrainedState.all.foreach {
        case m: SessionDirMemo[_] => m.reset()
        case _ => ()
      }
      probe.primes.foreach(_.prime(spark, dir))
      time(probe.run(spark, dir).write.format("noop").mode("overwrite").save())
    }

    // optional 3rd arg: comma-separated probe names (dev loop)
    val selected =
      if (args.length > 2) probes.filter(p => args(2).split(",").contains(p.name))
      else probes
    // warmup both paths once so codegen/scan setup isn't billed
    selected.take(1).foreach { p => runOnce(sfDir, p); runOnce(work, p) }
    val rows = selected.map { p =>
      val name = p.name
      val t1 = math.min(runOnce(sfDir, p), runOnce(sfDir, p))
      val tN = math.min(runOnce(work, p), runOnce(work, p))
      val r = tN / t1
      println(f"""{"probe":"$name","factor":$factor,"t1":$t1%.2f,"tN":$tN%.2f,"ratio":$r%.1f}""")
      (name, t1, tN, r)
    }
    val worst = rows.maxBy(_._4)
    println(f"""{"probe":"WORST","name":"${worst._1}","ratio":${worst._4}%.1f}""")
    spark.stop()
  }

  /** One probe: the `SparkEntry` line it names, unless it brings its
    * own `body` (a cold build or an eager write). A `_fold` probe times
    * its base line's maintenance tick: in production the standing state
    * is loaded, not rebuilt, so the probe primes the states it declares
    * untimed, then times the fold-only path. */
  private[graft] final case class Probe(
      name: String,
      body: Option[(SparkSession, String) => DataFrame] = None,
      primes: Seq[TrainedState] = Nil) {
    def run: (SparkSession, String) => DataFrame =
      body.getOrElse(SparkEntry.queries(name.stripSuffix("_fold")))
  }

  private def named(names: String*): Seq[Probe] = names.map(Probe(_))
  private def own(name: String)(body: (SparkSession, String) => DataFrame): Seq[Probe] =
    Seq(Probe(name, Some(body)))
  private def fold(name: String, primes: TrainedState*): Seq[Probe] =
    Seq(Probe(name, primes = primes))

  /** Every probe, in run order (a dev loop selects a subset by name). */
  private[graft] val probes: Seq[Probe] = Seq(
    named("q1_pricing_summary", "q3_shipping", "q6_forecast_revenue",
      "sessionize_events", "time_window_events", "wordcount",
      "dedup_minhash_signatures", "dedup_minhash_pairs", "token_count"),
    // statistics / audit / layout family (round-3 additions)
    named("outlier_zscore", "winsorize_prices", "chi2_priority_status",
      "table_checksum", "zorder_lineitem", "inverted_index", "dedup_keep_best"),
    // graph / sketch / LM family (round-4 additions): the heavy part
    // of each is an input-sized scan or join chain, so the probe
    // checks the collapse to bounded intermediates actually holds
    named("pagerank_nations", "sketch_hll_distinct", "sketch_cms_heavy_hitters",
      "perplexity_bigram"),
    // post-cut LM family (r11): the model frame is top-V/top-B
    // bounded, so only the token/bigram scan terms should scale
    named("perplexity_unigram", "kl_source_divergence"),
    // durable pair-graph artifact (r11): the cold build is the
    // input-sized LSH+verify pass; reuse must be load-only (the
    // artifact is candidate-bounded, tiny next to the corpus)
    own("dedup_edges_build") { (s, d) =>
      Dedup.edgesArtifact.reset()
      Dedup.edgesLoadOrBuild(s, d)
    },
    named("dedup_edges_reuse"),
    // r11 curation reports: artifact-served community excision
    // profile, span-level LM quality, panel containment search
    named("dedup_community_profile", "ppl_span_outliers", "containment_search"),
    // winnowing: gram scan + per-doc window min + sparse-set agg
    named("winnow_fingerprints"),
    // learning / retrieval / tokenizer / featurizer family (round-4):
    // each collapses the corpus to vocabulary- or dimension-sized
    // frames before any join — the probe checks that collapse holds.
    // zipf_profile exercises the chunked rank derivation (no
    // vocabulary-wide window); sim_ann_lsh is the embedding scale
    // path (bucket join, not all-pairs).
    named("zipf_profile", "bm25_search", "feature_hashing", "bpe_encode",
      "nb_lang_confusion", "kruskal_wallis_spend", "window_func_battery",
      "sim_ann_lsh", "quantize_embeddings"),
    // round-4 additions: cross-doc boilerplate + DSIR are gram/vocab
    // collapses; phash is a fixed-65-sample projection + band LSH;
    // semantic dedup pairs per k-means list (never cross-corpus);
    // trend_robust is pairwise over the calendar-bounded day frame
    named("boilerplate_ngrams", "dsir_weights", "dedup_phash_pairs",
      "dedup_semantic"),
    // round-5: corpus-adaptive list count — the probe checks per-list
    // work stays bounded as k grows with n (was fixed k=16, 8.7×@100×)
    named("sim_ann_ivf"),
    // round-5: PII is a pure regex scan (cost = bytes), and the
    // z-order WRITE path must scale as one range exchange — the
    // rank-emitting query form is the 20.7× sort-bound outlier the
    // write exists to avoid (the probe times the eager parquet write)
    named("pii_scan", "frame_phash_pairs"),
    // a streaming bounded replay at scale: per-source PII aggregation
    // state is |sources|-bounded; the probe checks the replay cost is
    // the ingest scan, not the state machinery
    named("stream_pii_monitor"),
    own("zorder_write") { (s, d) =>
      // the file count is all the row needs: the written copy goes
      val out = java.nio.file.Files.createTempDirectory("graft-zw-probe")
      try {
        val n = graft.operators.Layout.zorderWriteLineitem(s, d, s"$out/li", 64)
        s.range(n).toDF("files_written")
      } finally graft.streaming.BoundedReplay.deleteStaged(out)
    },
    // round-6: PQ codebook training is now strided-sample-bounded
    // (TrainSampleCap, the IVF recipe) — the probe watches training
    // + the one full-corpus encode; ivfpq composes routing + ADC
    named("pq_codes", "sim_ann_ivfpq"),
    // round-9: the serving-path re-rank — adds one candidate-bounded
    // exact join on top of ivfpq; growth should track ivfpq itself
    named("sim_ann_ivfpq_refine"),
    // ANN-audited kNN: IVF routing + bounded panel join
    named("knn_audit_ann", "trend_robust", "ivf_recall_sweep",
      "shuffle_skew_audit"),
    // round-6b: version diff is one co-partitioned full-outer join;
    // containment's candidate join is bounded by the rare-gram df
    // cap (O(Σ df²) over df≤64 grams); the outlier screen is one
    // posexplode agg + broadcast stats
    named("snapshot_diff", "dedup_containment", "embedding_outliers"),
    // calibration includes GD training (memo reset per run); the
    // streaming wordcount replay cost must be the ingest scan
    named("calibration_bins", "stream_wordcount", "t_closeness_audit"),
    // fertility probes COLD = includes the 5-round BPE learn
    named("tokenizer_fertility", "decontaminate_semantic", "shard_manifest"),
    // delta×base bucket join: candidates bounded by the base-side cap
    named("dedup_incremental", "stream_quality_monitor", "dp_release_counts",
      "frame_scene_cuts", "psi_value_drift", "stream_psi_monitor",
      "stream_shard_manifest"),
    // round-7: substring runs are one gram window + one island
    // window (nothing pairwise); the streaming screen's cost is the
    // base signature build + ingest replay; delta assignment is one
    // corpus scan against memoized standing centroids (memo reset
    // per probe run ⇒ the probe includes the base-slice training)
    named("dedup_substring", "dedup_substring_excise",
      "stream_substring_screen", "stream_incremental_dedup"),
    // round-10: the state-store scale check for the two heaviest
    // streaming twins — state is O(|delta|) by construction
    // (readiness: one screen row per delta doc; groups: one row per
    // delta-touching LSH edge, capped-bucket-bounded), so per-tick
    // cost must track the DELTA slice + the standing-state build,
    // never the corpus replay
    named(
      // on-ingest gate twin: streamed per-doc screen (state = one row
      // per delta doc) + the shared per-tick fold
      "stream_training_readiness",
      // on-ingest CC twin: stream-static bucket join + per-edge state
      "stream_groups_monitor"),
    // round-10 additions: AUC is a value-domain histogram collapse
    // (must stay flat); HITS rides the trade-edge build; SQ8 is a
    // dequantize scan + brute scoring (linear in corpus, the recall
    // audit's exact arm is the other linear term)
    named("auc_returns", "hits_nations", "sim_ann_sq8", "event_freshness",
      "sim_ivf_delta_assign"),
    // the ladder is one input-sized agg + bounded re-aggregations;
    // the mixture plan is a wordcount-shape scan to |sources| rows
    named("k_generalization_ladder", "mixture_budget", "pipeline_waterfall",
      "embedding_batch_drift"),
    // the forget cascade's only join is the lineitem semi join
    named("tombstone_purge_audit"),
    // round-7b: metadata-scale planners (manifest aggregates +
    // bounded post-work) and sketch set/size arithmetic (per-key
    // partial aggs into fixed-size cells); kappa/padding are
    // wordcount-shape projections into bounded aggregates
    named("compaction_plan", "clustering_depth", "sketch_kmv_overlap",
      "sketch_join_size", "padding_waste_buckets", "kappa_lang_agreement"),
    // graded eval composes two bounded retrievals; the eval joins
    // are queries×k-sized
    named("rank_eval_ndcg"),
    // round-7d additions: leakage fix, calibration sweep, streaming
    // sketches, index health, KS gate
    named("group_safe_split", "dedup_threshold_sweep", "stream_hll_monitor",
      "stream_cms_monitor", "stream_compaction_monitor", "ivf_balance_audit",
      "cluster_silhouette", "ks_value_drift", "session_examples",
      "quality_cut_tradeoff", "bpe_merge_curve", "quantize_bits_curve",
      "sketch_kmv_merge", "decontaminate_substring", "pseudonymize_customers",
      "training_readiness"),
    own("dedup_groups_cc")((s, d) => Dedup.duplicateGroups(s, d)),
    named("media_downsample", "stream_kmv_monitor"),
    // round-8: incremental CC — the cold form pays bootstrap + fold
    // (should track dedup_groups_cc); the _fold form is the real
    // maintenance tick (standing state loaded, only the delta fold
    // timed) and is the measured answer to the 100× sweep's finding
    // that corpus-wide CC re-resolution dominates the daily gate
    named("dedup_groups_delta"),
    fold("dedup_groups_delta_fold", Dedup.standingStateMemo),
    named("training_readiness_delta"),
    fold("training_readiness_delta_fold", Dedup.standingStateMemo,
      Pipeline.readyStateMemo),
    // two scans + 64-cell moment aggregates + the co-keyed diagonal
    // join — growth should track the embedding/feature scans
    named("caption_frame_alignment"),
    // round-9: delta-join IVM — cold pays bootstrap (the base join)
    // + fold; the _fold form is the real tick: three delta-bounded
    // join terms appended to the standing view, O(|delta|)
    named("ivm_join_enriched"),
    fold("ivm_join_enriched_fold", Pipeline.joinViewMemo),
    // CDC IVM: signed retraction fold; _fold times the tick alone —
    // two broadcast delta terms + touched-key-only consolidation
    named("ivm_join_cdc"),
    fold("ivm_join_cdc_fold", Pipeline.cdcViewMemo),
    // cross-modal retrieval: panel-bounded broadcast scoring + heap
    // top-k — growth should track the two feature scans
    named("caption_asset_topk"),
    // indexed retrieval arm: bucket scan + ×9 panel probe fan-out
    named("caption_asset_topk_ann"),
    // incremental BPE: cold pays standing training + fold; the
    // _fold form is the real tick — delta wordcount + per-round
    // delta-sized pair counts against the standing pair tables
    named("bpe_merges_delta"),
    fold("bpe_merges_delta_fold", TextAnalysis.bpeStandingMemo),
    // constraint gate: scan-aggs + one anti join per fk — linear
    named("data_contract_audit"),
    // one scan into a 9-cell aggregate — wordcount shape
    named("benford_totalprice"),
    // round-9b: quantile sketch is one bounded-heap agg (+ the exact
    // fetch audit arm, which is the input-sized part); the merge
    // form adds per-source heaps + a sketch-sized re-clip
    named("sketch_quantile_price", "sketch_quantile_merge"),
    // LPA communities: the LSH verify pass + 3 label-join rounds
    // over candidate-bounded edges — growth should track
    // dedup_lsh_verified, the rounds are |E|-sized
    named("dedup_communities_lpa"),
    // basket self-join bounded by per-order basket size; the rule
    // scoring joins run on the apriori-filtered pair set
    named("assoc_rules_parts"),
    // one corpus pass to |domains| rows, then EG rounds on the
    // checkpointed frame — iteration cost must be flat
    named("mixture_reweight"),
    // bigram scan collapsed to a vocabulary graph; iterations join
    // the broadcast rank vector against ≤|V|² edges
    named("textrank_keywords"),
    // one scan ×B replicates map-side-collapsed to B rows — linear
    // in the explode volume, everything after on the B-row frame
    named("bootstrap_mean_ci"),
    // sufficient-stats fit + broadcast residual scoring + the
    // histogram-locate rank fetch — regression-family growth
    named("conformal_price_interval"),
    // event scan → |users| subject rows → calendar-bounded day frame
    named("survival_km"),
    // one fact scan to 4 sufficient-stat cells — wordcount shape
    named("did_segment_spend"),
    // fact scan → |units| frame → two bounded aggregations
    named("cuped_segment_spend"),
    // LSH verify + h-index rounds over cap-bounded neighbor lists
    named("dedup_kcore"),
    // round-12: the coverage curve is a wordcount collapse + top-V
    // cut + bounded window (model-frame terms must stay flat); the
    // inflation report is one md5-partitioned window + |sources|
    // aggregate; the MR docfreq job round-trips the A7/A8 file sink
    // so the probe watches the sink+parse loop too
    named("vocab_coverage_curve", "dedup_token_inflation", "mr_token_docfreq"),
    // Heaps fit = two wordcount-shaped collapses to the 10-bucket
    // grid; burstiness = the inverted-index shuffle into a bounded
    // heap — both must stay scan-dominated
    named("heaps_law_fit", "term_burstiness"),
    // lang mix = two bounded re-aggregations of the (source×lang)
    // collapse; calibration rides the capped-bucket SimHash pairs +
    // the endpoint-pruned trigram join (scoredKeeperPairs shape)
    named("source_lang_mix", "simhash_calibration"),
    // on-ingest twin: replay cost must be the ingest scan; state is
    // the (source×lang) count table, the fold is bounded-frame work
    named("stream_lang_mix_monitor"),
    // the interval family's one-time shared streaming pass (the
    // bench line): memo reset so the probe times the COLD stream-
    // stream full-outer replay — per-micro-batch state commits are
    // the cost; growth should track the events ingest scan
    own("stream_interval_shared_pass") { (s, d) =>
      val n = graft.streaming.EventStream.ijFullMemo.get(s, d).count()
      s.range(1).select(lit(n).as("pass_rows"))
    }
  ).flatten

  /** 10× fact tables with shifted keys; dims copied as-is.
    *   - lineitem/orders: orderkey += k·10^12 per replica k (custkey,
    *     partkey, suppkey unchanged — dimension fan-out grows 10×,
    *     exactly like a bigger fact against fixed dims)
    *   - events: event_id/user_id shifted so session/user cardinality
    *     scales (more users, same per-user density), ts jittered +k s
    *   - documents: doc_id shifted, a replica token prepended so the
    *     corpus isn't 10 exact copies (which would put every doc in a
    *     10-way dup group and distort LSH bucket shape)
    * Skips the build when the work dir already exists. */
  private[graft] def buildScaled(spark: SparkSession, sfDir: String, work: String,
                                 factor: Int): Unit = {
    val done = new java.io.File(s"$work/_built")
    if (done.exists()) return
    val ks = (0 until factor)
    def replicate(df: DataFrame, f: (DataFrame, Int) => DataFrame): DataFrame =
      ks.map(k => f(df, k)).reduce(_ unionAll _)

    val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
    replicate(li, (d, k) => d.withColumn("l_orderkey",
        col("l_orderkey") + lit(k.toLong * 1000000000000L)))
      .write.mode("overwrite").parquet(s"$work/lineitem.parquet")

    val ord = spark.read.parquet(s"$sfDir/orders.parquet")
    replicate(ord, (d, k) => d.withColumn("o_orderkey",
        col("o_orderkey") + lit(k.toLong * 1000000000000L)))
      .write.mode("overwrite").parquet(s"$work/orders.parquet")

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val ev = spark.read.parquet(s"$sfDir/events.parquet")
    val jitterTs: (org.apache.spark.sql.Column, Int) => org.apache.spark.sql.Column =
      ev.schema("ts").dataType match {
        case org.apache.spark.sql.types.LongType => // raw nanos vintage
          (c, k) => c + lit(k.toLong * 1000000000L)
        case _ =>                                    // native timestamp vintage
          // cast first: the raw read may surface TIMESTAMP_NTZ, which
          // unix_micros rejects; TimestampType unifies either form
          (c, k) => org.apache.spark.sql.functions.timestamp_micros(
            org.apache.spark.sql.functions.unix_micros(c.cast("timestamp")) +
              lit(k.toLong * 1000000L))
      }
    replicate(ev, (d, k) => d
        .withColumn("event_id", col("event_id") + lit(k.toLong * 1000000000000L))
        .withColumn("user_id", col("user_id") + lit(k.toLong * 100000000L))
        .withColumn("ts", jitterTs(col("ts"), k)))
      .write.mode("overwrite").parquet(s"$work/events.parquet")

    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    replicate(docs, (d, k) => d
        .withColumn("doc_id", col("doc_id") + lit(k.toLong * 100000000L))
        .withColumn("text", concat(lit(s"replica$k "), col("text")))
        .withColumn("n_chars", length(col("text")).cast("long")))
      .write.mode("overwrite").parquet(s"$work/documents.parquet")

    // embeddings scale too (the ANN/quantize probes are meaningless on
    // a fixed-size corpus): vec_id shifted per replica, first element
    // nudged by k·1e-3 so replicas aren't bit-identical vectors (LSH
    // buckets and quantization ranges keep realistic shape)
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    replicate(emb, (d, k) => d
        .withColumn("vec_id", col("vec_id") + lit(k.toLong * 100000000L))
        .withColumn("embedding", concat(
          array((col("embedding")(0) + lit(k * 0.001f)).cast("float")),
          slice(col("embedding"), 2, 100000))))
      .write.mode("overwrite").parquet(s"$work/embeddings.parquet")

    Seq("region", "nation", "customer", "supplier", "part")
      .foreach { t =>
        spark.read.parquet(s"$sfDir/$t.parquet")
          .write.mode("overwrite").parquet(s"$work/$t.parquet")
      }
    done.getParentFile.mkdirs(); done.createNewFile()
  }
}
