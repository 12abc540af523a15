package graft

class EntrySpec extends SparkSpec {
  test("driver contract: entry() returns rows on sf0.001") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("driver contract: every oracleSql key has a queries entry") {
    val missing = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(missing.isEmpty, s"oracle without query: $missing")
  }

  test("driver contract: all queries run and return rows at sf0.001") {
    val empty = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      val n = fn(spark, sf0001).count()
      if (n == 0) Some(name) else None
    }
    // dedup_minhash_pairs may legitimately be empty at tiny scale; all
    // others must produce rows
    assert(empty.forall(_ == "dedup_minhash_pairs"), s"empty results: $empty")
  }

  test("observe() collects pipeline metrics in the same pass") {
    import org.apache.spark.sql.Observation
    import org.apache.spark.sql.functions._
    val obs = Observation()
    val filtered = Tables.lineitem(spark, sf0001)
      .observe(obs, count(lit(1)).as("rows_seen"),
        sum(col("l_quantity").cast(
          org.apache.spark.sql.types.DecimalType(18, 2))).cast("double")
          .as("qty_seen"))
      .filter(col("l_discount") > 0.05)
    val kept = filtered.count()
    val m = obs.get
    val seen = m("rows_seen").asInstanceOf[Long]
    assert(seen > kept, s"observation point sees pre-filter rows ($seen vs $kept)")
    assert(m("qty_seen").asInstanceOf[Double] > 0.0)
  }

  test("quantile_approx_audit: sketch stays in its rank band with small relative error") {
    import org.apache.spark.sql.functions._
    val rows = operators.Relational.quantileApproxAudit(spark, sf0001).collect()
    assert(rows.length == 7)
    rows.foreach { r =>
      assert(r.getAs[Boolean]("within_tol"),
        s"p=${r.getAs[Double]("p")}: sketch value left its guaranteed rank band")
      // numeric bound on top of the rank-band verdict: the band's own
      // width around the exact value is the realized error ceiling
      val exact = r.getAs[Double]("exact_pv")
      val lo = r.getAs[Double]("band_lo")
      val hi = r.getAs[Double]("band_hi")
      assert(lo <= exact && exact <= hi)
      assert((hi - lo) / math.max(exact, 1.0) < 0.25,
        s"p=${r.getAs[Double]("p")}: rank band [$lo,$hi] implausibly wide vs $exact")
    }
  }

  test("SessionDirMemo: a changed corpus under the same path repopulates") {
    val dir = java.nio.file.Files.createTempDirectory("graft_memo")
    try {
      val f = dir.resolve("embeddings.parquet")
      java.nio.file.Files.write(f, "aaaa".getBytes)
      f.toFile.setLastModified(1000000L)
      var computes = 0
      val memo = SessionDirMemo[Int]("test_build") { (_, _) => computes += 1; computes }
      def get(): Int = memo.get(spark, dir.toString)
      assert(get() == 1 && get() == 1, "identical dir must hit the memo")
      // same path, regenerated content (different size + mtime): a stale
      // centroid matrix here would silently skew every IVF-family oracle
      java.nio.file.Files.write(f, "bbbbbbbb".getBytes)
      f.toFile.setLastModified(2000000L)
      assert(get() == 2, "changed corpus under the same path must repopulate")
      // mtime-only change (same byte size) also invalidates — the cheap
      // signal a same-size regeneration still moves
      f.toFile.setLastModified(3000000L)
      assert(get() == 3, "mtime-only change must repopulate")
      assert(get() == 3, "and the new entry is memoized again")
    } finally graft.streaming.BoundedReplay.deleteStaged(dir)
  }

  test("SessionDirMemo as TrainedState: prime builds ahead of get; reset makes the next get rebuild") {
    var builds = 0
    val memo = SessionDirMemo[Int]("test_build") { (_, _) => builds += 1; builds }
    memo.prime(spark, sf0001)
    assert(builds == 1, "prime builds the state")
    assert(memo.get(spark, sf0001) == 1 && builds == 1,
      "a primed memo serves get without rebuilding")
    memo.reset()
    assert(builds == 1, "reset alone builds nothing")
    assert(memo.get(spark, sf0001) == 2, "after reset the next get rebuilds")
    assert(memo.get(spark, sf0001) == 2 && builds == 2)
  }

  test("TrainedState.all: Bench's 12 cold-build lines, in dependency order") {
    assert(TrainedState.all.map(_.line) == Seq(
      "stream_interval_shared_pass", "dedup_edges_artifact_build",
      "kmeans_centroids_train_build", "pq_codebook_train_build",
      "base_centroids_train_build", "logit_calibration_train_build",
      "bpe_merges_train_build", "bpe_standing_state_build",
      "dedup_standing_labels_build", "readiness_state_build",
      "ivm_join_view_build", "ivm_cdc_view_build"))
  }

  test("ScaleProbe: unique probe names that resolve to SparkEntry lines and trained states") {
    val names = ScaleProbe.probes.map(_.name)
    assert(names.distinct == names,
      s"probes listed twice: ${names.diff(names.distinct)}")
    val queries = SparkEntry.queries
    val (folds, rest) = ScaleProbe.probes.partition(_.name.endsWith("_fold"))
    rest.filter(_.body.isEmpty).foreach { p =>
      assert(queries.contains(p.name), s"${p.name} is no SparkEntry line")
    }
    assert(folds.nonEmpty)
    folds.foreach { p =>
      assert(p.body.isEmpty && queries.contains(p.name.stripSuffix("_fold")),
        s"${p.name}: its base line is no SparkEntry line")
      assert(p.primes.nonEmpty && p.primes.forall(TrainedState.all.contains),
        s"${p.name}: primes a state outside TrainedState.all")
    }
  }

  test("mr_token_docfreq leaves no sink directory behind") {
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
    def sinkDirs(): Set[String] = Option(tmp.listFiles()).toSeq.flatten
      .filter(f => f.isDirectory && f.getName.startsWith("graft-mr-df"))
      .map(_.getName).toSet
    val before = sinkDirs()
    val rows = SparkEntry.queries("mr_token_docfreq")(spark, sf0001).collect()
    assert(rows.nonEmpty)
    assert((sinkDirs() diff before).isEmpty,
      s"left sink dirs ${sinkDirs() diff before}")
  }

  test("approximate sketches land within tolerance of exact counts") {
    import org.apache.spark.sql.functions._
    val li = Tables.lineitem(spark, sf0001)
    val row = li.agg(
      countDistinct(col("l_partkey")).as("exact"),
      approx_count_distinct(col("l_partkey"), 0.02).as("approx")).collect()(0)
    val (exact, approx) = (row.getLong(0), row.getLong(1))
    assert(math.abs(approx - exact).toDouble / exact < 0.1,
      s"approx $approx vs exact $exact")
  }
}
