package graft

import org.apache.spark.sql.functions._

import graft.ext.{Dedup, Multimodal, Similarity, TextAnalysis}

class ExtSpec extends SparkSpec {

  test("minhash LSH finds planted near-duplicates") {
    import spark.implicits._
    // doc 1 ≈ doc 2 (one word changed), doc 3 unrelated vocabulary
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta iota lambda"),
      (3L, "one two three four five six seven eight nine ten"))
      .toDF("doc_id", "text")
    val sigs = docs.select(col("doc_id"), Dedup.signatureCol(col("text")).as("sig"))
      .as[(Long, Seq[Long])].collect().toMap
    val match12 = sigs(1L).zip(sigs(2L)).count { case (a, b) => a == b }
    val match13 = sigs(1L).zip(sigs(3L)).count { case (a, b) => a == b }
    assert(match12 >= 10, s"near-dups should share most minhashes, got $match12/16")
    assert(match13 <= 4, s"unrelated docs should share few minhashes, got $match13/16")
  }

  test("containment pairs separate doc-inside-doc from ordinary near-dups") {
    import spark.implicits._
    val small = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val filler = (1 to 40).map(i => s"filler$i").mkString(" ")
    val docs = Seq(
      (1L, small),                       // fully contained in doc 2
      (2L, s"$filler $small"),           // the containing page
      (3L, "one two three four five six seven eight nine ten eleven twelve"),
      (4L, "one two three four five six seven eight nine ten eleven thirteen"),
      (5L, "rho sigma tau upsilon phi chi psi omega digamma koppa sampi"))
      .toDF("doc_id", "text")
    val pairs = graft.ext.Dedup.containmentPairsDocs(docs, 0.8)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getString(4))).toMap
    // doc 1 ⊂ doc 2: containment 1.0 but Jaccard low — the pair MinHash
    // (collision prob = Jaccard) would never propose
    assert(pairs.get((1L, 2L)).contains("contained"), s"got $pairs")
    // docs 3/4 differ by one word: symmetric near-dup, high Jaccard
    assert(pairs.get((3L, 4L)).contains("near_dup"), s"got $pairs")
    assert(!pairs.keySet.exists(p => p._1 == 5L || p._2 == 5L),
      "unrelated doc must pair with nothing")
  }

  test("minhash signature is order- and repetition-invariant (set semantics)") {
    import spark.implicits._
    val docs = Seq(
      (1L, "red green blue"),
      (2L, "blue red green red red"))
      .toDF("doc_id", "text")
    val sigs = docs.select(col("doc_id"), Dedup.signatureCol(col("text")).as("sig"))
      .as[(Long, Seq[Long])].collect().toMap
    assert(sigs(1L) == sigs(2L))
  }

  test("simhash: similar docs have small hamming distance") {
    import spark.implicits._
    def hamming(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta iota lambda"),
      (3L, "one two three four five six seven eight nine ten"))
      .toDF("doc_id", "text")
    docs.createOrReplaceTempView("documents_test")
    val sh = Dedup.simhash(spark, sf0001) // smoke on fixture
    assert(sh.count() > 0)
    // direct check on planted docs via the same signature expression
    val planted = docs.select(col("doc_id"),
      TextAnalysis.tokens(col("text")).as("ws")).count()
    assert(planted == 3)
  }

  test("duplicate groups: labels are transitive and idempotent") {
    val groups = Dedup.duplicateGroups(spark, sf0001).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(groups.size == 500)
    // every label is itself a group member whose own label is the root
    groups.values.toSet.foreach { (g: Long) => assert(groups(g) == g) }
    // labels never exceed the member id (min-propagation invariant)
    groups.foreach { case (d, g) => assert(g <= d) }
    // consistency with the pair graph: both ends of any pair share a group
    val pairs = Dedup.minhashPairs(spark, sf0001).collect()
    pairs.foreach { r =>
      assert(groups(r.getLong(0)) == groups(r.getLong(1)),
        s"pair ${r.getLong(0)},${r.getLong(1)} split across groups")
    }
  }

  test("LPA communities split the bridged chain that connected components merge") {
    import spark.implicits._
    // two tight triangles (internal weight 10) joined by one weak
    // bridge (weight 1): ONE component by reachability, TWO density
    // communities — the boilerplate-chain shape where keep-one-per-CC
    // over-excises and keep-one-per-community is right
    val pairs = Seq((1L, 2L, 10L), (1L, 3L, 10L), (2L, 3L, 10L),
      (4L, 5L, 10L), (4L, 6L, 10L), (5L, 6L, 10L), (3L, 4L, 1L))
      .toDF("d1", "d2", "w")
    val und = pairs.select(col("d1").as("u"), col("d2").as("v"), col("w"))
      .unionByName(pairs.select(col("d2").as("u"), col("d1").as("v"), col("w")))
    val lbl = Dedup.lpaFold(und, Dedup.LpaDocIters).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(Set(1L, 2L, 3L).map(lbl) == Set(1L), s"triangle A broke: $lbl")
    assert(Set(4L, 5L, 6L).map(lbl) == Set(4L), s"triangle B broke: $lbl")
    // ...and the fold is label-deterministic: a second run agrees
    val again = Dedup.lpaFold(und, Dedup.LpaDocIters).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(again == lbl)
  }

  test("LPA on the fixture corpus refines connected components: every community sits inside one CC") {
    val comm = Dedup.dedupCommunitiesLpa(spark, sf0001).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val groups = Dedup.duplicateGroups(spark, sf0001).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // LPA nodes ⊆ keeper docs with a verified edge; each community
    // must never straddle two reachability components (communities
    // REFINE components — the density-splits-chains direction is
    // fixture-dependent, the refinement direction is an invariant)
    comm.groupBy(_._2).values.foreach { members =>
      val ccs = members.keys.map(groups).toSet
      assert(ccs.size == 1,
        s"community ${members.head._2} straddles components $ccs")
    }
  }

  test("kcore h-index rounds: triangle=2, chain=1, bridged triangles all 2, and the round count is a fixpoint") {
    import spark.implicits._
    def fold(edges: Seq[(Long, Long)], iters: Int): Map[Long, Long] = {
      val e = edges.toDF("u", "v")
      val und = e.unionByName(e.select(col("v").as("u"), col("u").as("v")))
      Dedup.kcoreFold(und, iters).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    }
    val triangle = Seq((1L, 2L), (1L, 3L), (2L, 3L))
    assert(fold(triangle, Dedup.KcoreIters).values.toSet == Set(2L))
    val chain = Seq((1L, 2L), (2L, 3L), (3L, 4L))
    assert(fold(chain, Dedup.KcoreIters).values.toSet == Set(1L))
    // two triangles + a bridge: every node is in the 2-core (the
    // bridge adds degree but no core) — degree 3 nodes still core 2
    val bridged = triangle ++ Seq((4L, 5L), (4L, 6L), (5L, 6L), (3L, 4L))
    assert(fold(bridged, Dedup.KcoreIters).values.toSet == Set(2L))
    // the published round count has CONVERGED on the fixture corpus:
    // one more h-index round changes no node's coreness
    val und = Dedup.neardupEdges(spark, sf0001).select("u", "v")
    def m(i: Int) = Dedup.kcoreFold(und, i).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(m(Dedup.KcoreIters) == m(Dedup.KcoreIters + 1),
      "h-index rounds not at fixpoint — raise KcoreIters")
  }

  test("incremental groups: delta fold equals from-scratch resolution, touched set is exact") {
    Dedup.standingStateMemo.reset()
    val delta = Dedup.dedupGroupsDelta(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2), r.getBoolean(3)))
    val full = Dedup.duplicateGroups(spark, sf0001).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(delta.length == full.size)
    // THE contract: incremental labels identical to from-scratch CC
    delta.foreach { case (d, g, _, _) =>
      assert(full(d) == g, s"doc $d: delta label $g != from-scratch ${full(d)}")
    }
    // is_delta marks exactly the ingest slice
    delta.foreach { case (d, _, isD, _) =>
      assert(isD == (d % Dedup.DeltaMod == Dedup.DeltaMod - 1))
    }
    // moved ⟺ the fold changed this doc's label vs its standing state:
    // base docs against base-only CC, delta docs against self-label
    val basePairs = Dedup.minhashPairs(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .filter { case (a, b) =>
        a % Dedup.DeltaMod != Dedup.DeltaMod - 1 &&
          b % Dedup.DeltaMod != Dedup.DeltaMod - 1 }
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    basePairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
    }
    delta.foreach { case (d, g, isD, moved) =>
      val standing = if (isD) d else find(d)
      assert(moved == (g != standing),
        s"doc $d: moved=$moved but standing=$standing group=$g")
    }
    // a second call must hit the memo (standing state loaded, not
    // rebuilt) and stay bit-identical
    val again = Dedup.dedupGroupsDelta(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2), r.getBoolean(3)))
    assert(again.sameElements(delta))
  }

  test("incremental readiness: delta gate equals batch gate row-for-row") {
    graft.ext.Pipeline.readyStateMemo.reset()
    Dedup.standingStateMemo.reset()
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getDouble(2), r.getBoolean(3)))
    val batch = rows(graft.ext.Pipeline.trainingReadiness(spark, sf0001))
    val delta = rows(graft.ext.Pipeline.trainingReadinessDelta(spark, sf0001))
    assert(batch.length == 7 && delta.sameElements(batch),
      s"delta gate diverged:\nbatch=${batch.mkString("\n")}\ndelta=${delta.mkString("\n")}")
    // the second tick reads memoized standing state and must not move
    val again = rows(graft.ext.Pipeline.trainingReadinessDelta(spark, sf0001))
    assert(again.sameElements(batch))
  }

  test("incremental groups: sequential daily folds compose to the one-shot resolution") {
    // the production property: the standing label table ADVANCES tick
    // by tick (each fold's output is the next fold's input), and K
    // sequential folds land on exactly the from-scratch labels — an
    // edge joins the fold of the tick its LATEST endpoint arrives in
    Dedup.standingStateMemo.reset()
    // sf0.01, not sf0.001: the tick split needs delta edges in BOTH
    // id-decade parities, which the 500-doc fixture doesn't produce
    val dir = "/root/testdata/sf0.01"
    val (pairs, standing0) = Dedup.standingDedupState(spark, dir)
    def tickOf(c: org.apache.spark.sql.Column) =
      // integer arithmetic only (c / 10 would be DOUBLE division):
      // base = 0, id ≡ 9 (mod 20) = tick 1, id ≡ 19 (mod 20) = tick 2
      when(c % Dedup.DeltaMod =!= Dedup.DeltaMod - 1, 0)
        .when(c % (2 * Dedup.DeltaMod) === Dedup.DeltaMod - 1, 1)
        .otherwise(2)
    val tagged = pairs.withColumn("tick",
      greatest(tickOf(col("d1")), tickOf(col("d2"))))
    val s1 = Dedup.foldDeltaEdges(spark,
      tagged.filter(col("tick") === 1).select("d1", "d2"), standing0)
    val s2 = Dedup.foldDeltaEdges(spark,
      tagged.filter(col("tick") === 2).select("d1", "d2"), s1)
    val seqLabels = s2.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val full = Dedup.duplicateGroups(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    full.foreach { case (d, g) =>
      assert(seqLabels.getOrElse(d, d) == g,
        s"doc $d: two-tick fold gave ${seqLabels.getOrElse(d, d)}, from-scratch $g")
    }
    // both ticks must be non-trivial or the composition test is vacuous
    assert(tagged.filter(col("tick") === 1).count() > 0 &&
      tagged.filter(col("tick") === 2).count() > 0,
      "fixture must produce edges in BOTH ticks")
  }

  test("delta-join IVM: sequential folds compose to the from-scratch join") {
    // the production property, join-shaped: the materialized view
    // ADVANCES tick by tick under two-sided deltas, and K folds land
    // exactly on the from-scratch join of everything ingested so far
    graft.ext.Pipeline.joinViewMemo.reset()
    val dir = "/root/testdata/sf0.01" // both id-decade parities needed
    val o = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
    val c = Tables.customer(spark, dir)
      .select(col("c_custkey"), col("c_mktsegment"), col("c_nationkey"))
    def tickOf(k: org.apache.spark.sql.Column) =
      when(k % Dedup.DeltaMod =!= Dedup.DeltaMod - 1, 0)
        .when(k % (2 * Dedup.DeltaMod) === Dedup.DeltaMod - 1, 1)
        .otherwise(2)
    val st0 = graft.ext.Pipeline.joinViewState(spark, dir)
    val s1 = graft.ext.Pipeline.foldJoinDelta(st0,
      o.filter(tickOf(col("o_orderkey")) === 1),
      c.filter(tickOf(col("c_custkey")) === 1))
    val s2 = graft.ext.Pipeline.foldJoinDelta(s1,
      o.filter(tickOf(col("o_orderkey")) === 2),
      c.filter(tickOf(col("c_custkey")) === 2))
    def viewMap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), r.getString(2), r.getInt(3), r.getDouble(4))).toMap
    val folded = viewMap(s2.view)
    val scratch = viewMap(
      o.join(c, col("o_custkey") === col("c_custkey"))
        .select(col("o_orderkey"), col("c_custkey"),
          col("c_mktsegment"), col("c_nationkey"), col("o_totalprice")))
    assert(folded.size == scratch.size, // o_orderkey unique ⇒ no dup rows
      s"fold has ${folded.size} rows, from-scratch ${scratch.size}")
    assert(folded == scratch)
    // both ticks non-trivial on both sides or the test is vacuous
    assert(o.filter(tickOf(col("o_orderkey")) === 1).count() > 0 &&
      o.filter(tickOf(col("o_orderkey")) === 2).count() > 0 &&
      c.filter(tickOf(col("c_custkey")) === 1).count() > 0 &&
      c.filter(tickOf(col("c_custkey")) === 2).count() > 0)
    // a second query call hits the standing-view memo and must not move
    val q1 = graft.ext.Pipeline.ivmJoinEnriched(spark, dir).collect()
    val q2 = graft.ext.Pipeline.ivmJoinEnriched(spark, dir).collect()
    assert(q1.sameElements(q2))
  }

  test("CDC-join IVM: signed folds retract exactly and compose across ticks") {
    graft.ext.Pipeline.cdcViewMemo.reset()
    val dir = "/root/testdata/sf0.01"
    def viewMap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), r.getString(2), r.getInt(3), r.getDouble(4))).toMap
    // tick 1: the query's own batch (update slot 3, delete slot 7)
    val st0 = graft.ext.Pipeline.cdcViewState(spark, dir)
    val (dO1, dC1) = graft.ext.Pipeline.cdcBatch(st0)
    val s1 = graft.ext.Pipeline.foldJoinCdc(st0, dO1, dC1)
    // tick 2 on the UPDATED state: delete slot 5, re-update slot 3
    // back to a second segment — updates of already-updated rows are
    // the retraction case insert-only IVM cannot express
    val oldDim = s1.baseCust
      .filter(col("c_custkey") % 10 === graft.ext.Pipeline.CdcUpdSlot)
    val dC2 = oldDim.withColumn("s", lit(-1L)).unionByName(
      oldDim.withColumn("c_mktsegment", lit("MOVED_AGAIN"))
        .withColumn("s", lit(1L)))
    val dO2 = s1.baseOrders.filter(col("o_orderkey") % 10 === 5)
      .withColumn("s", lit(-1L))
    val s2 = graft.ext.Pipeline.foldJoinCdc(s1, dO2, dC2)
    // from-scratch: both CDC batches applied to the raw tables
    val o = Tables.orders(spark, dir).select(col("o_orderkey"),
        col("o_custkey"), col("o_totalprice"))
      .filter(col("o_orderkey") % 10 =!= graft.ext.Pipeline.CdcDelSlot &&
        col("o_orderkey") % 10 =!= 5)
    val c = Tables.customer(spark, dir).select(col("c_custkey"),
      when(col("c_custkey") % 10 === graft.ext.Pipeline.CdcUpdSlot,
        lit("MOVED_AGAIN")).otherwise(col("c_mktsegment"))
        .as("c_mktsegment"),
      col("c_nationkey"))
    val folded = viewMap(s2.view)
    val scratch = viewMap(
      o.join(c, col("o_custkey") === col("c_custkey"))
        .select(col("o_orderkey"), col("c_custkey"),
          col("c_mktsegment"), col("c_nationkey"), col("o_totalprice")))
    assert(folded.size == scratch.size,
      s"fold has ${folded.size} rows, from-scratch ${scratch.size}")
    assert(folded == scratch)
    // every updated customer's rows carry ONLY the latest segment —
    // a failed retraction would leave the intermediate one behind
    assert(!folded.values.exists(v =>
      v._1 % 10 == graft.ext.Pipeline.CdcUpdSlot && v._2 != "MOVED_AGAIN"))
    // memo stability of the query form
    val q1 = graft.ext.Pipeline.ivmJoinCdc(spark, dir).collect()
    val q2 = graft.ext.Pipeline.ivmJoinCdc(spark, dir).collect()
    assert(q1.sameElements(q2))
    graft.ext.Pipeline.cdcViewMemo.reset()
  }

  test("threshold sweep: confusion counts are coherent and monotone in tau") {
    val rows = Dedup.thresholdSweep(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6)))
      .sortBy(_._1)
    assert(rows.length == 10 && rows.head._1 == 50 && rows.last._1 == 95)
    rows.foreach { case (_, nCand, nTruth, nPred, tp, fp, fn) =>
      assert(tp + fp == nPred)     // predictions partition into tp/fp
      assert(tp + fn == nTruth)    // truth partitions into tp/fn
      assert(nTruth <= nCand && nPred <= nCand)
    }
    // raising tau can only shrink the predicted set: n_pred and tp
    // non-increasing, fn non-decreasing (n_cand and n_truth constant)
    rows.sliding(2).foreach { case Array(lo, hi) =>
      assert(hi._4 <= lo._4 && hi._5 <= lo._5 && hi._7 >= lo._7)
      assert(hi._2 == lo._2 && hi._3 == lo._3)
    }
  }

  test("index-health audits: balance/silhouette/KS keep their analytic bounds") {
    // probe_cost_factor = k·Σs²/n² ≥ 1 by Cauchy–Schwarz, = 1 iff even;
    // skew_max ≥ balance of any list; shares partition the corpus
    val bal = Similarity.ivfBalanceAudit(spark, sf0001).collect()
    assert(bal.nonEmpty)
    val pcf = bal.head.getDouble(5)
    assert(bal.forall(_.getDouble(5) == pcf)) // constant column
    assert(pcf >= 1.0)
    val skewMax = bal.head.getDouble(4)
    assert(bal.forall(r => r.getDouble(3) <= skewMax + 1e-9))
    assert(math.abs(bal.map(_.getDouble(2)).sum - 1.0) < 1e-4)
    // silhouette ∈ [−1, 1]; corpus value = member-weighted list mean
    val sil = Similarity.clusterSilhouette(spark, sf0001).collect()
    assert(sil.nonEmpty)
    sil.foreach { r =>
      assert(r.getDouble(2) >= -1.0 - 1e-9 && r.getDouble(2) <= 1.0 + 1e-9)
    }
    val corpus = sil.head.getDouble(3)
    val weighted = sil.map(r => r.getDouble(2) * r.getLong(1)).sum /
      sil.map(_.getLong(1)).sum
    assert(math.abs(corpus - weighted) < 1e-3, s"$corpus vs $weighted")
    // KS: D ∈ [0, 1], the critical value is positive, verdict coherent
    val ks = graft.operators.EventOps.ksValueDrift(spark, sf0001).collect()
    assert(ks.length == 1)
    val r = ks.head
    assert(r.getLong(0) > 0 && r.getLong(1) > 0)
    assert(r.getDouble(2) >= 0.0 && r.getDouble(2) <= 1.0)
    assert(r.getDouble(4) > 0.0)
    assert(r.getBoolean(5) == (r.getDouble(2) > r.getDouble(4)))
  }

  test("incremental BPE fold equals the from-scratch learner, memo replays stably") {
    TextAnalysis.bpeMemo.reset()
    TextAnalysis.bpeStandingMemo.reset()
    def noFold(rs: Array[org.apache.spark.sql.Row]) = rs
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
      .sortBy(_._1).toSeq
    val delta = TextAnalysis.bpeMergesDelta(spark, sf0001).collect()
    val scratch = TextAnalysis.bpeMerges(spark, sf0001).collect()
    assert(noFold(delta) == noFold(scratch),
      "folded merge table must equal the from-scratch learner")
    // a second tick reads the memoized standing state and replays
    // bit-identically, folded flags included
    val again = TextAnalysis.bpeMergesDelta(spark, sf0001).collect()
    assert(delta.map(_.toSeq).toSeq == again.map(_.toSeq).toSeq)
    TextAnalysis.bpeMemo.reset()
    TextAnalysis.bpeStandingMemo.reset()
  }

  test("operating curves + session examples keep their structural contracts") {
    // merge curve: words/chars constant in m; 0 merges ⇒ every char a
    // symbol; each merge can only shrink the symbol count (fertility
    // non-increasing) and never below one symbol per word
    val curve = TextAnalysis.bpeMergeCurve(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1)
    assert(curve.map(_._1).sameElements(0L to TextAnalysis.BpeMerges.toLong))
    assert(curve.map(_._2).distinct.length == 1)
    assert(curve.map(_._3).distinct.length == 1)
    assert(curve.head._4 == curve.head._3) // m=0: symbols == chars
    curve.sliding(2).foreach { case Array(lo, hi) =>
      assert(hi._4 <= lo._4, s"merge ${hi._1} grew symbols")
    }
    assert(curve.last._4 >= curve.last._2) // ≥ 1 symbol per word
    // quality curve: retention non-increasing in the cut; cut 0 keeps
    // every tokenized doc (ratio ≥ 0 always true for non-empty docs)
    val qc = TextAnalysis.qualityCutTradeoff(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(4)))
      .sortBy(_._1)
    assert(qc.length == 10)
    qc.sliding(2).foreach { case Array(lo, hi) =>
      assert(hi._3 <= lo._3 && hi._4 <= lo._4)
    }
    // quantization curve: pointwise improvement is only a TRUE
    // invariant between NESTED level grids (L' a multiple of L puts
    // every coarse point on the fine grid): 3 divides 15/63/255 and
    // 15 divides 255, so those pairs must improve; 15→63 and 63→255
    // are only the statistical 6 dB/bit tendency, not a contract
    val qb = Similarity.quantizeBitsCurve(spark, sf0001).collect()
      .map(r => r.getLong(1) -> (r.getDouble(3), r.getDouble(4))).toMap
    assert(qb.keySet == Set(3L, 15L, 63L, 255L))
    for ((lo, hi) <- Seq((3L, 15L), (3L, 63L), (3L, 255L), (15L, 255L))) {
      assert(qb(hi)._1 <= qb(lo)._1, s"$hi levels worsened MSE vs $lo")
      assert(qb(hi)._2 <= qb(lo)._2 + 1e-12)
    }
    qb.values.foreach { case (mse, mx) => assert(mse >= 0 && mx >= 0) }
    // session examples: context width ≤ 8, pos ≥ 2, target non-null
    val ex = graft.operators.EventOps.sessionExamples(spark, sf0001)
      .collect()
    assert(ex.nonEmpty)
    ex.foreach { r =>
      assert(r.getLong(2) >= 2)
      val ctx = r.getString(3).split(" ").filter(_.nonEmpty)
      assert(ctx.length >= 1 && ctx.length <= 8)
      assert(ctx.length == math.min(r.getLong(2) - 1, 8L))
      assert(r.getString(4).nonEmpty)
    }
  }

  test("verbatim decontamination: disjoint runs, bounded coverage, eval excluded") {
    val rows = Dedup.decontaminateSubstring(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getLong(4), r.getLong(5)))
    assert(rows.nonEmpty)
    val evalIds = Tables.documents(spark, sf0001)
      .filter(col("source") === TextAnalysis.EvalSource)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    rows.foreach { case (id, nTok, contam, frac, nRuns, longest) =>
      assert(!evalIds.contains(id)) // only TRAIN docs are audited
      assert(contam >= 0 && contam <= nTok) // runs are disjoint intervals
      assert(frac >= 0.0 && frac <= 1.0)
      assert(longest <= contam && (nRuns == 0) == (contam == 0))
    }
    // the fixture plants verbatim copies across sources: signal exists
    assert(rows.exists(_._3 > 0))
  }

  test("group-safe split: zero residual leakage, singletons untouched") {
    val rows = Dedup.groupSafeSplit(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        r.getString(3), r.getBoolean(4)))
    assert(rows.length == 500)
    // the post-condition the operator exists for: every group maps to
    // exactly one split — the leakage audit on THIS assignment is empty
    rows.groupBy(_._2).foreach { case (g, members) =>
      assert(members.map(_._3).distinct.length == 1,
        s"group $g still straddles splits")
    }
    // singletons (group_id = doc_id) keep the naive assignment verbatim
    rows.filter(r => r._1 == r._2).foreach { r =>
      assert(r._3 == r._4 && !r._5, s"singleton ${r._1} moved")
    }
    // moved ⟺ the two assignments disagree, and only group members move
    rows.foreach { r => assert(r._5 == (r._3 != r._4)) }
    // the re-split stays a split: all three classes still realized
    assert(rows.map(_._3).distinct.sorted.sameElements(
      Array("test", "train", "val")))
  }

  test("brute-force top-k: nearest neighbor of a vector is itself-like vector") {
    val topk = Similarity.bruteForceTopK(spark, sf0001, numQueries = 3, k = 5)
    val rows = topk.collect()
    assert(rows.length == 15)
    // ranks are 1..5 per query, cos_sim non-increasing within a query
    rows.groupBy(_.getLong(0)).foreach { case (_, rs) =>
      val sorted = rs.sortBy(_.getLong(3))
      assert(sorted.map(_.getLong(3)).toSeq == (1L to 5L))
      val sims = sorted.map(_.getDouble(2)).toSeq
      assert(sims == sims.sorted.reverse)
    }
  }

  test("embedding LSH near-dup pairs are a subset of the brute-force pairs") {
    def keys(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val brute = keys(Dedup.embeddingNearDup(spark, sf0001))
    val lsh = keys(Dedup.embeddingNearDupLsh(spark, sf0001))
    assert(lsh.subsetOf(brute),
      s"LSH produced pairs absent from the exact baseline: ${lsh.diff(brute).take(3)}")
  }

  test("LSH bucket cap keeps a degenerate corpus linear (star topology)") {
    import spark.implicits._
    val n = 200L
    // 200 identical docs — one bucket per band, far over the cap; the
    // uncapped join would emit n(n-1)/2 = 19900 pairs
    val corpus = (0L until n).map(i => (i, "same exact boilerplate text row"))
      .toDF("doc_id", "text")
    val pairs = Dedup.minhashPairs(corpus, 0.75, maxBucket = 16).collect()
    assert(pairs.length == n - 1, s"expected star pairs, got ${pairs.length}")
    assert(pairs.forall(r => r.getLong(0) == 0L), "all pairs must anchor at the rep doc")
    assert(pairs.forall(r => r.getDouble(2) == 1.0))
  }

  test("k-means centroids: Lloyd iterations move every seed and stay deterministic") {
    val c1 = Similarity.kmeansCentroids(spark, sf0001)
    val c2 = Similarity.kmeansCentroids(spark, sf0001)
    assert(c1 == c2, "centroids must be bit-identical across runs")
    assert(c1.size == Similarity.numLists(500))
    assert(c1.forall(_._2.size == 64))
    // the refined centroids are means, not corpus vectors: each seed
    // captures >= itself (sim 1.0 at iteration 1), so every list is
    // non-empty and its mean moves off the raw seed vector
    val seeds = graft.Tables.embeddings(spark, sf0001)
      .filter(col("vec_id") < Similarity.numLists(500))
      .orderBy("vec_id").collect()
      .map(_.getSeq[Float](1).map(_.toDouble))
    assert(c1.map(_._2).zip(seeds).exists { case (c, s) => c != s },
      "Lloyd iterations left every centroid on its seed")
  }

  test("lsh bucket: identical vectors land in the same bucket") {
    val b = Similarity.lshBuckets(spark, sf0001)
    val total = b.agg(sum(col("n_vectors"))).collect()(0).getLong(0)
    assert(total == 500) // every vector bucketed exactly once
  }

  test("multimodal pipeline: schema, batch shape, deterministic stub") {
    val feats = Multimodal.extractFeatures(Multimodal.assets(spark, sf0001))
    val rows = feats.collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_.features.length == 8))
    assert(rows.forall(f => f.width >= 1 && f.width <= 64))
    assert(rows.forall(_.channels == 3))
    // deterministic: run twice, same features
    val again = Multimodal.extractFeatures(Multimodal.assets(spark, sf0001)).collect()
    assert(rows.map(_.features.toSeq).toSeq == again.map(_.features.toSeq).toSeq)
    // resize halves the feature vector
    val resized = Multimodal.resizeStub(feats).collect()
    assert(resized.forall(_.features.length == 4))
  }

  test("cross-modal retrieval: bounded panel, exact ranking, diagonal audit") {
    val out = Multimodal.captionAssetTopK(spark, sf0001).collect()
    assert(out.nonEmpty)
    val byCaption = out.groupBy(_.getLong(0))
    // panel = every CaptionPanelMod-th caption with a nonzero
    // embedding, capped at CaptionPanelCap fixed query ids
    val expectedPanel = Multimodal.sharedSpaceCaptions(spark, sf0001)
      .filter(col("e").isNotNull &&
        col("asset_id") % Multimodal.CaptionPanelMod === 0 &&
        col("asset_id") < Multimodal.CaptionPanelMod.toLong *
          Multimodal.CaptionPanelCap).count()
    assert(byCaption.size.toLong == expectedPanel,
      s"panel ${byCaption.size} != $expectedPanel")
    byCaption.foreach { case (cap, rs) =>
      assert(rs.length <= Multimodal.CaptionTopK)
      // rk contiguous from 1, cosine non-increasing with asset tiebreak
      val sorted = rs.sortBy(_.getLong(3))
      assert(sorted.map(_.getLong(3)).toSeq == (1L to rs.length).toSeq)
      sorted.sliding(2).foreach {
        case Array(a, b) =>
          val (ca, cb) = (a.getDouble(2), b.getDouble(2))
          assert(ca > cb || (ca == cb && a.getLong(1) < b.getLong(1)),
            s"ranking violated for caption $cap")
        case _ =>
      }
      // is_own marks exactly the diagonal; hit_at_k is its group max
      rs.foreach { r =>
        assert(r.getBoolean(4) == (r.getLong(1) == cap))
        assert(r.getBoolean(5) == rs.exists(_.getLong(1) == cap))
      }
    }
  }

  test("codegen'd LSH bucket kernel equals the HOF formulation") {
    import org.apache.spark.sql.functions._
    val e = Tables.embeddings(spark, sf0001)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val both = e.select(col("vec_id"),
      ext.Similarity.lshBucket(col("v")).as("kernel"),
      ext.Similarity.lshBucketHof(col("v")).as("hof"))
    val diff = both.filter(col("kernel") =!= col("hof")).count()
    assert(diff == 0, s"$diff vectors bucket differently")
    // and the kernel actually spreads vectors across buckets
    assert(both.select("kernel").distinct().count() > 1)
  }

  test("text quality ratios are in [0,1]") {
    val q = TextAnalysis.textQuality(spark, sf0001).collect()
    assert(q.nonEmpty)
    q.foreach { r =>
      val stop = r.getDouble(3); val dist = r.getDouble(4)
      assert(stop >= 0 && stop <= 1); assert(dist >= 0 && dist <= 1)
    }
  }

  test("boilerplate fraction is a valid ratio and flags only above threshold") {
    val rows = TextAnalysis.boilerplateNgrams(spark, sf0001).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val nGrams = r.getAs[Long]("n_grams")
      val nBoiler = r.getAs[Long]("n_boiler")
      assert(nBoiler >= 0 && nBoiler <= nGrams,
        s"boiler positions $nBoiler exceed gram positions $nGrams")
      val frac = Option(r.getAs[java.lang.Double]("boiler_frac"))
      val flagged = r.getAs[Boolean]("flagged")
      frac match {
        case Some(f) =>
          assert(f >= 0.0 && f <= 1.0)
          assert(flagged == (f >= TextAnalysis.BoilerFracFlag))
        case None => // doc shorter than the gram width
          assert(nGrams == 0 && !flagged)
      }
    }
  }

  test("IVF recall is monotone in nprobe and perfect recall needs all probed lists") {
    val rows = ext.Similarity.ivfRecallSweep(spark, sf0001).collect()
    val byProbe = rows.groupBy(_.getAs[Long]("nprobe")).view
      .mapValues(_.map(_.getAs[Double]("recall_at_k")).sum).toMap
    val probes = ext.Similarity.RecallSweepProbes.map(_.toLong)
    assert(byProbe.keySet == probes.toSet)
    // more probed lists can only widen the candidate set
    probes.sliding(2).foreach { case Seq(a, b) =>
      assert(byProbe(a) <= byProbe(b),
        s"recall sum fell from nprobe=$a (${byProbe(a)}) to nprobe=$b (${byProbe(b)})")
    }
    rows.foreach { r =>
      val k = r.getAs[Double]("recall_at_k")
      assert(k >= 0.0 && k <= 1.0)
    }
  }

  test("ANN refine recovers recall: refined >= adc, and rows are coherent") {
    // the construction guarantee: every ADC-top-k ground-truth hit is
    // in the k·RefineMult pool, and exact re-scoring can only move
    // true neighbors UP within it (ties broken identically), so
    // recall_refined >= recall_adc on ANY corpus
    val rows = ext.Similarity.annIvfPqRefine(spark, sf0001).collect()
    assert(rows.nonEmpty)
    val rAdc = rows.head.getAs[Double]("recall_adc")
    val rRef = rows.head.getAs[Double]("recall_refined")
    assert(rRef >= rAdc, s"refine lost recall: adc=$rAdc refined=$rRef")
    assert(rAdc >= 0.0 && rRef <= 1.0)
    // the refined list is k rows per query, ranked by exact_ip desc
    rows.groupBy(_.getAs[Long]("query_id")).foreach { case (q, rs) =>
      val sorted = rs.sortBy(_.getAs[Long]("rk"))
      assert(sorted.map(_.getAs[Long]("rk")).toSeq ==
        (1L to sorted.length).toSeq, s"query $q rk gap")
      sorted.sliding(2).foreach {
        case Array(a, b) =>
          assert(a.getAs[Double]("exact_ip") >= b.getAs[Double]("exact_ip"),
            s"query $q not ranked by exact_ip")
        case _ =>
      }
      // the adc arm matches sim_ann_ivfpq's published operating point
    }
    val ivfpq = ext.Similarity.annIvfPq(spark, sf0001).collect()
    assert(ivfpq.head.getAs[Double]("recall_at_k") == rAdc,
      "refine's recall_adc must equal sim_ann_ivfpq's recall_at_k")
  }

  test("k-means inertia report covers the corpus exactly once") {
    val rows = ext.Similarity.kmeansInertia(spark, sf0001).collect()
    val nVecs = Tables.embeddings(spark, sf0001).count()
    assert(rows.map(_.getAs[Long]("n_vecs")).sum == nVecs,
      "every vector belongs to exactly one list")
    assert(rows.length <= ext.Similarity.numLists(500))
    rows.foreach(r => assert(r.getAs[Double]("inertia") >= 0.0))
  }

  test("phash pairs are ordered, thresholded, and deterministic") {
    val rows = Dedup.phashPairs(spark, sf0001).collect()
    rows.foreach { r =>
      assert(r.getAs[Long]("d1") < r.getAs[Long]("d2"))
      val h = r.getAs[Long]("hamming")
      assert(h >= 0 && h <= Dedup.PhashHamMax)
    }
    val again = Dedup.phashPairs(spark, sf0001).collect()
    assert(rows.map(_.toString).toSeq == again.map(_.toString).toSeq)
  }

  test("semantic dedup pairs are a subset of the exact near-dup pairs") {
    val sem = ext.Similarity.semanticDedup(spark, sf0001).collect()
    val brute = Dedup.embeddingNearDup(spark, sf0001,
        threshold = ext.Similarity.SemDedupTau).collect()
      .map(r => (r.getAs[Long]("d1"), r.getAs[Long]("d2"))).toSet
    sem.foreach { r =>
      val dup = r.getAs[Long]("vec_id"); val keep = r.getAs[Long]("keeper_id")
      assert(keep < dup, "keeper is the lower id")
      assert(r.getAs[Double]("cos_to_keeper") >= ext.Similarity.SemDedupTau)
      assert(brute.contains((keep, dup)),
        s"cluster-restricted pair ($keep,$dup) missing from the exact pass")
    }
  }

  test("dsir weights cover every tokenized train doc and sign matches the flag") {
    import org.apache.spark.sql.functions._
    val w = ext.TextAnalysis.dsirWeights(spark, sf0001).collect()
    val expected = Tables.documents(spark, sf0001)
      .filter(col("source") =!= ext.TextAnalysis.EvalSource &&
        size(ext.TextAnalysis.tokens(col("text"))) > 0).count()
    assert(w.length == expected, "one weight per train doc with tokens")
    w.foreach { r =>
      val a = r.getAs[Double]("avg_logratio")
      assert(!a.isNaN && !a.isInfinite)
      assert(r.getAs[Boolean]("toward_target") == (a > 0))
    }
  }

  test("product quantization: words pack 8 4-bit codes, errors non-negative, deterministic") {
    import org.apache.spark.sql.functions._
    val codes = ext.Similarity.pqCodes(spark, sf0001).collect()
    val nVecs = Tables.embeddings(spark, sf0001).count()
    assert(codes.length == nVecs, "every vector is encoded")
    codes.foreach { r =>
      val word = r.getAs[Long]("pq_word")
      assert(word >= 0L && word < (1L << 32), s"word $word outside 32 bits")
      assert(r.getAs[Double]("sq_err") >= 0.0)
    }
    // codebook training is deterministic: a second run is identical
    val again = ext.Similarity.pqCodes(spark, sf0001).collect()
    assert(codes.map(_.toString).toSeq == again.map(_.toString).toSeq)
    // compression is real: words take distinct values (not one cell)
    assert(codes.map(_.getAs[Long]("pq_word")).distinct.length > 1)
  }

  test("t-closeness: distances are valid, group sizes cover the table") {
    val rows = graft.operators.Relational.tClosenessAudit(spark, sf0001).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (tvd, emd) = (r.getAs[Double]("tvd"), r.getAs[Double]("emd"))
      assert(tvd >= 0.0 && tvd <= 1.0, s"tvd $tvd outside [0,1]")
      assert(emd >= 0.0 && emd <= 1.0, s"emd $emd outside [0,1]")
      assert(r.getAs[Boolean]("above_t02") == (emd > 0.2))
    }
    // QI groups partition the table: sizes sum to the row count
    assert(rows.map(_.getAs[Long]("group_size")).sum ==
      Tables.customer(spark, sf0001).count())
  }

  test("shard manifest digest is partition-order-independent and covers every doc") {
    val m = ext.Sampling.shardManifest(spark, sf0001).collect()
    assert(m.map(_.getAs[Long]("n_docs")).sum ==
      Tables.documents(spark, sf0001).count(), "shards partition the corpus")
    // the XOR digest must not depend on how partitions combine: a
    // second run over a differently-partitioned scan is identical
    val again = ext.Sampling.shardManifest(spark, sf0001).collect()
    assert(m.map(_.toString).toSeq == again.map(_.toString).toSeq)
    assert(m.map(_.getAs[Long]("content_digest")).distinct.length == m.length,
      "distinct shards carry distinct digests (content actually feeds the digest)")
  }

  test("semantic decontamination: eval side is the capped slice, train side disjoint") {
    val rows = ext.Similarity.decontaminateSemantic(spark, sf0001).collect()
    assert(rows.nonEmpty)
    val cap = ext.Similarity.DecontamEvalMod.toLong * ext.Similarity.DecontamEvalCap
    rows.foreach { r =>
      val q = r.getAs[Long]("eval_id")
      val n = r.getAs[Long]("nearest_train_id")
      assert(q % ext.Similarity.DecontamEvalMod == 0 && q < cap)
      assert(!(n % ext.Similarity.DecontamEvalMod == 0 && n < cap),
        s"nearest train $n is itself an eval vector")
      val c = r.getAs[Double]("cos_sim")
      assert(c >= -1.0 && c <= 1.0)
      assert(r.getAs[Boolean]("contaminated") == (c >= ext.Similarity.DecontamTau))
    }
    // one row per eval vector (top-1 per query, no drops)
    assert(rows.map(_.getAs[Long]("eval_id")).distinct.length == rows.length)
  }

  test("incremental dedup: one row per delta doc, matches point into the base") {
    val rows = Dedup.incrementalDedup(spark, sf0001).collect()
    val deltaIds = Tables.documents(spark, sf0001)
      .filter(col("doc_id") % Dedup.DeltaMod === (Dedup.DeltaMod - 1))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(rows.map(_.getAs[Long]("doc_id")).toSet == deltaIds,
      "exactly the delta slice is screened, matched or not")
    assert(rows.map(_.getAs[Long]("doc_id")).distinct.length == rows.length)
    rows.foreach { r =>
      if (!r.isNullAt(r.fieldIndex("best_match"))) {
        val b = r.getAs[Long]("best_match")
        assert(b % Dedup.DeltaMod != Dedup.DeltaMod - 1,
          s"best match $b is itself a delta doc")
        val est = r.getAs[Double]("est_jaccard")
        assert(est >= 0.0 && est <= 1.0)
        assert(r.getAs[Boolean]("is_dup") == (est >= Dedup.PairThreshold))
      } else assert(!r.getAs[Boolean]("is_dup"), "unmatched delta cannot be a dup")
    }
    // deterministic: the argmax tiebreak pins a unique answer
    val again = Dedup.incrementalDedup(spark, sf0001).collect()
    assert(rows.map(_.toString).toSeq == again.map(_.toString).toSeq)
  }

  test("multiprobe LSH recall dominates single-bucket recall on every query") {
    // a theorem, not a tendency: multiprobe candidates ⊇ the single
    // bucket's, and an exact-top-k member can only be displaced from
    // the approximate top-k by vectors that beat it globally — which
    // are themselves exact-top-k. So per query recall_multi ≥
    // recall_single, with equality only when the flipped-bit buckets
    // add no exact neighbor.
    val rows = ext.Similarity.multiprobeRecallAudit(spark, sf0001).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Double]("recall_multi") >= r.getAs[Double]("recall_single"),
        s"multiprobe must dominate: $r")
      assert(r.getAs[Long]("n_hit_multi") <= r.getAs[Long]("n_exact"))
    }
    assert(rows.map(_.getAs[Double]("recall_multi")).sum >=
      rows.map(_.getAs[Double]("recall_single")).sum)
  }

  test("tokenizer fertility: every word emits >= 1 symbol, symbols never exceed chars") {
    val rows = TextAnalysis.tokenizerFertility(spark, sf0001).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Double]("fertility") >= 1.0,
        "a word encodes to at least one symbol")
      assert(r.getAs[Long]("n_symbols") <= r.getAs[Long]("n_chars"),
        "merging only ever shrinks the symbol count below chars")
      assert(r.getAs[Double]("chars_per_symbol") >= 1.0)
    }
  }

  test("substring dedup: run semantics on constructed corpora (threshold, islands, merge, cross-doc only)") {
    import spark.implicits._
    def toks(p: String, n: Int) = (1 to n).map(i => s"$p$i").mkString(" ")
    val a8 = toks("a", 8); val b7 = toks("b", 7)
    val r8 = toks("r", 8); val s8 = toks("s", 8); val m10 = toks("m", 10)
    val docs = Seq(
      // exactly one shared 8-token window (the threshold case)
      (1L, s"$a8 tailxa tailya"),
      (2L, s"$a8 tailxb tailyb"),
      // a 7-token shared prefix: BELOW threshold, must not flag
      (3L, s"$b7 ctail1 ctail2"),
      (4L, s"$b7 dtail1 dtail2"),
      // TWO disjoint shared runs separated by a 9-token unique gap
      (5L, s"$r8 ${toks("g", 9)} $s8"),
      (6L, s"$r8 ${toks("h", 9)} $s8"),
      // overlapping shared windows must MERGE into one maximal run
      (7L, m10),
      (8L, s"$m10 htail1 htail2"),
      // WITHIN-doc repetition alone is not cross-doc duplication
      (9L, s"${toks("p", 8)} ${toks("p", 8)}"))
      .toDF("doc_id", "text")
    val rows = graft.ext.Dedup.substringDedupDocs(docs)
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    def f(id: Long, c: String) = rows(id).getAs[Double](c)
    def l(id: Long, c: String) = rows(id).getAs[Long](c)
    // threshold: exactly-8 shared → one run of 8 over 10 tokens
    for (id <- Seq(1L, 2L))
      assert(l(id, "dup_tokens") == 8L && l(id, "n_runs") == 1L &&
        f(id, "dup_fraction") == 0.8, s"doc $id: ${rows(id)}")
    // 7 shared tokens: no 8-gram exists → zero
    for (id <- Seq(3L, 4L))
      assert(l(id, "dup_tokens") == 0L && l(id, "n_runs") == 0L,
        s"sub-threshold run must not flag: ${rows(id)}")
    // islands: two runs of 8 over 25 tokens, gap > k keeps them apart
    for (id <- Seq(5L, 6L))
      assert(l(id, "dup_tokens") == 16L && l(id, "n_runs") == 2L &&
        l(id, "longest_run") == 8L, s"doc $id: ${rows(id)}")
    // merge: three overlapping shared windows collapse to ONE 10-token
    // run — doc 7 is fully covered, doc 8 keeps its unique tail
    assert(l(7L, "n_runs") == 1L && f(7L, "dup_fraction") == 1.0 &&
      l(7L, "longest_run") == 10L, s"${rows(7L)}")
    assert(l(8L, "n_runs") == 1L && l(8L, "dup_tokens") == 10L &&
      l(8L, "n_tokens") == 12L, s"${rows(8L)}")
    // cross-doc ONLY: a doc repeating its own 8-gram twice shares with
    // no other doc and must report zero
    assert(l(9L, "dup_tokens") == 0L && l(9L, "n_runs") == 0L,
      s"within-doc repetition is not cross-doc duplication: ${rows(9L)}")

    // the runs report: identical spans in different docs carry the
    // SAME content fingerprint, and ordering is (span desc, doc, pos)
    val runs = graft.ext.Dedup.substringRunsDocs(docs, topN = 20).collect()
    val top = runs.take(2)
    assert(top.map(_.getAs[Long]("doc_id")).toSeq == Seq(7L, 8L) &&
      top.forall(_.getAs[Long]("run_tokens") == 10L),
      s"longest shared span first: ${runs.toSeq}")
    assert(top(0).getAs[String]("run_md5") == top(1).getAs[String]("run_md5"),
      "the same verbatim span must fingerprint identically in both docs")

    // EXCISION: exactly one copy of each shared run survives corpus-
    // wide (the min-(doc, start) occurrence); everything else is cut,
    // and the cleaned token stream is exactly the unshared remainder
    def md5hex(str: String) =
      java.security.MessageDigest.getInstance("MD5")
        .digest(str.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val ex = graft.ext.Dedup.substringExciseDocs(docs)
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    def rem(id: Long) = ex(id).getAs[Long]("removed_tokens")
    def cleaned(id: Long) = ex(id).getAs[String]("cleaned_md5")
    // doc 1 is the keeper of the a-run; doc 2 loses it, keeping tails
    assert(rem(1L) == 0L && rem(2L) == 8L, s"${ex(1L)} / ${ex(2L)}")
    assert(cleaned(2L) == md5hex("tailxb tailyb"), s"${ex(2L)}")
    // doc 5 keeps BOTH runs; doc 6 loses both, keeping its gap tokens
    assert(rem(5L) == 0L && rem(6L) == 16L &&
      ex(6L).getAs[Long]("kept_tokens") == 9L, s"${ex(5L)} / ${ex(6L)}")
    assert(cleaned(6L) == md5hex((1 to 9).map(i => s"h$i").mkString(" ")))
    // doc 7 keeps the merged 10-token run; doc 8 keeps only its tail
    assert(rem(7L) == 0L && rem(8L) == 10L, s"${ex(7L)} / ${ex(8L)}")
    assert(cleaned(8L) == md5hex("htail1 htail2"), s"${ex(8L)}")
    // untouched docs hash to their full token stream
    assert(rem(9L) == 0L &&
      cleaned(9L) == md5hex((toks("p", 8) + " " + toks("p", 8))))
  }

  test("mixture budget conserves tokens and normalizes weights") {
    import org.apache.spark.sql.functions._
    val rows = graft.ext.Sampling.mixtureBudget(spark, sf0001).collect()
    assert(rows.nonEmpty)
    val avail = rows.map(_.getAs[Long]("available_tokens")).sum
    val targets = rows.map(_.getAs[Long]("target_tokens")).sum
    // budget = corpus total; floors lose < 1 token per source
    assert(targets <= avail && avail - targets < rows.length,
      s"targets $targets must fill the $avail budget up to per-source floors")
    val wsum = rows.map(_.getAs[Double]("weight")).sum
    assert(math.abs(wsum - 1.0) < 1e-6, s"weights must normalize: $wsum")
    rows.foreach { r =>
      val rate = r.getAs[Double]("sample_rate")
      assert(rate > 0.0 && rate <= 1.0, s"rate out of bounds: $r")
      // epochs and rate agree: rate = min(1, epochs)
      assert(math.abs(rate - math.min(1.0, r.getAs[Double]("epochs"))) < 1e-9)
    }
  }

  test("a swapped encoder trips the drift gate and demands a retrain") {
    import org.apache.spark.sql.functions._
    // the gate fixture is drift-free, so retrain_required = false is
    // all the oracle can ever check — this constructed corpus shifts
    // every delta vector's coordinates by +2 (the
    // silently-re-finetuned-encoder shape) and pins the TRUE arm:
    // the Welch t explodes, the monitor flags, and the maintenance
    // tick demands a rebuild instead of appending
    val out = "/tmp/graft_drift_fixture_v1"
    if (!new java.io.File(s"$out/_built").exists()) {
      spark.read.parquet(s"$sf0001/embeddings.parquet")
        .withColumn("embedding",
          when(col("vec_id") % 10 === 9,
            expr("transform(embedding, x -> CAST(x + 2.0 AS FLOAT))"))
            .otherwise(col("embedding")))
        .write.mode("overwrite").parquet(s"$out/embeddings.parquet")
      new java.io.File(s"$out/_built").createNewFile()
    }
    val drift = Similarity.embeddingBatchDrift(spark, out).collect()
    assert(drift.forall(_.getAs[Boolean]("drifted")),
      "a +2 shift on every coordinate must flag every dimension")
    val tick = Similarity.ivfDeltaAssign(spark, out).collect()
    assert(tick.nonEmpty &&
      tick.forall(_.getAs[Boolean]("retrain_required")),
      "the maintenance tick must carry the retrain demand")
  }

  test("ivf delta assignment covers the corpus exactly once") {
    import org.apache.spark.sql.functions._
    val rows = graft.ext.Similarity.ivfDeltaAssign(spark, sf0001).collect()
    val n = Tables.embeddings(spark, sf0001).count()
    val nDelta = Tables.embeddings(spark, sf0001)
      .filter(col("vec_id") % 10 === 9).count()
    assert(rows.map(r => r.getAs[Long]("n_base") + r.getAs[Long]("n_delta")).sum == n,
      "every vector lands in exactly one list")
    assert(rows.map(_.getAs[Long]("n_delta")).sum == nDelta,
      "the delta slice is fully assigned")
    assert(rows.forall(r => !r.getAs[Boolean]("retrain_required")),
      "the fixture corpus carries no encoder drift")
  }

  test("kmv overlap: theta estimates bounded, exact when both sets fit the sketch") {
    import org.apache.spark.sql.functions._
    val r = graft.ext.Sketches.kmvOverlap(spark, sf0001).collect()
    assert(r.length == 1)
    val row = r.head
    val (ei, eu) = (row.getAs[Long]("exact_inter"), row.getAs[Long]("exact_union"))
    assert(ei <= eu && ei >= 0)
    val ej = row.getAs[Double]("est_jaccard")
    assert(ej >= 0.0 && ej <= 1.0, s"jaccard estimate out of range: $ej")
    // when both per-year key sets fit inside k, θ = M and the theta
    // formula must COLLAPSE to the exact counts — no special case
    val o = Tables.orders(spark, sf0001)
    def card(y: Int) = o.filter(year(col("o_orderdate")) === y)
      .select("o_custkey").distinct().count()
    if (card(1995) < graft.ext.Sketches.KmvK &&
        card(1996) < graft.ext.Sketches.KmvK) {
      assert(row.getAs[Double]("est_inter") == ei.toDouble,
        "exact-regime intersection estimate must equal the exact count")
      assert(row.getAs[Double]("est_union") == eu.toDouble,
        "exact-regime union estimate must equal the exact count")
    } else assert(row.getAs[Double]("rel_err_inter") <= 0.25,
      "sketch-regime error far outside the 1/sqrt(k) band")
  }

  test("compaction plan conserves files and bytes; bins bounded by target + one file") {
    val plan = graft.operators.Layout.compactionPlan(spark, sf0001).collect()
    val docs = Tables.documents(spark, sf0001)
    assert(plan.map(_.getAs[Long]("n_inputs")).sum == docs.count(),
      "every input file planned exactly once")
    assert(plan.map(_.getAs[Long]("in_bytes")).sum ==
      docs.agg(org.apache.spark.sql.functions.sum("n_chars"))
        .head().getLong(0), "byte conservation")
    val keeps = plan.filter(_.getAs[String]("action") == "keep")
    assert(keeps.forall(r => r.getAs[Long]("n_inputs") == 1 &&
      r.getAs[Long]("in_bytes") >= graft.operators.Layout.SmallFileBytes),
      "keep rows are single large files")
    val comps = plan.filter(_.getAs[String]("action") == "compact")
    assert(comps.forall(_.getAs[Long]("in_bytes") <
      graft.operators.Layout.TargetBytes + graft.operators.Layout.SmallFileBytes),
      "quota packing can overflow a bin by at most one small file")
    assert(comps.forall(_.getAs[Long]("in_bytes") > 0))
  }

  test("clustering depth: sorted layout near 1, hash layout saturates, depth bounded by files") {
    val rows = graft.operators.Layout.clusteringDepth(spark, sf0001).collect()
    assert(rows.length == 2)
    val byLayout = rows.map(r => r.getAs[String]("layout") -> r).toMap
    val (h, s) = (byLayout("hash"), byLayout("sorted"))
    for (r <- rows) {
      assert(r.getAs[Long]("n_files") <= graft.operators.Layout.DepthFiles)
      assert(r.getAs[Long]("max_depth") >= 1 &&
        r.getAs[Long]("max_depth") <= r.getAs[Long]("n_files"),
        "depth is a count of overlapping files")
      assert(r.getAs[Double]("avg_start_depth") >= 1.0)
    }
    // the metric must discriminate: hash ranges all span the date
    // domain (depth ≈ n_files); a date-sorted layout tiles it
    assert(h.getAs[Long]("max_depth") > s.getAs[Long]("max_depth"),
      s"hash ${h.getAs[Long]("max_depth")} vs sorted ${s.getAs[Long]("max_depth")}")
    assert(s.getAs[Double]("avg_start_depth") <= 3.0,
      "date-sorted files overlap only at tile boundaries")
  }

  test("cms join-size estimate is one-sided and near-exact at sketch width") {
    val r = graft.ext.Sketches.joinSizeEstimate(spark, sf0001).collect()
    assert(r.length == 1)
    val row = r.head
    val (ex, est) = (row.getAs[Long]("exact_join_size"),
      row.getAs[Long]("cms_join_size"))
    assert(ex > 0, "fixture join must be non-empty")
    assert(est >= ex, "CM inner product never underestimates")
    assert(row.getAs[Long]("overcount") == est - ex)
    // |keys| << width so collision mass should stay small
    assert(row.getAs[Double]("rel_err") <= 0.5,
      s"collision mass implausibly large: $row")
  }

  test("kappa: chance-corrected agreement below raw accuracy, verdict bands consistent") {
    val r = graft.ext.TextAnalysis.kappaLangAgreement(spark, sf0001).collect()
    assert(r.length == 1)
    val row = r.head
    val (po, pe) = (row.getAs[Double]("p_o"), row.getAs[Double]("p_e"))
    assert(po >= 0.0 && po <= 1.0 && pe > 0.0 && pe < 1.0)
    val k = row.getAs[Double]("kappa")
    assert(k <= 1.0, "kappa is bounded above by 1")
    assert(k <= po + 1e-9, "chance correction cannot exceed raw agreement")
    val expected =
      if (k >= 0.8) "almost_perfect" else if (k >= 0.6) "substantial"
      else if (k >= 0.4) "moderate" else if (k >= 0.2) "fair"
      else "slight_or_worse"
    assert(row.getAs[String]("verdict") == expected)
  }

  test("ndcg eval: bounded metrics, dcg never exceeds ideal, rr consistent with rank") {
    val rows = graft.ext.Similarity.rankEvalNdcg(spark, sf0001).collect()
    assert(rows.length == 5, "one eval row per query vector")
    rows.foreach { r =>
      val (dcg, idcg) = (r.getAs[Double]("dcg"), r.getAs[Double]("idcg"))
      assert(idcg > 0.0, "ideal ranking of a non-empty truth set")
      assert(dcg >= 0.0 && dcg <= idcg + 1e-9,
        "graded gain cannot beat the ideal ordering")
      val ndcg = r.getAs[Double]("ndcg")
      assert(ndcg >= 0.0 && ndcg <= 1.0)
      val rr = r.getAs[Double]("rr")
      assert(rr == 0.0 || (rr >= 1.0 / 10 - 1e-9 && rr <= 1.0),
        s"reciprocal rank out of band: $rr")
      // a query with zero gain must also have no first hit
      if (dcg == 0.0) assert(rr == 0.0)
      if (rr == 0.0) assert(dcg == 0.0)
    }
    // at sf0.001 the 2^8 LSH buckets are sparse enough that all five
    // queries may legitimately probe empty — the graded-zero contract
    // (exact spine retained, dcg = rr = 0) is exactly what the rows
    // above asserted; positive-gain behavior is pinned at the driver
    // gate (sf0.01: non-zero ndcg oracle-verified)
  }

  test("padding waste buckets: powers of two, doc and token conservation") {
    val rows = graft.ext.TextAnalysis.paddingWasteBuckets(spark, sf0001).collect()
    val docs = Tables.documents(spark, sf0001)
    assert(rows.map(_.getAs[Long]("n_docs")).sum == docs.count())
    rows.foreach { r =>
      val b = r.getAs[Long]("bucket")
      assert(b >= 1 && (b & (b - 1)) == 0, s"bucket $b not a power of two")
      val (real, padded) = (r.getAs[Long]("real_tokens"),
        r.getAs[Long]("padded_tokens"))
      assert(real <= padded, "padding never shrinks volume")
      assert(b == 1 || real * 2 > padded,
        "every doc in bucket b has > b/2 tokens, so waste < 1/2")
      val w = r.getAs[Double]("waste_frac")
      assert(w >= 0.0 && w < 1.0)
    }
  }

  test("two-tier CC: forced distributed tier produces the driver tier's labels, status names the tier") {
    import spark.implicits._
    // two components + a singleton-free chain: {1,2,3,4} via a chain
    // and {10,11} — labels must be the component min under BOTH tiers
    val edges = Seq((2L, 1L), (3L, 2L), (4L, 3L), (11L, 10L)).toDF("d1", "d2")
    val (dl, ds) = Dedup.componentLabels(spark, edges)
    assert(ds.tier == "driver-union-find" && ds.converged && ds.edges == 4)
    assert(ds.driverEdgeBudget == Dedup.driverCcEdgeBudget)
    // byte-derived budget: sane band on any test heap
    assert(Dedup.driverCcEdgeBudget >= 65536L
      && Dedup.driverCcEdgeBudget <= 32000000L)
    // a zero budget forces the distributed propagation tier on the
    // same (tiny) graph — labels must be IDENTICAL
    val (pl, ps) = Dedup.componentLabels(spark, edges, maxDriverEdges = 0L)
    assert(ps.tier == "distributed-propagation" && ps.converged)
    val dm = dl.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val pm = pl.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(dm == pm, s"tier disagreement: driver=$dm distributed=$pm")
    assert(dm == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L))
  }

  test("ANN index artifact: a fresh session reuses the stored index without retraining; stale vintage retrains") {
    val work = java.nio.file.Files.createTempDirectory("graft-ann-index")
    try {
      val path = s"$work/idx"
      // a "new session": the three ANN index memos are empty
      def resetIndexMemos(): Unit = Seq(Similarity.centroidMemo,
        Similarity.pqMemo, Similarity.baseCentroidMemo).foreach(_.reset())
      // first session: trains through the memos and writes the artifact
      resetIndexMemos()
      assert(!Similarity.annIndexLoadOrTrain(spark, sf0001, path),
        "no artifact yet - must train")
      val trainedCents = Similarity.kmeansCentroids(spark, sf0001)
      val t0 = Similarity.centroidTrainCount.get()
      val p0 = Similarity.pqTrainCount.get()
      // "second session": the memos are gone, the artifact is not
      resetIndexMemos()
      assert(Similarity.annIndexLoadOrTrain(spark, sf0001, path),
        "fresh artifact must be reused")
      assert(Similarity.centroidTrainCount.get() == t0
        && Similarity.pqTrainCount.get() == p0,
        "reuse path must not retrain")
      // loaded state is bit-identical to trained state
      assert(Similarity.kmeansCentroids(spark, sf0001) == trainedCents)
      // ...and the served query equals the memo path's answer
      val viaIndex = Similarity.annIvfIndexed(spark, sf0001).collect().toSeq
      val viaMemo = Similarity.annIvf(spark, sf0001).collect().toSeq
      assert(viaIndex == viaMemo)
      assert(Similarity.centroidTrainCount.get() == t0)
      // staleness: an artifact stamped with another vintage must NOT be
      // served — tamper the fingerprint and watch it retrain + rewrite
      val tampered = path + "_stale"
      spark.read.parquet(path)
        .withColumn("fingerprint", lit(0L))
        .write.mode("overwrite").parquet(tampered)
      resetIndexMemos()
      assert(!Similarity.annIndexLoadOrTrain(spark, sf0001, tampered),
        "stale artifact must be rejected")
      assert(Similarity.centroidTrainCount.get() == t0 + 1,
        "stale path must retrain")
      // the rewrite healed the artifact: next load reuses it
      resetIndexMemos()
      assert(Similarity.annIndexLoadOrTrain(spark, sf0001, tampered))
    } finally graft.streaming.BoundedReplay.deleteStaged(work)
  }

  test("near-dup edges artifact: consumers serve from the stored graph with zero LSH builds; stale vintage rebuilds") {
    Dedup.edgesArtifact.reset()
    val recompute = Dedup.lshVerifiedJaccard(spark, sf0001).collect().toSeq
    val b0 = Dedup.edgesBuildCount.get()
    // first touch of a reset artifact builds + persists exactly once
    val viaArtifact = Dedup.lshVerifiedFromArtifact(spark, sf0001)
      .collect().toSeq
    assert(Dedup.edgesBuildCount.get() == b0 + 1, "first touch builds once")
    assert(viaArtifact == recompute,
      "artifact-served pairs must equal the recompute bit-for-bit")
    // "second session": nothing is memoized in-session (every consumer
    // re-checks freshness from disk), so a fresh consumer chain is
    // indistinguishable from a new JVM — and must build ZERO LSH passes
    val b1 = Dedup.edgesBuildCount.get()
    Dedup.dedupKcore(spark, sf0001).collect()
    Dedup.thresholdSweep(spark, sf0001).collect()
    Dedup.duplicateGroups(spark, sf0001).collect()
    assert(Dedup.edgesBuildCount.get() == b1,
      "consumers must serve from the stored graph, not rebuild")
    // staleness: an artifact stamped with another vintage must be
    // rebuilt (and rewritten — the self-heal contract)
    val path = Dedup.edgesArtifactDefaultPath(sf0001)
    val tamperDir = path + ".tamper"
    spark.read.parquet(path).withColumn("fingerprint", lit(0L))
      .write.mode("overwrite").parquet(tamperDir)
    graft.streaming.BoundedReplay.deleteStaged(java.nio.file.Paths.get(path))
    assert(new java.io.File(tamperDir).renameTo(new java.io.File(path)))
    val b2 = Dedup.edgesBuildCount.get()
    assert(Dedup.lshVerifiedFromArtifact(spark, sf0001).collect().toSeq
      == recompute)
    assert(Dedup.edgesBuildCount.get() == b2 + 1,
      "stale artifact must rebuild")
    // healed: the rewrite restamped the current vintage — next consumer
    // loads without building
    Dedup.dedupCommunitiesLpa(spark, sf0001).collect()
    assert(Dedup.edgesBuildCount.get() == b2 + 1)
  }

  test("edges artifact: shared-banding keeper pairs equal banding the keeper corpus directly") {
    // the r12 build computes ONE full-corpus banding and derives the
    // keeper candidate set as a semi-join filter of it; this pins the
    // invariance that justifies the sharing — signatures and band keys
    // are per-doc, so filtering the banded frame to the keeper subset
    // yields exactly the pairs of banding that subset from scratch
    Dedup.edgesArtifact.reset()
    val shared = Dedup.verifiedPairsShared(spark, sf0001) // forces a build
      .select("d1", "d2", "est_jaccard").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val keeperW = org.apache.spark.sql.expressions.Window
      .partitionBy(md5(col("text")))
    val keepers = Tables.documents(spark, sf0001)
      .select(col("doc_id"), col("text"),
        min(col("doc_id")).over(keeperW).as("k"))
      .filter(col("doc_id") === col("k"))
      .select(col("doc_id"), col("text"))
    val direct = Dedup.minhashPairs(keepers, 0.0).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(shared == direct,
      "shared-banding candidate pairs must equal the direct keeper banding")
  }

  test("simhash: one-aggregate bit sums equal the per-bit definition") {
    // the r12 form computes the 32 bit-sums as constant-shift aggregate
    // columns in ONE hash aggregate; this pins it against the literal
    // definition (bit b set iff the ±1 sum over distinct-token hashes
    // is positive), computed here the slow per-bit way
    val perBit = Tables.documents(spark, sf0001)
      .select(col("doc_id"),
        explode(array_distinct(TextAnalysis.tokens(col("text")))).as("w"))
      .select(col("doc_id"),
        conv(substring(md5(col("w")), 1, 8), 16, 10).cast("long").as("h"))
      .select(col("doc_id"), col("h"),
        explode(sequence(lit(0), lit(Dedup.SimhashBits - 1))).as("b"))
      .groupBy("doc_id", "b")
      .agg(sum(floor(col("h") / pow(lit(2.0), col("b"))).cast("long")
        % 2L * 2L - 1L).as("s"))
      .groupBy("doc_id")
      .agg(sum(when(col("s") > 0, pow(lit(2.0), col("b")).cast("long"))
        .otherwise(0L)).as("simhash"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val got = Dedup.simhash(spark, sf0001)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == perBit, "single-aggregate simhash diverged from definition")
  }

  test("hashed trigram verify join equals the exact string-gram form") {
    // r13: the LSH verify joins intersect 64-bit xxhash64 gram
    // fingerprints instead of gram strings (WordNGramHashesExpr — the
    // collision-safety argument lives there). Pins (a) the kernel:
    // the emitted hash set IS the distinct string-gram set mapped
    // through xxhash64 (unicode, duplicate grams, sub-width and empty
    // docs), and (b) the operator: lshVerifiedJaccard's hashed
    // jaccard values equal the exact string-set recomputation (the
    // pre-r13 shape) on the fixture corpus — i.e. zero realized
    // collisions and identical set algebra.
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c a b c d"), (2L, "a b"), (3L, ""),
      (4L, "héllo wörld naïve héllo wörld naïve x"),
      (5L, "z z z z z")).toDF("doc_id", "text")
    val viaKernel = docs.select(col("doc_id"),
        graft.functions.WordNGramHashes(
          TextAnalysis.tokens(col("text")), 3).as("hs"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
    val viaStrings = docs.select(col("doc_id"),
        graft.functions.WordNGrams(
          TextAnalysis.tokens(col("text")), 3, distinct = true).as("gs"))
      .select(col("doc_id"), transform(col("gs"), g => xxhash64(g)).as("hs"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
    assert(viaKernel == viaStrings,
      "gram-hash kernel diverged from xxhash64 over the string grams")
    // doc 1: windows (a b c)(b c a)(c a b)(a b c dup)(b c d) → 4 distinct
    assert(viaKernel(1L).size == 4 && viaKernel(2L).isEmpty &&
      viaKernel(5L).size == 1, "distinct gram-set sizes off")

    val hashed = Dedup.lshVerifiedJaccard(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    // exact string-gram recomputation of the same verify join
    val keeperW = org.apache.spark.sql.expressions.Window
      .partitionBy(md5(col("text")))
    val keepers = Tables.documents(spark, sf0001)
      .select(col("doc_id"), col("text"),
        min(col("doc_id")).over(keeperW).as("k"))
      .filter(col("doc_id") === col("k"))
      .select(col("doc_id"), col("text"))
    val cands = Dedup.minhashPairs(keepers, Dedup.PairThreshold)
      .select(col("d1"), col("d2"))
    val grams = keepers.select(col("doc_id"),
      graft.functions.WordNGrams(
        TextAnalysis.tokens(col("text")), 3, distinct = true).as("grams"))
    val inter = size(array_intersect(col("g1"), col("g2")))
    val exact = cands
      .join(grams.select(col("doc_id").as("d1"), col("grams").as("g1")), Seq("d1"))
      .join(grams.select(col("doc_id").as("d2"), col("grams").as("g2")), Seq("d2"))
      .select(col("d1"), col("d2"),
        (inter.cast("double") /
          greatest(size(col("g1")) + size(col("g2")) - inter, lit(1)))
          .as("jaccard"))
      .filter(col("jaccard") >= 0.5)
      .orderBy("d1", "d2")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(hashed == exact,
      "hashed verify join diverged from the exact string-gram form")
  }

  test("community profile: keeper is the min member, removable tokens are consistent, communities match the LPA labels") {
    val prof = Dedup.dedupCommunityProfile(spark, sf0001).collect()
    assert(prof.nonEmpty)
    val lpa = Dedup.dedupCommunitiesLpa(spark, sf0001).collect()
    // same community structure as the oracled LPA lens
    val lpaSizes = lpa.groupBy(_.getAs[Long]("community"))
      .view.mapValues(_.length.toLong).toMap
    val profSizes = prof
      .map(r => r.getAs[Long]("community") -> r.getAs[Long]("n_members")).toMap
    assert(profSizes == lpaSizes, "profile communities must be LPA's")
    // keeper = min member id; excision keeps exactly the keeper's tokens
    val members = lpa.groupBy(_.getAs[Long]("community"))
      .view.mapValues(_.map(_.getAs[Long]("doc_id")).min).toMap
    prof.foreach { r =>
      val c = r.getAs[Long]("community")
      assert(r.getAs[Long]("rep") == members(c), s"rep of $c")
      val removable = r.getAs[Long]("removable_tokens")
      assert(removable >= 0 && removable < r.getAs[Long]("total_tokens"),
        s"removable bounds for $c")
      // cohesion only exists where internal edges do, and is a Jaccard
      if (r.getAs[Long]("n_edges") > 0) {
        val mj = r.getAs[Double]("mean_jaccard")
        assert(mj >= 0.5 && mj <= 1.0, s"mean jaccard of $c = $mj")
      } else assert(r.isNullAt(r.fieldIndex("mean_jaccard")))
    }
  }

  test("containment search: ranked per query, containment is a unit fraction, panel never retrieves itself") {
    val rows = Dedup.containmentSearch(spark, sf0001).collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getAs[Long]("query_doc")).foreach { case (q, rs) =>
      assert(q < Dedup.ContainmentPanelN)
      val byRk = rs.sortBy(_.getAs[Long]("rk"))
      assert(byRk.map(_.getAs[Long]("rk")).toSeq ==
        (1L to byRk.length).toSeq, s"dense ranks for $q")
      // ranked by inter desc (ties by base_id asc)
      val inters = byRk.map(_.getAs[Long]("inter")).toSeq
      assert(inters == inters.sortBy(-_), s"rank order for $q")
      byRk.foreach { r =>
        assert(r.getAs[Long]("base_id") >= Dedup.ContainmentPanelN)
        val cont = r.getAs[Double]("containment")
        assert(cont > 0.0 && cont <= 1.0, s"containment $cont")
      }
    }
  }

  test("span outliers: every span is a complete in-doc window and only window-covered docs report") {
    import spark.implicits._
    val rows = graft.ext.TextAnalysis
      .pplSpanOutliers(spark, sf0001,
        graft.ext.TextAnalysis.PplFixtureVocabV).collect()
    assert(rows.nonEmpty)
    val w = graft.ext.TextAnalysis.PplSpanW
    rows.foreach { r =>
      val n = r.getAs[Long]("n_tokens")
      val s = r.getAs[Int]("span_start")
      assert(n >= w, s"doc ${r.getAs[Long]("doc_id")} too short to report")
      assert(s >= 0 && s + w <= n, s"span [$s, ${s + w}) outside doc of $n")
      assert(r.getAs[Double]("span_ppl") > 0.0)
    }
    // docs below the window width must NOT report
    val docsBig = graft.Tables.documents(spark, sf0001)
      .select(col("doc_id"),
        size(graft.ext.TextAnalysis.tokens(col("text"))).as("n"))
      .filter(col("n") >= w).count()
    assert(rows.length.toLong == docsBig,
      s"${rows.length} reported vs $docsBig window-covered docs")
  }

  test("triangle orientation: degree order strips the hub's wedge set (star probe)") {
    import spark.implicits._
    val m = 200
    // star: hub 0 + spokes 1..m, canonical a<b. Hub holds the LOWEST
    // id — the adversarial case for id-orientation, which would hand
    // the hub all m·(m−1)/2 wedges
    val und = (1 to m).map(i => (0L, i.toLong)).toDF("a", "b")
    val outDeg = graft.ext.Graph.orientByDegree(und)
      .groupBy("s").agg(count(lit(1)).as("d")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // degree order points every edge INTO the hub: no out-edges there,
    // so zero wedges form at it — Σ C(outdeg, 2) = 0
    assert(!outDeg.contains(0L), s"hub kept out-edges: $outDeg")
    assert(outDeg.values.forall(_ == 1L))
    assert(outDeg.values.map(d => d * (d - 1) / 2).sum == 0L)
    // id order would put the whole quadratic wedge term on the hub
    val idWedges = und.groupBy("a").agg(count(lit(1)).as("d")).collect()
      .map(r => r.getLong(1)).map(d => d * (d - 1) / 2).sum
    assert(idWedges == m.toLong * (m - 1) / 2)
  }

  test("kcore converged flag: true at the fixture fixpoint, constant across rows") {
    val rows = Dedup.dedupKcore(spark, sf0001).collect()
    assert(rows.nonEmpty)
    val flags = rows.map(_.getAs[Boolean]("converged")).toSet
    // the 1-row verdict rides every row identically; ExtSpec's h-index
    // fixpoint test pins that KcoreIters HAS converged here, so the
    // emitted flag must agree
    assert(flags == Set(true),
      s"converged flag should be uniformly true at fixture scale: $flags")
  }
}
