package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.Tables

/** Counts-based learning primitives that a data-curation pipeline
  * actually trains IN the engine (no external ML runtime): a
  * multinomial naive-Bayes text classifier, a logistic probe by
  * unrolled gradient descent, and a kNN label-consistency audit over
  * the embedding column. Each is the in-warehouse form of a standard
  * quality tool: NB for source/language routing, the logistic probe
  * for "is this label linearly predictable from these features"
  * (leakage/shortcut detection), kNN agreement for embedding-space
  * label noise.
  *
  * Scale shapes: NB's model is vocabulary×classes (broadcast;
  * scoring is one join of the doc-term table against it). The
  * logistic probe touches the fact table once per unrolled step with
  * map-side-partial gradient sums (weights live in a 1-row broadcast
  * frame). The kNN audit scores pairs through the same heap-
  * bounded top-k as the similarity family (BoundedTopKAgg) — at corpus scale the
  * pair source swaps to the LSH/IVF candidate join (sim_ann_*); the
  * audit shape downstream of the candidate set is unchanged.
  *
  * Determinism: model probabilities are ratios of exact integer
  * counts; every ln() is rounded to 9 decimals at the term level and
  * summed via decimal casts; sigmoids are rounded to 6 (coarse
  * enough that a last-ulp exp() difference between engines cannot
  * flip the rounded value); every argmax ranks on rounded scores
  * with a total-order tiebreak. */
object Learn {

  private def dsum12(c: Column): Column =
    sum(c.cast(DecimalType(38, 12))).cast("double")

  // ── split-conformal prediction interval ──

  /** Conformal miscoverage level: the interval targets ≥ 90%. */
  val ConformalAlpha = 0.1

  /** Split-conformal prediction interval for the price~quantity
    * regression — the distribution-free calibration wrapper every
    * deployed predictor should ship with: fit on a TRAIN split,
    * score absolute residuals on a disjoint CALIBRATION split, and
    * take q̂ = the ⌈(n_cal+1)(1−α)⌉-th smallest calibration residual;
    * then ŷ ± q̂ covers a fresh point with probability ≥ 1−α by
    * exchangeability alone (Vovk et al.) — no Gaussian assumption, no
    * asymptotics, valid at ANY model quality (a bad model just gets a
    * wide honest interval). The train/cal split is the sampling
    * family's deterministic salted hash (even/odd), so membership is
    * reproducible, retry-safe, and oracle-reconstructible.
    *
    * Scale shape: the OLS fit is the [[graft.operators.Relational
    * .regressionQtyPrice]] sufficient-statistics aggregate (one
    * map-side-partial pass over train); residual scoring is a
    * projection against the broadcast 1-row coefficient frame; the
    * conformal quantile is the shared histogram-locate rank fetch —
    * nothing sorts the corpus. Coefficients are rounded (6) BEFORE
    * residual scoring so both engines walk identical doubles into the
    * rank order. */
  def conformalPriceInterval(spark: SparkSession, dir: String): DataFrame = {
    def dsum2(c: Column): Column =
      sum(c.cast(DecimalType(18, 2))).cast("double")
    def dsum4(c: Column): Column =
      sum(c.cast(DecimalType(27, 4))).cast("double")
    val li = Tables.lineitem(spark, dir)
      .select(concat_ws("-", col("l_orderkey"), col("l_linenumber")).as("id"),
        col("l_quantity").as("x"), col("l_extendedprice").as("y"))
      .withColumn("is_cal", pmod(Sampling.sampleHash(col("id")), lit(2)) === 1)
    val slopeRaw = (col("n") * col("sxy") - col("sx") * col("sy")) /
      (col("n") * col("sxx") - col("sx") * col("sx"))
    val coef = li.filter(!col("is_cal"))
      .agg(count(lit(1)).cast("double").as("n"),
        dsum2(col("x")).as("sx"), dsum2(col("y")).as("sy"),
        dsum4(col("x") * col("x")).as("sxx"),
        dsum4(col("x") * col("y")).as("sxy"))
      .select(col("n").cast("long").as("n_train"),
        round(slopeRaw, 6).as("slope"),
        round((col("sy") - slopeRaw * col("sx")) / col("n"), 6).as("intercept"))
      .localCheckpoint() // 1 row; residuals + report both read it
    // checkpointed: the residual projection (a fact scan + per-row md5
    // split hash) feeds the count, the rank fetch AND the coverage
    // pass — three independent consumers that each re-paid the
    // scan+digest (exchange reuse only dedupes within the fetch).
    // One eager materialization (|cal| single-double rows) serves all.
    val res = li.filter(col("is_cal"))
      .crossJoin(broadcast(coef))
      .select(round(abs(col("y") -
        (col("intercept") + col("slope") * col("x"))), 6).as("r"))
      .localCheckpoint()
    val nc = res.agg(count(lit(1)).as("n_cal"))
    val ranks = nc.select(lit("cal").as("g"),
      least(ceil((col("n_cal") + 1) * (1 - ConformalAlpha)).cast("long"),
        col("n_cal")).as("rk")).localCheckpoint()
    val qhat = graft.operators.Relational.valuesAtGroupRanks(
        res.select(lit("cal").as("g"), col("r").as("v")), ranks)
      .select(col("v").as("qhat"))
    val cov = res.crossJoin(broadcast(qhat))
      .agg(round(sum(when(col("r") <= col("qhat"), 1L).otherwise(0L))
        .cast("double") / count(lit(1)), 6).as("cal_coverage"))
    coef.crossJoin(broadcast(nc)).crossJoin(broadcast(qhat))
      .crossJoin(broadcast(cov))
      .select(col("n_train"), col("n_cal"), col("slope"), col("intercept"),
        col("qhat"), col("cal_coverage"),
        lit(1 - ConformalAlpha).as("target_coverage"))
  }

  def conformalPriceIntervalOracle: String =
    s"""WITH d AS (SELECT
       |    ${Sampling.sampleHashSql("concat_ws('-', l_orderkey, l_linenumber)")}
       |      % 2 = 1 AS is_cal,
       |    l_quantity AS x, l_extendedprice AS y FROM lineitem),
       |tr AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n,
       |    CAST(SUM(CAST(x AS DECIMAL(18,2))) AS DOUBLE) AS sx,
       |    CAST(SUM(CAST(y AS DECIMAL(18,2))) AS DOUBLE) AS sy,
       |    CAST(SUM(CAST(x*x AS DECIMAL(27,4))) AS DOUBLE) AS sxx,
       |    CAST(SUM(CAST(x*y AS DECIMAL(27,4))) AS DOUBLE) AS sxy
       |  FROM d WHERE NOT is_cal),
       |cf AS (SELECT CAST(n AS BIGINT) AS n_train,
       |    round((n*sxy - sx*sy) / (n*sxx - sx*sx), 6) AS slope,
       |    round((sy - ((n*sxy - sx*sy) / (n*sxx - sx*sx)) * sx) / n, 6)
       |      AS intercept
       |  FROM tr),
       |res AS (SELECT round(abs(y - (cf.intercept + cf.slope * x)), 6) AS r
       |  FROM d, cf WHERE is_cal),
       |nc AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_cal FROM res),
       |kk AS (SELECT least(CAST(ceil((n_cal + 1) * ${1 - ConformalAlpha})
       |    AS BIGINT), n_cal) AS k FROM nc),
       |rv AS (SELECT r, row_number() OVER (ORDER BY r) AS rk FROM res),
       |q AS (SELECT rv.r AS qhat FROM rv, kk WHERE rv.rk = kk.k),
       |cov AS (SELECT round(CAST(SUM(CASE WHEN res.r <= q.qhat
       |      THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*), 6) AS cal_coverage
       |  FROM res, q)
       |SELECT cf.n_train, nc.n_cal, cf.slope, cf.intercept, q.qhat,
       |  cov.cal_coverage,
       |  CAST(${1 - ConformalAlpha} AS DOUBLE) AS target_coverage
       |FROM cf, nc, q, cov""".stripMargin

  // ── multinomial naive Bayes: lang from tokens ──

  /** Train a multinomial NB classifier for `lang` over document
    * tokens and report the resubstitution confusion matrix plus
    * overall accuracy. Add-1 smoothing over the global vocabulary;
    * per-class token log-likelihoods and log-priors are rounded to 9;
    * per-doc class scores are exact decimal sums of tf-weighted
    * rounded terms, rounded to 6 before the argmax (tiebreak:
    * lexicographically smallest lang). */
  def nbLangConfusion(spark: SparkSession, dir: String): DataFrame = {
    val tf = Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), explode(TextAnalysis.tokens(col("text"))).as("tok"))
      .groupBy("doc_id", "lang", "tok").agg(count(lit(1)).as("tf"))
      .localCheckpoint() // model build + scoring both read it
    val classTok = tf.groupBy("lang", "tok").agg(sum("tf").as("c"))
    val classTot = classTok.groupBy("lang").agg(sum("c").as("ct"))
    val vocab = tf.select("tok").distinct()
    val vsize = vocab.agg(count(lit(1)).as("v"))
    val priors = tf.select("doc_id", "lang").distinct()
      .groupBy("lang").agg(count(lit(1)).as("nd"))
    val ndTot = priors.agg(sum("nd").as("ndt"))
    // dense model: every (class, vocab token) cell, smoothed — classes
    // × vocab rows, broadcast to the scorers
    val model = vocab.crossJoin(broadcast(classTot))
      .join(classTok, Seq("lang", "tok"), "left")
      .crossJoin(broadcast(vsize))
      .select(col("lang").as("m_lang"), col("tok"),
        round(log((coalesce(col("c"), lit(0L)) + 1).cast("double") /
          (col("ct") + col("v")).cast("double")), 9).as("logp"))
    val prior = priors.crossJoin(broadcast(ndTot))
      .select(col("lang").as("m_lang"),
        round(log(col("nd").cast("double") / col("ndt").cast("double")), 9)
          .as("logprior"))
    // NO forced hint on the model join: the dense model is
    // |lang| × |vocab| — vocabulary-sized, so the build grows with the
    // corpus; AQE size-drives the broadcast at fixture scale and
    // re-plans to a shuffle join when a real vocabulary outgrows it
    // (the KL/LPA/q2 hint-drop precedent)
    val scores = tf.join(model, Seq("tok"))
      .groupBy("doc_id", "lang", "m_lang")
      .agg(dsum12(col("tf").cast("double") * col("logp")).as("ll"))
      .join(broadcast(prior), Seq("m_lang"))
      .select(col("doc_id"), col("lang"),  col("m_lang"),
        round(col("ll") + col("logprior"), 6).as("score"))
    val wDoc = Window.partitionBy("doc_id")
      .orderBy(col("score").desc, col("m_lang"))
    val pred = scores.withColumn("rk", row_number().over(wDoc))
      .filter(col("rk") === 1)
      .select(col("doc_id"), col("lang").as("actual_lang"),
        col("m_lang").as("predicted_lang"))
    val acc = pred.agg(
        (sum(when(col("actual_lang") === col("predicted_lang"), 1L)
          .otherwise(0L)).cast("double") / count(lit(1))).as("a"))
      .select(round(col("a"), 6).as("accuracy"))
    pred.groupBy("actual_lang", "predicted_lang")
      .agg(count(lit(1)).as("n_docs"))
      .crossJoin(broadcast(acc))
      .orderBy("actual_lang", "predicted_lang")
  }

  def nbLangConfusionOracle: String =
    s"""WITH tf AS (SELECT doc_id, lang, tok, CAST(COUNT(*) AS BIGINT) AS tf
       |  FROM (SELECT doc_id, lang, unnest(ws) AS tok
       |        FROM (SELECT doc_id, lang, ${TextAnalysis.tokensSql} AS ws
       |              FROM documents) t) u
       |  GROUP BY doc_id, lang, tok),
       |ctok AS (SELECT lang, tok, CAST(SUM(tf) AS BIGINT) AS c FROM tf
       |  GROUP BY lang, tok),
       |ctot AS (SELECT lang, CAST(SUM(c) AS BIGINT) AS ct FROM ctok
       |  GROUP BY lang),
       |vocab AS (SELECT DISTINCT tok FROM tf),
       |vs AS (SELECT CAST(COUNT(*) AS BIGINT) AS v FROM vocab),
       |pri0 AS (SELECT lang, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS nd
       |  FROM tf GROUP BY lang),
       |ndt AS (SELECT CAST(SUM(nd) AS BIGINT) AS ndt FROM pri0),
       |model AS (SELECT ctot.lang AS m_lang, vocab.tok,
       |    round(ln(CAST(COALESCE(ctok.c, 0) + 1 AS DOUBLE) /
       |      CAST(ctot.ct + vs.v AS DOUBLE)), 9) AS logp
       |  FROM vocab CROSS JOIN ctot
       |  LEFT JOIN ctok ON ctok.lang = ctot.lang AND ctok.tok = vocab.tok,
       |  vs),
       |prior AS (SELECT lang AS m_lang,
       |    round(ln(CAST(nd AS DOUBLE) / CAST(ndt.ndt AS DOUBLE)), 9)
       |      AS logprior FROM pri0, ndt),
       |scores AS (SELECT tf.doc_id, tf.lang, m.m_lang,
       |    round(CAST(SUM(CAST(CAST(tf.tf AS DOUBLE) * m.logp
       |        AS DECIMAL(38,12))) AS DOUBLE) + MIN(p.logprior), 6) AS score
       |  FROM tf JOIN model m USING (tok)
       |  JOIN prior p ON p.m_lang = m.m_lang
       |  GROUP BY tf.doc_id, tf.lang, m.m_lang),
       |pred AS (SELECT doc_id, lang AS actual_lang, m_lang AS predicted_lang
       |  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
       |      ORDER BY score DESC, m_lang) AS rk FROM scores) r
       |  WHERE rk = 1),
       |acc AS (SELECT round(CAST(SUM(CASE WHEN actual_lang = predicted_lang
       |      THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*), 6) AS accuracy
       |  FROM pred)
       |SELECT actual_lang, predicted_lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |  MIN(acc.accuracy) AS accuracy
       |FROM pred, acc GROUP BY actual_lang, predicted_lang
       |ORDER BY actual_lang, predicted_lang""".stripMargin

  // ── logistic probe by unrolled gradient descent ──

  val LogitSteps = 3
  val LogitLr = 1.0

  /** Logistic-regression probe: can (quantity, discount) linearly
    * predict returnflag='R'? Three unrolled full-batch GD steps on
    * standardized features from a zero start; emits the weight path's
    * final step plus train log-loss and accuracy-at-0.5. On the
    * synthetic fixture labels are independent of the features, so
    * the probe's verdict is "no signal" (loss ≈ ln 2) — which is
    * exactly what a leakage audit wants to see; the mechanics (exact
    * standardization, broadcast weight vector, map-side partial
    * gradient sums, one fact-table pass per step) are the product.
    * Sigmoids round to 6 before use (see header). */
  def logisticReturns(spark: SparkSession, dir: String): DataFrame = {
    val fin = logitScored(spark, dir)
    fin.agg(count(lit(1)).as("n_rows"),
        first(col("w0")).as("wi"), first(col("w1")).as("wq"),
        first(col("w2")).as("wd"),
        dsum12(-round(
          when(col("y") === 1.0, log(col("s"))).otherwise(log(lit(1.0) - col("s"))),
          6)).as("nll"),
        sum(when((col("s") >= 0.5) === (col("y") === 1.0), 1L).otherwise(0L))
          .as("n_correct"))
      .select(col("n_rows"), round(col("wi"), 6).as("w_intercept"),
        round(col("wq"), 6).as("w_quantity"), round(col("wd"), 6).as("w_discount"),
        round(col("nll") / col("n_rows"), 6).as("log_loss"),
        round(col("n_correct").cast("double") / col("n_rows"), 6).as("accuracy"))
  }

  /** GD TRAINING-set bound — the [[graft.ext.Similarity
    * .TrainSampleCap]] recipe applied to the logistic probe: gradient
    * steps refine weights on a deterministic hash-thresholded sample
    * of ~this many rows (keep iff the row's salted 32-bit hash <
    * 2³²/⌊n/cap⌋ — engine-mirrorable integer arithmetic, and a TRUE
    * 1/stride rate on any key distribution, where a modulo on the
    * sparse business key would not be), while standardization
    * statistics and the final scoring/NLL pass still read the FULL
    * corpus. Without the bound, cold training materializes the whole
    * standardized fact table into a localCheckpoint and scans it
    * three times — probed 23.9× at 100× data, the same
    * full-corpus-training failure mode IVF and PQ already fixed.
    * Below the cap the stride is 1, the threshold is the whole hash
    * range, and training is exact-corpus — gate-scale results are
    * unchanged. */
  val LogitTrainCap = 32768L

  /** Standardization statistics — (n, m1, m2, s1, s2), ONE corpus
    * aggregation collected to the driver. Collecting rather than
    * broadcasting means every downstream standardized frame is a PURE
    * PROJECTION over the raw scan (literal means/σ — bit-identical to
    * the broadcast form, a double survives the literal roundtrip
    * exactly), so neither training nor scoring re-pays the decimal
    * stats aggregation. */
  private def logitStatsRow(spark: SparkSession,
                            dir: String): (Long, Double, Double, Double, Double) = {
    val raw = logitRaw(spark, dir)
    val r = raw.agg(count(lit(1)).as("n"),
        (sum(col("f1").cast(DecimalType(18, 2))).cast("double") / count(lit(1))).as("m1"),
        (sum(col("f2").cast(DecimalType(18, 2))).cast("double") / count(lit(1))).as("m2"),
        dsum12(col("f1") * col("f1")).as("q1"), dsum12(col("f2") * col("f2")).as("q2"))
      .select(col("n"), col("m1"), col("m2"),
        sqrt(col("q1") / col("n") - col("m1") * col("m1")).as("s1"),
        sqrt(col("q2") / col("n") - col("m2") * col("m2")).as("s2"))
      .first()
    (r.getLong(0), r.getDouble(1), r.getDouble(2), r.getDouble(3), r.getDouble(4))
  }

  /** Raw feature frame; `shash` is a 32-bit salted md5 of the
    * row-unique (orderkey, linenumber) key — the training sampler
    * thresholds it, so the sample rate is 1/stride REGARDLESS of key
    * distribution (a modulo on the sparse business key could select
    * 4× the cap, or nothing at all, depending on which residues the
    * key generator happens to emit). */
  private def logitRaw(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .select(conv(substring(md5(concat(lit("graft-logit-v1:"),
          col("l_orderkey").cast("string"), lit(":"),
          col("l_linenumber").cast("string"))), 1, 8), 16, 10)
          .cast("long").as("shash"),
        when(col("l_returnflag") === "R", 1.0).otherwise(0.0).as("y"),
        col("l_quantity").as("f1"), col("l_discount").as("f2"))

  /** Standardized feature frame (shash, y, x1, x2) under the collected
    * stats — a pure projection over the raw scan. */
  private def logitStandardized(spark: SparkSession, dir: String,
      st: (Long, Double, Double, Double, Double)): DataFrame = {
    val (_, m1, m2, s1, s2) = st
    logitRaw(spark, dir)
      .select(col("shash"), col("y"),
        ((col("f1") - lit(m1)) / lit(s1)).as("x1"),
        ((col("f2") - lit(m2)) / lit(s2)).as("x2"))
  }

  // the trained state shared by the probe and the calibration audit —
  // the collected stats row and the 3 trained doubles, one slot per
  // (session, corpus), the kmeansCentroids/pqCodebook memo discipline;
  // ScaleProbe resets it so probe timings stay honest cold runs
  // including the stats pass and training
  private def logitState(spark: SparkSession, dir: String)
      : ((Long, Double, Double, Double, Double), (Double, Double, Double)) =
    logitMemo.get(spark, dir)

  private[graft] val logitMemo = graft.SessionDirMemo[
      ((Long, Double, Double, Double, Double), (Double, Double, Double))](
      "logit_calibration_train_build") { (spark, dir) =>
      val st = logitStatsRow(spark, dir)
      // training reads the BOUNDED hash-thresholded sample
      // (LogitTrainCap; keep iff shash < 2³²/stride, stride literal
      // arithmetic off the collected count — rate exactly 1/stride,
      // whole threshold below stride 2 = gate-scale results
      // unchanged) — so the checkpoint materializes ~cap rows, never
      // the corpus. The repartition widens the tiny-by-bytes sample
      // across the session's cores (single-row-group fixture files
      // scan as ONE split; AQE would coalesce the sample back to one
      // partition and serialize every GD pass).
      val stride = math.max(1L, st._1 / LogitTrainCap)
      val x = logitStandardized(spark, dir, st)
        .filter(col("shash") < 4294967296L / stride)
        .repartition(spark.sparkContext.defaultParallelism)
        .localCheckpoint() // each unrolled step re-reads the training sample
      // the weight vector is 3 doubles of convergence state — collect it
      // per step (like kmeansCentroids' centroid matrix) and inline the
      // values as literals, so every GD step is exactly ONE scan of the
      // checkpointed sample; keeping the weights as a chained broadcast
      // frame nests each step's plan inside the next and re-executes the
      // earlier gradient aggregates at every broadcast. Driver rounding
      // uses the same BigDecimal HALF_UP scale-9 as Spark's round().
      def r9(v: Double): Double =
        BigDecimal(v).setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
      var (w0, w1, w2) = (0.0, 0.0, 0.0)
      for (_ <- 1 to LogitSteps) {
        val g = x
          .select(col("y"), col("x1"), col("x2"),
            round(lit(1.0) / (lit(1.0) +
              exp(-round(lit(w0) + lit(w1) * col("x1") + lit(w2) * col("x2"), 9))),
              6).as("s"))
          .agg(count(lit(1)).as("sn"),
            dsum12(col("y") - col("s")).as("g0"),
            dsum12((col("y") - col("s")) * col("x1")).as("g1"),
            dsum12((col("y") - col("s")) * col("x2")).as("g2"))
          .first()
        // an empty sample would surface as NULL sums and NaN weights
        // silently shared by TWO queries via the memo — fail loudly
        if (g.getLong(0) == 0L)
          throw new IllegalStateException(
            "logit training sample is empty — corpus has no rows?")
        // mean gradient over the TRAINING rows (== n below the cap)
        val n = g.getLong(0).toDouble
        w0 = r9(w0 + LogitLr * g.getDouble(1) / n)
        w1 = r9(w1 + LogitLr * g.getDouble(2) / n)
        w2 = r9(w2 + LogitLr * g.getDouble(3) / n)
      }
      (st, (w0, w1, w2))
    }

  /** Final-model scored frame (y, w0, w1, w2, s): ONE full-corpus
    * pure-projection scan under the collected stats and trained
    * weight literals — the output contract reads everything; only
    * training is sample-bounded. */
  private def logitScored(spark: SparkSession, dir: String): DataFrame = {
    val (st, (w0, w1, w2)) = logitState(spark, dir)
    logitStandardized(spark, dir, st)
      .select(col("y"), lit(w0).as("w0"), lit(w1).as("w1"), lit(w2).as("w2"),
        round(lit(1.0) / (lit(1.0) +
          exp(-round(lit(w0) + lit(w1) * col("x1") + lit(w2) * col("x2"), 9))),
          6).as("s"))
  }

  /** Shared oracle CTE chain through `fin` (the final-model scored
    * frame) — mirrors [[logitState]]/[[logitScored]] step for step;
    * [[logisticReturnsOracle]] and [[calibrationBinsOracle]] both
    * aggregate over it. */
  private def logitFinCtes: String = {
    def step(k: Int): String =
      s"""g$k AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
         |    CAST(SUM(CAST(y - s AS DECIMAL(38,12))) AS DOUBLE) AS g0,
         |    CAST(SUM(CAST((y - s) * x1 AS DECIMAL(38,12))) AS DOUBLE) AS g1,
         |    CAST(SUM(CAST((y - s) * x2 AS DECIMAL(38,12))) AS DOUBLE) AS g2
         |  FROM (SELECT y, x1, x2,
         |      round(1.0 / (1.0 + exp(-round(w.w0 + w.w1 * x1 + w.w2 * x2, 9))), 6) AS s
         |    FROM xs, w${k - 1} w) x),
         |w$k AS (SELECT round(w.w0 + $LogitLr * g.g0 / g.n, 9) AS w0,
         |    round(w.w1 + $LogitLr * g.g1 / g.n, 9) AS w1,
         |    round(w.w2 + $LogitLr * g.g2 / g.n, 9) AS w2
         |  FROM w${k - 1} w, g$k g)""".stripMargin
    s"""raw AS (SELECT
       |      CAST(concat('0x', substr(md5('graft-logit-v1:' ||
       |        CAST(l_orderkey AS VARCHAR) || ':' ||
       |        CAST(l_linenumber AS VARCHAR)), 1, 8)) AS BIGINT) AS shash,
       |      CASE WHEN l_returnflag = 'R' THEN 1.0 ELSE 0.0 END
       |      AS y, l_quantity AS f1, l_discount AS f2 FROM lineitem),
       |st AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
       |    CAST(SUM(CAST(f1 AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS m1,
       |    CAST(SUM(CAST(f2 AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS m2,
       |    CAST(SUM(CAST(f1 * f1 AS DECIMAL(38,12))) AS DOUBLE) AS q1,
       |    CAST(SUM(CAST(f2 * f2 AS DECIMAL(38,12))) AS DOUBLE) AS q2
       |  FROM raw),
       |sd AS (SELECT n, m1, m2, sqrt(q1 / n - m1 * m1) AS s1,
       |    sqrt(q2 / n - m2 * m2) AS s2 FROM st),
       |x AS (SELECT shash, y, (f1 - m1) / s1 AS x1, (f2 - m2) / s2 AS x2, n
       |  FROM raw, sd),
       |xs AS (SELECT * FROM x
       |  WHERE shash < 4294967296 // GREATEST(1, n // $LogitTrainCap)),
       |w0 (w0, w1, w2) AS (VALUES (CAST(0.0 AS DOUBLE), CAST(0.0 AS DOUBLE),
       |    CAST(0.0 AS DOUBLE))),
       |${(1 to LogitSteps).map(step).mkString(",\n")},
       |fin AS (SELECT y,
       |    round(1.0 / (1.0 + exp(-round(w.w0 + w.w1 * x1 + w.w2 * x2, 9))), 6)
       |      AS s, w.w0 AS wi, w.w1 AS wq, w.w2 AS wd
       |  FROM x, w$LogitSteps w)""".stripMargin
  }

  def logisticReturnsOracle: String =
    s"""WITH $logitFinCtes
       |SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
       |  round(MIN(wi), 6) AS w_intercept, round(MIN(wq), 6) AS w_quantity,
       |  round(MIN(wd), 6) AS w_discount,
       |  round(CAST(SUM(CAST(-round(CASE WHEN y = 1.0 THEN ln(s)
       |      ELSE ln(1.0 - s) END, 6) AS DECIMAL(38,12))) AS DOUBLE)
       |    / COUNT(*), 6) AS log_loss,
       |  round(CAST(SUM(CASE WHEN (s >= 0.5) = (y = 1.0) THEN 1 ELSE 0 END)
       |      AS DOUBLE) / COUNT(*), 6) AS accuracy
       |FROM fin""".stripMargin

  // ── calibration: is the probe's probability a probability? ──

  val CalibBins = 10

  /** Reliability diagram + expected calibration error for the trained
    * logistic probe — the audit that decides whether a model score
    * can gate data (a threshold on a mis-calibrated score silently
    * shifts the mix). Predictions bucket into [[CalibBins]] fixed
    * probability bins; per bin: count, mean predicted probability,
    * observed positive rate, |gap|; ECE = Σ (nᵢ/N)·gapᵢ and the Brier
    * score ride on every row. Training is shared with
    * [[logisticReturns]] via the weight memo (one trained model, two
    * audits); the calibration pass itself is ONE scan of the scored
    * frame into a 10-row conditional aggregate — at 100 TB the cost
    * is the scan, the report is constant-size. Empty bins densify
    * from the bin grid with NULL means (their ECE term is zero). Gap
    * and ECE terms round before the decimal sum (ln/exp discipline,
    * see header). */
  def calibrationBins(spark: SparkSession, dir: String): DataFrame = {
    val scored = logitScored(spark, dir)
    val counts = scored
      .select(least(floor(col("s") * CalibBins), lit(CalibBins - 1L))
          .cast("long").as("bin"),
        col("y"), col("s"))
      .groupBy("bin")
      .agg(count(lit(1)).as("n_preds"),
        dsum12(col("s")).as("sum_s"), dsum12(col("y")).as("sum_y"),
        dsum12((col("s") - col("y")) * (col("s") - col("y"))).as("sum_sq"))
    val bins = spark.range(CalibBins).select(col("id").as("bin"))
      .join(counts, Seq("bin"), "left")
      .select(col("bin"), coalesce(col("n_preds"), lit(0L)).as("n_preds"),
        round(col("sum_s") / col("n_preds"), 6).as("avg_pred"),
        round(col("sum_y") / col("n_preds"), 6).as("frac_pos"),
        // 9-dp grid before the second decimal cast: the exact 12-dp
        // bin sum is ambiguous at digit 12 once it has passed through
        // a double, a 9-dp value is not
        round(col("sum_sq"), 9).as("sum_sq"))
      .withColumn("gap",
        round(abs(col("avg_pred") - col("frac_pos")), 6))
    val tot = bins.agg(
        sum(col("n_preds")).as("n_total"),
        sum(col("sum_sq").cast(DecimalType(38, 12))).cast("double").as("sq"),
        sum(when(col("n_preds") > 0,
            round(col("gap") * col("n_preds"), 9)).otherwise(lit(0.0))
          .cast(DecimalType(38, 12))).cast("double").as("wgap"))
      .select(round(col("wgap") / col("n_total"), 6).as("ece"),
        round(col("sq") / col("n_total"), 6).as("brier"))
    bins.crossJoin(broadcast(tot))
      .select(col("bin"), col("n_preds"), col("avg_pred"), col("frac_pos"),
        col("gap"), col("ece"), col("brier"))
      .orderBy("bin")
  }

  def calibrationBinsOracle: String =
    s"""WITH $logitFinCtes,
       |counts AS (SELECT
       |    CAST(LEAST(FLOOR(s * $CalibBins), ${CalibBins - 1}) AS BIGINT) AS bin,
       |    CAST(COUNT(*) AS BIGINT) AS n_preds,
       |    CAST(SUM(CAST(s AS DECIMAL(38,12))) AS DOUBLE) AS sum_s,
       |    CAST(SUM(CAST(y AS DECIMAL(38,12))) AS DOUBLE) AS sum_y,
       |    CAST(SUM(CAST((s - y) * (s - y) AS DECIMAL(38,12))) AS DOUBLE) AS sum_sq
       |  FROM fin GROUP BY 1),
       |bins AS (SELECT r.range AS bin,
       |    COALESCE(n_preds, 0) AS n_preds,
       |    round(sum_s / n_preds, 6) AS avg_pred,
       |    round(sum_y / n_preds, 6) AS frac_pos,
       |    round(abs(round(sum_s / n_preds, 6) - round(sum_y / n_preds, 6)), 6)
       |      AS gap,
       |    round(sum_sq, 9) AS sum_sq
       |  FROM range($CalibBins) r LEFT JOIN counts ON counts.bin = r.range),
       |tot AS (SELECT
       |    round(CAST(SUM(CAST(CASE WHEN n_preds > 0
       |        THEN round(gap * n_preds, 9) ELSE 0.0 END AS DECIMAL(38,12)))
       |      AS DOUBLE) / SUM(n_preds), 6) AS ece,
       |    round(CAST(SUM(CAST(sum_sq AS DECIMAL(38,12))) AS DOUBLE)
       |      / SUM(n_preds), 6) AS brier
       |  FROM bins)
       |SELECT b.bin, b.n_preds, b.avg_pred, b.frac_pos, b.gap, tot.ece, tot.brier
       |FROM bins b, tot ORDER BY b.bin""".stripMargin

  /** ROC AUC of l_discount as a predictor of returns — the
    * rank-statistic companion to [[calibrationBins]] (calibration)
    * and [[logisticReturns]] (fit): AUC = P(score of a random
    * positive > score of a random negative), computed in the ONLY
    * form that scales — the score-HISTOGRAM Mann-Whitney identity,
    * never a per-row rank. One map-side-partial aggregate collapses
    * the fact scan to one row per DISTINCT score (the value domain —
    * 11 discount levels here, bounded at any corpus), cumulative
    * counts run over that bounded frame (declared via BoundedWindow),
    * and ties get the exact midrank (c+1)/2 — the textbook correction
    * a naive row_number rank silently botches. U = Σ_pos midrank −
    * n⁺(n⁺+1)/2, AUC = U/(n⁺·n⁻). Midranks are integers-or-halves so
    * the decimal sums are exact; AUC ≈ 0.5 on this fixture is the
    * honest answer (discount doesn't predict returns) — the query
    * exists for its shape, the rank-sum plan any real score column
    * reuses. */
  def aucReturns(spark: SparkSession, dir: String): DataFrame = {
    val h = Tables.lineitem(spark, dir)
      .select(col("l_discount").cast("double").as("score"),
        when(col("l_returnflag") === "R", 1.0).otherwise(0.0).as("pos"))
      .groupBy("score")
      .agg(count(lit(1)).cast("double").as("c"), sum(col("pos")).as("p"))
    val w = graft.BoundedWindow.orderBy(col("score"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val ranked = h
      .withColumn("cum", coalesce(sum(col("c")).over(w), lit(0.0)))
      .select(col("c"), col("p"),
        (col("cum") + (col("c") + 1) / 2).as("midrank"))
    ranked
      .agg(sum(col("p").cast(DecimalType(38, 1))).cast("double").as("npos"),
        sum((col("c") - col("p")).cast(DecimalType(38, 1))).cast("double")
          .as("nneg"),
        sum((col("p") * col("midrank")).cast(DecimalType(38, 1)))
          .cast("double").as("usum"))
      .select(col("npos").cast("long").as("n_pos"),
        col("nneg").cast("long").as("n_neg"),
        // degenerate-slice guard: a corpus with one class has no rank
        // statistic — report NULL, never NaN/divide-by-zero (the cos6
        // zero-norm discipline)
        when(col("npos") * col("nneg") > 0,
          round((col("usum") - col("npos") * (col("npos") + 1) / 2)
            / (col("npos") * col("nneg")), 6)).as("auc"))
  }

  def aucReturnsOracle: String =
    """WITH h AS (SELECT CAST(l_discount AS DOUBLE) AS score,
      |    CAST(COUNT(*) AS DOUBLE) AS c,
      |    CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1.0 ELSE 0.0 END)
      |      AS DOUBLE) AS p
      |  FROM lineitem GROUP BY 1),
      |r AS (SELECT c, p,
      |    COALESCE(SUM(c) OVER (ORDER BY score
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |      + (c + 1) / 2 AS midrank
      |  FROM h),
      |s AS (SELECT
      |    CAST(SUM(CAST(p AS DECIMAL(38,1))) AS DOUBLE) AS npos,
      |    CAST(SUM(CAST(c - p AS DECIMAL(38,1))) AS DOUBLE) AS nneg,
      |    CAST(SUM(CAST(p * midrank AS DECIMAL(38,1))) AS DOUBLE) AS usum
      |  FROM r)
      |SELECT CAST(npos AS BIGINT) AS n_pos, CAST(nneg AS BIGINT) AS n_neg,
      |  CASE WHEN npos * nneg > 0
      |    THEN round((usum - npos * (npos + 1) / 2) / (npos * nneg), 6)
      |  END AS auc
      |FROM s""".stripMargin

  // ── kNN label-consistency audit over embeddings ──

  val KnnK = 10

  /** For every embedding, the majority label among its 10 nearest
    * cosine neighbors (self excluded) versus its own label — the
    * embedding-space label-noise report (a vector whose neighborhood
    * votes differently is a mislabel or a boundary case). Pairwise
    * scoring here is the exact all-pairs baseline; the candidate
    * source swaps to the LSH/IVF join at corpus scale. Majority vote
    * ranks (count desc, label asc) — integer counts, no rounding
    * hazard; cosine rounds to 6 with neighbor-id tiebreak exactly
    * like the similarity family. */
  def knnLabelAudit(spark: SparkSession, dir: String): DataFrame = {
    val e = Similarity.embeddingsD(spark, dir)
      .select(col("vec_id"), col("label"), col("v"),
        Similarity.norm(col("v")).as("nrm"))
    val q = e.select(col("vec_id").as("query_id"), col("label").as("q_label"),
      col("v").as("qv"), col("nrm").as("qn"))
    val scored = Similarity.spread(e)
      .join(broadcast(q), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("q_label"), col("vec_id").as("neighbor_id"),
        col("label").as("n_label"),
        Similarity.cos6(Similarity.dot(col("qv"), col("v")), col("qn"), col("nrm"))
          .as("cos_sim"))
    // bounded heap top-k (see Similarity.topKPerQuery): map-side O(k)
    // partials, no window sort of the scored scan
    val top = Similarity.topKPerQuery(scored, KnnK)
    val votes = top.groupBy("query_id", "q_label", "n_label")
      .agg(count(lit(1)).as("cnt"))
    val wVote = Window.partitionBy("query_id")
      .orderBy(col("cnt").desc, col("n_label"))
    val pred = votes.withColumn("vrk", row_number().over(wVote))
      .filter(col("vrk") === 1)
      .select(col("query_id"), col("q_label").as("actual_label"),
        col("n_label").as("predicted_label"), col("cnt").as("votes"))
    val agree = pred.agg(round(
        sum(when(col("actual_label") === col("predicted_label"), 1L)
          .otherwise(0L)).cast("double") / count(lit(1)), 6).as("agreement"))
    pred.groupBy("actual_label", "predicted_label")
      .agg(count(lit(1)).as("n_vecs"),
        round(avg(col("votes").cast("double")), 6).as("avg_votes"))
      .crossJoin(broadcast(agree))
      .orderBy("actual_label", "predicted_label")
  }

  def knnLabelAuditOracle: String =
    s"""WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
       |  FROM embeddings),
       |n AS (SELECT vec_id, label, v, sqrt(list_dot_product(v, v)) AS nrm
       |  FROM e),
       |scored AS (SELECT q.vec_id AS query_id, q.label AS q_label,
       |    e.vec_id AS neighbor_id, e.label AS n_label,
       |    round(list_dot_product(q.v, e.v) / (q.nrm * e.nrm), 6) AS cos_sim
       |  FROM n q JOIN n e ON e.vec_id <> q.vec_id),
       |top AS (SELECT * FROM (SELECT *, ROW_NUMBER() OVER (
       |      PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rk
       |    FROM scored) r WHERE rk <= $KnnK),
       |votes AS (SELECT query_id, q_label, n_label,
       |    CAST(COUNT(*) AS BIGINT) AS cnt
       |  FROM top GROUP BY query_id, q_label, n_label),
       |pred AS (SELECT query_id, q_label AS actual_label,
       |    n_label AS predicted_label, cnt AS votes
       |  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
       |      ORDER BY cnt DESC, n_label) AS vrk FROM votes) r
       |  WHERE vrk = 1),
       |agree AS (SELECT round(CAST(SUM(CASE WHEN actual_label =
       |      predicted_label THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*), 6)
       |    AS agreement FROM pred)
       |SELECT actual_label, predicted_label, CAST(COUNT(*) AS BIGINT) AS n_vecs,
       |  round(AVG(CAST(votes AS DOUBLE)), 6) AS avg_votes,
       |  MIN(agree.agreement) AS agreement
       |FROM pred, agree GROUP BY actual_label, predicted_label
       |ORDER BY actual_label, predicted_label""".stripMargin

  /** [[knnLabelAudit]] with the candidate source swapped from
    * all-pairs to the IVF probe join ([[Similarity.annMiningCandidates]]
    * — O(n^1.5) candidates with the √-scaled list count), plus the
    * panel-bounded exact audit the mining twins share:
    * `panel_pred_match` is the fraction of audited anchors
    * (vec_id < [[Similarity.MiningAuditPanel]]) whose ANN-voted
    * predicted label equals the exact-kNN vote. Vote and confusion
    * semantics are identical to the exact query; anchors with no
    * candidate in their probed lists simply cast no vote. */
  def knnAuditAnn(spark: SparkSession, dir: String): DataFrame = {
    val assign = Similarity.withAssignments(spark, dir).localCheckpoint()
    def pred(top: DataFrame): DataFrame = {
      val votes = top.groupBy("query_id", "q_label", "n_label")
        .agg(count(lit(1)).as("cnt"))
      val wVote = Window.partitionBy("query_id")
        .orderBy(col("cnt").desc, col("n_label"))
      votes.withColumn("vrk", row_number().over(wVote))
        .filter(col("vrk") === 1)
        .select(col("query_id"), col("q_label").as("actual_label"),
          col("n_label").as("predicted_label"), col("cnt").as("votes"))
    }
    val annPred = pred(Similarity.topKPerQuery(
      Similarity.annMiningCandidates(assign), KnnK))
    val e = assign.filter(col("probe_rank") === 1)
      .select(col("vec_id"), col("label"), col("v"), col("nrm"))
    val pq = e.filter(col("vec_id") < Similarity.MiningAuditPanel)
      .select(col("vec_id").as("query_id"), col("label").as("q_label"),
        col("v").as("qv"), col("nrm").as("qn"))
    val exactPred = pred(Similarity.topKPerQuery(
      Similarity.spread(e)
        .join(broadcast(pq), col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("q_label"),
          col("vec_id").as("neighbor_id"), col("label").as("n_label"),
          Similarity.cos6(Similarity.dot(col("qv"), col("v")),
            col("qn"), col("nrm")).as("cos_sim")),
      KnnK))
      .select(col("query_id"), col("predicted_label").as("exact_pred"))
    val agree = annPred.agg(round(
      sum(when(col("actual_label") === col("predicted_label"), 1L)
        .otherwise(0L)).cast("double") / count(lit(1)), 6).as("agreement"))
    val rate = annPred.filter(col("query_id") < Similarity.MiningAuditPanel)
      .join(exactPred, Seq("query_id"))
      .agg(coalesce(round(
        sum(when(col("predicted_label") === col("exact_pred"), 1L)
          .otherwise(0L)).cast("double") / count(lit(1)), 6),
        lit(-1.0)).as("panel_pred_match"))
    annPred.groupBy("actual_label", "predicted_label")
      .agg(count(lit(1)).as("n_vecs"),
        round(avg(col("votes").cast("double")), 6).as("avg_votes"))
      .crossJoin(broadcast(agree))
      .crossJoin(broadcast(rate))
      .orderBy("actual_label", "predicted_label")
  }

  def knnAuditAnnOracle: String =
    s"""WITH ${Similarity.ivfCommonSql},
       |${Similarity.miningAnnCommonSql},
       |anntop AS (SELECT * FROM (SELECT *, ROW_NUMBER() OVER (
       |      PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rk
       |    FROM cand) r WHERE rk <= $KnnK),
       |annvotes AS (SELECT query_id, q_label, n_label,
       |    CAST(COUNT(*) AS BIGINT) AS cnt
       |  FROM anntop GROUP BY query_id, q_label, n_label),
       |annpred AS (SELECT query_id, q_label AS actual_label,
       |    n_label AS predicted_label, cnt AS votes
       |  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
       |      ORDER BY cnt DESC, n_label) AS vrk FROM annvotes) r
       |  WHERE vrk = 1),
       |exs AS (SELECT q.vec_id AS query_id, q.label AS q_label,
       |    x.vec_id AS neighbor_id, x.label AS n_label,
       |    round(list_dot_product(q.v, x.v) / (q.nrm * x.nrm), 6) AS cos_sim
       |  FROM nl q JOIN nl x ON x.vec_id <> q.vec_id
       |  WHERE q.vec_id < ${Similarity.MiningAuditPanel}),
       |extop AS (SELECT * FROM (SELECT *, ROW_NUMBER() OVER (
       |      PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rk
       |    FROM exs) r WHERE rk <= $KnnK),
       |exvotes AS (SELECT query_id, n_label, CAST(COUNT(*) AS BIGINT) AS cnt
       |  FROM extop GROUP BY query_id, n_label),
       |expred AS (SELECT query_id, n_label AS exact_pred
       |  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
       |      ORDER BY cnt DESC, n_label) AS vrk FROM exvotes) r
       |  WHERE vrk = 1),
       |agree AS (SELECT round(CAST(SUM(CASE WHEN actual_label =
       |      predicted_label THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*), 6)
       |    AS agreement FROM annpred),
       |rate AS (SELECT COALESCE(round(CAST(SUM(CASE WHEN a.predicted_label =
       |      e.exact_pred THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*), 6), -1.0)
       |    AS panel_pred_match
       |  FROM annpred a JOIN expred e ON a.query_id = e.query_id
       |  WHERE a.query_id < ${Similarity.MiningAuditPanel})
       |SELECT actual_label, predicted_label, CAST(COUNT(*) AS BIGINT) AS n_vecs,
       |  round(AVG(CAST(votes AS DOUBLE)), 6) AS avg_votes,
       |  MIN(agree.agreement) AS agreement,
       |  MIN(rate.panel_pred_match) AS panel_pred_match
       |FROM annpred, agree, rate GROUP BY actual_label, predicted_label
       |ORDER BY actual_label, predicted_label""".stripMargin

  // ── histogram-based best-split search (decision-stump IG) ──

  val SplitBuckets = 64

  /** Best single-split decision stump by information gain: which
    * account-balance threshold best separates market segments — the
    * split-finding kernel every gradient-boosted-tree trainer runs
    * (XGBoost/LightGBM's histogram trick, verbatim): bucket the
    * feature into [[SplitBuckets]] bins, count classes per bin, and
    * evaluate every bin boundary from prefix sums — the data is
    * touched ONCE for the per-(bucket, class) cell counts (map-side
    * combined, ≤ 64×|classes| cells); candidate evaluation runs
    * entirely on that bounded frame. Entropy terms are rounded to 9
    * then decimal-summed (class-order-free); the argmax ranks on
    * round-6 gain with the lower boundary as tiebreak. */
  def bestSplitStump(spark: SparkSession, dir: String): DataFrame = {
    val cust = Tables.customer(spark, dir)
      .select(col("c_acctbal").as("x"), col("c_mktsegment").as("cls"))
    val range = cust.agg(min("x").as("pmin"), max("x").as("pmax"))
    // explicit bucket arithmetic (identical IEEE ops in the oracle —
    // DuckDB has no width_bucket): x = pmax lands in the top bucket
    val cells = cust.crossJoin(broadcast(range))
      .select(when(col("pmin") === col("pmax"), lit(1L))
          .otherwise(least(
            floor((col("x") - col("pmin")) / (col("pmax") - col("pmin"))
              * SplitBuckets).cast("long") + 1L,
            lit(SplitBuckets.toLong))).as("bkt"),
        col("cls"))
      .groupBy("bkt", "cls").agg(count(lit(1)).as("c"))
    val totals = cells.groupBy("cls").agg(sum("c").as("tot"))
    val n = cells.agg(sum("c").as("n"))
    val boundaries = cells.select(col("bkt")).distinct()
      .filter(col("bkt") < SplitBuckets)
    // left count per (boundary, class): the full boundary × class grid
    // (boundaries ⨯ totals) LEFT-joined to the prefix cells, so a class
    // with zero rows at-or-below a boundary still contributes nl=0 /
    // nr=tot — otherwise its right-side entropy term vanishes and
    // h_root becomes boundary-dependent. Bounded 64 × 64 × |cls|.
    val left = boundaries.crossJoin(broadcast(totals.select(col("cls"))))
      .join(cells.select(col("bkt").as("cb"), col("cls").as("ccls"),
          col("c")),
        col("ccls") === col("cls") && col("cb") <= col("bkt"), "left")
      .groupBy(col("bkt"), col("cls"))
      .agg(coalesce(sum("c"), lit(0L)).as("nl"))
    def h(pc: Column): Column =
      round(when(pc > 0, -pc * log(pc)).otherwise(lit(0.0)), 9)
    val sides = left.join(totals, Seq("cls")).crossJoin(broadcast(n))
      .select(col("bkt"), col("cls"), col("nl"),
        (col("tot") - col("nl")).as("nr"), col("tot"), col("n"))
    val lTot = sides.groupBy("bkt").agg(sum("nl").as("n_left"),
      sum("nr").as("n_right"), first(col("n")).as("n"))
    val ents = sides.join(lTot.select(col("bkt"),
        col("n_left").as("nlt"), col("n_right").as("nrt")), Seq("bkt"))
      .groupBy("bkt")
      .agg(
        sum(h(col("nl") / col("nlt")).cast(DecimalType(28, 12)))
          .cast("double").as("h_left"),
        sum(h(col("nr") / col("nrt")).cast(DecimalType(28, 12)))
          .cast("double").as("h_right"),
        sum(h(col("tot") / col("n")).cast(DecimalType(28, 12)))
          .cast("double").as("h_root"))
    ents.join(lTot, Seq("bkt"))
      .crossJoin(broadcast(range))
      .select(col("bkt"),
        round(col("pmin") + col("bkt") * (col("pmax") - col("pmin"))
          / SplitBuckets, 6).as("threshold"),
        col("n_left"), col("n_right"),
        round(col("h_root"), 6).as("h_root"),
        round(col("h_left"), 6).as("h_left"),
        round(col("h_right"), 6).as("h_right"),
        round(col("h_root")
          - (col("n_left") / (col("n_left") + col("n_right"))) * col("h_left")
          - (col("n_right") / (col("n_left") + col("n_right"))) * col("h_right"),
          6).as("info_gain"))
      .filter(col("n_left") > 0 && col("n_right") > 0)
      .orderBy(col("info_gain").desc, col("bkt"))
      .limit(1)
  }

  def bestSplitStumpOracle: String =
    s"""WITH d AS (SELECT c_acctbal AS x, c_mktsegment AS cls FROM customer),
       |r AS (SELECT MIN(x) AS pmin, MAX(x) AS pmax FROM d),
       |cells AS (SELECT CASE WHEN r.pmin = r.pmax THEN 1
       |      ELSE least(CAST(floor((d.x - r.pmin) / (r.pmax - r.pmin)
       |        * $SplitBuckets) AS BIGINT) + 1, $SplitBuckets) END AS bkt,
       |    d.cls, CAST(COUNT(*) AS BIGINT) AS c
       |  FROM d, r GROUP BY 1, 2),
       |totals AS (SELECT cls, CAST(SUM(c) AS BIGINT) AS tot FROM cells
       |  GROUP BY 1),
       |nn AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM cells),
       |bs AS (SELECT DISTINCT bkt FROM cells WHERE bkt < $SplitBuckets),
       |lft AS (SELECT b.bkt, t.cls, CAST(COALESCE(SUM(cl.c), 0) AS BIGINT) AS nl
       |  FROM bs b CROSS JOIN totals t
       |  LEFT JOIN cells cl ON cl.cls = t.cls AND cl.bkt <= b.bkt
       |  GROUP BY 1, 2),
       |sides AS (SELECT l.bkt, l.cls, l.nl, t.tot - l.nl AS nr, t.tot, nn.n
       |  FROM lft l JOIN totals t USING (cls), nn),
       |lt AS (SELECT bkt, CAST(SUM(nl) AS BIGINT) AS n_left,
       |    CAST(SUM(nr) AS BIGINT) AS n_right, MIN(n) AS n
       |  FROM sides GROUP BY 1),
       |ents AS (SELECT s.bkt,
       |    CAST(SUM(CAST(round(CASE WHEN s.nl > 0 THEN
       |      -(s.nl / CAST(lt.n_left AS DOUBLE)) * ln(s.nl / CAST(lt.n_left AS DOUBLE))
       |      ELSE 0.0 END, 9) AS DECIMAL(28,12))) AS DOUBLE) AS h_left,
       |    CAST(SUM(CAST(round(CASE WHEN s.nr > 0 THEN
       |      -(s.nr / CAST(lt.n_right AS DOUBLE)) * ln(s.nr / CAST(lt.n_right AS DOUBLE))
       |      ELSE 0.0 END, 9) AS DECIMAL(28,12))) AS DOUBLE) AS h_right,
       |    CAST(SUM(CAST(round(CASE WHEN s.tot > 0 THEN
       |      -(s.tot / CAST(s.n AS DOUBLE)) * ln(s.tot / CAST(s.n AS DOUBLE))
       |      ELSE 0.0 END, 9) AS DECIMAL(28,12))) AS DOUBLE) AS h_root
       |  FROM sides s JOIN lt ON s.bkt = lt.bkt GROUP BY 1),
       |scored AS (SELECT e.bkt,
       |    round(r.pmin + e.bkt * (r.pmax - r.pmin) / $SplitBuckets, 6)
       |      AS threshold,
       |    lt.n_left, lt.n_right,
       |    round(e.h_root, 6) AS h_root, round(e.h_left, 6) AS h_left,
       |    round(e.h_right, 6) AS h_right,
       |    round(e.h_root
       |      - (lt.n_left / CAST(lt.n_left + lt.n_right AS DOUBLE)) * e.h_left
       |      - (lt.n_right / CAST(lt.n_left + lt.n_right AS DOUBLE)) * e.h_right,
       |      6) AS info_gain
       |  FROM ents e JOIN lt ON e.bkt = lt.bkt, r
       |  WHERE lt.n_left > 0 AND lt.n_right > 0)
       |SELECT bkt, threshold, n_left, n_right, h_root, h_left, h_right,
       |  info_gain
       |FROM scored ORDER BY info_gain DESC, bkt LIMIT 1""".stripMargin
}
