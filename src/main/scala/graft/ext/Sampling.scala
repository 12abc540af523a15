package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Deterministic sampling for training-data curation.
  *
  * Random sampling (`df.sample`) is the wrong tool in a 100 TB
  * pipeline: it's nondeterministic across retries (a recomputed
  * partition resamples differently), unstable across runs (no way to
  * reproduce yesterday's training mix), and uncoordinated across
  * tables (can't take the SAME 1% of docs and their embeddings).
  * Hash-based sampling fixes all three: the keep/drop decision is a
  * pure function of the row key and a named salt, so it is
  * reproducible, retry-safe, and consistent across any table keyed by
  * the same id. Changing the salt draws an independent sample.
  *
  * Both operators are single codegen'd projections (plus a bounded
  * per-stratum group limit for the stratified form) — no shuffle for
  * bernoulli, one for the stratified rank.
  */
object Sampling {

  /** Versioned salt: name the sample so pipelines can pin or rotate
    * draws explicitly. */
  val SampleSalt = "graft-sample-v1"

  /** 32-bit sample hash of an id: first 8 md5 hex chars of
    * "salt:id" as an integer — uniform on [0, 2^32), identical in any
    * engine that can md5 a string (same recipe as the dedup token
    * hash, so oracle parity is exact). */
  def sampleHash(id: Column): Column =
    conv(substring(md5(concat(lit(SampleSalt + ":"), id.cast("string"))), 1, 8), 16, 10)
      .cast("long")

  private[ext] def sampleHashSql(idExpr: String): String =
    s"CAST(concat('0x', substr(md5('$SampleSalt:' || $idExpr), 1, 8)) AS BIGINT)"

  /** The 80/10/10 hash-range boundaries — ONE definition, shared by
    * [[datasetSplit]], [[splitCase]], the SQL mirror, and the
    * group-safe re-split, so the ratios cannot silently fork. */
  private[ext] val TrainHi = (0.8 * 4294967296L).toLong
  private[ext] val ValHi = (0.9 * 4294967296L).toLong

  /** The split CASE over a 32-bit sample-hash column. */
  private[ext] def splitCase(h: Column): Column =
    when(h < TrainHi, "train").when(h < ValHi, "val").otherwise("test")

  /** Oracle mirror of [[datasetSplit]]'s hash-range CASE, for queries
    * that compose the split assignment (e.g. the leakage audit). */
  private[ext] def splitCaseSql(idExpr: String): String =
    s"""CASE WHEN ${sampleHashSql(idExpr)} < $TrainHi THEN 'train'
       |     WHEN ${sampleHashSql(idExpr)} < $ValHi THEN 'val'
       |     ELSE 'test' END""".stripMargin

  /** Bernoulli sample at `rate`: keep iff hash < rate·2^32. Exact
    * integer threshold — no float comparison ambiguity. */
  def bernoulliSample(spark: SparkSession, dir: String,
                      rate: Double = 0.1): DataFrame = {
    val threshold = (rate * 4294967296L).toLong
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"),
        sampleHash(col("doc_id")).as("sample_hash"))
      .filter(col("sample_hash") < threshold)
      .orderBy("doc_id")
  }

  def bernoulliSampleOracle: String = bernoulliSampleOracle(0.1)

  def bernoulliSampleOracle(rate: Double): String = {
    val threshold = (rate * 4294967296L).toLong
    s"""SELECT doc_id, lang, source, n_chars, sample_hash
       |FROM (SELECT doc_id, lang, source, n_chars,
       |        ${sampleHashSql("doc_id")} AS sample_hash
       |      FROM documents) t
       |WHERE sample_hash < $threshold
       |ORDER BY doc_id""".stripMargin
  }

  /** Deterministic train/val/test split (80/10/10 by hash range): the
    * assignment is a pure function of (salt, doc_id), so it is stable
    * across runs, retries, and tables — every derived table (chunks,
    * embeddings, features) keyed by the same id lands in the same
    * split, and no membership table ever needs to be materialized or
    * joined. Exact integer thresholds on the 32-bit hash — no float
    * boundary ambiguity. Zero shuffle: one codegen'd projection. */
  def datasetSplit(spark: SparkSession, dir: String): DataFrame = {
    val h = sampleHash(col("doc_id"))
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), h.as("sample_hash"),
        splitCase(h).as("split"))
      .orderBy("doc_id")
  }

  def datasetSplitOracle: String = {
    s"""SELECT doc_id, source, sample_hash,
       |  CASE WHEN sample_hash < $TrainHi THEN 'train'
       |       WHEN sample_hash < $ValHi THEN 'val'
       |       ELSE 'test' END AS split
       |FROM (SELECT doc_id, source,
       |        ${sampleHashSql("doc_id")} AS sample_hash
       |      FROM documents) t
       |ORDER BY doc_id""".stripMargin
  }

  /** Stratified fixed-size sample: the `n` smallest sample hashes per
    * stratum — a deterministic, reproducible reservoir. Spark 4 plans
    * the rank filter as a partial WindowGroupLimit: every input
    * partition pre-limits to n rows per stratum BEFORE the exchange,
    * so a billion-doc stratum ships at most n rows per upstream
    * partition, not the stratum. */
  def stratifiedSample(spark: SparkSession, dir: String,
                       n: Int = 20): DataFrame = {
    val w = Window.partitionBy("source").orderBy("sample_hash", "doc_id")
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"),
        sampleHash(col("doc_id")).as("sample_hash"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= n)
      .orderBy("source", "rk")
  }

  /** Weighted sample without replacement (Efraimidis–Spirakis), n per
    * stratum: each row draws key u^(1/w), u a deterministic hash
    * uniform and w the row weight (chars here — longer docs
    * proportionally likelier); the n largest keys per stratum are the
    * sample. The monotone-equivalent form ln(u)/w is ranked directly;
    * keys are rounded BEFORE ranking (round-before-rank discipline,
    * doc_id tiebreak) so both engines select identical rows even if
    * ln() differs in the last ulp. Same bounded per-stratum
    * WindowGroupLimit shape as the stratified sample — no global
    * sort; at scale this is one shuffle on the stratum key with
    * rank-limit pushdown. */
  def weightedSample(spark: SparkSession, dir: String, n: Int = 20): DataFrame = {
    val u = (sampleHash(col("doc_id")) + 1).cast("double") / lit(4294967296.0)
    val w = Window.partitionBy("source")
      .orderBy(col("es_key").desc_nulls_last, col("doc_id"))
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), col("n_chars"),
        // weight-0 rows (empty docs) draw key -∞ conceptually: NULL,
        // ranked last explicitly in BOTH engines — never ANSI 0-div
        when(col("n_chars") > 0, round(log(u) / col("n_chars"), 9))
          .as("es_key"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= n)
      .orderBy("source", "rk")
  }

  /** Cross-table coordinated sampling, demonstrated as data: sample
    * documents AND embeddings independently with the same (salt, id)
    * rule and join — because membership is a pure function of the id,
    * every sampled doc's embedding is also in-sample, so the join
    * loses nothing. This is the property that makes hash sampling
    * usable across a table DAG (take 1% of docs and get exactly their
    * chunks/features/embeddings everywhere downstream) where a
    * `df.sample` per table would correlate on nothing. */
  def coordinatedSample(spark: SparkSession, dir: String,
                        rate: Double = 0.1): DataFrame = {
    val threshold = (rate * 4294967296L).toLong
    val d = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"))
      .filter(sampleHash(col("doc_id")) < threshold)
    val e = Tables.embeddings(spark, dir)
      .select(col("vec_id"), size(col("embedding")).cast("long").as("n_dims"))
      .filter(sampleHash(col("vec_id")) < threshold)
    d.join(e, col("doc_id") === col("vec_id"))
      .select(col("doc_id"), col("source"), col("n_dims"))
      .orderBy("doc_id")
  }

  def coordinatedSampleOracle: String = coordinatedSampleOracle(0.1)

  def coordinatedSampleOracle(rate: Double): String = {
    val threshold = (rate * 4294967296L).toLong
    s"""SELECT d.doc_id, d.source, CAST(len(e.embedding) AS BIGINT) AS n_dims
       |FROM (SELECT doc_id, source FROM documents
       |      WHERE ${sampleHashSql("doc_id")} < $threshold) d
       |JOIN (SELECT vec_id, embedding FROM embeddings
       |      WHERE ${sampleHashSql("vec_id")} < $threshold) e
       |  ON d.doc_id = e.vec_id
       |ORDER BY d.doc_id""".stripMargin
  }

  def weightedSampleOracle: String = weightedSampleOracle(20)

  def weightedSampleOracle(n: Int): String =
    s"""WITH t AS (SELECT doc_id, source, n_chars,
       |    CASE WHEN n_chars > 0 THEN
       |      round(ln((${sampleHashSql("doc_id")} + 1) / 4294967296.0)
       |            / n_chars, 9) END AS es_key
       |  FROM documents),
       |r AS (SELECT doc_id, source, n_chars, es_key,
       |    row_number() OVER (PARTITION BY source
       |                       ORDER BY es_key DESC NULLS LAST, doc_id) AS rk
       |  FROM t)
       |SELECT doc_id, source, n_chars, es_key, CAST(rk AS BIGINT) AS rk
       |FROM r WHERE rk <= $n ORDER BY source, rk""".stripMargin

  def stratifiedSampleOracle: String = stratifiedSampleOracle(20)

  /** Source-mix rebalancing: draw a deterministic sample whose per-source
    * quota moves the mix toward a uniform target share — each source
    * contributes min(its size, ⌊total/n_sources⌋) docs, chosen as its
    * smallest sample hashes. This is the "data mixing" step of a
    * training pipeline (cap the dominant crawl, keep all of the scarce
    * sources), reproducible across runs and retries because selection
    * is pure hash order.
    *
    * Plan shape: the quota table is one groupBy over (source) plus a
    * 1-row total; per-source frames grow with the source count, so the
    * quota join stays size-driven (AQE broadcasts it while measured
    * small — the per-source-frame discipline klSourceDivergence and
    * the LPA sizes join follow). The rank window partitions by source; with a column quota
    * Spark can't plan a WindowGroupLimit, so a skewed source pays one
    * sort — at 100 TB pre-prune with the fixed-n group limit
    * (stratifiedSample's shape, n = max quota) before this rank. */
  def rebalanceSample(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("source"))
    val per = docs.groupBy("source").agg(count(lit(1)).as("n_docs"))
    val tot = per.agg(sum(col("n_docs")).as("total"),
      count(lit(1)).as("n_sources"))
    val quota = per.join(broadcast(tot))
      .select(col("source"), col("n_docs"),
        least(col("n_docs"),
          floor(col("total") / col("n_sources")).cast("long")).as("quota"))
    val w = Window.partitionBy("source").orderBy("sample_hash", "doc_id")
    docs.select(col("doc_id"), col("source"),
        sampleHash(col("doc_id")).as("sample_hash"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .join(quota, Seq("source"))
      .filter(col("rk") <= col("quota"))
      .select("source", "doc_id", "rk", "n_docs", "quota")
      .orderBy("source", "rk")
  }

  def rebalanceSampleOracle: String =
    s"""WITH per AS (SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY source),
       |tot AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS total,
       |               COUNT(*) AS n_sources FROM per),
       |quota AS (SELECT source, n_docs,
       |    least(n_docs, CAST(floor(CAST(total AS DOUBLE) / n_sources) AS BIGINT)) AS quota
       |  FROM per, tot),
       |ranked AS (SELECT doc_id, source,
       |    CAST(row_number() OVER (PARTITION BY source
       |           ORDER BY ${sampleHashSql("doc_id")}, doc_id) AS BIGINT) AS rk
       |  FROM documents)
       |SELECT r.source, r.doc_id, r.rk, q.n_docs, q.quota
       |FROM ranked r JOIN quota q ON r.source = q.source
       |WHERE r.rk <= q.quota
       |ORDER BY r.source, r.rk""".stripMargin

  val TempAlpha = 0.5
  val TempBudget = 300

  /** Temperature-based mixture sampling: per-source quotas follow
    * p_i ∝ n_i^α (α = [[TempAlpha]]) instead of raw frequency — the
    * standard LLM-pretraining mix knob (α<1 upsamples small sources,
    * α=1 is natural mix, α=0 is uniform = [[rebalanceSample]]). The
    * weight table is |sources|-row, so its join stays size-driven
    * (no forced hint — sources can be many at 100 TB); selection is the
    * same deterministic smallest-hash rank as the other samplers, so
    * re-runs and retries pick identical docs. α=0.5 makes n^α =
    * √n — IEEE-exact, so weights are engine-identical after the
    * round-9/decimal-sum normalization. */
  def temperatureSample(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("source"))
    val per = docs.groupBy("source").agg(count(lit(1)).as("n_docs"))
      .select(col("source"), col("n_docs"),
        round(sqrt(col("n_docs").cast("double")), 9).as("pa"))
    val z = per.agg(sum(col("pa").cast(DecimalType(28, 12))).cast("double")
      .as("z"))
    val quota = per.crossJoin(broadcast(z))
      .select(col("source"), col("n_docs"),
        round(col("pa") / col("z"), 9).as("weight"))
      .withColumn("quota",
        least(col("n_docs"),
          floor(col("weight") * TempBudget).cast("long")))
    val w = Window.partitionBy("source").orderBy("sample_hash", "doc_id")
    docs.select(col("doc_id"), col("source"),
        sampleHash(col("doc_id")).as("sample_hash"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .join(quota, Seq("source"))
      .filter(col("rk") <= col("quota"))
      .select("source", "doc_id", "rk", "n_docs", "weight", "quota")
      .orderBy("source", "rk")
  }

  def temperatureSampleOracle: String =
    s"""WITH per AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |    round(sqrt(CAST(COUNT(*) AS DOUBLE)), 9) AS pa
       |  FROM documents GROUP BY source),
       |z AS (SELECT CAST(SUM(CAST(pa AS DECIMAL(28,12))) AS DOUBLE) AS z
       |  FROM per),
       |quota AS (SELECT source, n_docs, round(pa / z.z, 9) AS weight,
       |    least(n_docs, CAST(floor(round(pa / z.z, 9) * $TempBudget)
       |      AS BIGINT)) AS quota
       |  FROM per, z),
       |ranked AS (SELECT doc_id, source,
       |    CAST(row_number() OVER (PARTITION BY source
       |           ORDER BY ${sampleHashSql("doc_id")}, doc_id) AS BIGINT) AS rk
       |  FROM documents)
       |SELECT r.source, r.doc_id, r.rk, q.n_docs, q.weight, q.quota
       |FROM ranked r JOIN quota q ON r.source = q.source
       |WHERE r.rk <= q.quota
       |ORDER BY r.source, r.rk""".stripMargin

  /** Token-budget mixture PLAN: the per-source table a pretraining
    * data recipe is built from. [[temperatureSample]] picks DOCS
    * under per-source quotas; this operator does the TOKEN
    * accounting for a full budget: available tokens per source,
    * temperature weight w_s ∝ available^0.5 (α < 1 upsamples small
    * sources — the standard multilingual/pretraining mix knob),
    * target tokens w_s·B for a budget B = the corpus total, and the
    * two numbers a loader executes: `epochs` (target/available — >1
    * means the source repeats; the small-source repetition factor
    * quality work always reports) and `sample_rate` (the
    * single-epoch Bernoulli rate, capped at 1). One corpus scan to
    * |sources| rows (map-side combined token sums); every division
    * happens on the bounded frame with round-9/decimal-sum
    * normalization so both engines land on identical doubles. */
  def mixtureBudget(spark: SparkSession, dir: String): DataFrame =
    mixtureFromCounts(
      Tables.documents(spark, dir)
        .select(col("source"),
          size(TextAnalysis.tokens(col("text"))).cast("long").as("nt"))
        .groupBy("source").agg(sum(col("nt")).as("available_tokens")))

  /** The mixture arithmetic over a (source, available_tokens) frame —
    * a pure view over |sources| rows, shared by the batch plan and
    * the streaming monitor (whose state IS that frame, maintained on
    * ingest), so the two cannot drift and verify against ONE oracle. */
  private[graft] def mixtureFromCounts(counts: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val per = counts
      .select(col("source"), col("available_tokens"),
        round(sqrt(col("available_tokens").cast("double")), 9).as("pa"))
    val z = per.agg(
      sum(col("pa").cast(DecimalType(28, 12))).cast("double").as("z"),
      sum(col("available_tokens")).as("budget"))
    per.crossJoin(broadcast(z))
      .select(col("source"), col("available_tokens"),
        round(col("pa") / col("z"), 9).as("weight"),
        floor(round(col("pa") / col("z"), 9) * col("budget"))
          .cast("long").as("target_tokens"))
      .select(col("source"), col("available_tokens"), col("weight"),
        col("target_tokens"),
        round(when(col("available_tokens") > 0,
          col("target_tokens").cast("double") / col("available_tokens")), 6)
          .as("epochs"),
        round(when(col("available_tokens") > 0,
          least(lit(1.0),
            col("target_tokens").cast("double") / col("available_tokens"))), 6)
          .as("sample_rate"))
      .orderBy("source")
  }

  def mixtureBudgetOracle: String =
    s"""WITH per AS (SELECT source,
       |    CAST(SUM(len(${TextAnalysis.tokensSqlShared})) AS BIGINT)
       |      AS available_tokens
       |  FROM documents GROUP BY source),
       |pa AS (SELECT source, available_tokens,
       |    round(sqrt(CAST(available_tokens AS DOUBLE)), 9) AS pa FROM per),
       |z AS (SELECT CAST(SUM(CAST(pa AS DECIMAL(28,12))) AS DOUBLE) AS z,
       |    CAST(SUM(available_tokens) AS BIGINT) AS budget FROM pa),
       |t AS (SELECT source, available_tokens,
       |    round(pa / z.z, 9) AS weight,
       |    CAST(floor(round(pa / z.z, 9) * z.budget) AS BIGINT)
       |      AS target_tokens
       |  FROM pa, z)
       |SELECT source, available_tokens, weight, target_tokens,
       |  round(CASE WHEN available_tokens > 0
       |    THEN CAST(target_tokens AS DOUBLE) / available_tokens END, 6)
       |    AS epochs,
       |  round(CASE WHEN available_tokens > 0
       |    THEN least(1.0, CAST(target_tokens AS DOUBLE) / available_tokens)
       |    END, 6) AS sample_rate
       |FROM t ORDER BY source""".stripMargin

  /** Exponentiated-gradient rounds of [[mixtureReweight]]. */
  val ReweightIters = 5

  /** DoReMi-style domain reweighting (Xie et al. 2023, simplified to
    * the engine's deterministic-oracle discipline): instead of sizing
    * the mixture by token AVAILABILITY ([[mixtureBudget]]'s
    * temperature rule), size it by model DIFFICULTY — run
    * [[ReweightIters]] exponentiated-gradient rounds
    * w ← normalize(w·exp(ℓ_d − Σw·ℓ)), upweighting domains whose text
    * the corpus-wide reference model finds hard (positive excess
    * loss) and shrinking easy boilerplate-heavy ones. The loss proxy
    * is the per-domain mean negative log-prob under the global
    * unigram LM — the [[TextAnalysis.perplexityUnigram]] model
    * grouped by source, the stand-in for DoReMi's proxy-model excess
    * loss that stays fully cross-engine-reproducible.
    *
    * Scale shape: ONE corpus-sized pass (token explode → broadcast
    * model join → per-source decimal-summed means), checkpointed to a
    * |domains|-row frame; every EG round is two 1-row aggregates and
    * a projection over that frame — iteration cost is independent of
    * corpus size, exactly how the production loop (proxy losses in,
    * weights out per round) behaves. Determinism: losses and weights
    * are rounded (9) every round, per-round sums ride decimal casts,
    * so both engines walk identical doubles through exp(). */
  def mixtureReweight(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val toksOf = Tables.documents(spark, dir)
      .select(col("source"), explode(TextAnalysis.tokens(col("text"))).as("tok"))
    val vocab = toksOf.groupBy("tok").agg(count(lit(1)).as("c"))
    val total = vocab.agg(sum(col("c")).as("tot"))
    val model = vocab.crossJoin(broadcast(total))
      .select(col("tok"),
        round(log(col("c").cast("double") / col("tot").cast("double")), 9)
          .as("logp"))
    val loss = toksOf.join(broadcast(model), Seq("tok"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_tokens"),
        round(negate(sum(col("logp").cast(DecimalType(28, 12))).cast("double") /
          count(lit(1))), 9).as("loss"))
      .localCheckpoint() // |domains| rows; the EG loop must not rescan
    val nd = loss.agg(count(lit(1)).as("nd"))
    var w = loss.crossJoin(broadcast(nd))
      .select(col("source"), col("n_tokens"), col("loss"),
        round(lit(1.0) / col("nd"), 9).as("w"))
      .localCheckpoint()
    for (_ <- 1 to ReweightIters) {
      val mean = w.agg(
        sum(round(col("w") * col("loss"), 12).cast(DecimalType(28, 14)))
          .cast("double").as("m"))
      val u = w.crossJoin(broadcast(mean))
        .select(col("source"), col("n_tokens"), col("loss"),
          round(col("w") * exp(round(col("loss") - col("m"), 9)), 12).as("u"))
        .localCheckpoint() // |domains| rows; cuts the round's lineage so
      // round t never re-derives rounds 1..t−1 (each re-derivation
      // would re-broadcast every earlier 1-row aggregate — the cost
      // compounds exponentially in plan evaluations, not data)
      val z = u.agg(sum(col("u").cast(DecimalType(28, 14)))
        .cast("double").as("z"))
      w = u.crossJoin(broadcast(z))
        .select(col("source"), col("n_tokens"), col("loss"),
          round(col("u") / col("z"), 9).as("w"))
        .localCheckpoint()
    }
    w.select(col("source"), col("n_tokens"), col("loss"),
        col("w").as("weight"))
      .orderBy("source")
  }

  def mixtureReweightOracle: String = {
    val rounds = (1 to ReweightIters).map { i =>
      val p = i - 1
      s"""mm$i AS (SELECT CAST(SUM(CAST(round(w * loss, 12)
         |    AS DECIMAL(28,14))) AS DOUBLE) AS m FROM w$p),
         |u$i AS (SELECT source, n_tokens, loss,
         |    round(w * exp(round(loss - m, 9)), 12) AS u FROM w$p, mm$i),
         |z$i AS (SELECT CAST(SUM(CAST(u AS DECIMAL(28,14))) AS DOUBLE) AS z
         |  FROM u$i),
         |w$i AS (SELECT source, n_tokens, loss, round(u / z, 9) AS w
         |  FROM u$i, z$i)""".stripMargin
    }.mkString(",\n")
    s"""WITH tk AS (SELECT source, g AS tok
       |  FROM (SELECT source, unnest(ws) AS g
       |        FROM (SELECT source, ${TextAnalysis.tokensSql} AS ws
       |              FROM documents) t) u),
       |v AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS c FROM tk GROUP BY 1),
       |tt AS (SELECT CAST(SUM(c) AS BIGINT) AS tot FROM v),
       |m AS (SELECT tok,
       |    round(ln(CAST(c AS DOUBLE) / CAST(tot AS DOUBLE)), 9) AS logp
       |  FROM v, tt),
       |l AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_tokens,
       |    round(-(CAST(SUM(CAST(logp AS DECIMAL(28,12))) AS DOUBLE)
       |      / COUNT(*)), 9) AS loss
       |  FROM tk JOIN m USING (tok) GROUP BY source),
       |d AS (SELECT CAST(COUNT(*) AS BIGINT) AS nd FROM l),
       |w0 AS (SELECT source, n_tokens, loss, round(1.0 / nd, 9) AS w
       |  FROM l, d),
       |$rounds
       |SELECT source, n_tokens, loss, w AS weight
       |FROM w$ReweightIters ORDER BY source""".stripMargin
  }

  val NumShards = 8

  /** Shard salt — independent of [[SampleSalt]], so shard placement
    * is uncorrelated with sample/split membership (the same hash fed
    * to both would make shard 0 systematically 'train'-heavy). */
  val ShardSalt = "graft-shard-v1"

  /** 60-bit keyed content fingerprint — covers text bytes AND the
    * doc id, so corruption, loss, and shard migration all flip the
    * XOR digest. Shared with the streaming manifest twin. */
  private[graft] def shardFp: Column =
    conv(substring(md5(concat(lit(ShardSalt + ":"),
        col("doc_id").cast("string"), lit(":"), md5(col("text")))), 1, 15),
      16, 10).cast("long")

  /** Deterministic shard of a doc id. Shared with the streaming twin. */
  private[graft] def shardCol: Column =
    pmod(conv(substring(md5(concat(lit(ShardSalt + ":"),
      col("doc_id").cast("string"))), 1, 8), 16, 10).cast("long"),
      lit(NumShards.toLong))

  /** The manifest aggregation over a (shard, doc_id, len, fp) frame —
    * one shape for the batch scan and the streaming ingest. */
  private[graft] def shardManifestAgg(rows: DataFrame): DataFrame =
    rows.groupBy("shard")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("len")).cast("long").as("n_chars"),
        min(col("doc_id")).as("min_doc"), max(col("doc_id")).as("max_doc"),
        expr("bit_xor(fp)").as("content_digest"))

  /** The (shard, doc_id, len, fp) projection over any documents
    * frame — the batch scan and the streaming ingest share it. */
  private[graft] def shardRows(docs: DataFrame): DataFrame =
    docs.select(shardCol.as("shard"), col("doc_id"),
      length(col("text")).as("len"), shardFp.as("fp"))

  /** Training-shard manifest: assign every document to one of
    * [[NumShards]] shards by an id-pure hash and emit the per-shard
    * manifest row a data loader verifies before consuming — doc
    * count, char volume, id span, and an order-independent content
    * digest (XOR of 60-bit keyed content fingerprints: commutative,
    * so the digest is identical however partitions combine, and it
    * covers BOTH text bytes and assignment, so a corrupted doc, a
    * dropped doc, or a doc that migrated shards all flip it). This is
    * the WebDataset/Megatron shard-build contract: assignment is a
    * pure function of (salt, doc_id) — retries and re-runs land every
    * doc in the same shard, and two independently built copies of a
    * shard prove byte-equality by comparing ONE long. Cost: one
    * projection + one [[NumShards]]-group hash aggregate, map-side
    * combined; nothing is ordered, nothing collects. */
  def shardManifest(spark: SparkSession, dir: String): DataFrame =
    shardManifestAgg(shardRows(Tables.documents(spark, dir)))
      .orderBy("shard")

  def shardManifestOracle: String =
    s"""WITH d AS (SELECT
       |    CAST(concat('0x', substr(md5('$ShardSalt:' ||
       |        CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % $NumShards
       |      AS shard,
       |    doc_id, length(text) AS len,
       |    CAST(concat('0x', substr(md5('$ShardSalt:' ||
       |        CAST(doc_id AS VARCHAR) || ':' || md5(text)), 1, 15))
       |      AS BIGINT) AS fp
       |  FROM documents)
       |SELECT shard, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |  CAST(SUM(len) AS BIGINT) AS n_chars,
       |  MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc,
       |  bit_xor(fp) AS content_digest
       |FROM d GROUP BY shard ORDER BY shard""".stripMargin

  def stratifiedSampleOracle(n: Int): String =
    s"""SELECT doc_id, source, sample_hash, rk
       |FROM (SELECT doc_id, source, sample_hash,
       |        CAST(row_number() OVER (PARTITION BY source
       |               ORDER BY sample_hash, doc_id) AS BIGINT) AS rk
       |      FROM (SELECT doc_id, source,
       |              ${sampleHashSql("doc_id")} AS sample_hash
       |            FROM documents) h) r
       |WHERE rk <= $n
       |ORDER BY source, rk""".stripMargin

  /** Curriculum ordering: stage the corpus into 4 difficulty phases
    * (easy → hard) by document token count — the short-first schedule
    * curriculum-learning training loops consume. Phase boundaries are
    * the EXACT token-count quartiles (the percentile family's
    * interpolation discipline), assigned by VALUE comparison against
    * the three broadcast thresholds — no global rank window, so the
    * assignment is one projection pass and identical for a row no
    * matter which partition computes it. The quartiles come from
    * [[graft.operators.Relational.exactGroupQuantiles]] (one group,
    * bracket-and-refine) — nothing sorts the corpus. */
  def curriculumOrder(spark: SparkSession, dir: String): DataFrame = {
    val tk = Tables.documents(spark, dir)
      .select(col("doc_id"),
        size(TextAnalysis.tokens(col("text"))).cast("long").as("n_tokens"))
    val vals = tk.select(lit("all").as("g"), col("n_tokens").cast("double").as("v"))
    val thresholds = graft.operators.Relational
      .exactGroupQuantiles(vals, Seq(0.25, 0.5, 0.75), maxGroups = 1).coalesce(1)
      .select(col("p").as("q"),
        // unrounded interpolation in quantile_cont's exact op order —
        // the comparison below sees the identical double both engines
        // compute (the winsorize/outlier_iqr discipline)
        (col("lo_v") * (lit(1.0) - col("frac")) +
          coalesce(col("hi_v"), col("lo_v")) * col("frac")).as("qv"))
      .groupBy(lit(1).as("one"))
      .agg(max(when(col("q") === 0.25, col("qv"))).as("q1"),
        max(when(col("q") === 0.5, col("qv"))).as("q2"),
        max(when(col("q") === 0.75, col("qv"))).as("q3"))
    tk.crossJoin(broadcast(thresholds))
      .select(col("doc_id"), col("n_tokens"),
        (lit(1)
          + when(col("n_tokens") > col("q1"), 1).otherwise(0)
          + when(col("n_tokens") > col("q2"), 1).otherwise(0)
          + when(col("n_tokens") > col("q3"), 1).otherwise(0)).as("phase"))
      .orderBy("phase", "n_tokens", "doc_id")
  }

  def curriculumOrderOracle: String =
    s"""WITH tk AS (SELECT doc_id, CAST(len(ws) AS BIGINT) AS n_tokens
       |  FROM (SELECT doc_id, ${TextAnalysis.tokensSql} AS ws
       |        FROM documents) t),
       |q AS (SELECT
       |    quantile_cont(CAST(n_tokens AS DOUBLE), 0.25) AS q1,
       |    quantile_cont(CAST(n_tokens AS DOUBLE), 0.50) AS q2,
       |    quantile_cont(CAST(n_tokens AS DOUBLE), 0.75) AS q3
       |  FROM tk)
       |SELECT doc_id, n_tokens,
       |  1 + CAST(n_tokens > q.q1 AS INTEGER)
       |    + CAST(n_tokens > q.q2 AS INTEGER)
       |    + CAST(n_tokens > q.q3 AS INTEGER) AS phase
       |FROM tk, q ORDER BY phase, n_tokens, doc_id""".stripMargin
}
