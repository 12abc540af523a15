package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Text-analysis operators for a large-scale training-data pipeline:
  * token counting, quality scoring, language ID, fingerprinting.
  *
  * All pure per-row projections over codegen'd built-ins — no shuffle,
  * no UDFs — so they scale linearly with input splits: at 100 TB each
  * parquet partition is processed independently and the plan is a
  * single WholeStageCodegen map stage (plus sort only for the
  * deterministic verification output).
  */
object TextAnalysis {

  /** Tokens of a text column: split on runs of non-letter/non-digit,
    * lowercased, empties dropped — same semantics as the word-count
    * tokenizer (reference mapreduce/functions/wordcount.go:22-32).
    * `array_remove` (codegen'd) drops the boundary empties instead of a
    * `filter` lambda, which Spark evaluates interpreted per element —
    * the whole tokenizer stays inside whole-stage codegen. */
  def tokens(c: Column): Column =
    array_remove(split(lower(c), "[^\\p{L}\\p{N}]+"), "")

  private[ext] val tokensSql =
    raw"list_filter(string_split_regex(lower(text), '[^\p{L}\p{N}]+'), w -> w <> '')"

  // ── corpus length profile: exact decile statistics ──

  /** Exact decile profile of document lengths. A windowed
    * `ntile(10)`/`row_number` with no partitionBy collapses the whole
    * corpus into ONE task; instead the global rank comes from
    * `zipWithIndex` over the range-sorted rows — the sort is a
    * distributed range exchange and the index is per-partition offsets
    * plus a tiny partition-count job, so parallelism stays with the
    * data. Decile boundaries use the even-spread rule
    * `⌊rank·10/n⌋ + 1` (not ntile's first-tiles-heavier rule) so the
    * definition is engine-neutral arithmetic on (rank, n). */
  def docLengthDeciles(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val base = Tables.documents(spark, dir)
      .select(col("doc_id").cast("long"), col("n_chars").cast("long"))
    val n = base.count()
    val ranked = base.orderBy("n_chars", "doc_id").rdd
      .zipWithIndex()
      .map { case (r, i) => (r.getLong(0), r.getLong(1), i) }
      .toDF("doc_id", "n_chars", "rnk")
    ranked
      // SQL `div` = integral division (Column./ would be double)
      .groupBy(expr(s"rnk * 10 div ${n}L + 1").as("decile"))
      .agg(count(lit(1)).as("n_docs"),
        min("n_chars").as("min_chars"),
        max("n_chars").as("max_chars"),
        sum("n_chars").as("sum_chars"))
      .orderBy("decile")
  }

  def docLengthDecilesOracle: String =
    """WITH r AS (SELECT doc_id, n_chars,
      |    row_number() OVER (ORDER BY n_chars, doc_id) - 1 AS rnk,
      |    COUNT(*) OVER () AS n
      |  FROM documents)
      |SELECT CAST(rnk*10//n + 1 AS BIGINT) AS decile,
      |  COUNT(*) AS n_docs,
      |  MIN(n_chars) AS min_chars,
      |  MAX(n_chars) AS max_chars,
      |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars
      |FROM r GROUP BY decile ORDER BY decile""".stripMargin

  // ── token counting (whitespace tokens + BPE-ish subword estimate) ──

  /** n_tokens, n_chars, and a BPE-style subword estimate: ceil(len/4)
    * per token approximates byte-pair-encoded token counts for
    * budget/packing decisions. */
  def tokenCount(spark: SparkSession, dir: String): DataFrame = {
    val ws = tokens(col("text"))
    Tables.documents(spark, dir).select(
      col("doc_id"),
      size(ws).cast("long").as("n_tokens"),
      length(col("text")).cast("long").as("n_chars"),
      aggregate(ws, lit(0L),
        (acc, w) => acc + ceil(length(w) / lit(4.0)).cast("long")).as("n_subwords"))
      .orderBy("doc_id")
  }

  def tokenCountOracle: String =
    s"""SELECT doc_id,
       |  CAST(len(ws) AS BIGINT) AS n_tokens,
       |  CAST(length(text) AS BIGINT) AS n_chars,
       |  CAST(COALESCE(list_sum(list_transform(ws,
       |    w -> CAST(ceil(length(w)/4.0) AS BIGINT))), 0) AS BIGINT) AS n_subwords
       |FROM (SELECT doc_id, text, $tokensSql AS ws FROM documents) t
       |ORDER BY doc_id""".stripMargin

  // ── quality scoring ──

  private val stopwords = Seq("the", "a", "of", "and", "to", "in", "is", "it")
  private val stopwordsSqlList = stopwords.map(w => s"'$w'").mkString(", ")

  /** Heuristic doc-quality features: length, lexical diversity,
    * stopword density. Ratios are single int/int IEEE divisions —
    * bit-identical across engines. */
  def textQuality(spark: SparkSession, dir: String): DataFrame = {
    val ws = tokens(col("text"))
    val nTok = size(ws).cast("long")
    val nStop = size(filter(ws, w => w.isin(stopwords: _*))).cast("long")
    val nDistinct = size(array_distinct(ws)).cast("long")
    val sumLen = aggregate(ws, lit(0L), (acc, w) => acc + length(w).cast("long"))
    // ratios are NULL (not NaN) for zero-token docs — matches SQL
    // division semantics so the oracle hash-compares
    def safe(x: Column): Column = when(nTok =!= 0, x)
    Tables.documents(spark, dir).select(
      col("doc_id"),
      nTok.as("n_tokens"),
      safe(sumLen.cast("double") / nTok).as("avg_token_len"),
      safe(nStop.cast("double") / nTok).as("stopword_ratio"),
      safe(nDistinct.cast("double") / nTok).as("distinct_ratio"))
      .orderBy("doc_id")
  }

  def textQualityOracle: String =
    s"""SELECT doc_id,
       |  CAST(len(ws) AS BIGINT) AS n_tokens,
       |  CAST(COALESCE(list_sum(list_transform(ws, w -> CAST(length(w) AS BIGINT))), 0) AS DOUBLE)
       |    / NULLIF(len(ws), 0) AS avg_token_len,
       |  CAST(len(list_filter(ws, w -> w IN ($stopwordsSqlList))) AS DOUBLE)
       |    / NULLIF(len(ws), 0) AS stopword_ratio,
       |  CAST(len(list_distinct(ws)) AS DOUBLE) / NULLIF(len(ws), 0) AS distinct_ratio
       |FROM (SELECT doc_id, text, $tokensSql AS ws FROM documents) t
       |ORDER BY doc_id""".stripMargin

  /** Quality-filter operating curve — the table that sets the
    * stopword-density cut the way [[graft.ext.Dedup.thresholdSweep]]
    * sets the dedup threshold: for each candidate cut τ (keep docs
    * with stopword_ratio ≥ τ — natural prose carries function words;
    * word salad and boilerplate don't), the surviving doc and TOKEN
    * counts and retentions. Token retention is the number that
    * matters — a pretraining budget is spent in tokens, and quality
    * cuts bite token mass unevenly (long documents are
    * disproportionately prose). Reading the curve: the τ where token
    * retention falls off a cliff is where the filter starts eating
    * signal, not noise. One corpus scan to (ratio, n_tokens) rows, a
    * broadcast 10-row grid cross join, one aggregate — the same
    * calibrate-once-then-run-the-fleet shape as the dedup sweep.
    * Zero-token docs have NULL ratio and are cut at every τ (no
    * tokens to keep either way). */
  def qualityCutTradeoff(spark: SparkSession, dir: String): DataFrame = {
    val ws = tokens(col("text"))
    val nTok = size(ws).cast("long")
    val nStop = size(filter(ws, w => w.isin(stopwords: _*))).cast("long")
    val perDoc = Tables.documents(spark, dir).select(
      nTok.as("n_tokens"),
      when(nTok =!= 0, nStop.cast("double") / nTok).as("ratio"))
    val grid = spark.range(0, 50, 5).select(col("id").as("cut_pct"))
    val kept = col("ratio") >= col("cut_pct") / lit(100.0)
    perDoc.crossJoin(broadcast(grid))
      .groupBy("cut_pct")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(kept, 1L).otherwise(0L)).as("docs_kept"),
        sum(col("n_tokens")).as("tokens_total"),
        sum(when(kept, col("n_tokens")).otherwise(0L)).as("tokens_kept"))
      .select(col("cut_pct"), col("n_docs"), col("docs_kept"),
        col("tokens_total"), col("tokens_kept"),
        round(col("docs_kept").cast("double") / col("n_docs"), 6)
          .as("doc_retention"),
        round(col("tokens_kept").cast("double") / col("tokens_total"), 6)
          .as("token_retention"))
      .orderBy("cut_pct")
  }

  def qualityCutTradeoffOracle: String =
    s"""WITH perdoc AS (SELECT CAST(len(ws) AS BIGINT) AS n_tokens,
       |    CAST(len(list_filter(ws, w -> w IN ($stopwordsSqlList)))
       |      AS DOUBLE) / NULLIF(len(ws), 0) AS ratio
       |  FROM (SELECT $tokensSql AS ws FROM documents) t),
       |grid AS (SELECT range AS cut_pct FROM range(0, 50, 5)),
       |agg AS (SELECT cut_pct,
       |    CAST(COUNT(*) AS BIGINT) AS n_docs,
       |    CAST(SUM(CASE WHEN ratio >= cut_pct / 100.0 THEN 1 ELSE 0 END)
       |      AS BIGINT) AS docs_kept,
       |    CAST(SUM(n_tokens) AS BIGINT) AS tokens_total,
       |    CAST(SUM(CASE WHEN ratio >= cut_pct / 100.0 THEN n_tokens
       |      ELSE 0 END) AS BIGINT) AS tokens_kept
       |  FROM perdoc CROSS JOIN grid GROUP BY cut_pct)
       |SELECT cut_pct, n_docs, docs_kept, tokens_total, tokens_kept,
       |  round(CAST(docs_kept AS DOUBLE) / n_docs, 6) AS doc_retention,
       |  round(CAST(tokens_kept AS DOUBLE) / tokens_total, 6)
       |    AS token_retention
       |FROM agg ORDER BY cut_pct""".stripMargin

  // ── language identification (marker-word heuristic) ──

  private val langMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "is"),
    "de" -> Seq("der", "die", "und", "nicht", "ist"),
    "fr" -> Seq("le", "les", "et", "une", "est"),
    "es" -> Seq("el", "los", "y", "una", "es"))

  /** Marker-word language ID: count hits per language, argmax with a
    * fixed preference order for ties, 'und' (undetermined) when no
    * marker hits. A real pipeline would use char-n-gram profiles; the
    * plan shape (pure projection) is identical. */
  def langId(spark: SparkSession, dir: String): DataFrame = {
    val ws = tokens(col("text"))
    val scores = langMarkers.map { case (lang, ms) =>
      lang -> size(filter(ws, w => w.isin(ms: _*))).cast("long")
    }
    val Seq(en, de, fr, es) = scores.map(_._2)
    val pred = when(en + de + fr + es === 0, "und")
      .when(en >= de && en >= fr && en >= es, "en")
      .when(de >= fr && de >= es, "de")
      .when(fr >= es, "fr")
      .otherwise("es")
    Tables.documents(spark, dir).select(
      col("doc_id") +: scores.map { case (l, c) => c.as(s"s_$l") } :+ pred.as("pred_lang"): _*)
      .orderBy("doc_id")
  }

  def langIdOracle: String = {
    val scoreSql = langMarkers.map { case (lang, ms) =>
      val list = ms.map(w => s"'$w'").mkString(", ")
      s"CAST(len(list_filter(ws, w -> w IN ($list))) AS BIGINT) AS s_$lang"
    }.mkString(",\n       |  ")
    s"""SELECT doc_id,
       |  $scoreSql,
       |  CASE WHEN s_en + s_de + s_fr + s_es = 0 THEN 'und'
       |       WHEN s_en >= s_de AND s_en >= s_fr AND s_en >= s_es THEN 'en'
       |       WHEN s_de >= s_fr AND s_de >= s_es THEN 'de'
       |       WHEN s_fr >= s_es THEN 'fr'
       |       ELSE 'es' END AS pred_lang
       |FROM (SELECT doc_id, $tokensSql AS ws FROM documents) t
       |ORDER BY doc_id""".stripMargin
  }

  // ── chance-corrected annotator agreement (Cohen's kappa) ──

  /** Cohen's kappa between the marker-word language classifier
    * ([[langId]]'s argmax) and the gold `lang` label — the
    * annotation-quality gate a labeling pipeline runs before trusting
    * a cheap auto-labeler: raw accuracy (observed agreement p_o)
    * overstates a classifier that just predicts the majority class,
    * so kappa subtracts the agreement p_e two INDEPENDENT raters with
    * these marginals would reach by chance:
    * κ = (p_o − p_e)/(1 − p_e). Landis-Koch verdict bands ride along.
    *
    * One projection pass (the same marker-count argmax as langId,
    * never re-joined) into a |classes|²-bounded confusion aggregate;
    * p_e is the marginal inner product computed from that same tiny
    * frame. Everything after the scan is O(|classes|²) rows —
    * wordcount shape, holds at any corpus size. p_o and p_e are
    * single divisions of exact integer counts rounded to 9, κ derived
    * from the rounded pair rounded to 6, so both engines agree to the
    * last digit. */
  def kappaLangAgreement(spark: SparkSession, dir: String): DataFrame = {
    val ws = tokens(col("text"))
    val scores = langMarkers.map { case (lang, ms) =>
      lang -> size(filter(ws, w => w.isin(ms: _*))).cast("long")
    }
    val Seq(en, de, fr, es) = scores.map(_._2)
    val pred = when(en + de + fr + es === 0, "und")
      .when(en >= de && en >= fr && en >= es, "en")
      .when(de >= fr && de >= es, "de")
      .when(fr >= es, "fr")
      .otherwise("es")
    val conf = Tables.documents(spark, dir)
      .select(col("lang").as("actual"), pred.as("predicted"))
      .groupBy("actual", "predicted").agg(count(lit(1)).as("n"))
      .localCheckpoint() // |classes|² rows; marginals + diag reuse it
    val n = conf.agg(sum("n").as("nt"))
    val po = conf.filter(col("actual") === col("predicted"))
      .agg(coalesce(sum("n"), lit(0L)).as("agree"))
    val pe = conf.groupBy("actual").agg(sum("n").as("ra"))
      .join(conf.groupBy("predicted").agg(sum("n").as("cp")),
        col("actual") === col("predicted"))
      .agg(coalesce(sum(col("ra") * col("cp")), lit(0L)).as("rc"))
    n.crossJoin(broadcast(po)).crossJoin(broadcast(pe))
      .select(col("nt").as("n_docs"),
        round(col("agree").cast("double") / col("nt"), 9).as("p_o"),
        round(col("rc").cast("double") / (col("nt") * col("nt")), 9)
          .as("p_e"))
      // p_e = 1 (one class on both margins) makes κ 0/0 — contract
      // NULL, stated explicitly because DuckDB's IEEE division would
      // yield NaN where Spark (ANSI off) yields NULL
      .withColumn("kappa",
        when(col("p_e") < 1.0,
          round(((col("p_o") - col("p_e")) / (lit(1.0) - col("p_e"))), 6)))
      .withColumn("verdict",
        when(col("kappa") >= 0.8, "almost_perfect")
          .when(col("kappa") >= 0.6, "substantial")
          .when(col("kappa") >= 0.4, "moderate")
          .when(col("kappa") >= 0.2, "fair")
          .otherwise("slight_or_worse"))
  }

  def kappaLangAgreementOracle: String = {
    val scoreSql = langMarkers.map { case (lang, ms) =>
      val list = ms.map(w => s"'$w'").mkString(", ")
      s"CAST(len(list_filter(ws, w -> w IN ($list))) AS BIGINT) AS s_$lang"
    }.mkString(",\n       |    ")
    s"""WITH scored AS (SELECT lang AS actual,
       |    $scoreSql
       |  FROM (SELECT lang, $tokensSql AS ws FROM documents) t),
       |conf AS (SELECT actual,
       |    CASE WHEN s_en + s_de + s_fr + s_es = 0 THEN 'und'
       |         WHEN s_en >= s_de AND s_en >= s_fr AND s_en >= s_es THEN 'en'
       |         WHEN s_de >= s_fr AND s_de >= s_es THEN 'de'
       |         WHEN s_fr >= s_es THEN 'fr'
       |         ELSE 'es' END AS predicted,
       |    CAST(COUNT(*) AS BIGINT) AS n
       |  FROM scored GROUP BY 1, 2),
       |nt AS (SELECT CAST(SUM(n) AS BIGINT) AS nt FROM conf),
       |po AS (SELECT CAST(COALESCE(SUM(n), 0) AS BIGINT) AS agree
       |  FROM conf WHERE actual = predicted),
       |pe AS (SELECT CAST(COALESCE(SUM(ra * cp), 0) AS BIGINT) AS rc
       |  FROM (SELECT actual AS cls, SUM(n) AS ra FROM conf GROUP BY 1) r
       |  JOIN (SELECT predicted AS cls, SUM(n) AS cp FROM conf GROUP BY 1) c
       |  USING (cls)),
       |base AS (SELECT nt.nt AS n_docs,
       |    round(CAST(po.agree AS DOUBLE) / nt.nt, 9) AS p_o,
       |    round(CAST(pe.rc AS DOUBLE) / (nt.nt * nt.nt), 9) AS p_e
       |  FROM nt, po, pe)
       |SELECT n_docs, p_o, p_e,
       |  CASE WHEN p_e < 1.0 THEN round((p_o - p_e) / (1.0 - p_e), 6)
       |       END AS kappa,
       |  CASE WHEN p_e < 1.0 AND round((p_o - p_e) / (1.0 - p_e), 6) >= 0.8
       |         THEN 'almost_perfect'
       |       WHEN p_e < 1.0 AND round((p_o - p_e) / (1.0 - p_e), 6) >= 0.6
       |         THEN 'substantial'
       |       WHEN p_e < 1.0 AND round((p_o - p_e) / (1.0 - p_e), 6) >= 0.4
       |         THEN 'moderate'
       |       WHEN p_e < 1.0 AND round((p_o - p_e) / (1.0 - p_e), 6) >= 0.2
       |         THEN 'fair'
       |       ELSE 'slight_or_worse' END AS verdict
       |FROM base""".stripMargin
  }

  // ── array / null-handling function battery ──

  /** Array and null-handling functions over the token arrays (the
    * reference has no array/map functions at all — SURVEY §2.8). All
    * engine-portable: size/slice/sort/contains/distinct + coalesce/
    * nullif. */
  def arrayFuncs(spark: SparkSession, dir: String): DataFrame = {
    val ws = tokens(col("text"))
    Tables.documents(spark, dir).select(
      col("doc_id"),
      size(ws).cast("long").as("n"),
      array_join(slice(ws, 1, 3), "_").as("first3"),
      array_join(slice(array_sort(array_distinct(ws)), 1, 2), "_").as("top2_sorted"),
      array_contains(ws, "the").as("has_the"),
      element_at(ws, -1).as("last_tok"),
      coalesce(nullif(col("lang"), lit("en")), lit("english")).as("lang_or_english"))
      .orderBy("doc_id")
  }

  def arrayFuncsOracle: String =
    s"""SELECT doc_id,
       |  CAST(len(ws) AS BIGINT) AS n,
       |  array_to_string(ws[1:3], '_') AS first3,
       |  array_to_string(list_sort(list_distinct(ws))[1:2], '_') AS top2_sorted,
       |  list_contains(ws, 'the') AS has_the,
       |  ws[-1] AS last_tok,
       |  coalesce(nullif(lang, 'en'), 'english') AS lang_or_english
       |FROM (SELECT doc_id, lang, $tokensSql AS ws FROM documents) t
       |ORDER BY doc_id""".stripMargin

  // ── document fingerprinting ──

  /** Two content fingerprints per doc:
    *   - norm_md5: md5 of whitespace-normalized lowercased text
    *     (catches formatting-only duplicates);
    *   - bag_md5: md5 of the sorted distinct token set (catches
    *     reordered / repeated-content duplicates).
    * Both are exact-dedup keys usable in a hash groupBy at any scale. */
  def fingerprint(spark: SparkSession, dir: String): DataFrame = {
    val ws = tokens(col("text"))
    Tables.documents(spark, dir).select(
      col("doc_id"),
      md5(trim(regexp_replace(lower(col("text")), "\\s+", " "))).as("norm_md5"),
      md5(array_join(array_sort(array_distinct(ws)), " ")).as("bag_md5"))
      .orderBy("doc_id")
  }

  def fingerprintOracle: String =
    s"""SELECT doc_id,
       |  md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS norm_md5,
       |  md5(array_to_string(list_sort(list_distinct(ws)), ' ')) AS bag_md5
       |FROM (SELECT doc_id, text, $tokensSql AS ws FROM documents) t
       |ORDER BY doc_id""".stripMargin

  // ── train/eval decontamination (n-gram overlap) ──

  /** Distinct word n-gram array per doc (empty when the doc has fewer
    * than n tokens). Built by the compiled WordNGrams kernel: the
    * declarative transform-lambda form re-evaluates the embedded
    * tokenizer per element (interpreted, O(|tokens|²) per doc — 7× the
    * whole sf0.1 bench when it shipped that way). */
  private[ext] def ngramArr(n: Int): Column =
    graft.functions.WordNGrams(tokens(col("text")), n, distinct = true)

  private def ngramSqlArr(n: Int): String = {
    val parts = (0 until n).map(o => s"ws[i+${o + 1}]").mkString(" || ' ' || ")
    s"list_distinct(list_transform(range(greatest(len(ws) - ${n - 1}, 0)), i -> $parts))"
  }

  val DecontamN = 8
  val EvalSource = "src1"

  /** Benchmark decontamination: docs sharing any word 8-gram with the
    * held-out eval slice (source = 'src1') are flagged with their
    * overlap counts — the standard n-gram contamination check run
    * before training.
    *
    * Scale shape: the eval slice is small by construction, so its
    * distinct-gram set is a broadcast-sized build side (no hint — AQE
    * measures it); the training corpus explodes its grams ONCE and
    * semi-matches against that set. Nothing is ever pairwise across
    * the corpus — cost is |train grams| + |eval grams|. */
  def decontaminate(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), ngramArr(DecontamN).as("grams"))
    val evalGrams = docs.filter(col("source") === EvalSource)
      .select(explode(col("grams")).as("g")).distinct()
    val train = docs.filter(col("source") =!= EvalSource)
      .select(col("doc_id"), size(col("grams")).as("n_grams"),
        explode(col("grams")).as("g"))
    // the eval slice is bounded by construction (a benchmark set, not
    // a corpus) — hint it explicitly: size estimation can't see
    // through the distinct() and may otherwise build on the train side
    train.join(broadcast(evalGrams), Seq("g"))
      .groupBy("doc_id", "n_grams")
      .agg(count(lit(1)).as("n_shared"))
      .select(col("doc_id"), col("n_grams").cast("long").as("n_grams"),
        col("n_shared"),
        round(col("n_shared") / col("n_grams"), 6).as("contamination"))
      .orderBy("doc_id")
  }

  def decontaminateOracle: String =
    s"""WITH g AS (
       |  SELECT doc_id, source, ${ngramSqlArr(DecontamN)} AS grams
       |  FROM (SELECT doc_id, source, $tokensSql AS ws FROM documents) t),
       |ev AS (SELECT DISTINCT unnest(grams) AS g FROM g WHERE source = '$EvalSource'),
       |tr AS (SELECT doc_id, len(grams) AS n_grams, unnest(grams) AS g
       |       FROM g WHERE source <> '$EvalSource')
       |SELECT tr.doc_id, CAST(tr.n_grams AS BIGINT) AS n_grams,
       |  COUNT(*) AS n_shared,
       |  round(COUNT(*) / CAST(tr.n_grams AS DOUBLE), 6) AS contamination
       |FROM tr JOIN ev ON tr.g = ev.g
       |GROUP BY tr.doc_id, tr.n_grams
       |ORDER BY doc_id""".stripMargin

  // ── repetition-based quality (Gopher-style filters) ──

  /** Repetition features per doc: the fraction of tokens claimed by the
    * single most frequent unigram and bigram — the core Gopher
    * repetition-filter signals.
    *
    * One explode serves BOTH gram widths: unigrams and bigrams are
    * concatenated into a single gram stream (a bigram always contains
    * a space, a token never can — the split consumed them), so the
    * whole feature set is one explode → count → conditional-max chain:
    * two shuffles and one join instead of the naive two independent
    * chains (four shuffles, two joins) — at 100 TB the gram stream is
    * the dominant shuffle and this halves it. |bigrams| = n−1 is
    * derived, not carried. Docs shorter than the gram width keep NULL
    * ratios — SQL division semantics, so the oracle hashes identically. */
  def qualityRepetition(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    // bigrams with repeats (NOT distinct — repetition is the signal);
    // compiled kernel, same O(n²)-lambda rationale as ngramArr. Bind
    // the token array once: referenced 3× below, so CollapseProject
    // keeps the projection boundary and the tokenizer runs once/row.
    val tops = docs
      .select(col("doc_id"), tokens(col("text")).as("ws"))
      .select(col("doc_id"), size(col("ws")).as("n"),
        explode(concat(col("ws"),
          graft.functions.WordNGrams(col("ws"), 2, distinct = false))).as("g"))
      .groupBy(col("doc_id"), col("n"), col("g"),
        col("g").contains(" ").as("is_bi"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"), col("n"))
      .agg(max(when(!col("is_bi"), col("c"))).as("top_uni"),
        max(when(col("is_bi"), col("c"))).as("top_bi"))
    docs.select(col("doc_id"))
      .join(tops, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n"), lit(0)).cast("long").as("n_tokens"),
        round(col("top_uni") / col("n"), 6).as("top_word_frac"),
        round(col("top_bi") / (col("n") - 1), 6).as("top_bigram_frac"))
      .withColumn("repetitive",
        coalesce(col("top_word_frac") > 0.09 || col("top_bigram_frac") > 0.04,
          lit(false)))
      .orderBy("doc_id")
  }

  def qualityRepetitionOracle: String =
    s"""WITH toks AS (SELECT doc_id, $tokensSql AS ws FROM documents),
       |uni AS (SELECT doc_id, n_uni, MAX(c) AS top_uni FROM (
       |    SELECT doc_id, len(ws) AS n_uni, g, COUNT(*) AS c
       |    FROM (SELECT doc_id, ws, unnest(ws) AS g FROM toks) u
       |    GROUP BY doc_id, len(ws), g) t GROUP BY doc_id, n_uni),
       |big AS (SELECT doc_id,
       |    list_transform(range(greatest(len(ws) - 1, 0)),
       |      i -> ws[i+1] || ' ' || ws[i+2]) AS bgs FROM toks),
       |bi AS (SELECT doc_id, n_bi, MAX(c) AS top_bi FROM (
       |    SELECT doc_id, len(bgs) AS n_bi, g, COUNT(*) AS c
       |    FROM (SELECT doc_id, bgs, unnest(bgs) AS g FROM big) u
       |    GROUP BY doc_id, len(bgs), g) t GROUP BY doc_id, n_bi),
       |feat AS (SELECT d.doc_id,
       |    CAST(COALESCE(uni.n_uni, 0) AS BIGINT) AS n_tokens,
       |    round(uni.top_uni / CAST(uni.n_uni AS DOUBLE), 6) AS top_word_frac,
       |    round(bi.top_bi / CAST(bi.n_bi AS DOUBLE), 6) AS top_bigram_frac
       |  FROM documents d LEFT JOIN uni ON d.doc_id = uni.doc_id
       |  LEFT JOIN bi ON d.doc_id = bi.doc_id)
       |SELECT doc_id, n_tokens, top_word_frac, top_bigram_frac,
       |  COALESCE(top_word_frac > 0.09 OR top_bigram_frac > 0.04, false) AS repetitive
       |FROM feat ORDER BY doc_id""".stripMargin

  // ── cross-document boilerplate (shared n-gram) detection ──

  val BoilerN = 4
  val BoilerDf = 3
  val BoilerFracFlag = 0.05

  /** CCNet-style boilerplate detection, n-gram form (this corpus has
    * no line structure, so repeated word [[BoilerN]]-grams stand in
    * for repeated lines): a gram appearing in ≥ [[BoilerDf]] DISTINCT
    * documents is boilerplate (headers, footers, license blurbs,
    * navigation chrome — text shared across pages, not written for
    * this one), and each document reports what fraction of its gram
    * positions that shared material claims.
    *
    * Scale shape: ONE position-scale shuffle, carrying 64-bit gram
    * FINGERPRINTS instead of gram strings. Each position's 4-gram is
    * folded to `xxhash64` right after the explode (the CCNet
    * discipline — its shared-line detection hashes every line to a
    * 64-bit digest and never shuffles text), cutting the shuffled
    * row from ~60 to ~24 bytes; since no output column carries the
    * gram itself, the result is byte-identical to the string form
    * unless two DISTINCT corpus grams collide in 64 bits —
    * P ≈ q²/2⁶⁵ ≈ 10⁻⁷ at q = 10⁶ distinct grams, zero at gate
    * scale (the oracle stays on raw grams, so a collision would
    * surface as a red hash row, not silently). The hashed stream is
    * hash-partitioned by fingerprint once (`repartition(g)`);
    * everything downstream — the per-(gram, doc) occurrence
    * aggregate, the df count, and the df-threshold verdict join —
    * runs EXCHANGE-FREE on that partitioning, because
    * HashPartitioning(g) satisfies any clustering on a superset of
    * {g} and both join sides inherit it. (The earlier two-shuffle
    * string form aggregated by (doc, gram) first — near-zero
    * map-side reduction since in-doc 4-grams are mostly distinct —
    * then re-shuffled the whole frame by gram for df + join: 2× the
    * volume at 2.5× the row width; it probed 9.5× at 100×.) The df
    * threshold filters BEFORE the verdict join, so the join's build
    * side carries only grams that can flag. Nothing is pairwise
    * across documents; cost is O(gram positions) — the same
    * discipline as [[decontaminate]], which this differs from by
    * needing no reference set: the corpus itself defines "shared".
    * Docs with fewer than [[BoilerN]] tokens have no gram positions
    * and report NULL fraction (SQL division), never flagged. */
  def boilerplateNgrams(spark: SparkSession, dir: String): DataFrame = {
    val byGram = Tables.documents(spark, dir)
      .select(col("doc_id"),
        explode(graft.functions.WordNGrams(
          tokens(col("text")), BoilerN, distinct = false)).as("g0"))
      .select(col("doc_id"), xxhash64(col("g0")).as("g"))
      .repartition(col("g"))
    val perDocGram = byGram.groupBy("g", "doc_id").agg(count(lit(1)).as("c"))
    val df = perDocGram.groupBy("g")
      .agg(count(lit(1)).as("df"))
      .filter(col("df") >= BoilerDf)
    val boilerPerDoc = perDocGram.join(df, Seq("g"))
      .groupBy("doc_id")
      .agg(sum(col("c")).as("n_boiler"))
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        greatest(size(tokens(col("text"))) - (BoilerN - 1), lit(0))
          .cast("long").as("n_grams"))
      .join(boilerPerDoc, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_grams"),
        coalesce(col("n_boiler"), lit(0L)).as("n_boiler"),
        // explicit n_grams > 0 gate: Spark (ANSI off) yields NULL for
        // 0/0 but DuckDB's IEEE double division yields NaN, so the
        // NULL-for-gramless-docs contract must be stated, not inherited
        when(col("n_grams") > 0,
          round(coalesce(col("n_boiler"), lit(0L)) / col("n_grams"), 6))
          .as("boiler_frac"))
      .withColumn("flagged",
        coalesce(col("boiler_frac") >= BoilerFracFlag, lit(false)))
      .orderBy("doc_id")
  }

  def boilerplateNgramsOracle: String =
    s"""WITH toks AS (SELECT doc_id, $tokensSql AS ws FROM documents),
       |grams AS (SELECT doc_id,
       |    list_transform(range(greatest(len(ws) - ${BoilerN - 1}, 0)),
       |      i -> ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3] || ' ' || ws[i+4])
       |      AS gs FROM toks),
       |pdg AS (SELECT doc_id, g, CAST(COUNT(*) AS BIGINT) AS c
       |  FROM (SELECT doc_id, unnest(gs) AS g FROM grams) u GROUP BY doc_id, g),
       |df AS (SELECT g FROM pdg GROUP BY g HAVING COUNT(*) >= $BoilerDf),
       |bpd AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_boiler
       |  FROM pdg JOIN df USING (g) GROUP BY doc_id),
       |base AS (SELECT doc_id, CAST(greatest(len(gs), 0) AS BIGINT) AS n_grams
       |  FROM grams)
       |SELECT b.doc_id, b.n_grams,
       |  COALESCE(bpd.n_boiler, 0) AS n_boiler,
       |  CASE WHEN b.n_grams > 0 THEN
       |    round(COALESCE(bpd.n_boiler, 0) / CAST(b.n_grams AS DOUBLE), 6)
       |  ELSE NULL END AS boiler_frac,
       |  COALESCE(CASE WHEN b.n_grams > 0 THEN
       |      round(COALESCE(bpd.n_boiler, 0) / CAST(b.n_grams AS DOUBLE), 6)
       |      >= $BoilerFracFlag ELSE NULL END, false) AS flagged
       |FROM base b LEFT JOIN bpd ON b.doc_id = bpd.doc_id
       |ORDER BY b.doc_id""".stripMargin

  // ── per-document novelty: first-occurrence n-gram attribution ──

  /** Marginal novelty of each document in ingestion (doc_id) order:
    * the fraction of its distinct 4-grams whose FIRST corpus
    * occurrence is this document — the "what does this doc add"
    * signal behind incremental-dedup keep decisions and novelty-
    * ordered curricula (a doc whose grams all appeared earlier is
    * pure repetition even if no single earlier doc matches it, which
    * is exactly the case pairwise dedup misses). One gram explode →
    * per-gram min doc_id (map-side combined) → join back on gram,
    * co-partitioned with the frame that produced it; nothing
    * doc-pairwise, cost O(gram positions) like the whole gram-stream
    * family. */
  def ngramNovelty(spark: SparkSession, dir: String): DataFrame = {
    val docGrams = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(ngramArr(4)).as("g"))
    val firstSeen = docGrams.groupBy("g").agg(min("doc_id").as("first_doc"))
    Tables.documents(spark, dir)
      .select(col("doc_id"), size(ngramArr(4)).cast("long").as("n_grams"))
      .join(docGrams.join(firstSeen, Seq("g"))
          .groupBy("doc_id")
          .agg(sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L))
            .as("n_novel")),
        Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_grams"),
        coalesce(col("n_novel"), lit(0L)).as("n_novel"),
        // same 0/0 gate as boilerplateNgrams: NULL novelty for docs
        // with no grams, stated explicitly so both engines agree
        when(col("n_grams") > 0,
          round(coalesce(col("n_novel"), lit(0L)) / col("n_grams"), 6))
          .as("novelty"))
      .orderBy("doc_id")
  }

  def ngramNoveltyOracle: String =
    s"""WITH g AS (SELECT doc_id, ${ngramSqlArr(4)} AS grams
       |  FROM (SELECT doc_id, $tokensSql AS ws FROM documents) t),
       |dg AS (SELECT doc_id, unnest(grams) AS g FROM g),
       |fs AS (SELECT g, MIN(doc_id) AS first_doc FROM dg GROUP BY g),
       |nv AS (SELECT dg.doc_id,
       |    CAST(SUM(CASE WHEN fs.first_doc = dg.doc_id THEN 1 ELSE 0 END)
       |      AS BIGINT) AS n_novel
       |  FROM dg JOIN fs USING (g) GROUP BY dg.doc_id)
       |SELECT g.doc_id, CAST(len(g.grams) AS BIGINT) AS n_grams,
       |  COALESCE(nv.n_novel, 0) AS n_novel,
       |  CASE WHEN len(g.grams) > 0 THEN
       |    round(COALESCE(nv.n_novel, 0) / CAST(len(g.grams) AS DOUBLE), 6)
       |  ELSE NULL END AS novelty
       |FROM g LEFT JOIN nv ON g.doc_id = nv.doc_id
       |ORDER BY g.doc_id""".stripMargin

  // ── source-overlap matrix: pairwise trigram Jaccard between sources ──

  /** Pairwise content overlap between corpus sources: distinct word
    * trigram Jaccard for every source pair — the mix-design read
    * ("are src2 and src4 the same crawl twice?") taken before
    * weighting sources as if they were independent. The gram stream
    * explodes ONCE to a distinct (source, gram) frame; pair
    * intersections come from the gram-keyed self-join of that frame
    * (co-partitioned, vocab-bounded — never doc-pairwise) and the
    * output is (|sources| choose 2) rows. */
  def sourceOverlap(spark: SparkSession, dir: String): DataFrame = {
    val grams = Tables.documents(spark, dir)
      .select(col("source"), explode(ngramArr(3)).as("g"))
      .distinct()
    val sizes = grams.groupBy("source").agg(count(lit(1)).as("n"))
    val inter = grams
      .join(grams.select(col("source").as("source_b"), col("g")), Seq("g"))
      .filter(col("source") < col("source_b"))
      .groupBy("source", "source_b").agg(count(lit(1)).as("n_shared"))
    inter
      .join(sizes, Seq("source"))
      .join(sizes.select(col("source").as("source_b"), col("n").as("n_b")),
        Seq("source_b"))
      .select(col("source").as("source_a"), col("source_b"),
        col("n").as("n_grams_a"), col("n_b").as("n_grams_b"), col("n_shared"),
        round(col("n_shared") / (col("n") + col("n_b") - col("n_shared")), 6)
          .as("jaccard"))
      .orderBy("source_a", "source_b")
  }

  def sourceOverlapOracle: String =
    s"""WITH g AS (SELECT DISTINCT source, g
       |  FROM (SELECT source, unnest(grams) AS g
       |        FROM (SELECT source, ${ngramSqlArr(3)} AS grams
       |              FROM (SELECT source, $tokensSql AS ws FROM documents) t0)
       |          t1) t2),
       |sz AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n FROM g GROUP BY 1),
       |i AS (SELECT a.source AS source_a, b.source AS source_b,
       |    CAST(COUNT(*) AS BIGINT) AS n_shared
       |  FROM g a JOIN g b ON a.g = b.g AND a.source < b.source
       |  GROUP BY 1, 2)
       |SELECT i.source_a, i.source_b, sa.n AS n_grams_a, sb.n AS n_grams_b,
       |  i.n_shared,
       |  round(i.n_shared / CAST(sa.n + sb.n - i.n_shared AS DOUBLE), 6)
       |    AS jaccard
       |FROM i JOIN sz sa ON i.source_a = sa.source
       |JOIN sz sb ON i.source_b = sb.source
       |ORDER BY source_a, source_b""".stripMargin

  // ── DSIR-style importance weights (target-vs-corpus log-ratio) ──

  /** Model vocabulary bound for [[dsirWeights]]: the language models
    * keep only the top-V corpus tokens by count (ties broken by
    * token), so the model frame is ≤ V rows — broadcastable BY
    * CONSTRUCTION at any corpus size. The real DSIR recipe has the
    * same property via hashed n-gram features (a fixed 10k-bucket
    * table); top-V truncation is the unhashed equivalent. Tokens
    * outside the vocabulary score nothing (exactly as hash-bucketed
    * features fold tail tokens into shared buckets — the tail carries
    * no per-token signal either way); a doc of ONLY tail tokens still
    * emits its row with a NULL score (left-join contract), so the
    * weight table covers every train doc at any vocabulary size. */
  val DsirVocabV = 1024

  /** Data selection by importance resampling, unigram form: each
    * training document scores the average log-ratio of a smoothed
    * target language model (the [[EvalSource]] slice — the
    * distribution we WANT more of) against the smoothed whole-corpus
    * model. Positive = looks more like the target than the corpus
    * average; downstream selection keeps the top slice or samples
    * proportionally (the DSIR recipe, with word unigrams standing in
    * for hashed n-gram features).
    *
    * Scale shape: the model vocabulary is bounded at [[DsirVocabV]]
    * rows (top-V by count-then-token, fetched via orderBy+limit —
    * TakeOrderedAndProject, per-partition heaps, O(V) driver memory,
    * never a global sort), so the per-token log-ratio table is an
    * explicit `broadcast()` and the train stream folds against it
    * with NO shuffle: ONE fused corpus+target count aggregate (the
    * conditional target count rides the same map-side partials),
    * then a single broadcast-join + per-doc aggregate (map-side
    * combined) over the positions — two position scans total, the
    * algorithmic floor for model-build + scoring. Before this bound the
    * model join shuffled the per-doc token frame by token — a
    * low-cardinality skewed key that grew with the corpus (7.6× at
    * the 100× probe). Determinism: per-token log-ratios are rounded
    * to 9 decimals, summed decimal-exact per position, averaged,
    * rounded to 6 — partition-order-free and engine-identical (same
    * discipline as [[klSourceDivergence]]). */
  def dsirWeights(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val toks = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), explode(tokens(col("text"))).as("w"))
    // corpus AND target counts in ONE position scan (conditional count
    // rides the same map-side partials); ≤ V rows after the top-V cut,
    // eager-materialized so the two consumers don't replay the scan
    val vocab = toks.groupBy("w").agg(count(lit(1)).as("cc"),
        count(when(col("source") === EvalSource, 1)).as("ct"))
      .orderBy(col("cc").desc, col("w")).limit(DsirVocabV)
      .transform(graft.BoundedCheckpoint(_, DsirVocabV)) // the top-V cut
    val stats = vocab.agg(count(lit(1)).as("vsz"), sum("cc").as("nc"),
      sum(col("ct")).as("nt"))
    val ratio = vocab.crossJoin(broadcast(stats))
      .select(col("w"), round(
        log((coalesce(col("ct"), lit(0L)) + lit(1L)).cast("double") /
          (col("nt") + col("vsz")).cast("double")) -
          log((col("cc") + lit(1L)).cast("double") /
            (col("nc") + col("vsz")).cast("double")), 9).as("r"))
    // LEFT join: a doc made only of out-of-vocabulary tail tokens must
    // still emit a row (NULL score — "the model says nothing about
    // it"), not vanish from the weight table; the average is over
    // IN-vocab tokens, the only ones the model scores. Below the
    // vocab bound every token is in-vocab and this is the plain inner
    // form.
    toks.filter(col("source") =!= EvalSource)
      .join(broadcast(ratio), Seq("w"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        count(col("r")).as("n_invocab"),
        sum(col("r").cast(DecimalType(28, 12))).as("s"))
      .select(col("doc_id"), col("n_tokens"), col("n_invocab"),
        when(col("n_invocab") > 0,
          round(col("s").cast("double") / col("n_invocab"), 6))
          .as("avg_logratio"))
      .withColumn("toward_target",
        when(col("avg_logratio").isNotNull, col("avg_logratio") > 0))
      .orderBy("doc_id")
  }

  def dsirWeightsOracle: String =
    s"""WITH tk AS (SELECT doc_id, source, g AS w
       |  FROM (SELECT doc_id, source, unnest(ws) AS g
       |        FROM (SELECT doc_id, source, $tokensSql AS ws FROM documents) t) u),
       |cc AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS cc,
       |    CAST(COUNT(CASE WHEN source = '$EvalSource' THEN 1 END) AS BIGINT) AS ct
       |  FROM tk GROUP BY w),
       |vocab AS (SELECT w, cc, ct FROM cc ORDER BY cc DESC, w LIMIT $DsirVocabV),
       |st AS (SELECT CAST(COUNT(*) AS BIGINT) AS vsz,
       |    CAST(SUM(cc) AS BIGINT) AS nc,
       |    CAST(SUM(ct) AS BIGINT) AS nt FROM vocab),
       |ratio AS (SELECT m.w, round(
       |    ln(CAST(m.ct + 1 AS DOUBLE) / CAST(st.nt + st.vsz AS DOUBLE)) -
       |    ln(CAST(m.cc + 1 AS DOUBLE) / CAST(st.nc + st.vsz AS DOUBLE)), 9) AS r
       |  FROM vocab m, st)
       |SELECT tk.doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
       |  CAST(COUNT(ratio.r) AS BIGINT) AS n_invocab,
       |  CASE WHEN COUNT(ratio.r) > 0 THEN
       |    round(CAST(SUM(CAST(ratio.r AS DECIMAL(28,12))) AS DOUBLE)
       |      / CAST(COUNT(ratio.r) AS DOUBLE), 6) END AS avg_logratio,
       |  CASE WHEN COUNT(ratio.r) > 0 THEN
       |    round(CAST(SUM(CAST(ratio.r AS DECIMAL(28,12))) AS DOUBLE)
       |      / CAST(COUNT(ratio.r) AS DOUBLE), 6) > 0 END AS toward_target
       |FROM tk LEFT JOIN ratio ON tk.w = ratio.w
       |WHERE tk.source <> '$EvalSource'
       |GROUP BY tk.doc_id ORDER BY tk.doc_id""".stripMargin

  // ── per-group top-k (vocabulary head per language) ──

  /** Top 5 tokens per language by frequency — the grouped-top-k
    * operator (rank within group over an aggregate). One count
    * aggregate (map-side combined) then a window over |langs|×|vocab|
    * rows, NOT the raw token stream; ties broken lexically. */
  def topTokensPerLang(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val counts = Tables.documents(spark, dir)
      .select(col("lang"), explode(tokens(col("text"))).as("word"))
      .groupBy("lang", "word").agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy("lang").orderBy(col("cnt").desc, col("word"))
    counts.withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= 5)
      .orderBy("lang", "rk")
  }

  def topTokensPerLangOracle: String =
    s"""WITH counts AS (
       |  SELECT lang, g AS word, COUNT(*) AS cnt
       |  FROM (SELECT lang, unnest(ws) AS g
       |        FROM (SELECT lang, $tokensSql AS ws FROM documents) t) u
       |  GROUP BY lang, g),
       |ranked AS (SELECT lang, word, cnt,
       |    row_number() OVER (PARTITION BY lang ORDER BY cnt DESC, word) AS rk
       |  FROM counts)
       |SELECT lang, word, cnt, CAST(rk AS BIGINT) AS rk
       |FROM ranked WHERE rk <= 5 ORDER BY lang, rk""".stripMargin

  // ── tf-idf term weighting (per-doc top terms) ──

  /** Top 5 terms per document by smoothed tf-idf
    * (tf · (ln((N+1)/(df+1)) + 1)) — the classic salient-term extractor
    * for topic tagging / keyword indexing in a curation pipeline.
    *
    * Plan shape: term frequencies are one explode→groupBy (map-side
    * combined, shuffled on (doc, term)); document frequencies aggregate
    * THAT table (never the raw token stream) shuffled on term; N is a
    * two-stage 1-row count broadcast into the projection. The rank
    * window partitions by doc_id (massive cardinality — no parallelism
    * collapse) and Spark 4 plans the rk<=5 filter as a partial
    * WindowGroupLimit before the exchange. Scores are rounded to 6dp
    * BEFORE ranking with a lexical tiebreak, so ordering is
    * engine-identical despite the transcendental ln. */
  def tfidfTopTerms(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(spark, dir)
    val tf = docs.select(col("doc_id"), explode(tokens(col("text"))).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    val scored = tf.join(df, Seq("term")).join(broadcast(n))
      .select(col("doc_id"), col("term"), col("tf"),
        round(col("tf") * (log((col("n_docs") + lit(1.0)) / (col("df") + lit(1.0)))
          + lit(1.0)), 6).as("score"))
    val w = Window.partitionBy("doc_id").orderBy(col("score").desc, col("term"))
    scored.withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= 5)
      .orderBy("doc_id", "rk")
  }

  def tfidfTopTermsOracle: String =
    s"""WITH tfq AS (
       |  SELECT doc_id, g AS term, COUNT(*) AS tf
       |  FROM (SELECT doc_id, unnest(ws) AS g
       |        FROM (SELECT doc_id, $tokensSql AS ws FROM documents) t) u
       |  GROUP BY doc_id, g),
       |dfq AS (SELECT term, COUNT(*) AS df FROM tfq GROUP BY term),
       |nq AS (SELECT COUNT(*) AS n_docs FROM documents),
       |scored AS (
       |  SELECT doc_id, tfq.term AS term, tf,
       |    round(tf * (ln((n_docs + 1.0) / (df + 1.0)) + 1.0), 6) AS score
       |  FROM tfq, dfq, nq WHERE tfq.term = dfq.term)
       |SELECT doc_id, term, CAST(tf AS BIGINT) AS tf, score, CAST(rk AS BIGINT) AS rk
       |FROM (SELECT *, row_number() OVER (PARTITION BY doc_id
       |        ORDER BY score DESC, term) AS rk FROM scored) r
       |WHERE rk <= 5 ORDER BY doc_id, rk""".stripMargin

  // ── context-window chunking ──

  val ChunkSize = 50
  val ChunkStride = 40

  /** Overlapping context-window chunking: split each document into
    * 50-token windows advancing by 40 tokens (10-token overlap) — the
    * standard packing step before tokenization for training/embedding.
    * Chunks are identified by (doc_id, chunk_id) and fingerprinted
    * (md5 of the joined window) rather than re-emitting the text.
    *
    * A pure generate→project plan: one codegen'd `sequence` of window
    * starts per doc, posexplode, `slice` per start — no shuffle except
    * the verification sort; chunk count per doc is ⌈n/stride⌉ so output
    * scales linearly with token volume. The `size>0` guard keeps
    * `sequence` from counting DOWN on empty docs (sequence(0,-1)). */
  def docChunks(spark: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(spark, dir)
      .select(col("doc_id"), tokens(col("text")).as("ws"))
      .filter(size(col("ws")) > 0)
    toks.select(col("doc_id"), size(col("ws")).cast("long").as("n_tokens"),
        posexplode(sequence(lit(0), size(col("ws")) - 1, lit(ChunkStride)))
          .as(Seq("chunk_id", "start")),
        col("ws"))
      .select(col("doc_id"), col("n_tokens"),
        col("chunk_id").cast("long").as("chunk_id"),
        col("start").cast("long").as("start"),
        slice(col("ws"), col("start") + 1, lit(ChunkSize)).as("chunk"))
      .select(col("doc_id"), col("n_tokens"), col("chunk_id"), col("start"),
        size(col("chunk")).cast("long").as("n_chunk_tokens"),
        md5(array_join(col("chunk"), " ")).as("chunk_md5"))
      .orderBy("doc_id", "chunk_id")
  }

  val PackBudget = 4096L

  /** Sequence packing: assign each document a bin in a stream of
    * concatenated fixed-budget context windows (per source, in doc_id
    * order) — bin = ⌊start_offset / budget⌋ where start_offset is the
    * running token count before the doc. This is the deterministic
    * offset-based packing a pre-training concat pipeline uses; the
    * whole operator is one running-sum window partitioned by source
    * (high cardinality at scale ⇒ shards; within a source the running
    * sum is the sequential-concat semantics itself). The division is
    * exact: offsets ≪ 2^52, so the double floor is engine-identical. */
  def docPack(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("source").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"),
        size(tokens(col("text"))).cast("long").as("n_tokens"))
      .withColumn("start_offset",
        sum(col("n_tokens")).over(w) - col("n_tokens"))
      .withColumn("bin_id",
        floor(col("start_offset") / lit(PackBudget.toDouble)).cast("long"))
      .orderBy("source", "doc_id")
  }

  def docPackOracle: String =
    s"""SELECT doc_id, source, n_tokens,
       |  CAST(cum - n_tokens AS BIGINT) AS start_offset,
       |  CAST(FLOOR((cum - n_tokens) / $PackBudget.0) AS BIGINT) AS bin_id
       |FROM (
       |  SELECT doc_id, source, CAST(len(ws) AS BIGINT) AS n_tokens,
       |    SUM(CAST(len(ws) AS BIGINT)) OVER (PARTITION BY source
       |      ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING
       |      AND CURRENT ROW) AS cum
       |  FROM (SELECT doc_id, source, $tokensSql AS ws FROM documents) t) c
       |ORDER BY source, doc_id""".stripMargin

  /** Span-corruption denoising pairs (T5-style, Raffel et al. 2020) —
    * the objective-side data-prep step after curation: each document
    * becomes an (input, target) pair where masked spans are replaced
    * by numbered sentinels in the input and the target lists each
    * sentinel followed by the tokens it hid. Masking is a
    * DETERMINISTIC 15% token-level Bernoulli draw from the
    * engine-neutral md5(doc_id:pos) convention (no rand() — the
    * sampling-family rule: a task retry must re-derive the identical
    * mask), with adjacent masked tokens merging into one span (the
    * gap-islands identity, pos − rank over masked rows — the
    * substring-runs idiom) and sentinels numbered <extra_id_k> in
    * span order. Output per doc: token/mask/span counts + both
    * rendered strings. Scale shape: one tokenize-explode, windows
    * partitioned BY DOCUMENT (never corpus-global), and the pair is
    * reassembled by an ordered struct-sort fold per doc — linear,
    * loader-ready, deterministic. */
  def spanCorruption(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = Tables.documents(spark, dir)
      .select(col("doc_id"), posexplode(tokens(col("text"))).as(Seq("pos", "w")))
    val flagged = toks.withColumn("m",
      conv(substring(md5(concat_ws(":", col("doc_id"), col("pos"))), 1, 8),
        16, 10).cast("long") % 100 < 15)
    val masked = flagged.filter(col("m"))
      .withColumn("grp", col("pos") - row_number().over(
        Window.partitionBy("doc_id").orderBy("pos")))
    val withK = masked
      .withColumn("k", dense_rank().over(
        Window.partitionBy("doc_id").orderBy("grp")).cast("long") - 1)
      .withColumn("span_start", row_number().over(
        Window.partitionBy("doc_id", "grp").orderBy("pos")) === 1)
    val sentinel = concat(lit("<extra_id_"), col("k"), lit(">"))
    val inputPieces = flagged.filter(!col("m"))
      .select(col("doc_id"), col("pos"), lit(0).as("sub"), col("w").as("piece"))
      .unionByName(withK.filter(col("span_start"))
        .select(col("doc_id"), col("pos"), lit(0).as("sub"),
          sentinel.as("piece")))
    val targetPieces = withK.filter(col("span_start"))
      .select(col("doc_id"), col("pos"), lit(0).as("sub"), sentinel.as("piece"))
      .unionByName(withK.select(col("doc_id"), col("pos"), lit(1).as("sub"),
        col("w").as("piece")))
    def render(pieces: DataFrame, out: String): DataFrame =
      pieces.groupBy("doc_id")
        .agg(array_join(transform(
          array_sort(collect_list(struct(col("pos"), col("sub"), col("piece")))),
          s => s.getField("piece")), " ").as(out))
    val counts = flagged.groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("m"), 1L).otherwise(0L)).as("n_masked"))
    val spans = withK.filter(col("span_start"))
      .groupBy("doc_id").agg(count(lit(1)).as("n_spans"))
    counts
      .join(spans, Seq("doc_id"), "left")
      .join(render(inputPieces, "input_text"), Seq("doc_id"), "left")
      .join(render(targetPieces, "target_text"), Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("n_masked"), lit(0L)).as("n_masked"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("input_text"), lit("")).as("input_text"),
        coalesce(col("target_text"), lit("")).as("target_text"))
      .orderBy("doc_id")
  }

  def spanCorruptionOracle: String =
    s"""WITH toks AS (SELECT doc_id, pos, ws[pos + 1] AS w FROM (
       |    SELECT doc_id, ws, unnest(range(len(ws))) AS pos
       |    FROM (SELECT doc_id, $tokensSql AS ws FROM documents) d) t),
       |flagged AS (SELECT doc_id, pos, w,
       |    CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR) || ':'
       |      || CAST(pos AS VARCHAR)), 1, 8)) AS BIGINT) % 100 < 15 AS m
       |  FROM toks),
       |masked AS (SELECT doc_id, pos, w,
       |    pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
       |  FROM flagged WHERE m),
       |withk AS (SELECT doc_id, pos, w, grp,
       |    dense_rank() OVER (PARTITION BY doc_id ORDER BY grp) - 1 AS k,
       |    row_number() OVER (PARTITION BY doc_id, grp ORDER BY pos) = 1
       |      AS span_start
       |  FROM masked),
       |ip AS (SELECT doc_id, pos, 0 AS sub, w AS piece FROM flagged
       |    WHERE NOT m
       |  UNION ALL
       |  SELECT doc_id, pos, 0, '<extra_id_' || CAST(k AS VARCHAR) || '>'
       |  FROM withk WHERE span_start),
       |tp AS (SELECT doc_id, pos, 0 AS sub,
       |    '<extra_id_' || CAST(k AS VARCHAR) || '>' AS piece
       |  FROM withk WHERE span_start
       |  UNION ALL
       |  SELECT doc_id, pos, 1, w FROM withk),
       |ir AS (SELECT doc_id, string_agg(piece, ' ' ORDER BY pos, sub)
       |    AS input_text FROM ip GROUP BY doc_id),
       |tr AS (SELECT doc_id, string_agg(piece, ' ' ORDER BY pos, sub)
       |    AS target_text FROM tp GROUP BY doc_id),
       |cnt AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
       |    CAST(COALESCE(SUM(CASE WHEN m THEN 1 END), 0) AS BIGINT)
       |      AS n_masked
       |  FROM flagged GROUP BY doc_id),
       |sp AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_spans
       |  FROM withk WHERE span_start GROUP BY doc_id)
       |SELECT c.doc_id, c.n_tokens, c.n_masked,
       |  CAST(COALESCE(sp.n_spans, 0) AS BIGINT) AS n_spans,
       |  COALESCE(ir.input_text, '') AS input_text,
       |  COALESCE(tr.target_text, '') AS target_text
       |FROM cnt c
       |LEFT JOIN sp ON c.doc_id = sp.doc_id
       |LEFT JOIN ir ON c.doc_id = ir.doc_id
       |LEFT JOIN tr ON c.doc_id = tr.doc_id
       |ORDER BY c.doc_id""".stripMargin

  /** Padding-waste accounting by power-of-two length bucket — the
    * batching-efficiency audit run before fixed-shape training or
    * batch inference: every doc padded up to the next power-of-two
    * token length, per bucket the doc count, real token volume, padded
    * volume, and the waste fraction 1 − real/padded. The bucket is
    * computed with INTEGER bit arithmetic (1 << bitlength(n−1), n≤1
    * → 1), never floating log2: an IEEE log2 that lands a hair above
    * an exact power would mis-bucket boundary docs differently per
    * engine, and boundary docs (n exactly a power of two) are the
    * common case after chunking. One projection + one
    * |buckets|-row hash aggregate with map-side partials — the same
    * wordcount shape that holds at any corpus size. */
  def paddingWasteBuckets(spark: SparkSession, dir: String): DataFrame = {
    val nTok = size(tokens(col("text"))).cast("long")
    Tables.documents(spark, dir)
      .select(nTok.as("n_tokens"))
      // shiftleft's Scala binding takes a literal shift; the SQL form
      // accepts a column-valued one
      .withColumn("bucket", when(col("n_tokens") <= 1, 1L)
        .otherwise(expr(
          "shiftleft(CAST(1 AS BIGINT), length(bin(n_tokens - 1)))")))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("real_tokens"))
      .withColumn("padded_tokens", col("bucket") * col("n_docs"))
      .withColumn("waste_frac",
        round(lit(1.0) - col("real_tokens").cast("double") /
          col("padded_tokens"), 6))
      .orderBy("bucket")
  }

  def paddingWasteBucketsOracle: String =
    s"""WITH t AS (SELECT CAST(len($tokensSql) AS BIGINT) AS n FROM documents),
       |b AS (SELECT n, CASE WHEN n <= 1 THEN 1
       |    ELSE (1::BIGINT << length(bin(n - 1))) END AS bucket FROM t)
       |SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |  CAST(SUM(n) AS BIGINT) AS real_tokens,
       |  CAST(bucket * COUNT(*) AS BIGINT) AS padded_tokens,
       |  round(1.0 - CAST(SUM(n) AS DOUBLE) / (bucket * COUNT(*)), 6)
       |    AS waste_frac
       |FROM b GROUP BY bucket ORDER BY bucket""".stripMargin

  def docChunksOracle: String =
    s"""WITH t AS (SELECT doc_id, $tokensSql AS ws FROM documents),
       |s AS (SELECT doc_id, ws, len(ws) AS n_tokens,
       |        unnest(range(0, len(ws), $ChunkStride)) AS start
       |      FROM t WHERE len(ws) > 0),
       |c AS (SELECT doc_id, n_tokens, start,
       |        list_slice(ws, start + 1, start + $ChunkSize) AS chunk FROM s)
       |SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
       |  CAST(start // $ChunkStride AS BIGINT) AS chunk_id,
       |  CAST(start AS BIGINT) AS start,
       |  CAST(len(chunk) AS BIGINT) AS n_chunk_tokens,
       |  md5(array_to_string(chunk, ' ')) AS chunk_md5
       |FROM c ORDER BY doc_id, chunk_id""".stripMargin

  /** Per-source corpus profile — the dashboard scan behind a data-mix
    * decision: docs, exact token volume, and quality-cascade pass rate
    * per source. One projection + one tiny aggregate; the pass rate
    * divides two exact counts (one IEEE division per source). */
  def sourceQualityProfile(spark: SparkSession, dir: String): DataFrame = {
    val ws = tokens(col("text"))
    val nTok = size(ws).cast("long")
    val nStop = size(filter(ws, w => w.isin(stopwords: _*))).cast("long")
    val nDist = size(array_distinct(ws)).cast("long")
    val passes = nTok >= 20 &&
      nStop.cast("double") / nTok >= 0.02 &&
      nDist.cast("double") / nTok >= 0.35
    Tables.documents(spark, dir)
      .select(col("source"), nTok.as("n_tokens"),
        when(passes, 1L).otherwise(0L).as("pass"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("total_tokens"),
        (sum(col("pass")).cast("double") / count(lit(1))).as("pass_rate"))
      .orderBy("source")
  }

  def sourceQualityProfileOracle: String =
    s"""WITH t AS (SELECT source, $tokensSql AS ws FROM documents),
       |m AS (SELECT source,
       |  CAST(len(ws) AS BIGINT) AS n_tokens,
       |  CASE WHEN CAST(len(ws) AS BIGINT) >= 20
       |        AND CAST(len(list_filter(ws, w -> w IN ($stopwordsSqlList))) AS DOUBLE)
       |            / len(ws) >= 0.02
       |        AND CAST(len(list_distinct(ws)) AS DOUBLE) / len(ws) >= 0.35
       |       THEN 1 ELSE 0 END AS pass
       |  FROM t)
       |SELECT source, COUNT(*) AS n_docs,
       |  CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
       |  CAST(SUM(pass) AS DOUBLE) / COUNT(*) AS pass_rate
       |FROM m GROUP BY source ORDER BY source""".stripMargin

  /** Quality filter with REASONS — the curation audit every corpus
    * report needs: each doc is assigned the FIRST failing rule of a
    * fixed cascade (too_short → low_stopword → low_diversity → pass)
    * and the corpus is summarized per reason. The cascade is a single
    * codegen'd CASE projection over the token stream (zero shuffle
    * before the tiny per-reason aggregate); rule order is fixed so the
    * assignment is deterministic, and the short-circuit means ratio
    * rules never divide by a zero token count (too_short fires first).
    * Thresholds sit inside the fixture's metric distribution so every
    * rule actually fires (p05 n_tokens=16, p25 stopword_ratio=0.04,
    * p25 distinct_ratio=0.36). */
  /** First-failing-rule quality verdict for one document's text — the
    * cascade shared by the batch report and the streaming
    * scan-on-ingest monitor (same expression, same oracle SQL). */
  private[graft] def qualityReason(text: Column): Column = {
    val ws = tokens(text)
    val nTok = size(ws).cast("long")
    val nStop = size(filter(ws, w => w.isin(stopwords: _*))).cast("long")
    val nDist = size(array_distinct(ws)).cast("long")
    when(nTok < 20, "too_short")
      .when(nStop.cast("double") / nTok < 0.02, "low_stopword")
      .when(nDist.cast("double") / nTok < 0.35, "low_diversity")
      .otherwise("pass")
  }

  /** Oracle twin of [[qualityReason]], over a relation exposing
    * `n_tokens`, `n_stop`, `n_dist`. */
  private[graft] def qualityReasonCaseSql: String =
    """CASE WHEN n_tokens < 20 THEN 'too_short'
      |       WHEN CAST(n_stop AS DOUBLE) / n_tokens < 0.02 THEN 'low_stopword'
      |       WHEN CAST(n_dist AS DOUBLE) / n_tokens < 0.35 THEN 'low_diversity'
      |       ELSE 'pass' END""".stripMargin

  /** The token-list SQL expression, for oracle builders outside this
    * package (the streaming monitor's twin). */
  private[graft] def tokensSqlShared: String = tokensSql

  /** The measures feeding [[qualityReasonCaseSql]], as a SELECT-list
    * fragment over a relation exposing `ws` (the token list). */
  private[graft] def qualityMeasuresSql: String =
    s"""CAST(len(ws) AS BIGINT) AS n_tokens,
       |  CAST(len(list_filter(ws, w -> w IN ($stopwordsSqlList))) AS BIGINT) AS n_stop,
       |  CAST(len(list_distinct(ws)) AS BIGINT) AS n_dist""".stripMargin

  def qualityFilterReasons(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(qualityReason(col("text")).as("reason"),
        size(tokens(col("text"))).cast("long").as("n_tokens"))
      .groupBy("reason")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("total_tokens"))
      .orderBy("reason")

  def qualityFilterReasonsOracle: String =
    s"""WITH t AS (SELECT doc_id, $tokensSql AS ws FROM documents),
       |m AS (SELECT
       |  $qualityMeasuresSql
       |  FROM t),
       |r AS (SELECT n_tokens,
       |  $qualityReasonCaseSql AS reason
       |  FROM m)
       |SELECT reason, COUNT(*) AS n_docs,
       |  CAST(SUM(n_tokens) AS BIGINT) AS total_tokens
       |FROM r GROUP BY reason ORDER BY reason""".stripMargin

  // ── unigram-LM perplexity: the language-model quality filter ──

  /** Unigram-model vocabulary bound: the broadcast model frame is
    * AT MOST this many rows plus the OOV bucket, whatever the corpus
    * size — the [[DsirVocabV]] discipline applied to the perplexity
    * screens. 64k tokens cover any natural-language corpus's head;
    * everything below folds into one OOV bucket. */
  val PplVocabV = 65536

  /** Fixture-pinned vocabulary bound for the REGISTERED query: the
    * synthetic corpus has ~31 distinct tokens, so a production-sized V
    * would make the cut a structural no-op and leave the OOV scoring
    * path dead at every scale the oracle checks. 16 < 31 forces real
    * tail mass through the OOV bucket, so the oracle hashes both
    * branches of the model. */
  val PplFixtureVocabV = 16

  /** The bounded unigram log-prob model shared by the perplexity
    * screens: from a (doc_id, tok) position stream, the top-`vocabV`
    * token frame with round-9 ln(c/total) (≤ vocabV rows —
    * TakeOrderedAndProject) and the 1-row OOV bucket ln(tail/total)
    * (null when the cut covered the whole vocabulary — then never
    * consumed). Both frames are broadcast-safe by construction. */
  private def unigramLogpModel(toksOfAll: DataFrame,
                               vocabV: Int): (DataFrame, DataFrame) = {
    val vocab = toksOfAll.groupBy("tok").agg(count(lit(1)).as("c"))
    val total = vocab.agg(sum(col("c")).as("tot"))
    val top = vocab.orderBy(col("c").desc, col("tok")).limit(vocabV)
    val topMass = top.agg(coalesce(sum(col("c")), lit(0L)).as("ctop"))
    val model = top.crossJoin(broadcast(total))
      .select(col("tok"),
        round(log(col("c").cast("double") / col("tot").cast("double")), 9)
          .as("logp"))
    val oov = total.crossJoin(broadcast(topMass))
      .select(when(col("tot") > col("ctop"),
        round(log((col("tot") - col("ctop")).cast("double") /
          col("tot").cast("double")), 9)).as("oov_logp"))
    (model, oov)
  }

  /** Per-document perplexity under a corpus-trained unigram model —
    * the classic LM-based quality screen (documents whose token
    * distribution diverges from the corpus norm score high and get
    * filtered/bucketed). Two passes, both scale-shaped: (1) the model
    * is one hash aggregation CUT TO THE TOP-`vocabV` TOKENS (count
    * desc, token asc — a TakeOrderedAndProject, per-partition heaps,
    * never a global sort) with the remaining tail folded into ONE OOV
    * bucket whose probability is the tail's total mass — so the
    * broadcast frame is ≤ vocabV+1 rows at ANY corpus size, where the
    * unbounded form broadcast one row per distinct corpus token
    * (10⁸–10⁹ rows at 100 TB, the r10 weak mark); (2) scoring
    * left-joins the token stream against the bounded model, OOV
    * tokens taking the bucket's log-prob. Determinism: the cut's
    * (count, token) order is total, each ln p is rounded to 9 then
    * decimal-summed (partition-order-free), the average and exp()
    * re-rounded at the end. */
  def perplexityUnigram(spark: SparkSession, dir: String,
                        vocabV: Int = PplVocabV): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val toksOf = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
    val (model, oov) = unigramLogpModel(toksOf, vocabV)
    toksOf.join(broadcast(model), Seq("tok"), "left")
      .crossJoin(broadcast(oov))
      .select(col("doc_id"),
        coalesce(col("logp"), col("oov_logp")).as("logp"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        (sum(col("logp").cast(DecimalType(28, 12))).cast("double") /
          count(lit(1))).as("avg_logp"))
      .select(col("doc_id"), col("n_tokens"),
        round(col("avg_logp"), 6).as("avg_logp"),
        round(exp(negate(col("avg_logp"))), 6).as("ppl"))
      .orderBy("doc_id")
  }

  def perplexityUnigramOracle: String =
    perplexityUnigramOracle(PplFixtureVocabV)

  def perplexityUnigramOracle(vocabV: Int): String =
    s"""WITH tk AS (SELECT doc_id, g AS tok
       |  FROM (SELECT doc_id, unnest(ws) AS g
       |        FROM (SELECT doc_id, $tokensSql AS ws FROM documents) t) u),
       |v AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS c FROM tk GROUP BY 1),
       |tt AS (SELECT CAST(SUM(c) AS BIGINT) AS tot FROM v),
       |top AS (SELECT tok, c FROM v ORDER BY c DESC, tok LIMIT $vocabV),
       |tm AS (SELECT COALESCE(CAST(SUM(c) AS BIGINT), 0) AS ctop FROM top),
       |m AS (SELECT tok,
       |    round(ln(CAST(c AS DOUBLE) / CAST(tot AS DOUBLE)), 9) AS logp
       |  FROM top, tt),
       |ov AS (SELECT CASE WHEN tot > ctop THEN
       |    round(ln(CAST(tot - ctop AS DOUBLE) / CAST(tot AS DOUBLE)), 9)
       |  END AS oov_logp FROM tt, tm),
       |s AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
       |    CAST(SUM(CAST(COALESCE(m.logp, ov.oov_logp) AS DECIMAL(28,12)))
       |      AS DOUBLE) / COUNT(*) AS avg_logp
       |  FROM tk LEFT JOIN m USING (tok), ov GROUP BY doc_id)
       |SELECT doc_id, n_tokens, round(avg_logp, 6) AS avg_logp,
       |  round(exp(-avg_logp), 6) AS ppl
       |FROM s ORDER BY doc_id""".stripMargin

  /** Sliding-window width of the span-quality screen. */
  val PplSpanW = 20

  /** WORST span per document under the bounded unigram model — the
    * localization step after [[perplexityUnigram]] flags a document:
    * a doc-level perplexity says "something is off", the worst
    * [[PplSpanW]]-token window says WHERE (the injected boilerplate,
    * the base64 blob, the language switch), which is what a surgical
    * excision or review UI needs. Every position scores through the
    * same top-V + OOV model ([[unigramLogpModel]] — ≤V+1-row
    * broadcast), window sums ride a per-document ROWS frame
    * (partitioned by doc — no global window), and the per-doc argmin
    * folds in the same aggregation. Documents shorter than the window
    * emit no row (no complete span exists). Determinism: round-9
    * logps decimal-summed per window (exact), the argmin ranks on the
    * EXACT decimal sum with a position tiebreak, and the division
    * happens once at the end. */
  def pplSpanOutliers(spark: SparkSession, dir: String,
                      vocabV: Int = PplVocabV): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types.DecimalType
    val posToks = Tables.documents(spark, dir)
      .select(col("doc_id"), posexplode(tokens(col("text"))).as(Seq("p", "tok")))
    val (model, oov) = unigramLogpModel(
      posToks.select(col("doc_id"), col("tok")), vocabV)
    val lp = posToks.join(broadcast(model), Seq("tok"), "left")
      .crossJoin(broadcast(oov))
      .select(col("doc_id"), col("p"),
        coalesce(col("logp"), col("oov_logp"))
          .cast(DecimalType(28, 12)).as("logp"))
    val spanW = Window.partitionBy("doc_id").orderBy("p")
      .rowsBetween(Window.currentRow, PplSpanW - 1)
    val docW = Window.partitionBy("doc_id")
    val spans = lp
      .withColumn("n_tokens", count(lit(1)).over(docW))
      .withColumn("span_sum", sum(col("logp")).over(spanW))
      .filter(col("p") <= col("n_tokens") - PplSpanW)
    val rank = Window.partitionBy("doc_id")
      .orderBy(col("span_sum").asc, col("p").asc)
    spans.withColumn("rk", row_number().over(rank))
      .filter(col("rk") === 1)
      .select(col("doc_id"), col("n_tokens"), col("p").as("span_start"),
        round(col("span_sum").cast("double") / PplSpanW, 6)
          .as("span_avg_logp"),
        round(exp(negate(col("span_sum").cast("double") / PplSpanW)), 6)
          .as("span_ppl"))
      .orderBy("doc_id")
  }

  def pplSpanOutliersOracle: String = pplSpanOutliersOracle(PplFixtureVocabV)

  def pplSpanOutliersOracle(vocabV: Int): String =
    s"""WITH t AS (SELECT doc_id, $tokensSql AS ws FROM documents),
       |tkp AS (SELECT doc_id, ws, unnest(range(len(ws))) AS p FROM t),
       |tk AS (SELECT doc_id, p, ws[p + 1] AS tok FROM tkp),
       |v AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS c FROM tk GROUP BY 1),
       |tt AS (SELECT CAST(SUM(c) AS BIGINT) AS tot FROM v),
       |top AS (SELECT tok, c FROM v ORDER BY c DESC, tok LIMIT $vocabV),
       |tm AS (SELECT COALESCE(CAST(SUM(c) AS BIGINT), 0) AS ctop FROM top),
       |m AS (SELECT tok,
       |    round(ln(CAST(c AS DOUBLE) / CAST(tot AS DOUBLE)), 9) AS logp
       |  FROM top, tt),
       |ov AS (SELECT CASE WHEN tot > ctop THEN
       |    round(ln(CAST(tot - ctop AS DOUBLE) / CAST(tot AS DOUBLE)), 9)
       |  END AS oov_logp FROM tt, tm),
       |lp AS (SELECT tk.doc_id, tk.p,
       |    CAST(COALESCE(m.logp, ov.oov_logp) AS DECIMAL(28,12)) AS logp
       |  FROM tk LEFT JOIN m USING (tok), ov),
       |sp AS (SELECT doc_id, p,
       |    CAST(COUNT(*) OVER (PARTITION BY doc_id) AS BIGINT) AS n_tokens,
       |    SUM(logp) OVER (PARTITION BY doc_id ORDER BY p
       |      ROWS BETWEEN CURRENT ROW AND ${PplSpanW - 1} FOLLOWING)
       |      AS span_sum
       |  FROM lp),
       |r AS (SELECT doc_id, n_tokens, p, span_sum,
       |    row_number() OVER (PARTITION BY doc_id
       |      ORDER BY span_sum, p) AS rk
       |  FROM sp WHERE p <= n_tokens - $PplSpanW)
       |SELECT doc_id, n_tokens, CAST(p AS INT) AS span_start,
       |  round(CAST(span_sum AS DOUBLE) / $PplSpanW, 6) AS span_avg_logp,
       |  round(exp(-(CAST(span_sum AS DOUBLE) / $PplSpanW)), 6) AS span_ppl
       |FROM r WHERE rk = 1 ORDER BY doc_id""".stripMargin

  /** The dataset card in one row: corpus size, mix breadth, exact
    * token volume, and the exact-duplicate rate — the headline
    * numbers every dataset release publishes. Three independent tiny
    * aggregates (docs/sources/langs + token volume + distinct
    * fingerprints) cross-joined as 1-row frames; each is one
    * map-side-partial hash agg over the scan, so the whole card costs
    * ~one pass at any scale. */
  def corpusSummary(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val base = docs.agg(
      count(lit(1)).as("n_docs"),
      countDistinct(col("source")).as("n_sources"),
      countDistinct(col("lang")).as("n_langs"),
      sum(col("n_chars")).as("total_chars"))
    val toks = docs.select(explode(tokens(col("text"))).as("tok"))
      .agg(count(lit(1)).as("total_tokens"),
        countDistinct(col("tok")).as("vocab_size"))
    val dups = docs.agg(countDistinct(md5(col("text"))).as("n_unique_texts"))
    base.crossJoin(broadcast(toks)).crossJoin(broadcast(dups))
      .select(col("n_docs"), col("n_sources"), col("n_langs"),
        col("total_chars"), col("total_tokens"), col("vocab_size"),
        col("n_unique_texts"),
        round(lit(1.0) - col("n_unique_texts").cast("double") /
          col("n_docs").cast("double"), 6).as("exact_dup_rate"))
  }

  def corpusSummaryOracle: String =
    s"""WITH base AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
       |    CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
       |    CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
       |    CAST(SUM(n_chars) AS BIGINT) AS total_chars
       |  FROM documents),
       |tk AS (SELECT CAST(COUNT(*) AS BIGINT) AS total_tokens,
       |    CAST(COUNT(DISTINCT g) AS BIGINT) AS vocab_size
       |  FROM (SELECT unnest(ws) AS g
       |        FROM (SELECT $tokensSql AS ws FROM documents) t) u),
       |dup AS (SELECT CAST(COUNT(DISTINCT md5(text)) AS BIGINT)
       |    AS n_unique_texts FROM documents)
       |SELECT n_docs, n_sources, n_langs, total_chars, total_tokens,
       |  vocab_size, n_unique_texts,
       |  round(1.0 - CAST(n_unique_texts AS DOUBLE) / CAST(n_docs AS DOUBLE), 6)
       |    AS exact_dup_rate
       |FROM base, tk, dup""".stripMargin

  /** Zipf profile: OLS fit of ln(freq) ~ ln(rank) over the
    * frequency-ranked vocabulary — natural language sits near slope
    * −1, so the slope is a one-number "does this corpus look like
    * language" check (and a drift alarm between ingest batches). The
    * corpus collapses to the vocabulary in one hash agg. The
    * regression never materializes a vocabulary-wide rank window
    * (which would be one sorted partition at web-corpus vocabulary
    * sizes): ln(rank) only feeds SUMS, and ranks within one count
    * value c form the contiguous block [s_c, s_c+m_c) regardless of
    * the lexical tiebreak — so the rank multiset is derived from a
    * prefix sum over the DISTINCT-count frame (≤ O(√Σtf) rows, since
    * k distinct counts need Σc ≥ k(k+1)/2 tokens) and each block's
    * ranks are generated by a chunked sequence-explode that
    * repartitions before expansion (the c=1 hapax block, ~half the
    * vocabulary, spreads across tasks instead of ranking in one).
    * The regression is decimal-exact sums of rounded ln terms —
    * partition-order-free, and identical per-row values to the
    * window form, so the windowed oracle hashes equal. */
  def zipfProfile(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types.DecimalType
    def dsum(c: Column): Column =
      sum(c.cast(DecimalType(28, 12))).cast("double")
    val chunk = 65536L
    val vocab = Tables.documents(spark, dir)
      .select(explode(tokens(col("text"))).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("c"))
    val byC = vocab.groupBy("c").agg(count(lit(1)).as("m"))
    // global window over the distinct-count frame only (√-bounded)
    val wC = graft.BoundedWindow.orderBy(col("c").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val blocks = byC.withColumn("s",
      coalesce(sum(col("m")).over(wC), lit(0L)) + lit(1L))
    val chunks = blocks.select(col("c"), col("s"), col("m"),
        explode(sequence(lit(0L),
          floor((col("m") - 1L) / lit(chunk.toDouble)).cast("long"))).as("blk"))
      .repartition(col("c"), col("blk"))
    val ranks = chunks.select(col("c"),
      explode(sequence(col("s") + col("blk") * chunk,
        col("s") + least((col("blk") + 1L) * chunk - 1L, col("m") - 1L)))
        .as("rk"))
    val xy = ranks
      .select(round(log(col("rk").cast("double")), 9).as("x"),
        round(log(col("c").cast("double")), 9).as("y"))
    xy.agg(count(lit(1)).cast("double").as("n"),
        dsum(col("x")).as("sx"), dsum(col("y")).as("sy"),
        dsum(col("x") * col("x")).as("sxx"),
        dsum(col("y") * col("y")).as("syy"),
        dsum(col("x") * col("y")).as("sxy"))
      .select(col("n").cast("long").as("vocab_size"),
        round((col("n") * col("sxy") - col("sx") * col("sy")) /
          (col("n") * col("sxx") - col("sx") * col("sx")), 6).as("zipf_slope"),
        round(pow((col("n") * col("sxy") - col("sx") * col("sy")) /
          sqrt((col("n") * col("sxx") - col("sx") * col("sx")) *
            (col("n") * col("syy") - col("sy") * col("sy"))), 2), 6).as("r2"))
  }

  def zipfProfileOracle: String =
    s"""WITH v AS (SELECT g AS tok, CAST(COUNT(*) AS BIGINT) AS c
       |  FROM (SELECT unnest(ws) AS g
       |        FROM (SELECT $tokensSql AS ws FROM documents) t) u
       |  GROUP BY 1),
       |xy AS (SELECT
       |    round(ln(CAST(row_number() OVER (ORDER BY c DESC, tok) AS DOUBLE)), 9) AS x,
       |    round(ln(CAST(c AS DOUBLE)), 9) AS y
       |  FROM v),
       |g AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n,
       |    CAST(SUM(CAST(x AS DECIMAL(28,12))) AS DOUBLE) AS sx,
       |    CAST(SUM(CAST(y AS DECIMAL(28,12))) AS DOUBLE) AS sy,
       |    CAST(SUM(CAST(x*x AS DECIMAL(28,12))) AS DOUBLE) AS sxx,
       |    CAST(SUM(CAST(y*y AS DECIMAL(28,12))) AS DOUBLE) AS syy,
       |    CAST(SUM(CAST(x*y AS DECIMAL(28,12))) AS DOUBLE) AS sxy
       |  FROM xy)
       |SELECT CAST(n AS BIGINT) AS vocab_size,
       |  round((n*sxy - sx*sy) / (n*sxx - sx*sx), 6) AS zipf_slope,
       |  round(pow((n*sxy - sx*sy) /
       |    sqrt((n*sxx - sx*sx) * (n*syy - sy*sy)), 2), 6) AS r2
       |FROM g""".stripMargin

  /** Vocabulary-richness estimators from the frequency-of-frequency
    * spectrum — "how much vocabulary has this corpus NOT seen yet",
    * the question a crawl-more-or-stop decision actually turns on:
    * Good-Turing unseen mass P₀ = N₁/N (Gale & Sampson's leave-one-
    * out identity: the probability the NEXT token is novel equals the
    * hapax share) and the bias-corrected Chao1 richness floor
    * V + N₁(N₁−1)/(2(N₂+1)) (Chao 1984 — a lower bound on TOTAL
    * vocabulary including the unseen tail, finite even when no
    * doubletons exist). Both read off the same two-level hash
    * collapse: corpus → vocabulary counts (the wordcount shape) →
    * frequency-of-frequencies (≤ max-count rows) → one row. Exact
    * integers until the two final divisions. */
  def vocabRichness(spark: SparkSession, dir: String): DataFrame = {
    val tf = Tables.documents(spark, dir)
      .select(explode(tokens(col("text"))).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("c"))
    val ff = tf.groupBy("c").agg(count(lit(1)).as("nf"))
    ff.agg(
        sum(col("c") * col("nf")).as("n_tokens"),
        sum(col("nf")).as("vocab"),
        coalesce(sum(when(col("c") === 1, col("nf"))), lit(0L)).as("n1"),
        coalesce(sum(when(col("c") === 2, col("nf"))), lit(0L)).as("n2"))
      .select(col("n_tokens").cast("long").as("n_tokens"),
        col("vocab").cast("long").as("vocab"),
        col("n1").cast("long").as("n1"), col("n2").cast("long").as("n2"),
        round(col("n1").cast("double") / col("n_tokens"), 6)
          .as("p0_good_turing"),
        round(col("vocab") + col("n1").cast("double") * (col("n1") - 1)
          / (lit(2.0) * (col("n2") + 1)), 6).as("chao1_richness"))
  }

  def vocabRichnessOracle: String =
    s"""WITH tf AS (SELECT g AS tok, CAST(COUNT(*) AS BIGINT) AS c
       |  FROM (SELECT unnest(ws) AS g
       |        FROM (SELECT $tokensSql AS ws FROM documents) t) u
       |  GROUP BY 1),
       |ff AS (SELECT c, CAST(COUNT(*) AS BIGINT) AS nf FROM tf GROUP BY c),
       |s AS (SELECT CAST(SUM(c * nf) AS BIGINT) AS n_tokens,
       |    CAST(SUM(nf) AS BIGINT) AS vocab,
       |    CAST(COALESCE(SUM(CASE WHEN c = 1 THEN nf END), 0) AS BIGINT)
       |      AS n1,
       |    CAST(COALESCE(SUM(CASE WHEN c = 2 THEN nf END), 0) AS BIGINT)
       |      AS n2
       |  FROM ff)
       |SELECT n_tokens, vocab, n1, n2,
       |  round(CAST(n1 AS DOUBLE) / n_tokens, 6) AS p0_good_turing,
       |  round(vocab + CAST(n1 AS DOUBLE) * (n1 - 1) / (2.0 * (n2 + 1)), 6)
       |    AS chao1_richness
       |FROM s""".stripMargin

  /** Gini coefficient of token volume across sources — the one-number
    * mix-concentration audit beside [[klSourceDivergence]] (which
    * source DIFFERS) and mixture_budget (what to do about it): 0 =
    * every source contributes equally, →1 = one source IS the corpus.
    * Computed by the rank identity G = 2·Σᵢ i·tᵢ / (n·Σt) − (n+1)/n
    * over sources sorted ascending by volume — exact integers until
    * the final division, and the only window runs over the
    * |sources|-row frame (declared bounded), never the corpus. */
  def giniSources(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val perSrc = Tables.documents(spark, dir)
      .select(col("source"), explode(tokens(col("text"))).as("tok"))
      .groupBy("source").agg(count(lit(1)).as("t"))
    val ranked = perSrc.withColumn("rk",
      row_number().over(
        graft.BoundedWindow.orderBy(col("t"), col("source"))).cast("long"))
    ranked.agg(count(lit(1)).as("n_sources"),
        sum(col("t")).as("total_tokens"),
        sum((col("rk") * col("t")).cast(DecimalType(38, 0))).as("rt"))
      .select(col("n_sources").cast("long").as("n_sources"),
        col("total_tokens").cast("long").as("total_tokens"),
        round(lit(2.0) * col("rt").cast("double")
            / (col("n_sources") * col("total_tokens"))
          - (col("n_sources") + 1).cast("double") / col("n_sources"), 6)
          .as("gini"))
  }

  def giniSourcesOracle: String =
    s"""WITH per AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS t
       |  FROM (SELECT source, unnest(ws) AS g
       |        FROM (SELECT source, $tokensSql AS ws FROM documents) x) u
       |  GROUP BY 1),
       |r AS (SELECT t, row_number() OVER (ORDER BY t, source) AS rk
       |  FROM per),
       |s AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_sources,
       |    CAST(SUM(t) AS BIGINT) AS total_tokens,
       |    CAST(SUM(CAST(rk * t AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS rt
       |  FROM r)
       |SELECT n_sources, total_tokens,
       |  round(2.0 * CAST(rt AS DOUBLE) / (n_sources * total_tokens)
       |    - CAST(n_sources + 1 AS DOUBLE) / n_sources, 6) AS gini
       |FROM s""".stripMargin

  /** Per-source KL divergence D(source ‖ corpus) over token
    * distributions — "which slice of my mix speaks a different
    * language": the drift metric run between ingest batches or data
    * sources. Smoothed with the corpus support (every token the
    * corpus knows contributes; sources have a subset, so terms are
    * restricted to the source's support — standard plug-in KL). Scale
    * shape: two hash aggregations to (source × token) and (token)
    * counts; the per-source totals and per-token corpus counts both
    * grow with the corpus (one row per source / per distinct token),
    * so NEITHER carries a broadcast hint — the join strategy stays
    * size-driven and AQE broadcasts them only when measured small
    * (the LPA community-size precedent; a forced hint here was the
    * r10 weak mark — at 100 TB the corpus-count frame is 10⁸–10⁹
    * rows). Only the 1-row grand total is hinted. Ln-terms rounded
    * then decimal-summed. */
  def klSourceDivergence(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val toksOf = Tables.documents(spark, dir)
      .select(col("source"), explode(tokens(col("text"))).as("tok"))
    val bySrc = toksOf.groupBy("source", "tok").agg(count(lit(1)).as("c"))
    val srcTot = bySrc.groupBy("source").agg(sum(col("c")).as("stot"))
    val corpus = bySrc.groupBy("tok").agg(sum(col("c")).as("cc"))
    val corpTot = corpus.agg(sum(col("cc")).as("tot"))
    val p = col("c").cast("double") / col("stot").cast("double")
    val q = col("cc").cast("double") / col("tot").cast("double")
    bySrc.join(srcTot, Seq("source"))
      .join(corpus, Seq("tok"))
      .crossJoin(broadcast(corpTot))
      .groupBy("source")
      .agg(count(lit(1)).as("n_terms"),
        sum(round(p * log(p / q), 9).cast(DecimalType(28, 12)))
          .cast("double").as("kl_nats"))
      .select(col("source"), col("n_terms"),
        round(col("kl_nats"), 6).as("kl_nats"))
      .orderBy("source")
  }

  def klSourceDivergenceOracle: String =
    s"""WITH tk AS (SELECT source, g AS tok
       |  FROM (SELECT source, unnest(ws) AS g
       |        FROM (SELECT source, $tokensSql AS ws FROM documents) t) u),
       |bs AS (SELECT source, tok, CAST(COUNT(*) AS BIGINT) AS c
       |  FROM tk GROUP BY 1, 2),
       |st AS (SELECT source, CAST(SUM(c) AS BIGINT) AS stot FROM bs GROUP BY 1),
       |cp AS (SELECT tok, CAST(SUM(c) AS BIGINT) AS cc FROM bs GROUP BY 1),
       |ct AS (SELECT CAST(SUM(cc) AS BIGINT) AS tot FROM cp)
       |SELECT bs.source, CAST(COUNT(*) AS BIGINT) AS n_terms,
       |  round(CAST(SUM(CAST(round(
       |    (CAST(bs.c AS DOUBLE) / CAST(st.stot AS DOUBLE)) *
       |    ln((CAST(bs.c AS DOUBLE) / CAST(st.stot AS DOUBLE)) /
       |       (CAST(cp.cc AS DOUBLE) / CAST(ct.tot AS DOUBLE))), 9)
       |    AS DECIMAL(28,12))) AS DOUBLE), 6) AS kl_nats
       |FROM bs JOIN st USING (source) JOIN cp USING (tok), ct
       |GROUP BY bs.source ORDER BY bs.source""".stripMargin

  // ── inverted index: token → document postings ──

  /** Inverted index over the corpus: per token, document frequency,
    * total term frequency, and a BOUNDED posting-list head (the k
    * smallest doc_ids) via the native heap aggregate. A
    * `collect_list(doc_id)` posting would buffer a full corpus-sized
    * list for stopword-like tokens — unbounded memory under exactly
    * the skew an inverted index always has; [[graft.functions.BoundedTopK]]
    * keeps O(k) per token and its map-side partials shrink every
    * token to ≤ k ids per task before the shuffle. (A full posting
    * list at scale is a partitioned TABLE — token-bucketed (token,
    * doc_id) rows — not an array column; this query verifies the
    * index statistics and the head.) df ≥ 25 keeps the verified
    * surface on the hot end of the dictionary. */
  def invertedIndex(spark: SparkSession, dir: String, k: Int = 8): DataFrame = {
    val perDoc = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(tokens(col("text"))).as("token"))
      .groupBy("token", "doc_id").agg(count(lit(1)).as("tf"))
    perDoc.groupBy("token")
      .agg(count(lit(1)).as("df"),
        sum("tf").as("tf_total"),
        graft.functions.BoundedTopK(k, struct(col("doc_id"))).as("p"))
      .filter(col("df") >= 25)
      .select(col("token"), col("df"), col("tf_total"),
        array_join(expr("transform(p, x -> x.doc_id)"), ",").as("postings_head"))
      .orderBy("token")
  }

  def invertedIndexOracle: String =
    s"""WITH pd AS (
       |  SELECT g AS token, doc_id, CAST(COUNT(*) AS BIGINT) AS tf
       |  FROM (SELECT doc_id, unnest(ws) AS g
       |        FROM (SELECT doc_id, $tokensSql AS ws FROM documents) t) u
       |  GROUP BY g, doc_id)
       |SELECT token, CAST(COUNT(*) AS BIGINT) AS df,
       |  CAST(SUM(tf) AS BIGINT) AS tf_total,
       |  array_to_string(list_sort(list(doc_id))[1:8], ',') AS postings_head
       |FROM pd GROUP BY token HAVING COUNT(*) >= 25
       |ORDER BY token""".stripMargin

  // ── mutual information: how dependent are two categorical columns ──

  /** Mutual information (nats) between language and source, plus the
    * marginal entropies — the quantitative form of "is my data mix
    * confounded": MI ≈ 0 means language composition is uniform across
    * sources; MI near min(H) means source determines language. One
    * hash aggregation over the corpus produces exact cell counts;
    * every downstream term is IEEE arithmetic on exact integers.
    * Each ln-term is rounded to 9 decimals and summed EXACTLY via a
    * decimal cast (round-then-decimal-sum: a raw double Σ would be
    * partition-order-dependent, and ln() may differ in the last ulp
    * between engines — the rounding grid absorbs both). */
  def miLangSource(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    def dsum(t: Column): Column =
      sum(t.cast(DecimalType(28, 12))).cast("double")
    val d = col("n").cast("double")
    val cells = Tables.documents(spark, dir)
      .groupBy("lang", "source").agg(count(lit(1)).as("n"))
    val rowT = cells.groupBy("lang").agg(sum("n").as("rn"))
    val colT = cells.groupBy("source").agg(sum("n").as("cn"))
    val tot = cells.agg(sum("n").as("tot"))
    val totD = col("tot").cast("double")
    val miTerm = round((d / totD) *
      log((d * totD) / (col("rn").cast("double") * col("cn").cast("double"))), 9)
    // rowT is |langs|-bounded (hinted); colT grows with the source
    // count, so its join stays size-driven (the per-source discipline)
    val mi = cells.join(broadcast(rowT), Seq("lang"))
      .join(colT, Seq("source"))
      .crossJoin(broadcast(tot))
      .agg(dsum(miTerm).as("mi_nats"), count(lit(1)).cast("long").as("n_cells"))
    def entropy(m: DataFrame, cnt: String, out: String): DataFrame = {
      val p = col(cnt).cast("double") / col("tot").cast("double")
      m.crossJoin(broadcast(tot))
        .agg(dsum(round(-p * log(p), 9)).as(out))
    }
    mi.crossJoin(broadcast(entropy(rowT, "rn", "h_lang")))
      .crossJoin(broadcast(entropy(colT, "cn", "h_source")))
      .select("mi_nats", "h_lang", "h_source", "n_cells")
  }

  def miLangSourceOracle: String =
    """WITH cells AS (SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS n
      |  FROM documents GROUP BY 1, 2),
      |rt AS (SELECT lang, CAST(SUM(n) AS BIGINT) AS rn FROM cells GROUP BY 1),
      |ct AS (SELECT source, CAST(SUM(n) AS BIGINT) AS cn FROM cells GROUP BY 1),
      |tt AS (SELECT CAST(SUM(n) AS BIGINT) AS tot FROM cells),
      |mi AS (SELECT
      |    CAST(SUM(CAST(round(
      |      (CAST(c.n AS DOUBLE) / CAST(tt.tot AS DOUBLE)) *
      |      ln((CAST(c.n AS DOUBLE) * CAST(tt.tot AS DOUBLE)) /
      |         (CAST(rt.rn AS DOUBLE) * CAST(ct.cn AS DOUBLE))), 9)
      |      AS DECIMAL(28,12))) AS DOUBLE) AS mi_nats,
      |    CAST(COUNT(*) AS BIGINT) AS n_cells
      |  FROM cells c JOIN rt USING (lang) JOIN ct USING (source), tt),
      |hl AS (SELECT CAST(SUM(CAST(round(
      |      -(CAST(rn AS DOUBLE) / CAST(tot AS DOUBLE)) *
      |       ln(CAST(rn AS DOUBLE) / CAST(tot AS DOUBLE)), 9)
      |      AS DECIMAL(28,12))) AS DOUBLE) AS h_lang FROM rt, tt),
      |hs AS (SELECT CAST(SUM(CAST(round(
      |      -(CAST(cn AS DOUBLE) / CAST(tot AS DOUBLE)) *
      |       ln(CAST(cn AS DOUBLE) / CAST(tot AS DOUBLE)), 9)
      |      AS DECIMAL(28,12))) AS DOUBLE) AS h_source FROM ct, tt)
      |SELECT mi.mi_nats, hl.h_lang, hs.h_source, mi.n_cells
      |FROM mi, hl, hs""".stripMargin

  // ── collocations: pointwise mutual information of adjacent bigrams ──

  /** Top collocations by PMI: for every adjacent-token bigram seen at
    * least [[PmiMinCount]] times, ln(P(ab) / (P(a)·P(b))) — the
    * association score that separates "new york" from "of the"; the
    * standard phrase-mining signal before tokenizer/vocab decisions.
    * One bigram stream (compiled WordNGrams kernel, repeats kept) and
    * one unigram stream feed exact corpus counts; PMI is pure IEEE
    * arithmetic on those integers, rounded to 6 before the rank cut so
    * both engines select the same rows (round-before-rank). The vocab-
    * sized count tables join on the bigram's words — hash joins that
    * stay vocab-bounded at any corpus size. */
  val PmiMinCount = 5L
  val PmiTopK = 25

  def collocationsPmi(spark: SparkSession, dir: String): DataFrame = {
    val toksDf = Tables.documents(spark, dir)
      .select(col("doc_id"), tokens(col("text")).as("ws"))
    val uni = toksDf.select(explode(col("ws")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("cw"))
    val bi = toksDf
      .select(explode(
        graft.functions.WordNGrams(col("ws"), 2, distinct = false)).as("g"))
      .groupBy("g").agg(count(lit(1)).as("cab"))
      .filter(col("cab") >= PmiMinCount)
    val totU = uni.agg(sum("cw").cast("double").as("tu"))
    val totB = toksDf
      .select(greatest(size(col("ws")) - 1, lit(0)).cast("long").as("nb"))
      .agg(sum("nb").cast("double").as("tb"))
    bi.select(col("g").as("bigram"), col("cab"),
        split(col("g"), " ").getItem(0).as("a"),
        split(col("g"), " ").getItem(1).as("b"))
      .join(uni.select(col("w").as("a"), col("cw").as("ca")), Seq("a"))
      .join(uni.select(col("w").as("b"), col("cw").as("cb")), Seq("b"))
      .crossJoin(broadcast(totU)).crossJoin(broadcast(totB))
      .select(col("bigram"), col("cab"),
        round(log((col("cab") / col("tb")) /
          ((col("ca") / col("tu")) * (col("cb") / col("tu")))), 6).as("pmi"))
      .orderBy(col("pmi").desc, col("bigram"))
      .limit(PmiTopK)
  }

  def collocationsPmiOracle: String =
    s"""WITH t AS (SELECT doc_id, $tokensSql AS ws FROM documents),
       |uni AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS cw
       |  FROM (SELECT unnest(ws) AS w FROM t) u GROUP BY w),
       |tu AS (SELECT CAST(SUM(cw) AS DOUBLE) AS tu FROM uni),
       |bg AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS cab
       |  FROM (SELECT unnest(list_transform(range(greatest(len(ws) - 1, 0)),
       |          i -> ws[i+1] || ' ' || ws[i+2])) AS g FROM t) u
       |  GROUP BY g HAVING COUNT(*) >= $PmiMinCount),
       |tb AS (SELECT CAST(SUM(greatest(len(ws) - 1, 0)) AS DOUBLE) AS tb FROM t)
       |SELECT bg.g AS bigram, bg.cab,
       |  round(ln((CAST(bg.cab AS DOUBLE) / tb.tb) /
       |    ((CAST(a.cw AS DOUBLE) / tu.tu) * (CAST(b.cw AS DOUBLE) / tu.tu))), 6)
       |    AS pmi
       |FROM bg
       |JOIN uni a ON a.w = split_part(bg.g, ' ', 1)
       |JOIN uni b ON b.w = split_part(bg.g, ' ', 2), tu, tb
       |ORDER BY pmi DESC, bigram LIMIT $PmiTopK""".stripMargin

  // ── bigram-LM perplexity: the second-order quality screen ──

  /** Bigram-model bound: the broadcast model frame is at most this
    * many rows plus the 1-row backoff bucket. The bigram table grows
    * ~linearly with corpus until saturation and is strictly larger
    * than the vocabulary, so its bound is wider than [[PplVocabV]]. */
  val PplBigramB = 1 << 20

  /** Fixture-pinned bigram bound for the registered query — the
    * synthetic corpus has ~916 distinct bigrams, so 256 forces ~2/3 of
    * the bigram stream through the backoff bucket and the oracle
    * hashes both scoring branches (same rationale as
    * [[PplFixtureVocabV]]). */
  val PplFixtureBigramB = 256

  /** Per-document perplexity under a corpus-trained add-1-smoothed
    * BIGRAM model — one order up from [[perplexityUnigram]]: P(w₂|w₁)
    * = (c(w₁w₂)+1) / (c(w₁·)+V) for the top-`bigramB` bigrams (count
    * desc, bigram asc — TakeOrderedAndProject). Catches repetitive/
    * scrambled text that unigram statistics can't see (word-salad
    * scores fine on unigrams, terribly on bigrams). Bigrams outside
    * the model take ONE global backoff bucket, P = 1/(T+V) — the add-1
    * unseen floor with the corpus-level denominator (coarser than
    * per-w₁ backoff, chosen deliberately: per-w₁ would need the
    * vocabulary-sized c(w₁·) table at scoring time, re-introducing the
    * unbounded broadcast this bound removes). The w₁ marginals join
    * only the ≤B-row top frame (shuffle agg, AQE-sized — never forced
    * broadcast), and the finished model is localCheckpointed at ≤B
    * rows before the scoring broadcast — the [[DsirVocabV]]
    * discipline. Determinism: the cut's (count, bigram) order is
    * total, ln terms rounded to 9 and decimal-summed; docs with fewer
    * than 2 tokens carry no bigrams and are reported with null scores
    * rather than dropped. */
  def perplexityBigram(spark: SparkSession, dir: String,
                       bigramB: Int = PplBigramB): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val bigramsOf = Tables.documents(spark, dir)
      .select(col("doc_id"), tokens(col("text")).as("ws"))
      .select(col("doc_id"), explode(
        graft.functions.WordNGrams(col("ws"), 2, distinct = false)).as("g"))
    val bg = bigramsOf.groupBy("g").agg(count(lit(1)).as("cab"))
    val w1 = bg.groupBy(split(col("g"), " ").getItem(0).as("w1"))
      .agg(sum("cab").as("cw1"))
    val vocab = Tables.documents(spark, dir)
      .select(explode(tokens(col("text"))).as("w"))
      .agg(countDistinct(col("w")).as("v"))
    val totB = bg.agg(coalesce(sum(col("cab")), lit(0L)).as("tb"))
    val top = bg.orderBy(col("cab").desc, col("g")).limit(bigramB)
    // ≤B rows after the cut; materialized so the scoring broadcast is
    // rooted at a declared-bounded frame, not at the w1 join
    val model = top.withColumn("w1", split(col("g"), " ").getItem(0))
      .join(w1, Seq("w1")).crossJoin(broadcast(vocab))
      .select(col("g"),
        round(log((col("cab") + 1).cast("double") /
          (col("cw1") + col("v")).cast("double")), 9).as("logp"))
      .transform(graft.BoundedCheckpoint(_, bigramB)) // the top-B cut
    val backoff = totB.crossJoin(broadcast(vocab))
      .select(round(log(lit(1.0) /
        (col("tb") + col("v")).cast("double")), 9).as("backoff_logp"))
    val scored = bigramsOf.join(broadcast(model), Seq("g"), "left")
      .crossJoin(broadcast(backoff))
      .select(col("doc_id"),
        coalesce(col("logp"), col("backoff_logp")).as("logp"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        (sum(col("logp").cast(DecimalType(28, 12))).cast("double") /
          count(lit(1))).as("avg_logp"))
    Tables.documents(spark, dir).select(col("doc_id"))
      .join(scored, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        round(col("avg_logp"), 6).as("avg_logp"),
        round(exp(negate(col("avg_logp"))), 6).as("ppl"))
      .orderBy("doc_id")
  }

  def perplexityBigramOracle: String =
    perplexityBigramOracle(PplFixtureBigramB)

  def perplexityBigramOracle(bigramB: Int): String =
    s"""WITH t AS (SELECT doc_id, $tokensSql AS ws FROM documents),
       |bs AS (SELECT doc_id, unnest(list_transform(
       |    range(greatest(len(ws) - 1, 0)),
       |    i -> ws[i+1] || ' ' || ws[i+2])) AS g FROM t),
       |bg AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS cab FROM bs GROUP BY g),
       |w1 AS (SELECT split_part(g, ' ', 1) AS w1, CAST(SUM(cab) AS BIGINT)
       |         AS cw1 FROM bg GROUP BY 1),
       |vv AS (SELECT CAST(COUNT(DISTINCT w) AS BIGINT) AS v
       |  FROM (SELECT unnest(ws) AS w FROM t) u),
       |tb AS (SELECT COALESCE(CAST(SUM(cab) AS BIGINT), 0) AS tb FROM bg),
       |top AS (SELECT g, cab FROM bg ORDER BY cab DESC, g LIMIT $bigramB),
       |m AS (SELECT g,
       |    round(ln(CAST(top.cab + 1 AS DOUBLE) /
       |             CAST(w1.cw1 + vv.v AS DOUBLE)), 9) AS logp
       |  FROM top JOIN w1 ON w1.w1 = split_part(top.g, ' ', 1), vv),
       |bk AS (SELECT round(ln(1.0 / CAST(tb.tb + vv.v AS DOUBLE)), 9)
       |  AS backoff_logp FROM tb, vv),
       |s AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
       |    CAST(SUM(CAST(COALESCE(m.logp, bk.backoff_logp)
       |      AS DECIMAL(28,12))) AS DOUBLE) / COUNT(*) AS avg_logp
       |  FROM bs LEFT JOIN m USING (g), bk GROUP BY doc_id)
       |SELECT d.doc_id, COALESCE(s.n_bigrams, 0) AS n_bigrams,
       |  round(s.avg_logp, 6) AS avg_logp,
       |  round(exp(-s.avg_logp), 6) AS ppl
       |FROM documents d LEFT JOIN s ON d.doc_id = s.doc_id
       |ORDER BY d.doc_id""".stripMargin

  // ── character-level entropy: the encoding/garbage screen ──

  /** Per-document Shannon entropy (nats) of the character
    * distribution — the classic screen for base64 blobs, minified
    * code, and mojibake, which all sit far from natural text's ~3
    * nats. Shape is exactly wordcount's at character granularity: the
    * explode collapses IMMEDIATELY into a (doc × alphabet)-sized hash
    * agg with map-side partials — the shuffle carries ~|alphabet|
    * rows per doc, not one per character. Entropy terms p·ln p are
    * rounded to 9 then decimal-summed per doc (partition-order-free),
    * negated and re-rounded at the end. */
  def charEntropy(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val counts = Tables.documents(spark, dir)
      .select(col("doc_id"),
        explode(regexp_extract_all(col("text"), lit("."), lit(0))).as("ch"))
      .groupBy("doc_id", "ch").agg(count(lit(1)).as("c"))
    counts
      .groupBy("doc_id")
      .agg(sum("c").as("n"), count(lit(1)).as("n_distinct_chars"))
      .join(counts, Seq("doc_id"))
      .select(col("doc_id"), col("n"), col("n_distinct_chars"),
        round((col("c") / col("n")) * log(col("c") / col("n")), 9).as("t"))
      .groupBy("doc_id")
      .agg(first(col("n")).as("n_chars_counted"),
        first(col("n_distinct_chars")).as("n_distinct_chars"),
        round(negate(sum(col("t").cast(DecimalType(28, 12))).cast("double")), 6)
          .as("char_entropy"))
      .orderBy("doc_id")
  }

  // ── token-budgeted selection: the data-mix composition step ──

  val SelectBudget = 20000L

  /** Quality-ranked selection under a per-source token budget — how a
    * training mix is actually composed: within each source, take the
    * best documents (lexical diversity, rounded BEFORE ranking so both
    * engines order identically; doc_id tiebreak) until the token
    * budget is exhausted, and report per source what made the cut.
    * One projection for the scores, one per-source ordered running
    * sum (the [[docPack]] window shape — partitioned by source, so
    * parallelism scales with sources), one tiny summary agg. A doc is
    * kept iff the budget wasn't already spent when it arrived
    * (start-before-budget rule — deterministic, no partial docs). */
  def tokenBudgetSelect(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("source")
      .orderBy(col("q").desc, col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), tokens(col("text")).as("ws"))
      .select(col("doc_id"), col("source"),
        size(col("ws")).cast("long").as("n_tokens"),
        round(size(array_distinct(col("ws"))).cast("double") /
          greatest(size(col("ws")), lit(1)), 6).as("q"))
      .withColumn("spent_before",
        sum(col("n_tokens")).over(w) - col("n_tokens"))
      .withColumn("kept", col("spent_before") < SelectBudget)
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs_total"),
        sum(col("n_tokens")).as("tokens_total"),
        sum(when(col("kept"), 1L).otherwise(0L)).as("n_docs_kept"),
        sum(when(col("kept"), col("n_tokens")).otherwise(0L)).as("tokens_kept"),
        min(when(col("kept"), col("q"))).as("cutoff_quality"))
      .orderBy("source")
  }

  def tokenBudgetSelectOracle: String =
    s"""WITH d AS (SELECT doc_id, source, $tokensSql AS ws FROM documents),
       |s AS (SELECT doc_id, source, CAST(len(ws) AS BIGINT) AS n_tokens,
       |    round(CAST(len(list_distinct(ws)) AS DOUBLE) /
       |      greatest(len(ws), 1), 6) AS q
       |  FROM d),
       |r AS (SELECT *,
       |    SUM(n_tokens) OVER (PARTITION BY source ORDER BY q DESC, doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens
       |      AS spent_before
       |  FROM s)
       |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs_total,
       |  CAST(SUM(n_tokens) AS BIGINT) AS tokens_total,
       |  CAST(SUM(CASE WHEN spent_before < $SelectBudget THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_docs_kept,
       |  CAST(SUM(CASE WHEN spent_before < $SelectBudget THEN n_tokens
       |    ELSE 0 END) AS BIGINT) AS tokens_kept,
       |  MIN(CASE WHEN spent_before < $SelectBudget THEN q END)
       |    AS cutoff_quality
       |FROM r GROUP BY source ORDER BY source""".stripMargin

  // ── BPE merge learning: the tokenizer-training primitive ──

  val BpeMerges = 5

  /** Learn the first [[BpeMerges]] byte-pair-encoding merges from the
    * corpus — the core step of tokenizer training, shaped the way real
    * BPE trainers scale: the corpus is touched ONCE (the wordcount hash
    * agg), and every merge iteration runs on the weighted vocabulary
    * table (|vocab| rows), never the corpus. Words start as
    * space-joined character sequences; each round counts adjacent
    * symbol pairs weighted by word frequency (every overlapping
    * adjacency, the standard get_stats), picks the argmax with a
    * lexicographic tiebreak, and applies the merge via a global
    * `\ba b\b` regexp_replace — left-to-right non-overlapping in both
    * Java regex and RE2, which is exactly BPE's greedy merge order
    * (symbols stay alphanumeric, so \b is safe and no escaping is
    * needed). The per-round argmax is a 1-row broadcast, the vocab
    * table localCheckpoints each round — no driver collect anywhere.
    * Output: merge table (rank, pair, new symbol, weighted count). */
  // the learned merge table + encoded vocabulary are shared by three
  // queries (merges, encode, fertility) — one slot per (session,
  // corpus), the kmeansCentroids/logitWeights memo discipline; the
  // held frames are localCheckpoint'd so replay never re-trains
  private[graft] val bpeMemo =
    graft.SessionDirMemo("bpe_merges_train_build")(bpeLearnUncached)

  /** Shared BPE learner: the merge table per round plus the final
    * symbol representation of every vocabulary word after all
    * [[BpeMerges]] rounds (see [[bpeMerges]] for the algorithm notes). */
  private def bpeLearn(spark: SparkSession,
                       dir: String): (Seq[DataFrame], DataFrame) =
    bpeMemo.get(spark, dir)

  /** Merge-TRAINING corpus bound: pair statistics come from a
    * deterministic strided document sample of ≤ ~this many docs
    * (stride = ⌊n_docs / cap⌋, `doc_id % stride = 0` — the
    * [[graft.ext.Similarity.TrainSampleCap]] discipline, mirrored by
    * the oracle). A merge table needs pair FREQUENCIES, not every
    * occurrence; below the cap the stride is 1 and training is
    * exact-corpus, so gate-scale results are unchanged. The encoded
    * vocabulary the encode/fertility queries consume still covers the
    * FULL corpus (they inner-join doc tokens against it), so when the
    * stride bites, the learned merges are re-applied to the full
    * vocabulary — 5 vocab-sized projection passes, vs 5 pair-count
    * aggregations over an unbounded vocabulary without the cap (the
    * round-6 sweep's worst 10× probe, 3.1, was exactly this term). */
  val BpeTrainDocCap = 4096L

  private def applyMerge(fr: DataFrame, best: DataFrame): DataFrame =
    // left join on TRUE, not crossJoin: when the corpus runs out of
    // learnable pairs before the merge budget (best = 0 rows — fewer
    // distinct adjacent pairs than rounds), the round must be a no-op
    // that PRESERVES the vocabulary, not annihilate it to 0 rows the
    // way a cross join against an empty build side would
    fr.join(broadcast(best), lit(true), "left")
      .select(col("word"), col("cnt"),
        when(col("pair").isNull, col("rep")).otherwise(
          regexp_replace(col("rep"),
            concat(lit("\\b"), col("pair"), lit("\\b")),
            regexp_replace(col("pair"), " ", ""))).as("rep"))

  /** Weighted vocabulary of a document frame (word → occurrence
    * count) — BPE's working granularity; the corpus is never touched
    * again after this one wordcount aggregation. */
  private def bpeVocab(src: DataFrame): DataFrame = src
    .select(explode(tokens(col("text"))).as("word"))
    .groupBy("word").agg(count(lit(1)).as("cnt"))

  /** Initial space-joined character representation per vocab word. */
  private def bpeCharRep(words: DataFrame): DataFrame =
    words.select(col("word"), col("cnt"),
      array_join(regexp_extract_all(col("word"), lit("."), lit(0)), " ")
        .as("rep"))

  /** Adjacent-pair statistics of a representation table, weighted by
    * word frequency (the standard get_stats) — |vocab| rows in,
    * |distinct pairs| rows out. */
  private def bpePairCounts(reps: DataFrame): DataFrame =
    reps.select(col("cnt"),
        explode(graft.functions.WordNGrams(
          split(col("rep"), " "), 2, distinct = false)).as("pair"))
      .groupBy("pair").agg(sum("cnt").as("c"))

  private def bpeLearnUncached(spark: SparkSession,
                               dir: String): (Seq[DataFrame], DataFrame) = {
    val docs = Tables.documents(spark, dir)
    val nDocs = docs.count()
    val stride = math.max(1L, nDocs / BpeTrainDocCap)
    val train =
      if (stride == 1L) docs else docs.filter(col("doc_id") % stride === 0)
    var reps = bpeCharRep(bpeVocab(train)).localCheckpoint()
    var merges = Seq.empty[DataFrame]
    var bests = Seq.empty[DataFrame]
    for (k <- 1 to BpeMerges) {
      val pairs = bpePairCounts(reps)
      val best = pairs.orderBy(col("c").desc, col("pair")).limit(1)
        .localCheckpoint()
      bests = bests :+ best
      merges = merges :+ best.select(lit(k).as("merge_rank"),
        col("pair").as("merged_pair"),
        regexp_replace(col("pair"), " ", "").as("new_symbol"),
        col("c").as("pair_count"))
      reps = applyMerge(reps, best).localCheckpoint()
    }
    // stride 1 ⇒ the training vocabulary IS the full vocabulary
    val fullReps =
      if (stride == 1L) reps
      else bests.foldLeft(bpeCharRep(bpeVocab(docs)))(applyMerge).localCheckpoint()
    (merges, fullReps)
  }

  def bpeMerges(spark: SparkSession, dir: String): DataFrame = {
    val (merges, _) = bpeLearn(spark, dir)
    merges.reduce(_ union _).orderBy("merge_rank")
  }

  /** The learner's CTE chain (w, r0, p_k/b_k/r_k per round) shared by
    * the merge-table and encode oracles. */
  private def bpeLearnCtes: String = {
    def iter(k: Int): String =
      s"""p$k AS (SELECT g AS pair, CAST(SUM(cnt) AS BIGINT) AS c
         |  FROM (SELECT cnt, unnest(list_transform(
         |      range(greatest(len(s) - 1, 0)), i -> s[i+1] || ' ' || s[i+2])) AS g
         |    FROM (SELECT cnt, string_split(rep, ' ') AS s FROM r${k - 1}) t) u
         |  GROUP BY g),
         |b$k AS (SELECT pair, c FROM p$k ORDER BY c DESC, pair LIMIT 1),
         |r$k AS (SELECT word, cnt,
         |    regexp_replace(rep, '\\b' || split_part(b$k.pair, ' ', 1) || ' ' ||
         |      split_part(b$k.pair, ' ', 2) || '\\b',
         |      replace(b$k.pair, ' ', ''), 'g') AS rep
         |  FROM r${k - 1}, b$k)""".stripMargin
    // f-chain: the learned merges re-applied to the FULL vocabulary
    // (wf) — mirrors bpeLearnUncached's fullReps; at gate scale the
    // training stride is 1 so f_k ≡ r_k, but the SQL mirrors the
    // engine's shape at any scale
    def fiter(k: Int): String =
      s"""f$k AS (SELECT word, cnt,
         |    regexp_replace(rep, '\\b' || split_part(b$k.pair, ' ', 1) || ' ' ||
         |      split_part(b$k.pair, ' ', 2) || '\\b',
         |      replace(b$k.pair, ' ', ''), 'g') AS rep
         |  FROM f${k - 1}, b$k)""".stripMargin
    s"""WITH w AS (SELECT w AS word, CAST(COUNT(*) AS BIGINT) AS cnt
       |  FROM (SELECT unnest(ws) AS w
       |        FROM (SELECT $tokensSql AS ws FROM documents
       |              WHERE doc_id % (SELECT GREATEST(1, COUNT(*) // $BpeTrainDocCap)
       |                              FROM documents) = 0) t) u
       |  GROUP BY 1),
       |r0 AS (SELECT word, cnt,
       |  array_to_string(regexp_extract_all(word, '.'), ' ') AS rep FROM w),
       |${(1 to BpeMerges).map(iter).mkString(",\n")},
       |wf AS (SELECT w AS word, CAST(COUNT(*) AS BIGINT) AS cnt
       |  FROM (SELECT unnest(ws) AS w
       |        FROM (SELECT $tokensSql AS ws FROM documents) t) u
       |  GROUP BY 1),
       |f0 AS (SELECT word, cnt,
       |  array_to_string(regexp_extract_all(word, '.'), ' ') AS rep FROM wf),
       |${(1 to BpeMerges).map(fiter).mkString(",\n")}""".stripMargin
  }

  def bpeMergesOracle: String = {
    val finals = (1 to BpeMerges).map(k =>
      s"""SELECT $k AS merge_rank, pair AS merged_pair,
         |  replace(pair, ' ', '') AS new_symbol, c AS pair_count FROM b$k"""
        .stripMargin).mkString("\nUNION ALL\n")
    s"""$bpeLearnCtes
       |$finals
       |ORDER BY merge_rank""".stripMargin
  }

  /** Encode every document with the learned merge table: per doc, the
    * token count, character volume, and post-BPE symbol count — i.e.
    * the compression the first [[BpeMerges]] merges buy, the metric a
    * tokenizer-training loop watches per round. The corpus is touched
    * twice and only at word granularity: the learner's wordcount pass,
    * and one doc-token explode joined against the encoded VOCABULARY
    * (|vocab| rows carry the per-word symbol counts — the encode work
    * is per distinct word, never per occurrence; the join shuffles on
    * the word key and partial-aggregates per doc). Integer counts
    * only; the compression ratio is one exact-int division rounded
    * to 6. */
  def bpeEncode(spark: SparkSession, dir: String): DataFrame = {
    val (_, reps) = bpeLearn(spark, dir)
    val enc = reps.select(col("word"),
      size(split(col("rep"), " ")).cast("long").as("n_syms"),
      length(col("word")).cast("long").as("n_chars"))
    Tables.documents(spark, dir)
      .select(col("doc_id"), explode(tokens(col("text"))).as("word"))
      .join(enc, Seq("word"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        sum("n_chars").as("n_chars"),
        sum("n_syms").as("n_symbols"))
      .select(col("doc_id"), col("n_tokens"), col("n_chars"), col("n_symbols"),
        round(col("n_chars").cast("double") / col("n_symbols"), 6)
          .as("chars_per_symbol"))
      .orderBy("doc_id")
  }

  def bpeEncodeOracle: String =
    s"""$bpeLearnCtes,
       |enc AS (SELECT word,
       |    CAST(len(string_split(rep, ' ')) AS BIGINT) AS n_syms,
       |    CAST(length(word) AS BIGINT) AS n_chars
       |  FROM f$BpeMerges),
       |dt AS (SELECT doc_id, unnest(ws) AS word
       |  FROM (SELECT doc_id, $tokensSql AS ws FROM documents) t)
       |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
       |  CAST(SUM(n_chars) AS BIGINT) AS n_chars,
       |  CAST(SUM(n_syms) AS BIGINT) AS n_symbols,
       |  round(CAST(SUM(n_chars) AS DOUBLE) / SUM(n_syms), 6)
       |    AS chars_per_symbol
       |FROM dt JOIN enc USING (word) GROUP BY doc_id ORDER BY doc_id"""
      .stripMargin

  /** Tokenizer fertility per language — the standard tokenizer-eval
    * table: fertility (symbols emitted per word) and compression
    * (chars per symbol) under the learned merge table, split by
    * language. A vocabulary trained on a skewed mix over-segments the
    * under-represented languages (high fertility = longer sequences =
    * more compute per content for those languages), and THIS is the
    * report that shows it before training does. Same scale shape as
    * [[bpeEncode]]: the encode work is per distinct WORD, the corpus
    * is touched once at word granularity and partial-aggregates into
    * |langs| rows; the learner itself is shared across all three BPE
    * queries through the session memo (train once, audit thrice). */
  def tokenizerFertility(spark: SparkSession, dir: String): DataFrame = {
    val (_, reps) = bpeLearn(spark, dir)
    val enc = reps.select(col("word"),
      size(split(col("rep"), " ")).cast("long").as("n_syms"),
      length(col("word")).cast("long").as("n_chars"))
    Tables.documents(spark, dir)
      .select(col("lang"), explode(tokens(col("text"))).as("word"))
      .join(enc, Seq("word"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_words"),
        sum("n_chars").as("n_chars"),
        sum("n_syms").as("n_symbols"))
      .select(col("lang"), col("n_words"), col("n_chars"), col("n_symbols"),
        round(col("n_symbols").cast("double") / col("n_words"), 6)
          .as("fertility"),
        round(col("n_chars").cast("double") / col("n_symbols"), 6)
          .as("chars_per_symbol"))
      .orderBy("lang")
  }

  def tokenizerFertilityOracle: String =
    s"""$bpeLearnCtes,
       |enc AS (SELECT word,
       |    CAST(len(string_split(rep, ' ')) AS BIGINT) AS n_syms,
       |    CAST(length(word) AS BIGINT) AS n_chars
       |  FROM f$BpeMerges),
       |dt AS (SELECT lang, unnest(ws) AS word
       |  FROM (SELECT lang, $tokensSql AS ws FROM documents) t)
       |SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_words,
       |  CAST(SUM(n_chars) AS BIGINT) AS n_chars,
       |  CAST(SUM(n_syms) AS BIGINT) AS n_symbols,
       |  round(CAST(SUM(n_syms) AS DOUBLE) / COUNT(*), 6) AS fertility,
       |  round(CAST(SUM(n_chars) AS DOUBLE) / SUM(n_syms), 6)
       |    AS chars_per_symbol
       |FROM dt JOIN enc USING (word) GROUP BY lang ORDER BY lang"""
      .stripMargin

  /** Tokenizer training curve — compression vs merge count, the
    * "is another merge round worth it" table a tokenizer-training
    * loop reads after every round: for every prefix of the learned
    * merge table (0 merges = raw characters, through all
    * [[BpeMerges]]), the corpus-weighted word/char/symbol totals,
    * fertility (symbols per word — strictly non-increasing in m, the
    * monotonicity ExtSpec pins), and chars-per-symbol compression.
    * The marginal compression of round m is the curve's m−1 → m
    * step; where it flattens is the vocabulary size the corpus
    * actually supports — the same calibrate-the-knob shape as
    * [[graft.ext.Dedup.thresholdSweep]], applied to vocab size.
    * Training is NOT repeated per point: the memoized learner runs
    * once ([[bpeLearn]] — shared with merges/encode/fertility), and
    * each curve point re-applies one more learned merge to the
    * VOCABULARY table (|vocab| rows) and takes one 1-row weighted
    * aggregate; the corpus is never re-touched. */
  def bpeMergeCurve(spark: SparkSession, dir: String): DataFrame = {
    val (merges, _) = bpeLearn(spark, dir)
    val vocab = Tables.documents(spark, dir)
      .select(explode(tokens(col("text"))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("cnt"))
    def statsAt(m: Int, f: DataFrame): DataFrame =
      f.agg(sum(col("cnt")).as("n_words"),
        sum(col("cnt") * length(col("word")).cast("long")).as("n_chars"),
        sum(col("cnt") * size(split(col("rep"), " ")).cast("long"))
          .as("n_symbols"))
        .select(lit(m.toLong).as("n_merges"), col("n_words"),
          col("n_chars"), col("n_symbols"))
    var fr = vocab.select(col("word"), col("cnt"),
      array_join(regexp_extract_all(col("word"), lit("."), lit(0)), " ")
        .as("rep"))
      .localCheckpoint()
    var out = statsAt(0, fr)
    for ((mf, i) <- merges.zipWithIndex) {
      fr = applyMerge(fr, mf.select(col("merged_pair").as("pair")))
        .localCheckpoint()
      out = out.unionByName(statsAt(i + 1, fr))
    }
    out
      .select(col("n_merges"), col("n_words"), col("n_chars"),
        col("n_symbols"),
        round(col("n_symbols").cast("double") / col("n_words"), 6)
          .as("fertility"),
        round(col("n_chars").cast("double") / col("n_symbols"), 6)
          .as("chars_per_symbol"))
      .orderBy("n_merges")
  }

  def bpeMergeCurveOracle: String = {
    val points = (0 to BpeMerges).map(m =>
      s"""SELECT CAST($m AS BIGINT) AS n_merges,
         |  CAST(SUM(cnt) AS BIGINT) AS n_words,
         |  CAST(SUM(cnt * length(word)) AS BIGINT) AS n_chars,
         |  CAST(SUM(cnt * len(string_split(rep, ' '))) AS BIGINT)
         |    AS n_symbols
         |FROM f$m""".stripMargin).mkString("\nUNION ALL\n")
    s"""$bpeLearnCtes,
       |pts AS ($points)
       |SELECT n_merges, n_words, n_chars, n_symbols,
       |  round(CAST(n_symbols AS DOUBLE) / n_words, 6) AS fertility,
       |  round(CAST(n_chars AS DOUBLE) / n_symbols, 6) AS chars_per_symbol
       |FROM pts ORDER BY n_merges""".stripMargin
  }

  // ── incremental BPE: fold a delta batch into the standing merges ──

  /** Standing state for the incremental tokenizer tick, trained once
    * per (session, corpus) on the BASE slice (doc_id %
    * [[graft.ext.Dedup.DeltaMod]] ≠ DeltaMod−1, the lake's standing
    * delta discipline): the chosen merge per round (a driver scalar —
    * [[BpeMerges]] of them, the 1-row bounded-collect class), plus the
    * per-round pair-count tables and vocabulary representations the
    * fold reads (localCheckpoint'd; |vocab|-granularity — in
    * production these are maintained tables, exactly the
    * [[graft.ext.Dedup.standingDedupState]] memo discipline). */
  private[graft] final case class BpeStanding(
      bests: Seq[Option[(String, Long)]],
      pairTables: Seq[DataFrame],
      reps: Seq[DataFrame])

  private def bpeStanding(spark: SparkSession, dir: String): BpeStanding =
    bpeStandingMemo.get(spark, dir)

  private[graft] val bpeStandingMemo =
    graft.SessionDirMemo[BpeStanding]("bpe_standing_state_build") { (spark, dir) =>
      val m = Dedup.DeltaMod
      val base = Tables.documents(spark, dir)
        .filter(col("doc_id") % m =!= (m - 1))
      val stride = math.max(1L, base.count() / BpeTrainDocCap)
      val train =
        if (stride == 1L) base else base.filter(col("doc_id") % stride === 0)
      var reps = bpeCharRep(bpeVocab(train)).localCheckpoint()
      var bests = Seq.empty[Option[(String, Long)]]
      var pairTables = Seq.empty[DataFrame]
      var repsSeq = Seq.empty[DataFrame]
      for (_ <- 1 to BpeMerges) {
        repsSeq = repsSeq :+ reps
        val pairs = bpePairCounts(reps).localCheckpoint()
        pairTables = pairTables :+ pairs
        val best = pairs.orderBy(col("c").desc, col("pair")).limit(1)
          .localCheckpoint()
        // 1-row bounded collect: the chosen merge IS a driver scalar
        // (the kmeansCentroids class — k×1 strings, never data)
        bests = bests :+ best.collect().headOption
          .map(r => (r.getString(0), r.getLong(1)))
        reps = applyMerge(reps, best).localCheckpoint()
      }
      BpeStanding(bests, pairTables, repsSeq)
    }

  /** Incremental BPE merge maintenance — the daily-tick form of
    * [[bpeMerges]]: fold the delta batch's word counts into the
    * standing learner's PAIR statistics instead of retraining from the
    * corpus. Pair counts are LINEAR in word counts (every round-k
    * statistic is Σ_words cnt(w)·pairs(rep_{k−1}(w))), so as long as
    * the merges chosen so far equal the standing ones,
    * P_k(base ∪ delta) = P_k(base) ⊎ P_k(delta-under-standing-merges)
    * — one keyed outer sum of the standing pair table against a
    * delta-vocab-sized frame per round, and the argmax over it is
    * provably the from-scratch choice. The tick therefore touches the
    * corpus only for the delta wordcount; per round it does
    * delta-sized pair counting plus one scan of the standing
    * (vocab-granularity) pair table. The moment a round's argmax
    * DIVERGES from the standing merge — the delta actually changed
    * the tokenizer — later standing rounds are stale by construction,
    * so the fold re-canonicalizes exactly like
    * [[graft.ext.Dedup.dedupGroupsDelta]]'s touched components: it
    * resumes the plain learner loop from the divergence round on the
    * COMBINED vocabulary (base reps ∪ delta reps, counts summed — a
    * vocab-sized union, never a corpus re-scan). Output = the
    * from-scratch merge table over the converged corpus (the oracle
    * recomputes it independently), plus `folded` marking the rounds
    * served purely by the fold — the audit column that shows how much
    * of the table a daily tick actually re-learned. Beyond
    * [[BpeTrainDocCap]] both learners are sample-bounded (base-capped
    * + full delta vs full-capped); at gate scale stride = 1 and the
    * contract is exact equality. */
  def bpeMergesDelta(spark: SparkSession, dir: String): DataFrame = {
    val st = bpeStanding(spark, dir)
    val m = Dedup.DeltaMod
    val delta = Tables.documents(spark, dir)
      .filter(col("doc_id") % m === (m - 1))
    var dRep = bpeCharRep(bpeVocab(delta)).localCheckpoint()
    var combined: Option[DataFrame] = None
    var out = Seq.empty[DataFrame]
    for (k <- 1 to BpeMerges) {
      val (best, folded) = combined match {
        case None =>
          // fold path: standing pair table ⊎ delta pair counts
          val pD = bpePairCounts(dRep)
          val total = st.pairTables(k - 1).withColumnRenamed("c", "c_base")
            .join(pD.withColumnRenamed("c", "c_delta"), Seq("pair"), "full")
            .select(col("pair"),
              (coalesce(col("c_base"), lit(0L)) +
                coalesce(col("c_delta"), lit(0L))).as("c"))
          val b = total.orderBy(col("c").desc, col("pair")).limit(1)
            .localCheckpoint()
          // 1-row bounded collect (the standing-trainer class): the
          // divergence test compares two driver scalars
          val same = b.collect().headOption.map(_.getString(0)) ==
            st.bests(k - 1).map(_._1)
          if (same) dRep = applyMerge(dRep, b).localCheckpoint()
          else {
            // cascade: merges 1..k still equal from-scratch (round k's
            // argmax came from the exact combined counts), but later
            // standing rounds are stale — resume the learner on the
            // combined vocabulary at round k's output
            val comb = st.reps(k - 1).unionByName(dRep)
              .groupBy("word", "rep").agg(sum("cnt").as("cnt"))
            combined = Some(applyMerge(comb, b).localCheckpoint())
          }
          (b, same)
        case Some(c) =>
          val b = bpePairCounts(c).orderBy(col("c").desc, col("pair"))
            .limit(1).localCheckpoint()
          combined = Some(applyMerge(c, b).localCheckpoint())
          (b, false)
      }
      out = out :+ best.select(lit(k).as("merge_rank"),
        col("pair").as("merged_pair"),
        regexp_replace(col("pair"), " ", "").as("new_symbol"),
        col("c").as("pair_count"), lit(folded).as("folded"))
    }
    out.reduce(_ unionByName _).orderBy("merge_rank")
  }

  /** One prefix-named BPE learner CTE chain over `documents WHERE
    * <where>`, with the train-doc cap computed over the same slice —
    * the parametrized form of [[bpeLearnCtes]]'s w/r/p/b chain. */
  private def bpeChainSql(prefix: String, where: String): String = {
    def iter(k: Int): String =
      s"""${prefix}p$k AS (SELECT g AS pair, CAST(SUM(cnt) AS BIGINT) AS c
         |  FROM (SELECT cnt, unnest(list_transform(
         |      range(greatest(len(s) - 1, 0)), i -> s[i+1] || ' ' || s[i+2])) AS g
         |    FROM (SELECT cnt, string_split(rep, ' ') AS s FROM ${prefix}r${k - 1}) t) u
         |  GROUP BY g),
         |${prefix}b$k AS (SELECT pair, c FROM ${prefix}p$k ORDER BY c DESC, pair LIMIT 1),
         |${prefix}r$k AS (SELECT word, cnt,
         |    regexp_replace(rep, '\\b' || split_part(${prefix}b$k.pair, ' ', 1) || ' ' ||
         |      split_part(${prefix}b$k.pair, ' ', 2) || '\\b',
         |      replace(${prefix}b$k.pair, ' ', ''), 'g') AS rep
         |  FROM ${prefix}r${k - 1}, ${prefix}b$k)""".stripMargin
    s"""${prefix}w AS (SELECT w AS word, CAST(COUNT(*) AS BIGINT) AS cnt
       |  FROM (SELECT unnest(ws) AS w
       |        FROM (SELECT $tokensSql AS ws FROM documents
       |              WHERE ($where) AND doc_id %
       |                (SELECT GREATEST(1, COUNT(*) // $BpeTrainDocCap)
       |                 FROM documents WHERE $where) = 0) t) u
       |  GROUP BY 1),
       |${prefix}r0 AS (SELECT word, cnt,
       |  array_to_string(regexp_extract_all(word, '.'), ' ') AS rep FROM ${prefix}w),
       |${(1 to BpeMerges).map(iter).mkString(",\n")}""".stripMargin
  }

  /** Mirrors [[bpeMergesDelta]] by recomputing BOTH learners from
    * scratch: the full-corpus chain (b_k — what the fold must equal)
    * and the base-slice chain (sb_k — the standing merges), with
    * folded_k = every round ≤ k agreeing between the two (after the
    * first disagreement the engine is on the cascade path). */
  def bpeMergesDeltaOracle: String = {
    val m = Dedup.DeltaMod
    def foldedExpr(k: Int): String = (1 to k).map(i =>
      s"(SELECT pair FROM b$i) IS NOT DISTINCT FROM (SELECT pair FROM sb$i)")
      .mkString(" AND ")
    val finals = (1 to BpeMerges).map(k =>
      s"""SELECT $k AS merge_rank, pair AS merged_pair,
         |  replace(pair, ' ', '') AS new_symbol, c AS pair_count,
         |  (${foldedExpr(k)}) AS folded FROM b$k""".stripMargin)
      .mkString("\nUNION ALL\n")
    s"""WITH ${bpeChainSql("", "doc_id >= 0")},
       |${bpeChainSql("s", s"doc_id % $m <> ${m - 1}")}
       |$finals
       |ORDER BY merge_rank""".stripMargin
  }

  // ── feature hashing: the fixed-width text featurizer ──

  val HashFeatDims = 16

  /** Signed feature hashing (the "hashing trick"): every token lands
    * in one of [[HashFeatDims]] buckets by an engine-neutral md5
    * hash, with a ±1 sign from the next hash bit, and each document
    * becomes a fixed-width integer vector — the featurizer that turns
    * unbounded vocabulary into bounded width with NO vocabulary pass
    * at all (the one-scan alternative to the NB/tf-idf model joins;
    * collisions are the accepted price). Pure projection → ONE pivot
    * hash aggregate: zero joins, map-side partials shrink positions
    * to ≤ d cells per doc before the single shuffle, and the dense
    * d-wide row comes straight out of the codegen'd aggregate — no
    * second shuffle, no per-doc map building, no interpreted
    * higher-order functions. The dense vector is emitted as a
    * comma-joined string (the gate compares scalars); nnz counts
    * surviving non-zero cells (signs can cancel). */
  def featureHashing(spark: SparkSession, dir: String): DataFrame = {
    val cells = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
      .select(col("doc_id"), Sketches.h32(col("tok")).as("h"))
      .select(col("doc_id"), (col("h") % HashFeatDims).as("dim"),
        when(expr(s"(h div $HashFeatDims) % 2") === 0, 1L).otherwise(-1L)
          .as("sgn"))
      .groupBy("doc_id").pivot("dim", (0 until HashFeatDims).map(_.toLong))
      .agg(sum("sgn"))
    // the pivot densifies in ONE codegen'd hash aggregate (map-side
    // partials shrink positions to docs×d before the shuffle) — the
    // earlier collect_list→map→transform chain paid a second shuffle
    // plus interpreted higher-order functions per doc
    val vals = (0 until HashFeatDims).map(d => coalesce(col(s"`$d`"), lit(0L)))
    cells.select(col("doc_id"),
        vals.map(v => when(v =!= 0L, 1L).otherwise(0L)).reduce(_ + _).as("nnz"),
        concat_ws(",", vals.map(_.cast("string")): _*).as("features"))
      .orderBy("doc_id")
  }

  def featureHashingOracle: String =
    s"""WITH tok AS (SELECT doc_id, g AS tok
       |  FROM (SELECT doc_id, unnest(ws) AS g
       |        FROM (SELECT doc_id, $tokensSql AS ws FROM documents) t) u),
       |hashed AS (SELECT doc_id, ${Sketches.h32Sql("tok")} AS h FROM tok),
       |cells AS (SELECT doc_id, h % $HashFeatDims AS dim,
       |    CAST(SUM(CASE WHEN (h // $HashFeatDims) % 2 = 0 THEN 1
       |      ELSE -1 END) AS BIGINT) AS v
       |  FROM hashed GROUP BY doc_id, h % $HashFeatDims),
       |dims AS (SELECT unnest(range($HashFeatDims)) AS dim),
       |dense AS (SELECT d.doc_id, dims.dim, COALESCE(c.v, 0) AS v
       |  FROM (SELECT DISTINCT doc_id FROM cells) d
       |  CROSS JOIN dims
       |  LEFT JOIN cells c ON c.doc_id = d.doc_id AND c.dim = dims.dim)
       |SELECT doc_id,
       |  CAST(len(list_filter(list(v ORDER BY dim), x -> x <> 0)) AS BIGINT)
       |    AS nnz,
       |  array_to_string(list(v ORDER BY dim), ',') AS features
       |FROM dense GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // ── BM25 ranked retrieval ──

  val Bm25K1 = 1.2
  val Bm25B = 0.75
  val Bm25TopK = 20
  val Bm25Query: Seq[String] = Seq("hash", "join", "vector")

  /** BM25 top-[[Bm25TopK]] documents for a fixed query term set — the
    * ranked-retrieval operator behind every "find me training docs
    * about X" curation pull. One tf pass over the corpus; the scored
    * frame is RESTRICTED to query terms before anything joins (the
    * isin filter prunes at the tf table, so downstream frames are
    * |query|·df rows, not corpus-sized); df and the length stats are
    * 1-row/|query|-row broadcasts; the final top-k is
    * TakeOrderedAndProject (per-partition heads, never a global
    * sort). Per-term contributions are computed in ONE mirrored IEEE
    * op order, rounded to 9, decimal-summed per doc, rounded to 6
    * before ranking with a doc_id tiebreak. */
  def bm25Search(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val tf = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(tokens(col("text"))).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      .localCheckpoint() // doc lengths + query-term scores both read it
    val dl = tf.groupBy("doc_id").agg(sum("tf").as("dl"))
    val stats = dl.agg(count(lit(1)).as("n_docs"),
        sum("dl").as("total_len"))
      .select(col("n_docs"),
        (col("total_len").cast("double") / col("n_docs")).as("avgdl"))
    val qtf = tf.filter(col("term").isin(Bm25Query: _*))
    // ≤ |query| rows (the isin cut); count-asserted so the broadcast
    // classifies bounded — the query set is a fixed panel, never corpus
    val df = graft.BoundedCheckpoint(
      qtf.groupBy("term").agg(count(lit(1)).as("df")), Bm25Query.size.toLong)
    val contrib = qtf
      .join(broadcast(df), Seq("term"))
      .join(dl, Seq("doc_id"))
      .crossJoin(broadcast(stats))
      .select(col("doc_id"),
        round(
          log((col("n_docs") - col("df") + 0.5) / (col("df") + 0.5) + 1.0) *
            (col("tf") * (Bm25K1 + 1.0) /
              (col("tf") + lit(Bm25K1) *
                (lit(1.0 - Bm25B) + lit(Bm25B) * col("dl") / col("avgdl")))),
          9).as("contrib"))
    contrib.groupBy("doc_id")
      .agg(count(lit(1)).as("n_terms_matched"),
        round(sum(col("contrib").cast(DecimalType(28, 12))).cast("double"), 6)
          .as("score"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(Bm25TopK)
  }

  def bm25SearchOracle: String = {
    val terms = Bm25Query.map(t => s"'$t'").mkString(", ")
    s"""WITH tf AS (SELECT doc_id, g AS term, CAST(COUNT(*) AS BIGINT) AS tf
       |  FROM (SELECT doc_id, unnest(ws) AS g
       |        FROM (SELECT doc_id, $tokensSql AS ws FROM documents) t) u
       |  GROUP BY doc_id, g),
       |dl AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS dl FROM tf
       |  GROUP BY doc_id),
       |st AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
       |    CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl FROM dl),
       |qt AS (SELECT * FROM tf WHERE term IN ($terms)),
       |df AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM qt
       |  GROUP BY term),
       |c AS (SELECT qt.doc_id,
       |    round(ln((st.n_docs - df.df + 0.5) / (df.df + 0.5) + 1.0) *
       |      (qt.tf * ($Bm25K1 + 1.0) /
       |        (qt.tf + $Bm25K1 *
       |          (1.0 - $Bm25B + $Bm25B * dl.dl / st.avgdl))), 9) AS contrib
       |  FROM qt JOIN df USING (term) JOIN dl USING (doc_id), st)
       |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_terms_matched,
       |  round(CAST(SUM(CAST(contrib AS DECIMAL(28,12))) AS DOUBLE), 6)
       |    AS score
       |FROM c GROUP BY doc_id
       |ORDER BY score DESC, doc_id LIMIT $Bm25TopK""".stripMargin
  }

  def charEntropyOracle: String =
    """WITH ch AS (SELECT doc_id, unnest(regexp_extract_all(text, '.')) AS ch
      |  FROM documents),
      |cnt AS (SELECT doc_id, ch, CAST(COUNT(*) AS BIGINT) AS c
      |  FROM ch GROUP BY 1, 2),
      |tot AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n,
      |    CAST(COUNT(*) AS BIGINT) AS n_distinct_chars
      |  FROM cnt GROUP BY 1),
      |terms AS (SELECT cnt.doc_id, tot.n, tot.n_distinct_chars,
      |    round((CAST(cnt.c AS DOUBLE) / tot.n) *
      |      ln(CAST(cnt.c AS DOUBLE) / tot.n), 9) AS t
      |  FROM cnt JOIN tot USING (doc_id))
      |SELECT doc_id, any_value(n) AS n_chars_counted,
      |  any_value(n_distinct_chars) AS n_distinct_chars,
      |  round(-CAST(SUM(CAST(t AS DECIMAL(28,12))) AS DOUBLE), 6)
      |    AS char_entropy
      |FROM terms GROUP BY doc_id ORDER BY doc_id""".stripMargin

  val VocabCoverageK = 16

  /** Vocabulary-coverage / OOV audit: fix the vocabulary to the
    * corpus's top-[[VocabCoverageK]] tokens by global frequency (ties
    * broken lexicographically — deterministic) and report, per
    * source, what fraction of token OCCURRENCES and of DISTINCT
    * tokens that vocabulary covers. This is the truncation check run
    * before shipping any fixed-vocab tokenizer: a source with high
    * OOV rate will fragment into fallback bytes and blow up its
    * token count. Plan: the global frequency table is vocab-sized
    * (one partial-agg groupBy), its top-K is a TakeOrdered ≤ K rows
    * broadcast back, and the per-source audit is ONE conditional
    * aggregation pass — the corpus shuffles only (source, token)
    * partials, nothing pairwise anywhere. */
  def vocabCoverage(spark: SparkSession, dir: String): DataFrame = {
    val tok = Tables.documents(spark, dir)
      .select(col("source"), explode(tokens(col("text"))).as("term"))
    val vocab = tok.groupBy("term").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("term")).limit(VocabCoverageK)
      .select(col("term"), lit(1).as("in_vocab"))
    tok.join(broadcast(vocab), Seq("term"), "left")
      .groupBy("source")
      .agg(count(lit(1)).as("n_tokens"),
        count(col("in_vocab")).as("n_covered"),
        countDistinct(col("term")).as("n_distinct"),
        countDistinct(when(col("in_vocab").isNull, col("term")))
          .as("n_distinct_oov"))
      .select(col("source"), col("n_tokens"), col("n_covered"),
        round(lit(1.0) - col("n_covered").cast("double") / col("n_tokens"), 6)
          .as("oov_rate"),
        col("n_distinct"), col("n_distinct_oov"))
      .orderBy("source")
  }

  def vocabCoverageOracle: String =
    s"""WITH tok AS (SELECT source, unnest(ws) AS term
       |  FROM (SELECT source, $tokensSql AS ws FROM documents) t),
       |vocab AS (SELECT term FROM (
       |    SELECT term, COUNT(*) AS n FROM tok GROUP BY term
       |    ORDER BY n DESC, term LIMIT $VocabCoverageK) v)
       |SELECT source,
       |  CAST(COUNT(*) AS BIGINT) AS n_tokens,
       |  CAST(COUNT(v.term) AS BIGINT) AS n_covered,
       |  round(1.0 - CAST(COUNT(v.term) AS DOUBLE) / COUNT(*), 6) AS oov_rate,
       |  CAST(COUNT(DISTINCT tok.term) AS BIGINT) AS n_distinct,
       |  CAST(COUNT(DISTINCT CASE WHEN v.term IS NULL THEN tok.term END)
       |    AS BIGINT) AS n_distinct_oov
       |FROM tok LEFT JOIN vocab v ON tok.term = v.term
       |GROUP BY source ORDER BY source""".stripMargin

  // ── vocabulary coverage curve: truncation planning ──

  /** Ranks the coverage curve reports (≤ [[VocabCovFixtureTopV]] so
    * every grid point exists under the registered fixture cut). */
  val VocabCovGrid: Seq[Long] = Seq(1L, 2L, 4L, 8L, 16L)
  /** Production top-V default for the coverage cut. */
  val VocabCovTopV = 65536
  /** Registered/fixture bound: BELOW the fixture vocabulary (31
    * tokens), so the truncation branch is LIVE and oracled — the
    * [[PplFixtureVocabV]] discipline. */
  val VocabCovFixtureTopV = 16

  /** Vocabulary coverage curve — the tokenizer/vocab-truncation
    * planning table: for each rank k in [[VocabCovGrid]], the fraction
    * of ALL token occurrences covered by the k most frequent tokens.
    * This is the curve a vocab-size decision (BPE budget, embedding
    * table rows, OOV-rate forecast) reads off.
    *
    * Scale shape: one corpus token scan collapses to vocabulary-sized
    * counts (map-side partials); the top-V cut is a
    * TakeOrderedAndProject (per-partition heaps, O(V) driver memory)
    * materialized through [[graft.BoundedCheckpoint]], so the rank/
    * cumsum window runs on a DECLARED-bounded ≤V-row frame
    * (BoundedWindow) and the 1-row occurrence total broadcasts back.
    * Cumulative counts are exact longs; the single coverage division
    * rounds to 6. */
  def vocabCoverageCurve(spark: SparkSession, dir: String,
                         topV: Int = VocabCovTopV): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val counts = Tables.documents(spark, dir)
      .select(explode(tokens(col("text"))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("cw"))
    val total = counts.agg(coalesce(sum("cw"), lit(0L)).as("total_occurrences"))
    val top = graft.BoundedCheckpoint(
      counts.orderBy(col("cw").desc, col("w")).limit(topV), topV)
    val ord = graft.BoundedWindow.orderBy(col("cw").desc, col("w"))
    top
      .withColumn("k", row_number().over(ord).cast("long"))
      .withColumn("covered",
        sum("cw").over(ord.rowsBetween(Window.unboundedPreceding,
          Window.currentRow)))
      .filter(col("k").isin(VocabCovGrid: _*))
      .crossJoin(broadcast(total))
      .select(col("k"), col("covered"), col("total_occurrences"),
        round(col("covered").cast("double") / col("total_occurrences"), 6)
          .as("coverage"))
      .orderBy("k")
  }

  def vocabCoverageCurveOracle: String = vocabCoverageCurveOracle(VocabCovFixtureTopV)

  def vocabCoverageCurveOracle(topV: Int): String =
    s"""WITH t AS (SELECT $tokensSql AS ws FROM documents),
       |c AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS cw
       |  FROM (SELECT unnest(ws) AS w FROM t) u GROUP BY w),
       |tot AS (SELECT CAST(SUM(cw) AS BIGINT) AS total_occurrences FROM c),
       |top AS (SELECT w, cw FROM c ORDER BY cw DESC, w LIMIT $topV),
       |r AS (SELECT cw,
       |    CAST(row_number() OVER (ORDER BY cw DESC, w) AS BIGINT) AS k,
       |    CAST(SUM(cw) OVER (ORDER BY cw DESC, w
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |      AS covered
       |  FROM top)
       |SELECT r.k, r.covered, tot.total_occurrences,
       |  round(CAST(r.covered AS DOUBLE) / tot.total_occurrences, 6)
       |    AS coverage
       |FROM r, tot WHERE r.k IN (${VocabCovGrid.mkString(", ")})
       |ORDER BY k""".stripMargin

  // ── Heaps' law fit: vocabulary growth exponent ──

  /** Prefix buckets for the vocabulary-growth curve. */
  val HeapsBuckets = 10

  /** Heaps' law fit — the vocabulary-growth curve V(n) ≈ K·nᵝ over
    * [[HeapsBuckets]] doc-id-ordered corpus prefixes, plus the OLS
    * exponent β from ln V ~ ln n over the grid points. Natural-
    * language corpora sit near β ≈ 0.4–0.6; β drifting toward 1 means
    * the crawl keeps finding novel vocabulary (keep crawling / raise
    * the BPE budget), β → 0 means saturation. Companion to the
    * frequency-spectrum estimators in [[vocabRichness]] (how much is
    * unseen) — this one says how fast the unseen is being found.
    *
    * Scale shape: per-term FIRST-occurrence doc (one wordcount-shaped
    * hash agg to vocabulary size — a term's vocab contribution enters
    * at its min doc_id, so no per-prefix distinct pass) and per-doc
    * token counts (one scan to |docs| rows); both collapse to the
    * bucket grid by integer division against the broadcast 1-row max
    * doc id, and the cumulative curve + OLS fit run on the ≤10-row
    * frame (BoundedWindow). Exact longs until the two ln projections;
    * the fit uses decimal sums of 9-rounded terms (the [[zipfProfile]]
    * discipline) so hashes are partition-order-free. */
  def heapsLawFit(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types.DecimalType
    def dsum(c: Column): Column =
      sum(c.cast(DecimalType(28, 12))).cast("double")
    val docs = Tables.documents(spark, dir)
    val maxDoc = docs.agg(max(col("doc_id")).as("max_doc"))
    val b = HeapsBuckets
    def bucketOf(doc: Column): Column =
      (doc * b / (col("max_doc") + 1L)).cast("long") + 1L
    // per-term first-occurrence doc → new-vocab count per bucket
    val firstSeen = docs
      .select(col("doc_id"), explode(tokens(col("text"))).as("w"))
      .groupBy("w").agg(min(col("doc_id")).as("first_doc"))
      .crossJoin(broadcast(maxDoc))
      .groupBy(bucketOf(col("first_doc")).as("bucket"))
      .agg(count(lit(1)).as("new_vocab"))
    // per-doc token counts → docs/tokens per bucket
    val perBucket = docs
      .select(col("doc_id"), size(tokens(col("text"))).cast("long").as("nt"))
      .crossJoin(broadcast(maxDoc))
      .groupBy(bucketOf(col("doc_id")).as("bucket"))
      .agg(count(lit(1)).as("n_docs"), sum(col("nt")).as("n_tokens"))
    val wB = graft.BoundedWindow.orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val curve = perBucket
      .join(firstSeen, Seq("bucket"), "left")
      .select(col("bucket"),
        sum(col("n_docs")).over(wB).as("cum_docs"),
        sum(col("n_tokens")).over(wB).as("cum_tokens"),
        sum(coalesce(col("new_vocab"), lit(0L))).over(wB).as("cum_vocab"))
    val xy = curve.select(col("bucket"), col("cum_docs"),
      col("cum_tokens"), col("cum_vocab"),
      round(log(col("cum_tokens").cast("double")), 9).as("x"),
      round(log(col("cum_vocab").cast("double")), 9).as("y"))
    val fit = xy.agg(count(lit(1)).cast("double").as("n"),
        dsum(col("x")).as("sx"), dsum(col("y")).as("sy"),
        dsum(col("x") * col("x")).as("sxx"),
        dsum(col("x") * col("y")).as("sxy"))
      // + 0.0 normalizes IEEE −0.0 (a flat fixture curve slopes to
      // −0.0 in one engine and +0.0 in the other; they hash apart)
      .select((round((col("n") * col("sxy") - col("sx") * col("sy")) /
        (col("n") * col("sxx") - col("sx") * col("sx")), 6) + lit(0.0))
        .as("heaps_beta"))
    xy.crossJoin(broadcast(fit))
      .select(col("bucket"), col("cum_docs"), col("cum_tokens"),
        col("cum_vocab"), col("heaps_beta"))
      .orderBy("bucket")
  }

  def heapsLawFitOracle: String =
    s"""WITH md AS (SELECT MAX(doc_id) AS max_doc FROM documents),
       |fs AS (SELECT ((w.g * $HeapsBuckets) // (md.max_doc + 1))
       |      + 1 AS bucket, CAST(COUNT(*) AS BIGINT) AS new_vocab
       |  FROM (SELECT tok, MIN(doc_id) AS g FROM (
       |      SELECT doc_id, unnest($tokensSql) AS tok FROM documents) u
       |    GROUP BY tok) w, md
       |  GROUP BY 1),
       |pb AS (SELECT ((d.doc_id * $HeapsBuckets) // (md.max_doc + 1))
       |      + 1 AS bucket,
       |    CAST(COUNT(*) AS BIGINT) AS n_docs,
       |    CAST(SUM(len($tokensSql)) AS BIGINT) AS n_tokens
       |  FROM documents d, md GROUP BY 1),
       |curve AS (SELECT pb.bucket,
       |    CAST(SUM(pb.n_docs) OVER w AS BIGINT) AS cum_docs,
       |    CAST(SUM(pb.n_tokens) OVER w AS BIGINT) AS cum_tokens,
       |    CAST(SUM(COALESCE(fs.new_vocab, 0)) OVER w AS BIGINT)
       |      AS cum_vocab
       |  FROM pb LEFT JOIN fs ON pb.bucket = fs.bucket
       |  WINDOW w AS (ORDER BY pb.bucket
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
       |xy AS (SELECT bucket, cum_docs, cum_tokens, cum_vocab,
       |    round(ln(CAST(cum_tokens AS DOUBLE)), 9) AS x,
       |    round(ln(CAST(cum_vocab AS DOUBLE)), 9) AS y
       |  FROM curve),
       |fit AS (SELECT round((n*sxy - sx*sy) / (n*sxx - sx*sx), 6) + 0.0
       |    AS heaps_beta
       |  FROM (SELECT CAST(COUNT(*) AS DOUBLE) AS n,
       |      CAST(SUM(CAST(x AS DECIMAL(28,12))) AS DOUBLE) AS sx,
       |      CAST(SUM(CAST(y AS DECIMAL(28,12))) AS DOUBLE) AS sy,
       |      CAST(SUM(CAST(x*x AS DECIMAL(28,12))) AS DOUBLE) AS sxx,
       |      CAST(SUM(CAST(x*y AS DECIMAL(28,12))) AS DOUBLE) AS sxy
       |    FROM xy) g)
       |SELECT xy.bucket, xy.cum_docs, xy.cum_tokens, xy.cum_vocab,
       |  fit.heaps_beta
       |FROM xy, fit ORDER BY bucket""".stripMargin

  // ── per-source language mix: entropy + majority share ──

  /** Per-source language-mix report — the curation table behind
    * source-level language routing: per source, the doc count,
    * distinct languages seen, the majority language (ties to the
    * lexicographically smallest, deterministic), its share, and the
    * Shannon entropy (nats) of the language distribution. A source
    * whose entropy drifts up between vintages started mixing
    * languages — the routing/lang-id assumptions need rechecking;
    * entropy ≈ 0 sources can skip per-doc lang-id entirely at 100 TB.
    *
    * Scale shape: one scan collapses to the (source × lang) count
    * frame (map-side partials); the per-source totals re-aggregate
    * that bounded frame and join back size-driven (no hint — the
    * per-source-frame rule); the report is |sources| rows. Counts
    * exact; the entropy is a decimal sum of 9-rounded p·ln p terms
    * (partition-order-free), the two ratios round to 6. */
  def sourceLangMix(spark: SparkSession, dir: String): DataFrame =
    langMixReport(Tables.documents(spark, dir)
      .groupBy("source", "lang").agg(count(lit(1)).as("n")))

  /** The per-source mix fold over a (source, lang, n) count frame —
    * shared by the batch report above and the streaming monitor's
    * post-replay fold ([[graft.streaming.DocStream
    * .streamingLangMixMonitor]]), so the two cannot drift. */
  private[graft] def langMixReport(cnt: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val tot = cnt.groupBy("source")
      .agg(sum("n").as("n_docs"), count(lit(1)).as("n_langs"),
        max("n").as("maxn"))
    val p = col("n").cast("double") / col("n_docs")
    cnt.join(tot, Seq("source"))
      .groupBy("source")
      .agg(max(col("n_docs")).as("n_docs"),
        max(col("n_langs")).as("n_langs"),
        min(when(col("n") === col("maxn"), col("lang"))).as("majority_lang"),
        max(col("maxn")).as("maxn"),
        sum(round(-p * log(p), 9).cast(DecimalType(28, 12)))
          .cast("double").as("ent"))
      .select(col("source"), col("n_docs"), col("n_langs"),
        col("majority_lang"),
        round(col("maxn").cast("double") / col("n_docs"), 6)
          .as("majority_share"),
        round(col("ent"), 6).as("lang_entropy"))
      .orderBy("source")
  }

  def sourceLangMixOracle: String =
    s"""WITH c AS (SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS n
       |  FROM documents GROUP BY source, lang),
       |t AS (SELECT source, CAST(SUM(n) AS BIGINT) AS n_docs,
       |    CAST(COUNT(*) AS BIGINT) AS n_langs,
       |    CAST(MAX(n) AS BIGINT) AS maxn
       |  FROM c GROUP BY source)
       |SELECT c.source, t.n_docs, t.n_langs,
       |  MIN(CASE WHEN c.n = t.maxn THEN c.lang END) AS majority_lang,
       |  round(CAST(t.maxn AS DOUBLE) / t.n_docs, 6) AS majority_share,
       |  round(CAST(SUM(CAST(round(
       |      -(CAST(c.n AS DOUBLE) / t.n_docs) *
       |        ln(CAST(c.n AS DOUBLE) / t.n_docs), 9)
       |    AS DECIMAL(28,12))) AS DOUBLE), 6) AS lang_entropy
       |FROM c JOIN t USING (source)
       |GROUP BY c.source, t.n_docs, t.n_langs, t.maxn
       |ORDER BY source""".stripMargin

  // ── term burstiness: Church–Gale contagion statistics ──

  /** Report size for the burstiness panel. */
  val BurstTopK = 20

  /** Term burstiness for the [[BurstTopK]] highest-volume terms —
    * Church & Gale's observation that content words are "contagious":
    * their occurrences clump into few documents instead of spreading
    * Poisson-thin. Per term: collection frequency cf, document
    * frequency df, burst = cf/df (mean occurrences per CONTAINING
    * doc; ≈1 = function-word-like, ≫1 = topical/boilerplate), and the
    * variance-to-mean ratio over ALL docs including zeros (Poisson
    * ⇒ VMR ≈ 1; VMR ≫ 1 flags templated/boilerplate tokens that
    * per-doc quality scores miss). The stopword-vs-content split this
    * exposes feeds the quality-scoring stopword list and the
    * boilerplate n-gram screen.
    *
    * Scale shape: one token scan → per-(term, doc) counts (the
    * inverted-index shuffle) → per-term sufficient statistics (cf, df,
    * Σx² — map-side partials) → a bounded top-k heap; VMR needs the
    * total doc count, a broadcast 1-row frame. Zeros never
    * materialize: Σx² over all docs equals Σx² over containing docs,
    * and the mean over N docs is cf/N. Exact longs; the two final
    * ratios round to 6. */
  def termBurstiness(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val nDocs = docs.agg(count(lit(1)).as("n_all_docs"))
    val perTermDoc = docs
      .select(col("doc_id"), explode(tokens(col("text"))).as("w"))
      .groupBy("w", "doc_id").agg(count(lit(1)).as("x"))
    perTermDoc.groupBy("w")
      .agg(sum(col("x")).as("cf"), count(lit(1)).as("df"),
        sum(col("x") * col("x")).as("sxx"))
      .orderBy(col("cf").desc, col("w")).limit(BurstTopK)
      .crossJoin(broadcast(nDocs))
      .select(col("w"), col("cf"), col("df"),
        round(col("cf").cast("double") / col("df"), 6).as("burst"),
        round((col("sxx").cast("double") / col("n_all_docs") -
          pow(col("cf").cast("double") / col("n_all_docs"), 2)) /
          (col("cf").cast("double") / col("n_all_docs")), 6).as("vmr"))
      .orderBy(col("cf").desc, col("w"))
  }

  def termBurstinessOracle: String =
    s"""WITH nd AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_all_docs
       |  FROM documents),
       |td AS (SELECT w, doc_id, CAST(COUNT(*) AS BIGINT) AS x
       |  FROM (SELECT doc_id, unnest($tokensSql) AS w FROM documents) u
       |  GROUP BY w, doc_id),
       |t AS (SELECT w, CAST(SUM(x) AS BIGINT) AS cf,
       |    CAST(COUNT(*) AS BIGINT) AS df,
       |    CAST(SUM(x * x) AS BIGINT) AS sxx
       |  FROM td GROUP BY w
       |  ORDER BY cf DESC, w LIMIT $BurstTopK)
       |SELECT t.w, t.cf, t.df,
       |  round(CAST(t.cf AS DOUBLE) / t.df, 6) AS burst,
       |  round((CAST(t.sxx AS DOUBLE) / nd.n_all_docs -
       |    pow(CAST(t.cf AS DOUBLE) / nd.n_all_docs, 2)) /
       |    (CAST(t.cf AS DOUBLE) / nd.n_all_docs), 6) AS vmr
       |FROM t, nd ORDER BY cf DESC, w""".stripMargin
}

