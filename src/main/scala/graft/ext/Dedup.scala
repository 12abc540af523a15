package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Deduplication operators: exact, bag-of-words, MinHash(+LSH), SimHash,
  * n-gram Jaccard, embedding-cosine.
  *
  * Scale design: signature computation (MinHash, SimHash, fingerprints)
  * is a pure per-row projection — NO shuffle, no pairwise work. Only
  * candidate-pair generation shuffles, and it shuffles on (band,
  * band_key) so each bucket is tiny; verification joins touch candidate
  * pairs only, never the O(n²) cross product. That is the standard
  * LSH recipe that holds at 100 TB (the brute-force embedding variant
  * is explicitly the small-side baseline; the LSH path replaces it at
  * scale).
  *
  * Hash parity with the DuckDB oracle: token hash = first 8 hex chars
  * of md5, parsed as an integer — identical in both engines — then
  * exact 64-bit modular arithmetic for the permutations. Never Spark's
  * murmur3 `hash()` (engine-private).
  */
object Dedup {

  private def toks(c: Column): Column = TextAnalysis.tokens(c)
  private val tokensSql =
    raw"list_filter(string_split_regex(lower(text), '[^\p{L}\p{N}]+'), w -> w <> '')"

  // ── exact dedup ──

  /** Hash-groupBy on raw text: keeper = min doc_id per group. Map-side
    * partial agg keeps the shuffle at one row per distinct text per
    * partition. */
  def exact(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .groupBy(col("text"))
      .agg(min(col("doc_id")).as("keeper"), count(lit(1)).as("n_copies"))
      .select(md5(col("text")).as("text_md5"), col("keeper"), col("n_copies"))
      .orderBy("keeper")

  def exactOracle: String =
    """SELECT md5(text) AS text_md5, min(doc_id) AS keeper,
      |  COUNT(*) AS n_copies
      |FROM documents GROUP BY text ORDER BY keeper""".stripMargin

  /** Bag-of-words dedup: same distinct token set = duplicate (catches
    * reordered content). Groups on the bag fingerprint. */
  def bag(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        md5(array_join(array_sort(array_distinct(toks(col("text")))), " ")).as("bag_md5"))
      .groupBy("bag_md5")
      .agg(min(col("doc_id")).as("keeper"), count(lit(1)).as("n_copies"))
      .orderBy("keeper")

  def bagOracle: String =
    s"""SELECT md5(array_to_string(list_sort(list_distinct(ws)), ' ')) AS bag_md5,
       |  min(doc_id) AS keeper, COUNT(*) AS n_copies
       |FROM (SELECT doc_id, $tokensSql AS ws FROM documents) t
       |GROUP BY 1 ORDER BY keeper""".stripMargin

  /** Keeper-POLICY dedup: same bag fingerprint, but keep the highest-
    * value copy (longest text, min doc_id tiebreak) instead of the
    * arbitrary min-id — real pipelines keep the best duplicate, not
    * the first. One hash aggregation via native `max_by` with a
    * struct tiebreak (the argmax discipline — map-side partials, no
    * window, no second pass). The -doc_id negation turns "min id"
    * into the struct's max ordering. */
  def keepBest(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("n_chars"),
        md5(array_join(array_sort(array_distinct(toks(col("text")))), " "))
          .as("bag_md5"))
      .groupBy("bag_md5")
      .agg(max_by(col("doc_id"),
          struct(col("n_chars"), negate(col("doc_id")))).as("keeper"),
        max(col("n_chars")).as("keeper_chars"),
        count(lit(1)).as("n_copies"))
      .orderBy("bag_md5")

  def keepBestOracle: String =
    s"""WITH t AS (SELECT doc_id, n_chars,
       |    md5(array_to_string(list_sort(list_distinct(ws)), ' ')) AS bag_md5
       |  FROM (SELECT doc_id, n_chars, $tokensSql AS ws FROM documents) u),
       |r AS (SELECT bag_md5, doc_id, n_chars,
       |    row_number() OVER (PARTITION BY bag_md5
       |      ORDER BY n_chars DESC, doc_id ASC) AS rk,
       |    MAX(n_chars) OVER (PARTITION BY bag_md5) AS keeper_chars,
       |    COUNT(*) OVER (PARTITION BY bag_md5) AS n_copies
       |  FROM t)
       |SELECT bag_md5, doc_id AS keeper, keeper_chars,
       |  CAST(n_copies AS BIGINT) AS n_copies
       |FROM r WHERE rk = 1 ORDER BY bag_md5""".stripMargin

  // ── MinHash ──

  val NumPerms = 16
  val MinhashPrime = 2147483647L // 2^31-1; a*h+b stays < 2^63

  /** Per-token hash: first 8 md5 hex chars as int, mod p. */
  private def tokHash(w: Column): Column =
    conv(substring(md5(w), 1, 8), 16, 10).cast("long") % MinhashPrime

  private def tokHashSql(w: String): String =
    s"(CAST(concat('0x', substr(md5($w), 1, 8)) AS BIGINT) % $MinhashPrime)"

  private def permA(k: Column): Column = lit(4099L) * k + 8191L
  private def permB(k: Column): Column = lit(9973L) * k + 104729L

  /** 16-permutation MinHash signature over the distinct token set as a
    * single projection: sig[k] = min_w ((a_k·h(w)+b_k) mod p).
    * Convenient for per-row use (tests, ad-hoc), but the lambdas run
    * interpreted — the relational queries below use the explode +
    * partial-agg form instead, which stays in whole-stage codegen. */
  def signatureCol(text: Column): Column = {
    val hs = transform(array_distinct(toks(text)), w => tokHash(w))
    transform(sequence(lit(0L), lit(NumPerms - 1L)), k =>
      array_min(transform(hs, h => (permA(k) * h + permB(k)) % MinhashPrime)))
  }

  /** Doc-level signature array in ONE hash aggregate: the 16
    * permutations are constant-folded into 16 `min` aggregate columns
    * over the (doc, token-hash) rows, so the aggregate input is
    * |docs|×|tokens| rows — not ×|perms| — and the signature array
    * needs no second collect_list/sort pass. Map-side combine still
    * bounds the shuffle at one row per doc per partition. Takes any
    * (doc_id, text) frame so callers can run LSH on an
    * already-filtered corpus. Output: (doc_id, sig: array<bigint>)
    * with sig(k) = min_w ((a_k·h(w)+b_k) mod p). */
  def signatureArray(docs: DataFrame): DataFrame =
    sigAgg(docs
      .select(col("doc_id"), explode(array_distinct(toks(col("text")))).as("w"))
      .select(col("doc_id"), tokHash(col("w")).as("h")))

  /** The 16 constant-permutation mins over (doc_id, h) rows. */
  private def sigAgg(hashed: DataFrame): DataFrame = {
    val mins = (0 until NumPerms).map { k =>
      min((lit(4099L * k + 8191L) * col("h") + lit(9973L * k + 104729L))
        % MinhashPrime).as(s"_m$k")
    }
    hashed.groupBy("doc_id")
      .agg(mins.head, mins.tail: _*)
      .select(col("doc_id"),
        array((0 until NumPerms).map(k => col(s"_m$k")): _*).as("sig"))
  }

  /** (doc_id, k, mh) signature rows — the array form, unnested. */
  def signatureRows(docs: DataFrame): DataFrame =
    signatureArray(docs)
      .select(col("doc_id"), posexplode(col("sig")))
      .select(col("doc_id"), col("pos").cast("long").as("k"), col("col").as("mh"))

  /** Signatures as (doc_id, k, mh) rows for verification. */
  def minhashSignatures(spark: SparkSession, dir: String): DataFrame =
    signatureRows(Tables.documents(spark, dir)).orderBy("doc_id", "k")

  /** Character 5-gram (shingle) MinHash signatures — the
    * tokenizer-free variant: robust to languages without word
    * boundaries and to punctuation-level edits that word-token
    * signatures miss. Same permutation family and plan shape as the
    * word form (explode → codegen hash → partial-agg min); docs
    * shorter than the shingle width contribute no rows. */
  def shingleSignatures(spark: SparkSession, dir: String,
                        width: Int = 5): DataFrame = {
    // The kernel concentrates all the work in the projection, so spread
    // the docs across the full core count first — a small parquet input
    // arrives as ONE split, and the kernel stage would otherwise run
    // single-threaded. The explicit partition count keeps AQE from
    // coalescing the tiny-by-bytes exchange back to one partition
    // (5k docs is ~1.6 MB on the wire but minutes of hashing). At real
    // scale the scan has thousands of splits and this exchange is one
    // cheap extra pass. The persist stops the final sort's range
    // sampling from executing the kernel a second time.
    val sig = Tables.documents(spark, dir)
      .repartition(spark.sparkContext.defaultParallelism, col("doc_id"))
      .select(col("doc_id"),
        graft.functions.ShingleSig(lower(col("text")), width).as("sig"))
      .select(col("doc_id"), posexplode(col("sig")))
      .select(col("doc_id"), col("pos").cast("long").as("k"), col("col").as("mh"))
      .persist()
    graft.GraftSession.releaseAfterAction(spark, sig)
    sig.orderBy("doc_id", "k")
  }

  def shingleSignaturesOracle: String = shingleSignaturesOracle(5)

  def shingleSignaturesOracle(width: Int): String =
    s"""WITH sh AS (
       |  SELECT doc_id, list_distinct(list_transform(
       |    range(greatest(length(lower(text)) - ${width - 1}, 0)),
       |    i -> substr(lower(text), CAST(i + 1 AS BIGINT), $width))) AS ss
       |  FROM documents),
       |th AS (SELECT doc_id, ${tokHashSql("s")} AS h
       |       FROM (SELECT doc_id, unnest(ss) AS s FROM sh) u),
       |sig AS (SELECT doc_id, k,
       |       MIN(((4099*k + 8191) * h + (9973*k + 104729)) % $MinhashPrime) AS mh
       |       FROM th CROSS JOIN range(${NumPerms}) r(k)
       |       GROUP BY doc_id, k)
       |SELECT doc_id, CAST(k AS BIGINT) AS k, CAST(mh AS BIGINT) AS mh
       |FROM sig ORDER BY doc_id, k""".stripMargin

  def minhashSignaturesOracle: String =
    s"""WITH toks AS (
       |  SELECT doc_id, list_distinct($tokensSql) AS ws FROM documents),
       |th AS (SELECT doc_id, ${tokHashSql("w")} AS h
       |       FROM (SELECT doc_id, unnest(ws) AS w FROM toks) u),
       |sig AS (SELECT doc_id, k,
       |       MIN(((4099*k + 8191) * h + (9973*k + 104729)) % $MinhashPrime) AS mh
       |       FROM th CROSS JOIN range(${NumPerms}) r(k)
       |       GROUP BY doc_id, k)
       |SELECT doc_id, CAST(k AS BIGINT) AS k, CAST(mh AS BIGINT) AS mh
       |FROM sig ORDER BY doc_id, k""".stripMargin

  // ── MinHash-LSH candidate pairs ──

  val NumBands = 2 // 2 bands × 8 rows
  val PairThreshold = 0.75

  /** Synchronous label-propagation rounds for [[dedupCommunitiesLpa]]. */
  val LpaDocIters = 3

  /** Bucket-size cap: an LSH bucket larger than this switches from
    * all-pairs to STAR topology — every member pairs only with the
    * bucket's min-doc_id representative. A degenerate corpus (tiny
    * vocabulary, mass-duplicated boilerplate) otherwise puts thousands
    * of docs in one bucket and the candidate join goes quadratic
    * (measured 3,866 docs in ONE bucket at sf0.1 ≈ 15M joined rows per
    * band). Star keeps the candidate count linear in the bucket size
    * and — for the near-identical docs that cause such buckets —
    * preserves exactly the connectivity that duplicate-group
    * resolution needs (member↔rep edges verify at est≈1). */
  val MaxBucket = 64

  /** LSH near-dup pairs: band the signature (2 bands × 8), bucket-join
    * on (band, band-key), then estimate Jaccard as the fraction of
    * equal signature components. The only shuffle keys are band
    * buckets; the pairwise join never sees non-colliding docs.
    *
    * Band width tuned wide (8 rows) because this corpus draws from a
    * ~31-word vocabulary, so doc token SETS collide massively: narrow
    * bands put thousands of docs in one bucket and the candidate join
    * goes quadratic (measured 83M joined rows with 2-row bands vs 5.5M
    * with 8-row bands at sf0.1). Wide bands = high precision, recall
    * limited to near-identical sets — the right trade for dedup. */
  def minhashPairs(spark: SparkSession, dir: String): DataFrame =
    minhashPairs(Tables.documents(spark, dir), PairThreshold)

  def minhashPairs(spark: SparkSession, dir: String, threshold: Double): DataFrame =
    minhashPairs(Tables.documents(spark, dir), threshold)

  /** Capped candidate pairs within LSH buckets — the one bucket-cap
    * topology shared by every pair generator. `banded` carries the
    * bucket key columns, an id column, and payload columns; buckets at
    * or below `maxBucket` pair all-vs-all, larger buckets go star
    * (every member pairs with the min-id rep — see [[MaxBucket]]).
    * Output: (d1, d2, <payload>1…, <payload>2…) with d1 < d2.
    *
    * The banded table feeds FOUR plan references (both sides of the
    * small-bucket self-join, the big-bucket members, and the reps);
    * without a persist each reference re-runs the upstream signature
    * pipeline — 4 corpus scans at 100 TB. */
  private[ext] def cappedBucketPairs(banded: DataFrame, keyCols: Seq[String],
                                idCol: String, payloadCols: Seq[String],
                                maxBucket: Int): DataFrame = {
    val out = col("d1") +: col("d2") +:
      (payloadCols.map(c => col(s"${c}1")) ++ payloadCols.map(c => col(s"${c}2")))
    val sized = banded.withColumn("__bn",
      count(lit(1)).over(Window.partitionBy(keyCols.map(col): _*)))
      .persist()
    graft.GraftSession.releaseAfterAction(banded.sparkSession, sized)
    def side(n: Int) = sized.filter(col("__bn") <= maxBucket).select(
      keyCols.map(col) ++ (col(idCol).as(s"d$n") +:
        payloadCols.map(c => col(c).as(s"$c$n"))): _*)
    val smallPairs = side(1).join(side(2), keyCols)
      .filter(col("d1") < col("d2"))
    val big = sized.filter(col("__bn") > maxBucket)
    val reps = big.groupBy(keyCols.map(col): _*)
      .agg(min(struct(col(idCol) +: payloadCols.map(col): _*)).as("__rep"))
      .select(keyCols.map(col) ++ (col(s"__rep.$idCol").as("d1") +:
        payloadCols.map(c => col(s"__rep.$c").as(s"${c}1"))): _*)
    val starPairs = big.join(reps, keyCols)
      .filter(col(idCol) > col("d1"))
      .withColumn("d2", col(idCol))
      .withColumns(payloadCols.map(c => s"${c}2" -> col(c)).toMap)
    smallPairs.select(out: _*).union(starPairs.select(out: _*))
  }

  /** (doc_id, sig, band_id, band_key) banding of a corpus — the
    * signature pipeline up to (but not including) the bucket join.
    * Band keys are per-doc (md5 of signature slices), so filtering
    * this frame to a doc subset equals banding that subset directly —
    * which lets the artifact build compute ONE signature pass and
    * derive both the keeper and the full-corpus candidate sets. */
  private[ext] def minhashBands(corpus: DataFrame): DataFrame = {
    val docs = signatureArray(corpus)
    val rowsPerBand = NumPerms / NumBands
    docs.select(col("doc_id"), col("sig"),
        posexplode(transform(sequence(lit(0), lit(NumBands - 1)), b =>
          md5(array_join(slice(col("sig"), b * rowsPerBand + 1, lit(rowsPerBand)), ",")))))
      .select(col("doc_id"), col("sig"), col("pos").as("band_id"), col("col").as("band_key"))
  }

  /** Capped candidate pairs + estimated Jaccard from a banded frame.
    * `sorted=false` skips the output sort for consumers that don't
    * observe row order (the durable artifact build: parquet row order
    * is invisible — every artifact consumer applies its own output
    * sort, so the build's two range sorts were pure waste). */
  private[ext] def minhashPairsFromBands(bands: DataFrame, threshold: Double,
                                         maxBucket: Int,
                                         sorted: Boolean = true): DataFrame = {
    val pairs =
      cappedBucketPairs(bands, Seq("band_id", "band_key"), "doc_id", Seq("sig"), maxBucket)
        .select(col("d1"), col("d2"),
          (graft.functions.ArrayEqCount(col("sig1"), col("sig2")).cast("double")
            / NumPerms).as("est_jaccard"))
        .distinct()
        .filter(col("est_jaccard") >= threshold)
    if (sorted) pairs.orderBy("d1", "d2") else pairs
  }

  /** LSH pairs over any (doc_id, text) frame. Buckets at or below
    * `maxBucket` pair all-vs-all; larger buckets go star (see
    * [[MaxBucket]]), so no bucket ever contributes O(n²) candidates. */
  def minhashPairs(corpus: DataFrame, threshold: Double,
                   maxBucket: Int = MaxBucket): DataFrame =
    minhashPairsFromBands(minhashBands(corpus), threshold, maxBucket)

  /** Shared CTE stack (tokens → signatures → capped candidate pairs →
    * estimated jaccard) reused by the pairs, groups, and verified
    * oracles; `src` is the (doc_id, text) relation to mine. */
  private def minhashEstCtes: String = minhashEstCtes("documents")

  // shared with Pipeline's composed-oracle SQL
  private[ext] def minhashEstCtesPublic(src: String): String = minhashEstCtes(src)
  private[ext] def tokensSqlPublic: String = tokensSql

  private def minhashEstCtes(src: String): String =
    s"""toks AS (
       |  SELECT doc_id, list_distinct($tokensSql) AS ws FROM $src),
       |th AS (SELECT doc_id, ${tokHashSql("w")} AS h
       |       FROM (SELECT doc_id, unnest(ws) AS w FROM toks) u),
       |sig AS (SELECT doc_id, k,
       |       MIN(((4099*k + 8191) * h + (9973*k + 104729)) % $MinhashPrime) AS mh
       |       FROM th CROSS JOIN range(${NumPerms}) r(k)
       |       GROUP BY doc_id, k),
       |band AS (SELECT doc_id, k // ${NumPerms / NumBands} AS band_id,
       |       md5(string_agg(mh::VARCHAR, ',' ORDER BY k)) AS band_key
       |       FROM sig GROUP BY doc_id, k // ${NumPerms / NumBands}),
       |sized AS (SELECT doc_id, band_id, band_key,
       |       COUNT(*) OVER (PARTITION BY band_id, band_key) AS bn FROM band),
       |cand AS (SELECT a.doc_id AS d1, b.doc_id AS d2
       |       FROM sized a JOIN sized b
       |         ON a.band_id = b.band_id AND a.band_key = b.band_key
       |        AND a.doc_id < b.doc_id
       |       WHERE a.bn <= $MaxBucket
       |       UNION
       |       SELECT r.d1, m.doc_id AS d2
       |       FROM (SELECT band_id, band_key, MIN(doc_id) AS d1 FROM sized
       |             WHERE bn > $MaxBucket GROUP BY band_id, band_key) r
       |       JOIN sized m ON m.band_id = r.band_id AND m.band_key = r.band_key
       |        AND m.doc_id > r.d1),
       |est AS (SELECT c.d1, c.d2,
       |       CAST(COUNT(*) FILTER (s1.mh = s2.mh) AS DOUBLE) / ${NumPerms} AS est_jaccard
       |       FROM cand c
       |       JOIN sig s1 ON s1.doc_id = c.d1
       |       JOIN sig s2 ON s2.doc_id = c.d2 AND s1.k = s2.k
       |       GROUP BY c.d1, c.d2)""".stripMargin

  def minhashPairsOracle: String =
    s"""WITH $minhashEstCtes
       |SELECT d1, d2, est_jaccard FROM est
       |WHERE est_jaccard >= $PairThreshold ORDER BY d1, d2""".stripMargin

  // ── incremental dedup: today's batch against the standing corpus ──

  /** Delta selector: doc_id ≡ 9 (mod 10) is "today's batch" — a
    * deterministic ~10% slice standing in for the daily crawl drop. */
  val DeltaMod = 10

  /** Incremental near-dup screen: every DELTA document's best MinHash
    * match in the BASE corpus — the shape production dedup actually
    * runs daily (a new batch lands; the question is "is this new doc a
    * near-copy of anything we already hold", never "re-pair the whole
    * lake"). One signature pass covers both sides; the bucket join is
    * delta×base within shared LSH bands only, with the base side of
    * every bucket capped at the [[MaxBucket]] smallest ids (the star
    * cap's incremental analog: a boilerplate mega-bucket contributes
    * O(cap) candidates per delta doc, never O(|bucket|) — and because
    * capped-out base members of such a bucket are near-identical to
    * the retained ones, the BEST-match estimate is unaffected where it
    * matters). Per delta doc: argmax-by-estimate base match (min-id
    * tiebreak), and unmatched deltas still report a row with is_dup =
    * false — the verdict column a downstream keep/drop filter joins
    * on. At 100 TB: base signatures are a standing table maintained
    * incrementally; only the delta is re-signed, and the shuffle keys
    * are band buckets — |delta| + touched buckets, not the lake. */
  /** (doc_id, sig, band_id, band_key) — the MinHash signature plus
    * one row per LSH band. Pure projection + posexplode (no shuffle,
    * no state), so it applies identically to a batch frame and a
    * readStream — the property that lets the streaming twin
    * ([[graft.streaming.DocStream.streamingIncrementalDedup]]) share
    * THIS code and [[incrementalDedupOracle]] verbatim. */
  private[graft] def bandedSigs(docs: DataFrame): DataFrame =
    signatureArray(docs)
      .select(col("doc_id"), col("sig"), posexplode(bandKeys(col("sig"))))
      .select(col("doc_id"), col("sig"), col("pos").as("band_id"),
        col("col").as("band_key"))

  /** The per-band bucket keys of a signature array — md5 over each
    * band's slice of the permutation mins. ONE expression for every
    * band producer: [[bandedSigs]] (batch, aggregate-built
    * signatures) and the streaming twin (projection-built
    * [[signatureCol]] signatures — a readStream cannot host the
    * signature aggregation AND the argmax, so it signs per-row; the
    * bucket keys still come from here and therefore cannot drift). */
  private[graft] def bandKeys(sig: Column): Column = {
    val rowsPerBand = NumPerms / NumBands
    transform(sequence(lit(0), lit(NumBands - 1)), b =>
      md5(array_join(slice(sig, b * rowsPerBand + 1, lit(rowsPerBand)), ",")))
  }

  /** The standing-base side of the incremental screen: banded
    * signatures of the non-delta corpus, each (band, key) bucket
    * capped at the [[MaxBucket]] smallest ids (plans as a partial
    * WindowGroupLimit). Shared by the batch and streaming twins. */
  private[graft] def cappedBaseBands(docs: DataFrame): DataFrame = {
    val isDelta = col("doc_id") % DeltaMod === (DeltaMod - 1)
    val w = Window.partitionBy("band_id", "band_key").orderBy("doc_id")
    bandedSigs(docs.filter(!isDelta))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= MaxBucket)
      .select(col("band_id"), col("band_key"),
        col("doc_id").as("b"), col("sig").as("bs"))
  }

  /** MinHash agreement estimate — the scoring kernel both twins use. */
  private[graft] def estSig(qs: Column, bs: Column): Column =
    graft.functions.ArrayEqCount(qs, bs).cast("double") / NumPerms

  def incrementalDedup(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    val isDelta = col("doc_id") % DeltaMod === (DeltaMod - 1)
    val bands = bandedSigs(docs)
      .persist() // both join sides read it; unpersisted = two sig passes
    graft.GraftSession.releaseAfterAction(spark, bands)
    val w = Window.partitionBy("band_id", "band_key").orderBy("doc_id")
    val base = bands.filter(!isDelta)
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= MaxBucket) // plans as a partial WindowGroupLimit
      .select(col("band_id"), col("band_key"),
        col("doc_id").as("b"), col("sig").as("bs"))
    val est = bands.filter(isDelta)
      .select(col("band_id"), col("band_key"),
        col("doc_id").as("q"), col("sig").as("qs"))
      .join(base, Seq("band_id", "band_key"))
      .select(col("q"), col("b"), estSig(col("qs"), col("bs")).as("est"))
      .distinct() // the same pair can collide in both bands
    // argmax by (est desc, base id asc) — struct max with negated id
    val best = est.groupBy("q")
      .agg(max(struct(col("est"), (-col("b")).as("nb"))).as("m"))
      .select(col("q").as("doc_id"), (-col("m.nb")).as("best_match"),
        col("m.est").as("est_jaccard"))
    docs.filter(isDelta).select(col("doc_id"))
      .join(best, Seq("doc_id"), "left")
      .select(col("doc_id"), col("best_match"), col("est_jaccard"),
        coalesce(col("est_jaccard") >= PairThreshold, lit(false)).as("is_dup"))
      .orderBy("doc_id")
  }

  def incrementalDedupOracle: String =
    s"""WITH toks AS (
       |  SELECT doc_id, list_distinct($tokensSql) AS ws FROM documents),
       |th AS (SELECT doc_id, ${tokHashSql("w")} AS h
       |       FROM (SELECT doc_id, unnest(ws) AS w FROM toks) u),
       |sig AS (SELECT doc_id, k,
       |       MIN(((4099*k + 8191) * h + (9973*k + 104729)) % $MinhashPrime) AS mh
       |       FROM th CROSS JOIN range(${NumPerms}) r(k)
       |       GROUP BY doc_id, k),
       |band AS (SELECT doc_id, k // ${NumPerms / NumBands} AS band_id,
       |       md5(string_agg(mh::VARCHAR, ',' ORDER BY k)) AS band_key
       |       FROM sig GROUP BY doc_id, k // ${NumPerms / NumBands}),
       |base AS (SELECT band_id, band_key, doc_id AS b,
       |       row_number() OVER (PARTITION BY band_id, band_key
       |                          ORDER BY doc_id) AS rk
       |       FROM band WHERE doc_id % $DeltaMod <> ${DeltaMod - 1}),
       |cand AS (SELECT DISTINCT d.doc_id AS q, base.b
       |       FROM band d JOIN base
       |         ON d.band_id = base.band_id AND d.band_key = base.band_key
       |       WHERE d.doc_id % $DeltaMod = ${DeltaMod - 1}
       |         AND base.rk <= $MaxBucket),
       |est AS (SELECT c.q, c.b,
       |       CAST(COUNT(*) FILTER (s1.mh = s2.mh) AS DOUBLE) / $NumPerms AS est
       |       FROM cand c
       |       JOIN sig s1 ON s1.doc_id = c.q
       |       JOIN sig s2 ON s2.doc_id = c.b AND s1.k = s2.k
       |       GROUP BY c.q, c.b),
       |best AS (SELECT q AS doc_id, b AS best_match, est AS est_jaccard,
       |       row_number() OVER (PARTITION BY q ORDER BY est DESC, b) AS rn
       |       FROM est)
       |SELECT d.doc_id, best.best_match, best.est_jaccard,
       |  COALESCE(best.est_jaccard >= $PairThreshold, false) AS is_dup
       |FROM (SELECT doc_id FROM documents
       |      WHERE doc_id % $DeltaMod = ${DeltaMod - 1}) d
       |LEFT JOIN best ON best.doc_id = d.doc_id AND best.rn = 1
       |ORDER BY d.doc_id""".stripMargin

  // ── SimHash ──

  val SimhashBits = 32

  /** 32-bit SimHash over the distinct token set: bit b of the signature
    * is 1 iff Σ_w (2·bit_b(h(w))−1) > 0. ONE hash aggregate over the
    * (doc, token-hash) rows with the 32 bit-sums as constant-shift
    * aggregate columns (h ≥ 0, so `(h >> b) % 2` is exactly bit b) —
    * the previous form exploded every token row ×32 bits through TWO
    * aggregates, inflating the aggregate input 32× to compute the same
    * 32 integers. Map-side combine bounds the shuffle at one row per
    * doc per partition; 32 long buffers stay well inside whole-stage
    * codegen's field budget. */
  def simhash(spark: SparkSession, dir: String): DataFrame = {
    val bitSums = (0 until SimhashBits).map(b =>
      sum((shiftright(col("h"), b) % 2L) * 2L - 1L).as(s"_b$b"))
    Tables.documents(spark, dir)
      .select(col("doc_id"), explode(array_distinct(toks(col("text")))).as("w"))
      .select(col("doc_id"),
        conv(substring(md5(col("w")), 1, 8), 16, 10).cast("long").as("h"))
      .groupBy("doc_id")
      .agg(bitSums.head, bitSums.tail: _*)
      .select(col("doc_id"),
        (0 until SimhashBits).map(b =>
          when(col(s"_b$b") > 0, lit(1L << b)).otherwise(0L))
          .reduce(_ + _).as("simhash"))
      .orderBy("doc_id")
  }

  def simhashOracle: String =
    s"""WITH toks AS (
       |  SELECT doc_id, list_distinct($tokensSql) AS ws FROM documents),
       |th AS (SELECT doc_id, CAST(concat('0x', substr(md5(w), 1, 8)) AS BIGINT) AS h
       |       FROM (SELECT doc_id, unnest(ws) AS w FROM toks) u),
       |bits AS (SELECT doc_id, b,
       |       CASE WHEN SUM(((h // (1::BIGINT << b)) % 2) * 2 - 1) > 0
       |            THEN (1::BIGINT << b) ELSE 0 END AS bitval
       |       FROM th CROSS JOIN range(${SimhashBits}) r(b)
       |       GROUP BY doc_id, b)
       |SELECT doc_id, CAST(SUM(bitval) AS BIGINT) AS simhash
       |FROM bits GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // ── word n-gram Jaccard ──

  /** Exact 3-gram Jaccard over candidate pairs (restricted id range for
    * the verification query; at scale the candidate set comes from the
    * LSH pass, never a cross product). Jaccard = |∩| / (|A|+|B|−|∩|) —
    * exact integers, one IEEE division. */
  /** Distinct word trigram set per doc; docs with <3 tokens contribute
    * no grams. Compiled WordNGrams kernel — the transform-lambda form
    * runs interpreted per element and falls out of whole-stage codegen. */
  private def trigramSets(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      graft.functions.WordNGrams(toks(col("text")), 3, distinct = true)
        .as("grams"))

  /** Distinct word trigram set as 64-bit xxhash64 fingerprints — the
    * verify join's form (guide §2.3: the join shuffles and intersects
    * gram SETS, never reads gram strings, so 8-byte fingerprints carry
    * the identical set algebra at ~⅓ the exchange bytes and long-vs-
    * long compares inside array_intersect). Equal to the string form's
    * jaccard unless two distinct grams of one candidate pair collide
    * in 64-bit space (≤ (m₁+m₂)²/2⁶⁵ per pair — ~10⁻¹¹ at 10⁴
    * grams/doc; the DuckDB oracle computes the exact string-set value,
    * so a realized collision fails the gate loudly instead of passing
    * silently). Pinned hashed-vs-exact in ExtSpec. */
  private def trigramHashSets(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      graft.functions.WordNGramHashes(toks(col("text")), 3).as("grams"))

  def ngramJaccard(spark: SparkSession, dir: String, maxDocId: Long = 100): DataFrame = {
    val docs = trigramSets(Tables.documents(spark, dir)
      .filter(col("doc_id") < maxDocId))
    val exploded = docs.select(col("doc_id"), col("grams"),
        explode(col("grams")).as("g"))
      .select(col("doc_id"), size(col("grams")).as("n"), col("g"))
    val a = exploded.select(col("doc_id").as("d1"), col("n").as("n1"), col("g"))
    val b = exploded.select(col("doc_id").as("d2"), col("n").as("n2"), col("g"))
    a.join(b, Seq("g")).filter(col("d1") < col("d2"))
      .groupBy("d1", "d2", "n1", "n2")
      .agg(count(lit(1)).as("inter"))
      .select(col("d1"), col("d2"),
        (col("inter").cast("double") / (col("n1") + col("n2") - col("inter"))).as("jaccard"))
      .orderBy("d1", "d2")
  }

  def ngramJaccardOracle: String = ngramJaccardOracle(100)

  def ngramJaccardOracle(maxDocId: Long): String =
    s"""WITH toks AS (
       |  SELECT doc_id, $tokensSql AS ws FROM documents WHERE doc_id < $maxDocId),
       |tri AS (SELECT doc_id,
       |    list_distinct(list_transform(range(greatest(len(ws) - 2, 0)),
       |      i -> ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3])) AS grams
       |  FROM toks),
       |g AS (SELECT doc_id, len(grams) AS n, unnest(grams) AS g FROM tri)
       |SELECT a.doc_id AS d1, b.doc_id AS d2,
       |  CAST(COUNT(*) AS DOUBLE) / (a.n + b.n - COUNT(*)) AS jaccard
       |FROM g a JOIN g b ON a.g = b.g AND a.doc_id < b.doc_id
       |GROUP BY a.doc_id, b.doc_id, a.n, b.n
       |ORDER BY d1, d2""".stripMargin

  /** The full-corpus composition ngramJaccard only demonstrates:
    * MinHash-LSH proposes candidates (linear-bounded by the bucket
    * cap), exact trigram Jaccard verifies ONLY those candidates —
    * the O(n²) gram self-join never happens, so this runs over the
    * whole corpus with no id restriction. Gram explosion is further
    * semi-join-restricted to candidate endpoints.
    *
    * Exact dedup runs FIRST (one keeper — min doc_id — per identical
    * text): byte-identical copies are already jaccard-1 duplicates, so
    * LSH-verifying them is pure waste — on a boilerplate-heavy corpus
    * they dominate the candidate set and the verify join. The same
    * ordering Pipeline.curate uses. */
  def lshVerifiedJaccard(spark: SparkSession, dir: String,
                         minJaccard: Double = 0.5): DataFrame = {
    val keeper = min(col("doc_id"))
      .over(Window.partitionBy(md5(col("text"))))
    val documents = Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"), keeper.as("k"))
      .filter(col("doc_id") === col("k"))
      .select(col("doc_id"), col("text"))
    // candidates feed 3 references (join spine + both endpoint sides)
    // and grams feed 2 — persist both or the LSH pass re-runs per use
    val cands = minhashPairs(documents, PairThreshold)
      .select(col("d1"), col("d2")).persist()
    val endpoints = cands.select(col("d1").as("doc_id"))
      .union(cands.select(col("d2").as("doc_id"))).distinct()
    // Gram sets stay as per-doc arrays: the intersection is a single
    // codegen'd array_intersect per candidate pair, so verification is
    // two joins (each candidate picks up its endpoints' gram arrays —
    // bounded by doc length) plus a projection. No gram explosion, no
    // per-gram shuffle, no re-aggregation — at scale the joined data
    // volume equals what the exploded form shuffled, with 3 fewer
    // stages. Grams ride as DISTINCT 64-bit fingerprints (r13, guide
    // §2.3 — see trigramHashSets for the collision-safety equality
    // argument), so |∩| = size(array_intersect) over the hash sets.
    val grams = trigramHashSets(documents.join(endpoints, Seq("doc_id"), "leftsemi"))
      .persist()
    graft.GraftSession.releaseAfterAction(spark, cands, grams)
    val inter = size(array_intersect(col("g1"), col("g2")))
    // greatest(·,1) only bites when both gram sets are empty (0/0):
    // jaccard becomes 0 and the pair is filtered — matching the
    // exploded form, where a gram-less doc joined no rows at all.
    // (Without it, NaN ≥ minJaccard is TRUE under Spark's NaN
    // ordering and a phantom pair leaks out.)
    cands
      .join(grams.select(col("doc_id").as("d1"), col("grams").as("g1")), Seq("d1"))
      .join(grams.select(col("doc_id").as("d2"), col("grams").as("g2")), Seq("d2"))
      .select(col("d1"), col("d2"),
        (inter.cast("double") /
          greatest(size(col("g1")) + size(col("g2")) - inter, lit(1))).as("jaccard"))
      .filter(col("jaccard") >= minJaccard)
      .orderBy("d1", "d2")
  }

  // ── durable near-dup pair-graph artifact ──
  // The verified-pair pass above is the single most re-computed frame
  // in the dedup family: kcore, LPA, the threshold sweep, and the CC
  // groups each paid the full LSH+verify cost per query. A production
  // pipeline computes the pair graph ONCE per corpus vintage and
  // shares it across every graph/dedup consumer — this is the storage
  // form of that shared state, written through the Catalog surface and
  // stamped with the corpus fingerprint (the annIndexPersist template,
  // Similarity.scala), maintained incrementally by [[foldDeltaEdges]].

  /** Build counter — a test hook: ExtSpec pins that a session finding
    * a fresh artifact runs ZERO LSH build passes. */
  private[graft] val edgesBuildCount =
    new java.util.concurrent.atomic.AtomicInteger(0)

  /** The durable pair graph as trained state: `reset` makes the next
    * load (of any corpus) rebuild and rewrite its artifact, which is
    * how Bench bills the cold build as its own line while the
    * consumers report warm load-only cost; `prime` loads or builds. */
  private[graft] object edgesArtifact extends graft.TrainedState {
    val line = "dedup_edges_artifact_build"
    private[Dedup] val stale = new java.util.concurrent.atomic.AtomicBoolean(false)
    def reset(): Unit = stale.set(true)
    def prime(spark: SparkSession, dir: String): Unit = {
      edgesLoadOrBuild(spark, dir); ()
    }
  }

  /** Default on-disk home for a corpus's pair-graph artifact:
    * `<artifactRoot>/dedup_edges/<pathDigest>` (see
    * [[graft.Catalog.artifactRoot]] — env-overridable, survives
    * `sbt clean`). The artifact is a cache of a deterministic
    * computation, never the source of truth: a deleted vintage
    * self-heals by one rebuild. */
  private[graft] def edgesArtifactDefaultPath(dir: String): String =
    graft.Catalog.artifactPath("dedup_edges", dir)

  /** Build both pair frames and persist as ONE parquet artifact via
    * [[graft.Catalog]]: rows (kind, d1, d2, est_jaccard, jaccard,
    * fingerprint) with kind ∈ {verified, est_full, meta} —
    * `verified` = keeper pairs with exact trigram Jaccard (over
    * exact-dedup keepers, EVERY capped-bucket LSH candidate at est
    * threshold 0 — banding is threshold-independent, so any downstream
    * est cut is a filter over this frame), `est_full` = full-corpus
    * capped candidates with estimates only (what the CC groups
    * consume — exact duplicates are separate nodes there, so the
    * keeper graph cannot serve it), `meta` = one sentinel row so an
    * empty pair graph is still a valid fresh artifact. Size is
    * candidate-bounded (bucket cap), never corpus-pairwise.
    *
    * ONE signature/banding pass serves BOTH stored frames: the
    * full-corpus banding is persisted, and the keeper-subset banding
    * is a semi-join filter of it — signatures and band keys are
    * per-doc, so the filtered frame is bit-identical to banding the
    * keeper corpus directly (the build previously tokenized + hashed
    * + min-aggregated the corpus twice, once per frame). */
  def edgesArtifactPersist(spark: SparkSession, dir: String,
                           path: String): Unit = {
    edgesBuildCount.incrementAndGet()
    val fp = graft.SessionDirMemo.fingerprint(dir)
    def stamp(df: DataFrame, kind: String) = df.select(
      lit(kind).as("kind"), col("d1"), col("d2"),
      col("est_jaccard"), col("jaccard"), lit(fp).as("fingerprint"))
    // Each shared frame is persisted AND eagerly filled (count) before
    // the next stage builds on it: the artifact materializes through
    // ONE parquet-write action whose parallel branches (verified +
    // est_full) otherwise RACE the cache fill and recompute the shared
    // subtree per branch — the same single-action race measured on the
    // conformal persist in r12. The fills are one pass each; the write
    // action then reads every stage warm. Row order inside the stored
    // artifact is invisible (every consumer sorts its own output), so
    // both pair derivations skip their output sort (sorted = false).
    val allBands = minhashBands(Tables.documents(spark, dir)).persist()
    allBands.count()
    val keeper = min(col("doc_id"))
      .over(Window.partitionBy(md5(col("text"))))
    val keepers = Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"), keeper.as("k"))
      .filter(col("doc_id") === col("k"))
      .select(col("doc_id"), col("text")).persist()
    keepers.count()
    val cands = minhashPairsFromBands(
        allBands.join(keepers.select("doc_id"), Seq("doc_id"), "leftsemi"),
        0.0, MaxBucket, sorted = false).persist()
    cands.count()
    val endpoints = cands.select(col("d1").as("doc_id"))
      .union(cands.select(col("d2").as("doc_id"))).distinct()
    val grams = trigramHashSets(keepers.join(endpoints, Seq("doc_id"), "leftsemi"))
      .persist()
    grams.count()
    graft.GraftSession.releaseAfterAction(spark, allBands, keepers, cands, grams)
    val inter = size(array_intersect(col("g1"), col("g2")))
    val scored = cands
      .join(grams.select(col("doc_id").as("d1"), col("grams").as("g1")), Seq("d1"))
      .join(grams.select(col("doc_id").as("d2"), col("grams").as("g2")), Seq("d2"))
      .select(col("d1"), col("d2"), col("est_jaccard"),
        (inter.cast("double") /
          greatest(size(col("g1")) + size(col("g2")) - inter, lit(1)))
          .as("jaccard"))
    val verified = stamp(scored, "verified")
    val estFull = stamp(
      minhashPairsFromBands(allBands, 0.0, MaxBucket, sorted = false)
        .withColumn("jaccard", lit(null).cast("double")), "est_full")
    import spark.implicits._
    val meta = Seq(("meta", -1L, -1L)).toDF("kind", "d1", "d2")
      .select(col("kind"), col("d1"), col("d2"),
        lit(null).cast("double").as("est_jaccard"),
        lit(null).cast("double").as("jaccard"), lit(fp).as("fingerprint"))
    val key = s"dedup_edges/${new java.io.File(dir).getName}"
    val cat = new graft.Catalog(spark)
    cat.put(key, verified.unionByName(estFull).unionByName(meta))
    cat.persist(key, path)
    // self-GC: the store accumulates one child per corpus vintage;
    // keep the newest N, evict the rest (pure cache — an evicted
    // vintage that comes back rebuilds once, CatalogSpec proves it)
    Option(new java.io.File(path).getParent).foreach(
      graft.Catalog.purgeStale(_, graft.Catalog.artifactKeep))
  }

  /** Read-through load of the durable pair graph: if `path` holds an
    * artifact whose meta row matches the corpus's CURRENT vintage,
    * serve it (zero LSH passes this session); on a missing, unreadable
    * or stale artifact, rebuild and rewrite for the next session.
    * Freshness costs one filter-pushed read of the 1-row meta slice.
    * Stored doubles are bit-exact (parquet IEEE), so artifact-served
    * consumers hash identically to the recompute path — the driver
    * oracle checks it per query, ExtSpec pins the equality. */
  def edgesLoadOrBuild(spark: SparkSession, dir: String): DataFrame = {
    val path = edgesArtifactDefaultPath(dir)
    val fp = graft.SessionDirMemo.fingerprint(dir)
    val fresh = !edgesArtifact.stale.get && (
      try spark.read.parquet(path).filter(col("kind") === "meta")
        .select("fingerprint").collect().exists(_.getLong(0) == fp)
      catch { case _: Exception => false })
    if (!fresh) {
      edgesArtifactPersist(spark, dir, path)
      edgesArtifact.stale.set(false)
    }
    spark.read.parquet(path)
  }

  /** Verified keeper pairs (d1, d2, est_jaccard, jaccard) served from
    * the durable artifact — the shared input of the graph lenses and
    * the threshold sweep. */
  private[graft] def verifiedPairsShared(spark: SparkSession,
                                         dir: String): DataFrame =
    edgesLoadOrBuild(spark, dir).filter(col("kind") === "verified")
      .select(col("d1"), col("d2"), col("est_jaccard"), col("jaccard"))

  /** Full-corpus estimate pairs (d1, d2, est_jaccard) served from the
    * durable artifact — the CC groups' input. */
  private[graft] def estPairsShared(spark: SparkSession,
                                    dir: String): DataFrame =
    edgesLoadOrBuild(spark, dir).filter(col("kind") === "est_full")
      .select(col("d1"), col("d2"), col("est_jaccard"))

  /** [[lshVerifiedJaccard]] served from the durable artifact instead
    * of a fresh LSH pass — oracle-equal to the recompute path by
    * construction (the artifact stores the recompute's exact doubles).
    * Registered as `dedup_edges_reuse` against the SAME oracle SQL as
    * `dedup_lsh_verified`. */
  def lshVerifiedFromArtifact(spark: SparkSession, dir: String,
                              minJaccard: Double = 0.5): DataFrame =
    verifiedPairsShared(spark, dir)
      .filter(col("est_jaccard") >= PairThreshold &&
        col("jaccard") >= minJaccard)
      .select(col("d1"), col("d2"), col("jaccard"))
      .orderBy("d1", "d2")

  def lshVerifiedJaccardOracle: String = lshVerifiedJaccardOracle(0.5)

  def lshVerifiedJaccardOracle(minJaccard: Double): String =
    s"""WITH keepers AS (
       |  SELECT doc_id, text FROM (
       |    SELECT doc_id, text,
       |      MIN(doc_id) OVER (PARTITION BY md5(text)) AS k
       |    FROM documents) d WHERE doc_id = k),
       |${minhashEstCtes("keepers")},
       |pairs AS (SELECT d1, d2 FROM est WHERE est_jaccard >= $PairThreshold),
       |tokseq AS (SELECT doc_id, $tokensSql AS ws FROM keepers),
       |tri AS (SELECT doc_id,
       |    list_distinct(list_transform(range(greatest(len(ws) - 2, 0)),
       |      i -> ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3])) AS grams
       |  FROM tokseq),
       |g AS (SELECT doc_id, len(grams) AS n, unnest(grams) AS g FROM tri),
       |inter AS (SELECT p.d1, p.d2, a.n AS n1, b.n AS n2, COUNT(*) AS inter
       |  FROM pairs p
       |  JOIN g a ON a.doc_id = p.d1
       |  JOIN g b ON b.doc_id = p.d2 AND b.g = a.g
       |  GROUP BY p.d1, p.d2, a.n, b.n)
       |SELECT d1, d2, jaccard FROM (
       |  SELECT d1, d2, CAST(inter AS DOUBLE) / (n1 + n2 - inter) AS jaccard
       |  FROM inter) j
       |WHERE jaccard >= $minJaccard ORDER BY d1, d2""".stripMargin

  /** Synchronous LPA rounds over a symmetric weighted edge frame
    * (u, v, w: long) — the shared fold of [[dedupCommunitiesLpa]] and
    * its fixture tests. Every node adopts the label carrying the most
    * edge weight among its neighbors, ties to the smallest label, all
    * nodes reading the PREVIOUS round (synchronous — no partition-
    * order dependence); integer weights keep every mass sum exact, so
    * the argmax is bit-deterministic at any partitioning. Each round
    * is one shuffle join of the edge frame against the label vector
    * plus a hash-agg argmax (max over struct(mass, −label)) — O(|E|)
    * per round, no windows, labels checkpointed so round t doesn't
    * replay rounds 1..t−1. Returns (v, lbl). */
  private[graft] def lpaFold(edges: DataFrame, iters: Int): DataFrame = {
    val und = edges.localCheckpoint()
    val nodes = und.select(col("u").as("v")).distinct().localCheckpoint()
    var lbl = nodes.select(col("v"), col("v").as("lbl"))
    for (_ <- 1 to iters) {
      val mass = und
        .join(lbl.select(col("v").as("nbr_"), col("lbl")),
          col("v") === col("nbr_"))
        .groupBy(col("u"), col("lbl")).agg(sum("w").as("mass"))
      lbl = mass.groupBy(col("u"))
        .agg(max(struct(col("mass"), (-col("lbl")).as("nl"))).as("m"))
        .select(col("u").as("v"), (-col("m").getField("nl")).as("lbl"))
        .localCheckpoint()
    }
    lbl
  }

  /** Near-dup COMMUNITIES by label propagation — the density
    * complement to [[duplicateGroups]] (connected components). CC
    * answers reachability: a chain a~b~c~…~z of borderline pairs is
    * ONE group even though a and z share nothing, and the keep-one-
    * per-group excision then drops documents that aren't actually
    * duplicates of the keeper. LPA on the SAME verified edge set
    * answers density: labels accumulate where edge weight concentrates,
    * so a chained component splits at its thin bridges into tight
    * clusters — the right excision granularity for boilerplate chains
    * (the exact failure shape the star-capped mega-bucket probe
    * builds). Edges are the [[lshVerifiedJaccard]] pairs (candidate-
    * bounded by the banded LSH + bucket cap — never all-pairs) with
    * weight = round(jaccard·10⁶) as an exact integer; [[LpaDocIters]]
    * synchronous rounds via [[lpaFold]]. Output: every node of the
    * near-dup graph with its community and the community size.
    *
    * Scale shape: the LSH verify pass is the only corpus-sized work
    * (identical to dedup_lsh_verified); the fold is |E|-per-round with
    * checkpointed labels — the dedup_groups discipline, minus CC's
    * pointer-jumping (LPA is fixed-round by design: it's a heuristic
    * whose fixed point needn't exist — oscillation is cut off, and
    * determinism comes from the round count being part of the
    * contract). */
  /** The symmetric weighted near-dup edge frame (u, v, w) both graph
    * lenses read: [[lshVerifiedJaccard]]-contract pairs with weight =
    * round(jaccard·10⁶) as an exact integer — served from the durable
    * artifact ([[edgesLoadOrBuild]]), so kcore and LPA pay load-only
    * cost once the vintage's graph exists. */
  private[graft] def neardupEdges(spark: SparkSession, dir: String): DataFrame = {
    val pairs = lshVerifiedFromArtifact(spark, dir)
      .select(col("d1"), col("d2"),
        round(col("jaccard") * 1000000, 0).cast("long").as("w"))
    pairs.select(col("d1").as("u"), col("d2").as("v"), col("w"))
      .unionByName(pairs.select(col("d2").as("u"), col("d1").as("v"), col("w")))
  }

  def dedupCommunitiesLpa(spark: SparkSession, dir: String): DataFrame = {
    val und = neardupEdges(spark, dir)
    val lbl = lpaFold(und, LpaDocIters)
    // no broadcast hint: sizes has one row per surviving label — up to
    // |nodes| at corpus scale — so the join strategy must stay
    // size-driven (AQE broadcasts it when measured small), matching
    // lpaFold's shuffle-join discipline for the same-sized label vector
    val sizes = lbl.groupBy("lbl").agg(count(lit(1)).as("community_size"))
    lbl.join(sizes, Seq("lbl"))
      .select(col("v").as("doc_id"), col("lbl").as("community"),
        col("community_size"))
      .orderBy("doc_id")
  }

  /** The shared CTE chain of the document-LPA oracles: keepers → LSH
    * candidates → exact-verified weighted edges (`ej`, with integer
    * w = round(jaccard·10⁶)) → symmetric frame `und` → LpaDocIters
    * label rounds ending in `l<LpaDocIters>`. Consumers append their
    * own report CTEs + SELECT. */
  private def lpaOracleCtes: String = {
    val rounds = (1 to LpaDocIters).map { i =>
      val p = i - 1
      s"""m$i AS (SELECT und.u, l$p.lbl, CAST(SUM(und.w) AS BIGINT) AS mass
         |  FROM und JOIN l$p ON und.v = l$p.v GROUP BY 1, 2),
         |w$i AS (SELECT u AS v, lbl, row_number()
         |    OVER (PARTITION BY u ORDER BY mass DESC, lbl) AS rk FROM m$i),
         |l$i AS (SELECT l$p.v, COALESCE(w$i.lbl, l$p.lbl) AS lbl
         |  FROM l$p LEFT JOIN w$i ON l$p.v = w$i.v AND w$i.rk = 1)"""
        .stripMargin
    }.mkString(",\n")
    s"""keepers AS (
       |  SELECT doc_id, text FROM (
       |    SELECT doc_id, text,
       |      MIN(doc_id) OVER (PARTITION BY md5(text)) AS k
       |    FROM documents) d WHERE doc_id = k),
       |${minhashEstCtes("keepers")},
       |pairs AS (SELECT d1, d2 FROM est WHERE est_jaccard >= $PairThreshold),
       |tokseq AS (SELECT doc_id, $tokensSql AS ws FROM keepers),
       |tri AS (SELECT doc_id,
       |    list_distinct(list_transform(range(greatest(len(ws) - 2, 0)),
       |      i -> ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3])) AS grams
       |  FROM tokseq),
       |g AS (SELECT doc_id, len(grams) AS n, unnest(grams) AS g FROM tri),
       |inter AS (SELECT p.d1, p.d2, a.n AS n1, b.n AS n2, COUNT(*) AS inter
       |  FROM pairs p
       |  JOIN g a ON a.doc_id = p.d1
       |  JOIN g b ON b.doc_id = p.d2 AND b.g = a.g
       |  GROUP BY p.d1, p.d2, a.n, b.n),
       |ej AS (SELECT d1, d2,
       |    CAST(round(CAST(inter AS DOUBLE) / (n1 + n2 - inter) * 1000000, 0)
       |      AS BIGINT) AS w
       |  FROM inter
       |  WHERE CAST(inter AS DOUBLE) / (n1 + n2 - inter) >= 0.5),
       |und AS (SELECT d1 AS u, d2 AS v, w FROM ej
       |  UNION ALL SELECT d2, d1, w FROM ej),
       |l0 AS (SELECT DISTINCT u AS v, u AS lbl FROM und),
       |$rounds"""
      .stripMargin
  }

  def dedupCommunitiesLpaOracle: String =
    s"""WITH $lpaOracleCtes,
       |sz AS (SELECT lbl, CAST(COUNT(*) AS BIGINT) AS community_size
       |  FROM l$LpaDocIters GROUP BY 1)
       |SELECT l.v AS doc_id, l.lbl AS community, sz.community_size
       |FROM l$LpaDocIters l JOIN sz ON l.lbl = sz.lbl
       |ORDER BY doc_id""".stripMargin

  /** Per-community excision report over the near-dup graph — the
    * "what exactly would dedup remove" table a curation run publishes:
    * for every LPA community ([[dedupCommunitiesLpa]]'s labels over
    * the SAME artifact-served edge set), its member count, the keeper
    * (min doc id — the excision policy's survivor), exact member
    * token volume, the tokens excision would remove (total minus the
    * keeper's), the internal verified-edge count and their mean
    * Jaccard (community cohesion — a low mean flags a chained
    * community that LPA kept together and deserves a lower
    * threshold). Scale shape: the pair graph loads from the durable
    * artifact (zero LSH), LPA rounds ride the |E|-frame, token counts
    * are one corpus scan collapsed per doc; all report joins are
    * label-keyed. Determinism: cohesion is derived from the INTEGER
    * edge weights w = round(jaccard·10⁶) — Σw and counts are exact in
    * both engines, the division happens once at the end. */
  def dedupCommunityProfile(spark: SparkSession, dir: String): DataFrame = {
    val pairs = lshVerifiedFromArtifact(spark, dir)
      .select(col("d1"), col("d2"),
        round(col("jaccard") * 1000000, 0).cast("long").as("w"))
    val lbl = lpaFold(neardupEdges(spark, dir), LpaDocIters)
    val e = pairs
      .join(lbl.select(col("v").as("d1"), col("lbl").as("c1")), Seq("d1"))
      .join(lbl.select(col("v").as("d2"), col("lbl").as("c2")), Seq("d2"))
      .filter(col("c1") === col("c2"))
      .groupBy(col("c1").as("community"))
      .agg(count(lit(1)).as("n_edges"), sum(col("w")).as("sw"))
    val toks = Tables.documents(spark, dir)
      .select(col("doc_id"),
        size(TextAnalysis.tokens(col("text"))).cast("long").as("n_toks"))
    val members = lbl.join(toks, lbl("v") === toks("doc_id"))
      .groupBy(col("lbl").as("community"))
      .agg(count(lit(1)).as("n_members"),
        min(col("v")).as("rep"),
        sum(col("n_toks")).as("total_tokens"),
        min_by(col("n_toks"), col("v")).as("rep_toks"))
    members.join(e, Seq("community"), "left")
      .select(col("community"), col("n_members"), col("rep"),
        col("total_tokens"),
        (col("total_tokens") - col("rep_toks")).as("removable_tokens"),
        coalesce(col("n_edges"), lit(0L)).as("n_edges"),
        round(col("sw").cast("double") /
          (col("n_edges") * lit(1000000.0)), 6).as("mean_jaccard"))
      .orderBy("community")
  }

  def dedupCommunityProfileOracle: String =
    s"""WITH $lpaOracleCtes,
       |tc AS (SELECT doc_id,
       |    CAST(len(${TextAnalysis.tokensSqlShared}) AS BIGINT) AS n_toks
       |  FROM documents),
       |mem AS (SELECT l.lbl AS community,
       |    CAST(COUNT(*) AS BIGINT) AS n_members,
       |    CAST(MIN(l.v) AS BIGINT) AS rep,
       |    CAST(SUM(tc.n_toks) AS BIGINT) AS total_tokens,
       |    CAST(MIN_BY(tc.n_toks, l.v) AS BIGINT) AS rep_toks
       |  FROM l$LpaDocIters l JOIN tc ON l.v = tc.doc_id GROUP BY 1),
       |eint AS (SELECT l1.lbl AS community,
       |    CAST(COUNT(*) AS BIGINT) AS n_edges,
       |    CAST(SUM(ej.w) AS BIGINT) AS sw
       |  FROM ej
       |  JOIN l$LpaDocIters l1 ON ej.d1 = l1.v
       |  JOIN l$LpaDocIters l2 ON ej.d2 = l2.v AND l1.lbl = l2.lbl
       |  GROUP BY 1)
       |SELECT m.community, m.n_members, m.rep, m.total_tokens,
       |  m.total_tokens - m.rep_toks AS removable_tokens,
       |  CAST(COALESCE(e.n_edges, 0) AS BIGINT) AS n_edges,
       |  round(CAST(e.sw AS DOUBLE) / (e.n_edges * 1000000.0), 6)
       |    AS mean_jaccard
       |FROM mem m LEFT JOIN eint e USING (community)
       |ORDER BY community""".stripMargin

  /** Containment PROVENANCE search: for each doc of a small query
    * panel, the top-[[ContainmentTopK]] corpus documents ranked by
    * trigram containment |Q∩B| / |Q| — "where does this document's
    * content already live": the quote/inclusion detector run before
    * admitting a doc whose text may be embedded inside a larger page
    * ([[containmentPairs]] is the corpus-wide screen; this is the
    * query-directed form a review UI calls). Scale shape: the panel's
    * distinct-gram set is panel-bounded and broadcast; the corpus
    * gram stream scans ONCE, survives the broadcast semi-match, and
    * folds into per-(query, base) counts — no pairwise term, no
    * corpus self-join; ranking is a per-query window over the
    * match-count frame. Determinism: counts are exact integers,
    * containment = inter/|Q| is one IEEE division, ties break on
    * base_id. */
  val ContainmentTopK = 3
  val ContainmentPanelN = 5

  def containmentSearch(spark: SparkSession, dir: String): DataFrame = {
    val grams = trigramSets(
      Tables.documents(spark, dir).select(col("doc_id"), col("text")))
    val panel = grams.filter(col("doc_id") < ContainmentPanelN)
      .select(col("doc_id").as("q"), explode(col("grams")).as("g"))
    val qn = grams.filter(col("doc_id") < ContainmentPanelN)
      .select(col("doc_id").as("q"), size(col("grams")).cast("long").as("qn"))
    val matches = grams.filter(col("doc_id") >= ContainmentPanelN)
      .select(col("doc_id").as("base_id"), explode(col("grams")).as("g"))
      .join(broadcast(panel), Seq("g"))
      .groupBy(col("q"), col("base_id"))
      .agg(count(lit(1)).as("inter"))
    val w = Window.partitionBy("q").orderBy(col("inter").desc, col("base_id"))
    matches.withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= ContainmentTopK)
      .join(broadcast(qn), Seq("q"))
      .select(col("q").as("query_doc"), col("base_id"), col("rk"),
        col("inter"),
        round(col("inter").cast("double") / col("qn"), 6).as("containment"))
      .orderBy("query_doc", "rk")
  }

  def containmentSearchOracle: String =
    s"""WITH toks AS (SELECT doc_id, ${TextAnalysis.tokensSqlShared} AS ws
       |  FROM documents),
       |tri AS (SELECT doc_id,
       |    list_distinct(list_transform(range(greatest(len(ws) - 2, 0)),
       |      i -> ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3])) AS grams
       |  FROM toks),
       |panel AS (SELECT doc_id AS q, unnest(grams) AS g FROM tri
       |  WHERE doc_id < $ContainmentPanelN),
       |qn AS (SELECT doc_id AS q, CAST(len(grams) AS BIGINT) AS qn FROM tri
       |  WHERE doc_id < $ContainmentPanelN),
       |base AS (SELECT doc_id AS base_id, unnest(grams) AS g FROM tri
       |  WHERE doc_id >= $ContainmentPanelN),
       |m AS (SELECT p.q, b.base_id, CAST(COUNT(*) AS BIGINT) AS inter
       |  FROM base b JOIN panel p ON b.g = p.g GROUP BY 1, 2),
       |r AS (SELECT q, base_id, inter, CAST(row_number() OVER (
       |    PARTITION BY q ORDER BY inter DESC, base_id) AS BIGINT) AS rk
       |  FROM m)
       |SELECT r.q AS query_doc, r.base_id, r.rk, r.inter,
       |  round(CAST(r.inter AS DOUBLE) / qn.qn, 6) AS containment
       |FROM r JOIN qn ON r.q = qn.q
       |WHERE r.rk <= $ContainmentTopK
       |ORDER BY query_doc, rk""".stripMargin

  /** Winnowing gram size (tokens per fingerprinted k-gram) and window
    * width (grams per winnowing window) — Schleimer, Wilkerson &
    * Aiken 2003 ("Winnowing: local algorithms for document
    * fingerprinting", the MOSS scheme). Guarantee: any shared token
    * run of at least WinnowW + WinnowK − 1 tokens shares a selected
    * fingerprint, at expected density 2/(WinnowW+1) of the gram
    * stream. */
  val WinnowK = 4
  val WinnowW = 5

  /** Robust-winnowing document fingerprints + the cross-document
    * sharing report: per document, its k-gram count, the number of
    * WINNOWED fingerprints (per window of [[WinnowW]] consecutive
    * gram hashes, the minimum hash — ties to the RIGHTMOST position,
    * the "robust" rule that makes selection self-synchronizing across
    * documents), and how many of its selected fingerprints also
    * appear in another document's selected set — the positional
    * near-dup signal MinHash (a whole-document set sketch) cannot
    * give: winnowing GUARANTEES detection of any shared run of
    * ≥ WinnowW+WinnowK−1 tokens while storing only ~2/(W+1) of the
    * grams. Documents without one complete window (< WinnowK+WinnowW−1
    * tokens) have no fingerprints and do not report. This report keeps
    * fingerprint VALUES (the sharing signal); the positional
    * bookkeeping the rightmost-tie rule governs in full MOSS is not
    * part of the output, so the window min-hash value is the whole
    * selection.
    *
    * Scale shape: one gram scan; the window min rides a per-document
    * ROWS frame (never a global window); the sharing count is one
    * hash aggregation keyed by fingerprint over the WINNOWED set —
    * 2/(W+1)-dense, the whole point of the scheme. No broadcasts, no
    * pairwise term. Determinism: hashes are md5 hex strings (binary
    * collation in both engines), the rightmost-tie argmin is a
    * struct-min on (hash, −position). */
  def winnowFingerprints(spark: SparkSession, dir: String): DataFrame = {
    val k = WinnowK
    val w = WinnowW
    val grams = Tables.documents(spark, dir)
      .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("t"))
      .filter(size(col("t")) >= k)
      .select(col("doc_id"), col("t"),
        explode(sequence(lit(0), size(col("t")) - k)).as("p"))
      .select(col("doc_id"), col("p"),
        md5(concat_ws(" ", slice(col("t"), col("p") + 1, lit(k)))).as("h"))
    val win = Window.partitionBy("doc_id").orderBy("p")
      .rowsBetween(-(w - 1), Window.currentRow)
    val sel = grams
      .withColumn("mh", min(col("h")).over(win))
      .withColumn("wn", count(lit(1)).over(win))
      .filter(col("wn") === w)
      .select(col("doc_id"), col("mh").as("fh"))
      .distinct()
    val shared = sel.groupBy("fh").agg(countDistinct(col("doc_id")).as("nd"))
    val perDoc = sel.join(shared, Seq("fh"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_selected"),
        sum(when(col("nd") >= 2, 1L).otherwise(0L)).as("n_shared"))
    val ng = grams.groupBy("doc_id").agg(count(lit(1)).as("n_grams"))
    perDoc.join(ng, Seq("doc_id"))
      .select(col("doc_id"), col("n_grams"), col("n_selected"),
        col("n_shared"),
        round(col("n_shared").cast("double") / col("n_selected"), 6)
          .as("share_fraction"))
      .orderBy("doc_id")
  }

  def winnowFingerprintsOracle: String = {
    val k = WinnowK
    val w = WinnowW
    s"""WITH t AS (SELECT doc_id, ${TextAnalysis.tokensSqlShared} AS ws
       |  FROM documents),
       |g0 AS (SELECT doc_id, ws, unnest(range(len(ws) - ${k - 1})) AS p
       |  FROM t WHERE len(ws) >= $k),
       |g AS (SELECT doc_id, p,
       |    md5(array_to_string(ws[p + 1:p + $k], ' ')) AS h FROM g0),
       |we AS (SELECT doc_id, p AS e,
       |    MIN(h) OVER wf AS mh, COUNT(*) OVER wf AS wn
       |  FROM g WINDOW wf AS (PARTITION BY doc_id ORDER BY p
       |    ROWS BETWEEN ${w - 1} PRECEDING AND CURRENT ROW)),
       |sel AS (SELECT DISTINCT doc_id, mh AS fh FROM we WHERE wn = $w),
       |sh AS (SELECT fh, COUNT(DISTINCT doc_id) AS nd FROM sel GROUP BY 1),
       |pd AS (SELECT s.doc_id, CAST(COUNT(*) AS BIGINT) AS n_selected,
       |    CAST(SUM(CASE WHEN sh.nd >= 2 THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_shared
       |  FROM sel s JOIN sh USING (fh) GROUP BY 1),
       |ng AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams
       |  FROM g GROUP BY 1)
       |SELECT pd.doc_id, ng.n_grams, pd.n_selected, pd.n_shared,
       |  round(CAST(pd.n_shared AS DOUBLE) / pd.n_selected, 6)
       |    AS share_fraction
       |FROM pd JOIN ng USING (doc_id) ORDER BY doc_id""".stripMargin
  }

  /** The banding planner: for the dedup family's ACTUAL MinHash
    * parameters ([[NumPerms]] permutations in [[NumBands]] bands of r
    * rows), the analytic candidate-collision probability
    * P(τ) = 1 − (1 − τʳ)ᵇ on a 5%-step similarity grid, plus the
    * curve's threshold s* = (1/b)^(1/r) — the table that justifies a
    * banding choice BEFORE a corpus pass ([[thresholdSweep]] is the
    * measured companion on real candidates). Pure computation on a
    * 19-row literal grid — no scan, no shuffle, scale-free.
    * Determinism: τʳ and (1−τʳ)ᵇ are built from explicit IEEE
    * multiplication chains (no libm pow), s* from a sqrt chain —
    * engine-identical bit-for-bit before the final rounding. */
  def lshPlanCurve(spark: SparkSession, dir: String): DataFrame = {
    val b = NumBands
    val r = NumPerms / NumBands
    require(r == 8 && b == 2,
      "the pow-free multiplication/sqrt chains below are written for r=8, b=2")
    val t = col("tau_pct").cast("double") / lit(100.0)
    val t2 = t * t
    val t4 = t2 * t2
    val t8 = t4 * t4
    val miss = (lit(1.0) - t8) * (lit(1.0) - t8)
    // s* = (1/2)^(1/8) via an exact sqrt chain
    val sStar = sqrt(sqrt(sqrt(lit(1.0) / b)))
    spark.range(5, 100, 5).select(col("id").as("tau_pct"))
      .select(col("tau_pct"), lit(b.toLong).as("bands"),
        lit(r.toLong).as("rows_per_band"),
        round(lit(1.0) - miss, 6).as("p_collision"),
        round(sStar, 6).as("s_star"))
      .orderBy("tau_pct")
  }

  def lshPlanCurveOracle: String = {
    val b = NumBands
    val r = NumPerms / NumBands
    s"""WITH grid AS (SELECT unnest(range(5, 100, 5)) AS tau_pct),
       |c AS (SELECT tau_pct, CAST(tau_pct AS DOUBLE) / 100.0 AS t FROM grid),
       |p AS (SELECT tau_pct, ((t*t)*(t*t))*((t*t)*(t*t)) AS t8 FROM c)
       |SELECT tau_pct, CAST($b AS BIGINT) AS bands,
       |  CAST($r AS BIGINT) AS rows_per_band,
       |  round(1.0 - (1.0 - t8) * (1.0 - t8), 6) AS p_collision,
       |  round(sqrt(sqrt(sqrt(1.0 / $b))), 6) AS s_star
       |FROM p ORDER BY tau_pct""".stripMargin
  }

  /** H-index coreness rounds for [[dedupKcore]]. */
  val KcoreIters = 4

  /** Synchronous h-index coreness rounds over a symmetric edge frame
    * (u, v) — Lü et al. 2016: start from degree, repeatedly replace
    * each node's value with the H-INDEX of its neighbors' values (the
    * largest h such that ≥ h neighbors hold ≥ h); the fixpoint is
    * exactly the k-core number. Each round is one join of the edge
    * frame against the value vector plus a per-node window over
    * NEIGHBOR LISTS (bounded by the LSH bucket caps — never a corpus
    * partition) and a hash-agg; h is invariant to tie order inside
    * the window, so the result is engine- and partition-
    * deterministic even though row_number ties are not. */
  private[graft] def kcoreFold(edges: DataFrame, iters: Int): DataFrame = {
    val und = edges.select(col("u"), col("v")).distinct().localCheckpoint()
    var c = und.groupBy("u").agg(count(lit(1)).as("c"))
    for (_ <- 1 to iters) c = kcoreRound(und, c)
    c
  }

  /** One synchronous h-index round: each node's value becomes the
    * h-index of its neighbors' current values. */
  private def kcoreRound(und: DataFrame, c: DataFrame): DataFrame =
    und
      .join(c.select(col("u").as("v2"), col("c").as("cv")),
        col("v") === col("v2"))
      .select(col("u"), col("cv"))
      .withColumn("rk", row_number().over(
        Window.partitionBy("u").orderBy(col("cv").desc)).cast("long"))
      .groupBy("u")
      .agg(max(least(col("rk"), col("cv"))).as("c"))
      .localCheckpoint()

  /** K-core coreness of the near-dup graph — the third density lens
    * beside [[dedupCommunitiesLpa]] (where does weight concentrate)
    * and [[duplicateGroups]] (what is reachable): coreness separates
    * CORE boilerplate (every member ≥ k mutual near-dups — the
    * template family a curator deletes wholesale) from PERIPHERY
    * (chain/tree attachments — borderline pairs reviewed one by one).
    * H-index rounds equal the true k-core number ONLY at the
    * fixpoint, so the claim is verified per run, not assumed: one
    * extra round runs after [[KcoreIters]] and the constant
    * `converged` column reports whether it changed anything — false
    * means `coreness` is still an upper bound mid-descent (deeper
    * graph than the round budget), visible to every consumer instead
    * of silently mislabeled. Output: every node with degree, coreness
    * and the converged flag. Scale shape: the LSH verify pass is the
    * input-sized work; rounds (including the verification round) are
    * |E|-joins with windows over cap-bounded neighbor lists. */
  def dedupKcore(spark: SparkSession, dir: String): DataFrame = {
    // materialize the edge set ONCE: degree and the fold otherwise
    // each re-run the whole LSH verify pass (measured 9.0 → 5.6 s)
    val und = neardupEdges(spark, dir).select("u", "v").distinct()
      .localCheckpoint()
    val deg = und.groupBy("u").agg(count(lit(1)).as("degree"))
    val cFix = kcoreFold(und, KcoreIters)
    val cNext = kcoreRound(und, cFix)
    // 1-row convergence verdict rides every row (bounded crossJoin)
    val verdict = cFix
      .join(cNext.withColumnRenamed("c", "c_next"), Seq("u"))
      .agg((count(when(col("c") =!= col("c_next"), lit(1))) === 0)
        .as("converged"))
    cFix
      .join(deg, Seq("u"))
      .crossJoin(broadcast(verdict))
      .select(col("u").as("doc_id"), col("degree"),
        col("c").as("coreness"), col("converged"))
      .orderBy("doc_id")
  }

  def dedupKcoreOracle: String = {
    // KcoreIters rounds plus ONE verification round (c${KcoreIters+1})
    // backing the converged column, mirroring the Spark side
    val rounds = (1 to KcoreIters + 1).map { i =>
      val p = i - 1
      s"""r$i AS (SELECT e.u, c$p.c AS cv, row_number()
         |    OVER (PARTITION BY e.u ORDER BY c$p.c DESC) AS rk
         |  FROM und e JOIN c$p ON e.v = c$p.u),
         |c$i AS (SELECT u, CAST(MAX(least(rk, cv)) AS BIGINT) AS c
         |  FROM r$i GROUP BY 1)""".stripMargin
    }.mkString(",\n")
    s"""WITH keepers AS (
       |  SELECT doc_id, text FROM (
       |    SELECT doc_id, text,
       |      MIN(doc_id) OVER (PARTITION BY md5(text)) AS k
       |    FROM documents) d WHERE doc_id = k),
       |${minhashEstCtes("keepers")},
       |pairs AS (SELECT d1, d2 FROM est WHERE est_jaccard >= $PairThreshold),
       |tokseq AS (SELECT doc_id, $tokensSql AS ws FROM keepers),
       |tri AS (SELECT doc_id,
       |    list_distinct(list_transform(range(greatest(len(ws) - 2, 0)),
       |      i -> ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3])) AS grams
       |  FROM tokseq),
       |g AS (SELECT doc_id, len(grams) AS n, unnest(grams) AS g FROM tri),
       |inter AS (SELECT p.d1, p.d2, a.n AS n1, b.n AS n2, COUNT(*) AS inter
       |  FROM pairs p
       |  JOIN g a ON a.doc_id = p.d1
       |  JOIN g b ON b.doc_id = p.d2 AND b.g = a.g
       |  GROUP BY p.d1, p.d2, a.n, b.n),
       |ej AS (SELECT d1, d2 FROM inter
       |  WHERE CAST(inter AS DOUBLE) / (n1 + n2 - inter) >= 0.5),
       |und AS (SELECT DISTINCT u, v FROM (
       |  SELECT d1 AS u, d2 AS v FROM ej
       |  UNION ALL SELECT d2, d1 FROM ej) t),
       |c0 AS (SELECT u, CAST(COUNT(*) AS BIGINT) AS c FROM und GROUP BY 1),
       |dg AS (SELECT u, CAST(COUNT(*) AS BIGINT) AS degree FROM und
       |  GROUP BY 1),
       |$rounds,
       |cv AS (SELECT (SELECT COUNT(*) FROM c$KcoreIters a
       |    JOIN c${KcoreIters + 1} b ON a.u = b.u AND a.c <> b.c) = 0
       |  AS converged)
       |SELECT c$KcoreIters.u AS doc_id, dg.degree,
       |  c$KcoreIters.c AS coreness, cv.converged
       |FROM c$KcoreIters JOIN dg ON c$KcoreIters.u = dg.u CROSS JOIN cv
       |ORDER BY doc_id""".stripMargin
  }

  /** Threshold calibration sweep — the table that picks
    * [[PairThreshold]] instead of folklore-ing it: every LSH candidate
    * pair (threshold 0 — the banding itself is the only pre-filter) is
    * scored by BOTH the MinHash estimate and exact trigram Jaccard;
    * truth = exact ≥ `truthJaccard`. For each candidate cut τ on the
    * estimate (50%..95% by 5), the confusion counts and
    * precision/recall of "est ≥ τ" as a predictor of true duplication.
    * This is how the dedup knob is set operationally: sweep once on a
    * sample, read the τ where precision crosses the removal budget's
    * tolerance, run the fleet at that τ. Recall is measured over
    * LSH-PROPOSED pairs — the banding's own recall is a separate,
    * signature-design question ([[simRecallAudit]]'s domain); this
    * sweep isolates the estimator's discrimination. Cost: the same
    * candidate-bounded verify join as [[lshVerifiedJaccard]] plus a
    * 10-row grid cross join over the (est, jaccard) pairs frame —
    * nothing corpus-pairwise, and the grid multiplies a frame already
    * bounded by the bucket cap. */
  def thresholdSweep(spark: SparkSession, dir: String,
                     truthJaccard: Double = 0.8): DataFrame = {
    // the (est, exact) scored pairs ARE the artifact's verified kind —
    // the sweep reads the shared graph instead of re-running LSH+verify
    val scored = verifiedPairsShared(spark, dir)
      .select(col("est_jaccard"), col("jaccard"))
    val pred = col("est_jaccard") >= col("threshold_pct") / lit(100.0)
    val truth = col("jaccard") >= truthJaccard
    val grid = spark.range(50, 100, 5).select(col("id").as("threshold_pct"))
    scored.crossJoin(broadcast(grid))
      .groupBy("threshold_pct")
      .agg(count(lit(1)).as("n_cand"),
        sum(when(truth, 1L).otherwise(0L)).as("n_truth"),
        sum(when(pred, 1L).otherwise(0L)).as("n_pred"),
        sum(when(pred && truth, 1L).otherwise(0L)).as("tp"),
        sum(when(pred && !truth, 1L).otherwise(0L)).as("fp"),
        sum(when(!pred && truth, 1L).otherwise(0L)).as("fn"))
      .select(col("threshold_pct"), col("n_cand"), col("n_truth"),
        col("n_pred"), col("tp"), col("fp"), col("fn"),
        when(col("n_pred") > 0,
          col("tp").cast("double") / col("n_pred")).as("precision"),
        when(col("n_truth") > 0,
          col("tp").cast("double") / col("n_truth")).as("recall"))
      .orderBy("threshold_pct")
  }

  def thresholdSweepOracle: String = thresholdSweepOracle(0.8)

  def thresholdSweepOracle(truthJaccard: Double): String =
    s"""WITH keepers AS (
       |  SELECT doc_id, text FROM (
       |    SELECT doc_id, text,
       |      MIN(doc_id) OVER (PARTITION BY md5(text)) AS k
       |    FROM documents) d WHERE doc_id = k),
       |${minhashEstCtes("keepers")},
       |tokseq AS (SELECT doc_id, $tokensSql AS ws FROM keepers),
       |tri AS (SELECT doc_id,
       |    list_distinct(list_transform(range(greatest(len(ws) - 2, 0)),
       |      i -> ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3])) AS grams
       |  FROM tokseq),
       |scored AS (SELECT e.est_jaccard,
       |    CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE) /
       |      greatest(len(a.grams) + len(b.grams)
       |        - len(list_intersect(a.grams, b.grams)), 1) AS jaccard
       |  FROM est e
       |  JOIN tri a ON a.doc_id = e.d1
       |  JOIN tri b ON b.doc_id = e.d2),
       |grid AS (SELECT range AS threshold_pct FROM range(50, 100, 5)),
       |conf AS (SELECT threshold_pct,
       |    CAST(COUNT(*) AS BIGINT) AS n_cand,
       |    CAST(SUM(CASE WHEN jaccard >= $truthJaccard THEN 1 ELSE 0 END)
       |      AS BIGINT) AS n_truth,
       |    CAST(SUM(CASE WHEN est_jaccard >= threshold_pct / 100.0
       |      THEN 1 ELSE 0 END) AS BIGINT) AS n_pred,
       |    CAST(SUM(CASE WHEN est_jaccard >= threshold_pct / 100.0
       |      AND jaccard >= $truthJaccard THEN 1 ELSE 0 END) AS BIGINT) AS tp,
       |    CAST(SUM(CASE WHEN est_jaccard >= threshold_pct / 100.0
       |      AND jaccard < $truthJaccard THEN 1 ELSE 0 END) AS BIGINT) AS fp,
       |    CAST(SUM(CASE WHEN est_jaccard < threshold_pct / 100.0
       |      AND jaccard >= $truthJaccard THEN 1 ELSE 0 END) AS BIGINT) AS fn
       |  FROM scored CROSS JOIN grid GROUP BY threshold_pct)
       |SELECT threshold_pct, n_cand, n_truth, n_pred, tp, fp, fn,
       |  CASE WHEN n_pred > 0 THEN CAST(tp AS DOUBLE) / n_pred END
       |    AS precision,
       |  CASE WHEN n_truth > 0 THEN CAST(tp AS DOUBLE) / n_truth END
       |    AS recall
       |FROM conf ORDER BY threshold_pct""".stripMargin

  // ── containment: the asymmetric near-dup metric Jaccard misses ──

  /** Trigram CONTAINMENT pairs: |∩| / min(|A|,|B|) — the asymmetric
    * metric that catches a document embedded inside a much larger one
    * (quoted article, concatenated crawl page), where Jaccard stays
    * low and MinHash-LSH never proposes the pair (its collision
    * probability IS Jaccard). Candidates therefore come from a
    * different generator: docs sharing ≥ [[ContainMinShared]] RARE
    * trigrams (corpus df ≤ [[ContainDfCap]]) — the prefix-filter /
    * PPJoin family's shape. The df cap is the star-cap analog: a
    * boilerplate gram shared by thousands of docs generates no
    * candidates (its pairs are chrome, not containment), and bounds
    * the gram self-join at O(Σ df²) over df-capped grams. Exact
    * verification then runs on candidates only — one array_intersect
    * per pair (both gram sets complete, including capped grams), so
    * the reported metrics are exact even though candidate generation
    * is rarity-restricted. Verdict separates the classes: `near_dup`
    * (high Jaccard too — ordinary near-duplicate) vs `contained`
    * (high containment, low Jaccard — the subset relation exact and
    * MinHash dedup both miss; DedupSpec constructs one). Exact-dedup
    * keepers first, as in [[lshVerifiedJaccard]]. */
  def containmentPairs(spark: SparkSession, dir: String,
                       minContainment: Double = 0.8): DataFrame =
    containmentPairsDocs(Tables.documents(spark, dir), minContainment)

  private[graft] def containmentPairsDocs(docs: DataFrame,
                                          minContainment: Double): DataFrame = {
    val keeper = min(col("doc_id"))
      .over(Window.partitionBy(md5(col("text"))))
    val documents = docs
      .select(col("doc_id"), col("text"), keeper.as("k"))
      .filter(col("doc_id") === col("k"))
      .select(col("doc_id"), col("text"))
    val grams = trigramSets(documents).persist()
    graft.GraftSession.releaseAfterAction(docs.sparkSession, grams)
    val exploded = grams.select(col("doc_id"), explode(col("grams")).as("g"))
    val rare = exploded.groupBy("g").agg(count(lit(1)).as("df"))
      .filter(col("df") <= ContainDfCap)
      .select(col("g"))
    val rg = exploded.join(rare, Seq("g"))
    val cands = rg.select(col("doc_id").as("d1"), col("g"))
      .join(rg.select(col("doc_id").as("d2"), col("g")), Seq("g"))
      .filter(col("d1") < col("d2"))
      .groupBy("d1", "d2").agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= ContainMinShared)
      .select(col("d1"), col("d2"))
    val inter = size(array_intersect(col("g1"), col("g2")))
    cands
      .join(grams.select(col("doc_id").as("d1"), col("grams").as("g1")), Seq("d1"))
      .join(grams.select(col("doc_id").as("d2"), col("grams").as("g2")), Seq("d2"))
      .select(col("d1"), col("d2"),
        round(inter.cast("double") /
          greatest(least(size(col("g1")), size(col("g2"))), lit(1)), 6)
          .as("containment"),
        round(inter.cast("double") /
          greatest(size(col("g1")) + size(col("g2")) - inter, lit(1)), 6)
          .as("jaccard"))
      .filter(col("containment") >= minContainment)
      .select(col("d1"), col("d2"), col("containment"), col("jaccard"),
        when(col("jaccard") >= 0.5, lit("near_dup"))
          .otherwise(lit("contained")).as("verdict"))
      .orderBy("d1", "d2")
  }

  private[graft] val ContainDfCap = 64
  private[graft] val ContainMinShared = 5

  def containmentPairsOracle: String = containmentPairsOracle(0.8)

  def containmentPairsOracle(minContainment: Double): String =
    s"""WITH keepers AS (
       |  SELECT doc_id, text FROM (
       |    SELECT doc_id, text,
       |      MIN(doc_id) OVER (PARTITION BY md5(text)) AS k
       |    FROM documents) d WHERE doc_id = k),
       |tokseq AS (SELECT doc_id, $tokensSql AS ws FROM keepers),
       |tri AS (SELECT doc_id,
       |    list_distinct(list_transform(range(greatest(len(ws) - 2, 0)),
       |      i -> ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3])) AS grams
       |  FROM tokseq),
       |g AS (SELECT doc_id, len(grams) AS n, unnest(grams) AS g FROM tri),
       |rare AS (SELECT g FROM g GROUP BY g HAVING COUNT(*) <= $ContainDfCap),
       |rg AS (SELECT gg.doc_id, gg.g FROM g gg JOIN rare USING (g)),
       |cand AS (SELECT a.doc_id AS d1, b.doc_id AS d2
       |  FROM rg a JOIN rg b ON a.g = b.g AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2 HAVING COUNT(*) >= $ContainMinShared),
       |inter AS (SELECT c.d1, c.d2, a.n AS n1, b.n AS n2, COUNT(*) AS inter
       |  FROM cand c
       |  JOIN g a ON a.doc_id = c.d1
       |  JOIN g b ON b.doc_id = c.d2 AND b.g = a.g
       |  GROUP BY 1, 2, 3, 4),
       |m AS (SELECT d1, d2,
       |    round(CAST(inter AS DOUBLE) / GREATEST(LEAST(n1, n2), 1), 6)
       |      AS containment,
       |    round(CAST(inter AS DOUBLE) / GREATEST(n1 + n2 - inter, 1), 6)
       |      AS jaccard
       |  FROM inter)
       |SELECT d1, d2, containment, jaccard,
       |  CASE WHEN jaccard >= 0.5 THEN 'near_dup' ELSE 'contained' END AS verdict
       |FROM m WHERE containment >= $minContainment
       |ORDER BY d1, d2""".stripMargin

  /** SimHash near-dup pairs: band the 32-bit signature into 4 bytes;
    * docs sharing any byte are candidates; verify by Hamming distance
    * (bit_count of xor). Same LSH discipline as MinHash pairs — the
    * cross product never materializes, only byte-bucket collisions. */
  def simhashPairs(spark: SparkSession, dir: String,
                   maxHamming: Int = 6,
                   maxBucket: Int = MaxBucket): DataFrame = {
    val sigs = simhash(spark, dir) // (doc_id, simhash), already sorted
    val bands = sigs.select(col("doc_id"), col("simhash"),
        explode(sequence(lit(0), lit(3))).as("band_id"))
      .withColumn("band_val",
        floor(col("simhash") / pow(lit(2.0), col("band_id") * 8)).cast("long") % 256L)
    cappedBucketPairs(bands, Seq("band_id", "band_val"), "doc_id",
        Seq("simhash"), maxBucket)
      .select(col("d1"), col("d2"),
        bit_count(col("simhash1").bitwiseXOR(col("simhash2"))).cast("long").as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
      .orderBy("d1", "d2")
  }

  def simhashPairsOracle: String =
    s"""WITH toks AS (
       |  SELECT doc_id, list_distinct($tokensSql) AS ws FROM documents),
       |th AS (SELECT doc_id, CAST(concat('0x', substr(md5(w), 1, 8)) AS BIGINT) AS h
       |       FROM (SELECT doc_id, unnest(ws) AS w FROM toks) u),
       |bits AS (SELECT doc_id, b,
       |       CASE WHEN SUM(((h // (1::BIGINT << b)) % 2) * 2 - 1) > 0
       |            THEN (1::BIGINT << b) ELSE 0 END AS bitval
       |       FROM th CROSS JOIN range($SimhashBits) r(b)
       |       GROUP BY doc_id, b),
       |sig AS (SELECT doc_id, CAST(SUM(bitval) AS BIGINT) AS simhash
       |       FROM bits GROUP BY doc_id),
       |band AS (SELECT doc_id, simhash, band_id,
       |       (simhash // (1::BIGINT << (band_id * 8))) % 256 AS band_val
       |       FROM sig CROSS JOIN range(4) rb(band_id)),
       |sized AS (SELECT doc_id, simhash, band_id, band_val,
       |       COUNT(*) OVER (PARTITION BY band_id, band_val) AS bn FROM band),
       |pairs AS (SELECT DISTINCT d1, d2,
       |       CAST(bit_count(xor(s1, s2)) AS BIGINT) AS hamming FROM (
       |       SELECT a.doc_id AS d1, b.doc_id AS d2, a.simhash AS s1, b.simhash AS s2
       |       FROM sized a JOIN sized b
       |         ON a.band_id = b.band_id AND a.band_val = b.band_val
       |        AND a.doc_id < b.doc_id
       |       WHERE a.bn <= $MaxBucket
       |       UNION
       |       SELECT r.d1, m.doc_id, r.s1, m.simhash
       |       FROM (SELECT band_id, band_val, MIN(doc_id) AS d1,
       |                    arg_min(simhash, doc_id) AS s1 FROM sized
       |             WHERE bn > $MaxBucket GROUP BY band_id, band_val) r
       |       JOIN sized m ON m.band_id = r.band_id AND m.band_val = r.band_val
       |        AND m.doc_id > r.d1) u)
       |SELECT d1, d2, hamming FROM pairs
       |WHERE hamming <= 6 ORDER BY d1, d2""".stripMargin

  /** SimHash Hamming→exact-Jaccard calibration curve — the measured
    * answer to "what maxHamming threshold should the SimHash screen
    * use": for each Hamming distance on the candidate pairs the
    * banded SimHash pass surfaces, the count and the mean/min/max
    * EXACT trigram Jaccard of those pairs. The minhash_error_audit
    * twin for the other signature family: MinHash estimates a
    * set-similarity directly, SimHash's bit distance only correlates
    * with it — this curve is that correlation, measured on the
    * corpus the threshold will screen.
    *
    * Scale shape: the pair set is the capped-bucket SimHash
    * candidate frame (linear, never pairwise); exact Jaccard joins
    * the pairs against per-endpoint trigram sets (leftsemi-pruned to
    * pair endpoints, persisted for the two-sided join — the
    * [[scoredKeeperPairs]] template); the report collapses to the
    * ≤ maxHamming+1-row grid. Mean is a decimal sum of 9-rounded
    * terms (partition-order-free); min/max are order-free already. */
  def simhashCalibration(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    // persisted: consumed twice (endpoint pruning + the scored join)
    val pairs = simhashPairs(spark, dir).persist()
    val endpoints = pairs.select(col("d1").as("doc_id"))
      .union(pairs.select(col("d2"))).distinct()
    // hashed gram sets (r13): same per-pair set algebra as the string
    // form at ~⅓ the exchange bytes — see trigramHashSets
    val grams = trigramHashSets(Tables.documents(spark, dir)
      .join(endpoints, Seq("doc_id"), "leftsemi")).persist()
    graft.GraftSession.releaseAfterAction(spark, pairs, grams)
    val inter = size(array_intersect(col("g1"), col("g2")))
    val scored = pairs
      .join(grams.select(col("doc_id").as("d1"), col("grams").as("g1")), Seq("d1"))
      .join(grams.select(col("doc_id").as("d2"), col("grams").as("g2")), Seq("d2"))
      .select(col("hamming"),
        (inter.cast("double") /
          greatest(size(col("g1")) + size(col("g2")) - inter, lit(1))).as("j"))
    scored.groupBy("hamming")
      .agg(count(lit(1)).as("n_pairs"),
        sum(round(col("j"), 9).cast(DecimalType(28, 12))).cast("double").as("sj"),
        min(col("j")).as("mnj"), max(col("j")).as("mxj"))
      .select(col("hamming"), col("n_pairs"),
        round(col("sj") / col("n_pairs"), 6).as("mean_jaccard"),
        round(col("mnj"), 6).as("min_jaccard"),
        round(col("mxj"), 6).as("max_jaccard"))
      .orderBy("hamming")
  }

  def simhashCalibrationOracle: String =
    s"""WITH sp AS (SELECT d1, d2, hamming FROM (
       |${simhashPairsOracle.linesIterator.map("  " + _).mkString("\n")}
       |  ) sq),
       |tokseq AS (SELECT doc_id, $tokensSql AS ws FROM documents),
       |tri AS (SELECT doc_id,
       |    list_distinct(list_transform(range(greatest(len(ws) - 2, 0)),
       |      i -> ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3])) AS grams
       |  FROM tokseq),
       |nn AS (SELECT doc_id, len(grams) AS n FROM tri),
       |gg AS (SELECT doc_id, unnest(grams) AS g FROM tri),
       |iv AS (SELECT sp.d1, sp.d2, COUNT(*) AS inter
       |  FROM sp JOIN gg a ON a.doc_id = sp.d1
       |  JOIN gg b ON b.doc_id = sp.d2 AND b.g = a.g
       |  GROUP BY sp.d1, sp.d2),
       |scored AS (SELECT sp.hamming,
       |    CAST(COALESCE(iv.inter, 0) AS DOUBLE) /
       |      GREATEST(na.n + nb.n - COALESCE(iv.inter, 0), 1) AS j
       |  FROM sp JOIN nn na ON na.doc_id = sp.d1
       |  JOIN nn nb ON nb.doc_id = sp.d2
       |  LEFT JOIN iv ON iv.d1 = sp.d1 AND iv.d2 = sp.d2)
       |SELECT hamming, CAST(COUNT(*) AS BIGINT) AS n_pairs,
       |  round(CAST(SUM(CAST(round(j, 9) AS DECIMAL(28,12))) AS DOUBLE)
       |    / COUNT(*), 6) AS mean_jaccard,
       |  round(MIN(j), 6) AS min_jaccard,
       |  round(MAX(j), 6) AS max_jaccard
       |FROM scored GROUP BY hamming ORDER BY hamming""".stripMargin

  // ── cross-document exact-substring dedup (verbatim shared runs) ──

  /** Minimum verbatim run length in tokens — also the k-gram width.
    * Any window of exactly this many tokens appearing in ≥2 documents
    * is detected, and maximal runs extend it: a run of L consecutive
    * shared gram positions covers L + k − 1 tokens. The
    * suffix-array-style operators (Lee et al., "Deduplicating
    * Training Data Makes Language Models Better") use 50 BPE tokens
    * at web scale; 8 word tokens is the same operator scaled to the
    * fixture corpus' ~50-token documents. */
  val RunGramTokens = 8

  /** (doc_id, p, g) — every k-token window's md5 fingerprint. Pure
    * tokenize + explode + codegen'd projection (no shuffle, no
    * state), shared by the batch run spine and the streaming
    * on-ingest screen ([[graft.streaming.DocStream
    * .streamingSubstringScreen]]), so the fingerprints cannot drift
    * between them. */
  private[graft] def gramRows(docs: DataFrame): DataFrame = {
    val k = RunGramTokens
    docs.select(col("doc_id"), TextAnalysis.tokens(col("text")).as("t"))
      .filter(size(col("t")) >= k)
      .select(col("doc_id"), col("t"),
        explode(sequence(lit(0), size(col("t")) - k)).as("p"))
      .select(col("doc_id"), col("p"),
        md5(concat_ws(" ", slice(col("t"), col("p") + 1, lit(k)))).as("g"))
  }

  /** Per-position k-gram fingerprints + maximal shared runs — the
    * shared spine of [[substringDedup]] and [[substringRuns]].
    * Returns (toksDf = (doc_id, t, n_tokens), runs = (doc_id, cid,
    * start_pos, span)).
    *
    * Scale shape: fingerprinting is a per-row explode + codegen'd
    * md5-of-slice projection (no shuffle); "shared across ≥2 docs" is
    * ONE window over the gram hash (min ≠ max doc_id — no
    * count-distinct, no self-join, and the shuffle key is the gram
    * hash, so it spreads uniformly no matter how skewed document
    * sources are); run assembly is a per-doc gaps-and-islands window.
    * Nothing is pairwise: a paragraph duplicated across a MILLION
    * docs costs one window partition of a million rows — the
    * degenerate bucket that would explode an all-pairs formulation
    * into 10¹² candidates costs O(n log n) here, because spans are
    * attributed per document, never per document PAIR. That is
    * exactly why this operator (and not the MinHash/containment
    * family, which must cap such buckets) is the right form for
    * "remove the duplicated paragraph, keep the doc". */
  private def substringRunFrames(docs: DataFrame): (DataFrame, DataFrame) = {
    val k = RunGramTokens
    val toksDf = docs
      .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("t"))
      .withColumn("n_tokens", size(col("t")).cast("long"))
    val pos = gramRows(docs)
    // shared iff ≥2 distinct docs carry the gram: min ≠ max doc_id
    // over the gram partition — one window pass, no second scan of
    // the corpus and no countDistinct
    val wg = Window.partitionBy("g")
    val shared = pos
      .withColumn("mn", min(col("doc_id")).over(wg))
      .withColumn("mx", max(col("doc_id")).over(wg))
      .filter(col("mn") < col("mx"))
      .select(col("doc_id"), col("p"))
    (toksDf, maximalRuns(shared, k))
  }

  /** Gaps-and-islands run assembly — THE one definition shared by the
    * dedup spine and the decontamination query: positions p1 < p2
    * cover overlapping-or-adjacent token intervals iff p2 − p1 ≤ k,
    * so a gap > k starts a new run; merged runs cover
    * max(p) − min(p) + k tokens exactly (never double-counted — the
    * next run's first token starts strictly after this run's last).
    * Input: (doc_id, p) marked positions. Output: (doc_id, cid,
    * start_pos, span). */
  private def maximalRuns(positions: DataFrame, k: Int): DataFrame = {
    val wd = Window.partitionBy("doc_id").orderBy("p")
    positions
      .withColumn("brk",
        when(col("p") - lag("p", 1).over(wd) > k, 1).otherwise(0))
      .withColumn("cid", sum(col("brk")).over(
        wd.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("doc_id", "cid")
      .agg(min(col("p")).cast("long").as("start_pos"),
        (max(col("p")) - min(col("p")) + k).cast("long").as("span"))
  }

  /** Per-doc rollup + report over a (doc_id, n_tokens) frame and a
    * [[maximalRuns]] output — the LEFT-join/coalesce projection both
    * run reports share; `prefix` names the covered-token columns
    * (dup_* for the dedup report, contam_* for decontamination). */
  private def runCoverageReport(docTokens: DataFrame, runs: DataFrame,
                                prefix: String): DataFrame = {
    val perDoc = runs.groupBy("doc_id")
      .agg(sum(col("span")).as("cov"), count(lit(1)).as("n_runs"),
        max(col("span")).as("longest_run"))
    docTokens
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("cov"), lit(0L)).as(s"${prefix}_tokens"),
        round(coalesce(col("cov"), lit(0L)) /
          greatest(col("n_tokens"), lit(1L)), 6).as(s"${prefix}_fraction"),
        coalesce(col("n_runs"), lit(0L)).as("n_runs"),
        coalesce(col("longest_run"), lit(0L)).as("longest_run"))
      .orderBy("doc_id")
  }

  /** Shared k-gram/run CTE chain — mirrors [[substringRunFrames]]
    * step for step (same tokenizer, same md5-of-k-window fingerprint,
    * same min≠max shared test, same gap>k island rule). */
  private def substringRunsSql: String = {
    val k = RunGramTokens
    s"""toks AS (SELECT doc_id, $tokensSql AS t FROM documents),
       |d AS (SELECT doc_id, t, CAST(len(t) AS BIGINT) AS n_tokens FROM toks),
       |pos AS (SELECT doc_id, p,
       |    md5(array_to_string(t[p + 1:p + $k], ' ')) AS g
       |  FROM (SELECT doc_id, t, unnest(range(len(t) - ${k - 1})) AS p
       |        FROM d WHERE n_tokens >= $k) u),
       |sh AS (SELECT doc_id, p FROM (
       |    SELECT doc_id, p,
       |      min(doc_id) OVER (PARTITION BY g) AS mn,
       |      max(doc_id) OVER (PARTITION BY g) AS mx
       |    FROM pos) w WHERE mn < mx),
       |br AS (SELECT doc_id, p,
       |    CASE WHEN p - lag(p) OVER (PARTITION BY doc_id ORDER BY p) > $k
       |         THEN 1 ELSE 0 END AS brk
       |  FROM sh),
       |cl AS (SELECT doc_id, p,
       |    SUM(brk) OVER (PARTITION BY doc_id ORDER BY p
       |                   ROWS UNBOUNDED PRECEDING) AS cid
       |  FROM br),
       |runs AS (SELECT doc_id, cid, CAST(MIN(p) AS BIGINT) AS start_pos,
       |    CAST(MAX(p) - MIN(p) + $k AS BIGINT) AS span
       |  FROM cl GROUP BY doc_id, cid)""".stripMargin
  }

  /** Cross-document exact-substring dedup: per document, the fraction
    * of its tokens covered by verbatim runs of ≥ [[RunGramTokens]]
    * tokens that also appear in at least one OTHER document — the
    * Lee-et-al signal that drives "remove the duplicated paragraph,
    * keep the document", which the whole-doc similarity family
    * (MinHash / containment / SimHash) cannot produce: a unique doc
    * with one boilerplate paragraph scores near-zero Jaccard against
    * everything yet still ships duplicated spans into training. */
  def substringDedup(spark: SparkSession, dir: String): DataFrame =
    substringDedupDocs(
      Tables.documents(spark, dir).select(col("doc_id"), col("text")))

  private[graft] def substringDedupDocs(docs: DataFrame): DataFrame = {
    val (toksDf, runs) = substringRunFrames(docs)
    runCoverageReport(toksDf.select(col("doc_id"), col("n_tokens")),
      runs, "dup")
  }

  /** Verbatim-run DECONTAMINATION — the third rung of the
    * decontamination ladder, beside the 8-gram set-overlap check
    * ([[TextAnalysis.decontaminate]]) and the embedding-space screen
    * ([[Similarity.decontaminateSemantic]]): per TRAINING document,
    * the maximal runs of ≥ [[RunGramTokens]] tokens that appear
    * VERBATIM anywhere in the held-out eval slice (source =
    * [[TextAnalysis.EvalSource]]), with the contaminated-token
    * fraction. This is the Lee-et-al form of the check: set-overlap
    * counts shared grams but cannot say "a 40-token span of the
    * benchmark is inside this document"; runs can, and the span
    * coordinates make surgical excision (not whole-doc dropping)
    * possible. Same spine as [[substringDedup]] — per-position
    * fingerprints from the shared [[gramRows]] kernel, so the
    * dedup/screen/decontamination trio cannot drift — but the shared
    * test is a semi-join against the BROADCAST eval gram set instead
    * of the min≠max window: the eval slice is benchmark-sized by
    * construction, so contamination detection costs one train-corpus
    * gram scan, nothing pairwise, no corpus-keyed window at all. */
  def decontaminateSubstring(spark: SparkSession, dir: String): DataFrame = {
    val k = RunGramTokens
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), col("text"))
    val evalGrams = gramRows(
      docs.filter(col("source") === TextAnalysis.EvalSource)
        .select(col("doc_id"), col("text")))
      .select(col("g")).distinct()
    val train = docs.filter(col("source") =!= TextAnalysis.EvalSource)
      .select(col("doc_id"), col("text"))
    val contamPos = gramRows(train)
      .join(broadcast(evalGrams), Seq("g"), "leftsemi")
      .select(col("doc_id"), col("p"))
    runCoverageReport(
      train.select(col("doc_id"),
        size(TextAnalysis.tokens(col("text"))).cast("long").as("n_tokens")),
      maximalRuns(contamPos, k), "contam")
  }

  def decontaminateSubstringOracle: String = {
    val k = RunGramTokens
    val ev = TextAnalysis.EvalSource
    s"""WITH toks AS (SELECT doc_id, source, $tokensSql AS t FROM documents),
       |d AS (SELECT doc_id, source, t, CAST(len(t) AS BIGINT) AS n_tokens
       |  FROM toks),
       |pos AS (SELECT doc_id, source, p,
       |    md5(array_to_string(t[p + 1:p + $k], ' ')) AS g
       |  FROM (SELECT doc_id, source, t,
       |          unnest(range(len(t) - ${k - 1})) AS p
       |        FROM d WHERE n_tokens >= $k) u),
       |evg AS (SELECT DISTINCT g FROM pos WHERE source = '$ev'),
       |sh AS (SELECT doc_id, p FROM pos
       |  WHERE source <> '$ev' AND g IN (SELECT g FROM evg)),
       |br AS (SELECT doc_id, p,
       |    CASE WHEN p - lag(p) OVER (PARTITION BY doc_id ORDER BY p) > $k
       |         THEN 1 ELSE 0 END AS brk
       |  FROM sh),
       |cl AS (SELECT doc_id, p,
       |    SUM(brk) OVER (PARTITION BY doc_id ORDER BY p
       |                   ROWS UNBOUNDED PRECEDING) AS cid
       |  FROM br),
       |runs AS (SELECT doc_id, cid,
       |    CAST(MAX(p) - MIN(p) + $k AS BIGINT) AS span
       |  FROM cl GROUP BY doc_id, cid),
       |pd AS (SELECT doc_id, CAST(SUM(span) AS BIGINT) AS contam_tokens,
       |    CAST(COUNT(*) AS BIGINT) AS n_runs,
       |    CAST(MAX(span) AS BIGINT) AS longest_run
       |  FROM runs GROUP BY doc_id)
       |SELECT d.doc_id, d.n_tokens,
       |  COALESCE(pd.contam_tokens, 0) AS contam_tokens,
       |  round(COALESCE(pd.contam_tokens, 0) / GREATEST(d.n_tokens, 1), 6)
       |    AS contam_fraction,
       |  COALESCE(pd.n_runs, 0) AS n_runs,
       |  COALESCE(pd.longest_run, 0) AS longest_run
       |FROM d LEFT JOIN pd USING (doc_id)
       |WHERE d.source <> '$ev' ORDER BY d.doc_id""".stripMargin
  }

  def substringDedupOracle: String =
    s"""WITH $substringRunsSql,
       |pd AS (SELECT doc_id, CAST(SUM(span) AS BIGINT) AS dup_tokens,
       |    CAST(COUNT(*) AS BIGINT) AS n_runs,
       |    CAST(MAX(span) AS BIGINT) AS longest_run
       |  FROM runs GROUP BY doc_id)
       |SELECT d.doc_id, d.n_tokens,
       |  COALESCE(pd.dup_tokens, 0) AS dup_tokens,
       |  round(COALESCE(pd.dup_tokens, 0) / GREATEST(d.n_tokens, 1), 6)
       |    AS dup_fraction,
       |  COALESCE(pd.n_runs, 0) AS n_runs,
       |  COALESCE(pd.longest_run, 0) AS longest_run
       |FROM d LEFT JOIN pd USING (doc_id) ORDER BY doc_id""".stripMargin

  /** The top shared verbatim runs — the "what exactly is duplicated"
    * report behind [[substringDedup]]'s fractions: the longest
    * maximal cross-doc spans, with the run content fingerprinted so
    * identical spans in different documents carry the same md5.
    * Bounded output (top `topN` by span, doc_id/start tiebreak —
    * a total order, so LIMIT is deterministic). */
  def substringRuns(spark: SparkSession, dir: String,
                    topN: Int = 20): DataFrame =
    substringRunsDocs(
      Tables.documents(spark, dir).select(col("doc_id"), col("text")), topN)

  private[graft] def substringRunsDocs(docs: DataFrame,
                                       topN: Int = 20): DataFrame = {
    val (toksDf, runs) = substringRunFrames(docs)
    runs.join(toksDf.select(col("doc_id"), col("t")), Seq("doc_id"))
      .select(col("doc_id"), col("start_pos"), col("span").as("run_tokens"),
        md5(concat_ws(" ",
          slice(col("t"), col("start_pos") + 1, col("span")))).as("run_md5"))
      .orderBy(col("run_tokens").desc, col("doc_id"), col("start_pos"))
      .limit(topN)
  }

  def substringRunsOracle: String =
    s"""WITH $substringRunsSql
       |SELECT r.doc_id, r.start_pos, r.span AS run_tokens,
       |  md5(array_to_string(
       |    d.t[r.start_pos + 1:r.start_pos + r.span], ' ')) AS run_md5
       |FROM runs r JOIN d USING (doc_id)
       |ORDER BY run_tokens DESC, doc_id, start_pos LIMIT 20""".stripMargin

  /** The EXCISION transform behind [[substringDedup]]'s report —
    * "remove the duplicated paragraph, keep the document", executed:
    * every maximal shared run keeps exactly ONE occurrence corpus-wide
    * (the (min doc_id, min start) copy — deterministic, so retries
    * excise identical spans) and is cut everywhere else; per doc the
    * output carries the removal accounting and the md5 of the cleaned
    * token stream (what a downstream writer would persist).
    *
    * Keeper policy is keyed on the EXACT run content (length + bytes):
    * two docs whose maximal extents differ keep both — conservative
    * under-removal by design; the fraction report remains the audit.
    * Scale shape adds to the run spine: one |runs|-sized window for
    * the keeper rank (runs, not tokens — boilerplate-heavy corpora
    * have |runs| ≪ |tokens|), one per-doc interval list (clusters are
    * disjoint in token space, so the list is small and membership
    * filtering is |tokens|·|intervals| per doc, no shuffle). */
  def substringExcise(spark: SparkSession, dir: String): DataFrame =
    substringExciseDocs(
      Tables.documents(spark, dir).select(col("doc_id"), col("text")))

  private[graft] def substringExciseDocs(docs: DataFrame): DataFrame = {
    val (toksDf, runs) = substringRunFrames(docs)
    val rm = runs.join(toksDf.select(col("doc_id"), col("t")), Seq("doc_id"))
      .select(col("doc_id"), col("start_pos"), col("span"),
        md5(concat_ws(" ",
          slice(col("t"), col("start_pos") + 1, col("span")))).as("run_md5"))
      .persist() // two references below; the frame is |runs|-sized
    graft.GraftSession.releaseAfterAction(docs.sparkSession, rm)
    // keeper = min (doc, start) per run content, as a map-side-combined
    // struct-min aggregate + join — NOT a row_number window: a
    // boilerplate run shared by a million docs would put all million
    // occurrences into ONE sorted window partition, while the partial
    // min shrinks that key to one row per task before the shuffle (the
    // oracle's row_number form is semantically identical: rn=1 ⟺
    // (doc, start) = min struct)
    val keeper = rm.groupBy("run_md5")
      .agg(min(struct(col("doc_id"), col("start_pos"))).as("k"))
    val rem = rm.join(keeper, Seq("run_md5"))
      .filter(!(col("doc_id") === col("k.doc_id") &&
        col("start_pos") === col("k.start_pos")))
      .select(col("doc_id"), col("start_pos").as("s"),
        (col("start_pos") + col("span")).as("e"), col("span"))
    val ivs = rem.groupBy("doc_id")
      .agg(collect_list(struct(col("s"), col("e"))).as("ivs"),
        sum(col("span")).as("removed"))
    toksDf.join(ivs, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("removed"), lit(0L)).as("removed_tokens"),
        (col("n_tokens") - coalesce(col("removed"), lit(0L)))
          .as("kept_tokens"),
        when(col("ivs").isNull, md5(array_join(col("t"), " ")))
          .otherwise(md5(array_join(expr(
            "transform(filter(sequence(0, size(t) - 1)," +
              " x -> size(filter(ivs, v -> x >= v.s AND x < v.e)) = 0)," +
              " x -> t[x])"), " ")))
          .as("cleaned_md5"))
      .orderBy("doc_id")
  }

  def substringExciseOracle: String =
    s"""WITH $substringRunsSql,
       |rm AS (SELECT r.doc_id, r.start_pos, r.span,
       |    md5(array_to_string(
       |      d.t[r.start_pos + 1:r.start_pos + r.span], ' ')) AS run_md5
       |  FROM runs r JOIN d USING (doc_id)),
       |rk AS (SELECT doc_id, start_pos, span,
       |    row_number() OVER (PARTITION BY run_md5
       |                       ORDER BY doc_id, start_pos) AS rn
       |  FROM rm),
       |rem AS (SELECT doc_id, start_pos AS s, start_pos + span AS e, span
       |  FROM rk WHERE rn > 1),
       |iv AS (SELECT doc_id, list(struct_pack(s := s, e := e)) AS ivs,
       |    CAST(SUM(span) AS BIGINT) AS removed
       |  FROM rem GROUP BY doc_id)
       |SELECT d.doc_id, d.n_tokens,
       |  COALESCE(iv.removed, 0) AS removed_tokens,
       |  d.n_tokens - COALESCE(iv.removed, 0) AS kept_tokens,
       |  -- COALESCE(…, ''): DuckDB's array_to_string of an EMPTY list
       |  -- is NULL where Spark's array_join is '' — a fully-excised
       |  -- (or tokenless) doc must hash the empty stream, not NULL
       |  CASE WHEN iv.doc_id IS NULL
       |       THEN md5(COALESCE(array_to_string(d.t, ' '), ''))
       |       ELSE md5(COALESCE(array_to_string(list_transform(
       |         list_filter(range(len(d.t)),
       |           x -> len(list_filter(iv.ivs,
       |                 v -> x >= v.s AND x < v.e)) = 0),
       |         x -> d.t[x + 1]), ' '), '')) END AS cleaned_md5
       |FROM d LEFT JOIN iv USING (doc_id) ORDER BY doc_id""".stripMargin

  /** Oracle for the ON-INGEST verbatim-overlap screen
    * ([[graft.streaming.DocStream.streamingSubstringScreen]]): per
    * DELTA doc, the fraction of its k-gram windows that already exist
    * verbatim anywhere in the standing (non-delta) corpus — the
    * cheap-at-ingest contamination signal (full maximal-run assembly
    * stays a batch pass; the screen decides "quarantine for the batch
    * dedup" the moment the doc lands). Flag at ≥ 0.5. */
  def substringScreenOracle: String = {
    val k = RunGramTokens
    s"""WITH toks AS (SELECT doc_id, $tokensSql AS t FROM documents),
       |d AS (SELECT doc_id, t FROM toks WHERE len(t) >= $k),
       |pos AS (SELECT doc_id,
       |    md5(array_to_string(t[p + 1:p + $k], ' ')) AS g
       |  FROM (SELECT doc_id, t, unnest(range(len(t) - ${k - 1})) AS p
       |        FROM d) u),
       |bg AS (SELECT DISTINCT g FROM pos
       |  WHERE doc_id % $DeltaMod <> ${DeltaMod - 1}),
       |dp AS (SELECT doc_id, g FROM pos
       |  WHERE doc_id % $DeltaMod = ${DeltaMod - 1})
       |SELECT dp.doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams,
       |  CAST(SUM(CASE WHEN bg.g IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_shared,
       |  round(SUM(CASE WHEN bg.g IS NOT NULL THEN 1 ELSE 0 END)
       |    / CAST(COUNT(*) AS DOUBLE), 6) AS shared_fraction,
       |  round(SUM(CASE WHEN bg.g IS NOT NULL THEN 1 ELSE 0 END)
       |    / CAST(COUNT(*) AS DOUBLE), 6) >= 0.5 AS flagged
       |FROM dp LEFT JOIN bg ON dp.g = bg.g
       |GROUP BY dp.doc_id ORDER BY doc_id""".stripMargin
  }

  // ── perceptual-hash (dHash) near-dup over multimodal payloads ──

  val PhashBits = 64
  val PhashHamMax = 16

  /** dHash near-duplicate pairs over the opaque media payloads: 65
    * evenly-strided brightness samples (the stub decode's byte
    * values — a real codec would supply a 65-pixel luminance row),
    * gradient bit i = sample_i < sample_{i+1} → a 64-bit perceptual
    * hash held as 8 byte-bands; assets sharing any band are
    * candidates (same star-capped LSH discipline as
    * [[simhashPairs]]), verified by full Hamming distance ≤
    * [[PhashHamMax]]. This is the content-similarity step the exact
    * frame-md5 dedup can't do: re-encoded or slightly-edited media
    * keeps its gradient structure while every byte digest changes.
    *
    * Scale shape: sampling is a fixed 65 lookups per asset (pure
    * projection — the payload never shuffles, only the 8-byte hash
    * does); banding + capped bucket join never materializes a cross
    * product; the verify reads only band bytes. Strides use integer
    * arithmetic (i·(n−1) div 64) so every engine samples identical
    * positions. */
  def phashPairs(spark: SparkSession, dir: String,
                 maxBucket: Int = MaxBucket): DataFrame = {
    // Compiled kernel, not declarative columns: the 65-sample form —
    // whether HOF lambdas (interpreted, re-evaluates the sample
    // projection per element: measured 100× slower) or 65 named
    // columns feeding 8 band expressions (projection collapse inlines
    // every sample snippet into every consumer and the generated
    // method overflows janino's 64KB limit, silently dropping the
    // stage out of whole-stage codegen) — cannot stay compiled. The
    // DHashBandsExpr kernel reads each payload byte once and keeps
    // the scan inside codegen; see the expression's scaladoc.
    val banded = Multimodal.assets(spark, dir).toDF()
      .filter(length(col("payload")) > 0)
      .select(col("asset_id"),
        graft.functions.DHashBands(col("payload")).as("bands"))
      .select(col("asset_id"), col("bands"),
        posexplode(col("bands")).as(Seq("band_id", "band_val")))
    val hamming = (0 until 8).map { b =>
      bit_count(element_at(col("bands1"), b + 1)
        .bitwiseXOR(element_at(col("bands2"), b + 1)))
    }.reduce(_ + _)
    cappedBucketPairs(banded, Seq("band_id", "band_val"), "asset_id",
        Seq("bands"), maxBucket)
      .select(col("d1"), col("d2"), hamming.cast("long").as("hamming"))
      .distinct()
      .filter(col("hamming") <= PhashHamMax)
      .orderBy("d1", "d2")
  }

  def phashPairsOracle: String =
    s"""WITH d AS (SELECT doc_id, octet_length(CAST(text AS BLOB)) AS n,
       |    hex(CAST(text AS BLOB)) AS hx FROM documents
       |  WHERE octet_length(CAST(text AS BLOB)) > 0),
       |smp AS (SELECT doc_id, i,
       |    CAST('0x' || substr(hx, CAST(2 * ((i * (n - 1)) // $PhashBits) + 1
       |      AS BIGINT), 2) AS BIGINT) AS s
       |  FROM (SELECT doc_id, n, hx, unnest(range(${PhashBits + 1})) AS i FROM d) t),
       |bits AS (SELECT a.doc_id, a.i,
       |    CASE WHEN a.s < b.s THEN 1 ELSE 0 END AS bit
       |  FROM smp a JOIN smp b ON a.doc_id = b.doc_id AND b.i = a.i + 1
       |  WHERE a.i < $PhashBits),
       |bands AS (SELECT doc_id, i // 8 AS band_id,
       |    CAST(SUM(bit << (i % 8)) AS BIGINT) AS band_val
       |  FROM bits GROUP BY doc_id, i // 8),
       |sized AS (SELECT doc_id, band_id, band_val,
       |    COUNT(*) OVER (PARTITION BY band_id, band_val) AS bn FROM bands),
       |cand AS (SELECT DISTINCT d1, d2 FROM (
       |    SELECT a.doc_id AS d1, b.doc_id AS d2
       |    FROM sized a JOIN sized b
       |      ON a.band_id = b.band_id AND a.band_val = b.band_val
       |     AND a.doc_id < b.doc_id
       |    WHERE a.bn <= $MaxBucket
       |    UNION
       |    SELECT r.d1, m.doc_id
       |    FROM (SELECT band_id, band_val, MIN(doc_id) AS d1 FROM sized
       |          WHERE bn > $MaxBucket GROUP BY band_id, band_val) r
       |    JOIN sized m ON m.band_id = r.band_id AND m.band_val = r.band_val
       |     AND m.doc_id > r.d1) u),
       |ham AS (SELECT c.d1, c.d2,
       |    CAST(SUM(bit_count(xor(x.band_val, y.band_val))) AS BIGINT) AS hamming
       |  FROM cand c JOIN bands x ON x.doc_id = c.d1
       |  JOIN bands y ON y.doc_id = c.d2 AND y.band_id = x.band_id
       |  GROUP BY c.d1, c.d2)
       |SELECT d1, d2, hamming FROM ham
       |WHERE hamming <= $PhashHamMax ORDER BY d1, d2""".stripMargin

  /** Composite (asset, frame) key for the frame-level phash family:
    * frame indices are payload-length-bounded (≪ 10⁶ frames/asset),
    * so one long key keeps the banded-pair machinery single-column. */
  private val FrameKeyBase = 1000000L

  /** FRAME-level perceptual near-dup: the whole-asset dHash pipeline
    * ([[phashPairs]]) applied per 256-byte frame — the video-scale
    * form of near-dup, where re-encoded or re-muxed copies share
    * *frames* long before whole files match, and a shared intro/ad
    * segment surfaces as a run of cross-asset frame pairs. Composes
    * the shipped pieces end-to-end: declarative frame split
    * (binary substring, the [[Multimodal.frames]] discipline — only
    * FULL frames participate, a short tail carries too few samples
    * to hash meaningfully), the compiled [[graft.functions.DHashBands]]
    * kernel per frame, banded-bucket candidates with the family's
    * star cap, full-Hamming verify. Payload bytes never shuffle —
    * after the per-frame hash only 8 band longs per frame move. */
  def framePhashPairs(spark: SparkSession, dir: String,
                      maxBucket: Int = MaxBucket): DataFrame = {
    val frameSize = 256
    val banded = Multimodal.assets(spark, dir).toDF()
      .filter(length(col("payload")) >= frameSize)
      .select(col("asset_id"),
        explode(sequence(lit(0L),
          ((length(col("payload")) - 1) / frameSize).cast("long")))
          .as("frame_idx"),
        col("payload"))
      .select((col("asset_id") * FrameKeyBase + col("frame_idx")).as("fkey"),
        expr(s"substring(payload, cast(frame_idx * $frameSize + 1 as int), $frameSize)")
          .as("frame"))
      .filter(length(col("frame")) === frameSize)
      .select(col("fkey"), graft.functions.DHashBands(col("frame")).as("bands"))
      .select(col("fkey"), col("bands"),
        posexplode(col("bands")).as(Seq("band_id", "band_val")))
    val hamming = (0 until 8).map { b =>
      bit_count(element_at(col("bands1"), b + 1)
        .bitwiseXOR(element_at(col("bands2"), b + 1)))
    }.reduce(_ + _)
    cappedBucketPairs(banded, Seq("band_id", "band_val"), "fkey",
        Seq("bands"), maxBucket)
      .select(col("d1"), col("d2"), hamming.cast("long").as("hamming"))
      .distinct()
      .filter(col("hamming") <= PhashHamMax)
      .select(expr(s"d1 div $FrameKeyBase").as("asset1"),
        (col("d1") % FrameKeyBase).as("frame1"),
        expr(s"d2 div $FrameKeyBase").as("asset2"),
        (col("d2") % FrameKeyBase).as("frame2"),
        col("hamming"))
      .orderBy("asset1", "frame1", "asset2", "frame2")
  }

  def framePhashPairsOracle: String =
    s"""WITH d AS (SELECT doc_id, hex(CAST(text AS BLOB)) AS hxall,
       |    octet_length(CAST(text AS BLOB)) AS n
       |  FROM documents WHERE octet_length(CAST(text AS BLOB)) >= 256),
       |fr0 AS (SELECT doc_id, hxall,
       |    unnest(generate_series(0, (n - 1) // 256)) AS frame_idx FROM d),
       |ff AS (SELECT doc_id * $FrameKeyBase + frame_idx AS fkey,
       |    substr(hxall, CAST(frame_idx * 512 AS BIGINT) + 1, 512) AS hx
       |  FROM fr0),
       |f AS (SELECT fkey, hx FROM ff WHERE length(hx) = 512),
       |smp AS (SELECT fkey, i,
       |    CAST('0x' || substr(hx, CAST(2 * ((i * 255) // $PhashBits) + 1
       |      AS BIGINT), 2) AS BIGINT) AS s
       |  FROM (SELECT fkey, hx, unnest(range(${PhashBits + 1})) AS i FROM f) t),
       |bits AS (SELECT a.fkey, a.i,
       |    CASE WHEN a.s < b.s THEN 1 ELSE 0 END AS bit
       |  FROM smp a JOIN smp b ON a.fkey = b.fkey AND b.i = a.i + 1
       |  WHERE a.i < $PhashBits),
       |bands AS (SELECT fkey, i // 8 AS band_id,
       |    CAST(SUM(bit << (i % 8)) AS BIGINT) AS band_val
       |  FROM bits GROUP BY fkey, i // 8),
       |sized AS (SELECT fkey, band_id, band_val,
       |    COUNT(*) OVER (PARTITION BY band_id, band_val) AS bn FROM bands),
       |cand AS (SELECT DISTINCT d1, d2 FROM (
       |    SELECT a.fkey AS d1, b.fkey AS d2
       |    FROM sized a JOIN sized b
       |      ON a.band_id = b.band_id AND a.band_val = b.band_val
       |     AND a.fkey < b.fkey
       |    WHERE a.bn <= $MaxBucket
       |    UNION
       |    SELECT r.d1, m.fkey
       |    FROM (SELECT band_id, band_val, MIN(fkey) AS d1 FROM sized
       |          WHERE bn > $MaxBucket GROUP BY band_id, band_val) r
       |    JOIN sized m ON m.band_id = r.band_id AND m.band_val = r.band_val
       |     AND m.fkey > r.d1) u),
       |ham AS (SELECT c.d1, c.d2,
       |    CAST(SUM(bit_count(xor(x.band_val, y.band_val))) AS BIGINT) AS hamming
       |  FROM cand c JOIN bands x ON x.fkey = c.d1
       |  JOIN bands y ON y.fkey = c.d2 AND y.band_id = x.band_id
       |  GROUP BY c.d1, c.d2)
       |SELECT d1 // $FrameKeyBase AS asset1, d1 % $FrameKeyBase AS frame1,
       |  d2 // $FrameKeyBase AS asset2, d2 % $FrameKeyBase AS frame2, hamming
       |FROM ham WHERE hamming <= $PhashHamMax
       |ORDER BY asset1, frame1, asset2, frame2""".stripMargin

  /** Scene-cut threshold: adjacent frames whose perceptual hashes
    * differ in more than this many of the 64 bits start a new scene. */
  val SceneCutMin = 24L

  /** Scene-cut detection: per asset, the frames whose dHash differs
    * from the PREVIOUS frame's by more than [[SceneCutMin]] bits —
    * the keyframe-segmentation pass a video training pipeline runs
    * before sampling (one frame per scene beats every-Nth when scenes
    * are unequal, and scene boundaries are where captions/shot labels
    * attach). Same declarative frame split + compiled
    * [[graft.functions.DHashBands]] kernel as the near-dup family,
    * then ONE window lag per asset (frames-per-asset is
    * payload-bounded, so the partition is small by construction —
    * this is the rare window whose partitioning is safe at any corpus
    * size); only the 8 band longs per frame ever shuffle. Output: the
    * scene-opening frames with their distance, plus frame 0 by
    * convention (hamming NULL — every asset has at least one scene). */
  def frameSceneCuts(spark: SparkSession, dir: String): DataFrame = {
    val frameSize = 256
    val hashed = Multimodal.assets(spark, dir).toDF()
      .filter(length(col("payload")) >= frameSize)
      .select(col("asset_id"),
        explode(sequence(lit(0L),
          ((length(col("payload")) - 1) / frameSize).cast("long")))
          .as("frame_idx"),
        col("payload"))
      .select(col("asset_id"), col("frame_idx"),
        expr(s"substring(payload, cast(frame_idx * $frameSize + 1 as int), $frameSize)")
          .as("frame"))
      .filter(length(col("frame")) === frameSize)
      .select(col("asset_id"), col("frame_idx"),
        graft.functions.DHashBands(col("frame")).as("bands"))
    val w = Window.partitionBy("asset_id").orderBy("frame_idx")
    val hamming = (0 until 8).map { b =>
      bit_count(element_at(col("bands"), b + 1)
        .bitwiseXOR(element_at(col("prev"), b + 1)))
    }.reduce(_ + _).cast("long")
    hashed
      .withColumn("prev", lag(col("bands"), 1).over(w))
      .select(col("asset_id"), col("frame_idx"),
        when(col("prev").isNotNull, hamming).as("hamming"))
      // NULL hamming ⟺ no previous frame ⟺ frame 0 (always a scene)
      .filter(col("hamming").isNull || col("hamming") > SceneCutMin)
      .orderBy("asset_id", "frame_idx")
  }

  def frameSceneCutsOracle: String =
    s"""WITH d AS (SELECT doc_id, hex(CAST(text AS BLOB)) AS hxall,
       |    octet_length(CAST(text AS BLOB)) AS n
       |  FROM documents WHERE octet_length(CAST(text AS BLOB)) >= 256),
       |fr0 AS (SELECT doc_id, hxall,
       |    unnest(generate_series(0, (n - 1) // 256)) AS frame_idx FROM d),
       |ff AS (SELECT doc_id, frame_idx,
       |    substr(hxall, CAST(frame_idx * 512 AS BIGINT) + 1, 512) AS hx
       |  FROM fr0),
       |f AS (SELECT doc_id, frame_idx, hx FROM ff WHERE length(hx) = 512),
       |smp AS (SELECT doc_id, frame_idx, i,
       |    CAST('0x' || substr(hx, CAST(2 * ((i * 255) // $PhashBits) + 1
       |      AS BIGINT), 2) AS BIGINT) AS s
       |  FROM (SELECT doc_id, frame_idx, hx, unnest(range(${PhashBits + 1})) AS i
       |        FROM f) t),
       |bits AS (SELECT a.doc_id, a.frame_idx, a.i,
       |    CASE WHEN a.s < b.s THEN 1 ELSE 0 END AS bit
       |  FROM smp a JOIN smp b ON a.doc_id = b.doc_id
       |    AND a.frame_idx = b.frame_idx AND b.i = a.i + 1
       |  WHERE a.i < $PhashBits),
       |bands AS (SELECT doc_id, frame_idx, i // 8 AS band_id,
       |    CAST(SUM(bit << (i % 8)) AS BIGINT) AS band_val
       |  FROM bits GROUP BY doc_id, frame_idx, i // 8),
       |ham AS (SELECT a.doc_id, a.frame_idx,
       |    CAST(SUM(bit_count(xor(a.band_val, p.band_val))) AS BIGINT) AS hamming
       |  FROM bands a JOIN bands p ON p.doc_id = a.doc_id
       |    AND p.frame_idx = a.frame_idx - 1 AND p.band_id = a.band_id
       |  GROUP BY a.doc_id, a.frame_idx),
       |first_frames AS (SELECT DISTINCT doc_id, CAST(0 AS BIGINT) AS frame_idx,
       |    CAST(NULL AS BIGINT) AS hamming FROM f)
       |SELECT doc_id AS asset_id, frame_idx, hamming FROM first_frames
       |UNION ALL
       |SELECT doc_id AS asset_id, frame_idx, hamming FROM ham
       |WHERE hamming > $SceneCutMin
       |ORDER BY asset_id, frame_idx""".stripMargin

  /** ASSET-level overlap from the frame pairs — the video-dedup
    * VERDICT: for each cross-asset pair, how many of the smaller
    * asset's full frames have a perceptual near-dup in the other
    * ([[framePhashPairs]] restricted to asset1 ≠ asset2, distinct
    * matched frames counted per side, overlap = the smaller asset's
    * matched-frame count / its own frame count — both taken from the
    * SAME side, so overlap ≤ 1.0 by construction). An overlap near 1.0 is a re-encode or re-mux; a small
    * positive overlap is a shared segment (intro, ad, watermark
    * card). The rollup is an aggregate over the already-bounded pair
    * set — the corpus-scale cost lives in the pair stage and was
    * probed there (1.6× at 100×). */
  def frameOverlapAssets(spark: SparkSession, dir: String): DataFrame = {
    val frameSize = 256
    val frameCounts = Multimodal.assets(spark, dir).toDF()
      .filter(length(col("payload")) >= frameSize)
      .select(col("asset_id"),
        (length(col("payload")).cast("long") / frameSize).cast("long")
          .as("n_frames"))
    val pairs = framePhashPairs(spark, dir)
      .filter(col("asset1") =!= col("asset2"))
    pairs
      .groupBy("asset1", "asset2")
      .agg(countDistinct(col("frame1")).as("m1"),
        countDistinct(col("frame2")).as("m2"),
        count(lit(1)).as("n_pairs"))
      .join(frameCounts.select(col("asset_id").as("asset1"),
        col("n_frames").as("f1")), Seq("asset1"))
      .join(frameCounts.select(col("asset_id").as("asset2"),
        col("n_frames").as("f2")), Seq("asset2"))
      .select(col("asset1"), col("asset2"), col("n_pairs"),
        // matched count and frame count must come from the SAME side —
        // the smaller asset's — or overlap can exceed 1.0 (m_big /
        // f_small); ties (f1 = f2) take side 1 in both engines
        when(col("f1") <= col("f2"), col("m1")).otherwise(col("m2"))
          .as("n_matched"),
        round(when(col("f1") <= col("f2"), col("m1")).otherwise(col("m2"))
          .cast("double") / least(col("f1"), col("f2")), 6).as("overlap"))
      .orderBy("asset1", "asset2")
  }

  def frameOverlapAssetsOracle: String =
    s"""WITH pairs AS (${framePhashPairsOracle
          .replace("ORDER BY asset1, frame1, asset2, frame2", "")}),
       |xp AS (SELECT * FROM pairs WHERE asset1 <> asset2),
       |agg AS (SELECT asset1, asset2,
       |    CAST(COUNT(*) AS BIGINT) AS n_pairs,
       |    CAST(COUNT(DISTINCT frame1) AS BIGINT) AS m1,
       |    CAST(COUNT(DISTINCT frame2) AS BIGINT) AS m2
       |  FROM xp GROUP BY asset1, asset2),
       |fc AS (SELECT doc_id AS asset_id,
       |    octet_length(CAST(text AS BLOB)) // 256 AS n_frames
       |  FROM documents WHERE octet_length(CAST(text AS BLOB)) >= 256)
       |SELECT a.asset1, a.asset2, a.n_pairs,
       |  CASE WHEN f1.n_frames <= f2.n_frames THEN a.m1 ELSE a.m2 END
       |    AS n_matched,
       |  round(CAST(CASE WHEN f1.n_frames <= f2.n_frames THEN a.m1 ELSE a.m2
       |      END AS DOUBLE)
       |    / least(f1.n_frames, f2.n_frames), 6) AS overlap
       |FROM agg a JOIN fc f1 ON a.asset1 = f1.asset_id
       |JOIN fc f2 ON a.asset2 = f2.asset_id
       |ORDER BY asset1, asset2""".stripMargin

  // ── duplicate-group resolution (connected components) ──

  /** Resolve near-dup PAIRS into duplicate GROUPS: exact connected
    * components over the pair graph. Each doc's group_id is the
    * smallest doc_id reachable through the pair graph, so "keep one
    * per group" is `group_id == doc_id` — the transitive-closure
    * answer the greedy per-pair drop approximates.
    *
    * Scale design (what must hold at 100 TB):
    *   - only PAIR ENDPOINTS enter the iteration. Docs with no
    *     near-dup edge — the overwhelming majority of a real corpus —
    *     never join; they get `group_id = doc_id` by a final left
    *     join. Iterated state is O(|endpoints|), not O(|corpus|).
    *   - min-label propagation with POINTER JUMPING: label ←
    *     min(label, min neighbor label, label(label)). The shortcut
    *     join halves label-chain depth each round, so convergence is
    *     O(log diameter) rounds, not O(diameter).
    *   - no broadcast hints: both joins shuffle on their keys; AQE
    *     chooses broadcast only when a side is measured small.
    *   - ONE Spark job per iteration: the next label table is lazily
    *     localCheckpointed and the convergence aggregate is the action
    *     that materializes it. Lineage truncates every iteration, so
    *     plan depth stays constant (unbounded nesting OOMs the driver).
    *   - exact convergence detection: labels are monotonically
    *     non-increasing node ids, so Σlabel strictly decreases until
    *     the fixpoint — equal consecutive sums ⟺ no label changed.
    *
    * Throws if maxIter is hit before the fixpoint (with pointer
    * jumping that needs diameter > 2^maxIter); use
    * [[duplicateGroupsWithStatus]] to inspect instead. */
  def duplicateGroups(spark: SparkSession, dir: String,
                      threshold: Double = PairThreshold,
                      maxIter: Int = 20): DataFrame = {
    val (out, status) =
      duplicateGroupsWithStatus(spark, dir, threshold, maxIter)
    if (!status.converged)
      throw new IllegalStateException(
        s"duplicateGroups hit maxIter=${status.iterations} before fixpoint; " +
          "group ids would be non-canonical")
    out
  }

  /** Execution status of a two-tier CC resolution — which tier ran is
    * part of the run record, not something to infer: `tier` is
    * "driver-union-find" or "distributed-propagation", `converged` is
    * always true on the driver tier (union-find is exact in one pass),
    * `iterations` counts propagation rounds, `edges` is the resolved
    * graph size, and `driverEdgeBudget` is the byte-derived cutoff the
    * tier choice was made against. */
  final case class CcStatus(tier: String, converged: Boolean,
                            iterations: Int, edges: Long,
                            driverEdgeBudget: Long)

  /** Driver-side union-find budget in EDGES, derived from BYTES — the
    * honest knob is driver heap, not a fixed count (2M edges is
    * nothing on a 128 GiB driver and reckless on a 1 GiB one). Each
    * collected edge costs ~16 bytes of Row payload plus boxed HashMap
    * entries for its endpoints (~200 bytes resident, measured order);
    * budget 5% of Runtime.maxMemory so the fast path can never crowd
    * the driver, clamped to [64k, 32M] (tiny test heaps still take the
    * fast path at bench scale; giant heaps don't collect absurd
    * graphs whose single-threaded resolve would dominate anyway). */
  private[graft] def driverCcEdgeBudget: Long = {
    val bytesPerEdge = 200L
    val budget = (Runtime.getRuntime.maxMemory() * 0.05).toLong / bytesPerEdge
    math.min(32000000L, math.max(65536L, budget))
  }

  /** As [[duplicateGroups]], returning (groups, [[CcStatus]]) so
    * pipelines can detect a degraded result — and see which tier
    * resolved the graph — programmatically.
    *
    * Two-tier execution — the standard shape for connected components
    * on a contracted graph:
    *   - The LSH pair graph is usually MINUSCULE next to the corpus
    *     (only near-dup endpoints appear). When it fits comfortably in
    *     driver memory (≤ [[driverCcEdgeBudget]]), collect it and resolve
    *     components with union-find (path compression + union-by-min —
    *     the final root of every component is provably its min id, so
    *     the result is identical to label propagation, in one collect
    *     instead of O(log n) Spark jobs whose per-job overhead dominates
    *     at this graph size).
    *   - Otherwise (a 100 TB corpus can emit billions of pairs), fall
    *     back to distributed endpoint-only min-label propagation with
    *     pointer jumping — O(log diameter) rounds, one job per round.
    * Both paths produce canonical min-id labels; only endpoints carry
    * state, and every untouched doc keeps label = doc_id via the final
    * left join. */
  def duplicateGroupsWithStatus(spark: SparkSession, dir: String,
                                threshold: Double = PairThreshold,
                                maxIter: Int = 20): (DataFrame, CcStatus) = {
    // est pairs from the durable artifact (stored at est threshold 0,
    // so ANY threshold is a filter over it); the orderBy the direct
    // minhashPairs path carried is irrelevant to CC
    val pairs = estPairsShared(spark, dir)
      .filter(col("est_jaccard") >= threshold).select(col("d1"), col("d2"))
    val (labels, status) = componentLabels(spark, pairs, maxIter)
    val docs = Tables.documents(spark, dir).select(col("doc_id"))
    val out = docs.join(labels, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("label"), col("doc_id")).as("group_id"))
      .orderBy("doc_id")
    (out, status)
  }

  /** Canonical min-id component labels over an arbitrary (d1, d2)
    * edge frame, ENDPOINTS ONLY — the resolution kernel behind
    * [[duplicateGroupsWithStatus]] (full pair graph) and
    * [[dedupGroupsDelta]] (the tiny contracted delta graph). Returns
    * (labels(doc_id, label), [[CcStatus]]); nodes that appear
    * in no edge carry no row — callers coalesce to identity. Tiering
    * as documented on [[duplicateGroupsWithStatus]]: driver union-find
    * under [[driverCcEdgeBudget]] (overridable for tests via
    * `maxDriverEdges`), distributed pointer-jumping min-label
    * propagation above it. */
  private[graft] def componentLabels(spark: SparkSession, pairsIn: DataFrame,
                                     maxIter: Int = 20,
                                     maxDriverEdges: Long = driverCcEdgeBudget)
      : (DataFrame, CcStatus) = {
    val pairs = pairsIn.select(col("d1"), col("d2")).persist()
    val edgeCount = pairs.count()
    if (edgeCount <= maxDriverEdges) {
      val parent = new java.util.HashMap[Long, Long](
        math.max(16, (edgeCount * 2).toInt))
      def find(x0: Long): Long = {
        var r = x0
        while (parent.get(r) != r) r = parent.get(r)
        var c = x0
        while (c != r) { val n = parent.get(c); parent.put(c, r); c = n }
        r
      }
      pairs.collect().foreach { row =>
        val a = row.getLong(0); val b = row.getLong(1)
        if (!parent.containsKey(a)) parent.put(a, a)
        if (!parent.containsKey(b)) parent.put(b, b)
        val ra = find(a); val rb = find(b)
        if (ra < rb) parent.put(rb, ra)
        else if (rb < ra) parent.put(ra, rb)
      }
      import scala.jdk.CollectionConverters._
      import spark.implicits._
      val labelRows = parent.keySet().asScala.toSeq.sorted
        .map(k => (k, find(k)))
      pairs.unpersist()
      // a LocalRelation with known (small) stats: joins against it
      // plan as broadcast without a hint, and callers that checkpoint
      // or filter it first don't trip the unused-hint warning
      return (labelRows.toDF("doc_id", "label"),
        CcStatus("driver-union-find", converged = true, iterations = 0,
          edges = edgeCount, driverEdgeBudget = maxDriverEdges))
    }
    // undirected edges, both directions
    val edges = pairs.union(pairs.select(col("d2").as("d1"), col("d1").as("d2")))
      .toDF("src", "dst").persist()
    // Σlabel over the current table; null on an empty endpoint set.
    // This action is also what materializes each lazy checkpoint.
    def labelSum(df: DataFrame): Long = {
      val r = df.agg(sum(col("label"))).first()
      if (r.isNullAt(0)) 0L else r.getLong(0)
    }
    var labels = edges.select(col("src").as("doc_id")).distinct()
      .select(col("doc_id"), col("doc_id").as("label"))
      .localCheckpoint(false)
    var prevSum = labelSum(labels)
    var converged = false
    var i = 0
    while (!converged && i < maxIter) {
      // min-label propagation over the REAL edges unioned with the
      // label pairs (doc↔label, both directions): v's new label is
      // min over {label(n) : n neighbor} ∪ {label(label(v))} — the
      // neighbor-min AND the pointer jump in ONE join + ONE aggregate
      // (the old form spent three joins per round on the same math).
      // label(v) itself never needs to participate: labels are min-ids
      // so label(label(v)) ≤ label(v) — monotone by construction.
      val lpairs = labels.select(col("doc_id").as("src"), col("label").as("dst"))
      val lrev = labels.select(col("label").as("src"), col("doc_id").as("dst"))
      val next = edges.union(lpairs).union(lrev)
        .join(labels.withColumnRenamed("doc_id", "src"), Seq("src"))
        .groupBy(col("dst").as("doc_id"))
        .agg(min(col("label")).as("label"))
        .localCheckpoint(false)
      val nextSum = labelSum(next)
      converged = nextSum == prevSum
      prevSum = nextSum
      labels = next
      i += 1
    }
    // labels is checkpointed, so the edge caches can be released now
    pairs.unpersist(); edges.unpersist()
    (labels, CcStatus("distributed-propagation", converged, i,
      edges = edgeCount, driverEdgeBudget = maxDriverEdges))
  }

  /** Oracle for duplicateGroups: the same LSH pair graph, resolved by a
    * recursive CTE that enumerates reachable labels and takes the min
    * per node — exact connected components, feasible at verification
    * scale (the state space is Σ|component|² label pairs). */
  def duplicateGroupsOracle: String =
    s"""WITH RECURSIVE
       |$minhashEstCtes,
       |edges AS (SELECT d1 AS src, d2 AS dst FROM est WHERE est_jaccard >= $PairThreshold
       |          UNION ALL
       |          SELECT d2, d1 FROM est WHERE est_jaccard >= $PairThreshold),
       |reach AS (SELECT doc_id, doc_id AS label FROM documents
       |          UNION
       |          SELECT e.dst AS doc_id, r.label
       |          FROM reach r JOIN edges e ON r.doc_id = e.src)
       |SELECT doc_id, CAST(min(label) AS BIGINT) AS group_id
       |FROM reach GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // ── incremental connected components: fold the delta batch into ──
  // ── standing group labels without re-resolving the corpus ──

  /** Standing dedup state for the incremental-groups path: the full
    * LSH pair graph at [[PairThreshold]] and the component labels of
    * its BASE-BASE subgraph (both endpoints outside today's delta
    * slice, doc_id % [[DeltaMod]] ≠ DeltaMod−1). Memoized per
    * (session, corpus): in production both live as maintained tables —
    * the banded-signature/pair store appended per ingest batch, and
    * the standing label table this operator exists to maintain —
    * LOADED, not rebuilt, on every gate tick; the single-slot memo is
    * the fixture analog (no cross-run storage exists here). First call
    * is index bootstrap; every later call pays only the delta fold.
    *
    * Deriving both sides from ONE pair set is what makes the
    * incremental result PROVABLY identical to the from-scratch
    * resolution: union-find is order-independent, so contracting the
    * base-base subgraph first (standing min-id labels — each label is
    * the min doc_id of its base component) and then unioning the
    * delta-touching edges yields exactly CC(all pairs), and the merged
    * component's canonical min-id is the min over {standing labels ∪
    * delta ids} because every base member is ≥ its standing label. */
  private def isDeltaId(c: Column): Column = c % DeltaMod === (DeltaMod - 1)

  private[graft] def standingDedupState(
      spark: SparkSession, dir: String): (DataFrame, DataFrame) =
    standingStateMemo.get(spark, dir)

  private[graft] val standingStateMemo = graft.SessionDirMemo[(DataFrame, DataFrame)](
      "dedup_standing_labels_build") { (spark, dir) =>
      val pairs = estPairsShared(spark, dir)
        .filter(col("est_jaccard") >= PairThreshold)
        .select(col("d1"), col("d2")).localCheckpoint()
      val basePairs =
        pairs.filter(!isDeltaId(col("d1")) && !isDeltaId(col("d2")))
      val (labels, ccStatus) = componentLabels(spark, basePairs)
      if (!ccStatus.converged) throw new IllegalStateException(
        s"standing-label bootstrap hit maxIter=${ccStatus.iterations} " +
          "before fixpoint; labels would be non-canonical")
      // labels is already materialized by componentLabels (a driver
      // LocalRelation or a checkpointed propagation fixpoint) — safe
      // to hold across calls without re-computation
      (pairs, labels)
    }

  /** ONE maintenance fold: union a batch of `deltaEdges` into a
    * `standing` endpoint-only label table and return the UPDATED
    * endpoint-only table — the next tick's standing state, so daily
    * folds COMPOSE (ExtSpec proves K sequential folds equal the
    * one-shot resolution; union-find order-independence is exactly
    * this associativity). Steps, each bounded by the batch:
    * semi-select the touched standing slice, contract edge endpoints
    * through it, resolve the contracted graph ([[componentLabels]] —
    * O(|batch edges|) state), then relabel: old rows remap through
    * the broadcast fold table, new endpoints append. Nodes absent
    * from the table are implicit singletons throughout. */
  private[graft] def foldDeltaEdges(spark: SparkSession,
                                    deltaEdges: DataFrame,
                                    standing: DataFrame): DataFrame = {
    val ends = deltaEdges.select(col("d1").as("doc_id"))
      .union(deltaEdges.select(col("d2").as("doc_id"))).distinct()
    // touched standing groups only: semi join against the (small)
    // batch endpoint set, then the contraction joins broadcast the
    // touched slice — never the full standing table
    val touched = standing.join(broadcast(ends), Seq("doc_id"), "semi")
      .localCheckpoint()
    val contracted = deltaEdges
      .join(broadcast(touched.toDF("d1", "l1")), Seq("d1"), "left")
      .join(broadcast(touched.toDF("d2", "l2")), Seq("d2"), "left")
      .select(coalesce(col("l1"), col("d1")).as("d1"),
        coalesce(col("l2"), col("d2")).as("d2"))
    val (fold, foldStatus) = componentLabels(spark, contracted)
    if (!foldStatus.converged) throw new IllegalStateException(
      s"delta fold hit maxIter=${foldStatus.iterations} before fixpoint")
    // relabel standing rows whose (group-label) node moved; fold
    // nodes the table has never seen append as new endpoint rows.
    // The remap join broadcasts the |fold|-sized table; the anti join
    // against standing is one keyed hash join (standing is the big
    // side only at lake scale, where it is a maintained keyed table).
    val updatedOld = standing
      .join(broadcast(fold.toDF("label", "l1")), Seq("label"), "left")
      .select(col("doc_id"), coalesce(col("l1"), col("label")).as("label"))
    val newRows = fold
      .join(standing.select(col("doc_id")), Seq("doc_id"), "left_anti")
    updatedOld.unionByName(newRows)
  }

  /** Incremental duplicate-group maintenance — the daily-gate form of
    * [[duplicateGroups]]: fold today's delta batch (doc_id ≡
    * DeltaMod−1, the same slice [[incrementalDedup]] screens) into the
    * STANDING base-corpus group labels instead of re-resolving
    * connected components over the whole lake. Steps, each bounded by
    * the delta:
    *   1. delta-touching edges, filtered from the standing pair store
    *      (production: band only the delta against the standing
    *      signature table — new edges, never a corpus re-pair);
    *   2. contract base endpoints through their standing labels — the
    *      semi join keeps only TOUCHED standing groups, so what gets
    *      broadcast is |touched groups|, never the standing table;
    *   3. resolve the contracted graph — delta docs + touched group
    *      reps, O(|delta edges|) state — via [[componentLabels]];
    *   4. re-canonicalize ONLY touched components: a broadcast remap
    *      of moved group labels joined onto the standing table;
    *      untouched components are never read by any iterative step.
    * Output per doc: (doc_id, group_id, is_delta, moved) — `moved`
    * marks exactly the re-canonicalized rows, the audit column that
    * shows how little of the corpus a daily fold touches. Labels are
    * identical to from-scratch [[duplicateGroups]] (provably — see
    * [[standingDedupState]]); the oracle recomputes both resolutions
    * independently and checks the `moved` delta too. At 100 TB the
    * only corpus-sized work left on this path is the final label
    * assembly — hash joins against broadcast remaps — while the 29 s
    * corpus-wide CC re-resolution the batch gate pays (SCALE.md 100×
    * sweep) drops out entirely. */
  def dedupGroupsDelta(spark: SparkSession, dir: String): DataFrame = {
    val (pairs, _) = standingDedupState(spark, dir)
    groupsDeltaReport(spark, dir,
      pairs.filter(isDeltaId(col("d1")) || isDeltaId(col("d2"))))
  }

  /** Fold a caller-supplied delta edge SET into the standing labels
    * and assemble the per-doc report — shared by the batch form
    * (edges filtered from the standing pair store) and the streaming
    * twin ([[graft.streaming.DocStream.streamingGroupsMonitor]], edges
    * derived on-ingest), so the two forms cannot drift and register
    * the SAME oracle. Edge-set equality is the only contract: the
    * fold is set-algebraic (union-find), so duplicate edges and
    * orientation are immaterial. */
  private[graft] def groupsDeltaReport(spark: SparkSession, dir: String,
                                       deltaEdges: DataFrame): DataFrame = {
    val (_, standing) = standingDedupState(spark, dir)
    val updated = foldDeltaEdges(spark, deltaEdges, standing)
    // before/after labels meet in ONE endpoint-sized frame (updated ⊇
    // standing keys), then a single corpus-sized left join assembles
    // the report — group_id from the maintained table, `moved` =
    // this tick changed the doc's label vs its standing state
    val lbl = updated
      .join(standing.toDF("doc_id", "old"), Seq("doc_id"), "left")
      .localCheckpoint()
    Tables.documents(spark, dir).select(col("doc_id"))
      .join(lbl, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("label"), col("doc_id")).as("group_id"),
        isDeltaId(col("doc_id")).as("is_delta"),
        (coalesce(col("label"), col("doc_id")) =!=
          coalesce(col("old"), col("doc_id"))).as("moved"))
      .orderBy("doc_id")
  }

  /** Oracle: the full-graph resolution (groups) AND the base-base-only
    * resolution (standing) recomputed independently; group_id must
    * equal the former, `moved` the disagreement between the two — the
    * incremental path is hash-checked against both the final labels
    * and its own touched-set claim. */
  def dedupGroupsDeltaOracle: String =
    s"""WITH RECURSIVE
       |$minhashEstCtes,
       |edges AS (SELECT d1 AS src, d2 AS dst FROM est WHERE est_jaccard >= $PairThreshold
       |          UNION ALL
       |          SELECT d2, d1 FROM est WHERE est_jaccard >= $PairThreshold),
       |reach AS (SELECT doc_id, doc_id AS label FROM documents
       |          UNION
       |          SELECT e.dst AS doc_id, r.label
       |          FROM reach r JOIN edges e ON r.doc_id = e.src),
       |groups AS (SELECT doc_id, CAST(min(label) AS BIGINT) AS group_id
       |           FROM reach GROUP BY doc_id),
       |bedges AS (SELECT src, dst FROM edges
       |           WHERE src % $DeltaMod <> ${DeltaMod - 1}
       |             AND dst % $DeltaMod <> ${DeltaMod - 1}),
       |breach AS (SELECT doc_id, doc_id AS label FROM documents
       |           WHERE doc_id % $DeltaMod <> ${DeltaMod - 1}
       |           UNION
       |           SELECT e.dst AS doc_id, r.label
       |           FROM breach r JOIN bedges e ON r.doc_id = e.src),
       |bgroups AS (SELECT doc_id, CAST(min(label) AS BIGINT) AS standing
       |            FROM breach GROUP BY doc_id)
       |SELECT g.doc_id, g.group_id,
       |  (g.doc_id % $DeltaMod = ${DeltaMod - 1}) AS is_delta,
       |  (g.group_id <> coalesce(b.standing, g.doc_id)) AS moved
       |FROM groups g LEFT JOIN bgroups b USING (doc_id)
       |ORDER BY g.doc_id""".stripMargin

  /** Duplicate-group size histogram — the dedup report's headline
    * numbers: how many singletons, pairs, triples... survive
    * resolution. One extra two-level aggregate over
    * [[duplicateGroups]]' output (group → size, size → count). */
  def duplicateGroupSizes(spark: SparkSession, dir: String): DataFrame =
    duplicateGroups(spark, dir)
      .groupBy("group_id").agg(count(lit(1)).as("group_size"))
      .groupBy("group_size").agg(count(lit(1)).as("n_groups"))
      .orderBy("group_size")

  def duplicateGroupSizesOracle: String =
    s"""WITH RECURSIVE
       |$minhashEstCtes,
       |edges AS (SELECT d1 AS src, d2 AS dst FROM est WHERE est_jaccard >= $PairThreshold
       |          UNION ALL
       |          SELECT d2, d1 FROM est WHERE est_jaccard >= $PairThreshold),
       |reach AS (SELECT doc_id, doc_id AS label FROM documents
       |          UNION
       |          SELECT e.dst AS doc_id, r.label
       |          FROM reach r JOIN edges e ON r.doc_id = e.src),
       |groups AS (SELECT doc_id, CAST(min(label) AS BIGINT) AS group_id
       |           FROM reach GROUP BY doc_id),
       |sizes AS (SELECT group_id, COUNT(*) AS group_size
       |          FROM groups GROUP BY group_id)
       |SELECT group_size, COUNT(*) AS n_groups
       |FROM sizes GROUP BY group_size ORDER BY group_size""".stripMargin

  /** Train/val/test LEAKAGE audit — the check every training pipeline
    * must run before shipping a split: near-duplicate groups
    * ([[duplicateGroups]]) whose members land in MORE THAN ONE split of
    * the deterministic hash split ([[Sampling.datasetSplit]]). Any such
    * group leaks eval data into training. Composition is two hash joins
    * on doc_id plus one aggregate; the splits column is a sorted
    * distinct list so the output is deterministic at any parallelism.
    * At 100 TB both inputs derive from their own scale-safe pipelines
    * and the audit itself shuffles only (group_id, split) pairs. */
  def splitLeakageAudit(spark: SparkSession, dir: String): DataFrame =
    splitLeakageAuditFromGroups(spark, dir, duplicateGroups(spark, dir))

  /** The audit over a caller-supplied groups frame — so a composed
    * report ([[Pipeline.trainingReadiness]]) that also needs the
    * groups for other checks resolves connected components ONCE, not
    * once per check (duplicateGroups is eager: the pair graph and the
    * union-find run at call time). */
  private[graft] def splitLeakageAuditFromGroups(
      spark: SparkSession, dir: String, groups: DataFrame): DataFrame = {
    val splits = Sampling.datasetSplit(spark, dir).select("doc_id", "split")
    groups.join(splits, Seq("doc_id"))
      .groupBy("group_id")
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("split")).as("n_splits"),
        array_join(array_sort(collect_set(col("split"))), ",").as("splits"))
      .filter(col("n_splits") > 1)
      .orderBy("group_id")
  }

  def splitLeakageAuditOracle: String =
    s"""WITH RECURSIVE
       |$minhashEstCtes,
       |edges AS (SELECT d1 AS src, d2 AS dst FROM est WHERE est_jaccard >= $PairThreshold
       |          UNION ALL
       |          SELECT d2, d1 FROM est WHERE est_jaccard >= $PairThreshold),
       |reach AS (SELECT doc_id, doc_id AS label FROM documents
       |          UNION
       |          SELECT e.dst AS doc_id, r.label
       |          FROM reach r JOIN edges e ON r.doc_id = e.src),
       |groups AS (SELECT doc_id, CAST(min(label) AS BIGINT) AS group_id
       |           FROM reach GROUP BY doc_id),
       |splits AS (SELECT doc_id,
       |             ${Sampling.splitCaseSql("doc_id")} AS split
       |           FROM documents)
       |SELECT g.group_id, COUNT(*) AS n_docs,
       |  COUNT(DISTINCT s.split) AS n_splits,
       |  array_to_string(list_sort(list(DISTINCT s.split)), ',') AS splits
       |FROM groups g JOIN splits s USING (doc_id)
       |GROUP BY g.group_id
       |HAVING COUNT(DISTINCT s.split) > 1
       |ORDER BY g.group_id""".stripMargin

  /** Group-safe split — the FIX [[splitLeakageAudit]] gates toward:
    * re-assign every document to the split of its duplicate-group
    * REPRESENTATIVE (the group's min doc_id), so a near-duplicate
    * group can never straddle train/eval. The assignment stays a pure
    * function of (salt, group_id): singletons (group_id = doc_id, the
    * overwhelming majority) keep their naive split bit-for-bit, and
    * only true group members can move — each reported with its naive
    * assignment and a `moved` flag so the re-split's churn is
    * auditable. Post-condition (pinned in ExtSpec): re-running the
    * leakage audit against THIS assignment finds zero groups, and the
    * split is still ~80/10/10 because group representatives hash
    * uniformly. Cost over the audit: none — the same two hash joins,
    * with the split CASE re-evaluated on group_id instead of doc_id
    * (a projection, not a shuffle). */
  def groupSafeSplit(spark: SparkSession, dir: String): DataFrame = {
    val groups = duplicateGroups(spark, dir)
    val naive = Sampling.datasetSplit(spark, dir)
      .select(col("doc_id"), col("split").as("naive_split"))
    groups.join(naive, Seq("doc_id"))
      .withColumn("split",
        Sampling.splitCase(Sampling.sampleHash(col("group_id"))))
      .withColumn("moved", col("split") =!= col("naive_split"))
      .select("doc_id", "group_id", "split", "naive_split", "moved")
      .orderBy("doc_id")
  }

  def groupSafeSplitOracle: String =
    s"""WITH RECURSIVE
       |$minhashEstCtes,
       |edges AS (SELECT d1 AS src, d2 AS dst FROM est WHERE est_jaccard >= $PairThreshold
       |          UNION ALL
       |          SELECT d2, d1 FROM est WHERE est_jaccard >= $PairThreshold),
       |reach AS (SELECT doc_id, doc_id AS label FROM documents
       |          UNION
       |          SELECT e.dst AS doc_id, r.label
       |          FROM reach r JOIN edges e ON r.doc_id = e.src),
       |groups AS (SELECT doc_id, CAST(min(label) AS BIGINT) AS group_id
       |           FROM reach GROUP BY doc_id)
       |SELECT doc_id, group_id,
       |  ${Sampling.splitCaseSql("group_id")} AS split,
       |  ${Sampling.splitCaseSql("doc_id")} AS naive_split,
       |  ${Sampling.splitCaseSql("group_id")} <>
       |    ${Sampling.splitCaseSql("doc_id")} AS moved
       |FROM groups ORDER BY doc_id""".stripMargin

  // ── embedding-cosine near-dup ──

  /** Brute-force cosine near-dup pairs above a threshold — the exact
    * baseline. At scale this becomes: normalize once, LSH-bucket
    * (Similarity.lshBucket), pair only within buckets. */
  def embeddingNearDup(spark: SparkSession, dir: String,
                       threshold: Double = 0.4): DataFrame = {
    val e = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .select(col("vec_id"), col("v"), Similarity.norm(col("v")).as("nrm"))
    val a = e.select(col("vec_id").as("d1"), col("v").as("v1"), col("nrm").as("n1"))
    val b = e.select(col("vec_id").as("d2"), col("v").as("v2"), col("nrm").as("n2"))
    a.crossJoin(b).filter(col("d1") < col("d2"))
      .select(col("d1"), col("d2"),
        Similarity.cos6(Similarity.dot(col("v1"), col("v2")), col("n1"), col("n2")).as("cos_sim"))
      .filter(col("cos_sim") >= threshold)
      .orderBy("d1", "d2")
  }

  /** LSH-bucketed cosine near-dup pairs — the scale path and the
    * headline query: vectors are bucketed by deterministic
    * random-hyperplane signs (one projection per row), candidates pair
    * only within a bucket, and the exact cosine verifies each
    * candidate. No cross product ever materializes; recall is bounded
    * by bucket collisions (near-identical vectors collide with high
    * probability), which is the standard ANN-dedup trade. */
  def embeddingNearDupLsh(spark: SparkSession, dir: String,
                          threshold: Double = 0.4,
                          maxBucket: Int = MaxBucket): DataFrame = {
    val e = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .select(col("vec_id"), col("v"), Similarity.norm(col("v")).as("nrm"),
        Similarity.lshBucket(col("v")).as("bucket"))
    cappedBucketPairs(e, Seq("bucket"), "vec_id", Seq("v", "nrm"), maxBucket)
      .select(col("d1"), col("d2"),
        Similarity.cos6(Similarity.dot(col("v1"), col("v2")), col("nrm1"), col("nrm2")).as("cos_sim"))
      .filter(col("cos_sim") >= threshold)
      .orderBy("d1", "d2")
  }

  def embeddingNearDupLshOracle: String = embeddingNearDupLshOracle(0.4)

  def embeddingNearDupLshOracle(threshold: Double): String =
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |proj AS (SELECT vec_id, p,
       |    list_sum(list_transform(range(len(v)), j ->
       |      v[j+1] * (CASE WHEN (j * 2654435761 + p * 40503) % 97 % 2 = 0
       |                     THEN 1.0 ELSE -1.0 END))) AS s
       |  FROM e CROSS JOIN range(${Similarity.NumPlanes}) r(p)),
       |bucket AS (SELECT vec_id,
       |    CAST(SUM(CASE WHEN s > 0 THEN (1::BIGINT << p) ELSE 0 END) AS BIGINT) AS bucket
       |  FROM proj GROUP BY vec_id),
       |n AS (SELECT e.vec_id, e.v, sqrt(list_dot_product(e.v, e.v)) AS nrm, b.bucket
       |  FROM e JOIN bucket b ON e.vec_id = b.vec_id),
       |sized AS (SELECT vec_id, v, nrm, bucket,
       |    COUNT(*) OVER (PARTITION BY bucket) AS bn FROM n),
       |p2 AS (SELECT a.vec_id AS d1, b.vec_id AS d2,
       |    round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 6) AS cos_sim
       |  FROM sized a JOIN sized b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
       |  WHERE a.bn <= $MaxBucket
       |  UNION
       |  SELECT r.d1, m.vec_id AS d2,
       |    round(list_dot_product(r.v1, m.v) / (r.n1 * m.nrm), 6) AS cos_sim
       |  FROM (SELECT bucket, MIN(vec_id) AS d1, arg_min(v, vec_id) AS v1,
       |               arg_min(nrm, vec_id) AS n1
       |        FROM sized WHERE bn > $MaxBucket GROUP BY bucket) r
       |  JOIN sized m ON m.bucket = r.bucket AND m.vec_id > r.d1)
       |SELECT d1, d2, cos_sim FROM p2 WHERE cos_sim >= $threshold
       |ORDER BY d1, d2""".stripMargin

  def embeddingNearDupOracle: String = embeddingNearDupOracle(0.4)

  def embeddingNearDupOracle(threshold: Double): String =
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
       |p AS (SELECT a.vec_id AS d1, b.vec_id AS d2,
       |  round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 6) AS cos_sim
       |  FROM n a, n b WHERE a.vec_id < b.vec_id)
       |SELECT d1, d2, cos_sim FROM p WHERE cos_sim >= $threshold
       |ORDER BY d1, d2""".stripMargin

  // ── MinHash accuracy audit: estimate vs exact Jaccard ──

  /** The calibration query behind every LSH threshold choice: for each
    * candidate pair in the capped id range, the MinHash estimate
    * (equal signature components / [[NumPerms]], via the codegen'd
    * array-equality kernel) side by side with the EXACT distinct-token
    * Jaccard it estimates, plus the absolute error. The estimator's
    * stderr is ~1/√perms ≈ 0.25 at 16 perms — this query is how you
    * SEE that before trusting a band threshold. Pairs come from a
    * shared-token join (id-capped like [[ngramJaccard]]; at scale this
    * feeds from the LSH candidate set instead), signatures from the
    * same partial-agg pipeline the dedup queries use. */
  def minhashErrorAudit(spark: SparkSession, dir: String,
                        maxDocId: Long = 60): DataFrame = {
    val docs = Tables.documents(spark, dir).filter(col("doc_id") < maxDocId)
    val sets = docs.select(col("doc_id"), array_distinct(toks(col("text"))).as("ts"))
      .select(col("doc_id"), col("ts"), size(col("ts")).as("n"))
    val ex = sets.select(col("doc_id"), col("n"), explode(col("ts")).as("w"))
    val a = ex.select(col("doc_id").as("d1"), col("n").as("n1"), col("w"))
    val b = ex.select(col("doc_id").as("d2"), col("n").as("n2"), col("w"))
    val exact = a.join(b, Seq("w")).filter(col("d1") < col("d2"))
      .groupBy("d1", "d2", "n1", "n2").agg(count(lit(1)).as("inter"))
      .select(col("d1"), col("d2"),
        (col("inter").cast("double") /
          (col("n1") + col("n2") - col("inter"))).as("ej"))
    val sigs = signatureArray(docs)
    val s1 = sigs.select(col("doc_id").as("d1"), col("sig").as("sig1"))
    val s2 = sigs.select(col("doc_id").as("d2"), col("sig").as("sig2"))
    exact.join(s1, Seq("d1")).join(s2, Seq("d2"))
      .select(col("d1"), col("d2"),
        round(graft.functions.ArrayEqCount(col("sig1"), col("sig2"))
          .cast("double") / NumPerms, 6).as("est_jaccard"),
        round(col("ej"), 6).as("exact_jaccard"))
      .withColumn("abs_err",
        round(abs(col("est_jaccard") - col("exact_jaccard")), 6))
      .orderBy("d1", "d2")
  }

  def minhashErrorAuditOracle: String = minhashErrorAuditOracle(60)

  def minhashErrorAuditOracle(maxDocId: Long): String =
    s"""WITH d AS (SELECT doc_id, $tokensSql AS ws FROM documents
       |           WHERE doc_id < $maxDocId),
       |ts AS (SELECT doc_id, list_distinct(ws) AS ts FROM d),
       |ex AS (SELECT doc_id, len(ts) AS n, unnest(ts) AS w FROM ts),
       |exact AS (SELECT a.doc_id AS d1, b.doc_id AS d2,
       |    CAST(COUNT(*) AS DOUBLE) / (a.n + b.n - COUNT(*)) AS ej
       |  FROM ex a JOIN ex b ON a.w = b.w AND a.doc_id < b.doc_id
       |  GROUP BY a.doc_id, b.doc_id, a.n, b.n),
       |th AS (SELECT doc_id, ${tokHashSql("w")} AS h
       |       FROM (SELECT doc_id, unnest(ts) AS w FROM ts) u),
       |sig AS (SELECT doc_id, k,
       |       MIN(((4099*k + 8191) * h + (9973*k + 104729)) % $MinhashPrime) AS mh
       |       FROM th CROSS JOIN range($NumPerms) r(k)
       |       GROUP BY doc_id, k),
       |agree AS (SELECT s1.doc_id AS d1, s2.doc_id AS d2,
       |    SUM(CASE WHEN s1.mh = s2.mh THEN 1 ELSE 0 END) AS eq
       |  FROM sig s1 JOIN sig s2 ON s1.k = s2.k AND s1.doc_id < s2.doc_id
       |  GROUP BY 1, 2)
       |SELECT e.d1, e.d2,
       |  round(CAST(a.eq AS DOUBLE) / $NumPerms, 6) AS est_jaccard,
       |  round(e.ej, 6) AS exact_jaccard,
       |  round(abs(round(CAST(a.eq AS DOUBLE) / $NumPerms, 6) -
       |            round(e.ej, 6)), 6) AS abs_err
       |FROM exact e JOIN agree a ON e.d1 = a.d1 AND e.d2 = a.d2
       |ORDER BY e.d1, e.d2""".stripMargin

  // ── content-defined chunking: rsync/LBFS-style shift-resistant dedup ──

  /** 31-base polynomial coefficients for the 8-char boundary window —
    * recomputed per position from fixed offsets (8 codegen'd
    * ascii+multiply terms, no sequential state), so the boundary test
    * is a pure projection any engine can mirror. */
  private val cdcPow: IndexedSeq[Long] = (0 until 8).scanLeft(1L)((a, _) => a * 31L).init.toIndexedSeq

  /** Content-defined chunking + chunk-level dedup: split each document
    * at positions where an 8-char window hash ≡ 0 (mod 64) — so the
    * SAME boundaries survive insertions/deletions that shift byte
    * offsets (the property fixed-size frames lack, and the reason
    * rsync/LBFS chunk this way), then measure cross-document chunk
    * reuse per source. The rolling hash is computed WITHOUT carrying
    * document text through the position explode (a row per position ×
    * the full text per row is an O(n²)-bytes generate — measured 5×
    * slower): each char explodes to a (doc_id, pos, code) row only,
    * and the 8-char window is 8 `lag`s over the per-doc position
    * window — one parallel-per-doc sort of O(n) narrow rows, then a
    * pure projection. Chunk extraction rejoins the (chunk-count-
    * sized) cut list to the docs table. Expected chunk length = the
    * 64 modulus. */
  def cdcChunks(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .filter(length(col("text")) >= 8)
      .select(col("doc_id"), col("source"), col("text"),
        length(col("text")).as("n"))
    val wDoc = Window.partitionBy("doc_id").orderBy("i")
    val chars = docs
      .select(col("doc_id"), posexplode(split(col("text"), ""))
        .as(Seq("pos", "ch")))
      .select(col("doc_id"), (col("pos") + 1).as("i"),
        ascii(col("ch")).cast("long").as("code"))
    val h = (0 until 8).map { j =>
      // coefficient 31^j for the char at i - (7-j)
      val c = if (j == 7) col("code") else lag(col("code"), 7 - j).over(wDoc)
      c * cdcPow(j)
    }.reduce(_ + _)
    val cuts = chars
      .withColumn("h", h)
      .withColumn("n", max(col("i")).over(Window.partitionBy("doc_id")))
      .filter(col("i") >= 8 && col("h") % 64 === 0 && col("i") < col("n"))
      .select(col("doc_id"), col("i").cast("int").as("i"))
    val wCut = Window.partitionBy("doc_id").orderBy("i")
    val inner = cuts
      .withColumn("lo", coalesce(lag(col("i"), 1).over(wCut), lit(0)))
      .select(col("doc_id"), col("lo"), col("i").as("hi"))
    val tail = docs
      .join(cuts.groupBy("doc_id").agg(max(col("i")).as("mx")),
        Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("mx"), lit(0)).as("lo"),
        col("n").cast("int").as("hi"))
    val chunks = inner.unionByName(tail)
      .join(docs.select(col("doc_id"), col("source"), col("text")),
        Seq("doc_id"))
      .select(col("doc_id"), col("source"), (col("hi") - col("lo")).as("len"),
        md5(expr("substring(text, lo + 1, hi - lo)")).as("chunk_md5"))
    chunks.groupBy("source")
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_chunks"),
        countDistinct(col("chunk_md5")).as("n_distinct_chunks"),
        sum(col("len")).as("total_len"))
      .select(col("source"), col("n_docs"), col("n_chunks"),
        col("n_distinct_chunks"),
        round(col("total_len").cast("double") /
          col("n_chunks").cast("double"), 6).as("avg_chunk_len"),
        round((col("n_chunks") - col("n_distinct_chunks")).cast("double") /
          col("n_chunks").cast("double"), 6).as("dup_chunk_ratio"))
      .orderBy("source")
  }

  def cdcChunksOracle: String = {
    val hashSql = (0 until 8).map { j =>
      // CAST: DuckDB ascii() is INT32 and the 31^j coefficients overflow it
      s"CAST(ascii(substring(text, CAST(i - ${7 - j} AS INTEGER), 1)) AS BIGINT) * ${cdcPow(j)}"
    }.mkString(" + ")
    s"""WITH docs AS (SELECT doc_id, source, text, length(text) AS n
       |  FROM documents WHERE length(text) >= 8),
       |pos AS (SELECT doc_id, text, n, unnest(range(8, n + 1)) AS i
       |  FROM docs),
       |cuts AS (SELECT doc_id, i FROM pos
       |  WHERE ($hashSql) % 64 = 0 AND i < n),
       |inner_segs AS (SELECT doc_id,
       |    COALESCE(lag(i) OVER (PARTITION BY doc_id ORDER BY i), 0) AS lo,
       |    i AS hi FROM cuts),
       |tail_segs AS (SELECT d.doc_id, COALESCE(MAX(c.i), 0) AS lo,
       |    MIN(d.n) AS hi
       |  FROM docs d LEFT JOIN cuts c ON d.doc_id = c.doc_id
       |  GROUP BY d.doc_id),
       |segs AS (SELECT * FROM inner_segs UNION ALL SELECT * FROM tail_segs),
       |chunks AS (SELECT s.doc_id, d.source, s.hi - s.lo AS len,
       |    md5(substring(d.text, CAST(s.lo + 1 AS INTEGER),
       |      CAST(s.hi - s.lo AS INTEGER))) AS chunk_md5
       |  FROM segs s JOIN docs d ON s.doc_id = d.doc_id)
       |SELECT source, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
       |  CAST(COUNT(*) AS BIGINT) AS n_chunks,
       |  CAST(COUNT(DISTINCT chunk_md5) AS BIGINT) AS n_distinct_chunks,
       |  round(CAST(SUM(len) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6)
       |    AS avg_chunk_len,
       |  round(CAST(COUNT(*) - COUNT(DISTINCT chunk_md5) AS DOUBLE) /
       |    CAST(COUNT(*) AS DOUBLE), 6) AS dup_chunk_ratio
       |FROM chunks GROUP BY source ORDER BY source""".stripMargin
  }

  // ── duplicate token inflation: dedup impact accounting ──

  /** Per-source token inflation from exact duplicates — the accounting
    * table behind "how much of this source's token budget is copies":
    * total tokens vs tokens over exact-dedup keepers (md5(text),
    * min-doc_id keeper — the [[exactDedup]] rule), and their ratio.
    * A source whose docs duplicate ANOTHER source's keepers honestly
    * reports keeper_tokens < total_tokens (the keeper belongs to
    * whichever source holds the minimum doc_id, as in the CC groups).
    *
    * Scale shape: one projection, one md5-partitioned window (the
    * dedup_exact shuffle), one |sources|-row aggregate with map-side
    * partials — no joins, nothing pairwise. Counts are exact longs;
    * the one inflation division rounds to 6 (null when a source keeps
    * no tokens at all). */
  def dedupTokenInflation(spark: SparkSession, dir: String): DataFrame = {
    val keeper = min(col("doc_id"))
      .over(Window.partitionBy(md5(col("text"))))
    Tables.documents(spark, dir)
      .select(col("source"), col("doc_id"),
        size(TextAnalysis.tokens(col("text"))).cast("long").as("nt"),
        (col("doc_id") === keeper).as("is_keeper"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        count(when(col("is_keeper"), 1)).as("n_keeper_docs"),
        sum(col("nt")).as("total_tokens"),
        coalesce(sum(when(col("is_keeper"), col("nt"))), lit(0L))
          .as("keeper_tokens"))
      .select(col("source"), col("n_docs"), col("n_keeper_docs"),
        col("total_tokens"), col("keeper_tokens"),
        when(col("keeper_tokens") > 0,
          round(col("total_tokens").cast("double") / col("keeper_tokens"), 6))
          .as("inflation"))
      .orderBy("source")
  }

  def dedupTokenInflationOracle: String =
    s"""WITH d AS (SELECT source, doc_id,
       |    CAST(len(${TextAnalysis.tokensSqlShared}) AS BIGINT) AS nt,
       |    doc_id = MIN(doc_id) OVER (PARTITION BY md5(text)) AS is_keeper
       |  FROM documents)
       |SELECT source, COUNT(*) AS n_docs,
       |  CAST(COUNT(CASE WHEN is_keeper THEN 1 END) AS BIGINT)
       |    AS n_keeper_docs,
       |  CAST(SUM(nt) AS BIGINT) AS total_tokens,
       |  CAST(COALESCE(SUM(CASE WHEN is_keeper THEN nt END), 0) AS BIGINT)
       |    AS keeper_tokens,
       |  CASE WHEN COALESCE(SUM(CASE WHEN is_keeper THEN nt END), 0) > 0
       |    THEN round(CAST(SUM(nt) AS DOUBLE) /
       |      COALESCE(SUM(CASE WHEN is_keeper THEN nt END), 0), 6) END
       |    AS inflation
       |FROM d GROUP BY source ORDER BY source""".stripMargin
}

