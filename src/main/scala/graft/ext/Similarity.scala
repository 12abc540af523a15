package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Similarity search over embedding columns (ArrayType(FloatType),
  * cast to double for engine-independent arithmetic).
  *
  * Two paths, as a 100 TB pipeline needs:
  *   - brute-force exact top-k: broadcast the (small) query set,
  *     score every vector in one map stage, TakeOrdered per query.
  *     Linear scan — the correctness baseline and still the right
  *     plan when the query set is small and the corpus is scanned
  *     once.
  *   - LSH-bucketed ANN: deterministic random-hyperplane signs give
  *     each vector a bucket id in one projection; candidates are
  *     joined within buckets only. Sub-linear candidate sets; the
  *     bucket id doubles as a partitioning key so the join shuffles
  *     each vector once.
  *
  * Scores are rounded to 6 decimals BEFORE ranking so that sub-ulp
  * summation differences between engines can't flip an ordering.
  */
object Similarity {

  /** Sequential left-to-right dot product — deterministic fold, as a
    * native codegen'd expression (graft.functions.DotProduct): HOF
    * lambdas would run interpreted and dominate pairwise scoring. */
  def dot(a: Column, b: Column): Column =
    graft.functions.DotProduct(a, b)

  def norm(v: Column): Column = sqrt(dot(v, v))

  /** Cosine from a precomputed dot product and the two norms, rounded
    * to 6 — with a zero-norm guard: a zero-norm embedding (a failed
    * encoder output, a real hazard in a 100 TB lake) scores 0.0
    * against everything instead of raising ANSI DIVIDE_BY_ZERO, so it
    * ranks last and falls out of any top-k. No oracle fixture carries
    * a zero norm, so gate results are bit-identical with or without
    * the guard (HostileFixtureSpec exercises the zero arm). */
  private[ext] def cos6(d: Column, n1: Column, n2: Column): Column =
    when(n1 * n2 > 0, round(d / (n1 * n2), 6)).otherwise(lit(0.0))

  private[ext] def embeddingsD(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("label"), col("embedding").cast("array<double>").as("v"))

  /** Spread the corpus scan across the session's full parallelism
    * before an O(n·|Q|) pairwise scoring stage. The embeddings table
    * is small ON DISK (a single parquet split even at sf0.1), so
    * without this every broadcast-join scoring pass — n·|Q| dot
    * products — runs in ONE task regardless of core count. A
    * round-robin exchange of the linear-size corpus is O(n) next to
    * the quadratic work it parallelizes, and is exactly what a real
    * cluster needs too: scoring width should follow the row count,
    * not the compressed byte count the file splitter sees. */
  private[ext] def spread(df: DataFrame): DataFrame =
    df.repartition(df.sparkSession.sparkContext.defaultParallelism)

  /** Exact bounded top-k per query over a (query_id, neighbor_id,
    * cos_sim, …) frame, ranked by (cos_sim desc, neighbor_id asc). A
    * single `Window.partitionBy(query_id)` would funnel the whole
    * scored corpus into numQueries partitions AND sort every scored
    * row just to discard all but k — so this runs as the native
    * [[org.apache.spark.sql.graft.BoundedTopKAgg]] heap aggregate
    * instead: the map-side partial already shrinks every query's
    * candidates to ≤ k rows per task (the shuffle carries
    * tasks × queries × k rows, never the scored scan), memory is
    * O(queries × k) regardless of skew, and nothing sorts more than
    * k+1 elements at a time. Descending cosine is expressed by
    * negating the rounded score in the heap's leading sort field;
    * ties break on neighbor_id exactly like the window form, and the
    * emitted rk matches row_number. All non-key columns ride along in
    * a payload struct, so callers keep their schema. */
  private[ext] def topKPerQuery(scored: DataFrame, k: Int): DataFrame = {
    val payload = scored.columns.filterNot(_ == "query_id")
    val item = struct(
      negate(col("cos_sim")).as("_nc"),
      col("neighbor_id").as("_nid"),
      struct(payload.map(col): _*).as("_p"))
    scored.groupBy("query_id")
      .agg(graft.functions.BoundedTopK(k, item).as("_top"))
      .select(col("query_id"), posexplode(col("_top")).as(Seq("_pos", "_t")))
      .select(col("query_id") +: payload.map(c => col(s"_t._p.$c").as(c)) :+
        (col("_pos") + 1).cast("long").as("rk"): _*)
      .orderBy("query_id", "rk")
  }

  /** Exact top-k neighbors for each query vector (vec_id < numQueries),
    * by cosine. The query set is broadcast — no shuffle of the corpus;
    * ranking uses a per-query window over the scored scan. */
  def bruteForceTopK(spark: SparkSession, dir: String,
                     numQueries: Int = 5, k: Int = 10): DataFrame = {
    val e = embeddingsD(spark, dir)
      .select(col("vec_id"), col("v"), norm(col("v")).as("nrm"))
    val q = e.filter(col("vec_id") < numQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("nrm").as("qn"))
    val scored = e.join(broadcast(q), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        cos6(dot(col("qv"), col("v")), col("qn"), col("nrm")).as("cos_sim"))
    topKPerQuery(scored, k)
  }

  def bruteForceTopKOracle: String =
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
      |scored AS (SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
      |    round(list_dot_product(q.v, e.v) / (q.nrm * e.nrm), 6) AS cos_sim
      |  FROM n q, n e WHERE q.vec_id < 5 AND e.vec_id <> q.vec_id),
      |ranked AS (SELECT query_id, neighbor_id, cos_sim,
      |    row_number() OVER (PARTITION BY query_id
      |                       ORDER BY cos_sim DESC, neighbor_id) AS rk
      |  FROM scored)
      |SELECT query_id, neighbor_id, cos_sim, CAST(rk AS BIGINT) AS rk
      |FROM ranked WHERE rk <= 10 ORDER BY query_id, rk""".stripMargin

  // ── LSH (random-hyperplane) bucketing ──

  val NumPlanes = 8

  /** Deterministic ±1 hyperplane component for plane p, dimension j:
    * parity of a fixed integer mix — engine-independent. */
  private def planeSign(p: Int, j: Column): Column =
    when((j * 2654435761L + lit(p.toLong) * 40503L) % 97 % 2 === 0, 1.0).otherwise(-1.0)

  /** Bucket id: bit p = sign(v · plane_p) — 8 planes → 256 buckets,
    * computed by the native codegen'd kernel
    * ([[graft.functions.LshBucket]]): one fused primitive loop per row
    * instead of 8 interpreted HOF folds. Bit-identical to
    * [[lshBucketHof]] (cross-checked in ExtSpec) and the oracle. */
  def lshBucket(v: Column): Column =
    graft.functions.LshBucket(v, NumPlanes)

  /** The original higher-order-function formulation — kept as the
    * executable spec the kernel is verified against. Plane indices
    * derive from the vector's own length (zip_with against a longer
    * index array would null-pad and zero every bucket). */
  def lshBucketHof(v: Column): Column =
    (0 until NumPlanes).map { p =>
      val proj = aggregate(
        zip_with(v, sequence(lit(0L), (size(v) - 1).cast("long")),
          (x, j) => x * planeSign(p, j)),
        lit(0.0), (acc, x) => acc + x)
      when(proj > 0, lit(1L) * (1L << p)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** Bucket histogram — the data-distribution check for the ANN path. */
  def lshBuckets(spark: SparkSession, dir: String): DataFrame =
    embeddingsD(spark, dir)
      .select(lshBucket(col("v")).as("bucket"))
      .groupBy("bucket").agg(count(lit(1)).as("n_vectors"))
      .orderBy("bucket")

  def lshBucketsOracle: String =
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |proj AS (SELECT vec_id, p,
       |    list_sum(list_transform(range(len(v)), j ->
       |      v[j+1] * (CASE WHEN (j * 2654435761 + p * 40503) % 97 % 2 = 0
       |                     THEN 1.0 ELSE -1.0 END))) AS s
       |  FROM e CROSS JOIN range(${NumPlanes}) r(p)),
       |bucket AS (SELECT vec_id,
       |    CAST(SUM(CASE WHEN s > 0 THEN (1::BIGINT << p) ELSE 0 END) AS BIGINT) AS bucket
       |  FROM proj GROUP BY vec_id)
       |SELECT bucket, COUNT(*) AS n_vectors FROM bucket
       |GROUP BY bucket ORDER BY bucket""".stripMargin

  /** ANN: top-k within the query's own LSH bucket — the sub-linear
    * scale path (misses cross-bucket neighbors by design; recall is
    * tuned by NumPlanes / multi-probe). */
  def annLsh(spark: SparkSession, dir: String,
             numQueries: Int = 5, k: Int = 5): DataFrame = {
    val e = embeddingsD(spark, dir)
      .select(col("vec_id"), col("v"), norm(col("v")).as("nrm"),
        lshBucket(col("v")).as("bucket"))
    val q = e.filter(col("vec_id") < numQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("nrm").as("qn"), col("bucket"))
    val scored = e.join(q, Seq("bucket"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        cos6(dot(col("qv"), col("v")), col("qn"), col("nrm")).as("cos_sim"))
    topKPerQuery(scored, k)
  }

  /** Multi-probe LSH ANN (Lv et al.): the query probes its OWN bucket
    * plus all [[NumPlanes]] buckets at Hamming distance 1 (one
    * hyperplane bit flipped) — near neighbors that landed just across
    * one hyperplane are recovered WITHOUT more hash tables, which is
    * the whole point of multiprobe: recall of several tables at the
    * index cost of one. Each corpus vector still lives in exactly one
    * bucket, and the probe set is distinct by construction, so no
    * candidate pair is scored twice — the join fans the bounded query
    * side out ×(planes+1), never the corpus. */
  def annLshMultiprobe(spark: SparkSession, dir: String,
                       numQueries: Int = 5, k: Int = 5): DataFrame = {
    val e = embeddingsD(spark, dir)
      .select(col("vec_id"), col("v"), norm(col("v")).as("nrm"),
        lshBucket(col("v")).as("bucket"))
    val probes = array(col("bucket") +: (0 until NumPlanes).map(p =>
      col("bucket").bitwiseXOR(lit(1L << p))): _*)
    val q = e.filter(col("vec_id") < numQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("nrm").as("qn"), explode(probes).as("bucket"))
    val scored = e.join(q, Seq("bucket"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        cos6(dot(col("qv"), col("v")), col("qn"), col("nrm")).as("cos_sim"))
    topKPerQuery(scored, k)
  }

  /** The multiprobe case FOR itself, as an oracled report: per query,
    * recall@10 of single-bucket LSH vs Hamming-1 multiprobe against
    * the exact top-10 — the measured statement of what one flipped
    * bit buys (9 probed buckets ≈ several hash tables' recall at one
    * table's memory). Exact arm is panel-bounded (5 queries × one
    * corpus scan); both approximate arms are ≤50-row broadcast
    * frames. */
  def multiprobeRecallAudit(spark: SparkSession, dir: String): DataFrame = {
    val exact = bruteForceTopK(spark, dir, numQueries = 5, k = 10)
      .select("query_id", "neighbor_id")
    val single = annLsh(spark, dir, numQueries = 5, k = 10)
      .select(col("query_id").as("s_q"), col("neighbor_id").as("s_n"))
    val multi = annLshMultiprobe(spark, dir, numQueries = 5, k = 10)
      .select(col("query_id").as("m_q"), col("neighbor_id").as("m_n"))
    exact
      .join(broadcast(single),
        col("query_id") === col("s_q") && col("neighbor_id") === col("s_n"),
        "left")
      .join(broadcast(multi),
        col("query_id") === col("m_q") && col("neighbor_id") === col("m_n"),
        "left")
      .groupBy("query_id")
      .agg(count(lit(1)).as("n_exact"),
        count(col("s_n")).as("n_hit_single"),
        count(col("m_n")).as("n_hit_multi"))
      .select(col("query_id"), col("n_exact"),
        col("n_hit_single"),
        round(col("n_hit_single").cast("double") / col("n_exact"), 6)
          .as("recall_single"),
        col("n_hit_multi"),
        round(col("n_hit_multi").cast("double") / col("n_exact"), 6)
          .as("recall_multi"))
      .orderBy("query_id")
  }

  def multiprobeRecallAuditOracle: String =
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |n0 AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
       |exact AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT q.vec_id AS query_id, x.vec_id AS neighbor_id,
       |      row_number() OVER (PARTITION BY q.vec_id
       |        ORDER BY round(list_dot_product(q.v, x.v) / (q.nrm * x.nrm), 6) DESC,
       |                 x.vec_id) AS rk
       |    FROM n0 q, n0 x WHERE q.vec_id < 5 AND x.vec_id <> q.vec_id) t
       |  WHERE rk <= 10),
       |proj AS (SELECT vec_id, p,
       |    list_sum(list_transform(range(len(v)), j ->
       |      v[j+1] * (CASE WHEN (j * 2654435761 + p * 40503) % 97 % 2 = 0
       |                     THEN 1.0 ELSE -1.0 END))) AS s
       |  FROM e CROSS JOIN range($NumPlanes) r(p)),
       |bucket AS (SELECT vec_id,
       |    CAST(SUM(CASE WHEN s > 0 THEN (1::BIGINT << p) ELSE 0 END) AS BIGINT) AS bucket
       |  FROM proj GROUP BY vec_id),
       |nb AS (SELECT n0.vec_id, n0.v, n0.nrm, b.bucket
       |  FROM n0 JOIN bucket b ON n0.vec_id = b.vec_id),
       |single AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT q.vec_id AS query_id, x.vec_id AS neighbor_id,
       |      row_number() OVER (PARTITION BY q.vec_id
       |        ORDER BY round(list_dot_product(q.v, x.v) / (q.nrm * x.nrm), 6) DESC,
       |                 x.vec_id) AS rk
       |    FROM nb q JOIN nb x ON q.bucket = x.bucket AND x.vec_id <> q.vec_id
       |    WHERE q.vec_id < 5) t
       |  WHERE rk <= 10),
       |pb AS (SELECT vec_id AS query_id, v, nrm,
       |    unnest(list_concat([bucket], list_transform(range($NumPlanes),
       |      p -> xor(bucket, (1::BIGINT << p))))) AS bucket
       |  FROM nb WHERE vec_id < 5),
       |multi AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT q.query_id, x.vec_id AS neighbor_id,
       |      row_number() OVER (PARTITION BY q.query_id
       |        ORDER BY round(list_dot_product(q.v, x.v) / (q.nrm * x.nrm), 6) DESC,
       |                 x.vec_id) AS rk
       |    FROM pb q JOIN nb x ON q.bucket = x.bucket
       |      AND x.vec_id <> q.query_id) t
       |  WHERE rk <= 10)
       |SELECT ex.query_id, CAST(COUNT(*) AS BIGINT) AS n_exact,
       |  CAST(COUNT(s.neighbor_id) AS BIGINT) AS n_hit_single,
       |  round(CAST(COUNT(s.neighbor_id) AS DOUBLE) / COUNT(*), 6)
       |    AS recall_single,
       |  CAST(COUNT(m.neighbor_id) AS BIGINT) AS n_hit_multi,
       |  round(CAST(COUNT(m.neighbor_id) AS DOUBLE) / COUNT(*), 6)
       |    AS recall_multi
       |FROM exact ex
       |LEFT JOIN single s
       |  ON ex.query_id = s.query_id AND ex.neighbor_id = s.neighbor_id
       |LEFT JOIN multi m
       |  ON ex.query_id = m.query_id AND ex.neighbor_id = m.neighbor_id
       |GROUP BY ex.query_id ORDER BY ex.query_id""".stripMargin

  // ── int8 quantization (embedding compression) ──

  /** Symmetric per-vector int8 quantization: scale = max|x|/127,
    * q_i = round(x_i/scale), plus the reconstruction-error audit a
    * compression pass needs. Pure per-row projection (no shuffle);
    * rounding is an explicit floor(x + 0.5) so both engines round
    * halves identically (library round() tie rules differ). The
    * quantized array stays internal; the query emits the audit
    * columns (checksum, scale, max error). */
  def embeddingQuantize(spark: SparkSession, dir: String): DataFrame = {
    val e = embeddingsD(spark, dir)
    val zeros = transform(col("v"), _ => lit(0L))
    e.select(col("vec_id"), col("v"), size(col("v")).cast("long").as("n_dims"),
        (array_max(transform(col("v"), x => abs(x))) / 127.0).as("scale"))
      .withColumn("q", when(col("scale") === 0, zeros)
        .otherwise(transform(col("v"),
          x => floor(x / col("scale") + 0.5).cast("long"))))
      // raw error first, display rounding in a SEPARATE select: a
      // `round(...).as("scale")` alias in the same projection would be
      // lateral-column-alias-resolved by the error expression, which
      // must see the exact scale
      .select(col("vec_id"), col("n_dims"), col("scale"),
        aggregate(col("q"), lit(0L), (a, x) => a + x).as("sum_q"),
        array_max(zip_with(col("q"), col("v"),
          (a, b) => abs(a.cast("double") * col("scale") - b))).as("max_err"))
      .select(col("vec_id"), col("n_dims"), round(col("scale"), 9).as("scale"),
        col("sum_q"), round(col("max_err"), 9).as("max_err"))
      .orderBy("vec_id")
  }

  def embeddingQuantizeOracle: String =
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |s AS (SELECT vec_id, v, len(v) AS n_dims,
      |    list_max(list_transform(v, x -> abs(x))) / 127.0 AS scale FROM e),
      |qt AS (SELECT vec_id, v, n_dims, scale,
      |    CASE WHEN scale = 0 THEN list_transform(v, x -> CAST(0 AS BIGINT))
      |         ELSE list_transform(v, x -> CAST(floor(x / scale + 0.5) AS BIGINT))
      |    END AS q
      |  FROM s)
      |SELECT vec_id, CAST(n_dims AS BIGINT) AS n_dims,
      |  round(scale, 9) AS scale,
      |  CAST(list_sum(q) AS BIGINT) AS sum_q,
      |  round(list_max(list_transform(range(len(v)),
      |    i -> abs(q[i+1] * scale - v[i+1]))), 9) AS max_err
      |FROM qt ORDER BY vec_id""".stripMargin

  // ── IVF (inverted-file) ANN ──

  val MinLists = 16
  val MaxLists = 4096
  /** Fixed query-vector anchor: every IVF/recall query set is
    * vec_id ∈ [QueryBase, QueryBase + numQueries), decoupled from the
    * (data-dependent) list count so the query identity never drifts
    * with corpus size. */
  val QueryBase = 16
  val NProbe = 2
  val LloydIters = 3

  /** Corpus-adaptive coarse-quantizer size: k = ⌈√(n/2)⌉ clamped to
    * [MinLists, MaxLists]. The √ law is the analytic minimizer of the
    * two costs k trades between — centroid assignment is O(n·k) and
    * per-list all-pairs work is O(n²/2k); d/dk (nk + n²/2k) = 0 at
    * k = √(n/2) — so both terms grow as n^1.5 instead of one of them
    * going quadratic (the fixed k=16 of rounds ≤4 measured 94× time
    * at 100× data before star-capping). Past the [[MaxLists]] clamp
    * (n > 2·MaxLists² ≈ 33M vectors) assignment cost is bounded at
    * O(n·MaxLists) while list sizes resume growing as n/MaxLists —
    * and the [[graft.ext.Dedup.MaxBucket]] star-cap, retained as the
    * degenerate-cluster backstop, keeps the per-list pairing linear
    * there too, so no regime is quadratic. */
  def numLists(n: Long): Int =
    math.max(MinLists.toDouble,
      math.min(MaxLists.toDouble, math.ceil(math.sqrt(n / 2.0)))).toInt

  /** Quantizer TRAINING-set bound: Lloyd iterations refine centroids
    * on a deterministic strided sample of ≤ ~[[TrainSampleCap]]
    * vectors (stride = ⌊n / cap⌋, `vec_id % stride = 0` — engine-
    * mirrorable arithmetic, no rand()), while the final assignment
    * still scans the FULL corpus once. Training on a bounded sample
    * is the standard IVF recipe (a coarse quantizer needs density
    * shape, not every point); without it each Lloyd pass costs the
    * same n·k as the assignment and the adaptive k turns training
    * into 3× the n^1.5 term (ivf_recall_sweep probed 14× at 100×
    * data from exactly this). Below the cap the stride is 1 and
    * training is exact-corpus — gate-scale results are unchanged. */
  val TrainSampleCap = 32768L

  /** The same k as [[numLists]], computed by the oracle from the same
    * corpus count (IEEE sqrt/ceil are engine-identical). */
  private val numListsSql: String =
    s"GREATEST($MinLists, LEAST($MaxLists," +
      s" CAST(ceil(sqrt(COUNT(*) / 2.0)) AS BIGINT)))"

  /** k-means coarse quantizer: k = [[numLists]](corpus size), seeds =
    * the first k vectors (deterministic), refined by exactly
    * [[LloydIters]] Lloyd iterations — fixed count, no convergence
    * test, so any engine re-running the same arithmetic lands on
    * identical centroids.
    *
    * Engine-independence discipline (the oracle mirrors each step):
    *   - assignment: cosine sim rounded to 6 decimals BEFORE the
    *     argmax, ties to the lower list_id;
    *   - new centroid: per-dimension mean as an EXACT decimal(38,18)
    *     sum (a raw double sum would depend on Spark's partition
    *     order) cast to double, divided by the member count, rounded
    *     to 9 decimals;
    *   - a list that captures no vectors keeps its previous centroid.
    *
    * Scale shape: each iteration is one corpus scan through the
    * compiled nearest-centroid kernel (the k-row matrix rides as a
    * plan reference — no n×k scored-row intermediate) + a
    * (k × dim)-row mean aggregate; driver state is the centroid
    * matrix itself (≤ [[MaxLists]] × dim doubles — bounded). */
  // single-slot centroid memo: eight gate queries (assign, ANN, inertia,
  // semantic dedup, the recall sweep, the three mining twins) derive
  // bit-identical centroids from the same corpus — recomputing the
  // count + seed collect + 3 Lloyd scans per query is pure waste. One
  // slot (≤ MaxLists × dim doubles ≈ 2 MB); invalidation rules live in
  // graft.SessionDirMemo; ScaleProbe resets it so probe timings stay
  // honest COLD runs including training.
  private[graft] val centroidMemo =
    graft.SessionDirMemo("kmeans_centroids_train_build")(kmeansCentroidsUncached)

  private[graft] def kmeansCentroids(spark: SparkSession, dir: String): Seq[(Long, Seq[Double])] =
    centroidMemo.get(spark, dir)

  /** Times each trainer ACTUALLY ran in this JVM — the observable that
    * lets the artifact tests assert "the second session reused the
    * stored index" instead of inferring it from timings. */
  private[graft] val centroidTrainCount = new java.util.concurrent.atomic.AtomicLong
  private[graft] val pqTrainCount = new java.util.concurrent.atomic.AtomicLong

  private def kmeansCentroidsUncached(spark: SparkSession, dir: String): Seq[(Long, Seq[Double])] = {
    centroidTrainCount.incrementAndGet()
    import org.apache.spark.sql.types.DecimalType
    // the corpus is re-scored once per Lloyd iteration — cache it for
    // the loop, release before returning (driver-blocking, so the
    // unpersist is safe here, unlike in lazily-returned queries);
    // the same cached scan serves the k-sizing count
    val e = embeddingsD(spark, dir)
      .select(col("vec_id"), col("v"))
      .persist()
    val nTotal = e.count()
    val k = numLists(nTotal)
    // Lloyd refinement runs on the strided training sample (see
    // TrainSampleCap); stride 1 below the cap = exact-corpus training
    val stride = math.max(1L, nTotal / TrainSampleCap)
    val train = if (stride == 1L) e else e.filter(col("vec_id") % stride === 0)
    val seed: Seq[(Long, Seq[Double])] = e.filter(col("vec_id") < k)
      .orderBy("vec_id").collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1))).toSeq
    val cents = lloydRefine(train, seed)
    e.unpersist()
    cents
  }

  /** The Lloyd refinement loop shared by the full-corpus and
    * base-slice trainers: [[LloydIters]] assign→mean rounds with the
    * engine-independence discipline documented on
    * [[kmeansCentroids]] (sim round 6 / low-list tiebreak inside the
    * compiled kernel; decimal-exact per-dim sums, mean round 9;
    * empty lists keep their previous centroid). */
  private def lloydRefine(train: DataFrame,
                          seed: Seq[(Long, Seq[Double])]): Seq[(Long, Seq[Double])] = {
    import org.apache.spark.sql.types.DecimalType
    var cents = seed
    for (_ <- 1 to LloydIters) {
      val assigned = train.select(col("vec_id"), col("v"),
        graft.functions.NearestCentroids(col("v"), cents, 1)
          .getItem(0).getField("list_id").as("list_id"))
      val means = assigned
        .select(col("list_id"), posexplode(col("v")).as(Seq("dim", "x")))
        .groupBy(col("list_id"), col("dim"))
        .agg(round(sum(col("x").cast(DecimalType(38, 18))).cast("double")
          / count(lit(1)), 9).as("m"))
        .collect()
      val byList = means.groupBy(_.getLong(0)).map { case (lid, rs) =>
        lid -> rs.sortBy(_.getInt(1)).map(_.getDouble(2)).toSeq
      }
      cents = cents.map { case (lid, old) => (lid, byList.getOrElse(lid, old)) }
    }
    cents
  }

  /** Vectors scored against the k-means centroids: one corpus scan
    * through the compiled nearest-centroid kernel (no crossJoin, no
    * per-vector window sort). Keeps the `maxProbe` best lists per
    * vector (default [[NProbe]]) plus each list's centroid norm, so
    * downstream reports need no re-join. */
  private[ext] def withAssignments(spark: SparkSession, dir: String,
                                   maxProbe: Int = NProbe): DataFrame = {
    val cents = kmeansCentroids(spark, dir)
    embeddingsD(spark, dir)
      .select(col("vec_id"), col("label"), col("v"), norm(col("v")).as("nrm"),
        posexplode(graft.functions.NearestCentroids(col("v"), cents, maxProbe))
          .as(Seq("_pos", "_a")))
      .select(col("vec_id"), col("label"), col("v"), col("nrm"),
        col("_a.list_id").as("list_id"), col("_a.cn").as("cn"),
        col("_a.sim").as("centroid_sim"),
        (col("_pos") + 1).cast("long").as("probe_rank"))
  }

  /** IVF list assignment: every vector's primary list (probe_rank 1). */
  def ivfAssign(spark: SparkSession, dir: String): DataFrame =
    withAssignments(spark, dir)
      .filter(col("probe_rank") === 1)
      .select(col("vec_id"), col("list_id").cast("long").as("list_id"),
        col("centroid_sim"))
      .orderBy("vec_id")

  /** IVF list-balance audit — the index-health table that predicts
    * probe latency BEFORE queries pay for it: per realized list, its
    * member count, corpus share, and balance ratio (1.0 = perfectly
    * even); plus two constant summary columns every row carries —
    * `skew_max` (largest list vs the even size: the straggler bound,
    * since one probe of that list scans that many candidates) and
    * `probe_cost_factor` (k·Σsᵢ²/n²: the expected single-probe scan
    * cost relative to balanced, under the size-weighted routing a
    * matching query distribution induces — the textbook reason skewed
    * k-means lists slow ANN even when MEAN list size looks fine).
    * Σsᵢ² is decimal-summed over the k-row frame so the factor is
    * partition-order-free. Cost: the assignment pass [[ivfAssign]]
    * already does, collapsed to k rows; every window here is over the
    * k-row list frame (k = O(√n) — metadata scale), never the corpus.
    * Lists left EMPTY by Lloyd (no vector's primary) are absent from
    * the rows but still count in k — an empty list is wasted routing,
    * not balance. */
  def ivfBalanceAudit(spark: SparkSession, dir: String): DataFrame = {
    val k = kmeansCentroids(spark, dir).size
    val sizes = withAssignments(spark, dir)
      .filter(col("probe_rank") === 1)
      .groupBy(col("list_id").cast("long").as("list_id"))
      .agg(count(lit(1)).as("n_members"))
    // k-row frame (one row per IVF list) — declared bounded
    val all = graft.BoundedWindow.all
    sizes
      .withColumn("total", sum(col("n_members")).over(all))
      .withColumn("sumsq",
        // square in decimal, not LongType: a degenerate >3e9-member
        // list would wrap the long product silently before the cast
        sum(col("n_members").cast("decimal(19,0)") *
          col("n_members").cast("decimal(19,0)")).over(all))
      .withColumn("maxm", max(col("n_members")).over(all))
      .select(col("list_id"), col("n_members"),
        round(col("n_members").cast("double") / col("total"), 6).as("share"),
        round(col("n_members") * lit(k) / col("total").cast("double"), 6)
          .as("balance"),
        round(col("maxm") * lit(k) / col("total").cast("double"), 6)
          .as("skew_max"),
        round(lit(k) * col("sumsq").cast("double") /
          (col("total").cast("double") * col("total")), 6)
          .as("probe_cost_factor"))
      .orderBy("list_id")
  }

  def ivfBalanceAuditOracle: String =
    s"""WITH $ivfCommonSql,
       |sizes AS (SELECT CAST(list_id AS BIGINT) AS list_id,
       |    CAST(COUNT(*) AS BIGINT) AS n_members
       |  FROM scoredc WHERE probe_rank = 1 GROUP BY 1),
       |tot AS (SELECT CAST(SUM(n_members) AS BIGINT) AS total,
       |    CAST(SUM(CAST(n_members AS HUGEINT) * n_members) AS DOUBLE)
       |      AS sumsq,
       |    CAST(MAX(n_members) AS BIGINT) AS maxm
       |  FROM sizes)
       |SELECT s.list_id, s.n_members,
       |  round(CAST(s.n_members AS DOUBLE) / t.total, 6) AS share,
       |  round(s.n_members * (SELECT k FROM kp) / CAST(t.total AS DOUBLE), 6)
       |    AS balance,
       |  round(t.maxm * (SELECT k FROM kp) / CAST(t.total AS DOUBLE), 6)
       |    AS skew_max,
       |  round((SELECT k FROM kp) * t.sumsq /
       |    (CAST(t.total AS DOUBLE) * t.total), 6) AS probe_cost_factor
       |FROM sizes s, tot t ORDER BY s.list_id""".stripMargin

  /** Simplified-silhouette cluster-quality audit over the IVF
    * k-means clustering — the one-table answer to "is this clustering
    * worth indexing (or SemDeDup-ing) on": per vector, a = cosine
    * distance to its OWN centroid, b = distance to the nearest OTHER
    * centroid, s = (b − a)/max(a, b) ∈ [−1, 1] (Rousseeuw's
    * simplified form: centroid distances instead of all-pairs member
    * distances — the only form that scales, O(n·k) not O(n²)).
    * Both distances fall out of the SAME assignment scan every IVF
    * query already does ([[withAssignments]] keeps ranks 1 and 2),
    * so the audit adds zero corpus passes. Per-list mean silhouette
    * (low lists = mushy clusters that will route badly) plus the
    * member-weighted corpus mean as a constant column. Terms are
    * rounded then decimal-summed, so the means are
    * partition-order-free; a vector equidistant-at-zero from both
    * centroids (a = b = 0) contributes 0, not NaN. Requires k ≥ 2
    * (rank 2 must exist) — a one-list corpus yields the empty audit,
    * never a crash. */
  def clusterSilhouette(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val ranked = withAssignments(spark, dir)
      .filter(col("probe_rank") <= 2)
      .groupBy("vec_id")
      .agg(
        max(when(col("probe_rank") === 1, col("list_id"))).as("list_id"),
        max(when(col("probe_rank") === 1, col("centroid_sim"))).as("s1"),
        max(when(col("probe_rank") === 2, col("centroid_sim"))).as("s2"))
      .filter(col("s2").isNotNull)
    val aDist = lit(1.0) - col("s1")
    val bDist = lit(1.0) - col("s2")
    val terms = ranked.select(col("list_id").cast("long").as("list_id"),
      when(greatest(aDist, bDist) > 0,
        round((col("s1") - col("s2")) / greatest(aDist, bDist), 9))
        .otherwise(lit(0.0)).as("term"))
    // k-row frame (one row per IVF list) — declared bounded
    val all = graft.BoundedWindow.all
    terms.groupBy("list_id")
      .agg(count(lit(1)).as("n_members"),
        sum(col("term").cast(DecimalType(38, 12))).as("ts"))
      .withColumn("gts", sum(col("ts")).over(all))
      .withColumn("gn", sum(col("n_members")).over(all))
      .select(col("list_id"), col("n_members"),
        round(col("ts").cast("double") / col("n_members"), 6)
          .as("mean_silhouette"),
        round(col("gts").cast("double") / col("gn"), 6)
          .as("corpus_silhouette"))
      .orderBy("list_id")
  }

  def clusterSilhouetteOracle: String =
    s"""WITH $ivfCommonSql,
       |r1 AS (SELECT vec_id, CAST(list_id AS BIGINT) AS list_id,
       |         centroid_sim AS s1 FROM scoredc WHERE probe_rank = 1),
       |r2 AS (SELECT vec_id, centroid_sim AS s2 FROM scoredc
       |       WHERE probe_rank = 2),
       |t AS (SELECT r1.list_id,
       |    CASE WHEN greatest(1.0 - s1, 1.0 - s2) > 0
       |      THEN round((s1 - s2) / greatest(1.0 - s1, 1.0 - s2), 9)
       |      ELSE 0.0 END AS term
       |  FROM r1 JOIN r2 USING (vec_id)),
       |pl AS (SELECT list_id, CAST(COUNT(*) AS BIGINT) AS n_members,
       |    SUM(CAST(term AS DECIMAL(38,12))) AS ts
       |  FROM t GROUP BY list_id),
       |g AS (SELECT SUM(ts) AS gts, CAST(SUM(n_members) AS BIGINT) AS gn
       |  FROM pl)
       |SELECT pl.list_id, pl.n_members,
       |  round(CAST(pl.ts AS DOUBLE) / pl.n_members, 6) AS mean_silhouette,
       |  round(CAST(g.gts AS DOUBLE) / g.gn, 6) AS corpus_silhouette
       |FROM pl, g ORDER BY pl.list_id""".stripMargin

  /** IVF ANN: probe the query's NProbe nearest lists, score only the
    * vectors whose PRIMARY list is probed — candidate set ≈
    * NProbe/numLists(n) of the corpus, the sub-linear scale path. */
  def annIvf(spark: SparkSession, dir: String,
             numQueries: Int = 5, k: Int = 5): DataFrame = {
    // assignments feed both the member lists and the query probes —
    // localCheckpoint (NOT persist: checkpoint blocks are
    // ContextCleaner-freed when the frame drops out of scope, while a
    // persist stays registered in the CacheManager for the session
    // lifetime — the leak class the recall sweep already avoids)
    val assign = withAssignments(spark, dir).localCheckpoint()
    val members = assign.filter(col("probe_rank") === 1)
      .select(col("list_id"), col("vec_id"), col("v"), col("nrm"))
    val queries = assign
      .filter(col("vec_id") >= QueryBase && col("vec_id") < QueryBase + numQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("nrm").as("qn"), col("list_id"))
    val scored = queries.join(members, Seq("list_id"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        cos6(dot(col("qv"), col("v")), col("qn"), col("nrm")).as("cos_sim"))
    // no distinct needed: each member has exactly ONE primary list, so
    // a (query, member) pair can only arise from one probed list (the
    // oracle's DISTINCT is a no-op for the same reason)
    topKPerQuery(scored, k)
  }

  // ── durable ANN index artifact: centroids + PQ codebook + vintage ──
  // The session memos above die with the JVM; a production serving
  // path shares ONE trained index across jobs and days. The artifact
  // is the storage form of that shared state — written through the
  // Catalog surface (the engine's named-dataset layer, as the
  // reference's plugin registry was its only shared-artifact
  // mechanism), stamped with the corpus vintage fingerprint so a
  // regenerated corpus can never silently serve a stale index.

  /** Default on-disk home for a corpus's index artifact, keyed by a
    * digest of the CANONICAL fixture path (symlinks resolved, relative
    * segments folded) so `sf0.1`, `./sf0.1/` and a symlink to either
    * all key the same artifact — stable across sessions and rounds,
    * under [[graft.Catalog.artifactRoot]] (env-overridable; survives
    * `sbt clean`, unlike the round-11 target/ home). Self-healing by
    * design — the artifact is a cache of deterministic training, never
    * the source of truth. */
  private[graft] def annIndexDefaultPath(dir: String): String =
    graft.Catalog.artifactPath("ann_index", dir)

  /** Write the trained IVF centroid matrix and PQ codebook as ONE
    * parquet artifact via [[graft.Catalog]]: rows
    * (kind ∈ {centroid, pq}, id1 = list_id | subspace, id2 = 0 | code,
    * vec, fingerprint). Training goes through the session memos, so a
    * warm session persists without retraining. Size is index-shaped —
    * ≤ MaxLists + subspaces×codes rows of dim doubles — never
    * corpus-shaped. */
  def annIndexPersist(spark: SparkSession, dir: String, path: String): Unit = {
    import spark.implicits._
    val fp = graft.SessionDirMemo.fingerprint(dir)
    val cents = kmeansCentroids(spark, dir)
      .map { case (lid, cv) => ("centroid", lid, 0L, cv, fp) }
    val cb = pqCodebook(spark, dir)
      .map { case (s, c, cv) => ("pq", s.toLong, c.toLong, cv, fp) }
    val key = s"ann_index/${new java.io.File(dir).getName}"
    val cat = new graft.Catalog(spark)
    cat.put(key, (cents ++ cb).toDF("kind", "id1", "id2", "vec", "fingerprint"))
    cat.persist(key, path)
    // self-GC across vintages (the edgesArtifactPersist discipline)
    Option(new java.io.File(path).getParent).foreach(
      graft.Catalog.purgeStale(_, graft.Catalog.artifactKeep))
  }

  /** Read-through load of the durable index: if `path` holds an
    * artifact whose fingerprint matches the corpus's CURRENT vintage,
    * seed the session memos from it — every IVF/PQ-family query then
    * serves from the stored index with zero training. On a missing,
    * unreadable, or stale artifact, retrain (through the memo path)
    * and rewrite the artifact for the next session. Returns true iff
    * the stored index was fresh and reused. Loaded doubles are
    * bit-identical to trained ones (parquet stores IEEE doubles
    * exactly; rows re-sorted to the trainers' list_id / (sub, code)
    * order), so results are indistinguishable from the memo path —
    * ExtSpec asserts equality, the driver oracle hashes it. */
  def annIndexLoadOrTrain(spark: SparkSession, dir: String,
                          path: String): Boolean = {
    val fp = graft.SessionDirMemo.fingerprint(dir)
    val loaded: Option[(Seq[(Long, Seq[Double])], Seq[(Int, Int, Seq[Double])])] =
      try {
        val rows = spark.read.parquet(path).collect()
        if (rows.isEmpty || rows.exists(_.getLong(4) != fp)) None
        else {
          val cents = rows.filter(_.getString(0) == "centroid")
            .map(r => (r.getLong(1), r.getSeq[Double](3)))
            .sortBy(_._1).toSeq
          val cb = rows.filter(_.getString(0) == "pq")
            .map(r => (r.getLong(1).toInt, r.getLong(2).toInt, r.getSeq[Double](3)))
            .sortBy(t => (t._1, t._2)).toSeq
          if (cents.isEmpty) None else Some((cents, cb))
        }
      } catch { case _: Exception => None }
    loaded match {
      case Some((cents, cb)) =>
        centroidMemo.put(spark, dir, cents)
        pqMemo.put(spark, dir, cb)
        true
      case None =>
        annIndexPersist(spark, dir, path)
        false
    }
  }

  /** [[annIvf]] served through the DURABLE index artifact instead of
    * session-trained state: load-or-train against the default artifact
    * path, then run the identical probe plan. First run of a vintage
    * trains once and writes the artifact; every later session — and
    * every later round's bench — reuses it. Oracle-equal to
    * [[annIvf]] by construction (same centroids bit-for-bit). */
  def annIvfIndexed(spark: SparkSession, dir: String): DataFrame = {
    annIndexLoadOrTrain(spark, dir, annIndexDefaultPath(dir))
    annIvf(spark, dir)
  }

  /** Mirrors [[kmeansCentroids]]: k from the corpus count (the `kp`
    * CTE computes [[numLists]] with the same IEEE sqrt/ceil), the
    * `smp` CTE applies the same [[TrainSampleCap]] training stride
    * (a no-op below the cap), seeds c0 = first k vectors, then
    * LloydIters unrolled assign→mean rounds with the identical
    * rounding discipline (sim round 6 / tie on list_id;
    * decimal-exact per-dim sums, mean round 9; empty lists keep old
    * centroids). */
  /** The LloydIters unrolled assign→mean CTE rounds — shared between
    * the full-corpus chain ([[ivfCommonSql]]) and the base-slice
    * chain ([[ivfBaseCommonSql]]); both define `smp` (the strided
    * training sample) and `c0` (the seeds) upstream, which is all
    * these rounds reference. */
  private def lloydItersSql: String =
    (1 to LloydIters).map { i =>
      s"""a$i AS (SELECT n.vec_id, n.v, c.list_id,
         |    row_number() OVER (PARTITION BY n.vec_id
         |      ORDER BY round(list_dot_product(n.v, c.cv)
         |                     / (n.nrm * sqrt(list_dot_product(c.cv, c.cv))), 6) DESC,
         |               c.list_id) AS rk
         |  FROM smp n CROSS JOIN c${i - 1} c),
         |x$i AS (SELECT list_id, UNNEST(range(len(v))) AS dim, UNNEST(v) AS x
         |  FROM a$i WHERE rk = 1),
         |m$i AS (SELECT list_id, dim,
         |    round(CAST(SUM(CAST(x AS DECIMAL(38,18))) AS DOUBLE) / COUNT(*), 9) AS m
         |  FROM x$i GROUP BY list_id, dim),
         |nc$i AS (SELECT list_id, list(m ORDER BY dim) AS cv FROM m$i GROUP BY list_id),
         |c$i AS (SELECT p.list_id, COALESCE(nc.cv, p.cv) AS cv
         |  FROM c${i - 1} p LEFT JOIN nc$i nc USING (list_id))""".stripMargin
    }.mkString(",\n")

  private[ext] val ivfCommonSql: String = {
    val iters = lloydItersSql
    s"""e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |kp AS (SELECT $numListsSql AS k FROM e),
       |n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
       |smp AS (SELECT * FROM n WHERE vec_id %
       |  (SELECT GREATEST(1, COUNT(*) // $TrainSampleCap) FROM e) = 0),
       |c0 AS (SELECT vec_id AS list_id, v AS cv FROM e
       |  WHERE vec_id < (SELECT k FROM kp)),
       |$iters,
       |cents AS (SELECT list_id, cv, sqrt(list_dot_product(cv, cv)) AS cn
       |  FROM c${LloydIters}),
       |scoredc AS (SELECT n.vec_id, n.v, n.nrm, c.list_id,
       |    round(list_dot_product(n.v, c.cv) / (n.nrm * c.cn), 6) AS centroid_sim,
       |    row_number() OVER (PARTITION BY n.vec_id
       |                       ORDER BY round(list_dot_product(n.v, c.cv) / (n.nrm * c.cn), 6) DESC,
       |                                c.list_id) AS probe_rank
       |  FROM n CROSS JOIN cents c)""".stripMargin
  }

  def ivfAssignOracle: String =
    s"""WITH $ivfCommonSql
       |SELECT vec_id, CAST(list_id AS BIGINT) AS list_id, centroid_sim
       |FROM scoredc WHERE probe_rank = 1 ORDER BY vec_id""".stripMargin

  def annIvfOracle: String =
    s"""WITH $ivfCommonSql,
       |members AS (SELECT list_id, vec_id, v, nrm FROM scoredc WHERE probe_rank = 1),
       |queries AS (SELECT vec_id AS query_id, v AS qv, nrm AS qn, list_id
       |  FROM scoredc
       |  WHERE probe_rank <= ${NProbe}
       |    AND vec_id >= ${QueryBase} AND vec_id < ${QueryBase + 5}),
       |scored AS (SELECT DISTINCT q.query_id, m.vec_id AS neighbor_id,
       |    round(list_dot_product(q.qv, m.v) / (q.qn * m.nrm), 6) AS cos_sim
       |  FROM queries q JOIN members m ON q.list_id = m.list_id
       |   AND m.vec_id <> q.query_id),
       |ranked AS (SELECT query_id, neighbor_id, cos_sim,
       |    row_number() OVER (PARTITION BY query_id
       |                       ORDER BY cos_sim DESC, neighbor_id) AS rk
       |  FROM scored)
       |SELECT query_id, neighbor_id, cos_sim, CAST(rk AS BIGINT) AS rk
       |FROM ranked WHERE rk <= 5 ORDER BY query_id, rk""".stripMargin

  // ── standing-index maintenance: delta assignment, retrain gate ──

  /** Standing-index centroids: trained on the BASE slice only
    * (vec_id % [[Dedup.DeltaMod]] ≠ DeltaMod−1 — everything ingested
    * before today), so today's delta batch can be ASSIGNED into the
    * frozen lists without any Lloyd iteration running on the delta
    * path. k and the [[TrainSampleCap]] stride come from the BASE
    * count; seeds are the k smallest base vec_ids (the full-corpus
    * trainer's dense-prefix rule `vec_id < k` cannot apply — the
    * base slice has holes). Memoized separately from the full-corpus
    * centroids: a standing index IS trained state, loaded, not
    * rebuilt, on every maintenance tick. */
  private[graft] val baseCentroidMemo =
    graft.SessionDirMemo("base_centroids_train_build")(baseKmeansCentroidsUncached)

  private[graft] def baseKmeansCentroids(
      spark: SparkSession, dir: String): Seq[(Long, Seq[Double])] =
    baseCentroidMemo.get(spark, dir)

  private def baseKmeansCentroidsUncached(
      spark: SparkSession, dir: String): Seq[(Long, Seq[Double])] = {
    val isDelta = col("vec_id") % Dedup.DeltaMod === (Dedup.DeltaMod - 1)
    val e = embeddingsD(spark, dir).filter(!isDelta)
      .select(col("vec_id"), col("v")).persist()
    val nBase = e.count()
    val k = numLists(nBase)
    val stride = math.max(1L, nBase / TrainSampleCap)
    val train = if (stride == 1L) e else e.filter(col("vec_id") % stride === 0)
    val seed: Seq[(Long, Seq[Double])] = e.orderBy("vec_id").limit(k).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1))).toSeq
    val cents = lloydRefine(train, seed)
    e.unpersist()
    cents
  }

  /** Standing-ANN-index maintenance tick: assign ONLY the delta batch
    * into the frozen base-trained lists and report the membership
    * delta per list, plus the retrain gate — `retrain_required` is
    * [[embeddingBatchDrift]]'s corpus verdict (any dimension's Welch
    * t beyond the gate ⇒ the encoder moved and the coarse quantizer
    * no longer fits the incoming distribution). The decision this
    * row answers daily: "keep appending to the standing lists, or
    * schedule a rebuild". No Lloyd iteration runs on this path —
    * assignment is one corpus scan through the compiled
    * nearest-centroid kernel against the MEMOIZED standing centroids
    * (cold-start builds them from the base slice once — index
    * bootstrap, not maintenance); the drift verdict is a d-row
    * aggregate of the same single-scan sufficient statistics the
    * drift monitor publishes. */
  def ivfDeltaAssign(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val cents = baseKmeansCentroids(spark, dir)
    // an empty standing index is a BOOTSTRAP error, not a maintenance
    // state — assigning into zero lists must fail loudly (the staging
    // contract), never emit an empty report a scheduler reads as "tick
    // done"
    require(cents.nonEmpty,
      "standing IVF index is empty — no base vectors exist (every " +
        s"vec_id ≡ ${Dedup.DeltaMod - 1} mod ${Dedup.DeltaMod}); " +
        "bootstrap the index before running delta assignment")
    val isDelta = col("vec_id") % Dedup.DeltaMod === (Dedup.DeltaMod - 1)
    val assigned = embeddingsD(spark, dir)
      .select(col("vec_id"), isDelta.as("is_delta"),
        graft.functions.NearestCentroids(col("v"), cents, 1)
          .getItem(0).as("a"))
      .select(col("vec_id"), col("is_delta"),
        col("a.list_id").cast("long").as("list_id"),
        col("a.sim").as("centroid_sim"))
    val verdict = embeddingBatchDrift(spark, dir)
      .agg(coalesce(sum(when(col("drifted"), 1L).otherwise(0L)) > 0,
        lit(false)).as("retrain_required"))
    assigned.groupBy("list_id")
      .agg(sum(when(!col("is_delta"), 1L).otherwise(0L)).as("n_base"),
        sum(when(col("is_delta"), 1L).otherwise(0L)).as("n_delta"),
        sum(when(col("is_delta"), col("centroid_sim"))
          .cast(DecimalType(38, 18))).as("ds"))
      .select(col("list_id"), col("n_base"), col("n_delta"),
        round(when(col("n_delta") > 0,
          col("ds").cast("double") / col("n_delta")), 6).as("delta_mean_sim"))
      .crossJoin(broadcast(verdict)) // 1-row verdict: BNLJ, never cartesian
      .orderBy("list_id")
  }

  /** Mirrors [[ivfDeltaAssign]]: the base-slice training chain (bb =
    * base vectors, k/stride from the base count, seeds = k smallest
    * base ids via row_number), the same unrolled Lloyd rounds, then
    * primary assignment of ALL vectors against the frozen centroids
    * and the drift monitor's aggregated verdict. */
  private[ext] val ivfBaseCommonSql: String = {
    val dm = Dedup.DeltaMod
    s"""e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |bb AS (SELECT vec_id, v FROM e WHERE vec_id % $dm <> ${dm - 1}),
       |kp AS (SELECT GREATEST($MinLists, LEAST($MaxLists,
       |    CAST(ceil(sqrt(COUNT(*) / 2.0)) AS BIGINT))) AS k FROM bb),
       |n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
       |bn AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM bb),
       |smp AS (SELECT * FROM bn WHERE vec_id %
       |  (SELECT GREATEST(1, COUNT(*) // $TrainSampleCap) FROM bb) = 0),
       |c0 AS (SELECT vec_id AS list_id, v AS cv FROM (
       |    SELECT vec_id, v, row_number() OVER (ORDER BY vec_id) AS rn
       |    FROM bb) s WHERE rn <= (SELECT k FROM kp)),
       |$lloydItersSql,
       |cents AS (SELECT list_id, cv, sqrt(list_dot_product(cv, cv)) AS cn
       |  FROM c${LloydIters}),
       |scoredc AS (SELECT n.vec_id, n.v, n.nrm, c.list_id,
       |    round(list_dot_product(n.v, c.cv) / (n.nrm * c.cn), 6) AS centroid_sim,
       |    row_number() OVER (PARTITION BY n.vec_id
       |                       ORDER BY round(list_dot_product(n.v, c.cv) / (n.nrm * c.cn), 6) DESC,
       |                                c.list_id) AS probe_rank
       |  FROM n CROSS JOIN cents c)""".stripMargin
  }

  def ivfDeltaAssignOracle: String = {
    val dm = Dedup.DeltaMod
    s"""WITH $ivfBaseCommonSql,
       |prim AS (SELECT vec_id, vec_id % $dm = ${dm - 1} AS is_delta,
       |    list_id, centroid_sim
       |  FROM scoredc WHERE probe_rank = 1),
       |pl AS (SELECT CAST(list_id AS BIGINT) AS list_id,
       |    CAST(SUM(CASE WHEN NOT is_delta THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_base,
       |    CAST(SUM(CASE WHEN is_delta THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_delta,
       |    round(CAST(SUM(CAST(CASE WHEN is_delta THEN centroid_sim END
       |        AS DECIMAL(38,18))) AS DOUBLE)
       |      / NULLIF(SUM(CASE WHEN is_delta THEN 1 ELSE 0 END), 0), 6)
       |      AS delta_mean_sim
       |  FROM prim GROUP BY list_id),
       |drift AS (SELECT COALESCE(SUM(CASE WHEN drifted THEN 1 ELSE 0 END) > 0,
       |    false) AS retrain_required
       |  FROM ($embeddingBatchDriftOracle) dd)
       |SELECT pl.list_id, pl.n_base, pl.n_delta, pl.delta_mean_sim,
       |  drift.retrain_required
       |FROM pl CROSS JOIN drift ORDER BY list_id""".stripMargin
  }

  /** Per-list k-means quality report: member count, spherical inertia
    * (Σ cosine distance to the owning centroid), and the centroid
    * norm — the index-health dashboard read before trusting an IVF
    * layout (a near-empty list or an outsized inertia means the
    * coarse quantizer misfits the data and nprobe recall will sag).
    * One aggregate over the primary assignments; the sum is a
    * decimal-exact fold of the already-rounded per-row distances, so
    * partition order can't move the total. */
  def kmeansInertia(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    withAssignments(spark, dir)
      .filter(col("probe_rank") === 1)
      .groupBy(col("list_id"))
      .agg(count(lit(1)).as("n_vecs"),
        round(sum((lit(1.0) - col("centroid_sim")).cast(DecimalType(28, 12)))
          .cast("double"), 6).as("inertia"),
        round(first(col("cn")), 6).as("centroid_norm"))
      .select(col("list_id").cast("long").as("list_id"), col("n_vecs"),
        col("inertia"), col("centroid_norm"))
      .orderBy("list_id")
  }

  def kmeansInertiaOracle: String =
    s"""WITH $ivfCommonSql
       |SELECT CAST(s.list_id AS BIGINT) AS list_id,
       |  CAST(COUNT(*) AS BIGINT) AS n_vecs,
       |  round(CAST(SUM(CAST(1.0 - s.centroid_sim AS DECIMAL(28,12))) AS DOUBLE), 6)
       |    AS inertia,
       |  round(MAX(c.cn), 6) AS centroid_norm
       |FROM scoredc s JOIN cents c USING (list_id)
       |WHERE s.probe_rank = 1
       |GROUP BY s.list_id ORDER BY list_id""".stripMargin

  val RecallSweepProbes = Seq(1, 2, 4)

  /** Recall\@k of the IVF index against exact brute force, swept over
    * nprobe — the accuracy-vs-cost curve that decides the index's
    * operating point (each probed list scores ≈ 1/numLists(n) of the
    * corpus, so nprobe IS the fraction of brute-force work spent).
    * Per (nprobe, query): how many of the true top-k the probe set
    * recovered. The brute pass is query-set-bounded (broadcast
    * queries × one corpus scan — the [[bruteForceTopK]] shape), the IVF
    * passes reuse ONE persisted assignment scan across the sweep, and
    * every ranking funnels through the bounded-heap aggregate, so the
    * sweep adds list-lookup joins, never extra corpus scans. */
  def ivfRecallSweep(spark: SparkSession, dir: String,
                     numQueries: Int = 5, k: Int = 5): DataFrame = {
    // localCheckpoint, not persist: the sweep reuses this frame across
    // every nprobe arm, and checkpoint blocks are ContextCleaner-freed
    // once unreferenced — a persist() here would stay registered in the
    // session CacheManager for the SparkContext lifetime (one leaked
    // cached dataset per invocation under the bench harness).
    val assign = withAssignments(spark, dir,
      maxProbe = RecallSweepProbes.max).localCheckpoint()
    val members = assign.filter(col("probe_rank") === 1)
      .select(col("list_id"), col("vec_id"), col("v"), col("nrm"))
    val qs = assign.filter(col("probe_rank") === 1 &&
        col("vec_id") >= QueryBase && col("vec_id") < QueryBase + numQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("nrm").as("qn"))
    val brute = topKPerQuery(
      members.crossJoin(broadcast(qs))
        .filter(col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("vec_id").as("neighbor_id"),
          cos6(dot(col("qv"), col("v")), col("qn"), col("nrm")).as("cos_sim")),
      k).select(col("query_id"), col("neighbor_id"))
    val sweep = RecallSweepProbes.map { np =>
      val probes = assign.filter(col("probe_rank") <= np &&
          col("vec_id") >= QueryBase && col("vec_id") < QueryBase + numQueries)
        .select(col("vec_id").as("query_id"), col("v").as("qv"),
          col("nrm").as("qn"), col("list_id"))
      val ivfTop = topKPerQuery(
        probes.join(members, Seq("list_id"))
          .filter(col("vec_id") =!= col("query_id"))
          .select(col("query_id"), col("vec_id").as("neighbor_id"),
            cos6(dot(col("qv"), col("v")), col("qn"), col("nrm")).as("cos_sim")),
        k).select(col("query_id"), col("neighbor_id"))
      qs.select(col("query_id"))
        .join(ivfTop.join(brute, Seq("query_id", "neighbor_id"))
          .groupBy("query_id").agg(count(lit(1)).as("n_matched")),
          Seq("query_id"), "left")
        .select(lit(np).cast("long").as("nprobe"), col("query_id"),
          coalesce(col("n_matched"), lit(0L)).as("n_matched"),
          round(coalesce(col("n_matched"), lit(0L)) / lit(k.toDouble), 4)
            .as("recall_at_k"))
    }.reduce(_ unionAll _)
    sweep.orderBy("nprobe", "query_id")
  }

  def ivfRecallSweepOracle: String = {
    val k = 5
    val perNp = RecallSweepProbes.map { np =>
      s"""SELECT $np AS nprobe, q.query_id, ivf$np.neighbor_id
         |FROM qs q LEFT JOIN (
         |  SELECT query_id, neighbor_id FROM (
         |    SELECT p.query_id, m.vec_id AS neighbor_id,
         |      row_number() OVER (PARTITION BY p.query_id
         |        ORDER BY round(list_dot_product(p.qv, m.v) / (p.qn * m.nrm), 6) DESC,
         |                 m.vec_id) AS rk
         |    FROM probes p JOIN members m ON p.list_id = m.list_id
         |     AND m.vec_id <> p.query_id
         |    WHERE p.probe_rank <= $np) t WHERE rk <= $k
         |) ivf$np ON q.query_id = ivf$np.query_id""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH $ivfCommonSql,
       |members AS (SELECT list_id, vec_id, v, nrm FROM scoredc WHERE probe_rank = 1),
       |qs AS (SELECT vec_id AS query_id, v AS qv, nrm AS qn FROM scoredc
       |  WHERE probe_rank = 1 AND vec_id >= $QueryBase AND vec_id < ${QueryBase + 5}),
       |probes AS (SELECT s.vec_id AS query_id, q.qv, q.qn, s.list_id, s.probe_rank
       |  FROM scoredc s JOIN qs q ON s.vec_id = q.query_id),
       |brute AS (SELECT query_id, neighbor_id FROM (
       |    SELECT q.query_id, m.vec_id AS neighbor_id,
       |      row_number() OVER (PARTITION BY q.query_id
       |        ORDER BY round(list_dot_product(q.qv, m.v) / (q.qn * m.nrm), 6) DESC,
       |                 m.vec_id) AS rk
       |    FROM qs q JOIN members m ON m.vec_id <> q.query_id) t WHERE rk <= $k),
       |cand AS ($perNp)
       |SELECT c.nprobe AS nprobe, c.query_id AS query_id,
       |  CAST(COUNT(b.neighbor_id) AS BIGINT) AS n_matched,
       |  round(COUNT(b.neighbor_id) / CAST($k AS DOUBLE), 4) AS recall_at_k
       |FROM cand c LEFT JOIN brute b
       |  ON c.query_id = b.query_id AND c.neighbor_id = b.neighbor_id
       |GROUP BY c.nprobe, c.query_id
       |ORDER BY c.nprobe, c.query_id""".stripMargin
  }

  val TruncDims = 16

  /** Dimension-truncation (matryoshka) recall audit: per query, how
    * many of the true cosine top-5 at full width survive when the
    * index only keeps the first [[TruncDims]] of 64 dimensions — the
    * measurement behind "can we store quarter-width vectors", run
    * before any truncated re-index ships. Same query-set-bounded
    * shape as [[ivfRecallSweep]]: two broadcast-query scoring scans
    * (full and truncated — the truncated one reads the same rows,
    * just a shorter dot), each funneled through the bounded-heap
    * top-k, joined on the ≤ k·|Q| result frames. */
  def dimRecallAudit(spark: SparkSession, dir: String,
                     numQueries: Int = 5, k: Int = 5): DataFrame = {
    val e = embeddingsD(spark, dir)
      .select(col("vec_id"), col("v"), norm(col("v")).as("nrm"),
        slice(col("v"), 1, TruncDims).as("tv"))
      .withColumn("tnrm", norm(col("tv")))
    val qs = e.filter(col("vec_id") >= QueryBase && col("vec_id") < QueryBase + numQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("nrm").as("qn"),
        col("tv").as("qtv"), col("tnrm").as("qtn"))
    def top(score: org.apache.spark.sql.Column) =
      topKPerQuery(
        e.crossJoin(broadcast(qs)).filter(col("vec_id") =!= col("query_id"))
          .select(col("query_id"), col("vec_id").as("neighbor_id"),
            score.as("cos_sim")),
        k).select(col("query_id"), col("neighbor_id"))
    val full = top(cos6(dot(col("qv"), col("v")), col("qn"), col("nrm")))
    val trunc = top(cos6(dot(col("qtv"), col("tv")), col("qtn"), col("tnrm")))
    qs.select(col("query_id"))
      .join(full.join(trunc, Seq("query_id", "neighbor_id"))
        .groupBy("query_id").agg(count(lit(1)).as("n_kept")),
        Seq("query_id"), "left")
      .select(col("query_id"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        round(coalesce(col("n_kept"), lit(0L)) / lit(k.toDouble), 4)
          .as("recall_at_k"))
      .orderBy("query_id")
  }

  def dimRecallAuditOracle: String = {
    val k = 5
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm,
       |    v[1:$TruncDims] AS tv,
       |    sqrt(list_dot_product(v[1:$TruncDims], v[1:$TruncDims])) AS tnrm
       |  FROM e),
       |qs AS (SELECT vec_id AS query_id, v AS qv, nrm AS qn, tv AS qtv,
       |    tnrm AS qtn FROM n
       |  WHERE vec_id >= $QueryBase AND vec_id < ${QueryBase + 5}),
       |fullk AS (SELECT query_id, neighbor_id FROM (
       |    SELECT q.query_id, m.vec_id AS neighbor_id,
       |      row_number() OVER (PARTITION BY q.query_id
       |        ORDER BY round(list_dot_product(q.qv, m.v) / (q.qn * m.nrm), 6) DESC,
       |                 m.vec_id) AS rk
       |    FROM qs q JOIN n m ON m.vec_id <> q.query_id) t WHERE rk <= $k),
       |trunck AS (SELECT query_id, neighbor_id FROM (
       |    SELECT q.query_id, m.vec_id AS neighbor_id,
       |      row_number() OVER (PARTITION BY q.query_id
       |        ORDER BY round(list_dot_product(q.qtv, m.tv) / (q.qtn * m.tnrm), 6) DESC,
       |                 m.vec_id) AS rk
       |    FROM qs q JOIN n m ON m.vec_id <> q.query_id) t WHERE rk <= $k),
       |kept AS (SELECT f.query_id, CAST(COUNT(*) AS BIGINT) AS n_kept
       |  FROM fullk f JOIN trunck t
       |    ON f.query_id = t.query_id AND f.neighbor_id = t.neighbor_id
       |  GROUP BY f.query_id)
       |SELECT q.query_id, COALESCE(kept.n_kept, 0) AS n_kept,
       |  round(COALESCE(kept.n_kept, 0) / CAST($k AS DOUBLE), 4) AS recall_at_k
       |FROM qs q LEFT JOIN kept ON q.query_id = kept.query_id
       |ORDER BY q.query_id""".stripMargin
  }

  val SemDedupTau = 0.4

  /** SemDeDup-style semantic deduplication: cluster with the k-means
    * coarse quantizer, then drop near-duplicate EMBEDDINGS — pairs
    * with cosine ≥ [[SemDedupTau]] inside the SAME cluster, each dup
    * keeping its lowest-id qualifying neighbor as the survivor. One
    * row per removed vector (the training-set delete list).
    *
    * The cluster restriction is the scale contract: pairing is
    * per-list (≈ n/numLists(n) rows each) instead of a corpus cross
    * join — the SemDeDup observation that true semantic dups land in
    * the same cluster, trading the recall of the exact O(n²) pass
    * ([[graft.ext.Dedup.embeddingNearDup]]) for per-cluster cost,
    * exactly like the LSH-bucketed variant trades on bucket
    * collisions. With a FIXED cluster count, though, per-list
    * all-pairs is still quadratic in the corpus (the 100× probe
    * measured 94×), so lists above [[graft.ext.Dedup.MaxBucket]]
    * members pair STAR — members against the list's min id only —
    * the same cap the whole LSH pair family carries; the production
    * fix is growing k with the corpus (k ≈ n / target-cluster-size),
    * which keeps every list under the cap with no recall loss.
    * Keeper choice is the same min-id discipline as the exact/minhash
    * dedup family, so delete lists compose. */
  def semanticDedup(spark: SparkSession, dir: String): DataFrame = {
    val members = withAssignments(spark, dir)
      .filter(col("probe_rank") === 1)
      .select(col("list_id"), col("vec_id"), col("v"), col("nrm"))
    // star-cap oversized lists (see scaladoc): the 100× probe measured
    // 94× without it — a fixed cluster count makes all-pairs quadratic
    graft.ext.Dedup.cappedBucketPairs(members, Seq("list_id"), "vec_id",
        Seq("v", "nrm", "list_id"), graft.ext.Dedup.MaxBucket)
      .select(col("list_id1").as("list_id"), col("d1").as("a_id"),
        col("d2").as("b_id"),
        cos6(dot(col("v1"), col("v2")), col("nrm1"), col("nrm2"))
          .as("cos_sim"))
      .filter(col("cos_sim") >= SemDedupTau)
      // keeper = the LOWEST qualifying id; min over (a_id, cos) tuples
      // picks it plus the cosine to it in one hash aggregate
      .groupBy(col("b_id"))
      .agg(min(struct(col("a_id"), col("cos_sim"), col("list_id"))).as("k"))
      .select(col("b_id").as("vec_id"), col("k.a_id").as("keeper_id"),
        col("k.cos_sim").as("cos_to_keeper"),
        col("k.list_id").cast("long").as("list_id"))
      .orderBy("vec_id")
  }

  def semanticDedupOracle: String =
    s"""WITH $ivfCommonSql,
       |members AS (SELECT list_id, vec_id, v, nrm FROM scoredc WHERE probe_rank = 1),
       |sized AS (SELECT m.*, COUNT(*) OVER (PARTITION BY list_id) AS bn
       |  FROM members m),
       |pairs AS (
       |  SELECT a.list_id, a.vec_id AS a_id, b.vec_id AS b_id,
       |    round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 6) AS cos_sim
       |  FROM sized a JOIN sized b
       |    ON a.list_id = b.list_id AND a.vec_id < b.vec_id
       |  WHERE a.bn <= ${graft.ext.Dedup.MaxBucket}
       |  UNION ALL
       |  SELECT r.list_id, r.a_id, m.vec_id,
       |    round(list_dot_product(r.v, m.v) / (r.nrm * m.nrm), 6)
       |  FROM (SELECT list_id, MIN(vec_id) AS a_id, arg_min(v, vec_id) AS v,
       |          arg_min(nrm, vec_id) AS nrm
       |        FROM sized WHERE bn > ${graft.ext.Dedup.MaxBucket}
       |        GROUP BY list_id) r
       |  JOIN sized m ON m.list_id = r.list_id AND m.vec_id > r.a_id),
       |q AS (SELECT *, row_number() OVER (PARTITION BY b_id ORDER BY a_id) AS rk
       |  FROM pairs WHERE cos_sim >= $SemDedupTau)
       |SELECT b_id AS vec_id, a_id AS keeper_id, cos_sim AS cos_to_keeper,
       |  CAST(list_id AS BIGINT) AS list_id
       |FROM q WHERE rk = 1 ORDER BY vec_id""".stripMargin

  def annLshOracle: String =
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |proj AS (SELECT vec_id, p,
       |    list_sum(list_transform(range(len(v)), j ->
       |      v[j+1] * (CASE WHEN (j * 2654435761 + p * 40503) % 97 % 2 = 0
       |                     THEN 1.0 ELSE -1.0 END))) AS s
       |  FROM e CROSS JOIN range(${NumPlanes}) r(p)),
       |bucket AS (SELECT vec_id,
       |    CAST(SUM(CASE WHEN s > 0 THEN (1::BIGINT << p) ELSE 0 END) AS BIGINT) AS bucket
       |  FROM proj GROUP BY vec_id),
       |n AS (SELECT e.vec_id, e.v, sqrt(list_dot_product(e.v, e.v)) AS nrm, b.bucket
       |  FROM e JOIN bucket b ON e.vec_id = b.vec_id),
       |scored AS (SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
       |    round(list_dot_product(q.v, e.v) / (q.nrm * e.nrm), 6) AS cos_sim
       |  FROM n q JOIN n e ON q.bucket = e.bucket AND e.vec_id <> q.vec_id
       |  WHERE q.vec_id < 5),
       |ranked AS (SELECT query_id, neighbor_id, cos_sim,
       |    row_number() OVER (PARTITION BY query_id
       |                       ORDER BY cos_sim DESC, neighbor_id) AS rk
       |  FROM scored)
       |SELECT query_id, neighbor_id, cos_sim, CAST(rk AS BIGINT) AS rk
       |FROM ranked WHERE rk <= 5 ORDER BY query_id, rk""".stripMargin

  /** ANN recall audit — the measurement every approximate index needs
    * before it replaces the exact path: per query, what fraction of the
    * TRUE top-10 (brute force) the LSH index's top-10 recovers.
    * Composes the two existing operators with one left join + aggregate
    * (both sides are ≤ numQueries·k rows, so the audit itself is
    * negligible at any corpus size — the expensive parts are the
    * operators being audited). Recall is count/count in one IEEE
    * division — engine-exact. */
  def annRecallAudit(spark: SparkSession, dir: String): DataFrame = {
    val exact = bruteForceTopK(spark, dir, numQueries = 5, k = 10)
      .select("query_id", "neighbor_id")
    val ann = annLsh(spark, dir, numQueries = 5, k = 10)
      .select(col("query_id").as("a_q"), col("neighbor_id").as("a_n"))
    exact.join(broadcast(ann),
        col("query_id") === col("a_q") && col("neighbor_id") === col("a_n"),
        "left")
      .groupBy("query_id")
      .agg(count(lit(1)).as("n_exact"), count(col("a_n")).as("n_hit"),
        (count(col("a_n")).cast("double") / count(lit(1))).as("recall"))
      .orderBy("query_id")
  }

  def annRecallAuditOracle: String =
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |n0 AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
       |exact AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT q.vec_id AS query_id, x.vec_id AS neighbor_id,
       |      row_number() OVER (PARTITION BY q.vec_id
       |        ORDER BY round(list_dot_product(q.v, x.v) / (q.nrm * x.nrm), 6) DESC,
       |                 x.vec_id) AS rk
       |    FROM n0 q, n0 x WHERE q.vec_id < 5 AND x.vec_id <> q.vec_id) t
       |  WHERE rk <= 10),
       |proj AS (SELECT vec_id, p,
       |    list_sum(list_transform(range(len(v)), j ->
       |      v[j+1] * (CASE WHEN (j * 2654435761 + p * 40503) % 97 % 2 = 0
       |                     THEN 1.0 ELSE -1.0 END))) AS s
       |  FROM e CROSS JOIN range(${NumPlanes}) r(p)),
       |bucket AS (SELECT vec_id,
       |    CAST(SUM(CASE WHEN s > 0 THEN (1::BIGINT << p) ELSE 0 END) AS BIGINT) AS bucket
       |  FROM proj GROUP BY vec_id),
       |nb AS (SELECT n0.vec_id, n0.v, n0.nrm, b.bucket
       |  FROM n0 JOIN bucket b ON n0.vec_id = b.vec_id),
       |ann AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT q.vec_id AS query_id, x.vec_id AS neighbor_id,
       |      row_number() OVER (PARTITION BY q.vec_id
       |        ORDER BY round(list_dot_product(q.v, x.v) / (q.nrm * x.nrm), 6) DESC,
       |                 x.vec_id) AS rk
       |    FROM nb q JOIN nb x ON q.bucket = x.bucket AND x.vec_id <> q.vec_id
       |    WHERE q.vec_id < 5) t
       |  WHERE rk <= 10)
       |SELECT ex.query_id, COUNT(*) AS n_exact,
       |  COUNT(a.neighbor_id) AS n_hit,
       |  CAST(COUNT(a.neighbor_id) AS DOUBLE) / COUNT(*) AS recall
       |FROM exact ex LEFT JOIN ann a
       |  ON ex.query_id = a.query_id AND ex.neighbor_id = a.neighbor_id
       |GROUP BY ex.query_id ORDER BY ex.query_id""".stripMargin

  /** Graded retrieval evaluation of the LSH-ANN arm against the exact
    * ranking — NDCG@k + reciprocal rank per query, the IR-eval step a
    * retrieval pipeline runs beyond plain recall (recall treats the
    * 1st and 10th true neighbor as equal; NDCG charges the index for
    * returning them in the wrong ORDER, RR for how deep the first
    * true neighbor sits). Relevance grades are positional: the exact
    * rank-r neighbor carries rel = k+1−r, anything outside the exact
    * top-k carries 0. Each DCG term rel/log2(rank+1) is rounded to 9
    * and decimal-summed (order-free), DCG/IDCG rounded to 6 before
    * the final division, so both engines agree digit-for-digit.
    *
    * Scale shape: both arms are the existing bounded retrievals
    * (broadcast query set, heap top-k — nothing new is scanned); the
    * eval itself joins two queries×k frames and aggregates to one row
    * per query. A query whose probe bucket came back empty still
    * reports (exact spine, LEFT join): dcg = ndcg = rr = 0 — graded
    * zeros, never a dropped row. */
  def rankEvalNdcg(spark: SparkSession, dir: String,
                   numQueries: Int = 5, k: Int = 10): DataFrame = {
    def d12(c: Column): Column =
      sum(c.cast(org.apache.spark.sql.types.DecimalType(38, 12)))
        .cast("double")
    val exact = bruteForceTopK(spark, dir, numQueries, k)
      .select(col("query_id"), col("neighbor_id"),
        (lit(k + 1L) - col("rk")).as("rel"), col("rk"))
    val idcg = exact
      .select(col("query_id"),
        round(col("rel").cast("double") /
          log2(col("rk").cast("double") + 1.0), 9).as("term"))
      .groupBy("query_id")
      .agg(round(d12(col("term")), 6).as("idcg"),
        count(lit(1)).as("n_rel"))
    val ann = annLsh(spark, dir, numQueries, k)
      .select(col("query_id"), col("neighbor_id"), col("rk").as("a_rk"))
    val scored = ann
      .join(exact.select("query_id", "neighbor_id", "rel"),
        Seq("query_id", "neighbor_id"), "left")
      .withColumn("rel0", coalesce(col("rel"), lit(0L)))
    val perQuery = scored
      .groupBy("query_id")
      .agg(
        round(d12(round(col("rel0").cast("double") /
          log2(col("a_rk").cast("double") + 1.0), 9)), 6).as("dcg"),
        min(when(col("rel0") > 0, col("a_rk"))).as("first_hit_rank"))
    idcg.join(perQuery, Seq("query_id"), "left")
      .select(col("query_id"), col("n_rel"),
        coalesce(col("dcg"), lit(0.0)).as("dcg"), col("idcg"),
        when(col("idcg") > 0,
          round(coalesce(col("dcg"), lit(0.0)) / col("idcg"), 6))
          .otherwise(0.0).as("ndcg"),
        coalesce(round(lit(1.0) / col("first_hit_rank"), 6), lit(0.0))
          .as("rr"))
      .orderBy("query_id")
  }

  def rankEvalNdcgOracle: String =
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |n0 AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
       |exact AS (
       |  SELECT query_id, neighbor_id, 11 - rk AS rel, rk FROM (
       |    SELECT q.vec_id AS query_id, x.vec_id AS neighbor_id,
       |      row_number() OVER (PARTITION BY q.vec_id
       |        ORDER BY round(list_dot_product(q.v, x.v) / (q.nrm * x.nrm), 6) DESC,
       |                 x.vec_id) AS rk
       |    FROM n0 q, n0 x WHERE q.vec_id < 5 AND x.vec_id <> q.vec_id) t
       |  WHERE rk <= 10),
       |idcg AS (SELECT query_id,
       |    round(CAST(SUM(CAST(round(CAST(rel AS DOUBLE) / log2(rk + 1.0), 9)
       |      AS DECIMAL(38,12))) AS DOUBLE), 6) AS idcg,
       |    CAST(COUNT(*) AS BIGINT) AS n_rel
       |  FROM exact GROUP BY query_id),
       |proj AS (SELECT vec_id, p,
       |    list_sum(list_transform(range(len(v)), j ->
       |      v[j+1] * (CASE WHEN (j * 2654435761 + p * 40503) % 97 % 2 = 0
       |                     THEN 1.0 ELSE -1.0 END))) AS s
       |  FROM e CROSS JOIN range(${NumPlanes}) r(p)),
       |bucket AS (SELECT vec_id,
       |    CAST(SUM(CASE WHEN s > 0 THEN (1::BIGINT << p) ELSE 0 END) AS BIGINT) AS bucket
       |  FROM proj GROUP BY vec_id),
       |nb AS (SELECT n0.vec_id, n0.v, n0.nrm, b.bucket
       |  FROM n0 JOIN bucket b ON n0.vec_id = b.vec_id),
       |ann AS (
       |  SELECT query_id, neighbor_id, rk AS a_rk FROM (
       |    SELECT q.vec_id AS query_id, x.vec_id AS neighbor_id,
       |      row_number() OVER (PARTITION BY q.vec_id
       |        ORDER BY round(list_dot_product(q.v, x.v) / (q.nrm * x.nrm), 6) DESC,
       |                 x.vec_id) AS rk
       |    FROM nb q JOIN nb x ON q.bucket = x.bucket AND x.vec_id <> q.vec_id
       |    WHERE q.vec_id < 5) t
       |  WHERE rk <= 10),
       |scored AS (SELECT a.query_id, a.a_rk,
       |    COALESCE(ex.rel, 0) AS rel0
       |  FROM ann a LEFT JOIN exact ex
       |    ON ex.query_id = a.query_id AND ex.neighbor_id = a.neighbor_id),
       |pq AS (SELECT query_id,
       |    round(CAST(SUM(CAST(round(CAST(rel0 AS DOUBLE) / log2(a_rk + 1.0), 9)
       |      AS DECIMAL(38,12))) AS DOUBLE), 6) AS dcg,
       |    MIN(CASE WHEN rel0 > 0 THEN a_rk END) AS first_hit_rank
       |  FROM scored GROUP BY query_id)
       |SELECT i.query_id, i.n_rel,
       |  COALESCE(pq.dcg, 0.0) AS dcg, i.idcg,
       |  CASE WHEN i.idcg > 0
       |    THEN round(COALESCE(pq.dcg, 0.0) / i.idcg, 6) ELSE 0.0
       |  END AS ndcg,
       |  COALESCE(round(1.0 / pq.first_hit_rank, 6), 0.0) AS rr
       |FROM idcg i LEFT JOIN pq ON pq.query_id = i.query_id
       |ORDER BY i.query_id""".stripMargin

  /** Per-label centroid + cohesion audit: the element-wise mean
    * vector of each label's members and the members' average cosine
    * to it — "are my classes/clusters tight", the embedding-quality
    * dashboard behind any label-conditioned filtering. Shape: one
    * posexplode → (label, pos) hash agg for the means (decimal-exact
    * sums, order-free), centroids reassembled by sorted collect on
    * the tiny (labels × dims) frame and broadcast back for the
    * cohesion pass — the corpus shuffles once (posexplode agg),
    * vectors never pairwise. */
  def embeddingCentroids(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val e = embeddingsD(spark, dir)
    val cent = e.select(col("label"), posexplode(col("v")).as(Seq("pos", "x")))
      .groupBy("label", "pos")
      .agg((sum(col("x").cast(DecimalType(38, 18))).cast("double") /
        count(lit(1))).as("m"))
      .groupBy("label")
      .agg(expr("transform(array_sort(collect_list(struct(pos, m))), s -> round(s.m, 9))")
        .as("cv"))
      .select(col("label"), col("cv"), norm(col("cv")).as("cn"))
    e.join(broadcast(cent), Seq("label"))
      .select(col("label"), col("cn"),
        cos6(dot(col("v"), col("cv")), norm(col("v")), col("cn")).as("cos"))
      .groupBy("label")
      .agg(count(lit(1)).as("n_vecs"),
        round(first(col("cn")), 6).as("centroid_norm"),
        round(sum(col("cos").cast(DecimalType(28, 12))).cast("double") /
          count(lit(1)), 6).as("avg_cos_to_centroid"))
      .orderBy("label")
  }

  def embeddingCentroidsOracle: String =
    """WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
      |  FROM embeddings),
      |el AS (SELECT label, pos, v[pos + 1] AS x
      |  FROM (SELECT label, v, unnest(range(len(v))) AS pos FROM e) t),
      |cm AS (SELECT label, pos,
      |    CAST(SUM(CAST(x AS DECIMAL(38,18))) AS DOUBLE) / COUNT(*) AS m
      |  FROM el GROUP BY label, pos),
      |cv AS (SELECT label, list(round(m, 9) ORDER BY pos) AS cv FROM cm
      |  GROUP BY label),
      |cn AS (SELECT label, cv, sqrt(list_dot_product(cv, cv)) AS cn FROM cv),
      |scored AS (SELECT e.label, cn.cn,
      |    round(list_dot_product(e.v, cn.cv) /
      |          (sqrt(list_dot_product(e.v, e.v)) * cn.cn), 6) AS cos
      |  FROM e JOIN cn USING (label))
      |SELECT label, CAST(COUNT(*) AS BIGINT) AS n_vecs,
      |  round(MAX(cn), 6) AS centroid_norm,
      |  round(CAST(SUM(CAST(cos AS DECIMAL(28,12))) AS DOUBLE) / COUNT(*), 6)
      |    AS avg_cos_to_centroid
      |FROM scored GROUP BY label ORDER BY label""".stripMargin

  /** L2-normalization of every embedding — the standard pre-step
    * before cosine indexing (normalize once, then cosine = plain
    * dot). Pure projection over one scan: zero shuffle, norm via the
    * codegen'd dot kernel; at 100 TB this is a single
    * read-transform-write pass that parallelizes per file split.
    * Unit-vector elements are rounded to 6 decimals and the vector is
    * emitted as a comma-joined fixed-format string (the gate's
    * comparator hashes scalar columns only — raw array columns are
    * unhashable on the oracle side; "%.6f" on the pre-rounded value
    * is tie-free, so Spark and DuckDB print identical digits). */
  def embeddingNormalize(spark: SparkSession, dir: String): DataFrame =
    embeddingsD(spark, dir)
      .select(col("vec_id"), col("v"), norm(col("v")).as("nrm"))
      .select(col("vec_id"),
        size(col("v")).cast("long").as("n_dims"),
        round(col("nrm"), 9).as("l2_norm"),
        array_join(
          transform(col("v"), x => format_string("%.6f", round(x / col("nrm"), 6))),
          ",").as("unit"))
      .orderBy("vec_id")

  def embeddingNormalizeOracle: String =
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e)
      |SELECT vec_id, CAST(len(v) AS BIGINT) AS n_dims,
      |  round(nrm, 9) AS l2_norm,
      |  array_to_string(list_transform(v, x -> printf('%.6f', round(x / nrm, 6))), ',')
      |    AS unit
      |FROM n ORDER BY vec_id""".stripMargin

  /** Embedding-space outlier screen: vectors whose cosine to their
    * OWN label's centroid falls below mean − 2σ of that label's
    * cosine distribution — the O(n) mislabeled/noise-vector filter a
    * curation pipeline runs before any label-conditioned training
    * step ([[knnLabelAudit]] catches the same class by neighbor vote
    * at O(n·k) pairwise cost; this is the scale-path first pass).
    *
    * Shape: the [[embeddingCentroids]] derivation (one posexplode hash
    * agg → labels×dims frame, centroids broadcast), one scoring scan
    * (cosine rounded to 6 via [[cos6]]), then per-label mean/σ from
    * exact decimal sums of the rounded scores — sample variance via
    * the sufficient-statistics identity, so the threshold is one IEEE
    * expression over exact sums and both engines derive the same
    * double. Labels with a single member have no sample σ and flag
    * nothing (NULL threshold — mirrored CASE in the oracle). Output
    * is outliers only: at 100 TB the corpus shuffles once (the
    * centroid agg), everything else is broadcast joins against
    * |labels|-sized frames. */
  def embeddingOutliers(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val e = embeddingsD(spark, dir)
    val cent = e.select(col("label"), posexplode(col("v")).as(Seq("pos", "x")))
      .groupBy("label", "pos")
      .agg((sum(col("x").cast(DecimalType(38, 18))).cast("double") /
        count(lit(1))).as("m"))
      .groupBy("label")
      .agg(expr("transform(array_sort(collect_list(struct(pos, m))), s -> round(s.m, 9))")
        .as("cv"))
      .select(col("label"), col("cv"), norm(col("cv")).as("cn"))
    val scored = e.join(broadcast(cent), Seq("label"))
      .select(col("vec_id"), col("label"),
        cos6(dot(col("v"), col("cv")), norm(col("v")), col("cn")).as("cos"))
    val c6 = col("cos").cast(DecimalType(18, 6))
    // the centered second moment can land ~±n·c²·4e-16 NEGATIVE by
    // double cancellation when every cosine in a label is identical —
    // sqrt would be NaN, and NaN sorts above every double in BOTH
    // engines, so `cos < mu − 2·NaN-σ` would flag the WHOLE label,
    // inverting the degenerate-label contract; a σ=0 label honestly
    // has nothing below its mean, so it flags nothing (NULL sd)
    val cvar = col("s2") - col("s1") * col("s1") / col("n")
    val stats = scored.groupBy("label")
      .agg(count(lit(1)).as("n"),
        sum(c6).cast("double").as("s1"),
        sum(c6 * c6).cast("double").as("s2"))
      .select(col("label"), (col("s1") / col("n")).as("mu"),
        when(col("n") > 1 && cvar > 0,
          sqrt(cvar / (col("n") - 1))).as("sd"))
    scored.join(broadcast(stats), Seq("label"))
      .filter(col("cos") < round(col("mu") - lit(2.0) * col("sd"), 9))
      .select(col("vec_id"), col("label"), col("cos").as("cos_sim"),
        round(col("mu"), 6).as("label_mean"), round(col("sd"), 6).as("label_std"))
      .orderBy("vec_id")
  }

  def embeddingOutliersOracle: String =
    """WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
      |  FROM embeddings),
      |el AS (SELECT label, pos, v[pos + 1] AS x
      |  FROM (SELECT label, v, unnest(range(len(v))) AS pos FROM e) t),
      |cm AS (SELECT label, pos,
      |    CAST(SUM(CAST(x AS DECIMAL(38,18))) AS DOUBLE) / COUNT(*) AS m
      |  FROM el GROUP BY label, pos),
      |cv AS (SELECT label, list(round(m, 9) ORDER BY pos) AS cv FROM cm
      |  GROUP BY label),
      |cn AS (SELECT label, cv, sqrt(list_dot_product(cv, cv)) AS cn FROM cv),
      |scored AS (SELECT e.vec_id, e.label,
      |    round(list_dot_product(e.v, cn.cv) /
      |          (sqrt(list_dot_product(e.v, e.v)) * cn.cn), 6) AS cos
      |  FROM e JOIN cn USING (label)),
      |st AS (SELECT label, COUNT(*) AS n,
      |    CAST(SUM(CAST(cos AS DECIMAL(18,6))) AS DOUBLE) AS s1,
      |    CAST(SUM(CAST(cos AS DECIMAL(18,6)) * CAST(cos AS DECIMAL(18,6)))
      |      AS DOUBLE) AS s2
      |  FROM scored GROUP BY label),
      |thr AS (SELECT label, s1 / n AS mu,
      |    CASE WHEN n > 1 AND (s2 - s1 * s1 / n) > 0
      |         THEN sqrt((s2 - s1 * s1 / n) / (n - 1)) END AS sd
      |  FROM st)
      |SELECT sc.vec_id, sc.label, sc.cos AS cos_sim,
      |  round(t.mu, 6) AS label_mean, round(t.sd, 6) AS label_std
      |FROM scored sc JOIN thr t USING (label)
      |WHERE sc.cos < round(t.mu - 2.0 * t.sd, 9)
      |ORDER BY sc.vec_id""".stripMargin

  // ── semantic decontamination: eval-set leakage in embedding space ──

  /** Eval-slice selector: every 41st vec_id — deterministic, id-pure,
    * the stand-in for a fixed benchmark suite. */
  val DecontamEvalMod = 41

  /** Hard cap on the eval set: at most the first [[DecontamEvalCap]]
    * selected ids. A benchmark suite is FIXED-SIZE — it does not grow
    * with the corpus — and without the cap the mod selector alone
    * would make the scored scan O(n²/mod) as the corpus scales (the
    * 10× probe showed exactly that shape before the cap). With it,
    * the eval side is ≤ [[DecontamEvalCap]] rows no matter the
    * corpus: broadcast by construction, scan O(n·cap). */
  val DecontamEvalCap = 256

  /** Contamination verdict threshold on the rounded cosine. */
  val DecontamTau = 0.8

  /** Semantic decontamination: for every EVAL vector, its nearest
    * TRAIN vector by cosine and a contaminated verdict — the
    * embedding-space companion to the n-gram scan
    * ([[TextAnalysis.decontaminateNgrams]]): paraphrased or
    * re-templated benchmark items share no 8-gram but sit at
    * cosine ≈ 1, and THIS pass is how they're caught before an eval
    * score is trusted. The eval set is the bounded side by
    * construction (a benchmark suite, not a corpus slice), so it
    * broadcasts and the train corpus is touched ONCE — the scored
    * scan collapses through the native bounded-heap top-1, shipping
    * tasks × |eval| rows, never the O(n·|eval|) scored frame. The
    * report is |eval| rows: nearest train id, its cosine, the
    * verdict — the audit artifact an eval release gates on. */
  def decontaminateSemantic(spark: SparkSession, dir: String): DataFrame = {
    val e = embeddingsD(spark, dir)
      .select(col("vec_id"), col("v"), norm(col("v")).as("nrm"))
    val q = e.filter(col("vec_id") % DecontamEvalMod === 0 &&
        col("vec_id") < DecontamEvalMod.toLong * DecontamEvalCap)
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("nrm").as("qn"))
    val scored = spread(e.filter(!(col("vec_id") % DecontamEvalMod === 0 &&
        col("vec_id") < DecontamEvalMod.toLong * DecontamEvalCap)))
      .crossJoin(broadcast(q))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        cos6(dot(col("qv"), col("v")), col("qn"), col("nrm")).as("cos_sim"))
    topKPerQuery(scored, 1)
      .select(col("query_id").as("eval_id"),
        col("neighbor_id").as("nearest_train_id"), col("cos_sim"),
        (col("cos_sim") >= DecontamTau).as("contaminated"))
      .orderBy("eval_id")
  }

  def decontaminateSemanticOracle: String =
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
       |  FROM embeddings),
       |n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
       |scored AS (SELECT q.vec_id AS eval_id, t.vec_id AS neighbor_id,
       |    round(list_dot_product(q.v, t.v) / (q.nrm * t.nrm), 6) AS cos_sim
       |  FROM n q, n t
       |  WHERE q.vec_id % $DecontamEvalMod = 0
       |    AND q.vec_id < ${DecontamEvalMod.toLong * DecontamEvalCap}
       |    AND NOT (t.vec_id % $DecontamEvalMod = 0
       |      AND t.vec_id < ${DecontamEvalMod.toLong * DecontamEvalCap})),
       |ranked AS (SELECT eval_id, neighbor_id, cos_sim,
       |    row_number() OVER (PARTITION BY eval_id
       |                       ORDER BY cos_sim DESC, neighbor_id) AS rk
       |  FROM scored)
       |SELECT eval_id, neighbor_id AS nearest_train_id, cos_sim,
       |  cos_sim >= $DecontamTau AS contaminated
       |FROM ranked WHERE rk = 1 ORDER BY eval_id""".stripMargin

  /** Per-dimension encoder-drift audit between the standing corpus
    * and the delta batch (the [[Dedup.DeltaMod]] slice — "today's
    * ingest"): Welch t per coordinate on exact decimal sufficient
    * statistics. A silently swapped or re-finetuned encoder shifts
    * coordinate means long before any downstream metric moves, and a
    * mixed-encoder embedding table poisons every ANN index built on
    * it — THIS is the gate that catches it at ingest. One posexplode
    * pass collapsing to a d-row frame via map-side-combined
    * conditional aggregates (base and delta in the SAME pass — the
    * corpus is scanned once, nothing joins); every moment is a
    * decimal-exact sum, and the variance term carries the > 0
    * cancellation guard (an all-identical dimension reports NULL t,
    * never NaN). */
  def embeddingBatchDrift(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    def d18(c: Column): Column = sum(c.cast(DecimalType(38, 18))).cast("double")
    val isDelta = col("vec_id") % Dedup.DeltaMod === (Dedup.DeltaMod - 1)
    val cells = embeddingsD(spark, dir)
      .select(isDelta.as("is_delta"), posexplode(col("v")).as(Seq("dim", "x")))
      .groupBy("dim")
      .agg(sum(when(!col("is_delta"), 1L).otherwise(0L)).as("nb"),
        d18(when(!col("is_delta"), col("x"))).as("sb"),
        d18(when(!col("is_delta"), col("x") * col("x"))).as("qb"),
        sum(when(col("is_delta"), 1L).otherwise(0L)).as("nd"),
        d18(when(col("is_delta"), col("x"))).as("sd"),
        d18(when(col("is_delta"), col("x") * col("x"))).as("qd"))
    val mb = col("sb") / col("nb")
    val md = col("sd") / col("nd")
    val vb = (col("qb") - col("sb") * col("sb") / col("nb")) / (col("nb") - 1)
    val vd = (col("qd") - col("sd") * col("sd") / col("nd")) / (col("nd") - 1)
    val se2 = vb / col("nb") + vd / col("nd")
    val t = when(col("nb") > 1 && col("nd") > 1 && se2 > 0,
      round((md - mb) / sqrt(se2), 6))
    cells.select(col("dim").cast("long").as("dim"),
        col("nb").as("n_base"), col("nd").as("n_delta"),
        round(mb, 6).as("mean_base"), round(md, 6).as("mean_delta"),
        round(md - mb, 6).as("shift"), t.as("t_stat"),
        coalesce(abs(t) > 4.0, lit(false)).as("drifted"))
      .orderBy("dim")
  }

  def embeddingBatchDriftOracle: String =
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
       |  FROM embeddings),
       |el AS (SELECT vec_id % ${Dedup.DeltaMod} = ${Dedup.DeltaMod - 1}
       |      AS is_delta, pos, v[pos + 1] AS x
       |  FROM (SELECT vec_id, v, unnest(range(len(v))) AS pos FROM e) t),
       |cells AS (SELECT pos AS dim,
       |    CAST(SUM(CASE WHEN NOT is_delta THEN 1 ELSE 0 END) AS BIGINT) AS nb,
       |    CAST(SUM(CAST(CASE WHEN NOT is_delta THEN x END
       |      AS DECIMAL(38,18))) AS DOUBLE) AS sb,
       |    CAST(SUM(CAST(CASE WHEN NOT is_delta THEN x * x END
       |      AS DECIMAL(38,18))) AS DOUBLE) AS qb,
       |    CAST(SUM(CASE WHEN is_delta THEN 1 ELSE 0 END) AS BIGINT) AS nd,
       |    CAST(SUM(CAST(CASE WHEN is_delta THEN x END
       |      AS DECIMAL(38,18))) AS DOUBLE) AS sd,
       |    CAST(SUM(CAST(CASE WHEN is_delta THEN x * x END
       |      AS DECIMAL(38,18))) AS DOUBLE) AS qd
       |  FROM el GROUP BY pos),
       |m AS (SELECT dim, nb, nd, sb / nb AS mb, sd / nd AS md,
       |    (qb - sb * sb / nb) / (nb - 1) AS vb,
       |    (qd - sd * sd / nd) / (nd - 1) AS vd
       |  FROM cells),
       |w AS (SELECT dim, nb, nd, mb, md,
       |    CASE WHEN nb > 1 AND nd > 1 AND (vb / nb + vd / nd) > 0
       |         THEN round((md - mb) / sqrt(vb / nb + vd / nd), 6) END AS t
       |  FROM m)
       |SELECT CAST(dim AS BIGINT) AS dim, nb AS n_base, nd AS n_delta,
       |  round(mb, 6) AS mean_base, round(md, 6) AS mean_delta,
       |  round(md - mb, 6) AS shift, t AS t_stat,
       |  COALESCE(abs(t) > 4.0, false) AS drifted
       |FROM w ORDER BY dim""".stripMargin

  /** Per-dimension embedding health profile: mean, standard
    * deviation, min/max, and a dead-dimension flag for every
    * coordinate — the sanity dashboard read before trusting an
    * embedding table (a dead dim means a truncated model export; a
    * runaway max means un-normalized raw logits leaked in). One
    * posexplode pass collapsing to a d-row frame via map-side
    * partials — the [[quantizeEmbeddings]] scan shape; every moment
    * is a decimal-exact sum, so the d-row report is
    * partition-order-free. */
  def embeddingDimProfile(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    def dsum(c: Column): Column =
      sum(c.cast(DecimalType(38, 18))).cast("double")
    embeddingsD(spark, dir)
      .select(posexplode(col("v")).as(Seq("dim", "x")))
      .groupBy(col("dim"))
      .agg(count(lit(1)).as("n"), dsum(col("x")).as("sx"),
        dsum(col("x") * col("x")).as("sxx"),
        round(min(col("x")), 6).as("min_x"),
        round(max(col("x")), 6).as("max_x"))
      .select(col("dim").cast("long").as("dim"), col("n"),
        round(col("sx") / col("n"), 6).as("mean_x"),
        round(sqrt((col("sxx") - col("sx") * col("sx") / col("n")) / col("n")), 6)
          .as("sd_x"),
        col("min_x"), col("max_x"))
      .withColumn("dead_dim", col("sd_x") < 1e-6)
      .orderBy("dim")
  }

  def embeddingDimProfileOracle: String =
    """WITH e AS (SELECT CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |el AS (SELECT pos AS dim, v[pos + 1] AS x
      |  FROM (SELECT v, unnest(range(len(v))) AS pos FROM e) t),
      |m AS (SELECT dim, CAST(COUNT(*) AS BIGINT) AS n,
      |    CAST(SUM(CAST(x AS DECIMAL(38,18))) AS DOUBLE) AS sx,
      |    CAST(SUM(CAST(x * x AS DECIMAL(38,18))) AS DOUBLE) AS sxx,
      |    round(MIN(x), 6) AS min_x, round(MAX(x), 6) AS max_x
      |  FROM el GROUP BY dim)
      |SELECT dim, n, round(sx / n, 6) AS mean_x,
      |  round(sqrt((sxx - sx * sx / n) / n), 6) AS sd_x, min_x, max_x,
      |  round(sqrt((sxx - sx * sx / n) / n), 6) < 0.000001 AS dead_dim
      |FROM m ORDER BY dim""".stripMargin

  // ── PCA: top principal component by power iteration ──

  val PcaDims = 16
  val PcaIters = 3

  /** Top principal component of the embedding cloud (leading
    * [[PcaDims]] dims) by [[PcaIters]] power iterations — the
    * dimensionality/anisotropy probe run before whitening or index
    * tuning; the dominant eigenvalue says how much variance a single
    * direction hoards. Scale shape: the ONLY input-sized work is one
    * pass that nested-posexplodes each vector into its d² coordinate
    * pairs and partial-aggregates straight down to the d²-row Gram
    * matrix (no self-join, no shuffle wider than d² groups); the
    * covariance, the iteration loop, and the normalizations all run on
    * ≤ d²-row frames with broadcast joins. Determinism: Gram sums and
    * mean sums through DECIMAL(38,18); covariance rounded to 12;
    * per-iteration products rounded to 12 then decimal-summed; the
    * vector re-rounded to 9 after each normalize — the oracle unrolls
    * the same three iterations and hashes identically (power iteration
    * from the fixed positive start vector has no sign ambiguity). */
  def pcaPowerEmbeddings(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    def dsum(c: Column): Column =
      sum(c.cast(DecimalType(38, 18))).cast("double")
    def dsum12(c: Column): Column =
      sum(round(c, 12).cast(DecimalType(28, 14))).cast("double")
    val e = embeddingsD(spark, dir)
      .select(col("vec_id"), slice(col("v"), 1, PcaDims).as("v"))
    val coords = e.select(col("vec_id"), col("v"),
        posexplode(col("v")).as(Seq("p", "xi")))
      .select(col("vec_id"), col("v"), (col("p") + 1).as("i"), col("xi"))
    val gram = coords
      .select(col("i"), col("xi"), posexplode(col("v")).as(Seq("q", "xj")))
      .select(col("i"), (col("q") + 1).as("j"), (col("xi") * col("xj")).as("xx"))
      .groupBy("i", "j").agg(dsum(col("xx")).as("s"))
    val means = coords.groupBy("i")
      .agg((dsum(col("xi")) / count(lit(1))).as("m"))
    val n = e.agg(count(lit(1)).cast("double").as("n"))
    val cov = gram
      .join(broadcast(means.select(col("i"), col("m").as("mi"))), Seq("i"))
      .join(broadcast(means.select(col("i").as("j"), col("m").as("mj"))), Seq("j"))
      .crossJoin(broadcast(n))
      .select(col("i"), col("j"),
        round((col("s") - col("n") * col("mi") * col("mj")) /
          (col("n") - 1), 12).as("c"))
      .localCheckpoint() // the loop below re-reads it PcaIters times
    var w = spark.range(1, PcaDims + 1)
      .select(col("id").as("j"), lit(0.25).as("wj")) // 1/√16: exact
    var nrm = w.agg(lit(1.0).as("nrm"))
    for (_ <- 1 to PcaIters) {
      val u = cov.join(broadcast(w), Seq("j"))
        .groupBy("i").agg(dsum12(col("c") * col("wj")).as("u"))
      nrm = u.agg(sqrt(dsum12(col("u") * col("u"))).as("nrm"))
      w = u.crossJoin(broadcast(nrm))
        .select(col("i").as("j"), round(col("u") / col("nrm"), 9).as("wj"))
    }
    w.crossJoin(broadcast(nrm.select(round(col("nrm"), 6).as("eigenvalue"))))
      .select(col("j").as("dim"), col("wj").as("loading"), col("eigenvalue"))
      .orderBy("dim")
  }

  def pcaPowerEmbeddingsOracle: String = {
    def iter(k: Int): String =
      s"""u$k AS (SELECT cov.i,
         |    CAST(SUM(CAST(round(cov.c * w${k - 1}.wj, 12) AS DECIMAL(28,14)))
         |      AS DOUBLE) AS u
         |  FROM cov JOIN w${k - 1} ON cov.j = w${k - 1}.j GROUP BY cov.i),
         |n$k AS (SELECT sqrt(CAST(SUM(CAST(round(u * u, 12) AS DECIMAL(28,14)))
         |    AS DOUBLE)) AS nrm FROM u$k),
         |w$k AS (SELECT i AS j, round(u / nrm, 9) AS wj FROM u$k, n$k)"""
        .stripMargin
    s"""WITH e AS (SELECT vec_id, (CAST(embedding AS DOUBLE[]))[1:$PcaDims] AS v
       |  FROM embeddings),
       |pi AS (SELECT vec_id, pos + 1 AS i, v[pos + 1] AS x
       |  FROM (SELECT vec_id, v, unnest(range(len(v))) AS pos FROM e) t),
       |gram AS (SELECT a.i, b.i AS j,
       |    CAST(SUM(CAST(a.x * b.x AS DECIMAL(38,18))) AS DOUBLE) AS s
       |  FROM pi a JOIN pi b USING (vec_id) GROUP BY 1, 2),
       |means AS (SELECT i,
       |    CAST(SUM(CAST(x AS DECIMAL(38,18))) AS DOUBLE) / COUNT(*) AS m
       |  FROM pi GROUP BY i),
       |nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM e),
       |cov AS (SELECT g.i, g.j,
       |    round((g.s - nn.n * ma.m * mb.m) / (nn.n - 1), 12) AS c
       |  FROM gram g JOIN means ma ON ma.i = g.i
       |  JOIN means mb ON mb.i = g.j, nn),
       |w0 AS (SELECT unnest(range(1, ${PcaDims + 1})) AS j, 0.25 AS wj),
       |${(1 to PcaIters).map(iter).mkString(",\n")}
       |SELECT w$PcaIters.j AS dim, w$PcaIters.wj AS loading,
       |  round(n$PcaIters.nrm, 6) AS eigenvalue
       |FROM w$PcaIters, n$PcaIters ORDER BY dim""".stripMargin
  }

  // ── int8 scalar quantization: the 4×-compression audit ──

  /** Per-dimension int8 scalar quantization of the embedding column
    * with its reconstruction-error report — the audit run before
    * swapping an ANN index to quantized codes (4× memory cut; is the
    * recall risk acceptable?). Two corpus passes, both posexplode →
    * partial-agg straight to d-row frames (no shuffle wider than the
    * dimension count): pass 1 learns per-dim [min,max]; pass 2 encodes
    * `code = floor((x−min)·255/(max−min) + 0.5)` (floor of +0.5 — NOT
    * round(), whose half-even/half-up convention differs across
    * engines), reconstructs, and aggregates squared error. Per-row
    * err² is rounded to 12 then decimal-summed (partition-order-free);
    * max|err| needs no rounding discipline (max is order-free). At
    * 100 TB the d-row min/max frame is a broadcast and the encode pass
    * is a pure scan — this query IS the scale shape, it just also
    * keeps the error audit. */
  /** Level code for min/max-range scalar quantization at `levels`
    * levels over (x, dmin, dmax) columns — THE encode convention
    * (floor(x+0.5) rounding, zero-width dims code 0) shared by the
    * int8 quantizer and [[quantizeBitsCurve]], so the curve's
    * 255-level point IS the quantizer's arithmetic, structurally. */
  private def quantCode(levels: Column): Column = {
    val width = col("dmax") - col("dmin")
    when(width === 0.0, lit(0L)).otherwise(
      floor((col("x") - col("dmin")) * levels / width + 0.5).cast("long"))
  }

  /** Reconstruction error of `code` at `levels` levels. */
  private def quantErr(code: Column, levels: Column): Column =
    col("x") - (col("dmin") + code * (col("dmax") - col("dmin")) / levels)

  /** SQ8 asymmetric ANN — the serving arm of [[quantizeEmbeddings]],
    * completing the compression family's story the way
    * [[annIvfPq]] completes PQ's: the corpus lives as int8 codes
    * (4× memory cut, no codebook training at all — the step below
    * PQ on the complexity ladder and FAISS's `SQ8` default), queries
    * stay full-precision, and scoring is exact-query vs DEQUANTIZED
    * corpus cosine (asymmetric distance — the error of ONE side, not
    * two). Top-k per query plus the exact-recall@k audit riding every
    * row, so the 8-bit fidelity loss is a measured number next to
    * pq/ivfpq's. Plan: one posexplode pass to the broadcast d-row
    * range table, dequantized vectors reassembled once (values
    * rounded to 9 — both engines rebuild identical arrays), then the
    * brute scoring shape ([[bruteForceTopK]]: broadcast queries, heap
    * top-k, no shuffle of the corpus). At billion scale the same
    * dequantize-scan rides under the IVF router exactly like ADC. */
  def annSq8(spark: SparkSession, dir: String,
             numQueries: Int = 5, k: Int = 5): DataFrame = {
    val e = embeddingsD(spark, dir).select(col("vec_id"), col("v"))
    val pe = e.select(col("vec_id"), posexplode(col("v")).as(Seq("pos", "x")))
    val ranges = pe.groupBy("pos").agg(min("x").as("dmin"), max("x").as("dmax"))
    val dqn = pe.join(broadcast(ranges), Seq("pos"))
      .select(col("vec_id"), col("pos"),
        round(col("dmin") + quantCode(lit(255.0))
          * (col("dmax") - col("dmin")) / 255.0, 9).as("xq"))
      .groupBy("vec_id")
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("xq")))),
        s => s.getField("xq")).as("vq"))
      .select(col("vec_id"), col("vq"), norm(col("vq")).as("nrmq"))
    val q = e.filter(col("vec_id") < numQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        norm(col("v")).as("qn"))
    val scored = spread(dqn)
      .join(broadcast(q), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        cos6(dot(col("qv"), col("vq")), col("qn"), col("nrmq")).as("cos_sim"))
    val approx = topKPerQuery(scored, k)
    val exact = bruteForceTopK(spark, dir, numQueries, k)
      .select(col("query_id"), col("neighbor_id"))
    val hits = approx.select(col("query_id"), col("neighbor_id"))
      .join(exact, Seq("query_id", "neighbor_id"), "semi")
      .groupBy("query_id").agg(count(lit(1)).as("n_hits"))
    approx
      .join(broadcast(hits), Seq("query_id"), "left")
      .select(col("query_id"), col("neighbor_id"), col("cos_sim"), col("rk"),
        round(coalesce(col("n_hits"), lit(0L)) / lit(k.toDouble), 6)
          .as("recall_at_k"))
      .orderBy("query_id", "rk")
  }

  def annSq8Oracle: String =
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |pe AS (SELECT vec_id, pos, v[pos + 1] AS x
      |  FROM (SELECT vec_id, v, unnest(range(len(v))) AS pos FROM e) t),
      |rg AS (SELECT pos, MIN(x) AS dmin, MAX(x) AS dmax FROM pe GROUP BY pos),
      |dq0 AS (SELECT pe.vec_id, pe.pos,
      |    round(rg.dmin + (CASE WHEN rg.dmax - rg.dmin = 0 THEN 0
      |      ELSE CAST(floor((pe.x - rg.dmin) * 255.0 / (rg.dmax - rg.dmin)
      |        + 0.5) AS BIGINT) END) * (rg.dmax - rg.dmin) / 255.0, 9) AS xq
      |  FROM pe JOIN rg USING (pos)),
      |dqn AS (SELECT vec_id, vq, sqrt(list_dot_product(vq, vq)) AS nrmq
      |  FROM (SELECT vec_id, list(xq ORDER BY pos) AS vq FROM dq0
      |        GROUP BY vec_id) d),
      |q AS (SELECT vec_id AS query_id, v AS qv,
      |    sqrt(list_dot_product(v, v)) AS qn FROM e WHERE vec_id < 5),
      |scored AS (SELECT q.query_id, d.vec_id AS neighbor_id,
      |    round(list_dot_product(q.qv, d.vq) / (q.qn * d.nrmq), 6) AS cos_sim
      |  FROM q, dqn d WHERE d.vec_id <> q.query_id),
      |ak AS (SELECT query_id, neighbor_id, cos_sim, CAST(rk AS BIGINT) AS rk
      |  FROM (SELECT query_id, neighbor_id, cos_sim, row_number()
      |      OVER (PARTITION BY query_id
      |            ORDER BY cos_sim DESC, neighbor_id) AS rk
      |    FROM scored) r WHERE rk <= 5),
      |es AS (SELECT q.query_id, e2.vec_id AS neighbor_id,
      |    round(list_dot_product(q.qv, e2.v)
      |      / (q.qn * sqrt(list_dot_product(e2.v, e2.v))), 6) AS cs
      |  FROM q, e e2 WHERE e2.vec_id <> q.query_id),
      |ek AS (SELECT query_id, neighbor_id
      |  FROM (SELECT query_id, neighbor_id, row_number()
      |      OVER (PARTITION BY query_id ORDER BY cs DESC, neighbor_id) AS rk
      |    FROM es) r WHERE rk <= 5),
      |hits AS (SELECT a.query_id, CAST(COUNT(*) AS BIGINT) AS n_hits
      |  FROM ak a JOIN ek ON a.query_id = ek.query_id
      |    AND a.neighbor_id = ek.neighbor_id
      |  GROUP BY 1)
      |SELECT a.query_id, a.neighbor_id, a.cos_sim, a.rk,
      |  round(COALESCE(h.n_hits, 0) / 5.0, 6) AS recall_at_k
      |FROM ak a LEFT JOIN hits h ON a.query_id = h.query_id
      |ORDER BY a.query_id, a.rk""".stripMargin

  def quantizeEmbeddings(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val pe = embeddingsD(spark, dir)
      .select(col("vec_id"), posexplode(col("v")).as(Seq("pos", "x")))
    val ranges = pe.groupBy("pos")
      .agg(min("x").as("dmin"), max("x").as("dmax"))
    pe.join(broadcast(ranges), Seq("pos"))
      .select(col("pos"), col("x"), col("dmin"), col("dmax"),
        quantCode(lit(255.0)).as("code"))
      .withColumn("err", quantErr(col("code"), lit(255.0)))
      .groupBy("pos")
      .agg(count(lit(1)).as("n_vecs"),
        round(first(col("dmin")), 9).as("dim_min"),
        round(first(col("dmax")), 9).as("dim_max"),
        sum(round(col("err") * col("err"), 12)
          .cast(DecimalType(28, 14))).cast("double").as("sse"),
        max(abs(col("err"))).as("mx"))
      .select(col("pos").cast("long").as("dim"), col("n_vecs"),
        col("dim_min"), col("dim_max"),
        round(col("sse") / col("n_vecs"), 9).as("mse"),
        round(col("mx"), 9).as("max_abs_err"))
      .orderBy("dim")
  }

  def quantizeEmbeddingsOracle: String =
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |pe AS (SELECT vec_id, pos, v[pos + 1] AS x
      |  FROM (SELECT vec_id, v, unnest(range(len(v))) AS pos FROM e) t),
      |rg AS (SELECT pos, MIN(x) AS dmin, MAX(x) AS dmax FROM pe GROUP BY pos),
      |enc AS (SELECT pe.pos, pe.x, rg.dmin, rg.dmax,
      |    CASE WHEN rg.dmax - rg.dmin = 0 THEN 0
      |      ELSE CAST(floor((pe.x - rg.dmin) * 255.0 / (rg.dmax - rg.dmin)
      |        + 0.5) AS BIGINT) END AS code
      |  FROM pe JOIN rg USING (pos)),
      |err AS (SELECT pos, dmin, dmax,
      |    x - (dmin + code * (dmax - dmin) / 255.0) AS err FROM enc)
      |SELECT CAST(pos AS BIGINT) AS dim, CAST(COUNT(*) AS BIGINT) AS n_vecs,
      |  round(MIN(dmin), 9) AS dim_min, round(MIN(dmax), 9) AS dim_max,
      |  round(CAST(SUM(CAST(round(err * err, 12) AS DECIMAL(28,14)))
      |    AS DOUBLE) / COUNT(*), 9) AS mse,
      |  round(MAX(abs(err)), 9) AS max_abs_err
      |FROM err GROUP BY pos ORDER BY dim""".stripMargin

  /** Quantization bit-width curve — "how many bits do these
    * embeddings actually need": per width b ∈ {2,4,6,8}, per-dim
    * scalar quantization to 2^b−1 levels (the same min/max-range,
    * floor(x+0.5) convention as [[quantizeEmbeddings]], so the b=8
    * point of this curve IS that query's global row) and the
    * corpus-wide reconstruction MSE and max error. The operating
    * read: memory halves per 2-bit step, MSE rises ~4× per dropped
    * bit (the uniform-quantizer 6 dB/bit law) — the knee where MSE
    * crosses the downstream tolerance is the serving width. Same
    * calibrate-the-knob shape as the dedup/quality sweeps. One
    * posexplode pass joined to the broadcast d-row range table,
    * multiplied by a broadcast 4-row grid; squared errors are
    * rounded-then-decimal-summed so the MSE is partition-order-free.
    * Zero-width dims reconstruct exactly (code 0 at dmin) at every
    * width — the same degenerate-dim guard as the 8-bit quantizer. */
  def quantizeBitsCurve(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val pe = embeddingsD(spark, dir)
      .select(col("vec_id"), posexplode(col("v")).as(Seq("pos", "x")))
    val ranges = pe.groupBy("pos")
      .agg(min("x").as("dmin"), max("x").as("dmax"))
    val grid = spark.range(1, 5)
      .select((col("id") * 2).as("bits"),
        (pow(lit(2.0), (col("id") * 2).cast("double")).cast("long") - 1L)
          .as("levels"))
    pe.join(broadcast(ranges), Seq("pos"))
      .crossJoin(broadcast(grid))
      .select(col("bits"), col("levels"),
        quantErr(quantCode(col("levels")), col("levels")).as("err"))
      .groupBy("bits", "levels")
      .agg(count(lit(1)).as("n_values"),
        sum(round(col("err") * col("err"), 12)
          .cast(DecimalType(28, 14))).cast("double").as("sse"),
        max(abs(col("err"))).as("mx"))
      .select(col("bits"), col("levels"), col("n_values"),
        round(col("sse") / col("n_values"), 9).as("mse"),
        round(col("mx"), 9).as("max_abs_err"))
      .orderBy("bits")
  }

  def quantizeBitsCurveOracle: String =
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |pe AS (SELECT vec_id, pos, v[pos + 1] AS x
      |  FROM (SELECT vec_id, v, unnest(range(len(v))) AS pos FROM e) t),
      |rg AS (SELECT pos, MIN(x) AS dmin, MAX(x) AS dmax FROM pe GROUP BY pos),
      |grid AS (SELECT CAST(2 * range AS BIGINT) AS bits,
      |    CAST((1 << (2 * range)) - 1 AS BIGINT) AS levels
      |  FROM range(1, 5)),
      |enc AS (SELECT g.bits, g.levels, pe.x, rg.dmin, rg.dmax,
      |    CASE WHEN rg.dmax - rg.dmin = 0 THEN 0
      |      ELSE CAST(floor((pe.x - rg.dmin) * g.levels /
      |        (rg.dmax - rg.dmin) + 0.5) AS BIGINT) END AS code
      |  FROM pe JOIN rg USING (pos) CROSS JOIN grid g),
      |err AS (SELECT bits, levels,
      |    x - (dmin + code * (dmax - dmin) / levels) AS err FROM enc)
      |SELECT bits, levels, CAST(COUNT(*) AS BIGINT) AS n_values,
      |  round(CAST(SUM(CAST(round(err * err, 12) AS DECIMAL(28,14)))
      |    AS DOUBLE) / COUNT(*), 9) AS mse,
      |  round(MAX(abs(err)), 9) AS max_abs_err
      |FROM err GROUP BY bits, levels ORDER BY bits""".stripMargin

  // ── hard-negative mining: nearest other-label neighbor ──

  /** For every vector, its nearest neighbor carrying a DIFFERENT
    * label — contrastive-training's hard-negative mining, and the
    * "these two classes touch" diagnostic (a high-cosine cross-label
    * pair is either a mislabel or a genuinely hard boundary). Same
    * all-pairs baseline + heap-bounded top-1 as the similarity
    * family (a label-mismatch residual on the scored scan, then
    * [[topKPerQuery]] with k=1); at corpus scale the candidate source
    * swaps to the LSH/IVF bucket join and the downstream shape is
    * unchanged. Cosine rounds to 6 before ranking with a neighbor-id
    * tiebreak — the argmax is engine-identical. */
  def hardNegativeMining(spark: SparkSession, dir: String): DataFrame = {
    val e = embeddingsD(spark, dir)
      .select(col("vec_id"), col("label"), col("v"), norm(col("v")).as("nrm"))
    val q = e.select(col("vec_id").as("query_id"), col("label").as("q_label"),
      col("v").as("qv"), col("nrm").as("qn"))
    val scored = spread(e).join(broadcast(q), col("label") =!= col("q_label"))
      .select(col("query_id"), col("q_label"), col("vec_id").as("neighbor_id"),
        col("label").as("neg_label"),
        cos6(dot(col("qv"), col("v")), col("qn"), col("nrm"))
          .as("cos_sim"))
    topKPerQuery(scored, 1)
      .select(col("query_id"), col("q_label"),
        col("neighbor_id").as("hard_negative_id"), col("neg_label"),
        col("cos_sim"))
      .orderBy("query_id")
  }

  /** Contrastive training triplets: for every anchor vector, the
    * nearest SAME-label neighbor (the positive, self excluded) and
    * the nearest OTHER-label neighbor (the hard negative), plus the
    * cosine margin between them — the exact mining pass that feeds a
    * triplet/InfoNCE loss, and a per-anchor "how separable is my
    * embedding space" report (negative margin ⇒ the anchor's nearest
    * other-class point beats its nearest same-class point). One
    * scored scan split by a label-match residual into two heap-
    * bounded top-1s ([[topKPerQuery]]); anchors whose label has no
    * second member have no positive and are dropped by the inner
    * join (none in the fixture; at scale that's the degenerate-class
    * report, a separate anti-join). Candidate source swaps to the
    * LSH/IVF join at corpus scale, shape unchanged. */
  def tripletMining(spark: SparkSession, dir: String): DataFrame = {
    val e = embeddingsD(spark, dir)
      .select(col("vec_id"), col("label"), col("v"), norm(col("v")).as("nrm"))
    val q = e.select(col("vec_id").as("query_id"), col("label").as("q_label"),
      col("v").as("qv"), col("nrm").as("qn"))
    val scored = spread(e).join(broadcast(q), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("q_label"), col("vec_id").as("neighbor_id"),
        col("label").as("n_label"),
        cos6(dot(col("qv"), col("v")), col("qn"), col("nrm"))
          .as("cos_sim"))
    // both arms in ONE scored pass: two conditional heap aggregates in
    // the same groupBy (a null struct is skipped by the aggregate, so
    // `when` without otherwise IS the arm filter) — halves the
    // pairwise-scoring work vs. two filtered top-1 passes
    def arm(cond: Column) = graft.functions.BoundedTopK(1,
      when(cond, struct(negate(col("cos_sim")).as("_nc"),
        col("neighbor_id").as("_nid"), col("cos_sim").as("_c"))))
    scored.groupBy(col("query_id").as("anchor_id"), col("q_label").as("label"))
      .agg(arm(col("n_label") === col("q_label")).as("p"),
        arm(col("n_label") =!= col("q_label")).as("n"))
      .filter(size(col("p")) === 1 && size(col("n")) === 1)
      .select(col("anchor_id"), col("label"),
        col("p")(0)("_nid").as("positive_id"), col("p")(0)("_c").as("pos_cos"),
        col("n")(0)("_nid").as("negative_id"), col("n")(0)("_c").as("neg_cos"))
      .withColumn("margin", round(col("pos_cos") - col("neg_cos"), 6))
      .orderBy("anchor_id")
  }

  def tripletMiningOracle: String =
    """WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
      |  FROM embeddings),
      |n AS (SELECT vec_id, label, v, sqrt(list_dot_product(v, v)) AS nrm
      |  FROM e),
      |scored AS (SELECT q.vec_id AS query_id, q.label AS q_label,
      |    e.vec_id AS neighbor_id, e.label AS n_label,
      |    round(list_dot_product(q.v, e.v) / (q.nrm * e.nrm), 6) AS cos_sim
      |  FROM n q JOIN n e ON e.vec_id <> q.vec_id),
      |pos AS (SELECT query_id AS anchor_id, q_label AS label,
      |    neighbor_id AS positive_id, cos_sim AS pos_cos
      |  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
      |      ORDER BY cos_sim DESC, neighbor_id) AS rk FROM scored
      |    WHERE n_label = q_label) r WHERE rk = 1),
      |neg AS (SELECT query_id AS anchor_id, neighbor_id AS negative_id,
      |    cos_sim AS neg_cos
      |  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
      |      ORDER BY cos_sim DESC, neighbor_id) AS rk FROM scored
      |    WHERE n_label <> q_label) r WHERE rk = 1)
      |SELECT anchor_id, label, positive_id, pos_cos, negative_id, neg_cos,
      |  round(pos_cos - neg_cos, 6) AS margin
      |FROM pos JOIN neg USING (anchor_id) ORDER BY anchor_id""".stripMargin

  def hardNegativeMiningOracle: String =
    """WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
      |  FROM embeddings),
      |n AS (SELECT vec_id, label, v, sqrt(list_dot_product(v, v)) AS nrm
      |  FROM e),
      |scored AS (SELECT q.vec_id AS query_id, q.label AS q_label,
      |    e.vec_id AS neighbor_id, e.label AS neg_label,
      |    round(list_dot_product(q.v, e.v) / (q.nrm * e.nrm), 6) AS cos_sim
      |  FROM n q JOIN n e ON e.label <> q.label)
      |SELECT query_id, q_label, neighbor_id AS hard_negative_id, neg_label,
      |  cos_sim
      |FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
      |    ORDER BY cos_sim DESC, neighbor_id) AS rk FROM scored) r
      |WHERE rk = 1 ORDER BY query_id""".stripMargin

  // ── ANN-candidate mining twins (IVF-sourced, exact-audited) ──

  /** Anchors audited against the exact arm: the recall measurement is
    * bounded to vec_id < MiningAuditPanel, so the exact pass costs
    * O(n · panel) at any corpus size — the [[ivfRecallSweep]]
    * query-set-bounded discipline applied to mining. */
  val MiningAuditPanel = 64

  /** IVF candidate frame for the mining family: EVERY vector as an
    * anchor probing its [[NProbe]] nearest lists, joined against
    * primary-list members — Σ candidates ≈ n · NProbe · n/k, i.e.
    * O(n^1.5) with the √-scaled [[numLists]], versus the all-pairs
    * baselines' O(n²). No distinct needed: each member has exactly
    * one primary list, so a (anchor, member) pair arises from at most
    * one probed list. */
  private[ext] def annMiningCandidates(assign: DataFrame): DataFrame = {
    val members = assign.filter(col("probe_rank") === 1)
      .select(col("list_id"), col("vec_id"), col("label"),
        col("v"), col("nrm"))
    val anchors = assign
      .select(col("vec_id").as("query_id"), col("label").as("q_label"),
        col("v").as("qv"), col("nrm").as("qn"), col("list_id"))
    anchors.join(members, Seq("list_id"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("q_label"), col("vec_id").as("neighbor_id"),
        col("label").as("n_label"),
        cos6(dot(col("qv"), col("v")), col("qn"), col("nrm"))
          .as("cos_sim"))
  }

  /** Shared oracle chain for the mining twins: labels joined onto the
    * IVF assignment frame, candidates from the probe×member list
    * join, and the label-carrying full frame `nl` for the exact panel
    * arm. */
  private[ext] val miningAnnCommonSql: String =
    s"""el AS (SELECT vec_id, label FROM embeddings),
       |mem AS (SELECT s.list_id, s.vec_id, el.label, s.v, s.nrm
       |  FROM scoredc s JOIN el ON el.vec_id = s.vec_id
       |  WHERE s.probe_rank = 1),
       |anch AS (SELECT s.vec_id AS query_id, el.label AS q_label,
       |    s.v AS qv, s.nrm AS qn, s.list_id
       |  FROM scoredc s JOIN el ON el.vec_id = s.vec_id
       |  WHERE s.probe_rank <= $NProbe),
       |cand AS (SELECT a.query_id, a.q_label, m.vec_id AS neighbor_id,
       |    m.label AS n_label,
       |    round(list_dot_product(a.qv, m.v) / (a.qn * m.nrm), 6) AS cos_sim
       |  FROM anch a JOIN mem m
       |    ON a.list_id = m.list_id AND m.vec_id <> a.query_id),
       |nl AS (SELECT n.vec_id, n.v, n.nrm, el.label
       |  FROM n JOIN el ON el.vec_id = n.vec_id)""".stripMargin

  /** [[hardNegativeMining]] with the candidate source swapped from
    * all-pairs to the IVF probe join — the corpus-scale variant the
    * exact query's scaladoc promises — plus a recall-vs-exact audit:
    * `panel_exact_recall` is the fraction of audited anchors
    * (vec_id < [[MiningAuditPanel]]) whose ANN-sourced hard negative
    * IS the exact one. The exact arm is panel-bounded (broadcast
    * panel × one corpus scan), so the audit never reintroduces the
    * O(n²) this query exists to avoid; anchors whose probed lists
    * hold no other-label member are dropped (at scale: the
    * degenerate-neighborhood report, a separate anti-join). */
  def hardNegativesAnn(spark: SparkSession, dir: String): DataFrame = {
    val assign = withAssignments(spark, dir).localCheckpoint()
    val ann = topKPerQuery(
      annMiningCandidates(assign).filter(col("n_label") =!= col("q_label")), 1)
      .select(col("query_id"), col("q_label"),
        col("neighbor_id").as("hard_negative_id"),
        col("n_label").as("neg_label"), col("cos_sim"))
    val e = assign.filter(col("probe_rank") === 1)
      .select(col("vec_id"), col("label"), col("v"), col("nrm"))
    val pq = e.filter(col("vec_id") < MiningAuditPanel)
      .select(col("vec_id").as("query_id"), col("label").as("q_label"),
        col("v").as("qv"), col("nrm").as("qn"))
    val exact = topKPerQuery(
      spread(e).join(broadcast(pq), col("label") =!= col("q_label"))
        .select(col("query_id"), col("vec_id").as("neighbor_id"),
          cos6(dot(col("qv"), col("v")), col("qn"), col("nrm"))
            .as("cos_sim")),
      1).select(col("query_id"), col("neighbor_id").as("exact_id"))
    val rate = ann.filter(col("query_id") < MiningAuditPanel)
      .join(exact, Seq("query_id"))
      .agg(coalesce(
        round(sum(when(col("hard_negative_id") === col("exact_id"), 1L)
          .otherwise(0L)).cast("double") / count(lit(1)), 6),
        lit(-1.0)).as("panel_exact_recall"))
    ann.crossJoin(broadcast(rate)).orderBy("query_id")
  }

  def hardNegativesAnnOracle: String =
    s"""WITH $ivfCommonSql,
       |$miningAnnCommonSql,
       |ann AS (SELECT query_id, q_label, neighbor_id AS hard_negative_id,
       |    n_label AS neg_label, cos_sim
       |  FROM (SELECT *, row_number() OVER (PARTITION BY query_id
       |      ORDER BY cos_sim DESC, neighbor_id) AS rk
       |    FROM cand WHERE n_label <> q_label) t WHERE rk = 1),
       |ex AS (SELECT query_id, neighbor_id AS exact_id FROM (
       |    SELECT q.vec_id AS query_id, x.vec_id AS neighbor_id,
       |      row_number() OVER (PARTITION BY q.vec_id
       |        ORDER BY round(list_dot_product(q.v, x.v) / (q.nrm * x.nrm), 6)
       |          DESC, x.vec_id) AS rk
       |    FROM nl q JOIN nl x ON x.label <> q.label
       |    WHERE q.vec_id < $MiningAuditPanel) t WHERE rk = 1),
       |rate AS (SELECT COALESCE(round(
       |    CAST(SUM(CASE WHEN a.hard_negative_id = ex.exact_id THEN 1 ELSE 0
       |      END) AS DOUBLE) / COUNT(*), 6), -1.0) AS panel_exact_recall
       |  FROM ann a JOIN ex ON a.query_id = ex.query_id
       |  WHERE a.query_id < $MiningAuditPanel)
       |SELECT a.query_id, a.q_label, a.hard_negative_id, a.neg_label,
       |  a.cos_sim, rate.panel_exact_recall
       |FROM ann a, rate ORDER BY a.query_id""".stripMargin

  /** [[tripletMining]] from IVF candidates: both arms (nearest
    * same-label positive, nearest other-label negative) as
    * conditional heap aggregates over ONE candidate pass, with
    * panel-bounded exact-arm audits (`panel_pos_recall` /
    * `panel_neg_recall` — fraction of audited anchors whose ANN pick
    * matches the exact pick). Anchors missing either arm in the
    * probed lists are dropped, mirroring the exact query's
    * degenerate-class semantics. */
  def tripletMiningAnn(spark: SparkSession, dir: String): DataFrame = {
    val assign = withAssignments(spark, dir).localCheckpoint()
    def arm(cond: Column) = graft.functions.BoundedTopK(1,
      when(cond, struct(negate(col("cos_sim")).as("_nc"),
        col("neighbor_id").as("_nid"), col("cos_sim").as("_c"))))
    def arms(cand: DataFrame): DataFrame = cand
      .groupBy(col("query_id").as("anchor_id"), col("q_label").as("label"))
      .agg(arm(col("n_label") === col("q_label")).as("p"),
        arm(col("n_label") =!= col("q_label")).as("n"))
      .filter(size(col("p")) === 1 && size(col("n")) === 1)
      .select(col("anchor_id"), col("label"),
        col("p")(0)("_nid").as("positive_id"), col("p")(0)("_c").as("pos_cos"),
        col("n")(0)("_nid").as("negative_id"), col("n")(0)("_c").as("neg_cos"))
    val ann = arms(annMiningCandidates(assign))
      .withColumn("margin", round(col("pos_cos") - col("neg_cos"), 6))
    val e = assign.filter(col("probe_rank") === 1)
      .select(col("vec_id"), col("label"), col("v"), col("nrm"))
    val pq = e.filter(col("vec_id") < MiningAuditPanel)
      .select(col("vec_id").as("query_id"), col("label").as("q_label"),
        col("v").as("qv"), col("nrm").as("qn"))
    val exact = arms(
      spread(e).join(broadcast(pq), col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("q_label"),
          col("vec_id").as("neighbor_id"), col("label").as("n_label"),
          cos6(dot(col("qv"), col("v")), col("qn"), col("nrm"))
            .as("cos_sim")))
      .select(col("anchor_id"), col("positive_id").as("exact_pos"),
        col("negative_id").as("exact_neg"))
    val rate = ann.filter(col("anchor_id") < MiningAuditPanel)
      .join(exact, Seq("anchor_id"))
      .agg(
        coalesce(round(sum(when(col("positive_id") === col("exact_pos"), 1L)
          .otherwise(0L)).cast("double") / count(lit(1)), 6), lit(-1.0))
          .as("panel_pos_recall"),
        coalesce(round(sum(when(col("negative_id") === col("exact_neg"), 1L)
          .otherwise(0L)).cast("double") / count(lit(1)), 6), lit(-1.0))
          .as("panel_neg_recall"))
    ann.crossJoin(broadcast(rate)).orderBy("anchor_id")
  }

  def tripletMiningAnnOracle: String =
    s"""WITH $ivfCommonSql,
       |$miningAnnCommonSql,
       |annp AS (SELECT query_id AS anchor_id, q_label AS label,
       |    neighbor_id AS positive_id, cos_sim AS pos_cos
       |  FROM (SELECT *, row_number() OVER (PARTITION BY query_id
       |      ORDER BY cos_sim DESC, neighbor_id) AS rk
       |    FROM cand WHERE n_label = q_label) t WHERE rk = 1),
       |annn AS (SELECT query_id AS anchor_id,
       |    neighbor_id AS negative_id, cos_sim AS neg_cos
       |  FROM (SELECT *, row_number() OVER (PARTITION BY query_id
       |      ORDER BY cos_sim DESC, neighbor_id) AS rk
       |    FROM cand WHERE n_label <> q_label) t WHERE rk = 1),
       |ann AS (SELECT p.anchor_id, p.label, p.positive_id, p.pos_cos,
       |    x.negative_id, x.neg_cos, round(p.pos_cos - x.neg_cos, 6) AS margin
       |  FROM annp p JOIN annn x USING (anchor_id)),
       |exs AS (SELECT q.vec_id AS query_id, q.label AS q_label,
       |    x.vec_id AS neighbor_id, x.label AS n_label,
       |    round(list_dot_product(q.v, x.v) / (q.nrm * x.nrm), 6) AS cos_sim
       |  FROM nl q JOIN nl x ON x.vec_id <> q.vec_id
       |  WHERE q.vec_id < $MiningAuditPanel),
       |exp_ AS (SELECT query_id AS anchor_id, neighbor_id AS exact_pos
       |  FROM (SELECT *, row_number() OVER (PARTITION BY query_id
       |      ORDER BY cos_sim DESC, neighbor_id) AS rk
       |    FROM exs WHERE n_label = q_label) t WHERE rk = 1),
       |exn AS (SELECT query_id AS anchor_id, neighbor_id AS exact_neg
       |  FROM (SELECT *, row_number() OVER (PARTITION BY query_id
       |      ORDER BY cos_sim DESC, neighbor_id) AS rk
       |    FROM exs WHERE n_label <> q_label) t WHERE rk = 1),
       |ex AS (SELECT p.anchor_id, p.exact_pos, x.exact_neg
       |  FROM exp_ p JOIN exn x USING (anchor_id)),
       |rate AS (SELECT
       |    COALESCE(round(CAST(SUM(CASE WHEN a.positive_id = ex.exact_pos
       |      THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*), 6), -1.0)
       |      AS panel_pos_recall,
       |    COALESCE(round(CAST(SUM(CASE WHEN a.negative_id = ex.exact_neg
       |      THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*), 6), -1.0)
       |      AS panel_neg_recall
       |  FROM ann a JOIN ex ON a.anchor_id = ex.anchor_id
       |  WHERE a.anchor_id < $MiningAuditPanel)
       |SELECT a.anchor_id, a.label, a.positive_id, a.pos_cos, a.negative_id,
       |  a.neg_cos, a.margin, rate.panel_pos_recall, rate.panel_neg_recall
       |FROM ann a, rate ORDER BY a.anchor_id""".stripMargin

  // ---------------------------------------------------------------- RRF

  val RrfK = 60        // the standard reciprocal-rank-fusion constant
  val RrfTopK = 20
  val RrfQueryVec = 0L // dense query: the corpus vector aligned to doc 0

  /** Hybrid retrieval by reciprocal rank fusion: the lexical BM25
    * top-20 ([[TextAnalysis.bm25Search]], term query) and the dense
    * top-20 (cosine to a query embedding — doc ids and vec ids are
    * aligned 1:1 in the corpus) merge by
    * score = Σ 1/(k + rank), k = [[RrfK]] — rank-only fusion, immune
    * to the two scorers' incomparable scales, which is why it is the
    * standard first fusion every hybrid search stack ships. Both
    * inputs are already top-k frames (≤ 20 rows), so the fusion
    * itself — full outer join + two reciprocals — is driver-trivial
    * at any corpus scale; the heavy lifting stays in the two
    * rankers, each already scale-shaped (BM25: query-term-restricted
    * tf pass; dense: one broadcast scoring scan). Unranked sides
    * report rank 0 and contribute 0 to the fused score. */
  def rrfFusion(spark: SparkSession, dir: String): DataFrame = {
    val wLex = graft.BoundedWindow.orderBy(col("score").desc, col("doc_id")) // bm25 head: <= Bm25TopK rows
    val lex = TextAnalysis.bm25Search(spark, dir)
      .select(col("doc_id"), row_number().over(wLex).cast("long").as("rank_lex"))
    val e = embeddingsD(spark, dir)
      .select(col("vec_id"), col("v"), norm(col("v")).as("nrm"))
    val q = e.filter(col("vec_id") === RrfQueryVec)
      .select(col("v").as("qv"), col("nrm").as("qn"))
    val scored = e.crossJoin(broadcast(q))
      .select(col("vec_id").as("doc_id"),
        cos6(dot(col("qv"), col("v")), col("qn"), col("nrm")).as("cos_sim"))
    val wDense = graft.BoundedWindow.orderBy(col("cos_sim").desc, col("doc_id")) // post-limit: <= RrfTopK rows
    val dense = scored.orderBy(col("cos_sim").desc, col("doc_id")).limit(RrfTopK)
      .withColumn("rank_dense", row_number().over(wDense).cast("long"))
      .select("doc_id", "rank_dense")
    lex.join(dense, Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        coalesce(col("rank_lex"), lit(0L)).as("rank_lex"),
        coalesce(col("rank_dense"), lit(0L)).as("rank_dense"),
        round(
          coalesce(lit(1.0) / (lit(RrfK) + col("rank_lex")), lit(0.0)) +
            coalesce(lit(1.0) / (lit(RrfK) + col("rank_dense")), lit(0.0)),
          9).as("rrf_score"))
      .orderBy(col("rrf_score").desc, col("doc_id"))
      .limit(RrfTopK)
  }

  def rrfFusionOracle: String =
    s"""WITH bm AS (${TextAnalysis.bm25SearchOracle}),
       |lex AS (SELECT doc_id,
       |    CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS BIGINT)
       |      AS rank_lex
       |  FROM bm),
       |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
       |q AS (SELECT v, nrm FROM n WHERE vec_id = $RrfQueryVec),
       |scored AS (SELECT n.vec_id AS doc_id,
       |    round(list_dot_product(q.v, n.v) / (q.nrm * n.nrm), 6) AS cos_sim
       |  FROM n, q),
       |dense AS (SELECT doc_id,
       |    CAST(row_number() OVER (ORDER BY cos_sim DESC, doc_id) AS BIGINT)
       |      AS rank_dense
       |  FROM (SELECT * FROM scored ORDER BY cos_sim DESC, doc_id
       |        LIMIT $RrfTopK) t)
       |SELECT doc_id,
       |  COALESCE(l.rank_lex, 0) AS rank_lex,
       |  COALESCE(d.rank_dense, 0) AS rank_dense,
       |  round(COALESCE(1.0 / ($RrfK + l.rank_lex), 0) +
       |        COALESCE(1.0 / ($RrfK + d.rank_dense), 0), 9) AS rrf_score
       |FROM lex l FULL OUTER JOIN dense d USING (doc_id)
       |ORDER BY rrf_score DESC, doc_id LIMIT $RrfTopK""".stripMargin

  // ---------------------------------------------------------------- PQ

  val PqSubspaces = 8 // M: subvectors per vector (64 dims / 8 = 8 each)
  val PqSubDim = 8
  val PqCodes = 16    // K: codebook entries per subspace → 4 bits/code
  val PqIters = 2

  /** (vec_id, sub, x): every vector split into [[PqSubspaces]]
    * contiguous subvectors — one generate + slice projection, no
    * shuffle; the training/encode unit for product quantization. */
  private def pqExploded(spark: SparkSession, dir: String): DataFrame =
    embeddingsD(spark, dir)
      .select(col("vec_id"),
        explode(sequence(lit(0), lit(PqSubspaces - 1))).as("sub"),
        col("v"))
      .select(col("vec_id"), col("sub"),
        slice(col("v"), col("sub") * PqSubDim + 1, lit(PqSubDim)).as("x"))

  /** Rounded squared L2 distance between a subvector and a codeword,
    * decomposed into three sequential-fold dots so the oracle's
    * `list_dot_product` reproduces the identical op order; rounded to
    * 6 decimals BEFORE any argmin so sub-ulp differences can't flip a
    * code assignment. */
  private def pqDist(x: Column, c: Column): Column =
    round(dot(x, x) - lit(2.0) * dot(x, c) + dot(c, c), 6)

  /** Product-quantization codebooks: per subspace, [[PqCodes]]
    * codewords seeded from the first K vectors' subvectors and
    * refined by exactly [[PqIters]] Lloyd iterations — all
    * [[PqSubspaces]] subspaces train TOGETHER in each pass (the
    * codebook is keyed by (sub, code)), so one iteration is one scan
    * of the exploded corpus against a broadcast M×K-row table plus an
    * (M×K×subdim)-row mean aggregate. Driver state is the codebook
    * matrix only (8×16×8 doubles). Same engine-independence
    * discipline as [[kmeansCentroids]]: distance round-6 before
    * argmin with ties to the lower code, decimal-exact means rounded
    * to 9, empty codes keep their previous codeword. */
  // same single-slot discipline as centroidMemo: pq_codes, sim_ann_pq
  // and sim_ann_ivfpq all derive the identical codebook from the same
  // corpus — one slot of 8×16×8 doubles; ScaleProbe resets it so probe
  // timings stay honest cold runs including training.
  private[graft] val pqMemo =
    graft.SessionDirMemo("pq_codebook_train_build")(pqCodebookUncached)

  private[graft] def pqCodebook(spark: SparkSession, dir: String): Seq[(Int, Int, Seq[Double])] =
    pqMemo.get(spark, dir)

  private def pqCodebookUncached(spark: SparkSession, dir: String): Seq[(Int, Int, Seq[Double])] = {
    pqTrainCount.incrementAndGet()
    import spark.implicits._
    import org.apache.spark.sql.types.DecimalType
    // Lloyd refinement runs on the SAME ≤TrainSampleCap strided sample
    // recipe as kmeansCentroids (stride = ⌊n/cap⌋ over vec_id — engine-
    // mirrorable, no rand(); stride 1 below the cap = exact-corpus
    // training, so gate-scale results are unchanged). Only the sample
    // is persisted for the loop; the final ENCODE (pqCodes/annPq) still
    // scans the full corpus exactly once — training was the last
    // full-corpus-per-iteration loop in the ANN family.
    val nTotal = embeddingsD(spark, dir).count()
    val stride = math.max(1L, nTotal / TrainSampleCap)
    val ex = pqExploded(spark, dir)
    val train =
      (if (stride == 1L) ex else ex.filter(col("vec_id") % stride === 0))
        .persist()
    // seeds stay the first PqCodes vectors of the FULL corpus (the
    // oracle's c0 reads the unstrided sv), independent of the stride
    var cb: Seq[(Int, Int, Seq[Double])] = ex.filter(col("vec_id") < PqCodes)
      .collect()
      .map(r => (r.getInt(1), r.getLong(0).toInt, r.getSeq[Double](2)))
      .sortBy(t => (t._1, t._2)).toSeq
    for (_ <- 1 to PqIters) {
      val c = cb.toDF("sub", "code", "cv")
      val assigned = train.join(broadcast(c), Seq("sub"))
        .select(col("vec_id"), col("sub"), col("x"), col("code"),
          pqDist(col("x"), col("cv")).as("d2"))
        .groupBy("vec_id", "sub")
        .agg(min(struct(col("d2"), col("code"))).as("best"),
          first(col("x")).as("x"))
        .select(col("sub"), col("best.code").as("code"), col("x"))
      val means = assigned
        .select(col("sub"), col("code"), posexplode(col("x")).as(Seq("dim", "xx")))
        .groupBy("sub", "code", "dim")
        .agg(round(sum(col("xx").cast(DecimalType(38, 18))).cast("double")
          / count(lit(1)), 9).as("m"))
        .collect()
      val byKey = means.groupBy(r => (r.getInt(0), r.getInt(1))).map { case (k, rs) =>
        k -> rs.sortBy(_.getInt(2)).map(_.getDouble(3)).toSeq
      }
      cb = cb.map { case (s, k, old) => (s, k, byKey.getOrElse((s, k), old)) }
    }
    train.unpersist()
    cb
  }

  /** Product quantization encode + audit: every vector compressed to
    * one 32-bit PQ word (8 subspaces × 4-bit codes packed little-end
    * by subspace) with its total squared reconstruction error — 64
    * floats → 4 bytes, the memory step that makes billion-vector ANN
    * fit executor RAM (IVF routes, PQ compresses: together they are
    * IVF-PQ). Encode is one exploded scan against the broadcast
    * codebook, argmin as a hash aggregate (no window over the scored
    * frame), then a per-vector 8-row fold: the bit-packed word is an
    * integer SUM, the error a decimal-exact SUM — both map-side
    * partial, order-free. */
  def pqCodes(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.types.DecimalType
    val cb = pqCodebook(spark, dir).toDF("sub", "code", "cv")
    pqExploded(spark, dir).join(broadcast(cb), Seq("sub"))
      .select(col("vec_id"), col("sub"), col("code"),
        pqDist(col("x"), col("cv")).as("d2"))
      .groupBy("vec_id", "sub")
      .agg(min(struct(col("d2"), col("code"))).as("best"))
      .select(col("vec_id"), col("sub"),
        col("best.code").as("code"), col("best.d2").as("d2"))
      .groupBy("vec_id")
      .agg(sum(col("code").cast("long")
            * expr("shiftleft(1L, sub * 4)"))
          .cast("long").as("pq_word"),
        round(sum(col("d2").cast(DecimalType(28, 12))).cast("double"), 9)
          .as("sq_err"))
      .orderBy("vec_id")
  }

  /** Mirrors [[pqCodebook]]/[[pqCodes]] step for step: seeds from the
    * full corpus, the [[TrainSampleCap]] training stride (`smp` — a
    * no-op below the cap), [[PqIters]] unrolled Lloyd rounds keyed by
    * (sub, code) with identical distance decomposition and rounding,
    * and `fin` (per-(vector, subspace) distance+rank of the FULL
    * corpus against the final codebook `c{PqIters}`).
    *
    * Every CTE name takes `p` as a prefix so the chain can compose
    * with [[ivfCommonSql]] (which owns the unprefixed `e`/`c0`/`a1`…
    * namespace) in one WITH clause — the IVF-PQ oracle needs both. */
  private def pqCommonSqlP(p: String): String = {
    def N(s: String) = p + s
    val d2 = (x: String, c: String) =>
      s"round(list_dot_product($x, $x) - 2 * list_dot_product($x, $c)" +
        s" + list_dot_product($c, $c), 6)"
    val iters = (1 to PqIters).map { i =>
      s"""${N(s"a$i")} AS (SELECT s.vec_id, s.sub, s.x, c.code,
         |    row_number() OVER (PARTITION BY s.vec_id, s.sub
         |      ORDER BY ${d2("s.x", "c.cv")}, c.code) AS rk
         |  FROM ${N("smp")} s JOIN ${N(s"c${i - 1}")} c ON s.sub = c.sub),
         |${N(s"x$i")} AS (SELECT sub, code, UNNEST(range(len(x))) AS dim, UNNEST(x) AS xx
         |  FROM ${N(s"a$i")} WHERE rk = 1),
         |${N(s"m$i")} AS (SELECT sub, code, dim,
         |    round(CAST(SUM(CAST(xx AS DECIMAL(38,18))) AS DOUBLE) / COUNT(*), 9) AS m
         |  FROM ${N(s"x$i")} GROUP BY sub, code, dim),
         |${N(s"nc$i")} AS (SELECT sub, code, list(m ORDER BY dim) AS cv
         |  FROM ${N(s"m$i")} GROUP BY sub, code),
         |${N(s"c$i")} AS (SELECT p.sub, p.code, COALESCE(nc.cv, p.cv) AS cv
         |  FROM ${N(s"c${i - 1}")} p LEFT JOIN ${N(s"nc$i")} nc
         |    ON p.sub = nc.sub AND p.code = nc.code)""".stripMargin
    }.mkString(",\n")
    s"""${N("e")} AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |${N("sv")} AS (SELECT vec_id, sub,
       |    v[sub * $PqSubDim + 1 : sub * $PqSubDim + $PqSubDim] AS x
       |  FROM ${N("e")} CROSS JOIN range($PqSubspaces) r(sub)),
       |${N("smp")} AS (SELECT * FROM ${N("sv")} WHERE vec_id %
       |  (SELECT GREATEST(1, COUNT(*) // $TrainSampleCap) FROM ${N("e")}) = 0),
       |${N("c0")} AS (SELECT sub, CAST(vec_id AS INT) AS code, x AS cv
       |  FROM ${N("sv")} WHERE vec_id < $PqCodes),
       |$iters,
       |${N("fin")} AS (SELECT s.vec_id, s.sub, c.code, ${d2("s.x", "c.cv")} AS d2,
       |    row_number() OVER (PARTITION BY s.vec_id, s.sub
       |      ORDER BY ${d2("s.x", "c.cv")}, c.code) AS rk
       |  FROM ${N("sv")} s JOIN ${N(s"c$PqIters")} c ON s.sub = c.sub)""".stripMargin
  }

  private val pqCommonSql: String = pqCommonSqlP("")

  def pqCodesOracle: String =
    s"""WITH $pqCommonSql
       |SELECT vec_id,
       |  CAST(SUM(CAST(code AS BIGINT) * (1::BIGINT << (sub * 4))) AS BIGINT)
       |    AS pq_word,
       |  round(CAST(SUM(CAST(d2 AS DECIMAL(28,12))) AS DOUBLE), 9) AS sq_err
       |FROM fin WHERE rk = 1 GROUP BY vec_id ORDER BY vec_id""".stripMargin

  val PqNumQueries = 5
  val PqTopK = 5

  /** ANN search by PQ asymmetric distance computation (ADC): queries
    * stay full-precision, the corpus is its 4-bit PQ codes, and each
    * (query, vector) inner product is approximated as the SUM over
    * subspaces of dot(query_sub, codeword[code]) — which needs only a
    * per-query LOOKUP TABLE of [[PqSubspaces]]×[[PqCodes]] = 128
    * partial dots. This is the classic IVF-PQ scoring step: the scan
    * reads 4 bytes per vector (not 256), the LUT is a broadcast
    * |queries|×128-row table, scoring is a hash-join + 8-row fold
    * (decimal-exact, order-free), and the top-k folds through the
    * bounded heap. Recall is approximate by construction; the exact
    * [[bruteForceTopK]] stays the acceptance baseline, same as the
    * LSH path's [[annRecallAudit]]. */
  def annPq(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.types.DecimalType
    val cb = pqCodebook(spark, dir).toDF("sub", "code", "cv")
    val ex = pqExploded(spark, dir)
    val enc = ex.join(broadcast(cb), Seq("sub"))
      .select(col("vec_id"), col("sub"), col("code"),
        pqDist(col("x"), col("cv")).as("d2"))
      .groupBy("vec_id", "sub")
      .agg(min(struct(col("d2"), col("code"))).as("best"))
      .select(col("vec_id"), col("sub"), col("best.code").as("code"))
    val lut = ex
      .filter(col("vec_id") >= PqCodes && col("vec_id") < PqCodes + PqNumQueries)
      .select(col("vec_id").as("query_id"), col("sub"), col("x").as("qx"))
      .join(broadcast(cb), Seq("sub"))
      .select(col("query_id"), col("sub"), col("code"),
        round(dot(col("qx"), col("cv")), 9).as("pd"))
    val scored = enc.join(broadcast(lut), Seq("sub", "code"))
      .filter(col("vec_id") =!= col("query_id"))
      .groupBy("query_id", "vec_id")
      .agg(round(sum(col("pd").cast(DecimalType(28, 12))).cast("double"), 6)
        .as("cos_sim")) // approximate inner product, ranked like a score
      .select(col("query_id"), col("vec_id").as("neighbor_id"), col("cos_sim"))
    topKPerQuery(scored, PqTopK)
      .withColumnRenamed("cos_sim", "adc_ip")
  }

  def annPqOracle: String =
    s"""WITH $pqCommonSql,
       |enc AS (SELECT vec_id, sub, code FROM fin WHERE rk = 1),
       |q AS (SELECT vec_id AS query_id, sub, x FROM sv
       |  WHERE vec_id >= $PqCodes AND vec_id < ${PqCodes + PqNumQueries}),
       |lut AS (SELECT q.query_id, q.sub, c.code,
       |    round(list_dot_product(q.x, c.cv), 9) AS pd
       |  FROM q JOIN c$PqIters c ON q.sub = c.sub),
       |scored AS (SELECT l.query_id, e.vec_id AS neighbor_id,
       |    round(CAST(SUM(CAST(l.pd AS DECIMAL(28,12))) AS DOUBLE), 6) AS adc_ip
       |  FROM enc e JOIN lut l
       |    ON e.sub = l.sub AND e.code = l.code AND e.vec_id <> l.query_id
       |  GROUP BY 1, 2)
       |SELECT query_id, neighbor_id, adc_ip,
       |  CAST(rk AS BIGINT) AS rk
       |FROM (SELECT *, row_number() OVER (PARTITION BY query_id
       |        ORDER BY adc_ip DESC, neighbor_id) AS rk FROM scored) r
       |WHERE rk <= $PqTopK ORDER BY query_id, rk""".stripMargin

  // ------------------------------------------------------------ IVF-PQ

  /** The end-to-end billion-vector serving plan the component queries
    * build toward — IVF ROUTES, PQ COMPRESSES, composed: each query
    * probes its [[NProbe]] nearest coarse lists (adaptive-k quantizer,
    * [[numLists]]), the candidate set is those lists' members only
    * (≈ NProbe/k of the corpus — the sub-linear term), and candidates
    * are scored by ADC over their 4-bit PQ codes (a broadcast
    * |queries|×128 LUT + an 8-row decimal fold — the scan reads 4
    * bytes per candidate, not 256). Against [[annPq]] this adds the
    * routing step (score NProbe/k of the corpus instead of all of
    * it); against [[annIvf]] it swaps full-precision scoring for the
    * compressed-domain LUT the 100 TB memory budget requires.
    *
    * `recall_at_k` rides on every row (the twins' panel discipline):
    * the ANN top-k against the EXACT full-precision inner-product
    * top-k over the whole corpus for the same queries — query-set-
    * bounded (broadcast queries × one corpus scan), so the audit
    * never reintroduces the linear scan per query this index avoids.
    * Both approximation losses (routing misses + quantization error)
    * land in this one number — the acceptance gate a serving deploy
    * reads. */
  /** The shared IVF-PQ serving scan: ADC inner-product scores for
    * every (query, routed candidate) pair — [[annIvfPq]] takes its
    * top-k directly, [[annIvfPqRefine]] takes a wider pool and
    * re-ranks it exactly. One definition so the two stages cannot
    * diverge on routing or quantization. */
  private def ivfPqAdcScored(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.types.DecimalType
    val assign = withAssignments(spark, dir).localCheckpoint()
    val cb = pqCodebook(spark, dir).toDF("sub", "code", "cv")
    val ex = pqExploded(spark, dir)
    val enc = ex.join(broadcast(cb), Seq("sub"))
      .select(col("vec_id"), col("sub"), col("code"),
        pqDist(col("x"), col("cv")).as("d2"))
      .groupBy("vec_id", "sub")
      .agg(min(struct(col("d2"), col("code"))).as("best"))
      .select(col("vec_id"), col("sub"), col("best.code").as("code"))
    val members = assign.filter(col("probe_rank") === 1)
      .select(col("list_id"), col("vec_id"))
    val probes = assign
      .filter(col("vec_id") >= QueryBase &&
        col("vec_id") < QueryBase + PqNumQueries)
      .select(col("vec_id").as("query_id"), col("list_id"))
    // no distinct: each member has exactly ONE primary list, so a
    // (query, member) pair arises from at most one probed list (the
    // oracle's DISTINCT is a no-op, same as annIvf)
    val cand = probes.join(members, Seq("list_id"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"))
    val lut = ex
      .filter(col("vec_id") >= QueryBase &&
        col("vec_id") < QueryBase + PqNumQueries)
      .select(col("vec_id").as("query_id"), col("sub"), col("x").as("qx"))
      .join(broadcast(cb), Seq("sub"))
      .select(col("query_id"), col("sub"), col("code"),
        round(dot(col("qx"), col("cv")), 9).as("pd"))
    cand.join(enc, Seq("vec_id"))
      .join(broadcast(lut), Seq("query_id", "sub", "code"))
      .groupBy("query_id", "vec_id")
      .agg(round(sum(col("pd").cast(DecimalType(28, 12))).cast("double"), 6)
        .as("cos_sim")) // approximate inner product, ranked like a score
      .select(col("query_id"), col("vec_id").as("neighbor_id"), col("cos_sim"))
  }

  /** Exact full-precision inner-product top-k over the WHOLE corpus
    * for the PQ query set — the ground truth every IVF-PQ recall
    * number is measured against (query-set-bounded: broadcast queries
    * × one corpus scan). */
  private def ivfPqExactTopK(spark: SparkSession, dir: String): DataFrame = {
    val e = embeddingsD(spark, dir).select(col("vec_id"), col("v"))
    val q = e
      .filter(col("vec_id") >= QueryBase &&
        col("vec_id") < QueryBase + PqNumQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"))
    topKPerQuery(
      spread(e).join(broadcast(q), col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("vec_id").as("neighbor_id"),
          round(dot(col("qv"), col("v")), 6).as("cos_sim")),
      PqTopK).select(col("query_id"), col("neighbor_id"))
  }

  def annIvfPq(spark: SparkSession, dir: String): DataFrame = {
    val scored = ivfPqAdcScored(spark, dir)
    val ann = topKPerQuery(scored, PqTopK)
      .withColumnRenamed("cos_sim", "adc_ip")
    // exact arm: the ground truth both losses are measured against
    val exact = ivfPqExactTopK(spark, dir)
    val rate = ann.join(exact, Seq("query_id", "neighbor_id"))
      .agg(round(count(lit(1)).cast("double")
        / lit(PqNumQueries * PqTopK), 6).as("recall_at_k"))
    ann.crossJoin(broadcast(rate)).orderBy("query_id", "rk")
  }

  /** The oracle CTE chain shared by [[annIvfPqOracle]] and
    * [[annIvfPqRefineOracle]]: IVF routing + PQ encoding + ADC
    * `scored` (query_id, neighbor_id, adc_ip) and the exact
    * full-corpus ground truth `exact` — one definition, two oracles,
    * mirroring the Scala-side split. */
  private def ivfPqScoredSql: String =
    s"""$ivfCommonSql,
       |${pqCommonSqlP("p")},
       |penc AS (SELECT vec_id, sub, code FROM pfin WHERE rk = 1),
       |mem AS (SELECT list_id, vec_id FROM scoredc WHERE probe_rank = 1),
       |qp AS (SELECT vec_id AS query_id, list_id FROM scoredc
       |  WHERE probe_rank <= $NProbe
       |    AND vec_id >= $QueryBase AND vec_id < ${QueryBase + PqNumQueries}),
       |cand AS (SELECT DISTINCT q.query_id, m.vec_id
       |  FROM qp q JOIN mem m ON q.list_id = m.list_id
       |   AND m.vec_id <> q.query_id),
       |lut AS (SELECT s.vec_id AS query_id, s.sub, c.code,
       |    round(list_dot_product(s.x, c.cv), 9) AS pd
       |  FROM psv s JOIN pc$PqIters c ON s.sub = c.sub
       |  WHERE s.vec_id >= $QueryBase AND s.vec_id < ${QueryBase + PqNumQueries}),
       |scored AS (SELECT cd.query_id, cd.vec_id AS neighbor_id,
       |    round(CAST(SUM(CAST(l.pd AS DECIMAL(28,12))) AS DOUBLE), 6) AS adc_ip
       |  FROM cand cd JOIN penc pe2 ON pe2.vec_id = cd.vec_id
       |  JOIN lut l ON l.query_id = cd.query_id AND l.sub = pe2.sub
       |   AND l.code = pe2.code
       |  GROUP BY 1, 2),
       |exact AS (SELECT query_id, neighbor_id FROM (
       |    SELECT q.vec_id AS query_id, x.vec_id AS neighbor_id,
       |      row_number() OVER (PARTITION BY q.vec_id
       |        ORDER BY round(list_dot_product(q.v, x.v), 6) DESC, x.vec_id) AS rk
       |    FROM e q JOIN e x ON x.vec_id <> q.vec_id
       |    WHERE q.vec_id >= $QueryBase
       |      AND q.vec_id < ${QueryBase + PqNumQueries}) t
       |  WHERE rk <= $PqTopK)""".stripMargin

  def annIvfPqOracle: String =
    s"""WITH $ivfPqScoredSql,
       |ann AS (SELECT query_id, neighbor_id, adc_ip, CAST(rk AS BIGINT) AS rk
       |  FROM (SELECT *, row_number() OVER (PARTITION BY query_id
       |      ORDER BY adc_ip DESC, neighbor_id) AS rk FROM scored) t
       |  WHERE rk <= $PqTopK),
       |rate AS (SELECT round(CAST(COUNT(*) AS DOUBLE)
       |      / ${PqNumQueries * PqTopK}, 6) AS recall_at_k
       |  FROM ann a JOIN exact ex
       |    ON a.query_id = ex.query_id AND a.neighbor_id = ex.neighbor_id)
       |SELECT a.query_id, a.neighbor_id, a.adc_ip, a.rk, rate.recall_at_k
       |FROM ann a, rate ORDER BY a.query_id, a.rk""".stripMargin

  /** Candidates the refine stage re-ranks per query: [[PqTopK]] ×
    * this. The FAISS-shape knob — wide enough to recover routing-
    * survivable quantization misses, narrow enough that the exact
    * re-scoring join stays candidate-bounded. */
  val RefineMult = 4

  /** The ANN refine (re-rank) stage — the standard serving fix for
    * the recall [[annIvfPq]] proves quantization costs: take the ADC
    * top-k·[[RefineMult]] pool, re-score JUST those candidates with
    * exact full-precision vectors (one keyed join back to the corpus
    * — |queries|×k·m lookups, never a scan), and emit the exact-
    * re-ranked top-k. `recall_adc` (the unrefined operating point)
    * and `recall_refined` ride on every row against the SAME exact
    * ground truth; refined ≥ adc holds by construction — every ADC
    * top-k hit is in the pool, and exact re-scoring can only move
    * true neighbors UP within it (AnnSpec asserts it, the oracle
    * recomputes both). At 100 TB the pool join is the only work this
    * stage adds: candidate-bounded, broadcast on the pool side. */
  def annIvfPqRefine(spark: SparkSession, dir: String): DataFrame = {
    val pool = graft.BoundedCheckpoint(
      topKPerQuery(ivfPqAdcScored(spark, dir), PqTopK * RefineMult),
      PqNumQueries.toLong * PqTopK * RefineMult) // candidate-bounded
    val e = embeddingsD(spark, dir).select(col("vec_id"), col("v"))
    val q = e
      .filter(col("vec_id") >= QueryBase &&
        col("vec_id") < QueryBase + PqNumQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"))
    // exact re-scoring of the pool only: broadcast the (queries×k·m)-
    // row candidate list against the keyed corpus — one scan, output
    // candidate-bounded
    val rescored = e.withColumnRenamed("vec_id", "neighbor_id")
      .join(broadcast(pool.select(col("query_id"), col("neighbor_id"))),
        Seq("neighbor_id"))
      .join(broadcast(q), Seq("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        round(dot(col("qv"), col("v")), 6).as("cos_sim"))
    val refined = topKPerQuery(rescored, PqTopK)
      .withColumnRenamed("cos_sim", "exact_ip")
    val exact = ivfPqExactTopK(spark, dir)
    def rate(df: DataFrame, nm: String) =
      df.select(col("query_id"), col("neighbor_id"))
        .join(exact, Seq("query_id", "neighbor_id"))
        .agg(round(count(lit(1)).cast("double")
          / lit(PqNumQueries * PqTopK), 6).as(nm))
    val rAdc = rate(pool.filter(col("rk") <= PqTopK), "recall_adc")
    val rRef = rate(refined, "recall_refined")
    refined.crossJoin(broadcast(rAdc)).crossJoin(broadcast(rRef))
      .orderBy("query_id", "rk")
  }

  def annIvfPqRefineOracle: String =
    s"""WITH $ivfPqScoredSql,
       |pool AS (SELECT query_id, neighbor_id, rk
       |  FROM (SELECT *, row_number() OVER (PARTITION BY query_id
       |      ORDER BY adc_ip DESC, neighbor_id) AS rk FROM scored) t
       |  WHERE rk <= ${PqTopK * RefineMult}),
       |resc AS (SELECT p.query_id, p.neighbor_id,
       |    round(list_dot_product(q.v, x.v), 6) AS exact_ip
       |  FROM pool p JOIN e q ON q.vec_id = p.query_id
       |  JOIN e x ON x.vec_id = p.neighbor_id),
       |refined AS (SELECT query_id, neighbor_id, exact_ip,
       |    CAST(rk AS BIGINT) AS rk
       |  FROM (SELECT *, row_number() OVER (PARTITION BY query_id
       |      ORDER BY exact_ip DESC, neighbor_id) AS rk FROM resc) t
       |  WHERE rk <= $PqTopK),
       |radc AS (SELECT round(CAST(COUNT(*) AS DOUBLE)
       |      / ${PqNumQueries * PqTopK}, 6) AS recall_adc
       |  FROM (SELECT query_id, neighbor_id FROM pool
       |        WHERE rk <= $PqTopK) a
       |  JOIN exact ex ON a.query_id = ex.query_id
       |   AND a.neighbor_id = ex.neighbor_id),
       |rref AS (SELECT round(CAST(COUNT(*) AS DOUBLE)
       |      / ${PqNumQueries * PqTopK}, 6) AS recall_refined
       |  FROM refined a JOIN exact ex ON a.query_id = ex.query_id
       |   AND a.neighbor_id = ex.neighbor_id)
       |SELECT r.query_id, r.neighbor_id, r.exact_ip, r.rk,
       |  radc.recall_adc, rref.recall_refined
       |FROM refined r, radc, rref ORDER BY r.query_id, r.rk""".stripMargin
}
