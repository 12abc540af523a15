package graft

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** Named-dataset catalog mirroring the reference DFS's flat keyed
  * namespace (SURVEY §2.1 S1/S3/S7/S8):
  *
  *   - `put(key, df)`    ≈ upload: register a dataset under a string key
  *     (`client upload`, manager.go:385-429)
  *   - `get(key)`        ≈ download (`client download`, manager.go:316-325)
  *   - `list(prefix)`    ≈ `ListFiles(prefix)` — `strings.HasPrefix`
  *     semantics (manager.go:353-363)
  *   - `delete(key)`     ≈ `DeleteFile` (manager.go:328-350)
  *
  * Chunking, replication, placement, scrubbing (SURVEY §2.11 I1-I7) are
  * deliberately absent: the storage layer (HDFS/S3 via `persist`) owns
  * them. `put` registers a lazy logical plan, not materialized bytes —
  * at 100 TB a catalog entry is a view over partitioned parquet, and
  * `persist`/`load` are the materialization boundary.
  */
final class Catalog(spark: SparkSession) {
  private val entries = TrieMap.empty[String, DataFrame]

  def put(key: String, df: DataFrame): Unit = {
    require(key.nonEmpty, "empty key")
    entries(key) = df
    // also expose to spark.sql — slashes in DFS-style keys become
    // underscores for the SQL identifier
    df.createOrReplaceTempView(sqlName(key))
  }

  /** SQL view name for a catalog key. Injective: distinct keys that
    * sanitize identically ('a/b', 'a.b', 'a_b') are disambiguated by a
    * short digest of the raw key, and the fixed prefix keeps the
    * identifier starting with a letter even for keys like '1table'. */
  def sqlName(key: String): String = {
    val digest = java.security.MessageDigest.getInstance("MD5")
      .digest(key.getBytes("UTF-8")).take(4).map("%02x".format(_)).mkString
    s"g_${key.replaceAll("[^A-Za-z0-9_]", "_")}_$digest"
  }

  def get(key: String): DataFrame =
    entries.getOrElse(key, throw new NoSuchElementException(s"no dataset '$key'"))

  def exists(key: String): Boolean = entries.contains(key)

  /** Keys with the given prefix, sorted (reference lists are sorted
    * string keys). */
  def list(prefix: String = ""): Seq[String] =
    entries.keys.filter(_.startsWith(prefix)).toSeq.sorted

  def delete(key: String): Boolean = {
    val existed = entries.remove(key).isDefined
    if (existed) spark.catalog.dropTempView(sqlName(key))
    existed
  }

  /** Materialize an entry to parquet (the durable layer owns
    * replication/integrity, as HDFS did for the reference's chunks). */
  def persist(key: String, path: String): Unit =
    get(key).write.mode(SaveMode.Overwrite).parquet(path)

  /** Load a parquet path and register it. */
  def load(key: String, path: String): DataFrame = {
    val df = spark.read.parquet(path)
    put(key, df)
    df
  }

  /** Keyed upsert (SCD-1 merge): rows of `updates` replace existing
    * rows with the same key; everything else is kept. Implemented as
    * updates ∪ (current ⟕̸ updates) — a union with an anti join, the
    * MERGE formulation any engine without a transactional table format
    * runs. One shuffle on the key for the anti join; the union is
    * shuffle-free. The merged entry replaces the catalog entry
    * (lazily — `persist` materializes). */
  def upsert(key: String, updates: DataFrame, idCol: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    val merged = if (!exists(key)) updates else {
      val current = get(key)
      require(current.columns.sameElements(updates.columns),
        s"upsert schema mismatch for '$key'")
      updates.unionAll(
        current.join(updates.select(col(idCol).as("__upd_id")),
          col(idCol) === col("__upd_id"), "left_anti"))
    }
    put(key, merged)
    merged
  }

  /** Small-file compaction: rewrite a parquet directory into
    * ~`targetBytes`-sized files. A crawl/streaming sink accumulates
    * thousands of tiny part files whose per-file open/footer cost
    * dominates scans at 100 TB; compaction sizes the partition count
    * from the actual byte size and rewrites once. Returns the file
    * count after compaction. */
  def compact(path: String, targetBytes: Long = 128L * 1024 * 1024): Int = {
    val dir = new java.io.File(path)
    def parts(d: java.io.File): Array[java.io.File] =
      d.listFiles().filter(f => f.getName.endsWith(".parquet")
        || f.getName.startsWith("part-"))
    val totalBytes = parts(dir).map(_.length()).sum
    val n = math.max(1, math.ceil(totalBytes.toDouble / targetBytes).toInt)
    val df = spark.read.parquet(path)
    val tmp = path + ".compact"
    df.repartition(n).write.mode(SaveMode.Overwrite).parquet(tmp)
    // atomic-ish swap: the rewrite lands fully before the old dir goes
    val old = new java.io.File(path)
    val bak = new java.io.File(path + ".old")
    require(old.renameTo(bak), s"cannot move $path aside")
    require(new java.io.File(tmp).renameTo(old), s"cannot move $tmp into place")
    graft.streaming.BoundedReplay.deleteStaged(bak.toPath)
    parts(new java.io.File(path)).length
  }
}

object Catalog {
  /** Root directory for durable artifacts (ANN index, near-dup edge
    * graph). Overridable via the `graft.artifact.dir` system property
    * or the `SPARK_GRAFT_ARTIFACT_DIR` env var; defaults to
    * `.graft-artifacts/` (git-ignored) — NOT `target/`, where
    * `sbt clean` silently discarded every vintage and the next session
    * paid a full retrain/rebuild (the round-11 "homed under target/"
    * watch item). Artifacts remain pure cache: deleting the root never
    * loses data, it costs one load-or-build pass per family. */
  def artifactRoot: String = artifactRootFrom(
    sys.props.get("graft.artifact.dir"),
    sys.env.get("SPARK_GRAFT_ARTIFACT_DIR"))

  /** Resolution order, factored for testability (a test must not
    * mutate global props: suites share one forked JVM). */
  private[graft] def artifactRootFrom(prop: Option[String],
                                      env: Option[String]): String =
    prop.orElse(env).getOrElse(".graft-artifacts")

  /** Canonical on-disk home for one family's artifact of one corpus:
    * `<root>/<family>/<pathDigest(dir)>`. */
  def artifactPath(family: String, dir: String): String =
    s"$artifactRoot/$family/${pathDigest(dir)}"

  /** Vintages each artifact family keeps on disk; older ones are GC'd
    * by [[purgeStale]] from the family's persist path (wired into
    * `edgesArtifactPersist` / `annIndexPersist`). Override with
    * `SPARK_GRAFT_ARTIFACT_KEEP`. */
  def artifactKeep: Int =
    sys.env.get("SPARK_GRAFT_ARTIFACT_KEEP").map(_.toInt).getOrElse(6)

  /** Stable digest of a fixture/corpus path for keying durable
    * artifacts (ANN index, near-dup edge graph). The path is
    * CANONICALIZED first — symlinks resolved, `.`/`..` folded,
    * trailing-slash differences erased — so every spelling of the same
    * directory keys the same artifact (a raw-string digest trained a
    * separate index per spelling). */
  def pathDigest(dir: String): String = {
    val p = java.nio.file.Paths.get(dir)
    val canonical =
      try p.toRealPath().toString
      catch { case _: Exception => p.toAbsolutePath.normalize.toString }
    java.security.MessageDigest.getInstance("MD5")
      .digest(canonical.getBytes("UTF-8")).take(8).map("%02x".format(_)).mkString
  }

  /** Artifact-store GC: durable artifacts accumulate one directory per
    * corpus fingerprint/path digest under a family root (e.g.
    * `target/ann_index/<digest>`); across vintages the store grows
    * unboundedly. Keep the `keep` most-recently-modified children of
    * `familyRoot`, delete the rest recursively. Returns the names
    * purged (sorted). A missing root purges nothing. Stale artifacts
    * are pure cache — a purged vintage that comes back retrains once
    * (the load-or-build contract), so GC can never lose data. */
  def purgeStale(familyRoot: String, keep: Int): Seq[String] = {
    require(keep >= 0, "keep must be non-negative")
    val root = new java.io.File(familyRoot)
    val children = Option(root.listFiles()).getOrElse(Array.empty)
      .filter(_.isDirectory)
    val stale = children.sortBy(-_.lastModified()).drop(keep)
    stale.foreach { d =>
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).getOrElse(Array.empty).foreach(rm)
        f.delete(); ()
      }
      rm(d)
    }
    stale.map(_.getName).sorted.toSeq
  }
}
