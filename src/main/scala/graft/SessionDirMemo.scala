package graft

import org.apache.spark.sql.SparkSession

/** Single-slot (session, fixture-dir, content-fingerprint) memo for
  * derived state that several queries share — k-means centroid
  * matrices, the PQ codebook, the interval family's shared streaming
  * pass. ONE entry is ever retained (a different key evicts, never
  * accumulates), a stopped session's entry is dropped on sight
  * (releasing the session graph rather than pinning it), and
  * `reset()` gives harnesses that must time COLD runs (Bench's
  * cold-build lines, ScaleProbe) an explicit invalidation hook. Each
  * memo owns its build function and is one [[TrainedState]].
  *
  * Staleness: the key includes a fingerprint of the directory's file
  * metadata (relative path, size, mtime of every regular file), so
  * regenerating a corpus UNDER THE SAME PATH repopulates instead of
  * silently serving stale trained state — a stale centroid matrix
  * would skew every IVF-family result with no error anywhere. The
  * fingerprint is metadata-only (no data read; one directory walk per
  * memoized call — dwarfed by the training it guards) and
  * order-independent (walk order commutes). Non-local paths the JVM
  * can't walk (hdfs://, s3://) fingerprint as 0 and fall back to the
  * path-only key. */
private[graft] object SessionDirMemo {
  def apply[T](line: String)(build: (SparkSession, String) => T): SessionDirMemo[T] =
    new SessionDirMemo(line)(build)

  /** Metadata fingerprint of a fixture directory (see class doc).
    * Shared by the memo keys, the durable ANN index artifact's
    * staleness check, and Bench's baseline-vintage stamp. */
  def fingerprint(dir: String): Long = {
    import scala.jdk.CollectionConverters._
    try {
      val root = java.nio.file.Paths.get(dir)
      if (!java.nio.file.Files.isDirectory(root)) return 0L
      val walk = java.nio.file.Files.walk(root)
      try {
        walk.iterator().asScala
          .filter(java.nio.file.Files.isRegularFile(_))
          .map { f =>
            scala.util.hashing.MurmurHash3.productHash(
              (root.relativize(f).toString, java.nio.file.Files.size(f),
                java.nio.file.Files.getLastModifiedTime(f).toMillis)).toLong
          }
          // commutative combine: Files.walk order is unspecified
          .foldLeft(0L)(_ + _)
      } finally walk.close()
    } catch { case _: Exception => 0L }
  }
}

private[graft] final class SessionDirMemo[T](val line: String)(
    build: (SparkSession, String) => T) extends TrainedState {
  @volatile private var slot: Option[((SparkSession, String, Long), T)] = None

  def get(spark: SparkSession, dir: String): T = synchronized {
    val key = (spark, dir, SessionDirMemo.fingerprint(dir))
    slot match {
      case Some((k, v)) if k == key && !spark.sparkContext.isStopped => v
      case other =>
        // drop a dead session's entry even when the incoming key
        // differs — the whole point is not to pin stopped sessions
        if (other.exists(_._1._1.sparkContext.isStopped)) slot = None
        val v = build(spark, dir)
        slot = Some((key, v))
        v
    }
  }

  /** Seed the slot with an externally produced value (the durable
    * ANN index artifact's load path) without running a trainer. */
  def put(spark: SparkSession, dir: String, value: T): Unit = synchronized {
    slot = Some(((spark, dir, SessionDirMemo.fingerprint(dir)), value))
  }

  def reset(): Unit = synchronized { slot = None }

  def prime(spark: SparkSession, dir: String): Unit = { get(spark, dir); () }
}
