package graft.mr

import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator

/** Incremental forms of the holistic ReduceFunc (SURVEY §2.10 U2,
  * §7 "generic Aggregator"), registered beside their reduce as
  * [[MapReduce.Combine.Fold]] so `runJob` uses them automatically.
  *
  * The reference's reduce signature `(key, values) => value` forces the
  * whole value list of a group into memory (it buffered the entire
  * reduce partition — cmd/storage-node/main.go:1318-1321). When the
  * reduction is incremental (count, sum, min...), a typed
  * `Aggregator[IN, BUF, OUT]` lets Spark fold values into a
  * constant-size buffer with map-side partial aggregation — O(groups)
  * state instead of O(rows), the difference that matters on a skewed
  * 100 TB key space. */
object ReduceAgg {

  /** Fold-based reducer: `(key, value) pairs → per-key fold of value`. */
  def fold[B: Encoder](zeroB: B, step: (B, String) => B, mergeB: (B, B) => B,
                       finishB: B => String): Aggregator[(String, String), B, String] =
    new Aggregator[(String, String), B, String] {
      override def zero: B = zeroB
      override def reduce(b: B, kv: (String, String)): B = step(b, kv._2)
      override def merge(a: B, b: B): B = mergeB(a, b)
      override def finish(b: B): String = finishB(b)
      override def bufferEncoder: Encoder[B] = implicitly[Encoder[B]]
      override def outputEncoder: Encoder[String] = Encoders.STRING
    }

  /** Count of values per key — the incremental form of the reference's
    * word-count reducer (wordcount.go:41-45). */
  val countAgg: Aggregator[(String, String), Long, String] =
    fold[Long](0L, (b, _) => b + 1, _ + _, _.toString)(Encoders.scalaLong)

  /** Sum of numeric string values per key — the incremental form of the
    * controller's final aggregation (manager.go:1112-1118). */
  val sumAgg: Aggregator[(String, String), Long, String] =
    fold[Long](0L, (b, v) => b + v.toLong, _ + _, _.toString)(Encoders.scalaLong)

  /** Max of numeric string values per key. The `Long.MinValue` zero is
    * never rendered: a group always holds at least one value. */
  val maxAgg: Aggregator[(String, String), Long, String] =
    fold[Long](Long.MinValue, (b, v) => math.max(b, v.toLong), math.max, _.toString)(
      Encoders.scalaLong)
}
