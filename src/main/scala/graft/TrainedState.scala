package graft

import org.apache.spark.sql.SparkSession

/** Derived state that several queries share: a [[SessionDirMemo]] slot
  * (k-means centroids, the BPE learner, standing fold state, the
  * interval family's streaming pass) or the durable near-dup edges
  * artifact. Consumers build it on first use; harnesses that must bill
  * or time the build cold (`graft.Bench`, `ScaleProbe`) reset it and
  * prime it themselves. */
private[graft] trait TrainedState {
  /** The `graft.Bench` line that bills this state's cold build. */
  def line: String

  /** Drop the state, so that its next use rebuilds it. */
  def reset(): Unit

  /** Build (or re-read) the state for `dir` without running a query. */
  def prime(spark: SparkSession, dir: String): Unit
}

private[graft] object TrainedState {
  import graft.ext.{Dedup, Learn, Pipeline, Similarity, TextAnalysis}

  /** Every trained state, in dependency order: the standing dedup
    * labels load the edges artifact, and the readiness state reads the
    * standing labels. */
  val all: Seq[TrainedState] = Seq(
    graft.streaming.EventStream.ijFullMemo,
    Dedup.edgesArtifact,
    Similarity.centroidMemo,
    Similarity.pqMemo,
    Similarity.baseCentroidMemo,
    Learn.logitMemo,
    TextAnalysis.bpeMemo,
    TextAnalysis.bpeStandingMemo,
    Dedup.standingStateMemo,
    Pipeline.readyStateMemo,
    Pipeline.joinViewMemo,
    Pipeline.cdcViewMemo)
}
