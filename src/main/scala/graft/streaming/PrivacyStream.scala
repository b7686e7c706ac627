package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.Privacy

/** Live privacy-risk monitoring — the streaming counterpart of the
  * [[Privacy]] audits, all served off ONE mergeable store: per
  * micro-batch, fold the batch's (quasi-identifier × sensitive-value)
  * row counts into a batch_id-partitioned count store; k-anonymity,
  * l-diversity, t-closeness AND the deterministic DP release over the
  * CUMULATIVE counts each EXACTLY equal their batch operator on the
  * union of every delivered batch, because per-key counts are
  * additive (the same semilattice argument as [[SkewStream]] /
  * [[LexiconStream]] — one representation, many metrics).
  *
  * The operational loop this closes: a release pipeline watches
  * equivalence classes shrink below k (or drift past t) AS data
  * streams in, and gates the next export BEFORE a re-identifiable
  * slice ships. The DP endpoint takes a release `epoch`: each epoch
  * draws independent noise (re-releasing a growing store under one
  * fixed draw would let an observer difference two releases into the
  * raw count deltas), replaying the SAME epoch is deterministic for
  * audit, the seed must stay secret, and the ε budget composes
  * sequentially across epochs — see [[Privacy.dpRelease]]'s privacy
  * contract.
  *
  * Scale shape per batch: one map-side-combined count over the keys
  * the batch touched (state grows with the OBSERVED combination
  * space, never rows); every report aggregates the bounded store.
  * Replay-safe: a re-run of batch N overwrites only `batch_id=N`;
  * compaction merges by sum.
  */
object PrivacyStream {

  private def store(stateDir: String) = MergeStore(stateDir, MergeStore.Sum("__c"))

  /** Fold one micro-batch's (quasi × sensitive) counts into the store. */
  def countBatch(
      batch: DataFrame,
      quasiCols: Seq[String],
      sensitiveCol: String,
      stateDir: String,
      batchId: Long): Unit = {
    if (batch.isEmpty) return
    store(stateDir).write(batch.groupBy((quasiCols :+ sensitiveCol).map(col): _*)
      .agg(count(lit(1)).as("__c")), batchId)
  }

  /** Attach the monitor to a streaming source. */
  def start(
      stream: Dataset[_],
      quasiCols: Seq[String],
      sensitiveCol: String,
      stateDir: String,
      checkpointDir: String): StreamingQuery =
    MergeStore.foreachBatch(stream, checkpointDir)(
      countBatch(_, quasiCols, sensitiveCol, stateDir, _)).start()

  /** The cumulative (quasi × sensitive) count table — the one frame
    * every report below derives from (None before the first batch).
    */
  def cumulativeCounts(
      spark: SparkSession,
      stateDir: String,
      quasiCols: Seq[String],
      sensitiveCol: String): Option[DataFrame] =
    store(stateDir).merged(spark)

  def kAnonymity(
      spark: SparkSession, stateDir: String,
      quasiCols: Seq[String], sensitiveCol: String, k: Long): Option[DataFrame] =
    cumulativeCounts(spark, stateDir, quasiCols, sensitiveCol)
      .map(Privacy.kAnonymityFromCounts(_, quasiCols, k))

  def lDiversity(
      spark: SparkSession, stateDir: String,
      quasiCols: Seq[String], sensitiveCol: String,
      k: Long, l: Long): Option[DataFrame] =
    cumulativeCounts(spark, stateDir, quasiCols, sensitiveCol)
      .map(Privacy.lDiversityFromCounts(_, quasiCols, sensitiveCol, k, l))

  def tCloseness(
      spark: SparkSession, stateDir: String,
      quasiCols: Seq[String], sensitiveCol: String, t: Double): Option[DataFrame] =
    cumulativeCounts(spark, stateDir, quasiCols, sensitiveCol)
      .map(Privacy.tClosenessFromCounts(_, quasiCols, sensitiveCol, t))

  /** One DP release of the cumulative counts at `epoch` — advance the
    * epoch every time this is called over a store that has grown (per
    * [[Privacy.dpRelease]]'s contract); the natural epoch is the
    * newest folded batch id.
    */
  def dpRelease(
      spark: SparkSession, stateDir: String,
      quasiCols: Seq[String], sensitiveCol: String,
      epsilon: Double, releaseThreshold: Double, seed: Long,
      epoch: Long): Option[DataFrame] =
    cumulativeCounts(spark, stateDir, quasiCols, sensitiveCol)
      .map(Privacy.dpReleaseFromCounts(
        _, quasiCols, epsilon, releaseThreshold, seed, epoch))

  /** Collapse all but the newest batch partition into one (additive
    * counts merge by sum). Single-writer, like every compactor here.
    */
  def compact(
      spark: SparkSession, stateDir: String,
      quasiCols: Seq[String], sensitiveCol: String): Unit =
    store(stateDir).compact(spark)
}
