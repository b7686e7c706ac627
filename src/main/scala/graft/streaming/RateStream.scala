package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.Anomaly

/** Live event-rate anomaly monitoring — the streaming counterpart of
  * [[Anomaly.rateAnomaly]]: per micro-batch, fold the batch's
  * (type, hour) counts into a batch_id-partitioned count store; the
  * control chart over the CUMULATIVE counts EXACTLY equals the batch
  * operator on the union of every delivered batch, because per-bucket
  * counts are additive (the [[SkewStream]]/[[PrivacyStream]]
  * semilattice argument).
  *
  * The operational loop this closes: the ingest dashboard watches a
  * producer's z-score dive as its feed dies mid-crawl — the
  * zero-filled grid makes SILENCE visible — and pages before a day of
  * missing data ships into the next training mix.
  *
  * Scale shape per batch: one map-side-combined count over the
  * (type, hour) buckets the batch touched; state grows with the
  * bucket space (types × retention hours), never rows. Replay-safe:
  * a re-run of batch N overwrites only `batch_id=N`; compaction
  * merges by sum.
  */
object RateStream {

  private def store(stateDir: String) = MergeStore(stateDir, MergeStore.Sum("__c"))

  /** Fold one micro-batch's (type, hour) counts into the store. */
  def countBatch(
      batch: DataFrame,
      typeCol: String,
      tsCol: String,
      stateDir: String,
      batchId: Long): Unit = {
    if (batch.isEmpty) return
    store(stateDir).write(batch
      .groupBy(col(typeCol), date_trunc("hour", col(tsCol)).as("bucket_ts"))
      .agg(count(lit(1)).as("__c")), batchId)
  }

  /** Attach the monitor to a streaming source. */
  def start(
      stream: Dataset[_],
      typeCol: String,
      tsCol: String,
      stateDir: String,
      checkpointDir: String): StreamingQuery =
    MergeStore.foreachBatch(stream, checkpointDir)(
      countBatch(_, typeCol, tsCol, stateDir, _)).start()

  /** The live control chart over everything streamed so far (None
    * before the first batch).
    */
  def report(
      spark: SparkSession,
      stateDir: String,
      typeCol: String,
      zThreshold: Double = 3.0): Option[DataFrame] =
    store(stateDir).merged(spark).map { counts =>
      Anomaly.rateAnomalyFromCounts(
        counts
          // bucket-space-bounded; the grid/moments/z deriveds each
          // consume it — same one-materialization contract as the
          // batch operator's checkpointed count table
          .localCheckpoint(true),
        typeCol, zThreshold)
    }

  /** Collapse all but the newest batch partition into one (additive
    * counts merge by sum). Single-writer, like every compactor here.
    */
  def compact(spark: SparkSession, stateDir: String, typeCol: String): Unit =
    store(stateDir).compact(spark)
}
