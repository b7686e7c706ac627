package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.Skew

/** Live shuffle-key skew monitoring — the streaming counterpart of
  * [[Skew.skewReport]]: per micro-batch, fold the batch's per-key row
  * counts into a batch_id-partitioned count store; the report over the
  * CUMULATIVE counts (sum per key, then [[Skew.reportFromCounts]])
  * EXACTLY equals the batch report over the union of every delivered
  * batch, because per-key counts are additive — the same mergeable-
  * representation argument as [[DriftStream]].
  *
  * The operational loop this closes: the ingest pipeline watches
  * `suggested_salt` drift upward as a key goes hot and re-plans its
  * salted join BEFORE the nightly 100 TB shuffle melts a reducer.
  *
  * Scale shape per batch: one map-side-combined count per key touched
  * by the batch (state on disk grows with DISTINCT keys per batch,
  * never rows); the report pass aggregates the pruned store — bounded
  * by key cardinality. Replay-safe: a re-run of batch N overwrites
  * only `batch_id=N`.
  */
object SkewStream {

  private def store(stateDir: String) = MergeStore(stateDir, MergeStore.Sum("__cnt"))

  /** Fold one micro-batch's key counts into the store. */
  def countBatch(
      batch: DataFrame,
      keyCol: String,
      stateDir: String,
      batchId: Long): Unit = {
    if (batch.isEmpty) return
    store(stateDir).write(
      batch.groupBy(col(keyCol).as("key")).agg(count(lit(1)).as("__cnt")), batchId)
  }

  /** Attach the monitor to a streaming source. */
  def start(
      stream: Dataset[_],
      keyCol: String,
      stateDir: String,
      checkpointDir: String): StreamingQuery =
    MergeStore.foreachBatch(stream, checkpointDir)(
      countBatch(_, keyCol, stateDir, _)).start()

  /** The live report over everything streamed so far (None before the
    * first batch). `keyName` labels the report's `key` column — pass
    * the logical key name, as [[Skew.skewReport]] would.
    */
  def report(
      spark: SparkSession,
      stateDir: String,
      keyName: String,
      partitions: Int = 32): Option[DataFrame] =
    store(stateDir).merged(spark).map(
      Skew.reportFromCounts(_, keyName, partitions))

  /** Collapse all but the newest batch partition into one (additive
    * counts merge by sum). Single-writer, like every compactor here.
    */
  def compact(spark: SparkSession, stateDir: String): Unit =
    store(stateDir).compact(spark)
}
