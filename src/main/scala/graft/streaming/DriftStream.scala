package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.Drift

/** Incremental distribution-drift monitoring — the streaming
  * counterpart of `q_distribution_drift`: per micro-batch, fold the
  * batch's (source, bucket) counts into a batch_id-partitioned count
  * store and emit the per-source chi-square of the CUMULATIVE
  * distribution. Counts are the mergeable representation, so the
  * monitor after batch N is bit-identical to the batch operator run
  * over the union of batches 0..N (spec-pinned), and the store reads
  * are partition-pruned `batch_id <= N` scans — the
  * [[StreamingDedup.incrementalDedupBatch]]/[[CdcStream]] idempotent
  * replay contract: re-running ANY batch id overwrites its own
  * partitions and sees exactly the pre-batch store.
  *
  * Scale shape per batch: one aggregation of the batch to its (source,
  * bucket) counts — at most |sources| × 12 rows stored per batch —
  * then [[Drift.chi2FromCounts]] over the pruned cumulative counts (a
  * KB-scale table no matter the corpus size). The raw stream is
  * touched once.
  */
object DriftStream {

  private def counts(storeDir: String) = MergeStore(storeDir, MergeStore.Sum("o"))
  private def log(driftDir: String) = MergeStore(driftDir, MergeStore.OutputLog)

  /** The foreachBatch body (directly callable for tests/backfill):
    * `batch` must carry (source, bucket) rows (e.g. via
    * [[Drift.lengthBuckets]]).
    */
  def driftBatch(
      storeDir: String,
      driftDir: String,
      maxBucket: Long = 11L)(batch: DataFrame, batchId: Long): Unit = {
    val store = counts(storeDir)
    store.write(batch.groupBy("source", "bucket").agg(count(lit(1)).as("o")), batchId)
    val cumulative = store.merged(batch.sparkSession, _ <= batchId).get
    log(driftDir).write(Drift.chi2FromCounts(cumulative, maxBucket), batchId)
  }

  /** Wire the monitor onto a streaming document source (any schema
    * with a source column and a char-count column).
    */
  def driftStream(
      docs: DataFrame,
      sourceCol: String,
      nCharsCol: String,
      storeDir: String,
      driftDir: String,
      checkpointDir: String) =
    MergeStore.foreachBatch(Drift.lengthBuckets(docs, sourceCol, nCharsCol),
      checkpointDir)(driftBatch(storeDir, driftDir))

  /** The drift history: (batch_id, source, n_docs, chi2). */
  def driftLog(spark: org.apache.spark.sql.SparkSession, driftDir: String): DataFrame =
    log(driftDir).read(spark).get

  /** Live PSI over the SAME cumulative count store the chi-square
    * monitor writes — counts are the mergeable representation, so any
    * metric over them comes free of extra streaming state. Equals the
    * batch [[Drift.psiFromCounts]] over the union of batches 0..N.
    */
  def psi(
      spark: org.apache.spark.sql.SparkSession,
      storeDir: String,
      maxBucket: Long = 11L): DataFrame =
    counts(storeDir).merged(spark) match {
      case None =>
        import spark.implicits._
        Seq.empty[(String, Long, Double)].toDF("source", "n_docs", "psi")
      case Some(c) => Drift.psiFromCounts(c, maxBucket)
    }
}
