package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators.VectorStats

/** Incremental embedding-drift monitoring — the streaming counterpart
  * of `q_embedding_drift`: per micro-batch, fold the batch's exact
  * per-(label, dim) quantized centroid sums into a
  * batch_id-partitioned store, then report the CUMULATIVE corpus'
  * centroid shift against a fixed reference slice live. Sums and
  * counts are the mergeable representation, so the monitor after
  * batch N is bit-identical to [[VectorStats.centroidShift]] run over
  * reference vs the union of batches 0..N (spec-pinned) — the
  * [[DriftStream]]/[[LexiconStream]] pattern for representation
  * space: the count-based monitors can't see a moved embedding space,
  * this one can, and its state is |labels|·d rows per batch no matter
  * the corpus size.
  *
  * Replay-safe: re-running batch N overwrites its own `batch_id=N`
  * partition; reference centroids are recomputed from the caller's
  * reference frame at read time (or persist them once with
  * [[referenceSums]]).
  */
object EmbeddingDriftStream {

  private def store(storeDir: String) = MergeStore(storeDir, MergeStore.Sum("s", "n"))

  /** The foreachBatch body (directly callable for tests/backfill). */
  def driftBatch(
      labelCol: String, vecCol: String, storeDir: String)(
      batch: DataFrame, batchId: Long): Unit =
    store(storeDir).write(VectorStats.centroidSums(batch, labelCol, vecCol), batchId)

  /** Wire the monitor onto a streaming embedding source. */
  def driftStream(
      embeddings: DataFrame, labelCol: String, vecCol: String,
      storeDir: String, checkpointDir: String) =
    MergeStore.foreachBatch(embeddings, checkpointDir)(
      driftBatch(labelCol, vecCol, storeDir))

  /** The reference side as a persistable sum table (compute once,
    * write beside the store; any engine re-derives identical
    * centroids from it).
    */
  def referenceSums(
      ref: DataFrame, labelCol: String, vecCol: String): DataFrame =
    VectorStats.centroidSums(ref, labelCol, vecCol)

  /** Cumulative (label, dim, s, n) sums, or None before the first
    * committed batch.
    */
  def sums(spark: SparkSession, storeDir: String): Option[DataFrame] =
    store(storeDir).merged(spark)

  /** Live shift of the streamed corpus against `refSums` (a
    * [[referenceSums]] table) — equals the batch operator on the
    * union of delivered batches.
    */
  def shift(
      spark: SparkSession, storeDir: String, refSums: DataFrame): DataFrame = {
    // before the first committed batch the current side is an empty
    // slice OF refSums, not a literal frame: the label column's type
    // must match the populated case (refSums's label type, typically
    // string) or the reader's schema flips between the first and
    // second read, breaking schema-sensitive sinks
    val st = sums(spark, storeDir).getOrElse(refSums.limit(0))
    VectorStats.shiftFromCentroids(
      VectorStats.centroidsFromSums(refSums),
      VectorStats.centroidsFromSums(st))
  }

  /** Compact the store (atomic swap; lossless — sums and counts merge
    * by addition). Additive state: every batch except the newest
    * folds, so a post-crash replay of the newest overwrites only its
    * own partition. Single-writer ([[MergeStore.compact]]).
    */
  def compact(spark: SparkSession, storeDir: String): Unit =
    store(storeDir).compact(spark)
}
