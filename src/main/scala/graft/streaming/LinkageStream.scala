package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators.RecordLinkage
import graft.operators.RecordLinkage.LinkField

/** Incremental entity resolution — the streaming counterpart of
  * [[RecordLinkage.link]] for the standing reconciliation job: the
  * reference dimension is static (or slowly refreshed), the dirty
  * side arrives batch by batch (a vendor feed, a re-crawl, an OCR
  * queue). Each micro-batch's rows are blocked, scored and classified
  * ONCE, against the full reference, and appended as that batch's
  * partition of the scored-pair store; the UNION of every partition
  * equals the one-shot batch linkage of everything delivered, because
  * a candidate pair exists exactly when its right-side row exists —
  * scoring is a pure per-pair function, so per-batch scoring is a
  * partition of the batch result (the [[StreamingDedup]]
  * pair-lands-once argument, without even a cross-batch store to
  * consult).
  *
  * `maxBlock` applies PER BATCH — the operationally correct bound,
  * since each arriving batch's candidate join is what a degenerate
  * block melts; dropped blocks land under `__dropped__/` per batch.
  * Exact batch parity holds whenever the guard never fires (pass 0 to
  * disable).
  *
  * Scale shape per batch: one blocked equi-join of the batch against
  * the reference + a codegen'd scoring projection; state on disk is
  * the scored pairs themselves (the job's OUTPUT, not working state).
  * Replay-safe: a re-run of batch N overwrites only its partition.
  */
object LinkageStream {

  private def verdictLog(pairsDir: String) = MergeStore(pairsDir, MergeStore.OutputLog)

  /** Score one arriving batch of right-side rows against the static
    * reference and append the verdicts as this batch's partition.
    */
  def linkBatch(
      reference: DataFrame,
      batch: DataFrame,
      blockOn: Seq[(String, String)],
      fields: Seq[LinkField],
      keep: Seq[String],
      upper: Double,
      lower: Double,
      pairsDir: String,
      batchId: Long,
      maxBlock: Long = 0L): Unit = {
    if (batch.isEmpty) return
    val (scored, dropped) = RecordLinkage.link(
      reference, batch, blockOn, fields, keep, upper, lower, maxBlock)
    // two independent partition dirs off the same batch: land them
    // concurrently (guide §2.6); replay overwrites both byte-identical
    graft.operators.Par.actions(
      () => verdictLog(pairsDir).write(scored, batchId),
      if (maxBlock > 0L)
        () => verdictLog(s"$pairsDir/__dropped__").write(dropped, batchId)
      else null)
  }

  /** Every verdict scored so far (None before the first batch). */
  def verdicts(spark: SparkSession, pairsDir: String): Option[DataFrame] =
    verdictLog(pairsDir).read(spark)
}
