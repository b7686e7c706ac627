package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.SnapshotDiff

/** Streaming change-data-capture over a snapshot feed — the streaming
  * counterpart of [[graft.operators.SnapshotDiff]], and the
  * continuous version of the reference pipeline's input model (daily
  * FULL snapshots arriving as files; see
  * `/root/reference/jobs/create_employee_all.py` — it rebuilds from
  * all snapshots each run, this emits the delta as each one lands).
  *
  * Each micro-batch carries one full snapshot. The writer diffs it
  * against the PREVIOUS snapshot and emits
  * (keys…, change_type, changed_cols) to `changesDir/batch_id=N`;
  * the snapshot itself is persisted to `stateDir/batch_id=N`. Both
  * writes are partition-overwrites keyed by batch id, and the
  * previous-state read takes ONLY the largest `batch_id < N` — a
  * partition-pruned scan — so replaying ANY batch id (including a
  * backfill of an earlier one) sees exactly the pre-batch state and
  * rewrites byte-identical output: the
  * [[StreamingDedup.incrementalDedupBatch]] idempotency contract.
  *
  * Scale shape per batch: one full-outer merge join on the key (the
  * [[SnapshotDiff]] floor) plus one snapshot write — state never
  * lives in the state store (a 100 TB dimension table outgrows any
  * engine-managed state; parquet partitions + pruned reads are the
  * scale path). The first batch (no prior snapshot) emits every key
  * as `added`.
  */
object CdcStream {

  /** The foreachBatch body (also directly callable in tests/backfill):
    * diff `batch` against the stored prior snapshot, emit changes,
    * store the snapshot.
    */
  def snapshotDiffBatch(
      stateDir: String,
      changesDir: String,
      keyCols: Seq[String],
      compareCols: Option[Seq[String]] = None)(
      batch: DataFrame, batchId: Long): Unit = {
    val spark = batch.sparkSession
    // each batch directory is a whole snapshot; the prior one is the
    // newest below this batch
    val state = MergeStore(stateDir, MergeStore.OutputLog)
    // persist the snapshot FIRST and diff from the just-written
    // parquet: the incoming batch plan (a 100 TB snapshot scan) is
    // evaluated exactly once, and the emitted changes provably come
    // from the same bytes the state now holds. Replay stays
    // idempotent — a re-run overwrites the same partition and diffs
    // against the same pre-batch state.
    state.write(batch, batchId)
    val stored = state.batch(spark, batchId)
    val changes = state.latest(spark, before = batchId) match {
      case Some(prior) => SnapshotDiff.diff(prior, stored, keyCols, compareCols)
      case None =>
        // bootstrap: everything is new
        stored.select(keyCols.map(col): _*)
          .withColumn("change_type", lit("added"))
          .withColumn("changed_cols", lit(""))
    }
    MergeStore(changesDir, MergeStore.OutputLog).write(changes, batchId)
  }

  /** Wire the writer onto a streaming snapshot source. One snapshot
    * per trigger is the caller's contract (e.g. `maxFilesPerTrigger=1`
    * on a file source of snapshot files).
    */
  def changeStream(
      snapshots: DataFrame,
      stateDir: String,
      changesDir: String,
      checkpointDir: String,
      keyCols: Seq[String],
      compareCols: Option[Seq[String]] = None) =
    MergeStore.foreachBatch(snapshots, checkpointDir)(
      snapshotDiffBatch(stateDir, changesDir, keyCols, compareCols))

  /** All captured changes, change-log ordered: (batch_id, keys…,
    * change_type, changed_cols). Partition-pruned reads by batch_id
    * range are free (directory layout IS the index).
    */
  def changeLog(spark: org.apache.spark.sql.SparkSession, changesDir: String): DataFrame =
    MergeStore(changesDir, MergeStore.OutputLog).read(spark).get
}
