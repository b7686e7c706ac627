package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.Survivorship

/** The LIVE golden record — master data maintained as records arrive:
  * per micro-batch, fold the batch's entity-labelled records into a
  * batch_id-partitioned (entity × attr × value) count store; the
  * served golden record over the summed store EXACTLY equals
  * [[Survivorship.goldenRecord]] on the union of every delivered
  * batch, because value counts are additive and every rule served
  * off the count store (MostFrequent / MaxOf / MinOf) is a function
  * of the counts alone; LatestBy rides the companion latest-wins
  * store ([[latestBatch]] / [[latest]] — per-batch argmax winners,
  * re-argmaxed across partitions on read).
  *
  * This closes the MDM loop the batch operators open: linkage
  * ([[LinkageStream]]) scores pairs as the dirty feed lands, cluster
  * labels assign entities, and THIS store keeps each entity's
  * canonical attributes current without ever recomputing the corpus —
  * per batch it aggregates only the rows the batch delivered.
  *
  * Replay-safe (a re-run of batch N overwrites only `batch_id=N`),
  * compactable by sum, state bounded by the observed
  * (entity × attr × value) combination space.
  */
object GoldenStream {

  private def counts(stateDir: String) = MergeStore(stateDir, MergeStore.Sum("n"))
  private def latestStore(stateDir: String) =
    MergeStore(stateDir, MergeStore.LatestWins(Seq("entity_id", "attr"), Seq("ord", "tie_id")))

  /** Fold one micro-batch of entity-labelled records into the store. */
  def countBatch(
      batch: DataFrame,
      entityCol: String,
      attrCols: Seq[String],
      stateDir: String,
      batchId: Long): Unit = {
    if (batch.isEmpty) return
    counts(stateDir).write(Survivorship.countRecords(batch, entityCol, attrCols), batchId)
  }

  /** Attach the fold to a streaming source of entity-labelled records. */
  def start(
      stream: Dataset[_],
      entityCol: String,
      attrCols: Seq[String],
      stateDir: String,
      checkpointDir: String): StreamingQuery =
    MergeStore.foreachBatch(stream, checkpointDir)(
      countBatch(_, entityCol, attrCols, stateDir, _)).start()

  /** The live golden record off the cumulative store (None before the
    * first batch). Values come back as strings (the store is
    * type-erased so one store serves every attribute) — cast at the
    * read site.
    */
  def goldenRecord(
      spark: SparkSession,
      stateDir: String,
      rules: Seq[Survivorship.Rule]): Option[DataFrame] =
    counts(stateDir).read(spark)
      .map(Survivorship.goldenRecordFromCounts(_, rules))

  /** Collapse all but the newest batch partition (counts merge by sum). */
  def compact(spark: SparkSession, stateDir: String): Unit =
    counts(stateDir).compact(spark)

  // ---- the latest-wins companion store: LatestBy rules live here
  // (argmax by (ord, tie_id) is a semilattice — each batch keeps its
  // per-(entity, attr) winner, the read side re-argmaxes across batch
  // partitions), closing the "LatestBy stays batch-side" caveat the
  // count store alone carries. |entities|·|attrs|-bounded per batch.

  /** Fold one batch's LatestBy winners into the latest-wins store. */
  def latestBatch(
      batch: DataFrame,
      entityCol: String,
      rules: Seq[Survivorship.LatestBy],
      stateDir: String,
      batchId: Long): Unit = {
    if (batch.isEmpty) return
    latestStore(stateDir).write(Survivorship.latestRecords(batch, entityCol, rules), batchId)
  }

  /** The live LatestBy values off the merged latest-wins store (one
    * row per entity; values type-erased as strings — cast at the
    * read site, and see [[Survivorship.latestFromState]]'s
    * string-order contract for the order column).
    */
  def latest(
      spark: SparkSession,
      stateDir: String,
      rules: Seq[Survivorship.LatestBy]): Option[DataFrame] =
    latestStore(stateDir).read(spark)
      .map(Survivorship.latestFromState(_, rules))

  /** Compact the latest-wins store (argmax merge — lossless). */
  def compactLatest(spark: SparkSession, stateDir: String): Unit =
    latestStore(stateDir).compact(spark)
}
