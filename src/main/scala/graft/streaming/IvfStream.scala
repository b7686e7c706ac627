package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.IvfIndex

/** Streaming IVF index maintenance — embeddings stream in (a live
  * ingestion of freshly embedded documents) and the similarity index
  * stays searchable without re-assigning the corpus. Same
  * per-batch-state + merge-on-read contract as the other streamed
  * stores ([[KmvStream]], [[ReservoirStream]],
  * [[DecontaminationStream]]).
  *
  * The quantizer ([[IvfIndex.Model]]) is FIXED — trained once on a
  * reference sample, exactly how production ANN services version their
  * coarse quantizer separately from the ingested corpus. Cell
  * assignment is a pure function of (model, vector), so the union of
  * per-batch assignments equals the batch [[IvfIndex.assign]] over
  * everything ever streamed; dedup on id makes redelivery and replay
  * harmless (a re-assigned vector lands in the same cell with the same
  * normalized form).
  *
  * Scale shape: each micro-batch pays one map-only assignment over its
  * own rows plus a cell-partitioned write. While multiple batch
  * directories exist, reads resolve latest-per-id first (one exchange
  * over the accumulated state); [[compact]] folds every batch but the
  * newest into one resolved batch, so the resolution scans two
  * directories however many batches streamed. A single-batch store
  * skips the resolution, and its probed cells prune at the cell=N
  * directory level, the same pruning [[IvfIndex.save]] buys for the
  * batch index.
  */
object IvfStream {

  /** Latest batch per id wins — deterministic under replay
    * (byte-identical rows) AND under re-embedding (a corrected vector
    * in a later batch wins; `dropDuplicates` would keep a
    * partition-order-dependent survivor).
    */
  private def store(stateDir: String) =
    MergeStore(stateDir, MergeStore.Semilattice { state =>
      val base = state.select(col("id"), col("nv"),
        col("cell").cast("int").as("cell"), col(MergeStore.BatchCol))
      // fast-path decision from the frame's OWN file-index snapshot
      // (not a second filesystem listing, which could disagree with
      // the scanned files if a compaction or batch write lands
      // between the two listings)
      if (MergeStore.batchCount(state) <= 1) base // already unique per id
      else base
        .withColumn("__rn", row_number().over(
          Window.partitionBy("id").orderBy(col(MergeStore.BatchCol).desc)))
        .filter(col("__rn") === 1)
        .drop("__rn")
    }, partitionBy = Seq("cell"))

  /** Assign one micro-batch under `stateDir/batch_id=N`, partitioned
    * by cell for probe-side pruning. Empty batches write nothing.
    */
  def mergeBatch(
      batch: DataFrame,
      idCol: String,
      vecCol: String,
      model: IvfIndex.Model,
      stateDir: String,
      batchId: Long): Unit = {
    if (batch.isEmpty) return
    store(stateDir).write(
      IvfIndex.assign(batch, idCol, vecCol, model)
        .select(col("id"), col("nv"), col("cell")), batchId)
  }

  /** Attach the per-batch assigner to a streaming embedding feed. */
  def start(
      stream: Dataset[_],
      idCol: String,
      vecCol: String,
      model: IvfIndex.Model,
      stateDir: String,
      checkpointDir: String): StreamingQuery =
    MergeStore.foreachBatch(stream, checkpointDir)(
      mergeBatch(_, idCol, vecCol, model, stateDir, _)).start()

  /** The live index: every streamed assignment, resolved to the
    * LATEST batch per id. Shaped like [[IvfIndex.index]] for
    * [[IvfIndex.searchIndex]]. Empty state yields an empty frame.
    *
    * Cost note: the latest-wins resolution aggregates the whole
    * accumulated state before the search's cell join, which blocks
    * cell-level partition pruning while more than one batch directory
    * exists. [[compact]] bounds it to two directories: the fold and the
    * newest batch.
    */
  def index(spark: SparkSession, stateDir: String): DataFrame = {
    import spark.implicits._
    store(stateDir).merged(spark)
      .getOrElse(Seq.empty[(Long, Seq[Double], Int)].toDF("id", "nv", "cell"))
  }

  /** Fold every batch directory but the newest into ONE resolved
    * batch (keyed by the second-newest id, so the newest and later
    * streamed batches keep winning), staged through a temp directory
    * and an atomic swap — a crash mid-compact or a concurrent reader
    * never sees a half-written store, and a replay of the newest batch
    * rewrites only itself. Single-writer ([[MergeStore.compact]]).
    */
  def compact(spark: SparkSession, stateDir: String): Unit =
    store(stateDir).compact(spark)

  /** Search the live index — same contract as [[IvfIndex.search]] over
    * everything ever streamed.
    */
  def search(
      queries: DataFrame,
      spark: SparkSession,
      stateDir: String,
      idCol: String,
      vecCol: String,
      model: IvfIndex.Model,
      kNeighbors: Int,
      nprobe: Int): DataFrame =
    IvfIndex.searchIndex(queries, index(spark, stateDir),
      idCol, vecCol, model, kNeighbors, nprobe)
}
