package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.Decontaminate

/** Streaming benchmark-store maintenance for decontamination — eval
  * sets are the side that UPDATES in practice (new benchmark releases,
  * new held-out splits), and every release must re-gate the corpus
  * without rebuilding the shingle store from scratch. Same
  * per-batch-state + merge-on-read contract as [[KmvStream]] and
  * [[ReservoirStream]].
  *
  * The store is a distinct-set union of portable shingle hashes — a
  * semilattice (associative, commutative, idempotent) — so the merged
  * store equals [[Decontaminate.benchmarkHashes]] over the union of
  * every batch EXACTLY, batch replay is harmless, and gating through
  * [[Decontaminate.overlapReportHashes]] returns the same rows the
  * batch operator would on the full benchmark union.
  *
  * Scale shape: each micro-batch pays one distinct over ITS OWN
  * shingles (eval sets are MBs, not the corpus); state on disk grows
  * with distinct benchmark shingles only; the reader's distinct-union
  * is over batch outputs, never documents.
  */
object DecontaminationStream {

  final case class Config(shingleSize: Int = 3, threshold: Double = 0.8)

  private def store(stateDir: String) =
    MergeStore(stateDir, MergeStore.Semilattice(_.select("h").distinct()))

  /** Reduce one micro-batch of benchmark documents to its distinct
    * shingle hashes under `stateDir/batch_id=N`. Empty batches write
    * nothing.
    */
  def mergeBatch(
      batch: DataFrame,
      idCol: String,
      textCol: String,
      stateDir: String,
      cfg: Config,
      batchId: Long): Unit = {
    if (batch.isEmpty) return
    store(stateDir).write(
      Decontaminate.benchmarkHashes(batch, idCol, textCol, cfg.shingleSize), batchId)
  }

  /** Attach the per-batch reducer to a streaming benchmark feed. */
  def start(
      stream: Dataset[_],
      idCol: String,
      textCol: String,
      stateDir: String,
      checkpointDir: String,
      cfg: Config = Config()): StreamingQuery =
    MergeStore.foreachBatch(stream, checkpointDir)(
      mergeBatch(_, idCol, textCol, stateDir, cfg, _)).start()

  /** The live benchmark shingle store: distinct union across all
    * completed batches. Empty (batchless) state yields an empty frame.
    */
  def hashes(spark: SparkSession, stateDir: String): DataFrame = {
    import spark.implicits._
    store(stateDir).merged(spark).getOrElse(Seq.empty[Long].toDF("h"))
  }

  /** Collapse the accumulated batch directories into one resolved
    * batch holding the distinct shingle-hash union — lossless (the
    * store is a set; distinct-union with future batches is unchanged).
    * Atomic swap; single-writer ([[MergeStore.compact]]).
    */
  def compact(spark: SparkSession, stateDir: String): Unit =
    store(stateDir).compact(spark)

  /** Gate a corpus against the CURRENT store — identical output to
    * [[Decontaminate.overlapReport]] run against the union of every
    * benchmark batch ever streamed. Passes the RAW store through:
    * [[Decontaminate.overlapReportHashes]] distincts its probe side
    * once, so distincting here too would aggregate the whole store
    * twice per gate call.
    */
  def overlapReport(
      corpus: DataFrame,
      spark: SparkSession,
      stateDir: String,
      idCol: String,
      textCol: String,
      cfg: Config = Config()): DataFrame = {
    import spark.implicits._
    val raw = store(stateDir).read(spark)
      .map(_.select("h")).getOrElse(Seq.empty[Long].toDF("h"))
    Decontaminate.overlapReportHashes(
      corpus, raw, idCol, textCol, cfg.shingleSize, cfg.threshold)
  }
}
