package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.Sampling

/** Streaming per-source weighted reservoir sampling — a live,
  * always-current weighted subsample of an unbounded document ingest
  * (the "continuous corpus subsample" a training pipeline reads
  * whenever it snapshots a mix), built on the same per-batch-state +
  * merge-on-read contract as [[KmvStream]] (KMV), [[StreamingSketch]]
  * (CMS) and [[DriftStream]] (counts).
  *
  * The reservoir is a semilattice: each document's Efraimidis–Spirakis
  * key is a pure function of (seed, id, weight) — no RNG state — so
  * "k best keys per source" over a union is associative, commutative
  * and idempotent. Merging per-batch candidate sets therefore equals
  * the one-pass batch sample over everything ever streamed EXACTLY
  * ([[graft.operators.Sampling.weightedSampleGrouped]] is the oracle),
  * and batch_id-keyed overwrite makes checkpoint replay harmless: a
  * replayed batch rewrites its own candidates, and duplicate rows
  * cannot change a set-of-k-best.
  *
  * Scale shape: each micro-batch pays one bounded per-source top-k
  * (≤ k rows per source survive per batch); state on disk is
  * B × S × k rows; the reader dedups and re-ranks at most B·k rows
  * per source — independent of how many documents ever streamed.
  */
object ReservoirStream {

  final case class Config(k: Int = 100, seed: Long = 17L)

  /** The merge: candidates deduped on (source, id) — a document seen in
    * a replayed or overlapping batch contributes one candidacy — and
    * re-ranked by the same deterministic keys. Max-weight dedup instead
    * of dropDuplicates: replayed rows are identical either way, but if
    * a document is RE-SCORED in a later batch the survivor must not
    * depend on partition order — the best known weight wins,
    * deterministically.
    */
  private def store(stateDir: String, cfg: Config) =
    MergeStore(stateDir, MergeStore.Semilattice(state =>
      Sampling.weightedSampleGrouped(
        state.groupBy("source", "id").agg(max("weight").as("weight")),
        "source", "id", "weight", cfg.k, cfg.seed)))

  /** Reduce one micro-batch to its per-source candidate set (the ≤ k
    * best keys per source) under `stateDir/batch_id=N`. Empty batches
    * write nothing.
    */
  def mergeBatch(
      batch: DataFrame,
      sourceCol: String,
      idCol: String,
      weightCol: String,
      stateDir: String,
      cfg: Config,
      batchId: Long): Unit = {
    if (batch.isEmpty) return
    // intra-batch dedup BEFORE the top-k: an at-least-once source can
    // deliver a (source, id) twice within one micro-batch, and the two
    // identical keys would occupy two of the k slots — permanently
    // evicting the k-th distinct candidate from state. Max-weight, as
    // in [[sample]].
    val candidates = Sampling.weightedSampleGrouped(
      batch.select(
        col(sourceCol).as("source"),
        col(idCol).as("id"),
        col(weightCol).cast("double").as("weight"))
        .groupBy("source", "id").agg(max("weight").as("weight")),
      "source", "id", "weight", cfg.k, cfg.seed)
      .drop("sample_rank")
    store(stateDir, cfg).write(candidates, batchId)
  }

  /** Attach the per-batch reducer to a streaming Dataset. */
  def start(
      stream: Dataset[_],
      sourceCol: String,
      idCol: String,
      weightCol: String,
      stateDir: String,
      checkpointDir: String,
      cfg: Config = Config()): StreamingQuery =
    MergeStore.foreachBatch(stream, checkpointDir)(
      mergeBatch(_, sourceCol, idCol, weightCol, stateDir, cfg, _)).start()

  /** Collapse the accumulated batch directories into one resolved
    * batch holding the CURRENT reservoir (the k best per source).
    * Sound for future merges — top-k(top-k(A) ∪ B) = top-k(A ∪ B) —
    * with one documented narrowing: max-weight re-score resolution
    * afterwards only sees weights at or after the compaction (an
    * already-EVICTED document's higher historical weight is gone; for
    * retained documents the reservoir keeps their max weight).
    * Atomic swap; single-writer ([[MergeStore.compact]]).
    */
  def compact(spark: SparkSession, stateDir: String, cfg: Config = Config()): Unit =
    store(stateDir, cfg).compact(spark)

  /** The current reservoir: the merged candidates of all completed
    * batches, ranked. Converges exactly to the batch sample over the
    * union of the batches. Empty (batchless) state yields an empty
    * frame.
    */
  def sample(spark: SparkSession, stateDir: String, cfg: Config = Config()): DataFrame = {
    import spark.implicits._
    store(stateDir, cfg).merged(spark).getOrElse(
      Seq.empty[(String, Long, Double, Long)]
        .toDF("source", "id", "weight", "sample_rank"))
  }
}
