package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators.{Divergence, Lexicon}

/** Incremental corpus-lexicon monitoring — the streaming counterpart
  * of `q_zipf_slope` / `q_source_divergence` / `q_distinctive_terms`:
  * per micro-batch, fold the batch's per-source unigram counts into a
  * batch_id-partitioned count store, then serve any lexical signal
  * LIVE off the cumulative counts. Unigram counts are the mergeable
  * representation all three signals aggregate from, so every live
  * reading after batch N is bit-identical to its batch operator run
  * over the union of batches 0..N (spec-pinned) — the
  * [[DriftStream]]/[[TransitionStream]] pattern: one store, many
  * metrics for free.
  *
  * Scale shape per batch: ONE explode + map-side-combined groupBy of
  * the batch to its vocab-bounded (source, w, c) table; the raw
  * stream is touched once. Live reads aggregate the pruned store —
  * vocab × batches rows, never documents. Replay-safe: re-running
  * batch N overwrites its own `batch_id=N` partition.
  */
object LexiconStream {

  private def store(storeDir: String) = MergeStore(storeDir, MergeStore.Sum("c"))

  /** The foreachBatch body (directly callable for tests/backfill). */
  def lexiconBatch(
      sourceCol: String, textCol: String, storeDir: String)(
      batch: DataFrame, batchId: Long): Unit =
    store(storeDir).write(Divergence.unigrams(batch, sourceCol, textCol), batchId)

  /** Wire the lexicon store onto a streaming document source. */
  def lexiconStream(
      docs: DataFrame, sourceCol: String, textCol: String,
      storeDir: String, checkpointDir: String) =
    MergeStore.foreachBatch(docs, checkpointDir)(
      lexiconBatch(sourceCol, textCol, storeDir))

  /** Cumulative (source, w, c) counts, or None before the first
    * committed batch.
    */
  def counts(spark: SparkSession, storeDir: String): Option[DataFrame] =
    store(storeDir).merged(spark)

  /** Live per-source Zipf slope — equals
    * [[Divergence.zipfSlope]] on the union of delivered batches.
    */
  def zipfSlope(
      spark: SparkSession, storeDir: String, topK: Int = 200): DataFrame =
    counts(spark, storeDir) match {
      case None => emptySlope(spark)
      case Some(c) => Divergence.zipfSlopeFromCounts(c, topK)
    }

  /** Live pairwise source JS divergence — equals
    * [[Divergence.jsDivergence]] on the union of delivered batches.
    */
  def jsDivergence(spark: SparkSession, storeDir: String): DataFrame =
    counts(spark, storeDir) match {
      case None =>
        import spark.implicits._
        Seq.empty[(String, String, Long, Double)]
          .toDF("source_a", "source_b", "n_terms", "js_divergence")
      case Some(c) => Divergence.jsDivergenceFromCounts(c)
    }

  /** Live source-distinctive terms — equals
    * [[Lexicon.distinctiveTerms]] on the union of delivered batches.
    */
  def distinctiveTerms(
      spark: SparkSession, storeDir: String,
      alpha0: Double = 100.0, topK: Int = 10): DataFrame =
    counts(spark, storeDir) match {
      case None =>
        import spark.implicits._
        Seq.empty[(String, Long, String, Long, Long, Double)]
          .toDF("source", "rank", "term", "c_source", "c_rest", "keyness")
      case Some(c) => Lexicon.distinctiveTermsFromCounts(c, alpha0, topK)
    }

  /** Compact the store (atomic swap; lossless — counts merge by sum).
    * Additive state: every batch except the newest folds, so a
    * post-crash replay of the newest overwrites only its own
    * partition. Single-writer ([[MergeStore.compact]]).
    */
  def compact(spark: SparkSession, storeDir: String): Unit =
    store(storeDir).compact(spark)

  private def emptySlope(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq.empty[(String, Long, Double)].toDF("source", "n_terms", "zipf_slope")
  }
}
