package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.CorpusGrowth

/** Live n-gram novelty over a document stream — the streaming
  * counterpart of `q_ngram_novelty`: as documents arrive, score each
  * one's fraction of never-seen-before n-grams against EVERYTHING
  * streamed so far, without ever rescanning the history. The signal
  * that answers "has this source gone stale?" while the crawl is
  * still running — batch novelty can only answer it after the fact.
  *
  * State is the set of 32-bit gram hashes already seen, stored as
  * DISJOINT batch partitions: each batch persists only the hashes it
  * saw FIRST (anti-join against the prior store), so the store grows
  * with the corpus' distinct grams and nothing else, and the
  * distinct-union read is over batch outputs, never documents.
  *
  * EXACT batch parity when doc ids arrive in nondecreasing order
  * across batches (the natural crawl order; the parity precondition,
  * spec-pinned): the per-batch report equals
  * [[CorpusGrowth.ngramNovelty]] over the union of batches 0..N
  * restricted to batch N's documents — first-occurrence-within-batch
  * uses the same min-doc_id attribution, and prior batches always
  * hold strictly smaller ids.
  *
  * Replay-safe: the current batch's OWN store partition is excluded
  * from the "seen" side before scoring, so re-delivering batch N
  * (the one repeat Structured Streaming makes after a crash before
  * checkpoint commit) recomputes the identical report and rewrites
  * only its own partitions.
  */
object NoveltyStream {

  final case class Config(n: Int = 3)

  /** The seen-gram store: distinct union of first-seen batch partitions
    * (disjoint by construction; the distinct is belt-and-braces for
    * replayed histories).
    */
  private def seen(stateDir: String) =
    MergeStore(stateDir, MergeStore.FirstSeen(_.select("h").distinct()))
  private def reportLog(reportDir: String) = MergeStore(reportDir, MergeStore.OutputLog)

  /** Land a batch's first-seen hashes (`freshFirst` of
    * [[scoreAgainstStore]]) as its partition of the seen-gram store.
    */
  private[streaming] def writeSeen(stateDir: String, freshFirst: DataFrame, batchId: Long): Unit =
    seen(stateDir).write(freshFirst.select("h"), batchId)

  /** Score one micro-batch against the store and persist both the
    * per-doc novelty report (`reportDir/batch_id=N`) and the batch's
    * first-seen hash set (`stateDir/batch_id=N`). Directly callable
    * for tests/backfill.
    */
  /** The shared per-batch scoring core ([[noveltyBatch]] and
    * [[ScorecardStream.scorecardBatch]] both fold through it, so the
    * replay-exclusion and attribution contract lives in ONE place):
    * min-doc_id attribution WITHIN the batch, then drop what any
    * prior batch already claimed (own partition excluded: replay).
    * Returns `(perDoc: (doc_id, n_ngrams, n_novel), freshFirst:
    * (h, doc_id))` — freshFirst is CHECKPOINTED (it pins the store's
    * pre-batch content; the caller writes it as the batch's store
    * partition and must release it via
    * [[graft.operators.SimilaritySearch.dropCheckpointBlocks]]).
    */
  private[streaming] def scoreAgainstStore(
      pre: DataFrame,
      spark: SparkSession,
      stateDir: String,
      batchId: Long): (DataFrame, DataFrame) = {
    val firstInBatch = pre
      .select(col("doc_id"), explode(col("gs")).as("h"))
      .groupBy("h").agg(min("doc_id").as("doc_id"))
    val seen = seenHashes(spark, stateDir, excludeBatchId = Some(batchId))
    val freshFirst = firstInBatch
      .join(seen, Seq("h"), "left_anti")
      .localCheckpoint() // the caller's report and store write both read it
    val novel = freshFirst.groupBy("doc_id").agg(count(lit(1)).as("n_novel"))
    val perDoc = pre
      .select(col("doc_id"), size(col("gs")).cast("long").as("n_ngrams"))
      .join(novel, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_ngrams"),
        coalesce(col("n_novel"), lit(0L)).as("n_novel"))
    (perDoc, freshFirst)
  }

  def noveltyBatch(
      batch: DataFrame,
      idCol: String,
      textCol: String,
      stateDir: String,
      reportDir: String,
      cfg: Config,
      batchId: Long): Unit = {
    if (batch.isEmpty) return
    val spark = batch.sparkSession
    val pre = CorpusGrowth.docShingleHashes(batch, idCol, textCol, cfg.n)
      .localCheckpoint() // read thrice: totals, attribution, store write
    val (perDoc, freshFirst) = scoreAgainstStore(pre, spark, stateDir, batchId)
    val report = perDoc.select(col("doc_id"), col("n_ngrams"), col("n_novel"),
      round(col("n_novel").cast("double") /
        col("n_ngrams").cast("double"), 6).as("novelty"))
    // report and state write are independent (both read only the pre
    // checkpoints + the pre-batch store): land them concurrently
    // (guide §2.6); replay overwrites both byte-identical
    graft.operators.Par.actions(
      () => reportLog(reportDir).write(report, batchId),
      () => writeSeen(stateDir, freshFirst, batchId))
    // batch-lifetime checkpoints: drop their blocks now, not at
    // stream shutdown — a long-running monitor must not accumulate
    // one batch's worth of blocks per micro-batch
    graft.operators.SimilaritySearch.dropCheckpointBlocks(freshFirst)
    graft.operators.SimilaritySearch.dropCheckpointBlocks(pre)
  }

  /** Attach the monitor to a streaming document source. */
  def start(
      stream: Dataset[_],
      idCol: String,
      textCol: String,
      stateDir: String,
      reportDir: String,
      checkpointDir: String,
      cfg: Config = Config()): StreamingQuery =
    MergeStore.foreachBatch(stream, checkpointDir)(
      noveltyBatch(_, idCol, textCol, stateDir, reportDir, cfg, _)).start()

  /** The seen-gram store, without batch `excludeBatchId` when given.
    * Empty store yields an empty frame.
    */
  def seenHashes(
      spark: SparkSession,
      stateDir: String,
      excludeBatchId: Option[Long] = None): DataFrame = {
    import spark.implicits._
    excludeBatchId.fold(seen(stateDir).merged(spark))(id =>
      seen(stateDir).merged(spark, _ =!= id))
      .getOrElse(Seq.empty[Long].toDF("h"))
  }

  /** All per-batch reports as one frame (batch_id surfaces as a
    * partition column), or None before the first batch.
    */
  def reports(spark: SparkSession, reportDir: String): Option[DataFrame] =
    reportLog(reportDir).read(spark)

  /** Fold every batch except the newest into one store partition
    * (distinct union — lossless for a set). The newest batch keeps
    * its own directory so a post-crash replay overwrites only itself
    * (its scoring excludes its own partition, which a fold of the
    * newest would have merged away — the first-seen algebra's
    * compaction, [[MergeStore.compact]]). Single-writer.
    */
  def compact(spark: SparkSession, stateDir: String): Unit =
    seen(stateDir).compact(spark)
}
