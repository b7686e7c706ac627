package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions

/** Streaming document deduplication — the ingest-time counterpart of
  * the batch [[graft.operators.Dedup]] operators.
  *
  * Exact dedup on an unbounded stream cannot keep every fingerprint
  * ever seen: `dropDuplicates` state grows without bound and a 100 TB/
  * day feed kills the state store in hours. `exactDedupStream` instead
  * uses `dropDuplicatesWithinWatermark`, which keeps one state entry
  * per fingerprint only until the watermark passes its event time —
  * bounded state, exactly-once emission of the first arrival within
  * the horizon. Cross-horizon duplicates (the same document
  * re-ingested days later) are a batch concern: run the stored corpus
  * through `Dedup.exactDedup` in the nightly compaction.
  *
  * The near-dup path reuses the batch signature expressions unchanged
  * (minhash/simhash are stateless per-row transforms, so the same
  * codegen'd kernels run inside a streaming micro-batch): signatures
  * are attached on ingest, and candidate pairing happens downstream
  * against the bucketed store, not inside the stream.
  */
object StreamingDedup {

  /** First-arrival-wins exact dedup within the watermark horizon.
    * Dedup key is the normalized-text sha-256 fingerprint (identical
    * to the batch operator, so stream- and batch-deduped corpora
    * agree on what "the same document" means).
    */
  def exactDedupStream(
      docs: DataFrame,
      tsCol: String,
      textCol: String,
      watermark: String = "1 hour"): DataFrame =
    docs
      .withColumn("fingerprint", TextFunctions.fingerprint(col(textCol)))
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark("fingerprint")

  /** Incremental streaming near-dup detection: a foreachBatch writer
    * that pairs each micro-batch against the PERSISTED signature store
    * ([[graft.operators.Dedup.incrementalCandidatesFromSigs]]) and
    * then adds the batch's signatures to the store. The batch is
    * shingled and hashed ONCE — the same lazily-checkpointed signature
    * frame feeds the candidate join and the store append — so every
    * document is hashed exactly once over the stream's lifetime, and a
    * pair is emitted in the batch where its LATER document arrives.
    *
    * Idempotent replay, including backfill of an EARLIER batch id:
    * pairs and signatures land in `batch_id=N` partition directories
    * (overwrite), and the store read takes only `batch_id < N` — a
    * partition-pruned scan, not a directory listing plus anti-join —
    * so a re-run of ANY batch id sees exactly the pre-batch store
    * state and rewrites byte-identical output. Ids must be globally
    * unique across batches (the corpus contract everywhere else).
    */
  def incrementalDedupBatch(
      storeDir: String,
      pairsDir: String,
      textCol: String,
      idCol: String,
      numHashes: Int = 32,
      shingleSize: Int = 3,
      bands: Int = 8,
      maxBucket: Int = 1000)(batch: DataFrame, batchId: Long): Unit = {
    import graft.operators.{Blocks, Dedup}
    // ids are globally unique, so each signature lands once: a
    // first-seen store read strictly below this batch
    val sigStore = MergeStore(storeDir, MergeStore.FirstSeen(identity))
    val store = sigStore.merged(batch.sparkSession, _ < batchId)
      .map(_.select("id", "band"))
      .getOrElse(Dedup.bandSignatures(
        batch.limit(0), textCol, idCol, numHashes, shingleSize, bands))
    val sigs = Dedup.bandSignatures(
      batch, textCol, idCol, numHashes, shingleSize, bands)
      .localCheckpoint(false)
    val (pairs, dropped) =
      Dedup.incrementalCandidatesFromSigs(store, sigs, maxBucket)
    // three independent partition dirs (pairs/dropped derive from the
    // pre-batch store + the sigs checkpoint; sigs from the checkpoint
    // alone): land them concurrently (guide §2.6) — replay overwrites
    // all three byte-identical, so no write orders another
    graft.operators.Par.actions(
      () => MergeStore(pairsDir, MergeStore.OutputLog).write(pairs, batchId),
      () => MergeStore(s"$pairsDir/__dropped__", MergeStore.OutputLog).write(dropped, batchId),
      () => sigStore.write(sigs, batchId))
    // all three writes have finished: the batch's signature anchor is
    // superseded
    Blocks.drop(sigs)
  }

  /** Attach dedup signatures on ingest: exact fingerprint, simhash, and
    * minhash-LSH band keys (exploded downstream for bucket routing).
    * Stateless — safe in any output mode, no streaming state at all;
    * the expensive shingle hashing is materialized once per row
    * (Catalyst would otherwise duplicate the subtree per signature).
    */
  def withDedupSignatures(
      docs: DataFrame,
      textCol: String,
      numHashes: Int = 32,
      bands: Int = 8): DataFrame = {
    import graft.plans.NativeText
    NativeText.register(docs.sparkSession)
    val rowsPerBand = numHashes / bands
    docs
      .withColumn("fingerprint", TextFunctions.fingerprint(col(textCol)))
      .withColumn("__sh",
        NativeText.shingleHash32(
          split(TextFunctions.normalizeText(col(textCol)), " "), 3))
      .withColumn("simhash",
        NativeText.simHash32(
          NativeText.shingleHash32(
            split(TextFunctions.normalizeText(col(textCol)), " "), 1)))
      .withColumn("minhash_sig", NativeText.minHashSig(col("__sh"), numHashes))
      .withColumn("band_keys",
        NativeText.bandHashes(col("minhash_sig"), bands, rowsPerBand))
      .drop("__sh")
  }
}
