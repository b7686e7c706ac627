package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.functions.TextFunctions
import graft.operators.{CorpusGrowth, Lexicon}

/** The curation dashboard, LIVE: a streaming counterpart of
  * `q_corpus_scorecard` whose read-side fold EXACTLY equals the batch
  * composition over the union of every delivered batch (under
  * nondecreasing doc ids across batches — crawl order, the same
  * parity precondition as [[NoveltyStream]]).
  *
  * Three stores, each a [[MergeStore]]:
  *
  *   - `grams/` — the [[NoveltyStream]] first-seen gram-hash store
  *     (shared machinery: per-doc novelty is scored here the same
  *     way, against everything streamed before this batch);
  *   - `fps/` — fingerprint first-owner: `(fp, first_doc,
  *     first_source)` for fingerprints FIRST seen in each batch
  *     (disjoint partitions; merge = argmin by doc — a replayed
  *     history resolves identically);
  *   - `sums/` + `langs/` — per-source additive partials: doc/dup
  *     counts, token totals, DECIMAL-exact entropy and novelty sums
  *     with their non-null counts, and `(source, lang)` doc counts
  *     for the purity mode. Addition is the merge, so batch
  *     boundaries are invisible in every mean.
  *
  * Exactness argument: the batch operator folds 6-dp-rounded per-doc
  * values through DECIMAL sums; each micro-batch persists ITS portion
  * of those exact sums, and decimal addition is associative — the
  * streamed fold is the same number, not an approximation of it.
  */
object ScorecardStream {

  final case class Config(n: Int = 3)

  private def gramsDir(root: String) = s"$root/grams"
  /** First owner per fingerprint: argmin by doc. */
  private def fps(root: String) = MergeStore(s"$root/fps", MergeStore.FirstSeen(
    _.groupBy("fp").agg(min("first_doc").as("first_doc"),
      expr("min_by(first_source, first_doc)").as("first_source"))))
  private def sums(root: String) = MergeStore(s"$root/sums", MergeStore.Sum(
    "n_docs", "dups", "tok_sum", "ent_sum", "ent_n", "nov_sum", "nov_n"))
  private def langs(root: String) = MergeStore(s"$root/langs", MergeStore.Sum("n_docs"))

  /** Fold one micro-batch into the stores. Directly callable for
    * tests/backfill; replay-safe (each store read excludes the
    * batch's own partition before scoring).
    */
  def scorecardBatch(
      batch: DataFrame,
      idCol: String,
      sourceCol: String,
      langCol: String,
      textCol: String,
      rootDir: String,
      cfg: Config,
      batchId: Long): Unit = {
    if (batch.isEmpty) return
    val spark = batch.sparkSession
    import spark.implicits._

    // ONE text pass, ONE checkpoint: fingerprint, token count and
    // shingle hashes all come off the same scan of the batch (guide
    // §1.2 — the gs/ntok columns used to be a SECOND checkpointed pass
    // re-normalizing the just-checkpointed text). The shingle
    // expression is [[CorpusGrowth.shingleHashCol]], the same
    // definition docShingleHashes selects, so the scoring core stays
    // single-sourced.
    graft.plans.NativeText.register(spark)
    val slim = batch.select(
      col(idCol).cast("long").as("doc_id"),
      col(sourceCol).as("source"), col(langCol).as("lang"),
      col(textCol).as("__text"),
      TextFunctions.fingerprint(col(textCol)).as("__fp"),
      TextFunctions.tokenCount(
        TextFunctions.normalizeText(col(textCol))).as("__ntok"),
      CorpusGrowth.shingleHashCol(col(textCol), cfg.n).as("__gs"))
      .localCheckpoint() // read by fp, entropy, novelty and count legs

    // --- novelty per doc, against everything before this batch — the
    // SAME scoring core as NoveltyStream (one replay/attribution
    // contract, not two copies). The < n-token drop mirrors
    // docShingleHashes' filter, over the checkpointed token count.
    val pre = slim.filter(col("__ntok") >= cfg.n)
      .select(col("doc_id"), col("__gs").as("gs"))
    val (novPerDoc, freshFirst) = NoveltyStream.scoreAgainstStore(
      pre, spark, gramsDir(rootDir), batchId)
    val novelty = novPerDoc.select(col("doc_id"),
      round(col("n_novel").cast("double") /
        col("n_ngrams").cast("double"), 6).as("novelty"))

    // --- entropy + token count per doc (batch-local, map-shaped) ---
    val ent = Lexicon.tokenEntropy(slim, "doc_id", "__text")
      .select(col("doc_id"), col("n_tokens"), col("entropy"))

    // --- duplicate flag vs the fingerprint first-owner store -------
    // Per-batch consumers only test MEMBERSHIP in the prior-fp set
    // (the argmin attribution readFps resolves is read-side only), so
    // the store is read ONCE as a distinct single-column set and
    // checkpointed: the three actions that join against it (dup flag
    // feeding partial AND langCounts, plus freshFps) used to each
    // re-read and re-aggregate the whole store per micro-batch
    // (guide §1.2: remove passes).
    val priorFpSet = fps(rootDir).read(spark, _ =!= batchId)
      .map(_.select("fp").distinct())
      .getOrElse(Seq.empty[String].toDF("fp"))
      .localCheckpoint()
    val batchFirst = slim.groupBy("__fp")
      .agg(min("doc_id").as("__bfirst"))
    // the dup flag feeds TWO store writes (partial and langCounts):
    // checkpoint it once (O(batch) narrow rows) so neither write
    // re-runs the prior-fp and batch-first joins
    val flagged = slim
      .join(priorFpSet.select(col("fp").as("__fp"), lit(1).as("__prior")),
        Seq("__fp"), "left")
      .join(batchFirst, Seq("__fp"))
      .select(col("doc_id"), col("source"), col("lang"),
        when(col("__prior").isNotNull || col("doc_id") =!= col("__bfirst"),
          1.0).otherwise(0.0).as("__dup"))
      .localCheckpoint()

    // --- per-source additive partials ------------------------------
    val partial = flagged
      .join(ent, Seq("doc_id"), "left")
      .join(novelty, Seq("doc_id"), "left")
      .groupBy("source").agg(
        count(lit(1)).as("n_docs"),
        sum("__dup").as("dups"),
        sum("n_tokens").as("tok_sum"),
        sum(col("entropy").cast("decimal(27,6)")).as("ent_sum"),
        count(col("entropy")).as("ent_n"),
        sum(col("novelty").cast("decimal(27,6)")).as("nov_sum"),
        count(col("novelty")).as("nov_n"))
    val langCounts = flagged.groupBy("source", "lang")
      .agg(count(lit(1)).as("n_docs"))

    // fingerprints FIRST seen in this batch, with their owning doc —
    // `min_by` keeps attribution exact when a fp repeats in the batch
    val freshFps = slim
      .join(priorFpSet.select(col("fp").as("__fp")), Seq("__fp"), "left_anti")
      .groupBy(col("__fp").as("fp"))
      .agg(min("doc_id").as("first_doc"),
        expr("min_by(source, doc_id)").as("first_source"))

    // sums/ is the COMMIT POINT: scorecard() keys on it, so every
    // supporting store (grams, fps, langs) must land first — a crash
    // between writes then leaves a store the reader doesn't key on
    // yet, and the post-restart replay overwrites all four partitions.
    // (Every lazily-evaluated read below touches only the fps/grams
    // stores with the batch's OWN partition excluded, and freshFirst
    // pinned the pre-batch gram store at its checkpoint — so writing
    // the supporting stores first cannot feed this batch's scoring.)
    // the three supporting stores are independent of each other (all
    // derive from the slim/pre checkpoints + prior stores), so they
    // land CONCURRENTLY (guide §2.6); sums/ — the commit point — is
    // only submitted after all three returned, preserving the crash
    // contract above
    graft.operators.Par.actions(
      () => NoveltyStream.writeSeen(gramsDir(rootDir), freshFirst, batchId),
      () => fps(rootDir).write(freshFps, batchId),
      () => langs(rootDir).write(langCounts, batchId))
    sums(rootDir).write(partial, batchId)
    graft.operators.SimilaritySearch.dropCheckpointBlocks(freshFirst)
    graft.operators.SimilaritySearch.dropCheckpointBlocks(flagged)
    graft.operators.SimilaritySearch.dropCheckpointBlocks(priorFpSet)
    graft.operators.SimilaritySearch.dropCheckpointBlocks(slim)
  }

  /** Attach the monitor to a streaming document source. */
  def start(
      stream: Dataset[_],
      idCol: String,
      sourceCol: String,
      langCol: String,
      textCol: String,
      rootDir: String,
      checkpointDir: String,
      cfg: Config = Config()): StreamingQuery =
    MergeStore.foreachBatch(stream, checkpointDir)(
      scorecardBatch(_, idCol, sourceCol, langCol, textCol, rootDir, cfg, _)).start()

  /** The fingerprint first-owner store, argmin-resolved (disjoint by
    * construction; the `min_by` fold keeps a replayed or compacted
    * history resolving identically).
    */
  private[streaming] def readFps(
      spark: SparkSession,
      rootDir: String,
      excludeBatchId: Option[Long] = None): DataFrame = {
    import spark.implicits._
    val store = fps(rootDir)
    excludeBatchId.fold(store.merged(spark))(id => store.merged(spark, _ =!= id))
      .getOrElse(Seq.empty[(String, Long, String)].toDF("fp", "first_doc", "first_source"))
  }

  /** The LIVE scorecard — one row per source, the same eight columns
    * as the batch `corpusScorecard`, equal to it on the union of all
    * delivered batches. None before the first batch.
    */
  def scorecard(spark: SparkSession, rootDir: String): Option[DataFrame] =
    sums(rootDir).merged(spark).map { summed =>
      import spark.implicits._
      val perSource = summed.select(col("source"), col("n_docs"),
        col("dups").as("__dups"), col("tok_sum").as("n_tokens"),
        col("ent_sum").as("__ents"), col("ent_n").as("__entn"),
        col("nov_sum").as("__novs"), col("nov_n").as("__novn"))
      // sums/ commits last, so langs/ may be ONE batch ahead (a crash
      // between the supporting writes and the sums commit, or a reader
      // racing a live batch): clamp the lang counts to batches the
      // sums store has committed, so purity and doc counts always
      // describe the same corpus snapshot. `<= max` (not set
      // membership) stays correct mid-compaction, where folded
      // partitions carry older ids than their content. A store
      // mid-repair degrades to null purity instead of throwing.
      val sumsMax = sums(rootDir).newest(spark).getOrElse(Long.MinValue)
      val langTop = langs(rootDir).merged(spark, _ <= sumsMax)
        .getOrElse(Seq.empty[(String, String, Long)]
          .toDF("source", "lang", "n_docs"))
        .groupBy("source").agg(max("n_docs").as("__top"))
      val total = perSource.agg(sum("n_tokens").as("__tot"))
      perSource
        .join(broadcast(langTop), Seq("source"), "left")
        .crossJoin(broadcast(total))
        .select(col("source"), col("n_docs"), col("n_tokens"),
          round(col("n_tokens").cast("double") / col("__tot").cast("double"), 6)
            .as("token_share"),
          round(col("__dups") / col("n_docs").cast("double"), 6).as("dup_rate"),
          round(col("__ents").cast("double") / col("__entn").cast("double"), 6)
            .as("mean_entropy"),
          round(col("__novs").cast("double") / col("__novn").cast("double"), 6)
            .as("mean_novelty"),
          round(col("__top").cast("double") / col("n_docs").cast("double"), 6)
            .as("lang_purity"))
    }

  /** Compact all four stores (each with its own merge — distinct
    * union, argmin, addition, addition). Every batch except the
    * newest folds, so post-crash replays stay self-contained
    * ([[MergeStore.compact]]). Single-writer.
    */
  def compact(spark: SparkSession, rootDir: String): Unit = {
    NoveltyStream.compact(spark, gramsDir(rootDir))
    fps(rootDir).compact(spark)
    sums(rootDir).compact(spark)
    langs(rootDir).compact(spark)
  }
}
