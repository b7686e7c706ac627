package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.ThetaSketch

/** Streaming per-source KMV distinct sketches — incremental
  * cross-source overlap monitoring over a document ingest stream (the
  * contamination dashboard a crawl pipeline keeps live), built on the
  * same per-batch-state + merge-on-read contract as
  * [[StreamingSketch]] (CMS) and [[DriftStream]] (counts).
  *
  * KMV sketches are a semilattice: merge = k smallest distinct of the
  * union of retained values, which is associative, commutative, AND
  * idempotent — so the merged per-batch sketches equal the one-pass
  * batch sketch EXACTLY (order-independence is spec-pinned), and
  * batch_id-keyed overwrite makes checkpoint replay harmless twice
  * over (a replayed batch overwrites its own file; even double-merged
  * values would not change a set-min).
  *
  * Scale shape: each micro-batch pays one bounded-state aggregation
  * (k longs per source per partition, map-side combined); state on
  * disk is B × S × k longs; the reader re-aggregates per source —
  * a shuffle of at most B·k values per source, independent of how
  * many documents ever streamed.
  */
object KmvStream {

  final case class Config(n: Int = 8, k: Int = ThetaSketch.DefaultK)

  /** Per-source sketches merged across batches: explode the retained
    * values and re-run the bounded aggregator — the merge IS the
    * aggregation.
    */
  private def store(stateDir: String, cfg: Config) =
    MergeStore(stateDir, MergeStore.Semilattice { state =>
      val spark = state.sparkSession
      import spark.implicits._
      state
        .select(col("source"), explode(col("sketch")).as("h"))
        .as[(String, Long)]
        .groupByKey(_._1)
        .mapValues(_._2)
        .agg(new ThetaSketch.KmvAggregator(cfg.k).toColumn.name("sketch"))
        .toDF("source", "sketch")
    })

  /** Reduce one micro-batch into (source, sketch) rows under
    * `stateDir/batch_id=N`. Empty batches write nothing.
    */
  def mergeBatch(
      batch: DataFrame,
      sourceCol: String,
      textCol: String,
      stateDir: String,
      cfg: Config,
      batchId: Long): Unit = {
    val sketches = ThetaSketch.sourceSketches(
      batch, sourceCol, textCol, cfg.n, cfg.k)
    if (!sketches.isEmpty) store(stateDir, cfg).write(sketches, batchId)
  }

  /** Attach the per-batch reducer to a streaming Dataset. */
  def start(
      stream: Dataset[_],
      sourceCol: String,
      textCol: String,
      stateDir: String,
      checkpointDir: String,
      cfg: Config = Config()): StreamingQuery =
    MergeStore.foreachBatch(stream, checkpointDir)(
      mergeBatch(_, sourceCol, textCol, stateDir, cfg, _)).start()

  /** Per-source sketches merged across all completed batches — the
    * streamed state converges exactly to [[ThetaSketch.sourceSketches]]
    * over the union of the batches. Empty (batchless) state yields an
    * empty frame.
    */
  def merged(spark: SparkSession, stateDir: String, cfg: Config = Config()): DataFrame = {
    import spark.implicits._
    store(stateDir, cfg).merged(spark)
      .getOrElse(Seq.empty[(String, Seq[Long])].toDF("source", "sketch"))
  }

  /** Fold every batch directory but the newest into one resolved
    * batch holding the merged per-source sketches — lossless for every
    * future merge (a KMV sketch is a semilattice: merging with the
    * already-merged state equals merging with the original batches).
    * Atomic swap; batches streamed afterwards keep merging on read as
    * before. Single-writer ([[MergeStore.compact]]).
    */
  def compact(spark: SparkSession, stateDir: String, cfg: Config = Config()): Unit =
    store(stateDir, cfg).compact(spark)

  /** Live overlap matrix from the streamed state (driver-side pair
    * loop over collected sketches, as in
    * [[ThetaSketch.overlapMatrix]]).
    */
  def overlapMatrix(
      spark: SparkSession, stateDir: String, cfg: Config = Config()): DataFrame = {
    import spark.implicits._
    val sketches = merged(spark, stateDir, cfg)
      .as[(String, Seq[Long])].collect().sortBy(_._1)
    val rows = for {
      i <- sketches.indices
      j <- (i + 1) until sketches.length
    } yield {
      val (sa, ska) = sketches(i)
      val (sb, skb) = sketches(j)
      val (inter, union, jacc) = ThetaSketch.estimateOverlap(ska, skb, cfg.k)
      (sa, sb, inter, union, jacc)
    }
    rows.toDF("src_a", "src_b", "est_shared", "est_union", "est_jaccard")
      .select(col("src_a"), col("src_b"),
        round(col("est_shared"), 6).as("est_shared"),
        round(col("est_union"), 6).as("est_union"),
        round(col("est_jaccard"), 6).as("est_jaccard"))
  }
}
