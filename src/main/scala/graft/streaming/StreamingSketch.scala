package graft.streaming

import java.io.ByteArrayInputStream

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.util.sketch.CountMinSketch

import graft.plans.NativeSketch

/** Streaming heavy-hitter state: one count-min sketch per micro-batch,
  * merged on read — the token-distribution monitor a training-data
  * ingest pipeline runs next to the corpus (vocabulary drift, boiler-
  * plate spikes, dedup-feed hot keys) without ever shuffling a token
  * dictionary.
  *
  * Why per-BATCH sketches instead of one mutable accumulator: CMS
  * counters are linear, so merging the batch sketches reproduces the
  * one-pass sketch EXACTLY (same counters, same estimates — spec-
  * pinned), and keying the written file by batch_id makes checkpoint
  * replay idempotent — a re-run of batch N overwrites batch N's
  * sketch, it can never double-count. Exactly-once estimates from an
  * at-least-once trigger, with no read-modify-write race on shared
  * state.
  *
  * Scale shape: each batch pays one scan + a KB-sized single-row
  * reduce (map-side partial sketches); the reader merges B sketch
  * blobs on the driver — bounded by batch count, independent of data
  * volume.
  */
object StreamingSketch {

  final case class Config(
      eps: Double = 0.001,
      confidence: Double = 0.99,
      seed: Int = 17)

  /** One sketch blob per batch; [[merged]] folds them on the driver. */
  private def store(stateDir: String) = MergeStore(stateDir, MergeStore.OutputLog)

  /** Reduce one micro-batch into a single (sketch, n) row under
    * `stateDir/batch_id=N`. Empty batches write nothing.
    */
  def mergeBatch(
      batch: DataFrame,
      itemCol: String,
      stateDir: String,
      cfg: Config,
      batchId: Long): Unit = {
    // the batch rides foreachBatch's CLONED session — build every
    // frame from it (mixing in an outer-session frame breaks analysis)
    val spark = batch.sparkSession
    import spark.implicits._
    val row = batch.agg(
      count_min_sketch(col(itemCol), lit(cfg.eps), lit(cfg.confidence),
        lit(cfg.seed)).as("sk"),
      count(col(itemCol)).as("n")).head()
    // zero items → nothing to count; skipping the write keeps state
    // proportional to non-empty batches (an all-null batch would
    // otherwise add a counter-less sketch blob per trigger)
    if (!row.isNullAt(0) && row.getLong(1) > 0L) {
      store(stateDir).write(
        Seq((row.getAs[Array[Byte]](0), row.getLong(1))).toDF("sketch", "n"), batchId)
    }
  }

  /** Attach the per-batch reducer to a streaming Dataset. */
  def start(
      stream: Dataset[_],
      itemCol: String,
      stateDir: String,
      checkpointDir: String,
      cfg: Config = Config()): StreamingQuery =
    MergeStore.foreachBatch(stream, checkpointDir)(
      mergeBatch(_, itemCol, stateDir, cfg, _)).start()

  /** The merged sketch and total item count across all completed
    * batches; None before the first non-empty batch. Driver cost:
    * B sketch blobs, KBs each.
    */
  def merged(spark: SparkSession, stateDir: String): Option[(CountMinSketch, Long)] = {
    val state = store(stateDir).read(spark).getOrElse(return None)
    val rows = state.select("sketch", "n").collect()
    if (rows.isEmpty) return None
    val sketches = rows.map(r =>
      CountMinSketch.readFrom(new ByteArrayInputStream(r.getAs[Array[Byte]](0))))
    val total = rows.map(_.getLong(1)).sum
    Some((sketches.reduce(_ mergeInPlace _), total))
  }

  /** `items` + (`cms_est`, `cms_slack`) from the merged stream state —
    * the streaming twin of
    * [[graft.operators.HeavyHitters.withEstimates]].
    */
  def estimates(
      items: DataFrame,
      itemCol: String,
      stateDir: String,
      cfg: Config = Config()): DataFrame =
    merged(items.sparkSession, stateDir) match {
      case Some((cms, n)) =>
        items
          .withColumn("cms_est",
            NativeSketch.cmsEstimate(cms.toByteArray, col(itemCol)))
          .withColumn("cms_slack", lit(math.ceil(cfg.eps * n).toLong))
      case None =>
        items
          .withColumn("cms_est", lit(null).cast("long"))
          .withColumn("cms_slack", lit(null).cast("long"))
    }
}
