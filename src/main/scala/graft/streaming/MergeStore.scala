package graft.streaming

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, Dataset, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter

import graft.sources.AtomicDir

/** The on-disk store behind every streamed operator in this package:
  * one parquet directory per micro-batch (`dir/batch_id=N`,
  * overwrite-on-replay), declared as `MergeStore(dir, algebra)`.
  *
  * The [[MergeStore.Algebra]] is part of the declaration and decides
  * both the merge on read ([[merged]]) and the [[compact]]ion, so no
  * store picks either by hand. The store owns every path under `dir`:
  * writes, reads and compaction all run [[recover]] first, so an
  * interrupted compaction is repaired before the store is read or —
  * worse — recreated by the next micro-batch write, which would orphan
  * the displaced `.__old__` state and silently reset the store.
  *
  * Compaction is single-writer: the swap tolerates a live stream
  * writer and crash/recovery, but two concurrent compactors race on the
  * same rename sequence.
  */
private[graft] final case class MergeStore(
    dir: String,
    algebra: MergeStore.Algebra,
    partitionBy: Seq[String] = Nil) {
  import MergeStore._

  private def fsOf(spark: SparkSession): (FileSystem, Path) = {
    val p = new Path(dir)
    (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }

  private def idsIn(fs: FileSystem, p: Path): Seq[Long] =
    if (!fs.exists(p)) Nil
    else fs.listStatus(p).toSeq.map(_.getPath.getName)
      .filter(_.startsWith(Prefix))
      .map(_.stripPrefix(Prefix).toLong)

  private def batchPath(batchId: Long): String = s"$dir/$Prefix$batchId"

  /** Repair an interrupted [[compact]]. Two crash windows exist:
    *
    *   - dest renamed to `.__old__`, tmp not yet renamed in →
    *     [[graft.sources.AtomicDir.recover]] restores the old store;
    *   - tmp renamed in, late-batch re-attach or `.__old__` cleanup not
    *     finished → any batch directory in `.__old__` NEWER than
    *     everything in dest is a micro-batch that a live stream wrote
    *     during the compaction; it is moved back before the leftover is
    *     deleted, so compacting under a running stream loses nothing.
    */
  def recover(spark: SparkSession): Unit = {
    val (fs, dest) = fsOf(spark)
    val old = AtomicDir.oldPath(dest)
    if (fs.exists(dest) && fs.exists(old)) {
      val destMax = idsIn(fs, dest).maxOption
      reattach(fs, old, dest, idsIn(fs, old).filter(id => destMax.forall(_ < id)))
    }
    AtomicDir.recover(fs, dest)
  }

  private def reattach(fs: FileSystem, old: Path, dest: Path, ids: Seq[Long]): Unit =
    ids.foreach { id =>
      val from = new Path(old, s"$Prefix$id")
      if (!fs.rename(from, new Path(dest, s"$Prefix$id")))
        throw new java.io.IOException(s"re-attach $from -> $dest failed")
    }

  /** Land one micro-batch as `batch_id=N` (overwrite: a replay rewrites
    * only its own directory), after repairing the store.
    */
  def write(df: DataFrame, batchId: Long): Unit = {
    recover(df.sparkSession)
    val w = df.write.mode(SaveMode.Overwrite)
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w)
      .parquet(batchPath(batchId))
  }

  /** Committed batch ids, ascending. */
  def batchIds(spark: SparkSession): Seq[Long] = {
    recover(spark)
    val (fs, p) = fsOf(spark)
    idsIn(fs, p).sorted
  }

  def newest(spark: SparkSession): Option[Long] = batchIds(spark).lastOption

  /** Every batch as one frame, with the batch id as a long
    * [[BatchCol]] column; None while no batch has committed (an empty
    * store has no parquet schema to infer).
    */
  def read(spark: SparkSession): Option[DataFrame] =
    if (batchIds(spark).isEmpty) None
    else Some(spark.read.parquet(dir)
      // partition inference narrows small ids to int; batch ids are longs
      .withColumn(BatchCol, col(BatchCol).cast("long")))

  /** [[read]] restricted to the batches whose id satisfies `keep` — a
    * partition-pruned scan, e.g. `_ < n` for the pre-batch state a
    * replay of batch n must see.
    */
  def read(spark: SparkSession, keep: Column => Column): Option[DataFrame] =
    read(spark).map(_.filter(keep(col(BatchCol))))

  /** The live state: the algebra's merge over every batch. */
  def merged(spark: SparkSession): Option[DataFrame] =
    read(spark).map(mergeOf)

  /** The algebra's merge over the batches whose id satisfies `keep`. */
  def merged(spark: SparkSession, keep: Column => Column): Option[DataFrame] =
    read(spark, keep).map(mergeOf)

  private def mergeOf(state: DataFrame): DataFrame =
    algebra.merge(state).drop(BatchCol)

  /** One batch directory as written (no batch column). */
  def batch(spark: SparkSession, batchId: Long): DataFrame =
    spark.read.parquet(batchPath(batchId))

  /** The newest batch strictly below `before`, read whole. */
  def latest(spark: SparkSession, before: Long = Long.MaxValue): Option[DataFrame] =
    batchIds(spark).filter(_ < before).lastOption.map(batch(spark, _))

  /** Compaction as the algebra dictates. A [[Semilattice]] folds every
    * batch into one directory keyed by the newest id: re-merging state
    * with itself changes nothing. Every other mergeable algebra folds
    * every batch EXCEPT the newest into one directory keyed by the
    * second-newest id: the newest is the one delivery Structured
    * Streaming repeats after a crash before its checkpoint commit, and
    * that replay must overwrite only itself — a sum would count it
    * twice beside a folded copy, and a first-seen or latest-wins batch,
    * which is computed against every other batch, would find itself in
    * the fold. An [[OutputLog]] never compacts. No-op on an empty store.
    */
  def compact(spark: SparkSession): Unit = {
    val ids = batchIds(spark)
    val keep = algebra match {
      case OutputLog => None
      case _: Semilattice => ids.lastOption
      case _ => ids.dropRight(1).lastOption
    }
    keep.foreach { keepId =>
      val state = read(spark).get
      swap(spark, mergeOf(state.filter(col(BatchCol) <= keepId)),
        state.columns.filterNot(_ == BatchCol).toIndexedSeq, keepId)
    }
  }

  /** Replace the ENTIRE store with `resolved` as one batch directory
    * keyed `keepBatchId`, staged through a temp directory and an atomic
    * swap: a crash mid-compact or a concurrent reader never observes a
    * half-written store. Ids above `keepBatchId` — the kept newest
    * batch, or batches a live stream wrote after the merge was planned —
    * are re-attached from the displaced store ([[recover]] finishes the
    * re-attach after a crash). The compacted rows keep the store's own
    * columns `cols`.
    */
  private def swap(
      spark: SparkSession, resolved: DataFrame, cols: Seq[String], keepBatchId: Long): Unit = {
    val (fs, dest) = fsOf(spark)
    val tmp = AtomicDir.tmpPath(dest)
    fs.delete(tmp, true)
    // materializes `resolved` (which reads `dest`) BEFORE any rename
    // touches the store
    val w = resolved.select(cols.map(col): _*).write.mode(SaveMode.Overwrite)
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w)
      .parquet(new Path(tmp, s"$Prefix$keepBatchId").toString)
    val old = AtomicDir.oldPath(dest)
    fs.delete(old, true)
    if (fs.exists(dest) && !fs.rename(dest, old))
      throw new java.io.IOException(s"rename $dest -> $old failed")
    if (!fs.rename(tmp, dest))
      throw new java.io.IOException(s"rename $tmp -> $dest failed")
    if (fs.exists(old)) reattach(fs, old, dest, idsIn(fs, old).filter(_ > keepBatchId))
    fs.delete(old, true)
    ()
  }
}

private[graft] object MergeStore {

  /** The batch-id partition column every [[read]] carries. */
  val BatchCol = "batch_id"
  private val Prefix = s"$BatchCol="

  /** How a store's batches combine. Each store declares one; it fixes
    * the merge on read and the compaction ([[MergeStore.compact]]).
    */
  sealed trait Algebra {
    /** The merged state of `state` (every stored row, batch column
      * included).
      */
    def merge(state: DataFrame): DataFrame
  }

  /** Additive counters: `values` are summed per combination of every
    * other column.
    */
  final case class Sum(values: String*) extends Algebra {
    def merge(state: DataFrame): DataFrame = {
      val keys = state.columns.filterNot(c => c == BatchCol || values.contains(c))
      state.groupBy(keys.map(col).toIndexedSeq: _*)
        .agg(sum(values.head).as(values.head), values.tail.map(v => sum(v).as(v)): _*)
    }
  }

  /** Idempotent sets and semilattices (distinct union, k-min sketches,
    * k-best samples, latest batch per key): merging state with itself
    * changes nothing.
    */
  final case class Semilattice(resolve: DataFrame => DataFrame) extends Algebra {
    def merge(state: DataFrame): DataFrame = resolve(state)
  }

  /** Each batch holds only what no other batch claimed; its write reads
    * every batch but its own.
    */
  final case class FirstSeen(resolve: DataFrame => DataFrame) extends Algebra {
    def merge(state: DataFrame): DataFrame = resolve(state)
  }

  /** Per key, the row with the greatest `order` wins (an argmax over
    * the other columns).
    */
  final case class LatestWins(keys: Seq[String], order: Seq[String]) extends Algebra {
    def merge(state: DataFrame): DataFrame = {
      val rest = state.columns.filterNot(c =>
        c == BatchCol || keys.contains(c) || order.contains(c))
      val won = order ++ rest
      state.groupBy(keys.map(col): _*)
        .agg(max(struct(won.map(col): _*)).as("__w"))
        .select(keys.map(col) ++ won.map(c => col(s"__w.$c").as(c)): _*)
    }
  }

  /** A per-batch output log: each batch directory is complete output
    * in its own right; nothing merges and nothing compacts.
    */
  case object OutputLog extends Algebra {
    def merge(state: DataFrame): DataFrame = state
  }

  /** How many batch directories `state` (a [[MergeStore.read]]) scans —
    * from the frame's own file-index snapshot, so it always agrees with
    * the files the frame reads.
    */
  def batchCount(state: DataFrame): Int =
    state.inputFiles.flatMap(_.split('/').find(_.startsWith(Prefix))).distinct.length

  /** The streaming wiring every store's `start` shares: a checkpointed
    * `foreachBatch` over `stream`.
    */
  def foreachBatch(stream: Dataset[_], checkpointDir: String)(
      body: (DataFrame, Long) => Unit): DataStreamWriter[Row] =
    stream.toDF().writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch((batch: DataFrame, batchId: Long) => body(batch, batchId))
}
