package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.EventFlow

/** Incremental behavioral-transition monitoring — the streaming
  * counterpart of `q_event_transitions`: per micro-batch, fold the
  * batch's within-batch transition pairs PLUS the cross-batch boundary
  * pairs (each user's carried last event → their first event of this
  * batch) into a batch_id-partitioned count store, alongside a
  * latest-wins per-user last-event store. Pair counts are mergeable,
  * so the matrix after batch N is bit-identical to the batch operator
  * run over the union of batches 0..N — PROVIDED each user's events
  * arrive in (ts, tie) order across batches (the per-key-ordered log
  * contract; same discipline a watermarked session build assumes). A
  * late event that lands behind its user's carried state would have
  * changed already-counted pairs — that is a recompute, not a merge,
  * on any engine.
  *
  * Scale shape per batch: ONE user-keyed window over the batch (the
  * same exchange sessionization pays), a per-user first/last aggregate
  * of the batch, and a join of the batch's |users| first-events
  * against the carried last-event store — everything else is
  * |types|²-bounded. Replay-safe: re-running batch N overwrites its
  * own `batch_id=N` partitions and reads carried state from
  * `batch_id < N` only.
  */
object TransitionStream {

  private def pairs(pairsDir: String) = MergeStore(pairsDir, MergeStore.Sum("n_trans"))
  private def lasts(lastDir: String) =
    MergeStore(lastDir, MergeStore.LatestWins(Seq("user"), Seq("ts", "tie")))

  /** The foreachBatch body (directly callable for tests/backfill).
    * Writes `pairsDir/batch_id=N` (pair counts) and
    * `lastDir/batch_id=N` (per-user last event of this batch).
    */
  def transitionBatch(
      userCol: String, tsCol: String, typeCol: String, tieCol: String,
      pairsDir: String, lastDir: String)(
      batch: DataFrame, batchId: Long): Unit = {
    val spark = batch.sparkSession
    val evs = batch.select(
      col(userCol).as("user"), col(tsCol).as("ts"),
      col(tieCol).as("tie"), col(typeCol).as("etype"))

    // within-batch pairs
    val inBatch = EventFlow.pairCounts(evs, "user", "ts", "etype", "tie")

    // boundary pairs: carried last event (batches < N, latest wins by
    // (ts, tie) — struct max is lexicographic) -> first event of N
    val last = lasts(lastDir)
    val carried = last.merged(spark, _ < batchId).map(
      _.select(col("user"), col("etype").as("prev_type")))
    val firsts = evs.groupBy("user")
      .agg(min(struct(col("ts"), col("tie"), col("etype"))).as("__f"))
      .select(col("user"), col("__f.etype").as("next_type"))
    val boundary = carried.map(c =>
      c.join(firsts, Seq("user"))
        .groupBy("prev_type", "next_type")
        .agg(count(lit(1)).as("n_trans")))

    // the pairs write reads only batches < N of lastDir (partition-
    // pruned) and the last-event write only this batch's events, so
    // the two land concurrently (guide §2.6); replay overwrites both
    graft.operators.Par.actions(
      () => pairs(pairsDir).write(boundary.foldLeft(inBatch)(_ unionByName _)
        .groupBy("prev_type", "next_type")
        .agg(sum("n_trans").as("n_trans")), batchId),
      // the batch's own per-user last event: the store's merge over it
      () => last.write(last.algebra.merge(evs), batchId))
  }

  /** Wire the monitor onto a streaming event source. */
  def transitionStream(
      events: DataFrame, userCol: String, tsCol: String,
      typeCol: String, tieCol: String,
      pairsDir: String, lastDir: String, checkpointDir: String) =
    MergeStore.foreachBatch(events, checkpointDir)(
      transitionBatch(userCol, tsCol, typeCol, tieCol, pairsDir, lastDir))

  /** The live matrix over the cumulative pair-count store — equals
    * [[EventFlow.transitions]] over the union of batches 0..N under
    * the per-user-ordered arrival contract.
    */
  def matrix(spark: SparkSession, pairsDir: String): DataFrame =
    pairs(pairsDir).merged(spark) match {
      case None =>
        import spark.implicits._
        Seq.empty[(String, String, Long, Double, Double)]
          .toDF("prev_type", "next_type", "n_trans", "p_cond", "pmi")
      case Some(counts) => EventFlow.matrixFromCounts(counts)
    }

  /** Compact both stores (atomic swap; lossless: pair counts merge by
    * sum, last-events resolve latest-wins). Every batch EXCEPT the
    * newest folds into one resolved partition; the newest batch keeps
    * its own directory, so a post-crash REPLAY of that batch — the one
    * delivery Structured Streaming may repeat — overwrites only its own
    * partition instead of erasing the merged history. Single-writer
    * ([[MergeStore.compact]]).
    */
  def compact(spark: SparkSession, pairsDir: String, lastDir: String): Unit = {
    pairs(pairsDir).compact(spark)
    lasts(lastDir).compact(spark)
  }
}
