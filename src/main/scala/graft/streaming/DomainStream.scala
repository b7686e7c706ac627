package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.functions.UrlFunctions

/** Live registrable-domain rollup over a URL stream — the crawl-side
  * twin of the batch q_domain_stats: as segments land, the monitor
  * answers "how much of which domain do we already hold" without a
  * corpus rescan (the number per-domain quotas and crawl scheduling
  * key on).
  *
  * State = per-batch (domain, host) partial counts and DECIMAL mass —
  * ADDITIVE, so the cumulative report is a function of the summed
  * store alone (the [[SkewStream]] semilattice argument): `n_urls` and
  * `mass` are sums, and the distinct-host count is the summed table's
  * per-domain row count. Report after batch N EXACTLY equals the
  * batch operator over everything streamed (DECIMAL mass included —
  * fold order never shows). Store size is bounded by |domain × host|,
  * never by URLs seen. Replay overwrites its own batch partition
  * (idempotent); [[compact]] collapses history like every store here.
  */
object DomainStream {

  private def store(stateDir: String) = MergeStore(stateDir, MergeStore.Sum("__n", "__mass"))

  /** Fold one micro-batch of (url, mass) rows into the store. The
    * canonicalization chain runs HERE, map-only, inside the batch's
    * own aggregate — the store never holds a raw URL.
    */
  def countBatch(
      batch: DataFrame,
      urlCol: String,
      massCol: String,
      stateDir: String,
      batchId: Long): Unit = {
    if (batch.isEmpty) return
    val host = UrlFunctions.hostOf(col(urlCol))
    store(stateDir).write(batch
      .select(UrlFunctions.registrableDomain(host).as("domain"),
        host.as("host"),
        col(massCol).cast("decimal(18,2)").as("__mass"))
      .groupBy("domain", "host")
      .agg(count(lit(1)).as("__n"), sum("__mass").as("__mass")), batchId)
  }

  /** Attach the monitor to a streaming source. */
  def start(
      stream: Dataset[_],
      urlCol: String,
      massCol: String,
      stateDir: String,
      checkpointDir: String): StreamingQuery =
    MergeStore.foreachBatch(stream, checkpointDir)(
      countBatch(_, urlCol, massCol, stateDir, _)).start()

  /** The cumulative per-domain report (None before the first batch):
    * (domain, n_urls, n_hosts, mass) — column-identical to the batch
    * q_domain_stats shape.
    */
  def report(spark: SparkSession, stateDir: String): Option[DataFrame] =
    store(stateDir).merged(spark).map {
      _.groupBy("domain")
        .agg(
          sum("__n").as("n_urls"),
          count(lit(1)).as("n_hosts"),
          sum("__mass").cast("double").as("mass"))
    }

  /** Collapse all but the newest batch partition (additive merge). */
  def compact(spark: SparkSession, stateDir: String): Unit =
    store(stateDir).compact(spark)
}
