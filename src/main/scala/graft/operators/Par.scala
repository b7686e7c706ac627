package graft.operators

/** Run INDEPENDENT Spark actions concurrently from the driver (guide
  * §2.6, "overlap independent jobs"): Spark's scheduler happily runs
  * several jobs at once inside one application — actions are only
  * sequential because driver code calls them sequentially. A
  * micro-batch fold that lands three or four store partitions used to
  * pay each write's full job latency back to back while most of the
  * cluster idled through every job's tail; submitting them together
  * lets the next write's tasks back-fill executors the previous one
  * has already freed. On a real cluster this is the difference between
  * sum-of-latencies and max-of-latencies for the per-batch commit
  * fan-out; in local mode it also collapses the per-job fixed cost
  * that dominates small-batch folds.
  *
  * Semantics: all bodies run; the FIRST failure (by submission order)
  * is rethrown after every body has finished — callers that sequence a
  * commit point after the fan-out (write supporting stores, then the
  * commit store) keep their crash-consistency story, because the
  * commit-point write is only submitted after this call returns.
  * Bodies must be independent — nothing here orders them.
  */
private[graft] object Par {

  def actions(bodies: (() => Unit)*): Unit = {
    val real = bodies.filter(_ != null)
    if (real.sizeIs <= 1) { real.foreach(_.apply()); return }
    // every body's jobs carry one per-call tag, so an interrupted call
    // can cancel exactly the jobs it started. A tag, not a job group:
    // the pool threads inherit the caller's local properties (its job
    // group included) and a group would overwrite them.
    val sc = org.apache.spark.sql.SparkSession.getActiveSession
      .orElse(org.apache.spark.sql.SparkSession.getDefaultSession)
      .map(_.sparkContext)
    val tag = s"graft-par-${java.util.UUID.randomUUID()}"
    val pool = java.util.concurrent.Executors.newFixedThreadPool(real.size)
    try {
      val futs = real.map(b =>
        pool.submit(new java.util.concurrent.Callable[Unit] {
          def call(): Unit = {
            sc.foreach { c => c.addJobTag(tag); c.setInterruptOnCancel(true) }
            try b() finally sc.foreach(_.removeJobTag(tag))
          }
        }))
      var firstFailure: Throwable = null
      futs.foreach { f =>
        try f.get()
        catch {
          case e: java.util.concurrent.ExecutionException =>
            if (firstFailure == null)
              firstFailure = Option(e.getCause).getOrElse(e)
          case e: Throwable =>
            // an interrupt (e.g. a streaming-query stop) must not leave
            // bodies running detached — a prompt replay of the same
            // batch could then overwrite the same directories
            // concurrently with the orphaned jobs. Cancel everything
            // (the bodies' Spark jobs too: an interrupted driver thread
            // stops waiting, but its job runs on), drain the pool, THEN
            // rethrow, so no body outlives the call ("commit point only
            // after all bodies finished").
            futs.foreach(_.cancel(true))
            sc.foreach(_.cancelJobsWithTag(tag))
            pool.shutdownNow()
            try pool.awaitTermination(60,
              java.util.concurrent.TimeUnit.SECONDS)
            catch {
              case _: InterruptedException =>
                Thread.currentThread().interrupt()
            }
            throw e
        }
      }
      if (firstFailure != null) throw firstFailure
    } finally pool.shutdown()
  }
}
