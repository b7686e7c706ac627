package graft

import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import graft.operators.Par

/** The concurrent-action helper under the micro-batch store fan-outs:
  * all bodies must run (even when one fails — a commit point sequenced
  * after the fan-out must never run before every supporting write has
  * finished, successfully or not), the first failure by submission
  * order is the one rethrown, and null slots (conditionally absent
  * writes) are skipped.
  */
class ParSpec extends SparkSpec {

  test("runs every body concurrently and returns after all complete") {
    val started = new java.util.concurrent.CountDownLatch(3)
    val done = new AtomicInteger(0)
    Par.actions(
      Seq.fill(3)(() => {
        started.countDown()
        // deadlocks (and fails the 10s wait) unless all three bodies
        // are genuinely in flight at once
        assert(started.await(10, java.util.concurrent.TimeUnit.SECONDS))
        done.incrementAndGet(): Unit
      }): _*)
    assert(done.get() == 3)
  }

  test("every body runs even when an earlier one fails; first failure rethrown") {
    val ran = new AtomicInteger(0)
    val e = intercept[IllegalStateException] {
      Par.actions(
        () => { ran.incrementAndGet(); throw new IllegalStateException("a") },
        () => { ran.incrementAndGet(); throw new IllegalStateException("b") },
        () => { ran.incrementAndGet(): Unit })
    }
    assert(e.getMessage == "a") // first by submission order
    assert(ran.get() == 3)
  }

  test("null slots are skipped; single body runs inline") {
    val ran = new AtomicInteger(0)
    Par.actions(null, () => { ran.incrementAndGet(): Unit }, null)
    assert(ran.get() == 1)
  }

  test("an interrupted caller leaves no body running detached") {
    // the r18 advisor finding: an InterruptedException while draining
    // futures used to propagate immediately with pool.shutdown() only
    // — still-running bodies kept writing after the caller unwound.
    // Par must cancel + drain before rethrowing, so a body that
    // swallows its cancellation interrupt is still COMPLETE (never
    // in-flight) by the time the call exits.
    val bodyDone = new AtomicInteger(0)
    val bodyEntered = new java.util.concurrent.CountDownLatch(1)
    val outcome =
      new java.util.concurrent.atomic.AtomicReference[Throwable](null)
    val caller = new Thread(() => {
      try Par.actions(
        () => {
          bodyEntered.countDown()
          // simulate a write that ignores interrupts for a while
          val t0 = System.nanoTime()
          while (System.nanoTime() - t0 < 700L * 1000 * 1000) {}
          bodyDone.incrementAndGet(): Unit
        },
        () => {
          val t0 = System.nanoTime()
          while (System.nanoTime() - t0 < 700L * 1000 * 1000) {}
          bodyDone.incrementAndGet(): Unit
        })
      catch { case t: Throwable => outcome.set(t) }
    })
    caller.start()
    assert(bodyEntered.await(10, java.util.concurrent.TimeUnit.SECONDS))
    caller.interrupt() // lands in f.get() while bodies still run
    caller.join(10000)
    assert(!caller.isAlive, "caller must return")
    assert(outcome.get().isInstanceOf[InterruptedException],
      s"interrupt must rethrow, got ${outcome.get()}")
    // the drain ran: both bodies finished before the call exited
    // (they ignore the cancellation interrupt, so "finished" is the
    // only way out — a detached body would still be mid-spin here)
    assert(bodyDone.get() == 2,
      s"bodies must not outlive the call: ${bodyDone.get()} of 2 done")
  }

  test("an interrupted caller cancels the Spark jobs its bodies started") {
    import org.apache.spark.scheduler._
    val sc = spark.sparkContext
    val tag = new java.util.concurrent.atomic.AtomicReference[String](null)
    val started = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    val ended = new java.util.concurrent.ConcurrentHashMap[Int, JobResult]()
    val running = new java.util.concurrent.CountDownLatch(2)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.tags")))
          .flatMap(_.split(",").find(_.startsWith("graft-par-")))
          .foreach { t => tag.set(t); started.add(e.jobId); running.countDown() }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = {
        ended.put(e.jobId, e.jobResult): Unit
      }
    }
    sc.addSparkListener(listener)
    try {
      // two minutes per task unless the task thread is interrupted
      val slow: () => Unit = () =>
        sc.parallelize(1 to 2, 2).foreach(_ => Thread.sleep(120000L))
      val caller = new Thread(() =>
        try Par.actions(slow, slow) catch { case _: Throwable => () })
      caller.start()
      assert(running.await(60, java.util.concurrent.TimeUnit.SECONDS),
        "both bodies' jobs must start under the call's tag")
      caller.interrupt()
      caller.join(60000)
      assert(!caller.isAlive, "caller must return")
      // well inside the tasks' two-minute sleep
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      def allEnded = started.asScala.forall(ended.containsKey)
      def active = sc.statusTracker.getJobIdsForTag(tag.get()).toSeq
        .flatMap(sc.statusTracker.getJobInfo(_))
        .filter(_.status == org.apache.spark.JobExecutionStatus.RUNNING)
      while ((!allEnded || active.nonEmpty) && System.nanoTime() < deadline)
        Thread.sleep(100)
      assert(allEnded, s"jobs still running after the call returned: $started")
      started.asScala.foreach { id =>
        assert(ended.get(id).isInstanceOf[JobFailed], s"job $id must end cancelled")
      }
      assert(active.isEmpty, s"no active job may carry the call's tag: $active")
    } finally sc.removeSparkListener(listener)
  }
}
