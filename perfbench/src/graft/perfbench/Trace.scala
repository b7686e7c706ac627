package graft.perfbench

import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** A span: one call the benchmark makes into a layer's public function.
  * `parent` is 0 for a root span. Times are `System.nanoTime` values.
  */
final case class Span(id: Int, parent: Int, name: String, start: Long, end: Long) {
  def seconds: Double = (end - start) / 1e9
}

object Span {

  /** Total length covered by a set of [start, end) intervals. */
  def covered(intervals: Seq[(Long, Long)]): Long = {
    var total = 0L
    var (curS, curE) = (Long.MinValue, Long.MinValue)
    intervals.filter(i => i._2 > i._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s
        curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Self time of each span: its duration minus the part of it that its
    * children cover, in nanoseconds.
    */
  def selfTimes(spans: Seq[Span]): Map[Int, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val clipped = kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
      s.id -> ((s.end - s.start) - covered(clipped))
    }.toMap
  }
}

/** Spans of one run, kept in memory. Disabled, [[span]] only runs its
  * body. Enabled, it also tags every Spark job the body starts with the
  * span id (a thread-local job property, which threads the body starts
  * inherit).
  */
final class Tracer(val runId: String, val enabled: Boolean, sc: => SparkContext) {
  import Tracer.SpanKey
  private val done = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 1

  def spans: Seq[Span] = done.toSeq

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(0)
      val ctx = sc
      val prev = ctx.getLocalProperty(SpanKey)
      stack = id :: stack
      ctx.setLocalProperty(SpanKey, id.toString)
      val t0 = System.nanoTime()
      try body
      finally {
        done += Span(id, parent, name, t0, System.nanoTime())
        stack = stack.tail
        ctx.setLocalProperty(SpanKey, prev)
      }
    }

  def json: String = {
    val self = Span.selfTimes(done.toSeq)
    done.sortBy(_.id).map { s =>
      s"""{"run":"$runId","id":${s.id},"parent":${s.parent},"name":"${s.name}",""" +
        s""""start_ns":${s.start},"end_ns":${s.end},"self_ns":${self(s.id)}}"""
    }.mkString("[\n", ",\n", "\n]\n")
  }
}

object Tracer {
  /** The job property holding the id of the span that started the job. */
  val SpanKey = "perfbench.span"
}

/** What the engine did, per job and stage, as seen by a listener. */
final class EngineListener extends SparkListener {
  final case class StageStat(
      tasks: Int, runMs: Long, gcMs: Long, spillBytes: Long,
      shuffleWrite: Long, input: Long, output: Long, scopes: Seq[String])
  final case class JobStat(
      span: Int, site: String, startMs: Long, endMs: Long, stages: Seq[Int], fence: Boolean)

  private val started = mutable.LinkedHashMap.empty[Int, JobStat]
  private val ended = mutable.Set.empty[Int]
  private val stageStats = mutable.HashMap.empty[Int, StageStat]
  private val execSites = mutable.HashMap.empty[Long, String]
  private val fencesSeen = mutable.Set.empty[String]
  private var fences = 0

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    val span = props.flatMap(p => Option(p.getProperty(Tracer.SpanKey)))
      .flatMap(_.toIntOption).getOrElse(0)
    val fence = props.flatMap(p => Option(p.getProperty("perfbench.fence")))
    fence.foreach(fencesSeen += _)
    // the action's call site ("head at X.scala:N"): that of the job's SQL
    // execution when it has one (AQE runs stages as jobs from pool
    // threads), else the result stage's name
    val exec = props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .flatMap(_.toLongOption)
    val site = exec.flatMap(execSites.get)
      .getOrElse(e.stageInfos.sortBy(-_.stageId).headOption.map(_.name).getOrElse(""))
    started(e.jobId) = JobStat(span, site, e.time, -1L,
      e.stageInfos.map(_.stageId), fence.isDefined)
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case x: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
      // the innermost program frame of the action's stack ("check at
      // Quality.scala:31"); a streaming batch's description names the
      // batch, not the action
      val frame = Option(x.details).toSeq.flatMap(_.split("\n"))
        .map(_.trim).find(l => l.startsWith("graft.") && !l.startsWith("graft.perfbench."))
        .collect { case EngineListener.Frame(method, file) => s"$method at $file" }
      // inside a streaming batch every action reports the stream's start
      // site: the quality gate is told by its plan's output column, the
      // batch's partition write by its write command
      val plan = Option(x.physicalPlanDescription).getOrElse("")
      val site =
        if (plan.contains("dup_keys#")) "check at Quality.scala"
        else frame match {
          case Some(f) if f.contains(" at ScdStreaming.scala:") &&
              plan.contains("InsertIntoHadoopFsRelationCommand") =>
            "overwritePartitions at ScdStorage.scala"
          case Some(f) => f
          case None => x.description
        }
      synchronized(execSites(x.executionId) = site)
    case _ =>
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    started.get(e.jobId).foreach(j => started(e.jobId) = j.copy(endMs = e.time))
    ended += e.jobId
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    val m = Option(i.taskMetrics)
    stageStats(i.stageId) = StageStat(
      i.numTasks,
      m.fold(0L)(_.executorRunTime),
      m.fold(0L)(_.jvmGCTime),
      m.fold(0L)(x => x.memoryBytesSpilled + x.diskBytesSpilled),
      m.fold(0L)(_.shuffleWriteMetrics.bytesWritten),
      m.fold(0L)(_.inputMetrics.bytesRead),
      m.fold(0L)(_.outputMetrics.bytesWritten),
      i.rddInfos.flatMap(_.scope.map(_.name)))
  }

  /** Wait until the listener bus has delivered every event posted so
    * far, then until every job seen to start has ended (bounded). A
    * one-task fence job marks "so far": its start event follows every
    * earlier event on the same queue. Returns false on timeout.
    */
  def drain(sc: SparkContext, timeoutMs: Long = 60000L): Boolean = {
    val token = synchronized { fences += 1; s"fence-$fences" }
    val prevGroup = sc.getLocalProperty("perfbench.fence")
    sc.setLocalProperty("perfbench.fence", token)
    try sc.parallelize(Seq(1), 1).count()
    finally sc.setLocalProperty("perfbench.fence", prevGroup)
    val deadline = System.currentTimeMillis() + timeoutMs
    def settled = synchronized {
      fencesSeen.contains(token) && started.keys.forall(ended.contains)
    }
    while (!settled && System.currentTimeMillis() < deadline) Thread.sleep(5)
    settled
  }

  def jobs: Seq[JobStat] = synchronized(started.values.filterNot(_.fence).toSeq)
  def stage(id: Int): Option[StageStat] = synchronized(stageStats.get(id))
}

object EngineListener {
  /** `graft.scd.Quality$.check(Quality.scala:31)` → (check, Quality.scala:31) */
  val Frame = """.*\.([^.(]+)\(([A-Za-z0-9_$]+\.scala:\d+)\)""".r
}

/** Streaming progress, summed per query id. */
final class ProgressListener extends StreamingQueryListener {
  private val progress = mutable.HashMap.empty[java.util.UUID, mutable.ArrayBuffer[
    org.apache.spark.sql.streaming.StreamingQueryProgress]]

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    synchronized {
      progress.getOrElseUpdate(e.progress.runId, mutable.ArrayBuffer.empty) += e.progress
    }

  /** The progress events of one query run, once the listener has seen as
    * many as the query itself reports (bounded wait).
    */
  def of(q: org.apache.spark.sql.streaming.StreamingQuery, timeoutMs: Long = 30000L)
      : Seq[org.apache.spark.sql.streaming.StreamingQueryProgress] = {
    val want = q.recentProgress.length
    val deadline = System.currentTimeMillis() + timeoutMs
    def got = synchronized(progress.get(q.runId).fold(0)(_.length))
    while (got < want && System.currentTimeMillis() < deadline) Thread.sleep(5)
    synchronized(progress.get(q.runId).fold(Seq.empty[
      org.apache.spark.sql.streaming.StreamingQueryProgress])(_.toSeq))
  }
}
