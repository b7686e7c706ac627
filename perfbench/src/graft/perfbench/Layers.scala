package graft.perfbench

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

/** Per-layer metrics of a traced run. Spark jobs are attributed to the
  * benchmark span that issued them (a job property the tracer sets) and
  * to a layer by the action's call-site file; stages by the operator
  * scopes they ran. Every metric is per traced unit (pass, load or
  * cycle) unless its name says otherwise.
  */
object Layers {

  val QueryNames: Seq[String] = RegistryHeavy.Names

  def add(ctx: Ctx, name: String, v: Double): Unit =
    ctx.layer.getOrElseUpdate(name, scala.collection.mutable.ArrayBuffer.empty) += v

  /** Partition directory → (file → bytes) of a date-partitioned table. */
  def partitionFiles(root: Path): Map[String, Map[String, Long]] =
    if (!Files.isDirectory(root)) Map.empty
    else Files.list(root).iterator().asScala.toSeq
      .filter(p => Files.isDirectory(p) && p.getFileName.toString.contains("="))
      .map { d =>
        d.getFileName.toString -> Files.list(d).iterator().asScala.toSeq
          .filter(f => Files.isRegularFile(f) && !f.getFileName.toString.startsWith(".") &&
            !f.getFileName.toString.startsWith("_"))
          .map(f => f.getFileName.toString -> Files.size(f)).toMap
      }.toMap

  /** Partitions a load rewrote (their file set changed) and their bytes. */
  def storageDelta(ctx: Ctx, before: Map[String, Map[String, Long]],
      after: Map[String, Map[String, Long]]): Unit = {
    val changed = after.filter { case (p, files) => !before.get(p).contains(files) }
    add(ctx, "sources.ScdStorage.partitions_rewritten", changed.size.toDouble)
    add(ctx, "sources.ScdStorage.bytes_rewritten_mb", changed.values.flatMap(_.values).sum / 1e6)
  }

  /** One load's streaming progress, summed over its micro-batches. */
  def loadProgress(ctx: Ctx, ps: Seq[org.apache.spark.sql.streaming.StreamingQueryProgress],
      startS: Double): Unit = {
    def ms(key: String): Double =
      ps.map(p => Option(p.durationMs.get(key)).fold(0L)(_.longValue)).sum / 1000.0
    add(ctx, "streaming.start_s", startS)
    add(ctx, "streaming.trigger_s", ms("triggerExecution"))
    add(ctx, "streaming.add_batch_s", ms("addBatch"))
    add(ctx, "streaming.wal_commit_s", ms("walCommit"))
    add(ctx, "streaming.latest_offset_s", ms("latestOffset"))
    add(ctx, "streaming.query_planning_s", ms("queryPlanning"))
    add(ctx, "streaming.input_rows", ps.map(_.numInputRows).sum.toDouble)
  }

  /** Read the listener once every job of the traced phase has ended,
    * and turn jobs and spans into per-layer numbers.
    */
  def snapshot(ctx: Ctx, tracedUnits: Int): Unit = {
    val sc = ctx.spark.sparkContext
    if (!ctx.engine.drain(sc))
      System.err.println("[perfbench] listener did not settle; job counts may be short")
    val units = 1.0 * math.max(1, tracedUnits)
    val spans = ctx.tracer.spans
    val byId = spans.map(s => s.id -> s).toMap
    def root(id: Int): Option[Span] =
      byId.get(id).map(s => if (s.parent == 0) s else root(s.parent).getOrElse(s))
    val jobs = ctx.engine.jobs.filter(j => j.span != 0 && byId.contains(j.span))
    def stagesOf(js: Seq[ctx.engine.JobStat]) = js.flatMap(_.stages).distinct.flatMap(ctx.engine.stage)
    def wall(js: Seq[ctx.engine.JobStat]) = js.map(j => (j.endMs - j.startMs).max(0L)).sum / 1000.0
    def inSpan(name: String) = jobs.filter(j => byId(j.span).name == name)
    def site(file: String) = jobs.filter(_.site.contains(s" at $file"))
    def hasScope(st: ctx.engine.StageStat, p: String) = st.scopes.exists(_.toLowerCase.contains(p))
    // span times are nanoTime; job times are epoch ms
    val offsetMs = System.currentTimeMillis() - System.nanoTime() / 1e6
    def spanMs(s: Span) = (s.start / 1e6 + offsetMs, s.end / 1e6 + offsetMs)
    def gap(s: Span, js: Seq[ctx.engine.JobStat]): Double = {
      val (a, b) = spanMs(s)
      val covered = Span.covered(js.map(j => (math.max(j.startMs, a.toLong), math.min(j.endMs, b.toLong))))
      ((b - a) - covered).max(0.0) / 1000.0
    }
    def put(name: String, v: Double): Unit = add(ctx, name, v)

    val quality = site("Quality.scala")
    put("scd.Quality.check_s", wall(quality) / units)
    put("scd.Quality.jobs", quality.length / units)
    val runs = spans.filter(_.name == "scd.EmployeeDimJob.run")
    put("scd.EmployeeDimJob.driver_gap_s",
      runs.map(s => gap(s, jobs.filter(_.span == s.id))).sum / units)

    // SCD windows outside the incremental path: the rebuild and the
    // current view (registry queries have windows of their own)
    val streamJobs = inSpan("streaming.ScdStreaming.run")
    val batchStages = stagesOf(jobs.filter(j => byId(j.span).name.startsWith("scd.") ||
      byId(j.span).name.startsWith("operators.Scd."))).filter(hasScope(_, "window"))
    put("operators.Scd.task_s", batchStages.map(_.runMs).sum / 1000.0 / units)
    put("operators.Scd.shuffle_write_mb", batchStages.map(_.shuffleWrite).sum / 1e6 / units)
    put("operators.Scd.spill_mb", batchStages.map(_.spillBytes).sum / 1e6 / units)
    val incStages = stagesOf(streamJobs.filterNot(_.site.contains(" at ScdStorage.scala")))
    put("operators.ScdIncremental.task_s", incStages.map(_.runMs).sum / 1000.0 / units)
    put("operators.ScdIncremental.shuffle_write_mb", incStages.map(_.shuffleWrite).sum / 1e6 / units)

    val csvStages = stagesOf(jobs).filter(hasScope(_, "csv"))
    put("sources.CsvSnapshots.read_task_s", csvStages.map(_.runMs).sum / 1000.0 / units)
    put("sources.CsvSnapshots.input_mb", csvStages.map(_.input).sum / 1e6 / units)
    val csvWrites = site("CsvSnapshots.scala")
    put("sources.CsvSnapshots.write_s", wall(csvWrites) / units)
    // archive: the driver-only tail of the run, after its last job
    put("sources.CsvSnapshots.archive_s", runs.map { s =>
      val last = jobs.filter(_.span == s.id).map(_.endMs).maxOption
      last.fold(0.0)(l => (spanMs(s)._2 - l).max(0.0) / 1000.0)
    }.sum / units)

    def spanMedian(name: String) = Stats.median(spans.filter(_.name == name).map(_.seconds))
    put("sources.VersionedTable.commit_s", spanMedian("sources.VersionedTable.commit"))
    put("sources.VersionedTable.merge_s", spanMedian("sources.VersionedTable.merge"))
    val readSpans = spans.filter(s => s.name.startsWith("sources.VersionedTable.read") ||
      s.name == "operators.ScdMerge.latestSnapshotAgg")
    val readJobs = jobs.filter(j => readSpans.exists(_.id == j.span))
    put("sources.VersionedTable.input_mb_per_read",
      stagesOf(readJobs).map(_.input).sum / 1e6 / math.max(1, readSpans.length))

    QueryNames.foreach { q =>
      val s = spans.filter(_.name == s"queries.$q")
      val js = jobs.filter(j => s.exists(_.id == j.span))
      put(s"queries.$q.s", s.map(_.seconds).sum / units)
      put(s"queries.$q.jobs", js.length / units)
      put(s"queries.$q.shuffle_write_mb", stagesOf(js).map(_.shuffleWrite).sum / 1e6 / units)
      // every job's wall time, in start order, for the result file
      js.sortBy(_.startMs).zipWithIndex.foreach { case (j, k) =>
        ctx.detail(f"$q.job$k%03d_ms") = (j.endMs - j.startMs).toDouble
      }
    }

    val all = stagesOf(jobs)
    put("spark.jobs", jobs.length / units)
    put("spark.stages", all.length / units)
    put("spark.tasks", all.map(_.tasks.toDouble).sum / units)
    put("spark.job_s", wall(jobs) / units)
    put("spark.driver_gap_s", spans.filter(_.parent == 0)
      .map(s => gap(s, jobs.filter(j => root(j.span).exists(_.id == s.id)))).sum / units)
    put("spark.gc_s", all.map(_.gcMs).sum / 1000.0 / units)
    put("spark.spill_mb", all.map(_.spillBytes).sum / 1e6 / units)
    put("spark.shuffle_write_mb", all.map(_.shuffleWrite).sum / 1e6 / units)
    put("spark.input_mb", all.map(_.input).sum / 1e6 / units)
    put("spark.output_mb", all.map(_.output).sum / 1e6 / units)
  }

  /** Every per-layer metric the run measured, as the mean of its
    * values. Which of them a run reports is `BENCHMARK.json`'s choice.
    */
  def metrics(ctx: Ctx, w: Workload): Map[String, Double] = {
    if (w.parallelSpeedup > 0) add(ctx, "parallel_speedup", w.parallelSpeedup)
    add(ctx, "trace_overhead", if (w.untracedUnitS > 0) w.tracedUnitS / w.untracedUnitS else 0.0)
    ctx.layer.map { case (n, xs) => n -> xs.sum / xs.length }.toMap
  }
}
