package graft.perfbench

import java.nio.file.{Files, Path}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.scd.{EmployeeDimJob, EmployeeTables}
import graft.sources.CsvSnapshots
import graft.streaming.ScdStreaming

object ScdSizes {
  /** Employees on day one and days of history. */
  val RebuildEmployees = 5000
  val RebuildDays = 8
  val DailyEmployees = 5000
  val DailyBootstrapDays = 8
  /** Bootstrap days held back to be delivered late, one per load cycle;
    * so also the most cycles a run makes.
    */
  val DailyHeldBack = 4
  val DailyNewDays = 8
  /** Reads of the current view after each rebuild or load. */
  val Readers = 3
}

object ScdCols {
  val all: Seq[String] = EmployeeTables.scdSchema.fieldNames.toSeq
}

/** `EmployeeDimJob.run` with the paper's default `Config` over D daily
  * full-snapshot CSVs; each pass rebuilds the whole history from a fresh
  * copy of the inputs, then a consumer reads `employee_current` back.
  */
final class ScdRebuild(val ctx: Ctx) extends Workload {
  import ScdSizes._
  val tracedUnits = 1
  override val MinUnits = 3
  override val WarmUnits = 5
  // a set-up takes a tenth of a second, and set-ups get about 40% faster
  // once the JIT compiles the generator, which on 4 cores happened
  // between the 8th and the 12th; the median of 41 lies well past that
  override val SetupRepeats = 41
  private val params = Gen.Params(RebuildEmployees, RebuildDays)

  private def spark = ctx.spark

  def run(): RunResult = {
    val src = ctx.work.resolve("rebuild-src")
    var days: IndexedSeq[IndexedSeq[Emp]] = null
    val setups = (1 to SetupRepeats).map { _ =>
      Stats.deleteTree(src)
      Stats.timed {
        days = Gen.snapshots(ctx.seed, params)
        ctx.inputBytes = Gen.writeFiles(src, ctx.seed, days, params.dupRate,
          outOfOrder = Some(RebuildDays / 2))
      }._2
    }
    Stats.log("set-up done")
    ctx.inputRows = days.map(_.length.toLong).sum
    val expectAll = Model.classify(days.flatten, legacy = true)
    val wantAll = Model.checksum(expectAll.map(_.fields))
    val wantCurrent = Model.checksum(Model.current(expectAll).map(_.fields))
    var stored = 0.0

    def pass(i: Int, timed: Boolean, tracer: Tracer): Double = {
      val dir = ctx.work.resolve(s"rebuild-$i")
      Stats.deleteTree(dir)
      Stats.copyTree(src, dir.resolve("input"))
      val cfg = EmployeeDimJob.Config(dir.resolve("input").toString, dir.resolve("output").toString)
      val (_, load) = Stats.timed {
        tracer.span("scd.EmployeeDimJob.run")(EmployeeDimJob.run(spark, cfg))
      }
      // consumers read the dimension back
      val reads = (1 to Readers).map { _ =>
        Stats.timed {
          tracer.span("sources.CsvSnapshots.read") {
            CsvSnapshots.read(spark, EmployeeTables.employeeCurrent(cfg.outputDir))._1.collect()
          }
        }
      }
      val rows = reads.head._1
      if (timed) {
        ctx.samples.loads += load
        ctx.samples.reads ++= reads.map(_._2 * 1000)
        ctx.samples.passes += load + reads.map(_._2).sum
      }
      // checks, outside the timed spans
      val out = EmployeeTables.employeeAll(cfg.outputDir)
      val gotAll = Checks.sparkChecksum(CsvSnapshots.read(spark, out)._1, ScdCols.all)
      ctx.samples.check(s"scd_rebuild pass $i employee_all $gotAll != $wantAll", gotAll == wantAll)
      val gotCur = Model.checksum(rows.toSeq.map(r =>
        (0 until r.length).map(j => if (r.isNullAt(j)) "NULL" else r.get(j).toString)))
      ctx.samples.check(s"scd_rebuild pass $i employee_current $gotCur != $wantCurrent",
        gotCur == wantCurrent)
      val archived = Option(dir.resolve("input/processed").toFile.list()).fold(0)(_.length)
      ctx.samples.check(s"scd_rebuild pass $i archived $archived of $RebuildDays",
        archived == RebuildDays)
      stored = Stats.dirBytes(dir.resolve("output")).toDouble / ctx.inputBytes
      Stats.deleteTree(dir)
      load + reads.map(_._2).sum
    }

    val off = new Tracer("untraced", false, spark.sparkContext)
    Stats.log("model done")
    (1 to WarmUnits).foreach(i => pass(-i, timed = false, off))
    Stats.log("warm-up done")
    val end = ctx.deadline
    var i = 1
    while (i <= MinUnits || System.nanoTime() < end) { pass(i, timed = true, off); i += 1 }
    if (ctx.trace) {
      untracedUnitS = Stats.median(ctx.samples.passes.toSeq)
      tracedUnitS = pass(i, timed = false, ctx.tracer)
      Layers.snapshot(ctx, tracedUnits)
      ctx.restart(1)
      val one = pass(i + 1, timed = false, off)
      parallelSpeedup = one / untracedUnitS
    }
    RunResult(setups, stored)
  }
}

/** Daily incremental loads: a bootstrapped history, then one
  * `ScdStreaming` run (partitioned storage, AvailableNow) per file,
  * each followed by reads of the current view. The timed phase runs
  * whole cycles of three loads — a new day, a re-delivered copy of it
  * and a late file (an older date held back from the bootstrap) — so
  * every run times the same mix whatever its speed.
  */
final class ScdDaily(val ctx: Ctx) extends Workload {
  import ScdSizes._
  val CycleLoads = 3
  val tracedUnits = CycleLoads
  private val params = Gen.Params(DailyEmployees, DailyBootstrapDays + DailyNewDays)
  private val cfg0 = EmployeeDimJob.Config("", "", legacyChangedStatusDate = false)

  /** Delivery plan: bootstrap days, then load files (day index, copy):
    * new days to warm up, one cycle per held-back day, then new days.
    */
  private def plan(rnd: java.util.Random): (Seq[Int], Seq[(Int, Int)]) = {
    val held = rnd.ints(1, DailyBootstrapDays).distinct().limit(DailyHeldBack).toArray.toSeq.sorted
    val boot = (0 until DailyBootstrapDays).filterNot(held.contains)
    val fresh = (DailyBootstrapDays until DailyBootstrapDays + DailyNewDays).map(d => (d, 0))
    val cycles = held.zipWithIndex.flatMap { case (late, k) =>
      val day = fresh(WarmUnits + k)
      Seq(day, (day._1, 1), (late, 0))
    }
    (boot, fresh.take(WarmUnits) ++ cycles ++ fresh.drop(WarmUnits + held.length))
  }

  private def spark = ctx.spark

  def run(): RunResult = {
    val rnd = new java.util.Random(ctx.seed)
    val (boot, loads) = plan(rnd)
    var days: IndexedSeq[IndexedSeq[Emp]] = null
    var lines: IndexedSeq[Seq[String]] = null
    val input = ctx.work.resolve("daily/input")
    val table = ctx.work.resolve("daily/table").toString
    val ckpt = ctx.work.resolve("daily/checkpoint").toString
    val archive = ctx.work.resolve("daily/archive").toString
    var delivered = Vector.empty[Emp]
    var deliveredBytes = 0L

    def start(maxFiles: Int): StreamingQuery =
      ScdStreaming.start(spark, input.toString, table, ckpt, cfg0,
        maxFilesPerTrigger = maxFiles, trigger = Trigger.AvailableNow(),
        archiveDir = archive, partitionedStorage = true)

    var lastStartS = 0.0
    def runToEnd(maxFiles: Int): StreamingQuery = {
      val (q, s) = Stats.timed(start(maxFiles))
      lastStartS = s
      q.awaitTermination()
      q.exception.foreach(e => throw e)
      q
    }

    val setups = (1 to SetupRepeats).map { _ =>
      Stats.deleteTree(ctx.work.resolve("daily"))
      Stats.timed {
        days = Gen.snapshots(ctx.seed, params)
        lines = days.indices.map(d => Gen.fileLines(ctx.seed * 31 + d, days(d), params.dupRate))
        deliveredBytes = boot.map(d => Gen.writeLines(input.resolve(s"${days(d).head.date}.csv"), lines(d))).sum
        runToEnd(boot.length)
      }._2
    }
    Stats.log("set-up done")
    delivered = boot.flatMap(days(_)).toVector
    ctx.inputRows = days.map(_.length.toLong).sum

    var seq = 0
    def load(tracer: Tracer, timed: Boolean): Double = {
      val (d, copy) = loads(seq)
      val name = if (copy == 0) s"${days(d).head.date}.csv" else s"${days(d).head.date}-redelivered-$copy.csv"
      deliveredBytes += Gen.writeLines(input.resolve(f"$seq%03d-$name"), lines(d))
      seq += 1
      val before = if (tracer.enabled) Layers.partitionFiles(Path.of(table)) else Map.empty[String, Map[String, Long]]
      val touched = days(d).map(_.id).toSet
      val (q, streamS) = Stats.timed(tracer.span("streaming.ScdStreaming.run")(runToEnd(1)))
      // the load ends with the current view materialized; more readers follow
      val reads = (1 to Readers).map { _ =>
        Stats.timed {
          tracer.span("operators.Scd.currentView") {
            ScdStreaming.currentView(spark, table, cfg0).write.format("noop").mode("overwrite").save()
          }
        }._2
      }
      delivered = delivered ++ days(d)
      if (timed) {
        ctx.samples.loads += streamS
        ctx.samples.reads ++= reads.map(_ * 1000)
        ctx.samples.passes += streamS + reads.sum
      }
      ctx.samples.check(s"scd_daily load $seq query failed", q.exception.isEmpty)
      if (tracer.enabled) {
        Layers.loadProgress(ctx, ctx.progress.of(q), lastStartS)
        Layers.storageDelta(ctx, before, Layers.partitionFiles(Path.of(table)))
        val entities = delivered.map(_.id).distinct.length
        Layers.add(ctx, "operators.ScdIncremental.touched_ratio", touched.size.toDouble / entities)
      }
      streamS + reads.sum
    }

    val off = new Tracer("untraced", false, spark.sparkContext)
    (1 to WarmUnits).foreach(_ => load(off, timed = false))
    Stats.log("warm-up done")
    val end = ctx.deadline
    var stored = 0.0
    var cycles = 0
    // a traced run keeps one held-back day for its traced cycle
    val maxCycles = DailyHeldBack - (if (ctx.trace) 1 else 0)
    while ((cycles < 1 || System.nanoTime() < end) && cycles < maxCycles) {
      (1 to CycleLoads).foreach(_ => load(off, timed = true))
      cycles += 1
      // the table after one cycle, so the ratio does not depend on speed
      if (cycles == 1) stored = Stats.dirBytes(Path.of(table)).toDouble / deliveredBytes
    }

    // checks, outside the timed spans: history and current view vs the model
    def verify(): Unit = {
      val expect = Model.classify(delivered, legacy = false)
      val gotH = Checks.sparkChecksum(ScdStreaming.historyTable(spark, table), ScdCols.all)
      val wantH = Model.checksum(expect.map(_.fields))
      ctx.samples.check(s"scd_daily history $gotH != $wantH", gotH == wantH)
      val gotC = Checks.sparkChecksum(ScdStreaming.currentView(spark, table, cfg0), ScdCols.all)
      val wantC = Model.checksum(Model.current(expect).map(_.fields))
      ctx.samples.check(s"scd_daily current view $gotC != $wantC", gotC == wantC)
    }
    verify()

    if (ctx.trace) {
      untracedUnitS = Stats.median(ctx.samples.passes.toSeq)
      val t = (1 to tracedUnits).map(_ => load(ctx.tracer, timed = false))
      tracedUnitS = Stats.median(t)
      Layers.add(ctx, "sources.ScdStorage.files_per_partition", {
        val p = Layers.partitionFiles(Path.of(table))
        p.values.map(_.size).sum.toDouble / math.max(1, p.size)
      })
      Layers.snapshot(ctx, tracedUnits)
      ctx.restart(1)
      val one = load(off, timed = false)
      parallelSpeedup = one / untracedUnitS
      verify()
    }
    ctx.inputBytes = deliveredBytes
    RunResult(setups, stored)
  }
}
