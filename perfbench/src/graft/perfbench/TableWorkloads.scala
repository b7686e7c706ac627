package graft.perfbench

import java.nio.file.Path
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.scd.EmployeeTables
import graft.sources.VersionedTable
import graft.operators.ScdMerge

object TableSizes {
  val Employees = 4000
  val BootstrapDays = 10
  val DailyCommits = 2 // single-day commits at set-up, so old versions exist
  val Days = 32
  val CorrectionRows = 40
  val StatsCols = Seq("employee_number", "snapshot_date")
  /** Registry queries each cycle runs over the sf0.01 tables: a stream
    * gate whose store writes `batch_id=` paths by hand, and a graph
    * query that anchors its iterations with `localCheckpoint`.
    */
  val Queries = Seq("q_stream_dedup_incr", "q_graph_walks")
}

/** One `VersionedTable` holding generated SCD history. A closed loop
  * runs a fixed cycle of two writes (a day's `commit`, a `merge` of a
  * late correction) and four reads (point `readWhere`, date-range
  * `readWhere`, a `read` pinned to a uniformly drawn old version, and the
  * current view via `ScdMerge.latestSnapshotAgg`). A model of every
  * version's rows checks each read. Each cycle then runs the
  * [[TableSizes.Queries]] registry queries over the sf0.01 tables,
  * checked against their recorded checksums, so that the state stores
  * and anchors they use are under load in the same workload.
  */
final class TableMixed(val ctx: Ctx) extends Workload {
  import TableSizes._
  val tracedUnits = 1
  // a cycle outlasts a run's seconds
  override val MinUnits = 1
  private def spark = ctx.spark
  private val cols = ScdCols.all
  type Key = (Int, java.time.LocalDate)

  private def toRow(r: ScdRow): Row = Row(
    java.sql.Date.valueOf(r.e.date), r.e.id, r.e.status, r.e.first, r.e.last, r.e.gender,
    r.e.email, r.e.phone, r.e.salary, r.e.termination.map(java.sql.Date.valueOf).orNull,
    r.status, java.sql.Date.valueOf(r.changed))

  private def frame(rows: Seq[ScdRow]): DataFrame = {
    val sorted = rows.sortBy(r => (r.e.date.toEpochDay, r.e.id)).map(toRow)
    spark.createDataFrame(spark.sparkContext.parallelize(sorted, ctx.cpus), EmployeeTables.scdSchema)
  }

  private def strings(r: Row): Seq[String] =
    (0 until r.length).map(j => if (r.isNullAt(j)) "NULL" else r.get(j).toString)

  def run(): RunResult = {
    val root = ctx.work.resolve("table").toString
    var byDay: Map[java.time.LocalDate, Vector[ScdRow]] = Map.empty
    var dates: IndexedSeq[java.time.LocalDate] = IndexedSeq.empty
    // model: (committed version, its rows by key), oldest first
    val versions = scala.collection.mutable.ArrayBuffer.empty[(Long, Map[Key, ScdRow])]
    def rowsNow: Map[Key, ScdRow] = versions.last._2
    def keyed(rs: Seq[ScdRow]) = rs.map(r => (r.e.id, r.e.date) -> r)
    var inputBytes = 0L
    def rowBytes(rs: Seq[ScdRow]): Long = rs.map(_.fields.mkString(",").length + 1L).sum

    val setups = (1 to SetupRepeats).map { _ =>
      Stats.deleteTree(Path.of(root))
      VersionedTable.clearManifestCaches()
      versions.clear()
      Stats.timed {
        val days = Gen.snapshots(ctx.seed, Gen.Params(Employees, Days))
        val hist = Model.classify(days.flatten, legacy = false)
        byDay = hist.groupBy(_.e.date)
        dates = byDay.keys.toIndexedSeq.sortBy(_.toEpochDay)
        val boot = dates.take(BootstrapDays).flatMap(byDay)
        val v0 = VersionedTable.commit(frame(boot), root, statsColumns = StatsCols)
        versions += v0 -> keyed(boot).toMap
        inputBytes = rowBytes(boot)
        dates.slice(BootstrapDays, BootstrapDays + DailyCommits).foreach { d =>
          val v = VersionedTable.commit(frame(byDay(d)), root, statsColumns = StatsCols)
          versions += v -> (rowsNow ++ keyed(byDay(d)))
          inputBytes += rowBytes(byDay(d))
        }
      }._2
    }
    Stats.log("set-up done")
    ctx.inputRows = rowsNow.size.toLong
    val registry = new RegistryRunner(ctx, ctx.tables, ctx.tables.getFileName.toString)
    var nextDay = BootstrapDays + DailyCommits
    val rnd = new java.util.Random(ctx.seed * 7919)
    val expectCache = scala.collection.mutable.HashMap.empty[(Long, String), (Long, Long)]

    def latest: Long = versions.last._1
    // this cycle's operation times, checks excluded
    val writes = scala.collection.mutable.ArrayBuffer.empty[Double]
    val reads = scala.collection.mutable.ArrayBuffer.empty[Double]
    def timedOp(tracer: Tracer, name: String, isRead: Boolean)(body: => Unit): Unit = {
      val (_, s) = Stats.timed(tracer.span(name)(body))
      if (isRead) reads += s else writes += s
    }
    def checkRows(what: String, got: Array[Row], want: Iterable[ScdRow]): Unit = {
      val g = got.toSeq.map(strings).sortBy(_.mkString("|"))
      val w = want.toSeq.map(_.fields).sortBy(_.mkString("|"))
      ctx.samples.check(s"table_mixed $what: ${g.length} rows, expected ${w.length}", g == w)
    }
    def checkSum(what: String, df: DataFrame, key: (Long, String), want: => Iterable[ScdRow]): Unit = {
      val got = Checks.sparkChecksum(df, cols)
      val exp = expectCache.getOrElseUpdate(key, Model.checksum(want.map(_.fields)))
      ctx.samples.check(s"table_mixed $what $got != $exp", got == exp)
    }

    /** One cycle; returns its operation time. A timed cycle records one
      * load sample (its two writes), one read sample (the mean of its
      * four reads), so every sample mixes the same operations, and one
      * pass sample (the table operations and the registry queries).
      */
    def cycle(tracer: Tracer, timed: Boolean): Double = {
      writes.clear()
      reads.clear()
      // write: one day's commit
      val day = byDay(dates(nextDay))
      nextDay += 1
      var v1 = -1L
      timedOp(tracer, "sources.VersionedTable.commit", isRead = false) {
        v1 = VersionedTable.commit(frame(day), root, statsColumns = StatsCols)
      }
      versions += v1 -> (rowsNow ++ keyed(day))
      inputBytes += rowBytes(day)

      // read: one employee
      val ids = rowsNow.keysIterator.map(_._1).toIndexedSeq
      val id = ids(rnd.nextInt(ids.length))
      var point: Array[Row] = null
      timedOp(tracer, "sources.VersionedTable.readWhere.point", isRead = true) {
        point = VersionedTable.readWhere(spark, root, col("employee_number") === id).collect()
      }
      checkRows(s"point read of $id", point, rowsNow.values.filter(_.e.id == id))

      // read: a two-day range
      val known = rowsNow.keysIterator.map(_._2).toSet.toIndexedSeq.sortBy((d: java.time.LocalDate) => d.toEpochDay)
      val from = known(rnd.nextInt(known.length - 1))
      val to = from.plusDays(1)
      var range: Array[Row] = null
      val rangePred = col("snapshot_date").between(lit(java.sql.Date.valueOf(from)),
        lit(java.sql.Date.valueOf(to)))
      timedOp(tracer, "sources.VersionedTable.readWhere.range", isRead = true) {
        range = VersionedTable.readWhere(spark, root, rangePred).collect()
      }
      checkRows(s"range read $from..$to", range,
        rowsNow.values.filter(r => !r.e.date.isBefore(from) && !r.e.date.isAfter(to)))
      if (tracer.enabled) {
        Seq(col("employee_number") === id, rangePred).foreach { p =>
          val (kept, dropped) = VersionedTable.pruneFiles(spark, root, p)
          Layers.add(ctx, "sources.VersionedTable.prune_kept_ratio",
            kept.length.toDouble / math.max(1, kept.length + dropped.length))
        }
      }

      // write: a late correction to a day committed on its own (so every
      // merge rewrites files of the same size), merged on the table keys
      val old = dates(BootstrapDays + rnd.nextInt(nextDay - 1 - BootstrapDays))
      val fix = rowsNow.values.filter(_.e.date == old).toSeq.sortBy(_.e.id)
        .take(CorrectionRows).map(r => r.copy(e = r.e.copy(salary = r.e.salary + 1)))
      var v2: Option[Long] = None
      timedOp(tracer, "sources.VersionedTable.merge", isRead = false) {
        v2 = VersionedTable.merge(spark, root, frame(fix), keys = Seq("employee_number", "snapshot_date"),
          statsColumns = StatsCols)
      }
      ctx.samples.check(s"table_mixed merge committed $v2", v2.isDefined)
      v2.foreach(v => versions += v -> (rowsNow ++ keyed(fix)))
      inputBytes += rowBytes(fix)

      // read: a uniformly drawn old version
      val (v, rowsAtV) = versions(rnd.nextInt(versions.length - 1))
      var pinned: DataFrame = null
      timedOp(tracer, "sources.VersionedTable.read.version", isRead = true) {
        pinned = VersionedTable.read(spark, root, Some(v))
        pinned.write.format("noop").mode("overwrite").save()
      }
      checkSum(s"read of version $v", pinned, (v, "all"), rowsAtV.values)

      // read: the current view
      var cur: DataFrame = null
      timedOp(tracer, "operators.ScdMerge.latestSnapshotAgg", isRead = true) {
        cur = ScdMerge.latestSnapshotAgg(VersionedTable.read(spark, root),
          Seq("employee_number"), Seq("snapshot_date"))
        cur.write.format("noop").mode("overwrite").save()
      }
      checkSum("current view", cur, (latest, "current"),
        rowsNow.values.groupBy(_.e.id).values.map(_.maxBy(_.e.date.toEpochDay)))
      val queriesS = Queries.map(registry.run(_, tracer)).sum
      if (timed) {
        ctx.samples.loads += writes.sum
        ctx.samples.reads += reads.sum / reads.length * 1000
        ctx.samples.passes += writes.sum + reads.sum + queriesS
      }
      writes.sum + reads.sum + queriesS
    }

    val off = new Tracer("untraced", false, spark.sparkContext)
    (1 to WarmUnits).foreach(_ => cycle(off, timed = false))
    Stats.log("warm-up done")
    val end = ctx.deadline
    var n = 0
    var stored = 0.0
    while ((n < MinUnits || System.nanoTime() < end) && nextDay < Days - tracedUnits - 1) {
      cycle(off, timed = true)
      n += 1
      // the table after a fixed number of cycles, so the ratio does not depend on speed
      if (n == MinUnits) stored = Stats.dirBytes(Path.of(root)).toDouble / inputBytes
    }
    if (ctx.trace) {
      untracedUnitS = Stats.median(ctx.samples.passes.toSeq)
      tracedUnitS = Stats.median((1 to tracedUnits).map(_ => cycle(ctx.tracer, timed = false)))
      // manifest cost, cold (cache cleared) and hot (the same call again)
      val probe = versions.map(_._1).grouped(math.max(1, versions.length / 8)).map(_.head).toSeq.map { v =>
        VersionedTable.clearManifestCaches()
        val cold = Stats.timed(VersionedTable.manifest(spark, root, v))._2
        val hot = Stats.timed(VersionedTable.manifest(spark, root, v))._2
        (cold, hot)
      }
      Layers.add(ctx, "sources.VersionedTable.manifest_cold_ms", Stats.median(probe.map(_._1)) * 1000)
      Layers.add(ctx, "sources.VersionedTable.manifest_hot_ms", Stats.median(probe.map(_._2)) * 1000)
      Layers.add(ctx, "sources.VersionedTable.files_per_version",
        VersionedTable.manifest(spark, root, latest).files.length.toDouble)
      Layers.snapshot(ctx, tracedUnits)
    }
    ctx.inputBytes = inputBytes
    RunResult(setups, stored)
  }
}
