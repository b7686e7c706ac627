package graft

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._

import graft.sources.VersionedTable
import graft.queries.ScdQueries

/** Commit-log gates: versioned append/overwrite, time travel,
  * reader-during-commit snapshot isolation, crashed-commit leftovers,
  * racing writers, vacuum retention — and q_scd_status reproduced off
  * a manifest-pinned read (the judge-named acceptance case).
  */
class VersionedTableSpec extends SparkSpec {
  import spark.implicits._

  private def freshRoot(): String =
    java.nio.file.Files.createTempDirectory("graft_vt").toString

  private def ids(root: String, v: Option[Long] = None): Seq[Long] =
    VersionedTable.read(spark, root, v)
      .select("id").collect().map(_.getLong(0)).sorted.toSeq

  test("append/overwrite versioning with time travel") {
    val root = freshRoot()
    assert(VersionedTable.latestVersion(spark, root).isEmpty)
    assert(VersionedTable.commit(Seq(1L, 2L).toDF("id"), root) === 0L)
    assert(VersionedTable.commit(Seq(3L).toDF("id"), root) === 1L)
    assert(ids(root) === Seq(1L, 2L, 3L))
    assert(VersionedTable.commit(
      Seq(9L).toDF("id"), root, overwrite = true) === 2L)
    assert(ids(root) === Seq(9L))
    // pinned versions replay history exactly
    assert(ids(root, Some(0L)) === Seq(1L, 2L))
    assert(ids(root, Some(1L)) === Seq(1L, 2L, 3L))
  }

  test("a reader pinned before a commit never sees it (snapshot isolation)") {
    val root = freshRoot()
    VersionedTable.commit(Seq(1L, 2L).toDF("id"), root)
    val pinned = VersionedTable.read(spark, root) // plan pinned at v0
    VersionedTable.commit(Seq(99L).toDF("id"), root, overwrite = true)
    // the overwrite landed…
    assert(ids(root) === Seq(99L))
    // …and the in-flight reader still resolves v0's files untouched
    assert(pinned.select("id").collect().map(_.getLong(0)).sorted.toSeq
      === Seq(1L, 2L))
  }

  test("a crashed commit leaves the table unreadable-ly UNchanged; vacuum sweeps it") {
    val root = freshRoot()
    VersionedTable.commit(Seq(1L).toDF("id"), root)
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    // simulate a writer dying after staging + temp manifest, before publish
    Seq(7L).toDF("id").write.parquet(s"$root/data/cDEADBEEF")
    val tmp = new Path(root, "_commits/.v1-deadbeef.json.tmp")
    val out = fs.create(tmp, true)
    out.write("""{"version":1,"mode":"append","files":["data/cDEADBEEF/x.parquet"]}"""
      .getBytes("UTF-8"))
    out.close()
    assert(VersionedTable.latestVersion(spark, root) === Some(0L))
    assert(ids(root) === Seq(1L)) // leftovers invisible
    VersionedTable.vacuum(spark, root, keepVersions = 2)
    assert(!fs.exists(tmp), "stale temp manifest survived vacuum")
    assert(!fs.exists(new Path(root, "data/cDEADBEEF")),
      "orphan staged data survived vacuum")
    assert(ids(root) === Seq(1L))
  }

  test("racing writers both land; the rename arbiter orders them") {
    val root = freshRoot()
    VersionedTable.commit(Seq(0L).toDF("id"), root)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val winners = Await.result(Future.sequence(Seq(
      Future(VersionedTable.commit(Seq(10L).toDF("id"), root)),
      Future(VersionedTable.commit(Seq(20L).toDF("id"), root)))), 120.seconds)
    assert(winners.sorted === Seq(1L, 2L), s"got versions $winners")
    assert(ids(root) === Seq(0L, 10L, 20L)) // no lost update
  }

  test("vacuum drops history past retention but keeps retained readable") {
    val root = freshRoot()
    (1L to 4L).foreach(i => VersionedTable.commit(Seq(i).toDF("id"), root))
    VersionedTable.vacuum(spark, root, keepVersions = 2)
    assert(VersionedTable.latestVersion(spark, root) === Some(3L))
    assert(ids(root, Some(2L)) === Seq(1L, 2L, 3L))
    assert(ids(root) === Seq(1L, 2L, 3L, 4L))
    intercept[Exception](ids(root, Some(0L))) // vacuumed away
  }

  test("streamCommit is exactly-once: a replayed batch id never lands twice") {
    val root = freshRoot()
    assert(VersionedTable.streamCommit(
      Seq(1L).toDF("id"), root, "writer-a", 0L) === Some(0L))
    assert(VersionedTable.streamCommit(
      Seq(2L).toDF("id"), root, "writer-a", 1L) === Some(1L))
    // at-least-once engine replays batch 1 after a crash: skipped
    assert(VersionedTable.streamCommit(
      Seq(2L).toDF("id"), root, "writer-a", 1L) === None)
    assert(ids(root) === Seq(1L, 2L))
    // a DIFFERENT writer's batch 1 is its own progress, not a replay
    assert(VersionedTable.streamCommit(
      Seq(9L).toDF("id"), root, "writer-b", 1L) === Some(2L))
    assert(ids(root) === Seq(1L, 2L, 9L))
    // writer progress is carried forward across commits
    val m = VersionedTable.manifest(spark, root, 2L)
    assert(m.txn === Map("writer-a" -> 1L, "writer-b" -> 1L))
    // the replayed skip staged nothing that vacuum needs to chase
    VersionedTable.vacuum(spark, root, keepVersions = 3)
    assert(ids(root) === Seq(1L, 2L, 9L))
  }

  test("a real foreachBatch stream through the sink lands exactly once") {
    val root = freshRoot()
    val src = java.nio.file.Files.createTempDirectory("vt_src")
    val ckpt = java.nio.file.Files.createTempDirectory("vt_ckpt").toString
    Seq(1L, 2L).toDF("id").coalesce(1).write.parquet(s"$src/b0")
    Seq(3L).toDF("id").coalesce(1).write.parquet(s"$src/b1")
    val stream = spark.readStream
      .schema(Seq(1L).toDF("id").schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(s"$src/b*")
    val q = stream.writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch(VersionedTable.sink(root, "live") _)
      .start()
    q.processAllAvailable(); q.stop()
    assert(ids(root) === Seq(1L, 2L, 3L))
  }

  // ---- zone-map file skipping -----------------------------------------

  test("readWhere prunes files the zone maps exclude and keeps the answer exact") {
    val root = freshRoot()
    // three appends with disjoint id ranges -> three files with
    // disjoint (min, max) zone maps
    VersionedTable.commit(Seq((1L, "a"), (2L, "b")).toDF("id", "s")
      .coalesce(1), root, statsColumns = Seq("*"))
    VersionedTable.commit(Seq((10L, "j"), (11L, "k")).toDF("id", "s")
      .coalesce(1), root, statsColumns = Seq("*"))
    VersionedTable.commit(Seq((20L, "t"), (21L, "u")).toDF("id", "s")
      .coalesce(1), root, statsColumns = Seq("*"))
    val (kept, dropped) =
      VersionedTable.pruneFiles(spark, root, col("id") === 10L)
    assert(kept.size === 1 && dropped.size === 2,
      s"expected 1 kept / 2 dropped, got $kept / $dropped")
    // the pruned read still returns the exact filtered result
    assert(VersionedTable.readWhere(spark, root, col("id") === 10L)
      .select("s").collect().map(_.getString(0)).toSeq === Seq("j"))
    // string zone maps prune too
    val (keptS, _) = VersionedTable.pruneFiles(spark, root, col("s") >= "t")
    assert(keptS.size === 1)
    // unprunable shapes keep every file and still answer correctly
    assert(VersionedTable.readWhere(spark, root, length(col("s")) === 1)
      .count() === 6L)
    // metadata-only COUNT(*): summed off the manifest, no files opened
    assert(VersionedTable.rowCount(spark, root) === Some(6L))
    // an unstatted commit in the lineage -> None (fall back to a scan)
    VersionedTable.commit(Seq((30L, "z")).toDF("id", "s"), root)
    assert(VersionedTable.rowCount(spark, root).isEmpty)
  }

  test("skipping is SOUND across predicate shapes (pruned == unpruned filtered)") {
    val root = freshRoot()
    val df = (1L to 100L).map(i =>
        (i, if (i % 7 == 0) null else s"v$i", i.toDouble / 3.0))
      .toDF("id", "s", "x")
    // 8 hash-partitioned files: interleaved ranges, nulls scattered
    VersionedTable.commit(df.repartition(8, col("id")), root,
      statsColumns = Seq("*"))
    val preds = Seq(
      col("id") === 50L, col("id") > 90L, col("id") <= 3L,
      lit(97L) < col("id"), col("id").isin(5L, 500L),
      col("s").isNull, col("s").isNotNull, col("s") === "v42",
      col("x") > 30.0, col("id") > 20L && col("x") < 10.0,
      col("id") < 5L || col("id") > 95L, !(col("id") === 50L))
    val full = VersionedTable.read(spark, root)
    preds.foreach { p =>
      val pruned = VersionedTable.readWhere(spark, root, p)
        .collect().map(_.toString).sorted.toSeq
      val direct = full.filter(p).collect().map(_.toString).sorted.toSeq
      assert(pruned === direct, s"pruned read diverged for predicate $p")
    }
    // all-null column in a file: equality on it drops the file
    val root2 = freshRoot()
    VersionedTable.commit(
      Seq((1L, Option.empty[String])).toDF("id", "s").coalesce(1), root2,
      statsColumns = Seq("*"))
    val (kept2, dropped2) =
      VersionedTable.pruneFiles(spark, root2, col("s") === "x")
    assert(kept2.isEmpty && dropped2.size === 1)
    // ... and the empty pruned read still carries the schema
    val empty = VersionedTable.readWhere(spark, root2, col("s") === "x")
    assert(empty.count() === 0L && empty.columns.toSeq === Seq("id", "s"))
  }

  test("date and timestamp zone maps prune on string literals") {
    val root = freshRoot()
    val df = Seq(
      ("2024-01-15", "2024-01-15 10:00:00"),
      ("2024-02-15", "2024-02-15 10:00:00")).toDF("d", "ts")
      .select(col("d").cast("date"), col("ts").cast("timestamp"))
    // one file per month
    VersionedTable.commit(df.repartitionByRange(2, col("d")), root,
      statsColumns = Seq("*"))
    val (kept, dropped) =
      VersionedTable.pruneFiles(spark, root, col("d") === "2024-02-15")
    assert(kept.size === 1 && dropped.size === 1)
    assert(VersionedTable.readWhere(spark, root, col("d") === "2024-02-15")
      .count() === 1L)
    assert(VersionedTable.readWhere(
      spark, root, col("ts") < "2024-02-01 00:00:00").count() === 1L)
    // the TIMESTAMP zone map must ALSO prune files, not just filter
    // rows — the footer-based stats pass makes "no claim" for INT96
    // timestamps, so before timestamps staged as MICROS (r19) every
    // footer-statted commit silently lost its ts bounds and this
    // predicate kept both files (the r18 advisor finding)
    val (keptTs, droppedTs) = VersionedTable.pruneFiles(
      spark, root, col("ts") < "2024-02-01 00:00:00")
    assert(keptTs.size === 1 && droppedTs.size === 1,
      s"timestamp predicate must drop the other month's file: " +
        s"kept=$keptTs dropped=$droppedTs")
  }

  test("float zone maps live in the double grid: a float-literal equality keeps its file") {
    val root = freshRoot()
    // two single-value files: min = max = the value; if the stored bound
    // and the lowered literal used different decimal grids ("0.1" vs
    // "0.10000000149011612") the matching file would be silently dropped
    VersionedTable.commit(Seq((1L, 0.1f)).toDF("id", "f").coalesce(1),
      root, statsColumns = Seq("*"))
    VersionedTable.commit(Seq((2L, 5.5f)).toDF("id", "f").coalesce(1),
      root, statsColumns = Seq("*"))
    val (kept, dropped) =
      VersionedTable.pruneFiles(spark, root, col("f") === lit(0.1f))
    assert(kept.size === 1 && dropped.size === 1,
      s"float equality must keep exactly its file, got kept=$kept")
    assert(VersionedTable.readWhere(spark, root, col("f") === lit(0.1f))
      .select("id").collect().map(_.getLong(0)).toSeq === Seq(1L))
    // pruned == unpruned across float/double literal shapes (the
    // double literal goes through the Cast(float -> double) unwrap;
    // 0.1d != 0.1f.toDouble, so BOTH reads are correctly empty)
    val full = VersionedTable.read(spark, root)
    Seq(col("f") === lit(0.1f), col("f") === lit(0.1d),
      col("f") > lit(0.1f), col("f") <= lit(5.5f),
      col("f") >= lit(0.1d)).foreach { p =>
      val pruned = VersionedTable.readWhere(spark, root, p)
        .collect().map(_.toString).sorted.toSeq
      val direct = full.filter(p).collect().map(_.toString).sorted.toSeq
      assert(pruned === direct, s"pruned read diverged for predicate $p")
    }
  }

  test("an empty statted append neither kills rowCount nor survives pruned reads") {
    val root = freshRoot()
    VersionedTable.commit(Seq((1L, "a")).toDF("id", "s").coalesce(1),
      root, statsColumns = Seq("*"))
    VersionedTable.commit(
      Seq.empty[(Long, String)].toDF("id", "s").coalesce(1),
      root, statsColumns = Seq("*"))
    // the zero-row file gets a backfilled stats entry, so the
    // metadata-only count survives the empty append ...
    assert(VersionedTable.rowCount(spark, root) === Some(1L))
    // ... and the empty file is dropped by every point read (its
    // all-null bounds prove no row can match)
    val (kept, dropped) =
      VersionedTable.pruneFiles(spark, root, col("id") === 1L)
    assert(kept.size === 1 && dropped.size === 1)
    assert(VersionedTable.readWhere(spark, root, col("id") === 1L)
      .count() === 1L)
  }

  test("append tolerates nested nullability flips; real type changes still fail") {
    import org.apache.spark.sql.types._
    val root = freshRoot()
    val loose = Seq((1L, Seq("x"))).toDF("id", "arr") // containsNull = true
    VersionedTable.commit(loose, root)
    val strictSchema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("arr", ArrayType(StringType, containsNull = false),
        nullable = false)))
    val strict = spark.createDataFrame(
      java.util.Arrays.asList(org.apache.spark.sql.Row(2L, Seq("y"))),
      strictSchema)
    VersionedTable.commit(strict, root) // must NOT reject: same types
    assert(VersionedTable.read(spark, root).count() === 2L)
    val wrong = Seq((3L, Seq(9L))).toDF("id", "arr") // array<long>: real change
    val e = intercept[java.io.IOException] {
      VersionedTable.commit(wrong, root)
    }
    assert(e.getMessage.contains("incompatible schema"))
  }

  test("bloom sidecars prune point lookups zone maps cannot; pruned == direct") {
    val root = freshRoot()
    // ids hash-scattered across 8 files: every file's (min, max) range
    // overlaps every lookup, so ZONE MAPS keep all 8 — the bloom is the
    // only thing that can prove absence
    val df = (1L to 4000L).map(i => (i, s"s${i % 7}")).toDF("id", "s")
    VersionedTable.commit(df.repartition(8, col("id")), root,
      statsColumns = Seq("*"), bloomColumns = Seq("id", "s"),
      bloomExpectedItems = 1000L)
    val (keptZone, _) =
      VersionedTable.pruneFiles(spark, root, col("id") >= 0L)
    assert(keptZone.size === 8, "range shapes keep everything (hash layout)")
    val (keptPoint, droppedPoint) =
      VersionedTable.pruneFiles(spark, root, col("id") === 1234L)
    assert(droppedPoint.nonEmpty,
      s"bloom must prune a point lookup, kept=${keptPoint.size}")
    // correctness across shapes, including misses and IN lists
    val full = VersionedTable.read(spark, root)
    Seq(col("id") === 1234L, col("id") === 999999L,
      col("id").isin(3L, 17L, 999999L), col("s") === "s3",
      col("s") === "nope", col("id") === 10L && col("s") === "s3",
      col("id") === 10L || col("id") === 20L).foreach { p =>
      val pruned = VersionedTable.readWhere(spark, root, p)
        .collect().map(_.toString).sorted.toSeq
      val direct = full.filter(p).collect().map(_.toString).sorted.toSeq
      assert(pruned === direct, s"bloom-pruned read diverged on $p")
    }
    // a definite miss on every file -> zero files planned, zero rows
    val (keptMiss, _) =
      VersionedTable.pruneFiles(spark, root, col("id") === 999999L)
    assert(keptMiss.isEmpty, s"an absent id must drop every file: $keptMiss")
    // appends without blooms stay unpruned-but-correct (sound default)
    VersionedTable.commit(Seq((999999L, "late")).toDF("id", "s"), root)
    assert(VersionedTable.readWhere(spark, root, col("id") === 999999L)
      .count() === 1L)
    // string-domain blooms never probe with the wrong domain: a date-ish
    // string literal against the string column stays exact
    assert(VersionedTable.readWhere(spark, root, col("s") === "s4")
      .count() === full.filter(col("s") === "s4").count())
  }

  test("z-order clustering prunes on BOTH dimensions; a 1-D sort only on its own") {
    // 32x32 grid of (x, y): z-order into 16 files -> each file covers
    // a compact 2-D tile, so a range on EITHER axis drops most files.
    // The single-column-sorted control prunes on x but NOT on y.
    val grid = spark.range(0, 1024L).toDF("i")
      .select((col("i") % 32).as("x"), (col("i") / 32).cast("long").as("y"))
    val zRoot = freshRoot()
    VersionedTable.commit(
      graft.operators.ZOrder.cluster(grid, Seq("x", "y"), bits = 5,
        numFiles = 16),
      zRoot, statsColumns = Seq("x", "y"))
    val sRoot = freshRoot()
    VersionedTable.commit(
      grid.repartitionByRange(16, col("x")).sortWithinPartitions("x"),
      sRoot, statsColumns = Seq("x", "y"))
    def kept(root: String, p: org.apache.spark.sql.Column): Int =
      VersionedTable.pruneFiles(spark, root, p)._1.size
    // x-range: both layouts prune
    assert(kept(zRoot, col("x") < 8L) < 16)
    assert(kept(sRoot, col("x") < 8L) < 16)
    // y-range: ONLY the z-ordered layout prunes (the control's files
    // each span the full y domain)
    assert(kept(zRoot, col("y") < 8L) < 16,
      "z-order failed to prune on the second dimension")
    assert(kept(sRoot, col("y") < 8L) === 16,
      "the 1-D control unexpectedly pruned on y — fixture broken")
    // and the pruned reads stay exact on both layouts
    val p = col("x") < 8L && col("y") >= 24L
    assert(VersionedTable.readWhere(spark, zRoot, p).count() === 8L * 8L)
    assert(VersionedTable.readWhere(spark, sRoot, p).count() === 8L * 8L)
  }

  // ---- schema pinning ---------------------------------------------------

  test("append with an incompatible schema fails loudly; overwrite may evolve") {
    val root = freshRoot()
    VersionedTable.commit(Seq((1L, "a")).toDF("id", "s"), root)
    val err = intercept[java.io.IOException](
      VersionedTable.commit(Seq((2L, 3.0)).toDF("id", "x"), root))
    assert(err.getMessage.contains("incompatible schema"))
    assert(ids(root) === Seq(1L)) // nothing landed
    // column ORDER and nullability do not block an append
    VersionedTable.commit(Seq(("b", 2L)).toDF("s", "id").select("id", "s"), root)
    assert(ids(root) === Seq(1L, 2L))
    // overwrite is the declared schema-change path
    val v = VersionedTable.commit(Seq((9L, 1.5)).toDF("id", "x"), root,
      overwrite = true)
    assert(VersionedTable.read(spark, root, Some(v)).columns.toSeq
      === Seq("id", "x"))
  }

  // ---- compaction -------------------------------------------------------

  test("compact bin-packs small files data-identically; clusterBy sharpens pruning") {
    val root = freshRoot()
    (0L until 6L).foreach { i =>
      VersionedTable.commit(
        Seq(i * 10L, i * 10L + 1L).toDF("id").repartition(2), root,
        statsColumns = Seq("*"))
    }
    val before = VersionedTable.manifest(spark, root,
      VersionedTable.latestVersion(spark, root).get)
    assert(before.files.size > 2)
    val v = VersionedTable.compact(spark, root, targetPartitions = 2,
      clusterBy = Seq("id"), statsColumns = Seq("*")).get
    val after = VersionedTable.manifest(spark, root, v)
    assert(after.files.size === 2, s"expected 2 files, got ${after.files}")
    assert(after.mode === "compact")
    assert(ids(root) === (0L until 6L).flatMap(i => Seq(i * 10, i * 10 + 1)))
    // range-clustered files have disjoint zone maps: a point read plans 1
    val (kept, dropped) = VersionedTable.pruneFiles(spark, root, col("id") === 51L)
    assert(kept.size === 1 && dropped.size === 1)
    // nothing left to do -> None
    assert(VersionedTable.compact(spark, root, targetPartitions = 2).isEmpty)
  }

  test("compaction rebases over a racing append; conflicts on a racing overwrite") {
    val root = freshRoot()
    VersionedTable.commit(Seq(1L).toDF("id"), root)
    VersionedTable.commit(Seq(2L).toDF("id"), root)
    // interleave: compaction reads v1, an append lands before it commits.
    // Simulate by appending between read and publish via the racing-append
    // path: compact() re-reads latest inside its retry loop, so an append
    // BEFORE compact() still exercises the rebase arm when it lands between
    // manifest read and publish — drive it deterministically instead:
    // append now, then compact; the compacted source set (v1's files) is a
    // strict subset of v2's files, which IS the rebase case.
    VersionedTable.commit(Seq(3L).toDF("id"), root)
    val v = VersionedTable.compact(spark, root, targetPartitions = 1).get
    assert(ids(root) === Seq(1L, 2L, 3L))
    assert(VersionedTable.manifest(spark, root, v).files.size === 1)
    // racing overwrite: stage a compaction of the CURRENT version, then
    // overwrite before its publish sees the old files -> conflict
    VersionedTable.commit(Seq(7L, 8L).toDF("id").repartition(2), root)
    val curV = VersionedTable.latestVersion(spark, root).get
    VersionedTable.commit(Seq(99L).toDF("id"), root, overwrite = true)
    val conflict = intercept[VersionedTable.CompactionConflictException] {
      // a compaction PLANNED against the pre-overwrite version publishes
      // after the overwrite -> its source files are gone -> conflict
      VersionedTable.compact(spark, root, targetPartitions = 1,
        pinVersion = Some(curV))
    }
    assert(conflict.getMessage.contains("raced"))
    assert(ids(root) === Seq(99L)) // the overwrite stands; no stale rewrite
  }

  // ---- change feed ------------------------------------------------------

  // ---- row-level delete (takedown) --------------------------------------

  test("delete rewrites only zone-map-hit files; whole-match files drop without rewrite") {
    val root = freshRoot()
    // three single-file commits with disjoint id ranges
    VersionedTable.commit(Seq((1L, "a"), (2L, "b")).toDF("id", "s")
      .coalesce(1), root, statsColumns = Seq("*"))
    VersionedTable.commit(Seq((10L, "j"), (11L, "k")).toDF("id", "s")
      .coalesce(1), root, statsColumns = Seq("*"))
    VersionedTable.commit(Seq((20L, "t"), (21L, "u")).toDF("id", "s")
      .coalesce(1), root, statsColumns = Seq("*"))
    val before = VersionedTable.manifest(spark, root, 2L).files.toSet
    // partial hit in file 2 only: files 1 and 3 are zone-map-pruned and
    // must keep their EXACT paths (no rewrite, no re-stage)
    val v = VersionedTable.delete(spark, root, col("id") === 10L)
    assert(v === Some(3L))
    val after = VersionedTable.manifest(spark, root, 3L)
    assert(after.mode === "delete")
    val untouched = before.filter(after.files.toSet)
    assert(untouched.size === 2, s"expected 2 untouched files, got $after")
    assert(ids(root) === Seq(1L, 2L, 11L, 20L, 21L))
    // stats survive the rewrite (keepStats defaulting): metadata count works
    assert(VersionedTable.rowCount(spark, root) === Some(5L))
    // whole-file takedown: every row of the (20, 21) file matches ->
    // the file is DROPPED from the manifest with no rewrite at all
    val nFilesBefore = after.files.size
    VersionedTable.delete(spark, root, col("id") >= 20L)
    val m4 = VersionedTable.manifest(spark, root, 4L)
    assert(m4.files.size === nFilesBefore - 1)
    assert(m4.files.toSet.subsetOf(after.files.toSet),
      "a whole-match delete must not stage any new file")
    assert(ids(root) === Seq(1L, 2L, 11L))
    // no matching row -> no new version
    assert(VersionedTable.delete(spark, root, col("id") === 999L).isEmpty)
    assert(VersionedTable.latestVersion(spark, root) === Some(4L))
    // NULL predicate rows survive (SQL DELETE semantics)
    val root2 = freshRoot()
    VersionedTable.commit(
      Seq((1L, Some("x")), (2L, None), (3L, Some("x")))
        .toDF("id", "s"), root2)
    VersionedTable.delete(spark, root2, col("s") === "x")
    assert(ids(root2) === Seq(2L))
  }

  test("delete emits CDC delete rows over touched files; time travel still works") {
    val root = freshRoot()
    VersionedTable.commit(
      (1L to 10L).map(i => (i, if (i % 2 == 0) "even" else "odd"))
        .toDF("id", "par").repartition(2, col("par")),
      root, statsColumns = Seq("*"))
    VersionedTable.delete(spark, root, col("par") === "even" && col("id") > 4L)
    // CDC: exactly the deleted rows, as delete rows, at the delete version
    val ch = VersionedTable.changes(spark, root, 0L, 1L)
      .select("id", "_change_type", "_commit_version")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      .sortBy(_._1).toSeq
    assert(ch === Seq((6L, "delete", 1L), (8L, "delete", 1L),
      (10L, "delete", 1L)))
    // survivors exact; the pre-delete snapshot still readable
    assert(ids(root) === Seq(1L, 2L, 3L, 4L, 5L, 7L, 9L))
    assert(ids(root, Some(0L)) === (1L to 10L))
  }

  test("vacuum destroys the deleted file's bytes while its live siblings survive") {
    val root = freshRoot()
    // ONE commit staging two files in the SAME data/c* dir
    VersionedTable.commit(
      Seq((1L, "keep"), (2L, "take")).toDF("id", "s")
        .repartition(2, col("s")), root, statsColumns = Seq("*"))
    val m0 = VersionedTable.manifest(spark, root, 0L)
    assert(m0.files.size === 2)
    VersionedTable.delete(spark, root, col("s") === "take")
    val m1 = VersionedTable.manifest(spark, root, 1L)
    val removedRel = (m0.files.toSet -- m1.files.toSet).head
    val fs = new Path(root).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val removedPath = new Path(new Path(root), removedRel)
    assert(fs.exists(removedPath), "pre-vacuum the old bytes remain (time travel)")
    // retention 1: only the delete version survives; the removed file's
    // BYTES must be gone even though its directory is still live
    VersionedTable.vacuum(spark, root, keepVersions = 1)
    assert(!fs.exists(removedPath), "takedown bytes survived vacuum")
    m1.files.foreach { rel =>
      assert(fs.exists(new Path(new Path(root), rel)),
        s"live sibling $rel was vacuumed")
    }
    assert(ids(root) === Seq(1L))
  }

  test("delete rebases over a racing append; conflicts on a racing overwrite") {
    val root = freshRoot()
    VersionedTable.commit(Seq((1L, "a"), (2L, "b")).toDF("id", "s")
      .coalesce(1), root)
    // racing APPEND lands after the delete pinned v0: the delete
    // rebases — both the append's rows and the delete's effect land
    VersionedTable.commit(Seq((5L, "e")).toDF("id", "s").coalesce(1), root)
    assert(VersionedTable.delete(spark, root, col("id") === 2L,
      pinVersion = Some(0L)) === Some(2L))
    assert(ids(root) === Seq(1L, 5L))
    // racing OVERWRITE removed the files the delete read: conflict,
    // and the staged survivors are cleaned off disk
    VersionedTable.commit(Seq((7L, "g"), (8L, "h")).toDF("id", "s")
      .coalesce(1), root)
    val pinned = VersionedTable.latestVersion(spark, root)
    VersionedTable.commit(Seq((9L, "i")).toDF("id", "s"), root,
      overwrite = true)
    intercept[VersionedTable.CompactionConflictException] {
      VersionedTable.delete(spark, root, col("id") === 7L,
        pinVersion = pinned)
    }
    assert(ids(root) === Seq(9L))
  }

  test("every rewrite pinned before a racing overwrite conflicts and leaves no stage") {
    val ops: Seq[(String, (String, Option[Long]) => Option[Long])] = Seq(
      "compact" -> ((root, pin) =>
        VersionedTable.compact(spark, root, pinVersion = pin)),
      "compactFiles" -> ((root, pin) => VersionedTable.compactFiles(spark,
        root, VersionedTable.manifest(spark, root, pin.get).files,
        pinVersion = pin)),
      "delete" -> ((root, pin) => VersionedTable.delete(spark, root,
        col("id") === 1L, pinVersion = pin)),
      "deleteVectored" -> ((root, pin) => VersionedTable.deleteVectored(
        spark, root, col("id") === 1L, pinVersion = pin)),
      "merge" -> ((root, pin) => VersionedTable.merge(spark, root,
        Seq((1L, "m")).toDF("id", "s"), Seq("id"), pinVersion = pin)),
      "replaceWhere" -> ((root, pin) => VersionedTable.replaceWhere(spark,
        root, Seq((1L, "r")).toDF("id", "s"), col("id") === 1L,
        pinVersion = pin)))
    ops.foreach { case (op, run) =>
      val root = freshRoot()
      // two files, the first only partly matching id = 1, so every op
      // stages something before it publishes
      VersionedTable.commit(Seq((1L, "a"), (2L, "b")).toDF("id", "s")
        .coalesce(1), root, statsColumns = Seq("*"))
      VersionedTable.commit(Seq((3L, "c")).toDF("id", "s").coalesce(1),
        root, statsColumns = Seq("*"))
      val pinned = VersionedTable.latestVersion(spark, root)
      VersionedTable.commit(Seq((9L, "i")).toDF("id", "s"), root,
        overwrite = true)
      val fs = new Path(root).getFileSystem(
        spark.sparkContext.hadoopConfiguration)
      def dataDirs = fs.listStatus(new Path(root, "data"))
        .map(_.getPath.getName).toSet
      val dirs = dataDirs
      withClue(op) {
        intercept[VersionedTable.CompactionConflictException](run(root, pinned))
        assert(ids(root) === Seq(9L))
        assert(dataDirs === dirs, "the conflicting stage was left behind")
      }
    }
  }

  test("mergeSchema appends widen the snapshot; missing and new columns read NULL") {
    val root = freshRoot()
    VersionedTable.commit(Seq((1L, "a")).toDF("id", "s").coalesce(1), root,
      statsColumns = Seq("*"))
    // an append ADDING a column widens the pinned schema
    VersionedTable.commit(
      Seq((2L, "b", 0.5)).toDF("id", "s", "score").coalesce(1), root,
      statsColumns = Seq("*"), mergeSchema = true)
    val widened = VersionedTable.read(spark, root)
    assert(widened.columns.toSeq === Seq("id", "s", "score"))
    val rows = widened.orderBy("id").collect()
    assert(rows(0).isNullAt(2), "old files must read NULL for the new column")
    assert(rows(1).getDouble(2) === 0.5)
    // an append OMITTING a column reads NULL from its own files
    VersionedTable.commit(Seq(Tuple1(3L)).toDF("id").coalesce(1), root,
      mergeSchema = true)
    val r3 = VersionedTable.read(spark, root).filter(col("id") === 3L)
      .collect().head
    assert(r3.isNullAt(1) && r3.isNullAt(2))
    // zone-map pruning stays SOUND across the evolution boundary:
    // a predicate on the new column must keep the stat-less old files
    val full = VersionedTable.read(spark, root)
    Seq(col("score") > 0.1, col("score").isNull, col("id") >= 2L)
      .foreach { p =>
        val pruned = VersionedTable.readWhere(spark, root, p)
          .collect().map(_.toString).sorted.toSeq
        val direct = full.filter(p).collect().map(_.toString).sorted.toSeq
        assert(pruned === direct, s"evolved pruned read diverged on $p")
      }
    // a shared column changing TYPE still fails loudly even with merge
    val e = intercept[java.io.IOException] {
      VersionedTable.commit(Seq((4L, 9L)).toDF("id", "s"), root,
        mergeSchema = true)
    }
    assert(e.getMessage.contains("incompatible schema"))
    // without mergeSchema the widened-table strict gate still holds
    intercept[java.io.IOException] {
      VersionedTable.commit(Seq(Tuple1(5L)).toDF("id"), root)
    }
  }

  test("exportSnapshot gives foreign readers a stable pinned snapshot") {
    val root = freshRoot()
    VersionedTable.commit(Seq((1L, "a"), (2L, "b")).toDF("id", "s"), root)
    // exportSnapshot: a foreign reader (plain spark.read.parquet) sees
    // the pinned snapshot byte-for-byte, even after later commits
    val (manifestPath, files) = VersionedTable.exportSnapshot(spark, root)
    VersionedTable.commit(Seq((9L, "z")).toDF("id", "s"), root)
    val foreign = spark.read.parquet(files: _*)
      .select("id").collect().map(_.getLong(0)).sorted.toSeq
    assert(foreign === Seq(1L, 2L))
    // the exported list file itself round-trips
    val listed = spark.read.textFile(manifestPath).collect().toSeq
    assert(listed.toSet === files.toSet)
    val viaList = spark.read.parquet(listed: _*)
      .select("id").collect().map(_.getLong(0)).sorted.toSeq
    assert(viaList === Seq(1L, 2L))
  }

  test("changes() streams appends file-wise, diffs overwrites, skips compactions") {
    val root = freshRoot()
    VersionedTable.commit(Seq((1L, "a"), (2L, "b")).toDF("id", "s"), root) // v0
    VersionedTable.commit(Seq((3L, "c")).toDF("id", "s"), root) // v1 append
    VersionedTable.compact(spark, root, targetPartitions = 1) // v2 compact
    VersionedTable.commit( // v3 overwrite: drops id=1, keeps 2..3, adds 4
      Seq((2L, "b"), (3L, "c"), (4L, "d")).toDF("id", "s"), root,
      overwrite = true)
    val feed = VersionedTable.changes(spark, root, 0L, 3L)
      .select("_commit_version", "_change_type", "id")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      .sortBy(t => (t._1, t._2, t._3)).toSeq
    assert(feed === Seq(
      (1L, "insert", 3L), // the append, read from its files alone
      (3L, "delete", 1L), // the overwrite diff
      (3L, "insert", 4L)))
    // empty range -> empty feed with the right shape
    val none = VersionedTable.changes(spark, root, 1L, 1L)
    assert(none.count() === 0L)
    assert(none.columns.contains("_change_type"))
    // fromVersion = -1 bootstraps the FULL history: v0's rows stream
    // as inserts too (Delta's startingVersion = 0 convention)
    val boot = VersionedTable.changes(spark, root, -1L, 1L)
      .select("_commit_version", "_change_type", "id")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      .sortBy(t => (t._1, t._3)).toSeq
    assert(boot === Seq(
      (0L, "insert", 1L), (0L, "insert", 2L), (1L, "insert", 3L)))
  }

  test("merge upserts keyed rows: update matched, insert unmatched, tombstone deletes") {
    val root = freshRoot()
    VersionedTable.commit(
      Seq((1L, "a", 10L), (2L, "b", 20L), (3L, "c", 30L))
        .toDF("id", "s", "n").coalesce(1), root, statsColumns = Seq("*"))
    // source: update id=2, delete id=3 (op marker is an EXTRA column
    // that never reaches the table), insert id=4, unmatched tombstone
    // id=9 is a no-op
    val src = Seq(
      (2L, "B", 200L, "U"), (3L, "c", 30L, "D"),
      (4L, "d", 40L, "U"), (9L, "z", 90L, "D"))
      .toDF("id", "s", "n", "op")
    val v = VersionedTable.merge(spark, root, src, Seq("id"),
      deleteMatched = Some(col("op") === "D"))
    assert(v === Some(1L))
    assert(VersionedTable.manifest(spark, root, 1L).mode === "merge")
    val rows = VersionedTable.read(spark, root)
      .select("id", "s", "n").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      .sortBy(_._1).toSeq
    assert(rows === Seq((1L, "a", 10L), (2L, "B", 200L), (4L, "d", 40L)))
    // stats survive: metadata-only count still answers
    assert(VersionedTable.rowCount(spark, root) === Some(3L))
    // CDC: pre-images of updated/deleted rows as delete, updated +
    // inserted rows as insert — survivors (id=1) never appear
    val ch = VersionedTable.changes(spark, root, 0L, 1L)
      .select("id", "_change_type")
      .collect().map(r => (r.getLong(0), r.getString(1)))
      .sortBy(t => (t._1, t._2)).toSeq
    assert(ch === Seq((2L, "delete"), (2L, "insert"), (3L, "delete"),
      (4L, "insert")))
    // time travel to the pre-merge snapshot still works
    assert(ids(root, Some(0L)) === Seq(1L, 2L, 3L))
    // a no-op merge (nothing matched, only tombstones) commits nothing
    assert(VersionedTable.merge(spark, root,
      Seq((99L, "x", 0L, "D")).toDF("id", "s", "n", "op"), Seq("id"),
      deleteMatched = Some(col("op") === "D")).isEmpty)
    assert(VersionedTable.latestVersion(spark, root) === Some(1L))
  }

  test("merge touches only files containing matched keys; null keys insert") {
    val root = freshRoot()
    // three single-file commits with disjoint id ranges
    VersionedTable.commit(Seq((1L, "a"), (2L, "b")).toDF("id", "s")
      .coalesce(1), root, statsColumns = Seq("*"))
    VersionedTable.commit(Seq((10L, "j"), (11L, "k")).toDF("id", "s")
      .coalesce(1), root, statsColumns = Seq("*"))
    VersionedTable.commit(Seq((20L, "t"), (21L, "u")).toDF("id", "s")
      .coalesce(1), root, statsColumns = Seq("*"))
    val before = VersionedTable.manifest(spark, root, 2L).files.toSet
    // source hits only the middle file's range; a null-key row inserts
    val src = Seq((Some(10L), "J"), (None: Option[Long], "nil"))
      .toDF("id", "s")
    VersionedTable.merge(spark, root, src, Seq("id"))
    val after = VersionedTable.manifest(spark, root, 3L)
    val untouched = before.filter(after.files.toSet)
    assert(untouched.size === 2,
      s"only the matched file may be rewritten; kept $untouched")
    val rows = VersionedTable.read(spark, root)
      .collect().map(r => (Option(r.get(0)), r.getString(1))).toSeq
      .sortBy(t => (t._1.isEmpty, t._1.map(_.toString.toLong)))
    assert(rows === Seq(
      (Some(1L), "a"), (Some(2L), "b"), (Some(10L), "J"),
      (Some(11L), "k"), (Some(20L), "t"), (Some(21L), "u"),
      (None, "nil")).sortBy(t => (t._1.isEmpty, t._1)))
  }

  test("merge pins a non-deterministic source: one consistent row per key") {
    val root = freshRoot()
    VersionedTable.commit(
      (50L to 150L).map(i => (i, "base")).toDF("id", "s")
        .repartition(3, col("id")), root, statsColumns = Seq("*"))
    // rand-derived source: without up-front materialization the
    // uniqueness gate, touch probe and update/insert branches would
    // each re-evaluate it and could route DIFFERENT rows per phase
    val src = spark.range(1, 101).select(col("id"),
      concat(lit("v"), (rand(7) * 1000000).cast("long").cast("string")).as("s"))
    VersionedTable.merge(spark, root, src, Seq("id"))
    val rows = VersionedTable.read(spark, root)
      .collect().map(r => (r.getLong(0), r.getString(1)))
    // exactly one row per key, no losses, no duplicates
    assert(rows.map(_._1).sorted === (1L to 150L))
    // keys 1–49 inserted and 50–100 updated — all carry a source value
    rows.filter(_._1 <= 100L).foreach { case (id, s) =>
      assert(s.startsWith("v"), s"key $id kept '$s': a phase saw different source rows")
    }
    rows.filter(_._1 > 100L).foreach { case (_, s) => assert(s === "base") }
  }

  test("merge conflicts with a racing append that may hold its keys; disjoint appends rebase") {
    val root = freshRoot()
    VersionedTable.commit(Seq((1L, "a"), (2L, "b")).toDF("id", "s")
      .coalesce(1), root, statsColumns = Seq("*"))
    val pinned = VersionedTable.latestVersion(spark, root)
    // racing append lands AFTER the merge pinned v0 and contains a
    // merge key: rebasing would insert id=5 twice — must conflict
    VersionedTable.commit(Seq((5L, "raced")).toDF("id", "s").coalesce(1),
      root, statsColumns = Seq("*"))
    val e = intercept[VersionedTable.ConcurrentAppendException] {
      VersionedTable.merge(spark, root,
        Seq((5L, "mine")).toDF("id", "s"), Seq("id"), pinVersion = pinned)
    }
    assert(e.getMessage.contains("raced an append"))
    // retry against the new snapshot lands; exactly one id=5 row
    VersionedTable.merge(spark, root,
      Seq((5L, "mine")).toDF("id", "s"), Seq("id"))
    assert(VersionedTable.read(spark, root)
      .filter(col("id") === 5L).collect().map(_.getString(1)).toSeq
      === Seq("mine"))
    // a racing append whose zone maps are DISJOINT from the merge
    // keys still rebases freely — concurrency is only surrendered
    // where the stats cannot prove safety
    val pinned2 = VersionedTable.latestVersion(spark, root)
    VersionedTable.commit(Seq((900L, "far")).toDF("id", "s").coalesce(1),
      root, statsColumns = Seq("*"))
    VersionedTable.merge(spark, root,
      Seq((2L, "B")).toDF("id", "s"), Seq("id"), pinVersion = pinned2)
    val fin = VersionedTable.read(spark, root)
      .collect().map(r => (r.getLong(0), r.getString(1))).toMap
    assert(fin(2L) === "B" && fin(900L) === "far")
    // a STAT-LESS racing append cannot prove disjointness: conflict
    val pinned3 = VersionedTable.latestVersion(spark, root)
    VersionedTable.commit(Seq((901L, "bare")).toDF("id", "s").coalesce(1), root)
    intercept[VersionedTable.ConcurrentAppendException] {
      VersionedTable.merge(spark, root,
        Seq((2L, "BB")).toDF("id", "s"), Seq("id"), pinVersion = pinned3)
    }
  }

  test("in-commit timestamps keep versionAsOf strictly monotone") {
    val root = freshRoot()
    VersionedTable.commit(Seq((1L, "a")).toDF("id", "s"), root)
    VersionedTable.commit(Seq((2L, "b")).toDF("id", "s"), root)
    VersionedTable.commit(Seq((3L, "c")).toDF("id", "s"), root)
    val ts = (0L to 2L).map(v => VersionedTable.manifest(spark, root, v).ts)
    // recorded, and strictly increasing even for same-millisecond
    // commits (the publish clamp) — immune to rename-mtime inversion
    assert(ts.forall(_ > 0L), s"in-commit ts missing: $ts")
    assert(ts === ts.sorted && ts.distinct === ts, s"not strictly monotone: $ts")
    assert(VersionedTable.versionAsOf(spark, root, ts(0) - 1L).isEmpty)
    assert(VersionedTable.versionAsOf(spark, root, ts(0)) === Some(0L))
    assert(VersionedTable.versionAsOf(spark, root, ts(1)) === Some(1L))
    assert(VersionedTable.versionAsOf(spark, root, ts(2) + 1000L) === Some(2L))
    assert(VersionedTable.readAsOf(spark, root, ts(1))
      .collect().map(_.getLong(0)).sorted === Seq(1L, 2L))
  }

  test("clusterBy merges keep a key-clustered table sharply pruneable") {
    val root = freshRoot()
    VersionedTable.commit(
      (1L to 400L).map(i => (i, s"v$i")).toDF("id", "s")
        .repartitionByRange(4, col("id")).sortWithinPartitions("id"),
      root, statsColumns = Seq("id"))
    // ten trickle merges, each touching keys across the whole range,
    // every rewrite re-clustered on id
    (0 until 10).foreach { k =>
      VersionedTable.merge(spark, root,
        Seq((40L * k + 7L, s"up$k"), (1000L + k, s"new$k"))
          .toDF("id", "s"),
        Seq("id"), clusterBy = Seq("id"))
    }
    // a narrow point read still drops most files
    val (kept, dropped) = VersionedTable.pruneFiles(spark, root,
      col("id") === 207L)
    assert(dropped.size > kept.size,
      s"clustered merges lost pruning: kept ${kept.size}, " +
        s"dropped ${dropped.size}")
    val rows = VersionedTable.readWhere(spark, root, col("id") === 207L)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(rows === Seq((207L, "up5")))
    assert(VersionedTable.read(spark, root).count() === 410L)
  }

  test("merge rejects ambiguous sources and schema drift; races conflict") {
    val root = freshRoot()
    VersionedTable.commit(Seq((1L, "a")).toDF("id", "s").coalesce(1), root)
    // duplicate keys in the source are ambiguous — fail loudly, and
    // the message must name the exact offending key with its count
    // (the lookup lives on a rarely-exercised failure branch since the
    // r18 gate+bounds fusion; this pins it)
    val dupErr = intercept[IllegalArgumentException] {
      VersionedTable.merge(spark, root,
        Seq((1L, "x"), (1L, "y")).toDF("id", "s"), Seq("id"))
    }
    assert(dupErr.getMessage.contains("not unique on keys id"),
      s"merge dup error lost the key names: ${dupErr.getMessage}")
    assert(dupErr.getMessage.contains("(1) appears 2 times"),
      s"merge dup error lost the offending key: ${dupErr.getMessage}")
    // a missing table column fails loudly
    intercept[java.io.IOException] {
      VersionedTable.merge(spark, root, Seq(1L).toDF("id"), Seq("id"))
    }
    // exactly-once: the same (writer, batch) never lands twice
    assert(VersionedTable.merge(spark, root,
      Seq((1L, "A")).toDF("id", "s"), Seq("id"),
      txn = Some(("up", 7L))) === Some(1L))
    assert(VersionedTable.merge(spark, root,
      Seq((1L, "A")).toDF("id", "s"), Seq("id"),
      txn = Some(("up", 7L))).isEmpty)
    // racing overwrite removed the file the merge read: conflict
    val pinned = VersionedTable.latestVersion(spark, root)
    VersionedTable.commit(Seq((9L, "i")).toDF("id", "s"), root,
      overwrite = true)
    intercept[VersionedTable.CompactionConflictException] {
      VersionedTable.merge(spark, root,
        Seq((1L, "zz")).toDF("id", "s"), Seq("id"), pinVersion = pinned)
    }
    assert(ids(root) === Seq(9L))
  }

  /** Runs `body` under its own job group and returns the description of
    * every Spark job it started. A one-task fence job in a second group
    * marks "every earlier job start was delivered" to the listener.
    */
  private def jobsOf[T](group: String)(body: => T): (T, Seq[String]) = {
    val sc = spark.sparkContext
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val p = Option(e.properties)
        seen.add((p.map(_.getProperty("spark.jobGroup.id")).orNull,
          p.map(_.getProperty("spark.job.description")).orNull))
      }
    }
    sc.addSparkListener(l)
    try {
      sc.setJobGroup(group, group)
      val out = try body finally sc.clearJobGroup()
      sc.setJobGroup(s"$group-fence", "fence")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.currentTimeMillis() + 30000L
      while (!seen.asScala.exists(_._1 == s"$group-fence") &&
          System.currentTimeMillis() < deadline) Thread.sleep(20)
      (out, seen.asScala.filter(_._1 == group).map(_._2).toSeq)
    } finally sc.removeSparkListener(l)
  }

  private val day0 = java.time.LocalDate.of(2024, 3, 1)

  /** `days` single-day commits of `n` employees, zone maps on both keys. */
  private def multiDayTable(days: Int, n: Int): String = {
    val root = freshRoot()
    (0 until days).foreach { d =>
      VersionedTable.commit((1L to n.toLong).map(i =>
          (i, java.sql.Date.valueOf(day0.plusDays(d.toLong)), 1000L * d + i))
        .toDF("employee_number", "snapshot_date", "salary"), root,
        statsColumns = Seq("employee_number", "snapshot_date"))
    }
    root
  }

  test("a 40-row correction merges in at most 8 Spark jobs") {
    val root = multiDayTable(days = 5, n = 400)
    // built from an RDD, so Spark has no size estimate for it and only
    // the merge's own broadcast rule keeps its joins from shuffling
    val fix = spark.sparkContext.parallelize((1L to 40L).map(i =>
        (i * 7L, java.sql.Date.valueOf(day0.plusDays(2L)), -i)), 4)
      .toDF("employee_number", "snapshot_date", "salary")
    val (v, jobs) = jobsOf("merge-job-gate") {
      VersionedTable.merge(spark, root, fix,
        Seq("employee_number", "snapshot_date"),
        statsColumns = Seq("employee_number", "snapshot_date"))
    }
    val byPhase = jobs.groupBy(identity).map { case (d, js) => s"$d: ${js.size}" }
      .toSeq.sorted.mkString("; ")
    info(s"${jobs.size} jobs — $byPhase")
    assert(v === Some(5L))
    assert(jobs.nonEmpty && jobs.size <= 8,
      s"a small merge ran ${jobs.size} Spark jobs ($byPhase)")
    val fixed = VersionedTable.read(spark, root)
      .filter(col("salary") < 0).select("employee_number").collect()
      .map(_.getLong(0)).sorted.toSeq
    assert(fixed === (1L to 40L).map(_ * 7L))
    assert(VersionedTable.read(spark, root).count() === 2000L)
  }

  test("merge equals a plain upsert model, shuffled or broadcast") {
    val key = "spark.sql.autoBroadcastJoinThreshold"
    Seq(None, Some("-1")).foreach { threshold =>
      val prev = spark.conf.getOption(key)
      threshold.foreach(spark.conf.set(key, _))
      try {
        val root = freshRoot()
        val base = Seq((Some(1L), "a", 10L), (Some(2L), "b", 20L),
          (Some(3L), "c", 30L), (None: Option[Long], "n0", 0L))
        VersionedTable.commit(base.take(2).toDF("id", "s", "n"), root,
          statsColumns = Seq("*"))
        VersionedTable.commit(base.drop(2).toDF("id", "s", "n"), root,
          statsColumns = Seq("*"))
        // update id=2, insert id=4, matched tombstone id=3, unmatched
        // tombstone id=9, a null-key row (never matches: inserts)
        val src = Seq((Some(2L), "B", 200L, "U"), (Some(4L), "d", 40L, "U"),
          (Some(3L), "c", 30L, "D"), (Some(9L), "z", 90L, "D"),
          (None: Option[Long], "nil", 5L, "U"))
        val v = VersionedTable.merge(spark, root,
          src.toDF("id", "s", "n", "op"), Seq("id"),
          deleteMatched = Some(col("op") === "D"))
        assert(v === Some(2L), s"threshold $threshold")
        // the model: a keyed upsert; a null key never matches
        val keyed = base.collect { case (Some(i), s, n) => i -> (s, n) }.toMap
        val model = src.foldLeft(keyed) {
          case (t, (Some(i), _, _, "D")) => t - i
          case (t, (Some(i), s, n, _)) => t + (i -> (s, n))
          case (t, _) => t
        }
        type R = (Option[Long], String, Long)
        def rowsOf(rs: Array[org.apache.spark.sql.Row]): Seq[R] = rs.map(r =>
          (Option(r.get(0)).map(_.asInstanceOf[Long]), r.getString(1),
            r.getLong(2))).toSeq.sortBy(_.toString)
        val expected: Seq[R] = (model.toSeq.map { case (i, (s, n)) =>
          (Some(i): Option[Long], s, n) } ++
          Seq[R]((None, "n0", 0L), (None, "nil", 5L))).sortBy(_.toString)
        assert(rowsOf(VersionedTable.read(spark, root)
          .select("id", "s", "n").collect()) === expected,
          s"threshold $threshold")
        // CDC: the replaced and deleted rows' pre-images, and every
        // non-deleted source row
        val ch = VersionedTable.changes(spark, root, 1L, 2L)
        def side(t: String) = rowsOf(ch.filter(col("_change_type") === t)
          .select("id", "s", "n").collect())
        assert(side("delete") === Seq[R]((Some(2L), "b", 20L),
          (Some(3L), "c", 30L)).sortBy(_.toString), s"threshold $threshold")
        assert(side("insert") === Seq[R]((Some(2L), "B", 200L),
          (Some(4L), "d", 40L), (None, "nil", 5L)).sortBy(_.toString),
          s"threshold $threshold")
      } finally prev match {
        case Some(p) => spark.conf.set(key, p)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("a duplicate-key merge source fails before any file is staged") {
    val root = multiDayTable(days = 2, n = 20)
    val dataDirs = () => new java.io.File(root, "data").listFiles()
      .map(_.getName).toSet
    val before = dataDirs()
    val d = java.sql.Date.valueOf(day0)
    intercept[IllegalArgumentException] {
      VersionedTable.merge(spark, root,
        Seq((3L, d, 1L), (3L, d, 2L), (4L, d, 3L))
          .toDF("employee_number", "snapshot_date", "salary"),
        Seq("employee_number", "snapshot_date"))
    }
    assert(dataDirs() === before, "a rejected merge staged files")
    assert(VersionedTable.latestVersion(spark, root) === Some(1L))
  }

  test("concurrent timestamp commits all keep their timestamp zone maps") {
    val tsKey = "spark.sql.parquet.outputTimestampType"
    val confBefore = spark.conf.getOption(tsKey)
    val df = Seq((1L, "2024-01-15 10:00:00"), (2L, "2024-02-15 10:00:00"))
      .toDF("id", "ts").select(col("id"), col("ts").cast("timestamp"))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    val roots = try {
      val fs = (0 until 2).map(_ => pool.submit(
        new java.util.concurrent.Callable[Seq[String]] {
          def call(): Seq[String] = (0 until 10).map { _ =>
            val root = freshRoot()
            VersionedTable.commit(df, root, statsColumns = Seq("*"))
            root
          }
        }))
      fs.flatMap(_.get(5, java.util.concurrent.TimeUnit.MINUTES))
    } finally pool.shutdownNow()
    roots.foreach { root =>
      val m = VersionedTable.manifest(spark, root, 0L)
      assert(m.stats.nonEmpty, s"$root lost its zone maps")
      m.stats.foreach { case (file, st) =>
        val ts = st.cols.get("ts")
        assert(ts.exists(c => c.min.isDefined && c.max.isDefined),
          s"$root/$file lost its timestamp zone map: $ts")
      }
    }
    assert(spark.conf.getOption(tsKey) === confBefore,
      "the scoped timestamp override leaked into the session")
  }

  test("replaceWhere swaps the matched region atomically and rejects leaks") {
    val root = freshRoot()
    VersionedTable.commit(
      Seq((1L, "x", 10L), (2L, "x", 20L), (3L, "y", 30L), (4L, "z", 40L))
        .toDF("id", "par", "n").repartition(3, col("par")),
      root, statsColumns = Seq("*"))
    val before = VersionedTable.manifest(spark, root, 0L).files.toSet
    // replace the whole par=x region with two new rows
    val repl = Seq((7L, "x", 70L), (8L, "x", 80L)).toDF("id", "par", "n")
    val v = VersionedTable.replaceWhere(spark, root, repl,
      col("par") === "x")
    assert(v === Some(1L))
    val after = VersionedTable.manifest(spark, root, 1L)
    assert(after.mode === "replace")
    // the y and z files never move
    assert(before.filter(after.files.toSet).size >= 1)
    assert(ids(root) === Seq(3L, 4L, 7L, 8L))
    // CDC: replaced pre-images as delete, replacements as insert
    val ch = VersionedTable.changes(spark, root, 0L, 1L)
      .select("id", "_change_type")
      .collect().map(r => (r.getLong(0), r.getString(1)))
      .sortBy(t => (t._1, t._2)).toSeq
    assert(ch === Seq((1L, "delete"), (2L, "delete"),
      (7L, "insert"), (8L, "insert")))
    // a replacement row OUTSIDE the predicate region is a leak — refuse
    intercept[IllegalArgumentException] {
      VersionedTable.replaceWhere(spark, root,
        Seq((9L, "w", 90L)).toDF("id", "par", "n"), col("par") === "x")
    }
    // exactly-once txn replay skips
    assert(VersionedTable.replaceWhere(spark, root,
      Seq((5L, "y", 50L)).toDF("id", "par", "n"), col("par") === "y",
      txn = Some(("bf", 3L))) === Some(2L))
    assert(VersionedTable.replaceWhere(spark, root,
      Seq((6L, "y", 60L)).toDF("id", "par", "n"), col("par") === "y",
      txn = Some(("bf", 3L))).isEmpty)
    // id=3 (the old y row) was replaced by id=5
    assert(ids(root) === Seq(4L, 5L, 7L, 8L))
  }

  test("deleteVectored kills rows without touching a data file; counts stay exact") {
    val root = freshRoot()
    VersionedTable.commit(
      (1L to 10L).map(i => (i, if (i % 2 == 0) "even" else "odd"))
        .toDF("id", "par").repartition(2, col("par")),
      root, statsColumns = Seq("*"))
    val m0 = VersionedTable.manifest(spark, root, 0L)
    val fs = new Path(root).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val sizes0 = m0.files.map(rel =>
      rel -> fs.getFileStatus(new Path(root, rel)).getLen).toMap
    val v = VersionedTable.deleteVectored(spark, root,
      col("par") === "even" && col("id") > 4L)
    assert(v === Some(1L))
    val m1 = VersionedTable.manifest(spark, root, 1L)
    assert(m1.mode === "dvdelete")
    // every data file survives byte-identical — nothing was rewritten
    assert(m1.files === m0.files)
    m1.files.foreach { rel =>
      assert(fs.getFileStatus(new Path(root, rel)).getLen === sizes0(rel))
    }
    assert(m1.dvs.values.map(_.dead).sum === 3L)
    // reads exclude the dead rows; metadata-only count stays exact
    assert(ids(root) === Seq(1L, 2L, 3L, 4L, 5L, 7L, 9L))
    assert(VersionedTable.rowCount(spark, root) === Some(7L))
    // pinned pre-delete snapshot still sees everything
    assert(ids(root, Some(0L)) === (1L to 10L))
    // stacked second vector on the SAME file: disjoint positions add
    VersionedTable.deleteVectored(spark, root, col("id") === 2L)
    assert(ids(root) === Seq(1L, 3L, 4L, 5L, 7L, 9L))
    assert(VersionedTable.rowCount(spark, root) === Some(6L))
    // predicate matching nothing (or only already-dead rows): no commit
    assert(VersionedTable.deleteVectored(spark, root,
      col("id") === 2L).isEmpty)
    assert(VersionedTable.deleteVectored(spark, root,
      col("id") === 999L).isEmpty)
    assert(VersionedTable.latestVersion(spark, root) === Some(2L))
    // CDC: exactly the newly-dead rows per commit
    val ch = VersionedTable.changes(spark, root, 0L, 2L)
      .select("id", "_change_type", "_commit_version")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      .sortBy(t => (t._3, t._1)).toSeq
    assert(ch === Seq((6L, "delete", 1L), (8L, "delete", 1L),
      (10L, "delete", 1L), (2L, "delete", 2L)))
  }

  test("rewriting ops respect vectors; compact purges them and vacuum kills the bytes") {
    val root = freshRoot()
    VersionedTable.commit(
      Seq((1L, "a", 10L), (2L, "b", 20L), (3L, "c", 30L), (4L, "d", 40L))
        .toDF("id", "s", "n").coalesce(1), root, statsColumns = Seq("*"))
    VersionedTable.deleteVectored(spark, root, col("id") === 2L)
    // a rewrite-flavored delete on the dirty file must NOT resurrect
    // id=2 into the survivors
    VersionedTable.delete(spark, root, col("id") === 4L)
    assert(ids(root) === Seq(1L, 3L))
    // merge on the live view: id=3 updates, dead id=2 stays dead (it
    // no longer matches, so a same-key source row INSERTS)
    VersionedTable.merge(spark, root,
      Seq((3L, "C", 300L)).toDF("id", "s", "n"), Seq("id"))
    assert(VersionedTable.read(spark, root)
      .select("id", "n").collect().map(r => (r.getLong(0), r.getLong(1)))
      .sortBy(_._1).toSeq === Seq((1L, 10L), (3L, 300L)))
    // export refuses while vectors are outstanding... on a fresh table
    val root2 = freshRoot()
    VersionedTable.commit(
      (1L to 6L).map(i => (i, i * 10L)).toDF("id", "n").coalesce(1),
      root2, statsColumns = Seq("*"))
    VersionedTable.deleteVectored(spark, root2, col("id") <= 2L)
    intercept[java.io.IOException] {
      VersionedTable.exportSnapshot(spark, root2)
    }
    val m1 = VersionedTable.manifest(spark, root2, 1L)
    val dirtyRel = m1.dvs.keys.head
    // compact = the purge: vectors clear, live rows survive
    VersionedTable.compact(spark, root2, targetPartitions = 1)
    val m2 = VersionedTable.manifest(spark, root2,
      VersionedTable.latestVersion(spark, root2).get)
    assert(m2.dvs.isEmpty)
    assert(VersionedTable.read(spark, root2)
      .select("id").collect().map(_.getLong(0)).sorted.toSeq ===
      Seq(3L, 4L, 5L, 6L))
    // ...and export works again
    VersionedTable.exportSnapshot(spark, root2)
    // vacuum past retention destroys the dirty file's bytes (the
    // compact+vacuum pair is what discharges a byte-destruction
    // takedown after a vectored delete)
    val fs = new Path(root2).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    assert(fs.exists(new Path(root2, dirtyRel)))
    VersionedTable.vacuum(spark, root2, keepVersions = 1)
    assert(!fs.exists(new Path(root2, dirtyRel)),
      "vectored-dead bytes survived compact+vacuum")
    assert(VersionedTable.read(spark, root2)
      .select("id").collect().map(_.getLong(0)).sorted.toSeq ===
      Seq(3L, 4L, 5L, 6L))
    // vacuum KEEPS sidecars of retained dirty manifests
    val root3 = freshRoot()
    VersionedTable.commit(
      (1L to 4L).map(i => (i, i)).toDF("id", "n").coalesce(1), root3,
      statsColumns = Seq("*"))
    VersionedTable.deleteVectored(spark, root3, col("id") === 1L)
    VersionedTable.vacuum(spark, root3, keepVersions = 1)
    assert(VersionedTable.read(spark, root3)
      .select("id").collect().map(_.getLong(0)).sorted.toSeq ===
      Seq(2L, 3L, 4L))
  }

  test("deleteVectored conflicts with racing rewrites; racing appends rebase") {
    val root = freshRoot()
    VersionedTable.commit(Seq((1L, "a"), (2L, "b")).toDF("id", "s")
      .coalesce(1), root)
    // racing APPEND: the vectored delete pinned v0, the append lands
    // after — both effects land
    VersionedTable.commit(Seq((5L, "e")).toDF("id", "s").coalesce(1), root)
    assert(VersionedTable.deleteVectored(spark, root, col("id") === 2L,
      pinVersion = Some(0L)) === Some(2L))
    assert(ids(root) === Seq(1L, 5L))
    // racing OVERWRITE removed the file it read: conflict
    val pinned = VersionedTable.latestVersion(spark, root)
    VersionedTable.commit(Seq((9L, "i")).toDF("id", "s"), root,
      overwrite = true)
    intercept[VersionedTable.CompactionConflictException] {
      VersionedTable.deleteVectored(spark, root, col("id") === 1L,
        pinVersion = pinned)
    }
    // racing DVDELETE on the same file: conflict (keeps dead counts
    // exact); rerun against the new snapshot succeeds
    val root2 = freshRoot()
    VersionedTable.commit((1L to 6L).map(i => (i, i)).toDF("id", "n")
      .coalesce(1), root2)
    VersionedTable.deleteVectored(spark, root2, col("id") === 1L)
    intercept[VersionedTable.CompactionConflictException] {
      VersionedTable.deleteVectored(spark, root2, col("id") === 2L,
        pinVersion = Some(0L))
    }
    assert(VersionedTable.deleteVectored(spark, root2,
      col("id") === 2L).isDefined)
    assert(VersionedTable.read(spark, root2)
      .select("id").collect().map(_.getLong(0)).sorted.toSeq ===
      Seq(3L, 4L, 5L, 6L))
  }

  test("compactSmall bin-packs only the small files; healthy files never move") {
    val root = freshRoot()
    // three 1-row files (small) + one 1000-row file (healthy)
    (1L to 3L).foreach { i =>
      VersionedTable.commit(Seq((i, s"s$i")).toDF("id", "s").coalesce(1),
        root, statsColumns = Seq("*"))
    }
    VersionedTable.commit(
      (100L until 1100L).map(i => (i, s"x$i")).toDF("id", "s").coalesce(1),
      root, statsColumns = Seq("*"))
    val m = VersionedTable.manifest(spark, root, 3L)
    val fs = new Path(root).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val big = m.files.maxBy(rel =>
      fs.getFileStatus(new Path(root, rel)).getLen)
    val bigLen = fs.getFileStatus(new Path(root, big)).getLen
    val v = VersionedTable.compactSmall(spark, root,
      maxFileBytes = bigLen - 1)
    assert(v === Some(4L))
    val m4 = VersionedTable.manifest(spark, root, 4L)
    assert(m4.mode === "compact")
    // the healthy file carried over untouched; smalls merged into one
    assert(m4.files.contains(big))
    assert(m4.files.size === 2, s"expected big + 1 packed, got ${m4.files}")
    assert(ids(root).size === 1003)
    assert(VersionedTable.rowCount(spark, root) === Some(1003L))
    // nothing small left: rerun is a no-op
    assert(VersionedTable.compactSmall(spark, root,
      maxFileBytes = 1L).isEmpty)
  }

  test("purgeVectors rewrites only dirty files; clean files and bytes survive") {
    val root = freshRoot()
    VersionedTable.commit(Seq((1L, "a"), (2L, "b")).toDF("id", "s")
      .coalesce(1), root, statsColumns = Seq("*"))
    VersionedTable.commit(Seq((10L, "j"), (11L, "k")).toDF("id", "s")
      .coalesce(1), root, statsColumns = Seq("*"))
    VersionedTable.deleteVectored(spark, root, col("id") === 10L)
    val m2 = VersionedTable.manifest(spark, root, 2L)
    val dirty = m2.dvs.keys.toSet
    val clean = m2.files.toSet -- dirty
    assert(dirty.size === 1 && clean.size === 1)
    val v = VersionedTable.purgeVectors(spark, root)
    assert(v === Some(3L))
    val m3 = VersionedTable.manifest(spark, root, 3L)
    assert(m3.dvs.isEmpty)
    assert(clean.subsetOf(m3.files.toSet), "clean file must not move")
    assert(!dirty.subsetOf(m3.files.toSet), "dirty file must rewrite")
    assert(ids(root) === Seq(1L, 2L, 11L))
    assert(VersionedTable.rowCount(spark, root) === Some(3L))
    // export works again; a purge-less table refused above
    VersionedTable.exportSnapshot(spark, root)
    // vacuum destroys the dirty file's bytes
    val fs = new Path(root).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    VersionedTable.vacuum(spark, root, keepVersions = 1)
    dirty.foreach(rel => assert(!fs.exists(new Path(root, rel)),
      "purged dead bytes survived vacuum"))
    assert(ids(root) === Seq(1L, 2L, 11L))
    // no vectors -> purge is a no-op
    assert(VersionedTable.purgeVectors(spark, root).isEmpty)
  }

  test("compactFiles conflicts on racing rewrites of its selection") {
    val root = freshRoot()
    VersionedTable.commit(Seq((1L, "a")).toDF("id", "s").coalesce(1), root)
    VersionedTable.commit(Seq((2L, "b")).toDF("id", "s").coalesce(1), root)
    val m = VersionedTable.manifest(spark, root, 1L)
    // racing append rebases fine
    VersionedTable.commit(Seq((3L, "c")).toDF("id", "s").coalesce(1), root)
    assert(VersionedTable.compactFiles(spark, root, m.files,
      pinVersion = Some(1L)) === Some(3L))
    assert(ids(root) === Seq(1L, 2L, 3L))
    // racing overwrite conflicts
    val pinned = VersionedTable.latestVersion(spark, root)
    val mPin = VersionedTable.manifest(spark, root, pinned.get)
    VersionedTable.commit(Seq((9L, "i")).toDF("id", "s"), root,
      overwrite = true)
    intercept[VersionedTable.CompactionConflictException] {
      VersionedTable.compactFiles(spark, root, mPin.files,
        pinVersion = pinned)
    }
    assert(ids(root) === Seq(9L))
  }

  test("mixed racing committers: appends, merges and vectored deletes never lose an update") {
    // the protocol's whole-point stress: three writers race ALL
    // different op types against one table; every op either lands or
    // conflicts loudly — silent lost updates and resurrected rows are
    // the failure modes this gate excludes
    val root = freshRoot()
    VersionedTable.commit(
      (1L to 30L).map(i => (i, "base")).toDF("id", "s")
        .repartition(3, col("id")), root, statsColumns = Seq("*"))
    import scala.concurrent.{Await, Future, blocking}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    def retrying[T](op: => Option[T]): Option[T] = {
      var out: Option[T] = None
      var attempts = 0
      var done = false
      while (!done && attempts < 10) {
        try { out = op; done = true }
        catch {
          case _: VersionedTable.CompactionConflictException =>
            attempts += 1 // rerun against the new snapshot, per contract
        }
      }
      assert(done, "op conflicted 10 times straight")
      out
    }
    val ops = Seq(
      Future(blocking(retrying(Some(VersionedTable.commit(
        Seq((100L, "app")).toDF("id", "s"), root))))),
      Future(blocking(retrying(VersionedTable.merge(spark, root,
        Seq((5L, "merged"), (101L, "ins")).toDF("id", "s"), Seq("id"))))),
      Future(blocking(retrying(VersionedTable.deleteVectored(spark, root,
        col("id") === 7L)))),
      Future(blocking(retrying(VersionedTable.delete(spark, root,
        col("id") === 9L)))))
    Await.result(Future.sequence(ops), 300.seconds)
    val rows = VersionedTable.read(spark, root)
      .collect().map(r => (r.getLong(0), r.getString(1))).toMap
    // every op's effect is present exactly once
    assert(rows(100L) === "app")
    assert(rows(5L) === "merged")
    assert(rows(101L) === "ins")
    assert(!rows.contains(7L), "vectored delete lost")
    assert(!rows.contains(9L), "rewrite delete lost")
    assert(rows.size === 30 - 2 + 2)
    // metadata count survives the melee when stats stayed intact
    VersionedTable.rowCount(spark, root).foreach(n =>
      assert(n === rows.size.toLong))
    // replayed streaming takedown: txn-guarded dvdelete lands once
    val before = VersionedTable.latestVersion(spark, root)
    VersionedTable.deleteVectored(spark, root, col("id") === 11L,
      txn = Some(("takedown", 1L)))
    assert(VersionedTable.deleteVectored(spark, root, col("id") === 11L,
      txn = Some(("takedown", 1L))).isEmpty)
    assert(VersionedTable.latestVersion(spark, root)
      === before.map(_ + 1L))
  }

  test("analyzeStats backfills only stat-less files and re-enables metadata counts") {
    val root = freshRoot()
    VersionedTable.commit(Seq((1L, "a"), (2L, "b")).toDF("id", "s")
      .coalesce(1), root, statsColumns = Seq("*"))
    VersionedTable.commit(Seq((10L, "j")).toDF("id", "s").coalesce(1), root)
    // the unstatted append disables the metadata count (never guess)
    assert(VersionedTable.rowCount(spark, root).isEmpty)
    val statted = VersionedTable.manifest(spark, root, 1L).stats.keySet
    val v = VersionedTable.analyzeStats(spark, root)
    assert(v === Some(2L))
    val m2 = VersionedTable.manifest(spark, root, 2L)
    assert(m2.mode === "stats")
    assert(m2.files === VersionedTable.manifest(spark, root, 1L).files,
      "analyze must not move data files")
    // pre-existing stats survive verbatim; missing ones are filled
    statted.foreach(rel => assert(m2.stats.contains(rel)))
    assert(m2.stats.keySet === m2.files.toSet)
    assert(VersionedTable.rowCount(spark, root) === Some(3L))
    // the backfilled bounds are SOUND: pruned read == direct filter
    val pruned = VersionedTable.readWhere(spark, root, col("id") >= 10L)
      .select("id").collect().map(_.getLong(0)).sorted.toSeq
    assert(pruned === Seq(10L))
    val (kept, dropped) = VersionedTable.pruneFiles(spark, root,
      col("id") >= 10L)
    assert(dropped.nonEmpty, "backfilled stats must actually prune")
    assert(kept.nonEmpty)
    // all statted: rerun is a no-op; the feed skips the stats commit
    assert(VersionedTable.analyzeStats(spark, root).isEmpty)
    assert(VersionedTable.changes(spark, root, 1L, 2L).count() === 0L)
  }

  test("tags pin releases: readable forever, immune to vacuum, movable, droppable") {
    val root = freshRoot()
    VersionedTable.commit(Seq(1L, 2L).toDF("id"), root) // v0
    VersionedTable.tag(spark, root, "corpus-v1.0")
    VersionedTable.commit(Seq(3L).toDF("id"), root) // v1
    VersionedTable.commit(Seq(9L).toDF("id"), root,
      overwrite = true) // v2
    VersionedTable.commit(Seq(10L).toDF("id"), root) // v3
    assert(VersionedTable.tagVersion(spark, root, "corpus-v1.0")
      === Some(0L))
    assert(VersionedTable.listTags(spark, root)
      === Map("corpus-v1.0" -> 0L))
    // vacuum keeps the tagged release alongside the last-K window
    VersionedTable.vacuum(spark, root, keepVersions = 1)
    assert(VersionedTable.readTag(spark, root, "corpus-v1.0")
      .select("id").collect().map(_.getLong(0)).sorted.toSeq ===
      Seq(1L, 2L))
    assert(ids(root) === Seq(9L, 10L))
    // the UNtagged overwritten version is gone
    intercept[java.io.IOException] {
      VersionedTable.manifest(spark, root, 1L)
    }
    // retagging moves the pin; a bad name refuses; tagging a vacuumed
    // version refuses
    VersionedTable.tag(spark, root, "corpus-v1.0", Some(3L))
    assert(VersionedTable.tagVersion(spark, root, "corpus-v1.0")
      === Some(3L))
    intercept[IllegalArgumentException] {
      VersionedTable.tag(spark, root, "../escape")
    }
    intercept[java.io.IOException] {
      VersionedTable.tag(spark, root, "ghost", Some(1L))
    }
    // dropping the tag releases the version to the next vacuum
    assert(VersionedTable.deleteTag(spark, root, "corpus-v1.0"))
    assert(!VersionedTable.deleteTag(spark, root, "corpus-v1.0"))
    VersionedTable.commit(Seq(11L).toDF("id"), root) // v4
    VersionedTable.vacuum(spark, root, keepVersions = 1)
    intercept[java.io.IOException] {
      VersionedTable.manifest(spark, root, 0L)
    }
    assert(ids(root) === Seq(9L, 10L, 11L))
  }

  test("vacuum sweeps a dangling tag instead of pinning destroyed history") {
    val root = freshRoot()
    VersionedTable.commit(Seq(1L).toDF("id"), root) // v0
    VersionedTable.commit(Seq(2L).toDF("id"), root) // v1
    VersionedTable.commit(Seq(3L).toDF("id"), root) // v2
    VersionedTable.tag(spark, root, "live", Some(2L))
    VersionedTable.tag(spark, root, "raced", Some(0L))
    // simulate the residual tag/vacuum race: the tag's re-check passed
    // just before a concurrent vacuum destroyed its manifest — leaving
    // a tag readTag can never serve
    val fs = new Path(root).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    fs.delete(new Path(root, f"_commits/v${0L}%012d.json"), false)
    assert(VersionedTable.tagVersion(spark, root, "raced") === Some(0L))
    VersionedTable.vacuum(spark, root, keepVersions = 1)
    // the dangling tag is removed (self-heal), the live one honored
    assert(VersionedTable.tagVersion(spark, root, "raced") === None,
      "vacuum left a tag pinning a destroyed manifest")
    assert(VersionedTable.tagVersion(spark, root, "live") === Some(2L))
    assert(VersionedTable.readTag(spark, root, "live")
      .collect().map(_.getLong(0)).sorted.toSeq === Seq(1L, 2L, 3L))
  }

  test("readAsOf falls back to mtimes for legacy manifests, clamped monotone") {
    val root = freshRoot()
    VersionedTable.commit(Seq(1L).toDF("id"), root) // v0
    VersionedTable.commit(Seq(2L).toDF("id"), root) // v1
    VersionedTable.commit(Seq(3L).toDF("id"), root) // v2
    val fs = new Path(root).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    // strip the in-commit ts: a pre-ts manifest generation must still
    // time-travel off the commit files' mtimes
    def legacyize(v: Long): Unit = {
      val p = new Path(root, f"_commits/v$v%012d.json")
      val in = fs.open(p)
      val body = try scala.io.Source.fromInputStream(in).mkString
        finally in.close()
      val out = fs.create(p, true)
      try out.write(body.replaceAll(""","ts":\d+""", "").getBytes("UTF-8"))
      finally out.close()
    }
    // pin distinct commit mtimes deterministically (no wall-clock sleeps)
    def setTime(v: Long, t: Long): Unit =
      fs.setTimes(new Path(root, f"_commits/v$v%012d.json"), t, -1L)
    (0L to 2L).foreach(legacyize)
    setTime(0L, 1000L); setTime(1L, 2000L); setTime(2L, 3000L)
    assert(VersionedTable.versionAsOf(spark, root, 999L).isEmpty)
    assert(VersionedTable.versionAsOf(spark, root, 1000L) === Some(0L))
    assert(VersionedTable.versionAsOf(spark, root, 2500L) === Some(1L))
    assert(VersionedTable.versionAsOf(spark, root, 999999L) === Some(2L))
    assert(VersionedTable.readAsOf(spark, root, 2500L)
      .select("id").collect().map(_.getLong(0)).sorted.toSeq ===
      Seq(1L, 2L))
    intercept[java.io.IOException] {
      VersionedTable.readAsOf(spark, root, 1L)
    }
    // object-store mtime INVERSION (v1's copy stamped after v2's):
    // the ascending clamp keeps the mapping monotone — the pick can
    // never return v2 while excluding v1
    setTime(1L, 5000L)
    assert(VersionedTable.versionAsOf(spark, root, 3000L) === Some(0L))
    assert(VersionedTable.versionAsOf(spark, root, 5001L) === Some(2L))
  }

  test("q_scd_status runs identically off a manifest-pinned read") {
    val dir = "/root/testdata/sf0.001"
    val root = freshRoot()
    val orders = spark.read.parquet(s"$dir/orders.parquet")
    val v = VersionedTable.commit(orders, root)
    val viaPin = ScdQueries.scdStatusFrame(
      VersionedTable.read(spark, root, Some(v)))
    val direct = ScdQueries.scdStatus(spark, dir)
    assert(viaPin.collect().map(_.toString).sorted.toSeq ===
      direct.collect().map(_.toString).sorted.toSeq)
    // a later corrupting overwrite cannot reach the pinned version
    VersionedTable.commit(orders.limit(10), root, overwrite = true)
    val viaPinAfter = ScdQueries.scdStatusFrame(
      VersionedTable.read(spark, root, Some(v)))
    assert(viaPinAfter.count() === direct.count())
  }
}
