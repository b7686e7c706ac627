package graft

import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._

import graft.sources.VersionedTable

/** Sub-file skipping (the r17 verdict's #7): per-ROW-GROUP zone maps
  * read off parquet footers at commit time refine FILE pruning (a file
  * none of whose row groups admits the predicate drops even when its
  * file-level envelope admits it — the post-compaction large-file
  * case), while the parquet reader's own row-group skip handles the
  * kept files' interiors via the pushed-down residual filter.
  */
class RowGroupStatsSpec extends SparkSpec {
  import spark.implicits._

  private def freshRoot(): String =
    java.nio.file.Files.createTempDirectory("graft_rg").toString

  /** Run `body` with a tiny parquet row-group size so a single written
    * file splits into many row groups; restores the conf after.
    */
  private def withSmallRowGroups[A](body: => A): A = {
    val conf = spark.sparkContext.hadoopConfiguration
    val prevB = conf.get("parquet.block.size")
    val prevP = conf.get("parquet.page.size")
    conf.set("parquet.block.size", "16384")
    conf.set("parquet.page.size", "4096")
    try body
    finally {
      if (prevB == null) conf.unset("parquet.block.size")
      else conf.set("parquet.block.size", prevB)
      if (prevP == null) conf.unset("parquet.page.size")
      else conf.set("parquet.page.size", prevP)
    }
  }

  // one file, internally BIMODAL: ids 0..2999 and 1_000_000..1_002_999
  // — the file-level envelope spans everything, the row groups do not
  private def bimodal() = ((0 until 3000) ++
    (1000000 until 1003000)).toDF("id")
    .withColumn("pad", concat(lit("pad-"), col("id").cast("string"),
      lit("-"), sha2(col("id").cast("string"), 256)))
    .orderBy("id").coalesce(1)

  test("commit records per-row-group maps; a gap predicate drops the file") {
    val root = freshRoot()
    withSmallRowGroups {
      // EVEN ids only, sorted into one multi-group file: any odd value
      // sits inside the file-level envelope but between two adjacent
      // groups' envelopes — only the per-group maps can refute it
      VersionedTable.commit(
        (0 until 6000).map(_ * 2).toDF("id")
          .withColumn("pad", sha2(col("id").cast("string"), 256))
          .orderBy("id").coalesce(1),
        root, statsColumns = Seq("*"), rowGroupStats = true)
    }
    val m = VersionedTable.manifest(spark, root, 0L)
    assert(m.files.size === 1)
    val fsSt = m.stats(m.files.head)
    assert(fsSt.rgs.size > 1,
      s"expected several row groups, got ${fsSt.rgs.size}")
    assert(fsSt.rgs.map(_.rows).sum === fsSt.rows,
      "row-group row counts must sum to the file's")
    // every group carries bounds for the stat columns
    assert(fsSt.rgs.forall(rg => rg.cols.get("id").exists(c =>
      c.min.isDefined && c.max.isDefined)))
    // probe: the odd value just past the FIRST group's max — inside
    // the file envelope, outside every group's
    val probe = fsSt.rgs.head.cols("id").max.get.toLong + 1
    assert(probe % 2 === 1L)
    assert(fsSt.cols("id").min.get.toLong < probe &&
      probe < fsSt.cols("id").max.get.toLong,
      "the probe must defeat the file-level map for the test to mean " +
        "anything")
    val (kept, dropped) = VersionedTable.pruneFiles(spark, root,
      col("id") === probe)
    assert(kept.isEmpty && dropped.size === 1,
      s"row-group refinement must drop the file for id=$probe: kept $kept")
    assert(VersionedTable.readWhere(spark, root,
      col("id") === probe).count() === 0L)
    // a present value keeps the file and the answer
    assert(VersionedTable.readWhere(spark, root,
      col("id") === (probe - 1)).count() === 1L)
  }

  test("skipping is SOUND across predicate shapes (pruned == unpruned)") {
    val root = freshRoot()
    withSmallRowGroups {
      VersionedTable.commit(bimodal(), root,
        statsColumns = Seq("*"), rowGroupStats = true)
    }
    val full = VersionedTable.read(spark, root)
    for (p <- Seq(
        col("id") < 100L, col("id") >= 1002500L,
        col("id") === 2999L, col("id") === 3000L,
        col("id").between(2000L, 1000500L),
        col("id") < 10L || col("id") > 1002990L,
        col("pad") === "nope", col("id").isNull, col("id").isNotNull)) {
      val pruned = VersionedTable.readWhere(spark, root, p)
        .select("id").collect().map(_.getInt(0)).sorted.toSeq
      val direct = full.filter(p)
        .select("id").collect().map(_.getInt(0)).sorted.toSeq
      assert(pruned === direct, s"row-group pruning changed the answer for $p")
    }
  }

  test("compaction keeps (and re-derives) the maps; kept files skip inside") {
    val root = freshRoot()
    withSmallRowGroups {
      // many small sorted files...
      (0 until 6).foreach { k =>
        VersionedTable.commit(
          (k * 5000 until (k + 1) * 5000).toDF("id")
            .withColumn("pad", sha2(col("id").cast("string"), 256))
            .orderBy("id").coalesce(1),
          root, statsColumns = Seq("*"), rowGroupStats = true)
      }
      // ...compacted into ONE large sorted file: rg maps re-derive
      // without being re-requested (a mapped table keeps its maps)
      VersionedTable.compact(spark, root, targetPartitions = 1,
        clusterBy = Seq("id"))
    }
    val m = VersionedTable.manifest(spark, root,
      VersionedTable.latestVersion(spark, root).get)
    assert(m.files.size === 1)
    val fsSt = m.stats(m.files.head)
    assert(fsSt.rgs.size > 1, s"compacted file has ${fsSt.rgs.size} groups")
    // inside the kept file the PARQUET READER skips row groups via the
    // pushed residual filter: the scan returns only the admitted
    // groups' rows, far fewer than the file's 30k
    val q = VersionedTable.readWhere(spark, root, col("id") < 500L)
    assert(q.count() === 500L)
    val scan = q.queryExecution.executedPlan.collect {
      case s: FileSourceScanExec => s
    }.head
    assert(scan.metadata("PushedFilters").contains("LessThan(id,500)"),
      s"residual filter must reach the scan: ${scan.metadata("PushedFilters")}")
    val scanned = scan.metrics("numOutputRows").value
    assert(scanned < 15000L,
      s"parquet row-group skip should bound the scan far below 30k " +
        s"rows; scanned $scanned")
    // and the manifest's own maps agree that most groups refute
    val admitted = fsSt.rgs.count(rg => rg.cols.get("id").exists(c =>
      c.min.exists(_.toLong < 500L)))
    assert(admitted < fsSt.rgs.size,
      "the range predicate must refute at least one recorded group")
  }

  test("every rewrite of a mapped table writes files that carry maps") {
    val root = freshRoot()
    (0 until 4).foreach { k =>
      VersionedTable.commit((k * 100 until (k + 1) * 100)
          .map(i => (i.toLong, s"s$i")).toDF("id", "s").coalesce(1),
        root, statsColumns = Seq("*"), rowGroupStats = true)
    }
    def latest = VersionedTable.manifest(spark, root,
      VersionedTable.latestVersion(spark, root).get)
    def rewrites(op: String)(run: => Option[Long]): Unit = {
      val before = latest.files.toSet
      assert(run.isDefined, s"$op committed nothing")
      val m = latest
      val added = m.files.filterNot(before)
      assert(added.nonEmpty, s"$op wrote no file")
      added.foreach(rel => assert(m.stats(rel).rgs.nonEmpty,
        s"$op wrote $rel without row-group maps"))
    }
    rewrites("compactWhere")(
      VersionedTable.compactWhere(spark, root, col("id") < 200L))
    rewrites("merge")(VersionedTable.merge(spark, root,
      Seq((5L, "x"), (1000L, "new")).toDF("id", "s"), Seq("id")))
    rewrites("delete")(
      VersionedTable.delete(spark, root, col("id") === 250L))
    rewrites("compactSmall")(VersionedTable.compactSmall(spark, root))
  }

  test("maps survive the manifest render/parse round trip") {
    val fsSt = VersionedTable.FileStats(10L,
      Map("a" -> VersionedTable.ColStats("long", Some("0"), Some("9"), 1L)),
      rgs = Seq(
        VersionedTable.FileStats(4L,
          Map("a" -> VersionedTable.ColStats("long", Some("0"), Some("3"), 1L))),
        VersionedTable.FileStats(6L,
          Map("a" -> VersionedTable.ColStats("long", Some("4"), Some("9"), 0L)))))
    val back = VersionedTable.parseFileStats(
      VersionedTable.renderFileStats(fsSt))
    assert(back === fsSt, "rgs must survive JSON (and so the checkpoint)")
  }

  test("unsupported stat encodings are omitted, never guessed") {
    val root = freshRoot()
    withSmallRowGroups {
      // decimal column: parquet stats exist but the manifest's string
      // domain has no exact lowering — the column must be ABSENT from
      // the row-group maps (kept), while long/string columns populate
      VersionedTable.commit(
        (0 until 4000).toDF("id")
          .withColumn("d", (col("id") * 1.5).cast("decimal(10,2)"))
          .withColumn("s", sha2(col("id").cast("string"), 256))
          .orderBy("id").coalesce(1),
        root, statsColumns = Seq("*"), rowGroupStats = true)
    }
    val m = VersionedTable.manifest(spark, root, 0L)
    val fsSt = m.stats(m.files.head)
    assert(fsSt.rgs.nonEmpty)
    assert(fsSt.rgs.forall(!_.cols.contains("d")),
      "decimal stats must be omitted from row-group maps")
    assert(fsSt.rgs.forall(rg => rg.cols.contains("id") &&
      rg.cols.contains("s")))
    // answers stay exact regardless
    assert(VersionedTable.readWhere(spark, root,
      col("s") < "1").count() ===
      VersionedTable.read(spark, root).filter(col("s") < "1").count())
  }
}
