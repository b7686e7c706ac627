package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

import graft.sources.VersionedTable
import graft.streaming.ChangeFeedStream

/** CHECK constraints (the Delta constraints role): write-time row
  * gates recorded in the manifest, enforced inside every data-adding
  * stage job — one bad producer cannot poison a shared table, and a
  * refused write commits NOTHING.
  */
class VersionedTableConstraintSpec extends SparkSpec {
  import spark.implicits._

  private def freshRoot(): String =
    java.nio.file.Files.createTempDirectory("graft_vtc").toString

  test("a violating append fails loudly and commits nothing") {
    val root = freshRoot()
    VersionedTable.commit(Seq((1L, 10.0), (2L, 20.0)).toDF("id", "price"),
      root, statsColumns = Seq("*"))
    val v1 = VersionedTable.addConstraint(spark, root, "price_pos",
      "price > 0")
    assert(VersionedTable.constraintsOf(spark, root)
      === Map("price_pos" -> "price > 0"))
    val e = intercept[VersionedTable.ConstraintViolationException] {
      VersionedTable.commit(Seq((3L, -5.0)).toDF("id", "price"), root)
    }
    assert(e.getMessage.contains("price_pos") &&
      e.getMessage.contains("-5"), e.getMessage)
    // nothing committed, no stage debris
    assert(VersionedTable.latestVersion(spark, root) === Some(v1))
    val f = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dataDirs = f.listStatus(new Path(root, "data")).length
    VersionedTable.vacuum(spark, root, keepVersions = 10)
    assert(f.listStatus(new Path(root, "data")).length === dataDirs,
      "violating stage left debris vacuum had to clean")
    // a clean append still lands
    VersionedTable.commit(Seq((3L, 5.0)).toDF("id", "price"), root)
    assert(VersionedTable.read(spark, root).count() === 3L)
  }

  test("the guard is never pushed below a join in the writer's plan") {
    val root = freshRoot()
    VersionedTable.commit(Seq((1L, 10.0)).toDF("id", "price"),
      root, statsColumns = Seq("*"))
    VersionedTable.addConstraint(spark, root, "price_pos", "price > 0")
    // the violating row (-5.0) is DROPPED by the join before the
    // write; a deterministic guard filter would be pushed to the
    // join's left side and raise on it anyway — the NonPushable
    // barrier pins the check to the rows actually written
    val left = Seq((2L, 20.0), (99L, -5.0)).toDF("id", "price")
    val right = Seq(Tuple1(2L)).toDF("id")
    VersionedTable.commit(left.join(right, "id"), root)
    assert(VersionedTable.read(spark, root).count() === 2L)
    // and a violating row that SURVIVES the join still refuses
    val badRight = Seq(Tuple1(99L)).toDF("id")
    intercept[VersionedTable.ConstraintViolationException] {
      VersionedTable.commit(left.join(badRight, "id"), root)
    }
    assert(VersionedTable.read(spark, root).count() === 2L)
  }

  test("SQL CHECK semantics: NULL passes; IS NOT NULL gates nulls") {
    val root = freshRoot()
    VersionedTable.commit(Seq((1L, Some(10.0))).toDF("id", "price"), root)
    VersionedTable.addConstraint(spark, root, "price_pos", "price > 0")
    // NULL price: predicate is UNKNOWN, not FALSE — passes (standard)
    VersionedTable.commit(
      Seq((2L, None: Option[Double])).toDF("id", "price"), root)
    assert(VersionedTable.read(spark, root).count() === 2L)
    // a NOT NULL gate is its own constraint — and row 2 already
    // violates it, so installing it now is refused
    intercept[VersionedTable.ConstraintViolationException] {
      VersionedTable.addConstraint(spark, root, "price_set",
        "price IS NOT NULL")
    }
  }

  test("adding a constraint existing data violates is refused") {
    val root = freshRoot()
    VersionedTable.commit(Seq((1L, 10.0), (2L, -1.0)).toDF("id", "price"),
      root, statsColumns = Seq("*"))
    val e = intercept[VersionedTable.ConstraintViolationException] {
      VersionedTable.addConstraint(spark, root, "price_pos", "price > 0")
    }
    assert(e.getMessage.contains("existing row"))
    assert(VersionedTable.constraintsOf(spark, root).isEmpty)
  }

  test("merge and replaceWhere enforce; drop releases; overwrite keeps") {
    val root = freshRoot()
    VersionedTable.commit(
      Seq((1L, 10.0), (2L, 20.0), (3L, 30.0)).toDF("id", "price"),
      root, statsColumns = Seq("*"))
    VersionedTable.addConstraint(spark, root, "price_pos", "price > 0")
    intercept[VersionedTable.ConstraintViolationException] {
      VersionedTable.merge(spark, root,
        Seq((2L, -9.0)).toDF("id", "price"), Seq("id"))
    }
    VersionedTable.merge(spark, root,
      Seq((2L, 25.0)).toDF("id", "price"), Seq("id"))
    intercept[VersionedTable.ConstraintViolationException] {
      VersionedTable.replaceWhere(spark, root,
        Seq((3L, -1.0)).toDF("id", "price"), col("id") === 3L)
    }
    // constraints are a TABLE property: overwrite keeps enforcing
    intercept[VersionedTable.ConstraintViolationException] {
      VersionedTable.commit(Seq((9L, -1.0)).toDF("id", "price"), root,
        overwrite = true)
    }
    VersionedTable.dropConstraint(spark, root, "price_pos")
    VersionedTable.commit(Seq((4L, -4.0)).toDF("id", "price"), root)
    val got = VersionedTable.read(spark, root)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    assert(got === Map(1L -> 10.0, 2L -> 25.0, 3L -> 30.0, 4L -> -4.0))
  }

  test("a replaceWhere pinned before addConstraint conflicts; nothing commits") {
    val root = freshRoot()
    VersionedTable.commit(Seq((1L, 10.0), (2L, 20.0)).toDF("id", "price"),
      root, statsColumns = Seq("*"))
    val v1 = VersionedTable.addConstraint(spark, root, "price_pos",
      "price > 0")
    // the replacement was checked against v0's (empty) constraint set
    intercept[VersionedTable.CompactionConflictException] {
      VersionedTable.replaceWhere(spark, root,
        Seq((2L, -1.0)).toDF("id", "price"), col("id") === 2L,
        pinVersion = Some(0L))
    }
    assert(VersionedTable.latestVersion(spark, root) === Some(v1))
    assert(VersionedTable.read(spark, root).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toMap
      === Map(1L -> 10.0, 2L -> 20.0))
  }

  test("a constraint commit is data-identical to the change feed") {
    val src = freshRoot()
    val dst = freshRoot()
    VersionedTable.commit(Seq((1L, "a")).toDF("id", "s").coalesce(1), src,
      statsColumns = Seq("*"))
    ChangeFeedStream.sync(spark, src, dst, Seq("id"), "f")
    VersionedTable.addConstraint(spark, src, "id_pos", "id > 0")
    assert(VersionedTable.changes(spark, src, -1L,
      VersionedTable.latestVersion(spark, src).get).count() === 1L)
    assert(ChangeFeedStream.sync(spark, src, dst, Seq("id"), "f") === 1)
    assert(ChangeFeedStream.lastConsumed(spark, dst, "f")
      === VersionedTable.latestVersion(spark, src).get)
  }

  test("constraints survive the manifest round-trip and time travel") {
    val root = freshRoot()
    VersionedTable.commit(Seq((1L, 1.0)).toDF("id", "price"), root)
    val v = VersionedTable.addConstraint(spark, root, "p1", "price > 0")
    VersionedTable.commit(Seq((2L, 2.0)).toDF("id", "price"), root)
    assert(VersionedTable.manifest(spark, root, v).constraints
      === Map("p1" -> "price > 0"))
    assert(VersionedTable.manifest(spark, root, v + 1).constraints
      === Map("p1" -> "price > 0"))
    // pre-constraint history reads clean
    assert(VersionedTable.manifest(spark, root, v - 1).constraints.isEmpty)
  }
}
