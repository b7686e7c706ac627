package graft

import java.nio.file.Files

import org.apache.hadoop.fs.Path

import graft.sources.AtomicDir
import graft.streaming.MergeStore
import graft.streaming.MergeStore._

/** Crash-window repair and compaction for the per-batch state stores,
  * run over every [[MergeStore]] algebra: every read and write entry
  * point must repair an interrupted compaction BEFORE touching the
  * store, or state silently vanishes (a decontamination store reporting
  * a clean corpus over orphaned hashes).
  *
  * Every store here holds `(k, v)` rows; each algebra comes with a
  * plain-Scala model of its merge over the union of the stored rows.
  */
class MergeStoreSpec extends SparkSpec {
  import spark.implicits._

  private type Rows = Seq[(Long, Long)]

  private case class Case(name: String, algebra: Algebra, model: Rows => Set[(Long, Long)])

  private val cases = Seq(
    Case("sum", Sum("v"),
      _.groupBy(_._1).map { case (k, rs) => (k, rs.map(_._2).sum) }.toSet),
    Case("semilattice", Semilattice(_.select("k", "v").distinct()), _.toSet),
    Case("first-seen", FirstSeen(identity), _.toSet),
    Case("latest-wins", LatestWins(Seq("k"), Seq("v")),
      _.groupBy(_._1).map { case (k, rs) => (k, rs.map(_._2).max) }.toSet),
    Case("output log", OutputLog, _.toSet))

  private def fs = new Path("/").getFileSystem(
    spark.sparkContext.hadoopConfiguration)

  private def newStore(c: Case): MergeStore =
    MergeStore(Files.createTempDirectory("mstore").toString + "/store", c.algebra)

  /** A batch directory written behind the store's back (as a crashed
    * compaction leaves it).
    */
  private def writeRaw(dir: Path, id: Long, rows: Rows): Unit =
    rows.toDF("k", "v").write.mode("overwrite").parquet(new Path(dir, s"batch_id=$id").toString)

  private def merged(st: MergeStore): Set[(Long, Long)] =
    st.merged(spark).map(_.select("k", "v").as[(Long, Long)].collect().toSet)
      .getOrElse(Set.empty)

  private def batchDirs(st: MergeStore): Seq[String] =
    fs.listStatus(new Path(st.dir)).map(_.getPath.getName)
      .filter(_.startsWith("batch_id=")).toSeq.sorted

  private def forEachAlgebra(body: Case => Unit): Unit =
    cases.foreach(c => withClue(s"[${c.name}] ")(body(c)))

  private val b0: Rows = Seq((1L, 1L), (2L, 2L))
  private val b1: Rows = Seq((1L, 5L), (3L, 3L))
  private val b2: Rows = Seq((2L, 7L), (4L, 4L))

  test("read repairs a store displaced by an interrupted compaction") {
    forEachAlgebra { c =>
      val st = newStore(c)
      st.write(b0.toDF("k", "v"), 0L)
      // simulate a crash between dest->old and tmp->dest: the whole
      // store sits under .__old__, dest is gone
      val dest = new Path(st.dir)
      assert(fs.rename(dest, AtomicDir.oldPath(dest)))
      assert(!fs.exists(dest))
      assert(merged(st) == c.model(b0)) // read recovered it
      assert(st.newest(spark).contains(0L))
      assert(!fs.exists(AtomicDir.oldPath(dest))) // leftover cleaned
    }
  }

  test("write repairs before it can recreate the store, in both crash windows") {
    forEachAlgebra { c =>
      // window 1: dest renamed to .__old__, tmp not yet renamed in. The
      // next micro-batch's write must restore the old state first, not
      // orphan it beside a fresh one-batch store
      val st = newStore(c)
      st.write(b0.toDF("k", "v"), 0L)
      val dest = new Path(st.dir)
      assert(fs.rename(dest, AtomicDir.oldPath(dest)))
      st.write(b1.toDF("k", "v"), 1L)
      assert(merged(st) == c.model(b0 ++ b1))
      assert(st.newest(spark).contains(1L))

      // window 2: the compacted store (keep id 5) is in place, but the
      // re-attach and cleanup never ran. .__old__ still holds batch 3
      // (already folded into 5) and a LATE batch 6 a live stream wrote
      // mid-compaction; the next write must re-attach 6 and drop 3
      val st2 = newStore(c)
      val dest2 = new Path(st2.dir)
      val old2 = AtomicDir.oldPath(dest2)
      writeRaw(dest2, 5L, b0)
      writeRaw(old2, 3L, Seq((9L, 9L)))
      writeRaw(old2, 6L, b1)
      st2.write(b2.toDF("k", "v"), 7L)
      assert(!fs.exists(old2))
      assert(batchDirs(st2) == Seq("batch_id=5", "batch_id=6", "batch_id=7"))
      assert(merged(st2) == c.model(b0 ++ b1 ++ b2))
    }
  }

  test("recover re-attaches batches streamed during a compaction") {
    forEachAlgebra { c =>
      val st = newStore(c)
      // post-swap dest: the compacted batch (keepBatchId = 5)
      val dest = new Path(st.dir)
      writeRaw(dest, 5L, b0)
      // crash before cleanup: .__old__ still holds the pre-compaction
      // batches (3 — already folded into 5) and a LATE batch 6 a live
      // stream wrote mid-compaction
      val old = AtomicDir.oldPath(dest)
      writeRaw(old, 3L, Seq((9L, 9L)))
      writeRaw(old, 6L, b1)
      assert(merged(st) == c.model(b0 ++ b1)) // 6 re-attached, 3 dropped
      assert(st.newest(spark).contains(6L))
      assert(!fs.exists(old))
    }
  }

  test("compaction is chosen by the algebra and preserves the merged state") {
    forEachAlgebra { c =>
      val st = newStore(c)
      Seq(b0, b1, b2).zipWithIndex.foreach { case (b, i) => st.write(b.toDF("k", "v"), i.toLong) }
      st.compact(spark)
      assert(merged(st) == c.model(b0 ++ b1 ++ b2))
      val want = c.algebra match {
        case OutputLog => Seq("batch_id=0", "batch_id=1", "batch_id=2")
        // the newest batch keeps its own directory
        case _ => Seq("batch_id=1", "batch_id=2")
      }
      assert(batchDirs(st) == want)
      assert(st.newest(spark).contains(2L))
    }
  }

  test("a replay of the newest batch after a compaction rewrites identical output") {
    // Every algebra keeps the newest batch apart exactly so that this
    // replay stays harmless.
    forEachAlgebra { c =>
      val st = newStore(c)
      Seq(b0, b1, b2).zipWithIndex.foreach { case (b, i) => st.write(b.toDF("k", "v"), i.toLong) }
      st.compact(spark)
      st.write(b2.toDF("k", "v"), 2L) // the crash-recovery redelivery
      // a sum that counted the replay beside a folded copy of it would
      // report k = 2 as 2 + 7 + 7 instead of 9; a fold keyed by the
      // newest id would lose b0 and b1 to the replay
      assert(merged(st) == c.model(b0 ++ b1 ++ b2))
      assert(st.batch(spark, 2L).as[(Long, Long)].collect().toSet == b2.toSet)
    }
  }
}
