package graft

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.operators.Decontaminate
import graft.streaming.DecontaminationStream

/** The streamed benchmark store must gate the corpus exactly like the
  * batch operator run against the union of every benchmark batch —
  * the shingle store is a distinct-set union (a semilattice), so
  * convergence is exact, not approximate.
  */
class DecontaminationStreamSpec extends SparkSpec {
  import spark.implicits._

  private def docs = spark.read
    .parquet("/root/testdata/sf0.001/documents.parquet")
    .select("doc_id", "text")

  // "benchmark releases": three disjoint slices of the fixture, so
  // real contamination exists by construction (the corpus contains
  // the benchmark text verbatim)
  private def benchSlice(m: Long) = docs.filter(col("doc_id") % 10 === m)

  private def asRows(df: org.apache.spark.sql.DataFrame) =
    df.select("doc_id", "n_shingles", "n_overlap", "overlap_ratio", "contaminated")
      .as[(Long, Long, Long, Double, Boolean)].collect().toSet

  test("streamed store gates identically to the batch union, release by release") {
    val dir = Files.createTempDirectory("deconstate").toString
    val cfg = DecontaminationStream.Config()
    // release 0 and 1 arrive
    DecontaminationStream.mergeBatch(
      benchSlice(0), "doc_id", "text", dir, cfg, 0L)
    DecontaminationStream.mergeBatch(
      benchSlice(1), "doc_id", "text", dir, cfg, 1L)
    val streamed = asRows(DecontaminationStream.overlapReport(
      docs, spark, dir, "doc_id", "text", cfg))
    val batch = asRows(Decontaminate.overlapReport(
      docs, benchSlice(0).union(benchSlice(1)), "doc_id", "text"))
    assert(streamed == batch)
    assert(streamed.exists(_._5), "planted benchmark docs must flag")
    // a later release extends the store and the gate tightens
    DecontaminationStream.mergeBatch(
      benchSlice(2), "doc_id", "text", dir, cfg, 2L)
    val streamed3 = asRows(DecontaminationStream.overlapReport(
      docs, spark, dir, "doc_id", "text", cfg))
    val batch3 = asRows(Decontaminate.overlapReport(
      docs, benchSlice(0).union(benchSlice(1)).union(benchSlice(2)),
      "doc_id", "text"))
    assert(streamed3 == batch3)
    assert(streamed3.count(_._5) > streamed.count(_._5),
      "a new release must only add contaminated docs")
  }

  test("replaying a batch id leaves the store unchanged") {
    val dir = Files.createTempDirectory("deconstate").toString
    val cfg = DecontaminationStream.Config()
    DecontaminationStream.mergeBatch(benchSlice(0), "doc_id", "text", dir, cfg, 0L)
    val before = DecontaminationStream.hashes(spark, dir)
      .as[Long].collect().toSet
    DecontaminationStream.mergeBatch(benchSlice(0), "doc_id", "text", dir, cfg, 0L)
    val after = DecontaminationStream.hashes(spark, dir)
      .as[Long].collect().toSet
    assert(before == after && before.nonEmpty)
  }

  test("compact collapses the store losslessly and future releases keep extending it") {
    val dir = Files.createTempDirectory("deconstate").toString
    val cfg = DecontaminationStream.Config()
    DecontaminationStream.mergeBatch(benchSlice(0), "doc_id", "text", dir, cfg, 0L)
    DecontaminationStream.mergeBatch(benchSlice(1), "doc_id", "text", dir, cfg, 1L)
    val before = DecontaminationStream.hashes(spark, dir).as[Long].collect().toSet
    DecontaminationStream.compact(spark, dir)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // batch 0 is the fold; the newest batch keeps its own directory
    assert(fs.listStatus(new org.apache.hadoop.fs.Path(dir)).map(_.getPath.getName)
      .filter(_.startsWith("batch_id=")).sorted.toSeq == Seq("batch_id=0", "batch_id=1"))
    assert(DecontaminationStream.hashes(spark, dir)
      .as[Long].collect().toSet == before)
    DecontaminationStream.mergeBatch(benchSlice(2), "doc_id", "text", dir, cfg, 2L)
    val expected = Decontaminate.benchmarkHashes(
      benchSlice(0).union(benchSlice(1)).union(benchSlice(2)), "doc_id", "text")
      .as[Long].collect().toSet
    assert(DecontaminationStream.hashes(spark, dir)
      .as[Long].collect().toSet == expected)
  }

  test("empty state flags nothing; empty batches write nothing") {
    val dir = Files.createTempDirectory("deconstate").toString
    val cfg = DecontaminationStream.Config()
    assert(DecontaminationStream.hashes(spark, dir).isEmpty)
    val report = DecontaminationStream.overlapReport(
      docs, spark, dir, "doc_id", "text", cfg)
    assert(report.filter(col("contaminated")).count() == 0)
    assert(report.count() == docs.count(), "every doc still reported")
    DecontaminationStream.mergeBatch(
      Seq.empty[(Long, String)].toDF("doc_id", "text"),
      "doc_id", "text", dir, cfg, 0L)
    assert(DecontaminationStream.hashes(spark, dir).isEmpty)
  }

  test("a real benchmark stream converges to the batch gate") {
    val dir = Files.createTempDirectory("deconstate").toString
    val ckpt = Files.createTempDirectory("deconckpt").toString
    val cfg = DecontaminationStream.Config()
    implicit val sql = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val q = DecontaminationStream.start(
      mem.toDF().toDF("doc_id", "text"), "doc_id", "text", dir, ckpt, cfg)
    try {
      mem.addData(benchSlice(0).as[(Long, String)].collect().toIndexedSeq)
      q.processAllAvailable()
      mem.addData(benchSlice(1).as[(Long, String)].collect().toIndexedSeq)
      q.processAllAvailable()
    } finally q.stop()
    val streamed = asRows(DecontaminationStream.overlapReport(
      docs, spark, dir, "doc_id", "text", cfg))
    val batch = asRows(Decontaminate.overlapReport(
      docs, benchSlice(0).union(benchSlice(1)), "doc_id", "text"))
    assert(streamed == batch)
  }
}
