package graft

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.operators.ThetaSketch
import graft.streaming.KmvStream

class KmvStreamSpec extends SparkSpec {
  import spark.implicits._

  private def docs = spark.read
    .parquet("/root/testdata/sf0.001/documents.parquet")
    .select("doc_id", "source", "text")

  private def asMap(df: org.apache.spark.sql.DataFrame): Map[String, Seq[Long]] =
    df.as[(String, Seq[Long])].collect().toMap

  test("merged batch sketches equal the one-pass batch sketch exactly") {
    val dir = Files.createTempDirectory("kmvstate").toString
    val cfg = KmvStream.Config(n = 8, k = 64)
    val d = docs.cache()
    try {
      (0L until 3L).foreach { b =>
        KmvStream.mergeBatch(
          d.filter(col("doc_id") % 3 === b), "source", "text", dir, cfg, b)
      }
      val streamed = asMap(KmvStream.merged(spark, dir, cfg))
      val oneShot = asMap(
        ThetaSketch.sourceSketches(d, "source", "text", cfg.n, cfg.k))
      assert(streamed.nonEmpty)
      assert(streamed == oneShot)
    } finally d.unpersist()
  }

  test("replaying a batch id leaves state unchanged (idempotent twice over)") {
    val dir = Files.createTempDirectory("kmvstate").toString
    val cfg = KmvStream.Config(n = 1, k = 8)
    val batch = Seq((1L, "s1", "alpha beta"), (2L, "s2", "beta gamma"))
      .toDF("doc_id", "source", "text")
    KmvStream.mergeBatch(batch, "source", "text", dir, cfg, 0L)
    val before = asMap(KmvStream.merged(spark, dir, cfg))
    KmvStream.mergeBatch(batch, "source", "text", dir, cfg, 0L) // replay
    val after = asMap(KmvStream.merged(spark, dir, cfg))
    assert(before == after && before.nonEmpty)
  }

  test("compact collapses the store losslessly and future batches keep merging") {
    val dir = Files.createTempDirectory("kmvstate").toString
    val cfg = KmvStream.Config(n = 8, k = 64)
    val d = docs.cache()
    try {
      (0L until 2L).foreach { b =>
        KmvStream.mergeBatch(
          d.filter(col("doc_id") % 3 === b), "source", "text", dir, cfg, b)
      }
      val before = asMap(KmvStream.merged(spark, dir, cfg))
      KmvStream.compact(spark, dir, cfg)
      val fs = new org.apache.hadoop.fs.Path(dir)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      // batch 0 is the fold; the newest batch keeps its own directory
      assert(fs.listStatus(new org.apache.hadoop.fs.Path(dir)).map(_.getPath.getName)
        .filter(_.startsWith("batch_id=")).sorted.toSeq == Seq("batch_id=0", "batch_id=1"))
      assert(asMap(KmvStream.merged(spark, dir, cfg)) == before)
      // a batch streamed after compaction merges into the same state
      // as if no compaction had happened
      KmvStream.mergeBatch(
        d.filter(col("doc_id") % 3 === 2), "source", "text", dir, cfg, 2L)
      val oneShot = asMap(
        ThetaSketch.sourceSketches(d, "source", "text", cfg.n, cfg.k))
      assert(asMap(KmvStream.merged(spark, dir, cfg)) == oneShot)
    } finally d.unpersist()
  }

  test("empty state yields empty frames, empty batches write nothing") {
    val dir = Files.createTempDirectory("kmvstate").toString
    val cfg = KmvStream.Config()
    assert(KmvStream.merged(spark, dir, cfg).isEmpty)
    assert(KmvStream.overlapMatrix(spark, dir, cfg).isEmpty)
    KmvStream.mergeBatch(
      Seq.empty[(Long, String, String)].toDF("doc_id", "source", "text"),
      "source", "text", dir, cfg, 0L)
    assert(KmvStream.merged(spark, dir, cfg).isEmpty)
  }

  test("a real stream converges to the batch overlap matrix") {
    val dir = Files.createTempDirectory("kmvstate").toString
    val ckpt = Files.createTempDirectory("kmvckpt").toString
    val cfg = KmvStream.Config(n = 8, k = 64)
    implicit val sql = spark.sqlContext
    val mem = MemoryStream[(Long, String, String)]
    val q = KmvStream.start(
      mem.toDF().toDF("doc_id", "source", "text"),
      "source", "text", dir, ckpt, cfg)
    try {
      val rows = docs.as[(Long, String, String)].collect()
      val (a, b) = rows.splitAt(rows.length / 2)
      mem.addData(a.toIndexedSeq)
      q.processAllAvailable()
      mem.addData(b.toIndexedSeq)
      q.processAllAvailable()
    } finally q.stop()
    val streamed = KmvStream.overlapMatrix(spark, dir, cfg)
      .as[(String, String, Double, Double, Double)].collect().toSet
    val batch = ThetaSketch.overlapMatrix(docs, "source", "text", cfg.n, cfg.k)
      .as[(String, String, Double, Double, Double)].collect().toSet
    assert(streamed.nonEmpty)
    assert(streamed == batch)
  }
}
