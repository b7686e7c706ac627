package graft

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.operators.Sampling
import graft.streaming.ReservoirStream

/** The streamed reservoir must equal the one-pass batch weighted
  * sample over everything ever streamed — not approximately: the
  * Efraimidis–Spirakis keys are pure functions of (seed, id, weight),
  * so "k best per source" is a semilattice and the merge is exact.
  */
class ReservoirStreamSpec extends SparkSpec {
  import spark.implicits._

  private def docs = spark.read
    .parquet("/root/testdata/sf0.001/documents.parquet")
    .select(col("source"), col("doc_id").as("id"),
      col("n_chars").cast("double").as("weight"))

  private def asSet(df: org.apache.spark.sql.DataFrame): Set[(String, Long, Long)] =
    df.select("source", "id", "sample_rank")
      .as[(String, Long, Long)].collect().toSet

  private def batchSample(cfg: ReservoirStream.Config) =
    Sampling.weightedSampleGrouped(
      docs, "source", "id", "weight", cfg.k, cfg.seed)

  test("merged per-batch candidates equal the one-pass batch sample, ranks included") {
    val dir = Files.createTempDirectory("resstate").toString
    val cfg = ReservoirStream.Config(k = 25, seed = 11L)
    (0L until 4L).foreach { b =>
      ReservoirStream.mergeBatch(
        docs.filter(col("id") % 4 === b), "source", "id", "weight",
        dir, cfg, b)
    }
    val streamed = asSet(ReservoirStream.sample(spark, dir, cfg))
    val oneShot = asSet(batchSample(cfg))
    assert(streamed.nonEmpty)
    assert(streamed == oneShot)
  }

  test("replaying a batch id leaves the reservoir unchanged") {
    val dir = Files.createTempDirectory("resstate").toString
    val cfg = ReservoirStream.Config(k = 10, seed = 11L)
    val half = docs.filter(col("id") % 2 === 0)
    ReservoirStream.mergeBatch(half, "source", "id", "weight", dir, cfg, 0L)
    val before = asSet(ReservoirStream.sample(spark, dir, cfg))
    ReservoirStream.mergeBatch(half, "source", "id", "weight", dir, cfg, 0L)
    val after = asSet(ReservoirStream.sample(spark, dir, cfg))
    assert(before == after && before.nonEmpty)
  }

  test("an intra-batch duplicate occupies one slot, not two") {
    // an at-least-once source delivering (s, id) twice WITHIN a batch
    // must not let the duplicate's identical key take two of the k
    // slots and permanently evict the k-th distinct candidate
    val dir = Files.createTempDirectory("resstate").toString
    val cfg = ReservoirStream.Config(k = 3, seed = 9L)
    val rows = ((0L until 6L).map(i => ("s", i, 1.0)) ++ Seq(("s", 0L, 1.0)))
      .toDF("source", "id", "weight")
    ReservoirStream.mergeBatch(rows, "source", "id", "weight", dir, cfg, 0L)
    val out = ReservoirStream.sample(spark, dir, cfg)
    assert(out.count() == 3)
    assert(asSet(out) == asSet(Sampling.weightedSampleGrouped(
      rows.dropDuplicates("source", "id"),
      "source", "id", "weight", cfg.k, cfg.seed)))
  }

  test("overlapping batches (same doc twice) cannot double-sample it") {
    val dir = Files.createTempDirectory("resstate").toString
    val cfg = ReservoirStream.Config(k = 5, seed = 3L)
    val rows = (0L until 20L).map(i => ("s", i, 10.0)).toDF("source", "id", "weight")
    ReservoirStream.mergeBatch(rows, "source", "id", "weight", dir, cfg, 0L)
    // batch 1 re-delivers half of batch 0's rows (at-least-once input)
    ReservoirStream.mergeBatch(
      rows.filter(col("id") < 10), "source", "id", "weight", dir, cfg, 1L)
    val out = ReservoirStream.sample(spark, dir, cfg)
    assert(out.count() == 5)
    assert(out.select("id").distinct().count() == 5, "no id may appear twice")
    assert(asSet(out) == asSet(Sampling.weightedSampleGrouped(
      rows, "source", "id", "weight", cfg.k, cfg.seed)))
  }

  test("compact keeps the reservoir identical and future batches keep competing") {
    val dir = Files.createTempDirectory("resstate").toString
    val cfg = ReservoirStream.Config(k = 25, seed = 11L)
    (0L until 3L).foreach { b =>
      ReservoirStream.mergeBatch(
        docs.filter(col("id") % 4 === b), "source", "id", "weight", dir, cfg, b)
    }
    val before = asSet(ReservoirStream.sample(spark, dir, cfg))
    ReservoirStream.compact(spark, dir, cfg)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // batches 0-1 fold into 1; the newest batch keeps its own directory
    assert(fs.listStatus(new org.apache.hadoop.fs.Path(dir)).map(_.getPath.getName)
      .filter(_.startsWith("batch_id=")).sorted.toSeq == Seq("batch_id=1", "batch_id=2"))
    assert(asSet(ReservoirStream.sample(spark, dir, cfg)) == before)
    // top-k(top-k(A) ∪ B) == top-k(A ∪ B): the final batch after
    // compaction converges to the full batch sample
    ReservoirStream.mergeBatch(
      docs.filter(col("id") % 4 === 3), "source", "id", "weight", dir, cfg, 3L)
    assert(asSet(ReservoirStream.sample(spark, dir, cfg)) == asSet(batchSample(cfg)))
  }

  test("empty state yields an empty frame; empty batches write nothing") {
    val dir = Files.createTempDirectory("resstate").toString
    val cfg = ReservoirStream.Config()
    assert(ReservoirStream.sample(spark, dir, cfg).isEmpty)
    ReservoirStream.mergeBatch(
      Seq.empty[(String, Long, Double)].toDF("source", "id", "weight"),
      "source", "id", "weight", dir, cfg, 0L)
    assert(ReservoirStream.sample(spark, dir, cfg).isEmpty)
  }

  test("a real stream converges to the batch sample") {
    val dir = Files.createTempDirectory("resstate").toString
    val ckpt = Files.createTempDirectory("resckpt").toString
    val cfg = ReservoirStream.Config(k = 25, seed = 11L)
    implicit val sql = spark.sqlContext
    val mem = MemoryStream[(String, Long, Double)]
    val q = ReservoirStream.start(
      mem.toDF().toDF("source", "id", "weight"),
      "source", "id", "weight", dir, ckpt, cfg)
    try {
      val rows = docs.as[(String, Long, Double)].collect()
      val (a, b) = rows.splitAt(rows.length / 2)
      mem.addData(a.toIndexedSeq)
      q.processAllAvailable()
      mem.addData(b.toIndexedSeq)
      q.processAllAvailable()
    } finally q.stop()
    assert(asSet(ReservoirStream.sample(spark, dir, cfg)) == asSet(batchSample(cfg)))
  }
}
