package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame

import graft.operators.CorpusGrowth
import graft.streaming.NoveltyStream

/** Streamed novelty must EXACTLY equal the batch operator over the
  * union of delivered batches, restricted to each batch's documents —
  * the parity precondition is nondecreasing doc ids across batches
  * (crawl order), which every fixture here respects.
  */
class NoveltyStreamSpec extends SparkSpec {
  import spark.implicits._

  // 3-token docs built from a tiny rotating vocabulary so batches
  // genuinely share grams (stale tail) and add fresh ones
  private def slice(lo: Long, n: Int): DataFrame =
    (lo until lo + n).map { i =>
      (i, s"w${i % 7} w${(i / 2) % 5} w${(i / 3) % 4} w${i % 11}")
    }.toDF("doc_id", "text")

  private def canon(df: DataFrame): Seq[String] =
    df.select("doc_id", "n_ngrams", "n_novel", "novelty")
      .collect().map(_.toString).sorted.toSeq

  private def batchTruth(all: DataFrame, batch: DataFrame): Seq[String] = {
    val ids = batch.select("doc_id").as[Long].collect().toSet
    canon(CorpusGrowth.ngramNovelty(all, "doc_id", "text")
      .filter($"doc_id".isInCollection(ids)))
  }

  private def dirs(): (String, String) = {
    val d = Files.createTempDirectory("novstream").toString
    (s"$d/store", s"$d/reports")
  }

  test("per-batch report equals the batch operator on the union so far") {
    val (store, reports) = dirs()
    val batches = Seq(slice(0, 20), slice(20, 15), slice(35, 25))
    batches.zipWithIndex.foreach { case (b, i) =>
      NoveltyStream.noveltyBatch(b, "doc_id", "text", store, reports,
        NoveltyStream.Config(), i.toLong)
      val got = canon(spark.read.parquet(s"$reports/batch_id=$i"))
      val want = batchTruth(batches.take(i + 1).reduce(_ unionAll _), b)
      assert(got === want, s"batch $i")
    }
  }

  test("replaying the newest batch is idempotent (report and store)") {
    val (store, reports) = dirs()
    val batches = Seq(slice(0, 20), slice(20, 15))
    batches.zipWithIndex.foreach { case (b, i) =>
      NoveltyStream.noveltyBatch(b, "doc_id", "text", store, reports,
        NoveltyStream.Config(), i.toLong)
    }
    val report1 = canon(spark.read.parquet(s"$reports/batch_id=1"))
    val seen1 = NoveltyStream.seenHashes(spark, store).as[Long].collect().sorted.toSeq
    NoveltyStream.noveltyBatch(batches(1), "doc_id", "text", store, reports,
      NoveltyStream.Config(), 1L)
    assert(canon(spark.read.parquet(s"$reports/batch_id=1")) === report1)
    assert(NoveltyStream.seenHashes(spark, store)
      .as[Long].collect().sorted.toSeq === seen1)
  }

  test("compaction is lossless and later batches keep scoring correctly") {
    val (store, reports) = dirs()
    val batches = Seq(slice(0, 20), slice(20, 15), slice(35, 25))
    NoveltyStream.noveltyBatch(batches(0), "doc_id", "text", store, reports,
      NoveltyStream.Config(), 0L)
    NoveltyStream.noveltyBatch(batches(1), "doc_id", "text", store, reports,
      NoveltyStream.Config(), 1L)
    val seenBefore = NoveltyStream.seenHashes(spark, store)
      .as[Long].collect().sorted.toSeq
    NoveltyStream.compact(spark, store)
    assert(NoveltyStream.seenHashes(spark, store)
      .as[Long].collect().sorted.toSeq === seenBefore)
    NoveltyStream.noveltyBatch(batches(2), "doc_id", "text", store, reports,
      NoveltyStream.Config(), 2L)
    assert(canon(spark.read.parquet(s"$reports/batch_id=2")) ===
      batchTruth(batches.reduce(_ unionAll _), batches(2)))
  }

  test("store partitions are disjoint: each hash lives in ONE batch") {
    val (store, reports) = dirs()
    Seq(slice(0, 20), slice(20, 15)).zipWithIndex.foreach { case (b, i) =>
      NoveltyStream.noveltyBatch(b, "doc_id", "text", store, reports,
        NoveltyStream.Config(), i.toLong)
    }
    val all = graft.streaming.MergeStore(store, graft.streaming.MergeStore.OutputLog).read(spark).get
      .select("h").as[Long].collect().toSeq
    assert(all.length === all.distinct.length,
      "a gram hash stored twice doubles the store for nothing")
  }

  test("a real micro-batch stream matches the batch operator") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val (store, reports) = dirs()
    val ckpt = Files.createTempDirectory("novckpt").toString
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val src = mem.toDF().toDF("doc_id", "text")
    val q = NoveltyStream.start(src, "doc_id", "text", store, reports, ckpt)
    val b0 = slice(0, 12); val b1 = slice(12, 9)
    try {
      mem.addData(b0.as[(Long, String)].collect().toIndexedSeq)
      q.processAllAvailable()
      mem.addData(b1.as[(Long, String)].collect().toIndexedSeq)
      q.processAllAvailable()
    } finally q.stop()
    val rep = NoveltyStream.reports(spark, reports).get
    assert(canon(rep.filter($"batch_id" === 1)) ===
      batchTruth(b0 unionAll b1, b1))
  }
}
