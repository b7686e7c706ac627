package graft

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.operators.IvfIndex
import graft.streaming.IvfStream

/** The streamed IVF index must search identically to the batch index
  * built over everything ever streamed: assignment is a pure function
  * of (model, vector), so the union of per-batch assignments IS the
  * batch assignment.
  */
class IvfStreamSpec extends SparkSpec {
  import spark.implicits._

  private def emb = spark.read
    .parquet("/root/testdata/sf0.001/embeddings.parquet")

  private lazy val model =
    IvfIndex.train(emb, "vec_id", "embedding", k = 8, iters = 2)

  private def queries = emb.filter(col("vec_id") < 5)

  private def results(df: org.apache.spark.sql.DataFrame) =
    df.select("query_id", "neighbor_id", "cos_sim", "rank")
      .as[(Long, Long, Double, Int)].collect().toSet

  test("streamed assignments search identically to the batch index") {
    val dir = Files.createTempDirectory("ivfstate").toString
    (0L until 3L).foreach { b =>
      IvfStream.mergeBatch(
        emb.filter(col("vec_id") % 3 === b), "vec_id", "embedding",
        model, dir, b)
    }
    val streamed = results(IvfStream.search(
      queries, spark, dir, "vec_id", "embedding", model,
      kNeighbors = 5, nprobe = 3))
    val batch = results(IvfIndex.search(
      queries, emb, "vec_id", "embedding", model,
      kNeighbors = 5, nprobe = 3))
    assert(streamed.nonEmpty)
    assert(streamed == batch)
  }

  test("replay and redelivery cannot change the index") {
    val dir = Files.createTempDirectory("ivfstate").toString
    val half = emb.filter(col("vec_id") % 2 === 0)
    IvfStream.mergeBatch(half, "vec_id", "embedding", model, dir, 0L)
    val before = IvfStream.index(spark, dir).count()
    // replayed batch id AND an overlapping later batch
    IvfStream.mergeBatch(half, "vec_id", "embedding", model, dir, 0L)
    IvfStream.mergeBatch(
      half.filter(col("vec_id") < 100), "vec_id", "embedding", model, dir, 1L)
    val idx = IvfStream.index(spark, dir)
    assert(idx.count() == before, "dedup on id must absorb redelivery")
    assert(idx.select("id").distinct().count() == before)
  }

  test("a re-embedded id resolves to the LATEST batch's assignment") {
    val dir = Files.createTempDirectory("ivfstate").toString
    val v1 = emb.filter(col("vec_id") < 50)
    // batch 1 re-embeds id 7 with a different vector (another row's
    // embedding) — its assignment may move cells; the later batch wins
    val v2 = emb.filter(col("vec_id") === 300)
      .withColumn("vec_id", lit(7L))
    IvfStream.mergeBatch(v1, "vec_id", "embedding", model, dir, 0L)
    IvfStream.mergeBatch(v2, "vec_id", "embedding", model, dir, 1L)
    val idx = IvfStream.index(spark, dir)
    assert(idx.filter(col("id") === 7L).count() == 1)
    val expected = graft.operators.IvfIndex
      .assign(v2, "vec_id", "embedding", model)
      .select("cell").head().getInt(0)
    assert(idx.filter(col("id") === 7L).select("cell").head().getInt(0)
      == expected, "the later batch's assignment must win")
  }

  test("compact folds all but the newest batch with identical search results") {
    val dir = Files.createTempDirectory("ivfstate").toString
    (0L until 3L).foreach { b =>
      IvfStream.mergeBatch(
        emb.filter(col("vec_id") % 3 === b), "vec_id", "embedding",
        model, dir, b)
    }
    val before = results(IvfStream.search(
      queries, spark, dir, "vec_id", "embedding", model,
      kNeighbors = 5, nprobe = 3))
    IvfStream.compact(spark, dir)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dirs = fs.listStatus(new org.apache.hadoop.fs.Path(dir))
      .map(_.getPath.getName).filter(_.startsWith("batch_id=")).sorted.toSeq
    // batches 0-1 fold into 1; the newest batch keeps its own directory
    assert(dirs == Seq("batch_id=1", "batch_id=2"))
    val after = results(IvfStream.search(
      queries, spark, dir, "vec_id", "embedding", model,
      kNeighbors = 5, nprobe = 3))
    assert(after == before)
    // a post-compaction batch still wins over compacted state
    IvfStream.mergeBatch(
      emb.filter(col("vec_id") === 300).withColumn("vec_id", lit(7L)),
      "vec_id", "embedding", model, dir, 9L)
    assert(IvfStream.index(spark, dir).filter(col("id") === 7L).count() == 1)
  }

  test("empty state yields an empty index; empty batches write nothing") {
    val dir = Files.createTempDirectory("ivfstate").toString
    assert(IvfStream.index(spark, dir).isEmpty)
    IvfStream.mergeBatch(
      Seq.empty[(Long, Seq[Float])].toDF("vec_id", "embedding"),
      "vec_id", "embedding", model, dir, 0L)
    assert(IvfStream.index(spark, dir).isEmpty)
  }

  test("a real embedding stream converges to the batch search") {
    val dir = Files.createTempDirectory("ivfstate").toString
    val ckpt = Files.createTempDirectory("ivfckpt").toString
    implicit val sql = spark.sqlContext
    val mem = MemoryStream[(Long, Seq[Float])]
    val q = IvfStream.start(
      mem.toDF().toDF("vec_id", "embedding"),
      "vec_id", "embedding", model, dir, ckpt)
    try {
      val rows = emb.select("vec_id", "embedding")
        .as[(Long, Seq[Float])].collect()
      val (a, b) = rows.splitAt(rows.length / 2)
      mem.addData(a.toIndexedSeq)
      q.processAllAvailable()
      mem.addData(b.toIndexedSeq)
      q.processAllAvailable()
    } finally q.stop()
    val streamed = results(IvfStream.search(
      queries, spark, dir, "vec_id", "embedding", model,
      kNeighbors = 5, nprobe = 3))
    val batch = results(IvfIndex.search(
      queries, emb, "vec_id", "embedding", model,
      kNeighbors = 5, nprobe = 3))
    assert(streamed == batch)
  }
}
