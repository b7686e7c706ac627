package graft

/** One bench-protocol pass over the HEAVY query families at sf0.1 AND
  * at the [[SoakGen]]-generated 10× directory, committed as
  * `bench/sf1_families.json` — the scale regime where shuffle/skew
  * work actually shows (the r18 verdict's ask: the sf0.1 suite is
  * fixed-cost bound — 8 cores beat 32 — so a shuffle-shape regression
  * that only hurts at scale is invisible to the main bench).
  *
  * Protocol mirrors [[Bench]]: interleaved min-of-N passes per scale
  * with a calibration probe around every pass, noop-sink
  * materialization, blocking unpersist between queries. Both scales
  * run IN THE SAME SESSION back to back, so the per-query ratio is
  * self-calibrating the way [[Soak]]'s is.
  *
  * Families: table/VersionedTable write paths, streaming gates (driver
  * folds and live-engine), linear-shape similarity search, and the
  * iterative graph suite. The in-cell-kNN similarity builds
  * (nsw/hnsw/stored) are excluded for the same documented reason Soak
  * excludes them: their in-cell join is quadratic at FIXED cell count,
  * and the operator contract is cells ≈ √n — scaling the data 10×
  * without rescaling cells measures a shape the contract disclaims.
  *
  * Usage: `runMain graft.BenchFamilies` (SPARK_GRAFT_SOAK_SRC/_DIR/
  * _FACTOR as in Soak; SPARK_GRAFT_BENCH_RUNS passes, default 3).
  */
object BenchFamilies {

  val Families: Map[String, Seq[String]] = Map(
    "table" -> Seq(
      "q_table_partition", "q_table_sql_dml", "q_stream_table_cdc_apply",
      "q_table_merge", "q_table_compact", "q_table_skipping",
      "q_table_history", "q_table_delete", "q_table_dv"),
    "stream" -> Seq(
      "q_stream_corpus", "q_stream_scorecard", "q_stream_scd",
      "q_stream_dedup_incr", "q_stream_golden", "q_stream_cluster",
      "q_stream_novelty", "q_stream_transitions"),
    "live" -> Seq(
      "q_stream_live_scd", "q_stream_live_join", "q_stream_live_sessions"),
    "simsearch" -> Seq(
      "q_simsearch_ivf", "q_simsearch_pq", "q_simsearch_ivfpq",
      "q_simsearch_lsh", "q_simsearch_topk"),
    "graph" -> Seq(
      "q_graph_kcore", "q_graph_pagerank", "q_graph_triangles",
      "q_graph_walks"))

  def main(args: Array[String]): Unit = {
    val src = sys.env.getOrElse("SPARK_GRAFT_SOAK_SRC", "/root/testdata/sf0.1")
    val dst = sys.env.getOrElse("SPARK_GRAFT_SOAK_DIR", "/tmp/graft_sf1")
    val factor = sys.env.getOrElse("SPARK_GRAFT_SOAK_FACTOR", "10").toInt
    val runs = Bench.runsFromEnv
    val spark = Bench.buildSession()
    if (!java.nio.file.Files.isDirectory(
        java.nio.file.Paths.get(dst, "lineitem.parquet"))) {
      System.err.println(s"[families] generating $dst = $src x$factor ...")
      SoakGen.generate(spark, src, dst, factor)
    }
    val names = Families.toSeq.sortBy(_._1).flatMap(_._2)
    val only = Some(names.toSet)
    System.err.println(s"[families] sweeping ${names.size} queries at $src ...")
    val small = Bench.sweep(spark, src, runs, only)
    System.err.println(s"[families] sweeping ${names.size} queries at $dst ...")
    val big = Bench.sweep(spark, dst, runs, only)
    val s = small.results.toMap
    val b = big.results.toMap
    val body = Families.toSeq.sortBy(_._1).map { case (fam, qs) =>
      val rows = qs.map { q =>
        val (x, y) = (s.getOrElse(q, -1.0), b.getOrElse(q, -1.0))
        val ratio = if (x > 0 && y > 0) y / x else -1.0
        f""""$q":{"sf01_sec":$x%.3f,"sfx_sec":$y%.3f,"ratio":$ratio%.3f}"""
      }.mkString(",")
      s""""$fam":{$rows}"""
    }.mkString("{", ",", "}")
    val json =
      s"""{"factor":$factor,"runs":$runs,"cpus":"${Bench.cpus}","calibration_sf01":${small.calibration},""" +
        s""""calibration_sfx":${big.calibration},"families":$body,""" +
        s""""written_at":"${java.time.Instant.now()}"}\n"""
    val path = java.nio.file.Paths.get(
      sys.env.getOrElse("SPARK_GRAFT_BENCH_DIR", "bench"), "sf1_families.json")
    java.nio.file.Files.write(path,
      json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    System.err.println(s"[families] wrote $path")
    spark.stop()
    println(json)
  }
}
