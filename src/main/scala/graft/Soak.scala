package graft

import org.apache.spark.sql.SparkSession

/** The sf1 scale-soak: runs the most expensive queries at sf0.1 AND at
  * a [[SoakGen]]-generated 10× directory IN THE SAME SESSION, and
  * writes the measured ratio per query to `bench/soak_sf1.json`. The
  * committed artifact is what [[SoakGuardSpec]] gates on: a query
  * whose 10×-data time grows by much more than 10× has a superlinear
  * term the sf0.1 bench cannot see — exactly the failure the 100 TB
  * claims must exclude.
  *
  * Same-session pairing makes the ratio self-calibrating: external
  * load inflates both measurements, so the RATIO stays comparable
  * across machines in a way raw floors are not.
  *
  * Usage: `runMain graft.Soak` (SPARK_GRAFT_SOAK_SRC, _DIR, _FACTOR
  * override the defaults; the sf1 directory is generated on first run
  * and reused after — delete it to force regeneration).
  */
object Soak {

  /** The soak set: the most expensive CORRECTNESS_r10 queries (graph
    * suite, selection/dedup/profiling heavies) — the ones whose scale
    * behavior carries the 100 TB story.
    */
  val SoakQueries: Seq[String] = Seq(
    "q_graph_pagerank", "q_graph_walks", "q_graph_triangles",
    "q_graph_kcore", "q_mad_outliers", "q_cluster_representatives",
    "q_training_triplets", "q_dedup_recall", "q_source_overlap",
    "q_split_leakage_safe", "q_dedup_scrub", "q_lm_perplexity",
    "q_lm_perplexity_kn", "q_table_profile", "q_corpus_scorecard",
    // the heaviest stream-gate folds: the soak covers the streaming
    // machinery (stores, incremental merges), not just batch plans
    "q_stream_scd", "q_stream_cluster", "q_stream_scorecard",
    "q_basket_affinity",
    // the distinct-value percentile family: both ride a per-group
    // (or coarse-group) window over the distinct-value table, so the
    // soak measures the domain-bounded claim instead of assuming it
    "q_equidepth_histogram", "q_group_percentiles",
    // the blocked-join entity-resolution path: candidate volume is
    // Σ_blocks |L_b|·|R_b|, so the soak measures the blocking key's
    // selectivity claim — SoakGen recodes the blocking window into a
    // per-replica-disjoint key space (SoakGenSpec gates it), so
    // blocks stay EXACTLY base-sized as the corpus scales and none
    // ever trips maxBlock into a silently truncated join
    "q_record_linkage",
    // the full ER pipeline (blocked linkage -> CC entity labels ->
    // one-exchange survivorship): soaks the round-13 MDM path
    // end-to-end on top of the constant-block guarantee above
    "q_golden_record",
    // ER closure (pointer-jumping CC over the match pairs) and the
    // heaviest live-engine gate (transformWithState + RocksDB state
    // store through real file micro-batches) — the r13 additions the
    // r13 verdict asked to see committed 10x ratios for
    "q_entity_clusters", "q_stream_live_scd",
    // the r14 storage + crawl paths: the versioned commit (stage,
    // stats scan, zone-map-pruned read) and the raw-bytes frontier
    // (segment parse, link distinct, robots gate, per-host caps) must
    // both scale linearly in the corpus. q_bitext_mine is deliberately
    // NOT soaked: its LSH in-bucket candidate volume is quadratic at
    // FIXED numBits — the operator's contract is that bits grow
    // ~log2(corpus/bucket-target), which the oracle pins at fixture
    // scale (see mineBitext's scaladoc)
    "q_table_skipping", "q_crawl_frontier",
    // the r14/r15 raw-bytes and commit-log write paths: full WARC
    // ingest (streamed decode -> extract -> rollup), its exactly-once
    // live-engine twin, compaction's rewrite commit, and the takedown
    // delete (prune -> match-count -> rewrite -> CDC) — each must
    // scale linearly in the corpus
    "q_crawl_ingest", "q_stream_crawl_ingest", "q_table_compact",
    "q_table_delete",
    // the r15 table write paths: MERGE's prune -> touch -> rewrite
    // pipeline and the deletion-vector path (position scan, sidecar
    // write, anti-join read, compact purge) — the takedown/upsert
    // story at scale is these two staying linear
    "q_table_merge", "q_table_dv",
    // the r17 additions: the write-time CHECK gate (install scan +
    // two gated bulk writes + a refused append/merge pair), the
    // commit-log frame over a 7-commit mutation script, and the
    // sharded k-center reduction (per-shard Gonzalez is O(k·n_shard),
    // linear in the corpus at pinned shards) — each must stay linear.
    // q_simsearch_nsw is deliberately NOT soaked: its in-cell kNN
    // build is quadratic at FIXED cell count — the operator's
    // contract is cells ≈ √n, which the oracle pins at fixture scale
    // (see nswTopK's scaladoc), the same exclusion as q_bitext_mine
    "q_table_constraint", "q_table_history", "q_diverse_subset_batch")

  /** The second scale point (default 20×) for the iterative graph
    * pair: k-core peel depth can grow with the scaled graph's
    * degeneracy, so the 10× ratio alone does not answer the
    * next-decade question — but the ROUND BUDGET does bound total
    * work at maxRounds × one linear pass at ANY scale (kcore stops at
    * 8 peels whether converged or not, and "exactly R rounds" is part
    * of the query's engine-portable contract), so the measured 20×
    * ratio plus the cap is the scale argument. PageRank rides along
    * as the fixed-iteration control.
    */
  val Sf2Queries: Seq[String] = Seq("q_graph_kcore", "q_graph_pagerank")

  private def timed(spark: SparkSession, name: String, dir: String): Double = {
    val t0 = System.nanoTime()
    SparkEntry.queries(name)(spark, dir)
      .write.format("noop").mode("overwrite").save()
    val s = (System.nanoTime() - t0) / 1e9
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = false))
    s
  }

  def main(args: Array[String]): Unit = {
    val src = sys.env.getOrElse("SPARK_GRAFT_SOAK_SRC", "/root/testdata/sf0.1")
    val dst = sys.env.getOrElse("SPARK_GRAFT_SOAK_DIR", "/tmp/graft_sf1")
    val factor = sys.env.getOrElse("SPARK_GRAFT_SOAK_FACTOR", "10").toInt
    // rerun ONLY the sf2 graph pair (a fresh JVM for the most
    // heap-hungry measurement of the harness) without re-sweeping the
    // 35-query sf1 phase — the recovery path when the sf2 leg of a
    // combined run dies after sf1's artifact already landed
    if (sys.env.contains("SPARK_GRAFT_SOAK_ONLY_SF2")) { sf2Phase(src); return }
    val spark = Bench.buildSession()
    if (!java.nio.file.Files.isDirectory(
        java.nio.file.Paths.get(dst, "lineitem.parquet"))) {
      System.err.println(s"[soak] generating $dst = $src x$factor ...")
      SoakGen.generate(spark, src, dst, factor)
    }
    // warm the session (JIT, parquet footers, codegen) off the clock
    timed(spark, SoakQueries.head, src)
    // crawl-segment fixtures are harness artifacts generated once per
    // source dir (fingerprint-keyed): materialize BOTH scales off the
    // clock so the first timed crawl query measures the pipeline, not
    // fixture IO
    graft.queries.WebQueries.crawlSegments(spark, src)
    graft.queries.WebQueries.crawlSegments(spark, dst)
    val rows = SoakQueries.map { q =>
      val small = timed(spark, q, src)
      val big = timed(spark, q, dst)
      val ratio = if (small > 0) big / small else -1.0
      System.err.println(f"[soak] $q%-28s sf0.1 $small%7.2f s  x$factor $big%7.2f s  ratio ${ratio}%5.2f")
      (q, small, big, ratio)
    }
    val body = rows.map { case (q, s, b, r) =>
      f""""$q":{"sf01_sec":$s%.3f,"sfx_sec":$b%.3f,"ratio":$r%.3f}"""
    }.mkString("{", ",", "}")
    val json =
      s"""{"factor":$factor,"cpus":"${Bench.cpus}","queries":$body,"written_at":"${java.time.Instant.now()}"}\n"""
    val path = java.nio.file.Paths.get(
      sys.env.getOrElse("SPARK_GRAFT_BENCH_DIR", "bench"), "soak_sf1.json")
    java.nio.file.Files.write(path,
      json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    System.err.println(s"[soak] wrote $path")
    println(json)

    // ---- second scale point for the graph pair (see [[Sf2Queries]])
    //
    // Fresh session: the sf1 sweep above leaves block-manager and
    // broadcast debris from ~30 heavy queries in this JVM (RocksDB
    // state stores, checkpoint blocks, file-index caches); the 20×
    // iterative graph runs are the most heap-hungry measurements of
    // the whole harness and must measure the GRAPH, not the sweep's
    // leftovers (an 8 GB driver OOM'd here before the restart).
    spark.stop()
    sf2Phase(src)
  }

  private def sf2Phase(src: String): Unit = {
    val spark2 = Bench.buildSession()
    val dst2 = sys.env.getOrElse("SPARK_GRAFT_SOAK_DIR2", "/tmp/graft_sf2")
    val factor2 = sys.env.getOrElse("SPARK_GRAFT_SOAK_FACTOR2", "20").toInt
    if (!java.nio.file.Files.isDirectory(
        java.nio.file.Paths.get(dst2, "lineitem.parquet"))) {
      System.err.println(s"[soak] generating $dst2 = $src x$factor2 ...")
      SoakGen.generate(spark2, src, dst2, factor2)
    }
    val rows2 = Sf2Queries.map { q =>
      val small = timed(spark2, q, src)
      val big = timed(spark2, q, dst2)
      val ratio = if (small > 0) big / small else -1.0
      System.err.println(f"[soak2] $q%-28s sf0.1 $small%7.2f s  x$factor2 $big%7.2f s  ratio ${ratio}%5.2f")
      (q, small, big, ratio)
    }
    val body2 = rows2.map { case (q, s, b, r) =>
      f""""$q":{"sf01_sec":$s%.3f,"sfx_sec":$b%.3f,"ratio":$r%.3f}"""
    }.mkString("{", ",", "}")
    val json2 =
      s"""{"factor":$factor2,"cpus":"${Bench.cpus}","queries":$body2,"written_at":"${java.time.Instant.now()}"}\n"""
    val path2 = java.nio.file.Paths.get(
      sys.env.getOrElse("SPARK_GRAFT_BENCH_DIR", "bench"), "soak_sf2.json")
    java.nio.file.Files.write(path2,
      json2.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    System.err.println(s"[soak] wrote $path2")
    println(json2)
    spark2.stop()
  }
}
