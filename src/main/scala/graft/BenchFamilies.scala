package graft

/** The scale harness: each named query set runs [[Bench.sweep]] at
  * sf0.1 AND at a [[SoakGen]]-generated `factor`× copy, back to back in
  * one fresh session, and commits the per-query ratio. Same-session
  * pairing makes the ratio self-calibrating: external load inflates
  * both measurements, so the RATIO stays comparable across machines in
  * a way raw floors are not. A query whose `factor`×-data time grows by
  * much more than `factor`× has a superlinear term the sf0.1 bench
  * cannot see ([[SoakGuardSpec]] gates the soak artifacts).
  *
  * The sets:
  *   - `families` → `bench/sf1_families.json`: the heavy families at
  *     10×, where shuffle/skew work actually shows (the sf0.1 suite is
  *     fixed-cost bound — 8 cores beat 32);
  *   - `soak` → `bench/soak_sf1.json`: the most expensive queries at
  *     10×;
  *   - `soak_sf2` → `bench/soak_sf2.json`: the iterative graph pair at
  *     20×.
  *
  * The in-cell-kNN similarity builds (nsw/hnsw/stored) and
  * q_bitext_mine are in no set: their in-cell join or LSH bucket is
  * quadratic at FIXED cell count or bit width, and the operator
  * contract rescales those with the corpus — scaling the data without
  * them measures a shape the contract disclaims.
  *
  * Usage: `runMain graft.BenchFamilies [set...]` (every set when none
  * is named). SPARK_GRAFT_SOAK_SRC is the sf0.1 directory,
  * SPARK_GRAFT_SOAK_DIR the 10× one (generated on first use, reused
  * after — delete it to regenerate); the 20× directory is its
  * `_x20` sibling. SPARK_GRAFT_BENCH_RUNS passes, default 3.
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
    // one-exchange survivorship) end-to-end on top of the
    // constant-block guarantee above
    "q_golden_record",
    // ER closure (pointer-jumping CC over the match pairs) and the
    // heaviest live-engine gate (transformWithState + RocksDB state
    // store through real file micro-batches)
    "q_entity_clusters", "q_stream_live_scd",
    // the storage + crawl paths: the versioned commit (stage, stats
    // scan, zone-map-pruned read) and the raw-bytes frontier (segment
    // parse, link distinct, robots gate, per-host caps) must both
    // scale linearly in the corpus. q_bitext_mine is deliberately NOT
    // soaked: its LSH in-bucket candidate volume is quadratic at FIXED
    // numBits — the operator's contract is that bits grow
    // ~log2(corpus/bucket-target), which the oracle pins at fixture
    // scale (see mineBitext's scaladoc)
    "q_table_skipping", "q_crawl_frontier",
    // the raw-bytes and commit-log write paths: full WARC ingest
    // (streamed decode -> extract -> rollup), its exactly-once
    // live-engine twin, compaction's rewrite commit, and the takedown
    // delete (prune -> match-count -> rewrite -> CDC) — each must
    // scale linearly in the corpus
    "q_crawl_ingest", "q_stream_crawl_ingest", "q_table_compact",
    "q_table_delete",
    // the table write paths: MERGE's prune -> touch -> rewrite
    // pipeline and the deletion-vector path (position scan, sidecar
    // write, anti-join read, compact purge) — the takedown/upsert
    // story at scale is these two staying linear
    "q_table_merge", "q_table_dv",
    // the write-time CHECK gate (install scan + two gated bulk writes
    // + a refused append/merge pair), the commit-log frame over a
    // 7-commit mutation script, and the sharded k-center reduction
    // (per-shard Gonzalez is O(k·n_shard), linear in the corpus at
    // pinned shards) — each must stay linear. q_simsearch_nsw is
    // deliberately NOT soaked: its in-cell kNN build is quadratic at
    // FIXED cell count — the operator's contract is cells ≈ √n, which
    // the oracle pins at fixture scale (see nswTopK's scaladoc)
    "q_table_constraint", "q_table_history", "q_diverse_subset_batch")

  /** One committed scale measurement: `queries` at sf0.1 and at
    * `factor`×, written to `bench/<file>`. A set with `families` nests
    * its entries one level, per family, under "families"; the others
    * list them under "queries".
    */
  final case class ScaleSet(
      file: String, factor: Int, queries: Seq[String],
      families: Map[String, Seq[String]] = Map.empty)

  val Sets: scala.collection.immutable.ListMap[String, ScaleSet] =
    scala.collection.immutable.ListMap(
      "families" -> ScaleSet("sf1_families.json", 10,
        Families.toSeq.sortBy(_._1).flatMap(_._2), Families),
      "soak" -> ScaleSet("soak_sf1.json", 10, SoakQueries),
      // k-core peel depth can grow with the scaled graph's degeneracy,
      // so the 10× ratio alone does not answer the next-decade question
      // — but the ROUND BUDGET bounds total work at maxRounds × one
      // linear pass at ANY scale (kcore stops at 8 peels whether
      // converged or not, and "exactly R rounds" is part of the query's
      // engine-portable contract), so the measured 20× ratio plus the
      // cap is the scale argument. PageRank rides along as the
      // fixed-iteration control.
      "soak_sf2" -> ScaleSet("soak_sf2.json", 20, Seq("q_graph_kcore", "q_graph_pagerank")))

  /** The artifact of one set: each query's best time at both scales and
    * their ratio (-1 where either scale failed).
    */
  private[graft] def render(
      set: ScaleSet, runs: Int, small: Bench.Sweep, big: Bench.Sweep): String = {
    val (s, b) = (small.results.toMap, big.results.toMap)
    def rows(qs: Seq[String]): String = qs.map { q =>
      val (x, y) = (s.getOrElse(q, -1.0), b.getOrElse(q, -1.0))
      val ratio = if (x > 0 && y > 0) y / x else -1.0
      f""""$q":{"sf01_sec":$x%.3f,"sfx_sec":$y%.3f,"ratio":$ratio%.3f}"""
    }.mkString("{", ",", "}")
    val body =
      if (set.families.isEmpty) "\"queries\":" + rows(set.queries)
      else "\"families\":" + set.families.toSeq.sortBy(_._1)
        .map { case (fam, qs) => s""""$fam":${rows(qs)}""" }.mkString("{", ",", "}")
    s"""{"factor":${set.factor},"runs":$runs,"cpus":"${Bench.cpus}","calibration_sf01":${small.calibration},""" +
      s""""calibration_sfx":${big.calibration},$body,"written_at":"${java.time.Instant.now()}"}\n"""
  }

  def main(args: Array[String]): Unit = {
    val unknown = args.filterNot(Sets.contains)
    require(unknown.isEmpty,
      s"unknown set ${unknown.mkString(", ")}; the sets are ${Sets.keys.mkString(", ")}")
    val src = sys.env.getOrElse("SPARK_GRAFT_SOAK_SRC", "/root/testdata/sf0.1")
    val dir10 = sys.env.getOrElse("SPARK_GRAFT_SOAK_DIR", "/tmp/graft_sf1")
    val runs = Bench.runsFromEnv
    (if (args.isEmpty) Sets.keys.toSeq else args.toSeq).foreach { name =>
      val set = Sets(name)
      val dst = if (set.factor == 10) dir10 else s"${dir10}_x${set.factor}"
      // a fresh session per set: a sweep leaves block-manager and
      // broadcast debris (RocksDB state stores, checkpoint blocks,
      // file-index caches) behind, and the 20× iterative graph runs,
      // the most heap-hungry of all, must measure the GRAPH, not the
      // leftovers (an 8 GB driver OOM'd here before the restart)
      val spark = Bench.buildSession()
      try {
        if (!java.nio.file.Files.isDirectory(
            java.nio.file.Paths.get(dst, "lineitem.parquet"))) {
          System.err.println(s"[scale] generating $dst = $src x${set.factor} ...")
          SoakGen.generate(spark, src, dst, set.factor)
        }
        // crawl-segment fixtures are generated once per source dir:
        // materialize BOTH scales off the clock so the first timed crawl
        // query measures the pipeline, not fixture IO
        graft.queries.WebQueries.crawlSegments(spark, src)
        graft.queries.WebQueries.crawlSegments(spark, dst)
        val only = Some(set.queries.toSet)
        System.err.println(s"[scale] $name: ${set.queries.size} queries at $src ...")
        val small = Bench.sweep(spark, src, runs, only)
        System.err.println(s"[scale] $name: ${set.queries.size} queries at $dst ...")
        val big = Bench.sweep(spark, dst, runs, only)
        val json = render(set, runs, small, big)
        val path = java.nio.file.Paths.get(
          sys.env.getOrElse("SPARK_GRAFT_BENCH_DIR", "bench"), set.file)
        java.nio.file.Files.write(path, json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        System.err.println(s"[scale] wrote $path")
        println(json)
      } finally spark.stop()
    }
  }
}
