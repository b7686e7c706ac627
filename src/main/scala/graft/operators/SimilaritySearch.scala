package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.plans.NativeVector

/** Approximate / exact nearest-neighbor search over an embedding column
  * (`array<float>`).
  *
  * Performance shape (this is the part that must survive 100 TB):
  *   - vectors are L2-NORMALIZED ONCE per row before any join, so the
  *     per-pair kernel is a single dot product — never recompute norms
  *     inside the pair loop;
  *   - the dot product is a native codegen'd Catalyst expression
  *     ([[graft.plans.DotProduct]]), not an interpreted higher-order
  *     function — the all-pairs kernel stays inside whole-stage codegen;
  *   - [[bruteForceTopK]] broadcasts the (small) query side: one
  *     parallel scan of candidates, no candidate-side shuffle until the
  *     final per-query top-k;
  *   - [[lshTopK]] is the approximate scale path: random-hyperplane
  *     signatures bucket both sides and only same-bucket pairs are
  *     scored.
  */
object SimilaritySearch {

  /** Project to (idAlias, normalized-vector) — unit-L2, double.
    * Null and zero-norm vectors are DROPPED: cosine similarity is
    * undefined for them, and letting them through as nulls would crash
    * typed downstream decoding (and make the agg- and window-based
    * top-k formulations disagree on row counts).
    */
  private def normalizedSide(
      df: DataFrame, idCol: String, idAlias: String,
      vecCol: String, vecAlias: String,
      keep: Seq[(String, String)] = Nil): DataFrame = {
    NativeVector.register(df.sparkSession)
    val v = col(vecCol).cast("array<double>")
    val keepCols = keep.map { case (src, alias) => col(src).as(alias) }
    df.select(col(idCol).as(idAlias) +: keepCols :+ v.as("__v"): _*)
      .withColumn("__norm", sqrt(NativeVector.dot(col("__v"), col("__v"))))
      .filter(col("__norm") > 0)
      .withColumn(vecAlias, transform(col("__v"), x => x / col("__norm")))
      .select(idAlias, keep.map(_._2) :+ vecAlias: _*)
  }

  private def scoredPairs(
      queries: DataFrame,
      candidates: DataFrame,
      idCol: String,
      vecCol: String): DataFrame = {
    val q = normalizedSide(queries, idCol, "query_id", vecCol, "q_vec")
    val c = normalizedSide(candidates, idCol, "neighbor_id", vecCol, "c_vec")
    c.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .withColumn("cos_sim", round(NativeVector.dot(col("q_vec"), col("c_vec")), 6))
  }

  /** Exact cosine top-k: for each row of `queries`, the `k` most similar
    * rows of `candidates` (self-matches excluded when ids collide).
    * Output: query_id, neighbor_id, cos_sim (rounded to 6 dp for stable
    * cross-engine comparison), rank.
    *
    * Aggregation-based: the k-bounded [[TopK.TopKAggregator]] combines
    * map-side, so only k rows per (query, partition) reach the shuffle —
    * the window formulation ([[bruteForceTopKWindow]]) ships and sorts
    * every scored pair. Results are identical (total order: cos_sim
    * desc, neighbor_id asc).
    */
  def bruteForceTopK(
      queries: DataFrame,
      candidates: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int): DataFrame = {
    val spark = queries.sparkSession
    import spark.implicits._
    val scored = scoredPairs(queries, candidates, idCol, vecCol)
      .select(col("query_id"), col("neighbor_id"), col("cos_sim"))
      .as[(Long, Long, Double)]
    // TopKAggregator orders by (score desc, id ASC) — matching the
    // window orderBy(cos_sim desc, neighbor_id asc) tie-break exactly.
    TopK.perGroup(scored, k)
      .toDF("query_id", "neighbor_id", "cos_sim", "rank")
  }

  /** Hard-negative mining for contrastive training: for each query
    * row, the `k` most cosine-similar candidates whose LABEL differs —
    * the "close but wrong" examples that make embedding training
    * batches hard. Same scale shape as [[bruteForceTopK]] (broadcast
    * query side, codegen'd dot kernel, k-bounded map-side aggregator);
    * the label inequality rides the join condition, so same-label
    * pairs are discarded inside the join loop, never materialized.
    * Output: query_id, neighbor_id, cos_sim, rank.
    */
  def hardNegatives(
      queries: DataFrame,
      candidates: DataFrame,
      idCol: String,
      vecCol: String,
      labelCol: String,
      k: Int): DataFrame = {
    val spark = queries.sparkSession
    import spark.implicits._
    val q = normalizedSide(queries, idCol, "query_id", vecCol, "q_vec",
      keep = Seq(labelCol -> "q_label"))
    val c = normalizedSide(candidates, idCol, "neighbor_id", vecCol, "c_vec",
      keep = Seq(labelCol -> "c_label"))
    val scored = c.join(broadcast(q),
        col("query_id") =!= col("neighbor_id") &&
          col("q_label") =!= col("c_label"))
      .withColumn("cos_sim", round(NativeVector.dot(col("q_vec"), col("c_vec")), 6))
      .select(col("query_id"), col("neighbor_id"), col("cos_sim"))
      .as[(Long, Long, Double)]
    TopK.perGroup(scored, k)
      .toDF("query_id", "neighbor_id", "cos_sim", "rank")
  }

  /** Margin-based bitext mining (the Artetxe & Schwenk margin-kNN
    * criterion): candidate translation pairs between embedding sides
    * `xs` and `ys`, scored by
    * `margin(x, y) = cos(x, y) / ((avgKnn(x→Y) + avgKnn(y→X)) / 2)` —
    * the ratio of the pair's similarity to each endpoint's local
    * similarity neighborhood, which kills hub vectors that are "close
    * to everything". Mined pairs are MUTUAL bests: y is x's
    * highest-margin neighbor AND x is the best x claiming that y
    * (forward "max" strategy + a per-y dedup), with `margin >=
    * minMargin`.
    *
    * Determinism for the cross-engine gate: per-pair cosines round to
    * 6 dp first; the k-NN neighborhood sums accumulate those rounded
    * values as DECIMAL(18,6) (exact, order-independent); the margin is
    * one fixed-shape double expression over the exact sums, rounded to
    * 6 dp.
    *
    * Scale shape: BOTH sides are corpus-scale in real bitext mining
    * (two monolingual crawls), so candidate generation is LSH-bucketed
    * — random-hyperplane signatures on both sides, one EQUI join on
    * the bucket label (never an all-pairs or broadcast-nested-loop
    * stage), and the forward/backward k-NN neighborhoods are windows
    * over the same scored candidate set, partitioned by x / y id.
    * The neighborhoods (and therefore the margins) are approximate
    * exactly the way production margin-kNN is: relative to the
    * LSH-candidate set, with recall bought via `numBits`/`numTables`.
    * Sides must carry DISJOINT ids. Output: x_id, y_id, cos_sim,
    * margin.
    *
    * SIZING CONTRACT: in-bucket candidate volume is Σ_b |X_b|·|Y_b| —
    * quadratic in bucket density, so `numBits` must grow with the
    * corpus (≈ log2(n / target-bucket-size); each extra bit halves
    * expected bucket size). The defaults fit the fixture scale; a
    * corpus-scale run sizes bits from a corpus count first.
    */
  def mineBitext(
      xs: DataFrame,
      ys: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      minMargin: Double = 0.0,
      numBits: Int = 8,
      numTables: Int = 2): DataFrame = {
    def sigs(df: DataFrame, idAlias: String, vecAlias: String) = {
      val n = normalizedSide(df, idCol, idAlias, vecCol, vecAlias)
      n.select(col(idAlias), col(vecAlias),
        explode(array((0 until numTables).map { t =>
          concat_ws(":", lit(t),
            NativeVector.hyperplaneSig(col(vecAlias), numBits,
              seed = 42L + t * 7919L))
        }: _*)).as("bucket"))
    }
    val pairs = sigs(ys, "y_id", "y_vec")
      .join(sigs(xs, "x_id", "x_vec"), Seq("bucket"))
      .select(col("x_id"), col("y_id"),
        round(NativeVector.dot(col("x_vec"), col("y_vec")), 6).as("cos_sim"))
      .dropDuplicates("x_id", "y_id")
    val wFwd = Window.partitionBy("x_id")
      .orderBy(col("cos_sim").desc, col("y_id"))
    val wBwd = Window.partitionBy("y_id")
      .orderBy(col("cos_sim").desc, col("x_id"))
    val fwd = pairs.withColumn("_rf", row_number().over(wFwd))
      .filter(col("_rf") <= k)
    val bwd = pairs.withColumn("_rb", row_number().over(wBwd))
      .filter(col("_rb") <= k)
    val dec = col("cos_sim").cast("decimal(18,6)")
    val avgX = fwd.groupBy("x_id")
      .agg(sum(dec).as("x_sum"), count(lit(1)).as("x_n"))
    val avgY = bwd.groupBy("y_id")
      .agg(sum(dec).as("y_sum"), count(lit(1)).as("y_n"))
    val margin = round(
      col("cos_sim") /
        ((col("x_sum").cast("double") / col("x_n") +
          col("y_sum").cast("double") / col("y_n")) / 2.0), 6)
    val scored = fwd
      .join(avgX, Seq("x_id"))
      .join(avgY, Seq("y_id"))
      .withColumn("margin", margin)
      .filter(col("margin") >= minMargin)
    val bestY = org.apache.spark.sql.expressions.Window
      .partitionBy("x_id").orderBy(col("margin").desc, col("y_id"))
    val bestX = org.apache.spark.sql.expressions.Window
      .partitionBy("y_id").orderBy(col("margin").desc, col("x_id"))
    scored
      .withColumn("_ry", row_number().over(bestY))
      .filter(col("_ry") === 1)
      .withColumn("_rx", row_number().over(bestX))
      .filter(col("_rx") === 1)
      .select("x_id", "y_id", "cos_sim", "margin")
  }

  /** Window-based reference formulation of [[bruteForceTopK]] (same
    * results; full-shuffle plan). Kept for parity testing and for
    * callers that want the WindowGroupLimit path.
    */
  def bruteForceTopKWindow(
      queries: DataFrame,
      candidates: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int): DataFrame = {
    val scored = scoredPairs(queries, candidates, idCol, vecCol)
    val w = Window.partitionBy("query_id").orderBy(col("cos_sim").desc, col("neighbor_id"))
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "cos_sim", "rank")
  }

  /** Approximate top-k via random-hyperplane LSH: candidates and queries
    * are bucketed by an `numBits`-bit signature; cosine is evaluated only
    * within matching buckets. Recall < 1; increase `numTables` to probe
    * more independent signatures.
    */
  def lshTopK(
      queries: DataFrame,
      candidates: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      numBits: Int = 12,
      numTables: Int = 2): DataFrame = {
    // Each table probes an independent signature: the table seed is
    // folded into the hyperplane hash, not just the bucket label.
    def sigs(df: DataFrame, id: String, vec: String) = {
      val n = normalizedSide(df, idCol, id, vecCol, vec)
      n.select(col(id), col(vec),
        explode(array((0 until numTables).map { t =>
          concat_ws(":", lit(t),
            NativeVector.hyperplaneSig(col(vec), numBits, seed = 42L + t * 7919L))
        }: _*)).as("bucket"))
    }
    val q = sigs(queries, "query_id", "q_vec")
    val c = sigs(candidates, "neighbor_id", "c_vec")
    val scored = c
      .join(broadcast(q), Seq("bucket"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(
        col("query_id"), col("neighbor_id"),
        round(NativeVector.dot(col("q_vec"), col("c_vec")), 6).as("cos_sim"))
      .dropDuplicates("query_id", "neighbor_id")
    val w = Window.partitionBy("query_id").orderBy(col("cos_sim").desc, col("neighbor_id"))
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "cos_sim", "rank")
  }

  /** Multi-probe variant of [[lshTopK]]: each QUERY additionally
    * probes every Hamming-1 neighbor bucket (its signature with one
    * bit flipped) in every table — the standard way to buy LSH recall
    * without more tables, because a near-miss neighbor usually sits
    * just across one hyperplane. Candidates still index exactly one
    * bucket per table; only the bounded query side fans out
    * (numBits + 1 buckets per query per table), so the probe stays a
    * broadcast and the candidate side is untouched. Candidate sets are
    * a strict superset of the single-probe search's, so recall can
    * only rise.
    */
  def lshTopKMultiProbe(
      queries: DataFrame,
      candidates: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      numBits: Int = 12,
      numTables: Int = 2): DataFrame = {
    def sig(vec: Column, t: Int) =
      NativeVector.hyperplaneSig(vec, numBits, seed = 42L + t * 7919L)
    // query buckets: base signature + every single-bit flip (static
    // unroll — numBits is plan-literal, so the masks are literals and
    // the whole fan-out stays one codegen'd projection)
    val qBuckets = (0 until numTables).flatMap { t =>
      val s = sig(col("q_vec"), t)
      concat_ws(":", lit(t), s) +: (0 until numBits).map { b =>
        concat_ws(":", lit(t), s.bitwiseXOR(lit(1L << b)))
      }
    }
    val q = normalizedSide(queries, idCol, "query_id", vecCol, "q_vec")
      .select(col("query_id"), col("q_vec"),
        explode(array(qBuckets: _*)).as("bucket"))
    val c = normalizedSide(candidates, idCol, "neighbor_id", vecCol, "c_vec")
      .select(col("neighbor_id"), col("c_vec"),
        explode(array((0 until numTables).map { t =>
          concat_ws(":", lit(t), sig(col("c_vec"), t))
        }: _*)).as("bucket"))
    val scored = c
      .join(broadcast(q), Seq("bucket"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(
        col("query_id"), col("neighbor_id"),
        round(NativeVector.dot(col("q_vec"), col("c_vec")), 6).as("cos_sim"))
      .dropDuplicates("query_id", "neighbor_id")
    val w = Window.partitionBy("query_id").orderBy(col("cos_sim").desc, col("neighbor_id"))
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "cos_sim", "rank")
  }

  /** Graph ANN — navigable-small-world beam search over PER-CLUSTER
    * neighborhood graphs: the single-layer core of HNSW (Malkov &
    * Yashunin 2018) sharded by a coarse quantizer, the way the
    * cluster-partitioned graph stores run it at scale (SPANN, Chen et
    * al. 2021; DiskANN's sharded build).
    *
    *   - INDEX: candidates shard by their nearest coarse centroid
    *     (`model` — the SAME [[IvfIndex]] quantizer an IVF search
    *     uses, so the two paths are probe-for-probe comparable);
    *     inside each shard every node keeps its `degree` nearest
    *     neighbors (exact in-shard kNN, one cell equi-join — never
    *     cross-shard), symmetrized so the graph is navigable in both
    *     directions. Each node also stores an `entryBits`-bit SRP
    *     sketch. The edge table is the reusable index: at corpus
    *     scale build it once and persist it (ordinary DataFrames).
    *   - SEARCH: each query probes its `nprobe` nearest cells (same
    *     rule as IVF), ENTERS each shard at the node whose stored
    *     sketch is Hamming-closest to the query's (index-metadata
    *     bit-ops — the entry role HNSW's upper layers play, at zero
    *     vector-distance evaluations), then runs `rounds` steps of
    *     EXPANDING BEAM search — score the frontier's unvisited
    *     out-neighbors, keep the best `beam` as the next frontier
    *     (the ef-search analogue; deterministic: 6-dp-rounded cosine,
    *     ties on smaller id) — and finally re-ranks everything
    *     visited exactly.
    *
    * Why it beats IVF at equal probes: IVF scores EVERY vector of the
    * probed cells; the walk scores at most 1 + rounds·beam per cell,
    * spent only on vectors adjacent to already-good vectors — so at
    * the same nprobe it reads a small fraction of each cell, and the
    * saved budget buys MORE probed cells (a higher reachability
    * ceiling) at still-lower total cost. NswRecallSpec pins the
    * dominance: nsw at nprobe=3 beats IVF at nprobe=2 on recall with
    * a strictly smaller scored-vector budget.
    *
    * Scale shape: index build is in-cell-quadratic — size cells like
    * IVF does (≈√n cells balances the centroid scan and the cells;
    * the kNN build is one cell equi-join). Search touches at most
    * nprobe·(1 + rounds·beam) vectors per query, every join is an
    * equi-join on (cell, node), and the per-round frontier state is
    * query-side-bounded and checkpointed, so plan depth stays O(1) in
    * `rounds`.
    *
    * Output: query_id, neighbor_id, cos_sim, rank — same contract as
    * [[bruteForceTopK]] / [[IvfIndex.search]].
    */
  def nswTopK(
      queries: DataFrame,
      candidates: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      model: IvfIndex.Model,
      nprobe: Int = 2,
      degree: Int = 4,
      beam: Int = 2,
      rounds: Int = 6,
      entryBits: Int = 12): DataFrame = {
    val (nodes, edges) = nswIndex(candidates, idCol, vecCol, model,
      degree, entryBits)
    nswSearchIndex(queries, nodes, edges, idCol, vecCol, model, k,
      nprobe, beam, rounds, entryBits)
  }

  private def nswEsig(vec: Column, entryBits: Int): Column =
    NativeVector.hyperplaneSig(vec, entryBits, seed = 9176L)

  /** Build the REUSABLE half of [[nswTopK]]: the assigned + sketched
    * node table `(bucket, neighbor_id, c_vec, esig)` and the
    * symmetrized per-cell kNN edge table `(bucket, src, dst)` — both
    * checkpointed. Build once per corpus version, [[nswSave]] it, and
    * amortize over query batches ([[nswSearchIndex]]); `entryBits`
    * must match between build and search (the sketch seed is fixed).
    */
  def nswIndex(
      candidates: DataFrame,
      idCol: String,
      vecCol: String,
      model: IvfIndex.Model,
      degree: Int = 4,
      entryBits: Int = 12): (DataFrame, DataFrame) = {
    require(degree >= 1 && entryBits >= 1 && entryBits <= 62)
    // the ENTRY sketch: a finer independent SRP signature stored with
    // each node; the walk enters a shard at the node whose sketch is
    // Hamming-closest to the query's — index METADATA bit-ops, zero
    // vector-distance evaluations
    val c = IvfIndex.assign(candidates, idCol, vecCol, model)
      .select(col("id").as("neighbor_id"), col("nv").as("c_vec"),
        nswEsig(col("nv"), entryBits).as("esig"), col("cell").as("bucket"))
      .localCheckpoint()
    // symmetrized exact kNN graph inside each shard
    val l = c.select(col("bucket"), col("neighbor_id").as("src"),
      col("c_vec").as("s_vec"))
    val r = c.select(col("bucket"), col("neighbor_id").as("dst"),
      col("c_vec").as("d_vec"))
    val wKnn = Window.partitionBy("bucket", "src")
      .orderBy(col("sim").desc, col("dst"))
    val knn = l.join(r, Seq("bucket"))
      .filter(col("src") =!= col("dst"))
      .select(col("bucket"), col("src"), col("dst"),
        round(NativeVector.dot(col("s_vec"), col("d_vec")), 6).as("sim"))
      .withColumn("rn", row_number().over(wKnn))
      .filter(col("rn") <= degree)
      .select("bucket", "src", "dst")
    val edges = knn
      .unionByName(knn.select(col("bucket"),
        col("dst").as("src"), col("src").as("dst")))
      .distinct()
      .localCheckpoint()
    (c, edges)
  }

  /** Persist a built NSW index (the IvfIndex.save convention: atomic
    * swap dir, centroids + node/edge tables PARTITIONED BY cell — a
    * search that probes nprobe of k cells prunes the rest at the
    * scan).
    */
  def nswSave(nodes: DataFrame, edges: DataFrame, model: IvfIndex.Model,
      dir: String): Unit = {
    val spark = nodes.sparkSession
    import spark.implicits._
    val dest = new org.apache.hadoop.fs.Path(dir)
    val fs = dest.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = graft.sources.AtomicDir.tmpPath(dest)
    fs.delete(tmp, true)
    // three independent subdirectories of the SAME uncommitted tmp dir
    // (atomicity comes from the final dir swap, not write order): land
    // them concurrently (guide §2.6) so the nodes write's task tail is
    // back-filled by the edges/centroids jobs. Each frame is
    // REBALANCEd by the partition column first (guide §6, the
    // write.distribution-mode=hash role): a Hive-layout write of N
    // input partitions × k cells otherwise opens N·k writers and lands
    // N files per cell — the search-side partition filter then pays
    // per-file open cost for every probed cell, and the commit/rename
    // fan-out dominates the save at fixture scale. One file per cell,
    // AQE splitting any oversized cell (the hot-partition trap, §2.5).
    def byCell(df: DataFrame): DataFrame = df.hint("rebalance", col("bucket"))
    Par.actions(
      () => model.centroids.zipWithIndex
        .map { case (cv, i) => (i, cv.toSeq) }.toSeq
        .toDF("cell", "centroid")
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(new org.apache.hadoop.fs.Path(tmp, "centroids").toString),
      () => byCell(nodes).write.mode("overwrite").partitionBy("bucket")
        .parquet(new org.apache.hadoop.fs.Path(tmp, "nodes").toString),
      () => byCell(edges).write.mode("overwrite").partitionBy("bucket")
        .parquet(new org.apache.hadoop.fs.Path(tmp, "edges").toString))
    graft.sources.AtomicDir.commit(fs, dest)
  }

  /** Load a [[nswSave]]d index: (nodes, edges, model). The only
    * driver-side materialization is the k-row centroid table.
    */
  def nswLoad(spark: org.apache.spark.sql.SparkSession, dir: String)
      : (DataFrame, DataFrame, IvfIndex.Model) = {
    val dest = new org.apache.hadoop.fs.Path(dir)
    val fs = dest.getFileSystem(spark.sparkContext.hadoopConfiguration)
    graft.sources.AtomicDir.recover(fs, dest)
    val centroids = spark.read
      .parquet(new org.apache.hadoop.fs.Path(dest, "centroids").toString)
      .collect().sortBy(_.getInt(0)).map(_.getSeq[Double](1).toArray)
    require(centroids.nonEmpty, s"no centroids under $dir")
    def withCell(name: String) = spark.read
      .parquet(new org.apache.hadoop.fs.Path(dest, name).toString)
      .withColumn("bucket", col("bucket").cast("int"))
    (withCell("nodes"), withCell("edges"), IvfIndex.Model(centroids))
  }

  /** Shared search prologue for both graph walks ([[nswSearchIndex]],
    * [[hnswSearchIndex]]): the checkpointed probe set, plus BOTH
    * corpus-scale frames pruned to the probed cells before any hop
    * touches them. The probed-bucket set is query-bounded (≤ queries ×
    * nprobe values, collected off the checkpointed probes in one tiny
    * job), and on a [[nswSave]]d layout — partitionBy("bucket") — the
    * IN-filter is a PARTITION filter, so every per-hop scan opens only
    * the probed cells' files instead of the whole index (plan-audited
    * in NswRecallSpec).
    */
  private def nswProbesAndPrune(
      queries: DataFrame, nodes: DataFrame, edges: DataFrame,
      idCol: String, vecCol: String, model: IvfIndex.Model,
      nprobe: Int, entryBits: Int)
      : (DataFrame, DataFrame, DataFrame) = {
    // the probed-bucket set rides the probe checkpoint job via observe
    // (guide §1.2: remove passes) — no separate distinct+collect job
    val obs = org.apache.spark.sql.Observation()
    val probes = IvfIndex.normalized(queries, idCol, vecCol)
      .select(col("id").as("query_id"), col("nv").as("q_vec"),
        nswEsig(col("nv"), entryBits).as("qesig"),
        explode(IvfIndex.probeCells(col("nv"), model, nprobe)).as("bucket"))
      .observe(obs, collect_set(col("bucket")).as("buckets"))
      .localCheckpoint()
    // the probed-cell IN-filter only pays for itself where it can PRUNE
    // — a [[nswSave]]d bucket-partitioned file layout, where it is a
    // partition filter that skips the unprobed cells' files entirely
    // (O(probed) instead of O(index) IO per hop; plan-audited in
    // NswRecallSpec). On the in-memory [[nswTopK]] path the frames are
    // localCheckpoint blocks — nothing to skip, and carrying the filter
    // through every hop's replan measured ~2x the whole walk at fixture
    // scale (+24 jobs; r18 bisect) — so file-backed frames prune and
    // checkpointed frames pass through untouched.
    def fileBacked(df: DataFrame): Boolean =
      df.queryExecution.logical.exists {
        case _: org.apache.spark.sql.execution.datasources.LogicalRelation => true
        case _: org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation => true
        case _ => false
      }
    lazy val probedBuckets = obs.get("buckets").asInstanceOf[Seq[_]]
      .map { case n: Number => n.intValue }.sorted
    // the pruned frames are read every hop (rounds + entry + re-rank
    // jobs); left lazy, each hop re-PLANS the file scan — re-listing
    // and re-opening the probed cells' files and re-deriving the
    // partition pruning per job, which measured ~1 s over the walk at
    // fixture scale and is O(rounds) repeated metadata work at a
    // million-cell store. Materialize the pruned scan ONCE per search
    // (executor-resident, spills via MEMORY_AND_DISK): every hop then
    // reads cached blocks, exactly the shape the in-memory [[nswTopK]]
    // path already has. IO is O(probed cells) either way — this just
    // stops paying it (and the plan) per hop. Both frames land
    // concurrently (guide §2.6).
    var pn = nodes
    var pe = edges
    Par.actions(
      if (!fileBacked(nodes)) null else () =>
        pn = nodes.filter(col("bucket").isin(probedBuckets: _*))
          .localCheckpoint(true),
      if (!fileBacked(edges)) null else () =>
        pe = edges.filter(col("bucket").isin(probedBuckets: _*))
          .localCheckpoint(true))
    (probes, pn, pe)
  }

  /** The anchors a graph walk owns from its prologue on: the probe
    * checkpoint, plus each pruned frame that [[nswProbesAndPrune]]
    * materialized (an unpruned frame is the caller's index, which the
    * search must not free). The walk appends its own checkpoints.
    */
  private def searchAnchors(probes: DataFrame, c: DataFrame,
      nodes: DataFrame, prunedEdges: DataFrame, edges: DataFrame)
      : scala.collection.mutable.ArrayBuffer[DataFrame] =
    scala.collection.mutable.ArrayBuffer(probes) ++
      Seq(c).filter(_ ne nodes) ++ Seq(prunedEdges).filter(_ ne edges)

  /** Materialize a graph walk's top-k on the driver (at most k rows
    * per query) and free every anchor the walk made, so a search
    * leaves the block manager as it found it: nothing reads the
    * anchors once the result is collected.
    */
  private def collectAndDrop(out: DataFrame, anchors: Seq[DataFrame])
      : DataFrame = {
    val rows = try out.collect() finally anchors.foreach(Blocks.drop)
    out.sparkSession.createDataFrame(java.util.Arrays.asList(rows: _*),
      out.schema)
  }

  /** Search a pre-built NSW index (reuse across query batches); same
    * contract and trajectory as [[nswTopK]]. The top-k comes back
    * collected (a driver-local frame) and the walk's own anchors are
    * freed before it returns.
    */
  def nswSearchIndex(
      queries: DataFrame,
      nodes: DataFrame,
      edges: DataFrame,
      idCol: String,
      vecCol: String,
      model: IvfIndex.Model,
      k: Int,
      nprobe: Int = 2,
      beam: Int = 2,
      rounds: Int = 6,
      entryBits: Int = 12): DataFrame = {
    require(k >= 1 && beam >= 1 && rounds >= 1 && nprobe >= 1)
    require(entryBits >= 1 && entryBits <= 62)
    // ---- search: probe the nprobe nearest cells, walk each graph
    val (probes, c, prunedEdges) = nswProbesAndPrune(
      queries, nodes, edges, idCol, vecCol, model, nprobe, entryBits)
    val anchors = searchAnchors(probes, c, nodes, prunedEdges, edges)
    // entry per (query, probed shard): Hamming-nearest stored sketch
    // (ties on the smaller id) — one equi-join on the cell and a
    // popcount per (query, member) pair, no dot products
    val wEntry = Window.partitionBy("query_id", "bucket")
      .orderBy(col("ham"), col("node"))
    var frontier = c.select(col("bucket"), col("neighbor_id").as("node"),
        col("esig"))
      .join(broadcast(probes.select("query_id", "bucket", "qesig")),
        Seq("bucket"))
      .withColumn("ham", bit_count(col("qesig").bitwiseXOR(col("esig"))))
      .withColumn("rn", row_number().over(wEntry))
      .filter(col("rn") === 1)
      .select(col("query_id"), col("bucket"), col("node"))
      .localCheckpoint()
    anchors += frontier
    var visited = frontier
    val wBeam = Window.partitionBy("query_id", "bucket")
      .orderBy(col("sim").desc, col("node"))
    val nodeVecs = c.select(col("bucket"), col("neighbor_id").as("node"),
      col("c_vec"))
    // every join below broadcasts the QUERY-BOUNDED side, so the
    // corpus-scale frames (edges, nodeVecs) are only ever scanned
    // map-side — one bounded scan per hop, and on a [[nswSave]]d
    // layout the probed-cell partition filter above caps each of
    // those scans at the probed cells' files (the whole-index scan
    // is gone; at fixture scale the saving is noise, at a
    // million-cell store it is the difference between O(probed) and
    // O(index) IO per hop)
    // `visited` is a LAZY union of the per-round frontier checkpoints
    // — each round adds one tiny, query-bounded checkpointed leaf and
    // never a materialization job of its own, so the walk costs ONE
    // job per round (the frontier checkpoint) instead of two; the
    // frontier blocks stay alive for the union and are freed with the
    // search's other anchors once the result is collected.
    var round_ = 0
    while (round_ < rounds) {
      val expanded = prunedEdges
        .join(broadcast(frontier.withColumnRenamed("node", "src")),
          Seq("bucket", "src"))
        .select(col("query_id"), col("bucket"), col("dst").as("node"))
        .distinct()
        .join(broadcast(visited), Seq("query_id", "bucket", "node"),
          "left_anti")
      val stepped = nodeVecs
        .join(broadcast(expanded), Seq("bucket", "node"))
        .join(broadcast(probes), Seq("query_id", "bucket"))
        .select(col("query_id"), col("bucket"), col("node"),
          round(NativeVector.dot(col("q_vec"), col("c_vec")), 6).as("sim"))
      frontier = stepped
        .withColumn("rn", row_number().over(wBeam))
        .filter(col("rn") <= beam)
        .select("query_id", "bucket", "node")
        .localCheckpoint()
      anchors += frontier
      visited = visited.unionByName(frontier)
      round_ += 1
    }
    // ---- exact re-rank of everything visited (across probed shards)
    val wTop = Window.partitionBy("query_id")
      .orderBy(col("cos_sim").desc, col("neighbor_id"))
    collectAndDrop(nodeVecs
      .join(broadcast(visited), Seq("bucket", "node"))
      .join(broadcast(probes.select("query_id", "q_vec").distinct()),
        Seq("query_id"))
      .filter(col("query_id") =!= col("node"))
      .select(col("query_id"), col("node").as("neighbor_id"),
        round(NativeVector.dot(col("q_vec"), col("c_vec")), 6).as("cos_sim"))
      .distinct()
      .withColumn("rank", row_number().over(wTop))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "cos_sim", "rank"), anchors.toSeq)
  }

  /** Deterministic HNSW layer assignment: node `id` lives on layers
    * 0..lvl where lvl is the largest l ≤ maxLayer with
    * H(id) ≡ 0 (mod branch^l), H = the first 8 hex chars of
    * sha-256("hnsw:" + id) — an unsigned 32-bit value both Spark and
    * DuckDB reproduce bit-for-bit (the same portability trick the SRP
    * planes use). Expected layer population is geometric (1/branch per
    * level): the log-scale hierarchy of Malkov & Yashunin 2018 §4
    * without any RNG state to persist.
    */
  private def hnswLvl(id: Column, branch: Int, maxLayer: Int): Column = {
    val h = conv(substring(sha2(concat(lit("hnsw:"),
      id.cast("string")), 256), 1, 8), 16, 10).cast("long")
    // fold 1..maxLayer so the LARGEST matching layer is the outermost
    // branch (folding downward would let the always-implied l=1 test
    // shadow the higher layers)
    (1 to maxLayer).foldLeft(lit(0)) { (acc, l) =>
      when(pmod(h, lit(math.pow(branch, l).toLong)) === 0, lit(l))
        .otherwise(acc)
    }
  }

  /** Build a HIERARCHICAL navigable-small-world index (HNSW, Malkov &
    * Yashunin 2018) sharded by the same coarse quantizer as [[nswIndex]]:
    * layer 0 is the full per-cell kNN graph; each upper layer l keeps a
    * deterministic ~1/branch^l subset of the cell ([[hnswLvl]]) with its
    * OWN in-cell kNN graph among the survivors. Upper layers are the
    * long-range shortcuts: a walk enters at the cell's sparsest layer
    * and greedy-descends, so it starts layer 0 already near the query
    * and needs fewer expensive wide-beam rounds there.
    *
    * Returns (nodes, edges): nodes carry `lvl`, edges carry `layer`.
    * Build cost over [[nswIndex]] is the geometric tail of the per-cell
    * quadratic kNN joins — Σ 1/branch^2l ≈ +7% at branch=4. Both frames
    * persist through [[nswSave]] unchanged (the extra columns ride
    * along; the layout stays cell-partitioned).
    */
  def hnswIndex(
      candidates: DataFrame,
      idCol: String,
      vecCol: String,
      model: IvfIndex.Model,
      degree: Int = 4,
      entryBits: Int = 12,
      branch: Int = 4,
      maxLayer: Int = 2): (DataFrame, DataFrame) = {
    require(degree >= 1 && entryBits >= 1 && entryBits <= 62)
    require(branch >= 2 && maxLayer >= 1)
    val c = IvfIndex.assign(candidates, idCol, vecCol, model)
      .select(col("id").as("neighbor_id"), col("nv").as("c_vec"),
        nswEsig(col("nv"), entryBits).as("esig"), col("cell").as("bucket"),
        hnswLvl(col("id"), branch, maxLayer).as("lvl"))
      .localCheckpoint()
    val wKnn = Window.partitionBy("bucket", "src")
      .orderBy(col("sim").desc, col("dst"))
    val perLayer = (0 to maxLayer).map { l =>
      val m = c.filter(col("lvl") >= l)
      val lft = m.select(col("bucket"), col("neighbor_id").as("src"),
        col("c_vec").as("s_vec"))
      val rgt = m.select(col("bucket"), col("neighbor_id").as("dst"),
        col("c_vec").as("d_vec"))
      val knn = lft.join(rgt, Seq("bucket"))
        .filter(col("src") =!= col("dst"))
        .select(col("bucket"), col("src"), col("dst"),
          round(NativeVector.dot(col("s_vec"), col("d_vec")), 6).as("sim"))
        .withColumn("rn", row_number().over(wKnn))
        .filter(col("rn") <= degree)
        .select("bucket", "src", "dst")
      knn.unionByName(knn.select(col("bucket"),
          col("dst").as("src"), col("src").as("dst")))
        .distinct()
        .withColumn("layer", lit(l))
    }
    val edges = perLayer.reduce(_ unionByName _).localCheckpoint()
    (c, edges)
  }

  /** Search a [[hnswIndex]]: probe `nprobe` cells, enter each at the
    * Hamming-nearest sketch ON THE CELL'S SPARSEST LAYER, greedy-descend
    * (`roundsUpper` step(s) of beam `beamUpper` per upper layer — the
    * frontier may KEEP its current node when no out-neighbor improves,
    * the classic HNSW ef=1 descent), then run `rounds` expanding-beam
    * rounds on layer 0 and exactly re-rank everything visited.
    *
    * Vs [[nswSearchIndex]] at equal candidate budget: the descent lands
    * the layer-0 walk inside the query's neighborhood, so layer-0
    * `rounds` drops (6 → 4 at the spec's operating point) and the saved
    * budget buys more probed cells — the recall ceiling, which is
    * probe-bound, rises (NswRecallSpec: ≥0.9 recall@10 within 2× the
    * nsw budget). Per-query-cell candidates ≤ 1 + maxLayer·roundsUpper·
    * beamUpper + rounds·beam; every corpus-scale scan is pruned to the
    * probed cells (partition filter on a [[nswSave]]d layout) and every
    * join broadcasts the query-bounded side, exactly like the nsw path.
    * Deterministic: 6-dp sims, id tie-breaks, sha-256 sketches and
    * layer draws — the full walk is DuckDB-replayable (q_simsearch_hnsw).
    * Like [[nswSearchIndex]], the top-k comes back collected and the
    * walk's own anchors are freed before it returns.
    */
  def hnswSearchIndex(
      queries: DataFrame,
      nodes: DataFrame,
      edges: DataFrame,
      idCol: String,
      vecCol: String,
      model: IvfIndex.Model,
      k: Int,
      nprobe: Int = 2,
      beam: Int = 2,
      rounds: Int = 4,
      maxLayer: Int = 2,
      beamUpper: Int = 1,
      roundsUpper: Int = 1,
      entryBits: Int = 12): DataFrame = {
    require(k >= 1 && beam >= 1 && rounds >= 1 && nprobe >= 1)
    require(maxLayer >= 1 && beamUpper >= 1 && roundsUpper >= 1)
    require(entryBits >= 1 && entryBits <= 62)
    val (probes, c, prunedEdges) = nswProbesAndPrune(
      queries, nodes, edges, idCol, vecCol, model, nprobe, entryBits)
    val anchors = searchAnchors(probes, c, nodes, prunedEdges, edges)
    val nodeVecs = c.select(col("bucket"), col("neighbor_id").as("node"),
      col("c_vec"))
    def score(fr: DataFrame): DataFrame = nodeVecs
      .join(broadcast(fr), Seq("bucket", "node"))
      .join(broadcast(probes), Seq("query_id", "bucket"))
      .select(col("query_id"), col("bucket"), col("node"),
        round(NativeVector.dot(col("q_vec"), col("c_vec")), 6).as("sim"))
    // entry: the cell's TOP layer (lvl desc), Hamming-nearest sketch
    // within it (ham asc, node asc) — then scored once so the descent
    // can compare it against its out-neighbors
    val wEntry = Window.partitionBy("query_id", "bucket")
      .orderBy(col("lvl").desc, col("ham"), col("node"))
    val entry = c.select(col("bucket"), col("neighbor_id").as("node"),
        col("esig"), col("lvl"))
      .join(broadcast(probes.select("query_id", "bucket", "qesig")),
        Seq("bucket"))
      .withColumn("ham", bit_count(col("qesig").bitwiseXOR(col("esig"))))
      .withColumn("rn", row_number().over(wEntry))
      .filter(col("rn") === 1)
      .select(col("query_id"), col("bucket"), col("node"))
    var frontier = score(entry).localCheckpoint()
    anchors += frontier
    // `visited` is EVERYTHING EVER SCORED, with its sim: beam losers
    // cost their dot product regardless, so discarding them from the
    // answer pool (what a frontier-only re-rank does) throws recall
    // away for free. Keeping their sims also makes the final top-k a
    // pure sort — no re-rank pass recomputing dots over the visited
    // set. It doubles as the walk's exact cost meter: searched with
    // k = ∞ the output IS the scored set, so the recall spec measures
    // the true per-query candidate budget off the result instead of
    // trusting a worst-case formula.
    var visited = frontier
    val wBeam = Window.partitionBy("query_id", "bucket")
      .orderBy(col("sim").desc, col("node"))
    // greedy descent through the upper layers: the pool the next
    // frontier is drawn from INCLUDES the current frontier (a node with
    // no better out-neighbor stays put — layers a cell lacks are a
    // no-op because it has no edges there)
    for (l <- maxLayer to 1 by -1; _ <- 0 until roundsUpper) {
      val expanded = prunedEdges.filter(col("layer") === l)
        .join(broadcast(frontier.select(col("query_id"), col("bucket"),
          col("node").as("src"))), Seq("bucket", "src"))
        .select(col("query_id"), col("bucket"), col("dst").as("node"))
        .distinct()
        .join(broadcast(visited.select("query_id", "bucket", "node")),
          Seq("query_id", "bucket", "node"), "left_anti")
      val stepped = score(expanded).localCheckpoint()
      anchors += stepped
      frontier = frontier.unionByName(stepped)
        .withColumn("rn", row_number().over(wBeam))
        .filter(col("rn") <= beamUpper)
        .select("query_id", "bucket", "node", "sim")
      visited = visited.unionByName(stepped)
    }
    // layer 0: the expanding-beam walk of [[nswSearchIndex]], seeded by
    // the descent's winners instead of a raw sketch entry
    var round_ = 0
    while (round_ < rounds) {
      val expanded = prunedEdges.filter(col("layer") === 0)
        .join(broadcast(frontier.select(col("query_id"), col("bucket"),
          col("node").as("src"))), Seq("bucket", "src"))
        .select(col("query_id"), col("bucket"), col("dst").as("node"))
        .distinct()
        .join(broadcast(visited.select("query_id", "bucket", "node")),
          Seq("query_id", "bucket", "node"), "left_anti")
      val stepped = score(expanded).localCheckpoint()
      anchors += stepped
      frontier = stepped
        .withColumn("rn", row_number().over(wBeam))
        .filter(col("rn") <= beam)
        .select("query_id", "bucket", "node", "sim")
      visited = visited.unionByName(stepped)
      round_ += 1
    }
    // final top-k: the sims in `visited` ARE the exact 6-dp cosines, so
    // this is a dedup (a node can be scored in several probed cells)
    // plus one per-query sort — no second scoring pass
    val wTop = Window.partitionBy("query_id")
      .orderBy(col("cos_sim").desc, col("neighbor_id"))
    collectAndDrop(visited
      .filter(col("query_id") =!= col("node"))
      .select(col("query_id"), col("node").as("neighbor_id"),
        col("sim").as("cos_sim"))
      .distinct()
      .withColumn("rank", row_number().over(wTop))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "cos_sim", "rank"), anchors.toSeq)
  }

  /** One-shot HNSW: [[hnswIndex]] + [[hnswSearchIndex]]. */
  def hnswTopK(
      queries: DataFrame,
      candidates: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      model: IvfIndex.Model,
      nprobe: Int = 2,
      degree: Int = 4,
      beam: Int = 2,
      rounds: Int = 4,
      branch: Int = 4,
      maxLayer: Int = 2,
      beamUpper: Int = 1,
      roundsUpper: Int = 1,
      entryBits: Int = 12): DataFrame = {
    val (nodes, edges) = hnswIndex(candidates, idCol, vecCol, model,
      degree, entryBits, branch, maxLayer)
    hnswSearchIndex(queries, nodes, edges, idCol, vecCol, model, k,
      nprobe, beam, rounds, maxLayer, beamUpper, roundsUpper, entryBits)
  }

  /** Embedding-based near-duplicate detection: per row, how many OTHER
    * vectors exceed `threshold` cosine similarity (0 for unique rows).
    * Exact all-pairs within the provided frame — small-scale truth for
    * cross-checking [[lshNearDupCounts]]; use the bucketed variant at
    * scale.
    */
  def cosineNearDupCounts(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double): DataFrame = {
    val a = normalizedSide(df, idCol, "id", vecCol, "va")
    val b = normalizedSide(df, idCol, "id_b", vecCol, "vb")
    a.join(b, col("id") =!= col("id_b"), "left")
      .groupBy("id")
      .agg(
        count(when(round(NativeVector.dot(col("va"), col("vb")), 6) >= threshold, 1))
          .as("n_near_dups"))
  }

  /** LSH-bucketed near-duplicate counts — the 100 TB shape of
    * [[cosineNearDupCounts]]. Candidate pairs come from same-bucket
    * collisions across `numTables` independent `numBits`-bit SRP
    * signatures; cosine is evaluated only on candidates, never
    * all-pairs, so the plan is scan → bucket shuffle → pair dedup →
    * two key-equi joins → hash agg (no nested-loop join anywhere).
    *
    * Candidate pairs are deduped by id BEFORE the vectors are re-joined,
    * so each surviving pair ships its vectors once regardless of how
    * many buckets it collided in; the per-pair kernel is the codegen'd
    * native dot product. Approximate: a near-dup pair colliding in no
    * table is missed — worst-case per-pair recall at cosine c is
    * 1-(1-p^numBits)^numTables with p = 1 - acos(c)/π (defaults give
    * ≥0.99 at c ≥ 0.92). Deterministic: planes derive from
    * sha-256("srp:seed:b:j"), so results are reproducible cross-engine.
    */
  def lshNearDupCounts(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double,
      numBits: Int = 8,
      numTables: Int = 12,
      seedBase: Long = 42L): DataFrame = {
    val n = normalizedSide(df, idCol, "id", vecCol, "nv")
    val buckets = n.select(col("id"),
      explode(array((0 until numTables).map { t =>
        concat_ws(":", lit(t),
          NativeVector.hyperplaneSig(col("nv"), numBits, seed = seedBase + t * 7919L))
      }: _*)).as("bucket"))
    val cand = buckets.as("l")
      .join(buckets.as("r"), Seq("bucket"))
      .filter(col("l.id") =!= col("r.id"))
      .select(col("l.id").as("id_a"), col("r.id").as("id_b"))
      .dropDuplicates("id_a", "id_b")
    val hits = cand
      .join(n.select(col("id").as("id_a"), col("nv").as("va")), Seq("id_a"))
      .join(n.select(col("id").as("id_b"), col("nv").as("vb")), Seq("id_b"))
      .groupBy("id_a")
      .agg(count(when(round(NativeVector.dot(col("va"), col("vb")), 6) >= threshold, 1))
        .as("n_hits"))
    n.select("id")
      .join(hits, col("id") === col("id_a"), "left")
      .select(col("id"), coalesce(col("n_hits"), lit(0L)).as("n_near_dups"))
  }

  /** Diversity-aware subset selection: greedy k-center (farthest-point
    * traversal) over cosine distance — the classic 2-approximation to
    * the k-center coreset, the "cover the embedding space, don't
    * sample the dense blob twice" selector training-data pipelines run
    * after dedup. Seeded at the smallest id; each round picks the
    * point FARTHEST from the chosen set (max over points of min over
    * centers of `1 − cos`), ties broken by smallest id.
    *
    * Deterministic cross-engine: per-pair cosine rounds to 6 dp before
    * the min/argmax, so center choice is a total order both engines
    * reproduce bit-for-bit (an ulp of libm drift cannot flip the
    * argmax). Output: (center_rank, vec_id, min_dist) — min_dist is
    * the selection-time distance (null for the seed), a coverage-radius
    * curve read directly off the result.
    *
    * Scale shape: the normalized corpus materializes once with a
    * running min-distance-to-chosen-set column; each of the k−1 rounds
    * is ONE map-only pass that dots every point against ONLY the
    * newest center (riding the closure as a literal — KBs) and folds
    * it into the running column via `least`, then a
    * TakeOrderedAndProject(1) — nothing but one row ever reaches the
    * driver per round, O(k·N) dot products total (not the naive
    * O(k²·N) of re-evaluating every center every round). The running
    * column localCheckpoints per round, so plan depth stays O(1) —
    * identical trajectory to the naive form because each pair cosine
    * still rounds to 6 dp BEFORE the min, and
    * `least(dᵢ₋₁, 1 − sim)` ≡ `1 − greatest(sims)` exactly (the
    * rounded sims differ by ≥1e-6, ten orders above double ulp).
    *
    * Restart contract & practical k: greedy farthest-point is
    * inherently SEQUENTIAL — k rounds of (one job + one 1-row
    * collect + one localCheckpoint). The per-round driver round-trip,
    * not the dot products, is the wall at large k: keep k in the
    * hundreds (coreset/probe-set selection), not tens of thousands
    * (use [[IvfIndex]]-style k-means clustering for that regime). The
    * running-state checkpoints live on executors, so an executor loss
    * mid-loop fails the call — rerun it (deterministic); see the
    * restart-contract note on [[graft.operators.Graph]].
    */
  /** Free a `localCheckpoint`ed frame's storage blocks NOW — alias
    * kept for the established call sites; the shared implementation
    * (used by every iterative operator) lives in [[Blocks.drop]].
    */
  private[graft] def dropCheckpointBlocks(df: DataFrame): Unit =
    Blocks.drop(df)

  def kCenterSelect(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int): DataFrame = {
    require(k >= 1, s"need k >= 1, got $k")
    val spark = corpus.sparkSession
    import spark.implicits._
    val n = normalizedSide(corpus, idCol, "id", vecCol, "nv")
      .select(col("id").cast("long").as("id"), col("nv"))
      .localCheckpoint()
    val seed = n.orderBy("id").limit(1)
      .as[(Long, Seq[Double])].collect().headOption
      .getOrElse(throw new IllegalArgumentException(
        "kCenterSelect: no non-zero vectors to select from"))
    // driver state: at most k (rank, id, dist) rows plus the single
    // newest center vector riding each round's closure
    val centers = scala.collection.mutable.ArrayBuffer(
      (1, seed._1, Option.empty[Double]))
    def minusSeed(cv: Seq[Double]) =
      lit(1.0) - round(NativeVector.dot(col("nv"), typedLit(cv)), 6)
    // running min distance to the chosen set — updated against the
    // NEWEST center only, checkpointed so lineage stays flat
    var state = n.filter(col("id") =!= seed._1)
      .select(col("id"), col("nv"), minusSeed(seed._2).as("d"))
      .localCheckpoint()
    var exhausted = false
    while (centers.size < k && !exhausted) {
      val next = state
        .select(col("id"), col("d"), col("nv"))
        .orderBy(col("d").desc, col("id"))
        .limit(1)
        .as[(Long, Double, Seq[Double])].collect().headOption
      next match {
        case Some((id, d, nv)) =>
          centers += ((centers.size + 1, id, Some(d)))
          if (centers.size < k) {
            val prev = state
            state = state.filter(col("id") =!= id)
              .select(col("id"), col("nv"),
                least(col("d"), minusSeed(nv)).as("d"))
              .localCheckpoint() // eager: safe to drop prev's blocks below
            dropCheckpointBlocks(prev)
          }
        case None => exhausted = true // corpus smaller than k
      }
    }
    // the result below is built from driver-side `centers` only —
    // nothing reads the corpus or running state after the loop
    dropCheckpointBlocks(state)
    dropCheckpointBlocks(n)
    centers.toSeq
      .toDF("center_rank", "vec_id", "min_dist")
      .withColumn("min_dist", round(col("min_dist"), 6))
  }

  /** Cosine distance `1 − round(a·b, 6)` between unit vectors, with
    * the SAME 6-dp HALF_UP rounding as the column form (Catalyst
    * `Round` on a double lowers to `BigDecimal(d).setScale(6,
    * HALF_UP)`, which goes through `Double.toString`'s canonical
    * decimal — replicated here bit-for-bit so the local and
    * distributed trajectories agree, and so a SQL oracle's `round`
    * matches). The BigDecimal costs ~100 ns per pair next to a
    * ~60 ns 64-dim dot — acceptable for a selection kernel that runs
    * O(k) times per point; drop the rounding if chasing the last 2×.
    */
  private def dist6(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0
    var i = 0
    while (i < a.length) { s += a(i) * b(i); i += 1 }
    1.0 - BigDecimal(s)
      .setScale(6, scala.math.BigDecimal.RoundingMode.HALF_UP).toDouble
  }

  /** Exact Gonzalez farthest-point over an IN-MEMORY point set: seed
    * is the smallest id, each round adds the point with the largest
    * running min-distance to the chosen set (ties on the smaller id)
    * — the same trajectory contract as [[kCenterSelect]], O(k·n·dim),
    * order-independent (points are sorted by id first). Returns
    * (rank, id, minDistAtSelection, vector); the seed's distance is
    * None. Gonzalez 1985 ("Clustering to minimize the maximum
    * intercluster distance").
    */
  private def gonzalezLocal(ptsIn: Iterator[(Long, Array[Double])],
      k: Int): Array[(Int, Long, Option[Double], Array[Double])] = {
    val pts = ptsIn.toArray.sortBy(_._1)
    if (pts.isEmpty || k < 1) return Array.empty
    val n = pts.length
    val kk = math.min(k, n)
    val out = new Array[(Int, Long, Option[Double], Array[Double])](kk)
    out(0) = (1, pts(0)._1, None, pts(0)._2)
    val taken = new Array[Boolean](n)
    taken(0) = true
    val dmin = Array.fill(n)(Double.PositiveInfinity)
    var last = 0
    var c = 1
    while (c < kk) {
      var best = -1
      var bestD = -1.0
      var i = 0
      while (i < n) {
        if (!taken(i)) {
          val d = dist6(pts(i)._2, pts(last)._2)
          if (d < dmin(i)) dmin(i) = d
          // strict > while scanning ascending id keeps the SMALLEST
          // id on distance ties — the sequential operator's contract
          if (dmin(i) > bestD) { bestD = dmin(i); best = i }
        }
        i += 1
      }
      taken(best) = true
      out(c) = (c + 1, pts(best)._1, Some(bestD), pts(best)._2)
      last = best
      c += 1
    }
    out
  }

  /** Distributed k-center selection for k beyond [[kCenterSelect]]'s
    * sequential reach (thousands to tens of thousands): the two-level
    * composable Gonzalez of Malkomes et al. ("Fast Distributed
    * k-Center Clustering with Outliers on Massive Data", NIPS 2015).
    *
    *   1. shard the corpus deterministically by `id mod L` and run
    *      EXACT Gonzalez k-center inside each shard (one executor
    *      task per shard, zero driver round-trips) — each shard's k
    *      candidates 2-approximate its own optimum;
    *   2. repeat on the L·k survivors (levels shrink by ≥2× because
    *      `maxCandidates ≥ 2k`) until they fit `maxCandidates`;
    *   3. finish with exact Gonzalez over the surviving candidates
    *      driver-side, emitting the same (center_rank, vec_id,
    *      min_dist) shape as [[kCenterSelect]] — min_dist measured
    *      within the candidate set.
    *
    * Each composition level multiplies the approximation factor by at
    * most 2 (Gonzalez's own bound composes), so the usual one-level
    * run is a 4-approximation of the true k-center radius — the
    * quality regime coreset selection needs, at O(log) rounds of ONE
    * job each instead of k sequential collect round-trips.
    *
    * Scale shape: a shard materializes in executor memory
    * (≈ maxCandidates·dim·8 B ≈ 50 MB at the defaults), the per-level
    * exchange is one hash shuffle of (id, vector), and level count is
    * log_{maxCandidates/k}(n/maxCandidates) — 3 levels cover a
    * trillion rows at the defaults. `shards` pins the FIRST level's
    * shard count (driver-deterministic twins and oracles want a fixed
    * L) up to the memory wall — a pin that would pack more than
    * 4·maxCandidates rows into one task is raised to the safe count,
    * so the trajectory contract holds only while
    * n ≤ 4·maxCandidates·shards; 0 derives every level from the live
    * row count.
    *
    * Trajectory contract: with everything in one shard (corpus ≤
    * maxCandidates, shards ≤ 1) the result is IDENTICAL to
    * [[kCenterSelect]] — same seed, same rounding, same tie-breaks.
    */
  def kCenterSelectBatch(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      maxCandidates: Int = 100000,
      shards: Int = 0): DataFrame = {
    require(k >= 1, s"need k >= 1, got $k")
    require(maxCandidates >= 2 * k,
      s"maxCandidates ($maxCandidates) must be >= 2k (${2 * k}) or the " +
        "per-level reduction cannot make progress")
    val spark = corpus.sparkSession
    import spark.implicits._
    var level = normalizedSide(corpus, idCol, "id", vecCol, "nv")
      .select(col("id").cast("long").as("id"), col("nv"))
      .as[(Long, Seq[Double])]
      .localCheckpoint()
    var cnt = level.count()
    var li = shards
    while (cnt > maxCandidates || li > 1) {
      // a pinned first-level shard count holds the oracle trajectory,
      // but never past the memory wall: each shard materializes in one
      // executor task, so once the pin would pack more than 4x the
      // documented ~maxCandidates-row footprint into a task the count
      // is raised — a small pinned `shards` against a huge corpus must
      // degrade to more shards, not an executor OOM
      val l = if (li > 1) math.max(li, math.ceil(
        cnt.toDouble / (4.0 * maxCandidates)).toInt) else math.max(2,
        math.ceil(cnt.toDouble / maxCandidates).toInt)
      li = 0 // the pinned shard count applies to the FIRST level only
      val prev = level
      level = prev
        .groupByKey { case (id, _) => ((id % l) + l) % l }
        .flatMapGroups { (_, it) =>
          gonzalezLocal(it.map { case (id, v) => (id, v.toArray) }, k)
            .iterator.map { case (_, id, _, v) => (id, v.toSeq) }
        }
        .localCheckpoint()
      Blocks.drop(prev.toDF())
      val next = level.count()
      // a shard layout that cannot shrink (every shard under k rows)
      // cannot converge — refuse loudly instead of looping forever
      if (next >= cnt && next > maxCandidates)
        throw new IllegalStateException(
          s"kCenterSelectBatch stalled at $next candidates (> " +
            s"$maxCandidates) — raise maxCandidates or lower k")
      cnt = next
    }
    val cand = level.collect().map { case (id, v) => (id, v.toArray) }
    Blocks.drop(level.toDF())
    if (cand.isEmpty) throw new IllegalArgumentException(
      "kCenterSelectBatch: no non-zero vectors to select from")
    gonzalezLocal(cand.iterator, k)
      .map { case (r, id, d, _) => (r, id, d) }.toSeq
      .toDF("center_rank", "vec_id", "min_dist")
      .withColumn("min_dist", round(col("min_dist"), 6))
  }
}
