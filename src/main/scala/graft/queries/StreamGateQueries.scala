package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Queries.t
import graft.functions.TextFunctions
import graft.streaming.{CdcStream, ClusterStream, DecontaminationStream, DomainStream, DriftStream, IvfStream, KmvStream, LexiconStream, MergeStore, NoveltyStream, ReservoirStream, ScorecardStream, SkewStream, StreamingSketch, TransitionStream}

/** DRIVER-ORACLED streaming gates: each query folds a streaming
  * monitor's `foreachBatch` body over three deterministic id-ordered
  * slices of the fixture corpus — exactly what a micro-batch trigger
  * would deliver in crawl order — and returns the monitor's READ-SIDE
  * output. The DuckDB oracle is the corresponding BATCH query's SQL
  * over the whole table, so the driver itself adjudicates the
  * streamed-fold-equals-batch parity claim that was previously only
  * spec-anchored (ScorecardStreamSpec / NoveltyStreamSpec /
  * DriftStreamSpec remain the richer gates: replay, compaction, real
  * stream wiring).
  *
  * Each call folds into a FRESH temp store (unique directory), so
  * repeated invocations (bench passes, verify) are independent; the
  * stores are per-batch KB..MB-scale parquet, the same state the
  * production monitor would keep.
  */
object StreamGateQueries {

  /** Three contiguous doc-id ranges in nondecreasing order — the
    * parity precondition of the first-seen stores (crawl order). The
    * min/max probe is a 1-row driver read, bounded by construction.
    */
  private def idSlices(docs: DataFrame, idCol: String): Seq[DataFrame] = {
    val mm = docs.agg(min(col(idCol)), max(col(idCol))).collect().head
    if (mm.isNullAt(0)) return Seq(docs)
    val (lo, hi) = (mm.getLong(0), mm.getLong(1))
    val span = hi - lo + 1L
    val cut1 = lo + span / 3
    val cut2 = lo + 2L * span / 3
    Seq(
      docs.filter(col(idCol) < cut1),
      docs.filter(col(idCol) >= cut1 && col(idCol) < cut2),
      docs.filter(col(idCol) >= cut2))
  }

  /** Gate stores created this JVM, deleted on exit: the returned
    * frames read the stores LAZILY (the driver/bench materializes
    * them after the gate returns), so eager deletion inside the gate
    * would pull the parquet out from under the result — instead every
    * store is registered once and a single shutdown hook sweeps them,
    * so a bench/verify run leaves no graft_q_stream_* dirs behind.
    */
  private val tempRoots = new java.util.concurrent.ConcurrentLinkedQueue[java.nio.file.Path]()
  private lazy val cleanupHook: Unit =
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      tempRoots.forEach { root =>
        try {
          import scala.jdk.CollectionConverters._
          java.nio.file.Files.walk(root).iterator().asScala.toSeq
            .sortBy(-_.getNameCount)
            .foreach(p => java.nio.file.Files.deleteIfExists(p))
        } catch { case _: Throwable => () } // best-effort sweep
      }
    }))

  private[queries] def tempRoot(prefix: String): String = {
    cleanupHook
    val p = java.nio.file.Files.createTempDirectory(prefix)
    tempRoots.add(p)
    p.toString
  }

  /** Three contiguous TIME ranges — the arrival order a real event
    * stream delivers (the transition monitor's parity precondition is
    * per-user time-ordered arrival; same-timestamp rows always land
    * in one batch because the cut is on the timestamp itself).
    */
  private def tsSlices(events: DataFrame, tsCol: String): Seq[DataFrame] = {
    val us = unix_micros(col(tsCol))
    val mm = events.agg(min(us), max(us)).collect().head
    if (mm.isNullAt(0)) return Seq(events)
    val (lo, hi) = (mm.getLong(0), mm.getLong(1))
    val span = hi - lo + 1L
    val cut1 = lo + span / 3
    val cut2 = lo + 2L * span / 3
    Seq(
      events.filter(us < cut1),
      events.filter(us >= cut1 && us < cut2),
      events.filter(us >= cut2))
  }

  /** The live corpus scorecard after streaming the documents table in
    * three crawl-order batches; oracle = the batch q_corpus_scorecard
    * SQL. Every column — including the DECIMAL-folded means and the
    * first-owner dup attribution — must match the batch composition
    * exactly for the driver hash to hold.
    */
  def streamScorecard(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
      .select(col("doc_id"), col("source"), col("lang"), col("text"))
    val root = tempRoot("graft_q_stream_scorecard")
    idSlices(docs, "doc_id").zipWithIndex.foreach { case (b, i) =>
      ScorecardStream.scorecardBatch(
        b, "doc_id", "source", "lang", "text",
        root, ScorecardStream.Config(), i.toLong)
    }
    ScorecardStream.scorecard(s, root)
      .getOrElse(s.emptyDataFrame)
  }

  /** Per-doc n-gram novelty from the streamed first-seen gram store
    * (the union of the three batch reports); oracle = the batch
    * q_ngram_novelty SQL. First-seen attribution must resolve
    * identically across the batch boundary for every doc.
    */
  def streamNovelty(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
    val state = tempRoot("graft_q_stream_novelty_state")
    val reports = tempRoot("graft_q_stream_novelty_reports")
    idSlices(docs, "doc_id").zipWithIndex.foreach { case (b, i) =>
      NoveltyStream.noveltyBatch(
        b, "doc_id", "text", state, reports,
        NoveltyStream.Config(), i.toLong)
    }
    NoveltyStream.reports(s, reports)
      .map(_.select("doc_id", "n_ngrams", "n_novel", "novelty"))
      .getOrElse(s.emptyDataFrame)
  }

  /** Incremental SCD maintenance adjudicated by the BATCH SCD oracle:
    * the q_scd_status snapshot table arrives as three date-ordered
    * micro-batches — the first classified from scratch, the next two
    * merged in with [[graft.operators.ScdIncremental.mergeBatch]]
    * (O(touched-entities) work per batch, never a full recompute) —
    * and the final history must equal the batch classification of the
    * whole table, change_status and changed_status_date included
    * (late-global-max Deleted flips across the batch boundary are the
    * hard part). Oracle = q_scd_status's SQL.
    */
  def streamScd(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.{Scd, ScdIncremental}
    import org.apache.spark.sql.expressions.Window
    val dedupW = Window.partitionBy("snapshot_date", "o_custkey")
      .orderBy(col("o_orderkey").desc)
    val snap = t(s, dir, "orders")
      .withColumn("snapshot_date", col("o_orderdate").cast("date"))
      .withColumn("rn", row_number().over(dedupW))
      .filter(col("rn") === 1)
      .select("snapshot_date", "o_custkey", "o_orderstatus", "o_orderpriority")
    val mm = snap.agg(min("snapshot_date"), max("snapshot_date")).collect().head
    if (mm.isNullAt(0)) return s.emptyDataFrame
    val (lo, hi) = (mm.getDate(0).toLocalDate, mm.getDate(1).toLocalDate)
    val span = java.time.temporal.ChronoUnit.DAYS.between(lo, hi) + 1
    val cut1 = java.sql.Date.valueOf(lo.plusDays(span / 3))
    val cut2 = java.sql.Date.valueOf(lo.plusDays(2 * span / 3))
    val slices = Seq(
      snap.filter(col("snapshot_date") < lit(cut1)),
      snap.filter(col("snapshot_date") >= lit(cut1) &&
        col("snapshot_date") < lit(cut2)),
      snap.filter(col("snapshot_date") >= lit(cut2)))
    var hist = slices.head
      .transform(Scd.addRowHash(exclude = Seq("snapshot_date")))
      .transform(Scd.changeStatus(entityCols = Seq("o_custkey")))
      .drop(Scd.RowHash)
      .localCheckpoint()
    slices.tail.foreach { b =>
      val next = ScdIncremental.mergeBatch(hist, b, Seq("o_custkey"))
        .localCheckpoint()
      graft.operators.SimilaritySearch.dropCheckpointBlocks(hist)
      hist = next
    }
    hist.select("o_custkey", "snapshot_date", "change_status",
      "changed_status_date")
  }

  /** Incremental near-dup clustering adjudicated by the batch
    * recursive-CTE oracle: the minhash candidate PAIRS arrive in
    * three batches (a pair arrives when its LATER endpoint does —
    * crawl semantics), each folded by [[ClusterStream.mergeBatch]]
    * (prior labels re-enter as star edges, CC walks only the new
    * connections). The final labels must equal the from-scratch
    * resolve over every pair — q_dedup_clusters' oracle.
    */
  def streamCluster(s: SparkSession, dir: String): DataFrame = {
    // the candidate pipeline (shingle → minhash → band join) is the
    // expensive part — pin it ONCE: idSlices' min/max probe plus the
    // three batch filters would otherwise re-execute it four times
    val pairs = DedupQueries.dedupMinHash(s, dir)
      .select(col("id_a"), col("id_b"),
        greatest(col("id_a"), col("id_b")).as("__arr"))
      .localCheckpoint()
    val state = tempRoot("graft_q_stream_cluster")
    idSlices(pairs, "__arr").zipWithIndex.foreach { case (b, i) =>
      ClusterStream.mergeBatch(b.select("id_a", "id_b"), state, i.toLong)
    }
    // the labels read the parquet state store, not `pairs`
    graft.operators.Blocks.drop(pairs)
    ClusterStream.labels(s, state)
      .withColumnRenamed("node", "doc_id")
  }

  /** Live benchmark-store decontamination: the eval set arrives in
    * three batches (benchmark releases — the side that actually
    * updates), each reduced to its distinct shingle hashes; gating
    * the corpus through the merged store must equal the batch
    * q_decontaminate report over the full benchmark — the semilattice
    * store argument, driver-checked.
    */
  def streamDecontaminate(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val bench = docs.filter(col("doc_id") % 13 === 0)
      .select(col("doc_id"), col("text"))
    val state = tempRoot("graft_q_stream_decontaminate")
    idSlices(bench, "doc_id").zipWithIndex.foreach { case (b, i) =>
      DecontaminationStream.mergeBatch(b, "doc_id", "text", state,
        DecontaminationStream.Config(shingleSize = 3, threshold = 0.8), i.toLong)
    }
    graft.operators.Decontaminate.overlapReportHashes(
      docs, DecontaminationStream.hashes(s, state), "doc_id", "text",
      shingleSize = 3, threshold = 0.8)
  }

  /** Streaming change-data-capture adjudicated by the batch snapshot
    * diff: the q_snapshot_diff query's "old" and "current" per-customer
    * latest-order snapshots arrive as two consecutive full-snapshot
    * micro-batches through [[CdcStream.snapshotDiffBatch]]; the
    * second batch's emitted change log must equal the batch
    * SnapshotDiff over the same pair — added/removed/changed and the
    * changed-column lists included.
    */
  def streamCdc(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val o = t(s, dir, "orders")
      .select("o_custkey", "o_orderkey", "o_orderdate", "o_totalprice",
        "o_orderstatus")
    def latest(df: DataFrame): DataFrame = df
      .withColumn("__rn", row_number().over(
        Window.partitionBy("o_custkey")
          .orderBy(col("o_orderdate").desc, col("o_orderkey").desc)))
      .filter(col("__rn") === 1).drop("__rn")
    val old = latest(o.filter(
      col("o_orderdate") < lit("1997-01-01").cast("timestamp")))
    val cur = latest(o.filter(
      col("o_orderdate") >= lit("1995-01-01").cast("timestamp")))
    val state = tempRoot("graft_q_stream_cdc_state")
    val changes = tempRoot("graft_q_stream_cdc_changes")
    val write = CdcStream.snapshotDiffBatch(state, changes, Seq("o_custkey")) _
    write(old, 0L)
    write(cur, 1L)
    MergeStore(changes, MergeStore.OutputLog).batch(s, 1L)
      .select("o_custkey", "change_type", "changed_cols")
  }

  /** The live behavioral-transition matrix after the event stream
    * arrives in three TIME-ordered batches (boundary transitions —
    * a user's last event of batch N to their first of batch N+1 —
    * are exactly what the carried last-event store exists for);
    * oracle = the batch q_event_transitions SQL over the whole
    * stream, PMI and conditional probabilities included.
    */
  def streamTransitions(s: SparkSession, dir: String): DataFrame = {
    val evs = t(s, dir, "events")
      .select(col("user_id"), col("ts"), col("event_type"), col("event_id"))
    val pairsDir = tempRoot("graft_q_stream_trans_pairs")
    val lastDir = tempRoot("graft_q_stream_trans_last")
    val write = TransitionStream.transitionBatch(
      "user_id", "ts", "event_type", "event_id", pairsDir, lastDir) _
    tsSlices(evs, "ts").zipWithIndex.foreach { case (b, i) => write(b, i.toLong) }
    TransitionStream.matrix(s, pairsDir)
  }

  /** The live weighted reservoir after the documents arrive in three
    * batches; oracle = the batch q_weighted_sample_grouped SQL. The
    * Efraimidis-Spirakis key is a pure function of (seed, id, weight),
    * so "k best per source" over merged candidate sets must equal the
    * one-pass batch sample EXACTLY — ranks included.
    */
  def streamReservoir(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").select("source", "doc_id", "n_chars")
    val state = tempRoot("graft_q_stream_reservoir")
    idSlices(docs, "doc_id").zipWithIndex.foreach { case (b, i) =>
      ReservoirStream.mergeBatch(b, "source", "doc_id", "n_chars", state,
        ReservoirStream.Config(k = 20, seed = 17L), i.toLong)
    }
    ReservoirStream.sample(s, state, ReservoirStream.Config(k = 20, seed = 17L))
      // the store carries weights as double (the E-S key domain); the
      // batch query's weights are the raw integral n_chars — cast back
      .select(col("source"), col("id").as("doc_id"),
        col("weight").cast("long").as("weight"), col("sample_rank"))
  }

  /** Fold the documents into a fresh streamed lexicon (unigram count)
    * store — ONE store serves all three live lexical signals below,
    * the "one mergeable representation, many metrics" design.
    */
  private def lexiconStore(s: SparkSession, dir: String): String = {
    val docs = t(s, dir, "documents").select(col("doc_id"), col("source"), col("text"))
    val store = tempRoot("graft_q_stream_lexicon")
    val write = LexiconStream.lexiconBatch("source", "text", store) _
    idSlices(docs, "doc_id").zipWithIndex.foreach { case (b, i) => write(b, i.toLong) }
    store
  }

  /** Live per-source Zipf slope off the streamed lexicon store;
    * oracle = the batch q_zipf_slope SQL.
    */
  def streamZipf(s: SparkSession, dir: String): DataFrame =
    LexiconStream.zipfSlope(s, lexiconStore(s, dir))

  /** Live pairwise source JS divergence off the same store shape;
    * oracle = the batch q_source_divergence SQL.
    */
  def streamDivergence(s: SparkSession, dir: String): DataFrame =
    LexiconStream.jsDivergence(s, lexiconStore(s, dir))

  /** Live source-distinctive terms off the same store shape;
    * oracle = the batch q_distinctive_terms SQL.
    */
  def streamDistinctive(s: SparkSession, dir: String): DataFrame =
    LexiconStream.distinctiveTerms(s, lexiconStore(s, dir))

  /** The live IVF similarity index after the embeddings stream in as
    * three batches under a FIXED coarse quantizer (the versioned-model
    * production pattern); searching the streamed index must equal the
    * batch q_simsearch_ivf search — cell assignment is a pure function
    * of (model, vector), so the union of per-batch assignments IS the
    * batch index. Oracle = q_simsearch_ivf's full DuckDB replay
    * (centroids, probe set, candidate scoring, top-5).
    */
  def streamIvf(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    val model = graft.operators.IvfIndex.train(
      e, "vec_id", "embedding", k = 16, iters = 0)
    val state = tempRoot("graft_q_stream_ivf")
    idSlices(e.select(col("vec_id"), col("embedding")), "vec_id")
      .zipWithIndex.foreach { case (b, i) =>
        IvfStream.mergeBatch(b, "vec_id", "embedding", model, state, i.toLong)
      }
    IvfStream.search(e.filter(col("vec_id") < 10), s, state,
      "vec_id", "embedding", model, kNeighbors = 5, nprobe = 4)
      .withColumn("rank", col("rank").cast("long"))
  }

  /** The live heavy-hitter verdicts off the merged per-batch count-min
    * sketches: CMS counters are LINEAR, so the merge of three batch
    * sketches is bit-identical to the one-pass corpus sketch — every
    * estimate, and therefore every within-bound verdict, must equal
    * the batch q_heavy_hitters row set. Oracle = that query's SQL.
    */
  def streamSketch(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
    def words(df: DataFrame): DataFrame = df.select(
      explode(split(TextFunctions.normalizeText(col("text")), " ")).as("word"))
    val cfg = StreamingSketch.Config(eps = 0.001, confidence = 0.99, seed = 17)
    val state = tempRoot("graft_q_stream_sketch")
    idSlices(docs, "doc_id").zipWithIndex.foreach { case (b, i) =>
      StreamingSketch.mergeBatch(words(b), "word", state, cfg, i.toLong)
    }
    val exact = words(docs).groupBy("word").agg(count(lit(1)).as("n_exact"))
      .filter(col("n_exact") >= 100)
    StreamingSketch.estimates(exact, "word", state, cfg)
      .select(col("word"), col("n_exact"),
        (col("cms_est") >= col("n_exact") &&
          col("cms_est") <= col("n_exact") + col("cms_slack"))
          .as("within_bound"))
  }

  /** The live cross-source KMV overlap matrix after streaming the
    * documents in three batches; oracle = the batch
    * q_source_overlap_sketch SQL. KMV sketches are a semilattice
    * (merge = k smallest distinct of the union), so the streamed
    * merge must reproduce the one-pass sketch — and therefore every
    * estimate — EXACTLY.
    */
  def streamKmvOverlap(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
      .select(col("doc_id"), col("source"), col("text"))
    val state = tempRoot("graft_q_stream_kmv")
    idSlices(docs, "doc_id").zipWithIndex.foreach { case (b, i) =>
      KmvStream.mergeBatch(b, "source", "text", state,
        KmvStream.Config(n = 8, k = 256), i.toLong)
    }
    KmvStream.overlapMatrix(s, state, KmvStream.Config(n = 8, k = 256))
  }

  /** The live shuffle-key skew report after streaming both monitored
    * tables in three batches each; oracle = the batch q_skew_report
    * SQL. Per-key counts are additive, so the cumulative store's
    * report must equal the batch report to the last digit —
    * suggested_salt's integer ceil included.
    */
  def streamSkew(s: SparkSession, dir: String): DataFrame = {
    def fold(df: DataFrame, idCol: String, keyCol: String, name: String): DataFrame = {
      val state = tempRoot(s"graft_q_stream_skew_$name")
      val cols = Seq(idCol, keyCol).distinct.map(col)
      idSlices(df.select(cols: _*), idCol)
        .zipWithIndex.foreach { case (b, i) =>
          SkewStream.countBatch(b, keyCol, state, i.toLong)
        }
      SkewStream.report(s, state, keyCol).getOrElse(s.emptyDataFrame)
    }
    fold(t(s, dir, "events"), "event_id", "user_id", "events")
      .unionAll(fold(t(s, dir, "lineitem"), "l_orderkey", "l_orderkey", "li"))
  }

  /** The cumulative length-distribution chi-square after the third
    * micro-batch; oracle = the batch q_distribution_drift SQL (the
    * cumulative count store after batch N IS the whole corpus).
    */
  def streamDrift(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").select(col("doc_id"), col("source"), col("n_chars"))
    val store = tempRoot("graft_q_stream_drift_store")
    val drift = tempRoot("graft_q_stream_drift_out")
    idSlices(docs, "doc_id").zipWithIndex.foreach { case (b, i) =>
      DriftStream.driftBatch(store, drift)(
        graft.operators.Drift.lengthBuckets(b, "source", "n_chars"), i.toLong)
    }
    MergeStore(drift, MergeStore.OutputLog).batch(s, 2L)
      .select("source", "n_docs", "chi2")
  }

  /** Incremental streaming near-dup detection adjudicated by the
    * FULL-CORPUS batch oracle: the near-dup fixture corpus arrives as
    * three crawl-order batches, each paired against the persisted
    * signature store ([[StreamingDedup.incrementalDedupBatch]] — only
    * the batch is shingled and hashed, store rows enter as pruned
    * `(id, band)` pairs), and the UNION of the per-batch pair files
    * must equal the one-shot [[graft.operators.Dedup.minHashCandidates]]
    * pair set: a pair is emitted exactly once, in the batch where its
    * later document arrives (batch-vs-store or batch-vs-batch), so the
    * union covers every pair with no duplicates. Oracle =
    * q_dedup_minhash's SQL.
    */
  def streamDedupIncr(s: SparkSession, dir: String): DataFrame = {
    import graft.streaming.StreamingDedup
    val corpus = DedupQueries.nearDupCorpus(s, dir)
    val store = tempRoot("graft_q_stream_dedup_store")
    val pairsDir = tempRoot("graft_q_stream_dedup_pairs")
    val slices = idSlices(corpus, "doc_id")
    slices.zipWithIndex.foreach { case (b, i) =>
      StreamingDedup.incrementalDedupBatch(
        store, pairsDir, "text", "doc_id",
        numHashes = DedupQueries.MinHashNumHashes,
        shingleSize = DedupQueries.MinHashShingle,
        bands = DedupQueries.MinHashBands)(b, i.toLong)
    }
    MergeStore(pairsDir, MergeStore.OutputLog).read(s).get
      .select("id_a", "id_b")
  }

  /** The WHOLE streaming curation pipeline
    * ([[graft.streaming.TrainingCorpusStreaming]]) driver-adjudicated:
    * the documents table arrives as three crawl-order batches, each
    * folded through `mergeBatch` (per-doc enrichment once, global
    * re-resolution over metadata-weight state, atomic state+corpus
    * replace), and the final packed corpus must equal the batch
    * composition — exact-dedup reps, minhash-LSH + connected-component
    * near-dup losers, contamination probe vs the static benchmark
    * docs (doc_id % 13), PII redaction, quality gate at 0.5, and
    * token-budget packing — every stage replayed cell-for-cell by the
    * DuckDB oracle ([[streamCorpusSql]]). Sampling runs at fraction
    * 1.0 so the oracle needs no hash-sampling CTE; the q_sample_mix
    * oracle covers that stage separately.
    *
    * Input is pre-filtered to docs with >= 3 normalized tokens (the
    * minhash shingle precondition, same filter as the near-dup fixture
    * corpus) and gets a synthetic deterministic `ts` (the pipeline
    * schema carries event time; the gate's output does not select it).
    */
  def streamCorpus(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.JsonLines
    import graft.streaming.TrainingCorpusStreaming
    val docs = t(s, dir, "documents")
      .filter(TextFunctions.tokenCount(
        TextFunctions.normalizeText(col("text"))) >= 3)
      .select(col("doc_id"),
        timestamp_seconds(lit(1700000000L) + col("doc_id")).as("ts"),
        col("lang"), col("text"))
    // hashed ONCE before the fold — the production contract
    // (start() persists the benchmark store up front)
    val benchHashes = graft.operators.Decontaminate.benchmarkHashes(
      docs.filter(col("doc_id") % 13 === 0).select("doc_id", "text"),
      "doc_id", "text").localCheckpoint(true)
    val out = tempRoot("graft_q_stream_corpus")
    // partitioned sink: the driver oracle adjudicates the O(changed
    // shards) fingerprint-diff path; the atomic-replace default stays
    // covered by the convergence spec
    val cfg = TrainingCorpusStreaming.Config(
      sampleFractions = Map.empty, partitionedCorpus = true)
    idSlices(docs, "doc_id").zipWithIndex.foreach { case (b, i) =>
      TrainingCorpusStreaming.mergeBatch(
        b.withColumn(JsonLines.CorruptCol, lit(null).cast("string")),
        benchHashes, out, cfg, i.toLong)
    }
    TrainingCorpusStreaming.corpus(s, out)
      .select(col("doc_id"), col("lang"),
        sha2(col("text"), 256).as("text_fp"),
        col("quality"), col("n_tokens"),
        col("shard").cast("long").as("shard"),
        col("pack_id"), col("pack_pos"))
  }

  /** Live embedding-space drift off the streamed centroid-sum store:
    * the CURRENT half of the embeddings table (odd vec_id) arrives as
    * three crawl-order batches, each folding its exact quantized
    * per-(label, dim) sums into the [[EmbeddingDriftStream]] store;
    * the read-side shift against the fixed even-id reference must
    * equal the one-shot batch [[graft.operators.VectorStats
    * .centroidShift]] (sums and counts are the mergeable
    * representation, so the streamed fold is bit-identical by
    * construction — and the driver now adjudicates that). Oracle =
    * q_embedding_drift's SQL.
    */
  def streamEmbeddingDrift(s: SparkSession, dir: String): DataFrame = {
    import graft.streaming.EmbeddingDriftStream
    val e = t(s, dir, "embeddings")
    val cur = e.filter(col("vec_id") % 2 === 1)
    val store = tempRoot("graft_q_stream_embdrift")
    idSlices(cur, "vec_id").zipWithIndex.foreach { case (b, i) =>
      EmbeddingDriftStream.driftBatch("label", "embedding", store)(b, i.toLong)
    }
    EmbeddingDriftStream.shift(s, store,
      EmbeddingDriftStream.referenceSums(
        e.filter(col("vec_id") % 2 === 0), "label", "embedding"))
  }

  /** Stream-static enrichment: the events table arrives as three
    * time-ordered batches, each broadcast-left-joined inside the
    * [[graft.streaming.StreamingEnrich]] foreachBatch body against
    * the freshest committed customer dimension; the union of the
    * enriched batches must equal the one-shot batch left join (every
    * event in exactly one batch + a static dim during the fold ⇒
    * exact parity, and unmatched events must pass through with nulls
    * on both sides). Oracle = the plain LEFT JOIN SQL.
    */
  def streamEnrich(s: SparkSession, dir: String): DataFrame = {
    import graft.streaming.StreamingEnrich
    val events = t(s, dir, "events")
      .select("event_id", "ts", "user_id", "event_type")
    val dimDir = tempRoot("graft_q_stream_enrich_dim")
    val outDir = tempRoot("graft_q_stream_enrich_out")
    t(s, dir, "customer")
      .select(col("c_custkey").as("user_id"),
        col("c_nationkey"), col("c_mktsegment"))
      .write.mode("overwrite").parquet(dimDir)
    val out = MergeStore(outDir, MergeStore.OutputLog)
    tsSlices(events, "ts").zipWithIndex.foreach { case (b, i) =>
      StreamingEnrich.enrichBatch(dimDir, Seq("user_id"), out.write)(b, i.toLong)
    }
    out.read(s).get
      .select("event_id", "user_id", "event_type",
        "c_nationkey", "c_mktsegment")
  }

  val streamEnrichSql: String =
    """SELECT e.event_id, e.user_id, e.event_type,
      |  c.c_nationkey, c.c_mktsegment
      |FROM events e LEFT JOIN customer c ON c.c_custkey = e.user_id""".stripMargin

  /** DuckDB twin of [[streamCorpus]]: the batch composition of every
    * pipeline stage, built from the SAME per-stage formulas the
    * stage-level oracles already pin (fingerprint reps as in
    * q_curate_corpus, minhash pairs via
    * [[DedupQueries.minHashPairsCtesOver]], recursive-CTE components as
    * in q_dedup_clusters, contamination as in q_decontaminate,
    * redaction as in q_text_redact, quality as in q_quality_calibrated,
    * packing as in q_doc_packing).
    */
  val streamCorpusSql: String = {
    val piiChain =
      """regexp_replace(regexp_replace(regexp_replace(text,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    'https?://[^\s]+', '<URL>', 'g'),
        |    '\+?[0-9][0-9() .-]{7,}[0-9]', '<PHONE>', 'g')""".stripMargin
    s"""WITH RECURSIVE src AS (SELECT doc_id, lang, text FROM documents
       |  WHERE len(regexp_extract_all(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), '\\S+')) >= 3),
       |fpt AS (SELECT doc_id, lang, text,
       |    sha256(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS f
       |  FROM src),
       |reps AS (SELECT doc_id, lang, text FROM (
       |    SELECT *, min(doc_id) OVER (PARTITION BY f) AS rep FROM fpt)
       |  WHERE doc_id = rep),
       |${DedupQueries.minHashPairsCtesOver("SELECT doc_id, text FROM reps")},
       |edges AS (SELECT id_a AS a, id_b AS b FROM pairs
       |  UNION SELECT id_b, id_a FROM pairs),
       |reach(v, u) AS (
       |  SELECT a, a FROM edges
       |  UNION
       |  SELECT r.v, e.b FROM reach r JOIN edges e ON r.u = e.a),
       |losers AS (SELECT v AS doc_id FROM reach GROUP BY v
       |  HAVING v != min(u)),
       |bwords AS (SELECT
       |    string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS w
       |  FROM src WHERE doc_id % 13 = 0),
       |bench AS (SELECT DISTINCT unnest(list_transform(range(1, len(w) - 1),
       |    i -> CAST(('0x' || substr(sha256(w[i] || ' ' || w[i+1] || ' ' || w[i+2]), 1, 8)) AS BIGINT))) AS h
       |  FROM bwords),
       |csets AS (SELECT doc_id, list_distinct(hashes) AS hset FROM hs),
       |hits AS (SELECT c.doc_id, count(*) AS n_overlap
       |  FROM (SELECT doc_id, unnest(hset) AS h FROM csets) c
       |  JOIN bench ON c.h = bench.h GROUP BY 1),
       |contam AS (SELECT cs.doc_id,
       |    CASE WHEN len(cs.hset) > 0
       |         THEN round(coalesce(ht.n_overlap, 0) / len(cs.hset), 6) >= 0.8
       |         ELSE false END AS contaminated
       |  FROM csets cs LEFT JOIN hits ht ON cs.doc_id = ht.doc_id),
       |red AS (SELECT doc_id, lang, $piiChain AS rtext FROM reps),
       |ql AS (SELECT doc_id, lang, rtext,
       |    CAST(len(regexp_extract_all(rtext, '\\S+')) AS BIGINT) AS n_tok,
       |    CAST(length(rtext) AS BIGINT) AS n_chr
       |  FROM red),
       |awl AS (SELECT *,
       |    CASE WHEN n_tok > 0 THEN CAST(n_chr AS DOUBLE) / CAST(n_tok AS DOUBLE)
       |         ELSE 0.0 END AS avg_wl
       |  FROM ql),
       |sc AS (SELECT doc_id, lang, rtext, n_tok,
       |    round(least(CAST(n_chr AS DOUBLE) / 200.0, 1.0) * 0.5 +
       |      (CASE WHEN avg_wl BETWEEN 3 AND 10 THEN 1.0
       |            WHEN avg_wl > 0 THEN 0.5 ELSE 0.0 END) * 0.5, 6) AS quality
       |  FROM awl),
       |kept AS (SELECT s.doc_id, s.lang, s.rtext, s.quality,
       |    s.n_tok AS n_tokens
       |  FROM sc s JOIN contam c ON s.doc_id = c.doc_id
       |  WHERE NOT c.contaminated AND s.quality >= 0.5
       |    AND s.doc_id NOT IN (SELECT doc_id FROM losers)),
       |pk AS (SELECT *,
       |    CAST(('0x' || substr(sha256(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 8 AS shard
       |  FROM kept),
       |cw AS (SELECT *, sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM pk)
       |SELECT doc_id, lang, sha256(rtext) AS text_fp, quality, n_tokens,
       |  CAST(shard AS BIGINT) AS shard,
       |  CAST(floor((cum - n_tokens) / 2048.0) AS BIGINT) AS pack_id,
       |  CAST(row_number() OVER (PARTITION BY shard,
       |      floor((cum - n_tokens) / 2048.0) ORDER BY doc_id) AS BIGINT) AS pack_pos
       |FROM cw""".stripMargin
  }

  // ---- live privacy monitor: four reports off ONE streamed
  // (quasi × sensitive) count store ([[PrivacyStream]]); counts are
  // additive, so each cumulative report equals its batch operator on
  // the whole table — oracles are the batch privacy queries' SQL.

  /** The customer fixture with the sensitive kilobucket, sliced into
    * three key-ordered batches and folded into a fresh store; returns
    * the store dir for the caller's read-side report.
    */
  private def foldPrivacyStore(s: SparkSession, dir: String): String = {
    val c = t(s, dir, "customer")
      .withColumn("bal_bucket", floor(col("c_acctbal") / 1000.0))
    val root = tempRoot("graft_q_stream_privacy")
    idSlices(c, "c_custkey").zipWithIndex.foreach { case (b, i) =>
      graft.streaming.PrivacyStream.countBatch(
        b, Seq("c_nationkey", "c_mktsegment"), "bal_bucket", root, i.toLong)
    }
    root
  }

  /** Live k-anonymity off the cumulative store; oracle =
    * q_k_anonymity's batch SQL.
    */
  def streamKAnonymity(s: SparkSession, dir: String): DataFrame =
    graft.streaming.PrivacyStream.kAnonymity(
      s, foldPrivacyStore(s, dir),
      Seq("c_nationkey", "c_mktsegment"), "bal_bucket", k = 5L)
      .getOrElse(s.emptyDataFrame)

  /** Live l-diversity off the same store algebra; oracle =
    * q_l_diversity's batch SQL (distinct sensitive values per class =
    * count-table rows present — the null-skipping count_distinct
    * contract).
    */
  def streamLDiversity(s: SparkSession, dir: String): DataFrame =
    graft.streaming.PrivacyStream.lDiversity(
      s, foldPrivacyStore(s, dir),
      Seq("c_nationkey", "c_mktsegment"), "bal_bucket", k = 5L, l = 3L)
      .getOrElse(s.emptyDataFrame)

  /** Live t-closeness; oracle = q_t_closeness's batch SQL — the EMD
    * grid, window and DECIMAL fold all replay off the summed store.
    */
  def streamTCloseness(s: SparkSession, dir: String): DataFrame =
    graft.streaming.PrivacyStream.tCloseness(
      s, foldPrivacyStore(s, dir),
      Seq("c_nationkey", "c_mktsegment"), "bal_bucket", t = 0.2)
      .getOrElse(s.emptyDataFrame)

  /** Live DP release; oracle = q_dp_release's batch SQL — noise is a
    * pure function of (seed, group key), so the cumulative release
    * equals the batch release exactly.
    */
  def streamDpRelease(s: SparkSession, dir: String): DataFrame =
    graft.streaming.PrivacyStream.dpRelease(
      s, foldPrivacyStore(s, dir),
      Seq("c_nationkey", "c_mktsegment"), "bal_bucket",
      epsilon = 1.0, releaseThreshold = 5.0, seed = 42L, epoch = 7L)
      .getOrElse(s.emptyDataFrame)

  /** Incremental entity resolution ([[graft.streaming.LinkageStream]]):
    * the dirty side arrives in three id-ordered batches, each blocked
    * + scored once against the static customer reference; the union
    * of the per-batch verdict partitions must equal the one-shot
    * batch linkage (a pair exists exactly when its right row exists,
    * and scoring is pure per pair). Oracle = q_record_linkage's SQL.
    * The guard is off here (maxBlock=0) so parity is unconditional;
    * the batch query exercises the guard path.
    */
  def streamRecordLinkage(s: SparkSession, dir: String): DataFrame = {
    val root = tempRoot("graft_q_stream_linkage")
    val reference = DedupQueries.linkageLeft(s, dir)
    idSlices(DedupQueries.linkageRight(s, dir), "r_id").zipWithIndex.foreach {
      case (b, i) =>
        graft.streaming.LinkageStream.linkBatch(
          reference, b, Seq(("l_block", "r_block")),
          DedupQueries.linkageFields, keep = Seq("c_custkey", "r_id"),
          upper = 6.0, lower = 0.0, pairsDir = root, batchId = i.toLong)
    }
    graft.streaming.LinkageStream.verdicts(s, root)
      .map(_.drop(MergeStore.BatchCol)) // not part of the verdict
      .getOrElse(s.emptyDataFrame)
  }

  /** Live event-rate control chart ([[graft.streaming.RateStream]]):
    * the events table arrives as three TIME-sliced batches (arrival
    * order); the cumulative (type, hour) count store's report must
    * equal the batch q_rate_anomaly — zero-filled silent hours, z
    * boundaries and all. Oracle = q_rate_anomaly's SQL.
    */
  def streamRateAnomaly(s: SparkSession, dir: String): DataFrame = {
    val events = t(s, dir, "events").select(col("event_type"), col("ts"))
    val root = tempRoot("graft_q_stream_rate")
    tsSlices(events, "ts").zipWithIndex.foreach { case (b, i) =>
      graft.streaming.RateStream.countBatch(b, "event_type", "ts", root, i.toLong)
    }
    graft.streaming.RateStream.report(s, root, "event_type", zThreshold = 3.0)
      .getOrElse(s.emptyDataFrame)
  }

  /** The live golden record ([[graft.streaming.GoldenStream]]):
    * entity-labelled records arrive in three id-ordered batches, each
    * folded into the (entity × attr × value) count store; the served
    * golden record over the cumulative store must equal the one-pass
    * batch survivorship — modal ties, best-balance and member counts
    * included. Oracle = q_golden_record's SQL. The labelled frame is
    * checkpointed once so the three slice filters don't re-run the
    * linkage + cluster resolution per batch.
    */
  def streamGolden(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Survivorship._
    val root = tempRoot("graft_q_stream_golden")
    val labelled = DedupQueries.erLabelledRecords(s, dir).localCheckpoint(true)
    idSlices(labelled, "rec_id").zipWithIndex.foreach { case (b, i) =>
      graft.streaming.GoldenStream.countBatch(
        b, "entity_id", Seq("name", "nationkey", "mktsegment", "acctbal"),
        root, i.toLong)
    }
    graft.streaming.GoldenStream.goldenRecord(s, root, Seq(
      MostFrequent("name", "name"),
      MostFrequent("nationkey", "nationkey", tieCast = "long"),
      MostFrequent("mktsegment", "mktsegment"),
      MaxOf("acctbal", "best_acctbal")))
      .map(_.select(col("entity_id"), col("n_records"), col("name"),
        col("nationkey").cast("long").as("nationkey"), col("mktsegment"),
        col("best_acctbal")))
      .getOrElse(s.emptyDataFrame)
  }

  // ---- LIVE-ENGINE gates: unlike every gate above (which folds
  // foreachBatch bodies by hand), these run the ACTUAL structured-
  // streaming engine — micro-batch scheduler, state store, watermark
  // tracking — via a file source with maxFilesPerTrigger=1 and
  // Trigger.AvailableNow, then adjudicate its output against the
  // plain-batch DuckDB oracle. The memory sink is the adjudication
  // harness only (its contents are combination-space-bounded /
  // match-bounded); a production deployment writes foreachBatch or
  // file sinks as docs/streaming.md lays out.

  /** Stage `df` into `dstDir` as one parquet FILE per time slice, in
    * arrival order (names and mtimes both ascend), so the streaming
    * file source replays the exact three-batch, time-ordered delivery
    * every other gate folds by hand. Time-ordered arrival means batch
    * N+1's event times are never behind batch N's watermark — no
    * late-drop nondeterminism, which is precisely the contract a
    * crawl-order ingest gives the production stream.
    */
  private def stageOneFile(
      df: DataFrame, dstDir: String, fileName: String, mtimeMs: Long): Unit = {
    val stage = java.nio.file.Paths.get(dstDir, s"__stage_$fileName")
    df.coalesce(1).write.mode("overwrite").parquet(stage.toString)
    val part = stage.toFile.listFiles()
      .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
      .getOrElse(sys.error(s"no part file under $stage"))
    val dst = java.nio.file.Paths.get(dstDir, fileName)
    java.nio.file.Files.move(part.toPath, dst)
    dst.toFile.setLastModified(mtimeMs)
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.walk(stage).iterator().asScala.toSeq
      .sortBy(-_.getNameCount)
      .foreach(java.nio.file.Files.deleteIfExists)
  }

  private def stageTimeOrderedFiles(
      df: DataFrame, tsCol: String, dstDir: String): Unit =
    tsSlices(df, tsCol).zipWithIndex.foreach { case (b, i) =>
      stageOneFile(b, dstDir, f"$i%03d.parquet", 1700000000000L + i * 60000L)
    }

  private def uniqueName(prefix: String): String =
    prefix + java.util.UUID.randomUUID.toString.replace("-", "")

  /** Run `body` with `spark.sql.shuffle.partitions` temporarily set
    * to `n`: a streaming query's STATE STORE partition count is fixed
    * at this value for the life of the query, and every micro-batch
    * commits delta files for every partition — so an oversized count
    * is a per-batch fixed cost with zero parallelism benefit at gate
    * volume. Right-sizing state partitions to expected key volume is
    * exactly what a production streaming job does at submit time (at
    * 100 TB you'd size UP for the same reason). Restored afterwards;
    * results are partitioning-independent.
    */
  private def withShufflePartitions[T](s: SparkSession, n: Int)(body: => T): T = {
    val key = "spark.sql.shuffle.partitions"
    val old = s.conf.get(key)
    s.conf.set(key, n.toString)
    try body finally s.conf.set(key, old)
  }

  /** The watermarked tumbling-window aggregate
    * ([[graft.streaming.EventAggregates.windowedCounts]]) executed by
    * the REAL streaming engine over three time-ordered file batches;
    * oracle = the batch q_event_windows SQL. Values ride DECIMAL into
    * the stream (sums stay order-independent across micro-batches)
    * and cast back to double on the read side, exactly like the batch
    * query. Complete output mode: the window×type state is
    * combination-space-bounded, and every window — including those
    * still inside the final watermark — must land for the hash to
    * match the batch truth.
    */
  def streamLiveWindows(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    val src = tempRoot("graft_q_stream_live_win_src")
    val ckpt = tempRoot("graft_q_stream_live_win_ckpt")
    val evs = t(s, dir, "events")
      .select(col("event_id"), col("ts"), col("event_type"),
        col("value").cast("decimal(18,2)").as("value"))
    stageTimeOrderedFiles(evs, "ts", src)
    val stream = s.readStream.schema(evs.schema)
      .option("maxFilesPerTrigger", 1).parquet(src)
    val qn = uniqueName("graft_live_windows_")
    withShufflePartitions(s, 8) {
      graft.streaming.EventAggregates
        .windowedCounts(stream, windowLength = "1 hour", watermark = "10 minutes")
        .writeStream.queryName(qn)
        .format("memory").outputMode("complete")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
        .awaitTermination()
    }
    s.table(qn).select(col("window_start"), col("window_end"),
      col("event_type"), col("n_events"),
      col("total_value").cast("double").as("total_value"))
  }

  /** The stream-stream interval join
    * ([[graft.streaming.EventAggregates.correlate]]) executed by the
    * real engine: views and purchases arrive as two independent
    * time-ordered file streams, each buffered in the join state store
    * and evicted once the shared watermark proves no future match.
    * Inner-join semantics make the emitted set exactly the batch
    * interval join — every (view, purchase-within-1h) pair once —
    * which the DuckDB oracle replays as a plain self-join.
    */
  def streamLiveJoin(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    val lsrc = tempRoot("graft_q_stream_live_join_l")
    val rsrc = tempRoot("graft_q_stream_live_join_r")
    val ckpt = tempRoot("graft_q_stream_live_join_ckpt")
    val evs = t(s, dir, "events")
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"))
    val views = evs.filter(col("event_type") === "view")
      .select(col("event_id").as("view_id"), col("ts").as("v_ts"), col("user_id"))
    val buys = evs.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("ts").as("p_ts"), col("user_id"))
    stageTimeOrderedFiles(views, "v_ts", lsrc)
    stageTimeOrderedFiles(buys, "p_ts", rsrc)
    val lstream = s.readStream.schema(views.schema)
      .option("maxFilesPerTrigger", 1).parquet(lsrc)
    val rstream = s.readStream.schema(buys.schema)
      .option("maxFilesPerTrigger", 1).parquet(rsrc)
    val qn = uniqueName("graft_live_join_")
    withShufflePartitions(s, 8) {
      graft.streaming.EventAggregates.correlate(
        lstream, rstream, "user_id", "v_ts", "p_ts",
        window = "1 hour", watermark = "2 hours")
        .select("view_id", "user_id", "purchase_id", "v_ts", "p_ts")
        .writeStream.queryName(qn)
        .format("memory").outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
        .awaitTermination()
    }
    s.table(qn)
  }

  /** Engine-managed session windows
    * ([[graft.streaming.EventAggregates.sessionWindowCounts]]) through
    * the real engine in APPEND mode — the eviction path the
    * complete-mode windows gate cannot exercise: a session only emits
    * once the watermark passes its end and its state is dropped. A
    * far-future SENTINEL row (user −1, 30 days past the corpus)
    * arrives as the final batch to push the watermark past every real
    * session — the "stream keeps flowing" condition append-mode
    * parity genuinely requires; the engine's no-data final batch then
    * flushes the remainder. The sentinel's own (still-open) session is
    * the ONLY row filtered from the adjudicated output.
    */
  def streamLiveSessions(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    val src = tempRoot("graft_q_stream_live_sess_src")
    val ckpt = tempRoot("graft_q_stream_live_sess_ckpt")
    val evs = t(s, dir, "events").select(col("event_id"), col("ts"), col("user_id"))
    stageTimeOrderedFiles(evs, "ts", src)
    val mx = evs.agg(max("ts")).collect().head.getTimestamp(0) // 1-row probe
    val sentinel = s.range(1).select(
      lit(-1L).as("event_id"),
      lit(new java.sql.Timestamp(mx.getTime + 30L * 86400000L)).as("ts"),
      lit(-1L).as("user_id"))
    stageOneFile(sentinel, src, "999.parquet", 1700000000000L + 999 * 60000L)
    val stream = s.readStream.schema(evs.schema)
      .option("maxFilesPerTrigger", 1).parquet(src)
    val qn = uniqueName("graft_live_sessions_")
    withShufflePartitions(s, 8) {
      graft.streaming.EventAggregates
        .sessionWindowCounts(stream, gap = "30 minutes", watermark = "1 hour")
        .writeStream.queryName(qn)
        .format("memory").outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
        .awaitTermination()
    }
    s.table(qn).filter(col("user_id") >= 0L)
  }

  val streamLiveSessionsSql: String =
    """WITH e AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts FROM events),
      |x AS (SELECT *, lag(epoch_us(ts)) OVER
      |        (PARTITION BY user_id ORDER BY ts, event_id) AS prev FROM e),
      |y AS (SELECT *, CASE WHEN prev IS NULL OR epoch_us(ts) - prev >= 1800000000
      |        THEN 1 ELSE 0 END AS ns FROM x),
      |z AS (SELECT *, sum(ns) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |        ROWS UNBOUNDED PRECEDING) AS seq FROM y)
      |SELECT user_id, min(ts) AS session_start,
      |  max(ts) + INTERVAL 30 MINUTE AS session_end,
      |  count(*) AS n_events
      |FROM z GROUP BY user_id, seq""".stripMargin

  /** Custom state through the real engine: the
    * [[graft.streaming.EventAggregates.sessionizeStateful]]
    * `flatMapGroupsWithState` sessionizer — per-user state records,
    * EVENT-TIME timeouts, sessions closed either by an in-batch gap
    * or by the watermark passing their idle deadline. The same
    * sentinel trick as the session-window gate flushes the tail
    * (timeouts fire in the engine's no-data final batch). Timestamps
    * are truncated to SECONDS on the way in — the state record keeps
    * epoch millis, so sub-ms event time would silently shear against
    * the oracle's microsecond arithmetic; the oracle truncates
    * identically. Session end here is the LAST EVENT's time (the
    * stateful contract), not last + gap.
    */
  def streamLiveStateful(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    val src = tempRoot("graft_q_stream_live_state_src")
    val ckpt = tempRoot("graft_q_stream_live_state_ckpt")
    val evs = t(s, dir, "events").select(col("event_id"),
      col("ts").cast("long").cast("timestamp").as("ts"), col("user_id"))
    stageTimeOrderedFiles(evs, "ts", src)
    val mx = evs.agg(max("ts")).collect().head.getTimestamp(0) // 1-row probe
    val sentinel = s.range(1).select(
      lit(-1L).as("event_id"),
      lit(new java.sql.Timestamp(mx.getTime + 30L * 86400000L)).as("ts"),
      lit(-1L).as("user_id"))
    stageOneFile(sentinel, src, "999.parquet", 1700000000000L + 999 * 60000L)
    val stream = s.readStream.schema(evs.schema)
      .option("maxFilesPerTrigger", 1).parquet(src)
    import s.implicits._
    val qn = uniqueName("graft_live_stateful_")
    withShufflePartitions(s, 8) {
      graft.streaming.EventAggregates.sessionizeStateful(
        stream.as[graft.streaming.EventAggregates.Event],
        gapMillis = 30L * 60L * 1000L, watermark = "1 hour")
        .toDF()
        .writeStream.queryName(qn)
        .format("memory").outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
        .awaitTermination()
    }
    s.table(qn).filter(col("user_id") >= 0L)
  }

  val streamLiveStatefulSql: String =
    """WITH e AS (SELECT event_id, user_id,
      |    date_trunc('second', CAST(ts AS TIMESTAMP)) AS ts FROM events),
      |x AS (SELECT *, lag(epoch_us(ts)) OVER
      |        (PARTITION BY user_id ORDER BY ts, event_id) AS prev FROM e),
      |y AS (SELECT *, CASE WHEN prev IS NULL OR epoch_us(ts) - prev > 1800000000
      |        THEN 1 ELSE 0 END AS ns FROM x),
      |z AS (SELECT *, sum(ns) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |        ROWS UNBOUNDED PRECEDING) AS seq FROM y)
      |SELECT user_id, min(ts) AS session_start, max(ts) AS session_end,
      |  CAST(count(*) AS BIGINT) AS n_events
      |FROM z GROUP BY user_id, seq""".stripMargin

  /** Streaming `dropDuplicates` through the real engine — the
    * first-class dedup path every ingest needs: per-key state in the
    * engine's store, APPEND emission on first sight, state EVICTED
    * once the watermark passes the key's event-time bucket (the
    * watermarked day column is part of the dedup key, so state is
    * bounded by keys-per-watermark-window, not corpus history). The
    * output is the exact distinct (user, day) set — first-sight
    * emission makes WHICH row wins nondeterministic, so the gate
    * deduplicates on, and emits, exactly the key columns; oracle =
    * plain DISTINCT.
    */
  def streamLiveDedup(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    val src = tempRoot("graft_q_stream_live_dedup_src")
    val ckpt = tempRoot("graft_q_stream_live_dedup_ckpt")
    val evs = t(s, dir, "events").select(col("ts"), col("user_id"))
    stageTimeOrderedFiles(evs, "ts", src)
    val stream = s.readStream.schema(evs.schema)
      .option("maxFilesPerTrigger", 1).parquet(src)
    val qn = uniqueName("graft_live_dedup_")
    withShufflePartitions(s, 8) {
      stream
        .withColumn("day", date_trunc("day", col("ts")))
        .withWatermark("day", "1 day")
        .dropDuplicates("user_id", "day")
        .select("user_id", "day")
        .writeStream.queryName(qn)
        .format("memory").outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
        .awaitTermination()
    }
    s.table(qn)
  }

  /** The state-store SCD ([[graft.streaming.ScdStateStore]] —
    * `transformWithState` + RocksDB, the end state of the SCD scale
    * progression: per batch touch ONLY the batch's rows, one state
    * lookup per row, append-only sink) through the REAL engine: the
    * orders-derived snapshot table arrives as three date-ordered file
    * batches, each entity's classification context lives in the
    * engine's RocksDB state across batches, and the materialized
    * natural-status history plus the read-time Deleted derivation
    * must hash-equal the full batch classification — q_scd_status's
    * oracle. This driver-gates the last engine-managed-state
    * component; the memory sink is the adjudication harness (a
    * production job appends to parquet via foreachBatch).
    */
  def streamLiveScd(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.streaming.Trigger
    val src = tempRoot("graft_q_stream_live_scd_src")
    val ckpt = tempRoot("graft_q_stream_live_scd_ckpt")
    val dedupW = Window.partitionBy("snapshot_date", "o_custkey")
      .orderBy(col("o_orderkey").desc)
    val snap = t(s, dir, "orders")
      .withColumn("snapshot_date", col("o_orderdate").cast("date"))
      .withColumn("rn", row_number().over(dedupW))
      .filter(col("rn") === 1)
      .select(col("snapshot_date"), col("o_custkey"),
        col("o_orderstatus"), col("o_orderpriority"),
        // arrival clock for the slicer; dropped before hashing
        col("snapshot_date").cast("timestamp").as("__arrival"))
    stageTimeOrderedFiles(snap, "__arrival", src)
    val stream = s.readStream.schema(snap.schema)
      .option("maxFilesPerTrigger", 1).parquet(src).drop("__arrival")
    val qn = uniqueName("graft_live_scd_")
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    // Changelog checkpointing (guide §5): by default every micro-batch
    // uploads a FULL RocksDB snapshot per state partition to the
    // checkpoint — O(state) per batch. The changelog mode persists only
    // the batch's changes and defers snapshots to the maintenance
    // thread — O(batch) per commit, the documented production setting
    // for state that outgrows a batch (at 100 TB the SCD entity state
    // is the whole customer dimension; per-batch O(state) uploads are
    // the scale-killer this gate exists to rule out).
    val changelogKey =
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"
    val prevProvider = s.conf.getOption(providerKey)
    val prevChangelog = s.conf.getOption(changelogKey)
    try {
      s.conf.set(providerKey,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      s.conf.set(changelogKey, "true")
      withShufflePartitions(s, 8) {
        graft.streaming.ScdStateStore
          .classifiedStream(stream, entityCol = "o_custkey")
          .writeStream.queryName(qn)
          .format("memory").outputMode("append")
          .option("checkpointLocation", ckpt)
          .trigger(Trigger.AvailableNow()).start()
          .awaitTermination()
      }
    } finally {
      prevProvider match {
        case Some(p) => s.conf.set(providerKey, p)
        case None => s.conf.unset(providerKey)
      }
      prevChangelog match {
        case Some(p) => s.conf.set(changelogKey, p)
        case None => s.conf.unset(changelogKey)
      }
    }
    graft.streaming.ScdStateStore.withDeletedFlips(
      s.table(qn), entityCols = Seq("o_custkey"))
      .select("o_custkey", "snapshot_date", "change_status",
        "changed_status_date")
  }

  val streamLiveDedupSql: String =
    """SELECT DISTINCT user_id,
      |  CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS TIMESTAMP) AS day
      |FROM events""".stripMargin

  val streamLiveJoinSql: String =
    """SELECT l.event_id AS view_id, l.user_id AS user_id,
      |  r.event_id AS purchase_id, l.ts AS v_ts, r.ts AS p_ts
      |FROM events l JOIN events r
      |  ON l.user_id = r.user_id
      |  AND l.event_type = 'view' AND r.event_type = 'purchase'
      |  AND r.ts >= l.ts AND r.ts <= l.ts + INTERVAL 1 HOUR""".stripMargin

  /** The live registrable-domain rollup after streaming the messy-URL
    * feed in three crawl-order batches; oracle = the batch
    * q_domain_stats SQL. The (domain, host) partials are additive and
    * the canonicalization chain is a pure per-row function, so the
    * cumulative report must equal the batch rollup to the last digit
    * — the DECIMAL-folded mass included ([[graft.streaming
    * .DomainStream]]; replay/compaction/live-engine gated in
    * DomainStreamSpec).
    */
  def streamDomainStats(s: SparkSession, dir: String): DataFrame = {
    val urls = WebQueries.messyUrls(s, dir)
    val store = tempRoot("graft_q_stream_domain")
    idSlices(urls, "o_orderkey").zipWithIndex.foreach { case (b, i) =>
      DomainStream.countBatch(b, "url", "o_totalprice", store, i.toLong)
    }
    DomainStream.report(s, store).getOrElse(s.emptyDataFrame)
  }
}
