package graft.streaming

import org.apache.hadoop.fs.Path

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.{StringType, StructType}

import graft.functions.TextFunctions
import graft.operators.{ConnectedComponents, Decontaminate, Packing, Sampling}
import graft.sources.{AtomicDir, JsonLines}
import graft.scd.TrainingCorpusJob

/** Streaming corpus curation — the incremental counterpart of
  * [[graft.scd.TrainingCorpusJob]], converging to the SAME corpus the
  * batch job would produce over the union of all ingested files.
  *
  * The split between incremental and global work follows where the
  * cost lives at 100 TB:
  *
  *   - per-document work (parse, quarantine, fingerprint, minhash/LSH
  *     band keys via [[StreamingDedup.withDedupSignatures]] — the same
  *     codegen'd kernels as the batch operators — plus contamination
  *     probe, PII redaction, quality score) runs ONCE per document, in
  *     the micro-batch that ingests it, and is persisted in the state
  *     table; re-deliveries never re-hash history;
  *   - global resolution (exact-rep choice, LSH bucket pairing,
  *     connected components, sampling, packing) reruns per batch over
  *     the METADATA-weight state — ids, fingerprints, band keys —
  *     because near-dup clusters are a global property: a new document
  *     can bridge two previously distinct clusters, so any
  *     "finalized" early decision would diverge from the batch truth.
  *
  * State and output are parquet under `outDir`: the doc state is a
  * first-seen [[MergeStore]] (one directory per batch — each
  * micro-batch persists ONLY its first-seen rows, so the state write
  * is O(batch), never an O(corpus) rewrite), and the corpus is
  * replaced through [[AtomicDir]] — a crash between batches leaves
  * the previous consistent state/corpus pair readable, and the
  * streaming checkpoint replays the interrupted batch (which rewrites
  * its own state partition byte-identical and re-resolves the
  * corpus).
  */
object TrainingCorpusStreaming {

  /** @param partitionedCorpus corpus sink mode. `false` (default):
    *        each batch atomically replaces the whole corpus — readers
    *        get snapshot isolation, writes are O(corpus). `true`: the
    *        corpus is a shard-partitioned table and each batch
    *        dynamic-overwrites ONLY the shards whose content
    *        fingerprint changed (pack layout is shard-local, so a
    *        shard whose kept rows didn't change is byte-stable) —
    *        writes are O(changed shards), the
    *        [[graft.sources.ScdStorage.overwritePartitions]] contract:
    *        atomicity per partition, a crash mid-write heals on
    *        replay because the fps table commits only after the
    *        corpus partitions.
    */
  final case class Config(
      sampleFractions: Map[String, Double],
      seed: Long = 42L,
      tokenBudget: Long = 2048L,
      shards: Int = 8,
      minQuality: Double = 0.5,
      numHashes: Int = 32,
      bands: Int = 8,
      maxBucket: Int = 1000,
      partitionedCorpus: Boolean = false)

  /** First delivery of a doc_id wins; each batch holds only its
    * first-seen rows.
    */
  private def docState(outDir: String) =
    MergeStore(s"$outDir/doc_state", MergeStore.FirstSeen(identity))
  private val corpusFpsName = "corpus_fps"
  private val corpusName = "corpus"

  /** Schema the stream reads: the batch job's input schema plus the
    * corrupt-record column for quarantine routing.
    */
  def streamSchema: StructType =
    TrainingCorpusJob.inputSchema.add(JsonLines.CorruptCol, StringType)

  def start(
      spark: SparkSession,
      inputDir: String,
      benchmark: DataFrame,
      outDir: String,
      checkpointDir: String,
      cfg: Config,
      maxFilesPerTrigger: Int = 10,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    // Crash recovery happens HERE, in the single writer, before the
    // stream starts — never in readers: a reader's recover() racing a
    // mid-commit writer can rename __old__ back over dest between the
    // writer's two renames, after which the writer's tmp lands INSIDE
    // the restored dest as a hidden child and the batch silently
    // vanishes until the next one.
    val fs = new Path(outDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    docState(outDir).recover(spark)
    AtomicDir.recover(fs, new Path(s"$outDir/$corpusName"))
    // The benchmark's distinct shingle hashes are computed ONCE, here
    // — not per micro-batch: the eval corpus is static for the life
    // of the stream and can be large, so re-shingling it inside every
    // foreachBatch (as the old benchmark-frame plumbing did) was an
    // O(benchmark) tax on every batch forever. Same store pattern as
    // [[DecontaminationStream]]; materialized so the fold reads
    // executor-resident hashes.
    val benchHashes = Decontaminate
      .benchmarkHashes(benchmark, "doc_id", "text")
      .localCheckpoint(true)
    val stream = spark.readStream
      .schema(streamSchema)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", JsonLines.CorruptCol)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .json(inputDir)
    MergeStore.foreachBatch(stream, checkpointDir)(
      mergeBatch(_, benchHashes, outDir, cfg, _)).trigger(trigger).start()
  }

  /** One micro-batch: quarantine split → per-doc enrichment of the new
    * rows → state merge → global re-resolution → per-batch state
    * write + atomic corpus replace.
    *
    * @param benchHashes the benchmark's distinct shingle hashes (one
    *        `h: long` column — [[Decontaminate.benchmarkHashes]]),
    *        computed ONCE by the caller; the per-batch probe joins
    *        against it instead of re-shingling the eval corpus every
    *        micro-batch
    */
  private[graft] def mergeBatch(
      batch: DataFrame,
      benchHashes: DataFrame,
      outDir: String,
      cfg: Config,
      batchId: Long = 0L): Unit = {
    // foreachBatch hands the batch over on a CLONED session — every
    // frame in this method (state reads included) must come from that
    // session, or the native text functions registered on it won't
    // resolve when a mixed-session plan is analyzed
    val spark = batch.sparkSession
    // materialize the micro-batch once: the corrupt-column-only filter
    // is illegal on a lazy json scan, and every branch below reuses it.
    // The corrupt-row count rides the SAME checkpoint job via observe
    // (guide §1.2: remove passes) — the clean-batch common case pays
    // zero extra jobs for the quarantine probe.
    val obs = org.apache.spark.sql.Observation()
    val rows = batch
      .observe(obs, count(col(JsonLines.CorruptCol)).as("n_bad"))
      .localCheckpoint(true)
    val nBad = obs.get("n_bad").asInstanceOf[Long]
    // batchId-keyed partition dir + overwrite: a checkpoint replay of
    // this batch rewrites the same subdirectory instead of appending a
    // second copy of the same corrupt lines (mode("append") here was
    // the one non-idempotent write in an otherwise replay-safe merge)
    if (nBad > 0)
      MergeStore(s"$outDir/quarantine", MergeStore.OutputLog).write(
        rows.filter(col(JsonLines.CorruptCol).isNotNull)
          .select(col(JsonLines.CorruptCol).as("raw_line")), batchId)

    val incoming = rows
      .filter(col(JsonLines.CorruptCol).isNull &&
        col("doc_id").isNotNull && col("text").isNotNull)
      .drop(JsonLines.CorruptCol)

    // ---- per-doc enrichment, once per newly seen document ----
    val contaminatedIds = Decontaminate
      .overlapReportHashes(incoming, benchHashes, "doc_id", "text")
      .filter(col("contaminated")).select(col("doc_id").as("c_id"))
    val redacted = TextFunctions.redactPii(col("text"))
    val enriched = StreamingDedup
      .withDedupSignatures(incoming, "text", cfg.numHashes, cfg.bands)
      .join(broadcast(contaminatedIds),
        col("doc_id") === col("c_id"), "left")
      .select(
        col("doc_id"), col("ts"), col("lang"), col("text"),
        col("fingerprint").as("fp"),
        col("band_keys"),
        col("c_id").isNotNull.as("contaminated"),
        redacted.as("text_redacted"),
        TextFunctions.qualityScore(redacted).as("quality"))

    // Per-batch state store (the StreamingDedup pattern): each batch
    // persists ONLY its first-seen rows in its own directory, so the
    // per-batch state write is O(batch), not
    // O(corpus) — at 100 TB the full-state rewrite was the dominant
    // IO term of every micro-batch. Replay-safe by the same partition
    // contract as the dedup store: the prev read takes strictly
    // earlier batches, so a redelivered batch sees exactly the
    // pre-batch state and overwrites its own directory byte-identical.
    val state = docState(outDir)
    val prev = state.merged(spark, _ < batchId).getOrElse(spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], enriched.schema))

    // state merge: first delivery of a doc_id wins (re-deliveries are
    // replays of the same immutable document). No broadcast hint: the
    // state id set grows with the corpus, so the planner must stay
    // free to shuffle the anti-join at scale.
    val newRows = enriched
      .join(prev.select(col("doc_id").as("p_id")),
        col("doc_id") === col("p_id"), "left_anti")
      .localCheckpoint(true)
    state.write(newRows, batchId)
    // the resolution view stays LAZY: prev is a partition-pruned,
    // column-prunable parquet scan — an O(corpus) in-memory
    // materialization here would just move the rewritten-state cost
    // from disk to RAM
    val docs = prev.unionByName(newRows)

    // ---- global re-resolution over metadata-weight state ----
    // exact reps: min id per fingerprint — identical to Dedup.exactDedup.
    // (A rep-id checkpoint + doc_id semi-join rewrite — resolve min
    // per fp once, re-attach by id — was tried in r19 and REVERTED:
    // the extra checkpoint and per-consumer broadcast builds inflated
    // the fold from 89 to 125 jobs and the isolated query by ~1.5 s;
    // at fixture scale the window's exchange is cheaper than the added
    // job fan-out, and shuffle bytes barely moved.)
    val reps = docs
      .withColumn("__rep", min(col("doc_id")).over(Window.partitionBy("fp")))
      .filter(col("doc_id") === col("__rep"))
      .drop("__rep")
    // LSH bucket pairing from the STORED band keys — same buckets the
    // batch Dedup.minHashCandidates builds, without re-hashing text
    val grouped = reps
      .select(col("doc_id").as("id"), explode(col("band_keys")).as("band"))
      .groupBy("band")
      .agg(sort_array(collect_list(col("id"))).as("ids"))
    val pairs = grouped
      .filter(size(col("ids")).between(2, cfg.maxBucket))
      .select(graft.operators.Dedup.orderedPairs(col("ids")).as("p"))
      .select(col("p.a").as("id_a"), col("p.b").as("id_b"))
      .distinct()
    val losers = ConnectedComponents.resolve(pairs, "id_a", "id_b")
      .filter(col("node") =!= col("component"))
      .select(col("node").as("l_id"))

    val kept = reps
      .join(losers, col("doc_id") === col("l_id"), "left_anti")
      .filter(!col("contaminated") && col("quality") >= cfg.minQuality)
      .select(col("doc_id"), col("ts"), col("lang"),
        col("text_redacted").as("text"), col("quality"))
    val sampled = Sampling.stratifiedSample(
      kept, "lang", "doc_id", cfg.sampleFractions, cfg.seed, defaultFraction = 1.0)
    val packed = Packing.packDocuments(
      sampled, "doc_id", "text", cfg.tokenBudget, cfg.shards)

    // ---- corpus commit (state committed above) ----
    val corpusPath = new Path(s"$outDir/$corpusName")
    val fs = corpusPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (cfg.partitionedCorpus) writeChangedShards(spark, outDir, packed)
    else replace(fs, corpusPath, packed, partitionBy = Seq("shard"))
  }

  /** O(changed shards) corpus maintenance: fingerprint every shard of
    * the NEW corpus (membership + content checksum — pack ids and
    * positions are a pure shard-local function of the kept rows, so
    * equal fingerprints ⇒ byte-equal shard output), diff against the
    * persisted fingerprint table, dynamic-overwrite only the shards
    * that differ, drop shards that emptied, THEN commit the new
    * fingerprints. Crash anywhere before the fps commit leaves the
    * old fps table in place, so the replayed batch recomputes the
    * same diff — a superset of any partially-written shards — and
    * heals them; dynamic partition overwrite itself is idempotent.
    *
    * The packed frame is consumed twice (fingerprints + the filtered
    * write), so it rides ONE lazy localCheckpoint: the resolution
    * pipeline runs once, spilling executor-local (MEMORY_AND_DISK) —
    * scratch IO, not a second durable-store pass.
    */
  private def writeChangedShards(
      spark: SparkSession, outDir: String, packed: DataFrame): Unit = {
    val corpusPath = new Path(s"$outDir/$corpusName")
    val fpsPath = new Path(s"$outDir/$corpusFpsName")
    val fs = corpusPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    AtomicDir.recover(fs, fpsPath)
    val staged = packed.localCheckpoint(false)
    // ONE job materializes staged AND lands the per-shard fingerprints
    // on the driver (bounded by cfg.shards); the fps table commit below
    // is rebuilt from these rows, so the old ckpt+collect+write triple
    // (3 jobs, one re-agg) collapses to collect+tiny-write (guide §1.2)
    val newFpAgg = staged.groupBy(col("shard"))
      .agg(expr(
        "bit_xor(xxhash64(doc_id, text, quality, n_tokens, pack_id, pack_pos))")
        .as("fp"))
    val newFpRows = newFpAgg.collect()
    val newFps = spark.createDataFrame(
      spark.sparkContext.parallelize(newFpRows.toSeq, 1), newFpAgg.schema)
    val oldFps =
      if (fs.exists(fpsPath)) spark.read.parquet(fpsPath.toString)
      else newFps.limit(0)
    // driver-bounded by cfg.shards, like every shard table here
    val old = oldFps.collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val neu = newFpRows.map(r => r.getInt(0) -> r.getLong(1)).toMap
    val changed = neu.filter { case (s, f) => !old.get(s).contains(f) }.keys.toSeq
    if (changed.nonEmpty) {
      val key = "spark.sql.sources.partitionOverwriteMode"
      val prev = spark.conf.getOption(key)
      spark.conf.set(key, "dynamic")
      try staged.filter(col("shard").isin(changed: _*))
        .write.mode("overwrite").partitionBy("shard")
        .parquet(corpusPath.toString)
      finally prev match {
        case Some(v) => spark.conf.set(key, v)
        case None    => spark.conf.unset(key)
      }
    }
    // a shard every member left: dynamic overwrite never touches it
    // (no rows carry its key), so drop the stale directory explicitly
    (old.keySet -- neu.keySet).foreach { s =>
      fs.delete(new Path(corpusPath, s"shard=$s"), true)
    }
    replace(fs, fpsPath, newFps)
  }

  private def replace(
      fs: org.apache.hadoop.fs.FileSystem,
      dest: Path,
      df: DataFrame,
      partitionBy: Seq[String] = Nil): Unit = {
    val tmp = AtomicDir.tmpPath(dest)
    fs.delete(tmp, true)
    val w = df.write.mode("overwrite")
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w)
      .parquet(tmp.toString)
    AtomicDir.commit(fs, dest)
  }

  /** The curated corpus as of the last completed batch.
    *
    * Strictly read-only: crash repair belongs to the single writer
    * ([[start]] calls [[AtomicDir.recover]] before the stream runs).
    * A reader that lands exactly in the commit window — dest renamed
    * away, tmp not yet renamed in — falls back to the `__old__`
    * known-good snapshot WITHOUT renaming anything; a reader-side
    * recover() could otherwise restore old over dest mid-commit and
    * make the writer's final rename nest tmp inside it.
    */
  def corpus(spark: SparkSession, outDir: String): DataFrame = {
    val p = new Path(s"$outDir/$corpusName")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val src = if (fs.exists(p)) p else AtomicDir.oldPath(p)
    try spark.read.parquet(src.toString)
    catch {
      // exists-then-read race: the writer's commit window (dest renamed
      // to __old__, tmp not yet renamed in) can open between the exists
      // probe and the schema read — retry once against the known-good
      // old snapshot instead of surfacing path-not-found
      case e: org.apache.spark.sql.AnalysisException
          if src == p && e.getCondition == "PATH_NOT_FOUND" =>
        spark.read.parquet(AtomicDir.oldPath(p).toString)
    }
  }
}
