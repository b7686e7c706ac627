package graft.sources

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode

import org.apache.hadoop.fs.{FileContext, FileSystem, Options, Path}

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions.{
  And, Attribute, AttributeReference, Cast, EqualNullSafe, EqualTo,
  Expression, GreaterThan, GreaterThanOrEqual, In, IsNotNull, IsNull,
  LessThan, LessThanOrEqual, Literal, Not, Or}
import org.apache.spark.sql.catalyst.plans.logical.{Filter => LogicalFilter}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Snapshot-isolation commit log over parquet — the concurrent-writer
  * upgrade [[AtomicDir]] cannot give (its swap is single-writer by
  * contract) and the role Delta/Iceberg play in a production lakehouse,
  * built from nothing but parquet + an atomic no-overwrite rename (no
  * connector jars ship in this environment).
  *
  * Layout under the table root:
  * {{{
  *   _commits/v000000000000.json   one manifest per committed version
  *   data/c<token>/part-*.parquet  each commit's files, own subdir
  * }}}
  *
  * Protocol:
  *
  *   - **Write**: stage parquet into a fresh `data/c<token>/` subdir
  *     (invisible to every reader — readers ONLY open files their
  *     pinned manifest names), build the next manifest (append =
  *     predecessor's files + staged; overwrite = staged only;
  *     compact = predecessor's files minus the compacted set plus
  *     staged), write it to a dot-temp, then PUBLISH with
  *     `FileContext.rename(…, Rename.NONE)` — the no-overwrite rename
  *     that is atomic on HDFS-like stores (the arbiter Delta uses
  *     there; an S3 deploy swaps in an external lock/conditional-put,
  *     same seam). Losing the race throws
  *     `FileAlreadyExistsException` → re-read the new latest, rebuild
  *     the manifest, retry with the next version number. The staged
  *     data files never move, so a retry re-links, never re-writes.
  *   - **Read**: pin a version (default: latest) by parsing ONE
  *     manifest; the plan reads exactly that file set, under the
  *     manifest's RECORDED schema (no footer inference — on a 100k-file
  *     table the schema comes from one JSON read, not a footer list).
  *   - **Skip**: a commit may record per-file zone maps (row count and
  *     per-column min/max/null-count) in its manifest; [[readWhere]]
  *     evaluates a predicate against them and plans ONLY the files
  *     that may contain a match — the Delta/Iceberg data-skipping
  *     role. Pruning is SOUND (a file is dropped only when the stats
  *     prove no row can match; any unrecognized predicate shape keeps
  *     the file) and the residual filter is always applied, so the
  *     result equals an unpruned filtered read by construction.
  *   - **Crash**: a writer dying before publish leaves a dot-temp
  *     manifest and an unreferenced `data/c*` subdir — INVISIBLE
  *     leftovers. [[vacuum]] deletes stale temps, data subdirs no
  *     retained manifest references, and versions older than the
  *     retention count.
  *
  * Scale shape: commit cost is one rename + a manifest listing
  * O(files); reads list `_commits/` (O(versions), bounded by vacuum)
  * and open O(files) parquet — table data never rewrites on commit, so
  * a 100 TB table appends at the cost of its new partition alone, and
  * a zone-map-pruned point read opens O(matching files), not O(table).
  */
object VersionedTable {

  /** Per-column zone-map entry for one data file. `min`/`max` are the
    * column's bounds encoded in a type-tagged orderable domain
    * (`t` ∈ long | double | decimal | string | date | timestamp; dates
    * as epoch days, timestamps as epoch micros); absent (None) when
    * every row is NULL or the bound is not finitely representable
    * (NaN/±Inf) — an absent bound keeps the file, never drops it.
    */
  final case class ColStats(t: String, min: Option[String],
      max: Option[String], nulls: Long)

  /** Zone map for one data file: row count + per-column [[ColStats]].
    * `rgs` (opt-in, `rowGroupStats = true` at commit/compact) carries
    * one nested entry PER PARQUET ROW GROUP, read off the file's footer
    * at commit time: after compaction produces few LARGE files, the
    * file-level envelope goes wide (min..max spans the whole file) but
    * the row-group envelopes stay tight — a predicate no row group
    * admits drops the FILE from the plan even though the file-level
    * interval admits it (the classic sorted-then-concatenated case:
    * a file holding keys 1..100 and 9000..9100 never matches key=5000).
    * Inside kept files the parquet reader performs the per-row-group
    * skip itself from the same footer stats via the pushed-down filter
    * (readWhere always applies the predicate residually) — gated in
    * RowGroupStatsSpec by the scan's output-row metric.
    */
  final case class FileStats(rows: Long, cols: Map[String, ColStats],
      rgs: Seq[FileStats] = Nil)

  /** Per-commit Bloom sidecar references: column name → the sidecar
    * files (one per contributing commit) whose indexes cover that
    * column. The BITS live in sidecar files under the commit's own
    * `data/c<token>/` dir, NEVER in the manifest JSON — at 100k files a
    * megabyte-scale bitset per file would make the log unreadable (the
    * same reason Delta keeps bloom indexes out of its log).
    */
  type BloomRefs = Map[String, Seq[String]]

  /** `txn` carries the last committed micro-batch id per streaming
    * writer (the Delta `txn` action): a replayed `foreachBatch` call
    * finds its own batch id already recorded and skips — exactly-once
    * append from an at-least-once engine callback.
    *
    * `schemaJson` pins the snapshot schema (Spark StructType JSON);
    * appends are REQUIRED to match it (names + types, order- and
    * nullability-insensitive). `mergeSchema = true` appends may ADD
    * columns (the snapshot schema widens; old files read back NULL for
    * them — parquet resolves by name) or OMIT columns (the append's
    * files read back NULL there); a shared column changing TYPE is
    * never coerced — that stays an explicit overwrite, loudly.
    */
  /** Deletion-vector state for ONE data file: `refs` are the parquet
    * sidecars holding `(file, pos)` rows for its dead positions (one
    * per dvdelete commit that touched it — positions across commits
    * are DISJOINT because each delete evaluates on the live view);
    * `dead` is their total count, so metadata-only reads never open
    * the sidecars.
    */
  final case class DvEntry(refs: Seq[String], dead: Long)

  /** `ts` is the IN-COMMIT timestamp (epoch millis, clamped strictly
    * increasing against the predecessor at publish time) — the clock
    * [[versionAsOf]] trusts. File mtimes are only a fallback for
    * legacy manifests: on object stores a rename is a copy whose
    * mtime is the COPY time, so mtimes can invert across versions.
    * 0 = legacy manifest with no recorded timestamp.
    */
  /** A parquet CHECKPOINT of the manifest's (file, stats) body:
    * `path` the `_commits/`-relative parquet file, `version` the
    * commit it snapshotted. Version JSONs written after it carry only
    * a DELTA against it, so at 100k files the per-commit JSON stays
    * KB-sized instead of tens of MB rewritten whole (the Delta
    * checkpoint + incremental-log shape, collapsed to one delta hop:
    * read cost = one small JSON + one immutable parquet, O(1) files
    * at any history length, and the parquet is cached driver-side).
    */
  final case class CkptRef(path: String, version: Long)

  final case class Manifest(version: Long, mode: String, files: Seq[String],
      txn: Map[String, Long] = Map.empty,
      schemaJson: Option[String] = None,
      stats: Map[String, FileStats] = Map.empty,
      blooms: BloomRefs = Map.empty,
      dvs: Map[String, DvEntry] = Map.empty,
      ts: Long = 0L,
      partitionBy: Seq[String] = Nil,
      // the checkpoint this manifest's body was resolved THROUGH (kept
      // on the resolved Manifest so the next publish can extend the
      // delta chain); never compared for equality semantics
      ckpt: Option[CkptRef] = None,
      // column mapping: LOGICAL name → PHYSICAL name as stored in the
      // parquet files (only non-identity entries). renameColumn is a
      // metadata-only commit that moves the logical name; files,
      // stats and bloom sidecars (all keyed PHYSICAL) never move
      colMap: Map[String, String] = Map.empty,
      // physical names of DROPPED columns: their bytes still sit in
      // old files, so a later added column may never reuse the name
      // (old data would silently read back as the new column)
      droppedCols: Seq[String] = Nil,
      // CHECK constraints (the Delta constraints role): name → SQL
      // predicate over LOGICAL columns, enforced per row inside every
      // data-adding stage write. SQL semantics: a row violates only
      // when the predicate is strictly FALSE (NULL passes — add an
      // IS NOT NULL constraint for NOT NULL columns). Carried forward
      // by every commit, overwrite included.
      constraints: Map[String, String] = Map.empty)

  /** A staged write carried a row that falsifies a table CHECK
    * constraint: the stage is deleted, NOTHING commits, and the
    * message names the constraint and a sample row — the write-time
    * gate that keeps one bad producer from poisoning a shared table.
    */
  final class ConstraintViolationException(msg: String)
    extends IllegalArgumentException(msg)

  /** A compaction lost its rebase: a racing commit removed or replaced
    * files the compaction had read (overwrite, or another compaction of
    * an overlapping file set). The compaction's staged output is
    * deleted; rerun against the new snapshot. Racing APPENDS do not
    * conflict — they rebase cleanly.
    */
  class CompactionConflictException(msg: String)
    extends java.io.IOException(msg)

  /** A MERGE lost its rebase to a racing APPEND: files landed after
    * the merge pinned its snapshot, and their zone maps cannot prove
    * they are free of the merge's source keys — rebasing would let
    * the merge insert a key the append just wrote, ending the table
    * with duplicate keys (the exact invariant merge enforces; Delta
    * raises ConcurrentAppendException here for the same reason).
    * Subclass of [[CompactionConflictException]] so the uniform retry
    * contract — rerun against the new snapshot — applies unchanged.
    * Appends whose zone maps are provably disjoint from the source's
    * key bounds still rebase freely.
    */
  final class ConcurrentAppendException(msg: String)
    extends CompactionConflictException(msg)

  private val CommitsDir = "_commits"
  private val MaxRetries = 20

  /** Label the Spark jobs a phase submits (guide §1.5) so profilers and
    * the UI attribute commit/merge time to the phase that spent it.
    * Restores the caller's description on exit (descriptions are
    * thread-local, so concurrent writers stay correctly labeled).
    */
  private def labeled[T](spark: SparkSession, desc: String)(body: => T): T = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(desc)
    try body finally sc.setJobDescription(prev)
  }

  private def commitsPath(root: String) = new Path(root, CommitsDir)
  private def versionFile(root: String, v: Long) =
    new Path(commitsPath(root), f"v$v%012d.json")

  private def fs(spark: SparkSession, p: Path): FileSystem =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Highest committed version, if any commit exists. */
  def latestVersion(spark: SparkSession, root: String): Option[Long] = {
    val dir = commitsPath(root)
    val f = fs(spark, dir)
    if (!f.exists(dir)) return None
    val vs = f.listStatus(dir).toSeq
      .map(_.getPath.getName)
      .filter(n => n.startsWith("v") && n.endsWith(".json"))
      .map(n => n.substring(1, n.length - 5).toLong)
    if (vs.isEmpty) None else Some(vs.max)
  }

  /** `m`'s recorded schema; fails on a legacy manifest without one. */
  private def schemaOf(root: String, m: Manifest): StructType =
    m.schemaJson.map(DataType.fromJson(_).asInstanceOf[StructType])
      .getOrElse(throw new java.io.IOException(
        s"snapshot of $root has no recorded schema"))

  /** `version` when given, else the latest; fails on a table with no
    * commit.
    */
  private def pin(spark: SparkSession, root: String,
      version: Option[Long] = None): Long =
    version.orElse(latestVersion(spark, root)).getOrElse(
      throw new java.io.IOException(s"no committed version under $root"))

  // committed version JSONs are immutable (the rename arbiter means a
  // version file is written exactly once), so the PARSE is cacheable:
  // every table op re-reads the latest manifest several times per call
  // chain (replay gate, inheritance, publish rebase), and at commit
  // frequency the repeated JSON parse was measurable driver time. The
  // (mtime, len) guard is belt and braces for tests that rewrite
  // fixture trees in place; entries are small (self-contained
  // manifests hold < checkpointThreshold files; bigger ones are
  // checkpoint + delta, and the checkpoint body has its own cache).
  private val ManifestCacheMax = 64
  private val manifestCache = java.util.Collections.synchronizedMap(
    new java.util.LinkedHashMap[
        String, (Long, Long, Manifest, Option[CkptDelta])](
        16, 0.75f, /* accessOrder = */ true) {
      override def removeEldestEntry(e: java.util.Map.Entry[
          String, (Long, Long, Manifest, Option[CkptDelta])]): Boolean =
        size() > ManifestCacheMax
    })

  /** Test-visible cache reset: the (mtime, len) guard cannot see a
    * same-length in-place rewrite inside the filesystem's mtime
    * granularity (a fixture-rebuild-only scenario — the rename arbiter
    * writes committed version files exactly once), and entries for
    * vacuumed/deleted paths linger harmlessly until evicted. Fixture
    * teardown calls this so no spec can observe either.
    */
  private[graft] def clearManifestCaches(): Unit = {
    manifestCache.clear()
    ckptCache.clear()
  }

  /** Parse one committed manifest, resolving through its parquet
    * checkpoint when the version JSON is a delta (read cost: one
    * small JSON + one cached immutable parquet — O(1) files).
    */
  def manifest(spark: SparkSession, root: String, version: Long): Manifest = {
    val p = versionFile(root, version)
    val f = fs(spark, p)
    val st = try f.getFileStatus(p) catch {
      case _: java.io.FileNotFoundException => throw new java.io.IOException(
        s"version $version of $root does not exist (never committed, or vacuumed)")
    }
    val key = f.makeQualified(p).toString
    val hit = manifestCache.get(key)
    val (m, delta) =
      if (hit != null && hit._1 == st.getModificationTime &&
          hit._2 == st.getLen) (hit._3, hit._4)
      else {
        val in = f.open(p)
        val bytes = try {
          val out = new java.io.ByteArrayOutputStream()
          org.apache.hadoop.io.IOUtils.copyBytes(in, out, 64 * 1024, false)
          out.toByteArray
        } finally in.close()
        val parsed = parseManifestParts(
          new String(bytes, java.nio.charset.StandardCharsets.UTF_8))
        manifestCache.put(key,
          (st.getModificationTime, st.getLen, parsed._1, parsed._2))
        parsed
      }
    delta match {
      case None => m
      case Some(d) =>
        val ref = m.ckpt.getOrElse(throw new java.io.IOException(
          s"delta manifest v$version of $root carries no checkpoint ref"))
        val (files0, stats0) = loadCheckpoint(spark, root, ref)
        m.copy(
          files = files0.filterNot(d.remove) ++ d.addFiles,
          stats = (stats0 -- d.remove) ++ d.addStats)
    }
  }

  // ---- manifest checkpointing (the 100k-file log shape) ------------------

  /** Delta body of a checkpoint-referencing version JSON. */
  private[graft] final case class CkptDelta(remove: Set[String],
      addFiles: Seq[String], addStats: Map[String, FileStats])

  /** files.size at which version JSONs switch from self-contained to
    * checkpoint + delta; and how many delta commits ride one
    * checkpoint before a fresh one is written.
    */
  private def ckptThreshold(spark: SparkSession): Int =
    spark.conf.get("spark.graft.manifest.checkpointThreshold", "1000").toInt
  private def ckptInterval(spark: SparkSession): Int =
    spark.conf.get("spark.graft.manifest.checkpointInterval", "10").toInt

  // checkpoints are immutable once referenced — cache the parsed body
  // so repeated manifest() resolutions cost zero I/O (bounded: the
  // handful of tables a driver touches; LRU-evicted past the cap so a
  // session cycling many tables keeps its HOT checkpoints instead of
  // dumping all of them at once)
  private val CkptCacheMax = 8
  private val ckptCache = java.util.Collections.synchronizedMap(
    new java.util.LinkedHashMap[
        String, (Seq[String], Map[String, FileStats])](
        16, 0.75f, /* accessOrder = */ true) {
      override def removeEldestEntry(e: java.util.Map.Entry[
          String, (Seq[String], Map[String, FileStats])]): Boolean =
        size() > CkptCacheMax
    })

  private[graft] def loadCheckpoint(spark: SparkSession, root: String,
      ref: CkptRef): (Seq[String], Map[String, FileStats]) = {
    val abs = new Path(commitsPath(root), ref.path).toString
    val cached = ckptCache.get(abs)
    if (cached != null) return cached
    // STREAMED into the final structures (toLocalIterator over the
    // idx-sorted frame — partition order = global order), never a
    // collect(): at the 1M-entry scale point a Row[] intermediate
    // would transiently double the driver footprint. What remains
    // resident is the resolved body itself — ~1 GB per 1M files
    // (file strings + parsed stats), the inherent cost of driver-side
    // manifest resolution; VersionedTableCheckpointSpec pins the
    // resolve-time bounds at 100k and 1M.
    val it = spark.read.parquet(abs)
      .select("idx", "file", "stats").orderBy("idx")
      .toLocalIterator()
    val files = Seq.newBuilder[String]
    val stats = scala.collection.mutable.HashMap.empty[String, FileStats]
    while (it.hasNext) {
      val r = it.next()
      val fl = r.getString(1)
      files += fl
      if (!r.isNullAt(2)) stats(fl) = parseFileStats(r.getString(2))
    }
    val resolved = (files.result(), stats.toMap)
    ckptCache.put(abs, resolved)
    resolved
  }

  private[graft] def writeCheckpoint(spark: SparkSession, root: String,
      m: Manifest): CkptRef = {
    import spark.implicits._
    val token = java.util.UUID.randomUUID.toString.replace("-", "").take(8)
    val dir = f"ckpt-v${m.version}%012d-$token.parquet"
    val rows = m.files.zipWithIndex.map { case (fl, i) =>
      (i.toLong, fl, m.stats.get(fl).map(renderFileStats).orNull)
    }
    rows.toDF("idx", "file", "stats").coalesce(1)
      .write.mode(SaveMode.ErrorIfExists)
      .parquet(new Path(commitsPath(root), dir).toString)
    CkptRef(dir, m.version)
  }

  /** Render the version JSON — self-contained below the file-count
    * threshold, checkpoint + delta above it. May write a fresh
    * checkpoint parquet (every `checkpointInterval` commits, or when
    * the chain has none to extend).
    */
  private[graft] def renderManifestAuto(spark: SparkSession, root: String,
      m: Manifest): String = {
    if (m.files.size < ckptThreshold(spark)) return renderManifest(m)
    val usable = m.ckpt.filter(c => m.version - c.version < ckptInterval(spark))
    usable match {
      case Some(c) =>
        val (files0, stats0) = loadCheckpoint(spark, root, c)
        val base = files0.toSet
        val cur = m.files.toSet
        val remove = files0.filterNot(cur)
        val add = m.files.filterNot(base)
        val addStats = m.stats.filter { case (fl, fsEntry) =>
          cur.contains(fl) && !stats0.get(fl).contains(fsEntry)
        }
        renderManifest(m.copy(ckpt = Some(c)), Some(CkptDelta(
          remove.toSet, add, addStats)))
      case None =>
        val c = writeCheckpoint(spark, root, m)
        renderManifest(m.copy(ckpt = Some(c)),
          Some(CkptDelta(Set.empty, Nil, Map.empty)))
    }
  }

  /** Commit `df` as a new version. `overwrite = false` appends to the
    * predecessor snapshot (schema must match it); `true` replaces it
    * (old files stay on disk for pinned readers until [[vacuum]]).
    * `statsColumns` selects columns to zone-map in the manifest for
    * [[readWhere]] file skipping (`Seq("*")` = every supported column);
    * the cost is one aggregate scan OF THE STAGED FILES ONLY. Returns
    * the version number won. Safe under concurrent writers: the
    * version-file rename is the arbiter; losers rebuild the manifest
    * against the new latest and retry (bounded; the staged files are
    * reused as-is).
    */
  def commit(df: DataFrame, root: String, overwrite: Boolean = false,
      statsColumns: Seq[String] = Nil, mergeSchema: Boolean = false,
      bloomColumns: Seq[String] = Nil,
      bloomExpectedItems: Long = 100000L, bloomFpp: Double = 0.01,
      partitionBy: Seq[String] = Nil,
      rowGroupStats: Boolean = false): Long =
    commitInternal(df, root, overwrite, None, statsColumns, mergeSchema,
      bloomColumns, bloomExpectedItems, bloomFpp, partitionBy,
      rowGroupStats = rowGroupStats).get

  /** [[commit]] under a streaming writer's exactly-once contract: the
    * manifest records the last committed `batchId` per `writerId`
    * (the Delta `txn` pattern, carried forward commit over commit),
    * so an at-least-once `foreachBatch` replay finds its own batch id
    * already recorded and SKIPS (returns None) instead of appending a
    * duplicate copy. The check reruns inside the version-race retry
    * loop, so two racing replays of the same batch commit exactly one.
    */
  def streamCommit(
      df: DataFrame, root: String, writerId: String, batchId: Long,
      overwrite: Boolean = false, statsColumns: Seq[String] = Nil)
      : Option[Long] = {
    require(!writerId.contains("\""), s"writerId must not contain quotes")
    commitInternal(df, root, overwrite, Some(writerId -> batchId), statsColumns)
  }

  /** [[streamCommit]] for OFFSET-ADDRESSED sources (the Kafka seam):
    * the batch's identity is not a monotone batchId but a set of
    * per-topic-partition offset ranges `tp → [start, end)`. The
    * manifest's txn map records one `"{writerId}:{tp}" → end` entry
    * per partition, carried forward commit over commit, so:
    *
    *   - an at-least-once REPLAY of a committed range (every
    *     partition's recorded end ≥ its range end) skips — returns
    *     None, lands ZERO rows — including replays raced by a
    *     concurrent retry (the judge re-runs inside the publish
    *     retry loop against the fresh manifest);
    *   - a MISALIGNED replay (a recorded end strictly inside a
    *     range, or a batch where only SOME partitions are already
    *     committed — impossible from an atomic commit, so it means
    *     the source re-batched differently) refuses loudly instead
    *     of guessing which rows are duplicates;
    *   - crash-before-commit replays the whole batch and lands it
    *     once, exactly like the batchId ledger.
    *
    * Environment note: no broker exists in this harness — the spec
    * gates the ledger against a simulated offset source; wiring a
    * real Kafka reader is `ranges = batch offsetRanges` and nothing
    * else.
    */
  def streamCommitOffsets(
      df: DataFrame, root: String, writerId: String,
      ranges: Map[String, (Long, Long)],
      statsColumns: Seq[String] = Nil): Option[Long] = {
    require(!writerId.contains("\""), "writerId must not contain quotes")
    require(ranges.nonEmpty, "offset commit needs at least one range")
    ranges.foreach { case (tp, (s, e)) =>
      require(s <= e, s"offset range for $tp inverted: [$s, $e)")
      require(!tp.contains("\""), s"topic-partition must not contain quotes")
    }
    // Kafka micro-batches routinely carry [e, e) ranges for partitions
    // that were idle (caught up) this batch: they bring no rows and
    // need no ledger advance, and counting them as "committed" would
    // flip a legitimate new batch into a false PARTIAL refusal. Judge
    // done/partial over the non-empty ranges only; an all-idle batch
    // is a no-op skip.
    val nonEmpty = ranges.filter { case (_, (s, e)) => s < e }
    if (nonEmpty.isEmpty) return None
    val keyed = nonEmpty.map { case (tp, se) => s"$writerId:$tp" -> se }
    def judge(mOpt: Option[Manifest]): Boolean = mOpt.exists { m =>
      var done = 0
      keyed.foreach { case (k, (s, e)) =>
        m.txn.get(k).foreach { r =>
          if (r > s && r < e) throw new IllegalStateException(
            s"offset ledger for `$k` stands at $r, strictly inside the " +
              s"replayed range [$s, $e) — the source re-batched a " +
              "committed range differently; refusing to guess which " +
              "rows are duplicates")
          if (r >= e) done += 1
        }
      }
      if (done != 0 && done != keyed.size) throw new IllegalStateException(
        s"offset replay for `$writerId` is PARTIALLY committed " +
          s"($done of ${keyed.size} partitions) — an atomic commit " +
          "cannot produce this; the source re-batched across partitions")
      done == keyed.size
    }
    commitInternal(df, root, overwrite = false, txn = None, statsColumns,
      txnAll = keyed.map { case (k, (_, e)) => k -> e },
      skipIf = judge)
  }

  /** A `foreachBatch` body appending each micro-batch exactly once:
    * {{{ stream.writeStream.foreachBatch(VersionedTable.sink(root, "q1") _) }}}
    */
  def sink(root: String, writerId: String)(
      batch: DataFrame, batchId: Long): Unit = {
    streamCommit(batch, root, writerId, batchId)
    ()
  }

  private def alreadyCommitted(
      spark: SparkSession, root: String, txn: Option[(String, Long)]): Boolean =
    txn.exists { case (wid, bid) =>
      latestVersion(spark, root)
        .exists(v => manifest(spark, root, v).txn.get(wid).exists(_ >= bid))
    }

  /** Type-agnostic schema compatibility for appends: same column names
    * bound to the same data types, order- and nullability-insensitive
    * (parquet writers flip nullability freely; a read under the pinned
    * nullable-OR schema is always sound). Nullability is erased DEEPLY
    * — struct fields, array `containsNull`, map `valueContainsNull` —
    * because writers flip those just as freely as top-level nullability.
    */
  private def eraseNullability(dt: DataType): DataType = dt match {
    case s: StructType => StructType(s.fields.map(f =>
      StructField(f.name, eraseNullability(f.dataType), nullable = true)))
    case a: ArrayType =>
      ArrayType(eraseNullability(a.elementType), containsNull = true)
    case m: MapType => MapType(eraseNullability(m.keyType),
      eraseNullability(m.valueType), valueContainsNull = true)
    case other => other
  }

  private def sameColumns(a: StructType, b: StructType): Boolean =
    a.fields.map(f => (f.name, eraseNullability(f.dataType))).sortBy(_._1)
      .toSeq ==
      b.fields.map(f => (f.name, eraseNullability(f.dataType))).sortBy(_._1)
        .toSeq

  /** Schema evolution for `mergeSchema` appends (the Delta
    * `mergeSchema=true` role): columns present in BOTH schemas must
    * bind the same (nullability-erased) type; columns missing from the
    * append read back as NULL from its files; NEW columns extend the
    * table schema (appended after the existing fields, everything
    * nullable — old files read back NULL for them). Returns the
    * widened snapshot schema, or None when a shared column changes
    * type (never silently coercible — that stays an explicit
    * overwrite).
    */
  private def mergeSchemas(prev: StructType, next: StructType)
      : Option[StructType] = {
    val prevByName = prev.fields.map(f => f.name -> f).toMap
    val conflict = next.fields.exists(f => prevByName.get(f.name).exists(p =>
      eraseNullability(p.dataType) != eraseNullability(f.dataType)))
    if (conflict) return None
    val added = next.fields.filterNot(f => prevByName.contains(f.name))
    Some(StructType(
      (prev.fields ++ added).map(f =>
        StructField(f.name, f.dataType, nullable = true))))
  }

  private def commitInternal(
      df: DataFrame, root: String, overwrite: Boolean,
      txn: Option[(String, Long)], statsColumns: Seq[String],
      mergeSchema: Boolean = false,
      bloomColumns: Seq[String] = Nil,
      bloomExpectedItems: Long = 100000L,
      bloomFpp: Double = 0.01,
      partitionBy: Seq[String] = Nil,
      txnAll: Map[String, Long] = Map.empty,
      skipIf: Option[Manifest] => Boolean = _ => false,
      rowGroupStats: Boolean = false): Option[Long] = {
    require(!rowGroupStats || statsColumns.nonEmpty,
      "rowGroupStats needs statsColumns (the row-group maps cover the " +
        "same column set as the file-level zone maps)")
    val spark = df.sparkSession
    val rootP = new Path(root)
    val f = fs(spark, rootP)
    f.mkdirs(commitsPath(root))
    // replay fast-path: skip before paying the stage write
    if (alreadyCommitted(spark, root, txn)) return None
    // ONE manifest resolution serves both the replay judge and the
    // partition/colMap inheritance below — the judge re-runs against
    // the fresh manifest inside the publish retry loop anyway, so a
    // second load here would buy nothing but per-commit I/O
    val prevMeta = latestVersion(spark, root)
      .map(v => manifest(spark, root, v))
    if (skipIf(prevMeta)) return None
    // the partition spec is a TABLE property: an append inherits the
    // predecessor's, may not contradict it, and only an overwrite may
    // change it (same rule as a schema type change)
    val prevParts = prevMeta.map(_.partitionBy)
    // column mapping: appends inherit (their files must write the
    // table's physical names); overwrite resets to identity
    val effColMap: Map[String, String] =
      if (overwrite) Map.empty
      else prevMeta.map(_.colMap).getOrElse(Map.empty)
    // a column may not reuse a physical name the map still points at
    // under a DIFFERENT logical name, nor a DROPPED column's physical
    // name — old files' bytes for that physical column would silently
    // read back as the new column
    val effDropped: Seq[String] =
      if (overwrite) Nil
      else prevMeta.map(_.droppedCols).getOrElse(Nil)
    df.schema.fieldNames.foreach { nme =>
      // only an IDENTITY-mapped column writes under its own logical
      // name; a column the map routes elsewhere (rename(a->b) then
      // rename(c->a): `a` writes as physical `c`) can never collide
      // with the physical name its logical name happens to equal
      if (!effColMap.contains(nme)) {
        effColMap.collectFirst {
          case (l, p) if p == nme && l != nme => l
        }.foreach(l => throw new IllegalArgumentException(
          s"append to $root: column `$nme` reuses the physical name of " +
            s"renamed column `$l`; pick another name"))
        if (effDropped.contains(nme)) throw new IllegalArgumentException(
          s"append to $root: column `$nme` reuses a DROPPED column's " +
            "physical name; pick another name (or overwrite)")
      }
    }
    val effParts: Seq[String] =
      if (overwrite) partitionBy
      else prevParts match {
        case Some(pp) if pp.nonEmpty =>
          require(partitionBy.isEmpty || partitionBy == pp,
            s"append to $root partitioned by (${partitionBy.mkString(",")}) " +
              s"but the table is partitioned by (${pp.mkString(",")}); " +
              "repartitioning requires overwrite = true")
          pp
        case Some(_) =>
          require(partitionBy.isEmpty,
            s"append to $root with partitionBy but the table is " +
              "unpartitioned; partitioning requires overwrite = true")
          Nil
        case None => partitionBy
      }
    effParts.foreach { p =>
      val fd = df.schema.fields.find(_.name == p).getOrElse(
        throw new IllegalArgumentException(
          s"partition column `$p` not in schema ${df.schema.simpleString}"))
      require(statTag(fd.dataType).isDefined,
        s"partition column `$p` has unsupported type ${fd.dataType.simpleString}")
      require(!bloomColumns.contains(p),
        s"partition column `$p` cannot carry a bloom filter — its " +
          "exact per-file bounds already prune point lookups")
    }
    val physCols = physName(effColMap) _
    // CHECK constraints are a TABLE property: they survive overwrite
    // (an overwrite whose schema breaks a predicate must drop the
    // constraint first — loudly, via the analysis error)
    val effConstraints: Map[String, String] =
      prevMeta.map(_.constraints).getOrElse(Map.empty)
    // Hive-layout commits cluster by the partition columns BEFORE the
    // stage write (guide §6; the Iceberg write.distribution-mode=hash
    // role): without it every input task opens a writer per partition
    // value it happens to hold — task-count × value-count small files,
    // written at the scan's parallelism (a 3-task scan writing 48
    // months measured 1.9 s / 144 files; distributed: one file per
    // month at full parallelism). REBALANCE is AQE-managed, so an
    // oversized partition value is SPLIT across tasks instead of
    // serialized through one (the plain repartition(cols) hot-partition
    // trap, guide §2.5). Applies ONLY to the user-facing commit — the
    // maintenance paths (compact/zorder/merge rewrite) arrange their
    // own layout deliberately and stage it untouched.
    val stagedDf =
      if (effParts.nonEmpty) df.hint("rebalance", effParts: _*)
      else df
    val (stageRel, staged) = stage(stagedDf, root, effParts, effColMap,
      effConstraints)
    val stagedStats = statsOfStaged(spark, root, staged, df.schema,
      effColMap, effParts, statsColumns, rowGroupStats)
    val stagedBlooms = collectBlooms(spark, root, stageRel, staged,
      physSchema(df.schema, effColMap), bloomColumns.map(physCols),
      bloomExpectedItems, bloomFpp, effParts)
    // the published schema may WIDEN under mergeSchema (computed per
    // retry against the current latest inside the link callback; the
    // publish loop re-reads it from this var on every attempt)
    var schemaJson = df.schema.json
    publish(spark, root, staged, stagedStats,
      mode = if (overwrite) "overwrite" else "append",
      schemaJsonOf = () => schemaJson, txn = txn,
      linkBlooms = prevM =>
        if (overwrite) stagedBlooms
        else mergeBloomRefs(
          prevM.map(_.blooms).getOrElse(Map.empty), stagedBlooms),
      linkParts = _ => effParts,
      linkColMap = _ => effColMap,
      linkDropped = _ => effDropped,
      linkConstraints = _ => effConstraints,
      txnAll = txnAll, skipIf = skipIf) { prevM =>
      // constraints drift: the staged rows were only checked against
      // the PRE-STAGE constraint set; a racing addConstraint would
      // otherwise let unchecked rows commit (applies to overwrite
      // too — constraints survive it)
      if (prevM.map(_.constraints).getOrElse(effConstraints)
          != effConstraints) {
        f.delete(new Path(rootP, stageRel), true)
        throw new CompactionConflictException(
          s"commit to $root raced a constraint change; rerun against " +
            "the new snapshot")
      }
      if (!overwrite) {
        // the staged layout was written against the PRE-STAGE latest's
        // partition spec / column map / dropped tombstones; a racing
        // overwrite that changed any of them (even with an identical
        // column set, which passes the sameColumns drift check below)
        // would otherwise have this append re-install the stale spec
        // verbatim via linkParts/linkColMap/linkDropped — partitioned
        // files would then read back with null partition values.
        // Re-validate against the FRESH latest on every publish retry.
        val freshParts = prevM.map(_.partitionBy).getOrElse(effParts)
        val freshColMap = prevM.map(_.colMap).getOrElse(effColMap)
        val freshDropped = prevM.map(_.droppedCols).getOrElse(effDropped)
        if (freshParts != effParts || freshColMap != effColMap ||
            freshDropped != effDropped) {
          f.delete(new Path(rootP, stageRel), true)
          throw new CompactionConflictException(
            s"append to $root raced a commit that changed the table's " +
              "partition spec, column mapping or dropped-column set; " +
              "rerun against the new snapshot")
        }
      }
      if (!overwrite) prevM.foreach { m =>
        m.schemaJson.map(DataType.fromJson(_).asInstanceOf[StructType])
          .filterNot(sameColumns(_, df.schema))
          .foreach { prev =>
            val widened =
              if (mergeSchema) mergeSchemas(prev, df.schema) else None
            widened match {
              case Some(w) => schemaJson = w.json
              case None =>
                f.delete(new Path(rootP, stageRel), true)
                throw new java.io.IOException(
                  s"append to $root with incompatible schema: table has " +
                    s"${prev.simpleString}, append staged " +
                    s"${df.schema.simpleString}" +
                    (if (mergeSchema)
                      "; a shared column changed type — that requires " +
                        "overwrite = true"
                    else "; schema change requires overwrite = true " +
                      "(or mergeSchema = true to add/omit columns)"))
            }
          }
      }
      val prevFiles = if (overwrite) Nil else prevM.map(_.files).getOrElse(Nil)
      val prevStats =
        if (overwrite) Map.empty[String, FileStats]
        else prevM.map(_.stats).getOrElse(Map.empty)
      (prevFiles ++ staged, prevStats ++ stagedStats)
    }
  }

  /** Stage `df`'s parquet under a fresh `data/c<token>/`, returning the
    * stage dir's relative path and the sorted relative file list.
    * With `partitionBy` the write lays out Hive-style `col=value/`
    * subdirectories under the stage dir and the returned rels carry
    * the partition segments (`data/c<token>/p=5/part-*.parquet`).
    */
  /** `df` with every CHECK constraint enforced PER ROW, inside the
    * consuming job itself (no second pass, no extra evaluation of a
    * non-deterministic source): a violating row trips `raise_error`
    * while the stage write scans it, the job dies, and [[stage]]
    * translates the marker into [[ConstraintViolationException]].
    * SQL CHECK semantics — only a strictly-FALSE predicate violates.
    */
  private def withConstraintGuard(df: DataFrame,
      constraints: Map[String, String], root: String): DataFrame =
    if (constraints.isEmpty) df
    else constraints.toSeq.sortBy(_._1).foldLeft(df) {
      case (d, (nme, pred)) =>
        // NonPushable pins the guard ABOVE the caller's plan: a plain
        // deterministic filter would be pushed through any join inside
        // `df` and raise on rows the join was about to drop.
        d.filter(org.apache.spark.sql.classic.GraftPlanApi.column(
          graft.plans.NonPushable(
            org.apache.spark.sql.classic.GraftPlanApi.expression(
              when(expr(pred) <=> lit(false),
                raise_error(concat(
                  lit(s"$ConstraintMarker CHECK `$nme` ($pred) violated by "),
                  to_json(struct(df.columns.toSeq.map(col): _*)),
                  lit(s" staged into $root"))).isNotNull)
                .otherwise(lit(true))))))
    }

  private val ConstraintMarker = "graft-constraint:"

  private def constraintCause(e: Throwable): Option[String] = {
    var t: Throwable = e
    while (t != null) {
      val m = t.getMessage
      if (m != null && m.contains(ConstraintMarker))
        return Some(m.substring(m.indexOf(ConstraintMarker)))
      t = t.getCause
    }
    None
  }

  /** Serializes [[stage]]'s scoped `outputTimestampType` override. */
  private object TsConfLock

  private def stage(df: DataFrame, root: String,
      partitionBy: Seq[String] = Nil,
      colMap: Map[String, String] = Map.empty,
      constraints: Map[String, String] = Map.empty): (String, Seq[String]) = {
    val spark = df.sparkSession
    val rootP = new Path(root)
    val f = fs(spark, rootP)
    val token = java.util.UUID.randomUUID.toString.replace("-", "").take(16)
    val stageRel = s"data/c$token"
    val stageP = new Path(rootP, stageRel)
    val w = toPhysicalDf(withConstraintGuard(df, constraints, root), colMap)
      .write.mode(SaveMode.ErrorIfExists)
    // Timestamps stage as INT64 MICROS, not Spark's INT96 default:
    // INT96 carries footer stats parquet-mr refuses to order, so the
    // footer-based stats pass ([[collectStatsFooters]]) would make "no
    // claim" for every TimestampType column and the manifest would
    // silently lose its timestamp zone maps — readWhere/pruneFiles
    // then stop pruning on timestamp predicates (r18 advisor finding).
    // MICROS is the exact unix_micros domain the manifest encodes and
    // every engine reads; scoped set/restore because the conf is
    // session-level (a concurrent foreign write observing MICROS for
    // the window writes identical values in a saner encoding). The
    // set, the write and the restore hold [[TsConfLock]] together:
    // without it a concurrent commit's restore could put INT96 back in
    // the middle of this write.
    val tsKey = "spark.sql.parquet.outputTimestampType"
    val hasTs = df.schema.exists(_.dataType == TimestampType)
    def write(): Unit =
      try labeled(spark, s"graft: stage write $stageRel") {
        (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w)
          .parquet(stageP.toString)
      }
      catch {
        case e: Throwable if constraintCause(e).isDefined =>
          f.delete(stageP, true)
          throw new ConstraintViolationException(constraintCause(e).get)
      }
    if (!hasTs) write()
    else TsConfLock.synchronized {
      val tsPrev = spark.conf.getOption(tsKey)
      spark.conf.set(tsKey, "TIMESTAMP_MICROS")
      try write()
      finally tsPrev match {
        case Some(v) => spark.conf.set(tsKey, v)
        case None => spark.conf.unset(tsKey)
      }
    }
    val prefix = f.makeQualified(stageP).toString + "/"
    val it = f.listFiles(stageP, true)
    val staged = Iterator.continually(it)
      .takeWhile(_.hasNext).map(_.next())
      .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
      .map(s => s"$stageRel/" +
        f.makeQualified(s.getPath).toString.stripPrefix(prefix))
      .toSeq.sorted
    require(staged.nonEmpty || df.schema.nonEmpty,
      s"staging $stageP produced no parquet files")
    (stageRel, staged)
  }

  // ---- column mapping (rename without rewrite) ---------------------------

  private def physName(colMap: Map[String, String])(c: String): String =
    colMap.getOrElse(c, c)

  private def physSchema(schema: StructType,
      colMap: Map[String, String]): StructType =
    if (colMap.isEmpty) schema
    else StructType(schema.fields.map(f =>
      f.copy(name = physName(colMap)(f.name))))

  private def mapStatsCols(cols: Seq[String],
      colMap: Map[String, String]): Seq[String] =
    if (colMap.isEmpty || cols == Seq("*")) cols
    else cols.map(physName(colMap))

  /** Rename a frame's columns logical → physical before a staged
    * write, so every data file of the table carries ONE physical
    * naming regardless of rename history.
    */
  private def toPhysicalDf(df: DataFrame,
      colMap: Map[String, String]): DataFrame =
    if (colMap.isEmpty) df
    else df.select(df.columns.toSeq.map(c =>
      col(c).as(physName(colMap)(c))): _*)

  /** Rewrite a resolved predicate's attribute names logical →
    * physical, so zone-map stats and bloom sidecars (keyed physical)
    * prune renamed columns without any per-lookup translation.
    */
  private def toPhysicalExpr(e: Expression,
      colMap: Map[String, String]): Expression =
    if (colMap.isEmpty) e
    else e.transformUp {
      case a: AttributeReference if colMap.contains(a.name) =>
        a.withName(colMap(a.name))
      case a: UnresolvedAttribute if colMap.contains(a.nameParts.last) =>
        UnresolvedAttribute(Seq(colMap(a.nameParts.last)))
    }

  /** Move logical column `from` to `to` — a METADATA-ONLY commit
    * (mode `rename`): the manifest's schema renames the field and the
    * column map records `to → physical(from)`; no data file, stat or
    * bloom sidecar moves (they are all keyed by the PHYSICAL name,
    * which never changes). Reads resolve the map inside the scan
    * projection; appends and rewrites keep writing the physical name.
    * Constraints: `from` must exist, `to` must be free, partition
    * columns cannot rename (their physical name IS the directory
    * layout), and a later ADDED column may not reuse a physical name
    * the map still points at (guarded at append time). Racing schema
    * changes conflict. Returns the committed version.
    */
  def renameColumn(spark: SparkSession, root: String,
      from: String, to: String): Long = {
    val v = pin(spark, root)
    val m = manifest(spark, root, v)
    val schema = schemaOf(root, m)
    require(schema.fieldNames.contains(from),
      s"rename: no column `$from` in ${schema.simpleString}")
    require(!schema.fieldNames.contains(to),
      s"rename: column `$to` already exists")
    require(TagName.matches(to), s"rename: invalid column name `$to`")
    require(!m.partitionBy.contains(from),
      s"rename: `$from` is a partition column — its physical name is " +
        "the directory layout; repartition via overwrite instead")
    val newSchema = StructType(schema.fields.map(f =>
      if (f.name == from) f.copy(name = to) else f))
    val newColMap = (m.colMap - from) +
      (to -> physName(m.colMap)(from))
    publish(spark, root, Nil, Map.empty, mode = "rename",
      schemaJsonOf = () => newSchema.json, txn = None,
      linkParts = _ => m.partitionBy,
      linkColMap = _ => newColMap.filterNot { case (l, p) => l == p }) {
      prevM =>
        if (prevM.map(_.schemaJson) != Some(m.schemaJson)) throw
          new CompactionConflictException(
            s"rename on $root@v$v raced a schema change; rerun")
        (prevM.map(_.files).getOrElse(Nil),
          prevM.map(_.stats).getOrElse(Map.empty))
    }.getOrElse(throw new IllegalStateException("rename cannot replay"))
  }

  /** Widenings the parquet reader performs in the scan itself AND
    * whose zone-map domains coincide: every integral width shares the
    * "long" stats/bloom domain, and float bounds are already stored
    * in the double grid — so a widened table's OLD stats keep pruning
    * exactly, with zero translation.
    */
  private val widenings: Map[DataType, Set[DataType]] = Map(
    ByteType -> Set(ShortType, IntegerType, LongType),
    ShortType -> Set(IntegerType, LongType),
    IntegerType -> Set(LongType),
    FloatType -> Set(DoubleType))

  /** Widen logical column `name` to `to` — a METADATA-ONLY commit
    * (mode `widen`): the manifest schema's field changes type and
    * nothing else moves; old files read back widened inside the scan
    * (the parquet reader upcasts against the recorded schema), new
    * appends write the wide type, and zone-map / bloom pruning keeps
    * biting because every allowed widening stays in the same stats
    * domain (integrals share the long grid, float bounds are already
    * double). Allowed: byte→short/int/long, short→int/long, int→long,
    * float→double — the exact, order-preserving widenings; anything
    * else (a narrowing, a decimal re-scale, string) remains an
    * explicit overwrite. Racing schema changes conflict.
    */
  def widenColumn(spark: SparkSession, root: String, name: String,
      to: DataType): Long = {
    val v = pin(spark, root)
    val m = manifest(spark, root, v)
    val schema = schemaOf(root, m)
    val field = schema.fields.find(_.name == name).getOrElse(
      throw new IllegalArgumentException(
        s"widen: no column `$name` in ${schema.simpleString}"))
    require(widenings.get(field.dataType).exists(_.contains(to)),
      s"widen: ${field.dataType.simpleString} -> ${to.simpleString} is not " +
        "an exact widening (allowed: integral up-chains, float->double); " +
        "other type changes require overwrite = true")
    val newSchema = StructType(schema.fields.map(f =>
      if (f.name == name) f.copy(dataType = to) else f))
    publish(spark, root, Nil, Map.empty, mode = "widen",
      schemaJsonOf = () => newSchema.json, txn = None,
      linkParts = _ => m.partitionBy,
      linkColMap = _ => m.colMap,
      linkDropped = _ => m.droppedCols) { prevM =>
      if (prevM.map(_.schemaJson) != Some(m.schemaJson)) throw
        new CompactionConflictException(
          s"widen on $root@v$v raced a schema change; rerun")
      (prevM.map(_.files).getOrElse(Nil),
        prevM.map(_.stats).getOrElse(Map.empty))
    }.getOrElse(throw new IllegalStateException("widen cannot replay"))
  }

  /** Install CHECK constraint `name` (a SQL predicate over logical
    * columns) — a METADATA-ONLY commit (mode `constraint`) after ONE
    * validation scan proving the EXISTING data satisfies it (zone-map
    * pruned like any predicate read; Delta's ADD CONSTRAINT does the
    * same). From this commit on, every data-adding write (append,
    * overwrite, merge, replaceWhere, stream commit) enforces the
    * predicate per row inside its stage job and dies with
    * [[ConstraintViolationException]] — nothing commits — on the
    * first violating row. SQL CHECK semantics: NULL passes; pair with
    * `col IS NOT NULL` for NOT NULL columns. Racing commits conflict
    * (they staged against the old constraint set). Returns the
    * committed version.
    */
  def addConstraint(spark: SparkSession, root: String, name: String,
      predicate: String): Long = {
    require(TagName.matches(name), s"constraint: invalid name `$name`")
    val v = pin(spark, root)
    val m = manifest(spark, root, v)
    require(!m.constraints.contains(name),
      s"constraint `$name` already exists (drop it first to replace)")
    val bad = readWhere(spark, root, expr(predicate) <=> lit(false),
      version = Some(v)).limit(1).collect()
    if (bad.nonEmpty) throw new ConstraintViolationException(
      s"$ConstraintMarker cannot add CHECK `$name` ($predicate) to " +
        s"$root: existing row violates it: ${bad.head}")
    publish(spark, root, Nil, Map.empty, mode = "constraint",
      schemaJsonOf = () => m.schemaJson.getOrElse(
        throw new java.io.IOException(s"snapshot of $root has no schema")),
      txn = None,
      linkParts = _ => m.partitionBy,
      linkColMap = _ => m.colMap,
      linkDropped = _ => m.droppedCols,
      linkConstraints = _ => m.constraints + (name -> predicate)) { prevM =>
      // the validation scan read v's data under v's SPEC: a racing
      // data change may have added a violating row, and a racing
      // metadata change (renameColumn/evolve) can strand the predicate
      // on a stale logical name — either would bless a constraint the
      // current snapshot never validated
      if (prevM.map(_.files) != Some(m.files) ||
          prevM.exists(_.dvs != m.dvs) ||
          prevM.exists(_.schemaJson != m.schemaJson) ||
          prevM.exists(_.colMap != m.colMap) ||
          prevM.exists(_.droppedCols != m.droppedCols)) throw
        new CompactionConflictException(
          s"addConstraint on $root@v$v raced a data or schema change; rerun")
      (prevM.map(_.files).getOrElse(Nil),
        prevM.map(_.stats).getOrElse(Map.empty))
    }.getOrElse(throw new IllegalStateException("constraint cannot replay"))
  }

  /** Remove CHECK constraint `name` — metadata-only, never fails on
    * data. Returns the committed version.
    */
  def dropConstraint(spark: SparkSession, root: String,
      name: String): Long = {
    val v = pin(spark, root)
    val m = manifest(spark, root, v)
    require(m.constraints.contains(name),
      s"no constraint `$name` on $root (have: " +
        s"${m.constraints.keys.toSeq.sorted.mkString(", ")})")
    publish(spark, root, Nil, Map.empty, mode = "constraint",
      schemaJsonOf = () => m.schemaJson.getOrElse(
        throw new java.io.IOException(s"snapshot of $root has no schema")),
      txn = None,
      linkParts = _ => m.partitionBy,
      linkColMap = _ => m.colMap,
      linkDropped = _ => m.droppedCols,
      linkConstraints = _ => m.constraints - name) { prevM =>
      (prevM.map(_.files).getOrElse(Nil),
        prevM.map(_.stats).getOrElse(Map.empty))
    }.getOrElse(throw new IllegalStateException("constraint cannot replay"))
  }

  /** The table's live CHECK constraints, name → predicate. */
  def constraintsOf(spark: SparkSession, root: String): Map[String, String] =
    latestVersion(spark, root)
      .map(v => manifest(spark, root, v).constraints)
      .getOrElse(Map.empty)

  /** DESCRIBE HISTORY — the commit log as a DataFrame, one row per
    * RETAINED version (vacuumed history is simply absent): operation,
    * in-commit timestamp, file/row deltas and running totals, all
    * read off the manifests the table already keeps — no data file
    * opens. Row metrics are null when a commit carried no per-file
    * row stats (commit with `statsColumns` to get them), and the
    * delta columns are null for the oldest retained version when its
    * predecessor was vacuumed (nothing to diff against).
    *
    * Driver-bounded by construction: one row per retained version —
    * retention (vacuum's keepVersions + tags) caps it, exactly like
    * Delta's DESCRIBE HISTORY.
    */
  def history(spark: SparkSession, root: String): DataFrame = {
    import spark.implicits._
    val dir = commitsPath(root)
    val f = fs(spark, new Path(root))
    val versions: Seq[Long] =
      if (!f.exists(dir)) Nil
      else f.listStatus(dir).toSeq
        .map(_.getPath.getName)
        .filter(n => n.startsWith("v") && n.endsWith(".json"))
        .map(n => n.substring(1, n.length - 5).toLong)
        .sorted
    val ms = versions.map(v => v -> manifest(spark, root, v)).toMap
    def rowsOf(m: Manifest, rels: Seq[String]): Option[Long] = {
      val rs = rels.map(rel => m.stats.get(rel).map(_.rows).filter(_ >= 0L))
      if (rs.isEmpty) Some(0L)
      else if (rs.exists(_.isEmpty)) None
      else Some(rs.flatten.sum)
    }
    val rows = versions.map { v =>
      val m = ms(v)
      val prev = ms.get(v - 1)
      val prevFiles = prev.map(_.files).getOrElse(Nil)
      val known = v == 0L || prev.nonEmpty
      val added = if (known) Some(m.files.filterNot(prevFiles.toSet)) else None
      val removed =
        if (known) Some(prevFiles.filterNot(m.files.toSet)) else None
      (v, m.mode,
        if (m.ts > 0L) Some(new java.sql.Timestamp(m.ts)) else None,
        added.map(_.size.toLong), removed.map(_.size.toLong),
        added.flatMap(a => rowsOf(m, a)),
        if (v == 0L) Some(0L)
        else removed.flatMap(r => prev.flatMap(p => rowsOf(p, r))),
        m.files.size.toLong, rowsOf(m, m.files),
        m.dvs.values.map(_.dead).sum,
        m.txn.size.toLong, m.constraints.size.toLong)
    }
    rows.toDF("version", "operation", "commit_ts", "files_added",
      "files_removed", "rows_added", "rows_removed", "total_files",
      "total_rows", "dv_dead_rows", "txn_writers", "constraint_count")
  }

  /** Drop logical column `name` — a METADATA-ONLY commit (mode
    * `drop`): the manifest schema loses the field and the physical
    * name lands on the dropped-tombstone list; no data file moves
    * (the bytes stay in old files, excluded by the read schema).
    * A later added column may never reuse the tombstoned physical
    * name (old bytes would read back as the new column) — an
    * overwrite resets the namespace. Partition columns cannot drop.
    * Racing schema changes conflict. Returns the committed version.
    */
  def dropColumn(spark: SparkSession, root: String, name: String): Long = {
    val v = pin(spark, root)
    val m = manifest(spark, root, v)
    val schema = schemaOf(root, m)
    require(schema.fieldNames.contains(name),
      s"drop: no column `$name` in ${schema.simpleString}")
    require(schema.fields.length > 1, "drop: cannot drop the only column")
    require(!m.partitionBy.contains(name),
      s"drop: `$name` is a partition column — repartition via overwrite")
    val phys = physName(m.colMap)(name)
    val newSchema = StructType(schema.fields.filterNot(_.name == name))
    publish(spark, root, Nil, Map.empty, mode = "drop",
      schemaJsonOf = () => newSchema.json, txn = None,
      linkParts = _ => m.partitionBy,
      linkColMap = _ => m.colMap - name,
      linkDropped = _ => (m.droppedCols :+ phys).distinct) { prevM =>
      if (prevM.map(_.schemaJson) != Some(m.schemaJson)) throw
        new CompactionConflictException(
          s"drop on $root@v$v raced a schema change; rerun")
      (prevM.map(_.files).getOrElse(Nil),
        prevM.map(_.stats).getOrElse(Map.empty))
    }.getOrElse(throw new IllegalStateException("drop cannot replay"))
  }

  // ---- Hive-style partition columns --------------------------------------
  //
  // A partitioned table commits its data under `col=value/` directory
  // layout (foreign-reader compatible), and the manifest records the
  // partition spec. Pruning needs NO separate machinery: each file's
  // partition values are parsed off its OWN path at commit time and
  // recorded as exact (min = max = value) zone-map stats, so
  // [[readWhere]]'s one pruning routine handles partition predicates,
  // range predicates and their combinations uniformly — and a
  // partition-restricted predicate prunes to exactly the partition's
  // files before any data file opens.

  /** Partition-column stats parsed off a staged file's rel path —
    * exact bounds, zero data read. Types whose path rendering does
    * not round-trip into the zone-map grid (float/decimal/timestamp)
    * are skipped: no stats = never pruned = sound.
    */
  private def partitionPathStats(rel: String, partitionBy: Seq[String],
      schema: StructType): Map[String, ColStats] = {
    import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
    val byName = rel.split("/").flatMap { seg =>
      val i = seg.indexOf('=')
      if (i <= 0) None
      else Some(ExternalCatalogUtils.unescapePathName(seg.take(i)) ->
        ExternalCatalogUtils.unescapePathName(seg.drop(i + 1)))
    }.toMap
    partitionBy.flatMap { p =>
      val dt = schema.fields.find(_.name == p).map(_.dataType)
      for {
        t <- dt
        tag <- statTag(t)
        raw <- byName.get(p)
        cs <- encodePartitionValue(t, tag, raw)
      } yield p -> cs
    }.toMap
  }

  private def encodePartitionValue(dt: DataType, tag: String,
      raw: String): Option[ColStats] = {
    if (raw == "__HIVE_DEFAULT_PARTITION__")
      // the null partition: every row's value is null — allNull prunes
      // equalities and IS NOT NULL regardless of the file's row count
      return Some(ColStats(tag, None, None, Long.MaxValue))
    val enc: Option[String] = dt match {
      case ByteType | ShortType | IntegerType | LongType =>
        scala.util.Try(raw.toLong.toString).toOption
      case BooleanType => raw match {
        case "true" => Some("1"); case "false" => Some("0"); case _ => None
      }
      case DateType =>
        scala.util.Try(
          java.time.LocalDate.parse(raw).toEpochDay.toString).toOption
      case StringType => Some(raw)
      case DoubleType => scala.util.Try(raw.toDouble.toString).toOption
      // float/decimal/timestamp path strings do not reliably
      // round-trip into the stats grid — leave unpruned
      case _ => None
    }
    enc.map(v => ColStats(tag, Some(v), Some(v), 0L))
  }

  /** Overlay exact path-derived partition stats onto the collected
    * stats map — creating a rows-unknown entry (rows = -1) for files
    * with no collected stats, so partition pruning works even on a
    * stats-off commit. [[rowCount]] and [[analyzeStats]] treat
    * negative rows as "no stats".
    */
  private def withPartitionStats(stats: Map[String, FileStats],
      staged: Seq[String], partitionBy: Seq[String],
      schema: StructType): Map[String, FileStats] = {
    if (partitionBy.isEmpty) return stats
    staged.map { rel =>
      val pcols = partitionPathStats(rel, partitionBy, schema)
      val base = stats.getOrElse(rel, FileStats(-1L, Map.empty))
      rel -> base.copy(cols = base.cols ++ pcols)
    }.toMap
  }

  /** Zone maps of freshly staged files (`schema` logical, `statsColumns`
    * logical or `"*"`), with per-row-group maps when `rowGroups` — the
    * one stats pass of every data-adding publish.
    */
  private def statsOfStaged(spark: SparkSession, root: String,
      staged: Seq[String], schema: StructType, colMap: Map[String, String],
      partitionBy: Seq[String], statsColumns: Seq[String],
      rowGroups: Boolean): Map[String, FileStats] = {
    val phys = physSchema(schema, colMap)
    val cols = mapStatsCols(statsColumns, colMap)
    val stats = withPartitionStats(
      collectStats(spark, root, staged, phys, cols, partitionBy),
      staged, partitionBy, schema)
    if (!rowGroups) stats
    else {
      val rgs = collectRowGroupStats(spark, root, staged, phys, cols,
        partitionBy)
      stats.map { case (rel, s) => rel -> s.copy(rgs = rgs.getOrElse(rel, Nil)) }
    }
  }

  /** The shared publish loop: build the next manifest against the
    * CURRENT latest (recomputed on every race retry via `link`, which
    * returns the full file list + stats map for the new version, or
    * throws to abort), write it to a dot-temp, atomic-no-overwrite
    * rename into place. Returns None only on a txn replay skip.
    */
  private def publish(
      spark: SparkSession, root: String, staged: Seq[String],
      stagedStats: Map[String, FileStats], mode: String,
      schemaJsonOf: () => String,
      txn: Option[(String, Long)],
      linkBlooms: Option[Manifest] => BloomRefs =
        prevM => prevM.map(_.blooms).getOrElse(Map.empty),
      // default: carry the predecessor's deletion vectors RESTRICTED
      // to files that survive into the new version — so any op that
      // rewrites or drops a file (delete/merge/replace/compact/
      // overwrite) implicitly clears its vectors, by construction
      linkDvs: (Option[Manifest], Seq[String]) => Map[String, DvEntry] =
        (prevM, files) => {
          val keep = files.toSet
          prevM.map(_.dvs).getOrElse(Map.empty)
            .filter { case (f, _) => keep.contains(f) }
        },
      // partition spec: carried forward by default; commit overrides
      // on overwrite / first commit
      linkParts: Option[Manifest] => Seq[String] =
        prevM => prevM.map(_.partitionBy).getOrElse(Nil),
      // column mapping: carried forward by default; rename rewrites
      // it, overwrite resets it
      linkColMap: Option[Manifest] => Map[String, String] =
        prevM => prevM.map(_.colMap).getOrElse(Map.empty),
      // dropped-column tombstones: carried forward by default
      linkDropped: Option[Manifest] => Seq[String] =
        prevM => prevM.map(_.droppedCols).getOrElse(Nil),
      // CHECK constraints: carried forward by default (overwrite
      // included — they are a TABLE property); add/dropConstraint
      // rewrite them
      linkConstraints: Option[Manifest] => Map[String, String] =
        prevM => prevM.map(_.constraints).getOrElse(Map.empty),
      // multi-entry writer-progress records (the offset-range ledger
      // writes one entry per topic-partition) — merged after `txn`
      txnAll: Map[String, Long] = Map.empty,
      // replay judge beyond the single-entry `txn` check: evaluated
      // against the FRESH latest on every retry; true = this batch
      // already landed, skip (stage deleted). May throw to refuse a
      // torn/misaligned replay loudly.
      skipIf: Option[Manifest] => Boolean = _ => false)(
      link: Option[Manifest] => (Seq[String], Map[String, FileStats]))
      : Option[Long] = {
    val rootP = new Path(root)
    val f = fs(spark, rootP)
    val fc = FileContext.getFileContext(
      rootP.toUri, spark.sparkContext.hadoopConfiguration)
    val stageDir = staged.headOption
      .map(rel => new Path(rootP, rel.split("/").init.mkString("/")))
    var attempt = 0
    while (attempt < MaxRetries) {
      val prev = latestVersion(spark, root)
      val prevM = prev.map(v => manifest(spark, root, v))
      // race-safe replay check: a concurrent retry of the SAME batch
      // may have published while we staged
      if (txn.exists { case (wid, bid) =>
          prevM.exists(_.txn.get(wid).exists(_ >= bid)) } ||
          skipIf(prevM)) {
        stageDir.foreach(f.delete(_, true)) // our staged copy is the duplicate
        return None
      }
      val next = prev.fold(0L)(_ + 1L)
      val (files, stats) = link(prevM)
      // writer progress is metadata about the STREAM, not the data:
      // it survives an overwrite commit
      val txnMap =
        prevM.map(_.txn).getOrElse(Map.empty) ++ txn.toMap ++ txnAll
      // in-commit timestamp, clamped strictly increasing against the
      // predecessor: versionAsOf stays monotone even under writer
      // clock skew or object-store rename-as-copy mtimes
      val commitTs = math.max(System.currentTimeMillis(),
        prevM.map(_.ts + 1L).getOrElse(Long.MinValue))
      val body = renderManifestAuto(spark, root,
        Manifest(next, mode, files, txnMap, Some(schemaJsonOf()), stats,
          linkBlooms(prevM), linkDvs(prevM, files), ts = commitTs,
          partitionBy = linkParts(prevM),
          // extend the predecessor's delta chain when one exists
          ckpt = prevM.flatMap(_.ckpt),
          colMap = linkColMap(prevM),
          droppedCols = linkDropped(prevM),
          constraints = linkConstraints(prevM)))
      val token = java.util.UUID.randomUUID.toString.take(8)
      val tmp = new Path(commitsPath(root), s".v$next-$token.json.tmp")
      val out = f.create(tmp, true)
      try out.write(body.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
      try {
        // atomic NO-overwrite rename: the commit arbiter
        fc.rename(tmp, versionFile(root, next), Options.Rename.NONE)
        return Some(next)
      } catch {
        case _: org.apache.hadoop.fs.FileAlreadyExistsException |
            _: java.io.IOException if f.exists(versionFile(root, next)) =>
          f.delete(tmp, false) // lost the race; rebuild against new latest
          attempt += 1
      }
    }
    throw new java.io.IOException(
      s"commit to $root lost the version race $MaxRetries times")
  }

  // ---- Bloom-filter point-lookup skipping ------------------------------
  //
  // Zone maps answer RANGE shapes; a point lookup (`id === X`) on a
  // high-cardinality column whose values hash-scatter across files keeps
  // every file (all ranges overlap). A per-file Bloom filter proves
  // absence for most files, so an unclustered point read opens O(1)
  // files — the Delta bloom-index role. Bits live in one sidecar per
  // (commit, column) under the commit's data dir; the manifest carries
  // only the sidecar PATHS. Pruning is SOUND: a file without a bloom
  // entry, a missing/corrupt sidecar, or an un-lowerable literal all
  // KEEP the file; only a definite bloom miss drops it (the filter's
  // false-positive side keeps files, never drops them).

  /** Bloom insertion domain per column type: integral/date/timestamp
    * values insert as longs in the SAME orderable domain the zone maps
    * use; strings insert raw. Floats/decimals/booleans have no bloom
    * (equality on floats is ill-posed; booleans are pointless).
    */
  private def bloomTag(dt: DataType): Option[String] = dt match {
    case ByteType | ShortType | IntegerType | LongType | DateType |
      TimestampType | TimestampNTZType => Some("long")
    case StringType => Some("string")
    case _ => None
  }

  private def mergeBloomRefs(a: BloomRefs, b: BloomRefs): BloomRefs =
    (a.keySet ++ b.keySet).map { c =>
      c -> (a.getOrElse(c, Nil) ++ b.getOrElse(c, Nil)).distinct
    }.toMap

  /** Build one Bloom filter per (staged file, bloom column) with a
    * single distributed pass, write one sidecar file per column into
    * the stage dir, and return the manifest references. Driver holds
    * |staged files| × |columns| filters (~120 KB each at the default
    * sizing) — bounded by ONE commit's file count, never the table's.
    */
  private def collectBlooms(
      spark: SparkSession, root: String, stageRel: String,
      staged: Seq[String], schema: StructType, bloomColumns: Seq[String],
      expectedItems: Long, fpp: Double,
      partitionBy: Seq[String] = Nil): BloomRefs = {
    if (bloomColumns.isEmpty || staged.isEmpty) return Map.empty
    import org.apache.spark.util.sketch.BloomFilter
    val cols: Seq[StructField] = bloomColumns.map { c =>
      val f = schema.fields.find(_.name == c).getOrElse(
        throw new IllegalArgumentException(
          s"bloom column `$c` not in schema ${schema.simpleString}"))
      require(bloomTag(f.dataType).isDefined,
        s"bloom column `$c` has unsupported type ${f.dataType.simpleString}")
      f
    }
    val tags = cols.map(f => bloomTag(f.dataType).get).toArray
    def domain(f: StructField): Column = f.dataType match {
      case DateType => unix_date(col(f.name)).cast("long")
      case TimestampType => unix_micros(col(f.name))
      case TimestampNTZType => unix_micros(col(f.name).cast(TimestampType))
      case StringType => col(f.name)
      case _ => col(f.name).cast("long")
    }
    val rootP = new Path(root)
    val proj = spark.read.schema(schema)
      .parquet(staged.map(rel => new Path(rootP, rel).toString): _*)
      .select(input_file_name().as("_file") +:
        cols.map(f => domain(f).as(f.name)): _*)
    val n = cols.length
    // per-(partition, file) partials; merged driver-side (a split file
    // contributes one partial per split — same (m, k), merge is exact)
    val partials = proj.rdd.mapPartitions { it =>
      val acc = scala.collection.mutable.HashMap
        .empty[String, Array[BloomFilter]]
      it.foreach { row =>
        val file = row.getString(0)
        val bfs = acc.getOrElseUpdate(file,
          Array.fill(n)(BloomFilter.create(expectedItems, fpp)))
        var i = 0
        while (i < n) {
          if (!row.isNullAt(i + 1)) {
            if (tags(i) == "long") bfs(i).putLong(row.getLong(i + 1))
            else bfs(i).putString(row.getString(i + 1))
          }
          i += 1
        }
      }
      acc.iterator.map { case (file, bfs) =>
        file -> bfs.map { bf =>
          val out = new java.io.ByteArrayOutputStream()
          bf.writeTo(out)
          out.toByteArray
        }
      }
    }.collect()
    val merged = scala.collection.mutable.HashMap
      .empty[String, Array[BloomFilter]]
    // sidecar entries key by the stage-dir-relative TAIL (partition
    // segments + file name): the loader resolves entries against the
    // sidecar's own directory, so the tail reaches files inside
    // `col=value/` subdirs, and dynamic-partition writes that reuse a
    // part-file name across partition dirs stay distinct
    val tailDepth = 1 + partitionBy.size
    partials.foreach { case (file, bytesArr) =>
      // input_file_name() is URL-encoded; sidecar entries must key by
      // the on-disk tail or the loader's manifest-rel lookups miss
      // every file under a special-char `col=value/` segment
      val name = decodeFilePath(
        file.split("/").takeRight(tailDepth).mkString("/"))
      val bfs = bytesArr.map(b =>
        BloomFilter.readFrom(new java.io.ByteArrayInputStream(b)))
      merged.get(name) match {
        case Some(prev) =>
          prev.zip(bfs).foreach { case (p, b) => p.mergeInPlace(b); () }
        case None => merged(name) = bfs
      }
    }
    val f = fs(spark, rootP)
    cols.zipWithIndex.map { case (field, i) =>
      val sidecarRel = s"$stageRel/_bloom_${field.name}.idx"
      val entries = merged.toSeq.sortBy(_._1).map { case (name, bfs) =>
        val out = new java.io.ByteArrayOutputStream()
        bfs(i).writeTo(out)
        name -> out.toByteArray
      }
      writeBloomSidecar(f, new Path(rootP, sidecarRel), tags(i), entries)
      field.name -> Seq(sidecarRel)
    }.toMap
  }

  /** Sidecar layout: magic, domain tag, then (bare file name, bloom
    * bytes) frames. Bare names — the loader resolves them against the
    * sidecar's own directory, so a table root can move wholesale.
    */
  private val BloomMagic = 0x47424C31 // "GBL1"

  private def writeBloomSidecar(f: FileSystem, path: Path, tag: String,
      entries: Seq[(String, Array[Byte])]): Unit = {
    val out = new java.io.DataOutputStream(f.create(path, true))
    try {
      out.writeInt(BloomMagic)
      out.writeUTF(tag)
      out.writeInt(entries.size)
      entries.foreach { case (name, bytes) =>
        out.writeUTF(name)
        out.writeInt(bytes.length)
        out.write(bytes)
      }
    } finally out.close()
  }

  /** Read one sidecar: (tag, rel-file → serialized bloom). None when
    * the sidecar is missing or unreadable (vacuumed dir, torn write) —
    * the caller simply loses pruning for those files, never soundness.
    */
  private def readBloomSidecar(f: FileSystem, root: String, sidecarRel: String)
      : Option[(String, Map[String, Array[Byte]])] =
    try {
      val p = new Path(new Path(root), sidecarRel)
      if (!f.exists(p)) return None
      val dirRel = sidecarRel.split("/").init.mkString("/")
      val in = new java.io.DataInputStream(
        new java.io.BufferedInputStream(f.open(p), 64 * 1024))
      try {
        if (in.readInt() != BloomMagic) return None
        val tag = in.readUTF()
        val count = in.readInt()
        val entries = (0 until count).map { _ =>
          val name = in.readUTF()
          val len = in.readInt()
          val bytes = new Array[Byte](len)
          in.readFully(bytes)
          s"$dirRel/$name" -> bytes
        }.toMap
        Some(tag -> entries)
      } finally in.close()
    } catch { case scala.util.control.NonFatal(_) => None }

  /** Column names probed by equality/IN shapes in `e` — the only
    * shapes blooms can answer.
    */
  private def equalityColumns(e: Expression): Set[String] = {
    def attrName(x: Expression): Option[String] = x match {
      case a: UnresolvedAttribute => Some(a.nameParts.last)
      case a: Attribute => Some(a.name)
      case c: Cast => attrName(c.child)
      case _ => None
    }
    var out = Set.empty[String]
    e.foreach {
      case EqualTo(a, _: Literal) => out ++= attrName(a)
      case EqualTo(_: Literal, a) => out ++= attrName(a)
      case EqualNullSafe(a, _: Literal) => out ++= attrName(a)
      case EqualNullSafe(_: Literal, a) => out ++= attrName(a)
      case In(a, lits) if lits.forall(_.isInstanceOf[Literal]) =>
        out ++= attrName(a)
      case _ =>
    }
    out
  }

  /** Deserialize the blooms a predicate can use: column → (tag,
    * rel-file → filter). Loaded once per read, only for the columns the
    * predicate probes.
    */
  private def loadBlooms(spark: SparkSession, root: String, m: Manifest,
      e: Expression)
      : Map[String, (String, Map[String,
        org.apache.spark.util.sketch.BloomFilter])] = {
    if (m.blooms.isEmpty) return Map.empty
    val wanted = equalityColumns(e).intersect(m.blooms.keySet)
    if (wanted.isEmpty) return Map.empty
    val f = fs(spark, new Path(root))
    wanted.toSeq.flatMap { c =>
      val loaded = m.blooms(c).flatMap(readBloomSidecar(f, root, _))
      if (loaded.isEmpty) None
      else {
        val tag = loaded.head._1
        val files = loaded.flatMap(_._2).map { case (rel, bytes) =>
          rel -> org.apache.spark.util.sketch.BloomFilter.readFrom(
            new java.io.ByteArrayInputStream(bytes))
        }.toMap
        Some(c -> (tag, files))
      }
    }.toMap
  }

  /** A literal lowered into a bloom's insertion domain; None keeps the
    * file. The tag comes from the SIDECAR (the column's type at insert
    * time), so a string literal can never probe a long-domain filter.
    */
  private def lowerBloom(tag: String, l: Literal)
      : Option[Either[Long, String]] =
    (tag, l.dataType, l.value) match {
      case (_, _, null) => None
      case ("long", ByteType, b: Byte) => Some(Left(b.toLong))
      case ("long", ShortType, s: Short) => Some(Left(s.toLong))
      case ("long", IntegerType, i: Int) => Some(Left(i.toLong))
      case ("long", LongType, v: Long) => Some(Left(v))
      case ("long", DateType, d: Int) => Some(Left(d.toLong))
      case ("long", TimestampType | TimestampNTZType, m: Long) =>
        Some(Left(m))
      case ("string", StringType, s: UTF8String) => Some(Right(s.toString))
      case _ => None
    }

  // ---- zone-map stats ------------------------------------------------

  /** The orderable-domain tag for a column, or None when the type has
    * no zone-map encoding (arrays, maps, structs, binary — such
    * columns are simply never pruned on).
    */
  private def statTag(dt: DataType): Option[String] = dt match {
    case ByteType | ShortType | IntegerType | LongType | BooleanType =>
      Some("long")
    case FloatType | DoubleType => Some("double")
    case _: DecimalType => Some("decimal")
    case StringType => Some("string")
    case DateType => Some("date")
    // NTZ shares the micros domain: the engine pins every session to
    // UTC (builder invariant), so the LTZ cast below is the identity
    case TimestampType | TimestampNTZType => Some("timestamp")
    case _ => None
  }

  /** Min/max/null-count per staged file for `statsColumns` (`"*"` =
    * every supported column), computed with ONE aggregate over the
    * staged files only — the Delta write-side stats pass. Bounds are
    * encoded in the type's orderable domain (epoch days / micros for
    * date / timestamp) so pruning never parses display formats.
    */
  private def collectStats(
      spark: SparkSession, root: String, staged: Seq[String],
      schema: StructType, statsColumns: Seq[String],
      partitionBy: Seq[String] = Nil)
      : Map[String, FileStats] = {
    if (statsColumns.isEmpty || staged.isEmpty) return Map.empty
    val cols0: Seq[StructField] =
      if (statsColumns == Seq("*")) {
        schema.fields.toSeq.filter(f => statTag(f.dataType).isDefined)
      } else {
        statsColumns.map { c =>
          val f = schema.fields.find(_.name == c).getOrElse(
            throw new IllegalArgumentException(
              s"stats column `$c` not in schema ${schema.simpleString}"))
          require(statTag(f.dataType).isDefined,
            s"stats column `$c` has unsupported type ${f.dataType.simpleString}")
          f
        }
      }
    // partition columns never aggregate here: they are absent from the
    // data files (the directory name carries them) and their EXACT
    // stats come off the path in [[withPartitionStats]]
    val cols = cols0.filterNot(f => partitionBy.contains(f.name))
    if (cols.isEmpty && partitionBy.isEmpty) return Map.empty
    // Footer path (guide §1.2: remove passes; §6: metadata over data):
    // the staged files' parquet FOOTERS already carry exact per-chunk
    // min/max/null-count for every supported type, so the file-level
    // zone maps aggregate off O(files) footers instead of re-scanning
    // O(bytes) of just-written data pages — at commit frequency the
    // stats pass stops costing a second read of the table. Exactness:
    // parquet-mr truncates only column-INDEX stats (64 B), never chunk
    // statistics (default limit 2^31-1); values past the 4 KB metadata
    // cap drop their stats entirely and the column is simply omitted,
    // which every consumer treats as "keep" ([[mayMatch]]) — bounds
    // stay sound, row counts stay exact. Decimals keep the scan (their
    // footer encoding is not lowered into the manifest domain).
    if (cols.forall(f => statTag(f.dataType).get != "decimal")) {
      val wanted = cols.flatMap(f => statTag(f.dataType).map(f.name -> _)).toMap
      collectStatsFooters(spark, root, staged, wanted) match {
        case Some(r) => return r
        case None => () // unreadable footer → the scan below stays correct
      }
    }
    def orderable(f: StructField): Column = f.dataType match {
      case BooleanType => col(f.name).cast("long")
      // floats are WIDENED TO DOUBLE before min/max so the stored bound
      // string lives in the same decimal grid [[lower]] puts float
      // literals in (BigDecimal(fl.toDouble)); Float.toString's shortest
      // round-trip form ("0.1") disagrees with the double expansion
      // ("0.10000000149011612") and would silently drop matching files.
      // The cast is exact and monotone, so min/max commute with it.
      case FloatType => col(f.name).cast("double")
      case DateType => unix_date(col(f.name)).cast("long")
      case TimestampType => unix_micros(col(f.name))
      case TimestampNTZType => unix_micros(col(f.name).cast(TimestampType))
      case _ => col(f.name)
    }
    val aggs = count(lit(1)).as("_rows") +: cols.flatMap { f =>
      Seq(min(orderable(f)).as(s"_min_${f.name}"),
        max(orderable(f)).as(s"_max_${f.name}"),
        sum(when(col(f.name).isNull, 1L).otherwise(0L)).as(s"_nulls_${f.name}"))
    }
    val rootP = new Path(root)
    // key by the path TAIL deep enough to include the partition
    // segments: dynamic-partition writes reuse part-file names across
    // `col=value/` dirs, so the bare name alone is ambiguous there
    val tailDepth = 1 + partitionBy.size
    // plain file read — partition columns are not aggregated, so no
    // partition discovery is needed (absent columns read as null)
    // group by the RAW (URL-encoded) path tail — the per-row regexp +
    // url_decode of the encoded form costs real scan time at commit
    // frequency; the decode runs driver-side over the collected keys
    // instead (one per FILE, not one per row)
    val byFile = labeled(spark, "graft: stats scan") {
      spark.read.schema(schema)
        .parquet(staged.map(rel => new Path(rootP, rel).toString): _*)
        .groupBy(substring_index(input_file_name(), "/", -tailDepth)
          .as("_file"))
        .agg(aggs.head, aggs.tail: _*)
        .collect()
    }
    val byName = staged
      .map(rel => rel.split("/").takeRight(tailDepth).mkString("/") -> rel)
      .toMap
    val withRows = byFile.flatMap { r =>
      val fileName = decodeFilePath(r.getAs[String]("_file"))
      byName.get(fileName).map { rel =>
        val colStats = cols.flatMap { f =>
          val tag = statTag(f.dataType).get
          def enc(v: Any): Option[String] = v match {
            case null => None
            case d: Double if d.isNaN || d.isInfinite => None
            case f2: Float if f2.isNaN || f2.isInfinite => None
            // defense in depth: orderable() already widens floats, but a
            // raw Float must never be stored in its shortest-round-trip
            // form — it would not match [[lower]]'s double-domain grid
            case f2: Float => Some(f2.toDouble.toString)
            case bd: java.math.BigDecimal => Some(bd.toPlainString)
            case x => Some(x.toString)
          }
          val mn = enc(r.getAs[Any](s"_min_${f.name}"))
          val mx = enc(r.getAs[Any](s"_max_${f.name}"))
          val nulls = r.getAs[Long](s"_nulls_${f.name}")
          Some(f.name -> ColStats(tag, mn, mx, nulls))
        }.toMap
        rel -> FileStats(r.getAs[Long]("_rows"), colStats)
      }
    }.toMap
    // zero-row part files (an empty DataFrame committed with stats on)
    // produce NO groupBy(input_file_name) row; without a backfilled
    // entry, rowCount() would return None for every later version and
    // the empty file would survive every pruned read forever
    val emptyStats = FileStats(0L,
      cols.map(f => f.name -> ColStats(statTag(f.dataType).get,
        None, None, 0L)).toMap)
    withRows ++ staged.filterNot(withRows.contains).map(_ -> emptyStats)
  }

  /** Per-row-group zone maps, read off the staged parquet FOOTERS (no
    * data pages opened) on the executors — one footer per task, so a
    * million-file commit collects in parallel like the scan-based
    * [[collectStats]]. Only stats whose parquet encoding maps exactly
    * onto the manifest's string domains are kept (INT32/INT64 → long,
    * FLOAT/DOUBLE → double, UTF8 binary → string in unsigned-byte
    * order — the same order [[lower]] compares with, DATE int32 days,
    * TIMESTAMP int64 ONLY at MICROS — an INT96 or millis column yields
    * no entry); anything uncertain (unset null counts, legacy
    * statistics parquet-mr refuses to trust, decimals) is simply
    * omitted, which [[mayMatch]] treats as "keep". Sound by
    * construction.
    */
  private def collectRowGroupStats(
      spark: SparkSession, root: String, staged: Seq[String],
      schema: StructType, statsColumns: Seq[String],
      partitionBy: Seq[String] = Nil): Map[String, Seq[FileStats]] = {
    if (statsColumns.isEmpty || staged.isEmpty) return Map.empty
    val cols0: Seq[StructField] =
      if (statsColumns == Seq("*"))
        schema.fields.toSeq.filter(f => statTag(f.dataType).isDefined)
      else statsColumns.flatMap(c => schema.fields.find(_.name == c))
    val wanted: Map[String, String] = cols0
      .filterNot(f => partitionBy.contains(f.name))
      .flatMap(f => statTag(f.dataType).map(f.name -> _)).toMap
    if (wanted.isEmpty) return Map.empty
    readFootersPerFile(spark, root, staged, wanted)
  }

  /** Staged-file count up to which [[readFootersPerFile]] reads the
    * footers on the driver instead of in a Spark job.
    */
  private val FooterDriverMaxFiles = 64

  /** Per-row-group [[FileStats]] read off each staged file's FOOTER —
    * no data pages opened. Small commits read on the driver through a
    * bounded pool (no Spark job at all — the commit-path common case);
    * commits past [[FooterDriverMaxFiles]] fan out one footer per task,
    * the million-file shape.
    */
  private def readFootersPerFile(
      spark: SparkSession, root: String, staged: Seq[String],
      wanted: Map[String, String]): Map[String, Seq[FileStats]] = {
    val rootStr = root
    def one(rel: String, conf: org.apache.hadoop.conf.Configuration)
        : (String, Seq[FileStats]) = {
      import scala.jdk.CollectionConverters._
      val p = new Path(new Path(rootStr), rel)
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(p, conf))
      try {
        rel -> reader.getFooter.getBlocks.asScala.toSeq.map { b =>
          val colStats = b.getColumns.asScala.flatMap { cc =>
            val name = cc.getPath.toDotString
            for {
              tag <- wanted.get(name)
              cs <- encodeParquetStats(tag, cc, b.getRowCount)
            } yield name -> cs
          }.toMap
          FileStats(b.getRowCount, colStats)
        }
      } finally reader.close()
    }
    if (staged.size <= FooterDriverMaxFiles) {
      val conf = spark.sparkContext.hadoopConfiguration
      if (staged.size <= 4) staged.map(one(_, conf)).toMap
      else {
        val pool = java.util.concurrent.Executors.newFixedThreadPool(
          math.min(8, staged.size))
        try staged.map(rel => pool.submit(
            new java.util.concurrent.Callable[(String, Seq[FileStats])] {
              def call(): (String, Seq[FileStats]) = one(rel, conf)
            })).map(_.get()).toMap
        catch {
          // surface the real footer failure, not the future wrapper
          case e: java.util.concurrent.ExecutionException =>
            throw Option(e.getCause).getOrElse(e)
        } finally pool.shutdown()
      }
    } else {
      val serConf = new org.apache.spark.util.SerializableConfiguration(
        spark.sparkContext.hadoopConfiguration)
      val slices = math.max(1,
        math.min(staged.size, spark.sparkContext.defaultParallelism))
      labeled(spark, "graft: footer stats") {
        spark.sparkContext.parallelize(staged, slices)
          .map(rel => one(rel, serConf.value)).collect().toMap
      }
    }
  }

  /** Domain comparator for manifest stat strings (the encodings
    * [[encodeParquetStats]] and the stats scan share): integer order
    * for long/date/timestamp, double order for double, UTF8 binary
    * order for string — the same orders [[lower]] compares with.
    * Decimals never reach the footer path ([[collectStats]] dispatch).
    */
  private def statLeq(tag: String, a: String, b: String): Boolean = tag match {
    case "string" =>
      UTF8String.fromString(a).compareTo(UTF8String.fromString(b)) <= 0
    case "double" =>
      java.lang.Double.parseDouble(a) <= java.lang.Double.parseDouble(b)
    case _ => java.lang.Long.parseLong(a) <= java.lang.Long.parseLong(b)
  }

  /** File-level stats folded from one file's per-row-group stats: rows
    * sum over blocks; a column qualifies only when EVERY row group
    * carries a trusted entry for it (min of mins, max of maxes, summed
    * null counts — exact, because chunk stats are exact); a zero-block
    * (empty) file reproduces the scan path's backfilled empty-stats
    * shape so [[rowCount]] and pruned reads behave identically.
    */
  private def combineFileStats(wanted: Map[String, String],
      blocks: Seq[FileStats]): FileStats = {
    if (blocks.isEmpty)
      return FileStats(0L,
        wanted.map { case (n, t) => n -> ColStats(t, None, None, 0L) })
    val rows = blocks.map(_.rows).sum
    val colStats = wanted.flatMap { case (name, tag) =>
      val chunks = blocks.flatMap(_.cols.get(name))
      if (chunks.size != blocks.size) None // an untrusted chunk ⇒ no claim
      else {
        val nulls = chunks.map(_.nulls).sum
        val bounded = chunks.filter(_.min.isDefined)
        if (bounded.isEmpty) Some(name -> ColStats(tag, None, None, nulls))
        else Some(name -> ColStats(tag,
          Some(bounded.map(_.min.get).reduce((x, y) =>
            if (statLeq(tag, x, y)) x else y)),
          Some(bounded.map(_.max.get).reduce((x, y) =>
            if (statLeq(tag, x, y)) y else x)),
          nulls))
      }
    }
    FileStats(rows, colStats)
  }

  /** The footer-based file-level stats pass, or None when any footer
    * is unreadable (the caller falls back to the scan — correctness
    * never depends on this path).
    */
  private def collectStatsFooters(
      spark: SparkSession, root: String, staged: Seq[String],
      wanted: Map[String, String]): Option[Map[String, FileStats]] =
    try {
      val perFile = readFootersPerFile(spark, root, staged, wanted)
      if (perFile.size != staged.size) return None
      val combined = perFile.map { case (rel, blocks) =>
        rel -> combineFileStats(wanted, blocks) }
      // a wanted TIMESTAMP column with zero claims across EVERY file is
      // the INT96-encoding signature (legacy/foreign files predating the
      // MICROS stage pin — INT96 footer stats are untrusted by design,
      // so the omission is deterministic, not a 4 KB-cap one-off): fall
      // back to the scan rather than commit a manifest whose timestamp
      // zone maps are silently empty forever (r18 advisor finding)
      val tsDark = wanted.exists { case (name, tag) =>
        tag == "timestamp" && {
          val nonEmpty = combined.valuesIterator.filter(_.rows > 0).toSeq
          nonEmpty.nonEmpty && nonEmpty.forall(!_.cols.contains(name))
        }
      }
      if (tsDark) None else Some(combined)
    } catch { case scala.util.control.NonFatal(_) => None }

  /** One column chunk's parquet statistics lowered into the manifest's
    * [[ColStats]] string domain; None whenever the mapping is not
    * EXACT (missing/untrusted stats, unset null count, a logical type
    * outside the supported set) — absence keeps the row group.
    */
  private def encodeParquetStats(tag: String,
      cc: org.apache.parquet.hadoop.metadata.ColumnChunkMetaData,
      rgRows: Long): Option[ColStats] = {
    import org.apache.parquet.schema.LogicalTypeAnnotation
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    val st = cc.getStatistics
    if (st == null || !st.isNumNullsSet) return None
    val nulls = st.getNumNulls
    if (!st.hasNonNullValue) {
      // stats carry no value bounds: trustworthy only as the all-null
      // marker; a partially-populated chunk without bounds judges keep
      return if (nulls >= rgRows) Some(ColStats(tag, None, None, nulls))
      else None
    }
    val prim = cc.getPrimitiveType
    val logical = prim.getLogicalTypeAnnotation
    def micros: Boolean = logical match {
      case t: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
        t.getUnit == LogicalTypeAnnotation.TimeUnit.MICROS
      case _ => false
    }
    def dateAnn: Boolean =
      logical.isInstanceOf[LogicalTypeAnnotation.DateLogicalTypeAnnotation]
    def stringAnn: Boolean =
      logical.isInstanceOf[LogicalTypeAnnotation.StringLogicalTypeAnnotation]
    val bounds: Option[(String, String)] =
      (tag, prim.getPrimitiveTypeName) match {
        case ("long", INT32 | INT64) =>
          Some((st.genericGetMin.toString, st.genericGetMax.toString))
        case ("long", BOOLEAN) =>
          def b(v: Any) = if (v == java.lang.Boolean.TRUE) "1" else "0"
          Some((b(st.genericGetMin), b(st.genericGetMax)))
        case ("double", DOUBLE | FLOAT) =>
          def d(v: Any): Option[String] = v match {
            case x: java.lang.Double
              if !x.isNaN && !x.isInfinite => Some(x.toString)
            case x: java.lang.Float if !x.isNaN && !x.isInfinite =>
              Some(x.doubleValue().toString)
            case _ => None
          }
          for { mn <- d(st.genericGetMin); mx <- d(st.genericGetMax) }
            yield (mn, mx)
        case ("string", BINARY) if stringAnn =>
          val mn = st.genericGetMin
            .asInstanceOf[org.apache.parquet.io.api.Binary]
          val mx = st.genericGetMax
            .asInstanceOf[org.apache.parquet.io.api.Binary]
          Some((mn.toStringUsingUTF8, mx.toStringUsingUTF8))
        case ("date", INT32) if dateAnn =>
          Some((st.genericGetMin.toString, st.genericGetMax.toString))
        case ("timestamp", INT64) if micros =>
          Some((st.genericGetMin.toString, st.genericGetMax.toString))
        case _ => None // decimals, INT96 timestamps, exotic encodings
      }
    bounds.map { case (mn, mx) =>
      ColStats(tag, Some(mn), Some(mx), nulls)
    }
  }

  // ---- predicate → file pruning ---------------------------------------

  /** A literal lowered into a stat column's orderable domain, for
    * direct comparison against the manifest's min/max encoding.
    * None = the literal doesn't lower (unknown type pairing, null,
    * unparseable date string …) → the caller keeps the file.
    */
  private def lower(tag: String, lit: Literal): Option[Ordered[String]] = {
    def num(bd: BigDecimal): Option[Ordered[String]] =
      Some(new Ordered[String] {
        def compare(that: String): Int = bd.compare(BigDecimal(that))
      })
    if (lit.value == null) return None
    (tag, lit.dataType, lit.value) match {
      case (("long" | "double" | "decimal"), _, v) => v match {
        case i: Int => num(BigDecimal(i))
        case l: Long => num(BigDecimal(l))
        case s: Short => num(BigDecimal(s.toInt))
        case b: Byte => num(BigDecimal(b.toInt))
        case d: Double if !d.isNaN && !d.isInfinite => num(BigDecimal(d))
        case fl: Float if !fl.isNaN && !fl.isInfinite =>
          num(BigDecimal(fl.toDouble))
        case dec: org.apache.spark.sql.types.Decimal =>
          num(dec.toBigDecimal)
        case b: Boolean => num(BigDecimal(if (b) 1 else 0))
        case _ => None
      }
      case ("string", StringType, s: UTF8String) =>
        // invert back: Ordered is "literal compared to stat"
        Some(new Ordered[String] {
          def compare(that: String): Int =
            s.compareTo(UTF8String.fromString(that))
        })
      case ("date", DateType, days: Int) => num(BigDecimal(days))
      case ("date", StringType, s: UTF8String) =>
        try num(BigDecimal(java.time.LocalDate.parse(s.toString).toEpochDay))
        catch { case _: java.time.format.DateTimeParseException => None }
      case ("timestamp", TimestampType | TimestampNTZType, micros: Long) =>
        num(BigDecimal(micros))
      case _ => None
    }
  }

  /** The predicate RESOLVED against the snapshot schema and
    * constant-folded (analyzer-inserted literal casts — a date-string
    * comparison, say — become typed Literals), so [[mayMatch]] sees
    * real Catalyst comparison nodes, never lazy column wrappers. None
    * on any resolution failure → no pruning (sound).
    */
  private def resolvedPredicate(spark: SparkSession, schema: StructType,
      predicate: Column): Option[Expression] =
    try {
      val empty = spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
        schema)
      empty.filter(predicate).queryExecution.analyzed
        .collectFirst { case f: LogicalFilter => f.condition }
        .map(_.transformUp {
          case e if e.foldable && !e.isInstanceOf[Literal] =>
            Literal(e.eval(null), e.dataType)
        })
    } catch { case scala.util.control.NonFatal(_) => None }

  /** Casts whose unwrap is SOUND for zone-map pruning: exact (every
    * source value representable in the target — no rounding, so the
    * exact-math BigDecimal comparison in [[lower]] agrees with the
    * cast-domain comparison) and order-preserving. Notably EXCLUDES
    * long→double/float (rounds above 2^53 — equality pruning through it
    * would over-drop).
    */
  private def exactWideningCast(from: DataType, to: DataType): Boolean =
    (from, to) match {
      case (ByteType, ShortType | IntegerType | LongType | FloatType |
        DoubleType) => true
      case (ShortType, IntegerType | LongType | FloatType | DoubleType) => true
      case (IntegerType, LongType | DoubleType) => true
      case (FloatType, DoubleType) => true
      case (f: DecimalType, t: DecimalType) =>
        t.precision - t.scale >= f.precision - f.scale && t.scale >= f.scale
      case _ => false
    }

  /** True iff the file MAY contain a row matching `e`, judged from its
    * zone map and (for equality shapes) its Bloom filters. Sound by
    * construction: every unrecognized shape returns true (keep); a
    * file is dropped only on a proof of emptiness. `bloomOf` resolves a
    * column name to this file's (domain tag, filter) when one exists.
    */
  private def mayMatch(e: Expression, fstats: FileStats,
      bloomOf: String => Option[(String,
        org.apache.spark.util.sketch.BloomFilter)] = _ => None): Boolean = {
    def attrName(x: Expression): Option[String] = x match {
      case a: UnresolvedAttribute => Some(a.nameParts.last)
      case a: Attribute => Some(a.name)
      case c: Cast if exactWideningCast(c.child.dataType, c.dataType) =>
        attrName(c.child)
      case _ => None
    }
    def stats(x: Expression): Option[ColStats] =
      attrName(x).flatMap(fstats.cols.get)
    // compare literal against the column interval: cmpMin = sign of
    // (lit - min), cmpMax = sign of (lit - max); None = can't judge
    def interval(a: Expression, l: Literal): Option[(Int, Int)] =
      stats(a).flatMap { cs =>
        for {
          lo <- lower(cs.t, l)
          mn <- cs.min
          mx <- cs.max
        } yield (lo.compare(mn), lo.compare(mx))
      }
    def allNull(a: Expression): Boolean =
      stats(a).exists(cs => cs.min.isEmpty && cs.nulls >= fstats.rows)
    // a definite bloom miss is a proof of absence for an equality;
    // any uncertainty (no filter, un-lowerable literal) keeps the file
    def bloomExcludes(a: Expression, l: Literal): Boolean =
      (for {
        name <- attrName(a)
        (tag, bf) <- bloomOf(name)
        probe <- lowerBloom(tag, l)
      } yield probe match {
        case Left(v) => !bf.mightContainLong(v)
        case Right(s) => !bf.mightContainString(s)
      }).getOrElse(false)
    e match {
      case And(l, r) =>
        mayMatch(l, fstats, bloomOf) && mayMatch(r, fstats, bloomOf)
      case Or(l, r) =>
        mayMatch(l, fstats, bloomOf) || mayMatch(r, fstats, bloomOf)
      case Not(_) => true
      case IsNull(a) => stats(a).forall(_.nulls > 0)
      case IsNotNull(a) => !allNull(a)
      case EqualTo(a, l: Literal) =>
        if (allNull(a) || bloomExcludes(a, l)) false
        else interval(a, l).forall { case (cMn, cMx) => cMn >= 0 && cMx <= 0 }
      case EqualTo(l: Literal, a) => mayMatch(EqualTo(a, l), fstats, bloomOf)
      case EqualNullSafe(a, l: Literal) if l.value != null =>
        mayMatch(EqualTo(a, l), fstats, bloomOf)
      case EqualNullSafe(l: Literal, a) if l.value != null =>
        mayMatch(EqualTo(a, l), fstats, bloomOf)
      case GreaterThan(a, l: Literal) => // ∃ row > lit ⇐ max > lit
        if (allNull(a)) false
        else interval(a, l).forall { case (_, cMx) => cMx < 0 }
      case GreaterThanOrEqual(a, l: Literal) =>
        if (allNull(a)) false
        else interval(a, l).forall { case (_, cMx) => cMx <= 0 }
      case LessThan(a, l: Literal) => // ∃ row < lit ⇐ min < lit
        if (allNull(a)) false
        else interval(a, l).forall { case (cMn, _) => cMn > 0 }
      case LessThanOrEqual(a, l: Literal) =>
        if (allNull(a)) false
        else interval(a, l).forall { case (cMn, _) => cMn >= 0 }
      // flipped operand order: lit OP attr ≡ attr FLIP(OP) lit
      case GreaterThan(l: Literal, a) =>
        mayMatch(LessThan(a, l), fstats, bloomOf)
      case GreaterThanOrEqual(l: Literal, a) =>
        mayMatch(LessThanOrEqual(a, l), fstats, bloomOf)
      case LessThan(l: Literal, a) =>
        mayMatch(GreaterThan(a, l), fstats, bloomOf)
      case LessThanOrEqual(l: Literal, a) =>
        mayMatch(GreaterThanOrEqual(a, l), fstats, bloomOf)
      case In(a, lits) if lits.forall(_.isInstanceOf[Literal]) =>
        if (allNull(a)) false
        else lits.exists(l => mayMatch(EqualTo(a, l.asInstanceOf[Literal]),
          fstats, bloomOf))
      case _ => true
    }
  }

  /** Stand-in for a file with no recorded zone map: judges nothing
    * (every stats lookup misses → keep), so bloom-only commits still
    * prune on equalities.
    */
  private val NoStats = FileStats(-1L, Map.empty)

  /** The manifest's files that may match `e`, judged by zone maps AND
    * bloom sidecars — the one pruning routine every read path calls.
    */
  private def filesMatching(spark: SparkSession, root: String, m: Manifest,
      e0: Expression): Seq[String] = {
    // stats and bloom sidecars key by PHYSICAL column names; the
    // predicate arrives logical — translate once here
    val e = toPhysicalExpr(e0, m.colMap)
    val blooms = loadBlooms(spark, root, m, e)
    def bloomFor(rel: String)(c: String)
        : Option[(String, org.apache.spark.util.sketch.BloomFilter)] =
      blooms.get(c).flatMap { case (tag, byFile) =>
        byFile.get(rel).map(tag -> _)
      }
    m.files.filter { rel =>
      val fsSt = m.stats.getOrElse(rel, NoStats)
      mayMatch(e, fsSt, bloomFor(rel)) &&
        // row-group refinement: with per-row-group maps recorded, the
        // file survives only if SOME row group admits a match — a wide
        // post-compaction envelope no longer shields internally-sorted
        // files (bloom filters are file-scoped: passing the file's
        // filter to each group is sound, a bloom miss refutes every
        // group)
        (fsSt.rgs.isEmpty || fsSt.rgs.exists(rg =>
          mayMatch(e, rg, bloomFor(rel))))
    }
  }

  /** [[filesMatching]] for an unresolved `predicate`: every file when
    * the predicate cannot be judged against `m`'s schema.
    */
  private def filesMayMatch(spark: SparkSession, root: String, m: Manifest,
      predicate: Column): Seq[String] =
    m.schemaJson.map(DataType.fromJson(_).asInstanceOf[StructType])
      .flatMap(resolvedPredicate(spark, _, predicate))
      .fold(m.files)(filesMatching(spark, root, m, _))

  /** Metadata-only COUNT(*): the snapshot's row count summed off the
    * manifest's per-file stats — zero data files opened (the Delta
    * trick that answers `SELECT count(*)` from the log). None when any
    * file lacks stats (an unstatted commit landed in the lineage);
    * fall back to counting the read then.
    */
  def rowCount(spark: SparkSession, root: String,
      version: Option[Long] = None): Option[Long] = {
    val v = pin(spark, root, version)
    val m = manifest(spark, root, v)
    // rows < 0 marks a partition-stats-only entry (partition values
    // recorded for pruning, row count never collected) — unknown, not 0
    val counts = m.files.map(m.stats.get(_).map(_.rows).filter(_ >= 0L))
    if (counts.exists(_.isEmpty)) None
    else Some(counts.flatten.sum - m.dvs.values.map(_.dead).sum)
  }

  /** The manifest's file list split by `predicate` against the zone
    * maps: (kept, dropped). Files without stats are always kept.
    * Exposed for pruning-effectiveness assertions; [[readWhere]] is
    * the consuming read path.
    */
  def pruneFiles(spark: SparkSession, root: String, predicate: Column,
      version: Option[Long] = None): (Seq[String], Seq[String]) = {
    val v = pin(spark, root, version)
    val m = manifest(spark, root, v)
    m.files.partition(filesMayMatch(spark, root, m, predicate).toSet)
  }

  /** The snapshot at `version` (default: latest) as a DataFrame whose
    * plan reads EXACTLY that manifest's files under the manifest's
    * recorded schema — later commits are invisible to it by
    * construction.
    */
  def read(spark: SparkSession, root: String, version: Option[Long] = None)
      : DataFrame = {
    val v = pin(spark, root, version)
    readManifest(spark, root, manifest(spark, root, v), None)
  }

  /** A filtered snapshot read with zone-map file skipping: plans ONLY
    * the files whose stats admit a match for `predicate`, then applies
    * `predicate` as the residual filter (so even a conservative — or
    * statless — manifest yields the exact filtered result; pruning
    * changes the file list, never the answer). Supported prune shapes:
    * comparisons / equality / IN between a stats column and a literal,
    * IS [NOT] NULL, and AND/OR combinations; anything else keeps the
    * file and filters at scan time.
    */
  def readWhere(spark: SparkSession, root: String, predicate: Column,
      version: Option[Long] = None): DataFrame = {
    val v = pin(spark, root, version)
    readManifest(spark, root, manifest(spark, root, v), Some(predicate))
      .filter(predicate)
  }

  private def readManifest(spark: SparkSession, root: String, m: Manifest,
      predicate: Option[Column]): DataFrame = {
    val files = predicate.fold(m.files)(filesMayMatch(spark, root, m, _))
    if (files.isEmpty) {
      val s = m.schemaJson.map(DataType.fromJson(_).asInstanceOf[StructType])
        .getOrElse(throw new java.io.IOException(
          s"empty snapshot of $root has no recorded schema"))
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[Row], s)
    }
    readFilesLive(spark, root, m, files)
  }

  // ---- the rewrite path --------------------------------------------------

  /** The one publish of every file-rewriting mutation — [[compact]] and
    * its partial forms, [[delete]], [[merge]], [[replaceWhere]]: stage
    * `rows` (None when the operation only drops files), collect their
    * zone maps (`statsColumns`, else `"*"` when the table carries
    * stats, so a rewrite never downgrades pruning or the metadata-only
    * count) plus per-row-group maps when the table carries them or
    * `rowGroupStats` asks, and publish pinned manifest `m` minus
    * `removed` plus the staged files as `mode`.
    *
    * Concurrency is optimistic (the Delta rebase): commits since the pin
    * that only add files rebase cleanly; the publish conflicts as
    * [[requireRebase]] states, with `check` as the operation's own rule.
    */
  private def rewrite(spark: SparkSession, root: String, m: Manifest,
      mode: String, read: Iterable[String], removed: Set[String],
      rows: Option[DataFrame], statsColumns: Seq[String],
      external: Boolean = false, rowGroupStats: Boolean = false,
      txn: Option[(String, Long)] = None,
      check: Option[Manifest] => Unit = _ => ()): Option[Long] = {
    val keepStats =
      if (statsColumns.nonEmpty) statsColumns
      else if (m.stats.nonEmpty) Seq("*") else Nil
    val rowGroups =
      rowGroupStats || m.stats.valuesIterator.exists(_.rgs.nonEmpty)
    val staged = rows.map { df =>
      val (rel, files) = stage(df, root, m.partitionBy, m.colMap,
        if (external) m.constraints else Map.empty)
      (rel, files, statsOfStaged(spark, root, files, df.schema, m.colMap,
        m.partitionBy, keepStats, rowGroups))
    }
    val files = staged.map(_._2).getOrElse(Nil)
    val stats = staged.map(_._3).getOrElse(Map.empty[String, FileStats])
    val schemaJson = m.schemaJson.orElse(rows.map(_.schema.json)).getOrElse(
      throw new java.io.IOException(s"snapshot of $root has no recorded schema"))
    publish(spark, root, files, stats, mode = mode,
      schemaJsonOf = () => schemaJson, txn = txn) { prevM =>
      requireRebase(spark, root, mode, m, prevM, read, external,
        staged.map(_._1))(check(prevM))
      (prevM.map(_.files).getOrElse(Nil).filterNot(removed) ++ files,
        (prevM.map(_.stats).getOrElse(Map.empty) -- removed) ++ stats)
    }
  }

  /** The conflict rule of [[rewrite]] and [[deleteVectored]]: throws
    * [[CompactionConflictException]], after deleting the staged dir,
    * when a commit since pinned manifest `m`
    *   - removed or re-vectored a file in `read` (the view the staged
    *     rows were computed from is gone: rebasing would resurrect a
    *     racing delete's rows or drop a racing rewrite's),
    *   - changed the CHECK constraints while the staged rows come from
    *     outside the table (`external`: they were checked against
    *     `m`'s constraints only), or
    *   - fails the operation's own `check`.
    */
  private def requireRebase(spark: SparkSession, root: String, op: String,
      m: Manifest, prevM: Option[Manifest], read: Iterable[String],
      external: Boolean, stageRel: Option[String])(check: => Unit): Unit =
    try {
      if (external &&
          prevM.map(_.constraints).getOrElse(m.constraints) != m.constraints)
        throw new CompactionConflictException(s"$op on $root@v${m.version} " +
          "raced a constraint change; rerun against the new snapshot")
      val prevFiles = prevM.map(_.files).getOrElse(Nil).toSet
      if (!read.forall(prevFiles) || dvsChanged(m, prevM, read))
        throw new CompactionConflictException(s"$op on $root@v${m.version} " +
          "raced a commit that removed or re-vectored files it read; " +
          "rerun against the new snapshot")
      check
    } catch {
      case e: CompactionConflictException =>
        stageRel.foreach(rel =>
          fs(spark, new Path(root)).delete(new Path(new Path(root), rel), true))
        throw e
    }

  /** True when a racing commit changed the deletion vectors of any
    * file in `rels` between the pinned manifest and `prev`.
    */
  private def dvsChanged(pinned: Manifest, prev: Option[Manifest],
      rels: Iterable[String]): Boolean = {
    val prevDvs = prev.map(_.dvs).getOrElse(Map.empty)
    rels.exists(r =>
      prevDvs.get(r).map(_.refs) != pinned.dvs.get(r).map(_.refs))
  }

  // ---- compaction ------------------------------------------------------

  /** Rewrite the latest snapshot's files into `targetPartitions` larger
    * ones — the small-file OPTIMIZE a streaming-append table needs
    * (every micro-batch commit adds files; reads degrade O(files)).
    * Data-identical by construction: the new version holds exactly the
    * rows of the version read. The whole-snapshot case of
    * [[compactFiles]]:
    *
    *   - `clusterBy` non-empty: range-repartition + sort on those
    *     columns (one shuffle) so the rewritten files carry DISJOINT
    *     zone-map ranges — compaction doubles as the clustering pass
    *     that makes [[readWhere]] pruning sharp.
    *   - `zOrderBy` non-empty: the same along a z-curve of its columns.
    *   - both empty: `coalesce` bin-packing, NO shuffle — pure
    *     file-count reduction at file-read cost.
    *
    * Concurrency is [[rewrite]]'s: a racing APPEND rebases cleanly; a
    * racing OVERWRITE or overlapping compaction removed files this pass
    * read → [[CompactionConflictException]], staged files deleted;
    * rerun. Returns the committed version, or None when the table is
    * empty or already a single file with nothing to gain.
    */
  def compact(spark: SparkSession, root: String,
      targetPartitions: Int = 1, clusterBy: Seq[String] = Nil,
      statsColumns: Seq[String] = Nil,
      pinVersion: Option[Long] = None,
      zOrderBy: Seq[String] = Nil, zOrderBits: Int = 8,
      rowGroupStats: Boolean = false): Option[Long] = {
    require(targetPartitions >= 1, "targetPartitions must be >= 1")
    require(clusterBy.isEmpty || zOrderBy.isEmpty,
      "compact takes clusterBy (range) OR zOrderBy (z-curve), not both")
    val v = pinVersion
      .orElse(latestVersion(spark, root)).getOrElse(return None)
    val m = manifest(spark, root, v)
    // outstanding deletion vectors always compact (the purge that
    // re-earns plain scans and lets vacuum destroy the dead bytes)
    if (m.files.isEmpty || m.files.size <= targetPartitions &&
      clusterBy.isEmpty && zOrderBy.isEmpty && m.dvs.isEmpty) return None
    compactPinned(spark, root, m, m.files, targetPartitions, clusterBy,
      statsColumns, zOrderBy, zOrderBits, rowGroupStats)
  }

  /** Rewrite `rels` of pinned manifest `m` — their LIVE rows, deletion
    * vectors applied — into `targetPartitions` files as mode `compact`:
    * z-ordered on `zOrderBy`, range-clustered on `clusterBy`, else
    * bin-packed by `coalesce`. The one compaction of every OPTIMIZE form.
    */
  private def compactPinned(spark: SparkSession, root: String, m: Manifest,
      rels: Seq[String], targetPartitions: Int, clusterBy: Seq[String],
      statsColumns: Seq[String], zOrderBy: Seq[String] = Nil,
      zOrderBits: Int = 8, rowGroupStats: Boolean = false): Option[Long] = {
    val live = readFilesLive(spark, root, m, rels)
    val arranged =
      if (zOrderBy.nonEmpty) graft.operators.ZOrder.cluster(
        live, zOrderBy, zOrderBits, targetPartitions)
      else if (clusterBy.isEmpty) live.coalesce(targetPartitions)
      else live
        .repartitionByRange(targetPartitions, clusterBy.map(col): _*)
        .sortWithinPartitions(clusterBy.map(col): _*)
    rewrite(spark, root, m, "compact", rels, rels.toSet, Some(arranged),
      statsColumns, rowGroupStats = rowGroupStats)
  }

  // ---- ANALYZE (metadata-only stats backfill) ----------------------------

  /** Backfill zone-map / row-count stats for files that LACK them —
    * the ANALYZE TABLE role: one unstatted append (a writer that
    * didn't pass `statsColumns`) permanently disables the
    * metadata-only COUNT(*) and keeps every pruned read opening its
    * files; this pass reads ONLY the stat-less files, computes their
    * stats, and commits a metadata-only version (mode `stats` — zero
    * data files moved, the change feed skips it as data-identical).
    * Stats describe the PHYSICAL file (deletion-vector dead rows
    * included — [[rowCount]] subtracts the recorded dead counts
    * separately, and wider-than-live bounds are sound for pruning).
    * Racing commits never conflict: stats for a file a racing rewrite
    * removed are simply dropped at publish. Returns the committed
    * version, or None when every file already carries stats.
    */
  def analyzeStats(spark: SparkSession, root: String,
      statsColumns: Seq[String] = Seq("*")): Option[Long] = {
    require(statsColumns.nonEmpty, "analyzeStats needs stats columns")
    val v = pin(spark, root)
    val m = manifest(spark, root, v)
    // rows < 0 = a partition-stats-only placeholder: partition values
    // are recorded but the data stats were never collected — backfill
    val missing = m.files.filterNot(rel =>
      m.stats.get(rel).exists(_.rows >= 0L))
    if (missing.isEmpty) return None
    val schema = schemaOf(root, m)
    val fresh = withPartitionStats(
      collectStats(spark, root, missing, physSchema(schema, m.colMap),
        mapStatsCols(statsColumns, m.colMap), m.partitionBy),
      missing, m.partitionBy, schema)
    publish(spark, root, Nil, Map.empty, mode = "stats",
      schemaJsonOf = () => schema.json, txn = None) { prevM =>
      val prevFiles = prevM.map(_.files).getOrElse(Nil)
      val keep = prevFiles.toSet
      val prevStats = prevM.map(_.stats).getOrElse(Map.empty)
      (prevFiles,
        prevStats ++ fresh.filter { case (f, _) => keep.contains(f) })
    }
  }

  // ---- partial compaction (the 100 TB OPTIMIZE shape) --------------------

  /** Bin-pack/rewrite ONLY `rels` — the incremental OPTIMIZE a 100 TB
    * table actually runs (whole-table [[compact]] reads everything; a
    * maintenance pass must cost O(selected files), leaving the healthy
    * 99% of the table untouched). Selected files' LIVE rows (deletion
    * vectors applied — a partial compact doubles as a targeted purge)
    * rewrite into `targetPartitions` files, optionally range-clustered
    * on `clusterBy`; every other file carries into the new version
    * as-is, stats and bytes unmoved. Commits as mode `compact`
    * (data-identical by contract, so the change feed skips it).
    * Concurrency is [[rewrite]]'s: racing appends rebase; a racing
    * commit that removed or re-vectored a selected file conflicts.
    * `statsColumns` defaults as there.
    */
  def compactFiles(spark: SparkSession, root: String, rels: Seq[String],
      targetPartitions: Int = 1, clusterBy: Seq[String] = Nil,
      statsColumns: Seq[String] = Nil,
      pinVersion: Option[Long] = None): Option[Long] = {
    require(targetPartitions >= 1, "targetPartitions must be >= 1")
    if (rels.isEmpty) return None
    val v = pin(spark, root, pinVersion)
    val m = manifest(spark, root, v)
    val unknown = rels.filterNot(m.files.toSet)
    require(unknown.isEmpty,
      s"compactFiles: not in snapshot v$v: ${unknown.mkString(", ")}")
    compactPinned(spark, root, m, rels, targetPartitions, clusterBy,
      statsColumns)
  }

  /** Predicate-scoped OPTIMIZE — `OPTIMIZE WHERE date = X`, the
    * maintenance shape a date-partitioned 100 TB table actually runs
    * (yesterday's thousand streaming micro-batch files bin-pack into
    * a handful; every other partition never moves): compacts ONLY the
    * files whose partition values / zone maps admit `predicate`.
    * Judged by the SAME pruning routine every read uses, so on a
    * partitioned table a partition-equality predicate selects exactly
    * that partition's files. Delegates to [[compactFiles]] (live rows,
    * vector purge, optimistic rebase, conflict semantics). Returns
    * None when the predicate selects nothing (or the table is empty).
    */
  def compactWhere(spark: SparkSession, root: String, predicate: Column,
      targetPartitions: Int = 1, clusterBy: Seq[String] = Nil,
      statsColumns: Seq[String] = Nil): Option[Long] = {
    val v = latestVersion(spark, root).getOrElse(return None)
    compactFiles(spark, root, filesMayMatch(spark, root,
      manifest(spark, root, v), predicate), targetPartitions, clusterBy,
      statsColumns, pinVersion = Some(v))
  }

  /** The small-file maintenance pass: bin-pack every data file at or
    * under `maxFileBytes` (judged from filesystem sizes — one driver
    * listing bounded by the file count) into files of roughly
    * `targetFileBytes`, leaving healthy files alone. No-op (None)
    * unless at least two small files exist. The scheduled-job shape of
    * the Delta OPTIMIZE-small-files role.
    */
  def compactSmall(spark: SparkSession, root: String,
      maxFileBytes: Long = 32L << 20,
      targetFileBytes: Long = 128L << 20,
      clusterBy: Seq[String] = Nil,
      statsColumns: Seq[String] = Nil): Option[Long] = {
    require(maxFileBytes > 0 && targetFileBytes >= maxFileBytes,
      "need 0 < maxFileBytes <= targetFileBytes")
    val v = pin(spark, root)
    val m = manifest(spark, root, v)
    val rootP = new Path(root)
    val f = fs(spark, rootP)
    val sized = m.files.map(rel =>
      rel -> f.getFileStatus(new Path(rootP, rel)).getLen)
    val small = sized.filter(_._2 <= maxFileBytes)
    if (small.size < 2) return None
    val target = math.max(1,
      math.ceil(small.map(_._2).sum.toDouble / targetFileBytes).toInt)
    compactFiles(spark, root, small.map(_._1), target, clusterBy,
      statsColumns, pinVersion = Some(v))
  }

  /** Rewrite ONLY the deletion-vector-dirty files to their live rows,
    * clearing their vectors — the targeted purge that re-earns plain
    * scans and (with [[vacuum]] past retention) physically destroys
    * the dead bytes, at O(dirty files) cost instead of the whole-table
    * compact. Each dirty file rewrites to one file by default. None
    * when the table has no outstanding vectors.
    */
  def purgeVectors(spark: SparkSession, root: String,
      statsColumns: Seq[String] = Nil): Option[Long] = {
    val v = pin(spark, root)
    val m = manifest(spark, root, v)
    if (m.dvs.isEmpty) return None
    val dirty = m.files.filter(m.dvs.contains)
    compactFiles(spark, root, dirty,
      targetPartitions = math.max(1, dirty.size),
      statsColumns = statsColumns, pinVersion = Some(v))
  }

  // ---- row-level delete (takedown) --------------------------------------

  /** Row-level `DELETE WHERE predicate` — the takedown operation an LLM
    * corpus pipeline is legally required to run cheaply (copyright /
    * PII removal), done Delta-style in two phases so cost scales with
    * the MATCHING data, never the table:
    *
    *   1. **Prune**: the predicate is evaluated against the manifest's
    *     zone maps; files whose stats prove no row can match are never
    *     opened (on a z-ordered / clustered table a targeted takedown
    *     touches O(matching files)).
    *   2. **Count**: one aggregate over the surviving candidates finds
    *     per-file match counts (driver-bounded: one row per candidate
    *     file). Files where EVERY row matches are dropped from the
    *     manifest without any rewrite — the whole-file fast path a
    *     domain-level takedown hits when the table is clustered by the
    *     takedown key. Files with partial hits are rewritten to their
    *     survivors; files with zero hits (conservative zone maps) are
    *     left untouched.
    *
    * SQL DELETE semantics: rows where the predicate is TRUE are
    * removed; FALSE and NULL rows survive. The commit lands as mode
    * `delete`, so [[changes]] emits real `delete` CDC rows diffed over
    * the TOUCHED files only (not the overwrite rebuild-barrier), and
    * [[vacuum]] physically destroys the removed files' bytes once they
    * fall out of retention — the part of a takedown that actually
    * discharges the legal obligation.
    *
    * `statsColumns`: zone-map columns for the rewritten files; when
    * empty it defaults to `Seq("*")` IF the table already carries
    * stats, so a delete never silently downgrades the metadata-only
    * count path. Concurrency is [[rewrite]]'s: a racing append rebases
    * cleanly; a racing overwrite/compaction that removed or re-vectored
    * files this delete removes throws [[CompactionConflictException]]
    * (staged survivors are cleaned up) — rerun against the new snapshot.
    *
    * Returns the committed version, or None when no row matches.
    */
  def delete(spark: SparkSession, root: String, predicate: Column,
      statsColumns: Seq[String] = Nil,
      pinVersion: Option[Long] = None): Option[Long] = {
    val m = manifest(spark, root, pin(spark, root, pinVersion))
    // DELETE keeps FALSE and NULL rows; only TRUE rows go
    val hit = coalesce(predicate, lit(false))
    val (whole, partial) = classify(spark, root, m,
      filesMayMatch(spark, root, m, predicate), hit)
    if (whole.isEmpty && partial.isEmpty) return None
    val removed = (whole ++ partial).toSet
    rewrite(spark, root, m, "delete", removed, removed,
      if (partial.isEmpty) None
      else Some(readFilesLive(spark, root, m, partial).filter(!hit)),
      statsColumns)
  }

  /** `candidates` split by how many of their live rows `hit` matches:
    * (every row — the file drops whole, no rewrite; some rows — the
    * file rewrites to its survivors). Files with no match are in
    * neither. One aggregate, one driver row per candidate file.
    */
  private def classify(spark: SparkSession, root: String, m: Manifest,
      candidates: Seq[String], hit: Column): (Seq[String], Seq[String]) = {
    if (candidates.isEmpty) return (Nil, Nil)
    // DvRelCol is the manifest rel for root-relative entries; a
    // clone's absolute references resolve through their tails
    val known = entryByTail(m, candidates)
    // provenance via the per-relation metadata column, never
    // input_file_name() (which rejects the multi-source DV-join plan)
    val counts = readFilesLivePos(spark, root, m, candidates)
      .groupBy(col(DvRelCol).as("_file"))
      .agg(count(when(hit, 1)).as("_matches"), count(lit(1)).as("_total"))
      .collect().toSeq.flatMap(r => known.get(r.getString(0))
        .map(rel => (rel, r.getLong(1), r.getLong(2))))
    (counts.collect { case (rel, n, total) if n == total => rel },
      counts.collect { case (rel, n, total) if n > 0L && n < total => rel })
  }

  /** Row-level DELETE that rewrites NOTHING — the deletion-vector
    * flavor of [[delete]] (the Delta DV role): matching rows' parquet
    * row indexes land in a `(file, pos)` sidecar written
    * DISTRIBUTED (never collected to the driver), the manifest maps
    * each touched data file to its sidecars, and every semantic read
    * anti-joins the dead positions out. Where [[delete]] costs a
    * rewrite of every partially-hit file, this costs O(matching ROWS)
    * — the takedown shape for a handful of documents inside 1 GB
    * files across a 100 TB table.
    *
    * Trades, stated plainly:
    *   - reads of touched files pay the anti join until a [[compact]]
    *     purges them (compact reads the live view and clears vectors
    *     for everything it rewrites — run it to re-earn plain scans
    *     AND to physically destroy the bytes; a dvdelete alone does
    *     NOT discharge a byte-destruction obligation until the
    *     compact + vacuum pair runs);
    *   - zone-map stats of touched files stay conservative (sound —
    *     bounds may cover dead rows); [[rowCount]] subtracts the
    *     recorded dead counts so metadata-only counts stay exact;
    *   - [[exportSnapshot]] refuses while vectors are outstanding
    *     (foreign readers cannot apply them).
    *
    * CDC: the commit lands as mode `dvdelete`; [[changes]] emits the
    * newly-dead rows as `delete`, bounded by the touched files.
    * Concurrency is [[rewrite]]'s rule ([[requireRebase]]) over the
    * files this delete vectors: racing appends rebase; a racing commit
    * that removed OR re-vectored one conflicts loudly (keeps recorded
    * dead counts exact). `txn` gives exactly-once replay
    * protection for streaming takedown feeds. Returns the committed
    * version, or None when nothing matches or the txn already landed.
    */
  def deleteVectored(spark: SparkSession, root: String, predicate: Column,
      pinVersion: Option[Long] = None,
      txn: Option[(String, Long)] = None): Option[Long] = {
    if (alreadyCommitted(spark, root, txn)) return None
    val m = manifest(spark, root, pin(spark, root, pinVersion))
    val candidates = filesMayMatch(spark, root, m, predicate)
    if (candidates.isEmpty) return None
    val hit = coalesce(predicate, lit(false))
    val hits = readFilesLivePos(spark, root, m, candidates)
      .filter(hit)
      .select(col(DvRelCol).as("file"), col(DvPosCol).as("pos"))
    val (stageRel, refs) = stage(hits, root)
    val f = fs(spark, new Path(root))
    // per-file dead counts off the staged sidecar (no recompute;
    // driver-bounded: one row per touched file)
    val newDead = dvRows(spark, root, refs)
      .groupBy("file").agg(count(lit(1)).as("n")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    if (newDead.isEmpty) {
      f.delete(new Path(new Path(root), stageRel), true)
      return None
    }
    publish(spark, root, Nil, Map.empty, mode = "dvdelete",
      schemaJsonOf = () => m.schemaJson.getOrElse(
        throw new java.io.IOException(
          s"snapshot of $root has no recorded schema")),
      txn = txn,
      linkDvs = (prevM, files) => {
        val keep = files.toSet
        val carried = prevM.map(_.dvs).getOrElse(Map.empty)
          .filter { case (fl, _) => keep.contains(fl) }
        newDead.foldLeft(carried) { case (acc, (fl, n)) =>
          val prev = acc.getOrElse(fl, DvEntry(Nil, 0L))
          acc + (fl -> DvEntry(prev.refs ++ refs, prev.dead + n))
        }
      }) { prevM =>
      requireRebase(spark, root, "deleteVectored", m, prevM, newDead.keySet,
        external = false, Some(stageRel))(())
      (prevM.map(_.files).getOrElse(Nil), prevM.map(_.stats).getOrElse(Map.empty))
    }
  }

  // ---- MERGE (keyed upsert / CDC apply) ----------------------------------

  private val DelFlag = "_graft_merge_delete"

  /** Every table column must exist in `source` with the same type
    * (nullability- and order-insensitive, deep nullability erasure
    * like appends); EXTRA source columns are allowed — they exist only for
    * the `deleteMatched` predicate and never reach the table.
    */
  private def requireMergeSchema(table: StructType, source: StructType,
      root: String): Unit = {
    val srcByName = source.fields.map(f => f.name -> f.dataType).toMap
    table.fields.foreach { f =>
      srcByName.get(f.name) match {
        case None => throw new java.io.IOException(
          s"merge into $root: source is missing table column `${f.name}`")
        case Some(dt)
          if eraseNullability(dt) != eraseNullability(f.dataType) =>
          throw new java.io.IOException(
            s"merge into $root: column `${f.name}` has type " +
              s"${dt.simpleString}, table has ${f.dataType.simpleString}")
        case _ => ()
      }
    }
  }

  /** Delta-style `MERGE INTO`, keyed on `keys` — the upsert an SCD /
    * CDC-apply pipeline runs against its serving table:
    *
    *   - WHEN MATCHED AND `deleteMatched`          → DELETE target row
    *   - WHEN MATCHED (otherwise)                  → UPDATE SET * (the
    *     source row replaces the target row wholesale)
    *   - WHEN NOT MATCHED AND NOT `deleteMatched`  → INSERT * (an
    *     unmatched tombstone is a no-op, the standard CDC-apply rule)
    *
    * `deleteMatched` is evaluated on SOURCE rows (a CDC op marker like
    * `col("op") === "D"`); extra source columns may feed it and never
    * reach the table. Source rows with a NULL key never match (SQL
    * join semantics) and land as inserts. The source must be UNIQUE on
    * `keys` over non-null-key rows — multiple source rows hitting one
    * target row is ambiguous, and like Delta the merge fails loudly
    * (one aggregate over the source checks this up front).
    *
    * Cost scales with the MATCHING data, never the table, in three
    * bounded phases:
    *
    *   1. **Prune**: one aggregate computes the source's per-key
    *      min/max; files whose zone maps prove no key in that range
    *      are never opened (on a key-clustered table a trickle batch
    *      touches O(batch) files).
    *   2. **Touch**: a semi join of the surviving candidate files
    *      against the source keys finds the files that actually
    *      CONTAIN a matched key. Each partition dedupes its file names
    *      and the driver dedupes the rest, so the driver receives at
    *      most one row per candidate file per partition and no shuffle
    *      runs. Untouched files carry into the new version as-is —
    *      their stats, bytes and bloom entries never move.
    *   3. **Rewrite**: the new files hold the touched files' survivors
    *      (rows whose key is not in the source, an anti join) plus
    *      every non-deleted source row. Updates and inserts need no
    *      routing: a matched key can only live in a touched file, so
    *      its old row is not a survivor. One staged write carries both.
    *
    * The source keys feed only the semi and anti joins, which ignore
    * duplicates, so they are never deduplicated. The same aggregate
    * that gates uniqueness counts the keyed source rows; when that
    * count times the key columns' default sizes is within
    * `spark.sql.autoBroadcastJoinThreshold`, both joins broadcast the
    * keys and no phase shuffles the table side (`-1` keeps the
    * shuffled joins). A small merge into a table without deletion
    * vectors, without `clusterBy`, is then 8 Spark jobs: the source
    * materialization, 3 for the gate aggregate, 2 for the touch probe
    * (broadcast + scan) and 2 for the rewrite (broadcast + write).
    *
    * The commit lands as mode `merge`, so [[changes]] emits exact CDC:
    * pre-images of updated/deleted rows as `delete`, updated/inserted
    * rows as `insert`, multiset-diffed over the touched files only.
    * `txn` gives exactly-once replay protection for streaming upserts
    * (the foreachBatch MERGE pattern). `clusterBy` range-clusters the
    * rewrite so a key-clustered table stays sharply pruneable under a
    * stream of trickle merges. Concurrency is [[rewrite]]'s for rows
    * from outside the table: a racing commit that removed or
    * re-vectored a candidate file, or changed the CHECK constraints,
    * throws [[CompactionConflictException]]; a racing APPEND rebases only
    * when its files' zone maps prove it holds none of the merge keys,
    * else [[ConcurrentAppendException]] (still the retry contract) —
    * unlike [[delete]], a merge must re-check appends or a just-
    * appended key would be inserted twice. The source is materialized
    * once up front (localCheckpoint) so all three phases see the same
    * rows even from a non-deterministic source.
    *
    * Returns the committed version; None when the merge is a no-op
    * (nothing matched, nothing to insert) or a txn replay.
    */
  def merge(spark: SparkSession, root: String, source: DataFrame,
      keys: Seq[String], deleteMatched: Option[Column] = None,
      statsColumns: Seq[String] = Nil,
      txn: Option[(String, Long)] = None,
      pinVersion: Option[Long] = None,
      clusterBy: Seq[String] = Nil): Option[Long] = {
    require(keys.nonEmpty, "merge requires at least one key column")
    if (alreadyCommitted(spark, root, txn)) return None
    val v = pin(spark, root, pinVersion)
    val m = manifest(spark, root, v)
    val schema = schemaOf(root, m)
    requireMergeSchema(schema, source.schema, root)
    keys.foreach(k => require(schema.fieldNames.contains(k),
      s"merge key `$k` is not a table column"))
    val isDel = coalesce(deleteMatched.getOrElse(lit(false)), lit(false))
    // MATERIALIZE the source before any phase reads it: the gate, the
    // key-bounds aggregate, the touch probe and the rewrite branches
    // each run as independent jobs, and a non-deterministic source (a
    // foreachBatch micro-batch, rand-derived columns, a concurrently
    // mutated table) re-evaluated per job could pass the uniqueness
    // gate yet route different rows per phase — silently losing or
    // duplicating rows. Delta's MERGE materializes for the same
    // reason. Blocks are freed on every exit path.
    val src = labeled(spark, "graft: merge source materialize") {
      source.withColumn(DelFlag, isDel)
        .select(schema.fieldNames.map(col).toSeq :+ col(DelFlag): _*)
        .localCheckpoint()
    }
    try mergePinned(spark, root, src, keys, statsColumns, txn, clusterBy,
      m, schema)
    finally graft.operators.Blocks.drop(src)
  }

  /** [[merge]] phases 1–3 against the pinned snapshot (`src` already
    * schema-aligned, flagged and materialized).
    */
  private def mergePinned(spark: SparkSession, root: String, src: DataFrame,
      keys: Seq[String], statsColumns: Seq[String],
      txn: Option[(String, Long)], clusterBy: Seq[String],
      m: Manifest, schema: StructType): Option[Long] = {
    val keyNotNull = keys.map(col(_).isNotNull).reduce(_ && _)

    // ONE job serves the uniqueness gate AND phase 1's key-bounds
    // aggregate: per-key counts reduce to (max multiplicity, keyed row
    // count, per-key min/max) in a single pass over the materialized
    // source (the row count sizes phase 2's broadcast) — bounds
    // over the distinct keys equal bounds over the rows, and the two
    // separate jobs this used to run (dup gate, then bounds) each paid
    // a full job launch at every merge (guide §1.2: remove passes).
    val prunable = keys.filter(k =>
      statTag(schema(schema.fieldIndex(k)).dataType).isDefined)
    val cntCol = "__graft_merge_n"
    val rowsCol = "__graft_merge_rows"
    val gAggs = Seq(max(col(cntCol)).as(cntCol), sum(col(cntCol)).as(rowsCol)) ++
      prunable.flatMap(k =>
        Seq(min(col(k)).as(s"_min_$k"), max(col(k)).as(s"_max_$k")))
    val g = labeled(spark, "graft: merge gate+bounds") {
      src.filter(keyNotNull).groupBy(keys.map(col): _*)
        .agg(count(lit(1)).as(cntCol))
        .agg(gAggs.head, gAggs.tail: _*)
        .collect().head
    }
    val maxMult =
      if (g.isNullAt(g.fieldIndex(cntCol))) 0L
      else g.getLong(g.fieldIndex(cntCol))
    if (maxMult > 1L) {
      // ambiguous multi-match merges fail loudly; the offending key is
      // looked up on this (rare) failure path only
      val dup = src.filter(keyNotNull).groupBy(keys.map(col): _*).count()
        .filter(col("count") > 1).limit(1).collect()
      throw new IllegalArgumentException(
        s"merge source is not unique on keys ${keys.mkString(",")}: " +
          dup.head.toSeq.init.mkString("(", ",", ")") + " appears " +
          dup.head.getLong(dup.head.length - 1) + " times")
    }

    // phase 1: zone-map prune on the source's key bounds. The
    // resolved bounds expression is also the racing-append overlap
    // judge at publish time, so it is computed once here.
    // noKeyedRows: the source has no non-null-key rows at all — no
    // file can contain a match and no append can collide
    var noKeyedRows = false
    val keyBounds: Option[Expression] =
      if (prunable.isEmpty) None
      else {
        noKeyedRows = prunable.forall(k => g.isNullAt(g.fieldIndex(s"_min_$k")))
        if (noKeyedRows) None
        else {
          val pred = prunable.flatMap { k =>
            val lo = g.get(g.fieldIndex(s"_min_$k"))
            val hi = g.get(g.fieldIndex(s"_max_$k"))
            if (lo == null) None
            else Some(col(k) >= lit(lo) && col(k) <= lit(hi))
          }.reduceOption(_ && _)
          pred.flatMap(resolvedPredicate(spark, schema, _))
        }
      }
    val candidates: Seq[String] =
      if (m.files.isEmpty || noKeyedRows) Nil
      else keyBounds match {
        case Some(e) => filesMatching(spark, root, m, e)
        case None => m.files
      }

    // phase 2: which candidate files CONTAIN a matched key. The source
    // keys only ever feed semi/anti joins, which ignore duplicates on
    // their right side, so they are not deduplicated; a source whose
    // keyed rows fit Spark's own broadcast threshold (sized by the
    // gate's row count) is broadcast, so neither join shuffles
    val keyedRows =
      if (g.isNullAt(g.fieldIndex(rowsCol))) 0L
      else g.getLong(g.fieldIndex(rowsCol))
    val keyBytes = keys.map(k => schema(k).dataType.defaultSize.toLong).sum
    val threshold = spark.sessionState.conf.autoBroadcastJoinThreshold
    val srcKeys = {
      val k = src.filter(keyNotNull).select(keys.map(col): _*)
      if (threshold >= 0 && keyedRows * keyBytes <= threshold) broadcast(k)
      else k
    }
    val touched: Seq[String] =
      if (candidates.isEmpty) Nil
      else {
        val known = entryByTail(m, candidates)
        // deduped per partition and then on the driver, not by a
        // shuffle
        labeled(spark, "graft: merge touch probe") {
          readFilesLivePos(spark, root, m, candidates)
            .withColumnRenamed(DvRelCol, "_file")
            .join(srcKeys, keys.toSeq, "left_semi")
            .select("_file").as(Encoders.STRING)
            .mapPartitions(_.toSet.iterator)(Encoders.STRING)
            .collect()
        }.distinct.flatMap(known.get).toSeq
      }

    // phase 3: survivors of the touched files plus every non-deleted
    // source row — updates and inserts land alike, and matched keys
    // can ONLY live in touched files (a candidate file containing one
    // is touched by construction), so no replaced row survives
    val upserts = src.filter(!col(DelFlag)).drop(DelFlag)
    val out: DataFrame =
      if (touched.isEmpty) upserts
      else readFilesLive(spark, root, m, touched)
        .join(srcKeys, keys.toSeq, "left_anti")
        .unionByName(upserts)
    if (touched.isEmpty && labeled(spark, "graft: merge no-op probe") {
      out.isEmpty
    }) return None // pure-tombstone no-op
    // clusterBy keeps a key-clustered table SHARP under trickle merges:
    // without it every rewrite would interleave survivors, updates and
    // inserts into key-overlapping files, widening zone maps merge
    // over merge until the prune stops biting
    // touched.size + 1 partitions: inserts whose keys fall OUTSIDE the
    // touched files' ranges get their own range partition instead of
    // widening a survivor file's zone map
    val arranged =
      if (clusterBy.isEmpty) out
      else out
        .repartitionByRange(touched.size + 1, clusterBy.map(col): _*)
        .sortWithinPartitions(clusterBy.map(col): _*)
    rewrite(spark, root, m, "merge", candidates, touched.toSet, Some(arranged),
      statsColumns, external = true, txn = txn, check = prevM =>
        // racing-append guard: files that landed AFTER the pinned
        // snapshot never went through the touch probe, so a source key
        // hiding in one would be inserted AGAIN by this merge —
        // duplicate keys. Rebase only when every appended file's zone
        // map is provably disjoint from the source's key bounds; a
        // stat-less append (or an un-judgeable key type) conflicts
        // conservatively and the caller reruns against the new snapshot.
        if (!noKeyedRows) {
          val pinnedSet = m.files.toSet
          val appended = prevM.map(_.files).getOrElse(Nil)
            .filterNot(pinnedSet)
          val prevStats = prevM.map(_.stats).getOrElse(Map.empty)
          val colliding = keyBounds match {
            case _ if appended.isEmpty => Nil
            case Some(e) => appended.filter(rel =>
              mayMatch(toPhysicalExpr(e, m.colMap),
                prevStats.getOrElse(rel, NoStats)))
            case None => appended
          }
          if (colliding.nonEmpty) throw new ConcurrentAppendException(
            s"merge into $root@v${m.version} raced an append whose files " +
              s"may contain merge keys (${colliding.take(3).mkString(", ")}" +
              (if (colliding.size > 3) ", …" else "") +
              "); rerun against the new snapshot")
        })
  }

  // ---- replaceWhere (atomic predicate-scoped overwrite) ------------------

  /** Atomic `INSERT OVERWRITE ... WHERE predicate` — the Delta
    * `replaceWhere` role an incremental backfill runs: rows matching
    * `predicate` are replaced by `df`, everything else is untouched,
    * all in ONE commit (a reader never sees the deleted-but-not-yet-
    * reinserted gap a delete+append pair would expose).
    *
    * Every row of `df` must itself satisfy `predicate` (checked with
    * one job; a violating replacement would silently leak rows outside
    * the replaced region — Delta enforces the same constraint).
    * Pruning and rewrite mirror [[delete]]: zone maps bound the files
    * opened, whole-match files drop with no rewrite, partial-hit files
    * rewrite to survivors. The commit lands as mode `replace`, so
    * [[changes]] emits exact `delete` pre-images and `insert` rows
    * diffed over the touched + staged files only. Concurrency is
    * [[rewrite]]'s for rows from outside the table: a racing commit
    * that removed or re-vectored a replaced file, or changed the CHECK
    * constraints `df` was checked against, conflicts.
    *
    * Returns the committed version, or None on a txn replay.
    */
  def replaceWhere(spark: SparkSession, root: String, df: DataFrame,
      predicate: Column, statsColumns: Seq[String] = Nil,
      txn: Option[(String, Long)] = None,
      pinVersion: Option[Long] = None): Option[Long] = {
    if (alreadyCommitted(spark, root, txn)) return None
    val v = pin(spark, root, pinVersion)
    val m = manifest(spark, root, v)
    val schema = schemaOf(root, m)
    requireMergeSchema(schema, df.schema, root)
    val repl = df.select(schema.fieldNames.map(col).toSeq: _*)
    val hit = coalesce(predicate, lit(false))
    if (!repl.filter(!hit).isEmpty) throw new IllegalArgumentException(
      s"replaceWhere into $root: replacement rows must satisfy the " +
        "predicate; at least one does not")
    val (whole, partial) = classify(spark, root, m,
      filesMayMatch(spark, root, m, predicate), hit)
    val removed = (whole ++ partial).toSet
    val rows =
      if (partial.isEmpty) repl
      else readFilesLive(spark, root, m, partial).filter(!hit).unionByName(repl)
    rewrite(spark, root, m, "replace", removed, removed, Some(rows),
      statsColumns, external = true, txn = txn)
  }

  // ---- tags (dataset releases) -------------------------------------------
  //
  // A tag is a named pin on a version — the "training-set v1.0" role:
  // a corpus release a training run can cite FOREVER, immune to both
  // later commits and vacuum retention (vacuum keeps every tagged
  // version's manifest and files alive alongside the last-K window).
  // Tags live as one tiny JSON file each under `_tags/`, published by
  // the same dot-temp + rename discipline as manifests.

  private def tagsPath(root: String) = new Path(root, "_tags")

  private val TagName = "^[A-Za-z0-9][A-Za-z0-9._-]{0,63}$".r

  /** Pin `name` to `version` (default: latest). Retagging an existing
    * name moves it (the release-candidate flow); the write is atomic
    * so readers never observe a torn tag.
    */
  def tag(spark: SparkSession, root: String, name: String,
      version: Option[Long] = None): Long = {
    require(TagName.matches(name),
      s"tag name `$name` must match ${TagName.regex}")
    val v = pin(spark, root, version)
    val dir = tagsPath(root)
    val fsys = fs(spark, dir)
    if (!fsys.exists(versionFile(root, v)))
      throw new java.io.IOException(s"cannot tag $root@v$v: no manifest")
    fsys.mkdirs(dir)
    val tmp = new Path(dir, s".$name.json.tmp")
    val out = fsys.create(tmp, true)
    try out.write(s"""{"version":$v}""".getBytes(
      java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    // atomic OVERWRITE rename: retagging moves the pin without a
    // window where the tag is missing
    val fc = FileContext.getFileContext(
      dir.toUri, spark.sparkContext.hadoopConfiguration)
    fc.rename(tmp, new Path(dir, s"$name.json"), Options.Rename.OVERWRITE)
    // re-verify AFTER the tag is visible: a vacuum snapshots listTags
    // before it deletes, so a tag landing mid-vacuum can pin a version
    // whose manifest was just destroyed — a permanent tag readTag can
    // never serve. Detect the overlap, remove the bad tag, and fail
    // loudly so the caller re-tags a retained version. (If this
    // retag OVERWROTE an older pin, that pin is gone too — the error
    // is the contract; see the vacuum scaladoc's single-maintenance-
    // writer note.)
    if (!fsys.exists(versionFile(root, v))) {
      fsys.delete(new Path(dir, s"$name.json"), false)
      throw new java.io.IOException(
        s"tag `$name` raced a vacuum that destroyed $root@v$v; " +
          "re-tag a still-retained version")
    }
    v
  }

  /** The version a tag pins, or None when the tag does not exist. */
  def tagVersion(spark: SparkSession, root: String,
      name: String): Option[Long] = {
    val p = new Path(tagsPath(root), s"$name.json")
    val fsys = fs(spark, p)
    if (!fsys.exists(p)) return None
    val in = fsys.open(p)
    val bytes =
      try org.apache.hadoop.io.IOUtils.readFullyToByteArray(in)
      finally in.close()
    val n = mapper.readTree(
      new String(bytes, java.nio.charset.StandardCharsets.UTF_8))
    Option(n.get("version")).map(_.asLong())
  }

  /** Snapshot read pinned by TAG. */
  def readTag(spark: SparkSession, root: String, name: String): DataFrame = {
    val v = tagVersion(spark, root, name).getOrElse(
      throw new java.io.IOException(s"no tag `$name` under $root"))
    read(spark, root, Some(v))
  }

  /** All tags, name → pinned version. */
  def listTags(spark: SparkSession, root: String): Map[String, Long] = {
    val dir = tagsPath(root)
    val fsys = fs(spark, dir)
    if (!fsys.exists(dir)) return Map.empty
    fsys.listStatus(dir).toSeq
      .map(_.getPath.getName)
      .filter(n => n.endsWith(".json") && !n.startsWith("."))
      .flatMap { n =>
        val name = n.dropRight(5)
        tagVersion(spark, root, name).map(name -> _)
      }.toMap
  }

  /** Drop a tag; its version becomes vacuumable once outside the
    * retention window. Returns whether the tag existed.
    */
  def deleteTag(spark: SparkSession, root: String, name: String): Boolean = {
    val p = new Path(tagsPath(root), s"$name.json")
    fs(spark, p).delete(p, false)
  }

  // ---- timestamp time travel ---------------------------------------------

  /** The newest version committed at or before `timestampMillis`
    * (epoch millis), judged by the IN-COMMIT timestamp each manifest
    * records at publish time (clamped strictly increasing against its
    * predecessor — Delta's in-commit-timestamp approach). Commit-file
    * mtimes are only the fallback for legacy manifests without a
    * recorded `ts`: on object stores rename is a copy and mtime the
    * copy time, so raw mtimes can invert across versions — mixed or
    * fallback timestamps are therefore re-clamped monotone in version
    * order here, so the pick can never return version N while
    * excluding N−1. None when the table has no commit that old.
    */
  def versionAsOf(spark: SparkSession, root: String,
      timestampMillis: Long): Option[Long] = {
    val dir = commitsPath(root)
    val f = fs(spark, dir)
    if (!f.exists(dir)) return None
    val byVersion = f.listStatus(dir).toSeq
      .filter { s =>
        val n = s.getPath.getName
        n.startsWith("v") && n.endsWith(".json")
      }
      .map(s => s.getPath.getName.drop(1).dropRight(5).toLong -> s)
      .sortBy(_._1)
    var clamped = Long.MinValue
    byVersion.flatMap { case (v, s) =>
      val recorded = manifest(spark, root, v).ts
      val raw = if (recorded > 0L) recorded else s.getModificationTime
      clamped = if (clamped == Long.MinValue) raw else math.max(raw, clamped + 1L)
      if (clamped <= timestampMillis) Some(v) else None
    }.lastOption
  }

  /** Snapshot read pinned by TIMESTAMP instead of version. */
  def readAsOf(spark: SparkSession, root: String,
      timestampMillis: Long): DataFrame = {
    val v = versionAsOf(spark, root, timestampMillis).getOrElse(
      throw new java.io.IOException(
        s"no commit under $root at or before epoch-millis $timestampMillis"))
    read(spark, root, Some(v))
  }

  // ---- snapshot export for foreign readers -------------------------------

  /** Export a pinned snapshot as a symlink-style manifest — a plain
    * text file of ABSOLUTE parquet paths, one per line — so readers
    * that do not speak the commit protocol (plain `spark.read.parquet`,
    * DuckDB `read_parquet([...])`, Trino's symlink table role) can read
    * a CONSISTENT snapshot: the listed files never change after
    * export (commits only add new files; only [[vacuum]] past
    * retention invalidates an export). Written under
    * `_export/v<version>.manifest.txt` in the table root and returned
    * as the path list.
    */
  def exportSnapshot(spark: SparkSession, root: String,
      version: Option[Long] = None): (String, Seq[String]) = {
    val v = pin(spark, root, version)
    val m = manifest(spark, root, v)
    if (m.dvs.nonEmpty) throw new java.io.IOException(
      s"snapshot $root@v$v has outstanding deletion vectors, which " +
        "foreign plain-parquet readers cannot apply; compact first")
    if (m.colMap.nonEmpty) throw new java.io.IOException(
      s"snapshot $root@v$v has renamed columns (column mapping), which " +
        "foreign plain-parquet readers resolve under their PHYSICAL " +
        "names; rewrite via compact after an overwrite, or read the " +
        "export knowing the physical naming")
    val rootP = new Path(root)
    val f = fs(spark, rootP)
    val abs = m.files.map(rel =>
      f.makeQualified(new Path(rootP, rel)).toString)
    val outP = new Path(new Path(rootP, "_export"), f"v$v%012d.manifest.txt")
    f.mkdirs(outP.getParent)
    val out = f.create(outP, true)
    try out.write((abs.mkString("\n") + "\n")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    (outP.toString, abs)
  }

  /** SHALLOW CLONE (the Delta CLONE role): fork `sourceRoot`'s pinned
    * snapshot into a NEW table at `destRoot` without copying a byte of
    * data — the clone's v0 manifest references the source's data files
    * by ABSOLUTE qualified path (zone maps re-key and keep pruning),
    * so a 100 TB corpus branches for an experiment in one metadata
    * write. Both sides then diverge freely: the clone's commits stage
    * under its OWN root, its vacuum sweeps only its own `data/` dir
    * (foreign absolute references can never name a local commit dir),
    * and the source never observes the clone.
    *
    * Byte-lifetime contract, ENFORCED rather than documented: the
    * clone pins the source version with a table [[tag]]
    * (`graft-clone-<12 hex of the dest root>`), and tagged versions
    * survive the source's vacuum with their files forever — so source
    * maintenance cannot destroy bytes the clone still references.
    * `pinSource = false` skips the tag for callers managing retention
    * themselves (Delta's caveat applies then: a source vacuum past the
    * cloned version breaks the clone).
    *
    * Carried: schema, partition spec, column mapping, dropped-column
    * tombstones, CHECK constraints, zone maps (re-keyed, row-group
    * maps included). NOT carried: bloom sidecars (file-keyed — they
    * would stop matching anyway; they rebuild on the clone's own
    * commits) and the writer txn ledger (a branch is a new stream
    * target). Outstanding deletion vectors REFUSE the clone — their
    * sidecar rows key by root-relative rel, which an absolute
    * reference can never match; run [[purgeVectors]] first (pays only
    * the dirty files). Same rule for [[deleteVectored]] ON the clone
    * while files are still shared: it refuses loudly (rel/abs key
    * mismatch surfaces as its rebase conflict) — [[compact]] localizes
    * every shared file and re-enables it.
    */
  def cloneTable(spark: SparkSession, sourceRoot: String, destRoot: String,
      version: Option[Long] = None, pinSource: Boolean = true): Long = {
    val v = pin(spark, sourceRoot, version)
    val m = manifest(spark, sourceRoot, v)
    if (m.dvs.nonEmpty) throw new java.io.IOException(
      s"snapshot $sourceRoot@v$v has outstanding deletion vectors; " +
        "purgeVectors before cloning (a clone's absolute file " +
        "references can never match the vectors' root-relative keys)")
    require(m.schemaJson.isDefined,
      s"snapshot $sourceRoot@v$v has no recorded schema")
    val srcP = { val p = new Path(sourceRoot); fs(spark, p).makeQualified(p) }
    val dstP = { val p = new Path(destRoot); fs(spark, p).makeQualified(p) }
    require(srcP != dstP, "clone target equals the source")
    require(!(dstP.toString + "/").startsWith(srcP.toString + "/") &&
      !(srcP.toString + "/").startsWith(dstP.toString + "/"),
      s"clone target $dstP nests inside the source (or vice versa) — " +
        "either side's vacuum would sweep the other")
    if (latestVersion(spark, destRoot).isDefined)
      throw new IllegalArgumentException(
        s"clone target $destRoot already has commits")
    def abs(rel: String): String =
      if (new Path(rel).isAbsolute) rel
      else new Path(srcP, rel).toString
    if (pinSource) {
      val tagName = "graft-clone-" + java.security.MessageDigest
        .getInstance("SHA-256").digest(dstP.toString.getBytes("UTF-8"))
        .take(6).map("%02x".format(_)).mkString
      // ALWAYS (re)tag — tag() is an atomic overwrite-retag, so a
      // re-clone to a previously-used (deleted) destination moves the
      // pin to the NEW cloned version; skipping on an existing name
      // would leave the fresh clone unpinned and the byte-lifetime
      // contract silently void
      tag(spark, sourceRoot, tagName, Some(v))
    }
    publish(spark, destRoot, staged = Nil, stagedStats = Map.empty,
      mode = "clone", schemaJsonOf = () => m.schemaJson.get, txn = None,
      linkBlooms = _ => Map.empty,
      linkDvs = (_, _) => Map.empty,
      linkParts = _ => m.partitionBy,
      linkColMap = _ => m.colMap,
      linkDropped = _ => m.droppedCols,
      linkConstraints = _ => m.constraints) { prevM =>
      if (prevM.isDefined) throw new IllegalArgumentException(
        s"clone target $destRoot already has commits")
      (m.files.map(abs), m.stats.map { case (k, s) => abs(k) -> s })
    }.get
  }

  // ---- change feed -----------------------------------------------------

  /** Row-level changes between two committed versions — the CDC feed a
    * downstream incremental consumer reads instead of re-scanning the
    * table. Output: the table's columns plus `_change_type`
    * (insert | delete) and `_commit_version`.
    *
    * Cost model, per intervening commit:
    *   - `append` → its staged files READ DIRECTLY as inserts (zero
    *     diffing — the 100 TB fast path; this is why the manifest
    *     records per-commit file lineage);
    *   - `compact` → no logical change, skipped entirely;
    *   - `delete` → `delete` rows diffed over the TOUCHED files only
    *     (removed files minus their rewritten survivors,
    *     multiplicity-correct) — O(touched), never O(table), because
    *     [[delete]] records exact file lineage;
    *   - `overwrite` → a full snapshot diff (`exceptAll` both ways,
    *     multiplicity-correct) — inherently O(both snapshots) without
    *     row-tracking metadata, so point a CDC consumer at append/
    *     delete/compact tables and treat overwrite as a rebuild
    *     barrier.
    *
    * Requires manifests for every version in [max(from, 0), to]
    * (vacuum retention must cover the range) and a stable schema
    * across it. `fromVersion = -1` starts BEFORE the first commit, so
    * version 0's rows stream as inserts too (the Delta
    * `startingVersion = 0` convention) — the full-history replay an
    * incremental consumer bootstraps from.
    */
  def changes(spark: SparkSession, root: String, fromVersion: Long,
      toVersion: Long): DataFrame = {
    require(fromVersion >= -1L, s"fromVersion must be >= -1, got $fromVersion")
    require(fromVersion <= toVersion,
      s"fromVersion $fromVersion > toVersion $toVersion")
    val manifests = (math.max(fromVersion, 0L) to toVersion)
      .map(v => v -> manifest(spark, root, v)).toMap
    // schema stability is required only across versions that EMIT
    // rows (plus the predecessor snapshots their before-images read).
    // Metadata-only commits (rename/drop/widen) and compact/stats are
    // data-identical and skipped below — a range that merely CROSSES
    // one must not wedge a follower that consumes version by version.
    val schemas = ((fromVersion + 1) to toVersion).flatMap { v =>
      val cur = manifests(v)
      cur.mode match {
        case "compact" | "stats" | "rename" | "drop" | "widen"
          | "constraint" => Nil
        case "append" | "dvdelete" => cur.schemaJson.toSeq
        case _ => // delete/merge/replace/overwrite read v-1 before-images
          cur.schemaJson.toSeq ++
            (if (v == 0L) Nil else manifests(v - 1).schemaJson.toSeq)
      }
    }.toSet
    require(schemas.size <= 1,
      s"schema changed across row-emitting versions inside " +
        s"[$fromVersion, $toVersion]; read full snapshots instead " +
        "(or consume the range in slices that do not straddle the change)")
    val perVersion = ((fromVersion + 1) to toVersion).flatMap { v =>
      val cur = manifests(v)
      val prevFiles: Seq[String] =
        if (v == 0L) Nil else manifests(v - 1).files
      cur.mode match {
        // data-identical by contract (rename/drop/widen ranges are
        // additionally refused by the schema-stability guard above)
        case "compact" | "stats" | "rename" | "drop" | "widen"
          | "constraint" => None
        case "append" =>
          val added = cur.files.filterNot(prevFiles.toSet)
          if (added.isEmpty) None
          else Some(readFiles(spark, root, cur, added)
            .withColumn("_change_type", lit("insert"))
            .withColumn("_commit_version", lit(v)))
        case "delete" =>
          // deleted rows = removed files minus their rewritten
          // survivors — bounded by the commit's TOUCHED files; the
          // before-image is the PREDECESSOR's live view (rows a prior
          // deletion vector already killed must not re-emit)
          val removed = prevFiles.filterNot(cur.files.toSet)
          val added = cur.files.filterNot(prevFiles.toSet)
          if (removed.isEmpty) None
          else {
            val before = readFilesLive(spark, root, manifests(v - 1), removed)
            val after =
              if (added.isEmpty) before.limit(0)
              else readFiles(spark, root, cur, added)
            Some(before.exceptAll(after)
              .withColumn("_change_type", lit("delete"))
              .withColumn("_commit_version", lit(v)))
          }
        case "dvdelete" =>
          // newly-dead rows = THIS commit's sidecar positions joined
          // back to their files — bounded by the touched files, and
          // exact because racing re-vectoring conflicts at commit time
          val prevDvRefs: Set[String] =
            (if (v == 0L) Map.empty[String, DvEntry]
             else manifests(v - 1).dvs).values.flatMap(_.refs).toSet
          val newRefs = cur.dvs.values.flatMap(_.refs).toSet -- prevDvRefs
          val touched = cur.dvs.collect {
            case (fl, e) if e.refs.exists(newRefs.contains) => fl
          }.toSeq
          if (newRefs.isEmpty || touched.isEmpty) None
          else {
            val dv = dvRows(spark, root, newRefs.toSeq.sorted)
              .select(col("file").as("_graft_dv_file"),
                col("pos").as("_graft_dv_deadpos"))
            val deadDelta =
              cur.dvs.values.map(_.dead).sum -
                (if (v == 0L) 0L
                 else manifests(v - 1).dvs.values.map(_.dead).sum)
            val dvSide =
              if (deadDelta <= DvBroadcastMaxRows) broadcast(dv) else dv
            val raw = readFilesRawPos(spark, root, cur, touched)
            Some(raw.join(dvSide,
              raw(DvRelCol) === dvSide("_graft_dv_file") &&
                raw(DvPosCol) === dvSide("_graft_dv_deadpos"),
              "left_semi")
              .drop(DvRelCol, DvPosCol)
              .withColumn("_change_type", lit("delete"))
              .withColumn("_commit_version", lit(v)))
          }
        case "merge" | "replace" =>
          // both directions, multiset-diffed over the TOUCHED +
          // staged files only (survivors rewritten unchanged cancel):
          // pre-images of updated/deleted/replaced rows as `delete`,
          // updated/inserted/replacement rows as `insert`
          val removed = prevFiles.filterNot(cur.files.toSet)
          val added = cur.files.filterNot(prevFiles.toSet)
          if (removed.isEmpty && added.isEmpty) None
          else {
            val empty = readManifest(spark, root, cur, None).limit(0)
            val before =
              if (removed.isEmpty) empty
              else readFilesLive(spark, root, manifests(v - 1), removed)
            val after =
              if (added.isEmpty) empty
              else readFiles(spark, root, cur, added)
            val ins = after.exceptAll(before)
              .withColumn("_change_type", lit("insert"))
            val del = before.exceptAll(after)
              .withColumn("_change_type", lit("delete"))
            Some(ins.unionAll(del).withColumn("_commit_version", lit(v)))
          }
        case _ => // overwrite: full multiset diff of the two snapshots
          val after = readManifest(spark, root, cur, None)
          val before =
            if (v == 0L) after.limit(0)
            else readManifest(spark, root, manifests(v - 1), None)
          val ins = after.exceptAll(before)
            .withColumn("_change_type", lit("insert"))
          val del = before.exceptAll(after)
            .withColumn("_change_type", lit("delete"))
          Some(ins.unionAll(del).withColumn("_commit_version", lit(v)))
      }
    }
    perVersion.reduceOption(_.unionAll(_)).getOrElse {
      val base = readManifest(spark, root, manifests(toVersion), None)
      base.withColumn("_change_type", lit(""))
        .withColumn("_commit_version", lit(0L)).limit(0)
    }
  }

  private def readFiles(spark: SparkSession, root: String, m: Manifest,
      rels: Seq[String]): DataFrame = {
    val abs = rels.map(rel => new Path(new Path(root), rel).toString)
    val schema = m.schemaJson.map(DataType.fromJson(_).asInstanceOf[StructType])
    if (m.partitionBy.isEmpty && m.colMap.isEmpty)
      schema.fold(spark.read)(spark.read.schema(_)).parquet(abs: _*)
    else {
      // partitioned layout: the partition columns live in the
      // `col=value/` directory names. Spark's own partition DISCOVERY
      // cannot span commit dirs (it requires one uniform structure
      // under basePath and rejects `data/c1/d=x` next to
      // `data/c2/d=y`) and reorders partition columns last — so the
      // values are reconstructed from `_metadata.file_path` instead:
      // one scan, no discovery cost, recorded column order preserved.
      // Renamed columns read under their PHYSICAL name and alias back
      // to the logical one in the same projection.
      val s = schema.getOrElse(throw new java.io.IOException(
        s"partitioned/mapped snapshot of $root has no recorded schema"))
      val parts = m.partitionBy.toSet
      val phys = physName(m.colMap) _
      val dataFields = s.fields.filterNot(f => parts(f.name))
      val dataSchema = StructType(dataFields.map(f => f.copy(name = phys(f.name))))
      val base = spark.read.schema(dataSchema).parquet(abs: _*)
      val withParts = m.partitionBy.foldLeft(base) { (df, p) =>
        val seg = regexp_extract(col("_metadata.file_path"),
          "/" + java.util.regex.Pattern.quote(p) + "=([^/]+)/", 1)
        // TWO encoding layers come off: file_path URL-encodes the
        // on-disk name (space → %20, % → %25), and the on-disk name
        // itself Hive-escapes reserved chars in the VALUE (: → %3A).
        // Both are %XX with a literal-'+' caveat, so decode twice with
        // the '+' shield: `a:b` rides as `a%253Ab` → `a%3Ab` → `a:b`.
        val decoded = decodeFilePath(decodeFilePath(seg))
        val typed = when(decoded === "__HIVE_DEFAULT_PARTITION__", lit(null))
          .otherwise(decoded)
          .cast(s.fields.find(_.name == p).get.dataType)
        df.withColumn(p, typed)
      }
      withParts.select(s.fieldNames.toSeq.map(n =>
        if (parts(n)) col(n) else col(phys(n)).as(n)): _*)
    }
  }

  // ---- deletion-vector read plumbing -------------------------------------
  //
  // A deletion vector marks rows of an EXISTING parquet file dead
  // without rewriting the file (the Delta DV role): the manifest maps
  // a data file to parquet sidecars of `(file, pos)` dead positions,
  // `pos` being the parquet row index Spark exposes as
  // `_metadata.row_index`. Every semantic read anti-joins the dead
  // positions out; file paths join on their root-relative form
  // (`data/c<token>/part-*.parquet` — the last three path segments),
  // never on absolute URIs, so a relocated table keeps its vectors.

  private val DvSchema = StructType(Seq(
    StructField("file", StringType, nullable = false),
    StructField("pos", LongType, nullable = false)))

  /** Dead-position sets at or under this many rows ride a broadcast
    * into the anti join (a ~60 MB hash relation of (path, pos) pairs —
    * sized for a modest 4 GB executor, not just this harness); bigger
    * vectors fall back to a shuffled anti join — correct either way,
    * and the decision is made from manifest metadata, zero files
    * opened.
    */
  private val DvBroadcastMaxRows = 1000000L

  private val DvRelCol = "_graft_dv_rel"
  private val DvPosCol = "_graft_dv_pos"

  /** Undo the URL-encoding `input_file_name()` / `_metadata.file_path`
    * apply on top of the on-disk name (space → `%20`, `%` → `%25`, …),
    * back to the raw listing form a manifest rel carries. A literal
    * `+` is NOT an encoding (URI path encoding leaves it raw) — shield
    * it so the decoder does not read it as a space. Hive partition
    * escapes (`col=a%3Ab` for `a:b`) are part of the ON-DISK name and
    * survive this decode intact — only the transport layer comes off.
    */
  private def decodeFilePath(c: Column): Column =
    url_decode(regexp_replace(c, "\\+", "%2B"))

  /** Driver-side twin of [[decodeFilePath]]. */
  private def decodeFilePath(s: String): String =
    java.net.URLDecoder.decode(s.replace("+", "%2B"),
      java.nio.charset.StandardCharsets.UTF_8)

  /** Scan-side provenance ([[fileRelOf]]'s trailing `data/...` form)
    * mapped back to the manifest ENTRY naming the file. Identity for
    * root-relative entries (the common case — "DvRelCol IS the
    * manifest rel"); for a [[cloneTable]]'s ABSOLUTE references the
    * entry is the absolute path whose tail matches. Commit-dir tokens
    * are random per commit, so tails are unique across roots; the
    * require turns the astronomically-unlikely collision into a loud
    * stop instead of a mis-attributed rewrite.
    */
  private def entryByTail(m: Manifest, entries: Seq[String])
      : Map[String, String] = {
    val depth = 3 + m.partitionBy.size
    val idx = entries.map(e =>
      e.split("/").takeRight(depth).mkString("/") -> e)
    require(idx.map(_._1).distinct.size == idx.size,
      "two snapshot files share a trailing path — scan provenance " +
        "cannot be attributed")
    idx.toMap
  }

  /** The manifest-rel of a file off its absolute path: the trailing
    * `data/c<token>/[col=value/…]file` segments — depth 3 plus one
    * per partition column. The tail is split on the ENCODED path
    * (encoded segments never contain `/`), then transport-decoded so
    * the result compares equal to listing-derived manifest rels even
    * when a partition value carries a space/percent/colon.
    */
  private def fileRelOf(c: Column, nPartCols: Int): Column =
    decodeFilePath(substring_index(c, "/", -(3 + nPartCols)))

  /** `rels` read RAW (vectors NOT applied) with position provenance
    * attached as [[DvRelCol]] / [[DvPosCol]].
    */
  private def readFilesRawPos(spark: SparkSession, root: String, m: Manifest,
      rels: Seq[String]): DataFrame =
    readFiles(spark, root, m, rels)
      .withColumn(DvRelCol,
        fileRelOf(col("_metadata.file_path"), m.partitionBy.size))
      .withColumn(DvPosCol, col("_metadata.row_index"))

  private def dvRows(spark: SparkSession, root: String,
      refs: Seq[String]): DataFrame =
    spark.read.schema(DvSchema)
      .parquet(refs.map(rel => new Path(new Path(root), rel).toString): _*)

  /** The LIVE rows of `rels` under `m` (deletion vectors applied),
    * position provenance still attached.
    */
  private def readFilesLivePos(spark: SparkSession, root: String,
      m: Manifest, rels: Seq[String]): DataFrame = {
    val raw = readFilesRawPos(spark, root, m, rels)
    val dirty = rels.filter(m.dvs.contains)
    if (dirty.isEmpty) return raw
    val refs = dirty.flatMap(m.dvs(_).refs).distinct
    val dead = dirty.map(m.dvs(_).dead).sum
    // filter the sidecar rows to the DIRTY files before the size
    // decision bites: sidecars are shared across every file their
    // dvdelete commit touched, so for a subset read (or after partial
    // rewrites) the raw sidecar content can far exceed `dead` — the
    // per-file sum the broadcast cap is sized against. The isin
    // pushes down to the sidecar scan, so only the relevant (file,
    // pos) rows are ever read, broadcast or shuffled.
    val dv = dvRows(spark, root, refs)
      .filter(col("file").isin(dirty: _*))
      .select(col("file").as("_graft_dv_file"),
        col("pos").as("_graft_dv_deadpos"))
    val dvSide = if (dead <= DvBroadcastMaxRows) broadcast(dv) else dv
    raw.join(dvSide,
      raw(DvRelCol) === dvSide("_graft_dv_file") &&
        raw(DvPosCol) === dvSide("_graft_dv_deadpos"),
      "left_anti")
  }

  /** The LIVE rows of `rels` under `m` — the one read every semantic
    * consumer (snapshot read, delete/merge/replace rewrite, compact,
    * CDC pre-image) goes through. Files without vectors read plain,
    * zero overhead.
    */
  private def readFilesLive(spark: SparkSession, root: String, m: Manifest,
      rels: Seq[String]): DataFrame =
    if (!rels.exists(m.dvs.contains)) readFiles(spark, root, m, rels)
    else readFilesLivePos(spark, root, m, rels).drop(DvRelCol, DvPosCol)

  /** Delete crash leftovers and history past the retention count:
    * stale dot-temp manifests, version files older than the newest
    * `keepVersions`, `data/c*` subdirs referenced by NO retained
    * manifest, and — file-granular, inside still-live subdirs —
    * parquet files no retained manifest names (a [[delete]] or
    * [[compact]] rewrote a file out of a commit dir whose siblings are
    * still live: the removed file's BYTES must be destroyed for a
    * takedown to discharge, even though its directory survives).
    * Never touches anything a retained manifest names, so readers
    * pinned inside the retention window are safe.
    *
    * Maintenance concurrency contract: run ONE vacuum at a time (a
    * single maintenance writer). Concurrent COMMITS are safe when
    * `minAgeMs` covers the stage→publish window (pass e.g. 1 h on a
    * multi-writer table): a racing commit's staged-but-unpublished
    * data dir, manifest checkpoint and dot-temp are unreferenced
    * until its version rename lands, and the grace window keeps the
    * sweep off anything that young. The default 0 keeps single-writer
    * crash cleanup eager. A [[tag]] racing a vacuum is handled
    * BEST-EFFORT: vacuum re-lists tags immediately before deleting
    * version files (a freshly landed tag is honored), the tag
    * re-verifies its version file after landing and fails loudly if a
    * vacuum destroyed it, and vacuum finishes with a dangling-tag
    * sweep that removes any tag left pinning a destroyed manifest —
    * so the steady state is always consistent, but a tag landing in
    * the residual window can be REMOVED rather than honored. For a
    * hard no-loss guarantee, serialize tag() with vacuum under the
    * single-maintenance-writer contract above.
    */
  def vacuum(spark: SparkSession, root: String, keepVersions: Int = 2,
      minAgeMs: Long = 0L): Unit = {
    require(keepVersions >= 1, s"keepVersions must be >= 1, got $keepVersions")
    require(minAgeMs >= 0L, s"minAgeMs must be >= 0, got $minAgeMs")
    val rootP = new Path(root)
    val f = fs(spark, rootP)
    val dir = commitsPath(root)
    if (!f.exists(dir)) return
    // UNREFERENCED artifacts younger than minAgeMs are spared: a
    // racing commit stages its data dir / checkpoint / dot-temp
    // BEFORE the version rename makes them referenced, so a vacuum
    // running beside live writers must pass a grace window (e.g.
    // 1 h) — the default 0 keeps single-writer crash cleanup eager
    val cutoff = System.currentTimeMillis() - minAgeMs
    def oldEnough(s: org.apache.hadoop.fs.FileStatus): Boolean =
      s.getModificationTime <= cutoff
    f.listStatus(dir).toSeq.filter(s =>
        s.getPath.getName.endsWith(".tmp") && oldEnough(s))
      .foreach(s => f.delete(s.getPath, false))
    val versions = f.listStatus(dir).toSeq
      .map(_.getPath.getName)
      .filter(n => n.startsWith("v") && n.endsWith(".json"))
      .map(n => n.substring(1, n.length - 5).toLong)
      .sorted
    // tagged versions are RELEASES: they survive retention forever
    // (with their files), or a cited training snapshot would rot.
    // Listed immediately before the deletes so a tag that landed
    // while the tmp/ckpt sweeps above ran is still honored; a tag
    // landing after this listing relies on its own post-visibility
    // re-check plus the dangling-tag sweep at the end (best-effort —
    // see the scaladoc).
    val tagged = listTags(spark, root).values.toSet
    val window = versions.takeRight(keepVersions).toSet
    val retained = versions.filter(v =>
      window.contains(v) || tagged.contains(v))
    versions.filterNot(retained.toSet)
      .foreach(v => f.delete(versionFile(root, v), false))
    val retainedManifests = retained.map(v => manifest(spark, root, v))
    val liveFiles: Set[String] = retainedManifests
      .flatMap { mm =>
        // deletion-vector sidecars are parquet too: a retained
        // manifest's vectors must survive the file-granular sweep, or
        // the dead rows would resurrect
        mm.files ++ mm.dvs.values.flatMap(_.refs)
      }
      .toSet
    // manifest checkpoints referenced by NO retained delta manifest
    // are crash/race leftovers (or belong to vacuumed history) —
    // destroy them like any other unreferenced bytes
    val liveCkpts = retainedManifests.flatMap(_.ckpt).map(_.path).toSet
    f.listStatus(dir).toSeq
      .filter(s => s.getPath.getName.startsWith("ckpt-")
        && !liveCkpts.contains(s.getPath.getName) && oldEnough(s))
      .foreach(s => f.delete(s.getPath, true))
    val live: Set[String] =
      liveFiles.map(_.split("/")(1)) // data/<cdir>/file -> <cdir>
    val dataDir = new Path(rootP, "data")
    if (f.exists(dataDir)) {
      f.listStatus(dataDir).toSeq.filter(_.isDirectory).foreach { s =>
        val cdir = s.getPath.getName
        if (!live.contains(cdir)) {
          // a young unreferenced data dir may be a commit IN FLIGHT
          // (staged, not yet published) — only reap past the window
          if (oldEnough(s)) { f.delete(s.getPath, true); () }
        }
        else {
          // live dir: sweep individual parquet files rewritten away by
          // a retained delete/compact commit — RECURSIVE, so a
          // partitioned commit's `col=value/` subdirectories are swept
          // file-granularly too
          val prefix = f.makeQualified(s.getPath).toString + "/"
          val it = f.listFiles(s.getPath, true)
          Iterator.continually(it).takeWhile(_.hasNext).map(_.next())
            .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet")
              && !liveFiles.contains(s"data/$cdir/" +
                f.makeQualified(st.getPath).toString.stripPrefix(prefix)))
            .foreach(st => f.delete(st.getPath, false))
        }
      }
    }
    // dangling-tag sweep: a tag() whose post-visibility re-check
    // passed JUST before this vacuum deleted its version file would
    // otherwise pin a destroyed manifest forever (readTag can never
    // serve it). Remove any such tag so the table self-heals to a
    // consistent state; only tags whose manifest is genuinely gone
    // are touched, so a tag pinning retained history is never at risk.
    listTags(spark, root).foreach { case (name, v) =>
      if (!f.exists(versionFile(root, v))) {
        f.delete(new Path(tagsPath(root), s"$name.json"), false)
        ()
      }
    }
  }

  // ---- manifest (de)serialization: Jackson tree model ------------------

  private val mapper = new ObjectMapper()

  private def putFileStats(parent: ObjectNode, file: String,
      fsStats: FileStats): Unit = {
    val fn = parent.putObject(file)
    putFileStatsBody(fn, fsStats)
  }

  private def putFileStatsBody(fn: ObjectNode,
      fsStats: FileStats): Unit = {
    fn.put("rows", fsStats.rows)
    val colsN = fn.putObject("cols")
    fsStats.cols.toSeq.sortBy(_._1).foreach { case (c, cs) =>
      val cn = colsN.putObject(c)
      cn.put("t", cs.t)
      cs.min.foreach(cn.put("min", _))
      cs.max.foreach(cn.put("max", _))
      cn.put("nulls", cs.nulls)
    }
    if (fsStats.rgs.nonEmpty) {
      val arr = fn.putArray("rgs")
      fsStats.rgs.foreach(rg => putFileStatsBody(arr.addObject(), rg))
    }
  }

  private[graft] def renderFileStats(fsStats: FileStats): String = {
    val n = mapper.createObjectNode()
    putFileStats(n, "s", fsStats)
    mapper.writeValueAsString(n.get("s"))
  }

  private def parseFileStatsNode(fn: JsonNode): FileStats = {
    import scala.jdk.CollectionConverters._
    def fields(o: JsonNode): Seq[(String, JsonNode)] =
      if (o == null) Nil
      else o.properties().asScala.toSeq.map(e => e.getKey -> e.getValue)
    val cols = fields(fn.get("cols")).map { case (c, cn) =>
      c -> ColStats(cn.get("t").asText(),
        Option(cn.get("min")).map(_.asText()),
        Option(cn.get("max")).map(_.asText()),
        Option(cn.get("nulls")).map(_.asLong()).getOrElse(0L))
    }.toMap
    val rgs = Option(fn.get("rgs")).toSeq.flatMap { arr =>
      (0 until arr.size()).map(i => parseFileStatsNode(arr.get(i)))
    }
    FileStats(Option(fn.get("rows")).map(_.asLong()).getOrElse(0L), cols,
      rgs)
  }

  private[graft] def parseFileStats(s: String): FileStats =
    parseFileStatsNode(mapper.readTree(s))

  /** `delta = None`: the legacy self-contained JSON (full file list +
    * stats inline). `delta = Some(d)`: `m.ckpt` is referenced and
    * only the remove/add/addStats delta lands in the JSON — the
    * KB-sized commit record a 100k-file table writes.
    */
  private[graft] def renderManifest(m: Manifest,
      delta: Option[CkptDelta] = None): String = {
    val root = mapper.createObjectNode()
    root.put("version", m.version)
    root.put("mode", m.mode)
    if (m.ts > 0L) root.put("ts", m.ts)
    if (m.partitionBy.nonEmpty) {
      val pb = root.putArray("partitionBy")
      m.partitionBy.foreach(pb.add)
    }
    val txn = root.putObject("txn")
    m.txn.toSeq.sortBy(_._1).foreach { case (w, b) => txn.put(w, b) }
    if (m.colMap.nonEmpty) {
      val cm = root.putObject("colMap")
      m.colMap.toSeq.sortBy(_._1).foreach { case (l, p) => cm.put(l, p) }
    }
    if (m.droppedCols.nonEmpty) {
      val dc = root.putArray("droppedCols")
      m.droppedCols.sorted.foreach(dc.add)
    }
    if (m.constraints.nonEmpty) {
      val cs = root.putObject("constraints")
      m.constraints.toSeq.sortBy(_._1).foreach { case (nme, p) =>
        cs.put(nme, p)
      }
    }
    m.schemaJson.foreach { sj =>
      root.set[ObjectNode]("schema", mapper.readTree(sj)); ()
    }
    if (m.blooms.nonEmpty) {
      val bl = root.putObject("blooms")
      m.blooms.toSeq.sortBy(_._1).foreach { case (c, refs) =>
        val arr = bl.putArray(c)
        refs.foreach(arr.add)
      }
    }
    if (m.dvs.nonEmpty) {
      val dvs = root.putObject("dvs")
      m.dvs.toSeq.sortBy(_._1).foreach { case (file, e) =>
        val en = dvs.putObject(file)
        val arr = en.putArray("refs")
        e.refs.foreach(arr.add)
        en.put("dead", e.dead)
      }
    }
    delta match {
      case None =>
        val files = root.putArray("files")
        m.files.foreach(files.add)
        if (m.stats.nonEmpty) {
          val stats = root.putObject("stats")
          m.stats.toSeq.sortBy(_._1).foreach { case (file, fsStats) =>
            putFileStats(stats, file, fsStats)
          }
        }
      case Some(d) =>
        val ref = m.ckpt.getOrElse(throw new IllegalStateException(
          "delta render without a checkpoint ref"))
        val cn = root.putObject("checkpoint")
        cn.put("path", ref.path)
        cn.put("version", ref.version)
        if (d.remove.nonEmpty) {
          val rm = root.putArray("remove")
          d.remove.toSeq.sorted.foreach(rm.add)
        }
        if (d.addFiles.nonEmpty) {
          val ad = root.putArray("add")
          d.addFiles.foreach(ad.add)
        }
        if (d.addStats.nonEmpty) {
          val as = root.putObject("addStats")
          d.addStats.toSeq.sortBy(_._1).foreach { case (file, fsStats) =>
            putFileStats(as, file, fsStats)
          }
        }
    }
    mapper.writeValueAsString(root)
  }

  /** Parse a version JSON WITHOUT checkpoint resolution: the returned
    * Manifest's files/stats are the inline body (empty for a delta
    * JSON — the second component then carries the delta to apply
    * against the referenced checkpoint).
    */
  private[graft] def parseManifestParts(s: String)
      : (Manifest, Option[CkptDelta]) = {
    val n = mapper.readTree(s)
    if (n == null || !n.has("version"))
      throw new java.io.IOException(s"bad manifest: $s")
    import scala.jdk.CollectionConverters._
    def fields(o: JsonNode): Seq[(String, JsonNode)] =
      if (o == null) Nil
      else o.properties().asScala.toSeq.map(e => e.getKey -> e.getValue)
    def strArr(name: String): Seq[String] = Option(n.get(name)).toSeq
      .flatMap(_.elements().asScala.toSeq.map(_.asText()))
    val files = strArr("files")
    val txn = fields(n.get("txn")).map { case (k, v) => k -> v.asLong() }.toMap
    val schemaJson = Option(n.get("schema")).map(mapper.writeValueAsString)
    val stats = fields(n.get("stats")).map { case (file, fn) =>
      file -> parseFileStatsNode(fn)
    }.toMap
    val blooms = fields(n.get("blooms")).map { case (c, arr) =>
      c -> arr.elements().asScala.toSeq.map(_.asText())
    }.toMap
    val dvs = fields(n.get("dvs")).map { case (file, en) =>
      file -> DvEntry(
        Option(en.get("refs")).toSeq
          .flatMap(_.elements().asScala.toSeq.map(_.asText())),
        Option(en.get("dead")).map(_.asLong()).getOrElse(0L))
    }.toMap
    val ckpt = Option(n.get("checkpoint")).map(cn =>
      CkptRef(cn.get("path").asText(), cn.get("version").asLong()))
    val delta = ckpt.map(_ => CkptDelta(
      strArr("remove").toSet,
      strArr("add"),
      fields(n.get("addStats")).map { case (file, fn) =>
        file -> parseFileStatsNode(fn)
      }.toMap))
    (Manifest(n.get("version").asLong(),
      Option(n.get("mode")).map(_.asText()).getOrElse("append"),
      files, txn, schemaJson, stats, blooms, dvs,
      ts = Option(n.get("ts")).map(_.asLong()).getOrElse(0L),
      partitionBy = Option(n.get("partitionBy")).toSeq
        .flatMap(_.elements().asScala.toSeq.map(_.asText())),
      ckpt = ckpt,
      colMap = fields(n.get("colMap"))
        .map { case (l, p) => l -> p.asText() }.toMap,
      droppedCols = strArr("droppedCols"),
      constraints = fields(n.get("constraints"))
        .map { case (nme, p) => nme -> p.asText() }.toMap), delta)
  }

  /** Legacy entry point for self-contained JSONs (specs); a delta
    * JSON must resolve through [[manifest]] instead.
    */
  private[graft] def parseManifest(s: String): Manifest = {
    val (m, delta) = parseManifestParts(s)
    require(delta.isEmpty,
      "parseManifest on a checkpoint-delta JSON — use manifest() to resolve")
    m
  }
}
