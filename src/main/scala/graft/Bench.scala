package graft

import org.apache.spark.sql.SparkSession

/** Driver-run benchmark: executes every SparkEntry query against
  * SPARK_GRAFT_SF_DIR and prints ONE JSON line on stdout (per-query
  * progress goes to stderr so the driver's stdout parse stays clean).
  *
  * Measurement contract:
  *   - every output column is materialized via a `noop`-format write,
  *     so Catalyst cannot prune work whose result the action never
  *     touches (a bare `.count()` deletes Window nodes, JSON paths,
  *     anything not needed for cardinality);
  *   - the sweep runs in INTERLEAVED PASSES: every query once, then
  *     every query again, min per query. The two samples of one query
  *     land minutes apart, so a short external-load burst can poison
  *     at most one of them — adjacent back-to-back runs (the old
  *     scheme) let a single burst inflate both samples and produce a
  *     phantom per-query regression on an otherwise quiet machine;
  *   - the calibration probe runs before, BETWEEN, and after the
  *     passes; the reported value is the max, so load that arrives
  *     mid-sweep registers instead of hiding behind a quiet leading
  *     probe;
  *   - a crashing query is reported as -1 with its error in a separate
  *     "errors" map, never as a fake elapsed time;
  *   - the FULL result (identical numbers to the stdout line, plus
  *     run provenance) is also written to `bench/last_run.json` when
  *     the repo's bench/ directory is present — one measurement, every
  *     consumer: the driver parses stdout, [[BenchGuard]] reads or
  *     writes the same artifact, and review diffs the committed file.
  */
object Bench {

  final case class Sweep(
      results: Seq[(String, Double)],
      errors: collection.Map[String, String],
      calibration: Double)

  /** Pass count per query, from SPARK_GRAFT_BENCH_RUNS (default 3 —
    * floors and last_run.json are baselined min-of-3). Parsed, never
    * spliced raw: a malformed value falls back rather than breaking
    * every consumer of the provenance JSON.
    */
  private[graft] def runsFromEnv: Int =
    scala.util.Try(sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3").toInt)
      .getOrElse(3).max(1)

  /** Timed full materialization of every column. After the write, every
    * persistent RDD (the localCheckpoint blocks many operators create at
    * construction) is dropped: nothing reads them once the query has
    * materialized, and letting 130+ queries' blocks accumulate in the
    * block manager makes LATE queries measure the EARLY queries' memory
    * pressure — the graph suite (alphabetically late, GC-sensitive
    * iterative jobs) measured 1.5-2x slower in a full sweep than
    * isolated, from exactly this.
    */
  private def materialize(
      fn: (SparkSession, String) => org.apache.spark.sql.DataFrame,
      spark: SparkSession, sfDir: String): Double = {
    val t0 = System.nanoTime()
    fn(spark, sfDir).write.format("noop").mode("overwrite").save()
    val s = (System.nanoTime() - t0) / 1e9
    // BLOCKING unpersist (r18): the async drop let a heavy
    // checkpointing query's blocks linger into its alphabetic
    // NEIGHBORS' measurements — the r18-build sweep showed the q_s*
    // cluster right after the two new NSW checkpointers inflated
    // 25-95% while the rest of the suite held its floors. The drop
    // runs AFTER the timer stops, so measured values are untouched;
    // each query now just starts from a clean block manager.
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = true))
    s
  }

  /** The core count every run is labelled and sized by, resolved once:
    * `SPARK_GRAFT_CPUS` when set, else the cores the JVM sees.
    */
  private[graft] lazy val cpus: String =
    sys.env.getOrElse("SPARK_GRAFT_CPUS", Runtime.getRuntime.availableProcessors.toString)

  private[graft] def buildSession(): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // silence the "WindowExec: No Partition Defined" warning: every
    // unpartitioned window in this repo is DELIBERATE and bounded —
    // the buckets-row histogram curve (CorpusGrowth), the
    // |sensitive-domain| rank (Privacy.tCloseness), the |sources|-row
    // apportionment (Curation.mixturePlan), and the opt-in SCD legacy
    // lit(1) mode — all audited in PlanAuditSpec; the warning would
    // read as a scale-killer to anyone skimming a 245-query log
    org.apache.log4j.Logger
      .getLogger("org.apache.spark.sql.execution.window.WindowExec")
      .setLevel(org.apache.log4j.Level.ERROR)
    spark
  }

  private def calibrationQuery(spark: SparkSession, sfDir: String): Unit =
    spark.read.parquet(s"$sfDir/lineitem.parquet")
      .filter("l_quantity > 0").groupBy("l_returnflag").count()
      .write.format("noop").mode("overwrite").save()

  /** One timed probe run of a fixed scan+agg query. The probe has no
    * plan this repo can regress, so when a fresh bench and the
    * committed floor file disagree on it, the difference is external
    * load, not code. [[BenchGuard]] divides per-query ratios by the
    * calibration ratio to separate "this machine is busy" (everything
    * inflates, calibration included) from "this plan got worse" (one
    * query inflates, calibration doesn't).
    */
  private[graft] def timedCalibration(spark: SparkSession, sfDir: String): Double = {
    val t0 = System.nanoTime()
    calibrationQuery(spark, sfDir)
    (System.nanoTime() - t0) / 1e9
  }

  /** min-over-interleaved-passes measurement of every (filtered)
    * SparkEntry query, with calibration probed around every pass.
    * `SPARK_GRAFT_BENCH_GAP_MS` optionally sleeps between queries.
    */
  private[graft] def sweep(
      spark: SparkSession,
      sfDir: String,
      runs: Int,
      only: Option[Set[String]]): Sweep = {
    val gapMs = scala.util.Try(
      sys.env.getOrElse("SPARK_GRAFT_BENCH_GAP_MS", "0").toLong).getOrElse(0L).max(0L)
    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
    // warmup: session/scan/codegen infrastructure (JIT, parquet footer
    // cache, janino) otherwise lands entirely on the first query
    calibrationQuery(spark, sfDir)
    var calibration = timedCalibration(spark, sfDir)
    val best = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    (1 to runs).foreach { pass =>
      selected.foreach { case (name, fn) =>
        if (gapMs > 0 && (pass > 1 || best.nonEmpty)) Thread.sleep(gapMs)
        try {
          val s = materialize(fn, spark, sfDir)
          best(name) = math.min(best.getOrElse(name, Double.MaxValue), s)
          errors.remove(name) // a later pass succeeding clears the error
          System.err.println(f"[bench] pass $pass $name%-24s $s%8.2f s")
        } catch {
          case e: Throwable =>
            if (!best.contains(name) && !errors.contains(name))
              errors(name) = Option(e.getMessage).getOrElse(e.getClass.getName)
                .linesIterator.next().take(200)
            System.err.println(s"[bench] pass $pass $name FAILED")
        }
      }
      // a probe after EVERY pass: load arriving mid-sweep registers
      calibration = math.max(calibration, timedCalibration(spark, sfDir))
    }
    val results = selected.map { case (name, _) =>
      name -> best.getOrElse(name, -1.0)
    }
    Sweep(results, errors, calibration)
  }

  private def esc(s: String): String =
    s.flatMap { case '"' => "\\\""; case '\\' => "\\\\"; case c if c < ' ' => " "; case c => c.toString }

  /** The driver-contract stdout line (also the artifact body). */
  private[graft] def renderJson(s: Sweep, sfDir: String, extra: Seq[(String, String)] = Nil): String = {
    val qs = s.results.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val errJson = s.errors.map { case (k, v) => "\"" + k + "\":\"" + esc(v) + "\"" }
      .mkString("{", ",", "}")
    val ok = s.results.filter(_._2 >= 0)
    val total = if (ok.nonEmpty) ok.map(_._2).sum else 0.0
    val extraJson = extra.map { case (k, v) => s""","$k":$v""" }.mkString
    s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"errors":$errJson,"calibration":${s.calibration},"sf":"${esc(sfDir)}"$extraJson}"""
  }

  /** Persist the full run beside the floors file so BenchGuard and
    * round-over-round review all read the SAME numbers:
    * always as `last_run_c<cpus>.json` (one record per core count, so
    * a run at a second count never destroys the first), and as
    * `last_run.json` only when the run's core count is the one
    * `floors.json` was measured at — the two must agree for the guard
    * to grade against them. Returns the `last_run.json` path when that
    * was written, else the per-count copy. Best-effort: silently
    * skipped when bench/ is absent (e.g. running from outside the repo
    * root).
    */
  private[graft] def writeLastRun(s: Sweep, sfDir: String): Option[String] = {
    val dir = java.nio.file.Paths.get(
      sys.env.getOrElse("SPARK_GRAFT_BENCH_DIR", "bench"))
    if (!java.nio.file.Files.isDirectory(dir)) return None
    val body = renderJson(s, sfDir, Seq(
      "cpus" -> ("\"" + esc(cpus) + "\""),
      // parsed, not raw: a malformed env value spliced verbatim would
      // produce invalid JSON and break every last_run consumer
      "runs" -> runsFromEnv.toString,
      "written_at" -> ("\"" + java.time.Instant.now().toString + "\"")))
    def put(name: String): String = {
      val path = dir.resolve(name)
      java.nio.file.Files.write(path,
        (body + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
      path.toString
    }
    val perCount = put(
      s"last_run_c${cpus.filter(c => c.isLetterOrDigit || c == '_' || c == '-')}.json")
    val floors = dir.resolve("floors.json")
    val floorCpus =
      if (java.nio.file.Files.exists(floors)) BenchGuard.readFloors(floors.toString).cpus
      else ""
    Some(if (floorCpus.isEmpty || floorCpus == cpus) put("last_run.json") else perCount)
  }

  /** The driver captures only the LAST ~2000 chars of stdout and
    * json-parses them; a 147-query line is ~4 KB, so its head was cut
    * and every round's `parsed` came back null. When the full line
    * exceeds the window, print a compact summary (totals + where the
    * per-query numbers live) that is guaranteed to parse instead. The
    * summary keeps the per-query times as [[queriesField]] whenever
    * that still fits.
    */
  private[graft] def stdoutLine(s: Sweep, sfDir: String, lastRunPath: Option[String]): String = {
    val full = renderJson(s, sfDir)
    if (full.length <= 1800) full
    else {
      val ok = s.results.filter(_._2 >= 0)
      val total = if (ok.nonEmpty) ok.map(_._2).sum else 0.0
      val head = s"""{"metric":"total","value":$total,"unit":"sec","n":${s.results.size},"n_errors":${s.errors.size},"calibration":${s.calibration},"sf":"${esc(sfDir)}","queries_path":"${esc(lastRunPath.getOrElse("bench/last_run.json"))}""""
      val withTimes = head + ",\"queries_s\":" + queriesField(s) + "}"
      if (withTimes.length <= 1800) withTimes else head + "}"
    }
  }

  /** Every query's seconds in the sweep's order (its names sorted),
    * rounded to 0.01 with -1 for a failure, plus the first 12 hex
    * digits of the SHA-256 of those names joined by commas: a reader
    * that holds the registry's names maps the times back to them, and
    * a changed registry shows as a changed `order`. 250 queries take
    * about 1,300 characters.
    */
  private[graft] def queriesField(s: Sweep): String = {
    val order = java.security.MessageDigest.getInstance("SHA-256")
      .digest(s.results.map(_._1).mkString(",")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .take(6).map(b => f"${b & 0xff}%02x").mkString
    val secs = s.results.map { case (_, v) =>
      if (v < 0) "-1"
      else BigDecimal(v).setScale(2, BigDecimal.RoundingMode.HALF_UP)
        .bigDecimal.stripTrailingZeros.toPlainString
    }
    s"""{"order":"$order","s":[${secs.mkString(",")}]}"""
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val runs = runsFromEnv
    // dev filter: SPARK_GRAFT_BENCH_ONLY=q_a,q_b runs a subset (the
    // driver never sets it, so driver runs always cover everything)
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val spark = buildSession()
    val s = sweep(spark, sfDir, runs, only)
    // the committed artifact only makes sense for FULL sweeps — a
    // filtered dev run must not overwrite the 120-query record
    val lastRun = if (only.isEmpty) {
      val p = writeLastRun(s, sfDir)
      p.foreach(x => System.err.println(s"[bench] wrote $x"))
      p
    } else None
    val line = stdoutLine(s, sfDir, lastRun)
    spark.stop()
    // Printed AFTER spark.stop() so no shutdown log line can land
    // behind it: with `run / outputStrategy := StdoutOutput` and
    // `showSuccess := false` (build.sbt) this is the LAST line of the
    // sbt process's stdout, bare and unprefixed — the form the
    // driver's tail JSON-parse expects.
    println(line)
    System.out.flush()
  }
}
