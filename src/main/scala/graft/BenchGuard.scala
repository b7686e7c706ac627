package graft

import scala.jdk.CollectionConverters._

/** Per-query performance regression guard.
  *
  * The driver's bench numbers are load-sensitive: round 3 reported a
  * 15.9 s query that measured 2.46 s on a quiet machine; round 8's
  * driver sweep flagged 8 queries 3–6× over floors that re-measured AT
  * floor an hour later. min-of-N damps a spike but not a sustained-load
  * episode. This guard makes the distinction structural:
  *
  *   - `bench/floors.json` is the committed best-known quiet-machine
  *     time per query (plus a calibration time for a fixed scan+agg
  *     probe whose plan never changes);
  *   - a fresh run measures the same queries AND the probe — via the
  *     EXACT measurement pass [[Bench]] uses (one harness; there is no
  *     second sweep implementation to disagree with the driver's), and
  *     it leaves the same `bench/last_run.json` artifact behind;
  *   - each query's ratio vs its floor is divided by the probe's ratio
  *     vs its floor (the load factor). Uniform machine load inflates
  *     probe and queries alike and cancels out; a plan regression
  *     inflates one query but not the probe and survives the division;
  *   - normalized ratio > tolerance (default 1.5×) AND absolute excess
  *     over the load-adjusted floor > `minExcessSec` (default 0.5 s) ⇒
  *     flagged, exit 1. The absolute term exists because sub-second
  *     queries jitter ±0.3 s from GC/scheduling alone; the regressions
  *     worth failing a build over (a scorer inlined into a join key,
  *     a lost broadcast) add seconds, not tenths.
  *
  * Run: `sbt 'runMain graft.BenchGuard'` (env as Bench: SPARK_GRAFT_SF_DIR
  * etc.).
  *
  * `--from-last-run` skips the sweep and evaluates the numbers already
  * in `bench/last_run.json` — the reconciliation path: after a
  * `graft.Bench` run (local or the driver's), the guard grades THOSE
  * numbers, so the guard's verdict and the driver artifact can never
  * diverge silently.
  *
  * `--update` rewrites the floor file with min(floor, fresh) after a
  * faster run — floors only ever go down, so they stay quiet-machine
  * numbers — and stamps `source` with the run it ratcheted from.
  *
  * DELIBERATE SLOWDOWNS: because `--update` only ratchets floors DOWN,
  * a change that intentionally costs performance (e.g. a correctness
  * fix that adds a pass) will flag forever against the old floor. The
  * override path is explicit, so it shows up in review:
  *
  *   sbt 'runMain graft.BenchGuard --set-floor q_range_join=1.25'
  *
  * `--set-floor q=secs` (repeatable) rewrites just those entries in
  * `bench/floors.json` — no bench run — and the diff of the committed
  * floor file documents the accepted regression. Measure the new
  * quiet-machine time first (SPARK_GRAFT_BENCH_ONLY=q sbt 'runMain
  * graft.Bench'), then set the floor to it.
  *
  * `--recheck` re-measures any flagged queries in a FRESH JVM before
  * adjudicating: a long sweep accumulates JVM state (JIT tiers,
  * block-manager pressure, GC debt) that single-query floors were not
  * set under, so a flag only stands if the clean re-measurement also
  * breaches. A failed recheck child leaves the flags standing — the
  * path fails safe, never silent.
  */
object BenchGuard {

  final case class Floors(
      sf: String,
      tolerance: Double,
      minExcessSec: Double,
      calibration: Double,
      queries: Map[String, Double],
      source: String = "",
      cpus: String = "") // SPARK_GRAFT_CPUS the floors were measured at

  final case class Verdict(
      query: String, seconds: Double, floor: Double, normalizedRatio: Double, flagged: Boolean)

  final case class Report(
      loadFactor: Double,
      verdicts: Seq[Verdict],
      missingFloor: Seq[String],   // fresh queries with no committed floor yet
      retiredQueries: Seq[String]) // floors for queries that no longer exist

  /** Machine-load factor: how much slower the fixed probe ran vs its
    * committed floor. Clamped at 1 — a faster machine must not hide a
    * regression by deflating ratios.
    */
  def loadFactor(calibrationNow: Double, calibrationFloor: Double): Double =
    if (calibrationFloor <= 0) 1.0 else math.max(1.0, calibrationNow / calibrationFloor)

  /** Pure comparison — spec-tested without running Spark. */
  def evaluate(floors: Floors, fresh: Map[String, Double], calibrationNow: Double): Report = {
    val lf = loadFactor(calibrationNow, floors.calibration)
    val verdicts = fresh.toSeq.sortBy(_._1).flatMap { case (q, secs) =>
      floors.queries.get(q).map { floor =>
        val ratio = if (floor <= 0) 1.0 else secs / floor / lf
        val excess = secs - floor * lf
        Verdict(q, secs, floor, ratio,
          flagged = secs >= 0 && ratio > floors.tolerance && excess > floors.minExcessSec)
      }
    }
    Report(
      loadFactor = lf,
      verdicts = verdicts,
      missingFloor = fresh.keys.filterNot(floors.queries.contains).toSeq.sorted,
      retiredQueries = floors.queries.keys.filterNot(fresh.contains).toSeq.sorted)
  }

  // --- floors / last-run file I/O (Jackson is on the Spark classpath) ---

  private def mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  def readFloors(path: String): Floors = {
    val root = mapper.readTree(new java.io.File(path))
    Floors(
      sf = root.path("sf").asText(""),
      tolerance = root.path("tolerance").asDouble(1.5),
      minExcessSec = root.path("min_excess_sec").asDouble(0.5),
      calibration = root.path("calibration").asDouble(0.0),
      queries = root.path("queries").properties().asScala
        .map(e => e.getKey -> e.getValue.asDouble()).toMap,
      source = root.path("source").asText(""),
      cpus = root.path("cpus").asText(""))
  }

  def writeFloors(path: String, floors: Floors): Unit = {
    val sb = new StringBuilder
    sb.append("{\n")
    sb.append(s"""  "sf": "${floors.sf}",\n""")
    sb.append(s"""  "tolerance": ${floors.tolerance},\n""")
    sb.append(s"""  "min_excess_sec": ${floors.minExcessSec},\n""")
    sb.append(f"""  "calibration": ${floors.calibration}%.4f,\n""")
    if (floors.cpus.nonEmpty)
      sb.append(s"""  "cpus": "${floors.cpus}",\n""")
    if (floors.source.nonEmpty)
      sb.append(s"""  "source": "${floors.source}",\n""")
    sb.append("  \"queries\": {\n")
    sb.append(floors.queries.toSeq.sorted.map { case (k, v) =>
      f"""    "$k": $v%.4f"""
    }.mkString(",\n"))
    sb.append("\n  }\n}\n")
    java.nio.file.Files.write(
      java.nio.file.Paths.get(path),
      sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    ()
  }

  /** A persisted `graft.Bench` run (`bench/last_run.json`). */
  final case class LastRun(
      queries: Map[String, Double],
      calibration: Double,
      sf: String,
      writtenAt: String,
      cpus: String = "") // SPARK_GRAFT_CPUS the run was measured at

  def readLastRun(path: String): LastRun = {
    val root = mapper.readTree(new java.io.File(path))
    LastRun(
      queries = root.path("queries").properties().asScala
        .map(e => e.getKey -> e.getValue.asDouble()).toMap,
      calibration = root.path("calibration").asDouble(0.0),
      sf = root.path("sf").asText(""),
      writtenAt = root.path("written_at").asText(""),
      cpus = root.path("cpus").asText(""))
  }

  /** `bench/floors_prev.json` sibling of a floors path. */
  def prevPath(floorsPath: String): String =
    new java.io.File(floorsPath).toPath
      .resolveSibling("floors_prev.json").toString

  /** Queries whose floor was explicitly re-set (`--set-floor`) since
    * the last rebaseline — exempt from the cross-round comparison,
    * because the raise was a reviewed, committed acceptance.
    */
  def acceptedOverrides(floors: Floors): Set[String] =
    "set-floor ([A-Za-z0-9_,]+)".r
      .findAllMatchIn(floors.source)
      .flatMap(_.group(1).split(','))
      .toSet

  // ---- fresh-JVM recheck (flag de-noising) -----------------------------
  //
  // r15 measured the same binary at 4.16 s (builder sweep), 5.10 s
  // (loaded HEAD run) and 7.85 s (driver sweep) for one query: a
  // 235-query sweep accumulates JVM state (JIT tiers, block-manager
  // pressure, GC debt) that single-query floors were never set under.
  // `--recheck` re-measures ONLY the flagged queries in a fresh JVM —
  // same binary, same Bench harness, inherited JVM flags — and a flag
  // survives only if the clean measurement ALSO breaches its floor.

  /** Run `graft.Bench` on `queries` in a brand-new JVM and return its
    * (per-query seconds, calibration). None when the child fails.
    */
  private[graft] def freshJvmBench(sfDir: String,
      queries: Seq[String]): Option[(Map[String, Double], Double)] = {
    val javaBin = new java.io.File(new java.io.File(
      System.getProperty("java.home"), "bin"), "java").getAbsolutePath
    val jvmArgs = java.lang.management.ManagementFactory
      .getRuntimeMXBean.getInputArguments.asScala.toSeq
    val cmd = (Seq(javaBin) ++ jvmArgs ++
      Seq("-cp", System.getProperty("java.class.path"), "graft.Bench")).asJava
    val pb = new ProcessBuilder(cmd)
    pb.environment().put("SPARK_GRAFT_SF_DIR", sfDir)
    pb.environment().put("SPARK_GRAFT_BENCH_ONLY", queries.mkString(","))
    pb.redirectError(ProcessBuilder.Redirect.INHERIT)
    val p = pb.start()
    val out = scala.io.Source.fromInputStream(p.getInputStream).mkString
    val rc = p.waitFor()
    if (rc != 0) {
      System.err.println(s"[guard] recheck JVM exited $rc — flags stand")
      None
    } else parseBenchLine(out)
  }

  /** The last `{"metric":…}` JSON line of a Bench child's stdout. */
  private[graft] def parseBenchLine(out: String)
      : Option[(Map[String, Double], Double)] =
    out.linesIterator.map(_.trim)
      .filter(l => l.startsWith("{") && l.contains("\"metric\""))
      .toSeq.lastOption.flatMap { l =>
        try {
          val n = mapper.readTree(l)
          val qs = Option(n.get("queries")).map(_.properties().asScala
            .map(e => e.getKey -> e.getValue.asDouble()).toMap)
            .getOrElse(Map.empty[String, Double])
          Some((qs, n.path("calibration").asDouble(0.0)))
        } catch { case scala.util.control.NonFatal(_) => None }
      }

  /** A flag survives the recheck only if the fresh-JVM measurement
    * ALSO breaches the floor; a query the recheck failed to measure
    * stays flagged (fail safe, never fail silent).
    */
  private[graft] def confirmFlags(floors: Floors, flagged: Seq[Verdict],
      fresh2: Map[String, Double], calib2: Double): Seq[Verdict] =
    if (flagged.isEmpty) Nil
    else {
      val wanted = flagged.map(_.query).toSet
      val rep2 = evaluate(floors,
        fresh2.view.filterKeys(wanted).toMap, calib2)
      val still = rep2.verdicts.filter(_.flagged).map(_.query).toSet
      val measured = rep2.verdicts.map(_.query).toSet
      flagged.filter(v =>
        still.contains(v.query) || !measured.contains(v.query))
    }

  def main(args: Array[String]): Unit = {
    val update = args.contains("--update")
    val fromLastRun = args.contains("--from-last-run")
    val recheck = args.contains("--recheck")
    // --snapshot-prev: archive the CURRENT floors as last round's
    // baseline (bench/floors_prev.json) before a regenerate/--update at
    // HEAD overwrites them. The cross-round comparison below grades
    // every run against BOTH files — without this, a regenerate-at-HEAD
    // flow ratchets round-over-round drift in invisibly (the guard
    // can't flag vs a floor file produced by the same drifted sweep).
    if (args.contains("--snapshot-prev")) {
      val floorsPath = args.filterNot(_.startsWith("--")).headOption
        .getOrElse("bench/floors.json")
      val floors = readFloors(floorsPath)
      writeFloors(prevPath(floorsPath), floors)
      System.err.println(s"[guard] snapshotted $floorsPath -> " +
        prevPath(floorsPath))
      return
    }
    // --set-floor q=secs: accept a deliberate perf cost by raising one
    // query's floor in place (no bench run). Repeatable.
    val overrides = args.zip(args.drop(1) :+ "").collect {
      case ("--set-floor", kv) if kv.contains('=') =>
        val Array(q, secs) = kv.split('=')
        q -> secs.toDouble
    }.toMap
    val floorsPath = args
      .filterNot(_.startsWith("--"))
      .filterNot(a => overrides.exists { case (q, s) => a == s"$q=$s" || a.startsWith(q + "=") })
      .headOption
      .getOrElse("bench/floors.json")
    if (overrides.nonEmpty) {
      val floors = readFloors(floorsPath)
      // typo guard against the QUERY REGISTRY, not the floor file — a
      // brand-new query's first measured floor can then land via
      // --set-floor without waiting on a full --update sweep
      val unknown = overrides.keySet -- SparkEntry.queries.keySet
      require(unknown.isEmpty, s"--set-floor for unknown queries: $unknown")
      writeFloors(floorsPath, floors.copy(
        queries = floors.queries ++ overrides,
        source = (floors.source + s"; set-floor ${overrides.keys.toSeq.sorted.mkString(",")}")
          .stripPrefix("; ")))
      overrides.foreach { case (q, s) =>
        System.err.println(f"[guard] floor override: $q = $s%.4f s")
      }
      return
    }
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val runs = Bench.runsFromEnv
    val floors = readFloors(floorsPath)

    // --rebaseline: floors := the persisted run, verbatim — the reset
    // path after the floor file and fresh measurements have drifted
    // apart (e.g. floors ratcheted from unrepresentatively warm runs).
    // The committed floors and the committed last_run.json then agree
    // exactly, by construction.
    if (args.contains("--rebaseline")) {
      val dir = sys.env.getOrElse("SPARK_GRAFT_BENCH_DIR", "bench")
      val run = readLastRun(s"$dir/last_run.json")
      val ok = run.queries.filter(_._2 >= 0)
      writeFloors(floorsPath, Floors(
        sf = run.sf.split('/').last,
        tolerance = floors.tolerance,
        minExcessSec = floors.minExcessSec,
        calibration = run.calibration,
        queries = ok,
        source = s"rebaseline last_run ${run.writtenAt} ${run.sf}",
        // provenance follows the RUN being rebaselined from, not the
        // current shell: rebaselining a 32-cpu run from an env-less
        // shell must not stamp cpus="4" next to 32-cpu times
        cpus = if (run.cpus.nonEmpty) run.cpus else Bench.cpus))
      System.err.println(
        s"[guard] floors rebaselined from last_run (${ok.size} queries)")
      return
    }

    // Footgun guard: floors are only comparable to a sweep run with the
    // SAME parallelism as the run they were baselined from (a local[4]
    // sweep of a local[32] floor file flags every shuffle-heavy query).
    // Compare against the FLOOR file's recorded cpus — not
    // last_run.json, which every sweep (including a mismatched one)
    // overwrites, so a last_run comparison only fires once and then
    // lets --update ratchet across the mismatch unchallenged.
    val benchDir = sys.env.getOrElse("SPARK_GRAFT_BENCH_DIR", "bench")
    val committedCpus =
      if (floors.cpus.nonEmpty) floors.cpus
      else scala.util.Try( // pre-cpus-field floor files: last_run is
        // the only provenance available (best effort)
        mapper.readTree(new java.io.File(s"$benchDir/last_run.json"))
          .path("cpus").asText("")).getOrElse("")
    val cpusNow = Bench.cpus
    // in --from-last-run mode the numbers being graded were measured at
    // the cpu count RECORDED IN last_run.json, not in the current env
    val lastRun: Option[LastRun] =
      if (fromLastRun) Some(readLastRun(s"$benchDir/last_run.json")) else None
    val measuredCpus =
      lastRun.map(_.cpus).filter(_.nonEmpty).getOrElse(cpusNow)
    if (committedCpus.nonEmpty && committedCpus != measuredCpus) {
      System.err.println(
        s"[guard] CPU-COUNT MISMATCH: floors were measured at " +
          s"SPARK_GRAFT_CPUS=$committedCpus but the graded run is at " +
          s"SPARK_GRAFT_CPUS=$measuredCpus — times are not comparable to floors")
      require(!update,
        s"refusing --update across a cpu-count change " +
          s"($committedCpus -> $measuredCpus); re-run with SPARK_GRAFT_CPUS=" +
          s"$committedCpus, or --rebaseline from a run at the new count " +
          s"to rebase on purpose")
    }

    // one measurement system: either re-grade the persisted Bench run,
    // or run Bench's own sweep (which persists the same artifact)
    val (fresh, calibration, errors, sourceTag) =
      if (fromLastRun) {
        val run = lastRun.get
        (run.queries, run.calibration, Map.empty[String, String],
          s"last_run ${run.writtenAt} ${run.sf}")
      } else {
        val spark = Bench.buildSession()
        val s = Bench.sweep(spark, sfDir, runs, only = None)
        val written = Bench.writeLastRun(s, sfDir)
        spark.stop()
        written.foreach(p => System.err.println(s"[guard] wrote $p"))
        (s.results.toMap, s.calibration, s.errors.toMap,
          s"sweep ${java.time.Instant.now()} $sfDir")
      }

    val report = evaluate(floors, fresh, calibration)
    System.err.println(f"[guard] load factor ${report.loadFactor}%.2f " +
      f"(calibration now $calibration%.3fs, floor ${floors.calibration}%.3fs)")
    report.verdicts.foreach { v =>
      val mark = if (v.flagged) "REGRESSION" else "ok"
      System.err.println(
        f"[guard] ${v.query}%-24s ${v.seconds}%8.3fs floor ${v.floor}%8.3fs " +
          f"norm ${v.normalizedRatio}%5.2fx  $mark")
    }
    report.missingFloor.foreach(q => System.err.println(s"[guard] $q: no floor — add one"))
    report.retiredQueries.foreach(q => System.err.println(s"[guard] $q: floor for retired query"))
    errors.foreach { case (q, e) => System.err.println(s"[guard] $q CRASHED: $e") }

    if (update) {
      val merged = Floors(
        sf = sfDir.split('/').last,
        tolerance = floors.tolerance,
        minExcessSec = floors.minExcessSec,
        calibration = math.min(
          if (floors.calibration > 0) floors.calibration else calibration, calibration),
        queries = (floors.queries.keySet ++ fresh.keySet).collect {
          case q if fresh.get(q).exists(_ >= 0) || floors.queries.contains(q) =>
            q -> math.min(
              floors.queries.getOrElse(q, Double.MaxValue),
              fresh.get(q).filter(_ >= 0).getOrElse(Double.MaxValue))
        }.toMap,
        source = sourceTag,
        cpus = measuredCpus)
      writeFloors(floorsPath, merged)
      System.err.println(s"[guard] floors updated: $floorsPath")
    }

    // ---- cross-round comparison: last round's committed floors ------
    // floors.json regenerates at HEAD every round, so a same-file
    // comparison can never see round-over-round drift; floors_prev.json
    // (written by --snapshot-prev at the previous regenerate) anchors
    // the comparison one round back. Queries new since then have no
    // prev floor (informational); explicitly --set-floor'd queries are
    // reviewed acceptances and exempt.
    val (prevFlagged0, prevFloors): (Seq[Verdict], Option[Floors]) = {
      val pp = prevPath(floorsPath)
      if (!new java.io.File(pp).exists()) (Nil, None)
      else {
        val prev = readFloors(pp)
        val accepted = acceptedOverrides(floors)
        val rep = evaluate(prev, fresh.view.filterKeys(q =>
          !accepted.contains(q)).toMap, calibration)
        System.err.println(
          f"[guard-prev] cross-round load factor ${rep.loadFactor}%.2f " +
            s"(vs ${prev.source})")
        val bad = rep.verdicts.filter(_.flagged)
        bad.foreach { v =>
          System.err.println(
            f"[guard-prev] ${v.query}%-24s ${v.seconds}%8.3fs " +
              f"prev-floor ${v.floor}%8.3fs norm ${v.normalizedRatio}%5.2fx " +
              "CROSS-ROUND REGRESSION")
        }
        (bad, Some(prev))
      }
    }

    val flagged0 = report.verdicts.filter(_.flagged)
    // --recheck: adjudicate surviving flags against a fresh-JVM
    // re-measurement before failing the build
    val (flagged, prevFlagged) =
      if (!recheck || (flagged0.isEmpty && prevFlagged0.isEmpty))
        (flagged0, prevFlagged0)
      else {
        val names =
          (flagged0.map(_.query) ++ prevFlagged0.map(_.query)).distinct
        System.err.println(s"[guard] recheck: re-measuring " +
          s"${names.mkString(", ")} in a fresh JVM")
        freshJvmBench(sfDir, names) match {
          case Some((fresh2, calib2)) =>
            val ff = confirmFlags(floors, flagged0, fresh2, calib2)
            val pf = prevFloors.map(confirmFlags(_, prevFlagged0,
              fresh2, calib2)).getOrElse(Nil)
            (flagged0.map(_.query).toSet -- ff.map(_.query).toSet)
              .foreach(q => System.err.println(
                s"[guard] $q: cleared by fresh-JVM recheck"))
            (prevFlagged0.map(_.query).toSet -- pf.map(_.query).toSet)
              .foreach(q => System.err.println(
                s"[guard-prev] $q: cleared by fresh-JVM recheck"))
            (ff, pf)
          case None => (flagged0, prevFlagged0)
        }
      }
    val line = flagged.map(v => "\"" + v.query + "\":" +
      f"${v.normalizedRatio}%.2f").mkString("{", ",", "}")
    val prevLine = prevFlagged.map(v => "\"" + v.query + "\":" +
      f"${v.normalizedRatio}%.2f").mkString("{", ",", "}")
    println(s"""{"metric":"bench_guard","flagged":$line,"prev_flagged":$prevLine,"load_factor":${report.loadFactor},"errors":${errors.size},"missing_floor":${report.missingFloor.size},"rechecked":${recheck && (flagged0.nonEmpty || prevFlagged0.nonEmpty)}}""")
    // a registered query without a floor is an UNGUARDED perf surface —
    // fail loudly (round 9 shipped exactly this silently); --update is
    // the fix, since it just added the missing floors from this run
    if (flagged.nonEmpty || prevFlagged.nonEmpty || errors.nonEmpty ||
      (report.missingFloor.nonEmpty && !update)) sys.exit(1)
  }
}
