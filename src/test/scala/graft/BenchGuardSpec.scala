package graft

import org.scalatest.funsuite.AnyFunSuite

/** The guard's comparison logic is pure — specs run without Spark. */
class BenchGuardSpec extends AnyFunSuite {

  private val floors = BenchGuard.Floors(
    sf = "sf0.1", tolerance = 1.5, minExcessSec = 0.5, calibration = 0.2,
    queries = Map("q_a" -> 1.0, "q_b" -> 2.0))

  test("uniform machine load cancels out via the calibration probe") {
    // everything 3x slower, probe included: classic loaded-machine
    // episode (round 3's 15.9s-vs-2.46s case) — nothing flagged
    val r = BenchGuard.evaluate(floors, Map("q_a" -> 3.0, "q_b" -> 6.0),
      calibrationNow = 0.6)
    assert(math.abs(r.loadFactor - 3.0) < 1e-9)
    assert(r.verdicts.forall(!_.flagged), r.verdicts)
  }

  test("a single-query structural regression survives normalization") {
    // probe at floor speed, one query 3x slower: a real plan regression
    val r = BenchGuard.evaluate(floors, Map("q_a" -> 3.0, "q_b" -> 2.0),
      calibrationNow = 0.2)
    assert(r.loadFactor === 1.0)
    val byQ = r.verdicts.map(v => v.query -> v.flagged).toMap
    assert(byQ === Map("q_a" -> true, "q_b" -> false))
  }

  test("a faster machine cannot hide a regression (load factor clamps at 1)") {
    val r = BenchGuard.evaluate(floors, Map("q_a" -> 1.9, "q_b" -> 1.0),
      calibrationNow = 0.05) // machine 4x faster than the floor machine
    assert(r.loadFactor === 1.0)
    assert(r.verdicts.find(_.query == "q_a").exists(_.flagged),
      "1.9x over floor must flag even when the probe ran fast")
  }

  test("regressions under partial load are still caught") {
    // probe 2x (real load), query 6x: normalized 3x > 1.5 tolerance
    val r = BenchGuard.evaluate(floors, Map("q_a" -> 6.0, "q_b" -> 4.0),
      calibrationNow = 0.4)
    val byQ = r.verdicts.map(v => v.query -> v.flagged).toMap
    assert(byQ === Map("q_a" -> true, "q_b" -> false))
  }

  test("new queries and retired floors are reported, not flagged") {
    val r = BenchGuard.evaluate(floors, Map("q_a" -> 1.0, "q_new" -> 9.9),
      calibrationNow = 0.2)
    assert(r.missingFloor === Seq("q_new"))
    assert(r.retiredQueries === Seq("q_b"))
    assert(r.verdicts.map(_.query) === Seq("q_a"))
  }

  test("sub-second jitter fails the absolute-excess test, not the build") {
    // a 0.2s query measuring 0.35s is 1.75x — but 0.15s of excess is
    // GC/scheduling noise, far below what a structural regression adds
    val tiny = floors.copy(queries = Map("q_t" -> 0.2))
    val r = BenchGuard.evaluate(tiny, Map("q_t" -> 0.35), calibrationNow = 0.2)
    assert(r.verdicts.forall(!_.flagged), r.verdicts)
  }

  test("crashed queries (-1) are not flagged as regressions") {
    val r = BenchGuard.evaluate(floors, Map("q_a" -> -1.0), calibrationNow = 0.2)
    assert(r.verdicts.forall(!_.flagged))
  }

  test("floors file round-trips") {
    val path = java.nio.file.Files.createTempFile("floors", ".json").toString
    BenchGuard.writeFloors(path, floors)
    val back = BenchGuard.readFloors(path)
    assert(back.sf === floors.sf)
    assert(back.tolerance === floors.tolerance)
    assert(math.abs(back.calibration - floors.calibration) < 1e-4)
    assert(back.queries.keySet === floors.queries.keySet)
    floors.queries.foreach { case (k, v) =>
      assert(math.abs(back.queries(k) - v) < 1e-4, k)
    }
  }

  test("--set-floor rewrites or ADDS an entry; unknown-to-the-registry rejects") {
    val path = java.nio.file.Files.createTempFile("floors_set", ".json").toString
    // the typo guard validates against SparkEntry.queries (so a new
    // query's first floor can land without a full sweep) — use a real
    // registry name in the fixture
    val real = floors.copy(queries = floors.queries + ("q_agg_pricing" -> 1.0))
    BenchGuard.writeFloors(path, real)
    BenchGuard.main(Array("--set-floor", "q_agg_pricing=9.5", path))
    val back = BenchGuard.readFloors(path)
    assert(math.abs(back.queries("q_agg_pricing") - 9.5) < 1e-4, "override must apply")
    (real.queries - "q_agg_pricing").foreach { case (k, v) =>
      assert(math.abs(back.queries(k) - v) < 1e-4, s"$k must be untouched")
    }
    assert(math.abs(back.calibration - real.calibration) < 1e-4)
    // a registry query with NO existing floor is added, not rejected
    BenchGuard.main(Array("--set-floor", "q_when_case=0.5", path))
    assert(math.abs(BenchGuard.readFloors(path).queries("q_when_case") - 0.5) < 1e-4)
    intercept[IllegalArgumentException] {
      BenchGuard.main(Array("--set-floor", "q_nonexistent=1.0", path))
    }
  }

  test("the committed floor file covers every SparkEntry query") {
    val committed = BenchGuard.readFloors("bench/floors.json")
    val queries = SparkEntry.queries.keySet
    val missing = queries -- committed.queries.keySet
    assert(missing.isEmpty, s"queries without a committed floor: $missing")
    assert(committed.calibration > 0)
  }

  test("the committed last run measures every SparkEntry query") {
    // bench/last_run.json is the shared artifact Bench writes and the
    // guard/driver/review all read — a registered query missing from it
    // means half the perf surface went unmeasured (the r7/r8 artifact
    // truncation made ~59 queries invisible to round-over-round review)
    val run = BenchGuard.readLastRun("bench/last_run.json")
    val queries = SparkEntry.queries.keySet
    val missing = queries -- run.queries.keySet
    assert(missing.isEmpty, s"queries without a fresh measurement: $missing")
    val crashed = run.queries.filter(_._2 < 0).keys.toSeq.sorted
    assert(crashed.isEmpty, s"queries that crashed in the last bench run: $crashed")
    assert(run.calibration > 0)
    assert(run.writtenAt.nonEmpty, "last_run.json must carry provenance")
  }

  test("last_run.json records the cpu count it was measured at") {
    // the cpus field is the provenance --from-last-run and --rebaseline
    // compare/stamp against; a committed run without it would let a
    // mismatched re-grade or rebaseline slip through unchallenged
    val run = BenchGuard.readLastRun("bench/last_run.json")
    assert(run.cpus.nonEmpty, "last_run.json must record cpus")
    val committed = BenchGuard.readFloors("bench/floors.json")
    assert(committed.cpus === run.cpus,
      "committed floors and last_run must agree on cpu provenance")
  }

  test("readLastRun tolerates a pre-cpus-field artifact") {
    val path = java.nio.file.Files.createTempFile("last_run", ".json")
    java.nio.file.Files.write(path,
      """{"queries":{"q_a":1.0},"calibration":0.2,"sf":"sf0.1","written_at":"t"}"""
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val run = BenchGuard.readLastRun(path.toString)
    assert(run.cpus === "")
    assert(run.queries === Map("q_a" -> 1.0))
  }

  test("floors carry the provenance of the run they were ratcheted from") {
    val committed = BenchGuard.readFloors("bench/floors.json")
    assert(committed.source.nonEmpty,
      "floors.json must name the measurement it came from")
  }

  test("the committed CROSS-ROUND baseline exists and parses (floors_prev.json)") {
    // floors.json regenerates at HEAD each round, so it can never see
    // round-over-round drift by itself; floors_prev.json anchors the
    // guard one round back and must ship alongside it
    val prev = BenchGuard.readFloors("bench/floors_prev.json")
    assert(prev.calibration > 0, "prev floors need a calibration anchor")
    assert(prev.queries.nonEmpty)
    assert(prev.source.nonEmpty, "prev floors must carry provenance")
  }

  test("--snapshot-prev archives the current floors verbatim") {
    val dir = java.nio.file.Files.createTempDirectory("guard_prev")
    val fp = dir.resolve("floors.json").toString
    BenchGuard.writeFloors(fp, floors.copy(source = "round N sweep"))
    BenchGuard.main(Array("--snapshot-prev", fp))
    val back = BenchGuard.readFloors(BenchGuard.prevPath(fp))
    assert(back.queries.keySet === floors.queries.keySet)
    assert(back.source === "round N sweep")
  }

  test("set-floor acceptances are exempt from the cross-round comparison") {
    val accepted = BenchGuard.acceptedOverrides(floors.copy(
      source = "sweep 2026; set-floor q_a,q_graph_walks; set-floor q_z"))
    assert(accepted === Set("q_a", "q_graph_walks", "q_z"))
    assert(BenchGuard.acceptedOverrides(
      floors.copy(source = "rebaseline last_run t sf0.1")) === Set.empty)
  }

  // ---- fresh-JVM recheck adjudication ---------------------------------

  test("recheck clears a flag the fresh JVM does not reproduce") {
    // sweep-state flag: q_a 3x over floor in the long run…
    val sweep = BenchGuard.evaluate(floors,
      Map("q_a" -> 3.0, "q_b" -> 2.0), calibrationNow = 0.2)
    val flagged = sweep.verdicts.filter(_.flagged)
    assert(flagged.map(_.query) === Seq("q_a"))
    // …but at floor in the clean JVM: the flag is dropped
    val cleared = BenchGuard.confirmFlags(floors, flagged,
      Map("q_a" -> 1.05), calib2 = 0.2)
    assert(cleared.isEmpty)
  }

  test("recheck confirms a real regression and fails safe on a missing query") {
    val sweep = BenchGuard.evaluate(floors,
      Map("q_a" -> 3.0, "q_b" -> 6.0), calibrationNow = 0.2)
    val flagged = sweep.verdicts.filter(_.flagged)
    assert(flagged.map(_.query).sorted === Seq("q_a", "q_b"))
    // q_a still 3x in the fresh JVM → stands; q_b absent from the
    // recheck output (child skipped/crashed it) → stands, fail safe
    val confirmed = BenchGuard.confirmFlags(floors, flagged,
      Map("q_a" -> 3.1), calib2 = 0.2)
    assert(confirmed.map(_.query).sorted === Seq("q_a", "q_b"))
  }

  test("recheck normalizes through the fresh JVM's own calibration") {
    val sweep = BenchGuard.evaluate(floors,
      Map("q_a" -> 3.0), calibrationNow = 0.2)
    val flagged = sweep.verdicts.filter(_.flagged)
    // the cold JVM runs everything 3x slower, probe included — the
    // same 3.0 s measurement is load, not regression
    assert(BenchGuard.confirmFlags(floors, flagged,
      Map("q_a" -> 3.0), calib2 = 0.6).isEmpty)
  }

  test("parseBenchLine reads the last metric line of a Bench child") {
    val out =
      """[bench] pass 1 q_a 1.00 s
        |{"metric":"total","value":9.9,"unit":"sec","queries":{"q_a":1.5,"q_b":0.5},"errors":{},"calibration":0.31,"sf":"/x"}
        |""".stripMargin
    val parsed = BenchGuard.parseBenchLine(out)
    assert(parsed === Some((Map("q_a" -> 1.5, "q_b" -> 0.5), 0.31)))
    assert(BenchGuard.parseBenchLine("garbage\nno json\n").isEmpty)
  }

  test("the compact stdout line carries every query's time and still fits") {
    val names = SparkEntry.queries.keys.toSeq.sorted
    assert(names.size >= 250)
    // worst-case widths: two-digit seconds and two decimals everywhere
    val times = names.zipWithIndex.map { case (n, i) =>
      n -> (if (i == 7) -1.0 else 10.0 + (i * 0.137) % 89.0 + 0.004) }
    val sweep = Bench.Sweep(times, Map(names(7) -> "boom"), calibration = 0.42)
    val line = Bench.stdoutLine(sweep, "/tmp/sf",
      Some("bench/last_run.json"))
    assert(line.length < 2000, s"len ${line.length}")
    val j = new com.fasterxml.jackson.databind.ObjectMapper().readTree(line)
    Seq("metric", "value", "unit", "n", "n_errors", "calibration", "sf",
      "queries_path").foreach(k => assert(j.has(k), s"lost key $k"))
    assert(j.get("n").asInt === names.size)
    assert(j.get("n_errors").asInt === 1)
    val q = j.get("queries_s")
    val secs = (0 until q.get("s").size).map(q.get("s").get(_).asDouble)
    assert(secs.size === names.size)
    secs.zip(times).foreach { case (got, (n, want)) =>
      assert(math.abs(got - want) <= 0.005 + 1e-9, s"$n: $got vs $want")
    }
    val order = java.security.MessageDigest.getInstance("SHA-256")
      .digest(names.mkString(",").getBytes("UTF-8"))
      .take(6).map(b => f"${b & 0xff}%02x").mkString
    assert(q.get("order").asText === order)
  }
}
