package graft

import org.scalatest.funsuite.AnyFunSuite

/** Gate over the committed sf1 scale-soak artifact
  * (`bench/soak_sf1.json`, written by [[BenchFamilies]]): every soak query's
  * measured 10×-data time ratio must stay near-linear. A query that
  * takes much more than `factor`× the time on `factor`× the data has
  * a superlinear term the sf0.1 bench cannot see — the exact class of
  * surprise the 100 TB shape claims must exclude.
  *
  * Spark-free and fast (reads one committed JSON file), so it runs in
  * the preflight gate alongside BenchGuardSpec.
  */
class SoakGuardSpec extends AnyFunSuite {

  private val path = java.nio.file.Paths.get("bench", "soak_sf1.json")

  /** Default: 15× on 10× data — headroom for fixed per-query overhead
    * shifting between the two runs, not for real superlinearity.
    */
  private val DefaultLimit = 15.0

  /** Documented per-query exceptions (SURVEY §6 carries the why).
    * Iterative graph queries pay per-ROUND fixed job overhead that
    * data growth can also deepen (more rounds to converge), so they
    * get modest extra headroom rather than a pass.
    */
  private val Limits = Map(
    "q_graph_pagerank" -> 20.0,
    "q_graph_kcore" -> 20.0)

  import SoakGuardSpec._

  private def read(path: java.nio.file.Path, set: String): String = {
    assert(java.nio.file.Files.isRegularFile(path),
      s"$path missing — run `sbt 'runMain graft.BenchFamilies $set'` and commit the artifact")
    new String(java.nio.file.Files.readAllBytes(path),
      java.nio.charset.StandardCharsets.UTF_8)
  }

  private lazy val artifact: Map[String, Entry] = entries(read(path, "soak"))

  test("the soak artifact covers exactly the registered soak set") {
    assert(artifact.keySet === BenchFamilies.Sets("soak").queries.toSet,
      "soak_sf1.json out of date — rerun `runMain graft.BenchFamilies soak` after editing SoakQueries")
  }

  test("every soak query ran at both scales") {
    artifact.foreach { case (q, e) =>
      assert(e.sf01 > 0 && e.sfx > 0, s"$q: non-positive time in soak artifact")
    }
  }

  test("no soak query is superlinear past its documented limit") {
    val over = artifact.toSeq.flatMap { case (q, e) =>
      val limit = Limits.getOrElse(q, DefaultLimit)
      // sub-second sf0.1 times make the ratio mostly fixed overhead;
      // require half a second of EXCESS too, like the bench floors
      val excess = e.sfx - e.sf01 * limit
      if (e.ratio > limit && excess > 0.5)
        Some(f"$q: ratio ${e.ratio}%.2f > $limit (sf0.1 ${e.sf01}%.2f s, x10 ${e.sfx}%.2f s)")
      else None
    }
    assert(over.isEmpty, s"superlinear soak queries:\n${over.mkString("\n")}")
  }

  // ---- the second (20×) scale point for the iterative graph pair:
  // k-core peel depth grows with the scaled graph's degeneracy, so
  // the single 10× ratio can't answer the next-decade question —
  // this artifact measures one more decade, and the operators' round
  // BUDGET (maxRounds × one linear pass, convergence or not) caps
  // everything past it. Allowance stays 2× the factor, same shape as
  // the 10× graph limit.

  private val path2 = java.nio.file.Paths.get("bench", "soak_sf2.json")

  private lazy val artifact2: (Double, Map[String, Entry]) = {
    val text = read(path2, "soak_sf2")
    (factorOf(text), entries(text))
  }

  test("the sf2 artifact covers the graph pair at a ≥20× factor") {
    val (factor, entries) = artifact2
    assert(factor >= 20.0, s"sf2 soak factor $factor < 20")
    assert(entries.keySet === BenchFamilies.Sets("soak_sf2").queries.toSet,
      "soak_sf2.json out of date — rerun `runMain graft.BenchFamilies soak_sf2` after editing its set")
    entries.foreach { case (q, e) =>
      assert(e.sf01 > 0 && e.sfx > 0, s"$q: non-positive time in sf2 artifact")
    }
  }

  test("the graph pair stays inside 2×factor at the 20× point") {
    val (factor, entries) = artifact2
    val limit = 2.0 * factor
    val over = entries.toSeq.flatMap { case (q, e) =>
      val excess = e.sfx - e.sf01 * limit
      if (e.ratio > limit && excess > 0.5)
        Some(f"$q: ratio ${e.ratio}%.2f > $limit (sf0.1 ${e.sf01}%.2f s, x$factor%.0f ${e.sfx}%.2f s)")
      else None
    }
    assert(over.isEmpty, s"superlinear at 20×:\n${over.mkString("\n")}")
  }

  test("the one renderer writes every set in the shape this gate parses") {
    BenchFamilies.Sets.foreach { case (name, set) =>
      def sweep(scale: Double) = Bench.Sweep(
        set.queries.zipWithIndex.map { case (q, i) => q -> scale * (i + 1) } :+ ("q_not_in_set" -> 1.0),
        Map.empty, calibration = 0.5)
      val text = BenchFamilies.render(set, 3, sweep(0.25), sweep(1.0))
      withClue(s"[$name] ") {
        assert(factorOf(text) === set.factor.toDouble)
        val got = entries(text)
        assert(got.keySet === set.queries.toSet)
        got.values.foreach(e => assert(e.ratio === 4.0))
        // the same bytes a JSON reader sees
        val root = new com.fasterxml.jackson.databind.ObjectMapper().readTree(text)
        val key = if (set.families.isEmpty) "queries" else "families"
        assert(root.has(key) && root.path("factor").asInt() === set.factor)
      }
    }
  }
}

object SoakGuardSpec {
  final case class Entry(sf01: Double, sfx: Double, ratio: Double)

  private val EntryRe =
    """"(q_[a-z0-9_]+)":\{"sf01_sec":([0-9.eE+-]+),"sfx_sec":([0-9.eE+-]+),"ratio":([0-9.eE+-]+)\}""".r

  def entries(text: String): Map[String, Entry] =
    EntryRe.findAllMatchIn(text).map(m =>
      m.group(1) -> Entry(m.group(2).toDouble, m.group(3).toDouble,
        m.group(4).toDouble)).toMap

  def factorOf(text: String): Double =
    """"factor":(\d+)""".r.findFirstMatchIn(text).map(_.group(1).toDouble).getOrElse(0.0)
}
