package graft

/** [[Bench.sweep]]'s per-query layer figures: every query records the
  * Spark jobs of its kept pass, and for a fixed plan the job count does
  * not change from sweep to sweep.
  */
class BenchSweepSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"
  private val queries = Set("q_scan_filter_project", "q_agg_pricing")

  test("a sweep records each query's Spark jobs, the same count every sweep") {
    val sweeps = Seq.fill(2)(Bench.sweep(spark, sf, runs = 1, only = Some(queries)))
    sweeps.foreach { s =>
      assert(s.errors.isEmpty, s.errors)
      assert(s.results.map(_._1).toSet === queries)
      assert(s.layers.keySet === queries)
      s.layers.foreach { case (q, l) =>
        assert(l.jobs >= 1, s"$q recorded no job")
        assert(l.stages >= 1 && l.tasks >= l.stages, s"$q: $l")
        assert(l.jobS >= 0 && l.driverGapS >= 0, s"$q: $l")
      }
    }
    val Seq(a, b) = sweeps.map(_.layers.map { case (q, l) => q -> l.jobs }.toMap)
    assert(a === b)
  }
}
