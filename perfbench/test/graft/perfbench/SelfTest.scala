package graft.perfbench

import java.nio.file.Files
import java.time.LocalDate

/** The benchmark's own tests: generator determinism, the SCD model on a
  * hand-written history, and span self-time arithmetic. Plain Scala, no
  * Spark session. Run with `python3 perfbench/run.py --selftest`.
  */
object SelfTest {
  private var failures = 0
  private var passed = 0

  private def test(name: String)(body: => Unit): Unit =
    try { body; passed += 1; println(s"ok    $name") }
    catch {
      case e: Throwable =>
        failures += 1
        println(s"FAIL  $name: $e")
    }

  private def eq[T](got: T, want: T, what: String = ""): Unit =
    if (got != want) throw new AssertionError(s"$what\n  got:  $got\n  want: $want")

  private def d(day: Int): LocalDate = LocalDate.of(2020, 1, day)

  private def emp(day: Int, id: Int, last: String, status: String = "Active",
      term: Option[Int] = None): Emp =
    Emp(d(day), id, status, "Ann", last, "F", s"e$id@example.com", "555-0000", 50000,
      term.map(d))

  def main(args: Array[String]): Unit = {
    test("generator: same seed gives byte-identical files") {
      val p = Gen.Params(employees = 300, days = 6)
      val dirs = (1 to 3).map(_ => Files.createTempDirectory("gen"))
      Seq(42L, 42L, 43L).zip(dirs).foreach { case (seed, dir) =>
        Gen.writeFiles(dir, seed, Gen.snapshots(seed, p), p.dupRate, outOfOrder = Some(2))
      }
      def bytes(dir: java.nio.file.Path) = {
        val s = Files.list(dir)
        try s.sorted.toArray.toSeq.map(f => f.toString.split('/').last ->
          Files.readAllBytes(f.asInstanceOf[java.nio.file.Path]).toSeq)
        finally s.close()
      }
      eq(bytes(dirs(0)).length, 6, "files")
      eq(bytes(dirs(0)), bytes(dirs(1)), "same seed")
      if (bytes(dirs(0)) == bytes(dirs(2))) throw new AssertionError("another seed gave the same files")
      dirs.foreach(Stats.deleteTree)
    }

    test("generator: changes, terminations, re-hires and duplicates all occur") {
      val p = Gen.Params(employees = 2000, days = 10)
      val days = Gen.snapshots(7L, p)
      val hist = Model.classify(days.flatten, legacy = false)
      Seq("New", "Changed", "No Change", "Deleted").foreach { s =>
        if (!hist.exists(_.status == s)) throw new AssertionError(s"no $s row")
      }
      val rehired = days.flatten.groupBy(_.id).values.exists { rs =>
        val ds = rs.map(_.date.toEpochDay).sorted
        ds.zip(ds.tail).exists { case (a, b) => b - a > 1 }
      }
      if (!rehired) throw new AssertionError("no re-hire")
      val lines = Gen.fileLines(1L, days(3), p.dupRate)
      if (lines.distinct.length == lines.length) throw new AssertionError("no duplicate row")
    }

    // Three employees over four days, delivered as files in the order
    // d1, d3, d2, d4; the d3 file also carries employee 3's d2 row (late).
    // 1: A A B B          -> New, No Change, Changed, No Change
    // 2: X Y - Z          -> New, Changed, (absent), Changed: a re-hire
    // 3: P P P -          -> New, No Change, Deleted
    val e1 = Seq(emp(1, 1, "A"), emp(2, 1, "A"), emp(3, 1, "B"), emp(4, 1, "B"))
    val e2 = Seq(emp(1, 2, "X"), emp(2, 2, "X", "Inactive", Some(2)), emp(4, 2, "Z"))
    val e3 = Seq(emp(1, 3, "P"), emp(2, 3, "P"), emp(3, 3, "P"))
    val files = Seq(
      Seq(e1(0), e2(0), e3(0)),
      Seq(e1(2), e3(2), e3(1)),       // d3, plus the late d2 row of employee 3
      Seq(e1(1), e1(1), e2(1)),       // d2, with an exact duplicate
      Seq(e1(3), e2(2)))
    val rows = files.flatten
    def table(h: Seq[ScdRow]) =
      h.map(r => (r.e.id, r.e.date.getDayOfMonth, r.status, r.changed.getDayOfMonth))
        .sortBy(r => (r._1, r._2))

    test("model: corrected islands on the hand-written history") {
      eq(table(Model.classify(rows, legacy = false)), Seq(
        (1, 1, "New", 1), (1, 2, "No Change", 1), (1, 3, "Changed", 3), (1, 4, "No Change", 3),
        (2, 1, "New", 1), (2, 2, "Changed", 2), (2, 4, "Changed", 4),
        (3, 1, "New", 1), (3, 2, "No Change", 1), (3, 3, "Deleted", 3)))
    }

    test("model: legacy islands pool gap groups across employees") {
      // gap 0 holds 1@d3,d4, 2@d4 and 3@d1..d3 -> d1; gap 1 holds 2@d2 -> d2
      eq(table(Model.classify(rows, legacy = true)), Seq(
        (1, 1, "New", 1), (1, 2, "No Change", 1), (1, 3, "Changed", 1), (1, 4, "No Change", 1),
        (2, 1, "New", 1), (2, 2, "Changed", 2), (2, 4, "Changed", 1),
        (3, 1, "New", 1), (3, 2, "No Change", 1), (3, 3, "Deleted", 3)))
    }

    test("model: arrival order and duplicates do not matter") {
      eq(table(Model.classify(rows.reverse ++ rows, legacy = false)),
        table(Model.classify(rows, legacy = false)))
    }

    test("model: current view keeps Deleted rows, dated by the global max") {
      val cur = Model.current(Model.classify(rows, legacy = false))
      eq(table(cur), Seq((1, 4, "No Change", 3), (2, 4, "Changed", 4), (3, 4, "Deleted", 3)))
      eq(cur.find(_.e.id == 2).map(_.e.last), Some("Z"))
    }

    test("model: checksum is order-insensitive and sees a changed field") {
      val a = Seq(Seq("1", "x"), Seq("2", "NULL"))
      eq(Model.checksum(a), Model.checksum(a.reverse))
      if (Model.checksum(a) == Model.checksum(Seq(Seq("1", "x"), Seq("2", "y"))))
        throw new AssertionError("checksum missed a change")
    }

    test("span: self time subtracts the union of child intervals, clipped to the parent") {
      val spans = Seq(
        Span(1, 0, "root", 0, 100),
        Span(2, 1, "a", 10, 30),
        Span(3, 1, "b", 20, 50), // overlaps a: the union is 10..50
        Span(4, 2, "c", 12, 15),
        Span(5, 1, "d", 90, 120)) // runs past the parent: only 90..100 counts
      eq(Span.selfTimes(spans), Map(1 -> 50L, 2 -> 17L, 3 -> 30L, 4 -> 3L, 5 -> 30L))
      eq(Span.covered(Seq((0L, 10L), (5L, 8L), (20L, 25L), (25L, 30L))), 20L)
      eq(Span.covered(Nil), 0L)
    }

    test("stats: tail is the highest rank with ten samples beyond it") {
      eq(Stats.tail((1 to 5).map(_.toDouble)), 5.0)
      eq(Stats.tail((1 to 30).map(_.toDouble)), 20.0)
      eq(Stats.median(Seq(3.0, 1.0, 2.0, 10.0)), 2.5)
    }

    println(s"$passed passed, $failures failed")
    sys.exit(if (failures == 0) 0 else 1)
  }
}
