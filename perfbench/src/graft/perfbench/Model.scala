package graft.perfbench

import java.time.LocalDate

/** One classified history row: the snapshot row plus `change_status`
  * and `changed_status_date`.
  */
final case class ScdRow(e: Emp, status: String, changed: LocalDate) {
  def fields: Seq[String] = e.fields ++ Seq(status, changed.toString)
}

/** Plain-Scala reference model of the SCD semantics (SURVEY §0–2):
  * dedup on (snapshot_date, employee_number), the four change_status
  * values, gaps-and-islands dating in legacy and corrected mode, and the
  * current view. It supplies every expected output the benchmark checks.
  */
object Model {

  /** One row per (date, employee). Inputs hold exact duplicates only,
    * so which copy survives does not matter.
    */
  def dedup(rows: Iterable[Emp]): Vector[Emp] =
    rows.iterator.map(e => (e.date, e.id) -> e).toMap.values.toVector

  /** Classify a deduplicated set of snapshot rows.
    *
    * Per employee in date order: the first row is `New`; the last row
    * is `Deleted` when its date is before the global max date; other
    * rows are `Changed` or `No Change` against the previous row.
    * `changed_status_date` is the first date of the row's island: rows
    * sharing (employee, attributes, gap) where gap = rank of the row
    * among the employee's rows minus its rank among the employee's rows
    * with equal attributes (both counted from the newest). Legacy mode
    * pools islands by gap alone, across all employees — the reference's
    * quirk. A Deleted row is dated by its own date.
    */
  def classify(rows: Iterable[Emp], legacy: Boolean): Vector[ScdRow] = {
    val all = dedup(rows)
    if (all.isEmpty) return Vector.empty
    val globalMax = all.map(_.date).maxBy(_.toEpochDay)
    val staged = all.groupBy(_.id).values.toVector.flatMap { hist =>
      val asc = hist.sortBy(_.date)
      val n = asc.length
      val seen = scala.collection.mutable.HashMap.empty[Product, Int]
      val gaps = new Array[Int](n)
      (n - 1 to 0 by -1).foreach { i =>
        val k = seen.getOrElse(asc(i).attrs, 0) + 1
        seen(asc(i).attrs) = k
        gaps(i) = (n - i) - k
      }
      asc.indices.map { i =>
        val status =
          if (i == 0) "New"
          else if (i == n - 1 && asc(i).date != globalMax) "Deleted"
          else if (asc(i - 1).attrs != asc(i).attrs) "Changed"
          else "No Change"
        (asc(i), status, gaps(i))
      }
    }
    // legacy mode keys islands by gap alone; corrected mode by (employee, attributes, gap)
    def island(e: Emp, g: Int): Any = if (legacy) g else (e.id, e.attrs, g)
    val islandStart: Map[Any, LocalDate] = staged.groupBy(r => island(r._1, r._3)).view
      .mapValues(_.map(_._1.date).minBy(_.toEpochDay)).toMap
    staged.map { case (e, status, g) =>
      ScdRow(e, status, if (status == "Deleted") e.date else islandStart(island(e, g)))
    }
  }

  /** Latest row per employee, its date overwritten by the global max
    * date; Deleted employees are kept.
    */
  def current(history: Iterable[ScdRow]): Vector[ScdRow] = {
    if (history.isEmpty) return Vector.empty
    val globalMax = history.iterator.map(_.e.date).maxBy(_.toEpochDay)
    history.groupBy(_.e.id).values.toVector.map { h =>
      val r = h.maxBy(_.e.date.toEpochDay)
      r.copy(e = r.e.copy(date = globalMax))
    }
  }

  /** Order-insensitive checksum of a row set: (rows, sum of CRC32 over
    * each row's fields joined by `|`, nulls rendered `NULL`). Matches
    * [[Checks.sparkChecksum]] on the same rows.
    */
  def checksum(rows: Iterable[Seq[String]]): (Long, Long) = {
    var n = 0L
    var sum = 0L
    rows.foreach { f =>
      val crc = new java.util.zip.CRC32()
      crc.update(f.mkString("|").getBytes(java.nio.charset.StandardCharsets.UTF_8))
      n += 1
      sum += crc.getValue
    }
    (n, sum)
  }
}
