package graft.perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.time.LocalDate

/** One daily-snapshot row, in the column order of
  * `EmployeeTables.snapshotSchema`.
  */
final case class Emp(
    date: LocalDate,
    id: Int,
    status: String,
    first: String,
    last: String,
    gender: String,
    email: String,
    phone: String,
    salary: Int,
    termination: Option[LocalDate]) {

  /** Everything the program's `row_hash` covers (all columns but the
    * date). Two rows hash equal exactly when these are equal: the only
    * nullable column is the last one, so `concat_ws` skipping a null
    * cannot make two different tuples collide.
    */
  def attrs: Product = (id, status, first, last, gender, email, phone, salary, termination)

  def fields: Seq[String] = Seq(date.toString, id.toString, status, first, last,
    gender, email, phone, salary.toString, termination.fold("NULL")(_.toString))

  def csvLine: String = fields.mkString(",")
}

/** Seeded generator of daily full-snapshot CSVs. The same seed and
  * parameters give byte-identical files.
  *
  * Per day, each active employee may change one attribute, be
  * terminated (one last row with status `Inactive` and a termination
  * date, then absent), and absent employees may be re-hired. New hires
  * take fresh numbers. Files repeat a share of their rows verbatim
  * (exact duplicates), and [[writeFiles]] can move some rows of one day
  * into the next day's file (an out-of-order file).
  */
object Gen {
  val Start: LocalDate = LocalDate.of(2020, 1, 1)
  val Header =
    "snapshot_date,employee_number,status,first_name,last_name,gender,email,phone_number,salary,termination_date"

  final case class Params(
      employees: Int,
      days: Int,
      changeRate: Double = 0.04,
      termRate: Double = 0.01,
      rehireRate: Double = 0.05,
      hireRate: Double = 0.01,
      dupRate: Double = 0.005)

  private val Firsts = Array("Ada", "Ben", "Cleo", "Dan", "Eve", "Finn", "Gia", "Hal",
    "Iris", "Jon", "Kai", "Lena", "Mo", "Nia", "Omar", "Pia")
  private val Lasts = Array("Ames", "Boyd", "Cruz", "Diaz", "Egan", "Ford", "Gray",
    "Hale", "Ito", "Jung", "Khan", "Lund", "Moss", "Nash", "Ortiz", "Park")

  private def hire(rnd: java.util.Random, id: Int, date: LocalDate): Emp = {
    val first = Firsts(rnd.nextInt(Firsts.length))
    val last = Lasts(rnd.nextInt(Lasts.length))
    Emp(date, id, "Active", first, last, if (rnd.nextBoolean()) "F" else "M",
      s"${first.toLowerCase}.${last.toLowerCase}$id@example.com",
      f"555-${rnd.nextInt(10000)}%04d", 30000 + rnd.nextInt(90000), None)
  }

  /** Day index → that day's full snapshot, unique per employee, sorted
    * by employee number.
    */
  def snapshots(seed: Long, p: Params): IndexedSeq[IndexedSeq[Emp]] = {
    val rnd = new java.util.Random(seed)
    val active = scala.collection.mutable.TreeMap.empty[Int, Emp]
    val gone = scala.collection.mutable.TreeMap.empty[Int, Emp]
    var nextId = 1
    (0 until p.days).map { day =>
      val date = Start.plusDays(day.toLong)
      if (day == 0) {
        (1 to p.employees).foreach(i => active(i) = hire(rnd, i, date))
        nextId = p.employees + 1
        active.values.toIndexedSeq
      } else {
        val leaving = scala.collection.mutable.ArrayBuffer.empty[Emp]
        active.keys.toIndexedSeq.foreach { id =>
          val e = active(id).copy(date = date)
          val r = rnd.nextDouble()
          if (r < p.termRate) {
            leaving += e.copy(status = "Inactive", termination = Some(date))
            active.remove(id)
          } else if (r < p.termRate + p.changeRate) {
            active(id) = rnd.nextInt(3) match {
              case 0 => e.copy(salary = e.salary + 500 + rnd.nextInt(5000))
              case 1 => e.copy(phone = f"555-${rnd.nextInt(10000)}%04d")
              case _ => e.copy(last = Lasts(rnd.nextInt(Lasts.length)))
            }
          } else active(id) = e
        }
        gone.keys.toIndexedSeq.foreach { id =>
          if (rnd.nextDouble() < p.rehireRate) {
            val e = gone.remove(id).get
            active(id) = e.copy(date = date, status = "Active", termination = None,
              salary = e.salary + rnd.nextInt(3000))
          }
        }
        leaving.foreach(e => gone(e.id) = e)
        (0 until math.max(1, (p.employees * p.hireRate).toInt)).foreach { _ =>
          active(nextId) = hire(rnd, nextId, date)
          nextId += 1
        }
        (active.values ++ leaving).toIndexedSeq.sortBy(_.id)
      }
    }
  }

  /** One file's lines: the rows, then a seeded share of them again. */
  def fileLines(seed: Long, rows: Seq[Emp], dupRate: Double): Seq[String] = {
    val rnd = new java.util.Random(seed)
    val dups = rows.filter(_ => rnd.nextDouble() < dupRate)
    Header +: (rows ++ dups).map(_.csvLine)
  }

  def writeLines(path: Path, lines: Seq[String]): Long = {
    val bytes = lines.mkString("", "\n", "\n").getBytes(UTF_8)
    Files.createDirectories(path.getParent)
    Files.write(path, bytes)
    bytes.length.toLong
  }

  /** Write every day as `<date>.csv` under `dir`. When `outOfOrder` is
    * set, a seeded few rows of that day go into the next day's file
    * instead (late data inside a newer file). Returns bytes written.
    */
  def writeFiles(dir: Path, seed: Long, days: IndexedSeq[IndexedSeq[Emp]],
      dupRate: Double, outOfOrder: Option[Int]): Long = {
    val moved = outOfOrder.map { k =>
      val rnd = new java.util.Random(seed ^ 0x5eedL)
      k -> days(k).filter(_ => rnd.nextDouble() < 0.002).take(20)
    }.toMap
    days.indices.map { d =>
      val own = moved.get(d).fold(days(d))(m => days(d).filterNot(m.toSet))
      val extra = moved.getOrElse(d - 1, Nil)
      writeLines(dir.resolve(s"${days(d).head.date}.csv"),
        fileLines(seed * 31 + d, own ++ extra, dupRate))
    }.sum
  }
}
