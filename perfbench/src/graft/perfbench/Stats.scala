package graft.perfbench

import scala.collection.mutable
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Timing helpers and the sample statistics the benchmark reports. */
object Stats {

  /** A progress line on standard error, stamped with the JVM's uptime. */
  def log(msg: String): Unit =
    System.err.println(f"[perfbench] t=${java.lang.management.ManagementFactory
      .getRuntimeMXBean.getUptime / 1000.0}%.1fs $msg")

  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val n = s.length
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** The highest percentile with at least ten samples beyond it
    * (nearest rank); with fewer than 11 samples no such percentile
    * exists and the maximum is reported instead.
    */
  def tail(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.length < 11) s.last else s(s.length - 11)
    }

  /** The process high-water resident set (`VmHWM`), in MB. */
  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)

  def dirBytes(p: java.nio.file.Path): Long =
    if (!java.nio.file.Files.exists(p)) 0L
    else {
      val s = java.nio.file.Files.walk(p)
      try s.filter(java.nio.file.Files.isRegularFile(_))
        .mapToLong(java.nio.file.Files.size(_)).sum()
      finally s.close()
    }

  def deleteTree(p: java.nio.file.Path): Unit =
    if (java.nio.file.Files.exists(p)) {
      val s = java.nio.file.Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(java.nio.file.Files.delete(_))
      finally s.close()
    }

  def copyTree(src: java.nio.file.Path, dst: java.nio.file.Path): Unit = {
    val s = java.nio.file.Files.walk(src)
    try s.forEach { p =>
      val t = dst.resolve(src.relativize(p).toString)
      if (java.nio.file.Files.isDirectory(p)) java.nio.file.Files.createDirectories(t)
      else java.nio.file.Files.copy(p, t)
    } finally s.close()
  }
}

/** Samples of one run: write ("load") and read latencies, whole passes,
  * and operations attempted and failed.
  */
final class Samples {
  val loads = mutable.ArrayBuffer.empty[Double]
  val reads = mutable.ArrayBuffer.empty[Double]
  val passes = mutable.ArrayBuffer.empty[Double]
  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer.empty[String]

  /** Count one checked operation; a false `ok` is a failure. */
  def check(what: String, ok: Boolean): Unit = {
    attempted += 1
    if (!ok) {
      failed += 1
      if (failures.length < 20) failures += what
      System.err.println(s"[perfbench] CHECK FAILED: $what")
    }
  }
}

/** Spark-side row checksums matching [[Model.checksum]]. */
object Checks {

  def rowString(cols: Seq[String]): Column =
    concat_ws("|", cols.map(c => coalesce(col(c).cast("string"), lit("NULL"))): _*)

  /** (rows, sum of CRC32 of each row rendered as in [[Model.checksum]]). */
  def sparkChecksum(df: DataFrame, cols: Seq[String]): (Long, Long) = {
    val r = df.agg(count(lit(1)), coalesce(sum(crc32(rowString(cols))), lit(0L))).head()
    (r.getLong(0), r.getLong(1))
  }
}
