package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

/** Structural guard: [[graft.streaming.MergeStore]] owns every
  * per-batch directory, so its crash repair runs on every path. No
  * other main source may spell the batch directory or column name
  * outside a comment.
  */
class BatchPathGuardSpec extends org.scalatest.funsuite.AnyFunSuite {

  private val Owner = "MergeStore.scala"
  private val Needle = "batch" + "_id"

  /** `src` with every comment blanked out (newlines kept, so line
    * numbers survive). String and char literals are kept: a path built
    * in a string is exactly what the guard looks for.
    */
  private[graft] def stripComments(src: String): String = {
    val out = new StringBuilder
    var i = 0
    var depth = 0 // nested block-comment depth
    def at(s: String) = src.startsWith(s, i)
    while (i < src.length) {
      val ch = src.charAt(i)
      if (depth > 0) {
        if (at("/*")) { depth += 1; i += 2 }
        else if (at("*/")) { depth -= 1; i += 2 }
        else { if (ch == '\n') out += '\n'; i += 1 }
      } else if (at("/*")) { depth = 1; i += 2 }
      else if (at("//")) { while (i < src.length && src.charAt(i) != '\n') i += 1 }
      else if (at("\"\"\"")) {
        val end = src.indexOf("\"\"\"", i + 3)
        val stop = if (end < 0) src.length else end + 3
        out ++= src.substring(i, stop); i = stop
      } else if (ch == '"') {
        var j = i + 1
        while (j < src.length && src.charAt(j) != '"' && src.charAt(j) != '\n') {
          if (src.charAt(j) == '\\') j += 1
          j += 1
        }
        val stop = math.min(j + 1, src.length)
        out ++= src.substring(i, stop); i = stop
      } else if (ch == '\'' && i + 2 < src.length && src.charAt(i + 2) == '\'') {
        out ++= src.substring(i, i + 3); i += 3
      } else { out += ch; i += 1 }
    }
    out.toString
  }

  test("comment stripping keeps code and string literals") {
    val src = "val a = \"x//y batch\" // tail\n/* c /* nested */ still */ val b = 1"
    assert(stripComments(src) == "val a = \"x//y batch\" \n val b = 1")
  }

  test("no main source outside MergeStore names the batch directory") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repository root: $root")
    val files = Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala")).toSeq
    assert(files.exists(_.getFileName.toString == Owner))
    val offenders = for {
      f: Path <- files if f.getFileName.toString != Owner
      (line, n) <- stripComments(new String(Files.readAllBytes(f), "UTF-8"))
        .split("\n", -1).zipWithIndex if line.contains(Needle)
    } yield s"$f:${n + 1}: ${line.trim}"
    assert(offenders.isEmpty,
      s"raw batch paths outside $Owner:\n${offenders.mkString("\n")}")
  }
}
