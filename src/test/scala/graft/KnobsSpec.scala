package graft

import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Every knob the program reads is documented, and every documented
  * knob is read: the `SPARK_GRAFT_*` environment variables and
  * `spark.graft.*` config keys named as string literals under
  * src/main/scala must equal the knob table in README "Running". No
  * Spark session needed: a plain source scan. */
class KnobsSpec extends AnyFunSuite {

  private val knob = """(SPARK_GRAFT_[A-Z0-9_]+|spark\.graft\.[A-Za-z0-9_.]*[A-Za-z0-9_])"""

  private def readInSource: Set[String] = {
    val root = java.nio.file.Paths.get("src/main/scala")
    val files = java.nio.file.Files.walk(root)
    val literal = ("\"" + knob + "\"").r
    try files.iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .flatMap(p => literal.findAllMatchIn(java.nio.file.Files.readString(p))
        .map(_.group(1)))
      .toSet
    finally files.close()
  }

  private def documentedInReadme: Set[String] = {
    val readme = java.nio.file.Files.readString(java.nio.file.Paths.get("README.md"))
    val start = readme.indexOf("\n## Running")
    assert(start >= 0, "README.md has no \"## Running\" section")
    val end = readme.indexOf("\n## ", start + 1)
    val section = readme.substring(start, if (end < 0) readme.length else end)
    // first cell of each knob-table row: | `NAME` | ...
    val row = ("""^\|\s*`""" + knob + """`\s*\|""").r
    section.linesIterator.flatMap(l => row.findFirstMatchIn(l).map(_.group(1))).toSet
  }

  test("README \"Running\" knob table lists exactly the knobs src/main reads") {
    val read = readInSource
    val documented = documentedInReadme
    assert(read.nonEmpty, "no knob literal found under src/main/scala")
    val undocumented = (read -- documented).toSeq.sorted
    val unread = (documented -- read).toSeq.sorted
    assert(undocumented.isEmpty && unread.isEmpty,
      s"read but not in the README knob table: ${undocumented.mkString(", ")}; " +
        s"in the table but read nowhere: ${unread.mkString(", ")}")
  }

  test("SPARK_GRAFT_ONLY: unset, empty or blank selects the whole registry") {
    assert(GraftSession.parseOnly(None).isEmpty)
    assert(GraftSession.parseOnly(Some("")).isEmpty)
    assert(GraftSession.parseOnly(Some("  , ")).isEmpty)
    assert(GraftSession.parseOnly(Some(" q_a,,q_b ")).contains(Set("q_a", "q_b")))
  }
}
