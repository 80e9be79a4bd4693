package graft

import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Each query is declared once, as a `QueryDef` carrying its plan and
  * its oracle, in its domain module under `graft.queries`; SparkEntry
  * only assembles the registry from those modules. A query map entry
  * or oracle SQL back in SparkEntry.scala is a second place to declare
  * a query. No Spark session needed: a plain source scan. */
class QueryModulesSpec extends AnyFunSuite {

  private val main = java.nio.file.Paths.get("src/main/scala/graft")
  private def read(p: java.nio.file.Path) = java.nio.file.Files.readString(p)

  test("SparkEntry.scala declares no query plan and holds no oracle SQL") {
    val text = read(main.resolve("SparkEntry.scala"))
    val declared = """"(q\d*_\w+)"\s*->""".r.findAllMatchIn(text).map(_.group(1)).toSeq ++
      """QueryDef\("(\w+)"""".r.findAllMatchIn(text).map(_.group(1))
    assert(declared.isEmpty, "declare these queries as a QueryDef in " +
      s"their graft.queries module: ${declared.distinct.sorted.mkString(", ")}")
    assert(!text.contains("\"\"\"") && !"""\bSELECT\b""".r.findFirstIn(text).isDefined,
      "oracle SQL belongs on its QueryDef in a graft.queries module")
  }

  test("every registered query is one QueryDef in one graft.queries module") {
    val files = java.nio.file.Files.walk(main)
    val decls =
      try files.iterator().asScala.filter(_.toString.endsWith(".scala"))
        .flatMap { p =>
          """QueryDef\("(\w+)"""".r.findAllMatchIn(read(p))
            .map(m => m.group(1) -> main.relativize(p).toString) }
        .toSeq
      finally files.close()
    val outside = decls.filterNot(_._2.startsWith("queries/"))
    assert(outside.isEmpty, s"QueryDefs outside graft.queries: $outside")
    // a name declared twice is refused when the registry is assembled
    assert(decls.size == SparkEntry.queries.size)
    assert(decls.map(_._1).toSet == SparkEntry.queries.keySet)
  }
}
