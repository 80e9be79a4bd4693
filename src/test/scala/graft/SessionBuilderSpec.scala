package graft

import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Every main builds its session through GraftSession: a
  * `SparkSession.builder()` anywhere else under src/main/scala is a
  * main growing its own master, CPU default or timezone again. No
  * Spark session needed: a plain source scan. */
class SessionBuilderSpec extends AnyFunSuite {

  test("SparkSession.builder() appears only in GraftSession.scala") {
    val root = java.nio.file.Paths.get("src/main/scala")
    val files = java.nio.file.Files.walk(root)
    val offenders =
      try files.iterator().asScala
        .filter(p => p.toString.endsWith(".scala"))
        .filterNot(_.getFileName.toString == "GraftSession.scala")
        .filter(p => java.nio.file.Files.readString(p)
          .contains("SparkSession.builder()"))
        .map(root.relativize(_).toString).toSeq.sorted
      finally files.close()
    assert(offenders.isEmpty, "build the session with GraftSession.local " +
      s"instead of SparkSession.builder() in: ${offenders.mkString(", ")}")
  }

  // spark.sql.codegen.cache.maxEntries is static: it must be on the
  // builder, before the first session exists. Read back from the
  // builders' own option maps (the shared test session already exists,
  // so building one here would not apply a static conf).
  test("both session builders size the codegen cache") {
    val options = Class.forName("org.apache.spark.sql.SparkSessionBuilder")
      .getMethod("options")
    for (b <- Seq(GraftSession.builder(), GraftSession.localBuilder(None))) {
      val opts = options.invoke(b).asInstanceOf[scala.collection.Map[String, String]]
      assert(opts.get("spark.sql.codegen.cache.maxEntries")
        .contains(GraftSession.CodegenCacheEntries.toString))
    }
    // at least the distinct classes one full-registry Bench pass compiles
    assert(GraftSession.CodegenCacheEntries >= 2897)
  }
}
