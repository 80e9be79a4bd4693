package graft

import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** The flat-or-hierarchical decision lives inside the versioned store:
  * every write and read entry point reads its table's manifest form
  * itself, so a caller testing `isFlatVersion` or parsing a manifest
  * list (`readMlist`) is a caller re-making the layout choice the
  * store owns. Only the store and its Catalyst file index may ask; the
  * stream source reads through the store's file-delta reader. No Spark
  * session needed: a plain source scan. */
class StoreLayoutSpec extends AnyFunSuite {

  test("isFlatVersion appears only in the versioned store's own files") {
    val owners = Set("VersionedStore.scala", "VersionedFileIndex.scala")
    val root = java.nio.file.Paths.get("src/main/scala")
    val files = java.nio.file.Files.walk(root)
    val offenders =
      try files.iterator().asScala
        .filter(p => p.toString.endsWith(".scala"))
        .filterNot(p => owners(p.getFileName.toString))
        .filter { p =>
          val text = java.nio.file.Files.readString(p)
          text.contains("isFlatVersion") || text.contains("readMlist")
        }
        .map(root.relativize(_).toString).toSeq.sorted
      finally files.close()
    assert(offenders.isEmpty, "call the VersionedStore entry point and " +
      "let it read the table's layout, instead of isFlatVersion or " +
      "readMlist in: " +
      offenders.mkString(", "))
  }
}
