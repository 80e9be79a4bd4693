package graft

import graft.sources.VersionedStore
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** The versioned store has one on-disk form: every table is a manifest
  * list (`.mlist`) over per-partition manifests (`.pmanifest`), with a
  * recorded schema per version; an unpartitioned table is a list whose
  * header names no partition column. The source scan keeps the removed
  * flat form (`isFlatVersion`, `.manifest` files) and its union-of-scans
  * reader out of `src/main`, and keeps manifest-list parsing
  * (`readMlist`) inside the store and its Catalyst file index; the
  * commit sequence checks what an unpartitioned table leaves on disk. */
class StoreLayoutSpec extends SparkSpec {

  test("src/main has one manifest form and keeps readMlist in the store") {
    val owners = Set("VersionedStore.scala", "VersionedFileIndex.scala")
    val root = java.nio.file.Paths.get("src/main/scala")
    val files = java.nio.file.Files.walk(root)
    val sources =
      try files.iterator().asScala
        .filter(p => p.toString.endsWith(".scala"))
        .map(p => root.relativize(p).toString -> java.nio.file.Files.readString(p))
        .toSeq.sortBy(_._1)
      finally files.close()
    val flat = sources.collect { case (name, text) if
      text.contains("isFlatVersion") || text.contains(".manifest") ||
        text.contains("readPartitionsAsOf") => name }
    assert(flat.isEmpty, "the flat manifest form or the union-of-scans " +
      "reader is back in: " + flat.mkString(", "))
    val parsers = sources.collect { case (name, text) if
      !owners(name.split('/').last) && text.contains("readMlist") => name }
    assert(parsers.isEmpty, "call the VersionedStore entry point and let " +
      "it read the table's layout, instead of readMlist in: " +
      parsers.mkString(", "))
  }

  test("unpartitioned commits write only .mlist, .pmanifest and .schema files") {
    import spark.implicits._
    val path = tempDir("vstore-layout").toString
    VersionedStore.append((1L to 40L).map(i => (i, s"n$i")).toDF("id", "name")
      .repartition(4), path)
    VersionedStore.deleteVectored(spark, path, col("id") % 7 === 0)
    VersionedStore.merge(spark, path,
      Seq((3L, "THREE"), (99L, "NEW")).toDF("id", "name"), Seq("id"))
    VersionedStore.compactSmall(spark, path, targetBytes = 1L << 20)
    VersionedStore.compact(spark, path, nFiles = 1)
    val v = VersionedStore.overwrite(Seq((7L, "seven")).toDF("id", "name"), path)
    assert(v == 6, "each of the six operations minted a version")
    assert(VersionedStore.history(path).map(_.form).distinct == Seq("flat"))
    assert(VersionedStore.read(spark, path).as[(Long, String)].collect()
      .toSeq == Seq((7L, "seven")))
    val names = new java.io.File(path, "manifests").list().toSeq.sorted
    val stray = names.filterNot(n => n.endsWith(".mlist") ||
      n.endsWith(".pmanifest") || n.endsWith(".schema"))
    assert(stray.isEmpty, s"manifests/ holds other files: $stray")
  }
}
