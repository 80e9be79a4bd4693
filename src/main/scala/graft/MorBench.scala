package graft

import org.apache.spark.sql.functions._
import graft.sources.VersionedStore

/** Merge-on-read DELETE VECTOR read-amplification operating point
  * (VERDICT r13 #5): what a vectored snapshot read costs versus a
  * clean scan, how the cost moves with the accumulated dead fraction,
  * and that reorgVectored restores clean-scan parity.
  *
  * Shape mirrors the PLANS.md worst case: 4M rows x 64 files, deletes
  * SCATTERED over every file (each residue class hits all files), so
  * the vector side of the anti-join names the whole file set — the
  * most read-amplifying regime the format allows. One JSON line:
  *
  *   {"metric":"mor_read_amp","rows":…,"files":…,
  *    "clean_sec":…, "clean_med":…, "points":[{"dead_pct":…,
  *    "sidecar_bytes":…, "read_sec":…, "read_med":…, "amp":…}, …],
  *    "reorg_min_dead_ratio":…, "reorg_sec":…, "post_reorg_sec":…,
  *    "post_reorg_med":…, "post_reorg_amp":…, "post_reorg_vectors":…}
  *
  * Each read point is 5 full scans to a noop sink (no count()
  * shortcuts), after one untimed warm-up scan before the first:
  * `*_sec` is their min, `*_med` their median, and
  * `amp` = read_sec / clean_sec. Committed as BENCH_MOR.json. */
object MorBench {

  private def fmt(v: Double): String = f"$v%.3f"

  def main(args: Array[String]): Unit = {
    val rows = sys.env.get("SPARK_GRAFT_MOR_ROWS").flatMap(_.toLongOption)
      .getOrElse(4000000L)
    val files = 64
    val spark = GraftSession.local()

    val tmp = java.nio.file.Files.createTempDirectory("graft-morbench")
      .toFile
    val path = tmp.getAbsolutePath

    // payload wide enough that scan cost is real (id + 3 derived cols)
    val df = spark.range(0, rows)
      .select(col("id"),
        xxhash64(col("id")).as("h"),
        (col("id") % 97).cast("long").as("grp"),
        concat(lit("w"), (col("id") % 100000).cast("string")).as("tag"))
      .repartition(files)
    VersionedStore.append(df, path) // v1

    def scan(): Unit = VersionedStore.read(spark, path)
      .write.format("noop").mode("overwrite").save()
    /** (min, median) of 5 timed full scans. */
    def readSec(): (Double, Double) = {
      val ts = (1 to 5).map { _ =>
        val t0 = System.nanoTime()
        scan()
        (System.nanoTime() - t0) / 1e9
      }.sorted
      (ts.head, ts(ts.size / 2))
    }
    def sidecarBytes(): Long =
      VersionedStore.deleteVectorsAsOf(path,
        VersionedStore.currentVersion(path))
        .map(d => new java.io.File(path, d).length()).sum

    // one untimed scan first: the clean point is the JVM's first read,
    // and its first-touch (JIT, codegen, file cache) cost would
    // inflate the baseline every amp divides by
    scan()
    val (clean, cleanMed) = readSec()

    // cumulative scattered deletes: residue classes touch EVERY file.
    // Steps land at ~0.1%, ~1.1%, ~6.1% cumulative dead fraction.
    val steps = Seq(
      ("0.1", col("id") % 1000 === 0),
      ("1.1", col("id") % 100 === 1),
      ("6.1", col("id") % 20 === 2))
    val points = steps.map { case (label, pred) =>
      VersionedStore.deleteVectored(spark, path, pred)
      val (sec, med) = readSec()
      s"""{"dead_pct":$label,"sidecar_bytes":${sidecarBytes()},""" +
        s""""read_sec":${fmt(sec)},"read_med":${fmt(med)},""" +
        s""""amp":${fmt(sec / clean)}}"""
    }

    // reorg at the default operating threshold: fold files whose dead
    // fraction >= 5% — after the 6.1% cumulative deletes that is every
    // file, so the fold drops ALL vectors and the read plan returns to
    // the bare scan (parity is structural, not luck)
    val minDeadRatio = 0.05
    val t0 = System.nanoTime()
    VersionedStore.reorgVectored(spark, path, minDeadRatio)
    val reorgSec = (System.nanoTime() - t0) / 1e9
    val postVectors = VersionedStore.deleteVectorsAsOf(path,
      VersionedStore.currentVersion(path)).size
    val (post, postMed) = readSec()

    val line =
      s"""{"metric":"mor_read_amp","rows":$rows,"files":$files,""" +
        s""""clean_sec":${fmt(clean)},"clean_med":${fmt(cleanMed)},""" +
        s""""points":[${points.mkString(",")}],""" +
        s""""reorg_min_dead_ratio":$minDeadRatio,"reorg_sec":${fmt(reorgSec)},""" +
        s""""post_reorg_sec":${fmt(post)},"post_reorg_med":${fmt(postMed)},""" +
        s""""post_reorg_amp":${fmt(post / clean)},""" +
        s""""post_reorg_vectors":$postVectors}"""
    println(line)

    spark.stop()
    graft.model.Views.rmTree(tmp.toPath)
  }
}
