package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Partitioned parquet store — the engine's table layout.
  *
  * Reference: every fact table is `PARTITION BY toYYYYMM(ts)` with an
  * ORDER BY key (001_create_tables.sql:44). The Spark analogue:
  * parquet partitioned by a derived year-month column, rows sorted
  * within files by the order key so min/max page stats give the same
  * skipping ClickHouse gets from its primary index. Readers filtering
  * on ym get partition pruning for free.
  */
object PartitionedStore {

  /** Write `df` partitioned by month(tsCol), sorted in-file by
    * `orderCols` (ClickHouse ORDER BY analogue). */
  def writeMonthly(df: DataFrame, tsCol: String, path: String,
                   orderCols: Seq[String]): Unit =
    df.withColumn("ym", date_format(col(tsCol), "yyyyMM"))
      .repartition(col("ym"))
      .sortWithinPartitions(("ym" +: orderCols).map(col): _*)
      .write.partitionBy("ym").mode(SaveMode.Overwrite).parquet(path)

  def read(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** Month-range scan — prunes partitions via the ym directory column
    * (verify with .inputFiles or the explain PartitionFilters). */
  def readMonths(spark: SparkSession, path: String, fromYm: String,
                 toYm: String): DataFrame =
    read(spark, path).filter(col("ym") >= fromYm && col("ym") <= toYm)

  /** Compact a month partition's small files into ~`targetFileBytes`
    * outputs, preserving the in-file ORDER BY — the explicit analogue
    * of a ClickHouse background part merge. Streaming/incremental
    * ingest produces one small file per micro-batch/backfill slice; at
    * 100 TB unmerged small files dominate scan cost (footer reads,
    * scheduler overhead), so compaction is part of the table contract.
    * Rewrites only the named partition (atomic per-partition swap via
    * overwrite of its directory). */
  def compactMonth(spark: SparkSession, path: String, ym: String,
                   orderCols: Seq[String],
                   targetFileBytes: Long = 128L << 20): Unit = {
    val src = s"$path/ym=$ym"
    val tmp = s"$path/.compact-$ym"
    restoreAside(src, s"$path/.old-$ym")
    val part = spark.read.parquet(src)
    val bytes = part.inputFiles.map(f =>
      new java.io.File(new java.net.URI(f)).length()).sum
    val nOut = math.max(1, math.ceil(bytes.toDouble / targetFileBytes).toInt)
    // write the compacted copy aside, then swap directories — never
    // overwrite the files the job is still reading
    part.repartition(nOut)
      .sortWithinPartitions(orderCols.map(col): _*)
      .write.mode(SaveMode.Overwrite).parquet(tmp)
    swapDir(src, tmp, s"$path/.old-$ym")
  }

  /** Crash-safe directory replacement: move the live dir ASIDE first
    * (one rename), move tmp into place (one rename), only then delete
    * the old copy. A crash between the renames leaves either the old
    * or the new data fully intact under `aside` / `live`; the live
    * directory is never a recursive-delete hole, and a failed swap
    * restores the original. A missing live dir (first write) degrades
    * to a plain rename. */
  /** Recover from a crash that landed between [[swapDir]]'s two
    * renames: the live dir is gone and the aside dir holds the only
    * copy. Callers run this before reading a swap-maintained dir —
    * a fresh swap would otherwise start by deleting the aside. */
  def restoreAside(live: String, aside: String): Unit = {
    val liveDir = new java.io.File(live)
    val asideDir = new java.io.File(aside)
    if (!liveDir.exists() && asideDir.exists()) {
      asideDir.renameTo(liveDir): Unit
    }
  }

  def swapDir(live: String, tmp: String, aside: String): Unit = {
    val liveDir = new java.io.File(live)
    val tmpDir = new java.io.File(tmp)
    val asideDir = new java.io.File(aside)
    graft.model.Views.rmTree(asideDir.toPath)
    val hadLive = liveDir.exists()
    if (hadLive && !liveDir.renameTo(asideDir))
      throw new java.io.IOException(s"swap: cannot move $live aside")
    if (!tmpDir.renameTo(liveDir)) {
      // restore the original before failing
      if (hadLive) asideDir.renameTo(liveDir)
      graft.model.Views.rmTree(tmpDir.toPath)
      throw new java.io.IOException(s"swap failed for $live")
    }
    graft.model.Views.rmTree(asideDir.toPath)
  }

  /** Z-order-clustered write: range-partition + sort by the morton
    * interleave of two hot filter keys, so parquet min/max stats
    * prune row groups for predicates on EITHER key (a single-key sort
    * only skips on that key — see [[graft.functions.ZOrder]]). `files`
    * controls layout granularity: skipping resolution is one file
    * (≈ one row group) here, so more files = finer pruning. */
  def writeZOrdered(df: DataFrame, path: String, keyA: String,
                    keyB: String, files: Int): Unit = {
    val z = graft.functions.ZOrder.z_order(col(keyA), col(keyB))
    df.withColumn("_z", z)
      .repartitionByRange(files, col("_z"))
      .sortWithinPartitions(col("_z"))
      .drop("_z")
      .write.mode(SaveMode.Overwrite).parquet(path)
  }

  /** File counts per partition — the compaction trigger metric. */
  def partitionFileStats(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    read(spark, path).inputFiles
      .flatMap { f =>
        "ym=([0-9]{6})".r.findFirstMatchIn(f).map(m =>
          (m.group(1), new java.io.File(new java.net.URI(f)).length()))
      }.toSeq.toDF("ym", "bytes")
      .groupBy(col("ym"))
      .agg(count(lit(1)).as("files"), sum(col("bytes")).as("bytes"))
  }
}
