package graft

import graft.model.Tables
import graft.operators.{Candles, Leaderboard, Snapshots}
import graft.streaming.SnapshotWriter
import org.apache.spark.sql.functions._

class SnapshotWriterSpec extends SparkSpec {

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[Seq[Any]] =
    df.orderBy(col("wallet"), col("day"))
      .select(col("wallet"), col("day"), col("realized_pnl"),
        col("unrealized_pnl"), col("open_value"), col("token_count"),
        col("total_pnl"))
      .collect().toSeq.map(_.toSeq)

  test("incremental snapshot table equals batch pnlSnapshots after every batch") {
    val wt = Leaderboard.walletTrades(Tables.trades(spark, sf))
    val lastPrice = Candles.lastPrice(Tables.trades(spark, sf),
      col("token_id"), col("ts"), col("trade_id"), col("price"))
    val dir = tempDir("graft-snapw").toString
    val flowsDir = s"$dir/flows"
    val snapsDir = s"$dir/snaps"
    // flow partials are additive day-aggregates, so batch order is
    // free — split by wallet so batch 2 leaves 90% of wallets clean
    // (the dirty-selectivity the writer exists for)
    val b1 = wt.filter(col("wallet") % 10 =!= 0)
    val b2 = wt.filter(col("wallet") % 10 === 0)

    SnapshotWriter.processBatch(spark, b1, flowsDir, snapsDir, lastPrice, 0L)
    assert(rows(spark.read.parquet(snapsDir)) ==
      rows(Snapshots.pnlSnapshots(b1, lastPrice)),
      "after batch 1: incremental != batch over the prefix")

    SnapshotWriter.processBatch(spark, b2, flowsDir, snapsDir, lastPrice, 1L)
    assert(rows(spark.read.parquet(snapsDir)) ==
      rows(Snapshots.pnlSnapshots(wt, lastPrice)),
      "after batch 2: incremental != batch over full history")

    // foreachBatch is at-least-once: a crash-retry re-delivers the same
    // batch id. Replaying batch 2 must overwrite its own flow partition
    // (not append a duplicate) and leave the table unchanged.
    SnapshotWriter.processBatch(spark, b2, flowsDir, snapsDir, lastPrice, 1L)
    assert(rows(spark.read.parquet(snapsDir)) ==
      rows(Snapshots.pnlSnapshots(wt, lastPrice)),
      "replayed batch must be idempotent")

    // only dirty wallets were recomputed in batch 2 — wallets that
    // traded exclusively before the cut must still be present
    val onlyEarly = b1.select(col("wallet")).distinct()
      .join(b2.select(col("wallet")).distinct(), Seq("wallet"), "left_anti")
      .count()
    assert(onlyEarly > 0, "test construction: some wallets must be clean in batch 2")
  }

  test("foreachBatch wiring maintains the table from a file stream") {
    val wt = Leaderboard.walletTrades(Tables.trades(spark, sf))
      .select(col("wallet"), col("ts"), col("trade_id"), col("token_id"),
        col("side"), col("qty"), col("usd"))
    val lastPrice = Candles.lastPrice(Tables.trades(spark, sf),
      col("token_id"), col("ts"), col("trade_id"), col("price"))
    val dir = tempDir("graft-snapw2").toString
    new java.io.File(s"$dir/in").mkdirs()
    wt.coalesce(2).write.parquet(s"$dir/src")

    val stream = spark.readStream.schema(wt.schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$dir/in")
    val q = SnapshotWriter.run(spark, stream, s"$dir/flows", s"$dir/snaps",
      lastPrice, s"$dir/ckpt")
    new java.io.File(s"$dir/src").listFiles()
      .filter(_.getName.endsWith(".parquet")).foreach { f =>
        java.nio.file.Files.copy(f.toPath,
          java.nio.file.Paths.get(s"$dir/in/${f.getName}"))
      }
    q.processAllAvailable()
    q.stop()

    assert(rows(spark.read.parquet(s"$dir/snaps")) ==
      rows(Snapshots.pnlSnapshots(wt, lastPrice)))
  }
}
