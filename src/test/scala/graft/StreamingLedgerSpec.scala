package graft

import graft.model.Tables
import graft.operators.{Ledger, Leaderboard}
import graft.operators.Ledger.Fill
import graft.streaming.StreamingLedger
import org.apache.spark.sql.functions._

class StreamingLedgerSpec extends SparkSpec {
  import spark.implicits._

  test("lastPrice state carries across micro-batches for fallback costing") {
    import java.sql.Timestamp
    def ts(i: Int) = Timestamp.valueOf(f"2024-01-$i%02d 00:00:00")
    // batch 1 sets lastPrice(30) = 0.70 via a full sell-out; batch 2's
    // conversion mints token 30 with ZERO burned basis, so its cost
    // falls back to that carried price — then sells to realize it
    val b1 = Seq(
      Fill(1, ts(1), 1, 30, isBuy = true, qty = 1, usd = 0.5),
      Fill(1, ts(2), 2, 30, isBuy = false, qty = 1, usd = 0.7))
    val b2 = Seq(
      Fill(1, ts(3), 3, 99, isBuy = false, qty = 0, usd = 0.0,
        kind = "convert", legTokens = Seq(99L), legQtys = Seq(2.0),
        legTokens2 = Seq(30L), legQtys2 = Seq(2.0)),
      Fill(1, ts(4), 4, 30, isBuy = false, qty = 2, usd = 2.0))
    val (r1, lots1, lp1) =
      Ledger.foldWalletStateful(b1.iterator, Map.empty, Map.empty)
    val (r2, _, _) = Ledger.foldWalletStateful(b2.iterator, lots1, lp1)
    val batch = Ledger.foldWallet((b1 ++ b2).iterator).toSeq
    assert((r1 ++ r2).map(r => (r.event_type, r.cost_basis, r.realized_pnl)) ==
      batch.map(r => (r.event_type, r.cost_basis, r.realized_pnl)))
    // and the fallback actually fired: final sell basis = 2 × 0.70
    assert(math.abs(r2.last.cost_basis - 1.4) < 1e-9)
  }

  test("tied (ts, seq) fills fold in the batch engine's value order, " +
       "not micro-batch arrival order") {
    import java.sql.Timestamp
    val t = Timestamp.valueOf("2024-01-01 00:00:00")
    // four fills ALL tied on (ts, seq): two buys at different prices,
    // two sells — the value tie-break (isBuy desc, usd asc) is the
    // only thing that determines FIFO lot order and hence realized pnl
    val tied = Seq(
      Fill(1, t, 7, 30, isBuy = false, qty = 1, usd = 0.9),
      Fill(1, t, 7, 30, isBuy = true, qty = 1, usd = 0.2),
      Fill(1, t, 7, 30, isBuy = false, qty = 1, usd = 0.3),
      Fill(1, t, 7, 30, isBuy = true, qty = 1, usd = 0.6))
    val batchOrder = tied.sortBy(f => (f.ts.getTime, f.seq, !f.isBuy, f.usd))
    val expected = Ledger.foldWallet(batchOrder.iterator).toSeq
    // arrival order scrambled — updateWallet must re-sort by values
    val state = org.apache.spark.sql.streaming.TestGroupState
      .create[StreamingLedger.LotsState](
        org.apache.spark.api.java.Optional.empty[StreamingLedger.LotsState](),
        org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout,
        0L, org.apache.spark.api.java.Optional.empty[Long](), false)
    val got = StreamingLedger.updateWallet(1L, tied.iterator, state).toSeq
    assert(got.map(r => (r.event_type, r.cost_basis, r.realized_pnl)) ==
      expected.map(r => (r.event_type, r.cost_basis, r.realized_pnl)))
  }

  test("two-micro-batch streaming ledger equals one-shot batch ledger") {
    val wt = Leaderboard.walletTrades(Tables.trades(spark, sf))
    val fills = wt.select(col("wallet").cast("long").as("wallet"), col("ts"),
        col("trade_id").cast("long").as("seq"),
        col("token_id").cast("long").as("tokenId"),
        (col("side") === "buy").as("isBuy"),
        col("qty").cast("double").as("qty"),
        col("usd").cast("double").as("usd"),
        col("fee").cast("double").as("fee"),
        lit("").as("kind"),
        lit(0L).as("tokenId2"),
        lit(Array.empty[Long]).as("legTokens"),
        lit(Array.empty[Double]).as("legQtys"),
        lit(Array.empty[Long]).as("legTokens2"),
        lit(Array.empty[Double]).as("legQtys2"))
      .as[Fill]

    // split by time so batch 2 strictly follows batch 1
    val cut = "1998-01-01"
    val dir = tempDir("graft-sled").toString
    fills.filter(col("ts") < lit(cut)).write.parquet(s"$dir/b1")

    new java.io.File(s"$dir/in").mkdirs()
    val stream = spark.readStream.schema(fills.schema).parquet(s"$dir/in")
      .as[Fill]
    val q = StreamingLedger.track(spark, stream)
      .writeStream.format("memory").queryName("sled_out")
      .outputMode("append").start()

    def feed(sub: String): Unit = {
      val src = new java.io.File(s"$dir/$sub")
      src.listFiles().filter(_.getName.endsWith(".parquet")).foreach { f =>
        java.nio.file.Files.copy(f.toPath,
          java.nio.file.Paths.get(s"$dir/in/${sub}_${f.getName}"))
      }
      q.processAllAvailable()
    }
    feed("b1")
    fills.filter(col("ts") >= lit(cut)).write.parquet(s"$dir/b2")
    feed("b2")
    q.stop()

    val streamed = spark.table("sled_out")
    val batch = Ledger.build(spark, wt).toDF()
    assert(streamed.count() == batch.count())
    val s = streamed.agg(
      sum(col("realized_pnl").cast("decimal(18,6)")).cast("double"),
      sum(col("cost_basis").cast("decimal(18,6)")).cast("double")).head()
    val b = batch.agg(
      sum(col("realized_pnl").cast("decimal(18,6)")).cast("double"),
      sum(col("cost_basis").cast("decimal(18,6)")).cast("double")).head()
    assert(math.abs(s.getDouble(0) - b.getDouble(0)) < 1e-6)
    assert(math.abs(s.getDouble(1) - b.getDouble(1)) < 1e-6)
  }
}
