package graft

import graft.streaming.StatefulPositions
import graft.streaming.StatefulPositions.StreamFill
import graft.model.Tables
import graft.operators.Leaderboard
import org.apache.spark.sql.functions._

class StatefulSpec extends SparkSpec {
  import spark.implicits._

  test("stateful position stream matches batch balances and cashflow") {
    // stage the fills as parquet so a file stream can replay them
    val wt = Leaderboard.walletTrades(Tables.trades(spark, sf))
    val fills = wt.select(col("wallet").cast("long").as("wallet"),
      col("token_id").cast("long").as("tokenId"),
      (col("side") === "buy").as("isBuy"),
      col("qty").cast("double").as("qty"),
      col("usd").cast("double").as("usd"))
    val dir = tempDir("graft-fills").toString
    fills.write.mode("overwrite").parquet(dir)

    val stream = spark.readStream.schema(fills.schema).parquet(dir)
      .as[StreamFill]
    val q = StatefulPositions.track(spark, stream)
      .writeStream.format("memory").queryName("pos_out")
      .outputMode("update").start()
    q.processAllAvailable(); q.stop()

    // latest snapshot per wallet vs batch ground truth
    val got = spark.table("pos_out").groupBy("wallet")
      .agg(last("cash").as("cash"), last("total_qty").as("qty"))
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    val batch = wt.groupBy(col("wallet"))
      .agg(sum(when(col("side") === "sell", col("usd")).otherwise(-col("usd")))
          .cast("double").as("cash"),
        sum(when(col("side") === "buy", col("qty")).otherwise(-col("qty")))
          .cast("double").as("qty"))
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    assert(got.keySet == batch.keySet)
    got.foreach { case (w, (c, qty)) =>
      assert(math.abs(c - batch(w)._1) < 1e-4, s"cash wallet $w")
      assert(math.abs(qty - batch(w)._2) < 1e-6, s"qty wallet $w")
    }
  }
}
