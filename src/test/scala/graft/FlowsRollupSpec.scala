package graft

import graft.model.Tables
import graft.operators.{Balances, Candles, Leaderboard, Positions}
import org.apache.spark.sql.functions._

/** The (wallet, token_id) flow-partials rollup (r14): the rewritten
  * consumers must be ROW-IDENTICAL to the direct operators they
  * replaced — the equivalences the driver oracles verify at sf0.01
  * are pinned here at unit scale too, so a rollup schema drift fails
  * fast in the suite. */
class FlowsRollupSpec extends SparkSpec {

  private lazy val trades = Tables.trades(spark, sf).cache()
  private lazy val wt = Leaderboard.walletTrades(trades)
  private lazy val flows = Leaderboard.walletTokenFlows(wt).cache()

  // ---- r19 optimization equivalences: every query body that was
  // re-pointed at the flows / daily-state rollups must stay ROW-
  // IDENTICAL to the direct operator it replaced (the driver oracle
  // proves the same at sf0.01; this pins it at unit scale so a rollup
  // schema drift fails fast in the suite) -------------------------

  private def rowSet(df: org.apache.spark.sql.DataFrame): Set[String] =
    df.collect().map(_.toString).toSet

  test("leaderboardFromFlows == leaderboard row-for-row") {
    val direct = rowSet(Leaderboard.leaderboard(wt, 100))
    val served = rowSet(Leaderboard.leaderboardFromFlows(flows, 100))
    assert(direct == served); assert(direct.nonEmpty)
  }

  test("topPerMarketFromFlows == topPerMarket row-for-row") {
    val markets = Tables.part(spark, sf).select(
      col("p_partkey").cast("long").as("token_id"),
      col("p_brand").as("market"))
    val direct = rowSet(Leaderboard.topPerMarket(wt, markets, 3))
    val served = rowSet(Leaderboard.topPerMarketFromFlows(flows, markets, 3))
    assert(direct == served); assert(direct.nonEmpty)
  }

  test("marketStatsFromFlows == marketStats row-for-row") {
    val markets = Tables.part(spark, sf).select(
      col("p_partkey").cast("long").as("token_id"),
      col("p_brand").as("market"))
    val bal = Balances.balances(Tables.transfersFrom(trades))
    val direct = rowSet(graft.operators.Stats.marketStats(wt, bal, markets))
    val served = rowSet(
      graft.operators.Stats.marketStatsFromFlows(flows, bal, markets))
    assert(direct == served); assert(direct.nonEmpty)
  }

  test("marketConcentrationFromFlows == marketConcentration row-for-row " +
    "(shares bit-identical, floored hhi summands unchanged)") {
    val markets = Tables.part(spark, sf).select(
      col("p_partkey").cast("long").as("token_id"),
      col("p_brand").as("market"))
    val direct = rowSet(graft.operators.Stats.marketConcentration(wt, markets))
    val served = rowSet(
      graft.operators.Stats.marketConcentrationFromFlows(flows, markets))
    assert(direct == served); assert(direct.nonEmpty)
  }

  test("userStatsFromFlows == userStats row-for-row") {
    val direct = rowSet(graft.operators.Stats.userStats(wt))
    val served = rowSet(graft.operators.Stats.userStatsFromFlows(wt, flows))
    assert(direct == served); assert(direct.nonEmpty)
  }

  test("totalPnlFromFlows == totalPnl row-for-row") {
    val bal = Balances.balances(Tables.transfersFrom(trades))
    val lp = Candles.lastPrice(trades, col("token_id"), col("ts"),
      col("trade_id"), col("price"))
    val direct = rowSet(graft.operators.Snapshots.totalPnl(wt, bal, lp))
    val served = rowSet(
      graft.operators.Snapshots.totalPnlFromFlows(flows, bal, lp))
    assert(direct == served); assert(direct.nonEmpty)
  }

  test("pnlDeltaFromDaily == pnlDelta row-for-row (day-aligned cuts)") {
    val daily = graft.operators.Snapshots.dailyFlowPartials(wt)
    val direct = rowSet(
      graft.operators.Snapshots.pnlDelta(wt, "1997-01-01", "1999-01-01"))
    val served = rowSet(graft.operators.Snapshots.pnlDeltaFromDaily(
      daily, "1997-01-01", "1999-01-01"))
    assert(direct == served); assert(direct.nonEmpty)
  }

  test("weight-2 histogram over trades == histogram over the explode " +
    "(each fill contributes two identical-usd rows)") {
    val markets = Tables.part(spark, sf).select(
      col("p_partkey").cast("long").as("token_id"),
      col("p_brand").as("market"))
    val direct = rowSet(graft.operators.Stats.histogram(
      wt.join(broadcast(markets), Seq("token_id")), "market", col("usd"), 10))
    val served = rowSet(graft.operators.Stats.histogram(
      trades.join(broadcast(markets), Seq("token_id")), "market", col("usd"),
      10, weight = lit(2L)))
    assert(direct == served); assert(direct.nonEmpty)
  }

  test("positionsFromFlows == positions row-for-row (incl. the " +
    "no-buys left-join null, never 0/0)") {
    val bal = Balances.balances(Tables.transfersFrom(trades))
    val lp = Candles.lastPrice(trades, col("token_id"), col("ts"),
      col("trade_id"), col("price"))
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1),
        Option(r.get(3)).map(_.toString).getOrElse("null"),
        Option(r.get(6)).map(_.toString).getOrElse("null"))).toSet
    val direct = rows(Positions.positions(bal, wt, lp))
    val rollup = rows(Positions.positionsFromFlows(bal, flows, lp))
    assert(direct == rollup)
    assert(direct.nonEmpty)
  }
}
