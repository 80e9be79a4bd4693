package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Wallet leaderboards + the two-sided participant view.
  *
  * Reference: `wallet_trades` union view (001_create_tables.sql:352),
  * leaderboard aggregates (002_leaderboard_aggregates.sql) and the
  * `/leaderboard` + `/leaderboard/explain` endpoints
  * (src/api.ts:318-640, 1034-1120).
  *
  * Spark-first: instead of a UNION ALL that scans trades twice (the
  * reference's view) we `explode` a 2-element array of participant
  * structs — one scan, and the following groupBy partial-aggregates
  * map-side, so the shuffle carries one partial row per wallet per
  * task (ClickHouse's `sumState` pattern).
  */
object Leaderboard {

  /** Each trade seen from both wallets' perspectives:
    * (trade_id, ts, token_id, qty, usd, wallet, role, side). */
  def walletTrades(trades: DataFrame): DataFrame =
    trades.select(
        col("trade_id"), col("ts"), col("token_id"), col("qty"), col("usd"),
        col("fee"),
        explode(array(
          struct(col("maker").as("wallet"), lit("maker").as("role"),
            when(col("is_maker_buy"), "buy").otherwise("sell").as("side")),
          struct(col("taker").as("wallet"), lit("taker").as("role"),
            when(col("is_taker_buy"), "buy").otherwise("sell").as("side"))
        )).as("p"))
      .select(col("trade_id"), col("ts"), col("token_id"), col("qty"),
        col("usd"), col("fee"), col("p.wallet"), col("p.role"), col("p.side"))

  /** Operator wallets excluded from rankings (reference:
    * LEADERBOARD_EXCLUDED_WALLETS in src/api.ts). */
  val ExcludedWallets: Seq[Long] = Seq(1000001L, 1000002L)

  /** All-time leaderboard: trades, volume, net cashflow (sells − buys),
    * distinct markets; operator wallets excluded, minimum activity
    * threshold (reference: HAVING totalTrades >= 5), top-k by net
    * cashflow. */
  def leaderboard(walletTrades: DataFrame, k: Int, minTrades: Int = 5): DataFrame = {
    val base = walletTrades.filter(!col("wallet").isin(ExcludedWallets: _*))
    val sums = base
      .groupBy(col("wallet"))
      .agg(
        count(lit(1)).as("trades"),
        sum(col("usd")).cast("double").as("volume_usd"),
        sum(when(col("side") === "sell", col("usd")).otherwise(-col("usd")))
          .cast("double").as("net_cashflow_usd"))
    // distinct (wallet, token) pairs re-counted per wallet: the same
    // result as countDistinct but without the Expand phase doubling
    // every input row through the aggregate (see PLANS.md r3)
    val markets = base.select(col("wallet"), col("token_id")).distinct()
      .groupBy(col("wallet")).agg(count(lit(1)).as("markets"))
    sums.join(markets, Seq("wallet"))
      .filter(col("trades") >= minTrades)
      .orderBy(col("net_cashflow_usd").desc, col("wallet"))
      .limit(k)
  }

  /** Leaderboard from pre-aggregated per-bucket partials — the
    * AggregatingMergeTree merge path (reference:
    * wallet_leaderboard_stats_1h + countMerge/sumMerge/uniqExactMerge,
    * 002_leaderboard_aggregates.sql). Counts and sums compose
    * additively from the rollup; the exact distinct-market count
    * comes from distinct (wallet, token) pairs re-counted per wallet —
    * the pair groupBy spreads a whale wallet's rows across reducers by
    * (wallet, token) hash and the per-wallet count is a partial-agg
    * sum, so no per-wallet token *set* ever rides a shuffle and no
    * single reducer owns a hot wallet ([[Skew.saltedDistinctCount]] is
    * the same guarantee for value domains too large to pair-group;
    * `approx_count_distinct` is the sketch alternative, shown in
    * q_leaderboard_approx). */
  /** The rollup MV state itself (reference: wallet_leaderboard_stats_1h,
    * 002:6-38 — countState/sumState/uniqExactState per (wallet, hour)):
    * one partial row per (wallet, bucket, token) carrying count/volume/
    * cashflow partials, the money ones as the exact 1e-4-scaled BIGINT
    * of their DECIMAL(18,4) sums. The token key is the relational
    * encoding of uniqExactState's member set. Built once at ingest
    * (session-cache via graft.model.Views.cached); every leaderboard
    * re-aggregates these partials instead of the raw trades. */
  def rollupState(walletTrades: DataFrame, bucket: String): DataFrame = {
    val ui = round(col("usd") * 10000).cast("long")
    walletTrades
      .groupBy(col("wallet"), date_trunc(bucket, col("ts")).as("bucket"),
        col("token_id"))
      .agg(count(lit(1)).as("t"), sum(ui).as("v_i"),
        sum(when(col("side") === "sell", ui).otherwise(-ui)).as("c_i"))
  }

  /** Leaderboard from the materialized [[rollupState]] partials — the
    * countMerge/sumMerge/uniqExactMerge read path: per-wallet sums plus
    * an exact distinct-market count from the (wallet, token) partial
    * pairs (no Expand, no set shipping). */
  def leaderboardFromState(state: DataFrame, k: Int,
                           minTrades: Int = 5): DataFrame = {
    val base = state.filter(!col("wallet").isin(ExcludedWallets: _*))
    // one pass: collapse the per-bucket partials to (wallet, token)
    // grain first — the markets count is then a row count riding the
    // SAME aggregation chain instead of a second full scan + distinct
    val perTok = base.groupBy(col("wallet"), col("token_id"))
      .agg(sum(col("t")).as("t"), sum(col("v_i")).as("v_i"),
        sum(col("c_i")).as("c_i"))
    perTok.groupBy(col("wallet"))
      .agg(sum(col("t")).as("trades"),
        (sum(col("v_i")) / 10000.0).as("volume_usd"),
        (sum(col("c_i")) / 10000.0).as("net_cashflow_usd"),
        count(lit(1)).as("markets"))
      .select(col("wallet"), col("trades"), col("volume_usd"),
        col("net_cashflow_usd"), col("markets"))
      .filter(col("trades") >= minTrades)
      .orderBy(col("net_cashflow_usd").desc, col("wallet"))
      .limit(k)
  }

  /** [[leaderboard]] re-aggregated from [[walletTokenFlows]] partials —
    * identical output (FlowsRollupSpec pins row-identity), but ONE
    * aggregation over the (wallet, token) rollup instead of two full
    * passes over the raw explode: trades/volume/cashflow are sums of
    * the exact partials (usd rides 1e-4-scaled longs; `l/10000.0` and
    * `CAST(decimal AS DOUBLE)` are both the correctly-rounded double
    * of the same exact rational, so the doubles are bit-identical),
    * and the distinct-market count is simply the per-wallet row count
    * — the rollup's grain IS the distinct (wallet, token) pair set. */
  def leaderboardFromFlows(flows: DataFrame, k: Int,
                           minTrades: Int = 5): DataFrame =
    flows.filter(!col("wallet").isin(ExcludedWallets: _*))
      .groupBy(col("wallet"))
      .agg(sum(col("trades")).as("trades"),
        ((sum(col("bi")) + sum(col("si"))) / 10000.0).as("volume_usd"),
        ((sum(col("si")) - sum(col("bi"))) / 10000.0).as("net_cashflow_usd"),
        count(lit(1)).as("markets"))
      .select(col("wallet"), col("trades"), col("volume_usd"),
        col("net_cashflow_usd"), col("markets"))
      .filter(col("trades") >= minTrades)
      .orderBy(col("net_cashflow_usd").desc, col("wallet"))
      .limit(k)

  /** [[topPerMarket]] re-aggregated from [[walletTokenFlows]]: the
    * (market, wallet) volume/trades sums fold from the rollup's exact
    * partials; only rollup-sized rows ever shuffle. */
  def topPerMarketFromFlows(flows: DataFrame, markets: DataFrame,
                            n: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val vol = flows
      .filter(!col("wallet").isin(ExcludedWallets: _*))
      .join(broadcast(markets), Seq("token_id"))
      .groupBy(col("market"), col("wallet"))
      .agg(((sum(col("bi")) + sum(col("si"))) / 10000.0).as("volume_usd"),
        sum(col("trades")).as("trades"))
    val w = Window.partitionBy(col("market"))
      .orderBy(col("volume_usd").desc, col("wallet"))
    vol.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= n)
      .select(col("market"), col("rank"), col("wallet"),
        col("volume_usd"), col("trades"))
  }

  /** Leaderboard restricted to a time window, computed from hourly
    * pre-buckets (reference: wallet_leaderboard_stats_1h, 002:6-38). */
  def leaderboardWindow(walletTrades: DataFrame, fromTs: String, toTs: String,
                        k: Int): DataFrame =
    leaderboard(
      walletTrades.filter(col("ts") >= lit(fromTs) && col("ts") < lit(toTs)), k)

  /** Rank-comparison audit of two leaderboards (reference:
    * leaderboard-audit-agent.ts — overlap ratio and rank deltas
    * between the internal ranking and an external one): the two ranked
    * lists are full-outer-joined on wallet; `rank_delta` is null when
    * a wallet appears in only one list. Ranks are assigned over the
    * already-top-k inputs, so the single-partition window is bounded
    * by k, not by the corpus. */
  def audit(lbA: DataFrame, lbB: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.orderBy(col("net_cashflow_usd").desc, col("wallet"))
    val a = lbA.select(col("wallet"), row_number().over(w).cast("long").as("rank_a"))
    val b = lbB.select(col("wallet"), row_number().over(w).cast("long").as("rank_b"))
    a.join(b, Seq("wallet"), "full_outer")
      .select(col("wallet"), col("rank_a"), col("rank_b"),
        (col("rank_a") - col("rank_b")).as("rank_delta"),
        (col("rank_a").isNotNull && col("rank_b").isNotNull).as("in_both"))
  }

  /** Top-n wallets per market by volume (the per-market leaderboard
    * shape of the /leaderboard?market= path): one volume groupBy over
    * the corpus, then a row_number window partitioned by market over
    * the already-aggregated (market, wallet) rows — the window input
    * is aggregate-sized, never raw trades. */
  def topPerMarket(walletTrades: DataFrame, markets: DataFrame,
                   n: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val vol = walletTrades
      .filter(!col("wallet").isin(ExcludedWallets: _*))
      .join(broadcast(markets), Seq("token_id"))
      .groupBy(col("market"), col("wallet"))
      .agg(sum(col("usd")).cast("double").as("volume_usd"),
        count(lit(1)).as("trades"))
    val w = Window.partitionBy(col("market"))
      .orderBy(col("volume_usd").desc, col("wallet"))
    vol.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= n)
      .select(col("market"), col("rank"), col("wallet"),
        col("volume_usd"), col("trades"))
  }

  /** One-pass [[audit]] of the all-time leaderboard against a
    * time-window leaderboard: both metric sets are conditional
    * aggregates of a single wallet groupBy, so the corpus is scanned
    * and shuffled once (AQE reuses the exchange for the two top-k
    * slices) instead of running two independent leaderboards. Produces
    * exactly `audit(leaderboard(wt, k), leaderboardWindow(wt, from,
    * to, k))`. */
  def auditOnePass(walletTrades: DataFrame, fromTs: String, toTs: String,
                   k: Int, minTrades: Int = 5): DataFrame = {
    val inWin = col("ts") >= lit(fromTs) && col("ts") < lit(toTs)
    val signed = when(col("side") === "sell", col("usd")).otherwise(-col("usd"))
    val g = walletTrades.filter(!col("wallet").isin(ExcludedWallets: _*))
      .groupBy(col("wallet"))
      .agg(
        count(lit(1)).as("trades_a"),
        sum(signed).cast("double").as("net_a"),
        sum(when(inWin, 1L).otherwise(0L)).as("trades_b"),
        sum(when(inWin, signed).otherwise(lit(0).cast("decimal(18,4)")))
          .cast("double").as("net_b"))
    val lbA = g.filter(col("trades_a") >= minTrades)
      .orderBy(col("net_a").desc, col("wallet")).limit(k)
      .select(col("wallet"), col("net_a").as("net_cashflow_usd"))
    val lbB = g.filter(col("trades_b") >= minTrades)
      .orderBy(col("net_b").desc, col("wallet")).limit(k)
      .select(col("wallet"), col("net_b").as("net_cashflow_usd"))
    audit(lbA, lbB)
  }

  /** (wallet, token_id) flow partials — the SummingMergeTree-style
    * rollup the reference maintains at ingest; the leaderboard explain
    * breakdown (`q_lb_explain`, served through `RollupRewrite`) and the
    * win/loss record re-aggregate THIS (one cached ~halved frame)
    * instead of re-shuffling the two-sided explode per query.
    * All sums are exact: qty values are integral (double sums of
    * integers commute), usd rides 1e-4-scaled longs. */
  def walletTokenFlows(walletTrades: DataFrame): DataFrame = {
    val ui = round(col("usd") * 10000).cast("long")
    walletTrades.groupBy(col("wallet"), col("token_id"))
      .agg(count(lit(1)).as("trades"),
        sum(when(col("side") === "buy", col("qty")).otherwise(lit(0.0)))
          .as("buy_qty"),
        sum(when(col("side") === "sell", col("qty")).otherwise(lit(0.0)))
          .as("sell_qty"),
        sum(when(col("side") === "buy", ui).otherwise(0L)).as("bi"),
        sum(when(col("side") === "sell", ui).otherwise(0L)).as("si"),
        // side-blind qty partials (r15): the sumMap/maxMap report
        // re-aggregates THESE via the rollup rewrite instead of
        // re-shuffling the explode (qty values are integral, so the
        // double sums are exact)
        sum(col("qty")).as("tq"),
        max(col("qty")).as("mxq"))
  }
}
