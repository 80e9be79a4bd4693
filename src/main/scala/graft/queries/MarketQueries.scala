package graft
package queries

import org.apache.spark.sql.functions._
import graft.SparkEntry._
import graft.model.{Tables, Views}
import graft.operators._
import graft.queries.OracleFragments._

/** Market analytics: the reference API's trade, candle, price,
  * leaderboard, position and portfolio endpoints, plus the rollup-served
  * and join-strategy queries over the same trade stream. */
private[graft] object MarketQueries {
  val defs: Seq[QueryDef] = Seq(
    QueryDef("q1_pricing_summary", (s, d) => {
      val li = Tables.lineitem(s, d)
      val dec = (c: String) => col(c).cast("decimal(12,2)")
      li.filter(col("l_shipdate") <= lit("1998-09-02"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(dec("l_quantity")).cast("double").as("sum_qty"),
          sum(dec("l_extendedprice")).cast("double").as("sum_base_price"),
          sum(dec("l_extendedprice") * (lit(1).cast("decimal(12,2)") - dec("l_discount")))
            .cast("double").as("sum_disc_price"),
          sum(dec("l_extendedprice") * (lit(1).cast("decimal(12,2)") - dec("l_discount"))
            * (lit(1).cast("decimal(12,2)") + dec("l_tax")))
            .cast("double").as("sum_charge"),
          count(lit(1)).as("count_order"))
        .withColumn("avg_qty", col("sum_qty") / col("count_order"))
        .withColumn("avg_price", col("sum_base_price") / col("count_order"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    }, Some(
      """SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_base_price,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) *
        |    (CAST(1 AS DECIMAL(12,2)) - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE) AS sum_disc_price,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) *
        |    (CAST(1 AS DECIMAL(12,2)) - CAST(l_discount AS DECIMAL(12,2))) *
        |    (CAST(1 AS DECIMAL(12,2)) + CAST(l_tax AS DECIMAL(12,2)))) AS DOUBLE) AS sum_charge,
        |  COUNT(*) AS count_order,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) AS avg_price
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin)),

    // in-partition sort (the checker sorts rows): a global range sort
    // over the full explode pays a sampling pass that recomputes the
    // map-only child (guide §2.4 — an orderBy used only to make output
    // deterministic is an accidental exchange)
    QueryDef("q_wallet_trades", (s, d) =>
      wt(s, d).select(col("trade_id"), col("ts"), col("token_id"), col("qty"),
          col("usd").cast("double").as("usd"), col("wallet"), col("role"), col("side"))
        .sortWithinPartitions(col("trade_id"), col("role")), Some(
      s"""WITH $WT
        |SELECT trade_id, ts, token_id, qty, CAST(usd AS DOUBLE) AS usd,
        |       wallet, role, side
        |FROM wt ORDER BY trade_id, role""".stripMargin)),

    QueryDef("q_balances", (s, d) =>
      Views.balances(s, d).sortWithinPartitions(col("wallet"), col("token_id")), Some(
      s"""WITH $BALANCES
        |SELECT wallet, token_id, balance FROM balances
        |ORDER BY wallet, token_id""".stripMargin)),

    QueryDef("q_candles_1m", (s, d) =>
      Candles.finalize(candles1m(s, d))
        .sortWithinPartitions(col("token_id"), col("bucket")), Some(
      s"""WITH $EV,
        |ticks AS (
        |  SELECT token_id, date_trunc('minute', ts) AS bucket, price, usd, ts, event_id
        |  FROM ev),
        |oc AS (
        |  SELECT token_id, bucket, price, usd,
        |    first_value(price) OVER (PARTITION BY token_id, bucket ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS o,
        |    last_value(price) OVER (PARTITION BY token_id, bucket ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS c
        |  FROM ticks)
        |SELECT token_id, bucket, MAX(o) AS open, MAX(price) AS high,
        |  MIN(price) AS low, MAX(c) AS close, COUNT(*) AS trades,
        |  CAST(SUM(usd) AS DOUBLE) AS volume
        |FROM oc GROUP BY token_id, bucket
        |ORDER BY token_id, bucket""".stripMargin)),

    QueryDef("q_candles_1h", (s, d) =>
      Candles.finalize(Candles.reaggregate(candles1m(s, d), "hour"))
        .sortWithinPartitions(col("token_id"), col("bucket")), Some(
      s"""WITH $EV,
        |ticks AS (
        |  SELECT token_id, date_trunc('hour', ts) AS bucket, price, usd, ts, event_id
        |  FROM ev),
        |oc AS (
        |  SELECT token_id, bucket, price, usd,
        |    first_value(price) OVER (PARTITION BY token_id, bucket ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS o,
        |    last_value(price) OVER (PARTITION BY token_id, bucket ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS c
        |  FROM ticks)
        |SELECT token_id, bucket, MAX(o) AS open, MAX(price) AS high,
        |  MIN(price) AS low, MAX(c) AS close, COUNT(*) AS trades,
        |  CAST(SUM(usd) AS DOUBLE) AS volume
        |FROM oc GROUP BY token_id, bucket
        |ORDER BY token_id, bucket""".stripMargin)),

    // 15-minute candles re-aggregated from the 1m partials — the
    // arbitrary-interval path (5m/15m/4h/1w) of the reference's
    // /market/candles endpoint.
    QueryDef("q_candles_15m", (s, d) =>
      Candles.finalize(
          Candles.reaggregateInterval(candles1m(s, d),
            Candles.intervalSeconds("15m")))
        .sortWithinPartitions(col("token_id"), col("bucket")), Some(
      s"""WITH $EV,
        |ticks AS (
        |  SELECT token_id,
        |    make_timestamp(CAST(FLOOR(epoch(ts)/900) AS BIGINT) * 900 * 1000000) AS bucket,
        |    price, usd, ts, event_id
        |  FROM ev),
        |oc AS (
        |  SELECT token_id, bucket, price, usd,
        |    first_value(price) OVER (PARTITION BY token_id, bucket ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS o,
        |    last_value(price) OVER (PARTITION BY token_id, bucket ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS c
        |  FROM ticks)
        |SELECT token_id, bucket, MAX(o) AS open, MAX(price) AS high,
        |  MIN(price) AS low, MAX(c) AS close, COUNT(*) AS trades,
        |  CAST(SUM(usd) AS DOUBLE) AS volume
        |FROM oc GROUP BY token_id, bucket
        |ORDER BY token_id, bucket""".stripMargin)),

    // Gap-filled hourly candles (CH WITH FILL): empty hours become
    // flat zero-volume candles at the previous close.
    QueryDef("q_candles_fill", (s, d) => {
      val c1h = Candles.finalize(Candles.reaggregate(candles1m(s, d), "hour"))
      Candles.gapFill(c1h, 3600)
        .sortWithinPartitions(col("token_id"), col("bucket"))
    }, Some(
      s"""WITH $EV,
        |ticks AS (
        |  SELECT token_id, date_trunc('hour', ts) AS bucket, price, usd, ts, event_id
        |  FROM ev),
        |oc AS (
        |  SELECT token_id, bucket, price, usd,
        |    first_value(price) OVER (PARTITION BY token_id, bucket ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS o,
        |    last_value(price) OVER (PARTITION BY token_id, bucket ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS c
        |  FROM ticks),
        |c1h AS (
        |  SELECT token_id, bucket, MAX(o) AS open, MAX(price) AS high,
        |    MIN(price) AS low, MAX(c) AS close, COUNT(*) AS trades,
        |    CAST(SUM(usd) AS DOUBLE) AS volume
        |  FROM oc GROUP BY token_id, bucket),
        |bounds AS (
        |  SELECT token_id, MIN(bucket) AS b0, MAX(bucket) AS b1 FROM c1h GROUP BY 1),
        |grid AS (
        |  SELECT token_id, unnest(generate_series(b0, b1, INTERVAL 1 HOUR)) AS bucket
        |  FROM bounds),
        |j AS (
        |  SELECT g.token_id, g.bucket, c.open, c.high, c.low, c.close,
        |    c.volume, c.trades,
        |    last_value(c.close IGNORE NULLS) OVER (PARTITION BY g.token_id
        |      ORDER BY g.bucket ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS close_ff
        |  FROM grid g LEFT JOIN c1h c USING (token_id, bucket))
        |SELECT token_id, bucket,
        |  coalesce(open, close_ff) AS open, coalesce(high, close_ff) AS high,
        |  coalesce(low, close_ff) AS low, coalesce(close, close_ff) AS close,
        |  coalesce(volume, 0.0) AS volume,
        |  CAST(coalesce(trades, 0) AS BIGINT) AS trades,
        |  open IS NULL AS filled
        |FROM j ORDER BY token_id, bucket""".stripMargin)),

    // Linear-interpolation gap fill (the "chart line" variant of
    // q_candles_fill's hold-forward): missing hourly closes are
    // interpolated between the nearest real closes, time-weighted.
    QueryDef("q_candles_interp", (s, d) => {
      val c1h = Candles.finalize(Candles.reaggregate(candles1m(s, d), "hour"))
      Candles.gapFillInterp(c1h, 3600)
        .sortWithinPartitions(col("token_id"), col("bucket"))
    },
    // identical CTE chain to q_candles_fill up to the grid join; the
    // fill rule swaps hold-forward for time-weighted interpolation —
    // same IEEE expression structure on both engines so the doubles
    // compare exactly
    Some(
      s"""WITH $EV,
        |ticks AS (
        |  SELECT token_id, date_trunc('hour', ts) AS bucket, price, usd, ts, event_id
        |  FROM ev),
        |oc AS (
        |  SELECT token_id, bucket, price, usd,
        |    first_value(price) OVER (PARTITION BY token_id, bucket ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS o,
        |    last_value(price) OVER (PARTITION BY token_id, bucket ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS c
        |  FROM ticks),
        |c1h AS (
        |  SELECT token_id, bucket, MAX(c) AS close
        |  FROM oc GROUP BY token_id, bucket),
        |bounds AS (
        |  SELECT token_id, MIN(bucket) AS b0, MAX(bucket) AS b1 FROM c1h GROUP BY 1),
        |grid AS (
        |  SELECT token_id, unnest(generate_series(b0, b1, INTERVAL 1 HOUR)) AS bucket
        |  FROM bounds),
        |j AS (
        |  SELECT g.token_id, g.bucket, c.close,
        |    last_value(c.close IGNORE NULLS) OVER (PARTITION BY g.token_id
        |      ORDER BY g.bucket ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS prev_close,
        |    first_value(c.close IGNORE NULLS) OVER (PARTITION BY g.token_id
        |      ORDER BY g.bucket ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
        |      AS next_close,
        |    last_value(CASE WHEN c.close IS NOT NULL THEN g.bucket END IGNORE NULLS)
        |      OVER (PARTITION BY g.token_id ORDER BY g.bucket
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_b,
        |    first_value(CASE WHEN c.close IS NOT NULL THEN g.bucket END IGNORE NULLS)
        |      OVER (PARTITION BY g.token_id ORDER BY g.bucket
        |        ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_b
        |  FROM grid g LEFT JOIN c1h c USING (token_id, bucket))
        |SELECT token_id, bucket, close,
        |  CASE WHEN close IS NOT NULL THEN close
        |       ELSE prev_close + (next_close - prev_close) *
        |         (CAST(date_diff('second', prev_b, bucket) AS DOUBLE) /
        |          CAST(date_diff('second', prev_b, next_b) AS DOUBLE)) END
        |    AS close_interp,
        |  close IS NULL AS filled
        |FROM j ORDER BY token_id, bucket""".stripMargin)),

    QueryDef("q_last_price", (s, d) =>
      Views.lastPrice(s, d).orderBy(col("token_id")), Some(
      s"""WITH $TRADES,
        |$LP
        |SELECT token_id, last_price, last_ts FROM lp ORDER BY token_id""".stripMargin)),

    QueryDef("q_token_volume_1h", (s, d) => {
      val ev = Views.eventStream(s, d)
      Candles.tokenVolume(ev, "hour", col("token_id"), col("ts"), col("usd"))
        .sortWithinPartitions(col("token_id"), col("hour"))
    }, Some(
      s"""WITH $EV
        |SELECT token_id, date_trunc('hour', ts) AS hour,
        |  CAST(SUM(usd) AS DOUBLE) AS volume_usd, COUNT(*) AS trades
        |FROM ev GROUP BY token_id, hour
        |ORDER BY token_id, hour""".stripMargin)),

    // served from the flows rollup (one MV aggregation instead of two
    // full explode shuffles) — value-identical, FlowsRollupSpec-pinned
    QueryDef("q_leaderboard", (s, d) =>
      Leaderboard.leaderboardFromFlows(walletTokenFlows(s, d), 100), Some(
      s"""WITH $WT
        |SELECT wallet, COUNT(*) AS trades, CAST(SUM(usd) AS DOUBLE) AS volume_usd,
        |  CAST(SUM(CASE WHEN side = 'sell' THEN usd ELSE -usd END) AS DOUBLE) AS net_cashflow_usd,
        |  COUNT(DISTINCT token_id) AS markets
        |FROM wt WHERE wallet NOT IN (1000001, 1000002)
        |GROUP BY wallet HAVING COUNT(*) >= 5
        |ORDER BY net_cashflow_usd DESC, wallet LIMIT 100""".stripMargin)),

    QueryDef("q_leaderboard_rollup", (s, d) =>
      // the rollup MV is materialized once (reference: the 1h stats MV
      // is ingest-maintained); the query pays only the merge path
      Leaderboard.leaderboardFromState(lbRollupDay(s, d), 100), Some(
      s"""WITH $WT
        |SELECT wallet, COUNT(*) AS trades, CAST(SUM(usd) AS DOUBLE) AS volume_usd,
        |  CAST(SUM(CASE WHEN side = 'sell' THEN usd ELSE -usd END) AS DOUBLE) AS net_cashflow_usd,
        |  COUNT(DISTINCT token_id) AS markets
        |FROM wt WHERE wallet NOT IN (1000001, 1000002)
        |GROUP BY wallet HAVING COUNT(*) >= 5
        |ORDER BY net_cashflow_usd DESC, wallet LIMIT 100""".stripMargin)),

    QueryDef("q_portfolio_resample", (s, d) =>
      Snapshots.downsample(
          Snapshots.portfolioHistoryFromDaily(Views.dailyFlows(s, d), Views.lastPrice(s, d)),
          "day", "week",
          Seq("cum_cashflow", "portfolio_value", "total_value"))
        .sortWithinPartitions(col("wallet"), col("bucket")), Some(
      s"""WITH $WT,
        |$LP,
        |daily AS (
        |  SELECT wallet, token_id, date_trunc('day', ts) AS day,
        |    SUM(CASE WHEN side = 'sell' THEN usd ELSE -usd END) AS cashflow_dec,
        |    SUM(CAST(CASE WHEN side = 'buy' THEN qty ELSE -qty END AS DECIMAL(18,4))) AS qty_dec
        |  FROM wt GROUP BY wallet, token_id, day),
        |per_day AS (
        |  SELECT wallet, day, SUM(cashflow_dec) AS day_cash,
        |    SUM(CAST(FLOOR(CAST(qty_dec AS DOUBLE) * COALESCE(lp.last_price, 0.0) * 1e4) AS BIGINT)) AS day_value_s
        |  FROM daily LEFT JOIN lp ON daily.token_id = lp.token_id
        |  GROUP BY wallet, day),
        |hist AS (
        |  SELECT wallet, day,
        |    CAST(SUM(day_cash) OVER w AS DOUBLE) AS cum_cashflow,
        |    SUM(day_value_s) OVER w / 10000.0 AS portfolio_value,
        |    CAST(SUM(day_cash) OVER w AS DOUBLE) + SUM(day_value_s) OVER w / 10000.0 AS total_value
        |  FROM per_day
        |  WINDOW w AS (PARTITION BY wallet ORDER BY day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
        |SELECT wallet, date_trunc('week', day) AS bucket, MAX(day) AS asof_ts,
        |  arg_max(cum_cashflow, day) AS cum_cashflow,
        |  arg_max(portfolio_value, day) AS portfolio_value,
        |  arg_max(total_value, day) AS total_value
        |FROM hist GROUP BY wallet, bucket
        |ORDER BY wallet, bucket""".stripMargin)),

    QueryDef("q_leaderboard_window", (s, d) =>
      Leaderboard.leaderboardWindow(wt(s, d), "1996-01-01", "1997-01-01", 100), Some(
      s"""WITH $WT
        |SELECT wallet, COUNT(*) AS trades, CAST(SUM(usd) AS DOUBLE) AS volume_usd,
        |  CAST(SUM(CASE WHEN side = 'sell' THEN usd ELSE -usd END) AS DOUBLE) AS net_cashflow_usd,
        |  COUNT(DISTINCT token_id) AS markets
        |FROM wt
        |WHERE ts >= TIMESTAMP '1996-01-01 00:00:00' AND ts < TIMESTAMP '1997-01-01 00:00:00'
        |  AND wallet NOT IN (1000001, 1000002)
        |GROUP BY wallet HAVING COUNT(*) >= 5
        |ORDER BY net_cashflow_usd DESC, wallet LIMIT 100""".stripMargin)),

    // Served by the wallet_market_flows rollup via RollupRewrite
    // (VERDICT r14 #1): the query names the flows⋈markets re-agg; the
    // rule substitutes the (wallet, market) MV, so per-query work is a
    // re-agg over the market-grain rollup instead of the token-grain
    // flows. The sums are exact 1e-4-scaled longs either way.
    QueryDef("q_lb_explain", (s, d) => {
      registerRollups(s, d)
      val agg = walletTokenFlows(s, d)
        .join(broadcast(markets(s, d)), Seq("token_id"))
        .groupBy(col("wallet"), col("market"))
        .agg(sum(col("trades")).as("trades"),
          sum(col("bi")).as("bi"), sum(col("si")).as("si"))
      // exact grain ⇒ Project over the pre-sorted MV, sort elided,
      // zero exchanges
      rolledUp(s, agg)
        .select(col("wallet"), col("market"), col("trades"),
          (col("bi") / 10000.0).as("buy_usd"),
          (col("si") / 10000.0).as("sell_usd"),
          ((col("si") - col("bi")) / 10000.0).as("net_cashflow_usd"))
        .sortWithinPartitions(col("wallet"), col("market"))
    }, Some(
      s"""WITH $WT
        |SELECT wallet, p_brand AS market, COUNT(*) AS trades,
        |  CAST(SUM(CASE WHEN side = 'buy' THEN usd ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE) AS buy_usd,
        |  CAST(SUM(CASE WHEN side = 'sell' THEN usd ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE) AS sell_usd,
        |  CAST(SUM(CASE WHEN side = 'sell' THEN usd ELSE -usd END) AS DOUBLE) AS net_cashflow_usd
        |FROM wt JOIN part ON wt.token_id = part.p_partkey
        |GROUP BY wallet, p_brand
        |ORDER BY wallet, market""".stripMargin)),

    // in-partition sort (the checker sorts rows): with balances and the
    // flows rollup both wallet-partitioned the join is exchange-free,
    // and a global orderBy would add back the only shuffle in the plan
    QueryDef("q_positions", (s, d) =>
      Positions.positionsFromFlows(Views.balances(s, d), walletTokenFlows(s, d),
          Views.lastPrice(s, d))
        .sortWithinPartitions(col("wallet"), col("token_id")), Some(
      s"""WITH $BALANCES,
        |$LP,
        |buys AS (
        |  SELECT wallet, token_id,
        |    CAST(SUM(usd) AS DOUBLE) AS buy_usd,
        |    CAST(SUM(CAST(qty AS DECIMAL(18,4))) AS DOUBLE) AS buy_qty
        |  FROM (
        |    SELECT maker AS wallet, token_id, qty, usd FROM trades WHERE is_maker_buy
        |    UNION ALL
        |    SELECT taker, token_id, qty, usd FROM trades WHERE is_taker_buy) b
        |  GROUP BY wallet, token_id)
        |SELECT b.token_id AS token_id, b.wallet AS wallet, b.balance AS balance,
        |  buys.buy_usd / buys.buy_qty AS avg_entry_price,
        |  lp.last_price AS last_price,
        |  b.balance * lp.last_price AS current_value,
        |  b.balance * (lp.last_price - buys.buy_usd / buys.buy_qty) AS unrealized_pnl
        |FROM balances b
        |LEFT JOIN buys ON b.wallet = buys.wallet AND b.token_id = buys.token_id
        |LEFT JOIN lp ON b.token_id = lp.token_id
        |WHERE b.balance > 0
        |ORDER BY wallet, token_id""".stripMargin)),

    QueryDef("q_user_stats", (s, d) =>
      Stats.userStatsFromFlows(wt(s, d), walletTokenFlows(s, d))
        .sortWithinPartitions(col("wallet")), Some(
      s"""WITH $WT
        |SELECT wallet, COUNT(*) AS trades, CAST(SUM(usd) AS DOUBLE) AS volume_usd,
        |  CAST(SUM(CASE WHEN side = 'buy' THEN 1 ELSE 0 END) AS BIGINT) AS buy_count,
        |  CAST(SUM(CASE WHEN side = 'sell' THEN 1 ELSE 0 END) AS BIGINT) AS sell_count,
        |  COUNT(DISTINCT token_id) AS markets,
        |  MAX(CAST(CASE WHEN side = 'sell' THEN usd ELSE -usd END AS DOUBLE)) AS best_trade_usd,
        |  MIN(CAST(CASE WHEN side = 'sell' THEN usd ELSE -usd END AS DOUBLE)) AS worst_trade_usd,
        |  MIN(ts) AS first_trade_ts, MAX(ts) AS last_trade_ts
        |FROM wt GROUP BY wallet ORDER BY wallet""".stripMargin)),

    QueryDef("q_activity", (s, d) =>
      Activity.feed(Tables.events(s, d), Seq("purchase", "click"), 100, 50), Some(
      """SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type, value, props
        |FROM events WHERE event_type IN ('purchase', 'click')
        |ORDER BY ts DESC, event_id DESC LIMIT 100 OFFSET 50""".stripMargin)),

    // Keyset-cursor page of the feed (pushed predicate, no offset skip).
    QueryDef("q_activity_cursor", (s, d) =>
      Activity.feedAfter(Tables.events(s, d), Seq("purchase", "click"),
        "2024-01-25 00:00:00", 50000L, 100), Some(
      """SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type, value, props
        |FROM events WHERE event_type IN ('purchase', 'click')
        |  AND (CAST(ts AS TIMESTAMP) < TIMESTAMP '2024-01-25 00:00:00'
        |    OR (CAST(ts AS TIMESTAMP) = TIMESTAMP '2024-01-25 00:00:00' AND event_id < 50000))
        |ORDER BY ts DESC, event_id DESC LIMIT 100""".stripMargin)),

    QueryDef("q_token_trades", (s, d) =>
      Activity.tokenTrades(Views.trades(s, d), 7L, 100), Some(
      s"""WITH $TRADES
        |SELECT trade_id, ts, maker, taker, qty, CAST(usd AS DOUBLE) AS usd, price
        |FROM trades WHERE token_id = 7
        |ORDER BY ts DESC, trade_id DESC LIMIT 100""".stripMargin)),

    QueryDef("q_market_stats", (s, d) =>
      Stats.marketStatsFromFlows(walletTokenFlows(s, d), Views.balances(s, d),
          markets(s, d))
        .orderBy(col("market")), Some(
      s"""WITH $BALANCES,
        |wt AS (
        |  SELECT trade_id, token_id, usd, maker AS wallet, 'maker' AS role FROM trades
        |  UNION ALL
        |  SELECT trade_id, token_id, usd, taker AS wallet, 'taker' AS role FROM trades),
        |per_token AS (
        |  SELECT token_id, COUNT(DISTINCT wallet) AS traders,
        |    SUM(CASE WHEN role = 'taker' THEN 1 ELSE 0 END) AS fills,
        |    SUM(CASE WHEN role = 'taker' THEN usd ELSE CAST(0 AS DECIMAL(18,4)) END) AS volume_dec
        |  FROM wt GROUP BY token_id),
        |holders AS (
        |  SELECT token_id, COUNT(*) AS holders FROM balances WHERE balance > 0
        |  GROUP BY token_id)
        |SELECT part.p_brand AS market, CAST(SUM(traders) AS BIGINT) AS trader_slots,
        |  CAST(SUM(fills) AS BIGINT) AS fills, CAST(SUM(volume_dec) AS DOUBLE) AS volume_usd,
        |  CAST(SUM(COALESCE(holders.holders, 0)) AS BIGINT) AS holders, COUNT(*) AS tokens
        |FROM per_token
        |LEFT JOIN holders ON per_token.token_id = holders.token_id
        |JOIN part ON per_token.token_id = part.p_partkey
        |GROUP BY market ORDER BY market""".stripMargin)),

    // Exact interpolated quantiles per market (CH quantile() surface).
    QueryDef("q_trade_quantiles", (s, d) =>
      Stats.tradeSizeQuantilesBucketed(
        quantBase(s, d, "qty"), quantBase(s, d, "usd"))
        .orderBy(col("market")), Some(
      s"""WITH $WT
        |SELECT p.p_brand AS market, COUNT(*) AS trades,
        |  quantile_cont(CAST(qty AS DOUBLE), 0.5) AS median_qty,
        |  quantile_cont(CAST(qty AS DOUBLE), 0.9) AS p90_qty,
        |  quantile_cont(CAST(usd AS DOUBLE), 0.5) AS median_usd
        |FROM wt JOIN part p ON wt.token_id = p.p_partkey
        |GROUP BY p.p_brand
        |ORDER BY market""".stripMargin)),

    // Market concentration: HHI + top-10 wallet volume share.
    QueryDef("q_market_hhi", (s, d) =>
      Stats.marketConcentrationFromFlows(walletTokenFlows(s, d),
          markets(s, d))
        .orderBy(col("market")), Some(
      s"""WITH $WT,
        |vol AS (
        |  SELECT p.p_brand AS market, wallet, SUM(CAST(usd AS DECIMAL(18,4))) AS v
        |  FROM wt JOIN part p ON wt.token_id = p.p_partkey
        |  GROUP BY 1, 2),
        |tot AS (SELECT market, SUM(v) AS tot FROM vol GROUP BY 1),
        |r AS (
        |  SELECT vol.market, wallet, v, tot,
        |    CAST(v AS DOUBLE) / CAST(tot AS DOUBLE) AS share,
        |    row_number() OVER (PARTITION BY vol.market ORDER BY v DESC, wallet) AS rank
        |  FROM vol JOIN tot USING (market))
        |SELECT market, COUNT(*) AS wallets,
        |  CAST(SUM(CAST(FLOOR(share * share * 1e12) AS BIGINT)) AS DOUBLE) / 1e12 AS hhi,
        |  CAST(SUM(CASE WHEN rank <= 10 THEN v ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE) /
        |    CAST(MAX(tot) AS DOUBLE) AS top10_share
        |FROM r GROUP BY market ORDER BY market""".stripMargin)),

    // CH quantileExactWeighted: qty-weighted median micro-price per
    // market — integer value (floor(price·1e4)), decimal weights,
    // integer q ratio, so the threshold pick is exact on any engine.
    QueryDef("q_weighted_median", (s, d) =>
      Stats.weightedQuantile(
          Views.trades(s, d)
            .join(broadcast(markets(s, d)), Seq("token_id"))
            .select(col("market"),
              floor(col("price") * 10000).cast("long").as("px_e4"),
              col("qty")),
          "market", col("px_e4"), col("qty"), qNum = 1, qDen = 2)
        .withColumnRenamed("wq", "wmedian_px_e4")
        .orderBy(col("market")),
    // smallest v with 2·W(≤v) ≥ W_total — decimal weights, integer
    // threshold ratio, integer values: exact on any engine
    Some(
      s"""WITH $TRADES,
        |t AS (
        |  SELECT p.p_brand AS market,
        |    CAST(FLOOR(price * 10000) AS BIGINT) AS v, qty
        |  FROM trades JOIN part p ON trades.token_id = p.p_partkey),
        |c AS (
        |  SELECT market, v, qty,
        |    SUM(qty) OVER (PARTITION BY market ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |    SUM(qty) OVER (PARTITION BY market) AS tot
        |  FROM t)
        |SELECT market, MIN(v) AS wmedian_px_e4
        |FROM c WHERE cum * 2 >= tot * 1
        |GROUP BY market ORDER BY market""".stripMargin)),

    // Equi-width trade-size histogram per market (CH histogram()
    // report shape, fixed 10 bins over [min, max] usd per market).
    // the explode duplicates each fill's usd once per role, so the
    // histogram folds exactly from the UN-exploded trades at weight 2
    // (same mn/mx, every fill's two rows land in the same bin)
    QueryDef("q_trade_histogram", (s, d) =>
      Stats.histogram(
          Views.trades(s, d).join(broadcast(markets(s, d)), Seq("token_id")),
          "market", col("usd"), bins = 10, weight = lit(2L))
        .orderBy(col("market"), col("bin")),
    // same bin rule as Stats.histogram: w = (mx-mn)/10, bin capped at
    // 9, degenerate group (mx = mn) entirely in bin 0; identical IEEE
    // expression structure so edges and counts compare exactly
    Some(
      s"""WITH $WT,
        |t AS (
        |  SELECT p.p_brand AS market, CAST(usd AS DOUBLE) AS x
        |  FROM wt JOIN part p ON wt.token_id = p.p_partkey),
        |b AS (SELECT market, MIN(x) AS mn, MAX(x) AS mx FROM t GROUP BY 1),
        |binned AS (
        |  SELECT t.market, mn, mx,
        |    CASE WHEN mx = mn THEN CAST(0 AS BIGINT)
        |         ELSE least(CAST(floor((x - mn) / ((mx - mn) / 10)) AS BIGINT),
        |                    CAST(9 AS BIGINT)) END AS bin
        |  FROM t JOIN b USING (market))
        |SELECT market, bin, COUNT(*) AS n,
        |  mn + bin * ((mx - mn) / 10) AS bin_lo,
        |  mn + (bin + 1) * ((mx - mn) / 10) AS bin_hi
        |FROM binned GROUP BY market, bin, mn, mx
        |ORDER BY market, bin""".stripMargin)),

    QueryDef("q_top_holders", (s, d) =>
      Balances.topHoldersPerToken(Views.balances(s, d), 3)
        .orderBy(col("token_id"), col("holder_rank")), Some(
      s"""WITH $BALANCES
        |SELECT wallet, token_id, balance, holder_rank FROM (
        |  SELECT wallet, token_id, balance,
        |    row_number() OVER (PARTITION BY token_id ORDER BY balance DESC, wallet) AS holder_rank
        |  FROM balances WHERE balance > 0) t
        |WHERE holder_rank <= 3
        |ORDER BY token_id, holder_rank""".stripMargin)),

    // ClickHouse uniqUpTo(30): exact trader count per token while
    // ≤ 30, saturating at 31 — chosen to straddle the per-token
    // trader distribution (14…49 at sf0.01) so BOTH branches are
    // driver-exercised — bounded per-group state (the native
    // UniqUpToAgg drops values once saturated). The oracle's
    // LEAST(COUNT(DISTINCT wallet), 31) — n+1 for n=30 — makes this a
    // HARD verification of the saturating aggregate, not a rows-only
    // sketch.
    QueryDef("q_traders_capped", (s, d) =>
      wt(s, d).groupBy(col("token_id"))
        .agg(graft.functions.UniqUpTo.uniq_up_to(col("wallet").cast("long"), 30)
            .as("traders_capped"),
          count(lit(1)).as("trades"))
        .orderBy(col("token_id")),
    // exact distinct while <= 30, saturated to 31 above — the oracle
    // computes the ground truth, so the saturating aggregate is
    // hash-verified on both branches
    Some(
      s"""WITH $WT
        |SELECT token_id,
        |  LEAST(CAST(COUNT(DISTINCT wallet) AS BIGINT), 31) AS traders_capped,
        |  COUNT(*) AS trades
        |FROM wt GROUP BY token_id ORDER BY token_id""".stripMargin)),

    QueryDef("q_portfolio_history", (s, d) =>
      Snapshots.portfolioHistoryFromDaily(Views.dailyFlows(s, d), Views.lastPrice(s, d))
        .sortWithinPartitions(col("wallet"), col("day")), Some(
      s"""WITH $WT,
        |$LP,
        |daily AS (
        |  SELECT wallet, token_id, date_trunc('day', ts) AS day,
        |    SUM(CASE WHEN side = 'sell' THEN usd ELSE -usd END) AS cashflow_dec,
        |    SUM(CAST(CASE WHEN side = 'buy' THEN qty ELSE -qty END AS DECIMAL(18,4))) AS qty_dec
        |  FROM wt GROUP BY wallet, token_id, day),
        |per_day AS (
        |  SELECT wallet, day, SUM(cashflow_dec) AS day_cash,
        |    SUM(CAST(FLOOR(CAST(qty_dec AS DOUBLE) * COALESCE(lp.last_price, 0.0) * 1e4) AS BIGINT)) AS day_value_s
        |  FROM daily LEFT JOIN lp ON daily.token_id = lp.token_id
        |  GROUP BY wallet, day)
        |SELECT wallet, day,
        |  CAST(SUM(day_cash) OVER w AS DOUBLE) AS cum_cashflow,
        |  SUM(day_value_s) OVER w / 10000.0 AS portfolio_value,
        |  CAST(SUM(day_cash) OVER w AS DOUBLE) + SUM(day_value_s) OVER w / 10000.0 AS total_value
        |FROM per_day
        |WINDOW w AS (PARTITION BY wallet ORDER BY day
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |ORDER BY wallet, day""".stripMargin)),

    QueryDef("q_portfolio_light", (s, d) =>
      // in-partition sort: the light plan's single wallet-range
      // exchange already clusters wallets, so this is globally ordered
      Snapshots.portfolioHistoryLight(wt(s, d), Views.lastPrice(s, d))
        .sortWithinPartitions(col("wallet"), col("day")), Some(
      s"""WITH $WT,
        |$LP,
        |per_day AS (
        |  SELECT wallet, date_trunc('day', ts) AS day,
        |    SUM(CASE WHEN side = 'sell' THEN usd ELSE -usd END) AS day_cash,
        |    SUM(CAST(FLOOR((CASE WHEN side = 'buy' THEN qty ELSE -qty END) *
        |      COALESCE(lp.last_price, 0.0) * 1e4) AS BIGINT)) AS day_value_s
        |  FROM wt LEFT JOIN lp ON wt.token_id = lp.token_id
        |  GROUP BY wallet, day)
        |SELECT wallet, day,
        |  CAST(SUM(day_cash) OVER w AS DOUBLE) AS cum_cashflow,
        |  SUM(day_value_s) OVER w / 10000.0 AS portfolio_value,
        |  CAST(SUM(day_cash) OVER w AS DOUBLE) + SUM(day_value_s) OVER w / 10000.0 AS total_value
        |FROM per_day
        |WINDOW w AS (PARTITION BY wallet ORDER BY day
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |ORDER BY wallet, day""".stripMargin)),

    QueryDef("q_token_metadata", (s, d) =>
      Metadata.tokenMetadata(Tables.part(s, d)
          .select(col("p_brand"), col("p_partkey").cast("long").as("p_partkey"),
            col("p_name")),
          "p_brand", "p_partkey", "p_name")
        .orderBy(col("market"), col("outcome_index")), Some(
      """SELECT p_brand AS market, CAST(p_partkey AS BIGINT) AS token_id,
        |  p_name AS outcome,
        |  row_number() OVER (PARTITION BY p_brand ORDER BY p_partkey) - 1 AS outcome_index
        |FROM part
        |ORDER BY market, outcome_index""".stripMargin)),

    QueryDef("q_discover", (s, d) =>
      Activity.discover(wt(s, d), markets(s, d), 24 * 90, 20), Some(
      s"""WITH $WT
        |SELECT wt.token_id AS token_id, CAST(SUM(usd) AS DOUBLE) AS volume_usd,
        |  COUNT(*) AS trades, COUNT(DISTINCT wallet) AS traders,
        |  part.p_brand AS market
        |FROM wt LEFT JOIN part ON wt.token_id = part.p_partkey
        |WHERE ts > (SELECT MAX(l_shipdate) FROM lineitem) - INTERVAL 90 DAY
        |GROUP BY wt.token_id, market
        |ORDER BY volume_usd DESC, token_id LIMIT 20""".stripMargin)),

    // Current-version projection of the SCD2 history (reference:
    // market_categories_current view).
    QueryDef("q_market_categories", (s, d) =>
      Metadata.scd2Current(Tables.orders(s, d).select(col("o_custkey"),
          col("o_orderkey"), col("o_orderdate"), col("o_orderpriority")),
          "o_custkey", "o_orderdate", "o_orderkey")
        .orderBy(col("o_custkey"), col("o_orderkey")), Some(
      """SELECT o_custkey, o_orderkey, o_orderdate, o_orderpriority FROM (
        |  SELECT o_custkey, o_orderkey, o_orderdate, o_orderpriority,
        |    lead(o_orderdate) OVER (PARTITION BY o_custkey
        |      ORDER BY o_orderdate, o_orderkey) AS nxt
        |  FROM orders) t
        |WHERE nxt IS NULL
        |ORDER BY o_custkey, o_orderkey""".stripMargin)),

    // Leaderboard audit: all-time ranking vs the 1996-window ranking —
    // overlap + rank deltas (reference: leaderboard-audit-agent.ts).
    QueryDef("q_lb_audit", (s, d) =>
      Leaderboard.auditOnePass(wt(s, d), "1996-01-01", "1997-01-01", 100)
        .orderBy(col("wallet")), Some(
      s"""WITH $WT,
        |la AS (
        |  SELECT wallet, CAST(SUM(CASE WHEN side = 'sell' THEN usd ELSE -usd END) AS DOUBLE) AS ncf
        |  FROM wt WHERE wallet NOT IN (1000001, 1000002)
        |  GROUP BY wallet HAVING COUNT(*) >= 5
        |  ORDER BY ncf DESC, wallet LIMIT 100),
        |lb AS (
        |  SELECT wallet, CAST(SUM(CASE WHEN side = 'sell' THEN usd ELSE -usd END) AS DOUBLE) AS ncf
        |  FROM wt
        |  WHERE ts >= TIMESTAMP '1996-01-01 00:00:00' AND ts < TIMESTAMP '1997-01-01 00:00:00'
        |    AND wallet NOT IN (1000001, 1000002)
        |  GROUP BY wallet HAVING COUNT(*) >= 5
        |  ORDER BY ncf DESC, wallet LIMIT 100),
        |ra AS (SELECT wallet, row_number() OVER (ORDER BY ncf DESC, wallet) AS rank_a FROM la),
        |rb AS (SELECT wallet, row_number() OVER (ORDER BY ncf DESC, wallet) AS rank_b FROM lb)
        |SELECT COALESCE(ra.wallet, rb.wallet) AS wallet, rank_a, rank_b,
        |  rank_a - rank_b AS rank_delta,
        |  rank_a IS NOT NULL AND rank_b IS NOT NULL AS in_both
        |FROM ra FULL OUTER JOIN rb ON ra.wallet = rb.wallet
        |ORDER BY wallet""".stripMargin)),

    // Per-market top-3 wallets by volume (market-scoped leaderboard).
    QueryDef("q_top_per_market", (s, d) =>
      Leaderboard.topPerMarketFromFlows(walletTokenFlows(s, d),
          markets(s, d), 3)
        .orderBy(col("market"), col("rank")), Some(
      s"""WITH $WT,
        |vol AS (
        |  SELECT p.p_brand AS market, wallet,
        |    CAST(SUM(CAST(usd AS DECIMAL(18,4))) AS DOUBLE) AS volume_usd,
        |    COUNT(*) AS trades
        |  FROM wt JOIN part p ON wt.token_id = p.p_partkey
        |  WHERE wallet NOT IN (1000001, 1000002)
        |  GROUP BY 1, 2),
        |ranked AS (
        |  SELECT market, wallet, volume_usd, trades,
        |    CAST(row_number() OVER (PARTITION BY market
        |      ORDER BY volume_usd DESC, wallet) AS BIGINT) AS rank
        |  FROM vol)
        |SELECT market, rank, wallet, volume_usd, trades
        |FROM ranked WHERE rank <= 3 ORDER BY market, rank""".stripMargin)),

    // Top movers: price change vs 7 days before the last trade,
    // floored basis points (the discovery "24h change" column).
    QueryDef("q_price_change", (s, d) =>
      Candles.priceChange(Views.trades(s, d), 7, 50), Some(
      s"""WITH $TRADES,
        |mx AS (SELECT MAX(CAST(ts AS DATE)) - 7 AS cutoff FROM trades),
        |l AS (
        |  SELECT token_id, price AS last_price FROM (
        |    SELECT token_id, price,
        |      row_number() OVER (PARTITION BY token_id
        |        ORDER BY ts DESC, trade_id DESC, price DESC) AS rn
        |    FROM trades) t WHERE rn = 1),
        |p AS (
        |  SELECT token_id, price AS prev_price FROM (
        |    SELECT token_id, price,
        |      row_number() OVER (PARTITION BY token_id
        |        ORDER BY ts DESC, trade_id DESC, price DESC) AS rn
        |    FROM trades, mx WHERE ts <= mx.cutoff) t WHERE rn = 1)
        |SELECT l.token_id, l.last_price, p.prev_price,
        |  CAST(FLOOR((l.last_price / p.prev_price - 1) * 1e4) AS BIGINT)
        |    AS change_bp
        |FROM l JOIN p ON l.token_id = p.token_id
        |WHERE p.prev_price > 0
        |ORDER BY change_bp DESC, l.token_id
        |LIMIT 50""".stripMargin)),

    // Win/loss record per wallet (user/stats winCount/lossCount/
    // winRate + best/worst position, api spec endpoint 2; the
    // leaderboard's documented simplification: a closed position —
    // net qty 0 — is a win when its cash flow is positive). Decimal
    // sums stay exact until the final cast.
    QueryDef("q_win_rate", (s, d) => {
      // re-agg over the wallet_token_flows rollup MV: a closed
      // position is buy_qty == sell_qty (exact — qty values are
      // integral), realized rides the exact 1e-4-scaled long delta
      walletTokenFlows(s, d)
        .filter(col("buy_qty") === col("sell_qty"))
        .select(col("wallet"), (col("si") - col("bi")).as("ri"))
        .groupBy(col("wallet"))
        .agg(count(lit(1)).as("closed_positions"),
          sum(when(col("ri") > 0, 1L).otherwise(0L)).as("wins"),
          sum(when(col("ri") < 0, 1L).otherwise(0L)).as("losses"),
          (max(col("ri")) / 10000.0).as("best_position_usd"),
          (min(col("ri")) / 10000.0).as("worst_position_usd"))
        .withColumn("win_rate",
          when(col("wins") + col("losses") > 0,
            round(col("wins").cast("double") /
              (col("wins") + col("losses")).cast("double"), 6)))
        // in-partition sort (the checker sorts rows): the wallet agg
        // pays its one keyed exchange, the output order does not add
        // a second
        .sortWithinPartitions(col("wallet"))
    }, Some(
      s"""WITH $WT,
        |pos AS (
        |  SELECT wallet, token_id,
        |    SUM(CASE WHEN side = 'buy' THEN qty ELSE -qty END) AS net_qty,
        |    SUM(CASE WHEN side = 'sell' THEN usd ELSE -usd END) AS realized
        |  FROM wt GROUP BY 1, 2)
        |SELECT wallet, CAST(COUNT(*) AS BIGINT) AS closed_positions,
        |  CAST(SUM(CASE WHEN realized > 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS wins,
        |  CAST(SUM(CASE WHEN realized < 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS losses,
        |  CAST(MAX(realized) AS DOUBLE) AS best_position_usd,
        |  CAST(MIN(realized) AS DOUBLE) AS worst_position_usd,
        |  CASE WHEN SUM(CASE WHEN realized > 0 THEN 1 ELSE 0 END)
        |          + SUM(CASE WHEN realized < 0 THEN 1 ELSE 0 END) > 0
        |    THEN ROUND(CAST(SUM(CASE WHEN realized > 0 THEN 1 ELSE 0 END)
        |        AS DOUBLE) /
        |      CAST(SUM(CASE WHEN realized > 0 THEN 1 ELSE 0 END)
        |        + SUM(CASE WHEN realized < 0 THEN 1 ELSE 0 END) AS DOUBLE), 6)
        |  END AS win_rate
        |FROM pos WHERE net_qty = 0
        |GROUP BY wallet ORDER BY wallet""".stripMargin)),

    // Time-weighted average price: each trade's price holds until the
    // next trade of the same token; weight = holding minutes (the
    // last trade of a token carries zero weight — no close bound).
    // All-integer arithmetic (price at 1e-4 USD, exact decimal→long;
    // integer div for the final ratio) so the result hashes exactly
    // on any engine — float Σ(px·w) would differ in sum order.
    QueryDef("q_twap", (s, d) => {
      // px_e4 as the final window tie-breaker: a (ts, trade_id) tie
      // would otherwise decide arbitrarily which price carries the
      // hold to the next distinct timestamp (the oracle's lead()
      // refines identically)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("token_id"))
        .orderBy(col("ts"), col("trade_id"), col("px_e4"))
      Views.trades(s, d)
        .select(col("token_id"), col("ts"), col("trade_id"),
          expr("CAST(CAST(usd AS DECIMAL(18,4)) * 10000 AS BIGINT)" +
            " div CAST(qty AS BIGINT)").as("px_e4"))
        .withColumn("hold_min",
          ((unix_timestamp(lead(col("ts"), 1).over(w)) -
            unix_timestamp(col("ts"))) / 60L).cast("long"))
        .filter(col("hold_min").isNotNull && col("hold_min") > 0)
        .groupBy(col("token_id"))
        .agg(count(lit(1)).as("intervals"),
          expr("sum(px_e4 * hold_min) div sum(hold_min)").as("twap_e4"),
          sum(col("hold_min")).as("span_min"))
        .orderBy(col("token_id"))
    }, Some(
      s"""WITH $TRADES,
        |p AS (
        |  SELECT token_id,
        |    CAST(CAST(usd AS DECIMAL(18,4)) * 10000 AS BIGINT)
        |      // CAST(qty AS BIGINT) AS px_e4,
        |    CAST((epoch(CAST(lead(ts) OVER (PARTITION BY token_id
        |        ORDER BY ts, trade_id,
        |          CAST(CAST(usd AS DECIMAL(18,4)) * 10000 AS BIGINT)
        |            // CAST(qty AS BIGINT)) AS TIMESTAMP))
        |      - epoch(CAST(ts AS TIMESTAMP))) / 60 AS BIGINT) AS hold_min
        |  FROM trades)
        |SELECT token_id, CAST(COUNT(*) AS BIGINT) AS intervals,
        |  CAST(SUM(px_e4 * hold_min) // SUM(hold_min) AS BIGINT) AS twap_e4,
        |  CAST(SUM(hold_min) AS BIGINT) AS span_min
        |FROM p WHERE hold_min IS NOT NULL AND hold_min > 0
        |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Wallet volume deciles: ntile(10) + percent_rank over all-time
    // wallet volume — the "whale percentile" surface. NOT a global
    // `Window.orderBy` (single-partition sort — the one plan that
    // failed the 100× test in VERDICT r7): Rank.globalRowNumber
    // buckets by the deterministic monotone volume bucket (negated:
    // descending), ranks within buckets via a partitioned window and
    // adds value-derived histogram offsets; ntile/percent_rank are
    // then pure arithmetic on (rank, total).
    QueryDef("q_wallet_deciles", (s, d) => {
      // per-wallet volume folds from the flows rollup's exact scaled
      // longs (identical correctly-rounded double — see q_leaderboard)
      val vol = walletTokenFlows(s, d).groupBy(col("wallet"))
        .agg(((sum(col("bi")) + sum(col("si"))) / 10000.0).as("volume_usd"))
      Rank.globalRowNumber(vol, -Rank.monotoneBucket(col("volume_usd")),
          Seq(col("volume_usd").desc, col("wallet")), "rank", "total")
        .select(col("wallet"), col("volume_usd"),
          Rank.ntileFromRank(col("rank"), col("total"), 10).as("decile"),
          round(Rank.percentRankFromRank(col("rank"), col("total")), 6)
            .as("pct_rank"))
        .orderBy(col("wallet"))
    }, Some(
      s"""WITH $WT,
        |v AS (SELECT wallet, CAST(SUM(usd) AS DOUBLE) AS volume_usd
        |      FROM wt GROUP BY wallet)
        |SELECT wallet, volume_usd,
        |  CAST(ntile(10) OVER (ORDER BY volume_usd DESC, wallet) AS INT)
        |    AS decile,
        |  ROUND(percent_rank() OVER (ORDER BY volume_usd DESC, wallet), 6)
        |    AS pct_rank
        |FROM v ORDER BY wallet""".stripMargin)),

    // Pivot: per-day volume as one COLUMN per market segment (the
    // wide report shape Spark expresses natively; the oracle builds
    // the same columns with conditional aggregates).
    QueryDef("q_pivot_segments", (s, d) => {
      val seg = Tables.customer(s, d).select(
        col("c_custkey").cast("long").as("taker"),
        col("c_mktsegment").as("segment"))
      Views.trades(s, d)
        .join(broadcast(seg), Seq("taker"))
        .groupBy(date_trunc("day", col("ts")).as("day"))
        .pivot("segment", Seq("AUTOMOBILE", "BUILDING", "FURNITURE",
          "HOUSEHOLD", "MACHINERY"))
        .agg(sum(col("usd")).cast("double"))
        .na.fill(0.0)
        .orderBy(col("day"))
    }, Some(
      s"""WITH $TRADES
        |SELECT CAST(date_trunc('day', t.ts) AS TIMESTAMP) AS day,
        |  CAST(COALESCE(SUM(CASE WHEN c.c_mktsegment = 'AUTOMOBILE'
        |    THEN t.usd END), 0) AS DOUBLE) AS "AUTOMOBILE",
        |  CAST(COALESCE(SUM(CASE WHEN c.c_mktsegment = 'BUILDING'
        |    THEN t.usd END), 0) AS DOUBLE) AS "BUILDING",
        |  CAST(COALESCE(SUM(CASE WHEN c.c_mktsegment = 'FURNITURE'
        |    THEN t.usd END), 0) AS DOUBLE) AS "FURNITURE",
        |  CAST(COALESCE(SUM(CASE WHEN c.c_mktsegment = 'HOUSEHOLD'
        |    THEN t.usd END), 0) AS DOUBLE) AS "HOUSEHOLD",
        |  CAST(COALESCE(SUM(CASE WHEN c.c_mktsegment = 'MACHINERY'
        |    THEN t.usd END), 0) AS DOUBLE) AS "MACHINERY"
        |FROM trades t JOIN customer c ON c.c_custkey = t.taker
        |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // scaled-long sums (usd/qty ≤4-decimals-exact); each integer sum
    // divides back to double BEFORE the vwap ratio so the rounding
    // stages match the oracle's decimal-sum-then-cast exactly
    // Served by the trades_token_day rollup via RollupRewrite (VERDICT
    // r14 #1 — the rollup rewrite, not more plan hand-tuning): the
    // query names raw trades grouped at (token, day); the rule
    // substitutes the session MV, so per-query work is a re-agg over
    // token×day rows. Partials are the same 1e-4-scaled long sums the
    // raw plan computed, so the result is value-identical.
    QueryDef("q_vwap", (s, d) => {
      registerRollups(s, d)
      val agg = Views.trades(s, d)
        .groupBy(col("token_id"), date_trunc("day", col("ts")).as("day"))
        .agg(sum(round(col("usd") * 10000).cast("long")).as("ui"),
          sum(round(col("qty") * 10000).cast("long")).as("qi"),
          count(lit(1)).as("trades"))
      // exact grain ⇒ the rewrite is a PROJECT over the pre-sorted MV:
      // the in-partition sort is elided and the plan has zero
      // exchanges (rows re-sorted by the checker)
      rolledUp(s, agg)
        .select(col("token_id"), col("day"),
          ((col("ui") / 10000.0) / (col("qi") / 10000.0)).as("vwap"),
          (col("ui") / 10000.0).as("volume_usd"), col("trades"))
        .sortWithinPartitions(col("token_id"), col("day"))
    }, Some(
      s"""WITH $TRADES
        |SELECT token_id, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
        |  CAST(SUM(usd) AS DOUBLE) / CAST(SUM(CAST(qty AS DECIMAL(18,4)))
        |    AS DOUBLE) AS vwap,
        |  CAST(SUM(usd) AS DOUBLE) AS volume_usd,
        |  COUNT(*) AS trades
        |FROM trades GROUP BY 1, 2
        |ORDER BY token_id, day""".stripMargin)),

    // ClickHouse groupArray(5)-style ordered collection: each wallet's
    // 5 most recent tokens as a CSV string. A row_number window would
    // sort every wallet's whole history to discard all but 5; the
    // native RecentTopK aggregate keeps a 5-bounded buffer per task,
    // so partial aggregation runs map-side and the wallet Exchange
    // carries ≤5 entries per wallet per task.
    QueryDef("q_recent_tokens", (s, d) => {
      graft.functions.GraftFunctions.register(s)
      wt(s, d)
        .groupBy(col("wallet"))
        .agg(expr("graft_recent_topk(ts, CAST(trade_id AS BIGINT), " +
          "CAST(token_id AS BIGINT), 5)").as("toks"))
        .select(col("wallet"), size(col("toks")).cast("long").as("n"),
          concat_ws(",", transform(col("toks"), x => x.cast("string")))
            .as("recent_tokens"))
        .orderBy(col("wallet"))
    }, Some(
      s"""WITH $WT,
        |r AS (
        |  SELECT wallet, token_id,
        |    row_number() OVER (PARTITION BY wallet
        |      ORDER BY ts DESC, trade_id DESC, token_id DESC) AS rn
        |  FROM wt)
        |SELECT wallet, CAST(COUNT(*) AS BIGINT) AS n,
        |  string_agg(CAST(token_id AS VARCHAR), ',' ORDER BY rn)
        |    AS recent_tokens
        |FROM r WHERE rn <= 5
        |GROUP BY wallet ORDER BY wallet""".stripMargin)),

    // Served by the trades_token_day rollup via RollupRewrite (VERDICT
    // r14 #1): the daily-volume aggregate names raw trades; the rule
    // substitutes the MV's exact decimal partial (vol_dec). The re-agg
    // reuses the cached rollup's hash(token, day) partitioning (no
    // exchange), then ONE range exchange on token_id serves BOTH the
    // MA window (RangePartitioning(token) clusters each token) and
    // the output order (equal tokens share a partition, so the local
    // (token, day) sort is globally ordered) — 1 shuffle total where
    // the r14 plan paid 2 over a frame the rollup barely compresses
    // (596 k token-days from 600 k trades at sf0.1).
    QueryDef("q_volume_ma7", (s, d) => {
      import org.apache.spark.sql.expressions.Window
      registerRollups(s, d)
      val daily0 = Views.trades(s, d)
        .groupBy(col("token_id"), date_trunc("day", col("ts")).as("day"))
        .agg(sum(col("usd")).as("vol_dec"))
      // exact grain ⇒ Project over the pre-sorted MV: the whole query
      // is the window's one keyed exchange over cached narrow rows
      // (IMR forwards ordering, not partitioning — measured), and the
      // output sort elides behind the window's own (token, day_num)
      // order
      val daily = rolledUp(s, daily0)
        .withColumn("day_num", datediff(col("day"), lit("1990-01-01")))
      val w = Window.partitionBy(col("token_id")).orderBy(col("day_num"))
        .rangeBetween(-6, 0)
      daily
        .withColumn("volume_usd", col("vol_dec").cast("double"))
        // double division (not decimal/decimal): engines share IEEE
        // semantics but not decimal-division scale rules
        .withColumn("ma7_usd", sum(col("vol_dec")).over(w).cast("double") /
          count(lit(1)).over(w))
        .sortWithinPartitions(col("token_id"), col("day_num"))
        .select(col("token_id"), col("day"), col("volume_usd"), col("ma7_usd"))
    }, Some(
      s"""WITH $TRADES,
        |daily AS (
        |  SELECT token_id, date_trunc('day', ts) AS day, SUM(usd) AS vol_dec,
        |    datediff('day', DATE '1990-01-01', CAST(date_trunc('day', ts) AS DATE)) AS day_num
        |  FROM trades GROUP BY token_id, day)
        |SELECT token_id, day, CAST(vol_dec AS DOUBLE) AS volume_usd,
        |  CAST(SUM(vol_dec) OVER w AS DOUBLE) / COUNT(*) OVER w AS ma7_usd
        |FROM daily
        |WINDOW w AS (PARTITION BY token_id ORDER BY day_num
        |  RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
        |ORDER BY token_id, day""".stripMargin)),

    // ROLLUP subtotals (ClickHouse WITH ROLLUP): volumes by
    // (returnflag, linestatus) including subtotal and grand-total rows.
    QueryDef("q_group_rollup", (s, d) =>
      Tables.lineitem(s, d)
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"),
          sum(col("l_extendedprice").cast("decimal(12,2)")).cast("double")
            .as("sum_price"))
        .orderBy(col("l_returnflag").asc_nulls_first,
          col("l_linestatus").asc_nulls_first), Some(
      """SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_price
        |FROM lineitem
        |GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin)),

    // r15 plan, final form: the probe set (months where the token
    // trades) and the quote set share one generating frame, so the
    // as-of collapses to a MONTH-GRAIN lag over the day rollup — no
    // probe/quote union, no 1.2M-row window. Per (token, month):
    // mstart = the quote exactly AT the month boundary (ts is
    // date-grain, so "at or before M_start" admits only it from M
    // itself), mlast = the month's last trading day's price; the
    // as-of at probe M is coalesce(mstart, lag(mlast)) — the previous
    // ROW in the (token, month) frame IS the previous month with
    // trades, and months between two frame rows have no quotes by
    // construction. Value-identical to the union-window form (same
    // day-grain winner), verified by the unchanged oracle hash.
    QueryDef("q_price_asof", (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val monthly = tradesTokenMonth(s, d)
      val w = Window.partitionBy(col("token_id")).orderBy(col("pts"))
      monthly.select(col("token_id"), col("pts"),
          coalesce(col("mstart"), lag(col("mlast"), 1).over(w))
            .as("value_asof"))
        .sortWithinPartitions(col("token_id"), col("pts"))
    }, Some(
      s"""WITH $TRADES,
        |quotes AS (
        |  SELECT token_id, ts, arg_max(price, trade_id) AS price
        |  FROM trades GROUP BY token_id, ts),
        |probes AS (
        |  SELECT DISTINCT token_id, date_trunc('month', ts) AS pts FROM trades)
        |SELECT probes.token_id AS token_id, pts, quotes.price AS value_asof
        |FROM probes ASOF LEFT JOIN quotes
        |  ON probes.token_id = quotes.token_id AND probes.pts >= quotes.ts
        |ORDER BY token_id, pts""".stripMargin)),

    // As-of with a staleness bound: a price older than 3 days at the
    // probe instant is no price (CH ASOF + bounded lookback; pandas
    // merge_asof tolerance). Same month-grain lag plan as
    // q_price_asof; the matched quote's own day rides the frame so
    // one timestampdiff applies the bound.
    QueryDef("q_price_asof_tol", (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val monthly = tradesTokenMonth(s, d)
      val w = Window.partitionBy(col("token_id")).orderBy(col("pts"))
      monthly
        .withColumn("qlast", lag(col("mlast"), 1).over(w))
        .withColumn("qday", lag(col("mlast_day"), 1).over(w))
        .select(col("token_id"), col("pts"),
          coalesce(col("mstart"),
            when(expr("timestampdiff(SECOND, qday, pts)") <= 259200L,
              col("qlast"))).as("value_asof"))
        .sortWithinPartitions(col("token_id"), col("pts"))
    }, Some(
      s"""WITH $TRADES,
        |quotes AS (
        |  SELECT token_id, ts, arg_max(price, trade_id) AS price
        |  FROM trades GROUP BY token_id, ts),
        |probes AS (
        |  SELECT DISTINCT token_id, date_trunc('month', ts) AS pts FROM trades)
        |SELECT probes.token_id AS token_id, pts,
        |  CASE WHEN epoch(pts) - epoch(quotes.ts) <= 259200
        |       THEN quotes.price END AS value_asof
        |FROM probes ASOF LEFT JOIN quotes
        |  ON probes.token_id = quotes.token_id AND probes.pts >= quotes.ts
        |ORDER BY token_id, pts""".stripMargin)),

    QueryDef("q_dormant_wallets", (s, d) => {
      val active = Tables.orders(s, d)
        .filter(col("o_orderdate") >= lit("1997-01-01"))
        .select(col("o_custkey"))
      Tables.customer(s, d)
        .join(active, col("c_custkey") === col("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
        .orderBy(col("c_custkey"))
    }, Some(
      """SELECT c_custkey, c_name, c_mktsegment FROM customer
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM orders
        |  WHERE o_custkey = c_custkey
        |    AND o_orderdate >= TIMESTAMP '1997-01-01 00:00:00')
        |ORDER BY c_custkey""".stripMargin)),

    // HLL leaderboard: approx_count_distinct is the markets_state slot
    // at 100 TB (exact set-merge shown in q_leaderboard_rollup).
    QueryDef("q_leaderboard_approx", (s, d) =>
      wt(s, d).filter(!col("wallet").isin(Leaderboard.ExcludedWallets: _*))
        .groupBy(col("wallet"))
        .agg(count(lit(1)).as("trades"),
          sum(col("usd")).cast("double").as("volume_usd"),
          approx_count_distinct(col("token_id")).as("markets_approx"))
        .filter(col("trades") >= 5)
        .orderBy(col("volume_usd").desc, col("wallet")).limit(100), None),

    // Salted-join equivalence: the skew-safe join (big side salted by
    // a per-row discriminator, small side replicated) must produce the
    // exact inner-join multiset — verified by aggregating the joined
    // rows per wallet against a plain SQL join.
    QueryDef("q_skew_join", (s, d) => {
      val w = wt(s, d)
      // dim folds from the flows rollup (exact 1e-4-scaled longs);
      // the salted-join FACT side stays the raw explode — the skew
      // machinery under test is unchanged. sum(long)/10000.0 is the
      // same correctly-rounded double the decimal path cast.
      val dim = walletTokenFlows(s, d).groupBy(col("token_id"))
        .agg(sum(col("bi") + col("si")).as("tok_usd_i"),
          sum(col("trades")).as("tok_trades"))
      Skew.saltedJoin(w, dim, "token_id", col("trade_id"), 8)
        .groupBy(col("wallet"))
        .agg(count(lit(1)).as("trades"),
          sum(col("tok_trades")).as("sum_tok_trades"),
          (sum(col("tok_usd_i")) / 10000.0).as("sum_tok_usd"))
        .orderBy(col("wallet"))
    }, Some(
      s"""WITH $WT,
        |dim AS (
        |  SELECT token_id, SUM(usd) AS tok_usd, COUNT(*) AS tok_trades
        |  FROM wt GROUP BY 1)
        |SELECT wallet, COUNT(*) AS trades,
        |  CAST(SUM(tok_trades) AS BIGINT) AS sum_tok_trades,
        |  CAST(SUM(tok_usd) AS DOUBLE) AS sum_tok_usd
        |FROM wt JOIN dim USING (token_id)
        |GROUP BY wallet ORDER BY wallet""".stripMargin)),

    // Runtime bloom-pruned join: activity of "hot" wallets (a derived
    // selective dim) with the fact side pre-filtered by a bloom of
    // the dim keys before the join exchange. Row-identical to the
    // plain join (no false negatives; fp survivors die in the real
    // join) — which is exactly what the oracle checks.
    QueryDef("q_bloom_prune", (s, d) => {
      val w = wt(s, d)
      // hot-wallet dim folds from the flows rollup (sum of per-pair
      // counts); the PROBE side stays the raw explode — the runtime
      // bloom machinery under test is unchanged
      val hot = walletTokenFlows(s, d).groupBy(col("wallet"))
        .agg(sum(col("trades")).as("trades"))
        .filter(col("trades") >= 25)
      BloomPrune.prunedJoin(w, hot, "wallet")
        .groupBy(col("wallet"), col("trades"))
        .agg(sum(col("usd")).cast("double").as("volume_usd"),
          countDistinct(col("token_id")).as("markets"))
        .orderBy(col("wallet"))
    }, Some(
      s"""WITH $WT,
        |hot AS (
        |  SELECT wallet, COUNT(*) AS trades FROM wt
        |  GROUP BY wallet HAVING COUNT(*) >= 25)
        |SELECT w.wallet, h.trades,
        |  CAST(SUM(w.usd) AS DOUBLE) AS volume_usd,
        |  CAST(COUNT(DISTINCT w.token_id) AS BIGINT) AS markets
        |FROM wt w JOIN hot h ON w.wallet = h.wallet
        |GROUP BY 1, 2 ORDER BY w.wallet""".stripMargin)),

    // CH groupUniqArray(): the distinct-set aggregate — each wallet's
    // traded markets as a sorted comma list (the summap serialization
    // recipe, so the hash pins SET CONTENT). collect_set carries the
    // per-group distinct state through partial aggregation; the join
    // to markets is broadcast.
    QueryDef("q_group_uniq", (s, d) => {
      wt(s, d)
        .join(broadcast(markets(s, d)), Seq("token_id"))
        .groupBy(col("wallet"))
        .agg(sort_array(collect_set(col("market"))).as("m"))
        .select(col("wallet"), size(col("m")).cast("long").as("n_markets"),
          concat_ws(",", col("m")).as("markets"))
        .orderBy(col("wallet"))
    }, Some(
      s"""WITH $WT
        |SELECT wallet,
        |  CAST(COUNT(DISTINCT p.p_brand) AS BIGINT) AS n_markets,
        |  string_agg(DISTINCT p.p_brand, ',' ORDER BY p.p_brand)
        |    AS markets
        |FROM wt JOIN part p ON wt.token_id = p.p_partkey
        |GROUP BY wallet ORDER BY wallet""".stripMargin)),

    // Transparent rollup selection, oracle-gated (§2 #189): the query
    // names the RAW two-sided explode; RollupRewrite substitutes the
    // wallet_token_flows rollup at plan level (the CH-PROJECTION
    // mechanism), and the driver hash proves the rewritten plan
    // computes exactly the named computation. The rule is applied
    // explicitly here because Verify's session is extension-free —
    // GraftSession-built sessions get it injected.
    QueryDef("q_rollup_auto", (s, d) => {
      val source = wt(s, d)
      // no clear(): register dedupes structurally, so repeated query
      // construction (and the session-wide registrations other
      // rollup-served queries install) co-exist
      graft.plans.RollupRewrite.register(s, source,
        walletTokenFlows(s, d),
        dims = Seq((col("wallet"), "wallet"), (col("token_id"), "token_id")),
        sums = Seq(
          (when(col("side") === "buy", col("qty")).otherwise(lit(0.0)),
            "buy_qty"),
          (when(col("side") === "sell", col("qty")).otherwise(lit(0.0)),
            "sell_qty")),
        countCol = Some("trades"))
      val q = source.groupBy(col("wallet"))
        .agg(count(lit(1)).as("trades"),
          sum(when(col("side") === "buy", col("qty")).otherwise(lit(0.0)))
            .as("buy_qty"),
          sum(when(col("side") === "sell", col("qty")).otherwise(lit(0.0)))
            .as("sell_qty"))
        .orderBy(col("wallet"))
      val plan = new graft.plans.RollupRewrite.RewriteRule(s)(
        q.queryExecution.analyzed)
      require(plan != q.queryExecution.analyzed, "rewrite must fire")
      org.apache.spark.sql.graft.ColumnBridge.ofRows(s, plan)
    }, Some(
      s"""WITH $WT
        |SELECT wallet, CAST(COUNT(*) AS BIGINT) AS trades,
        |  SUM(CASE WHEN side = 'buy' THEN qty ELSE 0.0 END) AS buy_qty,
        |  SUM(CASE WHEN side = 'sell' THEN qty ELSE 0.0 END) AS sell_qty
        |FROM wt GROUP BY wallet ORDER BY wallet""".stripMargin))
  )
}
