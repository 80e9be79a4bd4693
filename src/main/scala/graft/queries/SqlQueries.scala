package graft
package queries

import graft.queries.OracleFragments._

/** The `q_sql_*` family: reference endpoints written as Spark SQL
  * text over the session views. */
private[graft] object SqlQueries {
  val defs: Seq[QueryDef] = Seq(
    // Pure-SQL surface: the full query is ANSI SQL text over the
    // registered catalog views (graft.model.GraftCatalog) — the
    // reference's ClickHouse SQL surface, served by spark.sql.
    // Pure-SQL access to the materialized FIFO ledger view: per-event
    // profile with exact decimal cash deltas. The counts and the
    // usd_delta sums are derivable relationally (one ledger row per
    // fill; buys pay −usd, sells receive +usd), so DuckDB verifies the
    // catalog-registered fold output without re-running the fold.
    QueryDef("q_sql_ledger_profile", (s, d) => {
      graft.model.GraftCatalog.register(s, d)
      s.sql("""SELECT event_type, COUNT(*) AS n,
              |  CAST(SUM(CAST(usd_delta AS DECIMAL(18,4))) AS DOUBLE)
              |    AS cash_delta,
              |  COUNT(DISTINCT wallet) AS wallets
              |FROM wallet_ledger
              |GROUP BY event_type
              |ORDER BY event_type""".stripMargin)
    }, Some(
      s"""WITH $WT
        |SELECT side AS event_type, COUNT(*) AS n,
        |  CAST(SUM(CASE WHEN side = 'buy'
        |    THEN -CAST(usd AS DECIMAL(18,4))
        |    ELSE CAST(usd AS DECIMAL(18,4)) END) AS DOUBLE) AS cash_delta,
        |  COUNT(DISTINCT wallet) AS wallets
        |FROM wt GROUP BY side ORDER BY event_type""".stripMargin)),

    // Pure-SQL surface over the wallet_token_flows rollup view (the
    // r14 SummingMergeTree-style table): top net-flow positions, tie-
    // broken fully so the LIMIT boundary is deterministic.
    QueryDef("q_sql_wallet_flows", (s, d) => {
      graft.model.GraftCatalog.register(s, d)
      s.sql("""SELECT wallet, token_id, trades,
              |  CAST(bi AS DOUBLE) / 10000.0 AS buy_usd,
              |  CAST(si AS DOUBLE) / 10000.0 AS sell_usd,
              |  CAST(si - bi AS DOUBLE) / 10000.0 AS net_usd
              |FROM wallet_token_flows
              |ORDER BY net_usd DESC, wallet, token_id
              |LIMIT 50""".stripMargin)
    }, Some(
      s"""WITH $WT,
        |f AS (
        |  SELECT wallet, token_id, CAST(COUNT(*) AS BIGINT) AS trades,
        |    CAST(SUM(CASE WHEN side = 'buy'
        |      THEN CAST(usd * 10000 AS BIGINT) ELSE 0 END) AS BIGINT) AS bi,
        |    CAST(SUM(CASE WHEN side = 'sell'
        |      THEN CAST(usd * 10000 AS BIGINT) ELSE 0 END) AS BIGINT) AS si
        |  FROM wt GROUP BY 1, 2)
        |SELECT wallet, token_id, trades,
        |  CAST(bi AS DOUBLE) / 10000.0 AS buy_usd,
        |  CAST(si AS DOUBLE) / 10000.0 AS sell_usd,
        |  CAST(si - bi AS DOUBLE) / 10000.0 AS net_usd
        |FROM f
        |ORDER BY net_usd DESC, wallet, token_id
        |LIMIT 50""".stripMargin)),

    QueryDef("q_sql_market_volume", (s, d) => {
      graft.model.GraftCatalog.register(s, d)
      s.sql("""SELECT m.market, COUNT(*) AS trades,
              |  CAST(SUM(CAST(w.usd AS DECIMAL(18,4))) AS DOUBLE) AS volume_usd,
              |  COUNT(DISTINCT w.wallet) AS traders
              |FROM wallet_trades w JOIN token_metadata m USING (token_id)
              |GROUP BY m.market
              |ORDER BY volume_usd DESC, market
              |LIMIT 20""".stripMargin)
    }, Some(
      s"""WITH $WT
        |SELECT p.p_brand AS market, COUNT(*) AS trades,
        |  CAST(SUM(CAST(usd AS DECIMAL(18,4))) AS DOUBLE) AS volume_usd,
        |  COUNT(DISTINCT wallet) AS traders
        |FROM wt JOIN part p ON wt.token_id = p.p_partkey
        |GROUP BY p.p_brand
        |ORDER BY volume_usd DESC, market
        |LIMIT 20""".stripMargin)),

    // Pure-SQL arbitrary-interval candle re-aggregation over the
    // registered candles_1m view (the /market/candles SQL shape).
    QueryDef("q_sql_candles_4h", (s, d) => {
      graft.model.GraftCatalog.register(s, d)
      s.sql("""WITH c4 AS (
              |  SELECT token_id, bucket, open, high, low, close,
              |    volume_dec, trades,
              |    CAST(timestamp_seconds(
              |      CAST(FLOOR(CAST(bucket AS BIGINT) / 14400) AS BIGINT) * 14400)
              |      AS TIMESTAMP_NTZ) AS b4
              |  FROM candles_1m)
              |SELECT token_id, b4 AS bucket,
              |  min_by(open, bucket) AS open, MAX(high) AS high,
              |  MIN(low) AS low, max_by(close, bucket) AS close,
              |  SUM(trades) AS trades,
              |  CAST(SUM(volume_dec) AS DOUBLE) AS volume
              |FROM c4 GROUP BY token_id, b4
              |ORDER BY token_id, bucket""".stripMargin)
    }, Some(
      s"""WITH $EV,
        |ticks AS (
        |  SELECT token_id,
        |    make_timestamp(CAST(FLOOR(epoch(ts)/14400) AS BIGINT) * 14400 * 1000000) AS bucket,
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

    QueryDef("q_sql_daily_cumvol", (s, d) => {
      graft.model.GraftCatalog.register(s, d)
      s.sql("""WITH daily AS (
              |  SELECT wallet, CAST(date_trunc('DAY', ts) AS DATE) AS day,
              |    CAST(SUM(CAST(usd AS DECIMAL(18,4))) AS DOUBLE) AS vol
              |  FROM wallet_trades GROUP BY wallet, date_trunc('DAY', ts))
              |SELECT wallet, day, vol,
              |  CAST(SUM(CAST(vol AS DECIMAL(18,4)))
              |    OVER (PARTITION BY wallet ORDER BY day) AS DOUBLE) AS cum_vol
              |FROM daily
              |WHERE wallet % 100 = 0
              |ORDER BY wallet, day""".stripMargin)
    }, Some(
      s"""WITH $WT,
        |daily AS (
        |  SELECT wallet, CAST(date_trunc('day', ts) AS DATE) AS day,
        |    CAST(SUM(CAST(usd AS DECIMAL(18,4))) AS DOUBLE) AS vol
        |  FROM wt GROUP BY wallet, date_trunc('day', ts))
        |SELECT wallet, day, vol,
        |  CAST(SUM(CAST(vol AS DECIMAL(18,4)))
        |    OVER (PARTITION BY wallet ORDER BY day) AS DOUBLE) AS cum_vol
        |FROM daily
        |WHERE wallet % 100 = 0
        |ORDER BY wallet, day""".stripMargin))
  )
}
