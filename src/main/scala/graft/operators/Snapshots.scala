package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Portfolio history, PnL deltas, and total-PnL valuation.
  *
  * Reference: `wallet_pnl_snapshots` (001:318), snapshot-scheduler.ts,
  * `/portfolio/history` (api.ts:995) and `/pnl/:wallet` (delta between
  * two snapshots, src/pnl-from-snapshots.ts), plus the ledger engine's
  * `PnlMode.TOTAL_PNL` (cashflow + inventory marked at last price,
  * src/ledger-engine.ts:17-22).
  *
  * Spark-first: snapshots are running window sums over per-day partial
  * aggregates — the day-level pre-aggregation shrinks the window input
  * by orders of magnitude before any sort, and the window partitions by
  * wallet(/token) so state never crosses executors.
  */
object Snapshots {

  /** Per (wallet, token, day) buy/sell flow partials — the additive
    * wallet-day MV shape (`graft.model.Views.dailyFlows`, the
    * reference's wallet_pnl_snapshots feeder). Each partial is the
    * exact unscaled value of a DECIMAL(18,4) sum as a 1e-4-scaled
    * BIGINT (`usd` is DECIMAL(18,4) already; `qty` is rounded by the
    * decimal cast first), so the stored state is fixed-width and every
    * re-aggregation is an integer sum. ADDITIVE: partial rows for the
    * same key from different batches sum — re-aggregate with
    * [[mergeDailyFlows]] before consuming. */
  def dailyFlowPartials(walletTrades: DataFrame): DataFrame = {
    val usdI = round(col("usd") * 10000).cast("long")
    val qtyI = (col("qty").cast("decimal(18,4)") * 10000).cast("long")
    def side(s: String, v: Column) =
      sum(when(col("side") === s, v).otherwise(0L))
    walletTrades
      .groupBy(col("wallet"), col("token_id"),
        date_trunc("day", col("ts")).as("day"))
      .agg(side("buy", usdI).as("buy_usd_i"), side("buy", qtyI).as("buy_qty_i"),
        side("sell", usdI).as("sell_usd_i"), side("sell", qtyI).as("sell_qty_i"))
  }

  /** Re-aggregate appended flow partials to one row per key. */
  def mergeDailyFlows(partials: DataFrame): DataFrame =
    partials.groupBy(col("wallet"), col("token_id"), col("day"))
      .agg(sum(col("buy_usd_i")).as("buy_usd_i"),
        sum(col("buy_qty_i")).as("buy_qty_i"),
        sum(col("sell_usd_i")).as("sell_usd_i"),
        sum(col("sell_qty_i")).as("sell_qty_i"))

  /** Per wallet × day: running net cashflow, running inventory value
    * (holdings marked at the global last price), and their sum.
    *
    * @param walletTrades [[Leaderboard.walletTrades]] output
    * @param lastPrice    (token_id, last_price) dim, broadcast
    */
  def portfolioHistory(walletTrades: DataFrame, lastPrice: DataFrame): DataFrame =
    portfolioHistoryFromDaily(dailyFlowPartials(walletTrades), lastPrice)

  /** [[portfolioHistory]] over pre-maintained wallet-day flow partials
    * (`graft.model.Views.dailyFlows` — the reference's ingest-time
    * MV): the raw-trade groupBy is skipped entirely; the partials are
    * orders of magnitude smaller than the trades. The portfolio value
    * as-of day d, marked at the final last price, is
    * Σ_t cumqty_t(d)·lp_t = running sum over days of Σ_t Δqty_t(d)·lp_t,
    * so one wallet-level running window over day deltas suffices. */
  def portfolioHistoryFromDaily(daily: DataFrame, lastPrice: DataFrame): DataFrame = {
    // Product-of-doubles summands are scaled ×10⁴ and floored to
    // BIGINT: floor depends only on the binary double (identical in
    // any engine), and integer sums are exact — so the running totals
    // are bit-reproducible. The day's net qty as a double is the
    // scaled integer / 1e4: the same double as its DECIMAL(18,4) cast.
    val perDay = daily
      .join(broadcast(lastPrice.select(col("token_id"), col("last_price"))),
        Seq("token_id"), "left")
      .withColumn("value_delta_s",
        floor((col("buy_qty_i") - col("sell_qty_i")) / 10000.0
          * coalesce(col("last_price"), lit(0.0)) * 1e4).cast("long"))
      .groupBy(col("wallet"), col("day"))
      .agg(sum(col("sell_usd_i") - col("buy_usd_i")).as("day_cash_s"),
           sum(col("value_delta_s")).as("day_value_s"))

    runningTotals(perDay)
  }

  /** Lighter plan shape for the same snapshot semantics, with the
    * mark-to-market delta floored per FILL instead of per
    * (wallet, token, day): the broadcast price join happens on the raw
    * rows, so the whole pipeline is one (wallet, day) groupBy plus the
    * running window — two keyed shuffles instead of three (PLANS.md
    * r2 item). Values differ from [[portfolioHistory]] only by the
    * per-row vs per-day flooring (≤1e-4 per fill). */
  def portfolioHistoryLight(walletTrades: DataFrame, lastPrice: DataFrame): DataFrame = {
    val perDay = walletTrades
      .join(broadcast(lastPrice.select(col("token_id"), col("last_price"))),
        Seq("token_id"), "left")
      .withColumn("signed_qty",
        when(col("side") === "buy", col("qty")).otherwise(-col("qty")))
      .withColumn("value_delta_s",
        floor(col("signed_qty") * coalesce(col("last_price"), lit(0.0)) * 1e4)
          .cast("long"))
      // ONE range exchange on wallet serves the whole chain (r15):
      // RangePartitioning(wallet) satisfies the groupBy's
      // ClusteredDistribution(wallet, day), the running-total window's
      // partitionBy(wallet), AND — equal wallets share a partition —
      // the caller's (wallet, day) output order as an in-partition
      // sort. The r14 plan paid three exchanges over the same rows.
      .repartitionByRange(col("wallet"))
      .groupBy(col("wallet"), date_trunc("day", col("ts")).as("day"))
      // 1e-4-scaled LONG cash sum (usd ≤4-decimals-exact): integer
      // partial agg, one /1e4 per output row — same exact value as
      // the decimal sum (PLANS r13)
      .agg(sum(when(col("side") === "sell", round(col("usd") * 10000).cast("long"))
          .otherwise(-round(col("usd") * 10000).cast("long"))).as("day_cash_s"),
        sum(col("value_delta_s")).as("day_value_s"))

    runningTotals(perDay)
  }

  private def runningTotals(perDay: DataFrame): DataFrame = {
    val wW = Window.partitionBy(col("wallet")).orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, 0)
    perDay
      .withColumn("cum_cashflow", sum(col("day_cash_s")).over(wW) / 10000.0)
      .withColumn("portfolio_value", sum(col("day_value_s")).over(wW) / 10000.0)
      .withColumn("total_value",
        sum(col("day_cash_s")).over(wW) / 10000.0 +
          sum(col("day_value_s")).over(wW) / 10000.0)
      .select(col("wallet"), col("day"), col("cum_cashflow"),
        col("portfolio_value"), col("total_value"))
  }

  /** Downsample snapshot rows to a coarser interval, keeping the
    * latest row in each bucket (reference: /portfolio/history —
    * toStartOfInterval + argMax(value, snapshot_time)). */
  def downsample(snapshots: DataFrame, tsCol: String, interval: String,
                 valueCols: Seq[String]): DataFrame =
    snapshots.groupBy(col("wallet"),
        date_trunc(interval, col(tsCol)).as("bucket"))
      .agg(max(col(tsCol)).as("asof_ts"),
        valueCols.map(c => max_by(col(c), col(tsCol)).as(c)): _*)

  /** Per-interval PnL decomposition snapshots (reference:
    * wallet_pnl_snapshots 001:318-334 carries realized_pnl,
    * unrealized_pnl, open_positions_value, token_count per snapshot
    * row; /portfolio/history serves realized+unrealized per interval,
    * api.ts:995-1030).
    *
    * Average-cost decomposition, cumulative as of each snapshot day d:
    *   avg_cost_t(d)  = cum_buy_usd_t / cum_buy_qty_t
    *   realized(d)    = Σ_t cum_sell_usd_t − cum_sell_qty_t · avg_cost_t
    *   open_qty_t(d)  = cum_buy_qty_t − cum_sell_qty_t
    *   unrealized(d)  = Σ_t open_qty_t · (last_price_t − avg_cost_t)
    *   open_value(d)  = Σ_t open_qty_t · last_price_t
    *   token_count(d) = #{t : open_qty_t(d) > 0}
    *
    * A wallet's snapshot grid is its active-day set, but the grid is
    * never materialized: a token's per-day state f_t(d) (all scaled to
    * exact BIGINTs) changes only on days the token trades, so the
    * wallet-day total A(d) = Σ_t f_t(d) satisfies
    * A(d) = A(d−1) + Σ_{t traded on d} (f_t(d) − f_t(prev trade day)).
    * We therefore compute per-token state on trade days only, lag-diff
    * it into deltas, sum deltas per (wallet, day), and take one running
    * window per wallet. Rows stay bounded by distinct
    * (wallet, token, trade-day) — no days × tokens cross product (the
    * naive densified grid is quadratic per wallet and was 50× slower
    * at sf0.1). Integer summands make every step exact and
    * order-independent (oracle-hash safe, see portfolioHistory).
    */
  def pnlSnapshots(walletTrades: DataFrame, lastPrice: DataFrame): DataFrame =
    pnlSnapshotsFromDaily(dailyFlowPartials(walletTrades), lastPrice)

  /** [[pnlSnapshots]] over the pre-maintained wallet-day flow MV
    * (`graft.model.Views.dailyFlows`) — skips the raw-trade groupBy. */
  def pnlSnapshotsFromDaily(daily: DataFrame, lastPrice: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("wallet"), col("token_id")).orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, 0)
    // ONE range exchange on wallet serves the whole chain (the
    // portfolioHistory trick, r15): RangePartitioning(wallet)
    // clusters every (wallet, token_id) window partition, the
    // (wallet, day) groupBy, the per-wallet running window, AND
    // prefix-satisfies the caller's (wallet, day) output order — the
    // previous plan paid three hash exchanges plus a final range
    // exchange over the same rows (2.5 s → ~1.4 s steady at sf0.1).
    // All summands are scaled BIGINTs, so the re-distribution cannot
    // move a float (oracle-hash safe).
    val state = daily
      .repartitionByRange(col("wallet"))
      .withColumn("cum_buy_usd", sum(col("buy_usd_i")).over(w))
      .withColumn("cum_buy_qty", sum(col("buy_qty_i")).over(w))
      .withColumn("cum_sell_usd", sum(col("sell_usd_i")).over(w))
      .withColumn("cum_sell_qty", sum(col("sell_qty_i")).over(w))
      .join(broadcast(lastPrice.select(col("token_id"), col("last_price"))),
        Seq("token_id"), "left")
      .withColumn("lp", coalesce(col("last_price"), lit(0.0)))
      // each running sum enters double arithmetic once, as its exact
      // value / 1e4 (the double of the decimal it stands for)
      .withColumn("avg_cost", when(col("cum_buy_qty") > 0,
        (col("cum_buy_usd") / 10000.0) / (col("cum_buy_qty") / 10000.0))
        .otherwise(0.0))
      .withColumn("open_qty", (col("cum_buy_qty") - col("cum_sell_qty")) / 10000.0)
      .withColumn("realized_s", floor((col("cum_sell_usd") / 10000.0 -
        col("cum_sell_qty") / 10000.0 * col("avg_cost")) * 1e4).cast("long"))
      .withColumn("unreal_s",
        floor(col("open_qty") * (col("lp") - col("avg_cost")) * 1e4).cast("long"))
      .withColumn("value_s", floor(col("open_qty") * col("lp") * 1e4).cast("long"))
      .withColumn("has_pos",
        when(col("cum_buy_qty") - col("cum_sell_qty") > 0, 1L).otherwise(0L))
    // lag-diff each exact per-token series into deltas on trade days
    val lagW = Window.partitionBy(col("wallet"), col("token_id")).orderBy(col("day"))
    def delta(c: String): org.apache.spark.sql.Column =
      col(c) - lag(col(c), 1, 0L).over(lagW)
    val perDay = state.select(col("wallet"), col("day"),
        delta("realized_s").as("d_realized"),
        delta("unreal_s").as("d_unreal"),
        delta("value_s").as("d_value"),
        delta("has_pos").as("d_pos"))
      .groupBy(col("wallet"), col("day"))
      .agg(sum(col("d_realized")).as("d_realized"),
        sum(col("d_unreal")).as("d_unreal"),
        sum(col("d_value")).as("d_value"),
        sum(col("d_pos")).as("d_pos"))
    val runW = Window.partitionBy(col("wallet")).orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, 0)
    perDay.select(col("wallet"), col("day"),
        (sum(col("d_realized")).over(runW) / 10000.0).as("realized_pnl"),
        (sum(col("d_unreal")).over(runW) / 10000.0).as("unrealized_pnl"),
        (sum(col("d_value")).over(runW) / 10000.0).as("open_value"),
        sum(col("d_pos")).over(runW).as("token_count"))
      .withColumn("total_pnl", col("realized_pnl") + col("unrealized_pnl"))
  }

  /** Realized-cashflow PnL delta between two timestamps per wallet
    * (reference: /pnl/:wallet?startTs=&endTs=). */
  def pnlDelta(walletTrades: DataFrame, fromTs: String, toTs: String): DataFrame =
    walletTrades
      .withColumn("signed",
        when(col("side") === "sell", col("usd")).otherwise(-col("usd")))
      .groupBy(col("wallet"))
      .agg(
        sum(when(col("ts") < lit(fromTs), col("signed"))
          .otherwise(lit(0).cast("decimal(18,4)"))).cast("double").as("cashflow_before"),
        sum(when(col("ts") >= lit(fromTs) && col("ts") < lit(toTs), col("signed"))
          .otherwise(lit(0).cast("decimal(18,4)"))).cast("double").as("cashflow_delta"),
        sum(col("signed")).cast("double").as("cashflow_total"))

  /** [[pnlDelta]] re-aggregated from the (wallet, token, day) daily-flow
    * partials: both cut timestamps are day-aligned, so `ts < cut` ⟺
    * `day < cut`, and the signed sums fold exactly from the per-day
    * (sell_usd_i − buy_usd_i) scaled partials; `/ 10000.0` is the
    * same double the raw path's decimal cast gives. */
  def pnlDeltaFromDaily(dailyFlows: DataFrame, fromTs: String,
                        toTs: String): DataFrame = {
    val signed = col("sell_usd_i") - col("buy_usd_i")
    dailyFlows.groupBy(col("wallet"))
      .agg(
        (sum(when(col("day") < lit(fromTs), signed).otherwise(0L)) / 10000.0)
          .as("cashflow_before"),
        (sum(when(col("day") >= lit(fromTs) && col("day") < lit(toTs), signed)
          .otherwise(0L)) / 10000.0).as("cashflow_delta"),
        (sum(signed) / 10000.0).as("cashflow_total"))
  }

  /** [[totalPnl]] with the cashflow side folded from the (wallet,
    * token) flows rollup's exact 1e-4-scaled longs — `(Σsi − Σbi) /
    * 10000.0` is the identical correctly-rounded double the decimal
    * path casts. */
  def totalPnlFromFlows(flows: DataFrame, balances: DataFrame,
                        lastPrice: DataFrame): DataFrame = {
    val cash = flows.groupBy(col("wallet"))
      .agg(((sum(col("si")) - sum(col("bi"))) / 10000.0).as("cash_d"))
    val inv = balances
      .join(broadcast(lastPrice.select(col("token_id"), col("last_price"))),
        Seq("token_id"), "left")
      .groupBy(col("wallet"))
      .agg(sum(floor(col("balance") * coalesce(col("last_price"), lit(0.0)) * 1e4)
        .cast("long")).as("inv_s"))
    cash.join(inv, Seq("wallet"), "left")
      .select(col("wallet"),
        col("cash_d").as("net_cashflow_usd"),
        (coalesce(col("inv_s"), lit(0L)) / 10000.0).as("inventory_value_usd"),
        (col("cash_d") + coalesce(col("inv_s"), lit(0L)) / 10000.0)
          .as("total_pnl_usd"))
  }

  /** Mode-4 total PnL: net cashflow + final inventory marked at last
    * traded price (reference: ledger-engine PnlMode.TOTAL_PNL). */
  def totalPnl(walletTrades: DataFrame, balances: DataFrame,
               lastPrice: DataFrame): DataFrame = {
    val cash = walletTrades
      .groupBy(col("wallet"))
      .agg(sum(when(col("side") === "sell", col("usd")).otherwise(-col("usd")))
        .as("cash_dec"))
    // scale-and-floor to BIGINT: engine-independent (see portfolioHistory)
    val inv = balances
      .join(broadcast(lastPrice.select(col("token_id"), col("last_price"))),
        Seq("token_id"), "left")
      .groupBy(col("wallet"))
      .agg(sum(floor(col("balance") * coalesce(col("last_price"), lit(0.0)) * 1e4)
        .cast("long")).as("inv_s"))
    cash.join(inv, Seq("wallet"), "left")
      .select(col("wallet"),
        col("cash_dec").cast("double").as("net_cashflow_usd"),
        (coalesce(col("inv_s"), lit(0L)) / 10000.0).as("inventory_value_usd"),
        (col("cash_dec").cast("double") + coalesce(col("inv_s"), lit(0L)) / 10000.0)
          .as("total_pnl_usd"))
  }
}
