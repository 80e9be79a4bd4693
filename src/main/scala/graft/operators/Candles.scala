package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** OHLCV candle aggregation.
  *
  * Reference: `polymarket.candles_1m` AggregatingMergeTree MV
  * (clickhouse/init/001_create_tables.sql:403-430) — open/close via
  * argMin/argMax over (block_number, log_index), plus the arbitrary-
  * interval re-aggregation in the `/market/candles` endpoint
  * (src/api.ts:1824-1876).
  *
  * Spark-first design: a single partial-aggregable `groupBy` using
  * `min_by`/`max_by` over a struct ordering key — the exact analogue
  * of ClickHouse `argMinState` — so the shuffle carries only one
  * partial state per (token, bucket) per map task. Re-aggregation to a
  * coarser interval (1m → 1h) consumes the fine-grained candles, not
  * the raw trades: the AggregatingMergeTree pattern, ~3 orders of
  * magnitude less data at 100 TB.
  */
object Candles {

  /** Candles from a raw tick stream.
    *
    * @param ticks   (tokenCol, tsCol, seqCol, priceCol, usdCol) rows
    * @param bucket  truncation unit understood by date_trunc, e.g. "minute"
    */
  def fromTicks(ticks: DataFrame, bucket: String, token: Column, ts: Column,
                seq: Column, price: Column, usd: Column): DataFrame = {
    // price as the FINAL ordering component: (ts, seq) need not be
    // unique (trade_id duplicates exist in the synthetic data), and a
    // tie with differing price would otherwise make the open/close
    // pick partition-order-dependent. With price last, a tie opens at
    // its min price and closes at its max — deterministic, and the
    // oracle SQL replays the same refinement.
    val ord = struct(ts.as("ts"), seq.as("seq"), price.as("p"))
    ticks
      .groupBy(token.as("token_id"), date_trunc(bucket, ts).as("bucket"))
      .agg(
        min_by(price, ord).as("open"),
        max(price).as("high"),
        min(price).as("low"),
        max_by(price, ord).as("close"),
        // volume partial as the exact 1e-4-scaled BIGINT of the
        // DECIMAL(18,4) sum: re-aggregation is an exact, order-
        // independent integer sum; /1e4 to double only at the edge
        sum(round(usd * 10000).cast("long")).as("volume_i"),
        count(lit(1)).as("trades")
      )
  }

  /** Public output shape: volume as double (the same double as the
    * DECIMAL(18,4) sum's cast). */
  def finalize(candles: DataFrame): DataFrame =
    candles.withColumn("volume", col("volume_i") / 10000.0)
      .drop("volume_i")

  /** Re-aggregate fine candles into a coarser interval. `open` of the
    * coarse candle = `open` of the earliest fine bucket, etc. */
  def reaggregate(candles: DataFrame, bucket: String): DataFrame = {
    val ord = col("bucket")
    candles
      .groupBy(col("token_id"), date_trunc(bucket, col("bucket")).as("bucket2"))
      .agg(
        min_by(col("open"), ord).as("open"),
        max(col("high")).as("high"),
        min(col("low")).as("low"),
        max_by(col("close"), ord).as("close"),
        sum(col("volume_i")).as("volume_i"),
        sum(col("trades")).as("trades")
      )
      .withColumnRenamed("bucket2", "bucket")
  }

  /** Re-aggregate fine candles into an arbitrary epoch-aligned
    * interval — 5m/15m/4h/1w and friends (reference: the
    * `/market/candles` endpoint's `toStartOfInterval(INTERVAL n unit)`
    * re-aggregation of candles_1m, src/api.ts:1841-1859). Buckets are
    * floor(epoch / seconds) · seconds, so any interval works — not
    * just the named `date_trunc` units that [[reaggregate]] takes. */
  def reaggregateInterval(candles: DataFrame, intervalSeconds: Long): DataFrame = {
    val ord = col("bucket")
    val b2 = timestamp_seconds(
      floor(col("bucket").cast("long") / intervalSeconds).cast("long") *
        intervalSeconds).cast("timestamp_ntz")
    candles
      .groupBy(col("token_id"), b2.as("bucket2"))
      .agg(
        min_by(col("open"), ord).as("open"),
        max(col("high")).as("high"),
        min(col("low")).as("low"),
        max_by(col("close"), ord).as("close"),
        sum(col("volume_i")).as("volume_i"),
        sum(col("trades")).as("trades")
      )
      .withColumnRenamed("bucket2", "bucket")
  }

  /** "5m" / "15m" / "4h" / "1d" / "1w" → seconds (the reference API's
    * interval grammar, api.ts:1824). */
  def intervalSeconds(interval: String): Long = {
    val m = "^(\\d+)([smhdw])$".r
    interval.trim match {
      case m(n, u) =>
        n.toLong * (u match {
          case "s" => 1L; case "m" => 60L; case "h" => 3600L
          case "d" => 86400L; case "w" => 604800L
        })
      case other => throw new IllegalArgumentException(
        s"bad interval '$other' (want e.g. 5m, 15m, 4h, 1w)")
    }
  }

  /** Gap-fill a candle series to a dense per-token time grid — the
    * ClickHouse `WITH FILL` / chart-API surface: buckets with no
    * trades become flat candles at the previous close with zero
    * volume/trades. The grid spans each token's own [min, max] bucket
    * range (sequence + explode), the fill is one `last_value ignore
    * nulls` window per token — grid size is #tokens × #buckets, chart
    * cardinality, never trade cardinality. */
  def gapFill(candles: DataFrame, stepSeconds: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val grid = candles.groupBy(col("token_id"))
      .agg(min(col("bucket")).as("b0"), max(col("bucket")).as("b1"))
      .select(col("token_id"), explode(sequence(col("b0"), col("b1"),
        expr(s"INTERVAL $stepSeconds SECONDS"))).as("bucket"))
    val w = Window.partitionBy(col("token_id")).orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, 0)
    grid.join(candles, Seq("token_id", "bucket"), "left")
      .withColumn("close_ff", last(col("close"), ignoreNulls = true).over(w))
      .select(col("token_id"), col("bucket"),
        coalesce(col("open"), col("close_ff")).as("open"),
        coalesce(col("high"), col("close_ff")).as("high"),
        coalesce(col("low"), col("close_ff")).as("low"),
        coalesce(col("close"), col("close_ff")).as("close"),
        coalesce(col("volume"), lit(0.0)).as("volume"),
        coalesce(col("trades"), lit(0L)).as("trades"),
        col("open").isNull.as("filled"))
  }

  /** Gap-filled series with LINEAR interpolation of the close instead
    * of [[gapFill]]'s hold-forward: a missing bucket gets
    * prev + (next − prev) · (t − t_prev)/(t_next − t_prev) between its
    * nearest real closes. The grid spans min..max real bucket per
    * token, so every gap has both neighbours by construction. Same
    * scale shape as [[gapFill]]: per-token grid explode + one
    * partitioned window pass in each direction — no unpartitioned
    * window, no self-join. */
  def gapFillInterp(candles: DataFrame, stepSeconds: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val grid = candles.groupBy(col("token_id"))
      .agg(min(col("bucket")).as("b0"), max(col("bucket")).as("b1"))
      .select(col("token_id"), explode(sequence(col("b0"), col("b1"),
        expr(s"INTERVAL $stepSeconds SECONDS"))).as("bucket"))
    val wAsc = Window.partitionBy(col("token_id")).orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, 0)
    // "next" values ride a DESCENDING running-last frame, not a
    // (CURRENT, UNBOUNDED FOLLOWING) frame: Spark's
    // UnboundedFollowingWindowFunctionFrame re-scans the partition
    // remainder per row — O(n²) per token over a years-long hourly
    // grid (measured 17 s cold vs 1.5 s for gapFill at sf0.1). The
    // reversed running accumulator is the O(n) shape; it costs one
    // extra sort of the same exchange, nothing more.
    val wDescRev = Window.partitionBy(col("token_id"))
      .orderBy(col("bucket").desc)
      .rowsBetween(Window.unboundedPreceding, 0)
    val realBucket = when(col("close").isNotNull, col("bucket"))
    grid.join(candles.select(col("token_id"), col("bucket"), col("close")),
        Seq("token_id", "bucket"), "left")
      .withColumn("prev_close", last(col("close"), ignoreNulls = true).over(wAsc))
      .withColumn("next_close", last(col("close"), ignoreNulls = true).over(wDescRev))
      .withColumn("prev_b", last(realBucket, ignoreNulls = true).over(wAsc))
      .withColumn("next_b", last(realBucket, ignoreNulls = true).over(wDescRev))
      .select(col("token_id"), col("bucket"), col("close"),
        when(col("close").isNotNull, col("close"))
          .otherwise(col("prev_close") +
            (col("next_close") - col("prev_close")) *
            ((unix_timestamp(col("bucket")) - unix_timestamp(col("prev_b")))
              .cast("double") /
             (unix_timestamp(col("next_b")) - unix_timestamp(col("prev_b")))
              .cast("double"))).as("close_interp"),
        col("close").isNull.as("filled"))
  }

  /** Last traded price per token (reference: token_last_price MV,
    * 001:552-568 — argMax over (block_number, log_index)). */
  def lastPrice(ticks: DataFrame, token: Column, ts: Column, seq: Column,
                price: Column): DataFrame = {
    // same tie refinement as [[fromTicks]]: a (ts, seq) tie resolves
    // to its max price on both engines
    val ord = struct(ts.as("ts"), seq.as("seq"), price.as("p"))
    ticks.groupBy(token.as("token_id"))
      .agg(max_by(price, ord).as("last_price"), max(ts).as("last_ts"))
  }

  /** Rolling per-token volume per hour (reference: token_volume_1h MV,
    * 001:571-589, used by discovery ranking windows). */
  def tokenVolume(ticks: DataFrame, bucket: String, token: Column, ts: Column,
                  usd: Column): DataFrame =
    ticks.groupBy(token.as("token_id"), date_trunc(bucket, ts).as("hour"))
      .agg(sum(usd).cast("double").as("volume_usd"), count(lit(1)).as("trades"))

  /** Top movers: last traded price vs the price as of (max ts −
    * lookback days) per token, change in floored basis points — the
    * "24h change" column of every discovery/trending surface
    * (reference: handleDiscoverMarkets ranking windows, api.ts:1942).
    * The global cutoff is a 1-row aggregate cross-joined in the same
    * job (scalar-subquery shape — no driver-blocking pre-action);
    * both price points are max_by partial aggregates, so the whole
    * query is two map-side-combined aggregations over the fact table
    * and a tiny join. */
  def priceChange(trades: DataFrame, lookbackDays: Int, k: Int): DataFrame = {
    // (ts, trade_id, price): same tie refinement as [[fromTicks]]
    val ord = struct(col("ts"), col("trade_id"), col("price"))
    val cutoff = trades.agg(
      date_sub(max(col("ts")).cast("date"), lookbackDays).as("__cutoff"))
    val last = trades.groupBy(col("token_id"))
      .agg(max_by(col("price"), ord).as("last_price"))
    val prev = trades.join(broadcast(cutoff))
      .filter(col("ts") <= col("__cutoff"))
      .groupBy(col("token_id"))
      .agg(max_by(col("price"), ord).as("prev_price"))
    last.join(prev, Seq("token_id"))
      .filter(col("prev_price") > 0)
      .select(col("token_id"), col("last_price"), col("prev_price"),
        floor((col("last_price") / col("prev_price") - 1) * 1e4).cast("long")
          .as("change_bp"))
      .orderBy(col("change_bp").desc, col("token_id"))
      .limit(k)
  }
}
