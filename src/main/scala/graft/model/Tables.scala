package graft.model

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Canonical table loaders + derived views over the driver's testdata.
  *
  * Data mapping (SURVEY.md §3): the TPC-H-ish tables stand in for the
  * reference's on-chain tables (reference schema:
  * /root/reference/clickhouse/init/001_create_tables.sql).
  *
  *  - `trades`  := lineitem ⋈ orders  (reference: polymarket.trades, 001:9)
  *  - `transfers` := the same rows seen as maker→taker token movements
  *    (reference: polymarket.transfers, 001:160)
  *  - `events`  := fine-grained activity stream (minute timestamps)
  *
  * All money amounts are computed as DECIMAL(18,4) so that sums are
  * exact and order-independent (oracle-hash safe), then exposed as
  * DOUBLE in final projections. A stored rollup partial (a session MV
  * column) holds such a decimal's unscaled value as a 1e-4-scaled
  * BIGINT: fixed-width, integer-summed, and while |value| < 2^53
  * `/ 10000.0` gives the same double as the decimal's cast.
  */
object Tables {

  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  def lineitem(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "lineitem")
  def orders(spark: SparkSession, dir: String): DataFrame   = load(spark, dir, "orders")
  def customer(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame     = load(spark, dir, "part")
  def nation(spark: SparkSession, dir: String): DataFrame   = load(spark, dir, "nation")
  def region(spark: SparkSession, dir: String): DataFrame   = load(spark, dir, "region")
  /** events.parquet has carried TIMESTAMP(NANOS) in some generator
    * versions (no native Spark type — read raw nanos as long and
    * truncate to microseconds) and plain TIMESTAMP(MICROS) in others.
    * Branch on the loaded type so both generations read identically
    * (the oracle mirrors with CAST(ts AS TIMESTAMP)). */
  def events(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = load(spark, dir, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case _ => raw
    }
  }
  def documents(spark: SparkSession, dir: String): DataFrame  = load(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "embeddings")

  /** Canonical trade stream (reference: polymarket.trades 001:9-44 +
    * wallet roles). One row per lineitem; the orders join supplies the
    * taker (customer) wallet. The join key (orderkey) is the natural
    * co-partitioning key; at scale both sides would be bucketed by it
    * (`graft.sources.BucketedWarehouse` writes that layout; BucketedSpec
    * pins its shuffle-free join).
    *
    * Columns: trade_id, ts, maker, taker, token_id, qty, usd, price,
    * is_taker_buy, is_maker_buy.
    */
  def trades(spark: SparkSession, dir: String): DataFrame = {
    val li = lineitem(spark, dir)
    val o  = orders(spark, dir).select("o_orderkey", "o_custkey")
    li.join(o, li("l_orderkey") === o("o_orderkey"))
      .select(
        (col("l_orderkey") * lit(10L) + col("l_linenumber")).as("trade_id"),
        col("l_shipdate").as("ts"),
        // supplier wallets live in their own id namespace so they can
        // never collide with customer wallets
        (col("l_suppkey") + lit(1000000L)).cast("long").as("maker"),
        col("o_custkey").cast("long").as("taker"),
        col("l_partkey").cast("long").as("token_id"),
        col("l_quantity").as("qty"),
        (col("l_extendedprice").cast("decimal(18,4)") *
          (lit(1).cast("decimal(18,4)") - col("l_discount").cast("decimal(18,4)")))
          .cast("decimal(18,4)").as("usd"),
        (col("l_extendedprice") * (lit(1.0) - col("l_discount")) / col("l_quantity")).as("price"),
        // exchange fee on the fill (reference: trades.fee, 001:27) —
        // the tax rate stands in for the fee schedule
        (col("l_extendedprice").cast("decimal(18,4)") *
          (lit(1).cast("decimal(18,4)") - col("l_discount").cast("decimal(18,4)")) *
          col("l_tax").cast("decimal(18,4)")).cast("decimal(18,6)").as("fee"),
        (col("l_returnflag") =!= lit("R")).as("is_taker_buy"),
        (col("l_returnflag") === lit("R")).as("is_maker_buy")
      )
  }

  /** Token transfers derived from trades: tokens move from the selling
    * wallet to the buying wallet (reference: polymarket.transfers
    * 001:160 feeding user_balances 001:382). */
  def transfers(spark: SparkSession, dir: String): DataFrame =
    transfersFrom(trades(spark, dir))

  def transfersFrom(trades: DataFrame): DataFrame =
    trades.select(
      col("trade_id").as("transfer_id"),
      col("ts"),
      when(col("is_taker_buy"), col("maker")).otherwise(col("taker")).as("from"),
      when(col("is_taker_buy"), col("taker")).otherwise(col("maker")).as("to"),
      col("token_id"),
      col("qty").as("value")
    )

  /** Event stream with wallet/token/side semantics (minute-granular ts,
    * used for fine-interval candles and the activity feed). */
  def eventStream(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir).select(
      col("event_id"),
      col("ts"),
      col("user_id").as("wallet"),
      col("event_type"),
      get_json_object(col("props"), "$.k").cast("long").as("token_id"),
      col("value").as("price"),
      col("value").cast("decimal(18,4)").as("usd")
    )
}
