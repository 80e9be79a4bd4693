package graft

import graft.streaming.StreamJoin
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Stream-stream interval join: fills match their order iff they land
  * within the delay interval; unmatched and out-of-interval fills
  * never appear; the streamed result equals the equivalent batch join.
  */
class StreamJoinSpec extends SparkSpec {
  import spark.implicits._

  private val orderSchema = StructType(Seq(
    StructField("order_id", LongType),
    StructField("order_ts", TimestampType)))
  private val fillSchema = StructType(Seq(
    StructField("fill_id", LongType),
    StructField("order_id", LongType),
    StructField("fill_ts", TimestampType)))

  test("fills join orders within the interval; stream equals batch") {
    val dir = tempDir("graft-sj").toString
    new java.io.File(s"$dir/orders").mkdirs()
    new java.io.File(s"$dir/fills").mkdirs()

    val ordersDf = Seq(
      (1L, "2024-01-01 10:00:00"),
      (2L, "2024-01-01 10:05:00")
    ).toDF("order_id", "ts_s")
      .select(col("order_id"), col("ts_s").cast("timestamp").as("order_ts"))
    val fillsDf = Seq(
      (10L, 1L, "2024-01-01 10:02:00"),  // in interval
      (11L, 1L, "2024-01-01 10:20:00"),  // 20 min late > 15 → excluded
      (12L, 2L, "2024-01-01 10:10:00"),  // in interval
      (13L, 99L, "2024-01-01 10:03:00")  // no such order
    ).toDF("fill_id", "order_id", "ts_s")
      .select(col("fill_id"), col("order_id"),
        col("ts_s").cast("timestamp").as("fill_ts"))

    ordersDf.coalesce(1).write.mode("append").parquet(s"$dir/orders")
    fillsDf.coalesce(1).write.mode("append").parquet(s"$dir/fills")

    val oStream = spark.readStream.schema(orderSchema).parquet(s"$dir/orders")
    val fStream = spark.readStream.schema(fillSchema).parquet(s"$dir/fills")
    val q = StreamJoin.fillsWithOrders(oStream, fStream, 15)
      .select(col("fill_id"), col("order_id"), col("fill_ts"), col("order_ts"))
      .writeStream.format("memory").queryName("sj_out")
      .outputMode("append").start()
    q.processAllAvailable()
    q.stop()

    val streamed = spark.sql("SELECT fill_id FROM sj_out")
      .collect().map(_.getLong(0)).toSet
    assert(streamed == Set(10L, 12L))

    // batch twin over the same inputs
    val batch = fillsDf.join(
        ordersDf.withColumnRenamed("order_id", "o_order_id"),
        expr("""order_id = o_order_id AND fill_ts >= order_ts AND
               |fill_ts <= order_ts + interval 15 minutes""".stripMargin))
      .select(col("fill_id")).collect().map(_.getLong(0)).toSet
    assert(streamed == batch)
  }
}
