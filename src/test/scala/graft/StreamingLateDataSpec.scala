package graft

import graft.streaming.StreamingIngest
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Watermark/late-data semantics of the streaming candle MV: an event
  * arriving before the watermark passes its window merges into the
  * candle; an event arriving after the watermark has passed its window
  * end is dropped (the candle was already finalized and emitted) — the
  * streaming analogue of the reference's hot-block finality depth:
  * corrections are only accepted inside the hot range.
  */
class StreamingLateDataSpec extends SparkSpec {
  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampType),
    StructField("token_id", LongType),
    StructField("price", DoubleType),
    StructField("usd", DoubleType)))

  test("append candles: in-watermark merges, beyond-watermark late rows drop") {
    val dir = tempDir("graft-late").toString
    new java.io.File(s"$dir/in").mkdirs()

    def write(sub: String, rs: Seq[(Long, String, Long, Double, Double)]): Unit =
      rs.toDF("event_id", "ts_s", "token_id", "price", "usd")
        .select(col("event_id"), col("ts_s").cast("timestamp").as("ts"),
          col("token_id"), col("price"), col("usd"))
        .coalesce(1).write.parquet(s"$dir/$sub")

    val stream = spark.readStream.schema(schema).parquet(s"$dir/in")
    val q = StreamingIngest.candleStream(stream, "10 minutes")
      .writeStream.format("memory").queryName("late_out")
      .outputMode("append").start()

    def feed(sub: String): Unit = {
      val src = new java.io.File(s"$dir/$sub")
      src.listFiles().filter(_.getName.endsWith(".parquet")).foreach { f =>
        java.nio.file.Files.copy(f.toPath,
          java.nio.file.Paths.get(s"$dir/in/${sub}_${f.getName}"))
      }
      q.processAllAvailable()
    }

    // batch 1: two ticks in the 10:00 window; a 10:30 tick advances the
    // watermark to 10:20, which finalizes and emits the 10:00 candle
    write("b1", Seq(
      (1L, "2024-01-01 10:00:10", 1L, 1.0, 10.0),
      (2L, "2024-01-01 10:00:20", 1L, 2.0, 20.0),
      (3L, "2024-01-01 10:30:00", 1L, 5.0, 50.0)))
    feed("b1")

    // batch 2: event 4 lands back in the already-finalized 10:00 window
    // (watermark 10:20 > window end 10:01) → must be dropped; event 5
    // advances the watermark past 10:31 so the 10:30 candle emits
    write("b2", Seq(
      (4L, "2024-01-01 10:00:40", 1L, 9.0, 90.0),
      (5L, "2024-01-01 11:00:00", 1L, 7.0, 70.0)))
    feed("b2")
    q.stop()

    val out = spark.table("late_out")
      .collect().map(r => r.getTimestamp(0).toString -> r).toMap
    val w1000 = out("2024-01-01 10:00:00.0")
    // late event 4 did NOT merge: still 2 trades, close = 2.0, high = 2.0
    assert(w1000.getLong(7) == 2L, s"late row merged: $w1000")
    assert(w1000.getDouble(5) == 2.0 && w1000.getDouble(3) == 2.0)
    assert(math.abs(w1000.getDouble(6) - 30.0) < 1e-9)
    val w1030 = out("2024-01-01 10:30:00.0")
    assert(w1030.getLong(7) == 1L && w1030.getDouble(2) == 5.0)
    // the 11:00 window is still open (watermark never passed it)
    assert(!out.contains("2024-01-01 11:00:00.0"))
  }
}
