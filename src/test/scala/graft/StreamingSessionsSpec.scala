package graft

import graft.streaming.StreamingSessions
import graft.streaming.StreamingSessions.SessionEvent
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Streaming sessionization: sessions close via event-time timeout
  * when the watermark passes last-event + gap; an event inside the gap
  * extends the open session across micro-batches.
  */
class StreamingSessionsSpec extends SparkSpec {
  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("user", LongType),
    StructField("ts", TimestampType),
    StructField("value", DoubleType)))

  test("sessions close when the watermark passes the gap; open sessions extend") {
    val dir = tempDir("graft-ssess").toString
    new java.io.File(s"$dir/in").mkdirs()

    def write(sub: String, rs: Seq[(Long, String, Double)]): Unit =
      rs.toDF("user", "ts_s", "value")
        .select(col("user"), col("ts_s").cast("timestamp").as("ts"), col("value"))
        .coalesce(1).write.parquet(s"$dir/$sub")

    val stream = spark.readStream.schema(schema).parquet(s"$dir/in")
      .withWatermark("ts", "30 minutes").as[SessionEvent]
    val q = StreamingSessions.track(spark, stream, gapMinutes = 30)
      .writeStream.format("memory").queryName("sess_out")
      .outputMode("append").start()

    def feed(sub: String): Unit = {
      val src = new java.io.File(s"$dir/$sub")
      src.listFiles().filter(_.getName.endsWith(".parquet")).foreach { f =>
        java.nio.file.Files.copy(f.toPath,
          java.nio.file.Paths.get(s"$dir/in/${sub}_${f.getName}"))
      }
      q.processAllAvailable()
    }

    // batch 1: user 1 has two events 10 min apart (one session so far)
    write("b1", Seq(
      (1L, "2024-01-01 10:00:00", 1.0),
      (1L, "2024-01-01 10:10:00", 2.0)))
    feed("b1")
    assert(spark.table("sess_out").isEmpty)   // session still open

    // batch 2: 10:25 extends the session (gap 15 < 30); a 13:00 event
    // pushes the watermark to 12:30 > 10:55, closing user 1's first
    // session with all three events
    write("b2", Seq(
      (1L, "2024-01-01 10:25:00", 4.0),
      (2L, "2024-01-01 13:00:00", 8.0)))
    feed("b2")

    val rows = spark.table("sess_out").collect()
    assert(rows.length == 1, rows.mkString(";"))
    val s = rows.head
    assert(s.getLong(0) == 1L)
    assert(s.getTimestamp(1).toString == "2024-01-01 10:00:00.0")
    assert(s.getTimestamp(2).toString == "2024-01-01 10:25:00.0")
    assert(s.getLong(3) == 3L && s.getLong(4) == 1500L)
    assert(math.abs(s.getDouble(5) - 7.0) < 1e-9)
    q.stop()
  }

  test("late event inside the watermark bridges two gap-closed sessions") {
    val dir = tempDir("graft-ssess2").toString
    new java.io.File(s"$dir/in").mkdirs()

    def write(sub: String, rs: Seq[(Long, String, Double)]): Unit =
      rs.toDF("user", "ts_s", "value")
        .select(col("user"), col("ts_s").cast("timestamp").as("ts"), col("value"))
        .coalesce(1).write.parquet(s"$dir/$sub")

    val stream = spark.readStream.schema(schema).parquet(s"$dir/in")
      .withWatermark("ts", "30 minutes").as[SessionEvent]
    val q = StreamingSessions.track(spark, stream, gapMinutes = 30)
      .writeStream.format("memory").queryName("sess_out2")
      .outputMode("append").start()

    def feed(sub: String): Unit = {
      val src = new java.io.File(s"$dir/$sub")
      src.listFiles().filter(_.getName.endsWith(".parquet")).foreach { f =>
        java.nio.file.Files.copy(f.toPath,
          java.nio.file.Paths.get(s"$dir/in/${sub}_${f.getName}"))
      }
      q.processAllAvailable()
    }

    // batch 1: 10:00 and 10:40 are 40 min apart — two sessions by the
    // gap, but neither is past the watermark (10:10 after the batch),
    // so NOTHING may be emitted yet: the first session must stay
    // amendable for late arrivals
    write("c1", Seq(
      (1L, "2024-01-01 10:00:00", 1.0),
      (1L, "2024-01-01 10:40:00", 2.0)))
    feed("c1")
    assert(spark.table("sess_out2").isEmpty)

    // batch 2: a LATE 10:20 event (inside the 30 min watermark)
    // bridges the two sessions into one; 12:00 from user 2 then pushes
    // the watermark to 11:30, finalizing the merged session
    write("c2", Seq(
      (1L, "2024-01-01 10:20:00", 4.0),
      (2L, "2024-01-01 12:00:00", 8.0)))
    feed("c2")

    val rows = spark.table("sess_out2").filter(col("user") === 1L).collect()
    assert(rows.length == 1, rows.mkString(";"))
    val s = rows.head
    assert(s.getTimestamp(1).toString == "2024-01-01 10:00:00.0")
    assert(s.getTimestamp(2).toString == "2024-01-01 10:40:00.0")
    assert(s.getLong(3) == 3L && s.getLong(4) == 2400L)
    assert(math.abs(s.getDouble(5) - 7.0) < 1e-9)
    q.stop()
  }
}
