package graft

import graft.streaming.StreamingIngest
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Streaming ingest smoke: bounded parquet drives the streaming
  * plans synchronously into memory sinks (SURVEY §2 #28). */
class StreamingSpec extends SparkSpec {

  // readStream needs a directory source: stage the single parquet file
  private lazy val stageDir: String = {
    val dir = tempDir("graft-stream")
    java.nio.file.Files.copy(java.nio.file.Paths.get(s"$sf/events.parquet"),
      dir.resolve("events.parquet"))
    dir.toString
  }

  // ts has been TIMESTAMP(NANOS) (legacy long read) in some testdata
  // generations and TIMESTAMP(MICROS) in others — take the actual
  // type from a batch read of the staged file, like Tables.events
  private lazy val tsType: DataType = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.read.parquet(stageDir).schema("ts").dataType
  }

  private def eventsSchema = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", tsType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  private def streamingEvents = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = spark.readStream.schema(eventsSchema).parquet(stageDir)
    if (tsType == LongType)
      raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
    // watermarks need TIMESTAMP (LTZ): NTZ → LTZ at the UTC session tz
    else raw.withColumn("ts", col("ts").cast("timestamp"))
  }

  test("windowed candle stream produces the batch candle totals") {
    val ticks = streamingEvents.select(col("event_id"), col("ts"),
      get_json_object(col("props"), "$.k").cast("long").as("token_id"),
      col("value").as("price"), col("value").cast("decimal(18,4)").as("usd"))
    StreamingIngest.runToMemory(spark,
      StreamingIngest.candleStream(ticks, "10 minutes"), "candles_out",
      outputMode = "complete")
    val got = spark.table("candles_out")
    val batch = graft.operators.Candles.finalize(
      graft.operators.Candles.fromTicks(
        graft.model.Tables.eventStream(spark, sf), "minute",
        col("token_id"), col("ts"), col("event_id"), col("price"), col("usd")))
    assert(got.count() == batch.count())
    val g = got.agg(sum("volume"), sum("trades")).head()
    val b = batch.agg(sum("volume"), sum("trades")).head()
    assert(math.abs(g.getDouble(0) - b.getDouble(0)) < 1e-6)
    assert(g.getLong(1) == b.getLong(1))
  }

  test("candle open/close on (ts, event_id) ties is value-determined " +
       "like the batch MV, not arrival-order-dependent") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val t = java.sql.Timestamp.valueOf("2024-01-01 00:00:30")
    // all four ticks tied on (ts, event_id); prices differ — open must
    // be the min price, close the max, per the shared ordering struct
    val tied = Seq((1L, t, 10L, 0.7, 0.7), (1L, t, 10L, 0.2, 0.2),
      (1L, t, 10L, 0.9, 0.9), (1L, t, 10L, 0.4, 0.4))
    val in = MemoryStream[(Long, java.sql.Timestamp, Long, Double, Double)]
    in.addData(tied: _*)
    val ticks = in.toDF().toDF("event_id", "ts", "token_id", "price", "usd")
      .withColumn("usd", col("usd").cast("decimal(18,4)"))
    StreamingIngest.runToMemory(spark,
      StreamingIngest.candleStream(ticks, "10 minutes"), "tied_candles",
      outputMode = "complete")
    val r = spark.table("tied_candles").head()
    assert(r.getAs[Double]("open") == 0.2 && r.getAs[Double]("close") == 0.9)
    // the batch twin picks the same endpoints on the same tie
    val b = graft.operators.Candles.fromTicks(
      spark.createDataset(tied).toDF("event_id", "ts", "token_id", "price", "usd"),
      "minute", col("token_id"), col("ts"), col("event_id"), col("price"),
      col("usd")).head()
    assert(b.getAs[Double]("open") == 0.2 && b.getAs[Double]("close") == 0.9)
  }

  test("update-mode leaderboard stream converges to the batch leaderboard buckets") {
    val fills = streamingEvents.select(col("ts"),
      col("user_id").as("wallet"),
      col("value").cast("decimal(18,4)").as("usd"),
      when(col("event_id") % 2 === 0, "sell").otherwise("buy").as("side"))
    StreamingIngest.runToMemory(spark,
      StreamingIngest.leaderboardStream(fills, "1 hour"), "lb_stream_out",
      outputMode = "update")
    // update mode re-emits a (bucket, wallet) row every batch it
    // changes — the LAST emission per key is the converged value
    val got = spark.table("lb_stream_out")
      .groupBy(col("bucket"), col("wallet"))
      .agg(last(col("trades")).as("trades"),
        last(col("volume_usd")).as("volume_usd"))
    val ev = graft.model.Tables.eventStream(spark, sf)
    val batch = ev.select(date_trunc("day", col("ts")).as("bucket"),
        col("wallet"), col("usd"))
      .groupBy(col("bucket"), col("wallet"))
      .agg(count(lit(1)).as("trades"),
        sum(col("usd")).cast("double").as("volume_usd"))
    assert(got.count() == batch.count())
    val g = got.agg(sum("trades"), sum("volume_usd")).head()
    val b = batch.agg(sum("trades"), sum("volume_usd")).head()
    assert(g.getLong(0) == b.getLong(0))
    assert(math.abs(g.getDouble(1) - b.getDouble(1)) < 1e-6)
  }

  test("streaming KLL quantile-state MV: streamed states equal batch states, merge level reads true quantiles") {
    // The quantile rollup-MV (§2 #182) maintained BY A STREAM: the
    // kll_sketch_agg_double buffer's serialize/deserialize round-trips
    // through the state store across micro-batches, so per-group
    // sketch states stream exactly like count/sum MVs do.
    def median(st: Column) = kll_sketch_get_quantile_double(st, lit(0.5))
    val grouped = streamingEvents
      .select((col("user_id") % 8).as("g"), col("value"))
      .groupBy(col("g")).agg(kll_sketch_agg_double(col("value"), 200).as("st"))
    StreamingIngest.runToMemory(spark, grouped, "kll_stream_out",
      outputMode = "complete")
    val streamed = spark.table("kll_stream_out")
      .select(col("g"), median(col("st")).as("m"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // batch twin: exact-mode medians (events per group < k=200 at
    // sf0.001 → the sketch holds every value; quantiles are the true
    // inclusive order stats, so streamed == batch EXACTLY)
    val ev = graft.model.Tables.events(spark, sf)
      .select((col("user_id") % 8).as("g"), col("value"))
    val sizes = ev.groupBy(col("g")).count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sizes.values.forall(_ < 200), s"exact-mode precondition: $sizes")
    val batch = ev.groupBy(col("g"))
      .agg(kll_sketch_agg_double(col("value"), 200).as("st"))
      .select(col("g"), median(col("st")).as("m"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(streamed == batch)
    // merge level over the STREAMED states answers the global median
    // within the KLL rank bound (merged n > k → estimation mode)
    val n = ev.count()
    val est = spark.table("kll_stream_out")
      .agg(kll_merge_agg_double(col("st"), 200).as("st"))
      .select(median(col("st")).as("m")).head().getDouble(0)
    val rank = ev.filter(col("value") <= est).count().toDouble / n
    assert(math.abs(rank - 0.5) < 0.05, s"merged median rank $rank")
  }

  test("foreachBatch sink lands month-partitioned parquet that compaction can merge") {
    val out = tempDir("graft-sink").toString
    val ck = tempDir("graft-sink-ck").toString
    val q = StreamingIngest.sinkMonthly(streamingEvents, "ts", s"$out/events",
      Seq("event_id"), ck)
    q.processAllAvailable()
    q.stop()
    val landed = spark.read.parquet(s"$out/events")
    val src = graft.model.Tables.events(spark, sf)
    assert(landed.count() == src.count())
    assert(landed.select(col("ym")).distinct().count() == 1)  // one month of data
    // the landed layout is the PartitionedStore layout: pruning works
    val pruned = graft.sources.PartitionedStore
      .readMonths(spark, s"$out/events", "202401", "202401")
    assert(pruned.count() == src.count())
  }

  test("streaming dedup drops within-watermark re-deliveries") {
    val dup = streamingEvents.unionAll(streamingEvents)
    StreamingIngest.runToMemory(spark,
      StreamingIngest.dedupedStream(dup, "ts", "event_id", "10 minutes"),
      "dedup_out", outputMode = "append")
    val n = spark.table("dedup_out").count()
    val expected = graft.model.Tables.events(spark, sf).count()
    assert(n == expected)
  }
}
