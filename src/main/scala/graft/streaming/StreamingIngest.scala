package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Structured-Streaming ingest path.
  *
  * Reference: the indexer's hot-block processing (src/main.ts —
  * re-delivered blocks are idempotent via ReplacingMergeTree; candles
  * update incrementally via the candles_1m MV). Here the same two
  * semantics as a streaming pipeline: watermark + drop-duplicates for
  * idempotent delivery, and a windowed OHLCV aggregate as the
  * incremental materialized view.
  */
object StreamingIngest {

  /** Idempotent delivery: duplicates of `idCol` within the watermark
    * window are dropped; state is evicted past the watermark so it
    * never grows unboundedly (the streaming ReplacingMergeTree). */
  def dedupedStream(events: DataFrame, tsCol: String, idCol: String,
                    watermark: String): DataFrame =
    events.withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark(Seq(idCol))

  /** Incremental 1-minute OHLCV candles over a tick stream — the
    * streaming twin of Candles.fromTicks (append mode once the
    * watermark passes the window end). */
  def candleStream(ticks: DataFrame, watermark: String): DataFrame =
    ticks.withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 minute").as("w"), col("token_id"))
      .agg(
        // price as the final ordering component, mirroring the batch
        // Candles.fromTicks ord: (ts, event_id) ties open at min price
        // and close at max price, deterministically
        min_by(col("price"), struct(col("ts"), col("event_id"), col("price"))).as("open"),
        max(col("price")).as("high"),
        min(col("price")).as("low"),
        max_by(col("price"), struct(col("ts"), col("event_id"), col("price"))).as("close"),
        sum(round(col("usd") * 10000).cast("long")).as("volume_i"),
        count(lit(1)).as("trades"))
      .select(col("w.start").as("bucket"), col("token_id"), col("open"),
        col("high"), col("low"), col("close"),
        (col("volume_i") / 10000.0).as("volume"), col("trades"))

  /** Incremental leaderboard aggregates over a fill stream — the
    * streaming twin of the wallet_leaderboard_stats_1h MV (update
    * mode: each micro-batch emits the wallets whose daily bucket
    * changed; a serving layer upserts them, exactly ClickHouse's
    * AggregatingMergeTree merge). Watermark bounds the open-bucket
    * state. */
  def leaderboardStream(fills: DataFrame, watermark: String): DataFrame =
    fills.withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 day").as("w"), col("wallet"))
      .agg(count(lit(1)).as("trades"),
        sum(col("usd")).cast("double").as("volume_usd"),
        sum(when(col("side") === "sell", col("usd")).otherwise(-col("usd")))
          .cast("double").as("net_cashflow_usd"))
      .select(col("w.start").as("bucket"), col("wallet"), col("trades"),
        col("volume_usd"), col("net_cashflow_usd"))

  /** Drive a streaming query from a bounded source synchronously into
    * an in-memory table (local smoke harness). */
  def runToMemory(spark: SparkSession, stream: DataFrame, name: String,
                  outputMode: String): Unit = {
    val q = stream.writeStream.format("memory").queryName(name)
      .outputMode(outputMode).start()
    q.processAllAvailable()
    q.stop()
  }

  /** Sink a stream into the monthly-partitioned warehouse layout via
    * foreachBatch: each micro-batch appends month-partitioned,
    * order-sorted parquet (one small file set per batch —
    * [[graft.sources.PartitionedStore.compactMonth]] is the
    * background-merge half of the contract). This is the ingest path
    * that feeds every batch query in the engine. */
  def sinkMonthly(stream: DataFrame, tsCol: String, path: String,
                  orderCols: Seq[String], checkpoint: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        batch.withColumn("ym", date_format(col(tsCol), "yyyyMM"))
          .repartition(col("ym"))
          .sortWithinPartitions(("ym" +: orderCols).map(col): _*)
          .write.partitionBy("ym").mode("append").parquet(path)
      }
      .start()

  /** Sink a stream into the manifest-versioned store: one snapshot
    * version per micro-batch, keyed by the foreachBatch batch id so a
    * replayed batch recommits its own version instead of appending
    * twice — at-least-once delivery, exactly-once table state
    * ([[graft.sources.VersionedStore.commitBatch]]). Downstream batch
    * readers pin a version and are isolated from in-flight commits;
    * history stays time-travelable until vacuum. `partCol = Some(c)`
    * makes the first batch create a table partitioned by
    * `c`: each later micro-batch appends into its rows' partitions, so
    * a batch touching k partitions writes k per-partition manifests +
    * one list and the warehouse metadata stays O(touched) per batch at
    * month-partitioned 100 TB scale. */
  def sinkVersioned(stream: DataFrame, path: String, checkpoint: String,
                    partCol: Option[String] = None)
      : org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        graft.sources.VersionedStore.commitBatch(batch.toDF(), path, id,
          partCol): Unit
      }
      .start()

  /** CDC-UPSERT sink: each micro-batch MERGES into the versioned
    * table by key ([[graft.sources.VersionedStore.mergeBatchVectored]]
    * — matched rows die by delete vector, batch rows land as new
    * files, O(batch + matched) per batch, never a rewrite), with the
    * same batchId-keyed versioning that makes replays recommit their
    * own version — an at-least-once upsert stream lands exactly-once
    * table STATE. Batches must be key-unique: dedup a raw CDC batch
    * keep-latest first (the engine's ReplacingMergeTree operator).
    * `partCol = Some(c)` makes the first batch create a
    * table partitioned by `c` — the full 100 TB shape: a CDC-upsert
    * stream into a month-partitioned warehouse table, O(touched
    * partitions) metadata per micro-batch, partition-moving updates
    * included. */
  def sinkVersionedUpsert(stream: DataFrame, path: String,
                          keys: Seq[String], checkpoint: String,
                          partCol: Option[String] = None)
      : org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        graft.sources.VersionedStore.mergeBatchVectored(batch.toDF(),
          path, keys, id, partCol): Unit
      }
      .start()

  /** [[sinkVersionedUpsert]] with the per-batch keep-latest dedup
    * BUILT IN — the raw-CDC shape: a micro-batch may carry several
    * versions of one key, and the latest by `ord` (descending) wins
    * before the merge — pass ordering columns that TOTALLY order a
    * key's versions (e.g. ts + event id); rows tied on all of `ord`
    * pick arbitrarily, the ReplacingMergeTree contract. This is the ReplacingMergeTree keep-latest operator
    * composed with the vectored MERGE, per batch. `partCol` as in
    * [[sinkVersionedUpsert]]. */
  def sinkVersionedUpsertLatest(stream: DataFrame, path: String,
                                keys: Seq[String], ord: Seq[String],
                                checkpoint: String,
                                partCol: Option[String] = None)
      : org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(keys.map(col): _*)
          .orderBy(ord.map(c => col(c).desc): _*)
        val latest = batch.toDF()
          .withColumn("__rn", row_number().over(w))
          .filter(col("__rn") === 1).drop("__rn")
        graft.sources.VersionedStore.mergeBatchVectored(latest, path,
          keys, id, partCol): Unit
      }
      .start()
}
