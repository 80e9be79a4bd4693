package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.streaming.{StreamingIngest, StreamingLedger}

/** Streaming-path throughput bench (VERDICT r9 #5): the streaming
  * operators are correctness-proven in specs but had no measured
  * rows/s or micro-batch latency, so their 100 TB story was asserted,
  * not measured. This harness replays the sf trades through the three
  * production-shaped paths and prints ONE JSON line per path:
  *
  *   - ingest: file-replayed ticks → watermark + dedup → 1m OHLCV
  *     candles (the hot-block idempotent ingest + incremental MV);
  *   - leaderboard: fills → windowed daily leaderboard aggregates
  *     (update-mode MV);
  *   - ledger: fills → flatMapGroupsWithState incremental FIFO fold
  *     (open-lot state carried across micro-batches).
  *
  * Replay source: the sf parquet repartitioned into fixed file count,
  * streamed with maxFilesPerTrigger — a deterministic micro-batch
  * cadence, unlike the rate source whose rows are synthetic. Numbers
  * land in PLANS.md next to the batch bench.
  */
object StreamBench {

  private def fmt(v: Double): String = f"$v%.1f"

  /** Run one streaming query to exhaustion; report rows/s + batch
    * latency percentiles from the progress log, plus state-store
    * rows/memory for the stateful paths. The checkpoint lives under
    * the per-run tmp root (`ckptRoot`) so the end-of-run rmTree
    * removes it — a fixed java.io.tmpdir path leaked state per run
    * and could even resume a stale checkpoint on PID reuse
    * (ADVICE r10). */
  private def run(name: String, stream: DataFrame, mode: String,
                  ckptRoot: String, tag: String,
                  store: String = "hdfs"): String = {
    val t0 = System.nanoTime()
    val q = stream.writeStream.format("noop").outputMode(mode)
      .option("checkpointLocation", s"$ckptRoot/$name-$tag-$store")
      .start()
    q.processAllAvailable()
    val wall = (System.nanoTime() - t0) / 1e9
    val prog = q.recentProgress.toSeq
    q.stop()
    val rows = prog.map(_.numInputRows).sum
    val batches = prog.count(_.numInputRows > 0)
    val durs = prog.filter(_.numInputRows > 0)
      .flatMap(p => Option(p.durationMs.get("triggerExecution")).map(_.toLong))
      .sorted
    val p50 = if (durs.nonEmpty) durs(durs.size / 2) else -1L
    val mx = if (durs.nonEmpty) durs.last else -1L
    // state-store footprint at end of replay: total kept rows and
    // store memory, summed over stateful operators of the LAST
    // progress entry that has any (the converged state size — what a
    // long-running deployment would hold)
    val st = prog.reverse.map(_.stateOperators.toSeq).find(_.nonEmpty)
      .getOrElse(Seq.empty)
    val stateJson =
      if (st.isEmpty) ""
      else s""","state_rows":${st.map(_.numRowsTotal).sum},""" +
        s""""state_mem_bytes":${st.map(_.memoryUsedBytes).sum}"""
    val line = s"""{"path":"$name","files_per_trigger":$tag,"store":"$store","rows":$rows,""" +
      s""""wall_sec":${fmt(wall)},"rows_per_sec":${fmt(rows / wall)},""" +
      s""""batches":$batches,"p50_batch_ms":$p50,"max_batch_ms":$mx$stateJson}"""
    println(line)
    line
  }

  /** Run a foreachBatch SINK query to exhaustion (the versioned-store
    * ingest paths): rows/s + batch latency like [[run]], plus the
    * table's metadata footprint — total manifest bytes divided by
    * committed versions, the "metadata bytes per batch" a 100 TB
    * warehouse pays per micro-batch. */
  private def runSink(name: String, tablePath: String, tag: String,
                      store: String,
                      start: () => org.apache.spark.sql.streaming.StreamingQuery)
      : String = {
    val t0 = System.nanoTime()
    val q = start()
    q.processAllAvailable()
    val wall = (System.nanoTime() - t0) / 1e9
    val prog = q.recentProgress.toSeq
    q.stop()
    val rows = prog.map(_.numInputRows).sum
    val batches = prog.count(_.numInputRows > 0)
    val durs = prog.filter(_.numInputRows > 0)
      .flatMap(p => Option(p.durationMs.get("triggerExecution")).map(_.toLong))
      .sorted
    val p50 = if (durs.nonEmpty) durs(durs.size / 2) else -1L
    val mx = if (durs.nonEmpty) durs.last else -1L
    def walk(f: java.io.File): Long =
      if (f.isDirectory)
        Option(f.listFiles()).getOrElse(Array.empty).map(walk).sum
      else f.length()
    val metaBytes = walk(new java.io.File(s"$tablePath/manifests"))
    val versions = graft.sources.VersionedStore.currentVersion(tablePath)
    val metaPerBatch = if (versions > 0) metaBytes / versions else -1L
    val line = s"""{"path":"$name","files_per_trigger":$tag,"store":"$store","rows":$rows,""" +
      s""""wall_sec":${fmt(wall)},"rows_per_sec":${fmt(rows / wall)},""" +
      s""""batches":$batches,"p50_batch_ms":$p50,"max_batch_ms":$mx,""" +
      s""""versions":$versions,"meta_bytes_total":$metaBytes,"meta_bytes_per_batch":$metaPerBatch}"""
    println(line)
    line
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val files = 32              // replay granularity
    // Two operating points (VERDICT r10 #6): 2 files/trigger → 16
    // batches and 8 files/trigger → 4 batches. If per-batch fixed cost
    // dominates (the r10 claim), wall time ≈ a + b·batches — the slope
    // between the points separates fixed cost from per-row cost.
    val perTriggers = Seq(2, 8)
    val spark = GraftSession.local()

    // materialize the replay corpus once: ticks (candles input) and
    // two-sided fills (leaderboard/ledger input)
    val tmp = s"${System.getProperty("java.io.tmpdir")}/graft-streambench-${ProcessHandle.current().pid()}"
    val trades = graft.model.Tables.trades(spark, sfDir)
    // event-time columns must be TIMESTAMP (not NTZ) for watermarks;
    // the session is pinned UTC so the cast is value-preserving
    val ticks = trades.select(col("ts").cast("timestamp").as("ts"),
      col("token_id"),
      (col("usd").cast("double") / col("qty").cast("double")).as("price"),
      col("usd").cast("double").as("usd"), col("trade_id").as("event_id"))
    ticks.repartition(files).write.mode("overwrite").parquet(s"$tmp/ticks")
    val fills = graft.operators.Leaderboard.walletTrades(trades)
      .select(col("wallet"), col("ts").cast("timestamp").as("ts"),
        col("trade_id"), col("token_id"),
        col("side"), col("qty").cast("double").as("qty"),
        col("usd").cast("double").as("usd"),
        col("fee").cast("double").as("fee"))
    fills.repartition(files).write.mode("overwrite").parquet(s"$tmp/fills")

    def replay(path: String, perTrigger: Int): DataFrame =
      spark.readStream
        .schema(spark.read.parquet(path).schema)
        .option("maxFilesPerTrigger", perTrigger)
        .parquet(path)

    // The replay files are event-time-unordered, so out-of-watermark
    // rows drop as late — production semantics; numInputRows (the
    // throughput numerator) counts everything the path ingested and
    // state stays watermark-bounded. Each library entry point is
    // measured on its own (chaining two would redefine the watermark;
    // the composed pipeline is the sum of the stages).
    import spark.implicits._
    // Operating points: the two per-trigger settings on the default
    // in-memory (HDFS-backed) state store, plus the larger batch size
    // on RocksDB — the production store for state that outgrows the
    // heap (the FIFO fold's open-lot maps measured ~84 MB on-heap at
    // sf0.1; RocksDB keeps working when that is 84 GB). Same replay,
    // same queries — only the provider changes, so the delta IS the
    // store's commit/lookup cost.
    val points = perTriggers.map(pt => (pt, "hdfs")) :+ (perTriggers.max, "rocksdb")
    val lines = for ((pt, store) <- points) yield {
      val tag = pt.toString
      spark.conf.set("spark.sql.streaming.stateStore.providerClass",
        if (store == "rocksdb")
          "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
        else
          "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider")
      val dedup = StreamingIngest.dedupedStream(replay(s"$tmp/ticks", pt),
        "ts", "event_id", "30 days")
      val l0 = run("ingest_idempotent_dedup", dedup, "append", s"$tmp/ckpt", tag, store)

      val ingest = StreamingIngest.candleStream(replay(s"$tmp/ticks", pt),
        "30 days")
      val l1 = run("candles_1m_incremental_mv", ingest, "append", s"$tmp/ckpt", tag, store)

      // streaming leaderboard MV (update mode)
      val lb = StreamingIngest.leaderboardStream(replay(s"$tmp/fills", pt),
        "30 days")
      val l2 = run("leaderboard_daily_mv", lb, "update", s"$tmp/ckpt", tag, store)

      // streaming quantile-state MV (§2 #182): per-(token, day) KLL
      // sketch states maintained incrementally — the
      // kll_sketch_agg_double buffer serializes through the state
      // store each batch, so this measures sketch-state commit cost
      // next to the count/sum MV (leaderboard) above
      val kll = replay(s"$tmp/ticks", pt)
        .withWatermark("ts", "30 days")
        .groupBy(col("token_id"), date_trunc("day", col("ts")).as("day"))
        .agg(kll_sketch_agg_double(col("price"), 200).as("st"))
      val l2b = run("quantile_state_mv", kll, "update", s"$tmp/ckpt", tag, store)

      // incremental FIFO ledger: open lots carried across batches
      val fillDs = replay(s"$tmp/fills", pt).select(
          col("wallet").cast("long").as("wallet"), col("ts"),
          col("trade_id").cast("long").as("seq"),
          col("token_id").cast("long").as("tokenId"),
          (col("side") === "buy").as("isBuy"), col("qty"), col("usd"),
          col("fee"), lit("").as("kind"), lit(0L).as("tokenId2"),
          lit(Array.empty[Long]).as("legTokens"),
          lit(Array.empty[Double]).as("legQtys"),
          lit(Array.empty[Long]).as("legTokens2"),
          lit(Array.empty[Double]).as("legQtys2"))
        .as[graft.operators.Ledger.Fill]
      val ledger = StreamingLedger.track(spark, fillDs).toDF()
      val l3 = run("ledger_incremental_fifo", ledger, "append", s"$tmp/ckpt", tag, store)

      // CDC-upsert sink (VERDICT r13 #4): raw tick batches keep-latest
      // dedup per batch, then MERGE by token_id into the versioned
      // store — the token last-price table as an upsert stream.
      // Matched rows die by delete vector (O(batch + matched) per
      // batch); the metadata column reports what the warehouse's
      // manifest layer costs per micro-batch.
      val upFlat = s"$tmp/upsert-flat-$tag-$store"
      val l4 = runSink("cdc_upsert_vectored", upFlat, tag, store, () =>
        StreamingIngest.sinkVersionedUpsertLatest(
          replay(s"$tmp/ticks", pt), upFlat, Seq("token_id"),
          Seq("ts", "event_id"), s"$tmp/ckpt/upsert-flat-$tag-$store"))
      // hierarchical form — the full 100 TB shape: month-partitioned
      // table, partition-moving updates included
      val upPart = s"$tmp/upsert-part-$tag-$store"
      val l5 = runSink("cdc_upsert_vectored_partitioned", upPart, tag, store,
        () => StreamingIngest.sinkVersionedUpsertLatest(
          replay(s"$tmp/ticks", pt)
            .withColumn("ym", date_format(col("ts"), "yyyyMM")),
          upPart, Seq("token_id"), Seq("ts", "event_id"),
          s"$tmp/ckpt/upsert-part-$tag-$store", partCol = Some("ym")))
      Seq(l0, l1, l2, l2b, l3, l4, l5)
    }
    lines.flatten.foreach(l => System.err.println(s"[streambench] $l"))
    spark.stop()
    graft.model.Views.rmTree(java.nio.file.Paths.get(tmp))
  }
}
