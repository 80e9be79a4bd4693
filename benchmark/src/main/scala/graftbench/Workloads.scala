package graftbench

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.functions._

import graft.SparkEntry

/** api_mix — what API clients feel. One client, closed loop: the next
  * request goes out when the previous one returns. A round calls every
  * endpoint of the reference's HTTP API once, in an order shuffled by
  * the seed (no endpoint is weighted: the reference publishes no
  * request mix). A round takes about [[RoundSeconds]] on a 4-core
  * host, and --seconds buys whole rounds at that rate: a fixed count,
  * not a deadline, so a fast host does not measure more (and warmer)
  * rounds than a slow one. Set-up builds the session MVs the endpoints
  * read (disk layer off) and makes one warm-up pass whose outputs the
  * oracle checks. */
object ApiMix {
  val RoundSeconds = 10.0
  val Endpoints: Seq[String] = Seq(
    "q_positions", "q_pnl_delta", "q_pnl_snapshots", "q_ledger_rows_exact",
    "q_portfolio_history", "q_user_stats", "q_activity", "q_token_trades",
    "q_market_stats", "q_candles_1m", "q_candles_1h", "q_candles_15m",
    "q_leaderboard", "q_leaderboard_window", "q_lb_explain", "q_discover",
    "q_last_price", "q_token_volume_1h", "q_balances", "q_total_pnl",
    "q_versioned_scan", "q_versioned_mor")
  /** The session MVs the endpoints read, dependencies first. */
  val Views: Seq[String] = Seq("trades", "event_stream", "balances",
    "last_price", "wallet_token_flows", "wallet_market_flows", "daily_flows",
    "trades_token_day", "candles_1m")
  /** MVs that serve exact re-aggregations (plans.RollupRewrite and the
    * rollup-reading query plans). */
  val Rollups: Set[String] = Set("wallet_token_flows", "wallet_market_flows",
    "daily_flows", "trades_token_day", "trades_token_month", "lb_rollup_day",
    "pnl_rollup_1d")
  val Versioned: Set[String] = Set("q_versioned_scan", "q_versioned_mor")

  def run(r: Run): Unit = {
    val s = r.spark
    val t0 = System.nanoTime()
    for (v <- Views) r.tracer.span("views.build")(r.noop(SparkEntry.sessionViews(v)(s, r.data)))
    val buildS = Run.secondsSince(t0)
    val dumped = Endpoints.map { q =>
      q -> r.tracer.span("warmup")(r.dump(q, SparkEntry.queries(q)(s, r.data)))
    }
    r.setupS = r.sessionS + Run.secondsSince(t0)

    if (r.tracer.on) {
      // the traced run asks of every executed plan whether it reads a
      // rollup MV; the QueryExecutionListener applies this to the
      // optimized plan of each request's own write
      val rollups: Seq[AnyRef] =
        graft.model.Views.cachedNames(s).intersect(Rollups).toSeq.flatMap(v =>
          s.sharedState.cacheManager.lookupCachedData(
            SparkEntry.sessionViews(v)(s, r.data).asInstanceOf[org.apache.spark.sql.classic.Dataset[_]])
            .map(c => c.cachedRepresentation.cacheBuilder: AnyRef))
      r.tracer.planProbe = _.collectWithSubqueries {
        case m: InMemoryRelation => m.cacheBuilder: AnyRef
      }.exists(b => rollups.exists(_ eq b))
    }

    val rng = new scala.util.Random(r.seed)
    val rounds = math.max(1, math.round(r.seconds / RoundSeconds).toInt)
    val m0 = r.beginWindow()
    for (_ <- 1 to rounds) {
      for (q <- rng.shuffle(Endpoints)) r.op(q) {
        val df = r.tracer.span("query.build")(SparkEntry.queries(q)(s, r.data))
        r.tracer.span("query.exec")(r.noop(df))
      }
    }
    r.endWindow(m0)
    r.workS = r.measuredS / rounds

    for ((q, path) <- dumped) r.check(q, path, r.ops.count(_.name == q))
    r.metric("views.build_s", buildS, "s")
    if (r.tracer.on) {
      def med(xs: Seq[Double]) = Run.quantile(xs.sorted.toIndexedSeq, 0.5)
      // a request's plan time is the optimization and planning phases
      // of the query executions it started (its noop write's and any
      // the endpoint runs itself), read from their planning trackers;
      // its execution time is the noop write's span less the planning
      // of the executions started inside that span
      val plans = r.tracer.plans
      def within(t0: Long, t1: Long) = plans.filter(p => p.startMs >= t0 && p.startMs <= t1)
      val perOp = r.ops.toSeq.map(o => within(o.startMs, o.endMs))
      val planMs = perOp.map(_.map(_.planMs).sum)
      val execMs = r.tracer.spansOf("query.exec").map(e => e.ms - within(e.startMs, e.endMs).map(_.planMs).sum)
      r.metric("query.build_ms", med(r.tracer.spanMs("query.build")), "ms")
      r.metric("query.plan_ms", med(planMs), "ms")
      r.metric("query.exec_ms", med(execMs), "ms")
      r.metric("rollup.fired", perOp.count(_.exists(_.probe)).toDouble / r.ops.size, "ratio")
      r.metric("store.read_ms", med(r.ops.filter(o => Versioned(o.name)).map(_.ms).toSeq), "ms")
    }
  }
}

/** mv_rebuild — ingest-to-MV maintenance as a batch job: one
  * sequential, dependency-ordered build of a dependency-closed subset
  * of SparkEntry.sessionViews through a fresh, run-private MV disk
  * root, timed as the first execution in a fresh JVM (a batch user
  * pays the cold cost every run). One MV of every family: trades, raw
  * logs and their decode, the ledger fold, a rollup and a corpus MV. */
object MvRebuild {
  /** (family, MV), dependencies first. */
  val Order: Seq[(String, String)] = Seq(
    "trades" -> "trades",
    "logs" -> "logs_order_filled", "decoded" -> "decoded_of_trades",
    "ledger" -> "ledger", "rollup" -> "daily_flows",
    "corpus" -> "ann_clustered_corpus")
  /** Oracle-gated queries whose plans read the rebuilt MVs (trades,
    * daily_flows; logs_order_filled through decoded_of_trades):
    * checked after the timed build, so a wrong MV shows as a wrong
    * answer. */
  val Checks: Seq[String] = Seq("q_pnl_delta", "q_log_decode_e2e")

  def run(r: Run): Unit = {
    val s = r.spark
    r.setupS = r.sessionS
    val frames = scala.collection.mutable.LinkedHashMap.empty[String, DataFrame]
    val m0 = r.beginWindow()
    for ((family, mv) <- Order) r.op(mv) {
      // registering an MV with the disk layer on builds it and writes
      // its parquet; materializing the persist reads it back (attach)
      val df = r.tracer.span(s"views.build.$family")(SparkEntry.sessionViews(mv)(s, r.data))
      r.tracer.span("views.attach")(r.noop(df))
      frames(mv) = df
    }
    r.endWindow(m0)

    val root = sys.env.getOrElse("SPARK_GRAFT_MV_DISK", "")
    val written = r.treeBytes(root)
    r.invariant("views.disk_hits_zero", r.ops.size)(graft.model.Views.diskHits.get == 0)
    for ((mv, df) <- frames)
      r.invariant(s"nonempty.$mv", 1)(!df.isEmpty)
    // the corpus MV: one unit vector per input embedding
    r.invariant("unit.ann_clustered_corpus", 1) {
      val c = frames("ann_clustered_corpus")
        .select(abs(aggregate(col("unit"), lit(0.0), (a, x) => a + x * x) - 1.0).as("e"))
        .agg(count(lit(1)), max(col("e"))).head()
      c.getLong(0) == graft.model.Tables.embeddings(s, r.data).count() && c.getDouble(1) < 1e-9
    }
    for (q <- Checks)
      r.check(q, r.dump(q, SparkEntry.queries(q)(s, r.data)), r.ops.size)

    r.metric("views.disk_hits", graft.model.Views.diskHits.get.toDouble, "count")
    r.metric("views.write_mb", written / 1048576.0, "MB")
    r.metric("views.write_amp", written.toDouble / math.max(1L, r.treeBytes(r.data)), "ratio")
    if (r.tracer.on) {
      def sumS(name: String) = r.tracer.spanMs(name).sum / 1000.0
      val families = Order.map(_._1).distinct
      for (f <- families) r.metric(s"views.build_s.$f", sumS(s"views.build.$f"), "s")
      r.metric("views.build_s", families.map(f => sumS(s"views.build.$f")).sum, "s")
      r.metric("views.attach_s", sumS("views.attach"), "s")
      val decodeS = sumS("views.build.logs") + sumS("views.build.decoded")
      val decodedRows = frames.collect { case (mv, df) if mv.startsWith("decoded_") => df.count() }.sum
      r.metric("decode.s", decodeS, "s")
      r.metric("decode.rows_per_s", if (decodeS > 0) decodedRows / decodeS else 0.0, "rows/s")
      r.metric("ledger.fold_s", sumS("views.build.ledger"), "s")
    }
  }
}

/** stream_replay — incremental ingest. The trades are staged into
  * fixed-size replay files in event-time order (no row arrives behind
  * the watermark, so every path's result is comparable with its batch
  * equivalent) and streamed through five paths to exhaustion, one
  * file per trigger, closed loop (a trigger fires after the previous
  * commit). Set-up stages the files and replays the first two through
  * every path once (the warm-up pass). */
object StreamReplay {
  val Paths: Seq[String] = Seq("dedup", "candles", "leaderboard", "ledger_fifo", "cdc_upsert")

  def run(r: Run): Unit = {
    val s = r.spark
    import s.implicits._
    val files = if (r.smoke) 3 else 8
    val stage = s"${r.dir}/stage"
    val t0 = System.nanoTime()
    val trades = graft.model.Tables.trades(s, r.data)
    // event-time columns must be TIMESTAMP (not NTZ) for watermarks;
    // the session is UTC so the cast keeps every value
    val ticks = trades.select(col("ts").cast("timestamp").as("ts"), col("token_id"),
      (col("usd").cast("double") / col("qty").cast("double")).as("price"),
      col("usd").cast("double").as("usd"), col("trade_id").as("event_id"))
    val fills = graft.operators.Leaderboard.walletTrades(trades)
      .select(col("wallet"), col("ts").cast("timestamp").as("ts"), col("trade_id"),
        col("token_id"), col("side"), col("qty").cast("double").as("qty"),
        col("usd").cast("double").as("usd"), col("fee").cast("double").as("fee"))
    stageFiles(ticks, s"$stage/ticks", files)
    stageFiles(fills, s"$stage/fills", files)
    for (src <- Seq("ticks", "fills")) copyFirst(s"$stage/$src", s"$stage/warm-$src", 2)

    def replay(src: String): DataFrame =
      s.readStream.schema(s.read.parquet(s"$stage/$src").schema)
        .option("maxFilesPerTrigger", 1).parquet(s"$stage/$src")
    def fillDs(src: String) = replay(src).select(
        col("wallet").cast("long").as("wallet"), col("ts"),
        col("trade_id").cast("long").as("seq"), col("token_id").cast("long").as("tokenId"),
        (col("side") === "buy").as("isBuy"), col("qty"), col("usd"), col("fee"),
        lit("").as("kind"), lit(0L).as("tokenId2"),
        lit(Array.empty[Long]).as("legTokens"), lit(Array.empty[Double]).as("legQtys"),
        lit(Array.empty[Long]).as("legTokens2"), lit(Array.empty[Double]).as("legQtys2"))
      .as[graft.operators.Ledger.Fill]

    final case class PathRun(id: java.util.UUID, rows: Long, batchMs: Seq[Double],
                             wallS: Double, out: Seq[(Long, Row)],
                             progress: Seq[org.apache.spark.sql.streaming.StreamingQueryProgress])
    /** Replay one path to exhaustion; `out` holds (batch id, row) of
      * every emitted row for the output checks. */
    def replayPath(path: String, tag: String): PathRun = {
      val prefix = if (tag == "warm") "warm-" else ""
      val name = s"$path-$tag"
      val ckpt = s"${r.dir}/ckpt/$name"
      val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Row)]
      def collectSink(df: DataFrame, mode: String) =
        df.writeStream.queryName(name).outputMode(mode).option("checkpointLocation", ckpt)
          .foreachBatch { (b: org.apache.spark.sql.Dataset[Row], id: Long) =>
            out ++= b.collect().map(id -> _); ()
          }.start()
      val t = System.nanoTime()
      val q = path match {
        case "dedup" => collectSink(graft.streaming.StreamingIngest.dedupedStream(
          replay(s"${prefix}ticks"), "ts", "event_id", "30 days"), "append")
        case "candles" => collectSink(graft.streaming.StreamingIngest.candleStream(
          replay(s"${prefix}ticks"), "30 days"), "append")
        case "leaderboard" => collectSink(graft.streaming.StreamingIngest.leaderboardStream(
          replay(s"${prefix}fills"), "30 days"), "update")
        case "ledger_fifo" => collectSink(
          graft.streaming.StreamingLedger.track(s, fillDs(s"${prefix}fills")).toDF(), "append")
        case "cdc_upsert" =>
          graft.streaming.StreamingIngest.sinkVersionedUpsertLatest(
            replay(s"${prefix}ticks"), s"${r.dir}/store/$name", Seq("token_id"),
            Seq("ts", "event_id"), ckpt)
      }
      q.processAllAvailable()
      val wall = Run.secondsSince(t)
      val prog = q.recentProgress.toSeq
      q.stop()
      val live = prog.filter(_.numInputRows > 0)
      PathRun(q.id, live.map(_.numInputRows).sum,
        live.flatMap(p => Option(p.durationMs.get("triggerExecution")).map(_.toDouble)),
        wall, out.toSeq, prog)
    }

    for (p <- Paths) r.tracer.span("warmup")(replayPath(p, "warm"))
    r.setupS = r.sessionS + Run.secondsSince(t0)

    val m0 = r.beginWindow()
    val runs = Paths.map(p => p -> r.tracer.span(s"stream.$p")(replayPath(p, "main"))).toMap
    r.endWindow(m0)
    // a micro-batch is the unit operation; its latency is the trigger's
    for (p <- Paths; ms <- runs(p).batchMs) r.ops += Run.Op(p, ms, true, 0L, 0L)
    val rows = runs.values.map(_.rows).sum
    r.metric("stream_rows_per_s", rows / r.measuredS, "rows/s")

    // ---- output checks (outside the timed window) -------------------
    val tk = s.read.parquet(s"$stage/ticks")
    val fl = s.read.parquet(s"$stage/fills")
    def batches(p: String) = runs(p).batchMs.size
    def rowsOf(p: String, schema: org.apache.spark.sql.types.StructType) =
      s.createDataFrame(java.util.Arrays.asList(runs(p).out.map(_._2): _*), schema)
    def same(a: DataFrame, b: DataFrame) =
      a.count() == b.count() && a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty
    r.invariant("stream.dedup", batches("dedup")) {
      val n = runs("dedup").out.size.toLong
      n >= tk.select("event_id").distinct().count() && n <= tk.count() &&
        runs("dedup").rows == tk.count()
    }
    // append-mode candles: exactly the batch candles of every window
    // the final watermark closed
    r.invariant("stream.candles", batches("candles")) {
      val batch = graft.streaming.StreamingIngest.candleStream(tk, "30 days")
      val wm = runs("candles").progress.last.eventTime.get("watermark")
      val closed = batch.filter(col("bucket") + expr("INTERVAL 1 MINUTE") <=
        to_timestamp(lit(wm), "yyyy-MM-dd'T'HH:mm:ss.SSSX"))
      same(rowsOf("candles", batch.schema), closed)
    }
    // update-mode leaderboard: the last update of every (bucket,
    // wallet) equals the batch aggregate
    r.invariant("stream.leaderboard", batches("leaderboard")) {
      val batch = graft.streaming.StreamingIngest.leaderboardStream(fl, "30 days")
      val last = runs("leaderboard").out.groupBy(t => (t._2.get(0), t._2.get(1)))
        .values.map(_.maxBy(_._1)._2).toSeq
      same(s.createDataFrame(java.util.Arrays.asList(last: _*), batch.schema), batch)
    }
    // incremental FIFO: the same rows as the batch fold
    r.invariant("stream.ledger_fifo", batches("ledger_fifo")) {
      val batch = graft.operators.Ledger.build(s, fl).toDF()
      same(rowsOf("ledger_fifo", batch.schema), batch)
    }
    // CDC upsert: the final snapshot is the batch keep-latest per token
    r.invariant("stream.cdc_upsert", batches("cdc_upsert")) {
      val w = org.apache.spark.sql.expressions.Window.partitionBy("token_id")
        .orderBy(col("ts").desc, col("event_id").desc)
      val latest = tk.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select("token_id", "ts", "event_id")
      val snap = graft.sources.VersionedStore.read(s, s"${r.dir}/store/cdc_upsert-main")
        .select("token_id", "ts", "event_id")
      same(snap, latest)
    }

    if (r.tracer.on) {
      def med(xs: Seq[Double]) = Run.quantile(xs.sorted.toIndexedSeq, 0.5)
      for (p <- Paths) {
        val pr = runs(p)
        val prog = r.tracer.progressOf(pr.id).filter(_.numInputRows > 0)
        def dur(k: String) = med(prog.flatMap(x => Option(x.durationMs.get(k)).map(_.toDouble)))
        val st = prog.lastOption.map(_.stateOperators.toSeq).getOrElse(Seq.empty)
        r.metric(s"stream.$p.rows_per_s", pr.rows / pr.wallS, "rows/s")
        r.metric(s"stream.$p.batch_p50_ms", med(pr.batchMs), "ms")
        r.metric(s"stream.$p.addbatch_ms", dur("addBatch"), "ms")
        // the upsert sink's batch is the VersionedStore merge and commit
        if (p == "cdc_upsert") r.metric("store.commit_ms", dur("addBatch"), "ms")
        r.metric(s"stream.$p.commit_ms", dur("commitOffsets"), "ms")
        r.metric(s"stream.$p.state_rows", st.map(_.numRowsTotal).sum.toDouble, "count")
        r.metric(s"stream.$p.state_mb", st.map(_.memoryUsedBytes).sum / 1048576.0, "MB")
      }
      val table = s"${r.dir}/store/cdc_upsert-main"
      val versions = graft.sources.VersionedStore.currentVersion(table)
      r.metric("store.manifest_bytes_per_version",
        r.treeBytes(s"$table/manifests").toDouble / math.max(1, versions), "bytes")
    }
  }

  /** Write `df` as `n` parquet files covering consecutive event-time
    * ranges, oldest first by name and modification time (the file
    * source replays files in modification-time order). */
  private def stageFiles(df: DataFrame, path: String, n: Int): Unit = {
    df.repartitionByRange(n, col("ts")).sortWithinPartitions("ts")
      .write.mode("overwrite").parquet(path)
    val parts = new java.io.File(path).listFiles()
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
      .sortBy(_.getName)
    val base = System.currentTimeMillis() - 3600 * 1000L
    parts.zipWithIndex.foreach { case (f, i) => f.setLastModified(base + i * 1000L) }
  }

  private def copyFirst(from: String, to: String, n: Int): Unit = {
    new java.io.File(to).mkdirs()
    val parts = new java.io.File(from).listFiles()
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
      .sortBy(_.getName).take(n)
    parts.zipWithIndex.foreach { case (f, i) =>
      val dst = new java.io.File(to, f.getName)
      java.nio.file.Files.copy(f.toPath, dst.toPath)
      dst.setLastModified(f.lastModified())
    }
  }
}

/** corpus_prep — the training-data pipeline, each step once, timed as
  * the first execution in a fresh JVM. Each step writes its output
  * (the pipeline's product), which the oracle then checks. The only
  * workload that loads Dedup, Similarity, IvfIndex, PqIndex,
  * TextAnalysis and CorpusPipeline; q_ann_recall computes its gates
  * from scratch because the ANN answer MVs are session-only here. */
object CorpusPrep {
  val Steps: Seq[String] = Seq("q_corpus_e2e", "q_dedup_exact",
    "q_dedup_clusters_exact", "q_semdedup", "q_text_quality", "q_quality_gate",
    "q_decontaminate", "q_token_count", "q_neardup_recall", "q_ann_recall")

  def run(r: Run): Unit = {
    val s = r.spark
    r.setupS = r.sessionS
    val steps = if (r.smoke) Steps.filterNot(_ == "q_ann_recall") else Steps
    val paths = scala.collection.mutable.LinkedHashMap.empty[String, String]
    val m0 = r.beginWindow()
    for (q <- steps) r.op(q) {
      paths(q) = r.tracer.span("corpus.step")(r.dump(q, SparkEntry.queries(q)(s, r.data)))
    }
    r.endWindow(m0)
    for ((q, p) <- paths) r.check(q, p, 1)
    for (o <- r.ops) r.metric(s"corpus.${o.name}_s", o.ms / 1000.0, "s")
    paths.get("q_ann_recall").foreach { p =>
      val g = s.read.parquet(p)
      r.metric("ann.recall", g.filter(col("recall_ge_bar")).count().toDouble / math.max(1L, g.count()), "ratio")
    }
  }
}
