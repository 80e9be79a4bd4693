package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-curve bench: measures how the production queries' wall time
  * grows as the DATA grows, on fixed hardware.
  *
  * Why it exists: the per-round bench (graft.Bench) compares builds at
  * ONE scale factor; testdata tops out at sf0.1, so the "holds at
  * 100 TB" argument rested on plan-shape audits plus an sf0.01→sf0.1
  * extrapolation (VERDICT r10 "What's missing" #2). This main makes the
  * next decade of that curve a measurement instead: it builds ×1…×16
  * replicas of the sf0.1 tables and times a representative query per
  * operator family at each multiple, then fits the log-log slope.
  *
  * Replica construction — the realistic growth shape. Each replica r
  * offsets every ENTITY key (orderkey, custkey, partkey, suppkey,
  * user/event ids, doc/vec ids) by r·stride, so ×k data has ×k wallets,
  * ×k markets, ×k documents — key cardinality grows WITH the data, the
  * way a marketplace actually grows (more users and markets in the same
  * time window, i.e. rows-per-key and groups-per-window densify by key
  * count, not by per-key history). Timestamps are left untouched on
  * purpose: the window count per key stays fixed while the number of
  * keys scales, which is the hash-aggregate / hash-join stress axis.
  * Value distributions are untouched. Document text gets a per-replica
  * word-salt so near-dup structure is preserved within a replica but
  * replicas don't alias each other — see the inline note at the salt
  * for why (aliasing replicas makes the LSH pair OUTPUT grow ∝k²,
  * and the curve then measures output volume, not the engine).
  * nation/region are true dims and stay fixed.
  *
  * Reading the output: t(k) ≈ c·k^e per query; e≈1 is linear scaling
  * (hash agg/join, sort-within-partition fold), e<1 means fixed
  * per-query cost (planning, codegen, small dims) still dominates at
  * this size, e>1 flags a superlinear term that would bite at 100 TB.
  * The fit uses k∈{2,4,8} (×1 sits on the fixed-cost floor for several
  * sub-second queries); the raw times are all in the artifact so the
  * floor is visible rather than hidden by the fit.
  *
  * Two growth axes, both real at 100 TB (`SPARK_GRAFT_SCALE_AXIS`):
  *  - `entities` (default): ×k wallets/markets/docs, per-key density
  *    fixed — stresses hash-aggregate/join state and shuffle width.
  *  - `density`: entity keys FIXED, ×k rows per key with replica rows
  *    interleaved a few seconds apart — stresses per-key sequential
  *    work (FIFO chains, candle groups) and map-side partial-agg
  *    reduction (output cardinality stays constant as input grows).
  *
  * Artifact: SCALE_CURVE.json / SCALE_CURVE_DENSITY.json (per-query
  * seconds at each ×k, fitted exponent, t_max/t_min ratio) + one
  * parseable stdout line per run. Replica data is written under
  * java.io.tmpdir and removed afterwards.
  */
object ScaleBench {
  // Key strides: far above any sf0.1 key image (orderkey max ≈ 600k,
  // custkey 15k, partkey 20k, suppkey 1k, event/user/doc/vec ≤ 600k),
  // so replica key ranges never collide up to ×100.
  private val STRIDE = 100_000_000L

  /** Per-table key roles. `idCols` are row/order identity (always
    * offset per replica — a replicated fill is a NEW fill); `entityCols`
    * are wallets/markets/suppliers (offset only on the `entities` axis);
    * `tsCol` is the event-time column (jittered only on the `density`
    * axis so replicated rows interleave instead of stacking on
    * identical timestamps). */
  private case class TableSpec(idCols: Seq[String],
                               entityCols: Seq[String],
                               tsCol: Option[String] = None)
  private val tableSpecs: Map[String, TableSpec] = Map(
    "lineitem"   -> TableSpec(Seq("l_orderkey"), Seq("l_partkey", "l_suppkey"), Some("l_shipdate")),
    "orders"     -> TableSpec(Seq("o_orderkey"), Seq("o_custkey"), Some("o_orderdate")),
    "customer"   -> TableSpec(Seq(), Seq("c_custkey")),
    "supplier"   -> TableSpec(Seq(), Seq("s_suppkey")),
    "part"       -> TableSpec(Seq(), Seq("p_partkey")),
    "events"     -> TableSpec(Seq("event_id"), Seq("user_id"), Some("ts")),
    "documents"  -> TableSpec(Seq("doc_id"), Seq()),
    "embeddings" -> TableSpec(Seq("vec_id"), Seq()),
    "nation"     -> TableSpec(Seq(), Seq()), // fixed dims: copied once
    "region"     -> TableSpec(Seq(), Seq()))

  /** One representative query per operator family — names from
    * SparkEntry.queries, run UNCHANGED against each scaled dir. */
  private val queries: Seq[String] = Seq(
    "q1_pricing_summary", // scan + hash agg
    "q_balances",         // explode + wide groupBy (output ∝ wallets×tokens)
    "q_candles_1m",       // time-bucket agg (groups ∝ tokens×minutes)
    "q_leaderboard",      // agg + rank topN
    "q_market_stats",     // multi-metric agg + joins
    "q_ledger_fifo",      // repartition + sortWithinPartitions + fold
    "q_price_asof",       // as-of join
    "q_sessions",         // gap sessionization windows
    "q_dedup_minhash",    // LSH banded explode + bucket self-join
    "q_ann_topk",         // broadcast-query brute-force scan + topK
    "q_ann_ivf2",         // two-level residual IVF: codebooks sized
                          // nlistFor(n) split √×√, sampled fits —
                          // assignment O(n·√nlist·dim), the >16M
                          // shape; density exponent measured r14
    "q_bloom_prune",      // runtime bloom build + semi-prune join
    "q_skew_join",        // salted join equivalence
    "q_doc_chunks",       // scan-stage explode, zero shuffles
    "q_vocab",            // explode + two-level partial agg
    "q_semdedup",         // k-means fit + within-cell pairs. Since r12
                          // nlist DERIVES from corpus size
                          // (IvfIndex.nlistFor: ~256-row cells, fit on
                          // a capped hash sample) so the n²/nlist pair
                          // term stays ∝ n — the VERDICT r11 #6
                          // mitigation implemented and MEASURED:
                          // density e 0.79 → 0.29 (×16 wall 6.9 s →
                          // 2.7 s) at the same scales
    "q_repeated_spans",   // ExactSubstr span find: window explode +
                          // one partial-agg groupBy on window text +
                          // island merge — claimed linear in corpus
                          // words; measured on both axes since r12
    "q_corpus_e2e",       // clean → chunk → pack composition
    "q_dedup_incremental", // bloom prefilter + exact confirm join:
                           // both sides of the sketch/join grow with
                           // the corpus — the re-crawl shape's axis
    "q_cohort_overlap",    // theta set algebra: sketch build ∝ rows,
                           // set ops O(k) — wall should track the
                           // cohort scan, not the overlap math
    "q_interval_sweep",    // +1/-1 endpoint sweep: per-key window
                           // state ∝ distinct endpoints — entities
                           // axis adds keys, density packs more
                           // endpoints per key (r14 continuation)
    "q_kll_gate",          // KLL state rollup + merge + rank gate:
                           // states O(k·log) per (token, day); the
                           // merge level is ∝ day-states per token
    "q_summap",            // map aggregation: per-wallet collect of
                           // (token, sums) — per-key state ∝ that
                           // wallet's distinct tokens (density axis
                           // is the per-key map-growth story)
    "q_mann_whitney",      // rank test: one keyed sort, two window
                           // frames + fold — per-key cost ∝ fills
                           // per token (density axis)
    "q_ann_pq",            // IVF-PQ: fits on the capped hash sample
                           // (O(1) past fitCap), encode + ADC scan
                           // O(n·m) — should track the corpus scan
    "q_multimodal_decode") // per-row byte parse: scan-stage, zero
                           // shuffles before the output sort — the
                           // purest linear shape in the registry

  /** Write the ×k replica of `srcDir` to `outDir`. Replica 0 is the
    * source rows unchanged (so ×1 differs from sf0.1 only in file
    * layout — every scale point is written by the same writer and read
    * back the same way, keeping the curve apples-to-apples). */
  /** Build the ×k replica of ONE table (the loop body of
    * [[buildScaled]]) — [[graft.ScaleAnn]] uses it to grow just the
    * embeddings corpus to its off-clamp scale point without paying for
    * a full ×k dataset. */
  private[graft] def buildScaledTable(spark: SparkSession, srcDir: String,
                                      outDir: String, k: Int, axis: String,
                                      table: String): Unit =
    buildTables(spark, srcDir, outDir, k, axis,
      Map(table -> tableSpecs(table)))

  private[graft] def buildScaled(spark: SparkSession, srcDir: String,
                                 outDir: String, k: Int, axis: String): Unit =
    buildTables(spark, srcDir, outDir, k, axis, tableSpecs)

  private def buildTables(spark: SparkSession, srcDir: String,
                          outDir: String, k: Int, axis: String,
                          specs: Map[String, TableSpec]): Unit = {
    for ((table, spec) <- specs) {
      val src =
        if (table == "events") graft.model.Tables.events(spark, srcDir)
        else spark.read.parquet(s"$srcDir/$table.parquet")
      // entities axis: everything with any key replicates, keys offset.
      // density axis: only fact/corpus tables replicate (identity keys
      // offset, entity keys FIXED — same wallets/markets, ×k rows each);
      // entity dims (customer/supplier/part) stay ×1 like nation/region.
      val keys =
        if (axis == "density") spec.idCols
        else spec.idCols ++ spec.entityCols
      val reps = math.max(1, if (keys.isEmpty) 1 else k)
      val unioned = (0 until reps).map { r =>
        val off = r.toLong * STRIDE
        var df = src
        for (c <- keys) df = df.withColumn(c, col(c) + lit(off))
        // interleave replicated rows in time instead of stacking k
        // rows on identical timestamps (degenerate density)
        if (axis == "density" && r > 0)
          for (c <- spec.tsCol)
            df = df.withColumn(c,
              col(c) + expr(s"INTERVAL ${r * 7} SECONDS"))
        // keep near-dup structure intra-replica ONLY: salting every
        // third word re-keys most shingles per replica, so a doc's
        // true near-dups replicate together but replicas do NOT alias
        // each other. (A plain suffix makes every doc a near-dup of
        // its 7 copies: LSH pair OUTPUT then grows ∝k² by
        // construction and the curve measures output volume, not the
        // engine — measured exponent 1.7 on that variant.)
        if (table == "documents" && r > 0)
          df = df.withColumn("text", concat_ws(" ",
              transform(split(col("text"), " +"),
                (w, i) => when(i % 3 === 0, concat(w, lit(s"r$r"))).otherwise(w))))
            .withColumn("n_chars", length(col("text")).cast("long"))
        // the embedding analogue of the word-salt (found by the r16
        // full-registry sweep: plain replication gives every vector
        // k-1 EXACT cross-replica copies, so cosine near-dup pair
        // OUTPUT grows ∝k² and q_dedup_embedding's curve measures
        // output volume, not the engine — 1.2 s → 29 s at ×10): a
        // per-replica diagonal ±1 sign transform. Diagonal ±1 is
        // ORTHOGONAL, so every intra-replica cosine is preserved
        // bit-for-bit (true near-dup structure replicates with the
        // data) while independent per-replica sign patterns scramble
        // cross-replica cosines toward 0 — replicas cannot alias.
        if (table == "embeddings" && r > 0)
          df = df.withColumn("embedding",
            transform(col("embedding"),
              (x, i) => when(pmod(hash(i, lit(r)), lit(2)) === 1, -x)
                .otherwise(x)))
        df
      }.reduce(_ unionByName _)
      unioned.write.mode("overwrite").parquet(s"$outDir/$table.parquet")
    }
  }

  private def fmt(v: Double): String = f"$v%.3f"

  /** Test hook: replica construction only (ScaleBenchSpec). */
  private[graft] def testBuildScaled(spark: SparkSession, srcDir: String,
      outDir: String, k: Int, axis: String): Unit =
    buildScaled(spark, srcDir, outDir, k, axis)

  def main(args: Array[String]): Unit = {
    val srcDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val scales = sys.env.getOrElse("SPARK_GRAFT_SCALES", "1,2,4,8,16")
      .split(",").flatMap(_.trim.toIntOption).filter(_ >= 1).distinct.sorted.toSeq
    // entities (default): ×k wallets/markets/docs, per-key density fixed.
    // density: fixed entities, ×k rows per key (whale axis — longer
    // FIFO chains, denser candles, heavier partial aggregation).
    val axis = sys.env.getOrElse("SPARK_GRAFT_SCALE_AXIS", "entities") match {
      case "density" => "density"
      case _         => "entities"
    }
    // SPARK_GRAFT_SCALE_ONLY=q_a,q_b: restrict the query set — used to
    // push the worst-exponent families an extra octave (×32 ≈ sf3.2)
    // without paying for the full set at that size (VERDICT r12 #5)
    val only = sys.env.get("SPARK_GRAFT_SCALE_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    val selected = queries.filter(n => only.forall(_.contains(n)))
    // SPARK_GRAFT_SHUFFLE decouples shuffle width from cpu count: on a
    // real cluster partitions scale with DATA, not cores — a fixed 32
    // at ×32 data puts ~1.2M fills in one sort partition and the
    // ledger fold's sortWithinPartitions hits its spill cliff (the ×32
    // focus-run finding; see PLANS.md r13). The knob measures that
    // same query with data-proportional width.
    val spark = GraftSession.local()
    sys.env.get("SPARK_GRAFT_SHUFFLE").flatMap(_.toIntOption).foreach(n =>
      spark.conf.set("spark.sql.shuffle.partitions", n.toLong))

    val root = new java.io.File(
      System.getProperty("java.io.tmpdir"),
      s"graft-scale-${ProcessHandle.current().pid()}")
    graft.model.Views.rmTree(root.toPath)

    // times(query)(k) = steady seconds (min of 3 passes — the host's
    // documented IO-throttle windows last long enough to eat two
    // back-to-back samples of a sub-second query; three passes cost
    // little at these sizes and the min is the engine's number)
    val times = scala.collection.mutable.Map[String, scala.collection.mutable.Map[Int, Double]]()
    try {
      for (k <- scales) {
        val dir = new java.io.File(root, s"x$k").getAbsolutePath
        val tb0 = System.nanoTime()
        buildScaled(spark, srcDir, dir, k, axis)
        System.err.println(f"[scale] built x$k in ${(System.nanoTime() - tb0) / 1e9}%.1fs")
        // shared-MV warmup per scale point (same reason as Bench's
        // mv_warmup phase): the trades view is shared by most of the
        // query set — build it outside any query's timing so the
        // first query at each ×k isn't charged for it
        val tw0 = System.nanoTime()
        graft.model.Views.trades(spark, dir)
          .write.format("noop").mode("overwrite").save()
        System.err.println(f"[scale] warmup trades x$k ${(System.nanoTime() - tw0) / 1e9}%.1fs")
        for (name <- selected; pass <- 1 to 3) {
          val fn = SparkEntry.queries(name)
          val t0 = System.nanoTime()
          val ok =
            try { fn(spark, dir).write.format("noop").mode("overwrite").save(); true }
            catch { case e: Throwable =>
              System.err.println(s"[scale] $name x$k failed: ${e.getMessage}"); false }
          val dt = (System.nanoTime() - t0) / 1e9
          System.err.println(f"[scale] $name x$k pass$pass $dt%.2fs")
          if (ok) {
            val m = times.getOrElseUpdate(name, scala.collection.mutable.Map())
            m(k) = math.min(m.getOrElse(k, Double.MaxValue), dt)
          }
        }
        // per-dir session MVs + pinned histograms die with the scale
        // point — the next point starts cold like the previous one
        graft.model.Views.reset(spark)
        graft.model.Views.rmTree(root.toPath.resolve(s"x$k"))
      }
    } finally graft.model.Views.rmTree(root.toPath)

    // least-squares slope of log2(t) on log2(k), k >= 2 (×1 sits on the
    // fixed-cost floor); exponent e in t ≈ c·k^e
    def slope(m: Map[Int, Double]): Option[Double] = {
      val pts = m.toSeq.filter(_._1 >= 2)
        .map { case (k, t) => (math.log(k.toDouble) / math.log(2), math.log(t) / math.log(2)) }
      if (pts.size < 2) None
      else {
        val n = pts.size.toDouble
        val sx = pts.map(_._1).sum; val sy = pts.map(_._2).sum
        val sxx = pts.map(p => p._1 * p._1).sum
        val sxy = pts.map(p => p._1 * p._2).sum
        Some((n * sxy - sx * sy) / (n * sxx - sx * sx))
      }
    }

    val perQuery = selected.filter(times.contains).map { name =>
      val m = times(name).toMap
      val ks = m.keys.toSeq.sorted
      val tJson = ks.map(k => s""""x$k":${fmt(m(k))}""").mkString("{", ",", "}")
      val e = slope(m).map(fmt).getOrElse("null")
      val ratio =
        for (a <- m.get(ks.min); b <- m.get(ks.max))
          yield fmt(b / a)
      s""""$name":{"sec":$tJson,"exponent":$e,"ratio_max_over_min":${ratio.getOrElse("null")}}"""
    }.mkString("{", ",", "}")
    val meanE = {
      val es = selected.flatMap(n => times.get(n).flatMap(m => slope(m.toMap)))
      if (es.isEmpty) "null" else fmt(es.sum / es.size)
    }
    val line =
      s"""{"metric":"scale_curve","unit":"exponent","value":$meanE,"axis":"$axis","scales":${scales.mkString("[", ",", "]")},"src":"$srcDir","steady":"min_of_3","fit":"k>=2","queries":$perQuery}"""
    try {
      // a SCALE_ONLY focus run gets its own artifact so it never
      // clobbers the full-set curve; DIFFERENT focus runs still share
      // one default name, so SPARK_GRAFT_SCALE_OUT names the artifact
      // explicitly (an r14 focus run silently overwrote the committed
      // ivf2 focus curve — the Bench.dumpLocal lesson, same class)
      val base = if (axis == "density") "SCALE_CURVE_DENSITY"
                 else "SCALE_CURVE"
      val out = sys.env.getOrElse("SPARK_GRAFT_SCALE_OUT",
        base + (if (only.isDefined) "_FOCUS.json" else ".json"))
      java.nio.file.Files.writeString(java.nio.file.Paths.get(out), line)
    } catch { case e: Throwable => System.err.println(s"[scale] dump: ${e.getMessage}") }
    spark.sparkContext.setLogLevel("OFF"); spark.stop()
    println(line); System.out.flush()
  }
}
