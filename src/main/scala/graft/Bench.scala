package graft
import org.apache.spark.sql.SparkSession

/** Benchmark main. Crash-proof by construction (the driver's wall-clock cap
  * delivers SIGTERM mid-run — BENCH_r05 died that way with zero output):
  *   - BENCH_LOCAL.json is rewritten after EVERY query, so the on-disk map
  *     is never more than one query stale;
  *   - a JVM shutdown hook prints the one-line headline JSON from whatever
  *     measurements completed (SIGTERM runs hooks; only SIGKILL doesn't);
  *   - the query loop aborts the moment the SparkContext is stopped instead
  *     of burning minutes recording failures against a dead context;
  *   - passes default to 1 (SPARK_GRAFT_PASSES=2 restores min-of-2) so the
  *     wall clock stays well inside the driver's cap.
  */
object Bench {
  // The driver captures only the last ~2000 chars of output, so the
  // printed one-line JSON carries a SIZE-CAPPED cold map: the TopN
  // heaviest cold queries plus every failure (everything still runs
  // and counts toward "value"; the complete map rides
  // BENCH_LOCAL.json, committed next to the build). A size cap cannot
  // drift the way the r8 name-denylist did — at 137 queries the
  // denylisted line grew past 2 000 chars again and BENCH_r11.json
  // came back `parsed: null`. BenchHeadlineSpec pins the rendered
  // length < 1900 at 300 synthetic queries.
  // 20 (was 25 through r12): the saved ~220 chars fund the vs_baseline
  // section (VERDICT r12 #1) inside the same ~2000-char tail window;
  // the full cold map still rides BENCH_LOCAL.json
  private[graft] val HeadlineTopN = 20
  private[graft] val SteadyWorstN = 10
  // Failures render TWICE (a -1 map entry + a failed[] entry, ~76
  // chars a pair — the r7 same-population invariant), so they carry
  // their own cap AND displace success entries two-for-one from the
  // shared budget; failed_n always carries the true count (ADVICE
  // r12: unbounded failures could overflow the line exactly when a
  // mass-failure run made the headline matter most).
  private[graft] val FailTopN = 10

  // ---- crash-proof state: everything the shutdown hook needs, no Spark ----
  // passes(i)(name) = (seconds, ok); `order` preserves run order for output
  @volatile private var passes: Vector[Map[String, (Double, Boolean)]] = Vector(Map.empty)
  @volatile private var order: Vector[String] = Vector.empty
  @volatile private var sfDirV: String = ""
  @volatile private var nPassesV: Int = 1
  // a SPARK_GRAFT_ONLY run covers a subset of the registry: its dump
  // must not clobber the committed full-registry artifact (it silently
  // did during r13 — VERDICT r13 #3)
  private def scopedV: Boolean = GraftSession.only.isDefined || warmupOnlyV
  /** SPARK_GRAFT_WARMUP_ONLY=1: run the mv_warmup phase then exit —
    * the priming pass for the persisted-MV attach seam
    * (SPARK_GRAFT_MV_DISK). Counts as scoped so the partial artifact
    * lands in BENCH_SCOPED.json, never on BENCH_LOCAL.json. */
  private def warmupOnlyV: Boolean =
    sys.env.get("SPARK_GRAFT_WARMUP_ONLY").exists(v =>
      v == "1" || v.equalsIgnoreCase("true"))
  /** Artifact the per-query dump writes to — scoped (partial) runs land
    * in their own file; only a full-registry sweep may overwrite
    * BENCH_LOCAL.json. */
  private[graft] def localDumpTarget(scoped: Boolean): String =
    if (scoped) "BENCH_SCOPED.json" else "BENCH_LOCAL.json"
  // mv_warmup phase (VERDICT r10 #1): (label, seconds, ok) per session
  // MV materialized BEFORE the cold sweep, so each query's cold time is
  // its own work and the shared-MV build cost is its own labeled line
  @volatile private var mvWarmup: Vector[(String, Double, Boolean)] = Vector.empty
  // (MV, MB in storage memory, MB on block-manager disk) after the
  // warmup, read from the block manager
  @volatile private var mvResident: Seq[(String, Double, Double)] = Nil
  // exactly-once guard shared by the normal path and the shutdown hook
  // (on SIGTERM the main loop keeps running concurrently with the hook)
  private val headlinePrinted = new java.util.concurrent.atomic.AtomicBoolean(false)
  // Always print, even with zero completed measurements: an empty-map line
  // is still parseable by the driver, where silence reads as a crash.
  private def printHeadlineOnce(): Unit =
    if (headlinePrinted.compareAndSet(false, true)) {
      System.err.println("[bench] emitting headline JSON")
      println(headlineJson); System.out.flush()
    }

  private def fmt(v: Double): String = f"$v%.3f"
  private def fmt2(v: Double): String = f"$v%.2f"

  // ---- vs_baseline (VERDICT r12 #1) -----------------------------------
  // BASELINE.json publishes no reference timings, so the "within 2x of
  // baseline" gate was unfalsifiable; BASELINE_DUCKDB.json (written by
  // tools/duckdb_baseline.py, committed) carries DuckDB's wall-times on
  // the ORACLE SQL over the same parquet at the same sf on the same
  // host. ratio = our steady seconds / DuckDB seconds per query.
  /** Read `times` ({name: sec}) from {"sf": ..., "times": {...}};
    * returns empty when the file was measured at a different sf than
    * this run (an sf0.01 smoke run must not ratio itself against sf0.1
    * baselines). */
  private[graft] def parseBaseline(body: String, sfDir: String)
      : Map[String, Double] = {
    import org.json4s._
    val doc = org.json4s.jackson.JsonMethods.parse(body)
    if (doc \ "sf" != JString(sfDir)) return Map.empty
    doc \ "times" match {
      case JObject(fields) => fields.collect {
        case (k, JDouble(v)) if v > 0 => k -> v
        case (k, JInt(v)) if v > 0 => k -> v.toDouble
      }.toMap
      case _ => Map.empty
    }
  }
  private lazy val baseline: Map[String, Double] =
    try {
      val p = java.nio.file.Paths.get("BASELINE_DUCKDB.json")
      if (java.nio.file.Files.exists(p))
        parseBaseline(java.nio.file.Files.readString(p), sfDirV)
      else Map.empty
    } catch { case _: Throwable => Map.empty }
  /** name -> (our steady sec, DuckDB sec). Kept as the pair so the
    * stats can separate throughput from Spark's ~0.3-1 s per-query
    * floor: a 2 ms oracle (a gate whose SQL re-derives constants, or a
    * dim-sized query) measures the floor, not the engine — `med_sub`
    * medians only the substantive oracles (DuckDB >= 0.5 s), `sum` is
    * total wall over total wall. */
  private def vsBaseline(steady: Seq[(String, Double)])
      : Map[String, (Double, Double)] =
    steady.flatMap { case (n, s) =>
      baseline.get(n).map(b => n -> (s, b)) }.toMap
  // ---- the >2x substantive weak-list (VERDICT r14 #2) ----------------
  // med_sub keeps its 0.5 s population bar, but the WEAK-LIST bar
  // carries hysteresis at 0.4 s: r14's min-of-two baseline regen pushed
  // q_lb_explain (0.478 s) and q_volume_ma7 (0.473 s) a hair under the
  // old 0.5 s bar, so the committed artifact's over2x_substantive
  // structurally under-reported exactly the queries under watch. On
  // top of the hysteresis, every query that has EVER crossed the bar
  // in a committed artifact is pinned on a watch-list that ignores the
  // bar entirely — a baseline regen can never hide a watched query
  // again.
  private[graft] val SubstantiveBar = 0.5
  private[graft] val Over2xBar = 0.4
  private[graft] val Over2xWatch: Set[String] = Set(
    "q_vwap", "q_volume_ma7", "q_lb_explain", "q_portfolio_light",
    "q_win_rate", "q_ledger_from_logs_full", "q_positions",
    // r15 crossers (union-window as-of noise band; the summap and
    // repetition boundaries before their rewrites): once crossed,
    // watched forever
    "q_price_asof", "q_price_asof_tol", "q_doc_repetition", "q_summap",
    // r18 crosser (2.19x in the driver's round bench before the decoded
    // MVs + sortWithinPartitions rewrite — VERDICT r18 #1/#2)
    "q_log_decode_condition")
  /** Pure renderer for over2x_substantive, unit-tested by
    * BenchHeadlineSpec: name → ratio for every query whose ratio
    * exceeds 2x and whose baseline clears the hysteresis bar OR whose
    * name is on the pinned watch-list. */
  private[graft] def over2xJson(vsb: Map[String, (Double, Double)]): String =
    vsb.toSeq
      .collect { case (n, (s, b))
          if (b >= Over2xBar || Over2xWatch(n)) && s / b > 2.0 => (n, s / b) }
      .sortBy(-_._2)
      .map { case (n, r) => s""""$n":${fmt2(r)}""" }
      .mkString("{", ",", "}")

  /** Pure renderer of BENCH_LOCAL.json's `mv_resident` map, unit-
    * tested by BenchHeadlineSpec: MV → {"mem_mb", "disk_mb"}. */
  private[graft] def residentJson(rs: Seq[(String, Double, Double)]): String =
    rs.map { case (n, mem, disk) =>
      s""""$n":{"mem_mb":${fmt(mem)},"disk_mb":${fmt(disk)}}""" }
      .mkString("{", ",", "}")
  private def mapJson(rs: Seq[(String, Double, Boolean)]): String =
    rs.map { case (k, v, ok) => s"\"$k\":" + (if (ok) fmt(v) else "-1") }
      .mkString("{", ",", "}")
  /** Per-query min over completed passes; ok = every completed pass ok. */
  private def merged: Seq[(String, Double, Boolean)] =
    order.flatMap { n =>
      val samples = passes.flatMap(_.get(n))
      if (samples.isEmpty) None
      else Some((n, samples.map(_._1).min, samples.forall(_._2)))
    }
  private def failedJson(rs: Seq[(String, Double, Boolean)]): String =
    rs.collect { case (k, _, false) => s"\"$k\"" }.mkString("[", ",", "]")
  /** Pass-1 (cold) samples in run order — the headline "queries" map:
    * comparable with r7's passes=1 line AND with a fresh-cluster run. */
  private def coldPass: Seq[(String, Double, Boolean)] =
    order.flatMap(n =>
      passes.headOption.flatMap(_.get(n)).map(s => (n, s._1, s._2)))
  /** Pure renderer, unit-tested by BenchHeadlineSpec: given the cold
    * samples, the steady samples and the scalars, produce the one-line
    * headline JSON. Size-bounded by construction — the cold map is
    * capped at [[HeadlineTopN]] heaviest + all failures, the steady
    * side prints scalars + the [[SteadyWorstN]] worst queries. */
  private[graft] def renderHeadline(
      cold: Seq[(String, Double, Boolean)],
      steady: Seq[(String, Double)],
      failed: Seq[String],
      done: Int, selected: Int, nPasses: Int,
      mvTotal: Double, mvN: Int, sfDir: String,
      vsb: Map[String, (Double, Double)] = Map.empty): String = {
    val total = cold.collect { case (_, v, true) => v }.sum
    // cap BOTH sides (ADVICE r12): the first FailTopN failures in run
    // order, and the heaviest successes filling what's left of the
    // shared budget (each rendered failure costs ~2 success slots).
    // The -1 map entries and failed[] stay the SAME (now capped)
    // population — the r7 invariant over the shown set — with failed_n
    // carrying the true count so a truncated list reads as truncated.
    val failShown = failed.take(FailTopN)
    val failCap = failShown.toSet
    val successBudget = math.max(3, HeadlineTopN - 2 * failShown.size)
    val okByWeight = cold.filter(_._3).sortBy(-_._2).take(successBudget)
      .map(_._1).toSet
    val line = cold.filter { case (k, _, ok) =>
      if (ok) okByWeight(k) else failCap(k) }
    val steadyTotal = steady.map(_._2).sum
    // worst-N steady map (VERDICT r11 #1): the heaviest queries keep a
    // directly machine-readable longitudinal signal; the full steady
    // map rides BENCH_LOCAL.json
    val steadyWorst = steady.sortBy(-_._2).take(SteadyWorstN)
    val steadyWorstJson = steadyWorst
      .map { case (n, v) => s""""$n":${fmt(v)}""" }.mkString("{", ",", "}")
    // per-HEADLINE-query vs_baseline ratios (the steady_worst set —
    // the full per-query map rides BENCH_LOCAL.json) + summary stats
    // over every ratio'd query; empty objects when no baseline file
    val ratios = vsb.map { case (n, (s, b)) => n -> s / b }
    val vsShownJson = steadyWorst
      .flatMap { case (n, _) => ratios.get(n).map(r => s""""$n":${fmt2(r)}""") }
      .mkString("{", ",", "}")
    val vsStatsJson =
      if (vsb.isEmpty) """{"n":0}"""
      else {
        val rs = ratios.values.toSeq.sorted
        def med(xs: Seq[Double]) = xs((xs.size - 1) / 2)
        def pct(p: Double) = rs(math.round(p * (rs.size - 1)).toInt)
        val worst = ratios.maxBy(_._2)
        // sum: total wall / total wall — the throughput aggregate.
        // med_sub: median ratio over oracles DuckDB itself needs
        // >= 0.5 s for; below that the ratio measures Spark's fixed
        // per-query floor (driver+codegen+32-task scheduling), not the
        // engine (a 2 ms constant-gate oracle vs any Spark query is a
        // floor measurement by construction).
        val sum = vsb.values.map(_._1).sum / vsb.values.map(_._2).sum
        val sub = vsb.collect { case (_, (s, b)) if b >= SubstantiveBar => s / b }
          .toSeq.sorted
        val subJson =
          if (sub.isEmpty) "" else s""""sub_n":${sub.size},"med_sub":${fmt2(med(sub))},"""
        s"""{"n":${rs.size},"sum":${fmt2(sum)},${subJson}"median":${fmt2(pct(0.5))},""" +
          s""""p90":${fmt2(pct(0.9))},"max":${fmt2(rs.last)},"worst":"${worst._1}"}"""
      }
    val failedJs = failShown.map(n => s""""$n"""").mkString("[", ",", "]")
    // completed/selected/passes: a SIGTERM'd sweep sums only what
    // finished, which would otherwise read as a (misleadingly fast)
    // complete run — completed < selected marks the COLD line as
    // truncated (ADVICE r6); the steady sweep reports its own count.
    // steady_scope marks the steady population (ADVICE r9); mode is
    // the one trades layout, kept as a constant key for cross-round
    // tooling; queries_scope marks the cold-map cap so that tooling
    // doesn't read the capped map as the full population.
    s"""{"metric":"total","value":${fmt(total)},"unit":"sec","completed":$done,"selected":$selected,"passes":$nPasses,"mv_warmup":${fmt(mvTotal)},"mv_warmup_n":$mvN,"mv_disk":{"hits":${graft.model.Views.diskHits.get()},"misses":${graft.model.Views.diskMisses.get()}},"queries":${mapJson(line)},"queries_scope":"top${HeadlineTopN}_plus_failed","failed_n":${failed.size},"steady_total":${fmt(steadyTotal)},"steady_n":${steady.size},"steady_scope":"all","steady_worst":$steadyWorstJson,"vs_baseline":$vsShownJson,"vs_baseline_stats":$vsStatsJson,"failed":$failedJs,"mode":"flat","sf":"$sfDir"}"""
  }
  private def headlineJson: String = {
    val rs = merged
    // A query that failed in ANY pass is a failure: it rides failed[]
    // AND prints -1 in the cold map (same population for both — the
    // r7 invariant; cold time alone would claim success next to a
    // failed[] entry for the same name).
    val anyFail = rs.collect { case (k, _, false) => k }.toSet
    val cold = coldPass.map { case (k, v, ok) => (k, v, ok && !anyFail(k)) }
    // Steady = min over ≥2 samples (the longitudinal signal r1-r5's
    // min-of-2 carried — first-touch codegen and session-MV builds
    // land only in the cold map). ALL queries enter the steady
    // population (VERDICT r8 #2); only fully-ok queries count (a
    // failed query's time is time-to-exception, not a runtime).
    val steady = order.flatMap { n =>
      val ss = passes.flatMap(_.get(n))
      if (ss.length >= 2 && ss.forall(_._2))
        Some((n, ss.map(_._1).min))
      else None
    }
    val done = passes.headOption.map(_.size).getOrElse(0)
    val mvTotal = mvWarmup.collect { case (_, v, true) => v }.sum
    renderHeadline(cold, steady, rs.collect { case (k, _, false) => k },
      done, order.size, nPassesV, mvTotal, mvWarmup.size, sfDirV,
      vsBaseline(steady))
  }
  /** Full map + raw per-pass samples → BENCH_LOCAL.json. Called after every
    * query: a tmp-file + atomic move so a kill mid-write can't truncate it. */
  private def dumpLocal(): Unit = {
    val rs = merged
    val total = rs.collect { case (_, v, true) => v }.sum
    val passJson = passes.zipWithIndex.map { case (p, i) =>
      s""""pass${i + 1}":${mapJson(order.flatMap(n => p.get(n).map(s => (n, s._1, s._2))))}"""
    }.mkString(",")
    // FULL per-query vs_baseline map (uncapped) from the min-of-passes
    // samples — the headline carries only the steady_worst slice
    val vsbFull = vsBaseline(rs.collect { case (k, v, true) => (k, v) })
    val vsbJson = vsbFull.toSeq.sortBy(_._1)
      .map { case (n, (s, b)) => s""""$n":${fmt2(s / b)}""" }
      .mkString("{", ",", "}")
    // the >2x SUBSTANTIVE set by name (VERDICT r13 nit): queries whose
    // DuckDB oracle takes >= the substantive bar and whose ratio
    // exceeds the 2x gate — explicit here so an outlier can never hide
    // outside the headline's worst-10 window
    val over2x = over2xJson(vsbFull)
    // MV disk-layer traffic (SPARK_GRAFT_MV_DISK): hits>0 marks this
    // run as ATTACHED to persisted MV state rather than building it —
    // a warm-warmup artifact must say so on its face.
    val mvDisk = s"""{"hits":${graft.model.Views.diskHits.get()},""" +
      s""""misses":${graft.model.Views.diskMisses.get()}}"""
    val full =
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","passes":${passes.length},"mv_warmup":${mapJson(mvWarmup)},"mv_disk":$mvDisk,"mv_resident":${residentJson(mvResident)},"queries":${mapJson(rs)},$passJson,"failed":${failedJson(rs)},"vs_baseline":$vsbJson,"over2x_substantive":$over2x,"steady_scope":"all","mode":"flat","sf":"$sfDirV"}"""
    try {
      // scoped (SPARK_GRAFT_ONLY) runs land in BENCH_SCOPED.json
      val out = localDumpTarget(scopedV)
      val tmp = java.nio.file.Paths.get(out + ".tmp")
      java.nio.file.Files.writeString(tmp, full)
      java.nio.file.Files.move(tmp, java.nio.file.Paths.get(out),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    } catch { case e: Throwable => System.err.println(s"[bench] local dump: ${e.getMessage}") }
  }

  /** Shuffle/spill blocks are ephemeral: put them on tmpfs when the host has
    * one — local-disk bandwidth on this box is subject to hypervisor IO
    * throttling (measured 15 MB/s windows; PLANS.md "host-noise"), and a
    * throttled shuffle write serializes every Exchange behind one sys-bound
    * writer thread. On a real cluster the equivalent is fast local SSDs per
    * executor. BUT tmpfs pages count against the same RAM as the JVM heap,
    * so the dir is (a) per-run (no collisions between concurrent
    * Bench/Verify), (b) pre-cleaned of leftovers from killed runs, and
    * (c) only used when /dev/shm has ≥64 GiB free; otherwise disk. */
  private def pickLocalDir(): String = {
    val fallback = System.getProperty("java.io.tmpdir")
    val shm = new java.io.File("/dev/shm")
    if (!shm.canWrite) return fallback
    // Only reap dirs whose OWNING pid is gone: a concurrently running
    // Bench/Verify's live local dir must survive the pre-clean (ADVICE r6).
    val stale = shm.listFiles()
    if (stale != null)
      stale.filter { f =>
        f.getName.startsWith("graft-spark-local") && {
          val pid = f.getName.stripPrefix("graft-spark-local-").toLongOption
          pid.forall(p => scala.jdk.OptionConverters.RichOptional(ProcessHandle.of(p)).toScala.forall(!_.isAlive))
        }
      }.foreach(f => graft.model.Views.rmTree(f.toPath))
    if (shm.getUsableSpace >= (64L << 30))
      s"/dev/shm/graft-spark-local-${ProcessHandle.current().pid()}"
    else fallback
  }
  /** Mid-run memory guard for the tmpfs local dir: shuffle files from
    * finished jobs are freed by the ContextCleaner only on GC, so nudge one
    * when free space dips. Session-MV shuffles stay pinned (small at sf0.1);
    * the unbounded term — per-query ephemeral shuffles — is collectable. */
  private def boundTmpfs(onTmpfs: Boolean): Unit = if (onTmpfs) {
    val shm = new java.io.File("/dev/shm")
    if (shm.getUsableSpace < (48L << 30)) {
      System.err.println(f"[bench] /dev/shm free ${shm.getUsableSpace / (1L << 30)}%d GiB - GC nudge for ContextCleaner")
      System.gc()
      if (shm.getUsableSpace < (24L << 30))
        System.err.println("[bench] WARNING /dev/shm still low after GC; shuffles may ENOSPC")
    }
  }

  def main(args: Array[String]): Unit = {
    sfDirV = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // SPARK_GRAFT_ONLY=q_a,q_b restricts the run (targeted re-bench)
    val only = GraftSession.only
    // a WARMUP_ONLY prime of a restricted registry is a contradiction:
    // the warmup phase itself requires the unrestricted registry, so
    // the combination used to silently emit an empty scoped artifact
    // (ADVICE r17) — refuse instead
    if (warmupOnlyV && only.isDefined) {
      System.err.println("[bench] SPARK_GRAFT_WARMUP_ONLY=1 with " +
        "SPARK_GRAFT_ONLY set would prime nothing (the warmup phase " +
        "only runs for the full registry) — unset one of them")
      sys.exit(2)
    }
    // persisted-MV layer default-ON (VERDICT r17 #3): the bench
    // attaches to MVs persisted by an earlier run under the stable
    // host cache; SPARK_GRAFT_MV_DISK=<path|off> still overrides
    graft.model.Views.enableDefaultDiskRoot()
    // non-numeric or <1 must not crash or zero the sweep (ADVICE r6)
    val nPasses = math.max(1,
      sys.env.get("SPARK_GRAFT_PASSES").flatMap(_.toIntOption).getOrElse(1))
    nPassesV = nPasses
    // The hook is registered BEFORE Spark starts: on SIGTERM it runs
    // concurrently with Spark's own stop-hook and touches no Spark state —
    // it prints the headline line from completed measurements and flushes.
    Runtime.getRuntime.addShutdownHook(new Thread(() => printHeadlineOnce()))
    val localDir = pickLocalDir()
    val onTmpfs = localDir.startsWith("/dev/shm")
    val spark = GraftSession.local(Some(localDir))
    // noop sink: full computation, no write cost, no count() shortcuts.
    // With SPARK_GRAFT_PASSES=2, min-of-2 filters codegen-compile and
    // transient JIT/GC cost; the default is one pass so the wall clock
    // stays far from the driver's kill cap (VERDICT r5 §1e).
    def once(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): (Double, Boolean) = {
      val t0 = System.nanoTime()
      val ok =
        try { fn(spark, sfDirV).write.format("noop").mode("overwrite").save(); true }
        catch { case e: Throwable =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}"); false
        }
      val dt = (System.nanoTime() - t0) / 1e9
      // stderr progress line per query: a hung/pathological query is
      // identifiable from the log tail without waiting for the JSON
      System.err.println(f"[bench] $name $dt%.2fs")
      (dt, ok)
    }
    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
    order = selected.map(_._1).toVector
    // Passes are SEPARATE full sweeps, not back-to-back per query: a
    // transient host stall lands on at most one of a query's samples.
    var contextDead = false
    def runSweep(pi: Int,
        qs: Seq[(String, (SparkSession, String) => org.apache.spark.sql.DataFrame)]): Unit = {
      if (passes.length <= pi) passes = passes :+ Map.empty
      val it = qs.iterator
      while (it.hasNext && !contextDead) {
        val (name, fn) = it.next()
        if (spark.sparkContext.isStopped) {
          // externally stopped (driver SIGTERM): record nothing bogus,
          // leave the loop — the shutdown hook reports what completed.
          System.err.println(s"[bench] SparkContext stopped externally before $name - aborting sweep")
          contextDead = true
        } else {
          val sample = once(name, fn)
          // a query failing BECAUSE the context died mid-flight must not
          // be recorded as a measurement either
          if (spark.sparkContext.isStopped) {
            System.err.println(s"[bench] SparkContext stopped during $name - aborting sweep")
            contextDead = true
          } else {
            passes = passes.updated(pi, passes(pi) + (name -> sample))
            dumpLocal()
            boundTmpfs(onTmpfs)
          }
        }
      }
      // generated classes compiled so far (each one a codegen-cache
      // miss) and the metaspace they sit in: the input that sizes
      // GraftSession.CodegenCacheEntries
      val metaMb = java.lang.management.ManagementFactory.getMemoryPoolMXBeans
        .toArray(Array.empty[java.lang.management.MemoryPoolMXBean])
        .filter(_.getName == "Metaspace").map(_.getUsage.getUsed / 1048576.0).sum
      System.err.println(f"[bench] pass ${pi + 1}: codegen compiled " +
        s"${org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount}" +
        f" classes so far, metaspace $metaMb%.1f MB")
    }
    // ---- mv_warmup phase (VERDICT r10 #1) -----------------------------
    // Materialize the shared session MVs BEFORE the cold sweep and
    // report each build as its own labeled line: cold per-query numbers
    // then mean "this query's own work", not "whichever query happened
    // to first-touch the ledger fold". In SparkEntry.sessionViews'
    // declared dependency order, so each label's time is its own
    // build, not a transitively-triggered one.
    var warmedNames: Set[String] = Set.empty
    if (!contextDead && only.isEmpty) {
      // Phase 1, SEQUENTIAL: register every MV. With the disk layer on
      // (the Bench default), a cache MISS runs the build and parquet
      // write inside Views.cached — so cold build cost lands on its own
      // label exactly as before — while a HIT is just the attach read.
      // Per-label attribution of builds therefore needs the disk layer;
      // with SPARK_GRAFT_MV_DISK=off the build cost lands in the
      // (materialize) line below instead.
      var registered: List[(String, org.apache.spark.sql.DataFrame)] = Nil
      for ((name, fn) <- SparkEntry.sessionViews if !contextDead) {
        if (spark.sparkContext.isStopped) contextDead = true
        else {
          val t0 = System.nanoTime()
          val frame =
            try Some(fn(spark, sfDirV))
            catch { case e: Throwable =>
              System.err.println(s"[bench] warmup $name failed: ${e.getMessage}"); None }
          val dt = (System.nanoTime() - t0) / 1e9
          System.err.println(f"[bench] warmup $name $dt%.2fs")
          mvWarmup = mvWarmup :+ ((name, dt, frame.nonEmpty))
          frame.foreach(df => registered = (name, df) :: registered)
          dumpLocal()
        }
      }
      // Phase 2, PARALLEL: materialize the registered persists with
      // concurrent noop jobs (VERDICT r18 #5). On an attached cache
      // this is 40+ independent parquet re-reads — serially they each
      // pay the fixed job floor (~0.5-0.9 s = the whole 37 s phase);
      // 8-way they overlap into the IO budget. Reported as ONE
      // (materialize) wall line so the mv_warmup sum stays the phase's
      // honest wall clock. Dependents re-entering a neighbour's persist
      // mid-materialization at worst recompute a cache block that loses
      // the publish race — correct, bounded, and bounded again by the
      // pool width.
      if (!contextDead && registered.nonEmpty) {
        val t0 = System.nanoTime()
        val pool = java.util.concurrent.Executors.newFixedThreadPool(16)
        implicit val ec: scala.concurrent.ExecutionContext =
          scala.concurrent.ExecutionContext.fromExecutor(pool)
        val futs = registered.reverse.map { case (name, df) =>
          scala.concurrent.Future {
            try { df.write.format("noop").mode("overwrite").save(); true }
            catch { case e: Throwable =>
              System.err.println(s"[bench] warmup $name materialize failed: ${e.getMessage}")
              false }
          }
        }
        val oks = scala.concurrent.Await.result(
          scala.concurrent.Future.sequence(futs),
          scala.concurrent.duration.Duration.Inf)
        pool.shutdown()
        val dt = (System.nanoTime() - t0) / 1e9
        System.err.println(f"[bench] warmup (materialize) $dt%.2fs " +
          s"(${registered.size} MVs, 16-way)")
        mvWarmup = mvWarmup :+ (("(materialize)", dt, oks.forall(identity)))
        dumpLocal()
      }
      warmedNames = graft.model.Views.cachedNames(spark)
      if (!contextDead) { mvResident = graft.model.Views.residency(spark); dumpLocal() }
    }
    var pi = 0
    while (pi < nPasses && !contextDead && !warmupOnlyV) {
      runSweep(pi, selected); pi += 1
    }
    // Steady-state pass (VERDICT r7 #6: r7's passes=1 headline mixed
    // one-time codegen + MV materialization into every number, killing
    // comparability with r1-r5's min-of-2): after the cold sweep,
    // re-run EVERY query once more and report min-of-2 as "steady"
    // NEXT TO the untouched cold numbers. Full-population since r9
    // (VERDICT r8 #2): the steady sweep runs warm (MVs + codegen paid)
    // so it costs ~¼ of the cold sweep even over all queries, and the
    // expensive log-decode/exact-twin families finally get a
    // longitudinal signal. Skipped when SPARK_GRAFT_PASSES already
    // runs multiple full sweeps, or SPARK_GRAFT_STEADY=0.
    val steadyOn = nPasses == 1 &&
      !sys.env.get("SPARK_GRAFT_STEADY").exists(v =>
        v == "0" || v.equalsIgnoreCase("false"))
    if (!contextDead && steadyOn && !warmupOnlyV)
      runSweep(1, selected)
    // warmup-coverage probe: an MV name first registered during the
    // sweeps is one the warmup list missed — its build cost landed on
    // some query's cold time. Loud so SparkEntry.sessionViews drift is
    // caught the round it happens.
    if (warmedNames.nonEmpty && !contextDead) {
      // gate-local MVs (ANN truth sets / recall-gate rows) are BUILT BY
      // their gate query on purpose — the build is that query's own
      // work (and its disk-attach win); they are not warmup-list drift
      val queryLocal = Set("ann_truth_", "ann_gate_", "neardup_gate_")
      val missed = (graft.model.Views.cachedNames(spark) -- warmedNames)
        .filterNot(n => queryLocal.exists(n.startsWith))
      if (missed.nonEmpty)
        System.err.println("[bench] WARNING MVs built during sweeps, not " +
          s"covered by mv_warmup: ${missed.toSeq.sorted.mkString(", ")}")
    }
    // Teardown: release every session MV / pinned histogram through the
    // registry's own lifecycle hook (VERDICT r10 #3 — reset existed but
    // nothing called it in production code).
    if (!contextDead) {
      val n = graft.model.Views.cachedNames(spark).size
      graft.model.Views.reset(spark)
      System.err.println(s"[bench] Views.reset: released $n session MVs + pinned frames")
    }
    // the ONE parseable line, last: headline queries only, "value" = ALL.
    // Stop Spark first (logging off) so no shutdown WARN can land after it.
    if (!contextDead) { spark.sparkContext.setLogLevel("OFF"); spark.stop() }
    printHeadlineOnce()
  }
}
