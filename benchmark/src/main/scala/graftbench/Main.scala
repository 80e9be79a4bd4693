package graftbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One benchmark run: one workload in a fresh JVM, on inputs run.py
  * generated from the seed. run.py gives every run private tmp, Spark
  * local, warehouse, checkpoint and MV-disk dirs, and checks the
  * outputs this process dumps against the DuckDB oracle.
  *
  *   --workload api_mix|mv_rebuild|stream_replay|corpus_prep
  *   --seed N --seconds S --trace 0|1 --cpus N --smoke 0|1
  *   --data <generated tables> --run-dir <run-private dir>
  *
  * Writes <run-dir>/result.json: ops attempted and failed, the outputs
  * to check, invariant results and every metric by name and unit. */
object Main {
  def main(args: Array[String]): Unit = {
    val o = args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val cpus = o("cpus").toInt
    val dir = o("run-dir")
    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.local.dir", s"$dir/local")
      .config("spark.sql.warehouse.dir", s"$dir/warehouse")
      .config("spark.sql.streaming.checkpointLocation", s"$dir/ckpt")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val run = new Run(spark, o("workload"), o("seed").toLong,
      o("seconds").toDouble, new Tracer(o("trace") == "1"), o("data"), dir,
      o.get("smoke").contains("1"), Run.secondsSince(t0))
    run.tracer.install(spark)
    run.workload match {
      case "api_mix" => ApiMix.run(run)
      case "mv_rebuild" => MvRebuild.run(run)
      case "stream_replay" => StreamReplay.run(run)
      case "corpus_prep" => CorpusPrep.run(run)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    run.tracer.drain(spark)
    run.finish()
    spark.stop()
  }
}

/** State of one run: the measured operations, the outputs to check and
  * the metrics. Every workload reports the same end-to-end metrics —
  * its set-up time, the median and p90 latency of its unit operation
  * and the wall time of its measured job — so the same names compare
  * across commits on every workload. */
final class Run(val spark: SparkSession, val workload: String, val seed: Long,
                val seconds: Double, val tracer: Tracer, val data: String,
                val dir: String, val smoke: Boolean, val sessionS: Double) {
  import Run.Op
  val ops = mutable.ArrayBuffer.empty[Op]
  private val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  private val checks = mutable.ArrayBuffer.empty[Map[String, Any]]
  private val invariants = mutable.ArrayBuffer.empty[Map[String, Any]]
  var setupS: Double = Double.NaN
  var workS: Double = Double.NaN
  var measuredS: Double = Double.NaN

  def metric(name: String, value: Double, unit: String): Unit =
    metrics(name) = (value, unit)

  /** Time one measured operation; a throw counts as a failed op. */
  def op(name: String)(body: => Unit): Unit = {
    tracer.request()
    val w0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val ok =
      try { tracer.span(name)(body); true }
      catch { case e: Throwable =>
        System.err.println(s"[graftbench] $name failed: $e"); false }
    ops += Op(name, (System.nanoTime() - t0) / 1e6, ok, w0, System.currentTimeMillis())
  }

  /** Run `df` once and write its rows to <run-dir>/out/<name>. */
  def dump(name: String, df: => DataFrame): String = {
    val path = s"$dir/out/$name"
    df.write.mode("overwrite").parquet(path)
    path
  }

  /** Have run.py compare the rows at `path` with the oracle SQL of query
    * `name`; `weight` is how many measured ops that output stands for,
    * so a wrong answer fails all of them. */
  def check(name: String, path: String, weight: Int): Unit =
    checks += Map("name" -> name, "path" -> path, "ops" -> weight,
      "oracle" -> graft.SparkEntry.oracleSql(name))

  /** A property the program's output must have; a failure fails
    * `weight` ops. */
  def invariant(name: String, weight: Int)(ok: => Boolean): Unit = {
    val res = try ok catch { case e: Throwable =>
      System.err.println(s"[graftbench] invariant $name threw: $e"); false }
    if (!res) System.err.println(s"[graftbench] invariant $name FAILED")
    invariants += Map("name" -> name, "ok" -> res, "ops" -> weight)
  }

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Open the measured window: execution counters restart here. */
  def beginWindow(): Long = {
    tracer.begin(spark)
    System.nanoTime()
  }

  /** Close the measured window opened at `m0`, before any output check:
    * its wall time (also the job's, unless the workload says otherwise),
    * the execution counters and the storage memory persisted frames
    * hold. */
  def endWindow(m0: Long): Unit = {
    measuredS = Run.secondsSince(m0)
    workS = measuredS
    tracer.end(spark)
    metric("mv_resident_mb",
      spark.sparkContext.getRDDStorageInfo.map(_.memSize).sum / 1048576.0, "MB")
  }

  /** Bytes of regular files under `p`. */
  def treeBytes(p: String): Long = {
    val root = java.nio.file.Paths.get(p)
    if (!java.nio.file.Files.exists(root)) 0L
    else {
      val st = java.nio.file.Files.walk(root)
      try st.filter(f => java.nio.file.Files.isRegularFile(f))
        .mapToLong(f => java.nio.file.Files.size(f)).sum()
      finally st.close()
    }
  }

  def finish(): Unit = {
    // latency quantiles over operation kinds (endpoints, MVs, stream
    // paths, pipeline steps) of each kind's fastest run: every kind
    // weighs the same however often it ran, and on a shared host,
    // where other tenants only ever add time, the fastest of a kind's
    // runs is the one least disturbed
    val lat = ops.groupBy(_.name).values.map(_.map(_.ms).min).toIndexedSeq.sorted
    metric("setup_s", setupS, "s")
    metric("op_p50_ms", Run.quantile(lat, 0.5), "ms")
    metric("op_p90_ms", Run.quantile(lat, 0.9), "ms")
    metric("work_s", workS, "s")
    // JVM: collector time and the heap's peak occupancy over the run
    import scala.jdk.CollectionConverters._
    val gcMs = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .asScala.map(_.getCollectionTime).sum
    val heapPeak = java.lang.management.ManagementFactory.getMemoryPoolMXBeans
      .asScala.filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum
    metric("jvm.gc_ms", gcMs.toDouble, "ms")
    metric("jvm.heap_peak_mb", heapPeak / 1048576.0, "MB")
    if (tracer.on) {
      // Spark execution per measured op; the end-to-end figures of a
      // traced run, less the untraced run's, are the tracing overhead
      val n = math.max(1, ops.size).toDouble
      for (k <- Seq("jobs", "tasks", "exchanges"))
        metric(s"exec.$k", tracer.window(k) / n, "count")
      for (k <- Seq("shuffle_read_mb", "shuffle_write_mb", "spill_mb"))
        metric(s"exec.$k", tracer.window(k) / n, "MB")
      metric("exec.gc_ms", tracer.window("gc_ms") / n, "ms")
      metric("exec.task_skew", tracer.window("task_skew"), "ratio")
      metric("traced.op_p50_ms", Run.quantile(lat, 0.5), "ms")
      metric("traced.work_s", workS, "s")
      tracer.write(java.nio.file.Paths.get(s"$dir/spans.jsonl"))
    }
    val rt = java.lang.management.ManagementFactory.getRuntimeMXBean
    val body = Json.write(Map(
      "workload" -> workload,
      "attempted" -> ops.size,
      "failed" -> ops.count(!_.ok),
      "ops" -> ops.groupBy(_.name).map { case (k, v) => k -> v.size },
      "op_ms" -> ops.map(o => Seq(o.name, o.ms, o.ok)),
      "checks" -> checks.toSeq,
      "invariants" -> invariants.toSeq,
      "metrics" -> metrics.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) },
      "meta" -> Map(
        "spark_master" -> spark.sparkContext.master,
        "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
        "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576,
        "jvm_flags" -> rt.getInputArguments.asScala.toSeq,
        "java_version" -> System.getProperty("java.version"),
        "spark_version" -> spark.version,
        "session_start_s" -> sessionS,
        "measured_s" -> measuredS)))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dir/result.json"), body)
    ()
  }
}

object Run {
  /** A measured operation: its latency, success and wall-clock span
    * in ms (where Spark's own timestamps fall in it). */
  final case class Op(name: String, ms: Double, ok: Boolean, startMs: Long, endMs: Long)

  def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Linear-interpolated quantile of sorted values. */
  def quantile(sorted: IndexedSeq[Double], q: Double): Double =
    if (sorted.isEmpty) Double.NaN
    else {
      val pos = q * (sorted.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, sorted.size - 1)
      sorted(lo) + (sorted(hi) - sorted(lo)) * (pos - lo)
    }
}
