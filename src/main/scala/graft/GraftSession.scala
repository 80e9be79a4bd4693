package graft

import org.apache.spark.sql.SparkSession

/** Session construction. Every main builds its session through
  * [[local]]; library users get the tuned [[builder]] / [[get]]. */
object GraftSession {
  /** Tuned session builder for library users: AQE + skew-join handling
    * on, UTC, sane local shuffle parallelism, graft SQL functions
    * registered. On a real cluster, spark.sql.shuffle.partitions should
    * be ~2-3× total cores instead. */
  def builder(master: String = "local[*]", shufflePartitions: Int = 32): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .config(CodegenCacheConf, CodegenCacheEntries.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")

  def get(master: String = "local[*]"): SparkSession = {
    val s = builder(master).getOrCreate()
    graft.functions.GraftFunctions.register(s)  // also on pre-existing sessions
    s
  }

  /** Spark's generated-class cache (a static conf; Spark's default is
    * 100 entries). At 100, a second Bench pass over the 22 API
    * endpoints recompiled 222-226 classes; at 4096 it compiles 0-8.
    * Sized from CodegenMetrics' compile count with an unbounded cache:
    * one full-registry Bench pass (41-MV warmup plus 186 queries,
    * sf0.01, local[4] on a 4-core host) compiles 2897 distinct
    * classes and its steady pass 58 more; 4096 holds them with
    * headroom. The cost is metaspace: 251 MB after that pass, against
    * 229 MB at 100 entries (measured at local[2]; 4484 compiles,
    * evicting and recompiling). */
  private[graft] val CodegenCacheConf = "spark.sql.codegen.cache.maxEntries"
  private[graft] val CodegenCacheEntries = 4096

  /** Worker threads a main runs with: SPARK_GRAFT_CPUS, else every
    * core the JVM sees. */
  private def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").flatMap(_.toIntOption)
    .filter(_ >= 1).getOrElse(Runtime.getRuntime.availableProcessors)

  /** `SPARK_GRAFT_ONLY=q_a,q_b`: the query names a main restricts its
    * run to. Unset, empty or blank means the whole registry (None). */
  def only: Option[Set[String]] = parseOnly(sys.env.get("SPARK_GRAFT_ONLY"))

  private[graft] def parseOnly(v: Option[String]): Option[Set[String]] =
    v.map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet).filter(_.nonEmpty)

  /** The one session every main runs on: `local[cpus]`, one shuffle
    * partition per worker thread, UTC (without it the events ts cast
    * is host-timezone dependent and results drift across hosts), UI
    * off, log level WARN. `localDir` sets spark.local.dir for
    * shuffle and spill files. No SQL extensions: the mains' plans are
    * the plain plans the oracle checks. */
  def local(localDir: Option[String] = None): SparkSession = {
    val s = localBuilder(localDir).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private[graft] def localBuilder(localDir: Option[String]): SparkSession.Builder = {
    val n = cpus
    val b = SparkSession.builder()
      .master(s"local[$n]")
      .config("spark.sql.shuffle.partitions", n.toString)
      .config(CodegenCacheConf, CodegenCacheEntries.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    localDir.fold(b)(b.config("spark.local.dir", _))
  }
}
