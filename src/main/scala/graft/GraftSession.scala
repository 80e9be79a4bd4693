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
    val n = cpus
    val b = SparkSession.builder()
      .master(s"local[$n]")
      .config("spark.sql.shuffle.partitions", n.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    val s = localDir.fold(b)(b.config("spark.local.dir", _)).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
