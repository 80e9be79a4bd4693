package graftbench

import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.util.QueryExecutionListener

/** The traced run's instruments: spans around the benchmark's calls
  * into the program, plus Spark listener counters. With tracing off
  * nothing is registered and [[span]] only runs its body, so the
  * untraced run measures the program alone; the traced run's own
  * end-to-end numbers minus the untraced run's are the tracing
  * overhead. One client thread drives every call, so the span stack
  * needs no synchronisation; listener callbacks arrive on Spark's
  * listener thread and only touch the atomic counters below. */
final class Tracer(val on: Boolean) {
  import Tracer.Span
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Long]
  private var nextSpan = 1L
  private var req = 0L

  /** Start a new request: later spans carry its id until the next. */
  def request(): Unit = req += 1

  def span[A](name: String)(body: => A): A =
    if (!on) body
    else {
      val id = nextSpan
      nextSpan += 1
      val parent = if (stack.isEmpty) 0L else stack.top
      stack.push(id)
      val w0 = System.currentTimeMillis()
      val t0 = System.nanoTime()
      try body
      finally {
        stack.pop()
        spans += Span(id, parent, req, name, t0, System.nanoTime(), w0,
          System.currentTimeMillis())
      }
    }

  def spansOf(name: String): Seq[Span] = spans.filter(_.name == name).toSeq
  def spanMs(name: String): Seq[Double] = spansOf(name).map(_.ms)

  // ---- listener counters -------------------------------------------
  val jobs = new AtomicLong
  val tasks = new AtomicLong
  val shuffleReadBytes = new AtomicLong
  val shuffleWriteBytes = new AtomicLong
  val spillBytes = new AtomicLong
  val taskGcMs = new AtomicLong
  val exchanges = new AtomicLong
  private val stageTaskMs = mutable.Map.empty[(Int, Int), mutable.ArrayBuffer[Long]]
  private val progress = mutable.ArrayBuffer.empty[StreamingQueryProgress]
  private val planRecs = mutable.ArrayBuffer.empty[Tracer.Plan]
  /** Asked of the optimized plan of every successful query execution;
    * set before the measured window opens. */
  @volatile var planProbe: LogicalPlan => Boolean = _ => false

  def install(spark: SparkSession): Unit = if (on) {
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        tasks.incrementAndGet()
        val m = e.taskMetrics
        if (m != null) {
          shuffleReadBytes.addAndGet(m.shuffleReadMetrics.totalBytesRead)
          shuffleWriteBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
          spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
          taskGcMs.addAndGet(m.jvmGCTime)
          stageTaskMs.synchronized {
            stageTaskMs.getOrElseUpdate((e.stageId, e.stageAttemptId),
              mutable.ArrayBuffer.empty[Long]) += m.executorRunTime
          }
        }
      }
    })
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
        exchanges.addAndGet(Tracer.exchangeCount(qe.executedPlan))
        // the execution's own planning tracker: when its optimization
        // began and how long optimization plus physical planning took
        val phases = Seq(QueryPlanningTracker.OPTIMIZATION, QueryPlanningTracker.PLANNING)
          .flatMap(qe.tracker.phases.get)
        if (phases.nonEmpty) planRecs.synchronized {
          planRecs += Tracer.Plan(phases.map(_.startTimeMs).min,
            phases.map(_.durationMs).sum.toDouble, planProbe(qe.optimizedPlan))
        }
        ()
      }
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    })
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        progress.synchronized { progress += e.progress; () }
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    })
  }

  /** Wait until the listener bus has delivered every posted event. */
  def drain(spark: SparkSession): Unit =
    if (on) org.apache.spark.graftbench.ListenerBus.drain(spark.sparkContext)

  /** Zero the execution counters: what follows is the measured window. */
  def begin(spark: SparkSession): Unit = if (on) {
    drain(spark)
    Seq(jobs, tasks, shuffleReadBytes, shuffleWriteBytes, spillBytes, taskGcMs,
      exchanges).foreach(_.set(0L))
    stageTaskMs.synchronized(stageTaskMs.clear())
  }

  /** Counters of the measured window, frozen at its end so the output
    * checks that follow do not count. */
  var window: Map[String, Double] = Map.empty
  def end(spark: SparkSession): Unit = if (on) {
    drain(spark)
    window = Map("jobs" -> jobs.get.toDouble, "tasks" -> tasks.get.toDouble,
      "shuffle_read_mb" -> shuffleReadBytes.get / 1048576.0,
      "shuffle_write_mb" -> shuffleWriteBytes.get / 1048576.0,
      "spill_mb" -> spillBytes.get / 1048576.0, "gc_ms" -> taskGcMs.get.toDouble,
      "exchanges" -> exchanges.get.toDouble, "task_skew" -> taskSkew)
  }

  /** Planning records of the query executions that succeeded so far. */
  def plans: Seq[Tracer.Plan] = planRecs.synchronized(planRecs.toSeq)

  /** Progress events of the streaming query `id`, in order. */
  def progressOf(id: java.util.UUID): Seq[StreamingQueryProgress] =
    progress.synchronized(progress.filter(_.id == id).toSeq)

  /** Worst stage's max/median task run time (stages of >= 2 tasks). */
  def taskSkew: Double = stageTaskMs.synchronized {
    val ratios = stageTaskMs.values.filter(_.size >= 2).map { ts =>
      val s = ts.sorted
      val med = math.max(1L, s(s.size / 2))
      s.last.toDouble / med
    }
    if (ratios.isEmpty) 1.0 else ratios.max
  }

  /** Spans as JSON lines: name, start/end (ns since the first span),
    * parent span id and request id. */
  def write(path: java.nio.file.Path): Unit = if (on && spans.nonEmpty) {
    val t0 = spans.map(_.startNs).min
    val lines = spans.sortBy(_.startNs).map { s =>
      Json.write(Map("id" -> s.id, "parent" -> s.parent, "req" -> s.req,
        "name" -> s.name, "start_ns" -> (s.startNs - t0), "end_ns" -> (s.endNs - t0)))
    }
    java.nio.file.Files.writeString(path, lines.mkString("", "\n", "\n"))
    ()
  }
}

object Tracer {
  /** A span; wall-clock start/end in ms place Spark's own timestamps
    * in it. */
  final case class Span(id: Long, parent: Long, req: Long, name: String,
                        startNs: Long, endNs: Long, startMs: Long, endMs: Long) {
    def ms: Double = (endNs - startNs) / 1e6
  }

  /** One query execution's planning: wall-clock start (ms), optimization
    * plus physical planning time, and the plan probe's answer. */
  final case class Plan(startMs: Long, planMs: Double, probe: Boolean)

  /** Shuffle and broadcast exchanges in a physical plan, looking
    * through adaptive-execution wrappers into the final plan. */
  def exchangeCount(plan: SparkPlan): Long = plan match {
    case a: AdaptiveSparkPlanExec => exchangeCount(a.executedPlan)
    case q: QueryStageExec => exchangeCount(q.plan)
    case p =>
      val self = p match {
        case _: ShuffleExchangeLike | _: BroadcastExchangeLike => 1L
        case _ => 0L
      }
      self + p.children.map(exchangeCount).sum + p.subqueries.map(exchangeCount).sum
  }
}
