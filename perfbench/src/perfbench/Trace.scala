package perfbench

import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval. Spans of one op share `op`; `parent` is the id of
  * the enclosing span (-1 for a root). Times are System.nanoTime. */
final case class Span(id: Int, parent: Int, op: Int, name: String, start: Long, end: Long)

/** In-memory trace of a run: spans around the benchmark's own calls into
  * each module, plus per-op counters fed by the listeners below. Only
  * active in a traced run; with tracing off `span` is a plain call and no
  * listener is registered. Ops are numbered from 0; set-up and warm-up
  * work runs under negative ids and is kept out of the per-op figures. */
object Trace {
  @volatile var enabled = false
  @volatile var currentOp: Int = -1
  val DescPrefix = "perfbench op="

  private val spans = mutable.ArrayBuffer.empty[Span]
  private val open = mutable.Stack.empty[Int]
  private var nextId = 0
  private val counters = mutable.Map.empty[Int, mutable.Map[String, Double]]

  def span[A](name: String)(f: => A): A =
    if (!enabled) f
    else {
      val id = synchronized { nextId += 1; nextId }
      val parent = open.headOption.getOrElse(-1)
      open.push(id)
      val t0 = System.nanoTime()
      try f
      finally {
        open.pop()
        val s = Span(id, parent, currentOp, name, t0, System.nanoTime())
        synchronized(spans += s)
      }
    }

  def add(op: Int, key: String, v: Double): Unit = synchronized {
    val m = counters.getOrElseUpdate(op, mutable.Map.empty)
    m(key) = m.getOrElse(key, 0.0) + v
  }

  def max(op: Int, key: String, v: Double): Unit = synchronized {
    val m = counters.getOrElseUpdate(op, mutable.Map.empty)
    m(key) = math.max(m.getOrElse(key, 0.0), v)
  }

  def counter(op: Int, key: String): Double = synchronized {
    counters.get(op).flatMap(_.get(key)).getOrElse(0.0)
  }

  def allSpans: Seq[Span] = synchronized(spans.toList)

  /** Span duration minus the part of it its direct children cover. */
  def selfSeconds(s: Span, all: Seq[Span]): Double = {
    val kids = all.filter(_.parent == s.id).map(k => (k.start, k.end)).sortBy(_._1)
    var covered = 0L
    var until = s.start
    kids.foreach { case (a, b) =>
      val from = math.max(a, until)
      if (b > from) { covered += b - from; until = b }
    }
    (s.end - s.start - covered) / 1e9
  }

  /** Op an event belongs to: the op id the benchmark put in the job
    * description, else the op running now. */
  def opOf(props: java.util.Properties): Int =
    Option(props).flatMap(p => Option(p.getProperty("spark.job.description")))
      .filter(_.startsWith(DescPrefix))
      .flatMap(d => d.stripPrefix(DescPrefix).takeWhile(_ != ' ').toIntOption)
      .getOrElse(currentOp)
}

/** Scheduler and task counters, registered on the SparkContext so jobs of
  * every session on it — cloned sessions included — are counted. Work is
  * attributed by the job description the benchmark sets around each op. */
class SchedListener extends SparkListener {
  private val stageOp = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  private val taskTimes = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val op = Trace.opOf(e.properties)
    Trace.add(op, "sched.jobs", 1)
    e.stageInfos.foreach(s => stageOp.put(s.stageId, op))
  }

  private def op(stageId: Int): Int = stageOp.getOrDefault(stageId, Trace.currentOp)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val info = e.stageInfo
    val o = op(info.stageId)
    Trace.add(o, "sched.stages", 1)
    if (info.numTasks == 1) Trace.add(o, "sched.single_task_stages", 1)
    val times = synchronized(taskTimes.remove(info.stageId)).getOrElse(mutable.ArrayBuffer.empty[Long]).sorted
    if (times.size >= 2) {
      val median = math.max(times(times.size / 2), 1L)
      Trace.max(o, "exec.task_skew", times.last.toDouble / median)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val o = op(e.stageId)
    Trace.add(o, "sched.tasks", 1)
    synchronized(taskTimes.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += e.taskInfo.duration)
    val m = e.taskMetrics
    if (m != null) {
      Trace.add(o, "exec.task_run_s", m.executorRunTime / 1e3)
      Trace.add(o, "exec.task_cpu_s", m.executorCpuTime / 1e9)
      Trace.add(o, "exec.gc_s", m.jvmGCTime / 1e3)
      Trace.add(o, "shuffle.write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
      Trace.add(o, "shuffle.read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
      Trace.add(o, "shuffle.spill_bytes", m.diskBytesSpilled.toDouble)
      Trace.add(o, "io.input_bytes", m.inputMetrics.bytesRead.toDouble)
      Trace.add(o, "io.output_bytes", m.outputMetrics.bytesWritten.toDouble)
    }
  }
}

/** Planning-phase times and graft-operator detection per query execution.
  * Registered through `spark.sql.queryExecutionListeners`, so every
  * session created on the context — the benchmark's and the program's
  * own clones — gets one. Callbacks arrive on the listener bus; the
  * traced run drains the bus after each op, so `currentOp` is still the
  * op that ran the query. */
class PlanListener extends QueryExecutionListener {
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)

  private def record(qe: QueryExecution): Unit = {
    val op = Trace.currentOp
    Trace.add(op, "plan.executions", 1)
    val phases = qe.tracker.phases
    Seq("analysis" -> "plan.analysis_ms", "optimization" -> "plan.optimizer_ms",
      "planning" -> "plan.planning_ms").foreach { case (phase, key) =>
      phases.get(phase).foreach(p => Trace.add(op, key, p.durationMs.toDouble))
    }
    if (PlanListener.usesGraft(qe.executedPlan)) Trace.max(op, "native", 1)
  }
}

object PlanListener extends AdaptiveSparkPlanHelper {
  import org.apache.spark.sql.catalyst.expressions.{Expression, ScalaUDF}
  import org.apache.spark.sql.execution.aggregate.ScalaAggregator

  private def graft(o: AnyRef): Boolean = o.getClass.getName.startsWith("graft.")

  private def graftExpr(e: Expression): Boolean = e.find {
    case u: ScalaUDF => graft(u.function)
    case a: ScalaAggregator[_, _, _] => graft(a.agg)
    case x => graft(x)
  }.isDefined

  /** Whether the executed plan (final AQE plan included) has a graft.*
    * operator or evaluates a graft.* expression, UDF or aggregator. */
  def usesGraft(plan: SparkPlan): Boolean =
    find(plan)(p => graft(p) || p.expressions.exists(graftExpr)).isDefined
}
