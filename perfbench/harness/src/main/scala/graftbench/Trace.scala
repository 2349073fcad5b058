package graftbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.util.QueryExecutionListener

/** Counters of one operation or pass, summed from Spark listener events,
  * Spark's codegen counters and the JVM's management beans.
  */
final class Counters {
  var wallNs        = 0L
  var jobs          = 0L
  var stages        = 0L
  var tasks         = 0L
  var taskRunMs     = 0L
  var taskCpuNs     = 0L
  var shuffleWrite  = 0L
  var shuffleRead   = 0L
  var spill         = 0L
  var skewMax       = 0.0
  var planningMs    = 0L
  var exchanges     = 0L
  var broadcasts    = 0L
  var topkAggs      = 0L
  var compiles      = 0L
  var compileNs     = 0L
  var jitMs         = 0L
  var gcMs          = 0L

  def add(o: Counters): Unit = {
    wallNs += o.wallNs; jobs += o.jobs; stages += o.stages; tasks += o.tasks
    taskRunMs += o.taskRunMs; taskCpuNs += o.taskCpuNs
    shuffleWrite += o.shuffleWrite; shuffleRead += o.shuffleRead; spill += o.spill
    skewMax = math.max(skewMax, o.skewMax)
    planningMs += o.planningMs; exchanges += o.exchanges; broadcasts += o.broadcasts
    topkAggs += o.topkAggs; compiles += o.compiles; compileNs += o.compileNs
    jitMs += o.jitMs; gcMs += o.gcMs
  }

  /** Per-layer metrics of this pass, keyed without the `.first`/`.warm`
    * suffix; `cores` turns task time into a busy share of the pass.
    */
  def metrics(cores: Int): Seq[(String, Double)] = {
    val mb   = 1024.0 * 1024.0
    val wall = wallNs / 1e9
    Seq(
      "plans.planning_s"      -> planningMs / 1e3,
      "plans.exchanges"       -> exchanges.toDouble,
      "plans.broadcasts"      -> broadcasts.toDouble,
      "plans.topk_aggs"       -> topkAggs.toDouble,
      "spark.jobs"            -> jobs.toDouble,
      "spark.stages"          -> stages.toDouble,
      "spark.tasks"           -> tasks.toDouble,
      "spark.task_run_s"      -> taskRunMs / 1e3,
      "spark.task_cpu_s"      -> taskCpuNs / 1e9,
      "spark.busy_share"      -> (if (wall > 0) taskRunMs / 1e3 / (wall * cores) else 0.0),
      "spark.shuffle_write_mb" -> shuffleWrite / mb,
      "spark.shuffle_read_mb" -> shuffleRead / mb,
      "spark.spill_mb"        -> spill / mb,
      "spark.task_skew_max"   -> skewMax,
      "codegen.compiles"      -> compiles.toDouble,
      "codegen.compile_s"     -> compileNs / 1e9,
      "jvm.jit_s"             -> jitMs / 1e3,
      "jvm.gc_s"              -> gcMs / 1e3)
  }
}

/** Process-wide readings that only grow: Spark's codegen compile counters
  * and the JVM's JIT and GC times. `delta` of two snapshots is the cost
  * of the interval between them.
  */
final case class Cumulative(compiles: Long, compileNs: Long, jitMs: Long, gcMs: Long) {
  def delta(later: Cumulative, into: Counters): Unit = {
    into.compiles += later.compiles - compiles
    into.compileNs += later.compileNs - compileNs
    into.jitMs += later.jitMs - jitMs
    into.gcMs += later.gcMs - gcMs
  }
}

object Cumulative {
  def now(): Cumulative = Cumulative(
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
    org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime,
    ManagementFactory.getCompilationMXBean.getTotalCompilationTime,
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum)
}

/** Scheduler-side counters: jobs, stages, tasks, task time, shuffle and
  * spill bytes, and the largest per-stage task skew (slowest task over the
  * median task). Events land in `current`, which the harness swaps per
  * operation after draining the listener bus.
  */
final class EngineListener extends SparkListener {
  @volatile var current: Counters = new Counters
  private val durations = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]

  override def onJobStart(e: SparkListenerJobStart): Unit = current.jobs += 1

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val c = current
    c.tasks += 1
    durations.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += e.taskInfo.duration
    val m = e.taskMetrics
    if (m != null) {
      c.taskRunMs += m.executorRunTime
      c.taskCpuNs += m.executorCpuTime
      c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      c.spill += m.diskBytesSpilled
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val c = current
    c.stages += 1
    durations.remove(e.stageInfo.stageId).foreach { ds =>
      if (ds.size >= 2) {
        val sorted = ds.sorted
        val median = math.max(1L, sorted(sorted.size / 2))
        c.skewMax = math.max(c.skewMax, sorted.last.toDouble / median)
      }
    }
  }
}

/** Planner-side counters of every executed statement: planning phase
  * time from the QueryPlanningTracker, and exchanges, broadcasts and the
  * bounded top-k aggregates graft's rank rewrite plans (Spark's
  * `CollectTopK`, graft's `CollectTopKRank`) in the executed (post-AQE)
  * plan.
  */
final class PlanListener extends QueryExecutionListener {
  @volatile var current: Counters = new Counters

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val c = current
    c.planningMs += qe.tracker.phases.values.map(_.durationMs).sum
    PlanListener.visit(qe.executedPlan) {
      case _: ShuffleExchangeLike   => c.exchanges += 1
      case _: BroadcastExchangeLike => c.broadcasts += 1
      case p if p.expressions.exists(_.exists(_.getClass.getSimpleName.startsWith("CollectTopK"))) =>
        c.topkAggs += 1
      case _ => ()
    }
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    current.planningMs += qe.tracker.phases.values.map(_.durationMs).sum
}

object PlanListener {
  /** Every node of an executed plan, descending into adaptive plans,
    * query stages and subqueries; a reused exchange is not counted again.
    */
  def visit(p: SparkPlan)(f: SparkPlan => Unit): Unit = p match {
    case a: AdaptiveSparkPlanExec => visit(a.executedPlan)(f)
    case s: QueryStageExec        => visit(s.plan)(f)
    case _: ReusedExchangeExec    => ()
    case _ =>
      f(p)
      p.children.foreach(visit(_)(f))
      p.subqueries.foreach(visit(_)(f))
  }
}

/** Latency of every successful data-source write command: the JDBC sink
  * statements of a HealthKit conversion, one per table. Cheap enough to
  * stay on in untraced runs.
  */
final class StatementTimer extends QueryExecutionListener {
  val writes = new java.util.concurrent.ConcurrentLinkedQueue[java.lang.Double]()
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    if (funcName == "command") writes.add(durationNs / 1e9)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}

/** One timed interval of the run: spans nest through `parent` (the index
  * of the enclosing span, -1 at the top) and all share the run's id.
  */
final case class Span(name: String, parent: Int, startNs: Long, endNs: Long)

final class Spans {
  private val buf   = mutable.ArrayBuffer.empty[Span]
  private val open  = mutable.Stack.empty[Int]
  private val t0    = System.nanoTime()

  def apply[T](name: String)(body: => T): T = {
    val idx = buf.size
    buf += Span(name, open.headOption.getOrElse(-1), System.nanoTime() - t0, -1L)
    open.push(idx)
    try body
    finally {
      open.pop()
      buf(idx) = buf(idx).copy(endNs = System.nanoTime() - t0)
    }
  }

  def toJson(runId: String): String =
    buf.map { s =>
      s"""{"run":${Json.str(runId)},"name":${Json.str(s.name)},"parent":${s.parent},"start_ns":${s.startNs},"end_ns":${s.endNs}}"""
    }.mkString("[\n", ",\n", "\n]\n")
}

/** Just enough JSON writing for the harness's result files. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"'          => "\\\""
    case '\\'         => "\\\\"
    case '\n'         => "\\n"
    case '\r'         => "\\r"
    case '\t'         => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c            => c.toString
  } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString

  def obj(kv: Iterable[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")

  def arr(vs: Iterable[String]): String = vs.mkString("[", ",", "]")
}
