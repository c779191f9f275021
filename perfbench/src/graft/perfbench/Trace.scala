package graft.perfbench

import java.util.concurrent.atomic.{AtomicLong, DoubleAdder}

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{CommandResultExec, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call into a layer. `parent` is the enclosing span's id (-1
  * at the top), `op` the operation it belongs to. */
final case class Span(id: Int, name: String, parent: Int, op: Int,
                      startNs: Long, endNs: Long)

/** Spans kept in memory and written out when the run ends. When off,
  * `span` runs its body and records nothing. */
final class Tracer {
  @volatile var on = false
  var op = -1
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var open = List.empty[Int]
  private var nextId = 0

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val id = nextId
      nextId += 1
      val parent = open.headOption.getOrElse(-1)
      open = id :: open
      val t0 = System.nanoTime()
      try body
      finally {
        open = open.tail
        spans += Span(id, name, parent, op, t0, System.nanoTime())
      }
    }

  def all: Seq[Span] = spans.toSeq

  /** Total seconds spent in spans named `name` since span index `from`. */
  def seconds(name: String, from: Int = 0): Double =
    spans.iterator.drop(from).filter(_.name == name)
      .map(s => (s.endNs - s.startNs) / 1e9).sum

  def size: Int = spans.size

  /** Per span name: duration minus the time its direct children cover. */
  def selfSeconds: Map[String, Double] = {
    val childNs = mutable.Map.empty[Int, Long].withDefaultValue(0L)
    spans.foreach(s => if (s.parent >= 0) childNs(s.parent) += s.endNs - s.startNs)
    spans.groupBy(_.name).map { case (n, ss) =>
      n -> ss.map(s => (s.endNs - s.startNs - childNs(s.id)) / 1e9).sum
    }
  }
}

/** Executor-side counters from the scheduler's events. */
final class ExecListener extends SparkListener {
  val jobs = new AtomicLong
  val stages = new AtomicLong
  val tasks = new AtomicLong
  val taskFailures = new AtomicLong
  val taskRunMs = new AtomicLong
  val taskCpuNs = new AtomicLong
  val gcMs = new AtomicLong
  val shuffleWrite = new AtomicLong
  val shuffleRead = new AtomicLong
  val spill = new AtomicLong
  private val intervals = mutable.ArrayBuffer.empty[(Long, Long)]

  override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    stages.incrementAndGet()
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    if (!e.taskInfo.successful) taskFailures.incrementAndGet()
    intervals.synchronized(intervals += ((e.taskInfo.launchTime, e.taskInfo.finishTime)))
    val m = e.taskMetrics
    if (m != null) {
      taskRunMs.addAndGet(m.executorRunTime)
      taskCpuNs.addAndGet(m.executorCpuTime)
      gcMs.addAndGet(m.jvmGCTime)
      shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }

  /** Task (launch, finish) wall-clock intervals in ms seen so far. */
  def taskIntervals: Seq[(Long, Long)] = intervals.synchronized(intervals.toSeq)

  def snapshot: Map[String, Double] = Map(
    "jobs" -> jobs.get.toDouble, "stages" -> stages.get.toDouble,
    "tasks" -> tasks.get.toDouble, "task_failures" -> taskFailures.get.toDouble,
    "task_run_s" -> taskRunMs.get / 1e3, "task_cpu_s" -> taskCpuNs.get / 1e9,
    "gc_s" -> gcMs.get / 1e3, "shuffle_write_bytes" -> shuffleWrite.get.toDouble,
    "shuffle_read_bytes" -> shuffleRead.get.toDouble, "spill_bytes" -> spill.get.toDouble)
}

object ExecListener {
  /** Milliseconds of [lo, hi] that no task interval covers. */
  def uncoveredMs(lo: Long, hi: Long, intervals: Seq[(Long, Long)]): Long = {
    var covered = 0L
    var end = lo
    intervals.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        if (b > end) { covered += b - math.max(a, end); end = b }
      }
    (hi - lo) - covered
  }
}

/** Driver-side plan counters from every finished query execution:
  * Catalyst phase times and whole-stage-codegen spans of the plan that
  * ran, plus a count of actions by name. */
final class PlanListener extends QueryExecutionListener {
  val analysisS = new DoubleAdder
  val optimizerS = new DoubleAdder
  val physicalS = new DoubleAdder
  val wscg = new AtomicLong
  val actions = new java.util.concurrent.ConcurrentHashMap[String, AtomicLong]

  private def record(funcName: String, qe: QueryExecution): Unit = {
    val ph = qe.tracker.phases
    def sec(p: String) = ph.get(p).map(_.durationMs / 1e3).getOrElse(0.0)
    analysisS.add(sec("analysis"))
    optimizerS.add(sec("optimization"))
    physicalS.add(sec("planning"))
    wscg.addAndGet(PlanListener.codegenSpans(qe.executedPlan))
    actions.computeIfAbsent(funcName, _ => new AtomicLong).incrementAndGet()
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(funcName, qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(funcName, qe)

  def actionCount(name: String): Long =
    Option(actions.get(name)).map(_.get).getOrElse(0L)

  def snapshot: Map[String, Double] = Map(
    "analysis_s" -> analysisS.sum, "optimizer_s" -> optimizerS.sum,
    "physical_s" -> physicalS.sum, "wscg_stages" -> wscg.get.toDouble)
}

object PlanListener {
  /** WholeStageCodegen spans in an executed plan, through adaptive
    * plans, query stages, command wrappers and subqueries. */
  def codegenSpans(p: SparkPlan): Long = {
    val here = p match {
      case _: WholeStageCodegenExec => 1L
      case _ => 0L
    }
    val inner: Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case s: QueryStageExec => Seq(s.plan)
      case c: CommandResultExec => Seq(c.commandPhysicalPlan)
      case _ => p.children ++ p.subqueries
    }
    here + inner.map(codegenSpans).sum
  }
}
