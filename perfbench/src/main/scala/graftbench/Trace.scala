package graftbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.util.QueryExecutionListener

/** One recorded interval: times are epoch nanoseconds so they line up
  * with the millisecond event times of Spark's listener bus. */
final case class Span(id: Int, name: String, parent: Int, startNs: Long, endNs: Long)

/** In-memory span recorder. Spans nest by call structure (the parent is
  * the innermost span open when a span starts) and are only written out
  * when the run ends. Two span names are phases, not layers: `build`
  * (constructing a DataFrame) and `exec` (materializing one). */
final class Tracer(val runId: String) {
  private val nano0 = System.nanoTime()
  private val epochNs0 = System.currentTimeMillis() * 1000000L
  private val spans = ArrayBuffer.empty[Span]
  private var open = List(-1)

  def nowNs: Long = epochNs0 + (System.nanoTime() - nano0)

  def span[A](name: String)(body: => A): A = {
    val id = spans.size
    spans += null
    val parent = open.head
    open = id :: open
    val start = nowNs
    try body
    finally {
      spans(id) = Span(id, name, parent, start, nowNs)
      open = open.tail
    }
  }

  def build[A](body: => A): A = span("build")(body)
  def exec[A](body: => A): A = span("exec")(body)

  def recorded: Seq[Span] = spans.toSeq.filter(_ != null)
}

final case class Job(id: Int, startMs: Long, endMs: Long, ok: Boolean)

/** Job, stage and task totals from the listener bus. */
final class ExecListener extends SparkListener {
  val jobs = ArrayBuffer.empty[Job]
  private val jobStart = scala.collection.mutable.Map.empty[Int, Long]
  private val stageSubmit = scala.collection.mutable.Map.empty[Int, Long]
  var stages = 0L
  var tasks = 0L
  var failedTasks = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var taskWaitMs = 0L
  var shuffleWriteBytes = 0L
  var shuffleReadBytes = 0L
  var spillBytes = 0L
  var peakExecMem = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobStart(e.jobId) = e.time
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs += Job(e.jobId, jobStart.getOrElse(e.jobId, e.time), e.time,
      e.jobResult == JobSucceeded)
  }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    stageSubmit(e.stageInfo.stageId) =
      e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stages += 1
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    if (e.taskInfo.failed || e.taskInfo.killed) failedTasks += 1
    stageSubmit.get(e.stageId).foreach { s =>
      taskWaitMs += math.max(0L, e.taskInfo.launchTime - s)
    }
    val m = e.taskMetrics
    if (m != null) {
      cpuNs += m.executorCpuTime
      gcMs += m.jvmGCTime
      shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      peakExecMem = math.max(peakExecMem, m.peakExecutionMemory)
    }
  }
}

/** Catalyst phase times and plan-shape counts of every action. Each
  * QueryExecution is counted once, whether it reaches us through the
  * listener or through [[note]]. */
final class PlanListener extends QueryExecutionListener {
  private val seen = java.util.Collections.newSetFromMap(
    new java.util.IdentityHashMap[QueryExecution, java.lang.Boolean]())
  var analysisMs = 0L
  var optimizationMs = 0L
  var planningMs = 0L
  var exchanges = 0L
  var broadcasts = 0L
  var globalWindows = 0L
  var cartesians = 0L

  def note(qe: QueryExecution): Unit = synchronized {
    if (seen.add(qe)) {
      val ph = qe.tracker.phases
      def ms(p: String) = ph.get(p).map(_.durationMs).getOrElse(0L)
      analysisMs += ms("analysis")
      optimizationMs += ms("optimization")
      planningMs += ms("planning")
      val ns = PlanShape.nodes(qe.executedPlan)
      exchanges += ns.count(_.isInstanceOf[ShuffleExchangeLike])
      broadcasts += ns.count(_.isInstanceOf[BroadcastExchangeLike])
      globalWindows += ns.count {
        case w: WindowExec => w.partitionSpec.isEmpty
        case _ => false
      }
      cartesians += ns.count(n => n.isInstanceOf[CartesianProductExec] ||
        n.isInstanceOf[BroadcastNestedLoopJoinExec])
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = note(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = note(qe)
}

object PlanShape {
  /** Every physical node of a plan, looking through adaptive plans (the
    * final plan), query stages and subqueries. */
  def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => nodes(q.plan)
    case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
  }
}
