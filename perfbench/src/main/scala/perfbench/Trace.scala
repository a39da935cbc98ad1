package perfbench

import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed region. `parent` is 0 for an iteration's root span. */
final case class Span(id: Long, parent: Long, traceId: String, name: String,
    startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spans around calls into the engine's public functions. The untraced
  * runs use [[Tracer.Off]], which only evaluates the body, so the
  * end-to-end timings carry no tracing cost.
  */
trait Tracer {
  def span[T](name: String)(body: => T): T
}

object Tracer {
  object Off extends Tracer {
    def span[T](name: String)(body: => T): T = body
  }
}

/** Keeps spans in memory. Each span sets the Spark job group to its id
  * while it is open, so every job a call starts is attributed to the
  * innermost span that was active when the job started.
  */
final class SpanTracer(sc: SparkContext, val traceId: String) extends Tracer {
  private var nextId = 0L
  private var stack: List[(Long, String)] = Nil
  val spans = mutable.ArrayBuffer.empty[Span]

  def span[T](name: String)(body: => T): T = {
    nextId += 1
    val id = nextId
    val parent = stack.headOption.map(_._1).getOrElse(0L)
    stack = (id, name) :: stack
    sc.setJobGroup(id.toString, name)
    val t0 = System.nanoTime()
    try body
    finally {
      spans += Span(id, parent, traceId, name, t0, System.nanoTime())
      stack = stack.tail
      stack.headOption match {
        case Some((pid, pname)) => sc.setJobGroup(pid.toString, pname)
        case None => sc.clearJobGroup()
      }
    }
  }
}

/** Per-span totals of what the Spark runtime did for the span's jobs. */
final class SparkTotals {
  var jobs = 0L; var stages = 0L; var tasks = 0L
  var runMs = 0L; var cpuNs = 0L; var gcMs = 0L
  var shuffleWrite = 0L; var shuffleRead = 0L; var spill = 0L; var input = 0L
  var peakExecMem = 0L
  var maxSkew = 0.0

  def add(o: SparkTotals): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    runMs += o.runMs; cpuNs += o.cpuNs; gcMs += o.gcMs
    shuffleWrite += o.shuffleWrite; shuffleRead += o.shuffleRead
    spill += o.spill; input += o.input
    peakExecMem = math.max(peakExecMem, o.peakExecMem)
    maxSkew = math.max(maxSkew, o.maxSkew)
  }
}

/** The benchmark's own SparkListener and QueryExecutionListener. Events
  * are attributed to spans through the job group each job carries. Read
  * only after [[org.apache.spark.perfbench.ListenerBusDrain]].
  *
  * @param minSkewTasks stages with fewer tasks than this (the core count)
  *   are left out of task skew: a stage of one or two tasks has no
  *   meaningful max/median.
  */
final class SparkRecorder(minSkewTasks: Int) extends SparkListener
    with QueryExecutionListener {
  private val bySpan = mutable.Map.empty[Long, SparkTotals]
  private val stageSpan = mutable.Map.empty[Int, Long]
  private val stageTaskMs = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
  /** (span, start ms, end ms) per job, wall clock as the scheduler saw it */
  private val jobStart = mutable.Map.empty[Int, (Long, Long)]
  val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long, Long)]
  var shuffleExchanges = 0L
  var broadcastExchanges = 0L

  private def totals(span: Long) = bySpan.getOrElseUpdate(span, new SparkTotals)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .flatMap(_.toLongOption).getOrElse(-1L)
    val t = totals(span)
    t.jobs += 1
    jobStart(e.jobId) = (span, e.time)
    e.stageIds.foreach(s => stageSpan.getOrElseUpdate(s, span))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach { case (span, t0) =>
      jobIntervals += ((span, t0, e.time))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val t = totals(stageSpan.getOrElse(e.stageId, -1L))
    t.tasks += 1
    stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) +=
      e.taskInfo.duration
    val m = e.taskMetrics
    if (m != null) {
      t.runMs += m.executorRunTime
      t.cpuNs += m.executorCpuTime
      t.gcMs += m.jvmGCTime
      t.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      t.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      t.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      t.input += m.inputMetrics.bytesRead
      t.peakExecMem = math.max(t.peakExecMem, m.peakExecutionMemory)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val id = e.stageInfo.stageId
    val t = totals(stageSpan.getOrElse(id, -1L))
    t.stages += 1
    stageTaskMs.remove(id).filter(_.size >= minSkewTasks).foreach { ms =>
      val sorted = ms.sorted
      val median = sorted(sorted.size / 2)
      if (median > 0) t.maxSkew = math.max(t.maxSkew, sorted.last.toDouble / median)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized {
      val (s, b) = PlanExchanges(qe.executedPlan)
      shuffleExchanges += s
      broadcastExchanges += b
    }

  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()

  /** Hands over everything recorded since the last call and starts afresh. */
  def take(): (Map[Long, SparkTotals], Seq[(Long, Long, Long)], Long, Long) = synchronized {
    val out = (bySpan.toMap, jobIntervals.toSeq, shuffleExchanges, broadcastExchanges)
    bySpan.clear(); jobIntervals.clear(); stageSpan.clear(); stageTaskMs.clear()
    shuffleExchanges = 0; broadcastExchanges = 0
    out
  }
}

/** Exchanges in a final executed plan, looking inside adaptive query
  * stages and subqueries. A reused exchange is not counted again.
  */
object PlanExchanges extends AdaptiveSparkPlanHelper {
  def apply(plan: SparkPlan): (Int, Int) = {
    val nodes = collectWithSubqueries(plan) { case p => p }
    (nodes.count(_.isInstanceOf[ShuffleExchangeLike]),
      nodes.count(_.isInstanceOf[BroadcastExchangeLike]))
  }
}
