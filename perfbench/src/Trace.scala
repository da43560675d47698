package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ReusedExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** What the listener saw for one operation (a read query or a commit).
  * Times are epoch milliseconds, as Spark reports them. */
final class OpStats {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  val jobSpans = mutable.ArrayBuffer.empty[(Long, Long)]
  val phaseSpans = mutable.ArrayBuffer.empty[(String, Long, Long)]
  var exchanges = 0L
  var reusedExchanges = 0L
  var broadcasts = 0L
  var shuffleWriteBytes = 0L
  var shuffleReadBytes = 0L
  var spillBytes = 0L
  var inputBytes = 0L
  var taskCpuNs = 0L
  var taskRunMs = 0L
  var gcMs = 0L
  var taskWaitMs = 0L
  var scanFiles = 0L
  var scanRows = 0L

  def phaseMs(name: String): Long =
    phaseSpans.collect { case (`name`, s, e) => e - s }.sum
}

/** One harness span: an operation, or a layer call inside it. */
final case class Span(op: String, name: String, startMs: Double, endMs: Double)

/** SparkListener + QueryExecutionListener that attributes every job,
  * stage, task and query execution to the benchmark operation that
  * caused it. Jobs carry the operation id in the job-local property
  * [[Tracer.OpProperty]]; stages and tasks inherit it from their job.
  * Query executions carry no properties, so they go to the operation
  * that is current when they are delivered: the harness drains the
  * listener bus after every traced operation, before the next starts. */
final class Tracer extends SparkListener with QueryExecutionListener {
  private val byOp = new ConcurrentHashMap[String, OpStats]()
  private val stageOp = new ConcurrentHashMap[Int, String]()
  private val stageSubmitMs = new ConcurrentHashMap[Int, Long]()
  private val jobStart = new ConcurrentHashMap[Int, (String, Long)]()
  @volatile var currentOp: String = ""

  def stats(op: String): OpStats = byOp.computeIfAbsent(op, _ => new OpStats)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val op = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.OpProperty)))
    op.foreach { o =>
      jobStart.put(e.jobId, (o, e.time))
      e.stageIds.foreach(stageOp.put(_, o))
      stats(o).jobs += 1
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    Option(jobStart.remove(e.jobId)).foreach { case (o, t0) =>
      stats(o).jobSpans += ((t0, e.time))
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    e.stageInfo.submissionTime.foreach(stageSubmitMs.put(e.stageInfo.stageId, _))

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    Option(stageOp.get(e.stageInfo.stageId)).foreach(stats(_).stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    Option(stageOp.get(e.stageId)).foreach { o =>
      val s = stats(o)
      s.tasks += 1
      Option(stageSubmitMs.get(e.stageId)).foreach { sub =>
        s.taskWaitMs += math.max(0L, e.taskInfo.launchTime - sub)
      }
      val m = e.taskMetrics
      if (m != null) {
        s.taskCpuNs += m.executorCpuTime
        s.taskRunMs += m.executorRunTime
        s.gcMs += m.jvmGCTime
        s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        s.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        s.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        s.inputBytes += m.inputMetrics.bytesRead
      }
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe, withPlan = true)

  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
    record(qe, withPlan = false)

  private def record(qe: QueryExecution, withPlan: Boolean): Unit = synchronized {
    val op = currentOp
    if (op.nonEmpty) {
      val s = stats(op)
      for (name <- Seq("analysis", "optimization", "planning");
           p <- qe.tracker.phases.get(name))
        s.phaseSpans += ((name, p.startTimeMs, p.endTimeMs))
      if (withPlan) Tracer.nodes(qe.executedPlan).foreach {
        case _: ShuffleExchangeExec => s.exchanges += 1
        case _: BroadcastExchangeExec => s.broadcasts += 1
        case _: ReusedExchangeExec => s.reusedExchanges += 1
        case f: FileSourceScanExec =>
          s.scanFiles += f.metrics.get("numFiles").map(_.value).getOrElse(0L)
          s.scanRows += f.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
        case _ =>
      }
    }
  }
}

object Tracer {
  val OpProperty = "perfbench.op"

  /** Every node of an executed plan, looking through adaptive plans and
    * query stages; a reused exchange is one node, not its original. */
  def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => nodes(q.plan)
    case r: ReusedExchangeExec => Seq(r)
    case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
  }

  /** Self time per layer inside one operation: each instant of the
    * operation's span goes to the innermost thing running then — a
    * Spark job (`exec`), else a Catalyst phase (`catalyst`), else the
    * harness call around it (`verbs`, `scan`, `exec`, `commit`), else
    * the harness itself (`bench`). The parts sum to the span. */
  def selfTimes(op: Span, calls: Seq[Span], st: OpStats): Map[String, Double] = {
    val callLayer = Map("verbs.build" -> "verbs", "scan.open" -> "scan",
      "exec.run" -> "exec", "commit.call" -> "commit")
    val ivs: Seq[(Double, Double, Int, String)] =
      st.jobSpans.map { case (s, e) => (s.toDouble, e.toDouble, 3, "exec") }.toSeq ++
        st.phaseSpans.map { case (_, s, e) => (s.toDouble, e.toDouble, 2, "catalyst") } ++
        calls.map(c => (c.startMs, c.endMs, 1, callLayer.getOrElse(c.name, "bench")))
    val cuts = (Seq(op.startMs, op.endMs) ++ ivs.flatMap(i => Seq(i._1, i._2)))
      .filter(t => t >= op.startMs && t <= op.endMs).distinct.sorted
    val out = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    cuts.zip(cuts.drop(1)).foreach { case (a, b) =>
      val mid = (a + b) / 2
      val covering = ivs.filter(i => i._1 <= mid && mid < i._2)
      val layer = if (covering.isEmpty) "bench" else covering.maxBy(_._3)._4
      out(layer) += (b - a) / 1000.0
    }
    out.toMap
  }

  /** Length of the union of intervals, clipped to [lo, hi]. */
  def unionMs(ivs: Seq[(Long, Long)], lo: Double, hi: Double): Double = {
    val sorted = ivs.map { case (s, e) => (math.max(s.toDouble, lo), math.min(e.toDouble, hi)) }
      .filter(i => i._2 > i._1).sortBy(_._1)
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    sorted.foreach { case (s, e) =>
      if (curS.isNaN || s > curE) {
        if (!curS.isNaN) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (!curS.isNaN) total += curE - curS
    total
  }
}
