package graftbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{CommandResultExec, FileSourceScanLike, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.v2.V2TableWriteExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** One span of the trace: an op, a SQL execution, a job, a stage or a meta
  * probe. All spans of one op carry the op's id; `parent` is the id of the
  * span that caused this one (0 for the op itself). Times are epoch ms, the
  * resolution of Spark's listener events. */
final case class Span(op: Int, id: Long, parent: Long, layer: String,
    name: String, startMs: Long, endMs: Long) {
  def json: String =
    s"""{"op":$op,"id":$id,"parent":$parent,"layer":"$layer",""" +
      s""""name":"${Json.esc(name)}","start_ms":$startMs,"end_ms":$endMs}"""
}

/** Listener-side recorder: a SparkListener for jobs, stages, tasks and SQL
  * executions plus a QueryExecutionListener for Catalyst phase times and the
  * executed plan. Events of one op accumulate until [[take]], which the
  * harness calls after draining the bus at the end of the op. */
final class Recorder extends SparkListener with QueryExecutionListener
    with AdaptiveSparkPlanHelper {
  import Recorder._

  private var jobs = mutable.LinkedHashMap[Int, Job]()
  private var stages = mutable.LinkedHashMap[Int, Stage]()
  private var execs = mutable.LinkedHashMap[Long, Exec]()
  private var queries = mutable.ArrayBuffer[Query]()

  private def stage(id: Int): Stage = stages.getOrElseUpdate(id, new Stage(id))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val exec = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .map(_.toLong).getOrElse(-1L)
    jobs(e.jobId) = new Job(e.jobId, e.time, e.stageIds, exec)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    stage(e.stageInfo.stageId).submit =
      e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stage(e.stageInfo.stageId).complete =
      e.stageInfo.completionTime.getOrElse(System.currentTimeMillis())
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val s = stage(e.stageId)
    s.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      s.runMs += m.executorRunTime
      s.cpuNs += m.executorCpuTime
      s.gcMs += m.jvmGCTime
      s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      s.inBytes += m.inputMetrics.bytesRead
      s.inRecords += m.inputMetrics.recordsRead
      s.outBytes += m.outputMetrics.bytesWritten
      s.outRecords += m.outputMetrics.recordsWritten
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized {
      execs(s.executionId) = new Exec(s.executionId, s.time)
    }
    case s: SparkListenerSQLExecutionEnd => synchronized {
      execs.get(s.executionId).foreach(_.end = s.time)
    }
    case _ =>
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val q = summarize(qe)
    synchronized { queries += q }
  }

  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = {
    val q = try summarize(qe) catch { case _: Throwable => Query(0, 0, 0, 0, 0, 0, 0, 0) }
    synchronized { queries += q }
  }

  private def summarize(qe: QueryExecution): Query = {
    val phases = qe.tracker.phases
    def phase(n: String): Double =
      phases.get(n).map(_.durationMs / 1000.0).getOrElse(0.0)
    val root: SparkPlan = qe.executedPlan match {
      case c: CommandResultExec => c.commandPhysicalPlan
      case p => p
    }
    val nodes = collectWithSubqueries(root) { case p => p }
    def metric(ns: Seq[SparkPlan], name: String): Long =
      ns.flatMap(_.metrics.get(name)).map(_.value).sum
    val writes = nodes.filter(n =>
      n.isInstanceOf[DataWritingCommandExec] || n.isInstanceOf[V2TableWriteExec])
    Query(phase("analysis"), phase("optimization"), phase("planning"),
      nodes.count(_.isInstanceOf[ShuffleExchangeLike]).toLong,
      metric(writes, "numFiles"), metric(nodes, "graftFilesPlanned"),
      metric(nodes, "graftFilesSkipped"),
      metric(nodes.filter(_.isInstanceOf[FileSourceScanLike]), "numFiles"))
  }

  /** Everything recorded since the previous call. */
  def take(): Batch = synchronized {
    val b = new Batch(jobs.values.toSeq, stages.toMap, execs.values.toSeq,
      queries.toSeq)
    jobs = mutable.LinkedHashMap(); stages = mutable.LinkedHashMap()
    execs = mutable.LinkedHashMap(); queries = mutable.ArrayBuffer()
    b
  }
}

object Recorder {
  final class Job(val id: Int, val start: Long, val stageIds: Seq[Int],
      val execId: Long) { var end: Long = -1L }

  final class Stage(val id: Int) {
    var submit = -1L; var complete = -1L
    var tasks = 0L; var runMs = 0L; var cpuNs = 0L; var gcMs = 0L
    var shuffleWrite = 0L; var shuffleRead = 0L; var spill = 0L
    var inBytes = 0L; var inRecords = 0L; var outBytes = 0L; var outRecords = 0L
  }

  final class Exec(val id: Long, val start: Long) { var end: Long = -1L }

  final case class Query(analysisS: Double, optimizationS: Double,
      planningS: Double, exchanges: Long, filesWritten: Long,
      filesPlanned: Long, filesSkipped: Long, filesRead: Long)

  final class Batch(val jobs: Seq[Job], val stages: Map[Int, Stage],
      val execs: Seq[Exec], val queries: Seq[Query])
}

/** Interval arithmetic for self times: the length of [start, end] covered
  * by the union of `parts`, each clipped to the interval. */
object Intervals {
  def covered(start: Long, end: Long, parts: Seq[(Long, Long)]): Long = {
    val clipped = parts.map { case (a, b) => (math.max(a, start), math.min(b, end)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L; var curA = -1L; var curB = -1L
    clipped.foreach { case (a, b) =>
      if (curB < 0 || a > curB) {
        if (curB >= 0) total += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (curB >= 0) total += curB - curA
    total
  }
}
