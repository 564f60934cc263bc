package graftbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

import graft.meta.MetaStore
import graft.tables.GraftTable

/** One op the client issued: its kind (upsert, scan, ...), the end-to-end
  * role it is timed under, its wall time, and in a traced run its per-layer
  * metrics. */
final class OpRecord(val id: Int, val kind: String, val role: String,
    val timed: Boolean) {
  var seconds = 0.0
  var ok = true
  val m: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap()
  def label: String = s"$kind#$id"
  def add(k: String, v: Double): Unit = m(k) = m.getOrElse(k, 0.0) + v
}

/** The single client: runs each op to completion before issuing the next
  * (a closed loop), times it, records failures with their op and reason, and
  * in a traced run attributes listener events, spans and meta-store probes
  * to the op. */
final class Harness(val spark: SparkSession, val trace: Boolean) {
  private val sc = spark.sparkContext
  private val recorder: Option[Recorder] =
    if (!trace) None
    else {
      val r = new Recorder
      sc.addSparkListener(r)
      spark.listenerManager.register(r)
      Some(r)
    }

  val ops: mutable.ArrayBuffer[OpRecord] = mutable.ArrayBuffer()
  val spans: mutable.ArrayBuffer[Span] = mutable.ArrayBuffer()
  val failures: mutable.ArrayBuffer[(String, String)] = mutable.ArrayBuffer()
  private var spanSeq = 0L
  private def spanId(): Long = { spanSeq += 1; spanSeq }
  /** table path -> (live file path -> size) at the previous probe */
  private val lastLive = mutable.HashMap[String, Map[String, Long]]()

  private def drain(): Unit = recorder.foreach { r =>
    org.apache.spark.graftbench.Bus.drain(sc)
    r.take()
  }

  def run[T](kind: String, role: String = "", timed: Boolean = true)(body: => T): Option[T] = {
    drain() // events of earlier (verification) work belong to no op
    val op = new OpRecord(ops.size + 1, kind, role, timed)
    ops += op
    val gc0 = Harness.gcMs()
    val ms0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val r = try Some(body) catch {
      case NonFatal(e) =>
        fail(op, s"threw ${e.getClass.getName}: ${String.valueOf(e.getMessage).take(300)}")
        None
    }
    op.seconds = (System.nanoTime() - t0) / 1e9
    val ms1 = System.currentTimeMillis()
    recorder.foreach { rec =>
      org.apache.spark.graftbench.Bus.drain(sc)
      attribute(op, rec.take(), ms0, ms1)
      op.m("jvm.driver_gc_s") = (Harness.gcMs() - gc0) / 1000.0
      op.m("jvm.heap_used_after_mb") =
        ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }
    r
  }

  def last: OpRecord = ops.last

  def fail(op: OpRecord, reason: String): Unit = {
    op.ok = false
    failures += (op.label -> reason)
  }

  /** Marks `op` failed when `reason` is defined (a wrong result). */
  def check(op: OpRecord, reason: Option[String]): Unit = reason.foreach(fail(op, _))

  /** A verification step that is its own attempted op, never timed. */
  def verify(kind: String)(body: => Option[String]): Unit = {
    val op = new OpRecord(ops.size + 1, kind, "", timed = false)
    ops += op
    try body.foreach(fail(op, _)) catch {
      case NonFatal(e) => fail(op, s"threw ${e.getClass.getName}: ${e.getMessage}")
    }
  }

  private def attribute(op: OpRecord, b: Recorder.Batch, ms0: Long, ms1: Long): Unit = {
    val opEnd = math.max(ms1, ms0)
    val opSpan = Span(op.id, spanId(), 0L, "op", op.kind, ms0, opEnd)
    val execSpan = b.execs.map { e =>
      e.id -> Span(op.id, spanId(), opSpan.id, "sql", s"execution ${e.id}",
        e.start, if (e.end < 0) opEnd else e.end)
    }.toMap
    val jobSpan = b.jobs.map { j =>
      val parent = execSpan.get(j.execId).map(_.id).getOrElse(opSpan.id)
      j -> Span(op.id, spanId(), parent, "job", s"job ${j.id}", j.start,
        if (j.end < 0) opEnd else j.end)
    }
    val stageParent = jobSpan.flatMap { case (j, s) => j.stageIds.map(_ -> s.id) }
      .groupBy(_._1).map { case (k, v) => k -> v.head._2 }
    val stageSpans = b.stages.values.filter(_.submit >= 0).map { s =>
      Span(op.id, spanId(), stageParent.getOrElse(s.id, opSpan.id), "stage",
        s"stage ${s.id}", s.submit, if (s.complete < 0) opEnd else s.complete)
    }.toSeq
    val all = Seq(opSpan) ++ execSpan.values ++ jobSpan.map(_._2) ++ stageSpans
    spans ++= all

    // self time per layer: a span minus the part its children cover
    val children = all.groupBy(_.parent)
    all.foreach { s =>
      val kids = children.getOrElse(s.id, Nil).map(c => (c.startMs, c.endMs))
      val self = (s.endMs - s.startMs) - Intervals.covered(s.startMs, s.endMs, kids)
      val key = s.layer match {
        case "op" => "tables.self_s"
        case "sql" => "sql.self_s"
        case "job" => "spark.job_self_s"
        case _ => "spark.stage_self_s"
      }
      op.add(key, self / 1000.0)
    }

    val jobIv = jobSpan.map { case (_, s) => (s.startMs, s.endMs) }
    val opMs = opEnd - ms0
    val covered = Intervals.covered(ms0, opEnd, jobIv)
    op.m("tables.op_s") = opMs / 1000.0
    op.m("spark.jobs_covered_s") = covered / 1000.0
    op.m("tables.driver_gap_s") = (opMs - covered) / 1000.0
    op.m("tables.driver_pre_job_s") =
      (if (jobIv.isEmpty) opMs else math.max(0L, jobIv.map(_._1).min - ms0)) / 1000.0
    op.m("tables.driver_post_job_s") =
      (if (jobIv.isEmpty) 0L else math.max(0L, opEnd - jobIv.map(_._2).max)) / 1000.0

    op.m("sql.queries") = b.queries.size
    op.m("sql.analysis_s") = b.queries.map(_.analysisS).sum
    op.m("sql.optimization_s") = b.queries.map(_.optimizationS).sum
    op.m("sql.planning_s") = b.queries.map(_.planningS).sum
    op.m("spark.exchanges") = b.queries.map(_.exchanges).sum.toDouble
    op.m("write.files_written") = b.queries.map(_.filesWritten).sum.toDouble
    op.m("read.files_planned") = b.queries.map(_.filesPlanned).sum.toDouble
    op.m("read.files_skipped") = b.queries.map(_.filesSkipped).sum.toDouble
    op.m("read.files_read") = b.queries.map(_.filesRead).sum.toDouble

    val st = b.stages.values.toSeq
    op.m("spark.jobs") = b.jobs.size
    op.m("spark.stages") = st.count(_.submit >= 0)
    op.m("spark.tasks") = st.map(_.tasks).sum.toDouble
    op.m("spark.job_wall_s") = jobIv.map { case (a, z) => z - a }.sum / 1000.0
    op.m("spark.task_run_s") = st.map(_.runMs).sum / 1000.0
    op.m("spark.task_cpu_s") = st.map(_.cpuNs).sum / 1e9
    op.m("spark.task_gc_s") = st.map(_.gcMs).sum / 1000.0
    op.m("spark.shuffle_write_bytes") = st.map(_.shuffleWrite).sum.toDouble
    op.m("spark.shuffle_read_bytes") = st.map(_.shuffleRead).sum.toDouble
    op.m("spark.spill_bytes") = st.map(_.spill).sum.toDouble
    op.m("write.rows") = st.map(_.outRecords).sum.toDouble
    op.m("write.bytes") = st.map(_.outBytes).sum.toDouble
    op.m("write.stage_task_cpu_s") =
      st.filter(s => s.outBytes > 0 || s.outRecords > 0).map(_.cpuNs).sum / 1e9
    op.m("read.bytes") = st.map(_.inBytes).sum.toDouble
    op.m("read.rows_scanned") = st.map(_.inRecords).sum.toDouble
    op.m("read.stage_task_cpu_s") =
      st.filter(s => s.inBytes > 0 || s.inRecords > 0).map(_.cpuNs).sum / 1e9
  }

  /** Meta-store and storage probes next to an op, traced runs only: the
    * calls are timed by the benchmark, outside the op's own time. */
  def probe(op: OpRecord, t: GraftTable, store: MetaStore): Unit = if (trace) {
    val path = t.tablePath
    def timed[T](name: String)(body: => T): (T, Double) = {
      val ms0 = System.currentTimeMillis(); val t0 = System.nanoTime()
      val r = body
      val s = (System.nanoTime() - t0) / 1e9
      spans += Span(op.id, spanId(), spans.find(x => x.op == op.id && x.parent == 0)
        .map(_.id).getOrElse(0L), "meta", name, ms0, System.currentTimeMillis())
      (r, s)
    }
    try {
      val (heads, sHeads) = timed("listPartitionHeads")(store.listPartitionHeads(path))
      val (live, sLive) = timed("liveFiles")(t.liveFiles)
      val (_, sTs) = timed("lastCommitTs")(t.lastCommitTs)
      val (lines, _) = timed("rawVersionLines")(store.rawVersionLines(path).size)
      op.m("meta.heads_s") = sHeads
      op.m("meta.live_files_s") = sLive
      op.m("meta.last_commit_ts_s") = sTs
      op.m("meta.log_lines") = lines
      op.m("meta.partitions") = heads.size
      val now = live.map(f => f.file.path -> f.file.size).toMap
      val before = lastLive.getOrElse(path, Map.empty)
      val added = now.keySet -- before.keySet
      val removed = before.keySet -- now.keySet
      lastLive(path) = now
      op.m("write.files_committed") = added.size
      if (op.kind.startsWith("compaction")) {
        op.m("compaction.files_in") = removed.size
        op.m("compaction.files_out") = added.size
        op.m("compaction.bytes_rewritten") = added.toSeq.map(now).sum.toDouble
        op.m("compaction.task_cpu_s") = op.m.getOrElse("spark.task_cpu_s", 0.0)
      }
      val runs = live.groupBy(f => (f.partitionDesc, f.file.bucketId))
        .values.map(_.map(_.commitOrdinal).distinct.size)
      op.m("read.runs_per_bucket") = if (runs.isEmpty) 0.0 else runs.sum.toDouble / runs.size
      op.m("storage.live_files") = now.size
      op.m("storage.live_bytes") = now.values.sum.toDouble
    } catch {
      case NonFatal(e) => fail(op, s"meta probe threw ${e.getClass.getName}: ${e.getMessage}")
    }
  }

  /** Baseline for the live-file diff of the next probe on `t`. */
  def probeBaseline(t: GraftTable): Unit = if (trace)
    lastLive(t.tablePath) = t.liveFiles.map(f => f.file.path -> f.file.size).toMap

  // ---------------------------------------------------------------- results

  def samples(kind: String): Seq[Double] =
    ops.filter(o => o.timed && o.ok && o.kind == kind).map(_.seconds).toSeq

  def roleSamples(role: String): Seq[Double] =
    ops.filter(o => o.timed && o.ok && o.role == role).map(_.seconds).toSeq

  /** Wall-clock marks since JVM start, published so a reader can see
    * where a run's time goes outside the timed ops. */
  val phases: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap()
  def phase(name: String): Unit = phases(name) =
    (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0

  def attempted: Int = ops.size
  def failed: Int = ops.count(!_.ok)
}

object Harness {
  def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).filter(_ >= 0).sum

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** Nearest-rank percentile. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    s(math.min(s.size - 1, math.max(0, math.ceil(p / 100.0 * s.size).toInt - 1)))
  }

  /** The highest of a few percentiles with at least 10 samples above it:
    * (value, percentile, sample count); None below 11 samples. */
  def tail(xs: Seq[Double]): Option[(Double, Double, Int)] =
    Seq(99.0, 95.0, 90.0, 75.0, 50.0).find(p => xs.size * (1 - p / 100) >= 10)
      .map(p => (percentile(xs, p), p, xs.size))
}
