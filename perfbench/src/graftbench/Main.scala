package graftbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Entry point of one benchmark run:
  *
  *   graftbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                   --work <dir> --out <dir> [--smoke]
  *
  * Prints a `PERFBENCH_REPORT {...}` line (every detailed metric with its
  * unit, failures with op and reason, input sizes, and in a traced run the
  * per-op-type layer breakdown), then the one-line result JSON as the last
  * line of stdout. */
object Main {
  val Workloads = Seq("cdc_small_commits", "pruned_reads")

  /** Additive per-op layer metrics, summed over the ops after setup. */
  val Additive: Seq[String] = Seq(
    "sql.analysis_s", "sql.optimization_s", "sql.planning_s", "sql.self_s",
    "tables.op_s", "tables.driver_pre_job_s", "tables.driver_post_job_s",
    "tables.driver_gap_s", "tables.self_s",
    "meta.heads_s", "meta.live_files_s", "meta.last_commit_ts_s",
    "spark.jobs", "spark.stages", "spark.tasks", "spark.jobs_covered_s",
    "spark.job_wall_s", "spark.job_self_s", "spark.stage_self_s",
    "spark.task_run_s", "spark.task_cpu_s", "spark.task_gc_s",
    "spark.shuffle_write_bytes", "spark.shuffle_read_bytes", "spark.spill_bytes",
    "spark.exchanges",
    "write.rows", "write.bytes", "write.files_written", "write.files_committed",
    "write.stage_task_cpu_s",
    "read.files_planned", "read.files_skipped", "read.files_read", "read.bytes",
    "read.stage_task_cpu_s",
    "compaction.files_in", "compaction.files_out", "compaction.bytes_rewritten",
    "compaction.task_cpu_s",
    "jvm.driver_gc_s")

  /** State metrics: the value after the last op that recorded one. */
  val State: Seq[String] = Seq("meta.log_lines", "meta.partitions")

  /** Per-role medians published for the roles every workload has. */
  val Roles: Seq[String] = Seq("upsert", "scan", "point_read", "query")
  val RoleKeys: Seq[String] = Seq("tables.op_s", "tables.driver_gap_s",
    "tables.driver_pre_job_s", "tables.driver_post_job_s", "spark.jobs_covered_s",
    "spark.jobs", "spark.stages", "spark.tasks", "spark.task_cpu_s",
    "sql.analysis_s", "sql.optimization_s", "sql.planning_s", "meta.heads_s",
    "write.files_written", "read.files_planned", "read.files_read")

  def unitOf(name: String): String =
    if (name.endsWith("_s") || name.endsWith("_s_p50")) "s"
    else if (name.contains("bytes")) "bytes"
    else if (name.endsWith("_mb")) "MB"
    else if (name.endsWith("_per_written") || name.endsWith("_per_row_returned") ||
      name.endsWith("_per_op") || name.endsWith("runs_per_bucket")) "ratio"
    else "count"

  def main(args: Array[String]): Unit = {
    val a = args.sliding(2).collect { case Array(k, v) if k.startsWith("--") => k -> v }.toMap
    val cfg = Config(
      workload = a.getOrElse("--workload", ""),
      seed = a.getOrElse("--seed", "1").toLong,
      seconds = a.getOrElse("--seconds", "10").toInt,
      trace = a.getOrElse("--trace", "0") == "1",
      smoke = args.contains("--smoke"),
      work = a.getOrElse("--work", "bench-work"),
      out = a.getOrElse("--out", "bench-out"),
      cores = Runtime.getRuntime.availableProcessors())
    require(Workloads.contains(cfg.workload),
      s"unknown workload '${cfg.workload}'; expected one of ${Workloads.mkString(", ")}")

    val spark = SparkSession.builder()
      .master(s"local[${cfg.cores}]")
      .appName(s"perfbench-${cfg.workload}")
      // fixed (not core-derived) so task and file counts repeat across hosts
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.default.parallelism", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.sql.GraftSparkExtensions")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${cfg.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${cfg.work}/spark-warehouse")
      .config("spark.graft.warehouse", s"${cfg.work}/warehouse")
      .config("spark.sql.catalog.graft_cat", "graft.catalog.GraftCatalogV2")
      .config("spark.sql.catalog.graft_cat.warehouse", s"${cfg.work}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    try {
      val h = new Harness(spark, cfg.trace)
      h.phase("session_ready")
      val w: Workload = cfg.workload match {
        case "cdc_small_commits" => new CdcSmallCommits(spark, h, cfg)
        case "pruned_reads" => new PrunedReads(spark, h, cfg)
      }
      w.run()
      h.phase("workload_done")
      emit(cfg, h, w)
    } finally spark.stop()
  }

  private def emit(cfg: Config, h: Harness, w: Workload): Unit = {
    val after = h.ops.filter(o => o.timed && o.role != "setup").toSeq
    val traced = mutable.LinkedHashMap[String, Double]()
    if (cfg.trace) {
      Additive.foreach(k => traced(k) = after.flatMap(_.m.get(k)).sum)
      State.foreach(k => traced(k) = after.flatMap(_.m.get(k)).lastOption.getOrElse(0.0))
      Seq("jvm.heap_used_after_mb", "read.runs_per_bucket").foreach { k =>
        traced(k) = after.flatMap(_.m.get(k)).foldLeft(0.0)(math.max)
      }
      traced("sql.queries_per_op") = after.flatMap(_.m.get("sql.queries")).sum / after.size
      traced("write.files_committed_per_written") = {
        val written = traced("write.files_written")
        if (written == 0) 0.0 else traced("write.files_committed") / written
      }
      val readOps = after.filter(_.m.contains("read.rows_returned"))
      traced("read.rows_scanned_per_row_returned") = {
        val ret = readOps.map(_.m("read.rows_returned")).sum
        if (ret == 0) 0.0 else readOps.map(_.m.getOrElse("read.rows_scanned", 0.0)).sum / ret
      }
      // the table at the end of the write phase (Workload.storageMetrics)
      Seq("storage.live_files", "storage.live_bytes", "storage.dir_files",
        "storage.dir_bytes").foreach { k =>
        traced(k) = w.info.get(k).map(_.toString.toDouble).getOrElse(0.0)
      }
      Roles.foreach { r =>
        val ops = after.filter(_.role == r)
        RoleKeys.foreach(k => traced(s"$r.$k") = Harness.median(ops.flatMap(_.m.get(k))))
        traced(s"trace.${r}_s_p50") = Harness.median(h.roleSamples(r))
      }
    }

    val e2e = mutable.LinkedHashMap[String, Double](
      "setup_s" -> w.report("setup_s")._1) ++ w.common ++ Seq(
      "ops_per_s" -> w.opsPerSecond(),
      "write_amp" -> w.report("write_amp")._1,
      "space_amp" -> w.report("space_amp")._1)
    val e2eUnits = Map("ops_per_s" -> "1/s", "write_amp" -> "ratio", "space_amp" -> "ratio")

    val failedShare = h.failed.toDouble / math.max(1, h.attempted)
    val byKind = if (!cfg.trace) Map.empty[String, Any] else
      h.ops.filter(_.timed).toSeq.groupBy(_.kind).map { case (kind, ops) =>
        kind -> (Map("ops" -> ops.size, "seconds_p50" -> Harness.median(ops.map(_.seconds)),
          "seconds_sum" -> ops.map(_.seconds).sum) ++
          ops.flatMap(_.m.keys).distinct.map(k => k -> Harness.median(ops.flatMap(_.m.get(k)))))
      }
    val report = mutable.LinkedHashMap[String, Any](
      "workload" -> cfg.workload, "seed" -> cfg.seed, "trace" -> cfg.trace,
      "scale" -> (if (cfg.smoke) "smoke" else "bench"), "cores" -> cfg.cores,
      "metrics" -> (w.report.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) } ++
        Map("failed_ops_share" -> Map("value" -> failedShare, "unit" -> "ratio"))),
      "failures" -> h.failures.map { case (op, why) => Map("op" -> op, "reason" -> why) },
      "attempted" -> h.attempted, "failed" -> h.failed,
      "info" -> w.info, "phases_s" -> h.phases,
      "per_op_type" -> byKind)
    println("PERFBENCH_REPORT " + Json.value(report))
    if (h.failures.nonEmpty)
      h.failures.foreach { case (op, why) => System.err.println(s"[perfbench] FAILED $op: $why") }

    if (cfg.trace) {
      val out = Paths.get(cfg.out)
      Files.createDirectories(out)
      Files.write(out.resolve(s"spans-${cfg.workload}-${cfg.seed}.jsonl"),
        h.spans.map(_.json).mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
    }

    val metrics: Seq[(String, Map[String, Any])] =
      if (cfg.trace) traced.toSeq.map { case (k, v) => k -> Map("value" -> v, "unit" -> unitOf(k)) }
      else e2e.toSeq.map { case (k, v) =>
        k -> Map("value" -> v, "unit" -> e2eUnits.getOrElse(k, "s"))
      }
    val result = mutable.LinkedHashMap[String, Any](
      "correct" -> (h.failed == 0), "attempted" -> h.attempted, "failed" -> h.failed,
      "metrics" -> mutable.LinkedHashMap(metrics: _*))
    println(Json.value(result))
  }
}
