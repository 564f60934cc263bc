package graftbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.meta.MetaStore
import graft.tables.GraftTable

final case class Config(workload: String, seed: Long, seconds: Int,
    trace: Boolean, smoke: Boolean, work: String, out: String, cores: Int)

/** Shared machinery of the workloads: input staging, setup timing,
  * the last-writer-wins oracle and the storage accounting. */
abstract class Workload(val spark: SparkSession, val h: Harness, val cfg: Config) {
  /** This workload's detailed end-to-end metrics: name -> (value, unit). */
  val report: mutable.LinkedHashMap[String, (Double, String)] = mutable.LinkedHashMap()
  /** Input sizes and shape parameters, published with the results. */
  val info: mutable.LinkedHashMap[String, Any] = mutable.LinkedHashMap()
  val codec = "zstd"
  val tableProps: Map[String, String] = Map("graft.write.codec" -> codec)
  val setupReps = 3

  def run(): Unit

  /** The workload's values of the metrics every workload reports. */
  def common: Map[String, Double]

  def dir(name: String): String = s"${cfg.work}/$name"

  /** Runs `body` (one table setup) `setupReps` times as timed "setup" ops
    * and returns the last result; setup_s is their median. */
  def timedSetup[T](body: Int => T): T = {
    h.phase("inputs_ready")
    val results = (1 to setupReps).map(rep => h.run("setup", "setup")(body(rep)))
    val xs = h.samples("setup")
    report("setup_s") = (Harness.median(xs), "s")
    h.phase("setup_done")
    results.last.getOrElse(throw new IllegalStateException(
      "table setup failed: " + h.failures.mkString("; ")))
  }

  // ---------------------------------------------------------------- oracle

  /** Order-independent content checksum: (row count, sum of row hashes). */
  def checksum(df: DataFrame, cols: Seq[String]): (Long, Long) = {
    val r = df.select(cols.map(col): _*)
      .agg(count(lit(1)), coalesce(sum(shiftright(xxhash64(cols.map(col): _*), 16)), lit(0L)))
      .head()
    (r.getLong(0), r.getLong(1))
  }

  /** Last-writer-wins model over plain DataFrame ops: for each key keep the
    * row with the highest sequence number; `_del` rows are tombstones. */
  def lastWriterWins(parts: Seq[DataFrame], keys: Seq[String], cols: Seq[String]): DataFrame = {
    val all = parts.reduce(_ unionByName _)
    val w = Window.partitionBy(keys.map(col): _*).orderBy(col("_seq").desc)
    all.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1 && !col("_del"))
      .select(cols.map(col): _*)
  }

  def tagged(df: DataFrame, seq: Int, deleted: Boolean = false): DataFrame =
    df.withColumn("_seq", lit(seq)).withColumn("_del", lit(deleted))

  /** Final-state checks: the table against the model, then the same table
    * reopened through a fresh meta-store instance (no in-process caches). */
  def verifyFinal(t: GraftTable, model: DataFrame, cols: Seq[String],
      fresh: => MetaStore): Unit = {
    h.phase("ops_done")
    val expect = checksum(model, cols)
    info("final_rows") = expect._1
    info("final_checksum") = expect._2
    h.verify("verify.final_table") {
      val got = checksum(t.toDF, cols)
      if (got == expect) None else Some(s"final table checksum $got != model $expect")
    }
    h.verify("verify.fresh_store") {
      val got = checksum(GraftTable.forPath(spark, t.tablePath, fresh).toDF, cols)
      if (got == expect) None
      else Some(s"table reopened through a fresh MetaStore: checksum $got != model $expect")
    }
    h.phase("verified")
  }

  def values(r: Row, cols: Seq[String]): Seq[Any] =
    if (r.schema == null) r.toSeq.take(cols.size) else cols.map(c => r.get(r.fieldIndex(c)))

  /** Multiset comparison of result rows against expected rows. */
  def sameRows(got: Seq[Row], expected: Seq[Row], cols: Seq[String]): Option[String] = {
    val g = got.map(values(_, cols)).groupBy(identity).map { case (k, v) => k -> v.size }
    val e = expected.map(values(_, cols)).groupBy(identity).map { case (k, v) => k -> v.size }
    if (g == e) None
    else {
      val missing = (e.keySet -- g.keySet).take(2)
      val extra = (g.keySet -- e.keySet).take(2)
      Some(s"got ${got.size} rows, expected ${expected.size}; missing e.g. " +
        s"${missing.mkString(" ")}; unexpected e.g. ${extra.mkString(" ")}")
    }
  }

  // --------------------------------------------------------------- storage

  def parquetFiles(root: String): Map[String, Long] = {
    val p = Paths.get(root)
    if (!Files.exists(p)) Map.empty
    else {
      val s = Files.walk(p)
      try s.iterator().asScala
        .filter(f => Files.isRegularFile(f) && f.getFileName.toString.endsWith(".parquet"))
        .map(f => f.toString -> Files.size(f)).toMap
      finally s.close()
    }
  }

  def dirStats(root: String): (Long, Long) = {
    val s = Files.walk(Paths.get(root))
    try {
      val fs = s.iterator().asScala.filter(Files.isRegularFile(_)).toSeq
      (fs.size.toLong, fs.map(Files.size(_: Path)).sum)
    } finally s.close()
  }

  /** Bytes of `df` written once as plain parquet with the table's codec,
    * hash-placed on `keys` into 4 files and key-sorted in each. */
  def plainBytes(df: DataFrame, keys: Seq[String], name: String): Long = {
    val out = dir(s"plain/$name")
    df.repartition(4, keys.map(col): _*).sortWithinPartitions(keys.map(col): _*)
      .write.option("compression", codec).parquet(out)
    parquetFiles(out).values.sum
  }

  /** write_amp, space_amp and storage counts for a write phase that began
    * with `filesBefore` on disk and ended with `t`'s current state. */
  def storageMetrics(t: GraftTable, filesBefore: Map[String, Long],
      userBatches: DataFrame, finalRows: DataFrame, keys: Seq[String]): Unit = {
    val after = parquetFiles(t.tablePath)
    val gained = (after.keySet -- filesBefore.keySet).toSeq.map(after).sum
    val live = t.liveFiles
    val liveBytes = live.map(_.file.size).sum
    val userBytes = plainBytes(userBatches, keys, "batches")
    val finalBytes = plainBytes(finalRows, keys, "final")
    report("write_amp") = (gained.toDouble / userBytes, "ratio")
    report("space_amp") = (liveBytes.toDouble / finalBytes, "ratio")
    val (dirFiles, dirBytes) = dirStats(t.tablePath)
    info("storage.live_files") = live.size
    info("storage.live_bytes") = liveBytes
    info("storage.dir_files") = dirFiles
    info("storage.dir_bytes") = dirBytes
    info("plain_batch_bytes") = userBytes
    info("plain_final_bytes") = finalBytes
  }

  def p50(kind: String): Double = Harness.median(h.samples(kind))

  def putTiming(name: String, kind: String, withTail: Boolean = false): Unit = {
    val xs = h.samples(kind)
    report(s"${name}_p50") = (Harness.median(xs), "s")
    info(s"${name}_samples") = xs.map(x => math.rint(x * 1e4) / 1e4)
    if (withTail) Harness.tail(xs).foreach { case (v, p, n) =>
      report(s"${name}_tail") = (v, "s")
      info(s"${name}_tail_percentile") = p
      info(s"${name}_tail_samples") = n
    }
  }

  /** Ops per second over the summed wall time of the ops after setup. */
  def opsPerSecond(): Double = {
    val xs = h.ops.filter(o => o.timed && o.ok && o.role != "setup")
    xs.size / xs.map(_.seconds).sum
  }
}
