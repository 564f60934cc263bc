package graftbench

import scala.collection.mutable

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.meta.{FileMetaStore, MetaStore}
import graft.tables.{CompactionOptions, GraftTable}

/** Small CDC commits on `orders` (bucketNum 16, file meta store): each round
  * upserts 1,000 rows (90% existing keys, half of those from the last three
  * batches; 10% new keys), a consumer reads the commit back incrementally,
  * and 4 just-written keys are point-read. Every 5th round tombstones 4 keys;
  * every 8th commit runs a leveled compaction. The first rounds are an
  * untimed warm-up on the same table. Then the reference's merge-on-read
  * comparison on the table the rounds left: full scans that hash every
  * column, one full compaction, and the same scans of the compacted table. */
final class CdcSmallCommits(spark: SparkSession, h: Harness, cfg: Config)
    extends Workload(spark, h, cfg) {
  val n: Long = if (cfg.smoke) 1500L else 150000L
  val nCust: Long = n / 10
  val batch: Int = if (cfg.smoke) 50 else 1000
  /** Untimed rounds first, so the JIT and Spark's code caches are warm. */
  val warmupRounds = 3
  val rounds: Int = if (cfg.smoke) 8 else cfg.seconds * 6 / 5
  val scans: Int = if (cfg.smoke) 2 else math.max(3, cfg.seconds * 5 / 8)
  val buckets = 16
  val cols: Seq[String] = Gen.ordersSchema.fieldNames.toSeq
  val key = "o_orderkey"

  private var summary: Map[String, Double] = Map.empty
  def common: Map[String, Double] = summary

  def run(): Unit = {
    val input = dir("input/orders")
    Gen.orders(spark, cfg.seed, n, nCust, withMonth = false).write.parquet(input)
    info.put("orders_rows", n); info.put("bucket_num", buckets)
    info.put("batch_rows", batch); info.put("rounds", rounds)
    info.put("input_bytes", parquetFiles(input).values.sum)

    val store = MetaStore.default
    val t = timedSetup { rep =>
      GraftTable.create(spark, spark.read.parquet(input), dir(s"tables/orders_$rep"),
        hashColumns = Seq(key), bucketNum = buckets, properties = tableProps,
        store = store)
    }

    // the oracle: key -> current row, plus the live keys for sampling
    val model = mutable.HashMap[Long, Row]()
    val live = mutable.ArrayBuffer[Long]()
    val slot = mutable.HashMap[Long, Int]()
    def addLive(k: Long): Unit = if (!slot.contains(k)) { slot(k) = live.size; live += k }
    def dropLive(k: Long): Unit = slot.remove(k).foreach { i =>
      val moved = live.last
      live(i) = moved; live.remove(live.size - 1)
      if (moved != k) slot(moved) = i
    }
    (0L until n).foreach { k =>
      model(k) = Gen.orderRow(cfg.seed, n, nCust, k, 0, withMonth = false); addLive(k)
    }

    var filesBefore = Map.empty[String, Long]
    val rng = new scala.util.Random(cfg.seed * 1000003L + 11)
    val recent = mutable.Queue[Array[Long]]()
    // (sequence number, timed round?, rows or keys)
    val batches = mutable.ArrayBuffer[(Int, Boolean, Seq[Row])]()
    val deletes = mutable.ArrayBuffer[(Int, Boolean, Seq[Long])]()
    var nextKey = n
    var seq = 0
    var commits = 0
    var lastTs = t.lastCommitTs
    var timed = false

    def committed(): Unit = {
      commits += 1
      lastTs = t.lastCommitTs
    }
    def maybeCompact(): Unit = if (commits % 8 == 0) {
      h.run("compaction", "compaction", timed) {
        t.compaction(CompactionOptions(fileNumLimit = Some(4),
          fileSizeLimit = Some(128L << 20)), (_: String) => true)
      }
      h.probe(h.last, t, store)
      lastTs = t.lastCommitTs
    }

    for (round <- 1 to warmupRounds + rounds) {
      if (round == warmupRounds + 1) {
        timed = true
        filesBefore = parquetFiles(t.tablePath)
        h.probeBaseline(t)
      }
      val keys = mutable.LinkedHashSet[Long]()
      val fresh = batch / 10
      while (keys.size < batch - fresh) {
        val k =
          if (recent.nonEmpty && rng.nextBoolean()) {
            val r = recent(rng.nextInt(recent.size)); r(rng.nextInt(r.length))
          } else live(rng.nextInt(live.size))
        if (model.contains(k)) keys += k
      }
      (0 until fresh).foreach { _ => keys += nextKey; nextKey += 1 }
      seq += 1
      val version = seq
      val rows = keys.toSeq.map(k => Gen.orderRow(cfg.seed, n, nCust, k, version, withMonth = false))
      val prevTs = lastTs
      val ok = h.run("upsert", "upsert", timed) {
        t.upsert(Gen.local(spark, rows, Gen.ordersSchema))
      }.isDefined
      h.probe(h.last, t, store)
      rows.foreach { r => model(r.getLong(0)) = r; addLive(r.getLong(0)) }
      batches += ((seq, timed, rows))
      recent.enqueue(keys.toArray)
      if (recent.size > 3) recent.dequeue()
      committed()

      // the consumer: the window holds exactly this commit
      if (ok) {
        h.run("incremental", "query", timed)(t.incremental(prevTs, lastTs).collect().toSeq)
          .foreach { got =>
            val op = h.last
            op.m("read.rows_returned") = got.size
            h.check(op, sameRows(got, rows, cols).map("incremental window: " + _))
          }
        h.probe(h.last, t, store)
      }

      rng.shuffle(keys.toSeq).take(4).foreach { k =>
        h.run("point_read", "point_read", timed)(t.lookupByPk(Seq(k)).collect().toSeq)
          .foreach { got =>
            val op = h.last
            op.m("read.rows_returned") = 1
            h.check(op, sameRows(got, Seq(model(k)), cols).map(s"key $k: " + _))
          }
        h.probe(h.last, t, store)
      }
      maybeCompact()

      if (round % 5 == 0) {
        val doomed = Iterator.continually(live(rng.nextInt(live.size)))
          .distinct.take(4).toSeq
        seq += 1
        h.run("delete", "delete", timed)(t.deleteTombstone(col(key).isin(doomed: _*)))
        h.probe(h.last, t, store)
        doomed.foreach { k => model.remove(k); dropLive(k) }
        deletes += ((seq, timed, doomed))
        committed()
        maybeCompact()
      }
    }

    // final state: the table against the DataFrame-built model
    val parts = tagged(spark.read.parquet(input), 0) +:
      (batches.map { case (s, _, rows) => tagged(Gen.local(spark, rows, Gen.ordersSchema), s) } ++
        deletes.map { case (s, _, ks) =>
          tagged(Gen.local(spark, ks.map(k => Row(k, null, null, null, null, null)),
            Gen.ordersSchema), s, deleted = true)
        }).toSeq
    val finalModel = lastWriterWins(parts, Seq(key), cols).cache()
    val expect = checksum(finalModel, cols)
    h.verify("verify.model_size") {
      if (expect._1 == model.size) None
      else Some(s"DataFrame model has ${expect._1} keys, map model ${model.size}")
    }
    val userBatches = Gen.local(spark, batches.filter(_._2).flatMap(_._3).toSeq, Gen.ordersSchema)
    storageMetrics(t, filesBefore, userBatches, finalModel, Seq(key))

    def scan(kind: String, timed: Boolean = true): Unit = {
      h.run(kind, kind, timed)(checksum(t.toDF, cols)).foreach { got =>
        val op = h.last
        op.m("read.rows_returned") = expect._1.toDouble
        h.check(op, if (got == expect) None else Some(s"scan checksum $got != model $expect"))
      }
      h.probe(h.last, t, store)
    }
    scan("scan", timed = false)
    (1 to scans).foreach(_ => scan("scan"))
    h.run("compaction_full", "compaction_full")(t.compaction())
    h.probe(h.last, t, store)
    (1 to scans).foreach(_ => scan("scan_compacted"))
    verifyFinal(t, finalModel, cols, new FileMetaStore)
    finalModel.unpersist()

    putTiming("upsert_s", "upsert", withTail = true)
    putTiming("delete_s", "delete")
    putTiming("incremental_read_s", "incremental")
    putTiming("point_read_s", "point_read", withTail = true)
    putTiming("compaction_s", "compaction")
    putTiming("scan_s", "scan")
    putTiming("scan_compacted_s", "scan_compacted")
    putTiming("compaction_full_s", "compaction_full")
    info("mor_overhead") = p50("scan") / p50("scan_compacted") - 1
    val writeOps = h.ops.filter(o => o.timed && Set("upsert", "delete", "compaction")(o.kind))
    val rowsCommitted = batches.filter(_._2).map(_._3.size).sum +
      deletes.filter(_._2).map(_._3.size).sum
    report("ingest_rows_per_s") = (rowsCommitted / writeOps.map(_.seconds).sum, "rows/s")
    summary = Map(
      "upsert_s_p50" -> report("upsert_s_p50")._1,
      "scan_s_p50" -> report("scan_s_p50")._1,
      "point_read_s_p50" -> report("point_read_s_p50")._1,
      "query_s_p50" -> report("incremental_read_s_p50")._1)
  }
}
