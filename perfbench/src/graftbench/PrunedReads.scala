package graftbench

import scala.collection.mutable

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.meta.{JdbcMetaStore, MetaStore}
import graft.tables.GraftTable

/** Read planning on the JDBC meta store: `orders` range-partitioned by
  * order month (40 partitions, bucketNum 4) with a history of small seeded
  * upserts (1-3 partitions each), so the partitions they touched carry
  * pending deltas and the rest hold only the initial load's run. The timed
  * mix is read-only: point lookups, single-partition scans, a price-range
  * scan that stats skipping could prune, and a catalog SQL join against
  * customer and nation. */
final class PrunedReads(spark: SparkSession, h: Harness, cfg: Config)
    extends Workload(spark, h, cfg) {
  val n: Long = if (cfg.smoke) 1600L else 150000L
  val nCust: Long = n / 100
  val history: Int = if (cfg.smoke) 9 else 15
  val rounds: Int = if (cfg.smoke) 2 else math.max(2, cfg.seconds / 2)
  val buckets = 4
  val cols: Seq[String] = Gen.ordersMonthSchema.fieldNames.toSeq
  val key = "o_orderkey"

  private var summary: Map[String, Double] = Map.empty
  def common: Map[String, Double] = summary

  def run(): Unit = {
    val url = sys.props.getOrElse("graft.meta.uri",
      throw new IllegalStateException("pruned_reads runs on the JDBC meta store: " +
        "start the JVM with -Dgraft.meta.uri=jdbc:..."))
    val store = MetaStore.default
    require(store.isInstanceOf[JdbcMetaStore], s"expected the JDBC store for $url")

    val inOrders = dir("input/orders")
    val inCust = dir("input/customer")
    val inNation = dir("input/nation")
    Gen.orders(spark, cfg.seed, n, nCust, withMonth = true).write.parquet(inOrders)
    val custRows = (0L until nCust).map(Gen.customerRow(cfg.seed, _))
    val nationRows = (0 until 25).map(Gen.nationRow)
    Gen.local(spark, custRows, Gen.customerSchema).write.parquet(inCust)
    Gen.local(spark, nationRows, Gen.nationSchema).write.parquet(inNation)
    info.put("orders_rows", n); info.put("partitions", Gen.Months)
    info.put("bucket_num", buckets); info.put("history_upserts", history)
    info.put("rounds", rounds); info.put("input_bytes", parquetFiles(inOrders).values.sum)

    // the join's dimension tables are inputs; setup_s times the orders load
    GraftTable.createNamed(spark, "bench.customer", spark.read.parquet(inCust),
      dir("tables/customer"), hashColumns = Seq("c_custkey"),
      bucketNum = buckets, properties = tableProps)
    GraftTable.createNamed(spark, "bench.nation", spark.read.parquet(inNation),
      dir("tables/nation"), hashColumns = Seq("n_nationkey"),
      bucketNum = 1, properties = tableProps)
    val t = timedSetup { rep =>
      GraftTable.createNamed(spark, s"bench.orders_$rep", spark.read.parquet(inOrders),
        dir(s"tables/orders_$rep"), rangeColumns = Seq("o_month"),
        hashColumns = Seq(key), bucketNum = buckets, properties = tableProps)
    }
    val rep = setupReps

    val model = mutable.HashMap[Long, Row]()
    (0L until n).foreach(k => model(k) = Gen.orderRow(cfg.seed, n, nCust, k, 0, withMonth = true))
    val nationOfCust = custRows.map(r => r.getLong(0) -> r.getInt(2)).toMap
    val rng = new scala.util.Random(cfg.seed * 7919L + 5)
    def monthKeys(mo: Int): (Long, Long) =
      ((mo.toLong * n + Gen.Months - 1) / Gen.Months, ((mo + 1).toLong * n + Gen.Months - 1) / Gen.Months)

    // history: small upserts touching 1, 2, 3, 1, ... seeded months with 16
    // keys each (a fixed shape, so sizes repeat across seeds), timed as upserts
    // the first 3 upserts and the first read round are an untimed warm-up
    val warmupUpserts = 3
    var filesBefore = Map.empty[String, Long]
    val batches = mutable.ArrayBuffer[(Int, Seq[Row])]()
    (1 to history).foreach { v =>
      if (v == warmupUpserts + 1) {
        filesBefore = parquetFiles(t.tablePath)
        h.probeBaseline(t)
      }
      val months = rng.shuffle((0 until Gen.Months).toList).take(1 + (v - 1) % 3)
      val ks = months.flatMap { mo =>
        val (lo, hi) = monthKeys(mo)
        Iterator.continually(lo + rng.nextLong(hi - lo)).distinct.take(16).toSeq
      }
      val rows = ks.map(k => Gen.orderRow(cfg.seed, n, nCust, k, v, withMonth = true))
      h.run("upsert", "upsert", v > warmupUpserts)(
        t.upsert(Gen.local(spark, rows, Gen.ordersMonthSchema)))
      h.probe(h.last, t, store)
      rows.foreach(r => model(r.getLong(0)) = r)
      batches += (v -> rows)
    }

    def expectScan(pred: Row => Boolean): Seq[Row] = model.values.filter(pred).toSeq
    def month(r: Row): String = r.getString(6)
    def price(r: Row): Double = r.getDouble(3)

    for (round <- 0 to rounds) {
      val timed = round > 0
      (1 to 3).foreach { _ =>
        val k = rng.nextLong(n)
        h.run("point_read", "point_read", timed)(t.lookupByPk(Seq(k)).collect().toSeq)
          .foreach { got =>
            val op = h.last
            op.m("read.rows_returned") = 1
            h.check(op, sameRows(got, Seq(model(k)), cols).map(s"key $k: " + _))
          }
        h.probe(h.last, t, store)
      }
      (1 to 8).foreach { _ =>
        val mo = Gen.monthName(rng.nextInt(Gen.Months))
        h.run("scan", "scan", timed)(t.toDF.filter(col("o_month") === mo).collect().toSeq)
          .foreach { got =>
            val op = h.last
            op.m("read.rows_returned") = got.size
            h.check(op, sameRows(got, expectScan(month(_) == mo), cols)
              .map(s"partition $mo: " + _))
          }
        h.probe(h.last, t, store)
      }
      val lo = 1000.0 + rng.nextInt(400000)
      val hi = lo + 100.0
      h.run("range_scan", "range_scan", timed)(
        t.toDF.filter(col("o_totalprice").between(lo, hi)).collect().toSeq).foreach { got =>
        val op = h.last
        op.m("read.rows_returned") = got.size
        h.check(op, sameRows(got, expectScan(r => price(r) >= lo && price(r) <= hi), cols)
          .map(s"price in [$lo, $hi]: " + _))
      }
      h.probe(h.last, t, store)
      val mo = Gen.monthName(rng.nextInt(Gen.Months))
      val q = s"""SELECT n.n_name, count(*) AS orders, sum(o.o_totalprice) AS revenue
                 |FROM graft_cat.bench.orders_$rep o
                 |JOIN graft_cat.bench.customer c ON o.o_custkey = c.c_custkey
                 |JOIN graft_cat.bench.nation n ON c.c_nationkey = n.n_nationkey
                 |WHERE o.o_month = '$mo' GROUP BY n.n_name""".stripMargin
      h.run("sql", "query", timed)(spark.sql(q).collect().toSeq).foreach { got =>
        val op = h.last
        op.m("read.rows_returned") = got.size
        val expect = expectScan(month(_) == mo)
          .groupBy(r => s"NATION_${nationOfCust(r.getLong(1))}")
          .map { case (nm, rs) => nm -> (rs.size.toLong, rs.map(price).sum) }
        val actual = got.map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
        val ok = actual.keySet == expect.keySet && expect.forall { case (nm, (c, s)) =>
          val (c2, s2) = actual(nm)
          c == c2 && math.abs(s - s2) <= 1e-6 * math.max(1.0, math.abs(s))
        }
        h.check(op, if (ok) None else Some(s"join for month $mo: got $actual, expected $expect"))
      }
      h.probe(h.last, t, store)
    }

    val finalModel = Gen.local(spark, model.values.toSeq, Gen.ordersMonthSchema)
    val dfModel = lastWriterWins(tagged(spark.read.parquet(inOrders), 0) +:
      batches.map { case (v, rows) => tagged(Gen.local(spark, rows, Gen.ordersMonthSchema), v) }.toSeq,
      Seq(key), cols)
    val userBatches = Gen.local(spark,
      batches.filter(_._1 > warmupUpserts).flatMap(_._2).toSeq, Gen.ordersMonthSchema)
    h.verify("verify.model_agree") {
      val a = checksum(dfModel, cols); val b = checksum(finalModel, cols)
      if (a == b) None else Some(s"DataFrame model $a != map model $b")
    }
    verifyFinal(t, dfModel, cols, new JdbcMetaStore(url))
    storageMetrics(t, filesBefore, userBatches, dfModel, Seq(key))

    putTiming("upsert_s", "upsert")
    putTiming("point_read_s", "point_read", withTail = true)
    putTiming("scan_s", "scan")
    putTiming("range_scan_s", "range_scan")
    putTiming("sql_query_s", "sql")
    summary = Map(
      "upsert_s_p50" -> report("upsert_s_p50")._1,
      "scan_s_p50" -> report("scan_s_p50")._1,
      "point_read_s_p50" -> report("point_read_s_p50")._1,
      "query_s_p50" -> report("sql_query_s_p50")._1)
  }
}
