package graftbench

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded synthetic inputs with the TPC-H-like shapes of the repository's
  * test data (orders, customer, nation). Every value is a pure
  * function of (seed, key, version), so the same seed always yields the same
  * tables and batches, and the oracle can rebuild any row on the driver
  * without asking the table. */
object Gen {
  /** Order months, and so the range partitions of pruned_reads. */
  val Months = 40

  /** splitmix64 finaliser: a well-mixed 64-bit hash of `x`. */
  def mix(x: Long): Long = {
    var z = x + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  def h(seed: Long, a: Long, b: Long = 0L, c: Long = 0L): Long =
    mix(mix(mix(seed) ^ a) ^ (b * 31 + c))

  private def pos(x: Long, m: Long): Long = java.lang.Math.floorMod(x, m)

  // ------------------------------------------------------------------ orders

  val ordersSchema: StructType = StructType(Seq(
    StructField("o_orderkey", LongType, nullable = false),
    StructField("o_custkey", LongType),
    StructField("o_orderstatus", StringType),
    StructField("o_totalprice", DoubleType),
    StructField("o_orderdate", TimestampType),
    StructField("o_orderpriority", StringType)))

  val ordersMonthSchema: StructType = ordersSchema.add("o_month", StringType)

  private val statuses = Array("F", "O", "P")
  private val priorities =
    Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")

  /** Month index (0 until Months) of order `k` among `n` base orders: keys
    * are laid out month by month, so a month holds a contiguous key range
    * and o_totalprice, which grows with the key, is clustered per month. */
  def monthOf(k: Long, n: Long): Int =
    math.min(Months - 1, (k * Months / n).toInt)

  private val monthNames: Array[String] =
    Array.tabulate(Months)(m => f"${1992 + m / 12}%04d-${m % 12 + 1}%02d")
  private val dates: Array[Array[Timestamp]] = Array.tabulate(Months, 28) { (m, d) =>
    Timestamp.valueOf(java.time.LocalDateTime.of(1992 + m / 12, m % 12 + 1, d + 1, 0, 0))
  }

  def monthName(m: Int): String = monthNames(m)

  /** Order `k` at `version` (0 = the base load, v > 0 = the v-th rewrite).
    * A rewrite keeps the key's month and moves the price by at most 5, so
    * the per-file price ranges stay narrow across upserts. */
  def orderRow(seed: Long, n: Long, nCust: Long, k: Long, version: Int,
      withMonth: Boolean): Row = {
    val base = h(seed, k)
    val v = h(seed, k, version.toLong, 7)
    val m = monthOf(math.min(k, n - 1), n)
    val ts = dates(m)(pos(base, 28).toInt)
    val price0 = 1000.0 + k * (400000.0 / n) + pos(base >>> 8, 50000) / 100.0
    val price = math.rint((price0 + (if (version == 0) 0.0
      else pos(v, 1000) / 100.0 - 5.0)) * 100) / 100
    val cust = pos(if (version == 0) base >>> 3 else v >>> 3, nCust)
    val status = statuses(pos(v >>> 11, 3).toInt)
    val prio = priorities(pos(v >>> 17, 5).toInt)
    if (withMonth) Row(k, cust, status, price, ts, prio, monthName(m))
    else Row(k, cust, status, price, ts, prio)
  }

  def orders(spark: SparkSession, seed: Long, n: Long, nCust: Long,
      withMonth: Boolean): DataFrame = {
    val rdd = spark.sparkContext.parallelize(0L until n, 4)
      .map(k => orderRow(seed, n, nCust, k, 0, withMonth))
    spark.createDataFrame(rdd, if (withMonth) ordersMonthSchema else ordersSchema)
  }

  def local(spark: SparkSession, rows: Seq[Row], schema: StructType): DataFrame = {
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(rows.asJava, schema)
  }

  // ------------------------------------------------------- customer, nation

  val customerSchema: StructType = StructType(Seq(
    StructField("c_custkey", LongType, nullable = false),
    StructField("c_name", StringType),
    StructField("c_nationkey", IntegerType),
    StructField("c_acctbal", DoubleType)))

  val nationSchema: StructType = StructType(Seq(
    StructField("n_nationkey", IntegerType, nullable = false),
    StructField("n_name", StringType),
    StructField("n_regionkey", IntegerType)))

  def customerRow(seed: Long, c: Long): Row = {
    val x = h(seed, c, 0, 3)
    Row(c, "Customer#" + c, pos(x, 25).toInt, pos(x >>> 7, 1000000) / 100.0)
  }

  def nationRow(i: Int): Row = Row(i, s"NATION_$i", i % 5)
}
