package graft

import java.nio.file.Files
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local SparkSession + temp-table helpers for all suites. */
trait SparkFixture extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkFixture.session

  def sfDir: String = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")

  def withTempPath(f: String => Unit): Unit = {
    val dir = Files.createTempDirectory("graft-test-").toFile
    try f(dir.getAbsolutePath)
    finally {
      def rec(x: java.io.File): Unit = {
        if (x.isDirectory) Option(x.listFiles()).foreach(_.foreach(rec))
        x.delete()
      }
      rec(dir)
    }
  }

  /** Spark jobs and tasks started while `body` ran. The listener bus is
    * drained before counting (LiveListenerBus.waitUntilEmpty is
    * private[spark], public in bytecode, so it is invoked reflectively). */
  def jobsAndTasksDuring(body: => Unit): (Int, Int) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
      SparkListenerTaskStart}
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val tasks = new java.util.concurrent.atomic.AtomicInteger(0)
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
      override def onTaskStart(e: SparkListenerTaskStart): Unit = tasks.incrementAndGet()
    }
    val sc = spark.sparkContext
    sc.addSparkListener(l)
    try {
      body
      val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
      bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
    } finally sc.removeSparkListener(l)
    (jobs.get, tasks.get)
  }

  /** Order-insensitive row comparison. */
  def assertSameRows(actual: DataFrame, expected: DataFrame): Unit = {
    val a = actual.collect().map(_.toString).sorted
    val e = expected.collect().map(_.toString).sorted
    assert(a.toSeq == e.toSeq,
      s"\nactual:\n${a.mkString("\n")}\nexpected:\n${e.mkString("\n")}")
  }

  def assertRows(actual: DataFrame, expected: Seq[Any]): Unit = {
    val a = actual.collect().map(_.toString).sorted.toSeq
    val e = expected.map(_.toString).sorted
    assert(a == e, s"\nactual:\n${a.mkString("\n")}\nexpected:\n${e.mkString("\n")}")
  }
}

object SparkFixture {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      // local[threads, maxFailures]: task retries ON so retry/speculation
      // interactions (e.g. StatsCommitProtocol under a failed first
      // attempt) are testable; tests that expect failing jobs still fail,
      // they just pay one extra attempt
      .master("local[4, 2]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.sql.GraftSparkExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
