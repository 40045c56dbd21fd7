package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.graft.ListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for suites (one per suite via lazy val). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.warehouse.dir",
      java.nio.file.Files.createTempDirectory("graft_wh").toString)
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  def fixture(name: String): String =
    getClass.getResource(s"/fixtures/$name").getPath

  /** The generated sf0.01 tables (TESTDATA.md). */
  val sf01: String = "/root/testdata/sf0.01"
  /** The sf0.001 tables, beside [[sf01]]. */
  val sf001: String = s"${new java.io.File(sf01).getParent}/sf0.001"

  /** Runs `body` with `listener` on the bus, every event of it delivered. */
  def listening(listener: SparkListener)(body: => Any): Unit = {
    val sc = spark.sparkContext
    ListenerBus.drain(sc)
    sc.addSparkListener(listener)
    try {
      body
      ListenerBus.drain(sc)
    } finally sc.removeSparkListener(listener)
  }

  /** The job-start events of `body`, in start order. */
  def jobsDuring(body: => Any): Seq[SparkListenerJobStart] = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[
      SparkListenerJobStart]
    listening(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = seen.add(e)
    })(body)
    seen.asScala.toSeq
  }
}
