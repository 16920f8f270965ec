package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession fixture for all specs. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSpec.session

  val sfDir = "/root/testdata/sf0.001"

  /** Formatted physical plan text for scale-shape assertions. */
  def planOf(df: org.apache.spark.sql.DataFrame): String = {
    val out = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(out)) { df.explain("formatted") }
    out.toString
  }

  /** Spark jobs started per streaming micro-batch while `body` runs,
    * keyed by the batch id a stream sets as a local property on every
    * job its batch starts (a job that escapes the stream's local
    * properties is not counted). */
  def jobsPerBatch(body: => Unit): Map[Long, Int] = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        Option(js.properties).flatMap(p => Option(p.getProperty("streaming.sql.batchId")))
          .foreach(b => seen.add(b.toLong))
    }
    org.apache.spark.graft.ListenerBridge.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(l)
    try {
      body
      org.apache.spark.graft.ListenerBridge.drain(spark.sparkContext)
      import scala.jdk.CollectionConverters._
      seen.asScala.toSeq.groupBy(identity).map { case (b, js) => b -> js.size }
    } finally spark.sparkContext.removeSparkListener(l)
  }
}

object SparkSpec {
  // one session for the whole forked test JVM — Spark startup is ~5s
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft_warehouse_").toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
