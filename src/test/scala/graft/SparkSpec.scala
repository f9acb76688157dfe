package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local SparkSession for engine specs. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session

  /** Filesystem path of a test resource. */
  def resourcePath(name: String): String =
    getClass.getResource(name).getPath

  /** The number of Spark jobs submitted while `f` runs. */
  def jobsDuring(f: => Unit): Int = {
    val sc = spark.sparkContext
    org.apache.spark.sql.graft.Bridge.drainListeners(sc)
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    sc.addSparkListener(l)
    try {
      f
      org.apache.spark.sql.graft.Bridge.drainListeners(sc)
      jobs.get
    } finally sc.removeSparkListener(l)
  }
}

object SparkSpec {
  lazy val session: SparkSession = SparkSession.builder()
    .withExtensions(new graft.functions.GraftExtensions)
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.warehouse.dir",
      java.nio.file.Files.createTempDirectory("graft_wh").toString)
    .getOrCreate()
}
