package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graft.Bridge
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local SparkSession for specs (one JVM-wide session; tests fork
  * in a single forked JVM per sbt `Test / fork`).
  */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** Spark jobs started while `body` runs, counted off a drained bus. */
  def jobsOf(body: => Unit): Int = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val l = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
    }
    Bridge.waitListenerBusEmpty(spark.sparkContext, 60000L)
    spark.sparkContext.addSparkListener(l)
    try { body; Bridge.waitListenerBusEmpty(spark.sparkContext, 60000L) }
    finally spark.sparkContext.removeSparkListener(l)
    jobs.get()
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = Tables.configure(
      SparkSession.builder()
        .master("local[4]")
        .config("spark.sql.shuffle.partitions", "4")
    ).getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
