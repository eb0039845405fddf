package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session for the whole suite (sbt forks one test
  * JVM; building a session per suite would dominate runtime). */
object TestSession {
  lazy val spark: SparkSession = GraftSession.local(4)
}

trait SparkSpec extends AnyFunSuite {
  def spark: SparkSession = TestSession.spark
  def sf(name: String) = s"/root/testdata/$name"

  /** Spark jobs `body` starts, counted by a listener on a job group
    * set for the calling thread (threads Spark spawns for the same
    * query inherit it). */
  def jobsOf(body: => Unit): Int = {
    val sc = spark.sparkContext
    val tag = s"jobs-of-${java.util.UUID.randomUUID()}"
    val n = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (Option(j.properties)
            .exists(_.getProperty("spark.jobGroup.id") == tag))
          n.incrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(tag, tag)
    try body
    finally {
      sc.clearJobGroup()
      Thread.sleep(1000) // the listener bus delivers asynchronously
      sc.removeSparkListener(listener)
    }
    n.get()
  }
}
