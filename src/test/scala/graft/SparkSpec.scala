package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM-wide session; suites run
  * sequentially under sbt's forked test JVM). */
object TestSession {
  lazy val spark: SparkSession = GraftSession.local("graft-test", 4)
}

trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSession.spark
  val sfDir = "/root/testdata/sf0.001"

  /** Spark jobs started while `body` runs. */
  def countJobs(body: => Unit): Int = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val l = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(l)
    try {
      body
      // the listener bus is async: wait until the count stops moving
      var last = -1
      var stable = 0
      val deadline = System.nanoTime() + 5000000000L
      while (stable < 3 && System.nanoTime() < deadline) {
        val c = jobs.get()
        if (c == last) stable += 1 else { stable = 0; last = c }
        Thread.sleep(100)
      }
    } finally spark.sparkContext.removeSparkListener(l)
    jobs.get()
  }
}
