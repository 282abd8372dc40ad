package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM-wide session; suites run
  * sequentially under sbt's forked test JVM). */
object TestSession {
  /** Bench's job counter, installed on the shared session. */
  val counters = new Bench.Counters

  lazy val spark: SparkSession = {
    val s = GraftSession.local("graft-test", 4)
    s.sparkContext.addSparkListener(counters)
    s
  }
}

trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSession.spark
  val sfDir = "/root/testdata/sf0.001"

  /** Spark jobs started while `body` runs. */
  def countJobs(body: => Unit): Int = {
    val key = "spec:" + java.util.UUID.randomUUID()
    Bench.Counters.keyed(spark.sparkContext, key)(body)
    TestSession.counters.take(spark.sparkContext, Seq(key)).head.jobs
  }
}
