package graft

import org.apache.spark.metrics.source.CodegenMetrics
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

  /** Runs `body` with the session conf `key` set to `value`, then
    * restores the previous setting. */
  def withConf[A](key: String, value: String)(body: => A): A = {
    val saved = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try body
    finally saved match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
  }

  /** Janino compiles while `body` runs (a JVM-wide count; suites run
    * one at a time). */
  def countCompiles(body: => Unit): Long = {
    val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    body
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0
  }
}
