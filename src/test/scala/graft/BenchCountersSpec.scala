package graft

import graft.Bench.Counters
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions.broadcast

/** Bench's counter listener: each key gets exactly the jobs, stages,
  * tasks and task seconds its body submitted, read after one sentinel
  * job drains the listener bus — no sleeps. */
class BenchCountersSpec extends SparkSpec {

  private def sc = spark.sparkContext
  private def counters = TestSession.counters
  private def fresh(tag: String) = s"$tag:" + java.util.UUID.randomUUID()

  test("back-to-back keyed bodies each get exactly their own jobs and stages") {
    val (a, b) = (fresh("a"), fresh("b"))
    // one job, one 4-task stage
    Counters.keyed(sc, a)(sc.parallelize(1 to 100, 4).count())
    // two jobs: a 4-task map stage + 2-task result stage, then 2 tasks
    Counters.keyed(sc, b) {
      sc.parallelize(1 to 100, 4).map(x => (x % 3, x))
        .reduceByKey(_ + _, 2).collect()
      sc.parallelize(1 to 10, 2).count()
    }
    val Seq(ra, rb) = counters.take(sc, Seq(a, b))
    assert((ra.jobs, ra.stages, ra.tasks) == ((1, 1, 4L)))
    assert((rb.jobs, rb.stages, rb.tasks) == ((2, 3, 8L)))
    assert(ra.stageRecords.map(_.id).intersect(rb.stageRecords.map(_.id)).isEmpty)
    assert(rb.stageRecords.map(_.tasks).sorted == Seq(2, 2, 4))
  }

  test("jobs submitted from the broadcast thread carry the caller's key") {
    val all = new AtomicInteger(0)
    val plain = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val k = Option(e.properties).map(_.getProperty(Counters.KeyProperty))
        if (!k.exists(v => v != null && v.startsWith(Counters.Sentinel)))
          all.incrementAndGet()
        ()
      }
    }
    sc.addSparkListener(plain)
    try {
      counters.drain(sc)
      all.set(0)
      val key = fresh("bcast")
      Counters.keyed(sc, key) {
        spark.range(0, 1000).toDF("k")
          .join(broadcast(spark.range(0, 10).toDF("k")), "k")
          .write.format("noop").mode("overwrite").save()
      }
      val r = counters.take(sc, Seq(key)).head
      assert(r.jobs >= 2, "the broadcast build is a job of its own")
      assert(r.jobs == all.get, s"keyed ${r.jobs} vs every job ${all.get}")
    } finally sc.removeSparkListener(plain)
  }

  test("stage run and CPU seconds land on the key that submitted the stage") {
    val (busy, idle) = (fresh("busy"), fresh("idle"))
    Counters.keyed(sc, busy) {
      sc.parallelize(1 to 4, 4).foreach { _ =>
        val end = System.nanoTime() + 200000000L
        var x = 0L
        while (System.nanoTime() < end) x += 1
      }
    }
    Counters.keyed(sc, idle)(sc.parallelize(1 to 4, 4).count())
    val Seq(rb, ri) = counters.take(sc, Seq(busy, idle))
    assert(rb.runSec >= 0.6, s"busy run ${rb.runSec}")
    assert(rb.cpuSec >= 0.2, s"busy cpu ${rb.cpuSec}")
    assert(ri.runSec < rb.runSec / 4, s"idle run ${ri.runSec}")
    assert(math.abs(rb.stageRecords.map(_.runSec).sum - rb.runSec) < 1e-9)
  }

  test("the key is cleared after the body, also when it throws") {
    val (k1, k2) = (fresh("k1"), fresh("k2"))
    Counters.keyed(sc, k1)(sc.parallelize(1 to 2, 1).count())
    assert(sc.getLocalProperty(Counters.KeyProperty) == null)
    intercept[IllegalStateException] {
      Counters.keyed(sc, k2)(throw new IllegalStateException("boom"))
    }
    assert(sc.getLocalProperty(Counters.KeyProperty) == null)
    sc.parallelize(1 to 2, 1).count() // unkeyed: credited to nobody
    val Seq(r1, r2) = counters.take(sc, Seq(k1, k2))
    assert(r1.jobs == 1 && r2 == Bench.Record())
    // a taken record is gone
    assert(counters.take(sc, Seq(k1)).head == Bench.Record())
  }

  test("countJobs counts through the same counter") {
    assert(countJobs(sc.parallelize(1 to 10, 2).count()) == 1)
    assert(countJobs(()) == 0)
  }
}
