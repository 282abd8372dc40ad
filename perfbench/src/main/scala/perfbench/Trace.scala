package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd,
  SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval. Times are epoch nanoseconds; `parent` is the id of
  * the span that caused this one (0 for an operation), `op` the operation
  * the span belongs to (-1 outside any operation). */
final case class Span(id: Long, name: String, start: Long, end: Long,
    parent: Long, op: Int, detail: String = "")

/** Counters summed over the stages of one layer or of the whole run. */
final class StageTotals {
  var stages, tasks = 0L
  var runMs, cpuNs, gcMs, fetchWaitMs = 0L
  var rowsRead, bytesRead, shuffleRead, shuffleWrite, spill = 0L

  def add(s: StageInfo): Unit = {
    stages += 1
    tasks += s.numTasks
    val m = s.taskMetrics
    if (m != null) {
      runMs += m.executorRunTime
      cpuNs += m.executorCpuTime
      gcMs += m.jvmGCTime
      rowsRead += m.inputMetrics.recordsRead
      bytesRead += m.inputMetrics.bytesRead
      shuffleRead += m.shuffleReadMetrics.remoteBytesRead +
        m.shuffleReadMetrics.localBytesRead
      fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      spill += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }
}

/** The benchmark's tracer. Spans around the benchmark's own calls into the
  * program are recorded in memory; with tracing on, Spark's public
  * `SparkListener` and `QueryExecutionListener` add job spans, SQL
  * execution spans and per-stage counters (aggregated in
  * `onStageCompleted`, no per-task work). With tracing off nothing is
  * registered and `span` only runs its body. */
final class Tracer(val on: Boolean) {
  private val clockOffset = System.currentTimeMillis() * 1000000L - System.nanoTime()
  def now(): Long = System.nanoTime() + clockOffset

  val OpProp = "perfbench.op"
  val LayerProp = "perfbench.layer"

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var nextId = 1L
  private val stack = mutable.Stack.empty[Long]
  private var currentOp = -1
  private var spark: SparkSession = _

  // listener-side state (listener bus thread)
  private val jobOp = new ConcurrentHashMap[Int, Int]()
  private val jobLayer = new ConcurrentHashMap[Int, String]()
  private val jobStart = new ConcurrentHashMap[Int, java.lang.Long]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val execStart = new ConcurrentHashMap[Long, (Long, String)]()
  private val listenerSpans = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
  /** (op, [start, end] ms) of every completed stage, for driver-idle time. */
  val stageIntervals = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Long, Long)]()
  val totalsByLayer = new ConcurrentHashMap[String, StageTotals]()
  val totalsByOp = new ConcurrentHashMap[Int, StageTotals]()
  val all = new StageTotals
  var jobs = 0L
  /** Summed Catalyst phase seconds (analysis, optimization, planning). */
  val phaseMs = new ConcurrentHashMap[String, java.lang.Long]()
  /** Time spent inside the listener callbacks: the tracing's own cost. */
  val listenerNs = new java.util.concurrent.atomic.AtomicLong()

  /** The timed part, in epoch milliseconds: listener events stamped outside
    * it (late warm-up events, the untimed check) are not counted. */
  @volatile private var openMs = Long.MaxValue
  @volatile private var closeMs = Long.MaxValue
  /** Set once the listener sees an event stamped after the timed part:
    * every event of the timed part has then been delivered. */
  @volatile private var drained = false

  /** Runs a listener callback for an event stamped `ms` if the event lies
    * in the timed part, adding its time to `listenerNs`. */
  private def timed(ms: Long)(body: => Unit): Unit = {
    if (ms > closeMs) drained = true
    if (ms >= openMs && ms <= closeMs) {
      val t0 = System.nanoTime()
      try body finally listenerNs.addAndGet(System.nanoTime() - t0)
    }
  }

  /** Runs the timed part: returns its result, its wall seconds and the
    * process CPU seconds it took. The listener counts only events stamped
    * within it. */
  def timedPart[T](body: => T): (T, Double, Double) = {
    openMs = System.currentTimeMillis()
    val cpu0 = Main.cpuSeconds()
    val t0 = System.nanoTime()
    val r = body
    val wall = (System.nanoTime() - t0) / 1e9
    val cpu = Main.cpuSeconds() - cpu0
    closeMs = System.currentTimeMillis()
    (r, wall, cpu)
  }

  /** Waits (at most 10 s) until the listener has delivered every event of
    * the timed part, which it has once it sees a later one: the listener
    * and the query-execution listener share Spark's listener queue. */
  def awaitDrained(): Unit = {
    val deadline = System.nanoTime() + 10000000000L
    while (on && !drained && System.nanoTime() < deadline) Thread.sleep(10)
  }

  def attach(s: SparkSession): Unit = {
    spark = s
    if (!on) return
    s.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = timed(e.time) {
        val props = Option(e.properties)
        val op = props.flatMap(p => Option(p.getProperty(OpProp))).map(_.toInt).getOrElse(-1)
        val layer = props.flatMap(p => Option(p.getProperty(LayerProp))).getOrElse("")
        jobOp.put(e.jobId, op)
        jobLayer.put(e.jobId, layer)
        jobStart.put(e.jobId, e.time)
        e.stageIds.foreach(id => stageJob.put(id, e.jobId))
        if (op >= 0) all.synchronized(jobs += 1)
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = timed(e.time) {
        val op = jobOp.getOrDefault(e.jobId, -1)
        val t0 = Option(jobStart.remove(e.jobId)).map(_.longValue).getOrElse(e.time)
        if (op >= 0)
          listenerSpans.add(Span(0, "job", t0 * 1000000L, e.time * 1000000L, 0, op,
            jobLayer.getOrDefault(e.jobId, "")))
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        timed(e.stageInfo.completionTime.getOrElse(System.currentTimeMillis())) {
        val info = e.stageInfo
        val job = stageJob.getOrDefault(info.stageId, -1)
        val op = jobOp.getOrDefault(job, -1)
        if (op >= 0) {
          val layer = jobLayer.getOrDefault(job, "")
          all.synchronized {
            all.add(info)
            totalsByLayer.computeIfAbsent(layer, _ => new StageTotals).add(info)
            totalsByOp.computeIfAbsent(op, _ => new StageTotals).add(info)
          }
          for (s <- info.submissionTime; c <- info.completionTime)
            stageIntervals.add((op, s, c))
        }
      }
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart if s.rootExecutionId.forall(_ == s.executionId) =>
          timed(s.time)(execStart.put(s.executionId, (s.time, s.description)))
        case x: SparkListenerSQLExecutionEnd => timed(x.time) {
          Option(execStart.remove(x.executionId)).foreach { case (t0, desc) =>
            listenerSpans.add(Span(0, "sql", t0 * 1000000L, x.time * 1000000L, 0, -1, desc))
          }
        }
        case _ =>
      }
    })
    s.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        qe.tracker.phases.foreach { case (phase, p) =>
          timed(p.startTimeMs)(phaseMs.merge(phase, p.durationMs, (a, b) => a + b))
        }
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    })
  }

  /** Adds the Catalyst phases of a DataFrame the benchmark built: its
    * action runs under a new `QueryExecution`, so the analysis done when
    * the DataFrame was made reaches no listener. */
  def addPhases(qe: QueryExecution): Unit =
    if (on) qe.tracker.phases.foreach { case (phase, p) =>
      phaseMs.merge(phase, p.durationMs, (a, b) => a + b)
    }

  /** Run `body` as operation `op`: jobs it submits are tagged with the
    * operation id, and an `op` span is recorded. Returns (result, seconds). */
  def op[T](id: Int, name: String)(body: => T): (T, Double) = {
    currentOp = id
    spark.sparkContext.setLocalProperty(OpProp, id.toString)
    try span(s"op:$name")(body)
    finally {
      spark.sparkContext.setLocalProperty(OpProp, null)
      currentOp = -1
    }
  }

  /** Run `body` inside a span named after the layer call it wraps. */
  def span[T](name: String)(body: => T): (T, Double) = {
    val id = nextId
    nextId += 1
    val parent = stack.headOption.getOrElse(0L)
    val isLayer = stack.nonEmpty
    if (isLayer) spark.sparkContext.setLocalProperty(LayerProp, name)
    stack.push(id)
    val t0 = now()
    try {
      val r = body
      (r, (now() - t0) / 1e9)
    } finally {
      val t1 = now()
      stack.pop()
      if (isLayer) spark.sparkContext.setLocalProperty(LayerProp, null)
      if (on) spans += Span(id, name, t0, t1, parent, currentOp)
    }
  }

  /** Every span: the benchmark's own plus the listener's job and SQL
    * execution spans, each job/execution parented to the innermost
    * benchmark span that contains it. */
  def allSpans: Seq[Span] = {
    val own = spans.toVector
    var id = nextId
    val extra = listenerSpans.asScala.toVector.map { s =>
      // listener times are whole milliseconds: allow one of slack
      val within = own.filter(p => p.start <= s.start + 1000000L &&
        s.end <= p.end + 1000000L)
      val p = if (within.isEmpty) None else Some(within.minBy(x => x.end - x.start))
      id += 1
      s.copy(id = id, parent = p.map(_.id).getOrElse(0L),
        op = if (s.op >= 0) s.op else p.map(_.op).getOrElse(-1))
    }
    own ++ extra
  }

  /** Self time per span name: duration minus the union of its children. */
  def selfTimes(all: Seq[Span]): Map[String, Double] = {
    val children = all.groupBy(_.parent)
    all.groupBy(_.name.takeWhile(_ != ':')).map { case (name, ss) =>
      name -> ss.map { s =>
        val kids = children.getOrElse(s.id, Nil).map(k =>
          (math.max(k.start, s.start), math.min(k.end, s.end))).filter(k => k._2 > k._1)
        (s.end - s.start - Intervals.covered(kids)) / 1e9
      }.sum
    }
  }
}

object Intervals {
  /** Total length covered by a set of [start, end) intervals. */
  def covered(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }
}
