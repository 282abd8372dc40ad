package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Result of one timed operation. */
final case class Op(id: Int, name: String, seconds: Double, failed: Boolean,
    parts: Map[String, Double] = Map.empty)

/** What a workload hands back to [[Main]]: its operations, the timed
  * part's wall and process-CPU seconds, the rows it landed, and the
  * workload-specific per-layer metrics. */
final case class Timed(ops: Seq[Op], wallS: Double, cpuS: Double,
    rowsOut: Long, layer: Map[String, Double])

/** Benchmark harness entry point, launched by `perfbench/run.py` as a plain
  * `java` process on the compiled classpath.
  *
  * Usage: perfbench.Main <workload> <seed> <trace 0|1> <workDir> <cpus> <inputDir>
  *        perfbench.Main selftest <workDir> <cpus> <inputDir> <tablesDir>
  *        perfbench.Main train <workDir> <cpus> <inputDir> <tablesDir>
  *
  * The input directory holds the generated inputs: sf0.1/ and sf0.001/
  * tables for etl_queries, timed/ and warm/ streams for
  * sync_enrich.
  *
  * Writes `<workDir>/result.json` (metrics, operations, failed operations) and, with
  * tracing on, `<workDir>/spans.jsonl`. */
object Main {

  def session(cpus: Int): SparkSession = {
    val s = graft.GraftSession.builder("perfbench", cpus.toString)
      .master(s"local[$cpus]")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private val osBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def cpuSeconds(): Double = osBean.getProcessCpuTime / 1e9

  def heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile (numpy's default). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) return 0.0
    val pos = q * (s.size - 1)
    val lo = pos.toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  /** The highest whole percentile with at least ten operations beyond it
    * (p90 of 100 operations, p66 of 30); below twenty operations no tail
    * is resolvable and the median is reported. */
  def tailQuantile(n: Int): Double =
    math.max(0.5, math.floor(100.0 * (n - 10) / n + 1e-9) / 100.0)

  /** A JSON string literal. */
  def str(v: String): String = "\"" + v.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def json(m: Map[String, Any]): String = m.toSeq.sortBy(_._1).map {
    case (k, v: String) => s"${str(k)}: ${str(v)}"
    case (k, v: Double) => s"${str(k)}: ${if (v.isNaN || v.isInfinite) "null" else v.toString}"
    case (k, v) => s"${str(k)}: $v"
  }.mkString("{", ", ", "}")

  def main(args: Array[String]): Unit = {
    if (args.headOption.contains("train")) {
      // One warm-up of every workload: the run whose loaded classes the
      // class-data-sharing archive records.
      val Array(_, workDir, cpusS, inputDir, tablesDir) = args
      val spark = session(cpusS.toInt)
      new SyncWorkload(inputDir, workDir).warm(spark)
      new QueryWorkload(0L, tablesDir, workDir).warm(spark)
      spark.stop()
      return
    }
    if (args.headOption.contains("selftest")) {
      val ok = SelfTest.run(args(1), args(2).toInt, args(3), args(4))
      sys.exit(if (ok) 0 else 1)
    }
    val Array(workload, seedS, traceS, workDir, cpusS, dataDir) = args
    val seed = seedS.toLong
    val cpus = cpusS.toInt
    val tracer = new Tracer(traceS == "1")
    Files.createDirectories(Paths.get(workDir))

    val w: Workload = workload match {
      case "sync_enrich" => new SyncWorkload(dataDir, workDir)
      case "etl_queries" => new QueryWorkload(seed, dataDir, workDir)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    // Set-up: session start and warm-up (the inputs are generated before
    // the harness starts).
    val t0 = System.nanoTime()
    val spark = session(cpus)
    val t1 = System.nanoTime()
    w.warm(spark)
    val startS = (t1 - t0) / 1e9
    val warmS = (System.nanoTime() - t1) / 1e9
    val start = System.nanoTime()
    def phase(name: String): Unit =
      System.err.println(f"[perfbench] $name done at ${(System.nanoTime() - start) / 1e9}%.1f s")
    phase(f"set-up (session $startS%.1f s, warm-up $warmS%.1f s)")
    tracer.attach(spark)
    heapPools.foreach(_.resetPeakUsage())
    val timed = w.timed(spark, tracer)
    val heapPeakMb = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0
    phase("timed part")
    val checkFailed = w.check(spark)
    phase("check")
    val ops = timed.ops.map(o => if (checkFailed.contains(o.id)) o.copy(failed = true) else o)
    val rowsOut = if (timed.rowsOut > 0) timed.rowsOut else w.rowsOut

    val opS = ops.map(_.seconds)
    val e2e = Map[String, Any](
      "setup_s" -> (startS + warmS),
      "wall_s" -> timed.wallS,
      "op_p50_s" -> median(opS),
      "op_tail_s" -> quantile(opS, tailQuantile(opS.size)),
      "rows_per_s" -> rowsOut / timed.wallS,
      "cpu_s" -> timed.cpuS)

    var layer = Map[String, Any]()
    if (tracer.on) {
      tracer.awaitDrained()
      val m = Layers.metrics(tracer, ops, timed, rowsOut, w.expressionOps, heapPeakMb) ++ Map(
        "session.start_s" -> startS,
        "session.warm_s" -> warmS)
      layer = Layers.Names.map(n => n -> m.getOrElse(n, 0.0)).toMap
      val out = new StringBuilder
      tracer.allSpans.sortBy(_.start).foreach { s =>
        out ++= json(Map("id" -> s.id, "name" -> s.name, "start_ns" -> s.start,
          "end_ns" -> s.end, "parent" -> s.parent, "op" -> s.op, "detail" -> s.detail)) + "\n"
      }
      Files.writeString(Paths.get(workDir, "spans.jsonl"), out.toString)
    }
    val run = Map[String, Any](
      "failed_ops" -> ops.filter(_.failed).map(_.name).mkString(","),
      "op_names" -> ops.map(_.name).mkString(","))
    Files.writeString(Paths.get(workDir, "result.json"),
      s"""{"e2e": ${json(e2e)}, "layer": ${json(layer)}, "run": ${json(run)}, """ +
        s""""op_seconds": ${opS.mkString("[", ", ", "]")}}""")
    spark.stop()
    phase("stop")
  }
}

/** One benchmark workload. */
trait Workload {
  /** Untimed warm-up after the session starts. */
  def warm(spark: SparkSession): Unit
  /** The timed part: a closed loop of operations from one client. */
  def timed(spark: SparkSession, tracer: Tracer): Timed
  /** The untimed output check; returns the ids of operations it failed. */
  def check(spark: SparkSession): Set[Int]
  /** Rows the operations landed, when only the check can count them. */
  def rowsOut: Long = 0L
  /** Operations whose task CPU per row is `expressions.cpu_ns_per_row`. */
  def expressionOps: Set[String] = Set.empty
}
