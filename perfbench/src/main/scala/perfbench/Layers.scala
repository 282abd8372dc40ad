package perfbench

import scala.jdk.CollectionConverters._

/** Per-layer metrics of a traced run, named after the program's modules.
  * Every workload reports every name; a layer the workload does not reach
  * reads 0. */
object Layers {

  val Names: Seq[String] = Seq(
    "session.start_s", "session.warm_s",
    "sources.rows_read", "sources.bytes_read", "sources.rows_read_per_row_out",
    "plans.analysis_s", "plans.optimization_s", "plans.planning_s",
    "operators.build_s", "operators.action_s", "operators.jobs", "operators.stages",
    "operators.tasks", "operators.driver_idle_s",
    "expressions.cpu_ns_per_row",
    "pipelines.write_s", "pipelines.shuffle_bytes_per_row",
    "streaming.run_s", "streaming.head_s", "streaming.recount_s",
    "streaming.recount_growth", "streaming.jobs_per_batch",
    "io.sink_files", "io.sink_bytes_per_row",
    "checks.parity_s", "checks.rows_scanned",
    "exec.task_run_s", "exec.task_cpu_s", "exec.blocked_s", "exec.gc_s",
    "shuffle.read_bytes", "shuffle.write_bytes", "shuffle.spill_bytes",
    "shuffle.fetch_wait_s", "jvm.heap_peak_mb",
    "self.op_s", "self.operators.build_s", "self.operators.action_s",
    "self.streaming.run_s", "self.checks.parity_s",
    "trace.wall_s", "trace.overhead_s")

  /** Which part of `MicroBatchRunner.run` a SQL execution is, from its
    * call site ("head at MicroBatchRunner.scala:38" and so on). */
  def runnerPart(desc: String): String =
    if (!desc.contains("MicroBatchRunner")) ""
    else if (desc.startsWith("head")) "head"
    else if (desc.startsWith("count")) "recount"
    else if (desc.startsWith("parquet") || desc.startsWith("save")) "write"
    else ""

  def metrics(t: Tracer, ops: Seq[Op], timed: Timed, rowsOut: Long,
      expressionOps: Set[String], heapPeakMb: Double): Map[String, Double] = {
    val spans = t.allSpans
    val all = t.all
    def part(k: String) = ops.map(_.parts.getOrElse(k, 0.0)).sum
    def layer(k: String) = Option(t.totalsByLayer.get(k)).getOrElse(new StageTotals)
    def phase(k: String) = Option(t.phaseMs.get(k)).map(_.longValue / 1e3).getOrElse(0.0)

    val opSpans = spans.filter(s => s.parent == 0 && s.name.startsWith("op:"))
    val stageIv = t.stageIntervals.asScala.toSeq.groupBy(_._1)
    val idle = opSpans.map { s =>
      val iv = stageIv.getOrElse(s.op, Nil).map { case (_, a, b) =>
        (math.max(a * 1000000L, s.start), math.min(b * 1000000L, s.end)) }
        .filter(x => x._2 > x._1)
      (s.end - s.start - Intervals.covered(iv)) / 1e9
    }.sum

    val exprTotals = ops.filter(o => expressionOps.contains(o.name))
      .flatMap(o => Option(t.totalsByOp.get(o.id)))
    val exprRows = exprTotals.map(_.rowsRead).sum
    val exprCpu = exprTotals.map(_.cpuNs).sum

    val sql = spans.filter(_.name == "sql").sortBy(_.start)
    def sqlSeconds(p: String) = sql.filter(s => runnerPart(s.detail) == p).map(s => (s.end - s.start) / 1e9)
    val recounts = sqlSeconds("recount")
    val tenth = math.max(1, recounts.size / 10)
    val growth =
      if (recounts.size < 2) 0.0
      else recounts.takeRight(tenth).sum / math.max(recounts.take(tenth).sum, 1e-9)
    val runJobs = spans.count(s => s.name == "job" && s.detail == "streaming.run")
    val batches = ops.count(_.parts.contains("run"))
    val streamTotals = layer("streaming.run")

    Map(
      "sources.rows_read" -> all.rowsRead.toDouble,
      "sources.bytes_read" -> all.bytesRead.toDouble,
      "sources.rows_read_per_row_out" -> all.rowsRead.toDouble / math.max(rowsOut, 1L),
      "plans.analysis_s" -> phase("analysis"),
      "plans.optimization_s" -> phase("optimization"),
      "plans.planning_s" -> phase("planning"),
      "operators.build_s" -> part("build"),
      "operators.action_s" -> part("action"),
      "operators.jobs" -> t.jobs.toDouble,
      "operators.stages" -> all.stages.toDouble,
      "operators.tasks" -> all.tasks.toDouble,
      "operators.driver_idle_s" -> idle,
      "expressions.cpu_ns_per_row" -> (if (exprRows > 0) exprCpu.toDouble / exprRows else 0.0),
      "pipelines.write_s" -> sqlSeconds("write").sum,
      "pipelines.shuffle_bytes_per_row" ->
        (if (batches > 0) streamTotals.shuffleWrite.toDouble / math.max(rowsOut, 1L) else 0.0),
      "streaming.run_s" -> part("run"),
      "streaming.head_s" -> sqlSeconds("head").sum,
      "streaming.recount_s" -> recounts.sum,
      "streaming.recount_growth" -> growth,
      "streaming.jobs_per_batch" -> (if (batches > 0) runJobs.toDouble / batches else 0.0),
      "checks.parity_s" -> part("parity"),
      "checks.rows_scanned" -> layer("checks.parity").rowsRead.toDouble,
      "exec.task_run_s" -> all.runMs / 1e3,
      "exec.task_cpu_s" -> all.cpuNs / 1e9,
      "exec.blocked_s" -> (all.runMs / 1e3 - all.cpuNs / 1e9),
      "exec.gc_s" -> all.gcMs / 1e3,
      "shuffle.read_bytes" -> all.shuffleRead.toDouble,
      "shuffle.write_bytes" -> all.shuffleWrite.toDouble,
      "shuffle.spill_bytes" -> all.spill.toDouble,
      "shuffle.fetch_wait_s" -> all.fetchWaitMs / 1e3,
      "jvm.heap_peak_mb" -> heapPeakMb,
      "trace.wall_s" -> timed.wallS,
      "trace.overhead_s" -> t.listenerNs.get / 1e9
    ) ++ timed.layer ++ t.selfTimes(spans).map { case (k, v) => s"self.${k}_s" -> v }
  }
}
