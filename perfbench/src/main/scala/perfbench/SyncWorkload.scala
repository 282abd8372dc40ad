package perfbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import graft.checks.Validations
import graft.pipelines.Pipelines
import graft.streaming.{MicroBatchRunner, SyncState}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Shape of a generated transfer stream (`spec.json`, written by
  * `perfbench/syncgen.py` beside the inputs). Blocks run 0 until `blocks`;
  * holding back `lag` blocks, the backlog is exactly `batches` ranges of
  * `blocksPerBatch` blocks. */
final case class SyncSpec(batches: Int, blocksPerBatch: Int, lag: Int, tokens: Int,
    unsupportedFrac: Double, unpricedFrac: Double, hotShare: Double) {
  val blocks: Int = batches * blocksPerBatch + lag
  val head: Long = blocks - 1L
  /** The watermark a drained backlog ends at: head minus lag. */
  val target: Long = head - lag
}

object SyncSpec {
  def read(inDir: String): SyncSpec = {
    val text = Files.readString(Paths.get(inDir, "spec.json"))
    def num(k: String): Double =
      ("\"" + k + "\":\\s*([0-9.eE+-]+)").r.findFirstMatchIn(text)
        .getOrElse(throw new IllegalArgumentException(s"spec.json lacks $k")).group(1).toDouble
    SyncSpec(num("batches").toInt, num("blocks_per_batch").toInt, num("lag").toInt,
      num("tokens").toInt, num("unsupported_frac"), num("unpriced_frac"), num("hot_share"))
  }
}

/** One sync: the paper's core loop over a generated stream. Each operation
  * is one Airflow-style run, `MicroBatchRunner.run(maxBatches = 1)` with
  * `Pipelines.enrichmentPipeline` and a parquet append sink, followed by
  * `Validations.countParity` over the batch's block range against the
  * source rows whose token is supported. */
final class SyncRun(spark: SparkSession, inDir: String, runDir: String) {
  val spec: SyncSpec = SyncSpec.read(inDir)
  val source: DataFrame = spark.read.parquet(s"$inDir/transfers")
  val meta: DataFrame = spark.read.parquet(s"$inDir/metadata")
  val prices: DataFrame = spark.read.parquet(s"$inDir/prices")
  val supported: DataFrame =
    source.join(meta.select("token_address"), Seq("token_address"), "left_semi")
  val sinkPath = s"$runDir/sink"
  val state = new SyncState(s"$runDir/state")
  val key: String = state.key("ethereum", "sink")
  var opRanges = Map.empty[Int, (Long, Long)]

  def pipeline(df: DataFrame): DataFrame =
    Pipelines.enrichmentPipeline(df, meta, prices, Seq("transfer_seq" -> true),
      tronFeeRule = false)

  def watermark: Long = state.get(key).map(_.lastSyncedBlock).getOrElse(-1L)

  /** Runs operations until the backlog is drained. */
  def drain(tracer: Tracer): Seq[Op] = {
    val ops = Vector.newBuilder[Op]
    var i = 0
    var stuck = false
    while (watermark < spec.target && !stuck) {
      val before = watermark
      var failed = false
      var parts = Map.empty[String, Double]
      val (_, sec) = tracer.op(i, s"batch$i") {
        try {
          val (r, runS) = tracer.span("streaming.run") {
            MicroBatchRunner.run(spark, source, "block_number", state, key,
              spec.lag, spec.blocksPerBatch, pipeline, sinkPath, maxBatches = 1)
          }
          r.ranges.headOption.foreach(rg => opRanges += i -> rg)
          val (lo, hi) = r.ranges.headOption.getOrElse((before, before))
          val (chk, parityS) = tracer.span("checks.parity") {
            Validations.countParity(spark.read.parquet(sinkPath), supported,
              col("block_number") > lo && col("block_number") <= hi)
          }
          failed = r.batchesRun != 1 || !chk.passed
          parts = Map("run" -> runS, "parity" -> parityS)
        } catch {
          case e: Throwable =>
            failed = true
            System.err.println(s"[perfbench] batch $i failed: $e")
        }
      }
      ops += Op(i, s"batch$i", sec, failed, parts)
      stuck = watermark <= before
      i += 1
    }
    ops.result()
  }

  /** The landed sink must equal one `enrichmentPipeline` over
    * (-1, head - lag]; ranges must be contiguous and non-overlapping and the
    * final watermark must be head - lag. Returns the failed operations. */
  def check(sink: DataFrame): Set[Int] = {
    val expected = pipeline(source.filter(col("block_number") <= spec.target))
    val keys = Seq("transaction_id", "log_index")
    val values = expected.columns.filterNot(keys.contains).toSeq
    def clean(pred: org.apache.spark.sql.Column): Boolean = {
      val d = Validations.snapshotDiff(expected.filter(pred), sink.filter(pred), keys, values,
        checkKeys = false).head()
      d.getLong(0) == 0 && d.getLong(1) == 0 && d.getLong(2) == 0
    }
    // a key landed twice (a replayed batch) fails the batches holding it
    val dupBlocks = sink.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("n"), max("block_number").as("b"))
      .filter(col("n") > 1).select("b").collect().map(_.getLong(0))
    val dups = opRanges.collect { case (i, r) if dupBlocks.exists(b => b > r._1 && b <= r._2) => i }.toSet
    val content =
      if (dupBlocks.isEmpty && clean(lit(true))) Set.empty[Int]
      else opRanges.collect { case (i, (lo, hi))
        if dups(i) || !clean(col("block_number") > lo && col("block_number") <= hi) => i }.toSet
    val ids = opRanges.keys.toSeq.sorted
    val seams = ids.zip(ids.drop(1)).collect {
      case (a, b) if opRanges(a)._2 != opRanges(b)._1 => b }.toSet
    val first = ids.headOption.filter(i => opRanges(i)._1 != -1L).toSet
    val last = ids.lastOption.filter(i => watermark != spec.target ||
      opRanges(i)._2 != spec.target).toSet
    content ++ seams ++ first ++ last
  }
}

/** `sync_enrich`: one sync over the stream in `<inDir>/timed`, after a
  * warm-up sync over the short stream in `<inDir>/warm`. */
final class SyncWorkload(inDir: String, workDir: String) extends Workload {
  private var run: SyncRun = _

  def warm(spark: SparkSession): Unit = {
    val off = new Tracer(false)
    off.attach(spark)
    new SyncRun(spark, s"$inDir/warm", s"$workDir/warm").drain(off)
  }

  def timed(spark: SparkSession, tracer: Tracer): Timed = {
    run = new SyncRun(spark, s"$inDir/timed", s"$workDir/run")
    val (ops, wall, cpu) = tracer.timedPart(run.drain(tracer))
    val files = Files.list(Paths.get(run.sinkPath)).iterator().asScala.toSeq
      .filter(_.getFileName.toString.endsWith(".parquet"))
    // the landed rows, counted once after the clock stops rather than taken
    // from `BatchResult.rowsWritten`, so they do not depend on how the
    // runner counts them
    val rows = spark.read.parquet(run.sinkPath).count()
    Timed(ops, wall, cpu, rows, Map(
      "io.sink_files" -> files.size.toDouble,
      "io.sink_bytes_per_row" -> files.map(Files.size).sum.toDouble / math.max(rows, 1L)))
  }

  def check(spark: SparkSession): Set[Int] = run.check(spark.read.parquet(run.sinkPath))
}
