package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}

/** `etl_queries`: each named query runs once on the sf0.1 tables, in an
  * order shuffled by the seed. One operation is one call into
  * `SparkEntry.queries` (the build, which does any eager loop work) followed
  * by a `noop` write that consumes every output row (the action).
  *
  * Warm-up is one untimed pass of the same queries on the sf0.001 tables;
  * there is no pass on sf0.1 before the timed one, so no memoized count from
  * an earlier sf0.1 run can serve a timed query. */
final class QueryWorkload(seed: Long, dataDir: String, workDir: String) extends Workload {

  private val names = new scala.util.Random(seed).shuffle(QueryWorkload.Queries)
  private var frames = Map.empty[Int, DataFrame]
  private var rows = 0L
  private val bigDir = s"$dataDir/sf0.1"
  private val warmDir = s"$dataDir/sf0.001"

  /** The warm-up pass runs the queries concurrently, one per core: it only
    * has to compile and JIT every query shape before the timed pass. */
  def warm(spark: SparkSession): Unit = QueryWorkload.parallel(names) { n =>
    try graft.SparkEntry.queries(n)(spark, warmDir).write.format("noop").mode("overwrite").save()
    catch { case e: Throwable => System.err.println(s"[perfbench] warm-up of $n failed: $e") }
  }

  def timed(spark: SparkSession, tracer: Tracer): Timed = {
    val (ops, wall, cpu) = tracer.timedPart(names.zipWithIndex.map { case (n, i) =>
      var failed = false
      var parts = Map.empty[String, Double]
      val (_, sec) = tracer.op(i, n) {
        try {
          val (df, b) = tracer.span("operators.build")(graft.SparkEntry.queries(n)(spark, bigDir))
          tracer.addPhases(df.queryExecution)
          val (_, a) = tracer.span("operators.action") {
            df.write.format("noop").mode("overwrite").save()
          }
          frames += i -> df
          parts = Map("build" -> b, "action" -> a)
        } catch {
          case e: Throwable =>
            failed = true
            System.err.println(s"[perfbench] $n failed: $e")
        }
      }
      Op(i, n, sec, failed, parts)
    })
    Timed(ops, wall, cpu, 0L, Map.empty)
  }

  /** Writes each operation's output (re-executing the plan it already
    * built) for the DuckDB oracle compare in `check.py`, and runs the
    * query's oracle preconditions. Failures here fail the operation. */
  def check(spark: SparkSession): Set[Int] = {
    val outDir = s"$workDir/outputs"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$outDir/oracle_sql.json"),
      Main.json(names.map(n => n -> graft.SparkEntry.oracleSql(n)).toMap))
    val results = QueryWorkload.parallel(frames.toSeq) { case (i, df) =>
      val n = names(i)
      try {
        graft.SparkEntry.preconditions.get(n).foreach(p => p(spark, bigDir))
        df.write.mode("overwrite").parquet(s"$outDir/$n")
        Right(spark.read.parquet(s"$outDir/$n").count())
      } catch {
        case e: Throwable =>
          System.err.println(s"[perfbench] check of $n failed: $e")
          Left(i)
      }
    }
    rows = results.collect { case Right(n) => n }.sum
    results.collect { case Left(i) => i }.toSet
  }

  override def rowsOut: Long = rows

  override def expressionOps: Set[String] = QueryWorkload.Expressions.toSet
}

object QueryWorkload {
  /** `f` over `xs` on one thread per core; results in input order. */
  def parallel[A, B](xs: Seq[A])(f: A => B): Seq[B] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      Runtime.getRuntime.availableProcessors())
    try {
      val futures = xs.map(x => pool.submit(new java.util.concurrent.Callable[B] {
        def call(): B = f(x)
      }))
      futures.map(_.get())
    } finally pool.shutdown()
  }

  private def q(s: String): Seq[String] = s.trim.split("\\s+").toSeq

  /** Relational spine: scans, aggregates, joins, windows, as-of and merge. */
  val Spine: Seq[String] = q("""
    q01_pricing_summary q02_log_index q03_enrich q10_inner_join
    q23_dedup_exact q49_asof_join q92_snapshot_diff q124_merge_upsert""")

  /** Per-row expression queries (codegen hash expressions and sketches). */
  val Expressions: Seq[String] = q("""
    q27_fingerprint q29_simhash q101_cms_sketch q129_hll_sketch""")

  val Queries: Seq[String] = Spine ++ Expressions
}
