package graft

import org.apache.spark.sql.SparkSession

/** Session factory with the engine's standard tuning.
  *
  * Designed for local[N] testing but with settings that translate to a
  * multi-executor cluster: explicit shuffle parallelism, AQE enabled
  * (runtime coalescing + skew-join splitting), and broadcast joins for
  * dimension tables. At 100 TB the same knobs scale by raising
  * `spark.sql.shuffle.partitions` to O(cores × 2-3) and letting AQE
  * coalesce — nothing here is local-mode-specific.
  */
object GraftSession {
  def builder(appName: String = "graft", cpus: String = "32"): SparkSession.Builder =
    SparkSession.builder()
      .appName(appName)
      .withExtensions(new GraftExtensions)
      .config("spark.sql.shuffle.partitions", cpus)
      // Deliberately NOT setting spark.sql.files.minPartitionNum: its
      // unset fallback is already leafNodeDefaultParallelism (= the
      // session's defaultParallelism), so pinning it to the core count
      // is a no-op — verified empirically (lineitem at sf0.1 reads as 3
      // splits either way; the openCostInBytes 4 MB floor keeps sub-4MB
      // files at ONE split regardless). Per-row-expensive stages over
      // tiny sources therefore need an explicit spread — that is
      // Multimodal.spreadIds (the q143 lesson: 8.8 s → 1.0 s), not a
      // session knob.
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      // testdata events.parquet carries TIMESTAMP(NANOS) which Spark has
      // no native type for; read as LongType (nanos since epoch).
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.compression.codec", "zstd")
      .config("spark.ui.enabled", "false")

  def local(appName: String = "graft", cpus: Int = 32): SparkSession = {
    val s = builder(appName, cpus.toString).master(s"local[$cpus]").getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Worker threads of the harness mains' `local[N]` sessions:
    * `SPARK_GRAFT_CPUS`, default 4. */
  def harnessCpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt

  private val LocalCluster = """local-cluster\[\s*\d+\s*,\s*\d+\s*,\s*(\d+)\s*\]""".r

  /** `spark.executor.memory` for a `local-cluster[workers,cores,MB]`
    * master: the worker's whole `MB`. Spark refuses to start an executor
    * that asks for more than its worker has. */
  def localClusterExecutorMemory(master: String): Option[String] =
    master match {
      case LocalCluster(mb) => Some(mb + "m")
      case _ => None
    }
}
