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
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
      // A whole-stage class is named after its codegen stage id, and AQE
      // numbers the stages in the order it plans them, which moves with
      // the data size: the same pipeline at sf0.001 and sf0.01 compiled
      // twice, as GeneratedIteratorForCodegenStage5 and ...Stage7 (38 of
      // the 52 compiles after warm-up in a 9-query Bench run at sf0.01).
      // One class name makes equal pipelines one cache entry; the stage id
      // is still in the generated source's comment and in `explain`.
      .config("spark.sql.codegen.useIdInClassName", "false")

  /** Size of Spark's compiled-class cache (`spark.sql.codegen.cache.maxEntries`,
    * Spark's default 100), sized so a session keeps every class of the
    * query working set.
    *
    * Measured with a 100,000-entry cap on a 4-CPU machine: the `graft.Bench`
    * warm-up (all 242 queries at sf0.001 plus the target-SF warm-up rep,
    * target sf0.01) compiles 2,536 distinct classes (2,940 with stage ids
    * in the class names), and the 12 perfbench `etl_queries` compile 139 in
    * their warm-up. At the default cap the timed pass evicts and recompiles
    * them: 4,939 compiles in one 242-query rep at sf0.01, 100-114 per
    * `etl_queries` run. 4,096 leaves 60% headroom over the Bench working set.
    *
    * The conf is static, and `CodeGenerator` reads it once per JVM, at the
    * first codegen: the first session built decides it for the JVM. */
  val CodegenCacheEntries = 4096

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
