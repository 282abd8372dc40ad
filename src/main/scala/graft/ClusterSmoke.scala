package graft

import graft.queries.QueryDef

/** Multi-executor smoke: runs EVERY SparkEntry query on a
  * `local-cluster[2,8,8192]` session — two genuinely separate executor
  * JVMs — and fails on any query that throws. local[N] (one JVM) can
  * never catch executor-boundary defects: a custom Expression that
  * isn't serialization-safe, codegen referencing driver-only state, a
  * broadcast that only works in-process. This main is the proof that
  * the whole query surface survives a real driver/executor split, and
  * it's the one environment where [[operators.GraphTuning.executorCopies]]
  * resolves to > 1 without a test seam.
  *
  * Run: `SPARK_SCALA_VERSION=2.13 sbt "runMain graft.ClusterSmoke"`
  * (the env var lets Spark's executor launcher resolve the jars dir of
  * a binary /opt/spark install; without it executors die with "Cannot
  * find any build directories"). Executors get this build's classes via
  * `spark.executor.extraClassPath` derived from SparkEntry's code
  * source, so no packaging step is needed.
  *
  * Usage: runMain graft.ClusterSmoke [sfDir] [onlyCsv]
  * `SPARK_GRAFT_MASTER` replaces the master; a
  * `local-cluster[workers,cores,MB]` master sizes each executor to its
  * worker's `MB`.
  */
object ClusterSmoke {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val only = args.drop(1).headOption.map(_.split(",").toSet)
    val classesDir = SparkEntry.getClass.getProtectionDomain
      .getCodeSource.getLocation.getPath
    val master =
      sys.env.getOrElse("SPARK_GRAFT_MASTER", "local-cluster[2,8,8192]")
    val b = GraftSession.builder("graft-cluster-smoke", "16").master(master)
      .config("spark.executor.extraClassPath", classesDir)
    val spark = GraftSession.localClusterExecutorMemory(master)
      .fold(b)(b.config("spark.executor.memory", _)).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Executors register asynchronously after the app starts; wait so
    // the first query doesn't race an empty cluster (and so the
    // executorCopies report below is meaningful).
    val deadline = System.nanoTime() + 60L * 1000000000L
    while (spark.sparkContext.statusTracker.getExecutorInfos.length < 3 &&
        System.nanoTime() < deadline) Thread.sleep(200)
    val copies = operators.GraphTuning.executorCopies(spark)
    println(s"SMOKE executors=$copies (expected 2)")
    val selected = SparkEntry.registry.sortBy(_.name)
      .filter(d => only.forall(_.contains(d.name)))
    var failures = List.empty[String]
    selected.foreach { case QueryDef(name, fn, _, _, _) =>
      val t0 = System.nanoTime()
      try {
        val n = fn(spark, sfDir).count()
        println(f"SMOKE $name rows=$n%d sec=${(System.nanoTime() - t0) / 1e9}%.2f")
      } catch { case e: Throwable =>
        failures ::= name
        println(s"SMOKE $name FAILED ${e.getClass.getSimpleName}: " +
          String.valueOf(e.getMessage).take(200))
      }
    }
    println(s"SMOKE_SUMMARY total=${selected.size} " +
      s"failed=${failures.size} executors=$copies" +
      (if (failures.nonEmpty) " failures=" + failures.sorted.mkString(",")
       else ""))
    spark.stop()
    if (failures.nonEmpty || copies < 2) sys.exit(1)
  }
}
