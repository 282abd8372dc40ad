package graft
import graft.queries.QueryDef
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each registered query's result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = GraftSession.local("graft-verify", GraftSession.harnessCpus)
    new java.io.File(outDir).mkdirs()
    // SPARK_GRAFT_ONLY=q62_seq_pack,q101_cms_sketch narrows the dump for
    // fast targeted re-checks (compare.py only scores dumped queries).
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    // A query that throws must be LOUD: round 4 shipped a silent 43-query
    // collapse because failures only went to stderr and the missing
    // entries looked like skips. Failures are collected into a
    // failed.json artifact and the process exits non-zero.
    val failures = scala.collection.mutable.LinkedHashMap[String, String]()
    SparkEntry.registry.filter(d => only.forall(_.contains(d.name)))
      .foreach { case QueryDef(name, fn, _, precondition, _) =>
      try {
        // oracle-licensing preconditions run HERE, not in the query
        // lambda — Bench times that lambda (ADVICE r11); a violated
        // precondition fails the verify run as loudly as a bad result
        precondition.foreach(p => p(spark, sfDir))
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
      }
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        failures(name) = Option(e.getMessage).getOrElse(e.toString).take(500)
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.registry
      .map(d => s"${q(d.name)}: ${q(d.oracle)}").mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    if (failures.nonEmpty) {
      val fj = failures.map { case (k, v) => s"${q(k)}: ${q(v)}" }
        .mkString("{", ",", "}")
      Files.writeString(Paths.get(s"$outDir/failed.json"), fj)
      System.err.println(
        s"[verify] ${failures.size} queries FAILED — see $outDir/failed.json")
      spark.stop()
      sys.exit(1)
    }
    spark.stop()
  }
}
