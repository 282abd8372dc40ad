package graft

import graft.queries._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract: the flagship `entry` and the string-keyed views of the
  * query registry. Each query — Spark body, DuckDB oracle, precondition
  * and Bench tags — is one [[queries.QueryDef]] in its family's file under
  * `graft/queries/`; the cross-engine determinism rules are on
  * [[queries.QueryDef]]. */
object SparkEntry {

  /** Every query, built once: perfbench times `queries(n)` inside its
    * build span, so the views must not rebuild the oracle strings. */
  val registry: Seq[QueryDef] = QueryDef.registry(
    RelationalQueries.defs ++ SyncQueries.defs ++ TextQueries.defs ++
      DedupQueries.defs ++ VectorQueries.defs ++ GraphQueries.defs ++
      MediaQueries.defs ++ SketchQueries.defs)

  /** Flagship enrichment slice (SURVEY.md §7.2) on sf0.001. */
  def entry(spark: SparkSession): DataFrame =
    queries("q03_enrich")(spark, "/root/testdata/sf0.001")

  val queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map(q => q.name -> q.run).toMap

  val oracleSql: Map[String, String] =
    registry.map(q => q.name -> q.oracle).toMap

  val preconditions: Map[String, (SparkSession, String) => Unit] =
    registry.flatMap(q => q.precondition.map(q.name -> _)).toMap
}
