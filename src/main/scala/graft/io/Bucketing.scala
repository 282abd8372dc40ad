package graft.io

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Bucketed-table layout for co-located joins (SURVEY.md §2.3 note:
  * "repartition/bucketing for co-located joins").
  *
  * At 100 TB the dominant recurring cost of a star-schema pipeline is
  * re-shuffling the fact table on the same join key every run. Writing
  * the table bucketed by that key (`bucketBy` + `saveAsTable`) makes
  * the partitioning part of the table's physical layout: every
  * subsequent equi-join or aggregation on the bucket key plans with
  * ZERO Exchange on that side (Catalyst trusts the bucket spec), which
  * BucketingSpec asserts on the physical plan.
  *
  * Bucket-count discipline: both sides of a co-located join must share
  * the bucket count (or one must divide the other with
  * `spark.sql.bucketing.coalesceBucketsInJoin.enabled`); pick
  * O(cluster cores) buckets sized so one bucket ≈ one task's memory.
  */
object Bucketing {

  /** Write `df` as a parquet table bucketed (and optionally sorted)
    * by `bucketCols` — the layout step a scheduled pipeline runs once
    * per ingest so downstream joins/aggs are shuffle-free. */
  def writeBucketed(df: DataFrame, table: String, bucketCols: Seq[String],
      numBuckets: Int, sortCols: Seq[String] = Nil): Unit = {
    val w = df.write.mode("overwrite").format("parquet")
      .bucketBy(numBuckets, bucketCols.head, bucketCols.tail: _*)
    (if (sortCols.nonEmpty) w.sortBy(sortCols.head, sortCols.tail: _*) else w)
      .saveAsTable(table)
  }

  /** Bucket count of the co-bucketed loops: `spark.sql.shuffle.partitions`.
    * The bucket count bounds the per-round aggregation parallelism of
    * every co-bucketed loop (each round's one Exchange is pinned to
    * exactly this many partitions), so on a cluster it must be O(cores)
    * — which is exactly what shuffle.partitions is already tuned to. A
    * bare literal (the old `= 32`) silently capped big-graph rounds at
    * 32-way parallelism regardless of cluster size. */
  def resolveBuckets(spark: SparkSession): Int =
    spark.sessionState.conf.numShufflePartitions

  /** Join two co-bucketed tables on the bucket key. The plan contains
    * no Exchange for either side — verified in BucketingSpec. */
  def coLocatedJoin(spark: SparkSession, left: String, right: String,
      keys: Seq[String], joinType: String = "inner"): DataFrame =
    spark.table(left).join(spark.table(right), keys, joinType)
}
