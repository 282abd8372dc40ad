package graft

import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Window => LWindow}
import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.execution.TakeOrderedAndProjectExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The injected plan rules: ArgmaxWindowRewrite, the optimizer rule that
  * turns top-1 row_number windows into struct-extremum aggregations, and
  * OnePartitionSort, the query-stage rule that sorts a small global
  * ORDER BY in one partition. */
class RuleSpec extends SparkSpec with AdaptiveSparkPlanHelper {
  import spark.implicits._

  /** Partition counts of the range exchanges in an executed plan. */
  private def rangeExchanges(df: Dataset[_]): Seq[Int] =
    collect(df.queryExecution.executedPlan) {
      case e: ShuffleExchangeExec if e.outputPartitioning.isInstanceOf[RangePartitioning] =>
        e.outputPartitioning.numPartitions
    }

  private def events = Seq(
    (1L, 10L, 5.0, "a"), (1L, 11L, 9.0, "b"), (1L, 12L, 9.0, "c"),
    (2L, 20L, 1.0, "d"), (3L, 30L, 7.0, "e"))
    .toDF("user_id", "event_id", "value", "tag")

  private def hasWindow(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.collectFirst { case w: LWindow => w }.nonEmpty
  private def hasAggregate(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.collectFirst { case a: Aggregate => a }.nonEmpty

  test("top-1 row_number window is rewritten to an aggregate (DESC)") {
    val w = Window.partitionBy("user_id").orderBy(col("value").desc, col("event_id").desc)
    val df = events.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select("user_id", "event_id", "value", "tag", "rn")
    assert(!hasWindow(df), "window should be rewritten away")
    assert(hasAggregate(df))
    val got = df.orderBy("user_id")
      .as[(Long, Long, Double, String, Int)].collect().toSeq
    assert(got == Seq((1L, 12L, 9.0, "c", 1), (2L, 20L, 1.0, "d", 1),
      (3L, 30L, 7.0, "e", 1)))
  }

  test("top-1 row_number window is rewritten to an aggregate (ASC)") {
    val w = Window.partitionBy("user_id").orderBy("value", "event_id")
    val df = events.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
    assert(!hasWindow(df))
    val got = df.select("user_id", "event_id").orderBy("user_id")
      .as[(Long, Long)].collect().toSeq
    assert(got == Seq((1L, 10L), (2L, 20L), (3L, 30L)))
  }

  test("rn <= k for k > 1 and mixed directions are NOT rewritten") {
    val w = Window.partitionBy("user_id").orderBy(col("value").desc, col("event_id").asc)
    val top2 = events.withColumn("rn", row_number().over(
      Window.partitionBy("user_id").orderBy("value", "event_id")))
      .filter(col("rn") <= 2)
    assert(hasWindow(top2))
    assert(top2.count() == 4)
    val mixed = events.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
    assert(hasWindow(mixed), "mixed asc/desc must keep the window")
    // and it still returns the right row: value desc, event_id asc tie-break
    val got = mixed.filter(col("user_id") === 1).select("event_id")
      .as[Long].collect().toSeq
    assert(got == Seq(11L))
  }

  test("q86's gate query actually plans as an aggregate") {
    val df = SparkEntry.queries("q86_argmax_window")(spark, "/root/testdata/sf0.001")
    assert(!hasWindow(df))
    assert(hasAggregate(df))
    // and agrees row-for-row with the aggregation-spelled q70
    val agg = SparkEntry.queries("q70_argmax")(spark, "/root/testdata/sf0.001")
    assert(df.collect().toSeq == agg.collect().toSeq)
  }

  test("rank()-based filters are NOT rewritten (ties keep >1 row)") {
    val w = Window.partitionBy("user_id").orderBy(col("value").desc)
    val df = events.withColumn("rn", rank().over(w)).filter(col("rn") === 1)
    assert(hasWindow(df))
    assert(df.filter(col("user_id") === 1).count() == 2) // 9.0 tie survives
  }

  test("a small global sort ranges into one partition and runs no sample job") {
    def sorted = spark.range(0, 1000).selectExpr("id % 97 AS k", "id").orderBy("k", "id")
    val (one, many) = (sorted, sorted)
    var oneRows, manyRows = Array.empty[Row]
    val oneJobs = countJobs { oneRows = one.collect() }
    // an advisory size of one byte fits no input: Spark's n-way exchange
    val manyJobs = withConf("spark.sql.adaptive.advisoryPartitionSizeInBytes", "1") {
      countJobs { manyRows = many.collect() }
    }
    assert(rangeExchanges(one) == Seq(1))
    assert(rangeExchanges(many) == Seq(spark.conf.get("spark.sql.shuffle.partitions").toInt))
    assert(oneJobs == manyJobs - 1, s"one partition: $oneJobs jobs, n partitions: $manyJobs")
    assert(oneRows.toSeq == manyRows.toSeq)
  }

  test("repartitionByRange keeps its partition count") {
    val df = spark.range(0, 1000).repartitionByRange(4, col("id"))
    assert(df.collect().length == 1000)
    assert(rangeExchanges(df) == Seq(4))
  }

  test("orderBy(...).limit(n) still plans TakeOrderedAndProject") {
    val df = spark.range(0, 1000).orderBy(col("id").desc).limit(5)
    assert(df.as[Long].collect().toSeq == Seq(999L, 998L, 997L, 996L, 995L))
    assert(collect(df.queryExecution.executedPlan) {
      case t: TakeOrderedAndProjectExec => t }.nonEmpty)
    assert(rangeExchanges(df).isEmpty)
  }
}
