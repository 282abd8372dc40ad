package graft

import java.nio.file.Files
import java.sql.{Date, Timestamp}
import java.time.{Duration, LocalDateTime, Period}

import graft.plans.{HoistLiterals, HoistedLiteral}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.{And, BitwiseNot, BoundReference, Cast,
  Coalesce, EqualTo, GreaterThan, IsNull, Literal, UnsafeProjection}
import org.apache.spark.sql.execution.{FileSourceScanExec, FilterExec, SimpleMode, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, AdaptiveSparkPlanHelper}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** HoistLiterals: filter literals leave the generated source, so a filter
  * whose bounds change per call compiles once; results, pushed filters and
  * `explain` stay as they were. The session keeps the compiled classes:
  * its codegen cache holds the query working set, and a class does not
  * depend on its stage id. */
class HoistLiteralsSpec extends SparkSpec with AdaptiveSparkPlanHelper {
  import spark.implicits._

  private lazy val blocks: String = {
    val p = Files.createTempDirectory("hoist").resolve("blocks").toString
    spark.range(0, 200).select(col("id").as("b"), (col("id") % 7).as("v"))
      .write.parquet(p)
    p
  }

  private def between(lo: Long, hi: Long): DataFrame =
    spark.read.parquet(blocks).filter(col("b") > lo && col("b") <= hi)

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** The executed plan's filters (run the plan first: an adaptive plan
    * applies the rule as it creates its stages). */
  private def filters(df: DataFrame): Seq[FilterExec] =
    collect(df.queryExecution.executedPlan) { case f: FilterExec => f }

  private def unhoisted(plan: SparkPlan): SparkPlan = plan.transformUp {
    case f: FilterExec => f.transformExpressions { case h: HoistedLiteral => h.literal }
  }

  test("new filter bounds reuse the compiled classes: AQE on, AQE off, bare scan") {
    def grouped(lo: Long, hi: Long) = between(lo, hi).groupBy("v").count()
    def rows(lo: Long, hi: Long) =
      grouped(lo, hi).collect().map(_.getLong(1)).sum
    assert(rows(10, 50) == 40)
    assert(grouped(0, 1).queryExecution.executedPlan.isInstanceOf[AdaptiveSparkPlanExec])
    assert(countCompiles(assert(rows(60, 120) == 60)) == 0)

    withConf("spark.sql.adaptive.enabled", "false") {
      assert(rows(11, 50) == 39)
      assert(!grouped(0, 1).queryExecution.executedPlan.isInstanceOf[AdaptiveSparkPlanExec])
      assert(countCompiles(assert(rows(61, 120) == 59)) == 0)
    }

    // scan → filter → noop has no exchange, so AQE leaves it unwrapped
    noop(between(12, 50))
    assert(!between(0, 1).queryExecution.executedPlan.isInstanceOf[AdaptiveSparkPlanExec])
    assert(countCompiles(noop(between(62, 120))) == 0)
  }

  test("a query's classes outlive 150 other generated classes") {
    def query() = spark.read.parquet(blocks).filter(col("b") > 3)
      .groupBy((col("v") * 2).as("k")).agg(max("b")).collect()
    query()
    // each projection has its own column count, so each is a new class
    // (the odd column types keep other suites from having compiled one)
    val others = countCompiles((1 to 150).foreach { n =>
      UnsafeProjection.create(Seq.tabulate(n)(BoundReference(_, ShortType, nullable = true)) :+
        BitwiseNot(BoundReference(n, ByteType, nullable = true)))
    })
    assert(others >= 150)
    assert(countCompiles(query()) == 0)
  }

  test("a pipeline planned under another stage id reuses its class") {
    val counts = spark.read.parquet(blocks).filter(col("b") > 3).groupBy("v").count()
    val small = spark.range(5).select((col("id") % 7).as("v"), col("id").as("count"))
    counts.collect()
    small.collect()
    // in the union the aggregate's pipelines get other stage ids
    assert(countCompiles(small.union(counts).collect()) == 0)
  }

  test("every hoisted type filters the same rows, NaN, ±Infinity and -0.0 included") {
    def day(d: Int) = Date.valueOf(s"2024-01-0$d")
    def ts(d: Int) = Timestamp.valueOf(s"2024-01-0$d 00:00:00")
    val floats = Seq(Float.NaN, Float.PositiveInfinity, Float.NegativeInfinity,
      -0.0f, 0.0f, 1.5f)
    val doubles = Seq(Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity,
      -0.0, 0.0, 1.5)
    val t = (0 until 6).map { i =>
      (i, i % 2 == 0, (i + 1).toByte, ((i + 1) * 10).toShort, (i + 1) * 100,
        (i + 1) * 1000L, floats(i), doubles(i), day(i + 1), ts(i + 1),
        LocalDateTime.of(2024, 1, i + 1, 0, 0), Period.ofMonths(i + 1),
        Duration.ofHours(i + 1L))
    }.toDF("id", "bo", "by", "sh", "i", "l", "f", "d", "dt", "ts", "ntz", "ym", "dti")
      .localCheckpoint()

    val cases: Seq[(Column, DataType, Set[Int])] = Seq(
      // `bo = true` would simplify to `bo`; greatest keeps its literal
      (greatest(col("bo"), lit(false)), BooleanType, Set(0, 2, 4)),
      (col("by") > lit(3.toByte), ByteType, Set(3, 4, 5)),
      (col("sh") <= lit(20.toShort), ShortType, Set(0, 1)),
      (col("i") === 300, IntegerType, Set(2)),
      (col("l") >= 5000L, LongType, Set(4, 5)),
      (col("f") === Float.NaN, FloatType, Set(0)),
      (col("f") > 1.0f, FloatType, Set(0, 1, 5)), // NaN sorts above +Infinity
      (col("f") === Float.PositiveInfinity, FloatType, Set(1)),
      (col("f") === Float.NegativeInfinity, FloatType, Set(2)),
      (col("f") === -0.0f, FloatType, Set(3, 4)),
      (col("d") === Double.NaN, DoubleType, Set(0)),
      (col("d") > 1.0, DoubleType, Set(0, 1, 5)),
      (col("d") === Double.PositiveInfinity, DoubleType, Set(1)),
      (col("d") < -1e308, DoubleType, Set(2)),
      (col("d") === -0.0, DoubleType, Set(3, 4)),
      (col("d") === 0.0, DoubleType, Set(3, 4)),
      (col("dt") > lit(day(4)), DateType, Set(4, 5)),
      (col("ts") <= lit(ts(2)), TimestampType, Set(0, 1)),
      (col("ntz") === lit(LocalDateTime.of(2024, 1, 3, 0, 0)), TimestampNTZType, Set(2)),
      (col("ym") > lit(Period.ofMonths(4)), YearMonthIntervalType(), Set(4, 5)),
      (col("dti") < lit(Duration.ofHours(2)), DayTimeIntervalType(), Set(0)))
    cases.foreach { case (pred, tpe, want) =>
      val df = t.filter(pred).select("id")
      assert(df.as[Int].collect().toSet == want, s"$pred")
      val hoisted = filters(df).flatMap(_.condition.collect { case h: HoistedLiteral => h })
      assert(hoisted.map(_.dataType) == Seq(tpe), s"$pred")
    }
  }

  test("null, string and decimal literals are left alone; the rule is idempotent") {
    val child = spark.range(1).queryExecution.sparkPlan
    val id = child.output.head
    val dec = Literal(Decimal(BigDecimal("1.50")), DecimalType(10, 2))
    val cond = And(
      And(EqualTo(Cast(id, StringType), Literal("7")),
        GreaterThan(Cast(id, DecimalType(10, 2)), dec)),
      And(IsNull(Coalesce(Seq(Literal(null, LongType), id))), GreaterThan(id, Literal(3L))))
    val out = HoistLiterals(FilterExec(cond, child))
    val c = out.asInstanceOf[FilterExec].condition
    assert(c.collect { case l: Literal => l }.toSet ==
      Set(Literal("7"), dec, Literal(null, LongType)))
    assert(c.collect { case h: HoistedLiteral => h.literal } == Seq(Literal(3L)))
    assert(HoistLiterals(out) == out)
  }

  test("the scan's pushed filters still carry the range") {
    val df = between(23, 31)
    noop(df)
    val scan = collect(df.queryExecution.executedPlan) { case s: FileSourceScanExec => s }
    val pushed = scan.head.metadata("PushedFilters")
    assert(pushed.contains("GreaterThan(b,23)") && pushed.contains("LessThanOrEqual(b,31)"),
      pushed)
    assert(filters(df).head.condition.find(_.isInstanceOf[HoistedLiteral]).isDefined)
  }

  test("explain prints the Filter line as it was") {
    val df = between(23, 31)
    noop(df)
    val plan = df.queryExecution.executedPlan
    assert(plan.treeString == unhoisted(plan).treeString)
    val f = filters(df).head
    assert(f.verboseStringWithOperatorId() ==
      unhoisted(f).verboseStringWithOperatorId())
    val line = df.queryExecution.explainString(SimpleMode).linesIterator
      .find(_.contains("Filter")).get
    assert(line.contains(" > 23)") && line.contains(" <= 31)"), line)
    assert(f.condition.sql.contains(" > 23L)"), f.condition.sql)
  }
}
