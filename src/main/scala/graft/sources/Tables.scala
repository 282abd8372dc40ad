package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.FooterSchema
import org.apache.spark.sql.functions._

/** Parquet table readers for the synthetic star schema (TESTDATA.md).
  *
  * Mirrors the reference's source surface (SURVEY.md §2.1 S1-S10): the
  * reference moves CSV/Parquet/JSONEachRow files between ClickHouse, GCS
  * and local disk (`clickhouse/v1/bash_hook.py:190-305`,
  * `clickhouse/v1/operator.py:56-351`); in Spark every one of those hops
  * collapses into `spark.read.<fmt>` / `df.write.<fmt>` against the
  * appropriate filesystem scheme (file://, gs://, s3a://). Column
  * pruning and predicate pushdown reach the parquet scan automatically.
  *
  * Every reader takes the table's schema from one parquet footer read on
  * the driver (`FooterSchema`) and passes it to `spark.read.schema`:
  * Spark's own inference reads the same footer inside a Spark job, one
  * job per table read, which produces no row.
  */
object Tables {
  private def p(dir: String, name: String) = s"$dir/$name.parquet"

  private def read(s: SparkSession, path: String): DataFrame =
    FooterSchema(s, path) match {
      case Some(schema) => s.read.schema(schema).parquet(path)
      case None         => s.read.parquet(path)
    }

  def region(s: SparkSession, dir: String): DataFrame   = read(s, p(dir, "region"))
  def nation(s: SparkSession, dir: String): DataFrame   = read(s, p(dir, "nation"))
  def customer(s: SparkSession, dir: String): DataFrame = read(s, p(dir, "customer"))
  def supplier(s: SparkSession, dir: String): DataFrame = read(s, p(dir, "supplier"))
  def part(s: SparkSession, dir: String): DataFrame     = read(s, p(dir, "part"))
  def orders(s: SparkSession, dir: String): DataFrame   = read(s, p(dir, "orders"))
  def lineitem(s: SparkSession, dir: String): DataFrame = read(s, p(dir, "lineitem"))
  def documents(s: SparkSession, dir: String): DataFrame = read(s, p(dir, "documents"))
  def embeddings(s: SparkSession, dir: String): DataFrame = read(s, p(dir, "embeddings"))

  /** events.ts arrives in whichever timestamp representation the producer
    * chose — parquet TIMESTAMP(NANOS) (read as LongType nanos via
    * spark.sql.legacy.parquet.nanosAsLong) or plain timestamp[us]
    * (read as TIMESTAMP / TIMESTAMP_NTZ). The reference is schema-dynamic
    * (pandas infers whatever the source carries,
    * `dataengineering/clickhouse/v1/operator.py:454`), so we branch on the
    * scanned dtype and normalize to the same two columns either way:
    * `ts` (TimestampType, µs precision) and `ts_ns` (LongType epoch nanos).
    * Session timezone is UTC (GraftSession), so the NTZ→LTZ cast is
    * value-preserving and `unix_micros` matches DuckDB's `epoch_ns(ts)`
    * on both representations. */
  def events(s: SparkSession, dir: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = read(s, p(dir, "events"))
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        // integral div — double division loses integer precision at
        // epoch-nanos magnitudes (~1.7e18 > 2^53; ±128 ns rounding could
        // shift a boundary event into the previous microsecond/day)
        raw.withColumnRenamed("ts", "ts_ns")
          .withColumn("ts", timestamp_micros(expr("ts_ns div 1000")))
      case org.apache.spark.sql.types.TimestampType |
           org.apache.spark.sql.types.TimestampNTZType =>
        raw.withColumn("ts", col("ts").cast(org.apache.spark.sql.types.TimestampType))
          .withColumn("ts_ns", expr("unix_micros(ts) * 1000L"))
      case other =>
        throw new IllegalStateException(
          s"events.ts has unsupported type $other; expected LongType nanos or a timestamp")
    }
  }

  val names: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  /** Register every table as a temp view so `spark.sql` works against the
    * same namespace the DuckDB oracle sees. */
  def registerAll(s: SparkSession, dir: String): Unit = names.foreach {
    case "events" => events(s, dir).createOrReplaceTempView("events")
    case n        => read(s, p(dir, n)).createOrReplaceTempView(n)
  }
}
