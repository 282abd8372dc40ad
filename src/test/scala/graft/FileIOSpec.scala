package graft

import graft.io.FileIO
import graft.functions.TextFunctions
import graft.sources.Tables
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.functions._
import java.nio.file.Files

class FileIOSpec extends SparkSpec {
  import spark.implicits._

  private def readTable(name: String, dir: String): DataFrame = name match {
    case "region"     => Tables.region(spark, dir)
    case "nation"     => Tables.nation(spark, dir)
    case "customer"   => Tables.customer(spark, dir)
    case "supplier"   => Tables.supplier(spark, dir)
    case "part"       => Tables.part(spark, dir)
    case "orders"     => Tables.orders(spark, dir)
    case "lineitem"   => Tables.lineitem(spark, dir)
    case "events"     => Tables.events(spark, dir)
    case "documents"  => Tables.documents(spark, dir)
    case "embeddings" => Tables.embeddings(spark, dir)
  }

  /** Every table read at `dir` submits no job, and scans with the schema
    * Spark's own parquet inference gives the same path (the session reads
    * events under nanosAsLong). */
  private def assertReadsRunNoJob(dir: String): Unit = Tables.names.foreach { n =>
    var df: DataFrame = null
    val jobs = countJobs { df = readTable(n, dir) }
    assert(jobs == 0, s"reading $n ran $jobs jobs")
    val scanned = df.queryExecution.analyzed.collectFirst { case l: LogicalRelation => l.schema }
    assert(scanned == Some(spark.read.parquet(s"$dir/$n.parquet").schema), n)
  }

  test("a Tables read runs no job and scans the inferred schema") {
    assertReadsRunNoJob(sfDir)
  }

  test("a Tables read of Spark-written part files runs no job and scans the inferred schema") {
    val dir = Files.createTempDirectory("parts").toString
    Tables.names.foreach { n =>
      spark.read.parquet(s"$sfDir/$n.parquet").repartition(3)
        .write.parquet(s"$dir/$n.parquet")
      val files = new java.io.File(s"$dir/$n.parquet").list().toSeq
      assert(files.contains("_SUCCESS") && files.count(_.startsWith("part-")) == 3, n)
    }
    assertReadsRunNoJob(dir)
  }

  test("Tables.events adapts to both ts representations identically") {
    // The driver regenerated events.parquet between rounds and its ts
    // column flipped from TIMESTAMP(NANOS) (read as LongType nanos via
    // nanosAsLong) to plain timestamp[us] — this pins BOTH branches of
    // the schema-adaptive reader to the same (ts, ts_ns) output.
    val dir = Files.createTempDirectory("evts").toString
    val micros = Seq(1600000000000000L, 1600000123456789L, 1700000000000001L)
    // LongType branch: ts arrives as epoch NANOS in a long column
    micros.map(us => (us * 1000L, 1L))
      .toDF("ts", "event_id").write.parquet(s"$dir/nanos/events.parquet")
    // Timestamp branch: ts arrives as timestamp[us] (NTZ or LTZ)
    spark.sql(s"SELECT timestamp_micros(col) AS ts, 2L AS event_id FROM VALUES " +
      micros.map(u => s"($u)").mkString(", ") + " t(col)")
      .write.parquet(s"$dir/micros/events.parquet")
    val a = Tables.events(spark, s"$dir/nanos")
      .select("ts", "ts_ns").orderBy("ts_ns")
      .collect().map(_.toSeq).toSeq
    val b = Tables.events(spark, s"$dir/micros")
      .select("ts", "ts_ns").orderBy("ts_ns")
      .collect().map(_.toSeq).toSeq
    assert(a == b)
    assert(a.map(_(1)) == micros.map(_ * 1000L))
  }

  test("CSVWithNames / JSONEachRow / Parquet round-trip preserves data") {
    val dir = Files.createTempDirectory("fio").toString
    val src = Tables.nation(spark, sfDir)
    for (fmt <- Seq(FileIO.CsvWithNames, FileIO.ParquetFmt, FileIO.JsonEachRow,
                    FileIO.OrcFmt)) {
      val p = s"$dir/${fmt.name}"
      FileIO.write(src, p, fmt)
      val back = FileIO.read(spark, p, fmt, Some(src.schema))
      assert(back.count() == src.count(), fmt.name)
      val a = src.orderBy("n_nationkey").collect().map(_.toSeq)
      val b = back.orderBy("n_nationkey").collect().map(_.toSeq)
      assert(a.toSeq == b.toSeq, fmt.name)
    }
  }

  test("format dispatch accepts reference names and rejects unknown (S5)") {
    assert(FileIO.fromName("CSVWithNames") == FileIO.CsvWithNames)
    assert(FileIO.fromName("JSONEachRow") == FileIO.JsonEachRow)
    assert(FileIO.fromName("orc") == FileIO.OrcFmt)
    intercept[IllegalArgumentException](FileIO.fromName("avro"))
  }

  test("multi-statement SQL executor runs each ;-separated statement (S11)") {
    graft.sources.Tables.registerAll(spark, sfDir)
    val results = graft.io.SqlRunner.executeAll(spark,
      """CREATE OR REPLACE TEMP VIEW s11_v AS SELECT * FROM nation WHERE n_regionkey = 0;
        |SELECT count(*) AS n FROM s11_v;
        |""".stripMargin)
    assert(results.size == 2)
    assert(results.last.head().getLong(0) ==
      spark.table("nation").filter(col("n_regionkey") === 0).count())
  }

  test("broadcast lookup dimension joins without a shuffle (S18)") {
    val px = graft.io.SqlRunner.broadcastLookup(spark,
      Seq("BTC" -> 50000.0, "ETH" -> 3000.0), "symbol", "price")
    val facts = Seq(("BTC", 2.0), ("ETH", 1.0), ("DOGE", 5.0)).toDF("symbol", "qty")
    val joined = facts.join(px, Seq("symbol"), "left")
    assert(joined.count() == 3)
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan.take(500))
  }

  test("hedera tx-id becomes a nanosecond timestamp string (F4)") {
    val out = Seq("0.0.1234-1700000000-123456789")
      .toDF("tx")
      .select(TextFunctions.hederaTxTimestamp(col("tx"))).as[String].head()
    assert(out == "1700000000.123456789")
  }
}
