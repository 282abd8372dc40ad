package perfbench

import graft.checks.Validations
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Self-test of the sync generator and of the sync output checker, and the
  * query outputs `selftest.py` uses for the query checker's planted fault.
  * Prints one PASS/FAIL line per check; returns whether all passed. */
object SelfTest {

  /** `inputDir` holds gen-a and gen-b (one seed) and gen-c (another seed)
    * from `syncgen.write`; `tablesDir` the fixed query tables. */
  def run(workDir: String, cpus: Int, inputDir: String, tablesDir: String): Boolean = {
    val spark = Main.session(cpus)
    var ok = true
    def expect(name: String, cond: Boolean, detail: String): Unit = {
      println(s"${if (cond) "PASS" else "FAIL"} $name: $detail")
      ok &&= cond
    }
    def checksum(dir: String): Seq[org.apache.spark.sql.Row] = {
      val df = spark.read.parquet(s"$inputDir/$dir/transfers")
      Validations.tableChecksum(df, "transfers", df.columns.toSeq).collect().toSeq
    }

    // Generator: same seed, same bytes; another seed, other bytes.
    val (a, b, c) = (checksum("gen-a"), checksum("gen-b"), checksum("gen-c"))
    expect("same seed, same tableChecksum", a == b, s"$a vs $b")
    expect("other seed, other tableChecksum", a != c, s"$a vs $c")

    val spec = SyncSpec.read(s"$inputDir/gen-a")
    val src = spark.read.parquet(s"$inputDir/gen-a/transfers")
    val meta = spark.read.parquet(s"$inputDir/gen-a/metadata")
    val prices = spark.read.parquet(s"$inputDir/gen-a/prices")
    val maxBlocks = src.groupBy("transaction_id").agg(countDistinct("block_number").as("n"))
      .agg(max("n")).head().getLong(0)
    expect("every transaction in one block", maxBlocks == 1, s"max blocks per tx = $maxBlocks")
    val hotToken = "0x00000000"
    val hot = src.filter(col("token_address") === hotToken).count() / src.count().toDouble
    expect("hot-token share", math.abs(hot - spec.hotShare) < 0.02,
      f"measured $hot%.4f, specified ${spec.hotShare}%.4f")
    val unsupported = 1.0 - meta.count().toDouble / spec.tokens
    expect("unsupported-token fraction", math.abs(unsupported - spec.unsupportedFrac) < 0.005,
      f"$unsupported%.4f of ${spec.tokens} tokens")
    val symbols = meta.select("symbol").distinct().count().toDouble
    val unpriced = meta.join(prices, Seq("symbol"), "left_anti").count() / symbols
    expect("unpriced-symbol fraction", math.abs(unpriced - spec.unpricedFrac) < 0.005,
      f"$unpriced%.4f of $symbols%.0f symbols")
    expect("hot token supported and priced",
      meta.join(prices, "symbol").filter(col("token_address") === hotToken).count() == 1,
      hotToken)

    // Sync checker: a clean sync passes; a copy missing one sink row fails
    // exactly the operation whose range held the row.
    val off = new Tracer(false)
    off.attach(spark)
    val sync = new SyncRun(spark, s"$inputDir/gen-a", s"$workDir/sync")
    val ops = sync.drain(off)
    val clean = sync.check(spark.read.parquet(sync.sinkPath))
    expect("clean sync passes its check", ops.size == spec.batches &&
      !ops.exists(_.failed) && clean.isEmpty, s"${ops.size} batches, failed=$clean")
    val sink = spark.read.parquet(sync.sinkPath)
    val victim = sink.orderBy("transaction_id", "log_index").limit(1)
    sink.join(victim.select("transaction_id", "log_index"),
      Seq("transaction_id", "log_index"), "left_anti")
      .write.mode("overwrite").parquet(s"$workDir/sink-minus-one")
    val planted = sync.check(spark.read.parquet(s"$workDir/sink-minus-one"))
    expect("sink copy missing one row fails one operation", planted.size == 1,
      s"failed operations $planted")
    sink.unionByName(victim).write.mode("overwrite").parquet(s"$workDir/sink-plus-one")
    val replayed = sync.check(spark.read.parquet(s"$workDir/sink-plus-one"))
    expect("sink copy with one row landed twice fails one operation", replayed.size == 1,
      s"failed operations $replayed")

    // Query outputs for the query checker's planted fault (selftest.py).
    val queries = Seq("q01_pricing_summary", "q10_inner_join")
    queries.foreach { q =>
      graft.SparkEntry.queries(q)(spark, s"$tablesDir/sf0.001")
        .write.mode("overwrite").parquet(s"$workDir/outputs/$q")
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$workDir/outputs/oracle_sql.json"),
      Main.json(queries.map(q => q -> graft.SparkEntry.oracleSql(q)).toMap))
    spark.stop()
    ok
  }
}
