package graft

import graft.operators.{Ann, Dedup}
import graft.pipelines.Pipelines
import graft.queries.QueryDef
import graft.sources.Tables
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graft.CacheEntries

/** Smoke: every registered query runs at sf0.001, yields rows, and leaves
  * no table registered in the session's `CacheManager` — an operator
  * releases what it caches before it returns, so a session can run a
  * query again and again without piling up state, and no query reads a
  * table an earlier one left cached. (Exact value parity vs DuckDB is
  * the driver's t2 gate, replicated locally by scripts/compare.py.) */
class QueriesSpec extends SparkSpec {
  import spark.implicits._

  /** `CacheManager` entries that `body` left registered. A `.cache()` of
    * a plan that is already cached adds no entry, so a leak shows on the
    * first caller that caches each plan. */
  private def cachesLeft(body: => Unit): Int = {
    val before = CacheEntries(spark)
    body
    CacheEntries(spark) - before
  }

  test("registry rejects a repeated query name") {
    val d = SparkEntry.registry.head
    val err = intercept[IllegalArgumentException] {
      QueryDef.registry(Seq(d, d.copy(oracle = "SELECT 1")))
    }
    assert(err.getMessage.contains(s"duplicate query names: ${d.name}"))
  }

  test("entry (flagship) returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
    test(s"$name runs and returns rows at sf0.001") {
      val left = cachesLeft {
        val df = fn(spark, sfDir)
        assert(df.columns.nonEmpty)
        assert(df.count() > 0, s"$name returned 0 rows")
      }
      assert(left == 0, s"$name left $left cached table(s) registered")
    }
  }

  test("operators no query reaches leave no cached table") {
    val e = Tables.embeddings(spark, sfDir)
    val enriched = Seq(
      ("t1", "a", "x", 0, 10.0, 20.0, 1.0, 2.0, 2.5, "2024-01-01"),
      ("t2", "b", "x", 2, 3.0, 6.0, 0.25, 0.5, 2.0, "2024-01-03"))
      .toDF("transaction_id", "sender_address", "receiver_address", "type",
        "coin_value", "coin_value_usd", "fee", "fee_usd", "coin_price_usd",
        "block_date_time")
    val docs = Seq((1L, "en", "the quick brown fox"),
      (2L, "en", "the quick brown fox too")).toDF("doc_id", "lang", "text")
    def run(dfs: DataFrame*): Unit =
      dfs.foreach(_.write.format("noop").mode("overwrite").save())
    // the three Ann builds read differently filtered corpora: one plan
    // each, so each build's cache would be its own entry
    def corpus(minId: Int) = e.filter(col("vec_id") >= minId)
    val sites: Seq[(String, () => Unit)] = Seq(
      "Ann.ivfIndex" -> (() => {
        val (c, a) = Ann.ivfIndex(corpus(0), nCentroids = 4, lloydIterations = 1)
        run(c, a)
      }),
      "Ann.pqIndex" -> (() => {
        val (b, k) = Ann.pqIndex(corpus(1), lloydIterations = 1)
        run(b, k)
      }),
      "Ann.ivfPqIndex" -> (() => {
        val (c, b, k) = Ann.ivfPqIndex(corpus(2), nCentroids = 4,
          lloydIterations = 1)
        run(c, b, k)
      }),
      "Pipelines.graphProjection" -> (() => {
        val p = Pipelines.graphProjection(enriched, "bitcoin")
        run(p.transactions, p.linkInputs, p.linkOutputs, p.chainState)
      }),
      "Dedup.prefixJaccardPairs" -> (() => run(Dedup.prefixJaccardPairs(
        docs, "doc_id", "text", Seq("lang"), shingleSize = 1, threshold = 0.5))))
    val left = sites.map { case (what, body) => what -> cachesLeft(body()) }
      .filter(_._2 > 0)
    assert(left.isEmpty, s"cached tables left registered: $left")
  }

  test("q133 star join: filters reach the scans, dims join by broadcast") {
    val df = SparkEntry.queries("q133_star_join")(spark, sfDir)
    val plan = df.queryExecution.executedPlan.toString
    // the order-date range and the region predicate are both pushed to
    // their parquet scans, and every dim side plans as a broadcast join
    // at this SF (Catalyst stats for customer/supplier, explicit hints
    // for nation/region)
    assert(plan.contains("PushedFilters") &&
      plan.contains("IsNotNull(o_orderdate)"), plan.take(3000))
    assert(plan.contains("EqualTo(r_name,ASIA)"), plan.take(3000))
    assert("BroadcastHashJoin".r.findAllIn(plan).size >= 4, plan.take(3000))
    assert(!plan.contains("SortMergeJoin"), plan.take(3000))
  }
}
