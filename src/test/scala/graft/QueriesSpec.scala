package graft

import graft.queries.QueryDef

/** Smoke: every registered query runs at sf0.001 and yields rows. (Exact
  * value parity vs DuckDB is the driver's t2 gate, replicated locally by
  * scripts/compare.py.) */
class QueriesSpec extends SparkSpec {

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
      val df = fn(spark, sfDir)
      assert(df.columns.nonEmpty)
      assert(df.count() > 0, s"$name returned 0 rows")
    }
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
