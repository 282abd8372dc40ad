package graft
package queries

import graft.operators._
import graft.sources.Tables
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import DuckSql._

/** The relational spine: filters, joins, set operations, windows, grouped
  * and exact-quantile aggregation, sessions and as-of/interval joins. */
object RelationalQueries {

  val defs: Seq[QueryDef] = Seq(
    // A2/A3-style pricing summary (TPC-H Q1 shape): filtered scan →
    // grouped filtered aggregation, partial+final hash agg.
    QueryDef("q01_pricing_summary", (s, dir) => {
      Tables.lineitem(s, dir)
        .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          sum(col("l_quantity").cast("bigint")).cast("bigint").as("sum_qty"),
          // 2/4-decimal summands with ~1e9 totals → scale 4 (see exactSum)
          Aggregations.exactSum(col("l_extendedprice"), 4).as("sum_base_price"),
          Aggregations.exactSum(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 4)
            .as("sum_disc_price"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")
    },
      s"""SELECT l_returnflag, l_linestatus,
         | CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
         | CAST(sum(CAST(l_extendedprice AS DECIMAL(28,4))) AS DOUBLE) AS sum_base_price,
         | CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(28,4))) AS DOUBLE)
         |   AS sum_disc_price,
         | count(*) AS count_order
         |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
         |GROUP BY l_returnflag, l_linestatus
         |ORDER BY l_returnflag, l_linestatus""".stripMargin),

    // A7 distinct.
    QueryDef("q08_distinct", (s, dir) =>
      Tables.orders(s, dir).select("o_orderstatus", "o_orderpriority")
        .distinct().orderBy("o_orderstatus", "o_orderpriority"),
      """SELECT DISTINCT o_orderstatus, o_orderpriority FROM orders
        |ORDER BY o_orderstatus, o_orderpriority""".stripMargin),

    // J1 chained left joins through two broadcast dimensions.
    QueryDef("q09_left_join", (s, dir) => {
      val c = Tables.customer(s, dir)
      val n = broadcast(Tables.nation(s, dir))
      val r = broadcast(Tables.region(s, dir))
      c.join(n, c("c_nationkey") === n("n_nationkey"), "left")
        .join(r, n("n_regionkey") === r("r_regionkey"), "left")
        .select("c_custkey", "n_name", "r_name")
        .orderBy("c_custkey")
    },
      """SELECT c_custkey, n_name, r_name
        |FROM customer c LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey
        |LEFT JOIN region r ON n.n_regionkey = r.r_regionkey
        |ORDER BY c_custkey""".stripMargin),

    // J2 inner equi-join doubling as a semi-filter.
    QueryDef("q10_inner_join", (s, dir) => {
      val li = Tables.lineitem(s, dir)
      val p = broadcast(Tables.part(s, dir).filter(col("p_size") > 40))
      li.join(p, li("l_partkey") === p("p_partkey"), "inner")
        .select("l_orderkey", "l_linenumber", "p_brand", "p_size")
        .orderBy("l_orderkey", "l_linenumber")
    },
      """SELECT l_orderkey, l_linenumber, p_brand, p_size
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE p_size > 40 ORDER BY l_orderkey, l_linenumber""".stripMargin),

    // J5 anti-join (parts never shipped in small quantities).
    QueryDef("q11_anti_join", (s, dir) =>
      Tables.part(s, dir).join(
          Tables.lineitem(s, dir).filter(col("l_quantity") <= 2.0),
          col("p_partkey") === col("l_partkey"), "left_anti")
        .select("p_partkey").orderBy("p_partkey"),
      """SELECT p_partkey FROM part
        |WHERE NOT EXISTS (SELECT 1 FROM lineitem
        |                  WHERE l_partkey = p_partkey AND l_quantity <= 2)
        |ORDER BY p_partkey""".stripMargin),

    // J4 full outer join of two aggregates.
    QueryDef("q12_full_outer", (s, dir) => {
      val c = Tables.customer(s, dir).groupBy("c_nationkey")
        .agg(count(lit(1)).as("n_customers"))
      val sp = Tables.supplier(s, dir).groupBy("s_nationkey")
        .agg(count(lit(1)).as("n_suppliers"))
      c.join(sp, c("c_nationkey") === sp("s_nationkey"), "full_outer")
        .select(coalesce(col("c_nationkey"), col("s_nationkey")).as("nationkey"),
          col("n_customers"), col("n_suppliers"))
        .orderBy("nationkey")
    },
      """WITH c AS (SELECT c_nationkey, count(*) AS n_customers
        |           FROM customer GROUP BY c_nationkey),
        |     s AS (SELECT s_nationkey, count(*) AS n_suppliers
        |           FROM supplier GROUP BY s_nationkey)
        |SELECT COALESCE(c_nationkey, s_nationkey) AS nationkey,
        |       n_customers, n_suppliers
        |FROM c FULL OUTER JOIN s ON c_nationkey = s_nationkey
        |ORDER BY nationkey""".stripMargin),

    // Left-semi join (EXISTS).
    QueryDef("q13_semi_join", (s, dir) =>
      Tables.customer(s, dir).join(Tables.orders(s, dir),
          col("c_custkey") === col("o_custkey"), "left_semi")
        .select("c_custkey").orderBy("c_custkey"),
      """SELECT c_custkey FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |ORDER BY c_custkey""".stripMargin),

    // P4-P7 predicate stack: IN-list, date range, comparison.
    QueryDef("q14_filters", (s, dir) =>
      Tables.lineitem(s, dir)
        .filter(col("l_quantity").isin(1.0, 2.0, 3.0) &&
          col("l_shipdate") >= lit("1995-07-01").cast("timestamp") &&
          col("l_discount") > 0.05)
        .select(col("l_orderkey"), col("l_linenumber"),
          col("l_quantity").cast("bigint").as("qty"), col("l_discount"))
        .orderBy("l_orderkey", "l_linenumber"),
      """SELECT l_orderkey, l_linenumber, CAST(l_quantity AS BIGINT) AS qty,
        | l_discount
        |FROM lineitem
        |WHERE l_quantity IN (1, 2, 3) AND l_shipdate >= TIMESTAMP '1995-07-01'
        |  AND l_discount > 0.05
        |ORDER BY l_orderkey, l_linenumber""".stripMargin),

    // P8/P9/P10 conditional update, constant column, null fill.
    QueryDef("q15_cond_update", (s, dir) =>
      Tables.orders(s, dir)
        .withColumn("status_flag",
          when(col("o_orderstatus") === "F", "final")
            .when(col("o_orderstatus") === "O", "open")
            .otherwise("other"))
        .withColumn("big_order", when(col("o_totalprice") > 150000.0, 1).otherwise(0))
        .withColumn("source_tag", lit("tpch"))
        .select("o_orderkey", "status_flag", "big_order", "source_tag")
        .orderBy("o_orderkey"),
      """SELECT o_orderkey,
        | CASE WHEN o_orderstatus = 'F' THEN 'final'
        |      WHEN o_orderstatus = 'O' THEN 'open' ELSE 'other' END AS status_flag,
        | CASE WHEN o_totalprice > 150000.0 THEN 1 ELSE 0 END AS big_order,
        | 'tpch' AS source_tag
        |FROM orders ORDER BY o_orderkey""".stripMargin),

    // U1 union all.
    QueryDef("q16_union_all", (s, dir) => {
      val ev = Tables.events(s, dir)
      ev.filter(col("event_type") === "click").select("event_id", "event_type")
        .unionByName(
          ev.filter(col("event_type") === "purchase").select("event_id", "event_type"))
        .orderBy("event_id")
    },
      """SELECT event_id, event_type FROM events WHERE event_type = 'click'
        |UNION ALL
        |SELECT event_id, event_type FROM events WHERE event_type = 'purchase'
        |ORDER BY event_id""".stripMargin),

    // U2 except (set difference).
    QueryDef("q17_except", (s, dir) => {
      val ev = Tables.events(s, dir)
      ev.select("user_id").distinct()
        .except(ev.filter(col("event_type") === "purchase" && col("value") > 95.0)
          .select("user_id").distinct())
        .orderBy("user_id")
    },
      """SELECT DISTINCT user_id FROM events
        |EXCEPT
        |SELECT DISTINCT user_id FROM events
        |WHERE event_type = 'purchase' AND value > 95
        |ORDER BY user_id""".stripMargin),

    // O1/O2 multi-column sort + limit (top-k).
    QueryDef("q18_topk", (s, dir) =>
      Tables.orders(s, dir)
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        .limit(10).select("o_orderkey", "o_totalprice"),
      """SELECT o_orderkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin),

    // A2 grouped count by date.
    QueryDef("q20_count_by_date", (s, dir) =>
      Tables.events(s, dir).groupBy(col("ts").cast("date").as("d"))
        .agg(count(lit(1)).as("n")).orderBy("d"),
      """SELECT CAST(ts AS DATE) AS d, count(*) AS n FROM events
        |GROUP BY 1 ORDER BY d""".stripMargin),

    // F5/P6 date functions + range predicate.
    QueryDef("q21_date_funcs", (s, dir) =>
      Tables.orders(s, dir)
        .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
        .select(col("o_orderkey"),
          year(col("o_orderdate")).as("y"),
          month(col("o_orderdate")).as("m"),
          col("o_orderdate").cast("date").as("d"),
          date_format(col("o_orderdate"), "yyyy-MM").as("ym"))
        .orderBy("o_orderkey"),
      """SELECT o_orderkey, CAST(year(o_orderdate) AS INT) AS y,
        | CAST(month(o_orderdate) AS INT) AS m,
        | CAST(o_orderdate AS DATE) AS d,
        | strftime(o_orderdate, '%Y-%m') AS ym
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1997-01-01'
        |ORDER BY o_orderkey""".stripMargin),

    // F4 regex/string functions.
    QueryDef("q22_regex", (s, dir) =>
      Tables.documents(s, dir).select(
        col("doc_id"),
        regexp_replace(col("text"), "[aeiou]", "").as("devoweled"),
        upper(substring(col("text"), 1, 20)).as("head_upper"),
        length(col("text")).as("n_len"))
        .orderBy("doc_id"),
      """SELECT doc_id, regexp_replace(text, '[aeiou]', '', 'g') AS devoweled,
        | upper(substr(text, 1, 20)) AS head_upper,
        | CAST(length(text) AS INT) AS n_len
        |FROM documents ORDER BY doc_id""".stripMargin),

    // Pivot (explicit value list) with exact sums.
    QueryDef("q34_pivot", (s, dir) =>
      Tables.events(s, dir).groupBy("user_id")
        .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
        .agg(Aggregations.exactSum(col("value")))
        .orderBy("user_id"),
      s"""SELECT user_id,
         | ${dSumWhere("event_type = 'click'", "value")} AS click,
         | ${dSumWhere("event_type = 'error'", "value")} AS error,
         | ${dSumWhere("event_type = 'purchase'", "value")} AS purchase,
         | ${dSumWhere("event_type = 'signup'", "value")} AS signup,
         | ${dSumWhere("event_type = 'view'", "value")} AS view
         |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin),

    // Window functions: lag/lead/row_number/running sum.
    QueryDef("q35_window_funcs", (s, dir) => {
      val w = Window.partitionBy("user_id").orderBy("ts_ns", "event_id")
      Tables.events(s, dir).select(col("event_id"), col("user_id"),
        lag(col("event_id"), 1).over(w).as("prev_event_id"),
        lead(col("event_type"), 1).over(w).as("next_type"),
        row_number().over(w).as("rn"),
        sum(col("value").cast("decimal(28,10)"))
          .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
          .cast("double").as("running_value"))
        .orderBy("event_id")
    },
      """SELECT event_id, user_id,
        | lag(event_id, 1) OVER w AS prev_event_id,
        | lead(event_type, 1) OVER w AS next_type,
        | CAST(row_number() OVER w AS INT) AS rn,
        | CAST(sum(CAST(value AS DECIMAL(28,10))) OVER
        |   (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
        |   AS running_value
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |ORDER BY event_id""".stripMargin),

    // Exact percentiles (median / p90) per group — interpolated, exact
    // (not approx) so it can be oracle-checked.
    QueryDef("q44_percentiles", (s, dir) =>
      Tables.lineitem(s, dir).groupBy("l_returnflag").agg(
        expr("percentile(l_quantity, 0.5)").as("median_qty"),
        expr("percentile(l_quantity, 0.9)").as("p90_qty"),
        expr("percentile(l_discount, 0.5)").as("median_disc"))
        .orderBy("l_returnflag"),
      """SELECT l_returnflag,
        | quantile_cont(l_quantity, 0.5) AS median_qty,
        | quantile_cont(l_quantity, 0.9) AS p90_qty,
        | quantile_cont(l_discount, 0.5) AS median_disc
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),

    // ROLLUP hierarchy totals with grouping flags.
    QueryDef("q45_rollup", (s, dir) =>
      Tables.lineitem(s, dir)
        .rollup("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity").cast("bigint")).cast("bigint").as("qty"),
          grouping_id(col("l_returnflag"), col("l_linestatus")).cast("int").as("gflag"))
        .orderBy(col("gflag"), col("l_returnflag"), col("l_linestatus")),
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
        | CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty,
        | CAST(grouping(l_returnflag) * 2 + grouping(l_linestatus) AS INT) AS gflag
        |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |ORDER BY gflag, l_returnflag, l_linestatus""".stripMargin),

    // Exact multi-column distinct counts per group.
    // Three distinct counts in ONE Aggregate would make Catalyst plan an
    // Expand that replicates every lineitem row once per distinct agg
    // (the q105 lesson, measured 17 s vs 3 s there). Manual unpivot to
    // (flag, kind, key-as-long) instead: the distinct is a narrow
    // partial-agg shuffle with map-side dedup, the final per-flag counts
    // a tiny conditional agg. The pair key packs (part, supp) into one
    // long (both < 2³¹) so nothing wider than 3 longs ever shuffles.
    QueryDef("q46_distinct_counts", (s, dir) =>
      Tables.lineitem(s, dir)
        .select(col("l_returnflag"),
          col("l_partkey").cast("long").as("p"),
          col("l_suppkey").cast("long").as("sk"))
        .select(col("l_returnflag"), explode(array(
          struct(lit(1).as("k"), col("p").as("key")),
          struct(lit(2).as("k"), col("sk").as("key")),
          struct(lit(3).as("k"),
            (shiftleft(col("p"), 32) + col("sk")).as("key")))).as("e"))
        .select(col("l_returnflag"), col("e.k").as("k"), col("e.key").as("key"))
        .distinct()
        .groupBy("l_returnflag")
        .agg(count(when(col("k") === 1, 1)).as("n_parts"),
          count(when(col("k") === 2, 1)).as("n_supps"),
          count(when(col("k") === 3, 1)).as("n_pairs"))
        .orderBy("l_returnflag"),
      """SELECT l_returnflag,
        | count(DISTINCT l_partkey) AS n_parts,
        | count(DISTINCT l_suppkey) AS n_supps,
        | count(DISTINCT (l_partkey, l_suppkey)) AS n_pairs
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),

    // As-of backward join: each click joined to the user's most recent
    // prior-or-equal purchase (one shuffle + window; DuckDB oracle uses
    // its native ASOF JOIN, so semantics are cross-validated).
    QueryDef("q49_asof_join", (s, dir) => {
      val ev = Tables.events(s, dir)
      val clicks = ev.filter(col("event_type") === "click")
        .select("event_id", "user_id", "ts_ns")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts_ns"),
          col("value").as("last_purchase_value"))
      AsOfJoin.asofBackward(clicks, purchases,
        keyCols = Seq("user_id"), tsCol = "ts_ns",
        valueCols = Seq("last_purchase_value"))
        .select("event_id", "user_id", "last_purchase_value")
        .orderBy("event_id")
    },
      """WITH clicks AS (
        |  SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'),
        |purchases AS (
        |  SELECT user_id, ts, value AS last_purchase_value FROM events
        |  WHERE event_type = 'purchase')
        |SELECT c.event_id, c.user_id, p.last_purchase_value
        |FROM clicks c ASOF LEFT JOIN purchases p
        |  ON c.user_id = p.user_id AND c.ts >= p.ts
        |ORDER BY c.event_id""".stripMargin),

    // Gap-based sessionization (1h gap): lag boundary + running sum.
    QueryDef("q50_sessionize", (s, dir) =>
      Sessions.sessionize(
        Tables.events(s, dir).select("event_id", "user_id", "ts_ns"),
        keyCol = "user_id", tsCol = "ts_ns", gapNanos = 3600L * 1000000000L)
        .select("event_id", "user_id", "session_id")
        .orderBy("event_id"),
      """WITH x AS (
        |  SELECT event_id, user_id, ts,
        |    lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS pts
        |  FROM events)
        |SELECT event_id, user_id,
        |  CAST(sum(CASE WHEN pts IS NOT NULL AND ts - pts > INTERVAL 1 HOUR
        |                THEN 1 ELSE 0 END)
        |    OVER (PARTITION BY user_id ORDER BY ts
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) + 1
        |    AS BIGINT) AS session_id
        |FROM x ORDER BY event_id""".stripMargin),

    // Bounded interval self-join (2h window) via time-bucket equi-join —
    // O(events × density) candidates, never a per-key cross join.
    QueryDef("q51_interval_join", (s, dir) =>
      Sessions.intervalSelfJoin(
        Tables.events(s, dir).select("event_id", "user_id", "ts_ns"),
        keyCol = "user_id", idCol = "event_id", tsCol = "ts_ns",
        windowNanos = 2L * 3600L * 1000000000L)
        .orderBy("user_id", "id_a", "id_b"),
      """SELECT a.user_id, a.event_id AS id_a, b.event_id AS id_b
        |FROM events a JOIN events b
        |  ON a.user_id = b.user_id AND b.ts > a.ts
        |  AND b.ts <= a.ts + INTERVAL 2 HOUR
        |ORDER BY a.user_id, id_a, id_b""".stripMargin),

    // CUBE over two dimensions with grouping flags.
    QueryDef("q52_cube", (s, dir) =>
      Tables.orders(s, dir)
        .cube("o_orderstatus", "o_orderpriority")
        .agg(count(lit(1)).as("n"),
          grouping_id(col("o_orderstatus"), col("o_orderpriority"))
            .cast("int").as("gflag"))
        .orderBy("gflag", "o_orderstatus", "o_orderpriority"),
      """SELECT o_orderstatus, o_orderpriority, count(*) AS n,
        | CAST(grouping(o_orderstatus) * 2 + grouping(o_orderpriority) AS INT)
        |   AS gflag
        |FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
        |ORDER BY gflag, o_orderstatus, o_orderpriority""".stripMargin),

    // INTERSECT (set semantics).
    QueryDef("q53_intersect", (s, dir) => {
      val ev = Tables.events(s, dir)
      ev.filter(col("event_type") === "purchase").select("user_id").distinct()
        .intersect(ev.filter(col("event_type") === "error")
          .select("user_id").distinct())
        .orderBy("user_id")
    },
      """SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'
        |INTERSECT
        |SELECT DISTINCT user_id FROM events WHERE event_type = 'error'
        |ORDER BY user_id""".stripMargin),

    // Deterministic ordered string aggregation per group.
    QueryDef("q54_string_agg", (s, dir) =>
      Tables.nation(s, dir).groupBy("n_regionkey")
        .agg(array_join(array_sort(collect_list(col("n_name"))), ",")
          .as("nations"))
        .orderBy("n_regionkey"),
      """SELECT n_regionkey,
        | string_agg(n_name, ',' ORDER BY n_name) AS nations
        |FROM nation GROUP BY n_regionkey ORDER BY n_regionkey""".stripMargin),

    // UNPIVOT / melt: wide measures → long (id, measure, value) rows.
    QueryDef("q58_unpivot", (s, dir) =>
      Tables.lineitem(s, dir)
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice",
          "l_discount")
        .unpivot(Array(col("l_orderkey"), col("l_linenumber")),
          Array(col("l_quantity"), col("l_extendedprice"), col("l_discount")),
          "measure", "val")
        .orderBy("l_orderkey", "l_linenumber", "measure"),
      """SELECT l_orderkey, l_linenumber, 'l_quantity' AS measure,
        |       l_quantity AS val FROM lineitem
        |UNION ALL
        |SELECT l_orderkey, l_linenumber, 'l_extendedprice', l_extendedprice
        |FROM lineitem
        |UNION ALL
        |SELECT l_orderkey, l_linenumber, 'l_discount', l_discount FROM lineitem
        |ORDER BY l_orderkey, l_linenumber, measure""".stripMargin),

    // Ranking-family windows: rank/dense_rank/percent_rank/cume_dist
    // over a TIE-FUL order (second-granularity buckets — tied rows get
    // equal values, so ties are cross-engine safe), ntile over a total
    // order (ntile is arbitrary within ties, so it must never see one).
    // percent_rank/cume_dist are exact integer ratios in doubles.
    QueryDef("q67_rank_funcs", (s, dir) => {
      val wTies = Window.partitionBy("event_type")
        .orderBy(expr("ts_ns div 1000000000"))
      val wTotal = Window.partitionBy("event_type").orderBy("ts_ns", "event_id")
      Tables.events(s, dir).select(col("event_id"), col("event_type"),
        rank().over(wTies).as("rnk"),
        dense_rank().over(wTies).as("drnk"),
        percent_rank().over(wTies).as("pct_rank"),
        cume_dist().over(wTies).as("cdist"),
        ntile(4).over(wTotal).as("quartile"))
        .orderBy("event_id")
    },
      """SELECT event_id, event_type,
        | rank() OVER w1 AS rnk,
        | dense_rank() OVER w1 AS drnk,
        | percent_rank() OVER w1 AS pct_rank,
        | cume_dist() OVER w1 AS cdist,
        | ntile(4) OVER w2 AS quartile
        |FROM events
        |WINDOW w1 AS (PARTITION BY event_type
        |              ORDER BY epoch_ns(ts) // 1000000000),
        |       w2 AS (PARTITION BY event_type ORDER BY epoch_ns(ts), event_id)
        |ORDER BY event_id""".stripMargin),

    // As-of FORWARD join: each click joined to the user's next
    // at-or-after purchase (same one-shuffle window as q49, reverse
    // time order; DuckDB oracle = native ASOF with <=).
    QueryDef("q68_asof_forward", (s, dir) => {
      val ev = Tables.events(s, dir)
      val clicks = ev.filter(col("event_type") === "click")
        .select("event_id", "user_id", "ts_ns")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts_ns"),
          col("value").as("next_purchase_value"))
      AsOfJoin.asofForward(clicks, purchases,
        keyCols = Seq("user_id"), tsCol = "ts_ns",
        valueCols = Seq("next_purchase_value"))
        .select("event_id", "user_id", "next_purchase_value")
        .orderBy("event_id")
    },
      """WITH clicks AS (
        |  SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'),
        |purchases AS (
        |  SELECT user_id, ts, value AS next_purchase_value FROM events
        |  WHERE event_type = 'purchase')
        |SELECT c.event_id, c.user_id, p.next_purchase_value
        |FROM clicks c ASOF LEFT JOIN purchases p
        |  ON c.user_id = p.user_id AND c.ts <= p.ts
        |ORDER BY c.event_id""".stripMargin),

    // Per-group argmax as an AGGREGATION (max of a (value, id) struct —
    // lexicographic ordering gives a deterministic tie-break): O(groups)
    // shuffle bytes with map-side combine, where the window realization
    // (q57) pays a full per-group sort. The right shape at 100 TB when
    // only the top row is needed.
    QueryDef("q70_argmax", (s, dir) =>
      Tables.events(s, dir)
        .groupBy("user_id")
        .agg(max(struct(col("value"), col("event_id"))).as("m"))
        .select(col("user_id"), col("m.event_id").as("top_event_id"),
          col("m.value").as("top_value"))
        .orderBy("user_id"),
      """SELECT user_id, event_id AS top_event_id, value AS top_value
        |FROM (SELECT user_id, event_id, value,
        |        row_number() OVER (PARTITION BY user_id
        |          ORDER BY value DESC, event_id DESC) AS rn
        |      FROM events)
        |WHERE rn = 1 ORDER BY user_id""".stripMargin),

    // F8 JSON parse (`bitquery.py:39-46`): semi-structured props column
    // → typed extraction at the scan, then a plain grouped agg. At scale
    // the extraction is codegen'd per-row work with no shuffle cost; the
    // agg shuffles O(groups).
    QueryDef("q71_json_extract", (s, dir) =>
      Tables.events(s, dir)
        .select(col("event_type"),
          get_json_object(col("props"), "$.k").cast("long").as("k"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"),
          min(col("k")).as("min_k"), max(col("k")).as("max_k"))
        .orderBy("event_type"),
      """SELECT event_type, count(*) AS n,
        | CAST(sum(CAST(props->>'k' AS BIGINT)) AS BIGINT) AS sum_k,
        | min(CAST(props->>'k' AS BIGINT)) AS min_k,
        | max(CAST(props->>'k' AS BIGINT)) AS max_k
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin),

    // Frame-spec windows (rolling 3-row + running sums): one shuffle by
    // user, one sort per partition serves ALL frames over the same
    // window — decimal-cast sums keep the frames engine-exact.
    QueryDef("q72_rolling", (s, dir) => {
      val w = Window.partitionBy("user_id").orderBy("ts_ns", "event_id")
      Tables.events(s, dir)
        .select(col("user_id"), col("event_id"),
          sum(col("value").cast("decimal(28,10)")).over(w.rowsBetween(-2, 0))
            .cast("double").as("roll_sum3"),
          count(lit(1)).over(w.rowsBetween(Window.unboundedPreceding, 0))
            .as("row_in_user"),
          sum(col("value").cast("decimal(28,10)"))
            .over(w.rowsBetween(Window.unboundedPreceding, 0))
            .cast("double").as("run_sum"))
        .orderBy("user_id", "row_in_user")
    },
      """SELECT user_id, event_id,
        | CAST(sum(CAST(value AS DECIMAL(28,10))) OVER (w ROWS BETWEEN 2
        |   PRECEDING AND CURRENT ROW) AS DOUBLE) AS roll_sum3,
        | count(*) OVER (w ROWS UNBOUNDED PRECEDING) AS row_in_user,
        | CAST(sum(CAST(value AS DECIMAL(28,10))) OVER (w ROWS UNBOUNDED
        |   PRECEDING) AS DOUBLE) AS run_sum
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ns(ts), event_id)
        |ORDER BY user_id, row_in_user""".stripMargin),

    // lead/lag/first_value over the same per-user order — the offset
    // family shares the q72 sort too. delta is a two-operand double op
    // (exactly-rounded IEEE, no summation order), so it's oracle-safe.
    QueryDef("q73_lead_lag", (s, dir) => {
      val w = Window.partitionBy("user_id").orderBy("ts_ns", "event_id")
      Tables.events(s, dir)
        .select(col("user_id"), col("event_id"),
          lag(col("value"), 1).over(w).as("prev_value"),
          lead(col("event_type"), 1).over(w).as("next_type"),
          (col("value") - coalesce(lag(col("value"), 1).over(w), lit(0.0)))
            .as("delta"),
          first(col("event_id"))
            .over(w.rowsBetween(Window.unboundedPreceding, 0))
            .as("first_event_id"))
        .orderBy("user_id", "event_id")
    },
      """SELECT user_id, event_id,
        | lag(value, 1) OVER w AS prev_value,
        | lead(event_type, 1) OVER w AS next_type,
        | value - coalesce(lag(value, 1) OVER w, 0.0) AS delta,
        | first_value(event_id) OVER (w ROWS UNBOUNDED PRECEDING)
        |   AS first_event_id
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ns(ts), event_id)
        |ORDER BY user_id, event_id""".stripMargin),

    // Histogram by fixed-width bucket: floor(value/width) is exactly-
    // rounded in both engines (unlike double→int CASTs, which truncate
    // in Spark but round in DuckDB). One partial-agg shuffle, O(buckets).
    QueryDef("q74_histogram", (s, dir) =>
      Tables.events(s, dir)
        .groupBy(floor(col("value") / 50.0).cast("long").as("bucket"))
        .agg(count(lit(1)).as("n"),
          Aggregations.exactSum(col("value")).as("sum_value"))
        .orderBy("bucket"),
      s"""SELECT CAST(floor(value / 50.0) AS BIGINT) AS bucket,
         | count(*) AS n, ${dSum("value")} AS sum_value
         |FROM events GROUP BY 1 ORDER BY bucket""".stripMargin),

    // Gini impurity of each user's event-type mix: all-integer until ONE
    // final division of exact ints (deterministic in any IEEE engine) —
    // the portable alternative to entropy, whose ln() differs in the
    // last ulp across libms.
    QueryDef("q75_gini", (s, dir) =>
      Tables.events(s, dir)
        .groupBy("user_id", "event_type").agg(count(lit(1)).as("c"))
        .groupBy("user_id")
        .agg(sum(col("c") * col("c")).as("ss"), sum(col("c")).as("n"))
        .select(col("user_id"),
          (lit(1.0) - col("ss").cast("double")
            / (col("n") * col("n")).cast("double")).as("gini"),
          col("n"))
        .orderBy("user_id"),
      """WITH c AS (
        |  SELECT user_id, event_type, count(*) AS c
        |  FROM events GROUP BY 1, 2)
        |SELECT user_id,
        |  CAST(1 AS DOUBLE) - CAST(sum(c*c) AS DOUBLE)
        |    / CAST(sum(c)*sum(c) AS DOUBLE) AS gini,
        |  CAST(sum(c) AS BIGINT) AS n
        |FROM c GROUP BY user_id ORDER BY user_id""".stripMargin),

    // Int8 embedding quantization (the storage/serving compression step
    // of a training pipeline): per-vector absmax scale, symmetric round-
    // half-up via floor(x+0.5) — float→double casts first so both
    // engines run identical double arithmetic. Two node-sized shuffles
    // (per-vector max, per-vector stats); the element table never
    // materializes wider than (id, pos, x).
    QueryDef("q76_quantize", (s, dir) => {
      val e = Tables.embeddings(s, dir)
        .select(col("vec_id"), explode(col("embedding")).as("x"))
        .select(col("vec_id"), col("x").cast("double").as("xd"))
      val mx = e.groupBy("vec_id").agg(max(abs(col("xd"))).as("maxabs"))
        .filter(col("maxabs") > 0)
      e.join(mx, Seq("vec_id"))
        .select(col("vec_id"), col("maxabs"),
          floor(col("xd") * 127.0 / col("maxabs") + 0.5).cast("long").as("q"))
        .groupBy("vec_id")
        .agg(sum(col("q")).as("q_sum"), min(col("q")).as("q_min"),
          max(col("q")).as("q_max"),
          sum(when(abs(col("q")) === 127, 1L).otherwise(0L)).as("n_sat"),
          max(col("maxabs")).as("maxabs"))
        .orderBy("vec_id")
    },
      """WITH e AS (
        |  SELECT vec_id, CAST(u.x AS DOUBLE) AS xd
        |  FROM embeddings, UNNEST(embedding) AS u(x)),
        |m AS (SELECT vec_id, max(abs(xd)) AS maxabs FROM e
        |      GROUP BY vec_id HAVING max(abs(xd)) > 0),
        |q AS (SELECT e.vec_id, m.maxabs,
        |        CAST(floor(e.xd * 127.0 / m.maxabs + 0.5) AS BIGINT) AS q
        |      FROM e JOIN m ON e.vec_id = m.vec_id)
        |SELECT vec_id, CAST(sum(q) AS BIGINT) AS q_sum,
        |  min(q) AS q_min, max(q) AS q_max,
        |  CAST(sum(CASE WHEN abs(q) = 127 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_sat,
        |  max(maxabs) AS maxabs
        |FROM q GROUP BY vec_id ORDER BY vec_id""".stripMargin),

    // PII-shaped redaction: scrub digit runs at the scan (codegen'd
    // regexp, no shuffle), fingerprint the scrubbed text with the
    // portable md5 so the full output verifies without shipping text.
    QueryDef("q77_redact", (s, dir) =>
      Tables.documents(s, dir).select(col("doc_id"),
        md5(regexp_replace(col("text"), "[0-9]", "#").cast("binary"))
          .as("redacted_md5"),
        (length(col("text"))
          - length(regexp_replace(col("text"), "[0-9]", ""))).as("n_digits"))
        .orderBy("doc_id"),
      """SELECT doc_id,
        | md5(regexp_replace(text, '[0-9]', '#', 'g')) AS redacted_md5,
        | length(text) - length(regexp_replace(text, '[0-9]', '', 'g'))
        |   AS n_digits
        |FROM documents ORDER BY doc_id""".stripMargin),

    // Salted fact⋈dim join (hot-key mitigation when the dim is too big
    // to broadcast and AQE's split isn't available): row-id salt on the
    // fact, buckets-fold replicated dim — result rows identical to the
    // plain join, verified against the unsalted oracle.
    QueryDef("q78_salted_join", (s, dir) =>
      Skew.saltedJoin(
        Tables.events(s, dir).select(col("user_id"), col("value")),
        Tables.customer(s, dir)
          .select(col("c_custkey").as("user_id"), col("c_nationkey")),
        keyCols = Seq("user_id"), buckets = 8)
        .groupBy("c_nationkey")
        .agg(count(lit(1)).as("n"),
          Aggregations.exactSum(col("value")).as("sum_value"))
        .orderBy("c_nationkey"),
      s"""SELECT c.c_nationkey, count(*) AS n, ${dSum("e.value")} AS sum_value
         |FROM events e JOIN customer c ON e.user_id = c.c_custkey
         |GROUP BY c.c_nationkey ORDER BY c.c_nationkey""".stripMargin),

    // Schema-evolution union: unionByName(allowMissingColumns) aligns
    // heterogeneous extracts by NAME and null-fills the gaps — the Spark
    // realization of the reference's folder-of-queries UNION ALL (U1)
    // when file generations drift.
    QueryDef("q79_schema_union", (s, dir) => {
      val docs = Tables.documents(s, dir)
      docs.select(col("doc_id"), col("lang"))
        .unionByName(docs.select(col("doc_id"), col("source")),
          allowMissingColumns = true)
        .orderBy("doc_id", "lang", "source")
    },
      """SELECT doc_id, lang FROM documents
        |UNION ALL BY NAME
        |SELECT doc_id, source FROM documents
        |ORDER BY doc_id, lang, source""".stripMargin),

    // Date-spine gap fill: sequence(min,max) explodes a calendar from a
    // 1-row bounds agg (driver-sized), left-joins the daily partials,
    // zero-fills. The spine side is O(days) — broadcast for free.
    QueryDef("q81_date_spine", (s, dir) => {
      val ev = Tables.events(s, dir)
      val daily = ev.filter(col("event_type") === "purchase" && col("value") > 480)
        .groupBy(col("ts").cast("date").as("d")).agg(count(lit(1)).as("n"))
      val spine = ev.agg(min(col("ts").cast("date")).as("lo"),
        max(col("ts").cast("date")).as("hi"))
        .select(explode(sequence(col("lo"), col("hi"))).as("d"))
      spine.join(daily, Seq("d"), "left")
        .select(col("d"), coalesce(col("n"), lit(0L)).as("n"))
        .orderBy("d")
    },
      """WITH bounds AS (
        |  SELECT min(CAST(ts AS DATE)) AS lo, max(CAST(ts AS DATE)) AS hi
        |  FROM events),
        |spine AS (
        |  SELECT CAST(unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS DATE)
        |    AS d FROM bounds),
        |daily AS (
        |  SELECT CAST(ts AS DATE) AS d, count(*) AS n FROM events
        |  WHERE event_type = 'purchase' AND value > 480 GROUP BY 1)
        |SELECT spine.d, coalesce(daily.n, 0) AS n
        |FROM spine LEFT JOIN daily USING (d) ORDER BY d""".stripMargin),

    // Multi-aggregate pivot: per source, per-language doc counts AND
    // char volumes in one pass (Spark names the columns
    // <pivotValue>_<aggAlias>). sum(lit(1)) not count(): pivot yields
    // NULL for absent (source,lang) cells and so does a SQL sum with no
    // matches, keeping both engines aligned.
    QueryDef("q84_multi_pivot", (s, dir) =>
      Tables.documents(s, dir)
        .groupBy("source")
        .pivot("lang", Seq("en", "de", "es", "fr", "zh"))
        .agg(sum(lit(1L)).as("n"), sum(col("n_chars")).as("chars"))
        .orderBy("source"),
      """SELECT source,
        | CAST(sum(CASE WHEN lang = 'en' THEN 1 END) AS BIGINT) AS en_n,
        | CAST(sum(CASE WHEN lang = 'en' THEN n_chars END) AS BIGINT) AS en_chars,
        | CAST(sum(CASE WHEN lang = 'de' THEN 1 END) AS BIGINT) AS de_n,
        | CAST(sum(CASE WHEN lang = 'de' THEN n_chars END) AS BIGINT) AS de_chars,
        | CAST(sum(CASE WHEN lang = 'es' THEN 1 END) AS BIGINT) AS es_n,
        | CAST(sum(CASE WHEN lang = 'es' THEN n_chars END) AS BIGINT) AS es_chars,
        | CAST(sum(CASE WHEN lang = 'fr' THEN 1 END) AS BIGINT) AS fr_n,
        | CAST(sum(CASE WHEN lang = 'fr' THEN n_chars END) AS BIGINT) AS fr_chars,
        | CAST(sum(CASE WHEN lang = 'zh' THEN 1 END) AS BIGINT) AS zh_n,
        | CAST(sum(CASE WHEN lang = 'zh' THEN n_chars END) AS BIGINT) AS zh_chars
        |FROM documents GROUP BY source ORDER BY source""".stripMargin),

    // F8 deep JSON: parse props into a typed MAP and explode it —
    // schema-free key discovery where q71 extracts a known path. The
    // per-key agg shuffles O(|keyspace|).
    QueryDef("q85_json_map", (s, dir) =>
      Tables.events(s, dir)
        .select(col("event_type"),
          explode(from_json(col("props"),
            org.apache.spark.sql.types.MapType(
              org.apache.spark.sql.types.StringType,
              org.apache.spark.sql.types.LongType))).as(Seq("k", "v")))
        .groupBy("k")
        .agg(count(lit(1)).as("n"), sum(col("v")).as("sum_v"),
          count_distinct(col("event_type")).as("n_types"))
        .orderBy("k"),
      """SELECT k, count(*) AS n,
        | CAST(sum(CAST(json_extract(props, '$.' || k) AS BIGINT)) AS BIGINT)
        |   AS sum_v,
        | count(DISTINCT event_type) AS n_types
        |FROM (SELECT event_type, props, unnest(json_keys(props)) AS k
        |      FROM events)
        |GROUP BY k ORDER BY k""".stripMargin),

    // The WINDOW spelling of q70's argmax — included to exercise the
    // injected ArgmaxWindowRewrite optimizer rule ON the oracle gate:
    // the Filter(rn=1)-over-row_number plan is rewritten to the
    // struct-max aggregation (O(groups) shuffle), and the result must
    // still hash-match the window-semantics oracle.
    QueryDef("q86_argmax_window", (s, dir) => {
      val w = Window.partitionBy("user_id")
        .orderBy(col("value").desc, col("event_id").desc)
      Tables.events(s, dir)
        .select("user_id", "event_id", "value")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("user_id"), col("event_id").as("top_event_id"),
          col("value").as("top_value"))
        .orderBy("user_id")
    },
      """SELECT user_id, event_id AS top_event_id, value AS top_value
        |FROM (SELECT user_id, event_id, value,
        |        row_number() OVER (PARTITION BY user_id
        |          ORDER BY value DESC, event_id DESC) AS rn
        |      FROM events)
        |WHERE rn = 1 ORDER BY user_id""".stripMargin),

    // As-of join through the engine's CUSTOM PHYSICAL OPERATOR
    // (BroadcastAsOfJoin logical node → GraftStrategy → binary-search
    // probe of a broadcast sorted timeline): the fact side is never
    // shuffled or sorted — zero exchanges in the whole plan. Two value
    // columns ride the matched row; oracle = DuckDB native ASOF.
    QueryDef("q87_asof_broadcast", (s, dir) => {
      val ev = Tables.events(s, dir)
      val views = ev.filter(col("event_type") === "view")
        .select("event_id", "user_id", "ts_ns")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts_ns"),
          col("value").as("last_purchase_value"),
          col("props").as("last_purchase_props"))
      AsOfJoin.asofBroadcast(views, purchases,
        keyCols = Seq("user_id"), tsCol = "ts_ns",
        valueCols = Seq("last_purchase_value", "last_purchase_props"))
        .select("event_id", "user_id", "last_purchase_value",
          "last_purchase_props")
        .orderBy("event_id")
    },
      """WITH views AS (
        |  SELECT event_id, user_id, ts FROM events WHERE event_type = 'view'),
        |purchases AS (
        |  SELECT user_id, ts, value AS last_purchase_value,
        |         props AS last_purchase_props
        |  FROM events WHERE event_type = 'purchase')
        |SELECT v.event_id, v.user_id, p.last_purchase_value,
        |       p.last_purchase_props
        |FROM views v ASOF LEFT JOIN purchases p
        |  ON v.user_id = p.user_id AND v.ts >= p.ts
        |ORDER BY v.event_id""".stripMargin),

    // Broadcast RANGE JOIN (point-in-interval lookup): events assigned
    // to id-range batches (the reference's sync-batch shape) through the
    // custom as-of exec + coverage check — O(|left|·log|dim|), zero
    // exchanges on the probe side, where the naive spelling is a
    // BETWEEN cross join. The batch dim is derived from a 1-row bounds
    // agg exploded into a sequence (same device as the q81 date spine);
    // oracle = DuckDB BETWEEN join.
    QueryDef("q91_range_join", (s, dir) => {
      val ev = Tables.events(s, dir).select("event_id", "value")
      val batches = ev.agg(expr("max(event_id) div 1000").as("mx"))
        .select(explode(sequence(lit(0L), col("mx"))).as("batch_id"))
        .select(col("batch_id"), (col("batch_id") * 1000).as("lo"),
          (col("batch_id") * 1000 + 999).as("hi"))
      RangeJoin.broadcastRangeLookup(ev, batches, "event_id", "lo", "hi",
        Seq("batch_id"))
        .filter(col("batch_id").isNotNull)
        .groupBy("batch_id").agg(count(lit(1)).as("n"))
        .orderBy("batch_id")
    },
      """WITH mx AS (SELECT max(event_id) // 1000 AS m FROM events),
        |batches AS (SELECT unnest(generate_series(0, m)) AS batch_id FROM mx)
        |SELECT b.batch_id, count(*) AS n
        |FROM events e JOIN batches b
        |  ON e.event_id BETWEEN b.batch_id * 1000 AND b.batch_id * 1000 + 999
        |GROUP BY b.batch_id ORDER BY b.batch_id""".stripMargin),

    // Group-wise feature normalization (per-lang z-score of doc length —
    // the ML-prep standardization step). Cross-engine float discipline
    // (the q75 Gini pattern): everything stays exact 64-bit integer
    // arithmetic — z = (x·n − Σx) / √(n·Σx² − (Σx)²) — until ONE double
    // division and ONE correctly-rounded sqrt, so even the float scores
    // hash-match. Never var_pop/stddev: engines disagree in ulps
    // (Welford vs naive). Stats side is O(groups) → broadcast join.
    QueryDef("q96_zscore", (s, dir) => {
      // moments in DECIMAL(38,0): Spark's long would wrap ss·n − s² past
      // 2⁶³ (~3M same-lang docs of 1k chars) while DuckDB's HUGEINT stays
      // exact — decimal keeps both sides exact to 38 digits, cast to
      // double only at the end
      val d = Tables.documents(s, dir)
        .select(col("doc_id"), col("lang"),
          col("n_chars").cast("decimal(38,0)").as("x"))
      val stats = d.groupBy("lang").agg(
        count(lit(1)).cast("decimal(38,0)").as("n"), sum(col("x")).as("s"),
        sum(col("x") * col("x")).as("ss"))
      d.join(broadcast(stats), Seq("lang"))
        .withColumn("varnum", col("ss") * col("n") - col("s") * col("s"))
        .filter(col("varnum") > 0)
        .select(col("doc_id"), col("lang"),
          ((col("x") * col("n") - col("s")).cast("double") /
            sqrt(col("varnum").cast("double"))).as("z"))
        .orderBy("doc_id")
    },
      """WITH stats AS (
        |  SELECT lang, count(*) AS n, sum(n_chars) AS s,
        |         sum(n_chars * n_chars) AS ss
        |  FROM documents GROUP BY lang)
        |SELECT d.doc_id, d.lang,
        |  CAST(d.n_chars * t.n - t.s AS DOUBLE)
        |    / sqrt(CAST(t.ss * t.n - t.s * t.s AS DOUBLE)) AS z
        |FROM documents d JOIN stats t USING (lang)
        |WHERE t.ss * t.n - t.s * t.s > 0
        |ORDER BY d.doc_id""".stripMargin),

    // Sessionized conversion funnel (view → click → purchase, strictly
    // ordered within a 1h-gap session): staged conditional-min
    // aggregations — each stage is a partial-agg groupBy on the session
    // key joined to the previous stage's timestamps, never a per-session
    // sort or collect. The funnel emits one row of stage survivor
    // counts.
    QueryDef("q100_funnel", (s, dir) => {
      val ev = Tables.events(s, dir).select("user_id", "ts_ns", "event_type")
      val sess = Sessions.sessionize(ev, "user_id", "ts_ns",
        gapNanos = 3600L * 1000000000L)
      val v = sess.groupBy("user_id", "session_id")
        .agg(min(when(col("event_type") === "view", col("ts_ns"))).as("t_view"))
        .filter(col("t_view").isNotNull)
      val c = sess.join(v, Seq("user_id", "session_id"))
        .filter(col("event_type") === "click" && col("ts_ns") > col("t_view"))
        .groupBy("user_id", "session_id").agg(min("ts_ns").as("t_click"))
      val p = sess.join(c, Seq("user_id", "session_id"))
        .filter(col("event_type") === "purchase" && col("ts_ns") > col("t_click"))
        .groupBy("user_id", "session_id").agg(min("ts_ns").as("t_purchase"))
      v.agg(count(lit(1)).as("n_view"))
        .crossJoin(c.agg(count(lit(1)).as("n_view_click")))
        .crossJoin(p.agg(count(lit(1)).as("n_full_funnel")))
    },
      """WITH x AS (
        |  SELECT user_id, ts, event_type,
        |    lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS pts
        |  FROM events),
        |sess AS (
        |  SELECT user_id, ts, event_type,
        |    sum(CASE WHEN pts IS NOT NULL AND ts - pts > INTERVAL 1 HOUR
        |             THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY user_id ORDER BY ts
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) + 1
        |      AS session_id
        |  FROM x),
        |v AS (
        |  SELECT user_id, session_id,
        |         min(CASE WHEN event_type = 'view' THEN ts END) AS t_view
        |  FROM sess GROUP BY 1, 2 HAVING t_view IS NOT NULL),
        |c AS (
        |  SELECT s.user_id, s.session_id, min(s.ts) AS t_click
        |  FROM sess s JOIN v ON s.user_id = v.user_id
        |                    AND s.session_id = v.session_id
        |  WHERE s.event_type = 'click' AND s.ts > v.t_view
        |  GROUP BY 1, 2),
        |p AS (
        |  SELECT s.user_id, s.session_id, min(s.ts) AS t_purchase
        |  FROM sess s JOIN c ON s.user_id = c.user_id
        |                    AND s.session_id = c.session_id
        |  WHERE s.event_type = 'purchase' AND s.ts > c.t_click
        |  GROUP BY 1, 2)
        |SELECT (SELECT count(*) FROM v) AS n_view,
        |       (SELECT count(*) FROM c) AS n_view_click,
        |       (SELECT count(*) FROM p) AS n_full_funnel""".stripMargin),

    // Dataset profiling: per-column row/null/distinct counts + string-
    // form min/max in ONE aggregation pass (Expand × |cols|, single
    // 1-row shuffle). Timestamp pre-cast to DATE — the cross-engine-
    // stable string form (doubles excluded for the same reason).
    QueryDef("q105_profile", (s, dir) =>
      Profile.profile(
        Tables.lineitem(s, dir).withColumn("l_shipdate",
          col("l_shipdate").cast("date")),
        Seq("l_returnflag", "l_linestatus", "l_orderkey", "l_partkey",
          "l_suppkey", "l_linenumber", "l_shipdate"))
        .orderBy("column"),
      """SELECT 'l_returnflag' AS "column", count(*) AS n_rows,
        |  count(l_returnflag) AS n_nonnull, count(DISTINCT l_returnflag) AS n_distinct,
        |  min(CAST(l_returnflag AS VARCHAR)) AS min_s,
        |  max(CAST(l_returnflag AS VARCHAR)) AS max_s FROM lineitem
        |UNION ALL
        |SELECT 'l_linestatus', count(*), count(l_linestatus),
        |  count(DISTINCT l_linestatus), min(CAST(l_linestatus AS VARCHAR)),
        |  max(CAST(l_linestatus AS VARCHAR)) FROM lineitem
        |UNION ALL
        |SELECT 'l_orderkey', count(*), count(l_orderkey),
        |  count(DISTINCT l_orderkey), min(CAST(l_orderkey AS VARCHAR)),
        |  max(CAST(l_orderkey AS VARCHAR)) FROM lineitem
        |UNION ALL
        |SELECT 'l_partkey', count(*), count(l_partkey),
        |  count(DISTINCT l_partkey), min(CAST(l_partkey AS VARCHAR)),
        |  max(CAST(l_partkey AS VARCHAR)) FROM lineitem
        |UNION ALL
        |SELECT 'l_suppkey', count(*), count(l_suppkey),
        |  count(DISTINCT l_suppkey), min(CAST(l_suppkey AS VARCHAR)),
        |  max(CAST(l_suppkey AS VARCHAR)) FROM lineitem
        |UNION ALL
        |SELECT 'l_linenumber', count(*), count(l_linenumber),
        |  count(DISTINCT l_linenumber), min(CAST(l_linenumber AS VARCHAR)),
        |  max(CAST(l_linenumber AS VARCHAR)) FROM lineitem
        |UNION ALL
        |SELECT 'l_shipdate', count(*), count(l_shipdate),
        |  count(DISTINCT CAST(l_shipdate AS DATE)),
        |  min(CAST(CAST(l_shipdate AS DATE) AS VARCHAR)),
        |  max(CAST(CAST(l_shipdate AS DATE) AS VARCHAR)) FROM lineitem
        |ORDER BY "column"""".stripMargin),

    // Equi-depth (quantile) histogram — the complement of q74's
    // equi-WIDTH bins: 10 bins of equal row count over price. Rank comes
    // from the distributed prefix-sum (range-partitioned sort + carry
    // pass), NEVER a global row_number window (which Spark plans as one
    // single-partition task — the canonical 100 TB anti-pattern; q94's
    // machinery). Ties: price is non-unique, but per-bin count/min/max
    // are invariant to tie order — equal-price rows are interchangeable
    // across the bin boundary — so the oracle's row_number agrees.
    QueryDef("q117_equidepth", (s, dir) => {
      val k = 10
      val ranked = PrefixSum.globalRunningSum(
        Tables.lineitem(s, dir).select(col("l_extendedprice").as("price"))
          .withColumn("__one", lit(1L)),
        "price", "__one", "rnk")
      ranked.crossJoin(broadcast(ranked.agg(max(col("rnk")).as("n"))))
        .select(expr(s"((rnk - 1) * $k) div n").as("bin"), col("price"))
        .groupBy("bin").agg(count(lit(1)).as("n_rows"),
          min("price").as("min_price"), max("price").as("max_price"))
        .orderBy("bin")
    },
      """WITH r AS (
        |  SELECT l_extendedprice AS price,
        |         row_number() OVER (ORDER BY l_extendedprice) AS rnk,
        |         count(*) OVER () AS n
        |  FROM lineitem)
        |SELECT CAST(((rnk - 1) * 10) // n AS BIGINT) AS bin,
        |  count(*) AS n_rows, min(price) AS min_price, max(price) AS max_price
        |FROM r GROUP BY 1 ORDER BY bin""".stripMargin),

    QueryDef("q118_mad_outliers", (s, dir) => {
      val c = Tables.events(s, dir)
        .select(col("event_type"),
          expr("CAST(round(value * 100) AS BIGINT)").as("c"))
        .localCheckpoint(false)
      val med = c.groupBy("event_type")
        .agg(expr("percentile(c, 0.5)").as("med"))
      val dev = c.join(broadcast(med), Seq("event_type"))
        .select(col("event_type"), col("med"),
          abs(col("c").cast("double") - col("med")).as("dev"))
      val mad = dev.groupBy("event_type")
        .agg(expr("percentile(dev, 0.5)").as("mad"))
      dev.join(broadcast(mad), Seq("event_type"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          max(col("med")).as("med_cents"),
          max(col("mad")).as("mad_cents"),
          count(when(col("dev") > lit(3d) * col("mad"), 1)).as("n_outliers"))
        .orderBy("event_type")
    },
      """WITH c AS (
        |  SELECT event_type, CAST(round(value * 100) AS BIGINT) AS c
        |  FROM events),
        |m AS (
        |  SELECT event_type, quantile_cont(c, 0.5) AS med FROM c GROUP BY 1),
        |d AS (
        |  SELECT c.event_type, abs(CAST(c.c AS DOUBLE) - m.med) AS dev, m.med
        |  FROM c JOIN m USING (event_type)),
        |md AS (
        |  SELECT event_type, quantile_cont(dev, 0.5) AS mad FROM d GROUP BY 1)
        |SELECT d.event_type, count(*) AS n,
        |  max(d.med) AS med_cents, max(md.mad) AS mad_cents,
        |  count(*) FILTER (WHERE d.dev > 3 * md.mad) AS n_outliers
        |FROM d JOIN md USING (event_type)
        |GROUP BY d.event_type ORDER BY d.event_type""".stripMargin),

    // Cohort retention: first-touch weekly cohorts × week-offset activity
    // cells. One hash(user) shuffle serves first-touch agg + join-back +
    // per-user cell dedup (subset-rule partitioning reuse); only the tiny
    // cohort×offset matrix re-shuffles. All-integer period arithmetic.
    QueryDef("q119_retention", (s, dir) =>
      Sessions.cohortRetention(
        Tables.events(s, dir).select("user_id", "ts_ns"),
        userCol = "user_id", tsNanosCol = "ts_ns", periodDays = 7)
        .orderBy("cohort", "offset"),
      """WITH e AS (
        |  SELECT user_id AS u, epoch_ns(ts) // 604800000000000 AS p
        |  FROM events),
        |f AS (SELECT u, min(p) AS p0 FROM e GROUP BY u),
        |x AS (
        |  SELECT DISTINCT e.u, f.p0 AS cohort, e.p - f.p0 AS "offset"
        |  FROM e JOIN f USING (u))
        |SELECT cohort, "offset", count(*) AS n_users
        |FROM x GROUP BY 1, 2 ORDER BY cohort, "offset"""".stripMargin),

    // Interval–interval overlap join (IntervalJoin.overlapJoin): lineitem
    // ship→receipt intervals × per-nation 45-day maintenance windows
    // (4 per nation, generated from nationkey — tiny → broadcast regime,
    // so the fact side NEVER shuffles). Binning turns the non-equi
    // overlap into an equi-join on (nation, 64-day bin); first-shared-bin
    // reporting makes output exactly-once with no dedup shuffle. The
    // oracle is the naive inequality join DuckDB plans as IEJoin.
    QueryDef("q123_interval_join", (s, dir) => {
      val li = Tables.lineitem(s, dir)
        .join(broadcast(Tables.supplier(s, dir)
          .select(col("s_suppkey").as("l_suppkey"),
            col("s_nationkey").as("nk"))), Seq("l_suppkey"))
        .select(col("nk"), col("l_orderkey"), col("l_linenumber"),
          to_date(col("l_shipdate")).as("ls"),
          date_add(to_date(col("l_shipdate")),
            col("l_quantity").cast("int") % 28).as("le"))
      val win = Tables.nation(s, dir)
        .select(col("n_nationkey").as("nk"),
          explode(sequence(lit(0), lit(3))).as("window_id"))
        .select(col("nk"), col("window_id"),
          date_add(to_date(lit("1992-01-01")),
            col("nk").cast("int") * 30 + col("window_id").cast("int") * 400)
            .as("ws"))
        .withColumn("we", date_add(col("ws"), 45))
      IntervalJoin.overlapJoin(li, win, "ls", "le", "ws", "we",
          keyCols = Seq("nk"), binWidth = 64L, broadcastRight = true)
        .select(col("nk").cast("long").as("nk"),
          col("l_orderkey"), col("l_linenumber"),
          col("window_id").cast("long").as("window_id"),
          (datediff(least(col("le"), col("we")),
            greatest(col("ls"), col("ws"))) + 1).cast("long")
            .as("overlap_days"))
        .orderBy("nk", "l_orderkey", "l_linenumber", "window_id")
    }, """
      |WITH li AS (
      |  SELECT s.s_nationkey AS nk, l.l_orderkey, l.l_linenumber,
      |         CAST(l.l_shipdate AS DATE) AS ls,
      |         CAST(l.l_shipdate AS DATE)
      |           + (CAST(l.l_quantity AS INTEGER) % 28) AS le
      |  FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey),
      |win AS (
      |  SELECT n.n_nationkey AS nk, q.window_id,
      |         DATE '1992-01-01' + (n.n_nationkey * 30 + q.window_id * 400) AS ws,
      |         DATE '1992-01-01' + (n.n_nationkey * 30 + q.window_id * 400 + 45) AS we
      |  FROM nation n CROSS JOIN (SELECT unnest([0,1,2,3]) AS window_id) q)
      |SELECT CAST(li.nk AS BIGINT) AS nk, li.l_orderkey, li.l_linenumber,
      |       CAST(win.window_id AS BIGINT) AS window_id,
      |       CAST(datediff('day', greatest(li.ls, win.ws),
      |                     least(li.le, win.we)) + 1 AS BIGINT) AS overlap_days
      |FROM li JOIN win ON li.nk = win.nk
      |  AND li.ls <= win.we AND win.ws <= li.le
      |ORDER BY nk, l_orderkey, l_linenumber, window_id""".stripMargin),

    // 7-day rolling per-user aggregates via a RANGE-frame window — the
    // moving-average shape. Events pre-aggregate to (user, day) BEFORE
    // the window (the frame input shrinks from events to user-days, and
    // intra-day order can no longer affect sums), day sums stay decimal
    // through the frame, and day is the unique per-user sort key (total
    // order). RANGE not ROWS: gap days must still look back 6 calendar
    // days, not 6 rows.
    QueryDef("q128_rolling", (s, dir) => {
      val daily = Tables.events(s, dir)
        .groupBy(col("user_id"), expr("ts_ns div 86400000000000").as("day"))
        .agg(sum(col("value").cast("decimal(28,10)")).as("d"))
      val w = Window.partitionBy("user_id").orderBy("day").rangeBetween(-6, 0)
      daily.select(col("user_id"), col("day"),
          col("d").cast("double").as("day_value"),
          sum(col("d")).over(w).cast("double").as("roll7_value"),
          count(lit(1)).over(w).as("roll7_days"))
        .orderBy("user_id", "day")
    }, """
      |WITH daily AS (
      |  SELECT user_id, epoch_ns(ts) // 86400000000000 AS day,
      |         sum(CAST(value AS DECIMAL(28,10))) AS d
      |  FROM events GROUP BY 1, 2)
      |SELECT user_id, day,
      |  CAST(d AS DOUBLE) AS day_value,
      |  CAST(sum(d) OVER w AS DOUBLE) AS roll7_value,
      |  CAST(count(*) OVER w AS BIGINT) AS roll7_days
      |FROM daily
      |WINDOW w AS (PARTITION BY user_id ORDER BY day
      |             RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
      |ORDER BY user_id, day""".stripMargin),

    // CUSUM change-point detection over the per-type daily event volume:
    // dev = n_days·count − total (exact-integer mean deviation), running
    // sum flags sustained level shifts. The heavy reduction is the
    // map-side-combined daily groupBy; the window runs over tiny
    // per-type day series.
    QueryDef("q132_cusum", (s, dir) => {
      val daily = Tables.events(s, dir)
        .groupBy(col("event_type"),
          expr("ts_ns div 86400000000000").as("day"))
        .agg(count(lit(1)).as("c"))
      Anomaly.cusum(daily, Seq("event_type"), "day", "c")
        .orderBy("event_type", "day")
    },
      """WITH daily AS (
        |  SELECT event_type, epoch_ns(ts) // 86400000000000 AS day,
        |         count(*) AS c
        |  FROM events GROUP BY 1, 2),
        |s AS (
        |  SELECT *, count(*) OVER (PARTITION BY event_type) AS n,
        |         sum(c) OVER (PARTITION BY event_type) AS t FROM daily),
        |r AS (
        |  SELECT event_type, day, c, t,
        |    CAST(sum(n * c - t) OVER (PARTITION BY event_type ORDER BY day)
        |      AS BIGINT) AS cusum
        |  FROM s)
        |SELECT event_type, day, CAST(c AS BIGINT) AS c, cusum,
        |       abs(cusum) > t AS breach
        |FROM r ORDER BY event_type, day""".stripMargin),

    // TPC-H Q5-shaped star join: revenue by nation where customer and
    // supplier share the nation, one region, one order-date year. Only
    // the constant-size dims (nation 25, region 5) are broadcast
    // explicitly; customer/supplier scale with the data, so their join
    // strategy is left to Catalyst stats + AQE (broadcast at bench SFs,
    // shuffle at 100 TB). Both filters reach the scans as PushedFilters
    // (asserted in QueriesSpec).
    QueryDef("q133_star_join", (s, dir) => {
      val li = Tables.lineitem(s, dir)
      val o = Tables.orders(s, dir)
        .filter(expr("o_orderdate >= TIMESTAMP '1996-01-01'") &&
          expr("o_orderdate < TIMESTAMP '1997-01-01'"))
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(Tables.customer(s, dir), col("o_custkey") === col("c_custkey"))
        .join(Tables.supplier(s, dir),
          col("l_suppkey") === col("s_suppkey") &&
            col("c_nationkey") === col("s_nationkey"))
        .join(broadcast(Tables.nation(s, dir)),
          col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables.region(s, dir).filter(col("r_name") === "ASIA")),
          col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("n_name").as("nation"))
        .agg(Aggregations.exactSum(
            col("l_extendedprice") * (lit(1.0) - col("l_discount")), 4)
          .as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy(desc("revenue"), col("nation"))
    },
      """SELECT n_name AS nation,
        |  CAST(sum(CAST(l_extendedprice * (1.0 - l_discount)
        |    AS DECIMAL(28,4))) AS DOUBLE) AS revenue,
        |  count(*) AS n_items
        |FROM lineitem
        |JOIN orders   ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |              AND c_nationkey = s_nationkey
        |JOIN nation   ON s_nationkey = n_nationkey
        |JOIN region   ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1997-01-01'
        |GROUP BY 1
        |ORDER BY revenue DESC, nation""".stripMargin),

    // Pareto frontier per (returnflag, linestatus): line items no other
    // item beats on BOTH quantity and price — dominance analytics via
    // one dedup + one window, never the O(n²) anti-join. Prices compare
    // as exact integer cents.
    QueryDef("q135_pareto", (s, dir) =>
      Skyline.skyline2D(
        Tables.lineitem(s, dir).select(
          col("l_returnflag").as("rf"), col("l_linestatus").as("ls"),
          expr("CAST(round(l_quantity) AS BIGINT)").as("qty"),
          expr("CAST(round(l_extendedprice * 100) AS BIGINT)").as("price_c")),
        Seq("rf", "ls"), "qty", "price_c")
        .orderBy("rf", "ls", "qty"),
      """WITH pts AS (
        |  SELECT DISTINCT l_returnflag AS rf, l_linestatus AS ls,
        |    CAST(round(l_quantity) AS BIGINT) AS qty,
        |    CAST(round(l_extendedprice * 100) AS BIGINT) AS price_c
        |  FROM lineitem),
        |m AS (
        |  SELECT *, max(price_c) OVER (
        |    PARTITION BY rf, ls ORDER BY qty DESC, price_c DESC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS cm
        |  FROM pts)
        |SELECT rf, ls, qty, price_c FROM m
        |WHERE cm IS NULL OR cm < price_c
        |ORDER BY rf, ls, qty""".stripMargin),

    // Exact weighted median (weight = integer quantity) of the cent-
    // encoded price per return flag: occurrences collapse to one row
    // per distinct price before a single window pass — the window sorts
    // distinct values, never raw lineitems.
    QueryDef("q142_weighted_median", (s, dir) =>
      Aggregations.weightedMedian(
        Tables.lineitem(s, dir).select(col("l_returnflag"),
          expr("CAST(round(l_extendedprice * 100) AS BIGINT)").as("price_c"),
          expr("CAST(round(l_quantity) AS BIGINT)").as("qty")),
        Seq("l_returnflag"), "price_c", "qty")
        .orderBy("l_returnflag"),
      """WITH pv AS (
        |  SELECT l_returnflag, CAST(round(l_extendedprice * 100) AS BIGINT)
        |           AS v,
        |    CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS w
        |  FROM lineitem GROUP BY 1, 2),
        |c AS (
        |  SELECT l_returnflag, v,
        |    CAST(sum(w) OVER (PARTITION BY l_returnflag ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS cw,
        |    CAST(sum(w) OVER (PARTITION BY l_returnflag) AS BIGINT) AS tw
        |  FROM pv)
        |SELECT l_returnflag, min(v) AS w_median, max(tw) AS total_w
        |FROM c WHERE cw * 2 >= tw
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),

    // Exact p50/p90/p99 discrete quantiles of the cent-encoded order
    // total per priority class — the distribution-cutoff primitive a
    // quality pipeline thresholds on. Rank semantics defined by the
    // operator's own integer rank formula (NOT an engine quantile
    // builtin — those differ in interpolation/rounding across
    // engines); bracket+exact two-pass (r12): a ≤513-bucket log
    // histogram locates each rank's bucket, the exact scan windows
    // over in-bracket values only — never the column's cardinality
    // on one task.
    QueryDef("q146_quantiles", (s, dir) =>
      Aggregations.quantilesDisc(
        Tables.orders(s, dir).select(col("o_orderpriority"),
          expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("price_c"))
          .withColumn("one", lit(1L)),
        Seq("o_orderpriority"), "price_c", "one",
        Seq(500000L, 900000L, 990000L))
        .orderBy("o_orderpriority"),
      """WITH pv AS (
        |  SELECT o_orderpriority,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS v,
        |    CAST(count(*) AS BIGINT) AS w
        |  FROM orders GROUP BY 1, 2),
        |c AS (
        |  SELECT o_orderpriority, v,
        |    CAST(sum(w) OVER (PARTITION BY o_orderpriority ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS cw,
        |    CAST(sum(w) OVER (PARTITION BY o_orderpriority) AS BIGINT) AS tw
        |  FROM pv)
        |SELECT o_orderpriority,
        |  min(CASE WHEN cw * 1000000 >= 500000 * tw THEN v END) AS p500000,
        |  min(CASE WHEN cw * 1000000 >= 900000 * tw THEN v END) AS p900000,
        |  min(CASE WHEN cw * 1000000 >= 990000 * tw THEN v END) AS p990000,
        |  max(tw) AS total_w
        |FROM c GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin),

    // Exact grouped Pearson correlation (price vs quantity per return
    // flag): five DECIMAL(38,0) moments in ONE partial+final agg, exact
    // integer numerator/variances, one double division + two
    // correctly-rounded sqrts — hash-matches DuckDB (never corr():
    // engines disagree in ulps between Welford and naive accumulation).
    QueryDef("q149_grouped_corr", (s, dir) =>
      Aggregations.groupedPearson(
        Tables.lineitem(s, dir).select(col("l_returnflag"),
          expr("CAST(round(l_quantity) AS BIGINT)").as("qty"),
          expr("CAST(round(l_extendedprice * 100) AS BIGINT)").as("price_c")),
        Seq("l_returnflag"), "qty", "price_c")
        .orderBy("l_returnflag"),
      """WITH t AS (SELECT l_returnflag,
        |    CAST(round(l_quantity) AS BIGINT) AS x,
        |    CAST(round(l_extendedprice * 100) AS BIGINT) AS y
        |  FROM lineitem),
        |m AS (SELECT l_returnflag, CAST(count(*) AS HUGEINT) AS n,
        |    sum(CAST(x AS HUGEINT)) AS sx, sum(CAST(y AS HUGEINT)) AS sy,
        |    sum(CAST(x AS HUGEINT) * x) AS sxx,
        |    sum(CAST(y AS HUGEINT) * y) AS syy,
        |    sum(CAST(x AS HUGEINT) * y) AS sxy
        |  FROM t GROUP BY 1)
        |SELECT l_returnflag, CAST(n AS BIGINT) AS n,
        |  CAST(sxy * n - sx * sy AS DOUBLE) /
        |    (sqrt(CAST(sxx * n - sx * sx AS DOUBLE)) *
        |     sqrt(CAST(syy * n - sy * sy AS DOUBLE))) AS r
        |FROM m
        |WHERE sxx * n - sx * sx > 0 AND syy * n - sy * sy > 0
        |ORDER BY l_returnflag""".stripMargin),

    // Seasonal anomaly surface: per-(dow, hour) integer cent baseline
    // (pure epoch arithmetic — engine date functions disagree on week
    // start, `(days + 4) % 7` doesn't), top-100 residuals via
    // TakeOrdered. Baseline is 168 rows, broadcast back over the scan.
    QueryDef("q174_seasonal", (s, dir) => {
      val ev = Tables.events(s, dir).select(col("event_id"),
          expr("((ts_ns div 1000) div 86400000000 + 4) % 7").as("dow"),
          expr("((ts_ns div 1000) div 3600000000) % 24").as("hr"),
          expr("CAST(round(value * 100) AS BIGINT)").as("c"))
      val base = ev.groupBy("dow", "hr")
        .agg(expr("sum(c) div count(1)").as("base_c"))
      ev.join(broadcast(base), Seq("dow", "hr"))
        .select(col("event_id"), col("dow"), col("hr"), col("c"),
          (col("c") - col("base_c")).as("resid_c"))
        .orderBy(abs(col("resid_c")).desc, col("event_id")).limit(100)
        .orderBy("event_id")
    },
      """WITH ev AS (SELECT event_id,
        |  (epoch_us(ts) // 86400000000 + 4) % 7 AS dow,
        |  (epoch_us(ts) // 3600000000) % 24 AS hr,
        |  CAST(round(value * 100) AS BIGINT) AS c FROM events),
        |b AS (SELECT dow, hr, sum(c) // count(*) AS base_c
        |      FROM ev GROUP BY 1, 2),
        |r AS (SELECT event_id, ev.dow, ev.hr, c, c - base_c AS resid_c
        |      FROM ev JOIN b USING (dow, hr)
        |      ORDER BY abs(c - base_c) DESC, event_id LIMIT 100)
        |SELECT event_id, CAST(dow AS BIGINT) AS dow,
        |  CAST(hr AS BIGINT) AS hr, c, CAST(resid_c AS BIGINT) AS resid_c
        |FROM r ORDER BY event_id""".stripMargin),

    // Behavioral Markov chain: per-user event-type transition counts
    // and integer-ppm probabilities. The lag window sorts on MICROS
    // (ts_ns div 1000) — the oracle's timestamps are micro-truncated,
    // so nano-resolution sorting would diverge on sub-µs ties.
    QueryDef("q175_markov", (s, dir) => {
      val w = Window.partitionBy("user_id")
        .orderBy(expr("ts_ns div 1000"), col("event_id"))
      val tr = Tables.events(s, dir)
        .select(col("user_id"), col("event_id"), col("ts_ns"),
          col("event_type"))
        .withColumn("next_type", lead(col("event_type"), 1).over(w))
        .filter(col("next_type").isNotNull)
        .groupBy(col("event_type").as("from_type"),
          col("next_type").as("to_type"))
        .agg(count(lit(1)).as("n"))
      val tot = tr.groupBy("from_type").agg(sum("n").as("tot"))
      tr.join(broadcast(tot), Seq("from_type"))
        .select(col("from_type"), col("to_type"), col("n"),
          expr("(n * 1000000) div tot").as("p_ppm"))
        .orderBy("from_type", "to_type")
    },
      """WITH x AS (SELECT user_id, event_id, event_type,
        |  lead(event_type) OVER (PARTITION BY user_id
        |    ORDER BY ts, event_id) AS next_type FROM events),
        |tr AS (SELECT event_type AS from_type, next_type AS to_type,
        |  count(*) AS n FROM x WHERE next_type IS NOT NULL GROUP BY 1, 2),
        |tot AS (SELECT from_type, sum(n) AS tot FROM tr GROUP BY 1)
        |SELECT from_type, to_type, CAST(n AS BIGINT) AS n,
        |  CAST((n * 1000000) // tot AS BIGINT) AS p_ppm
        |FROM tr JOIN tot USING (from_type)
        |ORDER BY from_type, to_type""".stripMargin),

    // Training-data governance: k-anonymity / l-diversity audit over
    // quasi-identifier classes (nation, segment, balance-thousand) with
    // exact balance cents as the sensitive attribute. One grouped agg;
    // the single count(DISTINCT) plans as a plain two-phase agg (no
    // Expand — that trap needs multiple distincts).
    QueryDef("q176_k_anonymity", (s, dir) => {
      val c = Tables.customer(s, dir).select(
        col("c_nationkey").cast("long").as("nation"),
        col("c_mktsegment").as("segment"),
        expr("CAST(round(c_acctbal) AS BIGINT) div 1000").as("bal_k"),
        expr("CAST(round(c_acctbal * 100) AS BIGINT)").as("cents"))
      c.groupBy("nation", "segment", "bal_k")
        .agg(count(lit(1)).as("n"),
          countDistinct(col("cents")).as("l_div"))
        .select(col("nation"), col("segment"), col("bal_k"), col("n"),
          col("l_div"),
          (col("n") < 5).cast("int").as("k_risk"),
          (col("l_div") < 2).cast("int").as("l_risk"))
        .orderBy("nation", "segment", "bal_k")
    },
      """WITH c AS (SELECT CAST(c_nationkey AS BIGINT) AS nation,
        |  c_mktsegment AS segment,
        |  CAST(round(c_acctbal) AS BIGINT) // 1000 AS bal_k,
        |  CAST(round(c_acctbal * 100) AS BIGINT) AS cents
        | FROM customer)
        |SELECT nation, segment, bal_k, CAST(count(*) AS BIGINT) AS n,
        |  CAST(count(DISTINCT cents) AS BIGINT) AS l_div,
        |  CAST(CASE WHEN count(*) < 5 THEN 1 ELSE 0 END AS INT) AS k_risk,
        |  CAST(CASE WHEN count(DISTINCT cents) < 2 THEN 1 ELSE 0 END AS INT)
        |    AS l_risk
        |FROM c GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin),

    // Categorical data profiling with exact integer Gini impurity:
    // unpivot -> (key, value) counts -> per-key rollup (the Profile
    // lesson: never multi-count(DISTINCT) in one Aggregate). Shares are
    // ppm floors; gini_ppm = 1e6 - sum(share^2 div 1e6) — an exact
    // integer contract, overflow-safe at any n.
    QueryDef("q179_gini_profile", (s, dir) => {
      val u = Tables.orders(s, dir).select(expr(
        "stack(3, 'status', o_orderstatus, 'priority', o_orderpriority," +
          " 'cust', CAST(o_custkey AS STRING)) AS (k, value)"))
      val counts = u.groupBy("k", "value").agg(count(lit(1)).as("cnt"))
      val tot = counts.groupBy("k")
        .agg(sum("cnt").as("n"), count(lit(1)).as("n_distinct"),
          max("cnt").as("top"))
      counts.join(broadcast(tot), Seq("k"))
        .withColumn("share", expr("(cnt * 1000000) div n"))
        .groupBy(col("k"), col("n"), col("n_distinct"),
          expr("(top * 1000000) div n").as("top_share_ppm"))
        .agg((lit(1000000L) - sum(expr("(share * share) div 1000000")))
          .as("gini_ppm"))
        .select("k", "n", "n_distinct", "top_share_ppm", "gini_ppm")
        .orderBy("k")
    },
      """WITH u AS (
        |  SELECT 'status' AS k, o_orderstatus AS value FROM orders
        |  UNION ALL
        |  SELECT 'priority', o_orderpriority FROM orders
        |  UNION ALL
        |  SELECT 'cust', CAST(o_custkey AS VARCHAR) FROM orders),
        |c AS (SELECT k, value, count(*) AS cnt FROM u GROUP BY 1, 2),
        |t AS (SELECT k, sum(cnt) AS n, count(*) AS n_distinct,
        |  max(cnt) AS top FROM c GROUP BY 1)
        |SELECT c.k, CAST(t.n AS BIGINT) AS n,
        |  CAST(t.n_distinct AS BIGINT) AS n_distinct,
        |  CAST((t.top * 1000000) // t.n AS BIGINT) AS top_share_ppm,
        |  CAST(1000000 - sum((((cnt * 1000000) // t.n)
        |    * ((cnt * 1000000) // t.n)) // 1000000) AS BIGINT) AS gini_ppm
        |FROM c JOIN t USING (k)
        |GROUP BY c.k, t.n, t.n_distinct, t.top
        |ORDER BY c.k""".stripMargin),

    // Recency-decayed activity scores with EXACT halving decay: each
    // event contributes cents >> age_days (arithmetic shift = floor
    // halving per day — bit-identical cross-engine, no float decay).
    QueryDef("q181_decay_score", (s, dir) => {
      val ev = Tables.events(s, dir).select(col("user_id"),
        expr("(ts_ns div 1000) div 86400000000").as("day"),
        expr("CAST(round(value * 100) AS BIGINT)").as("c"))
      val mx = ev.agg(max("day").as("maxd"))
      ev.join(broadcast(mx))
        .select(col("user_id"),
          expr("shiftright(c, CAST(least(maxd - day, 62) AS INT))").as("d"))
        .groupBy("user_id")
        .agg(count(lit(1)).as("n"), sum("d").as("decayed_c"))
        .orderBy("user_id")
    },
      """WITH ev AS (SELECT user_id, epoch_us(ts) // 86400000000 AS day,
        |  CAST(round(value * 100) AS BIGINT) AS c FROM events),
        |m AS (SELECT max(day) AS maxd FROM ev)
        |SELECT user_id, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(c >> CAST(least(maxd - day, 62) AS INT)) AS BIGINT)
        |    AS decayed_c
        |FROM ev, m GROUP BY user_id ORDER BY user_id""".stripMargin),

    // Join-skew diagnosis: the 50 hottest join-key values with ppm
    // shares — the report that decides salting/AQE-skew settings.
    QueryDef("q190_skew_report", (s, dir) => {
      val cnt = Tables.lineitem(s, dir)
        .groupBy(col("l_partkey").as("k")).agg(count(lit(1)).as("cnt"))
      cnt.join(broadcast(cnt.agg(sum("cnt").as("n"))))
        .select(col("k"), col("cnt"),
          expr("(cnt * 1000000) div n").as("share_ppm"))
        .orderBy(col("cnt").desc, col("k")).limit(50)
        .orderBy("k")
    },
      """WITH c AS (SELECT l_partkey AS k, count(*) AS cnt
        |  FROM lineitem GROUP BY 1),
        |t AS (SELECT sum(cnt) AS n FROM c),
        |top AS (SELECT k, cnt, (cnt * 1000000) // n AS share_ppm
        |  FROM c, t ORDER BY cnt DESC, k LIMIT 50)
        |SELECT k, CAST(cnt AS BIGINT) AS cnt,
        |  CAST(share_ppm AS BIGINT) AS share_ppm
        |FROM top ORDER BY k""".stripMargin),

    // Session-duration quantiles: gap sessions (1 h) -> per-session
    // duration in micros -> exact p50/p90 through the one-window-pass
    // discrete quantile machinery (q146).
    QueryDef("q191_session_quantiles", (s, dir) => {
      val ev = Tables.events(s, dir)
        .select(col("user_id"), col("ts_ns"),
          expr("ts_ns div 1000").as("tus"))
      val sess = Sessions.sessionize(ev, "user_id", "ts_ns",
        gapNanos = 3600L * 1000000000L)
      val dur = sess.groupBy("user_id", "session_id")
        .agg((max("tus") - min("tus")).as("dur_us"))
        .select(lit("all").as("g"), col("dur_us"), lit(1L).as("w"))
      Aggregations.quantilesDisc(dur, Seq("g"), "dur_us", "w",
        Seq(500000L, 900000L)).orderBy("g")
    },
      // q100's sessionization, per-session micro duration, then the q146
      // cumulative-weight quantile pattern on one global group.
      """WITH x AS (
        |  SELECT user_id, ts, epoch_us(ts) AS tus,
        |    lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS pts
        |  FROM events),
        |sess AS (
        |  SELECT user_id, tus,
        |    sum(CASE WHEN pts IS NOT NULL AND ts - pts > INTERVAL 1 HOUR
        |             THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY user_id ORDER BY ts
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) + 1
        |      AS session_id
        |  FROM x),
        |d AS (SELECT 'all' AS g, max(tus) - min(tus) AS v,
        |    CAST(1 AS BIGINT) AS w
        |  FROM sess GROUP BY user_id, session_id),
        |pv AS (SELECT g, v, CAST(sum(w) AS BIGINT) AS w FROM d
        |  GROUP BY 1, 2),
        |cu AS (SELECT g, v,
        |    CAST(sum(w) OVER (PARTITION BY g ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS cw,
        |    CAST(sum(w) OVER (PARTITION BY g) AS BIGINT) AS tw
        |  FROM pv)
        |SELECT g,
        |  min(CASE WHEN cw * 1000000 >= 500000 * tw THEN v END) AS p500000,
        |  min(CASE WHEN cw * 1000000 >= 900000 * tw THEN v END) AS p900000,
        |  max(tw) AS total_w
        |FROM cu GROUP BY g ORDER BY g""".stripMargin),

    // Activity heatmap: the full (dow, hour) grid of event counts and
    // exact cent sums — q174's baseline surface as a first-class
    // report. One grouped agg, 168 output rows at any scale.
    QueryDef("q192_activity_heatmap", (s, dir) =>
      Tables.events(s, dir).select(
          expr("((ts_ns div 1000) div 86400000000 + 4) % 7").as("dow"),
          expr("((ts_ns div 1000) div 3600000000) % 24").as("hr"),
          expr("CAST(round(value * 100) AS BIGINT)").as("c"))
        .groupBy("dow", "hr")
        .agg(count(lit(1)).as("n"), sum("c").as("total_c"))
        .orderBy("dow", "hr"),
      """SELECT (epoch_us(ts) // 86400000000 + 4) % 7 AS dow,
        |  (epoch_us(ts) // 3600000000) % 24 AS hr,
        |  CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
        |    AS total_c
        |FROM events GROUP BY 1, 2 ORDER BY dow, hr""".stripMargin),

    // Exact chi-square independence of (lang, source) — the
    // composition-drift test a dataset release runs; full grid
    // including zero cells, integer-ppm statistic, one corpus-sized
    // exchange (Aggregations.chiSquareIndependence).
    QueryDef("q195_chi2_mix", (s, dir) =>
      Aggregations.chiSquareIndependence(Tables.documents(s, dir),
        "lang", "source"),
      """WITH ob AS (SELECT lang AS r, source AS c, count(*) AS o
        |  FROM documents
        |  WHERE lang IS NOT NULL AND source IS NOT NULL GROUP BY 1, 2),
        |rt AS (SELECT r, sum(o) AS rt FROM ob GROUP BY 1),
        |ct AS (SELECT c, sum(o) AS ct FROM ob GROUP BY 1),
        |m AS (SELECT (SELECT sum(rt) FROM rt) AS n,
        |  (SELECT count(*) FROM rt) AS nr,
        |  (SELECT count(*) FROM ct) AS nc),
        |cells AS (SELECT rt.rt, ct.ct, coalesce(ob.o, 0) AS o
        |  FROM rt CROSS JOIN ct
        |  LEFT JOIN ob ON ob.r = rt.r AND ob.c = ct.c)
        |SELECT CAST(max(m.n) AS BIGINT) AS n,
        |  CAST(max(m.nr) AS BIGINT) AS n_row_cats,
        |  CAST(max(m.nc) AS BIGINT) AS n_col_cats,
        |  CAST(max((m.nr - 1) * (m.nc - 1)) AS BIGINT) AS dof,
        |  CAST(sum(((o * m.n - rt * ct) * (o * m.n - rt * ct) * 1000000)
        |    // (m.n * rt * ct)) AS BIGINT) AS chi2_ppm
        |FROM cells CROSS JOIN m""".stripMargin),

    // Outlier-robust rollup: per-flag winsorized price-cent sums at
    // the exact p05/p95 discrete quantiles
    // (Aggregations.winsorizedSums — two scans, broadcast cutoffs).
    QueryDef("q199_winsorized", (s, dir) =>
      Aggregations.winsorizedSums(
        Tables.lineitem(s, dir).select(col("l_returnflag"),
          expr("CAST(round(l_extendedprice * 100) AS BIGINT)").as("price_c")),
        Seq("l_returnflag"), "price_c", 50000L, 950000L)
        .orderBy("l_returnflag"),
      """WITH src AS (SELECT l_returnflag,
        |  CAST(round(l_extendedprice * 100) AS BIGINT) AS v FROM lineitem),
        |pv AS (SELECT l_returnflag, v, count(*) AS w FROM src GROUP BY 1, 2),
        |c AS (SELECT l_returnflag, v,
        |  sum(w) OVER (PARTITION BY l_returnflag ORDER BY v
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw,
        |  sum(w) OVER (PARTITION BY l_returnflag) AS tw FROM pv),
        |cuts AS (SELECT l_returnflag,
        |  min(CASE WHEN cw * 1000000 >= 50000 * tw THEN v END) AS lo,
        |  min(CASE WHEN cw * 1000000 >= 950000 * tw THEN v END) AS hi
        |  FROM c GROUP BY 1)
        |SELECT s.l_returnflag, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CASE WHEN s.v < lo OR s.v > hi THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_clipped,
        |  CAST(max(lo) AS BIGINT) AS lo, CAST(max(hi) AS BIGINT) AS hi,
        |  CAST(sum(s.v) AS BIGINT) AS sum_raw,
        |  CAST(sum(greatest(lo, least(hi, s.v))) AS BIGINT) AS sum_wins
        |FROM src s JOIN cuts USING (l_returnflag)
        |GROUP BY 1 ORDER BY l_returnflag""".stripMargin),

    // Per-flag equi-depth price histogram, 8 equal-population buckets
    // at exact discrete quantile cuts, zero cells emitted
    // (Aggregations.equiDepthHistogram — two scans, broadcast cuts).
    QueryDef("q204_equidepth_hist", (s, dir) =>
      Aggregations.equiDepthHistogram(
        Tables.lineitem(s, dir).select(col("l_returnflag"),
          expr("CAST(round(l_extendedprice * 100) AS BIGINT)").as("price_c")),
        Seq("l_returnflag"), "price_c", buckets = 8)
        .orderBy("l_returnflag", "bucket"), {
      val cutPpms = (1 until 8).map(k => k.toLong * 1000000L / 8)
      val cutDefs = cutPpms.zipWithIndex.map { case (q, i) =>
        s"min(CASE WHEN cw * 1000000 >= $q * tw THEN v END) AS c${i + 1}"
      }.mkString(",\n        |  ")
      val bucketSum = (1 to 7).map(i => s"(s.v > c$i)::BIGINT").mkString(" + ")
      s"""WITH src AS (SELECT l_returnflag AS g,
        |  CAST(round(l_extendedprice * 100) AS BIGINT) AS v FROM lineitem),
        |pv AS (SELECT g, v, count(*) AS w FROM src GROUP BY 1, 2),
        |c AS (SELECT g, v,
        |  sum(w) OVER (PARTITION BY g ORDER BY v
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw,
        |  sum(w) OVER (PARTITION BY g) AS tw FROM pv),
        |cuts AS (SELECT g,
        |  $cutDefs
        |  FROM c GROUP BY 1),
        |b AS (SELECT s.g, $bucketSum AS bucket, s.v
        |  FROM src s JOIN cuts USING (g)),
        |agg AS (SELECT g, bucket, count(*) AS n, sum(v) AS total
        |  FROM b GROUP BY 1, 2),
        |grid AS (SELECT g, unnest(generate_series(0, 7)) AS bucket FROM cuts)
        |SELECT grid.g AS l_returnflag, CAST(grid.bucket AS BIGINT) AS bucket,
        |  CAST(coalesce(agg.n, 0) AS BIGINT) AS n,
        |  CAST(coalesce(agg.total, 0) AS BIGINT) AS total
        |FROM grid LEFT JOIN agg ON agg.g = grid.g AND agg.bucket = grid.bucket
        |ORDER BY l_returnflag, bucket""".stripMargin
    }),

    // Robust anomaly gate: exact per-type MAD screen over event value
    // cents, outliers beyond median ± 3·MAD
    // (Aggregations.madOutliers — three scans, the exact-MAD floor).
    QueryDef("q210_mad_outliers", (s, dir) =>
      Aggregations.madOutliers(
        Tables.events(s, dir).select(col("event_type"),
          expr("CAST(round(value * 100) AS BIGINT)").as("value_c")),
        Seq("event_type"), "value_c", k = 3L)
        .orderBy("event_type"),
      """WITH src AS (SELECT event_type AS g,
        |    CAST(round(value * 100) AS BIGINT) AS v FROM events),
        |pv1 AS (SELECT g, v, count(*) AS w FROM src GROUP BY 1, 2),
        |c1 AS (SELECT g, v,
        |  sum(w) OVER (PARTITION BY g ORDER BY v
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw,
        |  sum(w) OVER (PARTITION BY g) AS tw FROM pv1),
        |med AS (SELECT g,
        |  min(CASE WHEN cw * 1000000 >= 500000 * tw THEN v END) AS med
        |  FROM c1 GROUP BY 1),
        |dev AS (SELECT s.g, s.v, abs(s.v - med.med) AS d, med.med
        |  FROM src s JOIN med USING (g)),
        |pv2 AS (SELECT g, d, count(*) AS w FROM dev GROUP BY 1, 2),
        |c2 AS (SELECT g, d,
        |  sum(w) OVER (PARTITION BY g ORDER BY d
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw,
        |  sum(w) OVER (PARTITION BY g) AS tw FROM pv2),
        |mad AS (SELECT g,
        |  min(CASE WHEN cw * 1000000 >= 500000 * tw THEN d END) AS mad
        |  FROM c2 GROUP BY 1)
        |SELECT dev.g AS event_type, CAST(count(*) AS BIGINT) AS n,
        |  CAST(max(dev.med) AS BIGINT) AS med,
        |  CAST(max(mad.mad) AS BIGINT) AS mad,
        |  CAST(sum(CASE WHEN dev.d > 3 * mad.mad THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_outliers
        |FROM dev JOIN mad USING (g)
        |GROUP BY 1 ORDER BY event_type""".stripMargin),

    // Weekly retention cohorts: users bucketed by first-seen epoch
    // week, distinct active users per (cohort, week offset) — the
    // classic retention triangle. Two aggs: per-user first week (one
    // user-keyed exchange), then a (user, week)-deduped count — no
    // count(DISTINCT) Expand, no window. Week keys derive from event
    // time in MICROS (ts_ns div 1000 — the DuckDB timestamp grid).
    QueryDef("q212_retention_cohorts", (s, dir) => {
      val ev = Tables.events(s, dir)
        .select(col("user_id"),
          expr("((ts_ns div 1000) div 604800000000)").as("wk"))
        .distinct()
      val first = ev.groupBy("user_id").agg(min(col("wk")).as("cohort"))
      ev.join(first, Seq("user_id"))
        .groupBy(col("cohort"), (col("wk") - col("cohort")).as("offset"))
        .agg(count(lit(1)).as("n_users"))
        .orderBy("cohort", "offset")
    },
      """WITH uw AS (SELECT DISTINCT user_id,
        |    epoch_us(ts) // 604800000000 AS wk FROM events),
        |f AS (SELECT user_id, min(wk) AS cohort FROM uw GROUP BY 1)
        |SELECT cohort, wk - cohort AS "offset",
        |  CAST(count(*) AS BIGINT) AS n_users
        |FROM uw JOIN f USING (user_id)
        |GROUP BY 1, 2 ORDER BY cohort, "offset"""".stripMargin),

    // Numeric distribution drift between alternating epoch weeks (the
    // A/B halves a release report compares): per event type, exact
    // p50/p90 of value cents in each half + integer drift ppm — the
    // numeric complement of q203's token-mix drift. Two quantilesDisc
    // passes over disjoint halves; week parity keys off the micros
    // grid.
    QueryDef("q215_quantile_drift", (s, dir) => {
      val ev = Tables.events(s, dir).select(col("event_type"),
        expr("CAST(round(value * 100) AS BIGINT)").as("v"),
        expr("((ts_ns div 1000) div 604800000000) % 2").as("par"))
      def half(p: Int): DataFrame =
        Aggregations.quantilesDisc(
          ev.filter(col("par") === p).withColumn("__w", lit(1L)),
          Seq("event_type"), "v", "__w", Seq(500000L, 900000L))
          .select(col("event_type"), col("p500000").as(s"p50_$p"),
            col("p900000").as(s"p90_$p"))
      // zero-median guard, identical both sides: Spark `div 0` yields
      // NULL while DuckDB `// 0` ERRORS, so an unguarded division fails
      // the two engines asymmetrically (ADVICE r11)
      half(0).join(half(1), Seq("event_type"))
        .withColumn("p50_drift_ppm",
          expr("CASE WHEN p50_0 = 0 THEN NULL " +
            "ELSE (abs(p50_1 - p50_0) * 1000000) div p50_0 END"))
        .withColumn("p90_drift_ppm",
          expr("CASE WHEN p90_0 = 0 THEN NULL " +
            "ELSE (abs(p90_1 - p90_0) * 1000000) div p90_0 END"))
        .orderBy("event_type")
    }, {
      def half(p: Int) =
        s"""pv$p AS (SELECT g, v, count(*) AS w FROM src
           |  WHERE par = $p GROUP BY 1, 2),
           |c$p AS (SELECT g, v,
           |  sum(w) OVER (PARTITION BY g ORDER BY v
           |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw,
           |  sum(w) OVER (PARTITION BY g) AS tw FROM pv$p),
           |q$p AS (SELECT g,
           |  min(CASE WHEN cw * 1000000 >= 500000 * tw THEN v END) AS p50_$p,
           |  min(CASE WHEN cw * 1000000 >= 900000 * tw THEN v END) AS p90_$p
           |  FROM c$p GROUP BY 1)""".stripMargin
      s"""WITH src AS (SELECT event_type AS g,
         |    CAST(round(value * 100) AS BIGINT) AS v,
         |    (epoch_us(ts) // 604800000000) % 2 AS par FROM events),
         |${half(0)},
         |${half(1)}
         |SELECT g AS event_type,
         |  CAST(p50_0 AS BIGINT) AS p50_0, CAST(p90_0 AS BIGINT) AS p90_0,
         |  CAST(p50_1 AS BIGINT) AS p50_1, CAST(p90_1 AS BIGINT) AS p90_1,
         |  CAST(CASE WHEN p50_0 = 0 THEN NULL
         |    ELSE (abs(p50_1 - p50_0) * 1000000) // p50_0 END AS BIGINT)
         |    AS p50_drift_ppm,
         |  CAST(CASE WHEN p90_0 = 0 THEN NULL
         |    ELSE (abs(p90_1 - p90_0) * 1000000) // p90_0 END AS BIGINT)
         |    AS p90_drift_ppm
         |FROM q0 JOIN q1 USING (g) ORDER BY event_type""".stripMargin
    }),

    // Exact per-value percentile ranks (value → rank ppm), the
    // normalization inverse of the q146/q215 quantile family — computed
    // with the bracket discipline generalized to ALL ranks
    // (Aggregations.percentileRanksPpm): the cumulative window
    // partitions by (group, log-bucket), never by group alone, so no
    // task ever holds a group's whole distinct-value set.
    QueryDef("q220_percentile_ranks", (s, dir) =>
      Aggregations.percentileRanksPpm(
        Tables.events(s, dir).select(col("event_type"),
          expr("CAST(round(value * 100) AS BIGINT)").as("v"))
          .withColumn("__w", lit(1L)),
        Seq("event_type"), "v", "__w")
        .orderBy("event_type", "v"),
      """WITH src AS (SELECT event_type AS g,
        |    CAST(round(value * 100) AS BIGINT) AS v FROM events),
        |pv AS (SELECT g, v, count(*) AS w FROM src
        |  WHERE v IS NOT NULL GROUP BY 1, 2),
        |c AS (SELECT g, v, w,
        |  sum(w) OVER (PARTITION BY g ORDER BY v
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw,
        |  sum(w) OVER (PARTITION BY g) AS tw FROM pv)
        |SELECT g AS event_type, v, CAST(w AS BIGINT) AS w,
        |  CAST((cw * 1000000) // tw AS BIGINT) AS rank_ppm
        |FROM c ORDER BY event_type, v""".stripMargin),

    // Rank-normalized user profile — the join-back use-case
    // q220's operator exists for: every event's value becomes its
    // within-type percentile rank (comparable across types whose raw
    // scales differ), then per user the mean rank surfaces accounts
    // whose activity is systematically high-value regardless of type.
    // The rank table is distinct-values-sized and joins back on the
    // natural (type, value) key.
    QueryDef("q223_rank_profile", (s, dir) => {
      val src = Tables.events(s, dir).select(col("user_id"),
        col("event_type"), expr("CAST(round(value * 100) AS BIGINT)").as("v"))
      val ranks = Aggregations.percentileRanksPpm(
        src.withColumn("__w", lit(1L)), Seq("event_type"), "v", "__w")
        .select(col("event_type"), col("v"), col("rank_ppm"))
      src.join(ranks, Seq("event_type", "v"))
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_events"),
          expr("sum(rank_ppm) div count(1)").as("avg_rank_ppm"))
        .orderBy(col("avg_rank_ppm").desc, col("user_id")).limit(100)
    },
      """WITH src AS (SELECT user_id, event_type AS g,
        |    CAST(round(value * 100) AS BIGINT) AS v FROM events),
        |pv AS (SELECT g, v, count(*) AS w FROM src
        |  WHERE v IS NOT NULL GROUP BY 1, 2),
        |c AS (SELECT g, v,
        |  sum(w) OVER (PARTITION BY g ORDER BY v
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw,
        |  sum(w) OVER (PARTITION BY g) AS tw FROM pv),
        |r AS (SELECT g, v, (cw * 1000000) // tw AS rank_ppm FROM c)
        |SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(sum(rank_ppm) // count(*) AS BIGINT) AS avg_rank_ppm
        |FROM src JOIN r USING (g, v)
        |GROUP BY 1 ORDER BY avg_rank_ppm DESC, user_id LIMIT 100""".stripMargin),

    // Join-skew pre-flight (Skew.joinSkewReport): before self-joining
    // events on user_id (views × clicks), rank the keys by their
    // output contribution n_left·n_right — the report that decides
    // between a plain join, AQE skew split, and Skew.saltedJoin. Two
    // key-sized aggs + one count-table join; the facts never shuffle
    // beyond their key counts.
    QueryDef("q224_join_skew", (s, dir) => {
      val ev = Tables.events(s, dir)
      Skew.joinSkewReport(
        ev.filter(col("event_type") === "view").select("user_id"),
        ev.filter(col("event_type") === "click").select("user_id"),
        "user_id", k = 50)
    },
      """WITH l AS (SELECT user_id, count(*) AS n_left FROM events
        |  WHERE event_type = 'view' AND user_id IS NOT NULL GROUP BY 1),
        |r AS (SELECT user_id, count(*) AS n_right FROM events
        |  WHERE event_type = 'click' AND user_id IS NOT NULL GROUP BY 1)
        |SELECT coalesce(l.user_id, r.user_id) AS user_id,
        |  CAST(coalesce(n_left, 0) AS BIGINT) AS n_left,
        |  CAST(coalesce(n_right, 0) AS BIGINT) AS n_right,
        |  CAST(coalesce(n_left, 0) * coalesce(n_right, 0) AS BIGINT)
        |    AS out_rows
        |FROM l FULL OUTER JOIN r ON l.user_id = r.user_id
        |ORDER BY out_rows DESC, user_id LIMIT 50""".stripMargin),

    // Split-balance audit: chi-square independence of (source, split)
    // over q214's md5 split assignment — the release check that the
    // deterministic splitter did not correlate with any source
    // (chi2_ppm ≈ dof·1e6 under independence). Reuses the q195
    // operator; the split column is a scan-stage expression.
    QueryDef("q225_split_balance", (s, dir) =>
      Aggregations.chiSquareIndependence(
        Tables.documents(s, dir)
          .withColumn("__p",
            conv(substring(md5(col("doc_id").cast("string").cast("binary")),
              1, 8), 16, 10).cast("long") % 1000000L)
          .withColumn("split",
            when(col("__p") < 800000L, "train")
              .when(col("__p") < 900000L, "val").otherwise("test")),
        "source", "split"),
      """WITH d AS (SELECT source,
        |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
        |      % 1000000 AS p FROM documents),
        |ob AS (SELECT source AS r,
        |    CASE WHEN p < 800000 THEN 'train'
        |         WHEN p < 900000 THEN 'val' ELSE 'test' END AS c,
        |    count(*) AS o
        |  FROM d WHERE source IS NOT NULL GROUP BY 1, 2),
        |rt AS (SELECT r, sum(o) AS rt FROM ob GROUP BY 1),
        |ct AS (SELECT c, sum(o) AS ct FROM ob GROUP BY 1),
        |m AS (SELECT (SELECT sum(rt) FROM rt) AS n,
        |  (SELECT count(*) FROM rt) AS nr,
        |  (SELECT count(*) FROM ct) AS nc),
        |cells AS (SELECT rt.rt, ct.ct, coalesce(ob.o, 0) AS o
        |  FROM rt CROSS JOIN ct
        |  LEFT JOIN ob ON ob.r = rt.r AND ob.c = ct.c)
        |SELECT CAST(max(m.n) AS BIGINT) AS n,
        |  CAST(max(m.nr) AS BIGINT) AS n_row_cats,
        |  CAST(max(m.nc) AS BIGINT) AS n_col_cats,
        |  CAST(max((m.nr - 1) * (m.nc - 1)) AS BIGINT) AS dof,
        |  CAST(sum(((o * m.n - rt * ct) * (o * m.n - rt * ct) * 1000000)
        |    // (m.n * rt * ct)) AS BIGINT) AS chi2_ppm
        |FROM cells CROSS JOIN m""".stripMargin),

    // Hourly volume anomalies: events roll up to (type, hour) counts,
    // then Aggregations.madFlag attaches each type's exact median/MAD
    // hourly volume and emits the spiking hours themselves — the
    // row-level sibling of q210's count-only screen, over a derived
    // time series instead of raw values. The MAD passes run over the
    // hours-sized rollup, not the corpus.
    QueryDef("q226_volume_anomalies", (s, dir) => {
      val hourly = Tables.events(s, dir)
        .groupBy(col("event_type"),
          expr("((ts_ns div 1000) div 3600000000)").as("hr"))
        .agg(count(lit(1)).as("n"))
      Aggregations.madFlag(hourly, Seq("event_type"), "n", k = 3)
        .filter(col("is_outlier"))
        .select("event_type", "hr", "n", "med", "mad")
        .orderBy("event_type", "hr")
    },
      """WITH src AS (SELECT event_type AS g,
        |    epoch_us(ts) // 3600000000 AS hr, count(*) AS n
        |  FROM events GROUP BY 1, 2),
        |c1 AS (SELECT g, n,
        |  sum(w) OVER (PARTITION BY g ORDER BY n
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw,
        |  sum(w) OVER (PARTITION BY g) AS tw
        |  FROM (SELECT g, n, count(*) AS w FROM src GROUP BY 1, 2)),
        |med AS (SELECT g,
        |  min(CASE WHEN cw * 1000000 >= 500000 * tw THEN n END) AS med
        |  FROM c1 GROUP BY 1),
        |dev AS (SELECT s.g, s.hr, s.n, abs(s.n - med.med) AS d, med.med
        |  FROM src s JOIN med USING (g)),
        |c2 AS (SELECT g, d,
        |  sum(w) OVER (PARTITION BY g ORDER BY d
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw,
        |  sum(w) OVER (PARTITION BY g) AS tw
        |  FROM (SELECT g, d, count(*) AS w FROM dev GROUP BY 1, 2)),
        |mad AS (SELECT g,
        |  min(CASE WHEN cw * 1000000 >= 500000 * tw THEN d END) AS mad
        |  FROM c2 GROUP BY 1)
        |SELECT dev.g AS event_type, dev.hr, CAST(dev.n AS BIGINT) AS n,
        |  CAST(dev.med AS BIGINT) AS med, CAST(mad.mad AS BIGINT) AS mad
        |FROM dev JOIN mad USING (g)
        |WHERE dev.d > 3 * mad.mad
        |ORDER BY event_type, hr""".stripMargin),

    // Market-basket lift over SESSION baskets: events sessionize by
    // 1-hour gaps (q100's session core), each session's distinct
    // event types form a basket, and every type pair reports observed
    // co-occurrence against the independence expectation as integer
    // lift ppm (the collocations formula lifted from adjacent tokens
    // to session baskets). The basket self-join is keyed by
    // (user, session) with ≤ |types| rows per key — never all-pairs —
    // and the basket table is checkpointed once for its three reads.
    // Products ride DECIMAL(38,0) (the chi-square discipline).
    QueryDef("q227_session_baskets", (s, dir) => {
      val ev = Tables.events(s, dir).select("user_id", "ts_ns", "event_type")
      val sess = Sessions.sessionize(ev, "user_id", "ts_ns",
        gapNanos = 3600L * 1000000000L)
      val baskets = sess.select(col("user_id"), col("session_id"),
        col("event_type").as("t")).distinct()
        .localCheckpoint(true)
      val n = baskets.select("user_id", "session_id").distinct()
        .agg(count(lit(1)).as("__n"))
      val singles = baskets.groupBy(col("t")).agg(count(lit(1)).as("c"))
      val pairs = baskets.as("a").join(baskets.as("b"),
          col("a.user_id") === col("b.user_id") &&
            col("a.session_id") === col("b.session_id") &&
            col("a.t") < col("b.t"))
        .groupBy(col("a.t").as("t_a"), col("b.t").as("t_b"))
        .agg(count(lit(1)).as("c_ab"))
      pairs
        .join(singles.select(col("t").as("t_a"), col("c").as("c_a")), "t_a")
        .join(singles.select(col("t").as("t_b"), col("c").as("c_b")), "t_b")
        .crossJoin(broadcast(n))
        .select(col("t_a"), col("t_b"), col("c_ab"), col("c_a"), col("c_b"),
          expr("CAST((CAST(c_ab AS DECIMAL(38,0)) * __n * 1000000) div " +
            "(CAST(c_a AS DECIMAL(38,0)) * c_b) AS BIGINT)").as("lift_ppm"))
        .orderBy("t_a", "t_b")
    },
      """WITH x AS (
        |  SELECT user_id, ts, event_type,
        |    lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS pts
        |  FROM events),
        |sess AS (
        |  SELECT user_id, ts, event_type,
        |    sum(CASE WHEN pts IS NOT NULL AND ts - pts > INTERVAL 1 HOUR
        |             THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY user_id ORDER BY ts
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) + 1
        |      AS session_id
        |  FROM x),
        |b AS MATERIALIZED (
        |  SELECT DISTINCT user_id, session_id, event_type AS t FROM sess),
        |nn AS (SELECT count(*) AS n
        |  FROM (SELECT DISTINCT user_id, session_id FROM b)),
        |s1 AS (SELECT t, count(*) AS c FROM b GROUP BY 1),
        |pr AS (SELECT a.t AS t_a, bb.t AS t_b, count(*) AS c_ab
        |  FROM b a JOIN b bb ON a.user_id = bb.user_id
        |    AND a.session_id = bb.session_id AND a.t < bb.t
        |  GROUP BY 1, 2)
        |SELECT t_a, t_b, CAST(c_ab AS BIGINT) AS c_ab,
        |  CAST(sa.c AS BIGINT) AS c_a, CAST(sb.c AS BIGINT) AS c_b,
        |  CAST((CAST(c_ab AS HUGEINT) * nn.n * 1000000) //
        |    (CAST(sa.c AS HUGEINT) * sb.c) AS BIGINT) AS lift_ppm
        |FROM pr JOIN s1 sa ON sa.t = pr.t_a
        |        JOIN s1 sb ON sb.t = pr.t_b CROSS JOIN nn
        |ORDER BY t_a, t_b""".stripMargin),

    // Time-to-convert distribution: per session that converts (first
    // view followed by a purchase), exact p50/p90 of seconds from the
    // first view to the first subsequent purchase — q100's funnel core
    // with a quantile tail instead of survivor counts. Durations in
    // whole seconds off the shared micros grid; the quantile input is
    // sessions-sized and join-derived, so routing takes bracket+exact.
    QueryDef("q228_conversion_time", (s, dir) => {
      val ev = Tables.events(s, dir).select("user_id", "ts_ns", "event_type")
      val sess = Sessions.sessionize(ev, "user_id", "ts_ns",
        gapNanos = 3600L * 1000000000L)
      val v = sess.groupBy("user_id", "session_id")
        .agg(min(when(col("event_type") === "view", col("ts_ns"))).as("t_view"))
        .filter(col("t_view").isNotNull)
      // strictly-after comparison on the shared MICROS grid (the q175
      // lesson): DuckDB timestamps are micro-truncated, so a nano-grid
      // `ts_ns > t_view` would include a purchase sharing the first
      // view's microsecond with later nanos that the oracle excludes.
      // min commutes with truncation, so t_view needs no change.
      val p = sess.join(v, Seq("user_id", "session_id"))
        .filter(col("event_type") === "purchase" &&
          expr("(ts_ns div 1000) > (t_view div 1000)"))
        .groupBy("user_id", "session_id").agg(min("ts_ns").as("t_purchase"))
      val d = p.join(v, Seq("user_id", "session_id"))
        .select(lit("all").as("g"),
          expr("((t_purchase div 1000) - (t_view div 1000)) div 1000000")
            .as("secs"),
          lit(1L).as("w"))
      Aggregations.quantilesDisc(d, Seq("g"), "secs", "w",
        Seq(500000L, 900000L)).orderBy("g")
    },
      """WITH x AS (
        |  SELECT user_id, ts, event_type,
        |    lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS pts
        |  FROM events),
        |sess AS (
        |  SELECT user_id, ts, event_type,
        |    sum(CASE WHEN pts IS NOT NULL AND ts - pts > INTERVAL 1 HOUR
        |             THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY user_id ORDER BY ts
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) + 1
        |      AS session_id
        |  FROM x),
        |v AS (
        |  SELECT user_id, session_id,
        |         min(CASE WHEN event_type = 'view' THEN ts END) AS t_view
        |  FROM sess GROUP BY 1, 2 HAVING t_view IS NOT NULL),
        |p AS (
        |  SELECT s.user_id, s.session_id, min(s.ts) AS t_purchase
        |  FROM sess s JOIN v ON s.user_id = v.user_id
        |                    AND s.session_id = v.session_id
        |  WHERE s.event_type = 'purchase' AND s.ts > v.t_view
        |  GROUP BY 1, 2),
        |d AS (
        |  SELECT 'all' AS g,
        |    (epoch_us(p.t_purchase) - epoch_us(v.t_view)) // 1000000 AS secs
        |  FROM p JOIN v ON p.user_id = v.user_id
        |              AND p.session_id = v.session_id),
        |pv AS (SELECT g, secs, count(*) AS w FROM d GROUP BY 1, 2),
        |c AS (SELECT g, secs, w,
        |  sum(w) OVER (PARTITION BY g ORDER BY secs
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw,
        |  sum(w) OVER (PARTITION BY g) AS tw FROM pv)
        |SELECT g,
        |  CAST(min(CASE WHEN cw * 1000000 >= 500000 * tw THEN secs END)
        |    AS BIGINT) AS p500000,
        |  CAST(min(CASE WHEN cw * 1000000 >= 900000 * tw THEN secs END)
        |    AS BIGINT) AS p900000,
        |  CAST(max(tw) AS BIGINT) AS total_w
        |FROM c GROUP BY 1 ORDER BY g""".stripMargin),

    // Auto-routed skew join (Skew.decideJoinPlan — q224's report turned
    // into a decision): views keyed by a deliberately skewed key (every
    // even user collapses to -1, so one key owns ~half the fact) join a
    // per-key click-count dim; the pre-flight measures the top key's
    // output share and routes to Skew.saltedJoin. hotKeyRowLimit is
    // pinned low so the SALTED regime is the one exercised and
    // oracle-checked at test SFs (production resolves the 4M conf
    // default); the rewrite is purely physical, so the oracle is the
    // plain join.
    QueryDef("q229_skew_routed_join", (s, dir) => {
      val ev = Tables.events(s, dir)
      def k = when(col("user_id") % 2 === 0, lit(-1L))
        .otherwise(col("user_id")).as("k")
      val fact = ev.filter(col("event_type") === "view")
        .select(k, col("value"))
      val dim = ev.filter(col("event_type") === "click")
        .select(k).groupBy("k").agg(count(lit(1)).as("n_clicks"))
      val (joined, _) = Skew.decideJoinPlan(fact, dim, "k",
        buckets = 8, hotKeyRowLimit = 64)
      joined.groupBy("k")
        .agg(count(lit(1)).as("n_views"), max(col("n_clicks")).as("n_clicks"),
          expr("sum(CAST(round(value * 100) AS BIGINT))").as("total_c"))
        .orderBy("k")
    },
      """WITH f AS (
        |  SELECT CASE WHEN user_id % 2 = 0 THEN -1 ELSE user_id END AS k,
        |         value
        |  FROM events WHERE event_type = 'view'),
        |d AS (
        |  SELECT CASE WHEN user_id % 2 = 0 THEN -1 ELSE user_id END AS k,
        |         CAST(count(*) AS BIGINT) AS n_clicks
        |  FROM events WHERE event_type = 'click' GROUP BY 1)
        |SELECT k, CAST(count(*) AS BIGINT) AS n_views,
        |  max(n_clicks) AS n_clicks,
        |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS total_c
        |FROM f JOIN d USING (k)
        |GROUP BY k ORDER BY k""".stripMargin)
  )
}
