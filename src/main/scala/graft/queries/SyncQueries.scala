package graft
package queries

import graft.operators._
import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import DuckSql._

/** The reference library's ETL pieces: transaction enrichment, log index,
  * chain state, block-range sync, pipelines, merges, snapshot diffs and
  * the validation audits. */
object SyncQueries {

  /** Lineitem recast as the reference's transaction stream: the flagship
    * enrichment input (SURVEY.md §3.1). */
  private def lineitemTxns(s: SparkSession, dir: String): DataFrame =
    LogIndex.addLogIndex(
      Tables.lineitem(s, dir).select(
        col("l_orderkey").as("transaction_id"),
        col("l_linenumber"),
        col("l_partkey").as("token_address"),
        col("l_extendedprice").as("coin_value"),
        col("l_tax").as("fee"),
        (col("l_linenumber") % 3).as("type"),
        col("l_shipdate")),
      partitionCol = "transaction_id",
      // (l_orderkey, l_linenumber) is NOT unique in the synthetic data, so
      // the order-by must form a total order within each transaction for a
      // deterministic rank (SURVEY.md §7.4 risk 1).
      orderBy = Seq("l_shipdate" -> true, "l_linenumber" -> true,
        "token_address" -> true, "coin_value" -> true, "fee" -> true))

  /** Part recast as token metadata + a per-brand price dimension (J1). */
  private def partDims(s: SparkSession, dir: String): DataFrame = {
    val part = Tables.part(s, dir)
    val meta = part.select(
      col("p_partkey").as("token_address"),
      col("p_brand").as("symbol"),
      (col("p_size") % 4).as("decimals"))
    val price = part.groupBy(col("p_brand").as("symbol"))
      .agg((max(col("p_retailprice")) / 1000.0).as("coin_price_usd"))
    Enrichment.dims(meta, price)
  }

  /** Events recast as the reference's typed-transfer frame (A3-A5 input):
    * type codes from event_type, synthetic fee/USD columns (deterministic
    * per-row arithmetic), and a DATE-typed block date. */
  private def eventTxns(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir).select(
      col("user_id").as("transaction_id"),
      col("event_type"),
      when(col("event_type") === "click", 0)
        .when(col("event_type") === "view", 1)
        .when(col("event_type") === "purchase", 2)
        .otherwise(3).as("type"),
      // value is 2-decimal; ×1.5/×0.25 keep products on short decimal
      // grids (3-5 digits), so DECIMAL(28,10) casts never round — exact
      // cross-engine sums with no HALF_UP/HALF_EVEN ambiguity.
      col("value").as("coin_value"),
      (col("value") * 1.5).as("coin_value_usd"),
      (col("value") * 0.25).as("fee"),
      (col("value") * 0.25 * 1.5).as("fee_usd"),
      col("ts").cast("date").as("block_date_time"),
      col("ts_ns"),
      col("event_id"))

  private val eventTxnsSql =
    """SELECT user_id AS transaction_id, event_type,
      | CASE WHEN event_type = 'click' THEN 0 WHEN event_type = 'view' THEN 1
      |      WHEN event_type = 'purchase' THEN 2 ELSE 3 END AS "type",
      | value AS coin_value, value * 1.5 AS coin_value_usd,
      | value * 0.25 AS fee, value * 0.25 * 1.5 AS fee_usd,
      | CAST(ts AS DATE) AS block_date_time, event_id
      |FROM events""".stripMargin

  /** q209's before/after snapshot pair — shared between the query and
    * its Verify-time key-uniqueness precondition. */
  private def q209Frames(s: SparkSession, dir: String)
      : (DataFrame, DataFrame) = {
    val o = Tables.orders(s, dir).select(col("o_orderkey"),
      col("o_custkey"), col("o_orderstatus"),
      expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("price_c"))
    val after = o.filter(col("o_orderkey") % 13 =!= 0)
      .withColumn("price_c", when(col("o_orderkey") % 7 === 0,
        col("price_c") + 1L).otherwise(col("price_c")))
      .unionByName(o.filter(col("o_orderkey") % 17 === 0)
        .withColumn("o_orderkey", col("o_orderkey") + lit(1000000000L)))
    (o, after)
  }

  val defs: Seq[QueryDef] = Seq(
    // W1 log_index: per-transaction row_number with total-order tiebreak.
    QueryDef("q02_log_index", (s, dir) =>
      lineitemTxns(s, dir)
        .select("transaction_id", "l_linenumber", "log_index")
        .orderBy("transaction_id", "l_linenumber"),
      """SELECT l_orderkey AS transaction_id, l_linenumber,
        | CAST(row_number() OVER (PARTITION BY l_orderkey
        |   ORDER BY l_shipdate, l_linenumber, l_partkey, l_extendedprice, l_tax)
        |   AS INT) AS log_index
        |FROM lineitem ORDER BY transaction_id, l_linenumber""".stripMargin),

    // §3.1 flagship enrichment: J1+J2 broadcast joins, P8 conditional
    // decimals, F1 scaling, F2 USD, tron fee rule.
    QueryDef("q03_enrich", (s, dir) =>
      Enrichment.enrich(lineitemTxns(s, dir), partDims(s, dir), tronFeeRule = true)
        .select("transaction_id", "l_linenumber", "token_address", "log_index",
          "coin_value", "coin_value_usd", "fee", "fee_usd")
        .orderBy("transaction_id", "l_linenumber"),
      """WITH price AS (
        |  SELECT p_brand AS symbol, max(p_retailprice) / 1000.0 AS coin_price_usd
        |  FROM part GROUP BY p_brand),
        |meta AS (
        |  SELECT p_partkey AS token_address, p_brand AS symbol,
        |         p_size % 4 AS decimals FROM part),
        |dims AS (
        |  SELECT m.token_address, p.coin_price_usd, m.decimals
        |  FROM meta m LEFT JOIN price p USING (symbol)),
        |txns AS (
        |  SELECT l_orderkey AS transaction_id, l_linenumber,
        |         l_partkey AS token_address, l_extendedprice AS coin_value,
        |         l_tax AS fee, l_linenumber % 3 AS typ,
        |         CAST(row_number() OVER (PARTITION BY l_orderkey
        |           ORDER BY l_shipdate, l_linenumber, l_partkey, l_extendedprice,
        |                    l_tax) AS INT) AS log_index
        |  FROM lineitem),
        |joined AS (
        |  SELECT t.transaction_id, t.l_linenumber, t.token_address, t.log_index,
        |    COALESCE(d.coin_price_usd, 0) AS price0,
        |    CAST(t.coin_value AS DOUBLE) /
        |      power(10.0, CASE WHEN t.typ IN (0,1) THEN 0
        |                       ELSE COALESCE(d.decimals, 0) END) AS cv,
        |    t.fee
        |  FROM txns t JOIN dims d USING (token_address))
        |SELECT transaction_id, l_linenumber, token_address, log_index,
        |  cv AS coin_value, cv * price0 AS coin_value_usd,
        |  CASE WHEN log_index > 1 THEN 0.0 ELSE fee END AS fee,
        |  (CASE WHEN log_index > 1 THEN 0.0 ELSE fee END) * price0 AS fee_usd
        |FROM joined ORDER BY transaction_id, l_linenumber""".stripMargin),

    // A3 transactions_agg: filtered sums by type code.
    QueryDef("q04_transactions_agg", (s, dir) =>
      Aggregations.transactionsAgg(eventTxns(s, dir)).orderBy("transaction_id"),
      s"""WITH txns AS ($eventTxnsSql)
         |SELECT transaction_id,
         | ${dSumWhere("\"type\" = 0", "coin_value")} AS external_value,
         | ${dSumWhere("\"type\" = 0", "coin_value_usd")} AS external_value_usd,
         | max(block_date_time) AS block_date,
         | ${dSum("fee")} AS txn_fee,
         | ${dSum("fee_usd")} AS txn_fee_usd,
         | ${dSumWhere("\"type\" = 1", "coin_value")} AS internal_value,
         | ${dSumWhere("\"type\" = 1", "coin_value_usd")} AS internal_value_usd,
         | ${dSumWhere("\"type\" = 2", "coin_value_usd")} AS token_transfer_usd
         |FROM txns GROUP BY transaction_id ORDER BY transaction_id""".stripMargin),

    // A4 link_inputs_agg: composite key, filtered + unfiltered sums.
    QueryDef("q05_link_inputs", (s, dir) =>
      Aggregations.linkInputsAgg(
        eventTxns(s, dir).withColumn("sender_address", col("event_type")))
        .orderBy("transaction_id", "sender_address"),
      s"""WITH txns AS ($eventTxnsSql)
         |SELECT transaction_id, event_type AS sender_address,
         | ${dSumWhere("\"type\" IN (0,1)", "coin_value + fee")} AS value,
         | ${dSum("coin_value_usd + fee_usd")} AS value_usd
         |FROM txns GROUP BY transaction_id, event_type
         |ORDER BY transaction_id, sender_address""".stripMargin),

    // A5 link_outputs_agg.
    QueryDef("q06_link_outputs", (s, dir) =>
      Aggregations.linkOutputsAgg(
        eventTxns(s, dir)
          .withColumn("receiver_address", (col("transaction_id") % 7).cast("string")))
        .orderBy("transaction_id", "receiver_address"),
      s"""WITH txns AS ($eventTxnsSql)
         |SELECT transaction_id,
         | CAST(transaction_id % 7 AS VARCHAR) AS receiver_address,
         | ${dSumWhere("\"type\" IN (0,1)", "coin_value")} AS value,
         | ${dSumWhere("\"type\" IN (0,1)", "coin_value_usd")} AS value_usd
         |FROM txns GROUP BY 1, 2 ORDER BY transaction_id, receiver_address""".stripMargin),

    // A6 chain_state pivot-table max.
    QueryDef("q07_chain_state", (s, dir) =>
      eventTxns(s, dir).groupBy("event_type").agg(
        max(col("coin_value")).as("max_value"),
        max(col("block_date_time")).as("max_date"),
        max(col("event_id")).as("max_event_id"))
        .orderBy("event_type"),
      """SELECT event_type, max(value) AS max_value,
        | max(CAST(ts AS DATE)) AS max_date, max(event_id) AS max_event_id
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin),

    // A1 one-pass max_by (the reference's two-query max fix, SURVEY.md §4).
    QueryDef("q19_latest_block", (s, dir) =>
      Tables.events(s, dir).agg(
        max(col("event_id")).as("head_event"),
        max_by(col("event_id"), col("ts_ns")).as("latest_event_id"),
        max(col("ts").cast("date")).as("head_date")),
      """SELECT max(event_id) AS head_event,
        | arg_max(event_id, ts) AS latest_event_id,
        | max(CAST(ts AS DATE)) AS head_date
        |FROM events""".stripMargin),

    // T2 sync-advance decision as a one-pass aggregate (SURVEY.md §2.10).
    QueryDef("q36_sync_advance", (s, dir) =>
      Tables.events(s, dir).agg(
        least(max(col("event_id")) - lit(50L), lit(2000L)).as("next_watermark"),
        (least(max(col("event_id")) - lit(50L), lit(2000L)) > lit(0L)).as("should_run")),
      """SELECT CAST(least(max(event_id) - 50, 2000) AS BIGINT) AS next_watermark,
        | least(max(event_id) - 50, 2000) > 0 AS should_run
        |FROM events""".stripMargin),

    // §3.1+§3.2 composed pipeline: enrichment spine → transactions-vertex
    // aggregation (compute-once fan-out is exercised in PipelinesSpec;
    // here the vertex branch is oracle-checked end-to-end).
    QueryDef("q41_pipeline_vertices", (s, dir) => {
      val part = Tables.part(s, dir)
      val enriched = pipelines.Pipelines.enrichmentPipeline(
        Tables.lineitem(s, dir).select(
          col("l_orderkey").as("transaction_id"),
          col("l_linenumber"),
          col("l_partkey").as("token_address"),
          col("l_extendedprice").as("coin_value"),
          col("l_tax").as("fee"),
          (col("l_linenumber") % 3).as("type"),
          col("l_shipdate"),
          col("l_shipdate").cast("date").as("block_date_time")),
        metadata = part.select(
          col("p_partkey").as("token_address"),
          col("p_brand").as("symbol"),
          (col("p_size") % 4).as("decimals")),
        prices = part.groupBy(col("p_brand").as("symbol"))
          .agg((max(col("p_retailprice")) / 1000.0).as("coin_price_usd")),
        sortSpec = Seq("l_shipdate" -> true, "l_linenumber" -> true,
          "token_address" -> true, "coin_value" -> true, "fee" -> true),
        tronFeeRule = true)
      Aggregations.transactionsAgg(enriched).orderBy("transaction_id")
    },
      s"""WITH price AS (
         |  SELECT p_brand AS symbol, max(p_retailprice) / 1000.0 AS coin_price_usd
         |  FROM part GROUP BY p_brand),
         |meta AS (
         |  SELECT p_partkey AS token_address, p_brand AS symbol,
         |         p_size % 4 AS decimals FROM part),
         |dims AS (
         |  SELECT m.token_address, p.coin_price_usd, m.decimals
         |  FROM meta m LEFT JOIN price p USING (symbol)),
         |txns AS (
         |  SELECT l_orderkey AS transaction_id, l_partkey AS token_address,
         |         l_extendedprice AS coin_value, l_tax AS fee,
         |         l_linenumber % 3 AS typ, CAST(l_shipdate AS DATE) AS bdt,
         |         row_number() OVER (PARTITION BY l_orderkey
         |           ORDER BY l_shipdate, l_linenumber, l_partkey,
         |                    l_extendedprice, l_tax) AS log_index
         |  FROM lineitem),
         |enriched AS (
         |  SELECT t.transaction_id, t.typ, t.bdt AS block_date_time,
         |    CAST(t.coin_value AS DOUBLE) /
         |      power(10.0, CASE WHEN t.typ IN (0,1) THEN 0
         |                       ELSE COALESCE(d.decimals, 0) END) AS cv,
         |    CAST(t.coin_value AS DOUBLE) /
         |      power(10.0, CASE WHEN t.typ IN (0,1) THEN 0
         |                       ELSE COALESCE(d.decimals, 0) END)
         |      * COALESCE(d.coin_price_usd, 0) AS cv_usd,
         |    CASE WHEN t.log_index > 1 THEN 0.0 ELSE t.fee END AS fee,
         |    (CASE WHEN t.log_index > 1 THEN 0.0 ELSE t.fee END)
         |      * COALESCE(d.coin_price_usd, 0) AS fee_usd
         |  FROM txns t JOIN dims d USING (token_address))
         |SELECT transaction_id,
         | ${dSumWhere("typ = 0", "cv")} AS external_value,
         | ${dSumWhere("typ = 0", "cv_usd")} AS external_value_usd,
         | max(block_date_time) AS block_date,
         | ${dSum("fee")} AS txn_fee,
         | ${dSum("fee_usd")} AS txn_fee_usd,
         | ${dSumWhere("typ = 1", "cv")} AS internal_value,
         | ${dSumWhere("typ = 1", "cv_usd")} AS internal_value_usd,
         | ${dSumWhere("typ = 2", "cv_usd")} AS token_transfer_usd
         |FROM enriched GROUP BY transaction_id ORDER BY transaction_id""".stripMargin),

    // J3 Ripple constant-key enrichment: degenerate join = broadcast of
    // one price row; in/out value math (SURVEY.md §2.3 J3, §2.8 F3).
    QueryDef("q42_ripple_enrich", (s, dir) => {
      val txns = Tables.events(s, dir).select(
        col("event_id").as("transaction_id"),
        col("value").as("coin_value"),
        (col("value") * 0.25).as("fee"))
      val price = Tables.events(s, dir)
        .agg((max(col("value")) / 100.0).as("coin_price_usd"))
      Enrichment.enrichConstantKey(txns, price)
        .select("transaction_id", "outgoing_value", "incoming_value",
          "outgoing_value_usd", "incoming_value_usd")
        .orderBy("transaction_id")
    },
      """WITH price AS (SELECT max(value) / 100.0 AS coin_price_usd FROM events)
        |SELECT event_id AS transaction_id,
        | value + value * 0.25 AS outgoing_value,
        | value AS incoming_value,
        | (value + value * 0.25) * coin_price_usd AS outgoing_value_usd,
        | value * coin_price_usd AS incoming_value_usd
        |FROM events CROSS JOIN price ORDER BY transaction_id""".stripMargin),

    // Corpus snapshot diff (CDC): yesterday's crawl vs today's, compared
    // by 128-bit content hash after a full outer join on doc_id →
    // added / removed / changed / unchanged counts. One shuffle on the
    // narrow (id, md5) projection — text never crosses the wire; at
    // 100 TB both sides prune to two columns at the scan and the diff is
    // O(|ids|) exchange bytes. Snapshots derived deterministically from
    // the documents table (id-ranges membership + a simulated edit).
    QueryDef("q92_snapshot_diff", (s, dir) => {
      val d = Tables.documents(s, dir)
      val old = d.filter(col("doc_id") % 10 =!= 0)
        .select(col("doc_id"), md5(col("text").cast("binary")).as("h_old"))
      val nw = d.filter(col("doc_id") % 10 =!= 9)
        .select(col("doc_id"),
          md5(when(col("doc_id") % 7 === 0, concat(col("text"), lit(" v2")))
            .otherwise(col("text")).cast("binary")).as("h_new"))
      old.join(nw, Seq("doc_id"), "full_outer")
        .select(when(col("h_old").isNull, "added")
          .when(col("h_new").isNull, "removed")
          .when(col("h_old") =!= col("h_new"), "changed")
          .otherwise("unchanged").as("status"))
        .groupBy("status").agg(count(lit(1)).as("n"))
        .orderBy("status")
    },
      """WITH old AS (
        |  SELECT doc_id, md5(text) AS h_old FROM documents WHERE doc_id % 10 <> 0),
        |nw AS (
        |  SELECT doc_id,
        |         md5(CASE WHEN doc_id % 7 = 0 THEN text || ' v2' ELSE text END)
        |           AS h_new
        |  FROM documents WHERE doc_id % 10 <> 9)
        |SELECT CASE WHEN h_old IS NULL THEN 'added'
        |            WHEN h_new IS NULL THEN 'removed'
        |            WHEN h_old <> h_new THEN 'changed'
        |            ELSE 'unchanged' END AS status, count(*) AS n
        |FROM old FULL OUTER JOIN nw USING (doc_id)
        |GROUP BY status ORDER BY status""".stripMargin),

    // Z-order layout audit: Morton-interleave (l_partkey, l_suppkey),
    // bucket on the z-value's high bits, and report per-bucket ranges of
    // BOTH dimensions — the evidence that one clustering key localizes
    // two filter columns at once (io/Layout.zorder2 feeds zorderedWrite;
    // here the bucket stats are the oracle-checkable surface). Pure
    // codegen'd integer bit ops, zero shuffles beyond the bucket agg.
    QueryDef("q121_zorder", (s, dir) =>
      Tables.lineitem(s, dir)
        .select(col("l_partkey"), col("l_suppkey"),
          graft.io.Layout.zorder2(col("l_partkey"), col("l_suppkey"))
            .as("z"))
        .groupBy(expr("z div 4096").as("zbucket"))
        .agg(count(lit(1)).as("n_rows"),
          min("l_partkey").as("min_part"), max("l_partkey").as("max_part"),
          min("l_suppkey").as("min_supp"), max("l_suppkey").as("max_supp"))
        .orderBy("zbucket"), {
      // Morton spread16 as nested SQL (same magic-mask doubling as
      // io/Layout.spread16); DuckDB & | << need full parenthesization.
      def sp(e: String): String = {
        val s0 = s"(($e) & 65535)"
        val s1 = s"((($s0 | ($s0 << 8))) & 16711935)"
        val s2 = s"((($s1 | ($s1 << 4))) & 252645135)"
        val s3 = s"((($s2 | ($s2 << 2))) & 858993459)"
        s"((($s3 | ($s3 << 1))) & 1431655765)"
      }
      val z = s"(${sp("l_partkey")} | (${sp("l_suppkey")} << 1))"
      s"""SELECT CAST(($z // 4096) AS BIGINT) AS zbucket,
         |  count(*) AS n_rows,
         |  min(l_partkey) AS min_part, max(l_partkey) AS max_part,
         |  min(l_suppkey) AS min_supp, max(l_suppkey) AS max_supp
         |FROM lineitem GROUP BY 1 ORDER BY zbucket""".stripMargin
    }),

    // CDC merge / lakehouse MERGE INTO (Merge.mergeChangelog): orders is
    // the base snapshot, lineitem plays a keyed changelog (seq =
    // l_linenumber, low-quantity lines are deletes). Last-write-wins via
    // ONE partial-agg shuffle — max over struct(seq, payload) — instead
    // of a row_number window that would sort every partition; shuffle
    // volume is distinct keys per map task, not input rows. Oracle
    // spells the same semantics as a window (unique (key, seq) makes
    // both orders total).
    QueryDef("q124_merge_upsert", (s, dir) => {
      val base = Tables.customer(s, dir)
        .select(col("c_custkey").as("k"), col("c_acctbal").as("v"))
      val chg = Tables.events(s, dir)
        .select(col("user_id").as("k"), col("value").as("v"),
          col("event_id").as("seq"),
          when(col("event_type") === "error", "D").otherwise("U").as("op"))
      Merge.mergeChangelog(base, chg, Seq("k"), "seq", "op", baseSeq = -1L)
        .select(col("k"), col("seq").as("last_seq"), col("v"))
        .orderBy("k")
    }, """
      |WITH all_rows AS (
      |  SELECT c_custkey AS k, c_acctbal AS v,
      |         CAST(-1 AS BIGINT) AS seq, 'U' AS op FROM customer
      |  UNION ALL
      |  SELECT user_id, value, event_id,
      |         CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END
      |  FROM events),
      |latest AS (
      |  SELECT k, v, seq, op,
      |         row_number() OVER (PARTITION BY k ORDER BY seq DESC) AS rn
      |  FROM all_rows)
      |SELECT k, seq AS last_seq, v
      |FROM latest WHERE rn = 1 AND op <> 'D'
      |ORDER BY k""".stripMargin),

    // Incremental rollup maintenance (Incremental.state/merge/finalize):
    // history and delta are aggregated separately into mergeable states
    // (count / exact decimal sum / min / max) and COMBINED — history is
    // never rescanned. The oracle recomputes the rollup from ALL raw
    // rows directly, so the green row proves merged-incremental ==
    // full-recompute bit-for-bit (decimal sums are associative; avg is
    // derived only at finalize).
    QueryDef("q127_incremental_rollup", (s, dir) => {
      val ev = Tables.events(s, dir)
        .select(col("event_type"), col("event_id"), col("value"))
      val hist = ev.filter(col("event_id") % 10 =!= 0)
      val delta = ev.filter(col("event_id") % 10 === 0)
      Incremental.finalizeState(
        Incremental.merge(Seq("event_type"),
          Incremental.state(hist, Seq("event_type"), "value"),
          Incremental.state(delta, Seq("event_type"), "value")),
        Seq("event_type"))
        .orderBy("event_type")
    }, """
      |SELECT event_type,
      |  count(*) AS n,
      |  CAST(sum(CAST(value AS DECIMAL(28,10))) AS DOUBLE) AS sum_value,
      |  min(value) AS min_value,
      |  max(value) AS max_value,
      |  CAST(sum(CAST(value AS DECIMAL(28,10))) AS DOUBLE) / count(*)
      |    AS avg_value
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin),

    // SCD Type-2 dimension build: each user's event_type stream becomes
    // validity-ranged version rows (consecutive unchanged states
    // compressed away). Duplicate (user, ts) rows are pre-collapsed
    // deterministically (min state) so the change log is unique-keyed.
    QueryDef("q130_scd2", (s, dir) => {
      // epoch MICROS, not ts_ns: DuckDB's parquet reader truncates the
      // nanos timestamp to its micro-precision TIMESTAMP, so nanos are
      // not cross-engine representable (same rule as q128's day math)
      val ch = Tables.events(s, dir)
        .groupBy(col("user_id"), expr("ts_ns div 1000").as("seq"))
        .agg(min(col("event_type")).as("state"))
      Merge.scdType2(ch, Seq("user_id"), "seq", Seq("state"))
        .orderBy("user_id", "version")
    },
      """WITH ch AS (
        |  SELECT user_id, epoch_us(ts) AS seq, min(event_type) AS state
        |  FROM events GROUP BY 1, 2),
        |f AS (
        |  SELECT *, lag(state) OVER (PARTITION BY user_id ORDER BY seq)
        |    AS prev FROM ch),
        |c AS (SELECT user_id, seq, state FROM f
        |      WHERE prev IS DISTINCT FROM state)
        |SELECT user_id, state,
        |  seq AS valid_from,
        |  lead(seq) OVER w AS valid_to,
        |  CAST(row_number() OVER w AS BIGINT) AS version,
        |  lead(seq) OVER w IS NULL AS is_current
        |FROM c
        |WINDOW w AS (PARTITION BY user_id ORDER BY seq)
        |ORDER BY user_id, version""".stripMargin),

    // Functional-dependency audit over TPC-H: one held FD, one key
    // check, two violated FDs, unioned into a single data-quality
    // report. Each audit is a distinct-pair agg keyed on the
    // determinant — count(DISTINCT) is deliberately absent (the Expand
    // trap), and nothing collects.
    QueryDef("q138_fd_audit", (s, dir) => {
      import graft.checks.Validations.fdAudit
      fdAudit(Tables.nation(s, dir), "nation->region",
          Seq("n_nationkey"), "n_regionkey")
        .unionByName(fdAudit(Tables.lineitem(s, dir), "orderline->part",
          Seq("l_orderkey", "l_linenumber"), "l_partkey"))
        .unionByName(fdAudit(Tables.lineitem(s, dir), "part->supp",
          Seq("l_partkey"), "l_suppkey"))
        .unionByName(fdAudit(Tables.orders(s, dir), "cust->priority",
          Seq("o_custkey"), "o_orderpriority"))
        .orderBy("fd")
    }, {
      def audit(name: String, table: String, det: Seq[String], dep: String) =
        s"""SELECT '$name' AS fd, count(*) AS n_keys,
           |  CAST(sum(CASE WHEN card > 1 THEN 1 ELSE 0 END) AS BIGINT)
           |    AS n_violating,
           |  CAST(max(card) AS BIGINT) AS max_card
           |FROM (
           |  SELECT ${det.mkString(", ")}, count(*) AS card
           |  FROM (SELECT DISTINCT ${(det :+ dep).mkString(", ")} FROM $table)
           |  GROUP BY ${det.mkString(", ")})""".stripMargin
      Seq(
        audit("nation->region", "nation", Seq("n_nationkey"), "n_regionkey"),
        audit("orderline->part", "lineitem",
          Seq("l_orderkey", "l_linenumber"), "l_partkey"),
        audit("part->supp", "lineitem", Seq("l_partkey"), "l_suppkey"),
        audit("cust->priority", "orders", Seq("o_custkey"), "o_orderpriority"))
        .mkString("", "\nUNION ALL\n", "\nORDER BY fd")
    }),

    // Referential-integrity audit: orphan foreign keys per relationship
    // (the complement of q138's FD audit) — three anti-join counts
    // unioned into one report.
    QueryDef("q185_ri_audit", (s, dir) => {
      def audit(rel: String, child: DataFrame, fk: String,
          parent: DataFrame, pk: String) = {
        val orphans = child.select(col(fk).as("k"))
          .join(parent.select(col(pk).as("k")), Seq("k"), "left_anti")
        child.agg(count(lit(1)).as("n_child"))
          .crossJoin(orphans.agg(count(lit(1)).as("n_orphans")))
          .select(lit(rel).as("relation"), col("n_child"), col("n_orphans"))
      }
      val li = Tables.lineitem(s, dir)
      audit("lineitem->orders", li, "l_orderkey",
          Tables.orders(s, dir), "o_orderkey")
        .unionByName(audit("lineitem->part", li, "l_partkey",
          Tables.part(s, dir), "p_partkey"))
        .unionByName(audit("orders->customer", Tables.orders(s, dir),
          "o_custkey", Tables.customer(s, dir), "c_custkey"))
        .orderBy("relation")
    },
      """SELECT 'lineitem->orders' AS relation,
        |  (SELECT CAST(count(*) AS BIGINT) FROM lineitem) AS n_child,
        |  (SELECT CAST(count(*) AS BIGINT) FROM lineitem l
        |   WHERE NOT EXISTS (SELECT 1 FROM orders o
        |                     WHERE o.o_orderkey = l.l_orderkey))
        |    AS n_orphans
        |UNION ALL
        |SELECT 'lineitem->part',
        |  (SELECT CAST(count(*) AS BIGINT) FROM lineitem),
        |  (SELECT CAST(count(*) AS BIGINT) FROM lineitem l
        |   WHERE NOT EXISTS (SELECT 1 FROM part p
        |                     WHERE p.p_partkey = l.l_partkey))
        |UNION ALL
        |SELECT 'orders->customer',
        |  (SELECT CAST(count(*) AS BIGINT) FROM orders),
        |  (SELECT CAST(count(*) AS BIGINT) FROM orders o
        |   WHERE NOT EXISTS (SELECT 1 FROM customer c
        |                     WHERE c.c_custkey = o.o_custkey))
        |ORDER BY relation""".stripMargin),

    // Order-independent content checksums for three tables in one sync
    // report — count parity upgraded to content parity
    // (Validations.tableChecksum: scan-stage md5 prefix, one single-row
    // agg per table, zero wide exchanges).
    QueryDef("q194_table_checksum", (s, dir) =>
      checks.Validations.tableChecksum(Tables.orders(s, dir), "orders",
          Seq("o_orderkey", "o_custkey", "o_orderstatus"))
        .unionByName(checks.Validations.tableChecksum(
          Tables.lineitem(s, dir), "lineitem",
          Seq("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey")))
        .unionByName(checks.Validations.tableChecksum(
          Tables.customer(s, dir), "customer",
          Seq("c_custkey", "c_nationkey")))
        .orderBy("tbl"),
      """WITH ho AS (SELECT ('0x' || substr(md5(
        |    concat_ws('|', o_orderkey, o_custkey, o_orderstatus)), 1, 8))::BIGINT
        |    AS h FROM orders),
        |hl AS (SELECT ('0x' || substr(md5(concat_ws('|', l_orderkey,
        |    l_linenumber, l_partkey, l_suppkey)), 1, 8))::BIGINT AS h
        |  FROM lineitem),
        |hc AS (SELECT ('0x' || substr(md5(
        |    concat_ws('|', c_custkey, c_nationkey)), 1, 8))::BIGINT AS h
        |  FROM customer)
        |SELECT * FROM (
        |  SELECT 'orders' AS tbl, CAST(count(*) AS BIGINT) AS n_rows,
        |    CAST(bit_xor(h) AS BIGINT) AS xor_sig,
        |    CAST(sum(h) % 2147483647 AS BIGINT) AS sum_sig FROM ho
        |  UNION ALL
        |  SELECT 'lineitem', CAST(count(*) AS BIGINT),
        |    CAST(bit_xor(h) AS BIGINT),
        |    CAST(sum(h) % 2147483647 AS BIGINT) FROM hl
        |  UNION ALL
        |  SELECT 'customer', CAST(count(*) AS BIGINT),
        |    CAST(bit_xor(h) AS BIGINT),
        |    CAST(sum(h) % 2147483647 AS BIGINT) FROM hc)
        |ORDER BY tbl""".stripMargin),

    // Snapshot reconciliation: orders vs a deterministically perturbed
    // next-day version (drops % 13, price bumps % 7, new keys % 17 —
    // the injection discipline); one full-outer key join, md5-32 row
    // hashes, single summary row (Validations.snapshotDiff).
    QueryDef("q209_snapshot_diff", (s, dir) => {
      val (o, after) = q209Frames(s, dir)
      // key-uniqueness preconditions run in `preconditions`
      // (Verify-time), keeping Bench reps measuring the diff plan only
      checks.Validations.snapshotDiff(o, after, Seq("o_orderkey"),
        Seq("o_custkey", "o_orderstatus", "price_c"), checkKeys = false)
    },
      """WITH o AS (SELECT o_orderkey AS k, o_custkey, o_orderstatus,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS price_c
        |  FROM orders),
        |a AS (SELECT k, o_custkey, o_orderstatus,
        |    CASE WHEN k % 7 = 0 THEN price_c + 1 ELSE price_c END AS price_c
        |  FROM o WHERE k % 13 <> 0
        |  UNION ALL
        |  SELECT k + 1000000000, o_custkey, o_orderstatus, price_c
        |  FROM o WHERE k % 17 = 0),
        |hb AS (SELECT k, ('0x' || substr(md5(concat_ws('|',
        |    o_custkey, o_orderstatus, price_c)), 1, 8))::BIGINT AS hb FROM o),
        |ha AS (SELECT k, ('0x' || substr(md5(concat_ws('|',
        |    o_custkey, o_orderstatus, price_c)), 1, 8))::BIGINT AS ha FROM a)
        |SELECT
        |  CAST(sum(CASE WHEN hb IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_added,
        |  CAST(sum(CASE WHEN ha IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_removed,
        |  CAST(sum(CASE WHEN hb IS NOT NULL AND ha IS NOT NULL
        |    AND hb <> ha THEN 1 ELSE 0 END) AS BIGINT) AS n_changed,
        |  CAST(sum(CASE WHEN hb = ha THEN 1 ELSE 0 END) AS BIGINT) AS n_same
        |FROM hb FULL OUTER JOIN ha USING (k)""".stripMargin,
      precondition = Some((s, dir) => {
        val (o, after) = q209Frames(s, dir)
        checks.Validations.assertUniqueKeys(o, Seq("o_orderkey"),
          "q209 precondition: snapshot before side")
        checks.Validations.assertUniqueKeys(after, Seq("o_orderkey"),
          "q209 precondition: snapshot after side")
      }))
  )
}
