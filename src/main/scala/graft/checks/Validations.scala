package graft.checks

import graft.operators.GraphTuning
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** V1/V2 — the reference's data-quality gates (SURVEY.md §2.11).
  * Each returns structured results rather than throwing, so pipelines can
  * route failures to alerting (the reference's Slack callback analog). */
object Validations {

  final case class CheckResult(name: String, passed: Boolean, detail: String)

  /** V1 cross-system row-count equality for a partition predicate
    * (`validate_bt_bq_counts`, `airflow/bitquery.py:354-424`).
    *
    * Both filtered sides are counted in ONE pass: their union, tagged by
    * side, with two `count_if`s observed in a single consuming job — no
    * shuffle, where two `count()`s are two queries of two or more jobs
    * each. Rows whose predicate is null count on neither side. */
  def countParity(a: DataFrame, b: DataFrame, pred: Column): CheckResult = {
    val side = col("__left")
    val m = GraphTuning.observeLongs(
      a.filter(pred).select(lit(true).as("__left"))
        .union(b.filter(pred).select(lit(false).as("__left"))),
      Seq("left" -> count_if(side), "right" -> count_if(!side)))
    val (ca, cb) = (m("left"), m("right"))
    CheckResult("count_parity", ca == cb, s"left=$ca right=$cb")
  }

  /** Functional-dependency audit: does `det → dep` hold? Returns ONE
    * summary row — (fd, n_keys, n_violating, max_card) — so many audits
    * union into a single data-quality report (the profiling complement
    * to V1/V2's cross-system gates).
    *
    * Scale shape: one partial+final hash agg keyed on the determinant
    * (distinct-dep via a two-level agg, never count(DISTINCT) — the
    * Expand-plan trap in CLAUDE.md), then a metrics-sized rollup.
    * Shuffle bytes are O(|det×dep| distinct), not O(rows); nothing is
    * collected. A violated FD at 100 TB surfaces as n_violating > 0
    * with max_card showing how bad the worst key is. */
  def fdAudit(df: DataFrame, name: String,
      det: Seq[String], dep: String): DataFrame = {
    val detCols = det.map(col)
    df.select(detCols :+ col(dep): _*).distinct()
      .groupBy(detCols: _*).agg(count(lit(1)).as("card"))
      .agg(count(lit(1)).as("n_keys"),
        sum(when(col("card") > 1, 1L).otherwise(0L)).as("n_violating"),
        max(col("card")).as("max_card"))
      .select(lit(name).as("fd"), col("n_keys"), col("n_violating"),
        col("max_card"))
  }

  /** Order-independent table checksum — the content-equality upgrade of
    * V1's count parity (`validate_bt_bq_counts`,
    * `airflow/bitquery.py:354-424`): two systems can agree on COUNT
    * while rows differ; agreeing on (count, xor-of-row-hashes,
    * sum-of-row-hashes mod p) makes silent row corruption/divergence
    * visible without moving either table. One summary row per call so
    * many tables union into a single sync report.
    *
    * Scale shape: the row hash (md5 prefix of the '|'-joined key
    * columns — the PORTABLE md5 family, identical in DuckDB) is
    * scan-stage expression work; the whole check is one single-row
    * partial+final aggregate — zero wide exchanges, nothing collected.
    * XOR commutes and never overflows; the sum rides DECIMAL(38,0)
    * (DuckDB sums in HUGEINT) and reduces mod 2^31−1, so both
    * signatures are exact at any row count and partitioning.
    *
    * @param keyCols integer/string columns whose canonical cast
    *        stringification matches across engines (stick to integer
    *        keys and raw strings; floats/timestamps stringify
    *        differently) */
  def tableChecksum(df: DataFrame, name: String,
      keyCols: Seq[String]): DataFrame = {
    require(keyCols.nonEmpty, "need at least one key column")
    val h = conv(substring(md5(
        concat_ws("|", keyCols.map(c => col(c).cast("string")): _*)
          .cast("binary")), 1, 8), 16, 10).cast("long")
    df.select(h.as("__h"))
      .agg(count(lit(1)).as("n_rows"),
        expr("bit_xor(__h)").as("xor_sig"),
        expr("CAST(sum(CAST(__h AS DECIMAL(38,0))) % 2147483647 AS BIGINT)")
          .as("sum_sig"))
      .select(lit(name).as("tbl"), col("n_rows"), col("xor_sig"),
        col("sum_sig"))
  }

  /** Snapshot reconciliation — the "what changed since the last load"
    * audit between two versions of a keyed table (the content-level
    * upgrade of [[tableChecksum]]: a checksum says THAT they diverged,
    * this says HOW): per-key classification into added / removed /
    * changed / same, reported as one summary row so many tables union
    * into a sync report. (Reference analog: incremental-load
    * validation around `validate_bt_bq_counts`,
    * `airflow/bitquery.py:354-424`.)
    *
    * Keys must be unique per side (the usual primary-key contract —
    * enforced loudly, because a duplicated key would silently turn one
    * logical row into several join rows and inflate every class).
    * Value-column contract: `concat_ws` SKIPS NULLs in both engines,
    * so rows whose non-null values align after dropping NULLs hash
    * identically (('a', NULL) ≡ (NULL, 'a')) — pre-coalesce NULLable
    * value columns to a sentinel before calling if that distinction
    * matters (same contract as [[tableChecksum]]).
    *
    * Scale shape: each side reduces to (key-hash ring columns, row
    * hash) in the scan stage — value columns never shuffle; ONE
    * key-keyed full-outer hash join is the only wide exchange, and the
    * output is a single aggregated row. The md5-32 row hash is the
    * PORTABLE family, so the whole audit replays in DuckDB.
    *
    * Key-uniqueness precondition: the per-key hash comparison is only
    * meaningful when `keyCols` is a key on BOTH sides. With the default
    * `checkKeys = true` both sides are asserted eagerly (two count
    * jobs); a caller on a hot path whose uniqueness is gated elsewhere
    * (a Verify-time precondition — the Bench-timing discipline, ADVICE
    * r11) passes `checkKeys = false` and runs [[assertUniqueKeys]]
    * itself.
    *
    * @return (n_added, n_removed, n_changed, n_same) */
  def snapshotDiff(before: DataFrame, after: DataFrame,
      keyCols: Seq[String], valueCols: Seq[String],
      checkKeys: Boolean = true): DataFrame = {
    require(keyCols.nonEmpty && valueCols.nonEmpty,
      "need key and value columns")
    def hashed(df: DataFrame, tag: String): DataFrame =
      df.select(keyCols.map(col) :+
        conv(substring(md5(
          concat_ws("|", valueCols.map(c => col(c).cast("string")): _*)
            .cast("binary")), 1, 8), 16, 10).cast("long").as(s"__h$tag"): _*)
    if (checkKeys) {
      assertUniqueKeys(before, keyCols, "snapshotDiff before side")
      assertUniqueKeys(after, keyCols, "snapshotDiff after side")
    }
    hashed(before, "b").join(hashed(after, "a"), keyCols, "full_outer")
      .agg(
        sum(when(col("__hb").isNull, 1L).otherwise(0L)).as("n_added"),
        sum(when(col("__ha").isNull, 1L).otherwise(0L)).as("n_removed"),
        sum(when(col("__hb").isNotNull && col("__ha").isNotNull &&
          col("__hb") =!= col("__ha"), 1L).otherwise(0L)).as("n_changed"),
        sum(when(col("__hb") === col("__ha"), 1L).otherwise(0L))
          .as("n_same"))
  }

  /** Loud key-uniqueness gate — the shared precondition behind
    * [[snapshotDiff]] and the exact-copy stream-dedup oracles: throws
    * (with the offending context named) when `keyCols` is not a key.
    * One LIMIT-1 count job; scan-stage partial agg, never a wide
    * materialization. */
  def assertUniqueKeys(df: DataFrame, keyCols: Seq[String],
      what: String): Unit = {
    val dup = df.groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).as("__c")).filter(col("__c") > 1)
      .limit(1).count()
    require(dup == 0L,
      s"$what: columns ${keyCols.mkString(",")} are not unique")
  }

  /** V2 price sanity (`check_prices`, `coinprice/pricing_checks.py:76-120`):
    *  - the native token's price must be > 0
    *  - fewer than half the tokens may be zero-priced
    *  - no supported token may be missing from the price table (J5
    *    anti-join). */
  def priceSanity(
      prices: DataFrame, supported: DataFrame,
      symbolCol: String, priceCol: String,
      nativeSymbol: String): Seq[CheckResult] = {
    val native = prices.filter(col(symbolCol) === nativeSymbol &&
      col(priceCol) > 0).count()
    val total = prices.count()
    val zero = prices.filter(col(priceCol) <= 0).count()
    val missing = supported.select(symbolCol).distinct()
      .join(prices.select(symbolCol).distinct(), Seq(symbolCol), "left_anti").count()
    Seq(
      CheckResult("native_price_positive", native > 0, s"rows=$native"),
      CheckResult("zero_price_ratio", total == 0 || zero * 2 < total, s"zero=$zero total=$total"),
      CheckResult("no_missing_tokens", missing == 0, s"missing=$missing"))
  }
}
