package graft

import graft.checks.Validations
import org.apache.spark.sql.functions._

class ValidationsSpec extends SparkSpec {
  import spark.implicits._

  test("countParity passes on equal partitions and fails on drift (V1)") {
    val a = Seq(("2024-01-01", 1), ("2024-01-01", 2), ("2024-01-02", 3)).toDF("d", "v")
    val b = Seq(("2024-01-01", 9), ("2024-01-01", 8), ("2024-01-02", 7)).toDF("d", "v")
    assert(Validations.countParity(a, b, col("d") === "2024-01-01").passed)
    val drifted = b.filter(col("v") =!= 8)
    assert(!Validations.countParity(a, drifted, col("d") === "2024-01-01").passed)
  }

  test("countParity: both sides counted in one job") {
    val a = Seq(("2024-01-01", 1), ("2024-01-02", 2)).toDF("d", "v")
    val b = Seq(("2024-01-01", 9), ("2024-01-01", 8)).toDF("d", "v")
    var r: Validations.CheckResult = null
    val jobs = countJobs { r = Validations.countParity(a, b, col("d") === "2024-01-01") }
    assert(r == Validations.CheckResult("count_parity", false, "left=1 right=2"))
    assert(jobs == 1, s"countParity ran $jobs jobs")
  }

  test("countParity edge cases: no match, one side empty, null predicate column") {
    val a = Seq(("2024-01-01", 1), ("2024-01-02", 2)).toDF("d", "v")
    val b = Seq(("2024-01-01", 9), ("2024-01-02", 8)).toDF("d", "v")
    // nothing matches on either side: 0 = 0 passes
    assert(Validations.countParity(a, b, col("d") === "1999-12-31") ==
      Validations.CheckResult("count_parity", true, "left=0 right=0"))
    // one side empty fails, whichever side it is
    val none = b.limit(0)
    assert(Validations.countParity(a, none, col("d") === "2024-01-01") ==
      Validations.CheckResult("count_parity", false, "left=1 right=0"))
    assert(Validations.countParity(none, a, col("d") === "2024-01-01") ==
      Validations.CheckResult("count_parity", false, "left=0 right=1"))
    // rows whose predicate is null count on neither side
    val an = Seq[(Option[String], Int)]((Some("2024-01-01"), 1), (None, 2), (None, 3))
      .toDF("d", "v")
    val bn = Seq[(Option[String], Int)]((Some("2024-01-01"), 9), (None, 8)).toDF("d", "v")
    assert(Validations.countParity(an, bn, col("d") === "2024-01-01") ==
      Validations.CheckResult("count_parity", true, "left=1 right=1"))
    assert(Validations.countParity(an, bn, col("d") =!= "2024-01-01") ==
      Validations.CheckResult("count_parity", true, "left=0 right=0"))
  }

  test("priceSanity: native price, zero-ratio, missing tokens (V2)") {
    val prices = Seq(("BTC", 50000.0), ("ETH", 3000.0), ("DEAD", 0.0))
      .toDF("symbol", "price")
    val supported = Seq("BTC", "ETH", "DEAD", "MISSING").toDF("symbol")
    val rs = Validations.priceSanity(prices, supported, "symbol", "price", "BTC")
      .map(r => r.name -> r.passed).toMap
    assert(rs("native_price_positive"))
    assert(rs("zero_price_ratio"))      // 1 of 3 < half
    assert(!rs("no_missing_tokens"))    // MISSING has no price
  }

  test("tableChecksum: order/partitioning-independent, content-sensitive") {
    val rows = Seq((1L, 10L, "A"), (2L, 20L, "B"), (3L, 30L, "C"))
    val base = rows.toDF("k", "fk", "s")
    def sig(df: org.apache.spark.sql.DataFrame) =
      Validations.tableChecksum(df, "t", Seq("k", "fk", "s"))
        .as[(String, Long, Long, Long)].collect().head
    val a = sig(base.repartition(1))
    val b = sig(base.orderBy(col("k").desc).repartition(7))
    assert(a == b) // xor and modular sum commute — layout can't matter
    // one changed VALUE at equal row count flips both signatures
    val drifted = sig(Seq((1L, 10L, "A"), (2L, 21L, "B"), (3L, 30L, "C"))
      .toDF("k", "fk", "s"))
    assert(drifted._2 == a._2 && drifted._3 != a._3 && drifted._4 != a._4)
    // signatures match a driver-side md5 replay of the same canonical form
    val md = java.security.MessageDigest.getInstance("MD5")
    val hs = rows.map { case (k, fk, s) =>
      val hex = md.digest(s"$k|$fk|$s".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.take(8), 16)
    }
    assert(a._2 == 3L && a._3 == hs.reduce(_ ^ _) &&
      a._4 == hs.sum % 2147483647L)
  }

  test("fdAudit: held and violated dependencies, duplicate-insensitive") {
    // key 1 maps to {x, y} (violates), key 2 maps to {z} — and the
    // repeated (1, x) row must not inflate any count
    val df = Seq((1, "x"), (1, "x"), (1, "y"), (2, "z")).toDF("k", "d")
    val r = Validations.fdAudit(df, "k->d", Seq("k"), "d")
      .as[(String, Long, Long, Long)].head()
    assert(r == (("k->d", 2L, 1L, 2L)))
    // multi-column determinant makes it functional again
    val df2 = Seq((1, 1, "x"), (1, 2, "y"), (2, 1, "z")).toDF("k1", "k2", "d")
    val r2 = Validations.fdAudit(df2, "kk->d", Seq("k1", "k2"), "d")
      .as[(String, Long, Long, Long)].head()
    assert(r2 == (("kk->d", 3L, 0L, 1L)))
  }
  test("snapshotDiff: exact add/remove/change/same classes, duplicate keys rejected") {
    val before = Seq((1L, "a", 10L), (2L, "b", 20L), (3L, "c", 30L))
      .toDF("k", "s", "v")
    val after = Seq((2L, "b", 20L), (3L, "c", 31L), (4L, "d", 40L))
      .toDF("k", "s", "v")
    val got = Validations.snapshotDiff(before, after, Seq("k"),
      Seq("s", "v")).as[(Long, Long, Long, Long)].collect().head
    assert(got == ((1L, 1L, 1L, 1L)), s"got $got")
    val dup = before.unionByName(before.limit(1))
    val err = intercept[IllegalArgumentException] {
      Validations.snapshotDiff(dup, after, Seq("k"), Seq("s", "v"))
    }
    assert(err.getMessage.contains("not unique"))
    // checkKeys=false skips the eager gate (the Bench-timing path —
    // uniqueness is then the caller's Verify-time precondition)
    val unchecked = Validations.snapshotDiff(dup, after, Seq("k"),
      Seq("s", "v"), checkKeys = false)
    assert(unchecked.columns.toSeq ==
      Seq("n_added", "n_removed", "n_changed", "n_same"))
  }

  test("assertUniqueKeys: passes on a key, throws loudly on duplicates") {
    val ok = Seq((1L, "a"), (2L, "b")).toDF("k", "s")
    Validations.assertUniqueKeys(ok, Seq("k"), "spec ok side")
    val err = intercept[IllegalArgumentException] {
      Validations.assertUniqueKeys(ok.unionByName(ok.limit(1)),
        Seq("k"), "spec dup side")
    }
    assert(err.getMessage.contains("spec dup side") &&
      err.getMessage.contains("not unique"))
  }

}
