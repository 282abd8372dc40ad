package graft

import graft.operators.{Ann, GraphTuning, Skew}
import graft.sources.Tables
import org.apache.spark.sql.functions._

class SkewIvfSpec extends SparkSpec {
  import spark.implicits._

  test("salted aggregation equals direct groupBy (sum/count/min/max)") {
    val rnd = new scala.util.Random(7)
    // skewed: 80% of rows on one key
    val rows = (1 to 2000).map { i =>
      val k = if (rnd.nextDouble() < 0.8) "hot" else s"k${rnd.nextInt(20)}"
      (k, rnd.nextInt(1000) * 0.01)
    }
    val df = rows.toDF("k", "v")
    val direct = df.groupBy("k").agg(
      sum(col("v").cast("decimal(28,10)")).cast("double").as("s"),
      count(lit(1L)).as("n"), min(col("v")).as("mn"), max(col("v")).as("mx"))
    val salted = Skew.saltedAggregate(df, Seq("k"), Seq(
      Skew.SaltedAgg(col("v").cast("decimal(28,10)"), "sum", "s"),
      Skew.count_("n"), Skew.min_(col("v"), "mn"), Skew.max_(col("v"), "mx")),
      buckets = 16)
      .withColumn("s", col("s").cast("double"))
    val d = direct.orderBy("k").collect().map(_.toSeq)
    val sl = salted.orderBy("k").collect().map(_.toSeq)
    assert(d.toSeq == sl.toSeq)
  }

  test("rowSalt spreads exact-duplicate hot-key rows; content hash cannot") {
    // the r13 contradiction: saltedAggregate salted by CONTENT hash,
    // which sends a hot key's (typically duplicate) rows to ONE reducer
    val dup = Seq.fill(512)(("hot", 1.0)).toDF("k", "v")
    val saltSpread = dup.withColumn("s", Skew.rowSalt(8))
      .select("s").distinct().count()
    assert(saltSpread > 1, s"per-row salt left duplicates on $saltSpread bucket")
    val contentSpread = dup
      .withColumn("s", pmod(hash(dup.columns.map(col): _*), lit(8)))
      .select("s").distinct().count()
    assert(contentSpread == 1L,
      "content hash unexpectedly spread duplicates — test premise broken")
    // and the salted aggregate stays correct on the duplicate-heavy key
    val got = Skew.saltedAggregate(dup, Seq("k"),
      Seq(Skew.count_("n"), Skew.sum_(col("v").cast("decimal(28,10)"), "sv")),
      buckets = 8).as[(String, Long, BigDecimal)].collect().toSeq
    assert(got == Seq(("hot", 512L, BigDecimal(512).setScale(10))), s"$got")
  }

  test("joinSkewReport: counts, products, orphans, top-k order") {
    val left = Seq(1L, 1L, 1L, 2L, 2L, 3L, 5L).toDF("k")
    val right = Seq(1L, 1L, 2L, 4L).toDF("k")
    val got = Skew.joinSkewReport(left, right, "k", k = 10)
      .as[(Long, Long, Long, Long)].collect().toSeq
    // hot key first; orphans (3,5 left-only / 4 right-only) carry 0
    assert(got == Seq((1L, 3L, 2L, 6L), (2L, 2L, 1L, 2L),
      (3L, 1L, 0L, 0L), (4L, 0L, 1L, 0L), (5L, 1L, 0L, 0L)))
    // the product column IS the join size: sum equals the real join
    assert(got.map(_._4).sum ==
      left.join(right, Seq("k")).count())
    // top-k truncates on the (out_rows desc, key asc) total order
    val top = Skew.joinSkewReport(left, right, "k", k = 2)
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(top == got.take(2))
  }

  test("decideJoinPlan: skew routes salted, uniform plain, limit vetoes; rows identical") {
    val fact = ((1 to 500).map(_ => (0L, 1.5)) ++
      (1 to 50).map(i => ((i % 10 + 1).toLong, 2.5))).toDF("k", "v")
    val dim = (0L to 10L).map(k => (k, s"d$k")).toDF("k", "attr")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("k", "v", "attr").as[(Long, Double, String)].collect().toSeq.sorted
    val (joined, d) = Skew.decideJoinPlan(fact, dim, "k",
      buckets = 4, hotKeyRowLimit = 100)
    assert(d.salted && d.topSharePpm > 500000L && d.topFactRows == 500L,
      s"expected salted: $d")
    assert(rows(joined) == rows(fact.join(dim, Seq("k"))),
      "salted result differs from plain join")
    // a hot key one reducer can absorb is NOT worth replicating the dim for
    val (_, vetoed) = Skew.decideJoinPlan(fact, dim, "k",
      buckets = 4, hotKeyRowLimit = 1000000L)
    assert(!vetoed.salted && vetoed.topSharePpm == d.topSharePpm, s"$vetoed")
    // uniform key: top share ~1/|keys|, plain join is the right plan
    val uni = (0L to 10L).flatMap(k => (1 to 10).map(i => (k, i * 0.5)))
      .toDF("k", "v")
    val (uJoined, uD) = Skew.decideJoinPlan(uni, dim, "k",
      buckets = 4, hotKeyRowLimit = 0)
    assert(!uD.salted && uD.topSharePpm < 200000L, s"$uD")
    assert(rows(uJoined) == rows(uni.join(dim, Seq("k"))))
  }

  test("IVF ANN: centroids train, probes bound work, recall is reasonable") {
    val e = Tables.embeddings(spark, sfDir)
    val q = e.filter(col("vec_id") < 5)
    val exact = Ann.bruteForceTopK(e, q, k = 10)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val ivf = Ann.ivfTopK(e, q, k = 10, nCentroids = 8, nProbe = 4)
    val got = ivf.select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    assert(ivf.groupBy("query_id").count().as[(Long, Long)].collect()
      .forall(_._2 == 10))
    val recall = (exact & got).size.toDouble / exact.size
    // near-random embeddings: probing half the cells ⇒ recall ≈ nProbe/nCentroids
    assert(recall >= 0.3, s"IVF recall too low: $recall")
  }

  test("ivfIndex parquet round-trip: probe = fresh ivfTopK, probed cells prune the store") {
    val e = Tables.embeddings(spark, sfDir)
    val corpus = e.filter(col("vec_id") % 10 =!= 0)
    val batch = e.filter(col("vec_id") % 10 === 0 && col("vec_id") < 200)
    val (cent, asg) = Ann.ivfIndex(corpus, nCentroids = 8, initById = true)
    val dir = java.nio.file.Files.createTempDirectory("ivfidx").toString
    cent.write.mode("overwrite").parquet(s"$dir/centroids")
    asg.write.mode("overwrite").partitionBy("cell").parquet(s"$dir/assignments")
    val probe = Ann.ivfProbeIndex(
      spark.read.parquet(s"$dir/centroids"),
      spark.read.parquet(s"$dir/assignments"),
      batch, k = 5, nProbe = 2)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "neighbor_id", "rank")
        .as[(Long, Long, Int)].collect().toSeq.sorted
    // batch parity: the persisted index answers exactly like clustering
    // fresh — the index round-trip loses nothing
    val fresh = Ann.ivfTopK(corpus, batch, k = 5, nCentroids = 8,
      nProbe = 2, lloydIterations = 0, initById = true)
    assert(rows(probe) == rows(fresh), "index probe != fresh ivfTopK")
    // the store scan carries the probed-cell IN filter on the stored
    // cell column — on this cell-partitioned parquet that is a
    // PartitionFilter (pruning), not a post-scan residual
    val plan = probe.queryExecution.executedPlan.toString
    val pf = plan.linesIterator.find(_.contains("PartitionFilters"))
    assert(pf.exists(l => l.contains("cell") && l.contains(" IN ")),
      s"probed-cell pruning missing from scan: $pf")
  }

  test("splitHotCells: no hot cells is the identity; store round-trip splits stay consistent") {
    val e = Tables.embeddings(spark, sfDir)
    val (cent, asg) = Ann.ivfIndex(e, nCentroids = 8, initById = true)
    val centC = cent.localCheckpoint(true)
    val asgC = asg.localCheckpoint(true)
    val total = asgC.count()

    // identity: nothing over budget — census is the plain per-cell
    // count table, parent = cell, store frames pass through
    val (idCensus, idCent, idAsg) =
      Ann.splitHotCells(centC, asgC, maxCellRows = total)
    val idRows = idCensus.orderBy("cell")
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(idRows.map(_._1) == (0L until 8L) &&
      idRows.forall(r => r._1 == r._2), s"identity census: $idRows")
    assert(idRows.map(_._3).sum == total)
    assert(idCent.count() == 8 && idAsg.count() == total)

    // real split through a cell-partitioned parquet store
    val dir = java.nio.file.Files.createTempDirectory("ivfsplit").toString
    centC.write.mode("overwrite").parquet(s"$dir/centroids")
    asgC.write.mode("overwrite").partitionBy("cell")
      .parquet(s"$dir/assignments")
    val (census, newCent, newAsg) = Ann.splitHotCells(
      spark.read.parquet(s"$dir/centroids"),
      spark.read.parquet(s"$dir/assignments"), maxCellRows = total / 8)
    val c = census.orderBy("cell").as[(Long, Long, Long, Long)]
      .collect().toSeq
    assert(c.map(_._1).max >= 8, "expected at least one split at mean cap")
    // census partitions the corpus; every new cell is non-empty and
    // points at a real parent
    assert(c.map(_._3).sum == total)
    assert(c.filter(_._1 >= 8).forall(r => r._2 < 8 && r._3 >= 1))
    // parent + child counts reassemble the original per-cell counts
    val before = asgC.groupBy("cell").count()
      .as[(Int, Long)].collect().toMap
    val regrouped = c.groupBy(_._2).view.mapValues(_.map(_._3).sum)
    assert(regrouped.forall { case (p, n) => before(p.toInt) == n },
      s"parent regroup mismatch: $regrouped vs $before")
    // updated stores stay mutually consistent and CONTIGUOUS — the
    // validated-read gate accepts them (assignCells collects centroids)
    val centIds = newCent.select("cell").as[Int].collect().sorted
    assert(centIds.sameElements(0 until centIds.length))
    val after = newAsg.groupBy("cell").count().as[(Int, Long)]
      .collect().toMap
    assert(c.forall(r => after.getOrElse(r._1.toInt, 0L) == r._3))
    assert(newAsg.select("id").as[Long].collect().sorted.toSeq ==
      asgC.select("id").as[Long].collect().sorted.toSeq)
    Ann.assignCells(newCent, e.limit(5)).collect() // must not throw
  }

  test("splitHotCells: a hot set of another size compiles no new class") {
    val e = Tables.embeddings(spark, sfDir)
    val (cent, asg) = Ann.ivfIndex(e, nCentroids = 8, initById = true)
    val centC = cent.localCheckpoint(true)
    val asgC = asg.localCheckpoint(true)
    // caps at the 2nd and 3rd largest cell sizes: the lower cap makes
    // more cells hot, so the cell-set filters get longer lists
    val sizes = asgC.groupBy("cell").count().as[(Int, Long)].collect()
      .map(_._2).distinct.sorted.reverse
    assert(sizes.length >= 3, s"cell sizes ${sizes.mkString(",")}")
    def split(maxCellRows: Long): Long = {
      val (census, newCent, newAsg) =
        Ann.splitHotCells(centC, asgC, maxCellRows)
      Seq(newCent, newAsg).foreach(_.write.format("noop").mode("overwrite").save())
      census.count()
    }
    val fewer = split(sizes(1))
    assert(countCompiles(assert(split(sizes(2)) > fewer)) == 0)
  }

  test("splitHotCells: a point-mass hot cell stays whole; a spread cell splits by the seed rule") {
    val cents = Seq((0, Seq(0f, 0f)), (1, Seq(10f, 10f)))
      .toDF("cell", "centroid")
    val asg = (Seq(1L, 2L, 3L, 4L).map(id => (id, 0, Seq(0f, 0f))) ++
      Seq((11L, 1, Seq(10f, 10f)), (12L, 1, Seq(10f, 10f)),
        (13L, 1, Seq(12f, 12f)), (14L, 1, Seq(12f, 12f))))
      .toDF("id", "cell", "v")
    val (census, newCent, newAsg) =
      Ann.splitHotCells(cents, asg, maxCellRows = 2)
    val c = census.orderBy("cell").as[(Long, Long, Long, Long)]
      .collect().toSeq
    // cell 0 is hot (4 > 2) but a point mass — max dA = 0, no split,
    // stored-centroid checksum; cell 1 splits: A = id 11 at (10,10),
    // B = id 13 at (12,12) (farthest, tie to the lower id), ids 13/14
    // move, both halves re-center on their member means
    assert(c == Seq(
      (0L, 0L, 4L, 0L),
      (1L, 1L, 2L, 20000L),
      (2L, 1L, 2L, 24000L)), s"got $c")
    assert(newCent.orderBy("cell").as[(Int, Seq[Float])].collect().toSeq ==
      Seq((0, Seq(0f, 0f)), (1, Seq(10f, 10f)), (2, Seq(12f, 12f))))
    val moved = newAsg.filter(col("cell") === 2).select("id")
      .as[Long].collect().sorted.toSeq
    assert(moved == Seq(13L, 14L), s"moved $moved")
  }

  test("ivfIndex streaming ingest: probe then append survivors; cross-batch semantic dup caught; stateless") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.streaming.Trigger
    val e = Tables.embeddings(spark, sfDir)
    val dim = e.select(size(col("embedding"))).first().getInt(0)
    val corpus = e.filter(col("vec_id") % 10 =!= 0 && col("vec_id") < 500)
    val dir = java.nio.file.Files.createTempDirectory("ivfstream").toString
    val src = s"$dir/src"; new java.io.File(src).mkdirs()
    val (cent, asg) = Ann.ivfIndex(corpus, nCentroids = 8, initById = true)
    cent.write.mode("overwrite").parquet(s"$dir/centroids")
    asg.write.mode("overwrite").partitionBy("cell").parquet(s"$dir/assignments")
    // batch 1 carries a vector IDENTICAL to a stored one (vec 1 under a
    // new id) plus a fresh survivor; batch 2 duplicates the SURVIVOR —
    // catchable only because batch 1's survivors joined the store
    val v1 = corpus.filter(col("vec_id") === 1)
      .select(col("embedding")).first().getSeq[Float](0)
    val novel = Seq.tabulate(dim)(i => (if (i % 2 == 0) 0.9f else -0.7f))
    def write(rows: Seq[(Long, Seq[Float])]): Unit =
      rows.toDF("vec_id", "embedding").coalesce(1)
        .write.mode("append").parquet(src)
    var stateless = true
    def runOnce(tag: Int): Unit = {
      val q = spark.readStream
        .schema("vec_id BIGINT, embedding ARRAY<FLOAT>").parquet(src)
        .writeStream.option("checkpointLocation", s"$dir/ckpt")
        .foreachBatch { (df: DataFrame, id: Long) =>
          val cents = spark.read.parquet(s"$dir/centroids")
          val store = spark.read.parquet(s"$dir/assignments")
          val hits = Ann.ivfProbeIndex(cents, store, df, k = 1, nProbe = 2)
            .filter(col("sim") > 0.999).localCheckpoint(true)
          hits.write.mode("overwrite").parquet(s"$dir/out_${tag}_$id")
          // survivors are assigned against the SAME persisted centroids
          // (never re-clustered) and appended cell-partitioned
          val survivors = df.join(
            hits.select(col("query_id").as("vec_id")).distinct(),
            Seq("vec_id"), "left_anti")
          Ann.assignCells(cents, survivors)
            .write.mode("append").partitionBy("cell")
            .parquet(s"$dir/assignments")
          ()
        }
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(120000)
      stateless &&= Option(q.lastProgress).forall(_.stateOperators.isEmpty)
    }
    write(Seq((10001L, v1), (10002L, novel))); runOnce(0)
    write(Seq((10003L, novel))); runOnce(1)
    val pairs = spark.read.parquet(
        new java.io.File(dir).listFiles()
          .filter(_.getName.startsWith("out_")).map(_.toString): _*)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    assert(pairs.contains((10001L, 1L)), s"store dup missed: $pairs")
    assert(pairs.contains((10003L, 10002L)),
      s"cross-micro-batch semantic dup missed (survivor not appended?): $pairs")
    assert(!pairs.exists(_._1 == 10002L), s"novel vector flagged: $pairs")
    assert(stateless, "expected a stateless streaming plan")
  }

  test("probe batches route: forced over-budget regimes match the broadcast plans") {
    // the r13 weak mark: ivfProbeIndex/pqProbeIndex broadcast the batch
    // unconditionally. Force the budget to 0 (every batch over budget)
    // and assert the fallback regimes return IDENTICAL rows — the
    // routing is purely physical. Covers the routed entry points:
    // ivfProbeIndex (shuffle cell join), pqProbeIndex (partition-paired
    // cartesian), ivfPqProbeIndex (shuffle cell join), bruteForceTopK
    // (cartesian), lshTopK (shuffle bucket join), ivfTopK (cell join).
    val e = Tables.embeddings(spark, sfDir)
    val corpus = e.filter(col("vec_id") % 10 =!= 0 && col("vec_id") < 600)
    val batch = e.filter(col("vec_id") % 10 === 0 && col("vec_id") < 200)
    val (cent, asg) = Ann.ivfIndex(corpus, nCentroids = 8, initById = true)
    val (centC, asgC) = (cent.localCheckpoint(true), asg.localCheckpoint(true))
    val (cbk, codes) = Ann.pqIndex(corpus, numSubspaces = 8,
      codebookSize = 16, initById = true)
    val (cbkC, codesC) = (cbk.localCheckpoint(true), codes.localCheckpoint(true))
    val (c3, b3, k3) = Ann.ivfPqIndex(corpus, nCentroids = 8,
      numSubspaces = 8, codebookSize = 16, initById = true)
    val (c3C, b3C, k3C) = (c3.localCheckpoint(true),
      b3.localCheckpoint(true), k3.localCheckpoint(true))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "neighbor_id", "rank")
        .as[(Long, Long, Int)].collect().toSeq.sorted
    def runAll() = Seq(
      rows(Ann.ivfProbeIndex(centC, asgC, batch, k = 5, nProbe = 2)),
      rows(Ann.pqProbeIndex(cbkC, codesC, batch, k = 5)),
      rows(Ann.ivfPqProbeIndex(c3C, b3C, k3C, batch, k = 5, nProbe = 2)),
      rows(Ann.bruteForceTopK(corpus, batch, k = 5)),
      rows(Ann.lshTopK(corpus, batch, k = 5, nBits = 8, nTables = 2)),
      rows(Ann.ivfTopK(corpus, batch, k = 5, nCentroids = 8, nProbe = 2,
        lloydIterations = 0, initById = true)))
    val bcast = runAll()
    assert(GraphTuning.lastRouting.exists(_.contains("regime=broadcast")),
      s"expected a licensed broadcast: ${GraphTuning.lastRouting}")
    spark.conf.set(Ann.BroadcastBatchBytesKey, "0")
    try {
      val routed = runAll()
      assert(GraphTuning.lastRouting.exists(m =>
        m.contains("regime=no-broadcast") || m.contains("regime=cartesian")),
        s"expected the over-budget regime: ${GraphTuning.lastRouting}")
      assert(routed == bcast, "over-budget regimes disagree with broadcast")
    } finally spark.conf.unset(Ann.BroadcastBatchBytesKey)
    // malformed conf fails loudly, naming the key
    spark.conf.set(Ann.BroadcastBatchBytesKey, "lots")
    try {
      val err = intercept[IllegalArgumentException] {
        Ann.ivfProbeIndex(centC, asgC, batch, k = 5, nProbe = 2)
      }
      assert(err.getMessage.contains(Ann.BroadcastBatchBytesKey), err.getMessage)
    } finally spark.conf.unset(Ann.BroadcastBatchBytesKey)
  }

  test("malformed persisted stores fail loudly: gappy centroid cells, duplicate codebook rows") {
    val e = Tables.embeddings(spark, sfDir)
    val corpus = e.filter(col("vec_id") % 10 =!= 0 && col("vec_id") < 300)
    val batch = e.filter(col("vec_id") % 10 === 0 && col("vec_id") < 100)
    val (cent, asg) = Ann.ivfIndex(corpus, nCentroids = 8, initById = true)
    // a FILTERED centroid read: positions no longer equal cell ids —
    // pre-r14 this silently probed the wrong partitions
    val gappy = intercept[IllegalArgumentException] {
      Ann.ivfProbeIndex(cent.filter(col("cell") =!= 3), asg, batch,
        k = 5, nProbe = 2)
    }
    assert(gappy.getMessage.contains("exactly 0.."), gappy.getMessage)
    val gappyAssign = intercept[IllegalArgumentException] {
      Ann.assignCells(cent.filter(col("cell") > 0), batch)
    }
    assert(gappyAssign.getMessage.contains("exactly 0.."), gappyAssign.getMessage)
    // a double-appended codebook: pre-r14 the duplicate (mm, ci) rows
    // passed the M×K length check and left null slots to NPE on
    val (cbk, codes) = Ann.pqIndex(corpus, numSubspaces = 8,
      codebookSize = 16, initById = true)
    // same M×K row count (passes the pre-r14 length check), but 8 rows
    // are duplicated in place of 8 missing (mm, ci) slots
    val doubled = cbk.filter(col("mm") =!= 0 || col("ci") >= 8)
      .unionByName(cbk.filter(col("mm") === 0 && col("ci") >= 8))
    val dup = intercept[IllegalArgumentException] {
      Ann.pqProbeIndex(doubled, codes, batch, k = 5)
    }
    assert(dup.getMessage.contains("duplicate (mm, ci)"), dup.getMessage)
  }

  test("ivfPqIndex round-trip: composed probe prunes cells AND scans codes only") {
    val e = Tables.embeddings(spark, sfDir)
    val corpus = e.filter(col("vec_id") % 10 =!= 0)
    val batch = e.filter(col("vec_id") % 10 === 0 && col("vec_id") < 200)
    val (cent, cbk, codes) = Ann.ivfPqIndex(corpus, nCentroids = 8,
      numSubspaces = 8, codebookSize = 16, initById = true)
    val dir = java.nio.file.Files.createTempDirectory("ivfpqidx").toString
    cent.write.mode("overwrite").parquet(s"$dir/centroids")
    cbk.write.mode("overwrite").parquet(s"$dir/codebook")
    codes.write.mode("overwrite").partitionBy("cell").parquet(s"$dir/codes")
    val probe = Ann.ivfPqProbeIndex(
      spark.read.parquet(s"$dir/centroids"),
      spark.read.parquet(s"$dir/codebook"),
      spark.read.parquet(s"$dir/codes"),
      batch, k = 5, nProbe = 2)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "neighbor_id", "rank")
        .as[(Long, Long, Int)].collect().toSeq.sorted
    // parity vs the in-memory composition (index round-trip loses
    // nothing); semantic parity vs the uncomposed parents is gated by
    // the q233 DuckDB oracle (prune-then-ADC replayed in SQL)
    val fresh = Ann.ivfPqProbeIndex(cent.localCheckpoint(true),
      cbk.localCheckpoint(true), codes.localCheckpoint(true),
      batch, k = 5, nProbe = 2)
    assert(rows(probe) == rows(fresh), "store probe != fresh composition")
    // plan: probed-cell pruning on the cell-partitioned codes store...
    val plan = probe.queryExecution.executedPlan.toString
    val pf = plan.linesIterator.find(_.contains("PartitionFilters"))
    assert(pf.exists(l => l.contains("cell") && l.contains(" IN ")),
      s"probed-cell pruning missing from the codes scan: $pf")
    // ...and no scan on the probe side ever re-reads raw embeddings
    val scans = plan.linesIterator.filter(_.contains("ReadSchema")).toSeq
    assert(!scans.exists(s => s.contains(s"$dir/codes") && s.contains("embedding")),
      s"probe re-read raw embeddings: $scans")
  }

  test("assignCodes maintains the composed store: appended rows indistinguishable; stream probe sees cross-batch appends") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.streaming.Trigger
    val e = Tables.embeddings(spark, sfDir)
    val dim = e.select(size(col("embedding"))).first().getInt(0)
    val corpus = e.filter(col("vec_id") % 10 =!= 0 && col("vec_id") < 500)
    val (cent, cbk, codes) = Ann.ivfPqIndex(corpus, nCentroids = 8,
      numSubspaces = 8, codebookSize = 16, initById = true)
    // indistinguishable-append: re-encoding the corpus against the
    // persisted (centroids, codebook) reproduces the index codes exactly
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("id", "cell", "codes")
        .as[(Long, Int, Seq[Int])].collect().toSeq.sortBy(_._1)
    assert(rows(Ann.assignCodes(cent, cbk, corpus)) == rows(codes),
      "assignCodes disagrees with the index build on the same vectors")
    // streaming ingest over the persisted composed store: batch 1
    // probes (its copy of stored vec 1 must hit id 1 at rank 1) and is
    // appended via assignCodes; batch 2's copy of a BATCH-1 vector must
    // hit that appended id — cross-micro-batch visibility
    val dir = java.nio.file.Files.createTempDirectory("ivfpqstream").toString
    val src = s"$dir/src"; new java.io.File(src).mkdirs()
    cent.write.mode("overwrite").parquet(s"$dir/centroids")
    cbk.write.mode("overwrite").parquet(s"$dir/codebook")
    codes.write.mode("overwrite").partitionBy("cell").parquet(s"$dir/codes")
    val v1 = corpus.filter(col("vec_id") === 1)
      .select(col("embedding")).first().getSeq[Float](0)
    val novel = Seq.tabulate(dim)(i => (if (i % 2 == 0) 0.9f else -0.7f))
    def write(rs: Seq[(Long, Seq[Float])]): Unit =
      rs.toDF("vec_id", "embedding").coalesce(1)
        .write.mode("append").parquet(src)
    var stateless = true
    def runOnce(tag: Int): Unit = {
      val q = spark.readStream
        .schema("vec_id BIGINT, embedding ARRAY<FLOAT>").parquet(src)
        .writeStream.option("checkpointLocation", s"$dir/ckpt")
        .foreachBatch { (df: DataFrame, id: Long) =>
          val cents = spark.read.parquet(s"$dir/centroids")
          val cb = spark.read.parquet(s"$dir/codebook")
          val store = spark.read.parquet(s"$dir/codes")
          Ann.ivfPqProbeIndex(cents, cb, store, df, k = 1, nProbe = 2)
            .write.mode("overwrite").parquet(s"$dir/out_${tag}_$id")
          // every row joins the store, encoded against the SAME
          // persisted (centroids, codebook) — never re-trained
          Ann.assignCodes(cents, cb, df)
            .write.mode("append").partitionBy("cell")
            .parquet(s"$dir/codes")
          ()
        }
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(120000)
      stateless &&= Option(q.lastProgress).forall(_.stateOperators.isEmpty)
    }
    // the novel vector gets id 0 — BELOW the corpus id range — so even
    // if some corpus vector quantizes to the same 8 codes (ADC ties are
    // plausible at codebookSize=16), the id-ascending tie-break still
    // picks the appended row deterministically
    write(Seq((0L, novel), (10001L, v1))); runOnce(0)
    write(Seq((10003L, novel))); runOnce(1)
    val top1 = spark.read.parquet(
        new java.io.File(dir).listFiles()
          .filter(_.getName.startsWith("out_")).map(_.toString): _*)
      .filter(col("rank") === 1)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toMap
    assert(top1(10001L) == 1L, s"stored twin not top-1: $top1")
    assert(top1(10003L) == 0L,
      s"cross-micro-batch append not visible to the probe: $top1")
    assert(stateless, "expected a stateless streaming plan")
  }

  test("pqIndex parquet round-trip: probe over the codes store = fresh pqTopK") {
    val e = Tables.embeddings(spark, sfDir)
    val corpus = e.filter(col("vec_id") % 10 =!= 0)
    val batch = e.filter(col("vec_id") % 10 === 0 && col("vec_id") < 200)
    val (cbk, codes) = Ann.pqIndex(corpus, numSubspaces = 8,
      codebookSize = 16, initById = true)
    val dir = java.nio.file.Files.createTempDirectory("pqidx").toString
    cbk.write.mode("overwrite").parquet(s"$dir/codebook")
    codes.write.mode("overwrite").parquet(s"$dir/codes")
    val probe = Ann.pqProbeIndex(
      spark.read.parquet(s"$dir/codebook"),
      spark.read.parquet(s"$dir/codes"),
      batch, k = 5)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "neighbor_id", "rank")
        .as[(Long, Long, Int)].collect().toSeq.sorted
    val fresh = Ann.pqTopK(corpus, batch, k = 5, numSubspaces = 8,
      codebookSize = 16, lloydIterations = 0, initById = true)
    assert(rows(probe) == rows(fresh), "codes-store probe != fresh pqTopK")
    // the probe plan reads the CODES table — the raw embedding column
    // appears in no scan on the probe side
    val scans = probe.queryExecution.executedPlan.toString.linesIterator
      .filter(_.contains("ReadSchema")).toSeq
    assert(scans.exists(_.contains("codes")) &&
      !scans.exists(s => s.contains(s"$dir/codes") && s.contains("embedding")),
      s"probe re-read raw embeddings: $scans")
  }
}
