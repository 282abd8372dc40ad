package graft

import graft.operators.{Dedup, Graph, GraphTuning}
import graft.sources.Tables
import org.apache.spark.sql.functions._

/** Regime-resolver contract: conf override, cost model, logged
  * provenance, and the job-free plan-stats fast path (round-8 tasks —
  * the `broadcastNodeLimit = 2000000L` literal sweep). */
class GraphTuningSpec extends SparkSpec {
  import spark.implicits._

  private def withConf[A](key: String, value: String)(body: => A): A = {
    val saved = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try body
    finally saved match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
  }

  test("resolveNodeLimit: explicit beats conf beats default, with provenance") {
    assert(GraphTuning.resolveNodeLimit(spark, 7L) == ((7L, "explicit")))
    assert(GraphTuning.resolveNodeLimit(spark, GraphTuning.Auto) ==
      ((GraphTuning.DefaultNodeLimit, "default")))
    withConf(GraphTuning.NodeLimitKey, "12345") {
      assert(GraphTuning.resolveNodeLimit(spark, GraphTuning.Auto) ==
        ((12345L, s"conf:${GraphTuning.NodeLimitKey}")))
      // explicit still wins over conf
      assert(GraphTuning.resolveNodeLimit(spark, 0L) == ((0L, "explicit")))
    }
  }

  test("conf override reroutes a default-arg graph call (and is logged)") {
    // symmetric 4-cycle; with the conf limit forced to 0 the default-arg
    // call must leave the broadcast regime and route co-bucketed —
    // identical labels either way (bit-exact loop), different regime.
    val e = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 2L),
      (3L, 4L), (4L, 3L), (4L, 1L), (1L, 4L)).toDF("src", "dst")
    val want = Graph.labelPropagation(e, 2)
      .orderBy("id").as[(Long, Long)].collect().toSeq
    assert(GraphTuning.lastDecision.exists(d =>
      d.broadcast && d.limitSource == "default"))
    val got = withConf(GraphTuning.NodeLimitKey, "0") {
      Graph.labelPropagation(e, 2)
        .orderBy("id").as[(Long, Long)].collect().toSeq
    }
    assert(got == want)
    val d = GraphTuning.lastDecision.get
    assert(!d.broadcast && d.limit == 0L &&
      d.limitSource == s"conf:${GraphTuning.NodeLimitKey}")
    assert(d.describe.contains("regime=shuffle/co-bucketed") &&
      d.describe.contains(s"conf:${GraphTuning.NodeLimitKey}"))
  }

  test("cost model: replication cost demotes a fitting broadcast above the floor") {
    // 10M-node state fits the conf-raised limit, but 320 MB/round of
    // broadcast against a 1k-edge shuffle is a clear veto (the floor
    // only protects sub-64MB traffic). The limit is CONF-resolved:
    // the veto prices delegated decisions only — explicit limits skip
    // it (next test).
    withConf(GraphTuning.NodeLimitKey, Long.MaxValue.toString) {
      val d = GraphTuning.decide(spark, "spec", nodeEstimate = 10000000L,
        nodeEstimateSource = "spec", edgeEstimate = 1000L)
      assert(d.fits && !d.broadcast)
      // unknown edge volume: the fit test alone decides
      val d2 = GraphTuning.decide(spark, "spec", nodeEstimate = 10000000L,
        nodeEstimateSource = "spec", edgeEstimate = -1L)
      assert(d2.broadcast)
    }
    // under the floor the veto never fires (local default behavior)
    val d3 = GraphTuning.decide(spark, "spec", nodeEstimate = 1000L,
      nodeEstimateSource = "spec", edgeEstimate = 10L)
    assert(d3.broadcast)
  }

  test("explicit limit disables the cost veto: forced regimes are honored") {
    // A caller pinning the regime (the Crossover 'bcast' arm passes
    // Long.MaxValue) means "broadcast iff it fits MY limit" — the
    // model must not second-guess it (round-8 advice: the veto was
    // silently swapping the measured regime).
    val d = GraphTuning.decide(spark, "spec", nodeEstimate = 10000000L,
      nodeEstimateSource = "spec", edgeEstimate = 1000L,
      requestedLimit = Long.MaxValue)
    assert(d.fits && d.broadcast && d.limitSource == "explicit")
    // explicit 0 still forces the non-broadcast arm via the fit test
    val d0 = GraphTuning.decide(spark, "spec", nodeEstimate = 10L,
      nodeEstimateSource = "spec", edgeEstimate = 1000L,
      requestedLimit = 0L)
    assert(!d0.fits && !d0.broadcast)
  }

  test("cost model cluster branch: 1000 executor copies demote a near-limit broadcast") {
    // nodeEst 2M fits the default 2M limit, but on 1000 executors the
    // per-round broadcast is 64 GB against a 50M-edge (1.2 GB) shuffle
    // — demoted, the GraphTuning scaladoc's cluster example. Local
    // mode reports 1 copy, so the branch needs the copies seam.
    val d = GraphTuning.decide(spark, "spec", nodeEstimate = 2000000L,
      nodeEstimateSource = "spec", edgeEstimate = 50000000L,
      copiesOverride = 1000)
    assert(d.fits && !d.broadcast && d.executorCopies == 1000)
    // same inputs on one in-process copy: 64 MB vs 1.2 GB — broadcast
    val d1 = GraphTuning.decide(spark, "spec", nodeEstimate = 2000000L,
      nodeEstimateSource = "spec", edgeEstimate = 50000000L)
    assert(d1.broadcast)
  }

  test("explicit Long.MaxValue keeps hits/lpa/bfs in the broadcast loop " +
      "despite size-inflated plan stats") {
    // Multi-MB PARQUET edge set: a file-source leaf's optimized-plan
    // stats carry only sizeInBytes (no rowCount, unlike a cached
    // InMemoryRelation), so the job-free fast path uses a byte-inflated
    // node bound — and before round 9 the cost veto then demoted even
    // an explicit force-broadcast, silently routing the loops
    // co-bucketed (the Crossover 'bcast' arms measured the wrong
    // regime). Random-ish values defeat parquet encodings so the file
    // clears the veto's 64 MB floor scaled down (> ~2 MB).
    val tmp = java.nio.file.Files.createTempDirectory("graft-tuning-spec")
      .toString
    spark.range(300000).select(
      (col("id") * 2654435761L % 1000003L).as("src"),
      (col("id") * 40503L % 50021L).as("dst"))
      .coalesce(1).write.mode("overwrite").parquet(s"$tmp/e")
    val e = spark.read.parquet(s"$tmp/e")
    e.unionByName(e.select(col("dst").as("src"), col("src").as("dst")))
      .coalesce(1).write.mode("overwrite").parquet(s"$tmp/sym")
    val sym = spark.read.parquet(s"$tmp/sym")
    try {
      assert(Graph.hits(e, 1, broadcastNodeLimit = Long.MaxValue)
        .limit(1).count() == 1)
      val dh = GraphTuning.lastDecision.get
      assert(dh.op == "hits" && dh.broadcast && dh.fits &&
        dh.limitSource == "explicit", s"hits decision: $dh")
      // pin the scenario: the estimate really is the byte-inflated
      // plan-size bound (a rowCount-backed plan would not reproduce
      // the round-8 bug this test guards against)
      assert(dh.nodeEstimateSource == "plan-size-upper-bound" &&
        dh.nodeEstimate > 2000000L, s"hits decision: $dh")
      assert(Graph.labelPropagation(sym, 1,
        broadcastNodeLimit = Long.MaxValue).limit(1).count() == 1)
      val dl = GraphTuning.lastDecision.get
      assert(dl.op == "labelPropagation" && dl.broadcast && dl.fits &&
        dl.limitSource == "explicit", s"lpa decision: $dl")
      assert(Graph.bfsDistances(e, Seq(1L, 2L).toDF("id"), 1,
        broadcastNodeLimit = Long.MaxValue).count() >= 2)
      val db = GraphTuning.lastDecision.get
      assert(db.op == "bfsDistances" && db.broadcast && db.fits &&
        db.limitSource == "explicit", s"bfs decision: $db")
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm))
        f.delete(); ()
      }
      rm(new java.io.File(tmp))
    }
  }

  test("kCore re-takes the regime per round: shuffle switches to broadcast as the core prunes") {
    // K4 core + 200 degree-1 pendants: with the conf limit at 50 the
    // first round sees 2m = 412 > 50 (shuffle semi-joins); the peel
    // drops every pendant, so round 2 sees 2m = 12 <= 50 and must
    // switch to broadcast semi-joins mid-run (round-8 advice: the
    // frozen pre-loop decision lost this).
    val clique = for (a <- 1L to 4L; b <- (a + 1) to 4L) yield (a, b)
    val pendants = (0L until 200L).map(i => (1L, 100L + i))
    val e = (clique ++ pendants).toDF("src", "dst")
    val out = withConf(GraphTuning.NodeLimitKey, "50") {
      GraphTuning.resetLast()
      Graph.kCore(e, k = 2, maxRounds = 5)
        .orderBy("id").as[(Long, Long)].collect().toSeq
    }
    // surviving 2-core: the K4, every node at degree 3
    assert(out == Seq(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
    val rounds = GraphTuning.decisionLog.reverse.filter(_.op == "kCore")
    assert(rounds.size >= 2, s"expected per-round decisions: $rounds")
    assert(!rounds.head.broadcast && !rounds.head.fits)
    assert(rounds.last.broadcast && rounds.last.fits)
  }

  test("rowUpperBound: rowsPerByteMargin scales the size-based bound only") {
    // parquet-backed plan: stats carry sizeInBytes, no rowCount — the
    // margin multiplies the bound (the collect-licensing guard in
    // duplicateClusters). A rowCount-backed plan is exact either way.
    val pq = spark.read.parquet(s"$sfDir/lineitem.parquet")
      .select("l_orderkey", "l_partkey")
    val Some((u1, s1)) = GraphTuning.rowUpperBound(pq)
    val Some((u8, s8)) = GraphTuning.rowUpperBound(pq, rowsPerByteMargin = 8L)
    assert(s1 == "plan-size-upper-bound" && s8 == s1)
    assert(u8 == 8L * u1)
  }

  test("rowUpperBound over-counts, never under-counts, a local plan") {
    val df = Seq.tabulate(100)(i => (i.toLong, (i * 3).toLong))
      .toDF("src", "dst")
    val Some((u, src)) = GraphTuning.rowUpperBound(df)
    assert(u >= 100L)
    assert(src == "plan-rowcount" || src == "plan-size-upper-bound")
  }

  test("tiny symmetric pagerank skips the pre-loop stats job (plan-stats fast path)") {
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 1L), (1L, 4L))
    val e = (pairs ++ pairs.map(_.swap)).toDF("src", "dst")
    def run(coBucketThreshold: Long): (Seq[(Long, Long)], Int) = {
      var out: Seq[(Long, Long)] = null
      val jobs = countJobs {
        out = Graph.pageRankFixedPoint(e, iterations = 2, symmetric = true,
          coBucketEdgeThreshold = coBucketThreshold)
          .orderBy("id").as[(Long, Long)].collect().toSeq
      }
      (out, jobs)
    }
    // default thresholds: the LocalRelation plan bound proves the graph
    // tiny — no stats job, decision provenance is the plan bound
    val (fast, fastJobs) = run(40000000L)
    assert(GraphTuning.lastDecision.exists(d =>
      d.broadcast && d.nodeEstimateSource.startsWith("plan-")),
      s"unexpected decision: ${GraphTuning.lastDecision}")
    // coBucketEdgeThreshold=1 defeats the fast path (the bound can no
    // longer rule the co-bucket route out), forcing the one-job stats
    // agg — byte-identical result, exactly one extra job
    val (slow, slowJobs) = run(1L)
    assert(GraphTuning.lastDecision.exists(d =>
      d.broadcast && d.nodeEstimateSource == "stats-agg-hll"))
    assert(slow == fast)
    // the stats agg shows up as extra jobs (2 under AQE: partial + final
    // stage); the fast path must not pay them
    assert(slowJobs > fastJobs,
      s"expected extra stats job(s), got $fastJobs vs $slowJobs")
  }

  test("duplicateClusters logs its regime with edge-count provenance") {
    val ids = Seq(1L, 2L, 3L, 4L, 5L).toDF("doc_id")
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("id_a", "id_b")
    val jobsUsed = countJobs {
      val out = Dedup.duplicateClusters(ids, "doc_id", pairs)
        .orderBy("doc_id").as[(Long, Long)].collect().toSeq
      assert(out == Seq(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 5L))
    }
    val msg = GraphTuning.lastRouting.get
    assert(msg.contains("regime=driver-union-find"))
    assert(msg.contains("plan-size-upper-bound") ||
      msg.contains("plan-rowcount"))
    assert(jobsUsed > 0) // sanity: the listener actually observed the run
  }

  test("confBytes: value, default, and a malformed conf names its key") {
    spark.conf.set("graft.test.bytes", " 1024 ")
    try assert(GraphTuning.confBytes(spark, "graft.test.bytes", 7L) == 1024L)
    finally spark.conf.unset("graft.test.bytes")
    assert(GraphTuning.confBytes(spark, "graft.test.bytes", 7L) == 7L)
    spark.conf.set("graft.test.bytes", "256mb")
    try {
      val e = intercept[IllegalArgumentException] {
        GraphTuning.confBytes(spark, "graft.test.bytes", 7L)
      }
      assert(e.getMessage.contains("graft.test.bytes") &&
        e.getMessage.contains("256mb"), e.getMessage)
    } finally spark.conf.unset("graft.test.bytes")
  }

  test("checkpointWithCount: count observed in the checkpoint job, one job total") {
    val df = Tables.lineitem(spark, sfDir)
      .filter(col("l_quantity") > 10).select("l_orderkey")
    val want = df.count()
    var got = -1L
    var out: org.apache.spark.sql.DataFrame = null
    val jobs = countJobs {
      val r = GraphTuning.checkpointWithCount(df)
      out = r._1; got = r._2
    }
    assert(got == want, s"observed $got, want $want")
    assert(out.count() == want) // the returned frame is the same rows
    assert(jobs == 1, s"fused checkpoint must cost ONE job, used $jobs")
    // empty frames observe 0 (sum-style metrics coalesce to 0 too)
    val (e, n0) = GraphTuning.checkpointWithCount(df.filter(lit(false)))
    assert(n0 == 0L && e.isEmpty)
    // caller-chosen aggregate: conditional count (the SCC imp-flag shape)
    val flagged = Tables.lineitem(spark, sfDir)
      .select((col("l_quantity") > 25).as("imp"))
    val wantImp = flagged.filter(col("imp")).count()
    val (_, nImp) = GraphTuning.checkpointObserving(flagged,
      sum(when(col("imp"), 1L).otherwise(0L)))
    assert(nImp == wantImp, s"observed $nImp, want $wantImp")
  }

  test("hits: one checkpoint job per extra round (auth half-round fused)") {
    // dense-ish bipartite graph, broadcast regime; every extra iteration
    // must add exactly one hub checkpoint plus its broadcast builds —
    // the pre-round-16 loop checkpointed BOTH half-rounds (two jobs)
    val e = Seq.tabulate(200)(i => (i.toLong % 23, 100L + (i * 7 % 31)))
      .distinct.toDF("src", "dst")
    def run(iters: Int): Int = countJobs {
      Graph.hits(e, iterations = iters).collect()
      ()
    }
    val j2 = run(2); val j3 = run(3); val j4 = run(4)
    val m23 = j3 - j2; val m34 = j4 - j3
    assert(m23 == m34,
      s"per-round marginal job cost must be constant: jobs=$j2/$j3/$j4")
    assert(m23 <= 3,
      s"round must be one fused checkpoint (+broadcast builds), got marginal=$m23")
  }

  test("checkpointObservingAll: several metrics ride one checkpoint job") {
    val df = Tables.lineitem(spark, sfDir)
      .filter(col("l_quantity") > 10)
      .select(col("l_orderkey").as("a"), col("l_partkey").as("b"))
    val wantN = df.count()
    val wantLo = df.agg(min("a")).first().getLong(0)
    val wantHi = df.agg(max("b")).first().getLong(0)
    var ms: Map[String, Long] = null
    val jobs = countJobs {
      ms = GraphTuning.checkpointObservingAll(df, Seq(
        "n" -> count(lit(1)),
        "lo" -> min(col("a")),
        "hi" -> max(col("b"))))._2
    }
    assert(ms == Map("n" -> wantN, "lo" -> wantLo, "hi" -> wantHi))
    assert(jobs == 1, s"fused multi-metric checkpoint must cost ONE job, used $jobs")
    // all-null conditional aggregates coalesce to 0 (the empty-survivor shape)
    val (_, zs) = GraphTuning.checkpointObservingAll(df, Seq(
      "m" -> sum(when(col("a") < 0, 1L)),
      "lo" -> min(when(col("a") < 0, col("a")))))
    assert(zs == Map("m" -> 0L, "lo" -> 0L))
  }

  test("memoizedCount: identical plans pay the count job once") {
    def frame() = Tables.lineitem(spark, sfDir)
      .filter(col("l_quantity") > 10).select("l_orderkey")
    val n1 = countJobs(assert(GraphTuning.memoizedCount(frame()) ==
      frame().count()))
    // the memo key is the CANONICALIZED plan — a rebuilt identical
    // frame (fresh expr ids) must hit
    val n2 = countJobs(GraphTuning.memoizedCount(frame()))
    assert(n2 < n1, s"expected a memo hit: first=$n1 jobs, second=$n2")
  }
}
