package graft

import graft.operators.Graph
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

class GraphSpec extends SparkSpec {
  import spark.implicits._

  test("fixed-point pagerank: symmetric star concentrates rank on the hub") {
    // star: 1 ↔ {2,3,4}
    val e = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 1L), (3L, 1L), (4L, 1L))
      .toDF("src", "dst")
    val r = Graph.pageRankFixedPoint(e, iterations = 5)
      .as[(Long, Long)].collect().toMap
    assert(r(1L) > r(2L))
    assert(r(2L) == r(3L) && r(3L) == r(4L)) // symmetry is exact (integer math)
  }

  test("fixed-point pagerank is partitioning-independent") {
    val e = Seq.tabulate(200)(i => (i.toLong % 50, (i * 7 % 50).toLong))
      .toDF("src", "dst").filter(col("src") =!= col("dst"))
    val a = Graph.pageRankFixedPoint(e.repartition(1), 3)
      .orderBy("id").as[(Long, Long)].collect().toSeq
    val b = Graph.pageRankFixedPoint(e.repartition(13), 3)
      .orderBy("id").as[(Long, Long)].collect().toSeq
    assert(a == b)
  }

  test("driver-state and distributed regimes agree exactly") {
    val e = Seq.tabulate(300)(i => ((i % 60).toLong, (i * 11 % 60).toLong))
      .toDF("src", "dst").filter(col("src") =!= col("dst"))
    val small = Graph.pageRankFixedPoint(e, 4)
      .orderBy("id").as[(Long, Long)].collect().toSeq
    val big = Graph.pageRankFixedPoint(e, 4, broadcastNodeLimit = 0L)
      .orderBy("id").as[(Long, Long)].collect().toSeq
    assert(small == big)
  }

  test("harmonicCentrality: path-graph hand case (self excluded, integer ppm)") {
    // path 1-2-3-4-5, landmarks {1, 5}
    val p = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L))
    val e = (p ++ p.map(_.swap)).toDF("src", "dst")
    val seeds = Seq(1L, 5L).toDF("id")
    val got = Graph.harmonicCentrality(e, seeds, maxHops = 4)
      .as[(Long, Long, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got == Map(
      1L -> ((1L, 250000L)),            // only landmark 5 at dist 4
      2L -> ((2L, 1333333L)),           // 1e6/1 + 1e6/3
      3L -> ((2L, 1000000L)),           // 1e6/2 twice
      4L -> ((2L, 1333333L)),
      5L -> ((1L, 250000L))))
  }

  test("pageRankIterates: captured rounds are bit-identical to standalone runs") {
    val pairs = (Seq.tabulate(30)(i => (90L, i.toLong + 1)) ++
      Seq.tabulate(50)(i => (i.toLong + 1, (i + 1).toLong % 50 + 1)))
      .filter { case (a, b) => a != b }.distinct
    val e = (pairs ++ pairs.map(_.swap)).distinct.toDF("src", "dst")
    val its = Graph.pageRankIterates(e, iterations = 3, captureAt = Set(1, 2),
      symmetric = true)
    assert(its.keySet == Set(1, 2, 3)) // final round always present
    for (k <- 1 to 3) {
      val want = Graph.pageRankFixedPoint(e, iterations = k, symmetric = true)
        .orderBy("id").as[(Long, Long)].collect().toSeq
      val got = its(k).orderBy("id").as[(Long, Long)].collect().toSeq
      assert(got == want, s"round $k capture diverged")
    }
    // out-of-range capture requests are ignored, final still returned
    val only = Graph.pageRankIterates(e, iterations = 2, captureAt = Set(0, 9),
      symmetric = true)
    assert(only.keySet == Set(2))
    // iterations <= 0 keeps the flat-start contract under key 0
    val flat = Graph.pageRankIterates(e, iterations = 0, captureAt = Set.empty)
    assert(flat.keySet == Set(0))
    assert(flat(0).select("rank").distinct()
      .as[Long].collect().toSeq == Seq(1000000L))
  }

  test("co-bucketed iterate capture matches the broadcast-regime rounds") {
    val pairs = (Seq.tabulate(20)(i => (70L, i.toLong + 1)) ++
      Seq.tabulate(40)(i => (i.toLong + 1, (i + 1).toLong % 40 + 1)))
      .filter { case (a, b) => a != b }.distinct
    val e = (pairs ++ pairs.map(_.swap)).distinct.toDF("src", "dst")
    val its = Graph.pageRankCoBucketedIterates(e, iterations = 3,
      captureAt = Set(2))
    assert(its.keySet == Set(2, 3))
    for (k <- Seq(2, 3)) {
      val want = Graph.pageRankFixedPoint(e, iterations = k, symmetric = true)
        .orderBy("id").as[(Long, Long)].collect().toSeq
      assert(its(k).orderBy("id").as[(Long, Long)].collect().toSeq == want)
    }
    // captures stay readable after the work tables are dropped
    assert(!spark.catalog.listTables().collect()
      .exists(_.name.startsWith("graft_pr_")))
  }

  test("co-bucketed regime matches the broadcast regime bit-for-bit") {
    // symmetric graph (the regime's contract), mixed hub + ring
    val pairs = (Seq.tabulate(40)(i => (100L, i.toLong + 1)) ++
      Seq.tabulate(60)(i => (i.toLong + 1, (i + 1).toLong % 60 + 1)))
      .filter { case (a, b) => a != b }.distinct
    val e = (pairs ++ pairs.map(_.swap)).distinct.toDF("src", "dst")
    val want = Graph.pageRankFixedPoint(e, iterations = 3, symmetric = true)
      .orderBy("id").as[(Long, Long)].collect().toSeq
    val got = Graph.pageRankCoBucketed(e, iterations = 3)
      .orderBy("id").as[(Long, Long)].collect().toSeq
    assert(got == want)
    // work tables are dropped on exit
    assert(!spark.catalog.listTables().collect()
      .exists(_.name.startsWith("graft_pr_")))
  }

  test("co-bucketed round plans exactly one Exchange (the dst agg), none for the join") {
    val e = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 2L)).toDF("src", "dst")
    val saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      // force the bucketed SortMergeJoin (a broadcast join would also be
      // exchange-free but wouldn't demonstrate the bucket co-location)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      io.Bucketing.writeBucketed(
        e.withColumn("deg", count(lit(1)).over(
          org.apache.spark.sql.expressions.Window.partitionBy("src"))),
        "graftspec_rb_edges", Seq("src"), 4)
      io.Bucketing.writeBucketed(
        e.select(col("src")).distinct().withColumn("rank", lit(1000000L)),
        "graftspec_rb_ranks", Seq("src"), 4)
      val round = Graph.coBucketedRound(spark, "graftspec_rb_edges",
        "graftspec_rb_ranks", 1000000L, 850000L)
      val plan = round.queryExecution.executedPlan.toString
      assert("Exchange".r.findAllIn(plan).length == 1, plan)
      assert(plan.contains("SortMergeJoin"), plan)
      // and the answer is right: flat ranks in, one propagation out
      val got = round.orderBy("src").as[(Long, Long)].collect().toSeq
      val want = Graph.pageRankFixedPoint(e, iterations = 1, symmetric = true)
        .orderBy("id").as[(Long, Long)].collect().toSeq
      assert(got == want)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
      spark.sql("DROP TABLE IF EXISTS graftspec_rb_edges")
      spark.sql("DROP TABLE IF EXISTS graftspec_rb_ranks")
    }
  }

  // symmetric mixed hub + ring graph shared by the co-bucketed parity tests
  private def symGraph = {
    val pairs = (Seq.tabulate(40)(i => (100L, i.toLong + 1)) ++
      Seq.tabulate(60)(i => (i.toLong + 1, (i + 1).toLong % 60 + 1)))
      .filter { case (a, b) => a != b }.distinct
    (pairs ++ pairs.map(_.swap)).distinct.toDF("src", "dst")
  }

  test("co-bucketed LPA matches the broadcast regime bit-for-bit") {
    val e = symGraph
    val want = Graph.labelPropagation(e, iterations = 3)
      .orderBy("id").as[(Long, Long)].collect().toSeq
    val got = Graph.labelPropagationCoBucketed(e, iterations = 3)
      .orderBy("id").as[(Long, Long)].collect().toSeq
    assert(got == want)
    assert(!spark.catalog.listTables().collect()
      .exists(_.name.startsWith("graft_lpa_")))
  }

  test("big-graph routing agrees with the small-graph regimes bit-for-bit") {
    val e = symGraph
    // LPA above broadcastNodeLimit now ROUTES to the co-bucketed loop
    // (round-6 crossover measurement); same labels either way
    val lpaWant = Graph.labelPropagation(e, iterations = 3)
      .orderBy("id").as[(Long, Long)].collect().toSeq
    val lpaRouted = Graph.labelPropagation(e, iterations = 3,
      broadcastNodeLimit = 0L)
      .orderBy("id").as[(Long, Long)].collect().toSeq
    assert(lpaRouted == lpaWant)
    // symmetric PageRank above both thresholds routes to co-bucketed
    val prWant = Graph.pageRankFixedPoint(e, iterations = 3, symmetric = true)
      .orderBy("id").as[(Long, Long)].collect().toSeq
    val prRouted = Graph.pageRankFixedPoint(e, iterations = 3,
      symmetric = true, broadcastNodeLimit = 0L, coBucketEdgeThreshold = 0L)
      .orderBy("id").as[(Long, Long)].collect().toSeq
    assert(prRouted == prWant)
    // BFS and HITS above broadcastNodeLimit route to co-bucketed too
    val seeds = Seq(100L).toDF("id")
    val bfsWant = Graph.bfsDistances(e, seeds, maxHops = 3)
      .orderBy("id").as[(Long, Long)].collect().toSeq
    val bfsRouted = Graph.bfsDistances(e, seeds, maxHops = 3,
      broadcastNodeLimit = 0L)
      .orderBy("id").as[(Long, Long)].collect().toSeq
    assert(bfsRouted == bfsWant)
    val hitsWant = Graph.hits(e, iterations = 2)
      .orderBy("id").as[(Long, Long, Long)].collect().toSeq
    val hitsRouted = Graph.hits(e, iterations = 2, broadcastNodeLimit = 0L)
      .orderBy("id").as[(Long, Long, Long)].collect().toSeq
    assert(hitsRouted == hitsWant)
  }

  test("co-bucketed BFS matches the frontier regime") {
    val e = symGraph
    val seeds = Seq(100L).toDF("id")
    val want = Graph.bfsDistances(e, seeds, maxHops = 3)
      .orderBy("id").as[(Long, Long)].collect().toSeq
    val got = Graph.bfsDistancesCoBucketed(e, seeds, maxHops = 3)
      .orderBy("id").as[(Long, Long)].collect().toSeq
    assert(got == want)
    assert(!spark.catalog.listTables().collect()
      .exists(_.name.startsWith("graft_bfs_")))
  }

  test("co-bucketed HITS matches the broadcast regime bit-for-bit") {
    val e = symGraph
    val want = Graph.hits(e, iterations = 2)
      .orderBy("id").as[(Long, Long, Long)].collect().toSeq
    val got = Graph.hitsCoBucketed(e, iterations = 2)
      .orderBy("id").as[(Long, Long, Long)].collect().toSeq
    assert(got == want)
    assert(!spark.catalog.listTables().collect()
      .exists(_.name.startsWith("graft_hits_")))
  }

  test("co-bucketed HITS half-round plans exactly one Exchange") {
    val saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val e = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 2L)).toDF("src", "dst")
      io.Bucketing.writeBucketed(e, "graftspec_he_edst", Seq("dst"), 4)
      io.Bucketing.writeBucketed(
        e.select(col("dst").as("id")).distinct().withColumn("auth", lit(1L)),
        "graftspec_he_auth", Seq("id"), 4)
      val plan = Graph.hitsCoBucketedHalfRound(spark, "graftspec_he_edst",
        "graftspec_he_auth", "dst", "src", "auth", "hub")
        .queryExecution.executedPlan.toString
      assert("Exchange".r.findAllIn(plan).length == 1, plan)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
      spark.sql("DROP TABLE IF EXISTS graftspec_he_edst")
      spark.sql("DROP TABLE IF EXISTS graftspec_he_auth")
    }
  }

  test("co-bucketed CC matches the independent driver union-find") {
    val e = symGraph // already symmetric (both directions present)
    import org.apache.spark.sql.functions.col
    val nodes = e.select(col("src").as("doc_id")).distinct()
    val pairs = e.filter(col("src") < col("dst"))
      .select(col("src").as("id_a"), col("dst").as("id_b"))
    // default threshold → the DRIVER union-find path: a genuinely
    // separate implementation (not the distributed hash-min loop, which
    // shares its round math with the co-bucketed variant)
    val want = operators.Dedup.duplicateClusters(nodes, "doc_id", pairs)
      .orderBy("doc_id").as[(Long, Long)].collect().toSeq
    val got = Graph.connectedComponentsCoBucketed(e)
      .orderBy("id").as[(Long, Long)].collect().toSeq
    assert(got == want)
    // work tables are per-invocation unique AND dropped — none survive
    assert(!spark.catalog.listTables().collect()
      .exists(_.name.startsWith("graft_cc_")))
  }

  test("co-bucketed CC round plans exactly two node-sized Exchanges") {
    val saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val e = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 2L)).toDF("src", "dst")
      io.Bucketing.writeBucketed(e, "graftspec_ccr_edges", Seq("src"), 4)
      io.Bucketing.writeBucketed(
        e.select(col("src").as("id")).distinct().withColumn("label", col("id")),
        "graftspec_ccr_labels", Seq("id"), 4)
      val plan = Graph.ccCoBucketedRound(spark, "graftspec_ccr_edges",
        "graftspec_ccr_labels").queryExecution.executedPlan.toString
      assert("Exchange".r.findAllIn(plan).length == 2, plan)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
      spark.sql("DROP TABLE IF EXISTS graftspec_ccr_edges")
      spark.sql("DROP TABLE IF EXISTS graftspec_ccr_labels")
    }
  }

  test("co-bucketed LPA/BFS rounds plan exactly one Exchange each") {
    val saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val e = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 2L)).toDF("src", "dst")
      io.Bucketing.writeBucketed(e, "graftspec_cb_edges", Seq("src"), 4)
      io.Bucketing.writeBucketed(
        e.select("src").distinct().withColumn("lbl", col("src")),
        "graftspec_cb_labels", Seq("src"), 4)
      io.Bucketing.writeBucketed(
        Seq((1L, 0L)).toDF("src", "dist"), "graftspec_cb_front", Seq("src"), 4)
      io.Bucketing.writeBucketed(
        Seq((1L, 0L)).toDF("src", "dist"), "graftspec_cb_vis", Seq("src"), 4)
      val lpaPlan = Graph.lpaCoBucketedRound(spark, "graftspec_cb_edges",
        "graftspec_cb_labels", 4).queryExecution.executedPlan.toString
      assert("Exchange".r.findAllIn(lpaPlan).length == 1, lpaPlan)
      val bfsPlan = Graph.bfsCoBucketedRound(spark, "graftspec_cb_edges",
        "graftspec_cb_front", "graftspec_cb_vis", 4, 1)
        .queryExecution.executedPlan.toString
      assert("Exchange".r.findAllIn(bfsPlan).length == 1, bfsPlan)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
      Seq("edges", "labels", "front", "vis").foreach(t =>
        spark.sql(s"DROP TABLE IF EXISTS graftspec_cb_$t"))
    }
  }

  test("dangling nodes keep the base rank") {
    val e = Seq((1L, 2L)).toDF("src", "dst") // 2 has no out-edges
    val r = Graph.pageRankFixedPoint(e, 2).as[(Long, Long)].collect().toMap
    // node 1 receives nothing → base 150000 after first round
    assert(r(1L) == 150000L)
    assert(r(2L) > r(1L))
  }

  test("label propagation: triangle converges to min id; star oscillates (sync LPA)") {
    // complete triangle {1,2,3}: hand-computed rounds → all label 1 by r2
    val tri = Seq((1L, 2L), (2L, 1L), (1L, 3L), (3L, 1L), (2L, 3L), (3L, 2L))
      .toDF("src", "dst")
    val lTri = Graph.labelPropagation(tri, 3).as[(Long, Long)].collect().toMap
    assert(lTri == Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
    // star 1↔{2,3,4} is bipartite → synchronous LPA oscillates with
    // period 2; after 3 rounds: hub carries the leaves' label and vice
    // versa (hand-computed; determinism is the point of the sync variant)
    val star = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 1L), (3L, 1L), (4L, 1L))
      .toDF("src", "dst")
    val lStar = Graph.labelPropagation(star, 3).as[(Long, Long)].collect().toMap
    assert(lStar == Map(1L -> 2L, 2L -> 1L, 3L -> 1L, 4L -> 1L))
  }

  test("broadcast-mode LPA round plans with zero Exchange after the edge layout") {
    val e = Seq.tabulate(300)(i => (i.toLong % 40 + 1, (i * 13 % 40).toLong + 1))
      .filter(p => p._1 != p._2)
    val edges = (e ++ e.map(_.swap)).toDF("src", "dst")
    val ew = edges.select(col("src").cast("long"), col("dst").cast("long"))
      .repartition(col("dst")).cache()
    ew.count()
    val labels = ew.select(col("src").as("id")).distinct()
      .withColumn("lbl", col("id")).localCheckpoint(true)
    // one round exactly as labelPropagation builds it
    val round = ew
      .join(broadcast(labels.withColumnRenamed("id", "src")), Seq("src"))
      .groupBy(col("dst").as("id"), col("lbl"))
      .agg(count(lit(1)).as("c"))
      .groupBy("id")
      .agg(min_by(col("lbl"),
        struct((-col("c")).as("nc"), col("lbl"))).as("lbl"))
    round.collect()
    // hash(dst) from the cached layout satisfies both aggs' clustering
    // (subset rule + alias-aware partitioning through the projections),
    // so a round runs with ZERO shuffle stages — the cache scan and the
    // label broadcast are the only leaves. Tree-walk the final adaptive
    // plan: a string match would also see the layout Exchange stored
    // inside the InMemoryRelation.
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, ShuffleQueryStageExec}
    val fin = round.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    assert(fin.collect { case s: ShuffleQueryStageExec => s }.isEmpty,
      fin.toString)
    assert(fin.toString.contains("BroadcastHashJoin"), fin.toString)
    ew.unpersist()
  }

  test("label propagation is partitioning-independent") {
    val base = Seq.tabulate(300)(i => (i.toLong % 40, (i * 13 % 40).toLong))
      .filter(p => p._1 != p._2)
    val e = (base ++ base.map(_.swap)).toDF("src", "dst")
    val a = Graph.labelPropagation(e.repartition(1), 3)
      .as[(Long, Long)].collect().toMap
    val b = Graph.labelPropagation(e.repartition(17), 3)
      .as[(Long, Long)].collect().toMap
    assert(a == b && a.nonEmpty)
  }

  test("triangle counts: K4 plus a pendant — known closed form") {
    // K4 on {1,2,3,4}: every node is in C(3,2)=3 triangles; pendant 5—1
    // is in none. Feed messy input: both directions, dups, a self-loop.
    val k4 = for { a <- 1L to 4L; b <- 1L to 4L; if a != b } yield (a, b)
    val e = (k4 ++ Seq((1L, 5L), (5L, 1L), (1L, 2L), (3L, 3L)))
      .toDF("src", "dst")
    val got = Graph.triangleCounts(e).as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L, 5L -> 0L))
  }

  test("triangle counts: shuffle+bloom closure regime matches broadcast") {
    // force the big-graph path (broadcastEdgeLimit = 1): wedge pruning
    // via the Bloom sketch + shuffle closure must return the same counts
    val k4 = for { a <- 1L to 4L; b <- 1L to 4L; if a != b } yield (a, b)
    val e = (k4 ++ Seq((1L, 5L), (6L, 7L), (7L, 8L), (6L, 8L)))
      .toDF("src", "dst")
    val big = Graph.triangleCounts(e, broadcastEdgeLimit = 1)
      .as[(Long, Long)].collect().toMap
    val small = Graph.triangleCounts(e).as[(Long, Long)].collect().toMap
    assert(big == small)
    assert(big == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L, 5L -> 0L,
      6L -> 1L, 7L -> 1L, 8L -> 1L))
  }

  test("triangle counts: triangle-free bipartite graph is all zeros") {
    val e = (for { a <- 1L to 5L; b <- 10L to 14L } yield (a, b))
      .toDF("src", "dst")
    val got = Graph.triangleCounts(e).as[(Long, Long)].collect()
    assert(got.length == 10 && got.forall(_._2 == 0L))
  }

  test("triangle counts: empty edge set (all self-loops) returns empty") {
    val e = Seq((1L, 1L), (2L, 2L)).toDF("src", "dst")
    assert(Graph.triangleCounts(e).isEmpty)
  }

  test("coOccurrenceEdges: dedups duplicated facts, drops hub groups, deterministic") {
    // group 1: items {1,2,3} with heavy duplication → 3 edges;
    // group 2: 9 distinct items > cap 8 → dropped entirely;
    // group 3: single item → no edges
    val facts = (Seq.fill(50)(Seq((1L, 1L), (1L, 2L), (1L, 3L))).flatten ++
      (1L to 9L).map((2L, _)) ++ Seq((3L, 7L))).toDF("g", "item")
    val got = Graph.coOccurrenceEdges(facts, "g", "item", maxGroupSize = 8)
      .distinct().as[(Long, Long)].collect().toSet
    assert(got == Set((1L, 2L), (1L, 3L), (2L, 3L)))
    // arrival order / partitioning never changes membership
    val rep = Graph.coOccurrenceEdges(facts.repartition(13), "g", "item", 8)
      .distinct().as[(Long, Long)].collect().toSet
    assert(rep == got)
  }

  test("personalized PageRank: hand-computed 2-cycle, frontier-only output") {
    // 1⇄2 plus an unreachable component 5→6; seed = {1}
    val e = Seq((1L, 2L), (2L, 1L), (5L, 6L)).toDF("src", "dst")
    val seeds = Seq(1L).toDF("id")
    val r2 = Graph.personalizedPageRank(e, seeds, iterations = 2)
      .as[(Long, Long)].collect().toMap
    // r0: {1:1000000}
    // r1: 2 gets (850000*1000000) div 1e6 = 850000; 1 keeps base 150000
    // r2: 1 = 150000 + (850000*850000) div 1e6 = 872500
    //     2 = (850000*150000) div 1e6 = 127500
    assert(r2 == Map(1L -> 872500L, 2L -> 127500L)) // 5,6 never appear
  }

  test("personalized PageRank is partitioning-independent") {
    val e = Seq.tabulate(200)(i => ((i % 23).toLong, (i * 7 % 23).toLong))
      .filter(p => p._1 != p._2).toDF("src", "dst")
    val seeds = Seq(0L, 5L).toDF("id")
    val a = Graph.personalizedPageRank(e.repartition(1), seeds, 3)
      .as[(Long, Long)].collect().toMap
    val b = Graph.personalizedPageRank(e.repartition(17), seeds, 3)
      .as[(Long, Long)].collect().toMap
    assert(a == b && a.nonEmpty)
  }

  test("triangle counts are partitioning-independent") {
    val e = Seq.tabulate(300)(i => (i.toLong % 40, (i * 13 % 40).toLong))
      .toDF("src", "dst")
    val a = Graph.triangleCounts(e.repartition(1))
      .as[(Long, Long)].collect().toMap
    val b = Graph.triangleCounts(e.repartition(17))
      .as[(Long, Long)].collect().toMap
    assert(a == b && a.nonEmpty)
    // full check against a local brute force (node 0 only self-loops in
    // this edge set, so it must be absent from the result)
    val adj = e.as[(Long, Long)].collect()
      .flatMap { case (x, y) => Seq((x, y), (y, x)) }.filter(p => p._1 != p._2)
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
    val want = adj.map { case (n, nbrs) =>
      n -> nbrs.toSeq.combinations(2)
        .count { case Seq(x, y) => adj(x).contains(y) }.toLong
    }
    assert(a == want)
  }

  test("HITS: hand-computed bipartite example, two rounds") {
    // 1→10, 2→10, 2→11, 3→11; h₀≡1 ⇒ a₁=(10:2, 11:2);
    // h₁=(1:2, 2:4, 3:2); a₂=(10:6, 11:6); h₂=(1:6, 2:12, 3:6)
    val e = Seq((1L, 10L), (2L, 10L), (2L, 11L), (3L, 11L)).toDF("src", "dst")
    val out = Graph.hits(e, iterations = 2)
      .as[(Long, Long, Long)].collect().sortBy(_._1).toSeq
    assert(out == Seq((1L, 6L, 0L), (2L, 12L, 0L), (3L, 6L, 0L),
      (10L, 0L, 6L), (11L, 0L, 6L)))
  }

  test("HITS is partitioning-independent") {
    val e = Seq.tabulate(300)(i => (i.toLong % 37, 100L + (i * 11 % 41)))
      .distinct.toDF("src", "dst")
    val a = Graph.hits(e.repartition(1), 3)
      .as[(Long, Long, Long)].collect().toSet
    val b = Graph.hits(e.repartition(17), 3)
      .as[(Long, Long, Long)].collect().toSet
    assert(a == b && a.nonEmpty)
  }

  test("BFS: path graph distances, hop cap, multi-source min, unreachable absent") {
    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (8L, 9L))
    val edges = (path ++ path.map(_.swap)).toDF("src", "dst")
    def run(seeds: Seq[Long], k: Int) =
      Graph.bfsDistances(edges, seeds.toDF("id"), k)
        .as[(Long, Long)].collect().toMap
    // single seed, generous cap: exact hop distances; 8/9 unreachable
    assert(run(Seq(1L), 10) == Map(1L -> 0L, 2L -> 1L, 3L -> 2L, 4L -> 3L, 5L -> 4L))
    // cap cuts the horizon
    assert(run(Seq(1L), 2) == Map(1L -> 0L, 2L -> 1L, 3L -> 2L))
    // multi-source takes the min over seeds
    assert(run(Seq(1L, 5L), 10) ==
      Map(1L -> 0L, 2L -> 1L, 3L -> 2L, 4L -> 1L, 5L -> 0L))
    // seed in the small component
    assert(run(Seq(8L), 10) == Map(8L -> 0L, 9L -> 1L))
  }

  test("BFS is partitioning-independent") {
    val e = Seq.tabulate(300)(i => (i.toLong % 40, (i * 13 % 40).toLong))
      .filter(p => p._1 != p._2)
    val edges = (e ++ e.map(_.swap)).toDF("src", "dst")
    val seeds = Seq(0L, 7L).toDF("id")
    val a = Graph.bfsDistances(edges.repartition(1), seeds, 3)
      .as[(Long, Long)].collect().toMap
    val b = Graph.bfsDistances(edges.repartition(17), seeds, 3)
      .as[(Long, Long)].collect().toMap
    assert(a == b && a.nonEmpty)
  }

  test("HITS half-round plans with zero Exchange: cached layout + broadcast") {
    val e = Seq.tabulate(300)(i => (i.toLong % 37, 100L + (i * 11 % 41)))
      .distinct.toDF("src", "dst")
    val eSrc = e.select(col("src").cast("long"), col("dst").cast("long"))
      .repartition(col("src")).cache()
    eSrc.count()
    val auth = eSrc.groupBy(col("dst").as("id")).agg(count(lit(1)).as("auth"))
      .localCheckpoint(true)
    // one hub half-round exactly as Graph.hits builds it: join key is
    // dst (broadcast side) but the agg groups by src = the cached layout
    val round = eSrc
      .join(broadcast(auth.select(col("id").as("dst"), col("auth"))), Seq("dst"))
      .groupBy(col("src").as("id")).agg(sum(col("auth")).as("hub"))
    round.collect()
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, ShuffleQueryStageExec}
    val fin = round.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    assert(fin.collect { case s: ShuffleQueryStageExec => s }.isEmpty,
      fin.toString)
    eSrc.unpersist()
  }

  test("sssp: bounded-round Bellman-Ford re-improves via the cheaper path") {
    // 1→2 costs 5 direct but 2 via 3; 4 hangs off 2 (first reached at
    // dist 6 in round 2, improved to 3 in round 3)
    val e = Seq((1L, 2L, 5L), (1L, 3L, 1L), (3L, 2L, 1L), (2L, 4L, 1L))
      .toDF("src", "dst", "w")
    val seeds = Seq(1L).toDF("id")
    val full = Graph.ssspDistances(e, seeds, maxRounds = 4)
      .as[(Long, Long)].collect().toMap
    assert(full == Map(1L -> 0L, 2L -> 2L, 3L -> 1L, 4L -> 3L))
    // bounded rounds: one round sees only the direct edges
    val one = Graph.ssspDistances(e, seeds, maxRounds = 1)
      .as[(Long, Long)].collect().toMap
    assert(one == Map(1L -> 0L, 2L -> 5L, 3L -> 1L))
  }

  // symGraph with a symmetric deterministic weight per undirected pair
  private def symWeighted =
    symGraph.withColumn("w", (col("src") + col("dst")) % 9 + 1)

  test("co-bucketed SSSP matches the frontier regime bit-for-bit") {
    val e = symWeighted
    val seeds = Seq(100L).toDF("id")
    val want = Graph.ssspDistances(e, seeds, maxRounds = 3)
      .orderBy("id").as[(Long, Long)].collect().toSeq
    val got = Graph.ssspDistancesCoBucketed(e, seeds, maxRounds = 3)
      .orderBy("id").as[(Long, Long)].collect().toSeq
    assert(got == want && want.nonEmpty)
    assert(!spark.catalog.listTables().collect()
      .exists(_.name.startsWith("graft_sssp_")))
  }

  test("sssp big-graph routing agrees with the broadcast regime") {
    val e = symWeighted
    val seeds = Seq(100L).toDF("id")
    val want = Graph.ssspDistances(e, seeds, maxRounds = 3)
      .orderBy("id").as[(Long, Long)].collect().toSeq
    // below the edge threshold the non-fitting case stays on the plain
    // shuffle loop (the measured 36M-edge verdict)...
    val shuffled = Graph.ssspDistances(e, seeds, maxRounds = 3,
      broadcastNodeLimit = 0L)
      .orderBy("id").as[(Long, Long)].collect().toSeq
    assert(shuffled == want)
    // ...and clearing both gates routes to the co-bucketed loop
    val routed = Graph.ssspDistances(e, seeds, maxRounds = 3,
      broadcastNodeLimit = 0L, coBucketEdgeThreshold = 0L)
      .orderBy("id").as[(Long, Long)].collect().toSeq
    assert(routed == want)
  }

  test("co-bucketed SSSP round plans exactly one Exchange") {
    val saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val e = Seq((1L, 2L, 2L), (2L, 1L, 2L), (2L, 3L, 1L), (3L, 2L, 1L))
        .toDF("src", "dst", "w")
      io.Bucketing.writeBucketed(e, "graftspec_se_edges", Seq("src"), 4)
      io.Bucketing.writeBucketed(
        Seq((1L, 0L)).toDF("src", "dist"), "graftspec_se_front", Seq("src"), 4)
      io.Bucketing.writeBucketed(
        Seq((1L, 0L)).toDF("src", "dist"), "graftspec_se_best", Seq("src"), 4)
      val round = Graph.ssspCoBucketedRound(spark, "graftspec_se_edges",
        "graftspec_se_front", "graftspec_se_best", 4)
      val plan = round.queryExecution.executedPlan.toString
      assert("Exchange".r.findAllIn(plan).length == 1, plan)
      assert(plan.contains("SortMergeJoin"), plan)
      // and the relaxation is right: 1@0 relaxes to 2@2 only
      val got = round.orderBy("src").as[(Long, Long)].collect().toSeq
      assert(got == Seq((2L, 2L)))
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
      spark.sql("DROP TABLE IF EXISTS graftspec_se_edges")
      spark.sql("DROP TABLE IF EXISTS graftspec_se_front")
      spark.sql("DROP TABLE IF EXISTS graftspec_se_best")
    }
  }

  test("deterministic walks: valid trajectories, dead-end stop, partition-independent") {
    // directed chain with a dead end: 1→2→3, nothing out of 3
    val chain = Seq((1L, 2L), (2L, 3L)).toDF("src", "dst")
    val w = Graph.deterministicWalks(chain, Seq(1L).toDF("id"), steps = 5)
      .orderBy("step").as[(Long, Long, Long)].collect().toSeq
    assert(w == Seq((1L, 0L, 1L), (1L, 1L, 2L), (1L, 2L, 3L)))
    // on the hub+ring graph: every consecutive pair must be an edge and
    // the choice must not depend on partitioning
    val e = symGraph
    val seeds = Seq(100L, 1L, 7L).toDF("id")
    val a = Graph.deterministicWalks(e.repartition(1), seeds, steps = 4)
      .as[(Long, Long, Long)].collect().toSet
    val b = Graph.deterministicWalks(e.repartition(17), seeds, steps = 4)
      .as[(Long, Long, Long)].collect().toSet
    assert(a == b && a.nonEmpty)
    val edgeSet = e.as[(Long, Long)].collect().toSet
    val byWalk = a.groupBy(_._1)
    byWalk.foreach { case (walk, rows) =>
      val traj = rows.toSeq.sortBy(_._2).map(_._3)
      assert(traj.head == walk)
      traj.sliding(2).foreach {
        case Seq(u, v) => assert(edgeSet.contains((u, v)), s"$u->$v")
        case _ =>
      }
    }
  }

  test("sssp is partitioning-independent") {
    val e = symWeighted
    val seeds = Seq(100L, 7L).toDF("id")
    val a = Graph.ssspDistances(e.repartition(1), seeds, 3)
      .as[(Long, Long)].collect().toMap
    val b = Graph.ssspDistances(e.repartition(17), seeds, 3)
      .as[(Long, Long)].collect().toMap
    assert(a == b && a.nonEmpty)
  }

  test("edge support: K4 plus a pendant — known closed form") {
    // K4: every edge closes with the 2 remaining vertices → support 2;
    // the pendant edge 1—5 is in no triangle.
    val k4 = for { a <- 1L to 4L; b <- 1L to 4L; if a != b } yield (a, b)
    val e = (k4 ++ Seq((1L, 5L), (5L, 1L), (3L, 3L))).toDF("src", "dst")
    val got = Graph.edgeSupport(e)
      .as[(Long, Long, Long)].collect().map(t => (t._1, t._2) -> t._3).toMap
    val want = (for { a <- 1L to 4L; b <- a + 1 to 4L } yield (a, b) -> 2L)
      .toMap + ((1L, 5L) -> 0L)
    assert(got == want)
  }

  test("edge support: shuffle regime matches broadcast regime") {
    val k4 = for { a <- 1L to 4L; b <- 1L to 4L; if a != b } yield (a, b)
    val e = (k4 ++ Seq((1L, 5L), (6L, 7L), (7L, 8L), (6L, 8L)))
      .toDF("src", "dst")
    val big = Graph.edgeSupport(e, broadcastEdgeLimit = 1)
      .orderBy("a", "b").collect().toSeq
    val small = Graph.edgeSupport(e).orderBy("a", "b").collect().toSeq
    assert(big == small && big.nonEmpty)
  }

  test("truss peel: K4 core survives a 4-truss, pendant peels; 5-truss empties") {
    val k4 = for { a <- 1L to 4L; b <- 1L to 4L; if a != b } yield (a, b)
    val e = (k4 ++ Seq((1L, 5L), (5L, 6L))).toDF("src", "dst")
    val t4 = Graph.trussPeel(e, k = 4, maxRounds = 3)
      .as[(Long, Long)].collect().toSet
    assert(t4 == (for { a <- 1L to 4L; b <- a + 1 to 4L } yield (a, b)).toSet)
    val t5 = Graph.trussPeel(e, k = 5, maxRounds = 3)
      .as[(Long, Long)].collect().toSet
    assert(t5.isEmpty)
  }

  test("edgeSupportCanonCounting: observed survivor stats match a recount; " +
      "stats feedback reproduces the next round") {
    val k4 = for { a <- 1L to 4L; b <- 1L to 4L; if a != b } yield (a, b)
    val e = (k4 ++ Seq((1L, 5L), (5L, 6L))).toDF("src", "dst")
    def canon() = e.select(
        least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .filter(col("a") =!= col("b")).distinct().localCheckpoint(true)
    val (sup, next) = Graph.edgeSupportCanonCounting(canon(), Some(2L))
    // support table identical to the un-instrumented path
    val ref = Graph.edgeSupportCanon(canon())
      .orderBy("a", "b").collect().toSeq
    assert(sup.orderBy("a", "b").collect().toSeq == ref)
    // observed stats row == a fresh agg over the survivors
    val surv = sup.filter(col("support") >= 2L).select("a", "b")
    val row = next.get
    assert(row.getLong(0) == surv.count())
    assert(row.getLong(1) == surv.agg(min("a")).first().getLong(0))
    assert(row.getLong(2) == surv.agg(max("b")).first().getLong(0))
    // feeding the observed stats back skips the stats job and yields
    // the identical next-round support table
    val survCp = surv.localCheckpoint(true)
    val (supFed, _) = Graph.edgeSupportCanonCounting(survCp, Some(2L),
      precomputedStats = Some(row))
    val (supFresh, _) = Graph.edgeSupportCanonCounting(survCp, Some(2L))
    assert(supFed.orderBy("a", "b").collect().toSeq ==
      supFresh.orderBy("a", "b").collect().toSeq)
    // zero-survivor stats coalesce to the empty row (next round
    // early-returns on m == 0)
    val (_, none) = Graph.edgeSupportCanonCounting(canon(), Some(99L))
    assert(none.get.getLong(0) == 0L)
  }

  test("weightedPageRank: symmetric declaration matches the general path") {
    val und = Seq((1L, 2L, 3L), (2L, 3L, 1L), (1L, 3L, 2L), (3L, 4L, 5L))
    val e = (und ++ und.map(t => (t._2, t._1, t._3)))
      .toDF("src", "dst", "w")
    val want = Graph.weightedPageRank(e, iterations = 2)
      .as[(Long, Long)].collect().toMap
    val got = Graph.weightedPageRank(e, iterations = 2, symmetric = true)
      .as[(Long, Long)].collect().toMap
    assert(got == want && want.size == 4)
    // non-broadcast regime too
    val sh = Graph.weightedPageRank(e.repartition(7), iterations = 2,
      symmetric = true, broadcastNodeLimit = 0L)
      .as[(Long, Long)].collect().toMap
    assert(sh == want)
  }

  test("scc coloring: cycle members get scc_id, the tail does not") {
    // 1→2→3→1 (a 3-cycle) with a tail 3→4→5
    val e = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 5L))
      .toDF("src", "dst")
    val r = Graph.sccColoring(e, maxRounds = 3)
      .collect().map(x => x.getLong(0) ->
        ((x.getLong(1), x.getLong(2),
          if (x.isNullAt(3)) -1L else x.getLong(3)))).toMap
    // fwd_min: min id reached within 3 hops (incl self)
    assert(r(1L) == ((1L, 1L, 1L)))  // 1 reaches {1,2,3,4}; {1,2,3} reach 1
    assert(r(2L) == ((1L, 1L, 1L)))
    assert(r(3L) == ((1L, 1L, 1L)))
    assert(r(4L) == ((4L, 1L, -1L))) // reaches only 4,5; 1 reaches it → no cert
    assert(r(5L) == ((5L, 2L, -1L))) // 1 is 4 hops back — outside the bound
  }

  test("scc coloring matches across regimes and partitionings") {
    val e = symGraph.filter(col("src") =!= col("dst"))
    val want = Graph.sccColoring(e, maxRounds = 3)
      .orderBy("id").collect().toSeq
    val shuffled = Graph.sccColoring(e.repartition(17), maxRounds = 3,
      broadcastNodeLimit = 0L)
      .orderBy("id").collect().toSeq
    assert(shuffled == want && want.nonEmpty)
  }

  test("multiSourceBfs: per-landmark hop distances on a path") {
    // undirected path 1-2-3-4-5, landmarks {1, 5}
    val fwd = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)).toDF("src", "dst")
    val e = fwd.unionByName(fwd.select($"dst".as("src"), $"src".as("dst")))
    val seeds = Seq(1L, 5L).toDF("id")
    val got = Graph.multiSourceBfs(e, seeds, maxHops = 2)
      .as[(Long, Long, Long)].collect().toSet
    val want = Set(
      (1L, 1L, 0L), (2L, 1L, 1L), (3L, 1L, 2L),
      (5L, 5L, 0L), (4L, 5L, 1L), (3L, 5L, 2L))
    assert(got == want)
  }

  test("multiSourceBfs: all 64 bits carry (star graph), regimes agree") {
    // star: center 100 <-> leaves 0..63; all 64 leaves are landmarks
    val fwd = (0L to 63L).map(i => (i, 100L)).toDF("src", "dst")
    val e = fwd.unionByName(fwd.select($"dst".as("src"), $"src".as("dst")))
    val seeds = (0L to 63L).toDF("id")
    val got = Graph.multiSourceBfs(e, seeds, maxHops = 2)
      .as[(Long, Long, Long)].collect().toSet
    // 64 self rows + 64 center@1 rows + 64*63 cross-leaf@2 rows
    assert(got.size == 64 + 64 + 64 * 63)
    assert(got.count(_._3 == 0L) == 64)
    assert((0L to 63L).forall(s => got.contains((100L, s, 1L))))
    assert(got.contains((0L, 63L, 2L)))   // bit 63 (1L<<63 is negative)
    val shuffled = Graph.multiSourceBfs(e.repartition(17), seeds,
      maxHops = 2, broadcastNodeLimit = 0L)
      .as[(Long, Long, Long)].collect().toSet
    assert(shuffled == got)
    // > 64 seeds rejected
    intercept[IllegalArgumentException] {
      Graph.multiSourceBfs(e, (0L to 64L).toDF("id"), maxHops = 1)
    }
  }

  test("butterflyCounts: K(2,3)-ish closed form") {
    // orders 10:{1,2,3}, 20:{1,2}, 30:{1,2} -> w(1,2)=3, w(1,3)=w(2,3)=1
    val f = Seq((10L, 1L), (10L, 2L), (10L, 3L), (20L, 1L), (20L, 2L),
      (30L, 1L), (30L, 2L)).toDF("o", "p")
    val got = Graph.butterflyCounts(f, "o", "p")
      .as[(Long, Long)].collect().toMap
    // bf(1) = C(3,2) + C(1,2) = 3; bf(2) = 3; bf(3) = 0
    assert(got == Map(1L -> 3L, 2L -> 3L, 3L -> 0L))
    val rep = Graph.butterflyCounts(f.repartition(7), "o", "p")
      .as[(Long, Long)].collect().toMap
    assert(rep == got)
  }

  test("weightedPageRank: hand-computed two rounds, regimes agree") {
    // 1→2 (w3), 1→3 (w1), 2→1 (w1): wout(1)=4, wout(2)=1
    val e = Seq((1L, 2L, 3L), (1L, 3L, 1L), (2L, 1L, 1L))
      .toDF("src", "dst", "w")
    val r1 = Graph.weightedPageRank(e, iterations = 1)
      .as[(Long, Long)].collect().toMap
    assert(r1 == Map(1L -> 1000000L, 2L -> 787500L, 3L -> 362500L))
    val r2 = Graph.weightedPageRank(e, iterations = 2)
      .as[(Long, Long)].collect().toMap
    assert(r2 == Map(1L -> 819375L, 2L -> 787500L, 3L -> 362500L))
    val sh = Graph.weightedPageRank(e.repartition(9), iterations = 2,
      broadcastNodeLimit = 0L).as[(Long, Long)].collect().toMap
    assert(sh == r2)
  }

  test("clusteringCoefficient: K4 plus pendant — closed form") {
    // K4 on {1,2,3,4} plus pendant 4-5
    val e = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L), (4L, 5L)).toDF("src", "dst")
    val got = Graph.clusteringCoefficient(e)
      .as[(Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    // 1,2,3: deg 3, tri 3 -> 2e6*3/(3*2) = 1000000 (their nbhd is a clique)
    Seq(1L, 2L, 3L).foreach(i => assert(got(i) == ((3L, 3L, 1000000L))))
    // 4: deg 4, tri 3 -> 6e6/12 = 500000; 5: deg 1 -> 0
    assert(got(4L) == ((4L, 3L, 500000L)))
    assert(got(5L) == ((1L, 0L, 0L)))
  }

  test("temporalEarliestArrival: strict time order, re-improvement opens edges") {
    // 1→2@10, 1→4@3, 4→2@4, 2→3@5 and 2→5@7 (usable only AFTER arr(2)
    // improves 10 → 4), 2→3@20 (usable immediately via 2@10)
    val e = Seq(
      (1L, 2L, 10L), (1L, 4L, 3L), (4L, 2L, 4L),
      (2L, 3L, 5L), (2L, 3L, 20L), (2L, 5L, 7L))
      .toDF("src", "dst", "t")
    val seeds = Seq(1L).toDF("id")
    def run(r: Int) = Graph.temporalEarliestArrival(e, seeds, maxRounds = r)
      .as[(Long, Long)].collect().toMap
    val r1 = run(1)
    assert(r1 == Map(1L -> -1L, 2L -> 10L, 4L -> 3L))
    val r2 = run(2)
    // 4@3 relaxes 2 down to 4; 2@10 opens 3@20 but NOT 5@7 (7 < 10)
    assert(r2 == Map(1L -> -1L, 2L -> 4L, 4L -> 3L, 3L -> 20L))
    val r3 = run(3)
    // round 3: the improved 2@4 re-relaxes, opening 5@7 and 3@5 (< 20)
    assert(r3 == Map(1L -> -1L, 2L -> 4L, 4L -> 3L, 3L -> 5L, 5L -> 7L))
    // shuffle regime and partitioning agree
    val sh = Graph.temporalEarliestArrival(e.repartition(13), seeds,
      maxRounds = 3, broadcastNodeLimit = 0L)
      .as[(Long, Long)].collect().toMap
    assert(sh == r3)
  }
  test("landmarkReachProfile: exact hop counts on a path graph") {
    // undirected path 1-2-3-4, seed {1}: hop1={2}, hop2={3}
    val fwd = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("src", "dst")
    val edges = fwd.unionByName(
      fwd.select(col("dst").as("src"), col("src").as("dst")))
    val seeds = Seq(1L).toDF("id")
    val got = Graph.landmarkReachProfile(edges, seeds, maxHops = 2)
      .orderBy("dist").as[(Long, Long, Long)].collect().toSeq
    assert(got == Seq((1L, 1L, 1L), (1L, 2L, 1L)))
  }

  test("neighborFeatureAgg: exact degree features on a path graph") {
    // path 1-2-3: deg(1)=1, deg(2)=2, deg(3)=1
    val fwd = Seq((1L, 2L), (2L, 3L)).toDF("src", "dst")
    val edges = fwd.unionByName(
      fwd.select(col("dst").as("src"), col("src").as("dst")))
    val got = Graph.neighborFeatureAgg(edges)
      .orderBy("id").as[(Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq((1L, 1L, 2L, 2L), (2L, 2L, 2L, 1L),
      (3L, 1L, 2L, 2L)), s"got $got")
  }

  test("linkPredictionFeatures: exact CN/RA/Jaccard on a square, edges excluded") {
    // square 1-2-3-4-1: the only non-edges with common neighbors are
    // the diagonals (1,3) and (2,4); all degrees are 2
    val canon = Seq((1L, 2L), (2L, 3L), (3L, 4L), (1L, 4L))
      .toDF("src", "dst")
    val got = Graph.linkPredictionFeatures(canon)
      .orderBy("id_a").as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq(
      (1L, 3L, 2L, 1000000L, 1000000L),
      (2L, 4L, 2L, 1000000L, 1000000L)), s"got $got")
    // existing edges never appear, even with common neighbors
    val tri = Seq((1L, 2L), (2L, 3L), (1L, 3L)).toDF("src", "dst")
    assert(Graph.linkPredictionFeatures(tri).count() == 0L)
  }

  test("walkCooccurrence: hand-computed skip-gram pairs and integer lift") {
    // directed line 1→2→3→4→5: single out-edges make the walks
    // hash-independent — walks are 1-2-3-4 (seed 1) and 2-3-4-5
    // (seed 2). T = 8 positions, P = 10 pairs; the repeated pairs are
    // (2,3), (3,4), (2,4), each c_ab = 2 with occ 2 for nodes 2/3/4:
    // lift = 2·8²·10⁶ div (2·2·10) = 3,200,000.
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L))
      .toDF("src", "dst")
    val seeds = Seq(1L, 2L).toDF("id")
    val got = Graph.walkCooccurrence(edges, seeds, steps = 3, window = 2)
      .orderBy("na", "nb").as[(Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq(
      (2L, 3L, 2L, 3200000L),
      (2L, 4L, 2L, 3200000L),
      (3L, 4L, 2L, 3200000L)), s"got $got")
    // minCount = 1 keeps the singleton pairs too — 7 distinct pairs
    // on these two walks ((4,5) and (3,5) only occur on walk 2)
    assert(Graph.walkCooccurrence(edges, seeds, steps = 3, window = 2,
      minCount = 1L).count() == 7L)
  }

  test("walkCooccurrence lift is exact at and over the old 64-bit bound") {
    // counts where the LONG spelling of c_ab·t²·10⁶ wraps (silently,
    // non-ANSI): t = 3·10⁶ with c_ab = 2 is ~1.8e19 > 2⁶³−1 ≈ 9.2e18.
    // The DECIMAL(38,0) expression must floor the true quotient.
    val cases = Seq(
      // (c_ab, t, ca, cb, p) — first is AT the old headline bound
      // (c_ab = 1 still fits longs: parity with the old math),
      // the rest wrap the long numerator
      (1L, 3000000L, 1500000L, 1500000L, 2999999L),
      (2L, 3000000L, 1500000L, 1500000L, 2999999L),
      (1000L, 3000000L, 1500000L, 1500000L, 2999999L),
      (123456L, 2999999L, 7L, 11L, 2999998L))
    val got = cases.toDF("c_ab", "t", "ca", "cb", "p")
      .select(col("c_ab"), Graph.liftPpm.as("lift_ppm"))
      .as[(Long, Long)].collect().toMap
    cases.foreach { case (cab, t, ca, cb, p) =>
      val want = (BigInt(cab) * BigInt(t) * BigInt(t) * 1000000) /
        (BigInt(ca) * BigInt(cb) * BigInt(p))
      assert(BigInt(got(cab)) == want,
        s"lift for c_ab=$cab: got ${got(cab)}, want $want")
    }
  }

  test("iterate: each stop rule runs the expected rounds, a cap of 0 included") {
    import Graph.Stop._
    def rounds(count: Long, cap: Int, stop: Graph.Stop.Rule)
        (counts: Int => Long): Int =
      Graph.iterate((), count, cap, stop)((_, r) => ((), counts(r)))._2
    // Never: only the cap ends the loop
    assert(rounds(0L, 5, Never)(_ => 0L) == 5)
    assert(rounds(7L, 0, Never)(_ => 0L) == 0)
    // Empty: the first round that observes 0 is the last; an empty start
    // runs no round, a start without a count (-1) runs
    assert(rounds(3L, 10, Empty)(r => if (r < 4) 5L else 0L) == 4)
    assert(rounds(0L, 10, Empty)(_ => 5L) == 0)
    assert(rounds(-1L, 10, Empty)(_ => 0L) == 1)
    assert(rounds(3L, 2, Empty)(_ => 5L) == 2)
    assert(rounds(3L, 0, Empty)(_ => 5L) == 0)
    // Unchanged: counts 8, 6, 4, 4 stop after round 4; an empty start
    // runs no round
    assert(rounds(10L, 20, Unchanged)(r => math.max(10L - 2 * r, 4L)) == 4)
    assert(rounds(0L, 20, Unchanged)(_ => 5L) == 0)
    assert(rounds(-1L, 20, Unchanged)(_ => 0L) == 2)
    assert(rounds(10L, 0, Unchanged)(_ => 1L) == 0)
    // the state threads through the rounds in order
    assert(Graph.iterate(List.empty[Int], 0L, 3, Never)(
      (s, r) => (r :: s, 0L)) == ((List(3, 2, 1), 3)))
  }

  test("iterate: a round that throws propagates and releases the owned frames") {
    val a = Seq(1L, 2L).toDF("id").cache()
    val b = Seq(3L).toDF("id").cache()
    assert(a.count() == 2 && b.count() == 1)
    var last = 0
    val e = intercept[IllegalStateException] {
      Graph.iterate(0L, 1L, 5, Graph.Stop.Never, a, b) { (s, r) =>
        last = r
        if (r == 2) throw new IllegalStateException("round 2")
        (s + 1, 1L)
      }
    }
    assert(e.getMessage == "round 2" && last == 2)
    assert(a.storageLevel == StorageLevel.NONE)
    assert(b.storageLevel == StorageLevel.NONE)
  }
}
