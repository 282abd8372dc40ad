package graft

import graft.operators.{Graph, GraphTuning}
import graft.sources.Tables
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Co-bucketed-regime crossover measurement: the evidence harness that
  * turns the big-graph regime thresholds from hand-set literals into
  * measured (or measured-bounded) constants.
  *
  * For each multiplier M it materializes the amplified sf0.1 graph ONCE
  * (eager localCheckpoint — every variant times the algorithm, not the
  * input build), then runs the competing regimes warm and INTERLEAVED
  * (rep-major order, so machine drift hits all variants equally — the
  * round-5 lesson that a cold-JVM A/B reads 1.7× run-order bias):
  *
  *  - pr:  broadcast loop (forced) vs shuffle loop (forced) vs
  *         [[Graph.pageRankCoBucketed]] — hub-skew amplification
  *         (orderkeys shift, parts shared), the Scale convention.
  *  - lpa: broadcast vs shuffle [[Graph.labelPropagation]] vs
  *         [[Graph.labelPropagationCoBucketed]] — disjoint graph copies.
  *  - cc:  the plain hash-min+pointer-jump shuffle loop (the
  *         duplicateClusters distributed regime, inlined so the A/B is
  *         honest regardless of routing) vs
  *         [[Graph.connectedComponentsCoBucketed]].
  *  - bfs / hits: broadcast vs shuffle vs co-bucketed, q136/q131
  *         shapes (not in the default algo set — select explicitly).
  *  - sssp: the bfs shape with deterministic weights (q150) — four
  *         arms incl. shuffle_nobc; cells compare 1:1 against bfs rows.
  *
  * Output: one `XOVER` line per (mult, algo, variant, rep) and one
  * `XOVER_SUMMARY` per (mult, algo) with the min-of-reps seconds; every
  * grid's cells are appended to CROSSOVER.jsonl as they complete
  * (crash-resilient). The curated cross-run record — method, derived
  * thresholds, all cells — is CROSSOVER.json.
  *
  * Usage: runMain graft.Crossover [mults] [algos]
  *   e.g.  runMain graft.Crossover 30,60,100 pr,cc,lpa
  * Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
  *      SPARK_GRAFT_REPS (default 2), SPARK_DRIVER_MEM (give it 48g).
  */
object Crossover {

  /** One CROSSOVER.jsonl cell, locale-pinned: an `f"$s%.3f"` under a
    * comma-decimal default locale (fr_FR, de_DE, …) writes `1,234`
    * inside the secs array — invalid JSON. Every numeric format in a
    * machine-readable artifact goes through Locale.ROOT. */
  private[graft] def jsonCell(mult: Int, algo: String, variant: String,
      edges: Long, nodes: Long, secs: Seq[Double],
      master: String = "local[32]"): String =
    s"""{"mult":$mult,"algo":"$algo","variant":"$variant","edges":$edges,""" +
      s""""nodes":$nodes,"master":"$master","secs":[${secs.map(s =>
        "%.3f".formatLocal(java.util.Locale.ROOT, s)).mkString(",")}]}"""

  def main(args: Array[String]): Unit = {
    val mults = args.headOption.filter(_.nonEmpty)
      .map(_.split(",").map(_.trim.toInt).toSeq).getOrElse(Seq(30, 60, 100))
    val algos = args.drop(1).headOption.filter(_.nonEmpty)
      .map(_.split(",").map(_.trim).toSet).getOrElse(Set("pr", "cc", "lpa"))
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "2").toInt
    // maxResultSize: broadcast materialization arrives at the driver as
    // task results; a 100x amplified run legitimately broadcasts
    // >1 GiB tables into the 48g driver, and the 1g default killed the
    // first 60x CC attempt mid-grid.
    // SPARK_GRAFT_MASTER overrides the master — e.g.
    // local-cluster[2,16,24576] runs the SAME grid across two real
    // executor JVMs (set SPARK_SCALA_VERSION=2.13 for the launcher),
    // which is how the replication term of the GraphTuning cost model
    // gets measured instead of assumed: the broadcast arm then pays
    // genuine serialize+transfer+build per executor copy.
    val master = sys.env.getOrElse("SPARK_GRAFT_MASTER", "local[32]")
    val spark = {
      val b = GraftSession.builder("crossover", "32").master(master)
        .config("spark.driver.maxResultSize", "8g")
      val b2 = if (master.startsWith("local-cluster")) b
        .config("spark.executor.extraClassPath",
          SparkEntry.getClass.getProtectionDomain.getCodeSource.getLocation.getPath)
        .config("spark.executor.memory",
          GraftSession.localClusterExecutorMemory(master).get)
      else b
      val s = b2.getOrCreate()
      s.sparkContext.setLogLevel("WARN")
      s
    }
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val li = Tables.lineitem(spark, dir)
      .select("l_orderkey", "l_partkey").cache()
    li.count()

    // Amplify via ONE scan + explode(sequence) — the same key-shift
    // semantics as Scale.amplify without its M-way union plan.
    def amplified(mult: Int, shiftParts: Boolean): DataFrame = {
      val a = li.withColumn("i", explode(sequence(lit(0L), lit(mult - 1L))))
      a.select((col("l_orderkey") + col("i") * 100000000L).as("o"),
        (if (shiftParts) col("l_partkey") + col("i") * 100000000L
         else col("l_partkey")).as("p"))
    }

    // PR graph: bipartite order↔part with hub skew (parts shared across
    // copies ⇒ part degree grows M×), symmetric-doubled.
    def prEdges(mult: Int): DataFrame = {
      val pairs = amplified(mult, shiftParts = false)
        .select((col("o") * 2).as("o"), (col("p") * 2 + 1).as("p")).distinct()
      pairs.select(col("o").as("src"), col("p").as("dst"))
        .unionByName(pairs.select(col("p").as("src"), col("o").as("dst")))
        .localCheckpoint(true)
    }

    // CC/LPA graph: M disjoint copies of the co-order part graph
    // (coOccurrenceEdges cap 8), symmetric-doubled — the q114/q48 shape.
    def coEdges(mult: Int): DataFrame = {
      val canon = Graph.coOccurrenceEdges(
        amplified(mult, shiftParts = true), "o", "p", maxGroupSize = 8)
        .distinct()
      canon.unionByName(
          canon.select(col("dst").as("src"), col("src").as("dst")))
        .localCheckpoint(true)
    }

    // BFS graph (q136 shape): disjoint doubled bipartite copies with
    // per-copy seed sets; HITS graph (q131 shape): the directed
    // bipartite without doubling.
    def bfsEdges(mult: Int): DataFrame = {
      val fwd = amplified(mult, shiftParts = true)
        .select((col("o") * 2).as("src"), (col("p") * 2 + 1).as("dst"))
      fwd.unionByName(fwd.select(col("dst").as("src"), col("src").as("dst")))
        .distinct().localCheckpoint(true)
    }
    def bfsSeeds(mult: Int): DataFrame =
      amplified(mult, shiftParts = true).filter(col("p") % 97 === 0)
        .select((col("p") * 2 + 1).as("id")).distinct().localCheckpoint(true)
    def hitsEdges(mult: Int): DataFrame =
      amplified(mult, shiftParts = true)
        .select((col("o") * 2).as("src"), (col("p") * 2 + 1).as("dst"))
        .distinct().localCheckpoint(true)
    // SSSP graph: the BFS shape with a deterministic symmetric weight —
    // same node/edge counts, so its cells compare 1:1 against bfs rows.
    def ssspEdges(mult: Int): DataFrame =
      bfsEdges(mult).withColumn("w", (col("src") + col("dst")) % 5 + 1)
    // k-core graph: canonical (src < dst) co-order part edges, the q122
    // shape — kCore doubles degrees internally, so edge counts here are
    // the canonical half of the figures the Scale harness reports.
    def kcoreEdges(mult: Int): DataFrame =
      Graph.coOccurrenceEdges(amplified(mult, shiftParts = true),
        "o", "p", maxGroupSize = 8).distinct().localCheckpoint(true)

    // duplicateClusters' distributed regime: hash-min + pointer jump,
    // edges re-join the label table every round (3 shuffles/round on the
    // edge side) — the loop the co-bucketed layout is meant to beat.
    def ccShuffleLoop(edges: DataFrame): Long = {
      var labels = edges.select(col("src").as("id")).distinct()
        .withColumn("label", col("id")).localCheckpoint(true)
      var converged = false
      var iter = 0
      while (!converged && iter < 20) {
        val neighborMin = edges
          .join(labels.withColumnRenamed("id", "src"), Seq("src"))
          .groupBy(col("dst").as("id")).agg(min(col("label")).as("nlabel"))
        val cand = labels.join(neighborMin, Seq("id"), "left")
          .select(col("id"), col("label").as("__old"),
            least(col("label"), coalesce(col("nlabel"), col("label"))).as("label"))
        val parent = labels.select(col("id").as("__pid"), col("label").as("__plabel"))
        val next = cand.join(parent, cand("label") === parent("__pid"), "left")
          .select(cand("id"),
            least(cand("label"), coalesce(col("__plabel"), cand("label"))).as("label"),
            (least(cand("label"), coalesce(col("__plabel"), cand("label"))) <
              col("__old")).as("__changed"))
          .localCheckpoint(true)
        converged = next.filter(col("__changed")).limit(1).count() == 0
        labels = next.drop("__changed")
        iter += 1
      }
      labels.count()
    }

    // Honest-shuffle arm: broadcastNodeLimit=0 removes OUR hint, but
    // AQE can still convert a sub-threshold build side to a broadcast
    // join at runtime — so the "shuffle" cells may under-price the
    // per-round state redistribution a real >10MB-state cluster run
    // pays. The _nobc variants disable auto-broadcast entirely for the
    // call, pricing it honestly (round-8 verdict task: validate the
    // GraphTuning cost constants against these).
    def noAutoBroadcast[A](body: => A): A = {
      val k = "spark.sql.autoBroadcastJoinThreshold"
      val saved = spark.conf.get(k)
      spark.conf.set(k, "-1")
      try body finally spark.conf.set(k, saved)
    }

    final case class Cell(mult: Int, algo: String, variant: String,
        secs: Vector[Double])
    val results = scala.collection.mutable.ArrayBuffer[Cell]()

    def runGrid(mult: Int, algo: String, edges: DataFrame, nodes: Long,
        variants: Seq[(String, DataFrame => Long)]): Unit = {
      val m = edges.count()
      val times = scala.collection.mutable.Map[String, Vector[Double]]()
        .withDefaultValue(Vector.empty)
      for (rep <- 1 to reps; (vname, f) <- variants) {
        // per-arm regime echo: an arm that silently runs a different
        // regime than its name claims (the round-8 force-broadcast bug)
        // is visible in the log, not just wrong in the thresholds
        GraphTuning.resetLast()
        val t0 = System.nanoTime()
        try {
          val n = f(edges)
          val sec = (System.nanoTime() - t0) / 1e9
          times(vname) = times(vname) :+ sec
          val regime = GraphTuning.lastDecision.map(d =>
            s" regime=${if (d.broadcast) "broadcast" else "shuffle/co-bucketed"}" +
              s"(${d.limitSource})").getOrElse("")
          println(f"XOVER mult=$mult algo=$algo variant=$vname rep=$rep " +
            f"sec=$sec%.2f rows=$n%d$regime")
        } catch { case e: Throwable =>
          // a blown cell (OOM, result-size cap) must not kill the grid —
          // record nothing for this rep and keep measuring
          println(s"XOVER mult=$mult algo=$algo variant=$vname rep=$rep " +
            s"ERR ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(120)}")
        }
      }
      val summary = variants.map { case (vname, _) =>
        if (times(vname).isEmpty) s"$vname=err"
        else f"$vname=${times(vname).min}%.2f" }.mkString(" ")
      println(f"XOVER_SUMMARY mult=$mult algo=$algo edges=$m%d " +
        f"nodes=$nodes%d $summary")
      variants.foreach { case (vname, _) =>
        results += Cell(mult, algo, vname, times(vname)) }
      // crash-resilient record: append each grid's cells as JSONL the
      // moment they exist (the first 60x attempt died mid-run and left
      // no artifact at all)
      val lines = variants.map { case (vname, _) =>
        jsonCell(mult, algo, vname, m, nodes, times(vname), master) + "\n"
      }.mkString
      java.nio.file.Files.write(java.nio.file.Paths.get("CROSSOVER.jsonl"),
        lines.getBytes("UTF-8"),
        java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.APPEND)
    }

    // Warm every SELECTED code path once on a tiny graph so rep 1 of
    // the real grid is steady-state (codegen + bucketed-write paths
    // compiled). Graphs are built lazily per algo family — an
    // unselected family's warm graph must not cost startup jobs.
    {
      if (algos("pr")) {
        val wPr = prEdges(1)
        Graph.pageRankFixedPoint(wPr, 3, broadcastNodeLimit = Long.MaxValue,
          symmetric = true).count()
        Graph.pageRankFixedPoint(wPr, 3, broadcastNodeLimit = 0,
          symmetric = true, coBucketEdgeThreshold = Long.MaxValue).count()
        noAutoBroadcast(Graph.pageRankFixedPoint(wPr, 3,
          broadcastNodeLimit = 0, symmetric = true,
          coBucketEdgeThreshold = Long.MaxValue).count())
        Graph.pageRankCoBucketed(wPr, 3).count()
        wPr.unpersist()
      }
      if (algos("lpa") || algos("cc")) {
        val wCo = coEdges(1)
        if (algos("lpa")) {
          Graph.labelPropagation(wCo, 3, broadcastNodeLimit = Long.MaxValue).count()
          Graph.labelPropagation(wCo, 3, broadcastNodeLimit = 0,
            coBucketAboveBroadcast = false).count()
          noAutoBroadcast(Graph.labelPropagation(wCo, 3,
            broadcastNodeLimit = 0, coBucketAboveBroadcast = false).count())
          Graph.labelPropagationCoBucketed(wCo, 3).count()
        }
        if (algos("cc")) {
          ccShuffleLoop(wCo)
          Graph.connectedComponentsCoBucketed(wCo).count()
        }
        wCo.unpersist()
      }
      if (algos("bfs")) {
        val e = bfsEdges(1); val sd = bfsSeeds(1)
        Graph.bfsDistances(e, sd, 4, broadcastNodeLimit = Long.MaxValue).count()
        Graph.bfsDistances(e, sd, 4, broadcastNodeLimit = 0,
          coBucketAboveBroadcast = false).count()
        Graph.bfsDistancesCoBucketed(e, sd, 4).count()
        e.unpersist(); sd.unpersist()
      }
      if (algos("hits")) {
        val e = hitsEdges(1)
        Graph.hits(e, 2, broadcastNodeLimit = Long.MaxValue).count()
        Graph.hits(e, 2, broadcastNodeLimit = 0,
          coBucketAboveBroadcast = false).count()
        Graph.hitsCoBucketed(e, 2).count()
        e.unpersist()
      }
      if (algos("sssp")) {
        val e = ssspEdges(1); val sd = bfsSeeds(1)
        Graph.ssspDistances(e, sd, 4, broadcastNodeLimit = Long.MaxValue).count()
        noAutoBroadcast(Graph.ssspDistances(e, sd, 4, broadcastNodeLimit = 0,
          coBucketAboveBroadcast = false).count())
        Graph.ssspDistancesCoBucketed(e, sd, 4).count()
        e.unpersist(); sd.unpersist()
      }
      if (algos("kcore")) {
        val e = kcoreEdges(1)
        Graph.kCore(e, 3, 4, broadcastNodeLimit = Long.MaxValue).count()
        noAutoBroadcast(Graph.kCore(e, 3, 4, broadcastNodeLimit = 0).count())
        e.unpersist()
      }
      if (algos("tri")) {
        val e = kcoreEdges(1)
        Graph.edgeSupport(e, broadcastEdgeLimit = Long.MaxValue).count()
        Graph.edgeSupport(e, broadcastEdgeLimit = 0L).count()
        noAutoBroadcast(Graph.edgeSupport(e, broadcastEdgeLimit = 0L).count())
        e.unpersist()
      }
      if (algos("scc")) {
        val e = hitsEdges(1)
        Graph.sccColoring(e, 3, broadcastNodeLimit = Long.MaxValue).count()
        Graph.sccColoring(e, 3, broadcastNodeLimit = 0L).count()
        noAutoBroadcast(Graph.sccColoring(e, 3, broadcastNodeLimit = 0L).count())
        e.unpersist()
      }
      println("XOVER warmup done")
    }

    for (mult <- mults) {
      if (algos("pr")) {
        val e = prEdges(mult)
        val nodes = e.select("src").distinct().count()
        runGrid(mult, "pr", e, nodes, Seq(
          "bcast" -> ((ed: DataFrame) => Graph.pageRankFixedPoint(ed, 3,
            broadcastNodeLimit = Long.MaxValue, symmetric = true).count()),
          "shuffle" -> ((ed: DataFrame) => Graph.pageRankFixedPoint(ed, 3,
            broadcastNodeLimit = 0, symmetric = true,
            coBucketEdgeThreshold = Long.MaxValue).count()),
          "shuffle_nobc" -> ((ed: DataFrame) => noAutoBroadcast(
            Graph.pageRankFixedPoint(ed, 3, broadcastNodeLimit = 0,
              symmetric = true,
              coBucketEdgeThreshold = Long.MaxValue).count())),
          "cobucket" -> ((ed: DataFrame) =>
            Graph.pageRankCoBucketed(ed, 3).count())))
        e.unpersist()
      }
      if (algos("cc") || algos("lpa")) {
        val e = coEdges(mult)
        val nodes = e.select("src").distinct().count()
        if (algos("lpa")) runGrid(mult, "lpa", e, nodes, Seq(
          "bcast" -> ((ed: DataFrame) => Graph.labelPropagation(ed, 3,
            broadcastNodeLimit = Long.MaxValue).count()),
          "shuffle" -> ((ed: DataFrame) => Graph.labelPropagation(ed, 3,
            broadcastNodeLimit = 0, coBucketAboveBroadcast = false).count()),
          "shuffle_nobc" -> ((ed: DataFrame) => noAutoBroadcast(
            Graph.labelPropagation(ed, 3, broadcastNodeLimit = 0,
              coBucketAboveBroadcast = false).count())),
          "cobucket" -> ((ed: DataFrame) =>
            Graph.labelPropagationCoBucketed(ed, 3).count())))
        if (algos("cc")) runGrid(mult, "cc", e, nodes, Seq(
          "shuffle" -> ((ed: DataFrame) => ccShuffleLoop(ed)),
          "cobucket" -> ((ed: DataFrame) =>
            Graph.connectedComponentsCoBucketed(ed).count())))
        e.unpersist()
      }
      if (algos("bfs")) {
        val e = bfsEdges(mult)
        val sd = bfsSeeds(mult)
        val nodes = e.select("src").distinct().count()
        runGrid(mult, "bfs", e, nodes, Seq(
          "bcast" -> ((ed: DataFrame) => Graph.bfsDistances(ed, sd, 4,
            broadcastNodeLimit = Long.MaxValue).count()),
          "shuffle" -> ((ed: DataFrame) => Graph.bfsDistances(ed, sd, 4,
            broadcastNodeLimit = 0, coBucketAboveBroadcast = false).count()),
          "cobucket" -> ((ed: DataFrame) =>
            Graph.bfsDistancesCoBucketed(ed, sd, 4).count())))
        e.unpersist(); sd.unpersist()
      }
      if (algos("hits")) {
        val e = hitsEdges(mult)
        val nodes = e.select("src").distinct().count()
        runGrid(mult, "hits", e, nodes, Seq(
          "bcast" -> ((ed: DataFrame) => Graph.hits(ed, 2,
            broadcastNodeLimit = Long.MaxValue).count()),
          "shuffle" -> ((ed: DataFrame) => Graph.hits(ed, 2,
            broadcastNodeLimit = 0, coBucketAboveBroadcast = false).count()),
          "cobucket" -> ((ed: DataFrame) =>
            Graph.hitsCoBucketed(ed, 2).count())))
        e.unpersist()
      }
      if (algos("sssp")) {
        val e = ssspEdges(mult)
        val sd = bfsSeeds(mult)
        val nodes = e.select("src").distinct().count()
        runGrid(mult, "sssp", e, nodes, Seq(
          "bcast" -> ((ed: DataFrame) => Graph.ssspDistances(ed, sd, 4,
            broadcastNodeLimit = Long.MaxValue).count()),
          "shuffle" -> ((ed: DataFrame) => Graph.ssspDistances(ed, sd, 4,
            broadcastNodeLimit = 0, coBucketAboveBroadcast = false).count()),
          "shuffle_nobc" -> ((ed: DataFrame) => noAutoBroadcast(
            Graph.ssspDistances(ed, sd, 4, broadcastNodeLimit = 0,
              coBucketAboveBroadcast = false).count())),
          "cobucket" -> ((ed: DataFrame) =>
            Graph.ssspDistancesCoBucketed(ed, sd, 4).count())))
        e.unpersist(); sd.unpersist()
      }
      // Triangle-core family (edgeSupport = the shared engine of
      // trussPeel and clusteringCoefficient): A/B the two enumeration
      // regimes that `broadcastEdgeLimit` switches — sorted-adjacency
      // intersection (adjacency agg broadcast to both join legs) vs
      // wedge self-join + Bloom-pruned closure. Same canonical co-order
      // graph as kcore, so mult≈8/15/30 lands ~8M/16M/32M canonical
      // edges — the grid the 8M default literal inherits from.
      if (algos("tri")) {
        val e = kcoreEdges(mult)
        val nodes = e.select("src").distinct().count()
        runGrid(mult, "tri", e, nodes, Seq(
          "adjintersect" -> ((ed: DataFrame) => Graph.edgeSupport(ed,
            broadcastEdgeLimit = Long.MaxValue).count()),
          "wedgebloom" -> ((ed: DataFrame) => Graph.edgeSupport(ed,
            broadcastEdgeLimit = 0L).count()),
          "wedgebloom_nobc" -> ((ed: DataFrame) => noAutoBroadcast(
            Graph.edgeSupport(ed, broadcastEdgeLimit = 0L).count()))))
        e.unpersist()
      }
      // SCC coloring family: the fused fwd/bwd min-label loop's frontier
      // state is 2 rows per node of src∪dst (the tagged/doubled table),
      // so its broadcast-vs-shuffle knife edge sits at HALF the node
      // count of the single-direction loops. Directed bipartite (q131
      // shape — no doubling, SCC is direction-sensitive).
      if (algos("scc")) {
        val e = hitsEdges(mult)
        val nodes = e.select("src").distinct().count()
        runGrid(mult, "scc", e, nodes, Seq(
          "bcast" -> ((ed: DataFrame) => Graph.sccColoring(ed, 3,
            broadcastNodeLimit = Long.MaxValue).count()),
          "shuffle" -> ((ed: DataFrame) => Graph.sccColoring(ed, 3,
            broadcastNodeLimit = 0L).count()),
          "shuffle_nobc" -> ((ed: DataFrame) => noAutoBroadcast(
            Graph.sccColoring(ed, 3, broadcastNodeLimit = 0L).count()))))
        e.unpersist()
      }
      if (algos("kcore")) {
        val e = kcoreEdges(mult)
        val nodes = e.select("src").distinct().count()
        runGrid(mult, "kcore", e, nodes, Seq(
          "bcast" -> ((ed: DataFrame) => Graph.kCore(ed, 3, 4,
            broadcastNodeLimit = Long.MaxValue).count()),
          "shuffle" -> ((ed: DataFrame) => Graph.kCore(ed, 3, 4,
            broadcastNodeLimit = 0).count()),
          "shuffle_nobc" -> ((ed: DataFrame) => noAutoBroadcast(
            Graph.kCore(ed, 3, 4, broadcastNodeLimit = 0).count()))))
        e.unpersist()
      }
    }

    // Cells were already appended to CROSSOVER.jsonl per grid (crash-
    // resilient); the curated cross-run summary lives in CROSSOVER.json
    // and is assembled from the JSONL — do NOT clobber it here.
    println(s"XOVER done: ${results.size} cells appended to CROSSOVER.jsonl")
    spark.stop()
  }
}
