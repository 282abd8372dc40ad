package graft.operators

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** Distributed graph algorithms over plain (src, dst) edge DataFrames —
  * the GraphFrames-style layout the reference's TigerGraph projection
  * uses (SURVEY.md §1.1 "Graph"): rank propagation, traversal (BFS,
  * SSSP, temporal reachability, walks), communities (LPA, k-core, SCC
  * coloring), triangle kernels, and the co-bucketed big-graph regimes —
  * including the connected-components loop [[Dedup.duplicateClusters]]
  * routes to above its edge threshold.
  *
  * PageRank here is FIXED-POINT: ranks are integers in `scale`-ths
  * (parts-per-million by default) and every division is integer floor
  * division. That makes each iteration a pure function of the edge set
  * with no float summation order to worry about — results are
  * bit-identical across partitionings, reruns and engines (the DuckDB
  * oracle reproduces all iterations exactly). The price is ≤1 ppm
  * rounding per hop, irrelevant for ranking use.
  *
  * Scale shape: per iteration one join edges⋈ranks (shuffle on src — or
  * zero shuffle if edges and ranks are co-bucketed by src, see
  * io/Bucketing) + one groupBy(dst) partial/final agg. localCheckpoint
  * per iteration keeps the plan flat (same discipline as the CC loop).
  * At 1e9+ nodes switch the accumulator to DECIMAL(38,0): the long
  * accumulator holds while n·scale·damping < 2⁶³ (n ≲ 1e10).
  *
  * Alternatives measured and REJECTED (A/B, same JVM, sf0.1 ×{1,10}):
  * (a) degree via groupBy(src)+broadcast-join-once instead of the count
  * window — 4.4→6.0 s at 10×: the extra node-sized broadcast build and
  * second edge materialization cost more than the window's one fused
  * shuffle; (b) a pregel-lite regime holding ranks in a driver array
  * and broadcasting a LocalRelation contribution table — 1.9→3.7 s at
  * 1×: per-round encode/collect of the node table loses to the plain
  * broadcast loop even at 167k nodes; (c) fusing the caller's edge
  * dedup into the repartition (partition-local dropDuplicates) —
  * complete-mode agg over the full edge table beat by the smaller
  * pre-doubling distinct. Re-measure before re-attempting any of them.
  *
  * Every round loop here runs through [[iterate]], the one loop
  * primitive (the Pregel shape: Malewicz et al., SIGMOD 2010). A kernel
  * supplies its start, a round cap, one of three [[Stop]] rules over the
  * count each round observes — `Never` for fixed-round kernels (the
  * PageRank family, HITS, LPA), `Empty` for frontier and changed-row
  * loops (BFS, SSSP, walks, SCC, connected components) and `Unchanged`
  * for peels (k-core, truss) — and the cached frames the loop owns,
  * which are released whether the loop returns or throws. The regime
  * decision and the checkpointing stay in each kernel's round body.
  */
object Graph {

  /** `edges` projected to (src, dst, extra…), every column cast to long. */
  private def longEdges(edges: DataFrame, extra: String*): DataFrame =
    edges.select(("src" +: "dst" +: extra).map(c => col(c).cast("long")): _*)

  /** HLL distinct count of column `c`: the stats job behind a regime
    * decision whose plan bound does not prove the fit. */
  private def hll(df: DataFrame, c: String): (Long, String) =
    (df.agg(approx_count_distinct(col(c)).as("n")).first().getLong(0), "hll")

  /** When an [[iterate]] loop stops, judged on (previous count, this
    * round's count). */
  private[graft] object Stop {
    type Rule = (Long, Long) => Boolean
    /** fixed rounds: only the cap ends the loop */
    val Never: Rule = (_, _) => false
    /** the round observed nothing (empty frontier, no changed row) */
    val Empty: Rule = (_, n) => n == 0
    /** the round removed nothing (a peel's fixpoint) */
    val Unchanged: Rule = (prev, n) => n == prev
  }

  /** Runs `step(state, round)` for rounds 1, 2, … until `maxRounds`
    * rounds have run or `stop(previous count, count)` holds. Each count
    * is the one the step observed, usually in its checkpoint job;
    * fixed-round steps return 0. The start's `count` is tested too,
    * against a previous count of 0, so an empty start runs no round;
    * a start that has no count passes -1. The `owned` frames are
    * unpersisted when the loop ends, whether it returns or throws.
    *
    * @return the final state and the number of rounds run */
  private[graft] def iterate[S](init: S, count: Long, maxRounds: Int,
      stop: Stop.Rule, owned: DataFrame*)
      (step: (S, Int) => (S, Long)): (S, Int) =
    try {
      var (state, prev, n, round) = (init, 0L, count, 0)
      while (round < maxRounds && !stop(prev, n)) {
        round += 1
        val (next, m) = step(state, round)
        state = next
        prev = n
        n = m
      }
      (state, round)
    } finally owned.foreach(_.unpersist(blocking = false))

  /** @param edges     directed edges (src, dst), both LongType
    * @param iterations number of damped propagation rounds
    * @param scale     fixed-point denominator (rank 1.0 ≡ `scale`)
    * @param dampingScaled damping factor × scale (0.85 → 850000)
    * @param symmetric when the edge set is known symmetric (u→v ⇒ v→u,
    *        e.g. an undirected graph doubled into directions), every
    *        node appears as a src, so the node set IS the degree table's
    *        key set — skips a whole corpus-sized distinct shuffle
    * @return (id, rank) for every node appearing in `edges`; rank is the
    *         fixed-point integer after `iterations` rounds from a flat
    *         start of `scale`. Dangling nodes contribute nothing (the
    *         common simplification; consistent with the oracle). */
  def pageRankFixedPoint(edges: DataFrame, iterations: Int,
      scale: Long = 1000000L, dampingScaled: Long = 850000L,
      broadcastNodeLimit: Long = GraphTuning.Auto,
      symmetric: Boolean = false,
      coBucketEdgeThreshold: Long = 14000000L): DataFrame = {
    val fin = math.max(iterations, 0)
    pageRankIterates(edges, iterations, Set(fin), scale, dampingScaled,
      broadcastNodeLimit, symmetric, coBucketEdgeThreshold)(fin)
  }

  /** [[pageRankFixedPoint]] with intermediate-iterate capture: ONE loop,
    * one edge cache, one regime decision, one stats job — and every
    * requested round's rank table returned alongside the final one.
    * Convergence telemetry (q186: L1/max delta between rounds k and
    * k+1) joins two captured iterates of a single run instead of
    * re-running the whole fixed point per telemetry point — each round
    * already localCheckpoints its rank table, so a capture is a free
    * reference, not extra work. The final round is always included.
    *
    * @param captureAt round numbers to keep (1-based; values outside
    *        [1, iterations] are ignored; `iterations` implied)
    * @return round → (id, rank); key 0 holds the flat start when
    *         `iterations <= 0` */
  def pageRankIterates(edges: DataFrame, iterations: Int,
      captureAt: Set[Int],
      scale: Long = 1000000L, dampingScaled: Long = 850000L,
      broadcastNodeLimit: Long = GraphTuning.Auto,
      symmetric: Boolean = false,
      coBucketEdgeThreshold: Long = 14000000L): Map[Int, DataFrame] = {
    import org.apache.spark.sql.expressions.Window
    val spark = edges.sparkSession
    val (limit, _) = GraphTuning.resolveNodeLimit(spark, broadcastNodeLimit)
    // Big-graph routing (symmetric graphs — the co-bucketed contract):
    // when the node table is too big to broadcast AND the edge table is
    // big enough that re-shuffling it every round dominates, the
    // bucketed-table regime wins. The round-6 grid put this at 40M
    // edges, but its "shuffle" arms were CONTAMINATED: AQE was
    // converting the per-round rank join to a runtime broadcast
    // whenever the compressed rank shuffle dipped under the 10 MB
    // auto-broadcast threshold, so those cells measured a
    // broadcast-assisted loop. The round-9 honest arms
    // (autoBroadcastJoinThreshold=-1, graft.Crossover shuffle_nobc;
    // warm, interleaved, min-of-2): at 9.6M edges / 1.2M nodes the
    // shuffle loop still wins (3.9 s vs 5.2 s co-bucketed — layout
    // writes don't pay off); at 18M / 2.2M co-bucketed wins 1.7x
    // (8.2 s vs 13.7 s); at 36M / 4.4M it wins 2.4x (13.9 s vs
    // 32.9 s). The 14M default sits between the measured 9.6M shuffle
    // win and the 18M co-bucketed win. The broadcast limit itself
    // resolves through [[GraphTuning]] (conf override + replication
    // cost model — local mode is one in-process copy, a cluster pays
    // nodeBytes × executors per round).
    //
    // Job-free fast path: #nodes <= 2 · #edges, so when the optimized
    // plan already bounds the edge count low enough that neither the
    // co-bucket route nor any non-broadcast regime is reachable, skip
    // the pre-loop stats job entirely (tiny graphs pay zero extra jobs).
    val edgeUpper = GraphTuning.rowUpperBound(edges)
    val provablySmall = edgeUpper.exists { case (u, _) =>
      u <= limit / 2 && u < coBucketEdgeThreshold }
    val symStats =
      if (symmetric && iterations >= 1 && !provablySmall)
        Some(edges.agg(count(lit(1)).as("m"),
          approx_count_distinct(col("src")).as("n")).first())
      else None
    val routeCoBucketed = symStats.exists { st =>
      st.getLong(1) > limit && st.getLong(0) >= coBucketEdgeThreshold }
    if (routeCoBucketed) {
      GraphTuning.decide(spark, "pageRankFixedPoint(co-bucket route)",
        nodeEstimate = symStats.get.getLong(1),
        nodeEstimateSource = "stats-agg-hll",
        edgeEstimate = symStats.get.getLong(0),
        requestedLimit = broadcastNodeLimit)
      return pageRankCoBucketedIterates(edges, iterations, captureAt,
        scale = scale, dampingScaled = dampingScaled)
    }
    // Degree is loop-invariant, so attach it in the SAME pass that
    // materializes the working edge table: a count window over src fuses
    // scan + degree + attach into one shuffle, where agg-then-join would
    // scan the upstream twice (or pay a second cache).
    dampedRanks(longEdges(edges)
        .withColumn("deg", count(lit(1)).over(Window.partitionBy("src"))),
        r => s"$r div deg", symmetric, iterations, captureAt, scale,
        dampingScaled) { (ew, nodes) =>
      val (nodeEst, nodeSrc) =
        if (provablySmall) (2 * edgeUpper.get._1, edgeUpper.get._2)
        else nodes.map(n => (n.count(), "exact-count")).getOrElse(
          symStats.map(st => (st.getLong(1), "stats-agg-hll")).getOrElse(
            hll(ew, "src")))
      // Adaptive plan, same idea as the CC edge threshold: the rank table
      // is node-sized; below the limit broadcast it so the edge table
      // NEVER shuffles per iteration. Above it, fall back to shuffle joins
      // — there, co-bucketing edges and ranks by src (io/Bucketing) is the
      // cluster-scale answer. Checkpointed loop tables lose stats, so AQE
      // cannot make this call on its own.
      GraphTuning.decide(spark, "pageRankFixedPoint",
        nodeEst, nodeSrc,
        edgeEstimate = symStats.map(_.getLong(0))
          .orElse(edgeUpper.map(_._1)).getOrElse(-1L),
        requestedLimit = broadcastNodeLimit)
    }
  }

  /** The damped-propagation loop of [[pageRankIterates]] and
    * [[weightedPageRank]] in the broadcast and shuffle regimes. `layout`
    * is the long edge table with its per-src out-weight attached, and
    * `contrib(r)` spells one edge's share of the source rank `r`. The
    * table is repartitioned by dst once, so in broadcast mode every
    * round's groupBy(dst) is exchange-free — one broadcast join + one
    * local hash agg per round. `decide` takes the node estimate from the
    * cached edge table and, for asymmetric graphs, the exact node table.
    *
    * @return round → (id, rank) for the rounds in `captureAt` and the
    *         last round (round 0, the flat start, when `iterations <= 0`) */
  private def dampedRanks(layout: DataFrame, contrib: String => String,
      symmetric: Boolean, iterations: Int, captureAt: Set[Int],
      scale: Long, dampingScaled: Long)
      (decide: (DataFrame, Option[DataFrame]) => GraphTuning.RegimeDecision)
      : Map[Int, DataFrame] = {
    val ew = layout.repartition(col("dst")).cache()
    def allNodes: DataFrame =
      if (symmetric) ew.select(col("src").as("id")).distinct()
      else ew.select(col("src").as("id"))
        .unionByName(ew.select(col("dst").as("id"))).distinct()
    // Asymmetric graphs need the exact node table anyway (nodes with no
    // in-edges keep the base rank via a left join); symmetric ones only
    // need a node COUNT to pick the plan, and an estimate is plenty for
    // a broadcast threshold — skip the corpus-sized distinct entirely.
    val nodes = if (symmetric) None else Some(allNodes.cache())
    val d = decide(ew, nodes)
    val base = scale - dampingScaled
    def damped(sums: DataFrame): DataFrame = {
      // symmetric ⇒ every node has an in-edge ⇒ the contribution sums
      // already cover the whole node set — skip the nodes left-join
      val withBase = nodes match {
        case Some(n) => n.join(d.maybeBroadcast(sums), Seq("id"), "left")
        case None    => sums
      }
      // Per-round eager checkpoint: keeps the plan flat (AQE re-plans a
      // small fresh tree each round instead of a growing nest of
      // broadcast subqueries — measured faster than lazy chaining) and
      // releases the previous round's broadcast.
      withBase.select(col("id"),
        (lit(base) + expr(s"($dampingScaled * coalesce(s, CAST(0 AS BIGINT))) div $scale"))
          .as("rank"))
        .localCheckpoint(true)
    }
    val flat = allNodes.withColumn("rank", lit(scale))
    val captures = scala.collection.mutable.Map[Int, DataFrame]()
    val (ranks, last) = iterate(
        if (iterations <= 0) flat.localCheckpoint(true) else flat, 0L,
        iterations, Stop.Never, ew +: nodes.toSeq: _*) { (r, round) =>
      val c =
        if (round == 1) // propagates the constant flat rank — no join
          ew.select(col("dst").as("id"), expr(contrib(scale.toString)).as("c"))
        else ew.join(d.maybeBroadcast(r.withColumnRenamed("id", "src")),
            Seq("src"))
          .select(col("dst").as("id"), expr(contrib("rank")).as("c"))
      val next = damped(c.groupBy("id").agg(sum(col("c")).as("s")))
      if (captureAt(round)) captures(round) = next
      (next, 0L)
    }
    // every captured table is checkpointed (no lineage into the caches
    // the loop released)
    captures(last) = ranks
    captures.toMap
  }

  /** Weight-proportional PageRank, same integer fixed point as
    * [[pageRankFixedPoint]]: each edge carries
    * `(rank_src · w) div wout_src` instead of `rank div deg`, so mass
    * splits by edge weight — transaction-volume-weighted importance
    * instead of plain link counting. Out-weight is attached in the same
    * pass that materializes the working edge table (a sum window over
    * src fused into the one edge shuffle), and the loop body in the
    * broadcast regime is one broadcast join + one exchange-free agg per
    * round on the dst-partitioned cache.
    *
    * Parallel edges: each ROW floors independently — pre-aggregate
    * (src, dst) to fold multi-edges if combined-weight semantics are
    * wanted (the q177 construction does). Overflow: |rank · w| must fit
    * 64 bits — rank is O(scale · n) worst-case on a star, so keep
    * scale · n · w_max under ~9e18 (defaults give ample room through
    * billion-node graphs with bounded weights). No co-bucketed route —
    * above the resolved limit the loop degrades to per-round shuffle
    * joins; the [[pageRankCoBucketed]] layout argument ports verbatim
    * when a measured threshold justifies it.
    *
    * @param edges (src, dst, w) with w > 0
    * @param symmetric when the edge set is known symmetric (u→v ⇒ v→u),
    *        every node has an in-edge, so the per-round contribution
    *        sums already cover the whole node set — skips the exact
    *        node table (a corpus-sized distinct + count job) AND the
    *        per-round node-sized left join (the [[pageRankIterates]]
    *        discipline); the broadcast decision takes the proven plan
    *        bound or one HLL agg instead (round-16, VERDICT-r15 #5)
    * @return (id, rank) in `scale`-ths */
  def weightedPageRank(edges: DataFrame, iterations: Int,
      scale: Long = 1000000L, dampingScaled: Long = 850000L,
      broadcastNodeLimit: Long = GraphTuning.Auto,
      symmetric: Boolean = false): DataFrame = {
    require(iterations >= 0, "iterations must be >= 0")
    import org.apache.spark.sql.expressions.Window
    val spark = edges.sparkSession
    val (limit, _) = GraphTuning.resolveNodeLimit(spark, broadcastNodeLimit)
    dampedRanks(longEdges(edges, "w")
        .withColumn("wout", sum(col("w")).over(Window.partitionBy("src"))),
        r => s"($r * w) div wout", symmetric, iterations, Set.empty, scale,
        dampingScaled) { (ew, nodes) =>
      // symmetric graphs only need a node COUNT to pick the plan — a
      // proven plan bound (#nodes <= #edge rows, every node is a src) or
      // one HLL agg replaces the distinct + exact count entirely
      val edgeUpper = GraphTuning.rowUpperBound(ew)
      val (nodeEst, nodeSrc) = nodes match {
        case Some(n) => (n.count(), "exact-count")
        case None => edgeUpper match {
          case Some((u, s)) if u <= limit => (u, s)
          case _ => hll(ew, "src")
        }
      }
      GraphTuning.decide(spark, "weightedPageRank",
        nodeEst, nodeSrc,
        edgeEstimate = edgeUpper.map(_._1).getOrElse(-1L),
        requestedLimit = broadcastNodeLimit)
    }(iterations)
  }

  /** HITS hubs & authorities (Kleinberg 1999) over a directed edge set,
    * UNNORMALIZED integer fixed point: aₖ(v) = Σ_{(u,v)∈E} hₖ₋₁(u),
    * hₖ(u) = Σ_{(u,v)∈E} aₖ(v), h₀ ≡ 1. Dropping the per-round L2
    * normalization keeps every score an exact BIGINT — rankings are
    * unchanged (normalization is a positive scalar) and results are
    * bit-identical across engines/partitionings, like
    * [[pageRankFixedPoint]]. Magnitudes grow ~(d_in·d_out)^k per round,
    * so keep `iterations` small (≤4) or rescale externally; multi-edges
    * act as integer weights — pre-`distinct` if unweighted.
    *
    * Scale shape: the edge table is cached TWICE, partitioned by src and
    * by dst. In the broadcast regime each half-round is one broadcast
    * join (node-sized score table) + one hash agg whose grouping key
    * equals the cached partitioning — ZERO per-round Exchange on the
    * edge table — and the whole round (both half-rounds) materializes
    * as ONE checkpoint job: only hub_k is loop state, the auth half
    * rides the same job lazily, and the final round fuses into the
    * output join (job count asserted in GraphTuningSpec). Above
    * `broadcastNodeLimit` this ROUTES to [[hitsCoBucketed]].
    *
    * @return (id, hub, auth) for every node of `edges`; sink nodes have
    *         hub = 0, source nodes auth = 0 */
  def hits(edges: DataFrame, iterations: Int,
      broadcastNodeLimit: Long = GraphTuning.Auto,
      coBucketAboveBroadcast: Boolean = true): DataFrame = {
    require(iterations >= 1, "HITS needs at least one round")
    val e = longEdges(edges)
    // ns + nd <= 2 · #edges: a plan-stats row bound proving the fit
    // skips the HLL job (no pre-loop stats job for tiny graphs).
    val d = GraphTuning.resolveRegime("hits", e, broadcastNodeLimit,
        statePerRow = 2L) {
      val est = e.agg(
        approx_count_distinct(col("src")).as("ns"),
        approx_count_distinct(col("dst")).as("nd")).first()
      (est.getLong(0) + est.getLong(1), "hll")
    }
    // Routing tests FITS, not the broadcast choice (the RegimeDecision
    // contract): a state table that can't fit any executor's budget must
    // leave the broadcast loop for the bucketed one (round-6 crossover
    // grid: co-bucketed beat the shuffle half-rounds 1.16x at 18M edges
    // and 1.6x at 36M — CROSSOVER.json), but a FITTING table whose
    // replication cost merely vetoed broadcast stays here on plain
    // shuffle joins — its per-round state is small, so the bucketed
    // layout writes would be pure overhead. The shuffle fallback also
    // stays reachable for the A/B harness via the flag.
    if (!d.fits && coBucketAboveBroadcast)
      return hitsCoBucketed(edges, iterations)
    val eSrc = e.repartition(col("src")).cache()
    val eDst = e.repartition(col("dst")).cache()
    // Round-16 loop-action fusion, HITS edition: auth_k is a pure
    // function of hub_{k-1} and hub_k of auth_k, so the only state the
    // loop must MATERIALIZE is one hub table per round — each round's
    // auth half stays a lazy subtree composed into the hub checkpoint's
    // job (one job per round instead of two), and the FINAL round's hub
    // and auth fuse into the output join job itself. In the broadcast
    // regime both consumers of the final auth subtree (the hub
    // half-round and the output left-join) are BroadcastExchanges over
    // the same canonical plan, so ReuseExchange computes it once; the
    // non-broadcast regime checkpoints it instead (shuffle-join legs
    // need not reuse — the shared-branch rule).
    def authOf(h: DataFrame): DataFrame = eDst
      .join(d.maybeBroadcast(h.select(col("id").as("src"), col("hub"))),
        Seq("src"))
      .groupBy(col("dst").as("id")).agg(sum(col("hub")).as("auth"))
    def hubOf(a: DataFrame): DataFrame = eSrc
      .join(d.maybeBroadcast(a.select(col("id").as("dst"), col("auth"))),
        Seq("dst"))
      .groupBy(col("src").as("id")).agg(sum(col("auth")).as("hub"))
    // The output join still reads both edge caches after the last round,
    // so this kernel releases them itself instead of handing them to the
    // loop.
    try {
      // round 1 authority = in-degree (h₀ is the constant 1) — no join
      val (authLazy, _) = iterate(eDst.groupBy(col("dst").as("id"))
          .agg(count(lit(1)).as("auth")), 0L, iterations - 1, Stop.Never) {
        (auth, _) => (authOf(hubOf(auth).localCheckpoint(true)), 0L)
      }
      val authFinal =
        if (d.broadcast) authLazy else authLazy.localCheckpoint(true)
      eSrc.select(col("src").as("id"))
        .unionByName(eDst.select(col("dst").as("id"))).distinct()
        .join(d.maybeBroadcast(hubOf(authFinal)), Seq("id"), "left")
        .join(d.maybeBroadcast(authFinal), Seq("id"), "left")
        .select(col("id"),
          coalesce(col("hub"), lit(0L)).as("hub"),
          coalesce(col("auth"), lit(0L)).as("auth"))
        .localCheckpoint(true)
    } finally Seq(eSrc, eDst).foreach(_.unpersist(blocking = false))
  }

  /** Multi-source BFS: exact shortest hop distance from ANY seed, up to
    * `maxHops` rounds — reachability labeling, contamination-radius and
    * "k hops from a flagged entity" queries.
    *
    * Frontier-based (the PPR discipline, `personalizedPageRank`): the
    * per-round join input is ONLY the rows discovered last round, never
    * the full distance table, and an anti-join keeps a node's FIRST
    * discovery (= its true BFS distance, since frontiers expand one hop
    * per round). State grows with the reached set; per-round cost decays
    * with the frontier. Rounds stop early when a frontier empties — the
    * per-round `isEmpty` is a frontier-sized action, cheap by
    * construction.
    *
    * Scale shape per round (broadcast regime): one broadcast join
    * against the dst-partitioned cached edge table + one hash agg on the
    * SAME dst key (exchange-free, the LPA layout argument) + one
    * broadcast anti-join. Above `broadcastNodeLimit` this ROUTES to
    * [[bfsDistancesCoBucketed]] — the bucketed-table regime where the
    * edge table shuffles once at layout and every round plans exactly
    * one Exchange.
    *
    * @param seeds one `id` column (LongType-castable); absent nodes are
    *              unreached within `maxHops` and are not returned
    * @return (id, dist) with dist ∈ [0, maxHops] */
  def bfsDistances(edges: DataFrame, seeds: DataFrame, maxHops: Int,
      broadcastNodeLimit: Long = GraphTuning.Auto,
      coBucketAboveBroadcast: Boolean = true): DataFrame = {
    require(maxHops >= 0, "maxHops must be >= 0")
    // distinct dst <= #edge rows: a plan-stats bound proving the fit
    // skips the HLL job (no pre-loop stats job for tiny graphs).
    val d = GraphTuning.resolveRegime("bfsDistances", edges,
      broadcastNodeLimit)(hll(edges, "dst"))
    // Routing tests FITS (see [[hits]]): non-fitting state leaves for
    // the bucketed loop (round-6 crossover grid: co-bucketed beat the
    // shuffle rounds 2.1x at 36M edges, 1.1x at 72M — CROSSOVER.json);
    // fitting-but-cost-vetoed stays on plain shuffle joins here.
    if (!d.fits && coBucketAboveBroadcast)
      return bfsDistancesCoBucketed(edges, seeds, maxHops)
    // frontier counts OBSERVED in the checkpoint jobs (round-15 fusion)
    // — the old per-hop isEmpty was one extra job per hop
    val (seed0, nSeed) = GraphTuning.checkpointWithCount(
      seeds.select(col("id").cast("long"), lit(0L).as("dist")).distinct())
    val ew = longEdges(edges).repartition(col("dst")).cache()
    // Only each hop's NEW frontier is ever materialized: the visited set
    // stays a lazy union of the checkpointed frontiers (scanning k small
    // flat frames per anti-join), where re-checkpointing the union would
    // rewrite every visited row once per hop — O(hops · nodes) total.
    // State: the frontiers, newest first.
    val (frontiers, _) = iterate(List(seed0), nSeed, maxHops, Stop.Empty,
        ew) { (fs, hop) =>
      val visited = fs.map(_.select("id")).reduce(_ unionByName _)
      val (next, n) = GraphTuning.checkpointWithCount(ew
        .join(d.maybeBroadcast(fs.head.select(col("id").as("src"))),
          Seq("src"))
        .select(col("dst").as("id")).distinct()
        .join(d.maybeBroadcast(visited), Seq("id"), "left_anti")
        .withColumn("dist", lit(hop.toLong)))
      (next :: fs, n)
    }
    frontiers.reduce(_ unionByName _)
  }

  /** Landmark harmonic centrality over [[multiSourceBfs]]: each node's
    * Σ 10⁶ div dist(landmark, node) across the ≤ 64 bit-packed seeds
    * (self-distances excluded; unreached landmarks contribute 0 — the
    * harmonic convention, which is why harmonic beats closeness on
    * disconnected graphs). The landmark trick is the standard
    * scale-out: exact all-pairs centrality is O(n·m), landmarks bound
    * it at one shared bit-packed frontier sweep (the msbfs shape: the
    * 64 seeds ride ONE 64-bit mask through the loop) plus a node-keyed
    * rollup of the ≤ 64·n exploded distance rows. Integer ppm keeps
    * the score hash-exact cross-engine.
    *
    * @return (id, n_reached, harmonic_ppm) */
  def harmonicCentrality(edges: DataFrame, seeds: DataFrame, maxHops: Int,
      broadcastNodeLimit: Long = GraphTuning.Auto): DataFrame =
    multiSourceBfs(edges, seeds, maxHops, broadcastNodeLimit)
      .filter(col("dist") > 0)
      .groupBy("id")
      .agg(count(lit(1)).as("n_reached"),
        sum(expr("1000000 div dist")).as("harmonic_ppm"))

  /** Per-landmark reach curve — the frontier-growth profile a graph
    * release report ships next to harmonic centrality: for each
    * landmark, how many nodes sit at each hop distance (a flattening
    * curve at small hops is the small-world/diameter evidence; a
    * landmark whose curve stalls is in a pocket). Same bit-packed
    * [[multiSourceBfs]] core as [[harmonicCentrality]] — one 64-seed
    * sweep prices ALL landmarks — with the rollup on the LANDMARK
    * side instead of the node side; the agg output is
    * |seeds| × maxHops rows at any graph size.
    *
    * @return (src, dist, n_nodes) — nodes first reached at exactly
    *         `dist` hops from landmark `src`, dist >= 1 */
  def landmarkReachProfile(edges: DataFrame, seeds: DataFrame,
      maxHops: Int,
      broadcastNodeLimit: Long = GraphTuning.Auto): DataFrame =
    multiSourceBfs(edges, seeds, maxHops, broadcastNodeLimit)
      .filter(col("dist") > 0)
      .groupBy(col("src"), col("dist"))
      .agg(count(lit(1)).as("n_nodes"))

  /** One GraphSAGE-style neighbor-aggregation layer over an integer
    * node feature — the feature-engineering primitive a GNN training
    * pipeline materializes ahead of sampling (and the building block
    * of degree-based fraud features: "my neighbors' popularity"). The
    * feature here is the node degree itself, aggregated as sum and
    * max over each node's 1-hop neighborhood; stacking calls gives
    * k-hop receptive fields.
    *
    * Scale shape: degree is one edge-keyed partial agg; the gather is
    * ONE node-keyed hash join of edges against the node-sized degree
    * table (deliberately NOT broadcast — node-sized at 100 TB; AQE
    * handles hub skew) followed by a src-keyed partial agg. No
    * iteration, no window.
    *
    * @param edges directed pair list covering both directions of each
    *        undirected edge
    * @return (id, deg, sum_nbr_deg, max_nbr_deg) */
  def neighborFeatureAgg(edges: DataFrame): DataFrame = {
    val deg = edges.groupBy(col("src").as("id"))
      .agg(count(lit(1)).as("deg"))
    edges
      .join(deg.select(col("id").as("dst"), col("deg").as("__nd")),
        Seq("dst"))
      .groupBy(col("src").as("id"))
      .agg(count(lit(1)).as("deg"),
        sum(col("__nd")).as("sum_nbr_deg"),
        max(col("__nd")).as("max_nbr_deg"))
  }

  /** Link-prediction features over non-edges — the classic
    * common-neighbor family for "which connection forms next"
    * (recommendations, entity resolution candidates): for every node
    * pair with ≥ 1 common neighbor that is NOT already an edge,
    * report common-neighbor count, resource-allocation index
    * (Σ_v 1e6 div deg(v) — Adamic-Adar's integer-exact sibling: RA
    * weights rare bridges by 1/deg where AA uses 1/log deg, same
    * ranking intent, no float log), and neighborhood Jaccard in ppm.
    *
    * Hub contract: wedges route only through middle nodes with
    * deg(v) ≤ `maxMiddleDegree`. The wedge stream is Σ deg(v)² —
    * unbounded, a 201-degree hub in the sf0.1 co-order graph alone
    * makes 236M wedges where the capped stream is 1.5M (measured) —
    * and a hub is the LEAST informative common neighbor: its RA
    * weight 1e6 div deg(v) rounds to ~0 and co-occurring at a hub
    * predicts nothing (everyone co-occurs there). Capping the middle
    * bounds wedges by maxMiddleDegree·m — linear in edges at any
    * scale. Endpoint degrees (the Jaccard denominator) stay UNcapped.
    *
    * Scale shape: capped wedge join (two edge joins through the
    * shared middle), degrees ride one node-keyed agg joined into the
    * wedge (not broadcast — node-sized); existing edges leave via one
    * anti-join.
    *
    * @param canon canonical undirected edges (src < dst), deduped
    * @return (id_a, id_b, common, ra_ppm, jaccard_ppm), id_a < id_b */
  def linkPredictionFeatures(canon: DataFrame,
      maxMiddleDegree: Long = 64L): DataFrame = {
    require(maxMiddleDegree >= 2, "maxMiddleDegree must be >= 2")
    val ed = canon.unionByName(
      canon.select(col("dst").as("src"), col("src").as("dst")))
    // deg feeds three branches and legs both self-join sides; the
    // shared-branch materialization was TRIED and measured SLOWER
    // here (3.1 s plain vs 5.5 s both-checkpointed vs 3.4 s deg-only
    // at sf0.1): both frames are one scan + narrow agg/join off the
    // same input, and eager checkpoint IO costs more than recompute —
    // unlike the clusteringCoefficient case, whose shared frame is a
    // shuffled canonical edge set
    val deg = ed.groupBy(col("src").as("id")).agg(count(lit(1)).as("deg"))
    val mid = deg.filter(col("deg") <= maxMiddleDegree)
      .select(col("id").as("v"), col("deg").as("__dv"))
    // the cap joins into the LEGS, before the self-join — hub wedges
    // are never generated, not generated-then-dropped
    val legs = ed.select(col("src").as("v"), col("dst")).join(mid, Seq("v"))
    val wed = legs.select(col("v"), col("dst").as("a"), col("__dv"))
      .join(legs.select(col("v"), col("dst").as("b")), Seq("v"))
      .filter(col("a") < col("b"))
      .groupBy(col("a"), col("b"))
      .agg(count(lit(1)).as("common"),
        sum(expr("1000000 div __dv")).as("ra_ppm"))
    wed
      .join(canon.select(col("src").as("a"), col("dst").as("b")),
        Seq("a", "b"), "left_anti")
      .join(deg.select(col("id").as("a"), col("deg").as("__da")), Seq("a"))
      .join(deg.select(col("id").as("b"), col("deg").as("__db")), Seq("b"))
      .select(col("a").as("id_a"), col("b").as("id_b"), col("common"),
        col("ra_ppm"),
        expr("(common * 1000000) div (__da + __db - common)")
          .as("jaccard_ppm"))
  }

  /** Bit-packed multi-source BFS (the MS-BFS idea — Then et al.,
    * VLDB'15): exact hop distances from up to 64 landmark seeds in ONE
    * shared frontier sweep. Per-node state is a single 64-bit mask
    * (bit b set ⇔ reached by landmark b), so k landmarks cost one
    * traversal with bit-parallel frontier sharing instead of k
    * [[bfsDistances]] runs — the landmark-distance feature extractor
    * (graph embeddings, closeness sketches) at corpus scale. Unlike
    * [[bfsDistances]] (min distance over ALL seeds), the output keeps
    * the per-landmark distance. (Reference analog: k-hop entity
    * exposure queries, dataengineering/tigergraph/v1/queries.py.)
    *
    * Scale shape per round (broadcast regime): one broadcast join of
    * the (node, mask) frontier against the dst-partitioned cached edge
    * table, one `bit_or` agg on the SAME dst key (exchange-free), and
    * one reached-set-sized mask merge — the bitmask replaces what would
    * be a 64× wider (node, src) frontier. Set-bit explosion to
    * (id, src, dist) rows happens ONCE at the end, against a 64-row
    * broadcast bit map, never inside the loop. Above the resolved node
    * limit the loop degrades to per-round shuffle joins (the mask state
    * is 64× denser than per-source rows, so the broadcast regime
    * stretches much further than running k separate BFS).
    *
    * @param seeds one `id` column, at most 64 distinct ids
    * @return (id, src, dist) — dist ∈ [0, maxHops] hops from seed `src` */
  def multiSourceBfs(edges: DataFrame, seeds: DataFrame, maxHops: Int,
      broadcastNodeLimit: Long = GraphTuning.Auto): DataFrame = {
    require(maxHops >= 0, "maxHops must be >= 0")
    import org.apache.spark.sql.expressions.Window
    // Bit assignment = rank of the distinct seed ids: a <= 64-row
    // single-partition window, deterministic across engines.
    val (sd, nSeeds) = GraphTuning.checkpointWithCount(
      seeds.select(col("id").cast("long")).distinct()
        .withColumn("bit",
          row_number().over(Window.orderBy(col("id"))) - 1))
    require(nSeeds <= 64, "multiSourceBfs packs at most 64 seeds")
    val d = GraphTuning.resolveRegime("multiSourceBfs", edges,
      broadcastNodeLimit)(hll(edges, "dst"))
    // frontier counts observed in the checkpoint jobs (round-15 fusion)
    val f0 = sd.select(col("id"),
        expr("shiftleft(CAST(1 AS BIGINT), bit)").as("bits"),
        lit(0L).as("hop"))
      .localCheckpoint(true)
    val ew = longEdges(edges).repartition(col("dst")).cache()
    val (frontiers, _) = iterate(List(f0), nSeeds, maxHops, Stop.Empty,
        ew) { (fs, hop) =>
      // Reached masks so far: lazy union of the checkpointed frontiers,
      // re-merged per round (reached-set-sized, the bfsDistances
      // anti-join-scan discipline — never rewritten, only re-read).
      val seen = fs.map(_.select("id", "bits"))
        .reduce(_ unionByName _)
        .groupBy("id").agg(expr("bit_or(bits)").as("seen"))
      val gathered = ew
        .join(d.maybeBroadcast(
          fs.head.select(col("id").as("src"), col("bits"))), Seq("src"))
        .groupBy(col("dst").as("id")).agg(expr("bit_or(bits)").as("g"))
      val (next, n) = GraphTuning.checkpointWithCount(gathered
        .join(d.maybeBroadcast(seen), Seq("id"), "left")
        .select(col("id"), col("g")
          .bitwiseAND(bitwise_not(coalesce(col("seen"), lit(0L))))
          .as("bits"))
        .filter(col("bits") =!= 0L)
        .withColumn("hop", lit(hop.toLong)))
      (next :: fs, n)
    }
    frontiers.reduce(_ unionByName _)
      .select(col("id"), col("hop").as("dist"), explode(expr(
        "filter(sequence(0, 63), b -> ((bits >> b) & 1) = 1)")).as("bit"))
      .join(broadcast(sd.select(col("bit"), col("id").as("src"))),
        Seq("bit"))
      .select(col("id"), col("src"), col("dist"))
  }

  /** Big-graph regime — the cluster answer above `broadcastNodeLimit`
    * that the adaptive path's scaladoc promises: edges live as a table
    * bucketed by src (degree attached at layout time), and each round's
    * rank table is written bucketed by the SAME key and bucket count, so
    * the per-round edges⋈ranks join plans bucket-to-bucket with ZERO
    * Exchange on either side — the 100-TB edge table is shuffled exactly
    * once (at layout) and never again. The only per-round exchange is
    * the narrow (dst, contribution) aggregation, and because the
    * aggregation's output partitioning (hash by dst) is the bucket
    * partitioning of the next rank table, the bucketed write emits
    * straight from the agg tasks. Per-round Exchange count: 1 (vs 3+
    * for the naive shuffle-join loop) — asserted in GraphSpec.
    *
    * Contract: symmetric edge set (u→v ⇒ v→u), same as
    * `pageRankFixedPoint(symmetric = true)`; results are bit-identical
    * to it (same integer fixed-point math). Work tables live for the
    * call only ([[WorkTables]]); the returned frame is materialized.
    */
  def pageRankCoBucketed(edges: DataFrame, iterations: Int,
      scale: Long = 1000000L, dampingScaled: Long = 850000L): DataFrame =
    pageRankCoBucketedIterates(edges, iterations, Set(iterations),
      scale, dampingScaled)(iterations)

  /** Iterate-capturing form of [[pageRankCoBucketed]] (the co-bucketed
    * leg of [[pageRankIterates]]): every round's rank table already
    * exists as a bucketed work table, so capturing round k is one
    * bucketed-table read + localCheckpoint before the `finally` drops
    * the work tables. Same single-Exchange-per-round layout. */
  def pageRankCoBucketedIterates(edges: DataFrame, iterations: Int,
      captureAt: Set[Int], scale: Long = 1000000L,
      dampingScaled: Long = 850000L): Map[Int, DataFrame] = {
    import org.apache.spark.sql.expressions.Window
    require(iterations >= 1, "co-bucketed loop needs >= 1 iteration")
    // Layout: ONE shuffle on src fuses the degree window and the bucket
    // placement; every later round reads this table in place.
    val layout = longEdges(edges)
      .withColumn("deg", count(lit(1)).over(Window.partitionBy("src")))
    WorkTables.runAll("pr", layout) { wt =>
      def rankTbl(i: Int) = s"ranks_$i"
      val (_, it) = iterate((), 0L, iterations, Stop.Never) { (_, it) =>
        wt.write(
          if (it == 1) // propagates the constant flat rank — no join
            wt.table("edges")
              .select(col("dst"), expr(s"$scale div deg").as("c"))
              .groupBy("dst").agg(sum(col("c")).as("s"))
              .select(col("dst").as("src"), (lit(scale - dampingScaled) +
                expr(s"($dampingScaled * s) div $scale")).as("rank"))
          else coBucketedRound(wt.spark, wt.name("edges"),
            wt.name(rankTbl(it - 1)), scale, dampingScaled),
          rankTbl(it), "src")
        ((), 0L)
      }
      (captureAt + it).filter(r => r >= 1 && r <= it).map { r =>
        r -> wt.table(rankTbl(r)).select(col("src").as("id"), col("rank"))
      }.toMap
    }
  }

  /** One co-bucketed propagation round (exposed for plan inspection):
    * the bucketed-table join carries no Exchange; the (dst, c) agg is
    * the round's single shuffle. */
  def coBucketedRound(spark: SparkSession, edgesTable: String,
      ranksTable: String, scale: Long, dampingScaled: Long): DataFrame =
    spark.table(edgesTable).join(spark.table(ranksTable), Seq("src"))
      .select(col("dst"), expr("rank div deg").as("c"))
      .groupBy("dst").agg(sum(col("c")).as("s"))
      .select(col("dst").as("src"),
        (lit(scale - dampingScaled) + expr(s"($dampingScaled * s) div $scale"))
          .as("rank"))

  /** The scaffold every co-bucketed driver runs in. Work tables are
    * named `graft_<kernel>_<random>_<table>`, so concurrent calls (two
    * jobs on one metastore, two threads in one session) never share a
    * table, and are bucketed into `numBuckets` = the session's shuffle
    * parallelism ([[graft.io.Bucketing.resolveBuckets]]). Every write is
    * recorded, and [[WorkTables.runAll]] drops exactly the recorded
    * tables when the call ends, so a failed round cannot leak catalog
    * entries or warehouse files. */
  private final class WorkTables(val spark: SparkSession, kernel: String) {
    val numBuckets: Int = graft.io.Bucketing.resolveBuckets(spark)
    private val prefix = s"graft_${kernel}_" +
      java.util.UUID.randomUUID().toString.takeWhile(_ != '-')
    private val created = scala.collection.mutable.ArrayBuffer[String]()
    def name(table: String): String = s"${prefix}_$table"
    def table(table: String): DataFrame = spark.table(name(table))
    def write(df: DataFrame, table: String, bucketCol: String): Unit = {
      graft.io.Bucketing.writeBucketed(df, name(table), Seq(bucketCol),
        numBuckets)
      created += name(table)
    }
    /** [[write]] with a long-valued aggregate OBSERVED during the
      * bucketed-write job itself (round-15 loop-action fusion, the
      * [[GraphTuning.checkpointWithCount]] pattern applied to the
      * co-bucketed regimes): the loops' convergence/frontier counts
      * previously RE-READ the just-written table — at 100 TB a full
      * per-round pass over the round's label/frontier table. */
    def writeObserving(df: DataFrame, table: String, bucketCol: String,
        metric: org.apache.spark.sql.Column): Long =
      GraphTuning.observeLongs(df, Seq("n" -> coalesce(metric, lit(0L))),
        write(_, table, bucketCol))("n")
    private def dropAll(): Unit =
      created.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  private object WorkTables {
    /** Writes `layout` as work table `edges` bucketed by `bucketCol`,
      * runs `loop`, and materializes (eager localCheckpoint) each frame
      * it returns BEFORE the work tables those frames read are dropped. */
    def runAll[K](kernel: String, layout: DataFrame, bucketCol: String = "src")
        (loop: WorkTables => Map[K, DataFrame]): Map[K, DataFrame] = {
      val wt = new WorkTables(layout.sparkSession, kernel)
      try {
        wt.write(layout, "edges", bucketCol)
        loop(wt).map { case (k, df) => k -> df.localCheckpoint(true) }
      } finally wt.dropAll()
    }

    /** [[runAll]] for a loop with one result. */
    def run(kernel: String, layout: DataFrame, bucketCol: String = "src")
        (loop: WorkTables => DataFrame): DataFrame =
      runAll(kernel, layout, bucketCol)(wt => Map(0 -> loop(wt)))(0)
  }

  /** One co-bucketed LPA round (exposed for plan inspection): the
    * edges⋈labels join is bucket-to-bucket (no Exchange); the single
    * per-round shuffle is the explicit repartition on dst, after which
    * BOTH vote aggregations are exchange-free (hash(dst) satisfies the
    * (dst, lbl) clustering by the subset rule, and the per-dst argmax
    * reuses the same partitioning). */
  def lpaCoBucketedRound(spark: SparkSession, edgesTable: String,
      labelsTable: String, numBuckets: Int): DataFrame =
    spark.table(edgesTable).join(spark.table(labelsTable), Seq("src"))
      .select(col("dst"), col("lbl"))
      .repartition(numBuckets, col("dst"))
      .groupBy(col("dst"), col("lbl")).agg(count(lit(1)).as("c"))
      .groupBy(col("dst"))
      .agg(min_by(col("lbl"),
        struct((-col("c")).as("nc"), col("lbl"))).as("lbl"))
      .select(col("dst").as("src"), col("lbl"))

  /** Big-graph LPA — [[labelPropagation]] above `broadcastNodeLimit`,
    * built on the [[pageRankCoBucketed]] layout: edges bucketed by src
    * once, each round's label table written bucketed by the same key,
    * so the per-round edges⋈labels join plans bucket-to-bucket with
    * ZERO Exchange on the (100 TB) edge side. Per-round Exchange count:
    * 1 (the narrow (dst, lbl) vote repartition) — asserted in GraphSpec.
    * Results are bit-identical to [[labelPropagation]] (same sync-LPA
    * integer math; parity-tested). Contract: symmetric edge set, like
    * the broadcast variant. */
  def labelPropagationCoBucketed(edges: DataFrame,
      iterations: Int): DataFrame = {
    require(iterations >= 1, "co-bucketed loop needs >= 1 iteration")
    WorkTables.run("lpa", longEdges(edges)) { wt =>
      def lblTbl(i: Int) = s"labels_$i"
      // initial labels: own id; distinct-on-src is a bucket-aligned agg
      // (zero Exchange) over the just-written edge table
      wt.write(wt.table("edges").select(col("src")).distinct()
        .withColumn("lbl", col("src")), lblTbl(0), "src")
      val (_, it) = iterate((), 0L, iterations, Stop.Never) { (_, it) =>
        wt.write(lpaCoBucketedRound(wt.spark, wt.name("edges"),
          wt.name(lblTbl(it - 1)), wt.numBuckets), lblTbl(it), "src")
        ((), 0L)
      }
      wt.table(lblTbl(it)).select(col("src").as("id"), col("lbl").as("label"))
    }
  }

  /** One co-bucketed HITS half-round (exposed for plan inspection):
    * the edges⋈score join is bucket-to-bucket on `joinKey` [0 Exchange
    * — score tables are bucketed by id, alias-compatible with the join
    * key]; the opposite-endpoint sum agg is the half-round's single
    * Exchange, whose output partitioning IS the next table's bucket
    * layout. */
  def hitsCoBucketedHalfRound(spark: SparkSession, edgesTable: String,
      scoreTable: String, joinKey: String, aggKey: String,
      scoreCol: String, outCol: String): DataFrame =
    spark.table(edgesTable)
      .join(spark.table(scoreTable).withColumnRenamed("id", joinKey),
        Seq(joinKey))
      .groupBy(col(aggKey).as("id")).agg(sum(col(scoreCol)).as(outCol))

  /** Big-graph HITS — [[hits]] above `broadcastNodeLimit`: the two edge
    * layouts become two bucketed tables (by src / by dst, written once),
    * and each half-round is one bucket-to-bucket join + one sum agg
    * whose exchange doubles as the next score table's bucket layout —
    * 1 Exchange per half-round (asserted in GraphSpec), the edge tables
    * never re-shuffle. Round-1 authority (= in-degree) is a
    * bucket-aligned agg with zero Exchange. Bit-identical to [[hits]]
    * (same unnormalized integer fixed point; parity-tested). */
  def hitsCoBucketed(edges: DataFrame, iterations: Int): DataFrame = {
    require(iterations >= 1, "HITS needs at least one round")
    WorkTables.run("hits", longEdges(edges)) { wt =>
      def authTbl(i: Int) = s"auth_$i"
      def hubTbl(i: Int) = s"hub_$i"
      def half(edgesTbl: String, scoreTbl: String, joinKey: String,
          aggKey: String, scoreCol: String, outCol: String): DataFrame =
        hitsCoBucketedHalfRound(wt.spark, wt.name(edgesTbl),
          wt.name(scoreTbl), joinKey, aggKey, scoreCol, outCol)
      wt.write(wt.table("edges"), "edst", "dst")
      val (_, it) = iterate((), 0L, iterations, Stop.Never) { (_, it) =>
        wt.write(
          if (it == 1) // authority = in-degree, a bucket-aligned agg
            wt.table("edst").groupBy(col("dst").as("id"))
              .agg(count(lit(1)).as("auth"))
          else half("edges", hubTbl(it - 1), "src", "dst", "hub", "auth"),
          authTbl(it), "id")
        wt.write(half("edst", authTbl(it), "dst", "src", "auth", "hub"),
          hubTbl(it), "id")
        ((), 0L)
      }
      wt.table("edges").select(col("src").as("id"))
        .unionByName(wt.table("edst").select(col("dst").as("id"))).distinct()
        .join(wt.table(hubTbl(it)), Seq("id"), "left")
        .join(wt.table(authTbl(it)), Seq("id"), "left")
        .select(col("id"),
          coalesce(col("hub"), lit(0L)).as("hub"),
          coalesce(col("auth"), lit(0L)).as("auth"))
    }
  }

  /** One co-bucketed hash-min + pointer-jump CC round (exposed for plan
    * inspection): neighbor-min is a bucket join [0 Exchange] + one
    * node-sized agg on dst [Exchange 1, = the next label table's bucket
    * layout]; the candidate merge is bucket-aligned on id [0]; the
    * pointer jump joins candidate labels against the label table on
    * LABEL = id — the bucketed side stays in place, the candidate side
    * re-clusters [Exchange 2]. The `__changed` flag rides along for the
    * caller's convergence check. Edge rows never move. */
  def ccCoBucketedRound(spark: SparkSession, edgesTable: String,
      labelsTable: String): DataFrame =
    ccRound(spark.table(edgesTable), spark.table(labelsTable))

  /** One hash-min + pointer-jump connected-components round over
    * (src, dst) `edges` and (id, label) `labels`, shared by
    * [[ccCoBucketedRound]] and the distributed loop of
    * `Dedup.duplicateClusters`: each node takes the min label among
    * itself and its neighbors, then the label of that label (the pointer
    * jump halves label chains, so the loop converges in O(log diameter)
    * rounds). Emits (id, label, __changed). */
  private[graft] def ccRound(edges: DataFrame, labelsIn: DataFrame)
      : DataFrame = {
    val labels = labelsIn.select("id", "label")
    val neighborMin = edges
      .join(labels.select(col("id").as("src"), col("label")), Seq("src"))
      .groupBy(col("dst").as("id")).agg(min(col("label")).as("nlabel"))
    val cand = labels.join(neighborMin, Seq("id"), "left")
      .select(col("id"), col("label").as("__old"),
        least(col("label"), coalesce(col("nlabel"), col("label"))).as("label"))
    val parent = labels.select(col("id").as("__pid"), col("label").as("__plabel"))
    cand.join(parent, cand("label") === parent("__pid"), "left")
      .select(cand("id"),
        least(cand("label"), coalesce(col("__plabel"), cand("label"))).as("label"),
        (least(cand("label"), coalesce(col("__plabel"), cand("label"))) <
          col("__old")).as("__changed"))
  }

  /** The convergence count of a [[ccRound]] loop: rows whose label
    * changed this round. */
  private[graft] def ccChangedRows: org.apache.spark.sql.Column =
    sum(when(col("__changed"), 1L).otherwise(0L))

  /** Big-graph connected components — the bucketed-table regime of the
    * hash-min/pointer-jump loop in `Dedup.duplicateClusters` (the dedup
    * clustering backbone): edges bucketed by src once, the label table
    * rewritten bucketed by id per round. Per-round Exchange count: 2,
    * BOTH node-sized (the neighbor-min agg and the pointer-jump
    * re-cluster) — the edge table never re-shuffles, where the plain
    * distributed loop re-shuffles the edge rows every round
    * (plan-asserted in GraphSpec). Same integer hash-min math ⇒
    * bit-identical labels (parity-tested). O(log diameter) rounds via
    * the pointer jump.
    *
    * @param edges symmetric directed pairs (u→v AND v→u), like the
    *              doubled edge set duplicateClusters builds
    * @return (id, label) for every node appearing as a src; label is the
    *         component's minimum id */
  def connectedComponentsCoBucketed(edges: DataFrame,
      maxIterations: Int = 20): DataFrame =
    WorkTables.run("cc", longEdges(edges)) { wt =>
      def lblTbl(i: Int) = s"labels_$i"
      wt.write(wt.table("edges").select(col("src").as("id")).distinct()
        .withColumn("label", col("id")), lblTbl(0), "id")
      // changed-row count observed in the bucketed write itself — the
      // old convergence check re-read the whole label table
      val (_, it) = iterate((), -1L, maxIterations, Stop.Empty) { (_, it) =>
        ((), wt.writeObserving(ccCoBucketedRound(wt.spark,
            wt.name("edges"), wt.name(lblTbl(it - 1))),
          lblTbl(it), "id", ccChangedRows))
      }
      wt.table(lblTbl(it)).select(col("id"), col("label"))
    }

  /** One co-bucketed BFS expansion round (exposed for plan inspection):
    * bucket join against the frontier [0 Exchange] → repartition+distinct
    * on dst [the round's 1 Exchange, numBuckets partitions so the
    * anti-join stays co-located] → first-discovery anti-join vs the
    * visited table [0 Exchange]. */
  def bfsCoBucketedRound(spark: SparkSession, edgesTable: String,
      frontierTable: String, visitedTable: String, numBuckets: Int,
      hop: Int): DataFrame =
    spark.table(edgesTable)
      .join(spark.table(frontierTable).select("src"), Seq("src"))
      .select(col("dst").as("src"))
      .repartition(numBuckets, col("src")).distinct()
      .join(spark.table(visitedTable), Seq("src"), "left_anti")
      .withColumn("dist", lit(hop.toLong))

  /** Big-graph multi-source BFS — [[bfsDistances]] above
    * `broadcastNodeLimit`, same bucketed discipline: edges bucketed by
    * src once; the frontier AND the visited set live as tables bucketed
    * by the same key, so the per-round frontier join and the
    * first-discovery anti-join are both bucket-to-bucket with zero
    * Exchange. Per-round Exchange count: 1 (the dst-distinct
    * repartition of the raw frontier expansion) — asserted in
    * GraphSpec. The visited table is rewritten per round
    * (O(reached) rows, the same cost class as the PR rank rewrite);
    * the edge table never re-shuffles. Results equal
    * [[bfsDistances]] (parity-tested). */
  def bfsDistancesCoBucketed(edges: DataFrame, seeds: DataFrame,
      maxHops: Int): DataFrame = {
    require(maxHops >= 0, "maxHops must be >= 0")
    coBucketedFrontier("bfs", longEdges(edges), seeds, maxHops)(
        (wt, frontier, visited, hop) => bfsCoBucketedRound(wt.spark,
          wt.name("edges"), frontier, visited, wt.numBuckets, hop))(
      _ unionByName _)
  }

  /** The co-bucketed delta-frontier loop of [[bfsDistancesCoBucketed]]
    * and [[ssspDistancesCoBucketed]]: seeds start at dist 0, and the
    * frontier and reached (src, dist) tables are work tables bucketed
    * by src. Each round writes the next frontier from
    * `round(wt, frontier table, reached table, round)` and the next
    * reached table as `merge(reached, frontier)`.
    *
    * @return (id, dist) for every reached node */
  private def coBucketedFrontier(kernel: String, layout: DataFrame,
      seeds: DataFrame, maxRounds: Int)
      (round: (WorkTables, String, String, Int) => DataFrame)
      (merge: (DataFrame, DataFrame) => DataFrame): DataFrame =
    WorkTables.run(kernel, layout) { wt =>
      def frontTbl(i: Int) = s"frontier_$i"
      def reachTbl(i: Int) = s"reached_$i"
      // frontier sizes observed in the bucketed writes themselves —
      // the old loop re-read each just-written frontier table to count
      val n0 = wt.writeObserving(
        seeds.select(col("id").cast("long").as("src"), lit(0L).as("dist"))
          .distinct(), frontTbl(0), "src", count(lit(1)))
      wt.write(wt.table(frontTbl(0)), reachTbl(0), "src")
      val (_, last) = iterate((), n0, maxRounds, Stop.Empty) { (_, r) =>
        val n = wt.writeObserving(round(wt, wt.name(frontTbl(r - 1)),
          wt.name(reachTbl(r - 1)), r), frontTbl(r), "src", count(lit(1)))
        wt.write(merge(wt.table(reachTbl(r - 1)), wt.table(frontTbl(r))),
          reachTbl(r), "src")
        ((), n)
      }
      wt.table(reachTbl(last)).select(col("src").as("id"), col("dist"))
    }

  /** Multi-source WEIGHTED shortest paths — bounded-round Bellman-Ford
    * with a delta frontier. After `maxRounds` rounds every returned
    * `dist` is the exact minimum path weight over paths of at most
    * `maxRounds` edges from any seed (the standard bounded-hop
    * semantics; exact all-paths SSSP when `maxRounds` >= the graph's
    * weighted-hop diameter). Weights may be any Long — with negative
    * weights the ≤k-edge minimum is still exact because no path longer
    * than `maxRounds` edges is ever considered.
    *
    * Unlike BFS a node can be RE-improved in a later round, so there is
    * no first-discovery anti-join: each round relaxes only from the
    * frontier (nodes whose best distance improved last round — the
    * delta-stepping observation that an improvement at hop k must pass
    * through an improvement at hop k-1), compares candidates against
    * the best table, and rewrites best as union+min. Per-round cost:
    * one edges⋈frontier join (broadcast when the node state fits the
    * resolved limit), one (dst, min) agg, one frontier-vs-best join,
    * one O(reached) best rewrite — the same cost class as the PR rank
    * rewrite. Routing follows the [[GraphTuning.RegimeDecision]]
    * contract with an EDGE threshold on top: non-fitting state leaves
    * for [[ssspDistancesCoBucketed]] only when the edge count also
    * clears `coBucketEdgeThreshold` — the measured grid
    * (graft.Crossover sssp, honest shuffle_nobc arms, warm interleaved
    * min-of-2) has the co-bucketed loop LOSING at 36M edges / 5.0M
    * nodes (20.0 s vs 11.9 s shuffle) and winning 2.4× at 72M / 10.0M
    * (16.7 s vs 40.1 s); the 50M default sits between. Unlike BFS
    * (which wins co-bucketed already at 36M) SSSP pays two bucketed
    * writes per round (frontier + full-outer best rewrite), so its
    * layout overhead needs more edge mass to amortize.
    * Fitting-but-cost-vetoed stays on plain shuffle joins here.
    *
    * @param edges (src, dst, w), all LongType-castable; parallel edges
    *              fold into their min weight naturally (the min agg)
    * @param seeds one `id` column; absent nodes are unreached within
    *              `maxRounds` and are not returned
    * @return (id, dist): exact ≤`maxRounds`-edge shortest distance */
  def ssspDistances(edges: DataFrame, seeds: DataFrame, maxRounds: Int,
      broadcastNodeLimit: Long = GraphTuning.Auto,
      coBucketAboveBroadcast: Boolean = true,
      coBucketEdgeThreshold: Long = 50000000L): DataFrame = {
    require(maxRounds >= 0, "maxRounds must be >= 0")
    val d = GraphTuning.resolveRegime("ssspDistances", edges,
      broadcastNodeLimit)(hll(edges, "dst"))
    // the plan bound (the decision's edge estimate) can prove the edge
    // count BELOW the threshold for free; otherwise one exact count (the
    // non-fitting case is a big graph — the same stats-job class as the
    // PR route)
    if (!d.fits && coBucketAboveBroadcast &&
        (d.edgeEstimate < 0 || d.edgeEstimate >= coBucketEdgeThreshold) &&
        edges.count() >= coBucketEdgeThreshold)
      return ssspDistancesCoBucketed(edges, seeds, maxRounds)
    minLabelFrontier(edges, "w", seeds, 0L, "dist", maxRounds, d)(
      _.select(col("dst"), (col("f") + col("w")).as("v")))
  }

  /** Time-respecting earliest-arrival reachability: over temporal edges
    * (src, dst, t), a path is valid only if its edge times STRICTLY
    * increase, and each reached node gets the minimum arrival time over
    * valid paths of at most `maxRounds` edges from any seed — the
    * "taint/exposure propagation" query class (who could information or
    * funds have reached, and when) that plain BFS gets wrong because it
    * happily walks backwards in time. (Reference analog: transaction
    * tracing over the TigerGraph projection,
    * dataengineering/tigergraph/v1/queries.py.)
    *
    * Same delta-frontier Bellman-Ford shape as [[ssspDistances]] — a
    * node can RE-improve in a later round, and an improved (earlier)
    * arrival can newly open edges whose t lies between the old and new
    * arrival, so relaxation must re-run from every improved node: the
    * frontier is exactly those. Per-round cost: one edges⋈frontier join
    * (broadcast when the node state fits the resolved limit) with the
    * `t > arrival` relaxation filter map-side, one (dst, min t) agg, one
    * frontier-vs-best compare, one zero-shuffle best REPLACE rewrite.
    *
    * @param edges (src, dst, t); parallel edges fold via the min agg
    * @param seeds one `id` column; seeds get arrival -1 (before every
    *              edge time — times must be >= 0)
    * @return (id, arr): minimum arrival time over time-respecting paths
    *         of ≤ `maxRounds` edges; seeds carry arr = -1 */
  def temporalEarliestArrival(edges: DataFrame, seeds: DataFrame,
      maxRounds: Int,
      broadcastNodeLimit: Long = GraphTuning.Auto): DataFrame = {
    require(maxRounds >= 0, "maxRounds must be >= 0")
    val d = GraphTuning.resolveRegime("temporalEarliestArrival", edges,
      broadcastNodeLimit)(hll(edges, "dst"))
    minLabelFrontier(edges, "t", seeds, -1L, "arr", maxRounds, d)(
      _.filter(col("t") > col("f")).select(col("dst"), col("t").as("v")))
  }

  /** The delta-frontier min-label loop of [[ssspDistances]] and
    * [[temporalEarliestArrival]] in the broadcast and shuffle regimes.
    * Seeds start at `seedValue` in column `out`. Each round joins the
    * frontier (value as `f`) to the dst-partitioned cached edge table
    * (src, dst, `edgeCol`), `relax` turns the joined rows into (dst, v)
    * candidates, and the min candidate per node that beats the node's
    * best value joins the next frontier.
    *
    * @return (id, `out`): the best value of every reached node */
  private def minLabelFrontier(edges: DataFrame, edgeCol: String,
      seeds: DataFrame, seedValue: Long, out: String, maxRounds: Int,
      d: GraphTuning.RegimeDecision)
      (relax: DataFrame => DataFrame): DataFrame = {
    // frontier counts observed in the checkpoint jobs (round-15
    // fusion) — the old loop paid TWO isEmpty jobs per round (the
    // while guard plus the best-rewrite guard)
    val (seed0, nSeed) = GraphTuning.checkpointWithCount(
      seeds.select(col("id").cast("long"), lit(seedValue).as(out)).distinct())
    val ew = longEdges(edges, edgeCol).repartition(col("dst")).cache()
    val ((best, _), _) = iterate((seed0, seed0), nSeed, maxRounds,
        Stop.Empty, ew) { case ((best, frontier), _) =>
      val cand = relax(ew.join(d.maybeBroadcast(frontier.select(
          col("id").as("src"), col(out).as("f"))), Seq("src")))
        .groupBy(col("dst").as("id")).agg(min(col("v")).as("cand"))
      val (next, n) = GraphTuning.checkpointWithCount(cand
        .join(d.maybeBroadcast(best.withColumnRenamed(out, "old")),
          Seq("id"), "left")
        .filter(col("old").isNull || col("cand") < col("old"))
        .select(col("id"), col("cand").as(out)))
      // best rewrite as REPLACE (anti-join old rows out, union the
      // strictly-better frontier in) rather than union+groupBy-min: in
      // the broadcast regime the anti side broadcasts, so the rewrite
      // costs ZERO shuffle of the reached set (the groupBy spelling
      // shuffles best+frontier every round). Equivalent by
      // construction — frontier rows are strictly smaller. Measured
      // parity at sf0.1 (3.12 s vs 3.23 s min-of-5, inside the 0.6 s
      // spread — the checkpoint write dominates at this size); kept
      // for the structural zero-shuffle edge when `best` is large.
      val rewritten =
        if (n == 0) best
        else best
          .join(d.maybeBroadcast(next.select("id")), Seq("id"), "left_anti")
          .unionByName(next)
          .localCheckpoint(true)
      ((rewritten, next), n)
    }
    best
  }

  /** One co-bucketed SSSP relaxation round (exposed for plan
    * inspection): the edges⋈frontier join is bucket-to-bucket
    * [0 Exchange]; the round's 1 Exchange is the repartition onto the
    * candidate key, after which the min-agg is exchange-free and the
    * improvement join against the best table is co-located. */
  def ssspCoBucketedRound(spark: SparkSession, edgesTable: String,
      frontierTable: String, bestTable: String, numBuckets: Int): DataFrame =
    spark.table(edgesTable)
      .join(spark.table(frontierTable).withColumnRenamed("dist", "fd"),
        Seq("src"))
      .select(col("dst").as("src"), (col("fd") + col("w")).as("cand"))
      .repartition(numBuckets, col("src"))
      .groupBy("src").agg(min(col("cand")).as("cand"))
      .join(spark.table(bestTable).withColumnRenamed("dist", "old"),
        Seq("src"), "left")
      .filter(col("old").isNull || col("cand") < col("old"))
      .select(col("src"), col("cand").as("dist"))

  /** Big-graph weighted SSSP — [[ssspDistances]] above
    * `broadcastNodeLimit`, same bucketed discipline as
    * [[bfsDistancesCoBucketed]]: edges bucketed by src once; the
    * frontier AND the best-distance tables live bucketed by the same
    * key, so the per-round relaxation join and the improvement join are
    * bucket-to-bucket, and the best rewrite is a bucket-aligned full
    * outer join [0 Exchange] where the frontier side wins (it is
    * strictly smaller by construction). Per-round Exchange count: 1
    * (the candidate repartition in [[ssspCoBucketedRound]]). The edge
    * table never re-shuffles; best is rewritten per round (O(reached)
    * rows). Results equal [[ssspDistances]] (parity-tested). */
  def ssspDistancesCoBucketed(edges: DataFrame, seeds: DataFrame,
      maxRounds: Int): DataFrame = {
    require(maxRounds >= 0, "maxRounds must be >= 0")
    coBucketedFrontier("sssp", longEdges(edges, "w"), seeds, maxRounds)(
        (wt, frontier, best, _) => ssspCoBucketedRound(wt.spark,
          wt.name("edges"), frontier, best, wt.numBuckets)) {
      // the frontier side wins: it is strictly smaller by construction
      (best, frontier) => best
        .join(frontier.withColumnRenamed("dist", "nd"), Seq("src"),
          "full_outer")
        .select(col("src"), coalesce(col("nd"), col("dist")).as("dist"))
    }
  }

  /** DETERMINISTIC random walks — the node2vec/DeepWalk corpus-prep
    * step (one walk per seed, `steps` hops) with the RNG replaced by
    * the portable md5 family: at step t the walk at node u moves to the
    * out-neighbor v minimizing (md5_32("walk:t:v"), v). That is a
    * uniform-looking but fully deterministic choice — bit-identical
    * across partitionings, reruns and engines (DuckDB replays every
    * step with the same `('0x'||substr(md5(…),1,8))::BIGINT` key), so
    * walk corpora are reproducible and the operator sits under the
    * exact oracle gate, where a seeded `rand()` would diverge between
    * engines in the first row.
    *
    * Scale shape per step: edges⋈walks join (walk state broadcast when
    * it fits the resolved limit — walk count is SEED-sized, not
    * node-sized) + one walk-keyed argmin agg (`min(struct(h, v))`,
    * partial+final with map-side combine — O(walks) shuffle rows). The
    * src-partitioned cached edge table never re-shuffles. Walks at a
    * node with no out-edge simply end (no row emitted for later steps).
    *
    * @param edges (src, dst) directed; walk symmetric graphs by passing
    *              the doubled edge set
    * @param seeds one `id` column; one walk starts per distinct seed
    * @return (walk, step, node): the full trajectory, step ∈ [0, steps],
    *         walk = the seed id */
  def deterministicWalks(edges: DataFrame, seeds: DataFrame, steps: Int,
      broadcastNodeLimit: Long = GraphTuning.Auto): DataFrame = {
    require(steps >= 0, "steps must be >= 0")
    // the seed bound only counts when it PROVES the fit — a unioned /
    // filtered seed source can over-estimate by orders of magnitude,
    // and mis-demoting a tiny walk set costs a shuffle join per step
    // (the BFS discipline: bound-or-stats-job, never bound-or-guess)
    val d = GraphTuning.resolveRegime("deterministicWalks", edges,
        broadcastNodeLimit, stateRows = Some(seeds)) {
      (seeds.select(col("id")).distinct().count(), "exact")
    }
    // walk-state counts observed in the checkpoint jobs (round-15
    // fusion) — the old per-step isEmpty was one extra job per step
    val (seed0, nSeed) = GraphTuning.checkpointWithCount(
      seeds.select(col("id").cast("long").as("walk")).distinct())
    val ew = longEdges(edges).repartition(col("src")).cache()
    val start = seed0.withColumn("node", col("walk"))
    // State: the walks' current nodes, and every step so far, newest first.
    val ((_, out), _) = iterate((start, List(start.withColumn("step", lit(0L)))),
        nSeed, steps, Stop.Empty, ew) { case ((cur, out), t) =>
      // the portable per-step key: md5_32("walk:t:candidate") — the
      // exact string the oracle rebuilds (Corpus.md5Uniform contract)
      val h = conv(substring(md5(concat(col("walk").cast("string"),
        lit(s":$t:"), col("dst").cast("string")).cast("binary")), 1, 8),
        16, 10).cast("bigint")
      val (next, n) = GraphTuning.checkpointWithCount(ew
        .join(d.maybeBroadcast(cur.select(col("node").as("src"), col("walk"))),
          Seq("src"))
        .select(col("walk"), col("dst"), h.as("h"))
        .groupBy("walk").agg(min(struct(col("h"), col("dst"))).as("m"))
        .select(col("walk"), col("m.dst").as("node")))
      ((next, next.withColumn("step", lit(t.toLong)) :: out), n)
    }
    out.reduce(_ unionByName _).select("walk", "step", "node")
  }

  /** [[walkCooccurrence]]'s association score over columns
    * (c_ab, t, ca, cb, p): `c_ab·T²·10⁶ div (c_a·c_b·P)` with BOTH
    * products in DECIMAL(38,0) (the q227/q229 discipline) — the long
    * spelling wraps SILENTLY once c_ab·T²·10⁶ passes 2⁶³ (at T = 3·10⁶
    * any c_ab ≥ 2 already does — VERDICT r14 #2) while DuckDB would
    * raise, an unguarded cross-engine divergence. Decimal keeps the
    * products exact through ~10³⁸; `div` floors back to BIGINT
    * identically in both engines, and values are unchanged wherever
    * the long math didn't wrap (GraphSpec lift-overflow test). */
  private[graft] def liftPpm: org.apache.spark.sql.Column =
    expr("(cast(c_ab as decimal(38,0)) * t * t * 1000000) div " +
      "(cast(ca as decimal(38,0)) * cb * p)")

  /** Skip-gram co-occurrence statistics over [[deterministicWalks]] —
    * the corpus-prep step BETWEEN walking and training graph features
    * (DeepWalk/node2vec turn walks into (center, context) pairs; the
    * GloVe/PPMI family trains on exactly these association counts):
    * for every walk position, its nodes within `window` later steps
    * form an unordered pair (self-pairs from immediate backtracks
    * dropped), and each surviving pair carries its count and an
    * integer association score
    *
    *   lift_ppm = c_ab · T² · 10⁶ div (c_a · c_b · P)
    *
    * — the PMI ratio BEFORE the log (rank-equivalent, and exact in
    * 64-bit integers where a float log diverges between engines).
    * T = walk positions, P = total pairs, c_x = node occurrence counts.
    *
    * Scale shape: pairs come from ONE window pass over the walk table
    * (an array of `lead` offsets sharing the walk partitioning — no
    * self-join, no per-offset scan); the walk table and the pair-count
    * table each materialize once and feed their scalar totals via
    * broadcast one-row frames (shared-branch rule, no driver collect);
    * the only shuffles are the walk-keyed window and the two count
    * aggs. Association math runs in DECIMAL(38,0) (numerator
    * c_ab·T²·10⁶ ≤ T³·10⁶ stays exact through T ≈ 10¹⁰ positions; the
    * old long spelling wrapped silently at T ≈ 3·10⁶ for any
    * c_ab ≥ 2), floored back to BIGINT by `div` — identical in DuckDB.
    *
    * @return (na, nb, c_ab, lift_ppm), na < nb, c_ab >= minCount */
  def walkCooccurrence(edges: DataFrame, seeds: DataFrame, steps: Int,
      window: Int, minCount: Long = 2L,
      broadcastNodeLimit: Long = GraphTuning.Auto): DataFrame = {
    require(window >= 1, s"need window >= 1 (got $window)")
    val w = deterministicWalks(edges, seeds, steps, broadcastNodeLimit)
      .localCheckpoint(true) // feeds pairs + occurrence counts + T
    val wk = org.apache.spark.sql.expressions.Window
      .partitionBy("walk").orderBy("step")
    val ctx = array((1 to window).map(o =>
      lead(col("node"), o).over(wk)): _*)
    // window exprs evaluate in their own projection; the generator
    // explodes the materialized array in the next one
    val pairs = w.select(col("node").as("u"), ctx.as("ctx"))
      .select(col("u"), explode(col("ctx")).as("v"))
      .filter(col("v").isNotNull && col("u") =!= col("v"))
      .select(least(col("u"), col("v")).as("na"),
        greatest(col("u"), col("v")).as("nb"))
    val pc = pairs.groupBy("na", "nb").agg(count(lit(1)).as("c_ab"))
      .localCheckpoint(true) // feeds the result + the P total
    val occ = w.groupBy("node").agg(count(lit(1)).as("c"))
    val tot = w.agg(count(lit(1)).as("t"))
    val ptot = pc.agg(sum(col("c_ab")).as("p"))
    pc.filter(col("c_ab") >= minCount)
      .join(occ.select(col("node").as("na"), col("c").as("ca")), Seq("na"))
      .join(occ.select(col("node").as("nb"), col("c").as("cb")), Seq("nb"))
      .crossJoin(broadcast(tot)).crossJoin(broadcast(ptot))
      .select(col("na"), col("nb"), col("c_ab"), liftPpm.as("lift_ppm"))
  }

  /** Per-item butterfly counts — the bipartite clustering signal
    * (bipartite graphs have no triangles; the 4-cycle "butterfly" is
    * their cohesion primitive): for item u,
    * `bf(u) = Σ_v C(w(u,v), 2)` where `w(u,v)` = groups shared by items
    * u and v. High butterfly mass = densely co-purchased / co-clicked
    * neighborhoods.
    *
    * Scale shape: rides [[coOccurrenceEdges]] (one fact shuffle,
    * hub-capped groups so the pair explosion is bounded map-side at
    * cap²/2), then one (a, b) pair agg and one item-sized node agg.
    * `w·(w−1)` is always even, so the halving stays exact.
    *
    * @return (id, butterflies) over the item side */
  def butterflyCounts(facts: DataFrame, groupCol: String, itemCol: String,
      maxGroupSize: Int = 8): DataFrame = {
    val pw = coOccurrenceEdges(facts, groupCol, itemCol, maxGroupSize)
      .groupBy("src", "dst").agg(count(lit(1)).as("w"))
    pw.select(explode(array(col("src"), col("dst"))).as("id"),
        expr("(w * (w - 1)) div 2").as("bf"))
      .groupBy("id").agg(sum("bf").as("butterflies"))
  }

  /** Co-occurrence edge generation straight from a (group, item) fact
    * stream — "wallets sharing a transaction", "parts sharing an order".
    * ONE groupBy shuffle collects each group's distinct items via
    * [[graft.expressions.CollectLongsDistinctCapped]] (so duplicated
    * fact rows need no pre-distinct pass and a hub group's buffer is
    * bounded at cap+1 longs); groups exceeding `maxGroupSize` distinct
    * items are dropped — the standard guard against the quadratic pair
    * explosion a mega-group would cause. Pairs then explode MAP-side
    * (≤ cap²/2 per group). Output is canonical (src < dst) but may
    * repeat a pair across groups — compose with [[triangleCounts]]
    * (which dedups) or add `.distinct()` when uniqueness matters. */
  def coOccurrenceEdges(df: DataFrame, groupCol: String, itemCol: String,
      maxGroupSize: Int): DataFrame =
    df.groupBy(col(groupCol))
      .agg(graft.expressions.CollectCapped.collectLongsDistinctCapped(
        col(itemCol).cast("long"), maxGroupSize).as("items"))
      .filter(size(col("items")) <= maxGroupSize)
      .select(explode(expr(
        "filter(flatten(transform(items, x -> transform(items, " +
          "y -> named_struct('src', x, 'dst', y)))), s -> s.src < s.dst)"))
        .as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))

  /** Personalized PageRank: damped propagation where teleport mass
    * returns to a SEED set instead of all nodes — "importance relative
    * to these accounts / this topic", the standard neighborhood-ranking
    * and fraud-propagation primitive.
    *
    * The scale property global PageRank can't offer: the rank table is
    * FRONTIER-sized. r0 is |seeds| rows and each round only reaches
    * nodes within i hops of a seed, so on a 100 TB graph with a handful
    * of seeds the per-round state stays tiny while the edge table —
    * degree attached in the same materializing pass, repartitioned by
    * dst once — never re-shuffles (broadcast regime) and its
    * contribution aggregation is exchange-free on the dst partitioning.
    * The damp-after-sum order matches the oracle's integer arithmetic
    * bit-for-bit: `(d * Σ(rank div deg)) div scale`, then + base at
    * seeds, all in fixed-point longs.
    *
    * @param seeds one column `id`; deduplicated here
    * @return (id, rank) for nodes reachable within `iterations` hops of
    *         a seed (unreached nodes are implicitly rank 0) */
  def personalizedPageRank(edges: DataFrame, seeds: DataFrame,
      iterations: Int, scale: Long = 1000000L, dampingScaled: Long = 850000L,
      broadcastRankLimit: Long = GraphTuning.Auto): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // The rank table here is FRONTIER-sized and grows per round, so the
    // broadcast decision is re-taken each round against the resolved
    // limit (the per-round count is loop bookkeeping, not an extra
    // stats pass — the frontier is checkpointed and tiny by contract).
    val (rankLimit, _) =
      GraphTuning.resolveNodeLimit(edges.sparkSession, broadcastRankLimit)
    val sd = seeds.select(col("id").cast("long")).distinct()
      .localCheckpoint(true)
    val base = scale - dampingScaled
    // per-round count OBSERVED in the checkpoint job (the round-15
    // loop-action fusion, GraphTuning.checkpointWithCount) — the old
    // separate ranks.count() was one extra job per round
    val start = GraphTuning.checkpointWithCount(
      sd.withColumn("rank", lit(scale)))
    val ew = longEdges(edges)
      .withColumn("deg", count(lit(1)).over(Window.partitionBy("src")))
      .repartition(col("dst")).cache()
    val ((ranks, _), _) = iterate(start, start._2, iterations, Stop.Never,
        ew) { case ((ranks, nRanks), _) =>
      val r = if (nRanks <= rankLimit) broadcast(ranks) else ranks
      val contrib = ew
        .join(r.withColumnRenamed("id", "src"), Seq("src"))
        .select(col("dst").as("id"), expr("rank div deg").as("c"))
        .groupBy("id").agg(sum(col("c")).as("s"))
      val next = GraphTuning.checkpointWithCount(
        sd.withColumn("r", lit(base))
          .unionByName(contrib.select(col("id"),
            expr(s"($dampingScaled * s) div $scale").as("r")))
          .groupBy("id").agg(sum(col("r")).as("rank")))
      (next, next._2)
    }
    ranks
  }

  /** k-core decomposition by iterative peeling: drop every node whose
    * degree is below `k`, recompute degrees on the surviving subgraph,
    * repeat until fixpoint (or `maxRounds`). Returns the surviving nodes
    * with their core-subgraph degree — the standard spam/quality signal
    * for link graphs and the densest-region pre-filter for community
    * mining.
    *
    * Input: canonical undirected edges (src < dst); duplicates are
    * dedup'd and self-loops dropped here. Per round: ONE node-id
    * partial-agg shuffle for degrees, then two SEMI-joins of the edge
    * table against the (node-sized, broadcast below `broadcastNodeLimit`)
    * survivor set — the edge table itself never re-shuffles in broadcast
    * regime. The broadcast decision is re-taken per round against the
    * shrinking edge count, so a big graph whose core prunes quickly
    * picks up the broadcast semi-joins mid-run. localCheckpoint per round keeps the plan flat (same
    * discipline as the PageRank/LPA loops); early-exit when an edge
    * count round removes nothing is semantics-preserving for the
    * fixed-unroll oracle because post-fixpoint rounds are no-ops in any
    * engine. All-integer, so the loop is oracle-checked bit-for-bit.
    * There is no co-bucketed regime: the bucketed k-core twin lost both
    * times it was measured (27.3 s vs 13.1 s shuffle in round 6,
    * 24.84 s vs 13.97 s with the honest round-9 arms — CROSSOVER.json
    * "kCore") and was deleted. */
  def kCore(edges: DataFrame, k: Int, maxRounds: Int,
      broadcastNodeLimit: Long = GraphTuning.Auto): DataFrame = {
    // edge counts observed in the checkpoint jobs (round-15 fusion) —
    // the old per-round e.count() was a whole extra PASS over the
    // round's surviving edge set
    val start = GraphTuning.checkpointWithCount(
      longEdges(edges).filter(col("src") =!= col("dst")).distinct())
    def degrees(ed: DataFrame): DataFrame =
      ed.select(col("src").as("id"))
        .unionAll(ed.select(col("dst").as("id")))
        .groupBy("id").agg(count(lit(1)).as("deg"))
    // #nodes <= 2m, so the edge count (needed anyway for the fixpoint
    // test) bounds the keep set without a separate distinct-count
    // action. The decision is RE-TAKEN every round against the CURRENT
    // edge count: peeling shrinks the graph, so a run that starts in
    // the shuffle regime switches to broadcast semi-joins once the
    // surviving core fits (round-8 advice — a frozen pre-loop decision
    // lost that mid-run switch the old per-round closure had).
    // Cost-veto exempt (edgeEstimate left unknown): the 2m node bound
    // and the per-round shuffle volume are the SAME statistic here, so
    // the veto would compare 64m against max(24m, floor) and
    // structurally demote every graph above the floor regardless of
    // the conf limit — the conf-resolved fit test alone governs.
    val ((core, _), _) = iterate(start, start._2, maxRounds,
        Stop.Unchanged) { case ((e, m), _) =>
      val d = GraphTuning.decide(edges.sparkSession, "kCore",
        nodeEstimate = if (m > Long.MaxValue / 2) Long.MaxValue else 2 * m,
        nodeEstimateSource = "edge-count-bound",
        requestedLimit = broadcastNodeLimit)
      val keep = degrees(e).filter(col("deg") >= k).select("id")
      val next = GraphTuning.checkpointWithCount(e
        .join(d.maybeBroadcast(keep.withColumnRenamed("id", "src")),
          Seq("src"), "semi")
        .join(d.maybeBroadcast(keep.withColumnRenamed("id", "dst")),
          Seq("dst"), "semi")
        .select("src", "dst"))
      (next, next._2)
    }
    degrees(core).select(col("id"), col("deg"))
  }

  /** Synchronous label propagation (community detection): every node
    * starts labeled with its own id; each round it adopts the MODE of
    * its neighbors' labels, ties broken by the smallest label — the
    * deterministic variant of Raghavan et al.'s LPA (async LPA is
    * run-order-dependent and could never be oracle-checked). All-integer:
    * labels are ids, votes are counts, so every round is bit-identical
    * across engines and partitionings.
    *
    * Contract: symmetric edge set (u→v ⇒ v→u), like
    * `pageRankFixedPoint(symmetric = true)` — every node then has
    * in-edges, so the vote table covers the whole node set and no
    * carry-forward join is needed. Per round: one edges⋈labels join
    * (labels broadcast below `broadcastNodeLimit` — the edge table never
    * shuffles after the initial repartition), a (dst, lbl) partial-agg
    * shuffle, and a per-dst argmax via min_by on the (-count, label)
    * struct (deterministic: the ordering key contains the value).
    * localCheckpoint per round keeps the plan flat, same discipline as
    * the PageRank/CC loops.
    *
    * Above `broadcastNodeLimit` the big-graph regime IS
    * [[labelPropagationCoBucketed]] (routed here): the round-6
    * crossover grid (graft.Crossover, CROSSOVER.json; warm,
    * interleaved, min-of-2) measured the co-bucketed loop beating the
    * degraded shuffle-join rounds at every scale where broadcast is
    * off the table — 31.9 s vs 44.2 s at 64M edges, 36.7 s vs 52.6 s
    * at 128M, 96.9 s vs 169.3 s at 213M (1.4-1.7x) — so the shuffle
    * fallback survives only behind `coBucketAboveBroadcast = false`
    * (the A/B harness needs it; production callers should not). */
  def labelPropagation(edges: DataFrame, iterations: Int,
      broadcastNodeLimit: Long = GraphTuning.Auto,
      coBucketAboveBroadcast: Boolean = true): DataFrame = {
    // distinct src <= #edge rows: a plan-stats bound proving the fit
    // skips the HLL job (no pre-loop stats job for tiny graphs).
    val d = GraphTuning.resolveRegime("labelPropagation", edges,
      broadcastNodeLimit)(hll(edges, "src"))
    // Routing tests FITS (see [[hits]]): non-fitting labels leave for
    // the bucketed loop; fitting-but-cost-vetoed stays on shuffle joins.
    if (!d.fits && coBucketAboveBroadcast)
      return labelPropagationCoBucketed(edges, iterations)
    // Partition the edge table by DST, not src: the per-round join is a
    // BROADCAST of the label table (no src co-location needed), and
    // hash(dst) satisfies the clustering requirement of BOTH round aggs
    // — groupBy(dst, lbl) (subset rule) and groupBy(id=dst) (alias-aware
    // partitioning through the projections) — so a broadcast-mode round
    // plans with ZERO Exchange (asserted in GraphSpec).
    // cache, NOT localCheckpoint: the InMemoryRelation keeps the
    // hash(dst) output partitioning (a checkpoint's LogicalRDD drops it
    // — measured: both round aggs re-shuffle), which is what makes the
    // rounds exchange-free.
    val ew = longEdges(edges).repartition(col("dst")).cache()
    val (labels, _) = iterate(ew.select(col("src").as("id")).distinct()
        .withColumn("lbl", col("id")).localCheckpoint(true), 0L, iterations,
        Stop.Never, ew) { (labels, _) =>
      (ew
        .join(d.maybeBroadcast(labels.withColumnRenamed("id", "src")),
          Seq("src"))
        .groupBy(col("dst").as("id"), col("lbl"))
        .agg(count(lit(1)).as("c"))
        .groupBy("id")
        .agg(min_by(col("lbl"),
          struct((-col("c")).as("nc"), col("lbl"))).as("lbl"))
        .localCheckpoint(true), 0L)
    }
    labels.select(col("id"), col("lbl").as("label"))
  }

  /** Canonical undirected simple edges — (a, b) with a < b,
    * deduplicated, self-loops dropped — cached: the input of every
    * triangle kernel. */
  private def canonicalEdges(edges: DataFrame): DataFrame =
    edges.select(
        least(col("src"), col("dst")).cast("long").as("a"),
        greatest(col("src"), col("dst")).cast("long").as("b"))
      .filter(col("a") =!= col("b"))
      .distinct()
      .cache()

  /** Shared engine of the triangle family: runs `body` over the
    * degree-oriented triangle stream of the cached canonical edge set
    * `canon`, or returns `empty` when `canon` holds no edge. `stats` is
    * the (m, lo, hi, nUpper) row when the caller already observed it.
    * `canon` and everything the stream caches are released when `body`
    * returns or throws, so `body` materializes what it returns. */
  private def withTriangles[R](canon: DataFrame, stats: Option[Row],
      broadcastNodeLimit: Long, broadcastEdgeLimit: Long)(empty: => R)
      (body: TriangleStream => R): R =
    try {
      // ONE stats action decides every regime knob (edge count, id
      // bounds, node-count upper bound): the previous canon.count /
      // deg.count / bounds.first sequence serialized three jobs for ~1 s
      // of pure latency at sf0.1. The node estimate a+b double-counts
      // nodes seen on both sides — only ever conservative (skips
      // broadcast early, never OOMs late). canon has a < b, so
      // min(a)/max(b) bound all ids.
      val st = stats.getOrElse(canon.agg(count(lit(1)).as("m"),
        min(col("a")).as("lo"), max(col("b")).as("hi"),
        (approx_count_distinct(col("a")) + approx_count_distinct(col("b")))
          .as("nUpper")).first())
      if (st.getLong(0) == 0) empty
      else {
        val tm = orientedTriangleStream(canon, st, broadcastNodeLimit,
          broadcastEdgeLimit)
        try body(tm) finally tm.cleanup.foreach(_.unpersist(blocking = false))
      }
    } finally canon.unpersist(blocking = false)

  /** Degree orientation + triangle enumeration over a cached canonical
    * edge set, regime-routed exactly as documented on
    * [[triangleCounts]]: `tris` holds each triangle once as (u, v, w),
    * `deg` is the (id, d) degree table. Everything this caches is in
    * `cleanup`. */
  private case class TriangleStream(tris: DataFrame, deg: DataFrame,
      regime: GraphTuning.RegimeDecision, cleanup: Seq[DataFrame])

  private def orientedTriangleStream(canon: DataFrame, st: Row,
      broadcastNodeLimit: Long, broadcastEdgeLimit: Long): TriangleStream = {
    val nEdges = st.getLong(0)
    val deg = canon.select(col("a").as("id"))
      .unionByName(canon.select(col("b").as("id")))
      .groupBy("id").agg(count(lit(1)).as("d"))
      .cache()
    val d = GraphTuning.decide(canon.sparkSession, "triangleCounts",
      nodeEstimate = st.getLong(3), nodeEstimateSource = "hll-sum",
      edgeEstimate = nEdges, requestedLimit = broadcastNodeLimit)
    // When ids fit in 31 bits, the wedge-volume closure probe joins on
    // ONE packed long instead of a (long, long) pair — Spark builds a
    // LongHashedRelation (dense long-keyed map) instead of hashing
    // UnsafeRow keys, and every one of the O(m^1.5) probes gets cheaper.
    val packable = st.getLong(1) >= 0L && st.getLong(2) < (1L << 31)
    // Orient a—b (a<b canonical) from the (deg, id)-smaller endpoint;
    // the id tie-break makes orientation total and deterministic.
    val aFirst = col("da") < col("db") ||
      (col("da") === col("db") && col("a") < col("b"))
    val orientedBase = canon
      .join(d.maybeBroadcast(deg.select(col("id").as("a"), col("d").as("da"))),
        Seq("a"))
      .join(d.maybeBroadcast(deg.select(col("id").as("b"), col("d").as("db"))),
        Seq("b"))
      .select(when(aFirst, col("a")).otherwise(col("b")).as("u"),
        when(aFirst, col("b")).otherwise(col("a")).as("v"))
    // Broadcast regime — sorted-adjacency INTERSECTION, not wedge
    // enumeration: each triangle (u→v, u→w, v→w in the orientation DAG)
    // is exactly a w ∈ N⁺(u) ∩ N⁺(v) for the oriented edge (u, v), so
    // emitting `intersectSorted(adj[u], adj[v])` per EDGE finds each
    // triangle once without ever materializing the O(m^1.5) wedge
    // stream. Work is Σ_(u,v)∈E (od(u)+od(v)) merge steps inside one
    // codegen stage over m rows — at sf0.1 that is ~150M long compares
    // vs 32.4M wedge rows through join machinery (measured 3.7 s →
    // 2.4 s end-to-end q111). One extra narrow shuffle builds the
    // (u, sorted nbrs) adjacency (node-sized, ≈ m longs total, ~8 MB at
    // sf0.1), broadcast to both join legs; nodes without out-edges are
    // absent from adj and the inner join correctly drops their edges
    // (no w can close them).
    //
    // Above the limit: wedge enumeration by shuffle self-join — the
    // genuinely-huge-graph regime, where per-node adjacency arrays
    // could not broadcast anyway.
    val (oriented, tris) =
      if (nEdges <= broadcastEdgeLimit) {
        // cached: BOTH broadcast legs build from adj (their plans differ
        // by a projection, so ReuseExchange cannot merge them) — without
        // the cache the node-sized adjacency agg would run twice
        val adj = orientedBase.groupBy(col("u"))
          .agg(sort_array(collect_list(col("v"))).as("nbrs"))
          .cache()
        val t = orientedBase
          .join(broadcast(adj), Seq("u"))
          .join(broadcast(adj.select(col("u").as("v"),
            col("nbrs").as("nbrs_v"))), Seq("v"))
          .select(col("u"), col("v"),
            explode(graft.expressions.SortedArrays.intersectSorted(
              col("nbrs"), col("nbrs_v"))).as("w"))
        (Some(adj), t)
      } else {
        val o = orientedBase.repartition(col("u")).cache()
        val wedges = o.join(o.withColumnRenamed("v", "w"), Seq("u"))
          .filter(col("v") < col("w"))
        // Shuffle-closure regime: almost no wedge closes (1.45M
        // triangles out of 32M wedges at sf0.1), yet every wedge would
        // ride the closure exchange. A Bloom filter over the canonical
        // edge set (Spark's own runtime-filter machinery:
        // BloomFilterAggregate built distributed, the ~8-bits/edge
        // sketch embedded as a literal and probed by codegen'd
        // xxhash64) drops non-closing wedges MAP-side, so the exchange
        // carries survivors + false positives instead of the full
        // wedge volume. The exact join after it makes false positives
        // harmless — results are identical, partitioning-independent.
        // Measured 60 s → 23 s at 10.6M edges / 324M wedges.
        import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
        import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
        import org.apache.spark.sql.graft.Bridge
        val numBits = math.min(8L * nEdges, 1L << 28)
        val bf = Bridge.column(new BloomFilterAggregate(
          Bridge.expression(xxhash64(col("a"), col("b"))),
          Literal(nEdges), Literal(numBits)).toAggregateExpression())
        val bytes = canon.select(bf.as("bf")).head().getAs[Array[Byte]](0)
        val pruned = wedges.filter(Bridge.column(new BloomFilterMightContain(
          Literal(bytes, org.apache.spark.sql.types.BinaryType),
          Bridge.expression(xxhash64(col("v"), col("w"))))))
        // When ids fit in 31 bits the closure joins on ONE packed long
        // (LongHashedRelation) instead of a (long, long) UnsafeRow key.
        val t =
          if (packable) pruned.join(
            canon.select((shiftleft(col("a"), 32) + col("b")).as("__k")),
            shiftleft(col("v"), 32) + col("w") === col("__k"))
            .select("u", "v", "w")
          else pruned
            .join(canon, col("v") === col("a") && col("w") === col("b"))
            .select("u", "v", "w")
        (Some(o), t)
      }
    TriangleStream(tris, deg, d, oriented.toSeq :+ deg)
  }

  /** Exact per-node triangle counts via degree orientation (the MPC/
    * MapReduce-standard algorithm: Suri & Vassilvitskii "Counting
    * Triangles and the Curse of the Last Reducer", WWW'11). Each
    * undirected edge is oriented from its (degree, id)-smaller endpoint,
    * which bounds every node's OUT-degree by O(√m) regardless of how
    * skewed the raw degree distribution is — the hub that would
    * otherwise emit deg² wedges emits none, because all its edges point
    * INTO it. Total wedge volume is O(m^1.5) worst-case, the provable
    * optimum for exact counting, and each triangle is generated exactly
    * once (at its unique (deg,id)-minimal apex).
    *
    * Shuffle shape: canonical dedup (1), degree partial-agg (1), two
    * degree-attach joins (node-sized build — broadcast below
    * `broadcastNodeLimit`). Then, below `broadcastEdgeLimit`: a
    * node-sized adjacency agg (1 narrow shuffle) and per-edge sorted
    * intersection — no wedge ever materializes. Above it: wedge
    * self-join on the apex (one Exchange, reused for both sides via
    * repartition+cache), Bloom-pruned closure join against the canonical
    * edge set on the (v, w) pair. Only (long, long) pairs ever shuffle —
    * no payload columns.
    *
    * `broadcastEdgeLimit` (the adjacency-intersection vs wedge+Bloom
    * switch for the whole triangle family) was raised 8M → 32M in
    * round 10 from a measured grid (graft.Crossover `tri` family,
    * honest AQE-disabled arms, CROSSOVER.json
    * `triangle_family_broadcastEdgeLimit`): adjacency-intersection won
    * 1.8× at 8.5M canonical edges (10.91 s vs 19.82), 3.2× at 16M
    * (9.83 vs 31.04) and 2.3× at 32M (42.23 vs 95.75) — the wedge
    * regime never wins inside the measured range. The true ceiling is
    * EXECUTOR MEMORY, not time: the broadcast adjacency costs
    * ~8 B/edge per executor copy (32M edges ≈ 256 MB), so
    * memory-tight clusters should lower the limit; the wedge+Bloom
    * regime remains the only option once the adjacency cannot fit.
    *
    * The counts are the `triangles` column of [[clusteringCoefficient]],
    * which runs this enumeration and carries degree alongside.
    *
    * @param edges undirected edges as (src, dst) in either/both
    *              directions; duplicates and self-loops are dropped
    * @return (id, triangles) for EVERY node of the graph, zero included */
  def triangleCounts(edges: DataFrame,
      broadcastNodeLimit: Long = GraphTuning.Auto,
      broadcastEdgeLimit: Long = 32000000L): DataFrame =
    clusteringCoefficient(edges, broadcastNodeLimit, broadcastEdgeLimit)
      .select("id", "triangles")

  /** Local clustering coefficient per node, in exact integer ppm:
    * `1e6 · 2·tri(v) / (deg(v)·(deg(v)−1))` over the canonical
    * undirected simple graph (deg < 2 nodes get 0) — how close each
    * node's neighborhood is to a clique, the standard community-ness
    * node feature next to [[triangleCounts]].
    *
    * Scale shape: [[triangleCounts]]'s oriented O(m^1.5) enumeration
    * does all the heavy lifting; degrees are one map-side endpoint
    * explode + node-sized agg on the SAME canonical edge cache, and the
    * final join is node-sized. Integer floor division keeps the output
    * bit-reproducible cross-engine.
    *
    * @return (id, degree, triangles, cc_ppm) for every node */
  def clusteringCoefficient(edges: DataFrame,
      broadcastNodeLimit: Long = GraphTuning.Auto,
      broadcastEdgeLimit: Long = 32000000L): DataFrame = {
    // Canonicalize ONCE and run the oriented triangle stream directly
    // over the cached canonical set (round-16): the old composition
    // handed triangleCounts a projection of `canon`, paying a SECOND
    // canonical `distinct` — a full edge-set Exchange — inside it, and
    // then re-aggregated a degree table the stream had already built
    // and cached (tm.deg IS degree: both endpoints of every canonical
    // edge, counted). Same kernel, two fewer edge passes, one fewer
    // exchange — plans/r16/{before,after}/q170_clustering_coeff.txt.
    val canon = canonicalEdges(edges)
    withTriangles(canon, None, broadcastNodeLimit, broadcastEdgeLimit)(
      canon.select(col("a").as("id"), col("b").as("degree"),
        lit(0L).as("triangles"), lit(0L).as("cc_ppm"))) { tm =>
      val counts = tm.tris
        .select(explode(array(col("u"), col("v"), col("w"))).as("id"))
        .groupBy("id").agg(count(lit(1)).as("triangles"))
      tm.deg.select(col("id"), col("d").as("degree"))
        .join(tm.regime.maybeBroadcast(counts), Seq("id"), "left")
        .select(col("id"), col("degree"),
          coalesce(col("triangles"), lit(0L)).as("triangles"),
          when(col("degree") >= 2,
            expr("(2000000 * coalesce(triangles, 0)) div (degree * (degree - 1))"))
            .otherwise(lit(0L)).as("cc_ppm"))
        .localCheckpoint(true)
    }
  }

  /** Per-edge triangle support — the k-truss kernel: an edge survives
    * a k-truss iff its support (triangles containing it) stays
    * ≥ k − 2 under peeling; this one-pass support table is both the
    * peel's unit of work and, on its own, the standard edge-strength /
    * community-backbone signal. Reuses [[triangleCounts]]'s oriented
    * enumeration verbatim (each triangle found exactly once at its
    * (deg,id)-minimal apex), then fans each triangle out to its three
    * CANONICAL edges map-side and partial-aggregates on (a, b) — edge
    * output is edge-sized, triangle volume never shuffles un-reduced.
    *
    * @return (a, b, support) for EVERY canonical edge, zero included */
  def edgeSupport(edges: DataFrame,
      broadcastNodeLimit: Long = GraphTuning.Auto,
      broadcastEdgeLimit: Long = 32000000L): DataFrame =
    edgeSupportCanon(canonicalEdges(edges), broadcastNodeLimit,
      broadcastEdgeLimit)

  /** [[edgeSupport]] over an ALREADY-canonical edge set: `canon` must
    * hold (a, b) with a < b, de-duplicated, and be cheap to re-scan
    * (cached or checkpointed — it feeds the stats agg, the triangle
    * stream and the zero-fill union). [[trussPeel]] rounds ≥ 2 feed
    * their checkpointed survivor set here directly: the survivor set
    * is canonical by construction, so the re-canonicalize `distinct`
    * the public entry would pay — a full edge-set exchange PER PEEL
    * ROUND — is skipped (round-15; plan evidence in
    * plans/r16/{before,after}/q163_truss_peel.txt). */
  private[graft] def edgeSupportCanon(canon: DataFrame,
      broadcastNodeLimit: Long = GraphTuning.Auto,
      broadcastEdgeLimit: Long = 32000000L): DataFrame =
    edgeSupportCanonCounting(canon, None, broadcastNodeLimit,
      broadcastEdgeLimit, None)._1

  /** [[edgeSupportCanon]] with the peel loop's bookkeeping fused into
    * the support checkpoint job (round-16, VERDICT-r15 #4): when
    * `survivorMin` is set, the checkpoint OBSERVES the survivor count
    * (#edges with support ≥ survivorMin) AND the survivor set's whole
    * stats row — count, id bounds, HLL node upper bound, exactly what
    * the next round's regime decisions need — so [[trussPeel]] pays
    * neither a separate count job per round nor a full-pass stats agg
    * from round 2 on. `precomputedStats` is that observed row fed back
    * in; metrics are over the same value set the fresh agg would scan,
    * so regime decisions are identical.
    *
    * @return (support table, next-round stats row (m, lo, hi, nUpper)
    *         when survivorMin is set) */
  private[graft] def edgeSupportCanonCounting(canon: DataFrame,
      survivorMin: Option[Long],
      broadcastNodeLimit: Long = GraphTuning.Auto,
      broadcastEdgeLimit: Long = 32000000L,
      precomputedStats: Option[Row] = None): (DataFrame, Option[Row]) =
    withTriangles[(DataFrame, Option[Row])](canon, precomputedStats,
        broadcastNodeLimit, broadcastEdgeLimit)(
      (canon.select(col("a"), col("b"), col("a").as("support")),
        Some(Row(0L, 0L, 0L, 0L)))) { tm =>
      // No join for the zero-fill: every canonical edge enters the SAME
      // partial agg with weight 0 alongside the triangle fan-out's 1s —
      // support is edge-sized, so a broadcast would be unbounded and a
      // shuffle join redundant with the aggregation's own exchange.
      val sup = tm.tris.select(explode(array(
          struct(least(col("u"), col("v")).as("a"),
            greatest(col("u"), col("v")).as("b")),
          struct(least(col("u"), col("w")).as("a"),
            greatest(col("u"), col("w")).as("b")),
          struct(least(col("v"), col("w")).as("a"),
            greatest(col("v"), col("w")).as("b")))).as("e"))
        .select(col("e.a").as("a"), col("e.b").as("b"), lit(1L).as("s"))
      val unioned = canon.select(col("a"), col("b"), lit(0L).as("s"))
        .unionByName(sup)
        .groupBy("a", "b").agg(sum(col("s")).as("support"))
      survivorMin match {
        case Some(thr) =>
          val surv = col("support") >= thr
          val (cp, ms) = GraphTuning.checkpointObservingAll(unioned, Seq(
            "m" -> sum(when(surv, 1L)),
            "lo" -> min(when(surv, col("a"))),
            "hi" -> max(when(surv, col("b"))),
            "nUpper" -> (approx_count_distinct(when(surv, col("a"))) +
              approx_count_distinct(when(surv, col("b"))))))
          (cp, Some(Row(ms("m"), ms("lo"), ms("hi"), ms("nUpper"))))
        case None => (unioned.localCheckpoint(true), None)
      }
    }

  /** Bounded k-truss peel: up to `maxRounds` rounds of (recompute
    * [[edgeSupport]] → drop edges with support < k − 2). A true
    * k-truss iterates to fixpoint; the bounded version is the
    * monotone prefix of that computation (each round only removes
    * edges the final truss also removes), converging early when a
    * round drops nothing. Every round is one full support pass over
    * the SURVIVING edge set — the set only shrinks, and each pass
    * checkpoints so lineage stays flat across rounds.
    *
    * @return surviving canonical edges (a, b) after the peel */
  def trussPeel(edges: DataFrame, k: Int, maxRounds: Int,
      broadcastNodeLimit: Long = GraphTuning.Auto,
      broadcastEdgeLimit: Long = 32000000L): DataFrame = {
    require(k >= 2, "k must be >= 2")
    require(maxRounds >= 1, "maxRounds must be >= 1")
    // The raw input is canonicalized once; every round's survivor set
    // is canonical BY CONSTRUCTION (a filter of that canon set) and
    // goes straight to [[edgeSupportCanonCounting]] — the
    // public entry's re-canonicalize distinct would be a full edge-set
    // exchange per round. The survivor set stays a LAZY narrow filter
    // of the round's already-checkpointed support table; its count AND
    // the next round's stats row ride the support checkpoint job as
    // observed metrics (round-16), so each round is exactly the
    // support pass — no separate count job, and no full-pass stats agg
    // after round 1.
    val thr = (k - 2).toLong
    // the start has no count yet: round 1 observes it
    val canon = canonicalEdges(edges)
    val ((survivors, _), _) = iterate((canon, Option.empty[Row]), -1L,
        maxRounds, Stop.Unchanged, canon) { case ((cur, stats), _) =>
      val (sup, next) = edgeSupportCanonCounting(cur, Some(thr),
        broadcastNodeLimit, broadcastEdgeLimit, stats)
      ((sup.filter(col("support") >= thr).select("a", "b"), next),
        next.get.getLong(0))
    }
    survivors
  }

  /** k-bounded FW-BW coloring — the partition-refinement step of
    * distributed SCC (Orzan's coloring / FW-BW family): `fwd_min(v)` =
    * min id v REACHES within k hops, `bwd_min(v)` = min id that
    * REACHES v within k hops, and `scc_id = fwd_min` exactly when the
    * two agree. Soundness is unconditional: fwd_min(v) = bwd_min(v) =
    * c means v reaches c and c reaches v, so v truly lies in c's SCC —
    * the k-bound only limits how far the certificate looks (the same
    * bounded-round contract as [[bfsDistances]]/[[ssspDistances]]).
    *
    * The two reachability passes FUSE into one delta-frontier
    * min-label loop over a tagged edge table (tag 0 = forward edges,
    * tag 1 = reversed), so each round is one candidate join + one
    * best-table rewrite for BOTH directions — half the jobs and one
    * shared (tag, dst)-partitioned cache instead of two independent
    * loops. Labels only decrease, only improved nodes re-enter the
    * frontier, the best table rewrites by replacement (anti-join +
    * union, never re-aggregated), and the frontier side broadcasts
    * below the [[GraphTuning]]-resolved limit; above it the same loop
    * runs on plain shuffle joins aligned to the cached edge
    * partitioning.
    *
    * Regime evidence (round-10 `scc` crossover family, q131-shape
    * directed bipartite, maxRounds=3): honest shuffle beats
    * force-broadcast at 1.18M nodes (4.47 s vs 7.16) and at 4.42M
    * nodes (14.01 vs 25.06) — the doubled (2 rows/node) state makes
    * broadcast pay off only on small graphs, and the default 2M limit
    * applied to the doubled estimate routes all measured sizes to the
    * shuffle regime, confirmed right (CROSSOVER.json `sccColoring`;
    * the one discordant 2.2M-node honest cell is recorded there as
    * contended).
    *
    * @return (id, fwd_min, bwd_min, scc_id nullable) */
  def sccColoring(edges: DataFrame, maxRounds: Int,
      broadcastNodeLimit: Long = GraphTuning.Auto): DataFrame = {
    require(maxRounds >= 0, "maxRounds must be >= 0")
    // Estimate what actually broadcasts: the best table holds 2 rows per
    // node of src∪dst (the tagged/doubled edge set makes every node a
    // src). Counting only the ORIGINAL srcs under-estimates a
    // hub-and-spokes graph by ~n and would wrongly license broadcast.
    val d = GraphTuning.resolveRegime("sccColoring", edges,
        broadcastNodeLimit, statePerRow = 2L, edgeRowsPerRow = 2L) {
      (2 * edges.select(col("src").cast("long").as("id"))
        .unionByName(edges.select(col("dst").cast("long").as("id")))
        .agg(approx_count_distinct(col("id")).as("n"))
        .first().getLong(0), "hll")
    }
    val base = longEdges(edges)
    val e = base.select(lit(0).as("tag"), col("src"), col("dst"))
      .unionByName(base.select(lit(1).as("tag"),
        col("dst").as("src"), col("src").as("dst")))
      .repartition(col("tag"), col("dst")).cache()
    // the initial frontier is the full tagged node set — its count is
    // observed in the same checkpoint job (round-15 fusion); per round
    // the improved-row count rides the joined checkpoint, so the old
    // per-round frontier isEmpty job is gone
    val (best0, n0) = GraphTuning.checkpointWithCount(
      e.select(col("tag"), col("src").as("id"))
        .unionByName(e.select(col("tag"), col("dst").as("id")))
        .distinct().select(col("tag"), col("id"), col("id").as("lbl")))
    val ((best, _), _) = iterate((best0, best0), n0, maxRounds, Stop.Empty,
        e) { case ((best, frontier), _) =>
      val cand = e
        .join(d.maybeBroadcast(frontier.select(col("tag"),
          col("id").as("dst"), col("lbl").as("fl"))), Seq("tag", "dst"))
        .groupBy(col("tag"), col("src").as("id"))
        .agg(min(col("fl")).as("cnd"))
      // ONE materialization carries both outputs of the round: the
      // rewritten best table and (via the `imp` flag) the frontier.
      val (joined, nImp) = GraphTuning.checkpointObserving(
        best.join(d.maybeBroadcast(cand), Seq("tag", "id"), "left_outer")
          .select(col("tag"), col("id"),
            when(col("cnd") < col("lbl"), col("cnd"))
              .otherwise(col("lbl")).as("lbl"),
            (col("cnd") < col("lbl")).as("imp")),
        sum(when(col("imp"), 1L).otherwise(0L)))
      ((joined.select("tag", "id", "lbl"),
        joined.filter(col("imp")).select("tag", "id", "lbl")), nImp)
    }
    best.groupBy("id").agg(
        min(when(col("tag") === 0, col("lbl"))).as("fwd_min"),
        min(when(col("tag") === 1, col("lbl"))).as("bwd_min"))
      .select(col("id"), col("fwd_min"), col("bwd_min"),
        when(col("fwd_min") === col("bwd_min"), col("fwd_min")).as("scc_id"))
  }
}
