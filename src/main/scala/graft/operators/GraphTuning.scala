package graft.operators

import org.apache.spark.internal.Logging
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Regime selection for the iterative graph operators — ONE resolver for
  * the broadcast-vs-shuffle/co-bucketed decision every loop in [[Graph]]
  * and [[Dedup.duplicateClusters]] makes, replacing the per-signature
  * `2000000L` literals with a conf override + an explicit cost model,
  * and replacing unconditional pre-loop stats JOBS with a job-free
  * Catalyst-plan upper bound where the plan can already prove the input
  * small.
  *
  * The decision being priced: the per-round node-sized state table
  * (ranks / labels / frontier) can be BROADCAST — every executor holds a
  * copy and the edge table never re-shuffles — or the edge table is
  * re-shuffled (or pre-bucketed) against a hash-partitioned state table.
  * Per round that costs
  *
  *   broadcast: nodeEstimate × [[StateRowBytes]] × executorCopies
  *   shuffle:   edgeEstimate × [[EdgeRowBytes]]
  *
  * Broadcast is chosen when the state table FITS the per-copy budget
  * (`nodeEstimate <= limit`) and its replication traffic does not
  * decisively exceed the edge shuffle it saves. Below [[CostFloorBytes]]
  * of per-round traffic the byte comparison is noise against fixed
  * per-round costs (job scheduling, exchange setup), so the fit test
  * alone decides — which keeps micro-graphs on the cheap broadcast path
  * and makes local[N] behavior identical to the historical 2M-node
  * default (one in-process copy: 2M × 32 B = the 64 MB floor exactly).
  * On a real cluster `executorCopies` is the executor count, so a
  * 1000-executor broadcast of a near-limit state table is priced at its
  * honest ~64 GB/round and demoted to the shuffle/co-bucketed regime
  * unless the edge volume is larger still. Every decision is logged with
  * all inputs and their provenance ([[RegimeDecision.describe]]).
  *
  * Constants validated round 9 against the honest (auto-broadcast
  * disabled, `shuffle_nobc`) crossover cells — CROSSOVER.json
  * `graphtuning_cost_constants_r9`: at 4.4M nodes / 36M edges the
  * model's 6.1× byte ratio for broadcast-over-shuffle matched a
  * measured 3.5× time win (9.3 s vs 32.9 s); at the 2M-node default
  * budget boundary (lpa@100) broadcast and shuffle measured within
  * ~20%, i.e. the [[CostFloorBytes]]/default-limit pair sits at the
  * local breakeven. The `executorCopies` replication term was then
  * measured on a REAL two-executor split (local-cluster[2,16,24g],
  * same 32 total cores — CROSSOVER.json `replication_term_r9`):
  * broadcast still wins at 1.2M nodes with two copies (3.59 s vs
  * 4.09 s honest shuffle, margin narrowed from the one-copy 0.70 s to
  * 0.50 s) and FLIPS to losing at 2.2M nodes (7.35 s vs 5.13 s) where
  * one copy had it winning 2.0× — i.e. [[DefaultNodeLimit]] (2M) is
  * the measured multi-executor boundary, not just a designed one.
  */
object GraphTuning extends Logging {

  /** Sentinel default for `broadcastNodeLimit`/`broadcastRankLimit`
    * parameters: resolve from `spark.conf` / the default budget at call
    * time. Any explicit value >= 0 wins (the Crossover harness forces
    * regimes with `0` / `Long.MaxValue`). */
  val Auto: Long = -1L

  /** Session conf overriding the per-copy broadcast node limit. */
  val NodeLimitKey = "graft.graph.broadcastNodeLimit"

  /** Approximate in-memory bytes of one row of broadcast loop state —
    * two longs in an UnsafeRow plus HashedRelation page/pointer
    * overhead. */
  val StateRowBytes = 32L

  /** Approximate bytes of one (src, dst[, deg]) edge row crossing a
    * shuffle (UnsafeRow + serialization framing). */
  val EdgeRowBytes = 24L

  /** Default per-copy broadcast budget. 64 MB / [[StateRowBytes]] keeps
    * the default node limit at the long-standing (round-6 crossover-grid
    * era) 2M nodes; the conf key raises it on clusters measured to
    * tolerate more. */
  val DefaultBroadcastBytes: Long = 64L << 20
  val DefaultNodeLimit: Long = DefaultBroadcastBytes / StateRowBytes

  /** Below this much per-round traffic the broadcast-vs-shuffle byte
    * comparison is dominated by fixed per-round costs and is not allowed
    * to veto a fitting broadcast. */
  val CostFloorBytes: Long = 64L << 20

  /** Last free-form routing message ([[logRouting]]) — the edge-count
    * regimes (duplicateClusters) that aren't broadcast decisions. */
  @volatile private[graft] var lastRouting: Option[String] = None

  /** Rolling journal of recent decisions (newest first, capped) — lets
    * specs and postmortems see a LOOP's decision sequence, e.g. kCore's
    * per-round re-check switching shuffle → broadcast as the core
    * prunes. [[decide]] logs the same string at INFO. */
  @volatile private[graft] var decisionLog: List[RegimeDecision] = Nil

  /** Last decision taken: the journal's head, so the two never disagree. */
  private[graft] def lastDecision: Option[RegimeDecision] =
    decisionLog.headOption

  private[graft] def logRouting(msg: String): Unit = {
    lastRouting = Some(msg)
    logInfo(msg)
  }

  /** Clear the last-decision/-routing records — harnesses (graft.Scale)
    * call this before each shape so the decision they report afterwards
    * is the shape's own, not a stale one from a previous shape. */
  private[graft] def resetLast(): Unit = {
    lastRouting = None
    decisionLog = Nil
  }

  /** (limit, provenance): explicit caller value >= 0, else the session
    * conf, else the documented default. */
  def resolveNodeLimit(spark: SparkSession, requested: Long): (Long, String) =
    if (requested >= 0L) (requested, "explicit")
    else spark.conf.getOption(NodeLimitKey) match {
      case Some(v) => (v.toLong, s"conf:$NodeLimitKey")
      case None    => (DefaultNodeLimit, "default")
    }

  /** Executor copies a broadcast fans out to: executor count on a
    * cluster, 1 in local mode (statusTracker lists the driver too). */
  def executorCopies(spark: SparkSession): Int =
    math.max(1, spark.sparkContext.statusTracker.getExecutorInfos.length - 1)

  /** Job-free row-count UPPER bound from Catalyst plan statistics.
    * `rowCount` when the plan carries one; otherwise `sizeInBytes`
    * itself (every row occupies >= 1 byte in the size estimate, so the
    * byte count over-counts rows — parquet RLE can in principle beat
    * 1 B/row, but only on near-constant degenerate inputs, and these
    * bounds route perf regimes, they don't gate correctness). Returns
    * None when the plan reports the unknown-size sentinel
    * (`defaultSizeInBytes`), e.g. an un-analyzed LogicalRDD — callers
    * fall back to an exact/HLL stats job.
    *
    * @param rowsPerByteMargin safety factor for the size-based bound:
    *   the returned bound is `sizeInBytes × margin`, i.e. the bound
    *   stays valid even if the source packs up to `margin` rows per
    *   byte. The default 1 (assume >= 1 B/row) is fine when the bound
    *   only routes a PERF regime — a degenerate RLE input merely picks
    *   the wrong loop. A caller whose bound licenses DRIVER-SIDE
    *   materialization (duplicateClusters' union-find collect) must
    *   pass a margin (8 there) so a heavily run-length-compressed
    *   parquet edge list cannot sneak past the threshold and collect
    *   unboundedly; the `rowCount` branch is exact either way. */
  def rowUpperBound(df: DataFrame,
      rowsPerByteMargin: Long = 1L): Option[(Long, String)] = {
    val stats = df.queryExecution.optimizedPlan.stats
    stats.rowCount match {
      case Some(rc) =>
        Some((rc.min(BigInt(Long.MaxValue)).toLong, "plan-rowcount"))
      case None =>
        val size = stats.sizeInBytes
        val unknown =
          BigInt(df.sparkSession.sessionState.conf.defaultSizeInBytes)
        if (size <= 0 || size >= unknown) None
        else Some(((size * rowsPerByteMargin).min(BigInt(Long.MaxValue))
          .toLong.max(1L), "plan-size-upper-bound"))
    }
  }

  /** Parse a byte-count session conf, failing with the conf KEY in the
    * message instead of a bare NumberFormatException from deep inside an
    * operator (ADVICE r13 — `graft.dedup.broadcastBatchBytes` was
    * `map(_.toLong)`). */
  def confBytes(spark: SparkSession, key: String, default: Long): Long =
    spark.conf.getOption(key).map { v =>
      try v.trim.toLong
      catch {
        case _: NumberFormatException => throw new IllegalArgumentException(
          s"conf $key must be a byte count (long), got '$v'")
      }
    }.getOrElse(default)

  /** Session-scoped memoized exact count, keyed by an md5 digest of the
    * CANONICALIZED optimized plan — the count-probe memo the quantile
    * router introduced (`Aggregations.routeOneWindow`), hoisted here so
    * every proven-fit broadcast license shares one implementation
    * (ADVICE r13: `Sketch.mergeTrailing` re-counted its day list per
    * invocation). The digest (not the plan string) keeps entries
    * O(32 B); eviction is access-ordered LRU, never a wholesale clear;
    * the count JOB runs OUTSIDE the map lock (computeIfAbsent would
    * hold the bin lock across a whole Spark job), and the
    * get→count→putIfAbsent race at worst double-counts the same frame,
    * which is idempotent. A stale entry is only possible if the
    * underlying files change under a live session — and the memo only
    * feeds PHYSICAL regime routing, so results cannot change. Note a
    * `localCheckpoint`ed frame gets a fresh RDD id per checkpoint, so
    * per-invocation checkpoints always miss — counting checkpointed
    * blocks is one cheap job, which is why callers checkpoint first. */
  private val countCache: java.util.Map[String, java.lang.Long] =
    java.util.Collections.synchronizedMap(
      new java.util.LinkedHashMap[String, java.lang.Long](64, 0.75f, true) {
        override def removeEldestEntry(
            e: java.util.Map.Entry[String, java.lang.Long]): Boolean =
          size() > 256
      })
  def memoizedCount(df: DataFrame): Long = {
    val key = java.security.MessageDigest.getInstance("MD5")
      .digest(df.queryExecution.optimizedPlan.canonicalized.toString
        .getBytes("UTF-8")).map("%02x".format(_)).mkString
    Option(countCache.get(key)).map(_.longValue()).getOrElse {
      val c = df.count() // the job runs with NO map lock held
      countCache.putIfAbsent(key, java.lang.Long.valueOf(c))
      c
    }
  }

  /** Eager localCheckpoint with the row count OBSERVED during the
    * materialization job itself (`Dataset.observe` + CollectMetrics) —
    * the round-15 loop-action fusion: every iterative kernel needs its
    * per-round table's count (fixpoint / empty-frontier tests), and a
    * separate `count()`/`isEmpty` after the checkpoint is one extra
    * job per round — for edge-sized tables (kCore, trussPeel) a whole
    * extra PASS over the round's data. The observed metric rides the
    * checkpoint job's tasks, so the count is free: same rows, same
    * checkpoint, one job instead of two. The returned frame is the
    * checkpointed LogicalRDD — the CollectMetrics node does NOT
    * survive into downstream plans. */
  def checkpointWithCount(df: DataFrame): (DataFrame, Long) = {
    import org.apache.spark.sql.functions.{count, lit}
    checkpointObserving(df, count(lit(1)))
  }

  /** [[checkpointWithCount]] with a caller-chosen long-valued aggregate
    * (e.g. `sum(when(imp, 1))` — the SCC loop's improved-row count). */
  def checkpointObserving(df: DataFrame,
      metric: org.apache.spark.sql.Column): (DataFrame, Long) = {
    val (out, ms) = checkpointObservingAll(df, Seq("n" -> metric))
    (out, ms("n"))
  }

  /** [[checkpointObserving]] with SEVERAL named long-valued aggregates
    * riding the same checkpoint job (round-16: the trussPeel loop
    * observes the survivor count AND the next round's whole stats row —
    * count, id bounds, HLL node upper bound — in the support-table
    * checkpoint, deleting both the per-round count job and the next
    * round's full-pass stats agg). Null metrics (empty input,
    * all-filtered conditional aggs) coalesce to 0. */
  def checkpointObservingAll(df: DataFrame,
      metrics: Seq[(String, org.apache.spark.sql.Column)])
      : (DataFrame, Map[String, Long]) = {
    import org.apache.spark.sql.functions.{coalesce, lit}
    var out: DataFrame = null
    val ms = observeLongs(df,
      metrics.map { case (n, c) => n -> coalesce(c, lit(0L)) },
      d => out = d.localCheckpoint(true))
    (out, ms)
  }

  private def longMetric(x: Any): Long = x match {
    case l: java.lang.Long => l.longValue()
    case i: java.lang.Integer => i.longValue()
    case other => other.toString.toLong
  }

  /** Runs `action` over `df` with each named long-valued aggregate
    * OBSERVED in the action's own job — the [[checkpointObservingAll]]
    * fusion without the checkpoint. The default action is a `noop` write:
    * one pass, no shuffle, nothing kept, so an aggregate that would be its
    * own `agg(...).head()` query (two jobs under AQE: partial and final
    * stage) costs one job; passed a write the caller makes anyway (a sink
    * append), it costs none. A null aggregate (`max` over zero rows) is
    * left out of the result, never coalesced to 0. */
  def observeLongs(df: DataFrame,
      metrics: Seq[(String, org.apache.spark.sql.Column)],
      action: DataFrame => Unit = _.write.format("noop").mode("overwrite").save())
      : Map[String, Long] = {
    require(metrics.nonEmpty, "observeLongs needs >= 1 metric")
    val obs = org.apache.spark.sql.Observation()
    val named = metrics.map { case (n, c) => c.as(n) }
    action(df.observe(obs, named.head, named.tail: _*))
    obs.get.collect { case (n, v) if v != null => n -> longMetric(v) }
  }

  /** Proven-fit broadcast license (the repo-wide routing discipline —
    * `Dedup.incrementalNearDuplicates`, `Sketch.mergeTrailing`, the
    * `Ann` probe batches): a bound only LICENSES the broadcast when it
    * PROVES the row count under `limitRows`; an inconclusive bound
    * falls back to an exact count (memoized by canonicalized-plan
    * digest when `memoized` — use for frames rebuilt identically per
    * Bench rep; a checkpointed frame should pass false, its count is
    * one cheap job and its digest never repeats).
    *
    * @return (fits, rowEstimate, source) */
  def broadcastFitsRows(df: DataFrame, limitRows: Long,
      memoized: Boolean = false): (Boolean, Long, String) =
    rowUpperBound(df) match {
      case Some((u, s)) if u <= limitRows => (true, u, s)
      case _ =>
        val n = if (memoized) memoizedCount(df) else df.count()
        (n <= limitRows, n,
          if (memoized) "exact-count-memo" else "exact-count")
    }

  /** One regime decision with every input that produced it.
    * `broadcast` is the choice; `fits` alone is what co-bucket ROUTING
    * tests (a non-fitting state table must leave the broadcast loop
    * entirely; a fitting-but-cost-vetoed one stays on plain shuffle
    * joins). Estimates of -1 mean "not computed". */
  final case class RegimeDecision(
      op: String,
      broadcast: Boolean,
      fits: Boolean,
      nodeEstimate: Long,
      nodeEstimateSource: String,
      edgeEstimate: Long,
      limit: Long,
      limitSource: String,
      executorCopies: Int) {
    def broadcastBytesPerRound: Double =
      if (nodeEstimate < 0) -1d
      else nodeEstimate.toDouble * StateRowBytes * executorCopies
    def shuffleBytesPerRound: Double =
      if (edgeEstimate < 0) -1d else edgeEstimate.toDouble * EdgeRowBytes
    def describe: String =
      f"[graft.graph] $op regime=${if (broadcast) "broadcast" else "shuffle/co-bucketed"} " +
        f"nodes=$nodeEstimate%d($nodeEstimateSource) edges=$edgeEstimate%d " +
        f"limit=$limit%d($limitSource) copies=$executorCopies%d " +
        f"bcastBytes/round=${broadcastBytesPerRound}%.0f " +
        f"shuffleBytes/round=${shuffleBytesPerRound}%.0f"
    /** `df` with a broadcast hint iff this decision chose broadcast. */
    def maybeBroadcast(df: DataFrame): DataFrame =
      if (broadcast) org.apache.spark.sql.functions.broadcast(df) else df
  }

  /** The resolver every graph entry point funnels through: fit test
    * against the resolved limit, cost veto above the floor, decision
    * logged with provenance.
    *
    * An EXPLICIT `requestedLimit` (>= 0) disables the cost veto: a
    * caller forcing a regime (the Crossover harness passes 0 /
    * Long.MaxValue to pin each A/B arm) means "broadcast iff it fits
    * MY limit", and letting the model second-guess that silently
    * swapped the measured regime (round-8 advice: the 'bcast' arms
    * were measuring the co-bucketed loop). The veto prices only the
    * Auto/conf paths, where the caller delegated the decision.
    *
    * @param nodeEstimate estimated rows of the per-round broadcast state
    * @param edgeEstimate estimated edge rows re-shuffled per round in
    *                     the alternative regime; -1 = unknown (cost veto
    *                     skipped — the fit test alone decides)
    * @param requestedLimit caller override; [[Auto]] resolves conf/default
    * @param copiesOverride test seam for the cluster branch of the cost
    *                     model (local mode always reports 1 copy);
    *                     <= 0 = use [[executorCopies]]
    */
  def decide(spark: SparkSession, op: String,
      nodeEstimate: Long, nodeEstimateSource: String,
      edgeEstimate: Long = -1L,
      requestedLimit: Long = Auto,
      copiesOverride: Int = 0): RegimeDecision = {
    val (limit, limitSource) = resolveNodeLimit(spark, requestedLimit)
    val copies =
      if (copiesOverride > 0) copiesOverride else executorCopies(spark)
    val fits = nodeEstimate <= limit
    val bcastBytes = nodeEstimate.toDouble * StateRowBytes * copies
    val costOk = requestedLimit >= 0L || edgeEstimate < 0 ||
      bcastBytes <= math.max(edgeEstimate.toDouble * EdgeRowBytes,
        CostFloorBytes.toDouble)
    val d = RegimeDecision(op, broadcast = fits && costOk, fits = fits,
      nodeEstimate, nodeEstimateSource, edgeEstimate, limit, limitSource,
      copies)
    decisionLog = (d :: decisionLog).take(64)
    logInfo(d.describe)
    d
  }

  /** The regime preamble the graph kernels share: resolve the limit,
    * bound the state from the plan (no job), run the `stats` job only
    * when that bound does not prove the fit, then [[decide]]. The plan
    * bound of `edges` × `edgeRowsPerRow` is the edge estimate; that of
    * `stateRows` (default `edges`; walks pass their seeds) × `statePerRow`
    * bounds the state — 2 for hits' hub/authority sides and
    * sccColoring's two tags, whose doubled edge table is 2 rows per edge. */
  def resolveRegime(op: String, edges: DataFrame, requestedLimit: Long,
      statePerRow: Long = 1L, edgeRowsPerRow: Long = 1L,
      stateRows: Option[DataFrame] = None)
      (stats: => (Long, String)): RegimeDecision = {
    val spark = edges.sparkSession
    val (limit, _) = resolveNodeLimit(spark, requestedLimit)
    val edgeUpper = rowUpperBound(edges)
    val (nodeEst, nodeSrc) = stateRows.fold(edgeUpper)(rowUpperBound(_)) match {
      case Some((u, s)) if u <= limit / statePerRow => (statePerRow * u, s)
      case _ => stats
    }
    decide(spark, op, nodeEst, nodeSrc,
      edgeEstimate = edgeUpper.fold(-1L)(edgeRowsPerRow * _._1),
      requestedLimit = requestedLimit)
  }
}
