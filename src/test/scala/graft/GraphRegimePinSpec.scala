package graft

import graft.operators.{Dedup, Graph, GraphTuning}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Pins, per graph kernel, the jobs one call costs and the regime
  * decision it logs — so a refactor of the regime preamble or of the
  * co-bucketed loop scaffold has to reproduce both exactly.
  *
  * Resolver kernels run twice: once on a local frame, whose plan
  * statistics bound the input and license the broadcast without a job,
  * and once on a frame built from an RDD, whose plan carries no usable
  * statistics, so the fallback stats job (HLL or exact count) runs.
  * Co-bucketed drivers are pinned on job count and on leaving no
  * `graft_*` work table behind. */
class GraphRegimePinSpec extends SparkSpec {
  import spark.implicits._

  // symmetric hub + ring; w and t give the weighted and temporal kernels
  // their columns
  private val pairs = (Seq.tabulate(20)(i => (70L, i.toLong + 1)) ++
    Seq.tabulate(40)(i => (i.toLong + 1, (i + 1).toLong % 40 + 1)))
    .filter { case (a, b) => a != b }.distinct
  private val rows = (pairs ++ pairs.map(_.swap)).distinct.sorted
    .map { case (s, d) => (s, d, (s * 7 + d) % 5 + 1, (s + d) % 10) }

  private def local: DataFrame = rows.toDF("src", "dst", "w", "t")
  private def fromRdd: DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2))
      .toDF("src", "dst", "w", "t")
  private def localSeeds: DataFrame = Seq(70L, 5L).toDF("id")
  private def rddSeeds: DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(Seq(70L, 5L), 1)
      .map(Tuple1(_))).toDF("id")

  private type Kernel = (DataFrame, DataFrame, Long) => DataFrame
  private val kernels: Seq[(String, Kernel)] = Seq(
    "hits" -> ((e, _, l) => Graph.hits(e, 2, l)),
    "bfsDistances" -> ((e, s, l) => Graph.bfsDistances(e, s, 3, l)),
    "multiSourceBfs" -> ((e, s, l) => Graph.multiSourceBfs(e, s, 3, l)),
    "ssspDistances" -> ((e, s, l) => Graph.ssspDistances(e, s, 3, l)),
    "temporalEarliestArrival" ->
      ((e, s, l) => Graph.temporalEarliestArrival(e, s, 3, l)),
    "deterministicWalks" ->
      ((e, s, l) => Graph.deterministicWalks(e, s, 3, l)),
    "labelPropagation" -> ((e, _, l) => Graph.labelPropagation(e, 3, l)),
    "sccColoring" -> ((e, _, l) => Graph.sccColoring(e, 3, l)))

  /** (jobs, rows, broadcast, fits, nodeEstimate, nodeEstimateSource,
    * edgeEstimate); the decision's op is the kernel's name */
  private type Pin = (Int, Long, Boolean, Boolean, Long, String, Long)

  /** local input, default limit: the plan bound proves the fit */
  private val planBound: Map[String, Pin] = Map(
    "hits" -> ((12, 41L, true, true, 240L, "plan-rowcount", 120L)),
    "bfsDistances" -> ((14, 25L, true, true, 120L, "plan-rowcount", 120L)),
    "multiSourceBfs" -> ((20, 48L, true, true, 120L, "plan-rowcount", 120L)),
    "ssspDistances" -> ((20, 25L, true, true, 120L, "plan-rowcount", 120L)),
    "temporalEarliestArrival" ->
      ((20, 23L, true, true, 120L, "plan-rowcount", 120L)),
    "deterministicWalks" -> ((14, 8L, true, true, 2L, "plan-rowcount", 120L)),
    "labelPropagation" -> ((11, 41L, true, true, 120L, "plan-rowcount", 120L)),
    "sccColoring" -> ((19, 41L, true, true, 240L, "plan-rowcount", 240L)))

  /** RDD input: no plan bound, so the stats job runs */
  private val fallback: Map[String, Pin] = Map(
    "hits" -> ((14, 41L, true, true, 84L, "hll", -1L)),
    "bfsDistances" -> ((16, 25L, true, true, 42L, "hll", -1L)),
    "multiSourceBfs" -> ((22, 48L, true, true, 42L, "hll", -1L)),
    "ssspDistances" -> ((22, 25L, true, true, 42L, "hll", -1L)),
    "temporalEarliestArrival" -> ((22, 23L, true, true, 42L, "hll", -1L)),
    "deterministicWalks" -> ((17, 8L, true, true, 2L, "exact", -1L)),
    "labelPropagation" -> ((13, 41L, true, true, 42L, "hll", -1L)),
    "sccColoring" -> ((21, 41L, true, true, 84L, "hll", -1L)))

  /** local input, limit 0: the bound cannot prove the fit, the stats
    * job runs and the kernel leaves the broadcast regime */
  private val noFit: Map[String, Pin] = Map(
    "hits" -> ((18, 41L, false, false, 84L, "hll", 120L)),
    "bfsDistances" -> ((23, 25L, false, false, 42L, "hll", 120L)),
    "multiSourceBfs" -> ((24, 48L, false, false, 42L, "hll", 120L)),
    "ssspDistances" -> ((29, 25L, false, false, 42L, "hll", 120L)),
    "temporalEarliestArrival" -> ((29, 23L, false, false, 42L, "hll", 120L)),
    "deterministicWalks" -> ((17, 8L, false, false, 2L, "exact", 120L)),
    "labelPropagation" -> ((15, 41L, false, false, 42L, "hll", 120L)),
    "sccColoring" -> ((24, 41L, false, false, 84L, "hll", 240L)))

  for ((branch, pins, edges, seeds, limit) <- Seq(
      ("plan bound", planBound, () => local, () => localSeeds,
        GraphTuning.Auto),
      ("fallback stats job", fallback, () => fromRdd, () => rddSeeds,
        GraphTuning.Auto),
      ("no fit", noFit, () => local, () => localSeeds, 0L));
      (name, kernel) <- kernels)
    test(s"regime pin ($branch): $name") {
      GraphTuning.resetLast()
      var n = -1L
      val jobs = countJobs {
        n = kernel(edges(), seeds(), limit).collect().length.toLong
      }
      val log = GraphTuning.decisionLog
      assert(log.size == 1, s"one decision per call: $log")
      val d = log.head
      val got = (jobs, n, d.broadcast, d.fits, d.nodeEstimate,
        d.nodeEstimateSource, d.edgeEstimate)
      assert(d.op == name && got == pins(name), s"${d.op}: got $got")
    }

  private def graftTables: Set[String] =
    spark.catalog.listTables().collect().map(_.name)
      .filter(_.startsWith("graft_")).toSet

  /** driver → (jobs, rows) */
  private val coBucketed: Seq[(String, () => Seq[DataFrame], (Int, Long))] =
    Seq(
      ("pageRankCoBucketedIterates", () => Graph.pageRankCoBucketedIterates(
        local, 3, Set(2)).toSeq.sortBy(_._1).map(_._2), (14, 82L)),
      ("labelPropagationCoBucketed",
        () => Seq(Graph.labelPropagationCoBucketed(local, 3)), (13, 41L)),
      ("hitsCoBucketed", () => Seq(Graph.hitsCoBucketed(local, 2)), (16, 41L)),
      ("connectedComponentsCoBucketed",
        () => Seq(Graph.connectedComponentsCoBucketed(local)), (34, 41L)),
      ("bfsDistancesCoBucketed",
        () => Seq(Graph.bfsDistancesCoBucketed(local, localSeeds, 3)),
        (21, 25L)),
      ("ssspDistancesCoBucketed",
        () => Seq(Graph.ssspDistancesCoBucketed(local, localSeeds, 3)),
        (21, 25L)))

  for ((name, run, pin) <- coBucketed)
    test(s"co-bucketed pin: $name") {
      val before = graftTables
      var n = 0L
      val jobs = countJobs { n = run().map(_.collect().length.toLong).sum }
      assert((jobs, n) == pin, s"$name: got (jobs, rows) = ($jobs, $n)")
      assert(graftTables == before,
        s"$name left work tables: ${graftTables -- before}")
    }

  private def canonical: DataFrame = local.filter(col("src") < col("dst"))

  /** kernel → (jobs, rows) for the loops the regime pins above do not
    * reach: the PageRank family, k-core and truss peel, the triangle
    * family in both of its regimes, and the distributed CC loop */
  private val loops: Seq[(String, () => Seq[DataFrame], (Int, Long))] = Seq(
    ("pageRankFixedPoint symmetric", () => Seq(
      Graph.pageRankFixedPoint(local, 3, symmetric = true)), (9, 41L)),
    ("pageRankFixedPoint asymmetric", () => Seq(
      Graph.pageRankFixedPoint(canonical, 3)), (15, 41L)),
    ("pageRankIterates capture", () => Graph.pageRankIterates(local, 3,
      Set(1, 2), symmetric = true).toSeq.sortBy(_._1).map(_._2), (11, 123L)),
    ("weightedPageRank symmetric", () => Seq(
      Graph.weightedPageRank(local, 3, symmetric = true)), (9, 41L)),
    ("weightedPageRank asymmetric", () => Seq(
      Graph.weightedPageRank(canonical, 3)), (17, 41L)),
    ("personalizedPageRank", () => Seq(
      Graph.personalizedPageRank(local, localSeeds, 3)), (16, 25L)),
    // the two pendant chains peel one node per round until a round
    // removes nothing
    ("kCore", () => Seq(Graph.kCore(
      canonical.filter(col("src") <= 30), 2, 20)), (40, 21L)),
    ("trussPeel", () => Seq(Graph.trussPeel(local, 3, 5)), (37, 39L)),
    ("triangleCounts adjacency", () => Seq(Graph.triangleCounts(local)),
      (23, 41L)),
    ("triangleCounts wedge", () => Seq(
      Graph.triangleCounts(local, broadcastEdgeLimit = 0L)), (21, 41L)),
    ("clusteringCoefficient adjacency", () => Seq(
      Graph.clusteringCoefficient(local)), (23, 41L)),
    ("clusteringCoefficient wedge", () => Seq(
      Graph.clusteringCoefficient(local, broadcastEdgeLimit = 0L)), (21, 41L)),
    ("edgeSupport adjacency", () => Seq(Graph.edgeSupport(local)), (21, 60L)),
    ("edgeSupport wedge", () => Seq(
      Graph.edgeSupport(local, broadcastEdgeLimit = 0L)), (19, 60L)),
    ("duplicateClusters distributed", () => Seq(Dedup.duplicateClusters(
      (1L to 80L).toDF("doc_id"), "doc_id",
      canonical.select(col("src").as("id_a"), col("dst").as("id_b")),
      localEdgeThreshold = 0L)), (50, 80L)))

  for ((name, run, pin) <- loops)
    test(s"loop pin: $name") {
      var n = 0L
      val jobs = countJobs { n = run().map(_.collect().length.toLong).sum }
      assert((jobs, n) == pin, s"$name: got (jobs, rows) = ($jobs, $n)")
    }
}
