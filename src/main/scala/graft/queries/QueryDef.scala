package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One query of the driver contract: the Spark query over a scale-factor
  * directory, and the DuckDB SQL that answers the same question over the
  * same parquet (the oracle; the driver and `scripts/compare.py`
  * hash-compare the two results). Queries are implemented operators from
  * SURVEY.md §2 plus the training-pipeline operators (dedup / similarity
  * / text analysis / ANN) over `documents` and `embeddings`. Each family
  * of queries is one file in this package; [[graft.SparkEntry]] holds
  * the registry and its string-keyed views.
  *
  * Determinism discipline (needed for cross-engine hash parity):
  *  - double sums go through DECIMAL(28,10) (order-independent, exact);
  *  - timestamps are surfaced as DATE (events.ts is parquet NANOS, which
  *    Spark truncates to µs but DuckDB keeps — dates agree);
  *  - every query ends in a total-order ORDER BY on its key columns.
  *
  * @param precondition a Verify-time eager assertion that LICENSES the
  *        oracle (e.g. a plain-SELECT dedup oracle is only valid while the
  *        key is naturally unique in the source) but must NOT run inside
  *        `run`: Bench times `run` on every rep, so an eager count() there
  *        inflates the query's recorded seconds and breaks round-over-round
  *        comparability (ADVICE r11). Verify runs it once per dump, before
  *        the query; a violated precondition fails the verify run loudly.
  * @param tags how Bench treats the query */
final case class QueryDef(
    name: String,
    run: (SparkSession, String) => DataFrame,
    oracle: String,
    precondition: Option[(SparkSession, String) => Unit] = None,
    tags: Set[QueryDef.Tag] = Set.empty)

object QueryDef {
  sealed trait Tag

  /** The query deliberately FORCES a scale regime the fixture doesn't
    * warrant (oracle coverage of the big-graph code path, not a
    * representative workload). Bench keeps it in `value`/`queries` but
    * excludes it from `core_value`, so round-over-round totals compare
    * without a mental footnote. */
  case object ForcedRegime extends Tag

  /** The query's first rep at the TARGET SF pays one-time costs the
    * sf0.001 warm-up can't burn: codec/mapPartitions queries JIT their
    * per-row decode loops only after thousands of invocations (sf0.001
    * has ~600 docs), and the iterative-graph loops JIT per-round
    * codegen + checkpoint paths. Bench gives it one untimed target-SF rep.
    *
    * What this does NOT cure — the recurring ~16 s q143 outlier rep
    * (r7 spread 7.8 s, r8 15.8 s): round-9 instrumentation
    * (per-rep GC + task profile) measured 13 q143
    * reps across isolated and full-suite runs at gcSec <= 0.1,
    * taskMax <= 0.6 s, taskTotal a constant ~20-24 s — so the
    * outlier is EXTERNAL CPU contention, not JIT or GC: q143 packs
    * ~21 s of task CPU into ~0.9 s wall (the suite's highest CPU
    * density), so a competing load burst during its window inflates
    * wall near-proportionally (16 s ≈ 1.3 effective cores), exactly
    * when r8's first timed queries (q01/q02) were also elevated.
    * Diagnostic signature of a contended rep: wall up, taskTotal
    * unchanged. In-task slowdown would inflate taskTotal too. */
  case object WarmAtTargetSf extends Tag

  /** `defs` as a registry: a repeated name is an error, never a silent
    * replacement of the earlier query and its oracle. */
  def registry(defs: Seq[QueryDef]): Seq[QueryDef] = {
    val repeated = defs.groupBy(_.name).collect { case (n, ds) if ds.size > 1 => n }
    require(repeated.isEmpty,
      s"duplicate query names: ${repeated.toSeq.sorted.mkString(", ")}")
    defs
  }
}
