package graft.plans

import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.exchange.{ENSURE_REQUIREMENTS, ShuffleExchangeExec}
import org.apache.spark.sql.internal.SQLConf

/** Adaptive query-stage preparation rule: the range exchange under a
  * global sort gets one partition when its input fits one partition of
  * the size AQE aims for (`spark.sql.adaptive.advisoryPartitionSizeInBytes`).
  *
  * Why: with n > 1 partitions `RangePartitioner` first runs a sample job
  * over the sort's whole input plan to pick its bounds, and the shuffle's
  * map stage then runs the same plan again. With one partition it takes
  * no sample, so the input runs once. Every oracle-checked query ends in
  * an ORDER BY for determinism.
  *
  * The input size is the child's `logicalLink` estimate; under AQE it
  * holds the measured size of every stage that has already run. A larger
  * or unknown input keeps Spark's exchange, so a large sort stays
  * parallel. Only the exchange that `EnsureRequirements` adds for a global
  * sort is touched: `repartitionByRange` keeps its partition count, and
  * `orderBy(…).limit(n)` plans `TakeOrderedAndProject` without an exchange.
  * The plan shows the decision as `rangepartitioning(…, 1)`.
  *
  * Registered through `GraftExtensions` (injectQueryStagePrepRule); the
  * rule runs each time AQE re-plans the remaining stages.
  */
object OnePartitionSort extends Rule[SparkPlan] {

  def apply(plan: SparkPlan): SparkPlan = {
    val target = conf.getConf(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES)
    plan.transformUp {
      case e @ ShuffleExchangeExec(RangePartitioning(ordering, n), child, ENSURE_REQUIREMENTS, _)
          if n > 1 && child.logicalLink.exists(_.stats.sizeInBytes <= target) =>
        e.copy(outputPartitioning = RangePartitioning(ordering, 1))
    }
  }
}
