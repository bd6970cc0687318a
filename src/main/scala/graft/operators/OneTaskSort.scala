package graft.operators

import org.apache.spark.sql.catalyst.expressions.aggregate.{Complete, Final}
import org.apache.spark.sql.catalyst.plans.physical.{RangePartitioning, SinglePartition}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{CoalesceExec, FilterExec, ProjectExec, SortExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AQEShuffleReadExec, ShuffleQueryStageExec}
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.exchange.{ENSURE_REQUIREMENTS, ShuffleExchangeExec}
import org.apache.spark.sql.internal.SQLConf

/** Sorts a small aggregate's output in the final aggregate's own task.
  *
  * A keyed `summarize` emits key-sorted (zed's groupby sorts its table on
  * emit), so the compiled plan puts a global sort over the final
  * aggregate. Spark meets that sort with a range exchange, and a range
  * exchange costs a sampling job and a map stage before the result stage
  * runs. When the aggregate reads a materialized shuffle stage whose map
  * output AQE's `CoalesceShufflePartitions` will read as ONE partition,
  * the final aggregate runs as one task anyway: coalescing its output to
  * one partition loses no parallelism, and the sort then runs in that same
  * task. A group-by above that size keeps its range exchange.
  *
  * Injected as an AQE query-stage preparation rule, so it runs at every
  * re-plan after a stage materializes; the plan AQE builds before
  * execution has no materialized stage and is never rewritten. In the
  * same pass an `ENSURE_REQUIREMENTS` range exchange whose child now
  * reports `SinglePartition` is dropped (a user sort right after the
  * aggregate), as `EnsureRequirements` would never have planned it.
  * Range exchanges a user asked for (`repartitionByRange`) carry another
  * origin and are left alone.
  */
object OneTaskSort extends Rule[SparkPlan] {

  override def apply(plan: SparkPlan): SparkPlan =
    if (!conf.coalesceShufflePartitionsEnabled) plan
    else plan.transformUp {
      case s @ SortExec(_, true,
          ShuffleExchangeExec(_: RangePartitioning, child, ENSURE_REQUIREMENTS, _), _)
          if smallAggregate(child) =>
        s.copy(child = CoalesceExec(1, child))
      case ShuffleExchangeExec(_: RangePartitioning, child, ENSURE_REQUIREMENTS, _)
          if child.outputPartitioning == SinglePartition =>
        child
    }

  /** The map-output size at or below which `CoalesceShufflePartitions`
    * reads a shuffle as one partition: its target partition size never
    * falls below `minPartitionSize`, and without `parallelismFirst` it is
    * the advisory size.
    */
  private def oneTaskBytes: Long =
    if (conf.getConf(SQLConf.COALESCE_PARTITIONS_PARALLELISM_FIRST))
      conf.getConf(SQLConf.COALESCE_PARTITIONS_MIN_PARTITION_SIZE)
    else conf.getConf(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES)

  /** A final (or complete) aggregate, possibly under projections and
    * filters, over a materialized shuffle stage small enough for one
    * task. An aggregate emits at most one row per input row.
    */
  private def smallAggregate(p: SparkPlan): Boolean = p match {
    case ProjectExec(_, c) => smallAggregate(c)
    case FilterExec(_, c) => smallAggregate(c)
    case a: BaseAggregateExec
        if a.aggregateExpressions.forall(e => e.mode == Final || e.mode == Complete) =>
      aggregateInput(a.child)
    case _ => false
  }

  private def aggregateInput(p: SparkPlan): Boolean = p match {
    // a sort-based aggregate sorts its input within the partition
    case SortExec(_, false, c, _) => aggregateInput(c)
    case AQEShuffleReadExec(c, _) => aggregateInput(c)
    case s: ShuffleQueryStageExec =>
      s.isMaterialized && s.mapStats.exists(_.bytesByPartitionId.sum <= oneTaskBytes)
    case _ => false
  }
}
