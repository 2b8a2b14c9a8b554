package graft.plans

import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{
  CoalesceExec, FilterExec, ProjectExec, SortExec, SparkPlan, UnionExec
}
import org.apache.spark.sql.execution.adaptive.{AQEShuffleReadExec, QueryStageExec}
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.exchange.{ENSURE_REQUIREMENTS, ShuffleExchangeExec}
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.internal.SQLConf

/** Gather a small ORDER BY input into one task instead of range-shuffling
  * it. A global sort plans as a range exchange: a `RangePartitioner`
  * sampling job, then a map stage whose every task compiles the sort-key
  * ordering — and AQE coalesces the output to one partition anyway when
  * the result is a few KB. Dask's `sort_values` skips its quantile pass
  * for a one-partition frame; this is the same shortcut, taken once AQE's
  * materialized stages prove the input small.
  *
  * Runs as a query-stage preparation rule, so it sees every AQE
  * re-planning. An exchange becomes `CoalesceExec(1, child)` only when
  *   - it was inserted for a global sort (`ENSURE_REQUIREMENTS` origin,
  *     `RangePartitioning` over more than one partition): a user
  *     `repartitionByRange(n, …)` keeps its n ranges;
  *   - its child reaches only MATERIALIZED query stages, through
  *     operators that never add rows (project, filter, aggregate, sort,
  *     window, union, shuffle read) — a join or generator above the
  *     stages could blow a small input up, and an unmaterialized input
  *     has no runtime size;
  *   - those stages' runtime sizes sum to at most the adaptive broadcast
  *     threshold (`spark.sql.adaptive.autoBroadcastJoinThreshold`, else
  *     `spark.sql.autoBroadcastJoinThreshold`; -1 turns the rule off):
  *     the input AQE would already ship whole to every task.
  * The global `SortExec` above then sorts one partition, so the rows and
  * their order are unchanged. */
object SmallSortGather extends Rule[SparkPlan] {

  /** Runtime bytes of the stages under `p`, or None when `p` reaches
    * anything but materialized stages through row-non-increasing
    * operators. */
  private def stageBytes(p: SparkPlan): Option[BigInt] = p match {
    case s: QueryStageExec =>
      if (s.isMaterialized) Some(s.getRuntimeStatistics.sizeInBytes) else None
    case _: ProjectExec | _: FilterExec | _: BaseAggregateExec | _: SortExec |
        _: WindowExec | _: UnionExec | _: AQEShuffleReadExec =>
      p.children.foldLeft(Option(BigInt(0))) { (acc, c) =>
        for (a <- acc; b <- stageBytes(c)) yield a + b
      }
    case _ => None
  }

  override def apply(plan: SparkPlan): SparkPlan = {
    val limit = conf.getConf(SQLConf.ADAPTIVE_AUTO_BROADCASTJOIN_THRESHOLD)
      .getOrElse(conf.autoBroadcastJoinThreshold)
    if (limit < 0) plan
    else plan.transformUp {
      case ShuffleExchangeExec(RangePartitioning(_, n), child, ENSURE_REQUIREMENTS, _)
          if n > 1 && stageBytes(child).exists(_ <= limit) =>
        CoalesceExec(1, child)
    }
  }
}
