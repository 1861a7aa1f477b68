package graft.plans

import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{CoalesceExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{BroadcastQueryStageExec, ShuffleQueryStageExec}
import org.apache.spark.sql.execution.exchange.{ENSURE_REQUIREMENTS, ShuffleExchangeExec}
import org.apache.spark.sql.internal.SQLConf

/** AQE query-stage preparation rule: a global sort whose measured input
  * is small runs in ONE partition instead of behind a range exchange.
  *
  * A global `SortExec` requires an ordered distribution, so
  * EnsureRequirements puts a `RangePartitioning` shuffle under it. That
  * shuffle costs two Spark jobs: the RangePartitioner's sampling job,
  * which re-runs the sort's child to pick bounds, and the range map
  * stage. On the kilobyte results most catalog rows end in, both are
  * pure overhead — the reference likewise collects small juice output
  * into one file instead of re-partitioning it.
  *
  * The rule replaces `ShuffleExchangeExec(RangePartitioning, child,
  * ENSURE_REQUIREMENTS, _)` with `CoalesceExec(1, child)` when all of
  * these hold:
  *  - AQE partition coalescing is on;
  *  - every leaf of `child` is a materialized `ShuffleQueryStageExec`
  *    or `BroadcastQueryStageExec` (so the input has been measured —
  *    a scan or cached-relation leaf keeps its range exchange);
  *  - those shuffle stages' map output sums to at most
  *    `spark.sql.adaptive.coalescePartitions.minPartitionSize`.
  *
  * The AQE invariant it relies on: `CoalesceShufflePartitions` never
  * targets a partition smaller than `minPartitionSize`, so shuffles
  * totalling at most that size are already read as a single partition.
  * The pipeline between those stages and the sort already runs in that
  * one task, and the rewrite removes only the sampling job, the range
  * map stage and one re-plan; the sort then orders its rows in the task
  * that already holds them. AQE adopts the rewritten plan because it
  * has one shuffle fewer.
  *
  * Why `CoalesceExec(1)` and not a `SinglePartition` shuffle: that
  * shuffle would drop the sampling job but keep a map stage, writing
  * and re-reading every row to move them into the partition they are
  * already in. `CoalesceExec(1)` reports `SinglePartition`, which
  * satisfies the sort's ordered distribution with no data movement.
  *
  * What it leaves alone: explicit `repartitionByRange` (origin
  * `REPARTITION_BY_NUM` / `REPARTITION_BY_COL`: MapleJuice
  * `RangePartition`, `SequencePack`); inputs over the size; sorts over
  * a scan or cached relation; streaming queries (stateful ones plan
  * without AQE, and a stateless stream cannot sort). The gate is
  * Spark's own setting, so a spec forces either side by setting
  * `minPartitionSize`.
  *
  * ORDER BY leaves the order of tied rows unspecified, on either side
  * of the gate; only the sort keys' order is guaranteed.
  */
object SmallSortOnePartition extends Rule[SparkPlan] {

  override def apply(plan: SparkPlan): SparkPlan =
    if (!conf.coalesceShufflePartitionsEnabled) plan
    else plan.transformUp {
      case e @ ShuffleExchangeExec(_: RangePartitioning, child, ENSURE_REQUIREMENTS, _)
          if measuredAndSmall(child) =>
        val one = CoalesceExec(1, child)
        e.logicalLink.foreach(one.setLogicalLink)
        one
    }

  private def measuredAndSmall(child: SparkPlan): Boolean = {
    val leaves = child.collectLeaves()
    val measured = leaves.forall {
      case s: ShuffleQueryStageExec => s.isMaterialized
      case b: BroadcastQueryStageExec => b.isMaterialized
      case _ => false
    }
    // mapStats asserts the stage is materialized: read it only after
    // every leaf passed the check above
    measured && leaves.collect {
      case s: ShuffleQueryStageExec => s.mapStats.fold(0L)(_.bytesByPartitionId.sum)
    }.sum <= conf.getConf(SQLConf.COALESCE_PARTITIONS_MIN_PARTITION_SIZE)
  }
}
