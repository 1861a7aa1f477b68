package graft

import org.apache.spark.sql.catalyst.plans.{ExistenceJoin, JoinType}
import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioningLike, Partitioning, RangePartitioning, RoundRobinPartitioning, SinglePartition}
import org.apache.spark.sql.execution._
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec, HashJoin, SortMergeJoinExec}
import org.apache.spark.sql.execution.window.{WindowExec, WindowGroupLimitExec}

/** A physical plan reduced to its strategy decisions, in plan order:
  * exchange partitioning kind, join strategy with join type and build
  * side, global or local sort, window, aggregate strategy, limit/top-k,
  * nested loop and cartesian joins, union, expand, generate, subqueries,
  * and the kind of each leaf (parquet scan, in-memory scan, checkpointed
  * or other RDD scan, local table). Every other node (project, filter,
  * codegen stages, row/columnar transitions) is skipped. The result
  * carries no names, expression ids, partition counts, paths or UUIDs,
  * so it is the same on every machine and run for the same plan.
  *
  * Rendering: `a > b` means b is a's one child; a node with several
  * children lists them as `a [b | c]`. An AQE plan contributes its
  * current plan — before execution, AQE's initial one.
  */
object PlanFingerprint {

  def apply(plan: SparkPlan): String = nodes(plan) match {
    case Seq(one) => one.render
    case many => many.map(_.render).mkString("[", " | ", "]")
  }

  private final case class Node(token: String, kids: Seq[Node]) {
    def render: String = kids match {
      case Seq() => token
      case Seq(k) => s"$token > ${k.render}"
      case ks => ks.map(_.render).mkString(s"$token [", " | ", "]")
    }
  }

  private def nodes(p: SparkPlan): Seq[Node] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case _ =>
      val kids = p.children.flatMap(nodes) ++ p.subqueries.flatMap(nodes)
      token(p).fold(kids)(t => Seq(Node(t, kids)))
  }

  private def token(p: SparkPlan): Option[String] = p match {
    case e: ShuffleExchangeExec => Some(s"Exchange(${kind(e.outputPartitioning)})")
    case j: HashJoin => Some(s"${name(p)}(${join(j.joinType)}, ${j.buildSide})")
    case j: BroadcastNestedLoopJoinExec =>
      Some(s"${name(p)}(${join(j.joinType)}, ${j.buildSide})")
    case j: SortMergeJoinExec => Some(s"${name(p)}(${join(j.joinType)})")
    case s: SortExec => Some(if (s.global) "Sort(global)" else "Sort(local)")
    case s: FileSourceScanLike => Some(s"Scan(${s.relation.fileFormat.toString.toLowerCase})")
    case _: InMemoryTableScanExec => Some("Scan(in-memory)")
    case r: RDDScanExec => Some(s"Scan(${r.name})")
    case _: BroadcastExchangeExec | _: CartesianProductExec |
         _: WindowExec | _: WindowGroupLimitExec | _: BaseAggregateExec |
         _: CollectLimitExec | _: CollectTailExec | _: GlobalLimitExec |
         _: LocalLimitExec | _: TakeOrderedAndProjectExec |
         _: UnionExec | _: ExpandExec | _: GenerateExec |
         _: BaseSubqueryExec | _: LeafExecNode => Some(name(p))
    case _ => None
  }

  private def name(p: SparkPlan): String = p.getClass.getSimpleName.stripSuffix("Exec")

  // ExistenceJoin's toString names its output attribute (with its id)
  private def join(t: JoinType): String = t match {
    case _: ExistenceJoin => "ExistenceJoin"
    case other => other.toString
  }

  private def kind(p: Partitioning): String = p match {
    case _: HashPartitioningLike => "hash"
    case _: RangePartitioning => "range"
    case SinglePartition => "single"
    case _: RoundRobinPartitioning => "roundrobin"
    case other => other.getClass.getSimpleName
  }
}
