package graft

import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec

import graft.mapreduce.{MapleJuiceJob, RangePartition, Workloads}
import graft.sources.Generators

/** The reference's Condorcet dataset scale (`votes.txt`: 100,000
  * ballots × 10 single-digit candidates, FIXTURES.md §3) regenerated
  * with the seeded generator and run through the full two-phase
  * Maple/Juice chain — the election must be identical under different
  * partition counts and partitioners (the reference's shuffle delivers
  * in arbitrary order; ours must too).
  */
class CondorcetScaleSpec extends SparkSpecBase {

  private object Plans extends AdaptiveSparkPlanHelper

  private val candidates = (0 to 9).map(_.toString)

  private def election(numPartitions: Int,
                       strategy: graft.mapreduce.PartitionStrategy): Map[String, String] = {
    val s = spark
    import s.implicits._
    val ballots = Generators.ballots(s, 100000, candidates, seed = 425)
    val p1 = MapleJuiceJob.run(ballots,
      Workloads.CondorcetMaple1, Workloads.CondorcetJuice1, numPartitions, strategy)
    // phase 1 alone: 45 pair keys x 2 values, so each map task ships at
    // most 90 combined records where 100k ballots emit 4.5M pairs
    val pairs = p1.collect()
    assert(pairs.length == 45)
    val exchanges = Plans.collect(p1.queryExecution.executedPlan) {
      case e: ShuffleExchangeExec => e
    }
    assert(exchanges.length == 1, s"$strategy x $numPartitions: ${exchanges.length} exchanges")
    val records = exchanges.head.metrics("shuffleRecordsWritten").value
    val mapTasks = ballots.rdd.getNumPartitions
    assert(records > 0 && records <= 90L * mapTasks,
      s"$strategy x $numPartitions: phase 1 shuffled $records records from $mapTasks map tasks")
    MapleJuiceJob.run(pairs.toSeq.map(_._1).toDS(),
      Workloads.CondorcetMaple2, new Workloads.CondorcetJuice2(10), 1, strategy)
      .collect().toMap
  }

  test("100k-ballot election is partitioning-invariant and well-formed") {
    val hash8 = election(8, graft.mapreduce.HashPartition)
    val range3 = election(3, RangePartition)
    assert(hash8 == range3)
    val wins = hash8.values.map(_.split(",")(0).toLong).sum
    assert(wins == 45, s"total pairwise wins must be C(10,2)=45, got $wins")
    // 100k uniform random ballots: no candidate should win all 9 pairs
    assert(!hash8.values.exists(_.endsWith("condorcet_winner")) ||
      hash8.values.count(_.endsWith("condorcet_winner")) <= 1)
  }
}
