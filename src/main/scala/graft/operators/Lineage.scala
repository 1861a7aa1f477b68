package graft.operators

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD

/** How every iterative or waved operator in the engine materializes
  * and frees storage — the one place that knows it.
  *
  * ROUND LOOPS ([[Rounds]]): [[Graph]] `pageRank`, `pageRankConserving`,
  * `bfsHops`, `bellmanFord`, `kCorePeel` and `labelPropagation`;
  * [[Dedup]] `componentsWithRounds`; [[Bpe]] `learnMergeList` and
  * `learnMergeBatchList`. Per-round state is eagerly
  * `localCheckpoint(true)`'d — NEVER persist()'d, because a persisted
  * round carries the previous round's InMemoryRelation inside its plan
  * and per-job plan rendering is exponential in that nesting depth —
  * and the round a new round replaces is released as soon as the new
  * one is materialized (the reference's `juice … delete_input=1`).
  * Checkpoint blocks live outside the CacheManager, so `clearCache()`
  * cannot free them; only this explicit release does, short of a GC.
  *
  * WAVE LOOPS ([[waves]] + [[unionWaves]]): [[Graph]]
  * `triangleCountsWith`, [[Fuzzy]] `editDistanceJoinAutoWaved` and
  * both regimes of [[Multimodal]] `ahashNearDupPairs`. Each caller
  * keeps its own wave predicate and its own post-union step; the wave
  * count rule and the per-wave materialize-then-nudge loop live here.
  */
private[graft] object Lineage {

  /** The checkpoints one round loop created. [[next]] materializes the
    * next round and releases the round it replaces; [[release]] frees
    * the live round for loops whose result does not read it. Only RDDs
    * this object checkpointed are ever released — never a checkpoint
    * embedded in caller input.
    */
  final class Rounds {
    private var live: Option[RDD[_]] = None

    /** Eagerly checkpoint `round` (flat LogicalRDD plan), then release
      * the previous round's storage. Read the returned frame, not
      * `round`, for anything the loop needs from this round — `round`
      * would re-run the round's joins.
      */
    def next(round: DataFrame): DataFrame = {
      val cut = round.localCheckpoint(true)
      release()
      // the RDD behind the checkpoint: `cut.rdd` would wrap it in a
      // NEW deserializing RDD whose unpersist frees nothing
      live = cut.queryExecution.analyzed match {
        case l: LogicalRDD => Some(l.rdd)
        case _ => None
      }
      cut
    }

    def release(): Unit = {
      live.foreach(_.unpersist(blocking = false))
      live = None
    }
  }

  /** Wave count for `volume` units of work against a per-wave
    * `ceiling`: 1 when volume ≤ ceiling, else ceil(volume / ceiling),
    * capped at `maxWaves`. Exact integers throughout, so no volume — a
    * DECIMAL pre-count past `Long.MaxValue` included — can overflow the
    * decision it exists to bound.
    */
  def waves(volume: BigInt, ceiling: Long, maxWaves: Int = Int.MaxValue): Int = {
    require(ceiling > 0, s"per-wave ceiling must be positive, got $ceiling")
    require(maxWaves >= 1, s"maxWaves must be >= 1, got $maxWaves")
    if (volume <= ceiling) 1
    else ((volume + ceiling - 1) / ceiling).min(BigInt(maxWaves)).toInt
  }

  /** Run `wave(0) … wave(waves - 1)` as SEQUENTIAL waves and union
    * them. Each wave is eagerly localCheckpoint'ed so its shuffle
    * dependencies become unreachable before the next wave writes. The
    * shuffle files die with those dependency objects, which die at the
    * next collection — on one box (local mode) a nudge after each wave
    * but the last is what makes the 1/waves scratch bound real. The
    * last wave has no successor to make room for, so it takes none. On
    * a shared cluster driver a forced full GC is a latency hiccup for
    * every concurrent query, the scratch spreads over executors' local
    * disks, and spark.cleaner.periodicGC (default 30 min) already
    * bounds it — so the nudge is LOCAL-MODE-ONLY. The wave checkpoints
    * back the returned union and are reclaimed by the ContextCleaner
    * once the caller drops it.
    */
  def unionWaves(waves: Int)(wave: Int => DataFrame): DataFrame =
    (0 until waves).map { g =>
      val p = wave(g).localCheckpoint(true)
      if (g < waves - 1 && p.sparkSession.sparkContext.isLocal) System.gc()
      p
    }.reduce(_ unionAll _)
}
