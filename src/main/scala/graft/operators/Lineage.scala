package graft.operators

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Dataset, classic}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.storage.StorageLevel

/** The engine's one storage policy: the only code in `src/main` that
  * persists, checkpoints or releases storage (TablesSpec fails the
  * build on any other `persist`/`unpersist`/`localCheckpoint`/
  * `checkpoint`/`cache` call). Spark's storage model is the RDD
  * paper's explicit persist/unpersist; deciding when to call each is
  * the policy, and it has three forms.
  *
  * SHARED ([[shared]]): a relation that two consumers of ONE returned
  * plan read — a self-join's sides, an aggregate and its join-back, a
  * range exchange's sampling job and its map stage (MapleJuice's range
  * path). AQE plans the branches independently (no ReusedExchange
  * across them), and the RangePartitioner samples its input in a job
  * of its own, so without the persist the relation's pipeline runs
  * once per consumer. The returned plan stays lazy, so the caller's action
  * runs everything once and plan guards still see the
  * InMemoryTableScan. Outside a [[scope]] the entry lives until the
  * session's `clearCache()` (the harnesses clear between queries);
  * inside one it is released when the scope ends.
  *
  * SCOPE ([[scope]]): for operators that are eager anyway (a sizing
  * count, a bloom build, a breaker pre-count, a profile). The body
  * persists its shared inputs through [[shared]] and checkpoints its
  * measured intermediates through [[materialize]] ([[release]] frees a
  * shared relation early). A DataFrame result that reads a relation
  * the scope persisted is eagerly checkpointed; then everything the
  * scope persisted is released, and so is every checkpoint it made
  * that the result does not read. What the result
  * still reads passes to the enclosing scope, so a nested scope
  * (DedupIndex's probe inside its batch scope) frees as much as a flat
  * one. The reference's `juice … delete_input=1`.
  *
  * LOOPS ([[Rounds]], [[waves]] + [[unionWaves]]): per-round and
  * per-wave state is eagerly checkpointed, NEVER persisted — a
  * persisted round carries the previous round's InMemoryRelation
  * inside its plan, and per-job plan rendering is exponential in that
  * nesting depth — and the round a new round replaces is released as
  * soon as the new one is materialized.
  *
  * Checkpoint blocks live outside the CacheManager, so `clearCache()`
  * cannot free them; only an explicit release here does, short of the
  * ContextCleaner collecting a checkpoint nothing references. Every
  * persist uses [[Level]].
  */
private[graft] object Lineage {

  /** The one storage level: spill to disk rather than recompute. */
  private val Level = StorageLevel.MEMORY_AND_DISK

  /** What one open [[scope]] has persisted and checkpointed. */
  private final class Held {
    var cached: List[Dataset[_]] = Nil
    var cuts: List[RDD[_]] = Nil
  }

  /** This thread's open scopes, innermost first. Not inheritable: Spark
    * pool threads started inside a scope must not see it.
    */
  private val open = new ThreadLocal[List[Held]] {
    override def initialValue(): List[Held] = Nil
  }

  /** Persist `ds` for the consumers of one plan (see SHARED above). */
  def shared[T](ds: Dataset[T]): Dataset[T] = {
    val p = ds.persist(Level)
    open.get.headOption.foreach(h => h.cached ::= p)
    p
  }

  /** Free `ds`, which the innermost [[scope]] shared, before the scope
    * ends — for a body whose later steps need the room and no longer
    * read it.
    */
  def release(ds: Dataset[_]): Unit = {
    ds.unpersist(blocking = false)
    open.get.headOption.foreach(h => h.cached = h.cached.filterNot(_ eq ds))
  }

  /** Eagerly checkpoint `ds` (flat LogicalRDD plan). Inside a [[scope]]
    * it is released at the scope's end unless the result reads it;
    * outside one the ContextCleaner reclaims it once unreferenced.
    */
  def materialize[T](ds: Dataset[T]): Dataset[T] = {
    val (cut, rdd) = cutOf(ds)
    for (h <- open.get.headOption; r <- rdd) h.cuts ::= r
    cut
  }

  /** Run `body` as one storage scope (see SCOPE above) and return its
    * result, checkpointed when it is a Dataset reading a relation the
    * scope persisted.
    */
  def scope[T](body: => T): T = {
    val h = new Held
    open.set(h :: open.get)
    var out: Option[T] = None
    try {
      out = Some(body match {
        case ds: Dataset[_] if readsCached(ds, h.cached) =>
          materialize(ds).asInstanceOf[T]
        case r => r
      })
      out.get
    } finally {
      open.set(open.get.tail)
      val read = out match {
        case Some(ds: Dataset[_]) => checkpointsOf(ds)
        case _ => Set.empty[Int]
      }
      val (kept, freed) = h.cuts.partition(r => read(r.id))
      h.cached.foreach(_.unpersist(blocking = false))
      freed.foreach(_.unpersist(blocking = false))
      open.get.headOption.foreach(p => p.cuts :::= kept)
    }
  }

  /** Does `ds`'s plan read any of the `cached` relations? */
  private def readsCached(ds: Dataset[_], cached: Seq[Dataset[_]]): Boolean =
    cached.nonEmpty && {
      val cm = ds.sparkSession.asInstanceOf[classic.SparkSession]
        .sharedState.cacheManager
      val builders = cached.flatMap(c =>
        cm.lookupCachedData(c.asInstanceOf[classic.Dataset[_]]))
        .map(_.cachedRepresentation.cacheBuilder)
      ds.queryExecution.withCachedData.exists {
        case r: InMemoryRelation => builders.exists(_ eq r.cacheBuilder)
        case _ => false
      }
    }

  /** Ids of the checkpointed RDDs `ds`'s plan reads. */
  private def checkpointsOf(ds: Dataset[_]): Set[Int] =
    ds.queryExecution.analyzed.collect { case l: LogicalRDD => l.rdd.id }.toSet

  /** Eager local checkpoint plus the RDD behind it: `cut.rdd` would wrap
    * it in a NEW deserializing RDD whose unpersist frees nothing.
    */
  private def cutOf[T](ds: Dataset[T]): (Dataset[T], Option[RDD[_]]) = {
    val cut = ds.localCheckpoint(true)
    (cut, cut.queryExecution.analyzed match {
      case l: LogicalRDD => Some(l.rdd)
      case _ => None
    })
  }

  /** The checkpoints one round loop created. [[next]] materializes the
    * next round and releases the round it replaces; [[release]] frees
    * the live round for loops whose result does not read it. Only RDDs
    * this object checkpointed are ever released — never a checkpoint
    * embedded in caller input.
    */
  final class Rounds {
    private var live: Option[RDD[_]] = None

    /** Eagerly checkpoint `round`, then release the previous round's
      * storage. Read the returned frame, not `round`, for anything the
      * loop needs from this round — `round` would re-run the round's
      * joins.
      */
    def next(round: DataFrame): DataFrame = {
      val (cut, rdd) = cutOf(round)
      release()
      live = rdd
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
    * them. Each wave is eagerly checkpointed so its shuffle
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
