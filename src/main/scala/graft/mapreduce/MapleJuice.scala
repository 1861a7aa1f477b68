package graft.mapreduce

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.functions._

import graft.operators.Lineage

/** The reference's pluggable map/reduce surface (SURVEY.md §2.9),
  * re-expressed on Datasets.
  *
  * Reference contract: a Maple is called once per input line and emits
  * `(key, value)` string pairs (`mp3/src/maple/mapler.go:10-22`); a
  * Juice is called once per key with every value for that key
  * (`mp3/src/juice/juicer.go:13-28`); keys are distributed over juice
  * tasks by a hash OR range partitioner (`mp3/src/partition.go:9-38`).
  * Value order within a group is unspecified in the reference (its
  * "ShuffleSort" concatenates per-node files in arrival order,
  * `mp3/src/maplejuice.go:623-652`) and is unspecified here too.
  */
trait Maple extends Serializable {
  def maple(line: String): IterableOnce[(String, String)]
}

trait Juice extends Serializable {
  def juice(key: String, values: Iterator[String]): IterableOnce[(String, String)]
}

sealed trait PartitionStrategy
/** FNV-hash in the reference; Murmur3 here — same co-location semantics. */
case object HashPartition extends PartitionStrategy
/** Contiguous sorted key ranges (`mp3/src/partition.go:12-19`). */
case object RangePartition extends PartitionStrategy

object MapleJuiceJob {

  /** Distinct `(key, value)` pairs one map task's combine buffer holds
    * before it flushes. Kept small because a large buffer is slow to
    * fill with pairs that never repeat: on 4 M all-distinct pairs (4
    * cores) a 65,536-entry buffer doubled a job's time and a 1,024-entry
    * one added about a third.
    */
  private val CombineCap = 1 << 10

  /** Run a Maple → shuffle → Juice job.
    *
    * Both partitioners are one exchange + one in-partition sort + a
    * walk over sorted key runs (Hadoop's sort-based reduce input,
    * SURVEY §2.6 P5): `repartition` co-locates keys exactly as the
    * reference's hash partitioner does, `repartitionByRange` gives
    * contiguous, totally-ordered key ranges as its range partitioner
    * does.
    *
    * The range path reads the combined Maple output twice: the
    * RangePartitioner's sampling job cuts key ranges from it, as the
    * reference sorts the emitted keys before cutting them
    * (`mp3/src/partition.go:12-19`), and the map stage then shuffles
    * it. That output is shared through [[Lineage.shared]] so the Maple
    * runs once per input line; its CacheManager entry lives until the
    * session's `clearCache()`. The hash path reads it once and shares
    * nothing.
    *
    * Unlike the reference, which ships every emitted pair, each map
    * task collapses identical `(key, value)` pairs into one counted
    * record before the shuffle ([[combine]]), and the reduce-side walk
    * replays each value `count` times. Equal strings are
    * interchangeable, so a Juice still sees exactly the multiset of
    * values the reference would hand it, one call per key, with no
    * combiner to write. The buffer lives on the task's heap, outside
    * Spark's memory manager: each running map task holds up to
    * [[CombineCap]] (1,024) distinct pairs, keys and values included,
    * before it flushes, so a Maple that emits large values should expect
    * that many of them live per task. All-distinct pairs gain nothing
    * and pay the hashing.
    */
  def run(input: Dataset[String], m: Maple, j: Juice,
          numPartitions: Int,
          strategy: PartitionStrategy = HashPartition): Dataset[(String, String)] = {
    val spark = input.sparkSession
    import spark.implicits._
    val kvn: Dataset[(String, String, Long)] =
      input.mapPartitions(lines => combine(lines.flatMap(m.maple(_)), CombineCap))
    // BOTH paths are one exchange + one in-partition sort + the
    // sorted-run walk (Hadoop's sort-based reduce). The hash path used
    // to chain .repartition(n, _1).groupByKey(_._1): groupByKey keys on
    // a CLOSURE-derived column Catalyst cannot relate to _1's hash
    // partitioning, so it re-exchanged AND re-sorted the whole KV
    // stream — a second full shuffle carrying zero information (round
    // 16, measured on the 306M-pair 136 MB Condorcet workload:
    // 80.6 s → 43.4 s median end-to-end from removing it). The range
    // exchange's sampling job and its map stage both read kvn, so the
    // range path shares it: the Maple runs once, and its CacheManager
    // entry lives until clearCache().
    val partitioned = strategy match {
      case HashPartition  => kvn.repartition(numPartitions, col("_1"))
      case RangePartition => Lineage.shared(kvn).repartitionByRange(numPartitions, col("_1"))
    }
    partitioned
      .sortWithinPartitions(col("_1"))
      .mapPartitions { it =>
        // walk contiguous runs of equal keys in the sorted stream
        // (named `in`, not `buffered`: inside the anonymous Iterator
        // subclass a bare `buffered` resolves to Iterator's own
        // .buffered method, silently shadowing the outer val)
        val in = it.buffered
        new Iterator[Iterator[(String, String)]] {
          def hasNext: Boolean = in.hasNext
          def next(): Iterator[(String, String)] = {
            val k = in.head._1
            // each (k, v, count) record replays v count times
            val values = new Iterator[String] {
              private var v: String = _
              private var left = 0L
              def hasNext: Boolean = left > 0 || (in.hasNext && in.head._1 == k)
              def next(): String = {
                if (left == 0) {
                  if (!hasNext) throw new NoSuchElementException(k)
                  val r = in.next()
                  v = r._2
                  left = r._3
                }
                left -= 1
                v
              }
            }
            // the trailing by-name ++ drains any records a Juice left
            // unconsumed, so the stream stays aligned on run starts
            j.juice(k, values).iterator ++ {
              while (in.hasNext && in.head._1 == k) in.next()
              Iterator.empty[(String, String)]
            }
          }
        }.flatten
      }
  }

  /** Map-side combine: `(key, value, count)` records whose counts sum,
    * per pair, to its multiplicity in `pairs`. Distinct pairs collect in
    * a hash map of at most `cap` entries, flushed whenever it fills.
    */
  private[graft] def combine(pairs: Iterator[(String, String)],
                             cap: Int): Iterator[(String, String, Long)] =
    // flatten drains each flushed buffer before asking for the next
    new Iterator[Iterator[(String, String, Long)]] {
      def hasNext: Boolean = pairs.hasNext
      def next(): Iterator[(String, String, Long)] = {
        // a fresh map per flush, sized never to rehash: a drained
        // buffer is garbage at once instead of staying live for the
        // rest of the task
        val counts = new java.util.HashMap[(String, String), Array[Long]](2 * cap)
        while (counts.size < cap && pairs.hasNext)
          counts.computeIfAbsent(pairs.next(), _ => Array(0L))(0) += 1
        counts.entrySet.iterator.asScala.map(e => (e.getKey._1, e.getKey._2, e.getValue()(0)))
      }
    }.flatten

  /** Binary-executable compatibility via `rdd.pipe`, the Hadoop
    * Streaming contract the reference's own `hadoop_*` ports use:
    * map exe reads lines on stdin and emits `k,v` lines (the reference
    * Emit format, `mp3/src/maple/mapler.go:20-22`); reduce exe reads
    * key-sorted `k\tv` lines and emits `k\tv` lines. Malformed map
    * output (no comma) is dropped, matching WriteMapleKeys
    * (`mp3/src/maplejuice.go:350-353`).
    */
  def runPipe(input: Dataset[String], mapleCmd: Seq[String], juiceCmd: Seq[String],
              numPartitions: Int): Dataset[(String, String)] = {
    val spark = input.sparkSession
    import spark.implicits._
    val kv = input.rdd.pipe(mapleCmd)
      .flatMap { line =>
        val i = line.indexOf(',')
        if (i < 0) None else Some((line.substring(0, i), line.substring(i + 1)))
      }
    val reduced = kv
      .repartitionAndSortWithinPartitions(
        new org.apache.spark.HashPartitioner(numPartitions))
      .map { case (k, v) => s"$k\t$v" }
      .pipe(juiceCmd)
      .map { line =>
        val i = line.indexOf('\t')
        if (i < 0) (line, "") else (line.substring(0, i), line.substring(i + 1))
      }
    spark.createDataset(reduced)
  }

  /** The reference's output format: `key<TAB>value` text lines
    * (SURVEY §2.1 S11), one file when `coalesce1` (CollectJuices
    * concatenates to a single SDFS file, `mp3/src/maplejuice.go:540-568`).
    */
  def writeTsv(ds: Dataset[(String, String)], path: String,
               coalesce1: Boolean = false): Unit = {
    val out = ds.toDF("k", "v").select(concat_ws("\t", col("k"), col("v")))
    (if (coalesce1) out.coalesce(1) else out).write.mode("overwrite").text(path)
  }
}
