package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Sequence packing for training pipelines: lay the corpus out as one
  * concatenated token stream (in a deterministic document order) and
  * assign every document its start offset and the fixed-size context
  * window ("pack") it lands in — the bookkeeping a GPT-style
  * pretraining loader needs to cut `maxTokens`-sized examples without
  * padding waste.
  *
  * The core is a DISTRIBUTED PREFIX SUM, the operation naive code
  * writes as `Window.orderBy(orderCol)` — which moves the entire
  * corpus into a single partition (Spark even warns "No Partition
  * Defined for Window operation") and is the canonical 100 TB
  * scale-killer. Instead, the classic two-level scan:
  *
  *   1. range-partition by `orderCol` (so partitions are contiguous
  *      runs of the global order);
  *   2. one tiny aggregate computes per-partition token totals —
  *      numPartitions rows, folded into exclusive per-partition
  *      offsets by a bounded global window (rows = partition count,
  *      same class as the deliberate 5-row frame in Parity p3);
  *   3. broadcast-join the offsets back and take a partition-LOCAL
  *      cumulative window — every window group is one partition's
  *      rows, never the whole corpus.
  *
  * Cost: two shuffles of the data (the range exchange, and the window
  * hash exchange on the partition id) plus an O(partitions) side plan —
  * no stage ever sees more than one partition's rows in one task.
  * Correctness does not depend on where the sampled range boundaries
  * fall: any contiguous split of the order yields the same global
  * cumulative sum (SequencePackSpec asserts invariance across
  * partition counts).
  */
object SequencePack {

  /** Adds `start_tok` (exclusive prefix sum of `weightCol` in
    * `orderCol` order), `pack_id` (the window containing the first
    * token) and `n_boundary_crossings` (how many pack boundaries the
    * document straddles) to `df`.
    *
    * `orderCol` must be globally unique (it is the tie-break of the
    * stream order); `weightCol` must be a non-negative integral token
    * count. The input is persisted: the range boundaries are sampled,
    * and the partition ids must be identical in the totals branch and
    * the main branch.
    */
  def withPackAssignment(df: DataFrame, orderCol: String, weightCol: String,
                         maxTokens: Long, numParts: Int = 0): DataFrame = {
    require(maxTokens > 0, s"maxTokens must be positive, got $maxTokens")
    prefixSum(df, orderCol, weightCol, numParts, outCol = "start_tok")
      .withColumn("pack_id",
        floor(col("start_tok") / maxTokens).cast("long"))
      .withColumn("n_boundary_crossings",
        when(col(weightCol) === 0, lit(0L)).otherwise(
          floor((col("start_tok") + col(weightCol) - 1) / maxTokens) -
            floor(col("start_tok") / maxTokens)).cast("long"))
  }

  /** The bare two-level distributed prefix sum: adds `outCol` = the
    * EXCLUSIVE prefix sum of `weightCol` in `orderCol` order (the sum
    * of all strictly-preceding rows' weights; 0 for the global first
    * row). Weights may be negative — [[graft.operators.Temporal
    * .peakConcurrency]] feeds ±1 interval deltas through this to turn
    * the single-partition boundary sweep into two bounded shuffles.
    *
    * Rows whose `orderCol` values TIE receive the partial sums of some
    * arbitrary order among themselves (Spark's within-partition sort is
    * not further tie-broken); callers that emit per-row prefixes must
    * pass a unique `orderCol`, while callers that only consume
    * order-invariant reductions of the prefix (a max over rows sharing
    * one weight sign, as the concurrency sweep does) may tie.
    */
  def prefixSum(df: DataFrame, orderCol: String, weightCol: String,
                numParts: Int = 0, outCol: String = "prefix_before"): DataFrame =
    prefixSumBy(df, Seq(orderCol), weightCol, numParts, outCol)

  /** [[prefixSum]] over a COMPOSITE order — the order is the
    * lexicographic (orderCols...) tuple, which callers use to rank by
    * a non-unique value with a unique tie-break column (the rank
    * machinery behind [[Layout]]'s quantile coordinates) without
    * packing both into one long (packing overflows once value·2^30
    * exceeds the long domain — the round-11 lesson, SCALING_r11.json).
    */
  def prefixSumBy(df: DataFrame, orderCols: Seq[String], weightCol: String,
                  numParts: Int = 0,
                  outCol: String = "prefix_before"): DataFrame = {
    require(orderCols.nonEmpty, "prefixSumBy needs at least one order column")
    val n = if (numParts > 0) numParts
            else df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    val parts = Lineage.shared(df.repartitionByRange(n, orderCols.map(col): _*)
      .withColumn("__pid", spark_partition_id()))

    val wPrefix = Window.orderBy(col("__pid"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = parts.groupBy(col("__pid"))
      .agg(sum(col(weightCol)).as("__ptotal"))
      .withColumn("__poffset",
        coalesce(sum(col("__ptotal")).over(wPrefix), lit(0L)))
      .drop("__ptotal")

    val wLocal = Window.partitionBy(col("__pid"))
      .orderBy(orderCols.map(col): _*)
      .rowsBetween(Window.unboundedPreceding, -1)
    val start = coalesce(sum(col(weightCol)).over(wLocal), lit(0L)) +
      col("__poffset")
    parts.join(broadcast(offsets), Seq("__pid"))
      .withColumn(outCol, start.cast("long"))
      .drop("__pid", "__poffset")
  }

  /** Per-GROUP exclusive prefix sum: `outCol` = the sum of
    * strictly-preceding weights in `orderCol` order WITHIN each
    * `groupCol` value, distributed like [[prefixSum]]. The naive
    * spelling — `Window.partitionBy(group).orderBy(order)` — funnels
    * each group through ONE task, and at 100 TB a group (a source, a
    * table partition) is itself too big for one task. Here the data
    * range-partitions on (group, order), so a big group spans many
    * contiguous partitions; the per-(partition, group) totals fold
    * into per-group exclusive offsets through a bounded window whose
    * rows number O(partitions + groups) — each range partition's rows
    * touch at most its boundary groups. The offsets broadcast, which
    * assumes the GROUP COUNT is bounded (sources, table partitions —
    * governance grains); a caller with unbounded groups wants the
    * plain per-group window instead, because then groups are small.
    */
  def groupedPrefixSum(df: DataFrame, groupCol: String, orderCol: String,
                       weightCol: String, numParts: Int = 0,
                       outCol: String = "prefix_before"): DataFrame =
    groupedPrefixSumBy(df, groupCol, Seq(orderCol), weightCol, numParts,
      outCol)

  /** [[groupedPrefixSum]] over a COMPOSITE within-group order — the
    * grouped analogue of [[prefixSumBy]]. [[Layout.rankBucket16Pair]]
    * rides this to rank BOTH z-order dimensions in ONE shuffled pass
    * over a skinny (dim, value, uid) relation, where dim is the group.
    */
  def groupedPrefixSumBy(df: DataFrame, groupCol: String,
                         orderCols: Seq[String], weightCol: String,
                         numParts: Int = 0,
                         outCol: String = "prefix_before"): DataFrame =
    groupedPrefixSumByWithTotals(df, groupCol, orderCols, weightCol,
      numParts, outCol)._1

  /** [[groupedPrefixSumBy]] that ALSO returns the per-group weight
    * totals `(groupCol, __gtotal)` — O(groups) rows, derived from the
    * same per-(partition, group) aggregate the offsets fold already
    * pays (one more scan of the persisted range-partitioned relation,
    * no extra pass over the caller's input). [[Layout]]'s rank
    * bucketing needs exactly this total as the quantile denominator;
    * computing it here removes the caller's separate `df.count()` job
    * — previously a full extra scan of the frame per layout — and the
    * stale-count failure mode that came with passing it in.
    */
  def groupedPrefixSumByWithTotals(df: DataFrame, groupCol: String,
                                   orderCols: Seq[String], weightCol: String,
                                   numParts: Int = 0,
                                   outCol: String = "prefix_before"): (DataFrame, DataFrame) = {
    require(orderCols.nonEmpty, "groupedPrefixSumBy needs an order column")
    val n = if (numParts > 0) numParts
            else df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    val parts = Lineage.shared(df
      .repartitionByRange(n, (groupCol +: orderCols).map(col): _*)
      .withColumn("__pid", spark_partition_id()))

    val partTotals = parts.groupBy(col("__pid"), col(groupCol))
      .agg(sum(col(weightCol)).as("__ptotal"))
    val wPrefix = Window.partitionBy(col(groupCol)).orderBy(col("__pid"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = partTotals
      .withColumn("__poffset",
        coalesce(sum(col("__ptotal")).over(wPrefix), lit(0L)))
      .drop("__ptotal")
    val totals = partTotals.groupBy(col(groupCol))
      .agg(sum(col("__ptotal")).cast("long").as("__gtotal"))

    val wLocal = Window.partitionBy(col("__pid"), col(groupCol))
      .orderBy(orderCols.map(col): _*)
      .rowsBetween(Window.unboundedPreceding, -1)
    val start = coalesce(sum(col(weightCol)).over(wLocal), lit(0L)) +
      col("__poffset")
    val result = parts.join(broadcast(offsets), Seq("__pid", groupCol))
      .withColumn(outCol, start.cast("long"))
      .drop("__pid", "__poffset")
    (result, totals)
  }
}
