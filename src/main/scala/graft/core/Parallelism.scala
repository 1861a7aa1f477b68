package graft.core

import org.apache.spark.sql.DataFrame

/** Scan fan-out for CPU-bound projections on under-split inputs.
  *
  * Parquet parallelism floors at the file's row-group count: a
  * single-row-group table scans as ONE task no matter how many split
  * offsets the scheduler assigns (every split but the row-group
  * holder's is empty), so a regex-heavy projection riding the scan
  * serializes on one core — the measured t7 "10.5× decade" at sf1 was
  * 10× the regex work on a 1-row-group documents.parquet, not a plan
  * regression (SCALING_r15 / VERDICT r15 item 5).
  *
  * [[fanOutSmallScan]] inserts one bounded repartition ONLY when the
  * compiled scan yields fewer partitions than the cluster has cores —
  * i.e. exactly when the exchange is cheap by construction (the whole
  * input is under cores × maxSplitBytes, a few hundred MB on real
  * executors). A 100 TB table scans as thousands of splits, the
  * condition is false, and no shuffle is ever added; callers gate the
  * cost at the source layout, not a config flag.
  */
object Parallelism {

  /** Ceiling on the bytes a fan-out repartition may move. On
    * `local[32]` the wrapped inputs are single-digit MB, far under any
    * sane value; the guard exists for big clusters, where
    * `parts < cores` alone no longer implies the shuffle is cheap —
    * 2000 cores × 128 MB splits would admit a ~256 GB under-split
    * table. Past the ceiling the scan's own split count is the honest
    * parallelism and the repartition is skipped.
    */
  private val FanOutMaxBytes: Long = 8L << 30

  /** `df` repartitioned to `defaultParallelism` when its physical scan
    * compiles to fewer partitions than that AND its estimated input
    * size is under the fan-out byte ceiling; `df` unchanged otherwise.
    * Use on narrow scan projections feeding per-row CPU-heavy work
    * (regex extraction, normalization) whose cost dwarfs one small
    * exchange. Row order is not preserved (callers in the catalog all
    * aggregate or sort downstream).
    */
  def fanOutSmallScan(df: DataFrame): DataFrame =
    fanOutSmallScanWith(df, FanOutMaxBytes)

  /** [[fanOutSmallScan]] with the byte ceiling pinned — the spec entry
    * that forces the refuse-past-the-ceiling side at test scale.
    */
  private[graft] def fanOutSmallScanWith(df: DataFrame,
                                         maxBytes: Long): DataFrame = {
    val cores = df.sparkSession.sparkContext.defaultParallelism
    // .rdd compiles the plan (no job for an exchange-free scan); the
    // derived lineage is discarded — only the split count is read
    val parts = df.rdd.getNumPartitions
    val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    if (parts >= cores || bytes > BigInt(maxBytes)) df
    else df.repartition(cores)
  }
}
