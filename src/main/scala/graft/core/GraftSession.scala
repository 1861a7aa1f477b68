package graft.core

import org.apache.spark.sql.SparkSession

/** Session factory for the graft engine.
  *
  * Tuned for the local[N] harness but with settings that carry to a real
  * cluster: AQE on (runtime shuffle-partition coalescing + skew-join
  * splitting), UTC session time zone for oracle parity, shuffle
  * partitions sized to cores rather than the 200 default (on a cluster
  * this is overridden per-deploy; AQE coalesces down from whatever the
  * initial number is).
  *
  * Local (`file:`) file creation and checkpoint commits fork no
  * process. Without `libhadoop`, Hadoop's stock local file system runs
  * a `chmod` shell for every file and directory it creates, and the
  * `FileContext` rename that Spark's default checkpoint manager uses
  * runs a `readlink` shell per file. A streaming micro-batch writes a
  * dozen checkpoint files, so those forks were most of its time
  * (`gossip_stream` on a 4-core box: 374 of 464 ms per batch went to
  * state commits). Two settings remove them:
  *  - `spark.hadoop.fs.file.impl` = [[NioLocalFileSystem]]: the same
  *    checksummed file system, with modes set through `java.nio`;
  *  - `spark.sql.streaming.checkpointFileManagerClass` =
  *    [[LocalCheckpointFileManager]]: rename-based commits over that
  *    file system for `file:` checkpoints, Spark's default elsewhere.
  * Both are set at session build, before anything resolves `file:`:
  * Hadoop caches file systems by scheme, not by implementation.
  *
  * The extensions add one AQE rule: once AQE has measured an ORDER BY's
  * input and it is at most `spark.sql.adaptive.coalescePartitions.minPartitionSize`
  * (1 MiB), the sort runs in one partition and its range exchange —
  * a sampling job plus a map stage — is dropped
  * ([[graft.plans.SmallSortOnePartition]]). Setting that size decides
  * the gate; this object sets no value for it.
  */
object GraftSession {

  /** Extra configs applied on top of whatever master/memory the caller
    * picks. Kept in one place so Verify, Bench and the test suites all
    * run identical sessions.
    */
  def tuned(b: SparkSession.Builder, shufflePartitions: Int): SparkSession.Builder =
    b.config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // Runtime-sized broadcast decisions get more headroom than the
      // compile-time default: AQE replans joins with EXACT materialized
      // sizes, so a 64 MB ceiling cannot misestimate — it just lets the
      // 10-60 MB relations this engine keeps meeting (canonical edge
      // sets, oriented adjacency, persisted dedup sides) broadcast
      // instead of sort-merging a 40M-row stream against them (g2
      // measured 9.5 s -> 6.5 s). The STATIC threshold stays at
      // Spark's 10 MB default: estimate-based broadcasts are where the
      // OOM/misestimate risk lives. 64 MB per executor is routine on
      // warehouse clusters; single-JVM local mode shares one copy.
      .config("spark.sql.adaptive.autoBroadcastJoinThreshold", "64MB")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.parquet.filterPushdown", "true")
      // graft results feed a hash-compare oracle: never silently promote
      // to ANSI error behavior differences.
      .config("spark.sql.ansi.enabled", "false")
      // some events.parquet generations carry TIMESTAMP(NANOS); read
      // those as raw int64 so EventTime.normalize can truncate to
      // micros deterministically (timestamp[us] files are unaffected).
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // native graft expressions (token_count, ...) as SQL functions,
      // and the AQE rule that sorts small measured ORDER BY inputs in
      // one partition (graft.plans.SmallSortOnePartition)
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      // fork-free local file I/O (see the object doc)
      .config("spark.hadoop.fs.file.impl", classOf[NioLocalFileSystem].getName)
      .config(LocalCheckpointFileManager.ClassKey,
        classOf[LocalCheckpointFileManager].getName)
}
