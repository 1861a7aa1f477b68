package graft

import org.apache.spark.sql.functions._

import graft.core.Parallelism

class ParallelismSpec extends SparkSpecBase {

  private def parquetOf(rows: Int): org.apache.spark.sql.DataFrame = {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_fanout").toString
    (0 until rows).map(i => (i.toLong, s"doc $i body"))
      .toDF("id", "text")
      .coalesce(1) // one file, one row group: the under-split shape
      .write.mode("overwrite").parquet(dir)
    spark.read.parquet(dir)
  }

  test("fanOutSmallScan widens an under-split scan to defaultParallelism") {
    val df = parquetOf(200)
    assert(df.rdd.getNumPartitions < spark.sparkContext.defaultParallelism)
    val fanned = Parallelism.fanOutSmallScan(df)
    assert(fanned.rdd.getNumPartitions ==
      spark.sparkContext.defaultParallelism)
    // same rows, only the layout changed
    assert(fanned.agg(count(lit(1))).head.getLong(0) == 200L)
  }

  test("fanOutSmallScan refuses past the byte ceiling (under-split on a " +
    "big cluster is not a license for a huge round-robin shuffle)") {
    val df = parquetOf(200)
    // 1 byte: every real scan exceeds it
    val same = Parallelism.fanOutSmallScanWith(df, maxBytes = 1L)
    assert(same.rdd.getNumPartitions == df.rdd.getNumPartitions,
      "repartition must be skipped when the estimated input size " +
        "exceeds the fan-out ceiling")
  }
}
