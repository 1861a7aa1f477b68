package graft

import java.sql.Timestamp

import org.apache.spark.sql.functions._

import graft.streaming.StreamingDedup

class StreamingDedupSpec extends SparkSpecBase {

  private def ts(s: Long) = new Timestamp(s * 1000)

  test("exact streaming dedup drops in-horizon duplicates, keeps distinct docs") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val input = MemoryStream[(Long, String, Timestamp)]
    val out = StreamingDedup.exact(
      input.toDF().toDF("id", "text", "ts"), "text", "ts", horizon = "10 minutes")
    val q = out.writeStream.format("memory")
      .queryName("dedup_exact").outputMode("append").start()
    try {
      input.addData(
        (1L, "the quick brown fox", ts(0)),
        (2L, "the quick brown fox", ts(30)), // dup within horizon
        (3L, "an entirely different doc", ts(60)))
      q.processAllAvailable()
      input.addData((4L, "the quick brown fox", ts(120))) // still within
      q.processAllAvailable()
      val got = s.table("dedup_exact").select($"id").as[Long].collect().toSet
      assert(got.contains(3L))
      // exactly one copy of the duplicated text survives
      assert(Set(1L, 2L, 4L).intersect(got).size == 1)
    } finally q.stop()
  }

  test("dedup state expires with the watermark: a late re-arrival far " +
    "past the horizon is emitted again") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val input = MemoryStream[(Long, String, Timestamp)]
    val out = StreamingDedup.exact(
      input.toDF().toDF("id", "text", "ts"), "text", "ts", horizon = "1 minute")
    val q = out.writeStream.format("memory")
      .queryName("dedup_expiry").outputMode("append").start()
    try {
      // not ts(0): an event AT the initial watermark (epoch 0) is
      // dropped as late before it ever reaches the dedup state
      input.addData((1L, "recurring doc", ts(100)))
      q.processAllAvailable()
      // push the watermark far past the fingerprint's expiry
      input.addData((2L, "other doc", ts(700)))
      q.processAllAvailable()
      // same content again, an hour later: state is gone, re-emitted
      input.addData((3L, "recurring doc", ts(3700)))
      q.processAllAvailable()
      val got = s.table("dedup_expiry").select($"id").as[Long].collect().toSet
      assert(got == Set(1L, 2L, 3L), s"got $got")
    } finally q.stop()
  }

  test("streaming simhash fingerprint equals the batch groupBy fingerprint") {
    val s = spark
    val docs = graft.core.Tables(s, sf("sf0.001")).documents.limit(200)
    val streaming = StreamingDedup.withSimhash(docs, "text")
      .select(col("doc_id"), col("fp"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val batch = graft.operators.Dedup.simhashFingerprints(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(streaming.nonEmpty && streaming == batch)
  }

  test("native simhash64 expression equals the composed 64-fold form " +
    "and the batch aggregate, empty/null handled") {
    val s = spark
    import s.implicits._
    val docs = graft.core.Tables(s, sf("sf0.001")).documents.limit(200)
    val native = StreamingDedup.withSimhash(docs, "text")
      .select(col("doc_id"), col("fp"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val composed = ReferenceForms.withSimhashComposed(docs, "text")
      .select(col("doc_id"), col("fp"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(native.nonEmpty && native == composed)
    // empty token array -> 0L (zero votes lose every bit); null -> null
    val edge = Seq((1L, ""), (2L, "   ")).toDF("id", "text")
    val fps = StreamingDedup.withSimhash(edge, "text")
      .select($"id", $"fp").as[(Long, Long)].collect().toMap
    assert(fps == Map(1L -> 0L, 2L -> 0L))
    val nullRow = Seq((1L, Option.empty[String])).toDF("id", "text")
    val nullFp = StreamingDedup.withSimhash(nullRow, "text")
      .select($"fp").collect().head
    assert(nullFp.isNullAt(0))
  }

  test("streaming corpus clean dedups AND quality-filters in one pipeline") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val input = MemoryStream[(Long, String, Timestamp)]
    val good = ("the quick brown fox jumps over the lazy dog and " * 5).trim
    val junk = "!!! ??? ... ,,, ;;; ::: !!! ??? ... ,,,"
    val out = graft.streaming.StreamingCorpusClean.clean(
      input.toDF().toDF("id", "text", "ts"), "text", "ts",
      horizon = "10 minutes", minQuality = 0.5)
    val q = out.writeStream.format("memory")
      .queryName("corpus_clean").outputMode("append").start()
    try {
      input.addData(
        (1L, good, ts(100)),
        (2L, good, ts(130)), // duplicate: dropped by dedup state
        (3L, junk, ts(160))) // survives dedup, fails quality
      q.processAllAvailable()
      val got = s.table("corpus_clean")
        .select($"id", $"quality").as[(Long, Double)].collect()
      assert(got.length == 1 && Set(1L, 2L).contains(got.head._1),
        s"got ${got.toSeq}")
      assert(got.head._2 >= 0.5)
    } finally q.stop()
  }

  test("simhash streaming dedup collapses near-identical docs") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val input = MemoryStream[(Long, String, Timestamp)]
    val base = Seq.tabulate(40)(i => s"tok$i").mkString(" ")
    val out = StreamingDedup.simhash(
      input.toDF().toDF("id", "text", "ts"), "text", "ts", horizon = "10 minutes")
    val q = out.writeStream.format("memory")
      .queryName("dedup_simhash").outputMode("append").start()
    try {
      // identical token multiset => identical simhash => collapsed
      input.addData((1L, base, ts(0)), (2L, base, ts(10)))
      q.processAllAvailable()
      val got = s.table("dedup_simhash").select($"id").as[Long].collect().toSet
      assert(got.size == 1 && Set(1L, 2L).intersect(got).size == 1)
    } finally q.stop()
  }
}
