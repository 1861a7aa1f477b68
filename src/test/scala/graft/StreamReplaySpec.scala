package graft

import java.io.File

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.streaming.StreamReplay

/** The multi-batch replay fixture must be FALSIFIABLE: the planted
  * three-weeks-late event has to LEAK into a windowed aggregate when
  * the source is consumed as one batch (watermark still 0 when it
  * arrives), and be DROPPED when the same replay runs one file per
  * batch (watermark past Jan 20 by then). If both executions agreed,
  * the gate row would not actually be testing watermark advancement.
  */
class StreamReplaySpec extends SparkSpecBase {

  private lazy val dir = sf("sf0.001")

  test("replay dirs hold 3 ordered splits with the sentinel in the last") {
    for ((replay, idCheck) <- Seq(
        StreamReplay.ensureEvents(spark, dir) ->
          (col("user_id") === StreamReplay.SentinelUserId),
        StreamReplay.ensureDocs(spark, dir) ->
          (col("doc_id") > StreamReplay.SentinelMinId))) {
      val files = new File(replay).listFiles()
        .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
      assert(files.map(_.getName).toSeq == Seq("0.parquet", "1.parquet", "2.parquet"))
      assert(files.map(_.lastModified).sorted.toSeq ==
        files.map(_.lastModified).toSeq, "mtimes must replay in name order")
      assert(spark.read.parquet(files(2).getPath).filter(idCheck).count() == 1,
        s"sentinel row must sit in the LAST split of $replay")
      assert(spark.read.parquet(files(0).getPath, files(1).getPath)
        .filter(idCheck).count() == 0, "sentinel must not appear earlier")
    }
  }

  /** st2's shape over the replay dir, single- vs multi-batch. */
  private def hourly(maxFilesPerTrigger: Option[Int]): DataFrame = {
    val replay = StreamReplay.ensureEvents(spark, dir)
    val reader = spark.readStream.schema(spark.read.parquet(replay).schema)
    maxFilesPerTrigger.foreach(n => reader.option("maxFilesPerTrigger", n.toString))
    val agg = graft.core.EventTime.normalize(reader.parquet(replay))
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("window.start").as("hour"), col("event_type"), col("n_events"))
    val name = "replay_spec_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val q = agg.writeStream.format("memory").queryName(name)
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    try q.awaitTermination() finally q.stop()
    spark.table(name)
  }

  test("the planted late event leaks single-batch and is dropped multi-batch") {
    val sentinelHour = java.sql.Timestamp.from(
      java.time.Instant.parse("2024-01-01T06:00:00Z"))
    def sentinelViews(df: DataFrame): Long = {
      val r = df.filter(col("hour") === lit(sentinelHour) &&
          col("event_type") === "view")
        .agg(coalesce(sum(col("n_events")), lit(0L))).head().getLong(0)
      r
    }
    val single = hourly(maxFilesPerTrigger = None)
    val multi = hourly(maxFilesPerTrigger = Some(1))
    // pristine truth for that hour, from the original table
    val pristine = graft.core.EventTime.normalize(
        spark.read.parquet(s"$dir/events.parquet"))
      .filter(date_trunc("hour", col("ts")) === lit(sentinelHour) &&
        col("event_type") === "view")
      .count()
    assert(sentinelViews(single) == pristine + 1,
      "single-batch execution must LEAK the late row (watermark still 0) — " +
        "otherwise the fixture can't falsify a silent single-batch fallback")
    assert(sentinelViews(multi) == pristine,
      "multi-batch execution must DROP the late row")
  }

  test("the duplicate document sentinel is dropped across the batch boundary") {
    val replay = StreamReplay.ensureDocs(spark, dir)
    val src = spark.readStream
      .schema(spark.read.parquet(replay).schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(replay)
      .withColumn("ts", timestamp_seconds(col("doc_id") + lit(1)))
    val deduped = graft.streaming.StreamingDedup.exact(src, "text", "ts", "1 hour")
    val name = "replay_doc_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val q = deduped.writeStream.format("memory").queryName(name)
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    try q.awaitTermination() finally q.stop()
    val out = spark.table(name)
    assert(out.filter(col("doc_id") > StreamReplay.SentinelMinId).count() == 0,
      "the batch-3 duplicate must be dropped by state that survived " +
        "the batch boundary")
    // and the text it duplicates (split 2's last doc) survives exactly
    // once — keyed by text, not id, in case that doc is itself a
    // duplicate of an earlier one (then ITS id was deduped too and the
    // one surviving copy carries the earlier id)
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val r = docs.agg(min(col("doc_id")), max(col("doc_id"))).head()
    val c2 = r.getLong(0) + 2 * (r.getLong(1) - r.getLong(0)) / 3
    val srcText = docs.filter(col("doc_id") <= c2)
      .orderBy(col("doc_id").desc).limit(1)
      .head().getAs[String]("text")
    assert(out.filter(col("text") === srcText).count() == 1)
  }

  test("st7 foreachBatch file sink equals the batch trending twin") {
    import org.apache.spark.sql.expressions.Window
    val streamed = SparkEntry.queries("st7_streaming_trending")(spark, dir)
      .collect().toSeq
    // batch twin over the pristine table: counts, emission frontier
    // (max ts - 1h), per-day rank — the oracle's logic in Spark
    val ev = graft.core.Tables(spark, dir).events
    val wm = ev.agg((max(col("ts")).cast("long") - 3600L).as("w"))
    val g = ev.groupBy(date_trunc("day", col("ts")).cast("date").as("day"),
        col("event_type"))
      .agg(count(lit(1)).as("n_events"))
      .crossJoin(broadcast(wm))
      .filter(col("day").cast("timestamp").cast("long") + 86400L <= col("w"))
    val byDay = Window.partitionBy(col("day"))
      .orderBy(col("n_events").desc, col("event_type"))
    val batchTwin = g.withColumn("rk", row_number().over(byDay).cast("long"))
      .filter(col("rk") <= 3)
      .select(col("day"), col("rk"), col("event_type"), col("n_events"))
      .orderBy(col("day"), col("rk"))
      .collect().toSeq
    assert(streamed.nonEmpty && streamed == batchTwin,
      s"stream emitted ${streamed.size} rows, batch twin ${batchTwin.size}")
  }

  test("st10 streamed-session sweep equals the batch concurrency twin " +
    "at the emission frontier") {
    val streamed = SparkEntry.queries("st10_streaming_concurrency")(spark, dir)
      .collect().toSeq
    // batch twin: a2's sessions on the pristine table, frontier-filtered
    // (session_end + gap <= max ts - 1h), then a14's sweep
    val ev = graft.core.Tables(spark, dir).events
    val wm = ev.agg((max(col("ts")).cast("long") - 3600L).as("w"))
    val sess = graft.operators.Temporal.sessionize(
        ev.select(col("user_id"), col("ts")), "user_id", "ts", "30 minutes")
      .crossJoin(broadcast(wm))
      .filter(col("session_end").cast("long") + 1800L <= col("w"))
    val batchTwin = graft.operators.Temporal.peakConcurrency(
        sess, "session_start", "session_end")
      .orderBy(col("day")).collect().toSeq
    assert(streamed.nonEmpty && streamed == batchTwin,
      s"stream emitted ${streamed.size} rows, batch twin ${batchTwin.size}")
  }

  test("replay state partitions: 4 at 0 B, one per 8 MB above that, " +
    "capped at defaultParallelism") {
    import graft.queries.StreamingQueries.replayStatePartitions
    val mb8 = 8L << 20
    assert(replayStatePartitions(0L, 32) == 4)
    assert(replayStatePartitions(5 * mb8 - 1, 32) == 4)
    assert(replayStatePartitions(5 * mb8, 32) == 5)
    assert(replayStatePartitions(6 * mb8 - 1, 32) == 5)
    assert(replayStatePartitions(6 * mb8, 32) == 6)
    assert(replayStatePartitions(1000 * mb8, 32) == 32)
    // the cap wins over the floor on a box narrower than 4
    assert(replayStatePartitions(0L, 2) == 2)
  }
}
