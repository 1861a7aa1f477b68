package graft

import org.apache.spark.sql.functions._

import graft.operators.Changelog

class ChangelogSpec extends SparkSpecBase {

  private def events = graft.core.Tables(spark, sf("sf0.001")).events

  test("compactLatest equals the window row_number twin on real events") {
    val keys = Seq("user_id")
    val payload = Seq("event_type", "value")
    val packed = Changelog.compactLatest(events, keys, "ts", "event_id", payload)
      .orderBy(col("user_id")).collect().toSeq
    val window = ReferenceForms.compactLatestWindow(events, keys, "ts", "event_id", payload)
      .orderBy(col("user_id")).collect().toSeq
    assert(packed.nonEmpty)
    assert(packed == window)
  }

  test("compactLatest tie-breaks equal timestamps on the larger id") {
    val s = spark
    import s.implicits._
    val log = Seq(
      (1L, 100L, "a", 10L), (2L, 100L, "b", 10L), (3L, 99L, "c", 10L),
      (4L, 50L, "x", 20L)
    ).toDF("event_id", "us", "state", "user_id")
      .withColumn("ts", timestamp_micros(col("us")))
    val got = Changelog.compactLatest(log, Seq("user_id"), "ts", "event_id",
        Seq("state"))
      .orderBy(col("user_id"))
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getString(3)))
    // user 10: ts tie at 100µs between ids 1 and 2 → id 2 wins
    assert(got.toSeq == Seq((10L, 2L, "b"), (20L, 4L, "x")))
  }

  test("compactWithDeletes drops dead keys and resurrects re-inserts") {
    val s = spark
    import s.implicits._
    // user 10: upsert, then delete LAST → key absent
    // user 20: delete mid-history, then upsert → survives with the upsert
    // user 30: only upserts → latest wins as in c1
    val log = Seq(
      (1L, 100L, "a", "upsert", 10L), (2L, 200L, "a", "delete", 10L),
      (3L, 100L, "b", "delete", 20L), (4L, 200L, "c", "upsert", 20L),
      (5L, 100L, "d", "upsert", 30L), (6L, 200L, "e", "upsert", 30L)
    ).toDF("event_id", "us", "state", "op", "user_id")
      .withColumn("ts", timestamp_micros(col("us")))
    val got = Changelog.compactWithDeletes(log, Seq("user_id"), "ts",
        "event_id", Seq("state"), "op", "delete")
      .orderBy(col("user_id"))
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getString(3)))
    assert(got.toSeq == Seq((20L, 4L, "c"), (30L, 6L, "e")))
  }

  test("compactWithDeletes equals the filtered window twin on real events") {
    val e = events.withColumn("op",
      when(col("event_id") % 7 === 0, lit("delete")).otherwise(lit("upsert")))
    val keys = Seq("user_id")
    val got = Changelog.compactWithDeletes(e, keys, "ts", "event_id",
        Seq("event_type", "value"), "op", "delete")
      .orderBy(col("user_id")).collect().toSeq
    val twin = ReferenceForms.compactLatestWindow(e, keys, "ts", "event_id",
        Seq("event_type", "value", "op"))
      .filter(col("op") =!= "delete")
      .drop("op")
      .orderBy(col("user_id")).collect().toSeq
    assert(got.nonEmpty && got == twin)
    // the fixture is non-trivial: at least one key must actually die
    val live = got.size
    val all = ReferenceForms.compactLatestWindow(e, keys, "ts", "event_id", Nil)
      .count()
    assert(live < all, s"no key ended deleted (live=$live, keys=$all)")
  }

  test("compactWithDeletes fails loudly on a null op") {
    val s = spark
    import s.implicits._
    val log = Seq((1L, 100L, "a", null.asInstanceOf[String], 1L))
      .toDF("event_id", "us", "state", "op", "user_id")
      .withColumn("ts", timestamp_micros(col("us")))
    val ex = intercept[Exception] {
      Changelog.compactWithDeletes(log, Seq("user_id"), "ts", "event_id",
        Seq("state"), "op", "delete").collect()
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e => e.getMessage +: msgs(e.getCause))
    assert(msgs(ex).exists(m => m != null && m.contains("is not true")),
      s"expected the in-plan null-op guard to fire, got: $ex")
  }

  test("compactLatest fails loudly when an id overflows the packing space") {
    val s = spark
    import s.implicits._
    val log = Seq((5L, 100L, "a", 1L)).toDF("event_id", "us", "state", "user_id")
      .withColumn("ts", timestamp_micros(col("us")))
    val ex = intercept[Exception] {
      Changelog.compactLatest(log, Seq("user_id"), "ts", "event_id",
        Seq("state"), idSpace = 4L).collect()
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e => e.getMessage +: msgs(e.getCause))
    assert(msgs(ex).exists(m => m != null && m.contains("is not true")),
      s"expected the in-plan guard to fire, got: $ex")
  }

  test("scd2Intervals collapses runs and stamps intervals, null-safe") {
    val s = spark
    import s.implicits._
    // user 1 states over time: a a b null null a → transitions at
    // 1 (→a), 3 (→b), 4 (→null), 6 (→a)
    val log = Seq(
      (1L, 1L, Some("a")), (2L, 2L, Some("a")), (3L, 3L, Some("b")),
      (4L, 4L, None), (5L, 5L, None), (6L, 6L, Some("a"))
    ).map { case (id, us, st) => (id, us, st.orNull, 1L) }
      .toDF("event_id", "us", "state", "user_id")
      .withColumn("ts", timestamp_micros(col("us")))
    val got = Changelog.scd2Intervals(log, Seq("user_id"), "ts", "event_id", "state")
      .orderBy(col("valid_from"))
      .collect().map(r => (r.getLong(1), Option(r.getString(2)),
        r.getTimestamp(3).getTime, Option(r.getTimestamp(4)).map(_.getTime),
        r.getBoolean(5)))
    assert(got.toSeq == Seq(
      (1L, Some("a"), 0L, Some(0L), false),
      (3L, Some("b"), 0L, Some(0L), false),
      (4L, None, 0L, Some(0L), false),
      (6L, Some("a"), 0L, None, true)
    ).map { case (id, st, _, _, cur) =>
      // timestamps at µs grain round to 0 ms; compare ids/states/flags
      (id, st, 0L, if (cur) None else Some(0L), cur)
    })
  }

  test("scd2Intervals plans a single Exchange for both window passes") {
    val plan = Changelog.scd2Intervals(events, Seq("user_id"), "ts",
      "event_id", "event_type").queryExecution.executedPlan.toString
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(exchanges == 1, s"expected 1 exchange, got $exchanges in:\n$plan")
  }
}
