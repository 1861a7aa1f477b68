package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, StandardCopyOption}

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming.Trigger

import graft.streaming.Membership
import graft.streaming.Membership.{Alive, Heartbeat, Left, MemberEvent, MemberState}

/** gossip_stream: an open loop. A generator thread, apart from the
  * engine, writes one heartbeat file per tick on a fixed schedule; each
  * heartbeat carries its due time as its event time. A seeded churn
  * schedule makes members fail, leave and rejoin. `Membership.updates`
  * runs under a processing-time trigger into a `foreachBatch` sink that
  * stamps every emitted lifecycle event.
  *
  * After the measured window a sentinel member drains the stream: its
  * heartbeats, far in the future, move the watermark past every pending
  * timeout. The emitted events are then compared with a replay of the
  * pure `Membership.merge` / `Membership.onTimeout` over the same
  * schedule.
  */
object GossipBench {

  final case class Params(members: Int, tickMs: Long, triggerMs: Long,
                          failAfterMs: Long, cleanupAfterMs: Long,
                          watermarkMs: Long, churnEveryMs: Long,
                          rejoinShortMs: Long, rejoinLongMs: Long)

  def params(cfg: Map[String, Any]): Params = {
    def l(k: String) = cfg(k).toString.toLong
    Params(l("members").toInt, l("tick_ms"), l("trigger_ms"), l("fail_after_ms"),
      l("cleanup_after_ms"), l("watermark_ms"), l("churn_every_ms"),
      l("rejoin_short_ms"), l("rejoin_long_ms"))
  }

  /** The schedule: heartbeats per tick, event times relative to the
    * first tick. Members 0..members-1 start alive; every `churnEveryMs`
    * one alive member either stops (fails) or sends `Left` and stops,
    * then rejoins after `rejoinShortMs` (before its entry is removed) or
    * `rejoinLongMs` (after), unless that is past the window.
    */
  def schedule(p: Params, ticks: Int, seed: Long): IndexedSeq[Seq[Heartbeat]] = {
    val rnd = new Random(seed)
    val downUntil = Array.fill(p.members)(-1)
    val leaving = mutable.Set.empty[Int]
    val churnTicks = (p.churnEveryMs / p.tickMs).toInt
    (0 until ticks).map { k =>
      if (k > 0 && k % churnTicks == 0) {
        val up = (0 until p.members).filter(m => downUntil(m) < k)
        val m = up(rnd.nextInt(up.size))
        val down = if (rnd.nextBoolean()) p.rejoinShortMs else p.rejoinLongMs
        downUntil(m) = k + (down / p.tickMs).toInt
        if (rnd.nextBoolean()) leaving += m
      }
      (0 until p.members).flatMap { m =>
        val counter = k.toLong + 1
        val hb = (h: Int) => Heartbeat(m, s"10.0.0.$m", counter, h, k * p.tickMs)
        if (downUntil(m) < k) Some(hb(Alive))
        else if (leaving.remove(m)) Some(hb(Left)) // last words, then silence
        else None
      }
    }
  }

  /** Lifecycle events the pure transition functions give for `hbs`.
    * Between heartbeats the watermark moves continuously; each drain
    * watermark applies at most one timeout per member, as one
    * micro-batch does.
    */
  def replay(p: Params, hbs: Seq[Heartbeat], drains: Seq[Long]): Seq[MemberEvent] =
    hbs.groupBy(_.memberId).toSeq.flatMap { case (_, mine) =>
      var st: Option[MemberState] = None
      val events = mutable.ArrayBuffer.empty[MemberEvent]
      def due(s: MemberState): Long =
        s.lastUpdateMs + (if (s.health == Alive) p.failAfterMs else p.failAfterMs + p.cleanupAfterMs)
      def fireOnce(wm: Long): Boolean = st match {
        case Some(s) if due(s) < wm =>
          val (next, ev) = Membership.onTimeout(s, due(s), p.failAfterMs, p.cleanupAfterMs)
          st = next
          events ++= ev
          true
        case _ => false
      }
      mine.sortBy(h => (h.eventTimeMs, h.heartbeatCount)).foreach { h =>
        while (fireOnce(h.eventTimeMs - p.watermarkMs)) ()
        val (next, ev) = Membership.merge(st, Seq(h))
        st = next
        events ++= ev
      }
      drains.foreach(fireOnce)
      events
    }

  def run(ctx: Main.Ctx): Unit = {
    val p = params(ctx.args.config)
    val ticks = (ctx.args.seconds * 1000 / p.tickMs).toInt
    val plan = schedule(p, ticks, ctx.args.seed)
    val sentinel = p.members
    // event-time steps of the sentinel member past the end of the window
    val drainAheadMs = Seq(20000L, 40000L, 60000L)
    val schema = Encoders.product[Heartbeat].schema
    var streamNo = 0

    /** Runs one stream over `batches` of heartbeats. Measured: the files
      * are written on schedule under a processing-time trigger, then the
      * stream is drained. Warm-up: the files are written at once and read
      * with an available-now trigger. Returns the emitted events with
      * their emission stamps, the generator's record of what it wrote
      * when, and when the drain began.
      */
    def stream(batches: IndexedSeq[Seq[Heartbeat]], measured: Boolean)
        : (Seq[(MemberEvent, Double, Boolean)], Seq[Map[String, Any]], Double) = {
      val spark = ctx.spark
      import spark.implicits._
      streamNo += 1
      val spool = new File(ctx.args.workDir, s"spool$streamNo")
      spool.mkdirs()
      val sink = mutable.ArrayBuffer.empty[(MemberEvent, Double, Boolean)]
      val emit: (Dataset[MemberEvent], Long) => Unit = (df, _) => {
        val rows = df.collect()
        val now = Clock.ms()
        val traced = ctx.recorder.exists(_.enabled)
        sink.synchronized { rows.foreach(r => sink += ((r, now, traced))) }
      }
      val base = Clock.ms() + 500
      var fileNo = 0
      def write(hbs: Seq[Heartbeat]): Unit = {
        val body = hbs.map(h => s"""{"memberId":${h.memberId},"ip":"${h.ip}",""" +
          s""""heartbeatCount":${h.heartbeatCount},"health":${h.health},""" +
          s""""eventTimeMs":${base.toLong + h.eventTimeMs}}""").mkString("\n")
        val tmp = new File(spool, f".hb-$fileNo%06d.tmp")
        Files.write(tmp.toPath, body.getBytes(StandardCharsets.UTF_8))
        Files.move(tmp.toPath, new File(spool, f"hb-$fileNo%06d.json").toPath,
          StandardCopyOption.ATOMIC_MOVE)
        fileNo += 1
      }
      if (!measured) batches.foreach(write)
      val hbs = spark.readStream.schema(schema).json(spool.getAbsolutePath).as[Heartbeat]
      val query = ctx.span("stream", "build", "op") {
        Membership.updates(hbs, p.failAfterMs, p.cleanupAfterMs, s"${p.watermarkMs} milliseconds")
      }.writeStream
        .trigger(if (measured) Trigger.ProcessingTime(p.triggerMs) else Trigger.AvailableNow())
        .option("checkpointLocation", new File(ctx.args.workDir, s"checkpoint$streamNo").getAbsolutePath)
        .foreachBatch(emit)
        .start()
      val written = mutable.ArrayBuffer.empty[Map[String, Any]]
      try {
        if (!measured) {
          query.awaitTermination()
          return (sink.toSeq, Seq.empty, Clock.ms())
        }
        // the generator: due times never slip when a write runs late
        batches.indices.foreach { k =>
          val due = base + k * p.tickMs
          val wait = due - Clock.ms()
          if (wait > 0) Thread.sleep(wait.toLong, ((wait % 1) * 1e6).toInt)
          // traced runs record the task listeners every other second
          ctx.recorder.foreach(_.enabled = (k * p.tickMs / 1000) % 2 == 1)
          write(batches(k))
          written += Map("due" -> due, "at" -> Clock.ms(), "rows" -> batches(k).size)
        }
        ctx.recorder.foreach(_.enabled = true)
        query.processAllAvailable()
        val drainAt = Clock.ms()
        drainAheadMs.foreach { ahead =>
          write(Seq(Heartbeat(sentinel, "10.0.0.0", ahead, Alive, batches.size * p.tickMs + ahead)))
          query.processAllAvailable()
        }
        (sink.toSeq, written.toSeq, drainAt)
      } finally {
        query.stop()
      }
    }

    Main.setUp(ctx)(stream(schedule(p, 5, ctx.args.seed), measured = false))

    val weather = Box.window()
    val start = System.nanoTime()
    val (events, written, drainAt) = stream(plan, measured = true)
    ctx.out("measured_s") = (System.nanoTime() - start) / 1e9
    ctx.out("weather") = weather()

    val end = plan.size * p.tickMs
    // the third sentinel heartbeat only makes the second one's timeouts
    // fire before the stream stops
    val drains = drainAheadMs.take(2).map(end + _ - p.watermarkMs)
    val expected = replay(p, plan.flatten, drains)
    def key(e: MemberEvent) = (e.memberId, e.kind, e.heartbeatCount, e.health)
    val got = events.map(_._1).filter(_.memberId != sentinel).map(key)
    val want = expected.map(key)
    val missing = want.diff(got)
    val extra = got.diff(want)
    ctx.out("check") = Map("expected" -> want.size, "emitted" -> got.size,
      "missing" -> missing.take(20).map(_.toString), "extra" -> extra.take(20).map(_.toString),
      "wrong" -> (missing.size + extra.size))

    // a heartbeat's counter is its tick plus one: a failure is timed from
    // the due time of the member's last heartbeat
    val base = written.head("due").asInstanceOf[Double]
    ctx.out("events") = events.filter(_._1.memberId != sentinel).map { case (e, at, traced) =>
      val from = if (e.kind == "failed") base + (e.heartbeatCount - 1) * p.tickMs else e.atMs.toDouble
      Map("member" -> e.memberId, "kind" -> e.kind, "from" -> from, "emitted" -> at,
        "traced" -> traced, "before_drain" -> (at <= drainAt))
    }
    ctx.out("generator") = written
    ctx.out("params") = Map("members" -> p.members, "tick_ms" -> p.tickMs,
      "offered_hb_per_s" -> plan.map(_.size).sum * 1000.0 / end, "trigger_ms" -> p.triggerMs)
  }
}
