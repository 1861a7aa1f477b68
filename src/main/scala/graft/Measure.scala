package graft

import org.apache.spark.sql.{Dataset, SparkSession}

import graft.core.GraftSession

/** The measurement plumbing every harness main shares (Bench, Verify,
  * SqlRunner, QCheck): driver session set-up, the noop-write
  * action, a timed window with its contention evidence, the between-run
  * settle, and the JSON/number formatting their output lines use.
  */
object Measure {

  /** The driver mains' session: `local[SPARK_GRAFT_CPUS]` (default 4)
    * under [[GraftSession.tuned]], shuffle partitions = the CPU count.
    * Returns the CPU count too — Bench sizes its p3 Maple stage by it.
    */
  def driverSession(appName: String): (SparkSession, Int) = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val spark = GraftSession.tuned(
      SparkSession.builder().master(s"local[$cpus]").appName(appName),
      shufflePartitions = cpus
    ).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    (spark, cpus)
  }

  /** Run `ds` to completion through the noop sink, so every projected
    * column is actually computed (count() lets Catalyst prune the work
    * away) and no sink cost lands in the wall.
    */
  def materialize(ds: Dataset[_]): Unit =
    ds.write.format("noop").mode("overwrite").save()

  /** Release what earlier runs left behind, untimed, before the next
    * timed one. Operators persist() shared subtrees and the
    * CacheManager matches by logical plan, so a rerun would read the
    * previous run's cache; clearCache drops those entries. Iterative
    * operators leave localCheckpoint'ed round RDDs whose blocks the
    * ContextCleaner retires only after a GC — left in place they drove
    * g4's sf1 serve pass to 66 s in a JVM where a fresh run takes 7 s
    * (VERDICT r15) — so the GC plus a short drain window for the
    * cleaner's async queue releases them.
    */
  def settle(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    System.gc()
    Thread.sleep(250)
  }

  /** One timed window: wall seconds, foreign busy CPU cores averaged
    * over the window (whole-box busy jiffies minus this process's own),
    * and hypervisor-steal cores averaged over the window. Steal is a
    * SUBSET of foreign: the steal column counts jiffies the host
    * withheld from this guest entirely, which separates "a co-tenant
    * process on this box is busy" from "the hypervisor's other guests
    * took the cores" (round 11 measured 2-5 stolen cores inflating
    * exactly the latency-sensitive st/g families while the run-level
    * sentinel windows all read idle).
    */
  final case class Window(wall: Double, foreignCores: Double,
                          stealCores: Double)

  /** Time `body` and diff the CPU accounting around it. An exception
    * from `body` propagates; no window is reported for a failed run.
    */
  def timed(body: => Unit): Window = {
    val j0 = jiffies()
    val t0 = System.nanoTime()
    body
    val wall = (System.nanoTime() - t0) / 1e9
    val j1 = jiffies()
    // USER_HZ = 100 on linux; cores = cpu-sec / wall
    def cores(jiffies: Long): Double =
      if (wall > 0) math.max(jiffies / 100.0, 0.0) / wall else 0.0
    Window(wall,
      cores((j1.boxBusy - j0.boxBusy) - (j1.self - j0.self)),
      cores(j1.steal - j0.steal))
  }

  /** Cumulative CPU jiffies: whole-box busy, this process (with its
    * reaped children), and whole-box hypervisor steal.
    */
  private final case class Jiffies(boxBusy: Long, self: Long,
                                  steal: Long)

  /** Current jiffies; all zero where /proc is unreadable, which makes
    * every window read uncontended rather than fail the run.
    */
  private def jiffies(): Jiffies = try {
    val (busy, steal) = parseProcStat(firstLine("/proc/stat"))
    Jiffies(busy, parseSelfStat(firstLine("/proc/self/stat")), steal)
  } catch { case _: Throwable => Jiffies(0L, 0L, 0L) }

  private def firstLine(path: String): String = {
    val s = scala.io.Source.fromFile(path)
    try s.getLines().next() finally s.close()
  }

  /** (busy, steal) from the aggregate `cpu` line of /proc/stat: the
    * first 8 counters are user nice system idle iowait irq softirq
    * steal; busy = their sum minus idle and iowait.
    */
  private[graft] def parseProcStat(cpuLine: String): (Long, Long) = {
    val f = cpuLine.trim.split("\\s+").drop(1).take(8).map(_.toLong)
    (f.sum - f(3) - f(4), f(7))
  }

  /** utime + stime + cutime + cstime from a /proc/[pid]/stat line
    * (1-based fields 14-17). They follow the parenthesised comm field,
    * which may itself hold spaces and ')', so the split starts after
    * the LAST ')'. cutime/cstime (reaped children) matter: mj3's pipe
    * stage spawns awk processes whose CPU is genuinely ours but lives
    * outside utime/stime — without them a window reads its own children
    * as a foreign core.
    */
  private[graft] def parseSelfStat(statLine: String): Long = {
    val rest = statLine.substring(statLine.lastIndexOf(')') + 2).split(" ")
    rest(11).toLong + rest(12).toLong + rest(13).toLong + rest(14).toLong
  }

  /** A JSON string literal: quote, backslash and ALL control characters
    * (< 0x20) escaped — a tab or CR in an error message or builder-
    * authored SQL would otherwise make a reader's json.load fail.
    */
  def jsonString(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** Seconds (or any figure) at 3 decimals. Locale.ROOT: the f""
    * interpolator honors the JVM default locale, and a comma-decimal
    * locale (de_DE, fr_FR, ...) would render 0,123 — corrupting every
    * numeric field of otherwise-valid JSON.
    */
  def f3(v: Double): String =
    String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
}
