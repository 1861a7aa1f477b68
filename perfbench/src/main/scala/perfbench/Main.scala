package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

import graft.core.GraftSession

/** One run of one workload. The JVM drives the engine's public entry
  * points and records raw samples only: set-up times, one record per
  * timed operation, box weather and, in a traced run, the spans and
  * listener counters. `run.py` turns the samples into metrics and checks
  * the catalog answers against the DuckDB oracle.
  *
  * Usage: perfbench.Main <workload> <seed> <seconds> <trace 0|1>
  *          <data dir> <cache dir> <work dir> <config json>
  */
object Main {
  /** Spark's local[N]: the core count every figure is labelled with. */
  val Cores = 4
  val Setups = 5

  final case class Args(workload: String, seed: Long, seconds: Double,
                        trace: Boolean, dataDir: String, cacheDir: String,
                        workDir: String, config: Map[String, Any])

  /** Shared state of one run. */
  final class Ctx(val args: Args) {
    var spark: SparkSession = _
    val recorder: Option[Recorder] = if (args.trace) Some(new Recorder) else None
    val out = mutable.LinkedHashMap.empty[String, Any]

    /** How many operations of nominal length `key` (seconds, from the
      * workload's config) fill `--seconds`, rounded to a multiple of
      * `unit` and at least `unit`. Runs time a fixed amount of work, not a
      * fixed time: a time limit would let a fast moment buy an extra,
      * warmer pass and move the median with it.
      */
    def repeats(key: String, unit: Int): Int = {
      val nominal = args.config(key).toString.toDouble
      unit * math.max(1, math.round(args.seconds / nominal / unit).toInt)
    }

    def span[T](group: String, name: String, parent: String)(body: => T): T =
      recorder match {
        case Some(r) => r.span(group, name, parent)(body)
        case None => body
      }

    /** Job group of the next operation. Traced runs alternate traced and
      * untraced operations (prefix `t:` / `u:`); the listeners ignore the
      * untraced ones, whose walls give the tracing overhead.
      */
    def group(name: String, traced: Boolean): String = {
      val g = (if (traced && args.trace) "t:" else "u:") + name
      spark.sparkContext.setJobGroup(g, name, interruptOnCancel = false)
      recorder.foreach(_.begin(g))
      g
    }
  }

  def newSession(ctx: Ctx): SparkSession = {
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val local = new File(ctx.args.workDir, "spark-local")
    local.mkdirs()
    val b = SparkSession.builder().master(s"local[$Cores]").appName("perfbench")
      .config("spark.local.dir", local.getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(ctx.args.workDir, "warehouse").getAbsolutePath)
      .config("spark.sql.streaming.checkpointLocation",
        new File(ctx.args.workDir, "checkpoints").getAbsolutePath)
    val spark = GraftSession.tuned(b, Cores).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Attach the traced run's listeners to the session that is measured. */
  def attach(ctx: Ctx): Unit = ctx.recorder.foreach { r =>
    ctx.spark.sparkContext.addSparkListener(r.sparkListener)
    ctx.spark.listenerManager.register(r.queryListener)
    ctx.spark.streams.addListener(r.streamListener)
    r.enabled = true
  }

  /** Set up `Setups` times and keep the last session: each set-up starts
    * a session and runs one untimed warm operation. Returns after the
    * last set-up with `ctx.spark` live.
    */
  def setUp(ctx: Ctx)(warmOne: => Unit): Unit = {
    val samples = (1 to Setups).map { i =>
      val t0 = System.nanoTime()
      ctx.spark = newSession(ctx)
      val t1 = System.nanoTime()
      warmOne
      val t2 = System.nanoTime()
      if (i < Setups) ctx.spark.stop()
      Map("session_ms" -> (t1 - t0) / 1e6, "warm_ms" -> (t2 - t1) / 1e6,
        "total_ms" -> (t2 - t0) / 1e6)
    }
    ctx.out("setups") = samples
    attach(ctx)
  }

  def parse(a: Array[String]): Args = {
    require(a.length == 8, "usage: <workload> <seed> <seconds> <trace> <data> <cache> <work> <config>")
    val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
    val config = mapper.readValue(new File(a(7)), classOf[Map[String, Any]])
    Args(a(0), a(1).toLong, a(2).toDouble, a(3) == "1", a(4), a(5), a(6), config)
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    val ctx = new Ctx(args)
    val t0 = System.nanoTime()
    args.workload match {
      case "catalog_small" => CatalogBench.run(ctx)
      case "condorcet_mr" => CondorcetBench.run(ctx)
      case "gossip_stream" => GossipBench.run(ctx)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    ctx.spark.stop()
    ctx.out("workload") = args.workload
    ctx.out("seed") = args.seed
    ctx.out("cores") = Cores
    ctx.out("peak_rss_mb") = Box.peakRssMb()
    ctx.out("codegen_total_ms") = Recorder.codegenMs()
    ctx.out("jvm_wall_ms") = (System.nanoTime() - t0) / 1e6
    ctx.recorder.foreach(r => ctx.out("trace") = r.dump())
    val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
    Files.write(new File(args.workDir, "samples.json").toPath,
      mapper.writeValueAsString(ctx.out).getBytes(StandardCharsets.UTF_8))
  }
}
