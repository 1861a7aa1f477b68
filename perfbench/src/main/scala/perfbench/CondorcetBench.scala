package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.mapreduce.{HashPartition, MapleJuiceJob, PartitionStrategy, RangePartition}
import graft.mapreduce.Workloads.{CondorcetJuice1, CondorcetJuice2, CondorcetMaple1, CondorcetMaple2}
import graft.sources.{Dfs, Generators}

/** condorcet_mr: the reference's two-phase Condorcet election through
  * `MapleJuiceJob`, one job at a time. A job puts its ballot text into the
  * DFS with `Dfs.put`, runs both phases, writes the election with
  * `writeTsv`, fetches it with `Dfs.get` and compares it with an
  * independent pairwise tally of the same ballots. Phase 1 alternates the
  * hash and the range partitioner from job to job.
  */
object CondorcetBench {
  val Candidates: Seq[String] = (0 to 9).map(_.toString)
  /** Ballots of the set-ups' warm job. */
  val SetupBallots = 2000
  /** Version of what the input cache holds beside the generated ballots. */
  val CacheLayout = 2

  /** Expected output of `CondorcetJuice2`, from a direct count of how
    * often each candidate is ranked above each other one. Shares no code
    * with the Maple/Juice path.
    */
  def tally(ballots: Iterator[String]): Map[String, String] = {
    val n = Candidates.size
    val above = Array.ofDim[Long](n, n)
    ballots.foreach { line =>
      val ranked = line.split(",").map(_.trim).filter(_.nonEmpty).map(_.toInt)
      var i = 0
      while (i < ranked.length) {
        var j = i + 1
        while (j < ranked.length) { above(ranked(i))(ranked(j)) += 1; j += 1 }
        i += 1
      }
    }
    val wins = Array.fill(n)(0L)
    for (a <- 0 until n; b <- a + 1 until n)
      if (above(a)(b) >= above(b)(a)) wins(a) += 1 else wins(b) += 1
    val max = wins.max
    wins.zipWithIndex.collect { case (w, c) if w > 0 =>
      val tag = if (w == n - 1) "condorcet_winner" else if (w == max) "max_win_set" else "loser"
      c.toString -> s"$w,$tag"
    }.toMap
  }

  /** Lines of a text file, or of the data files of a directory. */
  private def readLines(path: File): Iterator[String] = {
    val files = if (path.isFile) Seq(path) else Option(path.listFiles()).toSeq.flatten
      .filter(f => f.isFile && !f.getName.startsWith(".") && !f.getName.startsWith("_"))
      .sortBy(_.getName)
    files.iterator.flatMap(f => Files.readAllLines(f.toPath, StandardCharsets.UTF_8).asScala)
  }

  private def writeTsv(f: File, m: Map[String, String]): Unit =
    Files.write(f.toPath, m.toSeq.sorted.map { case (k, v) => s"$k\t$v" }
      .mkString("\n").getBytes(StandardCharsets.UTF_8))

  private def readTsv(f: File): Map[String, String] =
    readLines(f).map { l =>
      val Array(k, v) = l.split("\t", 2)
      k -> v
    }.toMap

  def run(ctx: Main.Ctx): Unit = {
    val ballotsN = ctx.args.config("ballots").toString.toLong
    val inputs = new File(ctx.args.cacheDir,
      s"ballots_v${Generators.ballotsVersion}.${CacheLayout}_n${ballotsN}_s${ctx.args.seed}")
    val ballots = new File(inputs, "ballots")
    val meta = new File(inputs, "expected.tsv")
    val warmInput = new File(inputs, "setup_ballots.txt")
    val warmMeta = new File(inputs, "setup_expected.tsv")
    val dfsRoot = new File(ctx.args.workDir, "dfs").getAbsolutePath
    var jobNo = 0
    def parts = Option(ballots.listFiles()).toSeq.flatten
      .filter(_.getName.startsWith("part-")).sortBy(_.getName)

    /** One job over `input` (a file or a directory of ballot text):
      * returns whether the election matched `want`.
      */
    def job(g: String, input: File, want: Map[String, String],
            strategy: PartitionStrategy): Boolean = {
      val i = jobNo
      jobNo += 1
      val spark = ctx.spark
      import spark.implicits._
      val dfsIn = s"$dfsRoot/in_$i"
      val dfsOut = s"$dfsRoot/out_$i"
      val local = new File(ctx.args.workDir, s"fetched_$i")
      ctx.span(g, "dfs_put", "op")(Dfs.put(spark, input.getAbsolutePath, dfsIn))
      val election = ctx.span(g, "build", "op") {
        val p1 = MapleJuiceJob.run(spark.read.textFile(dfsIn), CondorcetMaple1,
          CondorcetJuice1, Main.Cores, strategy)
        MapleJuiceJob.run(p1.map(_._1), CondorcetMaple2,
          new CondorcetJuice2(Candidates.size), 1)
      }
      ctx.span(g, "execute", "op")(MapleJuiceJob.writeTsv(election, dfsOut, coalesce1 = true))
      ctx.span(g, "dfs_get", "op")(Dfs.get(spark, dfsOut, local.getAbsolutePath))
      val got = ctx.span(g, "check", "op") {
        readTsv(local)
      }
      Dfs.delete(spark, dfsIn)
      Dfs.delete(spark, dfsOut)
      got == want
    }

    // The inputs are made once per seed, inside the first set-up: they
    // need a session.
    def ensureInputs(): Unit = if (!meta.exists()) {
      val t0 = System.nanoTime()
      Generators.ballots(ctx.spark, ballotsN, Candidates, seed = ctx.args.seed)
        .write.mode("overwrite").text(ballots.getAbsolutePath)
      val genS = (System.nanoTime() - t0) / 1e9
      Files.write(new File(inputs, "gen_s").toPath, genS.toString.getBytes(StandardCharsets.UTF_8))
      val slice = readLines(parts.head).take(SetupBallots).toSeq
      Files.write(warmInput.toPath, slice.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
      writeTsv(warmMeta, tally(slice.iterator))
      writeTsv(meta, tally(readLines(ballots)))
    }
    // a small slice keeps each set-up about session start plus one
    // job's fixed cost, rather than a measure of JIT warm-up
    Main.setUp(ctx) {
      ensureInputs()
      ctx.group("warm", traced = false)
      require(job("warm", warmInput, readTsv(warmMeta), HashPartition),
        "warm-up election does not match the tally")
    }
    val expected = readTsv(meta)
    // one full-size untimed job, so the first timed job is not the first
    // at this size and both partitioners have run once
    val w0 = System.nanoTime()
    ctx.group("warm", traced = false)
    require(job("warm", ballots, expected, RangePartition), "warm-up election does not match the tally")
    ctx.out("warmup_ms") = (System.nanoTime() - w0) / 1e6
    ctx.out("gen_s") = new String(Files.readAllBytes(new File(inputs, "gen_s").toPath)).toDouble
    ctx.out("input_bytes") = parts.map(_.length).sum

    // Timed jobs, in hash/range pairs so every run times both partitioners
    // equally often.
    val samples = mutable.ArrayBuffer.empty[Map[String, Any]]
    val weather = Box.window()
    val start = System.nanoTime()
    for (n <- 0 until ctx.repeats("job_s", 2)) {
      // H R H R ... traced as - + + -, balanced over partitioners and time
      val traced = n % 4 == 1 || n % 4 == 2
      val strategy = if (n % 2 == 0) HashPartition else RangePartition
      val g = ctx.group(s"job$n", traced)
      ctx.spark.catalog.clearCache()
      val gc0 = Recorder.gcMs()
      val t0 = Clock.ms()
      val (ok, err) =
        try (ctx.span(g, "op", "")(job(g, ballots, expected, strategy)), "")
        catch { case e: Throwable => (false, CatalogBench.message(e)) }
      val t1 = Clock.ms()
      samples += Map("group" -> g, "key" -> strategy.toString,
        "pass" -> n, "traced" -> (traced && ctx.args.trace), "start" -> t0, "end" -> t1,
        "error" -> (if (ok || err.nonEmpty) err else "election differs from the tally"),
        "gc_ms" -> (Recorder.gcMs() - gc0), "output_keys" -> (45 + expected.size))
    }
    ctx.out("measured_s") = (System.nanoTime() - start) / 1e9
    ctx.out("weather") = weather()
    ctx.out("ops") = samples.toSeq
  }
}
