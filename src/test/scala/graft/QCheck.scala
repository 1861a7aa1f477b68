package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

import graft.Measure.{f3, jsonString => q}

// dump and time an arbitrary subset of catalog queries + their oracles
// for scripts/check_oracle.py, at an arbitrary sfDir; scripts/scale.py
// runs it on every scale of a sweep.
// usage: Test/runMain graft.QCheck <sfDir> <outDir> <name1,name2,...>
object QCheck {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"
    val outDir = if (args.length > 1) args(1) else "/tmp/qcheck"
    val names = if (args.length > 2) args(2).split(",").toSeq
                else SparkEntry.queries.keys.toSeq.sorted
    // every processor, not Measure.driverSession's SPARK_GRAFT_CPUS:
    // walls-mode sweeps have always run at this width
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = core.GraftSession.tuned(
      SparkSession.builder().master(s"local[$cores]").appName("graft"),
      shufflePartitions = math.max(cores, 4)
    ).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // Per-query walls, split BUILD vs SERVE: the dump pass lands any
    // one-time index/materialization build (IndexCache at a fresh data
    // fingerprint) plus cold footers; the second, noop-write pass is
    // the serving path. scripts/scale.py merges walls.json into the
    // artifact so decade ratios can use the serve wall — the round-14
    // sweep reported s9's cold PQ build as a 19.2x "serving" ratio.
    // GRAFT_QCHECK_MODE=walls: the build pass is a cache-cleared noop
    // write instead of a coalesce(1) parquet dump — for walls-only
    // sweeps (sf10: oracle infeasible, outputs unwanted, and the
    // single-file encode would both eat disk and overstate the build
    // wall by the parquet-write cost — ADVICE r15). Default mode keeps
    // the dump: the oracle compare needs the outputs, and dump_sec is
    // then build + coalesce(1) + single-file parquet encode (recorded
    // in walls.json's "_mode" so downstream artifacts can say which
    // measurement they carry).
    val wallsOnly = sys.env.get("GRAFT_QCHECK_MODE").contains("walls")
    // hypervisor-steal cores of each pass (Measure.timed, the Bench
    // evidence pattern, round 16): this box takes multi-core steal
    // BURSTS (a d12c serve pass measured 19x its clean wall under one,
    // with nothing in the artifact to say so). Steal is never
    // self-caused, so per-pass steal cores are recorded in walls.json
    // and a serve pass whose window averaged >= 0.5 stolen cores gets
    // ONE bounded re-measure (the lower-steal window wins; ties to the
    // faster wall) — under persistent weather the artifact then
    // carries the evidence instead of silently shipping storm walls.
    val walls = scala.collection.mutable.LinkedHashMap
      .empty[String, (Measure.Window, Measure.Window)]
    // rewritten after EVERY query: a multi-hour sweep killed mid-run
    // (disk, OOM, operator timeout) keeps the walls it already paid for
    def writeWalls(): Unit =
      Files.writeString(Paths.get(s"$outDir/walls.json"),
        (Seq(s"${q("_mode")}: ${q(if (wallsOnly) "noop_build" else "dump_build")}") ++
          walls.map { case (n, (d, s)) =>
            s"${q(n)}: {${q("dump_sec")}: ${f3(d.wall)}, ${q("serve_sec")}: ${f3(s.wall)}, " +
              s"${q("dump_steal_cores")}: ${f3(d.stealCores)}, ${q("serve_steal_cores")}: ${f3(s.stealCores)}}"
          }).mkString("{", ", ", "}"))
    for (name <- names) {
      val dump = Measure.timed {
        if (wallsOnly) Measure.materialize(SparkEntry.queries(name)(spark, sfDir))
        else Verify.dump(spark, sfDir, outDir, name)
      }
      // settle first so the serve pass pays its own materialization
      // (the CacheManager would serve the dump pass's persisted
      // subtrees) — but the at-rest INDEX (IndexCache) survives, which
      // is the point. The GC half keeps a long sweep's walls comparable
      // to a fresh JVM's: the round-15 bench smoke measured g4 at 10x
      // its fresh-JVM wall in a JVM polluted by the preceding grind.
      def servePass(): Measure.Window = {
        Measure.settle(spark)
        Measure.timed(Measure.materialize(SparkEntry.queries(name)(spark, sfDir)))
      }
      val first = servePass()
      val serve =
        if (first.stealCores < 0.5) first
        else {
          val retry = servePass()
          if (retry.stealCores < first.stealCores ||
              (retry.stealCores == first.stealCores && retry.wall < first.wall)) retry
          else first
        }
      walls(name) = (dump, serve)
      println(f"[qcheck] $name%-28s dumped in ${dump.wall}%.2f s, served in " +
        f"${serve.wall}%.2f s" +
        (if (serve.stealCores >= 0.5 || dump.stealCores >= 0.5)
          f" [steal d=${dump.stealCores}%.1f s=${serve.stealCores}%.1f]" else ""))
      writeWalls()
      Measure.settle(spark)
    }
    writeWalls()
    Verify.writeOracleSql(outDir, names.toSet)
    // provenance binding: carry the dataset fingerprint the outputs
    // were computed against, so scripts/scale.py can refuse a
    // mixed-generation compare (the round-13 staleness trap)
    val manifest = Paths.get(s"$sfDir/MANIFEST.json")
    if (Files.exists(manifest))
      Files.copy(manifest, Paths.get(s"$outDir/MANIFEST.json"),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    spark.stop()
  }
}
