package graft.streaming

import java.io.File

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{Scratch, Tables}
import graft.operators.IndexCache

/** Multi-batch replay fixtures for the streaming gate rows.
  *
  * Until round 6 every st row replayed its source as ONE availableNow
  * batch, so the DuckDB oracle never saw the watermark ADVANCE: late
  * drops, mid-query TTL eviction and cross-batch emission were
  * spec-only. This builder splits a source table into THREE
  * event-time-ordered parquet files (staggered mtimes, so the file
  * stream source replays them in order under `maxFilesPerTrigger=1`)
  * and plants one falsifiable sentinel row in the LAST file:
  *
  *   - events: a 'view' by user [[SentinelUserId]] stamped
  *     2024-01-01T06:00 — three weeks below the watermark by the time
  *     its batch runs. Working watermark machinery DROPS it; the
  *     oracles read the ORIGINAL table, so if it leaks into any
  *     windowed aggregate / session / join state, the row flips that
  *     query red. It equally catches a silent fall-back to single-batch
  *     execution (one batch ⇒ watermark still 0 when the row arrives ⇒
  *     it aggregates and emits).
  *   - documents: a byte-identical DUPLICATE of split 2's LAST
  *     document, re-keyed to [[SentinelMinId]]+1, arriving one batch
  *     after its original. Working cross-batch dedup state DROPS it
  *     as a duplicate — and because the original sits at the batch-2
  *     event-time frontier, its fingerprint state is inside the dedup
  *     horizon when batch 3 runs at ANY corpus id span (the watermark
  *     lags one batch), so the fixture is scale-free; state that
  *     fails to survive the boundary lets the copy through and flips
  *     st1's lang counts red.
  *
  * Splits are by fixed event-time cuts (events: Jan 11 / Jan 21 2024,
  * the driver generator's 30-day span; documents: doc_id thirds), so
  * no REAL row is ever late across a batch boundary — the oracle
  * emission frontiers (`max(ts) - delay`) are unchanged and the only
  * engine/oracle divergence possible is a sentinel leaking through
  * broken streaming semantics.
  *
  * Built once per (table, source fingerprint) via [[IndexCache]] —
  * regenerated testdata misses the cache and rebuilds.
  */
object StreamReplay {

  /** Planted event rows carry this user_id (absent from generated
    * data, which draws user ids far below it).
    */
  val SentinelUserId = 999999999L

  /** Planted document rows carry doc_id above this; st3's probe
    * stream filters them out (its index was built from the pristine
    * id-domain and a planted duplicate would otherwise probe-match).
    */
  val SentinelMinId = 900000000L

  private val Day = 86400L
  // 2024-01-01T00:00:00Z; the events generator spans Jan 1-30 at every
  // scale factor (TESTDATA.md), so fixed cuts at day 10 and day 20
  // give three non-empty, event-time-ordered splits.
  private val Epoch2024 = 1704067200L
  private val CutASeconds = Epoch2024 + 10 * Day
  private val CutBSeconds = Epoch2024 + 20 * Day
  private val LateEventSeconds = Epoch2024 + 6 * 3600L

  /** Replay dir for `<dir>/events.parquet`: 3 ts-ordered splits, a
    * late sentinel 'view' in the last. `ts` keeps the SOURCE file's
    * physical encoding (int64-nanos or timestamp[us] — cut points and
    * the sentinel are expressed via [[graft.core.EventTime.rawLiteral]]
    * in whichever dtype the file actually has), so downstream readers
    * normalize the replay copy exactly as they would the original.
    * Cache key r2: r1 dirs were built nanos-only and must regenerate.
    */
  def ensureEvents(spark: SparkSession, dir: String): String =
    IndexCache.ensure("graft-replay-events", s"$dir/events.parquet", "r2",
      marker = "_REPLAY_OK") { scratch =>
      val ev = Tables.parquet(spark, s"$dir/events.parquet")
      val tsType = ev.schema("ts").dataType
      def tsAt(epochSeconds: Long) =
        graft.core.EventTime.rawLiteral(tsType, epochSeconds)
      val late = spark.range(1).select(
        lit(-1L).as("event_id"),
        tsAt(LateEventSeconds).as("ts"),
        lit(SentinelUserId).as("user_id"),
        lit("view").as("event_type"),
        lit(0.5).as("value"),
        lit(null).cast("string").as("props"))
      writeSplits(scratch, Seq(
        ev.filter(col("ts") < tsAt(CutASeconds)),
        ev.filter(col("ts") >= tsAt(CutASeconds) && col("ts") < tsAt(CutBSeconds)),
        ev.filter(col("ts") >= tsAt(CutBSeconds)).unionByName(late)))
    }

  /** Replay dir for `<dir>/documents.parquet`: 3 doc_id-ordered
    * splits, plus a duplicate of the LAST document of split 2 re-keyed
    * past [[SentinelMinId]] in the last split (its synthesized event
    * time, doc_id+1 seconds, is far in the future — never late, so
    * only the dedup state can remove it). Duplicating split 2's tail —
    * not the global min-id document — is what makes the fixture
    * SCALE-FREE: the copy arrives exactly one batch after its
    * original, and the original's fingerprint state (written at event
    * time ~c2) is alive when batch 3 processes at ANY id span, because
    * the watermark then is max-ts(batch 2) − horizon ≈ c2 − horizon <
    * c2 + horizon. The previous min-id form needed the state to
    * outlive TWO boundaries, which silently bounded the fixture to
    * corpora whose whole id span fits inside the dedup horizon — the
    * 10× validation corpus (events spanning ~10^7 seconds of doc_id
    * event time) evicted it legitimately and the sentinel leaked by
    * design, not by bug.
    */
  def ensureDocs(spark: SparkSession, dir: String): String =
    IndexCache.ensure("graft-replay-docs", s"$dir/documents.parquet", "r2",
      marker = "_REPLAY_OK") { scratch =>
      val docs = Tables.parquet(spark, s"$dir/documents.parquet")
      val r = docs.agg(min(col("doc_id")), max(col("doc_id"))).head()
      val (minId, maxId) = (r.getLong(0), r.getLong(1))
      val (c1, c2) = (minId + (maxId - minId) / 3, minId + 2 * (maxId - minId) / 3)
      val tailOfSplit2 = docs.filter(col("doc_id") <= c2)
        .agg(max(col("doc_id"))).head().getLong(0)
      val dupOfTail = docs.filter(col("doc_id") === tailOfSplit2)
        .withColumn("doc_id", lit(SentinelMinId + 1))
      writeSplits(scratch, Seq(
        docs.filter(col("doc_id") <= c1),
        docs.filter(col("doc_id") > c1 && col("doc_id") <= c2),
        docs.filter(col("doc_id") > c2).unionByName(dupOfTail)))
    }

  /** Write each split as ONE parquet file named `<k>.parquet` with
    * mtimes 60s apart (the file stream source replays oldest-first),
    * then the completion marker LAST.
    */
  private def writeSplits(scratch: String, splits: Seq[DataFrame]): Unit = {
    val dir = new File(scratch)
    dir.mkdirs()
    // fixed base: replay order must be a property of the artifact, not
    // of when this JVM happened to build it
    val baseMtime = 1600000000000L
    splits.zipWithIndex.foreach { case (df, k) =>
      val stage = new File(dir, s"stage-$k")
      df.repartition(1).write.mode("overwrite").parquet(stage.getPath)
      val part = stage.listFiles()
        .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
        .getOrElse(sys.error(s"no part file written for split $k"))
      val dest = new File(dir, s"$k.parquet")
      java.nio.file.Files.move(part.toPath, dest.toPath,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      Scratch.delete(stage)
      require(dest.setLastModified(baseMtime + k * 60000L),
        s"cannot stamp replay mtime on $dest")
    }
    require(new File(dir, "_REPLAY_OK").createNewFile(),
      s"cannot write replay marker in $dir")
  }
}
