package graft.queries

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.core.{CatalogQuery, QueryModule, Tables}
import graft.streaming.StreamReplay

/** A REAL streaming execution in the driver gate: st1 replays the
  * `documents` table through the file streaming source with an
  * availableNow trigger, runs the streaming corpus-clean pipeline
  * (watermarked TTL'd exact-dedup state → quality projection → filter)
  * into a memory sink, and emits per-language survivor stats. Until
  * round 4 the streaming surface was spec-only (batch-twin equality
  * asserted in tests but never a CORRECTNESS row); this makes an
  * actual StreamExecution — source replay, state store, watermark,
  * sink commit — answer to the DuckDB oracle.
  *
  * MULTI-BATCH since round 7: every row replays a THREE-file
  * event-time-ordered copy of its source ([[graft.streaming.StreamReplay]])
  * under `maxFilesPerTrigger=1`, so the watermark actually ADVANCES
  * across batch boundaries inside the gate, and each replay carries a
  * planted sentinel (a three-weeks-late event / a cross-batch
  * duplicate document) that the oracle — which reads the ORIGINAL
  * table — expects to be ABSENT. Broken late-row dropping, broken
  * state survival across batches, or a silent fall-back to one batch
  * each flip a row red; [[runReplay]] additionally hard-fails any
  * execution that ran fewer than 3 batches.
  *
  * Determinism: splits are cut along event time, so no REAL row is
  * ever late across a batch boundary — per-window aggregates and the
  * append-mode emission frontier (`max event time - delay`) are
  * byte-identical to the single-batch replay, and the aggregates only
  * read text-functional columns, so which copy of a duplicate text
  * survives dedup cannot change the answer.
  */
object StreamingQueries extends QueryModule {

  /** Shuffle (and thereby state-store) partition count for the replay
    * streams. Each replay micro-batch carries a few thousand rows, yet
    * at session width (local[32] / a cluster's default 200) every
    * stateful operator schedules a full-width shuffle + state task
    * wave PER BATCH — measured round 11 as a 3x wall inflation that
    * scaled with worker-thread count, not the plan (st5 solo: 5.5-6.2s
    * at local[8] vs 15.3-18.7s at local[32], identical plan;
    * SCALING_r11 st5_weather_probe). Bounded to 4, st5 runs 4.6-5.4s
    * and st6 3.4-4.0s solo at local[32] on an idle box — the r10
    * idle-mode truth. The reference learned the same lesson as
    * "num_juices = #VMs" tuning (mp3/Report.pdf p.1). On a real
    * deployment this is per-stream capacity planning: size state
    * partitions to the per-batch row volume, not the cluster width.
    */
  private val ReplayShufflePartitions = 4

  /** Replay bytes per state partition above the floor (see below). */
  private val ReplayBytesPerStatePartition = 8L << 20

  /** Scale-adaptive replay state-partition count: the constant 4 is
    * right for the few-thousand-row micro-batches of the driver's
    * small SFs, but it is a LOCAL-MODE TUNING, and at a 10×/100×
    * corpus it serializes every stateful operator's per-batch state
    * wave through 4 tasks while the other 28 cores idle. Derived from
    * the replay source's on-disk size — the one thing that actually
    * grows — at one state partition per ~8 MB of replay parquet
    * (≈ a few hundred thousand state rows per task per batch),
    * clamped to [4, defaultParallelism]. At the shipped SFs
    * (events ≤ ~4 MB) this stays exactly 4, so the driver bench is
    * unchanged; on a cluster the same rule sizes state partitions to
    * per-batch volume, which is per-stream capacity planning, not a
    * constant.
    */
  private[graft] def replayStatePartitions(replayBytes: Long, defaultParallelism: Int): Int =
    math.min(math.max((replayBytes / ReplayBytesPerStatePartition).toInt,
      ReplayShufflePartitions), defaultParallelism)

  /** On-disk bytes of the replay source's files; 0 if unreadable. */
  private def replayBytes(replayPath: String): Long =
    try {
      val d = new java.io.File(replayPath)
      Option(d.listFiles()).map(_.filter(_.isFile).map(_.length()).sum)
        .getOrElse(0L)
    } catch { case scala.util.control.NonFatal(_) => 0L }

  /** Runs `body` (which must START the stream) with the session's
    * shuffle-partition conf bounded to `parts` (the caller's
    * [[replayStatePartitions]] answer), restoring the caller's value
    * after the stream FINISHES.
    * StreamExecution clones the session on its own run thread — which
    * may start after `start()` returns — so the conf must stay bounded
    * until `awaitTermination`, and the restore rides the caller's
    * finally. Safe to mutate here: every replay starts from a fresh
    * checkpoint (the state partition count is pinned by the first
    * batch, so no old checkpoint can disagree), and the catalog
    * builders run serially on the session.
    */
  private def boundedReplayConf[T](s: SparkSession, parts: Int)(body: => T): T = {
    val key = "spark.sql.shuffle.partitions"
    val prev = s.conf.get(key)
    s.conf.set(key, parts.toString)
    try body finally s.conf.set(key, prev)
  }

  /** Run an append-mode replay to completion into a uniquely-named
    * memory sink (the sink table is per-query; Bench executes each
    * builder three times per round) and require a genuinely
    * multi-batch execution — a single-batch fall-back (lost
    * maxFilesPerTrigger, coalesced source) would silently stop
    * exercising watermark advancement, which is the point of the
    * replay fixture. `replayPath` is the [[StreamReplay]] dir the
    * stream reads; its size sets the state partition count
    * ([[replayStatePartitions]]).
    */
  private def runReplay(s: SparkSession, out: org.apache.spark.sql.DataFrame,
                        prefix: String, replayPath: String) = {
    val name = prefix + java.util.UUID.randomUUID().toString.replace("-", "")
    // explicit RAM-backed checkpoint (see graft.core.Scratch): each
    // micro-batch writes a dozen small offset/commit/state files, and
    // tmpfs keeps those writes independent of the box's page-cache
    // state. Spark does not fsync them; their measured cost was
    // Hadoop's per-file chmod/readlink forks, which GraftSession
    // removes. The memory sink holds the results, so the checkpoint is
    // deletable the moment the replay stops.
    val ck = graft.core.Scratch.dir(s"graft_ck_$prefix")
    boundedReplayConf(s, replayStatePartitions(replayBytes(replayPath),
      s.sparkContext.defaultParallelism)) {
      val q = out.writeStream.format("memory").queryName(name)
        .option("checkpointLocation", ck.getAbsolutePath)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      try awaitBatches(q, prefix)
      finally { q.stop(); graft.core.Scratch.delete(ck) }
    }
    s.table(name)
  }

  /** Wait for an availableNow replay to finish and require a genuinely
    * multi-batch run: at least 3 distinct batch ids, one per split of
    * the replay fixture.
    */
  private def awaitBatches(q: org.apache.spark.sql.streaming.StreamingQuery,
                           prefix: String): Unit = {
    q.awaitTermination()
    val batches = q.recentProgress.map(_.batchId).distinct.length
    require(batches >= 3,
      s"$prefix: replay must run >= 3 batches " +
        s"(maxFilesPerTrigger=1 over the split fixture), got $batches")
  }

  /** The events stream every event-time streaming row reads,
    * normalized to TimestampType through the SAME schema-adaptive
    * helper batch `Tables.events` uses ([[graft.core.EventTime]]).
    * One definition — st2/st4/st5/st6 sharing it is what keeps their
    * event-time semantics identical; a per-row copy that drifted
    * (different source, float division on the nanos encoding) would
    * silently diverge one stream's clock. Reads the 3-file
    * StreamReplay copy (`replay`, from [[StreamReplay.ensureEvents]])
    * one file per batch — including the planted late 'view' every
    * consumer must drop.
    */
  private def eventsStream(s: SparkSession, replay: String) =
    graft.core.EventTime.normalize(replayStream(s, replay))

  /** A [[StreamReplay]] dir read as a stream, one split file per
    * batch — the source of every st row.
    */
  private def replayStream(s: SparkSession, replay: String) =
    s.readStream
      .schema(Tables.parquet(s, replay).schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(replay)

  private val streamClean = CatalogQuery(
    "st1_streaming_corpus_clean",
    (s: SparkSession, dir: String) => {
      val replay = StreamReplay.ensureDocs(s, dir)
      val src = replayStream(s, replay)
        // +1: doc_id 0 at exactly epoch 0 equals the INITIAL watermark
        // (0), and dropDuplicatesWithinWatermark discards rows at/below
        // the watermark as late — the row would silently vanish.
        .withColumn("ts", timestamp_seconds(col("doc_id") + lit(1)))
      val cleaned = graft.streaming.StreamingCorpusClean.clean(
        src, "text", "ts", horizon = "1 hour", minQuality = 0.5)
      // the replay's batch-3 sentinel (a duplicate of split 2's LAST
      // doc) only stays out of these counts if the dedup state
      // SURVIVED the batch boundary — the oracle never sees it; the
      // split-2-tail anchoring keeps the fixture valid at any corpus
      // id span (StreamReplay.ensureDocs)
      runReplay(s, cleaned, "graft_st1_", replay)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("total_chars"))
        .orderBy(col("lang"))
    },
    Some("""WITH dedup AS (
           |  SELECT min(doc_id) AS keep_id FROM documents GROUP BY md5(text)),
           |kept AS (
           |  SELECT * FROM documents
           |  WHERE doc_id IN (SELECT keep_id FROM dedup)),
           |f AS (
           |  SELECT lang, n_chars,
           |    list_filter(string_split_regex(text,'\s+'), w -> w <> '') AS ws,
           |    len(regexp_replace(text, '[^.,!?;:]', '', 'g'))*1.0/len(text)
           |      AS punct_ratio
           |  FROM kept),
           |g AS (
           |  SELECT lang, n_chars, len(ws) AS n_tokens, punct_ratio,
           |    len(list_filter(ws, w -> list_contains(['the','a','of','to','and'], w)))
           |      *1.0/len(ws) AS stop_ratio
           |  FROM f),
           |q AS (
           |  SELECT lang, n_chars,
           |    round(0.5*least(1.0, n_tokens/50.0) + 0.25*(1.0-punct_ratio)
           |          + 0.25*least(1.0, 4.0*stop_ratio), 6) AS quality
           |  FROM g)
           |SELECT lang, count(*) AS n_docs,
           |       CAST(sum(n_chars) AS BIGINT) AS total_chars
           |FROM q WHERE quality >= 0.5
           |GROUP BY lang ORDER BY lang""".stripMargin),
    doc = "Streaming corpus clean through a real StreamExecution " +
      "(file-source replay, availableNow, TTL'd dedup state, memory " +
      "sink), graded against the batch-equivalent DuckDB replay")

  /** q12's streaming twin under APPEND mode — the mode a 100 TB
    * ingest actually runs (complete mode re-emits the whole result
    * every batch; update mode needs an upsert sink). Append emits a
    * window exactly once, when the watermark passes its end — so the
    * final partial region of event time (window end above
    * `max(ts) - delay`) is still open when the replay finishes, and
    * the oracle applies the same cutoff analytically. This row pins
    * BOTH halves of the contract: the per-window aggregates equal the
    * batch groupBy, and the emission frontier is exactly
    * `window_end <= max_event_time - delay`.
    */
  private val streamHourly = CatalogQuery(
    "st2_streaming_events_hourly",
    (s: SparkSession, dir: String) => {
      val replay = StreamReplay.ensureEvents(s, dir)
      val agg = eventsStream(s, replay)
        .withWatermark("ts", "1 hour")
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        // total as an integral sum of floor(value*100): floor(v*100) is
        // one deterministic IEEE op per row and long addition is
        // order-independent, so the hash compare cannot flip on an
        // ulp-boundary the way round(sum(double), 2) could when Spark
        // and DuckDB sum in different orders.
        .agg(count(lit(1)).as("n_events"),
          sum(floor(col("value") * 100)).as("total_value_c"))
        .select(col("window.start").as("hour"), col("event_type"),
          col("n_events"), col("total_value_c"))
      // the replay's planted Jan-1 'view' arrives in batch 2 with the
      // watermark already past Jan 20 — a working late filter drops
      // it; if it leaks, its hour emits an extra count and the row
      // flips red against the pristine-table oracle
      runReplay(s, agg, "graft_st2_", replay)
        .orderBy(col("hour"), col("event_type"))
    },
    Some("""WITH wm AS (
           |  SELECT max(ts) - INTERVAL 1 HOUR AS w FROM events),
           |g AS (
           |  SELECT date_trunc('hour', ts) AS hour, event_type,
           |    count(*) AS n_events,
           |    CAST(sum(CAST(floor(value*100) AS BIGINT)) AS BIGINT)
           |      AS total_value_c
           |  FROM events GROUP BY 1, 2)
           |SELECT hour, event_type, n_events, total_value_c
           |FROM g, wm WHERE hour + INTERVAL 1 HOUR <= w
           |ORDER BY hour, event_type""".stripMargin),
    doc = "Watermarked hourly windowed aggregation through a real " +
      "append-mode StreamExecution; oracle replays the batch groupBy " +
      "plus the analytic emission frontier max(ts) - 1h")

  /** The d6 incremental-dedup flow as a STREAM: documents with id >=
    * 250 replayed through the file source, probed against the at-rest
    * MinHash band index built from the id < 250 corpus (same `ensure`
    * site as d6 — one build serves both rows). Verification is the
    * signature-agreement estimator (stderr ~0.03 at k=128), so the
    * emitted pair set is decided by thresholding est_jaccard at 0.5 —
    * deterministic here because the corpus's exact-J distribution is
    * bimodal (planted pairs >= 0.9, background <= 0.07, both > 20
    * sigma from 0.5), which is what lets an estimator-verified row
    * carry an EXACT-Jaccard DuckDB oracle. Only (i, j) is emitted:
    * est_jaccard itself is engine-seeded (minhash family) and not
    * DuckDB-replayable.
    */
  private val streamIndexProbe = CatalogQuery(
    "st3_streaming_index_probe",
    (s: SparkSession, dir: String) => {
      val docs = Tables(s, dir).documents
      val path = graft.operators.DedupIndex.ensure(s, dir, "lt250",
        docs.filter(col("doc_id") < 250), n = 3, bands = 16, rows = 8,
        maxDf = 100)
      val replay = StreamReplay.ensureDocs(s, dir)
      val src = replayStream(s, replay)
        // probe only the pristine id-domain: the replay's sentinel
        // duplicate (id > SentinelMinId) is st1's dedup-state fixture;
        // here it would trivially probe-match its original
        .filter(col("doc_id") >= 250 &&
          col("doc_id") < StreamReplay.SentinelMinId)
        .withColumn("ts", timestamp_seconds(col("doc_id") + lit(1)))
      val m = graft.streaming.StreamingDedupIndex.matches(s, path, src,
        tsCol = "ts", horizon = "1 hour", minEstJaccard = 0.5)
      runReplay(s, m, "graft_st3_", replay)
        .select(least(col("doc"), col("match_doc")).as("i"),
          greatest(col("doc"), col("match_doc")).as("j"))
        .orderBy(col("i"), col("j"))
    },
    // exact cross-split Jaccard pairs; no stop-shingle CTE — the
    // signature path has no maxDf concept (and the testdata has no
    // hot shingles for it to matter)
    Some("""WITH toks AS (SELECT doc_id, list_filter(string_split_regex(text,'\s+'), w -> w <> '') AS ws
           |              FROM documents),
           |sh AS (SELECT DISTINCT doc_id, ws[i]||' '||ws[i+1]||' '||ws[i+2] AS s
           |       FROM toks, unnest(range(1, len(ws)-1)) AS t(i)),
           |sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
           |common AS (SELECT a.doc_id i, b.doc_id j, count(*) c
           |           FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
           |           GROUP BY 1, 2)
           |SELECT i, j
           |FROM common
           |JOIN sizes sa ON sa.doc_id = i
           |JOIN sizes sb ON sb.doc_id = j
           |WHERE c*1.0/(sa.sz + sb.sz - c) >= 0.8
           |  AND i < 250 AND j >= 250
           |ORDER BY i, j""".stripMargin),
    doc = "Streaming incremental dedup: the firehose probed against " +
      "the at-rest band index via stream-static joins, signature-" +
      "agreement verification, graded against exact cross-split pairs")

  /** a2's streaming twin — MERGING session state under append mode,
    * the stateful shape st2's fixed windows don't exercise (a late
    * event can fuse two open sessions; fixed windows never merge). A
    * session stops growing once the watermark passes its window end
    * (= last event + gap): no on-time event can extend it, so append
    * emits exactly the sessions with session_end + gap <= max(ts) -
    * delay, and the oracle applies that frontier to a2's lag/cumsum
    * replay analytically.
    */
  private val streamSessions = CatalogQuery(
    "st4_streaming_sessionize",
    (s: SparkSession, dir: String) => {
      val replay = StreamReplay.ensureEvents(s, dir)
      val sessions = eventsStream(s, replay)
        .withWatermark("ts", "1 hour")
        .groupBy(col("user_id"),
          session_window(col("ts"), "30 minutes").as("w"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("user_id"), col("w.start").as("session_start"),
          (col("w.end") - expr("INTERVAL 30 minutes")).as("session_end"),
          col("n_events"))
      // the planted late 'view' would otherwise open a brand-new
      // session for the sentinel user — an extra output row
      runReplay(s, sessions, "graft_st4_", replay)
        .orderBy(col("user_id"), col("session_start"))
    },
    Some("""WITH wm AS (SELECT max(ts) - INTERVAL 1 HOUR AS w FROM events),
           |e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts FROM events),
           |b AS (SELECT user_id, ts,
           |        CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
           |               OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
           |                    > INTERVAL 30 MINUTE
           |             THEN 1 ELSE 0 END AS brk
           |      FROM e),
           |s AS (SELECT user_id, ts,
           |        sum(brk) OVER (PARTITION BY user_id ORDER BY ts
           |                       ROWS UNBOUNDED PRECEDING) AS sid
           |      FROM b),
           |g AS (SELECT user_id, min(ts) AS session_start,
           |        max(ts) AS session_end, count(*) AS n_events
           |      FROM s GROUP BY user_id, sid)
           |SELECT user_id, session_start, session_end, n_events
           |FROM g, wm WHERE session_end + INTERVAL 30 MINUTE <= w
           |ORDER BY user_id, session_start""".stripMargin),
    doc = "Gap sessionization through a real append-mode " +
      "StreamExecution (merging session state); oracle = a2's replay " +
      "plus the analytic emission frontier")

  /** Shared st5/st12 join: views × clicks per user within a 30-minute
    * event-time window, restructured around a derived TIME-BUCKET
    * equi-key so the join state is probed per (user, 30-min bucket)
    * instead of per user.
    *
    * Why: Spark's stream-stream symmetric hash join buffers each side
    * keyed by the EQUALITY columns only; range conditions are a
    * post-filter on the scanned bucket. Keyed on user alone, every
    * arriving view scans every buffered click of that user — work
    * quadratic in per-user event density, which is exactly what grows
    * when a corpus scales at fixed user cardinality (round-16 sweep:
    * 421 s / 411 s sf10 serve, decade2 57×/46×).
    *
    * The restructure is lossless: c_ts ∈ (v_ts, v_ts + 30 min] implies
    * bucket(c) ∈ {bucket(v), bucket(v) + 1} for bucket(t) =
    * unix_micros(t) div 1 800 000 000, so the click side explodes into
    * its two candidate view-buckets (bucket(c) and bucket(c) − 1) and
    * the join adds `v_bkt = c_bkt`. A true pair matches EXACTLY ONE
    * copy (the two copies carry distinct c_bkt values), so no dedup is
    * needed — and for the left_outer twin the VIEW side stays
    * unexploded, so unmatched views still emit exactly one null row.
    * The exact range predicate stays in the join condition, which is
    * also what keeps the state-eviction watermarks derivable — the
    * added equality column only re-keys the state store. Both sides'
    * event-time columns, watermarks and the emission frontier are
    * untouched, so the emitted pair set (and st12's withheld set) is
    * byte-identical to the user-only-keyed join.
    */
  private def bucketedAttributionJoin(s: SparkSession, replay: String,
                                      joinType: String) = {
    def stream(kind: String, alias: String) = eventsStream(s, replay)
      .filter(col("event_type") === kind)
      .select(col("user_id").as(s"${alias}_user"),
        col("event_id").as(s"${alias}_id"),
        col("ts").as(s"${alias}_ts"))
      .withWatermark(s"${alias}_ts", "1 hour")
    // integer micros div: exact at any timestamp, no double rounding
    def bucket(tsCol: String) = expr(s"unix_micros($tsCol) div 1800000000")
    val views = stream("view", "v").withColumn("v_bkt", bucket("v_ts"))
    val clicks = stream("click", "c")
      .withColumn("__off", explode(array(lit(0L), lit(1L))))
      .withColumn("c_bkt", bucket("c_ts") - col("__off"))
      .drop("__off")
    views.join(clicks,
      col("v_user") === col("c_user") && col("v_bkt") === col("c_bkt") &&
        col("c_ts") > col("v_ts") &&
        col("c_ts") <= col("v_ts") + expr("INTERVAL 30 minutes"),
      joinType)
  }

  /** a4's STREAM-STREAM twin: views and clicks as two live streams,
    * inner-joined on user + an event-time range — the last Structured
    * Streaming join shape the engine hadn't exercised (st3 joins
    * stream to STATIC). Both sides are watermarked, and the range
    * condition is what lets Spark bound the join state: a buffered
    * view can be evicted once the click watermark passes viewTs + 30
    * min, so state is O(watermark window), not O(stream history) —
    * the property that makes this runnable on an unbounded 100 TB/day
    * ingest. Inner-join emission doesn't wait on the watermark (it
    * only drives eviction), so the availableNow replay emits exactly
    * the batch-join pair set and the oracle is the plain inequality
    * join on the same micros-truncated timestamps.
    *
    * Joined via [[bucketedAttributionJoin]]: a derived 30-minute
    * time-bucket equi-key bounds each state probe to one (user,
    * bucket) slot — the round-16 sweep measured the user-only key at
    * 421 s sf10 serve (decade2 57×) because the symmetric-hash join
    * scans EVERY buffered click of a user per probing view, and the
    * per-user event density grows linearly with scale (quadratic probe
    * work). Output is provably identical (each true pair matches
    * exactly one of the two click bucket copies).
    */
  private val streamAttribution = CatalogQuery(
    "st5_stream_stream_join",
    (s: SparkSession, dir: String) => {
      val replay = StreamReplay.ensureEvents(s, dir)
      val joined = bucketedAttributionJoin(s, replay, "inner")
      runReplay(s, joined, "graft_st5_", replay)
        .select(col("v_user").as("user_id"), col("v_id").as("view_id"),
          col("c_id").as("click_id"))
        .orderBy(col("view_id"), col("click_id"))
    },
    Some("""SELECT v.user_id, v.event_id AS view_id, c.event_id AS click_id
           |FROM (SELECT * FROM events WHERE event_type = 'view') v
           |JOIN (SELECT * FROM events WHERE event_type = 'click') c
           |  ON c.user_id = v.user_id
           |  AND CAST(c.ts AS TIMESTAMP) > CAST(v.ts AS TIMESTAMP)
           |  AND CAST(c.ts AS TIMESTAMP) <=
           |      CAST(v.ts AS TIMESTAMP) + INTERVAL 30 MINUTE
           |ORDER BY view_id, click_id""".stripMargin),
    doc = "Stream-stream attribution join (views x clicks, event-time " +
      "range bounds the state); emits exactly the batch pair set")

  /** st5's LEFT OUTER twin — the join shape whose OUTER rows are
    * watermark-driven: an unmatched view emits its null-click row only
    * when the global watermark proves no future click can match it
    * (v_ts + 30 min below the min of both sides' watermarks — the
    * range condition is what makes the state watermark derivable, the
    * same bound that keeps state O(window)). Inner pairs emit
    * immediately; the null rows emit at state EVICTION, so they
    * exercise the per-batch eviction machinery plus the availableNow
    * final flush (watermark advances after the last data batch, the
    * flush batch evicts and emits the tail — the st11 timer mechanism,
    * applied to join state). Views whose window is still open at the
    * final watermark are withheld, and the oracle applies the same
    * frontier analytically in Spark's truncating ms arithmetic (the
    * st8 convention). The planted three-weeks-late 'view' must be
    * dropped at the input watermark — if it leaks it emits a phantom
    * null row for the sentinel user and flips the hash.
    */
  private val streamAttributionOuter = CatalogQuery(
    "st12_stream_stream_outer_join",
    (s: SparkSession, dir: String) => {
      val replay = StreamReplay.ensureEvents(s, dir)
      val joined = bucketedAttributionJoin(s, replay, "left_outer")
      runReplay(s, joined, "graft_st12_", replay)
        .select(col("v_user").as("user_id"), col("v_id").as("view_id"),
          col("c_id").as("click_id"))
        .orderBy(col("view_id"), col("click_id"))
    },
    Some("""WITH v AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts
           |           FROM events WHERE event_type = 'view'),
           |c AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts
           |      FROM events WHERE event_type = 'click'),
           |wm AS (
           |  SELECT least((SELECT max(epoch_us(ts)) // 1000 FROM v),
           |               (SELECT max(epoch_us(ts)) // 1000 FROM c))
           |           - 3600000 AS w),
           |m AS (
           |  SELECT v.user_id, v.event_id AS view_id, c.event_id AS click_id
           |  FROM v JOIN c ON c.user_id = v.user_id
           |    AND c.ts > v.ts AND c.ts <= v.ts + INTERVAL 30 MINUTE),
           |um AS (
           |  SELECT v.user_id, v.event_id AS view_id,
           |         CAST(NULL AS BIGINT) AS click_id
           |  FROM v, wm
           |  WHERE epoch_us(v.ts) // 1000 + 1800000 < wm.w
           |    AND NOT EXISTS (SELECT 1 FROM c
           |          WHERE c.user_id = v.user_id AND c.ts > v.ts
           |            AND c.ts <= v.ts + INTERVAL 30 MINUTE))
           |SELECT user_id, view_id, click_id FROM m
           |UNION ALL SELECT user_id, view_id, click_id FROM um
           |ORDER BY view_id, click_id""".stripMargin),
    doc = "Stream-stream LEFT OUTER attribution join: inner pairs emit " +
      "immediately, unmatched views emit null-click rows at state " +
      "eviction when the min watermark passes their window (incl. the " +
      "final-flush tail); oracle = batch pairs + the analytic " +
      "unmatched frontier in truncating ms arithmetic")

  /** CHAINED stateful aggregations in one append-mode stream — the
    * multi-stateful-operator surface (Spark 4): stage 1 aggregates to
    * (day-window, user) grain, stage 2 re-windows stage 1's output via
    * `window_time` and counts rows — a streaming COUNT(DISTINCT user)
    * per day without any distinct-over-frame support, the streaming
    * twin of a6's contribution-expansion trick (state per day-user in
    * stage 1, per day in stage 2; both evicted by the shared
    * watermark). Emission frontier: a day emits when the watermark
    * (max ts − 1 h) passes its END, so the final partial day stays
    * open and the oracle applies the same cutoff analytically, as st2
    * does for hours.
    */
  private val streamDau = CatalogQuery(
    "st6_streaming_dau",
    (s: SparkSession, dir: String) => {
      val replay = StreamReplay.ensureEvents(s, dir)
      val daily = eventsStream(s, replay)
        .withWatermark("ts", "1 hour")
        .groupBy(window(col("ts"), "1 day"), col("user_id"))
        .agg(count(lit(1)).as("n"))
      val dau = daily
        .groupBy(window(window_time(col("window")), "1 day").as("day_w"))
        .agg(count(lit(1)).as("dau"), sum(col("n")).as("n_events"))
        .select(col("day_w.start").cast("date").as("day"),
          col("dau"), col("n_events"))
      // the planted late 'view' would count the sentinel user into
      // Jan 1's dau through BOTH chained stages if stage 1's late
      // filter failed
      runReplay(s, dau, "graft_st6_", replay)
        .orderBy(col("day"))
    },
    Some("""WITH e AS (SELECT CAST(ts AS TIMESTAMP) AS ts, user_id FROM events),
           |wm AS (SELECT max(ts) - INTERVAL 1 HOUR AS w FROM e),
           |d AS (
           |  SELECT CAST(date_trunc('day', ts) AS DATE) AS day, user_id,
           |    count(*) AS n
           |  FROM e GROUP BY day, user_id)
           |SELECT day, count(*) AS dau, CAST(sum(n) AS BIGINT) AS n_events
           |FROM d, wm WHERE CAST(day AS TIMESTAMP) + INTERVAL 1 DAY <= w
           |GROUP BY day ORDER BY day""".stripMargin),
    doc = "Streaming daily distinct actives via CHAINED stateful " +
      "aggregations (day-user grain, then window-on-window rollup) " +
      "in append mode; oracle replays the batch DAU plus the emission " +
      "frontier")

  /** The foreachBatch EXACTLY-ONCE FILE SINK surface — the one
    * production streaming pattern the memory-sink rows (st1-st6)
    * cannot exercise. Finalized daily (day, event_type) counts are
    * written per micro-batch into `batch_id=<id>/` subdirs with
    * `mode=overwrite`: the deterministic batch id + full-overwrite
    * write is the standard idempotence recipe (a batch re-executed
    * after a failure replaces its own output instead of appending a
    * duplicate — the checkpoint pins which offsets each id covers).
    * The emitted answer is then the trending report read back FROM THE
    * FILES: top-3 event types per finalized day. The rank runs
    * batch-side over the day×type grain — O(days·types) rows no
    * matter the event volume, so the window sort is safe at 100 TB.
    * Late-sentinel falsifiability rides the counts like st2/st6: a
    * leaked Jan-1 'view' shifts that day's n_events and flips the
    * hash against the pristine-table oracle.
    */
  private val streamTrending = CatalogQuery(
    "st7_streaming_trending",
    (s: SparkSession, dir: String) => {
      import org.apache.spark.sql.expressions.Window
      val replay = StreamReplay.ensureEvents(s, dir)
      val daily = eventsStream(s, replay)
        .withWatermark("ts", "1 hour")
        .groupBy(window(col("ts"), "1 day"), col("event_type"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("window.start").cast("date").as("day"),
          col("event_type"), col("n_events"))
      // RAM-backed scratch for both the checkpoint and the per-batch
      // parquet dirs (the runReplay rationale; the day-level aggregate
      // is kilobytes). The dir must OUTLIVE this builder — the
      // returned frame reads `$sink/data` lazily — so it is never
      // deleted by a LIVE process's builds: the dir name embeds the
      // owning pid, cross-process reaping touches only dirs whose pid
      // is provably dead, and this process's own dirs die in its JVM
      // shutdown hook (Scratch.pidDir). A bare prefix glob here once
      // deleted concurrent siblings' live sinks and earlier same-
      // process frames still lazily re-listing theirs.
      graft.core.Scratch.reapDead("graft_st7_")
      val sink = graft.core.Scratch.pidDir("graft_st7_").getAbsolutePath
      // Hive-style batch_id=<id> subdirs under one data root: the read
      // back is plain partition discovery (no glob), and each re-run
      // of a batch replaces exactly its own partition directory
      val writeBatch: (org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], Long) => Unit =
        (batch, id) =>
          batch.write.mode("overwrite").parquet(s"$sink/data/batch_id=$id")
      boundedReplayConf(s, replayStatePartitions(replayBytes(replay),
        s.sparkContext.defaultParallelism)) {
        val q = daily.writeStream
          .outputMode("append")
          .trigger(Trigger.AvailableNow())
          .option("checkpointLocation", s"$sink/_chk")
          .foreachBatch(writeBatch)
          .start()
        try awaitBatches(q, "st7") finally q.stop()
      }
      val fin = Tables.parquet(s, s"$sink/data")
      val byDay = Window.partitionBy(col("day"))
        .orderBy(col("n_events").desc, col("event_type"))
      fin.withColumn("rk", row_number().over(byDay).cast("long"))
        .filter(col("rk") <= 3)
        .select(col("day"), col("rk"), col("event_type"), col("n_events"))
        .orderBy(col("day"), col("rk"))
    },
    Some("""WITH wm AS (
           |  SELECT max(CAST(ts AS TIMESTAMP)) - INTERVAL 1 HOUR AS w
           |  FROM events),
           |g AS (
           |  SELECT CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE)
           |           AS day,
           |         event_type, CAST(count(*) AS BIGINT) AS n_events
           |  FROM events GROUP BY 1, 2),
           |f AS (SELECT g.* FROM g, wm
           |      WHERE CAST(day AS TIMESTAMP) + INTERVAL 1 DAY <= w),
           |r AS (
           |  SELECT day, event_type, n_events,
           |    CAST(row_number() OVER (PARTITION BY day
           |           ORDER BY n_events DESC, event_type) AS BIGINT) AS rk
           |  FROM f)
           |SELECT day, rk, event_type, n_events
           |FROM r WHERE rk <= 3 ORDER BY day, rk""".stripMargin),
    doc = "Streaming trending top-3 event types per finalized day " +
      "through a foreachBatch exactly-once file sink (batch-id-keyed " +
      "overwrite dirs = idempotent re-execution); oracle replays the " +
      "batch counts, the emission frontier, and the rank")

  /** a12's streaming twin through [[graft.streaming.StreamMotif]]:
    * contiguous view→click→purchase counting needs a total per-key
    * order a stream only has retrospectively, so this is the one row
    * exercising ordered-buffer custom state (flatMapGroupsWithState +
    * event-time timeouts) rather than a built-in stateful aggregate.
    * The oracle restricts the batch count to the emission frontier in
    * the SAME truncating millisecond arithmetic Spark's watermark
    * uses — at sf0.01 exactly one motif sits past the frontier, so a
    * replay that over-emits (ignores the frontier) or under-emits
    * (loses carry across batch boundaries, drops the final no-data
    * flush) flips the row. The planted three-weeks-late 'view' must
    * be dropped by the operator's own late filter before it corrupts
    * a finalized prefix.
    */
  private val streamMotif = CatalogQuery(
    "st8_streaming_motif",
    (s: SparkSession, dir: String) => {
      import s.implicits._
      val replay = StreamReplay.ensureEvents(s, dir)
      val stream = eventsStream(s, replay)
        .withWatermark("ts", "24 hours")
        .select(col("user_id"), col("ts"), unix_micros(col("ts")).as("us"),
          col("event_id"), col("event_type"))
        .as[graft.streaming.StreamMotif.MotifEvent]
      val deltas = graft.streaming.StreamMotif.deltas(
        stream, Seq("view", "click", "purchase"))
      runReplay(s, deltas.toDF(), "graft_st8_", replay)
        .groupBy(col("user_id"))
        .agg(sum(col("n")).as("n_motifs"))
        .orderBy(col("user_id"))
    },
    Some("""WITH wm AS (
           |  SELECT max(epoch_us(CAST(ts AS TIMESTAMP))) // 1000
           |           - 86400000 AS w
           |  FROM events),
           |o AS (
           |  SELECT user_id, event_type,
           |         lead(event_type, 1) OVER w2 AS t1,
           |         lead(event_type, 2) OVER w2 AS t2,
           |         epoch_us(lead(CAST(ts AS TIMESTAMP), 2) OVER w2) // 1000
           |           AS ms2
           |  FROM events
           |  WINDOW w2 AS (PARTITION BY user_id
           |                ORDER BY CAST(ts AS TIMESTAMP), event_id))
           |SELECT user_id, CAST(count(*) AS BIGINT) AS n_motifs
           |FROM o
           |WHERE event_type = 'view' AND t1 = 'click' AND t2 = 'purchase'
           |  AND ms2 <= (SELECT w FROM wm)
           |GROUP BY user_id ORDER BY user_id""".stripMargin),
    doc = "Streaming contiguous-motif counting via ordered-buffer " +
      "custom state (flatMapGroupsWithState, event-time timeouts): " +
      "events finalize as the watermark passes them, occurrences " +
      "straddling batch boundaries are carried exactly once, and the " +
      "oracle replays the batch count at the emission frontier in " +
      "Spark's own truncating ms arithmetic")

  /** a13's streaming twin — and the payoff of the packed order key:
    * streaming state must be MERGEABLE, and Spark's `first()` in a
    * streaming aggregate is arrival-order nondeterministic (under
    * multi-batch replay, batch order ≠ event-time order), while
    * min/max over the order-isomorphic packed (ts, id) DECIMAL are
    * plain mergeable aggregates that decide true event-time first/last
    * regardless of arrival order. The stream emits finalized bars with
    * open/close IDS; values are recovered batch-side by unique-id
    * joins (the st7 pattern: O(bars) rows, event volume irrelevant).
    * The replay's late sentinel carries event_id = −1, so the id fed
    * into the packing is shifted +1000 — the sentinel must survive the
    * in-plan non-negativity guard long enough for the WATERMARK to
    * drop it; a pre-filter on id would fake the late-row test.
    */
  private val streamOhlc = CatalogQuery(
    "st9_streaming_ohlc",
    (s: SparkSession, dir: String) => {
      val replay = StreamReplay.ensureEvents(s, dir)
      val idSpace = 10000000000L
      val dec = org.apache.spark.sql.types.DecimalType(38, 0)
      val bars = eventsStream(s, replay)
        .withColumn("__eid", col("event_id") + lit(1000L))
        .withColumn("__pk",
          graft.operators.Changelog.packedOrderKey("ts", "__eid", idSpace))
        .withWatermark("ts", "1 hour")
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          max(col("value")).as("high"), min(col("value")).as("low"),
          min(col("__pk")).as("__opk"), max(col("__pk")).as("__cpk"))
        .select(col("window.start").as("hour"), col("event_type"),
          col("n_events"), col("high"), col("low"),
          ((col("__opk") % lit(idSpace).cast(dec)).cast("long") - 1000L)
            .as("open_id"),
          ((col("__cpk") % lit(idSpace).cast(dec)).cast("long") - 1000L)
            .as("close_id"))
      val sunk = runReplay(s, bars, "graft_st9_", replay)
      val vals = Tables(s, dir).events.select(col("event_id"), col("value"))
      sunk
        .join(vals.select(col("event_id").as("open_id"),
          col("value").as("open")), "open_id")
        .join(vals.select(col("event_id").as("close_id"),
          col("value").as("close")), "close_id")
        .select(col("hour"), col("event_type"), col("n_events"),
          col("open"), col("high"), col("low"), col("close"))
        .orderBy(col("hour"), col("event_type"))
    },
    Some("""WITH b AS (
           |  SELECT event_type,
           |         date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hour,
           |         CAST(ts AS TIMESTAMP) AS uts, event_id, value
           |  FROM events),
           |wm AS (SELECT max(CAST(ts AS TIMESTAMP)) - INTERVAL 1 HOUR AS w
           |       FROM events),
           |agg AS (
           |  SELECT event_type, hour, CAST(count(*) AS BIGINT) AS n_events,
           |         max(value) AS high, min(value) AS low
           |  FROM b GROUP BY 1, 2),
           |o AS (
           |  SELECT event_type, hour, value AS open FROM b
           |  QUALIFY row_number() OVER (PARTITION BY event_type, hour
           |                             ORDER BY uts, event_id) = 1),
           |c AS (
           |  SELECT event_type, hour, value AS close FROM b
           |  QUALIFY row_number() OVER (PARTITION BY event_type, hour
           |                             ORDER BY uts DESC, event_id DESC) = 1)
           |SELECT a.hour, a.event_type, a.n_events,
           |       o.open, a.high, a.low, c.close
           |FROM agg a
           |JOIN o ON a.event_type = o.event_type AND a.hour = o.hour
           |JOIN c ON a.event_type = c.event_type AND a.hour = c.hour
           |WHERE a.hour + INTERVAL 1 HOUR <= (SELECT w FROM wm)
           |ORDER BY a.hour, a.event_type""".stripMargin),
    doc = "Streaming OHLC bars: event-time first/last as MERGEABLE " +
      "min/max over the packed (ts, id) key — deterministic under " +
      "out-of-order multi-batch arrival where streaming first() is " +
      "not; finalized bars emit ids, values recovered batch-side by " +
      "unique-id joins; oracle replays a13's window spec at the " +
      "emission frontier")

  /** a14's streaming twin, and the stream-then-batch LAYERING pattern
    * st7 introduced applied to an analytic that cannot stream at all:
    * the concurrency sweep needs a total order over every boundary, so
    * the stream's job is only to FINALIZE sessions (st4's merging
    * session_window state, append mode, same watermark and emission
    * frontier), and the ±1 sweep runs batch-side over the finalized
    * relation through the same distributed prefix sum the batch row
    * uses. The planted 3-weeks-late view is dropped by the session
    * state's watermark — a late session would shift a day's peak, so
    * the oracle's frontier filter is load-bearing, not decorative.
    */
  private val streamConcurrency = CatalogQuery(
    "st10_streaming_concurrency",
    (s: SparkSession, dir: String) => {
      val replay = StreamReplay.ensureEvents(s, dir)
      val sessions = eventsStream(s, replay)
        .withWatermark("ts", "1 hour")
        .groupBy(col("user_id"),
          session_window(col("ts"), "30 minutes").as("w"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("w.start").as("session_start"),
          (col("w.end") - expr("INTERVAL 30 minutes")).as("session_end"))
      val finalized = runReplay(s, sessions, "graft_st10_", replay)
      graft.operators.Temporal.peakConcurrency(
          finalized, "session_start", "session_end")
        .orderBy(col("day"))
    },
    Some("""WITH wm AS (SELECT max(ts) - INTERVAL 1 HOUR AS w FROM events),
           |e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts FROM events),
           |b AS (SELECT user_id, ts,
           |        CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
           |               OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
           |                    > INTERVAL 30 MINUTE
           |             THEN 1 ELSE 0 END AS brk
           |      FROM e),
           |s AS (SELECT user_id, ts,
           |        sum(brk) OVER (PARTITION BY user_id ORDER BY ts
           |                       ROWS UNBOUNDED PRECEDING) AS sid
           |      FROM b),
           |g AS (SELECT user_id, min(ts) AS st, max(ts) AS en
           |      FROM s GROUP BY user_id, sid),
           |sess AS (SELECT st, en FROM g, wm
           |         WHERE en + INTERVAL 30 MINUTE <= w),
           |bd AS (SELECT st AS t, 1 AS delta FROM sess
           |       UNION ALL SELECT en, -1 FROM sess),
           |r AS (SELECT t, delta,
           |        sum(delta) OVER (ORDER BY t, delta DESC
           |                         ROWS UNBOUNDED PRECEDING) AS running
           |      FROM bd)
           |SELECT CAST(date_trunc('day', t) AS DATE) AS day,
           |       CAST(max(running + CASE WHEN delta = -1 THEN 1 ELSE 0 END)
           |            AS BIGINT) AS peak_concurrent,
           |       CAST(sum(CASE WHEN delta = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_starts,
           |       CAST(sum(CASE WHEN delta = -1 THEN 1 ELSE 0 END) AS BIGINT) AS n_ends
           |FROM r GROUP BY 1 ORDER BY 1""".stripMargin),
    doc = "Peak concurrent sessions per day over a real append-mode " +
      "StreamExecution's FINALIZED sessions (st4's merging state + " +
      "emission frontier), swept batch-side via the distributed " +
      "prefix sum; oracle = a14's replay restricted to the frontier")

  /** The SURVEY §2.8 membership state machine (ST1–ST5) under the
    * oracle gate — until round 11 the one family verified only by
    * spec. Heartbeats derive deterministically from `events`: member =
    * `user_id`, counter = the heartbeat's epoch second (monotone per
    * member, so stale/duplicate gossip is a same-second arrival),
    * health = `Left` on 'signup' rows (voluntary departure that
    * re-joins on the next higher-counter heartbeat — the reference's
    * rejoin rule) else `Alive`, and each member stops heartbeating at
    * a per-member HORIZON (day `10 + user_id % 20`) so the replay's
    * three watermark checkpoints each catch a different cohort going
    * silent: failure timeouts fire at W2 for the early horizons, at
    * the final no-data batch for the late ones, and cleanup removes
    * the earliest cohort entirely.
    *
    * The oracle replays the merge rules ANALYTICALLY: applied
    * heartbeats are first-of-their-second or Left (LWW stale-skip),
    * lifecycle kinds come from the prior applied state, and the
    * timeout events are reconstructed from the three deterministic
    * watermark values (max event time per batch prefix − 1 h) — fail
    * when `W − lastUpdate > failAfter` for an Alive entry whose
    * member has no data in the firing batch, removal when the silence
    * exceeds `failAfter + cleanupAfter` (`≥` on the Left path, whose
    * timer re-arms at `failAfter`). The planted three-weeks-late
    * sentinel maps to a member id absent from the pristine table —
    * the watermark must drop it before the state machine sees it, or
    * a phantom 'joined' row flips the hash.
    *
    * Reference anchor: `mp3/src/detector.go:163-227` (HeartbeatHandler
    * merge + FailMember/CleanupMember timers).
    */
  private val streamMembership = CatalogQuery(
    "st11_membership_lifecycle",
    (s: SparkSession, dir: String) => {
      import s.implicits._
      val replay = StreamReplay.ensureEvents(s, dir)
      val F = 259200000L // failAfter: 3 days
      val C = 432000000L // cleanupAfter: 5 more days
      val hbs = eventsStream(s, replay)
        .select(col("user_id"), unix_millis(col("ts")).as("tsms"),
          col("event_type"))
        // per-member heartbeat horizon: day 10 + (user_id % 20)
        .filter(col("tsms") < lit(1704067200000L) +
          (lit(10) + pmod(col("user_id"), lit(20))) * lit(86400000L))
        .select(
          col("user_id").cast("int").as("memberId"),
          concat(lit("10.0.0."), col("user_id").cast("string")).as("ip"),
          (col("tsms") / 1000).cast("long").as("heartbeatCount"),
          when(col("event_type") === "signup",
            lit(graft.streaming.Membership.Left))
            .otherwise(lit(graft.streaming.Membership.Alive)).as("health"),
          col("tsms").as("eventTimeMs"))
        .as[graft.streaming.Membership.Heartbeat]
      val ev = graft.streaming.Membership.updates(hbs,
        failAfterMs = F, cleanupAfterMs = C, watermarkDelay = "1 hour")
      runReplay(s, ev.toDF(), "graft_st11_", replay)
        .select(col("memberId").as("member_id"), col("kind"),
          col("heartbeatCount").as("hb_count"), col("health"),
          col("atMs").as("at_ms"))
        .orderBy(col("member_id"), col("at_ms"), col("kind"))
    },
    Some("""WITH hb AS (
           |  SELECT CAST(user_id AS INT) AS member_id,
           |         epoch_us(CAST(ts AS TIMESTAMP)) // 1000 AS tsms,
           |         (epoch_us(CAST(ts AS TIMESTAMP)) // 1000) // 1000 AS sec,
           |         CASE WHEN event_type = 'signup' THEN 2 ELSE 0 END AS health
           |  FROM events
           |  WHERE (epoch_us(CAST(ts AS TIMESTAMP)) // 1000) <
           |        1704067200000 + (10 + user_id % 20) * 86400000),
           |wm AS (
           |  SELECT (SELECT max(tsms) FROM hb WHERE tsms < 1704931200000)
           |           - 3600000 AS w1,
           |         (SELECT max(tsms) FROM hb WHERE tsms < 1705795200000)
           |           - 3600000 AS w2,
           |         (SELECT max(tsms) FROM hb) - 3600000 AS w3),
           |app AS (
           |  SELECT *,
           |    (row_number() OVER (PARTITION BY member_id, sec
           |                        ORDER BY tsms) = 1
           |     OR health = 2) AS applied
           |  FROM hb),
           |st AS (
           |  SELECT *,
           |    last_value(CASE WHEN applied THEN sec END IGNORE NULLS)
           |      OVER mw AS prev_sec,
           |    last_value(CASE WHEN applied THEN health END IGNORE NULLS)
           |      OVER mw AS prev_health
           |  FROM app
           |  WINDOW mw AS (PARTITION BY member_id ORDER BY tsms
           |                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
           |emit AS (
           |  SELECT member_id,
           |    CASE WHEN health = 2 THEN 'left'
           |         WHEN prev_sec IS NULL THEN 'joined'
           |         ELSE 'updated' END AS kind,
           |    sec AS hb_count, health, tsms AS at_ms
           |  FROM st
           |  WHERE applied AND (prev_sec IS NULL OR sec != prev_sec
           |                     OR health != prev_health)),
           |m AS (
           |  SELECT member_id,
           |    bool_or(tsms < 1704931200000) AS d1,
           |    bool_or(tsms >= 1704931200000 AND tsms < 1705795200000) AS d2,
           |    bool_or(tsms >= 1705795200000) AS d3,
           |    max(tsms) FILTER (WHERE applied AND tsms < 1704931200000) AS l1,
           |    max(tsms) FILTER (WHERE applied AND tsms < 1705795200000) AS l2,
           |    max(tsms) FILTER (WHERE applied) AS l3,
           |    arg_max(health, tsms)
           |      FILTER (WHERE applied AND tsms < 1704931200000) AS h1,
           |    arg_max(health, tsms)
           |      FILTER (WHERE applied AND tsms < 1705795200000) AS h2,
           |    arg_max(health, tsms) FILTER (WHERE applied) AS h3
           |  FROM app GROUP BY member_id),
           |sim AS (
           |  SELECT m.*, wm.w1, wm.w2, wm.w3,
           |    -- checkpoint 1 fires during batch 2 (watermark w1):
           |    -- suppressed when the member has batch-2 data
           |    (d1 AND NOT d2 AND h1 = 0 AND w1 - l1 > 259200000) AS f1,
           |    (d1 AND NOT d2 AND h1 = 2 AND w1 - l1 >= 691200000) AS r1
           |  FROM m, wm),
           |sim2 AS (
           |  SELECT *,
           |    CASE WHEN d2 THEN h2 WHEN f1 THEN 1 ELSE h1 END AS e2,
           |    CASE WHEN d2 THEN l2 ELSE l1 END AS le2,
           |    (d1 OR d2) AND NOT r1 AS present2
           |  FROM sim),
           |sim3 AS (
           |  SELECT *,
           |    (present2 AND NOT d3 AND e2 = 0 AND w2 - le2 > 259200000) AS f2,
           |    (present2 AND NOT d3 AND
           |     ((e2 = 2 AND w2 - le2 >= 691200000)
           |      OR (e2 = 1 AND w2 - le2 > 691200000))) AS r2
           |  FROM sim2),
           |sim4 AS (
           |  SELECT *,
           |    CASE WHEN d3 THEN h3 WHEN f2 THEN 1 ELSE e2 END AS e3,
           |    CASE WHEN d3 THEN l3 ELSE le2 END AS le3,
           |    (present2 OR d3) AND NOT r2 AS present3
           |  FROM sim3),
           |timers AS (
           |  SELECT member_id, 'failed' AS kind, l1 // 1000 AS hb_count,
           |         1 AS health, w1 AS at_ms
           |  FROM sim4 WHERE f1
           |  UNION ALL
           |  SELECT member_id, 'removed', l1 // 1000, h1, w1
           |  FROM sim4 WHERE r1
           |  UNION ALL
           |  SELECT member_id, 'failed', le2 // 1000, 1, w2
           |  FROM sim4 WHERE f2
           |  UNION ALL
           |  SELECT member_id, 'removed', le2 // 1000, e2, w2
           |  FROM sim4 WHERE r2
           |  UNION ALL
           |  SELECT member_id, 'failed', le3 // 1000, 1, w3
           |  FROM sim4 WHERE present3 AND e3 = 0 AND w3 - le3 > 259200000
           |  UNION ALL
           |  SELECT member_id, 'removed', le3 // 1000, e3, w3
           |  FROM sim4 WHERE present3 AND
           |    ((e3 = 2 AND w3 - le3 >= 691200000)
           |     OR (e3 = 1 AND w3 - le3 > 691200000))),
           |allev AS (SELECT * FROM emit UNION ALL SELECT * FROM timers)
           |SELECT member_id, kind, CAST(hb_count AS BIGINT) AS hb_count,
           |       CAST(health AS INT) AS health, CAST(at_ms AS BIGINT) AS at_ms
           |FROM allev ORDER BY member_id, at_ms, kind""".stripMargin),
    doc = "Gossip-membership lifecycle (ST1-ST5) as a catalog row: " +
      "LWW heartbeat merge with Left propagation and same-second " +
      "stale-skip, event-time failure timeouts and TTL cleanup fired " +
      "at the replay's three watermark checkpoints; the oracle " +
      "replays merge + timer rules analytically and the late sentinel " +
      "must die at the watermark before faking a member")

  /** The membership merge's two branches st11 CANNOT fire — under the
    * oracle gate. In st11 members go permanently silent at their
    * horizon, so (a) `detector.go:198-204`'s subtlest rule — a
    * higher-counter heartbeat RESURRECTING a falsely-Failed entry
    * verbatim — and (b) the never-add-Failed guard
    * (`detector.go:206-210`) plus the Failed-onto-Failed skip were
    * spec-only. This derivation plants all three:
    *
    *  - cohort R (user_id % 10 == 9): heartbeats before day 5, then
    *    SILENCE through day 20, then resumption. The failure timer
    *    fires at the batch-2 watermark (W1 ≈ day 10 − 1 h; silence
    *    > 5 d > the 3 d timeout), marking the entry Failed — then the
    *    batch-3 heartbeats carry higher counters and must resurrect it
    *    ("updated" events resume; a merge that refuses counters from a
    *    Failed entry drops them all and flips the row red);
    *  - cohort F (user_id % 10 == 5): heartbeats before day 10, then a
    *    planted HIGHER-COUNTER FAILED heartbeat (gossip of a failure)
    *    at day 21 — applied onto an Alive entry it marks it Failed
    *    ("failed" at the planted time), onto an already-Failed entry
    *    (members whose last heartbeat was old enough to time out at
    *    W1) the Failed-onto-Failed rule SKIPS it silently; the entry
    *    then ages out at the final flush;
    *  - phantoms (member_id = user_id + 1e8, health = Failed from
    *    first contact, every batch): the never-add guard must emit
    *    NOTHING for them — one phantom "joined" flips the hash.
    *
    * Batch 2 is empty by construction (no cohort heartbeats land in
    * [day 10, day 20)), so the watermark HOLDS at W1 across batches 2
    * and 3 — failure fires at W1, the resurrection data arrives while
    * the watermark still reads W1, and every remaining timer fires at
    * the final no-data flush (W3 = max event time − 1 h). The oracle
    * replays merge + both timer generations analytically from those
    * two watermark values. The replay's three-weeks-late sentinel
    * (user 999999999 % 10 == 9 → cohort R's early window, arriving in
    * batch 3) must still die at the watermark before faking a member.
    *
    * Reference anchor: `mp3/src/detector.go:163-227`.
    */
  private val streamMembershipResurrect = CatalogQuery(
    "st11b_membership_resurrection",
    (s: SparkSession, dir: String) => {
      import s.implicits._
      val replay = StreamReplay.ensureEvents(s, dir)
      val F = 259200000L // failAfter: 3 days
      val C = 432000000L // cleanupAfter: 5 more days
      val Day5 = 1704499200000L
      val Day10 = 1704931200000L
      val Day20 = 1705795200000L
      val P = 1705881600000L // planted Failed-gossip time: day 21
      def base() = eventsStream(s, replay)
        .select(col("user_id"), unix_millis(col("ts")).as("tsms"))
      def hb(memberId: org.apache.spark.sql.Column,
             counter: org.apache.spark.sql.Column,
             health: Int, at: org.apache.spark.sql.Column) = Seq(
        memberId.cast("int").as("memberId"),
        concat(lit("10.0.0."), memberId.cast("string")).as("ip"),
        counter.as("heartbeatCount"),
        lit(health).as("health"),
        at.as("eventTimeMs"))
      val sec = (col("tsms") / 1000).cast("long")
      val r9 = base()
        .filter(pmod(col("user_id"), lit(10)) === 9 &&
          (col("tsms") < Day5 || col("tsms") >= Day20))
        .select(hb(col("user_id"), sec,
          graft.streaming.Membership.Alive, col("tsms")): _*)
      val f5 = base()
        .filter(pmod(col("user_id"), lit(10)) === 5 && col("tsms") < Day10)
        .select(hb(col("user_id"), sec,
          graft.streaming.Membership.Alive, col("tsms")): _*)
      val planted = base()
        .filter(pmod(col("user_id"), lit(10)) === 5 && col("tsms") >= Day20)
        .select(hb(col("user_id"), lit(P / 1000),
          graft.streaming.Membership.Failed, lit(P)): _*)
      val phantom = base()
        .filter(pmod(col("user_id"), lit(10)) === 5 && col("tsms") < Day10)
        .select(hb(col("user_id") + 100000000L, sec,
          graft.streaming.Membership.Failed, col("tsms")): _*)
      val hbs = r9.unionByName(f5).unionByName(planted).unionByName(phantom)
        .as[graft.streaming.Membership.Heartbeat]
      val ev = graft.streaming.Membership.updates(hbs,
        failAfterMs = F, cleanupAfterMs = C, watermarkDelay = "1 hour")
      runReplay(s, ev.toDF(), "graft_st11b_", replay)
        .select(col("memberId").as("member_id"), col("kind"),
          col("heartbeatCount").as("hb_count"), col("health"),
          col("atMs").as("at_ms"))
        .orderBy(col("member_id"), col("at_ms"), col("kind"))
    },
    Some("""WITH ev AS (
           |  SELECT CAST(user_id AS INT) AS uid,
           |         epoch_us(CAST(ts AS TIMESTAMP)) // 1000 AS tsms
           |  FROM events),
           |hb AS (
           |  SELECT uid AS member_id, tsms, tsms // 1000 AS sec, 0 AS health
           |  FROM ev WHERE uid % 10 = 9
           |    AND (tsms < 1704499200000 OR tsms >= 1705795200000)
           |  UNION ALL
           |  SELECT uid, tsms, tsms // 1000, 0
           |  FROM ev WHERE uid % 10 = 5 AND tsms < 1704931200000
           |  UNION ALL
           |  SELECT uid, 1705881600000, 1705881600, 1
           |  FROM ev WHERE uid % 10 = 5 AND tsms >= 1705795200000
           |  UNION ALL
           |  SELECT uid + 100000000, tsms, tsms // 1000, 1
           |  FROM ev WHERE uid % 10 = 5 AND tsms < 1704931200000),
           |wm AS (
           |  SELECT (SELECT max(tsms) FROM hb WHERE tsms < 1704931200000)
           |           - 3600000 AS w1,
           |         (SELECT max(tsms) FROM hb) - 3600000 AS w3),
           |app AS (
           |  -- LWW stale-skip: the first arrival of each (member, sec)
           |  -- applies; phantoms (first contact Failed) never add
           |  SELECT member_id, sec, min(tsms) AS tsms
           |  FROM hb WHERE member_id < 100000000 AND health = 0
           |  GROUP BY member_id, sec),
           |emit AS (
           |  SELECT member_id,
           |    CASE WHEN row_number() OVER (PARTITION BY member_id
           |           ORDER BY tsms) = 1
           |         THEN 'joined' ELSE 'updated' END AS kind,
           |    sec AS hb_count, 0 AS health, tsms AS at_ms
           |  FROM app),
           |m AS (
           |  SELECT member_id,
           |    max(CASE WHEN tsms < 1704931200000 THEN tsms END) AS lasta,
           |    max(CASE WHEN tsms >= 1705795200000 THEN tsms END) AS lastb,
           |    bool_or(tsms < 1704931200000) AS hasa,
           |    bool_or(tsms >= 1705795200000) AS hasb
           |  FROM app GROUP BY member_id),
           |pl AS (SELECT DISTINCT member_id FROM hb
           |       WHERE health = 1 AND member_id < 100000000),
           |t AS (
           |  SELECT m.*, wm.w1, wm.w3,
           |    (pl.member_id IS NOT NULL) AS hasp,
           |    (m.hasa AND wm.w1 - m.lasta > 259200000) AS f1
           |  FROM m CROSS JOIN wm
           |  LEFT JOIN pl ON pl.member_id = m.member_id),
           |t2 AS (
           |  SELECT *,
           |    -- the member's terminal-Failed timestamp, if any: timer
           |    -- fail never resurrected, or planted gossip applied
           |    -- onto an Alive entry (onto Failed it is SKIPPED, so
           |    -- the state keeps lasta)
           |    CASE WHEN f1 AND NOT hasb THEN lasta
           |         WHEN (NOT f1) AND hasp AND hasa THEN 1705881600000
           |    END AS fail_ts,
           |    COALESCE(lastb, lasta) AS last_alive
           |  FROM t),
           |timers AS (
           |  -- failure timeout at the batch-2 checkpoint (watermark w1)
           |  SELECT member_id, 'failed' AS kind, lasta // 1000 AS hb_count,
           |         1 AS health, w1 AS at_ms
           |  FROM t2 WHERE f1
           |  UNION ALL
           |  -- planted higher-counter Failed gossip onto an Alive entry
           |  SELECT member_id, 'failed', 1705881600, 1, 1705881600000
           |  FROM t2 WHERE hasp AND hasa AND NOT f1
           |  UNION ALL
           |  -- final flush (w3): still-alive members fail on silence
           |  SELECT member_id, 'failed', last_alive // 1000, 1, w3
           |  FROM t2 WHERE fail_ts IS NULL AND w3 - last_alive > 259200000
           |  UNION ALL
           |  -- final flush: Failed entries age out past fail+cleanup
           |  SELECT member_id, 'removed', fail_ts // 1000, 1, w3
           |  FROM t2 WHERE fail_ts IS NOT NULL AND w3 - fail_ts > 691200000),
           |allev AS (SELECT * FROM emit UNION ALL SELECT * FROM timers)
           |SELECT member_id, kind, CAST(hb_count AS BIGINT) AS hb_count,
           |       CAST(health AS INT) AS health, CAST(at_ms AS BIGINT) AS at_ms
           |FROM allev ORDER BY member_id, at_ms, kind""".stripMargin),
    doc = "Membership resurrection + never-add-Failed under the oracle: " +
      "a cohort fails at the batch-2 watermark then RESURRECTS via " +
      "higher-counter batch-3 heartbeats; planted Failed gossip marks " +
      "Alive entries Failed but is skipped onto already-Failed ones; " +
      "first-contact-Failed phantoms must emit nothing")

  override def queries: Seq[CatalogQuery] =
    Seq(streamClean, streamHourly, streamIndexProbe, streamSessions,
      streamAttribution, streamAttributionOuter, streamDau,
      streamTrending, streamMotif, streamOhlc, streamConcurrency,
      streamMembership, streamMembershipResurrect)
}
