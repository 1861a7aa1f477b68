package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Streaming document deduplication — the streaming twin of the batch
  * `operators.Dedup` family, for pipelines that ingest training data
  * continuously instead of in snapshots.
  *
  * Batch exact-dedup keeps O(distinct docs) state forever; a stream
  * can't. `dropDuplicatesWithinWatermark` bounds the fingerprint state
  * to the watermark horizon: a duplicate arriving within `horizon` of
  * its first copy is dropped, one arriving later (state expired) is
  * re-emitted — the standard dedup-window contract of log ingestion
  * systems. State is a TTL'd hash set keyed by fingerprint, shuffled
  * once on the fingerprint (uniform, skew-free).
  */
object StreamingDedup {

  /** Exact streaming dedup on an md5 content fingerprint. */
  def exact(docs: DataFrame, textCol: String, tsCol: String,
            horizon: String = "1 hour"): DataFrame =
    docs.withColumn("fp", md5(col(textCol)))
      .withWatermark(tsCol, horizon)
      .dropDuplicatesWithinWatermark("fp")

  /** Near-dup streaming dedup: same state machine keyed on the 64-bit
    * SimHash fingerprint, so trivially-perturbed copies (same simhash)
    * also collapse. Computing simhash per row needs the token votes in
    * expression land — one projection, no extra shuffle.
    */
  def simhash(docs: DataFrame, textCol: String, tsCol: String,
              horizon: String = "1 hour"): DataFrame =
    withSimhash(docs, textCol)
      .withWatermark(tsCol, horizon)
      .dropDuplicatesWithinWatermark("fp")

  /** Adds the per-row 64-bit SimHash as `fp` via the native `simhash64`
    * expression (graft.functions.SimHash64) — one fused vote loop over
    * the materialized token-hash array, bit-for-bit the same
    * fingerprint as the batch `Dedup.simhashFingerprints` groupBy AND
    * the composed 64-fold form (both spec-asserted), since votes
    * are associative/commutative sums per token occurrence.
    */
  def withSimhash(docs: DataFrame, textCol: String): DataFrame =
    withTokenHashes(docs, textCol)
      .withColumn("fp", call_function("simhash64", col("__hs")))
      .drop("__toks", "__hs")

  private[graft] def withTokenHashes(docs: DataFrame, textCol: String): DataFrame =
    docs
      .withColumn("__toks", graft.operators.Dedup.wordsOf(textCol))
      .withColumn("__hs", transform(col("__toks"), t => xxhash64(t)))
}
