package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables

/** MinHash-LSH fingerprint index AT REST: the incremental-ingest twin
  * of [[Dedup.minhashLshPairs]], mirroring [[IvfIndex]]'s build-once /
  * probe-many division. A training-data pipeline does not re-fingerprint
  * 100 TB of corpus for every new crawl batch — it keeps the corpus's
  * LSH band rows on disk and answers "which new docs near-duplicate
  * something we already have" with one scan of the (tiny) batch and a
  * key-equality join against the stored bands.
  *
  * Layout under `path`:
  *   - `bands/`  — (doc, band, bh) rows, the banded signature buckets,
  *     written sorted by (band, bh) so parquet row groups are
  *     range-clustered on the join key (at warehouse scale this is a
  *     `bucketBy(bh)` table, making the probe join shuffle-free on the
  *     index side; plain parquet keeps the local round self-contained).
  *   - `sigs/`   — the full (doc, sig) signatures, for probes that
  *     verify by signature agreement instead of corpus texts (the
  *     streaming probe, [[graft.streaming.StreamingDedupIndex]]).
  *   - `hot/`    — the stop-shingle list (shingle hashes with build-time
  *     df > maxDf), frozen at build so probes never re-scan the corpus.
  *   - `meta/`   — one row (n, bands, rows, maxDf): the shingle width
  *     and banding scheme the index was built with. Probes derive their
  *     parameters FROM the index — a batch probed under a different
  *     scheme would silently find nothing, so the scheme rides with
  *     the data it describes.
  *
  * Band hashes are deterministic given the seed-pinned minhash family
  * (Dedup.minhashParams, seed 42), so an index built in one JVM matches
  * batches signed in another — the property DedupIndexSpec asserts by
  * probing across separately-computed signature sets.
  *
  * Cross pairs found by probing are verified with EXACT n-gram Jaccard
  * against the caller-supplied text relation, the same verification
  * [[Dedup.minhashLshPairs]] applies — so probe output equals the
  * all-at-once answer restricted to cross-split pairs wherever LSH
  * recall is total, which is what lets the d6 catalog row share d2's
  * exact-Jaccard oracle.
  */
object DedupIndex {

  /** Fingerprint `docs` and write the band index (overwriting `path`).
    * The one full-corpus job; everything after is probe + append.
    * Alongside the bands it freezes the stop-shingle list (shingle
    * hashes with document frequency > `maxDf` in THIS corpus) under
    * `hot/` — the df pass is the other full-corpus scan verification
    * needs, and paying it here is what lets every later probe touch
    * only the batch, the index, and the candidates.
    */
  def build(docs: DataFrame, path: String,
            idCol: String = "doc_id", textCol: String = "text",
            n: Int = 3, bands: Int = 16, rows: Int = 8,
            maxDf: Int = 100): Unit = {
    val spark = docs.sparkSession
    writeBands(docs, path, idCol, textCol, n, bands, rows, overwrite = true)
    Dedup.hotShingles(docs, idCol, textCol, n, maxDf)
      .write.mode("overwrite").parquet(s"$path/hot")
    import spark.implicits._
    Seq((n, bands, rows, maxDf)).toDF("n", "bands", "rows", "maxDf")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/meta")
  }

  /** Append `docs` (e.g. the just-deduplicated batch) to an existing
    * index, under the index's own scheme. Idempotence is the caller's
    * contract: appending the same doc twice yields duplicate band rows
    * (harmless for candidate generation — pairs are distinct()ed — but
    * wasteful; dedup the batch first, that is the point of the probe).
    * The stop-shingle list is NOT updated — it stays frozen at the
    * build-time corpus (see [[probePairs]]); recompute it by rebuilding
    * during periodic compaction if batch content drifts.
    */
  def append(spark: SparkSession, path: String, docs: DataFrame,
             idCol: String = "doc_id", textCol: String = "text"): Unit = {
    val (n, bands, rows, _) = meta(spark, path)
    writeBands(docs, path, idCol, textCol, n, bands, rows, overwrite = false)
  }

  private def writeBands(docs: DataFrame, path: String, idCol: String,
                         textCol: String, n: Int, bands: Int, rows: Int,
                         overwrite: Boolean): Unit = Lineage.scope {
    val mode = if (overwrite) "overwrite" else "append"
    val sigs = Lineage.shared(
      Dedup.minhashSignatures(docs, idCol, textCol, n, bands * rows))
    // full signatures ride along (docs × bands·rows longs): the
    // streaming probe estimates Jaccard from signature agreement —
    // exact shingle verification needs corpus TEXTS, which a stream
    // must not re-scan per microbatch. Sigs BEFORE bands: a torn
    // append then leaves bands ⊆ sigs (an unreferenced sig is inert;
    // a band row with no sig would silently drop its candidate in
    // the streaming verify join).
    sigs.write.mode(mode).parquet(s"$path/sigs")
    Dedup.bandRows(sigs, bands, rows)
      .sortWithinPartitions(col("band"), col("bh"))
      .write.mode(mode).parquet(s"$path/bands")
  }

  /** The (n, bands, rows, maxDf) scheme the index was built with — one
    * row of metadata, bounded by construction.
    */
  def meta(spark: SparkSession, path: String): (Int, Int, Int, Int) = {
    val r = Tables.parquet(spark, s"$path/meta").head()
    (r.getInt(0), r.getInt(1), r.getInt(2), r.getInt(3))
  }

  /** Near-dup pairs involving `batch`: batch docs colliding with an
    * indexed doc in any (band, bh) bucket, plus (when `withinBatch`)
    * batch-internal collisions — all exact-verified against `texts`,
    * which must cover every doc either side can name (indexed + batch).
    *
    * Join shape at scale: the index is never shuffled on its own
    * account, never re-fingerprinted, and the candidate set (not the
    * corpus) pays the verification. The batch side is deliberately NOT
    * hint-broadcast: a forced broadcast bypasses AQE's size check and
    * must materialize the whole batch band relation on the driver —
    * the unbounded-collect failure mode verifyExactJaccardWith
    * documents — and nothing enforces a "tiny batch" precondition
    * (d6's own batch is the larger half of its corpus). Unhinted, AQE
    * broadcasts a genuinely small batch from its observed size and
    * degrades a large one to a shuffle join instead of an OOM. The stop-shingle list comes from the index
    * (frozen at build), so NOTHING here scans the corpus texts: `texts`
    * is only read through a candidate-doc semi-join. Frozen-list
    * semantics: a shingle whose df crosses `maxDf` only after build is
    * still counted — the operational choice (stable verdicts across
    * batches) — so probe output can deviate from the all-at-once
    * answer exactly on those late-crossing shingles, and nowhere else.
    * Output is canonical (i, j, jaccard) with i < j.
    */
  def probePairs(spark: SparkSession, path: String, batch: DataFrame,
                 texts: DataFrame, withinBatch: Boolean = true,
                 threshold: Double = 0.8,
                 idCol: String = "doc_id", textCol: String = "text"): DataFrame = Lineage.scope {
    val (n, bands, rows, _) = meta(spark, path)
    val batchBands = Lineage.shared(Dedup.bandRows(
      Dedup.minhashSignatures(batch, idCol, textCol, n, bands * rows),
      bands, rows))
    probePairsImpl(spark, path, batchBands, texts, withinBatch,
      threshold, idCol, textCol, n)
  }

  private def probePairsImpl(spark: SparkSession, path: String,
                             batchBands: DataFrame, texts: DataFrame,
                             withinBatch: Boolean, threshold: Double,
                             idCol: String, textCol: String, n: Int): DataFrame = Lineage.scope {
    val indexBands = Tables.parquet(spark, s"$path/bands")
    val cross = indexBands.as("x")
      .join(batchBands.as("y"),
        col("x.band") === col("y.band") && col("x.bh") === col("y.bh") &&
          col("x.doc") =!= col("y.doc"))
      .select(least(col("x.doc"), col("y.doc")).as("i"),
        greatest(col("x.doc"), col("y.doc")).as("j"))
    val candRaw =
      if (!withinBatch) cross
      else cross.unionByName(
        batchBands.as("x").join(batchBands.as("y"),
            col("x.band") === col("y.band") && col("x.bh") === col("y.bh") &&
              col("x.doc") < col("y.doc"))
          .select(col("x.doc").as("i"), col("y.doc").as("j")))
    // the scope checkpoints the (tiny) verified pairs and frees the
    // probe intermediates: this is a recurring per-ingest-batch call,
    // so cached batchBands/cand blocks would otherwise accumulate
    // across batches in a long-lived session
    val cand = Lineage.shared(candRaw.distinct())
    Dedup.verifyExactJaccardWith(texts, idCol, textCol, cand, n,
      threshold, hot = Tables.parquet(spark, s"$path/hot"))
  }

  /** Build once per (dataDir content, corpus variant, scheme) and reuse
    * across calls and JVMs — the ingest-path contract ([[IvfIndex.ensure]]
    * is the serving-path sibling). Staleness, atomicity, and the
    * cross-JVM build race are [[IndexCache]]'s contract: the key
    * fingerprints the source data, and builds commit by directory
    * rename. `_SUCCESS` under `meta/` — the LAST artifact [[build]]
    * writes — marks a complete build. Bump the trailing version when
    * the layout changes, or a cached older-layout index shadows the
    * new one.
    */
  def ensure(spark: SparkSession, dataDir: String, variant: String,
             corpus: => DataFrame, n: Int = 3, bands: Int = 16,
             rows: Int = 8, maxDf: Int = 100): String = {
    val tag = (s"${dataDir.replaceAll("[^A-Za-z0-9._-]", "_")}-$variant" +
      s"-n$n-b$bands-r$rows-d$maxDf-v3")
    IndexCache.ensure("graft-dedupidx", dataDir, tag, "meta/_SUCCESS") { scratch =>
      build(corpus, scratch, n = n, bands = bands, rows = rows, maxDf = maxDf)
    }
  }

  /** At-rest gram→first-owner index for INCREMENTAL novelty scoring —
    * [[Dedup.ngramNovelty]]'s d6 twin. The build is the one
    * full-corpus job: distinct hashed grams reduced to (h, owner =
    * min doc id). Probing a batch then touches only the batch's own
    * gram set and the index scan — nothing re-shingles the corpus.
    * "First" means the INDEX wins any gram it already holds
    * (ingestion order), and within the batch the min id wins — which
    * equals the whole-corpus min-owner rule whenever index ids
    * precede batch ids, the invariant the catalog's id-split probe
    * relies on to share d14's restricted oracle.
    */
  def buildNovelty(docs: DataFrame, path: String,
                   idCol: String = "doc_id", textCol: String = "text",
                   n: Int = 8): Unit = {
    val spark = docs.sparkSession
    Dedup.hashedShingleSet(docs, idCol, textCol, n)
      .groupBy(col("h")).agg(min(col("doc")).as("owner"))
      .sortWithinPartitions(col("h"))
      .write.mode("overwrite").parquet(s"$path/owners")
    import spark.implicits._
    // written LAST: its _SUCCESS is the completeness marker
    Seq(n).toDF("n").coalesce(1).write.mode("overwrite")
      .parquet(s"$path/nmeta")
  }

  /** Build-once wrapper for [[buildNovelty]], keyed like [[ensure]]. */
  def ensureNovelty(spark: SparkSession, dataDir: String, variant: String,
                    corpus: => DataFrame, n: Int = 8): String = {
    val tag = s"${dataDir.replaceAll("[^A-Za-z0-9._-]", "_")}-$variant-n$n-v1"
    IndexCache.ensure("graft-novidx", dataDir, tag, "nmeta/_SUCCESS") { scratch =>
      buildNovelty(corpus, scratch, n = n)
    }
  }

  /** Novelty of `batch` against the at-rest index: per batch doc, its
    * distinct-gram count, how many grams debut in it (absent from the
    * index AND batch-min-owned by it), and the exact integral ppm.
    * One batch shingle pass, one anti-join against the index, one
    * join-back — probe cost scales with the batch and the index SCAN,
    * never with re-fingerprinting the corpus.
    */
  def probeNovelty(spark: SparkSession, path: String, batch: DataFrame,
                   idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val n = Tables.parquet(spark, s"$path/nmeta").head().getInt(0)
    // the scope checkpoints the O(batch-docs) aggregate and frees the
    // batch gram relation, which a recurring per-batch call would
    // otherwise accumulate
    val per = Lineage.scope {
      val bg = Lineage.shared(Dedup.hashedShingleSet(batch, idCol, textCol, n))
      val bmin = bg.groupBy(col("h")).agg(min(col("doc")).as("bown"))
      // grams the corpus-at-rest has never seen; their first owner is
      // the batch's min id
      val novelGrams = bmin.join(
        Tables.parquet(spark, s"$path/owners").select(col("h")),
        Seq("h"), "left_anti")
      bg.join(novelGrams, Seq("h"), "left")
        .groupBy(col("doc"))
        .agg(count(lit(1)).as("n_grams"),
          sum(when(col("bown") === col("doc"), 1L).otherwise(0L))
            .as("n_novel"))
    }
    batch.select(col(idCol).as("doc"))
      .join(per, Seq("doc"), "left")
      .select(col("doc"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("n_novel"), lit(0L)).as("n_novel"))
      .withColumn("novelty_ppm",
        when(col("n_grams") > 0,
          expr("n_novel * 1000000 div n_grams")).otherwise(0L))
  }
}
