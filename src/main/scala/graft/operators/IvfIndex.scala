package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables

/** IVF index-AT-REST: the inverted file realized as a parquet layout
  * `partitionBy("cell")` — each k-means cell becomes a partition
  * directory (the "posting list"), so a probe of `nprobe` cells prunes
  * the corpus scan to those directories and never touches the rest.
  * This is the build-once / probe-many division the in-line
  * `Similarity.ivfTopK` lacks (it retrains the quantizer and reassigns
  * every vector per query — fine as a one-shot, wrong as a serving
  * path; the reference analogue is SDFS's persistent placed-once
  * read-many file layout, mp3/src/sdfs.go:79-106).
  *
  * At 100 TB: `build` is the one full-corpus job (train on a
  * hash-sample, assign cells in one pass, write partitioned); every
  * probe after that reads `nprobe/nlist` of the data. The centroid
  * sidecar is nlist×dim doubles — KBs — and is the only thing the
  * driver ever materializes (`centroids()` collects nlist rows, a
  * bounded read of index METADATA, not data).
  */
object IvfIndex {

  /** Train the coarse quantizer (seed-pinned k-means on a hash-sample),
    * assign every vector to its nearest cell, write the corpus
    * partitioned by cell plus a centroid sidecar. Overwrites any
    * existing index at `path`.
    */
  def build(vecs: DataFrame, path: String, nlist: Int,
            maxIter: Int = 10, sampleMod: Int = 1,
            idCol: String = "vec_id", vecCol: String = "embedding"): Unit = {
    val spark = vecs.sparkSession
    val cents = Similarity.ivfCentroids(vecs, nlist, idCol, vecCol, maxIter, sampleMod)
    vecs
      .select(col(idCol).as("neighbor_id"),
        col(vecCol).cast("array<double>").as("v"))
      .withColumn("cell", Similarity.nearestCell(col("v"), cents))
      .write.mode("overwrite").partitionBy("cell").parquet(s"$path/corpus")
    import spark.implicits._
    cents.zipWithIndex.map { case (c, i) => (i, c) }
      .toDF("cell", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/centroids")
  }

  /** The quantizer centroids back from the sidecar — nlist rows of
    * metadata (bounded, driver-side by design: probes need them as
    * literals to pick cells without touching the corpus).
    */
  def centroids(spark: SparkSession, path: String): Seq[Seq[Double]] =
    Tables.parquet(spark, s"$path/centroids")
      .orderBy(col("cell"))
      .collect().map(_.getSeq[Double](1).toSeq).toSeq

  /** Approximate top-k against the at-rest index: each query probes its
    * `nprobe` nearest cells; the probed cells' distinct ids are pushed
    * into the partitioned scan as a static partition filter (`cell IN
    * (...)`), so the parquet reader PRUNES every unprobed cell
    * directory — the inverted-file lookup made of partition pruning
    * (PartitionPruningSpec guards the pruned scan). Collecting the
    * probed cells runs one job over the QUERY set only — the side this
    * operator already broadcasts, small by the top-k serving contract —
    * and yields at most min(queries×nprobe, nlist) ids; the corpus is
    * never touched before the pruned scan.
    */
  def probeTopK(spark: SparkSession, path: String, queries: DataFrame, k: Int,
                nprobe: Int = 4,
                idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val cents = centroids(spark, path)
    val probes = Similarity.probeRows(queries, cents, nprobe, idCol, vecCol)
    val probedCells = probes.select(col("cell")).distinct()
      .collect().map(_.getInt(0)).sorted.toSeq
    val corpus = Tables.parquet(spark, s"$path/corpus")
      .filter(col("cell").isin(probedCells: _*))
    Similarity.probeRank(corpus, probes, k)
  }

  /** Build once per (dataDir content, index params) and reuse across
    * calls and JVMs — the serving-path contract. Staleness, atomicity,
    * and the cross-JVM build race are [[IndexCache]]'s contract (key
    * fingerprints the source data; builds commit by directory rename,
    * at scale: an object-store manifest swap).
    */
  def ensure(spark: SparkSession, dataDir: String, vecs: => DataFrame,
             nlist: Int = 16, maxIter: Int = 10, sampleMod: Int = 1): String = {
    val tag = s"${dataDir.replaceAll("[^A-Za-z0-9._-]", "_")}-n$nlist-i$maxIter-m$sampleMod-v1"
    // marker = the LAST artifact build writes (the IndexCache
    // contract, as DedupIndex's meta/nmeta): build writes corpus/
    // first and the centroids sidecar last, so corpus/_SUCCESS could
    // exist with the sidecar missing (partial delete, /tmp aging) and
    // be trusted forever while every probe fails on the read
    IndexCache.ensure("graft-ivf", dataDir, tag, "centroids/_SUCCESS") { scratch =>
      build(vecs, scratch, nlist, maxIter, sampleMod)
    }
  }
}
