package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables

/** Product-quantization index AT REST — the build-once / probe-many
  * division for [[Quantize]]'s PQ, mirroring [[IvfIndex]]: `build` is
  * the one full-corpus job (train the m per-subspace codebooks on the
  * corpus, encode every vector to its m codes, write the codes parquet
  * plus a codebook sidecar), and the serving path reads codes + sidecar
  * and pays only the ADC scan + exact re-rank. Without the split, a
  * query retrains m k-means fits per call (measured 13 s warm at
  * sf0.1 vs ~1 s served) — the same retrain-per-query mistake the
  * in-line ivfTopK documents.
  *
  * At 100 TB: codes are m small ints per vector (m bytes at k ≤ 256 —
  * 32× smaller than the float vectors for D=64/m=8), so the ADC scan
  * reads 1/32 of the bytes a brute-force pass would; the codebook
  * sidecar is m·k·(D/m) doubles — KBs of driver-side metadata, the
  * IvfIndex centroid-sidecar convention.
  */
object PqIndex {

  /** Train + encode + write: `codes/` (neighbor_id, codes) and the
    * `books/` sidecar (sub, code, centroid), marker-last like
    * IvfIndex.build.
    */
  def build(vecs: DataFrame, path: String, m: Int, k: Int,
            maxIter: Int = 5,
            idCol: String = "vec_id", vecCol: String = "embedding"): Unit = {
    val spark = vecs.sparkSession
    val books = Quantize.pqCodebooks(vecs, m, k, idCol, vecCol, maxIter)
    Quantize.pqEncode(vecs, books, idCol, vecCol)
      .withColumnRenamed(idCol, "neighbor_id")
      .write.mode("overwrite").parquet(s"$path/codes")
    import spark.implicits._
    books.zipWithIndex
      .flatMap { case (book, s) =>
        book.zipWithIndex.map { case (c, i) => (s, i, c) }
      }
      .toDF("sub", "code", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/books")
  }

  /** The codebooks back from the sidecar — m·k rows of bounded
    * metadata (probes need them as literals for the ADC tables).
    */
  def codebooks(spark: SparkSession, path: String): Seq[Seq[Seq[Double]]] =
    Tables.parquet(spark, s"$path/books")
      .orderBy(col("sub"), col("code"))
      .collect()
      .map(r => (r.getInt(0), r.getSeq[Double](2).toSeq))
      .groupBy(_._1).toSeq.sortBy(_._1)
      .map(_._2.map(_._2).toSeq)

  /** ADC top-k against the at-rest codes with exact re-rank against
    * `raw` (the uncompressed vectors, needed only for the
    * rerankDepth·|queries| candidate rows — an id join, never a full
    * decompression).
    */
  def adcTopK(spark: SparkSession, path: String, raw: DataFrame,
              queries: DataFrame, topK: Int, rerankDepth: Int = 32,
              idCol: String = "vec_id",
              vecCol: String = "embedding"): DataFrame = {
    val books = codebooks(spark, path)
    val codes = Tables.parquet(spark, s"$path/codes")
    Quantize.adcRank(codes, raw, books, queries, books.head.size, topK,
      rerankDepth, idCol, vecCol)
  }

  /** Build once per (dataDir content, params), reuse across calls and
    * JVMs — the IndexCache contract (key fingerprints the source data;
    * builds commit by directory rename). Marker = the LAST artifact
    * build writes (the books sidecar), the IvfIndex convention.
    */
  def ensure(spark: SparkSession, dataDir: String, vecs: => DataFrame,
             m: Int = 8, k: Int = 16, maxIter: Int = 5): String = {
    val tag = s"${dataDir.replaceAll("[^A-Za-z0-9._-]", "_")}-m$m-k$k-i$maxIter-v1"
    IndexCache.ensure("graft-pq", dataDir, tag, "books/_SUCCESS") { scratch =>
      build(vecs, scratch, m, k, maxIter)
    }
  }
}
