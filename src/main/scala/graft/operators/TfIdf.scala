package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** TF-IDF keyword extraction — the classic corpus-statistics signal a
  * curation pipeline uses for topic tagging, cluster labeling, and
  * boilerplate spotting (a "keyword" shared by half the corpus has
  * idf ≈ 0 and drops out by construction).
  *
  * Determinism contract (same as [[LanguageModel]]): idf is floored
  * into integral micro-units once per DISTINCT term —
  * `floor(ln(N/df)·1e6)` — and the per-term score `tf · idf_micro` is
  * a long product, so ranking and hash compare are exact; ties break
  * on the term string.
  *
  * Shape at 100 TB: tf is one hash aggregate on (doc, term) with
  * map-side combine; df is a second, strictly smaller aggregate over
  * tf's distinct (doc, term) pairs — never a re-scan of the corpus.
  * The idf join keys on the term, shuffle-partitioned on both sides
  * (the term relation is vocabulary-sized; AQE broadcasts it when it
  * is genuinely small, and a capped-vocabulary production variant
  * makes that unconditional). The corpus size N joins as a single
  * broadcast row. Top-k per doc is one row_number window partitioned
  * by doc — the partition fits trivially (a doc's distinct terms), no
  * global sort.
  */
object TfIdf {

  /** Top-`k` terms per document by tf·idf:
    * `(doc, rank, term, tf, df, score_micro)` — tf/df/score BIGINT,
    * rank 1..k ordered by (score desc, term asc). Documents with no
    * tokens emit no row. `N` is the full corpus row count; df counts
    * documents containing the term, so `1 <= df <= N` and idf ≥ 0.
    */
  def topKeywords(df: DataFrame, k: Int = 3, idCol: String = "doc_id",
                  textCol: String = "text"): DataFrame = {
    val tf = Lineage.shared(df
      .select(col(idCol).as("doc"),
        explode(TextAnalysis.words(col(textCol))).as("term"))
      .groupBy("doc", "term").agg(count(lit(1)).as("tf")))
    val docFreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val n = df.agg(count(lit(1)).as("n"))
    val scored = tf
      .join(docFreq, Seq("term"))
      .crossJoin(broadcast(n))
      .withColumn("idf_micro",
        floor(log(col("n") * lit(1.0) / col("df")) * lit(1e6)))
      .withColumn("score_micro", col("tf") * col("idf_micro"))
    scored
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("doc"))
          .orderBy(col("score_micro").desc, col("term").asc)))
      .filter(col("rank") <= k)
      .select(col("doc"), col("rank"), col("term"), col("tf"), col("df"),
        col("score_micro"))
  }
}
