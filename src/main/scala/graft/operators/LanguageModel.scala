package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Statistical language-model quality scoring — the CCNet/KenLM-style
  * signal a training-data pipeline uses to rank documents by fluency:
  * train an n-gram model on the corpus, score each document by its
  * negative log-likelihood, filter/bucket on the (length-normalized)
  * score. Here the model is a per-language add-one-smoothed bigram LM
  * trained on the corpus itself — fully self-contained, no external
  * model artifact — which is exactly the "perplexity vs the corpus'
  * own distribution" outlier signal (high NLL = unusual word
  * transitions = boilerplate, gibberish, or wrong-language text).
  *
  * Scores are kept INTEGRAL end to end: each bigram occurrence
  * contributes `-floor(ln(p)·1e6)` micronats as a BIGINT, so per-doc
  * sums are order-independent long additions and the DuckDB oracle
  * hash-compares exactly — the ulp-boundary hazard of hash-comparing
  * a rounded float sum (the round-5 st2 advice) cannot occur. The only
  * float op is one `ln` per DISTINCT (lang, w1, w2), on identical
  * integer-derived doubles in both engines.
  *
  * Shape at 100 TB: one explode to bigram occurrences, then a strictly
  * shrinking aggregation cascade — (doc,bigram) multiplicities →
  * corpus bigram counts → head counts — each a hash aggregate with
  * map-side partial combine. The scoring join is doc-bigrams ⋈ model
  * on (lang, w1, w2): both sides shuffle-hash-partition on the bigram
  * key; the model is NOT broadcast (corpus-wide distinct bigrams grow
  * with the data — a forced broadcast is the OOM path; AQE may still
  * choose it for genuinely small models). The per-lang vocab relation
  * is O(languages) rows and broadcasts for free. A production variant
  * would additionally cap the vocabulary (min-count pruning, OOV
  * bucket) and move bigram keys to the hashed domain (xxhash64, as the
  * [[Dedup]] shingle paths do) to shrink shuffle width; neither
  * changes the plan shape.
  */
object LanguageModel {

  /** Per-document bigram NLL under the per-language corpus model:
    * `(doc, lang, n_bigrams, nll_micro, avg_nll_micro)`, all counts
    * and scores BIGINT (micronats). Documents with fewer than two
    * tokens have no bigrams and emit no row (they carry no transition
    * evidence either way — score them by length rules, not by LM).
    *
    * Smoothing: p(w2|w1) = (c(w1,w2)+1) / (c(w1,·)+V), V = per-lang
    * distinct-word count — so unseen transitions are finite-scored and
    * every probability is strictly below 1.
    */
  def bigramNll(df: DataFrame, idCol: String = "doc_id",
                langCol: String = "lang",
                textCol: String = "text"): DataFrame = {
    // materialize words once; slicing/zipping a materialized array
    // column avoids the per-element re-eval pitfall
    val toks = Lineage.shared(df
      .select(col(idCol).as("doc"), col(langCol).as("lang"),
        TextAnalysis.words(col(textCol)).as("ws")))
    val occ = toks
      .filter(size(col("ws")) >= 2)
      .select(col("doc"), col("lang"),
        explode(zip_with(
          slice(col("ws"), lit(1), size(col("ws")) - 1),
          slice(col("ws"), lit(2), size(col("ws")) - 1),
          (a, b) => struct(a.as("w1"), b.as("w2")))).as("bg"))
      .select(col("doc"), col("lang"),
        col("bg.w1").as("w1"), col("bg.w2").as("w2"))
    // shrinking cascade: occurrences → per-doc multiplicities → corpus
    // model → head totals. docbg feeds both the model build and the
    // scoring join; model feeds both heads and the join — persist the
    // shared subtrees (AQE plans reuses independently otherwise).
    val docbg = Lineage.shared(occ.groupBy("doc", "lang", "w1", "w2")
      .agg(count(lit(1)).as("m")))
    val model = Lineage.shared(docbg.groupBy("lang", "w1", "w2")
      .agg(sum(col("m")).as("c12")))
    val heads = model.groupBy("lang", "w1").agg(sum(col("c12")).as("c1"))
    val vocab = toks
      .select(col("lang"), explode(col("ws")).as("w"))
      .groupBy("lang").agg(countDistinct(col("w")).as("v"))
    // micronats per occurrence of this bigram: positive, integral.
    // floor() on DoubleType yields LongType, so the sum is a long sum.
    val termMicroNll =
      -floor(log((col("c12") + lit(1.0)) / (col("c1") + col("v"))) * lit(1e6))
    docbg
      .join(model, Seq("lang", "w1", "w2"))
      .join(heads, Seq("lang", "w1"))
      .join(vocab, Seq("lang"))
      .groupBy(col("doc"), col("lang"))
      .agg(sum(col("m")).as("n_bigrams"),
        sum(col("m") * termMicroNll).as("nll_micro"))
      .withColumn("avg_nll_micro", expr("nll_micro div n_bigrams"))
  }
}
