package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Collocation extraction — the "New York"/"machine learning" detector
  * a tokenizer-training pipeline runs before merging multi-word units:
  * rank adjacent word pairs by pointwise mutual information over the
  * corpus, keep the strongly-associated ones.
  *
  * The score is kept INTEGRAL: PMI is a log, but log is monotone, so
  * ranking by PMI equals ranking by its argument — the lift
  * `p(w1,w2) / (p(w1|head) * p(w2|tail))` over the bigram event space
  * — and that lift is a ratio of counts the engine computes in exact
  * 64-bit arithmetic as `(c12 * NB * 1e6) div (c1h * c2t)`
  * micro-units. The oracle replays the identical integer expression,
  * so the hash compare is bit-for-bit with no float anywhere. Bounds:
  * c12 ≤ NB and the 1e6 scale keeps the numerator under 2^63 for any
  * corpus below ~3×10^9 bigrams per language shard; a larger corpus
  * moves the same expression to DECIMAL(38,0) without changing shape.
  *
  * Event space: heads/tails of bigrams (c1h = bigrams starting with
  * w1, c2t = bigrams ending with w2, NB = bigrams in the language) —
  * the standard formulation when the unit of observation is the
  * bigram, and the one that avoids an N² blow-up in the numerator.
  *
  * Shape at 100 TB: one explode to bigram occurrences, then a
  * strictly shrinking aggregation cascade — occurrences → per-lang
  * bigram counts → head totals / tail totals / lang totals — each a
  * map-side-combined hash aggregate (the [[LanguageModel]] cascade).
  * The head/tail joins are on (lang, w) equality; the per-lang totals
  * relation is O(languages) rows and broadcasts for free. Min-support
  * pruning (`minCount`) happens BEFORE the joins, so rare-pair noise
  * never shuffles twice. Final top-k is TakeOrderedAndProject —
  * per-partition heaps, no global sort.
  */
object Collocations {

  /** Top-k collocations per corpus: `(lang, w1, w2, c12, lift_micro)`
    * ordered by association strength (ties broken lexically), bigrams
    * with corpus count below `minCount` excluded.
    */
  def pmiTopK(df: DataFrame, k: Int, minCount: Long = 5L,
              langCol: String = "lang",
              textCol: String = "text"): DataFrame = {
    val occ = df
      .select(col(langCol).as("lang"),
        TextAnalysis.words(col(textCol)).as("ws"))
      .filter(size(col("ws")) >= 2)
      .select(col("lang"),
        explode(zip_with(
          slice(col("ws"), lit(1), size(col("ws")) - 1),
          slice(col("ws"), lit(2), size(col("ws")) - 1),
          (a, b) => struct(a.as("w1"), b.as("w2")))).as("bg"))
      .select(col("lang"), col("bg.w1").as("w1"), col("bg.w2").as("w2"))
    // corpus bigram counts feed heads, tails, totals AND the scored
    // output — persist the shared subtree once
    val big = Lineage.shared(occ.groupBy("lang", "w1", "w2")
      .agg(count(lit(1)).as("c12")))
    val heads = big.groupBy("lang", "w1").agg(sum(col("c12")).as("c1h"))
    val tails = big.groupBy("lang", "w2").agg(sum(col("c12")).as("c2t"))
    val totals = big.groupBy("lang").agg(sum(col("c12")).as("nb"))
    big
      .filter(col("c12") >= minCount)
      .join(heads, Seq("lang", "w1"))
      .join(tails, Seq("lang", "w2"))
      .join(broadcast(totals), Seq("lang"))
      .select(col("lang"), col("w1"), col("w2"), col("c12"),
        expr("(c12 * nb * 1000000L) div (c1h * c2t)").as("lift_micro"))
      .orderBy(col("lift_micro").desc, col("lang"), col("w1"), col("w2"))
      .limit(k)
  }
}
