package graft.operators

import java.util.regex.{Matcher, Pattern}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Byte-pair-encoding merge learning — the tokenizer-training stage of
  * an LLM data pipeline (Sennrich et al. 2016, public literature):
  * repeatedly find the most frequent adjacent symbol pair across the
  * corpus and fuse it into one symbol.
  *
  * Distribution shape: BPE trains on the WORD-FREQUENCY table, not raw
  * text — the corpus-sized work is one tokenize + groupBy(word) pass;
  * every merge iteration then runs over the vocabulary relation
  * (orders of magnitude smaller, and shrinking as merges fuse
  * symbols). Per iteration: one pair explode + hash aggregate + a
  * 1-row argmax to the driver (bounded by construction, the IVF
  * centroid pattern), then one codegen'd literal replace over the
  * vocabulary. Lineage is cut per iteration through [[Lineage.Rounds]]
  * so plans stay constant-size.
  *
  * Determinism contract (what the DuckDB oracle replays exactly):
  * symbols are space-joined inside a space-padded representation, the
  * argmax tie-breaks lexicographically on the pair, and a merge is a
  * LITERAL left-to-right non-overlapping replace of " a b " with
  * " ab " — Java's regex global replace and DuckDB's replace() share
  * that scan rule, so "a a a" fuses to "aa a" on both engines.
  */
object Bpe {

  /** Hard cap on `nMerges`: each merge is one Spark job plus ONE 1-row
    * driver collect, strictly sequential (merge i+1's pair counts
    * depend on merge i's fused vocabulary — the algorithm's data
    * dependence, not an implementation shortcut). The cap makes the
    * driver-roundtrip cost contract explicit: at ~0.1-1 s of scheduling
    * per round, 2000 merges is already hours of wall clock on a busy
    * cluster, and a 50k-merge production vocabulary should be learned
    * with a dedicated tokenizer-training run, not this relation-per-
    * round loop.
    */
  val MaxMerges = 2000

  /** Encode-side representation switch: at or below this many merges
    * the chain folds as nested codegen'd `regexp_replace` calls (the
    * fastest shape for the common small-vocabulary case); above it the
    * chain becomes a runtime `aggregate` fold over a constant merge
    * array, because nested-expression depth is what overflows
    * Catalyst's recursive analyzer — 128 is comfortably inside every
    * JVM default stack, [[MaxMerges]] is measured not to be.
    */
  val FoldedMergeLimit = 128

  /** The first `nMerges` learned merges as (iter, pair, freq) — iter
    * is 1-based rank, pair the space-separated symbol pair, freq its
    * corpus frequency at the time of the merge.
    *
    * COST CONTRACT: runtime is `nMerges` SEQUENTIAL Spark jobs (pair
    * count + argmax each), i.e. O(nMerges) driver round-trips that no
    * amount of executors parallelizes away; `nMerges` is validated
    * against [[MaxMerges]] up front so a runaway vocabulary size fails
    * in milliseconds instead of scheduling thousands of jobs.
    */
  def learnMerges(docs: DataFrame, textCol: String, nMerges: Int): DataFrame =
    result(docs.sparkSession, learnMergeList(docs, textCol, nMerges))

  /** Word-frequency table → padded space-joined char representation. */
  private def buildReprs(docs: DataFrame, textCol: String): DataFrame =
    docs
      .select(explode(split(col(textCol), "\\s+")).as("w"))
      .filter(col("w") =!= "")
      .groupBy(col("w")).agg(count(lit(1)).as("freq"))
      .select(concat(lit(" "),
        regexp_replace(col("w"), "(.)", "$1 ")).as("repr"), col("freq"))

  /** Adjacent-pair frequencies over a repr relation. */
  private def pairCounts(reprs: DataFrame): DataFrame = {
    val l = split(trim(col("repr")), " ")
    reprs.select(col("freq"),
        explode(when(size(l) > 1,
          transform(sequence(lit(1), size(l) - 1),
            k => concat_ws(" ", element_at(l, k), element_at(l, k + 1))))
          .otherwise(array().cast("array<string>"))).as("pair"))
      .groupBy(col("pair")).agg(sum(col("freq")).as("f"))
  }

  /** One literal merge application: " a b " → " ab ". */
  private def applyMerge(repr: org.apache.spark.sql.Column,
                         pair: String): org.apache.spark.sql.Column =
    regexp_replace(repr,
      lit(Pattern.quote(s" $pair ")),
      lit(Matcher.quoteReplacement(s" ${pair.replace(" ", "")} ")))

  /** [[learnMerges]] as a driver-side list — the form [[encode]] folds
    * into a replace chain. Same cost contract; the list is bounded by
    * [[MaxMerges]], so holding it on the driver is O(vocabulary entry),
    * not O(data). Each round's vocabulary is cut through
    * [[Lineage.Rounds]] — never persisted: a persisted round carries the
    * previous round's InMemoryRelation inside its plan, measured
    * EXPONENTIAL in rounds at job submission (a 3× tagged corpus at
    * R≈12 spun the driver 12+ minutes in generateTreeString) — and the
    * last round is freed on return, since only the list survives.
    */
  def learnMergeList(docs: DataFrame, textCol: String,
                     nMerges: Int): Seq[(Int, String, Long)] = {
    require(nMerges >= 1, s"nMerges must be >= 1, got $nMerges")
    require(nMerges <= MaxMerges,
      s"nMerges = $nMerges exceeds MaxMerges = $MaxMerges: each merge is " +
        "a sequential Spark job + driver round-trip (see the cost " +
        "contract); learn large vocabularies in a dedicated run")
    val loop = new Lineage.Rounds
    var reprs = loop.next(buildReprs(docs, textCol))
    val merges = Seq.newBuilder[(Int, String, Long)]
    try for (i <- 1 to nMerges) {
      // 1-row argmax with a total tie-break — the only driver-side
      // collect, bounded at one row per iteration
      val best = pairCounts(reprs)
        .orderBy(col("f").desc, col("pair")).limit(1).collect()
      if (best.isEmpty) return merges.result()
      val (pair, f) = (best(0).getString(0), best(0).getLong(1))
      merges += ((i, pair, f))
      reprs = loop.next(reprs
        .select(applyMerge(col("repr"), pair).as("repr"), col("freq")))
    } finally loop.release()
    merges.result()
  }

  /** BATCHED merge learning — the path that makes a 32k-merge
    * production vocabulary tractable: per ROUND, ONE pair-count job
    * selects up to `batchSize` merges instead of one, so the job count
    * is ~nMerges/batchSize (sub-linear in nMerges) rather than the
    * sequential loop's nMerges.
    *
    * Selection rule (deterministic, and exact where it claims to be):
    * rank pairs by (freq DESC, pair ASC) — the sequential tie-break —
    * and greedily keep candidates that are SYMBOL-DISJOINT from every
    * pair already kept this round (neither symbol, nor the fused
    * string, collides with a kept pair's symbols or fused string).
    * Disjointness buys two guarantees: (1) applying one kept merge
    * cannot create or destroy occurrences of another (a fused "ab"
    * symbol is new and cannot equal any kept pair's symbol — the fused-
    * string guard), so every recorded freq IS the pair's frequency at
    * the moment its merge applies, exactly as in sequential training;
    * (2) the rewrites commute, so the round's single fold is
    * order-independent. What batching does NOT preserve is the global
    * greedy order: sequential BPE would recount after each fuse, and a
    * newly created pair (e.g. "th e" after "t h") may outrank the
    * round's later picks. This is the standard corpus-level batching
    * trade-off of fast BPE trainers (public practice since Sennrich et
    * al.'s own implementation learned from word-frequency tables);
    * `batchSize = 1` degenerates to EXACTLY [[learnMergeList]] —
    * the differential the spec pins.
    *
    * Returns (iter, pair, freq, round): iter the 1-based global merge
    * rank, round the 1-based batch round that learned it. A round that
    * finds no disjoint candidate beyond the top pair still takes the
    * top pair, so progress is guaranteed and the loop terminates after
    * at most nMerges rounds.
    */
  def learnMergeBatchList(docs: DataFrame, textCol: String, nMerges: Int,
                          batchSize: Int = 32): Seq[(Int, String, Long, Int)] = {
    require(nMerges >= 1, s"nMerges must be >= 1, got $nMerges")
    require(batchSize >= 1, s"batchSize must be >= 1, got $batchSize")
    val loop = new Lineage.Rounds
    var reprs = loop.next(buildReprs(docs, textCol))
    val merges = Seq.newBuilder[(Int, String, Long, Int)]
    var learned = 0
    var round = 0
    try while (learned < nMerges) {
      round += 1
      val want = math.min(batchSize, nMerges - learned)
      // bounded collect: 4x the batch gives the greedy scan headroom
      // to skip conflicting candidates; still O(batchSize) rows
      val ranked = pairCounts(reprs)
        .orderBy(col("f").desc, col("pair")).limit(want * 4).collect()
      if (ranked.isEmpty) return merges.result()
      val used = scala.collection.mutable.Set.empty[String]
      val picks = Seq.newBuilder[(String, Long)]
      var kept = 0
      for (r <- ranked if kept < want) {
        val pair = r.getString(0)
        val Array(a, b) = pair.split(" ", 2)
        val fused = a + b
        if (!used(a) && !used(b) && !used(fused)) {
          used ++= Seq(a, b, fused)
          picks += ((pair, r.getLong(1)))
          kept += 1
        }
      }
      val chosen = picks.result()
      chosen.zipWithIndex.foreach { case ((p, f), j) =>
        merges += ((learned + j + 1, p, f, round))
      }
      learned += chosen.size
      reprs = loop.next(reprs
        .select(chosen.foldLeft(col("repr")) { (c, pf) =>
          applyMerge(c, pf._1)
        }.as("repr"), col("freq")))
    } finally loop.release()
    merges.result()
  }

  /** Tokenize documents under a learned merge list: per document, the
    * word count and the BPE token count after applying `merges` in
    * order (the train→apply other half of [[learnMerges]] — together
    * they are the full tokenizer loop). Documents with no words emit
    * explicit zero rows.
    *
    * Shape at 100 TB: the merge chain is applied to the DISTINCT-WORD
    * relation, not the token stream — Heaps' law makes the vocabulary
    * orders of magnitude smaller than the corpus. Short merge lists
    * fold as one codegen'd literal replace per merge inside a single
    * projection; past [[FoldedMergeLimit]] the chain instead becomes a
    * RUNTIME fold — `aggregate(<merge array literal>, repr0, replace)`
    * — because a [[MaxMerges]]-deep nested expression overflows the
    * analyzer's recursion (measured: StackOverflowError in column
    * resolution at 2000 nested calls). The array form keeps the plan
    * depth O(1) — 2000 merge literals are SIBLINGS in one constant
    * array, folded to a single literal — while the per-row work is
    * identical (one literal left-to-right replace per merge per
    * distinct word). Either way: zero jobs, zero driver round-trips at
    * encode time, however the merges were learned. Documents then
    * equi-join the (word,
    * n_tokens) relation on the word key and aggregate — the vocabulary
    * side is broadcast-sized in practice and AQE picks that up; the
    * corpus-sized word stream is never regex-processed per occurrence,
    * only per distinct word.
    *
    * Encoding is OPEN-vocabulary, like real BPE inference: a word
    * never seen at training time still gets a repr (its characters,
    * fused wherever a learned merge happens to apply).
    */
  def encode(docs: DataFrame, textCol: String, idCol: String,
             merges: Seq[String]): DataFrame = {
    val dw = docs
      .select(col(idCol), explode(split(col(textCol), "\\s+")).as("w"))
      .filter(col("w") =!= "")
    val repr0 = concat(lit(" "), regexp_replace(col("w"), "(.)", "$1 "))
    val repr =
      if (merges.size <= FoldedMergeLimit)
        merges.foldLeft(repr0) { (c, pair) =>
          regexp_replace(c, lit(Pattern.quote(s" $pair ")),
            lit(Matcher.quoteReplacement(s" ${pair.replace(" ", "")} ")))
        }
      else
        // runtime fold: same literal non-overlapping replace scan rule
        // (java.lang.String.replace — what DuckDB's replace() and the
        // quoted-regex fold above both implement), applied in merge
        // order over a constant array. Plan depth is O(1) regardless
        // of |merges|, so the MaxMerges cap is reachable without
        // overflowing Catalyst's recursive analysis.
        aggregate(
          array(merges.map(lit(_)): _*), repr0,
          (acc, m) => replace(acc,
            concat(lit(" "), m, lit(" ")),
            concat(lit(" "), replace(m, lit(" "), lit("")), lit(" "))))
    val vocab = dw.select(col("w")).distinct()
      .select(col("w"), size(split(trim(repr), " ")).cast("long").as("__nt"))
    val perDoc = dw.join(vocab, "w")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("__nw"), sum(col("__nt")).as("__ntok"))
    docs.select(col(idCol)).join(perDoc, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("__nw"), lit(0L)).as("n_words"),
        coalesce(col("__ntok"), lit(0L)).as("n_tokens"))
  }

  private def result(spark: SparkSession,
                     merges: Seq[(Int, String, Long)]): DataFrame = {
    import spark.implicits._
    merges.toDF("iter", "pair", "freq")
      .select(col("iter").cast("long").as("iter"), col("pair"), col("freq"))
  }
}
