package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deterministic corpus mixing and splitting for training pipelines:
  * per-stratum downsampling ("2 parts web, 1 part wiki") and
  * train/val/test assignment, both driven by a CONTENT-INDEPENDENT
  * KEYED HASH instead of `rand()`.
  *
  * Why not rand(): at 100 TB a sample must be reproducible — a failed
  * task re-executes, and a nondeterministic `rand()` re-draws, so two
  * attempts of the same partition ship different rows (Spark only
  * seeds rand per-partition, which repartitioning silently breaks);
  * and the same document must land in the same split on every rerun
  * or eval contaminates train. Hashing the stable id gives exactly-
  * reproducible membership with zero state, on any engine that has
  * md5 — which is also what makes these rows oracle-able in DuckDB.
  *
  * Membership test: the first 8 hex chars of `md5(salt ++ ":" ++ id)`
  * are a uniform draw from [0, 2^32) — compare LEXICOGRAPHICALLY
  * against the 8-hex-char threshold `floor(rate * 2^32)`. String
  * compare sidesteps hex→int conversion (not portable SQL); rate 1.0
  * uses the sentinel "g", which sorts above every hex string.
  */
object CorpusMix {

  private[graft] def thresholdHex(rate: Double): String = {
    require(rate >= 0.0, s"rate must be non-negative, got $rate")
    if (rate >= 1.0) "g" else f"${(rate * 4294967296L).toLong}%08x"
  }

  /** Uniform [0, 2^32) draw for `id` under `salt`, as 8 lowercase hex
    * chars. Different salts give independent draws, so sampling and
    * splitting don't correlate.
    */
  def hashHex(idCol: Column, salt: String): Column =
    substring(md5(concat(lit(salt + ":"), idCol.cast("string"))), 1, 8)

  /** Keeps each row with its stratum's probability: deterministic,
    * exactly reproducible, no shuffle (a pure filter — Catalyst pushes
    * it into the scan's data-filter stage). Strata absent from `rates`
    * fall back to `defaultRate` (0 = drop, 1 = keep all).
    *
    * Samples under one salt are NESTED: raising a stratum's rate only
    * ADDS rows — the lower-rate sample is always a subset of the
    * higher-rate one (the hash draw is fixed per id; only the
    * threshold moves). So a mixing-weight increase between corpus
    * versions is an incremental append, never a reshuffle of which
    * documents are in the corpus (CorpusMixSpec asserts this).
    */
  def stratifiedSample(df: DataFrame, idCol: String, strataCol: String,
                       rates: Map[String, Double],
                       defaultRate: Double = 0.0,
                       salt: String = "mix1"): DataFrame = {
    val threshold = rates.foldLeft(lit(thresholdHex(defaultRate))) {
      case (acc, (stratum, rate)) =>
        when(col(strataCol) === stratum, lit(thresholdHex(rate))).otherwise(acc)
    }
    df.filter(hashHex(col(idCol), salt) < threshold)
  }

  /** Adds a `split` column assigning each row to a named fraction
    * (default 80/10/10 train/val/test). Weights must sum to <= 1; the
    * last split absorbs any remainder so every row is assigned.
    */
  def withSplit(df: DataFrame, idCol: String,
                weights: Seq[(String, Double)] =
                  Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1),
                salt: String = "split"): DataFrame = {
    require(weights.nonEmpty, "weights must be non-empty")
    require(weights.forall(_._2 > 0.0),
      s"every split weight must be positive: $weights")
    // 1e-9 slack: 0.8+0.1+0.1 style literals land one ulp above 1.0
    require(weights.map(_._2).sum <= 1.0 + 1e-9,
      s"split weights must sum to <= 1, got ${weights.map(_._2).sum}")
    val h = hashHex(col(idCol), salt)
    // cumulative upper bounds; the final split is the otherwise-branch
    val bounds = weights.init.scanLeft(("", 0.0)) {
      case ((_, acc), (name, w)) => (name, acc + w)
    }.tail
    val expr = bounds.foldRight(lit(weights.last._1): Column) {
      case ((name, bound), acc) => when(h < lit(thresholdHex(bound)), name).otherwise(acc)
    }
    df.withColumn("split", expr)
  }

  /** Deterministic global shuffle for training order: adds
    * `shuffle_key` (the keyed hash with the id as tiebreak, so the
    * order is total and engine-portable) and `shuffle_pos`, the row's
    * 0-based position in that order. Reproducible under retry for the
    * same reason as [[stratifiedSample]], and changing `salt` draws a
    * fresh independent permutation — the per-epoch reshuffle.
    *
    * The position is [[SequencePack]]'s distributed prefix sum over a
    * constant weight (range-partition the hash order, per-partition
    * offsets) — NOT a global `row_number` window, which moves the
    * whole corpus into a single task and is the canonical 100 TB
    * scale-killer.
    */
  def withShufflePosition(df: DataFrame, idCol: String,
                          salt: String = "shuf1"): DataFrame =
    SequencePack.withPackAssignment(
        df.withColumn("shuffle_key",
            concat(hashHex(col(idCol), salt), lit("-"),
              col(idCol).cast("string")))
          .withColumn("__one", lit(1L)),
        "shuffle_key", "__one", maxTokens = Long.MaxValue)
      .withColumnRenamed("start_tok", "shuffle_pos")
      .drop("__one", "pack_id", "n_boundary_crossings")

  /** [[capPerStratumBounded]]'s token-budget sibling: keep rows per
    * stratum while the cumulative `tokensCol` total — accumulated in keyed-hash
    * order — stays within `budget`. This is how a mixing recipe is
    * actually specified ("20 B tokens of code, 5 B of forum text"):
    * budgets are in tokens, not documents, because document length
    * varies by orders of magnitude across sources. Adds `cum_tokens`,
    * the inclusive per-stratum prefix sum.
    *
    * Same determinism contract as the count cap: the hash fixes each
    * stratum's order, so the kept set is reproducible under retry and
    * NESTED in the budget — raising a stratum's budget only adds
    * documents, never churns ones already kept. Same plan shape and
    * the same documented hot-stratum caveat too: one window per
    * stratum ranks inside one task, right when strata are many and
    * balanced; when one stratum is most of the corpus, the two-level
    * distributed prefix sum ([[SequencePack.withPackAssignment]],
    * keyed by the same hash) computes the identical cumulative sum
    * without a single-task sort, and the budget filter applies to its
    * running total unchanged.
    */
  def capTokensPerStratum(df: DataFrame, idCol: String, strataCol: String,
                          tokensCol: String, budget: Long,
                          salt: String = "tok1"): DataFrame = {
    require(budget > 0, s"budget must be positive, got $budget")
    val w = Window.partitionBy(col(strataCol))
      .orderBy(hashHex(col(idCol), salt), col(idCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.withColumn("cum_tokens", sum(col(tokensCol)).over(w).cast("long"))
      .filter(col("cum_tokens") <= budget)
  }

  /** Fractional-epoch mixture materialization: each row is emitted
    * `floor(e)` times plus one more with probability `frac(e)`, where
    * `e` is its stratum's epoch weight — how published mixing recipes
    * ("2.5 epochs of wiki, 0.5 of web") become a physical training
    * corpus. Copies are tagged 0-based in `rep`, so downstream salts
    * (the per-epoch shuffle) can decorrelate them.
    *
    * Subsumes [[stratifiedSample]] at e < 1 (floor 0 + Bernoulli) and
    * generalizes it upward; the fractional draw is the SAME keyed-hash
    * construction, so it is reproducible under retry and NESTED in e:
    * raising a stratum's epochs only adds copies (the fixed draw just
    * clears a higher threshold — CorpusMixSpec asserts both). Plan
    * shape: a pure per-row generate, zero shuffle — replication
    * happens where the row already lives, never through an exchange.
    */
  /** Curriculum ordering: every row positioned by QUALITY, best first
    * — the "train on clean text early" dataset layout. The sort key is
    * `q_micro`, the EXACT-INTEGER twin of [[TextAnalysis.withQuality]]'s
    * composite: with n = tokens, L = chars, p = punctuation chars,
    * c = min(n, 4·stopwords), m = min(n, 50),
    *
    *   q_micro = (10000·m·L·n + 250000·(L−p)·n + 250000·c·L) div (L·n)
    *           = floor(10⁶ · quality_unrounded)
    *
    * computed over the common denominator in 64-bit integers (peak
    * term 250000·L·n — exact far below long range at any per-doc
    * size), so a decile boundary can never flip on a float ulp the
    * way floor(10·quality_double) could, and the DuckDB oracle
    * replays it bit-exact. Position comes from [[SequencePack]]'s
    * distributed prefix sum over the (inverted-q, id) key order — a
    * range partition + per-partition offsets, NOT a global
    * row_number window, which would funnel 100 TB through one task.
    * Ties break by id, so the order is total and retry-stable.
    */
  def curriculumOrder(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val stop = typedLit(TextAnalysis.LangMarkers.toMap.apply("en"))
    val ints = df
      .select(col(idCol).as("doc"), col(textCol).as("__t"))
      // materialize the words array BEFORE the filter lambda touches
      // it (the re-evaluated-expression trap wordsOf documents)
      .withColumn("__ws", TextAnalysis.words(col("__t")))
      .select(col("doc"),
        size(col("__ws")).cast("long").as("n"),
        length(col("__t")).cast("long").as("l"),
        length(regexp_replace(col("__t"), "[^.,!?;:]", ""))
          .cast("long").as("p"),
        size(filter(col("__ws"), w => array_contains(stop, w)))
          .cast("long").as("s"))
      .withColumn("q_micro", qMicro)
    // fixed-width decimal key: ascending string order == (q desc, id).
    // Doc pad is 20 — the full non-negative int64 digit range; a
    // narrower pad would TRUNCATE longer ids (Spark lpad shortens
    // over-length strings), colliding sort keys and breaking
    // prefixSum's unique-orderCol contract for snowflake-sized ids
    val keyed = ints.withColumn("__key",
      concat(lpad((lit(1000000L) - col("q_micro")).cast("string"), 7, "0"),
        lit("-"), lpad(col("doc").cast("string"), 20, "0")))
      .withColumn("__one", lit(1L))
    SequencePack.withPackAssignment(keyed, "__key", "__one",
        maxTokens = Long.MaxValue)
      .withColumnRenamed("start_tok", "cur_pos")
      .select(col("doc"), col("q_micro"), col("cur_pos"))
  }

  def withEpochs(df: DataFrame, idCol: String, strataCol: String,
                 epochs: Map[String, Double], defaultEpochs: Double = 1.0,
                 salt: String = "epoch1"): DataFrame = {
    require((epochs.values ++ Seq(defaultEpochs)).forall(_ >= 0.0),
      s"epoch weights must be non-negative: $epochs / $defaultEpochs")
    def perStratum(f: Double => Column): Column =
      epochs.foldLeft(f(defaultEpochs)) { case (acc, (stratum, e)) =>
        when(col(strataCol) === stratum, f(e)).otherwise(acc)
      }
    val copies = perStratum(e => lit(e.toLong)) +
      when(hashHex(col(idCol), salt) <
        perStratum(e => lit(thresholdHex(e - e.toLong))), 1L).otherwise(0L)
    df.withColumn("__copies", copies)
      .filter(col("__copies") > 0)
      .withColumn("rep", explode(sequence(lit(0L), col("__copies") - 1)))
      .drop("__copies")
  }

  /** Weighted sampling WITHOUT replacement, k per stratum
    * (Efraimidis–Spirakis exponential race): each row draws the
    * deterministic uniform u from its keyed hash and competes with key
    * `-ln(u)/w` — the k smallest keys per stratum win, with selection
    * probability proportional to `weightCol`.
    * [[capPerStratumBounded]] is the uniform special case (all weights
    * equal ⇒ rank by hash alone).
    *
    * This is how "sample 100k docs per source, preferring high-quality
    * ones" runs reproducibly: no RNG state, stable under retry, and
    * the k'<k sample is always a prefix of the k sample (keys are
    * fixed; only the cutoff moves). u uses 52 hash bits mapped to
    * (0,1] — the +1 keeps ln away from 0. Fractional weights are
    * honored (a 0.01-weight row really is ~100× less likely than a
    * 1.0-weight row); rows with weight <= 0 get an infinite key and
    * sort last deterministically (id tie-break) instead of dividing
    * by zero. Plan shape matches the cap: one window per stratum;
    * [[weightedSampleBounded]] replaces the per-stratum sort with
    * bounded aggregate state when k is small and strata are few and
    * hot.
    */
  def weightedSample(df: DataFrame, idCol: String, strataCol: String,
                     weightCol: String, k: Int,
                     salt: String = "wsample1"): DataFrame = {
    require(k > 0, s"sample size must be positive, got $k")
    val w = Window.partitionBy(col(strataCol))
      .orderBy(esKey(idCol, weightCol, salt).asc, col(idCol).asc)
    df.withColumn("sel_rank", row_number().over(w).cast("long"))
      .filter(col("sel_rank") <= k)
  }

  /** x12's exact integer quality score over prepared columns
    * (n, l, p, s): common-denominator micro-units, the quotient
    * always in [0, 1e6]. The numerator is carried in DECIMAL(38,0) —
    * the all-long form silently wraps (ansi=false) for documents past
    * ~7 MB (l·n ≳ 9·10¹², where 10000·min(n,50)·l·n alone exceeds
    * int64) and a wrapped-negative q_micro corrupts every consumer
    * (curriculum sort key, stratum mean). Identical BIGINT values
    * everywhere the long form doesn't wrap, so the DuckDB oracles are
    * unchanged.
    */
  private def qMicro: Column = when(col("n") > 0,
    expr("""(10000 * least(n, 50) * CAST(l AS DECIMAL(38,0)) * n +
           | 250000 * (l - p) * CAST(n AS DECIMAL(38,0)) +
           | 250000 * least(n, 4 * s) * CAST(l AS DECIMAL(38,0)))
           | div (CAST(l AS DECIMAL(38,0)) * n)""".stripMargin))
    .otherwise(0L)

  /** Efraimidis–Spirakis race key: `-ln(u)/w` on the deterministic
    * 52-bit keyed-hash uniform, +Infinity for non-positive weights
    * (sorts last, id tie-break, no division by zero).
    */
  private def esKey(idCol: String, weightCol: String,
                    salt: String): Column = {
    val u = (conv(substring(md5(concat(lit(salt + ":"),
      col(idCol).cast("string"))), 1, 13), 16, 10).cast("long") + 1.0) /
      lit(4503599627370496.0) // 16^13 = 2^52
    val wgt = col(weightCol).cast("double")
    when(wgt > 0.0, -log(u) / wgt).otherwise(lit(Double.PositiveInfinity))
  }

  /** Keep at most `k` rows per stratum, chosen by the keyed hash (id
    * as tiebreak) — the per-domain/per-source cap a web-corpus
    * assembly applies so no single source dominates the mix. Adds
    * `cap_rank`, the 1-based position within the stratum's hash order.
    * Deterministic under retry, and NESTED in `k`: the hash order per
    * stratum is fixed, so raising a source's budget only ADDS rows —
    * it never churns documents already kept.
    *
    * BOUNDED state instead of a per-stratum window sort (the window
    * twin is CorpusMixSpec's reference): a
    * [[graft.functions.BottomKSelect]] aggregate races
    * (hash, id) per stratum holding O(k) rows per group — map-side
    * partials, O(strata·k) through the shuffle — and the winners (with
    * their exact ranks, read off the aggregate's sorted buffer) join
    * back by id. Same output as the window twin, bit for bit
    * (CorpusMixSpec asserts it), but where the window sorts EVERY
    * stratum in full — a near-total corpus sort when strata are few
    * and hot, the one 100 TB plan flagged in round 6 — this never
    * sorts anything bigger than k. The winner relation is
    * O(strata·k) rows and broadcasts by construction.
    *
    * Generality contract: `idCol` must be integral (the race
    * tie-break is numeric); the window twin has no such constraint.
    */
  def capPerStratumBounded(df: DataFrame, idCol: String, strataCol: String,
                           k: Int, salt: String = "cap1"): DataFrame =
    boundedSelect(df, idCol, strataCol,
      conv(hashHex(col(idCol), salt), 16, 10).cast("double"), k, "cap_rank")

  /** [[weightedSample]] on the bounded-state path — see
    * [[capPerStratumBounded]]; the float race key is computed ONCE,
    * the selection decided inside the aggregate, and winners join back
    * by integral id, so no recomputed double is ever re-compared.
    */
  def weightedSampleBounded(df: DataFrame, idCol: String, strataCol: String,
                            weightCol: String, k: Int,
                            salt: String = "wsample1"): DataFrame =
    boundedSelect(df, idCol, strataCol, esKey(idCol, weightCol, salt),
      k, "sel_rank")

  private def boundedSelect(df: DataFrame, idCol: String, strataCol: String,
                            keyExpr: Column, k: Int,
                            rankName: String): DataFrame = {
    require(k > 0, s"selection size must be positive, got $k")
    val s = df.sparkSession
    import s.implicits._
    // the id must cast to a non-null long or the re-join below would
    // silently DROP the row (null === null is null) instead of failing
    // the documented integral-id contract — enforce in-plan, the c1
    // assert_true pattern
    val idLong = when(assert_true(col(idCol).cast("long").isNotNull,
        lit("boundedSelect: idCol must cast to a non-null long"))
        .isNull, col(idCol).cast("long"))
    val keyed = df.select(col(strataCol).cast("string").as("__s"),
        keyExpr.as("__k"), idLong.as("__i"))
      .as[(String, Double, Long)]
    val winners = keyed.groupByKey(_._1)
      .mapValues(t => graft.functions.SelKey(t._2, t._3))
      .agg(new graft.functions.BottomKSelect(k).toColumn.name("sel"))
      .toDF("__s", "__sel")
      .select(col("__s"), posexplode(col("__sel.vs")))
      .select(col("__s"), (col("pos") + 1).cast("long").as(rankName),
        col("col.id").as("__i"))
    // null-SAFE on the stratum: the window twins rank a null stratum
    // as a valid group, so the bounded form must join those rows back
    // rather than dropping them through null === null
    df.join(broadcast(winners),
        col(strataCol).cast("string") <=> col("__s") &&
          col(idCol).cast("long") === col("__i"))
      .drop("__s", "__i")
  }

  /** The corpus datasheet: one row per stratum with the quantities a
    * dataset card publishes — volume (docs, tokens, mean length),
    * quality (mean of x12's exact integer q_micro), risk (documents
    * with any PII hit, under t7's exact staged-regex semantics) and
    * duplication (documents whose md5 fingerprint repeats ANYWHERE in
    * the corpus — cross-stratum on purpose: a doc syndicated across
    * sources is precisely what the card must disclose). Every column
    * is a count or an integral `div` mean — bit-exact on any engine.
    *
    * One corpus scan computes all per-doc signals as a single
    * projection (the regex cascade rides the scan like t7); the only
    * extra shuffle is the md5 fingerprint aggregate, whose ≥2-owner
    * survivors join back as a left_semi-style marker relation keyed by
    * fingerprint — O(dup fingerprints), never a self-join of the
    * corpus. Output is O(strata) rows.
    */
  def datasetCard(df: DataFrame, idCol: String, textCol: String,
                  strata: Seq[String]): DataFrame = Lineage.scope {
    val stop = typedLit(TextAnalysis.LangMarkers.toMap.apply("en"))
    val t1 = regexp_replace(col("__t"), TextAnalysis.EmailRegex, "<EMAIL>")
    val per = Lineage.shared(df
      .select(strata.map(col) :+ col(idCol).as("doc") :+
        col(textCol).as("__t"): _*)
      .withColumn("__ws", TextAnalysis.words(col("__t")))
      .withColumn("n", size(col("__ws")).cast("long"))
      .withColumn("l", length(col("__t")).cast("long"))
      .withColumn("p", length(regexp_replace(col("__t"), "[^.,!?;:]", ""))
        .cast("long"))
      .withColumn("s", size(filter(col("__ws"), w => array_contains(stop, w)))
        .cast("long"))
      .withColumn("q_micro", qMicro)
      // t7's staged semantics: emails on raw text, phones on the
      // email-redacted text, IPs after both
      .withColumn("__t1", t1)
      .withColumn("__pii",
        (regexp_count(col("__t"), lit(TextAnalysis.EmailRegex)) +
          regexp_count(col("__t1"), lit(TextAnalysis.PhoneRegex)) +
          regexp_count(
            regexp_replace(col("__t1"), TextAnalysis.PhoneRegex, "<PHONE>"),
            lit(TextAnalysis.Ipv4Regex))) > 0)
      .withColumn("__fp", md5(col("__t"))))
    // per feeds TWO consumers (the fingerprint aggregate and the join's
    // left side), so it is shared — else the whole tokenize + 3-stage
    // regex cascade runs twice. The scope checkpoints the O(strata)
    // card and frees the corpus-wide per.
    val dupFps = per.groupBy(col("__fp"))
      .agg(count(lit(1)).as("__copies"))
      .filter(col("__copies") > 1)
      .select(col("__fp"), lit(1L).as("__dup"))
    per.join(dupFps, Seq("__fp"), "left")
      .groupBy(strata.map(col): _*)
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n")).as("n_tokens"),
        sum(col("q_micro")).as("__qsum"),
        sum(when(col("__pii"), 1L).otherwise(0L)).as("n_pii_docs"),
        sum(when(col("__dup").isNotNull, 1L).otherwise(0L)).as("n_dup_docs"))
      .select(strata.map(col) ++ Seq(
        col("n_docs"), col("n_tokens"),
        expr("n_tokens div n_docs").as("mean_tokens"),
        expr("__qsum div n_docs").as("mean_q_micro"),
        col("n_pii_docs"), col("n_dup_docs"),
        expr("n_dup_docs * 1000000 div n_docs").as("dup_ppm")): _*)
  }
}
