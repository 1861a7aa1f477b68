package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Edit-distance similarity join (fuzzy record matching / entity
  * resolution): all (left, right) pairs whose strings are within
  * `maxDist` Levenshtein edits.
  *
  * The naive formulation is a cross join with a `levenshtein`
  * post-filter — O(|L|·|R|) distance computations, the canonical
  * record-linkage scale-killer. This is the q-gram PREFIX-FILTER
  * decomposition instead (Gravano et al. VLDB'01 count filtering +
  * Xiao et al. Ed-Join prefix pruning, both public literature):
  *
  *  1. pad each string with q-1 sentinels and take its positional
  *     q-gram MULTISET (gram + occurrence ordinal — repeated grams
  *     stay distinct elements, which plain-set filtering gets wrong);
  *  2. rank every gram element by document frequency (one aggregate,
  *     shuffled — never broadcast: the vocabulary is corpus-dependent
  *     and unbounded); rarest-first is the order that minimizes
  *     candidate fan-out;
  *  3. keep each string's first `q·maxDist + 1` elements in that
  *     order (its PREFIX). Two strings within `maxDist` edits share
  *     ≥ max(grams) − q·maxDist elements, so their prefixes must
  *     intersect — joining prefixes on (gram, ordinal) is LOSSLESS
  *     while shipping O(N·(q·maxDist+1)) rows through the shuffle
  *     instead of every gram occurrence;
  *  4. verify surviving candidate pairs with the exact codegen'd
  *     `levenshtein`, after the |len(l) − len(r)| ≤ maxDist filter.
  *
  * Degenerate class: two strings BOTH shorter than q·maxDist − q + 2
  * can sit within `maxDist` edits while sharing zero grams (e.g.
  * "ab" / "cd" at q=2, k=2), so gram joins cannot see them. Those
  * shorts pair through a banded LENGTH equi-join (bucket width
  * maxDist+1, left side exploded to ±1 buckets — the a4 banding
  * pattern) and the same exact verify; quadratic only within a
  * (short-length, bucket) class, which real corpora keep tiny.
  *
  * Output: (left_id, right_id, dist), dist ≤ maxDist, exact — fixed
  * output names, so identically-named id columns on the two inputs
  * never collide.
  *
  * 100 TB contract — BLOCKING IS THE DEFAULT, enforced by signature:
  * prefix selectivity is a PRODUCT of per-gram frequencies, so on a
  * corpus whose gram frequencies grow with N the candidate set grows
  * ~N² even while the true answer grows linearly (measured,
  * SCALING_r08 tagged decade: 241× → 1734× candidates-per-output
  * across 10×). [[editDistanceJoin]] therefore REQUIRES a blocking
  * key per side — a record-linkage blocking key (name prefix, zip,
  * source stratum), a [[Dedup]] LSH band bucket, a cluster id — and
  * runs the whole pipeline per block: per-block gram frequencies,
  * prefix join and length-band join both carrying the block key.
  * Candidates can never cross blocks, so volume is Σ_b f(|b|) instead
  * of f(N) — flat candidates-per-output across scale decades when
  * block sizes are bounded (SCALING_r09). The unbounded form survives
  * as the explicit [[Unblocked]] escape hatch for inputs already
  * bounded by construction.
  *
  * Positional filtering cannot tighten this implementation:
  * ordinal-multiset matching pairs occurrences whose positions can
  * legally shift past maxDist when an edit hits an earlier same-gram
  * occurrence, so a position window would drop true pairs. Use q=3
  * for ~2× fewer candidates than q=2 at identical output on
  * 40-char-scale strings ([[profile]] measures this per population).
  */
object Fuzzy {

  /** Candidate-volume accounting for one edit-distance join — the
    * number that predicts 100× behavior: if `gramCandidates /
    * outputPairs` grows across a scale decade, the prefix filter is
    * losing selectivity and needs tightening (larger q, length-aware
    * prefixes, finer blocks) BEFORE the corpus grows into it. Emitted
    * by the scaling study per scale multiple.
    */
  final case class EditJoinStats(gramCandidates: Long, shortCandidates: Long,
                                 verifyCandidates: Long, outputPairs: Long)

  /** Blocked edit-distance join — the default, 100-TB-shaped entry
    * point. `leftBlock`/`rightBlock` name a column on each input;
    * only same-block pairs are candidates (the record-linkage
    * blocking contract — the caller picks a key that true matches
    * agree on, e.g. an edit-stable string prefix, an LSH band bucket,
    * a source stratum). Within each block the q-gram prefix filter is
    * lossless, with gram rarity ranked PER BLOCK (each block's own
    * vocabulary decides its prefix order — strictly better candidate
    * selectivity than a global ranking, at the same one-aggregate
    * cost). Null block keys drop, like null strings.
    */
  def editDistanceJoin(left: DataFrame, right: DataFrame,
                       leftId: String, rightId: String,
                       leftStr: String, rightStr: String,
                       leftBlock: String, rightBlock: String,
                       maxDist: Int, q: Int = 2): DataFrame =
    build(left, right, leftId, rightId, leftStr, rightStr, maxDist, q,
      blk = Some((leftBlock, rightBlock))).result

  /** Default per-wave SCRATCH budget for [[editDistanceJoinAutoWaved]],
    * in bytes: the candidate ceiling is DERIVED from it via the
    * measured bytes-per-candidate of the actual inputs, because a
    * fixed candidate count is only right for one string population —
    * 5e7 pairs of 40-char strings is a few GB, 5e7 pairs of 400-char
    * strings is ten times that, and on a real cluster the right bound
    * is a function of per-executor shuffle scratch, not a constant.
    * 6 GiB reproduces the calibrated behavior on this box: at the
    * SCALING_r11 d12 wave population (~40-char strings → ~120 B/candidate) it
    * derives a ~5.4e7 ceiling, the regime where 4 waves bounded
    * per-wave scratch at 0.096× the 952 MB whole-join footprint.
    */
  val DefaultWaveScratchBudgetBytes: Long = 6L << 30

  /** Bytes a candidate pair occupies beyond its two strings in the
    * verify-stage shuffle: two 8-byte ids plus unsafe-row framing.
    */
  private val PairOverheadBytes = 40.0

  /** [[editDistanceJoin]] that decides its own wave count from the
    * PREDICTED candidate volume — the g2 auto-waving pattern applied to
    * the blocked fuzzy join, so the 952 MB → 10× scratch-headroom
    * decision is the operator's, not a human's. The prediction is the
    * breaker's exact linear-cost count (Σ per join key of |L|·|R| over
    * the prefix relations + the short-length classes, in DECIMAL).
    * The per-wave ceiling defaults to DERIVED-FROM-ENVIRONMENT:
    * `waveScratchBudgetBytes` (per-wave shuffle scratch the execution
    * environment affords) divided by the MEASURED bytes-per-candidate
    * of these inputs — average string lengths from one bounded agg
    * over the already-checkpointed cleaned relations, plus id/row
    * overhead — so the same operator waves a 40-char corpus at ~5e7
    * candidates and a 400-char corpus ten times sooner. Pass
    * `waveCandidateCeiling > 0` to pin the ceiling explicitly (specs,
    * replays). Below the ceiling the join runs whole, REUSING the
    * checkpointed prefix relations the count already materialized —
    * the measured path costs nothing extra. Past the ceiling the block
    * keys split into ceil(volume / ceiling) hash classes (capped at
    * `maxWaves`) and the join executes as SEQUENTIAL per-class waves
    * that FILTER the same checkpointed prefix + cleaned-input
    * relations — gram extraction, per-block rarity ranking and the
    * prefix windows are paid once, and a wave's own cost is exactly
    * the candidate join + verify it exists to bound. Every candidate
    * pair shares its block, so waves partition the
    * candidate space exactly (SCALING_r11.json: pair counts conserved,
    * max per-wave scratch ~1/waves of the whole footprint). Each wave
    * eagerly materializes via localCheckpoint, followed in local mode by
    * a GC nudge that lets the ContextCleaner delete its shuffle files,
    * so scratch from wave g is released before wave g+1 shuffles
    * ([[Lineage.unionWaves]]); the returned frame is the union of the
    * materialized waves. Per-block gram rarity is
    * unchanged by waving (blocks are atomic within a wave), and the
    * union dedups at the same (id, string) pair grain as the whole
    * join's verify-stage distinct — under MULTI-BLOCK blocking (the
    * same record blocked into several keys, a standard linkage
    * technique) a pair matching in two blocks that hash to different
    * waves would otherwise emit twice. That distinct runs over the
    * OUTPUT-sized union of verified survivors, never the candidates,
    * so it cannot reintroduce the scratch the waves bound — and the
    * output is bit-identical to the whole join.
    *
    * `onWaves` observes the decision (specs assert the trip; callers
    * can log it).
    */
  def editDistanceJoinAutoWaved(left: DataFrame, right: DataFrame,
                                leftId: String, rightId: String,
                                leftStr: String, rightStr: String,
                                leftBlock: String, rightBlock: String,
                                maxDist: Int, q: Int = 2,
                                waveCandidateCeiling: Long = 0L,
                                waveScratchBudgetBytes: Long = DefaultWaveScratchBudgetBytes,
                                maxWaves: Int = 64,
                                onWaves: Int => Unit = _ => ()): DataFrame = Lineage.scope {
    require(waveCandidateCeiling >= 0 && waveScratchBudgetBytes > 0 &&
      maxWaves >= 1)
    val whole = build(left, right, leftId, rightId, leftStr, rightStr,
      maxDist, q, blk = Some((leftBlock, rightBlock)), measure = true)
    val (gramVol, shortVol) = whole.volume.get
    val total = gramVol.add(shortVol)
    val ceiling =
      if (waveCandidateCeiling > 0) waveCandidateCeiling
      else {
        // measured bytes/candidate: a verify-stage row carries both
        // strings plus ids and row framing. One bounded agg per side
        // over the ALREADY-CHECKPOINTED cleaned relations (the
        // measurement pass materialized them — this costs a scan of
        // O(N) checkpointed rows, no shuffle). Empty side → 0 avg.
        val avgL = whole.l
          .agg(coalesce(avg(length(col("__ls"))), lit(0.0))).head.getDouble(0)
        val avgR = whole.r
          .agg(coalesce(avg(length(col("__rs"))), lit(0.0))).head.getDouble(0)
        val bytesPerCandidate = math.max(avgL + avgR + PairOverheadBytes, 1.0)
        math.max((waveScratchBudgetBytes / bytesPerCandidate).toLong, 1L)
      }
    val waves = Lineage.waves(BigInt(total.toBigIntegerExact), ceiling, maxWaves)
    onWaves(waves)
    if (waves == 1) whole.result
    else {
      // waves FILTER the measurement pass's checkpointed relations —
      // gram extraction, per-block rarity ranking and the prefix
      // windows are paid ONCE; a wave's own cost is exactly the
      // candidate join + verify it exists to bound. Filtering by a
      // hash class of __blk is exact: prefixes are per-(block, string)
      // and gram ranks are per-block, so a block's relations are
      // byte-identical whole or waved.
      def cls = pmod(xxhash64(col("__blk")), lit(waves.toLong))
      // resultKeyed (not result): the verified survivors WITH their
      // strings, so the cross-wave distinct below dedups at exactly the
      // whole join's verify grain (__lid, __ls, __rid, __rs) — __d is a
      // function of the strings, so carrying it is free
      Lineage.unionWaves(waves)(g =>
        assemble(whole.pl.filter(cls === g), whole.pr.filter(cls === g),
          whole.l.filter(cls === g), whole.r.filter(cls === g),
          maxDist, q).resultKeyed)
        // cross-wave dedup: under multi-block blocking the same pair can
        // verify in two blocks hashing to different waves; the whole
        // join's single verify-stage distinct collapses those, so the
        // waved union must too. Output-sized (dist <= maxDist survivors
        // only), never candidate-sized.
        .distinct()
        .select(col("__lid").as("left_id"), col("__rid").as("right_id"),
          col("__d").cast("long").as("dist"))
    }
  }

  /** [[editDistanceJoin]] measuring each pruning stage's row volume.
    * Persists the candidate stages so the counts don't recompute the
    * prefix pipeline; diagnostic-path cost only — the join itself
    * materializes nothing.
    */
  def profile(left: DataFrame, right: DataFrame,
              leftId: String, rightId: String,
              leftStr: String, rightStr: String,
              leftBlock: String, rightBlock: String,
              maxDist: Int, q: Int = 2): EditJoinStats =
    profileOf(build(left, right, leftId, rightId, leftStr, rightStr,
      maxDist, q, blk = Some((leftBlock, rightBlock))), maxDist)

  /** The unbounded self-join escape hatch. Candidate-optimal WITHIN a
    * bounded input; superlinear candidate growth on an unbounded one
    * (see the 100 TB contract above) — callers must either pass
    * inputs bounded by construction (a dedup cluster, one LSH bucket,
    * a stratum) or use the blocked [[Fuzzy.editDistanceJoin]].
    *
    * CIRCUIT BREAKER: because "bounded by construction" is a promise
    * the signature cannot check, [[editDistanceJoin]] PRE-COUNTS the
    * exact candidate volume before running the verify stage and fails
    * loudly past `candidateBudget`. The count is linear-cost — one
    * aggregate over the (already prefix-filtered) O(N·(q·k+1))-row
    * prefix relations plus one over the short-length classes, never
    * the pairs themselves — so a 100 TB misuse dies in seconds with
    * an actionable message, not in N² silence (SCALING_r09 measured
    * the misuse mode at ~N^1.96 candidates: 5011× candidates/output
    * at 30× scale). Callers with a genuinely bounded input larger
    * than the default budget raise it explicitly — the parameter is
    * the audit trail.
    */
  object Unblocked {
    /** Default candidate cap: ~1e8 pairs ≈ minutes of levenshtein
      * verify at 32 cores — past it the input is either unbounded (use
      * [[Fuzzy.editDistanceJoin]]) or big enough that the caller
      * should state the budget they mean.
      */
    val DefaultCandidateBudget: Long = 100000000L

    def editDistanceJoin(left: DataFrame, right: DataFrame,
                         leftId: String, rightId: String,
                         leftStr: String, rightStr: String,
                         maxDist: Int, q: Int = 2,
                         candidateBudget: Long = DefaultCandidateBudget): DataFrame =
      build(left, right, leftId, rightId, leftStr, rightStr, maxDist, q,
        blk = None, budget = Some(candidateBudget)).result

    /** Stats for the unblocked pipeline — with the SAME circuit breaker
      * as [[Unblocked.editDistanceJoin]] armed by default: profiling
      * counts candGram/verify, i.e. it EXECUTES the quadratic candidate
      * join it measures, so an unbudgeted profile of an unbounded input
      * is the very misuse the breaker exists to kill. A caller who
      * means to measure past the default states the budget explicitly
      * (`Long.MaxValue` = deliberate unguarded measurement).
      */
    def profile(left: DataFrame, right: DataFrame,
                leftId: String, rightId: String,
                leftStr: String, rightStr: String,
                maxDist: Int, q: Int = 2,
                candidateBudget: Long = DefaultCandidateBudget): EditJoinStats =
      profileOf(build(left, right, leftId, rightId, leftStr, rightStr,
        maxDist, q, blk = None, budget = Some(candidateBudget)), maxDist)
  }

  /** `build` runs inside the profile's scope, so the stages it shares
    * and the measured path's checkpoints are all freed on return.
    */
  private def profileOf(build: => Build, maxDist: Int): EditJoinStats =
    Lineage.scope {
      val b = build
      // b.verify / b.result ARE the shipped pipeline's stages — the
      // profile counts the same DataFrames the join executes, so the
      // stats cannot drift from the operator they predict
      EditJoinStats(Lineage.shared(b.candGram).count(),
        Lineage.shared(b.candShort).count(),
        Lineage.shared(b.verify).count(), b.result.count())
    }

  /** The pipeline's handles: the candidate/verify/result stages, plus —
    * for the measured path — the exact stage volumes and the
    * checkpointed prefix (`pl`/`pr`) and cleaned-input (`l`/`r`)
    * relations the waved execution re-slices.
    */
  private final case class Build(candGram: DataFrame, candShort: DataFrame,
                                 verify: DataFrame, resultKeyed: DataFrame,
                                 result: DataFrame,
                                 pl: DataFrame, pr: DataFrame,
                                 l: DataFrame, r: DataFrame,
                                 volume: Option[(java.math.BigDecimal, java.math.BigDecimal)] = None)

  private def build(left: DataFrame, right: DataFrame,
                    leftId: String, rightId: String,
                    leftStr: String, rightStr: String,
                    maxDist: Int, q: Int,
                    blk: Option[(String, String)],
                    budget: Option[Long] = None,
                    measure: Boolean = false): Build = {
    require(maxDist >= 0, s"maxDist must be >= 0, got $maxDist")
    require(q >= 1, s"q must be >= 1, got $q")
    val prefixLen = q * maxDist + 1
    // both strings below this can be within maxDist at zero shared grams
    val shortLen = q * maxDist - q + 1

    // the block key rides every join; unblocked = one global block
    val (lBlk, rBlk) = blk match {
      case Some((lb, rb)) => (col(lb), col(rb))
      case None           => (lit(0), lit(0))
    }
    // distinct: exact duplicate (id, str, block) input rows would each
    // occupy row_number slots in the ONE per-string prefix budget below
    // (two copies -> only ~half the distinct prefix elements survive),
    // silently breaking losslessness; the output is distinct pairs
    // anyway, so collapsing input duplicates is semantics-preserving
    val l0 = left.select(col(leftId).as("__lid"), col(leftStr).as("__ls"),
        lBlk.as("__blk"))
      .filter(col("__ls").isNotNull && col("__blk").isNotNull)
      .distinct()
    val r0 = right.select(col(rightId).as("__rid"), col(rightStr).as("__rs"),
        rBlk.as("__blk"))
      .filter(col("__rs").isNotNull && col("__blk").isNotNull)
      .distinct()
    // measured (auto-wave) path: checkpoint the cleaned inputs too, so
    // the short-fallback legs of every wave reuse one distinct() pass
    // instead of re-shuffling the inputs per wave. Linear-size, like
    // the prefix checkpoints.
    val (l, r) =
      if (measure) (Lineage.materialize(l0), Lineage.materialize(r0))
      else (l0, r0)

    // padded q-gram multiset as (gram, occurrence-ordinal) structs;
    // the ordinal is the count of equal grams at earlier positions,
    // so matching (g, o) pairs across two strings counts the true
    // multiset intersection
    def gramElems(s: Column): Column = {
      // distinct begin/end sentinels (classic padding): every non-empty
      // string gets grams and boundary edits cost gram changes too
      val padded = concat(lit("\u0001" * (q - 1)), s, lit("\u0002" * (q - 1)))
      val gs = transform(
        sequence(lit(1), length(padded) - (q - 1)),
        i => padded.substr(i, lit(q)))
      transform(gs, (g, i) =>
        struct(g.as("g"),
          size(filter(slice(gs, lit(1), i), x => x === g)).as("o")))
    }

    val lg = l.select(col("__lid"), col("__ls"), col("__blk"),
      explode(gramElems(col("__ls"))).as("__e"))
    val rg = r.select(col("__rid"), col("__rs"), col("__blk"),
      explode(gramElems(col("__rs"))).as("__e"))

    // per-block rarity rank, one aggregate over both sides' elements —
    // ties broken by the element itself so the canonical order is total
    val dfTable = lg.select(col("__blk"), col("__e"))
      .unionAll(rg.select(col("__blk"), col("__e")))
      .groupBy(col("__blk"), col("__e")).agg(count(lit(1)).as("__df"))

    // the prefix budget is PER STRING PER BLOCK, so the window
    // partitions by (block, id, string): duplicate id values on an
    // input (non-key ids are routine in record linkage) would
    // otherwise merge two strings' gram elements into ONE q·k+1
    // budget — and the same (id, string) row blocked into TWO blocks
    // (multi-block blocking is a standard linkage technique) carries
    // one gram relation per block, which must each keep their own
    // prefix — either collapse silently loses a string's last shared
    // prefix element, breaking losslessness with no error
    def prefix(g: DataFrame, id: String, str: String): DataFrame = {
      val w = Window.partitionBy(col("__blk"), col(id), col(str))
        .orderBy(col("__df"), col("__e.g"), col("__e.o"))
      g.join(dfTable, Seq("__blk", "__e"))
        .withColumn("__rn", row_number().over(w))
        .filter(col("__rn") <= prefixLen)
        .drop("__df", "__rn")
    }

    // the candidate-budget guard (the Unblocked escape hatch's circuit
    // breaker): the EXACT join sizes are Σ over each join key of
    // |left group|·|right group| — counted from the prefix relations
    // (eagerly localCheckpoint'ed so the window+rarity pipeline runs
    // once and the real join reuses the materialization) and the
    // short-length classes, in DECIMAL so the count itself cannot
    // wrap. Cost is linear in N; the quadratic work it predicts never
    // starts if the prediction exceeds the budget.
    val (pl, pr, measured) = {
      val p0l = prefix(lg, "__lid", "__ls")
      val p0r = prefix(rg, "__rid", "__rs")
      if (budget.isEmpty && !measure) (p0l, p0r, None)
      else {
        val plC = Lineage.materialize(p0l)
        val prC = Lineage.materialize(p0r)
        def keyCounts(df: DataFrame, keys: Seq[String]) = df
          .groupBy(keys.map(col): _*)
          .agg(count(lit(1)).cast("decimal(38,0)").as("__n"))
        def joinVolume(a: DataFrame, bdf: DataFrame, keys: Seq[String]): java.math.BigDecimal =
          keyCounts(a, keys)
            .join(keyCounts(bdf, keys).withColumnRenamed("__n", "__m"), keys)
            .agg(coalesce(sum(col("__n") * col("__m")),
              lit(0).cast("decimal(38,0)")))
            .head.getDecimal(0)
        val band0 = maxDist + 1
        val lsb = expr(s"length(__ls) div $band0")
        val gramVol = joinVolume(plC, prC, Seq("__blk", "__e"))
        val shortVol = joinVolume(
          l.filter(length(col("__ls")) <= shortLen)
            .withColumn("__b", explode(array(lsb - 1, lsb, lsb + 1))),
          r.filter(length(col("__rs")) <= shortLen)
            .withColumn("__b", expr(s"length(__rs) div $band0")),
          Seq("__blk", "__b"))
        val total = gramVol.add(shortVol)
        budget.foreach { b =>
          if (total.compareTo(java.math.BigDecimal.valueOf(b)) > 0)
            throw new IllegalStateException(
              s"Fuzzy.Unblocked: candidate volume $total (gram $gramVol " +
                s"+ short $shortVol) exceeds candidateBudget $b — this " +
                "input is not bounded by construction. Use the blocked " +
                "Fuzzy.editDistanceJoin with a record-linkage block key " +
                "(stratum, LSH bucket, stable prefix), or raise " +
                "candidateBudget explicitly if the volume is intended.")
        }
        (plC, prC, Some((gramVol, shortVol)))
      }
    }
    assemble(pl, pr, l, r, maxDist, q).copy(volume = measured)
  }

  /** The join pipeline's tail, from prefix + cleaned relations to the
    * exact result — factored so the waved execution can re-slice the
    * measured checkpoints per hash class without rebuilding gram
    * extraction and ranking.
    */
  private def assemble(pl: DataFrame, pr: DataFrame,
                       l: DataFrame, r: DataFrame,
                       maxDist: Int, q: Int): Build = {
    val shortLen = q * maxDist - q + 1
    val candGram = pl
      .join(pr, Seq("__blk", "__e"))
      .select(col("__lid"), col("__ls"), col("__rid"), col("__rs"))

    // short × short fallback: banded length equi-join (width maxDist+1,
    // left exploded to the 3 adjacent buckets) — never a cross join;
    // quadratic only within a (block, short-length bucket) class
    val band = maxDist + 1
    val lb = expr(s"length(__ls) div $band")
    val candShort = l.filter(length(col("__ls")) <= shortLen)
      .withColumn("__b", explode(array(lb - 1, lb, lb + 1)))
      .join(r.filter(length(col("__rs")) <= shortLen)
          .withColumn("__b", expr(s"length(__rs) div $band")),
        Seq("__blk", "__b"))
      .select(col("__lid"), col("__ls"), col("__rid"), col("__rs"))

    // ONE shared verify-stage relation: result filters/projects it and
    // profileOf counts it, so the profiled candidate numbers describe
    // exactly the join being shipped — a hand-restated twin could
    // silently drift. The exact distance — the verify stage's dominant
    // scalar — is projected ONCE and filtered on, never evaluated a
    // second time in the output projection, and uses the THRESHOLD
    // form of the built-in (§4: codegen'd, and banded: the DP abandons
    // a row the moment every cell in the band exceeds maxDist, so a
    // non-matching candidate costs O(maxDist·len) instead of the full
    // O(len²) table — the candidates are overwhelmingly non-matches,
    // which is exactly where the full DP wasted its work). Semantics:
    // the 3-arg levenshtein returns the exact distance when it is
    // <= maxDist and -1 otherwise, so `__d >= 0` keeps precisely the
    // pairs the unbanded `__d <= maxDist` kept, with identical __d on
    // every survivor.
    val verify = candGram.unionAll(candShort)
      .distinct()
      .filter(abs(length(col("__ls")) - length(col("__rs"))) <= maxDist)
    // resultKeyed keeps the strings so the waved execution can dedup
    // ACROSS waves at this same grain before projecting them away
    val resultKeyed = verify
      .withColumn("__d", levenshtein(col("__ls"), col("__rs"), maxDist))
      .filter(col("__d") >= 0)
    val result = resultKeyed
      .select(col("__lid").as("left_id"), col("__rid").as("right_id"),
        col("__d").cast("long").as("dist"))
    Build(candGram, candShort, verify, resultKeyed, result, pl, pr, l, r)
  }
}
