package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Document-deduplication operators for LLM-training-data pipelines:
  * exact (content-hash), n-gram-Jaccard (shingle inverted-index join),
  * MinHash+LSH (banded signature buckets), and SimHash (bit-block
  * buckets). All are expressed with codegen'd built-in functions — no
  * UDFs — and every pair-finding path goes through a key-equality join
  * (shuffle co-located on the bucket key), NEVER an all-pairs cross
  * join, so each scales as O(collisions), not O(n²).
  *
  * The reference engine has no dedup operator; these extend its
  * sum-by-key aggregation surface (SURVEY.md §2.4 A1, §2.5 G1 tokenize)
  * to the document-pipeline capabilities the builder brief requires.
  *
  * The pair-finding operators share the relations their self-joins
  * read through [[Lineage.shared]]; [[Lineage]] states when each is
  * freed.
  */
object Dedup {

  /** Exact dedup: group by content fingerprint (md5 — stable across
    * engines for the oracle), keep the smallest id as the canonical
    * representative. One shuffle keyed on the 128-bit hash: uniformly
    * distributed, no skew, O(distinct docs) output.
    */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(md5(col(textCol)).as("fp"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  /** The consuming form of exact dedup: the surviving ROWS (smallest id
    * per distinct content), i.e. what a pipeline writes back out. One
    * extra semi-join against the fingerprint table.
    */
  def dropExactDuplicates(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.join(exact(df, idCol, textCol).select(col("keep_id")),
      col(idCol) === col("keep_id"), "left_semi")

  /** Prune near-duplicates given a pair table (i, j) with i < j: the
    * larger id of every pair is dropped. Non-iterative (no connected
    * components): if a~b and b~c, both b and c are removed even though
    * b's removal already "covers" the b~c edge — the standard greedy
    * one-pass rule for dedup at scale, where transitive chains are
    * overwhelmingly true duplicates anyway. One anti-join.
    */
  def pruneNearDuplicates(df: DataFrame, idCol: String, pairs: DataFrame): DataFrame =
    df.join(pairs.select(col("j")), col(idCol) === col("j"), "left_anti")

  /** Connected components over an undirected near-dup pair graph
    * (i, j): one (doc, cluster) row per doc appearing in a pair, with
    * `cluster` = the smallest doc id in its component. This is the
    * TRANSITIVE closure [[pruneNearDuplicates]] deliberately skips:
    * clustering keeps exactly one survivor per chain a~b~c (the min),
    * where the greedy per-edge rule drops both b and c.
    *
    * Min-label propagation WITH POINTER JUMPING: labels start at self;
    * each round takes the min over in-neighbors, then follows the
    * result one hop through the fresh label table (lab := lab's lab —
    * path doubling). The jump halves the remaining label distance
    * every round, so convergence is O(log diameter) rounds — a
    * 1024-node chain closes in ~10 rounds where plain min-label needs
    * ~1024 (DedupSpec pins this with an exact round budget). Same
    * fixpoint either way: every label is a node id inside the
    * component and only decreases. The jump join is keyed on label
    * over NODE-cardinality rows — cheap next to the edge join — which
    * is why this beats the star-contraction alternative
    * (large-star/small-star) here: same O(log n) rounds without
    * rewriting the edge set each round. Near-dup components are
    * overwhelmingly tiny cliques/chains (diameter ≤ 3), so typical
    * round counts stay 2-3; the jump is what caps the adversarial
    * tail. Labels are cut per round through [[Lineage.Rounds]] — an
    * iterative DataFrame otherwise stacks every round's lineage into
    * one plan and re-optimizes it all each iteration — which frees
    * each superseded round once the next lands; the final round backs
    * the returned DataFrame and is reclaimed by the ContextCleaner
    * when the caller drops it. The fixpoint test collects one COUNT
    * per round (bounded driver data) off the checkpoint.
    */
  def connectedComponents(pairs: DataFrame): DataFrame =
    componentsWithRounds(pairs)._1

  /** [[connectedComponents]] plus the number of label rounds it took —
    * the observable DedupSpec's chain fixture budgets to prove the
    * pointer jump really is O(log diameter).
    */
  private[graft] def componentsWithRounds(pairs: DataFrame): (DataFrame, Int) = Lineage.scope {
    // hash-partitioned on dst ONCE, before the persist: each round's
    // neighbor-min aggregate groups by dst, so it rides this
    // partitioning exchange-free every round — the previous
    // union-then-groupBy(node) form re-exchanged the edge-cardinality
    // label stream per round (§2.4: iterative shuffles are paid
    // `rounds` times, so they are the ones to remove). The label join
    // on src stays free too: labels are node-cardinality (near-dup
    // components are tiny, the label relation is ~2·pairs rows at
    // most) and AQE runtime-broadcasts them against the persisted
    // edges, preserving the dst partitioning. On a graph whose label
    // table outgrows broadcast, flip the persist key to src and pay
    // the dst exchange instead — either way ONE full-width exchange
    // per round maximum, never two.
    val edges = Lineage.shared(pairs.select(col("i").as("src"), col("j").as("dst"))
      .unionByName(pairs.select(col("j").as("src"), col("i").as("dst")))
      .repartition(col("dst")))
    val loop = new Lineage.Rounds
    var labels = loop.next(edges.select(col("src").as("node")).distinct()
      .withColumn("lab", col("node")))
    var changed = 1L
    var rounds = 0
    while (changed > 0) {
      // min over in-neighbors, partially aggregated map-side and
      // finalized on the edges' own dst partitioning (no exchange)
      val nbrMin = edges
        .join(labels.select(col("node").as("src"), col("lab").as("nlab")),
          Seq("src"))
        .groupBy(col("dst").as("node"))
        .agg(min(col("nlab")).as("nblab"))
      // fold in the node's own label (labels start at self and only
      // decrease, so min(own, neighbor-min) is the round's new label);
      // `old` rides along so the convergence count is a cheap scan of
      // the checkpoint, not a join with the previous round
      val minLab = labels
        .join(nbrMin, Seq("node"), "left_outer")
        .select(col("node"),
          least(col("lab"), coalesce(col("nblab"), col("lab"))).as("lab"),
          col("lab").as("old"))
      // pointer jump: lab := the PREVIOUS round's label of the
      // freshly-minimized lab. Jumping through the checkpointed
      // `labels` (not through minLab itself) matters: minLab feeding
      // both join sides would make AQE re-run the whole edge join +
      // aggregation twice per round (measured ~2× on the dense
      // decade). Every lab IS a node (labels start at self and min()
      // only picks node ids), so the inner join is total; the jumped
      // label is <= lab by label monotonicity, so `least` is
      // unnecessary, and composing min-step with last round's map
      // still doubles the covered distance per round. Round 1's jump
      // is the identity (labels start at self) and is skipped — on
      // tiny-diameter graphs (the near-dup norm, 2-3 rounds total)
      // that removes a third of the jump's constant cost.
      val jumped =
        if (rounds == 0) minLab.select(col("node"), col("lab"), col("old"))
        else minLab
          .join(labels.select(col("node").as("lab"), col("lab").as("jlab")),
            Seq("lab"))
          .select(col("node"), col("jlab").as("lab"), col("old"))
      labels = loop.next(jumped)
      changed = labels.filter(col("lab") =!= col("old")).count()
      rounds += 1
    }
    (labels.select(col("node").as("doc"), col("lab").as("cluster")), rounds)
  }

  /** Train/eval DECONTAMINATION report: for every training doc sharing
    * at least one word n-gram with the eval set, the number of shared
    * (doc, shingle) matches and of distinct eval docs hit — the overlap
    * audit run before training so benchmark text does not leak into the
    * corpus (long n, default 8: short n-grams collide by chance; an
    * 8-gram shared verbatim is memorization-grade overlap).
    *
    * Scale shape: the EVAL side is small by contract (a benchmark
    * suite), so its shingle set is explicitly `broadcast()` — the right
    * call here precisely because the contract bounds it, unlike d6's
    * ingest batch where nothing does and the hint would be the
    * unbounded-collect failure mode. The 100 TB train side is never
    * shuffled wholesale: the check rides the train scan as a broadcast
    * hash join, and the one shuffle (groupBy doc) carries only the
    * matched rows.
    */
  def contaminationReport(train: DataFrame, eval: DataFrame,
                          idCol: String, textCol: String,
                          n: Int = 8): DataFrame =
    shingles(train, idCol, textCol, n)
      .join(broadcast(shingles(eval, idCol, textCol, n)
        .select(col("shingle"), col("doc").as("eval_doc"))), Seq("shingle"))
      .groupBy(col("doc"))
      .agg(count(lit(1)).as("n_shared_shingles"),
        count_distinct(col("eval_doc")).as("n_eval_docs"))

  /** [[contaminationReport]] over NORMALIZED text — markup stripped,
    * entities decoded, whitespace collapsed (the t10 pipeline), then
    * case-folded — because eval text rarely matches training text
    * byte-for-byte: the same benchmark question re-hosted inside HTML,
    * retitled in Title Case, or re-wrapped survives every transform
    * verbatim 8-gram matching is blind to. This is the decontamination
    * recipe the published pipelines actually run (normalize both
    * sides, THEN match); the verbatim d7 form is its fast path, not
    * its substitute.
    *
    * Same scale shape as d7 (normalization is a per-row projection
    * riding both scans; the broadcast/join structure is unchanged),
    * same output schema, so the two reports diff directly — every row
    * in d7-but-not-d16 or vice versa is a normalization-sensitivity
    * finding.
    */
  def contaminationReportNormalized(train: DataFrame, eval: DataFrame,
                                    idCol: String, textCol: String,
                                    n: Int = 8): DataFrame = {
    def norm(df: DataFrame) =
      TextAnalysis.normalizeMarkup(df, idCol, textCol)
        .select(col("doc").as(idCol), lower(col("clean")).as(textCol))
    contaminationReport(norm(train), norm(eval), idCol, textCol, n)
  }

  /** [[contaminationReport]] for eval sets too big to broadcast as a
    * HASH RELATION: the same audit behind a Bloom-filter prefilter.
    *
    * The broadcast variant holds every eval shingle string in each
    * executor's hash map — tens of bytes per entry, so a 100M-shingle
    * eval suite (a full benchmark battery) blows the broadcast budget.
    * A Bloom filter over the same set costs ~1.2 BYTES per entry at 1%
    * false positives, and probing it is a scalar filter that rides the
    * train-side scan. Only the survivors — true matches plus the fpp
    * sliver of the train shingle stream — enter the exact join, which
    * is deliberately NOT broadcast: it shuffles just that sliver
    * against the eval shingles, so nothing here ever needs the eval
    * set to fit in one executor's memory at once.
    *
    * The exact join removes every Bloom false positive, so the output
    * EQUALS [[contaminationReport]] bit-for-bit (DedupSpec asserts
    * this even at fpp = 0.5, where false positives are guaranteed) —
    * which is also why d11 can carry d7's oracle.
    *
    * The filter itself (`spark.util.sketch.BloomFilter`) is built
    * DISTRIBUTED (one partial per partition, tree-merged), collected
    * once at its fixed bit-array size, and re-broadcast — driver
    * memory is bounded by the bloom's bits, never by the eval set.
    */
  def contaminationReportBloom(train: DataFrame, eval: DataFrame,
                               idCol: String, textCol: String,
                               n: Int = 8, fpp: Double = 0.01): DataFrame = Lineage.scope {
    // shared: the eval-side explode + distinct — the dominant eval
    // cost — feeds THREE consumers (the sizing count, the bloomFilter
    // job, the confirm join). Sized on (approximate) DISTINCT
    // shingles: the (shingle, eval_doc) row count over-allocates the
    // bit array by the cross-doc sharing factor; the 1.1 headroom
    // covers the sketch's error band, and bloom sizing only needs an
    // upper bound — the confirm join keeps exactness regardless. The
    // call is eager anyway (sizing count, bloom job), so the scope
    // checkpoints the report-sized result and frees evalSh.
    val evalSh = Lineage.shared(shingles(eval, idCol, textCol, n)
      .select(col("shingle"), col("doc").as("eval_doc")))
    // The bloom probe is the codegen'd BloomMightContain: the
    // serialized filter rides the plan as a binary literal — task
    // binaries are broadcast, so executors get it once — and is
    // deserialized once driver-side into the codegen references. No
    // Scala UDF in the train-side scan.
    val expected = math.max(
      (evalSh.agg(approx_count_distinct(col("shingle")))
        .head.getLong(0) * 1.1).toLong, 1L)
    val bloomBytes = {
      val bloom = evalSh.stat.bloomFilter("shingle", expected, fpp)
      val out = new java.io.ByteArrayOutputStream()
      bloom.writeTo(out)
      out.toByteArray
    }
    shingles(train, idCol, textCol, n)
      .filter(call_function("bloom_might_contain", lit(bloomBytes), col("shingle")))
      .join(evalSh.hint("shuffle_hash"), Seq("shingle"))
      .groupBy(col("doc"))
      .agg(count(lit(1)).as("n_shared_shingles"),
        count_distinct(col("eval_doc")).as("n_eval_docs"))
  }

  /** Word n-gram shingle set per document: (id, shingle) rows, distinct.
    * Guarded so a doc shorter than n words yields no shingles (Spark's
    * `sequence(1, k)` would count DOWN for k < 1 and corrupt indices).
    */
  def shingles(df: DataFrame, idCol: String, textCol: String, n: Int = 3): DataFrame =
    rawShingles(df, idCol, textCol, n).distinct()

  /** (doc, ws) with the tokenized words array materialized, plus the
    * guarded shingle start-index sequence for `n`-grams (empty for docs
    * shorter than n words — Spark's `sequence(1, k)` counts DOWN for
    * k < 1 and would corrupt indices). The words array MUST be
    * materialized in its own projection before any lambda touches it: a
    * lambda referencing the raw `split(...)` EXPRESSION re-evaluates
    * the regex split per array element — O(words²) per doc, measured
    * 25x slower at sf0.1.
    */
  private def tokenized(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol).as("doc"), wordsOf(textCol).as("ws"))

  /** THE tokenizer: whitespace split, empty tokens dropped. Single
    * definition shared by every batch and streaming signature path —
    * the stream/index band-hash agreement (MinHashRowSpec) depends on
    * all of them tokenizing identically, so this must not be copied.
    */
  private[graft] def wordsOf(textCol: String): Column =
    TextAnalysis.words(col(textCol)) // THE one tokenizer — never copy it

  /** Guarded n-gram start-index sequence over a materialized words
    * column (empty for docs shorter than n — `sequence(1, k)` counts
    * DOWN for k < 1 and would corrupt indices). Shared with every
    * n-gram consumer, TextAnalysis.repetitionStats included — the
    * guard must not be copied for the same reason [[wordsOf]] must not.
    */
  private[graft] def shingleIdx(n: Int, ws: Column = col("ws")): Column =
    when(size(ws) >= n, sequence(lit(1), size(ws) - (n - 1)))
      .otherwise(array().cast("array<int>"))

  /** The hashed-shingle array over a MATERIALIZED words column named
    * `ws` (materialized first per the 25x pitfall above): one xxhash64
    * per n-gram, no shingle string ever built.
    */
  private def hashedShingleArr(ws: String, n: Int): Column =
    transform(shingleIdx(n, col(ws)), i =>
      xxhash64((0 until n).map(o => element_at(col(ws), i + o)): _*))

  /** Per-occurrence (doc, shingle) rows — repeated shingles NOT
    * deduplicated. Consumers that are multiplicity-insensitive (a
    * document-frequency count_distinct, a min over hashed shingles)
    * use this directly and skip the distinct's full shuffle.
    */
  private def rawShingles(df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame = {
    val shingle = (i: Column) =>
      concat_ws(" ", (0 until n).map(o => element_at(col("ws"), i + o)): _*)
    tokenized(df, idCol, textCol)
      .select(col("doc"), explode(transform(shingleIdx(n), shingle)).as("shingle"))
  }

  /** Near-dup pairs by exact n-gram Jaccard, found via an inverted-index
    * self-join on the shingle (each shingle co-locates the docs that
    * contain it). `maxDf` drops shingles appearing in more than that
    * many docs before the join — the standard stop-shingle guard against
    * hot keys: a shingle shared by d docs contributes d² join rows, so
    * unbounded df is the one thing that would break this plan at 100 TB.
    * Jaccard = |A∩B| / (|A|+|B|−|A∩B|) from the co-occurrence counts —
    * the intersection never needs materialized sets.
    */
  /** Default candidate-pair budget for the exact shingle co-occurrence
    * joins: ~2e9 counted join rows ≈ minutes at 32 cores (the rows are
    * bare (i, j) counts, an order of magnitude cheaper than
    * [[Fuzzy]]'s levenshtein-verified candidates — hence the larger
    * default). The maxDf stop-shingle guard bounds each PER-SHINGLE
    * group at maxDf², but Σ over shingles is still corpus-shaped: a
    * templated corpus where most shingles sit just under maxDf costs
    * ~N·k·maxDf pairs, and a raised maxDf is quadratic in the raise.
    */
  val DefaultShingleCandidateBudget: Long = 2000000000L

  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
                        n: Int = 3, threshold: Double = 0.8,
                        maxDf: Int = 100,
                        candidateBudget: Long = DefaultShingleCandidateBudget): DataFrame =
    shingleCoOccurrence(df, idCol, textCol, n, maxDf, candidateBudget)
      .select(col("i"), col("j"),
        round(col("c").cast("double") / (col("szi") + col("szj") - col("c")), 6)
          .as("jaccard"))
      .filter(col("jaccard") >= threshold)

  /** Near-dup pairs by n-gram CONTAINMENT — |A∩B| / min(|A|, |B|) —
    * over the same inverted-index core as [[ngramJaccardPairs]]. The
    * asymmetric-size metric Jaccard misses: a document quoted whole
    * inside a much longer one has containment 1.0 but Jaccard
    * |A|/|B| ≈ 0, so threshold-Jaccard can never flag subset
    * duplication (boilerplate wrapping, quoted articles, prompt
    * templates around a shared passage) no matter how it is tuned.
    * Containment ≥ Jaccard always, so at the same threshold the pair
    * set is a superset of the Jaccard answer. Identical scale shape:
    * one shingle explode, stop-shingle df guard, bucket-key self-join —
    * never all-pairs.
    */
  def containmentPairs(df: DataFrame, idCol: String, textCol: String,
                       n: Int = 3, threshold: Double = 0.8,
                       maxDf: Int = 100,
                       candidateBudget: Long = DefaultShingleCandidateBudget): DataFrame =
    shingleCoOccurrence(df, idCol, textCol, n, maxDf, candidateBudget)
      .select(col("i"), col("j"),
        round(col("c").cast("double") / least(col("szi"), col("szj")), 6)
          .as("containment"))
      .filter(col("containment") >= threshold)

  /** All i < j pairs from a SORTED distinct-doc array — the per-shingle
    * candidate generator: element k pairs with every later element.
    * Bounded by construction (callers cap the array at maxDf), so the
    * worst row emits maxDf·(maxDf−1)/2 structs.
    */
  private def pairsOf(ds: Column): Column =
    flatten(transform(ds, (x, k) =>
      transform(slice(ds, k + lit(2), size(ds)),
        y => struct(x.as("i"), y.as("j")))))

  /** Shared co-occurrence core of the exact set-overlap pair finders:
    * (i, j, c, szi, szj) with i < j, c = |A∩B| counted via the shingle
    * inverted index, szi/szj = full shingle-set sizes.
    *
    * Shape (round 17, §2.3/§2.4): ONE exchange colocates the shingle
    * stream by `shingle`; the (doc, shingle) distinct, the
    * document-frequency aggregate, the stop-shingle prefilter join and
    * the per-shingle doc-list aggregate all ride that partitioning
    * exchange-free (hashpartitioning(shingle) satisfies every one of
    * their clusterings). Candidates are then GENERATED — each
    * surviving shingle's sorted doc list explodes into its C(df, 2)
    * i < j pairs — instead of discovered by the previous self-join,
    * which paid two window sorts, two join-side sorts of the string-
    * keyed relation and a candidate exchange keyed on the wide
    * (i, j, szi, szj) tuple. The only full-width exchanges left are
    * the colocation shuffle and the (i, j) candidate aggregate, whose
    * key is two ids instead of two ids + two sizes; set sizes join
    * onto the OUTPUT-sized pair relation (O(docs) rows, broadcast
    * at AQE's runtime threshold).
    *
    * The doc-list aggregate is safe against hot shingles: the df
    * prefilter (2 ≤ df ≤ maxDf) runs BEFORE any list materializes, so
    * no aggregation buffer ever holds more than maxDf doc ids — a
    * 10⁹-df stop-shingle at 100 TB is dropped by a counting aggregate,
    * never collected.
    *
    * Carries the family circuit breaker (the [[Fuzzy]] contract): the
    * candidate volume is Σ over surviving shingles of df·(df−1)/2, one
    * DECIMAL aggregate over the df relation the prefilter needs anyway
    * — linear cost, predicted BEFORE the quadratic explode starts,
    * loud failure past `candidateBudget`.
    */
  private def shingleCoOccurrence(df: DataFrame, idCol: String, textCol: String,
                                  n: Int, maxDf: Int,
                                  candidateBudget: Long = Long.MaxValue): DataFrame = {
    // persisted: feeds the df aggregate, the pair generator's prefilter
    // join and the set-size aggregate — three consumers of one shuffle
    val sh = Lineage.shared(rawShingles(df, idCol, textCol, n)
      .repartition(col("shingle"))
      .dropDuplicates("doc", "shingle"))
    // true set size: ALL of a doc's distinct shingles (pre-prefilter —
    // the df guard only prunes which shingles can produce pairs)
    val sizes = sh.groupBy(col("doc")).agg(count(lit(1)).as("__sz"))
    val dfc = sh.groupBy(col("shingle")).agg(count(lit(1)).as("__df"))
      .filter(col("__df") >= 2 && col("__df") <= maxDf)
    if (candidateBudget < Long.MaxValue) {
      // Σ df·(df−1)/2 over the surviving shingles — the exact pair
      // count the explode below will emit (df = 1 shingles are already
      // gone and contribute 0 either way). DECIMAL so the prediction
      // itself cannot wrap.
      val twice = dfc
        .agg(coalesce(sum(col("__df").cast("decimal(38,0)") * (col("__df") - 1)),
          lit(0).cast("decimal(38,0)")))
        .head.getDecimal(0)
      // df·(df−1) is even, so /2 back to pairs is exact
      val vol = twice.divide(java.math.BigDecimal.valueOf(2))
      if (vol.compareTo(new java.math.BigDecimal(candidateBudget)) > 0)
        throw new IllegalStateException(
          s"Dedup shingle co-occurrence: predicted candidate volume " +
            s"$vol exceeds candidateBudget $candidateBudget — this " +
            "corpus's shingle groups are too co-occurring for the " +
            "exact inverted-index join. Lower maxDf, use the MinHash " +
            "LSH path (minhashLshPairs), or raise candidateBudget " +
            "explicitly if the volume is intended.")
    }
    // shuffle_hash: both sides share the shingle partitioning, and the
    // build side is the bounded df relation — a sort-merge here would
    // re-sort the full string-keyed shingle stream for nothing
    val pairs = sh.join(dfc.select(col("shingle")).hint("shuffle_hash"),
        Seq("shingle"))
      .groupBy(col("shingle"))
      .agg(sort_array(collect_list(col("doc"))).as("__ds"))
      .select(explode(pairsOf(col("__ds"))).as("__p"))
      .select(col("__p.i").as("i"), col("__p.j").as("j"))
      .groupBy(col("i"), col("j"))
      .agg(count(lit(1)).as("c"))
    pairs
      .join(sizes.select(col("doc").as("i"), col("__sz").as("szi")), Seq("i"))
      .join(sizes.select(col("doc").as("j"), col("__sz").as("szj")), Seq("j"))
      .select(col("i"), col("j"), col("szi"), col("szj"), col("c"))
  }

  /** MinHash permutation parameters: fixed seed so signatures (and the
    * catalog query output) are deterministic across runs and executors.
    * Hash family h_i(x) = (a_i·x + b_i) mod p over x = shingle hash mod
    * p, with p = 2^31−1 (Mersenne prime); a_i·x < 2^62 stays in a long.
    */
  private val MinhashP = 2147483647L
  private[graft] def minhashParams(numHashes: Int): Seq[(Long, Long)] = {
    val rnd = new scala.util.Random(42)
    Seq.fill(numHashes)((1L + rnd.nextInt((MinhashP - 1).toInt).toLong,
      rnd.nextInt(MinhashP.toInt).toLong))
  }

  /** Sketch-accuracy certification (d17): for every exact near-dup
    * pair, the MinHash ESTIMATE a K-hash signature would have produced
    * alongside the exact Jaccard — the calibration table that turns
    * "MinHash approximates Jaccard" from folklore into a measured,
    * per-pair integer error (`err_ppm`). This is the audit a pipeline
    * runs before trusting d3's LSH path on a new corpus: if the K=16
    * estimator's error distribution is wrong HERE, the banding math
    * (which assumes E[matches] = K·j) is wrong everywhere.
    *
    * Everything is engine-portable integer arithmetic: shingle
    * identity = first 8 md5 hex chars mod p (p = 2³¹−1), the hash
    * family is the fixed-seed (a_k·x + b_k) mod p of [[minhashParams]]
    * with the constants baked into the oracle SQL as literals, and
    * estimate/error are ppm via integral `div` — DuckDB replays the
    * signatures, the pair set, and every error bit-exactly.
    *
    * Shape: the d2 inverted-index core yields the O(pairs) relation;
    * signatures are ONE groupBy(doc) folding K min-aggregates over the
    * shingle relation (no per-hash explode — the K mins are K agg
    * columns in one pass); each pair side equi-joins the O(docs)
    * signature relation once, and the match count is a codegen'd
    * projection over the 2K signature columns.
    */
  def minhashCalibration(df: DataFrame, idCol: String, textCol: String,
                         n: Int = 3, numHashes: Int = 16,
                         thresholdPpm: Long = 800000L,
                         maxDf: Int = 100): DataFrame = {
    val p = MinhashP
    val pairs = shingleCoOccurrence(df, idCol, textCol, n, maxDf)
      .select(col("i"), col("j"),
        expr("c * 1000000 div (szi + szj - c)").as("jaccard_ppm"))
      .filter(col("jaccard_ppm") >= thresholdPpm)
    val params = minhashParams(numHashes)
    val mins = params.zipWithIndex.map { case ((a, b), k) =>
      min((col("__x") * a + b) % p).as(s"__m$k")
    }
    val sig = shingles(df, idCol, textCol, n)
      .withColumn("__x",
        conv(substring(md5(col("shingle")), 1, 8), 16, 10).cast("long") % p)
      .groupBy(col("doc"))
      .agg(mins.head, mins.tail: _*)
    def side(tag: String, idOut: String) = sig.select(
      col("doc").as(idOut) +:
        params.indices.map(k => col(s"__m$k").as(s"__$tag$k")): _*)
    val est = params.indices.map(k =>
      when(col(s"__a$k") === col(s"__b$k"), 1L).otherwise(0L)).reduce(_ + _)
    pairs
      .join(side("a", "i"), Seq("i"))
      .join(side("b", "j"), Seq("j"))
      .withColumn("est_matches", est)
      .select(col("i"), col("j"), col("jaccard_ppm"), col("est_matches"),
        expr(s"est_matches * 1000000 div $numHashes").as("est_ppm"))
      .withColumn("err_ppm", abs(col("jaccard_ppm") - col("est_ppm")))
  }

  /** MinHash signatures: one row per doc with a `numHashes`-element
    * signature array. One explode + one groupBy(doc) folding into the
    * native `minhash_sig` imperative aggregate — shuffle O(docs).
    */
  /** Per-occurrence (doc, h) rows with h = variadic xxhash64 over the
    * shingle's n words — no concat_ws string is ever built. The 64-bit
    * hash IS the shingle identity for every minhash-side computation
    * (signatures, document frequency, candidate verification): two
    * distinct shingles colliding would need a 64-bit birthday hit
    * (~1e-7 corpus-wide at 1e6 distinct shingles).
    */
  private def hashedShingles(df: DataFrame, idCol: String, textCol: String,
                             n: Int): DataFrame =
    tokenized(df, idCol, textCol)
      .select(col("doc"), explode(hashedShingleArr("ws", n)).as("h"))

  def minhashSignatures(df: DataFrame, idCol: String, textCol: String,
                        n: Int = 3, numHashes: Int = 128): DataFrame = {
    // Two deviations from the d2 shingle path, both safe because min()
    // is multiplicity-insensitive and any deterministic shingle hash
    // serves a minhash signature:
    //  - no distinct(): skips a full shuffle; the groupBy's map-side
    //    combine reduces to one 129-long row per doc per partition;
    //  - no shingle STRING (hashedShingles above).
    // raw xxhash64 values feed the aggregate directly: MinHashSig
    // reduces every input mod P internally (((raw % P) + P) % P), so a
    // pre-projection pmod here would be a redundant expression eval +
    // UnsafeRow write per shingle occurrence on the hot loop — the
    // streaming withMinhashSignature path already feeds raw hashes
    val sh = hashedShingles(df, idCol, textCol, n)
    // One native imperative aggregate (graft.functions.MinHashSig,
    // same seed-42 family as minhashParams) computes all numHashes
    // mins in a primitive-array buffer per group; the equivalent
    // numHashes-column `min((h*a+b)%p)` formulation pays an expression
    // eval plus an UnsafeRow slot write per hash per row — the hot
    // loop of the whole query. Bit-equal output (MinHashSigSpec).
    sh.groupBy(col("doc"))
      .agg(call_function("minhash_sig", col("h"), lit(numHashes)).as("sig"))
  }

  /** MinHash+LSH near-dup pairs: signatures banded into `bands` slices
    * of `rows` hashes; docs colliding on any (band, band-hash) bucket
    * are candidates; candidates are then verified with EXACT n-gram
    * Jaccard, so the output contains no LSH false positives. Detection
    * probability for a pair at similarity s is 1−(1−s^rows)^bands —
    * 16×8 puts the S-curve threshold at ≈0.71 with >0.9999 recall above
    * s=0.95. The candidate join keys on the bucket, never cross-joins.
    */
  def minhashLshPairs(df: DataFrame, idCol: String, textCol: String,
                      n: Int = 3, bands: Int = 16, rows: Int = 8,
                      threshold: Double = 0.8, maxDf: Int = 100): DataFrame = {
    // The signature relation feeds BOTH sides of the bucket self-join,
    // and the candidate list is consumed twice (doc restriction + final
    // re-rank join): without materialization Spark recomputes the whole
    // shingle+128-aggregate pipeline once per use. Persist the two tiny
    // frames — (docs × 129 longs) and the candidate pairs — exactly
    // what a 100 TB run would checkpoint before re-ranking. Measured
    // 3.8s → 2.6s on the sf0.1 corpus.
    val sigs = Lineage.shared(minhashSignatures(df, idCol, textCol, n, bands * rows))
    val buckets = bandRows(sigs, bands, rows)
    val cand = Lineage.shared(buckets.as("x")
      .join(buckets.as("y"),
        col("x.band") === col("y.band") && col("x.bh") === col("y.bh") &&
          col("x.doc") < col("y.doc"))
      .select(col("x.doc").as("i"), col("y.doc").as("j"))
      .distinct())
    verifyExactJaccard(df, idCol, textCol, cand, n, threshold, maxDf)
  }

  /** (doc, band, bh) rows from a (doc, sig) signature relation: the
    * signature sliced into `bands` bands of `rows` hashes, each band
    * keyed by the xxhash64 of its slice. The LSH bucket identity shared
    * by [[minhashLshPairs]] and the at-rest [[DedupIndex]] — band
    * hashes must agree bit-for-bit for an index built yesterday to
    * match a batch probed today.
    */
  private[graft] def bandRows(sigs: DataFrame, bands: Int, rows: Int,
                              carry: Seq[String] = Nil): DataFrame = {
    val bandCols = (0 until bands).map { b =>
      struct(lit(b).as("band"), xxhash64(slice(col("sig"), b * rows + 1, rows)).as("bh"))
    }
    val keep = carry.map(col)
    sigs.select(col("doc") +: keep :+ explode(array(bandCols: _*)).as("bk"): _*)
      .select(col("doc") +: keep :+ col("bk.band").as("band") :+
        col("bk.bh").as("bh"): _*)
  }

  /** Adds `sigCol` = the MinHash signature computed per ROW via the
    * native `minhash_row` expression — no explode, no groupBy, so it
    * runs inside a stateless STREAMING projection (the batch
    * [[minhashSignatures]] aggregate can't). Bit-equal to the batch
    * signature for the same text (same shingle hashing, same seed-42
    * family; min is multiplicity-insensitive — MinHashRowSpec asserts
    * equality over the documents table). Docs shorter than `n` words
    * get a NULL signature (the batch path emits no row for them);
    * callers filter those out before banding — a null sig would band
    * to a constant bucket and collide with every other null.
    */
  private[graft] def withMinhashSignature(df: DataFrame, textCol: String,
                                          sigCol: String, n: Int = 3,
                                          numHashes: Int = 128): DataFrame = {
    // same wordsOf/hashedShingleArr trees as the batch path — the
    // bit-equality contract rides on sharing them, not re-stating them
    df.withColumn("__ws", wordsOf(textCol))
      .withColumn("__sh", hashedShingleArr("__ws", n))
      .withColumn(sigCol, call_function("minhash_row", col("__sh"), lit(numHashes)))
      .drop("__ws", "__sh")
  }

  /** Exact n-gram-Jaccard verification of a candidate pair set against
    * the text relation `df` (which must cover every candidate doc):
    * returns the (i, j, jaccard) pairs clearing `threshold`.
    * Caller persists `cand` — it is consumed twice (doc restriction +
    * final re-rank join).
    */
  private[operators] def verifyExactJaccard(df: DataFrame, idCol: String,
                                            textCol: String, cand: DataFrame,
                                            n: Int, threshold: Double,
                                            maxDf: Int): DataFrame =
    // The hot-shingle document-frequency pass is the verification's one
    // full-corpus scan (its output, shingles with df > maxDf, is small
    // on natural corpora).
    verifyExactJaccardWith(df, idCol, textCol, cand, n, threshold,
      hot = hotShingles(df, idCol, textCol, n, maxDf))

  /** Shingle hashes whose document frequency exceeds `maxDf` — the
    * stop-shingle set the Jaccard verification excludes from
    * intersection counts.
    */
  private[operators] def hotShingles(df: DataFrame, idCol: String,
                                     textCol: String, n: Int,
                                     maxDf: Int): DataFrame =
    hashedShingles(df, idCol, textCol, n)
      .groupBy(col("h")).agg(count_distinct(col("doc")).as("df"))
      .filter(col("df") > maxDf).select(col("h"))

  /** Exact-Jaccard verification with a caller-supplied stop-shingle set
    * `hot` (one column `h`): lets [[DedupIndex]] substitute the list it
    * froze at build time, so a probe never re-scans the corpus texts.
    */
  private[operators] def verifyExactJaccardWith(df: DataFrame, idCol: String,
                                                textCol: String, cand: DataFrame,
                                                n: Int, threshold: Double,
                                                hot: DataFrame): DataFrame = {
    // Exact verification of the candidate set only — and replicating
    // ngramJaccardPairs' semantics EXACTLY, including the maxDf
    // stop-shingle rule (hot shingles excluded from the intersection
    // count but not the set sizes). That makes d3's output equal d2's
    // BY CONSTRUCTION wherever LSH recall is total, so they can share
    // one oracle — not merely on corpora whose candidate pairs happen
    // to avoid hot shingles. Every step runs in the hashed-shingle
    // domain (no string shingle is ever built anywhere in d3, modulo
    // the 2^-64 collision noted on hashedShingles): the shingle
    // explode runs over the (tiny) candidate subset.
    val candDocs = cand
      .select(explode(array(col("i"), col("j"))).as("cand_doc")).distinct()
    val candSh = Lineage.shared(hashedShingles(
        df.join(candDocs, col(idCol) === col("cand_doc"), "left_semi"),
        idCol, textCol, n)
      .distinct())
    val sizes = candSh.groupBy(col("doc")).agg(count(lit(1)).as("sz"))
    // no broadcast HINT: the hot set is tiny on natural corpora (AQE
    // broadcasts it by itself) but its size is corpus-dependent and a
    // forced broadcast would be the unbounded-collect failure mode at
    // the 100 TB tail; a shuffle anti-join degrades gracefully instead
    val rare = candSh.join(hot, Seq("h"), "left_anti")
    cand
      .join(rare.select(col("doc").as("i"), col("h")), Seq("i"))
      .join(rare.select(col("doc").as("j"), col("h")), Seq("j", "h"))
      .groupBy(col("i"), col("j")).agg(count(lit(1)).as("c"))
      .join(sizes.select(col("doc").as("i"), col("sz").as("szi")), Seq("i"))
      .join(sizes.select(col("doc").as("j"), col("sz").as("szj")), Seq("j"))
      .select(col("i"), col("j"),
        round(col("c").cast("double") / (col("szi") + col("szj") - col("c")), 6)
          .as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Per-token-occurrence (doc, h) rows for the simhash paths, with a
    * caller-chosen 64-bit token hash.
    */
  private def tokenHashes(df: DataFrame, idCol: String, textCol: String,
                          hash: Column => Column): DataFrame =
    df.select(col(idCol).as("doc"), explode(wordsOf(textCol)).as("w"))
      .withColumn("h", hash(col("w")))

  /** Engine-portable 64-bit token hash: the first 16 hex chars of
    * md5(token), assembled from two 32-bit halves (`conv` yields a
    * decimal STRING, and a full 16-hex-char value can exceed
    * Long.MaxValue — the string-to-long cast would null out; 8-char
    * halves always fit). Any deterministic hash serves SimHash; md5 is
    * the one every engine computes identically, which makes the
    * fingerprints — and therefore the full Hamming-pair answer —
    * reproducible outside Spark (the d4 DuckDB oracle recomputes them
    * from scratch), unlike Spark-specific xxhash64.
    */
  private[graft] def portableTokenHash(w: Column): Column =
    portableTokenHashFromMd5(md5(w))

  private def portableTokenHashFromMd5(m: Column): Column = {
    val hi = conv(substring(m, 1, 8), 16, 10).cast("long")
    val lo = conv(substring(m, 9, 8), 16, 10).cast("long")
    shiftleft(hi, 32).bitwiseOR(lo)
  }

  /** 64-bit SimHash fingerprint per doc: per token-occurrence hash, each
    * bit position votes +1/−1, fingerprint bit = sign of the vote sum —
    * folded by the native `simhash_fp` imperative aggregate
    * (graft.functions.SimHashFp; bit-equal to the 64-sum-column
    * formulation and the streaming per-row fold, spec-asserted).
    * Token hash = xxhash64, the cheap production default.
    */
  def simhashFingerprints(df: DataFrame, idCol: String, textCol: String): DataFrame =
    tokenHashes(df, idCol, textCol, w => xxhash64(w))
      .groupBy(col("doc"))
      .agg(call_function("simhash_fp", col("h")).as("fp"))

  /** simhashFingerprints with the md5-derived portable token hash —
    * identical SimHash semantics, cross-engine-reproducible bits (the
    * falsifiable form the d4 correctness row runs; md5 costs more per
    * token than xxhash64, so the default path keeps xxhash64). The md5
    * digest is projected ONCE and both 32-bit halves parse from it —
    * handing `portableTokenHash` a raw token column would digest twice.
    */
  def simhashFingerprintsPortable(df: DataFrame, idCol: String,
                                  textCol: String): DataFrame =
    tokenHashes(df, idCol, textCol, w => md5(w))
      .withColumn("h", portableTokenHashFromMd5(col("h")))
      .groupBy(col("doc"))
      .agg(call_function("simhash_fp", col("h")).as("fp"))

  /** SimHash near-dup pairs with Hamming distance ≤ maxHamming over a
    * (doc, fp) fingerprint relation. Fingerprints are cut into 4 16-bit
    * blocks; by pigeonhole any pair within Hamming ≤ 3 shares at least
    * one block verbatim, so a join on (block index, block value) finds
    * all of them — then the exact popcount(xor) check removes
    * block-collision false positives. `hamming` is BIGINT for oracle
    * dtype parity. The block relation feeds BOTH sides of the self-join,
    * so it is [[Lineage.shared]] (PlanSpec guards the cache scan in d4's
    * plan).
    */
  def simhashBlockPairs(fps: DataFrame, maxHamming: Int = 3): DataFrame = {
    require(maxHamming < 4, "4-block banding only guarantees Hamming <= 3")
    val blocks = Lineage.shared(fps.select(col("doc"), col("fp"),
      explode(array((0 until 4).map(b =>
        struct(lit(b).as("blk"),
          shiftright(col("fp"), b * 16).bitwiseAND(0xFFFFL).as("v"))): _*)).as("bk"))
      .select(col("doc"), col("fp"), col("bk.blk").as("blk"), col("bk.v").as("v")))
    blocks.as("x")
      .join(blocks.as("y"),
        col("x.blk") === col("y.blk") && col("x.v") === col("y.v") &&
          col("x.doc") < col("y.doc"))
      .select(col("x.doc").as("i"), col("y.doc").as("j"),
        bit_count(col("x.fp").bitwiseXOR(col("y.fp"))).cast("long").as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** SimHash near-dup pairs from raw text with the portable md5-derived
    * token hash — the d4 correctness row's form: DuckDB recomputes the
    * identical fingerprints and pair set, so a recall regression flips
    * the driver's hash compare red.
    */
  def simhashPairsPortable(df: DataFrame, idCol: String, textCol: String,
                           maxHamming: Int = 3): DataFrame =
    simhashBlockPairs(simhashFingerprintsPortable(df, idCol, textCol), maxHamming)

  /** Collapse every near-dup cluster to its best exemplar. Greedy
    * pair-pruning ([[pruneNearDuplicates]]) and min-label clustering
    * ([[connectedComponents]]) both keep an ARBITRARY survivor (lowest
    * id); a curation pipeline wants the best one — highest quality
    * score, longest, most recent crawl — which this selects per
    * transitive cluster. `scores` is any (doc, score) relation
    * ([[TextAnalysis.qualityScore]] in the d10 row); exemplar = argmax
    * by (score desc, doc asc), so ties are deterministic. Docs in no
    * pair are their own singleton cluster and keep themselves.
    *
    * Scale shape: the cluster labels come from the checkpointed
    * min-label loop; everything after is one left join (corpus ⋈
    * labels — labels bounded by clustered docs, typically a small
    * fraction), one join to scores on the doc key, and a row_number
    * window partitioned by cluster — near-dup clusters are tiny
    * cliques/chains, so every window partition is a handful of rows.
    * Output is one row per INPUT doc (doc, cluster, keep_doc, kept),
    * so the "drop non-exemplars" step is `filter(kept = 1)` and the
    * audit trail ("which doc replaced mine") is the same relation.
    */
  def clusterExemplars(df: DataFrame, pairs: DataFrame, scores: DataFrame,
                       idCol: String = "doc_id"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val comp = connectedComponents(pairs)
    val all = df.select(col(idCol).as("doc"))
      .join(comp, Seq("doc"), "left")
      .withColumn("cluster", coalesce(col("cluster"), col("doc")))
    // LEFT join, nulls ranked last: an inner join here would silently
    // DROP any doc the scores relation does not cover (violating the
    // one-row-per-input-doc contract — a singleton unscored cluster
    // would vanish from the output) and could crown a lower-quality
    // doc when a cluster's best is unscored; with nulls-last ordering
    // an unscored doc is simply never preferred over a scored one
    val keep = all.join(scores, Seq("doc"), "left")
      .withColumn("__rn", row_number().over(
        Window.partitionBy(col("cluster"))
          .orderBy(col("score").desc_nulls_last, col("doc").asc)))
      .filter(col("__rn") === 1)
      .select(col("cluster"), col("doc").as("keep_doc"))
    all.join(keep, Seq("cluster"))
      .select(col("doc"), col("cluster"), col("keep_doc"),
        (col("doc") === col("keep_doc")).cast("int").as("kept"))
  }

  /** Duplicated-substring coverage — the sequence-level dedup signal of
    * Lee et al., "Deduplicating Training Data Makes Language Models
    * Better" (the d7 decontamination row's within-corpus sibling): for
    * each document, how many `n`-gram positions carry a gram that also
    * appears in ANOTHER document, and how many token positions those
    * duplicated grams cover. A pipeline clips or drops the covered
    * spans; `n_covered / n_tokens` is the per-doc "verbatim overlap
    * with the rest of the corpus" fraction. Cross-doc only — within-doc
    * repetition is t6's signal ([[TextAnalysis.repetitionStats]]).
    *
    * Scale shape: grams live in the hashed domain (one xxhash64 per
    * position, no gram strings — same rationale as the MinHash path;
    * the DuckDB oracle replays the string domain, identical absent a
    * 64-bit collision). Duplication is min(doc) ≠ max(doc) per gram —
    * two scalar aggregates, no countDistinct expansion. The dup-gram
    * set filters occurrences via LEFT SEMI join on the gram hash — a
    * key-equality semi join whose output is bounded by the occurrence
    * side, so a corpus-wide hot gram cannot generate a d² pair blowup
    * (there is deliberately NO pair enumeration anywhere). Coverage is
    * an explode of at most n positions per surviving occurrence,
    * deduplicated by (doc, position) — interval union as a distinct,
    * the shuffle-native form.
    */
  def dupNgramCoverage(df: DataFrame, idCol: String = "doc_id",
                       textCol: String = "text", n: Int = 8): DataFrame = {
    val toks = Lineage.shared(tokenized(df, idCol, textCol))
    val occ = Lineage.shared(toks
      .select(col("doc"), explode(transform(shingleIdx(n), i =>
        struct(i.as("i"),
          xxhash64((0 until n).map(o => element_at(col("ws"), i + o)): _*)
            .as("h")))).as("g"))
      .select(col("doc"), col("g.i").as("i"), col("g.h").as("h")))
    val dup = occ.groupBy("h")
      .agg(min(col("doc")).as("d0"), max(col("doc")).as("d1"))
      .filter(col("d0") =!= col("d1")).select("h")
    val dupOcc = Lineage.shared(occ.join(dup, Seq("h"), "left_semi"))
    val perDoc = dupOcc.groupBy("doc").agg(count(lit(1)).as("n_dup_ngrams"))
    val covered = dupOcc
      .select(col("doc"), explode(sequence(col("i"), col("i") + (n - 1))).as("p"))
      .distinct()
      .groupBy("doc").agg(count(lit(1)).as("n_covered"))
    toks.select(col("doc"), size(col("ws")).cast("long").as("n_tokens"))
      .join(perDoc, Seq("doc"), "left")
      .join(covered, Seq("doc"), "left")
      .select(col("doc"), col("n_tokens"),
        coalesce(col("n_dup_ngrams"), lit(0L)).as("n_dup_ngrams"),
        coalesce(col("n_covered"), lit(0L)).as("n_covered"))
  }

  /** Distinct hashed n-gram set per doc — (doc, h) rows with h =
    * xxhash64 over the gram's word positions, the hashed-domain twin
    * of [[shingles]] (same rationale as [[dupNgramCoverage]]: no gram
    * strings shuffled; identical answers absent a 64-bit collision).
    */
  private[graft] def hashedShingleSet(df: DataFrame, idCol: String,
                                      textCol: String, n: Int): DataFrame =
    tokenized(df, idCol, textCol)
      .select(col("doc"), explode(transform(shingleIdx(n), i =>
        xxhash64((0 until n).map(o => element_at(col("ws"), i + o)): _*)))
        .as("h"))
      .distinct()

  /** Per-document n-gram NOVELTY — [[dupNgramCoverage]]'s complement
    * and the dataset-ordering signal curriculum/selection pipelines
    * rank on: of a doc's DISTINCT n-gram shingles, how many occur for
    * the FIRST time in this doc (first = smallest doc id over the
    * corpus — the deterministic stand-in for ingestion order). A doc
    * that introduces nothing (novelty 0) is boilerplate even when no
    * single other doc is a near-dup of it; d2/d13 cannot see that
    * because the overlap is spread across MANY owners.
    *
    * Scale shape: one shingle explode → first-owner aggregate (min per
    * gram) → one equi-join back on the gram key (both sides already
    * hash-partitioned on it) → per-doc count. No pair enumeration, no
    * window; the ppm is exact integral `div`. Short docs (< n words)
    * emit an explicit zero row via the left join, not an absent row.
    */
  def ngramNovelty(df: DataFrame, idCol: String = "doc_id",
                   textCol: String = "text", n: Int = 8): DataFrame = {
    // shared: feeds the owner aggregate AND the join-back
    val sh = Lineage.shared(shingles(df, idCol, textCol, n))
    val owner = sh.groupBy(col("shingle")).agg(min(col("doc")).as("owner"))
    val per = sh.join(owner, Seq("shingle"))
      .groupBy(col("doc"))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("owner") === col("doc"), 1L).otherwise(0L))
          .as("n_novel"))
    df.select(col(idCol).as("doc"))
      .join(per, Seq("doc"), "left")
      .select(col("doc"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("n_novel"), lit(0L)).as("n_novel"))
      .withColumn("novelty_ppm",
        when(col("n_grams") > 0,
          expr("n_novel * 1000000 div n_grams")).otherwise(0L))
  }
}
