package graft.queries

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.core.{CatalogQuery, QueryModule, Tables}
import graft.operators.{Dedup, DedupIndex, TextAnalysis}

/** Catalog entries for the dedup operator family over `documents`.
  * ALL five rows are hash-checked against independent DuckDB replays:
  * d1/d2/d5 are exactly replayable SQL; d3 (LSH candidates + exact
  * verification) provably equals d2's exact answer on this corpus
  * (DedupSpec), so it carries the same oracle; d4 runs the portable
  * md5-hash SimHash whose fingerprints DuckDB recomputes from scratch.
  */
object DedupQueries extends QueryModule {

  private def docs(s: SparkSession, dir: String) = Tables(s, dir).documents

  private val exact = CatalogQuery(
    "d1_exact_dedup",
    (s, dir) => Dedup.exact(docs(s, dir), "doc_id", "text").orderBy(col("fp")),
    Some("""SELECT md5(text) AS fp, min(doc_id) AS keep_id,
           | count(*) AS n_copies
           |FROM documents GROUP BY md5(text) ORDER BY fp""".stripMargin),
    doc = "Exact content-hash dedup; canonical doc = min id per fingerprint")

  /** Exact word-3-gram Jaccard pairs in DuckDB — the oracle for BOTH d2
    * (which computes exactly this) and d3 (whose LSH candidates are
    * exact-verified, and whose 16×8 banding has >0.9999 recall at the
    * planted pairs' similarity ≥0.95 — DedupSpec asserts the two
    * results are identical rows on this data).
    */
  private val exactJaccardOracle =
    """WITH toks AS (SELECT doc_id, list_filter(string_split_regex(text,'\s+'), w -> w <> '') AS ws
           |              FROM documents),
           |sh AS (SELECT DISTINCT doc_id, ws[i]||' '||ws[i+1]||' '||ws[i+2] AS s
           |       FROM toks, unnest(range(1, len(ws)-1)) AS t(i)),
           |rare AS (SELECT s FROM sh GROUP BY s HAVING count(*) <= 100),
           |shr AS (SELECT doc_id, s FROM sh WHERE s IN (SELECT s FROM rare)),
           |sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
           |common AS (SELECT a.doc_id i, b.doc_id j, count(*) c
           |           FROM shr a JOIN shr b ON a.s = b.s AND a.doc_id < b.doc_id
           |           GROUP BY 1, 2)
           |SELECT i, j,
           |       round(c*1.0/(sa.sz + sb.sz - c), 6) AS jaccard
           |FROM common
           |JOIN sizes sa ON sa.doc_id = i
           |JOIN sizes sb ON sb.doc_id = j
           |WHERE c*1.0/(sa.sz + sb.sz - c) >= 0.8
           |ORDER BY i, j""".stripMargin

  /** d17: the d2↔d3 bridge made measurable — per exact near-dup pair,
    * the K=16 MinHash estimate NEXT TO the exact Jaccard, as integers
    * (ppm). The hash family is the engine's fixed-seed (a·x + b) mod p
    * over the first-8-md5-hex shingle identity, with the 16 (a, b)
    * constants baked into the oracle text as literals — DuckDB
    * re-derives the signatures, the pair set, and every per-pair error
    * from raw documents. If this table's error distribution drifts,
    * d3's banding math is wrong before any recall test would say so.
    */
  private val calibration = CatalogQuery(
    "d17_minhash_calibration",
    (s, dir) =>
      Dedup.minhashCalibration(docs(s, dir), "doc_id", "text",
          n = 3, numHashes = 16, thresholdPpm = 800000L, maxDf = 100)
        .orderBy(col("i"), col("j")),
    Some {
      val p = 2147483647L
      val params = Dedup.minhashParams(16)
      val sigCols = params.zipWithIndex.map { case ((a, b), k) =>
        s"min((x*$a + $b) % $p) AS m$k"
      }.mkString(",\n       ")
      val matches = params.indices.map(k =>
        s"(CASE WHEN a.m$k = b.m$k THEN 1 ELSE 0 END)").mkString(" + ")
      s"""WITH toks AS (SELECT doc_id, list_filter(string_split_regex(text,'\\s+'), w -> w <> '') AS ws
         |              FROM documents),
         |sh AS (SELECT DISTINCT doc_id, ws[i]||' '||ws[i+1]||' '||ws[i+2] AS s
         |       FROM toks, unnest(range(1, len(ws)-1)) AS t(i)),
         |rare AS (SELECT s FROM sh GROUP BY s HAVING count(*) <= 100),
         |shr AS (SELECT doc_id, s FROM sh WHERE s IN (SELECT s FROM rare)),
         |sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
         |common AS (SELECT a.doc_id i, b.doc_id j, count(*) c
         |           FROM shr a JOIN shr b ON a.s = b.s AND a.doc_id < b.doc_id
         |           GROUP BY 1, 2),
         |pairs AS (SELECT i, j, c*1000000 // (sa.sz + sb.sz - c) AS jaccard_ppm
         |          FROM common JOIN sizes sa ON sa.doc_id = i
         |                      JOIN sizes sb ON sb.doc_id = j
         |          WHERE c*1000000 // (sa.sz + sb.sz - c) >= 800000),
         |hx AS (SELECT doc_id,
         |         CAST('0x'||substring(md5(s),1,8) AS BIGINT) % $p AS x
         |       FROM sh),
         |sig AS (SELECT doc_id,
         |       $sigCols
         |       FROM hx GROUP BY doc_id)
         |SELECT p.i, p.j, CAST(p.jaccard_ppm AS BIGINT) AS jaccard_ppm,
         |  CAST($matches AS BIGINT) AS est_matches,
         |  CAST(($matches) * 1000000 // 16 AS BIGINT) AS est_ppm,
         |  CAST(abs(p.jaccard_ppm - ($matches) * 1000000 // 16) AS BIGINT)
         |    AS err_ppm
         |FROM pairs p JOIN sig a ON a.doc_id = p.i JOIN sig b ON b.doc_id = p.j
         |ORDER BY i, j""".stripMargin
    },
    doc = "MinHash-vs-exact-Jaccard calibration per near-dup pair " +
      "(K=16 fixed-seed (a·x+b) mod p signatures over md5 shingle " +
      "identities, exact integral ppm error): d2's inverted-index " +
      "pair core + ONE K-min-column aggregate over the shingle " +
      "relation + two O(docs) signature equi-joins; oracle re-derives " +
      "signatures AND errors from raw documents with the constants " +
      "as literals")

  private val ngram = CatalogQuery(
    "d2_ngram_jaccard_dedup",
    (s, dir) =>
      Dedup.ngramJaccardPairs(docs(s, dir), "doc_id", "text",
          n = 3, threshold = 0.8, maxDf = 100)
        .orderBy(col("i"), col("j")),
    Some(exactJaccardOracle),
    doc = "Near-dup pairs by exact word-3-gram Jaccard >= 0.8 via " +
      "shingle inverted-index join (no cross join)")

  /** d13 replays d2's inverted-index core with the asymmetric metric:
    * containment |A∩B|/min(|A|,|B|), which flags subset duplication
    * (a short doc quoted whole inside a long one) that Jaccard
    * structurally cannot. Oracle = the same DuckDB shingle replay with
    * `least(sa.sz, sb.sz)` in the denominator; at threshold 0.8 the
    * answer is a strict superset of d2's 25 pairs, so a silent recall
    * loss in the shared core flips BOTH rows red.
    */
  private val containment = CatalogQuery(
    "d13_containment_dedup",
    (s, dir) =>
      Dedup.containmentPairs(docs(s, dir), "doc_id", "text",
          n = 3, threshold = 0.8, maxDf = 100)
        .orderBy(col("i"), col("j")),
    Some("""WITH toks AS (SELECT doc_id, list_filter(string_split_regex(text,'\s+'), w -> w <> '') AS ws
           |              FROM documents),
           |sh AS (SELECT DISTINCT doc_id, ws[i]||' '||ws[i+1]||' '||ws[i+2] AS s
           |       FROM toks, unnest(range(1, len(ws)-1)) AS t(i)),
           |rare AS (SELECT s FROM sh GROUP BY s HAVING count(*) <= 100),
           |shr AS (SELECT doc_id, s FROM sh WHERE s IN (SELECT s FROM rare)),
           |sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
           |common AS (SELECT a.doc_id i, b.doc_id j, count(*) c
           |           FROM shr a JOIN shr b ON a.s = b.s AND a.doc_id < b.doc_id
           |           GROUP BY 1, 2)
           |SELECT i, j,
           |       round(c*1.0/least(sa.sz, sb.sz), 6) AS containment
           |FROM common
           |JOIN sizes sa ON sa.doc_id = i
           |JOIN sizes sb ON sb.doc_id = j
           |WHERE c*1.0/least(sa.sz, sb.sz) >= 0.8
           |ORDER BY i, j""".stripMargin),
    doc = "Subset-duplication pairs by word-3-gram containment " +
      "|A∩B|/min(|A|,|B|) >= 0.8 over the d2 inverted-index core")

  /** d14: first-occurrence novelty per doc — d9's complement (what
    * fraction of a doc's distinct 8-grams debut HERE), the signal a
    * selection/curriculum pass ranks on. No pairs anywhere: gram →
    * min-owner aggregate + one join back.
    */
  private val novelty = CatalogQuery(
    "d14_ngram_novelty",
    (s, dir) =>
      Dedup.ngramNovelty(docs(s, dir), "doc_id", "text", n = 8)
        .orderBy(col("doc")),
    Some("""WITH toks AS (SELECT doc_id, list_filter(string_split_regex(text,'\s+'), w -> w <> '') AS ws
           |              FROM documents),
           |sh AS (SELECT DISTINCT doc_id,
           |         ws[i]||' '||ws[i+1]||' '||ws[i+2]||' '||ws[i+3]||' '||
           |         ws[i+4]||' '||ws[i+5]||' '||ws[i+6]||' '||ws[i+7] AS s
           |       FROM toks, unnest(range(1, len(ws)-6)) AS t(i)),
           |own AS (SELECT s, min(doc_id) AS owner FROM sh GROUP BY s),
           |per AS (SELECT sh.doc_id, CAST(count(*) AS BIGINT) AS n_grams,
           |          CAST(sum(CASE WHEN own.owner = sh.doc_id THEN 1 ELSE 0 END)
           |               AS BIGINT) AS n_novel
           |        FROM sh JOIN own ON sh.s = own.s GROUP BY sh.doc_id)
           |SELECT d.doc_id AS doc,
           |  CAST(coalesce(per.n_grams, 0) AS BIGINT) AS n_grams,
           |  CAST(coalesce(per.n_novel, 0) AS BIGINT) AS n_novel,
           |  CAST(CASE WHEN coalesce(per.n_grams, 0) > 0
           |            THEN per.n_novel * 1000000 // per.n_grams
           |            ELSE 0 END AS BIGINT) AS novelty_ppm
           |FROM documents d LEFT JOIN per ON per.doc_id = d.doc_id
           |ORDER BY doc""".stripMargin),
    doc = "First-occurrence 8-gram novelty per document in exact ppm " +
      "(first owner = min doc id): gram min-owner aggregate + one " +
      "gram-keyed join back — no pair enumeration, no window")

  /** d15: d14 run INCREMENTALLY — the id<250 corpus frozen into an
    * at-rest gram→owner index, the id>=250 batch probed against it.
    * The contract is exact: index ids precede batch ids, so the
    * incremental answer EQUALS d14's whole-corpus answer restricted
    * to the batch, and the oracle is d14's replay with that WHERE
    * clause (hashed vs string gram domain — identical absent a
    * 64-bit collision, d9's documented caveat).
    */
  private val noveltyIncremental = CatalogQuery(
    "d15_incremental_novelty",
    (s, dir) => {
      val d = docs(s, dir)
      val path = DedupIndex.ensureNovelty(s, dir, "lt250",
        d.filter(col("doc_id") < 250), n = 8)
      DedupIndex.probeNovelty(s, path, d.filter(col("doc_id") >= 250))
        .orderBy(col("doc"))
    },
    Some("""WITH toks AS (SELECT doc_id, list_filter(string_split_regex(text,'\s+'), w -> w <> '') AS ws
           |              FROM documents),
           |sh AS (SELECT DISTINCT doc_id,
           |         ws[i]||' '||ws[i+1]||' '||ws[i+2]||' '||ws[i+3]||' '||
           |         ws[i+4]||' '||ws[i+5]||' '||ws[i+6]||' '||ws[i+7] AS s
           |       FROM toks, unnest(range(1, len(ws)-6)) AS t(i)),
           |own AS (SELECT s, min(doc_id) AS owner FROM sh GROUP BY s),
           |per AS (SELECT sh.doc_id, CAST(count(*) AS BIGINT) AS n_grams,
           |          CAST(sum(CASE WHEN own.owner = sh.doc_id THEN 1 ELSE 0 END)
           |               AS BIGINT) AS n_novel
           |        FROM sh JOIN own ON sh.s = own.s GROUP BY sh.doc_id)
           |SELECT d.doc_id AS doc,
           |  CAST(coalesce(per.n_grams, 0) AS BIGINT) AS n_grams,
           |  CAST(coalesce(per.n_novel, 0) AS BIGINT) AS n_novel,
           |  CAST(CASE WHEN coalesce(per.n_grams, 0) > 0
           |            THEN per.n_novel * 1000000 // per.n_grams
           |            ELSE 0 END AS BIGINT) AS novelty_ppm
           |FROM documents d LEFT JOIN per ON per.doc_id = d.doc_id
           |WHERE d.doc_id >= 250
           |ORDER BY doc""".stripMargin),
    doc = "Incremental novelty: batch probed against the at-rest " +
      "gram-owner index (build-once corpus pass; probe touches only " +
      "the batch grams + index scan); equals d14 restricted to the " +
      "batch by the id-order contract")

  private val minhash = CatalogQuery(
    "d3_minhash_lsh_dedup",
    (s, dir) =>
      Dedup.minhashLshPairs(docs(s, dir), "doc_id", "text",
          n = 3, bands = 16, rows = 8, threshold = 0.8, maxDf = 100)
        .orderBy(col("i"), col("j")),
    // Candidate verification replicates d2's exact-Jaccard semantics
    // (same maxDf stop-shingle rule), so output == d2's answer BY
    // CONSTRUCTION whenever LSH recall is total — which DedupSpec
    // proves on this corpus (planted pairs sit at s >= 0.95, where
    // 16x8 banding misses with p < 1e-4). Shares d2's oracle verbatim.
    Some(exactJaccardOracle),
    doc = "MinHash(128)+LSH(16x8) near-dup candidates, exact-verified")

  /** d4 is fully falsifiable since round 4: the catalog runs the
    * PORTABLE simhash (md5-derived token hash, `Dedup.portableTokenHash`)
    * so the oracle below recomputes the complete fingerprint + Hamming
    * pair answer from scratch in DuckDB — votes per bit position from
    * the same md5 halves, fingerprints kept as two 32-bit halves to
    * sidestep signed-shift differences, pairs by all-pairs popcount
    * (fine at oracle scale; the ENGINE side still finds pairs via the
    * 16-bit block join, never all-pairs). A silent recall collapse now
    * flips this row red instead of hiding behind rows-only.
    */
  private val simhash = CatalogQuery(
    "d4_simhash_dedup",
    (s, dir) =>
      Dedup.simhashPairsPortable(docs(s, dir), "doc_id", "text", maxHamming = 3)
        .orderBy(col("i"), col("j")),
    Some("""WITH toks AS (
           |  SELECT doc_id,
         unnest(list_filter(string_split_regex(text, '\s+'), w -> w <> '')) AS w
           |  FROM documents),
           |th AS (
           |  SELECT doc_id,
           |         CAST('0x'||substring(md5(w),1,8) AS BIGINT) AS hi,
           |         CAST('0x'||substring(md5(w),9,8) AS BIGINT) AS lo
           |  FROM toks WHERE w <> ''),
           |votes AS (
           |  SELECT doc_id, i,
           |         sum(CASE WHEN ((CASE WHEN i < 32 THEN lo ELSE hi END)
           |                        >> (i % 32)) & 1 = 1
           |                  THEN 1 ELSE -1 END) AS v
           |  FROM th, unnest(range(64)) t(i) GROUP BY doc_id, i),
           |fp AS (
           |  SELECT doc_id,
           |         CAST(sum(CASE WHEN v > 0 AND i < 32
           |                       THEN CAST(1 AS BIGINT) << i ELSE 0 END)
           |              AS BIGINT) AS fp_lo,
           |         CAST(sum(CASE WHEN v > 0 AND i >= 32
           |                       THEN CAST(1 AS BIGINT) << (i-32) ELSE 0 END)
           |              AS BIGINT) AS fp_hi
           |  FROM votes GROUP BY doc_id)
           |SELECT a.doc_id AS i, b.doc_id AS j,
           |       CAST(bit_count(xor(a.fp_lo,b.fp_lo))
           |            + bit_count(xor(a.fp_hi,b.fp_hi)) AS BIGINT) AS hamming
           |FROM fp a JOIN fp b ON a.doc_id < b.doc_id
           |WHERE bit_count(xor(a.fp_lo,b.fp_lo))
           |      + bit_count(xor(a.fp_hi,b.fp_hi)) <= 3
           |ORDER BY i, j""".stripMargin),
    doc = "SimHash-64 near-dup pairs, Hamming <= 3 via 16-bit block LSH; " +
      "md5-derived token hash makes the fingerprints engine-portable, so " +
      "the oracle independently recomputes the full pair set")

  /** End-to-end corpus cleaning, the shape a training-data pipeline
    * actually runs: drop exact duplicates, prune near-duplicates (the
    * larger id of every Jaccard>=0.8 pair), report survivors by lang.
    * Fully DuckDB-oracled since both stages are deterministic SQL.
    */
  private val pipeline = CatalogQuery(
    "d5_dedup_pipeline",
    (s, dir) => {
      val d = docs(s, dir)
      val exactKept = Dedup.dropExactDuplicates(d, "doc_id", "text")
      val pairs = Dedup.ngramJaccardPairs(d, "doc_id", "text",
        n = 3, threshold = 0.8, maxDf = 100)
      Dedup.pruneNearDuplicates(exactKept, "doc_id", pairs)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("total_chars"))
        .orderBy(col("lang"))
    },
    Some("""WITH keep_exact AS (
           |  SELECT min(doc_id) AS keep_id FROM documents GROUP BY md5(text)),
           |toks AS (SELECT doc_id, list_filter(string_split_regex(text,'\s+'), w -> w <> '') AS ws
           |         FROM documents),
           |sh AS (SELECT DISTINCT doc_id, ws[i]||' '||ws[i+1]||' '||ws[i+2] AS s
           |       FROM toks, unnest(range(1, len(ws)-1)) AS t(i)),
           |rare AS (SELECT s FROM sh GROUP BY s HAVING count(*) <= 100),
           |shr AS (SELECT doc_id, s FROM sh WHERE s IN (SELECT s FROM rare)),
           |sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
           |pairs AS (
           |  SELECT a.doc_id i, b.doc_id j, count(*) c
           |  FROM shr a JOIN shr b ON a.s = b.s AND a.doc_id < b.doc_id
           |  GROUP BY 1, 2),
           |near_dup_j AS (
           |  SELECT DISTINCT j FROM pairs
           |  JOIN sizes sa ON sa.doc_id = i JOIN sizes sb ON sb.doc_id = j
           |  WHERE c*1.0/(sa.sz + sb.sz - c) >= 0.8)
           |SELECT lang, count(*) AS n_docs,
           |       CAST(sum(n_chars) AS BIGINT) AS total_chars
           |FROM documents
           |WHERE doc_id IN (SELECT keep_id FROM keep_exact)
           |  AND doc_id NOT IN (SELECT j FROM near_dup_j)
           |GROUP BY lang ORDER BY lang""".stripMargin),
    doc = "End-to-end corpus cleaning: exact dedup -> near-dup pruning " +
      "(drop larger id per Jaccard>=0.8 pair) -> survivor stats")

  /** Incremental ingest against the at-rest band index: corpus = docs
    * with id < 250 (the "yesterday's crawl" half at the gate's sf0.01;
    * ids are stable per TESTDATA so the split is meaningful at every
    * sf), batch = the rest. Output = every near-dup pair with at least
    * one side in the batch — under canonical i < j and an id-ordered
    * split, exactly the pairs with j >= 250, so the oracle is d2's
    * exact-Jaccard SQL with that one extra predicate. Probe candidates
    * equal the all-at-once LSH candidates restricted to the split
    * (same signatures, same band hashes), so the d3-equals-d2 recall
    * argument carries over unchanged.
    */
  private val crossSplitJaccardOracle = exactJaccardOracle.replace(
    "WHERE c*1.0/(sa.sz + sb.sz - c) >= 0.8",
    "WHERE c*1.0/(sa.sz + sb.sz - c) >= 0.8 AND j >= 250")

  private val incremental = CatalogQuery(
    "d6_incremental_dedup",
    (s, dir) => {
      val d = docs(s, dir)
      val path = DedupIndex.ensure(s, dir, "lt250",
        d.filter(col("doc_id") < 250), n = 3, bands = 16, rows = 8,
        maxDf = 100)
      DedupIndex.probePairs(s, path,
          batch = d.filter(col("doc_id") >= 250), texts = d,
          withinBatch = true, threshold = 0.8)
        .orderBy(col("i"), col("j"))
    },
    Some(crossSplitJaccardOracle),
    doc = "Incremental dedup: new batch probed against the at-rest " +
      "MinHash band index (build-once corpus fingerprints), plus " +
      "batch-internal pairs; exact-verified")

  /** Eval = the last 50 doc ids AT ANY sf (split derived from
    * max(doc_id), one bounded metadata-class read — a hardcoded id
    * boundary would make "eval" 91% of the corpus at sf0.1 and invert
    * the operator's own small-eval broadcast contract). At the gate's
    * sf0.01 this is doc_id >= 450, where the planted near-dup pairs
    * straddling the boundary make 4 training docs share verbatim
    * 8-grams with eval — real, falsifiable contamination (an empty
    * report would also pass the oracle, but then the planted pairs
    * would have to have vanished from the testdata).
    */
  private val decontaminationOracle =
    """WITH split AS (SELECT max(doc_id) - 49 AS b FROM documents),
      |toks AS (
      |  SELECT doc_id,
      |    list_filter(string_split_regex(text,'\s+'), w -> w <> '') AS ws
      |  FROM documents),
      |sh AS (
      |  SELECT DISTINCT doc_id,
      |    list_aggregate(ws[i:i+7], 'string_agg', ' ') AS s
      |  FROM toks, unnest(range(1, len(ws)-6)) t(i)),
      |tr AS (SELECT * FROM sh WHERE doc_id < (SELECT b FROM split)),
      |ev AS (SELECT * FROM sh WHERE doc_id >= (SELECT b FROM split))
      |SELECT tr.doc_id AS doc,
      |  CAST(count(*) AS BIGINT) AS n_shared_shingles,
      |  CAST(count(DISTINCT ev.doc_id) AS BIGINT) AS n_eval_docs
      |FROM tr JOIN ev ON tr.s = ev.s
      |GROUP BY 1 ORDER BY doc""".stripMargin

  private def evalSplit(s: SparkSession, dir: String) = {
    val d = docs(s, dir)
    val split = d.agg(max(col("doc_id"))).head.getLong(0) - 49L
    // train carries the whole corpus through a shingle explode that
    // otherwise rides the scan task (single-row-group floor at small
    // SF — core.Parallelism); eval is a ~50-doc slice, left alone
    (graft.core.Parallelism.fanOutSmallScan(d.filter(col("doc_id") < split)),
      d.filter(col("doc_id") >= split))
  }

  private val decontamination = CatalogQuery(
    "d7_decontamination",
    (s, dir) => {
      val (train, eval) = evalSplit(s, dir)
      Dedup.contaminationReport(train, eval, "doc_id", "text", n = 8)
        .orderBy(col("doc"))
    },
    Some(decontaminationOracle),
    doc = "Train/eval decontamination audit: training docs sharing " +
      "verbatim 8-grams with the eval split (broadcast eval shingles)")

  /** d11 = d7 behind the Bloom prefilter — the exact-verify join strips
    * every false positive, so the output is bit-identical to d7's and
    * the row carries the SAME oracle. What the gate then catches is the
    * scale path itself: a bloom built over the wrong column, a probe
    * hashing differently than the build, or a verify join dropped "as
    * redundant" all flip this row red while leaving d7 green.
    */
  private val decontaminationBloom = CatalogQuery(
    "d11_bloom_decontamination",
    (s, dir) => {
      val (train, eval) = evalSplit(s, dir)
      Dedup.contaminationReportBloom(train, eval, "doc_id", "text", n = 8)
        .orderBy(col("doc"))
    },
    Some(decontaminationOracle),
    doc = "d7's audit via Bloom prefilter + exact verify — the path for " +
      "eval sets too large to broadcast as a hash relation")

  /** d16 = d7 over NORMALIZED text (markup stripped, entities decoded,
    * whitespace collapsed, case-folded — the t10 pipeline then lower).
    * The gate plants what makes the distinction falsifiable: an eval
    * copy of train doc 7, case-flipped and wrapped in markup — d7's
    * verbatim 8-gram match is structurally blind to it (no 8-gram
    * survives the case flip), while d16 must report doc 7 with the
    * full shingle overlap. The oracle replays the ENTIRE composition
    * (t10's normalization spelling inside d7's shingle join) from
    * scratch, plant included.
    */
  private val decontaminationNormalized = CatalogQuery(
    "d16_normalized_decontamination",
    (s, dir) => {
      val (train, eval) = evalSplit(s, dir)
      // plant id = max(doc_id)+1, DERIVED: a hardcoded id above the
      // shipped sf ranges silently lands inside a bigger corpus's id
      // space (the 10x validation corpus reaches 9e6), where the
      // oracle's id-threshold eval split would reclassify the plant
      // as training and the planted contamination vanishes
      val plantId = docs(s, dir).agg(max(col("doc_id"))).head.getLong(0) + 1
      val plant = docs(s, dir).filter(col("doc_id") === 7)
        .select(lit(plantId).as("doc_id"),
          concat(lit("<p>"), upper(col("text")), lit("</p>")).as("text"),
          col("lang"), col("source"), col("n_chars"))
      Dedup.contaminationReportNormalized(train, eval.unionByName(plant),
          "doc_id", "text", n = 8)
        .orderBy(col("doc"))
    },
    Some("""WITH allrows AS (
           |  SELECT doc_id, text FROM documents
           |  UNION ALL
           |  SELECT (SELECT max(doc_id) + 1 FROM documents),
           |         '<p>' || upper(text) || '</p>'
           |  FROM documents WHERE doc_id = 7),
           |norm AS (
           |  SELECT doc_id, lower(trim(regexp_replace(
           |    replace(replace(replace(replace(replace(replace(
           |      regexp_replace(text, '<[^>]*>', ' ', 'g'),
           |      '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
           |      '&#39;', ''''), '&nbsp;', ' '), '&amp;', '&'),
           |    '[ \t\r\n]+', ' ', 'g'))) AS text
           |  FROM allrows),
           |split AS (SELECT max(doc_id) - 49 AS b FROM documents),
           |toks AS (
           |  SELECT doc_id,
           |    list_filter(string_split_regex(text,'\s+'), w -> w <> '') AS ws
           |  FROM norm),
           |sh AS (
           |  SELECT DISTINCT doc_id,
           |    list_aggregate(ws[i:i+7], 'string_agg', ' ') AS s
           |  FROM toks, unnest(range(1, len(ws)-6)) t(i)),
           |tr AS (SELECT * FROM sh WHERE doc_id < (SELECT b FROM split)),
           |ev AS (SELECT * FROM sh WHERE doc_id >= (SELECT b FROM split))
           |SELECT tr.doc_id AS doc,
           |  CAST(count(*) AS BIGINT) AS n_shared_shingles,
           |  CAST(count(DISTINCT ev.doc_id) AS BIGINT) AS n_eval_docs
           |FROM tr JOIN ev ON tr.s = ev.s
           |GROUP BY 1 ORDER BY doc""".stripMargin),
    doc = "Normalization-robust decontamination (d7 after the t10 " +
      "normalize + case-fold on BOTH sides): catches eval text " +
      "re-hosted in markup or re-cased, which verbatim matching is " +
      "blind to — the planted case-flipped markup-wrapped eval copy " +
      "of train doc 7 must surface; normalization rides both scans as " +
      "a projection, join structure unchanged from d7")

  /** d8's oracle = d2's exact pair SQL extended with a RECURSIVE
    * label-propagation CTE: every reachable label flows along edges
    * until fixpoint (UNION-distinct recursion terminates), and the min
    * per node is the component's smallest id — an implementation of
    * connected components entirely independent of the engine's
    * iterative join loop.
    */
  private val clusterOracle = exactJaccardOracle
    .replaceFirst("WITH ", "WITH RECURSIVE ")
    .replace(
      """GROUP BY 1, 2)
        |SELECT i, j,
        |       round(c*1.0/(sa.sz + sb.sz - c), 6) AS jaccard
        |FROM common
        |JOIN sizes sa ON sa.doc_id = i
        |JOIN sizes sb ON sb.doc_id = j
        |WHERE c*1.0/(sa.sz + sb.sz - c) >= 0.8
        |ORDER BY i, j""".stripMargin,
      """GROUP BY 1, 2),
        |good AS (
        |  SELECT i, j FROM common
        |  JOIN sizes sa ON sa.doc_id = i
        |  JOIN sizes sb ON sb.doc_id = j
        |  WHERE c*1.0/(sa.sz + sb.sz - c) >= 0.8),
        |e AS (SELECT i AS src, j AS dst FROM good
        |      UNION ALL SELECT j AS src, i AS dst FROM good),
        |lbl AS (
        |  SELECT DISTINCT src AS node, src AS lab FROM e
        |  UNION
        |  SELECT e.dst AS node, l.lab AS lab FROM lbl l JOIN e ON e.src = l.node)
        |SELECT node AS doc, CAST(min(lab) AS BIGINT) AS cluster
        |FROM lbl GROUP BY node ORDER BY doc""".stripMargin)

  private val clusters = CatalogQuery(
    "d8_dedup_clusters",
    (s, dir) => Dedup.connectedComponents(
        Dedup.ngramJaccardPairs(docs(s, dir), "doc_id", "text",
          n = 3, threshold = 0.8, maxDf = 100))
      .orderBy(col("doc")),
    Some(clusterOracle),
    doc = "Transitive near-dup clusters: connected components over the " +
      "Jaccard>=0.8 pair graph via iterative min-label propagation")

  /** Spark runs in the hashed-gram domain (xxhash64 per position); the
    * oracle replays the string domain — identical counts absent a
    * 64-bit collision, which is also exactly what makes the row
    * falsifiable for the hashed path.
    */
  private val dupCoverage = CatalogQuery(
    "d9_dup_ngram_coverage",
    (s, dir) => Dedup.dupNgramCoverage(
        graft.core.Parallelism.fanOutSmallScan(
          docs(s, dir).select(col("doc_id"), col("text"))), n = 8)
      .orderBy(col("doc")),
    Some("""WITH toks AS (
           |  SELECT doc_id,
           |    list_filter(string_split_regex(text,'\s+'), w -> w <> '') AS ws
           |  FROM documents),
           |g AS (
           |  SELECT doc_id, i,
           |    list_aggregate(ws[i:i+7], 'string_agg', ' ') AS gram
           |  FROM toks, unnest(range(1, len(ws)-6)) AS t(i)),
           |dup AS (SELECT gram FROM g GROUP BY gram
           |        HAVING min(doc_id) <> max(doc_id)),
           |pd AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_dup_ngrams
           |       FROM g JOIN dup USING (gram) GROUP BY 1),
           |docc AS (
           |  SELECT DISTINCT doc_id, p
           |  FROM g JOIN dup USING (gram), unnest(range(i, i+8)) AS u(p)),
           |cov AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_covered
           |        FROM docc GROUP BY 1)
           |SELECT t.doc_id AS doc, CAST(len(t.ws) AS BIGINT) AS n_tokens,
           |  coalesce(pd.n_dup_ngrams, 0) AS n_dup_ngrams,
           |  coalesce(cov.n_covered, 0) AS n_covered
           |FROM toks t
           |LEFT JOIN pd ON pd.doc_id = t.doc_id
           |LEFT JOIN cov ON cov.doc_id = t.doc_id
           |ORDER BY doc""".stripMargin),
    doc = "Sequence-level dedup signal (Lee et al.): per-doc count of " +
      "8-gram positions duplicated in another doc and the token " +
      "positions they cover")

  /** Falsifiable against the naive lowest-id rule by construction: at
    * sf0.01, 14 of the clusters' exemplars are NOT the min id (the
    * planted near-dup copies perturb quality both ways), so an
    * implementation that silently reverted to "keep first" flips the
    * row red.
    */
  private val canonical = CatalogQuery(
    "d10_cluster_canonical",
    (s, dir) => {
      val d = docs(s, dir)
      val scores = TextAnalysis.qualityScore(d, "doc_id", "text")
        .select(col("doc"), col("quality").as("score"))
      Dedup.clusterExemplars(d,
          Dedup.ngramJaccardPairs(d, "doc_id", "text",
            n = 3, threshold = 0.8, maxDf = 100),
          scores)
        .orderBy(col("doc"))
    },
    Some("""WITH RECURSIVE toks AS (
           |  SELECT doc_id,
           |    list_filter(string_split_regex(text,'\s+'), w -> w <> '') AS ws
           |  FROM documents),
           |sh AS (SELECT DISTINCT doc_id, ws[i]||' '||ws[i+1]||' '||ws[i+2] AS s
           |       FROM toks, unnest(range(1, len(ws)-1)) AS t(i)),
           |rare AS (SELECT s FROM sh GROUP BY s HAVING count(*) <= 100),
           |shr AS (SELECT doc_id, s FROM sh WHERE s IN (SELECT s FROM rare)),
           |sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
           |pairs AS (SELECT a.doc_id i, b.doc_id j, count(*) c
           |          FROM shr a JOIN shr b ON a.s = b.s AND a.doc_id < b.doc_id
           |          GROUP BY 1, 2),
           |good AS (SELECT i, j FROM pairs
           |         JOIN sizes sa ON sa.doc_id = i
           |         JOIN sizes sb ON sb.doc_id = j
           |         WHERE c*1.0/(sa.sz + sb.sz - c) >= 0.8),
           |e AS (SELECT i AS src, j AS dst FROM good
           |      UNION ALL SELECT j AS src, i AS dst FROM good),
           |lbl AS (SELECT DISTINCT src AS node, src AS lab FROM e
           |        UNION
           |        SELECT e.dst AS node, l.lab AS lab
           |        FROM lbl l JOIN e ON e.src = l.node),
           |comp AS (SELECT node, min(lab) AS cluster FROM lbl GROUP BY node),
           |f AS (SELECT doc_id,
           |        list_filter(string_split_regex(text,'\s+'), w -> w <> '') AS ws,
           |        len(regexp_replace(text, '[^.,!?;:]', '', 'g'))*1.0/len(text)
           |          AS punct_ratio
           |      FROM documents),
           |g AS (SELECT doc_id, len(ws) AS n_tokens, punct_ratio,
           |        len(list_filter(ws,
           |          w -> list_contains(['the','a','of','to','and'], w)))
           |          *1.0/len(ws) AS stop_ratio
           |      FROM f),
           |q AS (SELECT doc_id AS doc,
           |        round(0.5*least(1.0, n_tokens/50.0) + 0.25*(1.0-punct_ratio)
           |              + 0.25*least(1.0, 4.0*stop_ratio), 6) AS quality
           |      FROM g),
           |allr AS (SELECT d.doc_id AS doc, coalesce(c.cluster, d.doc_id) AS cluster
           |         FROM documents d LEFT JOIN comp c ON c.node = d.doc_id),
           |keep AS (SELECT cluster, doc AS keep_doc FROM (
           |           SELECT a.cluster, a.doc,
           |             row_number() OVER (PARTITION BY a.cluster
           |               ORDER BY q.quality DESC, a.doc ASC) AS rn
           |           FROM allr a JOIN q ON q.doc = a.doc)
           |         WHERE rn = 1)
           |SELECT a.doc, CAST(a.cluster AS BIGINT) AS cluster,
           |       CAST(k.keep_doc AS BIGINT) AS keep_doc,
           |       CAST(a.doc = k.keep_doc AS INT) AS kept
           |FROM allr a JOIN keep k USING (cluster)
           |ORDER BY doc""".stripMargin),
    doc = "Best-exemplar selection per transitive near-dup cluster " +
      "(argmax quality, doc-asc ties): keep the best copy, not an " +
      "arbitrary one; singletons keep themselves")

  /** Fuzzy record matching over customer names: deterministic typos
    * (doc-id-classed digit→letter substitutions at fixed positions, so
    * the TRUE edit distance to the own name is exactly the class
    * number) joined back against the clean names at maxDist=2 via
    * [[graft.operators.Fuzzy.Unblocked]]'s q-gram prefix filter —
    * the explicit escape hatch, used here deliberately: the oracle
    * replays the FULL quadratic levenshtein join in DuckDB, so the
    * unblocked form is the only one that matches it (and what the
    * losslessness claim is graded against). The input honors the
    * escape hatch's contract — BOUNDED BY CONSTRUCTION: a fixed
    * `doc_id < 2000` slice whose size is capped at 2000 strings at
    * EVERY corpus scale (SCALING_r09 measured the unbounded form at
    * ~N² candidates on a corpus that grows with sf — the catalog must
    * not ship its own scale-killer as a differential), and the
    * breaker's default candidateBudget stands. The 100-TB-shaped
    * default is the blocked d12b twin below; the growing-corpus
    * population's candidate series is in SCALING_r08/r09.
    */
  private val fuzzyJoin = CatalogQuery(
    "d12_edit_distance_join",
    (s: SparkSession, dir: String) => {
      // 40-char document fingerprints: a DIVERSE string population
      // (4756/5000 distinct at sf0.1). The obvious alternatives —
      // c_name / p_name — are sequential-serial and 64-template
      // strings where nearly every PAIR is within distance 2, so the
      // true answer itself is quadratic and no algorithm saves the
      // query (measured: 371s at sf0.1 on c_name, and that was the
      // honest output, not a plan bug). Entity resolution presumes
      // near-unique entities; this column actually has them.
      val base = Tables(s, dir).documents
        .filter(col("doc_id") < 2000)
        .select(col("doc_id"), substring(col("text"), 1, 40).as("fp"))
      val r = pmod(col("doc_id"), lit(4))
      val t1 = concat(substring(col("fp"), 1, 9), lit("z"),
        substring(col("fp"), 11, 1000))
      val t2 = concat(substring(t1, 1, 12), lit("y"),
        substring(t1, 14, 1000))
      val t3 = concat(substring(t2, 1, 15), lit("x"),
        substring(t2, 17, 1000))
      val typos = base.select(col("doc_id").as("typo_key"),
        when(r === 0, col("fp")).when(r === 1, t1)
          .when(r === 2, t2).otherwise(t3).as("typo_name"))
      // q=3: measured on this exact population (SCALING_r08 d12
      // candidate series), 3-grams nearly halve gram candidates vs
      // q=2 (1.81M -> 1.00M at 1x, identical 4146-pair output) and
      // q=4 buys only 18% more — prefix selectivity, the number that
      // predicts 100x behavior, is the q=3 sweet spot here
      graft.operators.Fuzzy.Unblocked.editDistanceJoin(
          typos, base, "typo_key", "doc_id", "typo_name", "fp",
          maxDist = 2, q = 3)
        .select(col("left_id").as("typo_key"),
          col("right_id").as("doc_key"), col("dist"))
        .orderBy(col("typo_key"), col("doc_key"))
    },
    Some("""WITH base AS (
           |  SELECT doc_id, substr(text,1,40) AS fp FROM documents
           |  WHERE doc_id < 2000),
           |t AS (
           |  SELECT doc_id AS typo_key,
           |    CASE doc_id % 4
           |      WHEN 0 THEN fp
           |      WHEN 1 THEN substr(fp,1,9)||'z'||substr(fp,11)
           |      WHEN 2 THEN substr(fp,1,9)||'z'||substr(fp,11,2)
           |                  ||'y'||substr(fp,14)
           |      ELSE substr(fp,1,9)||'z'||substr(fp,11,2)||'y'
           |           ||substr(fp,14,2)||'x'||substr(fp,17)
           |    END AS typo_name
           |  FROM base)
           |SELECT t.typo_key, c.doc_id AS doc_key,
           |  CAST(levenshtein(t.typo_name, c.fp) AS BIGINT) AS dist
           |FROM t, base c
           |WHERE levenshtein(t.typo_name, c.fp) <= 2
           |ORDER BY typo_key, doc_key""".stripMargin),
    doc = "Edit-distance similarity join (entity resolution): typo'd " +
      "40-char document fingerprints matched back at maxDist=2 " +
      "through the lossless q-gram prefix filter + exact levenshtein " +
      "verify, on a bounded-by-construction 2000-doc slice (the " +
      "Unblocked escape hatch's contract, breaker armed); the oracle " +
      "is the full quadratic DuckDB levenshtein join over the same " +
      "slice")

  /** d12's 100-TB-shaped twin: the same typo population through the
    * BLOCKED edit-distance join — [[graft.operators.Fuzzy
    * .editDistanceJoin]]'s default entry point, which requires a
    * record-linkage blocking key and confines candidates to blocks.
    * The key here is the edit-stable 8-char fingerprint prefix (the
    * planted typos edit positions 10/13/16, so every typo agrees with
    * its source on the first 8 chars — classic prefix blocking). The
    * oracle is d12's full quadratic DuckDB levenshtein join restricted
    * to same-block pairs: exactly the blocked contract, decided by
    * brute force. Candidate volume is Σ_b f(|b|) instead of f(N) —
    * the SCALING_r09 d12b series shows candidates/output ~flat across
    * the decade where d12's unblocked series grows superlinearly.
    */
  private val fuzzyJoinBlocked = CatalogQuery(
    "d12b_edit_distance_join_blocked",
    (s: SparkSession, dir: String) => {
      val base = Tables(s, dir).documents
        .select(col("doc_id"), substring(col("text"), 1, 40).as("fp"))
      val r = pmod(col("doc_id"), lit(4))
      val t1 = concat(substring(col("fp"), 1, 9), lit("z"),
        substring(col("fp"), 11, 1000))
      val t2 = concat(substring(t1, 1, 12), lit("y"),
        substring(t1, 14, 1000))
      val t3 = concat(substring(t2, 1, 15), lit("x"),
        substring(t2, 17, 1000))
      val typos = base.select(col("doc_id").as("typo_key"),
        when(r === 0, col("fp")).when(r === 1, t1)
          .when(r === 2, t2).otherwise(t3).as("typo_name"))
        .withColumn("blk", substring(col("typo_name"), 1, 8))
      graft.operators.Fuzzy.editDistanceJoin(
          typos, base.withColumn("blk", substring(col("fp"), 1, 8)),
          "typo_key", "doc_id", "typo_name", "fp", "blk", "blk",
          maxDist = 2, q = 3)
        .select(col("left_id").as("typo_key"),
          col("right_id").as("doc_key"), col("dist"))
        .orderBy(col("typo_key"), col("doc_key"))
    },
    Some("""WITH base AS (
           |  SELECT doc_id, substr(text,1,40) AS fp FROM documents),
           |t AS (
           |  SELECT doc_id AS typo_key,
           |    CASE doc_id % 4
           |      WHEN 0 THEN fp
           |      WHEN 1 THEN substr(fp,1,9)||'z'||substr(fp,11)
           |      WHEN 2 THEN substr(fp,1,9)||'z'||substr(fp,11,2)
           |                  ||'y'||substr(fp,14)
           |      ELSE substr(fp,1,9)||'z'||substr(fp,11,2)||'y'
           |           ||substr(fp,14,2)||'x'||substr(fp,17)
           |    END AS typo_name
           |  FROM base)
           |SELECT t.typo_key, c.doc_id AS doc_key,
           |  CAST(levenshtein(t.typo_name, c.fp) AS BIGINT) AS dist
           |FROM t, base c
           |WHERE substr(t.typo_name,1,8) = substr(c.fp,1,8)
           |  AND levenshtein(t.typo_name, c.fp) <= 2
           |ORDER BY typo_key, doc_key""".stripMargin),
    doc = "Blocked edit-distance join (the default 100 TB entry " +
      "point): d12's typo population under prefix blocking on the " +
      "edit-stable 8-char fingerprint prefix — candidates confined " +
      "to blocks, per-block gram rarity ranking; oracle is the full " +
      "quadratic levenshtein join restricted to same-block pairs")

  /** The COMPOSED block key the scaling study recommends: prefix-8 ×
    * source stratum. SCALING_r09 separates the two regimes — the
    * prefix-only key's collision classes CO-GROW with a corpus whose
    * new documents share old prefixes (candidate volume Σ|b_l||b_r|
    * drifts ~mult² within blocks even at linear output), while
    * composing with a bounded per-source stratum keeps every block
    * scale-invariant (per-stratum candidate counts constant to 10 ppm
    * across 3×→100×). This catalog row ships the composition the
    * operator contract tells callers to use: block = (edit-stable
    * 8-char prefix, doc_id mod 16 — the stand-in for a real source/
    * shard stratum both sides agree on). The recall trade-off is
    * explicit and decided by brute force in the oracle: pairs
    * crossing a stratum are out of contract, exactly like pairs
    * crossing a prefix block in d12b.
    */
  private val fuzzyJoinStratified = CatalogQuery(
    "d12c_edit_distance_join_stratified",
    (s: SparkSession, dir: String) => {
      val base = Tables(s, dir).documents
        .select(col("doc_id"), substring(col("text"), 1, 40).as("fp"))
      val r = pmod(col("doc_id"), lit(4))
      val t1 = concat(substring(col("fp"), 1, 9), lit("z"),
        substring(col("fp"), 11, 1000))
      val t2 = concat(substring(t1, 1, 12), lit("y"),
        substring(t1, 14, 1000))
      val t3 = concat(substring(t2, 1, 15), lit("x"),
        substring(t2, 17, 1000))
      val typos = base.select(col("doc_id").as("typo_key"),
        when(r === 0, col("fp")).when(r === 1, t1)
          .when(r === 2, t2).otherwise(t3).as("typo_name"))
        .withColumn("blk", concat(substring(col("typo_name"), 1, 8),
          lit("#"), pmod(col("typo_key"), lit(16)).cast("string")))
      graft.operators.Fuzzy.editDistanceJoin(
          typos,
          base.withColumn("blk", concat(substring(col("fp"), 1, 8),
            lit("#"), pmod(col("doc_id"), lit(16)).cast("string"))),
          "typo_key", "doc_id", "typo_name", "fp", "blk", "blk",
          maxDist = 2, q = 3)
        .select(col("left_id").as("typo_key"),
          col("right_id").as("doc_key"), col("dist"))
        .orderBy(col("typo_key"), col("doc_key"))
    },
    Some("""WITH base AS (
           |  SELECT doc_id, substr(text,1,40) AS fp FROM documents),
           |t AS (
           |  SELECT doc_id AS typo_key,
           |    CASE doc_id % 4
           |      WHEN 0 THEN fp
           |      WHEN 1 THEN substr(fp,1,9)||'z'||substr(fp,11)
           |      WHEN 2 THEN substr(fp,1,9)||'z'||substr(fp,11,2)
           |                  ||'y'||substr(fp,14)
           |      ELSE substr(fp,1,9)||'z'||substr(fp,11,2)||'y'
           |           ||substr(fp,14,2)||'x'||substr(fp,17)
           |    END AS typo_name
           |  FROM base)
           |SELECT t.typo_key, c.doc_id AS doc_key,
           |  CAST(levenshtein(t.typo_name, c.fp) AS BIGINT) AS dist
           |FROM t, base c
           |WHERE substr(t.typo_name,1,8) = substr(c.fp,1,8)
           |  AND t.typo_key % 16 = c.doc_id % 16
           |  AND levenshtein(t.typo_name, c.fp) <= 2
           |ORDER BY typo_key, doc_key""".stripMargin),
    doc = "Stratum-composed blocked edit-distance join: d12's typo " +
      "population blocked on (edit-stable 8-char prefix, doc_id mod " +
      "16) — the composed key whose per-block volume is scale-" +
      "invariant where prefix-only blocks co-grow with the corpus " +
      "(SCALING_r09 C); oracle is the quadratic levenshtein join " +
      "restricted to same-prefix same-stratum pairs")

  /** d12b's blocked join executed through the AUTO-WAVED entry point
    * ([[graft.operators.Fuzzy.editDistanceJoinAutoWaved]]) — the waved
    * execution itself under the oracle gate, not just a probe: the
    * ceiling is set low (50 candidates, maxWaves = 3) so the
    * predicted-volume trigger TRIPS at gate scale and the answer is
    * assembled from sequential block-hash waves (each eagerly
    * localCheckpointed — wave g's shuffle scratch is released before
    * wave g+1 runs). Every candidate pair shares its block, so waves
    * partition the candidate space exactly and the result must be
    * bit-identical to d12b restricted to the same slice — decided by
    * the same brute-force DuckDB oracle. maxWaves = 3 bounds the gate
    * cost (the wave count is a scratch-budget knob, not a correctness
    * one); the 2000-doc slice keeps the measurement pass + 3 waves a
    * cheap bench row.
    */
  private val fuzzyJoinAutoWaved = CatalogQuery(
    "d12d_edit_distance_join_autowaved",
    (s: SparkSession, dir: String) => {
      val base = Tables(s, dir).documents
        .filter(col("doc_id") < 2000)
        .select(col("doc_id"), substring(col("text"), 1, 40).as("fp"))
      val r = pmod(col("doc_id"), lit(4))
      val t1 = concat(substring(col("fp"), 1, 9), lit("z"),
        substring(col("fp"), 11, 1000))
      val t2 = concat(substring(t1, 1, 12), lit("y"),
        substring(t1, 14, 1000))
      val t3 = concat(substring(t2, 1, 15), lit("x"),
        substring(t2, 17, 1000))
      val typos = base.select(col("doc_id").as("typo_key"),
        when(r === 0, col("fp")).when(r === 1, t1)
          .when(r === 2, t2).otherwise(t3).as("typo_name"))
        .withColumn("blk", substring(col("typo_name"), 1, 8))
      graft.operators.Fuzzy.editDistanceJoinAutoWaved(
          typos, base.withColumn("blk", substring(col("fp"), 1, 8)),
          "typo_key", "doc_id", "typo_name", "fp", "blk", "blk",
          maxDist = 2, q = 3,
          waveCandidateCeiling = 50L, maxWaves = 3)
        .select(col("left_id").as("typo_key"),
          col("right_id").as("doc_key"), col("dist"))
        .orderBy(col("typo_key"), col("doc_key"))
    },
    Some("""WITH base AS (
           |  SELECT doc_id, substr(text,1,40) AS fp FROM documents
           |  WHERE doc_id < 2000),
           |t AS (
           |  SELECT doc_id AS typo_key,
           |    CASE doc_id % 4
           |      WHEN 0 THEN fp
           |      WHEN 1 THEN substr(fp,1,9)||'z'||substr(fp,11)
           |      WHEN 2 THEN substr(fp,1,9)||'z'||substr(fp,11,2)
           |                  ||'y'||substr(fp,14)
           |      ELSE substr(fp,1,9)||'z'||substr(fp,11,2)||'y'
           |           ||substr(fp,14,2)||'x'||substr(fp,17)
           |    END AS typo_name
           |  FROM base)
           |SELECT t.typo_key, c.doc_id AS doc_key,
           |  CAST(levenshtein(t.typo_name, c.fp) AS BIGINT) AS dist
           |FROM t, base c
           |WHERE substr(t.typo_name,1,8) = substr(c.fp,1,8)
           |  AND levenshtein(t.typo_name, c.fp) <= 2
           |ORDER BY typo_key, doc_key""".stripMargin),
    doc = "Auto-waved blocked edit-distance join: the predicted-" +
      "candidate-volume trigger trips (ceiling 50, maxWaves 3) and " +
      "the answer is assembled from sequential bounded-scratch " +
      "block-hash waves — bit-identical to the blocked join by " +
      "construction, decided by the brute-force levenshtein oracle " +
      "restricted to same-block pairs on the 2000-doc slice")

  override def queries: Seq[CatalogQuery] =
    Seq(exact, ngram, containment, minhash, simhash, pipeline, incremental,
      decontamination, decontaminationBloom, clusters, dupCoverage,
      canonical, fuzzyJoin, fuzzyJoinBlocked, fuzzyJoinStratified,
      fuzzyJoinAutoWaved,
      novelty, noveltyIncremental,
      decontaminationNormalized, calibration)
}
