package graft.queries

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.core.{CatalogQuery, QueryModule, Tables}
import graft.operators.{Chunking, CorpusMix, Dedup, SequencePack, Skew, TextAnalysis}

/** Catalog entries for the corpus-assembly operators — the steps
  * between a cleaned corpus and a training run: mixing weights +
  * held-out splits (CorpusMix) and context-window packing
  * (SequencePack). Both are exactly deterministic (keyed hashes, a
  * prefix sum), so both carry full DuckDB oracles.
  */
object PipelineQueries extends QueryModule {

  /** Mixing rates chosen to exercise every code path: downsample
    * (en/zh/de/fr at distinct rates) and the rate>=1 sentinel (es).
    */
  private val mixRates = Map(
    "en" -> 0.5, "zh" -> 0.25, "es" -> 1.0, "de" -> 0.125, "fr" -> 0.75)

  private val mix = CatalogQuery(
    "x1_corpus_mix",
    (s: SparkSession, dir: String) => {
      val kept = CorpusMix.stratifiedSample(
        Tables(s, dir).documents, "doc_id", "lang", mixRates)
      CorpusMix.withSplit(kept, "doc_id")
        .groupBy(col("lang"), col("split"))
        .agg(count(lit(1)).as("n_docs"))
        .orderBy(col("lang"), col("split"))
    },
    Some("""WITH kept AS (
           |  SELECT * FROM documents
           |  WHERE substr(md5(concat('mix1:', CAST(doc_id AS VARCHAR))), 1, 8) <
           |    CASE lang WHEN 'en' THEN '80000000' WHEN 'zh' THEN '40000000'
           |              WHEN 'es' THEN 'g' WHEN 'de' THEN '20000000'
           |              WHEN 'fr' THEN 'c0000000' ELSE '00000000' END),
           |sp AS (
           |  SELECT lang,
           |    CASE WHEN substr(md5(concat('split:', CAST(doc_id AS VARCHAR))), 1, 8)
           |              < 'cccccccc' THEN 'train'
           |         WHEN substr(md5(concat('split:', CAST(doc_id AS VARCHAR))), 1, 8)
           |              < 'e6666666' THEN 'val'
           |         ELSE 'test' END AS split
           |  FROM kept)
           |SELECT lang, split, count(*) AS n_docs
           |FROM sp GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
    doc = "Deterministic hash-keyed stratified corpus mix + 80/10/10 split")

  private val pack = CatalogQuery(
    "x2_sequence_packing",
    (s: SparkSession, dir: String) => {
      val toks = Tables(s, dir).documents.select(
        col("doc_id"),
        graft.operators.TextAnalysis.wordCount(col("text")).as("n_tokens"))
      SequencePack.withPackAssignment(toks, "doc_id", "n_tokens",
          maxTokens = 2048)
        .select(col("doc_id").as("doc"), col("n_tokens"),
          col("start_tok"), col("pack_id"), col("n_boundary_crossings"))
        .orderBy(col("doc"))
    },
    Some("""WITH tk AS (
           |  SELECT doc_id,
           |    CAST(len(list_filter(string_split_regex(text,'\s+'), w -> w <> ''))
           |         AS BIGINT) AS n_tokens
           |  FROM documents),
           |c AS (
           |  SELECT doc_id, n_tokens,
           |    CAST(coalesce(sum(n_tokens) OVER (ORDER BY doc_id
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           |      AS BIGINT) AS start_tok
           |  FROM tk)
           |SELECT doc_id AS doc, n_tokens, start_tok,
           |  CAST(start_tok // 2048 AS BIGINT) AS pack_id,
           |  CAST(CASE WHEN n_tokens = 0 THEN 0
           |       ELSE (start_tok + n_tokens - 1) // 2048 - start_tok // 2048
           |       END AS BIGINT) AS n_boundary_crossings
           |FROM c ORDER BY doc""".stripMargin),
    doc = "Context-window packing via distributed prefix sum " +
      "(range partition + per-partition offsets, no global window)")

  /** The salted two-stage aggregate, driver-checked: until round 5 its
    * "equals the plain groupBy" contract lived only in a spec. The
    * l_returnflag key is the engine's most skewed grouping (3 keys over
    * the whole fact table — every row is a hot-key row). Sums stay in
    * exactly-representable territory (a count, and l_quantity which is
    * integral-valued), so the two-stage summation order cannot drift
    * vs the oracle's single-pass sum.
    */
  private val saltedAgg = CatalogQuery(
    "x3_salted_agg",
    (s: SparkSession, dir: String) => {
      Skew.saltedSum(Tables(s, dir).lineitem, "l_returnflag",
          saltBuckets = 32,
          aggs = Map("n_rows" -> lit(1L), "sum_qty" -> col("l_quantity")))
        .select(col("l_returnflag"), col("n_rows").cast("long").as("n_rows"),
          col("sum_qty").cast("long").as("sum_qty"))
        .orderBy(col("l_returnflag"))
    },
    Some("""SELECT l_returnflag,
           |  CAST(count(*) AS BIGINT) AS n_rows,
           |  CAST(sum(l_quantity) AS BIGINT) AS sum_qty
           |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin),
    doc = "Two-stage salted hot-key aggregation vs the plain groupBy oracle")

  /** The permutation itself is the contract: the oracle recomputes the
    * exact md5-keyed order with a row_number window (fine at oracle
    * scale), while the engine side ranks via the distributed prefix
    * sum — so a wrong position anywhere flips the row red.
    */
  private val shuffle = CatalogQuery(
    "x4_corpus_shuffle",
    (s: SparkSession, dir: String) =>
      CorpusMix.withShufflePosition(Tables(s, dir).documents, "doc_id")
        .select(col("doc_id").as("doc"), col("shuffle_pos"))
        .orderBy(col("doc")),
    Some("""SELECT doc_id AS doc,
           |  CAST(row_number() OVER (ORDER BY
           |    substr(md5(concat('shuf1:', CAST(doc_id AS VARCHAR))), 1, 8)
           |      || '-' || CAST(doc_id AS VARCHAR)) - 1 AS BIGINT)
           |    AS shuffle_pos
           |FROM documents ORDER BY doc""".stripMargin),
    doc = "Deterministic global corpus shuffle: reproducible keyed-hash " +
      "training order via distributed prefix sum, no global window")

  private val sourceCap = CatalogQuery(
    "x5_source_cap",
    (s: SparkSession, dir: String) =>
      // bounded-state path: O(strata·k) aggregate, no per-stratum sort
      // (the window twin is the differential in CorpusMixSpec)
      CorpusMix.capPerStratumBounded(Tables(s, dir).documents, "doc_id",
          "source", k = 10)
        .select(col("doc_id").as("doc"), col("source"), col("cap_rank"))
        .orderBy(col("doc")),
    Some("""WITH r AS (
           |  SELECT doc_id, source,
           |    row_number() OVER (PARTITION BY source ORDER BY
           |      substr(md5(concat('cap1:', CAST(doc_id AS VARCHAR))), 1, 8),
           |      doc_id) AS rk
           |  FROM documents)
           |SELECT doc_id AS doc, source, CAST(rk AS BIGINT) AS cap_rank
           |FROM r WHERE rk <= 10 ORDER BY doc""".stripMargin),
    doc = "Per-source document cap (k=10 by keyed hash): no source " +
      "dominates the mix; kept set is stable and nested in k")

  /** The whole corpus→training-set assembly in ONE query — the
    * composition a user of this library actually runs: exact dedup,
    * near-dup pruning, quality filtering, split assignment, per-
    * (lang, split) doc and token counts. Every stage is individually
    * oracled elsewhere (d1/d2/d5, t2, x1); this row proves they
    * COMPOSE without semantic drift, replayed end-to-end in one
    * independent DuckDB pipeline.
    */
  private val trainingSet = CatalogQuery(
    "x6_training_set",
    (s: SparkSession, dir: String) => {
      val d = Tables(s, dir).documents
      val cleaned = Dedup.pruneNearDuplicates(
        Dedup.dropExactDuplicates(d, "doc_id", "text"), "doc_id",
        Dedup.ngramJaccardPairs(d, "doc_id", "text",
          n = 3, threshold = 0.8, maxDf = 100))
      val scored = TextAnalysis.withQuality(cleaned, "text")
        .filter(col("quality") >= 0.75)
      CorpusMix.withSplit(scored, "doc_id")
        .groupBy(col("lang"), col("split"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("total_tokens"))
        .orderBy(col("lang"), col("split"))
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
           |  WHERE c*1.0/(sa.sz + sb.sz - c) >= 0.8),
           |clean AS (
           |  SELECT * FROM documents
           |  WHERE doc_id IN (SELECT keep_id FROM keep_exact)
           |    AND doc_id NOT IN (SELECT j FROM near_dup_j)),
           |f AS (
           |  SELECT doc_id, lang,
           |    list_filter(string_split_regex(text,'\s+'), w -> w <> '') AS fws,
           |    len(regexp_replace(text, '[^.,!?;:]', '', 'g'))*1.0/len(text)
           |      AS punct_ratio
           |  FROM clean),
           |g AS (
           |  SELECT doc_id, lang, CAST(len(fws) AS BIGINT) AS n_tokens,
           |    punct_ratio,
           |    len(list_filter(fws, w -> list_contains(['the','a','of','to','and'], w)))
           |      *1.0/len(fws) AS stop_ratio
           |  FROM f),
           |q AS (
           |  SELECT doc_id, lang, n_tokens FROM g
           |  WHERE round(0.5*least(1.0, n_tokens/50.0) + 0.25*(1.0-punct_ratio)
           |        + 0.25*least(1.0, 4.0*stop_ratio), 6) >= 0.75),
           |sp AS (
           |  SELECT lang, n_tokens,
           |    CASE WHEN substr(md5(concat('split:', CAST(doc_id AS VARCHAR))), 1, 8)
           |              < 'cccccccc' THEN 'train'
           |         WHEN substr(md5(concat('split:', CAST(doc_id AS VARCHAR))), 1, 8)
           |              < 'e6666666' THEN 'val'
           |         ELSE 'test' END AS split
           |  FROM q)
           |SELECT lang, split, count(*) AS n_docs,
           |  CAST(sum(n_tokens) AS BIGINT) AS total_tokens
           |FROM sp GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
    doc = "End-to-end training-set assembly: exact dedup -> near-dup " +
      "prune -> quality >= 0.75 -> train/val/test split -> corpus stats")

  /** 32-token windows, stride 24 (8 tokens of carried context). The
    * geometry is closed-form, so the oracle replays it exactly —
    * including the reassembled chunk text, which pins tokenization,
    * slicing, and join-with-space byte for byte.
    */
  private val chunks = CatalogQuery(
    "x7_chunk_overlap",
    (s, dir) => Chunking.chunkDocs(Tables(s, dir).documents,
        chunkTokens = 32, stride = 24)
      .orderBy(col("doc"), col("chunk_id")),
    Some("""WITH toks AS (
           |  SELECT doc_id,
           |    list_filter(string_split_regex(text,'\s+'), w -> w <> '') AS ws
           |  FROM documents),
           |base AS (SELECT doc_id, ws, len(ws) AS n FROM toks
           |         WHERE len(ws) >= 1),
           |c AS (SELECT doc_id, ws, n,
           |        CASE WHEN n <= 32 THEN 1 ELSE (n - 32 + 23)//24 + 1 END
           |          AS nchunks
           |      FROM base),
           |e AS (SELECT doc_id, ws, n, CAST(cid AS BIGINT) AS chunk_id
           |      FROM c, unnest(range(0, nchunks)) AS t(cid))
           |SELECT doc_id AS doc, chunk_id,
           |  CAST(chunk_id*24 + 1 AS BIGINT) AS start_tok,
           |  CAST(least(32, n - chunk_id*24) AS BIGINT) AS n_tokens,
           |  list_aggregate(
           |    ws[(chunk_id*24 + 1):(chunk_id*24 + least(32, n - chunk_id*24))],
           |    'string_agg', ' ') AS chunk_text
           |FROM e ORDER BY doc, chunk_id""".stripMargin),
    doc = "Overlapping context-window chunking (32-token windows, " +
      "stride 24): row-local explode, no shuffle; exact text replay")

  /** Budget 2000 tokens per lang at the gate's sf0.01 — roughly half
    * of each lang's corpus, so both the keep and the drop sides are
    * exercised and every lang's kept total lands just under budget
    * (1956–1994 of 2000), which pins the prefix-sum cutoff exactly.
    */
  private val tokenBudget = CatalogQuery(
    "x8_token_budget",
    (s: SparkSession, dir: String) => {
      val d = Tables(s, dir).documents
        .select(col("doc_id"), col("lang"),
          TextAnalysis.wordCount(col("text")).as("n_tokens"))
      CorpusMix.capTokensPerStratum(d, "doc_id", "lang", "n_tokens",
          budget = 2000L)
        .select(col("doc_id").as("doc"), col("lang"), col("n_tokens"),
          col("cum_tokens"))
        .orderBy(col("doc"))
    },
    Some("""WITH t AS (
           |  SELECT doc_id, lang,
           |    CAST(len(list_filter(string_split_regex(text,'\s+'), w -> w <> ''))
           |      AS BIGINT) AS n_tokens
           |  FROM documents),
           |r AS (
           |  SELECT doc_id, lang, n_tokens,
           |    sum(n_tokens) OVER (PARTITION BY lang ORDER BY
           |      substr(md5(concat('tok1:', CAST(doc_id AS VARCHAR))), 1, 8),
           |      doc_id
           |      ROWS UNBOUNDED PRECEDING) AS cum
           |  FROM t)
           |SELECT doc_id AS doc, lang, n_tokens, CAST(cum AS BIGINT) AS cum_tokens
           |FROM r WHERE cum <= 2000 ORDER BY doc""".stripMargin),
    doc = "Per-language token budget (2000): keyed-hash order, keep " +
      "while the cumulative token count fits — mixing recipes are " +
      "specified in tokens, not documents")

  /** Epoch weights exercising every branch: upsample with a fractional
    * tail (src1 at 2.5), pure-Bernoulli downsample (src3 at 0.5), hard
    * drop (src5 at 0), and the integral default 1.0 (everything else —
    * threshold "00000000", so the fractional draw never fires).
    */
  private val epochs = CatalogQuery(
    "x9_mixture_epochs",
    (s: SparkSession, dir: String) => {
      CorpusMix.withEpochs(
          Tables(s, dir).documents.select(col("doc_id"), col("source")),
          "doc_id", "source",
          epochs = Map("src1" -> 2.5, "src3" -> 0.5, "src5" -> 0.0))
        .select(col("doc_id").as("doc"), col("source"), col("rep"))
        .orderBy(col("doc"), col("rep"))
    },
    Some("""WITH c AS (
           |  SELECT doc_id, source,
           |    CASE source WHEN 'src1' THEN 2 WHEN 'src3' THEN 0
           |      WHEN 'src5' THEN 0 ELSE 1 END
           |    + CASE WHEN substr(md5('epoch1:' || CAST(doc_id AS VARCHAR)), 1, 8)
           |        < CASE source WHEN 'src1' THEN '80000000'
           |            WHEN 'src3' THEN '80000000' ELSE '00000000' END
           |      THEN 1 ELSE 0 END AS copies
           |  FROM documents)
           |SELECT doc_id AS doc, source, CAST(t.rep AS BIGINT) AS rep
           |FROM c, unnest(range(copies)) AS t(rep)
           |ORDER BY doc, rep""".stripMargin),
    doc = "Fractional-epoch mixture: 2.5 epochs of src1, 0.5 of src3, " +
      "src5 dropped, 1.0 elsewhere — keyed-hash fractional copies, " +
      "zero-shuffle row-local replication")

  /** The float key (-ln(u)/w) decides only the per-stratum ORDER; both
    * engines compute it from the same 52-bit integral u, and distinct
    * md5 draws are far beyond ulp-separated, so the selected set is
    * engine-stable. Output columns stay integral.
    */
  private val weighted = CatalogQuery(
    "x10_weighted_sample",
    (s: SparkSession, dir: String) =>
      // bounded-state path — see x5; float race keys never leave the
      // aggregate, winners rejoin by integral id
      CorpusMix.weightedSampleBounded(Tables(s, dir).documents, "doc_id",
          "source", weightCol = "n_chars", k = 5)
        .select(col("doc_id").as("doc"), col("source"), col("sel_rank"))
        .orderBy(col("doc")),
    Some("""WITH b AS (
           |  SELECT doc_id, source, CAST(n_chars AS DOUBLE) AS w,
           |    CAST(('0x' || substr(md5('wsample1:' || CAST(doc_id AS VARCHAR)),
           |      1, 13)) AS BIGINT) AS u
           |  FROM documents),
           |r AS (
           |  SELECT doc_id, source,
           |    row_number() OVER (PARTITION BY source ORDER BY
           |      CASE WHEN w > 0
           |           THEN -ln((u + 1.0) / 4503599627370496.0) / w
           |           ELSE 1e308 END,
           |      doc_id) AS rk
           |  FROM b)
           |SELECT doc_id AS doc, source, CAST(rk AS BIGINT) AS sel_rank
           |FROM r WHERE rk <= 5 ORDER BY doc""".stripMargin),
    doc = "Weighted sampling without replacement (k=5 per source, " +
      "Efraimidis-Spirakis exponential race on deterministic keyed-" +
      "hash uniforms): length-biased, reproducible under retry, " +
      "nested in k")

  /** Split-leakage audit: near-duplicate pairs whose two documents
    * landed in DIFFERENT train/val/test splits — the eval-contamination
    * failure mode a random split guarantees on a corpus with
    * near-dups (a test doc with a train-side twin is a leaked label).
    * Composes two independently-oracled cores (x1's md5 split
    * assignment, d2's shingle-Jaccard pairs) and is replayed end-to-end
    * by DuckDB. At 100 TB both legs keep their own scale shapes; the
    * final joins are id-keyed equi-joins of the (tiny) pair relation
    * against the split projection.
    */
  private val splitLeakage = CatalogQuery(
    "x11_split_leakage",
    (s: SparkSession, dir: String) => {
      val d = Tables(s, dir).documents
      val pairs = Dedup.ngramJaccardPairs(d, "doc_id", "text",
        n = 3, threshold = 0.8, maxDf = 100)
      val splits = CorpusMix.withSplit(d, "doc_id")
        .select(col("doc_id"), col("split"))
      pairs
        .join(splits.select(col("doc_id").as("i"), col("split").as("split_i")),
          Seq("i"))
        .join(splits.select(col("doc_id").as("j"), col("split").as("split_j")),
          Seq("j"))
        .filter(col("split_i") =!= col("split_j"))
        .select(col("i"), col("j"), col("jaccard"),
          col("split_i"), col("split_j"))
        .orderBy(col("i"), col("j"))
    },
    // split thresholds replay x1's md5 hex assignment: 0.8·2^32 =
    // 0xcccccccc, 0.9·2^32 = 0xe6666666 (CorpusMix.thresholdHex)
    Some("""WITH toks AS (SELECT doc_id, list_filter(string_split_regex(text,'\s+'), w -> w <> '') AS ws
           |              FROM documents),
           |sh AS (SELECT DISTINCT doc_id, ws[i]||' '||ws[i+1]||' '||ws[i+2] AS s
           |       FROM toks, unnest(range(1, len(ws)-1)) AS t(i)),
           |rare AS (SELECT s FROM sh GROUP BY s HAVING count(*) <= 100),
           |shr AS (SELECT doc_id, s FROM sh WHERE s IN (SELECT s FROM rare)),
           |sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
           |common AS (SELECT a.doc_id i, b.doc_id j, count(*) c
           |           FROM shr a JOIN shr b ON a.s = b.s AND a.doc_id < b.doc_id
           |           GROUP BY 1, 2),
           |pairs AS (
           |  SELECT i, j, round(c*1.0/(sa.sz + sb.sz - c), 6) AS jaccard
           |  FROM common
           |  JOIN sizes sa ON sa.doc_id = i
           |  JOIN sizes sb ON sb.doc_id = j
           |  WHERE c*1.0/(sa.sz + sb.sz - c) >= 0.8),
           |splits AS (
           |  SELECT doc_id,
           |    CASE WHEN substr(md5('split:'||CAST(doc_id AS VARCHAR)),1,8)
           |              < 'cccccccc' THEN 'train'
           |         WHEN substr(md5('split:'||CAST(doc_id AS VARCHAR)),1,8)
           |              < 'e6666666' THEN 'val'
           |         ELSE 'test' END AS split
           |  FROM documents)
           |SELECT p.i, p.j, p.jaccard,
           |       si.split AS split_i, sj.split AS split_j
           |FROM pairs p
           |JOIN splits si ON si.doc_id = p.i
           |JOIN splits sj ON sj.doc_id = p.j
           |WHERE si.split <> sj.split
           |ORDER BY p.i, p.j""".stripMargin),
    doc = "Eval-contamination audit: word-3-gram Jaccard >= 0.8 " +
      "near-dup pairs that straddle train/val/test split boundaries " +
      "(id-keyed equi-joins of the pair relation against the split " +
      "projection; both legs reuse independently-oracled cores)")

  /** Quality-first curriculum layout. The sort key is the exact
    * integer micro-unit quality (floor(10⁶·q) over a common
    * denominator — see [[CorpusMix.curriculumOrder]]), so the oracle
    * replays the order bit-exact with no float-boundary luck, and the
    * position is the distributed prefix sum, not a global window.
    */
  private val curriculum = CatalogQuery(
    "x12_curriculum_order",
    (s: SparkSession, dir: String) =>
      CorpusMix.curriculumOrder(Tables(s, dir).documents, "doc_id", "text")
        .orderBy(col("doc")),
    Some("""WITH f AS (
           |  SELECT doc_id AS doc,
           |    CAST(len(list_filter(string_split_regex(text,'\s+'), w -> w <> ''))
           |         AS BIGINT) AS n,
           |    CAST(len(text) AS BIGINT) AS l,
           |    CAST(len(regexp_replace(text, '[^.,!?;:]', '', 'g'))
           |         AS BIGINT) AS p,
           |    CAST(len(list_filter(string_split_regex(text,'\s+'),
           |           w -> list_contains(['the','a','of','to','and'], w)))
           |         AS BIGINT) AS s
           |  FROM documents),
           |q AS (
           |  SELECT doc,
           |    CAST(CASE WHEN n > 0 THEN
           |      (10000*least(n,50)*l*n + 250000*(l-p)*n + 250000*least(n,4*s)*l)
           |        // (l*n)
           |    ELSE 0 END AS BIGINT) AS q_micro
           |  FROM f)
           |SELECT doc, q_micro,
           |  CAST(row_number() OVER (ORDER BY q_micro DESC, doc) - 1
           |       AS BIGINT) AS cur_pos
           |FROM q ORDER BY doc""".stripMargin),
    doc = "Quality-first curriculum positions in exact integer " +
      "micro-unit quality (common-denominator form of the t2 " +
      "composite); order materialized by the distributed prefix sum, " +
      "no global row_number window")

  /** The corpus datasheet per (source, lang): volume, mean quality
    * (x12's exact q_micro), PII exposure (t7's staged regex
    * semantics) and cross-stratum exact-duplicate rate — the numbers
    * a dataset card publishes, in one O(strata)-grain report. The
    * clean synthetic corpus would leave the risk columns vacuously
    * zero, so the gate plants a PII doc and a body syndicated across
    * TWO sources (the cross-stratum disclosure case d1's per-group
    * view doesn't aggregate); the oracle replays the entire
    * composition, plants included.
    */
  private val card = CatalogQuery(
    "x13_dataset_card",
    (s: SparkSession, dir: String) => {
      import s.implicits._
      val planted = Seq(
        (2000001L, "contact bob@example.com or call 555-123-4567", "en", "srcA"),
        (2000002L, "the shared syndicated body", "en", "srcA"),
        (2000003L, "the shared syndicated body", "en", "srcB"))
        .toDF("doc_id", "text", "lang", "source")
      val all = graft.core.Parallelism.fanOutSmallScan(
          Tables(s, dir).documents
            .select(col("doc_id"), col("text"), col("lang"), col("source")))
        .unionByName(planted)
      CorpusMix.datasetCard(all, "doc_id", "text", Seq("source", "lang"))
        .orderBy(col("source"), col("lang"))
    },
    Some("""WITH allrows AS (
           |  SELECT doc_id, text, lang, source FROM documents
           |  UNION ALL
           |  SELECT * FROM (VALUES
           |    (2000001, 'contact bob@example.com or call 555-123-4567', 'en', 'srcA'),
           |    (2000002, 'the shared syndicated body', 'en', 'srcA'),
           |    (2000003, 'the shared syndicated body', 'en', 'srcB')
           |  ) v(doc_id, text, lang, source)),
           |f AS (
           |  SELECT source, lang,
           |    list_filter(string_split_regex(text,'\s+'), w -> w <> '') AS ws,
           |    text AS t
           |  FROM allrows),
           |g AS (
           |  SELECT source, lang,
           |    CAST(len(ws) AS BIGINT) AS n,
           |    CAST(len(t) AS BIGINT) AS l,
           |    CAST(len(regexp_replace(t, '[^.,!?;:]', '', 'g')) AS BIGINT) AS p,
           |    CAST(len(list_filter(ws,
           |           w -> list_contains(['the','a','of','to','and'], w)))
           |         AS BIGINT) AS s,
           |    len(regexp_extract_all(t,
           |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS ne,
           |    regexp_replace(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
           |      '<EMAIL>', 'g') AS t1,
           |    md5(t) AS fp
           |  FROM f),
           |h AS (
           |  SELECT source, lang, fp,
           |    CASE WHEN n > 0 THEN
           |      (10000*least(n,50)*l*n + 250000*(l-p)*n + 250000*least(n,4*s)*l)
           |        // (l*n)
           |    ELSE 0 END AS q_micro,
           |    n,
           |    ne + len(regexp_extract_all(t1,
           |           '\b[0-9]{3}[-.][0-9]{3}[-.][0-9]{4}\b'))
           |       + len(regexp_extract_all(
           |           regexp_replace(t1, '\b[0-9]{3}[-.][0-9]{3}[-.][0-9]{4}\b',
           |             '<PHONE>', 'g'),
           |           '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b'))
           |      AS pii
           |  FROM g),
           |d AS (SELECT fp FROM h GROUP BY fp HAVING count(*) > 1),
           |j AS (SELECT h.*, CASE WHEN d.fp IS NULL THEN 0 ELSE 1 END AS isdup
           |      FROM h LEFT JOIN d ON h.fp = d.fp)
           |SELECT source, lang,
           |  CAST(count(*) AS BIGINT) AS n_docs,
           |  CAST(sum(n) AS BIGINT) AS n_tokens,
           |  CAST(sum(n) // count(*) AS BIGINT) AS mean_tokens,
           |  CAST(sum(q_micro) // count(*) AS BIGINT) AS mean_q_micro,
           |  CAST(sum(CASE WHEN pii > 0 THEN 1 ELSE 0 END) AS BIGINT)
           |    AS n_pii_docs,
           |  CAST(sum(isdup) AS BIGINT) AS n_dup_docs,
           |  CAST(sum(isdup) * 1000000 // count(*) AS BIGINT) AS dup_ppm
           |FROM j GROUP BY source, lang ORDER BY source, lang""".stripMargin),
    doc = "Per-(source, lang) dataset card: docs/tokens/mean length, " +
      "mean exact q_micro, PII-hit docs (t7 staged regexes), " +
      "cross-stratum exact-dup docs + ppm — one corpus scan for all " +
      "per-doc signals, one fingerprint aggregate whose >=2-owner " +
      "survivors join back as an O(dup-fps) marker; O(strata) output")

  /** Z-ordered layout plan over lineitem's (partkey, suppkey) — THE
    * CATALOG DEFAULT IS THE RANK-BUCKETED CURVE: both dimensions are
    * exact equi-depth quantile 16-bit coordinates
    * ([[graft.operators.Layout.zorderLayoutRanked]] — one folded
    * skinny rank pass for both dims), Morton-interleaved (exact
    * shift/mask bit interleave), ranked by the distributed prefix sum
    * into fixed 4096-row files, with the per-file min/max envelopes a
    * parquet reader would prune on. Rank bucketing is the default
    * because it is the variant that survives REAL keys: pmod
    * coordinates only fill the curve when the domain is dense, and on
    * a sparse domain their envelopes stop pruning entirely
    * (99.66% average envelope vs 16.3% ranked — the skewed-key rows of
    * SCALING_r12.json). Everything stays exact integer arithmetic, so
    * DuckDB replays coordinates (`(row_number()-1)*65536 // n`),
    * curve, ranks and envelopes bit-for-bit.
    */
  /** The z-order rows' per-row unique key. The synthetic lineitem's
    * (l_orderkey, l_linenumber) is NOT unique (TESTDATA is TPC-H-ish,
    * not TPC-H: sf0.01 has 60000 rows over 45832 such pairs), but the
    * full (orderkey, linenumber, partkey, suppkey) tuple is — so the
    * uid packs all four with decimal multipliers wide enough for every
    * shipped scale factor (suppkey < 10^4, partkey < 10^5, both by
    * data contract; the oracle replays the same arithmetic in BIGINT).
    * zorderAssign ranks the composite (z, uid) order directly, so the
    * ~10^16 uid magnitude needs no bit-packing headroom.
    */
  private def lineitemUid(s: SparkSession, dir: String) =
    Tables(s, dir).lineitem
      .select(col("l_orderkey"), col("l_linenumber").cast("long").as("ln"),
        col("l_partkey"), col("l_suppkey"))
      .withColumn("uid",
        (col("l_orderkey") * 8 + col("ln")) * lit(1000000000L) +
          col("l_partkey") * 10000 + col("l_suppkey"))

  private val uidSql =
    "(l_orderkey * 8 + l_linenumber) * 1000000000 + l_partkey * 10000 + l_suppkey"

  private val zorder = CatalogQuery(
    "x14_zorder_layout",
    (s: SparkSession, dir: String) => {
      val uid = lineitemUid(s, dir)
      graft.operators.Layout.zorderLayoutRanked(uid,
          "l_partkey", "l_suppkey", "uid", rowsPerFile = 4096)
        .groupBy(col("file_id"))
        .agg(count(lit(1)).as("n_rows"),
          min(col("l_partkey")).as("p_min"), max(col("l_partkey")).as("p_max"),
          min(col("l_suppkey")).as("s_min"), max(col("l_suppkey")).as("s_max"))
        .orderBy(col("file_id"))
    },
    Some(s"""WITH li AS (
           |  SELECT l_partkey, l_suppkey,
           |    $uidSql AS uid
           |  FROM lineitem),
           |n AS (SELECT count(*) AS n FROM li),
           |rk AS (
           |  SELECT l_partkey, l_suppkey, uid,
           |    row_number() OVER (ORDER BY l_partkey, uid) - 1 AS ra,
           |    row_number() OVER (ORDER BY l_suppkey, uid) - 1 AS rb
           |  FROM li),
           |sp AS (
           |  SELECT l_partkey, l_suppkey, uid,
           |    ra * 65536 // n.n AS xa, rb * 65536 // n.n AS xb
           |  FROM rk, n),
           |s1 AS (SELECT *, ((xa | (xa << 8)) & 16711935) AS a1,
           |                 ((xb | (xb << 8)) & 16711935) AS b1 FROM sp),
           |s2 AS (SELECT *, ((a1 | (a1 << 4)) & 252645135) AS a2,
           |                 ((b1 | (b1 << 4)) & 252645135) AS b2 FROM s1),
           |s3 AS (SELECT *, ((a2 | (a2 << 2)) & 858993459) AS a3,
           |                 ((b2 | (b2 << 2)) & 858993459) AS b3 FROM s2),
           |s4 AS (SELECT *, ((a3 | (a3 << 1)) & 1431655765) AS a4,
           |                 ((b3 | (b3 << 1)) & 1431655765) AS b4 FROM s3),
           |zz AS (SELECT *, (a4 | (b4 << 1)) AS z FROM s4),
           |fid AS (
           |  SELECT *, CAST((row_number() OVER (ORDER BY z, uid) - 1) // 4096
           |    AS BIGINT) AS file_id
           |  FROM zz)
           |SELECT file_id, CAST(count(*) AS BIGINT) AS n_rows,
           |  min(l_partkey) AS p_min, max(l_partkey) AS p_max,
           |  min(l_suppkey) AS s_min, max(l_suppkey) AS s_max
           |FROM fid GROUP BY file_id ORDER BY file_id""".stripMargin),
    doc = "Z-order (Morton) layout plan over exact rank-bucketed " +
      "(equi-depth) 16-bit coordinates — the skew-robust default: " +
      "quantile coordinates fill the curve for any key distribution; " +
      "both dimension ranks fold into one skinny distributed pass and " +
      "the file assignment rides the distributed prefix sum")

  /** The pmod DIFFERENTIAL TWIN of x14: the same Morton curve over
    * `pmod(key, 65536)` coordinates. Kept as the contrast row — pmod
    * is cheaper (no rank passes) and bit-exactly replayable, but only
    * fills the curve when the key domain is dense; on a sparse domain
    * its envelopes cover 99.66% of the value range (pruning dead,
    * SCALING_r12.json) while x14's ranked coordinates keep pruning.
    * NOT the layout a production table should copy — x14 is.
    */
  private val zorderPmod = CatalogQuery(
    "x14b_zorder_pmod",
    (s: SparkSession, dir: String) => {
      val uid = lineitemUid(s, dir)
      graft.operators.Layout.zorderAssign(uid,
          pmod(col("l_partkey"), lit(65536L)),
          pmod(col("l_suppkey"), lit(65536L)),
          "uid", rowsPerFile = 4096)
        .groupBy(col("file_id"))
        .agg(count(lit(1)).as("n_rows"),
          min(col("l_partkey")).as("p_min"), max(col("l_partkey")).as("p_max"),
          min(col("l_suppkey")).as("s_min"), max(col("l_suppkey")).as("s_max"))
        .orderBy(col("file_id"))
    },
    Some(s"""WITH sp AS (
           |  SELECT l_partkey, l_suppkey,
           |    $uidSql AS uid,
           |    CAST(l_partkey AS BIGINT) % 65536 AS xa,
           |    CAST(l_suppkey AS BIGINT) % 65536 AS xb
           |  FROM lineitem),
           |s1 AS (SELECT *, ((xa | (xa << 8)) & 16711935) AS a1,
           |                 ((xb | (xb << 8)) & 16711935) AS b1 FROM sp),
           |s2 AS (SELECT *, ((a1 | (a1 << 4)) & 252645135) AS a2,
           |                 ((b1 | (b1 << 4)) & 252645135) AS b2 FROM s1),
           |s3 AS (SELECT *, ((a2 | (a2 << 2)) & 858993459) AS a3,
           |                 ((b2 | (b2 << 2)) & 858993459) AS b3 FROM s2),
           |s4 AS (SELECT *, ((a3 | (a3 << 1)) & 1431655765) AS a4,
           |                 ((b3 | (b3 << 1)) & 1431655765) AS b4 FROM s3),
           |zz AS (SELECT *, (a4 | (b4 << 1)) AS z FROM s4),
           |rk AS (
           |  SELECT *, CAST((row_number() OVER (
           |      ORDER BY z, uid) - 1) // 4096
           |    AS BIGINT) AS file_id
           |  FROM zz)
           |SELECT file_id, CAST(count(*) AS BIGINT) AS n_rows,
           |  min(l_partkey) AS p_min, max(l_partkey) AS p_max,
           |  min(l_suppkey) AS s_min, max(l_suppkey) AS s_max
           |FROM rk GROUP BY file_id ORDER BY file_id""".stripMargin),
    doc = "pmod-coordinate Z-order twin of x14, kept as the contrast " +
      "row: cheaper (no rank passes) but its envelopes die on sparse " +
      "key domains — x14's ranked coordinates are the default a " +
      "production table should copy")

  /** Small-file compaction plan over the documents corpus: contiguous
    * groups of ~8 KB by running byte total (floor(prefix/budget) —
    * [[SequencePack.withPackAssignment]]'s binning, so a group may
    * overshoot by less than one trailing member, the same contract a
    * file-coalescing writer honors). O(groups) output; the prefix sum
    * is distributed, never a single-partition running-total window.
    */
  private val compaction = CatalogQuery(
    "x15_compaction_plan",
    (s: SparkSession, dir: String) => {
      val files = Tables(s, dir).documents.select(col("doc_id"),
        octet_length(col("text")).cast("long").as("bytes"))
      SequencePack.withPackAssignment(files, "doc_id", "bytes",
          maxTokens = 8192L)
        .groupBy(col("pack_id").as("group_id"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("bytes")).as("total_bytes"),
          min(col("doc_id")).as("first_doc"),
          max(col("doc_id")).as("last_doc"))
        .orderBy(col("group_id"))
    },
    Some("""WITH f AS (
           |  SELECT doc_id, CAST(strlen(text) AS BIGINT) AS bytes
           |  FROM documents),
           |p AS (
           |  SELECT *, COALESCE(SUM(bytes) OVER (ORDER BY doc_id
           |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           |    AS start_b
           |  FROM f)
           |SELECT CAST(start_b // 8192 AS BIGINT) AS group_id,
           |  CAST(count(*) AS BIGINT) AS n_docs,
           |  CAST(sum(bytes) AS BIGINT) AS total_bytes,
           |  min(doc_id) AS first_doc, max(doc_id) AS last_doc
           |FROM p GROUP BY 1 ORDER BY 1""".stripMargin),
    doc = "Target-size compaction plan: contiguous ~8 KB groups from " +
      "a distributed running byte total — the small-file governance " +
      "pass a 100 TB layout runs between ingest and read")

  /** x15 with LOCALITY SCOPE: a real small-file compactor coalesces
    * WITHIN a partition/source, never across it — merging files across
    * a pruning boundary would hand every scoped read a mixed file and
    * undo the partitioning. Groups come from a per-source running byte
    * total over [[SequencePack.groupedPrefixSum]] (range partition on
    * (source, doc_id); per-group offsets fold through an
    * O(partitions + groups) side plan — a huge source still spans many
    * tasks, unlike the naive per-source window). Output stays
    * O(groups); the oracle replays the per-source running total.
    */
  private val compactionScoped = CatalogQuery(
    "x15b_compaction_scoped",
    (s: SparkSession, dir: String) => {
      val files = Tables(s, dir).documents.select(col("doc_id"),
        col("source"), octet_length(col("text")).cast("long").as("bytes"))
      SequencePack.groupedPrefixSum(files, "source", "doc_id", "bytes",
          outCol = "start_b")
        .withColumn("group_id", expr("start_b div 8192L"))
        .groupBy(col("source"), col("group_id"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("bytes")).as("total_bytes"),
          min(col("doc_id")).as("first_doc"),
          max(col("doc_id")).as("last_doc"))
        .orderBy(col("source"), col("group_id"))
    },
    Some("""WITH f AS (
           |  SELECT doc_id, source, CAST(strlen(text) AS BIGINT) AS bytes
           |  FROM documents),
           |p AS (
           |  SELECT *, COALESCE(SUM(bytes) OVER (PARTITION BY source
           |    ORDER BY doc_id
           |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           |    AS start_b
           |  FROM f)
           |SELECT source, CAST(start_b // 8192 AS BIGINT) AS group_id,
           |  CAST(count(*) AS BIGINT) AS n_docs,
           |  CAST(sum(bytes) AS BIGINT) AS total_bytes,
           |  min(doc_id) AS first_doc, max(doc_id) AS last_doc
           |FROM p GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
    doc = "Source-scoped compaction plan: ~8 KB contiguous groups that " +
      "never merge across the source pruning boundary — per-source " +
      "running byte totals via the grouped distributed prefix sum")

  override def queries: Seq[CatalogQuery] =
    Seq(mix, pack, saltedAgg, shuffle, sourceCap, trainingSet, chunks,
      tokenBudget, epochs, weighted, splitLeakage, curriculum, card,
      zorder, zorderPmod, compaction, compactionScoped)
}
