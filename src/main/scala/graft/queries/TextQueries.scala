package graft.queries

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.core.{CatalogQuery, QueryModule, Tables}
import graft.operators.{LanguageModel, Lineage, TextAnalysis, TfIdf}

/** Catalog entries for the text-analysis operators over `documents`.
  * All four are pure projections with exact integer/rational arithmetic,
  * so every one is DuckDB-oracled (including the rolling hash, replayed
  * with list_reduce over codepoints).
  */
object TextQueries extends QueryModule {

  private def docs(s: SparkSession, dir: String) = Tables(s, dir).documents

  private val stats = CatalogQuery(
    "t1_token_stats",
    (s, dir) => TextAnalysis.tokenStats(docs(s, dir), "doc_id", "text")
      .orderBy(col("doc")),
    Some("""SELECT doc_id AS doc,
           | CAST(len(list_filter(string_split_regex(text,'\s+'), w -> w <> ''))
           |      AS BIGINT) AS n_tokens,
           | CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9\s]'))
           |      AS BIGINT) AS n_bpe_tokens,
           | CAST(len(text) AS BIGINT) AS n_chars,
           | CAST(ceil(len(text)/4.0) AS BIGINT) AS est_tokens_char4
           |FROM documents ORDER BY doc""".stripMargin),
    doc = "Whitespace + BPE-ish-regex token counts per document")

  private val quality = CatalogQuery(
    "t2_quality_score",
    (s, dir) => TextAnalysis.qualityScore(
        graft.core.Parallelism.fanOutSmallScan(
          docs(s, dir).select(col("doc_id"), col("text"))),
        "doc_id", "text")
      .orderBy(col("doc")),
    Some("""WITH f AS (
           |  SELECT doc_id AS doc,
           |    list_filter(string_split_regex(text,'\s+'), w -> w <> '') AS ws,
           |    len(regexp_replace(text, '[^.,!?;:]', '', 'g'))*1.0/len(text)
           |      AS punct_ratio,
           |    text AS t
           |  FROM documents),
           |g AS (
           |  SELECT doc, CAST(len(ws) AS BIGINT) AS n_tokens, punct_ratio,
           |    len(list_filter(ws, w -> list_contains(['the','a','of','to','and'], w)))
           |      *1.0/len(ws) AS stop_ratio,
           |    list_sum(list_transform(ws, w -> len(w)))*1.0/len(ws) AS mtl
           |  FROM f)
           |SELECT doc, n_tokens,
           |  round(punct_ratio, 6) AS punct_ratio,
           |  round(stop_ratio, 6) AS stopword_ratio,
           |  round(mtl, 4) AS mean_token_len,
           |  round(0.5*least(1.0, n_tokens/50.0) + 0.25*(1.0-punct_ratio)
           |        + 0.25*least(1.0, 4.0*stop_ratio), 6) AS quality
           |FROM g ORDER BY doc""".stripMargin),
    doc = "Length/punctuation/stopword quality heuristics + composite score")

  private val langid = CatalogQuery(
    "t3_language_id",
    (s, dir) => TextAnalysis.languageId(
        graft.core.Parallelism.fanOutSmallScan(
          docs(s, dir).select(col("doc_id"), col("text"))),
        "doc_id", "text")
      .orderBy(col("doc")),
    Some("""WITH toks AS (
           |  SELECT doc_id AS doc,
           |    list_filter(string_split_regex(text,'\s+'), w -> w <> '') AS ws
           |  FROM documents),
           |scores AS (
           |  SELECT doc, l.lang,
           |    CAST(len(list_filter(ws, w -> list_contains(l.markers, w)))
           |         AS BIGINT) AS score
           |  FROM toks, (VALUES
           |    ('de', ['der','die','das','und','nicht']),
           |    ('en', ['the','a','of','to','and']),
           |    ('es', ['el','los','que','y','en']),
           |    ('fr', ['le','la','les','et','est'])) AS l(lang, markers)),
           |best AS (
           |  SELECT doc, lang, score,
           |    row_number() OVER (PARTITION BY doc ORDER BY score DESC, lang) AS rn
           |  FROM scores)
           |SELECT doc, CASE WHEN score = 0 THEN 'und' ELSE lang END AS lang_guess,
           |       score
           |FROM best WHERE rn = 1 ORDER BY doc""".stripMargin),
    doc = "Marker-word language ID with deterministic argmax")

  private val fingerprint = CatalogQuery(
    "t4_fingerprints",
    (s, dir) => TextAnalysis.fingerprints(docs(s, dir), "doc_id", "text")
      .orderBy(col("doc")),
    Some("""SELECT doc_id AS doc, md5(text) AS md5_fp,
           | list_reduce(
           |   list_transform(list_filter(string_split(text, ''), c -> c <> ''),
           |                  c -> CAST(unicode(c) AS BIGINT)),
           |   (a, b) -> (a*31 + b) % 1000000007) AS rolling_fp
           |FROM documents ORDER BY doc""".stripMargin),
    doc = "md5 + Karp-Rabin rolling-hash content fingerprints")

  /** The reference's scalar-function surface in one query (SURVEY §2.7:
    * trim, substring/char-index, concat, length, token membership) plus
    * the native token_count Expression — its per-occurrence count must
    * match the oracle's composed list_filter form exactly.
    */
  private val scalars = CatalogQuery(
    "t5_scalar_functions",
    (s, dir) => {
      // native functions register in the Tables constructor (the one
      // chokepoint) — no per-query ensureRegistered needed
      Tables(s, dir).documents
      .select(col("doc_id").as("doc"),
        graft.functions.TokenCount(col("text"), lit("hash")).as("n_hash"),
        length(trim(col("text"))).cast("long").as("trimmed_len"),
        substring(col("text"), 1, 12).as("prefix"),
        concat_ws("|", col("lang"), col("source")).as("tag"),
        upper(substring(col("source"), 4, 10)).as("src_num"))
      .orderBy(col("doc"))
    },
    Some("""SELECT doc_id AS doc,
           | CAST(len(list_filter(string_split_regex(text,'\s+'),
           |                      w -> w = 'hash')) AS BIGINT) AS n_hash,
           | CAST(len(trim(text)) AS BIGINT) AS trimmed_len,
           | substr(text, 1, 12) AS prefix,
           | concat_ws('|', lang, source) AS tag,
           | upper(substr(source, 4, 10)) AS src_num
           |FROM documents ORDER BY doc""".stripMargin),
    doc = "Reference scalar functions (trim/substring/concat/length) + " +
      "the native token_count Catalyst expression")

  private val repetition = CatalogQuery(
    "t6_repetition",
    (s, dir) => TextAnalysis.repetitionStats(
        graft.core.Parallelism.fanOutSmallScan(
          docs(s, dir).select(col("doc_id"), col("text"))),
        "doc_id", "text")
      .orderBy(col("doc")),
    Some("""WITH toks AS (
           |  SELECT doc_id,
           |    list_filter(string_split_regex(text,'\s+'), w -> w <> '') AS ws
           |  FROM documents),
           |base AS (
           |  SELECT doc_id, CAST(len(ws) AS BIGINT) AS n_tokens,
           |    CASE WHEN len(ws) > 0
           |         THEN round(1.0 - len(list_distinct(ws))*1.0/len(ws), 6)
           |         ELSE 0.0 END AS dup_word_ratio
           |  FROM toks),
           |g AS (
           |  SELECT doc_id, ws[i] || ' ' || ws[i+1] AS g
           |  FROM toks, unnest(range(1, len(ws))) t(i)),
           |gc AS (SELECT doc_id, g, count(*) AS c FROM g GROUP BY 1, 2),
           |gs AS (
           |  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_2grams,
           |    round(1.0 - count(*)*1.0/sum(c), 6) AS dup_2gram_ratio,
           |    round(max(c)*1.0/sum(c), 6) AS top_2gram_ratio
           |  FROM gc GROUP BY 1)
           |SELECT b.doc_id AS doc, b.n_tokens, b.dup_word_ratio,
           |  coalesce(gs.n_2grams, 0) AS n_2grams,
           |  coalesce(gs.dup_2gram_ratio, 0.0) AS dup_2gram_ratio,
           |  coalesce(gs.top_2gram_ratio, 0.0) AS top_2gram_ratio
           |FROM base b LEFT JOIN gs ON gs.doc_id = b.doc_id
           |ORDER BY doc""".stripMargin),
    doc = "Gopher-style repetition signals: duplicate-word fraction, " +
      "duplicate-2-gram fraction, top-2-gram share")

  /** The corpus carries no PII, so the query unions four PLANTED rows
    * (ids far above any real doc_id) whose redactions are hand-known
    * and replayed in the oracle's VALUES — without them the row would
    * pass vacuously with every count at 0 and nothing falsifiable.
    */
  private val pii = CatalogQuery(
    "t7_pii_redaction",
    (s, dir) => {
      import s.implicits._
      val planted = Seq(
        (1000001L, "contact bob@example.com or alice@web.co for details"),
        (1000002L, "call 555-123-4567 or 555.987.6543 now"),
        (1000003L, "server at 10.0.0.1 and 192.168.1.254 replied"),
        (1000004L, "mixed a@b.io 1.2.3.4 777-888-9999"),
        // consumed whole by the email pass: must NOT also count a phone
        (1000005L, "call 555-123-4567@corp.example now"))
        .toDF("doc_id", "text")
      // 1-row-group parquet at small SF scans as one task; fan the
      // regex-bound projection out before the per-row passes (no-op on
      // well-split inputs — see core.Parallelism)
      val all = graft.core.Parallelism.fanOutSmallScan(
          docs(s, dir).select(col("doc_id"), col("text")))
        .unionByName(planted)
      TextAnalysis.redactPii(all, "doc_id", "text").orderBy(col("doc"))
    },
    Some("""WITH allrows AS (
           |  SELECT doc_id, text FROM documents
           |  UNION ALL
           |  SELECT * FROM (VALUES
           |    (1000001, 'contact bob@example.com or alice@web.co for details'),
           |    (1000002, 'call 555-123-4567 or 555.987.6543 now'),
           |    (1000003, 'server at 10.0.0.1 and 192.168.1.254 replied'),
           |    (1000004, 'mixed a@b.io 1.2.3.4 777-888-9999'),
           |    (1000005, 'call 555-123-4567@corp.example now')
           |  ) v(doc_id, text)),
           |staged AS (
           |  SELECT doc_id, text,
           |    regexp_replace(text,
           |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
           |      '<EMAIL>', 'g') AS t1
           |  FROM allrows),
           |staged2 AS (
           |  SELECT *, regexp_replace(t1,
           |    '\b[0-9]{3}[-.][0-9]{3}[-.][0-9]{4}\b', '<PHONE>', 'g') AS t2
           |  FROM staged)
           |SELECT CAST(doc_id AS BIGINT) AS doc,
           |  CAST(len(regexp_extract_all(text,
           |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
           |    AS BIGINT) AS n_emails,
           |  CAST(len(regexp_extract_all(t1,
           |    '\b[0-9]{3}[-.][0-9]{3}[-.][0-9]{4}\b')) AS BIGINT) AS n_phones,
           |  CAST(len(regexp_extract_all(t2,
           |    '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b'))
           |    AS BIGINT) AS n_ips,
           |  regexp_replace(t2,
           |    '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b', '<IP>', 'g')
           |    AS redacted
           |FROM staged2 ORDER BY doc""".stripMargin),
    doc = "PII scrubbing: emails/phones/IPv4 redacted with typed " +
      "placeholders + per-doc counts; planted rows make it falsifiable")

  /** Scores are integral micronats (see [[LanguageModel.bigramNll]]'s
    * determinism argument); the one float op per distinct bigram is a
    * single `ln` over identical integer-derived doubles in both
    * engines, floored into the integer domain before any summation.
    */
  private val lmScore = CatalogQuery(
    "t8_lm_score",
    (s, dir) => LanguageModel.bigramNll(
        graft.core.Parallelism.fanOutSmallScan(
          docs(s, dir).select(col("doc_id"), col("lang"), col("text"))))
      .orderBy(col("doc")),
    Some("""WITH toks AS (
           |  SELECT doc_id, lang,
           |    list_filter(string_split_regex(text,'\s+'), w -> w <> '') AS ws
           |  FROM documents),
           |occ AS (
           |  SELECT doc_id, lang, ws[i] AS w1, ws[i+1] AS w2
           |  FROM toks, unnest(range(1, len(ws))) AS t(i)),
           |vocab AS (
           |  SELECT lang, count(DISTINCT w) AS v
           |  FROM (SELECT lang, unnest(ws) AS w FROM toks) GROUP BY lang),
           |docbg AS (
           |  SELECT doc_id, lang, w1, w2, count(*) AS m FROM occ GROUP BY 1,2,3,4),
           |model AS (
           |  SELECT lang, w1, w2, CAST(sum(m) AS BIGINT) AS c12
           |  FROM docbg GROUP BY 1,2,3),
           |heads AS (
           |  SELECT lang, w1, CAST(sum(c12) AS BIGINT) AS c1
           |  FROM model GROUP BY 1,2),
           |scored AS (
           |  SELECT d.doc_id AS doc, d.lang,
           |    CAST(sum(d.m) AS BIGINT) AS n_bigrams,
           |    CAST(sum(d.m * CAST(-floor(
           |      ln((mo.c12 + 1.0)/(h.c1 + vo.v)) * 1e6) AS BIGINT))
           |      AS BIGINT) AS nll_micro
           |  FROM docbg d
           |  JOIN model mo ON d.lang = mo.lang AND d.w1 = mo.w1 AND d.w2 = mo.w2
           |  JOIN heads h ON d.lang = h.lang AND d.w1 = h.w1
           |  JOIN vocab vo ON d.lang = vo.lang
           |  GROUP BY 1, 2)
           |SELECT doc, lang, n_bigrams, nll_micro,
           |  CAST(nll_micro // n_bigrams AS BIGINT) AS avg_nll_micro
           |FROM scored ORDER BY doc""".stripMargin),
    doc = "Corpus-trained per-language add-1 bigram LM: per-doc NLL in " +
      "integral micronats (the CCNet/KenLM perplexity-filter signal)")

  private val keywords = CatalogQuery(
    "t9_tfidf_keywords",
    (s, dir) => TfIdf.topKeywords(docs(s, dir), k = 3)
      .orderBy(col("doc"), col("rank")),
    Some("""WITH toks AS (
           |  SELECT doc_id,
           |    list_filter(string_split_regex(text,'\s+'), w -> w <> '') AS ws
           |  FROM documents),
           |tf AS (
           |  SELECT doc_id, w AS term, count(*) AS tf
           |  FROM (SELECT doc_id, unnest(ws) AS w FROM toks) GROUP BY 1, 2),
           |dfx AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
           |n AS (SELECT count(*) AS n FROM documents),
           |scored AS (
           |  SELECT tf.doc_id AS doc, tf.term,
           |    CAST(tf.tf AS BIGINT) AS tf, dfx.df,
           |    CAST(tf.tf * CAST(floor(ln(n.n*1.0/dfx.df) * 1e6) AS BIGINT)
           |      AS BIGINT) AS score_micro
           |  FROM tf JOIN dfx USING (term), n),
           |ranked AS (
           |  SELECT *, CAST(row_number() OVER (
           |      PARTITION BY doc ORDER BY score_micro DESC, term ASC)
           |    AS INT) AS rank
           |  FROM scored)
           |SELECT doc, rank, term, tf, df, score_micro
           |FROM ranked WHERE rank <= 3 ORDER BY doc, rank""".stripMargin),
    doc = "Top-3 TF-IDF keywords per document (integral micro-idf, " +
      "term-ASC tie-break): topic tagging / boilerplate spotting")

  /** Planted rows carry what the corpus lacks (tags, entities, the
    * double-encoded `&amp;lt;`, whitespace runs), so every branch of
    * the normalizer is exercised under the hash gate — on the clean
    * testdata alone t10 would be an expensive identity map and a
    * regression could hide behind it.
    */
  private val normalize = CatalogQuery(
    "t10_normalize_markup",
    (s, dir) => {
      import s.implicits._
      val planted = Seq(
        (1000001L, "<p>Hello <b>world</b></p>"),
        (1000002L, "a &amp;amp; b &lt;tag&gt; c &quot;q&quot; &#39;s&#39;"),
        (1000003L, "  lots\t\tof\n\nspace   here  "),
        (1000004L, "&nbsp;pad&nbsp;"),
        (1000005L, "<a href=\"x?a=1&amp;b=2\">link</a> tail"))
        .toDF("doc_id", "text")
      val all = graft.core.Parallelism.fanOutSmallScan(
          docs(s, dir).select(col("doc_id"), col("text")))
        .unionByName(planted)
      TextAnalysis.normalizeMarkup(all, "doc_id", "text")
        .orderBy(col("doc"))
    },
    Some("""WITH allrows AS (
           |  SELECT doc_id, text FROM documents
           |  UNION ALL
           |  SELECT * FROM (VALUES
           |    (1000001, '<p>Hello <b>world</b></p>'),
           |    (1000002, 'a &amp;amp; b &lt;tag&gt; c &quot;q&quot; &#39;s&#39;'),
           |    (1000003, '  lots' || chr(9) || chr(9) || 'of' || chr(10) ||
           |      chr(10) || 'space   here  '),
           |    (1000004, '&nbsp;pad&nbsp;'),
           |    (1000005, '<a href="x?a=1&amp;b=2">link</a> tail')
           |  ) v(doc_id, text))
           |SELECT CAST(doc_id AS BIGINT) AS doc,
           |  CAST(len(regexp_extract_all(text, '<[^>]*>')) AS BIGINT) AS n_tags,
           |  trim(regexp_replace(
           |    replace(replace(replace(replace(replace(replace(
           |      regexp_replace(text, '<[^>]*>', ' ', 'g'),
           |      '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
           |      '&#39;', ''''), '&nbsp;', ' '), '&amp;', '&'),
           |    '[ \t\r\n]+', ' ', 'g')) AS clean,
           |  CAST(len(trim(regexp_replace(
           |    replace(replace(replace(replace(replace(replace(
           |      regexp_replace(text, '<[^>]*>', ' ', 'g'),
           |      '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
           |      '&#39;', ''''), '&nbsp;', ' '), '&amp;', '&'),
           |    '[ \t\r\n]+', ' ', 'g'))) AS BIGINT) AS n_chars_clean
           |FROM allrows ORDER BY doc""".stripMargin),
    doc = "Markup normalization: HTML tags stripped, entities decoded " +
      "once, whitespace collapsed; planted rows exercise every branch")

  /** Planted rows again carry what the corpus lacks: multibyte text,
    * control bytes, U+FFFD. NB the ppm division is exact double math
    * on both sides (long/long promotes to double in Spark and DuckDB
    * alike), so the floor is engine-portable.
    */
  private val encoding = CatalogQuery(
    "t11_encoding_stats",
    (s, dir) => {
      import s.implicits._
      val planted = Seq(
        (1000001L, "café naïve 日本語 text"),
        (1000002L, "binary\u0001sniff\u0002here"),
        (1000003L, "bad decode �� mark"),
        (1000004L, ""),
        (1000005L, "pure ascii stays clean"))
        .toDF("doc_id", "text")
      val all = graft.core.Parallelism.fanOutSmallScan(
          docs(s, dir).select(col("doc_id"), col("text")))
        .unionByName(planted)
      TextAnalysis.encodingStats(all, "doc_id", "text").orderBy(col("doc"))
    },
    Some("""WITH allrows AS (
           |  SELECT doc_id, text FROM documents
           |  UNION ALL
           |  SELECT * FROM (VALUES
           |    (1000001, 'café naïve 日本語 text'),
           |    (1000002, 'binary' || chr(1) || 'sniff' || chr(2) || 'here'),
           |    (1000003, 'bad decode �� mark'),
           |    (1000004, ''),
           |    (1000005, 'pure ascii stays clean')
           |  ) v(doc_id, text))
           |SELECT CAST(doc_id AS BIGINT) AS doc,
           |  CAST(len(text) AS BIGINT) AS n_chars,
           |  CAST(len(regexp_extract_all(text, '[^\x00-\x7F]')) AS BIGINT)
           |    AS n_non_ascii,
           |  CAST(len(regexp_extract_all(text,
           |    '[\x00-\x08\x0B\x0C\x0E-\x1F]')) AS BIGINT) AS n_control,
           |  CAST(len(regexp_extract_all(text, '�')) AS BIGINT)
           |    AS n_replacement,
           |  CASE WHEN len(text) = 0 THEN 0 ELSE
           |    CAST(floor(len(regexp_extract_all(text, '[^\x00-\x7F]'))
           |      * 1000000 / len(text)) AS BIGINT) END AS non_ascii_ppm
           |FROM allrows ORDER BY doc""".stripMargin),
    doc = "Encoding sanity: non-ASCII/control/U+FFFD counts + integral " +
      "ppm ratio; planted multibyte/control rows make it falsifiable")

  /** k=20 bites on the 31-token test vocabulary (cum_share_ppm tops
    * out below 1e6), so a broken limit or a dropped token flips the
    * row red.
    */
  private val vocab = CatalogQuery(
    "t12_vocab_coverage",
    (s, dir) => TextAnalysis.vocabCoverage(docs(s, dir), "text", k = 20)
      .orderBy(col("rank")),
    Some("""WITH tok AS (
           |  SELECT unnest(list_filter(string_split_regex(text, '\s+'),
           |    w -> w <> '')) AS w
           |  FROM documents),
           |c AS (SELECT w, count(*) AS cnt FROM tok GROUP BY w),
           |tot AS (SELECT sum(cnt) AS total FROM c),
           |top AS (SELECT w, cnt FROM c ORDER BY cnt DESC, w LIMIT 20)
           |SELECT CAST(row_number() OVER (ORDER BY cnt DESC, w) AS BIGINT)
           |    AS rank,
           |  w, cnt,
           |  CAST(sum(cnt) OVER (ORDER BY cnt DESC, w
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           |    * 1000000 // (SELECT total FROM tot) AS BIGINT)
           |    AS cum_share_ppm
           |FROM top ORDER BY rank""".stripMargin),
    doc = "Tokenizer-design staple: top-k corpus tokens with exact " +
      "cumulative coverage share; vocab-sized shuffle, k-bounded window")

  /** Count-min-sketch heavy hitters — the sketch family's fourth member
    * (HLL distinct, KLL percentiles q15b, Bloom membership d11, CMS
    * frequencies here). The corpus-sized work is Spark's built-in
    * mergeable `count_min_sketch` aggregate: each task folds its rows
    * into a local w×d counter grid and the shuffle carries one ~MB
    * sketch per partition — no vocab-sized exchange at all. That is the
    * 100 TB case for CMS: token/URL/n-gram frequency estimates when
    * even the groupBy vocabulary would be a heavy shuffle. The probe
    * side is the native `cms_estimate` expression over a k-row
    * candidate set joined by broadcast.
    *
    * Sketch estimates are engine-seeded (seed=42) so, like q15b, the
    * row emits the deterministic ERROR CERTIFICATE the oracle can
    * expect: CMS guarantees est >= true always, and est <= true +
    * eps·N with confidence 1-delta (eps=1e-4, delta=1e-3 → d=10 hash
    * rows; the certificate is deterministic for a given dataset+seed,
    * so a pass here is a pass in the gate). cnt itself is the exact
    * count the oracle recomputes.
    *
    * The corpus-sized token stream is deliberately NOT persisted —
    * caching it would pin O(corpus) memory for one cheap
    * re-projection — but the vocab-sized `counts` relation IS: it
    * feeds both the top-k and the scalar total, and AQE plans the two
    * consumers independently.
    */
  private val cms = CatalogQuery(
    "t13_cms_heavy_hitters",
    (s, dir) => {
      import s.implicits._
      val eps = 1e-4
      val tok = graft.core.Parallelism.fanOutSmallScan(
          docs(s, dir).select(col("text")))
        .select(explode(TextAnalysis.words(col("text"))).as("w"))
      val counts = Lineage.shared(tok.groupBy($"w").agg(count(lit(1)).as("cnt")))
      val top = counts.orderBy($"cnt".desc, $"w".asc).limit(10)
      val sk = tok.agg(
        expr("count_min_sketch(w, 0.0001d, 0.999d, 42)").as("sk"))
      val tot = counts.agg(sum($"cnt").as("total"))
      top.crossJoin(broadcast(sk)).crossJoin(broadcast(tot))
        .select($"w", $"cnt",
          (call_function("cms_estimate", $"sk", $"w") >= $"cnt" &&
            call_function("cms_estimate", $"sk", $"w") <=
              $"cnt" + ceil(lit(eps) * $"total").cast("long"))
            .as("ok_est"))
        .orderBy($"cnt".desc, $"w".asc)
    },
    Some("""WITH tok AS (
           |  SELECT unnest(list_filter(string_split_regex(text, '\s+'),
           |    w -> w <> '')) AS w
           |  FROM documents),
           |c AS (SELECT w, count(*) AS cnt FROM tok GROUP BY w)
           |SELECT w, cnt, true AS ok_est
           |FROM c ORDER BY cnt DESC, w LIMIT 10""".stripMargin),
    doc = "Count-min-sketch frequency estimates for the top-10 tokens " +
      "— mergeable sketch aggregate (one ~MB grid per partition, no " +
      "vocab shuffle) probed by the native cms_estimate expression; " +
      "oracle checks exact counts + the deterministic error certificate")

  /** One DuckDB BPE iteration: pair counts over the current vocabulary
    * representation, argmax with lexicographic tie-break, literal
    * left-to-right replace — the exact contract
    * [[graft.operators.Bpe.learnMerges]] documents.
    */
  private def bpeIterSql(i: Int, prev: String): String =
    s"""p$i AS (SELECT l[k] || ' ' || l[k+1] AS pair, sum(freq) AS f
       |       FROM (SELECT string_split(trim(repr), ' ') AS l, freq,
       |                    unnest(range(1, len(string_split(trim(repr), ' ')))) AS k
       |             FROM $prev) s GROUP BY 1),
       |b$i AS (SELECT pair, f FROM p$i ORDER BY f DESC, pair LIMIT 1),
       |w$i AS (SELECT replace(repr, ' '||(SELECT pair FROM b$i)||' ',
       |          ' '||replace((SELECT pair FROM b$i),' ','')||' ') AS repr,
       |          freq FROM $prev)""".stripMargin

  /** BPE tokenizer training: the 5 most frequent adjacent-symbol
    * merges learned from the corpus word-frequency table. The oracle
    * unrolls the SAME 5 iterations — same padded representation, same
    * lexicographic tie-break, same literal replace scan rule — so a
    * drift anywhere in the merge loop flips the hash.
    */
  private val bpe = CatalogQuery(
    "t14_bpe_merges",
    (s: SparkSession, dir: String) =>
      graft.operators.Bpe.learnMerges(docs(s, dir), "text", nMerges = 5)
        .orderBy(col("iter")),
    Some(s"""WITH w0 AS (
            |  SELECT ' ' || regexp_replace(wd, '(.)', '\\1 ', 'g') AS repr,
            |         count(*) AS freq
            |  FROM (SELECT unnest(string_split_regex(text, '\\s+')) AS wd
            |        FROM documents) t
            |  WHERE wd <> '' GROUP BY 1),
            |${bpeIterSql(1, "w0")},
            |${bpeIterSql(2, "w1")},
            |${bpeIterSql(3, "w2")},
            |${bpeIterSql(4, "w3")},
            |${bpeIterSql(5, "w4")}
            |SELECT * FROM (
            |  SELECT CAST(1 AS BIGINT) AS iter, pair, CAST(f AS BIGINT) AS freq FROM b1
            |  UNION ALL SELECT 2, pair, CAST(f AS BIGINT) FROM b2
            |  UNION ALL SELECT 3, pair, CAST(f AS BIGINT) FROM b3
            |  UNION ALL SELECT 4, pair, CAST(f AS BIGINT) FROM b4
            |  UNION ALL SELECT 5, pair, CAST(f AS BIGINT) FROM b5)
            |ORDER BY iter""".stripMargin),
    doc = "BPE merge learning (tokenizer training): corpus-sized work " +
      "is one tokenize + word-frequency aggregate; each of the 5 merge " +
      "rounds runs over the shrinking vocabulary relation with a 1-row " +
      "driver argmax; oracle unrolls the identical 5 iterations")

  /** PMI collocations: log is monotone, so ranking by PMI equals
    * ranking by its integer-ratio argument — scored in exact 64-bit
    * micro-units on both sides (see [[graft.operators.Collocations]]
    * for the determinism argument and the 100 TB cascade shape).
    */
  private val collocations = CatalogQuery(
    "t15_collocations",
    (s: SparkSession, dir: String) =>
      graft.operators.Collocations.pmiTopK(docs(s, dir), k = 100, minCount = 5L),
    Some("""WITH toks AS (
           |  SELECT lang,
           |    list_filter(string_split_regex(text,'\s+'), w -> w <> '') AS ws
           |  FROM documents),
           |occ AS (
           |  SELECT lang, ws[i] AS w1, ws[i+1] AS w2
           |  FROM toks, unnest(range(1, len(ws))) AS t(i)),
           |big AS (
           |  SELECT lang, w1, w2, CAST(count(*) AS BIGINT) AS c12
           |  FROM occ GROUP BY 1,2,3),
           |heads AS (
           |  SELECT lang, w1, CAST(sum(c12) AS BIGINT) AS c1h
           |  FROM big GROUP BY 1,2),
           |tails AS (
           |  SELECT lang, w2, CAST(sum(c12) AS BIGINT) AS c2t
           |  FROM big GROUP BY 1,2),
           |tot AS (
           |  SELECT lang, CAST(sum(c12) AS BIGINT) AS nb
           |  FROM big GROUP BY 1)
           |SELECT b.lang, b.w1, b.w2, b.c12,
           |  CAST((b.c12 * t.nb * 1000000) // (h.c1h * tl.c2t)
           |       AS BIGINT) AS lift_micro
           |FROM big b JOIN heads h ON b.lang = h.lang AND b.w1 = h.w1
           |JOIN tails tl ON b.lang = tl.lang AND b.w2 = tl.w2
           |JOIN tot t ON b.lang = t.lang
           |WHERE b.c12 >= 5
           |ORDER BY lift_micro DESC, b.lang, b.w1, b.w2
           |LIMIT 100""".stripMargin),
    doc = "Top-100 collocations by PMI rank in exact integer lift " +
      "micro-units (bigram event space, min-support 5): shrinking " +
      "aggregation cascade + equi-joins on (lang, word), O(langs) " +
      "totals broadcast, TakeOrderedAndProject top-k — no float, no " +
      "global sort")

  /** Corpus-drift audit: per-source total-variation distance from the
    * corpus unigram distribution, in exact integer micro-units. TV
    * (not KL/JS) because it is rational in the counts — see
    * [[graft.operators.TextAnalysis.sourceDivergence]] for the
    * closed-form absent-word fold and the DECIMAL(38,0) contract. The
    * oracle recomputes the whole thing from scratch in HUGEINT.
    */
  private val divergence = CatalogQuery(
    "t16_source_divergence",
    (s: SparkSession, dir: String) =>
      graft.operators.TextAnalysis.sourceDivergence(docs(s, dir), "source", "text")
        .orderBy(col("source")),
    Some("""WITH toks AS (
           |  SELECT source,
           |    unnest(list_filter(string_split_regex(text,'\s+'), w -> w <> '')) AS w
           |  FROM documents),
           |c AS (SELECT source, w, CAST(count(*) AS BIGINT) AS c
           |      FROM toks GROUP BY 1, 2),
           |cw AS (SELECT w, CAST(sum(c) AS BIGINT) AS cw FROM c GROUP BY 1),
           |st AS (SELECT source, CAST(sum(c) AS BIGINT) AS ts FROM c GROUP BY 1),
           |n AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM c),
           |j AS (
           |  SELECT c.source,
           |    sum(abs(CAST(c.c AS HUGEINT)*n.n - CAST(cw.cw AS HUGEINT)*st.ts))
           |      AS sum_abs,
           |    sum(CAST(cw.cw AS HUGEINT)) AS sum_cw
           |  FROM c JOIN cw USING (w) JOIN st ON c.source = st.source
           |  CROSS JOIN n
           |  GROUP BY 1)
           |SELECT j.source, st.ts AS n_tokens,
           |  CAST(j.sum_abs + CAST(st.ts AS HUGEINT)*(n.n - j.sum_cw)
           |       AS BIGINT) AS tv_num,
           |  CAST((j.sum_abs + CAST(st.ts AS HUGEINT)*(n.n - j.sum_cw)) * 1000000
           |       // (2 * CAST(st.ts AS HUGEINT) * n.n) AS BIGINT) AS tv_micro
           |FROM j JOIN st ON j.source = st.source CROSS JOIN n
           |ORDER BY j.source""".stripMargin),
    doc = "Per-source unigram total-variation drift vs the corpus in " +
      "exact integer micro-units: one tokenize pass, shrinking " +
      "aggregation cascade, word-keyed equi-join — no float, no log, " +
      "no cross join beyond O(1) scalar broadcasts")

  /** The train→apply other half of t14: learn the same 5 merges, then
    * TOKENIZE every document with them — per-doc word and BPE token
    * counts. The oracle re-learns the merges with t14's unrolled CTEs
    * and re-encodes from the final vocabulary relation, so a drift in
    * EITHER half (a wrong merge, or a wrong application of a right
    * merge) flips the hash. Encode-side work is one distinct-word
    * projection (the merge chain folded into a single codegen'd
    * replace cascade) + one word-keyed join — per distinct word, never
    * per occurrence.
    */
  private val bpeEncode = CatalogQuery(
    "t17_bpe_encode",
    (s: SparkSession, dir: String) => {
      val d = docs(s, dir)
      val merges = graft.operators.Bpe.learnMergeList(d, "text", nMerges = 5)
        .map(_._2)
      graft.operators.Bpe.encode(d, "text", "doc_id", merges)
        .orderBy(col("doc_id"))
    },
    Some(s"""WITH w0 AS (
            |  SELECT ' ' || regexp_replace(wd, '(.)', '\\1 ', 'g') AS repr,
            |         count(*) AS freq
            |  FROM (SELECT unnest(string_split_regex(text, '\\s+')) AS wd
            |        FROM documents) t
            |  WHERE wd <> '' GROUP BY 1),
            |${bpeIterSql(1, "w0")},
            |${bpeIterSql(2, "w1")},
            |${bpeIterSql(3, "w2")},
            |${bpeIterSql(4, "w3")},
            |${bpeIterSql(5, "w4")},
            |vocab AS (
            |  SELECT replace(trim(repr), ' ', '') AS w,
            |         CAST(len(string_split(trim(repr), ' ')) AS BIGINT) AS nt
            |  FROM w5),
            |dw AS (
            |  SELECT doc_id, wd FROM (
            |    SELECT doc_id, unnest(string_split_regex(text, '\\s+')) AS wd
            |    FROM documents) t
            |  WHERE wd <> ''),
            |agg AS (
            |  SELECT doc_id, count(*) AS nw, sum(nt) AS ntok
            |  FROM dw JOIN vocab v ON dw.wd = v.w
            |  GROUP BY doc_id)
            |SELECT d.doc_id,
            |       CAST(coalesce(a.nw, 0) AS BIGINT) AS n_words,
            |       CAST(coalesce(a.ntok, 0) AS BIGINT) AS n_tokens
            |FROM documents d LEFT JOIN agg a ON d.doc_id = a.doc_id
            |ORDER BY d.doc_id""".stripMargin),
    doc = "BPE tokenizer apply (train→encode loop closed): per-doc " +
      "word + token counts under the 5 learned merges; the merge " +
      "chain runs once per DISTINCT word as a codegen'd replace " +
      "cascade, documents equi-join the Heaps'-law-sized vocabulary " +
      "relation; oracle re-learns and re-applies the merges in SQL")

  /** Heaps'-law curve over ingestion order: the d14 novelty signal
    * integrated into the cumulative "what does the next document buy
    * me" view — where it flattens, more data stops buying vocabulary.
    * The cumulative column rides the SequencePack two-level prefix sum
    * over the O(docs) per-doc relation, never a global window; the
    * token stream feeds only a vocabulary-bounded min-owner aggregate.
    */
  private val vocabGrowthQ = CatalogQuery(
    "t18_vocab_growth",
    (s, dir) => TextAnalysis.vocabGrowth(docs(s, dir), "doc_id", "text")
      .orderBy(col("doc")),
    Some("""WITH toks AS (
           |  SELECT doc_id,
           |    unnest(list_filter(string_split_regex(text,'\s+'), w -> w <> '')) AS w
           |  FROM documents),
           |own AS (SELECT w, min(doc_id) AS doc_id FROM toks GROUP BY w),
           |per AS (SELECT doc_id, count(*) AS n_new FROM own GROUP BY doc_id)
           |SELECT d.doc_id AS doc,
           |  CAST(coalesce(per.n_new, 0) AS BIGINT) AS n_new_words,
           |  CAST(sum(coalesce(per.n_new, 0))
           |         OVER (ORDER BY d.doc_id ROWS UNBOUNDED PRECEDING)
           |       AS BIGINT) AS vocab_size
           |FROM documents d LEFT JOIN per ON per.doc_id = d.doc_id
           |ORDER BY doc""".stripMargin),
    doc = "Vocabulary-growth curve (distinct-word debuts per document " +
      "+ cumulative vocabulary in id order): min-owner aggregate, " +
      "owner-grain counts, distributed prefix sum — no global window, " +
      "no pair join; zero-debut documents are explicit rows")

  /** t19: the readability axis t2's composite doesn't measure, as the
    * classic Flesch reading-ease in exact integral micro-units — three
    * regexp counts riding the scan, two truncating integer divisions,
    * no float; the oracle replays the formula term by term (all three
    * division operands are nonnegative, so DuckDB's flooring `//` and
    * Spark's truncating `div` agree).
    */
  private val readabilityQ = CatalogQuery(
    "t19_readability",
    (s, dir) => TextAnalysis.readability(docs(s, dir), "doc_id", "text")
      .orderBy(col("doc")),
    Some("""WITH f AS (
           |  SELECT doc_id AS doc,
           |    CAST(len(list_filter(string_split_regex(text,'\s+'), w -> w <> ''))
           |         AS BIGINT) AS w,
           |    CAST(len(regexp_extract_all(text, '[.!?]+')) AS BIGINT) AS se,
           |    CAST(len(regexp_extract_all(text, '[aeiouy]+')) AS BIGINT) AS sy
           |  FROM documents)
           |SELECT doc, w AS n_words, se AS n_sentences, sy AS n_syllables,
           |  CAST(CASE WHEN w > 0
           |       THEN 206835000 - 1015000*w // greatest(se, 1)
           |                      - 84600000*sy // w
           |       ELSE 0 END AS BIGINT) AS flesch_micro
           |FROM f ORDER BY doc""".stripMargin),
    doc = "Flesch reading-ease in exact integer micro-units (vowel-" +
      "group syllables, [.!?]+ sentence runs, max(Se,1) floor, " +
      "wordless docs explicit zero rows): three regexp passes riding " +
      "the scan, no shuffle, no float")

  override def queries: Seq[CatalogQuery] =
    Seq(stats, quality, langid, fingerprint, scalars, repetition, pii,
      lmScore, keywords, normalize, encoding, vocab, cms, bpe,
      collocations, divergence, bpeEncode, vocabGrowthQ, readabilityQ)
}
