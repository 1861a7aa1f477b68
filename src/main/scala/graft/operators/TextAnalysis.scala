package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis operators for training-data pipelines: token counting
  * (whitespace + BPE-ish regex), quality scoring (length/punctuation/
  * stopword ratios), n-gram-free language ID (marker-word scoring), and
  * document fingerprinting (md5 + Karp-Rabin rolling hash).
  *
  * Everything is a single-pass projection — no shuffle, no UDF — so at
  * 100 TB each of these runs at parquet-scan speed. All arithmetic is
  * integer or rational so the DuckDB oracle reproduces it exactly.
  */
object TextAnalysis {

  /** BPE-ish tokenizer regex: letter runs, digit runs, or single
    * non-space symbols — the shape of a byte-pair pre-tokenizer's
    * word-split stage.
    */
  val BpeTokenRegex = "[a-z]+|[0-9]+|[^a-z0-9\\s]"

  /** Marker stopwords per language for the language-ID heuristic. The
    * testdata vocabulary is English-ish, so `en` wins where markers
    * appear and `und` (undetermined) is emitted when nothing matches.
    */
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "das", "und", "nicht"),
    "en" -> Seq("the", "a", "of", "to", "and"),
    "es" -> Seq("el", "los", "que", "y", "en"),
    "fr" -> Seq("le", "la", "les", "et", "est"))

  /** THE whitespace tokenization — every token/word count in the
    * engine (t1 stats, d5 quality gate, x2 packing weights) must go
    * through this one definition or drift from the DuckDB oracles'
    * `list_filter(string_split_regex(text,'\s+'), w -> w <> '')`.
    */
  private[graft] def words(textCol: Column): Column =
    filter(split(textCol, "\\s+"), w => w =!= "")

  /** `words(...)` counted, as BIGINT — the canonical token weight. */
  private[graft] def wordCount(textCol: Column): Column =
    size(words(textCol)).cast("long")

  /** Per-document token statistics: whitespace tokens, BPE-ish regex
    * tokens, characters, and the chars/4 token estimate LLM pipelines
    * use for budgeting.
    */
  def tokenStats(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol).as("doc"), col(textCol).as("t"))
      .withColumn("ws", words(col("t")))
      .select(
        col("doc"),
        size(col("ws")).cast("long").as("n_tokens"),
        // regexp_count counts matches without materializing the match
        // array that size(regexp_extract_all(...)) would allocate
        regexp_count(col("t"), lit(BpeTokenRegex))
          .cast("long").as("n_bpe_tokens"),
        length(col("t")).cast("long").as("n_chars"),
        ceil(length(col("t")) / lit(4.0)).cast("long").as("est_tokens_char4"))

  /** Appends the quality feature columns (`n_tokens`, `punct_ratio`,
    * `stopword_ratio`, `mean_token_len`, `quality`) to `df` WITHOUT
    * dropping its existing columns — the composable form streaming
    * pipelines chain after dedup. Single-pass projection. Empty and
    * whitespace-only documents score 0 across the board (guarded
    * divisions — an unguarded /0 would throw on ANSI sessions and
    * silently null-drop otherwise, either way poisoning a long-running
    * stream). Each unrounded ratio is computed ONCE and rounded in
    * place at the end, so the displayed columns can't drift from the
    * composite.
    */
  def withQuality(df: DataFrame, textCol: String): DataFrame = {
    val stop = typedLit(LangMarkers.toMap.apply("en"))
    df.withColumn("__ws", words(col(textCol)))
      .withColumn("n_tokens", size(col("__ws")).cast("long"))
      .withColumn("punct_ratio", when(length(col(textCol)) > 0,
        length(regexp_replace(col(textCol), "[^.,!?;:]", "")).cast("double") /
          length(col(textCol))).otherwise(0.0))
      .withColumn("stopword_ratio", when(col("n_tokens") > 0,
        size(filter(col("__ws"), w => array_contains(stop, w))).cast("double") /
          col("n_tokens")).otherwise(0.0))
      .withColumn("mean_token_len", when(col("n_tokens") > 0,
        aggregate(col("__ws"), lit(0L), (a, w) => a + length(w)).cast("double") /
          col("n_tokens")).otherwise(0.0))
      .withColumn("quality", round(
        when(col("n_tokens") > 0,
          lit(0.5) * least(lit(1.0), col("n_tokens") / lit(50.0)) +
            lit(0.25) * (lit(1.0) - col("punct_ratio")) +
            lit(0.25) * least(lit(1.0), lit(4.0) * col("stopword_ratio")))
          .otherwise(0.0), 6))
      .withColumn("punct_ratio", round(col("punct_ratio"), 6))
      .withColumn("stopword_ratio", round(col("stopword_ratio"), 6))
      .withColumn("mean_token_len", round(col("mean_token_len"), 4))
      .drop("__ws")
  }

  /** Quality-scoring features + a composite score in [0,1]: rewards
    * length (saturating at 50 tokens), penalizes punctuation density,
    * rewards stopword presence — the standard cheap heuristics for
    * filtering web-scraped training text. Pure rational arithmetic;
    * the quality composite uses the UNROUNDED ratios, so it is not a
    * function of the displayed columns.
    */
  def qualityScore(df: DataFrame, idCol: String, textCol: String): DataFrame =
    withQuality(df.select(col(idCol).as("doc"), col(textCol).as("t")), "t")
      .select(col("doc"), col("n_tokens"), col("punct_ratio"),
        col("stopword_ratio"), col("mean_token_len"), col("quality"))

  /** Marker-word language ID: score each candidate language by marker
    * hits, pick the argmax (ties to the alphabetically first language),
    * or `und` when no marker matches. The argmax is a sort of a 4-slot
    * in-row array — no shuffle, unlike the equivalent window query.
    */
  def languageId(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val scored = array(LangMarkers.map { case (lang, markers) =>
      struct(
        (-size(filter(col("ws"), w => array_contains(typedLit(markers), w))))
          .cast("long").as("neg"),
        lit(lang).as("lang"))
    }: _*)
    df.select(col(idCol).as("doc"), words(col(textCol)).as("ws"))
      .withColumn("best", element_at(sort_array(scored), 1))
      .select(col("doc"),
        when(col("best.neg") === 0, "und").otherwise(col("best.lang"))
          .as("lang_guess"),
        (-col("best.neg")).as("score"))
  }

  /** Within-document repetition signals — the Gopher-style filters for
    * boilerplate and degenerate text: fraction of duplicate words
    * (1 − distinct/total), and 2-gram repetition (duplicate-occurrence
    * fraction plus the share of the single most frequent 2-gram).
    * Word-level features are one in-row projection (`array_distinct`,
    * codegen'd); gram features go through one explode and two keyed
    * aggregations — shuffle O(doc · distinct grams) with map-side
    * combine, and every key includes the doc id, so there is no hot
    * key at any corpus size. Docs shorter than 2 words emit zero gram
    * counts/ratios rather than nulls (left join + coalesce).
    */
  def repetitionStats(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    // shared: base feeds BOTH the gram branch and the final join's left
    // side, so the scan + regex tokenization (the dominant cost at
    // scale) run once
    val base = Lineage.shared(df.select(col(idCol).as("doc"), words(col(textCol)).as("ws"))
      .withColumn("n_tokens", size(col("ws")).cast("long"))
      .withColumn("dup_word_ratio", when(col("n_tokens") > 0,
        round(lit(1.0) -
          size(array_distinct(col("ws"))).cast("double") / col("n_tokens"), 6))
        .otherwise(0.0)))
    val grams = base.select(col("doc"), explode(transform(
      Dedup.shingleIdx(2, col("ws")),
      i => concat_ws(" ",
        element_at(col("ws"), i), element_at(col("ws"), i + 1)))).as("g"))
    val gramStats = grams.groupBy(col("doc"), col("g"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("doc"))
      .agg(sum(col("c")).as("n_2grams"),
        round(lit(1.0) - count(lit(1)).cast("double") / sum(col("c")), 6)
          .as("dup_2gram_ratio"),
        round(max(col("c")).cast("double") / sum(col("c")), 6)
          .as("top_2gram_ratio"))
    base.drop("ws")
      .join(gramStats, Seq("doc"), "left")
      .select(col("doc"), col("n_tokens"), col("dup_word_ratio"),
        coalesce(col("n_2grams"), lit(0L)).as("n_2grams"),
        coalesce(col("dup_2gram_ratio"), lit(0.0)).as("dup_2gram_ratio"),
        coalesce(col("top_2gram_ratio"), lit(0.0)).as("top_2gram_ratio"))
  }

  /** PII patterns for [[redactPii]], shared with its tests and cited in
    * the t7 oracle. Deliberately conservative RE2-compatible syntax (no
    * lookaround): Spark replays them under java.util.regex and DuckDB
    * under RE2, and the subset below means the SAME matches on both.
    */
  val EmailRegex = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val PhoneRegex = "\\b[0-9]{3}[-.][0-9]{3}[-.][0-9]{4}\\b"
  val Ipv4Regex = "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"

  /** PII scrubbing — the redaction stage a web-corpus clean runs before
    * training: emails, phone numbers, and IPv4 literals replaced with
    * typed placeholders, plus per-document match counts (the audit
    * trail a compliance review asks for). One single-pass projection of
    * codegen'd regexp functions — parquet-scan speed, like the rest of
    * this module. Replacement is sequential (emails, then phones, then
    * IPs) and each count is taken on the stage's INPUT text, so every
    * count equals the number of placeholders that stage inserted — an
    * audit can reconcile counts against markers exactly. (Counting
    * everything on the raw text would double-book overlaps: a
    * digit-and-hyphen email local part like 555-123-4567@x.com is
    * consumed whole by the email pass, and must not also count as a
    * phone.)
    */
  def redactPii(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol).as("doc"), col(textCol).as("t"))
      .withColumn("__t1", regexp_replace(col("t"), EmailRegex, "<EMAIL>"))
      .withColumn("__t2", regexp_replace(col("__t1"), PhoneRegex, "<PHONE>"))
      .select(col("doc"),
        regexp_count(col("t"), lit(EmailRegex)).cast("long").as("n_emails"),
        regexp_count(col("__t1"), lit(PhoneRegex)).cast("long").as("n_phones"),
        regexp_count(col("__t2"), lit(Ipv4Regex)).cast("long").as("n_ips"),
        regexp_replace(col("__t2"), Ipv4Regex, "<IP>").as("redacted"))

  private val TagRegex = "<[^>]*>"

  /** Markup normalization — the first pass a web-crawl corpus takes
    * before any quality/dedup signal: HTML tags stripped, the five
    * ubiquitous entities decoded, whitespace runs collapsed. One
    * codegen'd projection per row, no shuffle anywhere — at 100 TB
    * this rides the ingest scan at I/O speed, exactly like t7.
    *
    * Order is load-bearing: tags first (entity decode can't mint a
    * tag), `&amp;` LAST so `&amp;lt;` decodes to the literal `&lt;`
    * and not `<` (the standard single-decode rule; both engines'
    * `replace` is a single non-recursive left-to-right pass, which is
    * what makes this oracle-able), entities before the whitespace
    * collapse so `&nbsp;` participates in it.
    */
  def normalizeMarkup(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val unentity = Seq("&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"",
        "&#39;" -> "'", "&nbsp;" -> " ", "&amp;" -> "&")
      .foldLeft(regexp_replace(col("t"), TagRegex, " ")) {
        case (acc, (ent, ch)) => replace(acc, lit(ent), lit(ch))
      }
    df.select(col(idCol).as("doc"), col(textCol).as("t"))
      .select(col("doc"),
        regexp_count(col("t"), lit(TagRegex)).cast("long").as("n_tags"),
        trim(regexp_replace(unentity, "[ \\t\\r\\n]+", " ")).as("clean"))
      .withColumn("n_chars_clean", length(col("clean")).cast("long"))
  }

  /** Encoding-sanity signals — the cheap filters a crawl pipeline runs
    * before any model-based scoring: non-ASCII ratio (mojibake and
    * wrong-charset detection), control characters (binary sniffing),
    * and the Unicode replacement char U+FFFD (a decoder already gave
    * up upstream). Pure per-row regex counts, rides the scan.
    *
    * Ratios are emitted in integral parts-per-million (count * 1e6 /
    * chars, floored): one exact integer division per row, so the row
    * hash-compares without float-rounding hazards.
    */
  def encodingStats(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val chars = length(col("t"))
    val nonAscii = regexp_count(col("t"), lit("[^\\x00-\\x7F]"))
    val ctl = regexp_count(col("t"), lit("[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F]"))
    df.select(col(idCol).as("doc"), col(textCol).as("t"))
      .select(col("doc"),
        chars.cast("long").as("n_chars"),
        nonAscii.cast("long").as("n_non_ascii"),
        ctl.cast("long").as("n_control"),
        regexp_count(col("t"), lit("�")).cast("long").as("n_replacement"),
        when(chars === 0, lit(0L))
          .otherwise(floor(nonAscii * lit(1000000L) / chars)).cast("long")
          .as("non_ascii_ppm"))
  }

  /** Content fingerprints: md5 hex (exact-dedup key, engine-portable)
    * and a Karp-Rabin rolling hash (base 31 mod 1e9+7) folded over the
    * character codepoints — the incremental-update-friendly fingerprint
    * used for shingling/streaming dedup. The fold is the native
    * `rolling_hash` expression (graft.functions.RollingHash): the
    * composed `aggregate(split(t, ''), ...)` form materializes one
    * single-char string per character per row (RollingHashSpec proves
    * the two equal, multibyte included).
    */
  def fingerprints(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol).as("doc"), col(textCol).as("t"))
      .select(col("doc"),
        md5(col("t")).as("md5_fp"),
        call_function("rolling_hash", col("t")).as("rolling_fp"))

  /** Vocabulary coverage curve: the top-k corpus tokens with their
    * cumulative share of all token occurrences — the "how big must the
    * vocab be to cover X% of the corpus" question every tokenizer
    * design starts from.
    *
    * Scale shape, stage by stage: (1) token counts are one explode +
    * hash aggregate — shuffle is O(vocab), which Heaps' law keeps
    * orders of magnitude below corpus size; (2) top-k over the vocab
    * table plans as TakeOrderedAndProject (per-partition heads, merge
    * of k·partitions rows — never a global sort); (3) the rank/cumsum
    * window runs AFTER the limit, over exactly k rows, so the
    * unpartitioned window frame is bounded by the parameter, not the
    * data (same deliberate pattern as p3's candidate tally); (4) the
    * denominator is a 1-row scalar aggregate joined by broadcast.
    *
    * The vocab-sized `counts` relation feeds BOTH the top-k and the
    * scalar total, so it is [[Lineage.shared]] — the cache holds the
    * vocabulary, never the corpus-sized token stream. Coverage is
    * integral ppm (`cum·10⁶ div total`, exact long division): a
    * rounded double quotient here would be the engine-round()
    * tie-break hazard s6 documents.
    */
  def vocabCoverage(df: DataFrame, textCol: String, k: Int): DataFrame = {
    val counts = Lineage.shared(df.select(explode(words(col(textCol))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("cnt")))
    val total = counts.agg(sum(col("cnt")).as("total"))
    val ord = Window.orderBy(col("cnt").desc, col("w").asc)
    counts.orderBy(col("cnt").desc, col("w").asc).limit(k)
      .crossJoin(broadcast(total))
      .select(
        row_number().over(ord).cast("long").as("rank"),
        col("w"), col("cnt"),
        sum(col("cnt"))
          .over(ord.rowsBetween(Window.unboundedPreceding, Window.currentRow))
          .as("cum"),
        col("total"))
      // long div is exact up to 9.2e12 cumulative tokens (cum·10⁶ must
      // fit a long); past that, promote to decimal — ppm itself is fine
      .select(col("rank"), col("w"), col("cnt"),
        expr("cum * 1000000 div total").as("cum_share_ppm"))
  }

  /** Per-stratum unigram distribution drift vs the whole corpus, as
    * TOTAL VARIATION distance — ½ Σ_w |p_s(w) − p(w)| — in exact
    * integer micro-units. TV is chosen over KL/JS precisely because it
    * is RATIONAL in the counts: with c = count(s,w), T_s = stratum
    * tokens, C_w = global word count, N = corpus tokens,
    *
    *   TV(s) · 2·T_s·N  =  Σ_{w∈s} |c·N − C_w·T_s|  +  T_s·(N − Σ_{w∈s} C_w)
    *
    * (the closed-form second term folds in every word ABSENT from the
    * stratum, so the word join only ever touches (s,w) pairs that
    * exist). No log, no float: the DuckDB oracle replays it bit-exact,
    * which no KL formulation survives (ln differs in the last ulp
    * across engines and a divergence SUM accumulates the drift).
    *
    * Scale shape: one tokenize pass → (stratum, word) count aggregate;
    * everything downstream is a SHRINKING cascade off that relation
    * (global word counts via a second groupBy, stratum totals via a
    * third) — the corpus is scanned once. The word-keyed join is
    * equi-join on `w`, already hash-partitioned by the groupBy; the
    * stratum totals and N are O(strata)/O(1) broadcasts. Products are
    * computed in DECIMAL(38,0), exact far past int64 (c·N reaches
    * 1e26 at 100 TB); the final micro-unit division is integral `div`
    * on decimals — no intermediate rounding on either engine.
    */
  def sourceDivergence(df: DataFrame, strataCol: String, textCol: String): DataFrame = {
    val dec = "decimal(38,0)"
    val c = Lineage.shared(df.select(col(strataCol).as("stratum"),
        explode(words(col(textCol))).as("w"))
      .groupBy(col("stratum"), col("w")).agg(count(lit(1)).as("c")))
    val wordTot = c.groupBy(col("w")).agg(sum(col("c")).as("cw"))
    val strataTot = c.groupBy(col("stratum")).agg(sum(col("c")).as("ts"))
    val corpusTot = strataTot.agg(sum(col("ts")).as("n"))
    c.join(wordTot, Seq("w"))
      .join(broadcast(strataTot), Seq("stratum"))
      .crossJoin(broadcast(corpusTot))
      .groupBy(col("stratum"), col("ts"), col("n"))
      .agg(
        sum(abs(col("c").cast(dec) * col("n") - col("cw").cast(dec) * col("ts")))
          .as("sum_abs"),
        sum(col("cw").cast(dec)).as("sum_cw"))
      .select(
        col("stratum").as("source"),
        col("ts").as("n_tokens"),
        // distinct internal names (tvn/tvd): a `tv_num` output alias
        // below would otherwise be captured by lateral column alias
        // resolution (see SimilarityQueries.perturbed for the trap)
        (col("sum_abs") + col("ts").cast(dec) * (col("n") - col("sum_cw")))
          .as("tvn"),
        (col("ts").cast(dec) * col("n") * 2).as("tvd"))
      .select(col("source"), col("n_tokens"),
        // tv_num is the RAW numerator (~2·TV·T_s·N): it exceeds int64
        // exactly in the at-scale regime (T_s·N ~ 1e19 already at a
        // 1e10-token corpus), where decimal→long cast silently nulls
        // under ansi=false. Guard loudly (the dyadicEwma assert_true
        // envelope); tv_micro — the actual statistic, ≤ 1e6 — divides
        // in decimal and is scale-safe
        when(assert_true(
          col("tvn") <= lit(Long.MaxValue).cast("decimal(38,0)"),
          lit("sourceDivergence: tv_num exceeds int64 — read tv_micro " +
            "(scale-safe) or widen the output type")).isNull,
          col("tvn").cast("long")).as("tv_num"),
        expr("CAST(tvn * 1000000 div tvd AS BIGINT)").as("tv_micro"))
  }

  /** Vocabulary-growth curve (Heaps' law measured, not assumed): for
    * every document in ingestion order (ascending id — the d14
    * first-owner contract), how many distinct words DEBUT in it, and
    * the cumulative vocabulary size once it is ingested. The curve is
    * the dedup-payoff planner's instrument: where it flattens, new
    * data stops buying new vocabulary.
    *
    * Shape: one tokenize pass → word min-owner aggregate (map-side
    * combined; output is vocabulary-bounded, not corpus-bounded) →
    * owner-grain counts → [[graft.operators.SequencePack.prefixSum]]
    * over the O(docs) per-doc relation for the cumulative column —
    * never a global single-partition window, and the corpus-sized
    * token stream never feeds a window at all. Docs contributing no
    * new word (or no words) are explicit zero-debut rows, so the curve
    * has one row per document by construction.
    */
  /** Flesch reading-ease per document in EXACT integer micro-units —
    * the readability axis of corpus quality t2's length/punct/stopword
    * composite doesn't see (translated boilerplate scores high on t2
    * and unreadably low here). The classic
    * 206.835 − 1.015·(W/Se) − 84.6·(Sy/W) becomes the integral
    *
    *   flesch_micro = 206835000 − 1015000·W div max(Se,1)
    *                            − 84600000·Sy div W
    *
    * with W = whitespace tokens (the t1 convention), Se = sentence
    * groups (`[.!?]+` runs), Sy = vowel-group syllable estimate
    * (`[aeiouy]+` runs, the standard heuristic) — counts from three
    * regexp passes riding the scan, truncating `div`s replayed
    * verbatim by the oracle, no float anywhere. Sentence-less text
    * reads as one sentence (the max(Se,1) floor); wordless docs are
    * explicit zero rows (a score needs a denominator, and the contract
    * is one row per document). Negative scores are real output (dense
    * run-on text drives the formula below zero) — they are data, not
    * errors.
    */
  def readability(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol).as("doc"),
        wordCount(col(textCol)).cast("long").as("w"),
        regexp_count(col(textCol), lit("[.!?]+")).cast("long").as("se"),
        regexp_count(col(textCol), lit("[aeiouy]+")).cast("long").as("sy"))
      .select(col("doc"), col("w").as("n_words"),
        col("se").as("n_sentences"), col("sy").as("n_syllables"),
        when(col("w") > 0,
          lit(206835000L) -
            expr("1015000 * w div greatest(se, 1)") -
            expr("84600000 * sy div w"))
          .otherwise(0L).as("flesch_micro"))

  def vocabGrowth(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val perDoc = df
      .select(col(idCol).as("doc"), explode(words(col(textCol))).as("w"))
      .groupBy(col("w")).agg(min(col("doc")).as("doc"))
      .groupBy(col("doc")).agg(count(lit(1)).as("n_new_words"))
    val all = df.select(col(idCol).as("doc"))
      .join(perDoc, Seq("doc"), "left")
      .na.fill(0L, Seq("n_new_words"))
    SequencePack.prefixSum(all, "doc", "n_new_words")
      .select(col("doc"), col("n_new_words"),
        (col("prefix_before") + col("n_new_words")).as("vocab_size"))
  }
}
