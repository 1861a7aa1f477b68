package graft.sql

import scala.collection.immutable.ListMap

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.core.Tables

/** The engine's SQL-text surface: the relational catalog family
  * (q1–q23) expressed as Spark SQL over registered views of the
  * TESTDATA tables — the analogue of the reference's query CLI
  * (mp3/src/main.go:130-304), where a user types a query instead of
  * building a DataFrame. Every text is the SAME logical plan as its
  * DataFrame twin (SqlParitySpec asserts result equality, schema
  * included), with physical intent carried by hints where the
  * DataFrame form broadcasts explicitly.
  *
  * The texts are Spark SQL, not the DuckDB oracle dialect — the two
  * differ in identifier quoting (backticks), date arithmetic
  * (`datediff`), and array indexing (0-based `[]`), so the catalog's
  * oracle strings cannot simply be replayed here.
  */
object GraftSql {

  /** Table name → accessor, in registration order. An accessor runs
    * only for a table a query references, because a call lists the
    * table's files, reads its parquet footers on a schema-cache miss
    * ([[Tables.parquet]]), and `events` normalizes its schema — eager
    * evaluation would make ONE unreadable table fail every SQL query on
    * the session, including ones that never mention it.
    */
  private val accessors: ListMap[String, Tables => DataFrame] = ListMap(
    "region" -> (_.region), "nation" -> (_.nation),
    "customer" -> (_.customer), "supplier" -> (_.supplier),
    "part" -> (_.part), "orders" -> (_.orders),
    "lineitem" -> (_.lineitem), "events" -> (_.events),
    "documents" -> (_.documents), "embeddings" -> (_.embeddings))

  /** Every registrable TESTDATA view name, in registration order. */
  val tableNames: Seq[String] = accessors.keys.toSeq

  /** The TESTDATA tables a SQL text references, by word-boundary match
    * (`_` is a word character, so `l_partkey` does not hit `part` but
    * `JOIN part ON` does). A false positive only registers an unused
    * view; a miss would fail analysis, and word-boundary containment
    * cannot miss a genuine table reference.
    */
  private[graft] def referencedTables(sqlText: String): Seq[String] = {
    val lower = sqlText.toLowerCase
    tableNames.filter(t => s"\\b$t\\b".r.findFirstIn(lower).isDefined)
  }

  /** Register every TESTDATA table as a temp view on this session,
    * through the same [[Tables]] accessors the DataFrame catalog reads
    * (so `events` carries the schema-adaptive ts normalization and the
    * native function family is registered). Idempotent.
    */
  def registerViews(spark: SparkSession, dir: String): Unit =
    registerViews(spark, dir, tableNames)

  /** Register only `tables` — the per-query entry [[run]] uses, so a
    * query's failure domain is exactly the tables it reads.
    */
  def registerViews(spark: SparkSession, dir: String,
                    tables: Seq[String]): Unit = {
    val tt = Tables(spark, dir)
    tables.foreach(name => accessors(name)(tt).createOrReplaceTempView(name))
  }

  /** Run one named catalog query as SQL text, registering ONLY the
    * views that query references.
    */
  def run(spark: SparkSession, dir: String, name: String): DataFrame = {
    val text = texts.getOrElse(name, pipelineTexts(name))
    registerViews(spark, dir, referencedTables(text))
    spark.sql(text)
  }

  /** Spark-SQL text per relational catalog query, keyed by the exact
    * catalog name. Kept in catalog order.
    */
  val texts: ListMap[String, String] = ListMap(
    "q1_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        | CAST(sum(CAST(l_quantity AS DECIMAL(28,6))) AS DOUBLE) AS sum_qty,
        | CAST(sum(CAST(l_extendedprice AS DECIMAL(28,6))) AS DOUBLE) AS sum_base_price,
        | CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,6))) AS DOUBLE) AS sum_disc_price,
        | CAST(sum(CAST(l_quantity AS DECIMAL(28,6))) AS DOUBLE) / count(l_quantity) AS avg_qty,
        | CAST(sum(CAST(l_discount AS DECIMAL(28,6))) AS DOUBLE) / count(l_discount) AS avg_disc,
        | count(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '2000-09-02 00:00:00'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "q2_topk_orders" ->
      """SELECT o_orderkey, o_custkey, o_totalprice
        |FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey
        |LIMIT 10""".stripMargin,

    "q3_revenue_by_nation" ->
      """SELECT /*+ BROADCAST(nation) */ n_name,
        | CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,6))) AS DOUBLE) AS revenue,
        | count(*) AS n_items
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name
        |ORDER BY n_name""".stripMargin,

    "q4_brand_revenue_broadcast" ->
      """SELECT /*+ BROADCAST(part) */ p_brand,
        | CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,6))) AS DOUBLE) AS revenue,
        | CAST(sum(CAST(l_quantity AS DECIMAL(28,6))) AS DOUBLE) AS total_qty
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE p_size > 10
        |GROUP BY p_brand
        |ORDER BY p_brand""".stripMargin,

    "q5_customers_without_urgent_orders" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey
        |                    AND o_orderpriority = '1-URGENT')
        |ORDER BY c_custkey""".stripMargin,

    "q6_customers_with_big_order" ->
      """SELECT c_custkey, c_name, c_mktsegment FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders
        |              WHERE o_custkey = c_custkey AND o_totalprice > 400000.0)
        |ORDER BY c_custkey""".stripMargin,

    "q7_top_order_per_customer" ->
      """SELECT o_custkey, o_orderkey, o_totalprice FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |         row_number() OVER (PARTITION BY o_custkey
        |                            ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |  FROM orders) WHERE rn = 1
        |ORDER BY o_custkey""".stripMargin,

    "q8_running_revenue_by_supplier" ->
      """SELECT l_suppkey, l_orderkey, l_linenumber,
        | CAST(sum(CAST(l_quantity AS DECIMAL(28,6))) OVER (
        |   PARTITION BY l_suppkey
        |   ORDER BY l_shipdate, l_orderkey, l_linenumber
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_qty
        |FROM lineitem
        |WHERE l_suppkey <= 3
        |ORDER BY l_suppkey, l_orderkey, l_linenumber""".stripMargin,

    "q9_distinct_counts" ->
      """SELECT count(DISTINCT l_partkey) AS distinct_parts,
        | count(DISTINCT l_suppkey) AS distinct_suppliers,
        | count(DISTINCT l_orderkey) AS distinct_orders
        |FROM lineitem""".stripMargin,

    "q9b_distinct_approx" ->
      """SELECT x.distinct_parts, x.distinct_suppliers, x.distinct_orders,
        | abs(CAST(e.e_parts AS DOUBLE) / CAST(x.distinct_parts AS DOUBLE) - 1.0) <= 0.06 AS ok_parts,
        | abs(CAST(e.e_supps AS DOUBLE) / CAST(x.distinct_suppliers AS DOUBLE) - 1.0) <= 0.06 AS ok_suppliers,
        | abs(CAST(e.e_orders AS DOUBLE) / CAST(x.distinct_orders AS DOUBLE) - 1.0) <= 0.06 AS ok_orders
        |FROM (SELECT count(DISTINCT l_partkey) AS distinct_parts,
        |        count(DISTINCT l_suppkey) AS distinct_suppliers,
        |        count(DISTINCT l_orderkey) AS distinct_orders
        |      FROM lineitem) x
        |CROSS JOIN (SELECT approx_count_distinct(l_partkey, 0.02) AS e_parts,
        |              approx_count_distinct(l_suppkey, 0.02) AS e_supps,
        |              approx_count_distinct(l_orderkey, 0.02) AS e_orders
        |            FROM lineitem) e
        |ORDER BY x.distinct_parts""".stripMargin,

    "q10_rollup_orders" ->
      """SELECT o_orderstatus, o_orderpriority,
        | count(*) AS n_orders,
        | CAST(sum(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE) AS total_price
        |FROM orders
        |GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
        |ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin,

    "q11_intersect_active_customers" ->
      """SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1995
        |INTERSECT
        |SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1996
        |ORDER BY o_custkey""".stripMargin,

    "q11b_except_lapsed_customers" ->
      """SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1995
        |EXCEPT
        |SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1996
        |ORDER BY o_custkey""".stripMargin,

    "q12_events_hourly" ->
      """SELECT date_trunc('hour', ts) AS hour, event_type,
        | count(*) AS n_events,
        | CAST(sum(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS total_value
        |FROM events
        |GROUP BY 1, 2
        |ORDER BY 1, 2""".stripMargin,

    "q13_union_order_events" ->
      """SELECT kind, count(*) AS n,
        | CAST(sum(CAST(amount AS DECIMAL(28,6))) AS DOUBLE) AS total_amount
        |FROM (
        |  SELECT o_custkey, 'opened' AS kind, o_totalprice AS amount FROM orders
        |  UNION ALL
        |  SELECT o_custkey, 'urgent' AS kind, o_totalprice AS amount
        |  FROM orders WHERE o_orderpriority = '1-URGENT')
        |GROUP BY kind ORDER BY kind""".stripMargin,

    "q14_pivot_status_priority" ->
      """SELECT o_orderstatus,
        | coalesce(`1-URGENT`, 0) AS `1-URGENT`,
        | coalesce(`2-HIGH`, 0) AS `2-HIGH`,
        | coalesce(`3-MEDIUM`, 0) AS `3-MEDIUM`,
        | coalesce(`4-NOT SPECIFIED`, 0) AS `4-NOT SPECIFIED`,
        | coalesce(`5-LOW`, 0) AS `5-LOW`
        |FROM (SELECT o_orderstatus, o_orderpriority FROM orders)
        |PIVOT (count(1) FOR o_orderpriority IN (
        |  '1-URGENT' AS `1-URGENT`, '2-HIGH' AS `2-HIGH`,
        |  '3-MEDIUM' AS `3-MEDIUM`, '4-NOT SPECIFIED' AS `4-NOT SPECIFIED`,
        |  '5-LOW' AS `5-LOW`))
        |ORDER BY o_orderstatus""".stripMargin,

    "q15_percentiles" ->
      """SELECT l_returnflag,
        | round(pp[0], 4) AS p50, round(pp[1], 4) AS p95, p50_qty
        |FROM (
        |  SELECT l_returnflag,
        |    percentile(l_extendedprice, array(0.5, 0.95)) AS pp,
        |    round(percentile(l_quantity, 0.5), 4) AS p50_qty
        |  FROM lineitem GROUP BY l_returnflag)
        |ORDER BY l_returnflag""".stripMargin,

    "q15b_percentiles_approx" ->
      """WITH ap AS (
        |  SELECT l_returnflag, pe[0] AS p50, pe[1] AS p95, pq AS p50_qty
        |  FROM (
        |    SELECT l_returnflag,
        |      approx_percentile(l_extendedprice, array(0.5, 0.95), 10000) AS pe,
        |      approx_percentile(l_quantity, 0.5, 10000) AS pq
        |    FROM lineitem GROUP BY l_returnflag)),
        |c AS (
        |  SELECT /*+ BROADCAST(ap) */ l.l_returnflag,
        |    CAST(count(1) AS DOUBLE) AS n,
        |    sum(CASE WHEN l.l_extendedprice <= ap.p50 THEN 1L ELSE 0L END) AS le_p50,
        |    sum(CASE WHEN l.l_extendedprice <  ap.p50 THEN 1L ELSE 0L END) AS lt_p50,
        |    sum(CASE WHEN l.l_extendedprice <= ap.p95 THEN 1L ELSE 0L END) AS le_p95,
        |    sum(CASE WHEN l.l_extendedprice <  ap.p95 THEN 1L ELSE 0L END) AS lt_p95,
        |    sum(CASE WHEN l.l_quantity <= ap.p50_qty THEN 1L ELSE 0L END) AS le_q,
        |    sum(CASE WHEN l.l_quantity <  ap.p50_qty THEN 1L ELSE 0L END) AS lt_q
        |  FROM lineitem l JOIN ap ON l.l_returnflag = ap.l_returnflag
        |  GROUP BY l.l_returnflag)
        |SELECT l_returnflag,
        |  le_p50 / n >= 0.5 - 1.5e-4 AND lt_p50 / n <= 0.5 + 1.5e-4 AS ok_p50,
        |  le_p95 / n >= 0.95 - 1.5e-4 AND lt_p95 / n <= 0.95 + 1.5e-4 AS ok_p95,
        |  le_q / n >= 0.5 - 1.5e-4 AND lt_q / n <= 0.5 + 1.5e-4 AS ok_p50_qty
        |FROM c ORDER BY l_returnflag""".stripMargin,

    "q16_cube_orders" ->
      """SELECT o_orderstatus, o_orderpriority, count(*) AS n_orders
        |FROM orders
        |GROUP BY CUBE (o_orderstatus, o_orderpriority)
        |ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin,

    // semantic twin of the typed TopKAggregator: the SQL form
    // materializes each group's full value list before slicing (the
    // aggregator ships only a k-element buffer) — fine as a parity
    // twin, not the 100 TB plan
    "q17_topk_aggregator" ->
      """SELECT o_orderstatus,
        | l[0] AS top1_price, l[1] AS top2_price, l[2] AS top3_price
        |FROM (
        |  SELECT o_orderstatus,
        |    slice(sort_array(collect_list(o_totalprice), false), 1, 3) AS l
        |  FROM orders GROUP BY o_orderstatus)
        |ORDER BY o_orderstatus""".stripMargin,

    "q18_order_gaps" ->
      """SELECT o_custkey, o_orderkey,
        | CAST(coalesce(datediff(CAST(o_orderdate AS DATE),
        |   lag(CAST(o_orderdate AS DATE)) OVER w), -1) AS BIGINT)
        |   AS days_since_prev,
        | CAST(coalesce(datediff(lead(CAST(o_orderdate AS DATE)) OVER w,
        |   CAST(o_orderdate AS DATE)), -1) AS BIGINT) AS days_until_next
        |FROM orders
        |WHERE o_custkey <= 200
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        |ORDER BY o_custkey, o_orderkey""".stripMargin,

    "q19_grouping_sets" ->
      """SELECT o_orderstatus, o_orderpriority, grouping_id() AS gid,
        | count(1) AS n_orders,
        | CAST(sum(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE) AS total_price
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        |ORDER BY gid, o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin,

    "q20_rank_family" ->
      """SELECT o_orderstatus, o_orderkey,
        | dense_rank() OVER (PARTITION BY o_orderstatus
        |   ORDER BY o_orderdate) AS date_dense_rank,
        | ntile(4) OVER w AS quartile,
        | round(percent_rank() OVER w, 9) AS pct_rank
        |FROM orders WHERE o_custkey <= 50
        |WINDOW w AS (PARTITION BY o_orderstatus
        |  ORDER BY o_orderdate, o_orderkey)
        |ORDER BY o_orderstatus, o_orderkey""".stripMargin,

    "q21_above_group_avg" ->
      """WITH o AS (
        |  SELECT o_orderkey, o_orderstatus,
        |    CAST(floor(o_totalprice * 100) AS BIGINT) AS pc
        |  FROM orders),
        |g AS (
        |  SELECT o_orderstatus, sum(pc) AS sum_pc, count(1) AS n
        |  FROM o GROUP BY o_orderstatus)
        |SELECT /*+ BROADCAST(g) */ o.o_orderstatus, o.o_orderkey, o.pc
        |FROM o JOIN g ON o.o_orderstatus = g.o_orderstatus
        |WHERE o.pc * g.n > g.sum_pc
        |ORDER BY o.o_orderstatus, o.o_orderkey""".stripMargin,

    "q22_moving_spend_range" ->
      """WITH o AS (
        |  SELECT o_custkey, o_orderkey,
        |    CAST(datediff(CAST(o_orderdate AS DATE), DATE '1992-01-01')
        |      AS BIGINT) AS day_no,
        |    CAST(floor(o_totalprice * 100) AS BIGINT) AS pc
        |  FROM orders WHERE o_custkey <= 75)
        |SELECT o_custkey, o_orderkey, day_no,
        |  sum(pc) OVER w AS moving_spend_cents,
        |  count(1) OVER w AS moving_orders
        |FROM o
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY day_no
        |             RANGE BETWEEN 29 PRECEDING AND CURRENT ROW)
        |ORDER BY o_custkey, o_orderkey""".stripMargin,

    "q23_customer_order_outer" ->
      """WITH agg AS (
        |  SELECT o_custkey, count(1) AS n_orders,
        |    sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS spend_cents
        |  FROM orders GROUP BY o_custkey)
        |SELECT coalesce(c_custkey, o_custkey) AS custkey, c_mktsegment,
        |  coalesce(n_orders, 0L) AS n_orders,
        |  coalesce(spend_cents, 0L) AS spend_cents
        |FROM customer FULL OUTER JOIN agg ON c_custkey = o_custkey
        |ORDER BY custkey""".stripMargin
  )

  /** The exact word-3-gram Jaccard pair relation (d2's twin), shared
    * verbatim by d3: MinHash+LSH candidates are exact-verified with
    * d2's semantics, so the two catalog rows are equal by construction
    * (the same sharing the DuckDB oracles use), and d6 derives from it
    * by one split predicate.
    */
  private val exactJaccardSql =
    """WITH f AS (
      |  SELECT doc_id, filter(split(text, '\\s+'), w -> w != '') AS ws
      |  FROM documents),
      |sh AS (
      |  SELECT DISTINCT doc_id,
      |    concat_ws(' ', ws[i], ws[i+1], ws[i+2]) AS s
      |  FROM f
      |  LATERAL VIEW explode(if(size(ws) >= 3, sequence(0, size(ws) - 3),
      |                          CAST(array() AS ARRAY<INT>))) t AS i),
      |rare AS (SELECT s FROM sh GROUP BY s HAVING count(*) <= 100),
      |shr AS (SELECT sh.doc_id, sh.s FROM sh JOIN rare ON sh.s = rare.s),
      |sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
      |common AS (
      |  SELECT a.doc_id AS i, b.doc_id AS j, count(*) AS c
      |  FROM shr a JOIN shr b ON a.s = b.s AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2),
      |scored AS (
      |  SELECT i, j,
      |    round(CAST(c AS DOUBLE) / (sa.sz + sb.sz - c), 6) AS jaccard
      |  FROM common
      |  JOIN sizes sa ON sa.doc_id = i
      |  JOIN sizes sb ON sb.doc_id = j)
      |SELECT i, j, jaccard FROM scored
      |WHERE jaccard >= 0.8 ORDER BY i, j""".stripMargin

  /** SQL twins for a representative slice of the pipeline families —
    * including two that call the engine's NATIVE expressions by SQL
    * name (`rolling_hash`, `token_count`), proving the
    * SparkSessionExtensions registration makes the whole extension
    * family available to SQL-text users, not just the DataFrame API.
    * Parity-asserted like the relational map; kept a sample rather
    * than total because the genuinely non-SQL operators (iterative
    * fixpoints past Spark's recursion surface, typed aggregators,
    * streaming executions, binary decode, pipes) have no
    * single-statement form — SqlParitySpec enforces per-family which
    * queries MUST be here.
    */
  val pipelineTexts: ListMap[String, String] = ListMap(
    "d1_exact_dedup" ->
      """SELECT md5(text) AS fp, min(doc_id) AS keep_id,
        | count(*) AS n_copies
        |FROM documents GROUP BY md5(text) ORDER BY fp""".stripMargin,

    "t1_token_stats" ->
      """SELECT doc_id AS doc,
        | CAST(size(filter(split(text, '\\s+'), w -> w != '')) AS BIGINT)
        |   AS n_tokens,
        | CAST(regexp_count(text, '[a-z]+|[0-9]+|[^a-z0-9\\s]') AS BIGINT)
        |   AS n_bpe_tokens,
        | CAST(length(text) AS BIGINT) AS n_chars,
        | CAST(ceil(length(text) / 4.0) AS BIGINT) AS est_tokens_char4
        |FROM documents ORDER BY doc""".stripMargin,

    "t4_fingerprints" ->
      """SELECT doc_id AS doc, md5(text) AS md5_fp,
        | rolling_hash(text) AS rolling_fp
        |FROM documents ORDER BY doc""".stripMargin,

    "t5_scalar_functions" ->
      """SELECT doc_id AS doc,
        | token_count(text, 'hash') AS n_hash,
        | CAST(length(trim(text)) AS BIGINT) AS trimmed_len,
        | substring(text, 1, 12) AS prefix,
        | concat_ws('|', lang, source) AS tag,
        | upper(substring(source, 4, 10)) AS src_num
        |FROM documents ORDER BY doc""".stripMargin,

    // quality scoring as pure SQL: same formula as withQuality, each
    // ratio computed once in a layered select (never a complex
    // expression re-evaluated inside a lambda), quality from the
    // UNROUNDED ratios exactly like the DataFrame form
    "t2_quality_score" ->
      """WITH f AS (
        |  SELECT doc_id AS doc, text AS t,
        |    filter(split(text, '\\s+'), w -> w != '') AS ws
        |  FROM documents),
        |g AS (
        |  SELECT doc, CAST(size(ws) AS BIGINT) AS n_tokens,
        |    CASE WHEN length(t) > 0
        |      THEN CAST(length(regexp_replace(t, '[^.,!?;:]', '')) AS DOUBLE)
        |           / length(t) ELSE 0.0d END AS punct_ratio,
        |    CASE WHEN size(ws) > 0
        |      THEN CAST(size(filter(ws, w ->
        |             array_contains(array('the','a','of','to','and'), w)))
        |             AS DOUBLE) / size(ws) ELSE 0.0d END AS stop_ratio,
        |    CASE WHEN size(ws) > 0
        |      THEN CAST(aggregate(ws, 0L, (a, w) -> a + length(w)) AS DOUBLE)
        |           / size(ws) ELSE 0.0d END AS mtl
        |  FROM f)
        |SELECT doc, n_tokens,
        |  round(punct_ratio, 6) AS punct_ratio,
        |  round(stop_ratio, 6) AS stopword_ratio,
        |  round(mtl, 4) AS mean_token_len,
        |  round(CASE WHEN n_tokens > 0
        |    THEN 0.5d * least(1.0d, n_tokens / 50.0d)
        |       + 0.25d * (1.0d - punct_ratio)
        |       + 0.25d * least(1.0d, 4.0d * stop_ratio)
        |    ELSE 0.0d END, 6) AS quality
        |FROM g ORDER BY doc""".stripMargin,

    // semantic twin of the prefix-sum shuffle position: a global
    // window expresses the same order in one statement (fine as a
    // parity twin; the DataFrame form's distributed prefix sum is the
    // 100 TB plan — same note as q17)
    "x4_corpus_shuffle" ->
      """SELECT doc_id AS doc,
        |  CAST(row_number() OVER (ORDER BY
        |    concat(substring(md5(concat('shuf1:', CAST(doc_id AS STRING))),
        |      1, 8), '-', CAST(doc_id AS STRING))) - 1 AS BIGINT)
        |    AS shuffle_pos
        |FROM documents ORDER BY doc""".stripMargin,

    // window spelling of the bounded per-stratum cap — the same
    // selection CorpusMixSpec proves equal to the aggregate path the
    // DataFrame form ships (semantic twin; the O(strata*k) aggregate
    // is the 100 TB plan)
    "x5_source_cap" ->
      """WITH r AS (
        |  SELECT doc_id, source,
        |    row_number() OVER (PARTITION BY source ORDER BY
        |      substring(md5(concat('cap1:', CAST(doc_id AS STRING))), 1, 8),
        |      doc_id) AS rk
        |  FROM documents)
        |SELECT doc_id AS doc, source, CAST(rk AS BIGINT) AS cap_rank
        |FROM r WHERE rk <= 10 ORDER BY doc""".stripMargin,

    // fractional-epoch mixing: integral copies plus one hash-gated
    // extra for the fractional part, exploded to per-copy rows
    "x9_mixture_epochs" ->
      """WITH c AS (
        |  SELECT doc_id, source,
        |    CAST(CASE source WHEN 'src1' THEN 2 WHEN 'src3' THEN 0
        |           WHEN 'src5' THEN 0 ELSE 1 END
        |      + CASE WHEN substring(md5(concat('epoch1:',
        |            CAST(doc_id AS STRING))), 1, 8)
        |          < CASE source WHEN 'src1' THEN '80000000'
        |              WHEN 'src3' THEN '80000000' ELSE '00000000' END
        |        THEN 1 ELSE 0 END AS BIGINT) AS copies
        |  FROM documents)
        |SELECT doc_id AS doc, source,
        |  explode(sequence(0L, copies - 1)) AS rep
        |FROM c WHERE copies > 0
        |ORDER BY doc, rep""".stripMargin,

    "x1_corpus_mix" ->
      """WITH kept AS (
        |  SELECT * FROM documents
        |  WHERE substring(md5(concat('mix1:', CAST(doc_id AS STRING))), 1, 8) <
        |    CASE lang WHEN 'en' THEN '80000000' WHEN 'zh' THEN '40000000'
        |              WHEN 'es' THEN 'g' WHEN 'de' THEN '20000000'
        |              WHEN 'fr' THEN 'c0000000' ELSE '00000000' END),
        |sp AS (
        |  SELECT lang,
        |    CASE WHEN substring(md5(concat('split:', CAST(doc_id AS STRING))), 1, 8)
        |              < 'cccccccc' THEN 'train'
        |         WHEN substring(md5(concat('split:', CAST(doc_id AS STRING))), 1, 8)
        |              < 'e6666666' THEN 'val'
        |         ELSE 'test' END AS split
        |  FROM kept)
        |SELECT lang, split, count(1) AS n_docs
        |FROM sp GROUP BY lang, split ORDER BY lang, split""".stripMargin,

    // gap sessionization through SQL-text session_window — the
    // temporal family's first twin; field access on the struct uses
    // backticked `end` (reserved word in the SQL parser)
    "a2_sessionize" ->
      """WITH s AS (
        |  SELECT user_id, session_window(ts, '30 minutes') AS w,
        |         count(1) AS n_events
        |  FROM events GROUP BY user_id, session_window(ts, '30 minutes'))
        |SELECT user_id, w.start AS session_start,
        |       w.`end` - INTERVAL 30 MINUTES AS session_end, n_events
        |FROM s ORDER BY user_id, session_start""".stripMargin,

    // t16 as pure SQL: the whole TV-divergence cascade — including the
    // DECIMAL(38,0) products and the integral `div` — is expressible
    // as one statement; parity here proves the native decimal path,
    // not just the DataFrame wrapper
    "t16_source_divergence" ->
      """WITH toks AS (
        |  SELECT source, explode(filter(split(text, '\\s+'), w -> w != ''))
        |           AS w
        |  FROM documents),
        |c AS (SELECT source, w, count(*) AS c FROM toks GROUP BY 1, 2),
        |cw AS (SELECT w, sum(c) AS cw FROM c GROUP BY 1),
        |st AS (SELECT source, sum(c) AS ts FROM c GROUP BY 1),
        |n AS (SELECT sum(c) AS n FROM c),
        |j AS (
        |  SELECT c.source,
        |    sum(abs(CAST(c.c AS DECIMAL(38,0)) * n.n -
        |            CAST(cw.cw AS DECIMAL(38,0)) * st.ts)) AS sum_abs,
        |    sum(CAST(cw.cw AS DECIMAL(38,0))) AS sum_cw
        |  FROM c JOIN cw USING (w) JOIN st ON c.source = st.source
        |  CROSS JOIN n
        |  GROUP BY 1)
        |SELECT j.source, st.ts AS n_tokens,
        |  CAST(j.sum_abs + CAST(st.ts AS DECIMAL(38,0)) * (n.n - j.sum_cw)
        |       AS BIGINT) AS tv_num,
        |  CAST((j.sum_abs + CAST(st.ts AS DECIMAL(38,0)) * (n.n - j.sum_cw))
        |         * 1000000
        |       div (2 * CAST(st.ts AS DECIMAL(38,0)) * n.n)
        |       AS BIGINT) AS tv_micro
        |FROM j JOIN st ON j.source = st.source CROSS JOIN n
        |ORDER BY j.source""".stripMargin,

    // z-order layout as pure SQL: exact equi-depth rank coordinates
    // (the catalog's skew-robust default), the Morton shift/mask
    // cascade as plain integer arithmetic, and the ranks as global
    // windows (semantic twin — the DataFrame form's folded skinny
    // rank pass + distributed prefix sum is the 100 TB plan; same
    // note as x4). uid packs the full unique 4-tuple.
    "x14_zorder_layout" ->
      """WITH li AS (
        |  SELECT l_partkey, l_suppkey,
        |    (l_orderkey * 8 + l_linenumber) * 1000000000L
        |      + l_partkey * 10000 + l_suppkey AS uid
        |  FROM lineitem),
        |n AS (SELECT count(*) AS n FROM li),
        |rk0 AS (
        |  SELECT l_partkey, l_suppkey, uid,
        |    row_number() OVER (ORDER BY l_partkey, uid) - 1 AS ra,
        |    row_number() OVER (ORDER BY l_suppkey, uid) - 1 AS rb
        |  FROM li),
        |sp AS (
        |  SELECT l_partkey, l_suppkey, uid,
        |    (ra * 65536L) DIV n.n AS xa, (rb * 65536L) DIV n.n AS xb
        |  FROM rk0 CROSS JOIN n),
        |s1 AS (SELECT *, ((xa | shiftleft(xa, 8)) & 16711935L) AS a1,
        |                 ((xb | shiftleft(xb, 8)) & 16711935L) AS b1 FROM sp),
        |s2 AS (SELECT *, ((a1 | shiftleft(a1, 4)) & 252645135L) AS a2,
        |                 ((b1 | shiftleft(b1, 4)) & 252645135L) AS b2 FROM s1),
        |s3 AS (SELECT *, ((a2 | shiftleft(a2, 2)) & 858993459L) AS a3,
        |                 ((b2 | shiftleft(b2, 2)) & 858993459L) AS b3 FROM s2),
        |s4 AS (SELECT *, ((a3 | shiftleft(a3, 1)) & 1431655765L) AS a4,
        |                 ((b3 | shiftleft(b3, 1)) & 1431655765L) AS b4 FROM s3),
        |zz AS (SELECT *, (a4 | shiftleft(b4, 1)) AS z FROM s4),
        |rk AS (
        |  SELECT *, CAST((row_number() OVER (ORDER BY z, uid) - 1) DIV 4096
        |    AS BIGINT) AS file_id
        |  FROM zz)
        |SELECT file_id, count(*) AS n_rows,
        |  min(l_partkey) AS p_min, max(l_partkey) AS p_max,
        |  min(l_suppkey) AS s_min, max(l_suppkey) AS s_max
        |FROM rk GROUP BY file_id ORDER BY file_id""".stripMargin,

    // compaction plan as pure SQL: running byte total as a global
    // window (semantic twin of the distributed prefix sum)
    "x15_compaction_plan" ->
      """WITH f AS (
        |  SELECT doc_id, CAST(octet_length(text) AS BIGINT) AS bytes
        |  FROM documents),
        |p AS (
        |  SELECT *, coalesce(sum(bytes) OVER (ORDER BY doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0L)
        |    AS start_b
        |  FROM f)
        |SELECT CAST(start_b DIV 8192 AS BIGINT) AS group_id,
        |  count(*) AS n_docs, sum(bytes) AS total_bytes,
        |  min(doc_id) AS first_doc, max(doc_id) AS last_doc
        |FROM p GROUP BY 1 ORDER BY group_id""".stripMargin,

    // x11 as pure SQL: shingle inverted-index Jaccard + md5 split
    // assignment + the straddle filter in one statement. The shingle
    // index explode guards short docs (sequence() counts DOWN for a
    // negative span — the Dedup.shingles trap)
    "x11_split_leakage" ->
      """WITH toks AS (
        |  SELECT doc_id, filter(split(text, '\\s+'), w -> w != '') AS ws
        |  FROM documents),
        |sh AS (
        |  SELECT DISTINCT doc_id,
        |    concat_ws(' ', ws[i], ws[i+1], ws[i+2]) AS s
        |  FROM toks
        |  LATERAL VIEW explode(if(size(ws) >= 3, sequence(0, size(ws) - 3),
        |                          CAST(array() AS ARRAY<INT>))) t AS i),
        |rare AS (SELECT s FROM sh GROUP BY s HAVING count(*) <= 100),
        |shr AS (SELECT sh.doc_id, sh.s FROM sh JOIN rare ON sh.s = rare.s),
        |sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
        |common AS (
        |  SELECT a.doc_id AS i, b.doc_id AS j, count(*) AS c
        |  FROM shr a JOIN shr b ON a.s = b.s AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |pairs AS (
        |  -- CAST, not `* 1.0`: Spark parses the 1.0 literal as
        |  -- DECIMAL(2,1), which would type jaccard decimal(29,6)
        |  SELECT i, j,
        |    round(CAST(c AS DOUBLE) / (sa.sz + sb.sz - c), 6) AS jaccard
        |  FROM common
        |  JOIN sizes sa ON sa.doc_id = i
        |  JOIN sizes sb ON sb.doc_id = j
        |  WHERE CAST(c AS DOUBLE) / (sa.sz + sb.sz - c) >= 0.8),
        |splits AS (
        |  SELECT doc_id,
        |    CASE WHEN substring(md5(concat('split:', CAST(doc_id AS STRING))), 1, 8)
        |              < 'cccccccc' THEN 'train'
        |         WHEN substring(md5(concat('split:', CAST(doc_id AS STRING))), 1, 8)
        |              < 'e6666666' THEN 'val'
        |         ELSE 'test' END AS split
        |  FROM documents)
        |SELECT p.i, p.j, p.jaccard, si.split AS split_i, sj.split AS split_j
        |FROM pairs p
        |JOIN splits si ON si.doc_id = p.i
        |JOIN splits sj ON sj.doc_id = p.j
        |WHERE si.split <> sj.split
        |ORDER BY p.i, p.j""".stripMargin,

    // dyadic EWMA as one windowed statement: the eight weighted lags
    // and the exact integer micro arithmetic (floor to micros, int64
    // weighted sum, `div` by the constant 255) are all plain SQL
    "a15_dyadic_ewma" ->
      """WITH ev AS (
        |  SELECT event_id, user_id, ts,
        |    CAST(floor(value * 1000000) AS BIGINT) AS v
        |  FROM events),
        |l AS (
        |  SELECT event_id, user_id, v,
        |    128*v + 64*lag(v, 1) OVER win + 32*lag(v, 2) OVER win
        |      + 16*lag(v, 3) OVER win + 8*lag(v, 4) OVER win
        |      + 4*lag(v, 5) OVER win + 2*lag(v, 6) OVER win
        |      + lag(v, 7) OVER win AS num
        |  FROM ev
        |  WINDOW win AS (PARTITION BY user_id ORDER BY ts, event_id))
        |SELECT event_id, user_id, v AS value_micro,
        |       num div 255 AS ewma_micro
        |FROM l WHERE num IS NOT NULL ORDER BY event_id""".stripMargin,

    // semantic twin of the vocab-growth curve: a global cumulative
    // window expresses the same running sum in one statement (fine as
    // a parity twin over the O(docs) relation; the DataFrame form's
    // distributed prefix sum is the 100 TB plan — same note as x4)
    "t18_vocab_growth" ->
      """WITH toks AS (
        |  SELECT doc_id, explode(filter(split(text, '\\s+'), w -> w != ''))
        |           AS w
        |  FROM documents),
        |own AS (SELECT w, min(doc_id) AS doc_id FROM toks GROUP BY w),
        |per AS (SELECT doc_id, count(*) AS n_new FROM own GROUP BY doc_id)
        |SELECT d.doc_id AS doc,
        |  coalesce(per.n_new, 0L) AS n_new_words,
        |  sum(coalesce(per.n_new, 0L))
        |    OVER (ORDER BY d.doc_id ROWS UNBOUNDED PRECEDING) AS vocab_size
        |FROM documents d LEFT JOIN per ON per.doc_id = d.doc_id
        |ORDER BY doc""".stripMargin,

    // ---- round 11: the dedup / text / similarity families a pipeline
    // user actually types, parity-asserted against their DataFrame
    // twins like everything above ----

    // brute-force cosine top-k through the native array_dot expression
    // by SQL name — the BROADCAST hint carries the DataFrame form's
    // physical intent (small query set to every executor, one corpus
    // pass)
    "s1_cosine_topk" ->
      """WITH q AS (
        |  SELECT vec_id AS qid, CAST(embedding AS ARRAY<DOUBLE>) AS qv
        |  FROM embeddings WHERE vec_id < 10),
        |scored AS (
        |  SELECT /*+ BROADCAST(q) */ qid, e.vec_id AS neighbor_id,
        |    array_dot(qv, CAST(e.embedding AS ARRAY<DOUBLE>)) /
        |      (sqrt(array_dot(qv, qv)) *
        |       sqrt(array_dot(CAST(e.embedding AS ARRAY<DOUBLE>),
        |                      CAST(e.embedding AS ARRAY<DOUBLE>)))) AS cos
        |  FROM embeddings e JOIN q ON e.vec_id <> qid),
        |ranked AS (
        |  SELECT qid, neighbor_id, cos,
        |    CAST(row_number() OVER (PARTITION BY qid
        |           ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rank
        |  FROM scored)
        |SELECT qid, rank, neighbor_id, round(cos, 4) AS cosine
        |FROM ranked WHERE rank <= 5 ORDER BY qid, rank""".stripMargin,

    // symmetric int8 quantization audit: the s_raw/scale alias split
    // is load-bearing (the Quantize lateral-alias note) — the rounded
    // "scale" must never rebind the error expressions
    "s5_int8_quantize" ->
      """WITH e AS (
        |  SELECT vec_id, transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings),
        |s AS (
        |  SELECT vec_id, v,
        |    array_max(transform(v, x -> abs(x))) / 127.0d AS s_raw
        |  FROM e)
        |SELECT vec_id, round(s_raw, 9) AS scale,
        |  CAST(size(v) AS BIGINT) AS n_dims,
        |  CASE WHEN s_raw = 0.0d THEN 0L ELSE
        |    CAST(array_min(transform(v, x -> floor(x / s_raw + 0.5d)))
        |      AS BIGINT) END AS qmin,
        |  CASE WHEN s_raw = 0.0d THEN 0L ELSE
        |    CAST(array_max(transform(v, x -> floor(x / s_raw + 0.5d)))
        |      AS BIGINT) END AS qmax,
        |  CASE WHEN s_raw = 0.0d THEN 0.0d ELSE
        |    round(array_max(transform(v,
        |      x -> abs(x - floor(x / s_raw + 0.5d) * s_raw))), 9)
        |    END AS max_abs_err
        |FROM s ORDER BY vec_id""".stripMargin,

    // per-label element-wise centroid in integral micro-units
    "s6_label_centroids" ->
      """WITH d AS (
        |  SELECT label, pos, v FROM embeddings
        |  LATERAL VIEW posexplode(embedding) t AS pos, v),
        |q AS (
        |  SELECT label, pos,
        |    CAST(floor(CAST(v AS DOUBLE) * 1000000) AS BIGINT) AS qv
        |  FROM d)
        |SELECT label, pos, sum(qv) AS sum_q, count(1) AS n,
        |  CAST(floor(sum(qv) / count(1) + 0.5d) AS BIGINT) AS centroid_micro
        |FROM q GROUP BY label, pos ORDER BY label, pos""".stripMargin,

    // exact word-3-gram Jaccard pairs over the shingle inverted index
    // (the x11 core, d2's stop-shingle guard and ROUNDED threshold)
    "d2_ngram_jaccard_dedup" -> exactJaccardSql,

    // d3's MinHash+LSH candidates are exact-verified with d2's
    // semantics, so its SQL form IS d2's pair relation (the same
    // by-construction equality the DuckDB oracles encode)
    "d3_minhash_lsh_dedup" -> exactJaccardSql,

    // d6 = near-dup pairs with at least one side in the id >= 250
    // batch; under canonical i < j and the id-ordered corpus/batch
    // split that is exactly j >= 250 (see DedupQueries.incremental)
    "d6_incremental_dedup" -> exactJaccardSql.replace(
      "WHERE jaccard >= 0.8 ORDER BY i, j",
      "WHERE jaccard >= 0.8 AND j >= 250 ORDER BY i, j"),

    // same inverted-index core, asymmetric containment metric
    "d13_containment_dedup" ->
      """WITH f AS (
        |  SELECT doc_id, filter(split(text, '\\s+'), w -> w != '') AS ws
        |  FROM documents),
        |sh AS (
        |  SELECT DISTINCT doc_id,
        |    concat_ws(' ', ws[i], ws[i+1], ws[i+2]) AS s
        |  FROM f
        |  LATERAL VIEW explode(if(size(ws) >= 3, sequence(0, size(ws) - 3),
        |                          CAST(array() AS ARRAY<INT>))) t AS i),
        |rare AS (SELECT s FROM sh GROUP BY s HAVING count(*) <= 100),
        |shr AS (SELECT sh.doc_id, sh.s FROM sh JOIN rare ON sh.s = rare.s),
        |sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
        |common AS (
        |  SELECT a.doc_id AS i, b.doc_id AS j, count(*) AS c
        |  FROM shr a JOIN shr b ON a.s = b.s AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |scored AS (
        |  SELECT i, j,
        |    round(CAST(c AS DOUBLE) / least(sa.sz, sb.sz), 6) AS containment
        |  FROM common
        |  JOIN sizes sa ON sa.doc_id = i
        |  JOIN sizes sb ON sb.doc_id = j)
        |SELECT i, j, containment FROM scored
        |WHERE containment >= 0.8 ORDER BY i, j""".stripMargin,

    // verbatim 8-gram train/eval decontamination audit; broadcast
    // carries the DataFrame form's physical intent (eval shingles are
    // the small side at any corpus size)
    "d7_decontamination" ->
      """WITH split AS (SELECT max(doc_id) - 49 AS b FROM documents),
        |f AS (
        |  SELECT doc_id, filter(split(text, '\\s+'), w -> w != '') AS ws
        |  FROM documents),
        |sh AS (
        |  SELECT DISTINCT doc_id,
        |    concat_ws(' ', ws[i], ws[i+1], ws[i+2], ws[i+3],
        |              ws[i+4], ws[i+5], ws[i+6], ws[i+7]) AS s
        |  FROM f
        |  LATERAL VIEW explode(if(size(ws) >= 8, sequence(0, size(ws) - 8),
        |                          CAST(array() AS ARRAY<INT>))) t AS i),
        |tr AS (SELECT * FROM sh WHERE doc_id < (SELECT b FROM split)),
        |ev AS (SELECT * FROM sh WHERE doc_id >= (SELECT b FROM split))
        |SELECT /*+ BROADCAST(ev) */ tr.doc_id AS doc,
        |  count(*) AS n_shared_shingles,
        |  count(DISTINCT ev.doc_id) AS n_eval_docs
        |FROM tr JOIN ev ON tr.s = ev.s
        |GROUP BY tr.doc_id ORDER BY doc""".stripMargin,

    // d11 = d7 behind a Bloom prefilter; the DECLARATIVE text is the
    // prefilter's semantic equivalent — an EXISTS semi-join keeping
    // only train shingles that might hit the eval set before the
    // counting join. The bloom itself is a physical optimization the
    // SQL leaves to the engine (Spark injects runtime bloom filters on
    // exactly this shape); the exact-verify join makes the output
    // bit-identical to d7's either way.
    "d11_bloom_decontamination" ->
      """WITH split AS (SELECT max(doc_id) - 49 AS b FROM documents),
        |f AS (
        |  SELECT doc_id, filter(split(text, '\\s+'), w -> w != '') AS ws
        |  FROM documents),
        |sh AS (
        |  SELECT DISTINCT doc_id,
        |    concat_ws(' ', ws[i], ws[i+1], ws[i+2], ws[i+3],
        |              ws[i+4], ws[i+5], ws[i+6], ws[i+7]) AS s
        |  FROM f
        |  LATERAL VIEW explode(if(size(ws) >= 8, sequence(0, size(ws) - 8),
        |                          CAST(array() AS ARRAY<INT>))) t AS i),
        |tr AS (SELECT * FROM sh WHERE doc_id < (SELECT b FROM split)),
        |ev AS (SELECT * FROM sh WHERE doc_id >= (SELECT b FROM split)),
        |hits AS (
        |  SELECT tr.doc_id, tr.s FROM tr
        |  WHERE EXISTS (SELECT 1 FROM ev WHERE ev.s = tr.s))
        |SELECT /*+ BROADCAST(ev) */ h.doc_id AS doc,
        |  count(*) AS n_shared_shingles,
        |  count(DISTINCT ev.doc_id) AS n_eval_docs
        |FROM hits h JOIN ev ON h.s = ev.s
        |GROUP BY h.doc_id ORDER BY doc""".stripMargin,

    // marker-vote language id with the DataFrame form's exact
    // tie-break: sort the (negated score, lang) structs, take the head
    "t3_language_id" ->
      """WITH f AS (
        |  SELECT doc_id AS doc, filter(split(text, '\\s+'), w -> w != '') AS ws
        |  FROM documents),
        |s AS (
        |  SELECT doc, array_sort(array(
        |    named_struct('neg', -CAST(size(filter(ws, w -> array_contains(
        |      array('der','die','das','und','nicht'), w))) AS BIGINT),
        |      'lang', 'de'),
        |    named_struct('neg', -CAST(size(filter(ws, w -> array_contains(
        |      array('the','a','of','to','and'), w))) AS BIGINT),
        |      'lang', 'en'),
        |    named_struct('neg', -CAST(size(filter(ws, w -> array_contains(
        |      array('el','los','que','y','en'), w))) AS BIGINT),
        |      'lang', 'es'),
        |    named_struct('neg', -CAST(size(filter(ws, w -> array_contains(
        |      array('le','la','les','et','est'), w))) AS BIGINT),
        |      'lang', 'fr'))) AS sc
        |  FROM f)
        |SELECT doc,
        |  CASE WHEN sc[0].neg = 0L THEN 'und' ELSE sc[0].lang END
        |    AS lang_guess,
        |  -sc[0].neg AS score
        |FROM s ORDER BY doc""".stripMargin,

    // ---- round 12: the temporal / as-of family — precisely what an
    // analytics user types as SQL (the reference's user surface is its
    // query CLI). Spark has no ASOF JOIN syntax, so the twins spell
    // the SAME union + window-carry plan the DataFrame forms ship
    // (one shuffle, growing frames — never an inequality join); the
    // other rows are direct translations. SqlParitySpec asserts every
    // temporal catalog query carries a twin. ----

    // backward as-of: union both sides, carry the last right-side row
    // forward as ONE struct (wholesale-row semantics, internal nulls
    // preserved) over the (t, side)-ordered growing frame
    "a1_asof_click_error" ->
      """WITH c AS (SELECT event_id, user_id, ts AS click_ts FROM events
        |           WHERE event_type = 'click'),
        |e AS (SELECT user_id, ts AS err_ts, value FROM events
        |      WHERE event_type = 'error'),
        |u AS (
        |  SELECT user_id, click_ts AS __t, 1 AS __side, event_id, click_ts,
        |         CAST(NULL AS TIMESTAMP) AS r_ts, CAST(NULL AS DOUBLE) AS r_val
        |  FROM c
        |  UNION ALL
        |  SELECT user_id, err_ts, 0, CAST(NULL AS BIGINT),
        |         CAST(NULL AS TIMESTAMP), err_ts, value
        |  FROM e),
        |w AS (
        |  SELECT *,
        |    last_value(CASE WHEN __side = 0
        |        THEN named_struct('ts', r_ts, 'val', r_val) END, true)
        |      OVER (PARTITION BY user_id ORDER BY __t, __side
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cb
        |  FROM u)
        |SELECT event_id, user_id, click_ts,
        |       cb.ts AS last_error_ts, cb.val AS last_error_value
        |FROM w WHERE __side = 1 ORDER BY event_id""".stripMargin,

    // forward as-of: same carry, time-DESCENDING growing frame (the
    // O(rows) spelling; a [current, unbounded following] frame
    // re-aggregates per row)
    "a1b_asof_forward" ->
      """WITH c AS (SELECT event_id, user_id, ts AS click_ts FROM events
        |           WHERE event_type = 'click'),
        |e AS (SELECT user_id, ts AS err_ts, value FROM events
        |      WHERE event_type = 'error'),
        |u AS (
        |  SELECT user_id, click_ts AS __t, 1 AS __side, event_id, click_ts,
        |         CAST(NULL AS TIMESTAMP) AS r_ts, CAST(NULL AS DOUBLE) AS r_val
        |  FROM c
        |  UNION ALL
        |  SELECT user_id, err_ts, 0, CAST(NULL AS BIGINT),
        |         CAST(NULL AS TIMESTAMP), err_ts, value
        |  FROM e),
        |w AS (
        |  SELECT *,
        |    last_value(CASE WHEN __side = 0
        |        THEN named_struct('ts', r_ts, 'val', r_val) END, true)
        |      OVER (PARTITION BY user_id ORDER BY __t DESC, __side
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cf
        |  FROM u)
        |SELECT event_id, user_id, click_ts,
        |       cf.ts AS next_error_ts, cf.val AS next_error_value
        |FROM w WHERE __side = 1 ORDER BY event_id""".stripMargin,

    // nearest as-of: both carries over ONE union, the closer candidate
    // picked in integral micros, exact ties resolving backward
    "a1c_asof_nearest" ->
      """WITH c AS (SELECT event_id, user_id, ts AS click_ts FROM events
        |           WHERE event_type = 'click'),
        |e AS (SELECT user_id, ts AS err_ts, value FROM events
        |      WHERE event_type = 'error'),
        |u AS (
        |  SELECT user_id, click_ts AS __t, 1 AS __side, event_id, click_ts,
        |         CAST(NULL AS TIMESTAMP) AS r_ts, CAST(NULL AS DOUBLE) AS r_val
        |  FROM c
        |  UNION ALL
        |  SELECT user_id, err_ts, 0, CAST(NULL AS BIGINT),
        |         CAST(NULL AS TIMESTAMP), err_ts, value
        |  FROM e),
        |w AS (
        |  SELECT *,
        |    last_value(CASE WHEN __side = 0
        |        THEN named_struct('rt', __t, 'ts', r_ts, 'val', r_val) END, true)
        |      OVER (PARTITION BY user_id ORDER BY __t, __side
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cb,
        |    last_value(CASE WHEN __side = 0
        |        THEN named_struct('rt', __t, 'ts', r_ts, 'val', r_val) END, true)
        |      OVER (PARTITION BY user_id ORDER BY __t DESC, __side
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cf
        |  FROM u),
        |p AS (
        |  SELECT *,
        |    CASE WHEN cb IS NULL THEN 9223372036854775807L
        |         ELSE unix_micros(__t) - unix_micros(cb.rt) END AS db,
        |    CASE WHEN cf IS NULL THEN 9223372036854775807L
        |         ELSE unix_micros(cf.rt) - unix_micros(__t) END AS df
        |  FROM w WHERE __side = 1)
        |SELECT event_id, user_id, click_ts,
        |  CASE WHEN db <= df THEN cb.ts ELSE cf.ts END AS near_error_ts,
        |  CASE WHEN db <= df THEN cb.val ELSE cf.val END AS near_error_value
        |FROM p ORDER BY event_id""".stripMargin,

    // tolerance as-of: the same backward carry, stale matches (older
    // than 2 h before the click) nulled by a pure projection
    "a1d_asof_tolerance" ->
      """WITH c AS (SELECT event_id, user_id, ts AS click_ts FROM events
        |           WHERE event_type = 'click'),
        |e AS (SELECT user_id, ts AS err_ts, value FROM events
        |      WHERE event_type = 'error'),
        |u AS (
        |  SELECT user_id, click_ts AS __t, 1 AS __side, event_id, click_ts,
        |         CAST(NULL AS TIMESTAMP) AS r_ts, CAST(NULL AS DOUBLE) AS r_val
        |  FROM c
        |  UNION ALL
        |  SELECT user_id, err_ts, 0, CAST(NULL AS BIGINT),
        |         CAST(NULL AS TIMESTAMP), err_ts, value
        |  FROM e),
        |w AS (
        |  SELECT *,
        |    last_value(CASE WHEN __side = 0
        |        THEN named_struct('ts', r_ts, 'val', r_val) END, true)
        |      OVER (PARTITION BY user_id ORDER BY __t, __side
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cb
        |  FROM u)
        |SELECT event_id, user_id, click_ts,
        |  CASE WHEN cb.ts >= click_ts - INTERVAL 2 HOURS THEN cb.ts END
        |    AS last_error_ts,
        |  CASE WHEN cb.ts >= click_ts - INTERVAL 2 HOURS THEN cb.val END
        |    AS last_error_value
        |FROM w WHERE __side = 1 ORDER BY event_id""".stripMargin,

    // typed JSON extraction: declare-then-extract (one parse), never
    // per-use get_json_object re-parsing
    "a3_json_props" ->
      """WITH j AS (
        |  SELECT event_type, from_json(props, 'k BIGINT').k AS k
        |  FROM events)
        |SELECT event_type, count(k) AS n_with_k,
        |  round(avg(k), 4) AS avg_k, sum(k) AS sum_k
        |FROM j GROUP BY event_type ORDER BY event_type""".stripMargin,

    // interval-follow attribution as the banded EQUI-join (each view
    // probes its bucket + the next; exact predicate post-filters) —
    // the inequality-join spelling plans as a nested loop
    "a4_interval_follow" ->
      """WITH v AS (
        |  SELECT user_id, event_id, unix_micros(ts) AS lt
        |  FROM events WHERE event_type = 'view'),
        |c AS (
        |  SELECT user_id AS rk, unix_micros(ts) AS rt,
        |         unix_micros(ts) - pmod(unix_micros(ts), 1800000000L) AS b
        |  FROM events WHERE event_type = 'click'),
        |l AS (
        |  SELECT user_id, event_id, lt, explode(array(
        |      lt - pmod(lt, 1800000000L),
        |      lt - pmod(lt, 1800000000L) + 1800000000L)) AS b
        |  FROM v)
        |SELECT l.user_id, l.event_id, count(c.rt) AS n_follow
        |FROM l LEFT JOIN c
        |  ON l.b = c.b AND l.user_id = c.rk
        |  AND c.rt > l.lt AND c.rt <= l.lt + 1800000000L
        |GROUP BY l.user_id, l.event_id
        |ORDER BY l.event_id""".stripMargin,

    // LOCF resampling: per-key step-aligned grid (exact pmod ceil/floor
    // in epoch seconds) + the a1 backward carry
    "a5_grid_resample" ->
      """WITH bounds AS (
        |  SELECT user_id, min(unix_micros(ts) div 1000000) AS lo,
        |         max(unix_micros(ts) div 1000000) AS hi
        |  FROM events GROUP BY user_id),
        |grid AS (
        |  SELECT user_id, timestamp_seconds(g) AS grid_ts
        |  FROM (SELECT user_id, lo + pmod(-lo, 21600) AS g0,
        |               hi - pmod(hi, 21600) AS g1 FROM bounds)
        |  LATERAL VIEW explode(CASE WHEN g0 <= g1
        |      THEN sequence(g0, g1, 21600L)
        |      ELSE CAST(array() AS ARRAY<BIGINT>) END) t AS g),
        |u AS (
        |  SELECT user_id, grid_ts AS __t, 1 AS __side, grid_ts,
        |         CAST(NULL AS BIGINT) AS r_eid, CAST(NULL AS DOUBLE) AS r_val
        |  FROM grid
        |  UNION ALL
        |  SELECT user_id, ts, 0, CAST(NULL AS TIMESTAMP), event_id, value
        |  FROM events),
        |w AS (
        |  SELECT *,
        |    last_value(CASE WHEN __side = 0
        |        THEN named_struct('eid', r_eid, 'val', r_val) END, true)
        |      OVER (PARTITION BY user_id ORDER BY __t, __side
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cb
        |  FROM u)
        |SELECT user_id, grid_ts, cb.eid AS asof_event_id,
        |       cb.val AS asof_value
        |FROM w WHERE __side = 1
        |ORDER BY user_id, grid_ts""".stripMargin,

    // linear interpolation to the grid: both carries over one union,
    // exact integer micro-value / milli-delta arithmetic, truncating div
    "a5b_grid_interp" ->
      """WITH ev AS (
        |  SELECT user_id, ts, floor(value * 1000000) AS vm FROM events),
        |bounds AS (
        |  SELECT user_id, min(unix_micros(ts) div 1000000) AS lo,
        |         max(unix_micros(ts) div 1000000) AS hi
        |  FROM ev GROUP BY user_id),
        |grid AS (
        |  SELECT user_id, timestamp_seconds(g) AS grid_ts
        |  FROM (SELECT user_id, lo + pmod(-lo, 21600) AS g0,
        |               hi - pmod(hi, 21600) AS g1 FROM bounds)
        |  LATERAL VIEW explode(CASE WHEN g0 <= g1
        |      THEN sequence(g0, g1, 21600L)
        |      ELSE CAST(array() AS ARRAY<BIGINT>) END) t AS g),
        |u AS (
        |  SELECT user_id, grid_ts AS __t, 1 AS __side,
        |         CAST(NULL AS BIGINT) AS vm
        |  FROM grid
        |  UNION ALL
        |  SELECT user_id, ts, 0, vm FROM ev),
        |w AS (
        |  SELECT *,
        |    last_value(CASE WHEN __side = 0
        |        THEN named_struct('rt', __t, 'vm', vm) END, true)
        |      OVER (PARTITION BY user_id ORDER BY __t, __side
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cb,
        |    last_value(CASE WHEN __side = 0
        |        THEN named_struct('rt', __t, 'vm', vm) END, true)
        |      OVER (PARTITION BY user_id ORDER BY __t DESC, __side
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cf
        |  FROM u),
        |d AS (
        |  SELECT user_id, __t AS grid_ts, cb.vm AS vb, cf.vm AS vf,
        |    unix_micros(__t) div 1000 AS tg,
        |    unix_micros(cb.rt) div 1000 AS tb,
        |    unix_micros(cf.rt) div 1000 AS tf
        |  FROM w WHERE __side = 1)
        |SELECT user_id, grid_ts,
        |  CASE WHEN tf = tb THEN vb
        |       ELSE vb + (vf - vb) * (tg - tb) div (tf - tb) END
        |    AS interp_micro
        |FROM d ORDER BY user_id, grid_ts""".stripMargin,

    // rolling 7-day distinct actives via contribution expansion (no
    // engine windows COUNT(DISTINCT) over a frame); trailing phantom
    // days past the data clipped by the observed-day max
    "a6_rolling_active_users" ->
      """WITH pairs AS (
        |  SELECT DISTINCT to_date(ts) AS d, user_id AS u FROM events),
        |c AS (
        |  SELECT pos, day, u FROM pairs
        |  LATERAL VIEW posexplode(sequence(d, date_add(d, 6))) t AS pos, day),
        |g AS (
        |  SELECT day, count(DISTINCT u) AS wau,
        |    max(CASE WHEN pos = 0 THEN 1 ELSE 0 END) AS observed
        |  FROM c GROUP BY day),
        |m AS (
        |  SELECT *, max(CASE WHEN observed = 1 THEN day END) OVER () AS maxd
        |  FROM g)
        |SELECT day, wau FROM m WHERE day <= maxd ORDER BY day""".stripMargin,

    // cohort retention: first-active week as a running min over the
    // user partition — no self-join, monotonically coarsening grains
    "a7_cohort_retention" ->
      """WITH weeks AS (
        |  SELECT DISTINCT user_id AS u,
        |    CAST(date_trunc('week', to_date(ts)) AS DATE) AS w
        |  FROM events),
        |c AS (SELECT *, min(w) OVER (PARTITION BY u) AS cohort_w FROM weeks)
        |SELECT cohort_w,
        |  CAST(floor(datediff(w, cohort_w) / 7) AS BIGINT) AS week_no,
        |  count(DISTINCT u) AS n_users
        |FROM c GROUP BY cohort_w, week_no
        |ORDER BY cohort_w, week_no""".stripMargin,

    // time-weighted average: one lead pass, exact integral cents·micros
    // sums (DECIMAL(38,0) numerator), explicit floor(x + 0.5) rounding
    "a8_time_weighted_avg" ->
      """WITH e AS (
        |  SELECT user_id AS k, unix_micros(ts) AS us, event_id AS tie,
        |    CAST(floor(value * 100) AS BIGINT) AS c
        |  FROM events),
        |l AS (
        |  SELECT k, us, c,
        |    lead(us, 1) OVER (PARTITION BY k ORDER BY us, tie) AS nxt
        |  FROM e),
        |g AS (
        |  SELECT k, sum(CAST(c AS DECIMAL(38,0)) * (nxt - us)) AS numd,
        |    sum(nxt - us) AS den
        |  FROM l WHERE nxt IS NOT NULL GROUP BY k),
        |f AS (
        |  SELECT k, CAST(numd AS BIGINT) AS num, den
        |  FROM g WHERE den > 0)
        |SELECT k AS user_id, num, den,
        |  CAST(floor(num / den * 10000 + 0.5d) AS BIGINT) AS twap_micro
        |FROM f ORDER BY user_id""".stripMargin,

    // join-free ordered funnel: each step's first-qualifying time is a
    // whole-partition window min referencing the previous step
    "a9_funnel" ->
      """WITH e AS (
        |  SELECT user_id AS k, ts AS t, event_type AS ty FROM events),
        |s1 AS (SELECT *, min(CASE WHEN ty = 'view' THEN t END)
        |         OVER (PARTITION BY k) AS st1 FROM e),
        |s2 AS (SELECT *, min(CASE WHEN ty = 'click' AND t > st1 THEN t END)
        |         OVER (PARTITION BY k) AS st2 FROM s1),
        |s3 AS (SELECT *, min(CASE WHEN ty = 'purchase' AND t > st2 THEN t END)
        |         OVER (PARTITION BY k) AS st3 FROM s2),
        |g AS (SELECT k, max(st1) AS ts_step1, max(st2) AS ts_step2,
        |             max(st3) AS ts_step3
        |      FROM s3 GROUP BY k)
        |SELECT k AS user_id, ts_step1, ts_step2, ts_step3,
        |  CAST(CASE WHEN ts_step3 IS NOT NULL THEN 3
        |            WHEN ts_step2 IS NOT NULL THEN 2
        |            WHEN ts_step1 IS NOT NULL THEN 1 ELSE 0 END AS BIGINT)
        |    AS steps_completed
        |FROM g ORDER BY user_id""".stripMargin,

    // Tukey fences in exact eighth-micro-units: one percentile
    // aggregate, O(types) fence relation broadcast, single scan
    "a10_value_outliers" ->
      """WITH ev AS (
        |  SELECT event_id, event_type,
        |    CAST(floor(value * 1000000) AS BIGINT) AS v
        |  FROM events),
        |f AS (
        |  SELECT event_type,
        |    CAST(percentile(v, 0.25) * 4 AS BIGINT) AS q25,
        |    CAST(percentile(v, 0.75) * 4 AS BIGINT) AS q75
        |  FROM ev GROUP BY event_type)
        |SELECT /*+ BROADCAST(f) */ ev.event_id, ev.event_type,
        |       ev.v AS value_micro
        |FROM ev JOIN f ON ev.event_type = f.event_type
        |WHERE ev.v * 8 < f.q25 * 2 - (f.q75 - f.q25) * 3
        |   OR ev.v * 8 > f.q75 * 2 + (f.q75 - f.q25) * 3
        |ORDER BY ev.event_id""".stripMargin,

    // rolling z-test vs the trailing 20-event baseline as one exact
    // integer window inequality in DECIMAL(38,0)
    "a11_rolling_zscore" ->
      """WITH ev AS (
        |  SELECT event_id, event_type, ts,
        |    CAST(floor(value * 1000000) AS BIGINT) AS v
        |  FROM events),
        |w AS (
        |  SELECT event_id, event_type, v,
        |    sum(CAST(v AS DECIMAL(38,0))) OVER win AS s,
        |    sum(CAST(v AS DECIMAL(38,0)) * v) OVER win AS q,
        |    count(1) OVER win AS n
        |  FROM ev
        |  WINDOW win AS (PARTITION BY event_type ORDER BY ts, event_id
        |                 ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING))
        |SELECT event_id, event_type, v AS value_micro,
        |  (s - ((s % n + n) % n)) div n AS mean_micro
        |FROM w
        |WHERE n = 20
        |  AND (CAST(n AS DECIMAL(38,0)) * v - s)
        |      * (CAST(n AS DECIMAL(38,0)) * v - s)
        |      > 9 * (CAST(n AS DECIMAL(38,0)) * q - s * s)
        |ORDER BY event_id""".stripMargin,

    // contiguous motif count: two leads over one key-shuffle window,
    // zero-count users explicit
    "a12_motif_sequence" ->
      """WITH e AS (
        |  SELECT user_id AS k, ts AS t, event_id AS tie, event_type AS ty
        |  FROM events),
        |l AS (
        |  SELECT *, lead(ty, 1) OVER win AS t1, lead(ty, 2) OVER win AS t2
        |  FROM e WINDOW win AS (PARTITION BY k ORDER BY t, tie))
        |SELECT k AS user_id, count(1) AS n_events,
        |  count(CASE WHEN ty = 'view' AND t1 = 'click'
        |             AND t2 = 'purchase' THEN 1 END) AS n_motifs
        |FROM l GROUP BY k ORDER BY user_id""".stripMargin,

    // OHLC bars: open/close via min/max over the order-isomorphic
    // packed (ts, id) DECIMAL — one HashAggregate, no window sort;
    // values recovered by unique-id equi-joins
    "a13_ohlc_bars" ->
      """WITH b AS (
        |  SELECT event_type AS k, date_trunc('hour', ts) AS bucket_ts,
        |    value AS v,
        |    CAST(unix_micros(ts) AS DECIMAL(38,0)) * 10000000000L
        |      + event_id AS pk
        |  FROM events),
        |agg AS (
        |  SELECT k, bucket_ts, count(1) AS n_events,
        |    max(v) AS high, min(v) AS low,
        |    CAST(min(pk) % 10000000000L AS BIGINT) AS oid,
        |    CAST(max(pk) % 10000000000L AS BIGINT) AS cid
        |  FROM b GROUP BY k, bucket_ts)
        |SELECT agg.k AS event_type, agg.bucket_ts, agg.n_events,
        |  o.value AS open, agg.high, agg.low, c.value AS close
        |FROM agg
        |JOIN events o ON o.event_id = agg.oid
        |JOIN events c ON c.event_id = agg.cid
        |ORDER BY event_type, bucket_ts""".stripMargin,

    // peak concurrency: the ±1 boundary sweep as a global running sum
    // (semantic twin — the DataFrame form's distributed prefix sum is
    // the 100 TB plan; same note as x4/x14), starts before ends at a
    // tie via the packed parity key
    "a14_peak_concurrency" ->
      """WITH s AS (
        |  SELECT user_id, session_window(ts, '30 minutes') AS w
        |  FROM events GROUP BY user_id, session_window(ts, '30 minutes')),
        |sess AS (SELECT w.start AS st, w.`end` - INTERVAL 30 MINUTES AS en
        |         FROM s),
        |bd AS (SELECT st AS t, 1L AS delta FROM sess
        |       UNION ALL SELECT en, -1L FROM sess),
        |r AS (
        |  SELECT t, delta,
        |    coalesce(sum(delta) OVER (
        |      ORDER BY unix_micros(t) * 2
        |        + CASE WHEN delta < 0 THEN 1L ELSE 0L END
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0L) AS pb
        |  FROM bd)
        |SELECT to_date(t) AS day,
        |  max(pb + greatest(delta, 0L)) AS peak_concurrent,
        |  sum(CASE WHEN delta = 1 THEN 1L ELSE 0L END) AS n_starts,
        |  sum(CASE WHEN delta = -1 THEN 1L ELSE 0L END) AS n_ends
        |FROM r GROUP BY to_date(t) ORDER BY day""".stripMargin,

    // Gopher-style repetition signals: in-row word features plus the
    // per-doc 2-gram aggregate cascade
    "t6_repetition" ->
      """WITH f AS (
        |  SELECT doc_id AS doc, filter(split(text, '\\s+'), w -> w != '') AS ws
        |  FROM documents),
        |base AS (
        |  SELECT doc, ws, CAST(size(ws) AS BIGINT) AS n_tokens,
        |    CASE WHEN size(ws) > 0
        |      THEN round(1.0d - CAST(size(array_distinct(ws)) AS DOUBLE)
        |                 / size(ws), 6)
        |      ELSE 0.0d END AS dup_word_ratio
        |  FROM f),
        |g AS (
        |  SELECT doc, concat_ws(' ', ws[i], ws[i+1]) AS g
        |  FROM base
        |  LATERAL VIEW explode(if(size(ws) >= 2, sequence(0, size(ws) - 2),
        |                          CAST(array() AS ARRAY<INT>))) t AS i),
        |gc AS (SELECT doc, g, count(1) AS c FROM g GROUP BY doc, g),
        |gs AS (
        |  SELECT doc, sum(c) AS n_2grams,
        |    round(1.0d - CAST(count(1) AS DOUBLE) / sum(c), 6)
        |      AS dup_2gram_ratio,
        |    round(CAST(max(c) AS DOUBLE) / sum(c), 6) AS top_2gram_ratio
        |  FROM gc GROUP BY doc)
        |SELECT b.doc, b.n_tokens, b.dup_word_ratio,
        |  coalesce(gs.n_2grams, 0L) AS n_2grams,
        |  coalesce(gs.dup_2gram_ratio, 0.0d) AS dup_2gram_ratio,
        |  coalesce(gs.top_2gram_ratio, 0.0d) AS top_2gram_ratio
        |FROM base b LEFT JOIN gs ON gs.doc = b.doc
        |ORDER BY b.doc""".stripMargin,

    // ---- round 13: the p-family — the REFERENCE'S OWN query set,
    // which SURVEY §2.10 literally writes as SQL (wordcount explode +
    // GROUP BY, the wine per-occurrence token count, the two-phase
    // Condorcet CTE, rank-before-filter grep) — and the c-family
    // changelog/CDC shapes (compact-latest, SCD2 intervals,
    // delete-aware compaction), classic warehouse window SQL. ----

    "p1_wordcount" ->
      """SELECT word, count(1) AS n_occurrences
        |FROM (SELECT explode(split(text, '\\s+')) AS word FROM documents)
        |WHERE word != ''
        |GROUP BY word ORDER BY word""".stripMargin,

    // the wine shape: the filter prunes rows BEFORE the explode, and
    // occurrences (not matching rows) are what count
    "p2_wine_token_count" ->
      """SELECT source, count(1) AS n_occurrences
        |FROM (SELECT source, explode(split(text, '\\s+')) AS word
        |      FROM documents WHERE lang = 'en')
        |WHERE word = 'hash'
        |GROUP BY source ORDER BY source""".stripMargin,

    // two-phase Condorcet: per-pair majority (ties to the smaller
    // candidate), then the global tally with the wins = n-1 winner
    // threshold and the max-wins fallback set
    "p3_condorcet" ->
      """WITH cand AS (SELECT CAST(id AS INT) AS c FROM range(5)),
        |prefs AS (
        |  SELECT a.c AS ca, b.c AS cb,
        |    CASE WHEN ((o_orderkey * (a.c + 1)) % 101
        |               < (o_orderkey * (b.c + 1)) % 101)
        |           OR ((o_orderkey * (a.c + 1)) % 101
        |               = (o_orderkey * (b.c + 1)) % 101 AND a.c < b.c)
        |         THEN 1 ELSE 0 END AS vote
        |  FROM orders, cand a, cand b WHERE a.c < b.c),
        |pair_winners AS (
        |  SELECT CASE WHEN sum(vote) >= count(1) - sum(vote)
        |              THEN ca ELSE cb END AS w
        |  FROM prefs GROUP BY ca, cb),
        |wins AS (
        |  SELECT c AS candidate, count(w) AS n_wins
        |  FROM cand LEFT JOIN pair_winners ON w = c GROUP BY c)
        |SELECT CAST(candidate AS BIGINT) AS candidate, n_wins,
        |  n_wins = max(n_wins) OVER () AS in_top_set,
        |  n_wins = 4 AS is_condorcet_winner
        |FROM wins ORDER BY candidate""".stripMargin,

    // grep with ORIGINAL line numbers: the rank is computed BEFORE the
    // regex filter (SURVEY §3.1 — positions in the unfiltered file)
    "p4_grep" ->
      """SELECT source, line_no, text FROM (
        |  SELECT source, text,
        |    CAST(row_number() OVER (PARTITION BY source ORDER BY doc_id)
        |      AS BIGINT) AS line_no
        |  FROM documents)
        |WHERE text RLIKE 'join (a|the) (big|small)'
        |ORDER BY source, line_no""".stripMargin,

    // the file-grain row's table-grain twin: p4b greps a materialized
    // per-source text directory via wholeTextFiles; its SQL twin is
    // the same rank-then-filter relation the oracle replays — the two
    // layouts must agree line-for-line
    "p4b_grep_files" ->
      """SELECT source, line_no, text FROM (
        |  SELECT source, text,
        |    CAST(row_number() OVER (PARTITION BY source ORDER BY doc_id)
        |      AS BIGINT) AS line_no
        |  FROM documents)
        |WHERE text RLIKE 'join (a|the) (big|small)'
        |ORDER BY source, line_no""".stripMargin,

    // compact-latest as the window spelling (the DataFrame form ships
    // the packed-max HashAggregate — O(keys) through the shuffle; this
    // twin is the specification it must equal)
    "c1_compact_latest" ->
      """SELECT user_id, ts, event_id, event_type, value FROM (
        |  SELECT user_id, ts, event_id, event_type, value,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events)
        |WHERE rn = 1 ORDER BY user_id""".stripMargin,

    // SCD2: collapse to state transitions (null-safe lag compare),
    // stamp [valid_from, valid_to) via lead, open interval is_current
    "c2_scd2_intervals" ->
      """WITH t AS (
        |  SELECT user_id, event_id, event_type, ts,
        |    lag(event_type) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS prev,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS rn
        |  FROM events),
        |tr AS (SELECT * FROM t WHERE rn = 1 OR NOT (event_type <=> prev))
        |SELECT user_id, event_id, event_type,
        |  ts AS valid_from,
        |  lead(ts) OVER (PARTITION BY user_id
        |    ORDER BY ts, event_id) AS valid_to,
        |  CAST(lead(ts) OVER (PARTITION BY user_id
        |    ORDER BY ts, event_id) IS NULL AS BIGINT) AS is_current
        |FROM tr
        |ORDER BY user_id, valid_from, event_id""".stripMargin,

    // delete-tombstone CDC: the tombstone filter applies AFTER the
    // latest-record selection — a key whose last word is a delete is
    // absent; filtering deletes first would wrongly resurrect it
    "c3_compact_deletes" ->
      """SELECT user_id, ts, event_id, event_type, value FROM (
        |  SELECT user_id, ts, event_id, event_type, value,
        |    CASE WHEN event_id % 7 = 0 THEN 'delete'
        |         ELSE 'upsert' END AS op,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events)
        |WHERE rn = 1 AND op != 'delete' ORDER BY user_id""".stripMargin,

    // staged PII scrub: each count taken on its stage's INPUT text so
    // counts reconcile against inserted placeholders exactly (an email
    // whose local part looks like a phone must not double-book)
    "t7_pii_redaction" ->
      """WITH allrows AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT * FROM VALUES
        |    (1000001L, 'contact bob@example.com or alice@web.co for details'),
        |    (1000002L, 'call 555-123-4567 or 555.987.6543 now'),
        |    (1000003L, 'server at 10.0.0.1 and 192.168.1.254 replied'),
        |    (1000004L, 'mixed a@b.io 1.2.3.4 777-888-9999'),
        |    (1000005L, 'call 555-123-4567@corp.example now')
        |    AS v(doc_id, text)),
        |staged AS (
        |  SELECT doc_id AS doc, text,
        |    regexp_replace(text,
        |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}',
        |      '<EMAIL>') AS t1
        |  FROM allrows),
        |staged2 AS (
        |  SELECT *, regexp_replace(t1,
        |    '\\b[0-9]{3}[-.][0-9]{3}[-.][0-9]{4}\\b', '<PHONE>') AS t2
        |  FROM staged)
        |SELECT doc,
        |  CAST(regexp_count(text,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')
        |    AS BIGINT) AS n_emails,
        |  CAST(regexp_count(t1,
        |    '\\b[0-9]{3}[-.][0-9]{3}[-.][0-9]{4}\\b') AS BIGINT) AS n_phones,
        |  CAST(regexp_count(t2,
        |    '\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b')
        |    AS BIGINT) AS n_ips,
        |  regexp_replace(t2,
        |    '\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b',
        |    '<IP>') AS redacted
        |FROM staged2 ORDER BY doc""".stripMargin,

    // markup strip + single-pass entity decode (&amp; LAST so &amp;lt;
    // yields the literal &lt;) + whitespace collapse — order matters
    // and the text states it in the nesting
    "t10_normalize_markup" ->
      """WITH allrows AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT * FROM VALUES
        |    (1000001L, '<p>Hello <b>world</b></p>'),
        |    (1000002L, 'a &amp;amp; b &lt;tag&gt; c &quot;q&quot; &#39;s&#39;'),
        |    (1000003L, '  lots' || chr(9) || chr(9) || 'of' || chr(10) ||
        |      chr(10) || 'space   here  '),
        |    (1000004L, '&nbsp;pad&nbsp;'),
        |    (1000005L, '<a href="x?a=1&amp;b=2">link</a> tail')
        |    AS v(doc_id, text))
        |SELECT doc_id AS doc,
        |  CAST(regexp_count(text, '<[^>]*>') AS BIGINT) AS n_tags,
        |  trim(regexp_replace(
        |    replace(replace(replace(replace(replace(replace(
        |      regexp_replace(text, '<[^>]*>', ' '),
        |      '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
        |      '&#39;', ''''), '&nbsp;', ' '), '&amp;', '&'),
        |    '[ \\t\\r\\n]+', ' ')) AS clean,
        |  CAST(length(trim(regexp_replace(
        |    replace(replace(replace(replace(replace(replace(
        |      regexp_replace(text, '<[^>]*>', ' '),
        |      '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
        |      '&#39;', ''''), '&nbsp;', ' '), '&amp;', '&'),
        |    '[ \\t\\r\\n]+', ' '))) AS BIGINT) AS n_chars_clean
        |FROM allrows ORDER BY doc""".stripMargin,

    // encoding sanity: pure per-row regex counts + one exact integer
    // ppm division
    "t11_encoding_stats" ->
      """WITH allrows AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT * FROM VALUES
        |    (1000001L, 'café naïve 日本語 text'),
        |    (1000002L, 'binary' || chr(1) || 'sniff' || chr(2) || 'here'),
        |    (1000003L, 'bad decode �� mark'),
        |    (1000004L, ''),
        |    (1000005L, 'pure ascii stays clean')
        |    AS v(doc_id, text))
        |SELECT doc_id AS doc,
        |  CAST(length(text) AS BIGINT) AS n_chars,
        |  CAST(regexp_count(text, '[^\\x00-\\x7F]') AS BIGINT) AS n_non_ascii,
        |  CAST(regexp_count(text, '[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F]')
        |    AS BIGINT) AS n_control,
        |  CAST(regexp_count(text, '�') AS BIGINT) AS n_replacement,
        |  CAST(CASE WHEN length(text) = 0 THEN 0
        |       ELSE floor(regexp_count(text, '[^\\x00-\\x7F]') * 1000000L
        |                  / length(text)) END AS BIGINT) AS non_ascii_ppm
        |FROM allrows ORDER BY doc""".stripMargin,

    // Flesch micro-units with truncating div and the max(Se,1) floor;
    // word count through the canonical whitespace-token definition
    "t19_readability" ->
      """WITH f AS (
        |  SELECT doc_id AS doc,
        |    CAST(size(filter(split(text, '\\s+'), w -> w != ''))
        |         AS BIGINT) AS w,
        |    CAST(regexp_count(text, '[.!?]+') AS BIGINT) AS se,
        |    CAST(regexp_count(text, '[aeiouy]+') AS BIGINT) AS sy
        |  FROM documents)
        |SELECT doc, w AS n_words, se AS n_sentences, sy AS n_syllables,
        |  CASE WHEN w > 0
        |       THEN 206835000L - 1015000L * w div greatest(se, 1L)
        |                       - 84600000L * sy div w
        |       ELSE 0L END AS flesch_micro
        |FROM f ORDER BY doc""".stripMargin,

    // overlapping context windows: row-local sequence explode + array
    // slice — no shuffle before the presentation sort
    "x7_chunk_overlap" ->
      """WITH toks AS (
        |  SELECT doc_id, filter(split(text, '\\s+'), w -> w != '') AS ws
        |  FROM documents),
        |base AS (SELECT doc_id, ws, size(ws) AS n FROM toks
        |         WHERE size(ws) >= 1),
        |c AS (SELECT doc_id, ws, n,
        |        CASE WHEN n <= 32 THEN 1 ELSE (n - 32 + 23) div 24 + 1 END
        |          AS nchunks
        |      FROM base),
        |e AS (SELECT doc_id, ws, n, CAST(cid AS BIGINT) AS chunk_id
        |      FROM c LATERAL VIEW explode(sequence(0, nchunks - 1)) t AS cid)
        |SELECT doc_id AS doc, chunk_id,
        |  CAST(chunk_id*24 + 1 AS BIGINT) AS start_tok,
        |  CAST(least(32, n - chunk_id*24) AS BIGINT) AS n_tokens,
        |  array_join(slice(ws, CAST(chunk_id*24 + 1 AS INT),
        |    CAST(least(32, n - chunk_id*24) AS INT)), ' ') AS chunk_text
        |FROM e ORDER BY doc, chunk_id""".stripMargin,

    // curriculum positions: the DECLARATIVE global ranking — the
    // engine materializes the same order via the distributed prefix
    // sum (no single-partition window); parity proves they agree
    "x12_curriculum_order" ->
      """WITH f AS (
        |  SELECT doc_id AS doc,
        |    CAST(size(filter(split(text, '\\s+'), w -> w != ''))
        |         AS BIGINT) AS n,
        |    CAST(length(text) AS BIGINT) AS l,
        |    CAST(length(regexp_replace(text, '[^.,!?;:]', ''))
        |         AS BIGINT) AS p,
        |    CAST(size(filter(split(text, '\\s+'),
        |          w -> array_contains(array('the','a','of','to','and'), w)))
        |         AS BIGINT) AS s
        |  FROM documents),
        |q AS (
        |  SELECT doc,
        |    CAST(CASE WHEN n > 0 THEN
        |      (10000L*least(n, 50L)*l*n + 250000L*(l-p)*n
        |        + 250000L*least(n, 4L*s)*l) div (l*n)
        |    ELSE 0L END AS BIGINT) AS q_micro
        |  FROM f)
        |SELECT doc, q_micro,
        |  CAST(row_number() OVER (ORDER BY q_micro DESC, doc) - 1
        |       AS BIGINT) AS cur_pos
        |FROM q ORDER BY doc""".stripMargin,

    // first-occurrence 8-gram novelty: gram min-owner aggregate + one
    // gram-keyed join back — no pair enumeration, no window
    "d14_ngram_novelty" ->
      """WITH toks AS (
        |  SELECT doc_id, filter(split(text, '\\s+'), w -> w != '') AS ws
        |  FROM documents),
        |sh AS (
        |  SELECT DISTINCT doc_id,
        |    concat_ws(' ', ws[i], ws[i+1], ws[i+2], ws[i+3],
        |              ws[i+4], ws[i+5], ws[i+6], ws[i+7]) AS s
        |  FROM toks
        |  LATERAL VIEW explode(if(size(ws) >= 8, sequence(0, size(ws) - 8),
        |                          CAST(array() AS ARRAY<INT>))) t AS i),
        |own AS (SELECT s, min(doc_id) AS owner FROM sh GROUP BY s),
        |per AS (
        |  SELECT sh.doc_id, CAST(count(*) AS BIGINT) AS n_grams,
        |    CAST(sum(CASE WHEN own.owner = sh.doc_id THEN 1 ELSE 0 END)
        |         AS BIGINT) AS n_novel
        |  FROM sh JOIN own ON sh.s = own.s GROUP BY sh.doc_id)
        |SELECT d.doc_id AS doc,
        |  coalesce(per.n_grams, 0L) AS n_grams,
        |  coalesce(per.n_novel, 0L) AS n_novel,
        |  CAST(CASE WHEN coalesce(per.n_grams, 0L) > 0
        |       THEN per.n_novel * 1000000L div per.n_grams
        |       ELSE 0L END AS BIGINT) AS novelty_ppm
        |FROM documents d LEFT JOIN per ON per.doc_id = d.doc_id
        |ORDER BY doc""".stripMargin,

    // Efraimidis-Spirakis weighted sampling: the exponential race on
    // deterministic keyed-hash uniforms (md5 -> 52-bit integral u);
    // float keys never leave the ranking, output stays integral
    "x10_weighted_sample" ->
      """WITH b AS (
        |  SELECT doc_id, source, CAST(n_chars AS DOUBLE) AS w,
        |    CAST(conv(substr(md5(concat('wsample1:',
        |      CAST(doc_id AS STRING))), 1, 13), 16, 10) AS BIGINT) AS u
        |  FROM documents),
        |r AS (
        |  SELECT doc_id, source,
        |    row_number() OVER (PARTITION BY source ORDER BY
        |      CASE WHEN w > 0
        |           THEN -ln((u + 1.0D) / 4503599627370496.0D) / w
        |           ELSE 1e308D END,
        |      doc_id) AS rk
        |  FROM b)
        |SELECT doc_id AS doc, source, CAST(rk AS BIGINT) AS sel_rank
        |FROM r WHERE rk <= 5 ORDER BY doc""".stripMargin,

    // sequence-level dedup signal (Lee et al.): per-OCCURRENCE 8-gram
    // positions duplicated across docs + distinct-position coverage —
    // gram group-by + two joins back, no pair enumeration
    "d9_dup_ngram_coverage" ->
      """WITH toks AS (
        |  SELECT doc_id, filter(split(text, '\\s+'), w -> w != '') AS ws
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, i,
        |    concat_ws(' ', ws[i], ws[i+1], ws[i+2], ws[i+3],
        |              ws[i+4], ws[i+5], ws[i+6], ws[i+7]) AS gram
        |  FROM toks
        |  LATERAL VIEW explode(if(size(ws) >= 8, sequence(0, size(ws) - 8),
        |                          CAST(array() AS ARRAY<INT>))) t AS i),
        |dup AS (SELECT gram FROM g GROUP BY gram
        |        HAVING min(doc_id) <> max(doc_id)),
        |pd AS (SELECT doc_id, count(*) AS n_dup_ngrams
        |       FROM g JOIN dup USING (gram) GROUP BY doc_id),
        |docc AS (
        |  SELECT DISTINCT doc_id, p
        |  FROM g JOIN dup USING (gram)
        |  LATERAL VIEW explode(sequence(i, i + 7)) u AS p),
        |cov AS (SELECT doc_id, count(*) AS n_covered
        |        FROM docc GROUP BY doc_id)
        |SELECT t.doc_id AS doc, CAST(size(t.ws) AS BIGINT) AS n_tokens,
        |  coalesce(pd.n_dup_ngrams, 0L) AS n_dup_ngrams,
        |  coalesce(cov.n_covered, 0L) AS n_covered
        |FROM toks t
        |LEFT JOIN pd ON pd.doc_id = t.doc_id
        |LEFT JOIN cov ON cov.doc_id = t.doc_id
        |ORDER BY doc""".stripMargin,

    // portable SimHash-64 near-dup pairs: fingerprints recomputed from
    // scratch (md5-derived token hash, per-bit votes, sign fold — the
    // signed-long bit-63 term is exact in two's complement), pairs by
    // all-pairs popcount at SQL-surface scale (the ENGINE finds them
    // via the 16-bit block join)
    "d4_simhash_dedup" ->
      """WITH tok AS (
        |  SELECT doc_id,
        |    explode(filter(split(text, '\\s+'), w -> w != '')) AS w
        |  FROM documents),
        |th AS (
        |  SELECT doc_id,
        |    (shiftleft(CAST(conv(substring(md5(w), 1, 8), 16, 10) AS BIGINT), 32)
        |      | CAST(conv(substring(md5(w), 9, 8), 16, 10) AS BIGINT)) AS h
        |  FROM tok),
        |votes AS (
        |  SELECT doc_id, i,
        |    sum(CASE WHEN shiftright(h, i) & 1 = 1 THEN 1 ELSE -1 END) AS v
        |  FROM th LATERAL VIEW explode(sequence(0, 63)) t AS i
        |  GROUP BY doc_id, i),
        |fp AS (
        |  SELECT doc_id,
        |    sum(CASE WHEN v > 0 THEN shiftleft(1L, i) ELSE 0L END) AS fp
        |  FROM votes GROUP BY doc_id)
        |SELECT a.doc_id AS i, b.doc_id AS j,
        |  CAST(bit_count(a.fp ^ b.fp) AS BIGINT) AS hamming
        |FROM fp a JOIN fp b ON a.doc_id < b.doc_id
        |WHERE bit_count(a.fp ^ b.fp) <= 3
        |ORDER BY i, j""".stripMargin,

    // d14's novelty probe restricted to the id >= 250 batch against
    // the full-corpus gram owners (the at-rest index contract)
    "d15_incremental_novelty" ->
      """WITH toks AS (
        |  SELECT doc_id, filter(split(text, '\\s+'), w -> w != '') AS ws
        |  FROM documents),
        |sh AS (
        |  SELECT DISTINCT doc_id,
        |    concat_ws(' ', ws[i], ws[i+1], ws[i+2], ws[i+3],
        |              ws[i+4], ws[i+5], ws[i+6], ws[i+7]) AS s
        |  FROM toks
        |  LATERAL VIEW explode(if(size(ws) >= 8, sequence(0, size(ws) - 8),
        |                          CAST(array() AS ARRAY<INT>))) t AS i),
        |own AS (SELECT s, min(doc_id) AS owner FROM sh GROUP BY s),
        |per AS (
        |  SELECT sh.doc_id, CAST(count(*) AS BIGINT) AS n_grams,
        |    CAST(sum(CASE WHEN own.owner = sh.doc_id THEN 1 ELSE 0 END)
        |         AS BIGINT) AS n_novel
        |  FROM sh JOIN own ON sh.s = own.s GROUP BY sh.doc_id)
        |SELECT d.doc_id AS doc,
        |  coalesce(per.n_grams, 0L) AS n_grams,
        |  coalesce(per.n_novel, 0L) AS n_novel,
        |  CAST(CASE WHEN coalesce(per.n_grams, 0L) > 0
        |       THEN per.n_novel * 1000000L div per.n_grams
        |       ELSE 0L END AS BIGINT) AS novelty_ppm
        |FROM documents d LEFT JOIN per ON per.doc_id = d.doc_id
        |WHERE d.doc_id >= 250
        |ORDER BY doc""".stripMargin,

    // BPE merge learning: the same 5 iterations the engine's driver
    // argmax loop runs, unrolled — pair counts over the shrinking
    // vocabulary, 1-row argmax (ORDER BY f DESC, pair LIMIT 1),
    // literal left-to-right non-overlapping replace
    "t14_bpe_merges" -> {
      def it(i: Int, prev: String): String =
        s"""p$i AS (
           |  SELECT concat_ws(' ', l[k], l[k+1]) AS pair, sum(freq) AS f
           |  FROM (SELECT split(trim(repr), ' ') AS l, freq FROM $prev) s$i
           |  LATERAL VIEW explode(if(size(l) >= 2, sequence(0, size(l) - 2),
           |                          CAST(array() AS ARRAY<INT>))) t AS k
           |  GROUP BY 1),
           |b$i AS (SELECT pair, f FROM p$i ORDER BY f DESC, pair LIMIT 1),
           |w$i AS (SELECT replace(repr, concat(' ', (SELECT pair FROM b$i), ' '),
           |          concat(' ', replace((SELECT pair FROM b$i), ' ', ''), ' '))
           |          AS repr, freq FROM $prev)""".stripMargin
      s"""WITH w0 AS (
         |  SELECT concat(' ', regexp_replace(wd, '(.)', '${"$"}1 ')) AS repr,
         |         count(1) AS freq
         |  FROM (SELECT explode(split(text, '\\\\s+')) AS wd FROM documents) t0
         |  WHERE wd != '' GROUP BY 1),
         |${it(1, "w0")},
         |${it(2, "w1")},
         |${it(3, "w2")},
         |${it(4, "w3")},
         |${it(5, "w4")}
         |SELECT * FROM (
         |  SELECT CAST(1 AS BIGINT) AS iter, pair, f AS freq FROM b1
         |  UNION ALL SELECT CAST(2 AS BIGINT), pair, f FROM b2
         |  UNION ALL SELECT CAST(3 AS BIGINT), pair, f FROM b3
         |  UNION ALL SELECT CAST(4 AS BIGINT), pair, f FROM b4
         |  UNION ALL SELECT CAST(5 AS BIGINT), pair, f FROM b5) u
         |ORDER BY iter""".stripMargin
    },

    // t14's other half: re-learn the 5 merges, then tokenize every
    // document from the final vocabulary relation (per distinct word,
    // never per occurrence)
    "t17_bpe_encode" -> {
      def it(i: Int, prev: String): String =
        s"""p$i AS (
           |  SELECT concat_ws(' ', l[k], l[k+1]) AS pair, sum(freq) AS f
           |  FROM (SELECT split(trim(repr), ' ') AS l, freq FROM $prev) s$i
           |  LATERAL VIEW explode(if(size(l) >= 2, sequence(0, size(l) - 2),
           |                          CAST(array() AS ARRAY<INT>))) t AS k
           |  GROUP BY 1),
           |b$i AS (SELECT pair, f FROM p$i ORDER BY f DESC, pair LIMIT 1),
           |w$i AS (SELECT replace(repr, concat(' ', (SELECT pair FROM b$i), ' '),
           |          concat(' ', replace((SELECT pair FROM b$i), ' ', ''), ' '))
           |          AS repr, freq FROM $prev)""".stripMargin
      s"""WITH w0 AS (
         |  SELECT concat(' ', regexp_replace(wd, '(.)', '${"$"}1 ')) AS repr,
         |         count(1) AS freq
         |  FROM (SELECT explode(split(text, '\\\\s+')) AS wd FROM documents) t0
         |  WHERE wd != '' GROUP BY 1),
         |${it(1, "w0")},
         |${it(2, "w1")},
         |${it(3, "w2")},
         |${it(4, "w3")},
         |${it(5, "w4")},
         |vocab AS (
         |  SELECT replace(trim(repr), ' ', '') AS w,
         |         CAST(size(split(trim(repr), ' ')) AS BIGINT) AS nt
         |  FROM w5),
         |dw AS (
         |  SELECT doc_id, wd
         |  FROM (SELECT doc_id, explode(split(text, '\\\\s+')) AS wd
         |        FROM documents) t1
         |  WHERE wd != ''),
         |agg AS (
         |  SELECT doc_id, count(1) AS nw, sum(nt) AS ntok
         |  FROM dw JOIN vocab v ON dw.wd = v.w
         |  GROUP BY doc_id)
         |SELECT d.doc_id,
         |  coalesce(a.nw, 0L) AS n_words,
         |  CAST(coalesce(a.ntok, 0L) AS BIGINT) AS n_tokens
         |FROM documents d LEFT JOIN agg a ON d.doc_id = a.doc_id
         |ORDER BY d.doc_id""".stripMargin
    },

    // embedding near-dup pairs: corpus + seed-pinned perturbed copies,
    // all-pairs cosine at SQL-surface scale via the native array_dot
    // (the ENGINE finds the same pairs through LSH bucket collisions)
    "s3_cosine_neardup" ->
      """WITH pert AS (
        |  SELECT vec_id,
        |    transform(CAST(embedding AS ARRAY<DOUBLE>),
        |      (x, i) -> x + 0.04d * sin(vec_id * 7 + i)) AS v
        |  FROM (SELECT vec_id + 1000000L AS vec_id, embedding
        |        FROM embeddings) o),
        |allv AS (
        |  SELECT vec_id, CAST(embedding AS ARRAY<DOUBLE>) AS v FROM embeddings
        |  UNION ALL SELECT vec_id, v FROM pert),
        |scored AS (
        |  SELECT a.vec_id AS i, b.vec_id AS j,
        |    round(array_dot(a.v, b.v)
        |      / (sqrt(array_dot(a.v, a.v)) * sqrt(array_dot(b.v, b.v))), 4)
        |      AS cosine
        |  FROM allv a JOIN allv b ON a.vec_id < b.vec_id)
        |SELECT i, j, cosine FROM scored
        |WHERE cosine >= 0.9 ORDER BY i, j""".stripMargin,

    // corpus-trained add-1 bigram LM, per-doc NLL in integral
    // micronats (floor on DOUBLE yields BIGINT, so the sums are long)
    "t8_lm_score" ->
      """WITH toks AS (
        |  SELECT doc_id AS doc, lang,
        |    filter(split(text, '\\s+'), w -> w != '') AS ws
        |  FROM documents),
        |occ AS (
        |  SELECT doc, lang, ws[i] AS w1, ws[i+1] AS w2
        |  FROM toks
        |  LATERAL VIEW explode(if(size(ws) >= 2, sequence(0, size(ws) - 2),
        |                          CAST(array() AS ARRAY<INT>))) t AS i),
        |docbg AS (
        |  SELECT doc, lang, w1, w2, count(1) AS m
        |  FROM occ GROUP BY doc, lang, w1, w2),
        |model AS (SELECT lang, w1, w2, sum(m) AS c12
        |          FROM docbg GROUP BY lang, w1, w2),
        |heads AS (SELECT lang, w1, sum(c12) AS c1 FROM model GROUP BY lang, w1),
        |vocab AS (
        |  SELECT lang, count(DISTINCT w) AS v
        |  FROM (SELECT lang, explode(ws) AS w FROM toks) u GROUP BY lang),
        |scored AS (
        |  SELECT d.doc, d.lang,
        |    sum(d.m) AS n_bigrams,
        |    sum(d.m * (-floor(ln((mo.c12 + 1.0d) / (h.c1 + vo.v)) * 1e6)))
        |      AS nll_micro
        |  FROM docbg d
        |  JOIN model mo ON d.lang = mo.lang AND d.w1 = mo.w1 AND d.w2 = mo.w2
        |  JOIN heads h ON d.lang = h.lang AND d.w1 = h.w1
        |  JOIN vocab vo ON d.lang = vo.lang
        |  GROUP BY d.doc, d.lang)
        |SELECT doc, lang, n_bigrams, nll_micro,
        |  nll_micro div n_bigrams AS avg_nll_micro
        |FROM scored ORDER BY doc""".stripMargin,

    // top-3 TF-IDF keywords (integral micro-idf, term-asc tie-break)
    "t9_tfidf_keywords" ->
      """WITH tf AS (
        |  SELECT doc_id AS doc, w AS term, count(1) AS tf
        |  FROM (SELECT doc_id,
        |          explode(filter(split(text, '\\s+'), w -> w != '')) AS w
        |        FROM documents) u
        |  GROUP BY doc_id, w),
        |dfx AS (SELECT term, count(1) AS df FROM tf GROUP BY term),
        |n AS (SELECT count(1) AS n FROM documents),
        |scored AS (
        |  SELECT tf.doc, tf.term, tf.tf, dfx.df,
        |    tf.tf * floor(ln(n.n * 1.0d / dfx.df) * 1e6) AS score_micro
        |  FROM tf JOIN dfx ON tf.term = dfx.term CROSS JOIN n),
        |ranked AS (
        |  SELECT *, row_number() OVER (PARTITION BY doc
        |      ORDER BY score_micro DESC, term ASC) AS rank
        |  FROM scored)
        |SELECT doc, rank, term, tf, df, score_micro
        |FROM ranked WHERE rank <= 3 ORDER BY doc, rank""".stripMargin,

    // top-20 tokens with exact cumulative coverage share
    "t12_vocab_coverage" ->
      """WITH tok AS (
        |  SELECT explode(filter(split(text, '\\s+'), w -> w != '')) AS w
        |  FROM documents),
        |c AS (SELECT w, count(1) AS cnt FROM tok GROUP BY w),
        |tot AS (SELECT sum(cnt) AS total FROM c),
        |top AS (SELECT w, cnt FROM c ORDER BY cnt DESC, w LIMIT 20)
        |SELECT CAST(row_number() OVER (ORDER BY cnt DESC, w) AS BIGINT)
        |    AS rank,
        |  w, cnt,
        |  (sum(cnt) OVER (ORDER BY cnt DESC, w
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |    * 1000000L) div (SELECT total FROM tot) AS cum_share_ppm
        |FROM top ORDER BY rank""".stripMargin,

    // CMS heavy hitters: the mergeable sketch aggregate + the native
    // cms_estimate probe, by SQL name — the whole sketch surface is
    // reachable from the SQL CLI
    "t13_cms_heavy_hitters" ->
      """WITH tok AS (
        |  SELECT explode(filter(split(text, '\\s+'), w -> w != '')) AS w
        |  FROM documents),
        |c AS (SELECT w, count(1) AS cnt FROM tok GROUP BY w),
        |top AS (SELECT w, cnt FROM c ORDER BY cnt DESC, w LIMIT 10),
        |sk AS (SELECT count_min_sketch(w, 0.0001d, 0.999d, 42) AS sk FROM tok),
        |tot AS (SELECT sum(cnt) AS total FROM c)
        |SELECT w, cnt,
        |  (cms_estimate(sk, w) >= cnt AND
        |   cms_estimate(sk, w) <= cnt + CAST(ceil(0.0001d * total) AS BIGINT))
        |    AS ok_est
        |FROM top CROSS JOIN sk CROSS JOIN tot
        |ORDER BY cnt DESC, w""".stripMargin,

    // top-100 collocations by exact integer PMI lift
    "t15_collocations" ->
      """WITH toks AS (
        |  SELECT lang, filter(split(text, '\\s+'), w -> w != '') AS ws
        |  FROM documents),
        |occ AS (
        |  SELECT lang, ws[i] AS w1, ws[i+1] AS w2
        |  FROM toks
        |  LATERAL VIEW explode(if(size(ws) >= 2, sequence(0, size(ws) - 2),
        |                          CAST(array() AS ARRAY<INT>))) t AS i),
        |big AS (SELECT lang, w1, w2, count(1) AS c12
        |        FROM occ GROUP BY lang, w1, w2),
        |heads AS (SELECT lang, w1, sum(c12) AS c1h FROM big GROUP BY lang, w1),
        |tails AS (SELECT lang, w2, sum(c12) AS c2t FROM big GROUP BY lang, w2),
        |tot AS (SELECT lang, sum(c12) AS nb FROM big GROUP BY lang)
        |SELECT b.lang, b.w1, b.w2, b.c12,
        |  (b.c12 * t.nb * 1000000L) div (h.c1h * tl.c2t) AS lift_micro
        |FROM big b JOIN heads h ON b.lang = h.lang AND b.w1 = h.w1
        |JOIN tails tl ON b.lang = tl.lang AND b.w2 = tl.w2
        |JOIN tot t ON b.lang = t.lang
        |WHERE b.c12 >= 5
        |ORDER BY lift_micro DESC, b.lang, b.w1, b.w2
        |LIMIT 100""".stripMargin,

    // end-to-end corpus cleaning: exact dedup -> near-dup prune ->
    // survivor stats by lang
    "d5_dedup_pipeline" ->
      """WITH keep_exact AS (
        |  SELECT min(doc_id) AS keep_id FROM documents GROUP BY md5(text)),
        |f0 AS (
        |  SELECT doc_id, filter(split(text, '\\s+'), w -> w != '') AS ws
        |  FROM documents),
        |sh AS (
        |  SELECT DISTINCT doc_id,
        |    concat_ws(' ', ws[i], ws[i+1], ws[i+2]) AS s
        |  FROM f0
        |  LATERAL VIEW explode(if(size(ws) >= 3, sequence(0, size(ws) - 3),
        |                          CAST(array() AS ARRAY<INT>))) t AS i),
        |rare AS (SELECT s FROM sh GROUP BY s HAVING count(*) <= 100),
        |shr AS (SELECT sh.doc_id, sh.s FROM sh JOIN rare ON sh.s = rare.s),
        |sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
        |pairs AS (
        |  SELECT a.doc_id AS i, b.doc_id AS j, count(*) AS c
        |  FROM shr a JOIN shr b ON a.s = b.s AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |near_dup_j AS (
        |  SELECT DISTINCT j FROM pairs
        |  JOIN sizes sa ON sa.doc_id = i JOIN sizes sb ON sb.doc_id = j
        |  WHERE round(CAST(c AS DOUBLE) / (sa.sz + sb.sz - c), 6) >= 0.8)
        |SELECT lang, count(1) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS total_chars
        |FROM documents
        |WHERE doc_id IN (SELECT keep_id FROM keep_exact)
        |  AND doc_id NOT IN (SELECT j FROM near_dup_j)
        |GROUP BY lang ORDER BY lang""".stripMargin,

    // d7 after the t10 normalization + case-fold on both sides, with
    // the planted case-flipped markup-wrapped eval copy of train doc 7
    "d16_normalized_decontamination" ->
      """WITH allrows AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT (SELECT max(doc_id) + 1 FROM documents) AS doc_id,
        |         concat('<p>', upper(text), '</p>') AS text
        |  FROM documents WHERE doc_id = 7),
        |norm AS (
        |  SELECT doc_id, lower(trim(regexp_replace(
        |    replace(replace(replace(replace(replace(replace(
        |      regexp_replace(text, '<[^>]*>', ' '),
        |      '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
        |      '&#39;', ''''), '&nbsp;', ' '), '&amp;', '&'),
        |    '[ \\t\\r\\n]+', ' '))) AS text
        |  FROM allrows),
        |split AS (SELECT max(doc_id) - 49 AS b FROM documents),
        |f AS (
        |  SELECT doc_id, filter(split(text, '\\s+'), w -> w != '') AS ws
        |  FROM norm),
        |sh AS (
        |  SELECT DISTINCT doc_id,
        |    concat_ws(' ', ws[i], ws[i+1], ws[i+2], ws[i+3],
        |              ws[i+4], ws[i+5], ws[i+6], ws[i+7]) AS s
        |  FROM f
        |  LATERAL VIEW explode(if(size(ws) >= 8, sequence(0, size(ws) - 8),
        |                          CAST(array() AS ARRAY<INT>))) t AS i),
        |tr AS (SELECT * FROM sh WHERE doc_id < (SELECT b FROM split)),
        |ev AS (SELECT * FROM sh WHERE doc_id >= (SELECT b FROM split))
        |SELECT /*+ BROADCAST(ev) */ tr.doc_id AS doc,
        |  count(*) AS n_shared_shingles,
        |  count(DISTINCT ev.doc_id) AS n_eval_docs
        |FROM tr JOIN ev ON tr.s = ev.s
        |GROUP BY tr.doc_id ORDER BY doc""".stripMargin,

    // MinHash-vs-exact calibration: the K=16 fixed-seed (a·x+b) mod p
    // signature family with the constants as literals (generated from
    // the SAME minhashParams seed the engine uses, so the twin cannot
    // drift from the operator)
    "d17_minhash_calibration" -> {
      val p = 2147483647L
      val params = graft.operators.Dedup.minhashParams(16)
      val sigCols = params.zipWithIndex.map { case ((a, b), k) =>
        s"min((x * ${a}L + ${b}L) % ${p}L) AS m$k"
      }.mkString(",\n  ")
      val matches = params.indices.map(k =>
        s"(CASE WHEN a.m$k = b.m$k THEN 1L ELSE 0L END)").mkString(" + ")
      s"""WITH f AS (
         |  SELECT doc_id, filter(split(text, '\\\\s+'), w -> w != '') AS ws
         |  FROM documents),
         |sh AS (
         |  SELECT DISTINCT doc_id,
         |    concat_ws(' ', ws[i], ws[i+1], ws[i+2]) AS s
         |  FROM f
         |  LATERAL VIEW explode(if(size(ws) >= 3, sequence(0, size(ws) - 3),
         |                          CAST(array() AS ARRAY<INT>))) t AS i),
         |rare AS (SELECT s FROM sh GROUP BY s HAVING count(*) <= 100),
         |shr AS (SELECT sh.doc_id, sh.s FROM sh JOIN rare ON sh.s = rare.s),
         |sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
         |common AS (
         |  SELECT a.doc_id AS i, b.doc_id AS j, count(*) AS c
         |  FROM shr a JOIN shr b ON a.s = b.s AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |pairs AS (
         |  SELECT i, j, (c * 1000000L) div (sa.sz + sb.sz - c) AS jaccard_ppm
         |  FROM common JOIN sizes sa ON sa.doc_id = i
         |              JOIN sizes sb ON sb.doc_id = j
         |  WHERE (c * 1000000L) div (sa.sz + sb.sz - c) >= 800000),
         |hx AS (
         |  SELECT doc_id,
         |    CAST(conv(substring(md5(s), 1, 8), 16, 10) AS BIGINT) % ${p}L AS x
         |  FROM sh),
         |sig AS (SELECT doc_id,
         |  $sigCols
         |  FROM hx GROUP BY doc_id)
         |SELECT p.i, p.j, p.jaccard_ppm,
         |  CAST($matches AS BIGINT) AS est_matches,
         |  ($matches) * 1000000L div 16 AS est_ppm,
         |  abs(p.jaccard_ppm - ($matches) * 1000000L div 16) AS err_ppm
         |FROM pairs p JOIN sig a ON a.doc_id = p.i JOIN sig b ON b.doc_id = p.j
         |ORDER BY i, j""".stripMargin
    },

    // The global running-total window is the SQL-surface form; the
    // engine side materializes the same order via the distributed
    // prefix sum (SequencePack), which is what the parity proves.
    "x2_sequence_packing" ->
      """WITH tk AS (
        |  SELECT doc_id,
        |    CAST(size(filter(split(text, '\\s+'), w -> w != '')) AS BIGINT)
        |      AS n_tokens
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, n_tokens,
        |    CAST(coalesce(sum(n_tokens) OVER (ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0L)
        |      AS BIGINT) AS start_tok
        |  FROM tk)
        |SELECT doc_id AS doc, n_tokens, start_tok,
        |  CAST(start_tok div 2048 AS BIGINT) AS pack_id,
        |  CAST(CASE WHEN n_tokens = 0 THEN 0L
        |       ELSE (start_tok + n_tokens - 1) div 2048 - start_tok div 2048
        |       END AS BIGINT) AS n_boundary_crossings
        |FROM c ORDER BY doc""".stripMargin,

    // the salted two-stage aggregate's contract IS the plain groupBy
    "x3_salted_agg" ->
      """SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(l_quantity) AS BIGINT) AS sum_qty
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    // end-to-end training-set assembly: d1 + d2-prune + t2-quality +
    // x1-split composed in one statement (each stage's spelling is its
    // own twin's, so a drift in the COMPOSITION is what this catches)
    "x6_training_set" ->
      """WITH keep_exact AS (
        |  SELECT min(doc_id) AS keep_id FROM documents GROUP BY md5(text)),
        |f0 AS (
        |  SELECT doc_id, filter(split(text, '\\s+'), w -> w != '') AS ws
        |  FROM documents),
        |sh AS (
        |  SELECT DISTINCT doc_id,
        |    concat_ws(' ', ws[i], ws[i+1], ws[i+2]) AS s
        |  FROM f0
        |  LATERAL VIEW explode(if(size(ws) >= 3, sequence(0, size(ws) - 3),
        |                          CAST(array() AS ARRAY<INT>))) t AS i),
        |rare AS (SELECT s FROM sh GROUP BY s HAVING count(*) <= 100),
        |shr AS (SELECT sh.doc_id, sh.s FROM sh JOIN rare ON sh.s = rare.s),
        |sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
        |pairs AS (
        |  SELECT a.doc_id AS i, b.doc_id AS j, count(*) AS c
        |  FROM shr a JOIN shr b ON a.s = b.s AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |near_dup_j AS (
        |  SELECT DISTINCT j FROM pairs
        |  JOIN sizes sa ON sa.doc_id = i JOIN sizes sb ON sb.doc_id = j
        |  WHERE round(CAST(c AS DOUBLE) / (sa.sz + sb.sz - c), 6) >= 0.8),
        |clean AS (
        |  SELECT doc_id, lang, text FROM documents
        |  WHERE doc_id IN (SELECT keep_id FROM keep_exact)
        |    AND doc_id NOT IN (SELECT j FROM near_dup_j)),
        |g AS (
        |  SELECT doc_id, lang,
        |    CAST(size(ws) AS BIGINT) AS n_tokens,
        |    CASE WHEN length(t) > 0
        |      THEN CAST(length(regexp_replace(t, '[^.,!?;:]', '')) AS DOUBLE)
        |           / length(t) ELSE 0.0d END AS punct_ratio,
        |    CASE WHEN size(ws) > 0
        |      THEN CAST(size(filter(ws, w ->
        |             array_contains(array('the','a','of','to','and'), w)))
        |             AS DOUBLE) / size(ws) ELSE 0.0d END AS stop_ratio
        |  FROM (SELECT doc_id, lang, text AS t,
        |          filter(split(text, '\\s+'), w -> w != '') AS ws
        |        FROM clean)),
        |q AS (
        |  SELECT doc_id, lang, n_tokens FROM g
        |  WHERE round(CASE WHEN n_tokens > 0
        |    THEN 0.5d * least(1.0d, n_tokens / 50.0d)
        |       + 0.25d * (1.0d - punct_ratio)
        |       + 0.25d * least(1.0d, 4.0d * stop_ratio)
        |    ELSE 0.0d END, 6) >= 0.75),
        |sp AS (
        |  SELECT lang, n_tokens,
        |    CASE WHEN substring(md5(concat('split:', CAST(doc_id AS STRING))), 1, 8)
        |              < 'cccccccc' THEN 'train'
        |         WHEN substring(md5(concat('split:', CAST(doc_id AS STRING))), 1, 8)
        |              < 'e6666666' THEN 'val'
        |         ELSE 'test' END AS split
        |  FROM q)
        |SELECT lang, split, count(1) AS n_docs,
        |  CAST(sum(n_tokens) AS BIGINT) AS total_tokens
        |FROM sp GROUP BY lang, split ORDER BY lang, split""".stripMargin,

    "x8_token_budget" ->
      """WITH t AS (
        |  SELECT doc_id, lang,
        |    CAST(size(filter(split(text, '\\s+'), w -> w != '')) AS BIGINT)
        |      AS n_tokens
        |  FROM documents),
        |r AS (
        |  SELECT doc_id, lang, n_tokens,
        |    sum(n_tokens) OVER (PARTITION BY lang ORDER BY
        |      substring(md5(concat('tok1:', CAST(doc_id AS STRING))), 1, 8),
        |      doc_id
        |      ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM t)
        |SELECT doc_id AS doc, lang, n_tokens, CAST(cum AS BIGINT) AS cum_tokens
        |FROM r WHERE cum <= 2000 ORDER BY doc""".stripMargin,

    // per-(source, lang) dataset card with the planted PII and
    // cross-stratum syndication rows (x12's integral q_micro, t7's
    // staged PII regexes, d1's fingerprint dup marker)
    "x13_dataset_card" ->
      """WITH allrows AS (
        |  SELECT doc_id, text, lang, source FROM documents
        |  UNION ALL
        |  SELECT * FROM VALUES
        |    (2000001L, 'contact bob@example.com or call 555-123-4567', 'en', 'srcA'),
        |    (2000002L, 'the shared syndicated body', 'en', 'srcA'),
        |    (2000003L, 'the shared syndicated body', 'en', 'srcB')
        |    AS v(doc_id, text, lang, source)),
        |g AS (
        |  SELECT source, lang,
        |    CAST(size(filter(split(text, '\\s+'), w -> w != '')) AS BIGINT) AS n,
        |    CAST(length(text) AS BIGINT) AS l,
        |    CAST(length(regexp_replace(text, '[^.,!?;:]', '')) AS BIGINT) AS p,
        |    CAST(size(filter(split(text, '\\s+'),
        |          w -> array_contains(array('the','a','of','to','and'), w)))
        |         AS BIGINT) AS s,
        |    CAST(regexp_count(text,
        |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}') AS BIGINT) AS ne,
        |    regexp_replace(text,
        |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>') AS t1,
        |    md5(text) AS fp
        |  FROM allrows),
        |h AS (
        |  SELECT source, lang, fp, n,
        |    CAST(CASE WHEN n > 0 THEN
        |      (10000L*least(n, 50L)*l*n + 250000L*(l-p)*n
        |        + 250000L*least(n, 4L*s)*l) div (l*n)
        |    ELSE 0L END AS BIGINT) AS q_micro,
        |    ne + CAST(regexp_count(t1,
        |           '\\b[0-9]{3}[-.][0-9]{3}[-.][0-9]{4}\\b') AS BIGINT)
        |       + CAST(regexp_count(regexp_replace(t1,
        |             '\\b[0-9]{3}[-.][0-9]{3}[-.][0-9]{4}\\b', '<PHONE>'),
        |           '\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b')
        |           AS BIGINT) AS pii
        |  FROM g),
        |d AS (SELECT fp FROM h GROUP BY fp HAVING count(*) > 1),
        |j AS (SELECT h.*, CASE WHEN d.fp IS NULL THEN 0L ELSE 1L END AS isdup
        |      FROM h LEFT JOIN d ON h.fp = d.fp)
        |SELECT source, lang,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n) AS BIGINT) AS n_tokens,
        |  CAST(sum(n) div count(*) AS BIGINT) AS mean_tokens,
        |  CAST(sum(q_micro) div count(*) AS BIGINT) AS mean_q_micro,
        |  CAST(sum(CASE WHEN pii > 0 THEN 1L ELSE 0L END) AS BIGINT)
        |    AS n_pii_docs,
        |  CAST(sum(isdup) AS BIGINT) AS n_dup_docs,
        |  CAST(sum(isdup) * 1000000L div count(*) AS BIGINT) AS dup_ppm
        |FROM j GROUP BY source, lang ORDER BY source, lang""".stripMargin,

    // x14's Morton pipeline over pmod coordinates (the contrast row)
    "x14b_zorder_pmod" ->
      """WITH li AS (
        |  SELECT l_partkey, l_suppkey,
        |    (l_orderkey * 8 + l_linenumber) * 1000000000L
        |      + l_partkey * 10000 + l_suppkey AS uid
        |  FROM lineitem),
        |sp AS (
        |  SELECT l_partkey, l_suppkey, uid,
        |    pmod(CAST(l_partkey AS BIGINT), 65536L) AS xa,
        |    pmod(CAST(l_suppkey AS BIGINT), 65536L) AS xb
        |  FROM li),
        |s1 AS (SELECT *, ((xa | shiftleft(xa, 8)) & 16711935L) AS a1,
        |                 ((xb | shiftleft(xb, 8)) & 16711935L) AS b1 FROM sp),
        |s2 AS (SELECT *, ((a1 | shiftleft(a1, 4)) & 252645135L) AS a2,
        |                 ((b1 | shiftleft(b1, 4)) & 252645135L) AS b2 FROM s1),
        |s3 AS (SELECT *, ((a2 | shiftleft(a2, 2)) & 858993459L) AS a3,
        |                 ((b2 | shiftleft(b2, 2)) & 858993459L) AS b3 FROM s2),
        |s4 AS (SELECT *, ((a3 | shiftleft(a3, 1)) & 1431655765L) AS a4,
        |                 ((b3 | shiftleft(b3, 1)) & 1431655765L) AS b4 FROM s3),
        |zz AS (SELECT *, (a4 | shiftleft(b4, 1)) AS z FROM s4),
        |rk AS (
        |  SELECT *, CAST((row_number() OVER (ORDER BY z, uid) - 1) DIV 4096
        |    AS BIGINT) AS file_id
        |  FROM zz)
        |SELECT file_id, count(*) AS n_rows,
        |  min(l_partkey) AS p_min, max(l_partkey) AS p_max,
        |  min(l_suppkey) AS s_min, max(l_suppkey) AS s_max
        |FROM rk GROUP BY file_id ORDER BY file_id""".stripMargin,

    // x15 scoped to the source pruning boundary
    "x15b_compaction_scoped" ->
      """WITH f AS (
        |  SELECT doc_id, source, CAST(octet_length(text) AS BIGINT) AS bytes
        |  FROM documents),
        |p AS (
        |  SELECT *, coalesce(sum(bytes) OVER (PARTITION BY source
        |    ORDER BY doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0L) AS start_b
        |  FROM f)
        |SELECT source, CAST(start_b div 8192 AS BIGINT) AS group_id,
        |  count(1) AS n_docs,
        |  CAST(sum(bytes) AS BIGINT) AS total_bytes,
        |  min(doc_id) AS first_doc, max(doc_id) AS last_doc
        |FROM p GROUP BY source, group_id ORDER BY source, group_id""".stripMargin
  )

  /** SQL twins of named SUB-RELATIONS of catalog queries whose full
    * computation is defensibly non-SQL (iterative fixpoints). These
    * are not catalog entries — SqlParitySpec compares each against the
    * DataFrame form of the same fragment. g8: the bounded co-purchase
    * pair relation is plain warehouse SQL and is precisely the
    * contract g8's scale argument rests on (slice bound pushed into
    * both scans, support threshold on the aggregate); only the
    * component iteration on top of it is non-SQL.
    */
  val fragmentTexts: ListMap[String, String] = ListMap(
    "g8_pair_relation" ->
      """SELECT x.l_partkey AS i, y.l_partkey AS j
        |FROM lineitem x JOIN lineitem y
        |  ON x.l_orderkey = y.l_orderkey
        | AND x.l_partkey < y.l_partkey
        |WHERE x.l_partkey < 500 AND y.l_partkey < 500
        |GROUP BY x.l_partkey, y.l_partkey
        |HAVING count(DISTINCT x.l_orderkey) >= 2""".stripMargin,

    // d8's component loop consumes EXACTLY d2's thresholded pair
    // relation (same n=3 / maxDf=100 / threshold 0.8 constants) — the
    // fragment locks that contract; only the min-label iteration on
    // top is non-SQL (Spark 4.1 recursive CTEs reject the
    // UNION-distinct fixpoint, and UNION ALL diverges on cycles)
    "d8_pair_relation" -> exactJaccardSql.replace(
      "SELECT i, j, jaccard FROM scored",
      "SELECT i, j FROM scored"),

    // d10's exemplar argmax key: the per-doc quality relation (t2's
    // composite, rounded at 6) — locks the score input contract the
    // best-exemplar rule ranks on
    "d10_quality_scores" ->
      """WITH f AS (
        |  SELECT doc_id AS doc, text AS t,
        |    filter(split(text, '\\s+'), w -> w != '') AS ws
        |  FROM documents),
        |g AS (
        |  SELECT doc, CAST(size(ws) AS BIGINT) AS n_tokens,
        |    CASE WHEN length(t) > 0
        |      THEN CAST(length(regexp_replace(t, '[^.,!?;:]', '')) AS DOUBLE)
        |           / length(t) ELSE 0.0d END AS punct_ratio,
        |    CASE WHEN size(ws) > 0
        |      THEN CAST(size(filter(ws, w ->
        |             array_contains(array('the','a','of','to','and'), w)))
        |             AS DOUBLE) / size(ws) ELSE 0.0d END AS stop_ratio
        |  FROM f)
        |SELECT doc, round(CASE WHEN n_tokens > 0
        |    THEN 0.5d * least(1.0d, n_tokens / 50.0d)
        |       + 0.25d * (1.0d - punct_ratio)
        |       + 0.25d * least(1.0d, 4.0d * stop_ratio)
        |    ELSE 0.0d END, 6) AS score
        |FROM g ORDER BY doc""".stripMargin
  )
}

/** Tiny SQL CLI over the registered views — the user-facing entry the
  * reference exposes as its query binary: pass a catalog query name or
  * raw SQL text.
  *
  * {{{ sbt "runMain graft.sql.SqlRunner /root/testdata/sf0.001 q3_revenue_by_nation" }}}
  */
object SqlRunner {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2,
      "usage: SqlRunner <sfDir> <catalog-query-name | raw SQL...>")
    // sbt's runMain splits the quoted command on spaces, so raw SQL
    // arrives as many args — everything after sfDir is the query text
    val (sfDir, query) = (args(0), args.drop(1).mkString(" "))
    val (spark, _) = graft.Measure.driverSession("graft-sql")
    // per-query registration on BOTH paths, so a corrupt table only
    // fails queries that read it — raw SQL registers the tables its
    // text references (a false positive registers an unused view; the
    // harmless direction)
    val df =
      if (GraftSql.texts.contains(query) ||
          GraftSql.pipelineTexts.contains(query)) {
        GraftSql.run(spark, sfDir, query)
      } else {
        GraftSql.registerViews(spark, sfDir,
          GraftSql.referencedTables(query))
        spark.sql(query)
      }
    df.show(100, truncate = false)
    spark.stop()
  }
}
