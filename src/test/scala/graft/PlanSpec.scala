package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._

import graft.mapreduce.{MapleJuiceJob, RangePartition, Workloads}
import graft.operators.SequencePack
import graft.sql.GraftSql

/** Executable plan-quality guards: the properties the engine's Scaladoc
  * claims about its physical plans, asserted against the optimizer's
  * actual output so a regression (lost pushdown, surprise cartesian,
  * dropped broadcast) fails CI rather than surfacing as a 100 TB
  * incident.
  */
class PlanSpec extends SparkSpecBase {

  /** AQE's INITIAL plan of catalog row `name` at sf0.01: the plan before
    * any stage has run, so no runtime re-plan shows in it. */
  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf("sf0.01"))
      .queryExecution.executedPlan.toString

  /** The final plan inside the first `AdaptiveSparkPlanExec` of `p`. */
  private def adaptiveFinal(p: SparkPlan): String = {
    val aqe = p.collectFirst { case a: AdaptiveSparkPlanExec => a }
    assert(aqe.exists(_.isFinalPlan), s"no finished adaptive plan in:\n$p")
    aqe.get.executedPlan.toString
  }

  /** Runs `df` with a noop write, as Bench times a row, and returns AQE's
    * FINAL plan with the Spark jobs the write launched. */
  private def finalRun(df: DataFrame): (String, Seq[String]) = {
    val ran = executionsDuring(df.write.format("noop").mode("overwrite").save())
    assert(ran.plans.nonEmpty, "the noop write reported no query execution")
    (adaptiveFinal(ran.plans.last), ran.jobs)
  }

  /** The small-sort gate: AQE's minimum coalesced partition size. */
  private val MinPartitionSize = "spark.sql.adaptive.coalescePartitions.minPartitionSize"

  private def rangeExchanges(finalPlan: String): Int =
    "rangepartitioning".r.findAllIn(finalPlan).size

  test("q1: shipdate filter and column pruning reach the parquet scan") {
    val p = plan("q1_pricing_summary")
    // match the predicate anywhere in the scan node, not Spark's exact
    // PushedFilters list formatting (brittle across versions)
    assert("LessThanOrEqual\\(l_shipdate".r.findFirstIn(p).isDefined,
      s"q1 shipdate pushdown missing:\n$p")
    assert(p.contains("ReadSchema: struct<l_quantity:double"))
    assert(!p.contains("l_orderkey"), "q1 must not read unused columns")
    assert(p.contains("partial_sum"), "map-side partial aggregation expected")
  }

  test("d7: the bounded eval shingle set broadcasts; the train side never sort-merges") {
    val p = plan("d7_decontamination")
    assert(p.contains("BroadcastHashJoin"),
      "eval shingles are small by contract and must broadcast")
    assert(!p.contains("SortMergeJoin"),
      "a sort-merge join here means the train side is being shuffled wholesale")
  }

  test("q4: dimension is filtered BEFORE broadcast, fact side never shuffles") {
    val p = plan("q4_brand_revenue_broadcast")
    assert(p.contains("BroadcastHashJoin"))
    assert("GreaterThan\\(p_size, ?10\\)".r.findFirstIn(p).isDefined,
      s"q4 p_size pushdown missing:\n$p")
    assert(!p.contains("SortMergeJoin"))
  }

  test("no pair-finding query ever plans a cartesian product") {
    for (q <- Seq("d2_ngram_jaccard_dedup", "d3_minhash_lsh_dedup",
        "d4_simhash_dedup", "d6_incremental_dedup", "d7_decontamination",
        "d12_edit_distance_join", "d13_containment_dedup",
        "x11_split_leakage", "g2_triangles",
        "s2_ann_lsh_topk", "s3_cosine_neardup", "s4_ann_ivf_topk")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q plans a cartesian product")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$q plans a nested-loop join")
    }
  }

  test("self-join dedup plans read their shared relation from cache, " +
    "not recompute (persist regression guard)") {
    // AQE plans the two sides of these self-joins independently (zero
    // ReusedExchange), so losing the persist() silently doubles the
    // dominant cost — assert the cache scan is actually in the plan.
    try {
      for (q <- Seq("d2_ngram_jaccard_dedup", "d3_minhash_lsh_dedup",
          "d4_simhash_dedup", "s3_cosine_neardup", "t6_repetition")) {
        assert(plan(q).contains("InMemoryTableScan"),
          s"$q lost its persisted shared relation")
      }
    } finally spark.catalog.clearCache()
  }

  test("s1 brute force IS the deliberate exception: broadcast nested loop") {
    // brute-force top-k: tiny query set × corpus, declared O(Q·N)
    // baseline. The catalog row eagerly materializes (the breaker's
    // corpus persist is released before returning, so the returned
    // plan is a checkpoint scan); inspect the unbudgeted path, which
    // returns the join plan itself.
    val dir = sf("sf0.001")
    val e = graft.core.Tables(spark, dir).embeddings
    val df = graft.operators.Similarity.bruteForceTopK(
      e, e.filter(org.apache.spark.sql.functions.col("vec_id") < 10),
      k = 5, pairBudget = Long.MaxValue)
    assert(df.queryExecution.executedPlan.toString
      .contains("BroadcastNestedLoopJoin"))
  }

  test("a1 as-of join plans as a window, never an inequality join") {
    val p = plan("a1_asof_click_error")
    assert(p.contains("RunningWindowFunction") || p.contains("Window"),
      s"expected window carry-forward:\n$p")
    assert(!p.contains("Join"), s"as-of must not plan any join operator:\n$p")
  }

  test("q2 top-k plans as TakeOrderedAndProject, not a global sort") {
    val p = plan("q2_topk_orders")
    assert(p.contains("TakeOrderedAndProject"))
  }

  test("chunkDocs plans zero exchanges — the row-local claim, literally") {
    // the catalog x7 row adds a total ORDER BY for the oracle hash;
    // the operator itself must not shuffle at all
    val p = graft.operators.Chunking
      .chunkDocs(graft.core.Tables(spark, sf("sf0.01")).documents)
      .queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), s"chunking must stay row-local:\n$p")
  }

  test("corpus-statistics queries never enumerate pairs") {
    for (q <- Seq("t8_lm_score", "d9_dup_ngram_coverage")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q plans a cartesian product")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$q plans a nested-loop join")
    }
  }

  test("t9's one nested loop is the single-row corpus-size broadcast, by design") {
    assert(plan("t9_tfidf_keywords").contains("BroadcastNestedLoopJoin"))
  }

  test("corpus-statistics shared relations read from cache (persist guard)") {
    // t8: docbg/model feed both the model cascade and the scoring join;
    // t9: tf feeds df and the idf join; d9: occ feeds dup-set and the
    // semi join — AQE plans each consumer independently, so a lost
    // persist silently recomputes the dominant aggregate.
    try {
      for (q <- Seq("t8_lm_score", "t9_tfidf_keywords",
          "d9_dup_ngram_coverage", "t12_vocab_coverage",
          "t13_cms_heavy_hitters")) {
        assert(plan(q).contains("InMemoryTableScan"),
          s"$q lost its persisted shared relation")
      }
    } finally spark.catalog.clearCache()
  }

  test("row-local operators plan zero exchanges before their oracle sort") {
    // t10 normalize, x9 epoch replication, s5 quantize audit, m2 frame
    // sampling: all pure per-row work — the ONLY exchange each catalog
    // row may contain is the final ORDER BY's range partitioning (plus
    // its AQE shuffle read), never a hash exchange from a stray
    // groupBy/join/window
    for (q <- Seq("t10_normalize_markup", "x9_mixture_epochs",
        "s5_int8_quantize", "m2_frame_sample", "m3_resize_vec")) {
      val p = plan(q)
      assert(!p.contains("hashpartitioning"),
        s"$q must not hash-shuffle — per-row operator:\n$p")
      assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin"),
        s"$q must not join:\n$p")
    }
  }

  test("a4: the interval join is banded into an equi-join, never a nested loop") {
    val p = plan("a4_interval_follow")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"a4 must plan the banded equi-join:\n$p")
  }

  test("d11: bloom survivors verify in a shuffled join, never a broadcast") {
    // the point of the bloom path is that the eval side does NOT have
    // to fit a broadcast hash relation — the exact-verify join must
    // shuffle (ShuffledHashJoin via the hint), and the bloom probe
    // must sit on the train scan side as a plain Filter. The method
    // eagerly checkpoints the report (so its returned plan is just the
    // checkpoint scan); read the plan its checkpoint action executes.
    val d = spark.read.parquet(s"${sf("sf0.01")}/documents.parquet")
    val split = d.agg(max(col("doc_id"))).head.getLong(0) - 49L
    val probed = executionsDuring(graft.operators.Dedup.contaminationReportBloom(
        d.filter(col("doc_id") < split), d.filter(col("doc_id") >= split),
        "doc_id", "text", n = 8))
      .plans.map(_.toString).find(_.contains("bloom_might_contain"))
    assert(probed.isDefined, "d11's train scan must carry the native bloom probe filter")
    val p = probed.get
    assert(p.contains("ShuffledHashJoin"),
      s"d11 verify join must be the shuffled hash join:\n$p")
    assert(!p.contains("BroadcastHashJoin"),
      s"d11 must not broadcast the eval shingles:\n$p")
    // the probe itself must be the native codegen'd expression, not a
    // Scala UDF forcing String materialization in the train-side scan
    assert(!p.toLowerCase.contains("scalaudf") && !p.contains("UDF("),
      s"d11's bloom probe must be the native bloom_might_contain:\n$p")
  }

  test("a1c: nearest asof runs both direction passes on ONE user shuffle, no join") {
    val p = plan("a1c_asof_nearest")
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin") &&
      !p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"nearest asof must stay a window formulation, never an inequality join:\n$p")
    // both window passes partition by user_id; the second must reuse
    // the first's partitioning — exactly one hash exchange on the
    // union (the final ORDER BY adds only a range exchange)
    val hashExchanges = "hashpartitioning".r.findAllIn(p).length
    assert(hashExchanges == 1,
      s"nearest asof should shuffle ONCE on the keys, found $hashExchanges:\n$p")
  }

  test("a5b: interpolation resample is windows over one union, never a join") {
    val p = plan("a5b_grid_interp")
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin") &&
      !p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"interp resample must bracket via window carries, not joins:\n$p")
    // two hash exchanges total: the grid's span aggregate, then the
    // union's window partitioning — both on the key; both direction
    // passes share the second (a1c's reuse argument)
    val hashExchanges = "hashpartitioning".r.findAllIn(p).length
    assert(hashExchanges <= 2,
      s"interp resample should shuffle at most twice (grid agg + window), found $hashExchanges:\n$p")
  }

  test("q22: custkey filter pushes to the scan; the RANGE frame is a window, not a join") {
    val p = plan("q22_moving_spend_range")
    // loose match: assert the pushed predicate appears anywhere in the
    // scan node, not Spark's exact PushedFilters list formatting (which
    // shifts across versions and would fail this guard misleadingly)
    assert("LessThanOrEqual\\(o_custkey, ?75\\)".r.findFirstIn(p).isDefined,
      s"q22 custkey filter must reach the parquet scan as a pushed filter:\n$p")
    assert(p.contains("Window"), s"q22 must plan a window:\n$p")
    assert(!p.contains("Join"),
      s"a join here means the moving frame was rewritten as self-join:\n$p")
  }

  test("q23: outer rollup pre-aggregates, then plans a true full-outer join") {
    val p = plan("q23_customer_order_outer")
    assert(p.contains("FullOuter"), s"q23 must plan FullOuter:\n$p")
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      s"orders must aggregate before the join, map-side partial first:\n$p")
  }

  test("t12: vocab top-k plans as TakeOrderedAndProject; only the 1-row total broadcasts") {
    val p = plan("t12_vocab_coverage")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-k over the vocab must not global-sort:\n$p")
    // the only nested loop allowed is the broadcast of the scalar total
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"the scalar denominator should broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), s"t12 plans a cartesian:\n$p")
  }

  test("a6: rolling actives is expansion + distinct-agg; the clip joins nothing") {
    val p = plan("a6_rolling_active_users")
    assert(!p.contains("Join") && !p.contains("CartesianProduct"),
      s"a6 must not join at all — the clip bound rides the day-grain window:\n$p")
    assert(p.contains("partial_count"),
      s"distinct-agg must partial map-side:\n$p")
    assert(!p.contains("InMemoryTableScan"),
      s"a6 must not pin a cached relation:\n$p")
  }

  test("a7: cohort week is a per-user window min — no self-join, no cache") {
    val p = plan("a7_cohort_retention")
    assert(!p.contains("Join"),
      s"a7 must not join the cohort aggregate back:\n$p")
    assert(p.contains("Window"), s"a7 must plan the per-user min window:\n$p")
    assert(!p.contains("InMemoryTableScan"),
      s"a7 must not pin a cached relation:\n$p")
  }

  test("a9: the funnel is join-free — chained windows on one partitioning") {
    val p = plan("a9_funnel")
    assert(!p.contains("Join"),
      s"a9 must not plan the per-step self-joins:\n$p")
    assert(p.contains("Window"), s"a9 must plan window carries:\n$p")
  }

  test("a8: TWAP is one window pass + one aggregate, never a self-join") {
    val p = plan("a8_time_weighted_avg")
    assert(p.contains("Window"), s"a8 must plan the lead window:\n$p")
    assert(!p.contains("Join"),
      s"a8 must not rewrite the interval pairing as a join:\n$p")
  }

  test("t13/q9b: sketch rows broadcast only 1-row relations, no cartesian blowup") {
    for (q <- Seq("t13_cms_heavy_hitters", "q9b_distinct_approx")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q plans a cartesian:\n$p")
      // the nested loops present must all be broadcast of scalar aggs
      assert(p.contains("BroadcastNestedLoopJoin"),
        s"$q should broadcast its scalar sketch/total relations:\n$p")
    }
  }

  test("s6: centroids are one map-side-combined aggregate, no join") {
    val p = plan("s6_label_centroids")
    assert(p.contains("partial_sum"),
      s"posexplode cells must partial-aggregate before the shuffle:\n$p")
    assert(!p.contains("Join"), s"s6 must not join:\n$p")
  }

  test("c1: compaction winner is a HashAggregate with map-side partial, never a sort") {
    val p = plan("c1_compact_latest")
    assert(p.contains("HashAggregate") && p.contains("partial_max"),
      s"packed-decimal max must partial-combine map-side:\n$p")
    assert(!p.contains("SortAggregate"),
      s"the packing exists so the winner never sort-aggregates:\n$p")
    assert(!p.contains("Window"), s"c1 must not fall back to a window sort:\n$p")
  }

  test("c3: the tombstone filter rides the c1 aggregate shape — no sort, no window") {
    val p = plan("c3_compact_deletes")
    assert(p.contains("HashAggregate") && p.contains("partial_max"),
      s"delete compaction must keep the packed-max HashAggregate:\n$p")
    assert(!p.contains("SortAggregate") && !p.contains("Window"),
      s"tombstones must not change the aggregate shape:\n$p")
  }

  test("a12: motif counting is leads on one key shuffle — no join, no buffering") {
    val p = plan("a12_motif_sequence")
    assert(!p.contains("Join"), s"the motif test must not self-join:\n$p")
    assert(p.contains("Window"), s"the leads ride a window:\n$p")
    assert(p.contains("collect_list") == false,
      s"no per-key sequence materialization:\n$p")
  }

  test("a13: OHLC bars are one HashAggregate; open/close join by unique id") {
    val p = plan("a13_ohlc_bars")
    assert(p.contains("partial_max") && p.contains("partial_min"),
      s"packed first/last must partial-combine map-side:\n$p")
    assert(!p.contains("Window"),
      s"bars must not fall back to a first_value window sort:\n$p")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"open/close recovery is an equi-join:\n$p")
  }

  test("g5: the k-core sieve never plans a cartesian product") {
    val p = plan("g5_kcore")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"edge-vs-survivor filtering must stay equi/semi-joins:\n$p")
  }

  test("g6: the LPA argmax is an aggregate, never a window sort; no cartesian") {
    // one uncut round: a checkpointed round executes eagerly and leaves
    // only a bare RDD scan to inspect; labelRound exposes a REAL round's
    // plan over the same dst-partitioned adjacency and self-labels
    val s = spark
    import s.implicits._
    val edges = (1L to 50L).map(i => (i, i % 10 + 1)).toDF("src", "dst")
    val adj = graft.operators.Graph.undirected(edges).repartition(col("dst"))
    val labels = adj.select(col("src").as("id")).distinct()
      .select(col("id"), col("id").as("label"))
    val p = graft.operators.Graph.labelRound(adj, labels)
      .queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"edge-vs-labels joins must stay equi-joins:\n$p")
    assert(!p.contains("Window"),
      s"the per-node pick must fold as max(struct(cnt,-label)), not a " +
        s"row_number window over the vote relation:\n$p")
    assert(p.contains("partial_max") && p.contains("partial_count"),
      s"both vote aggregates must partial map-side:\n$p")
  }

  test("x13: the dup marker joins by fingerprint hash, never a self-cartesian") {
    val p = plan("x13_dataset_card")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"dup marking must stay a fingerprint equi-join:\n$p")
    assert(!p.contains("Window"),
      s"the card is scans + aggregates, never a window:\n$p")
  }

  test("g7: modularity nested loops are only the 1-row m broadcast") {
    val p = plan("g7_modularity")
    assert(!p.contains("CartesianProduct"), s"g7 plans a cartesian:\n$p")
    // the label joins must be hash equi-joins; the only nested loop is
    // the t13-style broadcast of the 1-row m relation
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"g7 should broadcast its scalar m relation:\n$p")
    assert(!p.contains("Window"),
      s"modularity is aggregates + joins, never a window:\n$p")
  }

  test("a15: the EWMA is one windowed pass — no join, no self-union") {
    val p = plan("a15_dyadic_ewma")
    assert(!p.contains("Join"), s"the lag chain must not join:\n$p")
    assert(p.linesIterator.count(_.contains("Window [")) == 1,
      s"all w lags must fold into ONE window node:\n$p")
  }

  test("t18: the growth curve's only data-sized window is pid-bounded") {
    val p = plan("t18_vocab_growth")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), s"no cartesian in:\n$p")
    assert(p.linesIterator.exists(l =>
      l.contains("Window") && l.contains("__pid")),
      s"cumulative vocab must ride the __pid-partitioned prefix sum:\n$p")
    assert(p.contains("partial_min"),
      s"the word min-owner aggregate must partial map-side:\n$p")
  }

  test("a14: the sweep windows are pid-bounded and the offsets broadcast") {
    val p = plan("a14_peak_concurrency")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), s"no cartesian in:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"the O(partitions) offsets relation must broadcast back:\n$p")
    // the data-sized window is partitioned by __pid; the only
    // unpartitioned window is the numParts-row offsets fold
    assert(p.linesIterator.exists(l =>
      l.contains("Window") && l.contains("__pid")),
      s"expected a __pid-partitioned window in:\n$p")
  }

  test("t17: the merge chain is a projection; docs join the vocab relation") {
    val p = plan("t17_bpe_encode")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"encode must join words to vocab by key:\n$p")
    assert(!p.contains("Window"),
      s"per-doc counts are a hash aggregate, not a window:\n$p")
  }

  test("s7: semantic dedup joins on (cell, salt) keys, no nested loop, no window") {
    val p = plan("s7_semantic_dedup")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"within-cell pair scoring must stay an equi-join:\n$p")
    assert(!p.contains("SortAggregate"),
      s"pair scoring must not drag vectors through a sort aggregate:\n$p")
  }

  test("salted join equals direct join and spreads a hot key across buckets") {
    val s = spark
    import s.implicits._
    // 5000 rows of ONE hot key + a long tail, joined to a 3-row dim
    val skewed = ((1 to 5000).map(i => ("hot", i)) ++
      (1 to 50).map(i => (s"k$i", i))).toDF("k", "v")
    val dim = Seq(("hot", "H"), ("k1", "A"), ("k2", "B")).toDF("k", "label")
    val direct = skewed.join(dim, Seq("k"))
      .groupBy($"k", $"label").count().as[(String, String, Long)]
      .collect().toSet
    val salted = graft.operators.Skew.saltedJoin(skewed, dim, "k", 8)
      .groupBy($"k", $"label").count().as[(String, String, Long)]
      .collect().toSet
    assert(salted == direct)
    // the salt actually spreads the hot key over multiple buckets
    val buckets = skewed
      .withColumn("__salt",
        pmod(spark_partition_id() + monotonically_increasing_id(), lit(8)))
      .filter($"k" === "hot").select($"__salt").distinct().count()
    assert(buckets > 1, s"hot key stayed in $buckets bucket(s)")
  }

  test("a10: quartiles come from rank selection, never a percentile " +
    "value-map aggregate; fences broadcast") {
    // the round-13 sf1 sweep measured the percentile buffer (per-key
    // value-count map, merged single-threaded per key) at 15x wall for
    // 10x rows; the shipped plan ranks once (spillable sort) and keeps
    // only the quartile-rank rows
    val p = plan("a10_value_outliers")
    assert(!p.toLowerCase.contains("percentile"),
      s"a10 regressed to a percentile aggregate:\n${p.take(800)}")
    assert(p.contains("Window"), "rank selection needs the window pass")
    assert(p.contains("BroadcastHashJoin"),
      "the O(keys) fence relation must broadcast")
    // the per-key window sort must rank the (key, v, cnt) PRE-AGGREGATE,
    // never raw rows: micro-truncation saturates the value domain, so
    // the pre-agg is what removes the data-proportional term from the
    // single-task-per-key sort (the round-14 12x decade ratio). Guard:
    // a HashAggregate sits BELOW the Window in the plan tree, and no
    // row_number survives (ranks come from cumulative counts).
    val winAt = p.indexOf("Window")
    val aggBelow = p.indexOf("HashAggregate", winAt)
    assert(aggBelow > winAt,
      s"a10's window input is not the (key,v,cnt) pre-aggregate:\n${p.take(1200)}")
    assert(!p.contains("row_number"),
      "a10 regressed to per-row ranking (single task sorts every row of a key)")
  }

  test("g2: the wedge stream is bloom-prefiltered before the close " +
    "join (non-closing wedges die pre-exchange)") {
    // the gate-scale edge set sits far under DefaultCloseBloomMaxEdges,
    // so the bloom must be present; losing it silently re-shuffles the
    // full wedge volume (41M rows at sf0.1, measured +2s median). The
    // single pass checkpoints its corner counts, so the wedge join runs
    // in that checkpoint action while the row is built: read the plans
    // the build executes, not the returned plan
    val seen = executionsDuring(SparkEntry.queries("g2_triangles")(spark, sf("sf0.01")))
      .plans.find(_.toString.contains("bloom_might_contain"))
    assert(seen.isDefined, "g2's close-join bloom prefilter is gone")
  }

  test("g4: bellmanFord's adjacency build is ONE exchange in both " +
    "modes, and the canonical path carries no normalization aggregate") {
    val s = spark
    import s.implicits._
    val e = Seq((1L, 2L, 3L), (2L, 3L, 4L)).toDF("src", "dst", "w")
    for (canon <- Seq(false, true)) {
      val p = graft.operators.Graph.bellmanAdjacency(e, canon)
        .queryExecution.executedPlan.toString
      val nEx = "Exchange".r.findAllIn(p).size
      assert(nEx == 1,
        s"adjacency build (canonical=$canon) has $nEx exchanges — the " +
          s"parallel-edge min must ride the src repartition:\n$p")
      if (canon)
        assert(!p.contains("HashAggregate"),
          s"canonical adjacency must skip the normalization aggregate:\n$p")
      else
        assert(p.contains("HashAggregate"),
          s"non-canonical adjacency lost its parallel-edge min:\n$p")
    }
  }

  test("m9: hamming verify is scalar popcount riding the bucket join, " +
    "never a per-pair array lambda or a cartesian") {
    val p = plan("m9_image_ahash_neardup")
    assert(p.contains("bit_count"),
      "scalar packed-word popcount missing from the verify")
    assert(!p.contains("CartesianProduct"))
  }

  test("salted aggregation equals direct aggregation") {
    val s = spark
    import s.implicits._
    val li = graft.core.Tables(s, sf("sf0.001")).lineitem
    val direct = li.groupBy($"l_returnflag")
      .agg(sum($"l_quantity").as("q"), sum(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> ((r.getDouble(1), r.getLong(2)))).toMap
    val salted = graft.operators.Skew
      .saltedSum(li, "l_returnflag", 8,
        Map("q" -> $"l_quantity", "n" -> lit(1L)))
      .collect().map(r => r.getString(0) -> ((r.getDouble(1), r.getLong(2)))).toMap
    assert(salted.keySet == direct.keySet)
    salted.foreach { case (k, (q, n)) =>
      assert(n == direct(k)._2 && math.abs(q - direct(k)._1) < 1e-6)
    }
  }

  // --- SmallSortOnePartition: small measured ORDER BY inputs sort in
  // one partition; everything else keeps its range exchange. Job counts
  // are the noop write's alone (the build runs before it), local[4],
  // sf0.01.

  private def row(name: String): DataFrame =
    SparkEntry.queries(name)(spark, sf("sf0.01"))

  test("small ORDER BY inputs sort in one partition: no range exchange " +
    "in the final plan, two jobs fewer per row") {
    for ((name, jobs) <- Seq("q12_events_hourly" -> 2,
        "q23_customer_order_outer" -> 3)) {
      val (p, ran) = finalRun(row(name))
      assert(rangeExchanges(p) == 0, s"$name kept its range exchange:\n$p")
      assert(p.contains("Coalesce 1"), s"$name sorts outside one partition:\n$p")
      assert(ran.size == jobs, s"$name ran ${ran.size} jobs, want $jobs: " +
        ran.mkString("; "))
    }
    val (sqlPlan, _) = finalRun(GraftSql.run(spark, sf("sf0.01"), "q12_events_hourly"))
    assert(rangeExchanges(sqlPlan) == 0, s"q12 SQL twin kept its range exchange:\n$sqlPlan")
  }

  test("at a 1-byte gate the same rows keep their range exchange and " +
    "return identical rows") {
    for ((name, jobs) <- Seq("q12_events_hourly" -> 4,
        "q23_customer_order_outer" -> 5)) {
      val small = row(name).collect().toSeq
      val (p, ran, forced) = withConf(MinPartitionSize, "1") {
        val (p, ran) = finalRun(row(name))
        (p, ran, row(name).collect().toSeq)
      }
      assert(rangeExchanges(p) == 1, s"$name lost its range exchange:\n$p")
      assert(ran.size == jobs, s"$name ran ${ran.size} jobs, want $jobs: " +
        ran.mkString("; "))
      assert(small.nonEmpty && small == forced,
        s"$name differs across the gate")
    }
  }

  test("a multi-key ORDER BY with DESC, NULLs and ties collects in " +
    "driver-side sorted order on both sides of the gate") {
    val s = spark
    import s.implicits._
    // (a, b) ties across c; both keys carry NULLs
    val grouped = spark.range(0, 3000).select(
        when($"id" % 11 === 0, lit(null)).otherwise($"id" % 7).as("a"),
        when($"id" % 13 === 0, lit(null))
          .otherwise(($"id" % 5).cast("string")).as("b"),
        ($"id" % 4).as("c"))
      .groupBy("a", "b", "c").agg(count(lit(1)).as("n"))
    def key(r: Row) = (Option(r.get(0)).map(_.asInstanceOf[Long]),
      Option(r.getString(1)))
    // a DESC NULLS FIRST, then b ASC NULLS LAST
    val driverOrder: Ordering[(Option[Long], Option[String])] =
      Ordering.Tuple2(
        Ordering.fromLessThan[Option[Long]] {
          case (None, Some(_)) => true
          case (Some(x), Some(y)) => x > y
          case _ => false
        },
        Ordering.fromLessThan[Option[String]] {
          case (Some(x), Some(y)) => x < y
          case (Some(_), None) => true
          case _ => false
        })
    val all = grouped.collect().toSeq
    for ((bytes, ranges) <- Seq("1m" -> 0, "1" -> 1)) withConf(MinPartitionSize, bytes) {
      val sorted = grouped.orderBy($"a".desc_nulls_first, $"b".asc_nulls_last)
      val got = sorted.collect().toSeq
      val p = adaptiveFinal(sorted.queryExecution.executedPlan)
      assert(rangeExchanges(p) == ranges, s"gate $bytes:\n$p")
      assert(got.map(key) == all.map(key).sorted(driverOrder), s"gate $bytes")
      assert(got.sortBy(_.toString) == all.sortBy(_.toString))
    }
  }

  test("MapleJuice RangePartition keeps its range exchange: 3 partitions, " +
    "3 contiguous key ranges") {
    val s = spark
    import s.implicits._
    // the input comes from a materialized shuffle and is tiny, so only
    // the exchange's origin (repartitionByRange) keeps it
    val lines = (0 until 300).map(i => s"w${i % 40} w${(i * 7) % 40}").toDS()
      .repartition(2)
    val out = MapleJuiceJob.run(lines, Workloads.WordCountMaple,
      Workloads.WordCountJuice, 3, RangePartition)
    val ranges = out.rdd.mapPartitionsWithIndex { (p, it) =>
      val ks = it.map(_._1).toSeq
      if (ks.isEmpty) Iterator.empty else Iterator((p, ks.min, ks.max))
    }.collect().sortBy(_._1)
    assert(ranges.map(_._1).toSeq == Seq(0, 1, 2), ranges.mkString("; "))
    ranges.sliding(2).foreach { case Array((_, _, prevMax), (_, nextMin, _)) =>
      assert(prevMax < nextMin, s"overlapping ranges: $prevMax >= $nextMin")
    }
    assert(rangeExchanges(finalRun(out.toDF())._1) == 1)
  }

  test("SequencePack.prefixSumBy keeps its N range partitions") {
    val s = spark
    import s.implicits._
    val weights = spark.range(0, 500).select(($"id" % 97).as("k"), $"id".as("w"))
      .groupBy("k").agg(sum("w").as("w"))
    val (p, _) = finalRun(SequencePack.prefixSumBy(weights, Seq("k"), "w", numParts = 5))
    assert("rangepartitioning\\([^)]*, 5\\), REPARTITION_BY_NUM".r.findFirstIn(p).isDefined,
      s"prefix sum lost its 5 range partitions:\n$p")
    spark.catalog.clearCache()
  }

  test("sorts over a scan (t4) or a persisted relation keep their range " +
    "exchange") {
    val (t4, _) = finalRun(row("t4_fingerprints"))
    assert(rangeExchanges(t4) == 1, s"t4:\n$t4")
    val cached = spark.range(0, 1000).selectExpr("id % 17 AS k", "id").persist()
    try {
      cached.count()
      val (p, _) = finalRun(cached.orderBy("k", "id"))
      assert(rangeExchanges(p) == 1, s"sort over a persisted relation:\n$p")
    } finally cached.unpersist()
  }
}
