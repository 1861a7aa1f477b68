package graft

import org.apache.spark.sql.functions._

import graft.core.GraftSession
import graft.operators.{Chunking, CorpusMix, Dedup, DedupIndex, LanguageModel, SequencePack, Similarity, TextAnalysis, TfIdf}

/** Scaling study
  * (run: `sbt "Test/runMain graft.ScaleSmoke [mults] [mode] [sfDir] [ops]"`,
  * mults comma-separated, default "1,3,10"; mode `dense` (default) or
  * `tagged`; `ops` an optional comma-list restricting which operators
  * run, for refreshing a subset of the study without re-running the
  * heavy dedup decade): replicates the sf0.1 corpus `mult` times with offset
  * ids, materializes it to parquet, and times the heaviest operators
  * against the scan at each size, emitting one JSON line per
  * (mult, op) — `{"scale":M,"op":"...","sec":S,"rows":N}` — so a
  * decade of measured scaling backs the 100 TB plan-shape claims.
  *
  * Modes:
  *  - `dense`: replicas are EXACT copies — every doc becomes a
  *    mult-clique of duplicates, so pair outputs grow ~quadratically
  *    in mult. Stresses the duplicate-heavy worst case.
  *  - `tagged`: every token gets a replica suffix and embeddings are
  *    re-drawn per replica — constant duplicate RATE, linear output.
  *    The honest proxy for "the same corpus, 10x bigger".
  */
object ScaleSmoke {
  def main(args: Array[String]): Unit = {
    val mults = args.headOption.getOrElse("1,3,10")
      .split(",").map(_.trim.toInt).toSeq
    val mode = args.drop(1).headOption.getOrElse("dense")
    require(mode == "dense" || mode == "tagged",
      s"mode must be 'dense' or 'tagged', got '$mode'")
    val dir = args.drop(2).headOption.getOrElse("/root/testdata/sf0.1")
    val opsFilter = args.drop(3).headOption
      .map(_.split(",").map(_.trim).toSet)
    val spark = GraftSession.local()
    spark.sparkContext.setLogLevel("ERROR")
    val t = graft.core.Tables(spark, dir)

    for (mult <- mults) {
      val docsSyn = (0 until mult).map { r =>
        val text =
          if (mode == "tagged" && r > 0)
            regexp_replace(col("text"), "(\\S+)", s"$$1r$r")
          else col("text")
        t.documents.select((col("doc_id") + lit(r * 1000000L)).as("doc_id"),
          text.as("text"), col("lang"), col("source"), col("n_chars"))
      }.reduce(_ union _)
      val embSyn = (0 until mult).map { r =>
        val vec =
          if (mode == "tagged" && r > 0) {
            // shader-hash white noise (fract(sin(x·12.9898)·43758.5453)
            // − 0.5): i.i.d.-looking components, so replica vectors stay
            // near-orthogonal like the base data — a smooth sin() here
            // yields correlated vectors and millions of true near-dups
            transform(sequence(lit(0), lit(63)), j => {
              val x = col("vec_id") * 64 + j + lit(r * 7919)
              val h = sin(x * 12.9898) * 43758.5453
              h - floor(h) - 0.5
            })
          } else col("embedding")
        t.embeddings.select((col("vec_id") + lit(r * 1000000L)).as("vec_id"),
          vec.cast("array<float>").as("embedding"))
      }.reduce(_ union _)

      // materialize the synthesized corpus to parquet and re-read, so
      // timed operators pay a real scan — not the replica-synthesis
      // expressions (regexp token tagging, noise vectors), which lazy
      // evaluation would otherwise charge to every op
      val tmp = java.nio.file.Files
        .createTempDirectory(s"scale_${mode}_$mult").toString
      docsSyn.write.mode("overwrite").parquet(s"$tmp/docs")
      embSyn.write.mode("overwrite").parquet(s"$tmp/emb")
      val docs = spark.read.parquet(s"$tmp/docs")
      val emb = spark.read.parquet(s"$tmp/emb")

      val opNames = scala.collection.mutable.Set[String]()
      def time(name: String)(body: => Long): Unit = {
        opNames += name // every op registers, filtered or not, so a
                        // misspelled filter entry fails loudly below
                        // instead of silently measuring nothing
        if (opsFilter.forall(_.contains(name))) {
          val t0 = System.nanoTime()
          val n = body
          val sec = (System.nanoTime() - t0) / 1e9
          println(s"""{"scale":$mult,"op":"$name","sec":${Measure.f3(sec)},"rows":$n}""")
          spark.catalog.clearCache()
        }
      }

      // dense replication multiplies every shingle's df by mult, so the
      // stop-shingle cutoff must scale with it to stay THE SAME config;
      // tagged replicas have disjoint shingles (constant df) and must
      // keep the base cutoff, or cross-scale timings compare different
      // operator parameters
      val maxDf = if (mode == "dense") 100 * mult else 100

      time("d1_exact")(Dedup.exact(docs, "doc_id", "text").count())
      time("d2_ngram_jaccard")(Dedup.ngramJaccardPairs(docs, "doc_id",
        "text", 3, 0.8, maxDf = maxDf,
        candidateBudget = Long.MaxValue).count())
      time("d3_minhash_lsh")(Dedup.minhashLshPairs(docs, "doc_id", "text",
        3, 16, 8, 0.8, maxDf = maxDf).count())
      time("d4_simhash")(Dedup.simhashPairs(docs, "doc_id", "text", 3).count())
      time("s3_cosine_neardup")(Similarity.cosineNearDupPairs(emb, 0.9).count())
      // the incremental-ingest shape: index build is the one full-corpus
      // job (scales with corpus); the probe of a FIXED 500-doc batch
      // should scale with the index SCAN, not with re-fingerprinting
      time("d6_index_build") {
        DedupIndex.build(docs, s"$tmp/idx", maxDf = maxDf)
        spark.read.parquet(s"$tmp/idx/bands").count()
      }
      val batch = t.documents.filter(col("doc_id") < 500)
        .select((col("doc_id") + lit(900000000L)).as("doc_id"), col("text"),
          col("lang"), col("source"), col("n_chars"))
      time("d6_probe_500")(DedupIndex.probePairs(spark, s"$tmp/idx",
        batch = batch, texts = docs.unionByName(batch),
        withinBatch = false).count())
      time("s2_lsh_topk")(Similarity.lshTopK(emb,
        emb.filter(col("vec_id") < 10), 5).count())
      time("x2_sequence_packing")(SequencePack.withPackAssignment(
        docs.select(col("doc_id"),
          graft.operators.TextAnalysis.wordCount(col("text")).as("n_tokens")),
        "doc_id", "n_tokens", maxTokens = 2048).count())
      // per-doc text ops and the corpus-assembly pair: aggregates over
      // every output column defeat count-only column pruning, so the
      // timed run pays the actual regex/gram/prefix-sum work
      time("t6_repetition") {
        TextAnalysis.repetitionStats(docs, "doc_id", "text")
          .agg(count(lit(1)).as("n"), sum(col("n_2grams")),
            sum(col("top_2gram_ratio"))).head.getLong(0)
      }
      time("t7_redaction") {
        TextAnalysis.redactPii(docs, "doc_id", "text")
          .agg(count(lit(1)).as("n"), sum(length(col("redacted")) +
            col("n_emails") + col("n_phones") + col("n_ips")))
          .head.getLong(0)
      }
      // corpus-statistics ops: model/df tables stay vocabulary-sized in
      // dense mode (same distinct grams, counts scaled) and grow with
      // the corpus in tagged mode — the two regimes bracket real growth
      time("t8_lm_score") {
        LanguageModel.bigramNll(docs)
          .agg(count(lit(1)).as("n"), sum(col("nll_micro")))
          .head.getLong(0)
      }
      time("t9_tfidf") {
        TfIdf.topKeywords(docs)
          .agg(count(lit(1)).as("n"), sum(col("score_micro")))
          .head.getLong(0)
      }
      // dense mode is d9's worst case by construction: every gram is
      // cross-doc duplicated, so the semi join passes EVERY occurrence
      // and coverage is total — the upper envelope of the span explode
      time("d9_dup_coverage") {
        Dedup.dupNgramCoverage(docs)
          .agg(count(lit(1)).as("n"), sum(col("n_covered")))
          .head.getLong(0)
      }
      // round-8 additions. d13 rides d2's exact co-occurrence core
      // (same candidate set, different denominator), so its curve must
      // track d2's; a divergence here means the shared core regressed
      time("d13_containment")(Dedup.containmentPairs(docs, "doc_id",
        "text", 3, 0.8, maxDf = maxDf,
        candidateBudget = Long.MaxValue).count())
      // d14's stress axis is the gram->min-owner aggregate: tagged mode
      // grows the distinct-gram domain ~linearly (disjoint vocab per
      // replica), dense mode keeps it constant with mult'd counts
      time("d14_novelty") {
        Dedup.ngramNovelty(docs)
          .agg(count(lit(1)).as("n"), sum(col("n_novel"))).head.getLong(0)
      }
      // t16: tokenize pass + word-keyed join; the (stratum, word)
      // aggregate is the corpus-sized stage, everything after shrinks
      time("t16_divergence") {
        TextAnalysis.sourceDivergence(docs, "source", "text")
          .agg(count(lit(1)).as("n"), sum(col("tv_micro"))).head.getLong(0)
      }
      // x11 = d2's pair finder + two id-keyed joins against the split
      // projection: the delta over d2 alone must stay scan-shaped
      time("x11_split_leakage") {
        val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
          3, 0.8, maxDf = maxDf, candidateBudget = Long.MaxValue)
        val splits = CorpusMix.withSplit(docs, "doc_id")
          .select(col("doc_id"), col("split"))
        pairs
          .join(splits.select(col("doc_id").as("i"),
            col("split").as("split_i")), Seq("i"))
          .join(splits.select(col("doc_id").as("j"),
            col("split").as("split_j")), Seq("j"))
          .filter(col("split_i") =!= col("split_j")).count()
      }
      time("x12_curriculum") {
        CorpusMix.curriculumOrder(docs, "doc_id", "text")
          .agg(count(lit(1)).as("n"), max(col("cur_pos"))).head.getLong(0)
      }
      // d15's incremental-ingest split, the d6 pattern: the index
      // build is the one full-corpus job; probing a FIXED 500-doc
      // batch must scale with the index SCAN, not re-shingling
      time("d15_nov_build") {
        DedupIndex.buildNovelty(docs, s"$tmp/novidx", n = 8)
        spark.read.parquet(s"$tmp/novidx/owners").count()
      }
      time("d15_nov_probe_500") {
        DedupIndex.probeNovelty(spark, s"$tmp/novidx",
          t.documents.filter(col("doc_id") < 500)
            .select((col("doc_id") + lit(900000000L)).as("doc_id"),
              col("text"), col("lang"), col("source"), col("n_chars")))
          .agg(count(lit(1)).as("n"), sum(col("n_novel"))).head.getLong(0)
      }
      time("x7_chunking") {
        Chunking.chunkDocs(docs)
          .agg(count(lit(1)).as("n"), sum(length(col("chunk_text"))))
          .head.getLong(0)
      }
      time("x4_shuffle_pos") {
        CorpusMix.withShufflePosition(docs, "doc_id")
          .agg(count(lit(1)).as("n"), max(col("shuffle_pos")))
          .head.getLong(0)
      }
      time("x5_source_cap")(
        CorpusMix.capPerStratum(docs, "doc_id", "source", k = 10).count())
      // the bounded-aggregate twin x5 actually ships: same selection,
      // O(strata·k) state instead of a per-stratum sort
      time("x5_cap_bounded")(
        CorpusMix.capPerStratumBounded(docs, "doc_id", "source", k = 10)
          .count())
      // components over the pair graph: in dense mode every doc is a
      // mult-clique, so component count stays ~constant while component
      // SIZE grows with mult — the iterative loop's stress axis. A
      // plain count() suffices: every round is already materialized by
      // the eager per-round checkpoint, so nothing prunes away
      time("d8_components") {
        Dedup.connectedComponents(Dedup.ngramJaccardPairs(docs, "doc_id",
          "text", 3, 0.8, maxDf = maxDf,
          candidateBudget = Long.MaxValue)).count()
      }
      // the adversarial-diameter axis the corpus graphs don't have:
      // ONE chain component whose length scales with mult. Plain
      // min-label needs O(n) rounds here; the pointer jump must hold
      // rounds at O(log n), so the time decade stays ~flat-per-round
      // while a lost jump would blow up linearly
      time("d8_chain") {
        val n = 20000L * mult
        Dedup.connectedComponents(
          spark.range(n - 1).select(col("id").as("i"),
            (col("id") + 1).as("j"))).count()
      }
      // decontamination, both paths, against a FIXED 500-doc eval set:
      // the claim under test is that cost scales with the train-side
      // SCAN (the bloom probe / broadcast join rides it) while the
      // eval side stays constant
      val evalSet = t.documents.filter(col("doc_id") >= 4500)
      time("d7_decontam_broadcast")(Dedup.contaminationReport(
        docs, evalSet, "doc_id", "text", n = 8).count())
      time("d11_decontam_bloom")(Dedup.contaminationReportBloom(
        docs, evalSet, "doc_id", "text", n = 8).count())
      time("s5_int8_quantize") {
        graft.operators.Quantize.int8Audit(emb, "vec_id", "embedding")
          .agg(count(lit(1)).as("n"), sum(col("max_abs_err")),
            sum(col("qmax"))).head.getLong(0)
      }
      time("t10_normalize") {
        TextAnalysis.normalizeMarkup(docs, "doc_id", "text")
          .agg(count(lit(1)).as("n"), sum(col("n_chars_clean")),
            sum(col("n_tags"))).head.getLong(0)
      }
      time("x9_epochs")(CorpusMix.withEpochs(docs, "doc_id", "source",
        Map("src1" -> 2.5, "src3" -> 0.5, "src5" -> 0.0)).count())
      // temporal ops over events replicated with OFFSET user ids
      // (disjoint keys -> linear growth, the honest "more users" proxy);
      // materialized like docs/emb so the timed run pays a real scan
      val evPath = s"$tmp/ev"
      (0 until mult).map(r => t.events.select(
          (col("user_id") + lit(r * 1000000L)).as("user_id"),
          col("ts"), col("event_id"), col("event_type"), col("value")))
        .reduce(_ union _)
        .write.mode("overwrite").parquet(evPath)
      val ev = spark.read.parquet(evPath)
      time("a4_interval_follow")(graft.operators.Temporal.intervalFollowCount(
        ev.filter(col("event_type") === "view"),
        ev.filter(col("event_type") === "click"),
        "user_id", "event_id", "ts", "ts", 30L * 60 * 1000000).count())
      time("a5_resample")(graft.operators.Temporal.resampleLocf(
        ev.select(col("user_id"), col("ts"), col("event_id"), col("value")),
        "user_id", "ts", Seq("event_id", "value"), stepSec = 21600L).count())
      time("q15b_approx_pct")((0 until mult).map(_ => t.lineitem)
        .reduce(_ union _)
        .groupBy(col("l_returnflag"))
        .agg(percentile_approx(col("l_extendedprice"),
          array(lit(0.5), lit(0.95), lit(0.99)), lit(10000)).as("p"))
        .count())
      // engagement pair over the same replicated events: disjoint user
      // ids per replica -> contribution pairs and cohort cells grow
      // linearly, the honest "more users" proxy
      time("a6_rolling_actives")(graft.operators.Temporal
        .rollingActiveUsers(ev, "user_id", "ts").count())
      time("a7_cohorts")(graft.operators.Temporal
        .cohortRetention(ev, "user_id", "ts").count())
      time("a8_twap")(graft.operators.Temporal
        .timeWeightedAvg(ev, "user_id", "ts", "value", "event_id").count())
      time("a9_funnel")(graft.operators.Temporal
        .funnel(ev, "user_id", "ts", "event_type",
          Seq("view", "click", "purchase")).count())
      time("a5b_interp")(graft.operators.Temporal.resampleInterp(
        ev.select(col("user_id"), col("ts"), col("value")),
        "user_id", "ts", "value", stepSec = 21600L).count())
      // CDC ops over the same replicated events; event ids re-offset
      // per replica because compactLatest re-joins winners by UNIQUE
      // id — duplicate ids across replicas would multiply the join
      val evc = ev.withColumn("event_id",
        col("event_id") + expr("user_id div 1000000") * 100000000L)
      time("c1_compact")(graft.operators.Changelog.compactLatest(
        evc, Seq("user_id"), "ts", "event_id",
        payload = Seq("event_type", "value")).count())
      time("c2_scd2")(graft.operators.Changelog.scd2Intervals(
        evc, Seq("user_id"), "ts", "event_id", "event_type").count())
      // tombstone compaction: same aggregate shape as c1 plus the
      // O(keys) post-aggregate filter — the delta vs c1 at any scale
      // should be noise
      time("c3_compact_deletes")(graft.operators.Changelog.compactWithDeletes(
        evc.withColumn("op", when(col("event_id") % 7 === 0, lit("delete"))
          .otherwise(lit("upsert"))),
        Seq("user_id"), "ts", "event_id", Seq("event_type", "value"),
        "op", "delete").count())
      // motif counting: leads on one key shuffle — should track the
      // event scan like a8/a9
      time("a12_motif")(graft.operators.Temporal.motifCount(
        ev, "user_id", "ts", "event_id", "event_type",
        Seq("view", "click", "purchase")).count())
      // OHLC bars: bucket grain (type, hour) is CONSTANT across
      // replicas, so rows-per-bucket grows with mult while the
      // aggregate output does not — the map-side-combine claim is the
      // thing under measurement
      time("a13_ohlc")(graft.operators.Temporal.ohlcBars(
        evc, "event_type", "ts", "event_id", "value").count())
      // fixed-iteration PageRank over the purchase graph replicated
      // with offset node ids — disjoint subgraphs, the honest "more
      // customers" proxy: per-iteration join + aggregate should track
      // the edge scan linearly
      val edgePath = s"$tmp/edges"
      val baseEdges = t.orders.select(col("o_orderkey"), col("o_custkey"))
        .join(t.lineitem.select(col("l_orderkey"), col("l_suppkey")),
          col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey").as("src"), col("l_suppkey").as("dst"))
        .distinct()
      (0 until mult).map(r => baseEdges.select(
          (col("src") + lit(r * 1000000L)).as("src"),
          (col("dst") + lit(r * 1000000L)).as("dst")))
        .reduce(_ union _).write.mode("overwrite").parquet(edgePath)
      time("g1_pagerank")(graft.operators.Graph
        .pageRank(spark.read.parquet(edgePath), iters = 3).count())
      // k-core sieve over the same disjoint replicated subgraphs: per
      // round one degree aggregate + two semi-joins — should track the
      // edge scan like g1's per-iteration joins (k=4 so the sieve does
      // real peeling on the bipartite purchase graph at every scale)
      time("g5_kcore")(graft.operators.Graph
        .kCorePeel(spark.read.parquet(edgePath), k = 4, rounds = 3).count())
      // label propagation over the same disjoint replicated subgraphs:
      // per round one edge-vs-labels join + two shrinking aggregates —
      // linear in the edge scan, like g1's iteration structure
      time("g6_lpa")(graft.operators.Graph
        .labelPropagation(spark.read.parquet(edgePath), rounds = 3).count())
      // g2 triangles on the co-purchase graph, scaled two ways as two
      // ops. The companion wedge count (the orientation's actual work
      // volume, Sigma_u C(outdeg+(u), 2)) is emitted OUTSIDE the timed
      // block — wedges/edges is the ratio that predicts 100x behavior.
      def wedgeCount(e: org.apache.spark.sql.DataFrame): (Long, Long) = {
        val und = e.select(least(col("src"), col("dst")).as("a"),
            greatest(col("src"), col("dst")).as("b"))
          .filter(col("a") =!= col("b")).distinct()
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val deg = und.select(col("a").as("n"))
          .unionAll(und.select(col("b").as("n")))
          .groupBy(col("n")).agg(count(lit(1)).as("d"))
        val wedges = und
          .join(deg.select(col("n").as("a"), col("d").as("__da")), "a")
          .join(deg.select(col("n").as("b"), col("d").as("__db")), "b")
          .select(when(col("__da") < col("__db") ||
              (col("__da") === col("__db") && col("a") < col("b")),
            col("a")).otherwise(col("b")).as("u"))
          .groupBy(col("u")).agg(count(lit(1)).as("od"))
          .agg(coalesce(sum(expr("od * (od - 1) div 2")), lit(0L)).as("w"))
          .head().getLong(0)
        val nEdges = und.count()
        und.unpersist()
        (nEdges, wedges)
      }
      def coPurchase(okCol: Int => org.apache.spark.sql.Column,
                     partCol: Int => org.apache.spark.sql.Column) =
        (0 until mult).map { r =>
          t.lineitem.select(okCol(r).as("ok"), partCol(r).as("pk"))
        }.reduce(_ union _)
          .as("x").join(
            (0 until mult).map { r =>
              t.lineitem.select(okCol(r).as("ok"), partCol(r).as("pk"))
            }.reduce(_ union _).as("y"),
            col("x.ok") === col("y.ok") &&
              col("x.pk") < col("y.pk"))
          .select(col("x.pk").as("src"), col("y.pk").as("dst"))
      // (a) DISJOINT copies — offset node ids AND order ids (a shared
      // orderkey would cross-join replicas and grow edges ~mult²), the
      // honest "more corpora" proxy: wedges/edges must stay ~constant
      // across the decade (the orientation's O(m^1.5) bound
      // degenerating to linear on scale-constant per-node structure)
      if (opsFilter.forall(_.contains("g2_triangles"))) {
        coPurchase(r => col("l_orderkey") + lit(r * 100000000L),
            r => col("l_partkey") + lit(r * 1000000L))
          .write.mode("overwrite").parquet(s"$tmp/g2edges")
        val e = spark.read.parquet(s"$tmp/g2edges")
        val (nEdges, wedges) = wedgeCount(e)
        // wave count from the measured wedge volume: ~600M wedges per
        // wave keeps peak shuffle scratch ~15-20 GB — the knob that
        // fits the 100x join (4.1B wedges, >80 GB run whole) in-box.
        // 1-10x stay single-pass, identical to the r09 series.
        val waves = math.max(1L, wedges / 600000000L).toInt
        println(s"""{"scale":$mult,"op":"g2_wedges",""" +
          s""""edges":$nEdges,"wedges":$wedges,"waves":$waves}""")
        spark.catalog.clearCache()
        time("g2_triangles")(
          graft.operators.Graph.triangleCounts(e, waves).count())
      } else opNames += "g2_triangles"
      // (b) DENSIFIED — each replica rewires the SAME node set through
      // an affine partkey bijection mod a prime: degrees grow ~mult,
      // wedge volume ~mult² — the power-law densification stress where
      // the degree-ordered orientation's bound is doing real work.
      // Run only at small mults (the volume is the point; a 30x
      // densified graph is 900x the wedge work by design).
      if (opsFilter.exists(_.contains("g2_triangles_densified"))) {
        val prime = lit(1000003L)
        coPurchase(r => col("l_orderkey"), r =>
            pmod(col("l_partkey") * lit(2L * r + 1) + lit(r * 97L), prime))
          .write.mode("overwrite").parquet(s"$tmp/g2edgesDense")
        val e = spark.read.parquet(s"$tmp/g2edgesDense")
        val (nEdges, wedges) = wedgeCount(e)
        println(s"""{"scale":$mult,"op":"g2_wedges_densified",""" +
          s""""edges":$nEdges,"wedges":$wedges}""")
        spark.catalog.clearCache()
        time("g2_triangles_densified")(
          graft.operators.Graph.triangleCounts(e).count())
      } else opNames += "g2_triangles_densified"
      // concurrency sweep: boundaries are 2·sessions rows; the prefix
      // sum is two bounded shuffles however many sessions there are,
      // and the output grain (days) is constant across replicas
      time("a14_peak_concurrency") {
        val sess = graft.operators.Temporal.sessionize(
          ev.select(col("user_id"), col("ts")), "user_id", "ts",
          gap = "30 minutes")
        graft.operators.Temporal.peakConcurrency(
          sess, "session_start", "session_end").count()
      }
      // dyadic EWMA: one window pass, O(w) frame — should track the
      // event scan like a8/a12
      time("a15_ewma")(graft.operators.Temporal.dyadicEwma(
        ev, "user_id", "value", "ts", "event_id", w = 8).count())
      // full tokenizer loop at scale: the corpus-sized stages are the
      // word-frequency aggregate (train) and the distinct-word encode +
      // doc join (apply); the 5 merge rounds between them are
      // vocabulary-sized. Timed together — both halves are what a
      // production tokenizer run pays per corpus
      time("t17_bpe_train_encode") {
        val ms = graft.operators.Bpe.learnMergeList(docs, "text", 5).map(_._2)
        graft.operators.Bpe.encode(docs, "text", "doc_id", ms).count()
      }
      // BATCHED merge learning at a production-shaped vocabulary size:
      // the claim is sub-linear JOB count in nMerges (rounds ~
      // nMerges/batch, ~3 jobs per round), vs the sequential loop's
      // 2 jobs per merge. Counted with a listener, not inferred.
      if (opsFilter.forall(_.contains("t14_bpe_batched_256"))) {
        val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
        val listener = new org.apache.spark.scheduler.SparkListener {
          override def onJobStart(
              j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
            jobs.incrementAndGet(); ()
          }
        }
        spark.sparkContext.addSparkListener(listener)
        val t0 = System.nanoTime()
        val ms = graft.operators.Bpe.learnMergeBatchList(
          docs, "text", nMerges = 256, batchSize = 32)
        val sec = (System.nanoTime() - t0) / 1e9
        spark.sparkContext.removeSparkListener(listener)
        val rounds = if (ms.isEmpty) 0 else ms.map(_._4).max
        println(s"""{"scale":$mult,"op":"t14_bpe_batched_256",""" +
          s""""sec":${Measure.f3(sec)},"n_merges":${ms.size},"rounds":$rounds,""" +
          s""""jobs":${jobs.get()}}""")
        spark.catalog.clearCache()
      }
      opNames += "t14_bpe_batched_256"
      // SemDeDup under the operator's own 100 TB contract: nlist grows
      // with the corpus so per-cell population — and the quadratic
      // within-cell pair work — stays bounded; the quantizer is
      // re-trained per scale (its k-means is part of the measured
      // regime, as it would be in production)
      // Σ|cell|² companion metric (the within-cell quadratic pair
      // volume s7's contract bounds) — OUTSIDE the timed block, with
      // its own identically-trained centroids so the timed row below
      // stays the same regime as prior rounds (k-means included)
      if (opsFilter.forall(_.contains("s7_semdedup"))) {
        val cents = Similarity.ivfCentroids(emb, nlist = 16 * mult,
          maxIter = 5)
        val pops = Similarity.cellPopulations(emb, cents, nassign = 3)
          .agg(sum(expr("n * n")).as("s2"), max(col("n")).as("mx"),
            count(lit(1)).as("cells"))
          .head()
        println(s"""{"scale":$mult,"op":"s7_cells","sum_cell_sq":${
          pops.getLong(0)},"max_cell":${pops.getLong(1)},"n_cells":${
          pops.getLong(2)}}""")
        spark.catalog.clearCache()
      }
      time("s7_semdedup") {
        val cents = Similarity.ivfCentroids(emb, nlist = 16 * mult,
          maxIter = 5)
        Similarity.semanticDedup(
          emb.select(col("vec_id"),
            col("embedding").cast("array<double>").as("embedding")),
          cents, threshold = 0.9, nassign = 3).count()
      }
      // sketch build is the corpus-sized stage of t13: one local w×d
      // grid per task, merged pairwise — cost should track the token
      // scan, shuffle stays O(sketch · partitions)
      time("t13_cms_build") {
        docs.select(explode(split(col("text"), "\\s+")).as("w"))
          .filter(col("w") =!= "")
          .agg(expr("count_min_sketch(w, 0.0001d, 0.999d, 42)").as("sk"))
          .select(length(col("sk")).cast("long").as("n")).head.getLong(0)
      }
      time("x10_weighted_sample")(CorpusMix.weightedSample(docs, "doc_id",
        "source", "n_chars", k = 10).count())
      // vocab growth: min-owner aggregate output is vocabulary-bounded
      // (tagged mode decorrelates replica tokens, so vocabulary grows
      // with the corpus — the honest worst case; dense mode's is flat)
      time("t18_vocab_growth")(TextAnalysis.vocabGrowth(
        docs, "doc_id", "text").count())
      // readability: three regexp counts riding the scan, no shuffle —
      // should be flat like t7/t10
      time("t19_readability")(TextAnalysis.readability(
        docs, "doc_id", "text").count())
      // dataset card: every per-doc signal rides one scan; only the
      // fingerprint aggregate shuffles — dense mode makes every doc a
      // mult-clique dup, the disclosure columns' stress case
      time("x13_dataset_card")(CorpusMix.datasetCard(
        docs, "doc_id", "text", Seq("source", "lang")).count())
      // minhash calibration: the K-min signature aggregate is one pass
      // over the shingle relation; pair volume follows d2's core
      // maxDf follows the dense-mode df inflation like the d2/d3 rows:
      // exact-copy replicas multiply every shingle's df by mult, so a
      // FIXED guard saturates into near-total stop-shingling at 10x
      // (measured: output 17304 -> 135 rows) — constant selectivity is
      // the honest experiment
      time("d17_minhash_calibration")(graft.operators.Dedup
        .minhashCalibration(docs, "doc_id", "text",
          n = 3, numHashes = 16, thresholdPpm = 800000L, maxDf = maxDf)
        .count())
      // perceptual-hash dedup over doc_id-synthesized thumbnails (the
      // m9 catalog construction): candidate volume is the block-bucket
      // join's business, verify is packed-word popcount on a PERSISTED
      // O(docs) fingerprint relation — the 557s->2.5s collapse-trap
      // regression this row exists to catch
      time("m9_ahash_neardup") {
        val b = "((doc_id div 3 + 13) * (j * j + 71) * " +
          "(j + doc_id div 3 + 7)) % 251"
        val thumbs = docs.select(col("doc_id"),
          expr(s"""transform(sequence(0, 63), j ->
                  |  CASE WHEN doc_id % 3 = 2 AND j < 5 THEN ($b + 128) % 251
                  |       ELSE $b + IF(doc_id % 3 = 1, 17, 0)
                  |  END)""".stripMargin).as("px"))
        graft.operators.Multimodal
          .ahashNearDupPairs(thumbs, "doc_id", "px", maxDist = 7).count()
      }
      // centroid update step over the replicated embeddings: explode is
      // O(N·d) rows but partial agg folds to groups·d per partition
      time("s6_centroids")(Similarity.labelCentroids(
        emb.withColumn("label", pmod(col("vec_id"), lit(10)).cast("int")))
        .count())
      // edit-distance join with CANDIDATE accounting (d12's shape: the
      // catalog's synthetic-typo population over 40-char fingerprints).
      // The ratio candidates/output is the number that predicts 100×
      // behavior — a prefix filter losing selectivity shows up here as
      // super-linear gram-candidate growth long before wall time does.
      // Dense-mode replicas duplicate every fingerprint, so the TRUE
      // pair output grows ~quadratically (mult² cliques) — candidate
      // growth must track the output, not outrun it; tagged mode keeps
      // outputs linear
      locally {
        val base = docs.select(col("doc_id"),
          substring(col("text"), 1, 40).as("fp"))
        val rr = pmod(col("doc_id"), lit(4))
        val t1 = concat(substring(col("fp"), 1, 9), lit("z"),
          substring(col("fp"), 11, 1000))
        val t2 = concat(substring(t1, 1, 12), lit("y"),
          substring(t1, 14, 1000))
        val t3 = concat(substring(t2, 1, 15), lit("x"),
          substring(t2, 17, 1000))
        val typos = base.select(col("doc_id").as("typo_key"),
          when(rr === 0, col("fp")).when(rr === 1, t1)
            .when(rr === 2, t2).otherwise(t3).as("typo_name"))
        // candidate accounting OUTSIDE the timed block — the timed
        // number stays the pure join. Own filter name so the profile
        // can run without the timed join (or vice versa); past 10× the
        // q=2 series is skipped — its candidate volume is ~2× q=3's
        // and the q-sensitivity conclusion is already pinned at 1–10×
        opNames += "d12_candidates"
        if (opsFilter.exists(_.contains("d12_candidates")))
          for (qq <- if (mult > 10) Seq(3) else Seq(2, 3)) {
            // Long.MaxValue: this series EXISTS to measure the misuse
            // mode's candidate blowup, so the profile breaker (armed by
            // default since r11) is explicitly stood down
            val st = graft.operators.Fuzzy.Unblocked.profile(typos, base,
              "typo_key", "doc_id", "typo_name", "fp", maxDist = 2, q = qq,
              candidateBudget = Long.MaxValue)
            println(s"""{"scale":$mult,"op":"d12_candidates_q$qq",""" +
              s""""gram_candidates":${st.gramCandidates},""" +
              s""""short_candidates":${st.shortCandidates},""" +
              s""""verify_candidates":${st.verifyCandidates},""" +
              s""""output_pairs":${st.outputPairs}}""")
            spark.catalog.clearCache()
          }
        // BLOCKED candidate accounting (d12b's shape: edit-stable
        // 8-char fingerprint prefix as the record-linkage blocking
        // key). The claim under test: candidates/output stays ~flat
        // across the decade because volume is Sigma_b f(|b|), not
        // f(N) — versus the unblocked series above whose ratio grows
        // superlinearly on the same population.
        val typosB = typos.withColumn("blk",
          substring(col("typo_name"), 1, 8))
        val baseB = base.withColumn("blk", substring(col("fp"), 1, 8))
        if (opsFilter.forall(_.contains("d12b_edit_join_blocked"))) {
          val st = graft.operators.Fuzzy.profile(typosB, baseB,
            "typo_key", "doc_id", "typo_name", "fp", "blk", "blk",
            maxDist = 2, q = 3)
          println(s"""{"scale":$mult,"op":"d12b_candidates_blocked_q3",""" +
            s""""gram_candidates":${st.gramCandidates},""" +
            s""""short_candidates":${st.shortCandidates},""" +
            s""""verify_candidates":${st.verifyCandidates},""" +
            s""""output_pairs":${st.outputPairs}}""")
          spark.catalog.clearCache()
        }
        time("d12b_edit_join_blocked")(graft.operators.Fuzzy
          .editDistanceJoin(typosB, baseB,
            "typo_key", "doc_id", "typo_name", "fp", "blk", "blk",
            maxDist = 2, q = 3).count())
        // BOUNDED-block regime: the prefix-8 key alone co-grows with
        // the corpus in tagged mode (every replica of a doc shares its
        // doc's prefix), so Σ|b_l||b_r| — the blocked join's exact
        // cost — grows ~mult² within blocks even though output is
        // linear. Composing the prefix with the replica STRATUM (the
        // operator contract's "per-source strata" composition; here
        // the stratum is recoverable as id div 1e6) keeps every block
        // scale-constant: candidates/output must be FLAT across the
        // decade, the row that separates "blocking works" from "this
        // block key happened to be bounded". Recall trade-off is
        // explicit: cross-stratum matches are out of contract.
        val typosS = typos.withColumn("blk",
          concat(substring(col("typo_name"), 1, 8), lit("#"),
            expr("typo_key div 1000000")))
        val baseS = base.withColumn("blk",
          concat(substring(col("fp"), 1, 8), lit("#"),
            expr("doc_id div 1000000")))
        if (opsFilter.exists(_.contains("d12b_candidates_stratum"))) {
          val st = graft.operators.Fuzzy.profile(typosS, baseS,
            "typo_key", "doc_id", "typo_name", "fp", "blk", "blk",
            maxDist = 2, q = 3)
          println(s"""{"scale":$mult,"op":"d12b_candidates_stratum_q3",""" +
            s""""gram_candidates":${st.gramCandidates},""" +
            s""""short_candidates":${st.shortCandidates},""" +
            s""""verify_candidates":${st.verifyCandidates},""" +
            s""""output_pairs":${st.outputPairs}}""")
          spark.catalog.clearCache()
        }
        opNames += "d12b_candidates_stratum"
        time("d12b_edit_join_stratum")(graft.operators.Fuzzy
          .editDistanceJoin(typosS, baseS,
            "typo_key", "doc_id", "typo_name", "fp", "blk", "blk",
            maxDist = 2, q = 3).count())
        // q=3: time the SHIPPED configuration (DedupQueries d12) —
        // timing the default q=2 here would conflate the q change with
        // scaling drift in cross-round comparisons. candidateBudget is
        // raised EXPLICITLY: this series exists to measure the
        // escape hatch's ~N² failure mode past the default breaker
        // (625.9M candidates at 30×, SCALING_r09), which is exactly
        // the run the breaker would otherwise kill in seconds
        time("d12_edit_join")(graft.operators.Fuzzy.Unblocked
          .editDistanceJoin(typos, base,
            "typo_key", "doc_id", "typo_name", "fp",
            maxDist = 2, q = 3, candidateBudget = Long.MaxValue).count())
      }

      opsFilter.foreach { f =>
        val unknown = f -- opNames
        require(unknown.isEmpty,
          s"unknown ops in filter: ${unknown.mkString(",")}; " +
            s"known: ${opNames.toSeq.sorted.mkString(",")}")
      }

      // the 10x replicas are hundreds of MB — don't accumulate them
      val root = java.nio.file.Paths.get(tmp)
      java.nio.file.Files.walk(root).sorted(java.util.Comparator.reverseOrder())
        .forEach(p => java.nio.file.Files.deleteIfExists(p))
    }
    spark.stop()
  }
}
