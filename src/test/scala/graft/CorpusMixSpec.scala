package graft

import org.apache.spark.sql.functions._

import graft.operators.CorpusMix

class CorpusMixSpec extends SparkSpecBase {

  test("thresholdHex maps rates to 8-hex-char bounds (sentinel at 1.0)") {
    assert(CorpusMix.thresholdHex(0.0) == "00000000")
    assert(CorpusMix.thresholdHex(0.5) == "80000000")
    assert(CorpusMix.thresholdHex(1.0) == "g")
    assert(CorpusMix.thresholdHex(1.5) == "g") // any over-rate keeps all
  }

  test("curriculumOrder: integer q matches the float composite, positions " +
    "are the (q desc, id) row numbers") {
    import org.apache.spark.sql.expressions.Window
    val docs = graft.core.Tables(spark, sf("sf0.001")).documents
    val cur = CorpusMix.curriculumOrder(docs, "doc_id", "text")
    // the integer key is floor(1e6·q) of the SAME rational the float
    // composite approximates — agreement within one ulp-induced unit
    val q = graft.operators.TextAnalysis.withQuality(docs, "text")
      .select(col("doc_id").as("doc"), (col("quality") * 1e6).as("qf"))
    val drift = cur.join(q, "doc")
      .filter(abs(col("q_micro") - col("qf")) > 1.5).count()
    assert(drift == 0, s"$drift docs where integer q disagrees with the " +
      "float composite by > 1 micro-unit")
    // the prefix-sum position equals the global window row_number
    val twin = cur.withColumn("rn",
      row_number().over(Window.orderBy(col("q_micro").desc, col("doc")))
        .cast("long") - 1L)
    assert(twin.filter(col("cur_pos") =!= col("rn")).count() == 0)
    // positions are a permutation of 0..n-1
    assert(cur.select(col("cur_pos")).distinct().count() == docs.count())
  }

  test("split leakage audit flags a planted cross-split near-dup pair") {
    val s = spark
    import s.implicits._
    // find two ids withSplit assigns to DIFFERENT splits, give them
    // identical 40-word texts, pad the corpus with unrelated docs
    val probe = CorpusMix.withSplit(
        (0L until 50L).toDF("doc_id"), "doc_id")
      .as[(Long, String)].collect().toMap
    val (idA, idB) = {
      val bySplit = probe.groupBy(_._2).map { case (k, v) => k -> v.keys.min }
      val two = bySplit.values.toSeq.sorted.take(2)
      (two(0), two(1))
    }
    val shared = (1 to 40).map(i => s"tok$i").mkString(" ")
    val corpus = Seq(idA -> shared, idB -> shared) ++
      (100L until 110L).map(i => i -> (1 to 40).map(j => s"u${i}w$j").mkString(" "))
    val d = corpus.toDF("doc_id", "text")
    val pairs = graft.operators.Dedup.ngramJaccardPairs(d, "doc_id", "text",
      n = 3, threshold = 0.8, maxDf = 100)
    val splits = CorpusMix.withSplit(d, "doc_id")
      .select(col("doc_id"), col("split"))
    val leaked = pairs
      .join(splits.select(col("doc_id").as("i"), col("split").as("split_i")), Seq("i"))
      .join(splits.select(col("doc_id").as("j"), col("split").as("split_j")), Seq("j"))
      .filter(col("split_i") =!= col("split_j"))
      .select(col("i"), col("j")).as[(Long, Long)].collect().toSet
    assert(leaked == Set((math.min(idA, idB), math.max(idA, idB))),
      s"exactly the planted cross-split twin must be flagged, got $leaked")
  }

  test("stratifiedSample is deterministic, per-stratum, and near the rate") {
    val s = spark
    import s.implicits._
    val df = (0L until 4000L).map(i => (i, if (i % 2 == 0) "a" else "b"))
      .toDF("id", "stratum")
    val rates = Map("a" -> 0.25, "b" -> 1.0)
    val kept = CorpusMix.stratifiedSample(df, "id", "stratum", rates)
    val byStratum = kept.groupBy($"stratum").count()
      .as[(String, Long)].collect().toMap
    assert(byStratum("b") == 2000L) // rate 1.0 keeps every row
    // 2000 draws at p=.25: mean 500, sd ~19 — 5 sd of slack
    assert(math.abs(byStratum("a") - 500L) < 100,
      s"a-stratum kept ${byStratum("a")}, expected ~500")
    // exact reproducibility, not statistical: same membership twice
    val again = CorpusMix.stratifiedSample(df, "id", "stratum", rates)
    assert(kept.select("id").as[Long].collect().sorted.toSeq ==
      again.select("id").as[Long].collect().sorted.toSeq)
    // unknown strata fall back to defaultRate=0
    val noRate = CorpusMix.stratifiedSample(df, "id", "stratum", Map.empty)
    assert(noRate.count() == 0)
  }

  test("samples are nested: raising a rate only adds rows") {
    val s = spark
    import s.implicits._
    val df = (0L until 3000L).map(i => (i, "a")).toDF("id", "stratum")
    def ids(rate: Double) =
      CorpusMix.stratifiedSample(df, "id", "stratum", Map("a" -> rate))
        .select("id").as[Long].collect().toSet
    val (lo, mid, hi) = (ids(0.1), ids(0.4), ids(0.9))
    assert(lo.subsetOf(mid) && mid.subsetOf(hi))
    assert(lo.size < mid.size && mid.size < hi.size)
  }

  test("withSplit rejects overflowing or non-positive weights") {
    val s = spark
    import s.implicits._
    val df = (0L until 10L).toDF("id")
    intercept[IllegalArgumentException] {
      CorpusMix.withSplit(df, "id", Seq("a" -> 0.8, "b" -> 0.3))
    }
    intercept[IllegalArgumentException] {
      CorpusMix.withSplit(df, "id", Seq("a" -> 0.8, "b" -> -0.2))
    }
    // the float-ulp 0.8+0.1+0.1 default must NOT trip the sum check
    assert(CorpusMix.withSplit(df, "id").count() == 10L)
  }

  test("withSplit covers every row with disjoint named fractions") {
    val s = spark
    import s.implicits._
    val df = (0L until 5000L).toDF("id")
    val split = CorpusMix.withSplit(df, "id")
    val counts = split.groupBy($"split").count().as[(String, Long)]
      .collect().toMap
    assert(counts.keySet == Set("train", "val", "test"))
    assert(counts.values.sum == 5000L)
    // 80/10/10 within 5 sd (sd ~28 for p=.8, ~21 for p=.1)
    assert(math.abs(counts("train") - 4000L) < 150)
    assert(math.abs(counts("val") - 500L) < 110)
    assert(math.abs(counts("test") - 500L) < 110)
    // split assignment is a pure function of the id
    val one = split.filter($"id" === 42L).select($"split").as[String].head()
    val two = CorpusMix.withSplit(df, "id").filter($"id" === 42L)
      .select($"split").as[String].head()
    assert(one == two)
  }

  test("withShufflePosition is the exact keyed-hash permutation") {
    val s = spark
    import s.implicits._
    val df = (0L until 3000L).toDF("id")
    val got = CorpusMix.withShufflePosition(df, "id")
      .select($"id", $"shuffle_key", $"shuffle_pos")
      .as[(Long, String, Long)].collect()
    // positions are a bijection onto [0, N)
    assert(got.map(_._3).sorted.toSeq == (0L until 3000L).toSeq)
    // and agree with the sort order of the key (the oracle's window form)
    val byKey = got.sortBy(_._2).map(_._1).toSeq
    val byPos = got.sortBy(_._3).map(_._1).toSeq
    assert(byKey == byPos)
    // a different salt draws a genuinely different permutation
    val other = CorpusMix.withShufflePosition(df, "id", salt = "epoch2")
      .select($"id", $"shuffle_pos").as[(Long, Long)].collect().toMap
    val same = got.count { case (id, _, p) => other(id) == p }
    assert(same < 30, s"salts should decorrelate, $same/3000 positions equal")
  }

  test("capPerStratum bounds every stratum and is nested in k") {
    val s = spark
    import s.implicits._
    val df = (0L until 2000L).map(i => (i, s"src${i % 7}"))
      .toDF("id", "source")
    val k10 = ReferenceForms.capPerStratum(df, "id", "source", k = 10)
    val counts = k10.groupBy($"source").count().as[(String, Long)]
      .collect().toMap
    assert(counts.size == 7 && counts.values.forall(_ == 10L))
    assert(k10.agg(max($"cap_rank")).as[Long].head() == 10L)
    // nested: the k=10 kept set contains the k=4 kept set exactly
    val k4 = ReferenceForms.capPerStratum(df, "id", "source", k = 4)
      .select($"id").as[Long].collect().toSet
    val k10ids = k10.select($"id").as[Long].collect().toSet
    assert(k4.subsetOf(k10ids) && k4.size == 28)
    // a cap above the stratum size keeps everything
    assert(ReferenceForms.capPerStratum(df, "id", "source", k = 500).count() == 2000L)
  }

  test("bounded selection equals its window twin bit-for-bit, with no window sort") {
    val s = spark
    import s.implicits._
    // weights spanning 4 orders of magnitude, a zero-weight row per
    // stratum (infinite race key), and deliberately FEW hot strata —
    // the shape the bounded path exists for
    val df = (0L until 3000L)
      .map(i => (i, s"src${i % 3}", if (i % 17 == 0) 0.0 else ((i % 100) + 1) / 10.0))
      .toDF("id", "source", "w")
    def rows(d: org.apache.spark.sql.DataFrame, rank: String) =
      d.select($"id", $"source", col(rank)).as[(Long, String, Long)]
        .collect().toSet
    assert(rows(CorpusMix.capPerStratumBounded(df, "id", "source", k = 25), "cap_rank")
      == rows(ReferenceForms.capPerStratum(df, "id", "source", k = 25), "cap_rank"))
    assert(rows(CorpusMix.weightedSampleBounded(df, "id", "source", "w", k = 25), "sel_rank")
      == rows(CorpusMix.weightedSample(df, "id", "source", "w", k = 25), "sel_rank"))
    // k above stratum size keeps everything, ranked completely
    assert(CorpusMix.capPerStratumBounded(df, "id", "source", k = 5000).count() == 3000L)
    // a NULL stratum is a valid group for the window twin — the
    // bounded form's re-join must be null-safe or those rows vanish
    val withNull = df.withColumn("source",
      when($"id" < 10, lit(null: String)).otherwise($"source"))
    assert(rows(CorpusMix.capPerStratumBounded(withNull, "id", "source", k = 25),
        "cap_rank")
      == rows(ReferenceForms.capPerStratum(withNull, "id", "source", k = 25),
        "cap_rank"))
    // the plan property the verdict flagged: no WindowExec sorting
    // whole strata — selection happens in a bounded aggregate
    val p = CorpusMix.weightedSampleBounded(df, "id", "source", "w", k = 25)
      .queryExecution.executedPlan.toString
    assert(!p.contains("Window"),
      s"bounded selection must not plan a window:\n$p")
    assert(p.contains("Aggregate"), s"expected an aggregate plan:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"the O(strata*k) winner relation should broadcast back:\n$p")
  }

  test("capTokensPerStratum respects the budget, is nested, and sums exactly") {
    val s = spark
    import s.implicits._
    // token weights 1..40 per stratum so budgets cut mid-stream
    val df = (0L until 80L).map(i => (i, s"g${i % 2}", i % 40 + 1))
      .toDF("id", "grp", "toks")
    val b100 = CorpusMix.capTokensPerStratum(df, "id", "grp", "toks", 100L)
    val sums = b100.groupBy($"grp").agg(sum($"toks").as("t"), max($"cum_tokens").as("m"))
      .as[(String, Long, Long)].collect()
    assert(sums.nonEmpty)
    sums.foreach { case (_, t, m) =>
      assert(t <= 100L && t == m, "inclusive prefix sum must equal the kept total")
    }
    // every kept row's cum is within budget; the NEXT doc would overflow:
    // adding any dropped doc of that stratum breaks the budget or the order
    val b50 = CorpusMix.capTokensPerStratum(df, "id", "grp", "toks", 50L)
      .select($"id").as[Long].collect().toSet
    val b100ids = b100.select($"id").as[Long].collect().toSet
    assert(b50.subsetOf(b100ids), "budgets must be nested")
    // a budget above the stratum total keeps everything
    assert(CorpusMix.capTokensPerStratum(df, "id", "grp", "toks", 1000000L)
      .count() == 80L)
  }

  test("withEpochs replicates by stratum weight and nests in the weight") {
    val s = spark
    import s.implicits._
    val df = (0L until 4000L).map(i => (i, if (i < 2000) "up" else "down"))
      .toDF("id", "stratum")
    val out = CorpusMix.withEpochs(df, "id", "stratum",
      Map("up" -> 2.5, "down" -> 0.25))
    val counts = out.groupBy($"stratum").agg(count(lit(1)).as("n"))
      .as[(String, Long)].collect().toMap
    // 2000*2.5 = 5000 expected, 2000*0.25 = 500 expected; hash is uniform
    assert(math.abs(counts("up") - 5000L) < 150, s"got ${counts("up")}")
    assert(math.abs(counts("down") - 500L) < 150, s"got ${counts("down")}")
    // every up-row appears at least floor(2.5)=2 times, tagged 0..copies-1
    val perDoc = out.filter($"stratum" === "up")
      .groupBy($"id").agg(count(lit(1)).as("n"), max($"rep").as("mx"))
      .as[(Long, Long, Long)].collect()
    assert(perDoc.forall { case (_, n, mx) => (n == 2 || n == 3) && mx == n - 1 })
    // deterministic under re-execution
    val again = CorpusMix.withEpochs(df, "id", "stratum",
      Map("up" -> 2.5, "down" -> 0.25))
    assert(out.exceptAll(again).isEmpty && again.exceptAll(out).isEmpty)
    // nested: raising a weight only ADDS copies (same salt, higher threshold)
    def keyset(e: Double) =
      CorpusMix.withEpochs(df, "id", "stratum", Map("down" -> e), 0.0)
        .select($"id", $"rep").as[(Long, Long)].collect().toSet
    val (lo, hi) = (keyset(0.25), keyset(1.75))
    assert(lo.subsetOf(hi) && lo.size < hi.size)
    // weight 0 drops the stratum entirely
    assert(CorpusMix.withEpochs(df, "id", "stratum", Map("down" -> 0.0))
      .filter($"stratum" === "down").count() == 0L)
  }

  test("weightedSample: k per stratum, weight-biased, nested in k, deterministic") {
    val s = spark
    import s.implicits._
    // one stratum, 200 docs: ids 0..19 carry weight 50, the rest weight 1
    val df = (0L until 200L).map(i =>
      (i, "s", if (i < 20) 50L else 1L)).toDF("id", "stratum", "w")
    val pick = CorpusMix.weightedSample(df, "id", "stratum", "w", k = 20)
    assert(pick.count() == 20L)
    // heavy ids hold 20*50=1000 of 1180 total weight; expect the
    // sample to be dominated by them (binomial tail makes <10 of 20
    // heavy picks astronomically unlikely)
    val heavy = pick.filter($"id" < 20L).count()
    assert(heavy >= 10L, s"only $heavy of 20 picks were heavy-weight")
    // nested: the k=5 sample is a prefix of the k=20 sample
    val k5 = CorpusMix.weightedSample(df, "id", "stratum", "w", k = 5)
      .select($"id").as[Long].collect().toSet
    val k20 = pick.select($"id").as[Long].collect().toSet
    assert(k5.subsetOf(k20) && k5.size == 5)
    // deterministic under re-execution; ranks are 1..k
    val again = CorpusMix.weightedSample(df, "id", "stratum", "w", k = 20)
    assert(pick.exceptAll(again).isEmpty && again.exceptAll(pick).isEmpty)
    assert(pick.select($"sel_rank").as[Long].collect().sorted.toSeq
      == (1L to 20L))
    // different salts decorrelate: expect some churn in the kept set
    val other = CorpusMix.weightedSample(df, "id", "stratum", "w", k = 20,
      salt = "other").select($"id").as[Long].collect().toSet
    assert(other != k20)
    // zero-weight rows sort LAST (infinite key), deterministically by id
    val z = (0L until 10L).map(i => (i, "z", if (i < 3) 0L else 1L))
      .toDF("id", "stratum", "w")
    val ranks = CorpusMix.weightedSample(z, "id", "stratum", "w", k = 10)
      .select($"id", $"sel_rank").as[(Long, Long)].collect().toMap
    assert(Seq(0L, 1L, 2L).map(ranks) == Seq(8L, 9L, 10L),
      s"zero-weight rows must take the final ranks in id order: $ranks")
  }

  test("datasetCard: cross-stratum dup disclosed in BOTH strata, PII " +
    "staged like t7, q_micro matches the x12 integers") {
    val s = spark
    import s.implicits._
    val docs = Seq(
      // srcA/en: one clean doc, one with an email (PII), one half of a
      // cross-source dup pair
      (1L, "the quick brown fox of the river", "en", "srcA"),
      (2L, "mail bob@example.com today", "en", "srcA"),
      (3L, "syndicated body text", "en", "srcA"),
      // srcB/en: the other dup half, plus a clean doc
      (4L, "syndicated body text", "en", "srcB"),
      (5L, "plain words only here", "en", "srcB"),
      // srcB/de: a stratum with nothing to disclose
      (6L, "nur saubere worte", "de", "srcB"))
      .toDF("doc_id", "text", "lang", "source")
    val got = CorpusMix.datasetCard(docs, "doc_id", "text",
        Seq("source", "lang"))
      .orderBy($"source", $"lang")
      .as[(String, String, Long, Long, Long, Long, Long, Long, Long)]
      .collect().toSeq
    // q_micro cross-check: same integers x12's curriculumOrder computes
    val q = CorpusMix.curriculumOrder(docs, "doc_id", "text")
      .select($"doc", $"q_micro").as[(Long, Long)].collect().toMap
    def meanQ(ids: Long*) = ids.map(q).sum / ids.size
    assert(got == Seq(
      // 7 + 3 + 3 tokens; the dup pair (docs 3/4) counts in BOTH strata
      ("srcA", "en", 3L, 13L, 4L, meanQ(1L, 2L, 3L), 1L, 1L, 333333L),
      ("srcB", "de", 1L, 3L, 3L, meanQ(6L), 0L, 0L, 0L),
      ("srcB", "en", 2L, 7L, 3L, meanQ(4L, 5L), 0L, 1L, 500000L)))
  }
}
