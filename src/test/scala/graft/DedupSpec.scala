package graft

import org.apache.spark.sql.functions._

import graft.operators.Dedup

class DedupSpec extends SparkSpecBase {

  private def docs = graft.core.Tables(spark, sf("sf0.001")).documents

  test("exact dedup collapses planted duplicate texts") {
    val s = spark
    import s.implicits._
    val dup = docs.limit(3).select(($"doc_id" + 10000).as("doc_id"),
      $"text", $"lang", $"source", $"n_chars")
    val result = Dedup.exact(docs.union(dup), "doc_id", "text")
    assert(result.filter($"n_copies" === 2).count() == 3)
    // canonical representative is the smallest id
    val keep = result.filter($"n_copies" === 2)
      .agg(max($"keep_id")).head.getLong(0)
    assert(keep < 10000)
  }

  test("MinHash+LSH finds exactly the exact-Jaccard near-dup pairs") {
    val exact = Dedup.ngramJaccardPairs(docs, "doc_id", "text", threshold = 0.8)
      .select("i", "j").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.minhashLshPairs(docs, "doc_id", "text", threshold = 0.8)
      .select("i", "j").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh.subsetOf(exact), "LSH must not produce false positives (exact-verified)")
    assert(lsh == exact,
      s"LSH missed ${exact.diff(lsh).size} of ${exact.size} true pairs")
  }

  test("containment flags subset duplication Jaccard misses; superset of the Jaccard answer") {
    val s = spark
    import s.implicits._
    // a short doc that is a verbatim prefix of a long one: containment
    // 1.0 by construction, Jaccard ≈ |A|/|B| — far below any threshold
    val longWords = (1 to 60).map(i => s"w$i").mkString(" ")
    val shortWords = (1 to 12).map(i => s"w$i").mkString(" ")
    val pair = Seq((1L, longWords), (2L, shortWords)).toDF("doc_id", "text")
    val cont = Dedup.containmentPairs(pair, "doc_id", "text", threshold = 0.9)
      .collect()
    assert(cont.length == 1 && cont.head.getLong(0) == 1L &&
      cont.head.getLong(1) == 2L && cont.head.getDouble(2) == 1.0,
      s"prefix subset must score containment 1.0: ${cont.mkString(",")}")
    assert(Dedup.ngramJaccardPairs(pair, "doc_id", "text", threshold = 0.5)
      .collect().isEmpty, "Jaccard must NOT flag the asymmetric pair")
    // same core, weaker denominator: containment pairs ⊇ Jaccard pairs
    // at equal threshold on the real corpus
    val jac = Dedup.ngramJaccardPairs(docs, "doc_id", "text", threshold = 0.8)
      .select("i", "j").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val con = Dedup.containmentPairs(docs, "doc_id", "text", threshold = 0.8)
      .select("i", "j").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(jac.nonEmpty && jac.subsetOf(con),
      s"containment must cover the Jaccard answer; missing ${jac.diff(con).size}")
  }

  test("ngramNovelty: first owner wins, duplicates score 0, short docs emit zeros") {
    val s = spark
    import s.implicits._
    val ten = (1 to 10).map(i => s"w$i").mkString(" ")     // grams w1-8,w2-9,w3-10
    val nine = (1 to 8).map(i => s"w$i").mkString(" ") + " x" // w1-8 (owned by 1), w2-8+x
    val fixture = Seq(1L -> ten, 2L -> ten, 3L -> nine, 4L -> "a b c")
      .toDF("doc_id", "text")
    val rows = Dedup.ngramNovelty(fixture, "doc_id", "text", n = 8)
      .orderBy(col("doc"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.toSeq == Seq(
      (1L, 3L, 3L, 1000000L),  // introduces everything
      (2L, 3L, 0L, 0L),        // exact duplicate: nothing new
      (3L, 2L, 1L, 500000L),   // shares one gram with doc 1
      (4L, 0L, 0L, 0L)))       // < 8 words: explicit zero row
  }

  test("SimHash finds the very-high-similarity pairs and reports true Hamming") {
    val sim = Dedup.simhashBlockPairs(
        Dedup.simhashFingerprints(docs, "doc_id", "text"), maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(sim.nonEmpty, "testdata plants near-dups; SimHash should find some")
    assert(sim.forall(_._3 <= 3))
    // SimHash measures token-multiset similarity, so it can legitimately
    // pair tiny-vocab docs that are not SHINGLE-similar — but pairs that
    // are nearly identical under 3-gram Jaccard must also collide here
    val nearIdentical = Dedup.ngramJaccardPairs(docs, "doc_id", "text", threshold = 0.97)
      .select("i", "j").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val simPairs = sim.map(t => (t._1, t._2)).toSet
    assert(nearIdentical.nonEmpty)
    val found = nearIdentical.count(simPairs.contains)
    assert(found >= (nearIdentical.size * 0.7).toInt,
      s"SimHash found only $found of ${nearIdentical.size} near-identical pairs")
  }

  test("portable SimHash (md5 token hash) has the same operator invariants " +
    "as the xxhash64 form, on different fingerprint bits") {
    // The d4 catalog row runs this variant so DuckDB can recompute the
    // fingerprints; the full pair-set equality IS the driver oracle —
    // here we assert the operator-level invariants hold for it too.
    val sim = Dedup.simhashPairsPortable(docs, "doc_id", "text", maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(sim.nonEmpty)
    assert(sim.forall(_._3 <= 3))
    val nearIdentical = Dedup.ngramJaccardPairs(docs, "doc_id", "text", threshold = 0.97)
      .select("i", "j").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val simPairs = sim.map(t => (t._1, t._2)).toSet
    val found = nearIdentical.count(simPairs.contains)
    assert(found >= (nearIdentical.size * 0.7).toInt,
      s"portable SimHash found only $found of ${nearIdentical.size} near-identical pairs")
  }

  test("dropExactDuplicates keeps one row per content, pruneNearDuplicates drops the larger id") {
    val s = spark
    import s.implicits._
    val base = Seq(
      (1L, "alpha beta gamma delta"), (2L, "alpha beta gamma delta"), // exact dup
      (3L, "unrelated text entirely here")).toDF("doc_id", "text")
    val exactKept = Dedup.dropExactDuplicates(base, "doc_id", "text")
    assert(exactKept.select("doc_id").as[Long].collect().sorted.toSeq == Seq(1L, 3L))

    val pairs = Seq((1L, 3L)).toDF("i", "j")
    val pruned = Dedup.pruneNearDuplicates(exactKept, "doc_id", pairs)
    assert(pruned.select("doc_id").as[Long].collect().toSeq == Seq(1L))
  }

  test("d3 equals d2 on a corpus WITH hot shingles (maxDf semantics " +
    "actually exercised — the testdata has no df>maxDf shingles)") {
    val s = spark
    import s.implicits._
    // 120 docs all containing the phrase "common hot phrase" (its
    // shingle has df=122 > maxDf=20), plus one near-dup pair that ALSO
    // shares the hot shingle. The discriminating case: both engines
    // must exclude the hot shingle from the intersection but not the
    // set sizes, giving jaccard 10/12 ≈ 0.8333 — a naive full-set
    // verification in d3 would report 1.0 and diverge from d2.
    val docs = ((0 until 120).map { i =>
      val tail = Seq.tabulate(12)(k => s"w${i}x$k").mkString(" ")
      (i.toLong, s"common hot phrase $tail")
    } ++ Seq(
      (1000L, "x1 x2 x3 x4 x5 x6 x7 x8 x9 x10 common hot phrase"),
      (1001L, "x1 x2 x3 x4 x5 x6 x7 x8 x9 x10 common hot phrase")))
      .toDF("doc_id", "text")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select($"i", $"j", $"jaccard").as[(Long, Long, Double)]
        .collect().sortBy(r => (r._1, r._2)).toSeq
    val d2 = rows(Dedup.ngramJaccardPairs(docs, "doc_id", "text",
      n = 3, threshold = 0.8, maxDf = 20))
    val d3 = rows(Dedup.minhashLshPairs(docs, "doc_id", "text",
      n = 3, bands = 16, rows = 8, threshold = 0.8, maxDf = 20))
    assert(d2 == Seq((1000L, 1001L, 0.833333)), s"d2 gave $d2")
    assert(d3 == d2, s"d3 $d3 != d2 $d2")
  }

  test("contaminationReport flags exactly the overlapping docs") {
    val s = spark
    import s.implicits._
    val train = Seq(
      (1L, "one two three four five six seven eight nine ten"), // shares 8-gram w/ eval 100
      (2L, "alpha beta gamma delta epsilon zeta eta theta iota"), // shares w/ eval 101
      (3L, "totally unrelated words about nothing at all here now"),
      (4L, "short doc")) // < 8 words: no shingles, never flagged
      .toDF("doc_id", "text")
    val eval = Seq(
      (100L, "zero one two three four five six seven eight done"),
      (101L, "alpha beta gamma delta epsilon zeta eta theta iota"),
      (102L, "some other benchmark text with its own eight grams inside"))
      .toDF("doc_id", "text")
    val report = Dedup.contaminationReport(train, eval, "doc_id", "text", n = 8)
      .orderBy($"doc").as[(Long, Long, Long)].collect().toSeq
    // doc 1: "one..eight" window shared (2 alignments in train x 1 in
    // eval intersect on one 8-gram); doc 2: identical 9-word doc -> two
    // shared 8-grams, one eval doc each
    assert(report.map(_._1) == Seq(1L, 2L))
    assert(report(0) == ((1L, 1L, 1L)))
    assert(report(1) == ((2L, 2L, 1L)))
  }

  test("bloom decontamination equals the broadcast report, even at fpp=0.5") {
    val half = docs.agg(max(col("doc_id"))).head.getLong(0) / 2
    val train = docs.filter(col("doc_id") < half)
    val eval = docs.filter(col("doc_id") >= half)
    val exact = Dedup.contaminationReport(train, eval, "doc_id", "text", n = 8)
      .orderBy("doc").collect().toSeq
    // fpp=0.5 guarantees bloom false positives stream into the verify
    // join; the exact join must strip every one of them
    for (fpp <- Seq(0.01, 0.5)) {
      val bloom = Dedup.contaminationReportBloom(
          train, eval, "doc_id", "text", n = 8, fpp = fpp)
        .orderBy("doc").collect().toSeq
      assert(bloom == exact, s"bloom path diverged at fpp=$fpp")
    }
  }

  test("connectedComponents labels transitive chains with the component min") {
    val s = spark
    import s.implicits._
    // a 4-chain (needs 3 propagation rounds: the min travels one hop
    // per round), a disjoint pair, and a triangle with a redundant edge
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L),
      (20L, 21L), (21L, 22L), (20L, 22L)).toDF("i", "j")
    val got = Dedup.connectedComponents(pairs)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 20L -> 20L, 21L -> 20L, 22L -> 20L))
  }

  test("pointer jumping closes a 256-chain in O(log n) rounds, labels exact") {
    val s = spark
    import s.implicits._
    // the adversarial shape for plain min-label propagation: one long
    // chain, where the min would travel ONE hop per round (256 rounds).
    // Path doubling must close it in ~log2(256)=8 rounds; the budget
    // leaves slack for the final no-change round and rounding, but is
    // far below linear, so a lost jump join fails this immediately.
    val n = 256L
    val pairs = (0L until n - 1).map(i => (i, i + 1)).toDF("i", "j")
    val (labels, rounds) = Dedup.componentsWithRounds(pairs)
    val got = labels.as[(Long, Long)].collect()
    assert(got.length == n)
    assert(got.forall(_._2 == 0L),
      s"chain must collapse to component min 0: ${got.filter(_._2 != 0L).take(3).toSeq}")
    assert(rounds <= 12, s"a 256-chain must close in O(log n) rounds, took $rounds")
  }

  test("normalized decontamination catches markup/case variants d7 is blind to") {
    val s = spark
    import s.implicits._
    val train = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again tonight"),
      (2L, "completely unrelated text with no overlap at all here today"))
      .toDF("doc_id", "text")
    // eval doc 10: train doc 1 re-hosted — Title Case + markup wrap +
    // an &amp; entity; not one verbatim 8-gram survives
    val eval = Seq(
      (10L, "<p>The Quick Brown Fox Jumps Over The Lazy Dog Again Tonight</p> &amp;"),
      (11L, "some other eval question nothing shares these words either okay"))
      .toDF("doc_id", "text")
    val verbatim = Dedup.contaminationReport(train, eval, "doc_id", "text")
      .collect()
    assert(verbatim.isEmpty, "verbatim matching must miss the re-hosted copy")
    val got = Dedup.contaminationReportNormalized(train, eval,
        "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // normalized doc 1 has 11 words -> 4 shared 8-grams with its variant
    assert(got.toSeq == Seq((1L, 4L, 1L)))
  }

  test("normalized decontamination equals d7 on already-normal text") {
    val train = docs.filter(col("doc_id") < 100)
    val eval = docs.filter(col("doc_id") >= 450)
    val a = Dedup.contaminationReport(train, eval, "doc_id", "text")
      .orderBy(col("doc")).collect().toSeq
    val b = Dedup.contaminationReportNormalized(train, eval, "doc_id", "text")
      .orderBy(col("doc")).collect().toSeq
    // the corpus is all-ASCII lowercase with no markup: normalization
    // is the identity there, so the reports must coincide
    assert(a == b)
  }

  test("shingles produces L-n+1 distinct shingles for distinct-token docs") {
    val s = spark
    import s.implicits._
    val one = Seq((1L, "a b c d e")).toDF("doc_id", "text")
    val sh = Dedup.shingles(one, "doc_id", "text", 3).as[(Long, String)].collect()
    assert(sh.map(_._2).sorted.toSeq == Seq("a b c", "b c d", "c d e"))
    // shorter than n: no shingles (the sequence() guard)
    val short = Seq((2L, "x y")).toDF("doc_id", "text")
    assert(Dedup.shingles(short, "doc_id", "text", 3).count() == 0)
  }

  test("minhashCalibration: identical docs certify K/K; differential vs " +
    "in-memory md5 signatures") {
    val s = spark
    import s.implicits._
    val textA = "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w11 w12"
    val textB = textA + " w13 w14" // 10 vs 12 shingles shared 10: j = 5/6
    val df = Seq((1L, textA), (2L, textA), (3L, textB),
      (4L, "totally different words live here now")).toDF("doc_id", "text")
    val got = Dedup.minhashCalibration(df, "doc_id", "text",
        n = 3, numHashes = 16, thresholdPpm = 800000L, maxDf = 100)
      .orderBy($"i", $"j")
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSeq

    // in-memory reference: same md5-hex shingle identity, same fixed
    // (a, b) family, same integral ppm arithmetic
    val p = 2147483647L
    val params = Dedup.minhashParams(16)
    def shingleSet(t: String): Set[String] =
      t.split("\\s+").filter(_.nonEmpty).sliding(3).filter(_.size == 3)
        .map(_.mkString(" ")).toSet
    def md5x(sv: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(sv.getBytes("UTF-8"))
      val hex = d.map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.substring(0, 8), 16) % p
    }
    def sig(t: String): Seq[Long] = {
      val xs = shingleSet(t).map(md5x)
      params.map { case (a, b) => xs.map(x => (x * a + b) % p).min }
    }
    val texts = Map(1L -> textA, 2L -> textA, 3L -> textB)
    val ref = for {
      i <- Seq(1L, 2L); j <- Seq(2L, 3L) if i < j
      si = shingleSet(texts(i)); sj = shingleSet(texts(j))
      c = (si & sj).size; jac = c * 1000000L / (si.size + sj.size - c)
      if jac >= 800000L
    } yield {
      val m = sig(texts(i)).zip(sig(texts(j))).count { case (x, y) => x == y }
      val est = m * 1000000L / 16
      (i, j, jac, m.toLong, est, math.abs(jac - est))
    }
    assert(got == ref.sortBy(r => (r._1, r._2)))
    // the exact-duplicate pair is the estimator's fixed point: 16/16
    val dup = got.find(r => r._1 == 1L && r._2 == 2L).get
    assert(dup._3 == 1000000L && dup._4 == 16L && dup._6 == 0L)
    // and a genuinely partial pair survived, or the test is vacuous
    assert(got.exists(r => r._4 < 16L))
  }

  test("shingle co-occurrence circuit breaker: a co-occurring corpus " +
    "trips the candidate budget BEFORE the self-join; the volume " +
    "prediction is exact") {
    val s = spark
    import s.implicits._
    // 30 docs sharing one identical text → every shingle has df=30 →
    // C(30,2)=435 candidate pairs per shingle
    val docs = (1L to 30L).map(i => (i, "alpha beta gamma delta epsilon"))
      .toDF("doc_id", "text")
    val ex = intercept[IllegalStateException] {
      Dedup.ngramJaccardPairs(docs, "doc_id", "text", n = 3,
        threshold = 0.8, maxDf = 100, candidateBudget = 10L)
    }
    assert(ex.getMessage.contains("candidateBudget"))
    assert(ex.getMessage.contains("minhashLshPairs"))
    // 3 shingles/doc × C(30,2) = 1305 predicted candidates
    assert(ex.getMessage.contains("1305"))
    // in-budget: same corpus passes and still finds the full clique
    val ok = Dedup.containmentPairs(docs, "doc_id", "text", n = 3,
      threshold = 0.8, maxDf = 100, candidateBudget = 2000L)
    assert(ok.count() == 435L)
  }
}
