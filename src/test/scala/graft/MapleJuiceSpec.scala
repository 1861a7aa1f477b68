package graft

import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.functions._
import org.apache.spark.util.LongAccumulator

import graft.mapreduce._

/** Differential tests for the Maple/Juice surface — the comparison the
  * reference itself runs between MapleJuice and Hadoop Streaming
  * (`mp3/src/hadoop_*`): the API forms must agree with the pure
  * DataFrame forms and with each other under both partitioners.
  */
class MapleJuiceSpec extends SparkSpecBase {

  private def lines = {
    val s = spark
    import s.implicits._
    graft.core.Tables(s, sf("sf0.001")).documents.select($"text").as[String]
  }

  private def dataframeWordcount: Map[String, Long] = {
    val s = spark
    import s.implicits._
    graft.core.Tables(s, sf("sf0.001")).documents
      .select(explode(split($"text", "\\s+")).as("w"))
      .filter($"w" =!= "")
      .groupBy($"w").count()
      .as[(String, Long)].collect().toMap
  }

  test("hash-partitioned MapleJuice wordcount matches the DataFrame form") {
    val got = MapleJuiceJob
      .run(lines, Workloads.WordCountMaple, Workloads.WordCountJuice, 4, HashPartition)
      .collect().map { case (k, v) => k -> v.toLong }.toMap
    assert(got == dataframeWordcount)
  }

  test("range-partitioned MapleJuice wordcount matches the DataFrame form") {
    val got = MapleJuiceJob
      .run(lines, Workloads.WordCountMaple, Workloads.WordCountJuice, 4, RangePartition)
      .collect().map { case (k, v) => k -> v.toLong }.toMap
    assert(got == dataframeWordcount)
  }

  test("range partitioning yields disjoint, contiguous key ranges") {
    val s = spark
    import s.implicits._
    val kv = lines.flatMap(Workloads.WordCountMaple.maple(_))
      .repartitionByRange(4, col("_1"))
    val ranges = kv.rdd
      .mapPartitionsWithIndex { (p, it) =>
        val ks = it.map(_._1).toSeq
        if (ks.isEmpty) Iterator.empty
        else Iterator((p, ks.min, ks.max))
      }.collect().sortBy(_._1)
    ranges.sliding(2).foreach {
      case Array((_, _, prevMax), (_, nextMin, _)) =>
        assert(prevMax <= nextMin, s"overlapping ranges: $prevMax > $nextMin")
      case _ =>
    }
  }

  test("hash partitioning co-locates every key in exactly one partition") {
    val s = spark
    import s.implicits._
    val kv = lines.flatMap(Workloads.WordCountMaple.maple(_))
      .repartition(4, col("_1"))
    val partsPerKey = kv.rdd
      .mapPartitionsWithIndex((p, it) => it.map(kvp => (kvp._1, p)))
      .distinct().collect().groupBy(_._1).view.mapValues(_.length)
    assert(partsPerKey.values.forall(_ == 1))
  }

  test("pipe runner reproduces wordcount through shell executables") {
    val mapper = Seq("awk", "{for(i=1;i<=NF;i++) print $i\",1\"}")
    // key-grouped sum over sorted k\tv lines (Hadoop Streaming reducer)
    val reducer = Seq("awk", "-F", "\t",
      "{ if ($1 != k && NR > 1) { print k\"\\t\"c }; if ($1 != k) { k=$1; c=0 }; c+=$2 } END { if (NR > 0) print k\"\\t\"c }")
    val got = MapleJuiceJob.runPipe(lines, mapper, reducer, 4)
      .collect().map { case (k, v) => k -> v.toLong }.toMap
    assert(got == dataframeWordcount)
  }

  test("wine workload through the API matches the DataFrame form") {
    val s = spark
    import s.implicits._
    val docs = graft.core.Tables(s, sf("sf0.001")).documents
    val csvLines = docs
      .select(concat_ws(",", $"lang", $"source", $"text")).as[String]
    val api = MapleJuiceJob
      .run(csvLines, Workloads.WineMaple, Workloads.WordCountJuice, 4)
      .collect().map { case (k, v) => k -> v.toLong }.toMap
    val df = docs.filter($"lang" === "en")
      .select($"source", explode(split($"text", "\\s+")).as("w"))
      .filter($"w" === "hash")
      .groupBy($"source").count()
      .as[(String, Long)].collect().toMap
    assert(api == df)
  }

  test("two-phase Condorcet through the API finds the planted winner") {
    val s = spark
    import s.implicits._
    // 3 candidates a,b,c: a beats b (2/3), a beats c (2/3), b beats c (2/3)
    val ballots = Seq("a,b,c", "a,c,b", "b,c,a").toDS()
    val phase1 = MapleJuiceJob.run(ballots,
      Workloads.CondorcetMaple1, Workloads.CondorcetJuice1, 2)
    val pairLines = phase1.map { case (k, _) => k }
    val phase2 = MapleJuiceJob.run(pairLines,
      Workloads.CondorcetMaple2, new Workloads.CondorcetJuice2(3), 1)
      .collect().toMap
    assert(phase2("a") == "2,condorcet_winner")
    assert(phase2("b") == "1,loser")
    assert(!phase2.contains("c")) // zero pairwise wins, like the reference
  }

  test("compat Condorcet juice reproduces the reference's exact output strings") {
    val s = spark
    import s.implicits._
    def phase2(ballots: Seq[String]): Map[String, String] = {
      val p1 = MapleJuiceJob.run(ballots.toDS(),
        Workloads.CondorcetMaple1, Workloads.CondorcetJuice1, 2)
      MapleJuiceJob.run(p1.map(_._1),
        Workloads.CondorcetMaple2, new Workloads.CondorcetJuice2Compat(3), 1)
        .collect().toMap
    }
    // candidate 0 beats 1 and 2; 1 beats 2 → 0 is the Condorcet winner
    assert(phase2(Seq("0,1,2", "0,2,1", "1,0,2")) ==
      Map("0" -> " is the condorcet winner!"))
    // rock-paper-scissors cycle → trailing-comma max-win set, no winner
    assert(phase2(Seq("0,1,2", "1,2,0", "2,0,1")) ==
      Map("0,1,2," -> " have the highest condorcet counts, no winner."))
  }

  /** Multiplicity of every (key, value) pair, the invariant the
    * map-side combine must keep.
    */
  private def multiplicities(pairs: Seq[(String, String)]): Map[(String, String), Long] =
    pairs.groupMapReduce(identity)(_ => 1L)(_ + _)

  private def summed(out: Seq[(String, String, Long)]): Map[(String, String), Long] =
    out.groupMapReduce(r => (r._1, r._2))(_._3)(_ + _)

  test("combine: per-pair counts sum to the input's multiplicities") {
    val rnd = new scala.util.Random(7)
    val pairs = Seq.fill(5000)((s"k${rnd.nextInt(6)}", s"${rnd.nextInt(3)}"))
    for (cap <- Seq(1, 2, 8, 32, 1 << 10)) {
      val out = MapleJuiceJob.combine(pairs.iterator, cap).toSeq
      assert(out.forall(_._3 > 0), s"cap $cap")
      assert(out.map(_._3).sum == pairs.size, s"cap $cap")
      assert(summed(out) == multiplicities(pairs), s"cap $cap")
      if (cap >= 18) assert(out.size == 18, s"cap $cap: one record per distinct pair")
    }
  }

  test("combine: a pair split by a flush still sums to its multiplicity") {
    // cap 2: the buffer flushes as "b" arrives, so b's run spans two flushes
    val pairs = Seq.fill(10)(("a", "1")) ++ Seq.fill(10)(("b", "1")) ++ Seq.fill(10)(("c", "1"))
    val out = MapleJuiceJob.combine(pairs.iterator, cap = 2).toSeq
    assert(out.count(_._1 == "b") == 2, s"b must cross a flush: $out")
    assert(summed(out) == multiplicities(pairs))
  }

  /** Heavy-duplicate pairs (5 keys x 2 values) interleaved with distinct
    * values under the same keys and with distinct keys, in 3 input
    * partitions.
    */
  private def mixedLines = {
    val s = spark
    import s.implicits._
    s.sparkContext.parallelize((0 until 3000).map { i =>
      s"h${i % 5}=${i % 2} h${i % 5}=${i % 2} h${i % 3}=d$i c$i=z"
    }, 3).toDS()
  }

  private lazy val rawGroups: Map[String, Seq[String]] = {
    val s = spark
    import s.implicits._
    mixedLines.flatMap(MapleJuiceSpec.PairMaple.maple(_))
      .groupBy($"_1").agg(collect_list($"_2"))
      .as[(String, Seq[String])].collect()
      .map { case (k, vs) => k -> vs.sorted }.toMap
  }

  for ((strategy, n) <- Seq((HashPartition, 1), (HashPartition, 3),
                            (RangePartition, 1), (RangePartition, 3))) {
    test(s"combined $strategy x $n hands each Juice the raw value multiset") {
      val got = MapleJuiceJob
        .run(mixedLines, MapleJuiceSpec.PairMaple, MapleJuiceSpec.RecordingJuice, n, strategy)
        .collect()
      assert(got.map(_._1).distinct.length == got.length, "one Juice call per key")
      assert(got.map { case (k, vs) => k -> vs.split('|').toSeq }.toMap == rawGroups)
    }

    test(s"$strategy x $n maples each input line exactly once") {
      val calls = spark.sparkContext.longAccumulator
      MapleJuiceJob
        .run(mixedLines, new MapleJuiceSpec.CountingMaple(calls),
          MapleJuiceSpec.RecordingJuice, n, strategy)
        .collect()
      assert(calls.sum == 3000, s"${calls.sum} Maple calls over 3000 lines")
    }
  }

  test("the range path's shared Maple output is one CacheManager entry " +
    "until clearCache()") {
    val cacheManager = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager
    val sc = spark.sparkContext
    def cachedRdds = sc.getPersistentRDDs.values.filterNot(_.isCheckpointed).toSeq
    spark.catalog.clearCache()
    MapleJuiceJob
      .run(mixedLines, MapleJuiceSpec.PairMaple, MapleJuiceSpec.RecordingJuice, 3, HashPartition)
      .collect()
    assert(cacheManager.isEmpty, "the hash path shares nothing")
    val before = cachedRdds.map(_.id).toSet
    def added = cachedRdds.filterNot(r => before(r.id))
    val range = MapleJuiceJob
      .run(mixedLines, MapleJuiceSpec.PairMaple, MapleJuiceSpec.RecordingJuice, 3, RangePartition)
    range.collect()
    val shared = range.queryExecution.withCachedData.collect {
      case r: InMemoryRelation => r.cacheBuilder
    }.distinct
    assert(shared.size == 1, s"${shared.size} cached relations in the range plan")
    assert(!cacheManager.isEmpty)
    assert(added.size == 1, added.mkString(", "))
    spark.catalog.clearCache()
    assert(cacheManager.isEmpty)
    assert(added.isEmpty, added.mkString(", "))
  }

  test("a Juice that reads one value per run still emits one row per key") {
    val want = rawGroups
    for (strategy <- Seq(HashPartition, RangePartition)) {
      val got = MapleJuiceJob
        .run(mixedLines, MapleJuiceSpec.PairMaple, MapleJuiceSpec.FirstValueJuice, 3, strategy)
        .collect()
      assert(got.map(_._1).sorted.toSeq == want.keys.toSeq.sorted, s"$strategy")
      got.foreach { case (k, v) => assert(want(k).contains(v), s"$strategy: $k -> $v") }
    }
  }

  test("writeTsv emits k<TAB>v lines") {
    val s = spark
    import s.implicits._
    val out = java.nio.file.Files.createTempDirectory("graft-tsv").toString
    MapleJuiceJob.writeTsv(Seq(("k1", "v1"), ("k2", "v2")).toDS(), out, coalesce1 = true)
    val lines = spark.read.textFile(out).collect().sorted
    assert(lines.toSeq == Seq("k1\tv1", "k2\tv2"))
  }
}

object MapleJuiceSpec {
  /** `k=v` tokens to `(k, v)` pairs. */
  object PairMaple extends Maple {
    def maple(line: String): IterableOnce[(String, String)] =
      line.split(" ").iterator.map { t =>
        val i = t.indexOf('=')
        (t.substring(0, i), t.substring(i + 1))
      }
  }

  /** [[PairMaple]] that adds one to `calls` per input line. */
  final class CountingMaple(calls: LongAccumulator) extends Maple {
    def maple(line: String): IterableOnce[(String, String)] = {
      calls.add(1)
      PairMaple.maple(line)
    }
  }

  /** Every value the key received, sorted and `|`-joined. */
  object RecordingJuice extends Juice {
    def juice(key: String, values: Iterator[String]): IterableOnce[(String, String)] =
      Iterator((key, values.toSeq.sorted.mkString("|")))
  }

  /** Reads only the first value, leaving the rest of the run unconsumed. */
  object FirstValueJuice extends Juice {
    def juice(key: String, values: Iterator[String]): IterableOnce[(String, String)] =
      Iterator((key, values.next()))
  }
}
