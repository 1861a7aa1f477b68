package graft

import graft.mapreduce.{MapleJuiceJob, Workloads}
import graft.sources.Generators

/** The reference's own end-to-end oracle: the Hadoop golden output
  * `output/part-00000` is the wordcount of `gen_file.py`'s sentence
  * repeated 2·2^20 times. We verify (a) our engine reproduces the
  * closed-form counts on a tractable n, and (b) the closed form itself
  * reproduces the reference's golden numbers at n = 2^21.
  */
class GeneratorsSpec extends SparkSpecBase {

  private val sentence =
    "This is a test file to test word count and see how many words it can count"

  /** Closed-form wordcount of `Generators.repeatedSentence(sentence, n)`:
    * the first word stands alone only in copy 1, the last word only in
    * copy n, interior words appear n times, and the merged
    * `last+first` token appears n−1 times.
    */
  private def repeatedSentenceCounts(sentence: String, n: Long): Map[String, Long] = {
    val ws = sentence.trim.split("\\s+").toSeq
    require(ws.size >= 2 && n >= 1)
    val (first, last) = (ws.head, ws.last)
    val merged = last + first
    val base = scala.collection.mutable.Map.empty[String, Long]
    def add(w: String, c: Long): Unit = base(w) = base.getOrElse(w, 0L) + c
    ws.tail.init.foreach(add(_, n)) // interior words: every copy
    add(first, 1); add(last, 1)
    if (n > 1) add(merged, n - 1)
    base.toMap
  }

  test("engine wordcount over the blowup input matches the closed form") {
    val s = spark
    import s.implicits._
    val n = 512
    val lines = Seq(Generators.repeatedSentence(sentence, n)).toDS()
    val got = MapleJuiceJob
      .run(lines, Workloads.WordCountMaple, Workloads.WordCountJuice, 4)
      .collect().map { case (k, v) => k -> v.toLong }.toMap
    assert(got == repeatedSentenceCounts(sentence, n))
  }

  test("closed form reproduces the reference golden output at n = 2*2^20") {
    // Parse the actual Hadoop wordcount golden file (read-only
    // reference artifact) rather than a hard-coded copy that can drift.
    val golden = java.nio.file.Paths.get("/root/reference/output/part-00000")
    assume(java.nio.file.Files.isReadable(golden),
      "reference golden output not present in this environment")
    val expected = scala.jdk.CollectionConverters
      .ListHasAsScala(java.nio.file.Files.readAllLines(golden)).asScala
      .filter(_.nonEmpty)
      .map { line =>
        val Array(w, c) = line.split("\t", 2)
        w -> c.toLong
      }.toMap
    val n = 2L * (1L << 20)
    assert(repeatedSentenceCounts(sentence, n) == expected)
  }

  test("ballot generator is deterministic and partitioning-independent") {
    val a = Generators.ballots(spark, 100, Seq("a", "b", "c", "d"), seed = 7)
      .collect().toSeq
    val b = Generators.ballots(spark, 100, Seq("a", "b", "c", "d"), seed = 7)
      .repartition(7).collect().toSeq
    assert(a.toSet == b.toSet && a.size == 100)
    assert(a.forall(_.split(",").sorted.toSeq == Seq("a", "b", "c", "d")))
  }
}
