package graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, max}

import graft.operators.{Bpe, CorpusMix, Dedup, DedupIndex, Graph, Lineage, Similarity}

/** [[Lineage]]: every round and scope operator frees what it persisted,
  * keeping at most the one checkpoint its result reads; and the one
  * wave-count rule every waved operator sizes its waves with.
  */
class LineageSpec extends SparkSpecBase {

  private def cacheManager =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager

  /** `call`'s result plus the RDDs it left persisted that were not
    * persisted before it. The CacheManager is cleared first, and the
    * call must leave no entry in it.
    */
  private def leftBehind[T](call: => T): (T, Seq[RDD[_]]) = {
    spark.catalog.clearCache()
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val out = call
    assert(cacheManager.isEmpty, "left a CacheManager entry behind")
    (out, sc.getPersistentRDDs.collect { case (id, r) if !before(id) => r }.toSeq)
  }

  private def describe(rdds: Seq[RDD[_]]): String =
    rdds.map(r => s"${r.id}:${r.getClass.getSimpleName}" +
      s"${if (r.isCheckpointed) "(checkpoint)" else ""}").mkString(", ")

  // two triangles joined by a bridge, plus a pendant node
  private def edges: DataFrame = {
    val s = spark
    import s.implicits._
    Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 5L), (5L, 6L),
      (6L, 4L), (6L, 7L)).toDF("src", "dst")
  }

  private def docs = graft.core.Tables(spark, sf("sf0.001")).documents

  private def tempIndex(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).resolve("idx").toString

  private def storageOperator(name: String, setup: => Unit = ())(op: => DataFrame): Unit =
    test(s"$name leaves at most the one checkpoint its result reads") {
      setup
      val (result, left) = leftBehind(op)
      assert(left.size <= 1, s"$name left ${left.size} persisted RDDs: ${describe(left)}")
      assert(left.forall(_.isCheckpointed),
        s"$name left a cached relation behind: ${describe(left)}")
      // the checkpoint the result reads was not released with the rest
      assert(result.count() > 0)
    }

  storageOperator("g1 pageRank")(Graph.pageRank(edges, iters = 3))
  storageOperator("g1b pageRankConserving")(Graph.pageRankConserving(edges, iters = 3))
  storageOperator("g3 bfsHops")(Graph.bfsHops(edges, source = 1L, iters = 3))
  storageOperator("g4 bellmanFord")(Graph.bellmanFord(
    edges.withColumn("w", (col("src") % 3) + 1), source = 1L, iters = 4))
  storageOperator("g5 kCorePeel")(Graph.kCorePeel(edges, k = 2, rounds = 3))
  storageOperator("g6 labelPropagation")(Graph.labelPropagation(edges, rounds = 3))
  storageOperator("componentsWithRounds")(Dedup.componentsWithRounds(
    edges.select(col("src").as("i"), col("dst").as("j")))._1)

  // scope operators: eager calls whose shared inputs the scope frees
  storageOperator("g2 single-pass triangleCountsAuto")(Graph.triangleCountsAuto(edges))
  storageOperator("g7 modularity")(Graph.modularity(edges,
    edges.select(col("src").as("id"), (col("src") % 2).as("label")).distinct()))
  storageOperator("d11 contaminationReportBloom") {
    val half = docs.agg(max(col("doc_id"))).head.getLong(0) / 2
    Dedup.contaminationReportBloom(docs.filter(col("doc_id") < half),
      docs.filter(col("doc_id") >= half), "doc_id", "text", n = 8)
  }
  storageOperator("x13 datasetCard")(CorpusMix.datasetCard(
    docs, "doc_id", "text", Seq("source")))
  storageOperator("s1 bruteForceTopK breaker path") {
    val emb = graft.core.Tables(spark, sf("sf0.001")).embeddings
    Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 2), k = 1,
      pairBudget = 100000L)
  }
  private lazy val pairIndex = tempIndex("lineage-dedupidx")
  storageOperator("DedupIndex probePairs",
      DedupIndex.build(docs.filter(col("doc_id") < 250), pairIndex)) {
    DedupIndex.probePairs(spark, pairIndex,
      batch = docs.filter(col("doc_id") >= 250), texts = docs)
  }
  private lazy val noveltyIndex = tempIndex("lineage-novidx")
  storageOperator("DedupIndex probeNovelty",
      DedupIndex.buildNovelty(docs.filter(col("doc_id") < 250), noveltyIndex, n = 8)) {
    DedupIndex.probeNovelty(spark, noveltyIndex, docs.filter(col("doc_id") >= 250))
  }

  test("DedupIndex build frees the signatures it shares") {
    val (_, left) = leftBehind(
      DedupIndex.build(docs.filter(col("doc_id") < 250), tempIndex("lineage-build")))
    assert(left.isEmpty, s"DedupIndex.build left ${describe(left)}")
  }

  test("learnMergeList and learnMergeBatchList free every round") {
    val s = spark
    import s.implicits._
    val docs = Seq("low lower lowest", "new newer newest", "slow slower",
      "widest wider wide").toDF("text")
    val (merges, left) = leftBehind(Bpe.learnMergeList(docs, "text", 6))
    assert(merges.size == 6)
    assert(left.isEmpty, s"learnMergeList left ${describe(left)}")
    val (batched, leftB) =
      leftBehind(Bpe.learnMergeBatchList(docs, "text", 6, batchSize = 2))
    assert(batched.size == 6)
    assert(leftB.isEmpty, s"learnMergeBatchList left ${describe(leftB)}")
  }

  test("wave count: 1 up to the ceiling, then ceil(volume / ceiling), " +
    "capped at maxWaves, exact past Long.MaxValue") {
    val big = BigInt(Long.MaxValue)
    val table = Seq(
      // (volume, ceiling, maxWaves, waves)
      (BigInt(0), 10L, 64, 1),
      (BigInt(10), 10L, 64, 1),               // exactly at the ceiling
      (BigInt(11), 10L, 64, 2),               // ceiling + 1
      (BigInt(20), 10L, 64, 2),               // exact multiples
      (BigInt(30), 10L, 64, 3),
      (BigInt(21), 10L, 64, 3),
      (BigInt(640), 10L, 64, 64),             // exactly the cap
      (BigInt(641), 10L, 64, 64),             // capped
      (BigInt(10).pow(30), 10L, 64, 64),
      (big + 1, Long.MaxValue, 64, 2),        // volume past Long.MaxValue
      (big * 3, Long.MaxValue, 64, 3),
      (big * 3, 1L, Int.MaxValue, Int.MaxValue))
    for ((volume, ceiling, maxWaves, want) <- table)
      assert(Lineage.waves(volume, ceiling, maxWaves) == want,
        s"waves($volume, $ceiling, $maxWaves)")
    intercept[IllegalArgumentException](Lineage.waves(BigInt(1), 0L, 64))
    intercept[IllegalArgumentException](Lineage.waves(BigInt(1), 10L, 0))
  }
}
