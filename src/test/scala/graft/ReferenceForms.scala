package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.operators.{CorpusMix, Similarity}
import graft.streaming.StreamingDedup

/** The composed and window reference forms of the engine's native and
  * bounded operators. Nothing in `src/main` runs them; specs compare
  * the shipped form against its twin here.
  */
object ReferenceForms {

  /** The per-call form of [[graft.mapreduce.Workloads.CondorcetMaple1]]:
    * a fresh key string and tuple for every candidate pair of the
    * ballot (CondorcetMaple1Spec asserts the same sequence).
    */
  def condorcetMaple1Pairs(line: String): Iterator[(String, String)] = {
    val ranked = line.split(",").iterator.map(_.trim).filter(_.nonEmpty).toVector
    for {
      i <- ranked.indices.iterator
      j <- (i + 1) until ranked.size
    } yield {
      val (a, b) = (ranked(i), ranked(j))
      if (a < b) (s"($a $b)", "1") else (s"($b $a)", "0")
    }
  }

  /** The composed-HOF dot, the twin of the native `array_dot`
    * (ArrayDotSpec asserts equality).
    */
  def dotComposed(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, v) => acc + v)

  /** The composed-expression twin of [[Similarity.lshBuckets]]
    * (LshSigSpec asserts bucket equality). Not for a hot path: the
    * per-table OR-chain unrolls tables·bits expression nodes, and past
    * ~200 sign bits the generated method trips janino's 64KB limit and
    * the stage falls back to interpreted eval (measured 12s vs 0.5s on
    * s3's 24×14 config).
    */
  def lshBucketsComposed(vecs: DataFrame, dim: Int, tables: Int, bits: Int,
                         idCol: String = "vec_id",
                         vecCol: String = "embedding"): DataFrame = {
    val planes = typedLit(Similarity.hyperplanes(dim, tables, bits))
    val sig = transform(planes, p => Similarity.dot(col("v"), p) > 0)
    val buckets = (0 until tables).map { t =>
      val packed = (0 until bits).map { i =>
        when(element_at(col("sig"), t * bits + i + 1), lit(1L << i)).otherwise(0L)
      }.reduce(_.bitwiseOR(_))
      struct(lit(t).as("tbl"), packed.as("bucket"))
    }
    vecs.select(col(idCol).as("id"), col(vecCol).cast("array<double>").as("v"))
      .withColumn("sig", sig)
      .select(col("id"), col("v"), explode(array(buckets: _*)).as("bk"))
      .select(col("id"), col("v"), col("bk.tbl").as("tbl"), col("bk.bucket").as("bucket"))
  }

  /** The composed HOF form of [[StreamingDedup.withSimhash]]: 64
    * independent `aggregate()` folds over the token-hash array —
    * O(64·tokens) interpreted expression evals per row
    * (StreamingDedupSpec asserts bit-equality).
    */
  def withSimhashComposed(docs: DataFrame, textCol: String): DataFrame = {
    val fp = (0 until 64).map { i =>
      val vote = aggregate(col("__hs"), lit(0),
        (acc, h) => acc + when(shiftright(h, i).bitwiseAND(1) === 1, 1).otherwise(-1))
      when(vote > 0, shiftleft(lit(1L), i)).otherwise(0L)
    }.reduce(_.bitwiseOR(_))
    StreamingDedup.withTokenHashes(docs, textCol)
      .withColumn("fp", fp)
      .drop("__toks", "__hs")
  }

  /** The window twin of [[graft.operators.Changelog.compactLatest]] —
    * `row_number() = 1` over (keys | tsCol desc, idCol desc); every
    * key's full history sorts inside one shuffle (ChangelogSpec asserts
    * bit-equality).
    */
  def compactLatestWindow(log: DataFrame, keys: Seq[String], tsCol: String,
                          idCol: String, payload: Seq[String]): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col(tsCol).desc, col(idCol).desc)
    log.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .select((keys ++ Seq(tsCol, idCol) ++ payload).map(col): _*)
  }

  /** The window twin of [[CorpusMix.capPerStratumBounded]]: keep at
    * most `k` rows per stratum in keyed-hash order (id as tiebreak),
    * with `cap_rank` the 1-based position — one hash-partitioned window
    * per stratum (CorpusMixSpec asserts the bounded form equals it).
    */
  def capPerStratum(df: DataFrame, idCol: String, strataCol: String, k: Int,
                    salt: String = "cap1"): DataFrame = {
    require(k > 0, s"cap must be positive, got $k")
    val w = Window.partitionBy(col(strataCol))
      .orderBy(CorpusMix.hashHex(col(idCol), salt), col(idCol))
    df.withColumn("cap_rank", row_number().over(w).cast("long"))
      .filter(col("cap_rank") <= k)
  }

  /** The reference's per-line CSV parse (SURVEY §2.1 S4): it parses
    * each LINE as a CSV record (`mp3/src/mj_wine/wine_maple.go:9-13`),
    * so a quoted field containing a newline breaks the parse and the
    * row is silently dropped. Spark's multiLine=false + DROPMALFORMED
    * reproduces exactly that (WineParitySpec, SourcesSpec).
    */
  def csvPerLine(spark: SparkSession, path: String, schema: StructType,
                 header: Boolean = true): DataFrame =
    spark.read
      .option("header", header.toString)
      .option("multiLine", "false")
      .option("mode", "DROPMALFORMED")
      .schema(schema)
      .csv(path)
}
