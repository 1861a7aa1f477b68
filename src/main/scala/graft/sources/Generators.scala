package graft.sources

import org.apache.spark.sql.{Dataset, SparkSession}

/** Deterministic synthetic-data generators mirroring the reference's
  * scripts (SURVEY §2.1 S12) — with pinned seeds, which the reference's
  * `gen_condorcet_data.py` notably lacks.
  */
object Generators {

  /** The reference's wordcount blowup input (`mp3/src/trees/gen_file.py`):
    * a sentence repeated n times with NO separator, so the last word of
    * one copy and the first word of the next concatenate into a merged
    * token. The golden output `output/part-00000` is the wordcount of
    * exactly this string at n = 2·2^20.
    */
  def repeatedSentence(sentence: String, n: Int): String = sentence * n

  /** Ranked Condorcet ballots, one CSV line per ballot, deterministic
    * per row id (seed ⊕ id) so the output is identical under any
    * partitioning — distributed, O(rows/partitions) per task.
    *
    * BUMP [[ballotsVersion]] on ANY semantic change to this generator:
    * Bench's 136 MB flagship input is cached on disk keyed by that
    * version, and a changed generator behind an unchanged version
    * would silently time stale input (VERDICT r16 #5).
    */
  val ballotsVersion = 1

  def ballots(spark: SparkSession, n: Long, candidates: Seq[String],
              seed: Long = 42L): Dataset[String] = {
    import spark.implicits._
    val cands = candidates.toVector
    spark.range(n).map { i =>
      new scala.util.Random(seed ^ i).shuffle(cands).mkString(",")
    }
  }
}
