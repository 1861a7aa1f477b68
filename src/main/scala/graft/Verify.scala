package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}

import graft.Measure.jsonString

/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * Runs under GraftSession.tuned (Measure.driverSession) so the verified
  * configuration (AQE, UTC, ansi=false, nanosAsLong) is the same one
  * Bench and the test suites use.
  */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional third arg: comma-list restricting which queries dump —
    // a dev shortcut for re-checking one operator without the full
    // catalog pass; the driver always runs unfiltered
    val only = args.drop(2).headOption
      .map(_.split(",").map(_.trim).toSet)
    only.foreach { f =>
      val unknown = f -- SparkEntry.queries.keySet
      require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(",")}")
    }
    val (spark, _) = Measure.driverSession("graft-verify")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.keys.foreach { name =>
      if (only.forall(_.contains(name))) {
        try dump(spark, sfDir, outDir, name)
        catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
        }
        // drop the relations operators share lazily (Lineage's SHARED
        // form) so 154 query dumps don't accumulate block-manager memory
        spark.catalog.clearCache()
      }
    }
    writeOracleSql(outDir, _ => true)
    spark.stop()
  }

  /** One query's result as a single parquet file under `outDir/name`. */
  def dump(spark: SparkSession, sfDir: String, outDir: String,
           name: String): Unit =
    SparkEntry.queries(name)(spark, sfDir).coalesce(1).write
      .mode("overwrite").parquet(s"$outDir/$name")

  /** `outDir/oracle_sql.json`: the oracle SQL of every kept query. The
    * escaping covers every control character — one bad character would
    * make the driver's json.load fail and silently zero the round's
    * correctness.
    */
  def writeOracleSql(outDir: String, keep: String => Boolean): Unit = {
    val json = SparkEntry.oracleSql.collect {
      case (k, v) if keep(k) => s"${jsonString(k)}: ${jsonString(v)}"
    }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
  }
}
