package graft.sources

import java.io.File

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.operators.IndexCache

/** Materializes the documents table as a REAL multi-file text
  * directory — one `source=<src>/lines.txt` per source, lines in
  * doc_id order — so the file-grain grep path
  * ([[LogSearch.grepFiles]]: wholeTextFiles + per-file line counters)
  * can be exercised and oracle-checked against the same relation the
  * parquet queries read. This mirrors the reference's actual layout:
  * one log file per machine, grepped with per-file line numbers
  * (`mp0/src/finder/finder.go:28-37`).
  *
  * Built once per testdata dir through [[IndexCache]] (content
  * fingerprint key, marker-last commit protocol), then reused by
  * every Verify/Bench run. The build writes executor-side — each
  * task streams its sorted partition straight to files, no driver
  * collect — and each source lands wholly in one task (hash
  * repartition on source), so every file's line order is doc_id
  * order by construction. Fixture-materializer caveat: files land on
  * the executor-local FS, which in local mode IS the shared FS; a
  * multi-node deployment would point the scratch at shared storage.
  */
object TextCorpus {

  /** Returns a directory containing `source=<src>/lines.txt` per
    * source, each file's Nth line being the Nth document of that
    * source in doc_id order.
    */
  def ensureDocsText(spark: SparkSession, dir: String): String =
    IndexCache.ensure("graft-text-docs", s"$dir/documents.parquet", "r1",
      marker = "_TEXT_OK") { scratch =>
      new File(scratch).mkdirs()
      Tables.parquet(spark, s"$dir/documents.parquet")
        .select(col("source"), col("doc_id"), col("text"))
        .repartition(col("source"))
        .sortWithinPartitions(col("source"), col("doc_id"))
        .foreachPartition { rows: Iterator[Row] =>
          var cur: String = null
          var w: java.io.Writer = null
          try {
            rows.foreach { r =>
              val src = r.getString(0)
              if (src != cur) {
                if (w != null) w.close()
                val d = new File(s"$scratch/source=$src")
                d.mkdirs()
                w = new java.io.OutputStreamWriter(
                  new java.io.FileOutputStream(new File(d, "lines.txt")),
                  java.nio.charset.StandardCharsets.UTF_8)
                cur = src
              }
              w.write(r.getString(2))
              w.write('\n')
            }
          } finally if (w != null) w.close()
        }
      new java.io.FileWriter(s"$scratch/_TEXT_OK").close()
    }
}
