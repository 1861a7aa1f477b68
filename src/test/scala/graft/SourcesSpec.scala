package graft

import java.nio.file.Files

import org.apache.spark.sql.types._

import graft.sources.LogSearch

class SourcesSpec extends SparkSpecBase {

  private def writeTemp(name: String, content: String): String = {
    val dir = Files.createTempDirectory("graft-src")
    Files.writeString(dir.resolve(name), content)
    dir.resolve(name).toString
  }

  test("grepFiles returns 1-based original line numbers per file") {
    val log = writeTemp("machine.1.log",
      "GET /index 200\nPOST /login 401\nGET /data 200\nDELETE /x 500")
    val hits = LogSearch.grepFiles(spark, log, ".*GET.*").collect()
      .sortBy(_.lineNo)
    assert(hits.map(_.lineNo).toSeq == Seq(1L, 3L))
    assert(hits.forall(_.source.endsWith("machine.1.log")))
    assert(hits(1).line == "GET /data 200")
  }

  test("grepFiles size cap: an oversized file fails the call loudly " +
    "up front, steering to grepLines; at-cap files still grep") {
    val dir = Files.createTempDirectory("graft-src")
    val content = "needle one\nhay\nneedle two"
    Files.writeString(dir.resolve("big.log"), content)
    val glob = dir.resolve("*.log").toString
    val ex = intercept[IllegalArgumentException] {
      LogSearch.grepFiles(spark, glob, "needle",
        maxFileBytes = content.length - 1L)
    }
    assert(ex.getMessage.contains("grepLines"))
    assert(ex.getMessage.contains("big.log"))
    // exactly at the cap: reads fine, numbers intact — the boundary is
    // strict-greater
    val hits = LogSearch.grepFiles(spark, glob, "needle",
      maxFileBytes = content.length.toLong).collect().sortBy(_.lineNo)
    assert(hits.map(_.lineNo).toSeq == Seq(1L, 3L))
    // a directory target audits the files INSIDE it (wholeTextFiles
    // reads one level down)
    val exDir = intercept[IllegalArgumentException] {
      LogSearch.grepFiles(spark, dir.toString, "needle",
        maxFileBytes = 1L)
    }
    assert(exDir.getMessage.contains("big.log"))
  }

  test("grepLines matches the same lines without numbering") {
    val log = writeTemp("machine.2.log", "a match 1\nno\nanother match 2")
    val got = LogSearch.grepLines(spark, log, "match").collect()
    assert(got.map(_.getString(1)).sorted.toSeq == Seq("a match 1", "another match 2"))
  }

  test("tail returns the last n lines in order") {
    val log = writeTemp("machine.3.log", (1 to 10).map(i => s"line $i").mkString("\n"))
    val got = LogSearch.tail(spark, log, 3).collect()
    assert(got.map(_.line).toSeq == Seq("line 8", "line 9", "line 10"))
  }

  test("csvPerLine drops rows whose quoted fields span lines (reference parity)") {
    val schema = StructType(Seq(
      StructField("id", StringType), StructField("note", StringType),
      StructField("tag", StringType)))
    val csv = writeTemp("wine.csv",
      "id,note,tag\n1,plain row,x\n2,\"spans\nlines\",y\n3,fine,z")
    val rows = ReferenceForms.csvPerLine(spark, csv, schema).collect()
    // the reference's per-line parser loses the multi-line row (and the
    // orphaned continuation line fails the schema): rows 1 and 3 survive
    val ids = rows.map(_.getString(0)).filter(_ != null).toSet
    assert(ids.contains("1") && ids.contains("3"))
    assert(!ids.contains("2"))
  }
}
