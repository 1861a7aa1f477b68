package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._
import scala.util.Try

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path => HadoopPath}
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.types.{LongType, StringType, StructType}

import graft.core.Tables
import graft.sql.GraftSql

/** [[Tables.parquet]] infers each parquet schema once per JVM: the
  * cached schema must equal a fresh inference under every parquet conf,
  * a rewritten file must be re-inferred, and a warm query build must
  * launch no Spark job at all — the inference job is the one barrier
  * this cache removes.
  */
class TablesSpec extends SparkSpecBase {

  private val dir = sf("sf0.01")
  private val NanosAsLong = "spark.sql.legacy.parquet.nanosAsLong"

  /** Schema as inferred, or the class of the error inference raised. */
  private def outcome(schema: => StructType) =
    Try(schema).toEither.left.map(_.getClass.getName)

  test("the cached schema equals a fresh inference for every table, " +
    "nanosAsLong on and off") {
    for (flag <- Seq("true", "false")) withConf(NanosAsLong, flag) {
      for (t <- GraftSql.tableNames) {
        val path = s"$dir/$t.parquet"
        val fresh = spark.read.parquet(path).schema
        // the first call may miss or hit; the second always hits
        assert(Tables.parquet(spark, path).schema == fresh, s"$t ($flag)")
        assert(Tables.parquet(spark, path).schema == fresh, s"$t ($flag)")
      }
    }
  }

  test("nanosAsLong is part of the key: a TIMESTAMP(NANOS) file is " +
    "re-inferred when the flag flips") {
    val path = Files.createTempDirectory("graft-tables-nanos")
      .resolve("events.parquet")
    val schema = MessageTypeParser.parseMessageType(
      "message events { required int64 event_id; " +
        "required int64 ts (TIMESTAMP(NANOS,true)); }")
    val w = ExampleParquetWriter
      .builder(new HadoopPath(path.resolve("part-0.parquet").toString))
      .withConf(new Configuration()).withType(schema).build()
    try {
      val rows = new SimpleGroupFactory(schema)
      (0L until 3L).foreach { i =>
        w.write(rows.newGroup().append("event_id", i)
          .append("ts", 1704067200000000000L + i))
      }
    } finally w.close()
    val p = path.toString
    withConf(NanosAsLong, "true") {
      assert(Tables.parquet(spark, p).schema("ts").dataType == LongType)
    }
    // a cache keyed without the flag would hand back LongType here
    withConf(NanosAsLong, "false") {
      assert(outcome(Tables.parquet(spark, p).schema) ==
        outcome(spark.read.parquet(p).schema))
    }
    withConf(NanosAsLong, "true") {
      assert(Tables.parquet(spark, p).collect().map(_.getLong(1)).toSeq ==
        (0L until 3L).map(1704067200000000000L + _))
    }
  }

  test("rewriting a parquet directory in place is a miss: the next read " +
    "returns the new schema") {
    val p = Files.createTempDirectory("graft-tables-rewrite")
      .resolve("t.parquet").toString
    spark.range(5).toDF("a").write.parquet(p)
    assert(Tables.parquet(spark, p).schema("a").dataType == LongType)
    spark.range(5).selectExpr("CAST(id AS STRING) AS a", "id AS b")
      .write.mode("overwrite").parquet(p)
    val df = Tables.parquet(spark, p)
    assert(df.schema == spark.read.parquet(p).schema)
    assert(df.schema("a").dataType == StringType)
    assert(df.schema.fieldNames.toSeq == Seq("a", "b"))
    assert(df.collect().map(_.getString(0)).sorted.toSeq ==
      Seq("0", "1", "2", "3", "4"))
  }

  test("a path with no files raises Spark's error and caches nothing") {
    val p = Files.createTempDirectory("graft-tables-late")
      .resolve("t.parquet").toString
    assert(outcome(Tables.parquet(spark, p).schema) ==
      outcome(spark.read.parquet(p).schema))
    assert(outcome(Tables.parquet(spark, p).schema).isLeft)
    spark.range(3).toDF("x").write.parquet(p)
    assert(Tables.parquet(spark, p).count() == 3)
  }

  test("catalog_small builds launch no Spark job once each table has " +
    "been read") {
    val rows = Seq("q2_topk_orders", "q12_events_hourly",
      "q23_customer_order_outer", "a7_cohort_retention",
      "c1_compact_latest", "p4_grep", "mj1_wordcount_hash",
      "m5_image_dimensions", "t4_fingerprints", "x1_corpus_mix",
      "s6_label_centroids")
    val sqlRows = Seq("q2_topk_orders", "q12_events_hourly",
      "q23_customer_order_outer")
    def buildAll(): Unit = {
      rows.foreach(r => SparkEntry.queries(r)(spark, dir))
      sqlRows.foreach(r => GraftSql.run(spark, dir, r))
    }
    buildAll() // first reads infer; fixtures materialize once
    val jobs = executionsDuring(buildAll()).jobs
    assert(jobs.isEmpty, s"warm builds launched jobs: ${jobs.mkString("; ")}")
  }

  test("no parquet read in src/main/scala bypasses Tables.parquet") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repository root: $root")
    val helper = root.resolve("graft/core/Tables.scala")
    val inferring =
      """\.read\s*\.\s*(parquet\s*\(|format\s*\(\s*"parquet"\s*\)|load\s*\()""".r
    val files = Files.walk(root).iterator().asScala
      .filter(f => f.toString.endsWith(".scala") && f != helper).toSeq
    assert(files.size > 50)
    val hits = files.flatMap { f: Path =>
      inferring.findAllMatchIn(Files.readString(f)).map(m => s"$f: ${m.matched}")
    }
    assert(hits.isEmpty,
      s"read parquet through graft.core.Tables.parquet: ${hits.mkString("; ")}")
    // size gates are constants or private[graft] parameters a spec can
    // force, never a session conf knob
    val knob = "\"spark\\.graft\\.".r
    val knobs = (files :+ helper).flatMap { f =>
      knob.findAllMatchIn(Files.readString(f)).map(_ => f.toString)
    }
    assert(knobs.isEmpty,
      s"src/main reads a spark.graft.* session conf key: ${knobs.mkString("; ")}")
    // every persist, checkpoint and release — round and wave loops
    // included — goes through graft.operators.Lineage
    val lineage = root.resolve("graft/operators/Lineage.scala")
    val storageCode =
      """snapshotRdd|\(0 until waves\)|\.(persist|unpersist|localCheckpoint|checkpoint)\(|\.cache\(\)""".r
    val comment = """^\s*(//|\*|/\*)""".r
    val storage = (files :+ helper).filter(_ != lineage).flatMap { f =>
      Files.readAllLines(f).asScala.zipWithIndex
        .filter { case (line, _) => comment.findFirstIn(line).isEmpty }
        .flatMap { case (line, i) =>
          storageCode.findAllMatchIn(line).map(m => s"$f:${i + 1}: ${m.matched}")
        }
    }
    assert(storage.isEmpty,
      s"persist, checkpoint and release through Lineage: ${storage.mkString("; ")}")
  }
}
