package perfbench

import java.io.File

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.DataFrame

import graft.SparkEntry
import graft.sql.GraftSql

/** catalog_small: a closed loop with one client over a fixed list of
  * catalog rows. Each pass runs every operation once in an
  * order drawn from the seed; an operation is one row built through
  * `CatalogQuery.build` (or, for the SQL share, `GraftSql.run`) and
  * materialized with a noop write, as `graft.Bench` times it.
  *
  * The untimed check pass writes every operation's result as parquet;
  * run.py compares those with the DuckDB oracle and counts the timed
  * operations of a wrong row as failed.
  */
object CatalogBench {

  final case class Op(row: String, sql: Boolean) {
    def key: String = if (sql) s"$row.sql" else row
  }

  def build(ctx: Main.Ctx, op: Op): DataFrame =
    if (op.sql) GraftSql.run(ctx.spark, ctx.args.dataDir, op.row)
    else SparkEntry.queries(op.row)(ctx.spark, ctx.args.dataDir)

  def run(ctx: Main.Ctx): Unit = {
    val cfg = ctx.args.config
    val rows = cfg("rows").asInstanceOf[Seq[String]]
    val sqlRows = cfg("sql_rows").asInstanceOf[Seq[String]]
    val ops = rows.map(Op(_, sql = false)) ++ sqlRows.map(Op(_, sql = true))

    ctx.out("oracle_sql") = ops.map(_.row).distinct
      .flatMap(r => SparkEntry.oracleSql.get(r).map(r -> _)).toMap

    // no view registration: DataFrame rows read through graft.core.Tables
    // and GraftSql.run registers the views its text names
    Main.setUp(ctx)(build(ctx, ops.head).write.format("noop").mode("overwrite").save())

    // Check pass: every operation once, result kept for the oracle compare.
    val checkErrors = mutable.LinkedHashMap.empty[String, String]
    val outDir = new File(ctx.args.workDir, "out")
    val w0 = System.nanoTime()
    ops.foreach { op =>
      ctx.group(s"warm:${op.key}", traced = false)
      try build(ctx, op).write.mode("overwrite")
        .parquet(new File(outDir, op.key).getAbsolutePath)
      catch { case e: Throwable => checkErrors(op.key) = message(e) }
    }
    ctx.out("warmup_ms") = (System.nanoTime() - w0) / 1e6
    ctx.out("check_errors") = checkErrors.toMap

    // Timed passes: whole passes only, so every run times the same
    // multiset of operations whatever its seed.
    val samples = mutable.ArrayBuffer.empty[Map[String, Any]]
    val weather = Box.window()
    val start = System.nanoTime()
    for (pass <- 0 until ctx.repeats("pass_s", 2)) {
      val order = new Random(ctx.args.seed * 1000003L + pass).shuffle(ops)
      order.foreach { op =>
        // half of each pass traced, each operation every other pass, so
        // traced and untraced operations see the same JIT state
        val traced = (ops.indexOf(op) + pass) % 2 == 1
        val g = ctx.group(s"$pass:${op.key}", traced)
        ctx.spark.catalog.clearCache()
        val gc0 = Recorder.gcMs()
        val t0 = Clock.ms()
        var t1 = t0
        val err = try {
          ctx.span(g, "op", "") {
            val df = ctx.span(g, "build", "op")(build(ctx, op))
            t1 = Clock.ms()
            ctx.span(g, "execute", "op")(df.write.format("noop").mode("overwrite").save())
          }
          ""
        } catch { case e: Throwable => message(e) }
        val t2 = Clock.ms()
        samples += Map("group" -> g, "key" -> op.key, "row" -> op.row,
          "sql" -> op.sql, "pass" -> pass, "traced" -> (traced && ctx.args.trace),
          "start" -> t0, "built" -> t1, "end" -> t2, "error" -> err,
          "gc_ms" -> (Recorder.gcMs() - gc0))
      }
    }
    ctx.out("measured_s") = (System.nanoTime() - start) / 1e9
    ctx.out("weather") = weather()
    ctx.out("ops") = samples.toSeq
  }

  def message(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("")}".take(300)
}
