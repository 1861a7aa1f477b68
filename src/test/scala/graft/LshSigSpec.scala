package graft

import org.apache.spark.sql.functions._

import graft.operators.Similarity

/** Differential tests for the native fused `lsh_sig` expression against
  * the composed transform+when-chain form it replaced, plus null/shape
  * semantics. Bucket equality here is what lets s2/s3 keep their
  * seed-pinned oracles across the native rewrite.
  */
class LshSigSpec extends SparkSpecBase {

  private def emb = graft.core.Tables(spark, sf("sf0.001")).embeddings

  test("native lshBuckets equals the composed form bucket-for-bucket") {
    for ((tables, bits) <- Seq((4, 8), (8, 12))) {
      val native = Similarity.lshBuckets(emb, dim = 64, tables, bits)
        .select("id", "tbl", "bucket").collect()
        .map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
      val composed = ReferenceForms.lshBucketsComposed(emb, dim = 64, tables, bits)
        .select("id", "tbl", "bucket").collect()
        .map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
      assert(native.nonEmpty && native.size == composed.size)
      assert(native == composed, s"bucket mismatch at tables=$tables bits=$bits")
    }
  }

  test("big configs stay codegen'd: 24x14 runs without janino fallback") {
    // The composed form at 24x14 generates a 65498-byte method (measured)
    // — past the JVM JIT's 8000-byte HugeMethodLimit, so it runs
    // janino-compiled but never JIT-optimized, and a hair from janino's
    // hard 64KB ceiling where the stage drops to interpreted eval. Both
    // cliffs are SILENT: the values stay correct and deterministic, so a
    // value check cannot catch the regression. Do what
    // WholeStageCodegenExec.doExecute does before deciding to fall back:
    // compile each stage's generated source and check the max method
    // bytecode size — against the JIT limit, the bar the native
    // expression exists to clear (its measured max is 565 bytes).
    import org.apache.spark.sql.execution.WholeStageCodegenExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
    val df = Similarity.lshBuckets(emb.limit(50), dim = 64, tables = 24, bits = 14)
      .select("id", "tbl", "bucket")
    // execute FIRST: under AQE the codegen-collapsed final plan only
    // exists after materialization, then unwrap to it
    val a = df.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).sorted.toSeq
    assert(a.size == 50 * 24)
    assert(a.forall { case (_, t, bk) =>
      t >= 0 && t < 24 && bk >= 0 && bk < (1L << 14)
    })
    // collect codegen stages across AQE query-stage boundaries
    // (QueryStageExec is a leaf to collect(); its plan hangs off a field)
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.QueryStageExec
    def codegenStages(p: SparkPlan): Seq[WholeStageCodegenExec] = p match {
      case a: AdaptiveSparkPlanExec => codegenStages(a.executedPlan)
      case q: QueryStageExec => codegenStages(q.plan)
      case w: WholeStageCodegenExec => w +: w.children.flatMap(codegenStages)
      case other => other.children.flatMap(codegenStages)
    }
    val plan = df.queryExecution.executedPlan
    val stages = codegenStages(plan)
    assert(stages.exists(_.toString.contains("lsh_sig")),
      s"the lsh_sig projection must plan inside a WholeStageCodegen stage:\n$plan")
    val limit = CodeGenerator.DEFAULT_JVM_HUGE_METHOD_LIMIT // 8000: JIT refusal threshold
    for (w <- stages) {
      val (_, code) = w.doCodeGen()
      val (_, stats) = CodeGenerator.compile(code)
      assert(stats.maxMethodCodeSize <= limit,
        s"generated method ${stats.maxMethodCodeSize} bytes exceeds the JVM " +
          s"JIT huge-method limit $limit — the silent performance cliff " +
          "(composed-form territory: 65498 bytes)")
    }
  }

  test("null vector, null element, and wrong dim all yield null") {
    val s = spark
    import s.implicits._
    val df = Seq(
      (1L, Some(Seq[Option[Double]](Some(1.0), Some(-2.0), Some(0.5)))),
      (2L, None),
      (3L, Some(Seq[Option[Double]](Some(1.0), None, Some(0.5)))),
      (4L, Some(Seq[Option[Double]](Some(1.0), Some(2.0))))) // dim 2 != 3
      .toDF("id", "v")
    val got = df
      .select($"id", call_function("lsh_sig", $"v", lit(3), lit(2), lit(4)).as("sig"))
      .collect().map(r => r.getLong(0) -> r.isNullAt(1)).toMap
    assert(got == Map(1L -> false, 2L -> true, 3L -> true, 4L -> true))
  }
}
