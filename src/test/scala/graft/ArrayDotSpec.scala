package graft

import org.apache.spark.sql.functions._

import graft.operators.Similarity

/** Differential tests for the native `array_dot` expression against the
  * composed zip_with+aggregate form, on real embeddings and edge cases.
  */
class ArrayDotSpec extends SparkSpecBase {

  test("native array_dot equals the composed HOF dot on real embeddings") {
    val e = graft.core.Tables(spark, sf("sf0.001")).embeddings
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val rows = e.as("a").join(e.as("b"), col("a.vec_id") < col("b.vec_id"))
      .limit(2000)
      .select(
        Similarity.dot(col("a.v"), col("b.v")).as("native"),
        ReferenceForms.dotComposed(col("a.v"), col("b.v")).as("composed"))
      .collect()
    assert(rows.length == 2000)
    rows.foreach { r =>
      assert(r.getDouble(0) == r.getDouble(1)) // same order => bit-equal
    }
  }

  test("null input and length mismatch both yield null, like the HOF form") {
    val s = spark
    import s.implicits._
    val df = Seq(
      (Some(Seq[Option[Double]](Some(1.0), Some(2.0))), Some(Seq[Option[Double]](Some(3.0), Some(4.0)))),
      (None, Some(Seq[Option[Double]](Some(1.0)))),
      (Some(Seq[Option[Double]](Some(1.0), Some(2.0))), Some(Seq[Option[Double]](Some(5.0)))),
      // null ELEMENT must poison the sum, like zip_with's null product
      (Some(Seq[Option[Double]](Some(1.0), None)), Some(Seq[Option[Double]](Some(3.0), Some(4.0)))))
      .toDF("a", "b")
    val got = df.select(Similarity.dot($"a", $"b")).collect()
      .map(r => if (r.isNullAt(0)) None else Some(r.getDouble(0))).toSeq
    assert(got == Seq(Some(11.0), None, None, None))
    // the composed form agrees on the mismatch row
    val hof = df.select(ReferenceForms.dotComposed($"a", $"b")).collect()
      .map(r => if (r.isNullAt(0)) None else Some(r.getDouble(0))).toSeq
    assert(hof == got)
  }

  test("array_dot resolves through SQL and survives codegen") {
    val s = spark
    import s.implicits._
    Seq((Seq(1.0, 2.0, 3.0), Seq(4.0, 5.0, 6.0))).toDF("a", "b")
      .createOrReplaceTempView("vv")
    assert(s.sql("SELECT array_dot(a, b) FROM vv").head.getDouble(0) == 32.0)
  }
}
