package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.functions.{ArrayDot, BloomMightContain, CmsEstimate, LshSig, MinHashRow, MinHashSig, RollingHash, SimHash64, SimHashFp, TokenCount}

/** SparkSessionExtensions entry point. It registers:
  *  - the engine's native Catalyst expressions as SQL functions, so
  *    `spark.sql("SELECT token_count(text, 'hash') ...")` plans the
  *    codegen'd expression;
  *  - the AQE query-stage preparation rule [[SmallSortOnePartition]],
  *    which sorts a measured, small ORDER BY input in one partition
  *    instead of behind a range exchange.
  * Activated via `spark.sql.extensions=graft.plans.GraftExtensions`
  * (GraftSession sets it; any external session can too). Sessions
  * built without it get the functions from
  * [[GraftExtensions.ensureRegistered]] but not the rule.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.entries.foreach(ext.injectFunction)
    ext.injectQueryStagePrepRule(_ => SmallSortOnePartition)
  }
}

object GraftExtensions {
  private val entries = Seq(
    (
      FunctionIdentifier("token_count"),
      new ExpressionInfo(classOf[TokenCount].getName, "token_count"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "token_count(text, token) takes 2 arguments")
        TokenCount(args.head, args(1)): Expression
      }),
    (
      FunctionIdentifier("array_dot"),
      new ExpressionInfo(classOf[ArrayDot].getName, "array_dot"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "array_dot(a, b) takes 2 arguments")
        ArrayDot(args.head, args(1)): Expression
      }),
    (
      FunctionIdentifier("minhash_sig"),
      new ExpressionInfo(classOf[MinHashSig].getName, "minhash_sig"),
      (args: Seq[Expression]) => {
        require(args.length == 2,
          "minhash_sig(h, numHashes) takes 2 arguments")
        val n = args(1) match {
          case e if e.foldable => e.eval().asInstanceOf[Number].intValue()
          case _ => throw new IllegalArgumentException(
            "minhash_sig numHashes must be a literal")
        }
        MinHashSig(args.head, n).toAggregateExpression(): Expression
      }),
    (
      FunctionIdentifier("simhash_fp"),
      new ExpressionInfo(classOf[SimHashFp].getName, "simhash_fp"),
      (args: Seq[Expression]) => {
        require(args.length == 1, "simhash_fp(h) takes 1 argument")
        SimHashFp(args.head).toAggregateExpression(): Expression
      }),
    (
      FunctionIdentifier("simhash64"),
      new ExpressionInfo(classOf[SimHash64].getName, "simhash64"),
      (args: Seq[Expression]) => {
        require(args.length == 1, "simhash64(hs) takes 1 argument")
        SimHash64(args.head): Expression
      }),
    (
      FunctionIdentifier("minhash_row"),
      new ExpressionInfo(classOf[MinHashRow].getName, "minhash_row"),
      (args: Seq[Expression]) => {
        require(args.length == 2,
          "minhash_row(hs, numHashes) takes 2 arguments")
        val n = args(1) match {
          case e if e.foldable => e.eval().asInstanceOf[Number].intValue()
          case _ => throw new IllegalArgumentException(
            "minhash_row numHashes must be a literal")
        }
        MinHashRow(args.head, n): Expression
      }),
    (
      FunctionIdentifier("lsh_sig"),
      new ExpressionInfo(classOf[LshSig].getName, "lsh_sig"),
      (args: Seq[Expression]) => {
        require(args.length == 4,
          "lsh_sig(vec, dim, tables, bits) takes 4 arguments")
        val Seq(dim, tables, bits) = args.tail.map {
          case e if e.foldable => e.eval().asInstanceOf[Number].intValue()
          case _ => throw new IllegalArgumentException(
            "lsh_sig dim/tables/bits must be literals")
        }
        LshSig(args.head, dim, tables, bits): Expression
      }),
    (
      FunctionIdentifier("rolling_hash"),
      new ExpressionInfo(classOf[RollingHash].getName, "rolling_hash"),
      (args: Seq[Expression]) => {
        require(args.length == 1, "rolling_hash(text) takes 1 argument")
        RollingHash(args.head): Expression
      }),
    (
      FunctionIdentifier("cms_estimate"),
      new ExpressionInfo(classOf[CmsEstimate].getName, "cms_estimate"),
      (args: Seq[Expression]) => {
        require(args.length == 2,
          "cms_estimate(sketch, item) takes 2 arguments")
        CmsEstimate(args.head, args(1)): Expression
      }),
    (
      FunctionIdentifier("bloom_might_contain"),
      new ExpressionInfo(classOf[BloomMightContain].getName, "bloom_might_contain"),
      (args: Seq[Expression]) => {
        require(args.length == 2,
          "bloom_might_contain(filter, item) takes 2 arguments")
        BloomMightContain(args.head, args(1)): Expression
      }))

  /** Imperative fallback for sessions built WITHOUT
    * spark.sql.extensions=graft.plans.GraftExtensions: registers the
    * same functions directly in the session registry. Registers only
    * names that are ABSENT — a user's own function under one of these
    * names is never silently replaced (Tables calls this from its
    * constructor, so an overwrite would be a hidden mutation of the
    * caller's session).
    */
  def ensureRegistered(spark: org.apache.spark.sql.SparkSession): Unit = {
    val registry = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry
    entries.foreach { case (id, info, builder) =>
      if (!registry.functionExists(id)) registry.registerFunction(id, info, builder)
    }
  }
}
