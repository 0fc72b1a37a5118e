package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** SparkSessionExtensions installer — the deploy-time way to ship this
  * engine's codegen'd expressions into ANY session, including pure-SQL
  * ones that never touch the Scala API:
  *
  * {{{
  *   spark-submit --conf spark.sql.extensions=graft.GraftExtensions ...
  *   // or in code:
  *   SparkSession.builder().withExtensions(new GraftExtensions).getOrCreate()
  * }}}
  *
  * Injection registers the functions in the session's catalog at build
  * time, so `spark.sql("SELECT poly_hash(text) ...")` works with no
  * per-query `register()` call (the per-object `register()` methods stay
  * as the lazy in-code path and remain idempotent alongside this).
  *
  * This is the (c) extension point of the custom-operator preference
  * order used at its correct altitude: FUNCTION injection only. The
  * engine deliberately injects no Rule/Strategy — see SCALE.md
  * ("Custom-operator altitude"): every operator composes into plans
  * Catalyst already optimizes.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction(GraftExtensions.polyHashDesc)
    ext.injectFunction(GraftExtensions.dotProductDesc)
    ext.injectFunction(GraftExtensions.sortedIntersectSizeDesc)
    ext.injectFunction(GraftExtensions.simHashDesc)
  }
}

object GraftExtensions {
  private type Desc =
    (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)

  private def info(name: String, usage: String) =
    new ExpressionInfo(classOf[GraftExtensions].getName, name) {
      override def getUsage: String = usage
    }

  private[graft] val polyHashDesc: Desc = (
    FunctionIdentifier("poly_hash"),
    info("poly_hash", "poly_hash(str) - 31-ary code-point rolling hash mod 2^31-1"),
    (exprs: Seq[Expression]) => graft.functions.PolyHash(exprs.head))

  private[graft] val dotProductDesc: Desc = (
    FunctionIdentifier("dot_product"),
    info("dot_product", "dot_product(a, b) - in-order dot product of two numeric arrays"),
    (exprs: Seq[Expression]) => graft.functions.DotProduct(exprs(0), exprs(1)))

  private[graft] val sortedIntersectSizeDesc: Desc = (
    FunctionIdentifier("sorted_intersect_size"),
    info("sorted_intersect_size",
      "sorted_intersect_size(a, b) - common elements of two ascending distinct bigint arrays"),
    (exprs: Seq[Expression]) => graft.functions.SortedIntersectSize(exprs(0), exprs(1)))

  private[graft] val simHashDesc: Desc = (
    FunctionIdentifier("simhash64"),
    info("simhash64", "simhash64(tokens) - 64-bit SimHash of a string array as [lo, hi]"),
    (exprs: Seq[Expression]) => graft.functions.SimHash64(exprs.head))
}
