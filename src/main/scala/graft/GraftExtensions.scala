package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
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
  * further call. A session built without the installer gets the same
  * functions from [[GraftExtensions.register]], which every row body
  * runs under (`QueryDef`).
  *
  * This is the (c) extension point of the custom-operator preference
  * order used at its correct altitude: FUNCTION injection only. The
  * engine deliberately injects no Rule/Strategy — see SCALE.md
  * ("Custom-operator altitude"): every operator composes into plans
  * Catalyst already optimizes.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit =
    GraftExtensions.functions.foreach(ext.injectFunction)
}

/** The one registrar of graft's SQL functions: the table the installer
  * injects, its in-session registration, and the per-call probe functions
  * that live only while a frame is analyzed.
  */
object GraftExtensions {
  import graft.functions._

  private type Builder = Seq[Expression] => Expression
  private type Desc = (FunctionIdentifier, ExpressionInfo, Builder)

  private def desc(name: String, usage: String)(builder: Builder): Desc = (
    FunctionIdentifier(name),
    new ExpressionInfo(classOf[GraftExtensions].getName, name) {
      override def getUsage: String = usage
    },
    builder)

  /** graft's SQL functions, one (identifier, info, builder) each. */
  private[graft] val functions: Seq[Desc] = Seq(
    desc("poly_hash", "poly_hash(str) - 31-ary code-point rolling hash mod 2^31-1")(
      e => PolyHash(e.head)),
    desc("dot_product", "dot_product(a, b) - in-order dot product of two numeric arrays")(
      e => DotProduct(e(0), e(1))),
    desc("sorted_intersect_size",
      "sorted_intersect_size(a, b) - common elements of two ascending distinct bigint arrays")(
      e => SortedIntersectSize(e(0), e(1))),
    desc("simhash64", "simhash64(tokens) - 64-bit SimHash of a string array as [lo, hi]")(
      e => SimHash64(e.head)),
    desc("nfc_normalize", "nfc_normalize(str) - Unicode NFC normalization of a string")(
      e => NfcNormalize(e.head)))

  /** Register every function of [[functions]] in `spark`'s catalog.
    * Idempotent: re-registering the same table entries changes nothing.
    */
  def register(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    functions.foreach { case (id, info, builder) => registry.registerFunction(id, info, builder) }
  }

  /** Register each of `builders` under a fresh unique name, run `body`
    * with the names, then drop them. Dataset
    * construction analyzes eagerly, so a frame `body` builds has resolved
    * its calls before the drop: concurrent calls cannot race on a shared
    * name, and nothing outlives the call.
    */
  private[graft] def withTempFunctions[T](spark: SparkSession, builders: Seq[Builder])(
      body: Seq[String] => T): T = {
    val registry = spark.sessionState.functionRegistry
    val names = builders.map { builder =>
      val name = s"graft_tmp_${java.util.UUID.randomUUID().toString.replace("-", "_")}"
      registry.createOrReplaceTempFunction(name, builder, "built-in")
      name
    }
    try body(names)
    finally names.foreach(n => registry.dropFunction(FunctionIdentifier(n)))
  }
}
