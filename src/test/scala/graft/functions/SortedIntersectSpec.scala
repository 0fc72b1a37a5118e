package graft.functions

import graft.TestSession.spark
import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, LongType, StructField, StructType}
import org.scalacheck.{Gen, Prop, Test}
import org.scalatest.funsuite.AnyFunSuite

/** `sorted_intersect_size` against a `Set` reference: the merge helper on
  * random ascending distinct arrays (empty, negative, identical and
  * disjoint operands included), null propagation, and the interpreted
  * `nullSafeEval` path against both generated-code paths through a
  * DataFrame.
  */
class SortedIntersectSpec extends AnyFunSuite {

  /** Ascending distinct longs: a narrow range makes overlaps likely, the
    * full range reaches the extremes and the sign boundary.
    */
  private val sorted: Gen[Array[Long]] =
    Gen.containerOf[Set, Long](Gen.frequency(
      4 -> Gen.chooseNum(-12L, 12L),
      1 -> Gen.chooseNum(Long.MinValue, Long.MaxValue)))
      .map(_.toArray.sorted)

  private val operands: Gen[(Array[Long], Array[Long])] = Gen.oneOf(
    Gen.zip(sorted, sorted),
    sorted.map(a => (a, a)),
    sorted.map(a => (a, Array.emptyLongArray)),
    sorted.map(a => (a.filter(_ % 2 == 0), a.filter(_ % 2 != 0))))

  private def reference(a: Array[Long], b: Array[Long]): Int = (a.toSet & b.toSet).size

  test("the merge equals the Set intersection size on ascending distinct arrays") {
    val prop = Prop.forAllNoShrink(operands) { case (a, b) =>
      val want = reference(a, b)
      SortedIntersect.size(UnsafeArrayData.fromPrimitiveArray(a),
          UnsafeArrayData.fromPrimitiveArray(b)) == want &&
        SortedIntersect.size(ArrayData.toArrayData(b), ArrayData.toArrayData(a)) == want
    }
    val result = Test.check(Test.Parameters.default.withMinSuccessfulTests(2000), prop)
    assert(result.passed, result)
  }

  test("a null operand gives null") {
    val arr = Literal.create(Seq(1L, 2L), ArrayType(LongType))
    val nul = Literal.create(null, ArrayType(LongType))
    assert(SortedIntersectSize(arr, nul).eval() == null)
    assert(SortedIntersectSize(nul, arr).eval() == null)
    assert(SortedIntersectSize(arr, arr).eval() == 2)
  }

  test("interpreted and generated code agree through a DataFrame") {
    spark.sparkContext.setLogLevel("WARN")
    val cases = Gen.listOfN(300, operands)
      .pureApply(Gen.Parameters.default, org.scalacheck.rng.Seed(20051))
    val rows = cases.map { case (a, b) => Row(a.toSeq, b.toSeq) } ++
      Seq(Row(null, Seq(1L)), Row(Seq(1L), null), Row(null, null))
    val want = cases.map { case (a, b) => reference(a, b): Any } ++ Seq(null, null, null)
    val schema = StructType(Seq(
      StructField("a", ArrayType(LongType)), StructField("b", ArrayType(LongType))))
    // an RDD source, so the optimizer cannot fold the projection on the driver
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
    graft.GraftExtensions.register(spark)
    def run(confs: (String, String)*): Seq[Any] = graft.queries.Confs.withConfs(spark, confs: _*) {
      df.selectExpr("sorted_intersect_size(a, b)").collect().map(_.get(0)).toSeq
    }
    assert(run("spark.sql.codegen.wholeStage" -> "true") == want)
    assert(run("spark.sql.codegen.wholeStage" -> "false") == want)
    assert(run("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN") == want)
  }
}
