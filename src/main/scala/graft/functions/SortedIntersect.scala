package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ImplicitCastInputTypes}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.expr
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType}

/** Number of elements two ascending, duplicate-free `array<bigint>` values
  * have in common: one merge pass, `O(|a| + |b|)` primitive compares, no
  * allocation.
  *
  * The inner loop of degree-ordered triangle counting (Graph.triangles):
  * per oriented edge s→t it intersects the two sorted out-lists, so the
  * count costs one merge per edge instead of one materialized row and one
  * hash probe per wedge. Both inputs must be sorted ascending and free of
  * duplicates and nulls; other inputs give an unspecified count.
  */
case class SortedIntersectSize(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes {

  override def inputTypes = Seq(ArrayType(LongType), ArrayType(LongType))
  override def dataType: DataType = IntegerType

  override def nullSafeEval(a: Any, b: Any): Any =
    SortedIntersect.size(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.SortedIntersect.size($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SortedIntersectSize =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "sorted_intersect_size"
}

object SortedIntersect {

  /** Merge of two ascending long arrays; called from generated code. */
  def size(a: ArrayData, b: ArrayData): Int = {
    val n = a.numElements()
    val m = b.numElements()
    var i = 0
    var j = 0
    var common = 0
    while (i < n && j < m) {
      val x = a.getLong(i)
      val y = b.getLong(j)
      if (x < y) i += 1
      else if (x > y) j += 1
      else { common += 1; i += 1; j += 1 }
    }
    common
  }

  /** Register `sorted_intersect_size` for SQL and Column use in this session. */
  def register(spark: SparkSession): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "sorted_intersect_size", exprs => SortedIntersectSize(exprs(0), exprs(1)), "built-in")

  /** Column form over two column/SQL expressions (registers on use). */
  def sortedIntersectSize(spark: SparkSession, a: String, b: String): Column = {
    register(spark)
    expr(s"sorted_intersect_size($a, $b)")
  }
}
