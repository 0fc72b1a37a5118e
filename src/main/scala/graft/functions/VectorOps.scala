package graft.functions

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** In-order dot product of two numeric arrays, accumulated in doubles:
  * `sum_i (double) a[i] * (double) b[i]`.
  *
  * Native Catalyst expression replacing the `aggregate(zip_with(...))`
  * higher-order-function form: HOF lambdas are interpreted (they break out
  * of whole-stage codegen and allocate a lambda frame per element), while
  * this compiles to a tight primitive loop over the unsafe array data. Same
  * left-to-right summation order as the HOF form and as DuckDB's
  * `list_dot_product`, so results are bit-identical and oracles hold.
  *
  * This is the hot inner loop of every embedding query (cosine near-dup,
  * ANN top-k, LSH projections) — at 100 TB it is the difference between a
  * memory-bandwidth-bound scan and a lambda-dispatch-bound one.
  */
case class DotProduct(left: Expression, right: Expression) extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = left.nullable || right.nullable

  private def isFloat(e: Expression): Boolean = e.dataType match {
    case ArrayType(FloatType, _) => true
    case ArrayType(DoubleType, _) => false
    case other => throw new IllegalArgumentException(
      s"dot_product expects array<float|double>, got $other")
  }
  private lazy val leftFloat = isFloat(left)
  private lazy val rightFloat = isFloat(right)

  override def nullSafeEval(a: Any, b: Any): Any =
    VectorOps.dot(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData],
      leftFloat, rightFloat)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.VectorOps.dot($a, $b, $leftFloat, $rightFloat)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProduct =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "dot_product"
}

object VectorOps {

  /** Tight loop over unsafe array data; called from generated code. */
  def dot(a: ArrayData, b: ArrayData, aFloat: Boolean, bFloat: Boolean): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var acc = 0.0
    var i = 0
    if (aFloat && bFloat) {
      while (i < n) { acc += a.getFloat(i).toDouble * b.getFloat(i).toDouble; i += 1 }
    } else if (!aFloat && !bFloat) {
      while (i < n) { acc += a.getDouble(i) * b.getDouble(i); i += 1 }
    } else {
      while (i < n) {
        val x = if (aFloat) a.getFloat(i).toDouble else a.getDouble(i)
        val y = if (bFloat) b.getFloat(i).toDouble else b.getDouble(i)
        acc += x * y
        i += 1
      }
    }
    acc
  }
}
