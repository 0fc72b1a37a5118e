package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** Rolling polynomial hash of a string's code points:
  * `fold(cp, acc=0)(acc * 31 + cp) mod P` with `P = 2^31 - 1`.
  *
  * Document fingerprinting for the text-analysis surface. A native Catalyst
  * expression rather than a Scala UDF: it participates in whole-stage
  * codegen (`doGenCode` emits a direct static call on the unsafe string —
  * no row boxing, no serialization), which is the difference between a scan
  * -speed fingerprint pass and a UDF bottleneck at 100 TB.
  *
  * The DuckDB oracle computes the same fold via
  * `list_reduce(list_prepend(0, list_transform(string_split(text,''),
  * c -> ascii(c))), (a,b) -> (a*31+b) % P)`.
  */
case class PolyHash(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType
  override def nullable: Boolean = child.nullable

  override def nullSafeEval(input: Any): Any =
    PolyHash.hash(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.PolyHash.hash($c)")

  override protected def withNewChildInternal(newChild: Expression): PolyHash =
    copy(child = newChild)

  override def prettyName: String = "poly_hash"
}

object PolyHash {
  final val P: Long = 2147483647L

  /** Fold over Unicode code points; called from generated code per row. */
  def hash(s: UTF8String): Long = {
    val str = s.toString
    var acc = 0L
    var i = 0
    val n = str.length
    while (i < n) {
      val cp = str.codePointAt(i)
      acc = (acc * 31L + cp) % P
      i += Character.charCount(cp)
    }
    acc
  }
}
