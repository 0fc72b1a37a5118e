package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}

/** 64-bit SimHash signature of a token array, returned as `[lo, hi]` — two
  * unsigned 32-bit halves carried in signed BIGINTs so every downstream
  * band/XOR stays inside what both Spark and DuckDB can express exactly.
  *
  * Per token (with multiplicity): md5 is computed ONCE; hex digits 1-8
  * (bytes 0-3, big-endian) vote the `lo` bits, digits 9-16 (bytes 4-7) vote
  * the `hi` bits — bit j gets +1 when set, -1 when clear; signature bit j is
  * set iff its vote sum is positive. Bit-identical to the DuckDB oracle's
  * 64-column `sum(CASE ...)` formulation over exploded tokens.
  *
  * A native codegen'd expression instead of explode + 64-wide hash
  * aggregate: the round-2 formulation shuffled ~1M exploded token rows into
  * a 64-buffer aggregate and evaluated md5 twice per token; this is one
  * pass over the in-row array at scan speed, so at 100 TB the signature is
  * pure map-side projection work with NO shuffle at all.
  */
case class SimHash64(child: Expression) extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = child.nullable

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"simhash64 expects array<string>, got $other")
    }

  override def nullSafeEval(input: Any): Any =
    SimHash64.compute(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.SimHash64.compute($c)")

  override protected def withNewChildInternal(newChild: Expression): SimHash64 =
    copy(child = newChild)

  override def prettyName: String = "simhash64"
}

object SimHash64 {

  private val digests = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** One pass over the token array; called from generated code per row. */
  def compute(tokens: ArrayData): ArrayData = {
    val votes = new Array[Int](64)
    val md = digests.get()
    val n = tokens.numElements()
    var i = 0
    while (i < n) {
      val tok = tokens.getUTF8String(i)
      if (tok != null) {
        val d = md.digest(tok.getBytes) // digest() resets the instance
        val h1 = ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
          ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
        val h2 = ((d(4) & 0xffL) << 24) | ((d(5) & 0xffL) << 16) |
          ((d(6) & 0xffL) << 8) | (d(7) & 0xffL)
        var j = 0
        while (j < 32) {
          votes(j) += ((((h1 >>> j) & 1L) << 1) - 1L).toInt
          votes(32 + j) += ((((h2 >>> j) & 1L) << 1) - 1L).toInt
          j += 1
        }
      }
      i += 1
    }
    var lo = 0L
    var hi = 0L
    var j = 0
    while (j < 32) {
      if (votes(j) > 0) lo |= 1L << j
      if (votes(32 + j) > 0) hi |= 1L << j
      j += 1
    }
    new GenericArrayData(Array(lo, hi))
  }
}
