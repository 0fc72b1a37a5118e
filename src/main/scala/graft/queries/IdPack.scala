package graft.queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** The one packing of two graph integers into a long, `hi·2³² + lo`: the
  * co-occurrence edge `(u, v)` and the triangle rank `(degree, id)`. Both
  * sort and dedup as a single 8-byte key in codegen. The packing is exact
  * only inside its bounds, so the ids are checked where they enter the
  * graph and the degrees where they are packed; a value outside its bound
  * fails the task with a message naming the bound instead of decoding as a
  * different pair.
  */
private[graft] object IdPack {

  /** 2³²: every packed id lies in `[0, IdBound)`. */
  val IdBound = 4294967296L

  /** `id`, checked to lie in `[0, 2³²)`; null passes through. */
  def checkedId(id: Column): Column =
    when(id < 0 || id >= IdBound, fail("a vertex id must lie in [0, 2^32)", id)).otherwise(id)

  /** `hi·2³² + lo` for ids from [[checkedId]]. With `hi >= 2³¹` the long
    * wraps negative (still bijective; [[hi]] decodes it with a logical
    * shift).
    */
  def pack(hi: Column, lo: Column): Column = hi * IdBound + lo

  def hi(packed: Column): Column = shiftrightunsigned(packed, 32)

  def lo(packed: Column): Column = packed.bitwiseAND(lit(IdBound - 1))

  /** `deg·2³² + id`, checked to `deg < 2³¹`: the rank stays non-negative,
    * so ranks order as `(deg, id)`.
    */
  def rank(deg: Column, id: Column): Column =
    when(deg >= (1L << 31), fail("a vertex degree must lie below 2^31", deg))
      .otherwise(pack(deg, id))

  private def fail(bound: String, got: Column): Column =
    raise_error(concat(lit(s"graph id packing: $bound, got "), got.cast("string")))
}
