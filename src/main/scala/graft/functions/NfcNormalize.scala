package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Unicode NFC normalization (`java.text.Normalizer.Form.NFC`) as a native
  * Catalyst expression — the canonicalization pass every text-curation
  * pipeline runs before hashing, deduplication, or tokenization: visually
  * identical strings with different code-point sequences (precomposed
  * `é` U+00E9 vs `e` + combining acute U+0301) must collapse to ONE form
  * or every downstream equality — exact-dedup fingerprints, MinHash
  * shingles, BPE merges, grouping keys — silently fractures along
  * encoding provenance (macOS drag-drop produces NFD, most web text NFC).
  *
  * A codegen'd `Expression` rather than a Scala UDF for the same reason as
  * [[PolyHash]]: `doGenCode` emits a direct static call on the value, so
  * the pass stays inside whole-stage codegen at scan speed — no row
  * boxing, no serialization boundary — which is the difference between
  * "normalization is free during ingest" and a dedicated corpus pass at
  * 100 TB.
  *
  * Fast paths worth noting (ADVICE r15 tightened the claim): pure-ASCII
  * rows short-circuit on the raw UTF-8 bytes (`isFullAscii` — every byte
  * < 0x80 is NFC by definition) with zero allocation; non-ASCII rows pay
  * one UTF-16 view (`toString`) for `Normalizer.isNormalized`, which is
  * O(n) with no further allocation when already normalized — so only
  * rows that actually need it pay the full decompose/recompose.
  *
  * The DuckDB oracle replays with its built-in `nfc_normalize`. Both
  * engines implement Unicode canonical composition, so results agree
  * code point for code point.
  */
case class NfcNormalize(child: Expression) extends UnaryExpression {

  override def dataType: DataType = StringType
  override def nullable: Boolean = child.nullable

  override def nullSafeEval(input: Any): Any =
    NfcNormalize.normalize(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.NfcNormalize.normalize($c)")

  override protected def withNewChildInternal(newChild: Expression): NfcNormalize =
    copy(child = newChild)

  override def prettyName: String = "nfc_normalize"
}

object NfcNormalize {

  /** Called from generated code per row. Pure-ASCII bytes are NFC by
    * definition (no combining sequences below U+0080), so that check on
    * the UTF8String itself avoids the UTF-16 copy entirely for the
    * ASCII-dominant corpora case.
    */
  def normalize(s: UTF8String): UTF8String = {
    if (s.isFullAscii) return s
    val str = s.toString
    if (java.text.Normalizer.isNormalized(str, java.text.Normalizer.Form.NFC)) s
    else UTF8String.fromString(
      java.text.Normalizer.normalize(str, java.text.Normalizer.Form.NFC))
  }
}
