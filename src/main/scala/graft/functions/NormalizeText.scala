package graft.functions

import java.text.Normalizer

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression `normalize_text(s)`: Unicode-aware text
  * canonicalization for corpus cleaning (r5, the documented gap behind
  * `ta_normalize`'s ASCII scope) —
  *
  *   1. NFC-compose (é as e+◌́ and é as one code point become equal),
  *   2. NFD-decompose and strip combining marks (`\p{Mn}`): café → cafe,
  *      naïve → naive, Ångström → Angstrom,
  *   3. lower-case (Unicode-aware, Locale.ROOT — no Turkish-İ surprise).
  *
  * ASCII inputs pass through a fast path (the common case on already-
  * clean corpora: no allocation beyond the lower-case copy, no
  * Normalizer call — ASCII is closed under NFC/NFD and has no
  * combining marks, so the fast path is exact, not approximate).
  *
  * A DuckDB oracle cannot express Java's Normalizer, so this operator
  * is pinned by UnicodeNormalizeSuite instead: golden folds, an
  * idempotence property, and a self-validating round-trip over a
  * deterministically diacritic-injected documents corpus at two SFs
  * (the SQL-oracle ta_normalize query retains the ASCII scope).
  *
  * Codegen: one static call per row (the same shape as Spark's own
  * string expressions); the normalization itself is driver-free,
  * per-row, and embarrassingly parallel.
  */
case class NormalizeText(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case dt => TypeCheckResult.TypeCheckFailure(
      s"normalize_text expects a string argument, got ${dt.simpleString}")
  }

  override def dataType: DataType = StringType

  override def nullSafeEval(input: Any): Any =
    NormalizeText.fold(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, in =>
      s"graft.functions.NormalizeText.fold($in)")

  override protected def withNewChildInternal(newChild: Expression): NormalizeText =
    copy(child = newChild)
}

object NormalizeText {

  /** NFC → NFD-minus-combining-marks → lower. Static so codegen can
    * call it without capturing the expression instance. */
  def fold(in: UTF8String): UTF8String = {
    val bytes = in.getBytes
    var ascii = true
    var i = 0
    while (ascii && i < bytes.length) {
      if (bytes(i) < 0) ascii = false
      i += 1
    }
    val s = in.toString
    val folded =
      if (ascii) s.toLowerCase(java.util.Locale.ROOT)
      else {
        val nfc = Normalizer.normalize(s, Normalizer.Form.NFC)
        val nfd = Normalizer.normalize(nfc, Normalizer.Form.NFD)
        val sb = new java.lang.StringBuilder(nfd.length)
        var j = 0
        while (j < nfd.length) {
          val c = nfd.charAt(j)
          if (Character.getType(c) != Character.NON_SPACING_MARK) sb.append(c)
          j += 1
        }
        // re-compose whatever legitimately remains (e.g. Hangul jamo)
        Normalizer.normalize(sb.toString, Normalizer.Form.NFC)
          .toLowerCase(java.util.Locale.ROOT)
      }
    UTF8String.fromString(folded)
  }
}
