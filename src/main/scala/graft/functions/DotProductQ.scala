package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{DataType, DoubleType}

/** Native Catalyst expression: QUANTIZED dot product — each per-element
  * product is quantized to an integer picounit (`floor(x·y·1e12 + 0.5)`,
  * plain IEEE-double ops that any engine reproduces bit-identically),
  * then summed in exact int64 arithmetic, and the exact integer total is
  * returned as a double. The result is therefore independent of
  * summation order AND of any per-engine rounding implementation — the
  * foundation of the r11 cross-engine-exact cosine: with norms built
  * from `dot_product_q(v, v)`, `dot/(n1·n2)` is bit-identical in Spark
  * and DuckDB, so ranks, thresholds and displays need no absorbing
  * grain at all. Domain: max |x·y|·1e12·dims must stay under 2^63
  * (unit-scale embeddings have ample headroom; normalize first
  * otherwise — same guidance as `Similarity.qSqDist`) — and the domain
  * is ENFORCED, not assumed (r11 advice): the loop tracks the max
  * |term| branchlessly (one `maxsd` per element) and the bound
  * `max·dims < 2^63` is asserted AFTER the loop — it implies every
  * partial sum fits, so neither the per-term long cast nor the
  * accumulation can have wrapped; an out-of-domain input fails fast
  * with an `ArithmeticException` instead of silently wrapping. Silent
  * wraparound is exactly the cross-engine divergence class this
  * expression was built to eliminate (the DuckDB twins CAST to BIGINT,
  * which throws, and sum into HUGEINT — beyond the domain the engines
  * would silently disagree on cosines and ranks). An in-loop branch +
  * `Math.addExact` variant measured ~50% slower on the fused-cosine
  * kernel; the post-loop form keeps the hot loop at scalar cost. A null
  * input or a length mismatch gives null, as the HOF fold
  * `aggregate(zip_with(a, b, …), …)` does (zip_with pads the shorter
  * side with nulls, which poison the fold). */
case class DotProductQ(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    FmArrayOps.checkArr("dot_product_q", left -> "a", right -> "b")

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    if (a.numElements() == b.numElements()) DotProductQ.dot(a, b) else null
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"""
         |${ev.isNull} = $a.numElements() != $b.numElements();
         |if (!${ev.isNull}) ${ev.value} = graft.functions.DotProductQ.dot($a, $b);
       """.stripMargin)

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProductQ =
    copy(left = newLeft, right = newRight)
}

object DotProductQ {
  /** The quantized dot of two arrays of equal length. */
  def dot(a: ArrayData, b: ArrayData): Double = {
    val n = a.numElements()
    var s = 0L
    var m = 0.0
    var i = 0
    // BRANCHLESS domain tracking (r12: an in-loop range branch +
    // addExact cost ~50% on the fused-cosine hot kernel): accumulate
    // the max |term| alongside the sum (one maxsd, no branch) and
    // enforce AFTER the loop — every partial sum is bounded by n·max,
    // so n·max < 2^63 proves no per-term saturation AND no wraparound
    // anywhere in the accumulation. Conservative in exactly the shape
    // the documented domain states: max |x·y|·1e12·dims < 2^63.
    while (i < n) {
      val t = math.floor(a.getDouble(i) * b.getDouble(i) * 1e12 + 0.5)
      s += t.toLong
      m = math.max(m, math.abs(t))
      i += 1
    }
    if (!(m * n < 9.223372036854776e18))
      throw new ArithmeticException(
        "dot_product_q: quantized terms exceed the int64 domain " +
          "(max |x*y|*1e12*dims >= 2^63) — normalize inputs first")
    s.toDouble
  }
}
