package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Native Catalyst expression: dot product of two `array<double>` columns
  * with full whole-stage codegen (a tight primitive loop, no lambda
  * dispatch or per-pair array copying — the (b)-level extension point of
  * the build guide, vs `aggregate(zip_with(...))` chains).
  *
  * Registered as SQL function `dot_product` via [[GraftExtensions]]
  * (`SparkSessionExtensions.injectFunction`, the public extension API).
  * Null if either side is null OR the lengths differ — exactly the
  * value `aggregate(zip_with(a, b, (x,y) → x·y), 0.0, +)` produces
  * (zip_with pads the shorter side with nulls, which poison the fold),
  * so [[DotProductRewrite]] can swap the portable HOF form for this
  * expression with no semantic change. The sum is sequential
  * left-to-right, identical to the fold. */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(dt: DataType): Boolean = dt match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"dot_product expects two array<double> arguments, got " +
        s"${left.dataType.simpleString} and ${right.dataType.simpleString}")
  }

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    if (a.numElements() != b.numElements()) return null
    val n = a.numElements()
    var s = 0.0
    var i = 0
    while (i < n) { s += a.getDouble(i) * b.getDouble(i); i += 1 }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val s = ctx.freshName("s")
      s"""
         |if ($a.numElements() != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  int $n = $a.numElements();
         |  double $s = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    $s += $a.getDouble($i) * $b.getDouble($i);
         |  }
         |  ${ev.value} = $s;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProduct =
    copy(left = newLeft, right = newRight)
}

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
  * kernel; the post-loop form keeps the hot loop at scalar cost. Null
  * contract matches [[DotProduct]] (null input or length mismatch →
  * null). */
case class DotProductQ(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(dt: DataType): Boolean = dt match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"dot_product_q expects two array<double> arguments, got " +
        s"${left.dataType.simpleString} and ${right.dataType.simpleString}")
  }

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    if (a.numElements() != b.numElements()) return null
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

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val s = ctx.freshName("s")
      val t = ctx.freshName("t")
      val m = ctx.freshName("m")
      s"""
         |if ($a.numElements() != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  int $n = $a.numElements();
         |  long $s = 0L;
         |  double $m = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    double $t = Math.floor(
         |      $a.getDouble($i) * $b.getDouble($i) * 1.0E12 + 0.5);
         |    $s += (long) $t;
         |    $m = Math.max($m, Math.abs($t));
         |  }
         |  if (!($m * $n < 9.223372036854776E18)) {
         |    throw new ArithmeticException(
         |      "dot_product_q: quantized terms exceed the int64 domain " +
         |      "(max |x*y|*1e12*dims >= 2^63) - normalize inputs first");
         |  }
         |  ${ev.value} = (double) $s;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProductQ =
    copy(left = newLeft, right = newRight)
}

/** Session extensions registering the engine's native SQL functions,
  * optimizer rules and the AsOf planner strategy. Every graft session
  * requires them — the operators call these expressions directly, with
  * no interpreted fallback — and [[graft.GraftSession]] attaches them.
  * In such a session `expr("dot_product(a, b)")` resolves to the
  * codegen'd expression in any query. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectFunction((
      new FunctionIdentifier("dot_product"),
      new ExpressionInfo(classOf[DotProduct].getName, "dot_product"),
      (exprs: Seq[Expression]) => DotProduct(exprs.head, exprs(1))))
    e.injectFunction((
      new FunctionIdentifier("dot_product_q"),
      new ExpressionInfo(classOf[DotProductQ].getName, "dot_product_q"),
      (exprs: Seq[Expression]) => DotProductQ(exprs.head, exprs(1))))
    e.injectFunction(TokenHash.registration)
    e.injectFunction(CountMinSketchAgg.registration)
    e.injectFunction(HyperLogLogAgg.registration)
    e.injectFunction(NormalizeText.registration)
    e.injectFunction(BinaryBytes.registration)
    e.injectFunction(GramRunStats.registration)
    FmArrayOps.registrations.foreach(e.injectFunction)
    e.injectOptimizerRule(_ => DotProductRewrite)
    e.injectPlannerStrategy(_ => graft.plans.AsOfStrategy)
    e.injectOptimizerRule(_ => graft.plans.AsOfJoinOptimization.PushLeftFilters)
    e.injectOptimizerRule(_ => graft.plans.AsOfJoinOptimization.PruneChildColumns)
  }
}
