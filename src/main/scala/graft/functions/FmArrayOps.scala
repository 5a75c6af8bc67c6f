package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo, QuaternaryExpression, TernaryExpression, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native codegen'd replacements for the FM module's per-row array math
  * (r17, brief rule 4): the previous `transform` / `aggregate` /
  * `zip_with` higher-order functions are CodegenFallback — interpreted
  * once per ARRAY ELEMENT per exploded row, on the hottest rows the
  * engine produces (every (sample, feature) pair of every SGD epoch and
  * every scoring pass). Each expression below is one compiled primitive
  * loop and reproduces its HOF's floating-point operation ORDER exactly
  * (left-to-right fold, left-associated products), so every value is
  * bit-identical — the SGD/score SQL oracles and the golden suites gate
  * that equivalence. Input arrays are FM parameter/feature vectors and
  * never carry null elements (built by `vector_to_array`, `transform`,
  * or `array_repeat`); outputs are primitive double arrays. */
object FmArrayOps {

  private def arrType(e: Expression): Boolean = e.dataType match {
    case ArrayType(DoubleType, _) => true
    case _ => false
  }

  private[functions] def checkArr(name: String, es: (Expression, String)*): TypeCheckResult = {
    val bad = es.collectFirst {
      case (e, what) if !arrType(e) =>
        s"$name expects $what to be array<double>, got ${e.dataType.simpleString}"
    }
    bad.map(TypeCheckResult.TypeCheckFailure).getOrElse(TypeCheckResult.TypeCheckSuccess)
  }

  val registrations: Seq[(org.apache.spark.sql.catalyst.FunctionIdentifier,
      ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    (new org.apache.spark.sql.catalyst.FunctionIdentifier("fm_arr_scale"),
      new ExpressionInfo(classOf[FmArrScale].getName, "fm_arr_scale"),
      (es: Seq[Expression]) => FmArrScale(es.head, es(1))),
    (new org.apache.spark.sql.catalyst.FunctionIdentifier("fm_sq_sum"),
      new ExpressionInfo(classOf[FmSqSum].getName, "fm_sq_sum"),
      (es: Seq[Expression]) => FmSqSum(es.head)),
    (new org.apache.spark.sql.catalyst.FunctionIdentifier("fm_grad_v"),
      new ExpressionInfo(classOf[FmGradV].getName, "fm_grad_v"),
      (es: Seq[Expression]) => FmGradV(es.head, es(1), es(2), es(3))),
    (new org.apache.spark.sql.catalyst.FunctionIdentifier("fm_soft_update"),
      new ExpressionInfo(classOf[FmSoftUpdate].getName, "fm_soft_update"),
      (es: Seq[Expression]) => FmSoftUpdate(es.head, es(1), es(2))))
}

/** `fm_arr_scale(arr, x)` ≡ `transform(arr, v => v * x)`. */
case class FmArrScale(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (right.dataType != DoubleType)
      TypeCheckResult.TypeCheckFailure("fm_arr_scale expects a double scale")
    else FmArrayOps.checkArr("fm_arr_scale", left -> "arr")

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)

  override def nullSafeEval(arrAny: Any, xAny: Any): Any = {
    val arr = arrAny.asInstanceOf[ArrayData]
    val x = xAny.asInstanceOf[Double]
    val n = arr.numElements()
    val out = new Array[Double](n)
    var i = 0
    while (i < n) { out(i) = arr.getDouble(i) * x; i += 1 }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (arr, x) => {
      val n = ctx.freshName("n")
      val out = ctx.freshName("out")
      val i = ctx.freshName("i")
      s"""
         |int $n = $arr.numElements();
         |double[] $out = new double[$n];
         |for (int $i = 0; $i < $n; $i++) {
         |  $out[$i] = $arr.getDouble($i) * $x;
         |}
         |${ev.value} = org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
         |  .fromPrimitiveArray($out);
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): FmArrScale =
    copy(left = newLeft, right = newRight)
}

/** `fm_sq_sum(arr)` ≡ `aggregate(arr, 0.0, (a, v) => a + v * v)` —
  * the same left-to-right fold from 0.0, so the partial-sum doubles are
  * bit-identical. */
case class FmSqSum(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    FmArrayOps.checkArr("fm_sq_sum", child -> "arr")

  override def dataType: DataType = DoubleType

  override def nullSafeEval(arrAny: Any): Any = {
    val arr = arrAny.asInstanceOf[ArrayData]
    val n = arr.numElements()
    var a = 0.0
    var i = 0
    while (i < n) { val v = arr.getDouble(i); a = a + v * v; i += 1 }
    a
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, arr => {
      val n = ctx.freshName("n")
      val a = ctx.freshName("a")
      val v = ctx.freshName("v")
      val i = ctx.freshName("i")
      s"""
         |int $n = $arr.numElements();
         |double $a = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $v = $arr.getDouble($i);
         |  $a = $a + $v * $v;
         |}
         |${ev.value} = $a;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): FmSqSum =
    copy(child = newChild)
}

/** `fm_grad_v(vecArr, vfs, x, residual)` ≡
  * `transform(sequence(0, k-1), f =>
  *    (x * vfs[f+1] - vecArr[f+1] * x * x) * residual)`
  * with the HOF's exact association: `(x·vfs_f) − ((vecArr_f·x)·x)`,
  * then `· residual`. */
case class FmGradV(first: Expression, second: Expression,
    third: Expression, fourth: Expression) extends QuaternaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (third.dataType != DoubleType || fourth.dataType != DoubleType)
      TypeCheckResult.TypeCheckFailure("fm_grad_v expects double x/residual")
    else FmArrayOps.checkArr("fm_grad_v", first -> "vecArr", second -> "vfs")

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)

  override def nullSafeEval(vecAny: Any, vfsAny: Any, xAny: Any, rAny: Any): Any = {
    val vec = vecAny.asInstanceOf[ArrayData]
    val vfs = vfsAny.asInstanceOf[ArrayData]
    val x = xAny.asInstanceOf[Double]
    val r = rAny.asInstanceOf[Double]
    val n = vec.numElements()
    val out = new Array[Double](n)
    var i = 0
    while (i < n) {
      out(i) = (x * vfs.getDouble(i) - vec.getDouble(i) * x * x) * r
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (vec, vfs, x, r) => {
      val n = ctx.freshName("n")
      val out = ctx.freshName("out")
      val i = ctx.freshName("i")
      s"""
         |int $n = $vec.numElements();
         |double[] $out = new double[$n];
         |for (int $i = 0; $i < $n; $i++) {
         |  $out[$i] = ($x * $vfs.getDouble($i)
         |    - $vec.getDouble($i) * $x * $x) * $r;
         |}
         |${ev.value} = org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
         |  .fromPrimitiveArray($out);
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newFirst: Expression,
      newSecond: Expression, newThird: Expression,
      newFourth: Expression): FmGradV =
    copy(first = newFirst, second = newSecond, third = newThird,
      fourth = newFourth)
}

/** `fm_soft_update(vecArr, dV, shrinkage)` ≡
  * `zip_with(vecArr, dV, (v, g) => soft(v - g))` with
  * `soft(c) = signum(c) * greatest(0.0, abs(c) - shrinkage)` — the L1
  * soft-threshold. Per element: `Math.signum`/`Math.abs` are exactly
  * Spark's `Signum`/`Abs` on doubles, and `(t > 0.0) ? t : 0.0`
  * reproduces `greatest(lit(0.0), t)` (Spark's Greatest keeps the
  * first operand unless a later one compares strictly greater, so
  * `t = -0.0` yields `0.0` on both paths). */
case class FmSoftUpdate(first: Expression, second: Expression,
    third: Expression) extends TernaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (third.dataType != DoubleType)
      TypeCheckResult.TypeCheckFailure("fm_soft_update expects a double shrinkage")
    else FmArrayOps.checkArr("fm_soft_update", first -> "vecArr", second -> "dV")

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)

  override def nullSafeEval(vecAny: Any, dvAny: Any, sAny: Any): Any = {
    val vec = vecAny.asInstanceOf[ArrayData]
    val dv = dvAny.asInstanceOf[ArrayData]
    val s = sAny.asInstanceOf[Double]
    val n = vec.numElements()
    val out = new Array[Double](n)
    var i = 0
    while (i < n) {
      val c = vec.getDouble(i) - dv.getDouble(i)
      val t = Math.abs(c) - s
      out(i) = Math.signum(c) * (if (t > 0.0) t else 0.0)
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (vec, dv, s) => {
      val n = ctx.freshName("n")
      val out = ctx.freshName("out")
      val i = ctx.freshName("i")
      val c = ctx.freshName("c")
      val t = ctx.freshName("t")
      s"""
         |int $n = $vec.numElements();
         |double[] $out = new double[$n];
         |for (int $i = 0; $i < $n; $i++) {
         |  double $c = $vec.getDouble($i) - $dv.getDouble($i);
         |  double $t = Math.abs($c) - $s;
         |  $out[$i] = Math.signum($c) * (($t > 0.0) ? $t : 0.0);
         |}
         |${ev.value} = org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
         |  .fromPrimitiveArray($out);
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newFirst: Expression,
      newSecond: Expression, newThird: Expression): FmSoftUpdate =
    copy(first = newFirst, second = newSecond, third = newThird)
}
