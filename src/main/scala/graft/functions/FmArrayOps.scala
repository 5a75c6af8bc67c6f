package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, QuaternaryExpression, QuinaryExpression, TernaryExpression, UnaryExpression, UnsafeArrayData, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native codegen'd replacements for the FM module's per-row array math
  * (r17, brief rule 4): the previous `transform` / `aggregate` /
  * `zip_with` higher-order functions are CodegenFallback — interpreted
  * once per ARRAY ELEMENT per exploded row, on the hottest rows the
  * engine produces (every (sample, feature) pair of every SGD epoch and
  * every scoring pass). Each expression below is one primitive loop —
  * one static kernel on its companion (or on [[FmInit]]) that its
  * `nullSafeEval` and its generated code both call — and reproduces its
  * HOF's floating-point operation ORDER exactly (left-to-right fold,
  * left-associated products), so every value is bit-identical — the
  * SGD/score SQL oracles and the golden suites gate that equivalence.
  * Input arrays are FM parameter/feature vectors and never carry null
  * elements (built by `vector_to_array`, `fm_init_vec`, `array_repeat`
  * or an array literal), and the two-array kernels refuse arrays of
  * unequal length; outputs are primitive double arrays.
  * `fm_init_strength`/`fm_init_vec` ([[FmInit]]) replace the seeded
  * init's Column composition and its `transform(sequence(…))`. */
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

  /** `a`'s length, which must equal `b`'s: `name`'s kernels index both
    * arrays by it. */
  private[functions] def sameLength(name: String, a: ArrayData, b: ArrayData): Int = {
    val n = a.numElements()
    if (b.numElements() != n) throw new IllegalArgumentException(
      s"$name expects arrays of equal length, got $n and ${b.numElements()}")
    n
  }
}

/** The FM trainer's seeded parameter init, replayed through the L1 soft
  * thresholds of the steps it missed: the shared scalar kernel of
  * [[FmInitStrength]] and [[FmInitVec]], called from both their
  * interpreted and their generated code.
  *
  * [[draw]] is bit-identical to the Column composition it replaces,
  * `sqrt(-2·log(u1)) · cos(2π·u2) · sd` with
  * `u = (pmod(xxhash64(tag, id, f, seed), 1e6) + 0.5) / 1e6`: Spark's
  * `xxhash64` chains XXH64 (seed 42) over its arguments left to right,
  * its `log` is `StrictMath.log`, and its `sqrt`/`cos` are `Math`'s.
  * [[replay]] applies, per shrinkage `s` in order, exactly the update a
  * parameter with no gradient takes in a step:
  * `c = x − 0.0; t = |c| − s; x = signum(c)·(t > 0 ? t : 0)`. */
object FmInit {
  private def tagHash(tag: String): Long =
    XXH64.hashUTF8String(UTF8String.fromString(tag), 42L)
  private val u1 = tagHash("bm-u1")
  private val u2 = tagHash("bm-u2")

  private def uniform(tag: Long, id: Int, f: Int, seed: Long): Double = {
    val h = XXH64.hashLong(seed, XXH64.hashInt(f, XXH64.hashInt(id, tag)))
    val r = h % 1000000L
    ((if (r < 0) (r + 1000000L) % 1000000L else r).toDouble + 0.5) / 1000000.0
  }

  /** Draw `f` of feature `id`: N(0, sd²), seeded. */
  private def draw(id: Int, f: Int, seed: Long, sd: Double): Double =
    Math.sqrt(-2.0 * StrictMath.log(uniform(u1, id, f, seed))) *
      Math.cos(2.0 * Math.PI * uniform(u2, id, f, seed)) * sd

  /** `x` after the soft thresholds `shrinks`, in order. */
  private def replay(x: Double, shrinks: ArrayData): Double = {
    var v = x
    var j = 0
    while (j < shrinks.numElements()) {
      val c = v - 0.0
      val t = Math.abs(c) - shrinks.getDouble(j)
      v = Math.signum(c) * (if (t > 0.0) t else 0.0)
      j += 1
    }
    v
  }

  /** Draw `f` of feature `id`, replayed through `shrinks`. */
  def value(id: Int, f: Int, seed: Long, sd: Double, shrinks: ArrayData): Double =
    replay(draw(id, f, seed, sd), shrinks)

  /** Draws `0 until k` of feature `id`, each replayed through `shrinks`. */
  def vec(id: Int, seed: Long, k: Int, sd: Double, shrinks: ArrayData): ArrayData = {
    val out = new Array[Double](k)
    var f = 0
    while (f < k) { out(f) = value(id, f, seed, sd, shrinks); f += 1 }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  private[functions] def checkArgs(name: String, id: Expression, seed: Expression,
      sd: Expression, shrinks: Expression): TypeCheckResult =
    if (id.dataType != IntegerType || seed.dataType != LongType || sd.dataType != DoubleType)
      TypeCheckResult.TypeCheckFailure(s"$name expects (int id, bigint seed, double sd)")
    else FmArrayOps.checkArr(name, shrinks -> "shrinks")
}

/** `fm_arr_scale(arr, x)` ≡ `transform(arr, v => v * x)`. */
case class FmArrScale(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (right.dataType != DoubleType)
      TypeCheckResult.TypeCheckFailure("fm_arr_scale expects a double scale")
    else FmArrayOps.checkArr("fm_arr_scale", left -> "arr")

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)

  override def nullSafeEval(arr: Any, x: Any): Any =
    FmArrScale.scale(arr.asInstanceOf[ArrayData], x.asInstanceOf[Double])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (arr, x) => s"graft.functions.FmArrScale.scale($arr, $x)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): FmArrScale =
    copy(left = newLeft, right = newRight)
}

object FmArrScale {
  def scale(arr: ArrayData, x: Double): ArrayData = {
    val out = new Array[Double](arr.numElements())
    var i = 0
    while (i < out.length) { out(i) = arr.getDouble(i) * x; i += 1 }
    UnsafeArrayData.fromPrimitiveArray(out)
  }
}

/** `fm_sq_sum(arr)` ≡ `aggregate(arr, 0.0, (a, v) => a + v * v)` —
  * the same left-to-right fold from 0.0, so the partial-sum doubles are
  * bit-identical. */
case class FmSqSum(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    FmArrayOps.checkArr("fm_sq_sum", child -> "arr")

  override def dataType: DataType = DoubleType

  override def nullSafeEval(arr: Any): Any = FmSqSum.sqSum(arr.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, arr => s"graft.functions.FmSqSum.sqSum($arr)")

  override protected def withNewChildInternal(newChild: Expression): FmSqSum =
    copy(child = newChild)
}

object FmSqSum {
  def sqSum(arr: ArrayData): Double = {
    var a = 0.0
    var i = 0
    while (i < arr.numElements()) { val v = arr.getDouble(i); a = a + v * v; i += 1 }
    a
  }
}

/** `fm_grad_v(vecArr, vfs, x, residual)` ≡
  * `transform(sequence(0, k-1), f =>
  *    (x * vfs[f+1] - vecArr[f+1] * x * x) * residual)`
  * with the HOF's exact association: `(x·vfs_f) − ((vecArr_f·x)·x)`,
  * then `· residual`. `vecArr` and `vfs` must have the same length. */
case class FmGradV(first: Expression, second: Expression,
    third: Expression, fourth: Expression) extends QuaternaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (third.dataType != DoubleType || fourth.dataType != DoubleType)
      TypeCheckResult.TypeCheckFailure("fm_grad_v expects double x/residual")
    else FmArrayOps.checkArr("fm_grad_v", first -> "vecArr", second -> "vfs")

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)

  override def nullSafeEval(vec: Any, vfs: Any, x: Any, r: Any): Any =
    FmGradV.gradV(vec.asInstanceOf[ArrayData], vfs.asInstanceOf[ArrayData],
      x.asInstanceOf[Double], r.asInstanceOf[Double])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (vec, vfs, x, r) =>
      s"graft.functions.FmGradV.gradV($vec, $vfs, $x, $r)")

  override protected def withNewChildrenInternal(newFirst: Expression,
      newSecond: Expression, newThird: Expression,
      newFourth: Expression): FmGradV =
    copy(first = newFirst, second = newSecond, third = newThird,
      fourth = newFourth)
}

object FmGradV {
  def gradV(vec: ArrayData, vfs: ArrayData, x: Double, r: Double): ArrayData = {
    val out = new Array[Double](FmArrayOps.sameLength("fm_grad_v", vec, vfs))
    var i = 0
    while (i < out.length) {
      out(i) = (x * vfs.getDouble(i) - vec.getDouble(i) * x * x) * r
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }
}

/** `fm_soft_update(vecArr, dV, shrinkage)` ≡
  * `zip_with(vecArr, dV, (v, g) => soft(v - g))` with
  * `soft(c) = signum(c) * greatest(0.0, abs(c) - shrinkage)` — the L1
  * soft-threshold. Per element: `Math.signum`/`Math.abs` are exactly
  * Spark's `Signum`/`Abs` on doubles, and `(t > 0.0) ? t : 0.0`
  * reproduces `greatest(lit(0.0), t)` (Spark's Greatest keeps the
  * first operand unless a later one compares strictly greater, so
  * `t = -0.0` yields `0.0` on both paths). `vecArr` and `dV` must have
  * the same length (`zip_with` would pad the shorter with nulls). */
case class FmSoftUpdate(first: Expression, second: Expression,
    third: Expression) extends TernaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (third.dataType != DoubleType)
      TypeCheckResult.TypeCheckFailure("fm_soft_update expects a double shrinkage")
    else FmArrayOps.checkArr("fm_soft_update", first -> "vecArr", second -> "dV")

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)

  override def nullSafeEval(vec: Any, dv: Any, s: Any): Any =
    FmSoftUpdate.softUpdate(vec.asInstanceOf[ArrayData], dv.asInstanceOf[ArrayData],
      s.asInstanceOf[Double])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (vec, dv, s) =>
      s"graft.functions.FmSoftUpdate.softUpdate($vec, $dv, $s)")

  override protected def withNewChildrenInternal(newFirst: Expression,
      newSecond: Expression, newThird: Expression): FmSoftUpdate =
    copy(first = newFirst, second = newSecond, third = newThird)
}

object FmSoftUpdate {
  def softUpdate(vec: ArrayData, dv: ArrayData, s: Double): ArrayData = {
    val out = new Array[Double](FmArrayOps.sameLength("fm_soft_update", vec, dv))
    var i = 0
    while (i < out.length) {
      val c = vec.getDouble(i) - dv.getDouble(i)
      val t = Math.abs(c) - s
      out(i) = Math.signum(c) * (if (t > 0.0) t else 0.0)
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }
}

/** `fm_init_strength(id, seed, sd, shrinks)`: feature `id`'s seeded
  * strength `draw(id, -1, seed, sd)`, replayed through the
  * soft thresholds `shrinks` ([[FmInit]]). */
case class FmInitStrength(first: Expression, second: Expression,
    third: Expression, fourth: Expression) extends QuaternaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    FmInit.checkArgs("fm_init_strength", first, second, third, fourth)

  override def dataType: DataType = DoubleType

  override def nullSafeEval(id: Any, seed: Any, sd: Any, shrinks: Any): Any =
    FmInit.value(id.asInstanceOf[Int], -1, seed.asInstanceOf[Long],
      sd.asInstanceOf[Double], shrinks.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (id, seed, sd, shrinks) =>
      s"graft.functions.FmInit.value($id, -1, $seed, $sd, $shrinks)")

  override protected def withNewChildrenInternal(newFirst: Expression,
      newSecond: Expression, newThird: Expression,
      newFourth: Expression): FmInitStrength =
    copy(first = newFirst, second = newSecond, third = newThird,
      fourth = newFourth)
}

/** `fm_init_vec(id, seed, k, sd, shrinks)`: feature `id`'s seeded factor
  * vector, element `f` = `draw(id, f, seed, sd)` replayed through
  * the soft thresholds `shrinks` ([[FmInit]]) — one loop over `f < k`, in
  * place of the `transform(sequence(0, k − 1), …)` higher-order function. */
case class FmInitVec(id: Expression, seed: Expression, k: Expression,
    sd: Expression, shrinks: Expression) extends QuinaryExpression {

  override def children: Seq[Expression] = Seq(id, seed, k, sd, shrinks)

  override def checkInputDataTypes(): TypeCheckResult =
    if (k.dataType != IntegerType)
      TypeCheckResult.TypeCheckFailure("fm_init_vec expects an int k")
    else FmInit.checkArgs("fm_init_vec", id, seed, sd, shrinks)

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)

  override def nullSafeEval(id: Any, seed: Any, k: Any, sd: Any, shrinks: Any): Any =
    FmInit.vec(id.asInstanceOf[Int], seed.asInstanceOf[Long], k.asInstanceOf[Int],
      sd.asInstanceOf[Double], shrinks.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (id, seed, k, sd, shrinks) =>
      s"graft.functions.FmInit.vec($id, $seed, $k, $sd, $shrinks)")

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): FmInitVec =
    copy(id = newChildren(0), seed = newChildren(1), k = newChildren(2),
      sd = newChildren(3), shrinks = newChildren(4))
}
