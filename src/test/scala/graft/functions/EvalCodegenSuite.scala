package graft.functions

import scala.util.Try

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression, Literal, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Every row expression registered by [[GraftExtensions]] gives the same
  * raw bits through `Expression.eval` and through a generated
  * projection, on the same adversarial inputs; where one path throws,
  * the other throws the same error. */
class EvalCodegenSuite extends AnyFunSuite with Matchers {

  private val rng = new scala.util.Random(5)

  private val doubles: Seq[Any] = Seq(null, 0.0, -0.0, 1.0, -2.5, Double.NaN,
    Double.PositiveInfinity, Double.NegativeInfinity, Double.MinPositiveValue,
    Double.MaxValue, 1e-300, -1e300, rng.nextGaussian(), rng.nextGaussian() * 1e9)

  private def arr(ds: Double*): ArrayData = UnsafeArrayData.fromPrimitiveArray(ds.toArray)

  private val arrays: Seq[Any] = Seq(null, arr(), arr(-0.0), arr(Double.NaN),
    arr(Seq.fill(8)(rng.nextGaussian()): _*),
    arr(0.0, -0.0, Double.MinPositiveValue, -1e-300, 1e300, Double.NaN,
      Double.PositiveInfinity, -1.0),
    arr(Seq.fill(8)(rng.nextDouble() * 2 - 1): _*))

  private val strings: Seq[Any] = (Seq("", "a", "hello world", "caf\u00e9", "cafe\u0301",
    "ÅNGSTRÖM naïve", "😀 ok", "İstanbul") ++
    Seq.fill(20)((0 until rng.nextInt(30)).map(_ => rng.nextInt(0x800).toChar).mkString))
    .map(UTF8String.fromString) ++ Seq(null,
      UTF8String.fromBytes(Array[Byte](0x80.toByte, 0xBF.toByte, 'a', 0xC3.toByte)))

  private val ints: Seq[Any] = Seq(null, Int.MinValue, -1, 0, 1, 7, 1 << 20, Int.MaxValue)
  private val longs: Seq[Any] = Seq(null, Long.MinValue, -3L, 0L, 7L, Long.MaxValue)
  private val ks: Seq[Any] = Seq(null, -1, 0, 1, 8)

  /** Each registered row expression, bound to input columns, with its
    * input rows: every combination of the argument candidates. */
  private val cases: Seq[(Expression, Seq[Seq[Any]])] = {
    def in(i: Int, dt: DataType) = BoundReference(i, dt, nullable = true)
    val arrT = ArrayType(DoubleType, containsNull = false)
    val shrinks: Seq[Any] = Seq(null, arr(), arr(1e-3), arr(0.5, 0.25, 0.125),
      arr(1e-320, 0.0, Double.NaN))
    val tokens: Seq[Any] = Seq(null,
      new GenericArrayData(Array.empty[Any]),
      new GenericArrayData(Seq("a", "b", "a", "b", "a").map(UTF8String.fromString).toArray[Any]),
      new GenericArrayData(Seq("a b", "c", "a", "b c").map(UTF8String.fromString).toArray[Any]),
      new GenericArrayData(Array[Any](UTF8String.fromString("x"), null,
        UTF8String.fromString("x"), null)))
    def combos(args: Seq[Any]*): Seq[Seq[Any]] =
      args.foldLeft(Seq(Seq.empty[Any]))((acc, cs) => for (a <- acc; c <- cs) yield a :+ c)
    Seq(
      DotProductQ(in(0, arrT), in(1, arrT)) -> combos(arrays, arrays),
      TokenHash(in(0, StringType)) -> combos(strings),
      NormalizeText(in(0, StringType)) -> combos(strings),
      BinaryBytes(in(0, BinaryType)) -> combos(Seq(null, Array.emptyByteArray,
        (-128 to 127).map(_.toByte).toArray, Array[Byte](0, -1, 127))),
      GramRunStats(in(0, ArrayType(StringType)), Literal(2)) -> combos(tokens),
      FmArrScale(in(0, arrT), in(1, DoubleType)) -> combos(arrays, doubles),
      FmSqSum(in(0, arrT)) -> combos(arrays),
      FmGradV(in(0, arrT), in(1, arrT), in(2, DoubleType), in(3, DoubleType)) ->
        combos(arrays, arrays, doubles, doubles),
      FmSoftUpdate(in(0, arrT), in(1, arrT), in(2, DoubleType)) ->
        combos(arrays, arrays, doubles),
      FmInitStrength(in(0, IntegerType), in(1, LongType), in(2, DoubleType), in(3, arrT)) ->
        combos(ints, longs, doubles, shrinks),
      FmInitVec(in(0, IntegerType), in(1, LongType), in(2, IntegerType), in(3, DoubleType),
        in(4, arrT)) -> combos(ints.take(4), longs.take(4), ks, doubles, shrinks))
  }

  /** A value as comparable raw bits. */
  private def canon(v: Any, dt: DataType): Any = (v, dt) match {
    case (null, _) => null
    case (d: Double, DoubleType) => java.lang.Double.doubleToRawLongBits(d)
    case (a: ArrayData, ArrayType(DoubleType, _)) =>
      a.toDoubleArray().map(java.lang.Double.doubleToRawLongBits).toSeq
    case (a: ArrayData, ArrayType(IntegerType, _)) => a.toIntArray().toSeq
    case (r: InternalRow, st: StructType) => st.fields.indices.map(i => r.get(i, st(i).dataType))
    case (s: UTF8String, StringType) => s.getBytes.toSeq
    case (x, _) => x
  }

  /** A result or the error it threw, as (class, message). */
  private def outcome(f: => Any): Either[(String, String), Any] =
    Try(f).toEither.left.map(e => (e.getClass.getName, e.getMessage))

  test("every registered row expression is covered") {
    val registered = GraftExtensions.functions.map(_._2).filterNot(
      classOf[org.apache.spark.sql.catalyst.expressions.aggregate.AggregateFunction]
        .isAssignableFrom)
    cases.map(_._1.getClass).toSet shouldBe registered.toSet
  }

  /** An input value, readable in a failure message. */
  private def show(v: Any): String = v match {
    case a: UnsafeArrayData => a.toDoubleArray().mkString("[", ", ", "]")
    case a: GenericArrayData => a.array.mkString("[", ", ", "]")
    case b: Array[Byte] => b.mkString("[", ", ", "]")
    case x => String.valueOf(x)
  }

  for ((e, rows) <- cases) {
    val name = GraftExtensions.functions.collectFirst { case (n, c, _) if c == e.getClass => n }.get
    test(s"$name: eval and generated code agree bitwise") {
      e.checkInputDataTypes().isSuccess shouldBe true
      val generated = GenerateUnsafeProjection.generate(Seq(e))
      var thrown = 0
      for (values <- rows) withClue(s"$name(${values.map(show).mkString(", ")}): ") {
        val row = InternalRow.fromSeq(values)
        val interpreted = outcome(canon(e.eval(row), e.dataType))
        val compiled = outcome(canon(generated(row).get(0, e.dataType), e.dataType))
        compiled shouldBe interpreted
        if (interpreted.isLeft) thrown += 1
      }
      info(s"${rows.size} inputs, $thrown refused on both paths")
    }
  }
}
