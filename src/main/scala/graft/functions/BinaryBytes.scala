package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, BinaryType, DataType, IntegerType}

/** Native Catalyst expression: a binary payload's bytes as
  * `array<int>` of UNSIGNED values (0–255) — one O(n) copy
  * that makes every subsequent byte access an O(1) `element_at`.
  *
  * Spark's SQL surface has no positional access into `binary`, so the
  * multimodal checksum queries previously went through
  * `conv(substr(hex(payload), 2p−1, 2), 16, 10)` per position — and
  * `UTF8String.substring` walks the string from the start, which turns
  * a whole-payload fold into O(n²) character scanning (measured: the
  * two payload-checksum queries dominated the bench at ~100 s each at
  * sf0.1). Decoding the bytes once into a primitive int array keeps
  * the fold inside whole-stage codegen at O(n) with zero per-access
  * allocation — payloads still never shuffle; this runs map-side.
  */
case class BinaryBytes(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case BinaryType => TypeCheckResult.TypeCheckSuccess
    case dt => TypeCheckResult.TypeCheckFailure(
      s"binary_bytes expects a binary argument, got ${dt.simpleString}")
  }

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

  override def nullSafeEval(input: Any): Any = BinaryBytes.unsigned(input.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, in => s"graft.functions.BinaryBytes.unsigned($in)")

  override protected def withNewChildInternal(newChild: Expression): BinaryBytes =
    copy(child = newChild)
}

object BinaryBytes {
  def unsigned(bs: Array[Byte]): ArrayData = {
    val out = new Array[Int](bs.length)
    var i = 0
    while (i < bs.length) { out(i) = bs(i) & 0xff; i += 1 }
    UnsafeArrayData.fromPrimitiveArray(out)
  }
}
