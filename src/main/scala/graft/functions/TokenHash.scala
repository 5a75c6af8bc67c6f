package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression: the dedup modules' character-polynomial
  * rolling hash `h ← (131·h + ascii(char)) mod 1e9+7` as one tight
  * byte loop, [[TokenHash.hash]], replacing a per-token
  * `aggregate(transform(sequence(1, length(tok)), i →
  * ascii(substr(tok, i, 1))), …)` expression tree that allocates an
  * index array and evaluates a substr+ascii pair per character.
  *
  * Exact-equivalence contract (pinned by a property test against the
  * HOF construction): Spark's `ascii` reads a character's LEADING byte,
  * so this loop folds every UTF-8 start byte (any byte not matching the
  * 10xxxxxx continuation pattern) as a signed value — identical to
  * `ascii(substr(tok, i, 1))` per character, and identical to the
  * Unicode code point for the ASCII corpora the dedup fixtures use. An
  * empty string folds to 0, matching the HOF version's explicit guard.
  */
case class TokenHash(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case dt => TypeCheckResult.TypeCheckFailure(
      s"token_hash expects a string argument, got ${dt.simpleString}")
  }

  override def dataType: DataType = LongType

  override def nullSafeEval(input: Any): Any = TokenHash.hash(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, in => s"graft.functions.TokenHash.hash($in)")

  override protected def withNewChildInternal(newChild: Expression): TokenHash =
    copy(child = newChild)
}

object TokenHash {
  private final val M = 1000000007L

  def hash(tok: UTF8String): Long = {
    val bs = tok.getBytes
    var h = 0L
    var i = 0
    while (i < bs.length) {
      if ((bs(i) & 0xC0) != 0x80) h = (h * 131 + bs(i).toLong) % M
      i += 1
    }
    h
  }
}
