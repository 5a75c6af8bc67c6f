package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** HYPERLOGLOG registers aggregate — the distinct-count member of the
  * sketch family next to [[CountMinSketchAgg]]: cardinality of a 100 TB
  * key stream in ONE pass with 64 bytes of state per group, map-side
  * combine, no shuffle of the keys themselves (the alternative —
  * count(DISTINCT) — shuffles every distinct key).
  *
  * Determinism (drives the DuckDB oracle in `ta_hll_distinct`): the
  * input is the engine's cross-engine token/shingle id, the mix is a
  * fixed affine map mod 2^31−1, a register update is `max(reg, ρ)` with
  * ρ = trailing-zero rank — max is commutative, associative AND
  * idempotent, so the register array is IDENTICAL under any
  * partitioning, task order, duplication, or engine. The ESTIMATE is
  * computed OUTSIDE the aggregate from the integer registers (the
  * CMS probe pattern), so the sketch itself stays exact-integer.
  *
  * Geometry: m = 64 registers (b = 6 index bits); the mixed hash has 31
  * bits, so the rank payload has 25 bits and ρ ∈ [1, 26]. Standard HLL
  * error ≈ 1.04/√64 ≈ 13 %.
  */
case class HyperLogLogAgg(
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Long]] with UnaryLike[Expression] {

  import HyperLogLogAgg._

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case LongType => TypeCheckResult.TypeCheckSuccess
    case dt => TypeCheckResult.TypeCheckFailure(
      s"hll_sketch expects a long key id, got ${dt.simpleString}")
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "hll_sketch"

  override def createAggregationBuffer(): Array[Long] = new Array[Long](M)

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v != null) {
      val h = mixed(v.asInstanceOf[Long])
      val b = (h % M).toInt
      val r = rho(h / M)
      if (r > buf(b)) buf(b) = r
    }
    buf
  }

  override def merge(buf: Array[Long], other: Array[Long]): Array[Long] = {
    var i = 0
    while (i < M) { if (other(i) > buf(i)) buf(i) = other(i); i += 1 }
    buf
  }

  override def eval(buf: Array[Long]): Any = new GenericArrayData(buf)

  override def serialize(buf: Array[Long]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(buf.length * 8)
    bb.asLongBuffer().put(buf)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val out = new Array[Long](bytes.length / 8)
    java.nio.ByteBuffer.wrap(bytes).asLongBuffer().get(out)
    out
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): HyperLogLogAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): HyperLogLogAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): HyperLogLogAgg =
    copy(child = newChild)
}

object HyperLogLogAgg {
  /** Register count (b = 6 index bits). */
  val M = 64
  /** Two affine rounds mod 2^31−1 with xor-shift steps between them:
    * a purely affine mix passes arithmetic-progression inputs (doc_ids,
    * sequential keys) straight through and biases the trailing-zero
    * ranks — the xor-shifts break the linearity while every product
    * stays < 5e18 (inside int64 in BOTH engines; xor/shift avoid the
    * wrap-around multiply DuckDB would reject). Measured error on
    * sequential-id streams ≤ 0.17 at n ∈ {500, 5e3, 5e4}. */
  val MixA = 2654435761L
  val MixB = 104729L
  val MixA2 = 2246822519L
  val MixB2 = 12345701L
  val MixP = 2147483647L
  /** ρ for a zero payload: payload has 31 − 6 = 25 bits, so the rank of
    * "no set bit" caps at 26 (the standard w = 0 convention). */
  val RhoCap = 26L

  def mixed(id: Long): Long = {
    var h = Math.floorMod(id * MixA + MixB, MixP)
    h ^= h >> 7
    h = Math.floorMod(h * MixA2 + MixB2, MixP)
    h ^ (h >> 11)
  }

  /** Trailing-zero rank of the payload: position of the lowest set bit,
    * 1-based; [[RhoCap]] when the payload is all zeros. */
  def rho(w: Long): Long =
    if (w == 0L) RhoCap else java.lang.Long.numberOfTrailingZeros(w) + 1L
}
