package graft.functions

import java.nio.ByteBuffer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** COUNT-MIN SKETCH aggregate — the `TypedImperativeAggregate` extension
  * point (mutable out-of-codegen buffer, explicit serialize/merge), the
  * canonical way to ship a sketch through Spark's partial-aggregation
  * machinery. The reference has one custom aggregate (a vector sum,
  * `FactorizationMachines.scala:41-81`, ported as `graft.fm.VectorSum`);
  * this adds the sublinear-sketch family a 100 TB profiling pass needs:
  * approximate per-item frequencies in ONE pass, fixed 8 KiB of state
  * per partition, map-side combine, no shuffle of the corpus.
  *
  * Determinism (drives the DuckDB oracle in `ta_cms_heavy`): the d=4
  * bucket functions are fixed affine maps `((tid·A_i + B_i) mod P) mod
  * w` of the engine's cross-engine `token_hash` id, and counter merge
  * is elementwise addition — commutative and associative — so the final
  * sketch is IDENTICAL under any partitioning, task order, or engine,
  * unlike order-sensitive sketches (GK quantiles, Misra-Gries). The
  * estimate `min_i counter[i][bucket_i(t)]` then never under-counts
  * (every occurrence of t lands in all four probed cells) and
  * over-counts only by hash collisions.
  *
  * Buffer: d·w longs flat; w=512 → ε ≈ e/512 ≈ 0.5 % of the stream
  * length at δ = e^-4.
  */
case class CountMinSketchAgg(
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Long]] with UnaryLike[Expression] {

  import CountMinSketchAgg._

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case LongType => TypeCheckResult.TypeCheckSuccess
    case dt => TypeCheckResult.TypeCheckFailure(
      s"cms_sketch expects a long token id, got ${dt.simpleString}")
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "cms_sketch"

  override def createAggregationBuffer(): Array[Long] = new Array[Long](D * W)

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v != null) {
      val tid = v.asInstanceOf[Long]
      var i = 0
      while (i < D) {
        buf(i * W + bucket(tid, i)) += 1L
        i += 1
      }
    }
    buf
  }

  override def merge(buf: Array[Long], other: Array[Long]): Array[Long] = {
    var i = 0
    while (i < buf.length) { buf(i) += other(i); i += 1 }
    buf
  }

  override def eval(buf: Array[Long]): Any = new GenericArrayData(buf)

  override def serialize(buf: Array[Long]): Array[Byte] = {
    val bb = ByteBuffer.allocate(buf.length * 8)
    bb.asLongBuffer().put(buf)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val out = new Array[Long](bytes.length / 8)
    ByteBuffer.wrap(bytes).asLongBuffer().get(out)
    out
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): CountMinSketchAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): CountMinSketchAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): CountMinSketchAgg =
    copy(child = newChild)
}

object CountMinSketchAgg {
  /** Sketch geometry and the affine bucket maps — shared verbatim by the
    * DuckDB oracle SQL in TextAnalysis (hash values stay < P·max(A)+B ≈
    * 5e10, far inside int64 in both engines). */
  val D = 4
  val W = 512
  val P = 1000000007L
  val A: Array[Long] = Array(37L, 41L, 43L, 47L)
  val B: Array[Long] = Array(17L, 29L, 57L, 71L)

  /** floorMod keeps the map total for negative ids (e.g. sentinel rows
    * in streams); on the nonnegative token_hash/user_id range it is
    * bit-identical to the SQL `%` the oracle applies. */
  def bucket(tid: Long, i: Int): Int =
    Math.floorMod(Math.floorMod(tid * A(i) + B(i), P), W.toLong).toInt
}
