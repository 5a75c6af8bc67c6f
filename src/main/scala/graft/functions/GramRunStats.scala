package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native per-row n-gram multiplicity statistics over a token array —
  * `gram_run_stats(toks, n)` returns
  * `struct(best BIGINT, dup BIGINT, total BIGINT)` where, over the
  * space-joined n-grams of `toks`,
  *
  *  - `best`  = the maximum multiplicity of any gram (0 when no grams),
  *  - `dup`   = Σ over grams with multiplicity c > 1 of c
  *              (the duplicated-gram mass),
  *  - `total` = the gram count, max(len − n + 1, 0).
  *
  * Replaces an `aggregate(array_sort(transform(sequence(…))))` fold:
  * higher-order functions are CodegenFallback, so that fold was
  * interpreted per ELEMENT (measured 3.3× the task-CPU of the hash
  * aggregation it replaced at sf0.1), while this expression is one
  * compiled hash-map pass per ROW — the per-row fallback call is
  * amortized over the whole gram loop. Gram identity is the exact
  * space-joined token string (`UTF8String.concatWs`), identical to the
  * `concat(tok_i, ' ', …)` grams of both the previous plans and the
  * DuckDB oracle — for ANY input: the packed-key fast path only runs
  * when no token contains the ' ' separator (token-sequence equality ≡
  * joined-string equality is guaranteed then; a separator-bearing
  * token, where the two identities can diverge, routes the row to the
  * joined-string path — r17 advice). n must be >= 1 (validated).
  * Exact integers — no floats anywhere. */
case class GramRunStats(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback {

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(StringType, _), IntegerType | LongType) if right.foldable =>
      TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      "gram_run_stats expects (array<string> tokens, foldable int n)")
  }

  override def dataType: DataType = StructType(Seq(
    StructField("best", LongType, nullable = false),
    StructField("dup", LongType, nullable = false),
    StructField("total", LongType, nullable = false)))

  @transient private lazy val n: Int = {
    val v = right.eval(null) match {
      case i: Int => i
      case l: Long => l.toInt
      case other => throw new IllegalArgumentException(
        s"gram_run_stats: n must be an integer literal, got $other")
    }
    // fail fast (r17 advice): n <= 0 previously returned degenerate
    // packed-key counts on the fast path and threw
    // NegativeArraySizeException on the string path — invalid-n
    // behavior differed by row shape
    require(v >= 1, s"gram_run_stats: n must be >= 1, got $v")
    v
  }

  private val space = UTF8String.fromString(" ")

  override def nullSafeEval(toksAny: Any, nAny: Any): Any = {
    val arr = toksAny.asInstanceOf[ArrayData]
    val len = arr.numElements()
    val total = math.max(len - n + 1, 0)
    if (total == 0) return InternalRow(0L, 0L, 0L)
    // Fast path: intern tokens to dense ids and count PACKED long gram
    // keys in a primitive open-addressing table — zero allocation per
    // gram. The first r17 form of this expression concatWs'd a fresh
    // gram string per position and re-hashed its bytes on every map
    // probe (UTF8String does not cache hashCode), which made the pass
    // allocation-bound: its cpu_s swung 4.4 (solo) → 10.0 (full
    // battery, heap pressure) on identical code. Token bytes are now
    // hashed ONCE each (interning over the array's own zero-copy
    // UTF8String views), and a gram is an n-digit base-`len` long —
    // well-defined because ids < len and len^3 < 2^63 under the guard.
    // (token-sequence equality) ≡ (id-tuple equality) ≡ (packed-key
    // equality) — PROVIDED no token contains the ' ' separator, since
    // the string path (and the DuckDB oracle) use space-JOINED gram
    // identity, where e.g. ["a b","c"] and ["a","b c"] collide (r17
    // advice: the in-repo callers tokenize with split(text, ' '), so
    // their tokens are separator-free, but the registered SQL function
    // must hold for any input). Guards route to the string path: a
    // null token (concat_ws skip semantics), a token containing the
    // separator (checked once per DISTINCT token at intern time),
    // len ≥ 2^20 (packing would overflow), n > 3 (unused here,
    // strings stay correct).
    if (n <= 3 && len < (1 << 20)) {
      val ids = new Array[Int](len)
      val tcap = Integer.highestOneBit(math.max(len, 4)) * 4
      val tkeys = new Array[UTF8String](tcap)
      val tids = new Array[Int](tcap)
      val tmask = tcap - 1
      var nextId = 0
      var i = 0
      var sawNull = false
      while (i < len && !sawNull) {
        val t = arr.getUTF8String(i)
        if (t == null) sawNull = true
        else {
          var h = t.hashCode & tmask
          while (tkeys(h) != null && !tkeys(h).equals(t)) h = (h + 1) & tmask
          if (tkeys(h) == null) {
            // separator check once per DISTINCT token, at intern time
            // (n = 1 grams are the tokens themselves — both identities
            // coincide, no check needed)
            if (n > 1 && t.contains(space)) sawNull = true
            else { tkeys(h) = t; tids(h) = nextId; nextId += 1 }
          }
          if (!sawNull) { ids(i) = tids(h); i += 1 }
        }
      }
      if (!sawNull) {
        val gcap = Integer.highestOneBit(math.max(total, 4)) * 4
        val gmask = gcap - 1
        val gkeys = new Array[Long](gcap)
        val gcnt = new Array[Long](gcap)
        java.util.Arrays.fill(gkeys, -1L)
        val base = len.toLong
        var p = 0
        while (p < total) {
          var key = 0L
          var j = 0
          while (j < n) { key = key * base + ids(p + j); j += 1 }
          val x = key * -7046029254386353131L // Mix64 odd constant
          var h = ((x ^ (x >>> 32)).toInt) & gmask
          while (gkeys(h) != -1L && gkeys(h) != key) h = (h + 1) & gmask
          if (gkeys(h) == -1L) { gkeys(h) = key; gcnt(h) = 1L }
          else gcnt(h) += 1L
          p += 1
        }
        var best = 0L
        var dup = 0L
        var h = 0
        while (h < gcap) {
          if (gkeys(h) != -1L) {
            val c = gcnt(h)
            if (c > best) best = c
            if (c > 1L) dup += c
          }
          h += 1
        }
        return InternalRow(best, dup, total.toLong)
      }
    }
    // String path: exact concat_ws(' ') gram identity, kept for the
    // guard cases above — same integers as the fast path whenever both
    // apply (property-pinned in GramRunStatsSuite).
    // multiplicity per gram; long[1] cells avoid per-increment boxing
    val counts = new java.util.HashMap[UTF8String, Array[Long]](total * 2)
    val parts = new Array[UTF8String](n)
    var i = 0
    while (i < total) {
      var j = 0
      while (j < n) { parts(j) = arr.getUTF8String(i + j); j += 1 }
      val g = UTF8String.concatWs(space, parts: _*)
      val cell = counts.get(g)
      if (cell == null) counts.put(g, Array(1L)) else cell(0) += 1L
      i += 1
    }
    var best = 0L
    var dup = 0L
    val it = counts.values().iterator()
    while (it.hasNext) {
      val c = it.next()(0)
      if (c > best) best = c
      if (c > 1L) dup += c
    }
    InternalRow(best, dup, total.toLong)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): GramRunStats =
    copy(left = newLeft, right = newRight)
}
