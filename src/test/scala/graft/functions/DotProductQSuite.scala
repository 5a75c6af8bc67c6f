package graft.functions

import graft.fm.SparkSessionSuite
import org.apache.spark.sql.functions._

/** The quantized dot kernel behind the r11 cross-engine-exact cosine:
  * `dot_product_q` must (1) equal the portable higher-order-function
  * reference below BIT-FOR-BIT (the same per-element quantize-then-
  * int64-sum the DuckDB twins inline via `Similarity.qDotSql`, so any
  * drift would split the engine from its oracles), (2) be
  * order-independent (the property the raw double fold lacks and the
  * whole design exists to provide), and (3) return null on a null
  * input or a length mismatch, as the HOF fold does. */
class DotProductQSuite extends SparkSessionSuite {

  private def hof(a: org.apache.spark.sql.Column,
      b: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    aggregate(zip_with(a, b, (x, y) => floor(x * y * lit(1e12) + lit(0.5))),
      lit(0L), (acc, x) => acc + x).cast("double")

  // the raw double fold, left to right
  private def rawDot(a: org.apache.spark.sql.Column,
      b: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, v) => acc + v)

  test("native kernel equals the HOF fallback bit-for-bit") {
    val s = spark
    val df = s.range(200).select(
        transform(sequence(lit(0), lit(63)),
          i => sin(i.cast("double") * 0.7 + col("id")) * 0.5).as("a"),
        transform(sequence(lit(0), lit(63)),
          i => cos(i.cast("double") * 1.3 - col("id")) * 0.5).as("b"))
      .select(hof(col("a"), col("b")).as("fallback"),
        expr("dot_product_q(a, b)").as("native"))
    df.collect().foreach { r =>
      assert(java.lang.Double.doubleToRawLongBits(r.getDouble(0)) ==
        java.lang.Double.doubleToRawLongBits(r.getDouble(1)))
    }
  }

  test("quantized dot is summation-order independent: reversing both " +
      "arrays gives the identical double") {
    val s = spark
    val df = s.range(100).select(
        transform(sequence(lit(0), lit(63)),
          i => sin(i.cast("double") * 2.1 + col("id"))).as("a"),
        transform(sequence(lit(0), lit(63)),
          i => cos(i.cast("double") * 0.9 + col("id") * 3)).as("b"))
      .select(expr("dot_product_q(a, b)").as("fwd"),
        expr("dot_product_q(reverse(a), reverse(b))").as("rev"))
    df.collect().foreach { r =>
      assert(java.lang.Double.doubleToRawLongBits(r.getDouble(0)) ==
        java.lang.Double.doubleToRawLongBits(r.getDouble(1)))
    }
    // the RAW double fold over the same data is NOT order-independent
    // somewhere in this corpus — the property being bought is real,
    // not vacuous on these inputs
    val raw = s.range(100).select(
        transform(sequence(lit(0), lit(63)),
          i => sin(i.cast("double") * 2.1 + col("id"))).as("a"),
        transform(sequence(lit(0), lit(63)),
          i => cos(i.cast("double") * 0.9 + col("id") * 3)).as("b"))
      .select(rawDot(col("a"), col("b")).as("fwd"),
        rawDot(reverse(col("a")), reverse(col("b"))).as("rev"))
      .collect()
    val anyDrift = raw.exists(r =>
      java.lang.Double.doubleToRawLongBits(r.getDouble(0)) !=
        java.lang.Double.doubleToRawLongBits(r.getDouble(1)))
    assert(anyDrift,
      "raw fold reversed bit-identically everywhere — corpus too tame " +
        "to witness the order-dependence the quantized kernel removes")
  }

  test("null and length-mismatch contract matches dot_product") {
    val s = spark
    import s.implicits._
    val df = Seq(
        (Seq(1.0, 2.0), Seq(3.0)),            // length mismatch
        (null.asInstanceOf[Seq[Double]], Seq(1.0)) // null side
      ).toDF("a", "b")
      .select(expr("dot_product_q(a, b)").as("q"))
      .collect()
    df.foreach(r => assert(r.isNullAt(0)))
  }

  test("norms from the quantized self-dot make prepared cosines " +
      "land in [-1 - 1e-9, 1 + 1e-9]") {
    val s = spark
    import s.implicits._
    val rng = new scala.util.Random(7)
    val emb = (0L until 64L)
      .map(i => (i, Seq.fill(16)((rng.nextDouble() * 2 - 1).toFloat)))
      .toDF("vec_id", "embedding")
    val prep = graft.ops.Similarity.prepared(emb)
    val pairs = prep.as("x").crossJoin(prep.as("y"))
      .filter(col("x.vec_id") < col("y.vec_id"))
      .select((expr("dot_product_q(x.v, y.v)")
        / (col("x.nrm") * col("y.nrm"))).as("cos"))
      .collect().map(_.getDouble(0))
    pairs.foreach(c => assert(c >= -1 - 1e-9 && c <= 1 + 1e-9, s"cos $c"))
  }
}
