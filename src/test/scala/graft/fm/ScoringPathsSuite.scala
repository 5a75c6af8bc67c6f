package graft.fm

import org.apache.spark.ml.linalg.Vectors
import org.apache.spark.sql.functions.col

class ScoringPathsSuite extends SparkSessionSuite {

  test("carry-through scoring equals the FM formula on all edge cases") {
    val s = spark
    import s.implicits._
    val samples = Seq(
      100 -> Vectors.dense(1.0, 2.0, 1.5, -1.0), // dense, all learned
      101 -> Vectors.sparse(4, Seq((0, 0.5), (2, -1.5))), // sparse
      102 -> Vectors.sparse(6, Seq((0, 2.0), (4, 1.5))), // one unlearned dim
      103 -> Vectors.sparse(4, Seq()), // empty -> raw bias fallback
      104 -> Vectors.sparse(6, Seq((4, 1.0), (5, 2.0)))) // ALL dims unlearned
    val input = samples.toDF("rowId", "features")

    // --- independent plain-Scala evaluation of the golden model ---
    val w0 = 5.0
    val w = Map(0 -> 0.1, 1 -> 0.2, 2 -> 0.3, 3 -> 0.4)
    val v = Map(0 -> Seq(1.0, 2.0, 3.0), 1 -> Seq(3.0, 2.0, 1.0),
      2 -> Seq(-0.1, -0.1, -0.2), 3 -> Seq(-0.5, 0.3, 0.0))
    def formula(x: org.apache.spark.ml.linalg.Vector, lo: Double, hi: Double): Double = {
      val fs = collection.mutable.ArrayBuffer.empty[(Int, Double)]
      x.foreachActive((i, xi) => if (w.contains(i)) fs += i -> xi)
      if (fs.isEmpty) w0 // no learned feature: the raw, unclipped bias
      else {
        val vfx = (0 until 3).map(f => fs.map { case (i, xi) => v(i)(f) * xi }.sum)
        val v2x2 = fs.map { case (i, xi) => v(i).map(d => d * d).sum * xi * xi }.sum
        val raw = w0 + fs.map { case (i, xi) => w(i) * xi }.sum +
          0.5 * (vfx.map(d => d * d).sum - v2x2)
        math.min(math.max(raw, lo), hi)
      }
    }

    def score(lo: Double, hi: Double): Map[Int, Double] =
      FmQueries.goldenModel(s).setMinLabel(lo).setMaxLabel(hi)
        .transform(input)
        .select(col("rowId"), col("prediction")).collect()
        .map(r => r.getInt(0) -> r.getDouble(1)).toMap

    // unclipped and clipped variants; scoring caches nothing
    spark.catalog.clearCache()
    for ((lo, hi) <- Seq(
        (Double.NegativeInfinity, Double.PositiveInfinity), (5.5, 10.0))) {
      val got = score(lo, hi)
      got.keySet shouldBe samples.map(_._1).toSet
      samples.foreach { case (id, x) => got(id) shouldBe formula(x, lo, hi) +- 1e-9 }
    }
    assert(spark.sharedState.cacheManager.isEmpty, "transform left a cached plan")

    // all-unseen sample (104) behaves like empty: raw bias even when the
    // bias is outside the clip bounds.
    score(5.5, 10.0)(104) shouldBe 5.0
  }

  test("carry-through tolerates input columns named like internals") {
    val s = spark
    import s.implicits._
    // 'id' and 'strength' collide with the raw param-table columns; the
    // reserved __fm_ prefix must keep the golden score intact.
    val input = Seq((7L, 0.5, Vectors.dense(1.0, 2.0, 1.5, -1.0)))
      .toDF("id", "strength", "features")
    val out = FmQueries.goldenModel(s).transform(input)
    out.columns.toSeq shouldBe Seq("id", "strength", "features", "prediction")
    out.select(col("prediction")).collect()(0).getDouble(0) shouldBe 23.77 +- 1e-8
  }

  test("input colliding with sampleIdCol is rejected with a clear error") {
    val s = spark
    import s.implicits._
    val input = Seq((1L, Vectors.dense(1.0, 0.0, 0.0, 0.0)))
      .toDF("sampleId", "features")
    val e = intercept[IllegalArgumentException] {
      FmQueries.goldenModel(s).transform(input)
    }
    e.getMessage should include("sampleId")
    // the internal sample id takes the configured name instead
    val Array(row) = FmQueries.goldenModel(s).setSampleIdCol("sid")
      .transform(input).select(col("sampleId"), col("prediction")).collect()
    row.getLong(0) shouldBe 1L
    row.getDouble(1) shouldBe 5.1 +- 1e-9
  }

  test("carry-through preserves input columns and their values") {
    val s = spark
    import s.implicits._
    val input = Seq((1, "payload-a", Vectors.dense(1.0, 0.0, 0.0, 0.0)))
      .toDF("rowId", "extra", "features")
    val out = FmQueries.goldenModel(s).transform(input)
    out.columns.toSeq shouldBe Seq("rowId", "extra", "features", "prediction")
    val row = out.collect()(0)
    row.getAs[String]("extra") shouldBe "payload-a"
  }
}
