package graft.fm

import org.apache.spark.ml.linalg.{Vector, Vectors}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Property tests pinning the FM kernels (SURVEY §5.3). ScalaCheck
  * generators sampled under fixed seeds (the scalatestplus bridge is not
  * on the offline classpath, so sampling is driven by a plain loop). */
class FmPropertySuite extends SparkSessionSuite {

  private def samples[A](gen: Gen[A], n: Int): Seq[A] =
    (0 until n).flatMap(i =>
      gen.apply(Gen.Parameters.default, Seed(42L + i)))

  private val dim = 4
  private val smallDouble = Gen.choose(-10.0, 10.0)

  private def denseGen: Gen[Vector] =
    Gen.listOfN(dim, smallDouble).map(xs => Vectors.dense(xs.toArray))

  private def sparseGen: Gen[Vector] =
    for {
      n <- Gen.choose(0, dim)
      idx <- Gen.pick(n, 0 until dim)
      vals <- Gen.listOfN(n, smallDouble)
    } yield Vectors.sparse(dim, idx.toSeq.sorted.zip(vals))

  test("property: VectorSum equals element-wise sum (dense & sparse mix)") {
    val s = spark
    import s.implicits._
    samples(Gen.listOfN(6, Gen.oneOf(denseGen, sparseGen)), 10)
      .filter(_.nonEmpty).foreach { vecs =>
      {
        val df = vecs.map(v => (1, v)).toDF("id", "vec")
        val got = df.groupBy(col("id"))
          .agg(new VectorSum(dim)(col("vec"))).collect()(0)
          .getAs[org.apache.spark.ml.linalg.DenseVector](1)
        val expected = vecs.map(_.toArray).reduce(
          (a, b) => a.zip(b).map { case (x, y) => x + y })
        (0 until dim).foreach(i => got(i) shouldBe expected(i) +- 1e-9)
      }
    }
  }

  test("property: prediction invariant under dense<->sparse representation") {
    val s = spark
    import s.implicits._
    val model = FmQueries.goldenModel(s)
    samples(denseGen, 8).foreach { dense =>
      val sparse = dense.toSparse
      val df = Seq((1, dense), (2, sparse.asInstanceOf[Vector]))
        .toDF("rowId", "features")
      val preds = model.transform(df)
        .select(col("rowId"), col("prediction")).collect()
        .map(r => r.getInt(0) -> r.getDouble(1)).toMap
      preds(1) shouldBe preds(2) +- 1e-9
    }
  }

  test("property: clip bounds always respected when set") {
    val s = spark
    import s.implicits._
    val model = FmQueries.goldenModel(s).setMinLabel(-2.0).setMaxLabel(7.5)
    samples(Gen.listOfN(5, Gen.oneOf(denseGen, sparseGen)), 5)
      .filter(_.nonEmpty).foreach { vecs =>
      {
        val df = vecs.zipWithIndex.map { case (v, i) => (i, v) }
          .toDF("rowId", "features")
        // Feature-less rows take the UNCLIPPED bias fallback (w0 = 5.0,
        // inside the bounds here), so every output must be in range.
        val preds = model.transform(df)
          .select(col("prediction")).collect().map(_.getDouble(0))
        all(preds) should (be >= -2.0 and be <= 7.5)
      }
    }
  }

  test("property: zero-residual batch => update is pure L1 shrinkage") {
    val s = spark
    import s.implicits._
    val k = 2
    val w = Map(0 -> 0.3, 1 -> -0.04, 2 -> 0.8)
    val v = Map(0 -> Array(0.5, -0.5), 1 -> Array(0.02, 0.25), 2 -> Array(-0.75, 0.1))
    val params = w.keys.toSeq.sorted.map(id => (id, w(id), v(id)))
      .toDF("id", "strength", "vecArr")

    // Labels set to the exact model predictions => residual 0 => gradient 0.
    val samples = Seq(Seq(0 -> 1.0, 1 -> 2.0), Seq(1 -> 0.5, 2 -> -1.0))
    def predict(fs: Seq[(Int, Double)]): Double = {
      val wx = fs.map { case (i, x) => w(i) * x }.sum
      val vfx = Array.tabulate(k)(f => fs.map { case (i, x) => v(i)(f) * x }.sum)
      val v2x2 = fs.map { case (i, x) => v(i).map(d => d * d).sum * x * x }.sum
      wx + 0.5 * (vfx.map(d => d * d).sum - v2x2)
    }
    val zeroResidual = samples.map(fs => (predict(fs), Vectors.sparse(3, fs)))
      .toDF("label", "features")
    // No sample has an active feature => no gradient row at all; the
    // samples still count in n, and the bias has no residual to learn.
    val featureless = Seq(1.0, -2.0)
      .map(l => (l, Vectors.sparse(3, Seq.empty[(Int, Double)])))
      .toDF("label", "features")

    val shrink = 0.5 * 0.2
    def soft(c: Double) = math.signum(c) * math.max(0.0, math.abs(c) - shrink)
    def assertShrunk(newParams: DataFrame, loss: Double): Unit = {
      loss shouldBe 0.0 +- 1e-12
      val got = newParams.collect().map(r => r.getAs[Int]("id") ->
        (r.getAs[Double]("strength"), r.getAs[Seq[Double]]("vecArr"))).toMap
      got.keySet shouldBe w.keySet
      w.keys.foreach { i =>
        got(i)._1 shouldBe soft(w(i)) +- 1e-9
        (0 until k).foreach(f => got(i)._2(f) shouldBe soft(v(i)(f)) +- 1e-9)
      }
      // |w(1)| = 0.04 < shrink 0.1 => clamped to exactly zero.
      got(1)._1 shouldBe 0.0
    }

    // (batch, w0): the featureless batch trains from a nonzero bias.
    for ((batch, w0) <- Seq(zeroResidual -> 0.0, featureless -> 0.25)) {
      val est = new FactorizationMachinesSGD("zr")
        .setDimFactorization(k).setStepSize(0.5).setRegParam(0.2)
        .setFitIntercept(true)
      val Some((newParams, loss, newW0, _)) =
        est.step(params, batch, batch.count(), iter = 1, w0 = w0)
      assertShrunk(newParams, loss)
      newW0 shouldBe w0 +- 1e-12

      // the same update through fit: a warm start from params, one
      // full-batch iteration
      val warm = new FactorizationMachinesModel("zrWarm", k, w0,
        w.toSeq.map { case (i, x) => Strength(i, x) }.toDS(),
        v.toSeq.map { case (i, a) => FactorizedInteraction(i, Vectors.dense(a).toDense) }
          .toDS())
      val fitEst = new FactorizationMachinesSGD("zrFit")
        .setDimFactorization(k).setStepSize(0.5).setRegParam(0.2)
        .setMaxIter(1).setMiniBatchFraction(1.0).setFitIntercept(true)
        .setInitialModel(warm)
      val model = fitEst.fit(batch)
      fitEst.lastLossHistory should have size 1
      assertShrunk(model.paramTable, fitEst.lastLossHistory.head)
      model.globalBias shouldBe w0 +- 1e-12
    }
  }
}
