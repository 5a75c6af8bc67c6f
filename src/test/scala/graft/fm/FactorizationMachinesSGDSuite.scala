package graft.fm

import org.apache.spark.ml.linalg.Vectors
import org.apache.spark.ml.param.ParamMap
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.util.QueryExecutionListener

import scala.jdk.CollectionConverters._

class FactorizationMachinesSGDSuite extends SparkSessionSuite {

  /** One SGD step against an independent plain-Scala implementation of
    * the FM gradient (correct `deltaWi·(pred − label)` form, SURVEY §7):
    * tiny batch, fixed params, no randomness on either side. */
  test("single step matches hand-computed gradient update") {
    val s = spark
    import s.implicits._

    val k = 2
    val w = Map(0 -> 0.1, 1 -> -0.2, 2 -> 0.3)
    val v = Map(
      0 -> Array(0.5, -0.5),
      1 -> Array(1.0, 0.25),
      2 -> Array(-0.75, 0.1))
    // Samples: (label, active features)
    val samples = Seq(
      (1.0, Seq(0 -> 1.0, 1 -> 2.0)),
      (0.0, Seq(1 -> 0.5, 2 -> -1.0)),
      (2.0, Seq(0 -> 1.5)))

    val est = new FactorizationMachinesSGD("t")
      .setDimFactorization(k).setStepSize(0.5).setRegParam(0.1)
      .setInitialSd(0.01).setSeed(7L)

    val params = w.keys.toSeq.sorted
      .map(id => (id, w(id), v(id)))
      .toDF("id", "strength", "vecArr")
    val batch = samples
      .map { case (l, fs) => (l, Vectors.sparse(3, fs)) }
      .toDF("label", "features")

    val Some((newParams, loss, _, _)) = est.step(params, batch, samples.size, iter = 1)
    val got = newParams.collect()
      .map(r => r.getAs[Int]("id") ->
        (r.getAs[Double]("strength"), r.getAs[Seq[Double]]("vecArr").toArray))
      .toMap

    // --- independent reference implementation in plain Scala ---
    val lr = 0.5 / math.sqrt(1.0)
    val shrink = lr * 0.1
    val n = samples.size
    var expLoss = 0.0
    val gW = collection.mutable.Map[Int, Double]().withDefaultValue(0.0)
    val gV = collection.mutable.Map[Int, Array[Double]]()
    samples.foreach { case (label, fs) =>
      val wixi = fs.map { case (i, x) => w(i) * x }.sum
      val vfx = Array.tabulate(k)(f => fs.map { case (i, x) => v(i)(f) * x }.sum)
      val v2x2 = fs.map { case (i, x) => v(i).map(d => d * d).sum * x * x }.sum
      val pred = 0.0 + wixi + 0.5 * (vfx.map(d => d * d).sum - v2x2)
      val r = pred - label
      expLoss += r * r
      fs.foreach { case (i, x) =>
        gW(i) += x * r
        val arr = gV.getOrElseUpdate(i, Array.fill(k)(0.0))
        (0 until k).foreach(f => arr(f) += (x * vfx(f) - v(i)(f) * x * x) * r)
      }
    }
    def soft(c: Double): Double = math.signum(c) * math.max(0.0, math.abs(c) - shrink)
    val expected = w.keys.map { i =>
      val nw = soft(w(i) - lr * gW(i) / n)
      val nv = Array.tabulate(k)(f => soft(v(i)(f) - lr * gV(i)(f) / n))
      i -> (nw, nv)
    }.toMap

    loss shouldBe expLoss +- 1e-9
    expected.foreach { case (i, (ew, ev)) =>
      got(i)._1 shouldBe ew +- 1e-9
      (0 until k).foreach(f => got(i)._2(f) shouldBe ev(f) +- 1e-9)
    }
  }

  /** Intercept training by hand: `w0' = w0 − Σr·(lr/n)` from a nonzero
    * bias, where n counts every sample of the batch and Σr only the
    * samples with an active feature (a featureless sample has no feature
    * row to carry a residual). */
  test("fitIntercept step matches hand-computed bias update") {
    val s = spark
    import s.implicits._

    val k = 2
    val w0 = 0.5
    val w = Map(0 -> 0.25, 1 -> -0.5, 2 -> 0.75)
    val v = Map(0 -> Array(0.5, -0.25), 1 -> Array(1.0, 0.25), 2 -> Array(-0.75, 0.125))
    val samples = Seq(
      (1.0, Seq(0 -> 1.0, 1 -> 2.0)),
      (0.0, Seq(1 -> 0.5, 2 -> -1.0)),
      (2.0, Seq.empty[(Int, Double)]))
    val params = w.keys.toSeq.sorted
      .map(id => (id, w(id), v(id)))
      .toDF("id", "strength", "vecArr")
    val batch = samples
      .map { case (l, fs) => (l, Vectors.sparse(3, fs)) }
      .toDF("label", "features")
    val est = new FactorizationMachinesSGD("w0")
      .setDimFactorization(k).setStepSize(0.5).setRegParam(0.1)
      .setFitIntercept(true)

    val n = batch.count()
    n shouldBe 3
    val Some((_, loss, newW0, _)) = est.step(params, batch, n, iter = 1, w0 = w0)

    val residuals = samples.filter(_._2.nonEmpty).map { case (label, fs) =>
      val wixi = fs.map { case (i, x) => w(i) * x }.sum
      val vfx = Array.tabulate(k)(f => fs.map { case (i, x) => v(i)(f) * x }.sum)
      val v2x2 = fs.map { case (i, x) => v(i).map(d => d * d).sum * x * x }.sum
      w0 + wixi + 0.5 * (vfx.map(d => d * d).sum - v2x2) - label
    }
    val lr = 0.5 / math.sqrt(1.0)
    newW0 shouldBe (w0 - residuals.sum * (lr / n)) +- 1e-12
    loss shouldBe residuals.map(r => r * r).sum +- 1e-12
  }

  /** The eager checkpoint is a step's ONLY Spark action: the batch size
    * comes from the caller, and the loss and intercept residual sum are
    * observed on the checkpoint job, which carries the step's phase tag
    * whoever calls `step`. Nothing is left in the cache. */
  test("step runs one Spark action and caches nothing") {
    val s = spark
    import s.implicits._
    val params = Seq((0, 0.1, Seq(0.5, -0.5)), (1, -0.2, Seq(1.0, 0.25)))
      .toDF("id", "strength", "vecArr")
    val batch = Seq(
      (1.0, Vectors.sparse(3, Seq(0 -> 1.0, 1 -> 2.0))),
      (0.0, Vectors.sparse(3, Seq(1 -> 0.5, 2 -> -1.0))))
      .toDF("label", "features")
    val est = new FactorizationMachinesSGD("one")
      .setDimFactorization(2).setStepSize(0.5).setRegParam(0.1)
      .setFitIntercept(true)

    spark.catalog.clearCache()
    val actions = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution,
          durationNs: Long): Unit = actions.add(funcName)
      override def onFailure(funcName: String, qe: QueryExecution,
          exception: Exception): Unit = actions.add(funcName)
    }
    spark.listenerManager.register(listener)
    val profile = graft.Profile.attach(spark)
    try {
      est.step(params, batch, n = 2, iter = 1, w0 = 0.5) should not be empty
      graft.Phase("marker")(spark.range(1).collect())
    } finally {
      profile.close()
      spark.listenerManager.unregister(listener)
    }
    actions.asScala.toSeq shouldBe Seq("localCheckpoint", "collect")
    // every job the step started is its checkpoint's
    val stepJobs = profile.phases(graft.Profile.NoGroup).keySet - "marker"
    stepJobs should not be empty
    all(stepJobs) should startWith("fm.sgd.step 1")
    assert(spark.sharedState.cacheManager.isEmpty, "the step left a cached plan")
  }

  /** maxIter = 0 trains nothing: `fit` returns the initial model — the
    * seeded init at w0 = 0.0 on a cold start, the warm model's tables
    * and bias on a warm one — with an empty loss history. */
  test("maxIter = 0 returns the initial model, cold and warm") {
    val s = spark
    import s.implicits._
    val df = Seq(
      (1.0, Vectors.sparse(3, Seq(0 -> 1.0, 1 -> 2.0))),
      (0.0, Vectors.sparse(3, Seq(1 -> 0.5, 2 -> -1.0))))
      .toDF("label", "features")

    val cold = new FactorizationMachinesSGD()
      .setDimFactorization(2).setMaxIter(0).setSeed(5L)
    val coldModel = cold.fit(df)
    cold.lastLossHistory shouldBe empty
    coldModel.globalBias shouldBe 0.0
    val init = table(cold.initialParams(df))
    init.keySet shouldBe Set(0, 1, 2)
    table(coldModel.paramTable) shouldBe init

    val warmModel = FactorizationMachinesModel.fromParamTable("warm", 2, 0.75,
      Seq((0, 0.1, Seq(0.5, -0.5)), (1, -0.2, Seq(1.0, 0.25)))
        .toDF("id", "strength", "vecArr"))
    val warm = new FactorizationMachinesSGD()
      .setDimFactorization(2).setMaxIter(0).setFitIntercept(true)
      .setInitialModel(warmModel)
    val resumed = warm.fit(df)
    warm.lastLossHistory shouldBe empty
    resumed.globalBias shouldBe 0.75
    table(resumed.paramTable) shouldBe table(warmModel.paramTable)
  }

  /** The warm start is not a Param, so `copy` carries it by hand:
    * `fit(df, paramMap)`, CrossValidator and TrainValidationSplit all
    * fit a copy of the estimator. */
  test("a copied estimator keeps its warm start") {
    val s = spark
    import s.implicits._
    val df = Seq(
      (1.0, Vectors.sparse(3, Seq(0 -> 1.0, 1 -> 2.0))),
      (0.0, Vectors.sparse(3, Seq(1 -> 0.5, 2 -> -1.0))))
      .toDF("label", "features")
    val warmModel = FactorizationMachinesModel.fromParamTable("warm", 2, 0.75,
      Seq((0, 0.1, Seq(0.5, -0.5)), (1, -0.2, Seq(1.0, 0.25)))
        .toDF("id", "strength", "vecArr"))
    val warm = new FactorizationMachinesSGD()
      .setDimFactorization(2).setMaxIter(0).setInitialModel(warmModel)
    warm.fit(df, ParamMap.empty).globalBias shouldBe 0.75
    warm.copy(ParamMap.empty).fit(df).globalBias shouldBe 0.75
  }

  /** E2E: loss decreases on synthetic rank-k data with known structure
    * (SURVEY §5.4). Deterministic: seeded generation + seeded training. */
  test("training reduces loss on synthetic rank-k data") {
    val s = spark
    import s.implicits._
    val rng = new scala.util.Random(42)
    val k = 2
    val dim = 20
    val trueW = Array.fill(dim)(rng.nextGaussian() * 0.5)
    val trueV = Array.fill(dim, k)(rng.nextGaussian() * 0.3)
    val data = (0 until 400).map { _ =>
      val active = rng.shuffle((0 until dim).toList).take(3)
      val xs = active.map(_ -> (rng.nextInt(3) + 1.0)).sortBy(_._1)
      val wpart = xs.map { case (i, x) => trueW(i) * x }.sum
      val vfx = Array.tabulate(k)(f => xs.map { case (i, x) => trueV(i)(f) * x }.sum)
      val v2x2 = xs.map { case (i, x) => trueV(i).map(d => d * d).sum * x * x }.sum
      val y = wpart + 0.5 * (vfx.map(d => d * d).sum - v2x2)
      (y, Vectors.sparse(dim, xs))
    }
    val df = data.toDF("label", "features")

    val est = new FactorizationMachinesSGD()
      .setDimFactorization(k)
      .setMaxIter(10)
      .setStepSize(0.2)
      .setRegParam(1e-6)
      .setInitialSd(0.01)
      .setSeed(99L)
    val model = est.fit(df)
    val losses = est.lastLossHistory
    losses.size shouldBe 10

    // Each iteration's loss is on a different disjoint mini-batch, so the
    // sequence is noisy — the robust learning signal is full-data MSE
    // against the predict-zero baseline (initial weights ~ N(0, 0.01)).
    val scored = model.transform(df)
      .select(col("label"), col("prediction")).collect()
    val mse = scored.map { r =>
      val d = r.getDouble(0) - r.getDouble(1); d * d
    }.sum / scored.length
    val baseline = data.map { case (y, _) => y * y }.sum / data.size

    mse should be < baseline * 0.5

    // Warm start: continuing from the trained model must not be worse
    // than the cold model, and must run through the same loop shape.
    val warm = new FactorizationMachinesSGD()
      .setDimFactorization(k).setMaxIter(5).setStepSize(0.1)
      .setRegParam(1e-6).setInitialSd(0.01).setSeed(123L)
      .setInitialModel(model)
    val model2 = warm.fit(df)
    val scored2 = model2.transform(df)
      .select(col("label"), col("prediction")).collect()
    val mse2 = scored2.map { r =>
      val dd = r.getDouble(0) - r.getDouble(1); dd * dd
    }.sum / scored2.length
    mse2 should be < baseline * 0.5
  }

  /** Opt-in intercept training (r6): on labels with a large constant
    * offset — the case the reference's fixed w0 = 0.0 silently mishandles
    * (SURVEY M2) — fitIntercept must learn a bias near the offset and
    * beat the interceptless model, while the default stays reference-
    * parity (w0 exactly 0.0, untouched by the loop). */
  test("fitIntercept learns a constant label offset") {
    val s = spark
    import s.implicits._
    val rng = new scala.util.Random(7)
    val dim = 12
    val offset = 5.0
    val trueW = Array.fill(dim)(rng.nextGaussian() * 0.2)
    val data = (0 until 300).map { _ =>
      val active = rng.shuffle((0 until dim).toList).take(3)
      val xs = active.map(_ -> (rng.nextInt(3) + 1.0)).sortBy(_._1)
      val y = offset + xs.map { case (i, x) => trueW(i) * x }.sum
      (y, Vectors.sparse(dim, xs))
    }
    val df = data.toDF("label", "features")

    // Strong L1: the soft-threshold keeps the feature weights from
    // absorbing the constant offset (w0 is never regularized), so the
    // ONLY way to fit these labels is a trained bias — isolating
    // exactly what fitIntercept adds.
    def fitMse(intercept: Boolean): (Double, Double) = {
      val est = new FactorizationMachinesSGD()
        .setDimFactorization(2).setMaxIter(8).setMiniBatchFraction(0.125)
        .setStepSize(0.5).setRegParam(0.3).setInitialSd(0.01).setSeed(11L)
        .setFitIntercept(intercept)
      val model = est.fit(df)
      val scored = model.transform(df)
        .select(col("label"), col("prediction")).collect()
      val mse = scored.map { r =>
        val d = r.getDouble(0) - r.getDouble(1); d * d
      }.sum / scored.length
      (model.globalBias, mse)
    }
    val (w0Off, mseOff) = fitMse(intercept = false)
    val (w0On, mseOn) = fitMse(intercept = true)

    w0Off shouldBe 0.0 // reference parity: the loop never touches w0
    // the bias must travel decisively toward the planted offset (the
    // 1/sqrt(iter) decay and the first iterations' weight overshoot —
    // the weights chase the offset too until L1 reins them in — cap the
    // travel at ~2.3 of 5.0 in 8 iterations)…
    w0On should be > 2.0
    // …and the intercept model must fit the offset data far better
    mseOn should be < mseOff * 0.5
  }

  /** `rows` seeded samples over `dim` features, `active` distinct
    * features each with values in {1, 2, 3}, and labels near 1. */
  private def sparseData(seed: Long, rows: Int, dim: Int, active: Int): DataFrame = {
    val s = spark
    import s.implicits._
    val rng = new scala.util.Random(seed)
    (0 until rows).map { _ =>
      val xs = rng.shuffle((0 until dim).toList).take(active)
        .map(_ -> (rng.nextInt(3) + 1.0)).sortBy(_._1)
      (1.0 + rng.nextGaussian() * 0.1, Vectors.sparse(dim, xs))
    }.toDF("label", "features")
  }

  /** `fit`'s own mini-batches of `df` (the same select and split). */
  private def batches(df: DataFrame, est: FactorizationMachinesSGD): Array[DataFrame] =
    df.select(col("label"), col("features"))
      .randomSplit(Array.fill(est.getMaxIter)(est.getMiniBatchFraction), est.getSeed)

  private def distinctFeatures(df: DataFrame): Set[Int] =
    df.collect().flatMap(_.getAs[org.apache.spark.ml.linalg.Vector]("features")
      .toSparse.indices).toSet

  private def table(p: DataFrame): Map[Int, (Double, Seq[Double])] =
    p.collect().map(r => r.getAs[Int]("id") ->
      (r.getAs[Double]("strength"), r.getSeq[Double](r.fieldIndex("vecArr")).toSeq)).toMap

  /** `fit` tags every sample with its mini-batch in one pass
    * (`assignBatches`); the batches must be `randomSplit`'s, row for row.
    * The rows arrive unsorted within their partitions, so a pass that
    * skipped `randomSplit`'s sort, or drew from another seed, would
    * split them differently. maxIter 7 and 10 leave the last bound of
    * the normalized cumulative weights below 1.0, and miniBatchFraction
    * only rescales weights that are normalized away. */
  test("mini-batch tags equal randomSplit's batches row for row") {
    val s = spark
    import s.implicits._
    val rng = new scala.util.Random(4L)
    val rows = (0 until 300).map { _ =>
      val xs = Seq.fill(3)(rng.nextInt(50)).distinct.sorted.map(_ -> rng.nextGaussian())
      (rng.nextGaussian(), Vectors.sparse(50, xs))
    }
    def tagged(df: DataFrame): Seq[(Double, String, Int)] =
      df.collect().map(r => (r.getDouble(0), r.get(1).toString, r.getInt(2)))
        .toSeq.sortBy(t => (t._1, t._2))
    for (parts <- Seq(1, 5)) {
      val df = rows.toDF("label", "features").repartition(parts).persist()
      try {
        df.rdd.getNumPartitions shouldBe parts
        for (seed <- Seq(1L, 9L, 42L); maxIter <- Seq(1, 3, 7, 10);
             fraction <- Seq(1.0, 0.3)) {
          val est = new FactorizationMachinesSGD()
            .setMaxIter(maxIter).setMiniBatchFraction(fraction).setSeed(seed)
          val want = batches(df, est).zipWithIndex
            .map { case (b, i) => b.withColumn("batch", lit(i)) }
            .reduce(_ union _)
          val (got, exp) = (tagged(est.assignBatches(df)), tagged(want))
          withClue(s"parts=$parts seed=$seed maxIter=$maxIter fraction=$fraction: ") {
            got.size shouldBe exp.size
            got.zip(exp).count { case (g, e) => g != e } shouldBe 0
          }
        }
      } finally df.unpersist()
    }
  }

  /** A cold fit starts from an empty parameter table: every job it
    * submits is the batch sizing or a step (no init job), and a step
    * writes a row only for a feature some batch has touched so far —
    * step 1 exactly batch 1's features, the last step every feature of
    * the data (the batches cover it). */
  test("a cold fit runs no init job and writes rows only for touched features") {
    val df = sparseData(3L, rows = 200, dim = 1000, active = 3)
    val est = new FactorizationMachinesSGD()
      .setDimFactorization(2).setMaxIter(4).setMiniBatchFraction(1.0)
      .setStepSize(0.1).setRegParam(0.01).setInitialSd(0.1).setSeed(9L)
    val split = batches(df, est)
    split.foreach(b => b.count() should be > 0L)

    val profile = graft.Profile.attach(spark)
    try est.fit(df)
    finally profile.close()
    val fitJobs = profile.phases(graft.Profile.NoGroup).keySet
    fitJobs should not be empty
    fitJobs.foreach(_ should startWith("fm.sgd."))

    est.lastLossHistory should have size 4
    val rows = est.lastStepRows
    rows should have size 4
    val first = distinctFeatures(split.head)
    val all = distinctFeatures(df)
    first.size should be < all.size
    rows.head shouldBe first.size.toLong
    rows.last shouldBe all.size.toLong
    rows shouldBe rows.sorted
  }

  /** Lazy init replays exactly the shrinkage of the steps that ran: a
    * cold fit equals the eager reference, a warm start from the full
    * seeded init table (`initialParams`), up to the summation order
    * of the differently planned steps. The second shape leaves a middle
    * mini-batch empty: its step never ran, so no feature first touched
    * later may replay its shrinkage. */
  test("a cold fit equals the eager reference, across an empty middle batch") {
    def check(df: DataFrame, est: () => FactorizationMachinesSGD): Unit = {
      val cold = est()
      val coldModel = cold.fit(df)
      val eager = est()
      eager.setInitialModel(FactorizationMachinesModel.fromParamTable(
        "eager", eager.getDimFactorization, 0.0, eager.initialParams(df)))
      val eagerModel = eager.fit(df)

      val got = table(coldModel.paramTable)
      val want = table(eagerModel.paramTable)
      got.keySet shouldBe want.keySet
      want.foreach { case (id, (w, v)) =>
        withClue(s"feature $id: ") {
          got(id)._1 shouldBe w +- 1e-15
          got(id)._2.zip(v).foreach { case (g, e) => g shouldBe e +- 1e-15 }
        }
      }
      coldModel.globalBias shouldBe eagerModel.globalBias +- 1e-12
      cold.lastLossHistory should have size eager.lastLossHistory.size
      cold.lastLossHistory.zip(eager.lastLossHistory).foreach { case (g, e) =>
        g shouldBe e +- math.abs(e) * 1e-12
      }
      eager.lastStepRows.foreach(_ shouldBe want.size.toLong)
    }

    check(sparseData(5L, rows = 120, dim = 60, active = 3), () =>
      new FactorizationMachinesSGD()
        .setDimFactorization(4).setMaxIter(4).setMiniBatchFraction(1.0)
        .setStepSize(0.1).setRegParam(0.01).setInitialSd(0.1).setSeed(21L)
        .setFitIntercept(true))

    // seed 3 splits these 6 rows into batches of 3, 1, 0, 1, 1
    val tiny = sparseData(8L, rows = 6, dim = 40, active = 2)
    def tinyEst() = new FactorizationMachinesSGD()
      .setDimFactorization(2).setMaxIter(5).setMiniBatchFraction(1.0)
      .setStepSize(0.1).setRegParam(0.01).setInitialSd(0.1).setSeed(3L)
    val sizes = batches(tiny, tinyEst()).map(_.count())
    withClue(s"batch sizes ${sizes.mkString(",")}: ") {
      sizes.head should be > 0L
      sizes.last should be > 0L
      sizes.slice(1, sizes.length - 1) should contain(0L)
    }
    check(tiny, () => tinyEst())
  }
}
