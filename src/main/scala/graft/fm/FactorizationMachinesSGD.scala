package graft.fm

import org.apache.spark.ml.Estimator
import org.apache.spark.ml.param.ParamMap
import org.apache.spark.ml.util.Identifiable
import org.apache.spark.sql.{Column, DataFrame, Dataset, Observation, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.apache.spark.storage.StorageLevel

import scala.collection.mutable.ArrayBuffer

/** Mini-batch SGD trainer for distributed Factorization Machines —
  * the reference's FactorizationMachinesSGD.scala re-designed Spark-first
  * (SURVEY §3.1, §7.4). Semantics preserved:
  *
  *   - model parameters stay distributed end-to-end; the driver never
  *     holds a weight (README.md:7-8);
  *   - the mini-batches of `randomSplit(Array.fill(maxIter)(
  *     miniBatchFraction), seed)` with its weight-normalization quirk
  *     (SGD:111-112, SURVEY D3): batches are disjoint and each is
  *     ~1/maxIter of the data. One persisted tagging pass
  *     ([[assignBatches]]) replays `randomSplit`'s sort and draws row
  *     for row, so a step filters its batch instead of re-sorting and
  *     re-sampling every sample;
  *   - per-iteration learning rate `stepSize / sqrt(iter)` (SGD:121) and
  *     L1 soft-thresholding with `shrinkage = lr * regParam` (SGD:122,
  *     177-181) applied to every feature every iteration. A cold start
  *     applies it lazily to features no batch has touched yet: the
  *     parameter table starts empty, and a feature's row is created at
  *     its first touch from its seeded init replayed through the
  *     shrinkages of every step it missed (`fm_init_strength` /
  *     `fm_init_vec`, the cumulative penalty of Tsuruoka, Tsujii &
  *     Ananiadou, ACL 2009). The replay is the very update an untouched
  *     row takes, `soft(x − 0.0)`, so the row equals its eager twin; a
  *     row that exists is still shrunk eagerly every iteration;
  *   - gradient-descent update `θ ← θ − lr · Σ_batch grad / n` via a
  *     per-feature reduction joined full-outer back onto the parameter
  *     table with zero defaults (SGD:148-176);
  *   - the global bias w0 defaults to 0.0 and untrained (SGD:246,
  *     SURVEY M2 — reference parity); `setFitIntercept(true)` (r6)
  *     opts into training it by the batch-mean residual gradient
  *     `w0 ← w0 − lr·Σ_batch residual / n` each iteration (no L1 on
  *     the intercept — shrinking the bias toward 0 is never wanted).
  *     The residual sum rides the per-feature gradient reduction (one
  *     addend per sample, taken on its first feature row); per-sample
  *     residuals are exact dyadic rationals under the oracle fixtures,
  *     so Σ is order-independent and the update stays hash-checkable.
  *
  * Deliberate divergences (each flagged in SURVEY §7):
  *   - the reference's gradient `deltaWi·pred − label` (SGD:145) is an
  *     operator-precedence bug; we compute the correct FM gradient
  *     `deltaWi · (pred − label)`;
  *   - random init is a *deterministic* hash-gaussian of
  *     (featureId, seed) instead of unseeded `Random.nextGaussian`
  *     (SGD:235-240, Model:144-146, 170): recomputation of any lineage
  *     re-derives identical weights, making training reproducible;
  *   - per-sample sums use k scalar window sums over codegen'd
  *     `element_at` projections instead of a UDAF-over-window (FM:45-81,
  *     Model:191) — one shuffle per iteration for the sample-side pass.
  *     An array-valued window aggregate in their place was measured and
  *     did not pay end to end;
  *   - the new parameter table is eagerly local-checkpointed before the
  *     old one is unpersisted, so lineage cannot grow across iterations
  *     (the reference unpersisted lazily and recomputed chains,
  *     SURVEY §3.1 step 5). That checkpoint is the step's ONLY Spark
  *     action: `fit` sizes every mini-batch in one job up front, and the
  *     batch loss, intercept residual sum and rows written are observed
  *     on the checkpoint job itself (the reference ran a count, a loss
  *     reduce and the parameter update as separate jobs, SGD:126-139).
  *     A cold fit runs no init job: the reference materialized the full
  *     initial table first (SGD:218-252).
  *
  * Scale notes (100 TB): per iteration the exploded batch shuffles once
  * by sampleId (window pass) and once by featureId (gradient reduction +
  * parameter join). Parameter tables shuffle on featureId — co-partitioned
  * with the gradient reduction by construction. Popular-feature skew in
  * the featureId shuffle is handled by AQE skew splitting; the sample-side
  * window partitions are bounded by the number of active features per
  * sample.
  */
class FactorizationMachinesSGD(override val uid: String)
  extends Estimator[FactorizationMachinesModel]
  with FactorizationMachinesParams {

  def this() = this(Identifiable.randomUID("fmSGD"))

  def setDimFactorization(value: Int): this.type = set(dimFactorization, value)
  def setFeaturesCol(value: String): this.type = set(featuresCol, value)
  def setLabelCol(value: String): this.type = set(labelCol, value)
  def setPredictionCol(value: String): this.type = set(predictionCol, value)
  def setMaxIter(value: Int): this.type = set(maxIter, value)
  def setMiniBatchFraction(value: Double): this.type = set(miniBatchFraction, value)
  def setRegParam(value: Double): this.type = set(regParam, value)
  def setStepSize(value: Double): this.type = set(stepSize, value)
  def setMinLabel(value: Double): this.type = set(minLabel, value)
  def setMaxLabel(value: Double): this.type = set(maxLabel, value)
  def setInitialSd(value: Double): this.type = set(initialSd, value)
  def setSeed(value: Long): this.type = set(seed, value)
  def setFitIntercept(value: Boolean): this.type = set(fitIntercept, value)

  /** Per-iteration training losses of the last `fit` (Σ_batch (ŷ−y)²,
    * reference SGD:134-139), for diagnostics and tests. */
  @volatile var lastLossHistory: Seq[Double] = Seq.empty

  /** Per-iteration parameter rows written by the last `fit`, one entry
    * per [[lastLossHistory]] entry: on a cold start they grow with the
    * features touched so far, not with the model. */
  @volatile var lastStepRows: Seq[Long] = Seq.empty

  /** Warm-start source: when set, `fit` resumes from this model's
    * parameter tables instead of the hash-gaussian init (features absent
    * from the warm model still lazy-init deterministically inside the
    * loop, at first touch and with no shrinkage replayed). A capability
    * the reference lacks — its fit always re-inits (SGD:80). */
  @volatile private var initialModel: Option[FactorizationMachinesModel] = None
  def setInitialModel(model: FactorizationMachinesModel): this.type = {
    initialModel = Some(model); this
  }

  // NOTE on lineage: `params` is referenced TWICE per iteration (the
  // exploded left-outer join and the full-outer merge), so the logical
  // plan would double in size every iteration — persist() bounds
  // recomputation but NOT plan size, and by ~8 accumulated iterations the
  // plan string alone OOMs the driver. Every iteration therefore ends in
  // an eager localCheckpoint, which truncates the plan to a leaf. A cold
  // fit's first `params` is an empty local relation (the optimizer drops
  // both joins against it), and each later one holds only the features
  // touched so far.

  /** Carries the warm-start model, which is not a Param: `fit(df,
    * paramMap)`, `CrossValidator` and `TrainValidationSplit` fit a copy. */
  override def copy(extra: ParamMap): FactorizationMachinesSGD = {
    val c = defaultCopy[FactorizationMachinesSGD](extra)
    c.initialModel = initialModel
    c
  }

  override def transformSchema(schema: StructType): StructType =
    validateAndTransformSchema(schema, fitting = true)

  // ---------------------------------------------------------------- fit --

  override def fit(dataset: Dataset[_]): FactorizationMachinesModel = {
    transformSchema(dataset.schema)
    // Column-pruned input: only (label, features) survive to the loop.
    // It is read once, by the tagging pass below, whose persisted tags
    // are the fit's one cached copy of the samples.
    val data = dataset
      .select(col($(labelCol)).as("label"), col($(featuresCol)).as("features"))

    // A cold start begins from an empty table: each feature's row is
    // created by the first step that touches it (see `step`'s `pending`),
    // so no init job runs. maxIter = 0 returns the seeded init itself.
    var params = initialModel match {
      case Some(m) =>
        val warm = m.paramTable.persist(StorageLevel.MEMORY_AND_DISK)
        warm.count() // materialize the warm table once for both its uses
        warm
      case None if $(maxIter) == 0 => initialParams(data)
      case None => data.sparkSession.createDataFrame(
        java.util.Collections.emptyList[Row](),
        StructType.fromDDL("id INT, strength DOUBLE, vecArr ARRAY<DOUBLE>"))
    }

    // Every sample tagged with its mini-batch in one pass, persisted,
    // and every batch sized in ONE job (the steps do not count), which
    // also fills the cache. maxIter = 0 trains nothing: no batches.
    val tagged =
      if ($(maxIter) == 0) None
      else Some(assignBatches(data).persist(StorageLevel.MEMORY_AND_DISK))
    val sizes = tagged.fold(Map.empty[Int, Long]) { t =>
      graft.Phase("fm.sgd.sizes") {
        t.groupBy(col("batch")).count()
          .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
      }
    }

    // Warm starts resume the bias too; cold starts at the reference's 0.0.
    var w0 = initialModel.map(_.globalBias).getOrElse(0.0)
    val losses = ArrayBuffer.empty[Double]
    val rowsWritten = ArrayBuffer.empty[Long]
    // Cold starts only: the shrinkages of the steps run so far, which a
    // feature's first row replays. An empty batch shrinks nothing, so it
    // adds none; a warm start replays none.
    var pending = Vector.empty[Double]
    for (t <- tagged; idx <- 0 until $(maxIter)) {
      val iter = idx + 1
      val n = sizes.getOrElse(idx, 0L)
      val batch = t.filter(col("batch") === idx).drop("batch")
      step(params, batch, n, iter, w0, pending) match {
        case Some((newParams, loss, newW0, rows)) =>
          params.unpersist() // newParams is already materialized by step()
          params = newParams
          w0 = newW0
          losses += loss
          rowsWritten += rows
          if (initialModel.isEmpty) pending :+= shrinkage(iter)
          logInfo(s"FM SGD iteration $iter/${$(maxIter)}: loss=$loss rows=$rows")
        case None =>
          logWarning(s"FM SGD iteration $iter/${$(maxIter)}: empty mini-batch")
      }
    }
    lastLossHistory = losses.toSeq
    lastStepRows = rowsWritten.toSeq
    tagged.foreach(_.unpersist())

    val model = FactorizationMachinesModel
      .fromParamTable(uid, $(dimFactorization), w0, params)
      .setMinLabel($(minLabel)).setMaxLabel($(maxLabel))
      .setFeaturesCol($(featuresCol)).setPredictionCol($(predictionCol))
      .setSampleIdCol($(sampleIdCol))
    copyValues(model.setParent(this))
    model
  }

  // ------------------------------------------------------------ internals --

  /** Iteration `iter`'s learning rate `stepSize / sqrt(iter)` (SGD:121). */
  private def learningRate(iter: Int): Double = $(stepSize) / math.sqrt(iter)

  /** Iteration `iter`'s L1 shrinkage `lr · regParam` (SGD:122): the one
    * double `step` thresholds with and `fit` records for the replay. */
  private def shrinkage(iter: Int): Double = learningRate(iter) * $(regParam)

  /** Seeded init of feature `id`'s strength, N(0, initialSd²), a
    * deterministic hash-gaussian of (id, seed) in place of the
    * reference's unseeded Random draws — then shrunk by `shrinks` in
    * order (graft.functions.FmInit). */
  private def initStrength(id: Column, shrinks: Seq[Double]): Column =
    call_function("fm_init_strength", id, lit($(seed)), lit($(initialSd)),
      lit(shrinks.toArray))

  /** Seeded init of feature `id`'s factor vector: k draws of
    * N(0, initialSd²), independent of [[initStrength]]'s, each shrunk by
    * `shrinks` in order. */
  private def initVec(id: Column, shrinks: Seq[Double]): Column =
    call_function("fm_init_vec", id, lit($(seed)), lit($(dimFactorization)),
      lit($(initialSd)), lit(shrinks.toArray))

  /** `data`'s (label, features) rows, each tagged with the index of
    * the mini-batch `data.randomSplit(Array.fill(maxIter)(
    * miniBatchFraction), seed)` would put it in (SGD:111-112), in one
    * pass instead of one sorted, sampled scan per batch. It replays
    * `randomSplit` draw for draw: each partition is sorted by (label,
    * features), as `randomSplit` sorts every orderable column, and
    * `rand(seed)` draws from `XORShiftRandom(seed + partitionIndex)`
    * row by row, the very sequence of the `BernoulliCellSampler` every
    * split runs; a row joins the batch whose cell `[lb, ub)` of the
    * normalized cumulative weights holds its draw. The last bound is
    * the sum of the normalized weights, which may fall short of 1.0: a
    * draw at or above it joins no batch, as in `randomSplit`. `data` must
    * have only those two columns and, as for `randomSplit`, the same rows
    * in each partition on every evaluation (`fit` evaluates it once, into
    * the persisted tags). */
  private[fm] def assignBatches(data: DataFrame): DataFrame = {
    val weights = Array.fill($(maxIter))($(miniBatchFraction))
    val sum = weights.sum
    val bounds = weights.map(_ / sum).scanLeft(0.0d)(_ + _)
    // bounds(0) = 0.0 ≤ every draw, so among the draws below the last
    // bound the first cell whose upper bound exceeds the draw holds it.
    // The draw is its own column, drawn once per row: the optimizer
    // never inlines a nondeterministic alias into its several uses.
    val lastBatch = $(maxIter) - 1
    val cell = (1 to lastBatch).foldRight(lit(lastBatch)) {
      (i, rest) => when(col("u") < bounds(i), i - 1).otherwise(rest)
    }
    data.sortWithinPartitions(col("label"), col("features"))
      .withColumn("u", rand($(seed)))
      .filter(col("u") < bounds.last)
      .select(col("label"), col("features"), cell.as("batch"))
  }

  /** Initial combined parameter table (id, strength, vecArr) over the
    * distinct feature universe of the input — reference SGD:218-252 with
    * seeded init. `fit` returns it for maxIter = 0; a cold fit that
    * trains never builds it. */
  private[fm] def initialParams(data: DataFrame): DataFrame =
    data
      .select(inline(FactorizationMachinesModel.activeEntries(col("features"))))
      .select(col("featureId").as("id"))
      .distinct()
      .select(col("id"), initStrength(col("id"), Nil).as("strength"),
        initVec(col("id"), Nil).as("vecArr"))

  /** One SGD iteration over `batch`, whose row count the caller passes
    * as `n` (`fit` sizes all batches in one job): returns the updated
    * combined parameter table — already eagerly local-checkpointed
    * (materialized + plan truncated; see the lineage note above) so the
    * caller can immediately drop the previous table — the batch loss,
    * the (possibly updated) global bias, and the number of parameter rows
    * written. w0 enters the training prediction; it is only UPDATED when
    * `fitIntercept` is set (by the batch-mean residual gradient, no L1).
    * The checkpoint is the step's only Spark action. Samples without
    * active features count in `n` and add nothing, so an all-featureless
    * batch is pure L1 shrinkage at loss 0.0. None for an empty batch
    * (SGD:126-128). w0 defaults to the reference's fixed 0.0, the shape
    * most oracle queries pin. A feature with no row in `params` starts
    * from its seeded init shrunk by `pending`, in order: the shrinkages
    * of a cold fit's earlier steps, which its row would have taken had
    * it existed. Direct callers pass tables and no `pending`. */
  private[fm] def step(
      params: DataFrame, batch: DataFrame, n: Long, iter: Int,
      w0: Double = 0.0,
      pending: Seq[Double] = Nil): Option[(DataFrame, Double, Double, Long)] = {
    if (n == 0) return None
    val k = $(dimFactorization)
    val lr = learningRate(iter)

    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("sampleId"))

    // Parameter ids are never null. Saying so up front gives the table's
    // two uses below (the lookup join, where the optimizer infers this
    // very filter, and the full-outer merge) the same shuffle of the
    // table, which the step's one job then runs once.
    val table = params.filter(col("id").isNotNull)

    // explode + left-outer param join; unseen features get deterministic
    // gaussian init (Model:155-171 with the determinism fix), caught up
    // on the shrinkage they missed.
    val exploded = batch
      .withColumn("sampleId", monotonically_increasing_id())
      .select(col("label"), col("sampleId"),
        inline(FactorizationMachinesModel.activeEntries(col("features"))))
      .join(table, col("featureId") === table("id"), "left_outer")
      .select(col("label"), col("sampleId"), col("featureId"),
        col("featureValue").as("x"),
        coalesce(col("strength"), initStrength(col("featureId"), pending))
          .as("strength"),
        coalesce(col("vecArr"), initVec(col("featureId"), pending)).as("vecArr"))

    // Per-row FM terms (Model:173-181); the array math runs as the
    // codegen'd native expressions (graft.functions.FmArrayOps).
    val terms = exploded.select(
      col("label"), col("sampleId"), col("featureId"), col("x"),
      col("vecArr"),
      (col("strength") * col("x")).as("wixi"),
      call_function("fm_arr_scale", col("vecArr"), col("x")).as("vfxi"),
      (call_function("fm_sq_sum", col("vecArr")) * col("x") * col("x"))
        .as("vi2xi2"))

    // Per-sample sums broadcast back onto every feature row as k+3
    // scalar window sums: ONE shuffle of the exploded rows on sampleId
    // plus an in-partition sort. Measured at sf0.1 (COVERAGE.md r5)
    // against a groupBy + join-back (second full shuffle): the window
    // form wins.
    val fitW0 = $(fitIntercept)
    val vfCols = (0 until k).map(f =>
      sum(element_at(col("vfxi"), f + 1)).over(w).as(s"_vfs$f"))
    // With the intercept on, a sample's first feature row (its least
    // featureId) carries the sample's one residual addend below.
    val firstCol =
      if (fitW0) Seq(min(col("featureId")).over(w).as("firstId")) else Seq.empty
    val withSums = terms.select(
      (Seq(col("label"), col("sampleId"), col("featureId"), col("x"),
        col("vecArr"),
        sum(col("wixi")).over(w).as("wixiSum"),
        sum(col("vi2xi2")).over(w).as("vi2xi2Sum"),
        count(lit(1)).over(w).as("cnt")) ++ vfCols ++ firstCol): _*)

    val normSq = (0 until k).map(f => col(s"_vfs$f") * col(s"_vfs$f")).reduce(_ + _)
    // Training prediction is UNCLIPPED (Model:221 — calcLossGrad has no
    // clip). w0 is added only when nonzero so the default path's doubles
    // stay bit-identical to r1–r5 (0.0 + x flips a −0.0 x).
    val basePred = col("wixiSum") + lit(0.5) * (normSq - col("vi2xi2Sum"))
    val pred = if (w0 == 0.0) basePred else lit(w0) + basePred
    // CORRECT gradient: deltaWi·(pred − label); the reference's SGD:145
    // computes deltaWi·pred − label (precedence bug, documented).
    // r is the residual on a sample's first row and null on the rest.
    val interceptCols =
      if (fitW0) Seq(when(col("featureId") === col("firstId"), col("residual")).as("r"))
      else Seq.empty
    val gradRows = withSums
      .withColumn("residual", pred - col("label"))
      .select(
        (Seq(
          col("featureId"),
          (col("x") * col("residual")).as("gw"),
          call_function("fm_grad_v", col("vecArr"),
            array((0 until k).map(i => col(s"_vfs$i")): _*),
            col("x"), col("residual")).as("gv"),
          (col("residual") * col("residual") / col("cnt")).as("lossShare"))
          ++ interceptCols): _*)

    // Per-feature gradient reduction (A3) then full-outer merge back onto
    // the parameter table with zero defaults + L1 soft-threshold
    // (SGD:148-181). Both sides shuffle on the feature id. The same
    // reduction also sums the batch loss Σ_samples (ŷ−y)² as
    // Σ_rows residual²/cnt (replaces the reference's groupBy(first) +
    // RDD reduce, SGD:134-138 / SURVEY A4+A6) and, with the intercept
    // on, Σ_samples residual (one addend per featured sample).
    val scale = lr / n
    val gvAgg = (0 until k).map(f =>
      (sum(element_at(col("gv"), f + 1)) * scale).as(s"_gv$f"))
    val rSum = if (fitW0) Seq("rSum") else Seq.empty
    val grads = gradRows
      .groupBy(col("featureId"))
      .agg((sum(col("gw")) * scale).as("dW"),
        (gvAgg :+ sum(col("lossShare")).as("lossSum")) ++
          rSum.map(_ => sum(col("r")).as("rSum")): _*)
      .select((Seq(col("featureId"), col("dW"),
        array((0 until k).map(f => col(s"_gv$f")): _*).as("dV"),
        col("lossSum")) ++ rSum.map(col)): _*)

    val shrink = shrinkage(iter)
    def soft(c: Column): Column =
      signum(c) * greatest(lit(0.0), abs(c) - lit(shrink))

    val zeroArr = array_repeat(lit(0.0), k)
    // Features with a gradient but no parameter row (first touch) must be
    // updated FROM the same deterministic lazy-init the forward pass used
    // — not from zero. (The reference is inconsistent here: Model:170
    // inits the forward pass randomly but SGD:171 merges against 0.0;
    // divergence documented.)
    val mergedKey = coalesce(col("id"), col("featureId"))
    // The batch totals and the rows written are observed on the merge
    // output: it runs in the checkpoint job's result stage, where Spark
    // applies accumulator updates exactly once (a shuffle-map stage may
    // re-run).
    val totals = Observation()
    val newParams = table
      .join(grads, col("id") === col("featureId"), "full_outer")
      .observe(totals, sum(col("lossSum")).as("loss"),
        (count(lit(1)).as("rows") +: rSum.map(c => sum(col(c)).as("r"))): _*)
      .select(
        mergedKey.as("id"),
        soft(coalesce(col("strength"), initStrength(mergedKey, pending))
          - coalesce(col("dW"), lit(0.0))).as("strength"),
        call_function("fm_soft_update",
          coalesce(col("vecArr"), initVec(mergedKey, pending)),
          coalesce(col("dV"), zeroArr),
          lit(shrink)).as("vecArr"))

    // Eager: materializes before the caller drops the old table AND cuts
    // the (otherwise exponentially duplicated) logical plan to a leaf.
    // The phase tag sits here, on the step's one job, so every caller's
    // step is tagged.
    val materialized = graft.Phase(s"fm.sgd.step $iter/${$(maxIter)}")(
      newParams.localCheckpoint(true))
    // A sum over no rows (every sample featureless) is null: 0.0.
    def total(name: String): Double =
      Option(totals.get.getOrElse(name, null)).fold(0.0)(_.asInstanceOf[Double])
    // Intercept update (opt-in): w0 ← w0 − Σ_samples residual · (lr/n),
    // the SQL twin's association order (`sum · (lr/n)`); exact under the
    // dyadic fixtures whatever the summation order. No shrinkage: L1
    // never applies to the bias.
    val newW0 = if (fitW0) w0 - total("r") * (lr / n) else w0
    Some((materialized, total("loss"), newW0, totals.get("rows").asInstanceOf[Long]))
  }
}
