package graft.fm

import org.apache.spark.ml.Model
import org.apache.spark.ml.functions.vector_to_array
import org.apache.spark.ml.linalg.{DenseVector, Vector}
import org.apache.spark.ml.param.ParamMap
import org.apache.spark.ml.util.{Identifiable, MLReadable, MLReader, MLWritable, MLWriter}
import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.UserDefinedFunction
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.apache.spark.storage.StorageLevel

/** The strength of the i-th feature (w_i). Reference: Model:281. */
case class Strength(id: Int, strength: Double)

/** Factorized interaction row v_i (length k). Reference: Model:289. */
case class FactorizedInteraction(id: Int, vec: DenseVector)

/** Distributed Factorization Machines model (Rendle 2010; see PAPERS.md).
  *
  * Model state is two *distributed* parameter tables — never collected to
  * the driver — preserving the reference's core scalability property
  * (README.md:7-8, Model:43-47): feature dimensionality is bounded by
  * `Int.MaxValue`, not by driver memory.
  *
  * Prediction (Model:125-132 semantics):
  * {{{
  *   ŷ(x) = clip( w0 + Σ_i w_i·x_i
  *                + ½·Σ_f [ (Σ_i v_if·x_i)² − Σ_i v_if²·x_i² ],
  *                minLabel, maxLabel )
  * }}}
  *
  * Spark-first re-design of the reference dataflow (SURVEY §3.2, §4):
  *   - sparse vector → rows via one minimal UDF returning the active
  *     `(featureId, featureValue)` pairs + `inline` (Model:244-250 used a
  *     `Map` + explode; the Map materialization is gone);
  *   - the two parameter tables are pre-joined once into a single combined
  *     table, halving the number of shuffle joins against the exploded
  *     fact (Model:103-112 joined them separately);
  *   - all per-row math is native array expressions (`transform`,
  *     `aggregate`) instead of the reference's 5 black-box UDFs
  *     (Model:252-266) — stays inside whole-stage codegen;
  *   - the per-sample vector sum is k scalar `sum(element_at(...))`
  *     aggregates instead of a UDAF (FM:45-81) — partial aggregation and
  *     codegen-friendly, since k = dimFactorization is a small constant;
  *   - unseen features are dropped by the inner join and feature-less
  *     samples fall back to the raw (unclipped) global bias, exactly as
  *     pinned by Suite:65-68 (Model:78-87 join-back + na.fill).
  *
  * Scale notes (100 TB): the exploded fact shuffles on featureId for the
  * parameter join and on sampleId for the per-sample reduction — both
  * unavoidable for a distributed model; the parameter table is the small
  * side and is broadcast automatically by AQE when under the threshold.
  * Popular-feature skew is handled by AQE skew-join splitting.
  */
class FactorizationMachinesModel(
    override val uid: String,
    val dimFactorization: Int,
    val globalBias: Double,
    val dimensionStrength: Dataset[Strength],
    val factorizedInteraction: Dataset[FactorizedInteraction])
  extends Model[FactorizationMachinesModel]
  with FactorizationMachinesModelParams with MLWritable {

  def this(dimFactorization: Int, globalBias: Double,
      dimensionStrength: Dataset[Strength],
      factorizedInteraction: Dataset[FactorizedInteraction]) =
    this(Identifiable.randomUID("fmModel"), dimFactorization, globalBias,
      dimensionStrength, factorizedInteraction)

  def setFeaturesCol(value: String): this.type = set(featuresCol, value)
  def setPredictionCol(value: String): this.type = set(predictionCol, value)
  def setSampleIdCol(value: String): this.type = set(sampleIdCol, value)
  def setMinLabel(value: Double): this.type = set(minLabel, value)
  def setMaxLabel(value: Double): this.type = set(maxLabel, value)
  def setCarryThroughScoring(value: Boolean): this.type =
    set(carryThroughScoring, value)

  override def copy(extra: ParamMap): FactorizationMachinesModel = {
    val copied = new FactorizationMachinesModel(uid, dimFactorization,
      globalBias, dimensionStrength, factorizedInteraction)
    copyValues(copied, extra).setParent(parent)
  }

  override def transformSchema(schema: StructType): StructType =
    validateAndTransformSchema(schema, fitting = false)

  /** Scoring entry point — reference Model:69-87. The default path is
    * carry-through (one pass, caches nothing). The join-back path
    * (carryThroughScoring=false, the reference's plan shape, better for
    * wide-payload rows) caches the input because
    * `monotonically_increasing_id` is partition-layout dependent and the
    * id column is referenced on both sides of the join-back; an uncached
    * recomputation could re-assign ids. That cache entry intentionally
    * outlives the call (the result is lazy) and is NOT unpersisted —
    * repeated join-back transform() calls in a long-lived session
    * accumulate cache entries (the reference leaks identically); clear
    * the session cache periodically if using that path. */
  override def transform(dataset: Dataset[_]): DataFrame = {
    transformSchema(dataset.schema)
    if ($(carryThroughScoring)) return transformCarryThrough(dataset)
    val df = FactorizationMachinesModel
      .addSampleId(dataset, $(sampleIdCol))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val predicted = predict(df)
    df.join(predicted, Seq($(sampleIdCol)), "left_outer")
      // Feature-less samples get the *raw* bias — the reference applies
      // na.fill(globalBias) after the clip (Model:86), pinned by the
      // empty-vector golden (Suite:68).
      .withColumn($(predictionCol),
        coalesce(col($(predictionCol)), lit(globalBias)))
      .drop($(sampleIdCol))
  }

  /** One-pass scoring: input columns ride through the per-sample
    * aggregation via first(). Feature-less samples explode into a
    * sentinel entry (featureId −1); the param join is left_outer with
    * zero defaults, so sentinel and unseen-feature rows contribute
    * nothing (identical to the reference's inner-join drop), and samples
    * with zero MATCHED features get the raw bias — matching the
    * join-back path bit for bit, including all-unseen-feature samples. */
  private def transformCarryThrough(dataset: Dataset[_]): DataFrame = {
    val k = dimFactorization
    val inputCols = dataset.columns.toSeq
    // All internal columns carry a reserved prefix so user columns named
    // id/strength/featureId/... can never collide (the join-back path is
    // immune because predict() projects before joining).
    val sid = "__fm_sid"
    val params = dimensionStrength.toDF()
      .join(factorizedInteraction.toDF(), Seq("id"))
      .select(col("id").as("__fm_pid"), col("strength").as("__fm_w"),
        vector_to_array(col("vec")).as("__fm_v"))

    val entries = FactorizationMachinesModel.activeEntries(col($(featuresCol)))
    val sentinel = array(struct(
      lit(-1).as("featureId"), lit(0.0).as("featureValue")))
    val exploded = dataset
      .withColumn(sid, monotonically_increasing_id())
      .select(col(sid) +: inputCols.map(col) :+
        explode(when(size(entries) === 0, sentinel).otherwise(entries))
          .as("__fm_e"): _*)
      .select(col(sid) +: inputCols.map(col) :+
        col("__fm_e.featureId").as("__fm_fid") :+
        col("__fm_e.featureValue").as("__fm_x"): _*)

    val zeroArr = array_repeat(lit(0.0), k)
    val terms = exploded
      .join(params, col("__fm_fid") === col("__fm_pid"), "left_outer")
      .select(col(sid) +: inputCols.map(col) :+
        (coalesce(col("__fm_w"), lit(0.0)) * col("__fm_x")).as("__fm_wixi") :+
        // native codegen'd array math (graft.functions.FmArrayOps)
        call_function("fm_arr_scale", coalesce(col("__fm_v"), zeroArr),
          col("__fm_x")).as("__fm_vfxi") :+
        (call_function("fm_sq_sum", coalesce(col("__fm_v"), zeroArr))
          * col("__fm_x") * col("__fm_x")).as("__fm_vi2xi2") :+
        when(col("__fm_pid").isNotNull, 1L).otherwise(0L).as("__fm_isReal"): _*)

    val aggCols =
      inputCols.map(c => first(col(c)).as(c)) ++
      Seq(sum(col("__fm_wixi")).as("__fm_wixiSum"),
        sum(col("__fm_vi2xi2")).as("__fm_vi2xi2Sum"),
        sum(col("__fm_isReal")).as("__fm_nReal")) ++
      (0 until k).map(f =>
        sum(element_at(col("__fm_vfxi"), f + 1)).as(s"__fm_vf$f"))
    val grouped = terms.groupBy(col(sid)).agg(aggCols.head, aggCols.tail: _*)

    val normSq = (0 until k).map(f => col(s"__fm_vf$f") * col(s"__fm_vf$f"))
      .reduce(_ + _)
    val raw = lit(globalBias) + col("__fm_wixiSum") +
      lit(0.5) * (normSq - col("__fm_vi2xi2Sum"))
    grouped.select(inputCols.map(col) :+
      when(col("__fm_nReal") === 0, lit(globalBias)).otherwise(clip(raw))
        .as($(predictionCol)): _*)
  }

  /** (sampleId, prediction) for every sample with >= 1 learned feature. */
  private[fm] def predict(dfSampleIndexed: DataFrame): DataFrame = {
    val k = dimFactorization
    val sid = $(sampleIdCol)

    // Pre-join the two param tables once: (id, strength, vecArr).
    val params = dimensionStrength.toDF()
      .join(factorizedInteraction.toDF(), Seq("id"))
      .select(col("id"), col("strength"), vector_to_array(col("vec")).as("vecArr"))

    val exploded = dfSampleIndexed.select(
      col(sid),
      inline(FactorizationMachinesModel.activeEntries(col($(featuresCol)))))

    val terms = exploded
      .join(params, exploded("featureId") === params("id"), "inner")
      .select(
        col(sid),
        (col("strength") * col("featureValue")).as("wixi"),
        // native codegen'd array math (graft.functions.FmArrayOps)
        call_function("fm_arr_scale", col("vecArr"), col("featureValue"))
          .as("vfxi"),
        (call_function("fm_sq_sum", col("vecArr"))
          * col("featureValue") * col("featureValue")).as("vi2xi2"))

    // Per-sample reduction: sum of wixi, sum of vi2xi2, and the k
    // components of Σ_i v_i·x_i as k scalar sums (A1/A2 without a UDAF).
    val aggCols =
      sum(col("wixi")).as("wixiSum") +:
      sum(col("vi2xi2")).as("vi2xi2Sum") +:
      (0 until k).map(f => sum(element_at(col("vfxi"), f + 1)).as(s"_vf$f"))
    val grouped = terms.groupBy(col(sid)).agg(aggCols.head, aggCols.tail: _*)

    val normSq = (0 until k)
      .map(f => col(s"_vf$f") * col(s"_vf$f"))
      .reduce(_ + _)
    val raw = lit(globalBias) + col("wixiSum") +
      lit(0.5) * (normSq - col("vi2xi2Sum"))
    grouped.select(col(sid), clip(raw).as($(predictionCol)))
  }

  /** least(greatest(pred, minLabel), maxLabel) — Model:131 — applied only
    * for finite bounds (see divergence note on
    * [[FactorizationMachinesModelParams]]). */
  private[fm] def clip(c: Column): Column = {
    val lo = $(minLabel); val hi = $(maxLabel)
    val lower = if (lo.isNegInfinity) c else greatest(c, lit(lo))
    if (hi.isPosInfinity) lower else least(lower, lit(hi))
  }

  /** Model persistence — a capability gap in the reference (SURVEY S5:
    * no MLWritable/MLReadable anywhere). Layout under `path/`:
    * `metadata/` (1-row JSON: uid, k, w0, params), `strengths/` and
    * `factors/` (the two parameter tables as parquet). All writes go
    * through Spark so the format works on any Hadoop-compatible FS —
    * parameter tables never pass through the driver. */
  override def write: MLWriter = new FactorizationMachinesModel.Writer(this)
}

/** One active entry of a sparse feature vector. Top-level (public) so the
  * generated code for the exploded view compiles under Janino. */
case class ActiveEntry(featureId: Int, featureValue: Double)

/** Persisted model metadata row (top-level for Janino codegen). */
case class FmModelMeta(
    uid: String,
    dimFactorization: Int,
    globalBias: Double,
    featuresCol: String,
    predictionCol: String,
    sampleIdCol: String,
    minLabel: Double,
    maxLabel: Double)

object FactorizationMachinesModel extends MLReadable[FactorizationMachinesModel] {

  private[fm] class Writer(model: FactorizationMachinesModel) extends MLWriter {
    override protected def saveImpl(path: String): Unit = {
      val spark = model.dimensionStrength.sparkSession
      import spark.implicits._
      val meta = FmModelMeta(model.uid, model.dimFactorization, model.globalBias,
        model.getFeaturesCol, model.getPredictionCol, model.getSampleIdCol,
        model.getMinLabel, model.getMaxLabel)
      // JSON via toJSON so +/-Infinity bounds survive as strings.
      Seq(meta).toDS().toDF()
        .withColumn("minLabel", col("minLabel").cast("string"))
        .withColumn("maxLabel", col("maxLabel").cast("string"))
        .coalesce(1).write.mode("overwrite").json(s"$path/metadata")
      model.dimensionStrength.toDF()
        .write.mode("overwrite").parquet(s"$path/strengths")
      model.factorizedInteraction.toDF()
        .write.mode("overwrite").parquet(s"$path/factors")
    }
  }

  private class Reader extends MLReader[FactorizationMachinesModel] {
    override def load(path: String): FactorizationMachinesModel = {
      val spark = SparkSession.active
      import spark.implicits._
      val m = spark.read.json(s"$path/metadata").head()
      val strengths = spark.read.parquet(s"$path/strengths").as[Strength]
      val factors = spark.read.parquet(s"$path/factors")
        .select(col("id"), col("vec")).as[FactorizedInteraction]
      new FactorizationMachinesModel(
        m.getAs[String]("uid"),
        m.getAs[Long]("dimFactorization").toInt,
        m.getAs[Double]("globalBias"),
        strengths, factors)
        .setFeaturesCol(m.getAs[String]("featuresCol"))
        .setPredictionCol(m.getAs[String]("predictionCol"))
        .setSampleIdCol(m.getAs[String]("sampleIdCol"))
        .setMinLabel(m.getAs[String]("minLabel").toDouble)
        .setMaxLabel(m.getAs[String]("maxLabel").toDouble)
    }
  }

  override def read: MLReader[FactorizationMachinesModel] = new Reader

  /** Sparse/dense vector → array of its active (featureId, featureValue)
    * pairs. The single unavoidable UDF at the VectorUDT boundary
    * (replaces Model:244-250's Map materialization); everything after it
    * is native columnar expressions. */
  private[graft] val activeEntries: UserDefinedFunction = udf {
    (v: Vector) =>
      val buf = scala.collection.mutable.ArrayBuffer.empty[ActiveEntry]
      if (v != null) v.foreachActive((i, x) => buf += ActiveEntry(i, x))
      buf.toSeq
  }

  /** Reference Model:268-272. Ids are non-contiguous and partition-layout
    * dependent — internal only, never exposed in output (SURVEY §7). */
  def addSampleId(dataset: Dataset[_], columnName: String): DataFrame =
    dataset.select(dataset("*"), monotonically_increasing_id().as(columnName))
}
