package graft.fm

import org.apache.spark.ml.Model
import org.apache.spark.ml.functions.{array_to_vector, vector_to_array}
import org.apache.spark.ml.linalg.{DenseVector, Vector}
import org.apache.spark.ml.param.ParamMap
import org.apache.spark.ml.util.{Identifiable, MLReadable, MLReader, MLWritable, MLWriter}
import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.UserDefinedFunction
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

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
  *   - input columns ride through the per-sample aggregation, so
  *     scoring is one pass that caches nothing (Model:74-87 cached the
  *     input and joined the predictions back);
  *   - unseen features contribute nothing and samples without a learned
  *     feature fall back to the raw (unclipped) global bias, exactly as
  *     pinned by Suite:65-68 (Model:86's na.fill after the clip).
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

  override def copy(extra: ParamMap): FactorizationMachinesModel = {
    val copied = new FactorizationMachinesModel(uid, dimFactorization,
      globalBias, dimensionStrength, factorizedInteraction)
    copyValues(copied, extra).setParent(parent)
  }

  override def transformSchema(schema: StructType): StructType =
    validateAndTransformSchema(schema, fitting = false)

  /** The two parameter tables pre-joined into the combined
    * (id, strength, vecArr) table the SGD loop trains; the inverse of
    * [[FactorizationMachinesModel.fromParamTable]]. */
  def paramTable: DataFrame =
    dimensionStrength.toDF()
      .join(factorizedInteraction.toDF(), Seq("id"))
      .select(col("id"), col("strength"), vector_to_array(col("vec")).as("vecArr"))

  /** Scoring entry point — reference Model:69-87 semantics in one pass
    * that caches nothing: input columns ride through the per-sample
    * aggregation via first(). Feature-less samples explode into a
    * sentinel entry (featureId −1); the param join is left_outer with
    * zero defaults, so sentinel and unseen-feature rows contribute
    * nothing (the reference drops them in an inner join), and samples
    * with zero MATCHED features get the raw bias — the reference's
    * na.fill(globalBias) after the clip (Model:86), including
    * all-unseen-feature samples. */
  override def transform(dataset: Dataset[_]): DataFrame = {
    transformSchema(dataset.schema)
    val k = dimFactorization
    val inputCols = dataset.columns.toSeq
    // The sample id is `sampleIdCol`, which transformSchema keeps clear
    // of the input; every other internal column carries a reserved
    // prefix so user columns named id/strength/featureId/... can never
    // collide.
    val sid = $(sampleIdCol)
    val params = paramTable
      .select(col("id").as("__fm_pid"), col("strength").as("__fm_w"),
        col("vecArr").as("__fm_v"))

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

  /** A model over a combined (id, strength, vecArr) parameter table —
    * the inverse of [[FactorizationMachinesModel.paramTable]]. */
  def fromParamTable(uid: String, dimFactorization: Int, globalBias: Double,
      table: DataFrame): FactorizationMachinesModel = {
    val spark = table.sparkSession
    import spark.implicits._
    new FactorizationMachinesModel(uid, dimFactorization, globalBias,
      table.select(col("id"), col("strength")).as[Strength],
      table.select(col("id"), array_to_vector(col("vecArr")).as("vec"))
        .as[FactorizedInteraction])
  }

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
}
