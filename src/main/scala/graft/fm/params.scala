package graft.fm

import org.apache.spark.ml.linalg.SQLDataTypes
import org.apache.spark.ml.param._
import org.apache.spark.sql.types.{DoubleType, StructField, StructType}

/** Params shared by the FM model (scoring side).
  *
  * Mirrors the reference param surface (FactorizationMachinesModel.scala:19-33,
  * 54-61) with one documented divergence: the reference defaults
  * `minLabel`/`maxLabel` to [0, 1] yet its own golden test
  * (FactorizationMachinesSuite.scala:65-68) asserts unclipped predictions
  * (23.77 > 1). We resolve in favor of the goldens: default bounds are
  * ±Infinity, i.e. clipping only happens when bounds are explicitly set.
  */
trait FactorizationMachinesModelParams extends Params {

  final val featuresCol: Param[String] =
    new Param[String](this, "featuresCol", "features column name (VectorUDT)")
  final def getFeaturesCol: String = $(featuresCol)

  final val labelCol: Param[String] =
    new Param[String](this, "labelCol", "label column name (double)")
  final def getLabelCol: String = $(labelCol)

  final val predictionCol: Param[String] =
    new Param[String](this, "predictionCol", "prediction output column name")
  final def getPredictionCol: String = $(predictionCol)

  final val sampleIdCol: Param[String] =
    new Param[String](this, "sampleIdCol", "column name for the internal sample id")
  final def getSampleIdCol: String = $(sampleIdCol)

  final val minLabel: DoubleParam =
    new DoubleParam(this, "minLabel", "minimum label value (predictions clipped up to it)")
  final def getMinLabel: Double = $(minLabel)

  final val maxLabel: DoubleParam =
    new DoubleParam(this, "maxLabel", "maximum label value (predictions clipped down to it)")
  final def getMaxLabel: Double = $(maxLabel)

  setDefault(
    featuresCol -> "features",
    labelCol -> "label",
    predictionCol -> "prediction",
    sampleIdCol -> "sampleId",
    minLabel -> Double.NegativeInfinity,
    maxLabel -> Double.PositiveInfinity)

  /** Schema contract of the reference (FactorizationMachines.scala:33-37,
    * FactorizationMachinesModel.scala:236-240): features must be VectorUDT,
    * label (when fitting) must be DoubleType, prediction column is appended.
    * Divergence from `Model:239` recorded in SURVEY §1.2: the reference
    * declares FloatType but produces DoubleType; we declare DoubleType.
    */
  protected def validateAndTransformSchema(
      schema: StructType, fitting: Boolean): StructType = {
    val f = schema($(featuresCol))
    require(f.dataType == SQLDataTypes.VectorType,
      s"Column ${$(featuresCol)} must be ${SQLDataTypes.VectorType.simpleString} " +
        s"but is ${f.dataType.simpleString}")
    if (fitting) {
      val l = schema($(labelCol))
      require(l.dataType == DoubleType,
        s"Column ${$(labelCol)} must be double but is ${l.dataType.simpleString}")
    }
    require(!schema.fieldNames.contains($(predictionCol)),
      s"Prediction column ${$(predictionCol)} already exists")
    require(!schema.fieldNames.contains($(sampleIdCol)),
      s"Column ${$(sampleIdCol)} collides with the internal sample-id " +
        "column; rename it or setSampleIdCol to an unused name")
    StructType(schema.fields :+ StructField($(predictionCol), DoubleType, nullable = false))
  }
}

/** Full param surface of the FM estimator — the reference's M1-M4 set
  * (FactorizationMachines.scala:26-31, FactorizationMachinesSGD.scala:16-24,
  * 61-74) plus an explicit `seed` (the reference draws unseeded gaussians,
  * a nondeterminism hazard flagged in SURVEY §7).
  */
trait FactorizationMachinesParams extends FactorizationMachinesModelParams {

  /** k — dimensionality of the factorized interaction (FM:26-31). */
  final val dimFactorization: IntParam = new IntParam(this, "dimFactorization",
    "dimensionality k of the factorized pairwise interaction (>= 1)",
    ParamValidators.gtEq(1))
  final def getDimFactorization: Int = $(dimFactorization)

  final val maxIter: IntParam = new IntParam(this, "maxIter",
    "maximum number of SGD iterations (>= 0)", ParamValidators.gtEq(0))
  final def getMaxIter: Int = $(maxIter)

  final val regParam: DoubleParam = new DoubleParam(this, "regParam",
    "L1 regularization parameter (>= 0)", ParamValidators.gtEq(0))
  final def getRegParam: Double = $(regParam)

  final val stepSize: DoubleParam = new DoubleParam(this, "stepSize",
    "initial SGD step size (> 0); per-iteration lr = stepSize / sqrt(iter)",
    ParamValidators.gt(0))
  final def getStepSize: Double = $(stepSize)

  final val miniBatchFraction: DoubleParam = new DoubleParam(this,
    "miniBatchFraction",
    "fraction of input per mini-batch in (0, 1]. Reference quirk preserved " +
      "(SGD:111-112, SURVEY D3): batches are those of randomSplit(maxIter " +
      "copies), whose weights are normalized, so each batch is ~1/maxIter of " +
      "the data whatever this value; fit assigns them in one seeded pass",
    ParamValidators.inRange(0.0, 1.0, lowerInclusive = false, upperInclusive = true))
  final def getMiniBatchFraction: Double = $(miniBatchFraction)

  final val initialSd: DoubleParam = new DoubleParam(this, "initialSd",
    "standard deviation of the gaussian init of factor weights (> 0)",
    ParamValidators.gt(0))
  final def getInitialSd: Double = $(initialSd)

  /** Default false for reference parity (FM:17 mixes in HasFitIntercept
    * but SGD:246 fixes w0 at 0.0 and the update loop never touches it,
    * SURVEY M2 — a documented wart: non-centered labels silently lose
    * model quality). Since r6, `true` opts into training the bias by the
    * batch-mean residual gradient each iteration
    * (FactorizationMachinesSGD.step). */
  final val fitIntercept: BooleanParam = new BooleanParam(this, "fitIntercept",
    "whether to fit the global bias term (reference default: never)")
  final def getFitIntercept: Boolean = $(fitIntercept)

  final val seed: LongParam = new LongParam(this, "seed",
    "random seed for factor init and mini-batch splitting")
  final def getSeed: Long = $(seed)

  setDefault(
    dimFactorization -> 10,
    maxIter -> 10,
    regParam -> 0.1,
    stepSize -> 1.0,
    miniBatchFraction -> 0.1,
    initialSd -> 0.01,
    fitIntercept -> false,
    seed -> 1234L)
}
