package graft.fm

import org.apache.spark.ml.linalg.Vectors
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

trait SparkSessionSuite extends AnyFunSuite with BeforeAndAfterAll with Matchers {
  lazy val spark: SparkSession = graft.GraftSession(cpus = 4)

  override def afterAll(): Unit = {
    spark.stop()
    super.afterAll()
  }
}

/** Ports the reference golden scoring test exactly
  * (FactorizationMachinesSuite.scala:24-75): fixed 4-feature model, k=3,
  * w0=5.0; dense / sparse / sparse-with-unlearned-dim / empty inputs.
  */
class FactorizationMachinesModelSuite extends SparkSessionSuite {

  test("golden scoring: dense, sparse, unlearned dim, empty") {
    val s = spark
    import s.implicits._
    val numFeatureDimensions = 4
    val input = Seq(
      (100, Vectors.dense(1.0, 2.0, 1.5, -1.0)),
      (101, Vectors.sparse(numFeatureDimensions, Seq((0, 0.5), (2, -1.5)))),
      (102, Vectors.sparse(numFeatureDimensions + 1, Seq((0, 2.0), (4, 1.5)))),
      (103, Vectors.sparse(numFeatureDimensions, Seq()))
    ).toDF("rowId", "features")

    val actual = FmQueries.goldenModel(s).transform(input)
      .collect()
      .sortBy(_.getAs[Int]("rowId"))

    actual should have size 4
    actual(0).getAs[Double]("prediction") should be(23.77 +- 1.0e-8)
    actual(1).getAs[Double]("prediction") should be(5.275 +- 1.0e-8)
    actual(2).getAs[Double]("prediction") should be(5.2 +- 1.0e-8)
    actual(3).getAs[Double]("prediction") should be(5.0 +- 1.0e-8)
  }

  test("clip applies when bounds are explicitly set (Model:131)") {
    val s = spark
    import s.implicits._
    val input = Seq(
      (100, Vectors.dense(1.0, 2.0, 1.5, -1.0)), // raw 23.77 -> clip 10.0
      (101, Vectors.sparse(4, Seq((0, 0.5), (2, -1.5)))), // raw 5.275
      (103, Vectors.sparse(4, Seq())) // bias fallback is NOT clipped
    ).toDF("rowId", "features")

    val actual = FmQueries.goldenModel(s)
      .setMinLabel(5.5).setMaxLabel(10.0)
      .transform(input)
      .collect()
      .sortBy(_.getAs[Int]("rowId"))

    actual(0).getAs[Double]("prediction") should be(10.0 +- 1.0e-8)
    actual(1).getAs[Double]("prediction") should be(5.5 +- 1.0e-8)
    // na.fill(globalBias) happens after the clip (Model:86, Suite:68):
    actual(2).getAs[Double]("prediction") should be(5.0 +- 1.0e-8)
  }

  test("input columns are preserved and prediction appended") {
    val s = spark
    import s.implicits._
    val input = Seq((1, "payload", Vectors.dense(1.0, 0.0, 0.0, 0.0)))
      .toDF("rowId", "extra", "features")
    val out = FmQueries.goldenModel(s).transform(input)
    out.columns.toSeq shouldBe Seq("rowId", "extra", "features", "prediction")
    out.count() shouldBe 1
  }

  test("transformSchema rejects non-vector features") {
    val s = spark
    import s.implicits._
    val bad = Seq((1, 2.0)).toDF("rowId", "features")
    an[Exception] should be thrownBy FmQueries.goldenModel(s).transform(bad)
  }
}

/** Ports VectorSumSuite (FactorizationMachinesSuite.scala:77-102). */
class VectorSumSuite extends SparkSessionSuite {
  test("vector sum over mixed dense/sparse") {
    val s = spark
    import s.implicits._
    val df = Seq(
      (1, Vectors.dense(0.01, 0.02, 0.03)),
      (1, Vectors.dense(0.1, 0.2, 0.3).toSparse),
      (1, Vectors.dense(1.0, 2.0, 3.0)),
      (1, Vectors.dense(10.0, 20.0, 30.0).toSparse),
      (1, Vectors.dense(100.0, 200.0, 300.0))
    ).toDF("id", "vec")

    val actual = df.groupBy(org.apache.spark.sql.functions.col("id"))
      .agg(new VectorSum(3)(org.apache.spark.sql.functions.col("vec")))
      .collect()

    actual should have size 1
    actual(0).getInt(0) shouldBe 1
    val v = actual(0).getAs[org.apache.spark.ml.linalg.DenseVector](1)
    v.size shouldBe 3
    v(0) should be(111.11 +- 1.0e-9)
    v(1) should be(222.22 +- 1.0e-9)
    v(2) should be(333.33 +- 1.0e-9)
  }
}
