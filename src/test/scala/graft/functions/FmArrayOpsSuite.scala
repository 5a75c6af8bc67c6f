package graft.functions

import graft.fm.SparkSessionSuite
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The native FM array expressions must be BIT-identical to the
  * higher-order-function constructions they replace — the SGD/score
  * oracles gate exact doubles, so "close" is not enough. Compared via
  * the raw bits of every element over adversarial values (negative,
  * zero, ±subnormal-scale, large magnitudes, shrinkage above/below
  * |c|). */
class FmArrayOpsSuite extends SparkSessionSuite {

  private def randArr(rng: scala.util.Random, n: Int): Seq[Double] =
    (0 until n).map { _ =>
      val m = rng.nextInt(5) match {
        case 0 => 0.0
        case 1 => -0.0
        case 2 => rng.nextDouble() * 1e-12
        case 3 => rng.nextDouble() * 1e9
        case _ => rng.nextGaussian()
      }
      if (rng.nextBoolean()) m else -m
    }

  test("fm_arr_scale / fm_sq_sum / fm_grad_v / fm_soft_update equal the HOF forms bitwise") {
    val s = spark
    import s.implicits._
    val rng = new scala.util.Random(31)
    val rows = (0 until 400).map { i =>
      val k = 1 + rng.nextInt(8)
      (i.toLong, randArr(rng, k), randArr(rng, k),
        rng.nextGaussian() * 10, rng.nextGaussian() * 100,
        math.abs(rng.nextGaussian()))
    }
    val df = rows.toDF("id", "vec", "vfs", "x", "r", "shrink")

    // Compare through collected doubles' raw bits (driver-side), which
    // avoids needing a bits() SQL function.
    val got = df.select(
      col("id"),
      expr("fm_arr_scale(vec, x)").as("n_scale"),
      transform(col("vec"), v => v * col("x")).as("h_scale"),
      expr("fm_sq_sum(vec)").as("n_sq"),
      aggregate(col("vec"), lit(0.0), (a, v) => a + v * v).as("h_sq"),
      expr("fm_grad_v(vec, vfs, x, r)").as("n_gv"),
      // scalatest Matchers also defines `size`; qualify Spark's.
      transform(sequence(lit(0),
          org.apache.spark.sql.functions.size(col("vec")) - 1),
        f => (col("x") * element_at(col("vfs"), f + 1)
          - element_at(col("vec"), f + 1) * col("x") * col("x")) * col("r"))
        .as("h_gv"),
      expr("fm_soft_update(vec, vfs, shrink)").as("n_soft"),
      zip_with(col("vec"), col("vfs"), (v, g) => {
        val c = v - g
        signum(c) * greatest(lit(0.0), abs(c) - col("shrink"))
      }).as("h_soft")).collect()

    def b(d: Double) = java.lang.Double.doubleToRawLongBits(d)
    got.foreach { row =>
      val id = row.getLong(0)
      withClue(s"row $id scale: ") {
        row.getSeq[Double](1).map(b) shouldBe row.getSeq[Double](2).map(b)
      }
      withClue(s"row $id sq_sum: ") {
        b(row.getDouble(3)) shouldBe b(row.getDouble(4))
      }
      withClue(s"row $id grad_v: ") {
        row.getSeq[Double](5).map(b) shouldBe row.getSeq[Double](6).map(b)
      }
      withClue(s"row $id soft_update: ") {
        row.getSeq[Double](7).map(b) shouldBe row.getSeq[Double](8).map(b)
      }
    }
  }

  private def bits(d: Double): Long = java.lang.Double.doubleToRawLongBits(d)

  /** The seeded init as the Column composition `fm_init_*` replaced:
    * Box–Muller over two xxhash64 uniforms of (tag, id, f, seed). */
  private def hashGaussian(id: Column, f: Column, seed: Long): Column = {
    def uniform(tag: String): Column =
      (pmod(xxhash64(lit(tag), id, f, lit(seed)), lit(1000000L))
        .cast("double") + lit(0.5)) / lit(1000000.0)
    sqrt(lit(-2.0) * log(uniform("bm-u1"))) *
      cos(lit(2.0 * math.Pi) * uniform("bm-u2"))
  }

  private def initStrength(seed: Long, sd: Column, shrinks: Column): Column =
    call_function("fm_init_strength", col("id"), lit(seed), sd, shrinks)

  private def initVec(seed: Long, k: Int, sd: Column, shrinks: Column): Column =
    call_function("fm_init_vec", col("id"), lit(seed), lit(k), sd, shrinks)

  private val noShrinks = lit(Array.empty[Double])

  /** Both evaluation paths: a projection over an in-memory Seq is
    * evaluated interpreted by the optimizer, one over a shuffled copy
    * runs the generated code. */
  private def bothPaths(df: DataFrame): Seq[(String, DataFrame)] =
    Seq("interpreted" -> df, "generated" -> df.repartition(2))

  test("fm_init_strength / fm_init_vec equal the Column-form hash-gaussian init bitwise") {
    val s = spark
    import s.implicits._
    val rng = new scala.util.Random(17)
    val ids = Seq(Int.MinValue, -1, 0, 1, 1 << 20, Int.MaxValue) ++
      Seq.fill(10000)(rng.nextInt())
    for ((path, df) <- bothPaths(ids.toDF("id")); k <- Seq(1, 8);
         (seed, sd) <- Seq((7L, 0.01), (-3L, 1.0))) {
      val got = df.select(col("id"),
        initStrength(seed, lit(sd), noShrinks),
        hashGaussian(col("id"), lit(-1), seed) * sd,
        initVec(seed, k, lit(sd), noShrinks),
        transform(sequence(lit(0), lit(k - 1)),
          f => hashGaussian(col("id"), f, seed) * sd)).collect()
      got should have size ids.size
      got.foreach { r =>
        withClue(s"$path k=$k seed=$seed id=${r.getInt(0)} strength: ") {
          bits(r.getDouble(1)) shouldBe bits(r.getDouble(2))
        }
        withClue(s"$path k=$k seed=$seed id=${r.getInt(0)} vec: ") {
          r.getSeq[Double](3).map(bits) shouldBe r.getSeq[Double](4).map(bits)
        }
      }
    }
  }

  /** The replay of missed shrinkages must be the eager update of a row
    * no gradient touched, step for step: `fm_soft_update(·, zeros, s)`
    * on the factor vector and the Column soft threshold of `x − 0.0` on
    * the strength. The inits cover ±0.0 (sd = ±0.0), subnormals
    * (sd = 1e-310 and the least subnormal) and values inside the
    * thresholds. */
  test("fm_init_* replay equals iterated eager soft updates bitwise") {
    val s = spark
    import s.implicits._
    val k = 8
    val seed = 11L
    val sds = Seq(0.0, -0.0, Double.MinPositiveValue, 1e-310, 1e-3, 1.0, -2.0)
    val rows = for (id <- -20 to 60; sd <- sds) yield (id, sd)
    val shrinkRuns = Seq(Seq(0.0), Seq(1e-3), Seq(0.5, 0.25, 0.125),
      Seq(1e-320, 0.0, 1e-300), Seq(2.0, 1e-3), Seq(1e-4, 2e-4, 3e-4, 4e-4, 5e-4))
    for ((path, df) <- bothPaths(rows.toDF("id", "sd")); shrinks <- shrinkRuns) {
      val zeros = array_repeat(lit(0.0), k)
      val eagerVec = shrinks.foldLeft(initVec(seed, k, col("sd"), noShrinks))(
        (x, sh) => call_function("fm_soft_update", x, zeros, lit(sh)))
      val eagerStrength = shrinks.foldLeft(initStrength(seed, col("sd"), noShrinks)) {
        (x, sh) =>
          val c = x - lit(0.0)
          signum(c) * greatest(lit(0.0), abs(c) - lit(sh))
      }
      val got = df.select(col("id"), col("sd"),
        initStrength(seed, col("sd"), lit(shrinks.toArray)), eagerStrength,
        initVec(seed, k, col("sd"), lit(shrinks.toArray)), eagerVec).collect()
      got should have size rows.size
      got.foreach { r =>
        withClue(s"$path shrinks=$shrinks id=${r.getInt(0)} sd=${r.getDouble(1)}: ") {
          bits(r.getDouble(2)) shouldBe bits(r.getDouble(3))
          r.getSeq[Double](4).map(bits) shouldBe r.getSeq[Double](5).map(bits)
        }
      }
    }
  }

  /** A generated projection (over `spark.range`) once read `b` past its
    * end by `a`'s length; both paths now refuse the call. */
  test("fm_grad_v and fm_soft_update refuse arrays of unequal length") {
    val df = spark.range(4).select(
      array_repeat(col("id").cast("double"), 8).as("a"),
      array(col("id").cast("double")).as("b"))
    for ((name, call) <- Seq("fm_grad_v" -> "fm_grad_v(a, b, 1.0D, 1.0D)",
        "fm_soft_update" -> "fm_soft_update(a, b, 0.0D)")) withClue(s"$name: ") {
      val e = intercept[Exception](df.select(expr(call)).collect())
      val messages = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .map(_.getMessage).mkString(" | ")
      messages should include(s"$name expects arrays of equal length, got 8 and 1")
    }
  }
}
