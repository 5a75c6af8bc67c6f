package perfbench

import java.time.LocalDateTime
import java.util.SplittableRandom

import org.apache.spark.ml.linalg.{SQLDataTypes, Vectors}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded input generators. Every generator is a pure function of its
  * arguments: the same seed gives the same rows, so a run's inputs are
  * reproducible from its `--seed` alone. Rows are built on the driver
  * (the inputs are small) and handed to Spark as local relations; the
  * workloads stage them to parquet before anything is timed. */
object Gen {

  // ------------------------------------------------------------ hashing --

  /** splitmix64 finalizer: a fixed bijective mix of a long. */
  def mix(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** Uniform in (0, 1) from a hash of (a, b, c). */
  private def unit(a: Long, b: Long, c: Long): Double =
    ((mix(mix(mix(a) ^ b) ^ c) >>> 11) + 0.5) / (1L << 53).toDouble

  /** Standard gaussian from a hash of (a, b, c) — Box-Muller. */
  def hashGaussian(a: Long, b: Long, c: Long): Double =
    math.sqrt(-2.0 * math.log(unit(a, b, c))) *
      math.cos(2.0 * math.Pi * unit(a, b, c ^ 0x5DEECE66DL))

  // ------------------------------------------------------- FM samples --

  /** Shape of the synthetic sparse FM data. */
  final case class FmShape(samples: Int, dimBits: Int, active: Int, k: Int) {
    val dim: Int = 1 << dimBits
  }

  /** Sorted, distinct active feature ids of one sample: log-uniform
    * (Zipf-like, s = 1) popularity ranks over the id space, scrambled by
    * an odd multiplier mod 2^dimBits (a bijection) so popular ids are
    * spread over the whole space rather than clustered at 0. Values are
    * dyadic, (1..8)/8, so products with dyadic weights stay exact. */
  private def sampleEntries(r: SplittableRandom, shape: FmShape,
      seed: Long): (Array[Int], Array[Double], Array[Long]) = {
    val mask = shape.dim - 1
    val logDim = math.log(shape.dim.toDouble)
    val ids = scala.collection.mutable.TreeMap.empty[Int, (Double, Long)]
    while (ids.size < shape.active) {
      val rank = math.min(shape.dim - 1L,
        math.exp(r.nextDouble() * logDim).toLong - 1L)
      val id = ((rank * 0x9E3779B1L + seed) & mask).toInt
      ids(id) = ((1 + r.nextInt(8)) / 8.0, rank)
    }
    (ids.keys.toArray, ids.values.map(_._1).toArray, ids.values.map(_._2).toArray)
  }

  /** Planted model, w0 = 0: the 256 most popular ids carry w ~ N(0,
    * 0.5²) and v ~ N(0, 0.2²), the long tail a tenth of that — enough
    * signal where a few SGD steps can find it. Weights are hashes of
    * (id, seed), so no parameter table is ever held. */
  private def plantedLabel(ids: Array[Int], xs: Array[Double], ranks: Array[Long],
      k: Int, seed: Long): Double = {
    def scale(j: Int) = if (ranks(j) < 256) 1.0 else 0.1
    var lin = 0.0
    var pair = 0.0
    var i = 0
    while (i < ids.length) {
      lin += 0.5 * scale(i) * hashGaussian(ids(i), -1, seed) * xs(i); i += 1
    }
    var f = 0
    while (f < k) {
      var s = 0.0; var s2 = 0.0; var j = 0
      while (j < ids.length) {
        val t = 0.2 * scale(j) * hashGaussian(ids(j), f, seed) * xs(j)
        s += t; s2 += t * t; j += 1
      }
      pair += 0.5 * (s * s - s2); f += 1
    }
    lin + pair
  }

  val fmSchema: StructType = StructType(Seq(
    StructField("sid", LongType, nullable = false),
    StructField("label", DoubleType, nullable = false),
    StructField("features", SQLDataTypes.VectorType, nullable = false)))

  /** (train, heldout) FM samples: labels from the planted model plus
    * N(0, 0.1²) noise. The held-out split (one sample in five) comes
    * from the same seeded stream, so it shares the feature popularity
    * the trainer sees. */
  def fmSamples(seed: Long, shape: FmShape): (Seq[Row], Seq[Row]) = {
    val r = new SplittableRandom(mix(seed ^ 0xF00DL))
    val rows = (0 until shape.samples).map { n =>
      val (ids, xs, ranks) = sampleEntries(r, shape, seed)
      val y = plantedLabel(ids, xs, ranks, shape.k, seed) + 0.1 * r.nextGaussian()
      Row(n.toLong, y, Vectors.sparse(shape.dim, ids, xs))
    }
    rows.partition(_.getLong(0) % 5 != 0)
  }

  // ------------------------------------------------ dyadic FM scoring --

  /** Dyadic integer-formula weights (the FmRelationalQueries trick):
    * w(id) = ((id·37) mod 19 − 9)/16, v(id, f) = ((id·31 + f·17) mod 23
    * − 11)/32, w0 = 1/2. With (1..8)/8 feature values every product and
    * partial sum of a prediction is an exact binary fraction, so any
    * summation order gives bit-identical doubles. */
  def dyadicW(id: Long): Double = ((id * 37) % 19 - 9) / 16.0
  def dyadicV(id: Long, f: Int): Double = ((id * 31 + f * 17) % 23 - 11) / 32.0
  val DyadicW0 = 0.5

  /** The same formulas as Spark SQL over a table of ids `t(id)`. */
  def dyadicParamSql(k: Int, table: String): String =
    s"SELECT id, ((id * 37) % 19 - 9) / 16.0D AS w, " +
      (0 until k).map(f =>
        s"((id * 31 + $f * 17) % 23 - 11) / 32.0D AS v$f").mkString(", ") +
      s" FROM $table"

  /** Unlabelled scoring samples from the FM sampler (label fixed 0). */
  def fmScoreSamples(seed: Long, shape: FmShape): Seq[Row] = {
    val r = new SplittableRandom(mix(seed ^ 0x5C0EL))
    (0 until shape.samples).map { n =>
      val (ids, xs, _) = sampleEntries(r, shape, seed)
      Row(n.toLong, 0.0, Vectors.sparse(shape.dim, ids, xs))
    }
  }

  // ------------------------------------------------ fixture tables --

  private val Vocab = Array("spark", "window", "merge", "table", "column",
    "vector", "stream", "value", "data", "small", "join", "filter", "big",
    "group", "hash", "customer", "sort", "order", "slow", "line", "part",
    "fast", "row", "the", "agg", "key", "query", "a", "scan", "batch")
  private val Langs = Array("en", "en", "en", "en", "zh", "es", "fr", "de")

  def words(r: SplittableRandom, n: Int): String =
    Array.fill(n)(Vocab(r.nextInt(Vocab.length))).mkString(" ")

  val documentsSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType),
    StructField("n_chars", LongType)))

  /** Documents with 10..100 words from a 30-word vocabulary; one in
    * twenty is an earlier document plus the word "dup" (a planted near
    * duplicate), as in the engine's fixture tables. */
  def documents(seed: Long, n: Int): Seq[Row] = {
    val r = new SplittableRandom(mix(seed ^ 0xD0C5L))
    val texts = new Array[String](n)
    (0 until n).map { i =>
      val t =
        if (i >= 20 && r.nextInt(20) == 0) texts(r.nextInt(i)) + " dup"
        else words(r, 10 + r.nextInt(91))
      texts(i) = t
      Row(i.toLong, t, Langs(r.nextInt(Langs.length)), s"src${i % 20}",
        t.length.toLong)
    }
  }

  val embeddingsSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType, containsNull = false)),
    StructField("label", IntegerType)))

  def unitVector(r: SplittableRandom, dim: Int): Array[Float] = {
    val g = Array.fill(dim)(r.nextGaussian())
    val nrm = math.sqrt(g.map(x => x * x).sum)
    g.map(x => (x / nrm).toFloat)
  }

  /** Unit-norm 64-d gaussian embeddings with a 10-class label. */
  def embeddings(seed: Long, n: Int): Seq[Row] = {
    val r = new SplittableRandom(mix(seed ^ 0xE3BL))
    (0 until n).map(i => Row(i.toLong, unitVector(r, 64).toSeq, r.nextInt(10)))
  }

  /** The ten fixture tables the battery queries read, at `scale` × the
    * sf0.01 row counts (lineitem ≈ 60k rows at scale 1). Keys and value
    * domains follow the engine's fixture contract (`graft.Tables`). */
  def fixtureTables(seed: Long, scale: Double): Seq[(String, StructType, Seq[Row])] = {
    val r = new SplittableRandom(mix(seed ^ 0x7AB1EL))
    def n(base: Int) = math.max(1, (base * scale).round.toInt)
    val nCust = n(1500); val nSupp = n(100); val nPart = n(2000)
    val nOrders = n(15000); val nEvents = n(10000)
    def money(lo: Double, hi: Double) =
      math.round((lo + r.nextDouble() * (hi - lo)) * 100) / 100.0
    def day(from: LocalDateTime, days: Int) = from.plusDays(r.nextInt(days).toLong)
    val epoch95 = LocalDateTime.of(1995, 1, 1, 0, 0)

    val regions = Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
      .zipWithIndex.map { case (nm, i) => Row(i, nm) }
    val nations = (0 until 25).map(i => Row(i, s"NATION_$i", i % 5))
    val segments = Array("MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE")
    val customers = (0 until nCust).map(i =>
      Row(i.toLong, f"Customer#$i%09d", r.nextInt(25), money(-999.99, 9999.99),
        segments(r.nextInt(5))))
    val suppliers = (0 until nSupp).map(i =>
      Row(i.toLong, f"Supplier#$i%09d", r.nextInt(25), money(-999.99, 9999.99)))
    val adj = Array("large", "hot", "blue", "old", "cold", "red", "small", "shiny")
    val noun = Array("ring", "bolt", "plate", "gear", "widget", "rod", "anvil", "gizmo")
    val types = Array("LARGE", "MEDIUM", "ECONOMY", "PROMO", "SMALL", "STANDARD")
    val prices = new Array[Double](nPart)
    val parts = (0 until nPart).map { i =>
      prices(i) = 900.0 + (i % 1000) / 10.0
      Row(i.toLong, s"${adj(r.nextInt(8))} ${noun(r.nextInt(8))}",
        s"Brand#${1 + r.nextInt(25)}", types(r.nextInt(6)), 1 + r.nextInt(50),
        prices(i))
    }
    val statuses = Array("O", "F", "P")
    val flags = Array("N", "R", "A")
    val lineStatus = Array("F", "O")
    val prios = Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
    val lines = Seq.newBuilder[Row]
    val orders = (0 until nOrders).map { o =>
      val od = day(epoch95, 2405)
      var total = 0.0
      (1 to 1 + r.nextInt(7)).foreach { ln =>
        val pk = r.nextInt(nPart)
        val qty = (1 + r.nextInt(50)).toDouble
        val ext = math.round(qty * prices(pk) * 100) / 100.0
        total += ext
        lines += Row(o.toLong, pk.toLong, r.nextInt(nSupp).toLong, ln, qty, ext,
          r.nextInt(11) / 100.0, r.nextInt(9) / 100.0,
          flags(r.nextInt(3)), lineStatus(r.nextInt(2)),
          od.plusDays(1L + r.nextInt(121)))
      }
      Row(o.toLong, r.nextInt(nCust).toLong, statuses(r.nextInt(3)),
        math.round(total * 100) / 100.0, od, prios(r.nextInt(5)))
    }
    val evTypes = Array("signup", "purchase", "view", "click", "error")
    val evStart = LocalDateTime.of(2024, 1, 1, 0, 0)
    val spanMicros = 30L * 24 * 3600 * 1000000L
    val evTimes = Array.fill(nEvents)((r.nextDouble() * spanMicros).toLong).sorted
    val events = (0 until nEvents).map(i =>
      Row(i.toLong, evStart.plusNanos(evTimes(i) * 1000L),
        r.nextInt(math.max(10, nEvents / 60)).toLong, evTypes(r.nextInt(5)),
        math.round(-50.0 * math.log(1.0 - r.nextDouble()) * 100) / 100.0,
        s"""{"k": ${r.nextInt(100)}}"""))

    def st(fields: (String, DataType)*) =
      StructType(fields.map { case (nm, t) => StructField(nm, t) })
    Seq(
      ("region", st("r_regionkey" -> IntegerType, "r_name" -> StringType), regions),
      ("nation", st("n_nationkey" -> IntegerType, "n_name" -> StringType,
        "n_regionkey" -> IntegerType), nations),
      ("customer", st("c_custkey" -> LongType, "c_name" -> StringType,
        "c_nationkey" -> IntegerType, "c_acctbal" -> DoubleType,
        "c_mktsegment" -> StringType), customers),
      ("supplier", st("s_suppkey" -> LongType, "s_name" -> StringType,
        "s_nationkey" -> IntegerType, "s_acctbal" -> DoubleType), suppliers),
      ("part", st("p_partkey" -> LongType, "p_name" -> StringType,
        "p_brand" -> StringType, "p_type" -> StringType,
        "p_size" -> IntegerType, "p_retailprice" -> DoubleType), parts),
      ("orders", st("o_orderkey" -> LongType, "o_custkey" -> LongType,
        "o_orderstatus" -> StringType, "o_totalprice" -> DoubleType,
        "o_orderdate" -> TimestampNTZType, "o_orderpriority" -> StringType), orders),
      ("lineitem", st("l_orderkey" -> LongType, "l_partkey" -> LongType,
        "l_suppkey" -> LongType, "l_linenumber" -> IntegerType,
        "l_quantity" -> DoubleType, "l_extendedprice" -> DoubleType,
        "l_discount" -> DoubleType, "l_tax" -> DoubleType,
        "l_returnflag" -> StringType, "l_linestatus" -> StringType,
        "l_shipdate" -> TimestampNTZType), lines.result()),
      ("events", st("event_id" -> LongType, "ts" -> TimestampNTZType,
        "user_id" -> LongType, "event_type" -> StringType,
        "value" -> DoubleType, "props" -> StringType), events),
      ("documents", documentsSchema, documents(seed, n(500))),
      ("embeddings", embeddingsSchema, embeddings(seed, n(500))))
  }

  // ---------------------------------------------------- ingest batches --

  /** One ingest batch of `n` documents with fresh ids from `idBase`: a
    * `dupShare` fraction are near duplicates of `corpus` documents (the
    * text plus one extra vocabulary word), the rest are fresh texts. */
  def docBatch(seed: Long, corpus: IndexedSeq[String], n: Int, idBase: Long,
      dupShare: Double): Seq[Row] = {
    val r = new SplittableRandom(mix(seed ^ idBase ^ 0xBA7C4L))
    (0 until n).map { i =>
      val t =
        if (r.nextDouble() < dupShare)
          corpus(r.nextInt(corpus.length)) + " " + words(r, 1)
        else words(r, 10 + r.nextInt(91))
      Row(idBase + i, t)
    }
  }

  /** One vector ingest batch: a `dupShare` fraction are scaled copies
    * (x·1.01 + 0.0001, cosine ≥ 0.99) of `corpus` vectors, the rest
    * fresh unit vectors. */
  def vecBatch(seed: Long, corpus: IndexedSeq[Seq[Float]], n: Int,
      idBase: Long, dupShare: Double): Seq[Row] = {
    val r = new SplittableRandom(mix(seed ^ idBase ^ 0x7EC5L))
    (0 until n).map { i =>
      val v =
        if (r.nextDouble() < dupShare)
          corpus(r.nextInt(corpus.length)).map(x => (x * 1.01 + 0.0001).toFloat)
        else unitVector(r, 64).toSeq
      Row(idBase + i, v, 0)
    }
  }

  def frame(spark: SparkSession, schema: StructType, rows: Seq[Row]): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
}
