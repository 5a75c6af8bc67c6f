package perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.ml.linalg.{DenseVector, SparseVector}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.fm.{FactorizationMachinesModel, FactorizationMachinesSGD,
  FactorizedInteraction, Strength}
import graft.ops.{Dedup, Similarity}

/** One timed call into the engine. `run` returns the op's input rows;
  * it throws (or returns a failed [[OpOut]]) when the op's own output
  * check fails. `before` and `verify` run untimed, around `run`; a
  * `verify` that returns false fails the op. */
final case class OpDef(span: String, run: () => OpOut, label: String = "",
    before: () => Unit = () => (), verify: () => Boolean = () => true)

/** Input rows of an op (-1: the rows its tasks read), whether its own
  * output check passed, and per-op observations (e.g. admitted rows). */
final case class OpOut(rows: Long, ok: Boolean = true,
    extra: Map[String, Double] = Map.empty)

/** A workload: seeded inputs, staged state, and a fixed cycle of ops.
  * The harness times whole cycles, so every run measures the same op
  * mix whatever its length. */
trait Workload {
  /** Generates the seeded inputs (driver-side rows). */
  def datagen(): Unit
  /** Writes inputs and persisted state under the work directory. */
  def stage(): Unit
  /** Puts mutable state back to what [[stage]] left. */
  def restore(): Unit = ()
  /** The ops of cycle `c`. */
  def cycle(c: Int): Seq[OpDef]
  /** Untimed warm-up cycles. A count, not a duration: the JIT compiles
    * after a number of calls, so a fixed count warms it the same way
    * however fast the box runs that day. The counts trade warmth for
    * run length: the long runs in perfbench/baseline/warmup show op
    * times still drifting down slowly after them. */
  def warmupCycles: Int
  /** Runs the warm-up cycles, the last with its per-op checks (which
    * record their references), then [[restore]]. */
  def warmup(): Unit = {
    (1 to warmupCycles).foreach(c => cycle(-c).foreach { op =>
      op.before(); op.run()
      if (c == warmupCycles) op.verify()
    })
    restore()
  }
  /** Output checks run after the timed region: whether they passed (a
    * failure fails every timed op), plus observations for the record. */
  def check(): (Boolean, Map[String, Double])
}

object Workloads {
  def apply(name: String, spark: SparkSession, seed: Long, work: File): Workload =
    name match {
      case "fm_train" => new FmTrain(spark, seed, work)
      case "fm_score" => new FmScore(spark, seed, work)
      case "index_ingest" => new IndexIngest(spark, seed, work)
      case "query_mix" => new QueryMix(spark, seed, work)
      case other => throw new IllegalArgumentException(
        s"unknown workload '$other' (${names.mkString(", ")})")
    }

  val names: Seq[String] = Seq("fm_train", "fm_score", "index_ingest", "query_mix")

  def rmrf(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rmrf))
    f.delete()
  }

  def copyTree(from: File, to: File): Unit =
    if (from.isDirectory) {
      to.mkdirs()
      Option(from.listFiles()).foreach(_.foreach(f => copyTree(f, new File(to, f.getName))))
    } else java.nio.file.Files.copy(from.toPath, to.toPath,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
}

/** `fm_train`: one cold-init `FactorizationMachinesSGD.fit` per op on
  * seeded sparse samples (2^20-id space, Zipf-like popularity, ~20
  * dyadic-valued active features, labels from a planted k=8 FM). */
final class FmTrain(spark: SparkSession, seed: Long, work: File) extends Workload {
  val warmupCycles = 4
  val shape = Gen.FmShape(samples = Sizes.fmTrainSamples, dimBits = 20, active = 20, k = 8)
  val steps = 5
  private var rows: (Seq[Row], Seq[Row]) = _
  private val trainPath = new File(work, "fm_train/train").getPath
  private val heldPath = new File(work, "fm_train/heldout").getPath
  private var expectedSteps = -1
  private var lastModel: FactorizationMachinesModel = _

  def estimator: FactorizationMachinesSGD = new FactorizationMachinesSGD()
    .setDimFactorization(shape.k).setMaxIter(steps).setMiniBatchFraction(1.0)
    .setStepSize(Sizes.fmStepSize).setRegParam(1e-4).setInitialSd(0.01)
    .setSeed(seed)

  def datagen(): Unit = rows = Gen.fmSamples(seed, shape)

  def stage(): Unit = {
    Gen.frame(spark, Gen.fmSchema, rows._1).repartition(4)
      .write.mode("overwrite").parquet(trainPath)
    Gen.frame(spark, Gen.fmSchema, rows._2).repartition(4)
      .write.mode("overwrite").parquet(heldPath)
    // the trainer's own mini-batch split, computed independently: the
    // loss history must have exactly one entry per non-empty batch
    expectedSteps = spark.read.parquet(trainPath).select("label", "features")
      .randomSplit(Array.fill(steps)(1.0), seed).count(_.count() > 0)
  }

  def cycle(c: Int): Seq[OpDef] = Seq(OpDef("fm.fit", () => {
    val est = estimator
    val model = est.fit(spark.read.parquet(trainPath))
    lastModel = model
    val losses = est.lastLossHistory
    OpOut(rows._1.size.toLong,
      ok = losses.length == expectedSteps && losses.forall(x => !x.isNaN && !x.isInfinite),
      extra = Map("fm.steps" -> losses.length.toDouble))
  }))

  /** Held-out MSE of the last trained model must beat the constant
    * predictor that always answers the training-label mean. */
  def check(): (Boolean, Map[String, Double]) = {
    val held = spark.read.parquet(heldPath)
    val mean = rows._1.map(_.getDouble(1)).sum / rows._1.size
    val mse = lastModel.transform(held)
      .agg(avg(pow(col("prediction") - col("label"), 2))).head.getDouble(0)
    val baseline = held.agg(avg(pow(col("label") - lit(mean), 2))).head.getDouble(0)
    (mse < baseline, Map("fm.fit.heldout_mse" -> mse, "fm.heldout_mean_mse" -> baseline))
  }
}

/** `fm_score`: one `FactorizationMachinesModel.transform` per op, to the
  * noop sink, with a saved-and-loaded dyadic model. */
final class FmScore(spark: SparkSession, seed: Long, work: File) extends Workload {
  val warmupCycles = 12
  val shape = Gen.FmShape(samples = Sizes.fmScoreSamples, dimBits = 20, active = 20, k = 8)
  private var rows: Seq[Row] = _
  private val samplesPath = new File(work, "fm_score/samples").getPath
  private val entriesPath = new File(work, "fm_score/entries").getPath
  private val modelPath = new File(work, "fm_score/model").getPath
  private var model: FactorizationMachinesModel = _

  def datagen(): Unit = rows = Gen.fmScoreSamples(seed, shape)

  def stage(): Unit = {
    import spark.implicits._
    Gen.frame(spark, Gen.fmSchema, rows).write.mode("overwrite").parquet(samplesPath)
    // the same samples as plain (sid, ids, xs) rows, straight from the
    // generator: the check's SQL evaluation never touches the engine
    val vecs = rows.map(r => (r.getLong(0), r.getAs[SparseVector](2)))
    vecs.map { case (sid, v) => (sid, v.indices.map(_.toLong), v.values) }
      .toDF("sid", "ids", "xs").write.mode("overwrite").parquet(entriesPath)
    // the model: dyadic weights for every id the samples use, computed
    // on the driver from the formulas (the check evaluates them in SQL)
    val ids = vecs.flatMap(_._2.indices).distinct.sorted
    val strengths = ids.map(i => Strength(i, Gen.dyadicW(i))).toDS()
    val factors = ids.map(i => FactorizedInteraction(i,
      new DenseVector(Array.tabulate(shape.k)(f => Gen.dyadicV(i, f))))).toDS()
    new FactorizationMachinesModel(shape.k, Gen.DyadicW0, strengths, factors)
      .write.overwrite().save(modelPath)
    model = FactorizationMachinesModel.load(modelPath)
  }

  def cycle(c: Int): Seq[OpDef] = Seq(OpDef("fm.transform", () => {
    model.transform(spark.read.parquet(samplesPath))
      .write.mode("overwrite").format("noop").save()
    OpOut(rows.size.toLong)
  }))

  /** A seeded sample of predictions must be bit-equal to a plain Spark
    * SQL evaluation of the dyadic model over the generator's rows. */
  def check(): (Boolean, Map[String, Double]) = {
    val pick = (Gen.mix(seed) & 15L)
    val engine = model.transform(spark.read.parquet(samplesPath))
      .filter(pmod(col("sid"), lit(16L)) === pick)
      .select(col("sid"), col("prediction"))
    val entries = spark.read.parquet(entriesPath)
      .selectExpr("sid", "inline(arrays_zip(ids, xs))")
      .withColumnRenamed("ids", "id").withColumnRenamed("xs", "x")
    entries.filter(pmod(col("sid"), lit(16L)) === pick).createOrReplaceTempView("fm_e")
    entries.select("id").distinct().createOrReplaceTempView("fm_ids")
    spark.sql(Gen.dyadicParamSql(shape.k, "fm_ids")).createOrReplaceTempView("fm_p")
    val k = shape.k
    val sums = (0 until k).map(f => s"sum(p.v$f * e.x) AS s$f").mkString(", ")
    val sq = (0 until k).map(f => s"p.v$f * p.v$f").mkString(" + ")
    val norm = (0 until k).map(f => s"s$f * s$f").mkString(" + ")
    val sql = spark.sql(
      s"""SELECT sid, ${Gen.DyadicW0}D + wx + 0.5D * (($norm) - v2x2) AS expected
         |FROM (SELECT e.sid, sum(p.w * e.x) AS wx,
         |             sum(($sq) * e.x * e.x) AS v2x2, $sums
         |      FROM fm_e e JOIN fm_p p ON e.id = p.id GROUP BY e.sid)""".stripMargin)
    val joined = engine.join(sql, Seq("sid"), "full_outer")
    val n = joined.count()
    val bad = joined.filter(col("prediction").isNull || col("expected").isNull ||
      col("prediction") =!= col("expected")).count()
    (bad == 0 && n > 0, Map("fm.score.checked_rows" -> n.toDouble, "fm.score.mismatched_rows" -> bad.toDouble))
  }
}

/** `index_ingest`: writes and reads against persisted band, label and
  * IVF indexes, in a fixed interleave per cycle. */
final class IndexIngest(spark: SparkSession, seed: Long, work: File) extends Workload {
  val warmupCycles = 1
  private val root = new File(work, "index_ingest")
  private val staged = new File(root, "staged")
  private val live = new File(root, "live")
  private def dir(base: File, sub: String) = new File(base, sub).getPath
  private var docs: Seq[Row] = _
  private var vecs: Seq[Row] = _
  private var corpusTexts: IndexedSeq[String] = _
  private var corpusVecs: IndexedSeq[Seq[Float]] = _
  /** Everything the admission path admitted, for the rebuild check. */
  private val admittedDocs = mutable.ArrayBuffer.empty[DataFrame]
  private val admittedVecs = mutable.ArrayBuffer.empty[DataFrame]

  def datagen(): Unit = {
    docs = Gen.documents(seed, Sizes.ingestDocs)
    vecs = Gen.embeddings(seed, Sizes.ingestVecs)
    corpusTexts = docs.map(_.getString(1)).toIndexedSeq
    corpusVecs = vecs.map(_.getSeq[Float](1)).toIndexedSeq
  }

  private def docFrame(rows: Seq[Row]) =
    Gen.frame(spark, Gen.documentsSchema, rows).select("doc_id", "text")
  private def vecFrame(rows: Seq[Row]) =
    Similarity.prepared(Gen.frame(spark, Gen.embeddingsSchema, rows))

  def stage(): Unit = {
    Workloads.rmrf(staged)
    val d = docFrame(docs).repartition(4).localCheckpoint(true)
    Dedup.saveBandIndex(d, dir(staged, "band"))
    Dedup.saveBandIndex(d, dir(staged, "lband"))
    Dedup.buildBandLabels(spark, dir(staged, "lband"), dir(staged, "labels"))
    Similarity.saveIvfIndex(vecFrame(vecs).repartition(4).localCheckpoint(true),
      dir(staged, "ivf"))
  }

  override def restore(): Unit = {
    Workloads.rmrf(live)
    Workloads.copyTree(staged, live)
    admittedDocs.clear(); admittedVecs.clear()
  }

  private val batch = Sizes.ingestBatch
  private val dupShare = 0.3
  private def ids(c: Int, slot: Int): Long = 1000000L + c * 100000L + slot * 10000L

  def cycle(c: Int): Seq[OpDef] = {
    val docB = Gen.docBatch(seed, corpusTexts, batch, ids(c, 0), dupShare)
    val labB = Gen.docBatch(seed, corpusTexts, batch, ids(c, 1), dupShare)
    val probeB = Gen.docBatch(seed, corpusTexts, batch, ids(c, 2), dupShare)
    val vecB = Gen.vecBatch(seed, corpusVecs, batch, ids(c, 3), dupShare)
    val queryB = Gen.vecBatch(seed, corpusVecs, batch, ids(c, 4), dupShare)
    val ingestBand = OpDef("ops.ingest", () => {
      val admitted = Dedup.ingestIntoBandIndex(spark, dir(live, "band"), docFrame(docB))
      val n = admitted.count()
      admittedDocs += admitted
      OpOut(batch.toLong, ok = n <= batch,
        extra = Map("admitted" -> n.toDouble, "offered" -> batch.toDouble))
    })
    val probeBand = OpDef("ops.probe", () => {
      Dedup.probeBandIndex(spark, dir(live, "band"), docFrame(probeB))
        .write.mode("overwrite").format("noop").save()
      OpOut(batch.toLong)
    })
    val ingestIvf = OpDef("ops.ingest", () => {
      val admitted = Similarity.ingestIntoIvfIndex(spark, dir(live, "ivf"), vecFrame(vecB))
      val n = admitted.count()
      admittedVecs += admitted
      OpOut(batch.toLong, ok = n <= batch,
        extra = Map("admitted" -> n.toDouble, "offered" -> batch.toDouble))
    })
    val topK = OpDef("ops.probe", () => {
      Similarity.topKFromIvfIndex(spark, dir(live, "ivf"), vecFrame(queryB), k = 5)
        .write.mode("overwrite").format("noop").save()
      OpOut(batch.toLong)
    })
    val ingestLabels = OpDef("ops.ingest", () => {
      val labels = Dedup.ingestWithLabels(spark, dir(live, "lband"),
        dir(live, "labels"), docFrame(labB))
      val n = labels.count()
      OpOut(batch.toLong, ok = n > 0)
    })
    val compact =
      if (c % 2 == 0) OpDef("ops.compact", () => {
        Dedup.compactBandIndex(spark, dir(live, "band")); OpOut(0L)
      })
      else OpDef("ops.compact", () => {
        Similarity.compactIvfIndex(spark, dir(live, "ivf")); OpOut(0L)
      })
    Seq(ingestBand, probeBand, ingestIvf, topK, ingestLabels, compact)
  }

  /** Probe answers of the live indexes must equal the same probes
    * against indexes rebuilt from scratch over the same rows. */
  def check(): (Boolean, Map[String, Double]) = {
    val chk = new File(root, "check")
    Workloads.rmrf(chk)
    val allDocs = admittedDocs.foldLeft(docFrame(docs))((a, b) =>
      a.unionByName(b.select("doc_id", "text")))
    Dedup.saveBandIndex(allDocs.repartition(4).localCheckpoint(true), dir(chk, "band"))
    val probe = docFrame(Gen.docBatch(seed, corpusTexts, batch, 9000000L, 0.5))
      .localCheckpoint(true)
    def bandAnswers(d: String) = Dedup.probeBandIndex(spark, d, probe)
      .collect().map(_.toString).sorted.toSeq
    val liveBand = bandAnswers(dir(live, "band"))
    val bandOk = liveBand == bandAnswers(dir(chk, "band"))
    // IVF centroids are frozen at build, so the rebuild is a build over
    // the same base rows plus one append of everything admitted since
    Similarity.saveIvfIndex(vecFrame(vecs).repartition(4).localCheckpoint(true),
      dir(chk, "ivf"))
    if (admittedVecs.nonEmpty)
      Similarity.appendToIvfIndex(dir(chk, "ivf"), admittedVecs.reduce(_ unionByName _))
    val queries = vecFrame(Gen.vecBatch(seed, corpusVecs, batch, 9100000L, 0.5))
      .localCheckpoint(true)
    def ivfAnswers(d: String) =
      Similarity.topKFromIvfIndex(spark, d, queries, k = 5)
        .collect().map(_.toString).sorted.toSeq
    val liveIvf = ivfAnswers(dir(live, "ivf"))
    val ivfOk = liveIvf == ivfAnswers(dir(chk, "ivf"))
    (bandOk && ivfOk && liveBand.nonEmpty && liveIvf.nonEmpty, Map("index.check.band_rows" -> liveBand.size.toDouble,
        "index.check.band_equal" -> (if (bandOk) 1.0 else 0.0),
        "index.check.ivf_rows" -> liveIvf.size.toDouble,
        "index.check.ivf_equal" -> (if (ivfOk) 1.0 else 0.0)))
  }
}

/** `query_mix`: one registered read-only battery query per op, over
  * seeded fixture tables; each cycle is a seeded shuffle of the list. */
final class QueryMix(spark: SparkSession, seed: Long, work: File) extends Workload {
  val warmupCycles = 3
  private val fixture = new File(work, "query_mix/fixture").getPath
  private var tables: Seq[(String, org.apache.spark.sql.types.StructType, Seq[Row])] = _
  /** (rows, hash) of each query's result in the warm-up: the result
    * after every timed execution must match it. */
  private val reference = mutable.Map.empty[String, (Long, Long)]
  private val mismatched = mutable.Set.empty[String]

  def datagen(): Unit = tables = Gen.fixtureTables(seed, Sizes.queryScale)

  def stage(): Unit = tables.foreach { case (t, schema, rows) =>
    Gen.frame(spark, schema, rows).write.mode("overwrite").parquet(s"$fixture/$t.parquet")
  }

  /** The span a battery query is attributed to, by the module it lives in. */
  def spanOf(q: String): String =
    if (q.startsWith("st_")) "streaming.query"
    else if (q.startsWith("adv_asof_")) "plans.query"
    else if (q.startsWith("q") || q.startsWith("src_") || q.startsWith("adv_"))
      "relational.query"
    else "ops.query"

  /** Row count and an order-insensitive hash of a query's result, in one
    * pass over every column. */
  private def digest(df: DataFrame): (Long, Long) = {
    val h = xxhash64(df.columns.map(c => col(s"`$c`")): _*)
    val r = df.agg(count(lit(1)), sum(pmod(h, lit(2147483647L)))).head
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
  }

  /** Untimed per-op housekeeping and staging, as graft.Bench does. */
  private def prepare(q: String): Unit = {
    graft.InternalCaches.releaseAll()
    spark.catalog.clearCache()
    graft.SparkEntry.prepares.get(q).foreach(p => p(spark, fixture))
  }

  private def query(q: String): DataFrame = graft.SparkEntry.queries(q)(spark, fixture)

  /** The timed op materializes the query to the noop sink, as graft.Bench
    * does; the digest is a second, untimed execution right after it. */
  def cycle(c: Int): Seq[OpDef] = {
    val order = new scala.util.Random(Gen.mix(seed ^ c)).shuffle(Sizes.queries)
    order.map(q => OpDef(spanOf(q), () => {
      query(q).write.mode("overwrite").format("noop").save()
      OpOut(-1L)
    }, label = q, before = () => prepare(q), verify = () => {
      val d = digest(query(q))
      val ok = reference.getOrElseUpdate(q, d) == d
      if (!ok) mismatched += q
      ok
    }))
  }

  /** A query whose digest moved, in the warm-up or after, fails the run. */
  def check(): (Boolean, Map[String, Double]) = {
    if (mismatched.nonEmpty)
      System.err.println(s"[perfbench] query_mix digests changed: ${mismatched.mkString(", ")}")
    (mismatched.isEmpty, Map("query_mix.queries" -> Sizes.queries.size.toDouble))
  }
}
