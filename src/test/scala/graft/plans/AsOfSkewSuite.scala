package graft.plans

import graft.fm.SparkSessionSuite
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

/** Pins the skew-hardened as-of path ([[AsOfSkew]]): exact agreement
  * with the unsplit plan on a power-law corpus (one key holding ~50% of
  * the left rows), the hot key actually running in >1 output partition
  * (the whole point — the unsplit plan serializes it into one), forward
  * direction and tolerance through the same split, and fall-back to the
  * plain plan when nothing is hot. */
class AsOfSkewSuite extends SparkSessionSuite {

  /** ~50% of left rows on key 7, the rest spread over 50 cold keys;
    * right side mirrors the skew at a tenth the size. Times unique per
    * key (the operator's determinism contract). */
  private def skewedCorpus = {
    val s = spark
    val left = s.range(20000).select(
      when(col("id") % 2 === 0, 7L).otherwise(col("id") % 50 + 100L).as("k"),
      (col("id") * 1000L + 17L).as("t"),
      col("id").as("lv"))
    val right = s.range(2000).select(
      when(col("id") % 2 === 0, 7L).otherwise(col("id") % 50 + 100L).as("rk"),
      (col("id") * 9973L + 5L).as("rt"),
      col("id").as("rv"))
    (left, right)
  }

  private val aggressive = AsOfSkew.Config(
    slices = 8, hotKeyShare = 0.02, sampleFraction = 0.5, maxHotKeys = 8,
    minHotRows = 1)

  private def canon(rows: Array[Row]): Seq[Seq[Any]] =
    rows.map(_.toSeq.toIndexedSeq).toIndexedSeq

  test("50%-hot-key corpus: split output is identical to the unsplit plan") {
    val (left, right) = skewedCorpus
    val unsplit = AsOf.join(left, right, Seq("k" -> "rk"), "t", "rt",
        broadcastRight = Some(false))
      .orderBy("lv").collect()
    val split = AsOfSkew.join(left, right, Seq("k" -> "rk"), "t", "rt",
        broadcastRight = Some(false), config = aggressive)
      .orderBy("lv").collect()
    unsplit.length shouldBe 20000
    canon(split) shouldBe canon(unsplit)
  }

  test("hot key runs in more than one output partition") {
    val (left, right) = skewedCorpus
    // AQE partition coalescing may legally re-merge small test-sized
    // partitions; disable it so the assertion sees the exec's own
    // (key, slice) hash distribution
    val s = spark
    val coalesceKey = "spark.sql.adaptive.coalescePartitions.enabled"
    val prev = s.conf.get(coalesceKey)
    try {
      s.conf.set(coalesceKey, "false")
      val split = AsOfSkew.join(left, right, Seq("k" -> "rk"), "t", "rt",
        broadcastRight = Some(false), config = aggressive)
      val hotPartitions = split.filter(col("k") === 7L)
        .select(spark_partition_id()).distinct().count()
      // and the unsplit plan really does serialize the hot key: the
      // contrast that makes the split worth its two extra jobs
      val unsplit = AsOf.join(left, right, Seq("k" -> "rk"), "t", "rt",
        broadcastRight = Some(false))
      val unsplitHotPartitions = unsplit.filter(col("k") === 7L)
        .select(spark_partition_id()).distinct().count()
      withClue(s"hot-key partitions: split $hotPartitions, " +
          s"unsplit $unsplitHotPartitions") {
        hotPartitions should be > 1L
        unsplitHotPartitions shouldBe 1L
      }
    } finally s.conf.set(coalesceKey, prev)
  }

  test("tolerance flows through the split unchanged") {
    val (left, right) = skewedCorpus
    val tol = Some(500000L)
    val unsplit = AsOf.join(left, right, Seq("k" -> "rk"), "t", "rt",
        tolerance = tol, broadcastRight = Some(false))
      .orderBy("lv").collect()
    val split = AsOfSkew.join(left, right, Seq("k" -> "rk"), "t", "rt",
        tolerance = tol, broadcastRight = Some(false), config = aggressive)
      .orderBy("lv").collect()
    // the tolerance must null out some matches for the test to mean
    // anything, and both plans must null out the same ones
    unsplit.count(_.isNullAt(4)) should be > 0
    canon(split) shouldBe canon(unsplit)
  }

  test("forward direction splits identically") {
    val (left, right) = skewedCorpus
    val unsplit = AsOf.joinForward(left, right, Seq("k" -> "rk"), "t", "rt",
        broadcastRight = Some(false))
      .orderBy("lv").collect()
    val split = AsOfSkew.joinForward(left, right, Seq("k" -> "rk"), "t", "rt",
        broadcastRight = Some(false), config = aggressive)
      .orderBy("lv").collect()
    unsplit.length shouldBe 20000
    canon(split) shouldBe canon(unsplit)
  }

  test("no hot key detected: falls back to the plain single-key plan") {
    val s = spark
    // perfectly uniform keys, each far below the 2% share threshold
    val left = s.range(5000).select((col("id") % 500).as("k"),
      (col("id") * 31L).as("t"), col("id").as("lv"))
    val right = s.range(500).select((col("id") % 500).as("rk"),
      (col("id") * 101L).as("rt"), col("id").as("rv"))
    val df = AsOfSkew.join(left, right, Seq("k" -> "rk"), "t", "rt",
      broadcastRight = Some(false),
      config = AsOfSkew.Config(slices = 8, hotKeyShare = 0.02,
        sampleFraction = 0.2, maxHotKeys = 8, minHotRows = 1))
    // fallback plan carries no slice columns: output schema is exactly
    // left ++ right, and results match the plain join
    df.columns.toSeq shouldBe Seq("k", "t", "lv", "rk", "rt", "rv")
    val plain = AsOf.join(left, right, Seq("k" -> "rk"), "t", "rt",
      broadcastRight = Some(false))
    canon(df.orderBy("lv").collect()) shouldBe
      canon(plain.orderBy("lv").collect())
  }

  test("seeded fuzz: split ≡ unsplit over random skew profiles and configs") {
    val s = spark
    import s.implicits._
    for (seed <- 1 to 5) {
      val rnd = new scala.util.Random(seed)
      val nKeys = 1 + rnd.nextInt(6)
      val hotKeys = (0 until 1 + rnd.nextInt(2)).map(_ => rnd.nextInt(nKeys))
      val nLeft = 500 + rnd.nextInt(1500)
      val nRight = 50 + rnd.nextInt(400)
      // duplicate-prone time grid so slice boundaries often land exactly
      // on row times (the >=-boundary edge); times still unique per key
      // via a per-key disjoint offset (the operator's tie contract)
      def rows(n: Int, tag: String) = (0 until n).map { i =>
        val k = if (rnd.nextBoolean()) hotKeys(rnd.nextInt(hotKeys.length)).toLong
                else rnd.nextInt(nKeys).toLong
        (k, k * 1000000L + i * 10L + rnd.nextInt(3), s"$tag$i")
      }
      val left = rows(nLeft, "l").toDF("k", "t", "lv")
        .dropDuplicates("k", "t")
      val right = rows(nRight, "r").toDF("rk", "rt", "rv")
        .dropDuplicates("rk", "rt")
      val cfg = AsOfSkew.Config(
        slices = 2 + rnd.nextInt(7),
        hotKeyShare = 0.01 + rnd.nextDouble() * 0.2,
        sampleFraction = 0.3 + rnd.nextDouble() * 0.7,
        maxHotKeys = 1 + rnd.nextInt(8),
        minHotRows = 1,
        seed = seed.toLong)
      val tol = if (rnd.nextBoolean()) Some(50L + rnd.nextInt(2000).toLong)
                else None
      val unsplit = AsOf.join(left, right, Seq("k" -> "rk"), "t", "rt",
          tolerance = tol, broadcastRight = Some(false))
        .orderBy("k", "t").collect()
      val split = AsOfSkew.join(left, right, Seq("k" -> "rk"), "t", "rt",
          tolerance = tol, broadcastRight = Some(false), config = cfg)
        .orderBy("k", "t").collect()
      withClue(s"seed=$seed cfg=$cfg tol=$tol: ") {
        canon(split) shouldBe canon(unsplit)
      }
    }
  }

  test("hand fixture: nulls, ties, and cross-slice carry-in are exact") {
    val s = spark
    import s.implicits._
    // one "hot" key (1) with boundaries forced through a tiny slices
    // config; right rows cluster in the EARLY slices so later-slice left
    // rows can only match through the carry-in row
    val left = Seq(
      (Some(1L), Some(10L), "t10"), (Some(1L), Some(20L), "t20"),
      (Some(1L), Some(30L), "t30"), (Some(1L), Some(40L), "t40"),
      (Some(1L), Some(50L), "t50"), (Some(1L), Some(60L), "t60"),
      (Some(1L), Some(5L), "t5"),
      (Some(2L), Some(25L), "cold"),
      (None, Some(9L), "nullkey"), (Some(1L), None, "nulltime")
    ).toDF("k", "t", "lv")
    val right = Seq(
      (Some(1L), Some(8L), "r8"), (Some(1L), Some(12L), "r12"),
      (Some(1L), None, "rnull"), (None, Some(1L), "rnullkey"),
      (Some(2L), Some(30L), "rcold")
    ).toDF("rk", "rt", "rv")
    val out = AsOfSkew.join(left, right, Seq("k" -> "rk"), "t", "rt",
        broadcastRight = Some(false),
        config = AsOfSkew.Config(slices = 4, hotKeyShare = 0.0,
          sampleFraction = 1.0, maxHotKeys = 4, minHotRows = 1))
      .select("lv", "rv").collect()
      .map(r => (r.getString(0), r.getString(1))).toMap
    out shouldBe Map(
      "t5" -> null,     // nothing at or before 5
      "t10" -> "r8",
      "t20" -> "r12", "t30" -> "r12", "t40" -> "r12",
      "t50" -> "r12", "t60" -> "r12", // carry-in reaches every later slice
      "cold" -> null,   // rt 30 > t 25; cold key untouched by the split
      "nullkey" -> null, "nulltime" -> null)
  }

  // ---- r11: one-pass detection, hint path, default dispatch ----

  test("detection is ONE action over the sample (r10 verdict #6)") {
    val (left, _) = skewedCorpus
    val counter = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit = counter.incrementAndGet()
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          exception: Exception): Unit = ()
    }
    // deliver any events from earlier tests first
    graft.Profile.settle(spark)
    spark.listenerManager.register(listener)
    try {
      val bounds = AsOfSkew.detect(left, Seq("k"), "t", aggressive)
      // detection found the 50%-share key, boundaries attached
      bounds.keySet should contain(Seq(7L))
      bounds(Seq(7L)) should not be empty
      graft.Profile.settle(spark)
      withClue("detection must be a single pass (one action) over the " +
          "sample — counts, quantiles and the total share one job: ") {
        counter.get shouldBe 1
      }
    } finally spark.listenerManager.unregister(listener)
  }

  test("hint path: precomputed bounds skip detection and answer " +
      "identically (zero extra actions)") {
    val (left, right) = skewedCorpus
    // "yesterday's profile": the hot key with two crude midpoint-ish
    // cuts — boundaries are plan-only, so crude is fine
    val hint = Map(Seq[Any](7L) -> Seq(5000000L, 12000000L))
    val counter = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit = counter.incrementAndGet()
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          exception: Exception): Unit = ()
    }
    graft.Profile.settle(spark)
    spark.listenerManager.register(listener)
    val hinted =
      try {
        val df = AsOfSkew.join(left, right, Seq("k" -> "rk"), "t", "rt",
          broadcastRight = Some(false),
          config = aggressive.copy(hint = Some(hint)))
        graft.Profile.settle(spark)
        withClue("a hinted join must plan with ZERO driver actions: ") {
          counter.get shouldBe 0
        }
        df
      } finally spark.listenerManager.unregister(listener)
    val plain = AsOf.joinPlain(left, right, Seq("k" -> "rk"), "t", "rt",
      broadcastRight = Some(false))
    canon(hinted.orderBy("lv").collect()) shouldBe
      canon(plain.orderBy("lv").collect())
    // and the hint really split: slice-key join present in the plan
    assert(hinted.queryExecution.executedPlan.toString
      .contains("__asof_skew"))
  }

  test("forward hint is reflected onto the negated axis") {
    val (left, right) = skewedCorpus
    val hint = Map(Seq[Any](7L) -> Seq(5000000L, 12000000L))
    val hinted = AsOfSkew.joinForward(left, right, Seq("k" -> "rk"),
        "t", "rt", broadcastRight = Some(false),
        config = aggressive.copy(hint = Some(hint)))
      .orderBy("lv").collect()
    val fwd = AsOfSkew.joinForward(left, right, Seq("k" -> "rk"), "t", "rt",
        broadcastRight = Some(false), config = aggressive)
      .orderBy("lv").collect()
    canon(hinted) shouldBe canon(fwd)
  }

  test("small-input cheap skip: a left side below minHotRows bytes " +
      "plans plain with ZERO detection actions") {
    val (left, right) = skewedCorpus // 20k rows ≪ default 1M minHotRows
    val counter = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit = counter.incrementAndGet()
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          exception: Exception): Unit = ()
    }
    graft.Profile.settle(spark)
    spark.listenerManager.register(listener)
    try {
      val df = AsOfSkew.join(left, right, Seq("k" -> "rk"), "t", "rt",
        broadcastRight = Some(false)) // default config: minHotRows = 1M
      graft.Profile.settle(spark)
      withClue("stats-based skip must plan without any driver action: ") {
        counter.get shouldBe 0
      }
      df.columns.toSeq shouldBe Seq("k", "t", "lv", "rk", "rt", "rv")
    } finally spark.listenerManager.unregister(listener)
  }

  test("flagship AsOf.join rescues the hot key per call (r10 verdict #1)") {
    val (left, right) = skewedCorpus
    val coalesceKey = "spark.sql.adaptive.coalescePartitions.enabled"
    val prevCoalesce = spark.conf.get(coalesceKey)
    try {
      spark.conf.set(coalesceKey, "false")
      val df = AsOf.join(left, right, Seq("k" -> "rk"), "t", "rt",
        broadcastRight = Some(false),
        skew = AsOfSkew.Config(sampleFraction = 0.5, minHotRows = 1,
          maxHotKeys = 8))
      val hotPartitions = df.filter(col("k") === 7L)
        .select(spark_partition_id()).distinct().count()
      hotPartitions should be > 1L
      val plain = AsOf.joinPlain(left, right, Seq("k" -> "rk"), "t", "rt",
        broadcastRight = Some(false))
      canon(df.orderBy("lv").collect()) shouldBe
        canon(plain.orderBy("lv").collect())
    } finally spark.conf.set(coalesceKey, prevCoalesce)
  }

  test("default conf on a cold corpus: the dispatching plan IS the " +
      "plain plan (no slice columns, same exchange count)") {
    val s = spark
    val left = s.range(5000).select((col("id") % 500).as("k"),
      (col("id") * 31L).as("t"), col("id").as("lv"))
    val right = s.range(500).select((col("id") % 500).as("rk"),
      (col("id") * 101L).as("rt"), col("id").as("rv"))
    val dispatched = AsOf.join(left, right, Seq("k" -> "rk"), "t", "rt",
      broadcastRight = Some(false))
    val plain = AsOf.joinPlain(left, right, Seq("k" -> "rk"), "t", "rt",
      broadcastRight = Some(false))
    def exchanges(df: org.apache.spark.sql.DataFrame): Int =
      df.queryExecution.executedPlan.collect {
        case e: org.apache.spark.sql.execution.exchange.Exchange => e
      }.size
    dispatched.columns.toSeq shouldBe plain.columns.toSeq
    assert(!dispatched.queryExecution.executedPlan.toString
      .contains("__asof_skew"))
    exchanges(dispatched) shouldBe exchanges(plain)
  }
}
