package graft.ops

import graft.fm.SparkSessionSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The brute-vs-banded range-search dispatch (r11): decision rule,
  * per-call thresholds, route equivalence, and plan-time cost. Mirrors
  * the as-of skew dispatch suite's contract style — the flagship entry
  * point must do the right thing at its defaults. */
class RangeDispatchSuite extends SparkSessionSuite {

  private val sfDir = "/root/testdata/sf0.001"

  private def canon(df: DataFrame): Seq[(Long, Long, Double)] =
    df.select(col("v1"), col("v2"), round(col("rawcos"), 9).as("c"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .sortBy(t => (t._1, t._2))
      .toSeq

  /** Deterministic spread corpus: hash-derived pseudo-gaussianish
    * entries land vectors roughly uniformly across the 16 buckets of
    * each table, so the banded share sits near its structural floor
    * (~0.63) — well under the 90% default. */
  private def spreadCorpus(n: Int, dim: Int = 8): DataFrame = {
    val s = spark
    import s.implicits._
    val rng = new scala.util.Random(41)
    (0L until n.toLong).map { i =>
      (i, Seq.fill(dim)((rng.nextDouble() * 2 - 1).toFloat))
    }.toDF("vec_id", "embedding")
  }

  /** Degenerate concentrated corpus: every vector is the same direction
    * (plus a tiny non-flipping perturbation), so both tables put the
    * whole corpus in ONE bucket — the banded plan would score every
    * pair twice (share = 200%), pruning nothing. The twin-flood
    * adversary shape from the 10x sweep. */
  private def concentratedCorpus(n: Int, dim: Int = 8): DataFrame = {
    val s = spark
    import s.implicits._
    (0L until n.toLong).map { i =>
      (i, (0 until dim).map(j => (1.0 + 1e-6 * ((i + j) % 7)).toFloat))
    }.toDF("vec_id", "embedding")
  }

  test("small corpus takes the brute fast path and matches the exact " +
      "kernel bit-for-bit") {
    val prep = Similarity.prepared(graft.Tables.embeddings(spark, sfDir))
      .persist()
    try {
      val d = Similarity.rangeDispatchDecision(prep)
      d.useBrute shouldBe true
      d.reason should include("minLshVectors")
      d.n shouldBe 500L
      d.brutePairs shouldBe BigInt(500L * 499 / 2)
      canon(Similarity.rangeSearchPairs(prep, 0.35)) shouldBe
        canon(Similarity.pairCosineKernel(prep, 0.35))
    } finally prep.unpersist()
  }

  test("spread corpus above the size floor routes banded; the dispatched " +
      "result equals the banded plan's") {
    val prep = Similarity.prepared(spreadCorpus(4200)).persist()
    try {
      val d = Similarity.rangeDispatchDecision(prep)
      d.useBrute shouldBe false
      d.n shouldBe 4200L
      // the share floor of this geometry is ~62.5%; uniform spread sits
      // just above it and far under the 90% cut
      (d.lshPairs * 100) should be < (d.brutePairs * 90)
      (d.lshPairs * 100) should be > (d.brutePairs * 50)
      canon(Similarity.rangeSearchPairs(prep, 0.9)) shouldBe
        canon(Similarity.bandedPairCosine(prep)
          .filter(col("rawcos") >= 0.9))
    } finally prep.unpersist()
  }

  test("concentrated corpus trips the share rule: banded would score " +
      "every pair per table — brute is cheaper AND exact") {
    val prep = Similarity.prepared(concentratedCorpus(200)).persist()
    try {
      val d = Similarity.rangeDispatchDecision(prep, minLshVectors = 100L)
      d.useBrute shouldBe true
      d.reason should include("sharePct")
      // one bucket per table: lsh volume is exactly tables * C(n,2)
      d.lshPairs shouldBe d.brutePairs * Similarity.BandTables
      canon(Similarity.rangeSearchPairs(prep, 0.35, minLshVectors = 100L)) shouldBe
        canon(Similarity.pairCosineKernel(prep, 0.35))
    } finally prep.unpersist()
  }

  test("knobs: raising sharePct past the measured share flips the " +
      "concentrated corpus back to banded") {
    val prep = Similarity.prepared(concentratedCorpus(200)).persist()
    try Similarity.rangeDispatchDecision(prep, minLshVectors = 100L,
      sharePct = 300).useBrute shouldBe false
    finally prep.unpersist()
  }

  test("the decision is ONE metadata-sized action (bucket histogram " +
      "collect)") {
    val prep = Similarity.prepared(spreadCorpus(300)).persist()
    prep.count() // materialize the cache outside the counted window
    val counter = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit = counter.incrementAndGet()
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          exception: Exception): Unit = ()
    }
    graft.Profile.settle(spark) // deliver earlier tests' events first
    spark.listenerManager.register(listener)
    try {
      Similarity.rangeDispatchDecision(prep)
      graft.Profile.settle(spark)
      counter.get shouldBe 1
    } finally {
      spark.listenerManager.unregister(listener)
      prep.unpersist()
    }
  }
}
