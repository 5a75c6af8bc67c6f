package graft.ops

import graft.fm.SparkSessionSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The r12 Hamming-band engine ([[HammingBands]]) behind
  * dedup_simhash(_banded/_auto), mm_phash_dedup and mm_fuzzy_dedup:
  *
  *   - ROUTE INVARIANCE: brute, banded, and auto produce identical pair
  *     sets on a corpus with duplicate signatures (the collapse/expand
  *     path) — checked against an independently computed all-pairs
  *     reference;
  *   - DISPATCH: spread unique signatures route banded; a flood corpus
  *     (unique signatures concentrated in shared band buckets — the
  *     density² adversary the r11 10× sweep measured at 26–53×) flips
  *     the decision to brute via the measured share.
  */
class HammingBandsSuite extends SparkSessionSuite {

  /** (id, bands) rows: `mk(id)` gives the 4-byte band array. */
  private def sigDf(ids: Seq[Long], mk: Long => Seq[Long]): DataFrame = {
    val s = spark
    import s.implicits._
    ids.map(i => (i, mk(i))).toDF("id", "bands")
  }

  /** Well-spread deterministic signature: 4 bytes of a mixed hash. */
  private def spreadSig(i: Long): Seq[Long] = {
    val h = i * 2654435761L + 12345L
    (0 until 4).map(b => (h >> (8 * b)) & 0xffL)
  }

  /** Flood signature: bands 0..2 shared by EVERYONE, band 3 spreads —
    * unique signatures whose banded candidate volume is ~3× brute. */
  private def floodSig(i: Long): Seq[Long] =
    Seq(7L, 42L, 99L, (i * 131L) % 256L)

  /** Reference: plain all-pairs over raw member rows. */
  private def reference(sigs: DataFrame, maxHamming: Int): Set[(Long, Long, Long)] = {
    val rows = sigs.collect().map(r => (r.getLong(0), r.getSeq[Long](1)))
    (for {
      (i1, b1) <- rows; (i2, b2) <- rows if i1 < i2
      h = b1.zip(b2).map { case (p, q) => java.lang.Long.bitCount(p ^ q).toLong }.sum
      if h <= maxHamming
    } yield (i1, i2, h)).toSet
  }

  private def collected(df: DataFrame): Set[(Long, Long, Long)] =
    df.select(col("id1"), col("id2"), col("hamming")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

  test("brute, banded, and auto routes produce identical pairs on a duplicated corpus") {
    // 120 base signatures, each duplicated x3 (ids i, i+1000, i+2000):
    // the collapse path must expand intra-group (hamming 0) and
    // inter-group pairs identically on every route
    val ids = (0L until 120L) ++ (1000L until 1120L) ++ (2000L until 2120L)
    val sigs = sigDf(ids, i => spreadSig(i % 1000L))
    val ref = reference(sigs, 3)
    ref.exists(_._3 == 0L) shouldBe true // intra-group pairs present
    for (route <- Seq(Some(true), Some(false), None)) {
      val got = collected(HammingBands.pairs(sigs, "id", "bands", 4, 3,
        s"suite-route-$route", route = route,
        minBrute = 50L, sharePct = 90))
      withClue(s"route=$route: ") { got shouldBe ref }
    }
  }

  test("dispatch routes banded on spread signatures and brute on a band flood") {
    val spread = sigDf(0L until 600L, spreadSig)
    val dSpread = HammingBands.decide(
      spread.withColumnRenamed("id", "gid"), "suite-spread",
      minBrute = 100L, sharePct = 90)
    dSpread.useBrute shouldBe false
    dSpread.uniques shouldBe 600L

    val flood = sigDf(0L until 600L, floodSig)
    // floodSig collides for i and i+256·k in band 3 — dedupe to uniques
    val floodU = flood.dropDuplicates("bands")
      .withColumnRenamed("id", "gid")
    val dFlood = HammingBands.decide(floodU, "suite-flood",
      minBrute = 100L, sharePct = 90)
    dFlood.useBrute shouldBe true
    // bands 0..2 each contribute C(u,2): share >= 300% of brute
    dFlood.bandPairs should be >= dFlood.brutePairs * 3

    // and the flood corpus still answers EXACTLY on the auto route
    val ref = reference(flood, 3)
    val got = collected(HammingBands.pairs(flood, "id", "bands", 4, 3,
      "suite-flood-auto", minBrute = 100L, sharePct = 90))
    got shouldBe ref
  }

  /** r13 (verdict #6): on a duplicate-free corpus the pre-pass detects
    * n == u and skips the collapse window and both expansion joins —
    * same rows, no Window node in the plan. */
  test("duplicate-free corpora skip the collapse window (plan-pinned)") {
    val spread = sigDf(0L until 300L, spreadSig) // all signatures distinct
    val df = HammingBands.pairs(spread, "id", "bands", 4, 3,
      "suite-dupfree", route = Some(false))
    collected(df) shouldBe reference(spread, 3)
    df.queryExecution.executedPlan.toString should not include "Window"
    // r17: the collapse window runs eagerly inside the gmap pin, so it
    // no longer appears in the RESULT plan — the collapse path's
    // structural signature there is the intra-pair Union (dup-free
    // plans emit uPairs directly, no Union)
    df.queryExecution.executedPlan.toString should not include "Union"
    // a corpus with one duplicate takes the collapse path
    val dup = sigDf((0L until 300L) :+ 9000L,
      i => spreadSig(if (i == 9000L) 0L else i))
    val df2 = HammingBands.pairs(dup, "id", "bands", 4, 3,
      "suite-dup", route = Some(false))
    collected(df2) shouldBe reference(dup, 3)
    df2.queryExecution.executedPlan.toString should include("Union")
  }

  /** r12 advice (medium): the brute route's broadcast hint is gated on
    * the measured unique count — above `maxBroadcast` a DISPATCHED
    * brute decision falls back to the banded plan (identical rows, no
    * driver-memory hazard) instead of hinting an unbroadcastable
    * relation. */
  test("dispatched brute above maxBroadcast falls back to banded") {
    val flood = sigDf(0L until 600L, floodSig)
    val df = HammingBands.pairs(flood, "id", "bands", 4, 3,
      "suite-gate", minBrute = 5L, sharePct = 90, maxBroadcast = 10L)
    // the banded fallback must not plan a broadcast of the 600-row
    // unique relation nor a cartesian
    val plan = df.queryExecution.executedPlan.toString
    plan should not include "CartesianProduct"
    collected(df) shouldBe reference(flood, 3)
  }

  test("tiny corpora short-circuit to brute via minBrute") {
    val tiny = sigDf(0L until 40L, spreadSig)
    val d = HammingBands.decide(tiny.withColumnRenamed("id", "gid"),
      "suite-tiny", minBrute = 100L, sharePct = 90)
    d.useBrute shouldBe true
    d.reason should include("minBrute")
  }
}
