package graft.ops

import graft.fm.SparkSessionSuite
import org.apache.spark.sql.functions._

/** Pins the r7 two-level quantizer (VERDICT r6 #3): (1) on clustered
  * data — the regime the coarse level exists for — its upTo=1 cell
  * assignment is IDENTICAL to the flat quantizer's (the cell vocabulary
  * is the same [[Similarity.ivfStride]] picks, only the search over it
  * is hierarchical); (2) the assignment's fine-distance work is
  * provably sub-flat: every vector ranks at most
  * coarseProbe · maxGroupSize fine centroids instead of all nlist, so
  * total distance computations are O(n·(√nlist + coarseProbe·
  * nlist/√nlist)) vs flat's O(n·nlist). */
class TwoLevelQuantizerSuite extends SparkSessionSuite {

  /** 3 tight, far-apart clusters; 256 vectors so the stride (16) is
    * coprime with the cluster count and the 16 fine centroids spread
    * over all clusters. */
  private def clustered(s: org.apache.spark.sql.SparkSession) = {
    import s.implicits._
    val rng = new scala.util.Random(11)
    val centers = Seq.fill(3)(Array.fill(16)(rng.nextGaussian() * 5.0))
    val emb = (0L until 256L).map { i =>
      val c = centers((i % 3).toInt)
      (i, c.map(x => (x + rng.nextGaussian() * 0.1).toFloat).toSeq)
    }.toDF("vec_id", "embedding")
    Similarity.prepared(emb).localCheckpoint()
  }

  test("two-level equals flat cell assignment on clustered data") {
    val s = spark
    val prep = clustered(s)
    def cells(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
      df.filter(col("rn") === 1).select(col("vec_id"), col("cid"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val flat = cells(Similarity.rankedCells(prep, nlist = 16, upTo = 1))
    val two = cells(Similarity.rankedCellsTwoLevel(prep, nlist = 16, upTo = 1))
    flat.size shouldBe 256
    two shouldBe flat
  }

  test("fine-stage distance work is bounded by probed groups, below flat") {
    val s = spark
    val prep = clustered(s)
    val nlist = 16
    // upTo = nlist keeps EVERY ranked fine centroid, so rows per vector
    // = fine distance computations per vector
    val ranked = Similarity.rankedCellsTwoLevel(prep, nlist, upTo = nlist)
      .groupBy(col("vec_id")).agg(count(lit(1)).as("cand"))
      .agg(max(col("cand")).as("mx"), sum(col("cand")).as("tot")).head()
    val (mx, tot) = (ranked.getLong(0), ranked.getLong(1))
    val n = prep.count()
    val nCoarse = math.ceil(math.sqrt(nlist.toDouble)).toInt // 4
    // no group can exceed nlist − (nCoarse − 1) members, and probing 2
    // groups can never reach all nlist fine centroids on this fixture
    mx should be < nlist.toLong
    // strict saving vs flat even counting the coarse stage: flat does
    // n·nlist fine distances; two-level does n·√nlist coarse + `tot` fine
    (n * nCoarse + tot) should be < (n * nlist)
    // flat ranks every centroid for every vector — sanity-check the twin
    val flatTot = Similarity.rankedCells(prep, nlist, upTo = nlist)
      .count()
    flatTot shouldBe (n * nlist)
  }

  test("two-level agreement stays high on the unstructured fixture") {
    val s = spark
    val prep = Similarity.prepared(
      graft.Tables.embeddings(s, "/root/testdata/sf0.001")).localCheckpoint()
    def cells(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
      df.filter(col("rn") === 1).select(col("vec_id"), col("cid"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val flat = cells(Similarity.rankedCells(prep, Similarity.IvfNlist, 1))
    val two = cells(Similarity.rankedCellsTwoLevel(prep, Similarity.IvfNlist, 1))
    val agree = flat.count { case (v, c) => two.get(v).contains(c) }
    // unstructured data is the quantizer's worst case (no cluster
    // margin); the probed 2-of-3 coarse groups still cover the true
    // nearest fine centroid for the bulk of vectors
    withClue(s"agreement $agree/${flat.size}: ") {
      agree.toDouble / flat.size should be >= 0.6
    }
  }

  /** The r10 tie rule: cell ranking compares the 1e-12-QUANTIZED
    * distance, so EXACTLY-tied centroids (the 10× twin fixture turns
    * every stride pick into the same vector) break on centroid id —
    * deterministically, on both engines — instead of on ulp-level
    * summation-order wobble. Pinned here on a corpus where every
    * vector (hence every centroid) is identical: the only correct
    * assignment is the lowest centroid id, for every vector. */
  test("identical centroids: quantized-distance ties break to the lowest cid") {
    val s = spark
    import s.implicits._
    val emb = (0L until 32L).map(i => (i, Seq.fill(8)(1.5f)))
      .toDF("vec_id", "embedding")
    val prep = Similarity.prepared(emb).localCheckpoint()
    val ranked = Similarity.rankedCells(prep, nlist = 8, upTo = 2)
    val firstCells = ranked.filter(col("rn") === 1)
      .select(col("cid")).distinct().collect().map(_.getLong(0))
    firstCells shouldBe Array(0L)
    val secondCells = ranked.filter(col("rn") === 2)
      .select(col("cid")).distinct().collect().map(_.getLong(0))
    // stride = ceil(32/8) = 4: second-nearest among the tied centroid
    // twins is the next id, 4
    secondCells shouldBe Array(4L)
  }
}
