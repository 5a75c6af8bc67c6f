package graft.ops

import graft.fm.SparkSessionSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Content collapse for the cosine pair family (r13 — the HammingBands
  * signature-collapse insight applied to vectors): a duplicate-flooded
  * corpus must produce BIT-IDENTICAL pairs through the collapsed plans,
  * a duplicate-free corpus must skip the collapse outright (plan pin),
  * and the auto dispatch must measure the same full-corpus histogram
  * either way. */
class CosineCollapseSuite extends SparkSessionSuite {

  private val sfDir = "/root/testdata/sf0.001"

  /** Exact-bits canonical form — NO rounding: the collapse contract is
    * bit-identity, not tolerance. */
  private def canon(df: DataFrame): Seq[(Long, Long, Double)] =
    df.select(col("v1"), col("v2"), col("rawcos"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .sortBy(t => (t._1, t._2))
      .toSeq

  /** sf0.001 embeddings unioned with `copies-1` shifted exact twins —
    * the synth_scale densification shape (every vector gains twins,
    * ids disjoint). */
  private def floodedPrep(copies: Int): DataFrame = {
    val base = graft.Tables.embeddings(spark, sfDir)
    val corpus = (0 until copies)
      .map(k => base.select((col("vec_id") + k * 1000000L).as("vec_id"),
        col("embedding")))
      .reduce(_ unionAll _)
    Similarity.prepared(corpus)
  }

  test("collapsed brute kernel ≡ uncollapsed kernel bit-for-bit on a " +
      "duplicate flood") {
    val prep = floodedPrep(3).persist()
    try {
      val collapsed = Similarity.collapsedCosinePairs(
        prep, "test_kernel", intraMin = Some(0.35))(
        Similarity.pairCosineKernel(_, 0.35))
      val reference = Similarity.pairCosineKernel(prep, 0.35)
      val got = canon(collapsed)
      got shouldBe canon(reference)
      // twins exist, so intra pairs (cos exactly 1.0) must be present
      got.count(_._3 == 1.0) should be >= 500
    } finally { prep.unpersist(); graft.InternalCaches.releaseAll() }
  }

  test("collapsed banded candidates ≡ uncollapsed banded bit-for-bit on " +
      "a duplicate flood") {
    val prep = floodedPrep(3).persist()
    try {
      val collapsed = Similarity.collapsedCosinePairs(
          prep, "test_banded")(Similarity.bandedPairCosine(_))
        .filter(col("rawcos") >= 0.35)
      val reference = Similarity.bandedPairCosine(prep)
        .filter(col("rawcos") >= 0.35)
      canon(collapsed) shouldBe canon(reference)
    } finally { prep.unpersist(); graft.InternalCaches.releaseAll() }
  }

  test("rangeSearchPairs on a flood matches the uncollapsed route picked " +
      "by the full-corpus decision") {
    val prep = floodedPrep(3).persist()
    try {
      // the decision the collapsed path must reproduce via weights
      val d = Similarity.rangeDispatchDecision(prep)
      // 1500 rows <= minLshVectors=4096 → brute; the collapsed path
      // derives the SAME n from the weighted unique histogram
      d.useBrute shouldBe true
      d.n shouldBe 1500L
      canon(Similarity.rangeSearchPairs(prep, 0.35)) shouldBe
        canon(Similarity.pairCosineKernel(prep, 0.35))
    } finally { prep.unpersist(); graft.InternalCaches.releaseAll() }
  }

  test("weighted unique histogram reproduces the full-corpus dispatch " +
      "decision above the size floor") {
    val prep = floodedPrep(10).persist() // 5000 rows, 500 uniques
    try {
      val direct = Similarity.rangeDispatchDecision(prep,
        minLshVectors = 1000L)
      // a uniform flood scales lsh AND brute volumes ~×copies², so the
      // share stays at the corpus's spread value (<90%) and the
      // full-corpus decision routes BANDED; the collapsed path must
      // reach the same decision from the weighted unique histogram and
      // its expansion must equal the uncollapsed banded plan bit-for-bit
      direct.n shouldBe 5000L
      direct.useBrute shouldBe false
      val got = canon(Similarity.rangeSearchPairs(prep, 0.35,
        minLshVectors = 1000L))
      got shouldBe canon(Similarity.bandedPairCosine(prep)
        .filter(col("rawcos") >= 0.35))
    } finally { prep.unpersist(); graft.InternalCaches.releaseAll() }
  }

  test("duplicate-free corpus skips the collapse: no Window node in the " +
      "plan") {
    val prep = Similarity.prepared(graft.Tables.embeddings(spark, sfDir))
    val plan = Similarity.collapsedCosinePairs(
        prep, "test_skip", intraMin = Some(0.35))(
        Similarity.pairCosineKernel(_, 0.35))
      .queryExecution.executedPlan.toString
    plan should not include "Window"
    // r17: the collapse window runs eagerly inside the gmap pin, so it
    // no longer appears in the RESULT plan — the collapse path's
    // structural signature there is the inter ∪ intra Union (the
    // dup-free skip emits the kernel's pairs directly, no Union)
    plan should not include "Union"
    // and a flooded corpus DOES take the collapse path
    val plan2 = Similarity.collapsedCosinePairs(
        floodedPrep(2), "test_collapse", intraMin = Some(0.35))(
        Similarity.pairCosineKernel(_, 0.35))
      .queryExecution.executedPlan.toString
    plan2 should include("Union")
    graft.InternalCaches.releaseAll()
  }

  /** Member-level top-k reference — the pre-collapse cosineTopK shape,
    * inlined so the suite pins the collapsed wrapper against an
    * independent implementation rather than against itself. */
  private def refTopK(queries: DataFrame, corpus: DataFrame, k: Int,
      cut: Option[Double] = None): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val q = queries.select(col("vec_id").as("query_id"), col("v").as("qv"),
      col("nrm").as("qn"))
    val c = corpus.select(col("vec_id").as("neighbor_id"), col("v").as("cv"),
      col("nrm").as("cn"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("rawcos").desc, col("neighbor_id"))
    val scored = q.join(c, col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        (Similarity.dot(col("qv"), col("cv")) / (col("qn") * col("cn")))
          .as("rawcos"))
    cut.map(t => scored.filter(col("rawcos") < t)).getOrElse(scored)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        (floor(col("rawcos") * 1e6 + 0.5) / 1e6).as("cos"))
  }

  private def canonTopK(df: DataFrame): Seq[(Long, Int, Long, Double)] =
    df.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
      .sortBy(t => (t._1, t._2))
      .toSeq

  test("collapsed top-k ≡ member-level reference on a duplicate flood " +
      "(twins rank as cos-1.0 neighbors)") {
    val prep = floodedPrep(3).persist()
    try {
      val queries = prep.filter(col("vec_id") % 50 === 0)
      val got = canonTopK(Similarity.cosineTopK(queries, prep, 5))
      got shouldBe canonTopK(refTopK(queries, prep, 5))
      // every query has 2 exact twins: ranks 1 and 2 must be cos 1.0
      val byQ = got.groupBy(_._1)
      byQ.values.foreach { rows =>
        rows.filter(r => r._2 <= 2).map(_._4) shouldBe Seq(1.0, 1.0)
      }
    } finally { prep.unpersist(); graft.InternalCaches.releaseAll() }
  }

  test("collapsed hard negatives ≡ member-level reference on a flood " +
      "(the near-dup cut removes twin groups before ranking)") {
    val prep = floodedPrep(3).persist()
    try {
      val queries = prep.filter(col("vec_id") % 50 === 0)
      val got = canonTopK(Similarity.hardNegatives(queries, prep, 3, 0.95))
      got shouldBe canonTopK(refTopK(queries, prep, 3, cut = Some(0.95)))
      got.foreach(_._4 should be < 0.95)
    } finally { prep.unpersist(); graft.InternalCaches.releaseAll() }
  }

  test("group retention keeps ALL groups tied at the cutoff rank: " +
      "permutation corpus where every group has the same cosine to the " +
      "query") {
    val s = spark
    import s.implicits._
    // query = all-ones; corpus groups = distinct permutations of one
    // base vector, each duplicated — every group's cosine to the query
    // is IDENTICAL (dot and norm are permutation-invariant), so the
    // group-level rank() is one giant tie and k+1 retention must keep
    // every group, with member ranks breaking by raw neighbor id.
    val base = Seq(0.9, -0.3, 0.4, 0.1, -0.7, 0.2, 0.6, -0.5)
    val perms = base.permutations.take(9).toSeq
    val corpusRows = perms.zipWithIndex.flatMap { case (p, i) =>
      Seq((i * 10L, p.map(_.toFloat)), (i * 10L + 1L, p.map(_.toFloat)))
    }
    val corpus = Similarity.prepared(
      corpusRows.toDF("vec_id", "embedding")).persist()
    val queries = Similarity.prepared(
      Seq((1000L, Seq.fill(8)(1.0f))).toDF("vec_id", "embedding"))
    try {
      val got = canonTopK(Similarity.cosineTopK(queries, corpus, 5))
      got shouldBe canonTopK(refTopK(queries, corpus, 5))
      // deterministic tie-break: the five smallest corpus ids win
      got.map(_._3) shouldBe Seq(0L, 1L, 10L, 11L, 20L)
    } finally { corpus.unpersist(); graft.InternalCaches.releaseAll() }
  }

  test("collapsed SQ8 top-k ≡ member-level reference on a duplicate " +
      "flood (stats are duplicate-invariant)") {
    import org.apache.spark.sql.expressions.Window
    val prep = floodedPrep(3).persist()
    try {
      // member-level SQ8 reference: the pre-collapse plan, inlined
      val f = prep.select(col("vec_id"),
          posexplode(col("v")).as(Seq("pos0", "v")))
        .select(col("vec_id"), (col("pos0") + 1).as("pos"), col("v"))
        .persist()
      val stats = f.groupBy(col("pos"))
        .agg(min(col("v")).as("mn"), max(col("v")).as("mx"))
      val codes = f.join(broadcast(stats), Seq("pos"))
        .select(col("vec_id"), col("pos"),
          when(col("mx") === col("mn"), 0L)
            .otherwise(floor((col("v") - col("mn")) * 255.0
              / (col("mx") - col("mn")) + 0.5)).as("code"))
      val q = f.filter(col("vec_id") % 50 === 0)
        .select(col("vec_id").as("query_id"), col("pos"), col("v").as("qv"))
      val deq = col("mn") + col("code") * (col("mx") - col("mn")) / lit(255.0)
      val wRank = Window.partitionBy(col("query_id"))
        .orderBy(col("dist_micro"), col("neighbor_id"))
      val reference = codes
        .join(broadcast(stats), Seq("pos"))
        .join(broadcast(q), Seq("pos"))
        .filter(col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("vec_id").as("neighbor_id"),
          floor((col("qv") - deq) * (col("qv") - deq) * 1e6 + 0.5).as("dm"))
        .groupBy(col("query_id"), col("neighbor_id"))
        .agg(sum(col("dm")).as("dist_micro"))
        .withColumn("rank", row_number().over(wRank))
        .filter(col("rank") <= 5)
        .select(col("query_id"), col("rank"), col("neighbor_id"),
          col("dist_micro"))
      val got = Similarity.collapsedTopK(
          prep.filter(col("vec_id") % 50 === 0), prep, 5,
          "test_sq8", score = "dist_micro", asc = true) { (qs, cs) =>
        val fu = cs.select(col("vec_id"),
            posexplode(col("v")).as(Seq("pos0", "v")))
          .select(col("vec_id"), (col("pos0") + 1).as("pos"), col("v"))
        val st = fu.groupBy(col("pos"))
          .agg(min(col("v")).as("mn"), max(col("v")).as("mx"))
        val cd = fu.join(broadcast(st), Seq("pos"))
          .select(col("vec_id"), col("pos"),
            when(col("mx") === col("mn"), 0L)
              .otherwise(floor((col("v") - col("mn")) * 255.0
                / (col("mx") - col("mn")) + 0.5)).as("code"))
        val qq = qs.select(col("vec_id").as("query_id"),
            posexplode(col("v")).as(Seq("pos0", "qv")))
          .select(col("query_id"), (col("pos0") + 1).as("pos"), col("qv"))
        cd.join(broadcast(st), Seq("pos"))
          .join(broadcast(qq), Seq("pos"))
          .select(col("query_id"), col("vec_id").as("neighbor_id"),
            floor((col("qv") - deq) * (col("qv") - deq) * 1e6 + 0.5).as("dm"))
          .groupBy(col("query_id"), col("neighbor_id"))
          .agg(sum(col("dm")).as("dist_micro"))
      }
      def canonD(df: DataFrame): Seq[(Long, Int, Long, Long)] = df.collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3)))
        .sortBy(t => (t._1, t._2)).toSeq
      val gotRows = canonD(got)
      gotRows shouldBe canonD(reference)
      // twins dequantize identically, so ranks 1-2 of every query are
      // its two exact twins at the SAME (asymmetric-quantization-error)
      // distance — nonzero because the raw query is compared against
      // its own dequantized code
      gotRows.groupBy(_._1).values.foreach { rows =>
        val top2 = rows.filter(_._2 <= 2).map(_._4)
        top2.distinct.size shouldBe 1
      }
      f.unpersist()
    } finally { prep.unpersist(); graft.InternalCaches.releaseAll() }
  }

  test("collapsed IVF top-k ≡ member-level reference on a duplicate " +
      "flood (quantizer stays full-corpus; probes×assign collapse)") {
    import org.apache.spark.sql.expressions.Window
    val prep = floodedPrep(3).persist()
    try {
      val queries = prep.filter(col("vec_id") % 50 === 0)
      // member-level reference: ranked cells over the SAME full corpus,
      // probes and assignment at member level (the pre-collapse plan)
      val ranked = Similarity.rankedCells(prep, 8, 2).persist()
      val assign = ranked.filter(col("rn") === 1)
        .select(col("vec_id"), col("v"), col("nrm"), col("cid").as("cell"))
      val probes = ranked.join(queries.select(col("vec_id")), Seq("vec_id"))
        .select(col("vec_id").as("query_id"), col("v").as("qv"),
          col("nrm").as("qn"), col("cid").as("cell"))
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("rawcos").desc, col("neighbor_id"))
      val reference = probes.join(assign, Seq("cell"))
        .filter(col("query_id") =!= col("vec_id"))
        .select(col("query_id"), col("vec_id").as("neighbor_id"),
          (Similarity.dot(col("qv"), col("v")) / (col("qn") * col("nrm")))
            .as("rawcos"))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 5)
        .select(col("query_id"), col("rank"), col("neighbor_id"),
          col("rawcos"))
      def canonI(df: DataFrame): Seq[(Long, Int, Long, Double)] =
        df.collect()
          .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
          .sortBy(t => (t._1, t._2)).toSeq
      val got = canonI(Similarity.ivfTopKDetRaw(prep, queries, 5,
        nlist = 8, nprobe = 2))
      got shouldBe canonI(reference)
      // twins share every probed cell: ranks 1-2 are the query's twins
      // at the self-cosine (~1 up to the sqrt-then-square ulp), equal
      // to each other and strictly above every non-twin neighbor
      got.groupBy(_._1).values.foreach { rows =>
        val top2 = rows.filter(_._2 <= 2).map(_._4)
        top2.distinct.size shouldBe 1
        top2.head should be > 0.999
      }
      ranked.unpersist()
    } finally { prep.unpersist(); graft.InternalCaches.releaseAll() }
  }

  test("collapsed phrase search ≡ member-level reference on a document " +
      "flood (matching is content-determined, selection member-level)") {
    import org.apache.spark.sql.expressions.Window
    val base = graft.Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text"))
    val docs = (0 until 3)
      .map(k => base.select((col("doc_id") + k * 1000000L).as("doc_id"),
        col("text")))
      .reduce(_ unionAll _).persist()
    try {
      // member-level reference: the pre-collapse plan, inlined
      val enc = Dedup.encodedToks(docs).persist()
      val lens = enc.groupBy(col("doc_id")).agg(count(lit(1)).as("len"))
      val bases = lens
        .filter(col("len") >= 3 && col("doc_id") % 50 === 0)
        .select(col("doc_id"),
          when(col("len") >= 7, 5).otherwise(1).as("base"))
      val q = enc.join(bases, Seq("doc_id"))
        .groupBy(col("doc_id"))
        .agg(max(when(col("pos") === col("base"), col("tid"))).as("t1"),
          max(when(col("pos") === col("base") + 1, col("tid"))).as("t2"),
          max(when(col("pos") === col("base") + 2, col("tid"))).as("t3"))
        .withColumnRenamed("doc_id", "qid")
      val p = enc.select(col("doc_id").as("p_doc"), col("pos").as("p_pos"),
        col("tid").as("p_tid"))
      val m1 = q.join(p, col("p_tid") === col("t1"))
        .select(col("qid"), col("t2"), col("t3"),
          col("p_doc").as("cand"), col("p_pos").as("pos"))
      val m2 = m1.join(p,
          col("p_doc") === col("cand") && col("p_pos") === col("pos") + 1 &&
            col("p_tid") === col("t2"))
        .select(col("qid"), col("t3"), col("cand"), col("pos"))
      val m3 = m2.join(p,
          col("p_doc") === col("cand") && col("p_pos") === col("pos") + 2 &&
            col("p_tid") === col("t3"))
        .select(col("qid"), col("cand"), col("pos"))
      val reference = m3.groupBy(col("qid"), col("cand"))
        .agg(count(lit(1)).as("n_matches"),
          min(col("pos")).cast("long").as("first_pos"))
        .select(col("qid").as("query_id"), col("cand").as("doc_id"),
          col("n_matches"), col("first_pos"))
      def canonP(df: DataFrame): Seq[(Long, Long, Long, Long)] = df.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .sortBy(t => (t._1, t._2)).toSeq
      val got = canonP(Similarity.phraseSearchPlan(docs))
      got shouldBe canonP(reference)
      // every query matches its own two twins verbatim: (q, q+1e6)
      // and (q, q+2e6) rows exist with the query's full n_matches
      val gotKeys = got.map(t => (t._1, t._2)).toSet
      val qids = got.map(_._1).distinct.filter(_ < 1000000L)
      qids should not be empty
      qids.foreach { qid =>
        gotKeys should contain((qid, qid + 1000000L))
        gotKeys should contain((qid, qid + 2000000L))
      }
      enc.unpersist()
    } finally { docs.unpersist(); graft.InternalCaches.releaseAll() }
  }

  test("duplicated degenerate vectors: self-cosine 0 is excluded by the " +
      "threshold, identically to the uncollapsed plan") {
    val s = spark
    import s.implicits._
    val rng = new scala.util.Random(7)
    val rows = (0L until 40L).map { i =>
      (i, Seq.fill(8)((rng.nextDouble() * 2 - 1).toFloat))
    } ++ Seq( // three byte-identical zero vectors: selfcos = 0/1 = 0
      (100L, Seq.fill(8)(0.0f)),
      (101L, Seq.fill(8)(0.0f)),
      (102L, Seq.fill(8)(0.0f)))
    val prep = Similarity.prepared(rows.toDF("vec_id", "embedding"))
      .persist()
    try {
      val collapsed = Similarity.collapsedCosinePairs(
        prep, "test_zero", intraMin = Some(0.35))(
        Similarity.pairCosineKernel(_, 0.35))
      val got = canon(collapsed)
      got shouldBe canon(Similarity.pairCosineKernel(prep, 0.35))
      got.map(t => (t._1, t._2)) should not contain ((100L, 101L))
    } finally { prep.unpersist(); graft.InternalCaches.releaseAll() }
  }
}
