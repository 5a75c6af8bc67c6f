package graft.ops

import java.nio.file.{Files, Paths}
import java.security.MessageDigest

import graft.fm.SparkSessionSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Pins the r7 incremental index lifecycle (VERDICT r6 #1): appending a
  * batch into a persisted band/IVF index must (a) leave every
  * pre-existing data file byte-identical (append-only facts, no
  * partition rewrite of row data), (b) be split-invariant (append B
  * then C ≡ append B∪C), and (c) make probes bit-identical to an index
  * covering the same corpus in one build — from-scratch for the band
  * index (signatures are pure per-doc facts), frozen-centroid one-pass
  * for IVF (the quantizer is frozen at build time by design). Also
  * pins the maintained over-cap list under the r13 v2 layout: the cap
  * counts DISTINCT signatures, so an exact-duplicate flood can never
  * blind the probe, while genuine signature diversity over the cap
  * still stops producing evidence — the capped semantics all three
  * LSH-dedup flavors share. */
class IndexMaintenanceSuite extends SparkSessionSuite {

  private val sfDir = "/root/testdata/sf0.001"

  /** (relative path → sha256) for every parquet data file under dir. */
  private def fileDigests(dir: String): Map[String, String] = {
    val root = Paths.get(dir)
    val md = MessageDigest.getInstance("SHA-256")
    var out = Map.empty[String, String]
    Files.walk(root).forEach { p =>
      val rel = root.relativize(p).toString
      if (Files.isRegularFile(p) && rel.endsWith(".parquet")) {
        md.reset()
        out += rel -> md.digest(Files.readAllBytes(p))
          .map("%02x".format(_)).mkString
      }
    }
    out
  }

  private def canon(df: DataFrame): Seq[Seq[Any]] =
    df.collect().map(_.toSeq.toIndexedSeq).toIndexedSeq
      .sortBy(_.mkString("|"))

  test("band index: append ≡ from-scratch rebuild; old files untouched") {
    val s = spark
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val docs = graft.Tables.documents(s, sfDir)
      .select(col("doc_id"), col("text"))
    val a = docs.filter(col("doc_id") < 300)
    val b = docs.filter(col("doc_id") >= 300 && col("doc_id") < 400)
    val c = docs.filter(col("doc_id") >= 400)
    val probeBatch = Dedup.incomingLshBatch(docs)

    val dirInc = Files.createTempDirectory("bandinc").toString
    Dedup.saveBandIndex(a, dirInc)
    val beforeAppend = fileDigests(dirInc)
    Dedup.appendToBandIndex(dirInc, b)
    // append-only: every file that existed before the append is still
    // there with the same bytes (bands AND sig; the counts/hot state is
    // the one keyed rewrite, excluded by path)
    val afterAppend = fileDigests(dirInc)
    beforeAppend.foreach { case (rel, sha) =>
      if (rel.startsWith("bands") || rel.startsWith("sig"))
        withClue(s"$rel changed by append: ") {
          afterAppend.get(rel) shouldBe Some(sha)
        }
    }
    Dedup.appendToBandIndex(dirInc, c)

    // split-invariance: one append of b ∪ c probes identically
    val dirOne = Files.createTempDirectory("bandone").toString
    Dedup.saveBandIndex(a, dirOne)
    Dedup.appendToBandIndex(dirOne, b.unionAll(c))

    // from-scratch ground truth over the union corpus
    val dirFull = Files.createTempDirectory("bandfull").toString
    Dedup.saveBandIndex(docs, dirFull)

    val evInc = canon(Dedup.probeBandIndex(s, dirInc, probeBatch))
    val evOne = canon(Dedup.probeBandIndex(s, dirOne, probeBatch))
    val evFull = canon(Dedup.probeBandIndex(s, dirFull, probeBatch))
    evInc.length should be > 10
    evInc shouldBe evFull
    evOne shouldBe evFull
  }

  /** r7: snapshot versioning — every build/append commits a manifest
    * over the append-only files plus an immutable count delta, so any
    * historic version stays probe-able bit-for-bit after later
    * appends, and compaction (which rewrites files) expires history
    * to a fresh v1. */
  test("band index: as-of probes replay history; compaction expires it") {
    val s = spark
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val docs = graft.Tables.documents(s, sfDir)
      .select(col("doc_id"), col("text"))
    val a = docs.filter(col("doc_id") < 300)
    val b = docs.filter(col("doc_id") >= 300)
    val probeBatch = Dedup.incomingLshBatch(docs)

    val dir = Files.createTempDirectory("bandsnap").toString
    Dedup.saveBandIndex(a, dir)
    Dedup.bandIndexVersions(s, dir) shouldBe Seq(1)
    val v1Live = canon(Dedup.probeBandIndex(s, dir, probeBatch))
    Dedup.appendToBandIndex(dir, b)
    Dedup.bandIndexVersions(s, dir) shouldBe Seq(1, 2)

    // time travel: v1 replays the pre-append decisions exactly, while
    // the live (v2) view sees the appended corpus
    canon(Dedup.probeBandIndexAsOf(s, dir, probeBatch, 1)) shouldBe v1Live
    val v2AsOf = canon(Dedup.probeBandIndexAsOf(s, dir, probeBatch, 2))
    val live = canon(Dedup.probeBandIndex(s, dir, probeBatch))
    v2AsOf shouldBe live
    live.length should be > v1Live.length // the append added evidence

    // unknown version fails loudly
    an[IllegalArgumentException] should be thrownBy
      Dedup.probeBandIndexAsOf(s, dir, probeBatch, 3)

    // compaction rewrites files -> history expires, fresh v1 over the
    // compacted state probes identically to the live view
    Dedup.compactBandIndex(s, dir)
    Dedup.bandIndexVersions(s, dir) shouldBe Seq(1)
    canon(Dedup.probeBandIndexAsOf(s, dir, probeBatch, 1)) shouldBe live
  }

  /** r9 (advice): the SNAPSHOT contract across a DELETE — the delete's
    * negated-count delta commits a version whose as-of view matches
    * the live probe exactly, while pre-delete versions keep replaying
    * the pre-delete count/hot state with tombstones anti-joined on
    * top (deletion wins over history, [[Dedup.probeAgainst]]). */
  test("band index: as-of at the delete's version ≡ live; pre-delete versions replay with tombstones") {
    val s = spark
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val docs = graft.Tables.documents(s, sfDir)
      .select(col("doc_id"), col("text"))
    val a = docs.filter(col("doc_id") < 300)
    val b = docs.filter(col("doc_id") >= 300)
    val probeBatch = Dedup.incomingLshBatch(docs)

    val dir = Files.createTempDirectory("bandsnapdel").toString
    Dedup.saveBandIndex(a, dir)
    Dedup.appendToBandIndex(dir, b)
    val liveV2 = Dedup.probeBandIndex(s, dir, probeBatch)
      .localCheckpoint(true) // pin pre-delete evidence before mutation

    // delete a slice of the appended batch -> v3
    val deleted = docs.filter(col("doc_id") >= 300 && col("doc_id") < 350)
    val deletedIds = deleted.select(col("doc_id"))
      .collect().map(_.getLong(0)).toSeq
    Dedup.deleteFromBandIndex(dir, deleted)
    Dedup.bandIndexVersions(s, dir) shouldBe Seq(1, 2, 3)

    // invariant 1: as-of(latest) ≡ live after the delete
    val liveAfter = canon(Dedup.probeBandIndex(s, dir, probeBatch))
    liveAfter.length should be > 10
    canon(Dedup.probeBandIndexAsOf(s, dir, probeBatch, 3)) shouldBe liveAfter

    // invariant 2: the pre-delete version replays pre-delete evidence
    // with the tombstoned docs removed — exactly liveV2 minus rows
    // whose index side is a deleted doc
    val expectedV2 = canon(
      liveV2.filter(!col("existing_id").isin(deletedIds: _*)))
    expectedV2.length should be < liveV2.count().toInt // delete bit
    canon(Dedup.probeBandIndexAsOf(s, dir, probeBatch, 2)) shouldBe expectedV2
  }

  /** r13 (verdict #1): the v2 SIGNATURE-COLLAPSED layout — a duplicate
    * FLOOD can no longer blind the probe. Under the r12 per-doc layout
    * this exact scenario (70 identical docs > BandBucketCap = 64)
    * pushed the boilerplate's band buckets over the cap and the
    * hot-exclusion silently ADMITTED every later copy; v2 counts
    * DISTINCT signatures, so the flood is one bucket entry and every
    * later copy is rejected. */
  test("band index: an exact-duplicate flood does NOT blind the probe") {
    val s = spark
    import s.implicits._
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val docs = graft.Tables.documents(s, sfDir)
      .select(col("doc_id"), col("text"))
    val dir = Files.createTempDirectory("bandflood").toString
    Dedup.saveBandIndex(docs, dir)
    s.read.parquet(s"$dir/hot").count() shouldBe 0L
    val boiler = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val dupProbe = Seq((990000L, boiler)).toDF("doc_id", "text")
    // a boilerplate cluster: 70 identical docs, 10x over the old
    // per-doc trip point relative to distinct signatures
    val cluster = (1 to 70).map(i => (900000L + i, boiler)).toDF("doc_id", "text")
    Dedup.appendToBandIndex(dir, cluster)
    // ONE distinct signature -> the bucket stays cold
    s.read.parquet(s"$dir/hot").count() shouldBe 0L
    // an incoming copy is evidenced against EVERY flood member (the
    // full evidence contract; admission needs only its existence)
    val ev = Dedup.probeBandIndex(s, dir, dupProbe)
      .select(col("existing_id")).distinct().count()
    ev shouldBe 70L
    // the self-growing loop: a second flood of the same text is
    // REJECTED outright — the v1 layout admitted all of it
    val flood2 = (1 to 50).map(i => (950000L + i, boiler)).toDF("doc_id", "text")
    Dedup.ingestIntoBandIndex(s, dir, flood2).count() shouldBe 0L
    // cold buckets are unaffected: the original near-dup batch still
    // produces its evidence
    Dedup.probeBandIndex(s, dir, Dedup.incomingLshBatch(docs))
      .count() should be > 10L
  }

  /** The cap itself still guards the probe — against genuine signature
    * DIVERSITY (true boilerplate), the hazard it exists for. cap = 0
    * makes every non-empty bucket hot: the probe must go fully quiet. */
  test("band index: distinct-signature diversity over the cap quiets the bucket") {
    val s = spark
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val docs = graft.Tables.documents(s, sfDir)
      .select(col("doc_id"), col("text"))
    val dir = Files.createTempDirectory("bandcap0").toString
    Dedup.saveBandIndex(docs, dir, cap = 0)
    s.read.parquet(s"$dir/hot").count() should be >= 1L
    Dedup.probeBandIndex(s, dir, Dedup.incomingLshBatch(docs))
      .count() shouldBe 0L
    // and with cap = 1, only buckets holding >= 2 DISTINCT signatures
    // go hot: find a planted near-dup whose signature DIFFERS from its
    // source but shares a band (n_match in [8, 16)), index the pair,
    // and assert exactly the shared band values are hot
    val pair = Dedup.lshCandidatePairs(
        Dedup.shingles(Dedup.encodedToks(
          docs.unionAll(Dedup.incomingLshBatch(docs)))))
      .filter(col("n_match") >= 8 && col("n_match") < 16)
      .limit(1).collect()
    pair should not be empty
    val Seq(d1, d2) = Seq(pair(0).getLong(0), pair(0).getLong(1))
    val corpus = docs.unionAll(Dedup.incomingLshBatch(docs))
      .filter(col("doc_id").isin(d1, d2))
    val dir2 = Files.createTempDirectory("bandcap1").toString
    Dedup.saveBandIndex(corpus, dir2, cap = 1)
    // two distinct signatures sharing >= 1 band value -> that bucket
    // (and only diversity buckets) enters hot
    s.read.parquet(s"$dir2/hot").count() should be >= 1L
  }

  test("ivf index: append ≡ frozen-centroid one-pass; old files untouched") {
    val s = spark
    val prep = Similarity.prepared(graft.Tables.embeddings(s, sfDir))
      .localCheckpoint()
    val a = prep.filter(col("vec_id") < 300)
    val b = prep.filter(col("vec_id") >= 300 && col("vec_id") < 400)
    val c = prep.filter(col("vec_id") >= 400)
    val queries = prep.filter(col("vec_id") % 50 === 0)

    val dirInc = Files.createTempDirectory("ivfinc").toString
    Similarity.saveIvfIndex(a, dirInc)
    val before = fileDigests(dirInc)
    Similarity.appendToIvfIndex(dirInc, b)
    val after = fileDigests(dirInc)
    before.foreach { case (rel, sha) =>
      withClue(s"$rel changed by append: ") {
        after.get(rel) shouldBe Some(sha)
      }
    }
    Similarity.appendToIvfIndex(dirInc, c)

    // split-invariance: one append of b ∪ c probes identically
    val dirOne = Files.createTempDirectory("ivfone").toString
    Similarity.saveIvfIndex(a, dirOne)
    Similarity.appendToIvfIndex(dirOne, b.unionAll(c))

    val topInc = canon(Similarity.topKFromIvfIndex(s, dirInc, queries,
      k = 5, nprobe = Similarity.IvfNprobe))
    val topOne = canon(Similarity.topKFromIvfIndex(s, dirOne, queries,
      k = 5, nprobe = Similarity.IvfNprobe))
    topInc.length should be > 20
    topInc shouldBe topOne

    // semantic check: every appended vector's persisted cell is the
    // argmin-L2 centroid of the ORIGINAL (frozen) centroid table, ties
    // by centroid id — recomputed independently here
    val cent = s.read.parquet(s"$dirInc/centroids").collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray)
    val persisted = s.read.parquet(s"$dirInc/corpus")
      .filter(col("vec_id") >= 300)
      // partition-column type is inferred (int) — normalize to long
      .select(col("vec_id"), col("v"), col("cell").cast("long")).collect()
    persisted.length shouldBe (b.count() + c.count())
    persisted.foreach { r =>
      val v = r.getSeq[Double](1).toArray
      val best = cent.map { case (cid, cv) =>
        val d = v.zip(cv).map { case (x, y) => (x - y) * (x - y) }.sum
        (d, cid)
      }.minBy(identity)._2
      withClue(s"vec ${r.getLong(0)}: ") { r.getLong(2) shouldBe best }
    }
  }

  /** r12 (r11 verdict #3): the persisted lifecycle under the REFINED
    * quantizer — `saveIvfIndex` honors the k-means conf/pin it used to
    * ignore, the format tag records which quantizer trained the
    * centroids, a probe from the saved index reproduces the transient
    * k-means path (`ivfTopKDetKm`, the sim_topk_ivf_km engine)
    * bit-identically, and append ≡ rebuild still holds with refined
    * centroids (they are frozen at build like any quantizer). */
  test("ivf index: refined-quantizer build — tag recorded, probe ≡ transient k-means, append ≡ rebuild") {
    val s = spark
    val prep = Similarity.prepared(graft.Tables.embeddings(s, sfDir))
      .localCheckpoint()
    val queries = prep.filter(col("vec_id") % 50 === 0)

    val dir = Files.createTempDirectory("ivfkm").toString
    Similarity.saveIvfIndex(prep, dir,
      kmeansIters = Similarity.KmIters)
    val tag = new String(
      Files.readAllBytes(Paths.get(dir, "_FORMAT")), "UTF-8").trim
    tag should endWith(s"quantizer=kmeans${Similarity.KmIters}")

    // probe from the saved index ≡ the transient k-means-refined path
    val fromIndex = canon(Similarity.topKFromIvfIndex(s, dir, queries,
      k = 5, nprobe = Similarity.IvfNprobe))
    val transient = canon(Similarity.ivfTopKDetKm(prep, queries, 5))
    fromIndex.length should be > 20
    fromIndex shouldBe transient

    // append ≡ rebuild under the refined (frozen) quantizer: build on
    // a prefix with the SAME pinned quantizer corpus? No — the refined
    // centroids are a function of the BUILD corpus; rebuild-equality
    // therefore uses the frozen-centroid one-pass convention of the
    // stride test: append b into an a-built index ≡ one append of b
    // split two ways (split-invariance), and old files stay untouched.
    val a = prep.filter(col("vec_id") < 400)
    val b1 = prep.filter(col("vec_id") >= 400 && col("vec_id") < 450)
    val b2 = prep.filter(col("vec_id") >= 450)
    val dirInc = Files.createTempDirectory("ivfkminc").toString
    Similarity.saveIvfIndex(a, dirInc,
      kmeansIters = Similarity.KmIters)
    val before = fileDigests(dirInc)
    Similarity.appendToIvfIndex(dirInc, b1)
    fileDigests(dirInc).view.filterKeys(before.contains).toMap shouldBe before
    Similarity.appendToIvfIndex(dirInc, b2)
    val dirOne = Files.createTempDirectory("ivfkmone").toString
    Similarity.saveIvfIndex(a, dirOne,
      kmeansIters = Similarity.KmIters)
    Similarity.appendToIvfIndex(dirOne, b1.unionAll(b2))
    canon(Similarity.topKFromIvfIndex(s, dirInc, queries, k = 5,
      nprobe = Similarity.IvfNprobe)) shouldBe
      canon(Similarity.topKFromIvfIndex(s, dirOne, queries, k = 5,
        nprobe = Similarity.IvfNprobe))
  }

  test("line index: append ≡ from-scratch rebuild; untouched buckets frozen") {
    val s = spark
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // corpus with planted boilerplate headers (the dedup_lines plant)
    val corpus = graft.Tables.documents(s, sfDir).select(col("doc_id"),
      when(col("doc_id") % 5 === 0,
        concat(lit("all rights reserved copyright notice terms of use apply here "),
          col("text")))
        .when(col("doc_id") % 7 === 0,
          concat(lit("subscribe to our newsletter follow us on social media now "),
            col("text")))
        .otherwise(col("text")).as("text"))
    import s.implicits._
    val a = corpus.filter(col("doc_id") < 300)
    val b = corpus.filter(col("doc_id") >= 300 && col("doc_id") < 400)
    val c = corpus.filter(col("doc_id") >= 400)
    // a one-line batch touches at most one bucket — the frozen-bucket
    // assertion needs MOST buckets untouched (a 100-doc batch's ~700
    // distinct lines hash into all 16)
    val tiny = Seq((980000L, "tiny append batch with exactly ten unique tokens"))
      .toDF("doc_id", "text")
    val corpusFull = corpus.unionAll(tiny)

    val dirInc = Files.createTempDirectory("lineinc").toString
    Dedup.saveLineIndex(a, dirInc)
    val before = fileDigests(dirInc)
    Dedup.appendToLineIndex(dirInc, tiny)
    val after = fileDigests(dirInc)
    // the merge rewrites only TOUCHED bucket partitions — every bucket
    // the batch's lines don't hash into keeps its files byte-identical
    val touched = Dedup.lineRowsOf(tiny)
      .select(pmod(xxhash64(col("lh")), lit(16)).cast("int").as("bucket"))
      .distinct().collect().map(_.getInt(0)).toSet
    touched.size should be < 3
    val untouchedChecked = before.count { case (rel, sha) =>
      val inUntouched = (0 until 16).exists(bk =>
        !touched.contains(bk) && rel.contains(s"bucket=$bk/"))
      if (inUntouched)
        withClue(s"$rel changed by append: ") {
          after.get(rel) shouldBe Some(sha)
        }
      inUntouched
    }
    untouchedChecked should be > 0
    Dedup.appendToLineIndex(dirInc, b)
    Dedup.appendToLineIndex(dirInc, c)

    // split-invariance + from-scratch equivalence of the counts state
    val dirOne = Files.createTempDirectory("lineone").toString
    Dedup.saveLineIndex(a, dirOne)
    Dedup.appendToLineIndex(dirOne, tiny.unionAll(b).unionAll(c))
    val dirFull = Files.createTempDirectory("linefull").toString
    Dedup.saveLineIndex(corpusFull, dirFull)
    def counts(dir: String) = canon(s.read.parquet(s"$dir/counts")
      .select(col("lh"), col("df"), col("bucket").cast("int")))
    counts(dirInc) shouldBe counts(dirFull)
    counts(dirOne) shouldBe counts(dirFull)

    // probe ≡ the inline lineDedup gate: cleaning the corpus against its
    // own full index drops exactly the inline query's boilerplate
    val probed = canon(Dedup.probeLineIndex(s, dirInc, corpus))
    probed shouldBe canon(Dedup.probeLineIndex(s, dirFull, corpus))
    val dropped = probed.count(r => r(2).asInstanceOf[Long] > 0L)
    dropped should be > 150 // >= the 157 planted-header docs, minus none
    // a clean new batch loses nothing against the index
    val fresh = Seq((990001L, "totally novel unseen tokens q w e r t y u i o p"))
      .toDF("doc_id", "text")
    val freshOut = Dedup.probeLineIndex(s, dirInc, fresh).collect()
    freshOut.length shouldBe 1
    freshOut(0).getLong(2) shouldBe 0L
    graft.InternalCaches.releaseAll()
  }

  private def parquetFiles(dir: String): Int = {
    val root = Paths.get(dir)
    var n = 0
    Files.walk(root).forEach { p =>
      if (Files.isRegularFile(p) && p.toString.endsWith(".parquet")) n += 1
    }
    n
  }

  /** r7: IVF snapshot versioning mirrors the band index's (manifest
    * over append-only cell files; no deltas — no keyed state). */
  test("ivf index: as-of probes replay history; compaction expires it") {
    val s = spark
    val prep = Similarity.prepared(graft.Tables.embeddings(s, sfDir))
      .localCheckpoint()
    val a = prep.filter(col("vec_id") < 300)
    val b = prep.filter(col("vec_id") >= 300)
    val queries = prep.filter(col("vec_id") % 50 === 0)

    val dir = Files.createTempDirectory("ivfsnap").toString
    Similarity.saveIvfIndex(a, dir)
    Similarity.ivfIndexVersions(s, dir) shouldBe Seq(1)
    val v1Live = canon(Similarity.topKFromIvfIndex(s, dir, queries,
      k = 5, nprobe = Similarity.IvfNprobe))
    Similarity.appendToIvfIndex(dir, b)
    Similarity.ivfIndexVersions(s, dir) shouldBe Seq(1, 2)

    canon(Similarity.topKFromIvfIndexAsOf(s, dir, queries, k = 5,
      version = 1, nprobe = Similarity.IvfNprobe)) shouldBe v1Live
    val live = canon(Similarity.topKFromIvfIndex(s, dir, queries,
      k = 5, nprobe = Similarity.IvfNprobe))
    canon(Similarity.topKFromIvfIndexAsOf(s, dir, queries, k = 5,
      version = 2, nprobe = Similarity.IvfNprobe)) shouldBe live
    live should not be v1Live // the appended half re-ranks neighbors

    an[IllegalArgumentException] should be thrownBy
      Similarity.topKFromIvfIndexAsOf(s, dir, queries, k = 5, version = 3)

    Similarity.compactIvfIndex(s, dir)
    Similarity.ivfIndexVersions(s, dir) shouldBe Seq(1)
    canon(Similarity.topKFromIvfIndexAsOf(s, dir, queries, k = 5,
      version = 1, nprobe = Similarity.IvfNprobe)) shouldBe live
  }

  test("band+line compaction: probe-identical, fewer files, appends resume") {
    val s = spark
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val docs = graft.Tables.documents(s, sfDir)
      .select(col("doc_id"), col("text"))
    val a = docs.filter(col("doc_id") < 250)
    val b = docs.filter(col("doc_id") >= 250 && col("doc_id") < 350)
    val c = docs.filter(col("doc_id") >= 350 && col("doc_id") < 450)
    val d = docs.filter(col("doc_id") >= 450)
    val probeBatch = Dedup.incomingLshBatch(docs)

    // fragment a band index with two appends, then compact
    val dir = Files.createTempDirectory("bandcomp").toString
    Dedup.saveBandIndex(a, dir)
    Dedup.appendToBandIndex(dir, b)
    Dedup.appendToBandIndex(dir, c)
    val evBefore = canon(Dedup.probeBandIndex(s, dir, probeBatch))
    val sigBefore = parquetFiles(s"$dir/sig")
    val bandsBefore = parquetFiles(s"$dir/bands")
    sigBefore should be >= 3 // one append-only file batch per append
    Dedup.compactBandIndex(s, dir, sigFiles = 1)
    parquetFiles(s"$dir/sig") shouldBe 1
    parquetFiles(s"$dir/bands") should be < bandsBefore
    evBefore.length should be > 10
    canon(Dedup.probeBandIndex(s, dir, probeBatch)) shouldBe evBefore
    // ingestion resumes against the compacted layout: append d, probe
    // ≡ a from-scratch index over the whole corpus
    Dedup.appendToBandIndex(dir, d)
    val dirFull = Files.createTempDirectory("bandcompfull").toString
    Dedup.saveBandIndex(docs, dirFull)
    canon(Dedup.probeBandIndex(s, dir, probeBatch)) shouldBe
      canon(Dedup.probeBandIndex(s, dirFull, probeBatch))

    // line index: fragment, compact, counts-identical, append resumes
    val ldir = Files.createTempDirectory("linecomp").toString
    Dedup.saveLineIndex(a, ldir)
    Dedup.appendToLineIndex(ldir, b)
    val lBefore = parquetFiles(s"$ldir/counts")
    def lineCounts(dirr: String) = canon(s.read.parquet(s"$dirr/counts")
      .select(col("lh"), col("df"), col("bucket").cast("int")))
    val cBefore = lineCounts(ldir)
    Dedup.compactLineIndex(s, ldir)
    parquetFiles(s"$ldir/counts") should be <= lBefore
    lineCounts(ldir) shouldBe cBefore
    Dedup.appendToLineIndex(ldir, c)
    val ldirFull = Files.createTempDirectory("linecompfull").toString
    Dedup.saveLineIndex(a.unionAll(b).unionAll(c), ldirFull)
    lineCounts(ldir) shouldBe lineCounts(ldirFull)
    graft.InternalCaches.releaseAll()
  }

  test("ivf compaction: probe-identical, fewer files, appends resume") {
    val s = spark
    val prep = Similarity.prepared(graft.Tables.embeddings(s, sfDir))
      .localCheckpoint()
    val a = prep.filter(col("vec_id") < 300)
    val b = prep.filter(col("vec_id") >= 300 && col("vec_id") < 400)
    val c = prep.filter(col("vec_id") >= 400)
    val queries = prep.filter(col("vec_id") % 50 === 0)
    def top(dir: String) = canon(Similarity.topKFromIvfIndex(s, dir, queries,
      k = 5, nprobe = Similarity.IvfNprobe))

    val dir = Files.createTempDirectory("ivfcomp").toString
    Similarity.saveIvfIndex(a, dir)
    Similarity.appendToIvfIndex(dir, b)
    val before = top(dir)
    val filesBefore = parquetFiles(s"$dir/corpus")
    Similarity.compactIvfIndex(s, dir)
    parquetFiles(s"$dir/corpus") should be < filesBefore
    before.length should be > 20
    top(dir) shouldBe before
    // appends resume: ≡ frozen-centroid save(a) + append(b ∪ c)
    Similarity.appendToIvfIndex(dir, c)
    val dirOne = Files.createTempDirectory("ivfcompone").toString
    Similarity.saveIvfIndex(a, dirOne)
    Similarity.appendToIvfIndex(dirOne, b.unionAll(c))
    top(dir) shouldBe top(dirOne)
  }

  test("band index: delete ≡ rebuild-without; row files untouched; compact purges") {
    val s = spark
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val docs = graft.Tables.documents(s, sfDir)
      .select(col("doc_id"), col("text"))
    val keep = docs.filter(col("doc_id") < 400)
    val del = docs.filter(col("doc_id") >= 400)
    val probeBatch = Dedup.incomingLshBatch(docs)

    val dir = Files.createTempDirectory("banddel").toString
    Dedup.saveBandIndex(docs, dir)
    val before = fileDigests(dir)
    Dedup.deleteFromBandIndex(dir, del)
    // the delete is logical for row data: every sig/bands file is
    // byte-identical — only counts/hot/tombstones changed
    val after = fileDigests(dir)
    before.foreach { case (rel, sha) =>
      if (rel.startsWith("bands") || rel.startsWith("sig"))
        withClue(s"$rel changed by delete: ") {
          after.get(rel) shouldBe Some(sha)
        }
    }
    // probe ≡ an index never containing the deleted docs
    val dirKeep = Files.createTempDirectory("banddelkeep").toString
    Dedup.saveBandIndex(keep, dirKeep)
    val evTruth = canon(Dedup.probeBandIndex(s, dirKeep, probeBatch))
    evTruth.length should be > 5
    canon(Dedup.probeBandIndex(s, dir, probeBatch)) shouldBe evTruth
    // the maintained counts equal a rebuild-without's counts (modulo
    // the inert zero rows that hold partitions present)
    def liveCounts(d: String) = canon(s.read.parquet(s"$d/counts")
      .filter(col("cnt") > 0)
      .select(col("bi"), col("bv"), col("cnt"), col("bucket").cast("int")))
    liveCounts(dir) shouldBe liveCounts(dirKeep)
    // compaction purges the tombstoned rows and clears the log;
    // the probe contract survives physically
    Dedup.compactBandIndex(s, dir)
    s.read.parquet(s"$dir/tombstones").count() shouldBe 0L
    s.read.parquet(s"$dir/sig").count() shouldBe
      s.read.parquet(s"$dirKeep/sig").count()
    // v2 band rows are per distinct signature, anchored at the group
    // representative — identical doc sets give identical (gid, bi, bv)
    canon(s.read.parquet(s"$dir/bands")
        .select(col("gid"), col("bi"), col("bv"))) shouldBe
      canon(s.read.parquet(s"$dirKeep/bands")
        .select(col("gid"), col("bi"), col("bv")))
    canon(Dedup.probeBandIndex(s, dir, probeBatch)) shouldBe evTruth
    // the lifecycle continues: ingestion resumes against the purged
    // index exactly as against the never-deleted one
    Dedup.appendToBandIndex(dir, del)
    val dirFull2 = Files.createTempDirectory("banddelfull").toString
    Dedup.saveBandIndex(docs, dirFull2)
    canon(Dedup.probeBandIndex(s, dir, probeBatch)) shouldBe
      canon(Dedup.probeBandIndex(s, dirFull2, probeBatch))
  }

  /** v2 hot semantics: only DISTINCT-signature diversity heats a
    * bucket, so the delete-side transition is now "removing a distinct
    * signature pulls the bucket under the cap" (hot maintenance runs
    * both directions). cap = 1 over a planted (source, variant) pair
    * whose signatures differ but share ≥ 1 band value makes the shared
    * bucket hot; deleting the variant must cool it and wake probes. */
  test("band index: delete pulls a hot bucket under the cap — probes wake up") {
    val s = spark
    import s.implicits._
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val docs = graft.Tables.documents(s, sfDir)
      .select(col("doc_id"), col("text"))
    // a near-dup pair with DIFFERENT signatures sharing a band
    // (n_match in [8, 16) — banded candidates share a band by
    // construction, and n_match < 16 means the signatures differ)
    val near = docs.unionAll(Dedup.incomingLshBatch(docs))
    val pair = Dedup.lshCandidatePairs(
        Dedup.shingles(Dedup.encodedToks(near)))
      .filter(col("n_match") >= 8 && col("n_match") < 16)
      .limit(1).collect()
    pair should not be empty
    val Seq(d1, d2) = Seq(pair(0).getLong(0), pair(0).getLong(1))
    val corpus = near.filter(col("doc_id").isin(d1, d2))
      .localCheckpoint(true)
    val dir = Files.createTempDirectory("banddelhot").toString
    Dedup.saveBandIndex(corpus, dir, cap = 1)
    s.read.parquet(s"$dir/hot").count() should be >= 1L
    // probe with an exact copy of d1: the shared bucket is hot, so at
    // least d1's shared-band evidence is suppressed (fewer than the 2
    // full-agreement rows)
    val dupProbe = corpus.filter(col("doc_id") === d1)
      .select(lit(990000L).as("doc_id"), col("text"))
    Dedup.probeBandIndex(s, dir, dupProbe)
      .filter(col("existing_id") === d1).count() should be < 2L
    // retract the OTHER signature: the bucket drops to 1 distinct
    // signature ≤ cap — it must LEAVE the hot list and probes must see
    // d1's full evidence again
    Dedup.deleteFromBandIndex(dir, corpus.filter(col("doc_id") === d2))
    s.read.parquet(s"$dir/hot").count() shouldBe 0L
    val woken = Dedup.probeBandIndex(s, dir, dupProbe)
    woken.filter(col("existing_id") === d1).count() shouldBe 2L
    // and the result is exactly what an index never containing d2 says
    val dirTruth = Files.createTempDirectory("banddelhottruth").toString
    Dedup.saveBandIndex(corpus.filter(col("doc_id") === d1), dirTruth, cap = 1)
    canon(woken) shouldBe
      canon(Dedup.probeBandIndex(s, dirTruth, dupProbe))
  }

  test("ivf index: delete ≡ frozen-centroid rebuild-without; compact purges") {
    val s = spark
    val prep = Similarity.prepared(graft.Tables.embeddings(s, sfDir))
      .localCheckpoint()
    val del = prep.filter(col("vec_id") % 7 === 1)
    val queries = prep.filter(col("vec_id") % 50 === 0)
    def top(dir: String) = canon(Similarity.topKFromIvfIndex(s, dir, queries,
      k = 5, nprobe = Similarity.IvfNprobe))

    val dir = Files.createTempDirectory("ivfdel").toString
    Similarity.saveIvfIndex(prep, dir)
    val full = top(dir)
    Similarity.deleteFromIvfIndex(dir, del)
    val afterDel = top(dir)
    // ground truth: the SAME frozen centroids over the corpus minus
    // the deletions (a stride rebuild over the smaller corpus would
    // re-derive centroids — the delete contract freezes them, like
    // append's)
    val dirTruth = Files.createTempDirectory("ivfdeltruth").toString
    s.read.parquet(s"$dir/centroids")
      .write.parquet(s"$dirTruth/centroids")
    s.read.parquet(s"$dir/corpus")
      .join(del.select(col("vec_id")), Seq("vec_id"), "left_anti")
      .write.partitionBy("cell").parquet(s"$dirTruth/corpus")
    Similarity.IvfDir.writeFormat(s, dirTruth) // hand-built from a current-convention index
    afterDel shouldBe top(dirTruth)
    afterDel.length should be > 20
    afterDel should not be full // deletions promoted new neighbors
    // no tombstoned id survives as a neighbor
    val delIds = del.select(col("vec_id")).collect().map(_.getLong(0)).toSet
    afterDel.foreach { r =>
      delIds should not contain r(2).asInstanceOf[Long]
    }
    // physical purge at compaction: same results, rows gone, log clear
    Similarity.compactIvfIndex(s, dir)
    top(dir) shouldBe afterDel
    s.read.parquet(s"$dir/tombstones").count() shouldBe 0L
    s.read.parquet(s"$dir/corpus").count() shouldBe
      (prep.count() - del.count())
    // ingestion resumes: re-appending the deleted vectors restores the
    // original results exactly (frozen centroids all the way through)
    Similarity.appendToIvfIndex(dir, del)
    top(dir) shouldBe full
  }

  test("line index: delete ≡ rebuild-without; boilerplate can fall back under df") {
    val s = spark
    import s.implicits._
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // 4 docs share a 10-token header (df 4 ≥ LineDf 3) + unique bodies
    def doc(i: Long, body: String) =
      (i, s"all rights reserved copyright notice terms of use apply here $body")
    val corpus = Seq(
      doc(1, "first unique body tokens one two three four five six seven"),
      doc(2, "second unique body tokens eight nine ten eleven twelve more"),
      doc(3, "third unique body tokens thirteen fourteen fifteen sixteen ok"),
      doc(4, "fourth unique body tokens seventeen eighteen nineteen twenty a"),
      (5L, "plain document with no header at all just regular text here")
    ).toDF("doc_id", "text")
    val probe = Seq(doc(99, "probe body with brand new tokens zz yy xx ww vv uu"))
      .toDF("doc_id", "text")

    val dir = Files.createTempDirectory("linedel").toString
    Dedup.saveLineIndex(corpus, dir)
    // header df 4: the probe doc's header line is stripped
    val strippedOut = Dedup.probeLineIndex(s, dir, probe).collect()
    strippedOut(0).getLong(2) shouldBe 1L
    // retract docs 3 and 4: header df falls to 2 < LineDf — the
    // header is boilerplate no longer and survives the probe
    Dedup.deleteFromLineIndex(dir, corpus.filter(col("doc_id") >= 3 && col("doc_id") <= 4))
    val keptOut = Dedup.probeLineIndex(s, dir, probe).collect()
    keptOut(0).getLong(2) shouldBe 0L
    // counts ≡ a rebuild over the remaining docs (modulo inert zeros)
    val dirKeep = Files.createTempDirectory("linedelkeep").toString
    Dedup.saveLineIndex(corpus.filter(col("doc_id") < 3 || col("doc_id") === 5), dirKeep)
    def liveCounts(d: String) = canon(s.read.parquet(s"$d/counts")
      .filter(col("df") > 0)
      .select(col("lh"), col("df"), col("bucket").cast("int")))
    liveCounts(dir) shouldBe liveCounts(dirKeep)
    // compaction drops the zero residue; counts now literally equal
    Dedup.compactLineIndex(s, dir)
    canon(s.read.parquet(s"$dir/counts")
      .select(col("lh"), col("df"), col("bucket").cast("int"))) shouldBe
      liveCounts(dirKeep)
    graft.InternalCaches.releaseAll()
  }

  /** r13: PERSISTED cluster labels under ingest. The route-invariance
    * contract: after any sequence of ingestWithLabels batches, the
    * committed labels are row-identical to buildBandLabels re-derived
    * from the grown index (the full-rebuild route) — extend, attach,
    * batch-internal cluster, identical-signature stars, and
    * too-short (null-signature) docs all included. Also pins the
    * crash posture: a torn ingest's intent marker fails readers fast
    * and buildBandLabels recovers; an uncommitted labels version
    * (no _SUCCESS) stays invisible. */
  test("band labels: ingest ≡ rebuild over grown index; torn ingest recovers") {
    val s = spark
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val docs = graft.Tables.documents(s, sfDir)
      .select(col("doc_id"), col("text")).filter(col("doc_id") < 200)
    val dropFirst = expr("substring(text, instr(text, ' ') + 1)").as("text")
    def copyOf(id: Long, newId: Long) = docs.filter(col("doc_id") === id)
      .select(lit(newId).as("doc_id"), dropFirst)
    val batch0 = docs
      .unionAll(copyOf(0, 1000)).unionAll(copyOf(20, 1020))
    // batch 1: extend {20,1020}, attach to singleton 40, one
    // batch-internal near-dup cluster around 60 (5001/5002 share one
    // signature — the star path), and two too-short docs that share
    // the null-signature storage group but must NOT cluster
    val shorts = s.createDataFrame(Seq((9001L, "a b"), (9002L, "a b")))
      .toDF("doc_id", "text")
    val batch1 = copyOf(20, 2020).unionAll(copyOf(40, 2040))
      .unionAll(copyOf(60, 5001)).unionAll(copyOf(60, 5002))
      .unionAll(shorts)
    // second batch: extend the batch-1-born cluster across ingests
    val batch2 = copyOf(60, 6060)

    val root = Files.createTempDirectory("bandlabels").toString
    Dedup.saveBandIndex(batch0, s"$root/index")
    Dedup.buildBandLabels(s, s"$root/index", s"$root/labels")
    val l1 = Dedup.ingestWithLabels(s, s"$root/index", s"$root/labels", batch1)
    val l2 = Dedup.ingestWithLabels(s, s"$root/index", s"$root/labels", batch2)

    // route invariance: rebuild from the grown index, fresh labels dir
    val rebuilt = Dedup.buildBandLabels(s, s"$root/index", s"$root/labels_rb")
    canon(l2) shouldBe canon(rebuilt)
    // and the committed version is what the verb returned
    canon(Dedup.readBandLabels(s, s"$root/labels")) shouldBe canon(l2)

    val m = l2.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    m(2020) shouldBe m(20)             // extended old cluster
    m(1020) shouldBe m(20)
    m(2040) shouldBe m(40)             // attached to old singleton
    m(5001) shouldBe m(60)             // batch-internal cluster crossed
    m(5002) shouldBe m(60)             //   in via base 60
    m(6060) shouldBe m(60)             // second ingest extended it
    m.get(9001) shouldBe None          // too-short docs never cluster
    m.get(9002) shouldBe None

    // uncommitted version (no _SUCCESS) is invisible to readers
    Files.createDirectories(Paths.get(s"$root/labels/v99"))
    canon(Dedup.readBandLabels(s, s"$root/labels")) shouldBe canon(l2)

    // torn ingest: marker present → readers fail fast with the verb;
    // an empty marker (a pre-IndexDir label verb's) names no verb
    Files.createFile(Paths.get(s"$root/labels/_INTENT"))
    val e = intercept[IllegalStateException] {
      Dedup.readBandLabels(s, s"$root/labels")
    }
    e.getMessage should include("a previous lifecycle verb did not complete")
    e.getMessage should not include "''"
    e.getMessage should include("buildBandLabels")
    // ...and the recovery verb clears it and re-derives
    val recovered = Dedup.buildBandLabels(s, s"$root/index", s"$root/labels")
    canon(recovered) shouldBe canon(l2)
    canon(Dedup.readBandLabels(s, s"$root/labels")) shouldBe canon(l2)
  }

  /** r18 (r16 verdict #6 leftover): COMPACTION INTERLEAVED between
    * label-maintaining ingests. Compaction rewrites files, purges
    * tombstones, and RE-REPRESENTS groups (gids can change), while
    * labels persist only (doc_id, lbl) — so an ingest after a
    * compaction must still merge onto exactly the labels a
    * from-scratch rebuild over the final grown index produces. Also
    * covers: a delete before the compaction (so re-representation
    * actually fires) and label reads across the compaction boundary. */
  test("band labels: ingest → delete → compact → ingest ≡ rebuild " +
      "(compaction-interleaved route invariance)") {
    val s = spark
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val docs = graft.Tables.documents(s, sfDir)
      .select(col("doc_id"), col("text")).filter(col("doc_id") < 200)
    val dropFirst = expr("substring(text, instr(text, ' ') + 1)").as("text")
    def copyOf(id: Long, newId: Long) = docs.filter(col("doc_id") === id)
      .select(lit(newId).as("doc_id"), dropFirst)
    val base = docs.unionAll(copyOf(0, 1000)).unionAll(copyOf(20, 1020))
    val batch1 = copyOf(20, 2020).unionAll(copyOf(40, 2040))
    val batch2 = copyOf(60, 6060).unionAll(copyOf(40, 6040))

    val root = Files.createTempDirectory("bandlabelscompact").toString
    Dedup.saveBandIndex(base, s"$root/index")
    Dedup.buildBandLabels(s, s"$root/index", s"$root/labels")
    Dedup.ingestWithLabels(s, s"$root/index", s"$root/labels", batch1)
    // delete the representative of the {0, 1000} pair so compaction
    // must re-represent that group, then delete-maintain the labels
    val dels = docs.filter(col("doc_id") === 0)
    Dedup.deleteWithLabels(s, s"$root/index", s"$root/labels", dels)
    Dedup.compactBandIndex(s, s"$root/index")
    // labels still read fine across the compaction boundary
    Dedup.readBandLabels(s, s"$root/labels").count() should be > 0L
    val l2 = Dedup.ingestWithLabels(s, s"$root/index", s"$root/labels", batch2)

    val rebuilt = Dedup.buildBandLabels(s, s"$root/index", s"$root/labels_rb")
    canon(l2) shouldBe canon(rebuilt)
    canon(Dedup.readBandLabels(s, s"$root/labels")) shouldBe canon(l2)
    val m = l2.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    m(2020) shouldBe m(20)   // pre-compaction ingest still clustered
    m(6040) shouldBe m(40)   // post-compaction ingest extends old docs
    m(6040) shouldBe m(2040) //   ...and the pre-compaction admission
    m(6060) shouldBe m(60)
    m.get(0) shouldBe None   // deleted doc stays out of the labels
  }

  /** r13: the label build's edge relation must stay equi-join shaped —
    * the bands self-join is (bucket, bi, bv) equality with the id
    * inequality as a residual condition, never a cartesian, and the
    * hot list stays a broadcast anti-join. */
  test("band labels: index self-edge plan is equi-join, no cartesian") {
    val s = spark
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val docs = graft.Tables.documents(s, sfDir)
      .select(col("doc_id"), col("text")).filter(col("doc_id") < 100)
    val root = Files.createTempDirectory("bandlabelsplan").toString
    Dedup.saveBandIndex(docs, s"$root/index")
    val plan = Dedup.indexSelfEdges(s, s"$root/index", 8)
      .queryExecution.executedPlan.toString
    withClue(s"indexSelfEdges plan:\n$plan\n") {
      assert(!plan.contains("CartesianProduct"))
      assert(!plan.contains("BroadcastNestedLoopJoin"))
    }
  }

  /** r13: deletes invalidate min-labels; the documented remedy is a
    * labels rebuild, which must exclude tombstoned docs and re-anchor
    * a component whose minimum was deleted. */
  test("band labels: rebuild after delete drops tombstoned docs, re-mins") {
    val s = spark
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val docs = graft.Tables.documents(s, sfDir)
      .select(col("doc_id"), col("text")).filter(col("doc_id") < 100)
    val dropFirst = expr("substring(text, instr(text, ' ') + 1)").as("text")
    def copyOf(id: Long, newId: Long) = docs.filter(col("doc_id") === id)
      .select(lit(newId).as("doc_id"), dropFirst)
    val root = Files.createTempDirectory("bandlabelsdel").toString
    Dedup.saveBandIndex(
      docs.unionAll(copyOf(20, 1020)).unionAll(copyOf(20, 1021)), s"$root/index")
    val before = Dedup.buildBandLabels(s, s"$root/index", s"$root/labels")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    before(1020) shouldBe 20L; before(1021) shouldBe 20L
    Dedup.deleteFromBandIndex(s"$root/index",
      docs.filter(col("doc_id") === 20))
    val after = Dedup.buildBandLabels(s, s"$root/index", s"$root/labels")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    after.get(20L) shouldBe None       // tombstoned doc gone
    after(1021) shouldBe 1020L         // component re-anchored on the
    after(1020) shouldBe 1020L         //   surviving minimum
  }

  /** r14 (r13 verdict #3): delete-aware incremental label maintenance.
    * deleteWithLabels must land on exactly the labels a from-scratch
    * buildBandLabels over the post-delete index produces — pinned on
    * the four structural cases: a BRIDGE-CUT (deleting the middle doc
    * of an A–B–C near-dup path splits one component in two), MIN-DELETE
    * (deleting the label doc re-anchors the survivors), an UNTOUCHED
    * component carrying through verbatim, and a SINGLETON delete
    * (touches nothing; survivors of a shrunken pair drop out by the
    * omission contract). */
  test("band labels: delete-then-incremental ≡ full rebuild " +
      "(bridge-cut / min-delete / untouched / singleton)") {
    val s = spark
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    import s.implicits._
    // near-dup PATH: sliding windows over a synthetic token run, the
    // seed picked (probe drive, r14) so that A–B and B–C each share a
    // full minhash band (banded candidates, nm 15/14) while A–C shares
    // NO band — so the operator's own edge relation is exactly the
    // path A–B–C and deleting B is a bridge cut. Deterministic (pure
    // function of the texts); the precondition assert below makes any
    // hash-family change fail loudly.
    def span(lo: Int, hi: Int): String =
      (lo to hi).map(i => s"s48t$i w$i").mkString(" ")
    val base = graft.Tables.documents(s, sfDir)
      .select(col("doc_id"), col("text")).filter(col("doc_id") < 100)
    val dropFirst = expr("substring(text, instr(text, ' ') + 1)").as("text")
    def copyOf(id: Long, newId: Long) = base.filter(col("doc_id") === id)
      .select(lit(newId).as("doc_id"), dropFirst)
    val path = Seq(
      9100L -> span(0, 40), 9101L -> span(10, 50), 9102L -> span(20, 60),
      // exact twins of the path ends, so a bridge cut leaves two
      // NON-TRIVIAL fragments instead of two dropped singletons
      9110L -> span(0, 40), 9112L -> span(20, 60)).toDF("doc_id", "text")
    val corpus = base // includes singleton docs
      .unionAll(path)
      .unionAll(copyOf(20, 1020)).unionAll(copyOf(20, 1021)) // min-delete cluster
      .unionAll(copyOf(40, 1040)) // untouched pair
    val root = Files.createTempDirectory("bandlabelsdelinc").toString
    Dedup.saveBandIndex(corpus, s"$root/index")
    val l0 = Dedup.buildBandLabels(s, s"$root/index", s"$root/labels")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // preconditions: the path is ONE component anchored at 9100; the
    // other clusters are as constructed
    Seq(9100L, 9101L, 9102L, 9110L, 9112L).foreach(d => l0(d) shouldBe 9100L)
    Seq(20L, 1020L, 1021L).foreach(d => l0(d) shouldBe 20L)
    Seq(40L, 1040L).foreach(d => l0(d) shouldBe 40L)

    def rebuildEquiv(got: DataFrame, tag: String): Unit = {
      val rb = Dedup.buildBandLabels(s, s"$root/index", s"$root/labels_rb_$tag")
      canon(got) shouldBe canon(rb)
      canon(Dedup.readBandLabels(s, s"$root/labels")) shouldBe canon(rb)
    }

    // 1. bridge cut: delete B — the path splits into {9100, 9110} and
    //    {9102, 9112}; every other component carries through verbatim
    val d1 = Dedup.deleteWithLabels(s, s"$root/index", s"$root/labels",
      path.filter(col("doc_id") === 9101L))
    rebuildEquiv(d1, "d1")
    val m1 = d1.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    m1.get(9101L) shouldBe None
    m1(9110L) shouldBe 9100L
    m1(9112L) shouldBe 9102L
    m1(9102L) shouldBe 9102L           // genuinely split, not re-merged
    m1(1040L) shouldBe 40L             // untouched component untouched

    // 2. min-delete: deleting the label doc re-anchors the survivors
    val d2 = Dedup.deleteWithLabels(s, s"$root/index", s"$root/labels",
      base.filter(col("doc_id") === 20L))
    rebuildEquiv(d2, "d2")
    val m2 = d2.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    m2.get(20L) shouldBe None
    m2(1020L) shouldBe 1020L
    m2(1021L) shouldBe 1020L

    // 3. singleton delete: touches no component — labels row-identical.
    // The base corpus has natural near-dup clusters, so the singleton
    // is COMPUTED: a live base doc absent from the current label table.
    val baseIds = base.select(col("doc_id")).collect().map(_.getLong(0)).toSet
    val singleton = (baseIds - 20L).filterNot(m2.contains).min
    val d3 = Dedup.deleteWithLabels(s, s"$root/index", s"$root/labels",
      base.filter(col("doc_id") === singleton))
    rebuildEquiv(d3, "d3")
    canon(d3) shouldBe canon(d2)

    // 4. pair shrinks to a singleton: the survivor drops out
    val d4 = Dedup.deleteWithLabels(s, s"$root/index", s"$root/labels",
      copyOf(40, 1040))
    rebuildEquiv(d4, "d4")
    val m4 = d4.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    m4.get(1040L) shouldBe None
    m4.get(40L) shouldBe None
    graft.InternalCaches.releaseAll()
  }

  /** r15 (r14 advice, high): a delete that drops a band bucket to
    * EXACTLY cap removes it from `hot`, and the lifted hot-guard
    * exclusion adds candidate edges between the remaining groups in
    * the bucket — groups whose components contained NO deleted doc.
    * deleteWithLabels must treat those as touched (the newly-cold
    * extension), or the merge a rebuild performs is silently missed.
    *
    * Fixture (probe drive, r15; deterministic — pure function of the
    * texts, preconditions asserted loudly): X and Y are near-dups
    * (nm 15, minMatch 15) sharing exactly one band value; Z shares
    * that same band value but is NOT a near-dup of either (nm 14 to
    * both). With cap=2 the bucket holds 3 distinct signatures → hot →
    * no X–Y candidate → X and Y are unlabeled singletons. Deleting
    * the (also-singleton) Z drops the bucket to 2 = cap → cold → the
    * X–Y edge exists in the post-delete index, yet neither X nor Y is
    * in any pre-delete component. */
  test("band labels: delete that cools a hot bucket to exactly cap " +
      "merges the bucket's untouched survivors (≡ full rebuild)") {
    val s = spark
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    import s.implicits._
    def span(seed: String, lo: Int, hi: Int): String =
      (lo to hi).map(i => s"${seed}t$i w$i").mkString(" ")
    val xText = span("s48", 0, 40)
    val yText = span("s48", 10, 50)
    val zText = (0 until 6).map(k => s"z47q$k x47r$k").mkString(" ") +
      " " + xText
    val tText = span("s99", 0, 40)
    val corpus = Seq(
      7100L -> xText, 7101L -> yText, 7102L -> zText,
      7200L -> tText, 7201L -> tText // untouched exact-twin pair
    ).toDF("doc_id", "text")
    val root = java.nio.file.Files
      .createTempDirectory("bandlabelscool").toString
    Dedup.saveBandIndex(corpus, s"$root/index", cap = 2)
    // preconditions (any minhash-family change fails here, loudly):
    // exactly ONE hot bucket — the X/Y/Z-shared band value over cap
    val hot0 = s.read.parquet(s"$root/index/hot").collect()
    hot0.length shouldBe 1
    val l0 = Dedup.buildBandLabels(s, s"$root/index", s"$root/labels",
      minMatch = 15)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // ...and under the hot guard only the twin pair is clustered:
    // X, Y, Z are singletons with no pre-delete component
    l0 shouldBe Map(7200L -> 7200L, 7201L -> 7200L)

    // rebuildFraction 1.1 forces the INCREMENTAL route — on this tiny
    // corpus the cooled gids alone cross the default dispatch
    // threshold, and the rebuild route cannot miss the merge
    val d = Dedup.deleteWithLabels(s, s"$root/index", s"$root/labels",
      corpus.filter(col("doc_id") === 7102L), minMatch = 15,
      rebuildFraction = 1.1)
    // the bucket cooled: hot is now empty
    s.read.parquet(s"$root/index/hot").count() shouldBe 0L
    val rb = Dedup.buildBandLabels(s, s"$root/index", s"$root/labels_rb",
      minMatch = 15)
    canon(d) shouldBe canon(rb)
    canon(Dedup.readBandLabels(s, s"$root/labels")) shouldBe canon(rb)
    val m = d.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    m shouldBe Map(
      7100L -> 7100L, 7101L -> 7100L, // the newly-exposed merge
      7200L -> 7200L, 7201L -> 7200L) // untouched pair verbatim
    graft.InternalCaches.releaseAll()
  }

  /** r16 (r15 advice, medium — the heating MIRROR of the cooling case
    * above): an ingest that pushes a band bucket OVER the cap adds it
    * to `hot`, and the new hot-guard exclusion REMOVES the candidate
    * edges the pre-ingest labels were built from — a rebuild over the
    * grown index SPLITS components the incremental merge would keep.
    * ingestWithLabels must re-solve every component with a member in a
    * newly-hot bucket against the grown index, or the same call
    * returns different labels depending on the dispatch route.
    *
    * Fixture (same deterministic texts as the cooling case): X and Y
    * are near-dups (nm 15 at minMatch 15) sharing exactly one band
    * value; Z shares that band value but is a near-dup of neither
    * (nm 14). cap=2: the index over {X, Y, twins} has the shared
    * bucket at exactly cap → cold → X–Y clustered. Ingesting Z heats
    * it to 3 > cap → the X–Y candidate vanishes from the grown index
    * → the rebuild (and therefore BOTH routes) must split X and Y back
    * to singletons, twins carried forward verbatim. */
  test("band labels: ingest that heats a bucket over the cap splits " +
      "the bucket's components (≡ full rebuild, either route)") {
    val s = spark
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    import s.implicits._
    def span(seed: String, lo: Int, hi: Int): String =
      (lo to hi).map(i => s"${seed}t$i w$i").mkString(" ")
    val xText = span("s48", 0, 40)
    val yText = span("s48", 10, 50)
    val zText = (0 until 6).map(k => s"z47q$k x47r$k").mkString(" ") +
      " " + xText
    val tText = span("s99", 0, 40)
    val base = Seq(
      7100L -> xText, 7101L -> yText,
      7200L -> tText, 7201L -> tText // untouched exact-twin pair
    ).toDF("doc_id", "text")
    val zBatch = Seq(7102L -> zText).toDF("doc_id", "text")
    def route(f: Double, tag: String): Seq[Seq[Any]] = {
      val root = Files.createTempDirectory(s"bandlabelsheat$tag").toString
      Dedup.saveBandIndex(base, s"$root/index", cap = 2)
      // preconditions, loudly: nothing hot yet, X–Y clustered
      s.read.parquet(s"$root/index/hot").count() shouldBe 0L
      val l0 = Dedup.buildBandLabels(s, s"$root/index", s"$root/labels",
        minMatch = 15)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      l0 shouldBe Map(7100L -> 7100L, 7101L -> 7100L,
        7200L -> 7200L, 7201L -> 7200L)
      val li = Dedup.ingestWithLabels(s, s"$root/index", s"$root/labels",
        zBatch, minMatch = 15, rebuildFraction = f)
      // the shared bucket heated: exactly one hot entry now
      s.read.parquet(s"$root/index/hot").count() shouldBe 1L
      // ≡ a from-scratch rebuild over the grown index
      val rb = Dedup.buildBandLabels(s, s"$root/index", s"$root/labels_rb",
        minMatch = 15)
      canon(li) shouldBe canon(rb)
      canon(Dedup.readBandLabels(s, s"$root/labels")) shouldBe canon(rb)
      canon(li)
    }
    val inc = route(1.1, "inc") // incremental route forced
    val rbr = route(0.0, "rb")  // rebuild route forced
    rbr shouldBe inc
    // the split itself: X and Y lost their only cold shared bucket —
    // singletons again — and the twin pair rides through untouched
    inc.map(r => r(0).asInstanceOf[Long] -> r(1).asInstanceOf[Long])
      .toMap shouldBe Map(7200L -> 7200L, 7201L -> 7200L)
    graft.InternalCaches.releaseAll()
  }

  /** r16 (r15 verdict #3 + advice): the dispatch pre-pass must track
    * the BATCH, not the corpus — the label-corpus size comes from the
    * `_N_LABELS` sidecar persisted at commit time (one semi-join count
    * per ingest, no corpus count), and a pinned fraction > 1.0 (the
    * explicit incremental opt-out) skips the probe jobs outright. */
  test("labels dispatch pre-pass: sidecar count + frac>1.0 short-circuit") {
    val s = spark
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val docs = graft.Tables.documents(s, sfDir)
      .select(col("doc_id"), col("text")).filter(col("doc_id") < 100)
    val dropFirst = expr("substring(text, instr(text, ' ') + 1)").as("text")
    def copyOf(id: Long, newId: Long) = docs.filter(col("doc_id") === id)
      .select(lit(newId).as("doc_id"), dropFirst)
    def jobsDuring(body: => Unit): Int = {
      val profile = graft.Profile.attach(s)
      try body
      finally profile.close()
      profile.total(graft.Profile.NoGroup).jobs.toInt
    }
    def run(f: Double, tag: String): Int = {
      val root = Files.createTempDirectory(s"labeljobs$tag").toString
      Dedup.saveBandIndex(docs.unionAll(copyOf(20, 1020)), s"$root/index")
      Dedup.buildBandLabels(s, s"$root/index", s"$root/labels")
      // the commit persisted the corpus size beside the version
      val v = Paths.get(s"$root/labels")
      // try-with-resources equivalent: Files.list leaks an open dir fd
      // unless closed (r16 advice)
      val listing = Files.list(v)
      val sidecars =
        try listing.filter(p => Files.exists(p.resolve("_N_LABELS"))).count()
        finally listing.close()
      sidecars should be >= 1L
      jobsDuring {
        Dedup.ingestWithLabels(s, s"$root/index", s"$root/labels",
          copyOf(20, 2020), rebuildFraction = f)
      }
    }
    val probed = run(0.99, "probe") // sidecar nOld + ONE semi-join count
    val skipped = run(1.1, "skip")  // no pre-pass jobs at all
    skipped should be < probed
    graft.InternalCaches.releaseAll()
  }

  /** r15 (r14 verdict #2): the touched-fraction dispatch must be
    * route-invariant — forcing the rebuild route (fraction 0.0) and
    * forcing the incremental route (fraction 1.1) land on identical
    * labels, for both lifecycle verbs. */
  test("label verbs: touched-fraction dispatch is route-invariant") {
    val s = spark
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val docs = graft.Tables.documents(s, sfDir)
      .select(col("doc_id"), col("text")).filter(col("doc_id") < 150)
    val dropFirst = expr("substring(text, instr(text, ' ') + 1)").as("text")
    def copyOf(id: Long, newId: Long) = docs.filter(col("doc_id") === id)
      .select(lit(newId).as("doc_id"), dropFirst)
    val base = docs.unionAll(copyOf(20, 1020)).unionAll(copyOf(40, 1040))
    val batch = copyOf(20, 2020).unionAll(copyOf(60, 2060))
    val del = docs.filter(col("doc_id") === 20L)
    def route(f: Double, tag: String): (Seq[Seq[Any]], Seq[Seq[Any]]) = {
      val root = Files.createTempDirectory(s"dispatch$tag").toString
      Dedup.saveBandIndex(base, s"$root/index")
      Dedup.buildBandLabels(s, s"$root/index", s"$root/labels")
      val li = Dedup.ingestWithLabels(s, s"$root/index", s"$root/labels",
        batch, rebuildFraction = f)
      val ld = Dedup.deleteWithLabels(s, s"$root/index", s"$root/labels",
        del, rebuildFraction = f)
      (canon(li), canon(ld))
    }
    val (iInc, dInc) = route(1.1, "inc")   // incremental forced
    val (iRb, dRb) = route(0.0, "rb")      // rebuild forced
    iInc should not be empty
    iRb shouldBe iInc
    dRb shouldBe dInc
    graft.InternalCaches.releaseAll()
  }

  /** r15 (r14 verdict #4): label-version retention. writeBandLabels
    * keeps the newest K=3 committed versions and prunes older dirs at
    * commit time; read-latest survives GC, and a torn (no-_SUCCESS)
    * version dir never breaks reads — the next commit's overwrite
    * reclaims it. */
  test("band labels: version GC keeps last 3, read-latest survives, " +
      "torn dir reclaimed") {
    val s = spark
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val docs = graft.Tables.documents(s, sfDir)
      .select(col("doc_id"), col("text")).filter(col("doc_id") < 100)
    val dropFirst = expr("substring(text, instr(text, ' ') + 1)").as("text")
    def copyOf(id: Long, newId: Long) = docs.filter(col("doc_id") === id)
      .select(lit(newId).as("doc_id"), dropFirst)
    val root = Files.createTempDirectory("labelgc").toString
    Dedup.saveBandIndex(docs, s"$root/index")
    Dedup.buildBandLabels(s, s"$root/index", s"$root/labels") // v1
    def versions: Seq[String] = {
      val d = Paths.get(s"$root/labels")
      val out = scala.collection.mutable.ArrayBuffer.empty[String]
      Files.list(d).forEach(p => out += p.getFileName.toString)
      out.filter(_.matches("v\\d+")).sorted.toSeq
    }
    versions shouldBe Seq("v1")
    var last: DataFrame = null
    Seq(3000L, 3001L, 3002L, 3003L).zipWithIndex.foreach { case (id, i) =>
      last = Dedup.ingestWithLabels(s, s"$root/index", s"$root/labels",
        copyOf(20 + 10 * (i % 2), id), rebuildFraction = 1.1) // v2..v5
    }
    versions shouldBe Seq("v3", "v4", "v5")
    canon(Dedup.readBandLabels(s, s"$root/labels")) shouldBe canon(last)
    // torn next-version dir (crash mid-write): unreadable, ignored...
    Files.createDirectories(Paths.get(s"$root/labels/v6"))
    Files.createFile(Paths.get(s"$root/labels/v6/part-junk.parquet"))
    canon(Dedup.readBandLabels(s, s"$root/labels")) shouldBe canon(last)
    // ...and the next commit overwrites exactly that dir
    val l6 = Dedup.ingestWithLabels(s, s"$root/index", s"$root/labels",
      copyOf(60, 3060), rebuildFraction = 1.1)
    versions shouldBe Seq("v4", "v5", "v6")
    canon(Dedup.readBandLabels(s, s"$root/labels")) shouldBe canon(l6)
    graft.InternalCaches.releaseAll()
  }

  /** The ingest rows build their index in the untimed prepare and
    * consume its staging marker at query start; a standalone
    * re-invocation (no prepare hook — the driver may call fn directly,
    * twice) must REBUILD rather than ingest into the already-mutated
    * index, so back-to-back runs are bit-identical. */
  test("ingest-grow queries are idempotent across standalone re-runs") {
    val s = spark
    Seq("dedup_ingest_grow", "dedup_ingest_labels", "sim_ingest_grow").foreach { q =>
      val fn = graft.SparkEntry.queries(q)
      val first = canon(fn(s, sfDir))
      graft.InternalCaches.releaseAll()
      val second = canon(fn(s, sfDir))
      graft.InternalCaches.releaseAll()
      withClue(s"$q first vs second standalone run:") {
        second shouldBe first
      }
      first should not be empty
    }
  }

  test("ivf index: probes and verbs fail fast on a foreign or pre-r11 " +
      "norm convention (_FORMAT guard)") {
    val s = spark
    val prep = Similarity.prepared(graft.Tables.embeddings(s, sfDir))
      .localCheckpoint()
    val a = prep.filter(col("vec_id") < 200)
    val queries = prep.filter(col("vec_id") % 100 === 0)
    val dir = Files.createTempDirectory("ivffmt").toString
    Similarity.saveIvfIndex(a, dir)
    // sanity: freshly built index probes fine
    Similarity.topKFromIvfIndex(s, dir, queries, k = 2).collect()

    // a pre-r11 index has no _FORMAT marker at all (hadoop fs delete
    // also clears the local-FS crc shadow a raw Files.delete leaves)
    val fmtPath = new org.apache.hadoop.fs.Path(dir, "_FORMAT")
    val hfs = fmtPath.getFileSystem(s.sparkContext.hadoopConfiguration)
    hfs.delete(fmtPath, false)
    val eProbe = intercept[IllegalArgumentException] {
      Similarity.topKFromIvfIndex(s, dir, queries, k = 2)
    }
    eProbe.getMessage should include("pre-r11")
    eProbe.getMessage should include("saveIvfIndex")
    intercept[IllegalArgumentException] {
      Similarity.appendToIvfIndex(dir, queries)
    }

    // a future/foreign convention tag is rejected the same way
    val out = hfs.create(fmtPath, true)
    try out.write("graft-ivf v99 nrm=other".getBytes("UTF-8"))
    finally out.close()
    intercept[IllegalArgumentException] {
      Similarity.topKFromIvfIndex(s, dir, queries, k = 2)
    }

    // rebuild restores the current tag and the index works again
    Similarity.saveIvfIndex(a, dir)
    Similarity.topKFromIvfIndex(s, dir, queries, k = 2).collect()
  }
}
