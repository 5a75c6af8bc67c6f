package graft.ops

import java.nio.file.Files

import graft.fm.SparkSessionSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** CRASH-INJECTION pins for the persisted-index lifecycle (r10,
  * verdict #2): a lifecycle verb is several FS mutations with no
  * cross-file atomicity, so the [[IndexDir]] write-ahead marker must
  * (a) survive any mid-verb crash — including the old silent window
  * between the live counts/hot mutation and the snapshot manifest
  * commit — (b) make every probe and every new verb REFUSE the torn
  * directory with an actionable diagnostic, and (c) be cleared by the
  * recovery verb (compaction / rebuild), which restores all invariants
  * from the raw per-row facts. */
class CrashConsistencySuite extends SparkSessionSuite {

  private val sfDir = "/root/testdata/sf0.001"

  private def canon(df: DataFrame): Seq[Seq[Any]] =
    df.collect().map(_.toSeq.toIndexedSeq).toIndexedSeq
      .sortBy(_.mkString("|"))

  private def delete(path: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
  }

  test("band index: crash between live mutation and snapshot commit is " +
      "detected, and compaction recovers") {
    val s = spark
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val docs = graft.Tables.documents(s, sfDir)
      .select(col("doc_id"), col("text"))
    val a = docs.filter(col("doc_id") < 300)
    val b = docs.filter(col("doc_id") >= 300 && col("doc_id") < 400)
    val c = docs.filter(col("doc_id") >= 400)
    val probeBatch = Dedup.incomingLshBatch(docs)

    val dir = Files.createTempDirectory("bandcrash").toString
    Dedup.saveBandIndex(a, dir)
    Dedup.appendToBandIndex(dir, b)
    // the clean path leaves no marker behind
    IndexDir.pending(s, dir) shouldBe None

    // RECONSTRUCT THE CRASH WINDOW for an append of c: run the verb for
    // real, then roll the on-disk state back to "live counts/hot
    // mutated, snapshot NOT committed" — exactly what a kill between
    // the two writes leaves: latest manifest + its delta gone, marker
    // still present
    Dedup.appendToBandIndex(dir, c)
    val v = Dedup.bandIndexVersions(s, dir).last
    delete(s"$dir/manifests/v$v.txt")
    delete(s"$dir/count_deltas/version=$v")
    IndexDir.beginRepair(s, dir, "appendToBandIndex")

    // detection: probes and further verbs refuse the torn directory
    val e1 = intercept[IllegalStateException] {
      Dedup.probeBandIndex(s, dir, probeBatch)
    }
    e1.getMessage should include("appendToBandIndex")
    e1.getMessage should include("compactBandIndex")
    intercept[IllegalStateException] {
      Dedup.probeBandIndexAsOf(s, dir, probeBatch,
        Dedup.bandIndexVersions(s, dir).last)
    }
    intercept[IllegalStateException] {
      Dedup.appendToBandIndex(dir, b.limit(1))
    }
    intercept[IllegalStateException] {
      Dedup.deleteFromBandIndex(dir, b.limit(1))
    }

    // recovery: compaction rebuilds counts/hot from the surviving band
    // rows, resets the snapshot log, clears the marker — and the
    // recovered index probes exactly like a from-scratch build over
    // the rows that survived (a ∪ b ∪ c: the append's row writes
    // completed before the simulated kill)
    Dedup.compactBandIndex(s, dir)
    IndexDir.pending(s, dir) shouldBe None
    val dirFull = Files.createTempDirectory("bandcrashfull").toString
    Dedup.saveBandIndex(docs, dirFull)
    val recovered = canon(Dedup.probeBandIndex(s, dir, probeBatch))
    recovered shouldBe canon(Dedup.probeBandIndex(s, dirFull, probeBatch))
    recovered.nonEmpty shouldBe true
    // and as-of(latest) agrees with live again — the divergence the
    // old silent window allowed
    canon(Dedup.probeBandIndexAsOf(s, dir, probeBatch,
      Dedup.bandIndexVersions(s, dir).last)) shouldBe recovered
  }

  test("band index: a verb that genuinely dies mid-flight leaves the " +
      "marker; recovery rebuilds the derived state from raw rows") {
    val s = spark
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val docs = graft.Tables.documents(s, sfDir)
      .select(col("doc_id"), col("text"))
    val a = docs.filter(col("doc_id") < 300)
    val b = docs.filter(col("doc_id") >= 300 && col("doc_id") < 400)
    val probeBatch = Dedup.incomingLshBatch(docs.filter(col("doc_id") < 400))

    val dir = Files.createTempDirectory("bandmidcrash").toString
    Dedup.saveBandIndex(a, dir)
    // REAL mid-verb failure: the append reads dir/counts AFTER its
    // sig/bands row appends; removing counts makes that read throw,
    // killing the verb with rows appended but derived state untouched
    delete(s"$dir/counts")
    intercept[Exception] { Dedup.appendToBandIndex(dir, b) }
    IndexDir.pending(s, dir) shouldBe Some("appendToBandIndex")
    intercept[IllegalStateException] {
      Dedup.probeBandIndex(s, dir, probeBatch)
    }

    // compaction rebuilds counts/hot from the band rows (a ∪ b both
    // survive — the appends completed before the injected failure), so
    // the recovered index is the from-scratch index over a ∪ b
    Dedup.compactBandIndex(s, dir)
    IndexDir.pending(s, dir) shouldBe None
    val dirFull = Files.createTempDirectory("bandmidfull").toString
    Dedup.saveBandIndex(docs.filter(col("doc_id") < 400), dirFull)
    val recovered = canon(Dedup.probeBandIndex(s, dir, probeBatch))
    recovered shouldBe canon(Dedup.probeBandIndex(s, dirFull, probeBatch))
    recovered.nonEmpty shouldBe true
  }

  test("IVF index: crash between corpus append and snapshot commit is " +
      "detected, and compaction recovers") {
    val s = spark
    val prep = Similarity.prepared(graft.Tables.embeddings(s, sfDir))
      .localCheckpoint(true)
    val a = prep.filter(col("vec_id") < 1500)
    val b = prep.filter(col("vec_id") >= 1500)
    val queries = prep.filter(col("vec_id") % 100 === 0)

    val dir = Files.createTempDirectory("ivfcrash").toString
    Similarity.saveIvfIndex(a, dir)
    Similarity.appendToIvfIndex(dir, b)
    IndexDir.pending(s, dir) shouldBe None
    val live = canon(Similarity.topKFromIvfIndex(s, dir, queries, k = 5))

    // the crash window: corpus rows appended, snapshot not committed
    val v = Similarity.ivfIndexVersions(s, dir).last
    delete(s"$dir/manifests/v$v.txt")
    IndexDir.beginRepair(s, dir, "appendToIvfIndex")

    val e = intercept[IllegalStateException] {
      Similarity.topKFromIvfIndex(s, dir, queries, k = 5)
    }
    e.getMessage should include("appendToIvfIndex")
    e.getMessage should include("compactIvfIndex")
    intercept[IllegalStateException] {
      Similarity.appendToIvfIndex(dir, b.limit(1))
    }

    // recovery: same answers as before the simulated crash (the corpus
    // rows all survive; compaction re-lays them out and restarts the
    // snapshot log), as-of(latest) ≡ live restored
    Similarity.compactIvfIndex(s, dir)
    IndexDir.pending(s, dir) shouldBe None
    val recovered = canon(Similarity.topKFromIvfIndex(s, dir, queries, k = 5))
    recovered shouldBe live
    recovered.nonEmpty shouldBe true
    canon(Similarity.topKFromIvfIndexAsOf(s, dir, queries, k = 5,
      Similarity.ivfIndexVersions(s, dir).last)) shouldBe live
  }

  test("IVF index: a BUILD that dies mid-flight never strands the " +
      "directory outside its advertised recovery verbs") {
    val s = spark
    val prep = Similarity.prepared(graft.Tables.embeddings(s, sfDir))
      .localCheckpoint(true)
    val queries = prep.filter(col("vec_id") % 100 === 0)

    // (1) rebuild over an EXISTING index dies after its opening steps.
    // Compaction must REFUSE with a rebuild redirect — a crashed build
    // may have torn the rows themselves (or be mid-overwrite of a
    // pre-r11 directory whose v1-norm rows the fresh _FORMAT tag would
    // otherwise bless), so "compacting" them would commit corrupt data
    // under a clean marker (r11 review, second pass). The advertised
    // chain is: probe error → compactIvfIndex → its refusal names the
    // real recovery (saveIvfIndex), which repairs.
    val dir = Files.createTempDirectory("ivfbuildcrash").toString
    Similarity.saveIvfIndex(prep, dir)
    val live = canon(Similarity.topKFromIvfIndex(s, dir, queries, k = 5))
    IndexDir.beginRepair(s, dir, "saveIvfIndex") // crash: marker stays
    val e = intercept[IllegalStateException] {
      Similarity.topKFromIvfIndex(s, dir, queries, k = 5)
    }
    e.getMessage should include("compactIvfIndex")
    val refusal = intercept[IllegalStateException] {
      Similarity.compactIvfIndex(s, dir)
    }
    refusal.getMessage should include("saveIvfIndex")
    Similarity.saveIvfIndex(prep, dir) // the real mid-build recovery
    canon(Similarity.topKFromIvfIndex(s, dir, queries, k = 5)) shouldBe live

    // (2) a FIRST build dies right after its opening steps (intent +
    // format tag, no data yet): re-running the build — the documented
    // mid-build recovery, only the build has the source rows — succeeds
    val dir2 = Files.createTempDirectory("ivfbuildcrash2").toString
    IndexDir.beginRepair(s, dir2, "saveIvfIndex")
    Similarity.IvfDir.writeFormat(s, dir2)
    Similarity.saveIvfIndex(prep, dir2)
    IndexDir.pending(s, dir2) shouldBe None
    canon(Similarity.topKFromIvfIndex(s, dir2, queries, k = 5)) shouldBe live
  }

  test("IVF snapshot reader concurrent with a live writer: committed " +
      "version replays bit-identically or refuses — never tears") {
    val s = spark
    val prep = Similarity.prepared(graft.Tables.embeddings(s, sfDir))
      .localCheckpoint(true)
    val base = prep.filter(col("vec_id") < 200)
    val batches = (0 until 3).map(i =>
      prep.filter(col("vec_id") >= 200 + i * 100 &&
        col("vec_id") < 300 + i * 100).localCheckpoint(true))
    val queries = prep.filter(col("vec_id") % 100 === 0)
      .localCheckpoint(true)

    val dir = Files.createTempDirectory("ivfsnapread").toString
    Similarity.saveIvfIndex(base, dir)
    val v1 = Similarity.ivfIndexVersions(s, dir).last
    val baseline = canon(
      Similarity.topKFromIvfIndexAsOf(s, dir, queries, k = 5, version = v1))
    baseline.nonEmpty shouldBe true

    val writerFailure = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val writer = new Thread(() => {
      try batches.foreach(b => Similarity.appendToIvfIndex(dir, b))
      catch { case t: Throwable => writerFailure.set(t) }
    })
    var clean = 0
    var refused = 0
    writer.start()
    while (writer.isAlive) {
      try {
        canon(Similarity.topKFromIvfIndexAsOf(s, dir, queries, k = 5,
          version = v1)) shouldBe baseline
        clean += 1
      } catch {
        case e: IllegalStateException =>
          e.getMessage should include(dir)
          refused += 1
      }
    }
    writer.join(120000)
    writerFailure.get() shouldBe null
    withClue(s"reads during writer: $clean clean, $refused refused: ") {
      (clean + refused) should be >= 1
    }
    canon(Similarity.topKFromIvfIndexAsOf(s, dir, queries, k = 5,
      version = v1)) shouldBe baseline
  }

  test("line index: torn merge is detected; the rebuild recovery verb " +
      "clears it") {
    val s = spark
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val docs = graft.Tables.documents(s, sfDir)
      .select(col("doc_id"), col("text"))
    val dir = Files.createTempDirectory("linecrash").toString
    Dedup.saveLineIndex(docs, dir)
    IndexDir.pending(s, dir) shouldBe None
    val clean = canon(Dedup.probeLineIndex(s, dir, docs.limit(50)))

    // simulate a killed appendToLineIndex (its merge is the only state)
    IndexDir.beginRepair(s, dir, "appendToLineIndex")
    val e = intercept[IllegalStateException] {
      Dedup.probeLineIndex(s, dir, docs.limit(50))
    }
    e.getMessage should include("appendToLineIndex")
    e.getMessage should include("saveLineIndex")
    intercept[IllegalStateException] {
      Dedup.appendToLineIndex(dir, docs.limit(1))
    }
    intercept[IllegalStateException] {
      Dedup.compactLineIndex(s, dir) // compaction cannot repair this kind
    }

    // the line index's recovery verb is the full rebuild
    Dedup.saveLineIndex(docs, dir)
    IndexDir.pending(s, dir) shouldBe None
    canon(Dedup.probeLineIndex(s, dir, docs.limit(50))) shouldBe clean
  }

  test("snapshot reader concurrent with a live writer: every read is " +
      "either the exact committed-snapshot answer or a clean marker " +
      "refusal — never a torn result") {
    val s = spark
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val docs = graft.Tables.documents(s, sfDir)
      .select(col("doc_id"), col("text")).localCheckpoint(true)
    val base = docs.filter(col("doc_id") < 200)
    val batches = (0 until 3).map(i =>
      docs.filter(col("doc_id") >= 200 + i * 100 &&
        col("doc_id") < 300 + i * 100).localCheckpoint(true))
    val probeBatch = Dedup.incomingLshBatch(docs.filter(col("doc_id") < 200))
      .localCheckpoint(true)

    val dir = Files.createTempDirectory("bandsnapread").toString
    Dedup.saveBandIndex(base, dir)
    val v1 = Dedup.bandIndexVersions(s, dir).last
    val baseline = canon(Dedup.probeBandIndexAsOf(s, dir, probeBatch, v1))
    baseline.nonEmpty shouldBe true

    // WRITER: sequential appends, each committing a new snapshot and
    // holding the _INTENT marker across its multi-file mutation.
    // READER (this thread): probe as-of v1 in a loop. Append-only data
    // files + immutable count deltas mean a read that passes the
    // marker check can only see v1's bytes; a read that lands inside a
    // verb is REFUSED with the actionable diagnostic. Anything else
    // (a hash-different "success") would be a torn read — the bug this
    // test exists to catch.
    val writerFailure = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val writer = new Thread(() => {
      try batches.foreach(b => Dedup.appendToBandIndex(dir, b))
      catch { case t: Throwable => writerFailure.set(t) }
    })
    var clean = 0
    var refused = 0
    writer.start()
    while (writer.isAlive) {
      try {
        canon(Dedup.probeBandIndexAsOf(s, dir, probeBatch, v1)) shouldBe baseline
        clean += 1
      } catch {
        // the verb name is usually "appendToBandIndex" but the reader
        // can also land inside begin's create-then-write window, where
        // the marker exists with its name not yet flushed — both are
        // the same clean refusal, so pin only the diagnostic's shape
        case e: IllegalStateException =>
          e.getMessage should include(dir)
          refused += 1
      }
    }
    writer.join(120000)
    writerFailure.get() shouldBe null
    withClue(s"reads during writer: $clean clean, $refused refused: ") {
      (clean + refused) should be >= 1
    }

    // after the writer: v1 still replays bit-identically, and the live
    // index equals a from-scratch build over the union corpus
    canon(Dedup.probeBandIndexAsOf(s, dir, probeBatch, v1)) shouldBe baseline
    val dirFull = Files.createTempDirectory("bandsnapreadfull").toString
    Dedup.saveBandIndex(docs.filter(col("doc_id") < 500), dirFull)
    canon(Dedup.probeBandIndex(s, dir, probeBatch)) shouldBe
      canon(Dedup.probeBandIndex(s, dirFull, probeBatch))
  }

  test("concurrent writers on one index directory: exactly one verb " +
      "wins, the loser fails fast (r10 verdict #2)") {
    val s = spark
    val dir = Files.createTempDirectory("bandrace").toString
    val n = 8
    val barrier = new java.util.concurrent.CyclicBarrier(n)
    val outcomes = new java.util.concurrent.ConcurrentLinkedQueue[
      Either[Throwable, Unit]]()
    val threads = (1 to n).map { i =>
      new Thread(() => {
        barrier.await()
        outcomes.add(
          try Right(IndexDir.begin(s, dir, s"verb$i", "compactBandIndex"))
          catch { case t: Throwable => Left(t) })
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join(30000))
    import scala.jdk.CollectionConverters._
    val (losers, winners) = outcomes.asScala.toSeq.partition(_.isLeft)
    withClue(s"outcomes: $outcomes: ") {
      winners.size shouldBe 1
      losers.size shouldBe n - 1
      // every loser fails FAST with the actionable diagnostic — either
      // the create-exclusive race message or (having arrived after the
      // winner's marker landed) the assertClean suspect-dir message
      losers.foreach {
        case Left(t) =>
          t shouldBe an[IllegalStateException]
          t.getMessage should include(dir)
        case _ => fail("unreachable")
      }
    }
    // the winner's verb completes normally; the directory is reusable
    IndexDir.end(s, dir)
    IndexDir.pending(s, dir) shouldBe None
    IndexDir.begin(s, dir, "after", "compactBandIndex")
    IndexDir.pending(s, dir) shouldBe Some("after")
    IndexDir.end(s, dir)
  }

  /** What a kill between [[IndexDir.rewrite]]'s two swap renames
    * leaves: the fully written compacted copy in `X.compact-tmp`, the
    * pre-compaction files in `X.compact-old`, and no `X`. */
  private def tearSwap(component: String): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val src = new org.apache.hadoop.fs.Path(component)
    val fs = src.getFileSystem(conf)
    org.apache.hadoop.fs.FileUtil.copy(fs, src, fs,
      new org.apache.hadoop.fs.Path(component + ".compact-tmp"), false, conf) shouldBe true
    fs.rename(src, new org.apache.hadoop.fs.Path(component + ".compact-old")) shouldBe true
  }

  private def exists(path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** One index kind of the table-driven marker test: a clean directory
    * whose marker lives in `markerDir`, the verb whose crash is planted,
    * the kind's probe and mutating verbs, and its recovery verb. */
  private case class KindCase(kind: String, markerDir: String,
      planted: String, recovery: String, probe: () => Any,
      verbs: Seq[(String, () => Any)], recover: () => Any)

  test("every index kind: a planted marker refuses the probe and every " +
      "mutating verb, naming the dead verb and the recovery verb, and " +
      "the recovery verb clears it") {
    val s = spark
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val docs = graft.Tables.documents(s, sfDir)
      .select(col("doc_id"), col("text")).localCheckpoint(true)
    val base = docs.filter(col("doc_id") < 300)
    val extra = docs.filter(col("doc_id") >= 300 && col("doc_id") < 310)
    val probeBatch = Dedup.incomingLshBatch(base)
    val prep = Similarity.prepared(graft.Tables.embeddings(s, sfDir))
      .localCheckpoint(true)
    val vecs = prep.filter(col("vec_id") < 1500)
    val moreVecs = prep.filter(col("vec_id") >= 1500 && col("vec_id") < 1510)
    val queries = prep.filter(col("vec_id") % 100 === 0)

    val lineDir = Files.createTempDirectory("kindline").toString
    Dedup.saveLineIndex(base, lineDir)
    val bandDir = Files.createTempDirectory("kindband").toString
    Dedup.saveBandIndex(base, bandDir)
    val ivfDir = Files.createTempDirectory("kindivf").toString
    Similarity.saveIvfIndex(vecs, ivfDir)
    val lblIndex = Files.createTempDirectory("kindlblidx").toString
    val lblDir = Files.createTempDirectory("kindlbl").toString + "/labels"
    Dedup.saveBandIndex(base, lblIndex)
    Dedup.buildBandLabels(s, lblIndex, lblDir)

    val cases = Seq(
      KindCase("line", lineDir, "appendToLineIndex", "saveLineIndex",
        () => Dedup.probeLineIndex(s, lineDir, base.limit(20)),
        Seq("appendToLineIndex" -> (() => Dedup.appendToLineIndex(lineDir, extra)),
          "deleteFromLineIndex" -> (() => Dedup.deleteFromLineIndex(lineDir, base.limit(1))),
          "compactLineIndex" -> (() => Dedup.compactLineIndex(s, lineDir))),
        () => Dedup.saveLineIndex(base, lineDir)),
      KindCase("band", bandDir, "deleteFromBandIndex", "compactBandIndex",
        () => Dedup.probeBandIndex(s, bandDir, probeBatch),
        Seq("appendToBandIndex" -> (() => Dedup.appendToBandIndex(bandDir, extra)),
          "deleteFromBandIndex" -> (() => Dedup.deleteFromBandIndex(bandDir, base.limit(1))),
          "ingestIntoBandIndex" -> (() => Dedup.ingestIntoBandIndex(s, bandDir, extra))),
        () => Dedup.compactBandIndex(s, bandDir)),
      KindCase("ivf", ivfDir, "appendToIvfIndex", "compactIvfIndex",
        () => Similarity.topKFromIvfIndex(s, ivfDir, queries, k = 5),
        Seq("appendToIvfIndex" -> (() => Similarity.appendToIvfIndex(ivfDir, moreVecs)),
          "deleteFromIvfIndex" -> (() => Similarity.deleteFromIvfIndex(ivfDir, vecs.limit(1))),
          "ingestIntoIvfIndex" -> (() => Similarity.ingestIntoIvfIndex(s, ivfDir, moreVecs))),
        () => Similarity.compactIvfIndex(s, ivfDir)),
      KindCase("labels", lblDir, "ingestWithLabels", "buildBandLabels",
        () => Dedup.readBandLabels(s, lblDir),
        Seq("ingestWithLabels" -> (() => Dedup.ingestWithLabels(s, lblIndex, lblDir, extra)),
          "deleteWithLabels" -> (() => Dedup.deleteWithLabels(s, lblIndex, lblDir, base.limit(1)))),
        () => Dedup.buildBandLabels(s, lblIndex, lblDir)))

    cases.foreach { c =>
      IndexDir.pending(s, c.markerDir) shouldBe None
      IndexDir.beginRepair(s, c.markerDir, c.planted)
      (("probe" -> c.probe) +: c.verbs).foreach { case (verb, run) =>
        withClue(s"${c.kind} $verb: ") {
          val e = intercept[IllegalStateException](run())
          e.getMessage should include(c.planted)
          e.getMessage should include(c.recovery)
        }
      }
      c.recover()
      withClue(s"${c.kind}: ") { IndexDir.pending(s, c.markerDir) shouldBe None }
      c.probe()
    }
    canon(Dedup.probeLineIndex(s, lineDir, base.limit(20))).nonEmpty shouldBe true
    canon(Dedup.readBandLabels(s, lblDir)).nonEmpty shouldBe true
  }

  test("mutating and recovery verbs name their jobs index.<kind>.<verb>") {
    val s = spark
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val docs = graft.Tables.documents(s, sfDir)
      .select(col("doc_id"), col("text"))
    val dir = Files.createTempDirectory("bandphase").toString
    val profile = graft.Profile.attach(s)
    try {
      Dedup.saveBandIndex(docs.filter(col("doc_id") < 300), dir)
      Dedup.appendToBandIndex(dir, docs.filter(col("doc_id") >= 300))
    } finally profile.close()
    val descs = profile.phases(graft.Profile.NoGroup).keySet
    descs should contain("index.band.saveBandIndex")
    descs should contain("index.band.appendToBandIndex")
  }

  test("band compaction completes a swap torn between its two renames") {
    val s = spark
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val docs = graft.Tables.documents(s, sfDir)
      .select(col("doc_id"), col("text"))
    val probeBatch = Dedup.incomingLshBatch(docs)
    val dir = Files.createTempDirectory("bandswap").toString
    Dedup.saveBandIndex(docs.filter(col("doc_id") < 300), dir)
    Dedup.appendToBandIndex(dir, docs.filter(col("doc_id") >= 300))
    val before = canon(Dedup.probeBandIndex(s, dir, probeBatch))
    before.nonEmpty shouldBe true

    tearSwap(s"$dir/sig")
    IndexDir.beginRepair(s, dir, "compactBandIndex")
    Dedup.compactBandIndex(s, dir)
    IndexDir.pending(s, dir) shouldBe None
    exists(s"$dir/sig.compact-tmp") shouldBe false
    exists(s"$dir/sig.compact-old") shouldBe false
    canon(Dedup.probeBandIndex(s, dir, probeBatch)) shouldBe before
  }

  test("IVF compaction completes a swap torn between its two renames") {
    val s = spark
    val prep = Similarity.prepared(graft.Tables.embeddings(s, sfDir))
      .localCheckpoint(true)
    val queries = prep.filter(col("vec_id") % 100 === 0)
    val dir = Files.createTempDirectory("ivfswap").toString
    Similarity.saveIvfIndex(prep.filter(col("vec_id") < 1500), dir)
    Similarity.appendToIvfIndex(dir, prep.filter(col("vec_id") >= 1500))
    val before = canon(Similarity.topKFromIvfIndex(s, dir, queries, k = 5))
    before.nonEmpty shouldBe true

    tearSwap(s"$dir/corpus")
    IndexDir.beginRepair(s, dir, "compactIvfIndex")
    Similarity.compactIvfIndex(s, dir)
    IndexDir.pending(s, dir) shouldBe None
    exists(s"$dir/corpus.compact-tmp") shouldBe false
    canon(Similarity.topKFromIvfIndex(s, dir, queries, k = 5)) shouldBe before
    canon(Similarity.topKFromIvfIndexAsOf(s, dir, queries, k = 5,
      Similarity.ivfIndexVersions(s, dir).last)) shouldBe before
  }

  test("band compaction of a pre-v2 directory fails on the format and " +
      "leaves no marker behind") {
    val s = spark
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val docs = graft.Tables.documents(s, sfDir)
      .select(col("doc_id"), col("text"))
    val dir = Files.createTempDirectory("bandv1").toString
    Dedup.saveBandIndex(docs.filter(col("doc_id") < 300), dir)
    delete(s"$dir/_FORMAT") // the v1 layout carried no tag
    val e = intercept[IllegalArgumentException] { Dedup.compactBandIndex(s, dir) }
    e.getMessage should include("pre-r13")
    e.getMessage should include("saveBandIndex")
    IndexDir.pending(s, dir) shouldBe None
    // later verbs still name the real fix, not a stray compaction marker
    val e2 = intercept[IllegalArgumentException] {
      Dedup.appendToBandIndex(dir, docs.filter(col("doc_id") >= 300))
    }
    e2.getMessage should include("saveBandIndex")
    IndexDir.pending(s, dir) shouldBe None
  }

  test("band compaction refuses a torn build; the rebuild repairs it") {
    val s = spark
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val docs = graft.Tables.documents(s, sfDir)
      .select(col("doc_id"), col("text"))
    val a = docs.filter(col("doc_id") < 300)
    val probeBatch = Dedup.incomingLshBatch(docs)
    val dir = Files.createTempDirectory("bandbuildcrash").toString
    Dedup.saveBandIndex(a, dir)
    val clean = canon(Dedup.probeBandIndex(s, dir, probeBatch))
    IndexDir.beginRepair(s, dir, "saveBandIndex") // crash: marker stays
    val e = intercept[IllegalStateException] { Dedup.compactBandIndex(s, dir) }
    e.getMessage should include("saveBandIndex")
    IndexDir.pending(s, dir) shouldBe Some("saveBandIndex")
    Dedup.saveBandIndex(a, dir)
    IndexDir.pending(s, dir) shouldBe None
    canon(Dedup.probeBandIndex(s, dir, probeBatch)) shouldBe clean
  }

  test("IVF delete refuses a torn directory") {
    val s = spark
    val prep = Similarity.prepared(graft.Tables.embeddings(s, sfDir))
      .localCheckpoint(true)
    val dir = Files.createTempDirectory("ivfdelcrash").toString
    Similarity.saveIvfIndex(prep, dir)
    IndexDir.beginRepair(s, dir, "appendToIvfIndex")
    val e = intercept[IllegalStateException] {
      Similarity.deleteFromIvfIndex(dir, prep.limit(3))
    }
    e.getMessage should include("appendToIvfIndex")
    e.getMessage should include("compactIvfIndex")
    exists(s"$dir/tombstones") shouldBe false
    IndexDir.pending(s, dir) shouldBe Some("appendToIvfIndex")
  }
}
