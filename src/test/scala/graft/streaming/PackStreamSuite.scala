package graft.streaming

import java.nio.file.{Files, Paths}

import graft.fm.SparkSessionSuite
import org.apache.spark.sql.functions._

/** Incremental packing across TWO stream runs sharing one checkpoint and
  * one state log: run 1 packs the first three doc ranges; the corpus
  * then GROWS by two more ranges; run 2 resumes from the checkpoint and
  * packs only the new arrivals. Pins the two properties that make
  * streaming packing useful at all:
  *
  *   - PREFIX STABILITY: every assignment emitted by run 1 is still
  *     present bit-for-bit after run 2 — growing the corpus never
  *     repacks (rewrites) an already-emitted sequence;
  *   - ONE-PASS EQUALITY: the accumulated two-run output equals packing
  *     the full grown corpus in a single pass (the sequential per-shard
  *     driver reference).
  */
class PackStreamSuite extends SparkSessionSuite {

  private val B = 512L
  private val Shards = 4

  test("streaming packer extends a grown corpus without repacking") {
    val s = spark
    import s.implicits._
    val base = Files.createTempDirectory("graft-pack").toString
    val in = s"$base/in"
    Files.createDirectories(Paths.get(in))

    def text(i: Int): String = ("w " * (i % 97 + 3)).trim
    def stage(name: String, ids: Range, mtime: Long): Unit = {
      val tmp = s"$base/stage-$name"
      ids.map(i => (i.toLong, text(i))).toDF("doc_id", "text")
        .coalesce(1).write.mode("overwrite").parquet(tmp)
      val dest = Paths.get(in, s"$name.parquet")
      Files.list(Paths.get(tmp)).filter(_.toString.endsWith(".parquet"))
        .forEach(p => Files.move(p, dest))
      new java.io.File(dest.toString).setLastModified(mtime) shouldBe true
    }

    def collected(): Set[(Long, Long, Long, Long, Long, Long)] =
      s.read.parquet(s"$base/out")
        .select(col("shard"), col("seq_id"), col("doc_id"), col("seq_off"),
          col("span_len"), col("is_split"))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4), r.getLong(5))).toSet

    stage("b0", 0 until 40, 1000L)
    stage("b1", 40 until 80, 2000L)
    stage("b2", 80 until 120, 3000L)
    EventStreams.packDocsStream(s, in, s"$base/ckpt", s"$base/state",
      s"$base/out")
    val firstRun = collected()

    stage("b3", 120 until 160, 4000L)
    stage("b4", 160 until 200, 5000L)
    // Simulate the crash-replay corruption vector (review catch): a
    // prior attempt of run 2's first epoch (batch id 3) appended its
    // state rows but died before the checkpoint commit. The replay
    // must read offsets from STRICTLY EARLIER epochs — an unfiltered
    // latest-epoch read would pick these rows as `base` and emit
    // shifted assignments. The phantom rows carry exactly what that
    // failed attempt would have written: per-shard offsets after docs
    // 0..159 (same deterministic computation, same input).
    val phantomOff = (0 until 160).groupBy(_ % Shards).map { case (sh, ids) =>
      (sh.toLong, ids.map(i => text(i).split(" ").length.toLong + 1).sum, 3L)
    }.toSeq
    phantomOff.toDF("shard", "off", "epoch")
      .write.mode("append").parquet(s"$base/state")
    EventStreams.packDocsStream(s, in, s"$base/ckpt", s"$base/state",
      s"$base/out")
    val accumulated = collected()

    // prefix stability: nothing emitted by run 1 was rewritten
    firstRun.subsetOf(accumulated) shouldBe true
    accumulated.size should be > firstRun.size

    // one-pass equality: sequential per-shard packing of the FULL corpus
    val expected = scala.collection.mutable.Set
      .empty[(Long, Long, Long, Long, Long, Long)]
    val offsets = scala.collection.mutable.Map.empty[Long, Long]
    for (i <- 0 until 200) {
      val shard = i.toLong % Shards
      val nt = text(i).split(" ").length.toLong + 1
      val st = offsets.getOrElse(shard, 0L)
      val en = st + nt
      offsets(shard) = en
      val isSplit = if ((en - 1) / B > st / B) 1L else 0L
      var sq = st / B
      while (sq <= (en - 1) / B) {
        val begin = math.max(st, sq * B)
        val stop = math.min(en, (sq + 1) * B)
        expected += ((shard, sq, i.toLong, begin - sq * B, stop - begin,
          isSplit))
        sq += 1
      }
    }
    accumulated shouldBe expected.toSet
  }

  /** The r12 compaction verb (r11 verdict #2): N epochs grow the offset
    * log to one row per (shard, epoch); compaction must shrink it to
    * the ≤ 2·|shards| replay-covering set WITHOUT changing any view a
    * replay could read — pinned by (a) the per-shard latest offsets
    * for both nameable replay epochs (M and M+1) surviving the rewrite
    * bit-identically, and (b) a post-compaction crash-replay of the
    * next epoch still producing output equal to the sequential
    * one-pass reference. Also pins the lifecycle: a compaction that
    * died holding its marker wedges the stream until the verb re-runs. */
  test("pack state-log compaction keeps every replayable view") {
    val s = spark
    import s.implicits._
    val base = Files.createTempDirectory("graft-packc").toString
    val in = s"$base/in"
    Files.createDirectories(Paths.get(in))

    def text(i: Int): String = ("w " * (i % 53 + 3)).trim
    def stage(name: String, ids: Range, mtime: Long): Unit = {
      val tmp = s"$base/stage-$name"
      ids.map(i => (i.toLong, text(i))).toDF("doc_id", "text")
        .coalesce(1).write.mode("overwrite").parquet(tmp)
      val dest = Paths.get(in, s"$name.parquet")
      Files.list(Paths.get(tmp)).filter(_.toString.endsWith(".parquet"))
        .forEach(p => Files.move(p, dest))
      new java.io.File(dest.toString).setLastModified(mtime) shouldBe true
    }

    // N = 4 epochs
    (0 until 4).foreach(b =>
      stage(s"b$b", b * 40 until (b + 1) * 40, 1000L * (b + 1)))
    EventStreams.packDocsStream(s, in, s"$base/ckpt", s"$base/state",
      s"$base/out")

    def latestBelow(epoch: Long): Map[Long, Long] =
      s.read.schema("shard LONG, off LONG, epoch LONG")
        .parquet(s"$base/state").filter(col("epoch") < epoch)
        .groupBy(col("shard"))
        .agg(max(struct(col("epoch"), col("off"))).as("top"))
        .select(col("shard"), col("top.off"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

    val rowsBefore = s.read.parquet(s"$base/state").count()
    rowsBefore should be >= (4L * Shards)
    val maxEpoch = s.read.parquet(s"$base/state")
      .agg(max(col("epoch"))).head().getLong(0)
    val viewM = latestBelow(maxEpoch)      // a replay of the in-flight M
    val viewM1 = latestBelow(maxEpoch + 1) // the next committed epoch

    // a compaction that died holding its marker wedges the stream
    graft.ops.IndexDir.beginRepair(s, s"$base/state.lifecycle",
      "compactPackState")
    val wedged = intercept[IllegalStateException] {
      EventStreams.packDocsStream(s, in, s"$base/ckpt", s"$base/state",
        s"$base/out")
    }
    wedged.getMessage should include("compactPackState")

    EventStreams.compactPackState(s, s"$base/state")

    val rowsAfter = s.read.parquet(s"$base/state").count()
    rowsAfter should be <= (2L * Shards)
    latestBelow(maxEpoch) shouldBe viewM
    latestBelow(maxEpoch + 1) shouldBe viewM1

    // crash-replay vector across the compacted log: a failed attempt of
    // the NEXT epoch appended its state rows (the in-flight residue);
    // the replay filters them out and must re-derive identical output
    val phantom = (0 until 160).groupBy(_ % Shards).map { case (sh, ids) =>
      (sh.toLong, ids.map(i => text(i).split(" ").length.toLong + 1).sum,
        maxEpoch + 1)
    }.toSeq
    phantom.toDF("shard", "off", "epoch")
      .write.mode("append").parquet(s"$base/state")
    stage("b4", 160 until 200, 5000L)
    EventStreams.packDocsStream(s, in, s"$base/ckpt", s"$base/state",
      s"$base/out")

    // one-pass equality over the full corpus, across the compaction
    val expected = scala.collection.mutable.Set
      .empty[(Long, Long, Long, Long, Long, Long)]
    val offsets = scala.collection.mutable.Map.empty[Long, Long]
    for (i <- 0 until 200) {
      val shard = i.toLong % Shards
      val nt = text(i).split(" ").length.toLong + 1
      val st = offsets.getOrElse(shard, 0L)
      val en = st + nt
      offsets(shard) = en
      val isSplit = if ((en - 1) / B > st / B) 1L else 0L
      var sq = st / B
      while (sq <= (en - 1) / B) {
        val begin = math.max(st, sq * B)
        val stop = math.min(en, (sq + 1) * B)
        expected += ((shard, sq, i.toLong, begin - sq * B, stop - begin,
          isSplit))
        sq += 1
      }
    }
    val accumulated = s.read.parquet(s"$base/out")
      .select(col("shard"), col("seq_id"), col("doc_id"), col("seq_off"),
        col("span_len"), col("is_split"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSet
    accumulated shouldBe expected.toSet
  }
}
