package graft

import graft.fm.SparkSessionSuite
import org.apache.spark.sql.functions._

/** Where eager pins live (r17 verdict #5): without a checkpoint dir a
  * pin is `localCheckpoint(true)` — executor-local blocks, no lineage,
  * right for a single box but NOT executor-loss-safe on a cluster.
  * Once `SparkContext.setCheckpointDir` is set, pins go through
  * `Dataset.checkpoint(eager = true)` into that fault-tolerant dir.
  * Both paths must return the same rows and both must yield a
  * lineage-truncated frame. */
class PinningSuite extends SparkSessionSuite {

  private def pinnedRows(df: org.apache.spark.sql.DataFrame) =
    df.orderBy(col("id")).collect().map(r => (r.getLong(0), r.getLong(1)))

  test("pinEager local (default) and reliable paths return identical rows") {
    val src = spark.range(1000).select(col("id"),
      (col("id") * col("id") % 97).as("v"))
    val expected = pinnedRows(src)

    // before setCheckpointDir: a local pin, released by releaseAll
    assert(spark.sparkContext.getCheckpointDir.isEmpty,
      "precondition: no checkpoint dir set yet")
    val localPin = InternalCaches.pinEager(src)
    pinnedRows(localPin) shouldBe expected
    // lineage truncated: the pinned plan is a scan of materialized rows
    val localRdd = localPin.queryExecution.analyzed match {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd
      case other => fail(s"local pin is not a LogicalRDD:\n$other")
    }
    localRdd.getStorageLevel.isValid shouldBe true
    InternalCaches.releaseAll(blocking = true)
    localRdd.getStorageLevel.isValid shouldBe false

    // after setCheckpointDir: a reliable pin that writes checkpoint files
    val ckptDir = java.nio.file.Files
      .createTempDirectory("graft-pin-reliable")
    spark.sparkContext.setCheckpointDir(ckptDir.toString)
    try {
      val reliablePin = InternalCaches.pinEager(src)
      pinnedRows(reliablePin) shouldBe expected
      reliablePin.queryExecution.optimizedPlan.collectLeaves().toString should
        include("LogicalRDD")
      // the blocks live under the reliable checkpoint dir, not (only)
      // in executor-local storage — the executor-loss-safety property
      val files = {
        val s = java.nio.file.Files.walk(ckptDir)
        try s.filter(java.nio.file.Files.isRegularFile(_)).count()
        finally s.close()
      }
      assert(files > 0, "reliable pin wrote no checkpoint files")
    } finally {
      val s = java.nio.file.Files.walk(ckptDir)
      try s.sorted(java.util.Comparator.reverseOrder())
        .forEach(p => java.nio.file.Files.deleteIfExists(p))
      finally s.close()
    }
  }
}
