package graft

import java.nio.file.Files

import graft.fm.SparkSessionSuite
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.Trigger

/** [[Profile]] charges work to job groups and, within a group, to
  * [[Phase]]s; work with no group to the open window; a stream's
  * micro-batch work and progress, from any session, to the window it
  * started in. Its reads are exact after [[Profile.settle]], with no
  * timed wait. */
class ProfileSuite extends SparkSessionSuite {

  // a shuffle: under AQE the map stage runs as a job of its own
  private def shuffle(): Unit =
    spark.range(1000).groupBy(col("id") % 7).count().collect().length shouldBe 7

  test("job groups get separate rows, phases separate phase rows") {
    val p = Profile.attach(spark)
    try {
      p.window("a", "group a")(shuffle())
      p.window("b", "group b") {
        Phase("one")(shuffle())
        Phase("two")(shuffle())
      }
    } finally p.close()
    for (g <- Seq("a", "b")) withClue(s"group $g: ") {
      val w = p.total(g)
      w.jobs should be >= 2L
      w.tasks should be > 0L
      w.cpuNs should be > 0L
    }
    p.phases("a").keySet shouldBe Set("group a")
    val b = p.phases("b")
    b.keySet shouldBe Set("one", "two")
    // each phase holds its AQE map-stage job beside the result job
    all(b.values.map(_.jobs)) should be >= 2L
    b.values.map(_.jobs).sum shouldBe p.total("b").jobs
  }

  test("work with no job group is charged to the open window") {
    val p = Profile.attach(spark)
    try p.window("open", "open") {
      val t = new Thread(() => {
        spark.sparkContext.clearJobGroup()
        spark.range(100).repartition(4).collect()
      })
      t.start()
      t.join()
    } finally p.close()
    val w = p.phases("open")("")
    w.jobs should be >= 1L
    w.tasks should be > 0L
    p.phases("open").keySet shouldBe Set("")
  }

  /** Runs, inside `p`'s window `stream`, a stream in a `newSession()`
    * scope over two parquet files, one micro-batch each. */
  private def streamInWindow(p: Profile): Unit = {
    val dir = Files.createTempDirectory("profile-stream").toString
    spark.range(100).write.parquet(s"$dir/in/a")
    spark.range(100, 200).write.parquet(s"$dir/in/b")
    val schema = spark.read.parquet(s"$dir/in/a").schema
    val scoped = spark.newSession()
    p.window("stream", "stream") {
      scoped.readStream.schema(schema).option("maxFilesPerTrigger", 1)
        .parquet(s"$dir/in/*")
        .writeStream.format("noop")
        .option("checkpointLocation", s"$dir/checkpoint")
        .trigger(Trigger.AvailableNow())
        .start().awaitTermination()
    }
  }

  test("a stream in a newSession() scope reports its micro-batches") {
    val p = Profile.attach(spark)
    try streamInWindow(p) finally p.close()
    val batches = p.batches("stream")
    batches.size should be >= 2
    all(batches.map(_.keySet)) should contain("triggerExecution")
  }

  test("a stream's micro-batch jobs are charged to the window it started in") {
    val p = Profile.attach(spark)
    try streamInWindow(p) finally p.close()
    val w = p.total("stream")
    w.jobs should be >= p.batches("stream").size.toLong
    w.tasks should be > 0L
    w.cpuNs should be > 0L
    p.phases("stream").keySet should contain("")
  }

  test("after settle every job of a finished action is counted") {
    val p = Profile.attach(spark)
    try {
      (1 to 5).foreach(_ => spark.range(10).collect())
      Profile.settle(spark)
      p.total(Profile.NoGroup).jobs shouldBe 5L
    } finally p.close()
  }

  test("driver gap lies between zero and the window's wall") {
    val p = Profile.attach(spark)
    try p.window("gap", "gap")(shuffle())
    finally p.close()
    val wall = p.wallS("gap")
    wall should be > 0.0
    p.total("gap").stages should be > 0L
    p.driverGapS("gap") should (be >= 0.0 and be <= wall)
  }
}
