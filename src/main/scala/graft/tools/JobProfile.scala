package graft.tools

import org.apache.spark.scheduler._

/** Dev-only job profiler: runs one declared query end-to-end (prepare +
  * query fn + noop materialization) and prints every Spark job's
  * wall-time, task count, and its [[graft.Phase]] description — or,
  * outside any phase, its first-stage callsite — the "count jobs per
  * verb" measurement the r17 verdict asked for on the ingest lifecycle
  * verbs (guide §1). Not part of the driver contract. */
object JobProfile {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    // optional 3rd arg: a regex of queries to run UNTIMED first — the
    // "battery conditioning" reproduction for session-age-sensitive
    // cpu (r17 verdict #3: ta_repetition's cpu is 1.3 solo / 8.8 in
    // the full battery at local[32], and only a conditioned session
    // reproduces it)
    val warm = args.lift(2).map(_.r)
    val reps = args.lift(3).map(_.toInt).getOrElse(1)
    val spark = graft.GraftSession()

    case class J(id: Int, var start: Long = 0L, var end: Long = 0L,
      var tasks: Int = 0, var site: String = "")
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, J]()
    val stageTasks = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
    val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val j = J(e.jobId, e.time)
        // AQE stage jobs inherit the description, while their callsite
        // names Spark's executor pool
        j.site = Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse(e.stageInfos.headOption.map(_.details.linesIterator
            .filter(l => l.contains("graft") && !l.contains("JobProfile"))
            .take(1).mkString).getOrElse(""))
        if (j.site.isEmpty)
          j.site = e.stageInfos.headOption.map(_.name).getOrElse("")
        jobs.put(e.jobId, j)
        e.stageIds.foreach(s => stageJob.put(s, e.jobId))
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        Option(stageJob.get(e.stageId)).foreach(jid =>
          Option(jobs.get(jid)).foreach(j => j.synchronized { j.tasks += 1 }))
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        Option(jobs.get(e.jobId)).foreach(_.end = e.time)
    })

    // battery conditioning (untimed): run the warm set twice, with the
    // bench's own per-query housekeeping
    warm.foreach { re =>
      val ws = graft.SparkEntry.queries.keys.toSeq.sorted
        .filter(n => re.findFirstIn(n).isDefined && n != name)
      for (pass <- 1 to 2; w <- ws) {
        graft.InternalCaches.releaseAll()
        spark.catalog.clearCache()
        graft.SparkEntry.prepares.get(w).foreach(p =>
          try p(spark, sfDir) catch { case _: Throwable => () })
        try graft.SparkEntry.queries(w)(spark, sfDir)
          .write.mode("overwrite").format("noop").save()
        catch { case _: Throwable => () }
      }
      graft.InternalCaches.releaseAll()
      spark.catalog.clearCache()
      System.err.println(s"[profile] conditioned with ${ws.size} queries x2")
    }

    // per-stage task metrics for the TARGET query's jobs
    val stageCpu = new java.util.concurrent.ConcurrentHashMap[
      Int, java.util.concurrent.atomic.AtomicLong]()
    val stageRun = new java.util.concurrent.ConcurrentHashMap[
      Int, java.util.concurrent.atomic.AtomicLong]()
    val stageGc = new java.util.concurrent.ConcurrentHashMap[
      Int, java.util.concurrent.atomic.AtomicLong]()
    val stageName = new java.util.concurrent.ConcurrentHashMap[Int, String]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        stageName.put(e.stageInfo.stageId,
          e.stageInfo.name.take(60) + " [" + e.stageInfo.details.linesIterator
            .filter(_.contains("graft")).take(1).mkString.trim.take(60) + "]")
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        val m = e.taskMetrics
        if (m != null) {
          stageCpu.computeIfAbsent(e.stageId,
            _ => new java.util.concurrent.atomic.AtomicLong)
            .addAndGet(m.executorCpuTime)
          stageRun.computeIfAbsent(e.stageId,
            _ => new java.util.concurrent.atomic.AtomicLong)
            .addAndGet(m.executorRunTime)
          stageGc.computeIfAbsent(e.stageId,
            _ => new java.util.concurrent.atomic.AtomicLong)
            .addAndGet(m.jvmGCTime)
        }
      }
    })

    // prepare (untimed in the bench) — run it, then mark the boundary
    graft.SparkEntry.prepares.get(name).foreach(p => p(spark, sfDir))
    val boundary = jobs.size()
    System.err.println(s"[profile] prepare ran ${boundary} jobs")
    val t0 = System.nanoTime()
    for (_ <- 1 to reps) {
      graft.InternalCaches.releaseAll()
      spark.catalog.clearCache()
      graft.SparkEntry.queries(name)(spark, sfDir)
        .write.mode("overwrite").format("noop").save()
    }
    val dt = (System.nanoTime() - t0) / 1e9 / reps
    Thread.sleep(1000)
    import scala.jdk.CollectionConverters._
    val rows = jobs.values.asScala.toSeq.sortBy(_.id)
    println(f"== $name%s: ${dt}%.2f s, ${rows.size - boundary}%d timed jobs " +
      f"(+$boundary%d prepare jobs)")
    rows.foreach { j =>
      val d = (j.end - j.start) / 1000.0
      val tag = if (j.id < boundary) "prep " else "query"
      println(f"  $tag job ${j.id}%3d ${d}%7.3f s  ${j.tasks}%4d tasks  ${j.site.trim.take(110)}")
    }
    println("-- per-stage cpu/run (timed target only):")
    stageCpu.asScala.toSeq.sortBy(_._1).foreach { case (sid, cpu) =>
      val run = Option(stageRun.get(sid)).map(_.get).getOrElse(0L)
      val gc = Option(stageGc.get(sid)).map(_.get).getOrElse(0L)
      println(f"  stage $sid%4d cpu ${cpu.get / 1e9}%7.3f s  run ${run / 1e3}%8.3f s  gc ${gc / 1e3}%6.3f s  " +
        stageName.getOrDefault(sid, ""))
    }
    spark.stop()
  }
}
