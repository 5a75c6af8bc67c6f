package graft.tools

import org.apache.spark.sql.streaming.StreamingQueryListener

/** Dev-only streaming profiler (r17 verdict #4: "measure what a batch
  * actually spends before touching plans"): runs one declared
  * streaming query end-to-end and prints, per micro-batch, the
  * driver's own durationMs breakdown (triggerExecution = total;
  * addBatch = the batch's plan execution; the rest — getBatch,
  * latestOffset, queryPlanning, walCommit, commitOffsets — is
  * harness: offset-log fsyncs and per-batch re-planning). Not part of
  * the driver contract. */
object StreamProfile {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val spark = graft.GraftSession()

    val progress = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(
          e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(
          e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        import scala.jdk.CollectionConverters._
        val d = p.durationMs.asScala.toSeq.sortBy(-_._2)
          .map { case (k, v) => s"$k=$v" }.mkString(" ")
        progress.add(
          f"batch ${p.batchId}%3d rows=${p.numInputRows}%6d  $d")
      }
      override def onQueryTerminated(
          e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    })

    graft.SparkEntry.prepares.get(name).foreach(p => p(spark, sfDir))
    val t0 = System.nanoTime()
    graft.SparkEntry.queries(name)(spark, sfDir)
      .write.mode("overwrite").format("noop").save()
    val dt = (System.nanoTime() - t0) / 1e9
    Thread.sleep(1500)
    println(f"== $name%s: ${dt}%.2f s total")
    import scala.jdk.CollectionConverters._
    progress.asScala.foreach(println)
    spark.stop()
  }
}
