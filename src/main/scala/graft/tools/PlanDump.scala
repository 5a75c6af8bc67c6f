package graft.tools

/** Dev tool: dump `explain("formatted")` for selected declared queries
  * to `<outDir>/<name>.txt` — the optimization rounds' plan-evidence
  * artifact (plans/rNN/{before,after}/<query>.txt). Not part of the
  * driver contract.
  *
  * Usage: runMain graft.tools.PlanDump <sfDir> <outDir> [nameRegex]
  *
  * Prepares run first (same staging rule as Bench/Verify), so plans of
  * index-lifecycle queries reflect staged state. Queries whose fn body
  * executes eagerly (ingest verbs, pinned intermediates) surface those
  * stages as materialized leaves — the remaining plan tail is exactly
  * what executes inside the timed region.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val only = args.lift(2).map(_.r)
    val spark = graft.GraftSession()
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    val selected = graft.SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.forall(_.findFirstIn(n).isDefined))
    selected.foreach { name =>
      graft.InternalCaches.releaseAll()
      spark.catalog.clearCache()
      graft.SparkEntry.prepares.get(name)
        .foreach(p => try p(spark, sfDir) catch {
          case e: Throwable =>
            System.err.println(s"[plandump] prepare($name) failed: ${e.getMessage}")
        })
      try {
        val df = graft.SparkEntry.queries(name)(spark, sfDir)
        val txt = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        java.nio.file.Files.write(
          java.nio.file.Paths.get(outDir, s"$name.txt"),
          txt.getBytes("UTF-8"))
        println(s"[plandump] wrote $name")
      } catch {
        case e: Throwable =>
          System.err.println(s"[plandump] $name failed: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
