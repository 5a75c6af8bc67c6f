package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = GraftSession()
    new java.io.File(outDir).mkdirs()
    // Dev-time subsetting: SPARK_GRAFT_ONLY=<regex> runs matching queries
    // only (the driver leaves it unset and gets the full battery).
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.r)
    val selected = SparkEntry.queries.filter { case (name, _) =>
      only.forall(_.findFirstIn(name).isDefined)
    }
    selected.foreach { case (name, fn) =>
      try {
        SparkEntry.prepares.get(name).foreach(_(spark, sfDir))
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
      }
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        // drop any stale dump from an earlier run: a leftover parquet
        // would make the compare silently grade OLD code
        val stale = new org.apache.hadoop.fs.Path(s"$outDir/$name")
        stale.getFileSystem(spark.sparkContext.hadoopConfiguration)
          .delete(stale, true)
      }
      // Queries persist intermediates; drop them so no state leaks
      // across queries (memory pressure distorts later ones). The
      // registry drain is the library-consumer release path exercised
      // here too; clearCache sweeps whatever else a query pinned.
      InternalCaches.releaseAll()
      spark.catalog.clearCache()
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => only.forall(_.findFirstIn(k).isDefined) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
