package graft

import org.apache.spark.sql.SparkSession

/** The ONE builder for a local graft session — Bench, Verify, the dev
  * tools and the test suites all start here, so every graft session
  * carries [[graft.functions.GraftExtensions]], the one table of the
  * engine's native SQL functions. The engine relies on that: its
  * operators call the native expressions (`fm_*`, `dot_product_q`,
  * `token_hash`, `normalize_text`, `binary_bytes`, `gram_run_stats`,
  * the sketches) and the AsOf planner strategy and optimizer rules
  * directly, with no interpreted fallback.
  */
object GraftSession {

  /** Local executor threads: `SPARK_GRAFT_CPUS` when set, else the
    * machine's cores capped at 32 (the target deployment is local[32]). */
  private def defaultCpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(math.min(32, Runtime.getRuntime.availableProcessors))

  def apply(cpus: Int = defaultCpus): SparkSession = {
    val spark = SparkSession.builder()
      .withExtensions(new graft.functions.GraftExtensions)
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      // If a fixture ships parquet TIMESTAMP(NANOS), surface it as a
      // long of nanos rather than failing; timestamp[us] fixtures
      // surface as timestamps. Either way Tables.normalizeEventTime
      // rewrites event time to LongType epoch-nanos at the scan.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      // The battery's ~150 distinct queries churn far past the
      // generated-class cache's default 100 entries, so every pass of
      // every query would regenerate + recompile + re-JIT its codegen
      // classes — the first materialization after such churn pays a
      // multi-cpu-second interpreter/C2 ramp (ta_repetition's split
      // stage: 4.9 cpu-s first-after-churn vs 0.3 warm). A cache sized
      // to the query population keeps compiled classes across passes —
      // the setting any long-lived driver serving a diverse query load
      // wants.
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
