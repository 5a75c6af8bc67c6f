package graft

/** Benchmark main — driver contract: prints ONE JSON line
  * `{"metric":"total","value":N,"unit":"sec","queries":{...},"sf":...}`.
  *
  * Methodology: a warmup pass first runs a representative query mix so
  * JVM/JIT/codegen and the parquet footer caches are hot, then every
  * registered query is timed once per pass. Queries are materialized
  * through the noop sink — a bare count() would let Catalyst prune away
  * the very projections being measured.
  */
object Bench {
  /** Share of the session's cores the start load average may reach
    * before the run warns that its wall times are suspect. */
  private val LoadWarnShare = 0.5

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession()

    def materialize(name: String): Unit =
      SparkEntry.queries(name)(spark, sfDir)
        .write.mode("overwrite").format("noop").save()

    // Cold-IO robustness (r13 verdict #1): pre-touch every file a query
    // can scan — fixture parquet AND persisted index/state dirs — so a
    // cold page cache lands OUTSIDE the timed region. Re-touches after
    // each prepare are stat-only except for files the prepare rewrote.
    def preTouch(): Unit =
      PreTouch.touch(PreTouch.benchRoots(sfDir,
        spark.conf.get("spark.sql.warehouse.dir")))
    preTouch()

    // Warmup: one scan-agg, one multi-join, one array/window-heavy query.
    Seq("q1_pricing_summary", "q17_star_join", "q6_window_sums")
      .foreach(n => try materialize(n) catch { case _: Throwable => () })

    // Optional subset (regex on query name) for targeted re-measures.
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.r)
    val selected = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.forall(_.findFirstIn(n).isDefined))

    // Single-run timings are hostage to box load (r8: ~3× with zero code
    // change): SPARK_GRAFT_BENCH_RUNS=N records the per-query MEDIAN of
    // N passes, and the load averages are recorded either way. A typo or
    // a value <= 0 fails loudly rather than writing a record of -1.0s.
    val runs = sys.env.get("SPARK_GRAFT_BENCH_RUNS").map { raw =>
      val n = try raw.toInt catch {
        case _: NumberFormatException => throw new IllegalArgumentException(
          s"SPARK_GRAFT_BENCH_RUNS must be a positive integer, got '$raw'")
      }
      require(n >= 1, s"SPARK_GRAFT_BENCH_RUNS must be >= 1, got $n")
      n
    }.getOrElse(1)
    val loadStart = java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage
    val cores = spark.sparkContext.defaultParallelism
    if (loadStart > LoadWarnShare * cores)
      System.err.println(f"[bench] WARNING: load average $loadStart%.2f at start " +
        s"exceeds half of the session's $cores cores: wall times are suspect, " +
        "compare cpu_s")
    // Executor task CPU time per query (r15 verdict #2) is the REGRESSION
    // GATE — the scheduler queue cannot inflate it — and wall stays the
    // latency report. [[Profile]] attributes it BY JOB GROUP (r17): each
    // timed materialization runs in window "q:<name>#<pass>", each
    // prepare in "prep:<name>" (never read), and work that carries no
    // group is charged to the open window. Windows settle the listener
    // bus on both edges, so no query's late events smear into the next.
    //
    // Passes are INTERLEAVED (r14 verdict #1): the whole selected battery
    // runs once per pass, so a localized ~2-minute disturbance lands on
    // different queries in different passes and the median rejects it.
    val profile = Profile.attach(spark)
    val samples = scala.collection.mutable.Map.empty[String, List[Double]]
    val okByKey = scala.collection.mutable.Map.empty[String, Boolean]
    for (pass <- 1 to runs; name <- selected) {
      profile.window(s"prep:$name", s"prepare $name") {
        InternalCaches.releaseAll() // paired release of operator-internal persists
        spark.catalog.clearCache() // isolate queries from each other's state
        // A staging failure must be visible — the query would otherwise
        // fail (or time stale data) with no indication of the real cause.
        SparkEntry.prepares.get(name)
          .foreach(p => try p(spark, sfDir) catch {
            case e: Throwable =>
              System.err.println(s"[bench] prepare($name) failed: ${e.getMessage}")
          })
        preTouch() // pick up files the prepare staged/rewrote
      }
      val key = s"q:$name#$pass"
      val (ok, dt) = profile.window(key, name) {
        val t0 = System.nanoTime()
        val ok = try { materialize(name); true } catch { case _: Throwable => false }
        (ok, (System.nanoTime() - t0) / 1e9)
      }
      samples(name) = (if (ok) dt else -1.0) :: samples.getOrElse(name, Nil)
      okByKey(key) = ok
    }
    profile.close()
    def okKeys(name: String) = (1 to runs).map(p => s"q:$name#$p").filter(okByKey)
    val results = selected.map(n => n -> median(samples(n)))
    val cpuResults = selected.map(n => n -> median(okKeys(n).map(profile.total(_).cpuNs / 1e9)))
    val loadEnd = java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage
    System.err.println(f"[bench] pre-touched ${PreTouch.bytesRead / 1e6}%.0f" +
      " MB of input/state files outside the timed regions")
    // STDOUT CONTRACT (r17 verdict #1): the JSON is parsed from a
    // ~2,000-char stdout tail, so stdout gets ONE minimal line —
    // wall at 3 decimals, loads at 2, no cpu map — printed AFTER
    // spark.stop() so it is the last line (build.sbt also drops sbt's
    // success epilogue). The full-precision record (wall, cpu_s and the
    // profile) goes to BENCH_FULL.json, the round-over-round channel.
    def jmap(m: Seq[(String, Double)], fmt: Double => String) =
      obj(m.map { case (k, v) => k -> fmt(v) })
    val total = results.collect { case (_, v) if v >= 0 => v }.sum
    val cpuTotal = cpuResults.collect { case (_, v) if v >= 0 => v }.sum
    val line =
      s"""{"metric":"total","value":${f"$total%.3f"},"unit":"sec",""" +
      s""""queries":${jmap(results, v => f"$v%.3f")},""" +
      s""""cpu_s_total":${f"$cpuTotal%.3f"},""" +
      s""""sf":"$sfDir","runs_per_query":$runs,""" +
      s""""load_avg_start":${f"$loadStart%.2f"},""" +
      s""""load_avg_end":${f"$loadEnd%.2f"}}"""
    val fullLine =
      s"""{"metric":"total","value":$total,"unit":"sec",""" +
      s""""queries":${jmap(results, _.toString)},""" +
      s""""cpu_s":${jmap(cpuResults, _.toString)},"cpu_s_total":$cpuTotal,""" +
      s""""sf":"$sfDir","runs_per_query":$runs,""" +
      s""""load_avg_start":$loadStart,"load_avg_end":$loadEnd,""" +
      s""""profile":${obj(selected.map(n => n -> profileRecord(profile, okKeys(n))))}}"""
    // A SPARK_GRAFT_ONLY subset must never clobber the committed
    // full-bench record (r6): it defaults to BENCH_SUBSET.json.
    val defaultOut =
      if (only.isDefined) "BENCH_SUBSET.json" else "BENCH_FULL.json"
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", defaultOut)
    try {
      val out = java.nio.file.Paths.get(outPath)
      java.nio.file.Files.write(out, (fullLine + "\n").getBytes("UTF-8"))
    } catch {
      case e: Throwable =>
        System.err.println(s"[bench] could not write $outPath: ${e.getMessage}")
    }
    // stop BEFORE printing: the contract line must be the last stdout
    // line, and a shutdown hiccup must not be able to print after it
    try spark.stop() catch { case _: Throwable => () }
    println(line)
  }

  /** Median of the non-negative samples (the upper one of an even
    * count); -1.0 when there are none. */
  private def median(xs: Seq[Double]): Double = {
    val good = xs.filter(_ >= 0).sorted
    if (good.isEmpty) -1.0 else good(good.length / 2)
  }

  private def js(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  private def obj(fields: Iterable[(String, String)]): String =
    fields.map { case (k, v) => js(k) + ":" + v }.mkString("{", ",", "}")

  /** One query's profile over its successful timed windows `keys`: the
    * median of each figure, per-phase rows keyed by job description
    * (the query name for jobs outside any [[Phase]]), and each pass's
    * streaming micro-batch `durationMs` maps. */
  private def profileRecord(profile: Profile, keys: Seq[String]): String = {
    // per field, the median across passes; integral medians (counts,
    // bytes) print without a fraction
    def medians(rows: Seq[Seq[(String, Double)]]) = rows.headOption.toSeq.flatMap(
      _.indices.map { i =>
        val m = median(rows.map(_(i)._2))
        rows.head(i)._1 -> (if (m == math.rint(m)) m.toLong.toString else m.toString)
      })
    val byKey = keys.map(profile.phases)
    val phases = byKey.flatMap(_.keys).distinct.sorted.map { d =>
      d -> obj(medians(byKey.map { ps =>
        val w = ps.getOrElse(d, new Profile.Work)
        Seq("jobs" -> w.jobs.toDouble, "tasks" -> w.tasks.toDouble,
          "cpu_s" -> w.cpuNs / 1e9, "gc_s" -> w.gcMs / 1e3)
      }))
    }
    val totals = medians(keys.map { k =>
      val w = profile.total(k)
      Seq("jobs" -> w.jobs.toDouble, "stages" -> w.stages.toDouble,
        "stages_skipped" -> w.stagesSkipped.toDouble, "tasks" -> w.tasks.toDouble,
        "gc_s" -> w.gcMs / 1e3, "shuffle_read_bytes" -> w.shuffleRead.toDouble,
        "shuffle_write_bytes" -> w.shuffleWrite.toDouble,
        "spill_bytes" -> w.spill.toDouble, "driver_gap_s" -> profile.driverGapS(k))
    })
    val batches = keys.map(profile.batches(_).map(b =>
      obj(b.toSeq.sorted.map { case (k, v) => k -> v.toString })).mkString("[", ",", "]"))
    obj(totals ++ Seq("phases" -> obj(phases)) ++
      (if (batches.forall(_ == "[]")) Nil else Seq("batches" -> batches.mkString("[", ",", "]"))))
  }
}
