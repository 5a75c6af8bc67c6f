package perfbench

import java.io.File
import java.lang.management.{ManagementFactory, MemoryType}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** One timed op as the record keeps it. */
final case class OpRec(index: Int, span: String, label: String, wallS: Double,
    startMs: Long, endMs: Long, out: OpOut, error: String)

/** Benchmark harness: one JVM, one closed-loop client thread.
  *
  * {{{
  *   perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                  --cpus <n> --work <dir> --out <record.json>
  * }}}
  *
  * Set-up (data generation and staging, repeated [[SetupReps]] times,
  * then the warm-up) runs first; then whole op cycles run until
  * `--seconds` of op time have passed, each op followed by its untimed
  * per-op check; then the workload's output checks. The
  * record written to `--out` holds every end-to-end and per-layer
  * figure, the per-op log and, when tracing, the spans. */
object Main {
  /** Set-up repetitions: `setup_s` takes the median data generation and
    * staging time of these. */
  val SetupReps = 3

  /** The 13 figures kept for every op span. */
  val spanSuffixes: Seq[String] = Seq("calls", "wall_s", "jobs", "stages",
    "stages_skipped", "tasks", "task_cpu_s", "gc_s", "shuffle_read_bytes",
    "shuffle_write_bytes", "spill_bytes", "input_bytes", "driver_gap_s")
  val opSpans: Seq[String] = Seq("fm.fit", "fm.transform", "ops.ingest",
    "ops.probe", "ops.compact", "ops.query", "relational.query",
    "plans.query", "streaming.query")

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0 else xs.sorted.apply(math.min(xs.size - 1, (q * xs.size).toInt))

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = args("workload")
    val seed = args("seed").toLong
    val seconds = args("seconds").toDouble
    val trace = args("trace") == "1"
    val cpus = args("cpus").toInt
    val work = new File(args("work")).getAbsoluteFile
    work.mkdirs()

    val s0 = System.nanoTime()
    val spark = SparkSession.builder()
      .withExtensions(new graft.functions.GraftExtensions)
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .config("spark.sql.streaming.streamingQueryListeners", classOf[StreamProgress].getName)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - s0) / 1e9
    val tracer = new Tracer(spark)

    val wl = Workloads(workload, spark, seed, work)
    val reps = (1 to SetupReps).map { _ =>
      val g = tracer.phase("setup.datagen", "setup")(wl.datagen())
      val s = tracer.phase("setup.stage", "setup")(wl.stage())
      (g, s)
    }
    wl.restore()
    val warmS = tracer.phase("setup.warmup", "setup")(wl.warmup())
    val setupS = sessionS + median(reps.map { case (g, s) => g + s }) + warmS

    // ------------------------------------------------------ timed region --
    val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP).toSeq
    heapPools.foreach(_.resetPeakUsage())
    val ops = mutable.ArrayBuffer.empty[OpRec]
    var opTime = 0.0
    var cycle = 0
    while (cycle == 0 || opTime < seconds) {
      wl.cycle(cycle).foreach { op =>
        op.before()
        val i = ops.size
        var error = ""
        val (out, wall, t0, t1) = tracer.op(s"op$i", op.span, op.label, "timed", trace) {
          try op.run() catch {
            case e: Throwable =>
              error = s"${e.getClass.getName}: ${e.getMessage}"
              System.err.println(s"[perfbench] op $i (${op.span} ${op.label}) failed: $error")
              OpOut(0L, ok = false)
          }
        }
        opTime += wall
        val verified = out.ok && (try op.verify() catch {
          case e: Throwable =>
            error = s"${e.getClass.getName}: ${e.getMessage}"
            System.err.println(s"[perfbench] op $i (${op.span} ${op.label}) check failed: $error")
            false
        })
        ops += OpRec(i, op.span, op.label, wall, t0, t1, out.copy(ok = verified), error)
      }
      cycle += 1
    }
    val heapPeakMb = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0
    tracer.drain()

    // ------------------------------------------------------------ checks --
    val (checked, observed) =
      try wl.check() catch {
        case e: Throwable =>
          System.err.println(s"[perfbench] check failed: $e")
          (false, Map.empty[String, Double])
      }
    val attempted = ops.size
    val opFailed = ops.count(!_.out.ok)
    val failed = if (checked) opFailed else attempted

    // ----------------------------------------------------------- figures --
    def rowsOf(o: OpRec) =
      if (o.out.rows >= 0) o.out.rows else tracer.workOf(s"op${o.index}").inputRecords
    val lat = ops.map(_.wallS).toSeq
    val cpuS = ops.map(o => tracer.workOf(s"op${o.index}").cpuNs).sum / 1e9
    val endToEnd = mutable.LinkedHashMap[String, Double](
      "setup_s" -> setupS,
      "ops_per_s" -> attempted / opTime,
      "rows_per_s" -> ops.map(rowsOf).sum / opTime,
      "op_p50_s" -> median(lat),
      "cpu_s_per_op" -> cpuS / attempted)

    val perLayer = mutable.LinkedHashMap.empty[String, Double]
    val traced = if (trace) ops.toSeq else Seq.empty
    for (span <- opSpans) {
      val mine = traced.filter(_.span == span)
      val ws = mine.map(o => (o, tracer.workOf(s"op${o.index}")))
      def total(f: OpWork => Double) = ws.map { case (_, w) => f(w) }.sum
      val vals = Seq(mine.size.toDouble, mine.map(_.wallS).sum,
        total(_.jobs.toDouble), total(_.stages.toDouble), total(_.stagesSkipped.toDouble),
        total(_.tasks.toDouble), total(_.cpuNs / 1e9), total(_.gcMs / 1e3),
        total(_.shuffleRead.toDouble), total(_.shuffleWrite.toDouble),
        total(_.spill.toDouble), total(_.input.toDouble),
        ws.map { case (o, w) => Tracer.uncoveredS(o.startMs, o.endMs, w.stageSpans.toSeq) }.sum)
      spanSuffixes.zip(vals).foreach { case (sfx, v) => perLayer(s"$span.$sfx") = v }
    }
    perLayer("setup.datagen.wall_s") = median(reps.map(_._1))
    perLayer("setup.stage.wall_s") = median(reps.map(_._2))
    perLayer("setup.warmup.wall_s") = warmS
    val fitSteps = traced.filter(_.span == "fm.fit").map(_.out.extra.getOrElse("fm.steps", 0.0)).sum
    perLayer("fm.fit.jobs_per_step") =
      if (fitSteps > 0) perLayer("fm.fit.jobs") / fitSteps else 0.0
    perLayer("fm.fit.heldout_mse") = observed.getOrElse("fm.fit.heldout_mse", 0.0)
    val ingestCalls = perLayer("ops.ingest.calls")
    perLayer("ops.ingest.jobs_per_call") =
      if (ingestCalls > 0) perLayer("ops.ingest.jobs") / ingestCalls else 0.0
    val offered = ops.map(_.out.extra.getOrElse("offered", 0.0)).sum
    perLayer("ops.ingest.admitted_ratio") =
      if (offered > 0) ops.map(_.out.extra.getOrElse("admitted", 0.0)).sum / offered else 0.0
    val batches = traced.filter(_.span == "streaming.query")
      .flatMap(o => tracer.workOf(s"op${o.index}").batches).toSeq
    perLayer("streaming.batches") = batches.size.toDouble
    perLayer("streaming.batch_p50_s") = median(batches)
    perLayer("jvm.heap_peak_mb") = heapPeakMb

    val info = mutable.LinkedHashMap[String, Any](
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds,
      "trace" -> (if (trace) 1 else 0), "cpus" -> cpus, "cycles" -> cycle,
      "setup_reps" -> SetupReps, "session_s" -> sessionS,
      "attempted" -> attempted, "failed" -> failed,
      "failed_op_ratio" -> failed.toDouble / attempted,
      "op_failures" -> opFailed, "checks_passed" -> checked,
      "op_time_s" -> opTime, "task_cpu_s" -> cpuS,
      "op_p90_s" -> (if (attempted >= 100) quantile(lat, 0.9) else null),
      "op_p90_samples" -> attempted)
    val record = mutable.LinkedHashMap[String, Any](
      "info" -> info, "end_to_end" -> endToEnd, "per_layer" -> perLayer,
      "checks" -> observed,
      "ops" -> ops.map(o => mutable.LinkedHashMap[String, Any](
        "i" -> o.index, "span" -> o.span, "label" -> o.label, "wall_s" -> o.wallS,
        "rows" -> rowsOf(o), "ok" -> o.out.ok, "error" -> o.error)))
    if (trace) record("spans") = tracer.spans.map(s => mutable.LinkedHashMap[String, Any](
      "name" -> s.name, "detail" -> s.detail, "parent" -> s.parent,
      "start_ms" -> s.startMs, "end_ms" -> s.endMs, "wall_s" -> s.wallS))
    java.nio.file.Files.write(new File(args("out")).toPath,
      (Json(record) + "\n").getBytes("UTF-8"))

    tracer.close()
    spark.stop()
  }
}

/** Minimal JSON writer for the record (maps, sequences, strings,
  * numbers, booleans, null). */
object Json {
  def apply(v: Any): String = v match {
    case null => "null"
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number => n.toString
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }
}
