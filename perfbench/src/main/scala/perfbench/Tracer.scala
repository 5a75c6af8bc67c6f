package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Work counters of one op, filled by [[Tracer]]'s listeners. */
final class OpWork {
  var jobs = 0L
  var stages = 0L
  var stagesSkipped = 0L
  var tasks = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleRead = 0L
  var shuffleWrite = 0L
  var spill = 0L
  var input = 0L
  /** Input records read by the op's tasks (counted traced or not). */
  var inputRecords = 0L
  /** (submission, completion) epoch-ms of every completed stage. */
  val stageSpans: mutable.ArrayBuffer[(Long, Long)] = mutable.ArrayBuffer.empty
  /** Streaming micro-batch durations in seconds. */
  val batches: mutable.ArrayBuffer[Double] = mutable.ArrayBuffer.empty
}

/** One timed call into the engine: its span name, wall-clock window and
  * the parent span it ran under. */
final case class Span(name: String, detail: String, parent: String,
    startMs: Long, endMs: Long, wallS: Double)

/** Attributes Spark work to ops from outside the engine.
  *
  * A job belongs to the op open when it starts: the harness is a single
  * closed-loop client, so exactly one op is open while engine work runs.
  * When an op is traced, the harness also sets a job group named after
  * it and the job group wins; streaming micro-batches run on their own
  * threads under their own group and fall back to the open op.
  *
  * Untraced ops only accumulate task CPU (the `cpu_s_per_op` channel) and
  * input records (query_mix rows).
  * Traced ops also count jobs, stages, tasks, GC, shuffle, spill and
  * input bytes, keep stage intervals for the driver-gap split, and see
  * streaming progress through a [[StreamingQueryListener]]. */
final class Tracer(spark: SparkSession) extends SparkListener {
  private val sc = spark.sparkContext
  @volatile private var openKey: String = "untimed"
  @volatile private var detailed = false
  private val work = new ConcurrentHashMap[String, OpWork]()
  private val stageKey = new ConcurrentHashMap[Int, String]()
  private val jobStages = new ConcurrentHashMap[Int, (String, Seq[Int])]()
  private val submitted = ConcurrentHashMap.newKeySet[Int]()
  val spans: mutable.ArrayBuffer[Span] = mutable.ArrayBuffer.empty

  sc.addSparkListener(this)
  Tracer.active = Some(this)

  private[perfbench] def onBatch(durationMs: Long): Unit =
    if (detailed) {
      val w = workOf(openKey)
      w.synchronized(w.batches += durationMs / 1000.0)
    }

  def workOf(key: String): OpWork = work.computeIfAbsent(key, _ => new OpWork)

  private def keyOfJob(e: SparkListenerJobStart): String =
    Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .filter(_.startsWith(Tracer.GroupPrefix))
      .map(_.stripPrefix(Tracer.GroupPrefix))
      .getOrElse(openKey)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val key = keyOfJob(e)
    e.stageIds.foreach(sid => stageKey.put(sid, key))
    if (detailed) {
      val w = workOf(key)
      w.synchronized(w.jobs += 1)
      jobStages.put(e.jobId, (key, e.stageIds))
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobStages.remove(e.jobId)).foreach { case (key, sids) =>
      val skipped = sids.count(sid => !submitted.contains(sid))
      val w = workOf(key)
      w.synchronized(w.stagesSkipped += skipped)
    }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    submitted.add(e.stageInfo.stageId)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    if (detailed) {
      val info = e.stageInfo
      val w = workOf(stageKey.getOrDefault(info.stageId, openKey))
      w.synchronized {
        w.stages += 1
        for (s <- info.submissionTime; c <- info.completionTime)
          w.stageSpans += ((s, c))
      }
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      val w = workOf(stageKey.getOrDefault(e.stageId, openKey))
      w.synchronized {
        w.cpuNs += m.executorCpuTime
        w.inputRecords += m.inputMetrics.recordsRead
        if (detailed) {
          w.tasks += 1
          w.gcMs += m.jvmGCTime
          w.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          w.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          w.spill += m.diskBytesSpilled
          w.input += m.inputMetrics.bytesRead
        }
      }
    }
  }

  /** Runs `body` as op `key` and returns its result, wall seconds and
    * epoch-ms window. Traced ops also run under a job group of their
    * own and record a span named `span` under `parent`. */
  def op[T](key: String, span: String, detail: String, parent: String,
      traced: Boolean)(body: => T): (T, Double, Long, Long) = {
    drain()
    detailed = traced
    openKey = key
    if (traced) sc.setJobGroup(Tracer.GroupPrefix + key, span)
    val t0 = System.currentTimeMillis()
    val n0 = System.nanoTime()
    try {
      val out = body
      val wall = (System.nanoTime() - n0) / 1e9
      val t1 = System.currentTimeMillis()
      if (traced) spans += Span(span, detail, parent, t0, t1, wall)
      (out, wall, t0, t1)
    } finally {
      if (traced) sc.clearJobGroup()
      drain()
      openKey = "untimed"
      detailed = false
    }
  }

  /** Times a phase that is not attributed Spark work (set-up), and
    * records it as a span. */
  def phase(span: String, parent: String)(body: => Unit): Double = {
    val t0 = System.currentTimeMillis()
    val n0 = System.nanoTime()
    body
    val wall = (System.nanoTime() - n0) / 1e9
    spans += Span(span, "", parent, t0, System.currentTimeMillis(), wall)
    wall
  }

  def drain(): Unit = ListenerBusDrain(sc)

  def close(): Unit = {
    drain()
    Tracer.active = None
    sc.removeSparkListener(this)
  }
}

object Tracer {
  val GroupPrefix = "perfbench:"
  @volatile private[perfbench] var active: Option[Tracer] = None

  /** Seconds of `[t0, t1]` (epoch ms) not covered by any interval. */
  def uncoveredS(t0: Long, t1: Long, intervals: Seq[(Long, Long)]): Double = {
    var covered = 0L
    var reach = t0
    intervals.map { case (s, e) => (math.max(s, t0), math.min(e, t1)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
      .foreach { case (s, e) =>
        if (e > reach) { covered += e - math.max(s, reach); reach = e }
      }
    math.max(0L, (t1 - t0) - covered) / 1000.0
  }
}

/** Streaming progress tap, registered for every session through
  * `spark.sql.streaming.streamingQueryListeners` — the engine runs some
  * streams on scoped sessions of its own, whose query managers a
  * listener added to the main session would never hear from. */
class StreamProgress extends StreamingQueryListener {
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    Tracer.active.foreach(_.onBatch(e.progress.batchDuration))
}
