package graft

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graftshim.Shim
import org.apache.spark.sql.streaming.StreamingQueryListener.{QueryProgressEvent, QueryStartedEvent, QueryTerminatedEvent}

/** The one Spark profiler. A listener that charges every job, stage and
  * task to the job group that submitted it and, within the group, to
  * the job's description — the [[Phase]] tag, `""` when there is none.
  * Work submitted with no job group goes to the open [[window]]'s group
  * ([[Profile.NoGroup]] outside any window). A stream's micro-batches
  * run under job group = its runId; they and the `durationMs` of each
  * micro-batch go to the group that was open when the stream started,
  * under phase `""` unless a [[Phase]] inside the batch names one.
  * Stream events reach this listener from every session's streams,
  * `newSession()` scopes included.
  *
  * Nothing attaches a profile by default; a session that does not
  * profile pays nothing. The listener bus is asynchronous: read a
  * profile after [[Profile.settle]] (a window settles on both edges). */
final class Profile private (sc: SparkContext) extends SparkListener {
  import Profile._

  // The bus calls one listener from one thread; reads take the same lock.
  private val work = mutable.Map.empty[(String, String), Work]
  private val stageKey = mutable.Map.empty[Int, (String, String)]
  private val jobStages = mutable.Map.empty[Int, ((String, String), Seq[Int])]
  private val submitted = mutable.Set.empty[Int]
  private val windows = mutable.Map.empty[String, Vector[(Long, Long)]]
    .withDefaultValue(Vector.empty)
  private val progress = mutable.Map.empty[String, Vector[Map[String, Long]]]
    .withDefaultValue(Vector.empty)
  // runId of each running stream → the group open when it started
  private val streams = mutable.Map.empty[String, String]
  @volatile private var open = NoGroup

  private def workOf(key: (String, String)): Work =
    work.getOrElseUpdate(key, new Work)
  private def stageWork(stageId: Int): Work =
    workOf(stageKey.getOrElse(stageId, (open, "")))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
    val group = prop("spark.jobGroup.id").getOrElse(open)
    val description = prop("spark.job.description").getOrElse("")
    val key = streams.get(group) match {
      // Spark's own micro-batch description names the runId
      case Some(g) => (g, if (description.contains(group)) "" else description)
      case None => (group, description)
    }
    e.stageIds.foreach(stageKey(_) = key)
    jobStages(e.jobId) = (key, e.stageIds)
    workOf(key).jobs += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStages.remove(e.jobId).foreach { case (key, sids) =>
      workOf(key).stagesSkipped += sids.count(!submitted.contains(_))
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    synchronized(submitted += e.stageInfo.stageId)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val info = e.stageInfo
    val w = stageWork(info.stageId)
    w.stages += 1
    for (s <- info.submissionTime; c <- info.completionTime) w.stageSpans += ((s, c))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val w = stageWork(e.stageId)
      w.tasks += 1
      w.cpuNs += m.executorCpuTime
      w.runMs += m.executorRunTime
      w.gcMs += m.jvmGCTime
      w.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      w.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      w.spill += m.diskBytesSpilled
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case q: QueryStartedEvent => synchronized(streams(q.runId.toString) = open)
    case q: QueryTerminatedEvent => synchronized(streams -= q.runId.toString)
    case p: QueryProgressEvent => synchronized {
      val d = p.progress.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
      progress(streams.getOrElse(p.progress.runId.toString, open)) :+= d
    }
    case _ =>
  }

  /** Runs `body` under job group `group` with `description`, `group`
    * open for work that carries no group, and records its wall-clock
    * window. The bus is settled on both edges, so late events of the
    * work before or after the window cannot land in it. */
  def window[T](group: String, description: String)(body: => T): T = {
    settle(sc)
    open = group
    sc.setJobGroup(group, description)
    val t0 = System.currentTimeMillis()
    try body
    finally {
      val t1 = System.currentTimeMillis()
      sc.clearJobGroup()
      synchronized(windows(group) :+= ((t0, t1)))
      settle(sc)
      open = NoGroup
    }
  }

  /** `group`'s work per job description. */
  def phases(group: String): Map[String, Work] = synchronized {
    work.collect { case ((g, d), w) if g == group => d -> (new Work += w) }.toMap
  }

  /** `group`'s work, all phases summed. */
  def total(group: String): Work = phases(group).values.foldLeft(new Work)(_ += _)

  /** Wall seconds of `group`'s windows. */
  def wallS(group: String): Double =
    synchronized(windows(group)).map { case (t0, t1) => t1 - t0 }.sum / 1e3

  /** Seconds of `group`'s windows during which none of its stages ran:
    * the driver's own time (planning, job launch, commit). */
  def driverGapS(group: String): Double = {
    val spans = total(group).stageSpans.toSeq
    synchronized(windows(group)).map { case (t0, t1) => uncoveredS(t0, t1, spans) }.sum
  }

  /** `durationMs` of each micro-batch of the streams started while
    * `group` was open, in arrival order. */
  def batches(group: String): Seq[Map[String, Long]] =
    synchronized(progress(group))

  /** Settles the bus and detaches. */
  def close(): Unit = {
    settle(sc)
    sc.removeSparkListener(this)
  }
}

object Profile {
  /** Spark work attributed to one profile key: a job group, or one
    * [[Phase]] inside it. */
  final class Work {
    var jobs, stages, stagesSkipped, tasks, cpuNs, runMs, gcMs = 0L
    var shuffleRead, shuffleWrite, spill = 0L
    /** (submission, completion) epoch ms of every completed stage. */
    val stageSpans: mutable.ArrayBuffer[(Long, Long)] = mutable.ArrayBuffer.empty

    def +=(o: Work): this.type = {
      jobs += o.jobs; stages += o.stages; stagesSkipped += o.stagesSkipped
      tasks += o.tasks; cpuNs += o.cpuNs; runMs += o.runMs; gcMs += o.gcMs
      shuffleRead += o.shuffleRead; shuffleWrite += o.shuffleWrite
      spill += o.spill; stageSpans ++= o.stageSpans
      this
    }
  }

  /** The group of work that runs outside any [[Profile.window]] with no
    * job group of its own. */
  val NoGroup = ""

  /** A profile of `spark`'s context from now on: the bus is settled
    * first, so no earlier event reaches it. */
  def attach(spark: SparkSession): Profile = {
    val p = new Profile(spark.sparkContext)
    settle(spark)
    spark.sparkContext.addSparkListener(p)
    p
  }

  /** Blocks until every event posted so far has reached every listener
    * (Spark's bounded wait: throws if the bus has not drained in 10 s). */
  def settle(spark: SparkSession): Unit = settle(spark.sparkContext)

  private def settle(sc: SparkContext): Unit = Shim.waitForListeners(sc)

  /** Seconds of `[t0, t1]` (epoch ms) not covered by any interval. */
  private def uncoveredS(t0: Long, t1: Long, intervals: Seq[(Long, Long)]): Double = {
    var (covered, reach) = (0L, t0)
    for ((s, e) <- intervals.map { case (s, e) => (s max t0, e min t1) }.sortBy(_._1)
         if e > s && e > reach) {
      covered += e - (s max reach)
      reach = e
    }
    (t1 - t0 - covered) / 1e3
  }
}
