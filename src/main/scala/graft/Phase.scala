package graft

import org.apache.spark.sql.SparkSession

/** Names a phase of a multi-job operator: every Spark job submitted
  * while `body` runs carries `name` as its job description (the
  * `spark.job.description` local property), and the caller's own
  * description comes back afterwards, so phases nest. AQE stage jobs
  * capture the submitting thread's local properties, so they carry the
  * phase too — a profiler attributes work by description, not by stack
  * callsite (which names Spark's executor pool under AQE). */
object Phase {
  private val Key = "spark.job.description"

  def apply[T](name: String)(body: => T): T = {
    val sc = SparkSession.active.sparkContext
    val outer = sc.getLocalProperty(Key)
    sc.setJobDescription(name)
    try body
    finally sc.setLocalProperty(Key, outer)
  }
}
