package graft

import scala.jdk.CollectionConverters._

import graft.fm.SparkSessionSuite
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions.col

/** [[Phase]] names every job its body submits, AQE stage jobs included,
  * and hands the caller's own description back afterwards. */
class PhaseSuite extends SparkSessionSuite {

  private val descKey = "spark.job.description"

  test("a phase tags its body's jobs and restores the caller's description") {
    val sc = spark.sparkContext
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        seen.add(Option(e.properties).flatMap(p => Option(p.getProperty(descKey))).getOrElse("(none)"))
    }
    sc.addSparkListener(listener)
    sc.setJobDescription("outer")
    try {
      Phase("inner") {
        sc.getLocalProperty(descKey) shouldBe "inner"
        // a shuffle: under AQE the map stage runs as a job of its own
        spark.range(100).groupBy(col("id") % 7).count().collect().length shouldBe 7
      }
      sc.getLocalProperty(descKey) shouldBe "outer"
      an[IllegalStateException] should be thrownBy
        Phase("failing")(throw new IllegalStateException("body failed"))
      sc.getLocalProperty(descKey) shouldBe "outer"

      // the listener bus is async but ordered: wait for a marker job
      Phase("marker")(spark.range(1).collect())
      val deadline = System.currentTimeMillis + 10000
      while (!seen.contains("marker") && System.currentTimeMillis < deadline)
        Thread.sleep(50)
    } finally {
      sc.setJobDescription(null)
      sc.removeSparkListener(listener)
    }
    val jobs = seen.asScala.toSeq
    jobs.last shouldBe "marker"
    jobs.init.size should be >= 2
    all(jobs.init) shouldBe "inner"
  }
}
