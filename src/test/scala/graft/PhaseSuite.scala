package graft

import graft.fm.SparkSessionSuite
import org.apache.spark.sql.functions.col

/** [[Phase]] names every job its body submits, AQE stage jobs included,
  * and hands the caller's own description back afterwards. */
class PhaseSuite extends SparkSessionSuite {

  private val descKey = "spark.job.description"

  test("a phase tags its body's jobs and restores the caller's description") {
    val sc = spark.sparkContext
    val p = Profile.attach(spark)
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
    } finally {
      sc.setJobDescription(null)
      p.close()
    }
    val jobs = p.phases(Profile.NoGroup)
    jobs.keySet shouldBe Set("inner")
    jobs("inner").jobs should be >= 2L
  }
}
