package graft.functions

import graft.fm.SparkSessionSuite
import org.apache.spark.sql.functions._

class TokenHashSuite extends SparkSessionSuite {

  /** The native expression must be value-identical to the reference
    * HOF construction below (ascii over per-character substr — the
    * fold the DuckDB twins express), including the empty string and
    * multi-char ASCII tokens of every length the corpus produces. */
  test("token_hash equals the ascii/substr/fold construction") {
    val s = spark
    import s.implicits._
    val rng = new scala.util.Random(7)
    val toks = Seq("") ++ Seq.fill(500) {
      val n = rng.nextInt(24)
      (0 until n).map(_ => (32 + rng.nextInt(95)).toChar).mkString
    }
    // scalatest Matchers also defines `length`; qualify Spark's.
    val len = org.apache.spark.sql.functions.length(col("tok"))
    val df = toks.toDF("tok").select(
      col("tok"),
      expr("token_hash(tok)").as("native"),
      when(len === 0, lit(0L)).otherwise(
        aggregate(
          transform(sequence(lit(1), len),
            i => ascii(col("tok").substr(i, lit(1))).cast("long")),
          lit(0L),
          (h, c) => (h * 131 + c) % 1000000007L)).as("hof"))
    val bad = df.filter(col("native") =!= col("hof")).collect()
    withClue(bad.take(5).mkString("; ")) { bad.length shouldBe 0 }
  }

  test("token_hash null and type behavior") {
    val s = spark
    import s.implicits._
    val df = Seq(Some("abc"), None).toDF("tok")
      .select(expr("token_hash(tok)").as("h"))
    val got = df.collect().map(r => if (r.isNullAt(0)) None else Some(r.getLong(0)))
    got.count(_.isEmpty) shouldBe 1
    got.count(_.isDefined) shouldBe 1
  }
}
