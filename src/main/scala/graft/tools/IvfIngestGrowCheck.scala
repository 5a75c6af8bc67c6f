package graft.ops
// (lives under tools/ on disk; package graft.ops for access to the
// engine-internal arithmetic helpers the mirror must share)

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Dev-only STAGED-COMPARATOR check for `sim_ingest_grow` at fixture
  * scales the DuckDB oracle cannot reach (r16 verdict #3 / r17 verdict
  * #6: the transient SQL replay of the IVF ingest is O(queries × cell
  * × dims) and exceeds 100 GB at the 10× synth fixture, so 10× runs
  * were engine-only). The comparator recomputes the two-batch staged
  * admission through an INDEPENDENT route — a fresh index directory
  * per stage, one clean probe + one clean append each, no shared
  * mutated state — and compares the admitted (batch_no, vec_id) sets
  * against the declared query's persisted-lifecycle route (probe →
  * admit → append twice into ONE consumed staged directory). Centroids are route-invariant by construction:
  * both routes freeze the quantizer trained on the original corpus
  * (`saveIvfIndex` over the same prep; appends never retrain).
  *
  * Usage: runMain graft.ops.IvfIngestGrowCheck <sfDir>
  * Prints the admitted-set sizes and PASS/FAIL on exact set equality.
  * Not part of the driver contract. */
object IvfIngestGrowCheck {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val spark = graft.GraftSession()

    // ---- lifecycle route: the declared query, staged prepare included
    graft.SparkEntry.prepares("sim_ingest_grow")(spark, sfDir)
    val lifecycle = graft.SparkEntry.queries("sim_ingest_grow")(spark, sfDir)
      .collect().map(r => (r.getInt(0), r.getLong(1))).toSet
    graft.InternalCaches.releaseAll()
    spark.catalog.clearCache()

    // ---- comparator route: same batch construction (mirrors the
    // query fn, which mirrors the oracle CTEs), staged through FRESH
    // single-use directories
    def withNrm(df: DataFrame): DataFrame = df.withColumn("nrm",
      sqrt(greatest(Similarity.dot(col("v"), col("v")), lit(1.0))))
    val prep = Similarity.prepared(graft.Tables.embeddings(spark, sfDir))
      .localCheckpoint(true)
    val b1 = withNrm(prep.filter(col("vec_id") % 25 === 0)
      .select((col("vec_id") + 20000).as("vec_id"),
        transform(col("v"), x => x * 1.01 + 0.0001).as("v"))
      .unionAll(prep.filter(col("vec_id") % 25 === 5)
        .select((col("vec_id") + 30000).as("vec_id"),
          reverse(col("v")).as("v")))).localCheckpoint(true)
    val b2 = withNrm(prep.filter(col("vec_id") % 25 === 5)
      .select((col("vec_id") + 40000).as("vec_id"),
        transform(reverse(col("v")), x => x * 1.01 + 0.0001).as("v"))
      .unionAll(prep.filter(col("vec_id") % 25 === 10)
        .select((col("vec_id") + 50000).as("vec_id"),
          concat(slice(col("v"), lit(2), size(col("v")) - 1),
            array(element_at(col("v"), 1))).as("v")))).localCheckpoint(true)

    def freshCorpusDir(): String = {
      val dir = java.nio.file.Files
        .createTempDirectory("ivf-grow-check").toString
      Similarity.saveIvfIndex(prep, dir)
      dir
    }
    def admissions(dir: String, batch: DataFrame): DataFrame =
      batch.join(
        Similarity.topKFromIvfIndex(spark, dir, batch, k = 1,
            nprobe = Similarity.IvfNprobe)
          .filter(col("cos") >= 0.99)
          .select(col("query_id").as("vec_id")),
        Seq("vec_id"), "left_anti")

    // stage 1: probe b1 against a clean corpus-only index
    val adm1 = admissions(freshCorpusDir(), b1).localCheckpoint(true)
    // stage 2: probe b2 against a SECOND clean index holding
    // corpus ∪ adm1 (one append, frozen corpus-trained centroids)
    val dir2 = freshCorpusDir()
    Similarity.appendToIvfIndex(dir2, adm1)
    val adm2 = admissions(dir2, b2).localCheckpoint(true)
    val comparator =
      adm1.select(col("vec_id")).collect().map(r => (1, r.getLong(0))).toSet ++
      adm2.select(col("vec_id")).collect().map(r => (2, r.getLong(0))).toSet

    val missing = lifecycle -- comparator
    val extra = comparator -- lifecycle
    println(s"lifecycle admissions: ${lifecycle.size} " +
      s"(b1 ${lifecycle.count(_._1 == 1)}, b2 ${lifecycle.count(_._1 == 2)})")
    println(s"comparator admissions: ${comparator.size} " +
      s"(b1 ${comparator.count(_._1 == 1)}, b2 ${comparator.count(_._1 == 2)})")
    if (missing.isEmpty && extra.isEmpty)
      println(s"PASS sim_ingest_grow staged-comparator @ $sfDir")
    else {
      println(s"FAIL missing=${missing.take(10)} extra=${extra.take(10)}")
      spark.stop()
      sys.exit(1)
    }
    spark.stop()
  }
}
