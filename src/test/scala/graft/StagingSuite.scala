package graft

import java.io.File
import java.nio.file.Files
import org.apache.hadoop.fs.Path
import graft.fm.SparkSessionSuite

/** The staging reuse rule: a staged input is reused exactly while its
  * marker holds the current fingerprint of its source table, and
  * building a per-process input sweeps dead processes' directories. */
class StagingSuite extends SparkSessionSuite {

  private def writeTable(d: String, ids: Range): Unit = {
    val s = spark
    import s.implicits._
    ids.toDF("id").write.mode("overwrite").parquet(s"$d/t.parquet")
  }

  /** A shared input copying table `t` of its fixture, counting builds. */
  private def copyInput(name: String) = {
    var builds = 0
    val input = Staging.shared(name, "t") { (s, d, dir) =>
      builds += 1
      s.read.parquet(s"$d/t.parquet").write.parquet(dir)
    }
    (input, () => builds)
  }

  private def ids(dir: String): Set[Long] =
    spark.read.parquet(dir).collect().map(_.getInt(0).toLong).toSet

  private def remove(p: String): Unit = {
    val path = new Path(p)
    path.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(path, true)
  }

  test("a source table rewritten under the same fixture path restages") {
    val d = Files.createTempDirectory("staging-rewrite").toString
    val (input, builds) = copyInput("stagingsuite-rewrite")
    try {
      writeTable(d, 0 until 10)
      ids(input.ready(spark, d)) shouldBe (0L until 10L).toSet
      input.ready(spark, d)
      builds() shouldBe 1
      writeTable(d, 100 until 105)
      ids(input.ready(spark, d)) shouldBe (100L until 105L).toSet
      builds() shouldBe 2
    } finally remove(input.dir(d))
  }

  test("a directory with data but no marker (torn staging) restages") {
    val d = Files.createTempDirectory("staging-torn").toString
    val (input, builds) = copyInput("stagingsuite-torn")
    try {
      writeTable(d, 0 until 10)
      val dir = input.ready(spark, d)
      remove(s"$dir/_GRAFT_STAGED")
      val junk = new File(dir, "part-junk.parquet")
      Files.write(junk.toPath, Array[Byte](1, 2, 3))
      input.ready(spark, d) shouldBe dir
      builds() shouldBe 2
      junk.exists shouldBe false
      ids(dir) shouldBe (0L until 10L).toSet
    } finally remove(input.dir(d))
  }

  test("a fresh directory is reused without a rewrite") {
    val d = Files.createTempDirectory("staging-fresh").toString
    val (input, builds) = copyInput("stagingsuite-fresh")
    def mtimes(dir: String): Map[String, Long] =
      Option(new File(dir).listFiles()).getOrElse(Array.empty[File])
        .map(f => f.getName -> f.lastModified).toMap
    try {
      writeTable(d, 0 until 10)
      val dir = input.ready(spark, d)
      val before = mtimes(dir)
      before.keySet should contain("_GRAFT_STAGED")
      Thread.sleep(50) // a rewrite would now show as a later mtime
      input.ready(spark, d) shouldBe dir
      builds() shouldBe 1
      mtimes(dir) shouldBe before
    } finally remove(input.dir(d))
  }

  test("the sweep removes a dead process's directory and keeps live ones") {
    val tmp = System.getProperty("java.io.tmpdir")
    val self = ProcessHandle.current().pid()
    val live = ProcessHandle.current().parent().get().pid()
    val dead = Iterator.iterate(999999937L)(_ + 1)
      .find(p => !ProcessHandle.of(p).isPresent).get
    def planted(tag: String) = {
      val f = new File(tmp, s"graft-stagingsuite-$tag-x")
      f.mkdirs()
      new File(f, "data").createNewFile()
      f
    }
    val deadDir = planted(s"p$dead")
    val ownDir = planted(s"p$self")
    val liveDir = planted(s"p$live")
    val sharedDir = planted("shared")
    try {
      Staging.sweepDeadPidDirs(spark)
      deadDir.exists shouldBe false
      ownDir.exists shouldBe true
      liveDir.exists shouldBe true
      sharedDir.exists shouldBe true
      val roots = Staging.localRoots.map(_.getName).toSet
      roots should contain allOf (ownDir.getName, sharedDir.getName)
      roots should not contain liveDir.getName
    } finally Seq(deadDir, ownDir, liveDir, sharedDir).foreach(f => remove(f.getPath))
  }
}
