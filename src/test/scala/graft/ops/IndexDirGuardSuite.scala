package graft.ops

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Source guard for the one index-directory lifecycle: [[IndexDir]] is
  * the only main-code file that names the directory conventions — the
  * marker, the format tag, the snapshot log, the tombstone log and the
  * compaction swap's sibling directories. Comments may mention them. */
class IndexDirGuardSuite extends AnyFunSuite {

  private val conventions =
    """_INTENT\b|_FORMAT\b|/manifests\b|/tombstones\b|/count_deltas\b|\.compact-(tmp|old)\b""".r

  private def sources: Seq[Path] = {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"$root not found from ${Paths.get("").toAbsolutePath}")
    val walk = Files.walk(root)
    try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
    finally walk.close()
  }

  /** Code lines naming a convention: scaladoc/block-comment lines and
    * `//` tails are skipped. */
  private def hits(f: Path): Seq[String] =
    Files.readAllLines(f).asScala.zipWithIndex.collect {
      case (line, i) if {
          val t = line.trim
          !t.startsWith("*") && !t.startsWith("/*") &&
            conventions.findFirstIn(line.split("//", 2)(0)).isDefined
        } => s"$f:${i + 1}: ${line.trim}"
    }.toSeq

  test("only IndexDir.scala names the index-directory conventions") {
    val (own, others) = sources.partition(_.getFileName.toString == "IndexDir.scala")
    assert(own.size == 1)
    assert(hits(own.head).nonEmpty, "the pattern no longer matches IndexDir itself")
    val offenders = others.flatMap(hits)
    if (offenders.nonEmpty) fail(offenders.mkString("\n", "\n", ""))
  }
}
