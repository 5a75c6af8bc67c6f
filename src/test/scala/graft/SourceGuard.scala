package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Line-level source scans for the guard suites: each offending line is
  * reported as `file:line: text`. */
trait SourceGuard extends AnyFunSuite {

  protected def sources(dir: String): Seq[Path] = {
    val root = Paths.get(dir)
    assert(Files.isDirectory(root), s"$root not found from ${Paths.get("").toAbsolutePath}")
    val walk = Files.walk(root)
    try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
    finally walk.close()
  }

  protected def offenders(files: Seq[Path], pattern: String): Seq[String] = {
    val re = pattern.r
    files.flatMap { f =>
      Files.readAllLines(f).asScala.zipWithIndex.collect {
        case (line, i) if re.findFirstIn(line).isDefined => s"$f:${i + 1}: ${line.trim}"
      }
    }
  }

  protected def assertNone(hits: Seq[String]): Unit =
    if (hits.nonEmpty) fail(s"${hits.size} offending lines:" + hits.mkString("\n", "\n", ""))
}
