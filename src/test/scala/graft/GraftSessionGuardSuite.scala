package graft

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

/** Source guards for the "every graft session carries GraftExtensions"
  * decision: [[GraftSession]] is the one place a session is built, the
  * operators call the native expressions with no session-capability
  * probe, and library code has no alternate path chosen by an
  * environment variable (the `SPARK_GRAFT_*` deployment settings of
  * Bench, Verify, the tools and GraftSession are outside the library
  * packages). */
class GraftSessionGuardSuite extends SourceGuard {

  private val libraryPackages =
    """^package graft\.(fm|ops|functions|plans|relational|streaming)\b""".r

  private def inLibrary(f: Path): Boolean =
    Files.readAllLines(f).asScala.find(_.startsWith("package "))
      .exists(libraryPackages.findFirstIn(_).isDefined)

  test("library packages read no environment variables") {
    val lib = sources("src/main/scala").filter(inLibrary)
    assert(lib.nonEmpty)
    assertNone(offenders(lib, """sys\s*\.\s*env\b|System\s*\.\s*getenv\b"""))
  }

  test("no session-capability probe under src/main") {
    assertNone(offenders(sources("src/main/scala"), """catalog\s*\.\s*functionExists\b"""))
  }

  test("GraftSession.scala is the only SparkSession builder") {
    val all = sources("src/main/scala") ++ sources("src/test/scala")
    val builder = """SparkSession\s*\.\s*builder\b"""
    assertNone(offenders(all.filterNot(_.getFileName.toString == "GraftSession.scala"), builder))
    assert(offenders(sources("src/main/scala"), builder).size == 1)
  }

  /** Operators take their settings as arguments: no `spark.graft.*`
    * session key and no conf-reading helper remain. A test or query
    * that still set one would now be silently ignored, so none may be
    * named anywhere under src (this guard's own source excepted). */
  test("no removed spark.graft session key is named under src") {
    val all = (sources("src/main/scala") ++ sources("src/test/scala"))
      .filterNot(_.getFileName.toString == "GraftSessionGuardSuite.scala")
    assertNone(offenders(all, """spark\.graft\.|DispatchConf"""))
  }
}
