package graft

/** Source guards for the staging decision: [[Staging]] alone knows where
  * staged inputs live (tmpdir, per-process tags) and how they are marked,
  * and every query stages through it rather than through a public
  * `stage*` entry point of its own. */
class StagingGuardSuite extends SourceGuard {

  test("Staging.scala is the only file naming tmpdir, staging markers or pids") {
    val main = sources("src/main/scala")
      .filterNot(_.getFileName.toString == "Staging.scala")
    assert(main.nonEmpty)
    assertNone(offenders(main, """java\.io\.tmpdir|_PRISTINE|_GRAFT_STAGED|ProcessHandle"""))
  }

  test("no public stage* function under src/main") {
    assertNone(offenders(sources("src/main/scala"), """^\s*(final\s+)?def\s+stage[A-Z]"""))
  }
}
