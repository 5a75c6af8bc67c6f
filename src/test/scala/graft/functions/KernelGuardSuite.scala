package graft.functions

import graft.SourceGuard

/** Each native expression keeps its kernel in one Scala method, which
  * its `nullSafeEval` and its generated code both call: no loop is
  * written out a second time as Java inside a generated-code string. */
class KernelGuardSuite extends SourceGuard {

  test("no loop in a generated-code string under graft.functions") {
    assertNone(offenders(sources("src/main/scala/graft/functions"),
      """^\s*\|.*\b(for|while)\s*\("""))
  }
}
