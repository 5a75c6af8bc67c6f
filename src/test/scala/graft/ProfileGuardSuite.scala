package graft

/** Source guards for the one profiler: [[Profile]] is the only Spark or
  * streaming listener under src, and no code waits for listener delivery
  * by sleeping — it settles the bus ([[Profile.settle]]) instead. */
class ProfileGuardSuite extends SourceGuard {

  private def all = (sources("src/main/scala") ++ sources("src/test/scala"))
    .filterNot(_.getFileName.toString == "ProfileGuardSuite.scala")

  test("Profile.scala is the only Spark listener under src") {
    val listener = """(extends|new|with)\s+(SparkListener|StreamingQueryListener)\b""" +
      """|addSparkListener|streams\s*\.\s*addListener"""
    val (profile, rest) = all.partition(_.getFileName.toString == "Profile.scala")
    assertNone(offenders(rest, listener))
    assert(offenders(profile, listener).nonEmpty)
  }

  test("no listener wait sleeps") {
    val registers = """listenerManager\s*\.\s*register|Profile\s*\.\s*attach|addSparkListener"""
    val listens = all.filter(f => offenders(Seq(f), registers).nonEmpty)
    assert(listens.nonEmpty)
    assertNone(offenders(listens, """Thread\s*\.\s*sleep"""))
    assertNone(offenders(all, """<\s*deadline\b"""))
  }
}
