package graft

import org.scalatest.funsuite.AnyFunSuite

/** `ScratchDirs` is the one place that knows where temporary state lives:
  * a `/tmp` literal or a JDK temp dir elsewhere in `src/main/scala` would
  * be scratch that outlives its JVM or escapes the exit hook.
  */
class ScratchPathGuardSpec extends AnyFunSuite {

  test("no /tmp path or JDK temp dir in src/main/scala outside graft/ScratchDirs.scala") {
    val offenders = SourceGuard.offenders(
      """"/tmp|java\.io\.tmpdir|createTempDirectory|createTempFile""".r,
      "graft/ScratchDirs.scala")
    assert(offenders.isEmpty,
      s"take scratch paths from graft.ScratchDirs instead: ${offenders.mkString(", ")}")
  }
}
