package graft

import org.scalatest.funsuite.AnyFunSuite

/** `Local.runTranches` is the one place the library starts a process: a
  * `ProcessBuilder` elsewhere in `src/main/scala` would be a second
  * child-JVM launcher with its own stdout, RSS and exit-code handling.
  */
class ChildJvmGuardSpec extends AnyFunSuite {

  test("no ProcessBuilder in src/main/scala outside graft/Local.scala") {
    val offenders = SourceGuard.offenders("""\bProcessBuilder\b""".r, "graft/Local.scala")
    assert(offenders.isEmpty,
      s"start child JVMs through graft.Local.runTranches instead: ${offenders.mkString(", ")}")
  }
}
