package graft

import org.scalatest.funsuite.AnyFunSuite

/** A `spark.graft.*` session conf is a knob every query built in that
  * session sees, set by whoever ran last. The one left is TopKPerKey's
  * partial-flush threshold; a choice that belongs to one query (like the
  * sketch tier of the `*s` rows) is an argument of that query instead.
  */
class SessionConfGuardSpec extends AnyFunSuite {

  test("no spark.graft session conf in src/main/scala outside plans/TopKPerKey.scala") {
    val offenders = SourceGuard.offenders("\"spark\\.graft\\.".r, "plans/TopKPerKey.scala")
    assert(offenders.isEmpty,
      s"pass the choice as an argument instead of a session conf: ${offenders.mkString(", ")}")
  }
}
