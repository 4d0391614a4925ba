package graft.plans

import org.scalatest.funsuite.AnyFunSuite

/** Product code reads plan shape from the tree through `PlanInspect`,
  * never from printed plan text: a regex over the printed plan counts a
  * cached subtree at every scan site and matches substrings by accident.
  * Only `tools/PlanSnap.scala`, which writes formatted plans for people to
  * read, may render one.
  */
class PlanTextGuardSpec extends AnyFunSuite {

  test("no printed-plan checks in src/main/scala outside graft/tools/PlanSnap.scala") {
    val offenders = graft.SourceGuard.offenders(
      """executedPlan\s*\.\s*toString|\bexplainString\b|\btreeString\b""".r, "graft/tools/PlanSnap.scala")
    assert(offenders.isEmpty,
      s"inspect the plan tree with graft.plans.PlanInspect instead: ${offenders.mkString(", ")}")
  }
}
