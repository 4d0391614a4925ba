package graft

import org.scalatest.funsuite.AnyFunSuite

/** A per-row kernel is an entry of `graft.functions.Kernels`, which
  * reaches it through Spark's `StaticInvoke`: no hand-written Catalyst
  * expression generates its own Java in `src/main/scala`.
  */
class KernelCallGuardSpec extends AnyFunSuite {

  test("no hand-written expression code generation anywhere in src/main/scala") {
    val offenders = SourceGuard.offenders("""doGenCode|nullSafeCodeGen|defineCodeGen""".r)
    assert(offenders.isEmpty,
      s"add a graft.functions.Kernels entry instead: ${offenders.mkString(", ")}")
  }
}
