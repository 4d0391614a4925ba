package graft.ops

import org.scalatest.funsuite.AnyFunSuite

/** `Load.parquet` is the one parquet reader of the library: a bare
  * `read.parquet(` elsewhere in `src/main/scala` would infer its schema
  * with a Spark job on every call again. Reads that pass their own
  * reader options (`read.option(...).parquet`) are not matched.
  */
class ParquetReadPathSpec extends AnyFunSuite {

  test("no read.parquet( in src/main/scala outside graft/ops/Load.scala") {
    val offenders = graft.SourceGuard.offenders("""\bread\s*\.\s*parquet\s*\(""".r, "graft/ops/Load.scala")
    assert(offenders.isEmpty,
      s"read through graft.ops.Load.parquet instead: ${offenders.mkString(", ")}")
  }
}
