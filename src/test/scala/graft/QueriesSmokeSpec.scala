package graft

/** Every declared query must run at sf0.001 and produce rows + columns.
  * (Value-level correctness is the driver's DuckDB oracle — tools/check.py
  * locally.)
  */
class QueriesSmokeSpec extends SparkSpec {

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every oracle key has a query") {
    val missing = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(missing.isEmpty, s"oracles without queries: $missing")
  }

  test("each query row is registered once and is oracled or bench-only") {
    val names = SparkEntry.rows.map(_.name)
    assert(names.diff(names.distinct).isEmpty,
      s"names registered twice: ${names.diff(names.distinct)}")
    val views = SparkEntry.queries.keySet ++ SparkEntry.benchOnly.keySet
    assert(views == names.toSet && SparkEntry.queries.size +
      SparkEntry.benchOnly.size == names.size)
  }

  SparkEntry.queries.foreach { case (name, fn) =>
    test(s"$name runs and returns rows at sf0.001") {
      val df = fn(spark, sf)
      assert(df.columns.nonEmpty)
      assert(df.count() > 0, s"$name returned 0 rows")
    }
  }
}
