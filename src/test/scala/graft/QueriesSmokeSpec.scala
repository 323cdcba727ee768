package graft

/** Every SparkEntry query must build and execute at sf0.001 — the
  * regression net behind the driver's DuckDB gate. */
class QueriesSmokeSpec extends SparkSpec {

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("oracleSql keys are a subset of queries") {
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
  }

  SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
    test(s"query $name executes at sf0.001") {
      // one query, one cache scope (the Verify/Bench contract): a
      // cache left materialized here would change the plans later
      // suites audit
      assert(CacheScope.withScope(fn(spark, sfDir).count()) >= 0)
    }
  }
}
