package graft

/** Drives the driver-facing contract surface exactly as the harness does. */
class EntrySpec extends SparkSpec {

  test("entry() flagship query returns rows on sf0.001") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every query has a DuckDB oracle (zero rows-only since round 4)") {
    val q = SparkEntry.queries.keySet
    val o = SparkEntry.oracleSql.keySet
    assert(o.subsetOf(q))
    // q26/q40 gained oracles via the engine-portable hash family; nothing
    // may silently drop back to a rows-only check
    assert((q -- o) == Set.empty[String])
  }

  test("oracle SQL map has no blank statements") {
    SparkEntry.oracleSql.values.foreach(s => assert(s.trim.nonEmpty))
  }

  test("bench short keys (qNN prefix) are unique across all registered queries") {
    // Bench's machine-parseable line keys each time by the query's qNN
    // prefix to stay inside the harness's ~2KB stdout tail window; two
    // queries sharing a prefix would silently collapse into one entry
    val keys = SparkEntry.queries.keySet.toSeq.map(_.takeWhile(_ != '_'))
    assert(keys.distinct.size == keys.size,
      s"duplicate short keys: ${keys.diff(keys.distinct).distinct}")
  }

  test("a GQuery's oracle is evaluated on first use, once") {
    import scala.util.{Failure, Success, Try}
    // a failing oracle (a missing model artifact) is kept too: later
    // accesses rethrow it instead of loading the artifact again
    val missing = new java.io.FileNotFoundException("xgb_ckd_model.json")
    Seq(Success(Some("SELECT 1")), Failure(missing)).foreach { outcome =>
      var evaluated = 0
      val q = graft.core.GQuery((s, _) => s.emptyDataFrame,
        { evaluated += 1; outcome.get })
      assert(evaluated == 0)
      assert(Try(q.oracle) == outcome && Try(q.oracle) == outcome)
      assert(evaluated == 1)
    }
  }
}
