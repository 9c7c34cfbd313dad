package graft

import org.apache.spark.sql.functions.col

/** `Bench.timeQueries`: a query that fails stops the bench and is named,
  * instead of being timed as if it had run.
  */
class BenchSpec extends SparkSpec {

  test("a failing query fails the bench with an error naming it") {
    val queries: Map[String, Bench.Query] = Map(
      "fine" -> ((s, _) => s.range(10).toDF("x")),
      "broken" -> ((s, _) => s.range(10).select(col("no_such_column"))))
    val e = intercept[RuntimeException] {
      Bench.timeQueries(spark, "unused-dir", queries, reps = 1)
    }
    assert(e.getMessage.contains("query broken failed"), e.getMessage)
    assert(e.getMessage.contains("no_such_column"), e.getMessage)
    val ok = Bench.timeQueries(spark, "unused-dir", queries - "broken", reps = 2)
    assert(ok.keySet === Set("fine"))
    assert(ok("fine").size === 2)
  }
}
