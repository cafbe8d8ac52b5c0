package graft

/** [[Bench.measure]] on synthetic queries (no testdata): a query's
  * listener readout, and a throwing query reported as an error only.
  */
class BenchSpec extends SparkSpec {
  test("measure: listener metrics per query; a failing query is an error, not a timing") {
    val queries: Seq[(String, Bench.Query)] = Seq(
      "boom" -> ((_, _) => throw new IllegalStateException("boom")),
      "range_agg" -> ((s, _) => s.range(1000).selectExpr("id % 7 AS k").groupBy("k").count()))
    val results = Bench.measure(spark, "unused", 2, queries)
    val byName = results.toMap
    byName("range_agg") match {
      case Right((sec, m)) =>
        assert(sec > 0)
        assert(m.jobs >= 1 && m.stages >= 1 && m.tasks >= 1, m)
      case Left(err) => fail(err)
    }
    assert(byName("boom") == Left("IllegalStateException: boom"))

    val json = Bench.fullJson(results, "unused", 2, "", "")
    val (timings, rest) = json.splitAt(json.indexOf(""""errors":"""))
    assert(timings.contains(""""range_agg":""") && !timings.contains("boom"), timings)
    assert(rest.startsWith(""""errors":{"boom":"IllegalStateException: boom"},"n_err":1,"""), rest)
    assert(rest.contains(""""metrics":{"range_agg":{"jobs":"""), rest)
    assert(!rest.contains(""""boom":{"jobs""""), rest)
  }
}
