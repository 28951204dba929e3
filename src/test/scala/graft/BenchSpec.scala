package graft

import org.json4s._
import org.json4s.jackson.JsonMethods

/** The bench harness's accounting: a query that throws is a failure,
  * never a fast time, and the emitted line stays parseable.
  */
class BenchSpec extends SparkSpec {

  test("a query that throws in any pass is marked failed with its " +
    "error and is left out of every pass, so never of the min or total") {
    val ok: Bench.Query = (s, _) => s.range(10).toDF()
    val boom: Bench.Query = (_, _) => throw new IllegalStateException("boom")
    var calls = 0
    val lateBoom: Bench.Query = { (s, _) =>
      calls += 1
      if (calls == 2) throw new IllegalStateException("second pass")
      s.range(10).toDF()
    }
    val (runs, failed) = Bench.timeQueries(spark, "unused",
      Seq("q_ok" -> ok, "q_boom" -> boom, "q_late" -> lateBoom), passes = 2)
    assert(runs.length === 2)
    assert(runs.forall(_.keySet == Set("q_ok")), runs)
    assert(failed.keySet === Set("q_boom", "q_late"))
    assert(failed("q_boom").contains("boom"))
    assert(failed("q_late").contains("second pass"))
  }

  test("the result line carries the failure count and stays a " +
    "parseable object of at most 1200 chars when queries are dropped") {
    val results = (1 to 400).map(i => f"q_query_$i%03d" -> i / 100.0).toMap
    val line = Bench.resultLine(results.values.sum, results, failed = 2,
      "\"sf\":\"/data/sf0.01\"")
    assert(line.length <= 1200, line.length)
    val j = JsonMethods.parse(line)
    assert(j \ "failed" === JInt(2))
    assert(j \ "sf" === JString("/data/sf0.01"))
    val JInt(dropped) = j \ "dropped": @unchecked
    val JObject(shown) = j \ "queries": @unchecked
    assert(dropped.toInt + shown.size === 400)
    // the slowest queries are the ones that survive
    assert(shown.map(_._1).contains("q_query_400"))
  }
}
