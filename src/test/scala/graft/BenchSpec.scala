package graft

import org.apache.spark.sql.functions.{col, lit}
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
    val (runs, failed, _) = Bench.timeQueries(spark, "unused",
      Seq("q_ok" -> ok, "q_boom" -> boom, "q_late" -> lateBoom), passes = 2)
    assert(runs.length === 2)
    assert(runs.forall(_.keySet == Set("q_ok")), runs)
    assert(failed.keySet === Set("q_boom", "q_late"))
    assert(failed("q_boom").contains("boom"))
    assert(failed("q_late").contains("second pass"))
  }

  test("the codegen ledger counts the classes each pass compiles: a " +
    "query inlining a per-call literal compiles in every pass, a fixed " +
    "query only until its code is cached") {
    val fixed: Bench.Query = (s, _) => s.range(10).selectExpr("id * 3 + 1")
    // a long literal is inlined into the generated Java, so a new value
    // is new source and a cache miss
    val fresh: Bench.Query = (s, _) => s.range(10).select(col("id") + lit(System.nanoTime()))
    val (runs, failed, compiles) = Bench.timeQueries(spark, "unused",
      Seq("q_fixed" -> fixed, "q_fresh" -> fresh), passes = 3)
    assert(failed.isEmpty)
    assert(compiles.length === 3)
    assert(compiles.forall(_.keySet == runs.head.keySet), compiles)
    assert(compiles.tail.forall(_("q_fixed") == 0L), compiles)
    assert(compiles.forall(_("q_fresh") >= 1L), compiles)
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

  test("a prior seeded from the sf-only reference is marked ref_seeded " +
    "in the line; a cpu-keyed or absent prior is not") {
    val dir = java.nio.file.Files.createTempDirectory("bench-ref")
    val keyed = dir.resolve("bench_ref__data_sf0.1_c8.json")
    val sfOnly = dir.resolve("bench_ref__data_sf0.1.json")
    assert(Bench.regressionRef(dir, "/data/sf0.1", 8) === ((keyed, keyed, false)))
    java.nio.file.Files.writeString(sfOnly, "{}")
    assert(Bench.regressionRef(dir, "/data/sf0.1", 8) === ((keyed, sfOnly, true)))
    java.nio.file.Files.writeString(keyed, "{}")
    assert(Bench.regressionRef(dir, "/data/sf0.1", 8) === ((keyed, keyed, false)))

    val results = (1 to 400).map(i => f"q_query_$i%03d" -> i / 100.0).toMap
    val line = Bench.resultLine(results.values.sum, results, failed = 0,
      "\"regressed\":{},\"ref_seeded\":true,\"epoch\":1.0,\"sf\":\"/data/sf0.1\"")
    assert(line.length <= 1200, line.length)
    assert(JsonMethods.parse(line) \ "ref_seeded" === JBool(true))
  }
}
