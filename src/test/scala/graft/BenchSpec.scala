package graft

import org.scalatest.funsuite.AnyFunSuite

/** The fork-per-query bench protocol hinges on the parent parsing the
  * child JVM's detail line back out of mixed stdout — if the emit format
  * and the parse regex drift apart, every headline number silently becomes
  * the -1 "no result" sentinel. These cases lock the round-trip
  * (`Detail.json` → child stdout line → [[Bench.parseDetailLine]]),
  * including the optional task-metrics group added for the scale
  * rehearsal's shuffle profiles.
  */
class BenchSpec extends AnyFunSuite {

  private def emit(name: String, d: Bench.Detail): String =
    s"""{"query":"$name",${d.json.tail}"""

  test("round-trips a detail line with task metrics") {
    val d = Bench.Detail(11.428, Seq(4.765, 4.082, 2.285),
      Some(Bench.RunMetrics(123.4, 56.7, 0.0, 17.3, jobs = 19)))
    val parsed = Bench.parseDetailLine("a2_pivot",
      List("some spark log line", emit("a2_pivot", d), "trailing noise"))
    assert(parsed.contains(d))
  }

  test("round-trips a metrics-free line (failed child: times empty)") {
    val d = Bench.Detail(-1.0, Nil)
    assert(Bench.parseDetailLine("q1_pricing_summary",
      List(emit("q1_pricing_summary", d))).contains(d))
  }

  test("the LAST matching line wins over earlier partial output") {
    val stale = Bench.Detail(1.0, Seq(9.999, 9.999, 9.999))
    val fresh = Bench.Detail(2.0, Seq(1.111, 1.111, 1.111),
      Some(Bench.RunMetrics(1.0, 2.0, 3.0, 4.0)))
    val parsed = Bench.parseDetailLine("dd15_minhash_dedup",
      List(emit("dd15_minhash_dedup", stale),
        emit("dd15_minhash_dedup", fresh)))
    assert(parsed.contains(fresh))
  }

  test("another query's line does not match") {
    val d = Bench.Detail(1.0, Seq(0.5))
    assert(Bench.parseDetailLine("q6_revenue_delta",
      List(emit("q6_revenue_deltaX", d))).isEmpty)
  }

  test("round-trips gc/steal/iowait/cpu attribution arrays with metrics") {
    val d = Bench.Detail(5.2, Seq(1.5, 1.2, 1.1),
      Some(Bench.RunMetrics(10.0, 5.0, 0.0, 8.0)),
      gcSec = Seq(0.12, 0.034, 0.02), stealSec = Seq(0.0, 0.5, 0.0),
      iowaitSec = Seq(0.0, 12.35, 0.1), cpuSec = Seq(30.1, 28.0, 27.5))
    assert(Bench.parseDetailLine("ts21_ngram_novelty",
      List(emit("ts21_ngram_novelty", d))).contains(d))
    // gc/steal/iowait without cpu (the r11 intermediate form) parses
    val noCpu = d.copy(cpuSec = Nil)
    assert(Bench.parseDetailLine("ts21_ngram_novelty",
      List(emit("ts21_ngram_novelty", noCpu))).contains(noCpu))
    // pre-r11 lines (no attribution group) still parse: empty arrays
    val legacy = Bench.Detail(5.2, Seq(1.5), Some(
      Bench.RunMetrics(10.0, 5.0, 0.0, 8.0)))
    assert(Bench.parseDetailLine("a2_pivot",
      List(emit("a2_pivot", legacy))).contains(legacy))
    // gc/steal without iowait (the brief r11 intermediate form) parses
    val mid = Bench.Detail(5.2, Seq(1.5), None,
      gcSec = Seq(0.1), stealSec = Seq(0.2))
    assert(Bench.parseDetailLine("q6_revenue_delta",
      List(emit("q6_revenue_delta", mid))).contains(mid))
  }

  test("a grouped child's stdout parses per query, missing one is None") {
    // fork-per-group: one child emits several queries' lines interleaved
    // with logs; each parses independently, a killed-before-it-ran query
    // yields None (the parent substitutes the -1 sentinel)
    val a = Bench.Detail(3.0, Seq(1.5, 1.2, 1.1),
      Some(Bench.RunMetrics(1.0, 1.0, 0.0, 8.0)))
    val b = Bench.Detail(1.1, Seq(0.6, 0.5, 0.5))
    val out = List("spark warn", emit("a2_pivot", a), "noise",
      emit("x7_parse_dollars", b))
    assert(Bench.parseDetailLine("a2_pivot", out).contains(a))
    assert(Bench.parseDetailLine("x7_parse_dollars", out).contains(b))
    assert(Bench.parseDetailLine("j1_inner_join", out).isEmpty)
  }

  test("every scale-rehearsal query is a real catalog headline") {
    ScaleBench.scaleQueries.foreach { q =>
      assert(Bench.headlineQueries.contains(q), s"$q not in headline set")
    }
    // Bench and PlanAudit run the headline list as is: a misspelt name
    // must fail here, not drop out of the bench
    Bench.headlineQueries.foreach { q =>
      assert(SparkEntry.queries.contains(q), s"headline $q not in the catalog")
    }
  }

  test("the registry: unique names, 244 queries, 215 oracles") {
    val spec = QuerySpec("x", (s, _) => s.emptyDataFrame)
    assert(SparkEntry.unique(Seq(spec, spec.copy(name = "y"))).size == 2)
    val e = intercept[IllegalArgumentException](
      SparkEntry.unique(Seq(spec, spec.copy(name = "y"), spec)))
    assert(e.getMessage.contains("declared twice: x"))
    assert(SparkEntry.queries.size == 244)
    assert(SparkEntry.oracleSql.size == 215)
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
  }
}
