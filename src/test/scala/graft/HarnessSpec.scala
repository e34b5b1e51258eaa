package graft

import org.scalatest.funsuite.AnyFunSuite

/** The harness seam the driver mains share: ScaleCheck's op list
  * resolves through `SparkEntry.queries`, and the SPARK_GRAFT_ONLY
  * filter fails on a name it does not know. */
class HarnessSpec extends AnyFunSuite {

  test("every ScaleCheck op is a SparkEntry.queries name, listed once") {
    val unknown = ScaleCheck.allOps.filterNot(SparkEntry.queries.contains)
    assert(unknown.isEmpty, s"ScaleCheck ops missing from SparkEntry.queries: $unknown")
    assert(ScaleCheck.allOps.distinct === ScaleCheck.allOps)
    assert(ScaleCheck.allOps.size === 124)
  }

  test("select keeps the named queries and rejects an unknown name") {
    val known = Seq("q1_agg", "ts_trend", "dedup_semantic")
    val all = Harness.select(known, None)
    assert(known.forall(all))
    val some = Harness.select(known, Some(Set("ts_trend")))
    assert(known.filter(some) === Seq("ts_trend"))
    val e = intercept[IllegalArgumentException](
      Harness.select(known, Some(Set("ts_trend", "ts_trnd"))))
    assert(e.getMessage.contains("ts_trnd"), e.getMessage)
  }

  test("quote escapes quotes, backslashes and control characters") {
    assert(Harness.quote("a\"b\\c\nd\te\r\u0001") ===
      "\"a\\\"b\\\\c\\nd\\te\\r\\u0001\"")
  }
}
