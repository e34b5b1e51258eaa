package graft

import org.scalatest.funsuite.AnyFunSuite

/** The bench round-over-round regression diff (VERDICT r9 item 7):
  * parse our own bench JSON line, compare runs, flag only real
  * slowdowns. */
class BenchDiffSpec extends AnyFunSuite {

  private val line =
    """{"metric":"total","value":9.5,"unit":"sec","queries":{"q1_agg":0.41,""" +
      """"ann_ivf_pq":5.04,"dedup_cluster":-1.0,"ts_ewma":1.2e-1},""" +
      """"errors":{},"n_errors":0,"gc_ms":12,"sf":"/root/testdata/sf0.1"}"""

  test("parseQueries reads the queries object, including sentinels and exponents") {
    val q = Bench.parseQueries(line)
    assert(q === Map("q1_agg" -> 0.41, "ann_ivf_pq" -> 5.04,
      "dedup_cluster" -> -1.0, "ts_ewma" -> 0.12))
    assert(Bench.parseQueries("""{"metric":"total"}""") === Map.empty)
  }

  test("regressions: ratio > 2x AND > 0.5s absolute; sentinels and new queries excluded") {
    val prev = Map("a" -> 1.0, "b" -> 0.1, "c" -> 2.0, "d" -> -1.0, "e" -> 1.0)
    val cur = Map(
      "a" -> 2.6,  // 2.6x and +1.6s -> flagged
      "b" -> 0.4,  // 4x but only +0.3s -> noise, not flagged
      "c" -> 3.5,  // 1.75x -> not flagged
      "d" -> 5.0,  // prev was a failure sentinel -> not comparable
      "e" -> -1.0, // current failure -> bench already fails the run
      "f" -> 9.0)  // new query, no baseline
    assert(Bench.regressions(prev, cur) === Map("a" -> (1.0, 2.6)))
  }

  test("compactLine: slowest first, stops at the first misfit, no sentinels, fixed notation") {
    val long = "x" * 60
    val entries = Map("big" -> 12345678.9, long -> 9.0, "small" -> 0.5,
      "tiny" -> 0.0001, "failed" -> -1.0)
    val line = Bench.compactLine(12345688.4, entries, nErrors = 1, gcMs = 7,
      sfDir = "sf", cpus = 4, epochMs = 1L, budget = 40)
    // "big" fits the 40-byte budget, the 60-char name does not, and the
    // smaller entries after it stay out even though they would fit
    assert(line.contains(""""queries_in_line":1,"queries":{"big":12345678.90}"""), line)
    assert(line.contains(""""value":12345688.40,"""), line)
    assert(line.contains(""""n_queries":5,"""), line)
    assert(line.contains(""""cpus":4,"""), line)
    assert(!line.contains("E") && !line.contains("-1"), line)
    val all = Bench.compactLine(1.0, entries - long, 0, 0, "sf", 4, 1L)
    assert(all.contains(""""queries":{"big":12345678.90,"small":0.50,"tiny":0.00}"""), all)
  }

  test("ioRecord: one query's first-rep deltas, codegen compiles included") {
    val pre = IoSnapshot(10L, 20L, 0L, 5L, 100L, codegenCompiles = 40L)
    val post = IoSnapshot(110L, 220L, 3L, 9L, 400L, codegenCompiles = 47L)
    assert(Bench.ioRecord(post - pre) ===
      """{"shuffle_read_b":100,"shuffle_write_b":200,"spill_b":3,""" +
        """"peak_exec_mem_b":9,"input_read_b":300,"codegen_compiles":7}""")
  }
}
