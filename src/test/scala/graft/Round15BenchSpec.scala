package graft

import org.scalatest.funsuite.AnyFunSuite

/** Round-15 verdict tasks 2 and 7: (a) the bench must end its stdout
  * with one COMPACT JSON line that survives the 2000-byte stdout tail
  * capture (PERF was `parsed: null` in rounds 13 and 14 because the
  * full 297-query line is ~18 KB); (b) mover windows are adjudicated on
  * BOTH calibration probes — the IO probe undersenses pure CPU steal.
  */
class Round15BenchSpec extends AnyFunSuite {

  private def results(n: Int): Seq[(String, Double)] =
    (1 to n).map(i => (f"q$i%03d_some_rather_long_query_name", i * 0.01))

  test("compactLine stays within the tail budget at registry scale " +
    "and is one complete JSON object") {
    val line = Bench.compactLine(results(297), "/root/testdata/sf0.1",
      "min_of_2+mover_retry+cal_adjudication", 0.12, 0.14, 0.21)
    // the whole line, its `[info] ` prefix, its newline and sbt's 73-byte
    // `[success]` trailer fit the 2000-byte stdout tail
    assert(line.length <= Bench.CompactLineBytes,
      s"compact line too long: ${line.length}")
    assert(Bench.CompactLineBytes + "[info] ".length + 1 + 73 <= 2000)
    assert(!line.contains("\n"))
    assert(line.startsWith("{") && line.endsWith("}"))
    // driver-contract shape: metric/value/unit/queries/sf all present
    Seq("\"metric\":\"total\"", "\"value\":", "\"unit\":\"sec\"",
      "\"queries\":{", "\"sf\":\"/root/testdata/sf0.1\"",
      "\"n_queries\":297", "\"cal_min\":0.12", "\"cpu_cal_min\":0.21")
      .foreach(f => assert(line.contains(f), s"missing $f"))
    // braces balance (single-line JSON sanity without a parser dep)
    assert(line.count(_ == '{') === line.count(_ == '}'))
  }

  test("compactLine keeps the BIGGEST walls when truncating") {
    val line = Bench.compactLine(results(297), "sf", "m", 0.1, 0.1, 0.2)
    // the largest wall (q297, 2.97 s) must be in the line; the smallest
    // (q001, 0.01 s) must be the one dropped
    assert(line.contains("\"q297_some_rather_long_query_name\":2.97"))
    assert(!line.contains("\"q001_some_rather_long_query_name\":"))
    // total still reflects ALL queries, not just those in the line
    val total = results(297).map(_._2).sum
    assert(line.contains(s""""value":$total"""))
  }

  test("compactLine with few queries keeps every wall") {
    val line = Bench.compactLine(results(5), "sf", "m", 0.1, 0.1, 0.2)
    (1 to 5).foreach(i =>
      assert(line.contains(f"q$i%03d_some_rather_long_query_name")))
    assert(line.contains("\"n_in_line\":5"))
  }

  test("effectiveWindowRatio flags a window when EITHER probe is over " +
    "its bar") {
    import Bench.{effectiveWindowRatio => eff, ContentionThreshold => T}
    // quiet on both probes → clean
    assert(eff(1.1, 1.05) <= T)
    // IO spike alone (the r13 class) → contended
    assert(eff(6.0, 1.0) > T)
    // CPU steal the IO probe missed (the r14 class: io 1.5, cpu 1.9)
    assert(eff(1.5, 1.9) > T)
    // CPU at its bar exactly maps to the IO threshold
    assert(math.abs(eff(1.0, Bench.CpuContentionThreshold) - T) < 1e-9)
  }
}
