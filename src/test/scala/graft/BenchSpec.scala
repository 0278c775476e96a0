package graft

import org.scalatest.funsuite.AnyFunSuite

import TestSpark._

// Bench's report logic: which queries it retries and lists as movers
// against the previous run, the host-weather adjustment of its walls,
// and the one-line JSON it prints.
//
// Each suite keeps its class name, so every test keeps the suite-qualified
// name it is reported under; the suites are grouped here by domain.

/** Which queries Bench retries and lists as movers against the previous
  * run: a ratio over 1.5× counts among walls that are both at least 0.3 s,
  * or that moved by 0.5 s or more (q237's 0.24 → 1.60 s once slipped
  * under the 0.3 s floor alone).
  */
class BenchMoverSpec extends AnyFunSuite {

  private val prev = Map(
    "q237" -> 0.24, // small query, large absolute jump
    "q10" -> 0.10, // small query, large ratio, small delta
    "q11" -> 2.00, // slow query, noise-sized change
    "q12" -> 1.00, // slow query, real regression
    "q13" -> 0.90, // speed-up
    "q14" -> 0.40) // absent from this run
  private val firstPass = Map(
    "q237" -> 1.60, "q10" -> 0.25, "q11" -> 2.20, "q12" -> 1.70,
    "q13" -> 0.30, "q99" -> 5.00)

  test("comparableWalls: a 0.3 s floor on both walls, or a 0.5 s delta") {
    assert(Bench.comparableWalls(0.24, 1.60)) // q237
    assert(Bench.comparableWalls(1.60, 0.24))
    assert(Bench.comparableWalls(0.3, 0.3))
    assert(!Bench.comparableWalls(0.10, 0.25))
    assert(!Bench.comparableWalls(0.29, 0.78))
    assert(Bench.comparableWalls(0.29, 0.79))
  }

  test("retryCandidates includes q237 and leaves out sub-floor noise") {
    assert(Bench.retryCandidates(prev, firstPass).toSet == Set("q237", "q12"))
  }

  test("comparableQueries carries q237 into the vs_prev population") {
    val c = Bench.comparableQueries(prev, firstPass)
      .map { case (k, p, v, r) => k -> ((p, v, r)) }.toMap
    assert(c.keySet == Set("q237", "q11", "q12", "q13"))
    assert(math.abs(c("q237")._3 - 1.60 / 0.24) < 1e-12)
    assert(c("q13")._3 < 1.0 / 1.5) // a speed-up mover
  }
}

/** Round-14 verdict task 2: the bench must consume its own calibration
  * series so a host-contention window can never again publish an
  * unannotated >1.5× phantom mover (the r13 q44/q45/q125 class).
  *
  * The scenario under test is the r13 artifact's literally: a quiet
  * run's cal_min ≈ 0.12 s, a mid-run contention window spiking
  * calibration to 0.74 s, and a query whose both tries (and first
  * retry) sat inside that window.
  */
class Round14BenchAdjSpec extends AnyFunSuite {

  // calibration series shaped like r13's: (pos, sec, ok)
  private val quiet = Seq((0, 0.12, true), (20, 0.13, true),
    (40, 0.12, true), (60, 0.125, true))
  private val spiked = Seq((0, 0.12, true), (20, 0.74, true),
    (40, 0.70, true), (60, 0.125, true))

  test("windowRatio brackets a position with the nearest successful " +
    "calibration samples") {
    assert(Bench.windowRatio(quiet, 30, 0.12) < Bench.ContentionThreshold)
    // position 30 sits between the 0.74 and 0.70 spikes
    assert(Bench.windowRatio(spiked, 30, 0.12) > 5.0)
    // position 50: bracketed by 0.70 (contended) and 0.125 (clean) —
    // max of brackets, so still flagged
    assert(Bench.windowRatio(spiked, 50, 0.12) > Bench.ContentionThreshold)
    // position past the last sample uses the left bracket only
    assert(math.abs(Bench.windowRatio(spiked, 99, 0.12) -
      0.125 / 0.12) < 1e-9)
  }

  test("windowRatio ignores FAILED calibration samples and degrades " +
    "to 1.0 on empty/invalid input") {
    val withFail = Seq((0, 0.12, true), (20, 33.0, false), (40, 0.13, true))
    assert(Bench.windowRatio(withFail, 20, 0.12) < Bench.ContentionThreshold)
    assert(Bench.windowRatio(Nil, 10, 0.12) === 1.0)
    assert(Bench.windowRatio(quiet, 10, Double.NaN) === 1.0)
    assert(Bench.windowRatio(quiet, 10, 0.0) === 1.0)
  }

  test("a >1.5x mover whose every measurement window was contended is " +
    "UNRESOLVED_CONTENTION, never an unannotated regression") {
    // r13 phantom: 4.5x ratio, sweep window 6x, retry window 5.8x
    assert(Bench.moverVerdict(4.5, Seq(6.0, 5.8)) === "unresolved_contention")
    // one clean retry window → the regression is real
    assert(Bench.moverVerdict(4.5, Seq(6.0, 1.1)) === "persists")
    // retry brought it under 1.5x → weather, whatever the windows said
    assert(Bench.moverVerdict(1.2, Seq(6.0, 5.8)) === "weather")
    // no window evidence at all (no calibration) → default persists
    assert(Bench.moverVerdict(2.0, Nil) === "persists")
  }
}

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
