package graft

import org.scalatest.funsuite.AnyFunSuite

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
