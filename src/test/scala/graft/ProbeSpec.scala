package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.tools.Probe
import graft.util.TempDirs.withTempDir

import TestSpark._

/** Every `Probe` mode once on q02 at sf0.001, on the suite's shared
  * session — which the probe must leave running.
  */
class ProbeSpec extends AnyFunSuite {
  private val q = "q02_filter_project"

  private lazy val rows = SparkEntry.queries(q)(spark, sf).count()

  private def probe(mode: String, arg: String): Seq[String] = {
    val buf = new java.io.ByteArrayOutputStream
    Console.withOut(buf)(Probe.run(spark, mode, sf, Seq(q), Some(arg)))
    assert(!spark.sparkContext.isStopped, s"$mode stopped the caller's session")
    buf.toString("UTF-8").linesIterator.toSeq
  }

  test("plan: writes the final plan's formatted explain and prints its leaf counts") {
    withTempDir("graft-probe") { tmp =>
      val dir = java.nio.file.Paths.get(tmp)
      val out = probe("plan", dir.toString)
      assert(out.size === 1 && out.head.matches(s"=== $q: Scan parquet[^=]*=1"), out)
      val explain = new String(java.nio.file.Files.readAllBytes(dir.resolve(s"$q.txt")), "UTF-8")
      assert(explain.startsWith("== Physical Plan ==") && explain.contains("Scan parquet"), explain)
    }
  }

  test("time: construct vs execute wall and the row count, once per rep") {
    val out = probe("time", "2")
    assert(out.size === 2, out)
    out.zipWithIndex.foreach { case (l, i) =>
      assert(l.matches(s"TIME $q rep${i + 1}: construct=\\d+\\.\\d{3} s exec=\\d+\\.\\d{3} s, $rows rows"), l)
    }
  }

  test("stages: the run line, then every completed stage of the run") {
    val out = probe("stages", "1")
    assert(out.head.matches(s"STAGES $q rep1: \\d+\\.\\d{2} s, $rows rows"), out)
    assert(out.tail.nonEmpty && out.tail.forall(_.matches("    stage +\\d+: wall=.* tasks=.*")), out)
  }

  test("stall: one line per rep (stack samples follow only a slow rep)") {
    val out = probe("stall", "1")
    assert(out.head.matches(s"STALL $q rep1: \\d+\\.\\d{2} s, $rows rows"), out)
    assert(out.count(_.startsWith("STALL")) === 1, out)
  }

  test("an unknown mode fails before any work") {
    intercept[IllegalArgumentException](probe("explain", "1"))
  }
}
