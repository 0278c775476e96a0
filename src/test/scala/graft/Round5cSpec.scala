package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.operators.{Diff, Dedup, QualityModel, Split}

class Round5cSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  // -------------------------------------------------------------------
  // Diff
  // -------------------------------------------------------------------

  test("corpusDiff classifies added/removed/changed/unchanged on a hand-built pair") {
    val oldV = Seq(
      (1L, "a", "same text"),
      (2L, "a", "will change"),
      (3L, "b", "will be removed")).toDF("doc_id", "source", "text")
    val newV = Seq(
      (1L, "a", "same text"),
      (2L, "a", "did change"),
      (4L, "b", "brand new")).toDF("doc_id", "source", "text")
    val got = Diff.corpusDiff(oldV, newV).collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(got == Map(1L -> "unchanged", 2L -> "changed",
      3L -> "removed", 4L -> "added"))
  }

  test("corpusDiff carries source from the surviving side") {
    val oldV = Seq((1L, "old_src", "x")).toDF("doc_id", "source", "text")
    val newV = Seq((2L, "new_src", "y")).toDF("doc_id", "source", "text")
    val bySrc = Diff.corpusDiff(oldV, newV).collect()
      .map(r => r.getString(1) -> r.getString(2)).toMap
    assert(bySrc == Map("old_src" -> "removed", "new_src" -> "added"))
  }

  test("diffReport of identical versions is all-unchanged") {
    val d = Tables.load(spark, "/root/testdata/sf0.001", "documents")
    val rep = Diff.diffReport(d, d).collect()
    assert(rep.forall(_.getString(1) == "unchanged"))
    assert(rep.map(_.getLong(2)).sum == d.count())
  }

  // -------------------------------------------------------------------
  // QualityModel
  // -------------------------------------------------------------------

  test("quality score: deterministic, bounded, zero on empty docs") {
    val df = Seq("the quick brown fox", "the quick brown fox", "", "  ..  ")
      .toDF("text").select(QualityModel.score(col("text")).as("s"))
    val s = df.collect().map(_.getDouble(0))
    assert(s(0) == s(1))           // pure function of the text
    assert(s(2) == 0.0 && s(3) == 0.0) // empty token list
    assert(s.forall(v => v >= -1.0 && v <= 1.0))
  }

  test("quality score separates docs (not constant) on fixture text") {
    val d = Tables.load(spark, "/root/testdata/sf0.001", "documents")
    val n = d.select(QualityModel.scoreBp(col("text")).as("bp"))
      .select(countDistinct("bp")).collect().head.getLong(0)
    assert(n > 10, s"expected a spread of scores, got $n distinct")
  }

  // -------------------------------------------------------------------
  // Token accounting
  // -------------------------------------------------------------------

  test("bpe/ws token counts on hand-computed examples") {
    import graft.operators.TextOps
    val rows = Seq(
      "don't stop", // ws 2; words don,t,stop=3; bpe don,',t,stop=4
      "x2 + y10",   // ws 3; words x2,y10=2;     bpe x,2,+,y,10=5
      "",           // all zero
      "  spaced  out  ") // ws 2; words 2; bpe 2
      .toDF("text").select(
        TextOps.wsTokenCount(col("text")).as("ws"),
        TextOps.tokenCount(col("text")).as("words"),
        TextOps.bpeTokenCount(col("text")).as("bpe"))
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getInt(2)))
    assert(rows.toSeq == Seq((2, 3, 4), (3, 2, 5), (0, 0, 0), (2, 2, 2)))
  }

  test("bpe pretokens subdivide word tokens: bpe >= words on fixture text") {
    import graft.operators.TextOps
    val d = Tables.load(spark, "/root/testdata/sf0.001", "documents")
    val bad = d.select(TextOps.tokenCount(col("text")).as("w"),
        TextOps.bpeTokenCount(col("text")).as("b"))
      .filter(col("b") < col("w")).count()
    assert(bad == 0)
  }

  // -------------------------------------------------------------------
  // Split.leakageReport
  // -------------------------------------------------------------------

  test("leakageReport counts straddling pairs; leakage-safe split zeroes them") {
    val d = Tables.load(spark, "/root/testdata/sf0.001", "documents")
    val pairs = Dedup.minhashNearDups(d)
    val w = registry.DedupQueries.SplitWeights
    val plain = Split.leakageReport(pairs, w)
    val total = plain.agg(sum("n_pairs")).collect().head.getLong(0)
    assert(total == pairs.count())

    // the same pairs under the CLUSTER-keyed assignment: rebuild each
    // endpoint's effective key (cluster min, as assignSplitsLeakageSafe
    // does) and re-audit — every pair must land within one split
    val cc = Dedup.connectedComponents(pairs)
    val safeKeys = pairs
      .join(cc.select(col("doc_id").as("doc_a"), col("cluster").as("ka")), "doc_a")
      .join(cc.select(col("doc_id").as("doc_b"), col("cluster").as("kb")), "doc_b")
      .select(col("ka").as("doc_a"), col("kb").as("doc_b"))
    val leaked = Split.leakageReport(safeKeys, w)
      .filter(col("leaked")).agg(coalesce(sum("n_pairs"), lit(0L)))
      .collect().head.getLong(0)
    assert(leaked == 0L)
    graft.util.Caches.releaseAll()
  }
}
