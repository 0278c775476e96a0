package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.registry.{QueryDef, QueryModule}

import TestSpark._

/** The query registry: every id is declared once with an oracle, a
  * duplicate id fails construction by name, and oracles that read
  * run-time settings read them when rendered.
  */
class RegistrySpec extends AnyFunSuite {
  private def module(ids: String*): QueryModule = new QueryModule {
    val defs: Seq[QueryDef] =
      ids.map(id => QueryDef(id, (s, dir) => Tables.load(s, dir, "nation"),
        s"SELECT * FROM nation -- $id"))
  }

  test("two modules sharing an id fail construction, naming the id") {
    val e = intercept[IllegalArgumentException] {
      SparkEntry.index(Seq(module("q01_a", "q02_shared"),
        module("q02_shared", "q03_b")))
    }
    assert(e.getMessage.contains("q02_shared"), e.getMessage)
    assert(SparkEntry.index(Seq(module("q01_a"), module("q03_b"))).size == 2)
  }

  test("297 unique ids, each with a non-empty oracle and one module") {
    val ids = SparkEntry.modules.flatMap(_.defs.map(_.id))
    assert(ids.size == 297 && ids.distinct.size == 297)
    assert(SparkEntry.modules.distinct.size == SparkEntry.modules.size)
    assert(SparkEntry.queries.keySet == ids.toSet)
    val oracles = SparkEntry.oracleSql
    assert(oracles.keySet == ids.toSet)
    oracles.foreach { case (id, sql) =>
      assert(sql != null && sql.trim.nonEmpty, s"$id has an empty oracle")
    }
    assert(SparkEntry.queriesMeta.keySet.subsetOf(ids.toSet))
  }

  test("storage oracles name the graft.sf.dir current at each render") {
    val storage = Seq("q27_storage_inventory", "q28_storage_summary",
      "q274_compaction_plan")
    val saved = sys.props.get("graft.sf.dir")
    try {
      Seq("/data/one", "/data/two").foreach { dir =>
        System.setProperty("graft.sf.dir", dir)
        val sql = SparkEntry.oracleSql
        storage.foreach { id =>
          assert(sql(id).contains(s"read_blob('$dir/*.parquet')"),
            s"$id does not read $dir")
        }
      }
    } finally saved match {
      case Some(v) => System.setProperty("graft.sf.dir", v)
      case None => System.clearProperty("graft.sf.dir")
    }
  }
}
