package graft

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.sql.types.StructType

import graft.state.StateStore
import graft.util.TempDirs.withTempDir

import TestSpark._

/** The state store answers from its in-memory snapshot, so these specs
  * pin what that must not change: other writers on the same path stay
  * visible, a reopened store reads the last snapshot, concurrent batched
  * puts lose no key, and a crash between the snapshot swap's delete and
  * rename loses nothing.
  */
class StateStoreSpec extends AnyFunSuite {
  test("a second store on the same path sees the first one's putAll") {
    withTempDir("graft-state") { tmp =>
      val path = tmp + "/state"
      val a = new StateStore(path)
      val b = new StateStore(path)
      assert(b.get(spark, "t", "record_count").isEmpty)
      a.putAll(spark, Seq(("t", "record_count", "10"), ("t", "columns", "x,y")))
      assert(b.get(spark, "t", "record_count") == Some("10"))
      // b merges into a's snapshot, and a sees b's write
      b.putAll(spark, Seq(("u", "record_count", "3")))
      assert(a.get(spark, "t", "columns") == Some("x,y"))
      assert(a.get(spark, "u", "record_count") == Some("3"))
      a.put(spark, "t", "record_count", "11")
      assert(b.get(spark, "t", "record_count") == Some("11"))
      assert(b.read(spark).count() == 3)
    }
  }

  test("a reopened store reads the last snapshot") {
    withTempDir("graft-state") { tmp =>
      val path = tmp + "/state"
      val a = new StateStore(path)
      a.putAll(spark, Seq(("t", "record_count", "10"), ("t", "columns", "x,y")))
      a.put(spark, "t", "record_count", "12")
      val reopened = new StateStore(path)
      assert(reopened.get(spark, "t", "record_count") == Some("12"))
      assert(reopened.get(spark, "t", "columns") == Some("x,y"))
      assert(reopened.get(spark, "t", "missing").isEmpty)
      assert(reopened.read(spark).count() == 2)
    }
  }

  test("gets from an unchanged snapshot run no Spark job; a write runs one") {
    withTempDir("graft-state") { tmp =>
      val path = tmp + "/state"
      val store = new StateStore(path)
      store.putAll(spark, Seq(("t", "record_count", "10")))
      assert(TestSpark.jobsDuring {
        (1 to 5).foreach(_ => assert(store.get(spark, "t", "record_count") == Some("10")))
      } == 0)
      assert(TestSpark.jobsDuring(store.putAll(spark, Seq(("t", "columns", "x")))) == 1)
    }
  }

  test("a fresh store on an unchanged snapshot runs no read job; another writer " +
    "still forces a reload") {
    withTempDir("graft-state") { tmp =>
      val path = tmp + "/state"
      new StateStore(path).putAll(spark, Seq(("t", "record_count", "10"), ("t", "columns", "x")))
      // the process's last write is reused by a new store on the path
      val fresh = new StateStore(path)
      assert(TestSpark.jobsDuring {
        assert(fresh.entries(spark, "t") == Map("record_count" -> "10", "columns" -> "x"))
      } == 0)
      val reader = new StateStore(path)
      assert(TestSpark.jobsDuring(assert(reader.get(spark, "t", "columns") == Some("x"))) == 0)
      // another writer (another process, say) replaces the files under the
      // path: the first store to look reloads, and the others reuse that read
      val other = spark.createDataFrame(java.util.Arrays.asList(
        org.apache.spark.sql.Row("t", "record_count", "12", ts("2024-01-01 00:00:00"))),
        StructType.fromDDL("entity string, key string, value string, updated_ts timestamp"))
      other.coalesce(1).write.mode("overwrite").parquet(path)
      assert(TestSpark.jobsDuring(
        assert(fresh.entries(spark, "t") == Map("record_count" -> "12"))) == 1)
      assert(TestSpark.jobsDuring(
        assert(new StateStore(path).get(spark, "t", "record_count") == Some("12"))) == 0)
      assert(TestSpark.jobsDuring(
        assert(reader.get(spark, "t", "record_count") == Some("12"))) == 0)
    }
  }

  test("entries reads every key of an entity from one listing, and sees another store's putAll") {
    withTempDir("graft-state") { tmp =>
      val path = tmp + "/state"
      val a = new StateStore(path)
      val b = new StateStore(path)
      a.putAll(spark, Seq(("t", "record_count", "10"), ("t", "columns", "x,y"),
        ("u", "record_count", "3")))
      assert(b.entries(spark, "t") == Map("record_count" -> "10", "columns" -> "x,y"))
      assert(TestSpark.jobsDuring {
        (1 to 5).foreach(_ => assert(b.entries(spark, "u") == Map("record_count" -> "3")))
      } == 0)
      a.putAll(spark, Seq(("t", "record_count", "11")))
      assert(b.entries(spark, "t") == Map("record_count" -> "11", "columns" -> "x,y"))
      assert(b.entries(spark, "missing").isEmpty)
    }
  }

  test("8 threads each putAll-ing their own keys lose none") {
    withTempDir("graft-state") { tmp =>
      val path = tmp + "/state"
      val store = new StateStore(path)
      val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
      try {
        val done = (0 until 8).map { t =>
          pool.submit(new Runnable {
            def run(): Unit = (0 until 3).foreach { i =>
              store.putAll(spark, Seq((s"t$t", s"k$i", s"$t/$i"), (s"t$t", "last", s"$i")))
            }
          })
        }
        done.foreach(_.get())
      } finally pool.shutdown()
      val reopened = new StateStore(path)
      for (t <- 0 until 8; i <- 0 until 3) {
        assert(store.get(spark, s"t$t", s"k$i") == Some(s"$t/$i"))
        assert(reopened.get(spark, s"t$t", s"k$i") == Some(s"$t/$i"))
      }
      assert(reopened.get(spark, "t7", "last") == Some("2"))
      assert(reopened.read(spark).count() == 8 * 4)
    }
  }

  test("a crash between the swap's delete and rename loses no state") {
    withTempDir("graft-state") { tmp =>
      val path = tmp + "/state"
      new StateStore(path).putAll(spark, Seq(("t", "record_count", "10"), ("t", "columns", "x")))
      // the disk as upsert leaves it after deleting path, before renaming
      // the complete path.tmp into place
      Files.move(Paths.get(path), Paths.get(path + ".tmp"))
      assert(Files.exists(Paths.get(path + ".tmp", "_SUCCESS")))
      val recovered = new StateStore(path)
      assert(recovered.read(spark).count() == 2)
      assert(recovered.get(spark, "t", "record_count") == Some("10"))
      // the next write completes the swap and keeps the recovered rows
      recovered.put(spark, "t", "record_count", "11")
      assert(Files.exists(Paths.get(path)) && !Files.exists(Paths.get(path + ".tmp")))
      val reopened = new StateStore(path)
      assert(reopened.get(spark, "t", "record_count") == Some("11"))
      assert(reopened.get(spark, "t", "columns") == Some("x"))
    }
  }

  test("an incomplete path.tmp without path is no snapshot") {
    withTempDir("graft-state") { tmp =>
      val path = tmp + "/state"
      new StateStore(path).put(spark, "t", "record_count", "10")
      Files.move(Paths.get(path), Paths.get(path + ".tmp"))
      Files.delete(Paths.get(path + ".tmp", "_SUCCESS"))
      val store = new StateStore(path)
      assert(store.read(spark).count() == 0)
      assert(store.get(spark, "t", "record_count").isEmpty)
    }
  }
}
