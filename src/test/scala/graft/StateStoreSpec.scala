package graft

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

import graft.state.StateStore

/** The state store answers from its in-memory snapshot, so these specs
  * pin what that must not change: other writers on the same path stay
  * visible, a reopened store reads the last snapshot, concurrent batched
  * puts lose no key, and a crash between the snapshot swap's delete and
  * rename loses nothing.
  */
class StateStoreSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def freshPath(): String =
    Files.createTempDirectory("graft-state").toString + "/state"

  test("a second store on the same path sees the first one's putAll") {
    val path = freshPath()
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

  test("a reopened store reads the last snapshot") {
    val path = freshPath()
    val a = new StateStore(path)
    a.putAll(spark, Seq(("t", "record_count", "10"), ("t", "columns", "x,y")))
    a.put(spark, "t", "record_count", "12")
    val reopened = new StateStore(path)
    assert(reopened.get(spark, "t", "record_count") == Some("12"))
    assert(reopened.get(spark, "t", "columns") == Some("x,y"))
    assert(reopened.get(spark, "t", "missing").isEmpty)
    assert(reopened.read(spark).count() == 2)
  }

  test("gets from an unchanged snapshot run no Spark job; a write runs one") {
    val path = freshPath()
    val store = new StateStore(path)
    store.putAll(spark, Seq(("t", "record_count", "10")))
    assert(TestSpark.jobsDuring {
      (1 to 5).foreach(_ => assert(store.get(spark, "t", "record_count") == Some("10")))
    } == 0)
    assert(TestSpark.jobsDuring(store.putAll(spark, Seq(("t", "columns", "x")))) == 1)
  }

  test("8 threads each putAll-ing their own keys lose none") {
    val path = freshPath()
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

  test("a crash between the swap's delete and rename loses no state") {
    val path = freshPath()
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

  test("an incomplete path.tmp without path is no snapshot") {
    val path = freshPath()
    new StateStore(path).put(spark, "t", "record_count", "10")
    Files.move(Paths.get(path), Paths.get(path + ".tmp"))
    Files.delete(Paths.get(path + ".tmp", "_SUCCESS"))
    val store = new StateStore(path)
    assert(store.read(spark).count() == 0)
    assert(store.get(spark, "t", "record_count").isEmpty)
  }
}
