package graft

import java.sql.DriverManager

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.Sources

import TestSpark._

/** S1's JDBC branch driven end-to-end against the embedded Derby engine
  * that ships in Spark's own jar directory — a real warehouse round-trip
  * (DDL + inserts over plain JDBC, reads through the Spark JDBC source,
  * write-back through the JDBC sink) with zero extra dependencies. This
  * closes the "JDBC branch untested — no DB in the sandbox" gap: the
  * sandbox DOES carry a SQL engine, just an embedded one.
  */
class SourcesJdbcSpec extends AnyFunSuite {
  import spark.implicits._

  private val url = "jdbc:derby:memory:graftjdbc;create=true"
  private val props = Map("driver" -> "org.apache.derby.iapi.jdbc.AutoloadedDriver")

  private def seedTable(): Unit = {
    val conn = DriverManager.getConnection(url)
    try {
      val st = conn.createStatement()
      try st.execute("DROP TABLE monitored")
      catch { case _: java.sql.SQLException => () } // first run: no table
      st.execute(
        "CREATE TABLE monitored (id BIGINT PRIMARY KEY, name VARCHAR(32), price DOUBLE)")
      (1 to 100).foreach(i =>
        st.execute(s"INSERT INTO monitored VALUES ($i, 'row$i', ${i * 1.5})"))
      st.close()
    } finally conn.close()
  }

  test("jdbcTable reads a warehouse table; jdbcQuery pushes SQL warehouse-side") {
    seedTable()
    val full = Sources.jdbcTable(spark, url, "monitored", props)
    assert(full.count() == 100)
    assert(full.filter(col("id") === 7L).select("name")
      .collect().head.getString(0) == "row7")

    // the aggregate executes inside the warehouse (the reference's
    // get_pandas_df(query) behavior): one result row comes back
    val agg = Sources.jdbcQuery(spark, url,
      "SELECT COUNT(*) AS n, SUM(price) AS total FROM monitored", props)
      .collect().head
    assert(agg.getAs[Number](0).longValue == 100L)
    assert(math.abs(agg.getAs[Number](1).doubleValue - 1.5 * 5050) < 1e-9)
  }

  test("partitioned jdbcTable opens N parallel range reads; jdbc write-back round-trips") {
    seedTable()
    val part = Sources.jdbcTable(spark, url, "monitored", props ++ Map(
      "partitionColumn" -> "id", "lowerBound" -> "1",
      "upperBound" -> "101", "numPartitions" -> "4"))
    assert(part.rdd.getNumPartitions == 4,
      "range options must split the scan into 4 connections")
    assert(part.count() == 100)
    // ranges must tile: no row lost or duplicated across partitions
    assert(part.agg(sum("id")).collect().head.getLong(0) == 5050L)

    val jprops = new java.util.Properties()
    props.foreach { case (k, v) => jprops.setProperty(k, v) }
    Seq((201L, "w1", 1.0), (202L, "w2", 2.0)).toDF("id", "name", "price")
      .write.mode("append").jdbc(url, "monitored", jprops)
    assert(Sources.jdbcTable(spark, url, "monitored", props).count() == 102)
  }
}
