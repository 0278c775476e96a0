package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.catalog.CatalogMonitor

/** Fixture-table registry.
  *
  * The reference addresses warehouse tables as `db.schema.table` and pulls
  * them through JDBC hooks (`/root/reference/Snowflake/snowflake_table_monitor.py:75-78`,
  * `/root/reference/AWS_Redshift/redshift_table_monitor.py:47-51`). Here a
  * "database" is a directory of Parquet tables; Spark's vectorized Parquet
  * reader + Catalyst column pruning/predicate pushdown replace the
  * warehouse-side execution. At 100 TB these would be partitioned
  * directories or catalog tables — nothing in this API assumes a single
  * file.
  */
object Tables {
  /** All tables of the synthetic "database" (see TESTDATA.md). */
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** The star-schema + events tables the DB monitors roll up over. */
  val warehouse: Seq[String] = all.filterNot(Set("documents", "embeddings"))

  def path(dir: String, name: String): String = s"$dir/$name.parquet"

  /** `events.ts` has shipped in two physical shapes across fixture
    * generations: Parquet TIMESTAMP(NANOS) (which Spark's vectorized
    * reader rejects outright — read as long via the legacy nanosAsLong
    * conf, then integer-divide: epoch-nanos ≈ 1.7e18 exceeds a double's
    * 2^53 exact-integer range, so a floating-point path would silently
    * corrupt timestamps) and TIMESTAMP(MICROS, isAdjustedToUTC=false)
    * (which Spark 4 infers as TIMESTAMP_NTZ — unusable for watermarks
    * and epoch arithmetic). Both normalize to plain TimestampType under
    * the session's UTC zone, matching how DuckDB's oracle reads the same
    * files.
    */
  private val nanoTsCols: Map[String, Seq[String]] = Map("events" -> Seq("ts"))

  // the read confs every load guarantees, each written only when the
  // session holds another value (so a monitor fan-out writes none), and
  // the confs that also shape what parquet schema inference returns
  private val readConfs = Seq("spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.sql.parquet.inferTimestampNTZ.enabled" -> "false")
  private val inferenceConfs = Seq("spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp", "spark.sql.parquet.mergeSchema")

  // per session (weakly held): table path -> (signature, raw schema)
  private val schemas = new java.util.WeakHashMap[SparkSession,
    java.util.concurrent.ConcurrentHashMap[String, (String, StructType)]]()

  /** Reads table `name` of `dir`, with `events.ts` normalized. The raw
    * schema Spark infers (one job reading a footer) is memoized per
    * session and table path under the table's listing signature
    * ([[CatalogMonitor.signature]]): while it holds, the load reads with
    * that schema and runs no job. Same name, size and mtime are taken to
    * mean same bytes (the rsync quick check); an append or a rewrite
    * changes the signature, and the next load infers again.
    */
  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    readConfs.foreach { case (k, v) =>
      if (!spark.conf.getOption(k).contains(v)) spark.conf.set(k, v) }
    normalizeNanoTs(read(spark, path(dir, name)), name)
  }

  private def read(spark: SparkSession, p: String): DataFrame =
    CatalogMonitor.parquetFiles(spark, p).filter(_.nonEmpty) match {
      case None => spark.read.parquet(p)
      case Some(files) =>
        val sig = (inferenceConfs.map(spark.conf.getOption) :+
          CatalogMonitor.signature(files)).mkString("\n")
        val memo = schemas.synchronized(schemas.computeIfAbsent(spark,
          _ => new java.util.concurrent.ConcurrentHashMap()))
        Option(memo.get(p)).filter(_._1 == sig) match {
          case Some((_, raw)) => spark.read.schema(raw).parquet(p)
          case None =>
            val df = spark.read.parquet(p)
            memo.put(p, (sig, df.schema))
            df
        }
    }

  /** Convert legacy-read nano-long / NTZ-inferred columns to TimestampType. */
  def normalizeNanoTs(df: DataFrame, name: String): DataFrame =
    nanoTsCols.getOrElse(name, Nil).foldLeft(df) { (d, c) =>
      if (!d.schema.fieldNames.contains(c)) d
      else d.schema(c).dataType match {
        case org.apache.spark.sql.types.LongType =>
          d.withColumn(c, org.apache.spark.sql.functions.expr(s"timestamp_micros($c div 1000)"))
        case org.apache.spark.sql.types.TimestampNTZType =>
          d.withColumn(c, d(c).cast(org.apache.spark.sql.types.TimestampType))
        case _ => d
      }
    }

  def events(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "events")
  def documents(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "documents")
}
