package graft.catalog

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Database-level catalog monitor.
  *
  * Re-expresses the reference's catalog scans — Snowflake
  * `information_schema.tables` / `show columns`
  * (`/root/reference/Snowflake/snowflake_database_monitor.py:38-49`) and
  * Redshift `svv_tables ⋈ svv_table_info` / `pg_table_def`
  * (`/root/reference/AWS_Redshift/redshift_database_monitor.py:30-57`) — as
  * DataFrames synthesized from Spark schemas + cheap count jobs.
  *
  * Scale note: `row_count` uses `df.count()` over Parquet, which scans no
  * column data (row-group row counts only); on a real lakehouse catalog the
  * same API would read table-level statistics. Counts for the N tables are
  * independent jobs — at 1000-table scale they would be submitted
  * concurrently (the driver loop here is over table *names*, never rows).
  */
object CatalogMonitor {

  /** Spark's hidden-path convention: any path segment starting with
    * '_' or '.' is invisible to the file index (in-progress staging
    * files like `._part-*.parquet`, markers like `_SUCCESS`).
    */
  private def isHiddenSegment(seg: String): Boolean =
    seg.startsWith("_") || seg.startsWith(".")

  /** Parquet-FOOTER row count of one table: the sum of per-file footer
    * block counts — no Spark job, no task, no data-column IO at all.
    * This is the Spark-side analogue of the reference reading the
    * catalog's `row_count` instead of scanning
    * (`/root/reference/Snowflake/snowflake_table_monitor.py:57-62`):
    * a plain count's answer lives entirely in table metadata.
    *
    * Sees exactly the file set Spark's own file index would scan:
    * RECURSIVE listing (partitioned key=value layouts count correctly,
    * not silently 0), hidden segments under the root skipped (an
    * in-progress `._part` staging file never counts), `.parquet` files
    * only. Returns None — "fall back to a count job" — when the table
    * root holds no visible parquet files (a non-Parquet relation) or
    * any footer read fails; the caller's count() is then the single
    * source of truth rather than a silent divergence.
    */
  /** The visible parquet file set under `tablePath` — exactly what
    * Spark's own file index would scan (recursive, hidden segments
    * skipped, `.parquet` only). Empty seq = "not a parquet table here".
    */
  private def visibleParquetFiles(
      conf: org.apache.hadoop.conf.Configuration,
      tablePath: String): Seq[org.apache.hadoop.fs.FileStatus] = {
    import org.apache.hadoop.fs.{FileStatus, Path}
    val root = new Path(tablePath)
    val fs = root.getFileSystem(conf)
    val qualifiedRoot = fs.makeQualified(root)
    val rootStr = qualifiedRoot.toUri.getPath.stripSuffix("/")
    val rootStatus = fs.getFileStatus(qualifiedRoot)
    if (rootStatus.isDirectory) {
      val it = fs.listFiles(qualifiedRoot, true)
      val buf = scala.collection.mutable.ArrayBuffer.empty[FileStatus]
      while (it.hasNext) {
        val st = it.next()
        val rel = st.getPath.toUri.getPath
          .stripPrefix(rootStr).stripPrefix("/")
        val hidden = rel.split("/").exists(isHiddenSegment)
        if (st.isFile && !hidden &&
          st.getPath.getName.endsWith(".parquet")) buf += st
      }
      buf.toSeq
    } else Seq(rootStatus)
  }

  private[graft] def footerRowCount(spark: SparkSession,
      tablePath: String): Option[Long] = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    try {
      val conf = spark.sessionState.newHadoopConf()
      val statuses = visibleParquetFiles(conf, tablePath)
      if (statuses.isEmpty) None
      else Some(statuses.map { s =>
        val r = ParquetFileReader.open(HadoopInputFile.fromStatus(s, conf))
        try r.getRecordCount finally r.close()
      }.sum)
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** Parquet-FOOTER exact (min, max) per requested numeric column — the
    * metadata analogue of a wide `agg(min, max, …)` bounds job, for the
    * profiler's histogram pass (round-14 verdict task: the bounds scan
    * was half of q41's two full-table jobs).
    *
    * Returns `Some(col -> (lo, hi))` ONLY when every requested column's
    * bounds are provably exact from the footers alone; `None` means
    * "run the bounds job" — never a silently different answer. A column
    * resolves to `(None, None)` when every row is NULL (the agg job's
    * NULL min/max). Exactness rules, per column chunk:
    *
    *  - the parquet PHYSICAL type must be INT32/INT64/FLOAT/DOUBLE with
    *    no logical annotation other than a signed int annotation —
    *    decimals/dates/timestamps store shifted or unscaled values
    *    whose chunk min is NOT the column min under Spark's reading;
    *  - statistics must be present with a non-null value, or the chunk
    *    must be provably all-NULL (numNulls set and = value count);
    *  - floating chunks whose recorded min or max is NaN are REJECTED
    *    (NaN-poisoned legacy stats); modern writers (parquet-mr ≥ 1.10,
    *    Arrow C++) skip NaN when computing FP stats, which matches the
    *    profiler's NaN→NULL `cleaned` contract exactly. A NaN that a
    *    legacy writer folded into a FINITE wrong bound is undetectable
    *    here — callers who profile legacy-written FP data pass
    *    `tablePath = None` to `Profiler.numericHistograms`.
    *
    * Min/max convert to double monotonically (long→double rounding is
    * monotone, so double(min long) = min(double longs) — same value the
    * agg job's `cast(c as double)` bounds produce, at any magnitude).
    */
  private[graft] def footerNumericBounds(spark: SparkSession,
      tablePath: String, cols: Seq[(String, org.apache.spark.sql.types.DataType)])
      : Option[Map[String, (Option[Double], Option[Double])]] = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    import org.apache.parquet.schema.LogicalTypeAnnotation
    import org.apache.spark.sql.types._
    val wanted = cols.toMap
    // acc: col -> (lo, hi) over chunks seen so far; None until a chunk
    // with values contributes
    val acc = scala.collection.mutable.Map[String, (Option[Double], Option[Double])]()
    cols.foreach { case (c, _) => acc(c) = (None, None) }
    def expectedPhysical(dt: DataType) = dt match {
      case ByteType | ShortType | IntegerType => Some(INT32)
      case LongType => Some(INT64)
      case FloatType => Some(FLOAT)
      case DoubleType => Some(DOUBLE)
      case _ => None
    }
    try {
      val conf = spark.sessionState.newHadoopConf()
      val statuses = visibleParquetFiles(conf, tablePath)
      if (statuses.isEmpty) return None
      statuses.foreach { s =>
        val r = ParquetFileReader.open(HadoopInputFile.fromStatus(s, conf))
        try {
          // every requested column must exist in every file's schema —
          // a name absent from all chunks would otherwise masquerade
          // as an all-NULL column
          val schema = r.getFooter.getFileMetaData.getSchema
          if (!cols.forall { case (c, _) =>
            schema.containsField(c) &&
              schema.getType(Seq(c): _*).isPrimitive })
            return None
          val blocks = r.getFooter.getBlocks
          blocks.forEach { b =>
            if (b.getRowCount > 0) b.getColumns.forEach { cc =>
              val p = cc.getPath.toDotString
              wanted.get(p).foreach { dt =>
                val pt = cc.getPrimitiveType
                val okType = expectedPhysical(dt).contains(pt.getPrimitiveTypeName) &&
                  (pt.getLogicalTypeAnnotation match {
                    case null => true
                    case i: LogicalTypeAnnotation.IntLogicalTypeAnnotation =>
                      i.isSigned
                    case _ => false
                  })
                if (!okType) return None
                val st = cc.getStatistics
                if (st == null) return None
                if (st.hasNonNullValue) {
                  val (mn, mx) = (st.genericGetMin, st.genericGetMax) match {
                    case (a: java.lang.Number, b: java.lang.Number) =>
                      (a.doubleValue(), b.doubleValue())
                    case _ => return None
                  }
                  if (mn.isNaN || mx.isNaN) return None
                  val (lo, hi) = acc(p)
                  acc(p) = (Some(lo.fold(mn)(math.min(_, mn))),
                    Some(hi.fold(mx)(math.max(_, mx))))
                } else if (!(st.isNumNullsSet && st.getNumNulls == cc.getValueCount))
                  return None // no values recorded, not provably all-null
              }
            }
          }
        } finally r.close()
      }
      Some(acc.toMap)
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** (table_name, row_count) — the `information_schema.tables` analogue.
    *
    * DEFAULT path: footer counts — zero jobs, zero tasks, the right
    * call at 1000-table catalog scale where even empty-projection count
    * scans queue up (the reference's whole point is reading the
    * catalog's `row_count` instead of scanning). Any table the footer
    * path can't answer — no visible parquet files, unreadable footer —
    * automatically falls back to a `count()` job for THAT table.
    * Values equal `Tables.load(…).count()` by construction (both read
    * the same footer counts) — Round10dSpec pins that and the fallback
    * edges.
    */
  def tableRowCounts(spark: SparkSession, dir: String,
      tables: Seq[String] = Tables.all): DataFrame = {
    import spark.implicits._
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    // per-table work submitted concurrently so the cluster (or, on the
    // footer path, the filesystem) pipelines it — FAIR-scheduler
    // friendly at 1000-table scale
    val counts = Await.result(
      Future.traverse(tables) { t =>
        Future((t, footerRowCount(spark, Tables.path(dir, t))
          .getOrElse(Tables.load(spark, dir, t).count())))
      },
      Duration.Inf)
    counts.toDF("table_name", "row_count").orderBy("table_name")
  }

  /** (table_name, column_name, data_type, ordinal, autoincrement) —
    * `show columns`. The reference extracts an autoincrement flag per
    * column (`/root/reference/Snowflake/snowflake_database_monitor.py:38-42`);
    * Parquet schemas carry no such property, so the column is present for
    * relation-shape parity and always NULL — exactly what `show columns`
    * reports for a table with no autoincrement columns.
    */
  def tableColumns(spark: SparkSession, dir: String,
      tables: Seq[String] = Tables.all): DataFrame = {
    import spark.implicits._
    val rows = tables.flatMap { t =>
      Tables.load(spark, dir, t).schema.fields.zipWithIndex.map {
        case (f, i) =>
          // NTZ vs LTZ is Spark's storage-level split of one catalog-level
          // type; warehouse catalogs (and the DuckDB oracle) report both
          // as TIMESTAMP, so the monitor does too
          val dt = f.dataType.simpleString match {
            case "timestamp_ntz" => "timestamp"
            case other => other
          }
          (t, f.name, dt, i, Option.empty[Boolean])
      }
    }
    rows.toDF("table_name", "column_name", "data_type", "ordinal", "autoincrement")
      .orderBy("table_name", "ordinal")
  }

  /** (table_name, row_count, column_count) — the joined shape relation the
    * Redshift monitor builds by mapping row counts onto a per-table column
    * aggregate (`/root/reference/AWS_Redshift/redshift_database_monitor.py:85-91`):
    * a broadcast-hash left join at any scale.
    */
  def tableShapes(spark: SparkSession, dir: String,
      tables: Seq[String] = Tables.all): DataFrame = {
    val colCounts = tableColumns(spark, dir, tables)
      .groupBy("table_name")
      .agg(count_distinct(col("column_name")).as("column_count"))
    tableRowCounts(spark, dir, tables)
      .join(broadcast(colCounts), Seq("table_name"), "left")
      .na.fill(0, Seq("column_count"))
      .orderBy("table_name")
  }

  /** The database-monitor metric block
    * (`/root/reference/AWS_Redshift/redshift_database_monitor.py:72-109`):
    * table count, total/max/min/avg/median rows — corrected per SURVEY §7.4
    * (the reference logs `.max()` for its "Min table column count" metric;
    * we emit the true min).
    */
  def databaseSummary(rowCounts: DataFrame): DataFrame = {
    val wide = rowCounts.agg(
      count(lit(1)).cast("double").as("table_count"),
      sum("row_count").cast("double").as("total_rows"),
      max("row_count").cast("double").as("max_rows"),
      min("row_count").cast("double").as("min_rows"),
      round(avg("row_count"), 4).as("avg_rows"),
      round(percentile(col("row_count").cast("double"), lit(0.5)), 4).as("median_rows"))
    wide.select(expr(
      """stack(6,
        |'table_count', table_count,
        |'total_rows', total_rows,
        |'max_rows', max_rows,
        |'min_rows', min_rows,
        |'avg_rows', avg_rows,
        |'median_rows', median_rows) as (metric, value)""".stripMargin))
      .orderBy("metric")
  }

  /** Argmax: the largest table (A12), deterministic tiebreak by name. */
  def largestTable(rowCounts: DataFrame): DataFrame =
    rowCounts.orderBy(col("row_count").desc, col("table_name").asc).limit(1)
}
