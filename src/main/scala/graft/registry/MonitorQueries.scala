package graft
package registry

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.catalog.CatalogMonitor
import graft.operators.{Anomaly, Cdc, Constraints}
import graft.run.MonitorRunner
import graft.state.ChangeDetection
import graft.storage.StorageMonitor

/** Monitors: the catalog, table, state, storage and data-quality
  * checks a monitor run executes — row counts and shapes, schema and
  * row-count deltas, object-store inventory and compaction, declarative
  * constraints, referential integrity and volume/distribution anomaly
  * detectors, and the fan-out monitor run itself.
  */
object MonitorQueries extends QueryModule {

  private def catalogCountsCte: String =
    "WITH counts(table_name, row_count) AS (" +
      Tables.all.map(tn => s"SELECT '$tn', count(*) FROM $tn").mkString(" UNION ALL ") + ")"

  /** The fixture-directory glob the storage oracles (q27, q28, q274)
    * stat DuckDB-side via read_blob — the oracles that inspect the
    * filesystem rather than table contents. Read from `graft.sf.dir`
    * (Verify sets it from its sfDir argument) each time an oracle is
    * rendered, so the file-metadata oracles track the fixture scale
    * under test.
    */
  private def storageGlob =
    sys.props.getOrElse("graft.sf.dir", "/root/testdata/sf0.01") +
      "/*.parquet"

  /** Compaction target: 1 MiB bins over the fixture files — small
    * enough that several bins form at the gate SF, the same constant
    * on both engines at every scale.
    */
  val CompactTargetBytes = 1048576L

  /** Shard count for the staged small-files layout: one file per
    * shard by construction (repartition by the shard column before a
    * partitionBy write), so `n_files_in` is a constant both engines
    * state independently.
    */
  val CompactShards = 8

  /** Executor bin target — small enough that several bins form from
    * the staged shards at the gate SF.
    */
  val CompactExecTargetBytes = 262144L

  /** q109 rule suite over `orders` — two rules bind at every SF:
    * `unique(o_custkey)` (customers repeat across orders) and
    * `bounds(o_totalprice ≤ 400000)` (the fixture's max is ~500k).
    */
  val OrderRules: Seq[(Constraints.Rule, String)] = Seq(
    Constraints.complete("o_custkey") ->
      "sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END)",
    Constraints.complete("o_totalprice") ->
      "sum(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END)",
    Constraints.unique("o_orderkey") ->
      "count(*) - count(DISTINCT o_orderkey)",
    Constraints.unique("o_custkey") ->
      "count(*) - count(DISTINCT o_custkey)",
    Constraints.inSet("o_orderstatus", Seq("O", "F", "P")) ->
      ("sum(CASE WHEN o_orderstatus IS NOT NULL AND o_orderstatus " +
        "NOT IN ('O', 'F', 'P') THEN 1 ELSE 0 END)"),
    Constraints.matches("o_orderpriority", "^[1-5]-") ->
      ("sum(CASE WHEN o_orderpriority IS NOT NULL AND NOT " +
        "regexp_matches(o_orderpriority, '^[1-5]-') THEN 1 ELSE 0 END)"),
    Constraints.bounds("o_totalprice", 0.0, 400000.0) ->
      ("sum(CASE WHEN o_totalprice IS NOT NULL AND (o_totalprice < 0.0 " +
        "OR o_totalprice > 400000.0) THEN 1 ELSE 0 END)"))

  /** q110 audited FK pairs: (child, fk, parent, pk). The
    * events.user_id → customer pair binds on coverage (90% of
    * customers never appear in the event log).
    */
  val FkPairs: Seq[(String, String, String, String)] = Seq(
    ("orders", "o_custkey", "customer", "c_custkey"),
    ("lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("events", "user_id", "customer", "c_custkey"))

  /** q118 DISCOVERY candidates: the three true FKs, one spurious
    * direction (orderkey "into" custkey: containment collapses to 10%),
    * and one reversed pair whose parent column is NON-unique — so both
    * report axes (containment, parent key-ness) separate signal from
    * noise at every SF.
    */
  val FkCandidates: Seq[(String, String, String, String)] = Seq(
    ("orders", "o_custkey", "customer", "c_custkey"),
    ("lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("events", "user_id", "customer", "c_custkey"),
    ("orders", "o_orderkey", "customer", "c_custkey"),
    ("customer", "c_custkey", "orders", "o_custkey"))

  val VolumeK = 2.0 // binds at sf0.01: 2 of 30 days flagged

  val OutlierK = 2.0 // binds at sf0.01 on several sources

  private def constraintsOracle: String = {
    val metrics = OrderRules.zipWithIndex.map { case ((_, sql), i) =>
      s"    CAST($sql AS BIGINT) AS m$i"
    }.mkString(",\n")
    val rows = OrderRules.zipWithIndex.map { case ((r, _), i) =>
      s"  SELECT '${r.rule}' AS rule, '${r.column}' AS col_name, " +
        s"n, m$i AS v FROM s"
    }.mkString("\n  UNION ALL\n")
    s"""WITH s AS (SELECT CAST(count(*) AS BIGINT) AS n,
       |$metrics
       |  FROM orders),
       |r AS (
       |$rows
       |)
       |SELECT rule, col_name, n AS n_rows, v AS n_violations,
       |  CASE WHEN n > 0 THEN round(v * 10000.0 / n, 4) END
       |    AS violation_bp,
       |  v = 0 AS passed
       |FROM r ORDER BY rule, col_name""".stripMargin
  }

  private def refIntegrityOracle: String = {
    val pairCtes = FkPairs.zipWithIndex.map { case ((c, fk, p, pk), i) =>
      s"""ck$i AS (SELECT $fk AS k, count(*) AS c FROM $c
         |  WHERE $fk IS NOT NULL GROUP BY 1),
         |pk$i AS (SELECT DISTINCT $pk AS k FROM $p),
         |j$i AS (SELECT ck$i.k AS ck, ck$i.c AS c, pk$i.k AS pk
         |  FROM ck$i FULL OUTER JOIN pk$i ON ck$i.k = pk$i.k),
         |a$i AS (SELECT
         |    CAST(coalesce(sum(CASE WHEN pk IS NULL THEN c END), 0)
         |      AS BIGINT) AS orph,
         |    CAST(sum(CASE WHEN pk IS NOT NULL THEN 1 ELSE 0 END)
         |      AS BIGINT) AS pkeys,
         |    CAST(sum(CASE WHEN pk IS NOT NULL AND ck IS NULL
         |      THEN 1 ELSE 0 END) AS BIGINT) AS unref
         |  FROM j$i),
         |b$i AS (SELECT CAST(count(*) AS BIGINT) AS nrows,
         |    CAST(sum(CASE WHEN $fk IS NULL THEN 1 ELSE 0 END)
         |      AS BIGINT) AS nnulls
         |  FROM $c)""".stripMargin
    }.mkString(",\n")
    val rows = FkPairs.zipWithIndex.map { case ((c, fk, p, pk), i) =>
      s"""  SELECT '$c' AS child_table, '$fk' AS fk,
         |    '$p' AS parent_table, '$pk' AS pk,
         |    nrows AS n_child_rows, nnulls AS n_null_fk,
         |    orph AS n_orphan_rows,
         |    CASE WHEN nrows > 0
         |      THEN round(orph * 10000.0 / nrows, 4) END AS orphan_bp,
         |    pkeys AS n_parent_keys, unref AS n_unreferenced,
         |    CASE WHEN pkeys > 0
         |      THEN round(unref * 10000.0 / pkeys, 4) END
         |      AS unreferenced_bp
         |  FROM a$i, b$i""".stripMargin
    }.mkString("\n  UNION ALL\n")
    s"""WITH $pairCtes
       |$rows
       |ORDER BY child_table, fk""".stripMargin
  }

  private def volumeOracle: String =
    s"""WITH d AS (SELECT CAST(ts AS DATE) AS dd,
       |    CAST(count(*) AS BIGINT) AS n FROM events GROUP BY 1),
       |m AS (SELECT CAST(round(2 * median(n)) AS BIGINT) AS med2 FROM d),
       |d2 AS (SELECT dd, n, med2, abs(2 * n - med2) AS dev2 FROM d, m),
       |md AS (SELECT CAST(round(2 * median(dev2)) AS BIGINT) AS mad4
       |  FROM d2)
       |SELECT CAST(dd AS VARCHAR) AS day, n AS n_events,
       |  round(med2 / 2.0, 1) AS median_events,
       |  round(mad4 / 4.0, 2) AS mad_events,
       |  CASE WHEN mad4 > 0
       |    THEN round(2.0 * dev2 / (1.4826 * mad4), 6) END AS robust_z,
       |  CASE WHEN mad4 > 0
       |    THEN round(2.0 * dev2 / (1.4826 * mad4), 6) > $VolumeK
       |    ELSE dev2 > 0 END AS is_anomaly
       |FROM d2, md ORDER BY day""".stripMargin

  private def benfordOracle: String = {
    val values = Anomaly.BenfordExpectedBp
      .map { case (d, bp) => f"($d, $bp%.4f)" }.mkString(", ")
    s"""WITH e AS (SELECT * FROM (VALUES $values) AS t(digit, exp_bp)),
       |o AS (SELECT CAST(substr(CAST(CAST(round(o_totalprice * 100)
       |      AS BIGINT) AS VARCHAR), 1, 1) AS INTEGER) AS digit,
       |    CAST(count(*) AS BIGINT) AS n
       |  FROM orders
       |  WHERE CAST(round(o_totalprice * 100) AS BIGINT) > 0 GROUP BY 1),
       |t AS (SELECT sum(n) AS tt FROM o)
       |SELECT e.digit, CAST(coalesce(o.n, 0) AS BIGINT) AS n,
       |  CASE WHEN tt > 0
       |    THEN round(coalesce(o.n, 0) * 10000.0 / tt, 4) END AS obs_bp,
       |  CAST(e.exp_bp AS DOUBLE) AS exp_bp,
       |  round((CASE WHEN tt > 0
       |      THEN round(coalesce(o.n, 0) * 10000.0 / tt, 4) END)
       |    - e.exp_bp, 4) AS dev_bp
       |FROM e LEFT JOIN o USING (digit), t ORDER BY e.digit""".stripMargin
  }

  private def madOutliersOracle: String =
    s"""WITH v AS (SELECT source AS g, n_chars AS v FROM documents
       |  WHERE n_chars IS NOT NULL),
       |m AS (SELECT g, CAST(round(2 * median(v)) AS BIGINT) AS med2
       |  FROM v GROUP BY 1),
       |d AS (SELECT v.g, v.v, m.med2, abs(2 * v.v - m.med2) AS dev2
       |  FROM v JOIN m USING (g)),
       |md AS (SELECT g, CAST(round(2 * median(dev2)) AS BIGINT) AS mad4
       |  FROM d GROUP BY 1),
       |s AS (SELECT d.g, d.med2, d.dev2, md.mad4,
       |    CASE WHEN md.mad4 > 0
       |      THEN round(2.0 * d.dev2 / (1.4826 * md.mad4), 6) END AS z
       |  FROM d JOIN md USING (g))
       |SELECT g AS source, CAST(count(*) AS BIGINT) AS n_rows,
       |  round(any_value(med2) / 2.0, 1) AS median,
       |  round(any_value(mad4) / 4.0, 2) AS mad,
       |  CAST(sum(CASE WHEN (CASE WHEN mad4 > 0 THEN z > $OutlierK
       |      ELSE dev2 > 0 END) THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_outliers,
       |  round(sum(CASE WHEN (CASE WHEN mad4 > 0 THEN z > $OutlierK
       |      ELSE dev2 > 0 END) THEN 1 ELSE 0 END) * 10000.0 / count(*),
       |    4) AS outlier_bp,
       |  max(z) AS max_robust_z
       |FROM s GROUP BY 1 ORDER BY 1""".stripMargin

  private def fkDiscoveryOracle: String = {
    val rows = FkCandidates.zipWithIndex.map { case ((c, fk, p, pk), i) =>
      s"""  SELECT '$c' AS child_table, '$fk' AS fk,
         |    '$p' AS parent_table, '$pk' AS pk,
         |    (SELECT CAST(count(*) AS BIGINT) FROM ck$i) AS n_child_keys,
         |    (SELECT CAST(count(*) AS BIGINT) FROM ck$i
         |      WHERE k IN (SELECT k FROM pk$i)) AS n_contained,
         |    CASE WHEN (SELECT count(*) FROM ck$i) > 0
         |      THEN round((SELECT count(*) FROM ck$i
         |          WHERE k IN (SELECT k FROM pk$i)) * 10000.0
         |        / (SELECT count(*) FROM ck$i), 4) END AS containment_bp,
         |    (SELECT CAST(count(*) AS BIGINT) FROM $p) AS n_parent_rows,
         |    (SELECT CAST(count(DISTINCT $pk) AS BIGINT) FROM $p)
         |      AS n_parent_keys,
         |    (SELECT count(DISTINCT $pk) FROM $p)
         |      = (SELECT count(*) FROM $p) AS parent_unique""".stripMargin
    }.mkString("\n  UNION ALL\n")
    val ctes = FkCandidates.zipWithIndex.map { case ((c, fk, p, pk), i) =>
      s"""ck$i AS (SELECT DISTINCT $fk AS k FROM $c
         |  WHERE $fk IS NOT NULL),
         |pk$i AS (SELECT DISTINCT $pk AS k FROM $p
         |  WHERE $pk IS NOT NULL)""".stripMargin
    }.mkString(",\n")
    s"""WITH $ctes
       |$rows
       |ORDER BY child_table, fk, parent_table, pk""".stripMargin
  }

  /** q138's synthetic changelog over orders: one change per order keyed
    * by customer, sequenced by the (unique) order key, every 19th order
    * a delete — ~8% of the 1,500 customers end deleted at sf0.01 and the
    * rest split between updated and untouched, so all three merge paths
    * carry rows.
    */
  private def changelog(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "orders").select(
      col("o_custkey").as("c_custkey"),
      col("o_orderkey").as("seq"),
      when(col("o_orderkey") % 19 === 0, lit("D")).otherwise(lit("U")).as("op"),
      concat(lit("Customer#upd"), col("o_orderkey")).as("c_name"),
      (col("o_orderkey") % 25).cast("int").as("c_nationkey"),
      col("o_totalprice").as("c_acctbal"),
      col("o_orderpriority").as("c_mktsegment"))

  val defs: Seq[QueryDef] = Seq(
    // S5/S6: information_schema.tables analogue — per-table row counts.
    QueryDef("q18_catalog_rowcounts", (s, dir) => CatalogMonitor.tableRowCounts(s, dir),
      s"$catalogCountsCte SELECT table_name, row_count FROM counts ORDER BY table_name"),

    // S4/S7 + A2/J2: table shapes (rows × columns), one local relation
    // built on the driver from footer row counts and schemas.
    QueryDef("q19_table_shapes", (s, dir) => CatalogMonitor.tableShapes(s, dir),
      Tables.all.map(tn =>
        s"SELECT '$tn' AS table_name, (SELECT count(*) FROM $tn) AS row_count, " +
        s"(SELECT count(*) FROM (DESCRIBE $tn)) AS column_count")
        .mkString("SELECT * FROM (", " UNION ALL ", ") ORDER BY table_name")),

    // S4 exact relation shape: the `show columns` analogue, including the
    // reference's autoincrement flag (NULL for Parquet — no such
    // property), oracled against DuckDB's information_schema.
    QueryDef("q19a_catalog_columns", (s, dir) => CatalogMonitor.tableColumns(s, dir), {
      // DuckDB type names → Spark simpleString names for the fixture's
      // type surface; both ordinals 0-based
      val tablesIn = Tables.all.map(t => s"'$t'").mkString("(", ", ", ")")
      s"""SELECT table_name, column_name,
         |  CASE data_type WHEN 'INTEGER' THEN 'int' WHEN 'BIGINT' THEN 'bigint'
         |    WHEN 'DOUBLE' THEN 'double' WHEN 'VARCHAR' THEN 'string'
         |    WHEN 'TIMESTAMP' THEN 'timestamp' WHEN 'FLOAT[]' THEN 'array<float>'
         |    ELSE lower(data_type) END AS data_type,
         |  CAST(ordinal_position - 1 AS INTEGER) AS ordinal,
         |  CAST(NULL AS BOOLEAN) AS autoincrement
         |FROM information_schema.columns
         |WHERE table_name IN $tablesIn
         |ORDER BY table_name, ordinal""".stripMargin
    }),

    // The database-monitor metric block (A7-A9, A11, corrected min/max).
    QueryDef("q20_db_summary", (s, dir) =>
      CatalogMonitor.databaseSummary(CatalogMonitor.tableRowCounts(s, dir)),
      s"""$catalogCountsCte, m AS (SELECT
         |  CAST(count(*) AS DOUBLE) AS table_count,
         |  CAST(sum(row_count) AS DOUBLE) AS total_rows,
         |  CAST(max(row_count) AS DOUBLE) AS max_rows,
         |  CAST(min(row_count) AS DOUBLE) AS min_rows,
         |  round(avg(row_count), 4) AS avg_rows,
         |  round(quantile_cont(CAST(row_count AS DOUBLE), 0.5), 4) AS median_rows
         |FROM counts)
         |SELECT metric, value FROM (
         |  SELECT 'table_count' AS metric, table_count AS value FROM m
         |  UNION ALL SELECT 'total_rows', total_rows FROM m
         |  UNION ALL SELECT 'max_rows', max_rows FROM m
         |  UNION ALL SELECT 'min_rows', min_rows FROM m
         |  UNION ALL SELECT 'avg_rows', avg_rows FROM m
         |  UNION ALL SELECT 'median_rows', median_rows FROM m)
         |ORDER BY metric""".stripMargin),

    // A12 argmax over the catalog: largest table.
    QueryDef("q21_largest_table", (s, dir) =>
      CatalogMonitor.largestTable(CatalogMonitor.tableRowCounts(s, dir)),
      s"$catalogCountsCte SELECT table_name, row_count FROM counts ORDER BY row_count DESC, table_name LIMIT 1"),

    // S17 + D1: cross-run row-count delta (prev run simulated as a
    // deterministic subset; semantics corrected to current - previous).
    QueryDef("q22_state_delta", (s, dir) => {
      val orders = Tables.load(s, dir, "orders")
      val prev = orders.filter(col("o_orderkey") % 7 =!= 0).count()
      val cur = orders.count()
      ChangeDetection.rowDelta("orders", prev, cur, s)
    },
      """SELECT 'orders' AS entity,
        |  (SELECT count(*) FROM orders WHERE o_orderkey % 7 <> 0) AS prev_count,
        |  (SELECT count(*) FROM orders) AS cur_count,
        |  (SELECT count(*) FROM orders)
        |    - (SELECT count(*) FROM orders WHERE o_orderkey % 7 <> 0) AS delta""".stripMargin),

    // E1: schema drift — full symmetric difference of column sets.
    QueryDef("q23_schema_drift", (s, dir) => {
      val cols = Tables.load(s, dir, "lineitem").columns.toSeq
      ChangeDetection.schemaDrift(cols.filterNot(_ == "l_tax"),
        cols.filterNot(_ == "l_quantity"), s)
    },
      """SELECT * FROM (VALUES ('added', 'l_tax'), ('removed', 'l_quantity'))
        |  AS t(change, column_name) ORDER BY change, column_name""".stripMargin),

    // S12/S13: distributed object-store inventory over the fixture dir
    // (path/size/mtime relation). No SQL oracle — DuckDB can't stat files;
    // covered by MonitorsSpec + driver rows-only check.
    QueryDef("q27_storage_inventory", (s, dir) => {
      StorageMonitor.inventory(s, Seq(dir))
        .select(col("file_name"), col("size_bytes"), col("content_type"),
          col("storage_class"), col("parts_count"),
          to_json(col("metadata")).as("metadata"))
        .orderBy("file_name")
    },
      s"""SELECT parse_filename(filename) AS file_name,
         |  CAST(size AS BIGINT) AS size_bytes,
         |  CASE WHEN filename LIKE '%.parquet' THEN 'application/vnd.apache.parquet'
         |       WHEN filename LIKE '%.json' THEN 'application/json'
         |       WHEN filename LIKE '%.csv' THEN 'text/csv'
         |       ELSE 'application/octet-stream' END AS content_type,
         |  's3 standard' AS storage_class,
         |  CAST(greatest(1, ceil(size / ${StorageMonitor.MultipartPartSizeBytes}.0))
         |    AS INTEGER) AS parts_count,
         |  '{}' AS metadata
         |FROM read_blob('$storageGlob')
         |ORDER BY file_name""".stripMargin),

    // A17/A11/A12: the prefix-monitor aggregate block.
    QueryDef("q28_storage_summary", (s, dir) => {
      StorageMonitor.prefixSummary(StorageMonitor.inventory(s, Seq(dir)))
        .select("num_objects", "total_bytes", "max_bytes", "avg_bytes", "largest_file")
    },
      s"""WITH inv AS (SELECT parse_filename(filename) AS file_name,
         |    CAST(size AS BIGINT) AS size_bytes
         |  FROM read_blob('$storageGlob'))
         |SELECT CAST(count(*) AS BIGINT) AS num_objects,
         |  CAST(sum(size_bytes) AS BIGINT) AS total_bytes,
         |  CAST(max(size_bytes) AS BIGINT) AS max_bytes,
         |  round(avg(size_bytes), 4) AS avg_bytes,
         |  (SELECT file_name FROM inv
         |   ORDER BY size_bytes DESC, file_name DESC LIMIT 1) AS largest_file
         |FROM inv""".stripMargin),

    QueryDef("q109_constraints", (s, dir) =>
      Constraints.check(Tables.load(s, dir, "orders"),
        OrderRules.map(_._1)),
      constraintsOracle),

    QueryDef("q110_ref_integrity", (s, dir) =>
      Constraints.refIntegritySuite(FkPairs.map { case (c, fk, p, pk) =>
        (Tables.load(s, dir, c), c, fk, Tables.load(s, dir, p), p, pk)
      }),
      refIntegrityOracle),

    QueryDef("q111_volume_anomaly", (s, dir) =>
      Anomaly.dailyVolumeAnomaly(Tables.load(s, dir, "events"), "ts",
        VolumeK),
      volumeOracle),

    QueryDef("q112_benford", (s, dir) =>
      Anomaly.benfordReport(Tables.load(s, dir, "orders"),
        "o_totalprice"),
      benfordOracle),

    QueryDef("q113_mad_outliers", (s, dir) =>
      Anomaly.madOutliers(Tables.load(s, dir, "documents"), "source",
        "n_chars", OutlierK),
      madOutliersOracle),

    QueryDef("q118_fk_discovery", (s, dir) =>
      Constraints.fkDiscovery(FkCandidates.map { case (c, fk, p, pk) =>
        (Tables.load(s, dir, c), c, fk, Tables.load(s, dir, p), p, pk)
      }),
      fkDiscoveryOracle),

    // CDC latest-wins snapshot: fold the order-derived changelog onto
    // customer — one changelog shuffle, one anti join, union; the base
    // is never scanned twice.
    QueryDef("q138_cdc_snapshot", (s, dir) =>
      Cdc.applyChanges(Tables.load(s, dir, "customer"),
        changelog(s, dir), "c_custkey", "seq", "op")
        .orderBy("c_custkey"),
      // Latest-wins by unique seq; deletes drop keys, upserts replace or
      // insert, untouched base rows pass through.
      """WITH ch AS (SELECT o_custkey AS k, o_orderkey AS seq,
        |    CASE WHEN o_orderkey % 19 = 0 THEN 'D' ELSE 'U' END AS op,
        |    'Customer#upd' || o_orderkey AS c_name,
        |    CAST(o_orderkey % 25 AS INTEGER) AS c_nationkey,
        |    o_totalprice AS c_acctbal, o_orderpriority AS c_mktsegment
        |  FROM orders),
        |lt AS (SELECT * FROM ch QUALIFY
        |    row_number() OVER (PARTITION BY k ORDER BY seq DESC) = 1),
        |keep AS (SELECT c.* FROM customer c
        |  WHERE c.c_custkey NOT IN (SELECT k FROM lt)),
        |up AS (SELECT k AS c_custkey, c_name, c_nationkey, c_acctbal,
        |    c_mktsegment FROM lt WHERE op <> 'D')
        |SELECT * FROM keep UNION ALL SELECT * FROM up
        |ORDER BY c_custkey""".stripMargin),

    QueryDef("q200_range_contract", (s, dir) => {
      val ev = Tables.load(s, dir, "events")
      val cut = lit(DriftQueries.PsiCutoff).cast("timestamp")
      Constraints.rangeContractReport(ev.filter(col("ts") < cut),
        ev.filter(col("ts") >= cut), "event_type", "value")
    },
      s"""WITH b AS (SELECT event_type AS k, min(value) AS lo,
         |    max(value) AS hi FROM events
         |  WHERE ts < TIMESTAMP '${DriftQueries.PsiCutoff}' GROUP BY 1),
         |c AS (SELECT e.event_type AS k, e.value AS v, b.lo, b.hi
         |  FROM events e LEFT JOIN b ON b.k = e.event_type
         |  WHERE e.ts >= TIMESTAMP '${DriftQueries.PsiCutoff}'),
         |a AS (SELECT k, lo IS NOT NULL AS known_key,
         |    CAST(round(lo * 1e6) AS BIGINT) AS lo_micro,
         |    CAST(round(hi * 1e6) AS BIGINT) AS hi_micro,
         |    CAST(count(*) AS BIGINT) AS n_cur,
         |    CAST(sum(CASE WHEN v < lo THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_below,
         |    CAST(sum(CASE WHEN v > hi THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_above
         |  FROM c GROUP BY 1, 2, 3, 4)
         |SELECT k AS event_type, known_key, lo_micro, hi_micro, n_cur,
         |  n_below, n_above,
         |  CAST(((n_below + n_above) * 1000000) // n_cur AS BIGINT)
         |    AS viol_ppm,
         |  (NOT known_key OR n_below + n_above > 0) AS flagged
         |FROM a ORDER BY event_type""".stripMargin),

    // Next-fit compaction plan of the fixture directory at 1 MiB bins.
    // The inventory is filtered to .parquet files IN the query so both
    // engines see the same file set by construction (the oracle globs
    // '*.parquet'; the recursive inventory would also pick up sidecar
    // files and nested dirs a future fixture might grow).
    QueryDef("q274_compaction_plan", (s, dir) =>
      StorageMonitor.compactionPlan(
        StorageMonitor.inventory(s, Seq(dir))
          .filter(col("extension") === "parquet"), CompactTargetBytes),
      s"""WITH inv AS (SELECT parse_filename(filename) AS file_name,
         |    CAST(size AS BIGINT) AS size_bytes
         |  FROM read_blob('$storageGlob')),
         |c AS (SELECT file_name, size_bytes,
         |    CAST(coalesce(sum(size_bytes) OVER (ORDER BY file_name
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |      AS BIGINT) AS cum_before FROM inv),
         |b AS (SELECT *, cum_before // $CompactTargetBytes AS bin FROM c)
         |SELECT CAST(bin AS BIGINT) AS bin,
         |  CAST(count(*) AS BIGINT) AS n_files,
         |  CAST(sum(size_bytes) AS BIGINT) AS total_bytes,
         |  min(file_name) AS first_file, max(file_name) AS last_file
         |FROM b GROUP BY 1 ORDER BY 1""".stripMargin),

    QueryDef("q275_compaction_execute", (s, dir) => {
      val tmp = java.nio.file.Files
        .createTempDirectory("graft-q275").toFile.getAbsolutePath
      try {
        val staged = s"$tmp/staged"
        val out = s"$tmp/out"
        Tables.load(s, dir, "events")
          .withColumn("__shard",
            pmod(col("user_id"), lit(CompactShards.toLong)))
          .repartition(col("__shard"))
          .write.partitionBy("__shard").parquet(staged)
        val inv = StorageMonitor.inventory(s, Seq(staged))
          .filter(col("extension") === "parquet")
        val maxFile = inv.agg(max(col("size_bytes").cast("long")))
          .head().getLong(0)
        val manifest = StorageMonitor
          .compact(s, inv, CompactExecTargetBytes, out)
          .collect() // bin grain: stat rows
        val nBins = manifest.length.toLong
        val filesIn = manifest.map(_.getAs[Long]("n_files_in")).sum
        val bytesIn = manifest.map(_.getAs[Long]("bytes_in")).sum
        val filesOut = manifest.map(_.getAs[Long]("n_files_out")).sum
        val rows = manifest.map(_.getAs[Long]("n_rows")).sum
        // next-fit lower bound: a bin holds < target + maxFile bytes
        // (it closes at the first file crossing a target boundary, and
        // only its LAST file can overshoot), so bins >= ceil(B/(t+max))
        // — certain at every SF, unlike ceil(B/t), which oversized
        // single files break by skipping bin ids
        val minBins = (bytesIn + CompactExecTargetBytes + maxFile - 1) /
          (CompactExecTargetBytes + maxFile)
        s.createDataFrame(
          s.sparkContext.parallelize(Seq(Row(
            filesIn.toInt, rows,
            filesOut == nBins,
            nBins >= minBins,
            nBins <= filesIn)), 1),
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("n_files_in",
              org.apache.spark.sql.types.IntegerType, nullable = false),
            org.apache.spark.sql.types.StructField("total_rows",
              org.apache.spark.sql.types.LongType, nullable = false),
            org.apache.spark.sql.types.StructField("one_file_per_bin",
              org.apache.spark.sql.types.BooleanType, nullable = false),
            org.apache.spark.sql.types.StructField("bins_lower_ok",
              org.apache.spark.sql.types.BooleanType, nullable = false),
            org.apache.spark.sql.types.StructField("bins_upper_ok",
              org.apache.spark.sql.types.BooleanType, nullable = false))))
      } finally {
        // the result row is materialized — the staging tree can go
        graft.util.TempDirs.rm(tmp)
      }
    },
      s"""SELECT CAST($CompactShards AS INTEGER) AS n_files_in,
         |  CAST(count(*) AS BIGINT) AS total_rows,
         |  TRUE AS one_file_per_bin,
         |  TRUE AS bins_lower_ok,
         |  TRUE AS bins_upper_ok
         |FROM events""".stripMargin),

    // The O1/O2 orchestration surface ORACLED end-to-end: the fan-out
    // runner monitors every warehouse table concurrently into the
    // shared sink (S15), and the fan-in aggregate recomputes the
    // Snowflake DAG's XCom mean. Hashable projection: the per-table
    // record counts plus the fan-in mean in CENTS — the sink stores
    // rint(mean*100)/100 and rint is half-even, which DuckDB states as
    // round_even; mean*100 = sum*100/8 is exact in doubles, so both
    // engines round the identical value. Fresh temp state per call
    // (removed once the result is checkpointed), so every table is
    // profiled and no delta keys appear; the key filter makes the
    // projection deterministic under the runner's thread-ordering.
    QueryDef("q276_monitor_fanout_fanin", (s, dir) =>
      graft.util.TempDirs.withTempDir("graft-q276") { tmp =>
        MonitorRunner.run(s, dir, Tables.warehouse, s"$tmp/state")
          .filter(col("key").endsWith(".record_count") ||
            col("key") === "all_tables.mean_record_count")
          .select(col("key"),
            round(col("valueDouble") * 100).cast("long").as("value_cents"))
          .orderBy("key").localCheckpoint()
      }, {
      val unions = Tables.warehouse.map(t =>
        s"SELECT '$t' AS t, CAST(count(*) AS BIGINT) AS cnt FROM $t")
        .mkString("\nUNION ALL ")
      s"""WITH c AS ($unions),
         |m AS (SELECT CAST(round_even(sum(cnt) * 100.0 / count(*), 0)
         |    AS BIGINT) AS cents FROM c)
         |SELECT t || '.record_count' AS key, cnt * 100 AS value_cents
         |FROM c
         |UNION ALL
         |SELECT 'all_tables.mean_record_count', cents FROM m
         |ORDER BY key""".stripMargin
    }))
}
