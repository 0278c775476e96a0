package graft
package registry

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructType}

import graft.sources.{FormatRoundTrip, Sources}
import graft.streaming.{ContinuousMonitor, StreamingIngest}
import graft.streaming.StreamingIngest.IngestPaths
import graft.util.TempDirs

/** Streaming and ingest: Structured Streaming drains, streaming
  * near-duplicate ingest, interval joins and file-format round trips.
  */
object IngestQueries extends QueryModule {

  private val streamCounter = new java.util.concurrent.atomic.AtomicInteger(0)

  // eager localCheckpoint materializes the one checksum row before the
  // staging files go (same lifetime law as q275's collect)
  private def roundTrip(prefix: String)(body: String => DataFrame): DataFrame =
    TempDirs.withTempDir(prefix)(tmp => body(tmp).localCheckpoint())

  /** The hostile-text derivation, stated in DuckDB (chr(10) newline,
    * chr(92) backslash, chr(9) tab, chr(8364)/chr(20013)/chr(233) =
    * € 中 é) — byte-identical to [[FormatRoundTrip.HostileSuffixes]].
    */
  private val hostileSql =
    """SELECT doc_id,
      |    text || CASE CAST(doc_id % 4 AS INTEGER)
      |      WHEN 0 THEN chr(10) || 'line2,"q"'
      |      WHEN 1 THEN chr(92) || 'slash' || chr(9)
      |      WHEN 2 THEN ' ' || chr(8364) || chr(20013) || chr(233)
      |      ELSE ',comma "quoted"' END AS text2,
      |    lang FROM documents""".stripMargin

  /** 60-bit md5 fingerprint (Spark `conv(substring(md5(s),1,15),16,10)`
    * parity).
    */
  private def fp(s: String): String =
    s"CAST(concat('0x', substring(md5($s), 1, 15)) AS BIGINT)"

  /** Shared with q282's codec-matrix oracle. */
  private[graft] val docChecksumSql =
    s"""SELECT CAST(count(*) AS BIGINT) AS n_rows,
       |  CAST(0 AS BIGINT) AS n_corrupt,
       |  CAST(sum(length(text2)) AS BIGINT) AS total_chars,
       |  CAST(count(DISTINCT md5(text2)) AS BIGINT) AS n_distinct,
       |  CAST(count(*) FILTER (contains(text2, chr(10))) AS BIGINT) AS n_multiline,
       |  CAST(bit_xor(${fp("concat_ws('|', doc_id, text2, lang)")}) AS BIGINT) AS row_xor,
       |  min(md5(concat_ws('|', doc_id, text2, lang))) AS md5_min
       |FROM ($hostileSql)""".stripMargin

  /** Malformed raw lines salted into EACH delivery by [[delivery]] —
    * the single source for the oracles’ quarantine counts (q280 pins
    * 4 deliveries × this; q281 pins it per batch). Changing the
    * staging convention changes the oracles WITH it.
    */
  val MalformedPerDelivery: Int = 1

  private val DocsSchema = new StructType()
    .add("doc_id", LongType).add("text", StringType).add("lang", StringType)
    .add("source", StringType).add("n_chars", LongType)

  /** Stage delivery k (`doc_id % 4 == k` as JSONL + one raw malformed
    * line) under `tmp/in$k` and read it back under the validated
    * posture — shared by q280 (exact tier) and q281 (near-dup tier).
    */
  private def delivery(s: SparkSession, dir: String, tmp: String, k: Int): DataFrame = {
    val in = s"$tmp/in$k"
    Tables.load(s, dir, "documents")
      .filter(pmod(col("doc_id"), lit(4L)) === k)
      .write.mode("overwrite").json(in)
    // MalformedPerDelivery raw lines (no Spark crc sidecar) — must
    // land in quarantine, never the corpus
    (0 until MalformedPerDelivery).foreach(i =>
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"$in/zz-malformed$i.json"),
        s"""{"doc_id": ${90000 + 10 * i + k}, "text": unquoted}\n"""))
    Sources.readValidated(s, in, DocsSchema, "json")
  }

  val defs: Seq[QueryDef] = Seq(
    // O4/§2.8: the SAME hourly aggregate as a Structured Streaming query,
    // drained with Trigger.AvailableNow — streaming output must equal the
    // batch oracle.
    QueryDef("q26_streaming_hourly", (s, dir) => {
      val streaming = ContinuousMonitor.hourlyEventCounts(s, Tables.path(dir, "events"))
      val name = s"streaming_hourly_${streamCounter.incrementAndGet()}"
      ContinuousMonitor.runToCompletion(s, streaming, name)
        .orderBy("window_start", "event_type")
    },
      """SELECT date_trunc('hour', ts) AS window_start, event_type,
        |  count(*) AS cnt, round(sum(value), 2) AS sum_value
        |FROM events GROUP BY window_start, event_type
        |ORDER BY window_start, event_type""".stripMargin),

    // The stream-stream interval join's BATCH twin (watermarks no-op):
    // every purchase within the hour before each click. Oracled here;
    // the streaming form + kill-restart ≡ this relation is Round9bSpec.
    QueryDef("q272_interval_join", (s, dir) =>
      graft.streaming.StreamingOps.intervalJoinStream(
        Tables.load(s, dir, "events")
          .select(col("user_id").cast("long"), col("ts"),
            col("event_type"), col("event_id").cast("long"),
            col("value").cast("double")),
        window = "1 hour")
        .orderBy("user_id", "click_id", "p_event"),
      """SELECT c.user_id, c.event_id AS click_id, c.ts AS click_ts,
        |  p.event_id AS p_event, p.value AS p_value, p.ts AS p_ts
        |FROM events c JOIN events p ON p.user_id = c.user_id
        |  AND c.event_type = 'click' AND p.event_type = 'purchase'
        |  AND p.ts <= c.ts AND p.ts >= c.ts - INTERVAL 1 HOUR
        |ORDER BY c.user_id, click_id, p_event""".stripMargin),

    QueryDef("q277_jsonl_roundtrip", (s, dir) => roundTrip("graft-q277") { tmp =>
      FormatRoundTrip.jsonlRoundTrip(s,
        Tables.load(s, dir, "documents"), s"$tmp/docs-jsonl")
    },
      docChecksumSql),

    QueryDef("q278_csv_roundtrip", (s, dir) => roundTrip("graft-q278") { tmp =>
      FormatRoundTrip.csvRoundTrip(s,
        Tables.load(s, dir, "documents"), s"$tmp/docs-csv")
    },
      docChecksumSql),

    QueryDef("q279_orc_roundtrip", (s, dir) => roundTrip("graft-q279") { tmp =>
      FormatRoundTrip.orcRoundTrip(s,
        Tables.load(s, dir, "events"), s"$tmp/events-orc")
    }, {
      val epoch = "CAST(floor(epoch(ts)) AS BIGINT)"
      val cents = "CAST(round_even(value * 100, 0) AS BIGINT)"
      s"""SELECT CAST(count(*) AS BIGINT) AS n_rows,
         |  CAST(sum(event_id) AS BIGINT) AS id_sum,
         |  CAST(sum($epoch) AS BIGINT) AS ts_epoch_sum,
         |  CAST(sum($cents) AS BIGINT) AS value_cents,
         |  CAST(count(DISTINCT event_type) AS BIGINT) AS n_types,
         |  CAST(bit_xor(${fp(
             s"concat_ws('|', event_id, $epoch, user_id, event_type, $cents, props)")}) AS BIGINT) AS row_xor
         |FROM events""".stripMargin
    }),

    QueryDef("q280_stream_ingest_e2e", (s, dir) => {
      val tmp = java.nio.file.Files
        .createTempDirectory("graft-q280").toFile.getAbsolutePath
      try {
        val paths = IngestPaths(s"$tmp/corpus", s"$tmp/store", s"$tmp/quarantine")
        // deliveries 0,1,2 — then REPLAY 2 (same input, same batch id:
        // the foreachBatch crash-recovery path) — then 3
        Seq(0, 1, 2).foreach(k =>
          StreamingIngest.processBatch(delivery(s, dir, tmp, k), k, paths))
        StreamingIngest.processBatch(delivery(s, dir, tmp, 2), 2, paths)
        StreamingIngest.processBatch(delivery(s, dir, tmp, 3), 3, paths)

        val nQuarantined = StreamingIngest.quarantined(s, paths)
          .map(_.count()).getOrElse(0L)
        val rowStr = concat_ws("|", col("doc_id"), col("text"), col("lang"),
          col("source"), col("n_chars"), col("ingest_batch"))
        val out = StreamingIngest.corpus(s, paths)
          .withColumn("h",
            conv(substring(md5(rowStr), 1, 15), 16, 10).cast(LongType))
          .agg(
            count(lit(1)).as("n_docs"),
            sum("doc_id").cast(LongType).as("id_sum"),
            sum("ingest_batch").cast(LongType).as("batch_sum"),
            lit(nQuarantined).as("n_quarantined"),
            sum(length(col("text"))).cast(LongType).as("total_chars"),
            expr("bit_xor(h)").as("row_xor"))
          .localCheckpoint() // materialize before the staging tree goes
        // staging-scoped external store: drop its catalog entry too
        StreamingIngest.dropStoreTables(s, paths)
        out
      } finally TempDirs.rm(tmp)
    }, {
      s"""WITH d AS (SELECT doc_id, text, lang, source, n_chars,
         |    CAST(doc_id % 4 AS BIGINT) AS b,
         |    ${DedupQueries.fingerprintSql} AS fp FROM documents),
         |s AS (SELECT *, row_number()
         |    OVER (PARTITION BY fp ORDER BY b, doc_id) AS rn FROM d)
         |SELECT CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(doc_id) AS BIGINT) AS id_sum,
         |  CAST(sum(b) AS BIGINT) AS batch_sum,
         |  CAST(${4 * MalformedPerDelivery} AS BIGINT) AS n_quarantined,
         |  CAST(sum(length(text)) AS BIGINT) AS total_chars,
         |  CAST(bit_xor(${fp(
             "concat_ws('|', doc_id, text, lang, source, n_chars, b)")}) AS BIGINT) AS row_xor
         |FROM s WHERE rn = 1""".stripMargin
    }),

    QueryDef("q281_stream_neardup_ingest", (s, dir) => TempDirs.withTempDir("graft-q281") { tmp =>
      val paths = IngestPaths(s"$tmp/corpus", s"$tmp/store", s"$tmp/quarantine")
      def run(k: Int): org.apache.spark.sql.Row =
        StreamingIngest.processBatchNearDup(delivery(s, dir, tmp, k), k, paths)
          .collect().head
      // deliveries 0, 1 — REPLAY 1 (crash-recovery path) — 2, 3; the
      // emitted batch-1 row is the REPLAY's, and replay_ok pins its
      // equality with the first attempt
      val r0 = run(0)
      val r1a = run(1)
      val r1b = run(1)
      val rest = Seq(run(2), run(3))
      // the store tables are external + staging-scoped: drop their
      // catalog entries before the staging tree goes
      StreamingIngest.dropStoreTables(s, paths)
      val replayOk = r1a.toSeq == r1b.toSeq
      val rows = (Seq(r0, r1b) ++ rest).map(r => org.apache.spark.sql.Row(
        r.toSeq :+ replayOk: _*))
      s.createDataFrame(
        s.sparkContext.parallelize(rows, 1),
        org.apache.spark.sql.types.StructType(
          StreamingIngest.DeliveryReportSchema.fields :+
            org.apache.spark.sql.types.StructField("replay_ok",
              org.apache.spark.sql.types.BooleanType, nullable = false)))
        .orderBy("ingest_batch")
    }, {
      // The near-dup ingest law unrolled batch-by-batch: verified pairs
      // come from the SAME CTE chain as q33/q74 (global band collisions +
      // bigram Jaccard >= 0.5); w = within-batch drops (any lower-id
      // same-batch partner); a_k = batch-k docs verifying against an
      // earlier-batch SURVIVOR; s_k = the survivors the store carries
      // forward. replay_ok is certain-true by the operator's replay law.
      def aK(k: Int, prior: String): String =
        s"""a$k AS (SELECT DISTINCT dd.doc_id FROM d dd
           |  JOIN ps ON ps.u = dd.doc_id
           |  JOIN ($prior) sv ON sv.doc_id = ps.v
           |  WHERE dd.b = $k)""".stripMargin
      def sK(k: Int): String =
        s"""s$k AS (SELECT doc_id FROM d WHERE b = $k
           |  AND doc_id NOT IN (SELECT doc_id FROM a$k)
           |  AND doc_id NOT IN (SELECT doc_id FROM w))""".stripMargin
      def report(k: Int): String =
        s"""SELECT CAST($k AS BIGINT) AS ingest_batch,
           |  (SELECT count(*) FROM d WHERE b = $k) AS n_in,
           |  CAST($MalformedPerDelivery AS BIGINT) AS n_corrupt,
           |  (SELECT count(*) FROM a$k) AS n_dropped_store,
           |  (SELECT count(*) FROM d JOIN w USING (doc_id) WHERE b = $k
           |     AND doc_id NOT IN (SELECT doc_id FROM a$k)) AS n_dropped_within,
           |  (SELECT count(*) FROM s$k) AS n_kept,
           |  TRUE AS replay_ok""".stripMargin
      s"""WITH ${DedupQueries.minhashPairsCtes},
         |p AS (SELECT doc_a, doc_b FROM j WHERE jaccard >= 0.5),
         |ps AS (SELECT doc_a AS u, doc_b AS v FROM p
         |  UNION ALL SELECT doc_b, doc_a FROM p),
         |d AS (SELECT doc_id, CAST(doc_id % 4 AS BIGINT) AS b FROM documents),
         |w AS (SELECT DISTINCT d2.doc_id FROM d d2
         |  JOIN ps ON ps.u = d2.doc_id
         |  JOIN d d1 ON d1.doc_id = ps.v AND d1.b = d2.b
         |    AND d1.doc_id < d2.doc_id),
         |a0 AS (SELECT doc_id FROM d WHERE FALSE),
         |${sK(0)},
         |${aK(1, "SELECT doc_id FROM s0")},
         |${sK(1)},
         |${aK(2, "SELECT doc_id FROM s0 UNION ALL SELECT doc_id FROM s1")},
         |${sK(2)},
         |${aK(3, "SELECT doc_id FROM s0 UNION ALL SELECT doc_id FROM s1" +
             " UNION ALL SELECT doc_id FROM s2")},
         |${sK(3)}
         |${report(0)}
         |UNION ALL ${report(1)}
         |UNION ALL ${report(2)}
         |UNION ALL ${report(3)}
         |ORDER BY ingest_batch""".stripMargin
    }),

    QueryDef("q282_codec_roundtrip", (s, dir) =>
      TempDirs.withTempDir("graft-q282") { tmp =>
        FormatRoundTrip.codecMatrixChecksums(s,
          Tables.load(s, dir, "documents"), tmp).localCheckpoint()
      }, {
      val cells = FormatRoundTrip.CodecMatrix
        .map { case (f, c) => s"('$f', '$c')" }.mkString(", ")
      s"""WITH ck AS (${docChecksumSql})
         |SELECT m.format, m.codec, ck.*, TRUE AS smaller_than_plain
         |FROM (VALUES $cells) AS m(format, codec) CROSS JOIN ck
         |ORDER BY m.format, m.codec""".stripMargin
    }))
}
