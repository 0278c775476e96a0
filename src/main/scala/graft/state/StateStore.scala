package graft.state

import java.io.FileNotFoundException

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.types.StructType

/** Cross-run key-value state (SURVEY S17).
  *
  * The reference persists per-table state (previous record count, previous
  * column list) in Airflow Variables between scheduled runs
  * (`/root/reference/Snowflake/snowflake_table_monitor.py:97-113`). Here the
  * state is a Parquet table keyed by (entity, key) holding the latest
  * snapshot. State rows are metric-sized, never data-sized, so each store
  * keeps the snapshot it last read or wrote as a driver-side map:
  *
  *  - [[get]] answers from the map, with no Spark job.
  *  - [[upsert]]/[[putAll]] merge into the map (same (entity, key) rows are
  *    replaced, everything else is carried forward) and write the merged
  *    rows as the new snapshot: one write job to `path.tmp`, then an
  *    atomic swap (delete `path`, rename `path.tmp`).
  *  - Before either, the store lists the snapshot directory (one
  *    `listStatus`, no Spark job) and compares file names, sizes and
  *    modification times with the snapshot it holds. Spark names every
  *    output file after its write job, so any other writer — a second
  *    instance on the same path, another process, a store reopened later —
  *    shows as a mismatch, and the store reloads the snapshot (one job)
  *    before answering or merging.
  *  - The reload is skipped when the listing matches the snapshot this
  *    process last read or wrote at the path, through any store: a new
  *    store on an unchanged snapshot (one per `MonitorRunner.run`) answers
  *    with no Spark job. The same stamp comparison guards it, so another
  *    process's write still forces the one read job.
  *
  * `Monitors.tableMonitor` keeps here, per table, the reference's record
  * count and columns plus the listing signature and the metrics it last
  * emitted; a call that finds the same signature replays those metrics
  * with no Spark job, and writes only when a value changed.
  * `MonitorRunner.run` writes the changed rows of all its targets in one
  * [[putAll]] after its fan-out.
  *
  * A process that dies between the delete and the rename leaves only a
  * complete `path.tmp` (one with `_SUCCESS`); [[read]] and the reload
  * recover the snapshot from it, and the next upsert completes the swap.
  */
class StateStore(path: String) {

  private val schema = StructType.fromDDL(
    "entity string, key string, value string, updated_ts timestamp")
  private val dst = new Path(path)
  private val tmp = new Path(path + ".tmp")

  import StateStore.{Snapshot, Stamp}

  // the snapshot this instance last read or wrote, and its listing
  // (None until the first load; an empty stamp means "no snapshot on disk")
  private var snapshot: Snapshot = Map.empty
  private var stamp: Option[Stamp] = None

  private def fs(spark: SparkSession): FileSystem =
    dst.getFileSystem(spark.sessionState.newHadoopConf())

  private def listing(fs: FileSystem, dir: Path): Option[Stamp] =
    try Some(fs.listStatus(dir).toSeq.filter(_.isFile)
      .map(s => (s.getPath.getName, s.getLen, s.getModificationTime)).sorted)
    catch { case _: FileNotFoundException => None }

  /** The directory holding the current snapshot and its stamp: `path`,
    * else a complete `path.tmp` left by a crash between upsert's delete
    * and rename, else none.
    */
  private def current(fs: FileSystem): Option[(Path, Stamp)] =
    listing(fs, dst).filter(_.nonEmpty).map(dst -> _)
      .orElse(listing(fs, tmp).filter(_.exists(_._1 == "_SUCCESS")).map(tmp -> _))

  private def load(spark: SparkSession, dir: Path): DataFrame =
    spark.read.schema(schema).parquet(dir.toString)

  /** The snapshot on disk. */
  def read(spark: SparkSession): DataFrame =
    current(fs(spark)).fold(
      spark.createDataFrame(java.util.Collections.emptyList[Row](), schema)) {
      case (dir, _) => load(spark, dir)
    }

  /** Brings the map up to the snapshot on disk: a listing, plus one read
    * job only when the snapshot is neither the one this instance holds nor
    * the one this process last read or wrote at the path.
    */
  private def refresh(spark: SparkSession, fs: FileSystem): Unit = {
    val cur = current(fs)
    val curStamp = cur.fold(Seq.empty: Stamp)(_._2)
    if (!stamp.contains(curStamp)) {
      val key = fs.makeQualified(dst).toString
      snapshot = cur.fold(Map.empty: Snapshot) { case (dir, _) =>
        Option(StateStore.latest.get(key)).collect { case (s, m) if s == curStamp => m }
          .getOrElse {
            val loaded = load(spark, dir).collect()
              .map(r => (r.getString(0), r.getString(1)) -> r).toMap
            StateStore.latest.put(key, (curStamp, loaded))
            loaded
          }
      }
      stamp = Some(curStamp)
    }
  }

  /** Overwrite-by-key upsert: rows in `updates` replace same-(entity,key)
    * rows; everything else is carried forward.
    *
    * Synchronized on this store: the merge is a read-modify-write of the
    * whole snapshot, so two concurrent upserts (parallel monitors) would
    * each merge against the pre-state and the loser's rows would vanish.
    * The section holds one listing and one write job; callers that need
    * fewer rewrites should batch several keys into ONE upsert.
    */
  def upsert(spark: SparkSession, updates: DataFrame): Unit =
    merge(spark, updates.select("entity", "key", "value", "updated_ts").collect().toSeq)

  private def merge(spark: SparkSession, updates: Seq[Row]): Unit = synchronized {
    val fs0 = fs(spark)
    refresh(spark, fs0)
    val merged = snapshot ++ updates.map(r => (r.getString(0), r.getString(1)) -> r)
    spark.createDataFrame(merged.toSeq.sortBy(_._1).map(_._2).asJava, schema)
      .coalesce(1).write.mode(SaveMode.Overwrite).parquet(tmp.toString)
    // the rename keeps file names and times, so the stamp of path.tmp is
    // the stamp of the new snapshot — taken before any other writer can
    // replace it
    val written = listing(fs0, tmp).getOrElse(Seq.empty)
    fs0.delete(dst, true)
    fs0.rename(tmp, dst)
    snapshot = merged
    stamp = Some(written)
    StateStore.latest.put(fs0.makeQualified(dst).toString, (written, merged))
  }

  def get(spark: SparkSession, entity: String, key: String): Option[String] =
    entries(spark, entity).get(key)

  /** Every key of `entity` with its value, from one refresh under the lock. */
  def entries(spark: SparkSession, entity: String): Map[String, String] =
    synchronized {
      refresh(spark, fs(spark))
      snapshot.collect { case ((e, k), r) if e == entity => k -> r.getString(2) }
    }

  def put(spark: SparkSession, entity: String, key: String, value: String): Unit =
    putAll(spark, Seq((entity, key, value)))

  /** Batched put: one snapshot rewrite for any number of keys. */
  def putAll(spark: SparkSession, rows: Seq[(String, String, String)]): Unit = {
    val ts = new java.sql.Timestamp(System.currentTimeMillis())
    merge(spark, rows.map { case (e, k, v) => Row(e, k, v, ts) })
  }
}

object StateStore {

  // (name, length, modification time) of every file in a snapshot directory
  private type Stamp = Seq[(String, Long, Long)]
  // the snapshot's rows by (entity, key)
  private type Snapshot = Map[(String, String), Row]

  /** Per qualified snapshot path, the (stamp, snapshot) this process last
    * read or wrote there. A store whose listing matches the stamp adopts
    * the snapshot instead of reloading it; any other writer changes the
    * listing. One metric-sized map per path the process has used.
    */
  private val latest = new java.util.concurrent.ConcurrentHashMap[String, (Stamp, Snapshot)]()
}

/** Change-detection operators over current vs previous snapshots
  * (SURVEY D1 row delta, E1 schema drift).
  */
object ChangeDetection {

  /** Row-count delta: `current - previous` as long. (The reference computes
    * `previous - current` on a stringly-typed Variable —
    * `/root/reference/Snowflake/snowflake_table_monitor.py:101-102` — a
    * latent type bug; we deliberately emit the corrected signed delta.)
    */
  def rowDelta(entity: String, prevCount: Long, curCount: Long,
      spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq((entity, prevCount, curCount, curCount - prevCount))
      .toDF("entity", "prev_count", "cur_count", "delta")
  }

  /** Schema drift between two column sets: emits BOTH removed and added
    * columns (the reference only reports removed —
    * `/root/reference/Snowflake/snowflake_table_monitor.py:105` — noted in
    * SURVEY §7.4; we report the full symmetric difference).
    * Output: (change, column_name), sorted — computed on the driver.
    */
  def schemaChanges(prevCols: Seq[String], curCols: Seq[String]): Seq[(String, String)] =
    (prevCols.diff(curCols).map(("removed", _)) ++
      curCols.diff(prevCols).map(("added", _))).sorted

  /** [[schemaChanges]] as a (change, column_name) DataFrame. */
  def schemaDrift(prevCols: Seq[String], curCols: Seq[String],
      spark: SparkSession): DataFrame = {
    import spark.implicits._
    schemaChanges(prevCols, curCols).toDF("change", "column_name")
  }
}
