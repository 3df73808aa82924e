package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.hadoop.fs.Path

/** Row tracking — Delta's public row-ID design re-expressed on the `_v-N`
  * snapshot layout: every row owns a STABLE long `_row_id`, minted once from
  * a per-table high-water mark and carried unchanged through every rewrite of
  * the row, so two arbitrary versions can be diffed by row identity with a
  * single long-keyed join — no natural key, no stored change capture.
  *
  * What the id buys at 100 TB:
  *   - **Keyless / wide-key CDC**: [[diff]] shuffles on ONE long column
  *     instead of a composite natural key, and works on tables that have no
  *     key at all (raw-text corpora, event slices).
  *   - **Layout changes are provably invisible**: compaction / clustering
  *     rewrites ([[rewrite]]) keep every id, so `diff(before, after)` is
  *     EMPTY — a downstream consumer can tell "data changed" from "files
  *     changed", which a file-level comparison cannot.
  *   - **Key updates stay updates**: a keyed diff classifies a changed key
  *     as delete+insert; a row-id diff sees the same ROW mutate.
  *
  * Protocol: ids are materialized as a `_row_id` column in the (immutable)
  * version data files — Delta's "materialized row ids" mode, the right
  * choice on a layout whose commits stage whole snapshots. The mint
  * high-water mark lives in a `_row_hwm` sidecar written into the staged
  * dir BEFORE the pointer flip (same atomicity contract as the txn
  * markers), and only ever grows: a deleted row's id retires forever —
  * re-minting it would silently resurrect the old row's identity in every
  * downstream id-keyed store.
  *
  * Fresh-id assignment is O(delta), distributed: range-repartition +
  * zipWithIndex via [[SurrogateKeys.assign]] — never a single-partition
  * global window, never `monotonically_increasing_id` (not stable across
  * runs/retries).
  */
object RowTracking {

  /** The materialized row-identity column (Delta: `row_id`). */
  val RowId = "_row_id"

  private val HwmName = "_row_hwm"

  private def fsOf(spark: SparkSession, dir: String) =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Ids minted so far as of `version` (next fresh id = hwm + 1). Fails
    * loudly on a version without the sidecar — mixing tracked and untracked
    * commits on one table is a protocol violation.
    */
  def highWaterMark(spark: SparkSession, dir: String, version: Long): Long = {
    val fs = fsOf(spark, dir)
    MetaFile.read(fs,
        new Path(VersionedTable.verDir(dir, version), HwmName))
      .map(_.trim.toLong)
      .getOrElse(sys.error(s"RowTracking($dir): version $version has no " +
        s"$HwmName — not a row-tracked table?"))
  }

  /** Stage `df` (which must carry [[RowId]]), plant the hwm sidecar inside
    * the staged dir, publish. A crash between stage and publish leaves the
    * live version untouched and the next write sweeps the orphan.
    */
  private def commitTracked(df: DataFrame, dir: String, hwm: Long): Long = {
    val spark = df.sparkSession
    require(df.columns.contains(RowId), s"commitTracked: frame lacks $RowId")
    val next = VersionedTable.stage(df, dir)
    val fs = fsOf(spark, dir)
    MetaFile.write(fs, new Path(VersionedTable.verDir(dir, next), HwmName), hwm.toString)
    VersionedTable.publish(spark, dir, next)
    next
  }

  /** Bootstrap a tracked table: every row minted fresh (ids 1..n in
    * `orderCols` order — the order only fixes WHICH row gets WHICH id so
    * reruns are deterministic; consumers must treat ids as opaque).
    * `orderCols` must uniquely identify rows.
    */
  def init(df: DataFrame, dir: String, orderCols: Seq[String]): Long = {
    val n = df.count()
    commitTracked(SurrogateKeys.assign(df, RowId, 0L, orderCols), dir, n)
  }

  /** Commit a FULL new snapshot, preserving row identity through a natural
    * key: rows whose `keyCols` match the live snapshot KEEP their id (even
    * when every data column changed); unmatched new rows mint fresh ids
    * above the high-water mark; live rows absent from the snapshot are
    * deletes and their ids retire. `newSnapshot` must not already carry
    * [[RowId]]; `keyCols` must be unique in both snapshots.
    *
    * One key-shuffle join (the same work the MERGE itself does) plus an
    * O(fresh) id assignment.
    */
  def merge(newSnapshot: DataFrame, dir: String, keyCols: Seq[String],
      orderCols: Seq[String]): Long = {
    val spark = newSnapshot.sparkSession
    require(!newSnapshot.columns.contains(RowId),
      s"merge: snapshot must not pre-carry $RowId")
    val live = VersionedTable.currentVersion(spark, dir).getOrElse(
      sys.error(s"RowTracking.merge($dir): no complete snapshot — use init"))
    val hwm = highWaterMark(spark, dir, live)
    val ids = VersionedTable.readVersion(spark, dir, live)
      .select(keyCols.map(col) :+ col(RowId): _*)
    val joined = newSnapshot.join(ids, keyCols, "left")
    val matched = joined.filter(col(RowId).isNotNull)
    val fresh = joined.filter(col(RowId).isNull).drop(RowId)
    val nFresh = fresh.count()
    val withIds =
      if (nFresh == 0L) matched
      else matched.unionByName(SurrogateKeys.assign(fresh, RowId, hwm, orderCols))
    // the union lazily reads the live dir — immutable until gc, so no
    // checkpoint is needed before staging the successor version
    commitTracked(withIds, dir, hwm + nFresh)
  }

  /** Layout-only rewrite (the OPTIMIZE/compaction shape): identical rows,
    * identical ids, hwm carried — [[diff]] across the new version is empty
    * by construction, which is the whole point of tracking.
    */
  def rewrite(spark: SparkSession, dir: String, numFiles: Int): Long = {
    val live = VersionedTable.currentVersion(spark, dir).getOrElse(
      sys.error(s"RowTracking.rewrite($dir): no complete snapshot"))
    val hwm = highWaterMark(spark, dir, live)
    commitTracked(
      VersionedTable.readVersion(spark, dir, live).repartition(numFiles),
      dir, hwm)
  }

  /** Diff two retained versions by ROW IDENTITY: inserts (id only in `v1`),
    * deletes (id only in `v0`), updates (id in both, any column differing
    * null-safely) as preimage/postimage rows under the ChangeFeed column
    * contract. One full-outer join on one long column — O(|v0|+|v1|)
    * shuffle, no capture files required.
    */
  def diff(spark: SparkSession, dir: String, v0: Long, v1: Long): DataFrame =
    ChangeFeed.diff(
      Some(VersionedTable.readVersion(spark, dir, v0)),
      VersionedTable.readVersion(spark, dir, v1),
      Seq(RowId))
}
