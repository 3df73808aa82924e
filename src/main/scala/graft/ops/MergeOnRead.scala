package graft.ops

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.hadoop.fs.Path
import graft.source.GraftMeta

/** Merge-on-read deletes — the other half of the delete design space.
  * q182's [[VersionedTable.deleteRange]] is copy-on-write: the delete pays
  * write amplification once (affected files re-encoded) and reads stay
  * clean. Merge-on-read inverts the trade (Iceberg position/equality
  * deletes, Delta deletion vectors — public designs): a delete writes ONLY
  * a small tombstone file and touches no data file at all; every reader
  * anti-joins the accumulated tombstones until a compaction folds them in.
  * Right when deletes are frequent and small relative to scans of the same
  * data — the GDPR drip-feed — and the compaction amortizes the read tax
  * away on a maintenance schedule.
  *
  * Layout under `dir`:
  * {{{
  *   dir/data/            # a VersionedTable: immutable data versions
  *   dir/_tombstones/     # parquet key files, one per delete call
  * }}}
  *
  * Tombstones are EQUALITY deletes on a key column (the Iceberg form that
  * needs no row-position bookkeeping): readers drop any row whose key
  * appears in any tombstone file. The key set is assumed dim-sized
  * (broadcast side); position deletes are the follow-up when keys are not
  * compact. Readers remain correct mid-flight because a tombstone file is
  * visible only once fully written (parquet commit), and compaction
  * commits the folded read as the data table's next version through the
  * pointer flip. The read lazily reads the live version, which is immutable
  * until [[VersionedTable.gc]], so the fold needs no checkpoint.
  */
object MergeOnRead {

  val DataDir = "data"
  val TombstoneDir = "_tombstones"

  private def table(dir: String): String = s"$dir/$DataDir"

  def init(df: DataFrame, dir: String): Unit =
    VersionedTable.write(df, table(dir))

  /** Record a delete of `keys` (single-column frame named `key`) — writes
    * one tombstone file; data files are NOT touched.
    */
  def delete(keys: DataFrame, dir: String): Unit = {
    require(keys.columns.toSeq == Seq("key"),
      s"delete: tombstone frame must be a single 'key' column, got ${keys.columns.toSeq}")
    keys.coalesce(1).write.mode(SaveMode.Append).parquet(s"$dir/$TombstoneDir")
  }

  /** The side files under `dir/side` as one frame, None when there are none. */
  private def sideFiles(spark: SparkSession, dir: String, side: String): Option[DataFrame] = {
    val p = new Path(s"$dir/$side")
    if (VersionedTable.fsOf(spark, dir).exists(p)) Some(spark.read.parquet(p.toString)) else None
  }

  /** Read with tombstones applied: a broadcast anti-join on the key column
    * — the per-read tax merge-on-read pays until [[compact]].
    */
  def read(spark: SparkSession, dir: String, keyCol: String): DataFrame = {
    val data = VersionedTable.read(spark, table(dir))
    sideFiles(spark, dir, TombstoneDir) match {
      case None => data
      case Some(t) =>
        data.join(broadcast(t.distinct()),
          data(keyCol) === t("key"), "left_anti")
    }
  }

  /** Fold the tombstones into the data (rewrite once, clear the side
    * files) — the maintenance operation that ends the read tax. Returns
    * the tombstone-file count folded in.
    */
  def compact(spark: SparkSession, dir: String, keyCol: String): Int =
    fold(spark, dir, TombstoneDir)(read(spark, dir, keyCol))

  /** Commit `folded` (a read through the side files under `dir/side`) as
    * the data table's next version, drop versions past the gc window, then
    * clear the side files. A crash before the clear leaves them applied to
    * the folded version, where they delete nothing: it holds no tombstoned
    * key, and a position tombstone names a file of an older version.
    * Returns the side-file count folded, 0 (and no commit) when there are
    * none.
    */
  private def fold(spark: SparkSession, dir: String, side: String)(folded: => DataFrame): Int = {
    val p = new Path(s"$dir/$side")
    val fs = VersionedTable.fsOf(spark, dir)
    if (!fs.exists(p)) return 0
    val n = GraftMeta.dataFiles(fs, p).size
    VersionedTable.write(folded, table(dir))
    VersionedTable.gc(spark, table(dir))
    fs.delete(p, true)
    n
  }

  // ------------------------------------------------------------------
  // Position deletes (Iceberg's second delete form, format spec §Delete
  // Formats): tombstones address ROWS, not key values — (data file, row
  // offset within that file). The form equality deletes cannot replace:
  // when keys are not compact, not unique, or two physically identical
  // rows must be told apart (dedup keeps ONE copy of a duplicated row —
  // a key tombstone would delete both). The row address comes from the
  // file source's `_metadata` hidden columns (`file_path`, `row_index` —
  // public Spark 3.5+ API), which is exactly the (file, pos) pair Iceberg
  // writers record. Addresses are stable because data files are immutable
  // until [[compactPos]], which re-addresses by construction (it commits
  // the folded rows as new files of the next version and clears the
  // tombstones).
  //
  // Scale: readers anti-join on (file, pos) — broadcast while the delete
  // set is dim-sized; at Iceberg scale the delete files are clustered by
  // data file so a reader joins only its own file's tombstones (the same
  // locality the broadcast gives until the set outgrows it).

  val PosDeleteDir = "_posdeletes"

  /** The data scan annotated with each row's (file, pos) address. */
  def readWithPos(spark: SparkSession, dir: String): DataFrame =
    VersionedTable.read(spark, table(dir))
      .select(col("*"), col("_metadata.file_path").as("__file"),
        col("_metadata.row_index").as("__pos"))

  /** The live view with position tombstones applied, still carrying the
    * (__file, __pos) address columns (callers derive new deletes from it).
    */
  def readPosVisible(spark: SparkSession, dir: String): DataFrame = {
    val data = readWithPos(spark, dir)
    sideFiles(spark, dir, PosDeleteDir) match {
      case None => data
      case Some(t) =>
        data.join(broadcast(t.distinct()),
          data("__file") === t("file") && data("__pos") === t("pos"), "left_anti")
    }
  }

  /** The live table (address columns dropped) under position deletes. */
  def readPos(spark: SparkSession, dir: String): DataFrame =
    readPosVisible(spark, dir).drop("__file", "__pos")

  /** Record a position delete of explicit row addresses (columns
    * `file`, `pos`) — one tombstone file appended; data files untouched.
    */
  def posDeleteAddresses(addrs: DataFrame, dir: String): Unit = {
    require(addrs.columns.toSeq.sorted == Seq("file", "pos"),
      s"posDeleteAddresses: need (file, pos) columns, got ${addrs.columns.toSeq}")
    addrs.coalesce(1).write.mode(SaveMode.Append).parquet(s"$dir/$PosDeleteDir")
  }

  /** Position-delete every currently-VISIBLE row matching `cond` (matching
    * a predicate against the live view, so re-deleting an already-dead row
    * is impossible by construction). Data files untouched.
    */
  def posDelete(spark: SparkSession, dir: String,
      cond: org.apache.spark.sql.Column): Unit =
    posDeleteAddresses(readPosVisible(spark, dir).filter(cond)
      .select(col("__file").as("file"), col("__pos").as("pos")), dir)

  /** Fold position tombstones into the data; returns the tombstone-file
    * count folded. Row addresses are re-assigned by the rewrite — which is
    * safe exactly because the tombstone dir is cleared in the same
    * maintenance operation.
    */
  def compactPos(spark: SparkSession, dir: String): Int =
    fold(spark, dir, PosDeleteDir)(readPos(spark, dir))

  /** The live version's data-file inventory (name -> (length, mtime)) —
    * lets callers PROVE a delete touched nothing.
    */
  def dataFiles(spark: SparkSession, dir: String): Map[String, (Long, Long)] =
    GraftMeta.dataFiles(VersionedTable.fsOf(spark, dir),
      new Path(VersionedTable.liveDir(spark, table(dir))))
      .map(st => st.getPath.getName -> (st.getLen, st.getModificationTime)).toMap
}
