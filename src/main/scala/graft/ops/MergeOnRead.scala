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
  *   dir/data/            # immutable parquet data files
  *   dir/_tombstones/     # parquet key files, one per delete call
  * }}}
  *
  * Tombstones are EQUALITY deletes on a key column (the Iceberg form that
  * needs no row-position bookkeeping): readers drop any row whose key
  * appears in any tombstone file. The key set is assumed dim-sized
  * (broadcast side); position deletes are the follow-up when keys are not
  * compact. Readers remain correct mid-flight because a tombstone file is
  * visible only once fully written (parquet commit), and compaction stages
  * through the crash-safe snapshot swap.
  */
object MergeOnRead {

  val DataDir = "data"
  val TombstoneDir = "_tombstones"

  def init(df: DataFrame, dir: String): Unit =
    df.write.mode(SaveMode.Overwrite).parquet(s"$dir/$DataDir")

  /** Record a delete of `keys` (single-column frame named `key`) — writes
    * one tombstone file; data files are NOT touched.
    */
  def delete(keys: DataFrame, dir: String): Unit = {
    require(keys.columns.toSeq == Seq("key"),
      s"delete: tombstone frame must be a single 'key' column, got ${keys.columns.toSeq}")
    keys.coalesce(1).write.mode(SaveMode.Append).parquet(s"$dir/$TombstoneDir")
  }

  private def tombstones(spark: SparkSession, dir: String): Option[DataFrame] = {
    val p = new Path(s"$dir/$TombstoneDir")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) Some(spark.read.parquet(p.toString)) else None
  }

  /** Read with tombstones applied: a broadcast anti-join on the key column
    * — the per-read tax merge-on-read pays until [[compact]].
    */
  def read(spark: SparkSession, dir: String, keyCol: String): DataFrame = {
    val data = spark.read.parquet(s"$dir/$DataDir")
    tombstones(spark, dir) match {
      case None => data
      case Some(t) =>
        data.join(broadcast(t.distinct()),
          data(keyCol) === t("key"), "left_anti")
    }
  }

  /** Fold the tombstones into the data (rewrite once, clear the side
    * files) — the maintenance operation that ends the read tax. Staged
    * through the crash-safe snapshot swap; returns the tombstone-file
    * count folded in.
    */
  def compact(spark: SparkSession, dir: String, keyCol: String): Int = {
    val p = new Path(s"$dir/$TombstoneDir")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return 0
    val n = GraftMeta.dataFiles(fs, p).size
    val folded = read(spark, dir, keyCol).localCheckpoint() // cut lineage off the old files
    Upsert.snapshotWrite(folded, s"$dir/$DataDir")
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
  // until [[compactPos]], which re-addresses by construction (it rewrites
  // the files and clears the tombstones in one crash-safe swap).
  //
  // Scale: readers anti-join on (file, pos) — broadcast while the delete
  // set is dim-sized; at Iceberg scale the delete files are clustered by
  // data file so a reader joins only its own file's tombstones (the same
  // locality the broadcast gives until the set outgrows it).

  val PosDeleteDir = "_posdeletes"

  /** The data scan annotated with each row's (file, pos) address. */
  def readWithPos(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/$DataDir")
      .select(col("*"), col("_metadata.file_path").as("__file"),
        col("_metadata.row_index").as("__pos"))

  private def posTombstones(spark: SparkSession, dir: String): Option[DataFrame] = {
    val p = new Path(s"$dir/$PosDeleteDir")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) Some(spark.read.parquet(p.toString)) else None
  }

  /** The live view with position tombstones applied, still carrying the
    * (__file, __pos) address columns (callers derive new deletes from it).
    */
  def readPosVisible(spark: SparkSession, dir: String): DataFrame = {
    val data = readWithPos(spark, dir)
    posTombstones(spark, dir) match {
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

  /** Fold position tombstones into the data via the crash-safe snapshot
    * swap; returns the tombstone-file count folded. Row addresses are
    * re-assigned by the rewrite — which is safe exactly because the tomb-
    * stone dir is cleared in the same maintenance operation.
    */
  def compactPos(spark: SparkSession, dir: String): Int = {
    val p = new Path(s"$dir/$PosDeleteDir")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return 0
    val n = GraftMeta.dataFiles(fs, p).size
    val folded = readPos(spark, dir).localCheckpoint() // cut lineage off the old files
    Upsert.snapshotWrite(folded, s"$dir/$DataDir")
    fs.delete(p, true)
    n
  }

  /** Data-file inventory (name -> (length, mtime)) — lets callers PROVE a
    * delete touched nothing.
    */
  def dataFiles(spark: SparkSession, dir: String): Map[String, (Long, Long)] = {
    val p = new Path(s"$dir/$DataDir")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    GraftMeta.dataFiles(fs, p)
      .map(st => st.getPath.getName -> (st.getLen, st.getModificationTime)).toMap
  }
}
