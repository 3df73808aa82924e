package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.hadoop.fs.Path

/** Deletion vectors — the third delete form next to copy-on-write
  * ([[VersionedTable.deleteRange]]) and equality/position tombstone files
  * ([[MergeOnRead]]): the public Delta/Iceberg-v3 design of a per-file
  * ROW BITMAP sidecar (RoaringBitmap, the codec both formats standardize
  * on) marking deleted row positions, so a delete commit mutates ZERO data
  * bytes — it copies the data files forward untouched and writes a
  * `_dv/` parquet sidecar of `(file_name, bitmap, n_deleted)` rows.
  * Readers apply the vectors through Spark's `_metadata.row_index`
  * column: survivors = raw rows ANTI-JOINed with the exploded
  * (file, row-index) pairs — fully declarative, so Catalyst plans the
  * scan, the bitmap decode happens once per sidecar row at the codec
  * boundary, and the join side is O(deleted rows), never O(table).
  *
  * Scale shape: at 100 TB a DV delete touching 0.1 % of rows writes
  * kilobytes of bitmap instead of re-encoding terabytes of parquet
  * (copy-on-write) or writing megabytes of position-delete rows
  * (merge-on-read); the read-side anti-join carries only the deleted
  * positions. Repeated deletes UNION bitmaps (applied against the
  * already-deleted view, so re-deleting a dead row is a no-op), CDF
  * captures the deleted rows as ordinary `delete` change rows riding the
  * same pre-flip atomicity, and [[compact]] folds the vectors back into
  * clean files with an empty capture (the q219 dataChange=false
  * contract). Same single-protocol rule as Delta: a DV table is read
  * through [[read]]/[[readVersion]] — raw `VersionedTable.read` sees the
  * undeleted superset.
  *
  * Row identity: `(file_name, row_index)` — stable because data files are
  * carried forward as raw byte copies under their own names, so a file's
  * row indexes never shift until compaction rewrites (and drops) the
  * vectors.
  */
object DeletionVectors {

  private val DvDirName = "_dv"
  val BlobDirName = "_dvbm"
  private val FileCol = "__dv_file"
  private val IdxCol = "__dv_idx"

  /** Write each file's bitmap as its OWN raw blob (`_dvbm/<file>.bm`) —
    * Delta's DV-file-by-reference shape, written FROM THE EXECUTORS: the
    * SQL scan plans each data-file partition with its blob PATH and the
    * reader opens only its own bitmap, so neither the driver nor any one
    * task ever holds the table-wide O(files × bitmap) sidecar. The
    * parquet sidecar stays the canonical form for the DataFrame-side
    * merge/diff paths (already engine-side).
    */
  private def writeBlobSidecar(spark: SparkSession, vectors: DataFrame,
      blobDir: Path): Unit = {
    import spark.implicits._
    val fs = blobDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(blobDir)
    val conf = new org.apache.spark.util.SerializableConfiguration(
      spark.sparkContext.hadoopConfiguration)
    val target = blobDir.toString
    vectors.select(col("file_name"), col("bitmap"))
      .as[(String, Array[Byte])]
      .foreachPartition { (it: Iterator[(String, Array[Byte])]) =>
        if (it.hasNext) {
          val d = new Path(target)
          val efs = d.getFileSystem(conf.value)
          // CLAIMED, not written: a speculative or retried duplicate task
          // writing `<file>.bm` through create(overwrite) could interleave
          // bytes with its twin, leaving a corrupt bitmap. Both attempts
          // carry identical bytes (the bitmap is a deterministic function
          // of the merge), so whichever claim lands first is correct and
          // the loser has nothing to do.
          it.foreach { case (f, b) => MetaFile.claim(efs, new Path(d, f + ".bm"), b) }
        }
      }
  }

  private def dvDir(dir: String, v: Long): Path =
    new Path(VersionedTable.verDir(dir, v), DvDirName)

  private def serialize(bm: org.roaringbitmap.RoaringBitmap): Array[Byte] = {
    bm.runOptimize()
    val buf = java.nio.ByteBuffer.allocate(bm.serializedSizeInBytes())
    bm.serialize(buf)
    buf.array()
  }

  private def deserialize(bytes: Array[Byte]): org.roaringbitmap.RoaringBitmap = {
    val bm = new org.roaringbitmap.RoaringBitmap()
    bm.deserialize(java.nio.ByteBuffer.wrap(bytes))
    bm
  }

  /** The live version's deletion vectors, empty when none. Schema:
    * (file_name STRING, bitmap BINARY, n_deleted BIGINT).
    */
  def vectors(spark: SparkSession, dir: String, version: Long): DataFrame = {
    val fs = VersionedTable.fsOf(spark, dir)
    val dd = dvDir(dir, version)
    if (fs.exists(dd)) spark.read.parquet(dd.toString)
    else spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("file_name",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("bitmap",
          org.apache.spark.sql.types.BinaryType),
        org.apache.spark.sql.types.StructField("n_deleted",
          org.apache.spark.sql.types.LongType))))
  }

  /** The exploded (file, row-index) pairs of a version's vectors — the
    * anti-join side. Bitmap decode is the codec boundary: one flatMap over
    * the sidecar-sized frame, O(deleted rows) output.
    */
  private def deletedPairs(spark: SparkSession, dir: String, version: Long): DataFrame = {
    import spark.implicits._
    vectors(spark, dir, version).select(col("file_name"), col("bitmap"))
      .as[(String, Array[Byte])]
      .flatMap { case (f, b) =>
        val it = deserialize(b).iterator()
        new Iterator[(String, Long)] {
          def hasNext = it.hasNext
          def next() = (f, java.lang.Integer.toUnsignedLong(it.next()))
        }
      }.toDF(FileCol, IdxCol)
  }

  /** Raw rows + row identity, vectors NOT yet applied. */
  private def withIdentity(spark: SparkSession, dir: String, version: Long): DataFrame = {
    val vd = VersionedTable.verDir(dir, version)
    require(VersionedTable.complete(VersionedTable.fsOf(spark, dir), vd),
      s"DeletionVectors($dir, $version): no complete snapshot")
    spark.read.parquet(vd.toString)
      .withColumn(FileCol, col("_metadata.file_name"))
      .withColumn(IdxCol, col("_metadata.row_index"))
  }

  /** Read a version with its deletion vectors APPLIED. */
  def readVersion(spark: SparkSession, dir: String, version: Long): DataFrame =
    withIdentity(spark, dir, version)
      .join(deletedPairs(spark, dir, version), Seq(FileCol, IdxCol), "left_anti")
      .drop(FileCol, IdxCol)

  /** Read the live snapshot with vectors applied. */
  def read(spark: SparkSession, dir: String): DataFrame = {
    val v = VersionedTable.currentVersion(spark, dir).getOrElse(
      sys.error(s"DeletionVectors.read($dir): no complete snapshot"))
    readVersion(spark, dir, v)
  }

  /** Delete every LIVE row matching `predicate` by writing deletion
    * vectors: the next version carries every data file as a RAW BYTE COPY
    * (zero re-encoding — the whole point) plus the unioned `_dv` sidecar;
    * `captureKeys` additionally captures the deleted rows as `delete`
    * change rows in the version's `_cdf` (pre-flip, the ChangeFeed
    * atomicity contract). Returns (newVersion, rowsDeleted); no new
    * version when nothing matches.
    */
  def delete(spark: SparkSession, dir: String, predicate: Column,
      capture: Boolean = false): (Long, Long) = {
    val fs = VersionedTable.fsOf(spark, dir)
    val cur = VersionedTable.currentVersion(spark, dir).getOrElse(
      sys.error(s"DeletionVectors.delete($dir): no complete snapshot"))
    val live = VersionedTable.verDir(dir, cur)
    // TW × DV (round 17 #3): the type-widening plane chains epochs under
    // `data/` subdirs and its reader never consults DV sidecars — a DV
    // commit here would copy zero data files (the file loop below skips
    // directories) and mask rows no typed read would ever honor. Refuse
    // at the door; DELETE on a typed table is the COW rewrite, which the
    // SQL surface routes automatically.
    require(!fs.exists(new Path(live, "_types")),
      s"DeletionVectors.delete($dir): this is a type-widening table — " +
        "deletion vectors do not compose with the epoch-chain layout; " +
        "DELETE takes the typed copy-on-write rewrite instead")
    // doomed = rows matching the predicate AMONG SURVIVORS (already-deleted
    // rows must not re-capture or re-count)
    val doomed = withIdentity(spark, dir, cur)
      .join(deletedPairs(spark, dir, cur), Seq(FileCol, IdxCol), "left_anti")
      .filter(predicate)
      .localCheckpoint() // read before the new version dir exists; small: O(deleted)
    val nDeleted = doomed.count()
    if (nDeleted == 0) return (cur, 0L)
    import spark.implicits._
    val newBitmaps = doomed.select(col(FileCol), col(IdxCol))
      .as[(String, Long)].groupByKey(_._1)
      .mapGroups { (f, it) =>
        val bm = new org.roaringbitmap.RoaringBitmap()
        it.foreach { case (_, i) =>
          require(i <= Int.MaxValue, s"row index $i exceeds bitmap range")
          bm.add(i.toInt)
        }
        (f, serialize(bm), bm.getLongCardinality)
      }.toDF("file_name", "bitmap", "n_deleted")
    // union with the carried-forward vectors: merge bitmaps per file
    val merged = vectors(spark, dir, cur)
      .unionByName(newBitmaps)
      .as[(String, Array[Byte], Long)].groupByKey(_._1)
      .mapGroups { (f, it) =>
        val bm = new org.roaringbitmap.RoaringBitmap()
        it.foreach { case (_, b, _) => bm.or(deserialize(b)) }
        (f, serialize(bm), bm.getLongCardinality)
      }.toDF("file_name", "bitmap", "n_deleted")
      .localCheckpoint() // sidecar-sized; must not lazily read the old _dv mid-copy
    // STAGE-then-CLAIM (round 12): the old form wrote verDir(cur+1)
    // directly and flipped the pointer — last-writer-wins, and its crash
    // sweep could DELETE a concurrent writer's committed version. The DV
    // commit now rides the same OCC protocol as every other multi-writer
    // path: everything lands in a uniquely-named stage, and
    // Occ.commitStagedDir claims the slot or fails LOUDLY with the stage
    // cleaned up (a row-level delete of arbitrary rows declares `*`).
    val stageName = "_stage-" + java.util.UUID.randomUUID().toString
    val vd = new Path(dir, stageName)
    fs.mkdirs(vd)
    // data files carried as raw byte copies — never re-encoded
    VersionedTable.carry(spark, graft.source.GraftMeta.dataFiles(fs, live).map(_.getPath), vd)
    merged.write.mode(SaveMode.Overwrite)
      .parquet(new Path(vd, DvDirName).toString)
    writeBlobSidecar(spark, merged, new Path(vd, BlobDirName))
    if (capture)
      doomed.drop(FileCol, IdxCol)
        .withColumn(ChangeFeed.ChangeType, lit("delete"))
        .write.mode(SaveMode.Overwrite)
        .parquet(new Path(vd, "_cdf").toString)
    MetaFile.write(fs, new Path(vd, "_SUCCESS"), "")
    val committed = graft.ops.Occ.commitStagedDir(spark, dir, stageName,
      cur, Set("*"))
    (committed.version, nDeleted)
  }

  /** Fold the vectors back into clean files: rewrite the DV-applied
    * content as the next version (no `_dv` sidecar), capturing an EMPTY
    * change set when `capture` — compaction is dataChange=false, logical
    * content is untouched. The commit is the ordinary
    * stage-then-publish pointer flip.
    */
  def compact(spark: SparkSession, dir: String, numFiles: Int,
      capture: Boolean = false): Long = {
    val content = read(spark, dir).repartition(numFiles)
    val next = VersionedTable.stage(content, dir)
    if (capture) {
      val staged = spark.read.parquet(VersionedTable.stagedDir(dir, next))
      // schema-only empty frame: the logical diff of a pure rewrite
      staged.filter(lit(false)).withColumn(ChangeFeed.ChangeType, lit(""))
        .write.mode(SaveMode.Overwrite)
        .parquet(new Path(VersionedTable.verDir(dir, next), "_cdf").toString)
    }
    VersionedTable.publish(spark, dir, next)
    next
  }
}
