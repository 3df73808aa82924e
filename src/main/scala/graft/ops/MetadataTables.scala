package graft.ops

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._
import org.apache.hadoop.fs.Path

/** Metadata introspection tables — the public Delta `DESCRIBE HISTORY` /
  * Iceberg `table.files`/`table.snapshots` surface over the `_v-N` layout:
  * the table's own history and physical inventory exposed as ordinary
  * DataFrames, computed from LISTINGS ONLY — zero data-file reads, so the
  * cost is O(versions + files) namenode metadata no matter how many
  * terabytes the files hold. This is what audit dashboards, retention
  * planners, and incremental consumers join against without touching data.
  */
object MetadataTables {

  private def fsOf(spark: SparkSession, dir: String) =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  // a version dir's flat data files; a hive-partitioned version (a
  // PartitionOverwrite/PartitionEvolution table) is refused, not counted empty
  private def dataFiles(fs: org.apache.hadoop.fs.FileSystem,
      vd: Path): Seq[(String, Long)] =
    graft.source.GraftMeta.dataFiles(fs, vd).map(st => st.getPath.getName -> st.getLen)

  /** One row per retained complete version at or below the live pointer:
    * (version, commit_ts, n_files, bytes, has_capture, metadata_only).
    * `commit_ts` is null only on pre-timestamp history; `metadata_only`
    * marks `_data_from`-bearing commits (renames, widenings, spec
    * changes) whose data lives in another version's files.
    */
  def history(spark: SparkSession, dir: String): DataFrame = {
    val fs = fsOf(spark, dir)
    val live = VersionedTable.currentVersion(spark, dir).getOrElse(
      sys.error(s"MetadataTables.history($dir): no complete snapshot"))
    val rows = VersionedTable.listVersions(fs, dir)
      .filter(v => v <= live &&
        VersionedTable.complete(fs, VersionedTable.verDir(dir, v)))
      .map { v =>
        val vd = VersionedTable.verDir(dir, v)
        val files = dataFiles(fs, vd)
        Row(v, VersionedTable.commitTimestamp(spark, dir, v).orNull,
          files.size, files.map(_._2).sum,
          fs.exists(new Path(vd, "_cdf")),
          fs.exists(new Path(vd, "_data_from")))
      }
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1),
      StructType(Seq(
        StructField("version", LongType, nullable = false),
        StructField("commit_ts", LongType, nullable = true),
        StructField("n_files", IntegerType, nullable = false),
        StructField("bytes", LongType, nullable = false),
        StructField("has_capture", BooleanType, nullable = false),
        StructField("metadata_only", BooleanType, nullable = false))))
  }

  /** The physical inventory of one version: (file_name, size_bytes). */
  def files(spark: SparkSession, dir: String, version: Long): DataFrame = {
    val fs = fsOf(spark, dir)
    val vd = VersionedTable.verDir(dir, version)
    require(VersionedTable.complete(fs, vd),
      s"MetadataTables.files($dir, $version): no complete snapshot")
    spark.createDataFrame(
      spark.sparkContext.parallelize(
        dataFiles(fs, vd).map { case (n, sz) => Row(n, sz) }, 1),
      StructType(Seq(
        StructField("file_name", StringType, nullable = false),
        StructField("size_bytes", LongType, nullable = false))))
  }
}
