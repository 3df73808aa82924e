package graft.source

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types.StructType

/** Table metadata read from the files themselves: footers, and the one
  * listing rule for which children of a table dir make up its contents.
  * [[dataFiles]] decides which files of a flat dir are data and
  * [[partitionDirs]] which subdirectories are `col=value` partitions; both
  * skip the same [[hidden]] names, and no other code makes either decision.
  *
  * `_file` is the connector's metadata column (DSv2
  * `SupportsMetadataColumns`): each row's source file NAME — the group
  * identity that runtime group filtering keys copy-on-write row-level SQL
  * on (Delta and Iceberg expose the same column for the same reason).
  */
object GraftMeta {
  val FileCol = "_file"

  /** Normalize every array's containsNull to TRUE in a FOOTER-INFERRED
    * table schema (round-17 advisory, the medium one): parquet infers
    * containsNull from the file a schema happens to be read from, so a
    * mixed-vintage table — native required-element files next to
    * GroupWrite optional-element files — can infer `array<t>` with
    * containsNull=false from one vintage and then hit the other at scan
    * time. The columnar reader (rightly) refuses the unsafe direction
    * (file optional → table non-null), and the row reader cannot decode
    * nested columns at all, so the only correct table-level claim is the
    * weaker one: elements MAY be null. Nullable-element is always safe
    * for readers; it only forgoes a non-null promise the footer never
    * had authority to make.
    */
  def relaxArrayNulls(schema: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    def relax(dt: DataType): DataType = dt match {
      case ArrayType(et, _) => ArrayType(relax(et), containsNull = true)
      case st: StructType =>
        StructType(st.fields.map(f => f.copy(dataType = relax(f.dataType))))
      case MapType(k, v, vn) => MapType(relax(k), relax(v), vn)
      case other => other
    }
    relax(schema).asInstanceOf[StructType]
  }

  /** Whether a listed child is hidden from a table's contents — Spark's own
    * file-index rule: `.`-names, and `_`-names that are not a `col=value`
    * partition dir. Markers, checksums, sidecars, stage and version dirs are
    * hidden; a hidden-column partition such as `_day=2024-01-02` is not.
    */
  def hidden(name: String): Boolean =
    name.startsWith(".") || (name.startsWith("_") && !name.contains("="))

  /** The data files of one FLAT table dir (a version dir, a partition dir,
    * a stage dir), sorted by name: every child that is not [[hidden]]. A
    * data SUBDIRECTORY means a hive-partitioned layout, whose rows and
    * partition columns a flat caller would silently drop, so it is refused
    * loudly — walk [[partitionDirs]] first. A missing dir holds no files.
    */
  def dataFiles(fs: org.apache.hadoop.fs.FileSystem,
      dir: org.apache.hadoop.fs.Path): Seq[org.apache.hadoop.fs.FileStatus] =
    if (!fs.exists(dir)) Seq.empty
    else {
      val data = fs.listStatus(dir).toSeq.filterNot(st => hidden(st.getPath.getName))
      val nested = data.filter(_.isDirectory)
      require(nested.isEmpty,
        s"GraftMeta.dataFiles($dir): nested data subdirectories " +
          s"(${nested.map(_.getPath.getName).take(3).mkString(", ")}) — " +
          "a partitioned layout's rows and partition columns are not in the " +
          "dir's own files; this listing is for flat dirs")
      data.sortBy(_.getPath.getName)
    }

  /** The `col=value` partition dirs of a hive-partitioned dir as
    * (value, dir), sorted by value: every subdirectory that is not
    * [[hidden]] and names `col`. Files and other columns' dirs are not
    * partitions of `col`. A missing dir has none.
    */
  def partitionDirs(fs: org.apache.hadoop.fs.FileSystem,
      dir: org.apache.hadoop.fs.Path,
      col: String): Seq[(String, org.apache.hadoop.fs.Path)] =
    if (!fs.exists(dir)) Seq.empty
    else fs.listStatus(dir).toSeq.collect {
      case st if st.isDirectory && !hidden(st.getPath.getName) &&
          st.getPath.getName.startsWith(s"$col=") =>
        st.getPath.getName.stripPrefix(s"$col=") -> st.getPath
    }.sortBy(_._1)

  /** Decode whole parquet files on the driver into rows of `schema`,
    * resolved by column name through the connector's row decoder
    * ([[InternalRowReadSupport]]): no Spark job, for tables small enough to
    * be held on the driver.
    */
  def readRows(spark: org.apache.spark.sql.SparkSession,
      files: Seq[org.apache.hadoop.fs.Path], schema: StructType): Seq[InternalRow] = {
    val conf = spark.sparkContext.hadoopConfiguration
    files.flatMap { f =>
      val r = org.apache.parquet.hadoop.ParquetReader.builder(
          new InternalRowReadSupport(schema, Map.empty, Map.empty, 0L, null, null), f)
        .withConf(conf).build()
      try Iterator.continually(r.read()).takeWhile(_ != null).toVector
      finally r.close()
    }
  }

  /** Each file's row count from its parquet footer: O(files) metadata
    * reads, bounded-parallel, no Spark job and no data page opened.
    */
  def footerRows(spark: org.apache.spark.sql.SparkSession,
      files: Seq[org.apache.hadoop.fs.Path]): Seq[Long] = {
    val conf = spark.sparkContext.hadoopConfiguration
    graft.ParallelActions.mapOrdered(files) { p =>
      val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(p, conf)
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try r.getRecordCount finally r.close()
    }
  }

  /** Table schema from ONE parquet footer, driver-side (round 18, guide
    * §1.2): the catalog used to derive every table's schema via
    * `spark.read.parquet(path).schema`, which builds a file index and
    * runs a schema-inference job on EVERY `loadTable` — measured at
    * ~0.6 s of a 4.5 s catalog query (7 loadTable calls). A graft table
    * version's data files share one schema (a single write job, or the
    * layout's own epoch machinery for the tables versionTable routes
    * elsewhere), so one footer read plus Spark's own footer→Catalyst
    * converter (the exact code path `spark.read` uses per footer, same
    * session conf) is equivalent and job-free. Array containsNull is
    * relaxed exactly as before — footers never had authority there.
    */
  def footerSchema(spark: org.apache.spark.sql.SparkSession,
      path: String): org.apache.spark.sql.types.StructType = {
    val conf = spark.sparkContext.hadoopConfiguration
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(conf)
    val file =
      if (fs.getFileStatus(p).isFile) p
      else {
        // a hive-partitioned layout would silently lose its partition
        // columns here; dataFiles refuses it loudly
        dataFiles(fs, p).headOption.map(_.getPath).getOrElse(
          sys.error(s"GraftMeta.footerSchema($path): no data files"))
      }
    val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(file, conf)
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    val msg = try r.getFooter.getFileMetaData.getSchema finally r.close()
    val converter = new org.apache.spark.sql.execution.datasources.parquet
      .ParquetToSparkSchemaConverter(
        org.apache.spark.sql.internal.SQLConf.get)
    // file-source relations render EVERYTHING nullable (`asNullable` in
    // DataSource.resolveRelation) — a required footer field is a claim
    // about one file, not the table; match spark.read exactly
    import org.apache.spark.sql.types._
    def nullable(dt: DataType): DataType = dt match {
      case ArrayType(et, _) => ArrayType(nullable(et), containsNull = true)
      case st: StructType => StructType(st.fields.map(f =>
        f.copy(dataType = nullable(f.dataType), nullable = true)))
      case MapType(k, v, _) =>
        MapType(nullable(k), nullable(v), valueContainsNull = true)
      case other => other
    }
    nullable(converter.convert(msg)).asInstanceOf[StructType]
  }
}
