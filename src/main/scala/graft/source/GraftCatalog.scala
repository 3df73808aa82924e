package graft.source

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.ops.VersionedTable

/** A DSv2 `TableCatalog` over [[VersionedTable]] roots — the integration
  * that gives the lakehouse layer a FULL SQL surface: once registered
  * (`spark.sql.catalog.<name> = GraftCatalog`, option `root` = the
  * warehouse dir), `SELECT … FROM <name>.<ns>.<table>` resolves the live
  * snapshot through the pointer protocol, and Spark's standard time-travel
  * syntax — `VERSION AS OF n` / `TIMESTAMP AS OF t` — lands in the
  * catalog's versioned `loadTable` overloads (the public DSv2 contract,
  * SPARK-37219: the PARSER owns the syntax, the CATALOG owns resolution),
  * resolved against the same monotonic `_commit_ts` stamps `readAsOf`
  * uses. DML goes through the tables' OWN commit protocols, never blind
  * file writes: `INSERT INTO` / `INSERT OVERWRITE` / CTAS route through
  * [[Occ.commit]] (snapshot tables) or [[graft.ops.ActionLog]] OCC
  * appends (log tables) via the [[GraftDml]] V1Write bridge — Delta's
  * own public DSv2 shape. Flavors whose writes need expression-level
  * machinery (branches, column mapping, DVs, AS-OF reads) stay
  * read-only here and mutate through the typed ops layer.
  *
  * Identifier layout: `<ns>/<table>` directories under `root`; each table
  * dir is a VersionedTable. Executor reads go through the same parquet
  * Group decoder as the CDF/log streams.
  */
class GraftCatalog extends TableCatalog with SupportsNamespaces
    with org.apache.spark.sql.connector.catalog.ProcedureCatalog {

  private var catName: String = _
  private var root: String = _
  private var snapshotCatalog: Option[String] = None
  private var features: Set[String] = Set.empty

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catName = name
    root = Option(options.get("root"))
      .getOrElse(sys.error(s"GraftCatalog $name: 'root' option required"))
    snapshotCatalog = Option(options.get("snapshotCatalog"))
    features = Option(options.get("features"))
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      .getOrElse(Set.empty)
  }

  override def name(): String = catName

  // ADD COLUMN ... DEFAULT reaches alterTable only when the catalog
  // declares the capability (Spark gates the grammar on it)
  override def capabilities(): java.util.Set[TableCatalogCapability] =
    java.util.EnumSet.of(TableCatalogCapability.SUPPORT_COLUMN_DEFAULT_VALUE)

  /** `t@branch` (the Nessie reference syntax) splits into table dir +
    * branch ref; a bare name on a branched table reads `main`.
    */
  private def split(ident: Identifier): (String, Option[String]) = {
    val (t, branch) = ident.name().split("@", 2) match {
      case Array(t, b) => (t, Some(b))
      case _ => (ident.name(), None)
    }
    ((root +: (ident.namespace().toSeq :+ t)).mkString("/"), branch)
  }

  private def tableDir(ident: Identifier): String = split(ident)._1

  // the maintenance-procedure surface resolves table names and the
  // snapshot-pin guard through these (GraftProcedures)
  private[source] def dirOfParts(parts: Seq[String]): String =
    (root +: parts).mkString("/")
  private[source] def isSnapshotPinned: Boolean = snapshotCatalog.nonEmpty

  override def loadProcedure(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure =
    GraftProcedures.load(this, ident)
  override def listProcedures(namespace: Array[String]): Array[Identifier] =
    GraftProcedures.list(namespace)

  private def isBranched(spark: SparkSession, dir: String): Boolean = {
    val p = new Path(s"$dir/_heads")
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  private def branchTable(ident: Identifier, dir: String,
      branch: String): Table = {
    val spark = SparkSession.active
    val id = graft.ops.Branching.head(spark, dir, branch)
    val cd = s"$dir/_c-${"%08d".format(id)}"
    // branch refs are WRITABLE (INSERT INTO t@staging — the WAP write
    // step); commit-id time travel stays read-only history
    new GraftSqlTable(ident.toString + s"@$branch#$id", cd,
      GraftMeta.footerSchema(spark, cd), dml = dmlFor(dir, s"branch:$branch"))
  }

  private def commitTable(ident: Identifier, dir: String, id: Long,
      label: String): Table = {
    val spark = SparkSession.active
    val cd = s"$dir/_c-${"%08d".format(id)}"
    new GraftSqlTable(ident.toString + s"@$label#$id", cd,
      GraftMeta.footerSchema(spark, cd))
  }

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val spark = SparkSession.active
    val nsPath = new Path((root +: namespace.toSeq).mkString("/"))
    val fs = nsPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(nsPath)) Array.empty
    else fs.listStatus(nsPath)
      .filter(st => st.isDirectory && !st.getPath.getName.startsWith("_") &&
        isTableDir(spark, st.getPath))
      .map(st => Identifier.of(namespace, st.getPath.getName))
  }

  private def isActionLog(spark: SparkSession, dir: String): Boolean = {
    val p = new Path(s"$dir/_log")
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** The DML routing for a live table — None disables the write surface
    * (AS-OF reads, branches, snapshot-pinned catalogs, mapped/DV flavors:
    * those mutate through the typed ops layer only).
    */
  private def dmlFor(dir: String, layout: String): Option[DmlTarget] =
    if (snapshotCatalog.isDefined) None // a pinned catalog is a read surface
    else Some(DmlTarget(dir, layout, features))

  // ---- SQL METADATA TABLES (Iceberg's public `t$history` design): the
  // table's own bookkeeping addressable from SELECT, served as a
  // LocalScan — the rows are O(versions|files) driver-side metadata the
  // ops layer already materializes; no data file is touched.
  private def metadataTable(ident: Identifier, kind: String): Table = {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.types._
    import org.apache.spark.unsafe.types.UTF8String
    val spark = SparkSession.active
    val dir = tableDir(ident)
    val isLog = isActionLog(spark, dir)
    val (schema, rows): (StructType, Seq[InternalRow]) = kind match {
      case "history" if isLog =>
        (StructType(Seq(StructField("version", LongType, nullable = false),
          StructField("n_adds", LongType, nullable = false),
          StructField("n_removes", LongType, nullable = false),
          StructField("has_txn", BooleanType, nullable = false),
          StructField("cum_rows", LongType, nullable = true))),
          graft.ops.ActionLog.history(spark, dir).map {
            case (v, a, r, t, c) =>
              InternalRow(v, a.toLong, r.toLong, t,
                c.map(Long.box).orNull)
          })
      case "history" =>
        val fs = new Path(dir).getFileSystem(
          spark.sparkContext.hadoopConfiguration)
        (StructType(Seq(StructField("version", LongType, nullable = false),
          StructField("commit_ts_ms", LongType, nullable = true))),
          VersionedTable.listVersions(fs, dir)
            .filter(v => VersionedTable.complete(fs,
              VersionedTable.verDir(dir, v)))
            .map(v => InternalRow(v,
              VersionedTable.commitTimestamp(spark, dir, v)
                .map(Long.box).orNull)))
      case "files" if isLog =>
        (StructType(Seq(StructField("file", StringType, nullable = false),
          StructField("lo", LongType, nullable = true),
          StructField("hi", LongType, nullable = true),
          StructField("n_rows", LongType, nullable = true))),
          graft.ops.ActionLog.liveFiles(spark, dir).map { case (f, st) =>
            InternalRow(UTF8String.fromString(f),
              st.map(s => Long.box(s._1)).orNull,
              st.map(s => Long.box(s._2)).orNull,
              st.map(s => Long.box(s._3)).orNull)
          })
      case "files" =>
        val spark2 = spark
        val live = VersionedTable.liveDir(spark2, dir)
        val fs = new Path(dir).getFileSystem(
          spark2.sparkContext.hadoopConfiguration)
        (StructType(Seq(StructField("file", StringType, nullable = false),
          StructField("bytes", LongType, nullable = false))),
          GraftMeta.dataFiles(fs, new Path(live))
            .map(st => InternalRow(
              UTF8String.fromString(st.getPath.getName), st.getLen)))
      case other => sys.error(
        s"GraftCatalog: unknown metadata table '$$${other}' — " +
          "history | files")
    }
    new GraftLocalTable(s"${ident.toString}$$$kind", schema, rows)
  }

  override def loadTable(ident: Identifier): Table = {
    val spark = SparkSession.active
    if (ident.name().contains("$")) {
      val parts = ident.name().split("\\$", 2)
      return metadataTable(Identifier.of(ident.namespace(), parts(0)),
        parts(1))
    }
    val (dir, branch) = split(ident)
    if (isActionLog(spark, dir)) {
      require(branch.isEmpty,
        s"GraftCatalog: $ident — log-structured tables have no branches")
      val files = graft.ops.ActionLog.liveFiles(spark, dir)
      new GraftLogSqlTable(ident.toString, dir, files,
        graft.ops.ActionLog.statsColumn(spark, dir),
        GraftMeta.footerSchema(spark, s"$dir/data/${files.head._1}"),
        dml = dmlFor(dir, "log"),
        baseVersion = graft.ops.ActionLog.versions(spark, dir).last)
    }
    else if (isBranched(spark, dir)) branchTable(ident, dir, branch.getOrElse("main"))
    else if (isCreatedEmpty(spark, dir)) {
      require(branch.isEmpty,
        s"GraftCatalog: $ident names a branch on an unbranched table")
      val (layout, schema) = readDdl(spark, dir)
      new GraftEmptyTable(ident.toString, schema,
        dmlFor(dir, layout).getOrElse(sys.error(
          s"GraftCatalog: $ident is empty and this catalog cannot write")))
    }
    else {
      require(branch.isEmpty,
        s"GraftCatalog: $ident names a branch on an unbranched table")
      val v = snapshotCatalog match {
        // SNAPSHOT-PINNED resolution: every table resolves from ONE
        // manifest, so a multi-table query reads a transactionally
        // consistent set however the live pointers move underneath it
        case Some(snapDir) =>
          val (_, pins) = graft.ops.SnapshotCatalog.current(spark, snapDir)
            .getOrElse(sys.error(
              s"GraftCatalog $catName: snapshot catalog $snapDir is empty"))
          val rel = (ident.namespace().toSeq :+ ident.name()).mkString("/")
          pins.getOrElse(rel, sys.error(
            s"GraftCatalog $catName: '$rel' is not pinned by the snapshot " +
              "catalog — an unpinned read would break the consistency set"))
        case None =>
          VersionedTable.currentVersion(spark, dir).getOrElse(
            throw new org.apache.spark.sql.catalyst.analysis.NoSuchTableException(ident))
      }
      versionTable(ident, dir, v, dml = dmlFor(dir, "versioned"))
    }
  }

  /** `VERSION AS OF n` (SPARK-37219 hands the literal here); on a
    * branched table `n` is a commit id, on a log table a log version
    * (the file set is the log replay as of `n`).
    */
  override def loadTable(ident: Identifier, version: String): Table = {
    val spark = SparkSession.active
    val (dir, _) = split(ident)
    if (isActionLog(spark, dir)) {
      val v = version.toLong
      val (files, _, _) = graft.ops.ActionLog.resolve(spark, dir, v)
      require(files.nonEmpty,
        s"GraftCatalog: $ident has no content as of log version $v " +
          "(expired or never committed)")
      val withStats = graft.ops.ActionLog.liveFiles(spark, dir).toMap
      new GraftLogSqlTable(ident.toString + s"@v$v", dir,
        files.map(f => f -> withStats.getOrElse(f, None)),
        graft.ops.ActionLog.statsColumn(spark, dir),
        GraftMeta.footerSchema(spark, s"$dir/data/${files.head}"))
    }
    else if (isBranched(spark, dir)) commitTable(ident, dir, version.toLong, "v")
    else versionTable(ident, dir, version.toLong)
  }

  /** `TIMESTAMP AS OF t` — micros since epoch, resolved to the latest
    * version whose monotonic commit stamp is at or before the instant.
    */
  override def loadTable(ident: Identifier, timestamp: Long): Table = {
    val spark = SparkSession.active
    val dir = tableDir(ident)
    val tsMs = timestamp / 1000L
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val v = VersionedTable.listVersions(fs, dir)
      .filter(v => VersionedTable.complete(fs, VersionedTable.verDir(dir, v)))
      .filter(v => graft.ops.VersionedTable.commitTimestamp(spark, dir, v)
        .exists(_ <= tsMs))
      .lastOption.getOrElse(sys.error(
        s"GraftCatalog: no version of $ident committed at or before $tsMs ms"))
    versionTable(ident, dir, v)
  }

  private def versionTable(ident: Identifier, dir: String, v: Long,
      dml: Option[DmlTarget] = None): Table = {
    val spark = SparkSession.active
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(VersionedTable.complete(fs, VersionedTable.verDir(dir, v)),
      s"GraftCatalog: version $v of $ident is missing or incomplete")
    // the protocol gate runs BEFORE any table flavor is constructed: a
    // reader that doesn't understand a required feature must not touch
    // a byte (the catalog declares its client's features at registration)
    val missing = graft.ops.Protocol.of(spark, dir, v).readerFeatures -- features
    require(missing.isEmpty,
      s"GraftCatalog $catName: $ident requires reader feature(s) " +
        s"${missing.toSeq.sorted.mkString(", ")} this catalog was not " +
        "registered with — add them to the 'features' option")
    if (fs.exists(new Path(VersionedTable.verDir(dir, v), "_schema"))) {
      // a COLUMN-MAPPED table: render version v under ITS OWN manifest
      // names; the reader maps logical→physical (c_<id>) per field
      import graft.ops.{ColumnMapping => CM}
      val m = CM.manifest(spark, dir, v)
      val dataDir = VersionedTable.verDir(dir, CM.dataVersion(spark, dir, v))
      val phys =
        GraftMeta.footerSchema(spark, dataDir.toString)
      val dfl = CM.defaults(spark, dir, v)
      val fills = scala.collection.mutable.Map.empty[String, Any]
      val fields = m.map { f =>
        phys.fields.find(_.name == s"c_${f.id}") match {
          case Some(pf) => org.apache.spark.sql.types.StructField(
            f.name, pf.dataType, nullable = true)
          case None => dfl.get(f.id) match {
            case Some(sql) =>
              // an unmaterialized DEFAULT: evaluate the expression ONCE
              // driver-side and constant-fill at the reader — the SQL
              // surface renders exactly what ColumnMapping.read renders
              val r = spark.sql(s"SELECT ($sql)")
              val dt = r.schema.head.dataType
              fills(f.name) = org.apache.spark.sql.catalyst
                .CatalystTypeConverters.createToCatalystConverter(dt)(
                  r.head.get(0))
              org.apache.spark.sql.types.StructField(f.name, dt,
                nullable = true)
            case None => org.apache.spark.sql.types.StructField(f.name,
              org.apache.spark.sql.types.NullType, nullable = true)
          }
        }
      }
      new GraftMappedSqlTable(ident.toString + s"@v$v", dataDir.toString,
        org.apache.spark.sql.types.StructType(fields),
        m.map(f => f.name -> s"c_${f.id}").toMap, fills.toMap)
    } else if (fs.exists(new Path(VersionedTable.verDir(dir, v), "_types"))) {
      // TYPE-WIDENING table: epochs store DIFFERENT physical types
      // (int32 files before the widen, int64 after); the live manifest
      // is the rendered schema and the reader widens per file. File
      // enumeration chases the `_prev` chain exactly like the typed read.
      // Row-level SQL (round 16): the COW scan reads EVERY epoch rendered
      // at the live manifest and the replacement commits as a typed
      // rewrite (data/ + carried manifest, chain ended) through OCC.
      // Resolution is AT v — `VERSION AS OF n` renders version n's chain
      // under version n's OWN manifest (found in round 16: the old
      // `TypeWidening.read` here silently rendered the LIVE snapshot for
      // every AS-OF read of a typed table — wrong data, not an error).
      val df = graft.ops.TypeWidening.readVersion(spark, dir, v)
      new GraftTwSqlTable(ident.toString + s"@v$v",
        df.inputFiles.sorted.toSeq, df.schema, dml = dml.map(_ =>
          DmlTarget(dir, "typed", features)), baseVersion = v)
    } else if (fs.exists(new Path(VersionedTable.verDir(dir, v), "_dv"))) {
      // DELETION-VECTOR version: the reader applies each file's bitmap
      // by row index — deleted rows never leave the executor. Bitmaps are
      // resolved per partition from the `_dvbm/` blob sidecar (each task
      // opens ONLY its own file's bitmap), so the driver holds names, not
      // the O(files × bitmap) byte map.
      val vd = VersionedTable.verDir(dir, v).toString
      new GraftDvSqlTable(ident.toString + s"@v$v", vd,
        GraftMeta.footerSchema(spark, vd), dml, baseVersion = v)
    } else {
      val vd = VersionedTable.verDir(dir, v).toString
      new GraftSqlTable(ident.toString + s"@v$v", vd,
        GraftMeta.footerSchema(spark, vd), dml, baseVersion = v)
    }
  }

  // SupportsNamespaces: namespaces are directories that are not tables —
  // enough surface for SHOW NAMESPACES / SHOW TABLES discovery
  private def isTableDir(spark: SparkSession, p: Path): Boolean = {
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val names = fs.listStatus(p).toSeq.map(_.getPath.getName).toSet
    names.contains("_ptr") || names.exists(_.startsWith("_v-")) ||
      names.contains("_log") || names.contains("_heads")
  }

  override def listNamespaces(): Array[Array[String]] = {
    val spark = SparkSession.active
    val rp = new Path(root)
    val fs = rp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(rp)) Array.empty
    else fs.listStatus(rp).toSeq
      .filter(st => st.isDirectory && !st.getPath.getName.startsWith("_") &&
        !isTableDir(spark, st.getPath))
      .map(st => Array(st.getPath.getName)).toArray
  }

  override def listNamespaces(namespace: Array[String]): Array[Array[String]] =
    if (namespace.isEmpty) listNamespaces() else Array.empty

  override def namespaceExists(namespace: Array[String]): Boolean = {
    val spark = SparkSession.active
    val p = new Path((root +: namespace.toSeq).mkString("/"))
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  override def loadNamespaceMetadata(namespace: Array[String])
      : java.util.Map[String, String] = {
    require(namespaceExists(namespace),
      throw new org.apache.spark.sql.catalyst.analysis
        .NoSuchNamespaceException(namespace))
    java.util.Collections.emptyMap()
  }

  override def createNamespace(namespace: Array[String],
      metadata: java.util.Map[String, String]): Unit = {
    val spark = SparkSession.active
    val p = new Path((root +: namespace.toSeq).mkString("/"))
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.mkdirs(p), s"GraftCatalog: cannot create namespace at $p")
  }
  override def alterNamespace(namespace: Array[String],
      changes: NamespaceChange*): Unit =
    sys.error("GraftCatalog: namespaces carry no metadata to alter")
  override def dropNamespace(namespace: Array[String], cascade: Boolean): Boolean = {
    val spark = SparkSession.active
    val p = new Path((root +: namespace.toSeq).mkString("/"))
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) false
    else {
      require(cascade || fs.listStatus(p).isEmpty,
        s"GraftCatalog: namespace ${namespace.mkString(".")} is not empty")
      fs.delete(p, true)
    }
  }

  // ---- DDL: created-but-empty tables carry their declared schema and
  // layout in a `_ddl` marker until the first commit mints version 1
  private val DdlName = "_ddl"

  private def isCreatedEmpty(spark: SparkSession, dir: String): Boolean = {
    val p = new Path(dir, DdlName)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.exists(p) && VersionedTable.currentVersion(spark, dir).isEmpty
  }

  private def readDdl(spark: SparkSession, dir: String): (String, StructType) = {
    val p = new Path(dir, DdlName)
    val text = graft.ops.MetaFile.read(p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
      .getOrElse(throw new IllegalArgumentException(s"GraftCatalog: missing $DdlName under $dir"))
    val parts = text.split("\n", 2)
    (parts(0).stripPrefix("layout="),
      org.apache.spark.sql.types.DataType.fromJson(parts(1))
        .asInstanceOf[StructType])
  }

  /** CREATE TABLE / the create half of CTAS. The table property
    * `layout=log` creates an action-log table (O(delta) appends — the
    * fact-table shape); the default is the snapshot layout. Partition
    * transforms are rejected: layout is declared through the typed ops
    * (HiddenPartitioning / Layout), not Hive-style directories.
    */
  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform],
      properties: java.util.Map[String, String]): Table = {
    require(partitions.isEmpty,
      s"GraftCatalog: $ident — declare layout through the ops layer, " +
        "not PARTITIONED BY")
    val spark = SparkSession.active
    val dir = tableDir(ident)
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p) && (isTableDir(spark, p) || fs.exists(new Path(dir, DdlName))))
      throw new org.apache.spark.sql.catalyst.analysis
        .TableAlreadyExistsException(ident)
    val layout = Option(properties.get("layout")).getOrElse("versioned")
    require(layout == "versioned" || layout == "log",
      s"GraftCatalog: unknown layout '$layout' (versioned | log)")
    fs.mkdirs(p)
    // the _ddl put-if-absent IS the commit point of CREATE TABLE
    // ([[graft.ops.MetaFile.claim]] — local create(overwrite=false) is
    // check-then-create, NOT a CAS): two concurrent creates both pass the
    // exists check above, exactly one wins the slot, and the loser reads
    // as "already exists", never a raw IO error. A bare dir (a crash
    // between mkdirs and this put) holds neither _ddl nor versions and is
    // re-creatable — the exists check above already admits it.
    if (!graft.ops.MetaFile.claim(fs, new Path(dir, DdlName),
      s"layout=$layout\n${schema.json}"
        .getBytes(java.nio.charset.StandardCharsets.UTF_8)))
      throw new org.apache.spark.sql.catalyst.analysis
        .TableAlreadyExistsException(ident)
    new GraftEmptyTable(ident.toString, schema,
      dmlFor(dir, layout).getOrElse(sys.error(
        s"GraftCatalog: $ident — a snapshot-pinned catalog cannot create")))
  }

  /** ALTER TABLE — SQL DDL routed into the schema-evolution protocols:
    * RENAME / DROP / ADD COLUMN (with DEFAULT) are METADATA-ONLY commits
    * on column-mapped tables (stable ids, zero data bytes — the q225
    * machinery behind Spark's own grammar), ALTER COLUMN TYPE is the
    * type-widening manifest commit (q233's — narrowings refused). Tables
    * not enrolled in the matching protocol refuse loudly: renaming a
    * by-name table would orphan every existing file's column.
    */
  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    import graft.ops.{ColumnMapping => CM, TypeWidening => TW}
    val spark = SparkSession.active
    val dir = tableDir(ident)
    require(snapshotCatalog.isEmpty,
      s"GraftCatalog $catName: a snapshot-pinned catalog is a read surface")
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val cur = VersionedTable.currentVersion(spark, dir).getOrElse(
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchTableException(ident))
    val vd = VersionedTable.verDir(dir, cur)
    val isMapped = fs.exists(new Path(vd, "_schema"))
    val isTyped = fs.exists(new Path(vd, "_types"))
    def one(names: Array[String]): String = {
      require(names.length == 1,
        s"GraftCatalog: $ident — nested fields are not supported")
      names(0)
    }
    changes.foreach {
      case r: TableChange.RenameColumn =>
        require(isMapped, s"GraftCatalog: $ident — RENAME COLUMN needs " +
          "column mapping (enroll via ColumnMapping.writeData); renaming " +
          "a by-name table would orphan every file's column")
        CM.rename(spark, dir, one(r.fieldNames()), r.newName()); ()
      case d: TableChange.DeleteColumn =>
        require(isMapped, s"GraftCatalog: $ident — DROP COLUMN needs " +
          "column mapping (enroll via ColumnMapping.writeData)")
        CM.drop(spark, dir, one(d.fieldNames())); ()
      case a: TableChange.AddColumn =>
        require(isMapped, s"GraftCatalog: $ident — ADD COLUMN needs " +
          "column mapping (enroll via ColumnMapping.writeData)")
        require(a.position() == null,
          s"GraftCatalog: $ident — column POSITION is not supported " +
            "(the manifest appends)")
        val dflt = Option(a.defaultValue()).map(_.getSql)
          .getOrElse(s"CAST(NULL AS ${a.dataType().sql})")
        CM.addColumnWithDefault(spark, dir, one(a.fieldNames()), dflt); ()
      case u: TableChange.UpdateColumnType =>
        require(isTyped, s"GraftCatalog: $ident — ALTER COLUMN TYPE needs " +
          "the type-widening layout (enroll via TypeWidening.init)")
        u.fieldNames().toSeq match {
          case Seq(c) => TW.widen(spark, dir, c, u.newDataType()); ()
          case Seq(c, sub) =>
            // One nesting step: `c.element` on an array (round 17 #2:
            // the embedding-precision migration — Spark's grammar for
            // array element updates) or `c.<field>` on a struct
            // (round 18 #2: widening a metadata counter inside the
            // record struct). The manifest stores whole-column types,
            // so both lift to a WHOLE-COLUMN widen: substitute the
            // widened piece and hand the full new type to TW.widen,
            // whose matrix admits element/field-wise widening and
            // refuses narrowing/rename/arity from there.
            val from = TW.typesOf(spark, dir, cur)
              .collectFirst { case (n, t) if n == c => t }
              .getOrElse(sys.error(s"GraftCatalog: $ident — no column '$c'"))
            from match {
              case org.apache.spark.sql.types.ArrayType(_, cn) =>
                require(sub == "element", s"GraftCatalog: $ident — '$c' " +
                  s"is an array; its only nested ALTER target is " +
                  s"'$c.element', not '$c.$sub'")
                TW.widen(spark, dir, c,
                  org.apache.spark.sql.types.ArrayType(u.newDataType(), cn))
                ()
              case st: org.apache.spark.sql.types.StructType =>
                require(st.fieldNames.contains(sub),
                  s"GraftCatalog: $ident — struct column '$c' has no " +
                    s"field '$sub' (fields: ${st.fieldNames.mkString(", ")})")
                TW.widen(spark, dir, c, org.apache.spark.sql.types.StructType(
                  st.fields.map(f =>
                    if (f.name == sub) f.copy(dataType = u.newDataType())
                    else f)))
                ()
              case other => sys.error(s"GraftCatalog: $ident — '$c' is " +
                s"${other.catalogString}; nested ALTER COLUMN TYPE " +
                "targets exist only on arrays (.element) and structs " +
                "(.<field>)")
            }
          case other => sys.error(s"GraftCatalog: $ident — unsupported " +
            s"nested ALTER COLUMN TYPE target ${other.mkString(".")} " +
            "(one nesting step only)")
        }
      case other => sys.error(
        s"GraftCatalog: $ident — unsupported ALTER: $other")
    }
    loadTable(ident)
  }
  override def dropTable(ident: Identifier): Boolean = {
    val spark = SparkSession.active
    val dir = tableDir(ident)
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) false
    else {
      require(isTableDir(spark, p) || fs.exists(new Path(dir, DdlName)),
        s"GraftCatalog: $ident is not a table — refusing to delete $dir")
      fs.delete(p, true)
    }
  }
  override def renameTable(from: Identifier, to: Identifier): Unit =
    sys.error("GraftCatalog: rename is not supported")
}

/** One immutable version dir as a DSv2 table: a partition per data file,
  * decoded by the shared parquet Group reader, with COLUMN PRUNING pushed
  * into the scan — a two-column projection over a wide table decodes two
  * columns, not the row (the by-name Group decode skips unrequested
  * fields entirely).
  */
private[source] class GraftSqlTable(tableName: String, versionDir: String,
    tableSchema: StructType, dml: Option[DmlTarget] = None,
    baseVersion: Long = -1L)
    extends Table with SupportsRead
    with org.apache.spark.sql.connector.catalog.SupportsWrite
    with org.apache.spark.sql.connector.catalog.SupportsDelete
    with org.apache.spark.sql.connector.catalog.SupportsRowLevelOperations {
  override def name(): String = tableName
  override def schema(): StructType = tableSchema
  override def capabilities(): java.util.Set[TableCapability] =
    if (dml.isEmpty) java.util.EnumSet.of(TableCapability.BATCH_READ)
    else java.util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.V1_BATCH_WRITE, TableCapability.TRUNCATE)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new GraftSqlScanBuilder(versionDir, tableSchema)
  override def newWriteBuilder(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder =
    new GraftDmlWriteBuilder(dml.getOrElse(sys.error(
      s"GraftCatalog: $tableName is not writable — AS-OF reads, branches " +
        "and pinned catalogs mutate through the typed ops layer")))
  override def canDeleteWhere(filters: Array[org.apache.spark.sql.sources.Filter])
      : Boolean = dml.exists(_.layout == "versioned") &&
    GraftDelete.predicate(filters).isDefined
  override def deleteWhere(filters: Array[org.apache.spark.sql.sources.Filter])
      : Unit =
    GraftDelete.deleteWhere(dml.getOrElse(sys.error(
      s"GraftCatalog: $tableName is not deletable — history is immutable")),
      filters)
  override def newRowLevelOperationBuilder(
      info: org.apache.spark.sql.connector.write.RowLevelOperationInfo)
      : org.apache.spark.sql.connector.write.RowLevelOperationBuilder = {
    val t = dml.getOrElse(sys.error(
      s"GraftCatalog: $tableName is not writable — AS-OF reads and " +
        "pinned catalogs mutate through the typed ops layer"))
    require(t.layout == "versioned" && baseVersion >= 1L,
      s"GraftCatalog: $tableName supports row-level SQL only on the " +
        "snapshot layout's live version — branches mutate via INSERT or " +
        "the typed ops layer")
    // The COW scan's output IS the replacement snapshot (GroupBatchWrite
    // with replacedFiles = None commits it whole-table), so the scan must
    // read EVERY row of the base: a builder that forwarded the statement's
    // WHERE into parquet row-group pruning would silently drop every row
    // whose file/row-group the predicate excludes. rowLevel = true keeps
    // the reader unpruned — the discipline GraftLogCowScan has always had.
    // `graft.dev.unsafeRowLevelPruning=1` (sys prop, TEST SEAM ONLY)
    // deliberately re-introduces the round-13 bug so the adversarial
    // key-local fixtures (q313's base, Round15OpsSpec) can prove they
    // turn red on it — a fixture that can't detect the bug class it
    // guards is decoration.
    () => new GraftRowLevelOperation(info.command(), t, baseVersion,
      opts => new GraftSqlScanBuilder(versionDir, tableSchema,
        rowLevel = !sys.props.get("graft.dev.unsafeRowLevelPruning")
          .contains("1")))
  }
}

private[source] class GraftSqlScanBuilder(versionDir: String,
    tableSchema: StructType, rowLevel: Boolean = false)
    extends ScanBuilder with SupportsPushDownRequiredColumns
    with org.apache.spark.sql.connector.read.SupportsPushDownFilters {
  private var pruned: StructType = tableSchema
  private var pushed: Seq[org.apache.spark.sql.sources.Filter] = Nil
  override def pruneColumns(requiredSchema: StructType): Unit =
    pruned = requiredSchema
  /** Everything stays RESIDUAL (Spark re-applies the exact predicates);
    * the translatable subset additionally reaches parquet-mr as a
    * row-group pruning predicate (stats/dictionary/bloom) at the reader —
    * EXCEPT in rowLevel mode (the scan behind UPDATE/MERGE/DELETE
    * rewrites), where the scan output becomes the replacement snapshot
    * and any pruning is row loss, so nothing reaches the reader.
    */
  override def pushFilters(filters: Array[org.apache.spark.sql.sources.Filter])
      : Array[org.apache.spark.sql.sources.Filter] = {
    if (!rowLevel) pushed = filters.toSeq
    filters
  }
  override def pushedFilters(): Array[org.apache.spark.sql.sources.Filter] =
    ParquetPushdown.pushable(pushed, tableSchema, Map.empty).toArray
  override def build(): Scan = new GraftSqlScan(versionDir, pruned, pushed)
}

/** A deletion-vector version in the catalog: each data file's bitmap is
  * shipped with its partition and applied BY ROW INDEX at the reader —
  * the deleted rows are skipped during decode, never materialized, never
  * shuffled. The same O(deleted) semantics as `DeletionVectors.read`,
  * now reachable from plain SQL.
  */
private[source] class GraftDvSqlTable(tableName: String, versionDir: String,
    tableSchema: StructType,
    dml: Option[DmlTarget] = None, baseVersion: Long = -1L)
    extends Table with SupportsRead
    with org.apache.spark.sql.connector.catalog.SupportsWrite
    with org.apache.spark.sql.connector.catalog.SupportsDelete
    with org.apache.spark.sql.connector.catalog.SupportsRowLevelOperations {
  override def name(): String = tableName
  override def schema(): StructType = tableSchema
  override def capabilities(): java.util.Set[TableCapability] =
    if (dml.isEmpty) java.util.EnumSet.of(TableCapability.BATCH_READ)
    else java.util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.V1_BATCH_WRITE, TableCapability.TRUNCATE)
  // INSERT INTO / INSERT OVERWRITE on a DV version commit through the
  // same V1 path as plain versions; Occ.commit reads the DV-APPLIED view
  // as its base, so the new full snapshot folds the vectors away rather
  // than resurrecting masked rows
  override def newWriteBuilder(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder =
    new GraftDmlWriteBuilder(dml.getOrElse(sys.error(
      s"GraftCatalog: $tableName is not writable — AS-OF reads, branches " +
        "and pinned catalogs mutate through the typed ops layer")))
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder with SupportsPushDownRequiredColumns {
      private var pruned: StructType = tableSchema
      override def pruneColumns(requiredSchema: StructType): Unit =
        pruned = requiredSchema
      override def build(): Scan = new GraftDvSqlScan(versionDir, pruned)
    }
  // a second SQL DELETE on an already-DV'd table merges bitmaps through
  // the same typed path — deletes compose
  override def canDeleteWhere(filters: Array[org.apache.spark.sql.sources.Filter])
      : Boolean = dml.isDefined && GraftDelete.predicate(filters).isDefined
  override def deleteWhere(filters: Array[org.apache.spark.sql.sources.Filter])
      : Unit =
    GraftDelete.deleteWhere(dml.getOrElse(sys.error(
      s"GraftCatalog: $tableName is not deletable — history is immutable")),
      filters)
  // UPDATE/MERGE on a DV table: the operation's scan is the DV-AWARE one
  // above, so masked rows never resurrect into the replacement content
  override def newRowLevelOperationBuilder(
      info: org.apache.spark.sql.connector.write.RowLevelOperationInfo)
      : org.apache.spark.sql.connector.write.RowLevelOperationBuilder = {
    val t = dml.getOrElse(sys.error(
      s"GraftCatalog: $tableName is not writable — AS-OF reads and " +
        "pinned catalogs mutate through the typed ops layer"))
    require(baseVersion >= 1L,
      s"GraftCatalog: $tableName has no base version for row-level ops")
    () => new GraftRowLevelOperation(info.command(), t, baseVersion,
      opts => this.newScanBuilder(opts))
  }
}

private[source] class GraftDvSqlScan(versionDir: String,
    schema: StructType) extends Scan with Batch {
  override def readSchema(): StructType = schema
  override def toBatch: Batch = this
  override def description(): String = s"GraftDvSqlScan [$versionDir]"
  override def planInputPartitions(): Array[InputPartition] = {
    val p = new Path(versionDir)
    val fs = p.getFileSystem(SharedHadoopConf.get)
    // one listing of the blob sidecar: the driver learns only which files
    // HAVE a vector (names); each partition carries its blob's PATH and
    // the executor-side reader opens only that bitmap
    val blobDir = new Path(p, graft.ops.DeletionVectors.BlobDirName)
    val haveBlobs = fs.exists(blobDir)
    val withDv: Set[String] =
      if (!haveBlobs) Set.empty
      else fs.listStatus(blobDir).toSeq.map(_.getPath.getName)
        .filter(_.endsWith(".bm")).map(_.stripSuffix(".bm")).toSet
    // LEGACY fallback: a version carrying `_dv` but no `_dvbm` blob for a
    // given file (written before the blob plane existed, or a writer that
    // crashed after landing SOME blobs) must NOT read that file as
    // vector-free — that silently resurrects its deleted rows. The parquet
    // sidecar is the canonical form; load it driver-side whenever it
    // exists (O(files-with-deletes × bitmap), the pre-blob plane's own
    // bound) and resolve PER FILE: blob when present, else the inlined
    // sidecar bitmap. Never gate the sidecar load on blob presence —
    // partial blob coverage is exactly the crash shape to survive.
    val inlined: Map[String, Array[Byte]] = {
      val dvDir = new Path(p, "_dv")
      if (!fs.exists(dvDir)) Map.empty
      else {
        // cost discipline: in the normal (fully-blob-covered) case this
        // must stay O(footers), never a Spark job — the writer lands the
        // canonical sidecar row BEFORE (or with) each blob, so blob names
        // are always a subset of sidecar rows, and `sidecar row count ==
        // blob count` proves full coverage from the parquet footers alone
        // (zero data pages read, zero jobs planned). Only an uncovered
        // remainder (legacy tables, or a writer that crashed after
        // landing some blobs) pays a read — and that read filters with a
        // broadcast anti-join against the blob-name set, never a
        // |covered-files|-wide `isin` literal.
        val sidecarRows = fs.listStatus(dvDir).toSeq
          .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
          .map { st =>
            val in = org.apache.parquet.hadoop.util.HadoopInputFile
              .fromStatus(st, SharedHadoopConf.get)
            val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
            try r.getRecordCount finally r.close()
          }.sum
        if (sidecarRows == withDv.size.toLong) Map.empty
        else {
          val spark = SparkSession.active
          val sidecar = spark.read.parquet(dvDir.toString)
          val uncovered =
            if (withDv.isEmpty) sidecar // legacy table: no blob plane at all
            else {
              import org.apache.spark.sql.functions.broadcast
              val dvNames = spark.createDataset(withDv.toSeq)(
                org.apache.spark.sql.Encoders.STRING).toDF("file_name")
              sidecar.join(broadcast(dvNames), Seq("file_name"), "left_anti")
            }
          uncovered.select("file_name", "bitmap").collect()
            .map(r => r.getString(0) -> r.getAs[Array[Byte]](1)).toMap
        }
      }
    }
    GraftMeta.dataFiles(fs, p)
      .map { st =>
        val n = st.getPath.getName
        DvFilePartition(st.getPath.toString,
          if (withDv(n)) Some(new Path(blobDir, n + ".bm").toString)
          else None,
          if (withDv(n)) None else inlined.get(n)): InputPartition
      }
      .toArray
  }
  override def createReaderFactory(): PartitionReaderFactory =
    new DvReaderFactory(schema)
}

private[source] case class DvFilePartition(file: String,
    bitmapPath: Option[String],
    bitmapBytes: Option[Array[Byte]] = None) extends InputPartition

private[source] class DvReaderFactory(schema: StructType)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition)
      : PartitionReader[org.apache.spark.sql.catalyst.InternalRow] = {
    val p = partition.asInstanceOf[DvFilePartition]
    val inner = new CdfReaderFactory(schema)
      .createReader(CdfFilePartition(0L, p.file))
    val bmBytes: Option[Array[Byte]] = p.bitmapBytes.orElse(p.bitmapPath.map { bp =>
      val path = new Path(bp)
      val fs = path.getFileSystem(SharedHadoopConf.get)
      val len = fs.getFileStatus(path).getLen.toInt
      val bytes = new Array[Byte](len)
      val in = fs.open(path)
      try in.readFully(0L, bytes) finally in.close()
      bytes
    })
    val bm = bmBytes.map { bytes =>
      val b = new org.roaringbitmap.RoaringBitmap()
      b.deserialize(java.nio.ByteBuffer.wrap(bytes))
      b
    }
    new PartitionReader[org.apache.spark.sql.catalyst.InternalRow] {
      private var idx = -1L
      private var row: org.apache.spark.sql.catalyst.InternalRow = _
      @annotation.tailrec
      override final def next(): Boolean =
        if (!inner.next()) false
        else {
          idx += 1
          if (bm.exists(_.contains(idx.toInt))) next()
          else { row = inner.get(); true }
        }
      override def get(): org.apache.spark.sql.catalyst.InternalRow = row
      override def close(): Unit = inner.close()
    }
  }
}

/** A column-mapped version in the catalog: logical names over physical
  * `c_<id>` file columns, mapped per field at the reader.
  */
private[source] class GraftMappedSqlTable(tableName: String, dataDir: String,
    tableSchema: StructType, nameMap: Map[String, String],
    fills: Map[String, Any] = Map.empty)
    extends Table with SupportsRead {
  override def name(): String = tableName
  override def schema(): StructType = tableSchema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder with SupportsPushDownRequiredColumns {
      private var pruned: StructType = tableSchema
      override def pruneColumns(requiredSchema: StructType): Unit =
        pruned = requiredSchema
      override def build(): Scan =
        new GraftMappedSqlScan(dataDir, pruned, nameMap, fills)
    }
}

private[source] class GraftMappedSqlScan(dataDir: String, schema: StructType,
    nameMap: Map[String, String], fills: Map[String, Any] = Map.empty)
    extends Scan with Batch {
  override def readSchema(): StructType = schema
  override def toBatch: Batch = this
  override def description(): String =
    s"GraftMappedSqlScan [$dataDir] ReadSchema: ${schema.catalogString}"
  private lazy val dataFiles: Seq[org.apache.hadoop.fs.FileStatus] = {
    val p = new Path(dataDir)
    GraftMeta.dataFiles(p.getFileSystem(SharedHadoopConf.get), p)
  }
  override def planInputPartitions(): Array[InputPartition] =
    dataFiles.map(st =>
      CdfFilePartition(0L, st.getPath.toString): InputPartition).toArray
  // SIZE-AWARE reader switch (round-14, closing the round-13 revisit
  // note): mapped tables are usually DDL-churned small-file fixtures
  // where the vectorized reader's per-file setup (footer + batch/vector
  // init) costs more than it saves (q286 measured 2x) — those keep the
  // row materializer. Files big enough to amortize the setup flip to the
  // vectorized path, which wins >=1.5x on real data volumes. The switch
  // is per SCAN (largest data file), because Spark requires a scan's
  // partitions to be uniformly columnar or uniformly row-based. 512 KB
  // separates the two regimes by >100x on both sides: DDL-churn fixtures
  // are single-digit KB, real data files are tens of MB.
  private val VectorizedMinBytes = 512L << 10
  override def createReaderFactory(): PartitionReaderFactory =
    new CdfReaderFactory(schema, nameMap, fills,
      columnar = dataFiles.nonEmpty &&
        dataFiles.map(_.getLen).max >= VectorizedMinBytes)
}

/** A driver-side metadata table ([[GraftCatalog.metadataTable]]): the
  * rows are already-materialized O(versions|files) bookkeeping, served
  * through DSv2 `LocalScan` — Spark folds it into a LocalTableScan, no
  * executor work, no data file touched.
  */
private[source] class GraftLocalTable(tableName: String,
    tableSchema: StructType,
    data: Seq[org.apache.spark.sql.catalyst.InternalRow])
    extends Table with SupportsRead {
  override def name(): String = tableName
  override def schema(): StructType = tableSchema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    () => new org.apache.spark.sql.connector.read.LocalScan {
      override def rows(): Array[org.apache.spark.sql.catalyst.InternalRow] =
        data.toArray
      override def readSchema(): StructType = tableSchema
      override def description(): String =
        s"GraftLocalScan [$tableName] rows=${data.size}"
    }
}

/** A type-widening table in the catalog: an explicit file list spanning
  * physical-type epochs, rendered under the LIVE manifest — the reader
  * widens each file's narrower physical type (int32→long, float→double)
  * during decode, so `SELECT` after `ALTER COLUMN TYPE` reads every
  * epoch without a rewrite.
  *
  * Row-level SQL (round 16): UPDATE / MERGE / the rewrite form of DELETE
  * run the group-based COW plan — the scan renders EVERY epoch at the
  * live manifest (unpruned: its output IS the replacement snapshot) and
  * the write commits a typed REWRITE version (`data/` + the manifest
  * carried forward, chain ended) through the same OCC claim as the
  * versioned plane. INSERT INTO appends an epoch at the manifest types;
  * INSERT OVERWRITE is the whole-snapshot rewrite.
  */
private[source] class GraftTwSqlTable(tableName: String,
    files: Seq[String], tableSchema: StructType,
    dml: Option[DmlTarget] = None, baseVersion: Long = -1L)
    extends Table with SupportsRead
    with org.apache.spark.sql.connector.catalog.SupportsWrite
    with org.apache.spark.sql.connector.catalog.SupportsRowLevelOperations {
  override def name(): String = tableName
  override def schema(): StructType = tableSchema
  override def capabilities(): java.util.Set[TableCapability] =
    if (dml.isEmpty) java.util.EnumSet.of(TableCapability.BATCH_READ)
    else java.util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.V1_BATCH_WRITE, TableCapability.TRUNCATE)
  override def newWriteBuilder(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder =
    new GraftDmlWriteBuilder(dml.getOrElse(sys.error(
      s"GraftCatalog: $tableName is not writable — AS-OF reads and " +
        "pinned catalogs mutate through the typed ops layer")))
  override def newRowLevelOperationBuilder(
      info: org.apache.spark.sql.connector.write.RowLevelOperationInfo)
      : org.apache.spark.sql.connector.write.RowLevelOperationBuilder = {
    val t = dml.getOrElse(sys.error(
      s"GraftCatalog: $tableName is not writable — AS-OF reads and " +
        "pinned catalogs mutate through the typed ops layer"))
    require(baseVersion >= 1L,
      s"GraftCatalog: $tableName supports row-level SQL only on the " +
        "live version")
    () => new GraftRowLevelOperation(info.command(), t, baseVersion,
      opts => newScanBuilder(opts))
  }
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder with SupportsPushDownRequiredColumns {
      private var pruned: StructType = tableSchema
      override def pruneColumns(requiredSchema: StructType): Unit =
        pruned = requiredSchema
      override def build(): Scan = new Scan with Batch {
        override def readSchema(): StructType = pruned
        override def toBatch: Batch = this
        override def description(): String =
          s"GraftTwSqlScan files=${files.size} " +
            s"ReadSchema: ${pruned.catalogString}"
        override def planInputPartitions(): Array[InputPartition] =
          files.map(f => CdfFilePartition(0L, f): InputPartition).toArray
        override def createReaderFactory(): PartitionReaderFactory =
          new CdfReaderFactory(pruned)
      }
    }
}

/** A log-structured table in the catalog: scans prune files from the
  * LOG's per-file stats under pushed-down range/equality filters on the
  * stats column — zero footers opened for skipped files — and every
  * pushed filter is returned as a residual so Spark re-applies the exact
  * predicate (pruning is an optimization, never a correctness bet).
  * STREAMING reads (`spark.readStream.table`) hand the same table to the
  * version-offset micro-batch stream — the q269 source behind the
  * catalog name (reader options `startingVersion` /
  * `maxVersionsPerTrigger` pass through); the version-TAGGED feed stays
  * on the direct [[LogStream]] source, whose schema declares the tag.
  */
private[source] class GraftLogSqlTable(tableName: String, dir: String,
    files: Seq[(String, Option[(Long, Long, Long)])],
    statsCol: Option[String], tableSchema: StructType,
    dml: Option[DmlTarget] = None, baseVersion: Long = -1L)
    extends Table with SupportsRead
    with org.apache.spark.sql.connector.catalog.SupportsWrite
    with org.apache.spark.sql.connector.catalog.SupportsMetadataColumns
    with org.apache.spark.sql.connector.catalog.SupportsRowLevelOperations {
  override def name(): String = tableName
  override def schema(): StructType = tableSchema
  // `_file`: each row's source file name — the group identity row-level
  // COW keys on (and a user-queryable provenance column, Delta-style)
  override def metadataColumns()
      : Array[org.apache.spark.sql.connector.catalog.MetadataColumn] =
    Array(new org.apache.spark.sql.connector.catalog.MetadataColumn {
      override def name(): String = GraftMeta.FileCol
      override def dataType(): org.apache.spark.sql.types.DataType =
        org.apache.spark.sql.types.StringType
      override def isNullable: Boolean = false
    })
  override def capabilities(): java.util.Set[TableCapability] =
    if (dml.isEmpty) java.util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.MICRO_BATCH_READ)
    else java.util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.MICRO_BATCH_READ,
      TableCapability.V1_BATCH_WRITE, TableCapability.TRUNCATE)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new GraftLogScanBuilder(dir, files, statsCol, tableSchema, options)
  override def newWriteBuilder(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder =
    new GraftDmlWriteBuilder(dml.getOrElse(sys.error(
      s"GraftCatalog: $tableName is not writable — AS-OF log reads " +
        "mutate through the typed ops layer")))
  // UPDATE / MERGE / expression DELETE: GROUP-granular copy-on-write —
  // the runtime group filter narrows the operation to the files holding
  // matching rows, and the commit is ONE remove(affected)+add log record
  // at base+1; untouched files stay live by reference (rewriteStaged)
  override def newRowLevelOperationBuilder(
      info: org.apache.spark.sql.connector.write.RowLevelOperationInfo)
      : org.apache.spark.sql.connector.write.RowLevelOperationBuilder = {
    val t = dml.getOrElse(sys.error(
      s"GraftCatalog: $tableName is not writable — AS-OF log reads " +
        "mutate through the typed ops layer"))
    require(baseVersion >= 1L,
      s"GraftCatalog: $tableName has no base version for row-level ops")
    () => {
      lazy val op: GraftRowLevelOperation = new GraftRowLevelOperation(
        info.command(), t, baseVersion,
        opts => new GraftLogScanBuilder(dir, files, statsCol, tableSchema,
          opts) {
          override def build(): Scan =
            buildCow(files.map(_._1), fs => op.replacedFiles = Some(fs))
        },
        groupFilterable = true)
      op
    }
  }
}

private[source] class GraftLogScanBuilder(dir: String,
    files: Seq[(String, Option[(Long, Long, Long)])],
    statsCol: Option[String], tableSchema: StructType,
    options: CaseInsensitiveStringMap = CaseInsensitiveStringMap.empty())
    extends ScanBuilder with SupportsPushDownRequiredColumns
    with org.apache.spark.sql.connector.read.SupportsPushDownFilters {
  import org.apache.spark.sql.sources._

  private var pruned: StructType = tableSchema
  private var bounds: (Long, Long) = (Long.MinValue, Long.MaxValue)

  override def pruneColumns(requiredSchema: StructType): Unit =
    pruned = requiredSchema

  private var pushedAll: Seq[Filter] = Nil

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    pushedAll = filters.toSeq
    statsCol.foreach { c =>
      filters.foreach {
        case EqualTo(`c`, v: Number) =>
          bounds = (bounds._1 max v.longValue, bounds._2 min v.longValue)
        case GreaterThan(`c`, v: Number) =>
          bounds = (bounds._1 max (v.longValue + 1), bounds._2)
        case GreaterThanOrEqual(`c`, v: Number) =>
          bounds = (bounds._1 max v.longValue, bounds._2)
        case LessThan(`c`, v: Number) =>
          bounds = (bounds._1, bounds._2 min (v.longValue - 1))
        case LessThanOrEqual(`c`, v: Number) =>
          bounds = (bounds._1, bounds._2 min v.longValue)
        case _ => ()
      }
    }
    filters // all residual: Spark re-applies the exact predicates
  }
  override def pushedFilters(): Array[Filter] =
    ParquetPushdown.pushable(pushedAll, tableSchema, Map.empty).toArray

  private def keepFiles: Seq[String] = files.collect {
    case (f, Some((lo, hi, _))) if hi >= bounds._1 && lo <= bounds._2 => f
    case (f, None) => f // stats-less file: conservative admit
  }

  override def build(): Scan =
    new GraftLogScan(dir, keepFiles, files.size, pruned, options, pushedAll)

  /** The row-level operation's scan: runtime-group-filterable. `allLive`
    * is the UNPRUNED live set, and it is also what the scan READS when no
    * runtime group filter fires: the no-filter fallback is a WHOLE-TABLE
    * replacement (the commit removes every live file), so the replacement
    * content must be built from every live file — seeding the scan from
    * the stats-pruned `keepFiles` there would silently drop the pruned
    * files' rows (a selective DELETE wiping non-overlapping files). Stats
    * pruning still pays off on the group-filter SUBQUERY scan (built by
    * the ordinary `build()`), where the operation's condition IS pushed.
    */
  protected def buildCow(allLive: Seq[String],
      register: Seq[String] => Unit): Scan =
    new GraftLogCowScan(dir, allLive, files.size, pruned, register)
}

/** Group-filterable scan for row-level SQL on the log layout: Spark's
  * `RowLevelOperationRuntimeGroupFiltering` executes a subquery for the
  * `_file` values holding matching rows and pushes IN(`_file`, ...) here;
  * the scan then reads ONLY those groups, and `register` hands the
  * commit the exact file set the operation replaces. Without a runtime
  * filter the scan reads everything and the commit stays whole-table.
  */
private[source] class GraftLogCowScan(dir: String,
    allLive: Seq[String], total: Int, schema: StructType,
    register: Seq[String] => Unit)
    extends Scan with Batch
    with org.apache.spark.sql.connector.read.SupportsRuntimeV2Filtering {
  import org.apache.spark.sql.connector.expressions.NamedReference

  // starts UNPRUNED: if filter() never fires (runtime group filtering
  // disabled, or a plan shape that skips it) the commit falls back to
  // whole-table replacement, and the replacement content must then be
  // built from EVERY live file — not the stats-pruned subset
  @volatile private var toRead: Seq[String] = allLive

  override def readSchema(): StructType = schema
  override def toBatch: Batch = this
  override def description(): String =
    s"GraftLogCowScan [$dir] files=${toRead.size}/$total"

  override def filterAttributes(): Array[NamedReference] =
    Array(org.apache.spark.sql.connector.expressions.Expressions
      .column(GraftMeta.FileCol))

  override def filter(predicates
      : Array[org.apache.spark.sql.connector.expressions.filter.Predicate])
      : Unit = {
    val admits = predicates.toSeq.collect {
      case p if p.name == "IN" && p.children.headOption.exists {
          case r: NamedReference =>
            r.fieldNames.sameElements(Array(GraftMeta.FileCol))
          case _ => false
        } =>
        p.children.tail.collect {
          case l: org.apache.spark.sql.connector.expressions.Literal[_] =>
            String.valueOf(l.value)
        }.toSet
    }
    if (admits.nonEmpty) {
      val admit = admits.reduce(_ intersect _)
      toRead = toRead.filter(admit)
      register(allLive.filter(admit))
    }
  }

  override def planInputPartitions(): Array[InputPartition] =
    toRead.map(f => CdfFilePartition(0L, s"$dir/data/$f"): InputPartition)
      .toArray
  override def createReaderFactory(): PartitionReaderFactory =
    new CdfReaderFactory(schema, columnar = true)
}

private[source] class GraftLogScan(dir: String, keep: Seq[String],
    total: Int, schema: StructType,
    options: CaseInsensitiveStringMap = CaseInsensitiveStringMap.empty(),
    pushed: Seq[org.apache.spark.sql.sources.Filter] = Nil)
    extends Scan with Batch {
  override def readSchema(): StructType = schema
  override def toBatch: Batch = this
  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    new LogMicroBatchStream(dir, schema,
      Option(options.get("startingVersion")).map(_.toLong),
      Option(options.get("maxVersionsPerTrigger")).map(_.toInt),
      Option(options.get("maxBytesPerTrigger")).map(_.toLong))
  override def description(): String =
    s"GraftLogScan [$dir] files=${keep.size}/$total"
  override def planInputPartitions(): Array[InputPartition] =
    keep.map(f => CdfFilePartition(0L, s"$dir/data/$f"): InputPartition).toArray
  override def createReaderFactory(): PartitionReaderFactory =
    new CdfReaderFactory(schema, columnar = true, pushed = pushed)
}

private[source] class GraftSqlScan(versionDir: String, schema: StructType,
    pushed: Seq[org.apache.spark.sql.sources.Filter] = Nil)
    extends Scan with Batch with SupportsReportStatistics {
  override def readSchema(): StructType = schema
  override def toBatch: Batch = this
  override def description(): String =
    s"GraftSqlScan [$versionDir] ReadSchema: ${schema.catalogString}"

  /** Actual on-disk bytes of the version dir — the q253 lesson delivered
    * to the SQL surface: without this a v2 relation sizes to Long.Max and
    * a kilobyte dim can never win a broadcast.
    */
  override def estimateStatistics(): Statistics = {
    val p = new Path(versionDir)
    val fs = p.getFileSystem(SharedHadoopConf.get)
    val bytes = GraftMeta.dataFiles(fs, p).map(_.getLen).sum
    new Statistics {
      override def sizeInBytes(): java.util.OptionalLong =
        java.util.OptionalLong.of(bytes)
      override def numRows(): java.util.OptionalLong =
        java.util.OptionalLong.empty()
    }
  }
  override def planInputPartitions(): Array[InputPartition] = {
    val p = new Path(versionDir)
    GraftMeta.dataFiles(p.getFileSystem(SharedHadoopConf.get), p)
      .map(st => CdfFilePartition(0L, st.getPath.toString): InputPartition)
      .toArray
  }
  override def createReaderFactory(): PartitionReaderFactory =
    new CdfReaderFactory(schema, columnar = true, pushed = pushed)
}
