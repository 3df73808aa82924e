package graft.source

import java.util.UUID

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.{LogicalTypeAnnotation, MessageType, Types}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types._

import graft.ops.Occ

/** DISTRIBUTED DSv2 BATCH WRITE over the parquet Group API — the write
  * half of the executor path ([[CdfReaderFactory]] is the read half):
  * each task writes its partition straight into the table's OCC staging
  * dir as one parquet file (no driver materialization, no second copy),
  * commit messages name the surviving attempt's files, and the driver
  * commit claims the next version through [[Occ.commitStagedDir]] — the
  * rename-free path Spark's row-level operations (UPDATE / MERGE / the
  * rewrite form of DELETE) need, because ReplaceData has no V1 fallback.
  * Speculative duplicate attempts are resolved at commit: files not
  * named by a commit message are deleted before the stage goes live.
  */
private[graft] object GroupWrite {

  /** Scalar leaf types the Group writer + reader pair can round-trip. */
  private def scalarSupported(dt: DataType): Boolean = dt match {
    case LongType | IntegerType | ShortType | ByteType | DoubleType |
      FloatType | BooleanType | StringType | DateType | TimestampType |
      TimestampNTZType => true
    case d: DecimalType => d.precision <= 18
    case _ => false
  }

  /** Every type the Group writer + reader pair can round-trip — the
    * single source of truth the PLAN-TIME gate below checks against.
    * Structs of scalar primitives (round 17 #7: the metadata-bearing
    * training-record shape — source/license/quality riding each
    * document) are first-class; arrays carry every scalar PLUS structs
    * of scalars (round 18 #1: `turns array<struct<role,content>>`, the
    * canonical conversation-turn training column). Deeper nesting
    * (struct-in-struct, array-in-array, maps) is not — maps refuse as
    * PERMANENT POLICY (round 18 #5): a `map<k,v>` request-metadata
    * column restructures losslessly into an exploded key/value side
    * table, which shuffles, prunes, and widens like any other table,
    * while a map column would need its own parquet MAP machinery on
    * every plane for no query the exploded form can't answer.
    */
  def supported(dt: DataType): Boolean = dt match {
    case st: StructType => st.fields.forall(f => scalarSupported(f.dataType))
    case ArrayType(et, _) => et match {
      case st: StructType => st.fields.forall(f => scalarSupported(f.dataType))
      case other => scalarSupported(other)
    }
    case other => scalarSupported(other)
  }

  /** PLAN-TIME admission for the row-level write path (round 17 #7):
    * without this, a map/nested column died inside an executor task
    * retry loop with a writer stack trace — the round-15 SHORT/BYTE
    * asymmetry lesson, generalized. Runs on the driver at write
    * construction, so an unsupported column refuses the whole
    * UPDATE/MERGE/DELETE with a message that names the column and the
    * supported surface.
    */
  def validate(schema: StructType, context: String): Unit = {
    val bad = schema.fields.filterNot(f => supported(f.dataType))
    require(bad.isEmpty,
      s"$context: column(s) " +
        bad.map(f => s"${f.name}: ${f.dataType.catalogString}")
          .mkString(", ") +
        " are not supported by the row-level SQL write path (supported" +
        " scalars: integral/float/boolean/string/date/timestamp/" +
        "decimal(<=18); structs of those scalars; arrays of those" +
        " scalars or of such structs). Maps restructure into an exploded" +
        " key/value table; deeper nesting flattens — or write through" +
        " append/overwrite instead of UPDATE/MERGE/DELETE")
  }

  /** One scalar leaf field. Narrow integrals ride INT32 physically with
    * an intType width annotation — mirrors the read-side SMALLINT/
    * TINYINT converters (round 15's type-widening-fuzz find); without
    * these the write half of SQL UPDATE/MERGE/rewrite-DELETE on a
    * pre-widen table died at executor task time while the read half
    * succeeded.
    */
  private def scalarLeaf(name: String,
      dt: DataType): org.apache.parquet.schema.Type = dt match {
    case LongType => Types.optional(INT64).named(name)
    case IntegerType => Types.optional(INT32).named(name)
    case ShortType => Types.optional(INT32)
      .as(LogicalTypeAnnotation.intType(16, true)).named(name)
    case ByteType => Types.optional(INT32)
      .as(LogicalTypeAnnotation.intType(8, true)).named(name)
    case DoubleType => Types.optional(DOUBLE).named(name)
    case FloatType => Types.optional(FLOAT).named(name)
    case BooleanType => Types.optional(BOOLEAN).named(name)
    case StringType => Types.optional(BINARY)
      .as(LogicalTypeAnnotation.stringType()).named(name)
    case DateType => Types.optional(INT32)
      .as(LogicalTypeAnnotation.dateType()).named(name)
    case TimestampType => Types.optional(INT64)
      .as(LogicalTypeAnnotation.timestampType(true,
        LogicalTypeAnnotation.TimeUnit.MICROS)).named(name)
    case TimestampNTZType => Types.optional(INT64)
      .as(LogicalTypeAnnotation.timestampType(false,
        LogicalTypeAnnotation.TimeUnit.MICROS)).named(name)
    case d: DecimalType if d.precision <= 9 =>
      Types.optional(INT32)
        .as(LogicalTypeAnnotation.decimalType(d.scale, d.precision))
        .named(name)
    case d: DecimalType if d.precision <= 18 =>
      Types.optional(INT64)
        .as(LogicalTypeAnnotation.decimalType(d.scale, d.precision))
        .named(name)
    case other => sys.error(
      s"GroupWrite: unsupported scalar leaf type $other ($name)")
  }

  /** Add one struct's non-null fields to an already-created child group
    * — shared between top-level struct columns and struct ARRAY ELEMENTS
    * (round 18 #1); a null field is simply absent (parquet optional).
    */
  private[source] def addStructFields(
      sg: org.apache.parquet.example.data.Group, st: StructType,
      sr: InternalRow, ctx: String): Unit =
    st.fields.zipWithIndex.foreach { case (cf, j) =>
      if (!sr.isNullAt(j)) cf.dataType match {
        case LongType => sg.add(cf.name, sr.getLong(j))
        case IntegerType => sg.add(cf.name, sr.getInt(j))
        case ShortType => sg.add(cf.name, sr.getShort(j).toInt)
        case ByteType => sg.add(cf.name, sr.getByte(j).toInt)
        case DoubleType => sg.add(cf.name, sr.getDouble(j))
        case FloatType => sg.add(cf.name, sr.getFloat(j))
        case BooleanType => sg.add(cf.name, sr.getBoolean(j))
        case StringType => sg.add(cf.name,
          Binary.fromConstantByteArray(sr.getUTF8String(j).getBytes))
        case DateType => sg.add(cf.name, sr.getInt(j))
        case TimestampType | TimestampNTZType =>
          sg.add(cf.name, sr.getLong(j))
        case d: DecimalType if d.precision <= 9 =>
          sg.add(cf.name,
            sr.getDecimal(j, d.precision, d.scale).toUnscaledLong.toInt)
        case d: DecimalType if d.precision <= 18 =>
          sg.add(cf.name,
            sr.getDecimal(j, d.precision, d.scale).toUnscaledLong)
        case other => sys.error(
          s"GroupWrite: unsupported struct child type $other " +
            s"($ctx.${cf.name})")
      }
    }

  /** One row as a parquet `Group` of `schema`'s message type: the single
    * row→Group mapping every Group writer shares. Columns start at `off`
    * (row-level plans prepend an operation marker); a null value is simply
    * absent (parquet optional).
    */
  def toGroup(factory: SimpleGroupFactory, schema: StructType,
      row: InternalRow, off: Int): Group = {
    val g = factory.newGroup()
    schema.fields.zipWithIndex.foreach { case (f, fi) =>
      val i = fi + off
      if (!row.isNullAt(i)) f.dataType match {
        case LongType => g.add(f.name, row.getLong(i))
        case IntegerType => g.add(f.name, row.getInt(i))
        case ShortType => g.add(f.name, row.getShort(i).toInt)
        case ByteType => g.add(f.name, row.getByte(i).toInt)
        case DoubleType => g.add(f.name, row.getDouble(i))
        case FloatType => g.add(f.name, row.getFloat(i))
        case BooleanType => g.add(f.name, row.getBoolean(i))
        case StringType => g.add(f.name,
          Binary.fromConstantByteArray(row.getUTF8String(i).getBytes))
        case DateType => g.add(f.name, row.getInt(i))
        case TimestampType | TimestampNTZType =>
          g.add(f.name, row.getLong(i))
        case d: DecimalType if d.precision <= 9 =>
          g.add(f.name,
            row.getDecimal(i, d.precision, d.scale).toUnscaledLong.toInt)
        case d: DecimalType if d.precision <= 18 =>
          g.add(f.name,
            row.getDecimal(i, d.precision, d.scale).toUnscaledLong)
        // STRUCT of scalars (round 17 #7): one child group, each
        // non-null child added by name; a null child is simply
        // absent (parquet optional)
        case st: StructType =>
          addStructFields(g.addGroup(f.name), st,
            row.getStruct(i, st.size), f.name)
        // ARRAY: one "list" group occurrence per element inside the
        // LIST wrapper; a null element is an occurrence with no
        // "element" value (the standard 3-level encoding). Elements
        // span every supported scalar plus structs of scalars
        // (round 18 #1/#4)
        case ArrayType(et, _) =>
          val arr = row.getArray(i)
          val lg = g.addGroup(f.name)
          var j = 0
          while (j < arr.numElements()) {
            val el = lg.addGroup("list")
            if (!arr.isNullAt(j)) et match {
              case LongType => el.add("element", arr.getLong(j))
              case IntegerType => el.add("element", arr.getInt(j))
              case ShortType => el.add("element", arr.getShort(j).toInt)
              case ByteType => el.add("element", arr.getByte(j).toInt)
              case DoubleType => el.add("element", arr.getDouble(j))
              case FloatType => el.add("element", arr.getFloat(j))
              case BooleanType => el.add("element", arr.getBoolean(j))
              case StringType => el.add("element",
                Binary.fromConstantByteArray(arr.getUTF8String(j).getBytes))
              case DateType => el.add("element", arr.getInt(j))
              case TimestampType | TimestampNTZType =>
                el.add("element", arr.getLong(j))
              case d: DecimalType if d.precision <= 9 =>
                el.add("element",
                  arr.getDecimal(j, d.precision, d.scale)
                    .toUnscaledLong.toInt)
              case d: DecimalType if d.precision <= 18 =>
                el.add("element",
                  arr.getDecimal(j, d.precision, d.scale).toUnscaledLong)
              case st: StructType =>
                addStructFields(el.addGroup("element"), st,
                  arr.getStruct(j, st.size), s"${f.name}.element")
              case other => sys.error(
                s"GroupWrite: unsupported array element type $other (${f.name})")
            }
            j += 1
          }
        case other => sys.error(
          s"GroupWrite: unsupported column type $other (${f.name})")
      }
    }
    g
  }

  /** Write `rows` of `schema` as ONE snappy parquet file at `file`, on the
    * calling thread — the driver-side twin of the task writer below, for a
    * table small enough to be held on the driver.
    */
  def writeFile(conf: Configuration, file: Path, schema: StructType,
      rows: Iterable[InternalRow]): Unit = {
    val msgType = messageType(schema)
    val factory = new SimpleGroupFactory(msgType)
    val w = ExampleParquetWriter.builder(file).withConf(conf).withType(msgType)
      .withCompressionCodec(CompressionCodecName.SNAPPY).build()
    try rows.foreach(r => w.write(toGroup(factory, schema, r, 0))) finally w.close()
  }

  /** StructType → parquet MessageType, mirroring exactly the leaf types
    * the Group READER supports — a type the write path accepts but the
    * read path cannot decode would be a trap.
    */
  def messageType(schema: StructType): MessageType = {
    val b = Types.buildMessage()
    schema.fields.foreach { f =>
      val t: org.apache.parquet.schema.Type = f.dataType match {
        // STRUCT of scalars (round 17 #7): a plain optional group — the
        // same shape Spark's native writer emits for nested structs
        case st: StructType =>
          val gb = Types.optionalGroup()
          st.fields.foreach(cf => gb.addField(scalarLeaf(cf.name, cf.dataType)))
          gb.named(f.name)
        case dt if scalarSupported(dt) => scalarLeaf(f.name, dt)
        // ARRAY (round 16: embeddings; round 18 #1/#4: every supported
        // scalar element plus STRUCT-of-scalars elements, the
        // conversation-turn shape) — the STANDARD 3-level list form, the
        // same shape Spark's native writer produces
        // (writeLegacyFormat=false), so GroupWrite output and Spark
        // output stay mutually readable:
        //   optional group col (LIST) {
        //     repeated group list { optional <elem> element } }
        case ArrayType(et, _) =>
          val elem: org.apache.parquet.schema.Type = et match {
            case st: StructType =>
              val gb = Types.optionalGroup()
              st.fields.foreach(cf =>
                gb.addField(scalarLeaf(cf.name, cf.dataType)))
              gb.named("element")
            case other if scalarSupported(other) => scalarLeaf("element", other)
            case other => sys.error(
              s"GroupWrite: unsupported array element type $other (${f.name})")
          }
          Types.optionalList().element(elem).named(f.name)
        case other => sys.error(
          s"GroupWrite: unsupported column type $other (${f.name})")
      }
      b.addField(t)
    }
    b.named("graft")
  }
}

private[source] case class GroupCommitMsg(file: String)
  extends WriterCommitMessage

/** The session's Hadoop configuration, made task-serializable via the
  * `Writable` codec `Configuration` itself implements — executor-side
  * writers must see the SAME filesystem config the driver planned with
  * (object-store credentials, defaultFS, custom schemes); a bare
  * `new Configuration()` on the executor silently drops every
  * session-set entry.
  */
private[graft] final class SerializableConf(
    @transient private var conf: Configuration) extends Serializable {
  def value: Configuration = conf
  private def writeObject(out: java.io.ObjectOutputStream): Unit = {
    out.defaultWriteObject()
    conf.write(out)
  }
  private def readObject(in: java.io.ObjectInputStream): Unit = {
    in.defaultReadObject()
    conf = new Configuration(false)
    conf.readFields(in)
  }
}

private[source] class GroupDataWriterFactory(stageDir: String,
    schemaJson: String, hadoopConf: SerializableConf)
    extends DataWriterFactory {

  override def createWriter(partitionId: Int,
      taskId: Long): DataWriter[InternalRow] =
    new DataWriter[InternalRow] {
      private val schema =
        DataType.fromJson(schemaJson).asInstanceOf[StructType]
      private val msgType = GroupWrite.messageType(schema)
      private val factory = new SimpleGroupFactory(msgType)
      private val name = f"part-$partitionId%05d-$taskId.parquet"
      private var writer: org.apache.parquet.hadoop.ParquetWriter[
        org.apache.parquet.example.data.Group] = _

      override def write(row: InternalRow): Unit = {
        // Row-level plans prepend `__row_operation` (RowDeltaUtils): the
        // marker is not table data — strip it, and DROP delete-marked
        // rows (they exist so delta-capable writers can apply them; a
        // replace write simply omits them).
        val off = row.numFields - schema.fields.length
        require(off == 0 || off == 1,
          s"GroupWrite: row arity ${row.numFields} does not match the " +
            s"write schema (${schema.fields.length} columns)")
        if (off == 1 && row.getInt(0) ==
          org.apache.spark.sql.catalyst.util.RowDeltaUtils.DELETE_OPERATION)
          return
        if (writer == null)
          writer = ExampleParquetWriter.builder(new Path(s"$stageDir/$name"))
            .withConf(hadoopConf.value).withType(msgType).build()
        writer.write(GroupWrite.toGroup(factory, schema, row, off))
      }
      override def commit(): WriterCommitMessage = {
        if (writer != null) writer.close()
        GroupCommitMsg(if (writer != null) name else "")
      }
      override def abort(): Unit = {
        if (writer != null) writer.close()
        val p = new Path(s"$stageDir/$name")
        val fs = p.getFileSystem(hadoopConf.value)
        if (fs.exists(p)) { fs.delete(p, false); () }
      }
      override def close(): Unit = ()
    }
}

/** The driver half: stage lifecycle + the OCC claim. `baseVersion` is
  * the snapshot the operation's scan read — a commit that landed since
  * makes the precomputed replacement stale, and the claim fails LOUDLY
  * (no rebase is possible for already-materialized content).
  */
private[source] class GroupBatchWrite(target: DmlTarget, baseVersion: Long,
    writeSchema: StructType,
    replacedFiles: () => Option[Seq[String]] = () => None)
    extends BatchWrite {

  // plan-time, driver-side: refuse unsupported column types BEFORE any
  // task launches (round 17 #7)
  GroupWrite.validate(writeSchema,
    s"GraftCatalog: row-level write on ${target.dir}")

  private val stageName = "_stage-" + UUID.randomUUID().toString
  private val stageDir = s"${target.dir}/$stageName"
  // the TYPE-WIDENING plane keeps its data under `data/` inside the
  // version dir (the chain reader's contract); plain versioned layouts
  // keep files at the version root
  private val dataDir =
    if (target.layout == "typed") s"$stageDir/data" else stageDir

  override def createBatchWriterFactory(
      info: PhysicalWriteInfo): DataWriterFactory = {
    val spark = SparkSession.active
    // CDF gate BEFORE any executor writes a byte: a row-level write on a
    // feed-tracked table must be able to capture its diff at commit time
    // (recorded keys), or the failure must land HERE, on the writer — a
    // capture-less version would wedge every running CDF stream on the
    // table, discovered only by the consumer.
    if (target.layout == "versioned" &&
      graft.ops.ChangeFeed.tracked(spark, target.dir))
      require(graft.ops.ChangeFeed.recordedKeys(spark, target.dir).isDefined,
        s"GraftCatalog: ${target.dir} carries a change feed with no " +
          "recorded keys — a row-level SQL write cannot capture its diff; " +
          "commit through ChangeFeed.commit(keyCols) once to record them")
    val conf = spark.sparkContext.hadoopConfiguration
    val p = new Path(dataDir)
    val fs = p.getFileSystem(conf)
    fs.mkdirs(p)
    new GroupDataWriterFactory(dataDir, writeSchema.json,
      new SerializableConf(conf))
  }

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val spark = SparkSession.active
    val p = new Path(dataDir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val keep = messages.collect {
      case GroupCommitMsg(f) if f.nonEmpty => f
    }.toSet
    // duplicate speculative attempts: only message-named files survive
    fs.listStatus(p).foreach { st =>
      if (st.isFile && !keep(st.getPath.getName)) { fs.delete(st.getPath, false); () }
    }
    if (keep.isEmpty) {
      // an all-empty replacement (every row deleted): one schema-only
      // file keeps the version readable
      val w = ExampleParquetWriter
        .builder(new Path(s"$dataDir/part-empty.parquet"))
        .withConf(spark.sparkContext.hadoopConfiguration)
        .withType(GroupWrite.messageType(writeSchema)).build()
      w.close()
    }
    // TYPE-WIDENING plane: the claimed version must read as a typed
    // snapshot — carry the live manifest into the stage (the rewrite
    // materialized every epoch at the manifest types, so no `_prev`)
    if (target.layout == "typed")
      graft.ops.TypeWidening.stageManifest(spark, target.dir, stageDir,
        baseVersion)
    // CAPTURE rides the stage (atomic with the rename that publishes it):
    // diff the materialized replacement against the base's LOGICAL content
    // — the DV-applied view on a DV table, so masked rows diff as already
    // gone — under the recorded feed keys. O(table) at write time, which
    // is what a full row-level rewrite already paid; readers stay O(changes).
    if (target.layout == "versioned" &&
      graft.ops.ChangeFeed.tracked(spark, target.dir)) {
      val keys = graft.ops.ChangeFeed.recordedKeys(spark, target.dir).get
      val baseDf =
        if (fs.exists(new Path(
          graft.ops.VersionedTable.verDir(target.dir, baseVersion), "_dv")))
          graft.ops.DeletionVectors.readVersion(spark, target.dir, baseVersion)
        else graft.ops.VersionedTable.readVersion(spark, target.dir, baseVersion)
      graft.ops.ChangeFeed.diff(Some(baseDf),
          spark.read.parquet(stageDir), keys)
        .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
        .parquet(s"$stageDir/_cdf")
    }
    graft.ops.MetaFile.write(fs, new Path(stageDir, "_SUCCESS"), "")
    if (target.layout == "log")
      // group-granular COW: when the runtime group filter narrowed the
      // operation, remove ONLY the affected groups' files — untouched
      // files stay live by reference, never rewritten
      graft.ops.ActionLog.rewriteStaged(spark, target.dir, stageDir,
        baseVersion, only = replacedFiles())
    else
      Occ.commitStagedDir(spark, target.dir, stageName, baseVersion,
        Set("*"))
    ()
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    val spark = SparkSession.active
    val p = new Path(stageDir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) { fs.delete(p, true); () }
  }
}
