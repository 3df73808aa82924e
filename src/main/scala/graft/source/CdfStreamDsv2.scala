package graft.source

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, ReadMaxRows, SupportsAdmissionControl, SupportsTriggerAvailableNow}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path

import graft.ops.VersionedTable

/** One shared, never-mutated Hadoop Configuration for reader-side paths:
  * a fresh `new Configuration()` re-parses the default XML resources —
  * fine once, measurable when it lands in per-file or per-call hot paths
  * (readers, fs handles). Writer-side code that must CARRY session confs
  * keeps using [[SerializableConf]]; this is only for defaults.
  */
private[source] object SharedHadoopConf {
  lazy val get: Configuration = {
    val c = new Configuration()
    c.size() // force the resource load once
    c
  }
}

/** A NATIVE streaming source over the change feed — the public Delta
  * streaming-source design (version-ordered offsets + admission control) as
  * a DSv2 `MicroBatchStream`, replacing the q203 parquet-glob workaround
  * which discovered `_cdf` files by listing but had no version protocol:
  * no version-ordered offsets, no per-trigger admission, and a gc'd
  * version would just silently vanish from the glob.
  *
  * Offsets ARE version numbers: offset V = "all changes of committed
  * versions <= V consumed". `latestOffset` resolves the table's live
  * committed version through the same `_ptr`-with-fallback rule every
  * batch reader uses; `planInputPartitions(start, end)` plans one input
  * partition per `_cdf` parquet file of each version in `(start, end]`,
  * enforcing the q209-class contiguity guard — a gc'd or capture-less
  * version inside the range fails LOUDLY instead of dropping its changes
  * from the feed. `maxVersionsPerTrigger` bounds each micro-batch
  * (admission control via `SupportsAdmissionControl`, the Kafka
  * `maxOffsetsPerTrigger` contract with versions as the unit), and offsets
  * serialize as the bare version number, so a restart resumes from the
  * checkpointed version — exactly-once composes with the idempotent
  * foreachBatch sinks unchanged.
  *
  * Starting position: `startingVersion` (default 0 = from the beginning of
  * retained history) or `startingTimestamp` (ms) — resolved against the
  * monotonic `_commit_ts` stamps to the latest version committed at or
  * before the instant (its changes are NOT replayed; the stream begins
  * with the next commit — Delta's `startingTimestamp` rounds the same
  * way); an instant before the first retained commit fails loudly.
  *
  * The executor-side reader decodes the `_cdf` parquet files with the
  * parquet-hadoop Group API (the engine-independent record surface of the
  * parquet library Spark itself ships) — schema-by-name, so captures
  * written before an add-column evolution read null-padded, the same
  * convention as the batch feed. `_commit_version` is synthesized from the
  * partition's version, never stored.
  */
class CdfStreamSource extends TableProvider {
  // the change schema is supplied by [[CdfStream.read]] (table schema +
  // _change_type + _commit_version) — external metadata, like any catalog
  override def supportsExternalMetadata(): Boolean = true
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    sys.error("CdfStreamSource: pass the change schema explicitly " +
      "(use graft.source.CdfStream.read)")
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: java.util.Map[String, String]): Table =
    new CdfStreamTable(schema, new CaseInsensitiveStringMap(properties))
}

private[source] class CdfStreamTable(schema0: StructType,
    options: CaseInsensitiveStringMap) extends Table with SupportsRead {
  private val path = Option(options.get("path")).getOrElse(sys.error("path option required"))
  override def name(): String = s"cdf_stream($path)"
  override def schema(): StructType = schema0
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(o: CaseInsensitiveStringMap): ScanBuilder =
    () => new CdfStreamScan(path, schema0, o)
}

private[source] class CdfStreamScan(path: String, schema: StructType,
    options: CaseInsensitiveStringMap) extends Scan {
  override def readSchema(): StructType = schema
  override def description(): String = s"CdfStreamScan [$path]"
  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new CdfMicroBatchStream(path, schema,
      Option(options.get("startingVersion")).map(_.toLong),
      Option(options.get("startingTimestamp")).map(_.toLong),
      Option(options.get("maxVersionsPerTrigger")).map(_.toInt),
      Option(options.get("maxBytesPerTrigger")).map(_.toLong))
}

/** Version-number offset: `json` is the bare version, so checkpoint offset
  * logs are human-auditable against the table's `_v-N` inventory.
  */
private[source] case class VersionOffset(v: Long) extends Offset {
  override def json: String = v.toString
}

private[source] class CdfMicroBatchStream(path: String, schema: StructType,
    startingVersion: Option[Long], startingTimestamp: Option[Long],
    maxVersionsPerTrigger: Option[Int],
    maxBytesPerTrigger: Option[Long] = None)
    extends MicroBatchStream with SupportsAdmissionControl
    with SupportsTriggerAvailableNow {

  // Trigger.AvailableNow latches the head and drains to it in
  // admission-sized batches; without this interface Spark falls back to
  // one unbounded batch and maxVersionsPerTrigger is silently ignored.
  private var availableNowCap: Option[Long] = None
  override def prepareForTriggerAvailableNow(): Unit = {
    availableNowCap = Some(live())
  }

  require(startingVersion.isEmpty || startingTimestamp.isEmpty,
    "cdf stream: startingVersion and startingTimestamp are mutually exclusive")
  require(maxVersionsPerTrigger.forall(_ >= 1),
    "cdf stream: maxVersionsPerTrigger must be >= 1")
  require(maxBytesPerTrigger.forall(_ >= 1),
    "cdf stream: maxBytesPerTrigger must be >= 1")

  private def fs = new Path(path).getFileSystem(SharedHadoopConf.get)

  // TW × CDF STREAM (round 17 #3): the stream plans each version's
  // top-level data files, but a type-widening table chains its epochs
  // under `data/` subdirs — the stream would see zero files and render a
  // silently EMPTY feed forever. Refuse at construction; the batch
  // surface (`ChangeFeed.tableChanges`) renders typed change rows under
  // toVersion's manifest.
  locally {
    // defensive resolution: a not-yet-existing or pointer-less table is
    // simply NOT typed (the stream legitimately starts before the first
    // commit — q221's shape; listVersions already returns empty for a
    // missing dir, FileNotFound covers a dir racing with its own
    // creation). Any OTHER failure is a REAL IO error and surfaces HERE
    // — a blanket Try previously classified it as "untyped" and
    // deferred the failure to a later, more confusing point, or a
    // transiently empty feed (round-17 advisory).
    val typedLive = try {
      val f = fs
      VersionedTable.listVersions(f, path)
        .filter(v => VersionedTable.complete(f, VersionedTable.verDir(path, v)))
        .lastOption.exists(v =>
          f.exists(new Path(VersionedTable.verDir(path, v), "_types")))
    } catch {
      case _: java.io.FileNotFoundException => false
    }
    require(!typedLive,
      s"cdf stream($path): this is a type-widening table — the version " +
        "stream does not compose with the epoch-chain layout; consume " +
        "changes through ChangeFeed.tableChanges (batch), which renders " +
        "them under the target version's manifest")
  }

  /** The live committed version (pointer with highest-complete fallback —
    * the same resolution rule as [[VersionedTable.currentVersion]]).
    */
  private def live(): Long = {
    val f = fs
    VersionedTable.readPtr(f, path)
      .filter(v => VersionedTable.complete(f, VersionedTable.verDir(path, v)))
      .orElse(VersionedTable.listVersions(f, path)
        .filter(v => VersionedTable.complete(f, VersionedTable.verDir(path, v)))
        .lastOption)
      .getOrElse(0L)
  }

  override def initialOffset(): Offset = startingTimestamp match {
    // default = changes from NOW on (Delta's rule when no start is given):
    // the live version is the base offset, only later commits stream
    case None => VersionOffset(startingVersion.getOrElse(live()))
    case Some(ts) =>
      // latest version committed at or before the instant — the stream
      // starts AFTER it (as-of semantics, aligned with readAsOf)
      val f = fs
      val spark = SparkSession.active
      val stamped = VersionedTable.listVersions(f, path)
        .filter(v => VersionedTable.complete(f, VersionedTable.verDir(path, v)))
        .map(v => v -> graft.ops.VersionedTable.commitTimestamp(spark, path, v)
          .getOrElse(sys.error(s"cdf stream($path): version $v has no " +
            "_commit_ts — startingTimestamp is unsafe on unstamped history")))
      val base = stamped.filter(_._2 <= ts).map(_._1).lastOption.getOrElse(
        sys.error(s"cdf stream($path): startingTimestamp $ts predates the " +
          "oldest retained commit — replay from a snapshot instead"))
      VersionOffset(base)
  }

  override def getDefaultReadLimit: ReadLimit =
    maxVersionsPerTrigger.map(n => ReadLimit.maxRows(n.toLong))
      .getOrElse(ReadLimit.allAvailable())

  override def latestOffset(): Offset =
    sys.error("cdf stream: latestOffset(start, limit) is the admission-control path")

  // change-set bytes of one version — its data files' bytes, O(files)
  // metadata, cached (the capture is immutable once its version is complete)
  private val cdfBytesCache = scala.collection.mutable.HashMap.empty[Long, Long]
  private def dataBytes(f: org.apache.hadoop.fs.FileSystem, dir: Path): Long =
    GraftMeta.dataFiles(f, dir).map(_.getLen).sum
  private def cdfBytes(v: Long): Long = cdfBytesCache.getOrElseUpdate(v, {
    val f = fs
    val vd = VersionedTable.verDir(path, v)
    val cdf = new Path(vd, "_cdf")
    if (f.exists(cdf)) dataBytes(f, cdf)
    else if (f.exists(new Path(vd, graft.ops.ChangeFeed.OverwriteMarkerName)))
      // marker expansion streams v-1's rows as deletes + v's as inserts
      dataBytes(f, VersionedTable.verDir(path, v - 1L)) + dataBytes(f, vd)
    else 0L
  })

  /** Admission: version cap AND byte budget compose — versions are
    * admitted in order until either binds, always at least one (the
    * progress guarantee; a single over-budget change-set arrives whole —
    * the CDF unit of atomicity is the commit; the LOG stream's
    * file-position offsets are the finer-grained form for raw tables).
    */
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val s = start.asInstanceOf[VersionOffset].v
    val end = availableNowCap.fold(live())(c => math.min(c, live())).max(s)
    val vCap = limit match {
      case r: ReadMaxRows => math.min(end, s + r.maxRows())
      case _ => end
    }
    maxBytesPerTrigger match {
      case None => VersionOffset(vCap)
      case Some(budget) =>
        var bytes = 0L
        var last = s
        var v = s + 1
        while (v <= vCap && (last == s || bytes + cdfBytes(v) <= budget)) {
          bytes += cdfBytes(v); last = v; v += 1
        }
        VersionOffset(last)
    }
  }

  override def reportLatestOffset(): Offset = VersionOffset(live())

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[VersionOffset].v
    val e = end.asInstanceOf[VersionOffset].v
    if (e <= s) return Array.empty
    val f = fs
    (s + 1 to e).flatMap { v =>
      val vd = VersionedTable.verDir(path, v)
      // contiguity + capture guard: a gc'd version or one committed without
      // capture would silently drop its changes from every downstream replay
      require(VersionedTable.complete(f, vd),
        s"cdf stream($path): version $v is expired or missing — the feed " +
          "has a gap; restart from a retained snapshot instead")
      val cdf = new Path(vd, "_cdf")
      val marker = new Path(vd, graft.ops.ChangeFeed.OverwriteMarkerName)
      def dataFiles(ver: Long) = GraftMeta.dataFiles(f, VersionedTable.verDir(path, ver))
      if (f.exists(cdf))
        GraftMeta.dataFiles(f, cdf)
          .map(st => CdfFilePartition(v, st.getPath.toString): InputPartition)
      else if (f.exists(marker)) {
        // overwrite marker: v-1's rows stream as deletes, v's as inserts —
        // the writer's marker rule guarantees a plain (non-DV) predecessor
        require(VersionedTable.complete(f, VersionedTable.verDir(path, v - 1)),
          s"cdf stream($path): version $v's overwrite capture derives " +
            s"from expired version ${v - 1} — restart from a snapshot")
        require(!f.exists(new Path(VersionedTable.verDir(path, v - 1), "_dv")),
          s"cdf stream($path): version $v's overwrite marker sits on a " +
            "DV-masked predecessor — the writer must capture a keyed diff")
        dataFiles(v - 1).map(st =>
          CdfFilePartition(v, st.getPath.toString, "delete"): InputPartition) ++
          dataFiles(v).map(st =>
            CdfFilePartition(v, st.getPath.toString, "insert"): InputPartition)
      } else sys.error(
        s"cdf stream($path): version $v has no change capture — every " +
          "commit on a streamed table must go through ChangeFeed.commit")
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new CdfReaderFactory(schema)

  override def deserializeOffset(json: String): Offset = VersionOffset(json.toLong)
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

/** One change file (or, with `tag` set, one DATA file of an overwrite-
  * marker expansion whose every row reads as change type `tag`).
  */
private[source] case class CdfFilePartition(version: Long, file: String,
    tag: String = null)
  extends InputPartition

/** Decodes one parquet file DIRECTLY to [[InternalRow]]s — a custom
  * parquet-mr `ReadSupport` whose `RecordMaterializer` writes each value
  * into the output row slot as the column reader produces it. This
  * replaces the round-12 Group-API path (materialize a parquet `Group`
  * per row, then convert): the Group object, its per-field repetition
  * arrays and the second type-dispatch pass are all gone, which is where
  * the remaining 1.5–7× gap to Spark's native vectorized reader lived
  * (the wide-row fixture paid ~7×; one `Group` carries O(columns) heap).
  *
  * Semantics preserved exactly from the Group path:
  *  - fields resolve BY NAME against the requested schema; absent columns
  *    read null (add-column evolution) or the column-mapping default fill;
  *  - `_commit_version` / `_file` / a forced change-type tag are
  *    per-partition constants synthesized into the row template;
  *  - column PRUNING happens inside `init` (the projection parquet-mr
  *    actually decodes), including the count(*) case where one narrowest
  *    primitive still drives the row count;
  *  - per-file physical types may be NARROWER than the requested type
  *    (type-widening epochs: int32→long, float→double) — widened per
  *    value at the converter.
  * String columns decode dictionary ids to cached [[UTF8String]]s, so a
  * low-cardinality string column costs one array index per row.
  */
private[source] class InternalRowReadSupport(schema: StructType,
    nameMap: Map[String, String], fill: Map[String, Any],
    version: Long, fileName: org.apache.spark.unsafe.types.UTF8String,
    tag: String)
    extends org.apache.parquet.hadoop.api.ReadSupport[InternalRow] {
  import org.apache.parquet.hadoop.api.{InitContext, ReadSupport}
  import org.apache.parquet.io.api.{Binary, Converter, GroupConverter, PrimitiveConverter, RecordMaterializer}
  import org.apache.parquet.schema.MessageType
  import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
  import org.apache.spark.unsafe.types.UTF8String
  import scala.jdk.CollectionConverters._

  private def wanted: Set[String] =
    schema.fields.iterator.collect {
      case f if f.name != graft.ops.ChangeFeed.CommitVersion &&
        f.name != GraftMeta.FileCol &&
        !(f.name == graft.ops.ChangeFeed.ChangeType && tag != null) =>
        nameMap.getOrElse(f.name, f.name)
    }.toSet

  override def init(context: InitContext): ReadSupport.ReadContext = {
    val file = context.getFileSchema
    val want = wanted
    val kept = file.getFields.asScala.filter(f => want.contains(f.getName))
    // an all-constant projection (count(*), metadata-only) still needs
    // ROWS — decode the narrowest single primitive to drive the row count
    val proj =
      if (kept.nonEmpty) kept
      else {
        val prims = file.getFields.asScala.filter(_.isPrimitive)
        if (prims.nonEmpty)
          Seq(prims.minBy(_.asPrimitiveType().getPrimitiveTypeName.ordinal()))
        else Seq(file.getFields.get(0))
      }
    new ReadSupport.ReadContext(new MessageType(file.getName, proj.asJava))
  }

  override def prepareForRead(
      conf: org.apache.hadoop.conf.Configuration,
      keyValueMetaData: java.util.Map[String, String],
      fileSchema: MessageType,
      readContext: ReadSupport.ReadContext): RecordMaterializer[InternalRow] =
    new RecordMaterializer[InternalRow] {
      private val projected = readContext.getRequestedSchema
      private val n = schema.fields.length

      // the per-record template: constants (_commit_version, _file, tag),
      // evolution fills and nulls — cloned at record start. The fill
      // applies ONLY to columns the file physically lacks (pre-evolution
      // files): a column PRESENT in the file whose stored value is NULL
      // never fires its converter, so its template slot must be null —
      // otherwise stored NULLs silently read back as the default (and the
      // row path would disagree with the columnar path).
      private val template: Array[Any] = {
        val tagU8 = if (tag == null) null else UTF8String.fromString(tag)
        schema.fields.map { f =>
          if (f.name == graft.ops.ChangeFeed.CommitVersion) Long.box(version)
          else if (f.name == GraftMeta.FileCol) fileName
          else if (f.name == graft.ops.ChangeFeed.ChangeType && tagU8 != null)
            tagU8
          else if (fileSchema.containsField(nameMap.getOrElse(f.name, f.name)))
            null
          else fill.getOrElse(f.name, null).asInstanceOf[Any]
        }
      }

      private var current: Array[Any] = _

      // converters indexed by the PROJECTED file schema's field order;
      // a projected field nobody requested (the count-driver primitive)
      // gets a no-op sink
      private val fieldConverters: Array[Converter] = {
        import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName.{FLOAT => PFLOAT, INT32 => PINT32}
        val slotOf: Map[String, Int] = schema.fields.zipWithIndex.iterator.collect {
          case (f, i) if f.name != graft.ops.ChangeFeed.CommitVersion &&
            f.name != GraftMeta.FileCol &&
            !(f.name == graft.ops.ChangeFeed.ChangeType && tag != null) =>
            nameMap.getOrElse(f.name, f.name) -> i
        }.toMap
        // STRUCT-of-scalars children: map the file group's children by
        // NAME into an out-slot array — shared between struct COLUMNS
        // (round 17 #7) and struct ARRAY ELEMENTS (round 18 #1). A file
        // child nobody requested sinks to a no-op; a child that never
        // fires stays null (parquet optional).
        def structChildren(ownerName: String,
            sgType: org.apache.parquet.schema.GroupType,
            st: org.apache.spark.sql.types.StructType,
            out: Array[Any]): Array[Converter] = {
          import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName.{INT32 => PINT32}
          val slotByName = st.fields.zipWithIndex
            .map { case (cf, j) => cf.name -> j }.toMap
          def childConv(cf: org.apache.parquet.schema.Type,
              j: Int): Converter = {
            require(cf.isPrimitive,
              s"cdf stream: only structs of scalar primitives are " +
                s"supported: $ownerName.${cf.getName}")
            val cprim = cf.asPrimitiveType().getPrimitiveTypeName
            st.fields(j).dataType match {
              case LongType => new PrimitiveConverter {
                override def addLong(v: Long): Unit = out(j) = Long.box(v)
                override def addInt(v: Int): Unit = out(j) = Long.box(v.toLong)
              }
              case IntegerType => new PrimitiveConverter {
                override def addInt(v: Int): Unit = out(j) = Int.box(v)
              }
              case ShortType => new PrimitiveConverter {
                override def addInt(v: Int): Unit = out(j) = Short.box(v.toShort)
              }
              case ByteType => new PrimitiveConverter {
                override def addInt(v: Int): Unit = out(j) = Byte.box(v.toByte)
              }
              case DoubleType => new PrimitiveConverter {
                override def addDouble(v: Double): Unit = out(j) = Double.box(v)
                override def addFloat(v: Float): Unit = out(j) = Double.box(v.toDouble)
              }
              case FloatType => new PrimitiveConverter {
                override def addFloat(v: Float): Unit = out(j) = Float.box(v)
              }
              case BooleanType => new PrimitiveConverter {
                override def addBoolean(v: Boolean): Unit = out(j) = Boolean.box(v)
              }
              case StringType => new PrimitiveConverter {
                override def addBinary(v: Binary): Unit =
                  out(j) = UTF8String.fromBytes(v.getBytes)
              }
              case DateType => new PrimitiveConverter {
                override def addInt(v: Int): Unit = out(j) = Int.box(v)
              }
              case TimestampType | TimestampNTZType => new PrimitiveConverter {
                override def addLong(v: Long): Unit = out(j) = Long.box(v)
              }
              case d: DecimalType if d.precision <= 18 =>
                if (cprim == PINT32) new PrimitiveConverter {
                  override def addInt(v: Int): Unit = out(j) =
                    org.apache.spark.sql.types.Decimal.createUnsafe(
                      v.toLong, d.precision, d.scale)
                } else new PrimitiveConverter {
                  override def addLong(v: Long): Unit = out(j) =
                    org.apache.spark.sql.types.Decimal.createUnsafe(
                      v, d.precision, d.scale)
                }
              case other => sys.error(
                s"cdf stream: unsupported struct child type $other " +
                  s"($ownerName.${cf.getName})")
            }
          }
          sgType.getFields.asScala.toArray.map { cf =>
            slotByName.get(cf.getName) match {
              case None => new PrimitiveConverter {
                override def addInt(v: Int): Unit = ()
                override def addLong(v: Long): Unit = ()
                override def addFloat(v: Float): Unit = ()
                override def addDouble(v: Double): Unit = ()
                override def addBoolean(v: Boolean): Unit = ()
                override def addBinary(v: Binary): Unit = ()
              }: Converter
              case Some(j) => childConv(cf, j)
            }
          }
        }
        projected.getFields.asScala.toArray.map { pf =>
          slotOf.get(pf.getName) match {
            case None => new PrimitiveConverter {
              override def addInt(v: Int): Unit = ()
              override def addLong(v: Long): Unit = ()
              override def addFloat(v: Float): Unit = ()
              override def addDouble(v: Double): Unit = ()
              override def addBoolean(v: Boolean): Unit = ()
              override def addBinary(v: Binary): Unit = ()
            }: Converter
            case Some(i) if schema.fields(i).dataType
                .isInstanceOf[org.apache.spark.sql.types.ArrayType] =>
              // ARRAY of primitive (round 16): the standard 3-level LIST
              // shape — optional group (LIST) { repeated group list {
              // optional <elem> element } } — decoded into ArrayData. A
              // repeated-group occurrence whose element never fires is a
              // NULL element (the 3-level null encoding).
              val at = schema.fields(i).dataType
                .asInstanceOf[org.apache.spark.sql.types.ArrayType]
              require(!pf.isPrimitive,
                s"cdf stream: ${pf.getName} is ${at.catalogString} in the " +
                  "table but primitive in the file")
              val lg = pf.asGroupType()
              require(lg.getFieldCount == 1 && !lg.getType(0).isPrimitive &&
                lg.getType(0).isRepetition(
                  org.apache.parquet.schema.Type.Repetition.REPEATED),
                s"cdf stream: ${pf.getName} is not the standard 3-level " +
                  s"list shape: $lg")
              val rep = lg.getType(0).asGroupType()
              require(rep.getFieldCount == 1,
                s"cdf stream: ${pf.getName} is not the standard 3-level " +
                  s"list shape (element arity): $rep")
              val buf = scala.collection.mutable.ArrayBuffer.empty[Any]
              var sawElem = false
              def primElem: org.apache.parquet.schema.PrimitiveType = {
                require(rep.getType(0).isPrimitive,
                  s"cdf stream: ${pf.getName} expects a primitive " +
                    s"element but the file stores $rep")
                rep.getType(0).asPrimitiveType()
              }
              val elemConv: Converter = at.elementType match {
                case LongType => new PrimitiveConverter {
                  override def addLong(v: Long): Unit = { buf += Long.box(v); sawElem = true }
                  override def addInt(v: Int): Unit = { buf += Long.box(v.toLong); sawElem = true }
                }
                case IntegerType => new PrimitiveConverter {
                  override def addInt(v: Int): Unit = { buf += Int.box(v); sawElem = true }
                }
                case ShortType => new PrimitiveConverter {
                  override def addInt(v: Int): Unit = { buf += Short.box(v.toShort); sawElem = true }
                }
                case ByteType => new PrimitiveConverter {
                  override def addInt(v: Int): Unit = { buf += Byte.box(v.toByte); sawElem = true }
                }
                case DoubleType => new PrimitiveConverter {
                  override def addDouble(v: Double): Unit = { buf += Double.box(v); sawElem = true }
                  override def addFloat(v: Float): Unit = { buf += Double.box(v.toDouble); sawElem = true }
                }
                case FloatType => new PrimitiveConverter {
                  override def addFloat(v: Float): Unit = { buf += Float.box(v); sawElem = true }
                }
                case BooleanType => new PrimitiveConverter {
                  override def addBoolean(v: Boolean): Unit = { buf += Boolean.box(v); sawElem = true }
                }
                case StringType => new PrimitiveConverter {
                  override def addBinary(v: Binary): Unit = {
                    buf += UTF8String.fromBytes(v.getBytes); sawElem = true
                  }
                }
                // round 18 #4: the remaining scalar element families
                case DateType => new PrimitiveConverter {
                  override def addInt(v: Int): Unit = { buf += Int.box(v); sawElem = true }
                }
                case TimestampType | TimestampNTZType => new PrimitiveConverter {
                  override def addLong(v: Long): Unit = { buf += Long.box(v); sawElem = true }
                }
                case d: DecimalType if d.precision <= 18 =>
                  if (primElem.getPrimitiveTypeName == PINT32)
                    new PrimitiveConverter {
                      override def addInt(v: Int): Unit = {
                        buf += org.apache.spark.sql.types.Decimal.createUnsafe(
                          v.toLong, d.precision, d.scale)
                        sawElem = true
                      }
                    }
                  else new PrimitiveConverter {
                    override def addLong(v: Long): Unit = {
                      buf += org.apache.spark.sql.types.Decimal.createUnsafe(
                        v, d.precision, d.scale)
                      sawElem = true
                    }
                  }
                // round 18 #1: STRUCT-of-scalars elements (the
                // conversation-turn shape). The element group's start()
                // fires only for a PRESENT element, so it marks sawElem;
                // end() pushes the materialized row.
                case st: org.apache.spark.sql.types.StructType =>
                  require(!rep.getType(0).isPrimitive,
                    s"cdf stream: ${pf.getName} is array<struct> in the " +
                      s"table but stores a primitive element: $rep")
                  val eg = rep.getType(0).asGroupType()
                  val out = new Array[Any](st.size)
                  val children =
                    structChildren(s"${pf.getName}.element", eg, st, out)
                  new GroupConverter {
                    override def getConverter(k: Int): Converter = children(k)
                    override def start(): Unit = {
                      java.util.Arrays.fill(out.asInstanceOf[Array[Object]], null)
                      sawElem = true
                    }
                    override def end(): Unit =
                      buf += new GenericInternalRow(out.clone())
                  }
                case other => sys.error(
                  s"cdf stream: unsupported array element type $other (${pf.getName})")
              }
              val listConv = new GroupConverter {
                override def getConverter(k: Int): Converter = elemConv
                override def start(): Unit = { sawElem = false }
                override def end(): Unit = { if (!sawElem) buf += null }
              }
              new GroupConverter {
                override def getConverter(k: Int): Converter = listConv
                override def start(): Unit = buf.clear()
                override def end(): Unit = current(i) =
                  new org.apache.spark.sql.catalyst.util.GenericArrayData(
                    buf.toArray)
              }: Converter
            case Some(i) if schema.fields(i).dataType
                .isInstanceOf[org.apache.spark.sql.types.StructType] =>
              // STRUCT of scalars (round 17 #7): a plain optional group
              // decoded into an InternalRow. Child slots map by NAME
              // from the file group's field order — a file child nobody
              // requested sinks to a no-op; a child that never fires
              // stays null (parquet optional).
              val st = schema.fields(i).dataType
                .asInstanceOf[org.apache.spark.sql.types.StructType]
              require(!pf.isPrimitive,
                s"cdf stream: ${pf.getName} is ${st.catalogString} in the " +
                  "table but primitive in the file")
              val out = new Array[Any](st.size)
              val children: Array[Converter] =
                structChildren(pf.getName, pf.asGroupType(), st, out)
              new GroupConverter {
                override def getConverter(k: Int): Converter = children(k)
                override def start(): Unit = {
                  java.util.Arrays.fill(out.asInstanceOf[Array[Object]], null)
                }
                override def end(): Unit = current(i) =
                  new GenericInternalRow(out.clone())
              }: Converter
            case Some(i) =>
              val f = schema.fields(i)
              // a nested file column whose TABLE type is scalar, or a
              // shape outside the supported surface (maps land here —
              // the round-18 policy): name the column and the remedy,
              // this reader serves batch catalog scans too
              require(pf.isPrimitive,
                s"graft row reader: column ${pf.getName} is nested in " +
                  s"the file but ${f.dataType.catalogString} in the " +
                  "table — supported nesting is structs of scalars and " +
                  "arrays of scalars/structs; maps restructure into an " +
                  "exploded key/value table")
              val prim = pf.asPrimitiveType().getPrimitiveTypeName
              val c: Converter = f.dataType match {
                case LongType if prim == PINT32 => new PrimitiveConverter {
                  // type-widening epochs: a pre-widen file stores int32
                  override def addInt(v: Int): Unit = current(i) = Long.box(v.toLong)
                }
                case LongType => new PrimitiveConverter {
                  override def addLong(v: Long): Unit = current(i) = Long.box(v)
                }
                case IntegerType => new PrimitiveConverter {
                  override def addInt(v: Int): Unit = current(i) = Int.box(v)
                }
                // narrow integrals ride INT32 physically (parquet stores
                // SMALLINT/TINYINT annotated int32) — the type-widening
                // plane admits them, so the reader must too
                case ShortType => new PrimitiveConverter {
                  override def addInt(v: Int): Unit =
                    current(i) = Short.box(v.toShort)
                }
                case ByteType => new PrimitiveConverter {
                  override def addInt(v: Int): Unit =
                    current(i) = Byte.box(v.toByte)
                }
                case DoubleType if prim == PFLOAT => new PrimitiveConverter {
                  override def addFloat(v: Float): Unit =
                    current(i) = Double.box(v.toDouble)
                }
                case DoubleType => new PrimitiveConverter {
                  override def addDouble(v: Double): Unit = current(i) = Double.box(v)
                }
                case FloatType => new PrimitiveConverter {
                  override def addFloat(v: Float): Unit = current(i) = Float.box(v)
                }
                case BooleanType => new PrimitiveConverter {
                  override def addBoolean(v: Boolean): Unit = current(i) = Boolean.box(v)
                }
                case StringType => new PrimitiveConverter {
                  private var dict: Array[UTF8String] = _
                  override def hasDictionarySupport: Boolean = true
                  override def setDictionary(
                      d: org.apache.parquet.column.Dictionary): Unit = {
                    dict = Array.tabulate(d.getMaxId + 1)(id =>
                      UTF8String.fromBytes(d.decodeToBinary(id).getBytes))
                  }
                  override def addValueFromDictionary(id: Int): Unit =
                    current(i) = dict(id)
                  override def addBinary(v: Binary): Unit =
                    current(i) = UTF8String.fromBytes(v.getBytes)
                }
                case DateType => new PrimitiveConverter {
                  override def addInt(v: Int): Unit = current(i) = Int.box(v)
                }
                case TimestampType | TimestampNTZType => new PrimitiveConverter {
                  override def addLong(v: Long): Unit = current(i) = Long.box(v) // micros
                }
                case d: DecimalType if d.precision <= 18 =>
                  // Spark stores p<=9 decimals as INT32, p<=18 as INT64
                  if (prim == PINT32) new PrimitiveConverter {
                    override def addInt(v: Int): Unit = current(i) =
                      org.apache.spark.sql.types.Decimal.createUnsafe(
                        v.toLong, d.precision, d.scale)
                  } else new PrimitiveConverter {
                    override def addLong(v: Long): Unit = current(i) =
                      org.apache.spark.sql.types.Decimal.createUnsafe(
                        v, d.precision, d.scale)
                  }
                case other => sys.error(
                  s"cdf stream: unsupported change-column type $other (${f.name})")
              }
              c
          }
        }
      }

      private val root = new GroupConverter {
        override def getConverter(j: Int): Converter = fieldConverters(j)
        override def start(): Unit = { current = template.clone() }
        override def end(): Unit = ()
      }

      override def getRootConverter: GroupConverter = root
      override def getCurrentRecord: InternalRow = {
        val out = current
        current = null
        new GenericInternalRow(out)
      }
    }
}

/** COLUMNAR catalog read path — Spark's OWN vectorized parquet decoder
  * (`VectorizedParquetRecordReader`, the engine behind every native scan)
  * driving the DSv2 batch: page-level decode into column vectors, zero
  * per-row materialization, whole-stage codegen consumes the batch
  * directly. The connector semantics ride on top:
  *  - schema-by-name per file: one footer read learns which requested
  *    physical columns THIS file has; the vectorized reader is then asked
  *    for exactly those, IN THE REQUESTED ORDER;
  *  - absent columns (add-column evolution, unmaterialized defaults) and
  *    the synthesized `_commit_version`/`_file`/change-tag columns are
  *    [[org.apache.spark.sql.execution.vectorized.ConstantColumnVector]]s
  *    in the output batch — O(1) per batch, not per row;
  *  - the output [[ColumnarBatch]] wraps the reader's own vectors plus
  *    the constants, so no value is ever copied.
  * Used for BATCH scans of flavors whose file types match the table
  * schema exactly (versioned / log / mapped / COW); type-widening tables
  * (narrower physical types per epoch) and streaming sources keep the
  * row-based materializer.
  */
private[source] class GraftColumnarReader(p: CdfFilePartition,
    schema: StructType, nameMap: Map[String, String],
    fill: Map[String, Any],
    fileName: org.apache.spark.unsafe.types.UTF8String,
    pushed: Seq[org.apache.spark.sql.sources.Filter] = Nil)
    extends PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] {
  import org.apache.spark.sql.execution.datasources.parquet.{GraftVectorizedOpen, VectorizedParquetRecordReader}
  import org.apache.spark.sql.execution.vectorized.ConstantColumnVector
  import org.apache.spark.sql.vectorized.{ColumnVector, ColumnarBatch}
  import org.apache.spark.unsafe.types.UTF8String
  import scala.jdk.CollectionConverters._

  private val Capacity = 4096

  private def isSynth(name: String): Boolean =
    name == graft.ops.ChangeFeed.CommitVersion || name == GraftMeta.FileCol ||
      (name == graft.ops.ChangeFeed.ChangeType && p.tag != null)

  // ONE open serves footer, row-group pruning and page reads. The pushed
  // filters become a parquet FilterPredicate so statistics / dictionary /
  // bloom ROW-GROUP PRUNING happens before any page is decoded; a file
  // whose physical schema rejects the predicate (a legacy file missing
  // the column — parquet validates at open) falls back to an unfiltered
  // read of that file: pruning never decides correctness.
  private val opened: GraftVectorizedOpen.Opened = {
    ParquetPushdown.predicate(pushed, schema, nameMap) match {
      case None => GraftVectorizedOpen.open(p.file, None)
      case some =>
        try GraftVectorizedOpen.open(p.file, some)
        catch { case _: IllegalArgumentException =>
          GraftVectorizedOpen.open(p.file, None)
        }
    }
  }

  private val fileFields: Set[String] =
    opened.fileSchema.getFields.asScala.map(_.getName).toSet

  // requested physical columns present in the file, in requested order
  private val present: Seq[(String, Int)] =
    schema.fields.toSeq.zipWithIndex.flatMap { case (f, i) =>
      if (isSynth(f.name)) None
      else {
        val phys = nameMap.getOrElse(f.name, f.name)
        if (fileFields.contains(phys)) Some(phys -> i) else None
      }
    }

  /** Clip one requested column's FILE type to the TABLE's (possibly
    * nested-pruned) shape: Spark prunes struct fields through
    * `SupportsPushDownRequiredColumns` (`sum(meta.n)` requests
    * `struct<n>` of a `struct<src,n,ok>` file), and the requested
    * parquet group must carry ONLY those children or the produced
    * vector's type would not match the table claim. Children resolve by
    * NAME in table order (parquet-mr matches requested groups to the
    * file by name); a requested child missing from the file refuses
    * loudly — struct-field evolution is not on this surface. Scalar
    * leaves pass the FILE type through untouched (the per-file widening
    * contract is the converters' job, not the schema's).
    */
  private def clip(fileT: org.apache.parquet.schema.Type,
      tableT: org.apache.spark.sql.types.DataType)
      : org.apache.parquet.schema.Type = {
    def group(g: org.apache.parquet.schema.GroupType,
        kids: Seq[org.apache.parquet.schema.Type]) = {
      val b = org.apache.parquet.schema.Types.buildGroup(g.getRepetition)
      if (g.getLogicalTypeAnnotation != null) b.as(g.getLogicalTypeAnnotation)
      kids.foreach(b.addField)
      b.named(g.getName)
    }
    tableT match {
      case st: org.apache.spark.sql.types.StructType if !fileT.isPrimitive =>
        val g = fileT.asGroupType()
        group(g, st.fields.toSeq.map { cf =>
          require(g.containsField(cf.name),
            s"GraftColumnarReader(${p.file}): requested struct child " +
              s"'${g.getName}.${cf.name}' is not in the file: $g")
          clip(g.getType(g.getFieldIndex(cf.name)), cf.dataType)
        })
      case org.apache.spark.sql.types.ArrayType(et, _) if !fileT.isPrimitive =>
        // the standard 3-level list: clip through the repeated wrapper
        val lg = fileT.asGroupType()
        if (lg.getFieldCount == 1 && !lg.getType(0).isPrimitive &&
          lg.getType(0).isRepetition(
            org.apache.parquet.schema.Type.Repetition.REPEATED)) {
          val rep = lg.getType(0).asGroupType()
          if (rep.getFieldCount == 1)
            group(lg, Seq(group(rep, Seq(clip(rep.getType(0), et)))))
          else lg
        } else lg
      case _ => fileT
    }
  }

  private val reader = new VectorizedParquetRecordReader(false, Capacity)
  GraftVectorizedOpen.init(reader, opened, {
    val tps: java.util.List[org.apache.parquet.schema.Type] =
      present.map { case (phys, i) =>
        clip(opened.fileSchema.getType(opened.fileSchema.getFieldIndex(phys)),
          schema.fields(i).dataType)
      }.asJava
    new org.apache.parquet.schema.MessageType(opened.fileSchema.getName, tps)
  })
  private val inner: ColumnarBatch = reader.resultBatch()

  private val out: ColumnarBatch = {
    val slotToInner = present.map(_._2).zipWithIndex.toMap
    val vectors: Array[ColumnVector] =
      schema.fields.zipWithIndex.map { case (f, i) =>
        slotToInner.get(i) match {
          case Some(j) =>
            val v = inner.column(j)
            // arrays relax the containsNull claim only in the SAFE
            // direction: a file with required (non-null) elements reads
            // fine into a nullable table element type, but a file whose
            // elements are optional may hold actual null elements that a
            // containsNull=false table type promises away — downstream
            // operators would skip the null check and mis-read. Catalog
            // table schemas are normalized to containsNull=true at
            // derivation (GraftMeta.relaxArrayNulls — round-18: the row
            // reader cannot decode nested columns, so there was no
            // fallback direction; mixed-vintage files hard-failed here),
            // leaving this check as pure defense for hand-built schemas.
            def ok(file: org.apache.spark.sql.types.DataType,
                table: org.apache.spark.sql.types.DataType): Boolean =
              (file, table) match {
                case (org.apache.spark.sql.types.ArrayType(ea, fileCn),
                  org.apache.spark.sql.types.ArrayType(eb, tableCn)) =>
                  ok(ea, eb) && (tableCn || !fileCn)
                // struct ELEMENT types recurse field-wise: a native-
                // written file declares required fields for literal
                // structs, the relaxed table claim says nullable — the
                // weaker claim is always safe (round-18: struct element
                // types compared with == hard-failed exactly there)
                case (org.apache.spark.sql.types.StructType(fa),
                  org.apache.spark.sql.types.StructType(fb)) =>
                  fa.length == fb.length && fa.zip(fb).forall { case (x, y) =>
                    x.name == y.name && ok(x.dataType, y.dataType) &&
                      (y.nullable || !x.nullable)
                  }
                case (a, b) => a == b
              }
            require(ok(v.dataType(), f.dataType),
              s"GraftColumnarReader(${p.file}): column ${f.name} is " +
                s"${v.dataType()} in the file but ${f.dataType} in the " +
                "table — derive the table schema through " +
                "GraftMeta.relaxArrayNulls (nullable elements), the only " +
                "claim a footer-inferred schema can honestly make")
            v
          case None =>
            val v = new ConstantColumnVector(Capacity, f.dataType)
            val value: Any =
              if (f.name == graft.ops.ChangeFeed.CommitVersion) p.version
              else if (f.name == GraftMeta.FileCol) fileName
              else if (f.name == graft.ops.ChangeFeed.ChangeType &&
                p.tag != null) UTF8String.fromString(p.tag)
              else fill.getOrElse(f.name, null)
            value match {
              case null => v.setNull()
              case x: java.lang.Long => v.setLong(x)
              case x: java.lang.Integer => v.setInt(x)
              case x: java.lang.Double => v.setDouble(x)
              case x: java.lang.Float => v.setFloat(x)
              case x: java.lang.Boolean => v.setBoolean(x)
              case x: UTF8String => v.setUtf8String(x)
              case x: org.apache.spark.sql.types.Decimal => v.setDecimal(x,
                f.dataType.asInstanceOf[org.apache.spark.sql.types.DecimalType]
                  .precision)
              case x: Array[Byte] => v.setBinary(x)
              case other => sys.error(
                s"GraftColumnarReader: unsupported constant fill $other " +
                  s"for ${f.name}")
            }
            v
        }
      }
    new ColumnarBatch(vectors)
  }

  override def next(): Boolean =
    if (!reader.nextBatch()) false
    else { out.setNumRows(inner.numRows()); true }
  override def get(): ColumnarBatch = out
  override def close(): Unit = reader.close()
}

private[source] class CdfReaderFactory(schema: StructType,
    nameMap: Map[String, String] = Map.empty,
    fill: Map[String, Any] = Map.empty,
    columnar: Boolean = false,
    pushed: Seq[org.apache.spark.sql.sources.Filter] = Nil)
    extends PartitionReaderFactory {

  /** Batch scans opt in; the vectorized path additionally requires every
    * requested type to be one the column vectors carry natively (the
    * whole catalog surface today — the guard is for future types).
    */
  override def supportColumnarReads(partition: InputPartition): Boolean = {
    def scalarOk(dt: org.apache.spark.sql.types.DataType): Boolean = dt match {
      case LongType | IntegerType | ShortType | ByteType | DoubleType |
        FloatType | BooleanType | StringType | DateType | TimestampType |
        TimestampNTZType => true
      case d: DecimalType if d.precision <= 18 => true
      case _ => false
    }
    columnar && schema.fields.forall(f => f.dataType match {
      case dt if scalarOk(dt) => true
      // arrays (round 16; element surface widened round 18 #1/#4) and
      // structs of scalars (round 18: the r17 row-path routing was
      // conservatism, not a limitation): Spark's vectorized reader
      // decodes nested LIST/GROUP columns natively via
      // ParquetColumnVector; the requested file type passes through by
      // name, so the batch path serves embeddings, metadata records and
      // conversation turns alike
      case org.apache.spark.sql.types.ArrayType(et, _) => et match {
        case st: org.apache.spark.sql.types.StructType =>
          st.fields.forall(cf => scalarOk(cf.dataType))
        case other => scalarOk(other)
      }
      case st: org.apache.spark.sql.types.StructType =>
        st.fields.forall(cf => scalarOk(cf.dataType))
      case _ => false
    }) && fill.valuesIterator.forall {
      // every fill must be expressible as a ConstantColumnVector — an
      // exotic default (interval, struct, …) falls back to the row path
      // instead of erroring at reader construction
      case null | _: java.lang.Long | _: java.lang.Integer |
        _: java.lang.Double | _: java.lang.Float | _: java.lang.Boolean |
        _: org.apache.spark.unsafe.types.UTF8String |
        _: org.apache.spark.sql.types.Decimal | _: Array[Byte] => true
      case _ => false
    }
  }

  override def createColumnarReader(partition: InputPartition)
      : PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] = {
    val p = partition.asInstanceOf[CdfFilePartition]
    new GraftColumnarReader(p, schema, nameMap, fill,
      org.apache.spark.unsafe.types.UTF8String
        .fromString(new Path(p.file).getName), pushed)
  }

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[CdfFilePartition]
    new PartitionReader[InternalRow] {
      import org.apache.parquet.hadoop.ParquetReader
      // the `_file` metadata column (SupportsMetadataColumns): each
      // partition IS one file, so the value is a per-reader constant
      private val fileName = org.apache.spark.unsafe.types.UTF8String
        .fromString(new Path(p.file).getName)
      private val reader: ParquetReader[InternalRow] =
        ParquetReader.builder(
            new InternalRowReadSupport(schema, nameMap, fill, p.version,
              fileName, p.tag),
            new Path(p.file))
          .withConf(SharedHadoopConf.get).build()
      private var row: InternalRow = _
      override def next(): Boolean = {
        val r = reader.read()
        if (r == null) false else { row = r; true }
      }
      override def get(): InternalRow = row
      override def close(): Unit = reader.close()
    }
  }
}

object CdfStream {

  /** The feed's streaming schema: the live snapshot's columns plus the CDF
    * metadata columns — derivable with no captured version on disk yet.
    */
  def changeSchema(spark: SparkSession, tableDir: String): StructType =
    StructType(
      GraftMeta.footerSchema(spark, VersionedTable.liveDir(spark, tableDir))
        .fields.toSeq :+
        StructField(graft.ops.ChangeFeed.ChangeType, StringType) :+
        StructField(graft.ops.ChangeFeed.CommitVersion, LongType, nullable = false))

  /** Open the table's change feed as a streaming DataFrame with
    * version-number offsets. Options mirror the public Delta source:
    * `startingVersion` / `startingTimestamp` pick the base offset,
    * `maxVersionsPerTrigger` bounds admission per micro-batch.
    */
  def read(spark: SparkSession, tableDir: String,
      startingVersion: Option[Long] = None,
      startingTimestamp: Option[Long] = None,
      maxVersionsPerTrigger: Option[Int] = None,
      maxBytesPerTrigger: Option[Long] = None): DataFrame = {
    var r = spark.readStream.format(classOf[CdfStreamSource].getName)
      .schema(changeSchema(spark, tableDir))
      .option("path", tableDir)
    startingVersion.foreach(v => r = r.option("startingVersion", v.toString))
    startingTimestamp.foreach(t => r = r.option("startingTimestamp", t.toString))
    maxVersionsPerTrigger.foreach(n => r = r.option("maxVersionsPerTrigger", n.toString))
    maxBytesPerTrigger.foreach(b => r = r.option("maxBytesPerTrigger", b.toString))
    r.load()
  }
}
