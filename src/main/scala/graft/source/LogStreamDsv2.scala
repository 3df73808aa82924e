package graft.source

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.ops.ActionLog

/** STREAMING SOURCE OVER THE ACTION LOG — Delta's "stream a table" design
  * for append-only tables: offsets ARE log versions, a micro-batch is the
  * set of files ADDED by the admitted versions (each row tagged
  * `_commit_version`), and admission control bounds versions per trigger.
  * A REMOVE action inside the streamed range fails LOUDLY — Delta raises
  * the same "detected a data update/delete" error — because silently
  * skipping a rewrite would deliver rows that no longer exist; the
  * documented recovery is a fresh stream from the post-rewrite snapshot
  * (changes-from-now), which q269 exercises. Exactly-once falls out of
  * version offsets + the sink checkpoint, identical to [[CdfStream]].
  *
  * The executor path reuses [[CdfReaderFactory]] verbatim: immutable data
  * files decoded by name against the requested schema, the version
  * synthesized from the partition — an added file IS an insert-only
  * change capture.
  */
class LogStreamSource extends TableProvider {
  override def supportsExternalMetadata(): Boolean = true
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    LogStream.changeSchema(SparkSession.active, options.get("path"))
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: java.util.Map[String, String]): Table =
    new LogStreamTable(schema, new CaseInsensitiveStringMap(properties))
}

private[source] class LogStreamTable(schema: StructType,
    options: CaseInsensitiveStringMap) extends Table with SupportsRead {
  private val path = Option(options.get("path")).getOrElse(sys.error("path option required"))
  override def name(): String = s"log_stream($path)"
  override def schema(): StructType = schema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(o: CaseInsensitiveStringMap): ScanBuilder =
    () => new LogStreamScan(path, schema, options)
}

private[source] class LogStreamScan(path: String, schema: StructType,
    options: CaseInsensitiveStringMap) extends Scan {
  override def readSchema(): StructType = schema
  override def description(): String = s"LogStreamScan [$path]"
  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new LogMicroBatchStream(path, schema,
      Option(options.get("startingVersion")).map(_.toLong),
      Option(options.get("maxVersionsPerTrigger")).map(_.toInt),
      Option(options.get("maxBytesPerTrigger")).map(_.toLong))
}

/** Consumed-through position: versions `< v` fully delivered, plus the
  * first `i` add-files of version `v` — the offset granularity that lets
  * a FAT COMMIT split across triggers (Delta's (reservoirVersion, index)
  * offset, the shape behind its own maxBytesPerTrigger) without breaking
  * exactly-once: a restart resumes at the exact file boundary. Legacy
  * whole-version checkpoints (`"3"`) deserialize as (3, ∞) = fully
  * consumed.
  */
private[source] case class FilePosOffset(v: Long, i: Int) extends Offset {
  override def json: String = s"""{"v":$v,"i":$i}"""
}

private[source] class LogMicroBatchStream(path: String, schema: StructType,
    startingVersion: Option[Long], maxVersionsPerTrigger: Option[Int],
    maxBytesPerTrigger: Option[Long] = None)
    extends MicroBatchStream with SupportsAdmissionControl
    with SupportsTriggerAvailableNow {

  // Trigger.AvailableNow latches the head HERE and drains to it in
  // ADMISSION-SIZED batches; without this interface Spark falls back to
  // one unbounded batch and every rate knob is silently ignored.
  private var availableNowCap: Option[Long] = None
  override def prepareForTriggerAvailableNow(): Unit = {
    availableNowCap = Some(live())
  }

  require(maxVersionsPerTrigger.forall(_ >= 1),
    "log stream: maxVersionsPerTrigger must be >= 1")
  require(maxBytesPerTrigger.forall(_ >= 1),
    "log stream: maxBytesPerTrigger must be >= 1")

  private def fs = new Path(path).getFileSystem(SharedHadoopConf.get)

  private def live(): Long = {
    val ld = new Path(s"$path/_log")
    if (!fs.exists(ld)) 0L
    else fs.listStatus(ld).toSeq.map(_.getPath.getName)
      .filter(_.matches("\\d{8}\\.json"))
      .map(_.stripSuffix(".json").toLong).sorted.lastOption.getOrElse(0L)
  }

  /** Adds of a STREAMED version — loud on removes, Delta's "not
    * append-only" contract (a baseline version is a position, not a
    * delivery, and is never checked).
    */
  private def streamedAdds(v: Long): Seq[String] = {
    val (adds, removes) = ActionLog.actionsOf(SparkSession.active, path, v)
    require(removes.isEmpty,
      s"log stream($path): version $v is not append-only (it removes " +
        s"${removes.size} file(s)) — a streamed table must be append-only; " +
        "restart the stream from the post-rewrite snapshot instead")
    adds
  }

  // file sizes are immutable once committed — cache across triggers
  private val lenCache = scala.collection.mutable.HashMap.empty[String, Long]
  private def lenOf(f: String): Long = lenCache.getOrElseUpdate(f,
    fs.getFileStatus(new Path(s"$path/data/$f")).getLen)

  override def initialOffset(): Offset = {
    val base = startingVersion.getOrElse(live())
    FilePosOffset(base, Int.MaxValue) // fully consumed through `base`
  }

  override def getDefaultReadLimit: ReadLimit =
    maxVersionsPerTrigger.map(n => ReadLimit.maxRows(n.toLong))
      .getOrElse(ReadLimit.allAvailable())

  override def latestOffset(): Offset =
    sys.error("log stream: latestOffset(start, limit) is the admission-control path")

  /** Admission: walk files in (start, head] in (version, index) order;
    * stop when the byte budget would be exceeded (always admitting at
    * least ONE file — progress even when a single file outgrows the
    * budget) or past the version cap. No budget → whole versions, the
    * original semantics.
    */
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val st = start.asInstanceOf[FilePosOffset]
    val head = availableNowCap.fold(live())(c => math.min(c, live()))
    // head == st.v can still owe st.v's unconsumed tail (mid-version
    // restart); only head < st.v has provably nothing
    if (head < st.v) return st
    val vCap = limit match {
      case r: ReadMaxRows => st.v + r.maxRows()
      case _ => Long.MaxValue
    }
    var bytes = 0L
    var admitted = 0
    var pos = st
    var v = st.v
    while (v <= math.min(head, vCap)) {
      // the baseline version contributes only its unconsumed tail (a
      // mid-version restart); fully-consumed baselines contribute nothing
      val adds =
        if (v == st.v) { if (st.i == Int.MaxValue) Seq.empty else streamedAdds(v) }
        else streamedAdds(v)
      val from = if (v == st.v) math.min(st.i, adds.size) else 0
      var idx = from
      while (idx < adds.size) {
        val len = lenOf(adds(idx))
        if (admitted > 0 && maxBytesPerTrigger.exists(b => bytes + len > b))
          return pos
        bytes += len; admitted += 1
        pos = FilePosOffset(v, idx + 1)
        idx += 1
      }
      v += 1
    }
    // a version fully consumed normalizes to the next version's start
    // only implicitly — (v, count(v)) and legacy (v, ∞) compare equal in
    // planInputPartitions, so either form is a valid checkpoint
    pos
  }

  override def reportLatestOffset(): Offset = {
    val h = live()
    FilePosOffset(h, Int.MaxValue)
  }

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[FilePosOffset]
    val e = end.asInstanceOf[FilePosOffset]
    if (e.v < s.v || (e.v == s.v && e.i <= s.i)) return Array.empty
    (s.v to e.v).flatMap { v =>
      val adds =
        if (v == s.v && s.i == Int.MaxValue) Seq.empty else streamedAdds(v)
      val from = if (v == s.v) math.min(s.i, adds.size) else 0
      val until = if (v == e.v) math.min(e.i, adds.size) else adds.size
      (from until until).map(idx =>
        CdfFilePartition(v, s"$path/data/${adds(idx)}"): InputPartition)
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new CdfReaderFactory(schema)

  /** New offsets are `{"v":N,"i":M}`; a legacy bare-long checkpoint reads
    * as that version fully consumed.
    */
  override def deserializeOffset(json: String): Offset =
    json.toLongOption match {
      case Some(v) => FilePosOffset(v, Int.MaxValue)
      case None =>
        val m = """\{"v":(-?\d+),"i":(-?\d+)\}""".r
        json.trim match {
          case m(v, i) => FilePosOffset(v.toLong, i.toInt)
          case other => sys.error(s"log stream: bad offset '$other'")
        }
    }
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

object LogStream {

  /** The stream's schema: the table's columns plus `_commit_version`. */
  def changeSchema(spark: SparkSession, tableDir: String): StructType =
    StructType(ActionLog.read(spark, tableDir).schema.fields.toSeq :+
      StructField(graft.ops.ChangeFeed.CommitVersion, LongType, nullable = false))

  /** Open an action-log table as a streaming DataFrame with version
    * offsets; options mirror the public Delta source.
    */
  def read(spark: SparkSession, tableDir: String,
      startingVersion: Option[Long] = None,
      maxVersionsPerTrigger: Option[Int] = None,
      maxBytesPerTrigger: Option[Long] = None): DataFrame = {
    var r = spark.readStream.format(classOf[LogStreamSource].getName)
      .schema(changeSchema(spark, tableDir))
      .option("path", tableDir)
    startingVersion.foreach(v => r = r.option("startingVersion", v.toString))
    maxVersionsPerTrigger.foreach(n => r = r.option("maxVersionsPerTrigger", n.toString))
    maxBytesPerTrigger.foreach(b => r = r.option("maxBytesPerTrigger", b.toString))
    r.load()
  }
}
