package graft.source

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.{Expression, NamedReference, Transform}
import org.apache.spark.sql.connector.expressions.aggregate._
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** A DSv2 source with AGGREGATE PUSHDOWN (`SupportsPushDownAggregates`,
  * public Spark 3.2+/4 API — the contract Spark's own parquet/JDBC scans
  * and Iceberg's metadata-backed MIN/MAX/COUNT answers implement): when the
  * query is `GROUP BY k` over count/sum/min/max, the scan computes the
  * per-partition partial aggregates INSIDE the reader — one streaming pass,
  * nothing materialized — and emits one row per group per partition; Spark
  * then merges the partials (count folds as sum, min as min, …). The scan
  * declares PARTIAL pushdown (`supportCompletePushDown = false`), which is
  * the honest distributed shape: a partition only sees its slice, the
  * cross-partition merge still belongs to the engine. At 100 TB the scan →
  * shuffle boundary carries |groups|·|partitions| rows instead of the
  * table — this is the operator that turns a full-table GROUP BY into a
  * metadata-sized exchange.
  *
  * Layout + raw-row path are shared with [[KeyBucketSource]] (`k=NN/` CSV
  * dirs, one [[InputPartition]] each); `option("push", "false")` refuses
  * the pushdown, giving the negative control an identical byte-level scan.
  */
class AggPushSource extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    KeyedDsv2.schemaOf(options.get("c1"), options.get("c2"))
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: java.util.Map[String, String]): Table =
    new AggPushTable(new CaseInsensitiveStringMap(properties))
}

private[source] class AggPushTable(options: CaseInsensitiveStringMap)
    extends Table with SupportsRead {
  private val path = Option(options.get("path")).getOrElse(sys.error("path option required"))
  override def name(): String = s"agg_push($path)"
  override def schema(): StructType =
    KeyedDsv2.schemaOf(options.get("c1"), options.get("c2"))
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(o: CaseInsensitiveStringMap): ScanBuilder =
    new AggPushScanBuilder(path, schema(),
      options.getBoolean("push", true))
}

/** One pushed aggregate: what to compute over which base column ordinal. */
private[source] sealed trait AggSpec
private[source] case object CountRows extends AggSpec
private[source] final case class CountOf(ord: Int) extends AggSpec // non-nulls only
private[source] final case class MinOf(ord: Int) extends AggSpec
private[source] final case class MaxOf(ord: Int) extends AggSpec
private[source] final case class SumOf(ord: Int) extends AggSpec

private[source] class AggPushScanBuilder(path: String, schema: StructType,
    allowPush: Boolean) extends ScanBuilder with SupportsPushDownAggregates {

  private var pushed: Option[Seq[AggSpec]] = None
  private var grouped = false

  private def ordOf(e: Expression): Option[Int] = e match {
    case nr: NamedReference if nr.fieldNames.length == 1 =>
      val i = schema.fieldIndex(nr.fieldNames.head)
      if (schema.fields(i).dataType == LongType) Some(i) else None
    case _ => None
  }

  override def supportCompletePushDown(aggregation: Aggregation): Boolean = false

  override def pushAggregation(aggregation: Aggregation): Boolean = {
    if (!allowPush) return false
    val group = aggregation.groupByExpressions()
    val groupOk = group.isEmpty ||
      (group.length == 1 && (group.head match {
        case nr: NamedReference => nr.fieldNames.sameElements(Array("k"))
        case _ => false
      }))
    if (!groupOk) return false
    val specs = aggregation.aggregateExpressions().toSeq.map {
      // COUNT(col) counts NON-NULLS — folding it to CountRows is correct
      // only while the schema stays all-non-nullable, a silent wrong-answer
      // trap the moment nullability changes; track it as its own spec
      case _: CountStar => Some(CountRows)
      case c: Count if !c.isDistinct => ordOf(c.column).map(CountOf)
      case m: Min => ordOf(m.column).map(MinOf)
      case m: Max => ordOf(m.column).map(MaxOf)
      case s: Sum if !s.isDistinct => ordOf(s.column).map(SumOf)
      case _ => None
    }
    if (specs.exists(_.isEmpty)) return false
    pushed = Some(specs.map(_.get))
    grouped = group.nonEmpty
    true
  }

  override def build(): Scan =
    new AggPushScan(path, schema, pushed, grouped)
}

private[source] class AggPushScan(path: String, base: StructType,
    pushed: Option[Seq[AggSpec]], grouped: Boolean) extends Scan with Batch {

  override def readSchema(): StructType = pushed match {
    case None => base
    case Some(specs) =>
      val groupCols = if (grouped) Seq(base.fields(0)) else Nil
      // positional contract with V2ScanRelationPushDown: group columns
      // first, then one column per pushed aggregate (all LongType here —
      // count is long, and the base measures are long)
      StructType(groupCols ++ specs.zipWithIndex.map { case (_, i) =>
        StructField(s"agg_$i", LongType, nullable = true)
      })
  }

  override def toBatch: Batch = this
  override def description(): String =
    s"AggPushScan [$path] pushed=${pushed.isDefined}"

  private lazy val parts: Array[InputPartition] = KeyBucketPartition.all(path)

  override def planInputPartitions(): Array[InputPartition] = parts

  override def createReaderFactory(): PartitionReaderFactory = pushed match {
    case None => new KeyBucketReaderFactory // raw rows, shared with q199
    case Some(specs) => new AggPushReaderFactory(specs, grouped)
  }
}

/** Streams the partition's lines once, folding the pushed aggregates into
  * fixed-size accumulators; emits a single pre-aggregated row. The memory
  * footprint is O(|aggregates|) regardless of partition size — the reason
  * agg pushdown composes with arbitrarily large partitions.
  */
private[source] class AggPushReaderFactory(specs: Seq[AggSpec], grouped: Boolean)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[KeyBucketPartition]
    new PartitionReader[InternalRow] {
      private var done = false
      private var row: InternalRow = _

      private def compute(): InternalRow = {
        val dir = new org.apache.hadoop.fs.Path(p.dir)
        val fs = dir.getFileSystem(new org.apache.hadoop.conf.Configuration())
        val files = GraftMeta.dataFiles(fs, dir).map(_.getPath)
        var n = 0L
        val mins = Array.fill(specs.length)(Long.MaxValue)
        val maxs = Array.fill(specs.length)(Long.MinValue)
        val sums = new Array[Long](specs.length)
        val counts = new Array[Long](specs.length) // per-column non-null counts
        val seen = new Array[Boolean](specs.length) // any non-null folded?
        files.foreach { f =>
          val reader = new java.io.BufferedReader(new java.io.InputStreamReader(
            fs.open(f), java.nio.charset.StandardCharsets.UTF_8))
          try {
            var line = reader.readLine()
            while (line != null) {
              n += 1
              val cols = line.split(",", -1)
              // empty CSV field = NULL (k is the dir name, never null);
              // SQL aggregates ignore nulls, COUNT(col) counts non-nulls
              def raw(ord: Int): String = if (ord == 0) p.k.toString else cols(ord - 1)
              specs.zipWithIndex.foreach {
                case (MinOf(o), i) => val r = raw(o); if (r.nonEmpty) {
                  val x = r.toLong; seen(i) = true; if (x < mins(i)) mins(i) = x }
                case (MaxOf(o), i) => val r = raw(o); if (r.nonEmpty) {
                  val x = r.toLong; seen(i) = true; if (x > maxs(i)) maxs(i) = x }
                case (SumOf(o), i) => val r = raw(o); if (r.nonEmpty) {
                  sums(i) += r.toLong; seen(i) = true }
                case (CountOf(o), i) => if (raw(o).nonEmpty) counts(i) += 1
                case (CountRows, _) => ()
              }
              line = reader.readLine()
            }
          } finally reader.close()
        }
        if (grouped && n == 0) return null // empty bucket: no group exists
        val aggVals: Seq[Any] = specs.zipWithIndex.map {
          case (CountRows, _) => n
          case (CountOf(_), i) => counts(i)
          case (MinOf(_), i) => if (!seen(i)) null else mins(i)
          case (MaxOf(_), i) => if (!seen(i)) null else maxs(i)
          case (SumOf(_), i) => if (!seen(i)) null else sums(i)
        }
        val vals = (if (grouped) Seq(p.k) else Nil) ++ aggVals
        InternalRow(vals: _*)
      }

      override def next(): Boolean =
        if (done) false
        else { row = compute(); done = true; row != null }
      override def get(): InternalRow = row
      override def close(): Unit = ()
    }
  }
}

object AggPushDsv2 {
  /** Read a [[KeyedDsv2.writeBucketed]] layout through the agg-pushdown
    * source; `push = false` is the negative control (identical scan, raw
    * rows).
    */
  def read(spark: SparkSession, path: String, c1: String, c2: String,
      push: Boolean = true): DataFrame =
    spark.read.format(classOf[AggPushSource].getName)
      .option("path", path).option("c1", c1).option("c2", c2)
      .option("push", push.toString)
      .load()
}
