package graft.source

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference, Transform}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.{EqualTo, Filter, In}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** A DSv2 source accepting JOIN-DRIVEN RUNTIME FILTERS
  * (`SupportsRuntimeFiltering`, public Spark 3.2+/4 API — the path Iceberg
  * uses to prune file groups from a broadcast join's build-side keys): the
  * scan names `k` as filterable; when a dynamic-partition-pruning subquery
  * resolves (the broadcast dim's keys), Spark hands the scan an `IN (k …)`
  * filter BEFORE `planInputPartitions`, and whole `k=NN/` directories are
  * never listed, opened, or read. This is q185's DPP mechanism delivered
  * through the connector API instead of the built-in file source — at
  * 100 TB it means a date- or tenant-bounded dim prunes a foreign table the
  * engine has no partition metadata for, because the SOURCE owns the
  * layout. An absent or non-IN filter degrades to a full scan (correctness
  * never depends on the filter arriving).
  */
class RuntimeFilterSource extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    KeyedDsv2.schemaOf(options.get("c1"), options.get("c2"))
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: java.util.Map[String, String]): Table =
    new RuntimeFilterTable(new CaseInsensitiveStringMap(properties))
}

private[source] class RuntimeFilterTable(options: CaseInsensitiveStringMap)
    extends Table with SupportsRead {
  private val path = Option(options.get("path")).getOrElse(sys.error("path option required"))
  override def name(): String = s"runtime_filter($path)"
  override def schema(): StructType =
    KeyedDsv2.schemaOf(options.get("c1"), options.get("c2"))
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(o: CaseInsensitiveStringMap): ScanBuilder =
    () => new RuntimeFilterScan(path, schema())
}

private[source] class RuntimeFilterScan(path: String, schema: StructType)
    extends Scan with Batch with SupportsRuntimeFiltering {

  private var keep: Option[Set[Int]] = None

  override def readSchema(): StructType = schema
  override def toBatch: Batch = this
  override def description(): String = s"RuntimeFilterScan [$path]"

  override def filterAttributes(): Array[NamedReference] =
    Array(Expressions.column("k"))

  override def filter(filters: Array[Filter]): Unit =
    keep = filters.collectFirst {
      case In("k", vs) => vs.map(_.asInstanceOf[Number].intValue).toSet
      case EqualTo("k", v) => Set(v.asInstanceOf[Number].intValue)
    }

  private lazy val allParts: Array[InputPartition] = KeyBucketPartition.all(path)

  override def planInputPartitions(): Array[InputPartition] = keep match {
    case None => allParts
    case Some(ks) => allParts.filter(p =>
      ks.contains(p.asInstanceOf[KeyBucketPartition].k))
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new KeyBucketReaderFactory
}

object RuntimeFilterDsv2 {
  /** Read a [[KeyedDsv2.writeBucketed]] layout through the runtime-filtered
    * source.
    */
  def read(spark: SparkSession, path: String, c1: String, c2: String): DataFrame =
    spark.read.format(classOf[RuntimeFilterSource].getName)
      .option("path", path).option("c1", c1).option("c2", c2)
      .load()
}
