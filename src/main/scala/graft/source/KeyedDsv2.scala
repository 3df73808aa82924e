package graft.source

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.{Expressions, Transform}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.partitioning.{KeyGroupedPartitioning, Partitioning}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** A DSv2 source that REPORTS ITS STORAGE PARTITIONING — the modern
  * exchange-free-join path (SPARK-37375, public Spark 3.3+/4 API), next to
  * q59's catalog-bucketed variant: the table lives as hive-style `k=NN/`
  * directories of CSV lines, each directory is ONE [[InputPartition]]
  * carrying its key via [[HasPartitionKey]], and the scan's
  * `outputPartitioning` is `KeyGroupedPartitioning(identity(k), n)`. Two
  * such sources joined with the partition key among the join keys satisfy
  * each other's distribution at PLANNING time, so the join plans with ZERO
  * Exchange on either side — at 100 TB this is the difference between a
  * co-located merge of pre-bucketed table layouts and shuffling both whole
  * tables across the cluster (Iceberg's bucket-transform SPJ is exactly
  * this contract against its own layout metadata).
  *
  * The payload schema is fixed-in-shape, named by options: `(k INT,
  * <c1> BIGINT, <c2> BIGINT)` — the key column from the directory name,
  * two named long columns from the CSV body. Executor-side code is a
  * line reader (split on comma); everything else stays declarative.
  */
class KeyBucketSource extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    KeyedDsv2.schemaOf(options.get("c1"), options.get("c2"))
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: java.util.Map[String, String]): Table =
    new KeyBucketTable(new CaseInsensitiveStringMap(properties))
}

private[source] class KeyBucketTable(options: CaseInsensitiveStringMap)
    extends Table with SupportsRead {
  private val path = Option(options.get("path")).getOrElse(sys.error("path option required"))
  override def name(): String = s"key_bucket($path)"
  override def schema(): StructType =
    KeyedDsv2.schemaOf(options.get("c1"), options.get("c2"))
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(o: CaseInsensitiveStringMap): ScanBuilder =
    () => new KeyBucketScan(path, schema())
}

private[source] class KeyBucketScan(path: String, schema: StructType)
    extends Scan with Batch with SupportsReportPartitioning {
  override def readSchema(): StructType = schema
  override def toBatch: Batch = this
  override def description(): String = s"KeyBucketScan [$path]"

  private lazy val parts: Array[InputPartition] = KeyBucketPartition.all(path)

  override def planInputPartitions(): Array[InputPartition] = parts

  /** The SPJ contract: this scan's output is ALREADY grouped by `k`. */
  override def outputPartitioning(): Partitioning =
    new KeyGroupedPartitioning(Array(Expressions.identity("k")), parts.length)

  override def createReaderFactory(): PartitionReaderFactory =
    new KeyBucketReaderFactory
}

private[source] case class KeyBucketPartition(k: Int, dir: String)
    extends InputPartition with HasPartitionKey {
  override def partitionKey(): InternalRow = InternalRow(k)
}

private[source] object KeyBucketPartition {
  /** One input partition per `k=NN` dir of `path`, sorted by key for
    * determinism.
    */
  def all(path: String): Array[InputPartition] = {
    val root = new org.apache.hadoop.fs.Path(path)
    GraftMeta.partitionDirs(
        root.getFileSystem(new org.apache.hadoop.conf.Configuration()), root, "k")
      .map { case (k, dir) => KeyBucketPartition(k.toInt, dir.toString) }
      .sortBy(_.k).toArray[InputPartition]
  }
}

private[source] class KeyBucketReaderFactory extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[KeyBucketPartition]
    new PartitionReader[InternalRow] {
      private val dir = new org.apache.hadoop.fs.Path(p.dir)
      private val fs = dir.getFileSystem(new org.apache.hadoop.conf.Configuration())
      private val files = GraftMeta.dataFiles(fs, dir).map(_.getPath).iterator
      private var lines: Iterator[String] = Iterator.empty
      private var reader: java.io.BufferedReader = _
      private var row: InternalRow = _

      @annotation.tailrec
      private def advance(): Boolean =
        if (lines.hasNext) {
          val cols = lines.next().split(",", -1)
          row = InternalRow(p.k, cols(0).toLong, cols(1).toLong)
          true
        } else if (files.hasNext) {
          if (reader != null) reader.close()
          reader = new java.io.BufferedReader(new java.io.InputStreamReader(
            fs.open(files.next()), java.nio.charset.StandardCharsets.UTF_8))
          lines = Iterator.continually(reader.readLine()).takeWhile(_ != null)
          advance()
        } else false

      override def next(): Boolean = advance()
      override def get(): InternalRow = row
      override def close(): Unit = if (reader != null) reader.close()
    }
  }
}

object KeyedDsv2 {

  def schemaOf(c1: String, c2: String): StructType = StructType(Seq(
    StructField("k", IntegerType, nullable = false),
    StructField(Option(c1).getOrElse("c1"), LongType, nullable = false),
    StructField(Option(c2).getOrElse("c2"), LongType, nullable = false)))

  /** Lay `df` (columns: k, c1, c2 — in that order) out as `k=NN/` CSV
    * directories, the storage layout the source reports as its
    * partitioning.
    */
  def writeBucketed(df: DataFrame, path: String): Unit =
    df.write.partitionBy("k").mode("overwrite").csv(path)

  /** Read a bucketed layout back with its partitioning REPORTED. */
  def read(spark: SparkSession, path: String, c1: String, c2: String): DataFrame =
    spark.read.format(classOf[KeyBucketSource].getName)
      .option("path", path).option("c1", c1).option("c2", c2)
      .load()
}
