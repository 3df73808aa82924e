package graft.source

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** DataSource V2 for the grouped-daily REST feed — the scale path for
  * backfills the round-2 review called for (SURVEY §2.1 S1 "at scale, a
  * custom DataSource V2").
  *
  * The reference fetches one payload per day in a driver loop
  * (eod_data_downloader.py:58-90), which serializes a multi-year backfill
  * through the driver. Here each trading date is ONE [[InputPartition]]: a
  * 10-year backfill plans ~2 500 partitions and every executor slot fetches
  * its own dates concurrently, bounded only by cluster width and the
  * provider's rate limits (the retry policy — same budget/backoff/statuses
  * as the reference's urllib3 session, eod_data_downloader.py:16-18,93-102
  * — runs PER PARTITION, so one slow date never blocks the others).
  *
  * Deliberate split of labor: the connector emits one RAW row per date —
  * `(trade_date DATE, status INT, body STRING)` — and the payload→records
  * parse stays in Catalyst ([[EodDsv2.parseGroupedDaily]]: from_json +
  * explode + TRY_TO_* typing, all codegen'd). Executor-side code is a
  * ~20-line reader with no JSON handling, and every downstream transform is
  * a declarative plan the optimizer can prune/push into.
  *
  * The transport is injected BY CLASS NAME (`transport` option): readers
  * instantiate it reflectively on the executor, so the connector is testable
  * offline ([[SyntheticEodTransport]]) and a deployment supplies an HTTP
  * implementation with the 30 s timeout. Implementations need a no-arg
  * constructor.
  */
trait DayTransport extends Serializable {
  /** Fetch one trading date's grouped-daily payload. */
  def fetch(date: String): RestFetch.Response
}

/** Offline deterministic transport: payloads derive from the DATE ALONE
  * (day-of-month arithmetic over 20 tickers), so an oracle can recompute
  * every row with SQL date arithmetic. Weekends return a payload with no
  * `results` — the reference's "holidays and weekends have no grouped-daily
  * payload" semantics (eod_data_downloader.py:125-147) — detected portably
  * as epoch-day mod 7 (1970-01-01 was a Thursday: 2=Saturday, 3=Sunday).
  */
class SyntheticEodTransport extends DayTransport {
  override def fetch(date: String): RestFetch.Response = {
    val d = java.time.LocalDate.parse(date)
    val wd = ((d.toEpochDay % 7) + 7) % 7
    if (wd == 2 || wd == 3)
      RestFetch.Response(200, """{"queryCount":0,"resultsCount":0}""")
    else {
      val dom = d.getDayOfMonth
      val recs = (1 to 20).map { i =>
        s"""{"T":"S$i","o":"${i + dom}","h":"${2 * i + dom}","l":"$i","c":"${3 * i + dom}","v":"${1000L * i + dom}"}"""
      }
      RestFetch.Response(200,
        s"""{"queryCount":20,"resultsCount":20,"results":[${recs.mkString(",")}]}""")
    }
  }
}

class EodRestSource extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = EodDsv2.rawSchema
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: java.util.Map[String, String]): Table =
    new EodRestTable(new CaseInsensitiveStringMap(properties))
}

private[source] class EodRestTable(options: CaseInsensitiveStringMap)
    extends Table with SupportsRead {
  override def name(): String =
    s"eod_rest(${options.get("startDate")}..${options.get("endDate")})"
  override def schema(): StructType = EodDsv2.rawSchema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(caseInsensitiveStringMap: CaseInsensitiveStringMap): ScanBuilder =
    new EodRestScanBuilder(
      Option(options.get("startDate")).getOrElse(sys.error("startDate option required")),
      Option(options.get("endDate")).getOrElse(sys.error("endDate option required")),
      Option(options.get("transport")).getOrElse(sys.error("transport option required")),
      options.getInt("maxRetries", RestFetch.MaxRetries),
      options.getDouble("backoffFactor", RestFetch.BackoffFactor))
}

/** Filter pushdown into the connector: `trade_date` range predicates narrow
  * the fetch window AT PLANNING TIME, so a query for two weeks against a
  * ten-year configured range plans ~10 input partitions instead of ~3 650 —
  * for a REST source, partition pruning IS request pruning (every pruned
  * date is an HTTP call that never happens). Catalyst pushes the dataset's
  * `filter` here via V2ScanRelationPushDown; unsupported shapes are simply
  * not consumed. All filters are returned as residual — Spark re-applies
  * them row-level, so pruning stays a conservative superset and a
  * mis-narrowed window can only fail loudly (missing rows vs the oracle),
  * never silently pass wrong rows.
  */
private[source] class EodRestScanBuilder(startDate: String, endDate: String,
    transportClass: String, maxRetries: Int, backoffFactor: Double)
    extends ScanBuilder with SupportsPushDownFilters {
  import java.time.LocalDate
  import org.apache.spark.sql.sources._

  private var lo = LocalDate.parse(startDate)
  private var hi = LocalDate.parse(endDate)
  private var accepted = Array.empty[Filter]

  /** DateType filter values arrive as java.sql.Date (legacy API) or
    * java.time.LocalDate (datetime.java8API) — accept both, skip the rest.
    */
  private def asDate(v: Any): Option[LocalDate] = v match {
    case d: java.sql.Date => Some(d.toLocalDate)
    case d: LocalDate => Some(d)
    case _ => None
  }

  private def narrow(f: Filter): Boolean = f match {
    case EqualTo("trade_date", v) => asDate(v).exists { d =>
      if (d.isAfter(lo)) lo = d
      if (d.isBefore(hi)) hi = d
      true
    }
    case GreaterThan("trade_date", v) => asDate(v).exists { d =>
      if (!d.plusDays(1).isBefore(lo)) lo = d.plusDays(1); true
    }
    case GreaterThanOrEqual("trade_date", v) => asDate(v).exists { d =>
      if (d.isAfter(lo)) lo = d; true
    }
    case LessThan("trade_date", v) => asDate(v).exists { d =>
      if (!d.minusDays(1).isAfter(hi)) hi = d.minusDays(1); true
    }
    case LessThanOrEqual("trade_date", v) => asDate(v).exists { d =>
      if (d.isBefore(hi)) hi = d; true
    }
    case _ => false
  }

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    accepted = filters.filter(narrow)
    filters // all residual: Spark re-applies row-level (conservative pruning)
  }
  override def pushedFilters(): Array[Filter] = accepted

  override def build(): Scan =
    if (hi.isBefore(lo)) // provably-empty window: zero partitions, zero fetches
      new EodRestScan(lo.toString, lo.toString, transportClass, maxRetries,
        backoffFactor) {
        override def planInputPartitions(): Array[InputPartition] = Array.empty
      }
    else new EodRestScan(lo.toString, hi.toString, transportClass, maxRetries,
      backoffFactor)
}

private[source] class EodRestScan(startDate: String, endDate: String,
    transportClass: String, maxRetries: Int, backoffFactor: Double)
    extends Scan with Batch {
  override def readSchema(): StructType = EodDsv2.rawSchema
  override def toBatch: Batch = this
  override def description(): String =
    s"EodRestScan [$startDate..$endDate] transport=$transportClass"

  override def planInputPartitions(): Array[InputPartition] = {
    val start = java.time.LocalDate.parse(startDate)
    val end = java.time.LocalDate.parse(endDate)
    require(!end.isBefore(start), s"endDate $endDate before startDate $startDate")
    // one partition per date: executor-parallel fetch, retry isolated per day
    Iterator.iterate(start)(_.plusDays(1)).takeWhile(!_.isAfter(end))
      .map(d => EodDatePartition(d.toString): InputPartition).toArray
  }
  override def createReaderFactory(): PartitionReaderFactory =
    new EodRestReaderFactory(transportClass, maxRetries, backoffFactor)
}

private[source] case class EodDatePartition(date: String) extends InputPartition

private[source] class EodRestReaderFactory(transportClass: String,
    maxRetries: Int, backoffFactor: Double) extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val date = partition.asInstanceOf[EodDatePartition].date
    new PartitionReader[InternalRow] {
      private var emitted = false
      private var row: InternalRow = _
      override def next(): Boolean =
        if (emitted) false
        else {
          val transport = Class.forName(transportClass)
            .getDeclaredConstructor().newInstance().asInstanceOf[DayTransport]
          val r = RestFetch.withRetry(() => transport.fetch(date),
            maxRetries = maxRetries, backoffFactor = backoffFactor)
          // raise_for_status after the final attempt (eod_data_downloader.py:102)
          if (r.status < 200 || r.status >= 300)
            throw new java.io.IOException(s"EOD fetch $date: HTTP ${r.status} after retries")
          row = InternalRow(
            java.time.LocalDate.parse(date).toEpochDay.toInt,
            r.status,
            UTF8String.fromString(r.body))
          emitted = true
          true
        }
      override def get(): InternalRow = row
      override def close(): Unit = ()
    }
  }
}

object EodDsv2 {

  /** What the connector emits: one raw payload row per trading date. */
  val rawSchema: StructType = StructType(Seq(
    StructField("trade_date", DateType, nullable = false),
    StructField("status", IntegerType, nullable = false),
    StructField("body", StringType, nullable = true)))

  private val resultsSchema = StructType(Seq(StructField("results", ArrayType(
    StructType.fromDDL("T STRING, o STRING, h STRING, l STRING, c STRING, v STRING")))))

  /** Raw per-date payload rows for `[startDate, endDate]`, fetched in
    * parallel (one input partition per date).
    */
  def readRaw(spark: SparkSession, startDate: String, endDate: String,
      transportClass: String, maxRetries: Int = RestFetch.MaxRetries,
      backoffFactor: Double = RestFetch.BackoffFactor): DataFrame =
    spark.read.format(classOf[EodRestSource].getName)
      .option("startDate", startDate)
      .option("endDate", endDate)
      .option("transport", transportClass)
      .option("maxRetries", maxRetries)
      .option("backoffFactor", backoffFactor)
      .load()

  /** Catalyst-side payload parse: grouped-daily body → typed rows, the same
    * field mapping and TRY_TO_* discipline as [[EodSource.fromJsonRecords]]
    * (T/o/h/l/c/v → symbol/open/…/volume, NULL_IF tokens, decimal typing).
    * Days with no `results` (weekends/holidays) contribute zero rows —
    * explode of an absent array drops the row, exactly the reference's
    * empty-day skip.
    */
  def parseGroupedDaily(raw: DataFrame): DataFrame = {
    import graft.model.Schemas
    import graft.ops.Normalize
    def typed(c: org.apache.spark.sql.Column, dt: DataType) =
      Normalize.tryTo(Normalize.nullIfTokens(c), dt)
    raw
      .select(col("trade_date"), from_json(col("body"), resultsSchema).getField("results").as("rs"))
      // generator in its own select (explode cannot nest in an expression)
      .select(col("trade_date"), explode(col("rs")).as("r"))
      .select(
        col("trade_date"),
        col("r.T").as("symbol"),
        typed(col("r.o"), Schemas.Price).as("open"),
        typed(col("r.h"), Schemas.Price).as("high"),
        typed(col("r.l"), Schemas.Price).as("low"),
        typed(col("r.c"), Schemas.Price).as("close"),
        typed(col("r.v"), Schemas.Volume).as("volume"))
  }

  /** The backfill read: `[startDate, endDate]` fetched executor-parallel and
    * parsed to the typed bronze shape.
    */
  def readRange(spark: SparkSession, startDate: String, endDate: String,
      transportClass: String): DataFrame =
    parseGroupedDaily(readRaw(spark, startDate, endDate, transportClass))
}
