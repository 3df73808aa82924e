package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.source.{DayTransport, EodDsv2, RestFetch, SyntheticEodTransport}

/** Transport that 503s twice per date before succeeding — proves the urllib3
  * retry budget runs inside each DSv2 partition reader. Call counts live in
  * a static map (executors share the JVM under local[*]).
  */
class FlakyTransport extends DayTransport {
  override def fetch(date: String): RestFetch.Response = {
    val n: Int = FlakyTransport.calls.merge(date, 1, (a, b) => Integer.valueOf(a.intValue + b.intValue))
    if (n <= 2) RestFetch.Response(503, "busy")
    else new SyntheticEodTransport().fetch(date)
  }
}
object FlakyTransport {
  val calls = new java.util.concurrent.ConcurrentHashMap[String, Integer]()
}

/** Transport whose failures exceed the retry budget. */
class DeadTransport extends DayTransport {
  override def fetch(date: String): RestFetch.Response = RestFetch.Response(503, "down")
}

class EodDsv2Spec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val synthetic = classOf[SyntheticEodTransport].getName

  test("one input partition per trading date; weekends parse to zero rows") {
    // 2024-01-15 is a Monday; the 12-day window holds exactly one weekend
    val raw = EodDsv2.readRaw(spark, "2024-01-15", "2024-01-26", synthetic)
    assert(raw.rdd.getNumPartitions === 12, "partition-per-date is the parallelism contract")
    assert(raw.count() === 12, "every date emits one raw payload row, weekends included")
    val typed = EodDsv2.parseGroupedDaily(raw)
    assert(typed.select("trade_date").distinct().count() === 10,
      "Jan 20/21 (Sat/Sun) have no results and vanish at parse")
    assert(typed.count() === 200, "10 weekdays x 20 tickers")
    // spot-check the arithmetic the oracle recomputes: S3 on Jan 16
    val r = typed.filter($"trade_date" === "2024-01-16" && $"symbol" === "S3").head()
    assert(r.getDecimal(2).intValue === 19 && r.getDecimal(3).intValue === 22 &&
      r.getDecimal(4).intValue === 3 && r.getDecimal(5).intValue === 25)
  }

  /** Grouped-daily payload rows as the connector emits them, one per body. */
  private def payloads(bodies: String*) =
    bodies.map(b => (java.sql.Date.valueOf("2026-08-10"), 200, b)).toDF("trade_date", "status", "body")

  test("payload parse: typed prices; a missing v is a NULL volume") {
    val rows = EodDsv2.parseGroupedDaily(payloads(
      """{"queryCount": 2, "results": [
        |  {"T": "AAPL", "o": "189.5", "h": "191.2", "l": "188.9", "c": "190.4", "v": "51234567"},
        |  {"T": "MSFT", "o": "421.1", "h": "425.0", "l": "419.8", "c": "424.3"}
        |]}""".stripMargin)).orderBy("symbol").collect()
    assert(rows.map(_.getAs[String]("symbol")).toSeq === Seq("AAPL", "MSFT"))
    assert(rows(0).getDecimal(rows(0).fieldIndex("close")).toPlainString === "190.400000")
    assert(rows(1).isNullAt(rows(1).fieldIndex("volume")), "missing v -> NULL")
  }

  test("payload parse: a missing or empty results key is an empty day") {
    assert(EodDsv2.parseGroupedDaily(payloads("""{"queryCount": 0}""", """{"results": []}""")).isEmpty)
  }

  test("retry policy runs per partition: two 503s then success still lands rows") {
    FlakyTransport.calls.clear()
    val typed = EodDsv2.readRange(spark, "2024-01-15", "2024-01-17",
      classOf[FlakyTransport].getName)
    assert(typed.count() === 60, "3 weekdays x 20 tickers despite two 503s per date")
    import scala.jdk.CollectionConverters._
    assert(FlakyTransport.calls.asScala.values.forall(_ == 3),
      "each date: 2 failed attempts + 1 success")
  }

  test("exhausted retry budget fails the read (raise_for_status)") {
    val e = intercept[org.apache.spark.SparkException] {
      EodDsv2.readRaw(spark, "2024-01-15", "2024-01-15",
        classOf[DeadTransport].getName, maxRetries = 1, backoffFactor = 0.0).count()
    }
    assert(e.getMessage.contains("HTTP 503") ||
      Option(e.getCause).exists(_.getMessage.contains("HTTP 503")))
  }

  test("filter pushdown prunes date partitions; conservative on boundaries") {
    import org.apache.spark.sql.functions._
    val wide = EodDsv2.readRaw(spark, "2024-01-01", "2024-03-31", synthetic)
    // band filter narrows 91 partitions to 10 at PLANNING time
    val band = wide.filter(col("trade_date").between(
      lit("2024-01-15").cast("date"), lit("2024-01-24").cast("date")))
    assert(band.rdd.getNumPartitions === 10)
    assert(band.select(countDistinct(col("trade_date"))).head().getLong(0) === 10L)
    // strict bounds exclude their endpoint day
    val strict = wide.filter(col("trade_date") > lit("2024-01-15").cast("date") &&
      col("trade_date") < lit("2024-01-18").cast("date"))
    assert(strict.rdd.getNumPartitions === 2)
    // provably-empty window plans ZERO partitions (zero fetches)
    val empty = wide.filter(col("trade_date") > lit("2024-04-15").cast("date"))
    assert(empty.rdd.getNumPartitions === 0)
    assert(empty.count() === 0L)
    // non-date predicates are not consumed and prune nothing
    val other = wide.filter(col("status") === 200)
    assert(other.rdd.getNumPartitions === 91)
  }

  test("backfillFromRest: parallel fetch staged to bronze, replayed causally") {
    val wh = TestSpark.tmpDir("whdsv2")
    val stage = TestSpark.tmpDir("bronzedsv2")
    val pipe = new graft.pipeline.EodPipeline(wh, minTickers = 1)
    var reports = Seq.empty[graft.pipeline.PipelineReport]
    val jobs = TestSpark.jobsOf {
      reports = pipe.backfillFromRest(spark, "2024-01-18", "2024-01-23", synthetic, stage)
    }
    // outside the replayed days: the fetch's checkpoint and the staging
    // write, which also observes the date list
    assert(jobs.count(_.runDateLine.isEmpty) === 2, jobs.mkString("\n"))
    // Thu 18, Fri 19, Mon 22, Tue 23 run; Sat 20 / Sun 21 produce no rows
    assert(reports.map(_.tradeDate) === Seq("2024-01-18", "2024-01-19", "2024-01-22", "2024-01-23"))
    assert(reports.forall(_.rowParity), "V5 parity for every backfilled day")
    assert(spark.read.parquet(pipe.corePath).count() === 80, "4 days x 20 tickers")
    assert(pipe.dimSecurity(spark).count() === 20, "same 20 tickers every day")
    assert(pipe.dimDate(spark).count() === 4)
  }
}
