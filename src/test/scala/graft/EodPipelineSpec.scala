package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import graft.ops.{Normalize, Quality}
import graft.pipeline.EodPipeline
import graft.source.EodSource

/** End-to-end daily lifecycle (SURVEY §3.1): two days + a FORCE-reload rerun
  * over reference-shaped bronze CSVs; star-schema invariants after each run.
  */
class EodPipelineSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def writeCsv(dir: String, date: String, rows: Seq[String]): String = {
    val f = new java.io.File(dir, s"eod_prices_$date.csv")
    val w = new java.io.PrintWriter(f)
    ("trade_date,symbol,open,high,low,close,volume" +: rows).foreach(w.println)
    w.close()
    f.toString
  }

  test("two-day run + rerun: upsert idempotence, surrogate stability, V5 parity") {
    val bronze = TestSpark.tmpDir("bronze")
    val wh = TestSpark.tmpDir("wh")
    val pipe = new EodPipeline(wh, minTickers = 1)

    val day1 = writeCsv(bronze, "2026-08-10", Seq(
      "2026-08-10,AAPL,189.5,191.2,188.9,190.4,51234567",
      "2026-08-10,msft ,421.1,425.0,419.8,424.3,18345678", // normalized to MSFT
      "2026-08-10,MSFT,421.1,425.0,419.8,424.9,18345679")) // dup key: later file row wins? same ts -> src tiebreak
    val r1 = pipe.runDate(spark, day1, "2026-08-10")
    assert(r1.rawRows === 3)
    assert(r1.coreRows === 2, "UPPER(TRIM()) collapses msft/MSFT, W1 dedups")
    assert(r1.rowParity, "V5: core == fact for the date")

    val core1 = spark.read.parquet(pipe.corePath)
    assert(core1.count() === 2)
    val dim1 = pipe.dimSecurity(spark)
      .orderBy("security_id").as[(Long, String)].collect()
    assert(dim1 === Array((1L, "AAPL"), (2L, "MSFT")))

    // Day 2: AAPL changes close (update), GOOG appears (insert).
    val day2 = writeCsv(bronze, "2026-08-11", Seq(
      "2026-08-11,AAPL,190.0,194.0,189.0,193.0,61234567",
      "2026-08-11,GOOG,141.0,143.5,140.2,142.9,9876543",
      "2026-08-11,MSFT,424.0,429.0,423.1,428.8,17345678"))
    val r2 = pipe.runDate(spark, day2, "2026-08-11")
    assert(r2.coreRows === 3 && r2.rowParity)
    val dim2 = pipe.dimSecurity(spark)
      .orderBy("security_id").as[(Long, String)].collect()
    assert(dim2 === Array((1L, "AAPL"), (2L, "MSFT"), (3L, "GOOG")),
      "existing surrogate keys stable, new member appended after max")

    val fact = spark.read.parquet(pipe.factPath)
    assert(fact.count() === 5, "2 facts day1 + 3 facts day2")
    assert(fact.select("security_id", "date_sk").distinct().count() === 5,
      "PK (security_id, date_sk) unique")

    // FORCE=TRUE rerun of day 2 with a revised close: update-in-place,
    // no duplicate keys, dims untouched.
    val day2b = writeCsv(bronze, "2026-08-11b", Seq(
      "2026-08-11,AAPL,190.0,194.0,189.0,195.5,61234567",
      "2026-08-11,GOOG,141.0,143.5,140.2,142.9,9876543",
      "2026-08-11,MSFT,424.0,429.0,423.1,428.8,17345678"))
    val r3 = pipe.runDate(spark, day2b, "2026-08-11")
    assert(r3.estUpdates === 3 && r3.estInserts === 0, "V4 forecast: pure update run")
    val fact2 = spark.read.parquet(pipe.factPath)
    assert(fact2.count() === 5, "rerun does not duplicate")
    val aaplDay2 = spark.read.parquet(pipe.corePath)
      .filter($"symbol" === "AAPL" && $"trade_date" === "2026-08-11").head()
    assert(aaplDay2.getDecimal(aaplDay2.fieldIndex("close")).toPlainString === "195.500000",
      "rerun refreshed the close")
    assert(pipe.dimSecurity(spark).count() === 3)

    // Date dimension accumulated both dates exactly once.
    val dimDate = pipe.dimDate(spark)
    assert(dimDate.count() === 2)
    assert(dimDate.filter($"date_sk" === 20260810).head().getAs[Int]("day_of_week") === 1)
  }

  test("lookback: newest-first, first non-empty day wins (holiday scenario)") {
    val bronze = TestSpark.tmpDir("bronze3")
    val wh = TestSpark.tmpDir("wh3")
    val pipe = new EodPipeline(wh, minTickers = 1)
    // Friday has data; Saturday's file is empty (no trading); Sunday never landed.
    val friday = writeCsv(bronze, "2026-08-07", Seq(
      "2026-08-07,AAPL,189.5,191.2,188.9,190.4,51234567"))
    val saturday = writeCsv(bronze, "2026-08-08", Seq.empty)
    val paths = Map("2026-08-07" -> friday, "2026-08-08" -> saturday)

    val report = pipe.runWithLookback(spark, "2026-08-09", lookbackDays = 3)(paths.get)
    assert(report.map(_.tradeDate) === Some("2026-08-07"),
      "Sunday missing, Saturday empty -> Friday runs")
    assert(spark.read.parquet(pipe.corePath).count() === 1)

    val none = pipe.runWithLookback(spark, "2026-08-20", lookbackDays = 2)(paths.get)
    assert(none.isEmpty, "whole window empty -> None, nothing written")
  }

  test("backfill: 3-day gap replayed oldest-first, empty day skipped (V2)") {
    val bronze = TestSpark.tmpDir("bronze4")
    val wh = TestSpark.tmpDir("wh4")
    val pipe = new EodPipeline(wh, minTickers = 1)
    val d1 = writeCsv(bronze, "2026-08-10", Seq(
      "2026-08-10,AAPL,189.5,191.2,188.9,190.4,51234567",
      "2026-08-10,MSFT,421.1,425.0,419.8,424.3,18345678"))
    val d2 = writeCsv(bronze, "2026-08-11", Seq.empty) // holiday
    val d3 = writeCsv(bronze, "2026-08-12", Seq(
      "2026-08-12,AAPL,190.0,194.0,189.0,193.0,61234567",
      "2026-08-12,GOOG,141.0,143.5,140.2,142.9,9876543"))
    val paths = Map("2026-08-10" -> d1, "2026-08-11" -> d2, "2026-08-12" -> d3)

    // dates passed out of order: runRange must still replay causally
    val reports = pipe.runRange(spark,
      Seq("2026-08-12", "2026-08-10", "2026-08-11"))(paths.get)
    assert(reports.map(_.tradeDate) === Seq("2026-08-10", "2026-08-12"),
      "oldest-first, empty day skipped")
    assert(reports.forall(_.rowParity))
    val dim = pipe.dimSecurity(spark)
      .orderBy("security_id").as[(Long, String)].collect()
    assert(dim === Array((1L, "AAPL"), (2L, "MSFT"), (3L, "GOOG")),
      "surrogate keys reflect first-seen (causal) order")
    assert(spark.read.parquet(pipe.factPath).count() === 4)
  }

  test("V1 gate: below-threshold batch fails fast (eod_data_downloader.py:138-145)") {
    val bronze = TestSpark.tmpDir("bronze2")
    val wh = TestSpark.tmpDir("wh2")
    val pipe = new EodPipeline(wh, minTickers = 100)
    val tiny = writeCsv(bronze, "2026-08-10", Seq(
      "2026-08-10,AAPL,1,1,1,1,1"))
    val e = intercept[IllegalArgumentException] {
      pipe.runDate(spark, tiny, "2026-08-10")
    }
    assert(e.getMessage.contains("expected >= 100"))
  }

  test("V1 gate: a rejected reload leaves the date's earlier RAW load intact") {
    val bronze = TestSpark.tmpDir("bronze3")
    val wh = TestSpark.tmpDir("wh3")
    val pipe = new EodPipeline(wh, minTickers = 2)
    val full = writeCsv(bronze, "2026-08-10", Seq(
      "2026-08-10,AAPL,1,1,1,1,1",
      "2026-08-10,MSFT,2,2,2,2,2"))
    pipe.runDate(spark, full, "2026-08-10")
    val short = new java.io.File(TestSpark.tmpDir("bronze3b"), "short.csv")
    java.nio.file.Files.writeString(short.toPath,
      "trade_date,symbol,open,high,low,close,volume\n2026-08-10,AAPL,3,3,3,3,3\n")
    val e = intercept[IllegalArgumentException] {
      pipe.runDate(spark, short.toString, "2026-08-10")
    }
    assert(e.getMessage.contains("expected >= 2"))
    val raw = spark.read.parquet(pipe.rawPath)
      .filter($"trade_date" === "2026-08-10")
      .select($"symbol", $"close".cast("double")).as[(String, Double)]
      .collect().sorted
    assert(raw === Array(("AAPL", 1.0), ("MSFT", 2.0)))
    assert(new java.io.File(pipe.rawPath).list().forall(!_.startsWith(".trade_date")),
      "the rejected batch's staging dir is removed")
  }

  test("V4/V5 differential: observed merge counts equal the COUNT(*) reference forms") {
    val bronze = TestSpark.tmpDir("bronze5")
    val wh = TestSpark.tmpDir("wh5")
    val pipe = new EodPipeline(wh, minTickers = 1)
    val date = "2026-08-10"
    pipe.runDate(spark, writeCsv(bronze, date, Seq(
      "2026-08-10,AAPL,189.5,191.2,188.9,190.4,51234567",
      "2026-08-10,MSFT,421.1,425.0,419.8,424.3,18345678",
      "2026-08-10,IBM,170.0,171.0,169.5,170.5,3456789")), date)

    // FORCE reload: AAPL revised, GOOG new, MSFT twice under two spellings
    val reload = new java.io.File(TestSpark.tmpDir("bronze5b"), s"eod_prices_$date.csv")
    java.nio.file.Files.write(reload.toPath, java.util.Arrays.asList(
      "trade_date,symbol,open,high,low,close,volume",
      "2026-08-10,AAPL,189.5,191.2,188.9,192.0,51234567",
      "2026-08-10,GOOG,141.0,143.5,140.2,142.9,9876543",
      "2026-08-10,msft ,421.1,425.0,419.8,424.3,18345678",
      "2026-08-10,MSFT,421.1,425.0,419.8,424.9,18345679"))

    // V4 reference over the slices the reload merges: the date's RAW rows
    // once the batch has landed, and its CORE rows before the merge
    def keys(df: org.apache.spark.sql.DataFrame) =
      df.select(Normalize.normKey($"symbol").as("symbol"), $"trade_date")
    val rawSlice = keys(spark.read.parquet(pipe.rawPath).filter($"trade_date" === date))
      .unionByName(keys(EodSource.readBronzeCsv(spark, reload.toString)))
    val coreSlice = spark.read.parquet(pipe.corePath).filter($"trade_date" === date)
      .select($"symbol", $"trade_date")
    val pre = Quality.premergeMetrics(rawSlice, coreSlice, Seq("symbol", "trade_date")).head()

    val r = pipe.runDate(spark, reload.toString, date)
    val post = Quality.postmergeParity(
      spark.read.parquet(pipe.corePath).filter($"trade_date" === date),
      spark.read.parquet(pipe.factPath).filter($"trade_date" === date)).head()

    assert(r.estInserts === pre.getAs[Long]("est_inserts"))
    assert(r.estUpdates === pre.getAs[Long]("est_updates"))
    assert((r.estInserts, r.estUpdates) === ((1L, 3L)),
      "GOOG is new; AAPL, MSFT and IBM (from the date's first load) are matched keys")
    assert(r.coreRows === post.getAs[Long]("core_rows"))
    assert(r.factRows === post.getAs[Long]("fact_rows"))
    assert(r.rowParity === post.getAs[Boolean]("row_parity"))
    assert((r.coreRows, r.factRows, r.rowParity) === ((4L, 4L, true)))
  }

  test("O(day): past the listing threshold a day's run lists no table history") {
    val threshold = "spark.sql.sources.parallelPartitionDiscovery.threshold"
    val before = spark.conf.getOption(threshold)
    val bronze = TestSpark.tmpDir("bronze6")
    val pipe = new EodPipeline(TestSpark.tmpDir("wh6"), minTickers = 1)
    val days = (10 to 13).map(d => f"2026-08-$d%02d")
    val sc = spark.sparkContext
    val descriptions = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        descriptions.add(Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse(""))
    }
    // the bus is asynchronous and delivers in order: a marker job on each
    // side of the 4th day brackets exactly that day's jobs
    def marker(name: String): Unit = {
      sc.setJobDescription(name)
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
    }
    spark.conf.set(threshold, "2")
    sc.addSparkListener(listener)
    try {
      days.init.foreach(d => pipe.runDate(spark, writeCsv(bronze, d, Seq(
        s"$d,AAPL,1,1,1,1,1", s"$d,MSFT,2,2,2,2,2")), d))
      val last = writeCsv(bronze, days.last, Seq(
        s"${days.last},AAPL,1,1,1,1,1", s"${days.last},MSFT,2,2,2,2,2"))
      marker("listing-guard-begin")
      pipe.runDate(spark, last, days.last)
      marker("listing-guard-end")
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      while (!descriptions.contains("listing-guard-end") && System.nanoTime() < deadline)
        Thread.sleep(20)
      import scala.jdk.CollectionConverters._
      val day4 = descriptions.asScala.toSeq
        .dropWhile(_ != "listing-guard-begin").drop(1).takeWhile(_ != "listing-guard-end")
      assert(descriptions.contains("listing-guard-end"), "listener saw the closing marker")
      assert(day4.nonEmpty, "the day's own jobs were seen")
      assert(day4.filter(_.startsWith("Listing leaf files")).isEmpty,
        "the 4th day listed its table history")
      assert(new java.io.File(pipe.corePath).list().count(_.startsWith("trade_date=")) === 4)
    } finally {
      sc.removeSparkListener(listener)
      before.fold(spark.conf.unset(threshold))(spark.conf.set(threshold, _))
    }
  }
}
