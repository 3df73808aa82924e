package graft

import java.nio.charset.StandardCharsets.UTF_8
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import graft.model.Schemas
import graft.ops.{DateDim, Normalize, Quality, SurrogateKeys, VersionedTable}
import graft.pipeline.EodPipeline
import graft.source.{EodSource, GraftMeta}
import graft.TestSpark.{Job, jobsOf}

/** End-to-end daily lifecycle (SURVEY §3.1): two days + a FORCE-reload rerun
  * over reference-shaped bronze CSVs; star-schema invariants after each run.
  */
class EodPipelineSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def writeCsv(dir: String, date: String, rows: Seq[String]): String = {
    val f = new java.io.File(dir, s"eod_prices_$date.csv")
    java.nio.file.Files.write(f.toPath,
      ("trade_date,symbol,open,high,low,close,volume" +: rows).asJava, UTF_8)
    f.toString
  }

  /** One bronze day: a row per symbol, prices varied by `px`. */
  private def day(bronze: String, date: String, symbols: Seq[String], px: Int = 1,
      file: String = null): String =
    writeCsv(bronze, Option(file).getOrElse(date),
      symbols.map(sym => s"$date,$sym,$px,$px,$px,$px,${px * 100}"))

  /** `runDate`'s dims block in EodPipeline.scala: the source lines from the
    * `// DIM_SECURITY` marker up to the `// FACT` marker.
    */
  private lazy val dimsBlock: Range = {
    val src = java.nio.file.Files.readAllLines(
      java.nio.file.Paths.get("src/main/scala/graft/pipeline/EodPipeline.scala")).asScala.toIndexedSeq
    val from = src.indexWhere(_.contains("def runDate("))
    val dims = src.indexWhere(_.contains("// DIM_SECURITY"), from)
    val fact = src.indexWhere(_.contains("// FACT"), dims)
    assert(from >= 0 && dims > from && fact > dims, "runDate's stage markers are in order")
    (dims + 1) until (fact + 1)
  }

  private def dimKeys(pipe: EodPipeline): Seq[(Long, String)] =
    pipe.dimSecurity(spark).orderBy("security_id").as[(Long, String)].collect().toSeq

  private def versions(pipe: EodPipeline) =
    (VersionedTable.currentVersion(spark, pipe.dimSecurityPath),
      VersionedTable.currentVersion(spark, pipe.dimDatePath))

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
    spark.conf.set(threshold, "2")
    try {
      days.init.foreach(d => pipe.runDate(spark, writeCsv(bronze, d, Seq(
        s"$d,AAPL,1,1,1,1,1", s"$d,MSFT,2,2,2,2,2")), d))
      val last = writeCsv(bronze, days.last, Seq(
        s"${days.last},AAPL,1,1,1,1,1", s"${days.last},MSFT,2,2,2,2,2"))
      val day4 = jobsOf(pipe.runDate(spark, last, days.last)).map(_.description)
      assert(day4.nonEmpty, "the day's own jobs were seen")
      assert(day4.filter(_.startsWith("Listing leaf files")).isEmpty,
        "the 4th day listed its table history")
      assert(new java.io.File(pipe.corePath).list().count(_.startsWith("trade_date=")) === 4)
    } finally before.fold(spark.conf.unset(threshold))(spark.conf.set(threshold, _))
  }

  test("job-count guard: the dims launch no job; a reload runs in 5, as a new day") {
    val bronze = TestSpark.tmpDir("bronze7")
    val pipe = new EodPipeline(TestSpark.tmpDir("wh7"), minTickers = 1)
    pipe.runDate(spark, day(bronze, "2026-08-10", Seq("AAPL", "MSFT")), "2026-08-10")
    pipe.runDate(spark, day(bronze, "2026-08-11", Seq("AAPL", "MSFT")), "2026-08-11")

    // a FORCE reload of a known date with no new symbol: empty deltas, so
    // neither dim commits a version
    val dims0 = versions(pipe)
    val reload = jobsOf(pipe.runDate(spark,
      day(bronze, "2026-08-11", Seq("MSFT", "AAPL"), px = 2, file = "reload"), "2026-08-11"))
    assert(versions(pipe) === dims0, "an empty delta commits nothing")
    // a new day that adds one symbol: both dims commit one version
    val added = jobsOf(pipe.runDate(spark,
      day(bronze, "2026-08-12", Seq("AAPL", "GOOG", "MSFT")), "2026-08-12"))
    assert(versions(pipe) === ((dims0._1.map(_ + 1), dims0._2.map(_ + 1))))
    assert(dimKeys(pipe) === Seq((1L, "AAPL"), (2L, "MSFT"), (3L, "GOOG")))

    for ((name, jobs, pinned) <- Seq(("reload", reload, ReloadJobs), ("new symbol", added, NewDayJobs))) {
      assert(jobs.forall(_.runDateLine.isDefined), s"$name: every job names its runDate line")
      assert(jobs.flatMap(_.runDateLine).filter(dimsBlock.contains) === Nil,
        s"$name: the dims block launched Spark jobs")
      assert(jobs.size === pinned, s"$name: ${jobs.mkString(", ")}")
    }
  }

  test("no day reads a hidden dim dir: Spark logs no 'All paths were ignored' warning") {
    spark.sparkContext // the session's start installs Spark's log4j profile
    val logger = org.apache.logging.log4j.LogManager.getLogger(
      "org.apache.spark.sql.execution.datasources.DataSource")
      .asInstanceOf[org.apache.logging.log4j.core.Logger]
    assert(logger.isWarnEnabled, "the DataSource logger emits warnings")
    val warned = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val appender = new org.apache.logging.log4j.core.appender.AbstractAppender("ignored-paths",
        null, null, true, org.apache.logging.log4j.core.config.Property.EMPTY_ARRAY) {
      override def append(e: org.apache.logging.log4j.core.LogEvent): Unit =
        warned.add(e.getMessage.getFormattedMessage)
    }
    appender.start()
    logger.addAppender(appender)
    try {
      val bronze = TestSpark.tmpDir("bronze13")
      val pipe = new EodPipeline(TestSpark.tmpDir("wh13"), minTickers = 1)
      pipe.runDate(spark, day(bronze, "2026-08-10", Seq("AAPL", "MSFT")), "2026-08-10")
      pipe.runDate(spark, day(bronze, "2026-08-11", Seq("AAPL", "GOOG")), "2026-08-11")
      val reload = pipe.runDate(spark,
        day(bronze, "2026-08-11", Seq("GOOG", "AAPL"), px = 2, file = "reload"), "2026-08-11")
      assert(reload.rowParity && reload.factRows === 2, reload.toString)
      assert(pipe.dimSecurity(spark).count() === 3 && pipe.dimDate(spark).count() === 2)
    } finally {
      logger.removeAppender(appender)
      appender.stop()
    }
    assert(!warned.asScala.exists(_.contains("All paths were ignored")), warned.asScala.mkString("\n"))
  }

  test("history independence: day 40 launches the jobs and listings of day 5") {
    val bronze = TestSpark.tmpDir("bronze8")
    val pipe = new EodPipeline(TestSpark.tmpDir("wh8"), minTickers = 1)
    val dates = (0 until 40).map(d => java.time.LocalDate.parse("2026-01-01").plusDays(d.toLong).toString)
    // every day adds one symbol, so every day commits both dims
    def run(i: Int): Unit = pipe.runDate(spark,
      day(bronze, dates(i), Seq("AAPL", f"S$i%02d"), px = i + 1), dates(i))
    val perDay = dates.indices.map { i =>
      if (i == 4 || i == 39) Some(jobsOf(run(i))) else { run(i); None }
    }
    val (day5, day40) = (perDay(4).get, perDay(39).get)
    def listings(js: Seq[Job]) = js.count(_.description.startsWith("Listing leaf files"))
    assert(day40.size === day5.size, s"day 5: $day5\nday 40: $day40")
    assert(listings(day40) === listings(day5))
    assert(day40.size === NewDayJobs)
    val fs = new Path(pipe.dimSecurityPath).getFileSystem(spark.sparkContext.hadoopConfiguration)
    for (dir <- Seq(pipe.dimSecurityPath, pipe.dimDatePath))
      assert(GraftMeta.dataFiles(fs, new Path(VersionedTable.liveDir(spark, dir))).size === 1,
        s"$dir: the live version is one data file")
    assert(pipe.dimSecurity(spark).count() === 41 && pipe.dimDate(spark).count() === 40)
  }

  test("crash between the CORE and dim commits: a rerun without the new symbol converges") {
    val (d1, d2) = ("2026-08-10", "2026-08-11")
    val bronze = TestSpark.tmpDir("bronze9")
    val clean = new EodPipeline(TestSpark.tmpDir("wh9a"), minTickers = 1)
    clean.runDate(spark, day(bronze, d1, Seq("AAPL", "MSFT")), d1)
    clean.runDate(spark, day(bronze, d2, Seq("AAPL", "NVDA", "MSFT")), d2)

    val pipe = new EodPipeline(TestSpark.tmpDir("wh9b"), minTickers = 1)
    pipe.runDate(spark, day(bronze, d1, Seq("AAPL", "MSFT")), d1)
    val (sec1, date1) = versions(pipe)
    pipe.runDate(spark, day(bronze, d2, Seq("AAPL", "NVDA", "MSFT")), d2)
    // the crash instant: CORE holds day 2 (NVDA included), neither dim
    // version of day 2 was published and FACT was never written
    val fs = new Path(pipe.factPath).getFileSystem(spark.sparkContext.hadoopConfiguration)
    for ((dir, v) <- Seq(pipe.dimSecurityPath -> sec1.get, pipe.dimDatePath -> date1.get)) {
      val out = fs.create(new Path(dir, "_ptr"), true)
      try out.write(f"$v%08d".getBytes(UTF_8)) finally out.close()
    }
    fs.delete(new Path(s"${pipe.factPath}/trade_date=$d2"), true)
    assert(!dimKeys(pipe).exists(_._2 == "NVDA"))

    val r = pipe.runDate(spark,
      day(bronze, d2, Seq("AAPL", "MSFT"), px = 2, file = "rerun"), d2)
    assert(r.rowParity && r.coreRows === 3 && r.factRows === 3, r.toString)
    assert(dimKeys(pipe) === dimKeys(clean))
    assert(dimKeys(pipe).contains((3L, "NVDA")))
    val nvda = spark.read.parquet(pipe.factPath)
      .filter($"trade_date" === d2 && $"security_id" === 3L).count()
    assert(nvda === 1L, "NVDA's FACT row joins through its key")
    assert(pipe.dimDate(spark).select("date_sk").as[Int].collect().sorted === Array(20260810, 20260811))
  }

  test("NULL-key reloads: every load's NULL symbol is kept, a blank symbol is one key") {
    val bronze = TestSpark.tmpDir("bronze14")
    val pipe = new EodPipeline(TestSpark.tmpDir("wh14"), minTickers = 1)
    val date = "2026-08-10"
    val loads = (1 to 3).map { i =>
      val r = pipe.runDate(spark, writeCsv(bronze, s"$date-$i", Seq(
        s"$date,AAPL,$i,$i,$i,$i,100", s"$date,,$i,$i,$i,$i,100", s"$date,  ,$i,$i,$i,$i,100")), date)
      val symbols = spark.read.parquet(s"${pipe.corePath}/trade_date=$date")
        .select("symbol").as[Option[String]].collect().toSeq
      ((r.rawRows, r.estInserts, r.estUpdates, r.coreRows, r.factRows, r.rowParity),
        symbols.count(_.isEmpty), symbols.count(_.contains("")))
    }
    assert(loads.map(_._1) === Seq((3L, 3L, 0L, 3L, 2L, false), (3L, 1L, 2L, 4L, 2L, false),
      (3L, 1L, 2L, 5L, 2L, false)))
    assert(loads.map(_._2) === Seq(1, 2, 3), "NULL-symbol rows in CORE after each load")
    assert(loads.map(_._3) === Seq(1, 1, 1), "'' rows in CORE after each load")
    assert(dimKeys(pipe) === Seq((1L, ""), (2L, "AAPL")))
  }

  test("a swap that crashed between its renames is healed before a reload counts it") {
    val bronze = TestSpark.tmpDir("bronze15")
    val pipe = new EodPipeline(TestSpark.tmpDir("wh15"), minTickers = 1)
    val date = "2026-08-10"
    def load(i: Int) = pipe.runDate(spark, writeCsv(bronze, s"$date-$i", Seq(
      s"$date,AAPL,$i,$i,$i,$i,100", s"$date,,$i,$i,$i,$i,100")), date)
    load(1)
    // the crash instant: the live CORE partition is retired, its
    // replacement not yet renamed into place
    val part = new Path(s"${pipe.corePath}/trade_date=$date")
    val fs = part.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val retired = new Path(part.getParent, s".${part.getName}.old")
    val stage = new Path(part.getParent, s".${part.getName}.stage")
    assert(fs.rename(part, retired))
    fs.mkdirs(stage) // the half-staged next partition
    val r = load(2)
    assert((r.estInserts, r.estUpdates, r.coreRows) === ((1L, 1L, 3L)),
      s"AAPL matched, the first load's NULL-symbol row carried: $r")
    assert(!fs.exists(retired) && !fs.exists(stage), "the reload leaves no sibling behind")
  }

  test("surrogate keys follow Spark's binary UTF-8 order, as SurrogateKeys.assign does") {
    // UTF-16 orders U+D83D (the high surrogate of U+1F600/U+1F601) below
    // U+FF21 and U+FFFD; UTF-8 orders both above them
    val (fullA, grin, beam, repl) = ("\uFF21", "\uD83D\uDE00", "\uD83D\uDE01", "\uFFFD")
    val bronze = TestSpark.tmpDir("bronze10")
    val pipe = new EodPipeline(TestSpark.tmpDir("wh10"), minTickers = 1)
    def assigned(delta: Seq[String], max: Long) =
      SurrogateKeys.assign(delta.toDF("symbol"), "security_id", max, Seq("symbol"))
        .as[(String, Long)].collect().map(_.swap).sortBy(_._1).toSeq
    pipe.runDate(spark, day(bronze, "2026-08-10", Seq(grin, "ZZZ", fullA)), "2026-08-10")
    val first = assigned(Seq(grin, "ZZZ", fullA), 0L)
    assert(first.map(_._2) === Seq("ZZZ", fullA, grin), "the reference order is UTF-8's")
    assert(dimKeys(pipe) === first)
    pipe.runDate(spark, day(bronze, "2026-08-11", Seq(beam, "ZZZ", repl)), "2026-08-11")
    assert(dimKeys(pipe) === first ++ assigned(Seq(beam, repl), 3L))
  }

  test("upgrade: dims written by the Spark path continue on the driver path") {
    val bronze = TestSpark.tmpDir("bronze11")
    val pipe = new EodPipeline(TestSpark.tmpDir("wh11"), minTickers = 1)
    VersionedTable.write(spark.createDataFrame(
      java.util.List.of(org.apache.spark.sql.Row(1L, "AAPL"), org.apache.spark.sql.Row(2L, "MSFT")),
      Schemas.dimSecurity).repartition(2), pipe.dimSecurityPath)
    VersionedTable.write(DateDim.fromDates(Seq("2026-08-10").toDF("d"), $"d"), pipe.dimDatePath)
    val seeded = versions(pipe)

    pipe.runDate(spark, day(bronze, "2026-08-10", Seq("MSFT", "AAPL")), "2026-08-10")
    assert(versions(pipe) === seeded, "known symbols on a known date commit nothing")
    val r = pipe.runDate(spark, day(bronze, "2026-08-11", Seq("AAPL", "GOOG")), "2026-08-11")
    assert(r.rowParity && r.factRows === 2)
    assert(dimKeys(pipe) === Seq((1L, "AAPL"), (2L, "MSFT"), (3L, "GOOG")))
    assert(pipe.dimDate(spark).groupBy("date_sk").count().as[(Int, Long)].collect().sorted
      === Array((20260810, 1L), (20260811, 1L)))
  }

  test("DIM_DATE rows equal DateDim.fromDates across leap day and ISO week 53") {
    val dates = Seq("2020-12-31", "2021-01-01", "2021-01-03", "2021-01-04",
      "2024-02-28", "2024-02-29", "2024-03-01")
    val bronze = TestSpark.tmpDir("bronze12")
    val pipe = new EodPipeline(TestSpark.tmpDir("wh12"), minTickers = 1)
    dates.reverse.foreach(d => pipe.runDate(spark, day(bronze, d, Seq("AAPL")), d))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select(Schemas.dimDate.fieldNames.map(col).toIndexedSeq: _*).orderBy("date_sk").collect().toSeq
    val expected = rows(DateDim.fromDates(dates.toDF("d"), $"d"))
    assert(rows(pipe.dimDate(spark)) === expected)
    assert(pipe.dimDate(spark).schema === Schemas.dimDate)
    assert(expected.map(r => (r.getAs[Int]("date_sk"), r.getAs[Int]("week_of_year"))).take(4) ===
      Seq((20201231, 53), (20210101, 53), (20210103, 53), (20210104, 1)))
  }

  /** The Spark jobs of one day's run, pinned exactly so that a stage which
    * starts launching jobs again fails here. A new day: the RAW write, the
    * CORE dedup exchange and write, and the FACT broadcast of DIM_SECURITY
    * and write. A reload runs the same jobs: its writes carry the old
    * partition's NULL-key rows in the write job, with no merge exchange.
    */
  private val NewDayJobs = 5
  private val ReloadJobs = 5
}
