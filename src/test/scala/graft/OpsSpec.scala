package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.ops._

/** W1 dedup, J5-J7 merge decomposition, surrogate keys, D1-D10 calendar. */
class OpsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("W1: latest record wins with (_ingest_ts, _src_file) tiebreak (merge_core.sql:13-16)") {
    val df = Seq(
      ("AAPL", "2026-08-11", "2026-08-11 01:00:00", "f1", 1.0),
      ("AAPL", "2026-08-11", "2026-08-11 02:00:00", "f2", 2.0), // later ts wins
      ("MSFT", "2026-08-11", "2026-08-11 01:00:00", "f1", 3.0),
      ("MSFT", "2026-08-11", "2026-08-11 01:00:00", "f2", 4.0)  // same ts, f2 wins
    ).toDF("symbol", "d", "ts", "src", "close")
    val out = Dedup.latestBy(df, Seq($"symbol", $"d"), Seq($"ts", $"src"))
    assert(out.count() === 2)
    assert(out.filter($"symbol" === "AAPL").head().getDouble(4) === 2.0)
    assert(out.filter($"symbol" === "MSFT").head().getDouble(4) === 4.0)
  }

  test("W1 idempotence: dedup twice == dedup once") {
    val df = Tables.load(spark, "/root/testdata/sf0.001", "events")
    val once = Dedup.latestBy(df, Seq($"user_id", $"event_type"), Seq($"ts", $"event_id"))
    val twice = Dedup.latestBy(once, Seq($"user_id", $"event_type"), Seq($"ts", $"event_id"))
    assert(once.exceptAll(twice).isEmpty && twice.exceptAll(once).isEmpty)
  }

  test("J5: merge updates matched keys, inserts new, keeps unmatched") {
    val target = Seq((1L, "a", 10.0), (2L, "b", 20.0)).toDF("k", "name", "v")
    val source = Seq((2L, "b2", 21.0), (3L, "c", 30.0)).toDF("k", "name", "v")
    val out = Upsert.merge(target, source, Seq("k")).orderBy("k")
      .as[(Long, String, Double)].collect()
    assert(out === Array((1L, "a", 10.0), (2L, "b2", 21.0), (3L, "c", 30.0)))
  }

  test("J5 idempotence: merging the same source twice is a no-op") {
    val target = Seq((1L, 10.0), (2L, 20.0)).toDF("k", "v")
    val source = Seq((2L, 21.0), (3L, 30.0)).toDF("k", "v")
    val once = Upsert.merge(target, source, Seq("k"))
    val twice = Upsert.merge(once, source, Seq("k"))
    assert(once.exceptAll(twice).isEmpty && twice.exceptAll(once).isEmpty)
  }

  test("applyCdc: latest change per key wins; D deletes, I/U upsert, replays collapse") {
    val target = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "name")
    val changes = Seq(
      (2L, "b-stale", "U", 1), (2L, "b2", "U", 2), // superseded update loses
      (3L, "c", "D", 2), (3L, "c", "D", 2),        // delete, delivered twice
      (4L, "d", "I", 1),                           // plain insert
      (5L, "ghost", "D", 1)                        // delete of an absent key: no-op
    ).toDF("k", "name", "op", "seq")
    val out = Upsert.applyCdc(target, changes, Seq("k")).orderBy("k")
      .as[(Long, String)].collect()
    assert(out === Array((1L, "a"), (2L, "b2"), (4L, "d")))
    // idempotence: re-applying the same compacted feed changes nothing
    val again = Upsert.applyCdc(
      Upsert.applyCdc(target, changes, Seq("k")), changes, Seq("k"))
    assert(again.orderBy("k").as[(Long, String)].collect()
      === Array((1L, "a"), (2L, "b2"), (4L, "d")))
  }

  test("the partition swap is the pipeline's own: no table-layer retire, heal or rename") {
    import java.nio.file.Files
    val sources = TestSpark.sourceFiles(Seq("src/main/scala", "src/main/java"), Seq(".scala", ".java"))
    val Def = """\bdef\s+(\w+)""".r
    // (file, enclosing def) of every match of `re`
    def sitesOf(re: scala.util.matching.Regex): Seq[String] = sources.flatMap { p =>
      val text = Files.readString(p)
      re.findAllMatchIn(text).map { m =>
        val enclosing = Def.findAllMatchIn(text.substring(0, m.start)).map(_.group(1)).toSeq.lastOption
        s"${p.getFileName}:${enclosing.getOrElse("")}"
      }
    }.distinct.sorted
    // the retired `.old` sibling is named in one place, and the heal that
    // renames it back runs once per write, ahead of the partition's read
    assert(sitesOf(""""old"|\.old"""".r) === Seq("EodPipeline.scala:healSwap",
      "EodPipeline.scala:swapPartition"))
    assert(sitesOf("""(?<!def )healSwap\(""".r) === Seq("EodPipeline.scala:upsertDatePartition"))
    assert(sitesOf("""(?<!def )swapPartition\(""".r) === Seq("EodPipeline.scala:upsertDatePartition"))
    assert(sitesOf("""\bsnapshotWrite\b|\brecoverSnapshot\b|Layout\.compact\b""".r) === Nil)
    for (name <- Seq("Upsert.scala", "Layout.scala")) {
      val text = Files.readString(sources.find(_.getFileName.toString == name).get)
      assert(!text.contains("getFileSystem") && !text.contains("rename("),
        s"$name holds filesystem code")
    }
    assert(!Files.readString(sources.find(_.getFileName.toString == "Upsert.scala").get)
      .contains("import org.apache.hadoop"))
  }

  test("snapshotWrite staging is invisible to partition discovery and self-healing") {
    // the pipeline's partition commit: a reload that crashed between its
    // stage write and its go-live rename leaves a complete copy of each
    // partition in its `.stage` sibling; a full-table read must not parse
    // it as a partition value, and the next reload must sweep it
    val bronze = TestSpark.tmpDir("snapstage")
    val pipe = new graft.pipeline.EodPipeline(TestSpark.tmpDir("snapstage-wh"), minTickers = 1)
    val date = "2026-08-10"
    val csv = new java.io.File(bronze, s"eod_prices_$date.csv").toString
    java.nio.file.Files.write(java.nio.file.Paths.get(csv), java.util.Arrays.asList(
      "trade_date,symbol,open,high,low,close,volume",
      s"$date,AAPL,1,1,1,1,100", s"$date,MSFT,1,1,1,1,100"))
    pipe.runDate(spark, csv, date)
    val tables = Seq(pipe.corePath, pipe.factPath)
    val fs = new org.apache.hadoop.fs.Path(pipe.corePath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val stages = tables.map { t =>
      val stage = new org.apache.hadoop.fs.Path(s"$t/.trade_date=$date.stage")
      spark.read.parquet(s"$t/trade_date=$date").write.parquet(stage.toString)
      stage
    }
    def rootRows() = tables.map(spark.read.parquet(_).count())
    assert(rootRows() === Seq(2L, 2L), "dot-prefixed staging dir ignored by partition discovery")
    val r = pipe.runDate(spark, csv, date)
    assert((r.coreRows, r.factRows) === ((2L, 2L)))
    assert(stages.forall(!fs.exists(_)), "stale staging swept by the reload")
    assert(rootRows() === Seq(2L, 2L))
  }

  test("surrogate keys: deterministic, dense, continues from max") {
    val d1 = Seq("b", "a", "c").toDF("symbol")
    val k1 = SurrogateKeys.assign(d1, "id", 0L, Seq("symbol"))
      .orderBy("id").as[(String, Long)].collect()
    assert(k1 === Array(("a", 1L), ("b", 2L), ("c", 3L)))
    val k2 = SurrogateKeys.assign(Seq("e", "d").toDF("symbol"), "id",
      3L, Seq("symbol")).orderBy("id").as[(String, Long)].collect()
    assert(k2 === Array(("d", 4L), ("e", 5L)))
  }

  test("D1-D10 calendar edges: year boundary, weekend flag, Sunday=0 encoding") {
    val df = Seq("2023-12-31", "2024-01-01", "2026-08-15", "2026-08-16", "2026-02-28")
      .toDF("d").select(to_date($"d").as("d"))
    val dim = DateDim.fromDates(df, $"d").orderBy("cal_date").collect()
    val sunday = dim(0) // 2023-12-31 is a Sunday
    assert(sunday.getAs[Int]("date_sk") === 20231231)
    assert(sunday.getAs[Int]("day_of_week") === 0, "Sunday=0 (merge_dim_date.sql:16)")
    assert(sunday.getAs[Boolean]("is_weekend"))
    assert(sunday.getAs[Int]("week_of_year") === 52, "ISO week of 2023-12-31")
    val monday = dim(1) // 2024-01-01
    assert(monday.getAs[Int]("year_num") === 2024 && monday.getAs[Int]("quarter_num") === 1)
    assert(monday.getAs[Int]("day_of_week") === 1 && !monday.getAs[Boolean]("is_weekend"))
    assert(monday.getAs[Int]("week_of_year") === 1)
    assert(monday.getAs[String]("month_name") === "Jan")
    assert(monday.getAs[String]("day_name") === "Mon")
    val saturday = dim.find(_.getAs[Int]("date_sk") == 20260815).get
    assert(saturday.getAs[Int]("day_of_week") === 6 && saturday.getAs[Boolean]("is_weekend"))
  }

  test("V4/V5 quality metric frames") {
    val raw = Seq((1L, "a"), (1L, "a"), (2L, "b")).toDF("k", "d")
    val existing = Seq((1L, "a")).toDF("k", "d")
    val m = Quality.premergeMetrics(raw, existing, Seq("k", "d")).head()
    assert(m.getAs[Long]("raw_rows") === 3)
    assert(m.getAs[Long]("key_rows") === 2)
    assert(m.getAs[Long]("est_inserts") === 1 && m.getAs[Long]("est_updates") === 1)
    val p = Quality.postmergeParity(raw.distinct(), existing).head()
    assert(p.getAs[Long]("core_rows") === 2 && p.getAs[Long]("fact_rows") === 1
      && !p.getAs[Boolean]("row_parity"))
  }
}
