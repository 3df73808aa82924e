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

  test("snapshotWrite swaps atomically and survives self-read") {
    val path = TestSpark.tmpDir("snap") + "/t"
    Seq((1L, "a")).toDF("k", "v").write.parquet(path)
    val current = spark.read.parquet(path)
    val merged = Upsert.merge(current, Seq((1L, "a2")).toDF("k", "v"), Seq("k"))
    Upsert.snapshotWrite(merged, path) // merged lazily reads `path` itself
    assert(spark.read.parquet(path).as[(Long, String)].collect() === Array((1L, "a2")))
  }

  test("snapshotWrite staging is invisible to partition discovery and self-healing") {
    // partitioned table root: a crash-leftover staging dir must not be parsed
    // as a partition value on full-table reads, and must be swept on rerun
    val root = TestSpark.tmpDir("snapstage") + "/t"
    Seq((1L, "2024-01-15", "a")).toDF("k", "d", "v")
      .write.partitionBy("d").parquet(root)
    val part = s"$root/d=2024-01-16"
    Upsert.snapshotWrite(Seq((2L, "b")).toDF("k", "v"), part)
    // simulate a crash between write and rename on a later run
    val stale = new org.apache.hadoop.fs.Path(s"$root/.d=2024-01-16.stage")
    val fs = stale.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(stale)
    assert(spark.read.parquet(root).count() === 2,
      "dot-prefixed staging dir ignored by partition discovery")
    Upsert.snapshotWrite(Seq((3L, "c")).toDF("k", "v"), part)
    assert(!fs.exists(stale), "stale staging swept before writing")
    assert(spark.read.parquet(root).count() === 2)
  }

  test("snapshot swap crash window: writer killed between retire and go-live loses nothing") {
    // round-2 verdict: the old delete-then-rename swap could lose the table.
    // Reproduce the worst crash instant of the NEW two-rename protocol —
    // live already renamed aside, replacement not yet in place — and prove
    // both snapshots still exist and recovery restores the live one.
    val parent = TestSpark.tmpDir("snapcrash")
    val path = s"$parent/t"
    Seq((1L, "v1")).toDF("k", "v").write.parquet(path)
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.rename(new org.apache.hadoop.fs.Path(path),
      new org.apache.hadoop.fs.Path(parent, ".t.old")), "simulate rename-out, then crash")
    fs.mkdirs(new org.apache.hadoop.fs.Path(parent, ".t.stage")) // half-staged next
    // the complete retired snapshot is still on disk; recovery restores it
    assert(Upsert.recoverSnapshot(fs, new org.apache.hadoop.fs.Path(path)))
    spark.catalog.refreshByPath(path)
    assert(spark.read.parquet(path).as[(Long, String)].collect() === Array((1L, "v1")),
      "no data loss at the crash instant")
    // and the next write sweeps the stale staging dir and completes cleanly
    Upsert.snapshotWrite(Seq((1L, "v2")).toDF("k", "v"), path)
    assert(spark.read.parquet(path).as[(Long, String)].collect() === Array((1L, "v2")))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(parent, ".t.old")))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(parent, ".t.stage")))
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
