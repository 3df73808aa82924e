package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.streaming.EventStream

/** §2.9: AvailableNow file-stream equivalence with batch, and the
  * exactly-once foreachBatch upsert sink.
  */
class StreamingSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("AvailableNow windowed aggregation matches the batch plan") {
    val dir = TestSpark.tmpDir("stream-in")
    val events = Tables.load(spark, "/root/testdata/sf0.001", "events")
    // land as two files (two "days" of bronze arrivals)
    events.filter(to_date($"ts") < "2024-01-15").write.parquet(s"$dir/batch1")
    events.filter(to_date($"ts") >= "2024-01-15").write.parquet(s"$dir/batch2")
    val schema = events.schema
    val stream = EventStream.fileSource(spark, s"$dir/*", schema)
    // complete mode: append would hold back windows not yet past the
    // watermark at end-of-stream (they stay in state, by design)
    val got = EventStream.runAvailableNow(
      EventStream.dailyCounts(stream), "daily_counts_test", "complete")
      .select($"window_day", $"event_type", $"n_events")
    val want = events
      .groupBy(to_date($"ts").as("window_day"), upper(trim($"event_type")).as("event_type"))
      .agg(count(lit(1)).as("n_events"))
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
      "streaming AvailableNow == batch aggregation")
  }

  test("watermarked streaming dedup: one row per key, equal to batch distinct") {
    val dir = TestSpark.tmpDir("stream-dedup-in")
    val events = Tables.load(spark, "/root/testdata/sf0.001", "events")
      .select($"event_id", $"ts", $"user_id", $"value")
    // two arrivals; the second RE-DELIVERS part of the first (same event_ids)
    events.write.parquet(s"$dir/f1")
    events.filter($"event_id" % 3 === 0).write.parquet(s"$dir/f2")
    val stream = EventStream.fileSource(spark, s"$dir/*", events.schema)
    val got = EventStream.runAvailableNow(
      EventStream.dedupWithinWatermark(stream, Seq("event_id"), delay = "30 days"),
      "dedup_wm_test")
    assert(got.count() === events.count(), "each duplicated id kept exactly once")
    assert(got.groupBy("event_id").count().filter($"count" > 1).isEmpty)
  }

  test("stream-stream interval join equals the batch range join") {
    val dir = TestSpark.tmpDir("stream-ij")
    val events = Tables.load(spark, "/root/testdata/sf0.001", "events")
    val errors = events.filter($"event_type" === "error")
      .select($"user_id", $"ts", $"event_id")
    val clicks = events.filter($"event_type" === "click")
      .select($"user_id", $"ts".as("click_ts"))
    errors.write.parquet(s"$dir/errors")
    clicks.write.parquet(s"$dir/clicks")

    val got = EventStream.runAvailableNow(
      EventStream.intervalJoin(
        EventStream.fileSource(spark, s"$dir/errors", errors.schema),
        EventStream.fileSource(spark, s"$dir/clicks", clicks.schema),
        Seq("user_id"), "ts", "click_ts",
        lowerUs = -600000000L, upperUs = 0L, delay = "30 days"),
      "interval_join_test")
    val want = graft.ops.RangeJoin.timeWindow(errors, clicks, Seq("user_id"),
      "ts", "click_ts", lowerUs = -600000000L, upperUs = 0L)
      .select(got.columns.map(col).toIndexedSeq: _*)
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
      "streaming interval join == batch bucketized range join")
    assert(got.count() > 0, "fixture produces matches")
  }

  test("committed sink: stream killed and replayed adds no version (exactly-once commits)") {
    import graft.ops.VersionedTable
    val in = TestSpark.tmpDir("stream-eo-in")
    val table = TestSpark.tmpDir("stream-eo") + "/t"
    val events = Tables.load(spark, "/root/testdata/sf0.001", "events")
      .select($"event_id", $"ts", $"user_id", $"event_type")
    events.write.parquet(s"$in/f1")
    events.limit(200).write.parquet(s"$in/f2") // re-delivered subset
    val schema = events.schema

    def runOnce(checkpoint: String): Unit =
      EventStream.committedUpsertSink(
        EventStream.fileSource(spark, s"$in/*", schema, maxFilesPerTrigger = Some(1)),
        table, checkpoint, Seq("event_id"), "ts", appId = "eo-spec")
        .awaitTermination()

    runOnce(TestSpark.tmpDir("eo-ck1"))
    val v1 = VersionedTable.currentVersion(spark, table).get
    val data1 = VersionedTable.read(spark, table).collect().toSet
    assert(v1 >= 2L, "maxFilesPerTrigger=1 over 2 files must commit 2 batches")
    // the stream "dies" (checkpoint lost outright — the worst restart) and
    // every batch is re-delivered under a fresh lineage: the commit log must
    // swallow all of it without a single new version
    runOnce(TestSpark.tmpDir("eo-ck2"))
    assert(VersionedTable.currentVersion(spark, table).get === v1,
      "replayed batches must be table-level no-ops")
    assert(VersionedTable.read(spark, table).collect().toSet === data1)
    val hist = VersionedTable.txnHistory(spark, table, "eo-spec").flatMap(_._2)
    assert(hist === hist.distinct, s"version history holds each batch at most once: $hist")
  }
}
