package graft.source

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.ops.{ActionLog, ChangeFeed}

/** Admission-control pins for the streaming sources: AvailableNow must
  * drain in admission-sized batches (without SupportsTriggerAvailableNow
  * Spark silently ignores every rate knob — the round-8 find), and the
  * log stream's file-position offsets must resume mid-version and parse
  * legacy whole-version checkpoints.
  */
class StreamAdmissionSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  /** The bytes of version `v`'s change-set data files. */
  private def cdfBytes(t: String, v: Long): Long = {
    val dir = new org.apache.hadoop.fs.Path(graft.ops.VersionedTable.verDir(t, v), "_cdf")
    GraftMeta.dataFiles(dir.getFileSystem(spark.sparkContext.hadoopConfiguration), dir)
      .map(_.getLen).sum
  }

  private def drainCounts(df: org.apache.spark.sql.DataFrame,
      out: String, cp: String): Seq[String] = {
    val fs = new org.apache.hadoop.fs.Path(out)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val q = df.writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
        b.write.mode("overwrite").parquet(s"$out/b=$id"); ()
      }
      .option("checkpointLocation", cp)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    fs.listStatus(new org.apache.hadoop.fs.Path(out))
      .map(_.getPath.getName).filter(_.startsWith("b=")).sorted.toSeq
  }

  test("cdf stream: AvailableNow drains one version per trigger") {
    val root = TestSpark.tmpDir("admcdf")
    val t = s"$root/t"
    (1 to 3).foreach(i =>
      ChangeFeed.commit(Seq((i.toLong, i.toLong)).toDF("k", "v"), t, Seq("k")))
    val batches = drainCounts(
      CdfStream.read(spark, t, startingVersion = Some(0L),
        maxVersionsPerTrigger = Some(1)),
      s"$root/out", s"$root/cp")
    assert(batches == Seq("b=0", "b=1", "b=2"),
      s"three versions at 1/trigger must be three batches, got $batches")
  }

  test("log stream: AvailableNow drains maxVersionsPerTrigger at a time") {
    val root = TestSpark.tmpDir("admlog")
    val t = s"$root/t"
    (1 to 4).foreach(i =>
      ActionLog.append(Seq(i.toLong).toDF("k").coalesce(1), t))
    val batches = drainCounts(
      LogStream.read(spark, t, startingVersion = Some(0L),
        maxVersionsPerTrigger = Some(2)),
      s"$root/out", s"$root/cp")
    assert(batches == Seq("b=0", "b=1"),
      s"four versions at 2/trigger must be two batches, got $batches")
  }

  test("cdf stream: maxBytesPerTrigger admits whole change-sets to budget") {
    val root = TestSpark.tmpDir("admcdfb")
    val t = s"$root/t"
    // v1/v2 tiny, v3 fat (its change-set alone exceeds the budget)
    ChangeFeed.commit(Seq((1L, 1L)).toDF("k", "v"), t, Seq("k"))
    ChangeFeed.commit(Seq((1L, 1L), (2L, 2L)).toDF("k", "v"), t, Seq("k"))
    ChangeFeed.commit((1L to 500L).map(i => (i, i)).toDF("k", "v"),
      t, Seq("k"))
    // budget fits v1+v2 together but not v3 with them; v3 alone exceeds
    // the budget and must STILL arrive (the progress guarantee)
    val budget = cdfBytes(t, 1L) + cdfBytes(t, 2L)
    assert(cdfBytes(t, 3L) > budget, "the fat commit must exceed the budget")
    val batches = drainCounts(
      CdfStream.read(spark, t, startingVersion = Some(0L),
        maxBytesPerTrigger = Some(budget)),
      s"$root/out", s"$root/cp")
    assert(batches == Seq("b=0", "b=1"),
      s"v1+v2 then the oversized v3 alone = two batches, got $batches")
    val got = spark.read.option("basePath", s"$root/out")
      .parquet(s"$root/out")
    assert(got.filter(col(ChangeFeed.CommitVersion) === 3L)
      .select("b").distinct().count() == 1,
      "the over-budget change-set must arrive whole, in its own trigger")
  }

  test("cdf stream: the byte budget counts change-set data files only") {
    val root = TestSpark.tmpDir("admcdfd")
    val t = s"$root/t"
    ChangeFeed.commit(Seq((1L, 1L)).toDF("k", "v"), t, Seq("k"))
    ChangeFeed.commit(Seq((1L, 2L), (2L, 2L)).toDF("k", "v"), t, Seq("k"))
    // a committer that writes a summary into its `_SUCCESS` marker (as the
    // S3A committers do): the marker is not change data
    val fs = new org.apache.hadoop.fs.Path(t)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    Seq(1L, 2L).foreach { v =>
      graft.ops.MetaFile.write(fs, new org.apache.hadoop.fs.Path(
        graft.ops.VersionedTable.verDir(t, v), "_cdf/_SUCCESS"), """{"committer":"summary"}""" * 8)
    }
    // a budget of exactly both versions' data bytes admits both at once
    val batches = drainCounts(
      CdfStream.read(spark, t, startingVersion = Some(0L),
        maxBytesPerTrigger = Some(cdfBytes(t, 1L) + cdfBytes(t, 2L))),
      s"$root/out", s"$root/cp")
    assert(batches == Seq("b=0"),
      s"v1+v2 fit the budget exactly = one batch, got $batches")
  }

  test("file-position offsets: legacy parse and mid-version resume") {
    val root = TestSpark.tmpDir("fpoff")
    val t = s"$root/t"
    ActionLog.append(Seq(1L, 2L).toDF("k").coalesce(1), t) // v1: 1 file
    ActionLog.append(Seq(3L, 4L, 5L).toDF("k").repartition(3), t) // v2: 3 files
    val stream = new LogMicroBatchStream(t, LogStream.changeSchema(spark, t),
      startingVersion = Some(0L), maxVersionsPerTrigger = None)
    // legacy whole-version checkpoint: bare long = fully consumed
    assert(stream.deserializeOffset("1") == FilePosOffset(1L, Int.MaxValue))
    assert(stream.deserializeOffset("""{"v":2,"i":1}""") == FilePosOffset(2L, 1))
    // a mid-version start plans exactly the unconsumed tail of v2
    val parts = stream.planInputPartitions(
      FilePosOffset(2L, 1), FilePosOffset(2L, 3))
    assert(parts.length == 2,
      s"resume at (2,1) owes files 1 and 2 of v2, got ${parts.length}")
    // and a legacy start owes nothing of its own version
    assert(stream.planInputPartitions(
      FilePosOffset(1L, Int.MaxValue), FilePosOffset(2L, 3)).length == 3)
  }
}
