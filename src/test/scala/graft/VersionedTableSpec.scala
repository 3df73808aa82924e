package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.ops.VersionedTable
import org.apache.hadoop.fs.Path

/** The session's `file:` filesystem, recording every path it lists. */
final class ListRecordingFs extends graft.io.LocalFs {
  override def listStatus(p: Path): Array[org.apache.hadoop.fs.FileStatus] = {
    ListRecordingFs.listed.add(p.toUri.getPath)
    super.listStatus(p)
  }
}
object ListRecordingFs {
  val listed = new java.util.concurrent.ConcurrentLinkedQueue[String]
}

/** Crash-safety contract of the versioned-snapshot table: every simulated
  * writer death leaves readers a complete snapshot, and the next write heals
  * the debris. The writer is "killed" by reproducing the exact on-disk state
  * each crash instant leaves behind.
  */
class VersionedTableSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def fs(dir: String) =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  test("write/read round trip: versions accumulate, live version is immutable input") {
    val dir = TestSpark.tmpDir("vt1") + "/t"
    assert(!VersionedTable.exists(spark, dir))
    assert(VersionedTable.write(Seq((1L, "a")).toDF("k", "v"), dir) === 1L)
    // read-merge-write with NO checkpoint: the input lazily reads version 1,
    // which stays on disk untouched while version 2 is staged
    val merged = graft.ops.Upsert.merge(
      VersionedTable.read(spark, dir), Seq((1L, "a2"), (2L, "b")).toDF("k", "v"), Seq("k"))
    assert(VersionedTable.write(merged, dir) === 2L)
    assert(VersionedTable.read(spark, dir).orderBy("k").as[(Long, String)].collect()
      === Array((1L, "a2"), (2L, "b")))
    assert(VersionedTable.currentVersion(spark, dir) === Some(2L))
  }

  test("writer killed BEFORE the pointer flip: dangling version is invisible, then swept") {
    val dir = TestSpark.tmpDir("vt2") + "/t"
    VersionedTable.write(Seq((1L, "live")).toDF("k", "v"), dir)
    // crash instant: version 2 fully staged (_SUCCESS present) but _ptr never
    // flipped — e.g. the JVM died right after the parquet commit
    Seq((9L, "zombie")).toDF("k", "v").write.parquet(s"$dir/_v-00000002")
    assert(VersionedTable.currentVersion(spark, dir) === Some(1L),
      "pointer names version 1; the unflipped stage must not be chosen")
    assert(VersionedTable.read(spark, dir).as[(Long, String)].collect()
      === Array((1L, "live")))
    // the next write sweeps the zombie and lands ITS version 2
    VersionedTable.write(Seq((2L, "next")).toDF("k", "v"), dir)
    assert(VersionedTable.read(spark, dir).as[(Long, String)].collect()
      === Array((2L, "next")))
  }

  test("writer killed MID data write (no _SUCCESS): never eligible, swept on rerun") {
    val dir = TestSpark.tmpDir("vt3") + "/t"
    VersionedTable.write(Seq((1L, "live")).toDF("k", "v"), dir)
    val half = new Path(s"$dir/_v-00000002")
    fs(dir).mkdirs(half) // dir exists, no _SUCCESS, no data — torn write
    assert(VersionedTable.currentVersion(spark, dir) === Some(1L))
    assert(VersionedTable.read(spark, dir).count() === 1)
    VersionedTable.write(Seq((2L, "next")).toDF("k", "v"), dir)
    assert(VersionedTable.currentVersion(spark, dir) === Some(2L))
    assert(VersionedTable.read(spark, dir).as[(Long, String)].collect()
      === Array((2L, "next")))
  }

  test("writer killed MID pointer flip (no _ptr): reader falls back to highest complete version") {
    val dir = TestSpark.tmpDir("vt4") + "/t"
    VersionedTable.write(Seq((1L, "v1")).toDF("k", "v"), dir)
    VersionedTable.write(Seq((2L, "v2")).toDF("k", "v"), dir)
    // crash instant inside the flip: old pointer deleted, new one not yet
    // renamed in — version 2 IS complete on disk
    fs(dir).delete(new Path(dir, "_ptr"), false)
    assert(VersionedTable.currentVersion(spark, dir) === Some(2L),
      "fallback: highest complete version")
    assert(VersionedTable.read(spark, dir).as[(Long, String)].collect()
      === Array((2L, "v2")))
    // next write repairs the pointer as a side effect
    VersionedTable.write(Seq((3L, "v3")).toDF("k", "v"), dir)
    assert(VersionedTable.currentVersion(spark, dir) === Some(3L))
  }

  test("gc keeps the newest K versions and never the live one") {
    val dir = TestSpark.tmpDir("vt5") + "/t"
    (1 to 5).foreach(i => VersionedTable.write(Seq((i.toLong, s"v$i")).toDF("k", "v"), dir))
    assert(VersionedTable.gc(spark, dir, keep = 2) === 3)
    val left = fs(dir).listStatus(new Path(dir))
      .map(_.getPath.getName).filter(_.startsWith("_v-")).sorted
    assert(left === Array("_v-00000004", "_v-00000005"))
    assert(VersionedTable.read(spark, dir).as[(Long, String)].collect()
      === Array((5L, "v5")))
  }

  test("gc counts its keep-window over COMPLETE versions only; torn dirs don't occupy slots") {
    val dir = TestSpark.tmpDir("vt6") + "/t"
    (1 to 3).foreach(i => VersionedTable.write(Seq((i.toLong, s"v$i")).toDF("k", "v"), dir))
    // a torn dir BELOW the pointer (crashed write from an older run, no _SUCCESS)
    fs(dir).mkdirs(new Path(s"$dir/_v-00000002x")) // not parseable — ignored
    val torn = new Path(s"$dir/_v-00000001")
    fs(dir).delete(new Path(torn, "_SUCCESS"), false)
    // keep=2 must retain versions 2 and 3 (the two newest COMPLETE) and sweep
    // the torn v1 rather than letting it occupy a retention slot
    VersionedTable.gc(spark, dir, keep = 2)
    val left = fs(dir).listStatus(new Path(dir))
      .map(_.getPath.getName).filter(n => n.startsWith("_v-") && !n.endsWith("x")).sorted
    assert(left === Array("_v-00000002", "_v-00000003"))
    assert(VersionedTable.readVersion(spark, dir, 2L).count() === 1)
  }

  test("writeCommitted: batch replay is a table-level no-op; txn survives plain writes and gc") {
    val dir = TestSpark.tmpDir("vt7") + "/t"
    assert(VersionedTable.writeCommitted(Seq((1L, "a")).toDF("k", "v"), dir, "app", 0L)
      === Some(1L))
    assert(VersionedTable.writeCommitted(Seq((2L, "b")).toDF("k", "v"), dir, "app", 1L)
      === Some(2L))
    // re-delivery of batch 1 (and of anything older) must not write
    assert(VersionedTable.writeCommitted(Seq((9L, "dup")).toDF("k", "v"), dir, "app", 1L).isEmpty)
    assert(VersionedTable.writeCommitted(Seq((9L, "dup")).toDF("k", "v"), dir, "app", 0L).isEmpty)
    assert(VersionedTable.currentVersion(spark, dir) === Some(2L))
    // a plain (non-streaming) write — compaction, backfill — carries the txn
    // map forward, and gc of old versions cannot lose it
    VersionedTable.write(Seq((3L, "compacted")).toDF("k", "v"), dir)
    VersionedTable.gc(spark, dir, keep = 1)
    assert(VersionedTable.lastBatchId(spark, dir, "app") === Some(1L))
    assert(VersionedTable.writeCommitted(Seq((9L, "dup")).toDF("k", "v"), dir, "app", 1L).isEmpty)
    // an OPTIMIZE is a plain commit too: bin-packing a two-small-file
    // version must carry the map, or batch 1 would be applied again
    VersionedTable.write(spark.range(3, 5, 1, numPartitions = 2)
      .selectExpr("id AS k", "'x' AS v"), dir)
    val (packed, rewritten, _) = graft.ops.Layout.binPackVersioned(spark, dir, 1L << 20)
    assert(rewritten === 2 && VersionedTable.currentVersion(spark, dir) === Some(packed))
    assert(VersionedTable.lastBatchId(spark, dir, "app") === Some(1L))
    assert(VersionedTable.writeCommitted(Seq((9L, "dup")).toDF("k", "v"), dir, "app", 1L).isEmpty)
    assert(VersionedTable.writeCommitted(Seq((4L, "c")).toDF("k", "v"), dir, "app", 2L)
      === Some(packed + 1))
    // per-app isolation: another app's batch 0 is fresh
    assert(VersionedTable.writeCommitted(Seq((5L, "d")).toDF("k", "v"), dir, "other", 0L)
      === Some(packed + 2))
    // a dynamic partition overwrite on a partitioned table the app commits
    // to (its batch 0 published with the txn, as writeCommitted does) keeps
    // the app's record the same way
    val pdir = TestSpark.tmpDir("vt7p") + "/t"
    Seq((1L, "a", 0), (2L, "b", 1)).toDF("k", "v", "p")
      .write.partitionBy("p").parquet(VersionedTable.stagedDir(pdir, 1L))
    VersionedTable.publish(spark, pdir, 1L, Map("app" -> 0L))
    val (pv, replaced, carried) = graft.ops.PartitionOverwrite.overwrite(
      Seq((3L, "c", 1)).toDF("k", "v", "p"), pdir, "p")
    assert(pv === 2L && replaced === Seq("p=1") && carried === 1)
    assert(VersionedTable.lastBatchId(spark, pdir, "app") === Some(0L))
    assert(VersionedTable.writeCommitted(
      Seq((9L, "dup", 0)).toDF("k", "v", "p"), pdir, "app", 0L).isEmpty)
  }

  test("readRows/writeRows: driver rows by name, one published file every reader sees") {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.types._
    import org.apache.spark.unsafe.types.UTF8String
    val dir = TestSpark.tmpDir("vt9") + "/t"
    val schema = StructType(Seq(StructField("k", LongType), StructField("v", StringType),
      StructField("d", DateType), StructField("b", BooleanType)))
    assert(VersionedTable.readRows(spark, dir, schema).isEmpty, "no table yet: no rows")
    // a Spark-written version: two files, columns in another order
    VersionedTable.writeCommitted(Seq(("a", 1L, true, 19000), ("b", 2L, false, 19001)).toDF("v", "k", "b", "n")
      .selectExpr("v", "k", "b", "date_from_unix_date(n) AS d").repartition(2), dir, "app", 0L)
    val live = VersionedTable.readRows(spark, dir, schema)
      .map(r => (r.getLong(0), r.getUTF8String(1).toString, r.getInt(2), r.getBoolean(3))).sortBy(_._1)
    assert(live === Seq((1L, "a", 19000, true), (2L, "b", 19001, false)))
    val rows = VersionedTable.readRows(spark, dir, schema) :+
      InternalRow(3L, UTF8String.fromString("c\uD83D\uDE00"), 19002, null)
    assert(VersionedTable.writeRows(spark, dir, schema, rows) === 2L)
    val fs0 = fs(dir)
    assert(graft.source.GraftMeta.dataFiles(fs0, new Path(VersionedTable.liveDir(spark, dir)))
      .map(_.getPath.getName) === Seq("part-00000.parquet"))
    assert(VersionedTable.lastBatchId(spark, dir, "app") === Some(0L), "the txn map is carried")
    assert(VersionedTable.commitTimestamp(spark, dir, 2L).isDefined, "the version is stamped")
    val read = VersionedTable.read(spark, dir)
    assert(read.schema.map(f => f.name -> f.dataType) === schema.map(f => f.name -> f.dataType))
    assert(read.orderBy("k").as[(Long, String, java.sql.Date, Option[Boolean])].collect().toSeq ===
      Seq((1L, "a", java.sql.Date.valueOf("2022-01-08"), Some(true)),
        (2L, "b", java.sql.Date.valueOf("2022-01-09"), Some(false)),
        (3L, "c\uD83D\uDE00", java.sql.Date.valueOf("2022-01-10"), None)))
  }

  /** How often `body` lists `dir`, with [[ListRecordingFs]] as the cached
    * `file:` filesystem while it runs.
    */
  private def listingsOf(dir: String)(body: => Unit): Int = {
    val conf = spark.sparkContext.hadoopConfiguration
    def use(impl: Class[_]): Unit = {
      conf.set("fs.file.impl", impl.getName)
      org.apache.hadoop.fs.FileSystem.getLocal(conf).close()
      assert(org.apache.hadoop.fs.FileSystem.getLocal(conf).getClass === impl)
    }
    use(classOf[ListRecordingFs])
    try {
      ListRecordingFs.listed.clear()
      body
      ListRecordingFs.listed.toArray.count(_ == new Path(dir).toUri.getPath)
    } finally use(classOf[graft.io.LocalFs])
  }

  test("a single-writer commit lists the table root once") {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.types._
    val dir = TestSpark.tmpDir("vt17") + "/t"
    val schema = StructType(Seq(StructField("k", LongType)))
    VersionedTable.writeRows(spark, dir, schema, Seq(InternalRow(1L)))
    // the dangling-version sweep lists the root; the commit stamp reads the
    // predecessor the publish has already resolved
    assert(listingsOf(dir)(VersionedTable.writeRows(spark, dir, schema,
      Seq(InternalRow(1L), InternalRow(2L)))) === 1)
    assert(VersionedTable.readRows(spark, dir, schema).map(_.getLong(0)) === Seq(1L, 2L))
    assert(VersionedTable.commitTimestamp(spark, dir, 2L).get >
      VersionedTable.commitTimestamp(spark, dir, 1L).get)
  }

  test("GraftMeta.dataFiles: hidden names are not data, a data subdir is refused") {
    import graft.source.GraftMeta
    val dir = new Path(TestSpark.tmpDir("vt10"), "t")
    val fs0 = fs(dir.toString)
    assert(GraftMeta.dataFiles(fs0, dir).isEmpty, "a missing dir holds no files")
    assert(GraftMeta.partitionDirs(fs0, dir, "p").isEmpty, "a missing dir has no partitions")
    Seq((1L, "a")).toDF("k", "v").coalesce(1).write.parquet(dir.toString) // part + _SUCCESS + .crc
    fs0.mkdirs(new Path(dir, "_sidecar"))
    fs0.mkdirs(new Path(dir, ".stage"))
    val names = GraftMeta.dataFiles(fs0, dir).map(_.getPath.getName)
    assert(names.size === 1 && names.head.startsWith("part-"), names)
    assert(GraftMeta.partitionDirs(fs0, dir, "p").isEmpty, "files are not partitions")
    Seq("p=1", "p=0", "_p=2", ".p=3", "q=4", "_day=2024-01-02").foreach(d => fs0.mkdirs(new Path(dir, d)))
    fs0.create(new Path(dir, "p=5"), true).close()
    assert(GraftMeta.partitionDirs(fs0, dir, "p").map { case (v, d) => v -> d.getName } ===
      Seq("0" -> "p=0", "1" -> "p=1"))
    // a `_`-named column's partitions are Spark's too: `=` keeps them visible
    assert(GraftMeta.partitionDirs(fs0, dir, "_day").map(_._1) === Seq("2024-01-02"))
    val e = intercept[IllegalArgumentException](GraftMeta.dataFiles(fs0, dir))
    assert(e.getMessage.contains("nested data subdirectories"))
    // a versioned root that holds bare data files is refused, not read empty
    val bare = TestSpark.tmpDir("vt10b") + "/t"
    Seq((1L, "a")).toDF("k", "v").write.parquet(bare)
    assert(intercept[IllegalArgumentException](
      VersionedTable.readRows(spark, bare, new org.apache.spark.sql.types.StructType()))
      .getMessage.contains("bare data files"))
  }

  test("writeCommitted: crash after staging (txn written, pointer unflipped) re-applies ONCE") {
    val dir = TestSpark.tmpDir("vt8") + "/t"
    VersionedTable.writeCommitted(Seq((1L, "a")).toDF("k", "v"), dir, "app", 0L)
    // crash instant: batch 1's version fully staged with its txn marker, but
    // the pointer never flipped — the JVM died between txn write and flip
    Seq((2L, "staged")).toDF("k", "v").write.parquet(s"$dir/_v-00000002")
    val out = fs(dir).create(new Path(s"$dir/_v-00000002/_txn-app"), true)
    out.write("1".getBytes("UTF-8")); out.close()
    // live table still batch 0; the re-delivered batch must apply exactly once
    assert(VersionedTable.lastBatchId(spark, dir, "app") === Some(0L))
    assert(VersionedTable.writeCommitted(Seq((2L, "b")).toDF("k", "v"), dir, "app", 1L)
      === Some(2L))
    assert(VersionedTable.read(spark, dir).as[(Long, String)].collect() === Array((2L, "b")))
    // and a second delivery of batch 1 is now a no-op
    assert(VersionedTable.writeCommitted(Seq((9L, "dup")).toDF("k", "v"), dir, "app", 1L).isEmpty)
    assert(VersionedTable.txnHistory(spark, dir, "app").flatMap(_._2) === Seq(0L, 1L))
  }

  test("data-skipping index: pruned band read is exact, conservative, and skips files") {
    import graft.ops.DataSkipping
    import org.apache.spark.sql.functions._
    val dir = TestSpark.tmpDir("vt9") + "/t"
    // 1000 keys range-clustered into 8 files; stats on k inside the version dir
    val df = spark.range(0, 1000).select(col("id").as("k"), (col("id") % 7).as("v"))
    VersionedTable.write(df.repartitionByRange(8, col("k")), dir, statsCols = Seq("k"))
    val live = VersionedTable.liveDir(spark, dir)
    assert(fs(dir).exists(new Path(live, DataSkipping.StatsDir)))
    val (pruned, selected, total) = DataSkipping.pruneBetween(
      spark, live, "k", lit(200L), lit(299L))
    assert(total === 8)
    assert(selected < total, "a one-decile band must not select every file")
    // exactness: pruned scan + residual predicate == full filter
    val got = pruned.filter(col("k").between(200, 299)).agg(
      count(lit(1)), sum(col("k"))).head()
    assert(got.getLong(0) === 100L)
    assert(got.getLong(1) === (200L to 299L).sum)
    // provably-empty band: zero files selected, empty frame with the schema
    val (none, sel0, _) = DataSkipping.pruneBetween(
      spark, live, "k", lit(5000L), lit(6000L))
    assert(sel0 === 0)
    assert(none.schema.fieldNames.toSeq === Seq("k", "v"))
    assert(none.count() === 0L)
  }

  test("data-skipping index: files with NULL stats are kept (conservative)") {
    import graft.ops.DataSkipping
    import org.apache.spark.sql.functions._
    val dir = TestSpark.tmpDir("vt10") + "/t"
    // file A: k in [0,9]; file B: all-NULL k — its min/max stats are NULL and
    // no predicate may skip it
    val a = spark.range(0, 10).select(col("id").as("k"), lit("a").as("v"))
    val b = spark.range(0, 3).select(lit(null).cast("long").as("k"), lit("b").as("v"))
    VersionedTable.write(
      a.coalesce(1).unionByName(b.coalesce(1)).repartitionByRange(2, col("v")),
      dir, statsCols = Seq("k"))
    val (pruned, selected, total) = DataSkipping.pruneBetween(
      spark, VersionedTable.liveDir(spark, dir), "k", lit(100L), lit(200L))
    assert(total === 2)
    assert(selected === 1, "the all-NULL-stats file must survive pruning")
    assert(pruned.count() === 3L)
  }

  test("data-skipping index: driver-side materialization is O(kept files)") {
    import graft.ops.DataSkipping
    import org.apache.spark.sql.functions._
    val dir = TestSpark.tmpDir("vt11") + "/t"
    val df = spark.range(0, 1000).select(col("id").as("k"), (col("id") % 7).as("v"))
    VersionedTable.write(df.repartitionByRange(8, col("k")), dir, statsCols = Seq("k"))
    val live = VersionedTable.liveDir(spark, dir)
    // a one-decile band: selectFiles must hand back ONLY the kept paths —
    // the array length IS the driver-side footprint (round-4 VERDICT: the
    // full keep/drop list must never ride to the driver)
    val (kept, total) = DataSkipping.selectFiles(
      spark, live, "k", lit(200L), lit(299L))
    assert(total === 8L)
    assert(kept.length < total, "the kept subset must be a strict subset")
    assert(kept.length >= 1)
    // the kept paths are real files that cover the band exactly
    val got = spark.read.parquet(kept.toIndexedSeq: _*)
      .filter(col("k").between(200, 299)).agg(count(lit(1))).head().getLong(0)
    assert(got === 100L)
    // provably-empty band: zero driver-side paths
    val (none, _) = DataSkipping.selectFiles(spark, live, "k", lit(5000L), lit(6000L))
    assert(none.isEmpty)
  }

  test("write-audit-publish: staged versions are invisible until published") {
    import org.apache.spark.sql.functions._
    val dir = TestSpark.tmpDir("vt13") + "/t"
    VersionedTable.write(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), dir)
    val v1 = VersionedTable.currentVersion(spark, dir).get
    val s2 = VersionedTable.stage(Seq((1L, "a2"), (2L, "b2")).toDF("k", "v"), dir)
    // the stage is addressable for audits but NOT live
    assert(spark.read.parquet(VersionedTable.stagedDir(dir, s2)).count() === 2L)
    assert(VersionedTable.currentVersion(spark, dir) === Some(v1))
    assert(VersionedTable.read(spark, dir).as[(Long, String)].collect().toSet
      === Set((1L, "a"), (2L, "b")))
    // publishing the wrong version is refused; publishing the stage flips
    intercept[IllegalArgumentException] {
      VersionedTable.publish(spark, dir, s2 + 1)
    }
    VersionedTable.publish(spark, dir, s2)
    assert(VersionedTable.currentVersion(spark, dir) === Some(s2))
    assert(VersionedTable.read(spark, dir).as[(Long, String)].collect().toSet
      === Set((1L, "a2"), (2L, "b2")))
    // the live version cannot be aborted; an aborted stage disappears
    intercept[IllegalArgumentException] {
      VersionedTable.abortStaged(spark, dir, s2)
    }
    val s3 = VersionedTable.stage(Seq((3L, "c")).toDF("k", "v"), dir)
    VersionedTable.abortStaged(spark, dir, s3)
    assert(VersionedTable.currentVersion(spark, dir) === Some(s2))
    // a fresh stage after the abort reuses the freed slot
    assert(VersionedTable.stage(Seq((4L, "d")).toDF("k", "v"), dir) === s3)
  }

  test("surgical delete: rewrites only stats-admitted files, keeps time travel") {
    import graft.ops.DataSkipping
    import org.apache.spark.sql.functions._
    val dir = TestSpark.tmpDir("vt14") + "/t"
    val df = spark.range(0, 1000).select(col("id").as("k"), (col("id") % 7).as("v"))
    VersionedTable.write(df.repartitionByRange(8, col("k")), dir, statsCols = Seq("k"))
    val v1 = VersionedTable.currentVersion(spark, dir).get
    val (v2, rewritten, total) = VersionedTable.deleteRange(
      spark, dir, "k", lit(200L), lit(299L), statsCols = Seq("k"))
    assert(v2 === v1 + 1)
    assert(rewritten < total, "a one-decile band must not rewrite every file")
    val live = VersionedTable.read(spark, dir)
    assert(live.count() === 900L)
    assert(live.filter(col("k").between(200, 299)).count() === 0L)
    // time travel: the prior version still serves all rows
    assert(VersionedTable.readVersion(spark, dir, v1).count() === 1000L)
    // stats were rebuilt for the new version: pruning still works
    val (_, sel, tot) = DataSkipping.pruneBetween(
      spark, VersionedTable.liveDir(spark, dir), "k", lit(900L), lit(999L))
    assert(sel < tot)
    // a band with provably no rows is a no-op (no new version)
    val (v3, rw3, _) = VersionedTable.deleteRange(
      spark, dir, "k", lit(5000L), lit(6000L), statsCols = Seq("k"))
    assert(v3 === v2 && rw3 === 0)
  }

  test("snapshot catalog: commits are atomic and crashed commits are swept") {
    import graft.ops.SnapshotCatalog
    val cat = TestSpark.tmpDir("vt15") + "/cat"
    assert(SnapshotCatalog.current(spark, cat).isEmpty)
    val m1 = SnapshotCatalog.commit(spark, cat, Map("a" -> 1L, "b" -> 1L))
    assert(SnapshotCatalog.current(spark, cat)
      === Some((m1, Map("a" -> 1L, "b" -> 1L))))
    // crash instant: manifest 2 fully staged, pointer never flipped — the
    // reader must stay on manifest 1 (the pointer IS the commit)
    val hfs = fs(cat)
    val out = hfs.create(new Path(cat, "_m-00000002"), true)
    out.write("a=2\nb=2".getBytes("UTF-8")); out.close()
    assert(SnapshotCatalog.current(spark, cat).map(_._1) === Some(m1))
    // the next commit sweeps the dangling manifest and takes its slot
    val m2 = SnapshotCatalog.commit(spark, cat, Map("a" -> 3L, "b" -> 3L))
    assert(m2 === m1 + 1)
    assert(SnapshotCatalog.current(spark, cat)
      === Some((m2, Map("a" -> 3L, "b" -> 3L))))
    // a deleted pointer falls back to the highest manifest (mid-flip crash)
    hfs.delete(new Path(cat, "_ptr"), false)
    assert(SnapshotCatalog.current(spark, cat).map(_._1) === Some(m2))
  }

  test("merge-on-read: null keys survive deletes, compaction ends the tax") {
    import graft.ops.MergeOnRead
    import org.apache.spark.sql.functions._
    val dir = TestSpark.tmpDir("vt16") + "/t"
    // 10 keyed rows + 2 null-key rows: an equality tombstone can never
    // name a null key, so null-key rows must survive every delete (the
    // anti-join's null semantics must not silently drop them)
    val keyed = spark.range(0, 10).select(col("id").as("k"), lit("r").as("v"))
    val nulls = Seq((null.asInstanceOf[java.lang.Long], "n"),
      (null.asInstanceOf[java.lang.Long], "n2")).toDF("k", "v")
    MergeOnRead.init(keyed.unionByName(nulls), dir)
    val before = MergeOnRead.dataFiles(spark, dir)
    MergeOnRead.delete(Seq(2L, 3L).toDF("key"), dir)
    assert(MergeOnRead.dataFiles(spark, dir) === before,
      "a MoR delete must not touch data files")
    val read1 = MergeOnRead.read(spark, dir, "k")
    assert(read1.count() === 10L) // 8 keyed + 2 null-key
    assert(read1.filter(col("k").isNull).count() === 2L)
    assert(read1.filter(col("k").isin(2L, 3L)).count() === 0L)
    // compaction folds the tombstones and is then a no-op
    assert(MergeOnRead.compact(spark, dir, "k") === 1)
    val read2 = MergeOnRead.read(spark, dir, "k")
    assert(read2.count() === 10L)
    assert(read2.filter(col("k").isNull).count() === 2L)
    assert(MergeOnRead.compact(spark, dir, "k") === 0)
  }

  test("banded layout: band predicate is a pushed partition filter") {
    import graft.ops.DataSkipping
    import org.apache.spark.sql.functions._
    val dir = TestSpark.tmpDir("vt12") + "/banded"
    val df = spark.range(0, 1000).select(col("id").as("k"), (col("id") % 7).as("v"))
    DataSkipping.writeBanded(df, dir, "k", 8)
    val bounds = DataSkipping.bandBounds(spark, dir, "k").collect()
    assert(bounds.length === 8, "8 band directories expected")
    // bands must partition the key range: every key belongs to exactly one
    val hit = bounds.filter(r => r.getLong(2) >= 200L && r.getLong(1) <= 299L)
      .map(_.getInt(0))
    val pruned = DataSkipping.pruneBanded(spark, dir, hit.min, hit.max)
    assert(pruned.queryExecution.executedPlan.toString.contains("PartitionFilters: ["),
      "band predicate must push as a partition filter")
    // exactness: pruned + residual == full filter
    val got = pruned.filter(col("k").between(200, 299))
      .agg(count(lit(1)), sum(col("k"))).head()
    assert(got.getLong(0) === 100L)
    assert(got.getLong(1) === (200L to 299L).sum)
    // directory pruning: the executed scan opened a strict subset of files
    // (inputFiles would lie here — it reads the unpruned FileIndex)
    pruned.collect()
    val prunedFiles = pruned.queryExecution.executedPlan
      .collectLeaves().head.metrics("numFiles").value
    val full = spark.read.parquet(dir)
    full.collect()
    val totalFiles = full.queryExecution.executedPlan
      .collectLeaves().head.metrics("numFiles").value
    assert(prunedFiles < totalFiles, "pruned scan must open fewer files")
  }

  test("deleteRange stamps its version: readAsOf after the delete never resurrects deleted rows") {
    import org.apache.spark.sql.functions._
    val dir = TestSpark.tmpDir("vt13") + "/t"
    val df = spark.range(0, 100).select(col("id").as("k"), (col("id") * 2).as("v"))
      .repartitionByRange(4, col("k"))
    VersionedTable.write(df, dir, statsCols = Seq("k"))
    val (v2, rewritten, total) = VersionedTable.deleteRange(
      spark, dir, "k", lit(10L), lit(19L), Seq("k"))
    assert(v2 === 2L && rewritten >= 1 && rewritten < total)
    assert(VersionedTable.commitTimestamp(spark, dir, 2L).nonEmpty,
      "the delete's version must carry _commit_ts like every commit")
    // an instant AFTER the delete resolves to the post-delete snapshot —
    // the unstamped-version bug silently resolved it to v1, returning the
    // compliance-deleted rows
    val after = VersionedTable.commitTimestamp(spark, dir, 2L).get
    assert(VersionedTable.readAsOf(spark, dir, after)
      .filter(col("k").between(10, 19)).count() === 0L,
      "post-delete instant must not see the deleted band")
  }

  test("stale publish fails fast: the pointer never flips backward") {
    import spark.implicits._
    val dir = TestSpark.tmpDir("vt14") + "/t"
    VersionedTable.write(Seq((1L, "v1")).toDF("k", "v"), dir)
    // stage v2, then an intervening writer lands v2+v3 first (so the stage
    // is stale); publishing it must be rejected, not flip 3 -> 2
    val staged = VersionedTable.stage(Seq((2L, "staged")).toDF("k", "v"), dir)
    assert(staged === 2L)
    VersionedTable.write(Seq((2L, "won")).toDF("k", "v"), dir) // sweeps + lands 2
    VersionedTable.write(Seq((3L, "won")).toDF("k", "v"), dir) // lands 3
    val err = intercept[IllegalArgumentException] {
      VersionedTable.publish(spark, dir, 2L)
    }
    assert(err.getMessage.contains("not the successor"))
    assert(VersionedTable.currentVersion(spark, dir) === Some(3L),
      "live version is untouched by the failed stale publish")
  }

  test("commit timestamps are strictly monotonic even when the clock does not move") {
    import spark.implicits._
    val dir = TestSpark.tmpDir("vt15") + "/t"
    // commits land faster than the millisecond clock ticks; the
    // predecessor+1 clamp must keep version order == timestamp order
    (1 to 5).foreach(i => VersionedTable.write(Seq((i.toLong, "x")).toDF("k", "v"), dir))
    val ts = (1L to 5L).map(v => VersionedTable.commitTimestamp(spark, dir, v).get)
    assert(ts === ts.sorted && ts.distinct.length === ts.length,
      s"stamps must strictly increase with version: $ts")
  }

  test("publish and Occ.finalizePending are the only flip/stamp sites; stageWith the only sweep") {
    import scala.jdk.CollectionConverters._
    import java.nio.file.Files
    val sources = TestSpark.sourceFiles(Seq("src/main/scala"))
    val Def = """.*\bdef\s+(\w+).*""".r
    // (file, enclosing def) of every line matching `call` outside its own definition
    def sitesOf(call: String): Seq[String] = sources.flatMap { p =>
      var enclosing = ""
      Files.readAllLines(p).asScala.toList.flatMap { line =>
        line match { case Def(name) => enclosing = name; case _ => }
        if (line.matches(s".*$call.*") && !line.matches(s".*\\bdef\\s+$call.*"))
          Some(s"${p.getFileName}:$enclosing")
        else None
      }
    }.distinct.sorted
    assert(sitesOf("""flipPointer\(""") === Seq("Occ.scala:finalizePending", "VersionedTable.scala:publish"))
    assert(sitesOf("""commitTs\(""") === Seq("Occ.scala:finalizePending", "VersionedTable.scala:publish"))
    assert(sitesOf("""listVersions\(fs, dir\)\.filter\(_ > """) === Seq("VersionedTable.scala:stageWith"))
  }

  test("GraftMeta is the only listing rule for data files and partition dirs") {
    import java.nio.file.Files
    // a hidden-name test, a `part-` name test, or a `col=` dir match
    val Filter = ("""startsWith\("[_.]"\)|startsWith\("part-"\)|""" +
      """isDirectory\s*&&\s*[\w.]*startsWith\(s?"[^"]*="\)""").r
    val Def = """\bdef\s+(\w+)""".r
    // (file, enclosing def) of every match
    val sites = TestSpark.sourceFiles(Seq("src/main/scala", "src/main/java"), Seq(".scala", ".java"))
      .flatMap { p =>
        val text = Files.readString(p)
        Filter.findAllMatchIn(text).map { m =>
          val enclosing = Def.findAllMatchIn(text.substring(0, m.start)).map(_.group(1)).toSeq.lastOption
          s"${p.getFileName}:${enclosing.getOrElse("")}"
        }
      }.distinct.sorted
    assert(sites.contains("GraftMeta.scala:hidden"), sites)
    // The catalog lists namespaces and tables, not data: a `.`-named dir is a
    // namespace there. Sweeps that must see every file and the version, txn,
    // log and branch listings select by their own prefixes and match nothing.
    assert(sites.filterNot(_.startsWith("GraftMeta.scala:")) ===
      Seq("GraftCatalog.scala:listNamespaces", "GraftCatalog.scala:listTables"))
  }
}
