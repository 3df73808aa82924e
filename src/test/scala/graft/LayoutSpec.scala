package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.ops.{Layout, VersionedTable}
import graft.source.GraftMeta

/** Bucketed layout: co-located joins run without a shuffle exchange. */
class LayoutSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("bucketed-by-key tables sort-merge join with zero exchanges") {
    val sf = "/root/testdata/sf0.001"
    Layout.writeBucketed(Tables.load(spark, sf, "lineitem"), "li_b", 4, Seq("l_orderkey"))
    Layout.writeBucketed(
      Tables.load(spark, sf, "orders").withColumnRenamed("o_orderkey", "l_orderkey"),
      "o_b", 4, Seq("l_orderkey"))
    val joined = spark.table("li_b").hint("merge")
      .join(spark.table("o_b").hint("merge"), Seq("l_orderkey"))
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("SortMergeJoin"))
    assert(!plan.contains("ShuffleExchange") && !plan.contains("Exchange hashpartitioning"),
      s"bucketed join must not shuffle:\n${plan.take(2000)}")
    // and the result is the plain join
    val plain = Tables.load(spark, sf, "lineitem").join(
      Tables.load(spark, sf, "orders").withColumnRenamed("o_orderkey", "l_orderkey"),
      Seq("l_orderkey"))
    assert(joined.count() === plain.count())
  }

  test("compact: small files merge to the byte-sized target, data unchanged") {
    val sf = "/root/testdata/sf0.001"
    val dir = TestSpark.tmpDir("compact") + "/t"
    val src = Tables.load(spark, sf, "orders")
    VersionedTable.write(src.repartition(40), dir)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def files() = GraftMeta.dataFiles(fs,
      new org.apache.hadoop.fs.Path(VersionedTable.liveDir(spark, dir)))
    val totalBytes = files().map(_.getLen).sum
    val before = files().size
    val (v2, rewritten, carried) = Layout.binPackVersioned(spark, dir, totalBytes / 4 + 1)
    val after = files().size
    assert(before === 40)
    assert((v2, rewritten, carried) === ((2L, 40, 0)))
    assert(after <= 4, s"expected <= 4 files, got $after")
    // lossless: same rows
    assert(VersionedTable.read(spark, dir).exceptAll(src).isEmpty)
    assert(src.exceptAll(VersionedTable.read(spark, dir)).isEmpty)
    // converges: re-encoded files are smaller, so a second pass may pack
    // further, but the layout reaches a fixpoint where a pass commits no
    // new version
    val (v3, _, _) = Layout.binPackVersioned(spark, dir, totalBytes / 4 + 1)
    val a2 = files().size
    assert(a2 <= after)
    assert(Layout.binPackVersioned(spark, dir, totalBytes / 4 + 1) === ((v3, 0, a2)),
      "fixpoint layout must be left alone")
    assert(VersionedTable.currentVersion(spark, dir) === Some(v3))
  }

  test("sort-on-write enables row-group skipping: sorted layout scans fewer rows") {
    val sf = "/root/testdata/sf0.01"
    // DATE sort key: INT32 stats always prune; a rewritten TIMESTAMP can
    // land as INT96, whose row-group stats readers ignore
    val li = Tables.load(spark, sf, "lineitem")
      .select(col("l_orderkey"), to_date(col("l_shipdate")).as("ship_day"),
        col("l_extendedprice"))
    val shuffled = TestSpark.tmpDir("skip-shuffled")
    val sorted = TestSpark.tmpDir("skip-sorted")
    // same data, same file counts — only the row order differs; tiny row
    // groups so min/max stats operate at sub-file granularity
    li.repartition(2, col("l_orderkey")).write.mode("overwrite")
      .option("parquet.block.size", 16 * 1024)
      .parquet(shuffled)
    li.repartitionByRange(2, col("ship_day")).sortWithinPartitions(col("ship_day"))
      .write.mode("overwrite")
      .option("parquet.block.size", 16 * 1024)
      .parquet(sorted)
    def scannedRows(path: String): Long = {
      val df = spark.read.parquet(path).filter(
        col("ship_day") >= lit("1996-06-01").cast("date") &&
          col("ship_day") < lit("1996-07-01").cast("date"))
      df.collect()
      val scan = df.queryExecution.executedPlan.collectLeaves().head
      scan.metrics("numOutputRows").value
    }
    val (a, b) = (scannedRows(shuffled), scannedRows(sorted))
    // row-group min/max stats prune most groups in the clustered layout;
    // the hash-ordered layout touches every group (its stats span everything)
    assert(b < a / 2, s"sorted layout must scan far fewer rows: sorted=$b shuffled=$a")
  }

  test("zOrderKey interleaves bucket bits (Morton code)") {
    import graft.ops.Layout
    // reference Morton implementation for 2 dims
    def morton(a: Long, b: Long, bits: Int): Long =
      (0 until bits).map { i =>
        (((a >> i) & 1L) << (2 * i)) | (((b >> i) & 1L) << (2 * i + 1))
      }.sum
    val cases = Seq((0L, 0L), (1L, 0L), (0L, 1L), (5L, 9L), (65535L, 65535L), (12345L, 54321L))
    val df = spark.createDataFrame(cases).toDF("a", "b")
      .withColumn("z", Layout.zOrderKey(Seq(col("a"), col("b")), 16))
    df.collect().foreach { r =>
      assert(r.getAs[Long]("z") === morton(r.getAs[Long]("a"), r.getAs[Long]("b"), 16),
        s"(${r.get(0)}, ${r.get(1)})")
    }
    // adjacent buckets stay adjacent in key space: sorting by z clusters tiles
    val k1 = morton(100, 200, 16); val k2 = morton(101, 200, 16)
    assert(math.abs(k1 - k2) < (1L << 8), "neighbor cells must be near in z space")
  }

  test("rangeBucket clamps and scales to the bit space") {
    import graft.ops.Layout
    val df = spark.range(1).select(
      Layout.rangeBucket(lit(-5L), 0L, 100L, 16).as("under"),
      Layout.rangeBucket(lit(500L), 0L, 100L, 16).as("over"),
      Layout.rangeBucket(lit(0L), 0L, 100L, 16).as("lo"),
      Layout.rangeBucket(lit(100L), 0L, 100L, 16).as("hi"),
      Layout.rangeBucket(lit(42L), 7L, 7L, 16).as("degenerate"))
    val r = df.head()
    assert(r.getAs[Long]("under") === 0L && r.getAs[Long]("lo") === 0L)
    assert(r.getAs[Long]("over") === 65535L && r.getAs[Long]("hi") === 65535L)
    assert(r.getAs[Long]("degenerate") === 0L)
  }

  test("hilbert xy2d: bijective walk with unit steps (the locality property)") {
    import graft.functions.HilbertAlgo
    // 3-bit curve: the 64 cells of an 8x8 grid. The curve must visit every
    // cell exactly once (bijection), and consecutive distances must be
    // GRID-ADJACENT cells (|dx|+|dy| == 1) — the property Morton lacks and
    // the whole reason a Hilbert option exists: no jumps, so a key range's
    // bounding box stays tight.
    val bits = 3
    val n = 1 << bits
    val cells = for (x <- 0 until n; y <- 0 until n)
      yield (HilbertAlgo.xy2d(bits, x, y), (x, y))
    assert(cells.map(_._1).sorted === (0L until (n.toLong * n)).toIndexedSeq)
    val byD = cells.sortBy(_._1).map(_._2)
    byD.sliding(2).foreach { case Seq((x0, y0), (x1, y1)) =>
      assert(math.abs(x1 - x0) + math.abs(y1 - y0) === 1,
        s"non-adjacent step between d cells ($x0,$y0) -> ($x1,$y1)")
    }
    // the codegen'd expression computes the same mapping as the algo object
    val viaExpr = spark.range(n.toLong * n)
      .select(graft.functions.HilbertIndex2D(
        (col("id") / n).cast("long"), (col("id") % n).cast("long"), bits).as("d"),
        (col("id") / n).cast("long").as("x"), (col("id") % n).cast("long").as("y"))
      .collect()
    viaExpr.foreach { r =>
      assert(r.getLong(0) === HilbertAlgo.xy2d(bits, r.getLong(1), r.getLong(2)))
    }
  }

  test("date-partitioned writes prune partitions at the scan") {
    val sf = "/root/testdata/sf0.001"
    val dir = TestSpark.tmpDir("parts")
    Tables.load(spark, sf, "events")
      .withColumn("day", to_date(col("ts")))
      .write.mode("overwrite").partitionBy("day").parquet(dir)
    val nDays = spark.read.parquet(dir).select("day").distinct().count()
    assert(nDays > 5, "need a multi-partition layout for the pruning test")
    val pruned = spark.read.parquet(dir).filter(col("day") === lit("2024-01-15"))
    val scan = pruned.queryExecution.executedPlan.collectLeaves().head.toString
    assert(scan.contains("PartitionFilters") && scan.contains("day"),
      s"day predicate must prune partitions:\n${scan.take(600)}")
    assert(pruned.count() ===
      Tables.load(spark, sf, "events").filter(to_date(col("ts")) === lit("2024-01-15")).count())
  }
}
