package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.ops.BloomIndex

/** Per-file bloom index: zero false negatives on every present key, real
  * pruning on absent/scattered keys, and the sidecar stays invisible to
  * plain reads of the data dir.
  */
class BloomIndexSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def layout(n: Long, files: Int): String = {
    val dir = TestSpark.tmpDir("bi") + "/d"
    // cluster by g so k is scattered across every file
    spark.range(0, n).select(col("id").as("k"), (col("id") % files).as("g"))
      .repartitionByRange(files, col("g")).sortWithinPartitions("g")
      .write.parquet(dir)
    BloomIndex.writeIndex(spark, dir, "k")
    dir
  }

  test("every present key's owning file is admitted (no false negatives)") {
    val dir = layout(2000, 8)
    val truth = spark.read.parquet(dir)
      .select(input_file_name().as("f"), col("k"))
    for (k <- Seq(0L, 777L, 1234L, 1999L)) {
      val (admitted, total) = BloomIndex.selectFiles(spark, dir, lit(k))
      assert(total === 8)
      val owner = truth.filter(col("k") === k).select("f").as[String].head()
      assert(admitted.contains(owner), s"key $k's file must be admitted")
      assert(spark.read.parquet(admitted: _*).filter(col("k") === k).count() === 1L)
    }
  }

  test("absent keys prune hard") {
    val dir = layout(2000, 8)
    val admitted = (0 until 20).map { i =>
      BloomIndex.selectFiles(spark, dir, lit(1000000L + i))._1.size
    }.sum
    // 160 probes-files total; ~1% fpp -> expect ~2 admissions, allow slack
    assert(admitted <= 16, s"absent keys admitted $admitted/160 files")
  }

  test("a hive-partitioned data dir is refused loudly, not indexed as empty") {
    // a flat sizing listing would see no files while the build pass reads
    // the nested ones: every probe would then admit every file
    val dir = TestSpark.tmpDir("bi") + "/d"
    spark.range(0, 100).select(col("id").as("k"), (col("id") % 2).as("g"))
      .write.partitionBy("g").parquet(dir)
    val e = intercept[IllegalArgumentException](BloomIndex.writeIndex(spark, dir, "k"))
    assert(e.getMessage.contains("nested data subdirectories"), e.getMessage)
    assert(!new java.io.File(dir, "_bloom").exists(), "no sidecar was written")
  }

  test("the sidecar is invisible to a plain read of the data dir") {
    val dir = layout(500, 4)
    assert(spark.read.parquet(dir).count() === 500L)
    assert(spark.read.parquet(dir).columns.toSeq === Seq("k", "g"))
  }
}
