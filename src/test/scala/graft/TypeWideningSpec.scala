package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.ops.{TypeWidening => TW, VersionedTable}
import org.apache.hadoop.fs.Path

/** Widening contract: the DDL is metadata-only, epochs keep their physical
  * types, reads cast up losslessly, and anything lossy is rejected.
  */
class TypeWideningSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def fs(dir: String) =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  test("int->long widen: metadata-only commit, mixed epochs, lossless read") {
    val dir = TestSpark.tmpDir("tw1") + "/t"
    TW.init(Seq((1, "a"), (2, "b")).toDF("k", "v"), dir)
    TW.widen(spark, dir, "k", LongType)
    assert(fs(dir).listStatus(VersionedTable.verDir(dir, 2L))
      .map(_.getPath.getName).toSet ===
      Set("_types", "_prev", "_SUCCESS", "_commit_ts"))
    TW.append(Seq((5000000000L, "c")).toDF("k", "v"), dir)
    assert(TW.epochSchema(spark, dir, 1L)("k").dataType === IntegerType)
    assert(TW.epochSchema(spark, dir, 3L)("k").dataType === LongType)
    val live = TW.read(spark, dir)
    assert(live.schema("k").dataType === LongType)
    assert(live.orderBy("k").as[(Long, String)].collect()
      === Array((1L, "a"), (2L, "b"), (5000000000L, "c")))
    // time travel renders v1 under its own (int) manifest
    assert(TW.readVersion(spark, dir, 1L).schema("k").dataType === IntegerType)
  }

  test("narrowing and data-path type sneaks are rejected") {
    val dir = TestSpark.tmpDir("tw2") + "/t"
    TW.init(Seq((1, "a")).toDF("k", "v"), dir)
    intercept[IllegalArgumentException] {
      TW.append(Seq((5000000000L, "c")).toDF("k", "v"), dir)
    }
    intercept[IllegalArgumentException] {
      TW.widen(spark, dir, "v", IntegerType) // string -> int: not a widening
    }
    TW.widen(spark, dir, "k", LongType)
    intercept[IllegalArgumentException] {
      TW.widen(spark, dir, "k", IntegerType) // narrowing back
    }
  }

  test("decimal precision widening keeps scale and values") {
    val dir = TestSpark.tmpDir("tw3") + "/t"
    TW.init(Seq("1.25", "99.99").toDF("s")
      .select(col("s").cast("decimal(4,2)").as("d")), dir)
    TW.widen(spark, dir, "d", DecimalType(10, 2))
    TW.append(Seq("12345678.01").toDF("s")
      .select(col("s").cast("decimal(10,2)").as("d")), dir)
    val live = TW.read(spark, dir)
    assert(live.schema("d").dataType === DecimalType(10, 2))
    assert(live.agg(sum("d").cast("string")).head.getString(0)
      === "12345779.25")
    intercept[IllegalArgumentException] {
      TW.widen(spark, dir, "d", DecimalType(12, 4)) // scale change: lossy order
    }
  }

  test("isWidening matrix") {
    assert(TW.isWidening(IntegerType, LongType))
    assert(TW.isWidening(ByteType, IntegerType))
    assert(TW.isWidening(FloatType, DoubleType))
    assert(TW.isWidening(DecimalType(4, 2), DecimalType(20, 2)))
    assert(!TW.isWidening(LongType, IntegerType))
    assert(!TW.isWidening(DoubleType, FloatType))
    assert(!TW.isWidening(DecimalType(10, 2), DecimalType(10, 3)))
    assert(!TW.isWidening(StringType, LongType))
  }

  test("a metadata-only commit killed before the flip: old manifest stays live, next commit sweeps it") {
    val dir = TestSpark.tmpDir("tw5") + "/t"
    TW.init(Seq((1, "a")).toDF("k", "v"), dir)
    TW.widen(spark, dir, "k", LongType)
    // crash instant: the widen's version is staged, sealed and stamped
    // (_types, _prev, _SUCCESS, _commit_ts) but the pointer never flipped
    // off version 1 — the JVM died inside publish, right before the flip
    val out = fs(dir).create(new Path(dir, "_ptr"), true)
    out.write("00000001".getBytes("UTF-8")); out.close()
    assert(VersionedTable.currentVersion(spark, dir) === Some(1L))
    assert(TW.read(spark, dir).schema("k").dataType === IntegerType,
      "readers keep the pre-widen manifest")
    // the next commit sweeps the dangling widen and lands in its slot,
    // under the live (int) manifest
    assert(TW.append(Seq((2, "b")).toDF("k", "v"), dir) === 2L)
    assert(TW.typesOf(spark, dir, 2L) === Seq("k" -> IntegerType, "v" -> StringType))
    assert(TW.epochSchema(spark, dir, 2L)("k").dataType === IntegerType)
    assert(TW.read(spark, dir).orderBy("k").as[(Int, String)].collect()
      === Array((1, "a"), (2, "b")))
  }
}
