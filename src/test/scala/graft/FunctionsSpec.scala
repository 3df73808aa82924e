package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.functions.DotProduct
import graft.plans.GraftRules

/** Native DotProduct expression: eval + codegen paths, type dispatch,
  * null/length semantics, SQL registration, parity with the HOF fold.
  */
class FunctionsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("float, double, and mixed element types widen to double identically") {
    val df = Seq((Array(1.5f, 2.5f), Array(2.0, 3.0))).toDF("f", "d")
    val out = df.select(
      DotProduct($"f", $"f").as("ff"),
      DotProduct($"d", $"d").as("dd"),
      DotProduct($"f", $"d").as("fd")).head()
    assert(out.getDouble(0) === 1.5 * 1.5 + 2.5 * 2.5)
    assert(out.getDouble(1) === 2.0 * 2.0 + 3.0 * 3.0)
    assert(out.getDouble(2) === 1.5 * 2.0 + 2.5 * 3.0)
  }

  test("null input -> null; length mismatch folds over the shorter prefix") {
    val df = Seq((Some(Array(1.0, 2.0)), None: Option[Array[Double]]))
      .toDF("a", "b")
    assert(df.select(DotProduct($"a", $"b")).head().isNullAt(0))
    val m = Seq((Array(1.0, 2.0, 3.0), Array(10.0))).toDF("a", "b")
    assert(m.select(DotProduct($"a", $"b")).head().getDouble(0) === 10.0)
  }

  test("bit-exact vs the aggregate(zip_with) fold on real embeddings") {
    val emb = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
      .limit(50).select($"vec_id", $"embedding")
    val both = emb.select($"vec_id",
      DotProduct($"embedding", $"embedding").as("native"),
      expr("aggregate(zip_with(cast(embedding as array<double>), cast(embedding as array<double>), (x, y) -> x * y), 0D, (acc, x) -> acc + x)").as("hof"))
    assert(both.filter($"native" =!= $"hof").isEmpty, "same doubles, bit for bit")
  }

  test("SQL registration exposes dot_product") {
    GraftRules.register(spark)
    val r = spark.sql("SELECT dot_product(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS d").head()
    assert(r.getDouble(0) === 11.0)
  }

  test("type check rejects non-array inputs") {
    val e = intercept[Exception] {
      Seq((1, 2)).toDF("a", "b").select(DotProduct($"a", $"b")).head()
    }
    assert(e.getMessage.toLowerCase.contains("dot_product"))
  }

  test("jaro_winkler matches the pinned literature + cross-engine cases") {
    // every case independently validated against DuckDB's
    // jaro_winkler_similarity (the oracle of q123)
    val cases = Seq(
      ("MARTHA", "MARHTA", 0.9611111111111111),  // Winkler's canonical example
      ("DWAYNE", "DUANE", 0.8400000000000001),
      ("DIXON", "DICKSONX", 0.8133333333333332),
      ("abc", "cba", 0.5555555555555555),        // window 0: center char only
      ("abc", "bca", 0.0),                       // window 0: no positional match
      ("abcdefgh", "azczezgz", 0.6666666666666666), // jaro < 0.7: NO boost
      ("prefixaa", "prefixbb", 0.9),             // prefix capped at 4
      ("aaaaaaz", "aaaaaay", 0.9428571428571428),
      ("ab", "ab", 1.0),
      ("", "", 0.0), ("a", "", 0.0),             // empty side -> 0 (DuckDB semantics)
      ("martha", "MARTHA", 0.0))                 // case-sensitive
    cases.foreach { case (a, b, want) =>
      val got = Seq((a, b)).toDF("a", "b")
        .select(graft.functions.JaroWinkler($"a", $"b")).head().getDouble(0)
      assert(math.abs(got - want) < 2e-15, s"jw($a, $b) = $got, want $want")
    }
    // floored transposition halving: 3 out-of-order matches -> t = 1
    val odd = Seq(("abczzz", "bcazzz")).toDF("a", "b")
      .select(graft.functions.JaroWinkler($"a", $"b")).head().getDouble(0)
    assert(math.abs(odd - 0.9444444444444444) < 2e-15)
    // DuckDB measures in UTF-8 BYTES (not codepoints): '😀ab'/'😀ac' is
    // 6-byte math (0.9333...), validated against jaro_winkler_similarity
    val bmp = Seq(("😀ab", "😀ac")).toDF("a", "b")
      .select(graft.functions.JaroWinkler($"a", $"b")).head().getDouble(0)
    assert(math.abs(bmp - 0.9333333333333333) < 2e-15, s"byte-convention parity, got $bmp")
  }

  test("SQL registration exposes jaro_winkler; expression stays codegen'd") {
    GraftRules.register(spark)
    val r = spark.sql("SELECT jaro_winkler('MARTHA', 'MARHTA') AS jw").head()
    assert(math.abs(r.getDouble(0) - 0.9611111111111111) < 2e-15)
    // no interpreted-projection fallback: over a real scan (literals would
    // constant-fold to a LocalTableScan) the expression fuses into the stage
    val df = Tables.load(spark, "/root/testdata/sf0.001", "customer")
      .select(graft.functions.JaroWinkler($"c_name", $"c_mktsegment").as("jw"))
    df.collect()
    assert(df.queryExecution.executedPlan.toString.contains("*("),
      "jaro_winkler must run inside WholeStageCodegen")
  }

  test("Bloom runtime filter: no false negatives, bounded false positives, codegen'd") {
    import graft.functions.{Bloom, BloomBuild}
    import org.apache.spark.sql.functions._
    val k = 5
    val m = Bloom.sizeBits(1000)
    // build over keys 0..999, probe over 0..9999
    val build = spark.range(0, 1000).select(xxhash64(col("id")).as("h")).as[Long]
    val bits = build.select(new BloomBuild(m, k).toColumn).head()
    val probe = spark.range(0, 10000)
      .select(col("id"), Bloom.mightContainCol(xxhash64(col("id")), bits, k).as("hit"))
    probe.collect()
    assert(probe.queryExecution.executedPlan.toString.contains("*("),
      "bloom probe must run inside WholeStageCodegen")
    val members = probe.filter(col("id") < 1000)
    assert(members.filter(!col("hit")).count() === 0L,
      "false negatives are impossible by construction")
    val fp = probe.filter(col("id") >= 1000 && col("hit")).count()
    assert(fp < 9000 * 5 / 100, s"~1% fp expected at 10 bits/key, got $fp of 9000")
    // interpreted eval agrees with codegen (the nullSafeEval path)
    assert(Bloom.mightContain(bits, k,
      members.select(xxhash64(col("id"))).head().getLong(0)))
  }
}
