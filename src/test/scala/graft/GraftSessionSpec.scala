package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.plans.{GraftRules, JoinElimination, MvRewrite, RankFilterToTopK, TopKStrategy}

/** One session builder, one rule set: every session graft builds carries
  * the same config, and `GraftRules.register` installs the same strategy,
  * rules and SQL functions exactly once however often it runs.
  */
class GraftSessionSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("register twice installs each strategy and rule exactly once") {
    GraftRules.register(spark)
    GraftRules.register(spark)
    assert(spark.experimental.extraStrategies.count(_ eq TopKStrategy) === 1)
    Seq(RankFilterToTopK, JoinElimination, MvRewrite).foreach { r =>
      assert(spark.experimental.extraOptimizations.count(_ eq r) === 1, r.ruleName)
    }
  }

  test("every graft SQL function resolves and checks its arity") {
    val row = spark.sql(
      """SELECT dot_product(array(1D, 2D), array(3D, 4D)) AS d,
        |  jaro_winkler('MARTHA', 'MARHTA') AS jw,
        |  nfc_normalize('é') AS n,
        |  hilbert_xy2d(2L, 3L, 4) AS h""".stripMargin).head()
    assert(row.getDouble(0) === 11.0)
    assert(math.abs(row.getDouble(1) - 0.9611111111111111) < 1e-15)
    assert(row.getString(2) === "é")
    assert(row.getLong(3) >= 0L)
    Seq("dot_product(array(1D))" -> "dot_product expects 2 argument(s), got 1",
        "jaro_winkler('a')" -> "jaro_winkler expects 2 argument(s), got 1",
        "nfc_normalize('a', 'b')" -> "nfc_normalize expects 1 argument(s), got 2",
        "hilbert_xy2d(1, 2)" -> "hilbert_xy2d expects 3 argument(s), got 2")
      .foreach { case (call, msg) =>
        val e = intercept[Exception](spark.sql(s"SELECT $call").collect())
        val chain = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        assert(chain.exists(t => String.valueOf(t.getMessage).contains(msg)),
          s"$call: ${e.getMessage}")
      }
  }

  test("the test session carries the shared GraftSession config") {
    assert(spark.conf.get("spark.sql.session.timeZone") === "UTC")
    assert(spark.conf.get("spark.sql.parquet.outputTimestampType") === "TIMESTAMP_MICROS")
    assert(spark.conf.get("spark.ui.enabled") === "false")
  }

  test("GraftSession.scala is the only SparkSession builder in the sources") {
    val builders = TestSpark.sourceFiles(Seq("src/main/scala", "src/test/scala")).filter { p =>
      java.nio.file.Files.readString(p).contains("SparkSession" + ".builder")
    }.map(_.getFileName.toString)
    assert(builders === Seq("GraftSession.scala"))
  }
}
