package graft

/** Mirrors the driver's smoke check: SparkEntry.entry must return > 0 rows on
  * the sf0.001 testdata. Run: `sbt "runMain graft.Smoke"`.
  */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.start()
    val n = SparkEntry.entry(spark).count()
    println(s"[smoke] entry rows = $n")
    require(n > 0, "entry returned no rows")
    spark.stop()
  }
}
