package graft

/** Dev utility: print the formatted physical plan of one or more catalog
  * queries. `sbt "runMain graft.Explain <sfDir> [namePrefix,...]"`.
  * Used to audit scan pushdown (PushedFilters/ReadSchema), join strategies
  * (broadcast vs shuffle), and WholeStageCodegen span coverage.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val prefixes = if (args.length > 1) args(1).split(",").toSeq else Seq("")
    val spark = GraftSession.start()
    spark.sparkContext.setLogLevel("ERROR")
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => prefixes.exists(n.startsWith) }
      .foreach { case (name, fn) =>
        println(s"\n================= $name =================")
        fn(spark, sfDir).explain("formatted")
      }
    spark.stop()
  }
}
