package graft

import org.apache.spark.sql.SparkSession

/** One shared session for the whole test JVM (Test / fork := true): the
  * shared [[GraftSession]] configuration on a fixed 4-core master with its
  * own throwaway warehouse.
  */
object TestSpark {
  lazy val spark: SparkSession = GraftSession.start(GraftSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.warehouse.dir",
      java.nio.file.Files.createTempDirectory("graft-wh").toString))

  def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString
}
