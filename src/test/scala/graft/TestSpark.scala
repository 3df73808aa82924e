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

  /** The source files under `roots` (relative to the repository root) whose
    * names end in one of `exts` — the input of the specs that scan the
    * sources for a pattern.
    */
  def sourceFiles(roots: Seq[String], exts: Seq[String] = Seq(".scala"))
      : List[java.nio.file.Path] = {
    import scala.jdk.CollectionConverters._
    val dirs = roots.map(java.nio.file.Paths.get(_))
    org.scalatest.Assertions.assert(dirs.forall(java.nio.file.Files.isDirectory(_)),
      s"run from the repository root (cwd ${sys.props("user.dir")})")
    dirs.toList.flatMap { root =>
      val walk = java.nio.file.Files.walk(root)
      try walk.iterator.asScala.filter(p => exts.exists(p.toString.endsWith)).toList
      finally walk.close()
    }
  }
}
