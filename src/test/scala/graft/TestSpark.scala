package graft

import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
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

  /** One job a bracketed run launched: its description and the `runDate`
    * source line it was called from — through its SQL execution's call site
    * when the job runs on a helper thread (AQE stages, broadcasts).
    */
  final case class Job(description: String, runDateLine: Option[Int])

  private val RunDateFrame =
    """graft\.pipeline\.EodPipeline\.runDate\(EodPipeline\.scala:(\d+)\)""".r.unanchored

  /** The jobs `body` launches. The listener bus is asynchronous and
    * delivers in order, so a marker job on each side brackets exactly them.
    */
  def jobsOf(body: => Unit): Seq[Job] = {
    val sc = spark.sparkContext
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[Job]
    val execLine = new java.util.concurrent.ConcurrentHashMap[Long, Int]
    def line(details: String) = RunDateFrame.findFirstMatchIn(details).map(_.group(1).toInt)
    val listener = new SparkListener {
      override def onOtherEvent(e: org.apache.spark.scheduler.SparkListenerEvent): Unit = e match {
        case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
          line(s.details).orElse(s.rootExecutionId.flatMap(r => Option(execLine.get(r))))
            .foreach(execLine.put(s.executionId, _))
        case _ =>
      }
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
        seen.add(Job(prop("spark.job.description").getOrElse(""),
          e.stageInfos.headOption.flatMap(st => line(st.details)).orElse(
            Seq("spark.sql.execution.root.id", "spark.sql.execution.id").flatMap(prop)
              .flatMap(id => Option(execLine.get(id.toLong))).headOption)))
      }
    }
    def marker(name: String): Unit = {
      sc.setJobDescription(name)
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
    }
    sc.addSparkListener(listener)
    try {
      marker("guard-begin")
      body
      marker("guard-end")
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      while (!seen.asScala.exists(_.description == "guard-end") && System.nanoTime() < deadline)
        Thread.sleep(20)
      org.scalatest.Assertions.assert(seen.asScala.exists(_.description == "guard-end"),
        "listener saw the closing marker")
      seen.asScala.toSeq.dropWhile(_.description != "guard-begin").drop(1)
        .takeWhile(_.description != "guard-end")
    } finally sc.removeSparkListener(listener)
  }

  def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** The source files under `roots` (relative to the repository root) whose
    * names end in one of `exts` — the input of the specs that scan the
    * sources for a pattern.
    */
  def sourceFiles(roots: Seq[String], exts: Seq[String] = Seq(".scala"))
      : List[java.nio.file.Path] = {
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
