package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}

/** Dev utility (round 18, guide §1): per-JOB wall-time attribution for one
  * or more catalog queries. Runs each named query `reps` times (first run
  * = warmup unless reps == 1) and prints, for the LAST run, every Spark
  * job's duration with its call site — the empirical side of the
  * measure-first loop when the Spark UI is disabled (bench parity).
  *
  * `sbt "runMain graft.Profile <sfDir> <namePrefix,...> [reps]"`
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val prefixes = if (args.length > 1) args(1).split(",").toSeq else Seq("")
    val reps = if (args.length > 2) args(2).toInt else 2
    val spark = GraftSession.start()

    case class J(id: Int, site: String, t0: Long, var t1: Long = -1L,
        var tasks: Int = 0)
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, J]()
    @volatile var record = false
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = if (record) {
        val site = Option(e.properties)
          .flatMap(p => Option(p.getProperty("callSite.short")))
          .orElse(e.stageInfos.lastOption.map(_.name)).getOrElse("?")
        jobs.put(e.jobId,
          J(e.jobId, site, e.time, tasks = e.stageInfos.map(_.numTasks).sum))
        ()
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = if (record) {
        Option(jobs.get(e.jobId)).foreach(_.t1 = e.time)
      }
    })
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => prefixes.exists(n.startsWith) }
      .foreach { case (name, fn) =>
        (1 until reps).foreach { _ =>
          try fn(spark, sfDir).queryExecution.toRdd.count()
          catch { case e: Throwable => println(s"[profile] warmup $name: $e") }
          GraftSession.reset(spark)
        }
        jobs.clear(); record = true
        val t0 = System.nanoTime()
        try fn(spark, sfDir).queryExecution.toRdd.count()
        catch { case e: Throwable => println(s"[profile] $name FAILED: $e") }
        val wall = (System.nanoTime() - t0) / 1e9
        record = false
        GraftSession.reset(spark)
        import scala.jdk.CollectionConverters._
        val js = jobs.values.asScala.toSeq.sortBy(_.t0)
        val sumJ = js.map(j => math.max(0L, j.t1 - j.t0)).sum / 1e3
        println(f"\n===== $name: wall $wall%.2f s, ${js.size} jobs, " +
          f"job-time sum $sumJ%.2f s (gap ${wall - sumJ}%.2f s driver/planning)")
        js.groupBy(_.site).toSeq
          .map { case (s, g) =>
            (s, g.size, g.map(j => math.max(0L, j.t1 - j.t0)).sum / 1e3) }
          .sortBy(-_._3).take(15)
          .foreach { case (site, n, tot) =>
            println(f"  $tot%7.2f s  x$n%-4d $site") }
        println("  ---- longest individual jobs:")
        js.sortBy(j => -(j.t1 - j.t0)).take(10).foreach { j =>
          println(f"  ${(j.t1 - j.t0) / 1e3}%7.2f s  job${j.id}%-4d " +
            f"tasks=${j.tasks}%-5d ${j.site}") }
        // driver-side gaps: time between one job's end and the next job's
        // start, attributed to the NEXT job's site (the driver plans a job
        // before launching it)
        var lastEnd = -1L
        val gaps = js.map { j =>
          val g = if (lastEnd < 0) 0L else math.max(0L, j.t0 - lastEnd)
          lastEnd = math.max(lastEnd, j.t1)
          (j.site, g)
        }
        println(f"  ---- gaps (driver work before each job), total " +
          f"${gaps.map(_._2).sum / 1e3}%.2f s:")
        gaps.groupBy(_._1).toSeq
          .map { case (s, g) => (s, g.size, g.map(_._2).sum / 1e3) }
          .sortBy(-_._3).take(15)
          .foreach { case (site, n, tot) =>
            println(f"  $tot%7.2f s  x$n%-4d $site") }
      }
    spark.stop()
  }
}
