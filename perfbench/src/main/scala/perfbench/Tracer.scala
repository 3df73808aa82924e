package perfbench

import java.nio.file.{Files, Path}
import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** Where each stage of `EodPipeline.runDate` starts, read from the program's
  * source so that a job's call-site line names its stage. A stage whose
  * marker is missing folds into the stage before it.
  */
final class Anchors(starts: Seq[(Int, String)]) {
  def stageAt(line: Int): String =
    starts.filter(_._1 <= line).lastOption.map(_._2).getOrElse("raw_load")
}

object Anchors {
  val Stages = Seq("raw_load", "core_merge", "dims", "fact_merge", "reconcile")

  private val markers = Seq(
    "core_merge" -> """// CORE|\bval raw\s*=""".r,
    "dims" -> """// DIM_SECURITY|\bval core\s*=""".r,
    "fact_merge" -> """// FACT|\bval dimSecNow\b""".r,
    "reconcile" -> """// V5|\bval factDay\b""".r)

  def load(source: Path): Anchors = {
    val lines = if (Files.exists(source)) Files.readAllLines(source).toArray(Array.empty[String]).toIndexedSeq
      else IndexedSeq.empty
    val from = lines.indexWhere(_.contains("def runDate("))
    var at = from
    val starts = Seq.newBuilder[(Int, String)]
    if (from >= 0) starts += ((from + 1) -> "raw_load")
    markers.foreach { case (stage, re) =>
      val i = if (at < 0) -1 else lines.indexWhere(l => re.findFirstIn(l).isDefined, at + 1)
      if (i >= 0) { starts += ((i + 1) -> stage); at = i }
    }
    new Anchors(starts.result())
  }
}

final class JobRec(val start: Long, val stage: String, val listing: Boolean) {
  @volatile var end: Long = -1L
  var tasks = 0
  var shuffleBytes = 0L
  var inputBytes = 0L
}

/** Benchmark-owned listener for the traced run. It attributes every Spark
  * job to the pipeline stage that issued it, from the call site of the job
  * (`...EodPipeline.runDate(EodPipeline.scala:N)`); jobs with no program
  * frame (broadcasts, AQE stages) follow their root SQL execution. Listing
  * jobs are recognised by their description. Everything stays in memory
  * until the run ends.
  */
final class Tracer(anchors: Anchors) extends SparkListener {
  private val RunDate = """graft\.pipeline\.EodPipeline\.runDate\(EodPipeline\.scala:(\d+)\)""".r.unanchored
  private val execStage = mutable.Map.empty[Long, String]
  private val byStage = mutable.Map.empty[Int, JobRec]
  private val byId = mutable.Map.empty[Int, JobRec]
  val jobs = mutable.ArrayBuffer.empty[JobRec]

  private def attribute(details: String): Option[String] =
    if (details == null) None
    else RunDate.findFirstMatchIn(details).map(m => anchors.stageAt(m.group(1).toInt))
      .orElse(if (details.contains("graft.pipeline.EodPipeline")) Some("fetch_stage") else None)
      .orElse(if (details.contains("perfbench.")) Some("bench") else None)

  override def onOtherEvent(event: SparkListenerEvent): Unit = event match {
    case s: SparkListenerSQLExecutionStart => synchronized {
      attribute(s.details).orElse(s.rootExecutionId.flatMap(execStage.get))
        .foreach(execStage(s.executionId) = _)
    }
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
    val exec = (prop("spark.sql.execution.root.id") ++ prop("spark.sql.execution.id")).map(_.toLong)
    val stage = attribute(e.stageInfos.headOption.map(_.details).orNull)
      .orElse(exec.flatMap(execStage.get).headOption)
      .getOrElse("other")
    val listing = prop("spark.job.description").exists(_.startsWith("Listing leaf files"))
    val j = new JobRec(e.time, stage, listing)
    jobs += j; byId(e.jobId) = j
    e.stageIds.foreach(byStage(_) = j)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    byId.get(e.jobId).foreach(_.end = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    byStage.get(e.stageId).foreach { j =>
      j.tasks += 1
      Option(e.taskMetrics).foreach { m =>
        j.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        j.inputBytes += m.inputMetrics.bytesRead
      }
    }
  }

  /** Jobs that started inside `[t0, t1]` (epoch ms). */
  def within(t0: Long, t1: Long): Seq[JobRec] = synchronized {
    jobs.filter(j => j.start >= t0 && j.start <= t1).toSeq
  }
}

object Tracer {
  /** Total length of the union of `[start, end]` intervals clipped to `[t0, t1]`. */
  def unionMs(js: Seq[JobRec], t0: Long, t1: Long): Long = {
    val iv = js.map(j => (math.max(j.start, t0), math.min(if (j.end < 0) t1 else j.end, t1)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L; var curA = -1L; var curB = -1L
    iv.foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) total += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (curB > curA) total += curB - curA
    total
  }
}

/** Files under a directory, for diffing what one operation wrote. */
object Listing {
  final case class F(size: Long, mtime: Long)

  def snapshot(root: Path): Map[String, F] =
    if (!Files.exists(root)) Map.empty
    else {
      val s = Files.walk(root)
      try s.filter(Files.isRegularFile(_)).toArray.iterator.map { o =>
        val p = o.asInstanceOf[Path]
        p.toString -> F(Files.size(p), Files.getLastModifiedTime(p).toMillis)
      }.toMap
      finally s.close()
    }

  /** (files, bytes) present in `after` that are new or changed since `before`. */
  def written(before: Map[String, F], after: Map[String, F]): (Long, Long) = {
    val w = after.filter { case (p, f) => !before.get(p).contains(f) }
    (w.size.toLong, w.values.map(_.size).sum)
  }

  def bytes(root: Path): Long = snapshot(root).values.map(_.size).sum
}
