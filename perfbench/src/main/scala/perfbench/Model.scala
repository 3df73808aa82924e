package perfbench

import scala.collection.mutable
import graft.pipeline.PipelineReport

/** Plain-Scala model of the warehouse, computed from the generator's own
  * rows: the latest row per (symbol, date), the surrogate keys the dimension
  * must hold (new symbols of each run numbered in symbol order above the
  * current maximum), and exact-decimal FACT checksums per date.
  */
final class Model {
  /** date -> symbol -> latest row */
  val core = mutable.TreeMap.empty[String, mutable.Map[String, Px]]
  /** symbol -> security_id */
  val dim = mutable.Map.empty[String, Long]
  private val rawKeys = mutable.Map.empty[String, mutable.Set[String]]

  /** Apply one loaded file and return the report the pipeline must give. */
  def load(day: DayFile): PipelineReport = {
    val keys = rawKeys.getOrElseUpdate(day.date, mutable.Set.empty)
    keys ++= day.rows.map(_.sym)
    val m = core.getOrElseUpdate(day.date, mutable.Map.empty)
    val matched = keys.count(m.contains).toLong
    day.rows.foreach(p => m(p.sym) = p)
    val fresh = m.keys.filterNot(dim.contains).toSeq.sorted
    var next = if (dim.isEmpty) 0L else dim.values.max
    fresh.foreach { s => next += 1; dim(s) = next }
    PipelineReport(day.date, day.lines.size.toLong, keys.size - matched, matched,
      m.size.toLong, m.size.toLong, rowParity = true)
  }

  /** Differences between a report and the model's, empty when they agree. */
  def diff(got: PipelineReport, want: PipelineReport): Seq[String] =
    if (got == want) Nil else Seq(s"report $got, expected $want")

  /** Per-date FACT checksum: rows, null closes, sums of open/high/low,
    * sum(security_id * close) and sum(security_id * volume).
    */
  def factChecksums: Map[String, Seq[BigDecimal]] = core.map { case (d, m) =>
    def sum(f: Px => Option[BigDecimal]) = m.values.flatMap(f).foldLeft(BigDecimal(0))(_ + _)
    d -> Seq(BigDecimal(m.size), BigDecimal(m.values.count(_.close.isEmpty)),
      sum(_.open), sum(_.high), sum(_.low),
      sum(p => p.close.map(_ * dim(p.sym))), sum(p => p.volume.map(_ * dim(p.sym))))
  }.toMap
}
