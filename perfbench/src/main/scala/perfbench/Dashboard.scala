package perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import graft.analytics.{Measures, Vwap}
import graft.model.Schemas
import graft.pipeline.EodPipeline

/** The DAX dashboard's queries over the star, each with the model's answer.
  * A query is a visual: a KPI card, a per-symbol chart or a one-day table,
  * over a date window and a symbol slicer.
  */
object Dashboard {
  val Types = Seq("kpi_securities", "kpi_avg_close", "kpi_total_volume", "kpi_total_value",
    "daily_change", "trailing_volume_7d", "vwap", "day_slice")
  /** Per-row window or aggregator work, as opposed to one scan-and-sum. */
  val Heavy = Set("daily_change", "trailing_volume_7d", "vwap")

  final case class Query(kind: String, lo: String, hi: String, syms: Option[Seq[String]])

  /** Draw the `i`-th query: types cycle, windows and slicers are random. */
  def draw(i: Int, rnd: java.util.SplittableRandom, model: Model): Query = {
    val kind = Types(i % Types.size)
    val dates = model.core.keys.toIndexedSeq
    val a = rnd.nextInt(dates.size)
    val b = if (kind == "day_slice") a else a + rnd.nextInt(dates.size - a)
    val present = dates.slice(a, b + 1).flatMap(d => model.core(d).values.filter(_.close.isDefined).map(_.sym))
      .distinct.sorted
    val all = kind.startsWith("kpi_") && rnd.nextBoolean()
    val syms = if (all) None
      else Some(Seq.fill(1 + rnd.nextInt(20))(present(rnd.nextInt(present.size))).distinct.sorted)
    Query(kind, dates(a), dates(b), syms)
  }

  private def star(spark: SparkSession, pipe: EodPipeline, q: Query): DataFrame = {
    val fact = spark.read.schema(Schemas.factDailyPrice).parquet(pipe.factPath)
      .filter(col("trade_date").between(to_date(lit(q.lo)), to_date(lit(q.hi))))
    val j = fact.join(broadcast(pipe.dimSecurity(spark)), Seq("security_id"))
    q.syms.fold(j)(s => j.filter(col("symbol").isin(s: _*)))
  }

  /** The query as the program runs it. */
  def frame(spark: SparkSession, pipe: EodPipeline, q: Query): DataFrame = {
    val s = star(spark, pipe, q)
    val dayIdx = datediff(col("trade_date"), to_date(lit("1970-01-01")))
    q.kind match {
      case "kpi_securities" => s.agg(Measures.distinctCount(col("symbol")))
      case "kpi_avg_close" => s.agg(Measures.avgExact(col("close")))
      case "kpi_total_volume" => s.agg(Measures.totalVolume(col("volume")))
      case "kpi_total_value" => s.agg(Measures.totalValue(col("volume"), col("close")))
      case "daily_change" =>
        Measures.dailyChangePct(s, Seq(col("symbol")), col("trade_date"), col("close"))
          .select(col("symbol"), col("trade_date").cast("string"), col("daily_change_pct"))
      case "trailing_volume_7d" =>
        Measures.trailingAvg(s.withColumn("day_idx", dayIdx), Seq(col("symbol")), col("day_idx"),
            col("volume"), 7, "vol_7d")
          .select(col("symbol"), col("trade_date").cast("string"), col("vol_7d"))
      case "vwap" =>
        s.filter(col("close").isNotNull && col("volume").isNotNull).groupBy(col("symbol"))
          .agg(Vwap.column(col("close").cast("double"), col("volume").cast("double")))
      case "day_slice" =>
        s.select(col("symbol"), col("open"), col("high"), col("low"), col("close"), col("volume"))
    }
  }

  private def near(a: Any, b: Any): Boolean = (a, b) match {
    case (null, null) => true
    case (x: Double, y: Double) => math.abs(x - y) <= 1e-9 * math.max(1d, math.max(math.abs(x), math.abs(y)))
    case (x: java.math.BigDecimal, y: BigDecimal) => x.compareTo(y.bigDecimal) == 0
    case (x: Long, y: Long) => x == y
    case (x: String, y: String) => x == y
    case _ => false
  }

  private def sameRows(got: Seq[Row], want: Seq[Seq[Any]]): Boolean = {
    val g = got.map(_.toSeq).sortBy(_.take(2).mkString("|"))
    val w = want.sortBy(_.take(2).mkString("|"))
    g.size == w.size && g.zip(w).forall { case (x, y) =>
      x.size == y.size && x.zip(y).forall { case (a, b) => near(a, b) }
    }
  }

  /** The model's answer, compared with what the program returned. */
  def check(q: Query, model: Model, got: Seq[Row]): Boolean = {
    val inWindow = model.core.range(q.lo, q.hi + "~").toSeq
    val rows = for ((d, m) <- inWindow; p <- m.values if q.syms.forall(_.contains(p.sym))) yield (d, p)
    def sum(xs: Iterable[BigDecimal]): Any = if (xs.isEmpty) null else xs.sum
    def opt(x: Option[Any]): Any = x.orNull
    def bySym = rows.groupBy(_._2.sym).view.mapValues(_.sortBy(_._1)).toSeq
    q.kind match {
      case "kpi_securities" => sameRows(got, Seq(Seq(rows.map(_._2.sym).distinct.size.toLong)))
      case "kpi_avg_close" =>
        val cs = rows.flatMap(_._2.close)
        sameRows(got, Seq(Seq(if (cs.isEmpty) null else cs.sum.toDouble / cs.size)))
      case "kpi_total_volume" => sameRows(got, Seq(Seq(sum(rows.flatMap(_._2.volume)))))
      case "kpi_total_value" =>
        sameRows(got, Seq(Seq(sum(rows.flatMap(r => for (v <- r._2.volume; c <- r._2.close) yield v * c)))))
      case "daily_change" =>
        sameRows(got, bySym.flatMap { case (s, rs) =>
          rs.indices.map { i =>
            val prev = if (i == 0) None else rs(i - 1)._2.close
            val pct = prev match {
              case Some(p) if p != 0 => opt(rs(i)._2.close.map(c => (c.toDouble - p.toDouble) / p.toDouble))
              case _ => 0d
            }
            Seq(s, rs(i)._1, pct)
          }
        })
      case "trailing_volume_7d" =>
        def day(d: String) = java.time.LocalDate.parse(d).toEpochDay
        sameRows(got, bySym.flatMap { case (s, rs) =>
          rs.map { case (d, _) =>
            val vs = rs.filter { case (d2, _) => day(d2) <= day(d) && day(d2) > day(d) - 7 }.flatMap(_._2.volume)
            Seq(s, d, if (vs.isEmpty) null else vs.sum.toDouble / vs.size)
          }
        })
      case "vwap" =>
        sameRows(got, bySym.flatMap { case (s, rs) =>
          val cv = rs.flatMap { case (_, p) => for (c <- p.close; v <- p.volume) yield (c, v) }
          if (cv.isEmpty) None
          else {
            val qty = cv.map(_._2).sum
            Some(Seq(s, if (qty == 0) 0d else cv.map { case (c, v) => c * v }.sum.toDouble / qty.toDouble))
          }
        })
      case "day_slice" =>
        sameRows(got, rows.map { case (_, p) =>
          Seq(p.sym, opt(p.open), opt(p.high), opt(p.low), opt(p.close), opt(p.volume))
        })
    }
  }

  /** Files the executed plan scanned and its planning seconds. */
  def planStats(df: DataFrame): (Long, Double) = {
    val files = Scans.numFiles(df.queryExecution.executedPlan)
    val planning = df.queryExecution.tracker.phases.values.map(p => p.endTimeMs - p.startTimeMs).sum / 1000d
    (files, planning)
  }

  private object Scans extends AdaptiveSparkPlanHelper {
    def numFiles(p: SparkPlan): Long = collectWithSubqueries(p) {
      case s: FileSourceScanExec => s.metrics.get("numFiles").map(_.value).getOrElse(0L)
    }.sum
  }
}
