package perfbench

import java.io.{File, PrintWriter}
import java.time.{DayOfWeek, LocalDate}
import scala.collection.mutable

/** One price row as the model sees it: canonical symbol and typed values
  * (None where the file carried a NULL_IF token).
  */
final case class Px(sym: String, open: Option[BigDecimal], high: Option[BigDecimal],
    low: Option[BigDecimal], close: Option[BigDecimal], volume: Option[BigDecimal])

/** One generated file for one trading date: the rows the model keeps (one
  * per canonical symbol) and the text lines written, which carry the planted
  * properties.
  */
final case class DayFile(date: String, rows: Seq[Px], lines: Seq[String])

/** Planted-property tallies over every line the generator wrote. */
final class GenStats {
  var lines = 0L; var variantSymbols = 0L; var nullTokens = 0L; var duplicates = 0L
  var listings = 0L; var delistings = 0L; var days = 0L; var minTickers = Long.MaxValue
  def share(n: Long): Double = if (lines == 0) 0d else n.toDouble / lines
  def summary: String =
    f"lines=$lines variant_symbol_share=${share(variantSymbols)}%.4f " +
      f"null_token_share=${share(nullTokens)}%.4f duplicate_share=${share(duplicates)}%.4f " +
      f"listings_per_day=${listings.toDouble / math.max(days, 1)}%.1f " +
      f"delistings_per_day=${delistings.toDouble / math.max(days, 1)}%.1f min_tickers=$minTickers"
}

/** Seeded generator of reference-shaped end-of-day prices.
  *
  * Every day keeps at least `tickers` listed symbols (far above the
  * pipeline's 100-row V1 gate) and plants: ~1 % lower-case or space-padded
  * symbols, ~0.5 % NULL_IF tokens ('' or 'NaN') in a numeric field, ~1 %
  * exact-duplicate rows (exact, so the within-file tie in the dedup cannot
  * change the answer) and ~0.4 % listings and delistings per day. A symbol
  * appears once per file apart from its exact duplicate, so the latest row
  * per (symbol, date) is well defined.
  */
final class Gen(seed: Long, tickers: Int) {
  private val rnd = new java.util.SplittableRandom(seed)
  val stats = new GenStats

  /** Four-letter ticker; 7919 is coprime with 26^4, so symbols are distinct
    * and spread over the alphabet (listings interleave with existing ones).
    */
  private var nextSym = 0
  private def freshSymbol(): String = {
    nextSym += 1
    require(nextSym < 456976, "ticker space exhausted")
    var k = (nextSym.toLong * 7919 % 456976).toInt
    val cs = new Array[Char](4)
    for (j <- 3 to 0 by -1) { cs(j) = ('A' + k % 26).toChar; k /= 26 }
    new String(cs)
  }

  private val active = mutable.LinkedHashMap.empty[String, BigDecimal] // symbol -> last close
  for (_ <- 0 until tickers) active(freshSymbol()) = price(5, 500)

  private def price(lo: Int, hi: Int): BigDecimal =
    BigDecimal(lo * 10000L + rnd.nextLong((hi - lo) * 10000L), 4)

  /** The first `n` weekdays on or after `from`. */
  def tradingDays(from: LocalDate, n: Int): Seq[LocalDate] =
    Iterator.iterate(from)(_.plusDays(1))
      .filter(d => d.getDayOfWeek != DayOfWeek.SATURDAY && d.getDayOfWeek != DayOfWeek.SUNDAY)
      .take(n).toIndexedSeq

  /** Advance the market one trading day: delist ~0.4 %, list ~0.4 %, move
    * every close by up to ±3 %, and return the day's rows.
    */
  def nextDay(date: LocalDate): Seq[Px] = {
    val churn = math.max(1, tickers / 250)
    for (_ <- 0 until churn if active.size > tickers) {
      active.remove(active.keysIterator.drop(rnd.nextInt(active.size)).next())
      stats.delistings += 1
    }
    for (_ <- 0 until churn) { active(freshSymbol()) = price(5, 500); stats.listings += 1 }
    while (active.size > tickers + churn) { // keep the universe near `tickers`
      active.remove(active.keysIterator.drop(rnd.nextInt(active.size)).next())
      stats.delistings += 1
    }
    active.toSeq.map { case (s, prev) =>
      val close = (prev * BigDecimal(970 + rnd.nextInt(61)) / 1000).setScale(4, BigDecimal.RoundingMode.HALF_UP)
        .max(BigDecimal("0.0100"))
      active(s) = close
      val open = (prev * BigDecimal(985 + rnd.nextInt(31)) / 1000).setScale(4, BigDecimal.RoundingMode.HALF_UP)
      val high = open.max(close) + BigDecimal(rnd.nextInt(5000), 4)
      val low = (open.min(close) - BigDecimal(rnd.nextInt(5000), 4)).max(BigDecimal("0.0001"))
      Px(s, Some(open), Some(high), Some(low), Some(close), Some(BigDecimal(1000L + rnd.nextLong(9999000L))))
    }
  }

  /** A FORCE re-download of `rows`: ~2 % of closes revised. */
  def revise(rows: Seq[Px]): Seq[Px] = rows.map { p =>
    if (rnd.nextInt(50) != 0) p
    else p.copy(close = Some(p.close.getOrElse(BigDecimal(1)) + BigDecimal(1 + rnd.nextInt(9999), 4)))
  }

  /** Plant the file-level properties into `rows` and render them with
    * `render(date, symbolAsWritten, fieldsAsWritten)`. Returns what the
    * model keeps (NULL_IF tokens applied) and the lines.
    */
  private def plant(date: String, rows: Seq[Px],
      render: (String, String, Seq[String]) => String): DayFile = {
    val kept = Seq.newBuilder[Px]
    val lines = Seq.newBuilder[String]
    stats.days += 1
    stats.minTickers = math.min(stats.minTickers, rows.size.toLong)
    rows.foreach { p =>
      val sym = rnd.nextInt(100) match {
        case 0 => stats.variantSymbols += 1
          rnd.nextInt(4) match {
            case 0 => p.sym.toLowerCase
            case 1 => " " + p.sym
            case 2 => p.sym + " "
            case _ => " " + p.sym.toLowerCase + " "
          }
        case _ => p.sym
      }
      val vals = Array(p.open, p.high, p.low, p.close, p.volume)
      val fields = vals.map(_.map(_.bigDecimal.toPlainString).getOrElse(""))
      if (rnd.nextInt(200) == 0) {
        stats.nullTokens += 1
        val f = rnd.nextInt(5)
        fields(f) = if (rnd.nextBoolean()) "" else "NaN"
        vals(f) = None
      }
      val line = render(date, sym, fields.toIndexedSeq)
      lines += line; stats.lines += 1
      if (rnd.nextInt(100) == 0) { lines += line; stats.lines += 1; stats.duplicates += 1 }
      kept += Px(p.sym, vals(0), vals(1), vals(2), vals(3), vals(4))
    }
    DayFile(date, kept.result(), lines.result())
  }

  /** Bronze CSV day file in the reference writer's layout. */
  def csvDay(date: String, rows: Seq[Px]): DayFile =
    plant(date, rows, (d, s, f) => (d +: s +: f).mkString(","))

  /** Grouped-daily JSON payload records (T/o/h/l/c/v, values as strings). */
  def jsonDay(date: String, rows: Seq[Px]): DayFile =
    plant(date, rows, (_, s, f) =>
      s"""{"T":"$s","o":"${f(0)}","h":"${f(1)}","l":"${f(2)}","c":"${f(3)}","v":"${f(4)}"}""")
}

object Gen {
  val CsvHeader = "trade_date,symbol,open,high,low,close,volume"

  def writeCsv(f: File, day: DayFile): Long = {
    f.getParentFile.mkdirs()
    val w = new PrintWriter(f, "UTF-8")
    try { w.println(CsvHeader); day.lines.foreach(w.println) } finally w.close()
    f.length()
  }

  def writePayload(f: File, day: DayFile): Long = {
    f.getParentFile.mkdirs()
    val w = new PrintWriter(f, "UTF-8")
    try w.print(s"""{"queryCount":${day.lines.size},"resultsCount":${day.lines.size},"results":[${day.lines.mkString(",")}]}""")
    finally w.close()
    f.length()
  }
}
