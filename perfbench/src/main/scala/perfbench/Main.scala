package perfbench

import java.io.File
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.util.control.NonFatal
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.model.Schemas
import graft.pipeline.{EodPipeline, PipelineReport}

/** One timed operation: a pipeline day, a backfill window or a dashboard
  * query. Epoch-ms bounds select the traced jobs it issued.
  */
final case class Op(kind: String, t0: Long, t1: Long, seconds: Double, days: Int = 0,
    above: Boolean = false, inputBytes: Long = 0, payloadBytes: Long = 0,
    written: (Long, Long) = (0L, 0L), reports: Seq[PipelineReport] = Nil,
    filesScanned: Long = 0, planningS: Double = 0, setup: Boolean = false)

/** Benchmark entry point: one workload, one seed, one JVM, one closed-loop client.
  *
  * {{{ perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir> }}}
  *
  * Prints one JSON line with `correct`, `attempted`, `failed` and the
  * end-to-end metrics (`--trace 0`) or the per-layer metrics (`--trace 1`).
  */
object Main {
  private val started = System.nanoTime()
  private def now = System.currentTimeMillis()
  private def log(s: String): Unit = System.err.println(s"[perfbench] $s")

  final class Run(val spark: SparkSession, val work: Path, val seed: Long, val seconds: Double,
      val tracer: Option[Tracer]) {
    val ops = mutable.ArrayBuffer.empty[Op]
    var attempted = 0
    var failed = 0
    var measureStart = 0L
    def traced = tracer.isDefined
    def dir(name: String): String = { val p = work.resolve(name); Files.createDirectories(p.getParent); p.toString }
    def fail(what: String): Unit = synchronized { failed += 1; log(s"FAILED: $what") }
    val payloads: Path = Files.createDirectories(work.resolve("payloads"))
    def measuring(): Unit = measureStart = System.nanoTime()
    def elapsed: Double = (System.nanoTime() - measureStart) / 1e9
  }

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = a("workload")
    val run = new Run(session(workload, a("src")), Paths.get(a("work")), a("seed").toLong,
      a("seconds").toDouble, if (a("trace") == "1") Some(new Tracer(Anchors.load(
        Paths.get(a("src"), "src/main/scala/graft/pipeline/EodPipeline.scala")))) else None)
    run.tracer.foreach(run.spark.sparkContext.addSparkListener)
    System.setProperty("perfbench.payloadDir", run.payloads.toString)
    val model = new Model
    val wh = run.work.resolve("warehouse")
    val pipe = new EodPipeline(wh.toString)
    workload match {
      case "backfill_deep" => backfillDeep(run, pipe, model)
      case "daily_wide" => dailyWide(run, pipe, model)
      case "dashboard" => dashboard(run, pipe, model)
      case w => sys.error(s"unknown workload $w")
    }
    val correct = run.failed == 0 && verify(run, pipe, model)
    if (!correct && run.failed == 0) run.failed = 1
    val metrics =
      if (run.traced) perLayer(run, pipe, wh)
      else endToEnd(run, wh)
    val body = metrics.map { case (k, v, u) =>
      val x = if (v.isNaN || v.isInfinite) 0d else v
      s""""$k": {"value": $x, "unit": "$u"}"""
    }.mkString(", ")
    val ok = correct && metrics.forall(m => !m._2.isNaN)
    println(s"""{"correct": $ok, "attempted": ${math.max(run.attempted, 1)}, "failed": ${run.failed}, "metrics": {$body}}""")
    run.spark.stop()
  }

  private def session(workload: String, src: String): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors.toString
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.local.dir", Paths.get(src, ".bench_build", "spark-local").toString)
      .config("spark.sql.warehouse.dir", Paths.get(src, ".bench_build", "spark-warehouse").toString)
    // Scaled listing cliff: a table with more partitions than this threshold
    // is listed by a Spark job on every read. Spark's default of 32 needs a
    // 33-day history, which does not fit one run, so the backfill workload
    // scales the threshold with its 9-day history.
    if (workload == "backfill_deep") b.config("spark.sql.sources.parallelPartitionDiscovery.threshold",
      Backfill.ListingThreshold.toString)
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    graft.plans.GraftRules.register(s)
    s
  }

  object Backfill {
    val Tickers = 2000
    val Windows = 3
    val DaysPerWindow = 3
    val ListingThreshold = 3
  }

  /** Start from an empty warehouse and backfill three consecutive windows
    * through the REST source, after the warm-up.
    */
  private def backfillDeep(run: Run, pipe: EodPipeline, model: Model): Unit = {
    import Backfill._
    val gen = new Gen(run.seed, Tickers)
    val start = java.time.LocalDate.of(2024, 1, 1).plusDays(run.seed.abs % 364)
    val days = gen.tradingDays(start, Windows * DaysPerWindow)
    val files = days.map { d =>
      val f = gen.jsonDay(d.toString, gen.nextDay(d))
      f -> Gen.writePayload(run.payloads.resolve(s"$d.json").toFile, f)
    }
    log(s"backfill_deep generator: ${gen.stats.summary}")
    val wh = Paths.get(pipe.factPath).getParent

    def window(fs: Seq[(DayFile, Long)], stage: String): Op = {
      val before = if (run.traced) Some(Listing.snapshot(wh)) else None
      val served = BenchTransport.bytesServed.get
      val t0 = now; val n0 = System.nanoTime()
      val reports = try pipe.backfillFromRest(run.spark, fs.head._1.date, fs.last._1.date,
          classOf[BenchTransport].getName, stage)
        catch { case NonFatal(e) => run.fail(s"backfill ${fs.head._1.date}: $e"); Nil }
      val secs = (System.nanoTime() - n0) / 1e9; val t1 = now
      run.attempted += fs.size
      val want = fs.map { case (f, _) => model.load(f) }
      if (reports.nonEmpty) {
        if (reports.size != want.size) run.fail(s"backfill gave ${reports.size} days, expected ${want.size}")
        else reports.zip(want).foreach { case (g, w) => model.diff(g, w).foreach(run.fail) }
      }
      val written = before.map(Listing.written(_, Listing.snapshot(wh))).getOrElse((0L, 0L))
      // past the threshold when the window's first day already lists its tables
      Op("window", t0, t1, secs, fs.size, above = model.core.size - fs.size + 1 > ListingThreshold,
        payloadBytes = BenchTransport.bytesServed.get - served, inputBytes = fs.map(_._2).sum,
        written = written, reports = reports)
    }

    warmUp(run, viaRest = true)
    run.measuring()
    files.grouped(DaysPerWindow).zipWithIndex.foreach { case (fs, w) =>
      run.ops += window(fs, run.dir(s"stage-$w"))
    }
  }

  object Warm {
    val Threads = 3
    val Days = 2
    val Tickers = 150
  }

  /** JIT and code-generation warm-up before timing: small pipelines run side
    * by side, each on its own warehouse and dates, so the driver-side code
    * paths run several times per second of set-up. Their reports are
    * checked against a model like every timed op.
    */
  private def warmUp(run: Run, viaRest: Boolean): Unit = {
    val threads = (0 until Warm.Threads).map { k =>
      new Thread(() => try {
        val gen = new Gen(run.seed * 31 + k, Warm.Tickers)
        val m = new Model
        val p = new EodPipeline(run.dir(s"warmup-$k/warehouse"))
        val days = gen.tradingDays(java.time.LocalDate.of(2030 + k, 1, 1), Warm.Days).map(_.toString)
        if (viaRest) {
          val fs = days.map { d =>
            val f = gen.jsonDay(d, gen.nextDay(java.time.LocalDate.parse(d)))
            Gen.writePayload(run.payloads.resolve(s"$d.json").toFile, f)
            f
          }
          val got = p.backfillFromRest(run.spark, days.head, days.last, classOf[BenchTransport].getName,
            run.dir(s"warmup-$k/stage"))
          val want = fs.map(m.load)
          if (got != want) run.fail(s"warm-up backfill $k: $got, expected $want")
        } else days.foreach { d =>
          val f = gen.csvDay(d, gen.nextDay(java.time.LocalDate.parse(d)))
          val file = new File(run.dir(s"warmup-$k/bronze/$d.csv"))
          Gen.writeCsv(file, f)
          m.diff(p.runDate(run.spark, file.toString, d), m.load(f)).foreach(run.fail)
        }
      } catch { case NonFatal(e) => run.fail(s"warm-up $k: $e") })
    }
    val t = System.nanoTime()
    threads.foreach(_.start())
    threads.foreach(_.join())
    log(f"session ready after ${(t - started) / 1e9}%.1f s, warm-up ${(System.nanoTime() - t) / 1e9}%.1f s")
  }

  object Daily {
    val Tickers = 10000
    val HistoryDays = 2
    val Pairs = 3
  }

  private def runDay(run: Run, pipe: EodPipeline, model: Model, f: DayFile, csv: File,
      bytes: Long, kind: String, setup: Boolean = false): Op = {
    val wh = Paths.get(pipe.factPath).getParent
    val before = if (run.traced) Some(Listing.snapshot(wh)) else None
    val t0 = now; val n0 = System.nanoTime()
    val r = try Some(pipe.runDate(run.spark, csv.toString, f.date))
      catch { case NonFatal(e) => run.fail(s"runDate ${f.date}: $e"); None }
    val secs = (System.nanoTime() - n0) / 1e9; val t1 = now
    if (!setup) run.attempted += 1
    val want = model.load(f)
    r.foreach(model.diff(_, want).foreach(run.fail))
    val written = before.map(Listing.written(_, Listing.snapshot(wh))).getOrElse((0L, 0L))
    Op(kind, t0, t1, secs, 1, inputBytes = bytes, written = written, reports = r.toSeq, setup = setup)
  }

  /** A short history, then a fixed number of new days, each followed by a
    * FORCE reload of one of the last three days, on wide bronze CSVs. The
    * work is fixed, not timed, so the stored bytes and sample counts do not
    * depend on the machine's speed.
    */
  private def dailyWide(run: Run, pipe: EodPipeline, model: Model): Unit = {
    import Daily._
    val gen = new Gen(run.seed, Tickers)
    val rnd = new java.util.SplittableRandom(run.seed ^ 0x5DEECE66DL)
    val days = gen.tradingDays(java.time.LocalDate.of(2024, 1, 1).plusDays(run.seed.abs % 364),
      HistoryDays + Pairs)
    val truth = mutable.Map.empty[String, Seq[Px]]
    var files = 0
    def csv(f: DayFile): (File, Long) = {
      files += 1
      val file = new File(run.dir(s"bronze/eod_prices_${f.date}_$files.csv"))
      file -> Gen.writeCsv(file, f)
    }
    def fresh(i: Int): (DayFile, File, Long) = {
      val d = days(i)
      val rows = gen.nextDay(d)
      truth(d.toString) = rows
      val f = gen.csvDay(d.toString, rows)
      val (file, n) = csv(f)
      (f, file, n)
    }
    warmUp(run, viaRest = false)
    (0 until HistoryDays).foreach { i =>
      val (f, file, n) = fresh(i)
      run.ops += runDay(run, pipe, model, f, file, n, "new", setup = true)
    }
    run.measuring()
    (0 until Pairs).foreach { pair =>
      val (f, file, n) = fresh(HistoryDays + pair)
      run.ops += runDay(run, pipe, model, f, file, n, "new")
      val d = days(HistoryDays + pair - rnd.nextInt(3)).toString
      truth(d) = gen.revise(truth(d))
      val rf = gen.csvDay(d, truth(d))
      val (rfile, rn) = csv(rf)
      run.ops += runDay(run, pipe, model, rf, rfile, rn, "reload")
    }
    log(s"daily_wide generator: ${gen.stats.summary}")
  }

  object Dash {
    val Tickers = 10000
    val StarDays = 3
    val WarmQueries = 3 * Dashboard.Types.size
    val MinQueries = 16
    val MaxQueries = 400
  }

  /** Build a star in set-up, then run dashboard queries until the run's time
    * is up, each checked against the model.
    */
  private def dashboard(run: Run, pipe: EodPipeline, model: Model): Unit = {
    import Dash._
    val gen = new Gen(run.seed, Tickers)
    val days = gen.tradingDays(java.time.LocalDate.of(2024, 1, 1).plusDays(run.seed.abs % 364), StarDays)
    days.foreach { d =>
      val f = gen.csvDay(d.toString, gen.nextDay(d))
      val file = new File(run.dir(s"bronze/eod_prices_$d.csv"))
      val n = Gen.writeCsv(file, f)
      run.ops += runDay(run, pipe, model, f, file, n, "new", setup = true)
    }
    log(s"dashboard generator: ${gen.stats.summary}")
    val rnd = new java.util.SplittableRandom(run.seed ^ 0x2545F4914F6CDD1DL)
    // The star build warms the JVM; untimed rounds of every visual on the
    // star warm the query paths, then the timed loop starts.
    var i = -WarmQueries
    while (i < MaxQueries && (i < MinQueries || run.elapsed < run.seconds)) {
      if (i == 0) run.measuring()
      val q = Dashboard.draw(i + WarmQueries, rnd, model)
      if (i >= 0) run.attempted += 1
      val t0 = now; val n0 = System.nanoTime()
      try {
        val df = Dashboard.frame(run.spark, pipe, q)
        val rows = df.collect().toSeq
        val secs = (System.nanoTime() - n0) / 1e9; val t1 = now
        val (files, planning) = if (run.traced) Dashboard.planStats(df) else (0L, 0d)
        if (!Dashboard.check(q, model, rows)) run.fail(s"query $q answered ${rows.take(5)}")
        if (i >= 0) run.ops += Op(q.kind, t0, t1, secs, filesScanned = files, planningS = planning)
      } catch { case NonFatal(e) => run.fail(s"query $q: $e") }
      i += 1
    }
  }

  /** End-of-run check of the warehouse against the model: the dimension's
    * keys exactly, and the exact FACT checksums of every date.
    */
  private def verify(run: Run, pipe: EodPipeline, model: Model): Boolean = try {
    val dim = pipe.dimSecurity(run.spark).collect().map(r => r.getString(1) -> r.getLong(0)).toMap
    val dimOk = dim == model.dim.toMap
    if (!dimOk) log(s"dim_security: ${dim.size} keys, model ${model.dim.size}; " +
      s"first difference ${(dim.toSet diff model.dim.toSet).take(3)}")
    val fact = run.spark.read.schema(Schemas.factDailyPrice).parquet(pipe.factPath)
      .groupBy(col("trade_date").cast("string"))
      .agg(count(lit(1)).cast("decimal(38,0)"), count_if(col("close").isNull).cast("decimal(38,0)"),
        sum(col("open")), sum(col("high")), sum(col("low")),
        sum(col("security_id").cast("decimal(20,0)") * col("close")),
        sum(col("security_id").cast("decimal(20,0)") * col("volume")))
      .collect().map(r => r.getString(0) -> (1 until r.length).map(i =>
        Option(r.getDecimal(i)).map(BigDecimal(_)).getOrElse(BigDecimal(0)))).toMap
    val want = model.factChecksums
    val factOk = fact.keySet == want.keySet && want.forall { case (d, w) =>
      fact(d).zip(w).forall { case (g, x) => g.compare(x) == 0 } }
    if (!factOk) log(s"fact checksums differ: got ${fact.toSeq.sortBy(_._1).take(2)}, " +
      s"expected ${want.toSeq.sortBy(_._1).take(2)}")
    dimOk && factOk
  } catch { case NonFatal(e) => log(s"verify: $e"); false }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Seconds per op, where a backfill window counts as its trading days. */
  private def sPerOp(ops: Seq[Op]): Double =
    ops.map(_.seconds).sum / math.max(ops.map(o => math.max(o.days, 1)).sum, 1)

  /** The end-to-end metrics every workload reports, each in its own terms
    * (see perfbench/README.md): an op is a backfilled trading day, a daily
    * run or a dashboard query.
    */
  private def endToEnd(run: Run, wh: Path): Seq[(String, Double, String)] = {
    val timed = run.ops.filterNot(_.setup).toSeq
    val perDay = timed.map(o => o.seconds / math.max(o.days, 1))
    val (base, heavy) = timed.headOption.map(_.kind).getOrElse("") match {
      case "window" => (timed.filterNot(_.above), timed.filter(_.above))
      case "new" | "reload" => (timed.filter(_.kind == "new"), timed.filter(_.kind == "reload"))
      case _ => (timed.filterNot(o => Dashboard.Heavy(o.kind)), timed.filter(o => Dashboard.Heavy(o.kind)))
    }
    def p50(os: Seq[Op]) = median(os.map(o => o.seconds / math.max(o.days, 1)))
    val input = run.ops.map(_.inputBytes).sum
    log(f"ops=${timed.size} base_n=${base.size} heavy_n=${heavy.size} per-op=${perDay.map(x => f"$x%.3f").mkString(",")}")
    Seq(
      ("setup_s", (run.measureStart - started) / 1e9, "s"),
      ("s_per_op", sPerOp(timed), "s"),
      ("base_op_p50_s", p50(base), "s"),
      ("heavy_op_p50_s", p50(heavy), "s"),
      ("stored_bytes_per_input_byte", Listing.bytes(wh).toDouble / input, "ratio"))
  }

  /** Per-layer metrics of the traced run, from the listener's jobs inside
    * each op's interval and the warehouse listings taken around each op.
    */
  private def perLayer(run: Run, pipe: EodPipeline, wh: Path): Seq[(String, Double, String)] = {
    val spark = run.spark
    org.apache.spark.BenchBus.drain(spark.sparkContext)
    val tr = run.tracer.get
    val all = run.ops.toSeq
    val measuredPipe = all.filter(o => !o.setup && o.days > 0)
    val pipeOps = if (measuredPipe.nonEmpty) measuredPipe else all.filter(_.days > 0)
    val queries = all.filter(_.days == 0)
    val days = math.max(pipeOps.map(_.days).sum, 1).toDouble
    def jobs(o: Op) = tr.within(o.t0, o.t1)
    def busy(stage: String) =
      pipeOps.map(o => Tracer.unionMs(jobs(o).filter(_.stage == stage), o.t0, o.t1)).sum / 1000d / days
    val wallMs = pipeOps.map(o => (o.t1 - o.t0).toDouble).sum
    val gapMs = pipeOps.map(o => (o.t1 - o.t0) - Tracer.unionMs(jobs(o), o.t0, o.t1)).sum.toDouble
    val stageMs = (Anchors.Stages :+ "fetch_stage").map(s => busy(s) * days * 1000).sum
    def listingPerDay(os: Seq[Op]) =
      if (os.isEmpty) 0d else os.map(o => jobs(o).count(_.listing)).sum.toDouble / os.map(_.days).sum
    val reports = pipeOps.flatMap(_.reports)
    val rawRows = reports.map(_.rawRows).sum.toDouble
    val pipeInput = pipeOps.map(_.inputBytes).sum.toDouble
    val nullRatio = {
      val raw = spark.read.schema(Schemas.raw).parquet(pipe.rawPath)
      val cells = Seq("open", "high", "low", "close", "volume")
      val r = raw.agg(count(lit(1)), cells.map(c => count_if(col(c).isNull)): _*).head()
      (1 to cells.size).map(r.getLong).sum.toDouble / math.max(r.getLong(0) * cells.size, 1L)
    }
    val dimVersions = Seq(pipe.dimSecurityPath, pipe.dimDatePath).map { d =>
      val f = new File(d)
      Option(f.listFiles()).map(_.count(c => c.isDirectory && c.getName.startsWith("_v-"))).getOrElse(0)
    }.sum
    def qp50(kind: String) = median(queries.filter(_.kind == kind).map(_.seconds))
    val nq = math.max(queries.size, 1).toDouble
    val qJobs = queries.map(q => jobs(q))
    val layer = Seq(
      ("source.fetch_stage_s", busy("fetch_stage"), "s"),
      ("source.payload_bytes", pipeOps.map(_.payloadBytes).sum / days, "bytes"),
      ("source.rows_parsed", rawRows / days, "count"),
      ("source.rows_null_typed_ratio", nullRatio, "ratio"),
      ("pipeline.jobs_per_day", pipeOps.map(jobs(_).size).sum / days, "count"),
      ("pipeline.listing_jobs_per_day", listingPerDay(pipeOps), "count"),
      ("pipeline.listing_jobs_per_day_below_threshold", listingPerDay(pipeOps.filterNot(_.above)), "count"),
      ("pipeline.listing_jobs_per_day_above_threshold", listingPerDay(pipeOps.filter(_.above)), "count"),
      ("pipeline.driver_gap_s", gapMs / 1000 / days, "s"),
      ("pipeline.raw_load_s", busy("raw_load"), "s"),
      ("pipeline.core_merge_s", busy("core_merge"), "s"),
      ("pipeline.dims_s", busy("dims"), "s"),
      ("pipeline.fact_merge_s", busy("fact_merge"), "s"),
      ("pipeline.reconcile_s", busy("reconcile"), "s"),
      ("pipeline.unattributed_s", busy("other"), "s"),
      ("pipeline.tasks_per_day", pipeOps.flatMap(jobs).map(_.tasks).sum / days, "count"),
      ("pipeline.shuffle_bytes_per_day", pipeOps.flatMap(jobs).map(_.shuffleBytes).sum / days, "bytes"),
      ("ops.files_written_per_day", pipeOps.map(_.written._1).sum / days, "count"),
      ("ops.bytes_written_per_day", pipeOps.map(_.written._2).sum / days, "bytes"),
      ("ops.write_amp", pipeOps.map(_.written._2).sum / math.max(pipeInput, 1d), "ratio"),
      ("ops.dim_versions_retained", dimVersions.toDouble, "count"),
      ("ops.dedup_keep_ratio", reports.map(_.coreRows).sum / math.max(rawRows, 1d), "ratio"),
      ("trace.stage_sum_share", (stageMs + gapMs) / math.max(wallMs, 1d), "ratio"),
      ("trace.s_per_op_traced", sPerOp(all.filterNot(_.setup)), "s"))
    val analytics = Dashboard.Types.map(t => (s"analytics.${t}_p50_s", qp50(t), "s")) ++ Seq(
      ("analytics.files_scanned_per_query", queries.map(_.filesScanned).sum / nq, "count"),
      ("analytics.bytes_scanned_per_query", qJobs.flatten.map(_.inputBytes).sum / nq, "bytes"),
      ("analytics.jobs_per_query", qJobs.map(_.size).sum / nq, "count"),
      ("analytics.planning_s", queries.map(_.planningS).sum / nq, "s"))
    (layer ++ analytics).map { case (k, v, u) => (k, if (v.isNaN) 0d else v, u) }
  }
}
