package graft
import org.apache.spark.sql.SparkSession

/** Counts every streaming-query start and micro-batch of a bench pass,
  * plus the engine's own per-batch triggerExecution time — the measured
  * decomposition behind the `streaming_engine_s` bucket. Registered via
  * the `spark.sql.streaming.streamingQueryListeners` conf (not
  * addListener) so CHILD sessions — q186 runs its provider pipelines on
  * `newSession()` clones — report too: each session instantiates its own
  * StreamMeter, and the counters are companion-level statics.
  */
class StreamMeter
    extends org.apache.spark.sql.streaming.StreamingQueryListener {
  import org.apache.spark.sql.streaming.StreamingQueryListener._
  import StreamMeter._
  override def onQueryStarted(e: QueryStartedEvent): Unit = {
    starts.incrementAndGet(); ()
  }
  override def onQueryProgress(e: QueryProgressEvent): Unit = {
    batches.incrementAndGet()
    Option(e.progress.durationMs.get("triggerExecution"))
      .foreach(ms => triggerMs.addAndGet(ms))
    // Decompose the engine's own per-batch wall (round 19, the r18
    // verdict's #6): planning vs data (addBatch) vs offset/commit-log I/O.
    // These are the engine's standard durationMs components — attributing
    // the bucket's above-floor seconds to one of them is the prerequisite
    // for deciding whether any is worth optimizing at all.
    Option(e.progress.durationMs.get("queryPlanning"))
      .foreach(ms => planningMs.addAndGet(ms))
    Option(e.progress.durationMs.get("addBatch"))
      .foreach(ms => addBatchMs.addAndGet(ms))
    Option(e.progress.durationMs.get("walCommit"))
      .foreach(ms => walMs.addAndGet(ms))
    Option(e.progress.durationMs.get("commitOffsets"))
      .foreach(ms => walMs.addAndGet(ms))
    // A start is STATEFUL if any of its batches reports state operators —
    // counted once per runId, on the first such batch. Feeds the floor
    // mix (round-16 #1): a stateful start's engine floor is ~3-4x the
    // stateless one (state-store provider setup), so an all-stateless
    // denominator reads every stateful-heavy pass as ratio inflation.
    if (e.progress.stateOperators != null && e.progress.stateOperators.nonEmpty &&
        statefulRuns.putIfAbsent(e.progress.runId, java.lang.Boolean.TRUE) == null)
      statefulStarts.incrementAndGet()
    ()
  }
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
}

object StreamMeter {
  val starts = new java.util.concurrent.atomic.AtomicLong(0L)
  val batches = new java.util.concurrent.atomic.AtomicLong(0L)
  val triggerMs = new java.util.concurrent.atomic.AtomicLong(0L)
  val planningMs = new java.util.concurrent.atomic.AtomicLong(0L)
  val addBatchMs = new java.util.concurrent.atomic.AtomicLong(0L)
  val walMs = new java.util.concurrent.atomic.AtomicLong(0L)
  val statefulStarts = new java.util.concurrent.atomic.AtomicLong(0L)
  val statefulRuns =
    new java.util.concurrent.ConcurrentHashMap[java.util.UUID, java.lang.Boolean]()
  case class Snap(starts: Long, batches: Long, triggerMs: Long,
      statefulStarts: Long, planningMs: Long = 0L, addBatchMs: Long = 0L,
      walMs: Long = 0L)
  def snap(): Snap = Snap(starts.get, batches.get, triggerMs.get,
    statefulStarts.get, planningMs.get, addBatchMs.get, walMs.get)
  /** Counter deltas since `s0` — the per-rep accounting that keeps the
    * emitted stream metrics on the SAME denominator as the min-of-reps
    * per-query times (round 14 emitted warmup+all-reps totals against
    * min-of-reps walls — mixed denominators, flagged by the advisor).
    */
  def since(s0: Snap): Snap =
    Snap(starts.get - s0.starts, batches.get - s0.batches,
      triggerMs.get - s0.triggerMs, statefulStarts.get - s0.statefulStarts,
      planningMs.get - s0.planningMs, addBatchMs.get - s0.addBatchMs,
      walMs.get - s0.walMs)
  def reset(): Unit = {
    starts.set(0); batches.set(0); triggerMs.set(0)
    planningMs.set(0); addBatchMs.set(0); walMs.set(0)
    statefulStarts.set(0); statefulRuns.clear()
  }
}

/** The regression gate's PURE logic — ambient normalization, mover
  * detection, isolated-verdict classification, and the transient-block
  * signature — separated from the Spark run loop so every rule the gate
  * applies is unit-testable with synthetic numbers (BenchGateSpec).
  *
  * Round-15 change (the round-14 verdict's top item): the gate is
  * SELF-ADJUDICATING. Two rounds running, the recorded artifact closed
  * `FAIL N regression(s)` on flags that all re-measured clean in an
  * isolated window — the pass-level ambient median can't see a 30 s
  * time-local transient that spans ~14 of 320 queries. So after the
  * pass, every flagged query is re-run isolated (min-of-3, post-cleanup,
  * same JVM — the `SPARK_GRAFT_BENCH_FILTER` discipline the verify skill
  * prescribes) and the gate's verdict is rendered on the ISOLATED
  * number: `regression` only when the quiet re-measure still exceeds the
  * base tolerance. Both values ride the emitted JSON per flag, so the
  * artifact carries its own adjudication instead of needing a judge to
  * re-run it.
  */
object BenchGate {
  val Tolerance = 1.5
  // noise floor raised 0.5 -> 0.75 (round 14): sub-second-base queries
  // swing +-0.3-0.4 s between windows on this VM; every query whose cost
  // can regress meaningfully sits above 1 s
  val Floor = 0.75
  val AmbientCap = 1.5

  /** The pass's ambient factor: the MEDIAN measured/expected over the
    * stable population (expected >= 0.3 s — below that JIT noise
    * dominates). Returns (clamped factor, population size); identity when
    * the population is too small to trust a median.
    */
  def ambient(results: Seq[(String, Double)],
      expected: Map[String, Double]): (Double, Int) = {
    val ratios = results.flatMap { case (n, t) =>
      expected.get(n).filter(_ >= 0.3).map(e => t / e)
    }.sorted
    if (ratios.size < 5) (1.0, ratios.size)
    else (math.min(AmbientCap, math.max(1.0, ratios(ratios.size / 2))),
      ratios.size)
  }

  def isMover(t: Double, e: Double, tolEff: Double): Boolean =
    t > math.max(e, Floor) * tolEff

  /** One flag's life: pass-time, manifest entry, and (after adjudication)
    * the isolated min-of-3 plus the rendered verdict.
    */
  case class Flag(name: String, passS: Double, expectedS: Double,
      isolatedS: Double, verdict: String) {
    def json: String =
      s"""{"q":"$name","pass_s":${f"$passS%.3f"},""" +
        s""""expected_s":${f"$expectedS%.3f"},""" +
        s""""isolated_s":${f"$isolatedS%.3f"},"verdict":"$verdict"}"""
  }

  /** Verdict on the isolated re-measure: a genuine plan regression stays
    * slow in a quiet window; a transient adjudicates back under the BASE
    * tolerance (no ambient scaling — the re-run IS the quiet window).
    */
  def verdictOf(isolatedS: Double, expectedS: Double): String =
    if (isMover(isolatedS, expectedS, Tolerance)) "regression"
    else "ambient-transient"

  /** ADJUDICATED streaming numerator (round 16 #1): the in-pass min-rep
    * wall sum with each flagged streaming query's ISOLATED min-of-3
    * substituted for its in-pass wall. The round-15 artifact closed
    * `ratio 6.15 REGRESSION` on a numerator whose two streaming flags the
    * adjudication pass had already re-measured at 4.10/1.51 s (vs
    * 19.54/5.67 in-pass) — the gate rendered its verdict on numbers one
    * field over from their own correction. Substitution applies ONLY to
    * flags whose verdict is `ambient-transient` (round-17 advisory fix):
    * a flag CONFIRMED as a regression keeps its full in-pass wall in the
    * numerator — the isolated re-run happens in a quiet warm JVM right
    * after the pass, and substituting it unconditionally let a
    * contention-reproducing regression adjudicate itself under the
    * bucket bound. A planted sleep is verdicted `regression` (it
    * survives isolation), so it rides at full weight and still trips.
    */
  def adjudicatedStreamingS(passS: Double, flags: Seq[Flag],
      isStreaming: String => Boolean): Double =
    passS + flags.filter(f => isStreaming(f.name) && f.isolatedS >= 0 &&
        f.verdict == "ambient-transient")
      .map(f => f.isolatedS - f.passS).sum

  /** Mixed engine floor (round 16 #1, second clause): stateful starts pay
    * the measured stateful per-start floor (state-store provider setup +
    * commit of state), stateless starts the stateless one. An
    * all-stateless denominator read ~0.28 s/start against a bucket whose
    * stateful majority floors at ~1 s/start — optimistically low floors
    * manufacture ratio breaches.
    *
    * Listener events are async: a start whose first stateful batch lands
    * in the NEXT window's snapshot can make a delta Snap report
    * statefulStarts > starts — the raw difference then goes negative and
    * corrupts the floor. Both terms clamp (round-17 advisory fix).
    */
  def mixedFloor(starts: Long, statefulStarts: Long,
      statelessFloorS: Double, statefulFloorS: Double): Double = {
    val sf = math.min(statefulStarts, starts)
    sf * statefulFloorS + math.max(0L, starts - sf) * statelessFloorS
  }

  /** The execution order of rep `rep` (1-based): odd reps run the
    * catalog sorted, even reps REVERSED (round-17 #1). min-of-2 over two
    * different execution orders absorbs a time-local ambient transient —
    * a disturbance window that spans positions [k, k+w) of one order
    * covers a DIFFERENT query set in the other, so no query (outside the
    * unlucky center overlap) is inflated in both reps. Same-order reps
    * handed every transient ~14 contiguous phantom flags per pass.
    */
  def repOrder[A](rep: Int, names: Seq[A]): Seq[A] =
    if (rep % 2 == 1) names else names.reverse

  /** The transient signature (round-14 adjudication, made mechanical):
    * flags forming one lexicographically CONTIGUOUS run of the pass's
    * execution order — allowing gaps only where the in-between query has
    * no manifest entry or sits under the noise floor (it cannot flag) —
    * are one time-local machine event, not N independent plan
    * regressions. `allNames` must be the pass's execution (sorted) order.
    */
  def contiguousBlock(flagged: Seq[String], allNames: Seq[String],
      canFlag: String => Boolean): Boolean = {
    if (flagged.size < 3) return false
    val idx = allNames.zipWithIndex.toMap
    val pos = flagged.flatMap(idx.get).sorted
    if (pos.size != flagged.size) return false
    val between = allNames.slice(pos.head, pos.last + 1)
    val flaggedSet = flagged.toSet
    between.forall(n => flaggedSet(n) || !canFlag(n))
  }
}

object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.start(GraftSession.builder()
      .config("spark.sql.streaming.streamingQueryListeners",
        classOf[StreamMeter].getName))
    // Synthetic-regression seam: SPARK_GRAFT_BENCH_SLEEP="qname:millis[,…]"
    // injects a sleep INSIDE the timed window of the named queries — in the
    // pass AND in the isolated adjudication — so the self-adjudicating gate
    // itself is testable end-to-end (a planted 2 s sleep must survive the
    // isolated re-run and close FAIL; a transient, by definition, doesn't).
    val plantedSleep: Map[String, Long] =
      sys.env.get("SPARK_GRAFT_BENCH_SLEEP").map(_.split(",").map { kv =>
        val Array(n, ms) = kv.split(":"); n -> ms.toLong
      }.toMap).getOrElse(Map.empty)
    // Force FULL row production: a plain df.count() lets Catalyst prune
    // every column the count doesn't need, so projection-heavy operators
    // (regex redaction, hashing, vector math) would be measured as bare
    // scans. Counting the executed plan's row RDD computes every emitted
    // column without collecting rows to the driver.
    def run(df: org.apache.spark.sql.DataFrame): Long = df.queryExecution.toRdd.count()
    // One timed execution of a named query, with the planted-sleep seam.
    def timedOnce(name: String,
        fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Double = {
      val t0 = System.nanoTime()
      plantedSleep.get(name).foreach(Thread.sleep)
      try { run(fn(spark, sfDir)) } catch { case _: Throwable => -1L }
      (System.nanoTime() - t0) / 1e9
    }
    // Untimed warmup: JIT, codegen compilation, parquet footer caches, plus
    // one pass through the heavy lineages (LSH banding, KNN vector math) so
    // their codegen/JIT cost doesn't land in the first timed rep.
    try {
      SparkEntry.queries.get("q09_check_loaded").foreach(f => run(f(spark, sfDir)))
      SparkEntry.queries.get("q28_lang_id").foreach(f => run(f(spark, sfDir)))
      SparkEntry.queries.get("q25_knn_cosine").foreach(f => run(f(spark, sfDir)))
      SparkEntry.queries.get("q22_lsh_candidates").foreach(f => run(f(spark, sfDir)))
      // streaming lineage warmup: state-store providers, the streaming
      // planner, and the memory-sink machinery JIT once here instead of
      // inside the first timed streaming rep
      SparkEntry.queries.get("q103_streaming_kmv").foreach(f => run(f(spark, sfDir)))
    } catch { case _: Throwable => () }
    GraftSession.reset(spark)
    // MEASURED per-start engine floor (round 15, ratifying the round-11
    // target's retirement): a minimal one-file AvailableNow stream through
    // a memory sink — planning + offset/commit log and nothing else —
    // measured MEDIAN-OF-5 stateless and stateful (round 16 #2: the r15
    // pass's min-of-3 came out 0.28 s vs StreamFloorSpec's 0.4-0.9 s
    // measurements — a min of a minimal stream in a noisy pass is
    // high-variance in both directions, and a too-low floor manufactures
    // ratio breaches; the median is the stable estimator). The streaming
    // bucket's formal target is a RATIO against the per-start floor mix
    // (stateful starts × stateful floor + stateless × stateless floor), so
    // a future streaming regression shows as floor-ratio drift instead of
    // hiding inside a dead absolute-seconds target.
    val (floorStatelessS, floorStatefulS) = {
      import org.apache.spark.sql.functions._
      val dir = s"${sys.props("java.io.tmpdir")}/graft_q/bench_floor_" +
        java.lang.ProcessHandle.current().pid()
      try {
        val p = new org.apache.hadoop.fs.Path(dir)
        val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        if (fs.exists(p)) fs.delete(p, true)
        spark.range(1).selectExpr("id AS k", "'a' AS v")
          .coalesce(1).write.parquet(s"$dir/in/f1")
        val schema = spark.read.parquet(s"$dir/in/f1").schema
        def once(i: Int, stateful: Boolean): Double = {
          val t0 = System.nanoTime()
          val src = spark.readStream.schema(schema).parquet(s"$dir/in/*")
          val out = if (stateful) src.groupBy(col("v")).agg(count(lit(1)).as("n"))
            else src.select(col("k"), col("v"))
          val q = out.writeStream.format("memory").queryName(s"bench_floor_$i")
            .outputMode(if (stateful) "complete" else "append")
            .option("checkpointLocation", s"$dir/cp$i")
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
            .start()
          q.awaitTermination()
          (System.nanoTime() - t0) / 1e9
        }
        def med(xs: Seq[Double]): Double = xs.sorted.apply(xs.size / 2)
        (med((1 to 5).map(once(_, stateful = false))),
          med((6 to 10).map(once(_, stateful = true))))
      } catch { case _: Throwable => (0.0, 0.0) }
    }
    GraftSession.reset(spark)
    // Counters start at ZERO for the timed pass: warmup and the floor
    // probes above must not ride the emitted stream metrics (the advisor's
    // mixed-denominator finding).
    StreamMeter.reset()
    // The recorded figure is the per-query MINIMUM over `reps` runs —
    // default 2. Round-2 showed single-shot times on this VM carry up to
    // 5x of JIT/GC noise on heavy lineages (a 5.2 s query recorded as
    // 27.6 s); min-of-2 makes the grading artifact reproducible within
    // ~20% while only doubling wall time. Dev knobs: SPARK_GRAFT_BENCH_FILTER
    // restricts to name prefixes, SPARK_GRAFT_BENCH_REPS overrides the rep
    // count — any knob-run is tagged in the emitted JSON so it cannot be
    // mistaken for a comparable full-catalog figure.
    val nameFilter: String => Boolean = sys.env.get("SPARK_GRAFT_BENCH_FILTER") match {
      case Some(ps) => val prefixes = ps.split(","); n => prefixes.exists(n.startsWith)
      case None => _ => true
    }
    val defaultReps = 2
    val reps = sys.env.get("SPARK_GRAFT_BENCH_REPS") match {
      case None => defaultReps
      case Some(raw) => raw.toIntOption.filter(_ >= 1).getOrElse(
        sys.error(s"SPARK_GRAFT_BENCH_REPS must be a positive integer, got '$raw'"))
    }
    // Per query: (min time, wall-clock start of the query's first rep,
    // stream-counter deltas OF THE MIN REP — the same denominator as the
    // recorded time). The t0 stamp is the round-14 verdict's diagnostic
    // ask: a time-local ambient event shows as flags clustering in one
    // wall-clock window of the artifact, scattered flags are plan events.
    case class QRun(minS: Double, t0Ms: Long, stream: StreamMeter.Snap)
    val catalog = SparkEntry.queries.toSeq.filter(kv => nameFilter(kv._1))
      .sortBy(_._1)
    // Reps run as FULL CATALOG PASSES, each in BenchGate.repOrder's order
    // — rep 2 traverses REVERSED (round 17 #1). Same-order back-to-back
    // reps let one time-local ambient window inflate BOTH reps of the
    // same ~14 contiguous queries every driver pass (q117–q128 in r16,
    // q122–q136 in r14), forcing a phantom-adjudication round-trip each
    // time; across two different orders a transient window double-hits at
    // most the few queries where the orders cross in time, and min-of-2
    // absorbs the rest. GraftSession.reset now runs after EVERY timed run (it used
    // to run between queries, i.e. after both reps): with interleaving,
    // cross-query block accumulation — the round-4 artifact corruption —
    // would otherwise leak across every neighbor in both orders.
    // Within-query rep-2 warmth is reduced to what survives a cleanup
    // plus one catalog pass (on-disk checkpoint caches survive; pinned
    // blocks don't), so BENCH_EXPECTED was re-based at this commit.
    val runsByName = scala.collection.mutable.Map
      .empty[String, List[(Double, StreamMeter.Snap)]]
    val t0ByName = scala.collection.mutable.Map.empty[String, Long]
    for (rep <- 1 to reps; (name, fn) <- BenchGate.repOrder(rep, catalog)) {
      t0ByName.getOrElseUpdate(name, System.currentTimeMillis())
      val s0 = StreamMeter.snap()
      val t = timedOnce(name, fn)
      runsByName(name) =
        (t, StreamMeter.since(s0)) :: runsByName.getOrElse(name, Nil)
      GraftSession.reset(spark)
    }
    val results = catalog.map { case (name, _) =>
      val best = runsByName(name).minBy(_._1)
      name -> QRun(best._1, t0ByName(name), best._2)
    }
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + v.minS }
      .mkString("{", ",", "}")
    val t0s = results.map { case (k, v) => s"\"" + k + "\":" + v.t0Ms }
      .mkString("{", ",", "}")
    val total = if (results.nonEmpty) results.map(_._2.minS).sum else 0.0
    // Decompose the catalog figure: the streaming entries' cost is dominated
    // by per-run streaming-engine fixed cost (state-store setup + memory-sink
    // lifecycle, ~3-5 s each regardless of input size), not per-row work —
    // tagged separately so round-over-round comparisons of the per-query
    // engine cost aren't read through that constant.
    val streamingNames = Set("q103_streaming_kmv", "q104_streaming_sessions",
      "q105_streaming_dedup", "q116_streaming_interval_join",
      "q133_streaming_exactly_once", "q147_late_data_accounting",
      "q148_stream_static_refresh", "q155_streaming_cep",
      "q174_streaming_outer_join", "q179_state_metrics",
      "q186_rocksdb_state_store", "q188_transform_with_state",
      "q198_streaming_cep_general", "q203_streaming_change_feed",
      "q210_streaming_cdf_exactly_once", "q221_native_cdf_stream",
      "q242_snapshot_stream_handoff", "q257_inactivity_timers",
      "q261_streaming_join_ivm", "q269_log_table_stream",
      "q289_log_txn_exactly_once", "q299_streaming_branch_wap",
      "q301_sql_stream_table")
    val streamRuns = results.filter(kv => streamingNames(kv._1))
    val streamingS = streamRuns.map(_._2.minS).sum
    // STREAMING FLOOR RATIO (round 15): min-rep starts × the measured
    // per-start engine floor is the physics-bound cost of the bucket at
    // the contract-mandated run count; the bucket's health is the ratio of
    // its min-rep wall sum to that floor. Gated against the manifest's
    // `streaming_ratio_max` when present — absolute-seconds targets for
    // this bucket are dead (round-14 verdict #3: the ≤50 s target was
    // floor-bound, not plan waste).
    val minRepStarts = streamRuns.map(_._2.stream.starts).sum
    val minRepBatches = streamRuns.map(_._2.stream.batches).sum
    val minRepTriggerS = streamRuns.map(_._2.stream.triggerMs).sum / 1000.0
    val minRepPlanningS = streamRuns.map(_._2.stream.planningMs).sum / 1000.0
    val minRepAddBatchS = streamRuns.map(_._2.stream.addBatchMs).sum / 1000.0
    val minRepWalS = streamRuns.map(_._2.stream.walMs).sum / 1000.0
    val minRepStatefulStarts = streamRuns.map(_._2.stream.statefulStarts).sum
    val streamingFloorS = BenchGate.mixedFloor(minRepStarts,
      minRepStatefulStarts, floorStatelessS, floorStatefulS)
    val streamingRatio =
      if (streamingFloorS > 0) streamingS / streamingFloorS else 0.0
    // Filled in by the gate's adjudication pass: the numerator with each
    // flagged streaming query's isolated min-of-3 substituted for its
    // in-pass wall. Identical to streamingS when no streaming query flags.
    var streamingSAdj = streamingS
    val knobTag =
      (if (sys.env.contains("SPARK_GRAFT_BENCH_FILTER")) s""","filtered":true""" else "") +
      (if (reps != defaultReps) s""","reps_override":$reps""" else "") +
      (if (plantedSleep.nonEmpty) s""","planted_sleep":true""" else "")
    // ---- PER-QUERY REGRESSION GATE (BENCH_EXPECTED.json) ----
    // Movers must surface on EVERY full run, not once per round close:
    // each query is compared against the committed expected manifest with
    // BenchGate's tolerances, then every flag is ADJUDICATED — re-run
    // isolated min-of-3 after cleanup — and the verdict is rendered on the
    // isolated number. Violations are always printed;
    // SPARK_GRAFT_BENCH_STRICT=1 turns confirmed regressions into a
    // nonzero exit. SPARK_GRAFT_BENCH_EXPECTED overrides the manifest path
    // and also enables the gate under a dev filter, so the gate itself is
    // testable cheaply.
    val expectedPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_EXPECTED",
      "BENCH_EXPECTED.json")
    val gateActive = java.nio.file.Files.exists(
      java.nio.file.Paths.get(expectedPath)) &&
      (!sys.env.contains("SPARK_GRAFT_BENCH_FILTER") ||
        sys.env.contains("SPARK_GRAFT_BENCH_EXPECTED"))
    var gateFailed = false
    var flagsJson = "[]"
    val gateLines = scala.collection.mutable.ArrayBuffer.empty[String]
    if (gateActive) {
      val text = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(expectedPath)),
        java.nio.charset.StandardCharsets.UTF_8)
      val sfRe = """"sf"\s*:\s*"([^"]+)"""".r
      val manifestSf = sfRe.findFirstMatchIn(text).map(_.group(1))
      if (manifestSf.exists(_ != sfDir))
        gateLines += s"[benchcheck] SKIP manifest is for ${manifestSf.get}, ran $sfDir"
      else {
        val pair = """"(q[^"]+)"\s*:\s*([0-9.eE+-]+)""".r
        val expected = pair.findAllMatchIn(text)
          .map(m => m.group(1) -> m.group(2).toDouble).toMap
        val minTimes = results.map { case (n, r) => n -> r.minS }
        // AMBIENT NORMALIZATION (round 13): the manifest holds historical
        // MINs from faster windows, so a uniformly-slow pass (VM load,
        // thermal window — the documented ±20-40% swings) used to
        // mass-flag false regressions. The pass's ambient factor is the
        // MEDIAN measured/expected over the stable population; the
        // tolerance scales by it, CAPPED at 1.5×, so a genuine isolated 2×
        // plan regression still lands far above the scaled bar.
        val (ambient, stableN) = BenchGate.ambient(minTimes, expected)
        val tolEff = BenchGate.Tolerance * ambient
        if (stableN >= 5)
          gateLines += f"[benchcheck] ambient factor $ambient%.2f over " +
            f"$stableN stable queries -> effective tolerance $tolEff%.2f"
        // (No separate hard ceiling: the ambient clamp already bounds
        // tolEff at 1.5 * 1.5 = 2.25x, so anything over 2.25x raw flags
        // in EVERY window — a 3x ceiling would be dead code.)
        val movers = minTimes.filter { case (n, t) =>
          expected.get(n).exists(e => BenchGate.isMover(t, e, tolEff))
        }
        // SELF-ADJUDICATION (round 15, the round-14 verdict's top item):
        // re-run every flag isolated min-of-3 in the now-quiet JVM and
        // render the verdict on THAT number. Capped at 16 flags — beyond
        // that the pass itself is the anomaly and the isolated numbers of
        // the first 16 plus the transient signature carry the diagnosis.
        val qmap = SparkEntry.queries
        val flags = movers.take(16).map { case (n, t) =>
          // min-of-3 with cleanup AFTER the reps, not between them —
          // the manifest's isolated values were measured that way
          // (inter-rep warmth is part of what min-of-N has always
          // recorded), so adjudicating colder would bias toward
          // confirming phantoms
          val iso = (1 to 3).map(_ => timedOnce(n, qmap(n))).min
          GraftSession.reset(spark)
          BenchGate.Flag(n, t, expected(n), iso,
            BenchGate.verdictOf(iso, expected(n)))
        } ++ movers.drop(16).map { case (n, t) =>
          BenchGate.Flag(n, t, expected(n), -1.0, "unadjudicated")
        }
        flags.foreach { f =>
          gateLines += f"[benchcheck] FLAG ${f.name}: ${f.passS}%.2f s in-pass " +
            f"vs expected ${f.expectedS}%.2f s -> isolated min-of-3 " +
            f"${f.isolatedS}%.2f s = ${f.verdict}"
        }
        // feed the adjudication into the streaming numerator (round 16 #1)
        streamingSAdj = BenchGate.adjudicatedStreamingS(streamingS, flags,
          streamingNames)
        // the transient signature: a contiguous lexicographic run of flags
        // with clean neighbors is one time-local machine event
        val canFlag: String => Boolean = n =>
          expected.get(n).exists(_ => minTimes.toMap.get(n).exists(_ > BenchGate.Floor))
        if (flags.size >= 3 && BenchGate.contiguousBlock(
            flags.map(_.name), results.map(_._1), canFlag))
          gateLines += s"[benchcheck] NOTE flags form one contiguous " +
            s"execution-order block (${flags.head.name}…${flags.last.name}) " +
            "— the time-local transient signature, see t0 stamps"
        flagsJson = flags.map(_.json).mkString("[", ",", "]")
        // AMBIENT-EXCUSED TREND LOG (round 14): a query that would have
        // been flagged at the BASE tolerance but was excused by the
        // ambient factor is appended to BENCH_EXCUSED.jsonl — one line
        // per pass — so a query excused pass after pass (a real slow
        // creep hiding inside slow windows) surfaces as a trend instead
        // of being forgotten each time.
        val excused = minTimes.filter { case (n, t) =>
          expected.get(n).exists(e =>
            BenchGate.isMover(t, e, BenchGate.Tolerance) &&
              !BenchGate.isMover(t, e, tolEff))
        }
        if (excused.nonEmpty) {
          val line = s"""{"ambient":${f"$ambient%.3f"},"sf":"$sfDir",""" +
            s""""excused":{${excused.map { case (n, t) =>
              s""""$n":[${f"$t%.2f"},${f"${expected(n)}%.2f"}]"""
            }.mkString(",")}}}"""
          try {
            java.nio.file.Files.write(
              java.nio.file.Paths.get("BENCH_EXCUSED.jsonl"),
              (line + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8),
              java.nio.file.StandardOpenOption.CREATE,
              java.nio.file.StandardOpenOption.APPEND)
            // repeat offenders across passes: count each query's excusals
            val hist = new String(java.nio.file.Files.readAllBytes(
              java.nio.file.Paths.get("BENCH_EXCUSED.jsonl")),
              java.nio.charset.StandardCharsets.UTF_8)
            val counts = """"(q[^"]+)":\[""".r.findAllMatchIn(hist)
              .map(_.group(1)).toSeq.groupBy(identity).view
              .mapValues(_.size).toSeq.filter(_._2 >= 3).sortBy(-_._2)
            if (counts.nonEmpty)
              gateLines += s"[benchcheck] TREND ambient-excused >=3 passes: " +
                counts.map { case (n, c) => s"$n(x$c)" }.mkString(", ")
          } catch { case _: java.io.IOException => () }
          gateLines += s"[benchcheck] ${excused.size} excused by ambient " +
            s"(logged): ${excused.map(_._1).take(8).mkString(", ")}"
        }
        val fresh = minTimes.map(_._1).filterNot(expected.contains)
        if (fresh.nonEmpty)
          gateLines += s"[benchcheck] ${fresh.size} quer${if (fresh.size == 1) "y" else "ies"} not in the manifest (new): ${fresh.take(5).mkString(", ")}…"
        // streaming floor-ratio gate, when the manifest declares a bound —
        // FULL-catalog runs only: the ratio is a property of the whole
        // bucket (a filtered subset keeps only the heaviest fixed-cost
        // streams and reads 1.5x over the calibrated bound by shape alone)
        val ratioRe = """"streaming_ratio_max"\s*:\s*([0-9.eE+-]+)""".r
        ratioRe.findFirstMatchIn(text).map(_.group(1).toDouble).foreach { mx =>
          if (streamingFloorS > 0 && streamRuns.nonEmpty &&
              !sys.env.contains("SPARK_GRAFT_BENCH_FILTER")) {
            // verdict rendered on the ADJUDICATED ratio (round 16 #1): the
            // per-flag adjudication already isolated-re-measured every
            // flagged streaming query; rendering the bucket gate on the
            // un-adjudicated in-pass sum let a transient the gate itself
            // had disproved close the r15 artifact REGRESSION. A planted
            // sleep survives isolation, so it still trips this.
            val ratioAdj = streamingSAdj / streamingFloorS
            val ok = ratioAdj <= mx
            gateLines += f"[benchcheck] streaming engine $streamingS%.1f s " +
              f"(adjudicated $streamingSAdj%.1f s) vs floor " +
              f"$streamingFloorS%.1f s (median-of-5 mix: " +
              f"$minRepStatefulStarts stateful x $floorStatefulS%.2f s + " +
              f"${minRepStarts - minRepStatefulStarts} stateless x " +
              f"$floorStatelessS%.2f s) -> ratio $streamingRatio%.2f, " +
              f"adjudicated $ratioAdj%.2f " +
              (if (ok) f"(<= $mx%.2f OK)" else f"(> $mx%.2f REGRESSION)")
            if (!ok) gateFailed = true
          }
        }
        val confirmed = flags.filter(_.verdict == "regression")
        if (confirmed.isEmpty && !gateFailed)
          gateLines += (if (flags.isEmpty)
            f"[benchcheck] OK ${results.size} queries within $tolEff%.2fx of $expectedPath"
          else
            s"[benchcheck] OK (${flags.size} flag(s), all transient-adjudicated " +
              s"isolated min-of-3) vs $expectedPath")
        else if (confirmed.nonEmpty) {
          gateLines += s"[benchcheck] FAIL ${confirmed.size} confirmed " +
            s"regression(s) (of ${flags.size} flags) vs $expectedPath: " +
            confirmed.map(_.name).mkString(", ")
          gateFailed = true
        }
      }
    }
    // Measured engine-floor decomposition: the listener counts stream
    // starts/micro-batches and sums the engine's own triggerExecution time.
    // `streaming_starts/_batches/_trigger_s` cover the MIN REP of each
    // streaming query (the same denominator as the recorded times);
    // `streaming_starts_all_reps` is the whole timed pass (post-warmup).
    val streamingRatioAdj =
      if (streamingFloorS > 0) streamingSAdj / streamingFloorS else 0.0
    // The effective master/cpus ride BOTH emitted lines (round-19, the r18
    // verdict's scaling-opacity item): the artifact itself must prove the
    // run honored $SPARK_GRAFT_CPUS instead of leaving
    // `suspect_cpus_ignored` undecidable from the outside.
    val cpus = GraftSession.cpus
    val envTag = s""""cpus":$cpus,"master":"local[$cpus]""""
    val line = s"""{"metric":"total","value":$total,"unit":"sec","mode":"min-of-$reps",$envTag,"streaming_engine_s":$streamingS,"streaming_engine_adjudicated_s":${f"$streamingSAdj%.2f"},"streaming_starts":$minRepStarts,"streaming_stateful_starts":$minRepStatefulStarts,"streaming_batches":$minRepBatches,"streaming_trigger_s":$minRepTriggerS,"streaming_planning_s":${f"$minRepPlanningS%.2f"},"streaming_addbatch_s":${f"$minRepAddBatchS%.2f"},"streaming_wal_s":${f"$minRepWalS%.2f"},"streaming_starts_all_reps":${StreamMeter.starts.get},"streaming_floor_per_start_s":${f"$floorStatelessS%.3f"},"streaming_floor_stateful_s":${f"$floorStatefulS%.3f"},"streaming_floor_provenance":"median-of-5","streaming_floor_s":${f"$streamingFloorS%.2f"},"streaming_floor_ratio":${f"$streamingRatio%.3f"},"streaming_floor_ratio_adjudicated":${f"$streamingRatioAdj%.3f"},"flags":$flagsJson,"queries":$qs,"t0":$t0s,"sf":"$sfDir"$knobTag}"""
    println(line)
    gateLines.foreach(println)
    // COMPACT SUMMARY, LAST ON STDOUT (round-19, the r18 verdict's #2): the
    // recording harness keeps only a bounded stdout TAIL, and the full line
    // above (332 queries + t0 stamps) far exceeds it — r17's artifact was
    // unparseable for exactly this reason, which cost a whole round of
    // round-over-round comparison. The totals-only line (no per-query maps)
    // fits any reasonable tail; the full per-query line stays both above and
    // in the BENCH_LOCAL file.
    val summary = s"""{"metric":"total","value":$total,"unit":"sec","mode":"min-of-$reps",$envTag,"n_queries":${results.size},"streaming_engine_s":${f"$streamingS%.2f"},"streaming_planning_s":${f"$minRepPlanningS%.2f"},"streaming_addbatch_s":${f"$minRepAddBatchS%.2f"},"streaming_wal_s":${f"$minRepWalS%.2f"},"streaming_floor_s":${f"$streamingFloorS%.2f"},"streaming_floor_ratio_adjudicated":${f"$streamingRatioAdj%.3f"},"n_flags":${flagsJson.count(_ == '{')},"gate_failed":$gateFailed,"sf":"$sfDir"$knobTag}"""
    println(summary)
    // The driver's recorded artifact truncates its tail at 2000 chars, which
    // hides the per-query times of everything past ~q60 lexicographically.
    // Persist the FULL line in-repo so every round's per-query figures stay
    // reviewable. Only a full-catalog run overwrites it — a filtered dev run
    // must never masquerade as the round artifact — and a non-default core
    // count writes its OWN file (round-19: the r18 c8 scaling run overwrote
    // the c32 artifact, leaving the repo artifact disagreeing with the
    // driver's).
    if (!sys.env.contains("SPARK_GRAFT_BENCH_FILTER")) {
      val defaultOut =
        if (cpus == "32") "BENCH_LOCAL.json" else s"BENCH_LOCAL_c$cpus.json"
      val out = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", defaultOut)
      try java.nio.file.Files.write(java.nio.file.Paths.get(out),
        (line + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
      catch { case _: Throwable => () } // bench output is stdout-first; the file is best-effort
    }
    spark.stop()
    if (gateFailed && sys.env.get("SPARK_GRAFT_BENCH_STRICT").contains("1"))
      sys.exit(1)
  }
}
