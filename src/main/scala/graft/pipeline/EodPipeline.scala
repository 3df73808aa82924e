package graft.pipeline

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Observation, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.apache.spark.unsafe.types.UTF8String
import graft.model.Schemas
import graft.ops._
import graft.source.{EodSource, GraftMeta}

/** One daily run's outcome — the reference's XCom metadata + V4/V5 metric
  * rows collapsed into plain Scala values (SURVEY §3.1: "XCom becomes plain
  * Scala values").
  */
final case class PipelineReport(
    tradeDate: String,
    rawRows: Long,
    estInserts: Long,
    estUpdates: Long,
    coreRows: Long,
    factRows: Long,
    rowParity: Boolean)

/** What one partition rewrite observed: the partition's rows before the
  * write (`target`), the old rows it carried over (`survivors`), the rows
  * written and, when asked for, the distinct values of one column over the
  * written rows (`keySet`).
  */
private final case class MergeCounts(target: Long, survivors: Long, written: Long,
    keySet: Seq[String])

/** The daily ELT lifecycle of the reference
  * (`polygon_modern_elt_v2`, dags/get_securities_data.py:71-233) as one Spark
  * driver program: bronze CSV → RAW (append, lineage) → CORE (dedup +
  * partition rewrite) → DIM_SECURITY ∥ DIM_DATE (insert-only MERGEs of a
  * few rows a day, key-disjoint, computed on the driver) → FACT (dims join
  * + partition rewrite) → reconciliation metrics.
  *
  * Storage layout: warehouse-rooted parquet, RAW/CORE/FACT hive-partitioned
  * by `trade_date` so the reference's ubiquitous date-equality predicate
  * (merge_core.sql:12 etc.) is partition pruning, and the daily MERGE
  * rewrites exactly one partition — O(day), not O(history). At 100 TB that
  * partition discipline *is* the pipeline's scalability story.
  *
  * Every read names the date's partition dir, never a table root, so no
  * read lists the history. The reference's V4/V5 `COUNT(*)`s, which
  * Snowflake answers from micro-partition metadata, cost no Spark job here
  * either: V4 rides the CORE write and V5 reads the committed footers. The
  * dims cost none at all: the day's symbol set rides the CORE write too,
  * both dims are read, extended and (only when a delta exists) committed on
  * the driver, so a steady day is the RAW, CORE and FACT writes alone.
  */
final class EodPipeline(warehouse: String, minTickers: Long = 100L) {

  val rawPath = s"$warehouse/raw_eod_prices"
  val corePath = s"$warehouse/core_eod_prices"
  val dimSecurityPath = s"$warehouse/dim_security"
  val dimDatePath = s"$warehouse/dim_date"
  val factPath = s"$warehouse/fact_daily_price"

  /** Dims are [[VersionedTable]]s (pointer-resolved immutable snapshots) —
    * read them through these accessors, not `spark.read.parquet(path)`.
    * The live version is decoded on the driver into a local relation (no
    * listing, no Spark job); fails fast when it has no complete version.
    */
  def dimSecurity(spark: SparkSession): DataFrame =
    readDim(spark, dimSecurityPath, Schemas.dimSecurity)
  def dimDate(spark: SparkSession): DataFrame =
    readDim(spark, dimDatePath, Schemas.dimDate)

  private def readDim(spark: SparkSession, dir: String, schema: StructType): DataFrame = {
    if (!VersionedTable.exists(spark, dir)) sys.error(s"$dir: no complete snapshot")
    localFrame(spark, schema, VersionedTable.readRows(spark, dir, schema))
  }

  /** Rows held on the driver as a DataFrame over a local relation. */
  private def localFrame(spark: SparkSession, schema: StructType,
      rows: Seq[InternalRow]): DataFrame =
    org.apache.spark.sql.graftcol.toDataFrame(spark,
      LocalRelation(DataTypeUtils.toAttributes(schema), rows))

  /** One date's partition of a `trade_date`-partitioned table. Only the
    * partition dir is listed, so the read costs O(day) however long the
    * history; `basePath` keeps `trade_date` a column typed by `schema`.
    */
  private def readDay(spark: SparkSession, tablePath: String,
      schema: StructType, tradeDate: String): DataFrame =
    spark.read.schema(schema).option("basePath", tablePath)
      .parquet(s"$tablePath/trade_date=$tradeDate")

  /** Single-date partition upsert: the partition is rewritten as `source`
    * plus the old partition's NULL-key rows and swapped in
    * ([[swapPartition]]). `source` holds every non-NULL key of the
    * partition ([[runDate]]'s invariant), so a MERGE would keep no old row
    * but those, which match nothing. The rest of the table is never read or
    * rewritten. A prior swap's crash is healed first, once per write, before
    * the old partition is counted and read. The old partition's rows come
    * from its footers; the carried rows, the rows written and the written
    * rows' distinct `keySetOf` values are observed on the write pass.
    */
  private def upsertDatePartition(spark: SparkSession, tablePath: String,
      tradeDate: String, source: DataFrame, keys: Seq[String],
      keySetOf: Option[String] = None): MergeCounts = {
    val partPath = s"$tablePath/trade_date=$tradeDate"
    val src = source.drop("trade_date")
    val p = new Path(partPath)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    healSwap(fs, p)
    val fromTarget = "__from_target"
    val batch = src.withColumn(fromTarget, lit(false))
    val (target, rewritten) =
      if (!fs.exists(p)) (0L, batch)
      else (committedRows(spark, partPath),
        spark.read.schema(src.schema).parquet(partPath)
          .filter(keys.map(col(_).isNull).reduce(_ || _))
          .withColumn(fromTarget, lit(true)).unionByName(batch))
    val written = Observation()
    val keySetAgg = keySetOf.map(c => collect_set(col(c)).as("keys")).toSeq
    swapPartition(fs, rewritten.observe(written, count(lit(1)).as("rows"),
      count_if(col(fromTarget)).as("survivors") +: keySetAgg: _*).drop(fromTarget), p)
    val w = written.get
    MergeCounts(target, w("survivors").asInstanceOf[Long], w("rows").asInstanceOf[Long],
      keySetOf.fold(Seq.empty[String])(_ => w("keys").asInstanceOf[scala.collection.Seq[String]].toSeq))
  }

  /** Rows committed in a partition dir, summed from its parquet footers:
    * what a reader of the partition sees, read without a Spark job.
    */
  private def committedRows(spark: SparkSession, partPath: String): Long = {
    val dir = new Path(partPath)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    GraftMeta.footerRows(spark, GraftMeta.dataFiles(fs, dir).map(_.getPath)).sum
  }

  /** Insert-only merge of a delta held on the driver: commit live ∪ delta
    * as the dim's next version (one driver-written file), or nothing at all
    * — no version, no gc — when the delta is empty.
    */
  private def appendDim(spark: SparkSession, dir: String, schema: StructType,
      live: Seq[InternalRow], delta: Seq[InternalRow]): Unit =
    if (delta.nonEmpty) {
      VersionedTable.writeRows(spark, dir, schema, live ++ delta)
      VersionedTable.gc(spark, dir)
    }

  /** The hidden sibling `.<name>.<suffix>` of a partition dir: a dot name
    * is invisible to partition discovery, so a root reader never parses it
    * as a `trade_date` value, and its one fixed name per partition lets a
    * prior crash's leftover be swept with one delete, never a root listing.
    */
  private def sibling(part: Path, suffix: String): Path =
    new Path(part.getParent, s".${part.getName}.$suffix")

  /** The commit of a rewritten `trade_date` partition, which root readers
    * must keep seeing as a plain hive dir: `df` (which may lazily read the
    * live partition itself) is written to the `.stage` sibling, then two
    * renames swap it in, never deleting live data before its replacement
    * is in place:
    *   1. `part` → `.part.old`  (live partition retired, still complete)
    *   2. `.part.stage` → `part` (new partition goes live)
    * A crash at any point leaves the last complete partition on disk; one
    * between the renames leaves `part` missing and `.old` complete, which
    * [[healSwap]] restores before the next write reads the partition. The
    * reference gets the same durability from Snowflake's transactional
    * MERGE (merge_core.sql:5-33).
    */
  private def swapPartition(fs: FileSystem, df: DataFrame, part: Path): Unit = {
    val stage = sibling(part, "stage")
    fs.delete(stage, true) // a prior crash between write and go-live
    df.write.mode(SaveMode.Overwrite).parquet(stage.toString)
    val retired = sibling(part, "old")
    if (fs.exists(retired)) fs.delete(retired, true)
    val hadLive = fs.exists(part)
    if (hadLive && !fs.rename(part, retired))
      throw new java.io.IOException(s"partition retire failed: $part -> $retired")
    if (!fs.rename(stage, part)) {
      if (hadLive) fs.rename(retired, part) // restore; the write is lost, the partition is not
      throw new java.io.IOException(s"partition swap failed: $stage -> $part")
    }
    if (hadLive) fs.delete(retired, true)
    // The session-level FileStatusCache still holds the pre-swap listing;
    // without this, the next read of `part` fails with FILE_NOT_EXIST.
    df.sparkSession.catalog.refreshByPath(part.toString)
  }

  /** Restore a partition whose [[swapPartition]] crashed between its
    * renames (`part` missing, `.part.old` complete). Idempotent.
    */
  private def healSwap(fs: FileSystem, part: Path): Unit = {
    val retired = sibling(part, "old")
    if (!fs.exists(part) && fs.exists(retired)) fs.rename(retired, part)
  }

  /** Stage 2-3 of the lifecycle: bronze CSV for one date → RAW append with
    * the V1 row-count gate evaluated by `observe` ON the write pass (one
    * scan, not two). The pass writes into the partition's hidden `.stage`
    * sibling, which no RAW reader lists; only a batch that passes the gate
    * has its files moved into `trade_date=D`, so a rejected reload never
    * touches rows an earlier load published, and a crash before the move
    * publishes nothing. RAW appends, so it needs no [[swapPartition]].
    */
  def loadRaw(spark: SparkSession, bronzeCsv: String, tradeDate: String): Long = {
    val obs = Observation(s"v1-gate-$tradeDate")
    val part = new Path(s"$rawPath/trade_date=$tradeDate")
    val stage = sibling(part, "stage")
    val fs = part.getFileSystem(spark.sparkContext.hadoopConfiguration)
    EodSource.readBronzeCsv(spark, bronzeCsv)
      .drop("trade_date") // the partition dir carries it, as partitionBy would
      .observe(obs, count(lit(1)).as("rows"))
      .write.mode(SaveMode.Overwrite).parquet(stage.toString)
    val n = obs.get("rows").asInstanceOf[Long]
    if (n < minTickers) { // V1 (eod_data_downloader.py:138-145)
      fs.delete(stage, true)
      throw new IllegalArgumentException(
        s"bronze $tradeDate: expected >= $minTickers rows, got $n")
    }
    fs.mkdirs(part)
    GraftMeta.dataFiles(fs, stage).map(_.getPath).foreach { f =>
      if (!fs.rename(f, new Path(part, f.getName)))
        throw new java.io.IOException(s"RAW publish failed: $f -> $part")
    }
    fs.delete(stage, true)
    spark.catalog.refreshByPath(rawPath)
    n
  }

  /** True when a bronze file exists for the date AND parses to >= 1 row —
    * the reference's "data is None or empty" probe
    * (eod_data_downloader.py:134-136, get_securities_data.py:109-112).
    */
  private def hasData(spark: SparkSession, path: String): Boolean = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.exists(p) && Quality.nonEmpty(EodSource.readBronzeCsv(spark, path))
  }

  /** Late-data lookback (eod_data_downloader.py:22-55): probe `endDate`,
    * `endDate-1`, … `endDate-lookbackDays` NEWEST-FIRST and run the first
    * date whose bronze data exists and is non-empty — the reference's
    * "holidays and weekends have no grouped-daily payload" semantics. Returns
    * None when the whole window is empty (a market closure longer than the
    * lookback — the caller's alerting decision, not ours).
    *
    * @param bronzeFor resolves a trade date to its bronze CSV path, None when
    *                  the file never landed
    */
  def runWithLookback(spark: SparkSession, endDate: String, lookbackDays: Int)
      (bronzeFor: String => Option[String]): Option[PipelineReport] = {
    val end = java.time.LocalDate.parse(endDate)
    (0 to lookbackDays).iterator
      .map(off => end.minusDays(off.toLong).toString)
      .flatMap(d => bronzeFor(d).filter(hasData(spark, _)).map(p => runDate(spark, p, d)))
      .nextOption()
  }

  /** Backfill a date range OLDEST-FIRST (dims and facts must accumulate in
    * causal order so surrogate keys and V4 forecasts match a day-by-day
    * history), skipping missing/empty days with V2 semantics. Each day is one
    * partition-scoped run — a 3-year backfill touches each partition once and
    * never rewrites the table.
    */
  def runRange(spark: SparkSession, dates: Seq[String])
      (bronzeFor: String => Option[String]): Seq[PipelineReport] =
    dates.sorted.flatMap(d =>
      bronzeFor(d).filter(hasData(spark, _)).map(p => runDate(spark, p, d)))

  /** Backfill a date range through the DataSource V2 REST source: the WHOLE
    * window is fetched in one executor-parallel scan (one input partition
    * per trading date — the fetch parallelism a driver-side loop can't give
    * a multi-year backfill), staged to per-date bronze CSVs (the reference's
    * S3 landing layer), then replayed oldest-first with the usual V2
    * empty-day skip. Days whose payload has no records (weekends/holidays)
    * produce no bronze file and are skipped.
    */
  def backfillFromRest(spark: SparkSession, startDate: String, endDate: String,
      transportClass: String, bronzeStage: String): Seq[PipelineReport] = {
    import graft.source.EodDsv2
    // ONE parallel fetch; localCheckpoint so a retried staging task re-reads
    // the fetched rows, not the REST source
    val typed = EodDsv2.readRange(spark, startDate, endDate, transportClass)
      .localCheckpoint()
    // ONE partitioned write stages every day — a per-date filter+write loop
    // would rescan the whole window once per date (O(dates²) task launches
    // on a multi-year backfill). Rows route through a DUPLICATED partition
    // column (`pdate`) so the FILES keep the reference bronze layout
    // (trade_date first — readBronzeCsv binds its schema positionally).
    // overwrite: the stage is a scratch landing area owned by this backfill;
    // a restarted run re-stages the whole window (idempotent by design).
    // The staged dates are observed on the same pass (bounded: one value
    // per trading day), so listing them launches no job of its own.
    val staged = Observation()
    typed.select(
        col("trade_date").cast("string").as("trade_date"), col("symbol"),
        col("open").cast("string"), col("high").cast("string"),
        col("low").cast("string"), col("close").cast("string"),
        col("volume").cast("string"),
        col("trade_date").cast("string").as("pdate"))
      .observe(staged, collect_set(col("pdate")).as("dates"))
      .write.mode(SaveMode.Overwrite).partitionBy("pdate")
      .option("header", "true").option("emptyValue", "").csv(bronzeStage)
    val dates = staged.get("dates").asInstanceOf[scala.collection.Seq[String]].sorted
    // every date came from the fetched rows, so each staged file is
    // non-empty: no V2 probe, just the causal replay
    dates.toIndexedSeq.map(dt => runDate(spark, s"$bronzeStage/pdate=$dt", dt))
  }

  /** The full daily run (stages 4-8). `bronzeCsv` may contain duplicate rows
    * (FORCE=TRUE reload semantics) — W1 dedup keeps the latest by
    * (_ingest_ts, _src_file) exactly like merge_core.sql:13-16.
    *
    * RAW keeps every accepted load of a date; CORE's batch is built from
    * the date's whole RAW partition and FACT's from its whole CORE
    * partition. So CORE's keys are a subset of RAW's and FACT's of CORE's:
    * each write is its batch plus the old NULL-key rows, never a merge.
    *
    * A day issues only its necessary writes. Every RAW/CORE/FACT read names
    * the date's partition dir, so no read lists the table's history. The V4
    * forecast and the day's symbol set ride the single CORE write as
    * observed aggregates, the dims are merged on the driver, and the V5
    * reconciliation sums the committed partitions' parquet footers — none
    * of them launches a Spark job of its own.
    */
  def runDate(spark: SparkSession, bronzeCsv: String, tradeDate: String): PipelineReport = {
    val rawRows = loadRaw(spark, bronzeCsv, tradeDate)

    // CORE: the date's RAW partition → normalize → dedup-latest → rewrite.
    val raw = readDay(spark, rawPath, Schemas.raw, tradeDate)
      .withColumn("symbol", Normalize.normKey(col("symbol")))
    val deduped = Dedup.latestBy(raw,
      Seq(col("symbol"), col("trade_date")),
      Seq(col("_ingest_ts"), col("_src_file")))
    val coreBatch = Normalize.withLoadTs(deduped)
      .select(Schemas.core.fieldNames.map(col).toIndexedSeq: _*)
    val merge = upsertDatePartition(spark, corePath, tradeDate, coreBatch, Seq("symbol"),
      keySetOf = Some("symbol"))
    // V4 (premerge_metrics.sql) from the rewrite's own counts. Each CORE
    // partition holds unique `symbol` keys and the batch holds all of them,
    // so every existing row not carried over is one matched key, and the
    // batch's keys are the rows written beyond the carried NULL-key rows.
    val estUpdates = merge.target - merge.survivors
    val keyRows = merge.written - merge.survivors

    // DIM_SECURITY ∥ DIM_DATE — key-disjoint insert-only merges of a few
    // rows a day (merge_dim_security.sql / merge_dim_date.sql), run on the
    // driver with no Spark job. Both dims are already bounded by driver
    // memory (FACT broadcasts DIM_SECURITY), so each is read whole through
    // the row decoder. Membership is decided against the dim's own live
    // version, never against what CORE held before, so a run that died
    // between the CORE and dim commits converges on rerun. A non-empty
    // delta commits the next VersionedTable version (one file, live ∪
    // delta) through the pointer flip, so readers never see a missing or
    // partial dim; an empty delta commits nothing.
    val dimSec0 = VersionedTable.readRows(spark, dimSecurityPath, Schemas.dimSecurity)
    val known = dimSec0.map(_.getUTF8String(1)).toSet
    val newSecs = SurrogateKeys.assignLocal(
      merge.keySet.map(UTF8String.fromString).filterNot(known),
      dimSec0.map(_.getLong(0)).maxOption.getOrElse(0L))
    val secDelta = newSecs.map { case (id, sym) => InternalRow(id, sym) }
    appendDim(spark, dimSecurityPath, Schemas.dimSecurity, dimSec0, secDelta)

    val dimDate0 = VersionedTable.readRows(spark, dimDatePath, Schemas.dimDate)
    val dateRow = DateDim.localRow(spark, tradeDate)
    val newDate = merge.written > 0 && !dimDate0.exists(_.getInt(0) == dateRow.getInt(0))
    appendDim(spark, dimDatePath, Schemas.dimDate, dimDate0,
      if (newDate) Seq(dateRow) else Nil)

    // FACT: dims are broadcast-sized; join through surrogate keys. The
    // broadcast side is the DIM_SECURITY snapshot just committed, as the
    // rows the driver already holds: a local relation, never a re-read.
    val coreDay = readDay(spark, corePath, Schemas.core, tradeDate)
    val dimSecDf = localFrame(spark, Schemas.dimSecurity, dimSec0 ++ secDelta)
    val factBatch = Normalize.withLoadTs(
      coreDay.join(broadcast(dimSecDf), Seq("symbol"))
        .withColumn("date_sk", date_format(col("trade_date"), "yyyyMMdd").cast("int")))
      .select(Schemas.factDailyPrice.fieldNames.map(col).toIndexedSeq: _*)
    upsertDatePartition(spark, factPath, tradeDate, factBatch, Seq("security_id", "date_sk"))

    // V5 reconciliation for the date (postmerge_metrics.sql), read back from
    // the committed partitions' footers.
    val coreRows = committedRows(spark, s"$corePath/trade_date=$tradeDate")
    val factRows = committedRows(spark, s"$factPath/trade_date=$tradeDate")

    PipelineReport(tradeDate, rawRows, keyRows - estUpdates, estUpdates,
      coreRows, factRows, coreRows == factRows)
  }
}
