package graft.ops

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types.StructType
import org.apache.hadoop.fs.{FileSystem, Path}
import graft.source.{GraftMeta, GroupWrite}

/** Versioned whole-table snapshots with an atomic pointer flip — the
  * durability pattern the reference gets for free from Snowflake's
  * transactional MERGE (dags/sql/merge_core.sql:5-33) re-expressed on plain
  * parquet, the way Iceberg/Delta do it: data dirs are IMMUTABLE once
  * written, and "which snapshot is live" is a tiny pointer file, so there is
  * NO instant at which a reader can observe a missing or partial table.
  *
  * Layout under `dir` (all names underscore/dot-prefixed — invisible to any
  * enclosing partition discovery):
  * {{{
  *   dir/_ptr            # text: zero-padded live version, e.g. "00000042"
  *   dir/_v-00000042/    # complete parquet snapshot (has _SUCCESS)
  *   dir/_v-00000041/    # previous version, kept until gc
  * }}}
  *
  * Write protocol: [[stage]] → [[publish]] is the single path by which a
  * single writer creates a version. Staging ([[stageWith]]) sweeps dangling
  * versions above the live one and fills the FULL new snapshot into
  * `_v-(N+1)` (the parquet committer plants `_SUCCESS` last); publishing
  * checks `_SUCCESS` and the successor, carries the txn map, stamps the
  * commit time and flips `_ptr`. Sidecar writers (Constraints, Protocol,
  * RowTracking, ColumnMapping, TypeWidening, PartitionEvolution, Clone)
  * fill the staged dir with their own files — metadata-only commits, and
  * [[writeRows]]' single driver-written file, plant `_SUCCESS` themselves —
  * and publish the same way. A crash before the
  * flip leaves a dangling higher version that the next stage sweeps; a
  * crash during the flip is covered by the reader fallback (highest version
  * with `_SUCCESS`). Readers resolve the pointer and read ONE immutable dir
  * — concurrent with any number of writes. (Occ's concurrent claim protocol
  * rolls its claimed versions forward on its own.)
  *
  * Single-writer by design (the daily pipeline's dims/snapshots have exactly
  * one writer); concurrent writers would race the pointer and need a
  * compare-and-swap the object-store layer must provide (as Delta's
  * LogStore does).
  *
  * The underscore prefix has a second deliberate effect: a naive
  * `spark.read.parquet(dir)` on the TABLE root sees no data files (Spark
  * ignores `_`/`.`-prefixed children, logging a cosmetic "All paths were
  * ignored" warning) instead of silently unioning every retained version
  * into duplicated rows. Reads must resolve the pointer via [[read]];
  * explicitly-passed version dirs are exempt from the filter.
  */
object VersionedTable {

  private val PtrName = "_ptr"

  private val CommitTsName = "_commit_ts"

  /** The commit wall-clock stamp for `version` — written into the version
    * dir BEFORE the pointer flip (same atomicity contract as the txn
    * markers), so a live version always carries its timestamp and
    * [[readAsOf]] never sees a half-stamped history.
    *
    * Clamped to `max(predecessor's stamp + 1, now)` — Delta's
    * in-commit-timestamp monotonicity rule. Without the clamp a clock step
    * backward makes stamps non-monotonic across versions, and readAsOf's
    * highest-version-with-ts<=t rule could pick a later version while
    * skipping an earlier one whose stamp is larger. `predecessor` is the
    * version the new one follows, as its caller has already resolved it.
    */
  private[ops] def commitTs(fs: FileSystem, dir: String, predecessor: Option[Long]): String = {
    val prev = predecessor.flatMap(v => MetaFile.read(fs, commitTsPath(dir, v)))
      .flatMap(_.trim.toLongOption)
    math.max(prev.map(_ + 1L).getOrElse(Long.MinValue), System.currentTimeMillis).toString
  }

  private[ops] def commitTsPath(dir: String, version: Long): Path =
    new Path(verDir(dir, version), CommitTsName)

  /** The version's commit timestamp (ms). Absent on versions written
    * before timestamping existed.
    */
  def commitTimestamp(spark: SparkSession, dir: String, version: Long): Option[Long] =
    MetaFile.read(fsOf(spark, dir), commitTsPath(dir, version)).flatMap(_.trim.toLongOption)

  private[ops] def hasCommitTs(fs: FileSystem, dir: String, version: Long): Boolean =
    fs.exists(commitTsPath(dir, version))

  /** Time travel AS OF a wall-clock instant (Delta's `timestampAsOf`
    * semantics): the LATEST complete version whose commit timestamp is
    * <= `tsMillis`. Fails loudly when the instant predates the first
    * retained commit — fabricating an empty table for a
    * before-the-beginning read is the silent-corruption path.
    */
  def readAsOf(spark: SparkSession, dir: String, tsMillis: Long): DataFrame = {
    val fs = fsOf(spark, dir)
    val live = currentVersion(spark, dir).getOrElse(
      sys.error(s"VersionedTable.readAsOf($dir): no complete snapshot"))
    val retained = listVersions(fs, dir)
      .filter(x => x <= live && complete(fs, verDir(dir, x)))
    // a retained complete version WITHOUT a stamp is a protocol violation
    // (every commit path stamps before the flip) — skipping it would
    // silently resolve instants after it to an older snapshot, so fail loud
    val stamped = retained.map(x => x ->
      commitTimestamp(spark, dir, x).getOrElse(sys.error(
        s"VersionedTable.readAsOf($dir): version $x has no $CommitTsName — " +
          "corrupt or pre-timestamp history; time travel by instant is unsafe")))
    val v = stamped.filter(_._2 <= tsMillis).lastOption
      .getOrElse(sys.error(s"VersionedTable.readAsOf($dir, $tsMillis): " +
        "instant predates the oldest retained commit"))
    readVersion(spark, dir, v._1)
  }
  private val VerPrefix = "_v-"
  private val TxnPrefix = "_txn-"

  private[ops] def fsOf(spark: SparkSession, dir: String): FileSystem =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private[graft] def verDir(dir: String, v: Long): Path =
    new Path(dir, f"$VerPrefix$v%08d")

  private[graft] def listVersions(fs: FileSystem, dir: String): Seq[Long] = {
    val d = new Path(dir)
    if (!fs.exists(d)) Seq.empty
    else fs.listStatus(d).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith(VerPrefix))
      .flatMap(st => st.getPath.getName.stripPrefix(VerPrefix).toLongOption)
      .sorted
  }

  private[graft] def readPtr(fs: FileSystem, dir: String): Option[Long] =
    MetaFile.read(fs, new Path(dir, PtrName)).flatMap(_.trim.toLongOption)

  /** The streaming-transaction markers a version carries: appId → highest
    * applied batchId (Delta's `txn` action re-expressed as tiny
    * underscore-prefixed files INSIDE the immutable version dir — invisible
    * to parquet readers, atomic with the version because the pointer flip
    * happens after they are written).
    */
  private def readTxnMap(fs: FileSystem, vd: Path): Map[String, Long] =
    if (!fs.exists(vd)) Map.empty
    else fs.listStatus(vd).toSeq
      .filter(st => st.isFile && st.getPath.getName.startsWith(TxnPrefix))
      .flatMap { st =>
        val app = st.getPath.getName.stripPrefix(TxnPrefix)
        MetaFile.read(fs, st.getPath).flatMap(_.trim.toLongOption).map(app -> _)
      }.toMap

  private[graft] def complete(fs: FileSystem, vd: Path): Boolean =
    fs.exists(new Path(vd, "_SUCCESS"))

  /** The live version: the pointer if it names a complete snapshot, else the
    * highest complete version on disk (covers a crash mid-pointer-flip —
    * only a version WITH `_SUCCESS` is ever eligible, so a half-written
    * stage dir can never be chosen).
    */
  def currentVersion(spark: SparkSession, dir: String): Option[Long] = {
    val fs = fsOf(spark, dir)
    readPtr(fs, dir).filter(v => complete(fs, verDir(dir, v)))
      .orElse(listVersions(fs, dir).filter(v => complete(fs, verDir(dir, v))).lastOption)
  }

  def exists(spark: SparkSession, dir: String): Boolean =
    currentVersion(spark, dir).nonEmpty

  /** The live version's immutable data dir (for path-level readers like
    * [[DataSkipping.pruneBetween]]). Fails fast if no complete version
    * exists.
    */
  def liveDir(spark: SparkSession, dir: String): String = {
    val v = currentVersion(spark, dir).getOrElse(
      sys.error(s"VersionedTable.liveDir($dir): no complete snapshot"))
    verDir(dir, v).toString
  }

  /** Read the live snapshot. Fails fast if no complete version exists. */
  def read(spark: SparkSession, dir: String): DataFrame = {
    val v = currentVersion(spark, dir).getOrElse(
      sys.error(s"VersionedTable.read($dir): no complete snapshot"))
    spark.read.parquet(verDir(dir, v).toString)
  }

  /** Time travel: read a SPECIFIC retained version (must be complete and not
    * yet gc'd). Version dirs are immutable, so this is safe concurrent with
    * any write.
    */
  def readVersion(spark: SparkSession, dir: String, version: Long): DataFrame = {
    val fs = fsOf(spark, dir)
    val vd = verDir(dir, version)
    require(complete(fs, vd),
      s"VersionedTable.readVersion($dir, $version): no complete snapshot (gc'd or never written)")
    spark.read.parquet(vd.toString)
  }

  /** Like [[read]] but with a pinned schema and an empty frame when the table
    * does not exist yet — the bootstrap read a pipeline's first run needs.
    *
    * Refuses a LEGACY layout: a dir holding bare parquet data files (a
    * pre-versioned table) has no version to resolve, and silently treating
    * it as empty would restart surrogate keys and orphan every fact row
    * referencing the old ones. Such tables need a one-time import:
    * `write(spark.read.parquet(dir_moved_aside), dir)`.
    */
  def readOrEmpty(spark: SparkSession, dir: String, schema: StructType): DataFrame =
    liveOrNone(spark, dir) match {
      case Some(vd) => spark.read.schema(schema).parquet(vd.toString)
      case None => spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    }

  /** The live version dir, or None for a table that does not exist yet —
    * refusing a dir that holds bare (pre-versioned) data files, see
    * [[readOrEmpty]].
    */
  private def liveOrNone(spark: SparkSession, dir: String): Option[Path] =
    currentVersion(spark, dir).map(verDir(dir, _)).orElse {
      require(GraftMeta.dataFiles(fsOf(spark, dir), new Path(dir)).isEmpty,
        s"VersionedTable($dir): dir holds bare data files " +
          "(pre-versioned layout?) — import them as version 1 instead of " +
          "silently starting empty")
      None
    }

  /** [[readOrEmpty]] decoded on the driver: the live snapshot's rows,
    * resolved by name into `schema`, with no Spark job. For a snapshot
    * small enough to be held on the driver (a dimension the pipeline
    * broadcasts anyway); empty when the table does not exist yet.
    */
  def readRows(spark: SparkSession, dir: String, schema: StructType): Seq[InternalRow] =
    liveOrNone(spark, dir).fold(Seq.empty[InternalRow]) { vd =>
      GraftMeta.readRows(spark, GraftMeta.dataFiles(fsOf(spark, dir), vd).map(_.getPath), schema)
    }

  /** Commit `rows` as the next version, written on the driver as ONE
    * parquet file through [[GroupWrite]]'s type mapping, then published
    * like every commit ([[stageWith]] → [[publish]]). For a small
    * single-writer snapshot whose full content is already on the driver:
    * no Spark job, and the live version is one file however many commits
    * came before. Returns the new version.
    */
  def writeRows(spark: SparkSession, dir: String, schema: StructType,
      rows: Seq[InternalRow]): Long = {
    val next = stageWith(spark, dir) { vd =>
      GroupWrite.writeFile(spark.sparkContext.hadoopConfiguration,
        new Path(vd, "part-00000.parquet"), schema, rows)
      MetaFile.write(fsOf(spark, dir), new Path(vd, "_SUCCESS"), "")
    }
    publish(spark, dir, next)
    next
  }

  /** Write `df` as the next version and flip the pointer: [[stage]] then
    * [[publish]]. Returns the new version number. The input may lazily
    * read THIS table's live version — that dir is immutable and survives
    * until [[gc]], so the read-merge-write cycle needs no localCheckpoint.
    *
    * `statsCols` additionally builds the [[DataSkipping]] per-file min/max
    * index inside the staged version dir (before the flip, so a version is
    * never live without its index) — reads via [[liveDir]] +
    * [[DataSkipping.pruneBetween]] then plan over only the files whose
    * stats admit the predicate.
    */
  def write(df: DataFrame, dir: String, txn: Map[String, Long] = Map.empty,
      statsCols: Seq[String] = Nil): Long = {
    val next = stage(df, dir, statsCols)
    publish(df.sparkSession, dir, next, txn)
    next
  }

  /** Pointer flip ([[MetaFile.replace]]). The instant with no pointer file
    * is covered by the reader fallback to the highest complete version —
    * which IS `next` at that point.
    */
  private[ops] def flipPointer(fs: FileSystem, dir: String, next: Long): Unit =
    MetaFile.replace(fs, new Path(dir, PtrName), f"$next%08d")

  /** Write-audit-publish, stage half: write the next version's FULL
    * snapshot but do NOT flip the pointer. Readers keep serving the live
    * version; the staged dir is addressable (for audit queries) via
    * [[stagedDir]]. An unpublished stage is exactly a crashed write —
    * any later write (or [[abortStaged]]) sweeps it, so a failed audit
    * needs no cleanup transaction. This is Iceberg's WAP pattern on the
    * same pointer protocol the normal write uses.
    */
  def stage(df: DataFrame, dir: String, statsCols: Seq[String] = Nil): Long =
    stageWith(df.sparkSession, dir) { vd =>
      df.write.mode(SaveMode.Overwrite).parquet(vd.toString)
      if (statsCols.nonEmpty) DataSkipping.writeStats(df.sparkSession, vd.toString, statsCols)
    }

  /** The one staging primitive every single-writer commit shares: sweep
    * the dangling versions above the live one (crashed writes that never
    * flipped, or half-written stage dirs without `_SUCCESS`), allocate the
    * next version and let `fill` populate its dir. Data commits fill it
    * through a parquet committer (which plants `_SUCCESS` last);
    * metadata-only commits write their sidecars and plant `_SUCCESS`
    * themselves. Nothing is live until [[publish]].
    */
  private[ops] def stageWith(spark: SparkSession, dir: String)(fill: Path => Unit): Long = {
    val fs = fsOf(spark, dir)
    val cur = currentVersion(spark, dir)
    listVersions(fs, dir).filter(_ > cur.getOrElse(-1L))
      .foreach(v => fs.delete(verDir(dir, v), true))
    val next = cur.getOrElse(0L) + 1L
    fill(verDir(dir, next))
    next
  }

  /** The staged (not yet live) version's data dir, for audit reads. */
  def stagedDir(dir: String, version: Long): String = verDir(dir, version).toString

  /** Publish a staged version — the one place a single writer's version
    * goes live. Fails fast if the staged snapshot is missing/incomplete or
    * is not the next version after the live one. Then, all BEFORE the
    * flip: carry the live version's txn map forward overlaid with `txn`
    * (so every commit — compaction, partition overwrite and metadata-only
    * ones included — keeps the last-applied batchIds, and gc of old
    * versions never loses them), and stamp the commit time. A version
    * reachable via the mid-flip reader fallback therefore always carries
    * its full txn map and stamp, and a crash before the flip leaves the
    * pointer intact (the dangling dir is swept by the next stage, whose
    * re-applied batch is then the FIRST application).
    */
  def publish(spark: SparkSession, dir: String, version: Long,
      txn: Map[String, Long] = Map.empty): Unit = {
    val fs = fsOf(spark, dir)
    val vd = verDir(dir, version)
    require(complete(fs, vd), s"publish: staged $vd is missing or incomplete")
    // the live version is computed EXCLUDING the staged dir ITSELF (and only
    // it): on an empty table (no pointer yet) the reader fallback would
    // otherwise adopt the staged _SUCCESS-bearing dir as live and fail the
    // successor check. Excluding everything >= version instead would let a
    // STALE publish (live already moved past it) resolve cur to version-1
    // and flip the pointer BACKWARD — a stale stage must fail fast here.
    val cur = readPtr(fs, dir).filter(v => v != version && complete(fs, verDir(dir, v)))
      .orElse(listVersions(fs, dir)
        .filter(v => v != version && complete(fs, verDir(dir, v))).lastOption)
    require(version == cur.getOrElse(0L) + 1L,
      s"publish: staged $version is not the successor of live $cur")
    (cur.map(v => readTxnMap(fs, verDir(dir, v))).getOrElse(Map.empty) ++ txn)
      .foreach { case (app, batch) =>
        MetaFile.write(fs, new Path(vd, TxnPrefix + app), batch.toString)
      }
    MetaFile.write(fs, commitTsPath(dir, version), commitTs(fs, dir, cur))
    flipPointer(fs, dir, version)
    spark.catalog.refreshByPath(vd.toString)
  }

  /** Abort a staged version: delete its dir (a no-op if already swept).
    * Refuses to touch the LIVE version.
    */
  def abortStaged(spark: SparkSession, dir: String, version: Long): Unit = {
    require(!currentVersion(spark, dir).contains(version),
      s"abortStaged: $version is the live version")
    fsOf(spark, dir).delete(verDir(dir, version), true)
  }

  /** Copy `files` into the staged version dir `vd` as raw bytes — the
    * carry of untouched files (or partition dirs) that compaction, range
    * delete and partition overwrite share. The copies are independent, so
    * they run bounded-parallel, flat in the file count.
    */
  private[ops] def carry(spark: SparkSession, files: Seq[Path], vd: Path): Unit = {
    val fs = fsOf(spark, vd.toString)
    graft.ParallelActions.mapOrdered(files) { f =>
      org.apache.hadoop.fs.FileUtil.copy(fs, f, fs,
        new Path(vd, f.getName), false, spark.sparkContext.hadoopConfiguration)
    }
  }

  /** Surgical range delete — the compliance-delete shape at 100 TB: remove
    * every row with `c` in `[lo, hi]` WITHOUT rewriting the table. The
    * stats index locates the files whose [min, max] can intersect the band
    * (O(affected) driver state, [[DataSkipping.selectFiles]]); ONLY those
    * files are re-encoded (band filtered out, NULL keys kept — stats
    * selection is conservative, so an untouched file provably holds no
    * band row); every other data file is carried into the next immutable
    * version as a raw byte copy, never re-encoded. In Delta/Iceberg the
    * carry is a metadata-only add (remove/add entries in the log); on
    * plain-directory versions it is a local file copy — same asymptotics
    * per rewritten byte, and the version/pointer protocol is unchanged
    * (crash-safe, readers never see a partial delete).
    *
    * Returns (newVersion, filesRewritten, filesTotal); no-op (no new
    * version) when the stats prove no file holds the band.
    */
  def deleteRange(spark: SparkSession, dir: String, c: String,
      lo: org.apache.spark.sql.Column, hi: org.apache.spark.sql.Column,
      statsCols: Seq[String]): (Long, Int, Int) = {
    import org.apache.spark.sql.functions.col
    val fs = fsOf(spark, dir)
    val cur = currentVersion(spark, dir).getOrElse(
      sys.error(s"VersionedTable.deleteRange($dir): no complete snapshot"))
    val live = verDir(dir, cur)
    val (affected, total) = DataSkipping.selectFiles(spark, live.toString, c, lo, hi)
    if (affected.isEmpty) return (cur, 0, total.toInt) // provably nothing to delete
    val affectedNames = affected.map(p => new Path(p).getName).toSet
    val next = stageWith(spark, dir) { vd =>
      // rewrite ONLY the affected files (their committer plants _SUCCESS)
      spark.read.parquet(affected.toIndexedSeq: _*)
        .filter(col(c).isNull || col(c) < lo || col(c) > hi)
        .write.mode(SaveMode.Overwrite).parquet(vd.toString)
      // carry the untouched files in as raw byte copies: at 100 TB the carry
      // set is nearly the whole table (a surgical delete rewrites a handful
      // of band files)
      carry(spark, GraftMeta.dataFiles(fs, live).map(_.getPath)
        .filterNot(f => affectedNames(f.getName)), vd)
      if (statsCols.nonEmpty) DataSkipping.writeStats(spark, vd.toString, statsCols)
    }
    // published like every other commit: the txn map is carried, and the
    // stamp keeps readAsOf for any instant after the delete from resolving
    // to the PRE-delete snapshot and resurrecting the deleted rows
    publish(spark, dir, next)
    (next, affected.length, total.toInt)
  }

  /** Highest batchId the given streaming app has committed to this table
    * (from the LIVE version's carried-forward txn map). `None` = the app has
    * never committed.
    */
  def lastBatchId(spark: SparkSession, dir: String, appId: String): Option[Long] =
    currentVersion(spark, dir).flatMap(v =>
      readTxnMap(fsOf(spark, dir), verDir(dir, v)).get(appId))

  /** Exactly-once streaming commit (the Delta `txn` pattern): write the next
    * version ONLY if `batchId` is beyond this app's last committed batch;
    * otherwise a table-level no-op. A foreachBatch sink that routes every
    * micro-batch through this call makes a re-delivered batch after a crash
    * (or a full checkpoint loss and replay) produce NO new version — the
    * commit log, not just the keyed merge, absorbs the re-delivery.
    * Returns the new version, or None when the batch was already applied.
    */
  def writeCommitted(df: DataFrame, dir: String, appId: String,
      batchId: Long): Option[Long] =
    if (lastBatchId(df.sparkSession, dir, appId).exists(_ >= batchId)) None
    else Some(write(df, dir, Map(appId -> batchId)))

  /** (version, last-committed batchId for `appId` as of that version) for
    * every retained complete version — the audit view a duplicate-batch
    * check reads.
    */
  def txnHistory(spark: SparkSession, dir: String, appId: String): Seq[(Long, Option[Long])] = {
    val fs = fsOf(spark, dir)
    currentVersion(spark, dir).toSeq.flatMap { live =>
      listVersions(fs, dir).filter(v => v <= live && complete(fs, verDir(dir, v)))
        .map(v => v -> readTxnMap(fs, verDir(dir, v)).get(appId))
    }
  }

  /** Delete all but the newest `keep` complete versions at or below the live
    * pointer (never the live one; `keep >= 1`). Time travel window = `keep`.
    *
    * The keep-window is counted over COMPLETE versions only: a torn dir
    * (crashed write below the pointer, no `_SUCCESS`) must not occupy a
    * retention slot — it is unreadable, so retaining it while deleting an
    * older complete snapshot would silently shrink the usable time-travel
    * window. Incomplete dirs at or below the pointer are swept outright
    * (dangling ones ABOVE the pointer are the next write's to sweep).
    */
  def gc(spark: SparkSession, dir: String, keep: Int = 2): Int = {
    require(keep >= 1, "gc must keep at least the live version")
    val fs = fsOf(spark, dir)
    currentVersion(spark, dir) match {
      case None => 0
      case Some(live) =>
        val (done, torn) = listVersions(fs, dir).filter(_ <= live)
          .partition(v => complete(fs, verDir(dir, v)))
        val victims = done.dropRight(keep) ++ torn
        victims.foreach(v => fs.delete(verDir(dir, v), true))
        victims.length
    }
  }
}
