package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.hadoop.fs.Path

/** Change Data Feed for [[VersionedTable]] — the public Delta CDF design
  * (`_change_data` files + `table_changes(from, to)`) re-expressed on the
  * `_v-NNNNNNNN` snapshot layout. The reference's pipeline consumes full
  * daily snapshots (dags/sql/merge_core.sql rewrites CORE wholesale); a
  * downstream at 100 TB wants the DELTA of each commit, not the snapshot —
  * incremental view maintenance, audit trails, and replication all read
  * "what changed in version N" as rows.
  *
  * Capture is WRITE-SIDE, not read-side: [[commit]] computes the keyed diff
  * of the staged snapshot against the live one and persists it as parquet
  * under `_v-N/_cdf/` BEFORE the pointer flip (the same
  * atomic-with-the-version trick the txn markers and stats index use — a
  * version is never live without its change files, and the underscore
  * prefix keeps them invisible to snapshot readers). The diff costs one
  * keyed shuffle join — the same shuffle a MERGE pays anyway — so capture
  * is O(table + delta) at write time and every reader thereafter pays only
  * O(changes), never a snapshot diff. [[snapshotDiff]] remains as the
  * fallback for versions written before CDF was enabled (Delta reconstructs
  * those the same way) and as the cross-check that the persisted capture
  * equals the logical diff.
  *
  * Change rows carry the full data columns plus `_change_type` in
  * {insert, update_preimage, update_postimage, delete} and, on read,
  * `_commit_version` — Delta's public column contract.
  */
object ChangeFeed {

  private val CdfDirName = "_cdf"
  val ChangeType = "_change_type"
  val CommitVersion = "_commit_version"
  private val KeysFile = "_cdfkeys"

  private def cdfDir(dir: String, v: Long): Path =
    new Path(VersionedTable.verDir(dir, v), CdfDirName)

  /** PROTOCOL-LEVEL overwrite capture (Delta's shape for blind INSERT
    * OVERWRITE): the version carries only this marker — zero capture
    * bytes, no diff join at write time — and readers EXPAND it lazily as
    * "every logical row of v-1 is a delete, every row of v an insert".
    * [[netChanges]] collapses the expansion to the same net answer the
    * write-side keyed diff produced (unchanged rows vanish, changed rows
    * pair into updates), so consumers that want the net form still get
    * it — computed from O(changes this range), not one join per commit.
    * The writer only emits the marker when v-1 exists and carries no
    * deletion vectors (a DV-masked base needs the logical view, which is
    * exactly what the keyed-diff fallback reads).
    */
  val OverwriteMarkerName = "_cdf_overwrite"

  private def markerPath(dir: String, v: Long): Path =
    new Path(VersionedTable.verDir(dir, v), OverwriteMarkerName)

  /** Whether version `v` carries change capture in either form. */
  def hasCapture(spark: SparkSession, dir: String, v: Long): Boolean = {
    val fs = VersionedTable.fsOf(spark, dir)
    fs.exists(cdfDir(dir, v)) || fs.exists(markerPath(dir, v))
  }

  /** Expand an overwrite marker: deletes = the LOGICAL content of v-1,
    * inserts = the content of v. Two scans, a union, no join.
    */
  private def expandOverwrite(spark: SparkSession, dir: String,
      v: Long): DataFrame = {
    val fs = VersionedTable.fsOf(spark, dir)
    require(VersionedTable.complete(fs, VersionedTable.verDir(dir, v - 1L)),
      s"ChangeFeed($dir): version $v's overwrite capture derives from " +
        s"version ${v - 1} which is expired or missing — replay from a " +
        "retained snapshot instead")
    def logical(ver: Long): DataFrame =
      if (fs.exists(new Path(VersionedTable.verDir(dir, ver), "_dv")))
        DeletionVectors.readVersion(spark, dir, ver)
      else VersionedTable.readVersion(spark, dir, ver)
    logical(v - 1L).withColumn(ChangeType, lit("delete"))
      .unionByName(logical(v).withColumn(ChangeType, lit("insert")))
  }

  /** The key columns this table's feed diffs on, recorded at the first
    * captured commit (`_cdfkeys`, like the log's `_statscol`). This is
    * what lets the SQL DML paths — which receive no key declaration —
    * keep the feed maintained: a blind INSERT OVERWRITE or a row-level
    * UPDATE/MERGE diffs with the RECORDED keys, instead of committing a
    * capture-less version that permanently wedges every running CDF
    * stream on the table (the stream's contiguity guard cannot step over
    * it). Later keyed commits must agree — a feed diffed under two
    * different key sets is two different feeds.
    */
  def recordedKeys(spark: SparkSession, dir: String): Option[Seq[String]] = {
    val fs = VersionedTable.fsOf(spark, dir)
    MetaFile.read(fs, new Path(dir, KeysFile))
      .map(_.split("\n").map(_.trim).filter(_.nonEmpty).toSeq)
  }

  private def recordKeys(spark: SparkSession, dir: String,
      keys: Seq[String]): Unit = recordedKeys(spark, dir) match {
    case Some(existing) => require(existing == keys,
      s"ChangeFeed($dir): feed keys are ${existing.mkString(",")}, " +
        s"cannot switch to ${keys.mkString(",")} — one feed, one key set")
    case None =>
      // put-if-absent, not check-then-create: two concurrent FIRST commits
      // with different key sets must not silently overwrite each other —
      // the loser re-reads the winner's keys and the one-feed-one-keyset
      // require fires exactly as it does for later commits
      val fs = VersionedTable.fsOf(spark, dir)
      val bytes = keys.mkString("\n")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8)
      if (!MetaFile.claim(fs, new Path(dir, KeysFile), bytes)) {
        val winner = recordedKeys(spark, dir).getOrElse(
          sys.error(s"ChangeFeed($dir): lost the $KeysFile race but no keys readable"))
        require(winner == keys,
          s"ChangeFeed($dir): feed keys are ${winner.mkString(",")} " +
            s"(recorded concurrently), cannot switch to ${keys.mkString(",")}" +
            " — one feed, one key set")
      }
  }

  /** Whether this table carries a change feed any commit must maintain:
    * recorded keys, or any retained complete version with a persisted
    * capture (covers feeds started before key recording existed).
    */
  def tracked(spark: SparkSession, dir: String): Boolean =
    recordedKeys(spark, dir).isDefined || {
      val fs = VersionedTable.fsOf(spark, dir)
      VersionedTable.listVersions(fs, dir).exists(v =>
        fs.exists(cdfDir(dir, v)))
    }

  /** Keyed diff `old -> new`: inserts (key only in `new`), deletes (key only
    * in `old`), and updates (key in both, any non-key column differing
    * null-safely) as preimage + postimage rows. One full-outer shuffle join
    * on the key — the minimal work any change capture does.
    */
  private[graft] def diff(oldDf: Option[DataFrame], newDf: DataFrame,
      keyCols: Seq[String]): DataFrame = {
    val cols = newDf.columns.toSeq
    val dataCols = cols.filterNot(keyCols.contains)
    oldDf match {
      case None =>
        newDf.withColumn(ChangeType, lit("insert"))
      case Some(old0) =>
        require(old0.columns.forall(cols.contains),
          s"ChangeFeed.diff: dropped columns not supported " +
            s"(${old0.columns.toSeq.diff(cols)} missing from ${cols})")
        val added = cols.filterNot(old0.columns.contains)
        require(added.intersect(keyCols).isEmpty,
          s"ChangeFeed.diff: a key column cannot be added mid-stream ($added)")
        // add-column evolution (Delta's CDF contract): pre-evolution rows
        // read null-padded under the evolved schema, so a backfill commit
        // captures as updates whose preimages carry NULL in the new column
        val old = old0.select(cols.map(c =>
          if (added.contains(c)) lit(null).cast(newDf.schema(c).dataType).as(c)
          else col(c)): _*)
        // wrap each side in ONE struct before the join: side-presence is then
        // the struct's own nullness, never the key's (a legitimately-null key
        // must classify as an update when present on both sides)
        val o = old.select(struct(cols.map(col): _*).as("o"))
        val n = newDf.select(struct(cols.map(col): _*).as("n"))
        val joined = o.join(n,
          keyCols.map(k => col(s"o.$k") <=> col(s"n.$k")).reduce(_ && _),
          "full_outer")
        val changed =
          if (dataCols.isEmpty) lit(false)
          else !(struct(dataCols.map(c => col(s"o.$c")): _*) <=>
            struct(dataCols.map(c => col(s"n.$c")): _*))
        // one pass classifies; updates explode into exactly two rows
        val tagged = joined.select(col("o"), col("n"),
          when(col("o").isNull, array(lit("insert")))
            .when(col("n").isNull, array(lit("delete")))
            .when(changed, array(lit("update_preimage"), lit("update_postimage")))
            .otherwise(array().cast("array<string>")).as("kinds"))
        tagged.select(explode(col("kinds")).as(ChangeType), col("o"), col("n"))
          .select(cols.map(c =>
            when(col(ChangeType).isin("delete", "update_preimage"),
              col(s"o.$c")).otherwise(col(s"n.$c")).as(c)) :+ col(ChangeType): _*)
    }
  }

  /** Write `df` as the next version WITH change capture: stage the full
    * snapshot, diff it against the live version, persist the changes inside
    * the staged dir, then publish. Uses the staged (immutable, materialized)
    * copy for the diff so `df` may lazily read the live version. Returns the
    * new version number.
    */
  def commit(df: DataFrame, dir: String, keyCols: Seq[String],
      txn: Map[String, Long] = Map.empty): Long = {
    val spark = df.sparkSession
    recordKeys(spark, dir, keyCols)
    val cur = VersionedTable.currentVersion(spark, dir)
    val old = cur.map(v => VersionedTable.readVersion(spark, dir, v))
    val next = VersionedTable.stage(df, dir)
    val staged = spark.read.parquet(VersionedTable.stagedDir(dir, next))
    diff(old, staged, keyCols)
      .write.mode(SaveMode.Overwrite).parquet(cdfDir(dir, next).toString)
    VersionedTable.publish(spark, dir, next, txn)
    next
  }

  /** Exactly-once streaming commit WITH change capture (the Delta `txn`
    * pattern composed with CDF): the next version — and its change files —
    * land only if `batchId` is beyond this app's last committed batch;
    * a re-delivered micro-batch (crash, or full checkpoint loss and
    * replay) produces NO new version and NO duplicate feed entries, so
    * downstream feed consumers inherit exactly-once for free.
    */
  def commitCommitted(df: DataFrame, dir: String, keyCols: Seq[String],
      appId: String, batchId: Long): Option[Long] =
    if (VersionedTable.lastBatchId(df.sparkSession, dir, appId).exists(_ >= batchId)) None
    else Some(commit(df, dir, keyCols, Map(appId -> batchId)))

  /** Recompute version `v`'s changes from its two snapshots — the fallback
    * for pre-CDF versions and the audit twin of the persisted capture.
    * Requires both `v` and (when `v > 1`) `v-1` to still be retained.
    */
  def snapshotDiff(spark: SparkSession, dir: String, v: Long,
      keyCols: Seq[String]): DataFrame = {
    val old =
      if (v <= 1L) None
      else Some(VersionedTable.readVersion(spark, dir, v - 1))
    diff(old, VersionedTable.readVersion(spark, dir, v), keyCols)
  }

  /** Delta's `table_changes(from, to)`: every change row of versions in
    * `(fromVersion, toVersion]`, each tagged `_commit_version`. Reads the
    * persisted `_cdf` files when present (O(changes)); falls back to
    * [[snapshotDiff]] for versions without capture. The per-version loop is
    * driver-side over retained-version COUNT (tiny, same as `txnHistory`) —
    * the data path is a parquet union, fully distributed.
    */
  def tableChanges(spark: SparkSession, dir: String, fromVersion: Long,
      toVersion: Long, keyCols: Seq[String]): DataFrame = {
    val fs = VersionedTable.fsOf(spark, dir)
    val vs = VersionedTable.listVersions(fs, dir)
      .filter(v => v > fromVersion && v <= toVersion &&
        VersionedTable.complete(fs, VersionedTable.verDir(dir, v)))
    require(vs.nonEmpty,
      s"tableChanges($dir, $fromVersion, $toVersion): no complete versions in range")
    // CONTIGUITY, not just non-emptiness: a gc'd version inside the range
    // would silently drop its changes from the feed and every replay built
    // on it would be wrong — the reader must fail loudly and restart from
    // a retained base instead (Delta raises the same error when CDF
    // versions fall out of retention)
    require(vs == ((fromVersion + 1) to toVersion),
      s"tableChanges($dir, $fromVersion, $toVersion): versions " +
        s"${((fromVersion + 1) to toVersion).diff(vs).mkString(",")} are " +
        "expired or missing — replay from a retained snapshot instead")
    // TW × CDF (round 17 #3): a type-widening table chains its epochs
    // under `data/` subdirs, so the flat-readVersion snapshotDiff would
    // read nothing and render an empty feed — silently. Change rows are
    // PINNED to the manifest of `toVersion`: each bounding snapshot reads
    // under its own manifest (TypeWidening.readVersion) and casts UP to
    // toVersion's types — lossless by the widening-only invariant
    // (toVersion >= v and the manifest only ever widens), so the feed
    // carries ONE deterministic schema no matter where the widens landed
    // in the range. A metadata-only widen commit diffs empty, as it must.
    val typed = fs.exists(new Path(
      VersionedTable.verDir(dir, toVersion), "_types"))
    def typedAt(v: Long): DataFrame = {
      val types = TypeWidening.typesOf(spark, dir, toVersion)
      TypeWidening.readVersion(spark, dir, v)
        .select(types.map { case (n, t) => col(n).cast(t).as(n) }: _*)
    }
    vs.map { v =>
      val cd = cdfDir(dir, v)
      val changes =
        if (typed)
          diff(if (v <= 1L) None else Some(typedAt(v - 1)), typedAt(v),
            keyCols)
        else if (fs.exists(cd)) spark.read.parquet(cd.toString)
        else if (fs.exists(markerPath(dir, v))) expandOverwrite(spark, dir, v)
        else snapshotDiff(spark, dir, v, keyCols)
      changes.withColumn(CommitVersion, lit(v))
      // allowMissingColumns: captures written before an add-column
      // evolution lack the new column; they read null-padded (same
      // convention as the diff's preimages)
    }.reduce(_.unionByName(_, allowMissingColumns = true))
  }

  /** Timestamp-bounded `table_changes` (Delta's timestamp form): resolve
    * `[fromTs, toTs]` against the MONOTONIC `_commit_ts` stamps — from =
    * the earliest version committed at or after `fromTs`, to = the latest
    * committed at or before `toTs` — then read that version range through
    * [[tableChanges]], inheriting its contiguity guard. Loud failures
    * everywhere silence would corrupt: an instant before the first
    * retained commit (the replay base is gone), a window after the last
    * commit (nothing to read — the caller's clock is wrong), and any
    * unstamped version in retained history (resolution is unsafe).
    */
  def tableChangesBetween(spark: SparkSession, dir: String, fromTs: Long,
      toTs: Long, keyCols: Seq[String]): DataFrame = {
    require(fromTs <= toTs,
      s"tableChangesBetween($dir): fromTs $fromTs > toTs $toTs")
    val fs = VersionedTable.fsOf(spark, dir)
    val live = VersionedTable.currentVersion(spark, dir).getOrElse(
      sys.error(s"tableChangesBetween($dir): no complete snapshot"))
    val stamped = VersionedTable.listVersions(fs, dir)
      .filter(v => v <= live &&
        VersionedTable.complete(fs, VersionedTable.verDir(dir, v)))
      .map(v => v -> VersionedTable.commitTimestamp(spark, dir, v).getOrElse(
        sys.error(s"tableChangesBetween($dir): version $v has no commit " +
          "timestamp — resolution over unstamped history is unsafe")))
    require(toTs >= stamped.head._2,
      s"tableChangesBetween($dir): window ends at $toTs, before the oldest " +
        s"retained commit (${stamped.head._2}) — replay from a snapshot instead")
    val from = stamped.find(_._2 >= fromTs).map(_._1).getOrElse(
      sys.error(s"tableChangesBetween($dir): no commit at or after $fromTs"))
    val to = stamped.filter(_._2 <= toTs).map(_._1).last
    require(from <= to,
      s"tableChangesBetween($dir): the window [$fromTs, $toTs] contains no commits")
    tableChanges(spark, dir, from - 1, to, keyCols)
  }

  /** Column-level change accounting — which DATA columns each update
    * actually touched (the column-level CDC audit engines layer over
    * row-level feeds). Computed post-hoc from the feed: pre/postimage rows
    * pair on (key, commit version), each data column contributes when its
    * two sides differ null-safely. One self-join keyed on (key, version) —
    * O(update pairs), never O(table).
    */
  /** Collapse a feed range to its MINIMAL per-key net effect — the
    * "collapsed CDC" every downstream consumer actually wants (Debezium's
    * tombstone compaction, Delta's latest-change-per-key read pattern,
    * generalized to carry the correct PRE-state): a key inserted then
    * deleted nets to NOTHING, updated then updated nets to ONE update
    * whose preimage is the range's first pre-state, updated back to its
    * original value nets to nothing, deleted then re-inserted identically
    * nets to nothing (and to an UPDATE when the re-insert differs). The
    * contract — and the whole point — is `netChanges(a, b) ≡
    * diff(snapshot_a, snapshot_b)` bit-exactly, computed from O(changes)
    * instead of re-scanning two table-sized snapshots.
    *
    * One key-shuffled aggregation: `min_by`/`max_by` pick each key's
    * boundary states (preimage/delete rows sort first within their
    * version, postimage/insert last), then a single pass classifies.
    */
  def netChanges(spark: SparkSession, dir: String, fromVersion: Long,
      toVersion: Long, keyCols: Seq[String]): DataFrame = {
    val ch = tableChanges(spark, dir, fromVersion, toVersion, keyCols)
    val dataCols = ch.columns.toSeq
      .filterNot(c => c == ChangeType || c == CommitVersion)
    val isPre = col(ChangeType).isin("update_preimage", "delete")
    val rowStruct = struct(col(ChangeType).as("__t") +: dataCols.map(col): _*)
    val g = ch.groupBy(keyCols.map(col): _*).agg(
      min_by(rowStruct, struct(col(CommitVersion),
        when(isPre, 0).otherwise(1))).as("__first"),
      max_by(rowStruct, struct(col(CommitVersion),
        when(isPre, 0).otherwise(1))).as("__last"))
    val beforeAbsent = col("__first.__t") === "insert"
    val afterAbsent = col("__last.__t") === "delete"
    val beforeVals = struct(dataCols.map(c => col(s"__first.$c").as(c)): _*)
    val afterVals = struct(dataCols.map(c => col(s"__last.$c").as(c)): _*)
    val kinds = when(beforeAbsent && afterAbsent, array().cast("array<string>"))
      .when(beforeAbsent, array(lit("insert")))
      .when(afterAbsent, array(lit("delete")))
      .when(beforeVals <=> afterVals, array().cast("array<string>")) // undone
      .otherwise(array(lit("update_preimage"), lit("update_postimage")))
    g.select(explode(kinds).as(ChangeType), col("__first"), col("__last"))
      .select(dataCols.map(c =>
        when(col(ChangeType).isin("delete", "update_preimage"),
          col(s"__first.$c")).otherwise(col(s"__last.$c")).as(c))
        :+ col(ChangeType): _*)
  }

  def changedColumns(changes: DataFrame, keyCols: Seq[String]): DataFrame = {
    val dataCols = changes.columns.toSeq
      .filterNot(c => keyCols.contains(c) || c == ChangeType || c == CommitVersion)
    val pre = changes.filter(col(ChangeType) === "update_preimage").alias("p")
    val post = changes.filter(col(ChangeType) === "update_postimage").alias("q")
    val joined = pre.join(post,
      keyCols.map(k => col(s"p.$k") <=> col(s"q.$k")).reduce(_ && _) &&
        col(s"p.$CommitVersion") === col(s"q.$CommitVersion"))
    val flags = dataCols.map(c => struct(lit(c).as("col_name"),
      (!(col(s"p.$c") <=> col(s"q.$c"))).as("changed")))
    joined.select(col(s"p.$CommitVersion").as(CommitVersion),
        explode(array(flags: _*)).as("cc"))
      .filter(col("cc.changed"))
      .groupBy(col(CommitVersion), col("cc.col_name").as("col_name"))
      .agg(count(lit(1)).as("n_rows"))
  }

  /** Delta's RESTORE: re-commit version `v`'s content as the NEXT version,
    * WITH change capture — history is preserved (time travel to the undone
    * versions keeps working inside retention) and the feed records the
    * undo as ordinary inserts/updates/deletes, so downstream consumers
    * (views, replicas, streams) converge on the restored state with no
    * special cases.
    */
  def restore(spark: SparkSession, dir: String, version: Long,
      keyCols: Seq[String]): Long =
    commit(VersionedTable.readVersion(spark, dir, version), dir, keyCols)

  /** Fold a change feed onto a base snapshot — the consumer-side replay that
    * proves the feed is COMPLETE (base + changes ≡ final snapshot): apply
    * per key the LAST post-state in version order (insert/update_postimage
    * rows win, delete removes). Preimage rows are audit-only and ignored.
    */
  def apply(base: Option[DataFrame], changes: DataFrame,
      keyCols: Seq[String]): DataFrame = {
    val dataCols = changes.columns.toSeq
      .filterNot(c => c == ChangeType || c == CommitVersion)
    val post = changes.filter(col(ChangeType) =!= "update_preimage")
    // WITHIN a version, a raw overwrite expansion can carry both a delete
    // (the old row) and an insert (the new row) of one key — the insert
    // is that version's final state, so non-deletes order first
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keyCols.map(col): _*)
      .orderBy(col(CommitVersion).desc,
        when(col(ChangeType) === "delete", 0).otherwise(1).desc)
    val latest = post
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1)
    val survivors = latest.filter(col(ChangeType) =!= "delete")
      .select(dataCols.map(col): _*)
    base match {
      case None => survivors
      case Some(b) =>
        val touched = changes.select(keyCols.map(col): _*).distinct()
        // allowMissingColumns: a base snapshot from before an add-column
        // evolution null-pads the new column, mirroring how its rows read
        // under the evolved schema
        b.join(touched, keyCols, "left_anti")
          .unionByName(survivors, allowMissingColumns = true)
    }
  }
}
