package graft.ops


import org.apache.spark.sql.SparkSession
import org.apache.hadoop.fs.{FileSystem, Path}

/** WAREHOUSE MAINTENANCE SWEEP — the janitor every lakehouse runs on a
  * schedule (Delta's VACUUM jobs, Iceberg's maintenance actions, table
  * services in every managed platform): each table declares its OWN
  * retention in a `_policy` file, and ONE sweep walks the warehouse
  * root, detects each table's layout (pointer-protocol snapshot table vs
  * action-log table), applies the matching retention primitive
  * ([[VersionedTable.gc]] / [[ActionLog.vacuum]] — each already
  * crash-safe on its own), and returns a ledger of what it dropped. The
  * sweep itself is O(warehouse metadata): listing, policy reads, and the
  * per-table primitives' own costs — no data reads beyond what vacuum's
  * reference-counting needs. Policy-less tables default to `keep=2`
  * (live + one undo step) — a janitor that silently skips unlabeled
  * tables lets them grow forever, the opposite failure.
  */
object Maintenance {

  final case class Swept(table: String, kind: String, dropped: Int,
      filesDeleted: Int, compacted: Boolean = false)

  private val PolicyName = "_policy"

  private def fsOf(spark: SparkSession, dir: String): FileSystem =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Declare a table's retention (keep the newest `keep` versions) and —
    * for log tables — an optional AUTO-OPTIMIZE trigger: when the live
    * file count exceeds `compactOver`, the sweep bin-packs the table
    * before vacuuming (Delta's auto-compaction policy as a declared,
    * per-table contract).
    */
  def setPolicy(spark: SparkSession, tableDir: String, keep: Int,
      compactOver: Option[Int] = None,
      vacuumGraceMs: Option[Long] = None): Unit = {
    require(keep >= 1, "policy must keep at least the live version")
    compactOver.foreach(n => require(n >= 1, "compactOver must be >= 1"))
    vacuumGraceMs.foreach(g => require(g >= 0, "grace must be >= 0"))
    val fs = fsOf(spark, tableDir)
    MetaFile.replace(fs, new Path(tableDir, PolicyName), (Seq(s"keep=$keep") ++
      compactOver.toSeq.map(n => s"compact=$n") ++
      vacuumGraceMs.toSeq.map(g => s"grace=$g")).mkString("\n"))
  }

  /** (keep, compactOver, vacuumGraceMs). An absent `grace=` means the
    * vacuum default — a sweep runs CONCURRENTLY with writers, so the safe
    * window is the default, not zero; `grace=0` is an explicit per-table
    * opt-out for provably single-writer tables. An absent `_policy` is the
    * default policy, unless a [[setPolicy]] crashed between deleting it
    * and renaming its replacement in: then the declared policy is unknown,
    * and defaulting could sweep versions it keeps, so this fails loudly.
    */
  def policyOf(spark: SparkSession,
      tableDir: String): (Int, Option[Int], Long) = {
    val fs = fsOf(spark, tableDir)
    MetaFile.read(fs, new Path(tableDir, PolicyName)) match {
      case None =>
        require(!fs.listStatus(new Path(tableDir))
            .exists(st => MetaFile.replacing(st.getPath.getName).contains(PolicyName)),
          s"Maintenance.policyOf($tableDir): $PolicyName is mid-replace " +
            "(a setPolicy crashed before its rename) — re-run setPolicy")
        (2, None, ActionLog.DefaultVacuumGraceMs)
      case Some(text) =>
        val kv = text.trim.split("\n").map(_.split("=", 2))
          .map(a => a(0) -> a(1)).toMap
        (kv("keep").toInt, kv.get("compact").map(_.toInt),
          kv.get("grace").map(_.toLong)
            .getOrElse(ActionLog.DefaultVacuumGraceMs))
    }
  }

  /** Recursively find table roots under `root`: a dir holding `_ptr` (or
    * `_v-*` children) is a snapshot table; one holding `_log` is an
    * action-log table. Children of a table are never descended into.
    */
  def discover(spark: SparkSession, root: String): Seq[(String, String)] = {
    val fs = fsOf(spark, root)
    def walk(p: Path): Seq[(String, String)] = {
      if (!fs.exists(p)) return Seq.empty
      val children = fs.listStatus(p).toSeq
      val names = children.map(_.getPath.getName).toSet
      if (names.contains("_ptr") || names.exists(_.startsWith("_v-")))
        Seq(p.toString -> "versioned")
      else if (names.contains("_log")) Seq(p.toString -> "log")
      else children.filter(_.isDirectory).flatMap(st => walk(st.getPath))
    }
    walk(new Path(root)).sortBy(_._1)
  }

  /** CHECKSUM SCRUB — the storage-scrubbing pass every durable system
    * schedules: walk the warehouse, verify each snapshot table's live
    * version against its q279 content stamp; an unstamped table is
    * ENROLLED (stamped now — the scrub bootstraps its own coverage), a
    * diverged one reports `corrupt` LOUDLY in the ledger instead of
    * waiting for an analyst to notice. Log tables carry their receipts
    * per export (q285) and are skipped here.
    */
  def scrub(spark: SparkSession, root: String): Seq[(String, String)] =
    discover(spark, root).map { case (dir, kind) =>
      if (kind != "versioned") dir -> "skipped"
      else VersionedTable.currentVersion(spark, dir) match {
        case None => dir -> "empty"
        case Some(v) =>
          val fs = fsOf(spark, dir)
          if (!fs.exists(new Path(VersionedTable.verDir(dir, v), "_crc"))) {
            TableChecksum.stamp(spark, dir, v)
            dir -> "enrolled"
          } else scala.util.Try(TableChecksum.verify(spark, dir, v))
            .fold(_ => dir -> "corrupt", _ => dir -> "ok")
      }
    }

  /** Sweep the warehouse: apply each table's policy, return the ledger.
    * For log tables the order is compact-then-vacuum, so a triggered
    * OPTIMIZE's removed small files become vacuum-eligible in the same
    * pass once retention allows.
    */
  def sweep(spark: SparkSession, root: String): Seq[Swept] =
    discover(spark, root).map { case (dir, kind) =>
      val (keep, compactOver, graceMs) = policyOf(spark, dir)
      kind match {
        case "versioned" =>
          Swept(dir, kind, VersionedTable.gc(spark, dir, keep), 0)
        case "log" =>
          val didCompact = compactOver.exists { n =>
            val live = ActionLog.resolve(spark, dir,
              ActionLog.versions(spark, dir).last)._1
            if (live.size > n) {
              ActionLog.compactFiles(spark, dir, live, numFiles = n,
                statsCol = ActionLog.statsColumn(spark, dir))
              true
            } else false
          }
          val (dropped, deleted) = ActionLog.vacuum(spark, dir, keep, graceMs)
          Swept(dir, kind, dropped, deleted, didCompact)
      }
    }
}
