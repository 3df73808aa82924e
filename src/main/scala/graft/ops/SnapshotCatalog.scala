package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.hadoop.fs.{FileSystem, Path}
import java.nio.charset.StandardCharsets

/** Cross-table atomic snapshots: a catalog-level pointer over
  * [[VersionedTable]] versions.
  *
  * A per-table pointer makes each table individually crash-safe, but two
  * tables that must move TOGETHER (a fact and the dim its keys reference)
  * can still be observed mid-migration: dim flipped, fact not yet — the
  * torn state every warehouse migration fears. The fix is the same trick
  * one level up (how Nessie/lakeFS frame multi-table commits, and what a
  * Hive metastore transaction approximates): readers resolve EVERY table
  * through one catalog manifest, and a commit writes a new manifest then
  * flips ONE pointer. Participating tables' own pointers become an
  * implementation detail; the catalog pin is the only read path.
  *
  * Layout under `catDir`:
  * {{{
  *   catDir/_ptr           # zero-padded live manifest number
  *   catDir/_m-00000002    # manifest: "table=version" lines
  * }}}
  *
  * Write protocol mirrors [[VersionedTable]]: claim the full manifest
  * ([[MetaFile.claim]] — a manifest is visible to the reader fallback the
  * instant it exists, so it lands whole), then replace the pointer
  * ([[MetaFile.replace]]). A crash between the two leaves a dangling
  * manifest that the next commit sweeps; with no pointer file, readers fall
  * back to the highest manifest. Single-writer, like the table layer.
  */
object SnapshotCatalog {

  private val PtrName = "_ptr"
  private val ManifestPrefix = "_m-"

  private def fsOf(spark: SparkSession, dir: String): FileSystem =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def manifestPath(catDir: String, n: Long): Path =
    new Path(catDir, f"$ManifestPrefix$n%08d")

  private def listManifests(fs: FileSystem, catDir: String): Seq[Long] =
    if (!fs.exists(new Path(catDir))) Nil
    else fs.listStatus(new Path(catDir))
      .map(_.getPath.getName).filter(_.startsWith(ManifestPrefix))
      .flatMap(n => n.stripPrefix(ManifestPrefix).toLongOption.toSeq)
      .sorted.toSeq

  private def parse(text: String): Map[String, Long] =
    text.split("\n").filter(l => l.nonEmpty && !l.startsWith("#")).map { line =>
      val Array(t, v) = line.split("=", 2)
      t -> v.toLong
    }.toMap

  /** The table-set a manifest declared it writes (OCC header); empty for
    * single-writer manifests.
    */
  private def writesOf(text: String): Set[String] =
    text.split("\n").find(_.startsWith("#writes="))
      .map(_.stripPrefix("#writes=").split(",").filter(_.nonEmpty).toSet)
      .getOrElse(Set.empty)

  /** The live catalog state: (manifest number, table -> pinned version). */
  def current(spark: SparkSession, catDir: String): Option[(Long, Map[String, Long])] = {
    val fs = fsOf(spark, catDir)
    val ptr = MetaFile.read(fs, new Path(catDir, PtrName)).flatMap(_.trim.toLongOption)
    val candidate = ptr.filter(n => fs.exists(manifestPath(catDir, n)))
      .orElse(listManifests(fs, catDir).lastOption)
    candidate.flatMap(n =>
      MetaFile.read(fs, manifestPath(catDir, n)).map(t => n -> parse(t)))
  }

  /** Atomically commit a new table->version mapping. The pins should name
    * COMPLETE table versions (publish/write them first); the catalog flip
    * is the single instant at which readers move, for every table at once.
    */
  def commit(spark: SparkSession, catDir: String, pins: Map[String, Long]): Long = {
    require(pins.nonEmpty, "commit: empty manifest")
    require(pins.keys.forall(t => !t.contains("=") && !t.contains("\n")),
      "commit: table names must not contain '=' or newlines")
    val fs = fsOf(spark, catDir)
    fs.mkdirs(new Path(catDir))
    val cur = current(spark, catDir).map(_._1)
    // sweep dangling manifests above the live one (crashed commits)
    listManifests(fs, catDir).filter(n => n > cur.getOrElse(-1L))
      .foreach(n => fs.delete(manifestPath(catDir, n), false))
    val next = cur.getOrElse(0L) + 1L
    val body = pins.toSeq.sortBy(_._1).map { case (t, v) => s"$t=$v" }.mkString("\n")
    require(MetaFile.claim(fs, manifestPath(catDir, next), body.getBytes(StandardCharsets.UTF_8)),
      s"SnapshotCatalog.commit($catDir): manifest $next was claimed concurrently " +
        "— the catalog is single-writer; use commitOcc")
    MetaFile.replace(fs, new Path(catDir, PtrName), next.toString)
    next
  }

  /** Thrown when a concurrent catalog transaction committed an overlapping
    * table set between this writer's read and its claim.
    */
  final class CatalogConflictException(msg: String) extends RuntimeException(msg)

  final case class CatCommitted(manifest: Long, rebased: Int)

  /** Idempotent roll-forward for the OCC path: the manifest CREATE is the
    * commit point, the pointer flip is finalization — advance the pointer
    * to the highest manifest if it lags. Safe for anyone to call anytime.
    */
  def finalizePending(spark: SparkSession, catDir: String): Unit = {
    val fs = fsOf(spark, catDir)
    listManifests(fs, catDir).lastOption.foreach { top =>
      val cur = MetaFile.read(fs, new Path(catDir, PtrName)).flatMap(_.trim.toLongOption)
      if (!cur.exists(_ >= top)) MetaFile.replace(fs, new Path(catDir, PtrName), top.toString)
    }
  }

  /** Catalog-level optimistic concurrency — [[Occ]]'s claim/rebase protocol
    * one level up, so two CROSS-TABLE transactions race safely: each
    * declares the tables it repins (`tableSet`), computes its new pin map
    * from the pins it read (`update`, a pure function re-run on rebase),
    * and claims the next manifest number with one atomic create-if-absent
    * (the manifest file IS the commit record, carrying its write set as a
    * `#writes=` header). A loser whose table set is DISJOINT from every
    * manifest committed since its read rebases — recomputes against the
    * winner's pins, so both transactions' repins land; an OVERLAPPING
    * loser throws with the catalog untouched. Pointer flip is idempotent
    * finalization ([[finalizePending]]), so a writer crashing after its
    * claim loses nothing. Same single-protocol rule as the table layer:
    * OCC and plain [[commit]] must not share a catalog.
    *
    * `update` must stage/publish the underlying TABLE versions it pins
    * before returning — the catalog claim only orders the repins.
    */
  def commitOcc(spark: SparkSession, catDir: String, tableSet: Set[String])
      (update: Map[String, Long] => Map[String, Long], maxRebases: Int = 10,
       hook: () => Unit = () => ()): CatCommitted = {
    require(tableSet.nonEmpty, "commitOcc: declare the tables this txn repins")
    val fs = fsOf(spark, catDir)
    fs.mkdirs(new Path(catDir))
    var rebases = 0
    while (true) {
      finalizePending(spark, catDir)
      val (base, pins) = current(spark, catDir).getOrElse(0L -> Map.empty[String, Long])
      val newPins = update(pins)
      require(tableSet.subsetOf(pins.keySet ++ newPins.keySet),
        s"commitOcc: declared tables $tableSet missing from the pin map")
      require(pins.filterNot { case (t, v) => newPins.get(t).contains(v) }
          .keySet.subsetOf(tableSet) &&
        newPins.filterNot { case (t, v) => pins.get(t).contains(v) }
          .keySet.subsetOf(tableSet),
        "commitOcc: the update repinned tables outside its declared set")
      hook()
      // write sets committed since our read: disjoint -> rebase, else fail
      val winners = listManifests(fs, catDir).filter(_ > base)
        .flatMap(n => MetaFile.read(fs, manifestPath(catDir, n)).map(n -> writesOf(_)))
      winners.find(_._2.intersect(tableSet).nonEmpty) match {
        case Some((n, ws)) =>
          throw new CatalogConflictException(
            s"commitOcc($catDir): table set ${tableSet.toSeq.sorted.mkString(",")} " +
              s"conflicts with manifest $n's ${ws.toSeq.sorted.mkString(",")}")
        case None =>
          val target = listManifests(fs, catDir).lastOption.getOrElse(0L) + 1L
          val claimed = target == base + 1L && {
            val body = (s"#writes=${tableSet.toSeq.sorted.mkString(",")}" +:
              newPins.toSeq.sortBy(_._1).map { case (t, v) => s"$t=$v" })
              .mkString("\n")
            MetaFile.claim(fs, manifestPath(catDir, target), body.getBytes(StandardCharsets.UTF_8))
          }
          if (claimed) {
            finalizePending(spark, catDir)
            return CatCommitted(target, rebases)
          }
          rebases += 1
          if (rebases > maxRebases)
            throw new CatalogConflictException(
              s"commitOcc($catDir): gave up after $maxRebases rebases")
      }
    }
    sys.error("unreachable")
  }

  /** Read `table` at the version the LIVE manifest pins — never the table's
    * own pointer, which may already have moved mid-migration.
    */
  def readPinned(spark: SparkSession, catDir: String, table: String,
      tableDir: String): DataFrame = {
    val (_, pins) = current(spark, catDir).getOrElse(
      sys.error(s"SnapshotCatalog.readPinned($catDir): no committed manifest"))
    val v = pins.getOrElse(table,
      sys.error(s"SnapshotCatalog.readPinned: '$table' not in the live manifest"))
    VersionedTable.readVersion(spark, tableDir, v)
  }
}
