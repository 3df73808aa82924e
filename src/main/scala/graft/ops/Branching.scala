package graft.ops

import java.nio.charset.StandardCharsets

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.hadoop.fs.{FileSystem, Path}

/** GIT-FOR-DATA BRANCHING — the Nessie/LakeFS model (branches and merges
  * over immutable commits) with Dolt's KEY-WISE three-way merge for the
  * table content itself (the part Nessie delegates to the format):
  * commits are immutable snapshot dirs forming a DAG via parent links,
  * branches are head pointers, and branching is METADATA-ONLY — zero
  * bytes copied. A merge finds the lowest common ancestor; if the target
  * hasn't moved it FAST-FORWARDS (another pointer flip), otherwise both
  * sides' key-wise effects since the base are computed with the same
  * keyed diff the change feed uses, commute when they touch disjoint
  * keys (or agree bit-exactly on shared ones), and produce a two-parent
  * merge commit; a key both sides changed DIFFERENTLY — update-vs-update,
  * update-vs-delete — fails LOUDLY with the conflicting key count,
  * heads untouched.
  *
  * Scale shape: branch/fast-forward are O(1) metadata; a real merge is
  * two keyed diffs (O(base+head) each, one shuffle on the keys) plus an
  * anti-join apply — the same envelope as one MERGE INTO. At 100 TB this
  * is how an experiment rewrites a column on a branch and lands it
  * atomically — or not at all — without ever blocking main.
  *
  * Layout under `dir`:
  * {{{
  *   dir/_heads/<branch>     # text: commit id
  *   dir/_c-00000007/        # immutable parquet snapshot (+ _SUCCESS)
  *   dir/_c-00000007/_parents  # parent ids, one per line (2 for merges)
  * }}}
  *
  * A new branch's head is CLAIMED ([[MetaFile.claim]]); moving a head is a
  * [[MetaFile.replace]]. A crash in the middle of a move can leave the head
  * file deleted with its complete replacement beside it: the branch then
  * resolves to that replacement — the new commit — so a head is the old or
  * the new commit, never an empty or unreadable one.
  */
object Branching {

  sealed trait MergeOutcome { def head: Long }
  final case class FastForward(head: Long) extends MergeOutcome
  final case class Merged(head: Long) extends MergeOutcome

  private def fsOf(spark: SparkSession, dir: String): FileSystem =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def cDir(dir: String, id: Long): Path =
    new Path(s"$dir/_c-${"%08d".format(id)}")

  private val BranchName = "[A-Za-z0-9_-]+"

  private def headPath(dir: String, branch: String): Path = {
    require(branch.matches(BranchName), s"bad branch name: $branch")
    new Path(s"$dir/_heads/$branch")
  }

  /** The branch's head commit, None for no branch. With the head file
    * absent, a complete replacement of it is the head (the crash state of
    * an interrupted move); of several, the highest complete commit, since a
    * head only ever moves to a newer commit.
    */
  private def headOf(fs: FileSystem, dir: String, branch: String): Option[Long] =
    MetaFile.read(fs, headPath(dir, branch)).map(_.trim.toLong).orElse {
      val hp = new Path(s"$dir/_heads")
      if (!fs.exists(hp)) None
      else fs.listStatus(hp).toSeq
        .filter(st => MetaFile.replacing(st.getPath.getName).contains(branch))
        .flatMap(st => MetaFile.read(fs, st.getPath)).flatMap(_.trim.toLongOption)
        .filter(id => VersionedTable.complete(fs, cDir(dir, id))).maxOption
    }

  private def nextId(fs: FileSystem, dir: String): Long = {
    val root = new Path(dir)
    if (!fs.exists(root)) 1L
    else fs.listStatus(root).toSeq.map(_.getPath.getName)
      .filter(_.matches("_c-\\d{8}"))
      .map(_.stripPrefix("_c-").toLong).sorted.lastOption.getOrElse(0L) + 1L
  }

  def head(spark: SparkSession, dir: String, branch: String): Long =
    headOf(fsOf(spark, dir), dir, branch).getOrElse(
      throw new IllegalArgumentException(s"Branching: no branch '$branch' in $dir"))

  def parents(spark: SparkSession, dir: String, id: Long): Seq[Long] =
    MetaFile.read(fsOf(spark, dir), new Path(cDir(dir, id), "_parents")).toSeq
      .flatMap(_.split("\n")).map(_.trim).filter(_.nonEmpty).map(_.toLong)

  /** Stage an immutable commit: parquet first (committer plants _SUCCESS),
    * then capture and parents, then the head flip — a crash leaves a
    * dangling commit dir no head references. With `captureKeys`, the
    * commit carries its keyed diff against the FIRST parent — for a merge
    * commit that is exactly the incoming side's net effect on the target
    * branch, which is what a feed consumer of the target should see.
    */
  private def commitDirs(df: DataFrame, dir: String, parentIds: Seq[Long],
      branch: String, captureKeys: Option[Seq[String]] = None): Long = {
    val spark = df.sparkSession
    val fs = fsOf(spark, dir)
    val id = nextId(fs, dir)
    df.write.mode("overwrite").parquet(cDir(dir, id).toString)
    captureKeys.foreach { keys =>
      val old = parentIds.headOption.map(readCommit(spark, dir, _))
      ChangeFeed.diff(old, spark.read.parquet(cDir(dir, id).toString), keys)
        .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
        .parquet(new Path(cDir(dir, id), "_cdf").toString)
    }
    MetaFile.write(fs, new Path(cDir(dir, id), "_parents"), parentIds.mkString("\n"))
    MetaFile.replace(fs, headPath(dir, branch), id.toString)
    id
  }

  /** The FIRST-PARENT feed of `branch` back to (exclusive) `fromId`: each
    * commit's persisted capture tagged with its id, ordered oldest-first.
    * LOUD on a capture-less commit in range — a silent gap would corrupt
    * every replay built on the feed (the q221 contract, on the DAG).
    */
  def branchChanges(spark: SparkSession, dir: String, branch: String,
      fromId: Long, keyCols: Seq[String]): DataFrame = {
    val fs = fsOf(spark, dir)
    var chain = List.empty[Long]
    var cur = head(spark, dir, branch)
    while (cur != fromId) {
      chain = cur :: chain
      val ps = parents(spark, dir, cur)
      if (ps.isEmpty) {
        // the root commit: fromId 0 means "from the very beginning"
        require(fromId == 0L,
          s"Branching.branchChanges: $fromId is not a first-parent " +
            s"ancestor of $branch's head")
        cur = 0L
      } else cur = ps.head
    }
    require(chain.nonEmpty,
      s"Branching.branchChanges($branch, $fromId): empty range")
    chain.map { id =>
      val cd = new Path(cDir(dir, id), "_cdf")
      require(fs.exists(cd),
        s"Branching.branchChanges: commit $id has no capture — every " +
          "commit on a fed branch must capture")
      spark.read.parquet(cd.toString)
        .withColumn(ChangeFeed.CommitVersion, lit(id))
    }.reduce(_.unionByName(_))
  }

  /** [[commitOn]] with change capture. */
  def commitOnCaptured(df: DataFrame, dir: String, branch: String,
      keyCols: Seq[String]): Long = {
    val h = head(df.sparkSession, dir, branch)
    commitDirs(df, dir, Seq(h), branch, Some(keyCols))
  }

  /** One commit's persisted capture. Loud when absent. */
  def captureOf(spark: SparkSession, dir: String, id: Long): DataFrame = {
    val cd = new Path(cDir(dir, id), "_cdf")
    require(fsOf(spark, dir).exists(cd),
      s"Branching.captureOf: commit $id has no capture")
    spark.read.parquet(cd.toString)
  }

  /** The INVERSE capture — the algebra behind REVERT: inserts become
    * deletes, deletes become inserts, pre- and post-images swap.
    */
  def invertCapture(capture: DataFrame): DataFrame =
    capture.withColumn(ChangeFeed.ChangeType,
      when(col(ChangeFeed.ChangeType) === "insert", "delete")
        .when(col(ChangeFeed.ChangeType) === "delete", "insert")
        .when(col(ChangeFeed.ChangeType) === "update_preimage",
          "update_postimage")
        .otherwise("update_preimage"))

  /** CHERRY-PICK / REVERT primitive — apply a captured change-set onto a
    * branch under git's patch rule translated to keyed rows: every
    * preimage (update_preimage / delete row) must match the target's
    * CURRENT row BIT-EXACTLY and every insert key must be absent —
    * otherwise the pick CONFLICTS loudly and the branch is untouched
    * (the context lines of a diff, as row equality). A clean apply
    * commits the patched content WITH capture, so picks and reverts are
    * themselves feed-visible commits. Cost: two keyed anti/semi joins —
    * one MERGE's envelope.
    */
  def applyCapture(spark: SparkSession, dir: String, branch: String,
      capture: DataFrame, keyCols: Seq[String]): Long = {
    val target = readBranch(spark, dir, branch)
    val dataCols = target.columns.toSeq
    val pre = capture
      .filter(col(ChangeFeed.ChangeType).isin("update_preimage", "delete"))
      .select(dataCols.map(col): _*)
    val preKeys = pre.select(keyCols.map(col): _*)
    val targetAtPre = target.join(preKeys, keyCols, "left_semi")
    require(pre.exceptAll(targetAtPre).isEmpty &&
      targetAtPre.exceptAll(pre).isEmpty,
      s"Branching.applyCapture($branch): preimage mismatch — the patch's " +
        "context rows diverge from the branch; resolve manually")
    val ins = capture.filter(col(ChangeFeed.ChangeType) === "insert")
      .select(dataCols.map(col): _*)
    require(target.join(ins.select(keyCols.map(col): _*), keyCols,
      "left_semi").isEmpty,
      s"Branching.applyCapture($branch): an inserted key already exists")
    val post = capture
      .filter(col(ChangeFeed.ChangeType).isin("insert", "update_postimage"))
      .select(dataCols.map(col): _*)
    val patched = target.join(preKeys, keyCols, "left_anti")
      .unionByName(post)
    commitOnCaptured(patched.localCheckpoint(), dir, branch, keyCols)
  }

  /** First commit on `main`.
    *
    * TW × branching (round 17 #3): the branch plane (`_c-NNNNNNNN`
    * commit dirs + `_heads`) and the type-widening plane (`_v-N` epoch
    * chains + `_types`) are DISJOINT storage layouts — initializing one
    * inside a dir that already carries the other would leave two readers
    * rendering different tables from the same path, each silently blind
    * to the other's commits. Refused at the door in both directions
    * (see [[TypeWidening.init]] for the mirror guard). Widening INSIDE a
    * branch is already first-class the other way: a fork side may commit
    * a widened frame and [[merge]] reconciles the drift (branchEvo).
    */
  def init(df: DataFrame, dir: String): Long = {
    refuseTypedDir(df.sparkSession, dir, "init")
    commitDirs(df, dir, Seq.empty, "main")
  }

  /** [[init]] with change capture (the feed's all-inserts base). */
  def initCaptured(df: DataFrame, dir: String, keyCols: Seq[String]): Long = {
    refuseTypedDir(df.sparkSession, dir, "initCaptured")
    commitDirs(df, dir, Seq.empty, "main", Some(keyCols))
  }

  private def refuseTypedDir(spark: SparkSession, dir: String,
      op: String): Unit = {
    val fs = fsOf(spark, dir)
    val typedVersions = VersionedTable.listVersions(fs, dir)
      .filter(v => fs.exists(
        new Path(VersionedTable.verDir(dir, v), "_types")))
    require(typedVersions.isEmpty,
      s"Branching.$op($dir): this dir holds a type-widening table " +
        s"(versions ${typedVersions.mkString(",")} carry _types) — the " +
        "branch plane does not compose with the epoch-chain layout; " +
        "branch a COPY, or keep the typed table on its own path")
  }

  /** Commit `df` as the new head of `branch`. */
  def commitOn(df: DataFrame, dir: String, branch: String): Long = {
    val h = head(df.sparkSession, dir, branch)
    commitDirs(df, dir, Seq(h), branch)
  }

  /** Create `name` at `from`'s head — metadata-only, zero data copied. */
  def branch(spark: SparkSession, dir: String, from: String, name: String): Long = {
    val fs = fsOf(spark, dir)
    val h = head(spark, dir, from)
    require(headOf(fs, dir, name).isEmpty &&
      MetaFile.claim(fs, headPath(dir, name), h.toString.getBytes(StandardCharsets.UTF_8)),
      s"Branching: branch '$name' already exists")
    h
  }

  /** Discard a branch: remove its head pointer and any replacement of it
    * an interrupted move left, so the name cannot resolve again — the
    * commits it alone referenced become unreachable garbage for a future
    * retention sweep (never deleted inline: another ref may still reach
    * them). `main` is not droppable.
    */
  def drop(spark: SparkSession, dir: String, name: String): Unit = {
    require(name != "main", "Branching.drop: main is not droppable")
    val fs = fsOf(spark, dir)
    require(headOf(fs, dir, name).nonEmpty, s"Branching.drop: no branch '$name'")
    fs.listStatus(new Path(s"$dir/_heads")).map(_.getPath)
      .filter(p => p.getName == name || MetaFile.replacing(p.getName).contains(name))
      .foreach(fs.delete(_, false))
  }

  /** All branch names: the `_heads` listing, a branch caught mid-move
    * included.
    */
  def branches(spark: SparkSession, dir: String): Seq[String] = {
    val fs = fsOf(spark, dir)
    val hp = new Path(s"$dir/_heads")
    if (!fs.exists(hp)) Seq.empty
    else fs.listStatus(hp).toSeq.map(_.getPath.getName)
      .map(n => MetaFile.replacing(n).getOrElse(n)).filter(_.matches(BranchName))
      .distinct.filter(headOf(fs, dir, _).nonEmpty).sorted
  }

  /** UNREACHABLE-COMMIT GC — the retention sweep [[drop]] defers to:
    * reachable = the ancestor closure of EVERY live head; every other
    * commit dir (dropped experiments, crashed danglers) is deleted.
    * Returns the victim count. Safe by construction: a commit any ref
    * can still walk to is never touched, however old.
    */
  def gc(spark: SparkSession, dir: String): Int = {
    val fs = fsOf(spark, dir)
    val reachable = branches(spark, dir)
      .map(b => head(spark, dir, b))
      .flatMap(h => ancestors(spark, dir, h)).toSet
    val all = fs.listStatus(new Path(dir)).toSeq.map(_.getPath.getName)
      .filter(_.matches("_c-\\d{8}")).map(_.stripPrefix("_c-").toLong)
    val victims = all.filterNot(reachable)
    victims.foreach(id => fs.delete(cDir(dir, id), true))
    victims.size
  }

  def readCommit(spark: SparkSession, dir: String, id: Long): DataFrame =
    spark.read.parquet(cDir(dir, id).toString)

  def readBranch(spark: SparkSession, dir: String, branch: String): DataFrame =
    readCommit(spark, dir, head(spark, dir, branch))

  private def ancestors(spark: SparkSession, dir: String, id: Long): Set[Long] = {
    val seen = scala.collection.mutable.Set.empty[Long]
    val queue = scala.collection.mutable.Queue(id)
    while (queue.nonEmpty) {
      val c = queue.dequeue()
      if (seen.add(c)) parents(spark, dir, c).foreach(queue.enqueue)
    }
    seen.toSet
  }

  def isAncestor(spark: SparkSession, dir: String, anc: Long, id: Long): Boolean =
    ancestors(spark, dir, id).contains(anc)

  /** Lowest common ancestor — highest-id shared ancestor (ids are
    * monotone, so the max shared ancestor is the latest fork point).
    */
  def lca(spark: SparkSession, dir: String, a: Long, b: Long): Long = {
    val shared = ancestors(spark, dir, a) intersect ancestors(spark, dir, b)
    require(shared.nonEmpty, s"Branching: $a and $b share no history")
    shared.max
  }

  /** One side's key-wise effect since `base`: per touched key, either the
    * new row (`U`) or a deletion (`D`). The same keyed diff the change
    * feed persists.
    */
  private def effects(base: DataFrame, headDf: DataFrame,
      keyCols: Seq[String]): DataFrame =
    ChangeFeed.diff(Some(base), headDf, keyCols)
      .filter(col(ChangeFeed.ChangeType)
        .isin("insert", "update_postimage", "delete"))
      .withColumn("_op", when(col(ChangeFeed.ChangeType) === "delete", "D")
        .otherwise("U"))
      .drop(ChangeFeed.ChangeType)

  /** Schema reconciliation for merge (round 16): each head must be a
    * WIDENING-EXTENSION of the fork-point schema — every base column
    * still present, at the same or a losslessly wider type (the
    * [[TypeWidening.isWidening]] matrix), plus any number of ADDED
    * columns. The merged schema unifies the two heads per column: the
    * wider type where they diverged along one chain, nullable when only
    * one side carries the column (the other side's rows surface NULL —
    * Delta's add-column contract). A DROP, RENAME, NARROWING, or a
    * column added at irreconcilable types on the two sides refuses
    * LOUDLY with both refs untouched — a merge that guessed would
    * silently truncate or null out committed data.
    */
  private def unifiedSchema(base: org.apache.spark.sql.types.StructType,
      f: org.apache.spark.sql.types.StructType,
      i: org.apache.spark.sql.types.StructType,
      keyCols: Seq[String]): org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types.{StructField, StructType}
    def checkExtension(side: String, head: StructType): Unit =
      base.fields.foreach { bf =>
        val hf = head.fields.find(_.name == bf.name).getOrElse(sys.error(
          s"Branching.merge: '$side' dropped or renamed column " +
            s"'${bf.name}' since the fork point — merge cannot reconcile " +
            "a missing column; re-add it on the branch and re-merge"))
        require(TypeWidening.isWidening(bf.dataType, hf.dataType),
          s"Branching.merge: '$side' changed column '${bf.name}' from " +
            s"${bf.dataType.catalogString} to ${hf.dataType.catalogString}" +
            " — not a lossless widening, merge refuses rather than truncate")
      }
    checkExtension("from", f)
    checkExtension("into", i)
    val names = (f.fieldNames ++ i.fieldNames).distinct.toSeq
    require(keyCols.forall(base.fieldNames.contains),
      s"Branching.merge: key column(s) " +
        s"${keyCols.filterNot(base.fieldNames.contains).mkString(", ")} " +
        "were added after the fork point — the three-way diff has no base " +
        "identity for them")
    StructType(names.map { n =>
      (f.fields.find(_.name == n), i.fields.find(_.name == n)) match {
        case (Some(a), Some(b)) =>
          val dt =
            if (TypeWidening.isWidening(a.dataType, b.dataType)) b.dataType
            else if (TypeWidening.isWidening(b.dataType, a.dataType)) a.dataType
            else sys.error(s"Branching.merge: column '$n' exists as " +
              s"${a.dataType.catalogString} on from and " +
              s"${b.dataType.catalogString} on into — irreconcilable; " +
              "align the types on one branch and re-merge")
          StructField(n, dt, nullable = a.nullable || b.nullable)
        case (Some(a), None) => a.copy(nullable = true)
        case (None, Some(b)) => b.copy(nullable = true)
        case (None, None) => sys.error("unreachable")
      }
    })
  }

  /** Project `df` into the unified merge schema: missing columns NULL,
    * narrower epochs cast UP (lossless by the widening-only admission).
    */
  private def lift(df: DataFrame,
      to: org.apache.spark.sql.types.StructType): DataFrame =
    df.select(to.fields.toSeq.map { tf =>
      (if (df.columns.contains(tf.name)) col(tf.name).cast(tf.dataType)
       else lit(null).cast(tf.dataType)).as(tf.name)
    }: _*)

  /** Merge `from` into `into`. Fast-forward when possible; otherwise the
    * key-wise three-way merge, failing loudly on any true conflict.
    * Schema drift since the fork point is reconciled when it is
    * widening/additive on each side (see [[unifiedSchema]]); anything
    * else refuses with both refs untouched.
    */
  def merge(spark: SparkSession, dir: String, from: String, into: String,
      keyCols: Seq[String], capture: Boolean = false): MergeOutcome = {
    val hFrom = head(spark, dir, from)
    val hInto = head(spark, dir, into)
    if (hFrom == hInto) return FastForward(hInto)
    if (isAncestor(spark, dir, hInto, hFrom)) {
      // into never moved since the fork — pointer flip, zero data written
      MetaFile.replace(fsOf(spark, dir), headPath(dir, into), hFrom.toString)
      return FastForward(hFrom)
    }
    val baseId = lca(spark, dir, hFrom, hInto)
    val base0 = readCommit(spark, dir, baseId)
    val fromDf = readCommit(spark, dir, hFrom)
    val intoDf = readCommit(spark, dir, hInto)
    // reconcile schema drift BEFORE any data compare: all three frames
    // lift into the unified schema, so the keyed diffs and the conflict
    // rule operate in one type space (an un-lifted compare would either
    // throw a raw union error or coerce asymmetrically)
    val uni = unifiedSchema(base0.schema, fromDf.schema, intoDf.schema,
      keyCols)
    val base = lift(base0, uni)
    val dataCols = uni.fieldNames.toSeq.filterNot(keyCols.contains)
    val eFrom = effects(base, lift(fromDf, uni), keyCols)
    val eInto = effects(base, lift(intoDf, uni), keyCols)
    val sameRow = (a: String, b: String) => dataCols
      .map(c => col(s"$a.$c") <=> col(s"$b.$c"))
      .foldLeft(col(s"$a._op") === col(s"$b._op"))(_ && _)
    val conflicts = eFrom.alias("f")
      .join(eInto.alias("i"), keyCols)
      .filter(!(col("f._op") === "D" && col("i._op") === "D") &&
        !sameRow("f", "i"))
      .count()
    require(conflicts == 0L,
      s"Branching.merge($from -> $into): $conflicts key(s) changed " +
        "differently on both sides — resolve on the branch and re-merge")
    val touched = eFrom.select(keyCols.map(col): _*)
      .unionByName(eInto.select(keyCols.map(col): _*)).distinct()
    val upserts = eFrom.unionByName(eInto)
      .filter(col("_op") === "U").dropDuplicates(keyCols).drop("_op")
    val merged = base.join(touched, keyCols, "left_anti")
      .unionByName(upserts)
    val id = commitDirs(merged.localCheckpoint(), dir, Seq(hInto, hFrom),
      into, if (capture) Some(keyCols) else None)
    Merged(id)
  }
}
