package graft.ops

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.hadoop.fs.Path

/** Type widening — Delta's public type-widening design on the `_v-N`
  * layout: a column's LOGICAL type lives in a per-version `_types` manifest;
  * data files keep whatever (narrower) physical type was logical WHEN THEY
  * WERE WRITTEN, and widening `int -> long` / `float -> double` /
  * `decimal(p,s) -> decimal(p',s)` is a METADATA-ONLY commit — zero data
  * bytes move. Readers cast each file epoch UP to the manifest type, which
  * is always lossless because only widening conversions are ever admitted;
  * narrowing is rejected loudly (it would silently truncate history).
  *
  * Data versions chain via `_prev` (appends add files, never rewrite), so a
  * live table genuinely MIXES physical types across epochs — the exact
  * state a 100 TB table is in for months after an ALTER COLUMN TYPE, where
  * rewriting history is not an option. Time travel renders every version
  * under ITS OWN manifest: a pre-widening version still reads as int.
  *
  * Layout per version dir:
  * {{{
  *   _types    # ordered manifest: name=<catalogString> per line
  *   _prev     # previous data version (absent on the first)
  *   data/     # this version's OWN files, stored AT the manifest types
  * }}}
  */
object TypeWidening {

  private val TypesName = "_types"
  private val PrevName = "_prev"
  private val DataName = "data"

  private def fsOf(spark: SparkSession, dir: String) =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Is `to` a lossless widening of `from`? (The public Delta matrix's
    * integral/float/decimal rows.)
    */
  def isWidening(from: DataType, to: DataType): Boolean = (from, to) match {
    case (a, b) if a == b => true
    case (ByteType, ShortType | IntegerType | LongType) => true
    case (ShortType, IntegerType | LongType) => true
    case (IntegerType, LongType) => true
    case (FloatType, DoubleType) => true
    case (d1: DecimalType, d2: DecimalType) =>
      d2.scale == d1.scale && d2.precision >= d1.precision
    // Element-wise widening of an array column (the embedding-precision
    // migration shape: array<float> -> array<double>). containsNull may
    // only widen false -> true; the reverse would fabricate a non-null
    // promise over history that may hold null elements.
    case (ArrayType(fe, fn), ArrayType(te, tn)) =>
      isWidening(fe, te) && (tn || !fn)
    // Field-wise widening of a struct column (same names, same order;
    // each field widens by this matrix; field nullability may only
    // widen false -> true). The identity case matters operationally:
    // the manifest's catalogString round-trip renders every field
    // nullable, while an arriving frame's struct literal is often
    // non-null — without this case a struct passenger column refused
    // its own append.
    case (StructType(fa), StructType(fb)) =>
      fa.length == fb.length && fa.zip(fb).forall { case (x, y) =>
        x.name == y.name && isWidening(x.dataType, y.dataType) &&
          (y.nullable || !x.nullable)
      }
    case _ => false
  }

  /** The ordered (name, logical type) manifest as of `version`. */
  def typesOf(spark: SparkSession, dir: String,
      version: Long): Seq[(String, DataType)] = {
    val fs = fsOf(spark, dir)
    MetaFile.read(fs,
        new Path(VersionedTable.verDir(dir, version), TypesName))
      .getOrElse(sys.error(s"TypeWidening($dir): version $version has no " +
        s"$TypesName — not a type-manifested table?"))
      .split("\n").filter(_.nonEmpty).toSeq.map { line =>
        val Array(n, t) = line.split("=", 2)
        n -> CatalystSqlParser.parseDataType(t)
      }
  }

  // parse via the public parser object (DDL strings like "decimal(12,2)")
  private object CatalystSqlParser {
    def parseDataType(s: String): DataType = DataType.fromDDL(s)
  }

  private def writeTypes(fs: org.apache.hadoop.fs.FileSystem, vd: Path,
      types: Seq[(String, DataType)]): Unit = {
    MetaFile.write(fs, new Path(vd, TypesName),
      types.map { case (n, t) => s"$n=${t.catalogString}" }.mkString("\n"))
  }

  /** Stage the next version with `data` (if any) stored under `data/`,
    * the `types` manifest and the `_prev` chain link, plant `_SUCCESS`
    * (the version dir has no committer of its own) and publish.
    */
  private def commit(spark: SparkSession, dir: String, data: Option[DataFrame],
      types: Seq[(String, DataType)], prev: Option[Long]): Long = {
    val fs = fsOf(spark, dir)
    val next = VersionedTable.stageWith(spark, dir) { vd =>
      data.foreach(_.write.mode(SaveMode.Overwrite).parquet(new Path(vd, DataName).toString))
      writeTypes(fs, vd, types)
      prev.foreach(v => MetaFile.write(fs, new Path(vd, PrevName), v.toString))
      MetaFile.write(fs, new Path(vd, "_SUCCESS"), "")
    }
    VersionedTable.publish(spark, dir, next)
    next
  }

  /** Bootstrap: manifest = the frame's own schema.
    *
    * Refuses a dir that already carries the BRANCH plane (`_heads`) —
    * the two layouts render different tables from the same path and
    * neither reader sees the other's commits (round 17 #3; mirror guard
    * in [[Branching.init]]).
    */
  def init(df: DataFrame, dir: String): Long = {
    val spark = df.sparkSession
    val fs = fsOf(spark, dir)
    require(!fs.exists(new Path(dir, "_heads")),
      s"TypeWidening.init($dir): this dir holds a branch-plane table " +
        "(_heads exists) — the epoch-chain layout does not compose with " +
        "the branch plane; keep the typed table on its own path")
    commit(spark, dir, Some(df), df.schema.fields.toSeq.map(f => f.name -> f.dataType), None)
  }

  /** ALTER COLUMN TYPE — metadata-only; only widening conversions land. */
  def widen(spark: SparkSession, dir: String, column: String,
      to: DataType): Long = {
    val cur = VersionedTable.currentVersion(spark, dir).getOrElse(
      sys.error(s"TypeWidening.widen($dir): no complete snapshot"))
    val types = typesOf(spark, dir, cur)
    val from = types.collectFirst { case (n, t) if n == column => t }
      .getOrElse(sys.error(s"TypeWidening.widen($dir): no column '$column'"))
    require(isWidening(from, to),
      s"TypeWidening.widen($dir): ${from.catalogString} -> ${to.catalogString} " +
        "is not a lossless widening — a narrowing would silently truncate history")
    commit(spark, dir, None,
      types.map { case (n, t) => if (n == column) n -> to else n -> t }, Some(cur))
  }

  /** Append rows: new files only, stored AT the live manifest types (the
    * cast is checked against the manifest — an append cannot sneak a type
    * change in through the data path).
    */
  def append(df: DataFrame, dir: String): Long = {
    val spark = df.sparkSession
    val cur = VersionedTable.currentVersion(spark, dir).getOrElse(
      sys.error(s"TypeWidening.append($dir): no complete snapshot — use init"))
    val types = typesOf(spark, dir, cur)
    require(df.columns.toSeq == types.map(_._1),
      s"TypeWidening.append($dir): columns ${df.columns.toSeq} != manifest ${types.map(_._1)}")
    df.schema.fields.zip(types).foreach { case (f, (n, t)) =>
      require(isWidening(f.dataType, t),
        s"TypeWidening.append($dir): '$n' arrives as ${f.dataType.catalogString}, " +
          s"wider than the manifest ${t.catalogString} — widen the table first")
    }
    val stored = df.select(types.map { case (n, t) => col(n).cast(t).as(n) }: _*)
    commit(spark, dir, Some(stored), types, Some(cur))
  }

  /** Whole-snapshot REWRITE at the live manifest types (the commit shape
    * behind INSERT OVERWRITE and the row-level SQL rewrite on this
    * plane): the next version carries the full content under `data/`
    * with the manifest carried forward and NO `_prev` — the chain ends
    * here because the rewrite materialized every epoch. Older versions
    * keep their own chains (time travel intact); later [[append]]s and
    * [[widen]]s chain off the rewrite as usual.
    */
  def rewrite(df: DataFrame, dir: String): Long = {
    val spark = df.sparkSession
    val cur = VersionedTable.currentVersion(spark, dir).getOrElse(
      sys.error(s"TypeWidening.rewrite($dir): no complete snapshot"))
    val types = typesOf(spark, dir, cur)
    require(df.columns.toSeq == types.map(_._1),
      s"TypeWidening.rewrite($dir): columns ${df.columns.toSeq} != " +
        s"manifest ${types.map(_._1)}")
    // Same admission check as append(): a frame arriving WIDER than the
    // manifest must not be silently narrowed by the cast below — the SQL
    // INSERT OVERWRITE path is shielded by Spark's store-assignment, but
    // this public ops-API path was not (round-17 advisory fix).
    df.schema.fields.zip(types).foreach { case (f, (n, t)) =>
      require(isWidening(f.dataType, t),
        s"TypeWidening.rewrite($dir): '$n' arrives as ${f.dataType.catalogString}, " +
          s"wider than the manifest ${t.catalogString} — widen the table first")
    }
    val stored = df.select(types.map { case (n, t) => col(n).cast(t).as(n) }: _*)
    commit(spark, dir, Some(stored), types, None)
  }

  /** The sidecars a STAGED rewrite dir needs before its OCC claim: the
    * live manifest under `_types` (data must land under `data/` — the
    * caller's writer factory does that). The group-COW write path calls
    * this at commit so the claimed version reads as a typed snapshot.
    */
  private[graft] def stageManifest(spark: SparkSession, dir: String,
      stageDir: String, baseVersion: Long): Unit = {
    val fs = fsOf(spark, dir)
    writeTypes(fs, new Path(stageDir), typesOf(spark, dir, baseVersion))
  }

  /** The chain of data-bearing versions for `version`, oldest first. */
  private def chain(spark: SparkSession, dir: String,
      version: Long): Seq[Long] = {
    val fs = fsOf(spark, dir)
    val out = Seq.newBuilder[Long]
    var v: Option[Long] = Some(version)
    while (v.nonEmpty) {
      val cv = v.get
      require(VersionedTable.complete(fs, VersionedTable.verDir(dir, cv)),
        s"TypeWidening($dir): chained version $cv is expired or torn — " +
          "refusing to fabricate a partial snapshot")
      if (fs.exists(new Path(VersionedTable.verDir(dir, cv), DataName))) out += cv
      v = MetaFile.read(fs,
        new Path(VersionedTable.verDir(dir, cv), PrevName)).map(_.trim.toLong)
    }
    out.result().reverse
  }

  /** The physical (as-stored) schema of one epoch's files. */
  def epochSchema(spark: SparkSession, dir: String, version: Long): StructType =
    spark.read.parquet(
      new Path(VersionedTable.verDir(dir, version), DataName).toString).schema

  /** Read `version` under ITS OWN manifest: each chained epoch cast UP from
    * its stored physical types — lossless by the widening-only invariant.
    *
    * Plan-cost shape (round 16, found by the 300-epoch StressMeta probe):
    * one `spark.read.parquet` PER EPOCH costs a schema inference and a
    * union-plan node each — 19 s of driver time at depth 300, minutes at
    * four-digit depths. Epochs STORE at the manifest that was live when
    * they were written, so every epoch sharing a manifest shares one
    * multi-path read: the plan is one read + one cast per DISTINCT
    * manifest in the chain (widens are rare; appends are many), unioned.
    * Depth-300 with three widens plans as four reads, not 300.
    */
  def readVersion(spark: SparkSession, dir: String, version: Long): DataFrame = {
    val types = typesOf(spark, dir, version)
    val vs = chain(spark, dir, version)
    // Group key = the FULL manifest (names + types), and groups union in
    // strict chain order — names/order are immutable on this plane today,
    // but keying on types alone and iterating an unordered groupBy made
    // output/inputFiles order run-dependent (round-17 advisory fix).
    vs.map(v => typesOf(spark, dir, v)
        .map { case (n, t) => s"$n=${t.catalogString}" }.mkString("\n") -> v)
      .groupBy(_._1).values.toSeq.map(_.map(_._2))
      .sortBy(group => vs.indexOf(group.head))
      .map { group =>
        spark.read.parquet(group.map(v =>
          new Path(VersionedTable.verDir(dir, v), DataName).toString): _*)
          .select(types.map { case (n, t) => col(n).cast(t).as(n) }: _*)
      }.reduce(_.unionByName(_))
  }

  /** Read the live snapshot under the live manifest. */
  def read(spark: SparkSession, dir: String): DataFrame = {
    val v = VersionedTable.currentVersion(spark, dir).getOrElse(
      sys.error(s"TypeWidening.read($dir): no complete snapshot"))
    readVersion(spark, dir, v)
  }
}
