package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.hadoop.fs.Path

/** Table-level CHECK constraints — Delta's public constraints design on
  * the `_v-N` layout: the constraint registry lives as a `_checks` file
  * INSIDE each version dir (carried forward commit to commit like the txn
  * markers, atomic with the version), and every write through
  * [[writeChecked]] verifies the FULL staged snapshot against every
  * registered check in ONE aggregate pass before the pointer flip — a
  * violating write throws with per-check violation counts and leaves the
  * table untouched (the staged dir is an ordinary crashed-write sweep).
  * Semantics are SQL CHECK: a row violates only when the expression
  * evaluates to FALSE — NULL/UNKNOWN passes.
  *
  * Scale shape: enforcement is one map-side aggregate over the snapshot
  * being written (no extra shuffle — the counts fold into the write's
  * scan), and the registry is O(checks) metadata. The single-protocol
  * rule applies: writers bypassing [[writeChecked]] forfeit enforcement,
  * exactly as Delta demands every writer honor the table's protocol.
  */
object Constraints {

  private val ChecksName = "_checks"

  final class ConstraintViolationException(msg: String)
    extends RuntimeException(msg)

  /** The live registry: (name, SQL expression), in definition order. */
  def checksOf(spark: SparkSession, dir: String): Seq[(String, String)] =
    VersionedTable.currentVersion(spark, dir).toSeq.flatMap { v =>
      val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
      MetaFile.read(fs,
        new Path(VersionedTable.verDir(dir, v), ChecksName)).toSeq
        .flatMap(_.split("\n").filter(_.nonEmpty).toSeq.map { line =>
          val Array(n, e) = line.split("=", 2)
          n -> e
        })
    }

  /** Violation counts of `df` against `checks` — one aggregate pass;
    * FALSE violates, TRUE and NULL pass.
    */
  private def violations(df: DataFrame,
      checks: Seq[(String, String)]): Seq[(String, Long)] = {
    if (checks.isEmpty) return Nil
    val row = df.agg(
      count(lit(1)), // anchor so the agg is never empty-projected
      checks.map { case (_, e) =>
        sum(when(expr(e) <=> lit(false), 1L).otherwise(0L))
      }: _*).head
    checks.zipWithIndex.map { case ((n, _), i) =>
      n -> (if (row.isNullAt(i + 1)) 0L else row.getLong(i + 1))
    }.filter(_._2 > 0)
  }

  /** Write `df` as the next version, enforcing the carried registry plus
    * `newChecks` (which join the registry on success — ADD CONSTRAINT
    * validates existing-and-new data in the same pass, Delta's rule).
    * Throws [[ConstraintViolationException]] with per-check counts and
    * leaves the table untouched on any violation.
    */
  def writeChecked(df: DataFrame, dir: String,
      newChecks: Seq[(String, String)] = Nil): Long = {
    val spark = df.sparkSession
    newChecks.foreach { case (n, e) =>
      require(!n.contains("=") && !n.contains("\n") && !e.contains("\n"),
        s"constraint '$n': illegal character")
    }
    val carried = checksOf(spark, dir)
    require(newChecks.map(_._1).intersect(carried.map(_._1)).isEmpty,
      s"constraints already defined: " +
        newChecks.map(_._1).intersect(carried.map(_._1)).mkString(","))
    val all = carried ++ newChecks
    val next = VersionedTable.stage(df, dir)
    val vd = VersionedTable.verDir(dir, next)
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    // enforce against the STAGED (materialized, immutable) snapshot so the
    // checked bytes are exactly the bytes that go live
    val bad = violations(spark.read.parquet(vd.toString), all)
    if (bad.nonEmpty) {
      // a rejected BOOTSTRAP write (no pointer yet) is visible only through
      // the reader fallback; abortStaged refuses "live" versions, so delete
      // the stage directly — a rejected first write must leave NO table
      if (VersionedTable.currentVersion(spark, dir).contains(next))
        fs.delete(vd, true)
      else VersionedTable.abortStaged(spark, dir, next)
      throw new ConstraintViolationException(
        s"write to $dir rejected: " +
          bad.map { case (n, c) => s"$n ($c rows)" }.mkString(", "))
    }
    MetaFile.write(fs, new Path(vd, ChecksName), all.map { case (n, e) => s"$n=$e" }.mkString("\n"))
    VersionedTable.publish(spark, dir, next)
    next
  }
}
