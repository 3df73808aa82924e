package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.source.GraftMeta

/** HIDDEN PARTITIONING — Iceberg's published design: the table is laid out
  * by a TRANSFORM of a data column (`day(ts)`), the user only ever filters
  * the data column, and the engine projects the predicate onto the
  * transform to prune directories. The projection rule (Iceberg's
  * `Projections.inclusive`) is soundness-by-monotonicity: `day` is
  * monotone in `ts`, so `ts ∈ [a, b] ⇒ day(ts) ∈ [day(a), day(b)]` — the
  * projected predicate admits a SUPERSET of the matching rows and the
  * exact residual filter runs on what survives, so pruned ≡ unpruned
  * bit-for-bit. A NON-monotone transform (bucket) projects a range to
  * "admit everything": conservative, never wrong.
  *
  * Why it matters at 100 TB: time-range queries are the dominant scan
  * pattern on event tables; hidden partitioning gives them O(days-touched)
  * IO without the user ever naming (or mis-naming — the classic
  * `WHERE date_col = ...` vs `WHERE ts = ...` partition-miss bug) the
  * partition column. Spec changes over time are [[PartitionEvolution]]'s
  * job; this module owns the predicate-projection half.
  */
object HiddenPartitioning {

  val PartCol = "_day"

  /** Lay `df` out day-partitioned by the hidden transform of `tsCol`. */
  def writeDaily(df: DataFrame, dir: String, tsCol: String): Unit =
    df.withColumn(PartCol, date_format(col(tsCol), "yyyy-MM-dd"))
      .write.partitionBy(PartCol).mode("overwrite").parquet(dir)

  private def partitions(spark: SparkSession, dir: String,
      partCol: String): Seq[(String, org.apache.hadoop.fs.Path)] = {
    val root = new org.apache.hadoop.fs.Path(dir)
    GraftMeta.partitionDirs(
      root.getFileSystem(spark.sparkContext.hadoopConfiguration), root, partCol)
  }

  /** Inclusive-projection range read: `[fromTs, toTs]` (ISO-8601 local
    * instants, UTC sessions) projects to the day range
    * `[day(from), day(to)]` — ISO date strings compare lexicographically —
    * and the EXACT predicate re-applies as the residual. Returns the
    * dataframe plus (kept, total) directory counts so callers can pin the
    * pruning they got.
    */
  def readDailyRange(spark: SparkSession, dir: String, tsCol: String,
      fromTs: String, toTs: String): (DataFrame, Int, Int) = {
    val days = partitions(spark, dir, PartCol)
    val (lo, hi) = (fromTs.take(10), toTs.take(10))
    val keep = days.collect { case (d, p) if d >= lo && d <= hi => p.toString }
    require(keep.nonEmpty,
      s"readDailyRange($dir): no partitions in [$lo, $hi] — nothing to read")
    val df = spark.read.option("basePath", dir).parquet(keep: _*)
      .filter(col(tsCol) >= lit(fromTs).cast("timestamp") &&
        col(tsCol) <= lit(toTs).cast("timestamp"))
      .drop(PartCol)
    (df, keep.size, days.size)
  }

  /** Range projection for a bucket transform: `hash` is not monotone, so
    * the only sound projection of a range is "every bucket" — the
    * conservative admit-all Iceberg's inclusive projection returns for
    * non-projectable transform/predicate pairs. Surfaced as an explicit
    * (kept, total) = (total, total) so callers can pin the negative.
    */
  def bucketRangeDirs(spark: SparkSession, dir: String,
      partPrefix: String): (Int, Int) = {
    val n = partitions(spark, dir, partPrefix).size
    (n, n)
  }
}
