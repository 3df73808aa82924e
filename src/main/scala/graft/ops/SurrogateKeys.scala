package graft.ops

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import org.apache.spark.unsafe.types.UTF8String

/** Surrogate-key assignment (SURVEY §1.3 / §7.3 hard part 2).
  *
  * The reference relies on a Snowflake IDENTITY column for
  * `DIM_SECURITY.SECURITY_ID` (the insert lists only SYMBOL,
  * merge_dim_security.sql:13-14, yet SECURITY_ID is joined on in
  * merge_facts_daily.sql:8,13). Spark has no distributed auto-increment;
  * `monotonically_increasing_id` is not stable across runs (breaks oracle
  * comparison and any incremental reload), so we assign dense ids in
  * `orderCols` order starting above `max(existing)` — the multi-TB existing
  * dimension contributes one scalar max.
  */
object SurrogateKeys {

  /** Append `keyCol` to `delta` starting above `existingMax`: dense 1-based
    * ids in global `orderCols` order — semantically
    * `existingMax + row_number() OVER (ORDER BY orderCols)`, but DISTRIBUTED:
    * a single-partition global window would move a hundreds-of-millions-member
    * dimension through one task. Two passes instead: range-repartition +
    * in-partition sort gives a global order across partitions, then
    * `zipWithIndex` (a per-partition count job + offset add) numbers rows
    * without ever concentrating them.
    *
    * Determinism contract: `orderCols` must uniquely identify rows (dimension
    * natural keys do); equal rows could otherwise straddle a range boundary
    * in either order.
    */
  def assign(delta: DataFrame, keyCol: String, existingMax: Long, orderCols: Seq[String]): DataFrame = {
    val spark = delta.sparkSession
    val ordered = delta
      .repartitionByRange(orderCols.map(col(_).asc): _*)
      .sortWithinPartitions(orderCols.map(col(_).asc): _*)
    val schema = ordered.schema.add(keyCol, LongType, nullable = false)
    val rows = ordered.rdd.zipWithIndex().map { case (r, i) =>
      Row.fromSeq(r.toSeq :+ (existingMax + i + 1L))
    }
    spark.createDataFrame(rows, schema)
  }

  /** [[assign]] for a delta of single-string natural keys already held on
    * the driver: the same dense ids above `existingMax`, in the same order —
    * Spark's binary UTF-8 string order, which differs from Java's UTF-16
    * `String` order for characters above U+FFFF. No Spark job.
    */
  def assignLocal(keys: Iterable[UTF8String], existingMax: Long): Seq[(Long, UTF8String)] =
    keys.toSeq.sortWith(_.binaryCompare(_) < 0).zipWithIndex
      .map { case (k, i) => (existingMax + i + 1L, k) }

  /** Current max key of a dimension (0 for an empty one). */
  def maxKey(dim: DataFrame, keyCol: String): Long = {
    val r = dim.agg(max(col(keyCol))).head()
    if (r.isNullAt(0)) 0L else r.getLong(0)
  }
}
