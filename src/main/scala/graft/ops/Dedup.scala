package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Latest-record deduplication (SURVEY §2.6 W1).
  *
  * Reference semantics: `ROW_NUMBER() OVER (PARTITION BY key... ORDER BY
  * recency... DESC) ... QUALIFY rn = 1` (merge_core.sql:13-16, variant at
  * merge_facts_daily.sql:16-19). QUALIFY has no DataFrame shorthand; it is
  * exactly window + filter, which Spark executes as a single shuffle on the
  * partition keys followed by an in-partition sort — no extra exchange.
  *
  * Scale note: the window shuffles on `partitionCols`; at 100 TB that is the
  * one unavoidable shuffle of an upsert pipeline, and downstream merge joins on
  * the same keys reuse the exchange (ReusedExchange / no re-shuffle) because
  * the output partitioning is preserved.
  */
object Dedup {

  /** Keep the single most recent row per key. `orderCols` are compared
    * descending, first column most significant; include a unique tiebreaker
    * (e.g. a file name or id) to keep the winner deterministic.
    */
  def latestBy(df: DataFrame, partitionCols: Seq[Column], orderCols: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(partitionCols: _*).orderBy(orderCols.map(_.desc): _*)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }
}
