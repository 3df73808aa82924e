package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Validation / data-quality operators (SURVEY §2.8 V1-V5) — first-class in
  * the reference pipeline; modeled as 1-row metric frames plus driver-side
  * gates so they compose with the driver's oracle.
  */
object Quality {

  /** V2: empty-result short-circuit (no trading day,
    * get_securities_data.py:109-112). Returns false when downstream stages
    * should be skipped.
    */
  def nonEmpty(df: DataFrame): Boolean = !df.isEmpty

  /** V4: pre-merge forecast (premerge_metrics.sql:4-33) — raw rows, distinct
    * incoming keys, already-present keys, estimated inserts/updates. `raw` is
    * the incoming batch, `existing` the current target keyed by `keys`
    * (both already projected to the key columns + any extras).
    * Three 1-row aggregates cross-joined (J4) with arithmetic over aggregates
    * (A3); the scalar-subquery pattern (J9) is hoisted into the frames.
    */
  def premergeMetrics(raw: DataFrame, existing: DataFrame, keys: Seq[String]): DataFrame = {
    val rawCnt = raw.agg(count(lit(1)).as("raw_rows"))
    val incomingKeys = raw.select(keys.map(col): _*).distinct()
    val keyCnt = incomingKeys.agg(count(lit(1)).as("key_rows"))
    val matched = incomingKeys.join(existing.select(keys.map(col): _*).distinct(), keys)
      .agg(count(lit(1)).as("matched_keys"))
    rawCnt.crossJoin(keyCnt).crossJoin(matched)
      .select(col("raw_rows"), col("key_rows"), col("matched_keys"),
        (col("key_rows") - col("matched_keys")).as("est_inserts"),
        col("matched_keys").as("est_updates"))
  }

  /** Single-pass form of [[premergeMetrics]] for when the batch and the
    * existing keys are time-slices of the same table: one scan and one
    * shuffle on the keys instead of four scans and three shuffles. `isRaw` /
    * `isExisting` are row-level predicates selecting the two slices.
    * Identical output contract.
    */
  def premergeMetricsFused(df: DataFrame, keys: Seq[String],
      isRaw: org.apache.spark.sql.Column, isExisting: org.apache.spark.sql.Column): DataFrame = {
    val flagged = df
      .select(keys.map(col) :+ isRaw.cast("int").as("__r") :+ isExisting.cast("int").as("__e"): _*)
      .filter(col("__r") === 1 || col("__e") === 1)
    flagged.groupBy(keys.map(col): _*)
      .agg(sum(col("__r")).as("__day_rows"),
        max(col("__r")).as("__in_raw"), max(col("__e")).as("__in_ex"))
      .agg(
        sum(col("__day_rows")).as("raw_rows"),
        sum(col("__in_raw").cast("long")).as("key_rows"),
        sum(when(col("__in_raw") === 1 && col("__in_ex") === 1, 1L).otherwise(0L))
          .as("matched_keys"))
      .select(col("raw_rows"), col("key_rows"), col("matched_keys"),
        (col("key_rows") - col("matched_keys")).as("est_inserts"),
        col("matched_keys").as("est_updates"))
  }

  /** V5 / J10: post-merge reconciliation (postmerge_metrics.sql:4-10) — two
    * scalar counts side by side plus the parity bit.
    */
  def postmergeParity(core: DataFrame, fact: DataFrame): DataFrame =
    core.agg(count(lit(1)).as("core_rows"))
      .crossJoin(fact.agg(count(lit(1)).as("fact_rows")))
      .withColumn("row_parity", col("core_rows") === col("fact_rows"))
}
