package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.apache.spark.sql.functions._

/** Calendar-dimension derivation (SURVEY §2.3 D1-D10).
  *
  * Reference: merge_dim_date.sql:7-18. Semantic deltas handled here:
  *  - DAYOFWEEK: reference encodes Sunday=0..Saturday=6 (proved by the
  *    `IN (0,6)` weekend test on :18); Spark's `dayofweek` is Sunday=1..7,
  *    so we subtract 1.
  *  - MONTHNAME/DAYNAME: Snowflake returns 3-letter abbreviations; we pin
  *    `date_format(_, "MMM"/"EEE")` (root-locale English abbreviations).
  *  - WEEK: pinned to ISO week-of-year (`weekofyear`), the Snowflake
  *    `WEEK_OF_YEAR_POLICY=0` behaviour.
  */
object DateDim {

  /** All 10 derived columns for a date column `d` (no shuffle: pure projection). */
  def columns(d: Column): Seq[Column] = Seq(
    date_format(d, "yyyyMMdd").cast("int").as("date_sk"), // D1, merge_dim_date.sql:8
    d.as("cal_date"),
    year(d).as("year_num"),                               // D2
    quarter(d).as("quarter_num"),                         // D3
    month(d).as("month_num"),                             // D4
    date_format(d, "MMM").as("month_name"),               // D5
    dayofmonth(d).as("day_num"),                          // D6
    date_format(d, "EEE").as("day_name"),                 // D7
    (dayofweek(d) - 1).as("day_of_week"),                 // D8 (Sunday=0)
    weekofyear(d).as("week_of_year"),                     // D9
    dayofweek(d).isin(1, 7).as("is_weekend"))             // D10

  /** The DIM_DATE row of one `yyyy-MM-dd` date: [[columns]] over a one-row
    * local relation, which the optimizer folds into a local result, so it
    * is evaluated on the driver with no Spark job.
    */
  def localRow(spark: SparkSession, date: String): InternalRow =
    spark.createDataFrame(java.util.List.of(Row(date)),
        StructType(Seq(StructField("d", StringType))))
      .select(columns(to_date(col("d"))): _*)
      .queryExecution.executedPlan.executeCollect().head

  /** DIM_DATE rows for the distinct dates found in `df(dateCol)`.
    * The `distinct()` is the only shuffle; its input is projected to one
    * column first so the exchange moves 4 bytes/row.
    */
  def fromDates(df: DataFrame, dateCol: Column): DataFrame =
    df.select(to_date(dateCol).as("__d")).distinct()
      .select(columns(col("__d")): _*)
}
