package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** MERGE semantics on plain DataFrames (SURVEY §2.4 J5-J8).
  *
  * The reference upserts with Snowflake `MERGE` (merge_core.sql:5-33,
  * merge_facts_daily.sql:5-38: matched → UPDATE all non-key cols, not matched →
  * INSERT) and insert-only `MERGE` for dimensions (merge_dim_security.sql,
  * merge_dim_date.sql; here `EodPipeline.appendDim`). Plain Parquet has no
  * row-level update, so the plan is the one Delta's MERGE compiles to:
  * anti-join the target against the source keys and union the refreshed
  * source. These are pure frame operators; committing the result is the
  * caller's (a [[VersionedTable]] write may read its own live version).
  *
  * Scale notes:
  *  - The anti join shuffles both sides on the merge keys unless the source is
  *    broadcast-sized — a daily increment almost always is, so Spark picks a
  *    broadcast anti join and the TB-sized target never shuffles.
  *  - With a date-partitioned target and a single-date source, callers should
  *    read only the affected partition's directory and rewrite only it:
  *    rewriting 1 partition of 3650 is what makes a daily run O(day) instead
  *    of O(history). Reading the table root and filtering on the date prunes
  *    the scan but still lists every partition.
  *  - When the source holds every key of that partition, as the daily
  *    pipeline's sources do (`EodPipeline.runDate`), the merge keeps no
  *    target row but the NULL-key ones, which match nothing: the pipeline
  *    writes the source plus those rows with no merge at all.
  */
object Upsert {

  /** Key-match upsert: source row wins on key collision, target row survives
    * otherwise. Column set is taken from the target.
    */
  def merge(target: DataFrame, source: DataFrame, keys: Seq[String]): DataFrame =
    target.join(source.select(keys.map(col): _*).distinct(), keys, "left_anti")
      .unionByName(source.select(target.columns.map(col).toIndexedSeq: _*))

  /** Apply a CDC changefeed — ops I(nsert)/U(pdate)/D(elete), each change
    * stamped with a monotone per-key sequence — to a target snapshot: the
    * full MERGE shape (Debezium feed → Delta `MERGE WHEN MATCHED [AND
    * op='D'] THEN DELETE`), one step past [[merge]]'s upsert-only form.
    *
    * Latest change per key wins (seq desc, so late re-deliveries and
    * superseded intermediates collapse BEFORE touching the target — the
    * changefeed compaction every CDC consumer does); a winning D removes
    * the key, a winning I/U upserts its payload. One window shuffle over
    * the (small) changefeed + the same anti-join the upsert path uses: the
    * TB-sized target still never shuffles when the feed is broadcast-sized.
    */
  def applyCdc(target: DataFrame, changes: DataFrame, keys: Seq[String],
      opCol: String = "op", seqCol: String = "seq"): DataFrame = {
    val latest = Dedup.latestBy(changes, keys.map(col), Seq(col(seqCol)))
    val survivors = target.join(latest.select(keys.map(col): _*).distinct(), keys, "left_anti")
    survivors.unionByName(
      latest.filter(col(opCol) =!= "D")
        .select(target.columns.map(col).toIndexedSeq: _*))
  }
}
