package graft.ops


import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.hadoop.fs.Path

/** TABLE CHECKSUMS — Delta's per-commit CRC sidecar generalized to a
  * CONTENT checksum: every version can carry `_crc` = (row count,
  * order-independent content digest), and `verify` recomputes both and
  * fails LOUDLY on any divergence. The digest is the SUM mod 2^63 of a
  * per-row 60-bit md5 over the canonically-serialized row (columns in
  * schema order, explicit null sentinel, field separator that cannot
  * appear in the data path) — commutative addition makes it
  * partitioning- and order-independent, so the same logical content
  * digests identically on any cluster layout. Addition, NOT xor: xor
  * self-cancels on even multiplicities ({r1,r1,r2} and {r2,r2,r2} would
  * xor-digest identically), and tables are bags, so duplicate rows are
  * normal content the receipt must bind; under the sum, k copies of a
  * row contribute k*h mod 2^63 — every copy counts.
  * which is what makes it usable as a REPRODUCIBILITY receipt: a replayed
  * pipeline, a restored backup, or a second engine can prove it rebuilt
  * the exact table. Cost: one pass, one tiny aggregate — the cheapest
  * integrity property a lakehouse can buy; silent storage corruption or
  * a mis-replayed feed turns from "discovered by an analyst" into a loud
  * verify failure.
  */
object TableChecksum {

  private val FileName = "_crc"

  private def fsOf(spark: SparkSession, dir: String) =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** The per-row 60-bit digest column over `cols` in order — canonical
    * serialization (\u0001 field separator, \u0000 null sentinel), md5,
    * first 15 hex chars (inside Long range, ANSI-safe). Exposed so grouped
    * digests (per-shard receipts) share the exact definition.
    */
  def rowHash(cols: Seq[org.apache.spark.sql.Column]): org.apache.spark.sql.Column = {
    val canon = concat_ws("\u0001",
      cols.map(c => coalesce(c.cast("string"), lit("\u0000"))): _*)
    conv(substring(md5(canon.cast("binary")), 1, 15), 16, 10).cast("long")
  }

  private val Mod63 = new java.math.BigDecimal("9223372036854775808") // 2^63

  /** (rows, sum-digest) of a frame, layout-independent. The decimal(38,0)
    * accumulator cannot overflow (2^60 per row × 10^18 rows < 10^38), and
    * the final pmod folds it into non-negative Long range.
    */
  def digest(df: DataFrame): (Long, Long) = {
    val h = rowHash(df.schema.fieldNames.toIndexedSeq.map(col))
    val r = df.agg(count(lit(1)).as("n"),
      coalesce(pmod(sum(h.cast("decimal(38,0)")), lit(Mod63)),
        lit(0L).cast("decimal(38,0)")).cast("long").as("x")).head()
    (r.getLong(0), r.getLong(1))
  }

  /** Stamp `version` with its content checksum. The version may already be
    * live (the scrub enrolls live versions) and may carry a legacy stamp to
    * overwrite, so the stamp is a [[MetaFile.replace]]: a reader never sees
    * a partial `_crc`, and the instant without one reads as unstamped.
    */
  def stamp(spark: SparkSession, dir: String, version: Long): (Long, Long) = {
    val fs = fsOf(spark, dir)
    val (n, x) = digest(VersionedTable.readVersion(spark, dir, version))
    MetaFile.replace(fs, new Path(VersionedTable.verDir(dir, version), FileName),
      s"rows=$n\nsum=$x")
    (n, x)
  }

  /** Recompute and compare; loud on any divergence, (rows, xor) on
    * success. A version without a stamp fails loudly too — an integrity
    * check that silently passes on missing evidence is worse than none.
    */
  def verify(spark: SparkSession, dir: String, version: Long): (Long, Long) = {
    val fs = fsOf(spark, dir)
    val text = MetaFile.read(fs,
      new Path(VersionedTable.verDir(dir, version), FileName))
      .getOrElse(sys.error(
        s"TableChecksum.verify($dir, $version): no _crc stamp"))
    val want = text.split("\n").map(_.split("=", 2))
      .map(kv => kv(0) -> kv(1).toLong).toMap
    // a sidecar stamped under the retired XOR digest is DIAGNOSABLE, not a
    // key-lookup crash: the content may be fine, the algorithm changed
    if (!want.contains("sum"))
      sys.error(s"TableChecksum.verify($dir, $version): _crc uses a " +
        s"legacy digest (${want.keys.filterNot(_ == "rows").mkString(",")})" +
        " — restamp required: the digest algorithm changed from xor to " +
        "sum mod 2^63 (re-run TableChecksum.stamp after re-verifying " +
        "content out of band)")
    val (n, x) = digest(VersionedTable.readVersion(spark, dir, version))
    require(want("rows") == n && want("sum") == x,
      s"TableChecksum.verify($dir, $version): content diverged — " +
        s"stamped (${want("rows")}, ${want("sum")}), found ($n, $x); " +
        "the version's bytes are not what was committed")
    (n, x)
  }
}
