package graft

import org.apache.spark.sql.SparkSession

/** The one place a graft SparkSession is built. Every main (Bench, Verify,
  * Smoke, Profile, Explain, the stress sweeps) and the test session start
  * from [[builder]], so they share one configuration and one rule install:
  *
  *  - `local[cpus]`, `cpus` = `SPARK_GRAFT_CPUS` or min(32, machine cores),
  *    with one shuffle partition per core;
  *  - UTC session time zone and the Spark UI off;
  *  - `TIMESTAMP_MICROS` parquet output: Spark's default INT96 is refused by
  *    Spark's own reader inside LIST elements (array<timestamp> columns) and
  *    by the engine's row/Group readers, which speak annotated INT64 micros;
  *  - graft's optimizer rules, planner strategy and SQL functions, and
  *    graft's `file:` filesystem ([[graft.plans.GraftRules.register]]):
  *    Hadoop's checksummed local filesystem with permissions set through
  *    `java.nio` ([[graft.io.LocalFs]]), so writing a file or a dir on
  *    local disk starts no `chmod` process.
  *
  * A caller with a setting of its own layers it onto [[builder]] before
  * [[start]] (the test session's warehouse dir) or sets it on the live
  * session afterwards (a narrower shuffle width).
  */
object GraftSession {

  /** The whole machine, capped at the target topology's 32 threads, so a
    * recorded bench artifact measures the intended local[32] configuration
    * rather than an arbitrary slice.
    */
  val cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS",
    math.min(32, Runtime.getRuntime.availableProcessors).toString)

  def builder(): SparkSession.Builder = SparkSession.builder()
    .master(s"local[$cpus]")
    .config("spark.sql.shuffle.partitions", cpus)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")

  /** Build (or join) the session and install graft's rules into it. */
  def start(b: SparkSession.Builder = builder()): SparkSession = {
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.plans.GraftRules.register(spark)
    spark
  }

  /** Release every piece of JVM state a query can leave behind: running
    * streams, pinned blocks, cached plans and temp views. Catalog queries
    * localCheckpoint internally and nothing unpersists those blocks; across
    * a full catalog pass they accumulate in the block manager and slow every
    * later query (the lexicographic tail read 3.5-150x slower than isolated
    * runs before harnesses called this between queries).
    */
  def reset(spark: SparkSession): Unit = {
    spark.streams.active.foreach(q => try q.stop() catch { case _: Throwable => () })
    spark.sparkContext.getPersistentRDDs.values
      .foreach(rdd => try rdd.unpersist(blocking = false) catch { case _: Throwable => () })
    spark.catalog.clearCache()
    try spark.catalog.listTables().collect().filter(_.isTemporary)
      .foreach(t => spark.catalog.dropTempView(t.name))
    catch { case _: Throwable => () }
  }
}
