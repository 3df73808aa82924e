package graft.queries

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.ops.{Dedup, Diagnostics, Normalize, Quality}
import graft.source.{EodSource, GraftMeta}

/** Typed-contract row for the events table (SURVEY §2.8 V6): required keys /
  * types are enforced by the Encoder at compile+analysis time — the Spark
  * analogue of the reference's metadata contract check
  * (get_securities_data.py:146-161).
  */
case class EventRow(
    event_id: Long,
    ts: java.sql.Timestamp,
    user_id: Long,
    event_type: String,
    value: Double,
    props: String)

/** Source / lineage / diagnostics / validation operators (SURVEY §2.1 S1-S4,
  * S6-S7, §2.2 P6/P8, §2.8 V1/V2/V6) — the operators whose effects are
  * side-channel (files, session state, gates) expressed as oracle-checkable
  * queries: each pipeline round-trips through the real operator on the Spark
  * side while the oracle recomputes the value-equivalent result straight from
  * the parquet tables.
  */
object SourceQueries {

  private val cutoff = "2024-01-15 00:00:00"
  private val cutoffEnd = "2024-01-16 00:00:00"

  private def eventsBatch(s: SparkSession, dir: String) =
    Tables.load(s, dir, "events").filter(
      col("ts") >= lit(cutoff).cast("timestamp") && col("ts") < lit(cutoffEnd).cast("timestamp"))

  private def scratch(s: SparkSession, sfDir: String, name: String): String =
    Q.scratch(s, sfDir, name) // shared wipe-before-use contract

  /** Shared three-version CDF fixture (q200/q201): v1 = customer base written
    * WITHOUT capture (exercises the pre-CDF reconstruction fallback), then
    * v2/v3 via [[graft.ops.ChangeFeed.commit]] with mixed insert / update /
    * delete. Balances are DECIMAL(12,2) end-to-end so every downstream fold
    * is associative and bit-exact. Returns the derived insert key shift.
    */
  private def cdfVersions(s: SparkSession, dir: String, root: String): Long = {
    import graft.ops.{ChangeFeed, VersionedTable}
    val base = Tables.load(s, dir, "customer")
      .select(col("c_custkey").cast("long").as("k"),
        col("c_nationkey").cast("int").as("n"),
        col("c_acctbal").cast("decimal(12,2)").as("b"))
    val shift = base.agg(max(col("k"))).head.getLong(0) + 1L
    VersionedTable.write(base, root)
    val v2 = base.filter(col("k") % 10 =!= 0)
      .withColumn("b", when(col("n") <= 5, col("b") + 100)
        .otherwise(col("b")).cast("decimal(12,2)"))
      .unionByName(base.filter(col("n") >= 20).withColumn("k", col("k") + shift))
    require(ChangeFeed.commit(v2, root, Seq("k")) == 2L,
      "cdf fixture: the first captured commit must be v2")
    // v3 lazily reads the live v2 dir — immutable, so no checkpoint needed
    val v3 = VersionedTable.read(s, root)
      .filter(col("k") % 7 =!= 0)
      .withColumn("b", when(col("n").between(10, 12),
        col("b") + lit(new java.math.BigDecimal("7.5")))
        .otherwise(col("b")).cast("decimal(12,2)"))
    require(ChangeFeed.commit(v3, root, Seq("k")) == 3L,
      "cdf fixture: the second captured commit must be v3")
    shift
  }

  val all: Seq[Q] = Seq(

    // ---------------------------------------------------------------- q102
    // S1 at scale: the DataSource V2 REST source — a 12-day window fetched
    // as one executor-parallel scan, ONE InputPartition per trading date
    // (asserted in-query), parsed to typed rows in Catalyst. The offline
    // transport derives every payload from the date alone, so the oracle
    // recomputes the rows with SQL date arithmetic; weekends return an
    // empty payload and contribute zero rows (the reference's holiday
    // semantics, eod_data_downloader.py:125-147).
    Q("q102_dsv2_backfill",
      """WITH days AS (
        |  SELECT CAST(d AS DATE) AS trade_date
        |  FROM generate_series(DATE '2024-01-15', DATE '2024-01-26', INTERVAL 1 DAY) t(d)
        |  WHERE datediff('day', DATE '1970-01-01', CAST(d AS DATE)) % 7 NOT IN (2, 3)
        |),
        |tick AS (SELECT CAST(i + 1 AS INT) AS i FROM range(20) t(i))
        |SELECT trade_date,
        |  'S' || CAST(i AS VARCHAR) AS symbol,
        |  round(CAST(i + day(trade_date) AS DOUBLE), 6) AS open,
        |  round(CAST(2 * i + day(trade_date) AS DOUBLE), 6) AS high,
        |  round(CAST(i AS DOUBLE), 6) AS low,
        |  round(CAST(3 * i + day(trade_date) AS DOUBLE), 6) AS close,
        |  CAST(1000 * i + day(trade_date) AS BIGINT) AS volume
        |FROM days CROSS JOIN tick""".stripMargin) { (s, dir) =>
      import graft.source.{EodDsv2, SyntheticEodTransport}
      val transport = classOf[SyntheticEodTransport].getName
      val raw = EodDsv2.readRaw(s, "2024-01-15", "2024-01-26", transport)
      // the layout contract that makes backfills parallel: date == partition
      require(raw.rdd.getNumPartitions == 12,
        s"expected 12 input partitions (one per date), got ${raw.rdd.getNumPartitions}")
      EodDsv2.parseGroupedDaily(raw)
        .select(col("trade_date"), col("symbol"),
          round(col("open").cast("double"), 6).as("open"),
          round(col("high").cast("double"), 6).as("high"),
          round(col("low").cast("double"), 6).as("low"),
          round(col("close").cast("double"), 6).as("close"),
          col("volume").cast("bigint").as("volume"))
    },

    // ---------------------------------------------------------------- q117
    // Versioned-table CDC: write snapshot v1, evolve it (deletes, updates,
    // inserts — all derived deterministically from `customer`), write v2
    // through the VersionedTable pointer flip, then TIME-TRAVEL both
    // versions back and diff them into a change feed. In-query requires pin
    // the table contract (live pointer = v2, v1 still readable); the oracle
    // recomputes both snapshots and the same full-outer diff from SQL alone.
    Q("q117_version_diff",
      """WITH v1 AS (SELECT c_custkey, c_name FROM customer WHERE c_custkey <= 400),
        |v2 AS (
        |  SELECT c_custkey,
        |    CASE WHEN c_custkey % 10 IN (1, 2) THEN c_name || '*' ELSE c_name END AS c_name
        |  FROM customer WHERE c_custkey <= 400 AND c_custkey % 10 <> 0
        |  UNION ALL
        |  SELECT 10000 + i, 'NEW' || CAST(i AS VARCHAR)
        |  FROM range(1, 51) t(i))
        |SELECT coalesce(v1.c_custkey, v2.c_custkey) AS c_custkey,
        |  CASE WHEN v1.c_custkey IS NULL THEN 'insert'
        |       WHEN v2.c_custkey IS NULL THEN 'delete'
        |       ELSE 'update' END AS op,
        |  v1.c_name AS old_name, v2.c_name AS new_name
        |FROM v1 FULL JOIN v2 ON v1.c_custkey = v2.c_custkey
        |WHERE v1.c_custkey IS NULL OR v2.c_custkey IS NULL
        |   OR v1.c_name <> v2.c_name""".stripMargin) { (s, dir) =>
      import graft.ops.VersionedTable
      val table = scratch(s, dir, "q117") + "/t"
      val v1 = Tables.load(s, dir, "customer")
        .filter(col("c_custkey") <= 400)
        .select(col("c_custkey"), col("c_name"))
      val v2 = v1.filter(col("c_custkey") % 10 =!= 0)
        .select(col("c_custkey"),
          when(col("c_custkey") % 10 === 1 || col("c_custkey") % 10 === 2,
            concat(col("c_name"), lit("*"))).otherwise(col("c_name")).as("c_name"))
        .unionByName(s.range(1, 51).toDF("i")
          .select((col("i") + 10000).as("c_custkey"),
            concat(lit("NEW"), col("i").cast("string")).as("c_name")))
      require(VersionedTable.write(v1, table) == 1L)
      require(VersionedTable.write(v2, table) == 2L)
      require(VersionedTable.currentVersion(s, table).contains(2L),
        "live pointer must name v2")
      // time travel: BOTH versions readable concurrently
      val a = VersionedTable.readVersion(s, table, 1L)
        .select(col("c_custkey"), col("c_name").as("old_name"))
      val b = VersionedTable.readVersion(s, table, 2L)
        .select(col("c_custkey"), col("c_name").as("new_name"))
      a.join(b, Seq("c_custkey"), "full_outer")
        .filter(col("old_name").isNull || col("new_name").isNull ||
          col("old_name") =!= col("new_name"))
        .select(col("c_custkey"),
          when(col("old_name").isNull, "insert")
            .when(col("new_name").isNull, "delete")
            .otherwise("update").as("op"),
          col("old_name"), col("new_name"))
    },

    // ---------------------------------------------------------------- q51
    // S6: file-metadata lineage (METADATA$FILENAME -> _SRC_FILE,
    // copy_to_raw.sql:26). The batch is written as a MULTI-file layout
    // (partitioned by event_type), read back, and the partition value is
    // recovered purely from input_file_name() — proving the lineage column
    // carries real per-file provenance, not a constant.
    Q("q51_src_file_lineage",
      s"""SELECT event_type AS src_event_type, count(*) AS n_rows,
         |  count(DISTINCT user_id) AS n_users
         |FROM events
         |WHERE ts >= TIMESTAMP '$cutoff' AND ts < TIMESTAMP '$cutoffEnd'
         |GROUP BY 1""".stripMargin) { (s, dir) =>
      val out = scratch(s, dir, "q51")
      eventsBatch(s, dir).select(col("event_id"), col("user_id"), col("event_type"))
        .write.partitionBy("event_type").parquet(out)
      s.read.parquet(out)
        .withColumn("_src_file", input_file_name())
        .select(regexp_extract(col("_src_file"), "event_type=([^/]+)/", 1)
          .as("src_event_type"), col("user_id"))
        .groupBy(col("src_event_type"))
        .agg(count(lit(1)).as("n_rows"), countDistinct(col("user_id")).as("n_users"))
    },

    // ---------------------------------------------------------------- q52
    // P6: CURRENT_TIMESTAMP audit column (copy_to_raw.sql:27) — every row of
    // a batch carries the SAME load stamp; pinned here (the batch's logical
    // close time) so replays are deterministic. Emitted as epoch micros, the
    // repo's timestamp-output discipline.
    Q("q52_audit_ts",
      s"""SELECT event_id, epoch_us(TIMESTAMP '$cutoffEnd') AS load_ts_us
         |FROM events
         |WHERE ts >= TIMESTAMP '$cutoff' AND ts < TIMESTAMP '$cutoffEnd'""".stripMargin) { (s, dir) =>
      Normalize.withLoadTs(eventsBatch(s, dir), lit(cutoffEnd).cast("timestamp"))
        .select(col("event_id"), unix_micros(col("load_ts")).as("load_ts_us"))
    },

    // ---------------------------------------------------------------- q53
    // P8: session-context diagnostics (test_snowflake_conn.py:17-23) — the
    // connectivity "hello world". The context values themselves are
    // engine-specific, so the oracle checks the CONTRACT: each scalar
    // resolves and the session is sanely configured.
    Q("q53_session_diag",
      """SELECT TRUE AS user_ok, TRUE AS version_ok,
        |  TRUE AS parallelism_ok, TRUE AS shuffle_conf_ok""".stripMargin) { (s, _) =>
      Diagnostics.sessionInfo(s).select(
        col("current_user").isNotNull.as("user_ok"),
        col("version").isNotNull.as("version_ok"),
        (col("default_parallelism") >= 1).as("parallelism_ok"),
        (col("shuffle_partitions").cast("int") >= 1).as("shuffle_conf_ok"))
    },

    // ---------------------------------------------------------------- q54
    // V1: row-count threshold gate (MIN_EXPECTED_TICKERS = 100,
    // eod_data_downloader.py:17,138-145), evaluated via `observe` on the
    // batch scan — the metric rides the existing pass instead of a second
    // count scan — then surfaced as a 1-row metrics frame.
    Q("q54_rowcount_gate",
      s"""SELECT count(*) AS n_rows, 100 AS min_expected,
         |  count(*) >= 100 AS gate_passed
         |FROM events
         |WHERE ts >= TIMESTAMP '$cutoff' AND ts < TIMESTAMP '$cutoffEnd'""".stripMargin) { (s, dir) =>
      import s.implicits._
      val obs = org.apache.spark.sql.Observation()
      val minExpected = 100
      eventsBatch(s, dir).observe(obs, count(lit(1)).as("rows")).count()
      val n = obs.get("rows").asInstanceOf[Long]
      Seq((n, minExpected, n >= minExpected))
        .toDF("n_rows", "min_expected", "gate_passed")
    },

    // ---------------------------------------------------------------- q55
    // V2: empty-result short-circuit (no trading day,
    // get_securities_data.py:109-112): the probe date has no events, the
    // gate says skip, and downstream work is provably not executed.
    Q("q55_empty_skip",
      """WITH b AS (SELECT * FROM events
        |  WHERE ts >= TIMESTAMP '2024-06-01 00:00:00' AND ts < TIMESTAMP '2024-06-02 00:00:00')
        |SELECT count(*) AS n_rows, count(*) = 0 AS skipped,
        |  CAST(0 AS BIGINT) AS downstream_rows
        |FROM b""".stripMargin) { (s, dir) =>
      import s.implicits._
      val probe = Tables.load(s, dir, "events").filter(
        col("ts") >= lit("2024-06-01 00:00:00").cast("timestamp") &&
          col("ts") < lit("2024-06-02 00:00:00").cast("timestamp"))
      val proceed = Quality.nonEmpty(probe)
      // downstream (the dedup+merge stage) runs ONLY when the gate passes
      val downstreamRows =
        if (proceed)
          Dedup.latestBy(probe, Seq(col("user_id"), col("event_type")),
            Seq(col("ts"), col("event_id"))).count()
        else 0L
      Seq((probe.count(), !proceed, downstreamRows))
        .toDF("n_rows", "skipped", "downstream_rows")
    },

    // ---------------------------------------------------------------- q56
    // V6: metadata contract as compile-time typing — the batch flows through
    // a Dataset[EventRow] (Encoder enforces names+types; a missing or
    // mistyped column fails analysis, the moral equivalent of the required-
    // key check) with a typed filter, then back to SQL land.
    Q("q56_typed_contract",
      """SELECT event_id, user_id, event_type, value FROM events
        |WHERE event_type = 'purchase' AND value > 50.0""".stripMargin) { (s, dir) =>
      Tables.load(s, dir, "events")
        .as(Encoders.product[EventRow])
        .filter(e => e.event_type == "purchase" && e.value > 50.0)
        .toDF()
        .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
    },

    // ---------------------------------------------------------------- q57
    // S1/S2: the REST JSON source path — driver-side records (the reference
    // is one bounded API payload per day, eod_data_downloader.py:58-90)
    // parsed distributed via from_json, fields T/o/h/l/c/v renamed and
    // TRY_TO_*-typed; a missing field and a NaN token both land as NULL.
    // The record set is built deterministically from lineitem (bounded by a
    // constant key range at every sf) so the oracle can recompute it.
    Q("q57_json_source",
      """WITH src AS (SELECT * FROM lineitem WHERE l_orderkey < 200)
        |SELECT DATE '2024-01-15' AS trade_date,
        |  'S' || CAST(l_suppkey AS VARCHAR) AS symbol,
        |  round(CAST(TRY_CAST(CASE WHEN l_linenumber = 6 THEN NULL
        |    ELSE CAST(CAST(l_quantity AS INT) AS VARCHAR) END AS DECIMAL(18,6)) AS DOUBLE), 6) AS open,
        |  round(CAST(l_partkey AS DOUBLE), 6) AS high,
        |  round(CAST(l_suppkey AS DOUBLE), 6) AS low,
        |  round(CAST(l_linenumber AS DOUBLE), 6) AS close,
        |  CAST(CASE WHEN l_linenumber = 7 THEN NULL ELSE l_orderkey END AS BIGINT) AS volume
        |FROM src""".stripMargin) { (s, dir) =>
      val records = Tables.load(s, dir, "lineitem")
        .filter(col("l_orderkey") < 200)
        .select(concat(
          lit("{\"T\": \"S"), col("l_suppkey").cast("string"),
          lit("\", \"o\": \""),
          when(col("l_linenumber") === 6, lit("NaN"))
            .otherwise(col("l_quantity").cast("int").cast("string")),
          lit("\", \"h\": \""), col("l_partkey").cast("string"),
          lit("\", \"l\": \""), col("l_suppkey").cast("string"),
          lit("\", \"c\": \""), col("l_linenumber").cast("string"),
          when(col("l_linenumber") === 7, lit("\"}")) // v absent -> NULL volume
            .otherwise(concat(lit("\", \"v\": \""),
              col("l_orderkey").cast("string"), lit("\"}")))).as("json"))
        .as(Encoders.STRING).collect().toIndexedSeq // bounded: the day-batch payload
      EodSource.fromJsonRecords(s, records, "2024-01-15")
        .select(col("trade_date"), col("symbol"),
          round(col("open").cast("double"), 6).as("open"),
          round(col("high").cast("double"), 6).as("high"),
          round(col("low").cast("double"), 6).as("low"),
          round(col("close").cast("double"), 6).as("close"),
          col("volume").cast("bigint").as("volume"))
    },

    // ---------------------------------------------------------------- q62
    // Columnar-format breadth: the same layer round-trips through ORC (the
    // second columnar format Spark ships a vectorized reader for) with
    // schema, date, decimal, and null fidelity — the result must be
    // indistinguishable from the parquet-derived oracle.
    Q("q62_orc_roundtrip",
      """SELECT o_orderpriority, CAST(o_orderdate AS DATE) AS order_day,
        |  count(*) AS n_orders,
        |  round(CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DECIMAL(38,6)) AS DOUBLE), 6) AS total_price
        |FROM orders
        |WHERE o_orderkey < 2000
        |GROUP BY 1, 2""".stripMargin) { (s, dir) =>
      val out = scratch(s, dir, "q62")
      Tables.load(s, dir, "orders")
        .filter(col("o_orderkey") < 2000)
        .select(col("o_orderpriority"), to_date(col("o_orderdate")).as("order_day"),
          col("o_totalprice").cast("decimal(18,6)").as("price"))
        .write.orc(out)
      s.read.orc(out)
        .groupBy(col("o_orderpriority"), col("order_day"))
        .agg(count(lit(1)).as("n_orders"),
          round(sum(col("price")).cast("decimal(38,6)").cast("double"), 6).as("total_price"))
    },

    // ---------------------------------------------------------------- q58
    // S3/S4/S7 (+S5/S6 on the read side): the bronze round-trip — write the
    // header CSV exactly as the reference's sink does, probe the idempotent
    // object-store sink (second write skipped, get_securities_data.py:
    // 117-132), LIST the stage, then read back through the permissive typed
    // loader. Lossless: the oracle recomputes the same rows from parquet.
    Q("q58_bronze_roundtrip",
      """WITH src AS (SELECT * FROM lineitem WHERE l_orderkey < 400)
        |SELECT CAST(l_shipdate AS DATE) AS trade_date,
        |  'S' || CAST(l_suppkey AS VARCHAR) AS symbol,
        |  round(CAST(CASE WHEN l_linenumber = 5 THEN NULL
        |    ELSE CAST(l_quantity AS INT) END AS DOUBLE), 6) AS open,
        |  round(CAST(l_partkey AS DOUBLE), 6) AS high,
        |  round(CAST(l_suppkey AS DOUBLE), 6) AS low,
        |  round(CAST(l_linenumber AS DOUBLE), 6) AS close,
        |  CAST(l_orderkey AS BIGINT) AS volume,
        |  TRUE AS idempotent_sink, TRUE AS stage_listed
        |FROM src""".stripMargin) { (s, dir) =>
      val base = scratch(s, dir, "q58")
      val csvDir = s"$base/bronze"
      val pqDir = s"$base/raw"
      val src = Tables.load(s, dir, "lineitem")
        .filter(col("l_orderkey") < 400)
        .select(
          to_date(col("l_shipdate")).as("trade_date"),
          concat(lit("S"), col("l_suppkey").cast("string")).as("symbol"),
          when(col("l_linenumber") === 5, lit(null))
            .otherwise(col("l_quantity").cast("int")).as("open"), // empty field -> NULL
          col("l_partkey").as("high"),
          col("l_suppkey").as("low"),
          col("l_linenumber").as("close"),
          col("l_orderkey").as("volume"))
      EodSource.writeBronzeCsv(src, csvDir)                    // S3
      val firstWrite = EodSource.writeIfAbsent(src, pqDir)     // S4: writes
      val secondWrite = EodSource.writeIfAbsent(src, pqDir)    // S4: skipped
      val staged = EodSource.listStage(s, csvDir)              // S7
      EodSource.readBronzeCsv(s, csvDir)                       // S5 + S6
        .select(col("trade_date"), col("symbol"),
          round(col("open").cast("double"), 6).as("open"),
          round(col("high").cast("double"), 6).as("high"),
          round(col("low").cast("double"), 6).as("low"),
          round(col("close").cast("double"), 6).as("close"),
          col("volume").cast("bigint").as("volume"),
          lit(firstWrite && !secondWrite).as("idempotent_sink"),
          lit(staged.nonEmpty).as("stage_listed"))
    },

    // ---------------------------------------------------------------- q93
    // Schema evolution: two generations of a table land with different
    // column sets (v2 adds a column); a mergeSchema read unifies them, v1
    // rows carrying NULL for the new column — the append-only evolution
    // story a long-lived lake table needs (the alternative is rewriting
    // history on every schema change). The oracle recomputes the union with
    // explicit NULLs.
    Q("q93_schema_evolution",
      """SELECT l_orderkey, l_linenumber,
        |  round(CAST(l_extendedprice AS DOUBLE), 6) AS price,
        |  CAST(NULL AS DOUBLE) AS discount, 1 AS gen
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
        |  AND l_shipdate <  TIMESTAMP '1995-02-01 00:00:00'
        |UNION ALL
        |SELECT l_orderkey, l_linenumber,
        |  round(CAST(l_extendedprice AS DOUBLE), 6),
        |  round(CAST(l_discount AS DOUBLE), 6), 2
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1995-02-01 00:00:00'
        |  AND l_shipdate <  TIMESTAMP '1995-03-01 00:00:00'""".stripMargin) { (s, dir) =>
      val base = scratch(s, dir, "q93")
      val li = Tables.load(s, dir, "lineitem")
      def month(from: String, until: String) = li.filter(
        col("l_shipdate") >= lit(from).cast("timestamp") &&
          col("l_shipdate") < lit(until).cast("timestamp"))
      month("1995-01-01 00:00:00", "1995-02-01 00:00:00")
        .select(col("l_orderkey"), col("l_linenumber"),
          round(col("l_extendedprice").cast("double"), 6).as("price"),
          lit(1).as("gen"))
        .write.parquet(s"$base/gen=v1")
      month("1995-02-01 00:00:00", "1995-03-01 00:00:00")
        .select(col("l_orderkey"), col("l_linenumber"),
          round(col("l_extendedprice").cast("double"), 6).as("price"),
          round(col("l_discount").cast("double"), 6).as("discount"), // new in v2
          lit(2).as("gen"))
        .write.parquet(s"$base/gen=v2")
      s.read.option("mergeSchema", "true").parquet(s"$base/gen=v1", s"$base/gen=v2")
        .select(col("l_orderkey"), col("l_linenumber"), col("price"),
          col("discount"), col("gen"))
    },

    // ---------------------------------------------------------------- q83
    // Typed JSON field extraction with from_json (the S2 rename/extract
    // family upgraded from regex to a schema'd parser — what the REST
    // source does to nested payloads at scale): parse props into a struct,
    // aggregate the typed field with exact integer sums. Codegen-native,
    // no UDF; malformed JSON yields NULL and is filtered like TRY_TO_*.
    Q("q83_json_extract",
      """SELECT upper(trim(event_type)) AS event_type,
        |  count(*) AS n,
        |  CAST(SUM(CAST(json_extract_string(props, '$.k') AS INT)) AS BIGINT) AS sum_k,
        |  round(CAST(SUM(CAST(json_extract_string(props, '$.k') AS INT)) AS DOUBLE)
        |        / count(*), 6) AS avg_k
        |FROM events WHERE json_extract_string(props, '$.k') IS NOT NULL
        |GROUP BY 1""".stripMargin) { (s, dir) =>
      import graft.ops.Normalize
      val k = from_json(col("props"), org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("k", org.apache.spark.sql.types.IntegerType))))
        .getField("k")
      Tables.load(s, dir, "events")
        .select(Normalize.normKey(col("event_type")).as("event_type"), k.as("k"))
        .filter(col("k").isNotNull)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("k")).cast("bigint").as("sum_k"),
          round(sum(col("k")).cast("double") / count(lit(1)), 6).as("avg_k"))
    },

    // ---------------------------------------------------------------- q85
    // Small-file compaction (streaming-sink housekeeping): a 40-file
    // VersionedTable is bin-packed to a byte-sized target and committed as
    // its next version through the pointer flip; the query ASSERTS the
    // file-count contract on the live version at runtime (a layout
    // regression turns the entry red, q59-style) and returns the compacted
    // data — the oracle proves the rewrite lost nothing.
    Q("q85_compaction",
      """SELECT o_orderpriority, count(*) AS n_orders,
        |  CAST(SUM(o_orderkey) AS BIGINT) AS key_sum
        |FROM orders GROUP BY 1""".stripMargin) { (s, dir) =>
      import graft.ops.{Layout, VersionedTable}
      val path = scratch(s, dir, "q85")
      VersionedTable.write(Tables.load(s, dir, "orders").repartition(40), path)
      val fs = new org.apache.hadoop.fs.Path(path)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      def liveFiles() = GraftMeta.dataFiles(fs,
        new org.apache.hadoop.fs.Path(VersionedTable.liveDir(s, path)))
      val before = liveFiles()
      Layout.binPackVersioned(s, path, smallBytes = before.map(_.getLen).sum / 4 + 1)
      val after = liveFiles().size
      require(before.size == 40 && after <= 4,
        s"compaction contract violated: ${before.size} files -> $after")
      VersionedTable.read(s, path)
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_orders"),
          sum(col("o_orderkey")).cast("bigint").as("key_sum"))
    },

    // ---------------------------------------------------------------- q132
    // Z-order (Morton) clustering: the multi-predicate layout tool a 100 TB
    // table needs. The same data is written twice — linear-sorted on
    // ship_day, and Z-ordered on (l_orderkey, ship_day) via interleaved-bit
    // range buckets — then BOTH single-column band predicates are measured
    // with the scan's numOutputRows metric (rows surviving row-group min/max
    // pruning). Contract required in-query: the Z layout prunes on BOTH
    // dimensions (the orderkey band scans ≤ half of what the linear layout
    // scans; the day band still prunes), while the linear layout prunes only
    // its leading sort column and reads ≥ 3/4 of the table for the orderkey
    // band. The returned rows are the band aggregates read back FROM the
    // Z-ordered layout, so the oracle also proves the clustered rewrite is
    // lossless. (Row groups shrunk to 2 KiB so min/max stats give dozens of
    // pruning units even at sf0.001 — range-partition boundaries alone are
    // sample-estimated and too coarse there; production keeps 128 MiB groups
    // and gets the same granularity from data volume.)
    Q("q132_zorder_skipping",
      """WITH mm AS (SELECT min(l_orderkey) AS lo, max(l_orderkey) AS hi FROM lineitem)
        |SELECT 'key_band' AS pred, count(*) AS n_rows,
        |  CAST(SUM(l_orderkey) AS BIGINT) AS key_sum
        |FROM lineitem, mm
        |WHERE l_orderkey >= lo + (hi - lo)//4
        |  AND l_orderkey <  lo + (hi - lo)//4 + (hi - lo)//20
        |UNION ALL
        |SELECT 'day_band', count(*), CAST(SUM(l_orderkey) AS BIGINT)
        |FROM lineitem
        |WHERE CAST(l_shipdate AS DATE) >= DATE '1996-06-01'
        |  AND CAST(l_shipdate AS DATE) < DATE '1996-07-01'""".stripMargin) { (s, dir) =>
      import graft.ops.Layout
      val epoch = to_date(lit("1970-01-01"))
      val li = Tables.load(s, dir, "lineitem")
        .select(col("l_orderkey"), to_date(col("l_shipdate")).as("ship_day"))
      val mm = li.agg(min(col("l_orderkey")).cast("long"), max(col("l_orderkey")).cast("long"),
        min(datediff(col("ship_day"), epoch)).cast("long"),
        max(datediff(col("ship_day"), epoch)).cast("long")).head()
      val (loK, hiK, loD, hiD) = (mm.getLong(0), mm.getLong(1), mm.getLong(2), mm.getLong(3))
      val span = hiK - loK
      val (bandLo, bandHi) = (loK + span / 4, loK + span / 4 + span / 20)
      // ~2 KiB groups give dozens of pruning units at sf0.001; at larger SFs
      // the same granularity target (~1000 groups) is met with bigger groups
      // — thousands of 2 KiB groups would just tax the writer and footers
      val nRows = li.count()
      val blockBytes = math.max(2L * 1024, nRows * 12 / 1000)
      val zPath = scratch(s, dir, "q132_z")
      val linPath = scratch(s, dir, "q132_lin")
      Layout.zOrderWrite(li, zPath,
        Seq(Layout.rangeBucket(col("l_orderkey"), loK, hiK, 16),
          Layout.rangeBucket(datediff(col("ship_day"), epoch), loD, hiD, 16)),
        bits = 16, nFiles = 4, blockBytes = blockBytes)
      li.repartitionByRange(4, col("ship_day")).sortWithinPartitions(col("ship_day"))
        .write.mode("overwrite").option("parquet.block.size", blockBytes).parquet(linPath)
      val keyPred = col("l_orderkey") >= bandLo && col("l_orderkey") < bandHi
      val dayPred = col("ship_day") >= to_date(lit("1996-06-01")) &&
        col("ship_day") < to_date(lit("1996-07-01"))
      def scannedRows(path: String, pred: org.apache.spark.sql.Column): Long = {
        // one-column probe (round-12 harness rule, as in q178/q181)
        val df = s.read.parquet(path)
          .select(col("l_orderkey"), col("ship_day")).filter(pred)
        df.collect()
        df.queryExecution.executedPlan.collectLeaves().head.metrics("numOutputRows").value
      }
      val total = nRows
      val zKey = scannedRows(zPath, keyPred)
      val zDay = scannedRows(zPath, dayPred)
      val linKey = scannedRows(linPath, keyPred)
      val linDay = scannedRows(linPath, dayPred)
      // Pruning on the NON-leading dim is information-bounded by the number
      // of pruning units: with only ~36 row groups (sf0.001) the best any
      // 2-D clustering can reach is ~1/sqrt(36) per dim plus interval-
      // alignment straddle — measured ~0.44 of the linear scan there, while
      // sf0.01 reaches 0.12 and sf0.1 reaches 0.07. So the universal bound
      // is 2/3, and the production-strength 4x bound is asserted wherever
      // the layout has enough groups to support it (≥ 50 k rows).
      require(zKey * 3 <= linKey * 2,
        s"q132: Z layout must prune the non-leading dim: z=$zKey linear=$linKey")
      if (total >= 50000)
        require(zKey * 4 <= linKey,
          s"q132: at scale the Z layout must prune the non-leading dim 4x: z=$zKey linear=$linKey")
      require(zDay * 2 <= total,
        s"q132: Z layout must still prune the other clustered dim: z=$zDay of $total")
      require(linDay * 2 <= total,
        s"q132: linear layout must prune its sort column: $linDay of $total")
      require(linKey * 4 >= total * 3,
        s"q132: linear layout cannot prune the non-sort dim: $linKey of $total")
      val z = s.read.parquet(zPath)
      z.filter(keyPred)
        .agg(count(lit(1)).as("n_rows"), sum(col("l_orderkey")).cast("bigint").as("key_sum"))
        .select(lit("key_band").as("pred"), col("n_rows"), col("key_sum"))
        .unionByName(
          z.filter(dayPred)
            .agg(count(lit(1)).as("n_rows"), sum(col("l_orderkey")).cast("bigint").as("key_sum"))
            .select(lit("day_band").as("pred"), col("n_rows"), col("key_sum")))
    },

    // ---------------------------------------------------------------- q138
    // File-level data skipping (the Delta stats-index pattern): lineitem is
    // snapshotted through VersionedTable range-clustered on ship_day with a
    // per-file min/max index built INSIDE the version dir, and a one-month
    // band read plans over only the files whose stats admit the band. Row-
    // group pruning (q132) still opens every footer; this index decides from
    // a KB-sized side table which files to LIST — the decision that matters
    // when 100 TB is millions of files. Contract required in-query: the band
    // selects at most half the files (with at least 4 on disk, so "half" is
    // meaningful); the oracle proves the pruned+residual read returns
    // exactly the full filter's rows.
    Q("q138_fileskip_index",
      """SELECT l_returnflag, count(*) AS n_rows,
        |  CAST(SUM(l_orderkey) AS BIGINT) AS key_sum
        |FROM lineitem
        |WHERE CAST(l_shipdate AS DATE) >= DATE '1996-06-01'
        |  AND CAST(l_shipdate AS DATE) < DATE '1996-07-01'
        |GROUP BY 1""".stripMargin) { (s, dir) =>
      import graft.ops.{DataSkipping, VersionedTable}
      val path = scratch(s, dir, "q138")
      val li = Tables.load(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_returnflag"),
          to_date(col("l_shipdate")).as("ship_day"))
      // layout must cluster the stats column or nothing prunes (every file
      // would span the full range) — same rule as Delta's ZORDER+stats pairing
      VersionedTable.write(li.repartitionByRange(8, col("ship_day")), path,
        statsCols = Seq("ship_day"))
      val (pruned, selected, total) = DataSkipping.pruneBetween(
        s, VersionedTable.liveDir(s, path), "ship_day",
        to_date(lit("1996-06-01")), to_date(lit("1996-06-30")))
      require(total >= 4, s"q138: expected a multi-file layout, got $total files")
      require(selected * 2 <= total,
        s"q138: stats index must skip half the files: selected $selected of $total")
      pruned
        .filter(col("ship_day") >= to_date(lit("1996-06-01")) &&
          col("ship_day") < to_date(lit("1996-07-01")))
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n_rows"),
          sum(col("l_orderkey")).cast("bigint").as("key_sum"))
    },

    // ---------------------------------------------------------------- q139
    // DSv2 filter pushdown: a two-week `trade_date` band against a 91-day
    // configured window must narrow the fetch AT PLANNING TIME — the scan
    // plans 12 input partitions (one per date in the band), not 91. For a
    // REST source partition pruning IS request pruning: each pruned date is
    // an HTTP call that never happens, which at backfill scale is the
    // difference between 12 and 3 650 requests. The filter is also
    // re-applied row-level (pushdown stays conservative), and the oracle
    // recomputes the surviving rows from date arithmetic.
    Q("q139_dsv2_filter_pushdown",
      """WITH days AS (
        |  SELECT CAST(d AS DATE) AS trade_date
        |  FROM generate_series(DATE '2024-02-05', DATE '2024-02-16', INTERVAL 1 DAY) t(d)
        |  WHERE datediff('day', DATE '1970-01-01', CAST(d AS DATE)) % 7 NOT IN (2, 3)
        |),
        |tick AS (SELECT CAST(i + 1 AS INT) AS i FROM range(20) t(i))
        |SELECT trade_date,
        |  'S' || CAST(i AS VARCHAR) AS symbol,
        |  round(CAST(3 * i + day(trade_date) AS DOUBLE), 6) AS close,
        |  CAST(1000 * i + day(trade_date) AS BIGINT) AS volume
        |FROM days CROSS JOIN tick""".stripMargin) { (s, dir) =>
      import graft.source.{EodDsv2, SyntheticEodTransport}
      val transport = classOf[SyntheticEodTransport].getName
      val raw = EodDsv2.readRaw(s, "2024-01-01", "2024-03-31", transport)
        .filter(col("trade_date").between(
          lit("2024-02-05").cast("date"), lit("2024-02-16").cast("date")))
      // the pushdown contract: 12 partitions (the band), not 91 (the window)
      require(raw.rdd.getNumPartitions == 12,
        s"q139: expected 12 pruned input partitions, got ${raw.rdd.getNumPartitions}")
      EodDsv2.parseGroupedDaily(raw)
        .select(col("trade_date"), col("symbol"),
          round(col("close").cast("double"), 6).as("close"),
          col("volume").cast("bigint").as("volume"))
    },

    // ---------------------------------------------------------------- q168
    // OPTIMIZE as one table-maintenance operation (Delta's `OPTIMIZE ...
    // ZORDER BY` + stats refresh): compaction (q85), Z-order clustering
    // (q132) and the file-stats index (q138) composed against a LIVE
    // VersionedTable. The messy state is real — 40 small unclustered files
    // from daily appends — and the optimize writes ONE new immutable
    // version: readers of v1 never see a torn layout, time travel to the
    // pre-optimize version keeps working, and a crash mid-optimize leaves
    // the pointer on v1. Contracts required in-query: one version added;
    // fewer files; content EXACTLY unchanged (optimize is a no-op on data);
    // the refreshed stats index actually skips files for a custkey band.
    Q("q168_optimize_table",
      """SELECT o_orderstatus, count(*) AS n_orders,
        |  CAST(SUM(o_orderkey) AS BIGINT) AS key_sum,
        |  round(CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DECIMAL(38,6)) AS DOUBLE), 6) AS revenue
        |FROM orders GROUP BY 1""".stripMargin) { (s, dir) =>
      import graft.ops.{DataSkipping, Layout, VersionedTable}
      val path = scratch(s, dir, "q168")
      val orders = Tables.load(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
          col("o_totalprice"))
      VersionedTable.write(orders.repartition(40), path) // the daily-append mess
      val v1 = VersionedTable.currentVersion(s, path).get
      def dataFiles(p: String): Int = {
        val hp = new org.apache.hadoop.fs.Path(p)
        val fs = hp.getFileSystem(s.sparkContext.hadoopConfiguration)
        GraftMeta.dataFiles(fs, hp).size
      }
      val v1Files = dataFiles(VersionedTable.liveDir(s, path))
      // OPTIMIZE: Z-order on (custkey, totalprice), 8 target files, stats on
      // the custkey dimension — all staged into the NEXT version
      val mm = orders.agg(
        min(col("o_custkey")).cast("long"), max(col("o_custkey")).cast("long"),
        min(col("o_totalprice")).cast("long"), max(col("o_totalprice")).cast("long")).head()
      val (loC, hiC, loP, hiP) = (mm.getLong(0), mm.getLong(1), mm.getLong(2), mm.getLong(3))
      // custkey LAST: zOrderKey places dim i at interleave position b·n+i, so
      // the last dimension owns the top bit — the 8 range slices then resolve
      // custkey to quarters (the dimension the stats index prunes on) rather
      // than halves
      val zKey = Layout.zOrderKey(Seq(
        Layout.rangeBucket(col("o_totalprice").cast("long"), loP, hiP, 16),
        Layout.rangeBucket(col("o_custkey"), loC, hiC, 16)), bits = 16)
      val optimized = orders.withColumn("__z", zKey)
        .repartitionByRange(8, col("__z")).sortWithinPartitions(col("__z")).drop("__z")
      VersionedTable.write(optimized, path, statsCols = Seq("o_custkey"))
      val v2 = VersionedTable.currentVersion(s, path).get
      require(v2 == v1 + 1, s"q168: optimize must add exactly one version: $v1 -> $v2")
      val v2Files = dataFiles(VersionedTable.liveDir(s, path))
      require(v2Files < v1Files,
        s"q168: optimize must shrink the file count: $v1Files -> $v2Files")
      val before = VersionedTable.readVersion(s, path, v1)
      val after = VersionedTable.read(s, path).localCheckpoint()
      require(Q.sameMultiset(after, before),
        "q168: optimize must not change the table's contents")
      // the refreshed stats index must skip files for a 1/8-span custkey band
      val (_, sel, tot) = DataSkipping.pruneBetween(
        s, VersionedTable.liveDir(s, path), "o_custkey",
        lit(loC), lit(loC + (hiC - loC) / 8))
      require(tot >= 4 && sel * 2 <= tot,
        s"q168: refreshed stats must skip half the files: selected $sel of $tot")
      after.groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n_orders"),
          sum(col("o_orderkey")).cast("bigint").as("key_sum"),
          round(sum(col("o_totalprice").cast("decimal(18,6)")).cast("decimal(38,6)")
            .cast("double"), 6).as("revenue"))
    },

    // ---------------------------------------------------------------- q177
    // Partition-directory skipping — the millions-of-files complement to the
    // q138 stats index. q138's index still materializes the KEPT path list on
    // the driver (the floor: Spark's own FileIndex holds the same). When even
    // that is too much state, file selection must become a filter the ENGINE
    // pushes: lineitem is laid out as hive-style `__band=NN/` directories by
    // range-bucket of ship_day (distributed range partitioner, no global
    // sort), and the reader's band predicate is pushed by Catalyst as a
    // PartitionFilter — whole directories pruned at listing time, zero
    // builder-side file enumeration (Delta/Iceberg hidden-partitioning
    // pruning, re-expressed on plain parquet). Contracts required in-query:
    // the plan carries the pushed PartitionFilters, the pruned scan opens at
    // most half the files, and the oracle proves pruned+residual == full
    // filter.
    Q("q177_banded_skipping",
      """SELECT l_returnflag, count(*) AS n_rows,
        |  CAST(SUM(l_orderkey) AS BIGINT) AS key_sum
        |FROM lineitem
        |WHERE CAST(l_shipdate AS DATE) >= DATE '1996-06-01'
        |  AND CAST(l_shipdate AS DATE) < DATE '1996-07-01'
        |GROUP BY 1""".stripMargin) { (s, dir) =>
      import graft.ops.DataSkipping
      val path = scratch(s, dir, "q177")
      val li = Tables.load(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_returnflag"),
          to_date(col("l_shipdate")).as("ship_day"))
      DataSkipping.writeBanded(li, path, "ship_day", 8)
      // the reader consults only the band-bounds mini-index (8 rows) to map
      // the value band to a directory band — never a file list
      val bounds = DataSkipping.bandBounds(s, path, "ship_day").collect()
      val (lo, hi) = (java.sql.Date.valueOf("1996-06-01"),
        java.sql.Date.valueOf("1996-06-30"))
      val hit = bounds.filter(r => !r.getDate(2).before(lo) && !r.getDate(1).after(hi))
        .map(_.getInt(0))
      require(hit.nonEmpty, "q177: the June band must intersect some band dir")
      val pruned = DataSkipping.pruneBanded(s, path, hit.min, hit.max)
      // PLANNING-TIME proof, zero data jobs (round-11 note: the old form
      // drove two full collect()s just to read numFiles, and the bench
      // gate inherited their ambient luck): with AQE off the executed
      // plan exposes the file scan directly, and FileIndex.listFiles
      // under the scan's own partition filters is exactly the listing
      // the execution would do — assert on it without scanning a byte.
      val aqeWas = s.conf.get("spark.sql.adaptive.enabled")
      val (prunedFiles, totalFiles) =
        try {
          s.conf.set("spark.sql.adaptive.enabled", "false")
          val plan = pruned.queryExecution.executedPlan
          require(plan.toString.contains("PartitionFilters: ["),
            "q177: the band predicate must plan as a pushed partition filter")
          val scan = plan.collect {
            case f: org.apache.spark.sql.execution.FileSourceScanExec => f
          }.head
          val kept = scan.relation.location
            .listFiles(scan.partitionFilters, scan.dataFilters)
            .map(_.files.size).sum.toLong
          (kept, scan.relation.location.inputFiles.length.toLong)
        } finally s.conf.set("spark.sql.adaptive.enabled", aqeWas)
      require(prunedFiles * 2 <= totalFiles,
        s"q177: directory pruning must skip half the files: $prunedFiles of $totalFiles")
      pruned
        .filter(col("ship_day") >= to_date(lit("1996-06-01")) &&
          col("ship_day") < to_date(lit("1996-07-01")))
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n_rows"),
          sum(col("l_orderkey")).cast("bigint").as("key_sum"))
    },

    // ---------------------------------------------------------------- q178
    // Hilbert-curve clustering vs Z-order, measured head-to-head on the SAME
    // data (round-4 VERDICT item). Morton interleaving jumps across the
    // space at power-of-two boundaries, so a file's min/max box over a Z key
    // range is loose — worst when the clustered columns differ widely in
    // cardinality; the Hilbert walk moves one cell per step, so equal key
    // ranges cover tighter boxes and min/max stats prune harder (why Delta
    // added HILBERT next to ZORDER). Both layouts are written from the same
    // lineitem projection with identical file/row-group geometry, both band
    // predicates are measured with the scan's numOutputRows metric, and the
    // contracts are: Hilbert prunes BOTH dims (≤ half the table), and its
    // non-leading-dim scan stays within 1.5x of Z's (locality must not lose
    // to the curve swap). The returned rows are the band aggregates read
    // back FROM the Hilbert layout — the oracle proves the clustered
    // rewrite is lossless.
    Q("q178_hilbert_layout",
      """WITH mm AS (SELECT min(l_orderkey) AS lo, max(l_orderkey) AS hi FROM lineitem)
        |SELECT 'key_band' AS pred, count(*) AS n_rows,
        |  CAST(SUM(l_orderkey) AS BIGINT) AS key_sum
        |FROM lineitem, mm
        |WHERE l_orderkey >= lo + (hi - lo)//4
        |  AND l_orderkey <  lo + (hi - lo)//4 + (hi - lo)//20
        |UNION ALL
        |SELECT 'day_band', count(*), CAST(SUM(l_orderkey) AS BIGINT)
        |FROM lineitem
        |WHERE CAST(l_shipdate AS DATE) >= DATE '1996-06-01'
        |  AND CAST(l_shipdate AS DATE) < DATE '1996-07-01'""".stripMargin) { (s, dir) =>
      import graft.ops.Layout
      val epoch = to_date(lit("1970-01-01"))
      val li = Tables.load(s, dir, "lineitem")
        .select(col("l_orderkey"), to_date(col("l_shipdate")).as("ship_day"))
      val mm = li.agg(min(col("l_orderkey")).cast("long"), max(col("l_orderkey")).cast("long"),
        min(datediff(col("ship_day"), epoch)).cast("long"),
        max(datediff(col("ship_day"), epoch)).cast("long")).head()
      val (loK, hiK, loD, hiD) = (mm.getLong(0), mm.getLong(1), mm.getLong(2), mm.getLong(3))
      val span = hiK - loK
      val (bandLo, bandHi) = (loK + span / 4, loK + span / 4 + span / 20)
      val nRows = li.count()
      val blockBytes = math.max(2L * 1024, nRows * 12 / 1000) // q132 geometry
      val kB = Layout.rangeBucket(col("l_orderkey"), loK, hiK, 16)
      val dB = Layout.rangeBucket(datediff(col("ship_day"), epoch), loD, hiD, 16)
      val hPath = scratch(s, dir, "q178_h")
      val zPath = scratch(s, dir, "q178_z")
      Layout.hilbertWrite(li, hPath, kB, dB, bits = 16, nFiles = 4, blockBytes = blockBytes)
      Layout.zOrderWrite(li, zPath, Seq(kB, dB), bits = 16, nFiles = 4,
        blockBytes = blockBytes)
      val keyPred = col("l_orderkey") >= bandLo && col("l_orderkey") < bandHi
      val dayPred = col("ship_day") >= to_date(lit("1996-06-01")) &&
        col("ship_day") < to_date(lit("1996-07-01"))
      def scannedRows(path: String, pred: org.apache.spark.sql.Column): Long = {
        // one-column probe (round-12 harness rule): the leaf metric counts
        // scan-output rows under the same row-group admission whatever the
        // projection, so decode only the band columns, never the row
        val df = s.read.parquet(path)
          .select(col("l_orderkey"), col("ship_day")).filter(pred)
        df.collect()
        df.queryExecution.executedPlan.collectLeaves().head.metrics("numOutputRows").value
      }
      val hKey = scannedRows(hPath, keyPred)
      val hDay = scannedRows(hPath, dayPred)
      val zKey = scannedRows(zPath, keyPred)
      val zDay = scannedRows(zPath, dayPred)
      // both clustered dims must prune on the Hilbert layout
      require(hKey * 2 <= nRows,
        s"q178: hilbert must prune the key band: $hKey of $nRows")
      require(hDay * 2 <= nRows,
        s"q178: hilbert must prune the day band: $hDay of $nRows")
      // curve comparison: the locality-preserving curve must not LOSE to
      // Morton beyond interval-alignment straddle on either dimension
      require(hKey * 2 <= zKey * 3,
        s"q178: hilbert key-band scan within 1.5x of Z: h=$hKey z=$zKey")
      require(hDay * 2 <= zDay * 3,
        s"q178: hilbert day-band scan within 1.5x of Z: h=$hDay z=$zDay")
      val h = s.read.parquet(hPath)
      h.filter(keyPred)
        .agg(count(lit(1)).as("n_rows"), sum(col("l_orderkey")).cast("bigint").as("key_sum"))
        .select(lit("key_band").as("pred"), col("n_rows"), col("key_sum"))
        .unionByName(
          h.filter(dayPred)
            .agg(count(lit(1)).as("n_rows"), sum(col("l_orderkey")).cast("bigint").as("key_sum"))
            .select(lit("day_band").as("pred"), col("n_rows"), col("key_sum")))
    },

    // ---------------------------------------------------------------- q181
    // Parquet bloom-filter row-group skipping: min/max stats prune RANGES,
    // but a point lookup on a column the layout does NOT cluster gets no
    // help — every row group's [min, max] spans the key. Parquet's column
    // bloom filters (parquet-mr, public format) close exactly that gap:
    // the writer embeds a per-row-group bloom of o_custkey while the file
    // stays SORTED BY DATE (the layout the date-pruning workload wants),
    // and the reader's pushed equality predicate consults the bloom to
    // skip whole row groups that provably lack the key. Same data written
    // with and without blooms, same point lookup, scan rows measured: the
    // bloom read must scan at most half of what the bloom-less read scans.
    // At 100 TB this is the secondary-index story without a second copy of
    // the data. The oracle replays the lookup's aggregate.
    Q("q181_parquet_bloom",
      """WITH c AS (SELECT o_custkey, count(*) AS n FROM orders GROUP BY 1),
        |k AS (SELECT o_custkey AS ck FROM c ORDER BY n, o_custkey LIMIT 1)
        |SELECT CAST(count(*) AS BIGINT) AS n_orders,
        |  CAST(SUM(o_orderkey) AS BIGINT) AS key_sum
        |FROM orders, k WHERE o_custkey = k.ck""".stripMargin) { (s, dir) =>
      val orders = Tables.load(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"))
      // probe the fewest-orders customer (tie-break: smallest key): its few
      // rows land in few row groups, so the bloom's skip potential is real
      // at every SF — the min custkey's ~10 orders could touch most groups
      // of a small file
      val probeKey = orders.groupBy(col("o_custkey")).agg(count(lit(1)).as("n"))
        .orderBy(col("n").asc, col("o_custkey").asc).limit(1)
        .head().getLong(0)
      val nRows = orders.count()
      // date-sorted layout (custkey scattered); ~2 KiB groups give dozens
      // of pruning units even at sf0.001 — the q132 geometry rule
      val blockBytes = math.max(2L * 1024, nRows * 16 / 1000)
      val sorted = orders.repartitionByRange(2, col("o_orderdate"))
        .sortWithinPartitions(col("o_orderdate"))
      val bloomPath = scratch(s, dir, "q181_bloom")
      sorted.write.mode("overwrite")
        .option("parquet.block.size", blockBytes)
        .option("parquet.bloom.filter.enabled#o_custkey", "true")
        .option("parquet.bloom.filter.expected.ndv#o_custkey", nRows.toString)
        .parquet(bloomPath)
      // ONE file, read twice with read-side bloom filtering toggled: the
      // row groups (and their min/max stats) are IDENTICAL by construction,
      // so the bloom is the only variable. (Writing a second bloom-less
      // file instead makes the compare flaky — two writes flush row groups
      // at different boundaries, and on a ~12-group file the min/max luck
      // between layouts can exceed the bloom's effect.)
      def scannedRows(bloomRead: Boolean): Long = {
        // one-column probe: the scan metric is on the leaf, so counting
        // instead of collecting drives the identical row-group admission
        // while decoding (and shipping) only the filter column
        val df = s.read
          .option("parquet.filter.bloom.enabled", bloomRead.toString)
          .parquet(bloomPath).select(col("o_custkey"))
          .filter(col("o_custkey") === probeKey)
        df.collect() // few rows: one column, one rare key
        df.queryExecution.executedPlan.collectLeaves().head.metrics("numOutputRows").value
      }
      val bloomRows = scannedRows(bloomRead = true)
      val plainRows = scannedRows(bloomRead = false)
      // same groups, bloom only ever removes groups — universal contract
      require(bloomRows <= plainRows,
        s"q181: blooms must never scan more: $bloomRows vs $plainRows")
      // size-gated (q132 rule): with only ~12 groups over a ~150-key domain
      // (sf0.001) min/max can prune an edge key by luck, so the stats-blind
      // premise and the 2x skip contract are asserted where the layout has
      // enough rows to make them information-theoretically sound
      if (nRows >= 10000) {
        require(plainRows * 2 >= nRows,
          s"q181: min/max alone must not prune the scattered key: $plainRows of $nRows")
        require(bloomRows * 2 <= plainRows,
          s"q181: bloom filters must skip row groups: $bloomRows vs $plainRows")
      }
      s.read.parquet(bloomPath).filter(col("o_custkey") === probeKey)
        .agg(count(lit(1)).cast("bigint").as("n_orders"),
          sum(col("o_orderkey")).cast("bigint").as("key_sum"))
    },

    // ---------------------------------------------------------------- q182
    // Surgical range delete (the compliance-delete shape): remove one
    // orderkey band from a range-clustered versioned lineitem snapshot by
    // re-encoding ONLY the files whose stats admit the band — every other
    // file rides into the new immutable version as a raw byte copy (in
    // Delta/Iceberg, a metadata-only add). At 100 TB this is the difference
    // between rewriting terabytes for a one-key GDPR request and rewriting
    // the handful of files the stats index names. Contracts required
    // in-query: at most half the files are rewritten; untouched files are
    // carried byte-identically (same name AND size); the band actually
    // held rows; the delete is exact (survivors ≡ the batch filter, both
    // exceptAll directions); the prior version still serves the pre-delete
    // rows (time travel unbroken). The oracle recomputes the survivors.
    Q("q182_surgical_delete",
      """WITH mm AS (SELECT min(l_orderkey) AS lo, max(l_orderkey) AS hi FROM lineitem),
        |b AS (SELECT lo + (hi - lo)//8 * 3 AS dlo, lo + (hi - lo)//8 * 4 AS dhi FROM mm)
        |SELECT l_returnflag, count(*) AS n_rows,
        |  CAST(SUM(l_orderkey) AS BIGINT) AS key_sum
        |FROM lineitem, b WHERE l_orderkey < dlo OR l_orderkey > dhi
        |GROUP BY 1""".stripMargin) { (s, dir) =>
      import graft.ops.VersionedTable
      val path = scratch(s, dir, "q182")
      val li = Tables.load(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_returnflag"))
      val mm = li.agg(min(col("l_orderkey")).cast("long"),
        max(col("l_orderkey")).cast("long")).head()
      val (loK, hiK) = (mm.getLong(0), mm.getLong(1))
      val span = hiK - loK
      val (dLo, dHi) = (loK + span / 8 * 3, loK + span / 8 * 4)
      // range-clustered layout + stats on the delete key: the pairing that
      // localizes a band delete to few files (same rule as q138)
      VersionedTable.write(li.repartitionByRange(8, col("l_orderkey")), path,
        statsCols = Seq("l_orderkey"))
      val v1 = VersionedTable.currentVersion(s, path).get
      def files(p: String) = {
        val fs = new org.apache.hadoop.fs.Path(p)
          .getFileSystem(s.sparkContext.hadoopConfiguration)
        GraftMeta.dataFiles(fs, new org.apache.hadoop.fs.Path(p))
          .map(st => st.getPath.getName -> st.getLen).toMap
      }
      val v1Files = files(VersionedTable.liveDir(s, path))
      val nBand = li.filter(col("l_orderkey") >= dLo && col("l_orderkey") <= dHi).count()
      require(nBand > 0, "q182: the delete band must hold rows")
      val (v2, rewritten, totalFiles) = VersionedTable.deleteRange(
        s, path, "l_orderkey", lit(dLo), lit(dHi), statsCols = Seq("l_orderkey"))
      require(v2 == v1 + 1, s"q182: delete must stage exactly one version: $v1 -> $v2")
      require(rewritten * 2 <= totalFiles,
        s"q182: delete must be surgical: rewrote $rewritten of $totalFiles files")
      val v2Files = files(VersionedTable.liveDir(s, path))
      val carried = v1Files.keySet.intersect(v2Files.keySet)
      require(carried.nonEmpty && carried.forall(n => v1Files(n) == v2Files(n)),
        "q182: untouched files must carry byte-identically (name + size)")
      require(carried.size == totalFiles - rewritten,
        s"q182: every untouched file must be carried: ${carried.size} of " +
          s"${totalFiles - rewritten}")
      // exactness: survivors ≡ the batch filter; time travel still serves v1
      val survivors = VersionedTable.read(s, path).localCheckpoint()
      val want = li.filter(col("l_orderkey") < dLo || col("l_orderkey") > dHi)
        .localCheckpoint()
      require(Q.sameMultiset(survivors, want),
        "q182: the surgical delete must equal the full filter exactly")
      require(VersionedTable.readVersion(s, path, v1).count() == li.count(),
        "q182: the prior version must still serve the pre-delete table")
      survivors.groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n_rows"),
          sum(col("l_orderkey")).cast("bigint").as("key_sum"))
    },

    // ---------------------------------------------------------------- q183
    // Write-audit-publish (Iceberg's WAP pattern on the VersionedTable
    // pointer protocol): a refresh is STAGED as the next immutable version,
    // audited in place, and only a passing audit flips the pointer — a
    // failing one aborts with no cleanup transaction, because an
    // unpublished stage is indistinguishable from a crashed write and the
    // existing sweep covers it. The entry stages a CORRUPTED refresh
    // (nulled balances), proves the audit catches it while readers still
    // serve the old version byte-for-byte, aborts, then stages the correct
    // refresh and publishes. At 100 TB this is how a daily snapshot ships
    // without a bad load ever being readable. The oracle recomputes the
    // published state from the base table.
    Q("q183_write_audit_publish",
      """SELECT c_nationkey, CAST(count(*) AS BIGINT) AS n_cust,
        |  round(CAST(SUM(CAST(c_acctbal AS DECIMAL(18,6)) +
        |    CASE WHEN c_nationkey = 3 THEN 100 ELSE 0 END) AS DOUBLE), 6) AS total_bal
        |FROM customer GROUP BY 1""".stripMargin) { (s, dir) =>
      import graft.ops.VersionedTable
      val path = scratch(s, dir, "q183")
      val cust = Tables.load(s, dir, "customer")
        .select(col("c_custkey"), col("c_nationkey"),
          col("c_acctbal").cast("decimal(18,6)").as("c_acctbal"))
      VersionedTable.write(cust, path)
      val v1 = VersionedTable.currentVersion(s, path).get
      // the refresh: +100 on nation 3 (the day's credit run)
      val refresh = cust.withColumn("c_acctbal",
        when(col("c_nationkey") === 3, col("c_acctbal") + 100)
          .otherwise(col("c_acctbal")))
      // 1) a CORRUPTED load is staged: every 10th balance nulled
      val bad = refresh.withColumn("c_acctbal",
        when(col("c_custkey") % 10 === 0, lit(null).cast("decimal(18,6)"))
          .otherwise(col("c_acctbal")))
      val sBad = VersionedTable.stage(bad, path)
      // the audit runs against the STAGED dir; the gate is the V-family
      // quality contract (no null balances, no lost rows)
      val staged = s.read.parquet(VersionedTable.stagedDir(path, sBad))
      val auditOk = staged.filter(col("c_acctbal").isNull).isEmpty &&
        staged.count() == cust.count()
      require(!auditOk, "q183: the audit must catch the corrupted load")
      // readers are untouched while the bad stage exists
      require(VersionedTable.currentVersion(s, path).contains(v1),
        "q183: a staged-but-unpublished version must not move the pointer")
      require(VersionedTable.read(s, path).exceptAll(cust).isEmpty,
        "q183: readers must still serve the pre-refresh snapshot")
      VersionedTable.abortStaged(s, path, sBad)
      // 2) the corrected load stages, audits green, publishes
      val sGood = VersionedTable.stage(refresh, path)
      val staged2 = s.read.parquet(VersionedTable.stagedDir(path, sGood))
      require(staged2.filter(col("c_acctbal").isNull).isEmpty &&
        staged2.count() == cust.count(),
        "q183: the corrected load must pass the audit")
      VersionedTable.publish(s, path, sGood)
      require(VersionedTable.currentVersion(s, path).contains(v1 + 1),
        "q183: publish must flip to the staged version")
      VersionedTable.read(s, path)
        .groupBy(col("c_nationkey"))
        .agg(count(lit(1)).cast("bigint").as("n_cust"),
          round(sum(col("c_acctbal")).cast("double"), 6).as("total_bal"))
    },

    // ---------------------------------------------------------------- q184
    // Cross-table atomic snapshot (the multi-table commit per-table
    // pointers cannot give): a fact and the dim its keys reference are
    // renumbered TOGETHER, and the migration's torn instant — dim flipped,
    // fact not yet — is made real on disk. A reader following each table's
    // OWN pointer joins the new dim against the old fact and loses every
    // row; a reader resolving both tables through the SnapshotCatalog
    // manifest (one pointer, flipped once per commit) sees the old
    // consistent pair during the tear and the new consistent pair after —
    // never the mix. In-query requires measure all three states by join
    // cardinality. The oracle recomputes the published join (the renumber
    // cancels out). This is the Nessie/lakeFS catalog-commit shape on the
    // same pointer-flip protocol the table layer uses.
    Q("q184_catalog_snapshot",
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_orders,
        |  CAST(count(DISTINCT c_nationkey) AS BIGINT) AS n_nations
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY 1""".stripMargin) { (s, dir) =>
      import graft.ops.{SnapshotCatalog, VersionedTable}
      val root = scratch(s, dir, "q184")
      val (dimP, factP, catP) = (s"$root/dim", s"$root/fact", s"$root/cat")
      val dim = Tables.load(s, dir, "customer")
        .select(col("c_custkey").cast("long").as("c_custkey"), col("c_nationkey"))
      val fact = Tables.load(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderpriority"),
          col("o_custkey").cast("long").as("o_custkey"))
      // The torn-read require depends on shifted dim keys clearing the fact's
      // key domain entirely; a constant shift breaks once SF pushes c_custkey
      // past it (150k x SF crosses 1M at SF>=7). Derive it from the data.
      val shift = fact.agg(max(col("o_custkey"))).head.getLong(0)
        .max(dim.agg(max(col("c_custkey"))).head.getLong(0)) + 1L
      val nFact = fact.count()
      VersionedTable.write(dim, dimP)
      VersionedTable.write(fact, factP)
      SnapshotCatalog.commit(s, catP, Map("dim" -> 1L, "fact" -> 1L))
      def joinCount(d: org.apache.spark.sql.DataFrame,
          f: org.apache.spark.sql.DataFrame): Long =
        f.join(d, f("o_custkey") === d("c_custkey")).count()
      // the migration: dim renumbers FIRST — its own pointer moves; the
      // fact has not. This is the torn instant a two-table flip always has.
      VersionedTable.write(
        dim.withColumn("c_custkey", col("c_custkey") + shift), dimP)
      val torn = joinCount(VersionedTable.read(s, dimP), VersionedTable.read(s, factP))
      require(torn == 0L,
        s"q184: the torn pointer read must lose every join row, matched $torn")
      // the catalog still pins the CONSISTENT old pair
      def pinned(t: String, p: String) = SnapshotCatalog.readPinned(s, catP, t, p)
      require(joinCount(pinned("dim", dimP), pinned("fact", factP)) == nFact,
        "q184: the catalog-pinned read must survive the tear intact")
      // fact catches up; ONE catalog commit moves readers to the new pair
      VersionedTable.write(
        fact.withColumn("o_custkey", col("o_custkey") + shift), factP)
      SnapshotCatalog.commit(s, catP, Map("dim" -> 2L, "fact" -> 2L))
      val d2 = pinned("dim", dimP)
      val f2 = pinned("fact", factP)
      require(joinCount(d2, f2) == nFact,
        "q184: the published pair must join fully")
      f2.join(d2, f2("o_custkey") === d2("c_custkey"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).cast("bigint").as("n_orders"),
          countDistinct(col("c_nationkey")).cast("bigint").as("n_nations"))
    },

    // ---------------------------------------------------------------- q194
    // Optimistic concurrency on the versioned table (the Delta/Iceberg
    // multi-writer commit protocol the single-writer pointer flip lacks):
    // two writers race — the loser of the atomic marker claim REBASES
    // (write sets disjoint: recompute on the winner's snapshot and commit
    // after it), so BOTH changes land with no lock; then a third writer
    // races an overlapping write set and must LOSE CLEANLY (conflict
    // exception, zero torn state, no orphan stage). In-query requires pin
    // the rebase count, the final version arithmetic, and the clean loss;
    // the oracle recomputes the surviving state — both disjoint updates
    // applied, the conflicted update absent — straight from the base table.
    Q("q194_optimistic_commit",
      """SELECT c_nationkey, CAST(count(*) AS BIGINT) AS n_cust,
        |  round(CAST(sum(CASE WHEN c_nationkey <= 11 THEN c_acctbal + 10
        |                      ELSE c_acctbal - 5 END) AS DOUBLE), 2) AS total_bal
        |FROM customer GROUP BY 1""".stripMargin) { (s, dir) =>
      import graft.ops.{Occ, VersionedTable}
      val root = scratch(s, dir, "q194")
      val base = Tables.load(s, dir, "customer")
        .select(col("c_custkey"), col("c_nationkey"), col("c_acctbal"))
      Occ.commit(s, root, Set("*"))(_ => base) // v1: seed
      // writer A (low nations) stages, then B (high nations) commits first;
      // disjoint sets -> A rebases once and lands on top of B
      var fired = false
      val a = Occ.commit(s, root, Set("nation:lo"))(
        snap => snap.get.withColumn("c_acctbal",
          when(col("c_nationkey") <= 11, col("c_acctbal") + 10)
            .otherwise(col("c_acctbal"))),
        hook = () => if (!fired) {
          fired = true
          Occ.commit(s, root, Set("nation:hi"))(snap =>
            snap.get.withColumn("c_acctbal",
              when(col("c_nationkey") >= 12, col("c_acctbal") - 5)
                .otherwise(col("c_acctbal"))))
          ()
        })
      require(a.rebased == 1,
        s"q194: the disjoint loser must land via exactly one rebase, got ${a.rebased}")
      require(VersionedTable.currentVersion(s, root).contains(3L),
        "q194: seed + winner + rebased loser = 3 versions")
      // writer C declares an overlapping set and races writer D (identity
      // change, same set): C must lose cleanly — exception, no stray stage
      var fired2 = false
      val cLost = try {
        Occ.commit(s, root, Set("nation:hi"))(
          snap => snap.get.withColumn("c_acctbal", lit(0.0)), // must NEVER land
          hook = () => if (!fired2) {
            fired2 = true
            Occ.commit(s, root, Set("nation:hi"))(snap => snap.get)
            ()
          })
        false
      } catch { case _: Occ.CommitConflictException => true }
      require(cLost, "q194: the overlapping writer must lose")
      require(VersionedTable.currentVersion(s, root).contains(4L),
        "q194: only D's identity commit may follow")
      require(Occ.sweepStages(s, root) == 0,
        "q194: a clean loser leaves no orphan stage")
      VersionedTable.read(s, root)
        .groupBy(col("c_nationkey"))
        .agg(count(lit(1)).cast("bigint").as("n_cust"),
          round(sum(col("c_acctbal")).cast("double"), 2).as("total_bal"))
    },

    // ---------------------------------------------------------------- q185
    // Dynamic partition pruning ON the scoreboard (it was only plan-audited
    // in spec until now): a day-partitioned fact joined to a dim whose
    // filter — not the fact's — decides which days matter. Static pruning
    // can do nothing (the fact has no literal predicate); at runtime Spark
    // evaluates the broadcast dim first and injects its day set into the
    // fact scan's partition filters, so whole directories are never listed.
    // Both states are MEASURED via the fact scan's numFiles metric: with
    // DPP disabled the join lists every partition; enabled, at most the
    // dim's two days. At 100 TB a date-bounded dim routinely turns a
    // full-history fact scan into a two-partition read — this is the
    // mechanism. The oracle replays the two-day join.
    Q("q185_dynamic_partition_pruning",
      """WITH days AS (SELECT DISTINCT CAST(ts AS DATE) AS day FROM events
        |              ORDER BY day LIMIT 2)
        |SELECT CAST(e.ts AS DATE) AS day, event_type,
        |  CAST(count(*) AS BIGINT) AS n_events
        |FROM events e JOIN days d ON CAST(e.ts AS DATE) = d.day
        |GROUP BY 1, 2""".stripMargin) { (s, dir) =>
      val root = scratch(s, dir, "q185")
      val ev = Tables.load(s, dir, "events")
        .select(col("ts"), col("event_type"), col("ts").cast("date").as("day"))
      ev.write.partitionBy("day").mode("overwrite").parquet(root)
      // the dim: all days plus a rank attribute, filtered to the first two
      // BY RANK. The filter must live on a NON-key dim column: a literal
      // bound on `day` itself would be inferred onto the fact by constraint
      // propagation and statically pruned — the checkpoint makes the rank
      // opaque data, so only runtime evaluation of the dim can name the
      // surviving days (the true DPP shape: "dim attributes decide").
      val allDays = ev.select(col("day")).distinct()
        .withColumn("rn", row_number().over(
          org.apache.spark.sql.expressions.Window.orderBy(col("day"))))
        .localCheckpoint() // ≤ a few hundred rows; cuts the rn lineage
      val dim = allDays.filter(col("rn") <= 2).select(col("day"))
      val saved = Seq("spark.sql.adaptive.enabled",
        "spark.sql.optimizer.dynamicPartitionPruning.enabled")
        .map(k => k -> s.conf.get(k))
      def factFiles(dpp: Boolean): (org.apache.spark.sql.DataFrame, Long) = {
        s.conf.set("spark.sql.optimizer.dynamicPartitionPruning.enabled", dpp.toString)
        val j = s.read.parquet(root).join(broadcast(dim), Seq("day"))
          .groupBy(col("day"), col("event_type"))
          .agg(count(lit(1)).cast("bigint").as("n_events"))
        j.collect()
        val scan = j.queryExecution.executedPlan.collect {
          case f: org.apache.spark.sql.execution.FileSourceScanExec => f
        }.head
        (j, scan.metrics("numFiles").value)
      }
      try {
        // AQE off for the measurement: the metric read needs the plain plan
        // tree, and DPP is a planning-time rule that works either way
        s.conf.set("spark.sql.adaptive.enabled", "false")
        val (_, filesOff) = factFiles(dpp = false)
        val (withDpp, filesOn) = factFiles(dpp = true)
        val plan = withDpp.queryExecution.executedPlan.toString
        require(plan.contains("dynamicpruning"),
          "q185: the fact scan must carry a dynamic pruning filter")
        val nDays = allDays.count()
        require(nDays >= 4, s"q185: need a multi-day layout, got $nDays days")
        require(filesOn * 2 <= filesOff,
          s"q185: runtime pruning must skip at least half the files " +
            s"(2 of $nDays days): $filesOn vs $filesOff")
        withDpp.localCheckpoint()
      } finally saved.foreach { case (k, v) => s.conf.set(k, v) }
    },

    // ---------------------------------------------------------------- q189
    // Merge-on-read deletes — the OTHER delete strategy, next to q182's
    // copy-on-write. Two GDPR-style key-set deletes land as small tombstone
    // files; the in-query inventory proves NO data file changed (name,
    // length, mtime all identical — the delete wrote kilobytes against a
    // table it never opened). Readers anti-join the tombstones (the MoR
    // read tax) and must match the batch filter exactly; compaction then
    // folds the tombstones in, clears them, and the post-compaction read —
    // now tax-free — must still match. The oracle recomputes the survivors.
    // This is the Iceberg equality-delete / Delta deletion-vector trade
    // measured: CoW pays the write once (q182), MoR defers it to
    // maintenance and wins when deletes are frequent and small.
    Q("q189_merge_on_read_delete",
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_orders,
        |  CAST(SUM(o_orderkey) AS BIGINT) AS key_sum
        |FROM orders WHERE o_custkey % 97 <> 0 AND o_custkey % 89 <> 0
        |GROUP BY 1""".stripMargin) { (s, dir) =>
      import graft.ops.MergeOnRead
      val root = scratch(s, dir, "q189")
      val orders = Tables.load(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderpriority"),
          col("o_custkey").cast("long").as("o_custkey"))
      MergeOnRead.init(orders.repartition(4), root)
      val before = MergeOnRead.dataFiles(s, root)
      // two delete requests: every customer hashing to the 97- and 89-
      // residue classes (the drip-feed shape — small sets, different days)
      def keysOf(m: Int) = orders.filter(col("o_custkey") % m === 0)
        .select(col("o_custkey").as("key")).distinct()
      MergeOnRead.delete(keysOf(97), root)
      MergeOnRead.delete(keysOf(89), root)
      require(MergeOnRead.dataFiles(s, root) == before,
        "q189: a merge-on-read delete must not touch any data file")
      val want = orders.filter(col("o_custkey") % 97 =!= 0 && col("o_custkey") % 89 =!= 0)
        .localCheckpoint() // read tax check AND post-compaction check read it
      val mor = MergeOnRead.read(s, root, "o_custkey").localCheckpoint()
      require(Q.sameMultiset(mor, want),
        "q189: the tombstone-merged read must equal the batch filter")
      // maintenance: fold tombstones in; the read tax ends
      require(MergeOnRead.compact(s, root, "o_custkey") == 2,
        "q189: compaction must fold exactly the two tombstone files")
      val after = MergeOnRead.read(s, root, "o_custkey").localCheckpoint()
      require(Q.sameMultiset(after, want),
        "q189: the compacted table must still equal the batch filter")
      require(MergeOnRead.compact(s, root, "o_custkey") == 0,
        "q189: a second compaction must be a no-op")
      after.groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).cast("bigint").as("n_orders"),
          sum(col("o_orderkey")).cast("bigint").as("key_sum"))
    },

    // ---------------------------------------------------------------- q197
    // POSITION deletes (Iceberg's second delete form) — tombstones address
    // rows as (data file, row offset) via the file source's `_metadata`
    // hidden columns, the form equality deletes cannot replace: the
    // dataset plants bit-identical duplicate rows, and the first delete
    // removes exactly ONE physical copy of each (a key tombstone would
    // kill both). Second delete is a predicate drip against the LIVE view.
    // In-query proofs: no data file changed (name/length/mtime inventory),
    // the anti-join read equals the batch expectation, compaction folds
    // exactly two tombstone files into the data table's next version and
    // the re-addressed table still matches, a second compaction is a no-op.
    // The oracle recomputes survivors straight from the base table — the
    // duplicate collapse means survivors ARE the base rows minus the
    // predicate, which is what makes one-copy semantics SQL-checkable.
    Q("q197_position_delete",
      """SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n_cust,
        |  round(CAST(sum(c_acctbal) AS DOUBLE), 2) AS total_bal
        |FROM customer WHERE c_acctbal >= -900 GROUP BY 1""".stripMargin) { (s, dir) =>
      import graft.ops.MergeOnRead
      val root = scratch(s, dir, "q197")
      val cust = Tables.load(s, dir, "customer")
        .select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal"))
      val nCust = cust.count()
      // plant duplicates: every 10th customer's row appears TWICE, bit-identical
      val dupKeys = cust.filter(col("c_custkey") % 10 === 0)
      MergeOnRead.init(cust.unionAll(dupKeys).repartition(4), root)
      val before = MergeOnRead.dataFiles(s, root)
      // delete #1: collapse each duplicate to one copy — addressed by the
      // SMALLEST (file, pos) among its physical copies; only positional
      // addressing can separate two identical rows
      val firstCopies = MergeOnRead.readWithPos(s, root)
        .filter(col("c_custkey") % 10 === 0)
        .groupBy(col("c_custkey"))
        .agg(min(struct(col("__file"), col("__pos"))).as("a"))
        .select(col("a.__file").as("file"), col("a.__pos").as("pos"))
      MergeOnRead.posDeleteAddresses(firstCopies, root)
      require(MergeOnRead.readPos(s, root).count() == nCust,
        "q197: the duplicate collapse must leave exactly one copy per row")
      // delete #2: predicate drip against the live view
      MergeOnRead.posDelete(s, root, col("c_acctbal") < -900)
      require(MergeOnRead.dataFiles(s, root) == before,
        "q197: a position delete must not touch any data file")
      val want = cust.filter(col("c_acctbal") >= -900).localCheckpoint()
      val live = MergeOnRead.readPos(s, root).localCheckpoint()
      require(Q.sameMultiset(live, want),
        "q197: the position-tombstoned read must equal the batch filter")
      require(MergeOnRead.compactPos(s, root) == 2,
        "q197: compaction must fold exactly the two position-delete files")
      val after = MergeOnRead.readPos(s, root).localCheckpoint()
      require(Q.sameMultiset(after, want),
        "q197: the compacted (re-addressed) table must still match")
      require(MergeOnRead.compactPos(s, root) == 0,
        "q197: a second compaction must be a no-op")
      after.groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).cast("bigint").as("n_cust"),
          round(sum(col("c_acctbal")).cast("double"), 2).as("total_bal"))
    },

    // ---------------------------------------------------------------- q199
    // Storage-partitioned join THROUGH DSv2 (SPARK-37375) — q59 proves
    // exchange-free joins on catalog buckets; this is the modern connector
    // path Iceberg uses: two sources lay their data out as key directories
    // and REPORT it (`SupportsReportPartitioning` returning
    // KeyGroupedPartitioning, each InputPartition carrying its key via
    // HasPartitionKey), so the planner sees both sides of the join already
    // distributed by `k` and plans a SortMergeJoin with ZERO Exchange on
    // either side — asserted on the executed plan, with the negative
    // control measured too (partitioning hidden -> the same join shuffles
    // both sides). At 100 TB this is a co-located merge of two bucketed
    // layouts vs shuffling both tables across the cluster. Join keys are
    // (k, custkey) ⊇ partition keys (k) under
    // requireAllClusterKeysForCoPartition=false — the subset rule SPJ
    // defines. The oracle replays the join from the base tables (the
    // bucket key cancels: k = custkey % 16 on both sides).
    Q("q199_storage_partitioned_join",
      """SELECT c_nationkey, CAST(count(*) AS BIGINT) AS n_orders,
        |  CAST(sum(o_orderkey) AS BIGINT) AS key_sum
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY 1""".stripMargin) { (s, dir) =>
      import graft.source.KeyedDsv2
      import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
      import org.apache.spark.sql.execution.joins.SortMergeJoinExec
      val root = scratch(s, dir, "q199")
      val o = Tables.load(s, dir, "orders")
        .select((col("o_custkey") % 16).cast("int").as("k"),
          col("o_custkey").cast("long").as("custkey"),
          col("o_orderkey").cast("long").as("orderkey"))
      val c = Tables.load(s, dir, "customer")
        .select((col("c_custkey") % 16).cast("int").as("k"),
          col("c_custkey").cast("long").as("custkey"),
          col("c_nationkey").cast("long").as("nationkey"))
      KeyedDsv2.writeBucketed(o, s"$root/o")
      KeyedDsv2.writeBucketed(c, s"$root/c")
      val saved = Seq("spark.sql.sources.v2.bucketing.enabled",
        "spark.sql.requireAllClusterKeysForCoPartition",
        "spark.sql.adaptive.enabled",
        "spark.sql.autoBroadcastJoinThreshold").map(k => k -> s.conf.get(k))
      try {
        s.conf.set("spark.sql.requireAllClusterKeysForCoPartition", "false")
        s.conf.set("spark.sql.adaptive.enabled", "false") // q185 rule: clean plan read
        s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force the merge path
        def joined = {
          val ob = KeyedDsv2.read(s, s"$root/o", "custkey", "orderkey")
          val cb = KeyedDsv2.read(s, s"$root/c", "custkey", "nationkey")
          ob.as("o").join(cb.as("c"),
            col("o.k") === col("c.k") && col("o.custkey") === col("c.custkey"))
        }
        def shufflesUnderJoin(on: Boolean): Int = {
          s.conf.set("spark.sql.sources.v2.bucketing.enabled", on.toString)
          val plan = joined.queryExecution.executedPlan
          val smj = plan.collect { case j: SortMergeJoinExec => j }
          require(smj.nonEmpty, "q199: the join must plan as a sort-merge join")
          smj.head.collect { case e: ShuffleExchangeLike => e }.length
        }
        require(shufflesUnderJoin(on = false) == 2,
          "q199: with reported partitioning hidden the join must shuffle both sides")
        require(shufflesUnderJoin(on = true) == 0,
          "q199: the storage-partitioned join must plan with zero exchanges")
        // values: run the exchange-free plan (bucketing stays enabled)
        joined
          .groupBy(col("c.nationkey").as("c_nationkey"))
          .agg(count(lit(1)).cast("bigint").as("n_orders"),
            sum(col("o.orderkey")).cast("bigint").as("key_sum"))
          .localCheckpoint()
      } finally saved.foreach { case (k, v) => s.conf.set(k, v) }
    },

    // ---------------------------------------------------------------- q190
    // Nested schema pruning: documents are re-shaped into a struct-heavy
    // layout (meta.lang, meta.quality.stars, body) — the nested form real
    // curation parquet takes — and a query touching ONE leaf must push a
    // pruned ReadSchema to the scan: `struct<meta:struct<lang>>`, not the
    // whole struct and above all not `body`. At 100 TB the difference is
    // reading kilobytes of dictionary-encoded lang codes vs decoding every
    // document body on disk. Asserted on the executed plan's ReadSchema
    // (the same evidence `.explain` gives); the oracle replays the
    // aggregate from the flat source.
    Q("q190_nested_schema_pruning",
      """SELECT lang, CAST(count(*) AS BIGINT) AS n_docs
        |FROM documents GROUP BY 1""".stripMargin) { (s, dir) =>
      val root = scratch(s, dir, "q190")
      val docs = Tables.load(s, dir, "documents")
      docs.select(col("doc_id"),
        struct(col("lang"),
          struct((col("doc_id") % 5).as("stars")).as("quality")).as("meta"),
        col("text").as("body"))
        .write.mode("overwrite").parquet(root)
      def agg = s.read.parquet(root)
        .groupBy(col("meta.lang").as("lang"))
        .agg(count(lit(1)).cast("bigint").as("n_docs"))
      // AQE off for the plan read only (q185 rule): the adaptive wrapper
      // hides the scan node from a pre-execution traversal
      val aqeKey = "spark.sql.adaptive.enabled"
      val prevAqe = s.conf.get(aqeKey)
      try {
        s.conf.set(aqeKey, "false")
        val scan = agg.queryExecution.executedPlan.collect {
          case f: org.apache.spark.sql.execution.FileSourceScanExec => f
        }.head
        val readSchema = scan.requiredSchema.catalogString
        require(readSchema.contains("lang"),
          s"q190: the scan must read the touched leaf: $readSchema")
        require(!readSchema.contains("body") && !readSchema.contains("stars"),
          s"q190: untouched leaves must be pruned from the scan: $readSchema")
      } finally s.conf.set(aqeKey, prevAqe)
      agg
    },

    // ---------------------------------------------------------------- q200
    // Change Data Feed on the versioned table (public Delta CDF contract:
    // _change_data files + table_changes(from, to) + _change_type /
    // _commit_version columns). The reference ships full daily snapshots
    // (dags/sql/merge_core.sql rewrites CORE wholesale); at 100 TB every
    // downstream wants the per-commit DELTA instead. Capture is write-side
    // and atomic-with-the-version: the keyed diff lands under _v-N/_cdf
    // BEFORE the pointer flip, so readers pay O(changes), never a snapshot
    // diff. The query drives three versions (v1 pre-CDF to exercise the
    // reconstruction fallback; v2 mixed insert/update/delete; v3 on top),
    // then requires: persisted capture == logical snapshot diff (audit
    // twin), base + feed replay == final snapshot (completeness), and the
    // _cdf files physically present inside v2/v3. The oracle rebuilds every
    // change row of all three commits straight from the base table.
    Q("q200_change_feed",
      """WITH base AS (SELECT CAST(c_custkey AS BIGINT) AS k,
        |    CAST(c_nationkey AS INT) AS n, CAST(c_acctbal AS DECIMAL(12,2)) AS b
        |  FROM customer),
        |sh AS (SELECT max(k) + 1 AS s FROM base),
        |v2 AS (
        |  SELECT k, n, CASE WHEN n <= 5 THEN CAST(b + 100 AS DECIMAL(12,2))
        |    ELSE b END AS b
        |  FROM base WHERE k % 10 <> 0
        |  UNION ALL
        |  SELECT k + (SELECT s FROM sh) AS k, n, b FROM base WHERE n >= 20),
        |changes AS (
        |  SELECT 1 AS v, 'insert' AS t, b FROM base
        |  UNION ALL SELECT 2, 'delete', b FROM base WHERE k % 10 = 0
        |  UNION ALL SELECT 2, 'update_preimage', b
        |    FROM base WHERE k % 10 <> 0 AND n <= 5
        |  UNION ALL SELECT 2, 'update_postimage', CAST(b + 100 AS DECIMAL(12,2))
        |    FROM base WHERE k % 10 <> 0 AND n <= 5
        |  UNION ALL SELECT 2, 'insert', b FROM base WHERE n >= 20
        |  UNION ALL SELECT 3, 'delete', b FROM v2 WHERE k % 7 = 0
        |  UNION ALL SELECT 3, 'update_preimage', b
        |    FROM v2 WHERE k % 7 <> 0 AND n BETWEEN 10 AND 12
        |  UNION ALL SELECT 3, 'update_postimage', CAST(b + 7.5 AS DECIMAL(12,2))
        |    FROM v2 WHERE k % 7 <> 0 AND n BETWEEN 10 AND 12)
        |SELECT CAST(v AS BIGINT) AS commit_version, t AS change_type,
        |  CAST(count(*) AS BIGINT) AS n_rows,
        |  round(CAST(sum(b) AS DOUBLE), 2) AS bal_sum
        |FROM changes GROUP BY 1, 2""".stripMargin) { (s, dir) =>
      import graft.ops.{ChangeFeed, VersionedTable}
      val root = scratch(s, dir, "q200")
      cdfVersions(s, dir, root)
      // audit twin: persisted capture equals the logical snapshot diff
      for (v <- Seq(2L, 3L)) {
        val cap = ChangeFeed.tableChanges(s, root, v - 1, v, Seq("k"))
          .drop(ChangeFeed.CommitVersion)
        val dif = ChangeFeed.snapshotDiff(s, root, v, Seq("k"))
        require(Q.sameMultiset(cap, dif),
          s"q200: persisted capture of v$v must equal the snapshot diff")
      }
      // completeness: base snapshot + feed replay reproduces the live table
      val replayed = ChangeFeed.apply(
        Some(VersionedTable.readVersion(s, root, 1L)),
        ChangeFeed.tableChanges(s, root, 1L, 3L, Seq("k")), Seq("k"))
      val live = VersionedTable.readVersion(s, root, 3L)
      require(Q.sameMultiset(replayed, live),
        "q200: base + feed must reproduce the final snapshot")
      // the capture is physical: v2 and v3 carry _cdf files inside the
      // version dir (written before the flip, invisible to snapshot readers)
      val fsys = new org.apache.hadoop.fs.Path(root)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      require(fsys.globStatus(
        new org.apache.hadoop.fs.Path(root, "_v-*/_cdf/_SUCCESS")).length == 2,
        "q200: exactly v2 and v3 must carry persisted change files")
      ChangeFeed.tableChanges(s, root, 0L, 3L, Seq("k"))
        .groupBy(col(ChangeFeed.CommitVersion).as("commit_version"),
          col(ChangeFeed.ChangeType).as("change_type"))
        .agg(count(lit(1)).cast("bigint").as("n_rows"),
          round(sum(col("b")).cast("double"), 2).as("bal_sum"))
    },

    // ---------------------------------------------------------------- q201
    // Incremental view maintenance FROM the change feed (classic delta-rule
    // IVM — Delta/Flink's "materialized view over CDF", SQL:2016 IVM
    // literature): a per-nation count+sum view is materialized ONCE at v1,
    // then maintained purely from tableChanges slices — insert/postimage
    // rows add, delete/preimage rows subtract, one keyed shuffle per slice
    // over O(changes) rows. At 100 TB this is the difference between a
    // nightly full rescan and a seconds-long delta fold. DECIMAL measures
    // make the fold associative, so the in-query require is EXACT equality
    // with a full recompute of v3 (not tolerance-based); a second require
    // pins the O(changes) contract (feed rows < snapshot rows). The oracle
    // rebuilds v3 from the base table and aggregates it directly.
    Q("q201_incremental_view",
      """WITH base AS (SELECT CAST(c_custkey AS BIGINT) AS k,
        |    CAST(c_nationkey AS INT) AS n, CAST(c_acctbal AS DECIMAL(12,2)) AS b
        |  FROM customer),
        |sh AS (SELECT max(k) + 1 AS s FROM base),
        |v2 AS (
        |  SELECT k, n, CASE WHEN n <= 5 THEN CAST(b + 100 AS DECIMAL(12,2))
        |    ELSE b END AS b
        |  FROM base WHERE k % 10 <> 0
        |  UNION ALL
        |  SELECT k + (SELECT s FROM sh) AS k, n, b FROM base WHERE n >= 20),
        |v3 AS (
        |  SELECT k, n, CASE WHEN n BETWEEN 10 AND 12
        |    THEN CAST(b + 7.5 AS DECIMAL(12,2)) ELSE b END AS b
        |  FROM v2 WHERE k % 7 <> 0)
        |SELECT n, CAST(count(*) AS BIGINT) AS n_rows,
        |  round(CAST(sum(b) AS DOUBLE), 2) AS bal_sum
        |FROM v3 GROUP BY 1""".stripMargin) { (s, dir) =>
      import graft.ops.{ChangeFeed, IncrementalView, VersionedTable}
      val root = scratch(s, dir, "q201")
      cdfVersions(s, dir, root)
      val spec = IncrementalView.Spec(Seq("n"), Seq("bal" -> col("b")))
      var view = IncrementalView.full(
        VersionedTable.readVersion(s, root, 1L), spec)
      var feedRows = 0L
      for (v <- Seq(2L, 3L)) {
        val slice = ChangeFeed.tableChanges(s, root, v - 1, v, Seq("k"))
        feedRows += slice.count()
        view = IncrementalView.merge(view, IncrementalView.delta(slice, spec), spec)
      }
      val direct = IncrementalView.full(
        VersionedTable.readVersion(s, root, 3L), spec)
      require(Q.sameMultiset(view, direct),
        "q201: the maintained view must equal the full recompute exactly")
      val snapRows = VersionedTable.readVersion(s, root, 2L).count() +
        VersionedTable.readVersion(s, root, 3L).count()
      require(feedRows < snapRows,
        s"q201: maintenance must be O(changes): feed=$feedRows vs snapshots=$snapRows")
      view.select(col("n"), col(IncrementalView.NCol).as("n_rows"),
        round(col("bal").cast("double"), 2).as("bal_sum"))
    },

    // ---------------------------------------------------------------- q206
    // Change feed ACROSS schema evolution (the public Delta CDF contract
    // for ADD COLUMN): v1 commits the pre-evolution schema, v2 adds a
    // `tier` column backfilling only part of the table, v3 backfills more
    // and touches balances. The diff reads pre-evolution rows null-padded
    // under the evolved schema, so the evolution commit captures exactly
    // the rows whose new column VALUE changed (null-to-null rows are
    // no-ops, not a whole-table rewrite) and every preimage of v2 carries
    // NULL tier — both pinned by requires, as is feed replay from the
    // PRE-evolution v1 base landing bit-exactly on the evolved v3
    // snapshot. At 100 TB additive evolution is the only affordable kind —
    // this proves the feed never forces a table rewrite for it. The oracle
    // rebuilds all change rows of all three commits with the same padding
    // convention.
    Q("q206_cdf_schema_evolution",
      """WITH base AS (SELECT CAST(c_custkey AS BIGINT) AS k,
        |    CAST(c_nationkey AS INT) AS n, CAST(c_acctbal AS DECIMAL(12,2)) AS b
        |  FROM customer),
        |v2 AS (SELECT k, n, b,
        |    CASE WHEN n >= 20 THEN 'hi' END AS tier
        |  FROM base WHERE k % 10 <> 0),
        |changes AS (
        |  SELECT 1 AS v, 'insert' AS t, b, CAST(NULL AS VARCHAR) AS tier FROM base
        |  UNION ALL SELECT 2, 'delete', b, NULL FROM base WHERE k % 10 = 0
        |  UNION ALL SELECT 2, 'update_preimage', b, NULL
        |    FROM base WHERE k % 10 <> 0 AND n >= 20
        |  UNION ALL SELECT 2, 'update_postimage', b, 'hi'
        |    FROM base WHERE k % 10 <> 0 AND n >= 20
        |  UNION ALL SELECT 3, 'update_preimage', b, NULL FROM v2 WHERE n <= 5
        |  UNION ALL SELECT 3, 'update_postimage', CAST(b + 50 AS DECIMAL(12,2)), 'lo'
        |    FROM v2 WHERE n <= 5)
        |SELECT CAST(v AS BIGINT) AS commit_version, t AS change_type,
        |  CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(count(tier) AS BIGINT) AS n_tiered,
        |  round(CAST(sum(b) AS DOUBLE), 2) AS bal_sum
        |FROM changes GROUP BY 1, 2""".stripMargin) { (s, dir) =>
      import graft.ops.{ChangeFeed, VersionedTable}
      val root = scratch(s, dir, "q206")
      val base = Tables.load(s, dir, "customer")
        .select(col("c_custkey").cast("long").as("k"),
          col("c_nationkey").cast("int").as("n"),
          col("c_acctbal").cast("decimal(12,2)").as("b"))
      require(ChangeFeed.commit(base, root, Seq("k")) == 1L)
      // v2: ADD COLUMN tier, backfilled only where n >= 20; plus deletes
      val v2 = base.filter(col("k") % 10 =!= 0)
        .withColumn("tier", when(col("n") >= 20, lit("hi")))
      require(ChangeFeed.commit(v2, root, Seq("k")) == 2L)
      // v3: backfill the low nations and bump their balances
      val v3 = VersionedTable.read(s, root)
        .withColumn("tier", when(col("n") <= 5, lit("lo")).otherwise(col("tier")))
        .withColumn("b", when(col("n") <= 5, col("b") + 50)
          .otherwise(col("b")).cast("decimal(12,2)"))
      require(ChangeFeed.commit(v3, root, Seq("k")) == 3L)
      val feed = ChangeFeed.tableChanges(s, root, 0L, 3L, Seq("k"))
        .localCheckpoint()
      // the evolution commit is NOT a table rewrite: only the backfilled
      // rows (plus the deletes) appear in v2's capture
      val v2pre = feed.filter(col(ChangeFeed.CommitVersion) === 2L &&
        col(ChangeFeed.ChangeType) === "update_preimage")
      require(v2pre.filter(col("tier").isNotNull).isEmpty,
        "q206: every pre-evolution preimage must carry NULL in the added column")
      require(feed.filter(col(ChangeFeed.CommitVersion) === 2L).count() ==
        base.filter(col("k") % 10 === 0).count() +
          2L * v2.filter(col("tier").isNotNull).count(),
        "q206: the evolution commit must capture only backfilled + deleted rows")
      // replay from the PRE-evolution base lands on the evolved snapshot
      val replayed = ChangeFeed.apply(
        Some(VersionedTable.readVersion(s, root, 1L)),
        ChangeFeed.tableChanges(s, root, 1L, 3L, Seq("k")), Seq("k"))
      val live = VersionedTable.readVersion(s, root, 3L)
      val cols = live.columns.sorted.toSeq
      def c(d: org.apache.spark.sql.DataFrame) = d.select(cols.map(col): _*)
      require(Q.sameMultiset(c(replayed), c(live)),
        "q206: replay from the pre-evolution base must land on the evolved snapshot")
      feed.groupBy(col(ChangeFeed.CommitVersion).as("commit_version"),
          col(ChangeFeed.ChangeType).as("change_type"))
        .agg(count(lit(1)).cast("bigint").as("n_rows"),
          count(col("tier")).cast("bigint").as("n_tiered"),
          round(sum(col("b")).cast("double"), 2).as("bal_sum"))
    },

    // ---------------------------------------------------------------- q207
    // Aggregate pushdown through DSv2 (`SupportsPushDownAggregates`, the
    // public API Spark's parquet/JDBC scans and Iceberg's metadata answers
    // implement): `GROUP BY k` over count/sum/min/max folds INSIDE the
    // source's partition readers — one streaming pass, O(|aggs|) memory —
    // and the scan emits one partial row per bucket; the engine merges
    // partials (PARTIAL pushdown, the honest distributed contract). Both
    // states are MEASURED on the same byte-level layout via the scan's
    // numOutputRows: pushed = one row per bucket, refused (`push=false`) =
    // every table row, values bit-identical. At 100 TB this turns the
    // scan→shuffle boundary of a full-table GROUP BY into |buckets|·
    // |partitions| rows — the same reason warehouse engines answer
    // MIN/MAX/COUNT from footer stats. The oracle replays the aggregation
    // over the base table.
    Q("q207_dsv2_agg_pushdown",
      """SELECT CAST(o_custkey % 16 AS INT) AS k,
        |  CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents_sum,
        |  min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
        |FROM orders GROUP BY 1""".stripMargin) { (s, dir) =>
      import graft.source.{AggPushDsv2, KeyedDsv2}
      val root = scratch(s, dir, "q207") + "/t"
      val orders = Tables.load(s, dir, "orders").select(
        (col("o_custkey") % 16).cast("int").as("k"),
        expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"),
        col("o_orderkey").cast("long").as("okey"))
      KeyedDsv2.writeBucketed(orders, root)
      val aqeKey = "spark.sql.adaptive.enabled"
      val prevAqe = s.conf.get(aqeKey)
      try {
        s.conf.set(aqeKey, "false") // q185 rule: clean plan read
        def run(push: Boolean) = {
          val df = AggPushDsv2.read(s, root, "cents", "okey", push)
            .groupBy(col("k"))
            .agg(count(lit(1)).cast("bigint").as("n_rows"),
              sum(col("cents")).cast("bigint").as("cents_sum"),
              min(col("okey")).as("min_key"), max(col("okey")).as("max_key"))
          df.collect()
          val scan = df.queryExecution.executedPlan.collect {
            case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
          }.head
          (df, scan.metrics("numOutputRows").value, scan.output.length)
        }
        val (pushedDf, pushedRows, pushedWidth) = run(push = true)
        val (rawDf, rawRows, rawWidth) = run(push = false)
        val nKeys = orders.select(col("k")).distinct().count()
        require(pushedRows == nKeys && pushedWidth == 5,
          s"q207: pushed scan must emit one 5-wide partial row per bucket " +
            s"(rows=$pushedRows width=$pushedWidth, buckets=$nKeys)")
        require(rawRows == orders.count() && rawWidth == 3,
          s"q207: the refused scan must stream every raw row (rows=$rawRows)")
        require(Q.sameMultiset(pushedDf, rawDf),
          "q207: pushed and raw plans must agree checksum-exactly")
        pushedDf
      } finally s.conf.set(aqeKey, prevAqe)
    },

    // ---------------------------------------------------------------- q208
    // Runtime filtering INTO a DSv2 source (`SupportsRuntimeFiltering`):
    // q185's dynamic partition pruning, delivered through the connector
    // API — the broadcast dim's keys arrive at the scan as an IN filter
    // before planInputPartitions, so unmatched k=NN directories are never
    // listed or read, on a source whose layout Spark has NO catalog
    // metadata for (Iceberg's runtime file-group pruning is exactly this
    // contract). The dim filters on an OPAQUE rank attribute (q185 rule:
    // a literal bound on k itself would statically prune and prove
    // nothing). Both states are measured via the scan's numOutputRows:
    // DPP on = only the two matched buckets' rows; off = the whole table;
    // values bit-identical. The oracle replays the two-bucket join.
    Q("q208_dsv2_runtime_filter",
      """WITH t AS (SELECT CAST(o_custkey % 16 AS INT) AS k,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders),
        |ks AS (SELECT DISTINCT k FROM t ORDER BY k LIMIT 2)
        |SELECT k, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(cents) AS BIGINT) AS cents_sum
        |FROM t JOIN ks USING (k) GROUP BY 1""".stripMargin) { (s, dir) =>
      import graft.source.{KeyedDsv2, RuntimeFilterDsv2}
      val root = scratch(s, dir, "q208") + "/t"
      val orders = Tables.load(s, dir, "orders").select(
        (col("o_custkey") % 16).cast("int").as("k"),
        expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"),
        col("o_orderkey").cast("long").as("okey"))
      KeyedDsv2.writeBucketed(orders, root)
      val src = RuntimeFilterDsv2.read(s, root, "cents", "okey")
      // the dim: the two lowest buckets BY RANK — opaque after checkpoint,
      // so only runtime evaluation can name the surviving keys
      val allK = src.select(col("k")).distinct()
        .withColumn("rn", row_number().over(
          org.apache.spark.sql.expressions.Window.orderBy(col("k"))))
        .localCheckpoint()
      val dim = allK.filter(col("rn") <= 2).select(col("k"))
      val saved = Seq("spark.sql.adaptive.enabled",
        "spark.sql.optimizer.dynamicPartitionPruning.enabled")
        .map(kk => kk -> s.conf.get(kk))
      try {
        s.conf.set("spark.sql.adaptive.enabled", "false")
        def run(dpp: Boolean) = {
          s.conf.set("spark.sql.optimizer.dynamicPartitionPruning.enabled",
            dpp.toString)
          val j = src.join(broadcast(dim), Seq("k"))
            .groupBy(col("k"))
            .agg(count(lit(1)).cast("bigint").as("n_rows"),
              sum(col("cents")).cast("bigint").as("cents_sum"))
          j.collect()
          val scan = j.queryExecution.executedPlan.collect {
            case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
          }.head
          (j, scan.metrics("numOutputRows").value)
        }
        val (pruned, prunedRows) = run(dpp = true)
        val (full, fullRows) = run(dpp = false)
        val twoBucketRows = orders
          .join(dim.hint("broadcast"), Seq("k")).count()
        require(prunedRows == twoBucketRows,
          s"q208: the filtered scan must read only the matched buckets " +
            s"($prunedRows vs $twoBucketRows)")
        require(fullRows == orders.count(),
          s"q208: without DPP the scan must read the whole table ($fullRows)")
        require(Q.sameMultiset(pruned, full),
          "q208: pruned and full plans must agree checksum-exactly")
        pruned
      } finally saved.foreach { case (kk, v) => s.conf.set(kk, v) }
    },

    // ---------------------------------------------------------------- q220
    // Time travel AS OF a wall-clock instant (Delta's `timestampAsOf`):
    // every commit stamps `_commit_ts` into the version dir BEFORE the
    // pointer flip (the txn-marker atomicity contract), and readAsOf
    // resolves the latest complete version with ts <= the instant. The
    // entry writes three versions with real clock gaps, requires each
    // probe instant to resolve to the right snapshot bit-exactly, and
    // requires a before-the-beginning instant to fail loudly (fabricating
    // an empty table there is the silent-corruption path). Timestamps are
    // runtime values, so they only ever pick the version — the OUTPUT is
    // the deterministic v2 content, which the oracle rebuilds.
    Q("q220_time_travel_asof",
      """WITH base AS (SELECT CAST(c_custkey AS BIGINT) AS k,
        |    CAST(c_nationkey AS INT) AS n, CAST(c_acctbal AS DECIMAL(12,2)) AS b
        |  FROM customer),
        |v2 AS (SELECT k, n, b FROM base WHERE k % 3 <> 0)
        |SELECT n, CAST(count(*) AS BIGINT) AS n_rows,
        |  round(CAST(sum(b) AS DOUBLE), 2) AS bal_sum
        |FROM v2 GROUP BY 1""".stripMargin) { (s, dir) =>
      import graft.ops.VersionedTable
      val root = scratch(s, dir, "q220")
      val base = Tables.load(s, dir, "customer")
        .select(col("c_custkey").cast("long").as("k"),
          col("c_nationkey").cast("int").as("n"),
          col("c_acctbal").cast("decimal(12,2)").as("b"))
      VersionedTable.write(base, root)
      Thread.sleep(15)
      val t1 = System.currentTimeMillis(); Thread.sleep(15)
      VersionedTable.write(base.filter(col("k") % 3 =!= 0), root)
      Thread.sleep(15)
      val t2 = System.currentTimeMillis(); Thread.sleep(15)
      VersionedTable.write(VersionedTable.read(s, root)
        .withColumn("b", when(col("n") <= 5, col("b") + 10)
          .otherwise(col("b")).cast("decimal(12,2)")), root)
      def same(a: org.apache.spark.sql.DataFrame,
          b: org.apache.spark.sql.DataFrame): Boolean =
        Q.sameMultiset(a, b)
      require(same(VersionedTable.readAsOf(s, root, t1),
        VersionedTable.readVersion(s, root, 1L)),
        "q220: an instant between v1 and v2 must resolve to v1")
      require(same(VersionedTable.readAsOf(s, root, t2),
        VersionedTable.readVersion(s, root, 2L)),
        "q220: an instant between v2 and v3 must resolve to v2")
      require(same(VersionedTable.readAsOf(s, root, System.currentTimeMillis()),
        VersionedTable.readVersion(s, root, 3L)),
        "q220: a now instant must resolve to the live version")
      val beforeAll = VersionedTable.commitTimestamp(s, root, 1L).get - 1L
      val early = try { VersionedTable.readAsOf(s, root, beforeAll); false }
      catch { case _: Throwable => true }
      require(early, "q220: a before-the-beginning instant must fail loudly")
      VersionedTable.readAsOf(s, root, t2)
        .groupBy(col("n"))
        .agg(count(lit(1)).cast("bigint").as("n_rows"),
          round(sum(col("b")).cast("double"), 2).as("bal_sum"))
    },

    // ---------------------------------------------------------------- q219
    // Compaction does NOT pollute the feed (Delta's dataChange=false
    // contract): a rewrite commit that halves the file count but changes
    // no logical row must capture an EMPTY change set — otherwise every
    // downstream consumer (views, replicas, streams) reprocesses the
    // whole table each time maintenance runs, which at 100 TB turns
    // nightly OPTIMIZE into a nightly full re-sync. Here the property
    // falls out of the capture being a LOGICAL diff, and the entry pins
    // it: v2 rewrites 16 files into 2 (inventory-checked), its capture
    // is zero rows, the cumulative feed through the compaction still
    // replays to the live table, and a feed-maintained view folds the
    // compaction as a no-op. The oracle aggregates the base table.
    Q("q219_compaction_cdf",
      """SELECT o_orderpriority AS opri, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(o_orderkey) AS BIGINT) AS key_sum
        |FROM orders GROUP BY 1""".stripMargin) { (s, dir) =>
      import graft.ops.{ChangeFeed, IncrementalView, VersionedTable}
      val root = scratch(s, dir, "q219")
      val orders = Tables.load(s, dir, "orders")
        .select(col("o_orderkey").as("okey"), col("o_orderpriority").as("opri"))
      require(ChangeFeed.commit(orders.repartition(16), root, Seq("okey")) == 1L)
      def files(v: Long): Long = {
        val fsys = new org.apache.hadoop.fs.Path(root)
          .getFileSystem(s.sparkContext.hadoopConfiguration)
        fsys.listStatus(new org.apache.hadoop.fs.Path(root, f"_v-$v%08d"))
          .count(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
      }
      // the compaction: same logical rows, 16 -> 2 files, WITH capture
      require(ChangeFeed.commit(
        VersionedTable.read(s, root).coalesce(2), root, Seq("okey")) == 2L)
      require(files(1L) == 16L && files(2L) == 2L,
        s"q219: the rewrite must halve the layout (16 -> 2), got ${files(1L)} -> ${files(2L)}")
      val slice = ChangeFeed.tableChanges(s, root, 1L, 2L, Seq("okey"))
      require(slice.isEmpty,
        "q219: a pure rewrite must capture ZERO changes")
      // the cumulative feed still replays to the live table
      val replayed = ChangeFeed.apply(None,
        ChangeFeed.tableChanges(s, root, 0L, 2L, Seq("okey")), Seq("okey"))
      val live = VersionedTable.read(s, root)
      require(Q.sameMultiset(replayed, live),
        "q219: replay through the compaction must land on the live table")
      // a maintained view folds the compaction as a no-op
      val spec = IncrementalView.Spec(Seq("opri"), Nil)
      val view = IncrementalView.full(VersionedTable.readVersion(s, root, 1L), spec)
      val after = IncrementalView.merge(view, IncrementalView.delta(slice, spec), spec)
      require(Q.sameMultiset(after, view),
        "q219: the compaction must be a view no-op")
      live.groupBy(col("opri"))
        .agg(count(lit(1)).cast("bigint").as("n_rows"),
          sum(col("okey")).cast("bigint").as("key_sum"))
    },

    // ---------------------------------------------------------------- q218
    // METADATA-ONLY aggregates from the skipping index (Iceberg answers
    // COUNT/MIN/MAX from manifests; Spark's OptimizeMetadataOnlyQuery does
    // it for partition values — this is the same contract over the
    // versioned table's per-file stats sidecar): COUNT(*) folds Σ n_rows,
    // MIN/MAX fold per-file extrema, the query reads O(files) sidecar
    // rows and ZERO data bytes. Exactness holds because the sidecar is
    // written atomically with the version. Requires pin the values
    // against a direct full scan AND the O(files) contract (sidecar rows
    // = data file count << table rows). At 100 TB this is the difference
    // between a dashboard freshness probe costing a listing and costing a
    // table scan. The oracle computes the same aggregates from lineitem.
    Q("q218_stats_only_agg",
      """SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |  min(l_orderkey) AS okey_min, max(l_orderkey) AS okey_max,
        |  CAST(min(l_quantity) AS BIGINT) AS qty_min,
        |  CAST(max(l_quantity) AS BIGINT) AS qty_max
        |FROM lineitem""".stripMargin) { (s, dir) =>
      import graft.ops.{DataSkipping, VersionedTable}
      val root = scratch(s, dir, "q218")
      val li = Tables.load(s, dir, "lineitem")
        .select(col("l_orderkey").as("okey"),
          col("l_quantity").cast("long").as("qty"))
        .repartition(8) // a multi-file layout, so the fold is non-trivial
      VersionedTable.write(li, root, statsCols = Seq("okey", "qty"))
      val live = VersionedTable.liveDir(s, root)
      val fromStats = DataSkipping.aggFromStats(s, live, Seq("okey", "qty"))
        .localCheckpoint()
      // exactness vs the full scan
      val direct = s.read.parquet(live)
        .agg(count(lit(1)).cast("long").as("n_rows"),
          min(col("okey")).as("okey_min"), max(col("okey")).as("okey_max"),
          min(col("qty")).as("qty_min"), max(col("qty")).as("qty_max"))
      require(Q.sameMultiset(fromStats, direct),
        "q218: the metadata-only answer must equal the full scan exactly")
      // the O(files) contract: the sidecar holds one row per data file
      val sidecarRows = DataSkipping.stats(s, live).count()
      require(sidecarRows == 8L && sidecarRows < li.count(),
        s"q218: the fold must read O(files) rows, read $sidecarRows")
      fromStats.select(col("n_rows"),
        col("okey_min"), col("okey_max"),
        col("qty_min").as("qty_min"), col("qty_max").as("qty_max"))
    },

    // ---------------------------------------------------------------- q217
    // FULL MERGE INTO (SQL:2003 / Delta's complete surface; J5-J8 cover
    // the upsert special case): WHEN MATCHED AND k%4=1 UPDATE (balance
    // doubles via t+s), WHEN MATCHED AND k%4=2 DELETE, WHEN NOT MATCHED
    // INSERT (shifted high-nation keys), WHEN NOT MATCHED BY SOURCE AND
    // n=24 DELETE (prune stale rows the source no longer carries) — all
    // four clause kinds in ONE full-outer join pass, shuffling on the
    // merge key only, then committed WITH change capture so the feed
    // records the merge's exact row-level effects (capture counts are
    // require'd against the clause predicates). SQL's cardinality rule is
    // enforced up front. The oracle rebuilds the merged table from the
    // same predicates and aggregates per nation.
    Q("q217_full_merge",
      """WITH base AS (SELECT CAST(c_custkey AS BIGINT) AS k,
        |    CAST(c_nationkey AS INT) AS n, CAST(c_acctbal AS DECIMAL(12,2)) AS b
        |  FROM customer),
        |sh AS (SELECT max(k) + 1 AS s FROM base),
        |merged AS (
        |  SELECT k, n, CAST(b + b AS DECIMAL(12,2)) AS b FROM base WHERE k % 4 = 1
        |  UNION ALL
        |  SELECT k, n, b FROM base WHERE k % 4 IN (0, 3) AND n <> 24
        |  UNION ALL
        |  SELECT k + (SELECT s FROM sh) AS k, n, b FROM base WHERE n >= 20)
        |SELECT n, CAST(count(*) AS BIGINT) AS n_rows,
        |  round(CAST(sum(b) AS DOUBLE), 2) AS bal_sum
        |FROM merged GROUP BY 1""".stripMargin) { (s, dir) =>
      import graft.ops.{ChangeFeed, Merge, VersionedTable}
      import graft.ops.Merge._
      val root = scratch(s, dir, "q217")
      val base = Tables.load(s, dir, "customer")
        .select(col("c_custkey").cast("long").as("k"),
          col("c_nationkey").cast("int").as("n"),
          col("c_acctbal").cast("decimal(12,2)").as("b"))
      val shift = base.agg(max(col("k"))).head.getLong(0) + 1L
      require(ChangeFeed.commit(base, root, Seq("k")) == 1L)
      val source = base.filter(col("k") % 4 === 1 || col("k") % 4 === 2)
        .select(col("k"), col("n").as("sn"), col("b").as("sb"))
        .unionByName(base.filter(col("n") >= 20)
          .select((col("k") + shift).as("k"), col("n").as("sn"), col("b").as("sb")))
      Merge.requireUniqueKeys(base, Seq("k"), "target")
      Merge.requireUniqueKeys(source, Seq("k"), "source")
      val merged = Merge.merge(VersionedTable.read(s, root), source, Seq("k"), Seq(
        MatchedUpdate(col("s.k") % 4 === 1,
          Map("b" -> (col("t.b") + col("s.sb")).cast("decimal(12,2)"))),
        MatchedDelete(col("s.k") % 4 === 2),
        NotMatchedInsert(lit(true),
          Map("k" -> col("s.k"), "n" -> col("s.sn"), "b" -> col("s.sb"))),
        NotMatchedBySourceDelete(col("t.n") === 24)))
      require(ChangeFeed.commit(merged, root, Seq("k")) == 2L)
      // the feed records the merge's exact effects, per clause
      val cap = ChangeFeed.tableChanges(s, root, 1L, 2L, Seq("k"))
        .groupBy(col(ChangeFeed.ChangeType)).count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val nUpd = base.filter(col("k") % 4 === 1).count()
      val nDel = base.filter(col("k") % 4 === 2).count() +
        base.filter((col("k") % 4 === 0 || col("k") % 4 === 3) &&
          col("n") === 24).count()
      val nIns = base.filter(col("n") >= 20).count()
      require(cap == Map("insert" -> nIns, "delete" -> nDel,
        "update_preimage" -> nUpd, "update_postimage" -> nUpd),
        s"q217: capture must mirror the clause predicates exactly, got $cap")
      VersionedTable.read(s, root)
        .groupBy(col("n"))
        .agg(count(lit(1)).cast("bigint").as("n_rows"),
          round(sum(col("b")).cast("double"), 2).as("bal_sum"))
    },

    // ---------------------------------------------------------------- q215
    // COLUMN-LEVEL change accounting over the feed: which data columns
    // each update actually touched — the audit layer compliance teams put
    // over row-level CDC ("who changed the balance vs who changed the
    // tier"). Post-hoc from the feed (no capture-schema change): pre and
    // postimage rows pair on (key, commit version), one self-join over
    // O(update pairs). Runs on the q206 evolution fixture, whose commits
    // touch KNOWN column sets (v2 backfills tier only; v3 changes b and
    // tier together), so the oracle enumerates the expected counts from
    // the base table predicates.
    Q("q215_cdf_changed_columns",
      """WITH base AS (SELECT CAST(c_custkey AS BIGINT) AS k,
        |    CAST(c_nationkey AS INT) AS n, CAST(c_acctbal AS DECIMAL(12,2)) AS b
        |  FROM customer),
        |v2 AS (SELECT k, n, b, CASE WHEN n >= 20 THEN 'hi' END AS tier
        |  FROM base WHERE k % 10 <> 0)
        |SELECT CAST(2 AS BIGINT) AS commit_version, 'tier' AS col_name,
        |  CAST(count(*) AS BIGINT) AS n_rows
        |FROM base WHERE k % 10 <> 0 AND n >= 20
        |UNION ALL
        |SELECT CAST(3 AS BIGINT), 'b', CAST(count(*) AS BIGINT)
        |FROM v2 WHERE n <= 5
        |UNION ALL
        |SELECT CAST(3 AS BIGINT), 'tier', CAST(count(*) AS BIGINT)
        |FROM v2 WHERE n <= 5""".stripMargin) { (s, dir) =>
      import graft.ops.{ChangeFeed, VersionedTable}
      val root = scratch(s, dir, "q215")
      val base = Tables.load(s, dir, "customer")
        .select(col("c_custkey").cast("long").as("k"),
          col("c_nationkey").cast("int").as("n"),
          col("c_acctbal").cast("decimal(12,2)").as("b"))
      require(ChangeFeed.commit(base, root, Seq("k")) == 1L)
      val v2 = base.filter(col("k") % 10 =!= 0)
        .withColumn("tier", when(col("n") >= 20, lit("hi")))
      require(ChangeFeed.commit(v2, root, Seq("k")) == 2L)
      val v3 = VersionedTable.read(s, root)
        .withColumn("tier", when(col("n") <= 5, lit("lo")).otherwise(col("tier")))
        .withColumn("b", when(col("n") <= 5, col("b") + 50)
          .otherwise(col("b")).cast("decimal(12,2)"))
      require(ChangeFeed.commit(v3, root, Seq("k")) == 3L)
      val feed = ChangeFeed.tableChanges(s, root, 0L, 3L, Seq("k"))
      val out = ChangeFeed.changedColumns(feed, Seq("k")).localCheckpoint()
      // every update pair contributes at least one changed column — a pair
      // with none would mean the diff captured a no-op
      val pairs = feed.filter(col(ChangeFeed.ChangeType) === "update_postimage").count()
      require(out.agg(sum(col("n_rows"))).head().getLong(0) >= pairs,
        "q215: every update pair must touch at least one column")
      require(out.filter(col("col_name") === "n").isEmpty,
        "q215: the never-touched column must not appear")
      out.select(col(ChangeFeed.CommitVersion).as("commit_version"),
        col("col_name"), col("n_rows").cast("bigint").as("n_rows"))
    },

    // ---------------------------------------------------------------- q216
    // RESTORE (Delta's `RESTORE TABLE ... TO VERSION`): re-commit v1's
    // content as v4 WITH change capture — history stays intact (v3 still
    // time-travels) and the feed records the undo as ordinary changes:
    // deleted keys come back as inserts, rows the undone commits inserted
    // leave as deletes, surviving keys whose values drifted emit update
    // pairs. Downstream consumers converge on the restored state through
    // the normal feed — no special-case "reset" protocol, which is the
    // whole point at 100 TB where every consumer re-syncing from scratch
    // is the outage. Requires pin v4 ≡ v1 bit-exactly, replay through the
    // restore landing on v1, and v3 still readable. The oracle derives
    // v4's change rows by comparing the rebuilt v3 against the base.
    Q("q216_restore_version",
      """WITH base AS (SELECT CAST(c_custkey AS BIGINT) AS k,
        |    CAST(c_nationkey AS INT) AS n, CAST(c_acctbal AS DECIMAL(12,2)) AS b
        |  FROM customer),
        |sh AS (SELECT max(k) + 1 AS s FROM base),
        |v2 AS (
        |  SELECT k, n, CASE WHEN n <= 5 THEN CAST(b + 100 AS DECIMAL(12,2))
        |    ELSE b END AS b
        |  FROM base WHERE k % 10 <> 0
        |  UNION ALL
        |  SELECT k + (SELECT s FROM sh) AS k, n, b FROM base WHERE n >= 20),
        |v3 AS (
        |  SELECT k, n, CASE WHEN n BETWEEN 10 AND 12
        |    THEN CAST(b + 7.5 AS DECIMAL(12,2)) ELSE b END AS b
        |  FROM v2 WHERE k % 7 <> 0),
        |restored AS (
        |  SELECT 'insert' AS t, b FROM base
        |    WHERE k NOT IN (SELECT k FROM v3)
        |  UNION ALL
        |  SELECT 'delete', b FROM v3 WHERE k NOT IN (SELECT k FROM base)
        |  UNION ALL
        |  SELECT 'update_preimage', v3.b FROM v3 JOIN base USING (k)
        |    WHERE v3.b <> base.b
        |  UNION ALL
        |  SELECT 'update_postimage', base.b FROM v3 JOIN base USING (k)
        |    WHERE v3.b <> base.b)
        |SELECT t AS change_type, CAST(count(*) AS BIGINT) AS n_rows,
        |  round(CAST(sum(b) AS DOUBLE), 2) AS bal_sum
        |FROM restored GROUP BY 1""".stripMargin) { (s, dir) =>
      import graft.ops.{ChangeFeed, VersionedTable}
      val root = scratch(s, dir, "q216")
      cdfVersions(s, dir, root)
      require(ChangeFeed.restore(s, root, 1L, Seq("k")) == 4L,
        "q216: the restore must commit as v4")
      val v1 = VersionedTable.readVersion(s, root, 1L)
      val v4 = VersionedTable.readVersion(s, root, 4L)
      require(Q.sameMultiset(v4, v1),
        "q216: the restored version must equal its target checksum-exactly")
      // history intact: the undone v3 still time-travels
      require(VersionedTable.readVersion(s, root, 3L).count() > 0L,
        "q216: restore must not destroy the undone versions")
      // consumers converge through the NORMAL feed
      val replayed = ChangeFeed.apply(
        Some(VersionedTable.readVersion(s, root, 3L)),
        ChangeFeed.tableChanges(s, root, 3L, 4L, Seq("k")), Seq("k"))
      require(Q.sameMultiset(replayed, v1),
        "q216: replaying the restore commit must land on the restored state")
      ChangeFeed.tableChanges(s, root, 3L, 4L, Seq("k"))
        .groupBy(col(ChangeFeed.ChangeType).as("change_type"))
        .agg(count(lit(1)).cast("bigint").as("n_rows"),
          round(sum(col("b")).cast("double"), 2).as("bal_sum"))
    },

    // ---------------------------------------------------------------- q214
    // NON-ADDITIVE incremental maintenance: min/max can't fold a delete out
    // of an extremum, so the delta rule (q201) doesn't apply — the
    // standard IVM fallback recomputes ONLY the groups the feed touched
    // from the live snapshot and keeps untouched groups as-is. The
    // versions here touch FEW groups by construction (a balance bump in 4
    // nations, then a targeted delete in the top 3), and the requires pin
    // the partial-recompute contract: the touched-group set stays a small
    // fraction of the groups, the recompute input is exactly the touched
    // groups' snapshot rows, and the maintained view equals a full
    // recompute bit-exactly (decimal extrema). At 100 TB this is why a
    // MAX-maintaining view survives a tenant-scoped delete without a
    // table rescan. The oracle aggregates the rebuilt v3 directly.
    Q("q214_ivm_nonadditive",
      """WITH base AS (SELECT CAST(c_custkey AS BIGINT) AS k,
        |    CAST(c_nationkey AS INT) AS n, CAST(c_acctbal AS DECIMAL(12,2)) AS b
        |  FROM customer),
        |v2 AS (SELECT k, n, CASE WHEN n <= 3 THEN CAST(b + 25 AS DECIMAL(12,2))
        |    ELSE b END AS b FROM base),
        |v3 AS (SELECT * FROM v2 WHERE NOT (k % 9 = 0 AND n >= 22))
        |SELECT n, CAST(count(*) AS BIGINT) AS n_rows,
        |  round(CAST(max(b) AS DOUBLE), 2) AS max_bal,
        |  round(CAST(min(b) AS DOUBLE), 2) AS min_bal
        |FROM v3 GROUP BY 1""".stripMargin) { (s, dir) =>
      import graft.ops.{ChangeFeed, IncrementalView, VersionedTable}
      val root = scratch(s, dir, "q214")
      val base = Tables.load(s, dir, "customer")
        .select(col("c_custkey").cast("long").as("k"),
          col("c_nationkey").cast("int").as("n"),
          col("c_acctbal").cast("decimal(12,2)").as("b"))
      require(ChangeFeed.commit(base, root, Seq("k")) == 1L)
      val v2 = base.withColumn("b", when(col("n") <= 3, col("b") + 25)
        .otherwise(col("b")).cast("decimal(12,2)"))
      require(ChangeFeed.commit(v2, root, Seq("k")) == 2L)
      val v3 = VersionedTable.read(s, root)
        .filter(!(col("k") % 9 === 0 && col("n") >= 22))
      require(ChangeFeed.commit(v3, root, Seq("k")) == 3L)
      def aggs(d: org.apache.spark.sql.DataFrame) = d.groupBy(col("n"))
        .agg(count(lit(1)).cast("long").as("n_rows"),
          max(col("b")).as("max_bal"), min(col("b")).as("min_bal"))
      var view = aggs(VersionedTable.readVersion(s, root, 1L)).localCheckpoint()
      val nGroups = view.count()
      for (v <- Seq(2L, 3L)) {
        val slice = ChangeFeed.tableChanges(s, root, v - 1, v, Seq("k"))
        val snapshot = VersionedTable.readVersion(s, root, v)
        val touched = slice.select(col("n")).distinct().localCheckpoint()
        // the partial-recompute contract: few groups, few snapshot rows
        require(touched.count() * 2 <= nGroups,
          s"q214: v$v must touch a minority of groups")
        val scanned = snapshot.join(touched, Seq("n"), "left_semi").count()
        require(scanned < snapshot.count(),
          s"q214: the recompute must scan only touched groups' rows")
        view = IncrementalView.refreshGroups(view, snapshot, slice, Seq("n"))(aggs)
          .localCheckpoint()
      }
      val direct = aggs(VersionedTable.readVersion(s, root, 3L))
      require(Q.sameMultiset(view, direct),
        "q214: partial recomputes must equal the full recompute exactly")
      view.select(col("n"), col("n_rows").cast("bigint").as("n_rows"),
        round(col("max_bal").cast("double"), 2).as("max_bal"),
        round(col("min_bal").cast("double"), 2).as("min_bal"))
    },

    // ---------------------------------------------------------------- q213
    // PERSISTENT materialized-view refresh (`REFRESH MATERIALIZED VIEW`,
    // scheduled): q201's delta fold made durable — the view is its own
    // versioned table whose txn marker records the last source commit
    // applied, so each refresh reads ONLY tableChanges(marker, live),
    // folds, and commits with the marker advanced. An up-to-date view
    // refreshes to a NO-OP (refresh storms cost nothing — require'd
    // twice), a crash between fold and commit re-folds idempotently from
    // the marker, and the whole chain must equal a full recompute of the
    // final source version bit-exactly. At 100 TB this is the difference
    // between a scheduled view refresh costing O(day's changes) and
    // O(table). The oracle aggregates the rebuilt v3 directly (q201's
    // mirror).
    Q("q213_materialized_view_refresh",
      """WITH base AS (SELECT CAST(c_custkey AS BIGINT) AS k,
        |    CAST(c_nationkey AS INT) AS n, CAST(c_acctbal AS DECIMAL(12,2)) AS b
        |  FROM customer),
        |sh AS (SELECT max(k) + 1 AS s FROM base),
        |v2 AS (
        |  SELECT k, n, CASE WHEN n <= 5 THEN CAST(b + 100 AS DECIMAL(12,2))
        |    ELSE b END AS b
        |  FROM base WHERE k % 10 <> 0
        |  UNION ALL
        |  SELECT k + (SELECT s FROM sh) AS k, n, b FROM base WHERE n >= 20),
        |v3 AS (
        |  SELECT k, n, CASE WHEN n BETWEEN 10 AND 12
        |    THEN CAST(b + 7.5 AS DECIMAL(12,2)) ELSE b END AS b
        |  FROM v2 WHERE k % 7 <> 0)
        |SELECT n, CAST(count(*) AS BIGINT) AS n_rows,
        |  round(CAST(sum(b) AS DOUBLE), 2) AS bal_sum
        |FROM v3 GROUP BY 1""".stripMargin) { (s, dir) =>
      import graft.ops.{ChangeFeed, IncrementalView, VersionedTable}
      val root = scratch(s, dir, "q213")
      val (tableP, viewP) = (s"$root/t", s"$root/view")
      val base = Tables.load(s, dir, "customer")
        .select(col("c_custkey").cast("long").as("k"),
          col("c_nationkey").cast("int").as("n"),
          col("c_acctbal").cast("decimal(12,2)").as("b"))
      val shift = base.agg(max(col("k"))).head.getLong(0) + 1L
      VersionedTable.write(base, tableP) // v1 pre-CDF: bootstrap recomputes
      val spec = IncrementalView.Spec(Seq("n"), Seq("bal" -> col("b")))
      def refresh() =
        IncrementalView.refreshTable(s, viewP, tableP, Seq("k"), spec)
      require(refresh().contains(1L), "q213: bootstrap must materialize view v1")
      require(refresh().isEmpty, "q213: an up-to-date view must no-op")
      val v2 = base.filter(col("k") % 10 =!= 0)
        .withColumn("b", when(col("n") <= 5, col("b") + 100)
          .otherwise(col("b")).cast("decimal(12,2)"))
        .unionByName(base.filter(col("n") >= 20).withColumn("k", col("k") + shift))
      require(ChangeFeed.commit(v2, tableP, Seq("k")) == 2L)
      require(refresh().contains(2L), "q213: the v2 delta must fold into view v2")
      val v3 = VersionedTable.read(s, tableP)
        .filter(col("k") % 7 =!= 0)
        .withColumn("b", when(col("n").between(10, 12),
          col("b") + lit(new java.math.BigDecimal("7.5")))
          .otherwise(col("b")).cast("decimal(12,2)"))
      require(ChangeFeed.commit(v3, tableP, Seq("k")) == 3L)
      require(refresh().contains(3L), "q213: the v3 delta must fold into view v3")
      require(refresh().isEmpty, "q213: refresh after refresh must no-op")
      val got = VersionedTable.read(s, viewP)
      val want = IncrementalView.full(
        VersionedTable.readVersion(s, tableP, 3L), spec)
      require(Q.sameMultiset(got, want),
        "q213: the refresh chain must equal a full recompute exactly")
      got.select(col("n"), col(IncrementalView.NCol).as("n_rows"),
        round(col("bal").cast("double"), 2).as("bal_sum"))
    },

    // ---------------------------------------------------------------- q212
    // TRANSACTIONALLY CONSISTENT cross-table CDC: q184's atomic snapshot
    // catalog composed with the change feed — the property Debezium ships
    // transaction metadata for and lakehouses get from multi-table
    // commits. A dim and its fact each carry a CDF; a cascading delete
    // migrates both (dim first — the torn instant every two-table change
    // has); the catalog pins (dim_v, fact_v) pairs. Requires: replaying
    // BOTH feeds to either PINNED pair yields zero orphan fact rows
    // (referential integrity holds at every catalog snapshot), while the
    // torn unpinned pair (dim 2, fact 1) measurably violates it — the
    // catalog, not luck, is what makes the feeds consistent. Feed replay
    // is also pinned equal to the snapshot read. At 100 TB a downstream
    // consuming two tables' feeds MUST cut at catalog snapshots, never at
    // per-table versions — this entry is that rule, executable. The
    // oracle recomputes both snapshots' row counts from the base tables.
    Q("q212_cross_table_cdc",
      """WITH dim1 AS (SELECT CAST(c_custkey AS BIGINT) AS k, c_nationkey AS n
        |             FROM customer),
        |fact1 AS (SELECT o_orderkey AS okey, CAST(o_custkey AS BIGINT) AS ck
        |          FROM orders),
        |dim2 AS (SELECT * FROM dim1 WHERE n < 20)
        |SELECT CAST(1 AS BIGINT) AS snap,
        |  CAST((SELECT count(*) FROM dim1) AS BIGINT) AS n_dims,
        |  CAST((SELECT count(*) FROM fact1) AS BIGINT) AS n_facts
        |UNION ALL
        |SELECT CAST(2 AS BIGINT),
        |  CAST((SELECT count(*) FROM dim2) AS BIGINT),
        |  CAST((SELECT count(*) FROM fact1 f
        |        WHERE EXISTS (SELECT 1 FROM dim2 d WHERE d.k = f.ck)) AS BIGINT)
        |""".stripMargin) { (s, dir) =>
      import graft.ops.{ChangeFeed, SnapshotCatalog, VersionedTable}
      val root = scratch(s, dir, "q212")
      val (dimP, factP, catP) = (s"$root/dim", s"$root/fact", s"$root/cat")
      val dim1 = Tables.load(s, dir, "customer")
        .select(col("c_custkey").cast("long").as("k"), col("c_nationkey").as("n"))
      val fact1 = Tables.load(s, dir, "orders")
        .select(col("o_orderkey").as("okey"), col("o_custkey").cast("long").as("ck"))
      require(ChangeFeed.commit(dim1, dimP, Seq("k")) == 1L)
      require(ChangeFeed.commit(fact1, factP, Seq("okey")) == 1L)
      SnapshotCatalog.commit(s, catP, Map("dim" -> 1L, "fact" -> 1L))
      // the migration: a cascading delete, dim FIRST — the torn instant
      val dim2 = dim1.filter(col("n") < 20)
      require(ChangeFeed.commit(dim2, dimP, Seq("k")) == 2L)
      def orphans(dimDf: org.apache.spark.sql.DataFrame,
          factDf: org.apache.spark.sql.DataFrame): Long =
        factDf.join(dimDf.select(col("k")), factDf("ck") === col("k"), "left_anti").count()
      // torn pair (dim 2, fact 1): integrity measurably broken
      require(orphans(VersionedTable.read(s, dimP), VersionedTable.read(s, factP)) > 0L,
        "q212: the torn per-table pair must expose orphan fact rows")
      val fact2 = fact1.join(dim2.select(col("k")),
        fact1("ck") === col("k"), "left_semi")
      require(ChangeFeed.commit(fact2, factP, Seq("okey")) == 2L)
      SnapshotCatalog.commit(s, catP, Map("dim" -> 2L, "fact" -> 2L))
      require(SnapshotCatalog.current(s, catP)
        .exists(_._2 == Map("dim" -> 2L, "fact" -> 2L)),
        "q212: the catalog must pin the migrated pair")
      // replay both feeds to each PINNED pair: integrity holds at both
      def replayTo(table: String, v: Long, keys: Seq[String]) =
        ChangeFeed.apply(None,
          ChangeFeed.tableChanges(s, table, 0L, v, keys), keys)
      val pairs = Seq(1L -> 1L, 2L -> 2L)
      for ((dv, fv) <- pairs) {
        val d = replayTo(dimP, dv, Seq("k"))
        val f = replayTo(factP, fv, Seq("okey"))
        require(orphans(d, f) == 0L,
          s"q212: pinned pair (dim $dv, fact $fv) must be referentially intact")
        // replay ≡ snapshot (both tables, both versions)
        val ds = VersionedTable.readVersion(s, dimP, dv)
        require(Q.sameMultiset(d, ds),
          s"q212: dim feed replay must equal snapshot v$dv")
      }
      def snapRow(i: Long, dv: Long, fv: Long) =
        VersionedTable.readVersion(s, dimP, dv)
          .agg(count(lit(1)).cast("bigint").as("n_dims"))
          .crossJoin(VersionedTable.readVersion(s, factP, fv)
            .agg(count(lit(1)).cast("bigint").as("n_facts")))
          .select(lit(i).as("snap"), col("n_dims"), col("n_facts"))
      snapRow(1L, 1L, 1L).unionAll(snapRow(2L, 2L, 2L))
    },

    // ---------------------------------------------------------------- q211
    // SCD2 HISTORY FROM THE CHANGE FEED: the q66 slowly-changing-dimension
    // shape, derived purely from table_changes instead of snapshot diffs —
    // the standard CDC→warehouse pattern (Delta's "SCD type 2 using CDF"
    // recipe). Every insert/update_postimage OPENS a validity window at
    // its commit; the window closes at the key's next open, or at a
    // delete commit; never-closed windows are current. One window
    // function over the feed (keyed by the business key) builds the whole
    // history — O(changes), no snapshot ever rescanned. A conservation
    // require pins the feed's row-count law (|v_i| = |v_{i-1}| + inserts
    // − deletes, per version), and the current windows must equal the
    // live snapshot exactly. The oracle derives the same windows from
    // the base table with the same window SQL.
    Q("q211_cdf_scd2",
      """WITH base AS (SELECT CAST(c_custkey AS BIGINT) AS k,
        |    CAST(c_nationkey AS INT) AS n, CAST(c_acctbal AS DECIMAL(12,2)) AS b
        |  FROM customer),
        |sh AS (SELECT max(k) + 1 AS s FROM base),
        |v2 AS (
        |  SELECT k, n, CASE WHEN n <= 5 THEN CAST(b + 100 AS DECIMAL(12,2))
        |    ELSE b END AS b
        |  FROM base WHERE k % 10 <> 0
        |  UNION ALL
        |  SELECT k + (SELECT s FROM sh) AS k, n, b FROM base WHERE n >= 20),
        |opens AS (
        |  SELECT k, 1 AS v, b FROM base
        |  UNION ALL SELECT k, 2, CAST(b + 100 AS DECIMAL(12,2))
        |    FROM base WHERE k % 10 <> 0 AND n <= 5
        |  UNION ALL SELECT k + (SELECT s FROM sh), 2, b FROM base WHERE n >= 20
        |  UNION ALL SELECT k, 3, CAST(b + 7.5 AS DECIMAL(12,2))
        |    FROM v2 WHERE k % 7 <> 0 AND n BETWEEN 10 AND 12),
        |dels AS (
        |  SELECT k, 2 AS v FROM base WHERE k % 10 = 0
        |  UNION ALL SELECT k, 3 FROM v2 WHERE k % 7 = 0),
        |w AS (SELECT k, v AS valid_from, b,
        |  lead(v) OVER (PARTITION BY k ORDER BY v) AS next_open FROM opens),
        |scd AS (SELECT w.k, w.valid_from, w.b,
        |  COALESCE(w.next_open, d.v) AS valid_to
        |  FROM w LEFT JOIN dels d ON w.k = d.k AND d.v > w.valid_from
        |    AND (w.next_open IS NULL OR d.v < w.next_open))
        |SELECT CAST(valid_from AS BIGINT) AS valid_from,
        |  CAST(COALESCE(valid_to, -1) AS BIGINT) AS valid_to,
        |  CAST(count(*) AS BIGINT) AS n_rows,
        |  round(CAST(sum(b) AS DOUBLE), 2) AS bal_sum
        |FROM scd GROUP BY 1, 2""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      import graft.ops.{ChangeFeed, VersionedTable}
      val root = scratch(s, dir, "q211")
      cdfVersions(s, dir, root)
      val feed = ChangeFeed.tableChanges(s, root, 0L, 3L, Seq("k"))
        .localCheckpoint()
      val ct = col(ChangeFeed.ChangeType)
      val cv = col(ChangeFeed.CommitVersion)
      // conservation law: |v_i| = |v_{i-1}| + inserts - deletes
      val deltas = feed.groupBy(cv.as("v"))
        .agg(sum(when(ct === "insert", 1).when(ct === "delete", -1)
          .otherwise(0)).cast("long").as("d"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      var running = 0L
      for (v <- 1L to 3L) {
        running += deltas.getOrElse(v, 0L)
        require(VersionedTable.readVersion(s, root, v).count() == running,
          s"q211: feed conservation law broken at v$v")
      }
      // SCD2: opens/closes straight off the feed
      val opens = feed.filter(ct.isin("insert", "update_postimage"))
        .select(col("k"), cv.as("valid_from"), col("b"))
        .withColumn("next_open", lead(col("valid_from"), 1).over(
          Window.partitionBy(col("k")).orderBy(col("valid_from"))))
      val dels = feed.filter(ct === "delete").select(col("k"), cv.as("dv"))
      val scd = opens.join(dels,
          opens("k") === dels("k") && col("dv") > col("valid_from") &&
            (col("next_open").isNull || col("dv") < col("next_open")), "left")
        .select(opens("k"), col("valid_from"), col("b"),
          coalesce(col("next_open"), col("dv")).as("valid_to"))
        .localCheckpoint()
      // current windows == the live snapshot, bit-exactly
      val current = scd.filter(col("valid_to").isNull)
        .select(col("k"), col("b"))
      val live = VersionedTable.readVersion(s, root, 3L).select(col("k"), col("b"))
      require(Q.sameMultiset(current, live),
        "q211: current SCD2 windows must equal the live snapshot")
      scd.groupBy(col("valid_from"),
          coalesce(col("valid_to"), lit(-1L)).as("valid_to"))
        .agg(count(lit(1)).cast("bigint").as("n_rows"),
          round(sum(col("b")).cast("double"), 2).as("bal_sum"))
    },

    // ---------------------------------------------------------------- q209
    // VACUUM / retention on the versioned table (Delta's VACUUM + Iceberg's
    // expire_snapshots): four committed versions, then `gc(keep = 2)` —
    // exactly the two oldest version dirs are physically deleted (file
    // inventory checked), the live pointer and both retained snapshots
    // read back exactly, and time travel OUTSIDE the retention window
    // fails loudly instead of returning a torn or empty frame (the
    // silent-empty failure mode is the dangerous one at 100 TB, where a
    // reader of an expired snapshot must halt a backfill, not fabricate
    // zero rows). The oracle recomputes both retained snapshots from the
    // base table.
    Q("q209_vacuum_retention",
      """WITH v1 AS (SELECT o_orderkey AS okey, o_orderpriority AS opri
        |            FROM orders),
        |v2 AS (SELECT * FROM v1 WHERE okey % 2 = 0),
        |v3 AS (SELECT * FROM v2 WHERE opri <> '1-URGENT'),
        |v4 AS (SELECT * FROM v3 WHERE okey % 3 = 0)
        |SELECT CAST(3 AS BIGINT) AS version,
        |  CAST(count(*) AS BIGINT) AS n_rows, CAST(sum(okey) AS BIGINT) AS key_sum
        |FROM v3
        |UNION ALL
        |SELECT CAST(4 AS BIGINT), CAST(count(*) AS BIGINT),
        |  CAST(sum(okey) AS BIGINT) FROM v4""".stripMargin) { (s, dir) =>
      import graft.ops.VersionedTable
      val root = scratch(s, dir, "q209")
      val v1 = Tables.load(s, dir, "orders")
        .select(col("o_orderkey").as("okey"), col("o_orderpriority").as("opri"))
      VersionedTable.write(v1, root)
      VersionedTable.write(
        VersionedTable.read(s, root).filter(col("okey") % 2 === 0), root)
      VersionedTable.write(
        VersionedTable.read(s, root).filter(col("opri") =!= "1-URGENT"), root)
      VersionedTable.write(
        VersionedTable.read(s, root).filter(col("okey") % 3 === 0), root)
      require(VersionedTable.gc(s, root, keep = 2) == 2,
        "q209: retention must expire exactly the two oldest versions")
      // physical inventory: only _v-00000003 / _v-00000004 remain
      val fsys = new org.apache.hadoop.fs.Path(root)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      val left = fsys.globStatus(new org.apache.hadoop.fs.Path(root, "_v-*"))
        .map(_.getPath.getName).sorted.toSeq
      require(left == Seq("_v-00000003", "_v-00000004"),
        s"q209: expired version dirs must be physically gone, found $left")
      // outside the window: loud failure, never a fabricated empty frame
      val expired = try { VersionedTable.readVersion(s, root, 2L); false }
      catch { case _: Throwable => true }
      require(expired, "q209: reading an expired snapshot must fail loudly")
      // the retained window still reads exactly
      def snap(v: Long) = VersionedTable.readVersion(s, root, v)
        .agg(count(lit(1)).cast("bigint").as("n_rows"),
          sum(col("okey")).cast("bigint").as("key_sum"))
        .select(lit(v).as("version"), col("n_rows"), col("key_sum"))
      require(VersionedTable.currentVersion(s, root).contains(4L),
        "q209: gc must never move the live pointer")
      snap(3L).unionAll(snap(4L))
    },

    // ---------------------------------------------------------------- q203
    // STREAMING consumption of the change feed: the `_v-*/_cdf` spool is a
    // CDC topic — a parquet file-stream source discovers each commit's
    // change files as they land (capture is atomic-with-the-version, so a
    // discovered file is always a committed change), and a foreachBatch
    // sink folds each micro-batch into the maintained view with the same
    // delta rule as q201. The additive fold is order- and partition-
    // independent, so maxFilesPerTrigger may split one commit across
    // micro-batches (and it does — a require pins >= 2 batches) without
    // affecting the result. Mid-stream a NEW commit lands (v4 deletes two
    // whole nations) and the running query picks it up — group death
    // through the stream. The final view must equal a full recompute of v4
    // bit-exactly. This is the Delta "streaming from table changes"
    // pattern; at 100 TB the consumer reads O(changes) per trigger and
    // never rescans the table. The oracle rebuilds v4 and aggregates it.
    Q("q203_streaming_change_feed",
      """WITH base AS (SELECT CAST(c_custkey AS BIGINT) AS k,
        |    CAST(c_nationkey AS INT) AS n, CAST(c_acctbal AS DECIMAL(12,2)) AS b
        |  FROM customer),
        |sh AS (SELECT max(k) + 1 AS s FROM base),
        |v2 AS (
        |  SELECT k, n, CASE WHEN n <= 5 THEN CAST(b + 100 AS DECIMAL(12,2))
        |    ELSE b END AS b
        |  FROM base WHERE k % 10 <> 0
        |  UNION ALL
        |  SELECT k + (SELECT s FROM sh) AS k, n, b FROM base WHERE n >= 20),
        |v3 AS (
        |  SELECT k, n, CASE WHEN n BETWEEN 10 AND 12
        |    THEN CAST(b + 7.5 AS DECIMAL(12,2)) ELSE b END AS b
        |  FROM v2 WHERE k % 7 <> 0),
        |v4 AS (SELECT k, n, b FROM v3 WHERE n < 23)
        |SELECT n, CAST(count(*) AS BIGINT) AS n_rows,
        |  round(CAST(sum(b) AS DOUBLE), 2) AS bal_sum
        |FROM v4 GROUP BY 1""".stripMargin) { (s, dir) =>
      import graft.ops.{ChangeFeed, IncrementalView, VersionedTable}
      Q.withNarrowShuffle(s) {
      val root = scratch(s, dir, "q203")
      cdfVersions(s, dir, root)
      val spec = IncrementalView.Spec(Seq("n"), Seq("bal" -> col("b")))
      var view = IncrementalView.full(
        VersionedTable.readVersion(s, root, 1L), spec).localCheckpoint()
      var batches = 0L
      // streaming reads never infer — declare the spool schema from one
      // committed capture
      val changeSchema = s.read.parquet(s"$root/_v-*/_cdf").schema
      val q = s.readStream.schema(changeSchema)
        .option("maxFilesPerTrigger", 4)
        .parquet(s"$root/_v-*/_cdf")
        .writeStream
        .option("checkpointLocation", s"$root/_ckpt")
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          if (!batch.isEmpty) {
            batches += 1
            view = IncrementalView.merge(
              view, IncrementalView.delta(batch, spec), spec).localCheckpoint()
          }
        }.start()
      try {
        q.processAllAvailable() // v2 + v3 changes consumed
        // a new commit lands while the query runs: two nations deleted
        val v4 = VersionedTable.read(s, root).filter(col("n") < 23)
        require(ChangeFeed.commit(v4, root, Seq("k")) == 4L,
          "q203: the mid-stream commit must be v4")
        q.processAllAvailable()
      } finally q.stop()
      val direct = IncrementalView.full(
        VersionedTable.readVersion(s, root, 4L), spec)
      require(Q.sameMultiset(view, direct),
        "q203: the stream-maintained view must equal the full recompute exactly")
      require(batches >= 2,
        s"q203: the fold must span multiple micro-batches, got $batches")
      require(view.filter(col("n") >= 23).isEmpty,
        "q203: deleted nations must leave the view, not zero out")
      view.select(col("n"), col(IncrementalView.NCol).as("n_rows"),
        round(col("bal").cast("double"), 2).as("bal_sum"))
      }
    },

    // ---------------------------------------------------------------- q221
    // NATIVE change-feed streaming source (the public Delta-source design
    // as a DSv2 MicroBatchStream, source/CdfStreamDsv2.scala): offsets ARE
    // version numbers, so the checkpoint records "consumed through v" and
    // a restart resumes from exactly the next commit; maxVersionsPerTrigger
    // is per-trigger admission control; a gc'd or capture-less version
    // inside the range fails the stream LOUDLY (the q209 contiguity
    // contract, now enforced at the source). This replaces q203's parquet
    // glob, which discovered files but had no version protocol. The entry
    // drives the full lifecycle: v2+v3 consumed one version per trigger
    // (pinned), a mid-stream commit (v4) picked up by the running query, a
    // commit landing while the stream is DOWN (v5), and a checkpointed
    // restart that consumes ONLY v5 — no replay, no loss (both pinned by
    // the versions-seen ledger). The maintained view must equal a full
    // recompute of v5 bit-exactly. The oracle rebuilds v5 and aggregates.
    Q("q221_native_cdf_stream",
      """WITH base AS (SELECT CAST(c_custkey AS BIGINT) AS k,
        |    CAST(c_nationkey AS INT) AS n, CAST(c_acctbal AS DECIMAL(12,2)) AS b
        |  FROM customer),
        |sh AS (SELECT max(k) + 1 AS s FROM base),
        |v2 AS (
        |  SELECT k, n, CASE WHEN n <= 5 THEN CAST(b + 100 AS DECIMAL(12,2))
        |    ELSE b END AS b
        |  FROM base WHERE k % 10 <> 0
        |  UNION ALL
        |  SELECT k + (SELECT s FROM sh) AS k, n, b FROM base WHERE n >= 20),
        |v3 AS (
        |  SELECT k, n, CASE WHEN n BETWEEN 10 AND 12
        |    THEN CAST(b + 7.5 AS DECIMAL(12,2)) ELSE b END AS b
        |  FROM v2 WHERE k % 7 <> 0),
        |v4 AS (SELECT k, n, b FROM v3 WHERE n < 23),
        |v5 AS (SELECT k, n, b FROM v4 WHERE k % 5 <> 0)
        |SELECT n, CAST(count(*) AS BIGINT) AS n_rows,
        |  round(CAST(sum(b) AS DOUBLE), 2) AS bal_sum
        |FROM v5 GROUP BY 1""".stripMargin) { (s, dir) =>
      import graft.ops.{ChangeFeed, IncrementalView, VersionedTable}
      import graft.source.CdfStream
      Q.withNarrowShuffle(s) {
      val root = scratch(s, dir, "q221")
      val ckpt = s"$root/_stream_ckpt"
      cdfVersions(s, dir, root)
      val spec = IncrementalView.Spec(Seq("n"), Seq("bal" -> col("b")))
      var view = IncrementalView.full(
        VersionedTable.readVersion(s, root, 1L), spec).localCheckpoint()
      val versionsSeen = collection.mutable.ArrayBuffer.empty[(Long, Seq[Long])]
      def fold(batch: org.apache.spark.sql.DataFrame, id: Long): Unit =
        if (!batch.isEmpty) {
          val b = batch.localCheckpoint()
          versionsSeen.synchronized {
            versionsSeen += id -> b.select(col(ChangeFeed.CommitVersion))
              .distinct().collect().map(_.getLong(0)).toSeq.sorted
          }
          view = IncrementalView.merge(
            view, IncrementalView.delta(b.drop(ChangeFeed.CommitVersion), spec),
            spec).localCheckpoint()
        }
      def open() = CdfStream.read(s, root, startingVersion = Some(1L),
          maxVersionsPerTrigger = Some(1))
        .writeStream.option("checkpointLocation", ckpt)
        .foreachBatch(fold _).start()
      val q = open()
      try {
        q.processAllAvailable() // v2, v3 — one version per trigger
        require(versionsSeen.forall(_._2.size == 1),
          s"q221: admission control must cap each trigger at one version: $versionsSeen")
        require(versionsSeen.flatMap(_._2).sorted == Seq(2L, 3L),
          s"q221: v2 and v3 expected before the mid-stream commit: $versionsSeen")
        // a commit lands while the query RUNS: two nations deleted
        require(ChangeFeed.commit(
          VersionedTable.read(s, root).filter(col("n") < 23), root, Seq("k")) == 4L,
          "q221: the mid-stream commit must be v4")
        q.processAllAvailable()
        require(versionsSeen.flatMap(_._2).sorted == Seq(2L, 3L, 4L),
          s"q221: the running stream must pick up v4: $versionsSeen")
      } finally q.stop()
      // a commit lands while the stream is DOWN; the checkpointed offset
      // (a version number) makes the restart consume exactly v5
      require(ChangeFeed.commit(
        VersionedTable.read(s, root).filter(col("k") % 5 =!= 0), root, Seq("k")) == 5L,
        "q221: the while-down commit must be v5")
      versionsSeen.clear()
      val q2 = open()
      try q2.processAllAvailable() finally q2.stop()
      require(versionsSeen.flatMap(_._2).sorted == Seq(5L),
        s"q221: restart must resume from the checkpointed version, got $versionsSeen")
      // NOT overlapped with the restart run (round-14 note): a concurrent
      // recompute contends with processAllAvailable's micro-batch
      // scheduling and measured SLOWER — AvailableNow streams tolerate the
      // overlap, continuous-trigger streams don't
      val direct = IncrementalView.full(
        VersionedTable.readVersion(s, root, 5L), spec)
      require(Q.sameMultiset(view, direct),
        "q221: the stream-maintained view must equal the full recompute exactly")
      view.select(col("n"), col(IncrementalView.NCol).as("n_rows"),
        round(col("bal").cast("double"), 2).as("bal_sum"))
      }
    },

    // ---------------------------------------------------------------- q222
    // CDF capture UNDER optimistic concurrency (Delta's rebase contract,
    // ops/Occ.scala captureKeys): each commit ATTEMPT diffs its staged
    // snapshot against the base it read and stages the capture inside the
    // stage dir, so the atomic claim + idempotent rename carry data and
    // feed together — a version is never live without its change files,
    // under any interleaving. The entry races two disjoint writers (B
    // commits inside A's stage-to-claim window, A rebases exactly once —
    // pinned), then requires the REBASED v3 capture to equal the snapshot
    // diff against the WINNER's v2 (a stale diff against v1 would claim
    // update preimages B already changed), feed replay v1→v3 to land on
    // the live table bit-exactly, and an overlapping third writer to fail
    // cleanly leaving zero stages. Scale shape: capture reuses the diff
    // shuffle the merge pays anyway; a rebase pays one extra staged write —
    // the price of lock-freedom. The oracle composes both disjoint
    // mutations on the base table.
    Q("q222_occ_cdf_rebase",
      """WITH base AS (SELECT CAST(c_custkey AS BIGINT) AS k,
        |    CAST(c_nationkey AS INT) AS n, CAST(c_acctbal AS DECIMAL(12,2)) AS b
        |  FROM customer),
        |final AS (SELECT k, n,
        |  CASE WHEN n >= 20 THEN CAST(b + 100 AS DECIMAL(12,2))
        |       WHEN n <= 5 THEN CAST(b + 7.5 AS DECIMAL(12,2))
        |       ELSE b END AS b
        |  FROM base)
        |SELECT n, CAST(count(*) AS BIGINT) AS n_rows,
        |  round(CAST(sum(b) AS DOUBLE), 2) AS bal_sum
        |FROM final GROUP BY 1""".stripMargin) { (s, dir) =>
      import graft.ops.{ChangeFeed, Occ, VersionedTable}
      val root = scratch(s, dir, "q222")
      val keys = Some(Seq("k"))
      val base = Tables.load(s, dir, "customer")
        .select(col("c_custkey").cast("long").as("k"),
          col("c_nationkey").cast("int").as("n"),
          col("c_acctbal").cast("decimal(12,2)").as("b"))
      Occ.commit(s, root, Set("*"), keys)(_ => base)
      def bump(cond: org.apache.spark.sql.Column, by: String)(
          snap: Option[org.apache.spark.sql.DataFrame]) =
        snap.get.withColumn("b", when(cond,
          col("b") + lit(new java.math.BigDecimal(by)))
          .otherwise(col("b")).cast("decimal(12,2)"))
      var fired = false
      val a = Occ.commit(s, root, Set("lo"), keys)(
        bump(col("n") <= 5, "7.5"),
        hook = () => if (!fired) {
          fired = true // B wins the race inside A's stage-to-claim window
          Occ.commit(s, root, Set("hi"), keys)(bump(col("n") >= 20, "100")); ()
        })
      require(a.rebased == 1 && a.version == 3L,
        s"q222: A must land as v3 after exactly one rebase, got $a")
      // the rebased capture was recomputed against the winner's snapshot
      for (v <- 2L to 3L) {
        val cap = ChangeFeed.tableChanges(s, root, v - 1, v, Seq("k"))
          .drop(ChangeFeed.CommitVersion)
        val dif = ChangeFeed.snapshotDiff(s, root, v, Seq("k"))
        require(Q.sameMultiset(cap, dif),
          s"q222: v$v capture must equal its snapshot diff")
      }
      val replayed = ChangeFeed.apply(
        Some(VersionedTable.readVersion(s, root, 1L)),
        ChangeFeed.tableChanges(s, root, 1L, 3L, Seq("k")), Seq("k"))
      val live = VersionedTable.read(s, root)
      require(Q.sameMultiset(replayed, live),
        "q222: v1 + feed must reproduce the raced-to snapshot")
      // negative control: an overlapping writer fails cleanly, no torn state
      val clash = try {
        Occ.commit(s, root, Set("lo"), keys)(bump(col("n") <= 5, "1"),
          hook = () => { Occ.commit(s, root, Set("lo"), keys)(
            bump(col("n") <= 2, "2")); () })
        false
      } catch { case _: Occ.CommitConflictException => true }
      require(clash, "q222: overlapping write sets must conflict")
      require(Occ.sweepStages(s, root) == 0,
        "q222: the conflict loser must have deleted its own stage")
      VersionedTable.readVersion(s, root, 3L)
        .groupBy(col("n"))
        .agg(count(lit(1)).cast("bigint").as("n_rows"),
          round(sum(col("b")).cast("double"), 2).as("bal_sum"))
    },

    // ---------------------------------------------------------------- q223
    // Timestamp-bounded table_changes (Delta's timestamp form of CDF,
    // composed from q220's monotonic _commit_ts stamps and the q200 feed):
    // `tableChangesBetween(fromTs, toTs)` resolves the instants to the
    // version range [earliest commit >= fromTs, latest commit <= toTs] and
    // reads it through the same contiguity-guarded feed. The entry pins
    // the resolution against the version form (bit-equal), then the three
    // loud-failure edges: a window ending before the first retained commit,
    // a window starting after the last commit, and an empty between-commits
    // window — each the silent-corruption path if it returned an empty
    // frame instead. Timestamps are runtime values, so they only pick the
    // window; the OUTPUT is the deterministic v2+v3 change accounting the
    // oracle rebuilds (same change model as q200, scoped to v2..v3).
    Q("q223_cdf_between_timestamps",
      """WITH base AS (SELECT CAST(c_custkey AS BIGINT) AS k,
        |    CAST(c_nationkey AS INT) AS n, CAST(c_acctbal AS DECIMAL(12,2)) AS b
        |  FROM customer),
        |sh AS (SELECT max(k) + 1 AS s FROM base),
        |v2 AS (
        |  SELECT k, n, CASE WHEN n <= 5 THEN CAST(b + 100 AS DECIMAL(12,2))
        |    ELSE b END AS b
        |  FROM base WHERE k % 10 <> 0
        |  UNION ALL
        |  SELECT k + (SELECT s FROM sh) AS k, n, b FROM base WHERE n >= 20),
        |changes AS (
        |  SELECT 2 AS v, 'delete' AS t, b FROM base WHERE k % 10 = 0
        |  UNION ALL SELECT 2, 'update_preimage', b
        |    FROM base WHERE k % 10 <> 0 AND n <= 5
        |  UNION ALL SELECT 2, 'update_postimage', CAST(b + 100 AS DECIMAL(12,2))
        |    FROM base WHERE k % 10 <> 0 AND n <= 5
        |  UNION ALL SELECT 2, 'insert', b FROM base WHERE n >= 20
        |  UNION ALL SELECT 3, 'delete', b FROM v2 WHERE k % 7 = 0
        |  UNION ALL SELECT 3, 'update_preimage', b
        |    FROM v2 WHERE k % 7 <> 0 AND n BETWEEN 10 AND 12
        |  UNION ALL SELECT 3, 'update_postimage', CAST(b + 7.5 AS DECIMAL(12,2))
        |    FROM v2 WHERE k % 7 <> 0 AND n BETWEEN 10 AND 12)
        |SELECT CAST(v AS BIGINT) AS commit_version, t AS change_type,
        |  CAST(count(*) AS BIGINT) AS n_rows,
        |  round(CAST(sum(b) AS DOUBLE), 2) AS bal_sum
        |FROM changes GROUP BY 1, 2""".stripMargin) { (s, dir) =>
      import graft.ops.{ChangeFeed, VersionedTable}
      val root = scratch(s, dir, "q223")
      cdfVersions(s, dir, root)
      val ts = (1L to 3L).map(v =>
        v -> VersionedTable.commitTimestamp(s, root, v).get).toMap
      // the timestamp window [t(v2), t(v3)] resolves to versions 2..3 and
      // must equal the version form bit-exactly
      val byTs = ChangeFeed.tableChangesBetween(s, root, ts(2L), ts(3L), Seq("k"))
      val byV = ChangeFeed.tableChanges(s, root, 1L, 3L, Seq("k"))
      require(Q.sameMultiset(byTs, byV),
        "q223: the timestamp window must resolve to the same feed as the version range")
      def loud(f: => Any): Boolean = try { f; false } catch { case _: Throwable => true }
      require(loud(ChangeFeed.tableChangesBetween(
        s, root, ts(1L) - 10, ts(1L) - 1, Seq("k"))),
        "q223: a window before the first retained commit must fail loudly")
      require(loud(ChangeFeed.tableChangesBetween(
        s, root, ts(3L) + 1, ts(3L) + 10, Seq("k"))),
        "q223: a window after the last commit must fail loudly")
      // an empty between-commits window (when the stamps leave a gap)
      if (ts(3L) - ts(2L) >= 2)
        require(loud(ChangeFeed.tableChangesBetween(
          s, root, ts(2L) + 1, ts(3L) - 1, Seq("k"))),
          "q223: a window containing no commits must fail loudly")
      byTs.groupBy(col(ChangeFeed.CommitVersion).as("commit_version"),
          col(ChangeFeed.ChangeType).as("change_type"))
        .agg(count(lit(1)).cast("bigint").as("n_rows"),
          round(sum(col("b")).cast("double"), 2).as("bal_sum"))
    },

    // ---------------------------------------------------------------- q224
    // DELETION VECTORS (ops/DeletionVectors.scala — the public Delta /
    // Iceberg-v3 row-bitmap design): a delete commit mutates ZERO data
    // bytes — every data file rides into the next version as a raw byte
    // copy (name+size+checksum pinned in-query) and the deleted positions
    // land as a RoaringBitmap-per-file `_dv` parquet sidecar; readers
    // apply the vectors through `_metadata.row_index` as a declarative
    // anti-join that is O(deleted), never O(table). The entry drives the
    // full lifecycle: DV delete with CDF capture (feed replay onto v1
    // lands on the DV-applied snapshot), a SECOND delete that unions
    // bitmaps (re-deleting dead rows is a no-op — cardinality pinned),
    // the sidecar beating the equivalent position-delete parquet on bytes
    // (the format's reason to exist), and compaction folding the vectors
    // into clean files with an EMPTY capture (dataChange=false) through
    // the pointer flip. At 100 TB this is kilobytes of bitmap instead
    // of re-encoded terabytes per compliance delete. The oracle applies
    // both delete predicates to the base table.
    Q("q224_deletion_vectors",
      """WITH v1 AS (SELECT CAST(o_orderkey AS BIGINT) AS okey,
        |    o_orderpriority AS opri,
        |    CAST(o_totalprice AS DECIMAL(12,2)) AS total
        |  FROM orders),
        |v3 AS (SELECT * FROM v1 WHERE okey % 10 <> 0 AND okey % 7 <> 0)
        |SELECT opri, CAST(count(*) AS BIGINT) AS n_rows,
        |  round(CAST(sum(total) AS DOUBLE), 2) AS total_sum
        |FROM v3 GROUP BY 1""".stripMargin) { (s, dir) =>
      import graft.ops.{ChangeFeed, DeletionVectors, VersionedTable}
      val root = scratch(s, dir, "q224")
      val fsys = new org.apache.hadoop.fs.Path(root)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      def dataFiles(v: Long) =
        GraftMeta.dataFiles(fsys, VersionedTable.verDir(root, v))
          .map(st => st.getPath.getName -> st.getLen).toMap
      val base = Tables.load(s, dir, "orders")
        .select(col("o_orderkey").cast("long").as("okey"),
          col("o_orderpriority").as("opri"),
          col("o_totalprice").cast("decimal(12,2)").as("total"))
        .repartition(4)
      VersionedTable.write(base, root)
      val inventory1 = dataFiles(1L)
      val (v2, n1) = DeletionVectors.delete(s, root, col("okey") % 10 === 0,
        capture = true)
      require(v2 == 2L && n1 > 0, "q224: the first DV delete must land as v2")
      require(dataFiles(2L) == inventory1,
        "q224: a DV delete must carry every data file as a raw copy")
      inventory1.keys.foreach { f =>
        require(fsys.getFileChecksum(new org.apache.hadoop.fs.Path(
            VersionedTable.verDir(root, 1L), f)) ==
          fsys.getFileChecksum(new org.apache.hadoop.fs.Path(
            VersionedTable.verDir(root, 2L), f)),
          s"q224: data file $f must be byte-identical across the delete")
      }
      // the feed captured exactly the deletes; replay lands on the DV read
      val feed = ChangeFeed.tableChanges(s, root, 1L, 2L, Seq("okey"))
      require(feed.filter(col(ChangeFeed.ChangeType) =!= "delete").isEmpty,
        "q224: a DV delete captures only delete rows")
      val replayed = ChangeFeed.apply(
        Some(VersionedTable.readVersion(s, root, 1L)), feed, Seq("okey"))
      val dvRead = DeletionVectors.readVersion(s, root, 2L)
      require(Q.sameMultiset(replayed, dvRead),
        "q224: feed replay must land on the DV-applied snapshot")
      // the bitmap ENCODING undercuts a position list at every scale: the
      // serialized bitmaps must beat 8 bytes per deleted position
      val bmBytes = DeletionVectors.vectors(s, root, 2L)
        .agg(sum(length(col("bitmap")))).head.getLong(0)
      require(bmBytes < 8L * n1,
        s"q224: bitmap payload ($bmBytes B) must beat an 8 B/position list " +
          s"(${8L * n1} B)")
      // artifact-level comparison only once payload dominates parquet
      // framing (~1.5 KB fixed per file) — at tiny SF the fixed overhead
      // of BOTH artifacts swamps the encoding under test
      if (n1 >= 2000) {
        val dvBytes = fsys.getContentSummary(new org.apache.hadoop.fs.Path(
          VersionedTable.verDir(root, 2L), "_dv")).getLength
        val posDir = s"$root/_pos_equiv"
        VersionedTable.readVersion(s, root, 1L)
          .withColumn("file", col("_metadata.file_name"))
          .withColumn("pos", col("_metadata.row_index"))
          .filter(col("okey") % 10 === 0).select("file", "pos")
          .coalesce(1).write.mode("overwrite").parquet(posDir)
        val posBytes = fsys.getContentSummary(
          new org.apache.hadoop.fs.Path(posDir)).getLength
        require(dvBytes < posBytes,
          s"q224: bitmap sidecar ($dvBytes B) must undercut position-delete " +
            s"parquet ($posBytes B)")
      }
      // second delete unions bitmaps; already-dead rows are no-ops
      val expected2 = DeletionVectors.read(s, root)
        .filter(col("okey") % 7 === 0).count()
      val (v3, n2) = DeletionVectors.delete(s, root, col("okey") % 7 === 0,
        capture = true)
      require(v3 == 3L && n2 == expected2,
        s"q224: the union delete must count only live rows ($expected2), got $n2")
      // compaction folds the vectors: clean files, no sidecar, empty capture
      val v4 = DeletionVectors.compact(s, root, numFiles = 2, capture = true)
      require(!fsys.exists(new org.apache.hadoop.fs.Path(
        VersionedTable.verDir(root, v4), "_dv")),
        "q224: compaction must drop the vectors")
      require(ChangeFeed.tableChanges(s, root, v4 - 1, v4, Seq("okey")).isEmpty,
        "q224: compaction is dataChange=false — empty capture")
      val folded = VersionedTable.read(s, root)
      val viaDv = DeletionVectors.readVersion(s, root, 3L)
      require(Q.sameMultiset(folded, viaDv),
        "q224: compaction must preserve the DV-applied content exactly")
      folded.groupBy(col("opri"))
        .agg(count(lit(1)).cast("bigint").as("n_rows"),
          round(sum(col("total")).cast("double"), 2).as("total_sum"))
    },

    // ---------------------------------------------------------------- q225
    // COLUMN MAPPING (ops/ColumnMapping.scala — Delta's public rename/drop
    // evolution design): stable column ids, physical `c_<id>` names in the
    // files, logical names in a per-version `_schema` manifest, and a
    // lifetime max-id high-water mark so a re-added name never reuses a
    // dropped id (which would leak the dead column's bytes into it).
    // RENAME and DROP are METADATA-ONLY commits — the entry pins their
    // version dirs to exactly {_schema, _data_from, _SUCCESS, _commit_ts}
    // — zero data bytes for a DDL that rewrites terabytes under
    // copy-on-write. Time travel renders every version under ITS OWN
    // names (pinned for v1/v3/v4); CDF capture is stored under physical
    // names (id-stable across renames) and table_changes renders all
    // captures under the END manifest, so the v2 update captured as `b`
    // reads back as `bal`, the dropped `n` vanishes from every change
    // row, and a replay from the pre-evolution v1 base lands bit-exactly
    // on the evolved live snapshot. The oracle applies both data
    // mutations and renders the end schema.
    Q("q225_column_mapping",
      """WITH base AS (SELECT CAST(c_custkey AS BIGINT) AS k,
        |    CAST(c_nationkey AS INT) AS n, CAST(c_acctbal AS DECIMAL(12,2)) AS b
        |  FROM customer),
        |v2 AS (SELECT k, n, CASE WHEN n <= 5 THEN CAST(b + 100 AS DECIMAL(12,2))
        |    ELSE b END AS b FROM base),
        |v5 AS (SELECT k, b AS bal FROM v2 WHERE k % 7 <> 0)
        |SELECT k % 10 AS bucket, CAST(count(*) AS BIGINT) AS n_rows,
        |  round(CAST(sum(bal) AS DOUBLE), 2) AS bal_sum
        |FROM v5 GROUP BY 1""".stripMargin) { (s, dir) =>
      import graft.ops.{ChangeFeed, ColumnMapping, VersionedTable}
      val root = scratch(s, dir, "q225")
      val keys = Some(Seq("k"))
      val fsys = new org.apache.hadoop.fs.Path(root)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      val base = Tables.load(s, dir, "customer")
        .select(col("c_custkey").cast("long").as("k"),
          col("c_nationkey").cast("int").as("n"),
          col("c_acctbal").cast("decimal(12,2)").as("b"))
      require(ColumnMapping.writeData(base, root, keys) == 1L)
      require(ColumnMapping.writeData(
        ColumnMapping.read(s, root).withColumn("b",
          when(col("n") <= 5, col("b") + 100).otherwise(col("b"))
            .cast("decimal(12,2)")), root, keys) == 2L)
      require(ColumnMapping.rename(s, root, "b", "bal") == 3L)
      require(ColumnMapping.drop(s, root, "n") == 4L)
      require(ColumnMapping.writeData(
        ColumnMapping.read(s, root).filter(col("k") % 7 =!= 0), root, keys) == 5L)
      // metadata-only commits hold zero data bytes
      for (v <- 3L to 4L) {
        val names = fsys.listStatus(VersionedTable.verDir(root, v))
          .map(_.getPath.getName).toSet
        require(names == Set("_schema", "_data_from", "_SUCCESS", "_commit_ts"),
          s"q225: version $v must be metadata-only, found $names")
        require(ColumnMapping.dataVersion(s, root, v) == 2L,
          s"q225: version $v must be backed by v2's immutable files")
      }
      // time travel: each version under its own names
      require(ColumnMapping.readVersion(s, root, 1L).columns.toSeq ==
        Seq("k", "n", "b"), "q225: v1 reads under its original names")
      require(ColumnMapping.readVersion(s, root, 3L).columns.toSeq ==
        Seq("k", "n", "bal"), "q225: v3 sees the rename only")
      require(ColumnMapping.read(s, root).columns.toSeq == Seq("k", "bal"),
        "q225: the live schema is the evolved one")
      // the feed renders under the END manifest and replays across the DDL
      val changes = ColumnMapping.tableChanges(s, root, 1L, 5L)
      require(changes.columns.toSet ==
        Set("k", "bal", ChangeFeed.ChangeType, ChangeFeed.CommitVersion),
        s"q225: changes must render under the end manifest: ${changes.columns.toSeq}")
      require(changes.filter(col(ChangeFeed.CommitVersion).isin(3, 4)).isEmpty,
        "q225: metadata-only commits contribute zero change rows")
      val replayed = ChangeFeed.apply(
        Some(ColumnMapping.readVersionAs(s, root, 1L, 5L)), changes, Seq("k"))
      val live = ColumnMapping.read(s, root)
      require(Q.sameMultiset(replayed, live),
        "q225: replay from the pre-evolution base must land on the evolved snapshot")
      live.groupBy((col("k") % 10).as("bucket"))
        .agg(count(lit(1)).cast("bigint").as("n_rows"),
          round(sum(col("bal")).cast("double"), 2).as("bal_sum"))
    },

    // ---------------------------------------------------------------- q226
    // CATALOG-LEVEL optimistic concurrency (ops/SnapshotCatalog.commitOcc):
    // the claim/rebase protocol applied one level up, so two CROSS-TABLE
    // transactions race safely — each declares the tables it repins, the
    // manifest file's atomic create-if-absent IS the commit point (its
    // `#writes=` header carries the write set), and the pointer flip is
    // idempotent finalization. The entry races two disjoint transactions
    // (B repins `ord` inside A's read-to-claim window; A, repinning
    // `cust`, rebases exactly once and BOTH repins land in one manifest
    // lineage — pinned), then requires an overlapping third transaction
    // to fail cleanly with the winner's repin untouched, and reads both
    // tables THROUGH the catalog pins — the torn mid-migration state the
    // single-pointer design could never rule out across tables. Scale
    // shape: a catalog commit is one tiny file create regardless of table
    // sizes; contention cost is O(re-staged transaction), not a lock. The
    // oracle composes both transactions' table states.
    Q("q226_catalog_occ",
      """WITH cust AS (SELECT CAST(c_custkey AS BIGINT) AS k,
        |    CAST(c_nationkey AS INT) AS n, CAST(c_acctbal AS DECIMAL(12,2)) AS b
        |  FROM customer),
        |cust2 AS (SELECT k, n, CASE WHEN n <= 5 THEN CAST(b + 100 AS DECIMAL(12,2))
        |    ELSE b END AS b FROM cust),
        |ord2 AS (SELECT CAST(o_orderkey AS BIGINT) AS okey,
        |    CAST(o_totalprice AS DECIMAL(12,2)) AS total
        |  FROM orders WHERE o_orderpriority <> '1-URGENT')
        |SELECT 'cust' AS tbl, CAST(count(*) AS BIGINT) AS n_rows,
        |  round(CAST(sum(b) AS DOUBLE), 2) AS val_sum FROM cust2
        |UNION ALL
        |SELECT 'ord', CAST(count(*) AS BIGINT),
        |  round(CAST(sum(total) AS DOUBLE), 2) FROM ord2""".stripMargin) { (s, dir) =>
      import graft.ops.{SnapshotCatalog, VersionedTable}
      val root = scratch(s, dir, "q226")
      val (cat, tc, to) = (s"$root/cat", s"$root/cust", s"$root/ord")
      val cust = Tables.load(s, dir, "customer")
        .select(col("c_custkey").cast("long").as("k"),
          col("c_nationkey").cast("int").as("n"),
          col("c_acctbal").cast("decimal(12,2)").as("b"))
      val ord = Tables.load(s, dir, "orders")
        .select(col("o_orderkey").cast("long").as("okey"),
          col("o_orderpriority").as("opri"),
          col("o_totalprice").cast("decimal(12,2)").as("total"))
      VersionedTable.write(cust, tc)
      VersionedTable.write(ord, to)
      SnapshotCatalog.commitOcc(s, cat, Set("cust", "ord"))(_ =>
        Map("cust" -> 1L, "ord" -> 1L))
      // txn A repins cust; txn B wins the race on ord inside A's window
      // a catalog txn reads THROUGH ITS PINS, never the table pointer: the
      // loser's orphan table write moves the pointer, and a rebase reading
      // it would double-apply the mutation (caught by the oracle when this
      // entry was first written — the catalog is the read path for a reason)
      var fired = false
      val a = SnapshotCatalog.commitOcc(s, cat, Set("cust"))(
        ps => ps + ("cust" -> VersionedTable.write(
          VersionedTable.readVersion(s, tc, ps("cust")).withColumn("b",
            when(col("n") <= 5, col("b") + 100).otherwise(col("b"))
              .cast("decimal(12,2)")), tc)),
        hook = () => if (!fired) {
          fired = true
          SnapshotCatalog.commitOcc(s, cat, Set("ord"))(ps =>
            ps + ("ord" -> VersionedTable.write(
              VersionedTable.readVersion(s, to, ps("ord"))
                .filter(col("opri") =!= "1-URGENT"), to)))
          ()
        })
      require(a.rebased == 1,
        s"q226: A must rebase exactly once after B's disjoint win, got $a")
      val pins = SnapshotCatalog.current(s, cat).get._2
      require(pins("ord") == 2L && pins("cust") == 3L,
        s"q226: both repins must land (B's ord v2, A's re-staged cust v3): $pins")
      // overlapping transaction: clean failure, winner's repin untouched
      val clash = try {
        SnapshotCatalog.commitOcc(s, cat, Set("cust"))(
          ps => ps + ("cust" -> 9L),
          hook = () => { SnapshotCatalog.commitOcc(s, cat, Set("cust"))(ps =>
            ps + ("cust" -> VersionedTable.write(
              VersionedTable.readVersion(s, tc, ps("cust")), tc))); () })
        false
      } catch { case _: SnapshotCatalog.CatalogConflictException => true }
      require(clash, "q226: overlapping table sets must conflict")
      // the consistent cross-table read goes THROUGH the catalog pins
      val pc = SnapshotCatalog.readPinned(s, cat, "cust", tc)
      val po = SnapshotCatalog.readPinned(s, cat, "ord", to)
      pc.agg(count(lit(1)).cast("bigint").as("n_rows"),
          round(sum(col("b")).cast("double"), 2).as("val_sum"))
        .select(lit("cust").as("tbl"), col("n_rows"), col("val_sum"))
        .unionAll(po.agg(count(lit(1)).cast("bigint").as("n_rows"),
            round(sum(col("total")).cast("double"), 2).as("val_sum"))
          .select(lit("ord").as("tbl"), col("n_rows"), col("val_sum")))
    },

    // ---------------------------------------------------------------- q227
    // REFERENCE-AWARE retention (ops/ColumnMapping.gc): a kept
    // metadata-only version PINS its `_data_from` data version — the
    // cross-version reference the plain keep-window gc cannot see, and
    // the exact hole q225's design note called out: vacuum a
    // column-mapped table with the naive window and a live rename's
    // backing files vanish, unreadable table. The entry builds
    // data,data,RENAME,DROP (v1..v4), then gc(keep=2): the {v3,v4}
    // window both reference v2, so v2 SURVIVES outside the window and
    // only v1 dies (physical inventory pinned); reads through the
    // evolved schema and v3 time travel stay green. gc(keep=1) then
    // expires v3 while still pinning v2, and reading the expired v3
    // fails loudly — retention never silently breaks a reference. The
    // oracle renders the evolved end state.
    Q("q227_mapped_retention",
      """WITH base AS (SELECT CAST(c_custkey AS BIGINT) AS k,
        |    CAST(c_nationkey AS INT) AS n, CAST(c_acctbal AS DECIMAL(12,2)) AS b
        |  FROM customer),
        |v2 AS (SELECT k, n, CASE WHEN n <= 5 THEN CAST(b + 100 AS DECIMAL(12,2))
        |    ELSE b END AS b FROM base)
        |SELECT k % 10 AS bucket, CAST(count(*) AS BIGINT) AS n_rows,
        |  round(CAST(sum(b) AS DOUBLE), 2) AS bal_sum
        |FROM v2 GROUP BY 1""".stripMargin) { (s, dir) =>
      import graft.ops.{ColumnMapping, VersionedTable}
      val root = scratch(s, dir, "q227")
      val fsys = new org.apache.hadoop.fs.Path(root)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      val base = Tables.load(s, dir, "customer")
        .select(col("c_custkey").cast("long").as("k"),
          col("c_nationkey").cast("int").as("n"),
          col("c_acctbal").cast("decimal(12,2)").as("b"))
      ColumnMapping.writeData(base, root)
      ColumnMapping.writeData(
        ColumnMapping.read(s, root).withColumn("b",
          when(col("n") <= 5, col("b") + 100).otherwise(col("b"))
            .cast("decimal(12,2)")), root)
      ColumnMapping.rename(s, root, "b", "bal")
      ColumnMapping.drop(s, root, "n")
      require(ColumnMapping.gc(s, root, keep = 2) == 1,
        "q227: only v1 is reclaimable — v2 is pinned by the kept renames")
      val left = fsys.globStatus(new org.apache.hadoop.fs.Path(root, "_v-*"))
        .map(_.getPath.getName).sorted.toSeq
      require(left == Seq("_v-00000002", "_v-00000003", "_v-00000004"),
        s"q227: v2 must outlive the keep-window it backs, found $left")
      require(ColumnMapping.read(s, root).columns.toSeq == Seq("k", "bal"),
        "q227: the evolved live read survives retention")
      require(ColumnMapping.readVersion(s, root, 3L).columns.toSeq ==
        Seq("k", "n", "bal"), "q227: in-window time travel survives retention")
      require(ColumnMapping.gc(s, root, keep = 1) == 1,
        "q227: shrinking the window expires v3 only")
      require(VersionedTable.listVersions(fsys, root).toSet == Set(2L, 4L),
        "q227: v2 stays pinned by the live v4")
      val expired = try { ColumnMapping.readVersion(s, root, 3L).count(); false }
      catch { case _: Throwable => true }
      require(expired, "q227: reading an expired version must fail loudly")
      ColumnMapping.read(s, root)
        .groupBy((col("k") % 10).as("bucket"))
        .agg(count(lit(1)).cast("bigint").as("n_rows"),
          round(sum(col("bal")).cast("double"), 2).as("bal_sum"))
    },

    // ---------------------------------------------------------------- q228
    // Z-ORDER clustering (ops/ZOrder.scala — Delta OPTIMIZE ZORDER BY /
    // Iceberg sort-order, on the same min/max skipping sidecar): Morton-
    // interleave two quantized dimensions with pure Column bit-arithmetic
    // (codegen'd, no UDF) and range-partition on the curve, so every file
    // covers a RECTANGLE of (okey, ckey) space. The entry writes the same
    // orders slice twice at 16 files — linear-sorted by okey vs
    // z-ordered — and pins the asymmetry that justifies the layout: a
    // predicate on the SECOND dimension admits every linear file (each
    // stripe spans all of ckey; the index is honest, the layout is the
    // problem) but a strict subset of z-ordered files; a 2-D box prunes
    // files on BOTH layouts but both still return the identical result
    // (pruned scan + residual filter == direct filter, bit-exact, the
    // conservative-superset contract). At 100 TB z-ordering turns a
    // second-dimension scan from O(table) into O~(sqrt(files)) without
    // touching the index format. The oracle computes the box aggregate
    // with the same integer bounds arithmetic.
    Q("q228_zorder_skipping",
      """WITH o AS (SELECT CAST(o_orderkey AS BIGINT) AS okey,
        |    CAST(o_custkey AS BIGINT) AS ckey,
        |    CAST(o_totalprice AS DECIMAL(12,2)) AS total
        |  FROM orders),
        |b AS (SELECT min(okey) AS x0, max(okey) AS x1,
        |             min(ckey) AS y0, max(ckey) AS y1 FROM o),
        |box AS (SELECT x0 + (x1 - x0) // 4 AS xlo, x0 + (x1 - x0) * 3 // 8 AS xhi,
        |               y0 + (y1 - y0) // 2 AS ylo, y0 + (y1 - y0) * 5 // 8 AS yhi
        |        FROM b)
        |SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(okey) AS BIGINT) AS okey_sum,
        |  round(CAST(sum(total) AS DOUBLE), 2) AS total_sum
        |FROM o CROSS JOIN box
        |WHERE okey BETWEEN xlo AND xhi AND ckey BETWEEN ylo AND yhi""".stripMargin) { (s, dir) =>
      import graft.ops.{DataSkipping, ZOrder}
      val root = scratch(s, dir, "q228")
      val o = Tables.load(s, dir, "orders")
        .select(col("o_orderkey").cast("long").as("okey"),
          col("o_custkey").cast("long").as("ckey"),
          col("o_totalprice").cast("decimal(12,2)").as("total"))
      val b = o.agg(min(col("okey")), max(col("okey")),
        min(col("ckey")), max(col("ckey"))).head
      val (x0, x1, y0, y1) = (b.getLong(0), b.getLong(1), b.getLong(2), b.getLong(3))
      val (xLo, xHi) = (x0 + (x1 - x0) / 4, x0 + (x1 - x0) * 3 / 8)
      val (yLo, yHi) = (y0 + (y1 - y0) / 2, y0 + (y1 - y0) * 5 / 8)
      // the two layouts: identical rows, identical file count, same index
      val linDir = s"$root/linear"
      o.repartitionByRange(16, col("okey")).sortWithinPartitions("okey")
        .write.parquet(linDir)
      DataSkipping.writeStats(s, linDir, Seq("okey", "ckey"))
      val zDir = s"$root/zorder"
      ZOrder.cluster(o, zDir, "okey", "ckey", nFiles = 16)
      // second-dimension predicate: linear admits EVERYTHING, z a subset
      val (linY, linTotal) = DataSkipping.selectFiles(s, linDir, "ckey",
        lit(yLo), lit(yHi))
      val (zY, zTotal) = DataSkipping.selectFiles(s, zDir, "ckey",
        lit(yLo), lit(yHi))
      require(linTotal == 16 && zTotal == 16,
        s"q228: both layouts must hold 16 files ($linTotal, $zTotal)")
      require(linY.length == 16,
        s"q228: every okey-sorted stripe spans all of ckey, got ${linY.length}")
      require(zY.length < 16,
        s"q228: z-ordering must make ckey prunable, admitted ${zY.length}/16")
      // 2-D box: z prunes, and BOTH layouts return the identical rows
      val (zBox, _) = ZOrder.selectBox(s, zDir, "okey", lit(xLo), lit(xHi),
        "ckey", lit(yLo), lit(yHi))
      require(zBox.nonEmpty && zBox.length < 16,
        s"q228: the box must admit a strict subset, got ${zBox.length}")
      def boxFilter(df: org.apache.spark.sql.DataFrame) =
        df.filter(col("okey").between(xLo, xHi) && col("ckey").between(yLo, yHi))
      val direct = boxFilter(o)
      val viaZ = boxFilter(s.read.parquet(zBox: _*))
      val (linBoxFiles, _) = ZOrder.selectBox(s, linDir, "okey", lit(xLo),
        lit(xHi), "ckey", lit(yLo), lit(yHi))
      val viaLin = boxFilter(s.read.parquet(linBoxFiles: _*))
      require(Q.sameMultiset(viaZ, direct),
        "q228: the pruned z-order scan must equal the direct filter")
      require(Q.sameMultiset(viaLin, direct),
        "q228: the pruned linear scan must equal the direct filter")
      viaZ.agg(count(lit(1)).cast("bigint").as("n_rows"),
        sum(col("okey")).cast("bigint").as("okey_sum"),
        round(sum(col("total")).cast("double"), 2).as("total_sum"))
    },

    // ---------------------------------------------------------------- q229
    // SHALLOW CLONE (ops/Clone.scala — Delta's zero-copy clone): the
    // clone's v1 is a `_clone_src` pointer at the source's immutable
    // version dir — the entry pins the v1 inventory to exactly
    // {_clone_src, _SUCCESS, _commit_ts}, so cloning a 100 TB table costs
    // one file create. Reads resolve the indirection (clone == source v2
    // bit-exact, pinned); the first WRITE diverges the clone while the
    // source's live version and bytes stay untouched (pinned on both
    // sides); clone time travel to v1 still resolves through the source;
    // and when the source's retention expires the cloned version, the
    // clone's v1 read fails LOUDLY while its own diverged versions stay
    // self-contained — the reference rule every zero-copy design owes its
    // users. The oracle composes source-v2 + the divergent mutation.
    Q("q229_shallow_clone",
      """WITH src2 AS (SELECT CAST(o_orderkey AS BIGINT) AS okey,
        |    o_orderpriority AS opri,
        |    CAST(o_totalprice AS DECIMAL(12,2)) AS total
        |  FROM orders WHERE o_orderkey % 2 = 0),
        |diverged AS (SELECT okey, opri,
        |    CAST(total * 2 AS DECIMAL(12,2)) AS total FROM src2)
        |SELECT opri, CAST(count(*) AS BIGINT) AS n_rows,
        |  round(CAST(sum(total) AS DOUBLE), 2) AS total_sum
        |FROM diverged GROUP BY 1""".stripMargin) { (s, dir) =>
      import graft.ops.{Clone, VersionedTable}
      val root = scratch(s, dir, "q229")
      val (src, dst) = (s"$root/src", s"$root/clone")
      val fsys = new org.apache.hadoop.fs.Path(root)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      val base = Tables.load(s, dir, "orders")
        .select(col("o_orderkey").cast("long").as("okey"),
          col("o_orderpriority").as("opri"),
          col("o_totalprice").cast("decimal(12,2)").as("total"))
      VersionedTable.write(base, src)
      VersionedTable.write(
        VersionedTable.read(s, src).filter(col("okey") % 2 === 0), src) // src v2
      Clone.shallow(s, src, 2L, dst)
      val names = fsys.listStatus(VersionedTable.verDir(dst, 1L))
        .map(_.getPath.getName).toSet
      require(names == Set("_clone_src", "_SUCCESS", "_commit_ts"),
        s"q229: the clone's v1 must be metadata-only, found $names")
      val srcV2 = VersionedTable.readVersion(s, src, 2L)
      val cloneRead = Clone.read(s, dst)
      require(Q.sameMultiset(cloneRead, srcV2),
        "q229: the clone must read the source version checksum-exactly")
      // divergence: the clone's write never touches the source
      VersionedTable.write(
        Clone.read(s, dst).withColumn("total",
          (col("total") * 2).cast("decimal(12,2)")), dst)
      require(VersionedTable.currentVersion(s, src).contains(2L),
        "q229: the source's pointer must not move on a clone write")
      val srcAfter = VersionedTable.readVersion(s, src, 2L)
      require(Q.sameMultiset(srcAfter, srcV2),
        "q229: the source content must be untouched by the clone's divergence")
      require(Clone.readVersion(s, dst, 1L).exceptAll(srcV2).isEmpty,
        "q229: clone time travel to v1 still resolves through the source")
      // retention on the source expires the cloned version: loud failure,
      // while the diverged clone versions remain self-contained
      VersionedTable.write(
        VersionedTable.read(s, src).filter(col("okey") % 4 === 0), src) // src v3
      VersionedTable.gc(s, src, keep = 1)
      val expired = try { Clone.readVersion(s, dst, 1L).count(); false }
      catch { case _: Throwable => true }
      require(expired, "q229: a gc'd clone base must fail loudly, never fabricate")
      Clone.read(s, dst)
        .groupBy(col("opri"))
        .agg(count(lit(1)).cast("bigint").as("n_rows"),
          round(sum(col("total")).cast("double"), 2).as("total_sum"))
    },

    // ---------------------------------------------------------------- q230
    // CHECK CONSTRAINTS (ops/Constraints.scala — Delta's table-constraint
    // design): the registry rides inside each version dir (carried
    // forward like txn markers, atomic with the commit), and every write
    // through writeChecked verifies the FULL staged snapshot in ONE
    // aggregate pass before the flip — at 100 TB enforcement folds into
    // the write's own scan, no second job. Pinned in-query: a violating
    // append is rejected with per-check counts and the table is
    // UNTOUCHED (version and content); ADD CONSTRAINT validates existing
    // data in the same pass and rejects if history violates; SQL CHECK
    // semantics — only FALSE violates, NULL/UNKNOWN passes — via a
    // constraint that evaluates NULL on half the rows; and the registry
    // carries across commits that declare nothing. The oracle aggregates
    // the accepted final state.
    Q("q230_check_constraints",
      """WITH o AS (SELECT CAST(o_orderkey AS BIGINT) AS okey,
        |    o_orderpriority AS opri,
        |    CAST(o_totalprice AS DECIMAL(12,2)) AS total
        |  FROM orders),
        |v2 AS (SELECT okey, opri, total FROM o WHERE okey % 3 <> 0)
        |SELECT opri, CAST(count(*) AS BIGINT) AS n_rows,
        |  round(CAST(sum(total) AS DOUBLE), 2) AS total_sum
        |FROM v2 GROUP BY 1""".stripMargin) { (s, dir) =>
      import graft.ops.{Constraints, VersionedTable}
      val root = scratch(s, dir, "q230")
      val base = Tables.load(s, dir, "orders")
        .select(col("o_orderkey").cast("long").as("okey"),
          col("o_orderpriority").as("opri"),
          col("o_totalprice").cast("decimal(12,2)").as("total"))
      require(Constraints.writeChecked(base, root, Seq(
        "total_pos" -> "total > 0",
        "okey_nonneg" -> "okey >= 0", // testdata orderkeys start at 0
        "opri_domain" -> ("opri IN ('1-URGENT','2-HIGH','3-MEDIUM'," +
          "'4-NOT SPECIFIED','5-LOW')"))) == 1L,
        "q230: the clean base must pass its own constraints")
      // a violating append is rejected; the table is untouched
      val poison = s.createDataFrame(java.util.Arrays.asList(
        org.apache.spark.sql.Row(-7L, "9-BOGUS",
          new java.math.BigDecimal("-1.00"))), base.schema)
      val rejected = try {
        Constraints.writeChecked(
          VersionedTable.read(s, root).unionAll(poison), root)
        false
      } catch { case e: Constraints.ConstraintViolationException =>
        require(e.getMessage.contains("total_pos (1 rows)") &&
          e.getMessage.contains("okey_nonneg (1 rows)") &&
          e.getMessage.contains("opri_domain (1 rows)"),
          s"q230: the rejection must name every violated check: ${e.getMessage}")
        true
      }
      require(rejected, "q230: a violating write must throw")
      require(VersionedTable.currentVersion(s, root).contains(1L),
        "q230: a rejected write must leave the table untouched")
      // ADD CONSTRAINT validates history: okey % 3 <> 0 fails on v1 data
      val addRejected = try {
        Constraints.writeChecked(VersionedTable.read(s, root), root,
          Seq("no_thirds" -> "okey % 3 <> 0")); false
      } catch { case _: Constraints.ConstraintViolationException => true }
      require(addRejected, "q230: ADD CONSTRAINT must validate existing data")
      // after deleting the violating rows the same constraint lands, and a
      // NULL-evaluating check passes (SQL UNKNOWN semantics)
      require(Constraints.writeChecked(
        VersionedTable.read(s, root).filter(col("okey") % 3 =!= 0), root,
        Seq("no_thirds" -> "okey % 3 <> 0",
          "unknown_ok" -> "IF(okey % 2 = 0, total > 0, NULL)")) == 2L,
        "q230: the cleaned snapshot must satisfy the new constraints")
      require(Constraints.checksOf(s, root).map(_._1) ==
        Seq("total_pos", "okey_nonneg", "opri_domain", "no_thirds", "unknown_ok"),
        "q230: the registry must carry every constraint in order")
      VersionedTable.read(s, root)
        .groupBy(col("opri"))
        .agg(count(lit(1)).cast("bigint").as("n_rows"),
          round(sum(col("total")).cast("double"), 2).as("total_sum"))
    },

    // ---------------------------------------------------------------- q231
    // ROW TRACKING (ops/RowTracking.scala — Delta's public row-ID design):
    // every row owns a stable long `_row_id` minted from a per-table
    // high-water mark, preserved through merges (matched keys keep their
    // id even when every data column changes) and through layout rewrites
    // (compaction keeps ALL ids), so two versions diff by one long-keyed
    // join with no natural key and no stored capture. Pinned in-query:
    // (a) merge preserves ids for every surviving key and mints fresh ids
    // strictly above the hwm; (b) a compaction rewrite changes the file
    // count but the row-id diff across it is EMPTY — "data changed" is
    // distinguishable from "files changed"; (c) the row-id diff equals
    // the natural-key diff row-for-row when keys are stable; (d) a
    // re-inserted key gets a NEW id — retired ids never recycle. The
    // oracle recomputes the final snapshot's aggregate from the raw
    // table.
    Q("q231_row_tracking",
      """WITH base AS (SELECT CAST(c_custkey AS BIGINT) AS k,
        |    CAST(c_nationkey AS INT) AS n,
        |    CAST(c_acctbal AS DECIMAL(12,2)) AS bal
        |  FROM customer),
        |v2 AS (SELECT k, n, CAST(bal + CASE WHEN n <= 5 THEN 100 ELSE 0 END
        |      AS DECIMAL(12,2)) AS bal
        |    FROM base WHERE k % 7 <> 0
        |  UNION ALL SELECT k + 1000000, n, CAST(0 AS DECIMAL(12,2))
        |    FROM base WHERE k % 13 = 0),
        |v4 AS (SELECT * FROM v2
        |  UNION ALL SELECT k, n, CAST(0 AS DECIMAL(12,2))
        |    FROM base WHERE k % 7 = 0 AND k % 2 = 0)
        |SELECT n, CAST(count(*) AS BIGINT) AS n_rows,
        |  round(CAST(sum(bal) AS DOUBLE), 2) AS bal_sum
        |FROM v4 GROUP BY 1""".stripMargin) { (s, dir) =>
      import graft.ops.{ChangeFeed, RowTracking, VersionedTable}
      val root = scratch(s, dir, "q231")
      val base = Tables.load(s, dir, "customer")
        .select(col("c_custkey").cast("long").as("k"),
          col("c_nationkey").cast("int").as("n"),
          col("c_acctbal").cast("decimal(12,2)").as("bal"))
      RowTracking.init(base, root, orderCols = Seq("k")) // v1
      val hwm1 = RowTracking.highWaterMark(s, root, 1L)
      // v2: updates (n<=5 balances), deletes (k%7==0), inserts (shifted keys)
      val snap2 = base.filter(col("k") % 7 =!= 0)
        .withColumn("bal", (col("bal") + when(col("n") <= 5, 100).otherwise(0))
          .cast("decimal(12,2)"))
        .unionByName(base.filter(col("k") % 13 === 0)
          .select((col("k") + 1000000L).as("k"), col("n"),
            lit(java.math.BigDecimal.ZERO).cast("decimal(12,2)").as("bal")))
      RowTracking.merge(snap2, root, keyCols = Seq("k"), orderCols = Seq("k"))
      val hwm2 = RowTracking.highWaterMark(s, root, 2L)
      val v1 = VersionedTable.readVersion(s, root, 1L)
      val v2 = VersionedTable.readVersion(s, root, 2L)
      // (a) surviving keys keep their id; fresh ids sit strictly above hwm1
      val idPairs = v1.select(col("k"), col(RowTracking.RowId).as("id1"))
        .join(v2.select(col("k"), col(RowTracking.RowId).as("id2")), Seq("k"))
      require(idPairs.filter(col("id1") =!= col("id2")).isEmpty,
        "q231: a merge must preserve every surviving key's row id")
      val freshBelow = v2.join(v1.select("k"), Seq("k"), "left_anti")
        .filter(col(RowTracking.RowId) <= hwm1).count()
      require(freshBelow == 0, "q231: fresh rows must mint ids above the hwm")
      val nFresh = base.filter(col("k") % 13 === 0).count()
      require(hwm2 == hwm1 + nFresh,
        s"q231: hwm must advance by the fresh count ($hwm1 -> $hwm2, +$nFresh)")
      // (b) compaction: every byte rewritten, yet the row-id diff is EMPTY
      val filesBefore = v2.inputFiles.map(f => f.substring(f.lastIndexOf('/'))).toSet
      RowTracking.rewrite(s, root, numFiles = 2) // v3
      val v3 = VersionedTable.readVersion(s, root, 3L)
      val filesAfter = v3.inputFiles.map(f => f.substring(f.lastIndexOf('/'))).toSet
      require(v3.inputFiles.length == 2 && filesAfter.intersect(filesBefore).isEmpty,
        s"q231: the rewrite must produce a fresh 2-file layout")
      require(RowTracking.diff(s, root, 2L, 3L).isEmpty,
        "q231: a layout-only rewrite must be invisible to row-id lineage")
      require(RowTracking.highWaterMark(s, root, 3L) == hwm2,
        "q231: a rewrite mints nothing")
      // (c) row-id diff == natural-key diff when keys are stable (v1 -> v2)
      val byId = RowTracking.diff(s, root, 1L, 2L)
        .select("k", "n", "bal", ChangeFeed.ChangeType)
      val byKey = ChangeFeed.diff(
        Some(v1.drop(RowTracking.RowId)), v2.drop(RowTracking.RowId), Seq("k"))
        .select("k", "n", "bal", ChangeFeed.ChangeType)
      require(Q.sameMultiset(byId, byKey),
        "q231: row-id lineage must reproduce the keyed diff under stable keys")
      // (d) a re-inserted key mints a NEW id — retired ids never recycle
      val snap4 = v3.drop(RowTracking.RowId)
        .unionByName(base.filter(col("k") % 7 === 0 && col("k") % 2 === 0)
          .select(col("k"), col("n"),
            lit(java.math.BigDecimal.ZERO).cast("decimal(12,2)").as("bal")))
      RowTracking.merge(snap4, root, keyCols = Seq("k"), orderCols = Seq("k"))
      val v4 = VersionedTable.readVersion(s, root, 4L)
      val recycled = v4.join(base.filter(col("k") % 7 === 0), Seq("k"), "left_semi")
        .join(v1.select(col("k"), col(RowTracking.RowId)),
          Seq("k", RowTracking.RowId), "left_semi").count()
      require(recycled == 0,
        "q231: a re-inserted key must not resurrect its retired id")
      VersionedTable.read(s, root)
        .groupBy(col("n"))
        .agg(count(lit(1)).cast("bigint").as("n_rows"),
          round(sum(col("bal")).cast("double"), 2).as("bal_sum"))
    },

    // ---------------------------------------------------------------- q232
    // PARTITION-SPEC EVOLUTION (ops/PartitionEvolution.scala — Iceberg's
    // public design): the partition layout is versioned metadata; files
    // stay under the spec that was active when they were written, the
    // spec change is a METADATA-ONLY commit, and a pruned read plans each
    // epoch under ITS OWN spec with conservative admit-all for epochs
    // whose spec cannot see the predicate column. Pinned in-query: the
    // evolve version's dir inventory is exactly
    // {_partspec,_prev,_SUCCESS,_commit_ts}; epoch-1 files are
    // byte-identical (same names) before and after evolution + append; an
    // equality probe on the OLD spec's column prunes epoch 1 to one dir
    // while admitting all of epoch 2, an okey probe does the mirror
    // image, and both pruned scans + residual equal the direct filter
    // bit-exactly. The oracle aggregates the full reunified table.
    Q("q232_partition_evolution",
      """WITH o AS (SELECT CAST(o_orderkey AS BIGINT) AS okey,
        |    CAST(o_custkey AS BIGINT) AS ckey,
        |    CAST(o_totalprice AS DECIMAL(12,2)) AS total
        |  FROM orders),
        |w AS (SELECT okey, ckey, ckey % 10 AS cb, total FROM o)
        |SELECT cb, CAST(count(*) AS BIGINT) AS n_rows,
        |  round(CAST(sum(total) AS DOUBLE), 2) AS total_sum
        |FROM w GROUP BY 1""".stripMargin) { (s, dir) =>
      import graft.ops.{PartitionEvolution => PE, VersionedTable}
      val root = scratch(s, dir, "q232")
      val fsys = new org.apache.hadoop.fs.Path(root)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      val w = Tables.load(s, dir, "orders")
        .select(col("o_orderkey").cast("long").as("okey"),
          col("o_custkey").cast("long").as("ckey"),
          col("o_totalprice").cast("decimal(12,2)").as("total"))
        .withColumn("cb", col("ckey") % 10)
        .select("okey", "ckey", "cb", "total") // pin column order for union
      PE.init(w.filter(col("okey") % 2 === 0), root, PE.Identity("cb")) // v1
      val epoch1Files = s.read.parquet(
        new org.apache.hadoop.fs.Path(VersionedTable.verDir(root, 1L), "data")
          .toString).inputFiles.sorted.toSeq
      PE.evolve(s, root, PE.Bucket("okey", 8)) // v2: metadata-only
      val v2Names = fsys.listStatus(VersionedTable.verDir(root, 2L))
        .map(_.getPath.getName).toSet
      require(v2Names == Set("_partspec", "_prev", "_SUCCESS", "_commit_ts"),
        s"q232: evolve must be metadata-only, found $v2Names")
      PE.append(w.filter(col("okey") % 2 === 1), root) // v3, under spec 2
      require(s.read.parquet(
        new org.apache.hadoop.fs.Path(VersionedTable.verDir(root, 1L), "data")
          .toString).inputFiles.sorted.toSeq == epoch1Files,
        "q232: epoch-1 files must never move under evolution")
      // probe the OLD spec's column: epoch 1 prunes to one dir, epoch 2
      // (bucketed on okey) conservatively admits everything
      val (cbDirs, totalDirs) = PE.selectDirsEq(s, root, "cb", 3L)
      val cbE1 = cbDirs.count(_.contains("_v-00000001"))
      val cbE2 = cbDirs.count(_.contains("_v-00000003"))
      val e2Total = GraftMeta.partitionDirs(fsys, new org.apache.hadoop.fs.Path(
        VersionedTable.verDir(root, 3L), "data"), "p").size
      require(cbE1 == 1, s"q232: cb=3 must prune epoch 1 to one dir, got $cbE1")
      require(cbE2 == e2Total,
        s"q232: the bucketed epoch cannot prune a cb probe ($cbE2/$e2Total)")
      require(cbDirs.size < totalDirs, "q232: the probe must skip dirs overall")
      def assertPruned(admitted: Seq[String], pred: org.apache.spark.sql.Column)
          : Unit = {
        val direct = w.filter(pred)
        val pruned = s.read.parquet(admitted: _*).filter(pred)
          .select("okey", "ckey", "cb", "total")
        require(Q.sameMultiset(pruned, direct),
          "q232: pruned scan + residual must equal the direct filter")
      }
      assertPruned(cbDirs, col("cb") === 3)
      // mirror probe on the NEW spec's column: epoch 2 prunes to one
      // bucket, epoch 1 admits all
      val someKey = w.filter(col("okey") % 2 === 1)
        .agg(min(col("okey"))).head.getLong(0)
      val (okDirs, _) = PE.selectDirsEq(s, root, "okey", someKey)
      val okE1 = okDirs.count(_.contains("_v-00000001"))
      val okE2 = okDirs.count(_.contains("_v-00000003"))
      val e1Total = GraftMeta.partitionDirs(fsys, new org.apache.hadoop.fs.Path(
        VersionedTable.verDir(root, 1L), "data"), "p").size
      require(okE2 == 1, s"q232: an okey probe must prune epoch 2 to one bucket, got $okE2")
      require(okE1 == e1Total,
        s"q232: the identity epoch cannot prune an okey probe ($okE1/$e1Total)")
      assertPruned(okDirs, col("okey") === someKey)
      PE.read(s, root)
        .groupBy(col("cb"))
        .agg(count(lit(1)).cast("bigint").as("n_rows"),
          round(sum(col("total")).cast("double"), 2).as("total_sum"))
    },

    // ---------------------------------------------------------------- q233
    // TYPE WIDENING (ops/TypeWidening.scala — Delta's public ALTER COLUMN
    // TYPE design): the logical type is a per-version manifest; widening
    // int->long is a METADATA-ONLY commit, old files keep int32 physical
    // bytes, post-widen appends store int64, and the live read casts each
    // epoch up losslessly. Pinned in-query: an append that arrives wider
    // than the manifest is rejected (no type change through the data
    // path); the widen version's dir inventory is exactly
    // {_types,_prev,_SUCCESS,_commit_ts}; epoch-1 files are byte-
    // identical across the DDL; the stored physical schemas genuinely
    // differ (int vs bigint); time travel renders v1 as int while the
    // live read is bigint holding beyond-int32 values; and narrowing
    // long->int throws. The oracle reunifies both epochs in SQL.
    Q("q233_type_widening",
      """WITH base AS (SELECT CAST(c_custkey AS INT) AS k,
        |    CAST(c_nationkey AS INT) AS n,
        |    CAST(c_acctbal AS DECIMAL(12,2)) AS bal
        |  FROM customer),
        |extra AS (SELECT CAST(k AS BIGINT) + 4000000000 AS k, n, bal
        |  FROM base WHERE k % 11 = 0),
        |allr AS (SELECT CAST(k AS BIGINT) AS k, n, bal FROM base
        |  UNION ALL SELECT k, n, bal FROM extra)
        |SELECT n, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(k) AS BIGINT) AS k_sum,
        |  round(CAST(sum(bal) AS DOUBLE), 2) AS bal_sum
        |FROM allr GROUP BY 1""".stripMargin) { (s, dir) =>
      import graft.ops.{TypeWidening => TW, VersionedTable}
      import org.apache.spark.sql.types.{IntegerType, LongType}
      val root = scratch(s, dir, "q233")
      val fsys = new org.apache.hadoop.fs.Path(root)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      val base = Tables.load(s, dir, "customer")
        .select(col("c_custkey").cast("int").as("k"),
          col("c_nationkey").cast("int").as("n"),
          col("c_acctbal").cast("decimal(12,2)").as("bal"))
      TW.init(base, root) // v1, k stored int32
      val extra = base.filter(col("k") % 11 === 0)
        .select((col("k").cast("long") + 4000000000L).as("k"),
          col("n"), col("bal"))
      // the data path cannot widen: a long frame against an int manifest
      val sneak = try { TW.append(extra, root); false }
      catch { case _: IllegalArgumentException => true }
      require(sneak, "q233: an append wider than the manifest must throw")
      TW.widen(s, root, "k", LongType) // v2: metadata-only DDL
      val v2Names = fsys.listStatus(VersionedTable.verDir(root, 2L))
        .map(_.getPath.getName).toSet
      require(v2Names == Set("_types", "_prev", "_SUCCESS", "_commit_ts"),
        s"q233: widen must be metadata-only, found $v2Names")
      val epoch1Files = s.read.parquet(
        new org.apache.hadoop.fs.Path(VersionedTable.verDir(root, 1L), "data")
          .toString).inputFiles.sorted.toSeq
      TW.append(extra, root) // v3: beyond-int32 keys, stored int64
      require(s.read.parquet(
        new org.apache.hadoop.fs.Path(VersionedTable.verDir(root, 1L), "data")
          .toString).inputFiles.sorted.toSeq == epoch1Files,
        "q233: the DDL must never rewrite epoch-1 files")
      require(TW.epochSchema(s, root, 1L)("k").dataType == IntegerType &&
        TW.epochSchema(s, root, 3L)("k").dataType == LongType,
        "q233: the epochs must genuinely mix physical types")
      require(TW.readVersion(s, root, 1L).schema("k").dataType == IntegerType,
        "q233: time travel renders v1 under its own (int) manifest")
      val live = TW.read(s, root)
      require(live.schema("k").dataType == LongType,
        "q233: the live read renders the widened type")
      require(live.filter(col("k") > Int.MaxValue.toLong).count() ==
        extra.count(), "q233: beyond-int32 values must survive end-to-end")
      val narrowed = try { TW.widen(s, root, "k", IntegerType); false }
      catch { case _: IllegalArgumentException => true }
      require(narrowed, "q233: narrowing must be rejected loudly")
      live.groupBy(col("n"))
        .agg(count(lit(1)).cast("bigint").as("n_rows"),
          sum(col("k")).cast("bigint").as("k_sum"),
          round(sum(col("bal")).cast("double"), 2).as("bal_sum"))
    },

    // ---------------------------------------------------------------- q234
    // PER-FILE BLOOM-FILTER INDEX (ops/BloomIndex.scala — Delta's bloom
    // index design next to the min/max sidecar): a point lookup on a
    // high-cardinality UNCLUSTERED key is where min/max skipping fails —
    // the data is range-laid-out by ckey, so every file's [min,max] on
    // okey spans nearly the whole domain and admits everything, while the
    // per-file bit set prunes to ~1 file + bounded false positives with
    // ZERO false negatives. Pinned in-query over 8 deterministic probe
    // keys: the bloom admits strictly fewer files than min/max, stays
    // under a 25% admit budget, and every pruned scan + residual equals
    // the direct filter bit-exactly (which proves no false negative ever
    // dropped a row). The oracle recomputes the probed rows in SQL.
    Q("q234_bloom_index",
      """WITH o AS (SELECT CAST(o_orderkey AS BIGINT) AS okey,
        |    CAST(o_custkey AS BIGINT) AS ckey,
        |    CAST(o_totalprice AS DECIMAL(12,2)) AS total
        |  FROM orders),
        |keys AS (SELECT okey FROM o WHERE okey % 7 = 3 ORDER BY okey LIMIT 8)
        |SELECT o.okey, o.ckey, round(CAST(o.total AS DOUBLE), 2) AS total
        |FROM o JOIN keys USING (okey)""".stripMargin) { (s, dir) =>
      import graft.ops.{BloomIndex, DataSkipping}
      val root = scratch(s, dir, "q234")
      val o = Tables.load(s, dir, "orders")
        .select(col("o_orderkey").cast("long").as("okey"),
          col("o_custkey").cast("long").as("ckey"),
          col("o_totalprice").cast("decimal(12,2)").as("total"))
      val dataDir = s"$root/data"
      // range-laid-out by ckey: okey is scattered, min/max on okey is blind
      o.repartitionByRange(16, col("ckey")).sortWithinPartitions("ckey")
        .write.parquet(dataDir)
      DataSkipping.writeStats(s, dataDir, Seq("okey"))
      BloomIndex.writeIndex(s, dataDir, "okey")
      val keys = o.filter(col("okey") % 7 === 3)
        .orderBy(col("okey")).limit(8).select("okey")
        .collect().map(_.getLong(0)).toSeq
      // ONE sidecar read per index for the whole key batch (a per-key
      // re-read loop was 8+8 sidecar jobs), then ONE pruned scan over the
      // union of admitted files with the `isin` residual: a file holding
      // key k is bloom-admitted FOR k (zero false negatives), so the
      // union scan + residual covers every key's rows exactly.
      val (bloomPerKey, total) =
        BloomIndex.selectFilesAll(s, dataDir, keys.map(lit(_)))
      require(total == 16, s"q234: expected 16 files, got $total")
      val (minmaxPerKey, _) =
        DataSkipping.selectFilesPoints(s, dataDir, "okey", keys.map(lit(_)))
      val bloomAdmitted = bloomPerKey.map(_.size).sum
      val minmaxAdmitted = minmaxPerKey.map(_.size).sum
      val unionFiles = bloomPerKey.flatten.distinct
      val probed = s.read.parquet(unionFiles: _*)
        .filter(col("okey").isin(keys: _*))
      val direct = o.join(o.filter(col("okey") % 7 === 3)
        .orderBy(col("okey")).limit(8).select("okey"), Seq("okey"))
      require(Q.sameMultiset(probed, direct),
        "q234: pruned scan must equal the direct lookups (zero false negatives)")
      require(bloomAdmitted < minmaxAdmitted,
        s"q234: the bloom must out-prune min/max on an unclustered key " +
          s"($bloomAdmitted vs $minmaxAdmitted of ${8 * 16})")
      require(bloomAdmitted <= 8 * 4,
        s"q234: the bloom must stay under the 25% admit budget ($bloomAdmitted/128)")
      probed.select(col("okey"), col("ckey"),
        round(col("total").cast("double"), 2).as("total"))
    },

    // ---------------------------------------------------------------- q239
    // ROW-LEVEL CONCURRENCY over deletion vectors (Delta's public
    // row-level-concurrency design): two deleters whose predicates touch
    // the SAME data files both land, because DV conflict granularity is
    // the ROW, not the file — a file-level validation (classic Iceberg
    // conflict check) would have aborted the second writer. Pinned
    // in-query: writer A prepares against v1, writer B commits first
    // (v2), A's apply rebases onto B's survivors — its capture holds
    // EXACTLY the rows it actually killed (the A∩B overlap was captured
    // once, by B, and A re-deleting dead rows is a no-op); both commits'
    // DV sidecars name overlapping files; the CDF replay v1->v3 lands on
    // the final survivors bit-exactly. The oracle computes the surviving
    // aggregate from set algebra.
    Q("q239_dv_row_concurrency",
      """WITH o AS (SELECT CAST(o_orderkey AS BIGINT) AS okey,
        |    o_orderpriority AS opri,
        |    CAST(o_totalprice AS DECIMAL(12,2)) AS total
        |  FROM orders),
        |surv AS (SELECT * FROM o WHERE okey % 10 <> 3 AND okey % 6 <> 3)
        |SELECT opri, CAST(count(*) AS BIGINT) AS n_rows,
        |  round(CAST(sum(total) AS DOUBLE), 2) AS total_sum
        |FROM surv GROUP BY 1""".stripMargin) { (s, dir) =>
      import graft.ops.{ChangeFeed, DeletionVectors => DV, VersionedTable}
      val root = scratch(s, dir, "q239")
      val base = Tables.load(s, dir, "orders")
        .select(col("o_orderkey").cast("long").as("okey"),
          col("o_orderpriority").as("opri"),
          col("o_totalprice").cast("decimal(12,2)").as("total"))
      VersionedTable.write(base.repartition(4), root) // v1, 4 files
      val predA = col("okey") % 10 === 3
      val predB = col("okey") % 6 === 3
      // writer A reads v1 and prepares; writer B commits first
      val aIntent = DV.readVersion(s, root, 1L).filter(predA).count()
      val (v2, bDeleted) = DV.delete(s, root, predB, capture = true)
      require(v2 == 2L && bDeleted == base.filter(predB).count(),
        "q239: writer B's delete must land as v2")
      // A's apply rebases: doomed recomputed against B's survivors
      val (v3, aDeleted) = DV.delete(s, root, predA, capture = true)
      val overlap = base.filter(predA && predB).count()
      require(v3 == 3L && overlap > 0 && aDeleted == aIntent - overlap,
        s"q239: A must kill exactly its still-live rows " +
          s"($aIntent intended, $overlap already dead, $aDeleted killed)")
      val aCapture = s.read.parquet(
        new org.apache.hadoop.fs.Path(VersionedTable.verDir(root, 3L), "_cdf")
          .toString).drop(ChangeFeed.ChangeType)
      val aExpected = base.filter(predA && !predB)
      require(Q.sameMultiset(aCapture, aExpected),
        "q239: A's capture must be its live kills only — the overlap was B's")
      // row-level, same files: both sidecars touch an overlapping file set
      val dvFiles = (v: Long) => DV.vectors(s, root, v)
        .select("file_name").collect().map(_.getString(0)).toSet
      require(dvFiles(2L).intersect(dvFiles(3L)).nonEmpty,
        "q239: the two deletes must hit the same files (row-level concurrency)")
      // the feed replays onto the final survivors
      val replayed = ChangeFeed.apply(
        Some(VersionedTable.readVersion(s, root, 1L)),
        ChangeFeed.tableChanges(s, root, 1L, 3L, Seq("okey")), Seq("okey"))
      val live = DV.read(s, root)
      require(Q.sameMultiset(replayed, live),
        "q239: CDF replay must land on the DV-applied snapshot")
      live.groupBy(col("opri"))
        .agg(count(lit(1)).cast("bigint").as("n_rows"),
          round(sum(col("total")).cast("double"), 2).as("total_sum"))
    },

    // ---------------------------------------------------------------- q240
    // COMPACTION RACING AN APPEND under OCC (Delta's public
    // dataChange=false commit flag): table maintenance must not serialize
    // writers — a pure-rewrite commit relaxes the conflict rule in both
    // directions (a rewrite candidate always rebases, a committed rewrite
    // is transparent to later candidates), so OPTIMIZE and an append
    // interleaved at the worst instant BOTH land. Pinned in-query: the
    // compactor stages against v1, the append claims v2 inside the
    // stage->claim window, the compactor rebases ONCE and lands v3 with
    // the appended rows compacted in; flipping the same interleaving to
    // dataChange=true conflicts loudly and leaves the table untouched.
    // The oracle computes the final (base ∪ appended) aggregate.
    Q("q240_compaction_vs_append",
      """WITH o AS (SELECT CAST(o_orderkey AS BIGINT) AS okey,
        |    o_orderpriority AS opri,
        |    CAST(o_totalprice AS DECIMAL(12,2)) AS total
        |  FROM orders),
        |addr AS (SELECT okey + 10000000 AS okey, opri, total
        |  FROM o WHERE okey % 17 = 0),
        |u AS (SELECT * FROM o UNION ALL SELECT * FROM addr
        |  UNION ALL SELECT okey + 10000000, opri, total FROM addr)
        |SELECT opri, CAST(count(*) AS BIGINT) AS n_rows,
        |  round(CAST(sum(total) AS DOUBLE), 2) AS total_sum
        |FROM u GROUP BY 1""".stripMargin) { (s, dir) =>
      import graft.ops.{Occ, VersionedTable}
      val root = scratch(s, dir, "q240")
      val base = Tables.load(s, dir, "orders")
        .select(col("o_orderkey").cast("long").as("okey"),
          col("o_orderpriority").as("opri"),
          col("o_totalprice").cast("decimal(12,2)").as("total"))
      val added = base.filter(col("okey") % 17 === 0)
        .select((col("okey") + 10000000L).as("okey"), col("opri"), col("total"))
      Occ.commit(s, root, Set("base"))(_ => base.repartition(4)) // v1
      var fired = false
      val res = Occ.commit(s, root, Set("*"), dataChange = false)(
        snap => snap.get.repartition(2), // OPTIMIZE: pure rewrite
        hook = () => if (!fired) {
          fired = true // the racing append claims v2 inside A's window
          Occ.commit(s, root, Set("p-new"))(snap => snap.get.unionByName(added))
        })
      require(res.version == 3L && res.rebased == 1,
        s"q240: the compactor must rebase once and land v3, got $res")
      val live = VersionedTable.read(s, root)
      require(live.inputFiles.length == 2,
        "q240: the rebased compaction must still deliver the 2-file layout")
      val want = base.unionByName(added)
      require(Q.sameMultiset(live, want),
        "q240: the appended rows must survive the rebased rewrite checksum-exactly")
      // contrast: the SAME interleaving as a data change conflicts loudly
      var fired2 = false
      val conflicted = try {
        Occ.commit(s, root, Set("*"))(
          snap => snap.get.filter(col("okey") % 2 === 0),
          hook = () => if (!fired2) {
            fired2 = true
            Occ.commit(s, root, Set("p-new2"))(
              snap => snap.get.unionByName(added
                .select((col("okey") + 10000000L).as("okey"), col("opri"),
                  col("total"))))
          })
        false
      } catch { case _: Occ.CommitConflictException => true }
      require(conflicted, "q240: a data-change writer in the same race must conflict")
      VersionedTable.read(s, root)
        .groupBy(col("opri"))
        .agg(count(lit(1)).cast("bigint").as("n_rows"),
          round(sum(col("total")).cast("double"), 2).as("total_sum"))
    },

    // ---------------------------------------------------------------- q242
    // SNAPSHOT -> STREAM HANDOFF (the Delta "initial snapshot + changes"
    // bootstrap): a consumer materializes a view from a batch read of
    // version V, then streams the change feed with V as its start offset
    // — no gap, no overlap, BY CONSTRUCTION of the version protocol, even
    // when commits land inside the race window between the snapshot read
    // and the stream start. Pinned in-query: two commits land in that
    // window and the stream delivers exactly them (versions 4,5, not 3,
    // not 6); a commit landing while the stream RUNS flows through; the
    // maintained view equals the full recompute bit-exactly; and the
    // NEGATIVE control — an off-by-one start offset double-applies the
    // boundary version's deltas and provably DIVERGES, which is exactly
    // why the handoff must be version-pinned, not timestamp-guessed. The
    // oracle composes all five mutations on the base table.
    Q("q242_snapshot_stream_handoff",
      """WITH base AS (SELECT CAST(c_custkey AS BIGINT) AS k,
        |    CAST(c_nationkey AS INT) AS n, CAST(c_acctbal AS DECIMAL(12,2)) AS b
        |  FROM customer),
        |sh AS (SELECT max(k) + 1 AS s FROM base),
        |v2 AS (
        |  SELECT k, n, CASE WHEN n <= 5 THEN CAST(b + 100 AS DECIMAL(12,2))
        |    ELSE b END AS b
        |  FROM base WHERE k % 10 <> 0
        |  UNION ALL
        |  SELECT k + (SELECT s FROM sh) AS k, n, b FROM base WHERE n >= 20),
        |v3 AS (
        |  SELECT k, n, CASE WHEN n BETWEEN 10 AND 12
        |    THEN CAST(b + 7.5 AS DECIMAL(12,2)) ELSE b END AS b
        |  FROM v2 WHERE k % 7 <> 0),
        |v4 AS (SELECT k, n, b FROM v3 WHERE n < 23),
        |v5 AS (SELECT k, n, b FROM v4 WHERE k % 5 <> 0),
        |v6 AS (SELECT k, n, CASE WHEN n % 4 = 1
        |    THEN CAST(b + 50 AS DECIMAL(12,2)) ELSE b END AS b FROM v5)
        |SELECT n, CAST(count(*) AS BIGINT) AS n_rows,
        |  round(CAST(sum(b) AS DOUBLE), 2) AS bal_sum
        |FROM v6 GROUP BY 1""".stripMargin) { (s, dir) =>
      import graft.ops.{ChangeFeed, IncrementalView, VersionedTable}
      Q.withNarrowShuffle(s) {
      import graft.source.CdfStream
      val root = scratch(s, dir, "q242")
      val ckpt = s"$root/_stream_ckpt"
      cdfVersions(s, dir, root) // v1..v3
      val spec = IncrementalView.Spec(Seq("n"), Seq("bal" -> col("b")))
      val bootV = VersionedTable.currentVersion(s, root).get // the handoff pin
      var view = IncrementalView.full(
        VersionedTable.readVersion(s, root, bootV), spec).localCheckpoint()
      // the race window: commits land AFTER the snapshot read, BEFORE the
      // stream exists
      require(ChangeFeed.commit(VersionedTable.read(s, root)
        .filter(col("n") < 23), root, Seq("k")) == 4L, "q242: v4")
      require(ChangeFeed.commit(VersionedTable.read(s, root)
        .filter(col("k") % 5 =!= 0), root, Seq("k")) == 5L, "q242: v5")
      val seen = collection.mutable.ArrayBuffer.empty[Long]
      def fold(batch: org.apache.spark.sql.DataFrame, id: Long): Unit =
        if (!batch.isEmpty) {
          val b = batch.localCheckpoint()
          seen.synchronized {
            seen ++= b.select(col(ChangeFeed.CommitVersion))
              .distinct().collect().map(_.getLong(0))
          }
          view = IncrementalView.merge(view,
            IncrementalView.delta(b.drop(ChangeFeed.CommitVersion), spec),
            spec).localCheckpoint()
        }
      val q = CdfStream.read(s, root, startingVersion = Some(bootV))
        .writeStream.option("checkpointLocation", ckpt)
        .foreachBatch(fold _).start()
      try {
        q.processAllAvailable()
        require(seen.sorted == Seq(4L, 5L),
          s"q242: the handoff must deliver exactly the post-snapshot versions: $seen")
        // and a commit landing while the stream RUNS flows through
        require(ChangeFeed.commit(VersionedTable.read(s, root)
          .withColumn("b", when(col("n") % 4 === 1, col("b") + 50)
            .otherwise(col("b")).cast("decimal(12,2)")),
          root, Seq("k")) == 6L, "q242: v6")
        q.processAllAvailable()
        require(seen.sorted == Seq(4L, 5L, 6L),
          s"q242: the running stream must pick up v6: $seen")
      } finally q.stop()
      val direct = IncrementalView.full(
        VersionedTable.readVersion(s, root, 6L), spec)
      require(Q.sameMultiset(view, direct),
        "q242: the handoff-maintained view must equal the full recompute")
      // negative control: starting one version EARLY double-applies the
      // boundary deltas — the divergence this entry exists to prevent
      val wrong = IncrementalView.merge(
        IncrementalView.full(VersionedTable.readVersion(s, root, bootV), spec),
        IncrementalView.delta(ChangeFeed.tableChanges(s, root, bootV - 1L, 6L,
          Seq("k")).drop(ChangeFeed.CommitVersion), spec), spec)
      require(!Q.sameMultiset(wrong, direct),
        "q242: an off-by-one start offset must provably diverge")
      view.select(col("n"), col(IncrementalView.NCol).as("n_rows"),
        round(col("bal").cast("double"), 2).as("bal_sum"))
      }
    },

    // ---------------------------------------------------------------- q243
    // METADATA TABLES (ops/MetadataTables.scala — the public DESCRIBE
    // HISTORY / table.files surface): the table's history and physical
    // inventory as ordinary DataFrames computed from LISTINGS ONLY —
    // O(versions + files) namenode metadata, zero data-file reads, which
    // is what lets audit dashboards and retention planners run against a
    // 100 TB table for free. Pinned in-query: commit timestamps strictly
    // monotonic across the history; capture flags track exactly which
    // commits fed the change feed; files(v) reconciles with history's
    // per-version file count and every size is positive; and after a gc
    // the expired version leaves the history while the survivors keep
    // their rows. The oracle recomputes each version's logical row count
    // from set algebra; the physical columns are require-checked (the
    // filesystem is outside SQL's reach).
    Q("q243_metadata_tables",
      """WITH base AS (SELECT CAST(c_custkey AS BIGINT) AS k,
        |    CAST(c_nationkey AS INT) AS n, CAST(c_acctbal AS DECIMAL(12,2)) AS b
        |  FROM customer),
        |sh AS (SELECT max(k) + 1 AS s FROM base),
        |v2 AS (
        |  SELECT k, n, CASE WHEN n <= 5 THEN CAST(b + 100 AS DECIMAL(12,2))
        |    ELSE b END AS b
        |  FROM base WHERE k % 10 <> 0
        |  UNION ALL
        |  SELECT k + (SELECT s FROM sh) AS k, n, b FROM base WHERE n >= 20),
        |v3 AS (
        |  SELECT k, n, CASE WHEN n BETWEEN 10 AND 12
        |    THEN CAST(b + 7.5 AS DECIMAL(12,2)) ELSE b END AS b
        |  FROM v2 WHERE k % 7 <> 0)
        |SELECT 1 AS version, CAST((SELECT count(*) FROM base) AS BIGINT) AS n_rows,
        |  FALSE AS has_capture
        |UNION ALL SELECT 2, CAST((SELECT count(*) FROM v2) AS BIGINT), TRUE
        |UNION ALL SELECT 3, CAST((SELECT count(*) FROM v3) AS BIGINT), TRUE""".stripMargin) { (s, dir) =>
      import graft.ops.{MetadataTables, VersionedTable}
      val root = scratch(s, dir, "q243")
      cdfVersions(s, dir, root) // v1 (no capture), v2, v3 (captured)
      val hist = MetadataTables.history(s, root).orderBy("version")
        .collect()
      require(hist.map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L),
        "q243: every retained version appears in the history")
      val stamps = hist.map(_.getLong(1))
      require(stamps.sliding(2).forall(p => p(0) < p(1)),
        "q243: commit timestamps must be strictly monotonic")
      require(hist.map(_.getBoolean(4)).toSeq == Seq(false, true, true),
        "q243: capture flags must track exactly the fed commits")
      require(hist.forall(r => !r.getBoolean(5)),
        "q243: plain data commits are not metadata-only")
      require(hist.forall(r => r.getInt(2) > 0 && r.getLong(3) > 0L),
        "q243: every data version owns files and bytes")
      val f3 = MetadataTables.files(s, root, 3L)
      require(f3.count() == hist(2).getInt(2),
        "q243: files(v) must reconcile with history's file count")
      require(f3.filter(col("size_bytes") <= 0).isEmpty,
        "q243: every inventory row carries its physical size")
      // retention: the expired version leaves the history, survivors stay
      VersionedTable.gc(s, root, keep = 2)
      require(MetadataTables.history(s, root).select("version")
        .collect().map(_.getLong(0)).toSeq.sorted == Seq(2L, 3L),
        "q243: gc must retire v1 from the history")
      // logical row counts for the oracle compare (v1 was just gc'd, so its
      // count comes from the base the fixture wrote)
      val byVersion = Seq(
        (1, Tables.load(s, dir, "customer").count()),
        (2, VersionedTable.readVersion(s, root, 2L).count()),
        (3, VersionedTable.readVersion(s, root, 3L).count()))
      import s.implicits._
      byVersion.toDF("version", "n_rows")
        .join(MetadataTables.history(s, root)
          .select(col("version").cast("int").as("version"), col("has_capture")),
          Seq("version"), "left")
        .select(col("version"), col("n_rows"),
          coalesce(col("has_capture"), lit(false)).as("has_capture"))
    },

    // ---------------------------------------------------------------- q244
    // BIN-PACKING OPTIMIZE (Layout.binPackVersioned — Delta's OPTIMIZE
    // bin-packing semantics): rewrite ONLY the small-file tail, carry
    // every at-size file as a raw byte copy. At 100 TB the daily
    // small-file tail is kilobytes×thousands while the compacted history
    // is terabytes — a whole-table rewrite (q85's shape) re-encodes the
    // table every day; this touches O(small). Pinned in-query: the big
    // file survives byte-identical (name AND size), exactly the 8 small
    // files are rewritten into 1, logical content is bit-exact across
    // the swap, and a second OPTIMIZE is a NO-OP (no new version — the
    // idempotence that makes it safe to schedule blindly). The oracle
    // aggregates the (layout-invariant) content.
    Q("q244_binpack_optimize",
      """WITH o AS (SELECT CAST(o_orderkey AS BIGINT) AS okey,
        |    o_orderpriority AS opri,
        |    CAST(o_totalprice AS DECIMAL(12,2)) AS total
        |  FROM orders)
        |SELECT opri, CAST(count(*) AS BIGINT) AS n_rows,
        |  round(CAST(sum(total) AS DOUBLE), 2) AS total_sum
        |FROM o GROUP BY 1""".stripMargin) { (s, dir) =>
      import graft.ops.{Layout, VersionedTable}
      val root = scratch(s, dir, "q244")
      val fsys = new org.apache.hadoop.fs.Path(root)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      val o = Tables.load(s, dir, "orders")
        .select(col("o_orderkey").cast("long").as("okey"),
          col("o_orderpriority").as("opri"),
          col("o_totalprice").cast("decimal(12,2)").as("total"))
      // one big file (95% of rows) + an 8-file small tail: union preserves
      // the children's partitioning, so the write emits 1 + 8 files
      val mixed = o.filter(col("okey") % 20 =!= 0).coalesce(1)
        .unionByName(o.filter(col("okey") % 20 === 0).repartition(8))
      VersionedTable.write(mixed, root) // v1
      val before = GraftMeta.dataFiles(fsys, VersionedTable.verDir(root, 1L))
        .map(st => st.getPath.getName -> st.getLen).toMap
      require(before.size == 9, s"q244: expected 9 files, got ${before.size}")
      val bigName = before.maxBy(_._2)._1
      val threshold = before(bigName) // strict <: the big file is carried
      val (v2, rewritten, carried) =
        Layout.binPackVersioned(s, root, threshold)
      require(v2 == 2L && rewritten == 8 && carried == 1,
        s"q244: expected 8 rewritten + 1 carried, got ($rewritten, $carried)")
      val after = GraftMeta.dataFiles(fsys, VersionedTable.verDir(root, 2L))
        .map(st => st.getPath.getName -> st.getLen).toMap
      require(after.contains(bigName) && after(bigName) == before(bigName),
        "q244: the big file must carry byte-identically")
      require(after.size == 2,
        s"q244: the small tail must pack into one file, got ${after.size}")
      val v1df = VersionedTable.readVersion(s, root, 1L)
      val v2df = VersionedTable.readVersion(s, root, 2L)
      require(Q.sameMultiset(v2df, v1df),
        "q244: OPTIMIZE must not change logical content")
      // idempotence: nothing small remains, so no new version
      require(Layout.binPackVersioned(s, root, threshold)._1 == 2L,
        "q244: a second OPTIMIZE must be a no-op")
      VersionedTable.read(s, root)
        .groupBy(col("opri"))
        .agg(count(lit(1)).cast("bigint").as("n_rows"),
          round(sum(col("total")).cast("double"), 2).as("total_sum"))
    },

    // ---------------------------------------------------------------- q245
    // DYNAMIC PARTITION OVERWRITE + replaceWhere
    // (ops/PartitionOverwrite.scala — Spark's partitionOverwriteMode=
    // dynamic and Delta's replaceWhere): a reload batch replaces ONLY the
    // partitions it carries rows for; untouched partitions carry as
    // dir-level raw copies; and the replaceWhere guard rejects a
    // miswired batch BEFORE anything moves. The idempotent daily-reload
    // shape: reprocessing one day rewrites one dir, not the table.
    // Pinned in-query: exactly partitions {1,3} are replaced and the
    // other three carry byte-identically (names AND sizes per dir); an
    // incoming row outside the guard rejects the whole write with the
    // version unchanged; a re-run of the same batch converges (same
    // logical content, one more version). The oracle composes the reload
    // in set algebra.
    Q("q245_dynamic_overwrite",
      """WITH o AS (SELECT CAST(o_orderkey AS BIGINT) AS okey,
        |    CAST(o_orderkey % 5 AS INT) AS ob,
        |    CAST(o_totalprice AS DECIMAL(12,2)) AS total
        |  FROM orders),
        |reloaded AS (SELECT okey, ob, CAST(total + 10 AS DECIMAL(12,2)) AS total
        |  FROM o WHERE ob IN (1, 3)),
        |final AS (SELECT * FROM o WHERE ob NOT IN (1, 3)
        |  UNION ALL SELECT * FROM reloaded)
        |SELECT ob, CAST(count(*) AS BIGINT) AS n_rows,
        |  round(CAST(sum(total) AS DOUBLE), 2) AS total_sum
        |FROM final GROUP BY 1""".stripMargin) { (s, dir) =>
      import graft.ops.{PartitionOverwrite => PO, VersionedTable}
      val root = scratch(s, dir, "q245")
      val fsys = new org.apache.hadoop.fs.Path(root)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      val o = Tables.load(s, dir, "orders")
        .select(col("o_orderkey").cast("long").as("okey"),
          (col("o_orderkey") % 5).cast("int").as("ob"),
          col("o_totalprice").cast("decimal(12,2)").as("total"))
      PO.init(o, root, "ob") // v1: five ob=* dirs
      def dirInventory(v: Long, part: String) = {
        val p = new org.apache.hadoop.fs.Path(
          VersionedTable.verDir(root, v), part)
        fsys.listStatus(p).filter(_.isFile)
          .map(st => st.getPath.getName -> st.getLen).toMap
      }
      val untouchedBefore = Seq("ob=0", "ob=2", "ob=4").map(p => p -> dirInventory(1L, p))
      val batch = o.filter(col("ob").isin(1, 3))
        .withColumn("total", (col("total") + 10).cast("decimal(12,2)"))
      // replaceWhere violation: a stray ob=2 row rejects the WHOLE write
      val rejected = try {
        PO.overwrite(batch.unionByName(o.filter(col("ob") === 2).limit(1)),
          root, "ob", expect = Some(col("ob").isin(1, 3)))
        false
      } catch { case _: PO.ReplaceWhereViolation => true }
      require(rejected && VersionedTable.currentVersion(s, root).contains(1L),
        "q245: a guard violation must reject the write with the table untouched")
      val (v2, replaced, carried) =
        PO.overwrite(batch, root, "ob", expect = Some(col("ob").isin(1, 3)))
      require(v2 == 2L && replaced == Seq("ob=1", "ob=3") && carried == 3,
        s"q245: expected to replace ob={1,3} and carry 3, got ($replaced, $carried)")
      untouchedBefore.foreach { case (p, inv) =>
        require(dirInventory(2L, p) == inv,
          s"q245: untouched partition $p must carry byte-identically")
      }
      // idempotent re-run: same batch, same logical content, next version
      val (v3, _, _) = PO.overwrite(batch, root, "ob",
        expect = Some(col("ob").isin(1, 3)))
      val v2df = VersionedTable.readVersion(s, root, 2L)
      val v3df = VersionedTable.readVersion(s, root, 3L)
      require(v3 == 3L && Q.sameMultiset(v3df, v2df),
        "q245: a re-run of the same batch must converge")
      PO.read(s, root)
        .groupBy(col("ob"))
        .agg(count(lit(1)).cast("bigint").as("n_rows"),
          round(sum(col("total")).cast("double"), 2).as("total_sum"))
    },

    // ---------------------------------------------------------------- q246
    // GLOBALLY SORTED EXPORT: ORDER BY at table scale — range-repartition
    // + in-partition sort, so the sort is DISTRIBUTED (the plan must show
    // RangePartitioning, never a single-partition exchange) and the
    // output files form a global order: file N's key range ends before
    // file N+1's begins. That file-range manifest is what makes the
    // export RESUMABLE and mergeable — a consumer reads files in name
    // order and sees a fully sorted stream, or binary-searches the
    // manifest for a key range. Pinned in-query: disjoint ordered
    // per-file ranges (checked from the files themselves), row-count
    // preservation, and the plan shape; the oracle checks the global
    // boundary rows (head and tail of the total order).
    Q("q246_sorted_export",
      """WITH l AS (SELECT CAST(l_shipdate AS DATE) AS sd,
        |    CAST(l_orderkey AS BIGINT) AS okey,
        |    CAST(l_linenumber AS INT) AS line, CAST(l_quantity AS BIGINT) AS qty
        |  FROM lineitem),
        |lo AS (SELECT * FROM l ORDER BY sd, okey, line LIMIT 5),
        |hi AS (SELECT * FROM l ORDER BY sd DESC, okey DESC, line DESC LIMIT 5)
        |SELECT * FROM lo UNION ALL SELECT * FROM hi""".stripMargin) { (s, dir) =>
      val root = scratch(s, dir, "q246")
      val l = Tables.load(s, dir, "lineitem")
        .select(col("l_shipdate").cast("date").as("sd"),
          col("l_orderkey").cast("long").as("okey"),
          col("l_linenumber").cast("int").as("line"),
          col("l_quantity").cast("long").as("qty"))
      val keys = Seq(col("sd").asc, col("okey").asc, col("line").asc)
      val sorted = l.repartitionByRange(8, keys: _*)
        .sortWithinPartitions(keys: _*)
      val plan = sorted.queryExecution.executedPlan.toString
      require(plan.contains("rangepartitioning"),
        s"q246: the export must range-partition, got:\n$plan")
      require(!plan.contains("SinglePartition"),
        "q246: a single-partition global sort is the scale-killer this avoids")
      sorted.write.parquet(root)
      // the file-range manifest, computed from the export itself: ranges
      // must be pairwise disjoint and ordered in file-name order
      val ranges = s.read.parquet(root)
        .groupBy(input_file_name().as("f"))
        .agg(min(struct(col("sd"), col("okey"), col("line"))).as("lo"),
          max(struct(col("sd"), col("okey"), col("line"))).as("hi"),
          count(lit(1)).as("n"))
        .orderBy("f").collect()
      require(ranges.length == 8, s"q246: expected 8 files, got ${ranges.length}")
      require(ranges.map(_.getLong(3)).sum == l.count(),
        "q246: the export must preserve every row")
      val bounds = ranges.map(r => (r.getStruct(1), r.getStruct(2)))
      bounds.sliding(2).foreach { case Array((_, hi0), (lo1, _)) =>
        val cmp = Seq(
          hi0.getDate(0).compareTo(lo1.getDate(0)),
          java.lang.Long.compare(hi0.getLong(1), lo1.getLong(1)),
          Integer.compare(hi0.getInt(2), lo1.getInt(2)))
          .find(_ != 0).getOrElse(0)
        require(cmp < 0,
          s"q246: file ranges must be disjoint and ordered: $hi0 !< $lo1")
      case _ => ()
      }
      val back = s.read.parquet(root)
      back.orderBy(keys: _*).limit(5)
        .unionByName(back.orderBy(col("sd").desc, col("okey").desc,
          col("line").desc).limit(5))
    },

    // ---------------------------------------------------------------- q247
    // STRATIFIED SPLIT with exact floor-proportional allocation: an
    // 80/10/10 train/val/test split holding EXACT per-language
    // proportions (q48's content-hash split is stable but drifts per
    // stratum) — each language's docs are ordered by a salted md5 (the
    // content-addressed determinism discipline) and allocated by integer
    // arithmetic: rn*10 <= n*8 -> train, <= n*9 -> val, else test. No
    // randomness, no floats, identical in both engines, stable under
    // re-ingestion. The per-language window is keyed (languages are the
    // parallel unit); at corpus scale the allocation is one shuffle.
    Q("q247_stratified_split",
      """WITH t AS (SELECT doc_id, lang,
        |    md5('split1|' || CAST(doc_id AS VARCHAR)) AS sk FROM documents),
        |r AS (SELECT doc_id, lang,
        |    row_number() OVER (PARTITION BY lang ORDER BY sk, doc_id) AS rn,
        |    count(*) OVER (PARTITION BY lang) AS n FROM t),
        |sp AS (SELECT doc_id, lang,
        |    CASE WHEN rn * 10 <= n * 8 THEN 'train'
        |         WHEN rn * 10 <= n * 9 THEN 'val' ELSE 'test' END AS split
        |  FROM r)
        |SELECT lang, split, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(doc_id) AS BIGINT) AS id_sum
        |FROM sp GROUP BY 1, 2""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val t = Tables.load(s, dir, "documents")
        .select(col("doc_id"), col("lang"),
          md5(concat(lit("split1|"), col("doc_id").cast("string"))).as("sk"))
      val byLang = Window.partitionBy("lang")
      val r = t
        .withColumn("rn", row_number().over(byLang.orderBy(col("sk"), col("doc_id"))))
        .withColumn("n", count(lit(1)).over(byLang))
      r.withColumn("split",
          when(col("rn") * 10 <= col("n") * 8, lit("train"))
            .when(col("rn") * 10 <= col("n") * 9, lit("val"))
            .otherwise(lit("test")))
        .groupBy(col("lang"), col("split"))
        .agg(count(lit(1)).cast("bigint").as("n_docs"),
          sum(col("doc_id")).cast("bigint").as("id_sum"))
    },

    // ---------------------------------------------------------------- q248
    // JOIN ELIMINATION (plans/JoinElimination.scala — the RELY-constraint
    // optimization warehouse engines publish, restricted to what the plan
    // can PROVE): a left-outer equi-join against a right side that is
    // key-unique BY CONSTRUCTION (an Aggregate grouping on the join
    // keys), none of whose columns are referenced above, adds exactly
    // zero rows and zero columns — the rule drops the join, its
    // exchanges, and the dimension's entire scan. Generated BI layers
    // emit exactly this shape for fact-only measures; at 100 TB each
    // elimination is a dim scan + build + shuffle that never runs.
    // Pinned in-query: the optimized plan has ONE parquet scan and no
    // join; flipping to a NON-unique right side (no aggregate) keeps the
    // join — the rule is sound, not trusted; both variants return
    // identical results equal to the fact-only aggregate the oracle
    // computes.
    Q("q248_join_elimination",
      """SELECT o_orderpriority AS opri, CAST(count(*) AS BIGINT) AS n_rows,
        |  round(CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE), 2)
        |    AS total_sum
        |FROM orders GROUP BY 1""".stripMargin) { (s, dir) =>
      val fact = Tables.load(s, dir, "orders")
        .select(col("o_custkey").as("ckey"),
          col("o_orderpriority").as("opri"),
          col("o_totalprice").cast("decimal(12,2)").as("total"))
      val dimUnique = Tables.load(s, dir, "customer")
        .groupBy(col("c_custkey")).agg(max(col("c_nationkey")).as("nat"))
      def measure(dim: org.apache.spark.sql.DataFrame) =
        fact.join(dim, fact("ckey") === dim("c_custkey"), "left_outer")
          .groupBy(col("opri"))
          .agg(count(lit(1)).cast("bigint").as("n_rows"),
            round(sum(col("total")).cast("double"), 2).as("total_sum"))
      val eliminated = measure(dimUnique)
      val planE = eliminated.queryExecution.executedPlan.toString
      require(!planE.contains("Join"),
        s"q248: the unique-keyed dead dim must be eliminated:\n$planE")
      require("Scan parquet".r.findAllIn(planE).size == 1,
        "q248: the dim scan must disappear with the join")
      // soundness: a right side that is NOT provably unique keeps its join
      val dimDup = Tables.load(s, dir, "customer")
        .select(col("c_custkey"), col("c_nationkey").as("nat"))
      val kept = measure(dimDup)
      require(kept.queryExecution.executedPlan.toString.contains("Join"),
        "q248: a non-unique right side must keep the join — never trust")
      require(Q.sameMultiset(eliminated, kept),
        "q248: elimination must not change the result")
      eliminated
    },

    // ---------------------------------------------------------------- q249
    // NET CHANGES (ChangeFeed.netChanges — collapsed CDC): a feed range
    // reduced to its MINIMAL per-key effect, from O(changes) work. The
    // contract is netChanges(a, b) ≡ diff(snapshot_a, snapshot_b)
    // bit-exactly — pinned in-query along with the three vanishing
    // classes consumers rely on: a key inserted then deleted nets to
    // nothing, a value updated back to its original nets to nothing, a
    // delete followed by an identical re-insert nets to nothing (each
    // required PRESENT in the raw feed and ABSENT from the net). The
    // oracle computes the same minimal diff from set algebra over the
    // first and last snapshots.
    Q("q249_net_changes",
      """WITH base AS (SELECT CAST(c_custkey AS BIGINT) AS k,
        |    CAST(c_nationkey AS INT) AS n, CAST(c_acctbal AS DECIMAL(12,2)) AS b
        |  FROM customer),
        |sh AS (SELECT max(k) + 1 AS s FROM base),
        |v2 AS (SELECT k, n, CAST(b + CASE WHEN n <= 5 THEN 100 ELSE 0 END
        |      AS DECIMAL(12,2)) AS b FROM base WHERE k % 10 <> 1
        |  UNION ALL SELECT k + (SELECT s FROM sh), n, b FROM base WHERE k % 13 = 0),
        |v3 AS (SELECT k, n, CAST(CASE WHEN n <= 2 AND k < (SELECT s FROM sh)
        |      THEN b - 100 ELSE b END AS DECIMAL(12,2)) AS b
        |    FROM v2 WHERE k % 10 <> 7
        |      AND NOT (k >= (SELECT s FROM sh)
        |               AND (k - (SELECT s FROM sh)) % 26 = 0)
        |  UNION ALL SELECT k, n, b FROM base WHERE k % 20 = 1),
        |net AS (
        |  SELECT v3.k, v3.n, v3.b, 'insert' AS ct FROM v3
        |    WHERE v3.k NOT IN (SELECT k FROM base)
        |  UNION ALL SELECT b1.k, b1.n, b1.b, 'delete' FROM base b1
        |    WHERE b1.k NOT IN (SELECT k FROM v3)
        |  UNION ALL SELECT b1.k, b1.n, b1.b, 'update_preimage'
        |    FROM base b1 JOIN v3 ON b1.k = v3.k WHERE b1.b <> v3.b
        |  UNION ALL SELECT v3.k, v3.n, v3.b, 'update_postimage'
        |    FROM v3 JOIN base b1 ON b1.k = v3.k WHERE b1.b <> v3.b)
        |SELECT k, n, round(CAST(b AS DOUBLE), 2) AS bal, ct AS change_type
        |FROM net""".stripMargin) { (s, dir) =>
      import graft.ops.{ChangeFeed, VersionedTable}
      val root = scratch(s, dir, "q249")
      val base = Tables.load(s, dir, "customer")
        .select(col("c_custkey").cast("long").as("k"),
          col("c_nationkey").cast("int").as("n"),
          col("c_acctbal").cast("decimal(12,2)").as("b"))
      val shift = base.agg(max(col("k"))).head.getLong(0) + 1L
      VersionedTable.write(base, root) // v1
      val v2 = base.filter(col("k") % 10 =!= 1)
        .withColumn("b", (col("b") + when(col("n") <= 5, 100).otherwise(0))
          .cast("decimal(12,2)"))
        .unionByName(base.filter(col("k") % 13 === 0)
          .select((col("k") + shift).as("k"), col("n"), col("b")))
      require(ChangeFeed.commit(v2, root, Seq("k")) == 2L, "q249: v2")
      val v3 = VersionedTable.read(s, root)
        .filter(col("k") % 10 =!= 7)
        .filter(!(col("k") >= shift && (col("k") - shift) % 26 === 0))
        .withColumn("b", when(col("n") <= 2 && col("k") < shift,
          col("b") - 100).otherwise(col("b")).cast("decimal(12,2)"))
        .unionByName(base.filter(col("k") % 20 === 1))
      require(ChangeFeed.commit(v3, root, Seq("k")) == 3L, "q249: v3")
      val net = ChangeFeed.netChanges(s, root, 1L, 3L, Seq("k"))
        .localCheckpoint() // the contract check and four class pins read it
      val want = ChangeFeed.diff(
        Some(VersionedTable.readVersion(s, root, 1L)),
        VersionedTable.readVersion(s, root, 3L), Seq("k"))
      require(Q.sameMultiset(net, want),
        "q249: the net must equal the snapshot diff checksum-exactly")
      val feed = ChangeFeed.tableChanges(s, root, 1L, 3L, Seq("k"))
      def inFeedNotNet(pred: org.apache.spark.sql.Column, label: String): Unit = {
        require(feed.filter(pred).count() > 0,
          s"q249: the $label class must appear in the raw feed")
        require(net.filter(pred).isEmpty,
          s"q249: the $label class must vanish from the net")
      }
      // insert-then-delete: shifted keys whose source k % 26 == 0
      inFeedNotNet(col("k") >= shift && (col("k") - shift) % 26 === 0,
        "insert-then-delete")
      // update-back-to-original: n<=2 originals neither deleted nor re-keyed
      inFeedNotNet(col("k") < shift && col("n") <= 2 &&
        col("k") % 10 =!= 1 && col("k") % 10 =!= 7, "update-undone")
      // delete-then-identical-reinsert: ORIGINAL keys k % 20 == 1 (n > 5:
      // value untouched; k < shift: a shifted insert can also land on the
      // residue and is a legitimate net insert)
      inFeedNotNet(col("k") % 20 === 1 && col("n") > 5 && col("k") < shift,
        "reinsert-identical")
      net.select(col("k"), col("n"),
        round(col("b").cast("double"), 2).as("bal"),
        col(ChangeFeed.ChangeType).as("change_type"))
    })
}
