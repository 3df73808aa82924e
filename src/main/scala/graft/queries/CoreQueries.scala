package graft.queries

import org.apache.spark.sql.functions._
import graft.Tables
import graft.ops.{Dedup, Normalize, Quality}

/** SURVEY §2.1-§2.2, §2.5-§2.6, §2.8 operators over the driver testdata.
  * Each query exercises one inventory row end-to-end and is oracle-checked.
  */
object CoreQueries {

  private val Dec18 = "decimal(18,6)"
  private val Dec38 = "decimal(38,6)"
  private val cutoff = "2024-01-15 00:00:00"
  private val cutoffEnd = "2024-01-16 00:00:00"

  val all: Seq[Q] = Seq(

    // ---------------------------------------------------------------- q01
    // A1/A5/A6/A7/A8 + P5: grouped hash aggregation with decimal-exact money
    // arithmetic (the DAX measure family evaluated per filter context).
    // Scale: partial+final HashAggregate, no row explosion; filter pushed to
    // the parquet scan.
    // Numeric discipline: aggregation stays DECIMAL (exact, shuffle-order
    // independent); the FINAL projection converts to round(DOUBLE, 6) on both
    // sides — wide decimals canonicalize differently across engines.
    Q("q01_pricing_summary",
      """SELECT l_returnflag, l_linestatus,
        |  round(CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DECIMAL(38,6)) AS DOUBLE), 6) AS sum_qty,
        |  round(CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DECIMAL(38,6)) AS DOUBLE), 6) AS sum_base_price,
        |  round(CAST(CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,6)) * CAST(1 - CAST(l_discount AS DECIMAL(18,6)) AS DECIMAL(12,6)) AS DECIMAL(18,6))) AS DECIMAL(38,6)) AS DOUBLE), 6) AS sum_disc_price,
        |  round(CAST(CAST(SUM(CAST(CAST(CAST(l_extendedprice AS DECIMAL(18,6)) * CAST(1 - CAST(l_discount AS DECIMAL(18,6)) AS DECIMAL(12,6)) AS DECIMAL(18,6)) * CAST(1 + CAST(l_tax AS DECIMAL(18,6)) AS DECIMAL(12,6)) AS DECIMAL(18,6))) AS DECIMAL(38,6)) AS DOUBLE), 6) AS sum_charge,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) / count(*) AS avg_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) / count(*) AS avg_price,
        |  count(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate < TIMESTAMP '1998-09-03 00:00:00'
        |GROUP BY l_returnflag, l_linestatus""".stripMargin) { (s, dir) =>
      val li = Tables.load(s, dir, "lineitem")
      val qty = col("l_quantity").cast(Dec18)
      val ep = col("l_extendedprice").cast(Dec18)
      val oneMinusDisc = (lit(1) - col("l_discount").cast(Dec18)).cast("decimal(12,6)")
      val onePlusTax = (lit(1) + col("l_tax").cast(Dec18)).cast("decimal(12,6)")
      val discPrice = (ep * oneMinusDisc).cast(Dec18)
      li.filter(col("l_shipdate") < lit("1998-09-03 00:00:00").cast("timestamp"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          round(sum(qty).cast(Dec38).cast("double"), 6).as("sum_qty"),
          round(sum(ep).cast(Dec38).cast("double"), 6).as("sum_base_price"),
          round(sum(discPrice).cast(Dec38).cast("double"), 6).as("sum_disc_price"),
          round(sum((discPrice * onePlusTax).cast(Dec18)).cast(Dec38).cast("double"), 6).as("sum_charge"),
          (sum(qty).cast("double") / count(lit(1))).as("avg_qty"),
          (sum(ep).cast("double") / count(lit(1))).as("avg_price"),
          count(lit(1)).as("count_order"))
    },

    // ---------------------------------------------------------------- q02
    // A2: SELECT DISTINCT (2-phase hash aggregate).
    Q("q02_distinct_dims",
      "SELECT DISTINCT o_orderstatus, o_orderpriority FROM orders") { (s, dir) =>
      Tables.load(s, dir, "orders")
        .select(col("o_orderstatus"), col("o_orderpriority"))
        .distinct()
    },

    // ---------------------------------------------------------------- q03
    // A4: exact DISTINCTCOUNT per group ("Securities Tracked" shape).
    Q("q03_count_distinct",
      """SELECT l_returnflag,
        |  count(DISTINCT l_partkey) AS n_parts,
        |  count(DISTINCT l_suppkey) AS n_suppliers,
        |  count(*) AS n_rows
        |FROM lineitem GROUP BY l_returnflag""".stripMargin) { (s, dir) =>
      Tables.load(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          countDistinct(col("l_partkey")).as("n_parts"),
          countDistinct(col("l_suppkey")).as("n_suppliers"),
          count(lit(1)).as("n_rows"))
    },

    // ---------------------------------------------------------------- q04
    // P2-P5 + S5: incremental date filter, UPPER(TRIM()) normalization,
    // NULL_IF tokens, TRY_TO_DECIMAL on a JSON-extracted field.
    Q("q04_norm_parse",
      """SELECT event_id, user_id,
        |  CAST(ts AS DATE) AS event_date,
        |  upper(trim(event_type)) AS event_type_norm,
        |  round(CAST(TRY_CAST(regexp_extract(props, '"k": (-?\d+)', 1) AS DECIMAL(18,6)) AS DOUBLE), 6) AS k_value
        |FROM events
        |WHERE ts >= TIMESTAMP '2024-01-15 00:00:00' AND ts < TIMESTAMP '2024-01-16 00:00:00'""".stripMargin) { (s, dir) =>
      val ev = Tables.load(s, dir, "events")
      ev.filter(col("ts") >= lit("2024-01-15 00:00:00").cast("timestamp") &&
          col("ts") < lit("2024-01-16 00:00:00").cast("timestamp"))
        .select(
          col("event_id"), col("user_id"),
          to_date(col("ts")).as("event_date"),
          Normalize.normKey(col("event_type")).as("event_type_norm"),
          round(Normalize.tryTo(
            Normalize.nullIfTokens(regexp_extract(col("props"), "\"k\": (-?\\d+)", 1)),
            org.apache.spark.sql.types.DecimalType(18, 6)).cast("double"), 6).as("k_value"))
    },

    // ---------------------------------------------------------------- q05
    // J1/J2: star join through three broadcast-sized dimensions; revenue per
    // region. Scale: all three dims broadcast — the fact table never shuffles.
    Q("q05_star_join",
      """SELECT r_name,
        |  round(CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6)) * CAST(1 - CAST(l_discount AS DECIMAL(18,6)) AS DECIMAL(12,6))) AS DECIMAL(38,6)) AS DOUBLE), 6) AS revenue,
        |  count(*) AS n_rows
        |FROM lineitem
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name""".stripMargin) { (s, dir) =>
      val li = Tables.load(s, dir, "lineitem")
      val sup = Tables.load(s, dir, "supplier")
      val nat = Tables.load(s, dir, "nation")
      val reg = Tables.load(s, dir, "region")
      val rev = col("l_extendedprice").cast(Dec18) *
        (lit(1) - col("l_discount").cast(Dec18)).cast("decimal(12,6)")
      li.join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(reg), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"))
        .agg(round(sum(rev).cast(Dec38).cast("double"), 6).as("revenue"),
          count(lit(1)).as("n_rows"))
    },

    // ---------------------------------------------------------------- q06
    // D11: previous *calendar* day via self-join on date_add(d,1) — the
    // literal DATEADD(CAL_DATE,-1,DAY) variant of Daily Change (W2's lag form
    // is q15). Scale: both sides share the (suppkey, day) aggregation; the
    // self-join keys match the aggregation keys so AQE reuses the exchange.
    Q("q06_calendar_shift",
      """WITH daily AS (
        |  SELECT l_suppkey, CAST(l_shipdate AS DATE) AS cal_day,
        |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DECIMAL(38,6)) AS revenue
        |  FROM lineitem GROUP BY 1, 2)
        |SELECT c.l_suppkey, c.cal_day,
        |  round(CAST(c.revenue AS DOUBLE), 6) AS revenue,
        |  round(CAST(p.prev_revenue AS DOUBLE), 6) AS prev_revenue
        |FROM daily c LEFT JOIN (
        |  SELECT l_suppkey, cal_day + 1 AS cal_day, revenue AS prev_revenue FROM daily) p
        |USING (l_suppkey, cal_day)""".stripMargin) { (s, dir) =>
      // NOTE: measured, not checkpointed — materializing the 533k-row daily
      // aggregate costs more than letting both self-join sides recompute it
      // (the scan+agg is cheap and the sides run concurrently)
      val daily = Tables.load(s, dir, "lineitem")
        .groupBy(col("l_suppkey"), to_date(col("l_shipdate")).as("cal_day"))
        .agg(sum(col("l_extendedprice").cast(Dec18)).cast(Dec38).as("revenue"))
      graft.analytics.Measures.calendarShiftJoin(daily, Seq("l_suppkey"), "cal_day", "revenue")
        .select(col("l_suppkey"), col("cal_day"),
          round(col("revenue").cast("double"), 6).as("revenue"),
          round(col("prev_revenue").cast("double"), 6).as("prev_revenue"))
    },

    // ---------------------------------------------------------------- q07
    // V4 (J3/J4/J9/A1/A3): pre-merge forecast — raw rows, incoming keys,
    // matched keys, estimated inserts/updates for the 2024-01-15 batch of
    // events keyed (user_id, UPPER(TRIM(event_type))).
    Q("q07_premerge_metrics",
      """WITH raw AS (
        |  SELECT * FROM events
        |  WHERE ts >= TIMESTAMP '2024-01-15 00:00:00' AND ts < TIMESTAMP '2024-01-16 00:00:00'),
        |ik AS (SELECT DISTINCT user_id, upper(trim(event_type)) AS et FROM raw),
        |ex AS (SELECT DISTINCT user_id, upper(trim(event_type)) AS et FROM events
        |       WHERE ts < TIMESTAMP '2024-01-15 00:00:00'),
        |c1 AS (SELECT count(*) AS raw_rows FROM raw),
        |c2 AS (SELECT count(*) AS key_rows FROM ik),
        |c3 AS (SELECT count(*) AS matched_keys FROM ik JOIN ex USING (user_id, et))
        |SELECT raw_rows, key_rows, matched_keys,
        |  key_rows - matched_keys AS est_inserts, matched_keys AS est_updates
        |FROM c1, c2, c3""".stripMargin) { (s, dir) =>
      // fused single-scan form: both "slices" come from the same table, so
      // one pass + one shuffle replaces 4 scans + 3 shuffles (same contract
      // as Quality.premergeMetrics, the two-table reference form that the
      // EOD pipeline's observed V4 counts are checked against)
      val ev = Tables.load(s, dir, "events")
        .select(col("user_id"), Normalize.normKey(col("event_type")).as("et"), col("ts"))
      Quality.premergeMetricsFused(ev, Seq("user_id", "et"),
        isRaw = col("ts") >= lit("2024-01-15 00:00:00").cast("timestamp") &&
          col("ts") < lit("2024-01-16 00:00:00").cast("timestamp"),
        isExisting = col("ts") < lit("2024-01-15 00:00:00").cast("timestamp"))
    },

    // ---------------------------------------------------------------- q08
    // V5/J10: post-merge reconciliation — two scalar counts + parity bit.
    Q("q08_postmerge_parity",
      """WITH core AS (
        |  SELECT user_id, upper(trim(event_type)) AS et, event_id FROM events
        |  QUALIFY row_number() OVER (PARTITION BY user_id, upper(trim(event_type))
        |                             ORDER BY ts DESC, event_id DESC) = 1),
        |fact AS (SELECT DISTINCT user_id, upper(trim(event_type)) AS et FROM events)
        |SELECT (SELECT count(*) FROM core) AS core_rows,
        |       (SELECT count(*) FROM fact) AS fact_rows,
        |       (SELECT count(*) FROM core) = (SELECT count(*) FROM fact) AS row_parity""".stripMargin) { (s, dir) =>
      val ev = Tables.load(s, dir, "events")
      val core = Dedup.latestBy(ev,
        Seq(col("user_id"), Normalize.normKey(col("event_type"))),
        Seq(col("ts"), col("event_id")))
      val fact = ev.select(col("user_id"), Normalize.normKey(col("event_type"))).distinct()
      Quality.postmergeParity(core, fact)
    },

    // ---------------------------------------------------------------- q09
    // P7/V3: COUNT(*) > 0 existence gate with the incremental date predicate.
    Q("q09_check_loaded",
      """SELECT count(*) > 0 AS data_loaded, count(*) AS n_rows FROM events
        |WHERE ts >= TIMESTAMP '2024-01-15 00:00:00' AND ts < TIMESTAMP '2024-01-16 00:00:00'""".stripMargin) { (s, dir) =>
      Tables.load(s, dir, "events")
        .filter(col("ts") >= lit("2024-01-15 00:00:00").cast("timestamp") &&
          col("ts") < lit("2024-01-16 00:00:00").cast("timestamp"))
        .agg((count(lit(1)) > 0).as("data_loaded"), count(lit(1)).as("n_rows"))
    },

    // ---------------------------------------------------------------- q47
    // §2.7 set ops beyond the reference: INTERSECT / EXCEPT as user-cohort
    // algebra (clicked ∩ purchased, clicked ∖ purchased).
    Q("q47_set_ops",
      """WITH c AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'click'),
        |p AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase')
        |SELECT 'both' AS cohort, count(*) AS n FROM (SELECT * FROM c INTERSECT SELECT * FROM p)
        |UNION ALL
        |SELECT 'click_only', count(*) FROM (SELECT * FROM c EXCEPT SELECT * FROM p)""".stripMargin) { (s, dir) =>
      val ev = Tables.load(s, dir, "events")
      def cohort(t: String) =
        ev.filter(col("event_type") === t).select(col("user_id")).distinct()
      val both = cohort("click").intersect(cohort("purchase"))
        .agg(count(lit(1)).as("n")).select(lit("both").as("cohort"), col("n"))
      val only = cohort("click").except(cohort("purchase"))
        .agg(count(lit(1)).as("n")).select(lit("click_only").as("cohort"), col("n"))
      both.unionByName(only)
    },

    // ---------------------------------------------------------------- q88
    // CDC snapshot diff: the change set between two deduped states of the
    // keyed table (yesterday's close vs today's) as insert/update/delete
    // ops — what a downstream consumer replays instead of re-reading the
    // table. One full-outer join on the merge keys; both snapshots are
    // key-deduped first so the diff is row-per-key.
    Q("q88_snapshot_diff",
      s"""WITH a AS (
        |  SELECT user_id, upper(trim(event_type)) AS et, event_id, value FROM events
        |  WHERE ts < TIMESTAMP '$cutoff'
        |  QUALIFY row_number() OVER (PARTITION BY user_id, upper(trim(event_type))
        |                             ORDER BY ts DESC, event_id DESC) = 1),
        |b AS (
        |  SELECT user_id, upper(trim(event_type)) AS et, event_id, value FROM events
        |  WHERE ts < TIMESTAMP '$cutoffEnd'
        |  QUALIFY row_number() OVER (PARTITION BY user_id, upper(trim(event_type))
        |                             ORDER BY ts DESC, event_id DESC) = 1)
        |SELECT coalesce(a.user_id, b.user_id) AS user_id,
        |  coalesce(a.et, b.et) AS et,
        |  CASE WHEN a.user_id IS NULL THEN 'insert'
        |       WHEN b.user_id IS NULL THEN 'delete'
        |       WHEN a.event_id <> b.event_id THEN 'update' END AS op,
        |  a.event_id AS old_event_id, b.event_id AS new_event_id
        |FROM a FULL JOIN b ON a.user_id = b.user_id AND a.et = b.et
        |WHERE CASE WHEN a.user_id IS NULL THEN 'insert'
        |       WHEN b.user_id IS NULL THEN 'delete'
        |       WHEN a.event_id <> b.event_id THEN 'update' END IS NOT NULL""".stripMargin) { (s, dir) =>
      def snap(endTs: String) = Dedup.latestBy(
          Tables.load(s, dir, "events").filter(col("ts") < lit(endTs).cast("timestamp")),
          Seq(col("user_id"), Normalize.normKey(col("event_type"))),
          Seq(col("ts"), col("event_id")))
        .select(col("user_id"), Normalize.normKey(col("event_type")).as("et"),
          col("event_id"), col("value"))
      val a = snap(cutoff).withColumnRenamed("event_id", "old_event_id")
      val b = snap(cutoffEnd).withColumnRenamed("event_id", "new_event_id")
      val op = when(a("user_id").isNull, "insert")
        .when(b("user_id").isNull, "delete")
        .when(col("old_event_id") =!= col("new_event_id"), "update")
      a.join(b, a("user_id") === b("user_id") && a("et") === b("et"), "full_outer")
        .select(coalesce(a("user_id"), b("user_id")).as("user_id"),
          coalesce(a("et"), b("et")).as("et"),
          op.as("op"), col("old_event_id"), col("new_event_id"))
        .filter(col("op").isNotNull)
    },

    // ---------------------------------------------------------------- q89
    // Column profile (the ingest-quality diagnostic run before a table is
    // admitted to the lake): row count, null count, exact distinct count
    // per column — ONE scan producing one wide aggregate row, reshaped to a
    // row per column. At 100 TB this is the query that decides whether a
    // partition is admitted; one pass matters.
    Q("q89_profile",
      """WITH m AS (SELECT count(*) AS n,
        |  count(o_custkey) AS nn1, count(DISTINCT o_custkey) AS nd1,
        |  count(o_orderstatus) AS nn2, count(DISTINCT o_orderstatus) AS nd2,
        |  count(o_totalprice) AS nn3, count(DISTINCT o_totalprice) AS nd3,
        |  count(o_orderpriority) AS nn4, count(DISTINCT o_orderpriority) AS nd4
        |  FROM orders)
        |SELECT 'o_custkey' AS col_name, n AS n_rows, n - nn1 AS n_null, nd1 AS n_distinct FROM m
        |UNION ALL SELECT 'o_orderstatus', n, n - nn2, nd2 FROM m
        |UNION ALL SELECT 'o_totalprice', n, n - nn3, nd3 FROM m
        |UNION ALL SELECT 'o_orderpriority', n, n - nn4, nd4 FROM m""".stripMargin) { (s, dir) =>
      val cols = Seq("o_custkey", "o_orderstatus", "o_totalprice", "o_orderpriority")
      val aggs = count(lit(1)).as("n") +: cols.flatMap(c => Seq(
        count(col(c)).as(s"nn_$c"), countDistinct(col(c)).as(s"nd_$c")))
      val m = Tables.load(s, dir, "orders").agg(aggs.head, aggs.tail: _*)
      cols.map { c =>
        m.select(lit(c).as("col_name"), col("n").as("n_rows"),
          (col("n") - col(s"nn_$c")).as("n_null"), col(s"nd_$c").as("n_distinct"))
      }.reduce(_ unionByName _)
    },

    // ---------------------------------------------------------------- q90
    // Trading-date assignment in exchange time: the reference computes its
    // batch date in America/New_York, not UTC (get_securities_data.py:14,103
    // pendulum.timezone("America/New_York")) — a UTC-stamped event after
    // 19:00 EST belongs to the NEXT UTC day but the SAME NY trading day.
    // from_utc_timestamp shifts through the IANA rules (DST-correct); the
    // oracle spells the same conversion with AT TIME ZONE.
    Q("q90_trading_date",
      """SELECT CAST((ts AT TIME ZONE 'UTC') AT TIME ZONE 'America/New_York' AS DATE)
        |    AS trading_date,
        |  count(*) AS n_events,
        |  count(DISTINCT user_id) AS n_users
        |FROM events GROUP BY 1""".stripMargin) { (s, dir) =>
      Tables.load(s, dir, "events")
        .groupBy(to_date(from_utc_timestamp(col("ts"), "America/New_York"))
          .as("trading_date"))
        .agg(count(lit(1)).as("n_events"),
          countDistinct(col("user_id")).as("n_users"))
    },

    // ---------------------------------------------------------------- q91
    // OHLC bars — the reference's core domain object (daily open/high/low/
    // close per security, eod_data_downloader.py:152) built from ticks in
    // ONE hash aggregate: open/close are min_by/max_by over a total
    // (ts, id) order (encoded as a zero-padded string so both engines
    // compare it identically), high/low plain extrema. No window, no sort —
    // first/last_value over a window would sort every partition for what a
    // partial-aggregable arg-extreme computes in a streaming pass.
    Q("q91_ohlc_bars",
      """SELECT user_id, CAST(ts AS DATE) AS day,
        |  round(arg_min(value, lpad(CAST(epoch_us(ts) AS VARCHAR), 20, '0')
        |    || lpad(CAST(event_id AS VARCHAR), 12, '0')), 6) AS open,
        |  round(max(value), 6) AS high,
        |  round(min(value), 6) AS low,
        |  round(arg_max(value, lpad(CAST(epoch_us(ts) AS VARCHAR), 20, '0')
        |    || lpad(CAST(event_id AS VARCHAR), 12, '0')), 6) AS close,
        |  count(*) AS n_ticks
        |FROM events GROUP BY 1, 2""".stripMargin) { (s, dir) =>
      val key = concat(
        lpad(unix_micros(col("ts")).cast("string"), 20, "0"),
        lpad(col("event_id").cast("string"), 12, "0"))
      Tables.load(s, dir, "events")
        .groupBy(col("user_id"), to_date(col("ts")).as("day"))
        .agg(
          round(min_by(col("value"), key), 6).as("open"),
          round(max(col("value")), 6).as("high"),
          round(min(col("value")), 6).as("low"),
          round(max_by(col("value"), key), 6).as("close"),
          count(lit(1)).as("n_ticks"))
    },

    // ---------------------------------------------------------------- q92
    // Incremental aggregate maintenance (the rollup-refresh): the running
    // per-user aggregate table absorbs one day's delta by MERGING partial
    // states (counts add, exact decimal sums add) instead of recomputing
    // history. The ORACLE is the full recompute over the combined range —
    // the driver's hash compare proves merge(state, delta) ≡ recompute,
    // which is the property that lets a 100 TB rollup refresh in O(day).
    Q("q92_incremental_agg",
      s"""SELECT user_id, count(*) AS n_events,
        |  round(CAST(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DECIMAL(38,6)) AS DOUBLE), 6)
        |    AS total_value
        |FROM events WHERE ts < TIMESTAMP '$cutoffEnd'
        |GROUP BY 1""".stripMargin) { (s, dir) =>
      def partial(from: Option[String], until: String) = {
        val ev = Tables.load(s, dir, "events")
          .filter(col("ts") < lit(until).cast("timestamp"))
        from.fold(ev)(f => ev.filter(col("ts") >= lit(f).cast("timestamp")))
          .groupBy(col("user_id"))
          .agg(count(lit(1)).as("n"), sum(col("value").cast(Dec18)).cast(Dec38).as("sv"))
      }
      val state = partial(None, cutoff)           // yesterday's rollup table
      val delta = partial(Some(cutoff), cutoffEnd) // today's increment
      state.select(col("user_id"), col("n").as("n_a"), col("sv").as("s_a"))
        .join(delta.select(col("user_id"), col("n").as("n_b"), col("sv").as("s_b")),
          Seq("user_id"), "full_outer")
        .select(col("user_id"),
          (coalesce(col("n_a"), lit(0L)) + coalesce(col("n_b"), lit(0L))).as("n_events"),
          round((coalesce(col("s_a"), lit(0).cast(Dec38)) +
            coalesce(col("s_b"), lit(0).cast(Dec38))).cast(Dec38).cast("double"), 6)
            .as("total_value"))
    },

    // ---------------------------------------------------------------- q10
    // W1: latest-record dedup (ROW_NUMBER ... QUALIFY rn=1) with the
    // deterministic (ts DESC, event_id DESC) tiebreaker.
    Q("q10_dedup_latest",
      """SELECT user_id, upper(trim(event_type)) AS event_type, event_id, value
        |FROM events
        |QUALIFY row_number() OVER (PARTITION BY user_id, upper(trim(event_type))
        |                           ORDER BY ts DESC, event_id DESC) = 1""".stripMargin) { (s, dir) =>
      val ev = Tables.load(s, dir, "events")
      Dedup.latestBy(ev,
        Seq(col("user_id"), Normalize.normKey(col("event_type"))),
        Seq(col("ts"), col("event_id")))
        .select(col("user_id"), Normalize.normKey(col("event_type")).as("event_type"),
          col("event_id"), col("value"))
    })
}
