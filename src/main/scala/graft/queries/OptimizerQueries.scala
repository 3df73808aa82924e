package graft.queries

import org.apache.spark.sql.functions._
import graft.Tables
import graft.queries.Q.scratch

/** Round-7 continuation: optimizer/cost-model and incremental-maintenance
  * operators — connector statistics driving join strategy, plan-level
  * rewrites, and the Z-relation join-view algebra. Plan probes follow the
  * q185/q199 rule: AQE off for the plan read, confs saved/restored, shapes
  * require'd in-query so a planner regression is a red CORRECTNESS row,
  * not a silent slowdown.
  */
object OptimizerQueries {

  val all: Seq[Q] = Seq(

    // ---------------------------------------------------------------- q253
    // STATS-DRIVEN JOIN PLANNING through the connector API
    // (`SupportsReportStatistics`): the same kilobyte dim layout joined to
    // the fact three ways — (a) through the stats-less source, where the v2
    // default (spark.sql.defaultSizeInBytes = Long.Max) forces a
    // conservative SORT-MERGE of the whole fact; (b) through the
    // stats-reporting source with its ACTUAL bytes, where JoinSelection
    // sees a sub-threshold build side and plans the BROADCAST; (c) with the
    // reported size inflated past the threshold, where the merge returns —
    // proving the decision tracks the REPORTED statistic, not the layout.
    // All three plans compute identical values (require'd bit-exact); the
    // returned result runs the broadcast plan. At 100 TB this statistic is
    // the difference between shuffling the fact across 1000 executors and
    // shipping one dim everywhere — and it arrives from table metadata
    // (manifest totals), never a data scan.
    Q("q253_stats_driven_join",
      """WITH f AS (SELECT l_suppkey % 25 AS k, l_orderkey FROM lineitem),
        |d AS (SELECT n_nationkey AS k, CAST(n_regionkey AS BIGINT) AS region
        |      FROM nation)
        |SELECT region, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(l_orderkey) AS BIGINT) AS key_sum
        |FROM f JOIN d USING (k) GROUP BY 1""".stripMargin) { (s, dir) =>
      import graft.source.{KeyedDsv2, StatsDsv2}
      import org.apache.spark.sql.DataFrame
      import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec}
      val root = scratch(s, dir, "q253")
      val dim = Tables.load(s, dir, "nation")
        .select(col("n_nationkey").cast("int").as("k"),
          col("n_regionkey").cast("long").as("region"),
          col("n_nationkey").cast("long").as("natkey"))
      KeyedDsv2.writeBucketed(dim, s"$root/dim")
      val fact = Tables.load(s, dir, "lineitem")
        .select((col("l_suppkey") % 25).cast("int").as("k"),
          col("l_orderkey").cast("long").as("okey"))
      def agg(d: DataFrame): DataFrame =
        fact.join(d, Seq("k"))
          .groupBy(col("region"))
          .agg(count(lit(1)).cast("bigint").as("n_rows"),
            sum(col("okey")).cast("bigint").as("key_sum"))
      val aqeKey = "spark.sql.adaptive.enabled"
      val thrKey = "spark.sql.autoBroadcastJoinThreshold"
      val saved = Seq(aqeKey, thrKey).map(k => k -> s.conf.get(k))
      try {
        s.conf.set(aqeKey, "false") // q185 rule: clean plan read
        // 16 KiB: the dim's true bytes sit UNDER it, the fact parquet (117 KiB
        // at sf0.001 and up) sits OVER it at every SF — so the only candidate
        // build side is the dim, and only when its reported size is accurate
        s.conf.set(thrKey, (16 * 1024).toString)
        def shape(d: DataFrame): (Int, Int) = {
          val plan = agg(d).queryExecution.executedPlan
          (plan.collect { case j: BroadcastHashJoinExec => j }.length,
            plan.collect { case j: SortMergeJoinExec => j }.length)
        }
        // (a) no statistics: v2 default size is Long.Max — never broadcast
        require(shape(KeyedDsv2.read(s, s"$root/dim", "region", "natkey"))
          == ((0, 1)),
          "q253: the stats-less connector read must plan a sort-merge join")
        // (b) actual bytes reported: kilobytes < threshold — broadcast
        val withStats = StatsDsv2.read(s, s"$root/dim", "region", "natkey")
        require(shape(withStats) == ((1, 0)),
          "q253: accurate reported stats must flip the join to a broadcast")
        // (c) same layout, reported size inflated past the threshold
        require(shape(StatsDsv2.read(s, s"$root/dim", "region", "natkey",
          sizeInBytes = Some(1L << 34))) == ((0, 1)),
          "q253: an inflated reported size must push the join back to merge")
        // the decision tracked the statistic; values are plan-invariant
        val bc = agg(withStats).localCheckpoint()
        val smj = agg(KeyedDsv2.read(s, s"$root/dim", "region", "natkey"))
        require(Q.sameMultiset(bc, smj),
          "q253: broadcast and merge plans must agree checksum-exactly")
        bc
      } finally saved.foreach { case (k, v) => s.conf.set(k, v) }
    },

    // ---------------------------------------------------------------- q254
    // JOIN-VIEW INCREMENTAL MAINTENANCE — the bilinear Z-relation rule
    // (DBSP / differential dataflow's published algebra):
    // Δ(A⋈B) = ΔA⋈B₀ + A₀⋈ΔB + ΔA⋈ΔB with ±1 multiplicities, composed
    // with the REAL change feed: both base tables are ChangeFeed-committed
    // VersionedTables, both deltas come from `tableChanges` (inserts,
    // deletes, AND updates — an update is retraction+assertion under the
    // signed projection), and the view lives multiplicity-counted because
    // projecting away the fact PK makes the join a bag. The maintained
    // view is require'd BIT-EXACT against a full recompute of the live
    // snapshots — the same audit-twin contract as q201's aggregate IVM,
    // now for the join operator the delta rule was invented for. Scale
    // shape: the three delta terms cost O(ΔA·B + A·ΔB + ΔA·ΔB) with
    // batch-sized deltas broadcast; the O(A·B) recompute runs here only
    // as the audit, never as the maintenance path.
    Q("q254_join_view_ivm",
      """WITH a2 AS (SELECT o_orderkey AS okey, o_custkey AS custkey,
        |    CASE WHEN o_orderkey % 4 <> 3 AND o_orderkey % 10 = 1
        |         THEN (o_orderkey + 1) % 7 ELSE o_orderkey % 7 END AS pb
        |  FROM orders
        |  WHERE (o_orderkey % 4 <> 3 AND o_orderkey % 10 <> 0)
        |     OR o_orderkey % 4 = 3),
        |b2 AS (SELECT c_custkey AS custkey,
        |    CASE WHEN c_custkey % 5 <> 4 AND c_custkey % 9 = 1
        |         THEN (c_nationkey + 1) % 25 ELSE c_nationkey END AS natkey
        |  FROM customer
        |  WHERE (c_custkey % 5 <> 4 AND c_custkey % 9 <> 0)
        |     OR c_custkey % 5 = 4)
        |SELECT custkey, CAST(pb AS BIGINT) AS pb,
        |  CAST(natkey AS BIGINT) AS natkey, CAST(count(*) AS BIGINT) AS n
        |FROM a2 JOIN b2 USING (custkey) GROUP BY 1, 2, 3""".stripMargin) { (s, dir) =>
      import graft.ops.{ChangeFeed, IncrementalView => IV, VersionedTable => VT}
      val root = scratch(s, dir, "q254")
      val (dirA, dirB) = (s"$root/a", s"$root/b")
      val orders = Tables.load(s, dir, "orders")
        .select(col("o_orderkey").cast("long").as("okey"),
          col("o_custkey").cast("long").as("custkey"))
      val a1 = orders.filter(col("okey") % 4 =!= 3)
        .withColumn("pb", col("okey") % 7)
      val a2 = orders
        .filter((col("okey") % 4 =!= 3 && col("okey") % 10 =!= 0) ||
          col("okey") % 4 === 3)
        .withColumn("pb", when(col("okey") % 4 =!= 3 && col("okey") % 10 === 1,
          (col("okey") + 1) % 7).otherwise(col("okey") % 7))
      val cust = Tables.load(s, dir, "customer")
        .select(col("c_custkey").cast("long").as("custkey"),
          col("c_nationkey").cast("long").as("natkey"))
      val b1 = cust.filter(col("custkey") % 5 =!= 4)
      val b2 = cust
        .filter((col("custkey") % 5 =!= 4 && col("custkey") % 9 =!= 0) ||
          col("custkey") % 5 === 4)
        .withColumn("natkey",
          when(col("custkey") % 5 =!= 4 && col("custkey") % 9 === 1,
            (col("natkey") + 1) % 25).otherwise(col("natkey")))
      ChangeFeed.commit(a1, dirA, Seq("okey"))
      ChangeFeed.commit(a2, dirA, Seq("okey"))
      ChangeFeed.commit(b1, dirB, Seq("custkey"))
      ChangeFeed.commit(b2, dirB, Seq("custkey"))
      val viewCols = Seq("custkey", "pb", "natkey")
      val a0 = VT.readVersion(s, dirA, 1).select(col("custkey"), col("pb"))
      val b0 = VT.readVersion(s, dirB, 1).select(col("custkey"), col("natkey"))
      val view1 = IV.counted(a0.join(b0, Seq("custkey")), viewCols)
      val dA = IV.signed(ChangeFeed.tableChanges(s, dirA, 1, 2, Seq("okey")),
        Seq("custkey", "pb"))
      val dB = IV.signed(ChangeFeed.tableChanges(s, dirB, 1, 2, Seq("custkey")),
        Seq("custkey", "natkey"))
      val view2 = IV.applyCounted(view1,
        IV.joinDelta(a0, dA, b0, dB, Seq("custkey")), viewCols)
        .select(col("custkey"), col("pb"), col("natkey"),
          col(IV.SignCol).as("n"))
        .localCheckpoint()
      // audit twin: the maintained view must equal the full recompute of
      // the LIVE snapshots bit-exactly — and a Z-set never goes negative
      val full2 = IV.counted(
        VT.readVersion(s, dirA, 2).select(col("custkey"), col("pb"))
          .join(VT.readVersion(s, dirB, 2).select(col("custkey"), col("natkey")),
            Seq("custkey")), viewCols)
        .select(col("custkey"), col("pb"), col("natkey"), col(IV.SignCol).as("n"))
      require(Q.sameMultiset(view2, full2),
        "q254: maintained join view must equal the full recompute checksum-exactly")
      require(view2.filter(col("n") <= 0L).isEmpty,
        "q254: a maintained multiplicity went non-positive")
      view2
    },

    // ---------------------------------------------------------------- q255
    // MATERIALIZED-VIEW AUTO-REWRITE (plans/MvRewrite.scala — the third
    // graft optimizer rule): a (flag, status) summary table is registered
    // for the lineitem base; a dashboard aggregate grouping on flag alone
    // with SUM/COUNT derivable measures is TRANSPARENTLY answered from the
    // kilobyte rollup — pinned on the executed plan: the rewritten query
    // scans ONLY the MV parquet, never the base file. The soundness
    // envelope is pinned by two negative controls (a grouping outside the
    // MV's columns, a non-distributive MAX) that must keep scanning the
    // base, and by a value audit: rewritten ≡ unrewritten bit-exactly.
    // At 100 TB this converts every subsumed dashboard refresh from an
    // O(fact) scan into an O(groups) one, with derivability PROVEN from
    // the plan rather than trusted.
    Q("q255_mv_rewrite",
      """SELECT l_returnflag, CAST(sum(l_orderkey) AS BIGINT) AS key_sum,
        |  CAST(count(*) AS BIGINT) AS n
        |FROM lineitem GROUP BY 1""".stripMargin) { (s, dir) =>
      import graft.plans.MvRewrite
      import org.apache.spark.sql.DataFrame
      val root = scratch(s, dir, "q255")
      val basePath = s"$dir/lineitem.parquet"
      val mvPath = s"$root/mv"
      Tables.load(s, dir, "lineitem")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).cast("long").as("cnt"),
          sum(col("l_orderkey")).as("sum_okey"))
        .write.mode("overwrite").parquet(mvPath)
      val aqeKey = "spark.sql.adaptive.enabled"
      val prevAqe = s.conf.get(aqeKey)
      def scannedPaths(df: DataFrame): Seq[String] =
        df.queryExecution.executedPlan.collect {
          case f: org.apache.spark.sql.execution.FileSourceScanExec =>
            f.relation.location.rootPaths.map(_.toString)
        }.flatten
      def userQuery = Tables.load(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(sum(col("l_orderkey")).as("key_sum"),
          count(lit(1)).as("n"))
      try {
        s.conf.set(aqeKey, "false") // q185 rule: clean plan read
        MvRewrite.register(basePath, mvPath,
          Seq("l_returnflag", "l_linestatus"),
          Seq(MvRewrite.CountStar("cnt"),
            MvRewrite.SumOf("l_orderkey", "sum_okey")))
        val paths = scannedPaths(userQuery)
        require(paths.nonEmpty && paths.forall(_.contains("q255")),
          s"q255: the subsumed aggregate must scan ONLY the MV, got $paths")
        // negative control 1: grouping outside the MV's columns → base scan
        require(scannedPaths(Tables.load(s, dir, "lineitem")
          .groupBy(col("l_suppkey")).agg(count(lit(1)).as("n")))
          .exists(_.contains("lineitem")),
          "q255: a non-subsumed grouping must keep scanning the base")
        // negative control 2: non-distributive MAX → base scan
        require(scannedPaths(Tables.load(s, dir, "lineitem")
          .groupBy(col("l_returnflag")).agg(max(col("l_orderkey")).as("m")))
          .exists(_.contains("lineitem")),
          "q255: a non-derivable aggregate must keep scanning the base")
        val fromMv = userQuery.localCheckpoint()
        MvRewrite.clear()
        val fromBase = userQuery
        require(Q.sameMultiset(fromMv, fromBase),
          "q255: rewritten and base answers must agree checksum-exactly")
        fromMv
      } finally { MvRewrite.clear(); s.conf.set(aqeKey, prevAqe) }
    },

    // ---------------------------------------------------------------- q256
    // HIDDEN PARTITIONING with inclusive predicate projection (Iceberg's
    // published transform-projection design, `ops/HiddenPartitioning`):
    // events lie day-partitioned by a transform of `ts` the user never
    // names; a `ts BETWEEN` filter projects — by day()'s monotonicity —
    // onto the day range, pruning 30 directories to 4, and the exact
    // predicate re-applies as the residual, so pruned ≡ direct-filter
    // bit-exactly (require'd, and the equality IS the returned result's
    // provenance). The negative is pinned too: a bucket transform is not
    // monotone, so the only sound projection of a range admits EVERY
    // bucket — conservative, never wrong. This is the complement to
    // q232's spec-evolution epochs (equality probes) and q177/q185's
    // explicit partition filters: here the pruning predicate is DERIVED,
    // the user only speaks in data columns. At 100 TB a time-range scan
    // touches O(days) directories instead of the whole table — and can't
    // be defeated by the user forgetting the partition column exists.
    Q("q256_hidden_partitioning",
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(event_id) AS BIGINT) AS id_sum
        |FROM events
        |WHERE ts >= TIMESTAMP '2024-01-10 06:00:00'
        |  AND ts <= TIMESTAMP '2024-01-13 18:00:00'
        |GROUP BY 1""".stripMargin) { (s, dir) =>
      import graft.ops.HiddenPartitioning
      val root = scratch(s, dir, "q256")
      val ev = Tables.load(s, dir, "events")
        .select(col("event_id"), col("ts"), col("event_type"))
      HiddenPartitioning.writeDaily(ev, s"$root/daily", "ts")
      val (fromTs, toTs) = ("2024-01-10 06:00:00", "2024-01-13 18:00:00")
      val (pruned, kept, total) = HiddenPartitioning.readDailyRange(
        s, s"$root/daily", "ts", fromTs, toTs)
      require(kept == 4 && total == 30,
        s"q256: inclusive projection must prune 30 day dirs to 4, got $kept/$total")
      // soundness audit: projected-and-residual ≡ the direct filter
      val direct = ev.filter(col("ts") >= lit(fromTs).cast("timestamp") &&
        col("ts") <= lit(toTs).cast("timestamp"))
      require(Q.sameMultiset(pruned, direct),
        "q256: pruned read must equal the direct filter checksum-exactly")
      // non-monotone negative: a bucket layout cannot project a range
      ev.withColumn("_b", pmod(hash(col("event_id")), lit(8)))
        .write.partitionBy("_b").mode("overwrite").parquet(s"$root/bucketed")
      val (bKept, bTotal) = HiddenPartitioning.bucketRangeDirs(
        s, s"$root/bucketed", "_b")
      require(bKept == bTotal && bTotal == 8,
        s"q256: a range over a bucket transform must admit all $bTotal dirs")
      pruned.groupBy(col("event_type"))
        .agg(count(lit(1)).cast("bigint").as("n"),
          sum(col("event_id")).cast("bigint").as("id_sum"))
    },

    // ---------------------------------------------------------------- q259
    // ANALYZE-STYLE COLUMN STATISTICS — the collection half of the cost
    // model q253 consumes (ANALYZE TABLE ... COMPUTE STATISTICS FOR
    // COLUMNS): per-column null count, min/max, and an NDV estimate, in
    // TWO bounded passes over a 4-column projection — one wide aggregate
    // for nulls/min/max (reshaped long via `stack`, never collected), and
    // one KMV pass for NDV: the q103 bottom-k sketch (shared md5 hash
    // family, bit-identical in DuckDB) through the bounded-heap
    // TopKPerGroup, O(k) state per column regardless of cardinality. The
    // NDV estimator is the classic (k−1)/kth-smallest-fraction, exact
    // below k. At 100 TB this is exactly how engines fill their catalogs:
    // no sort, no per-column shuffle beyond the k-row heaps, memory
    // bounded by k·columns.
    Q("q259_analyze_column_stats", {
      val cols = Seq("l_orderkey", "l_partkey", "l_suppkey", "l_returnflag")
      def frac(c: String) = graft.functions.ContentHash.oracleFrac(c)
      val statsSql = cols.map(c =>
        s"""SELECT '$c' AS col_name, CAST(min($c) AS VARCHAR) AS min_val,
           |  CAST(max($c) AS VARCHAR) AS max_val,
           |  CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls
           |FROM lineitem""".stripMargin).mkString("\nUNION ALL\n")
      val fracSql = cols.map(c =>
        s"""SELECT DISTINCT '$c' AS col_name, ${frac(c)} AS frac
           |FROM lineitem WHERE $c IS NOT NULL""".stripMargin)
        .mkString("\nUNION ALL\n")
      s"""WITH f AS ($statsSql),
        |d AS ($fracSql),
        |k AS (SELECT * FROM d
        |  QUALIFY row_number() OVER (PARTITION BY col_name ORDER BY frac) <= 64),
        |n AS (SELECT col_name,
        |  CASE WHEN count(*) < 64 THEN CAST(count(*) AS DOUBLE)
        |       ELSE 63.0 / max(frac) END AS ndv_est
        |  FROM k GROUP BY 1)
        |SELECT f.col_name, n_nulls, min_val, max_val,
        |  round(ndv_est, 6) AS ndv_est
        |FROM f JOIN n USING (col_name)""".stripMargin
    }) { (s, dir) =>
      import graft.functions.ContentHash
      val cols = Seq("l_orderkey", "l_partkey", "l_suppkey", "l_returnflag")
      val proj = Tables.load(s, dir, "lineitem").select(cols.map(col): _*)
      // pass 1: one wide aggregate, reshaped long with stack (stays a plan)
      val aggs = cols.flatMap(c => Seq(
        min(col(c)).cast("string").as(s"min_$c"),
        max(col(c)).cast("string").as(s"max_$c"),
        sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"nulls_$c")))
      val wide = proj.agg(aggs.head, aggs.tail: _*)
      val stackArgs = cols.map(c =>
        s"'$c', min_$c, max_$c, nulls_$c").mkString(", ")
      val statsLong = wide.selectExpr(
        s"stack(${cols.size}, $stackArgs) AS (col_name, min_val, max_val, n_nulls)")
      // pass 2: bottom-k distinct hash fractions per column, bounded heap
      val fr = proj.select(explode(array(cols.map(c =>
          struct(lit(c).as("c"), ContentHash.hashFrac(col(c)).as("f"))): _*)).as("x"))
        .select(col("x.c").as("col_name"), col("x.f").as("frac"))
        .filter(col("frac").isNotNull)
        .distinct()
      val kept = graft.plans.TopK.perGroup(fr, Seq("col_name"),
        Seq(("frac", false)), 64)
      val ndv = kept.groupBy(col("col_name"))
        .agg(count(lit(1)).as("n_kept"),
          when(count(lit(1)) < 64, count(lit(1)).cast("double"))
            .otherwise(lit(63.0) / max(col("frac"))).as("ndv_est"))
      statsLong.join(ndv, Seq("col_name"))
        .select(col("col_name"), col("n_nulls").cast("bigint").as("n_nulls"),
          col("min_val"), col("max_val"),
          round(col("ndv_est"), 6).as("ndv_est"))
    },

    // ---------------------------------------------------------------- q260
    // EQUI-HEIGHT HISTOGRAM + SELECTIVITY AUDIT — the other statistic a
    // cost model keeps per column (Spark's own ANALYZE ... FOR COLUMNS
    // histograms, the System-R lineage): 8 buckets of equal row count
    // over l_partkey, bucket membership by EXACT global rank from the
    // distributed range-repartition + zipWithIndex pass (the q235/q250
    // discipline — total order (v, okey, line), no sampling, no
    // approximate percentiles), so the histogram is bit-replayable. The
    // audit then uses the histogram the way a planner does: estimate a
    // range predicate's cardinality by uniform interpolation inside
    // partially-overlapped buckets (pure integer arithmetic) and require
    // it within 2× of the true count — the bound that separates a usable
    // statistic from a decorative one. Scale shape: one range shuffle for
    // the ranks, one keyed aggregate; the audit reads 8 rows.
    Q("q260_equiheight_histogram",
      """WITH v AS (SELECT l_partkey AS v, l_orderkey, l_linenumber,
        |    row_number() OVER (ORDER BY l_partkey, l_orderkey, l_linenumber) AS rn,
        |    count(*) OVER () AS n
        |  FROM lineitem),
        |b AS (SELECT ((rn - 1) * 8) // n AS bucket, v FROM v)
        |SELECT CAST(bucket AS BIGINT) AS bucket, CAST(min(v) AS BIGINT) AS lo,
        |  CAST(max(v) AS BIGINT) AS hi, CAST(count(*) AS BIGINT) AS n_rows
        |FROM b GROUP BY 1""".stripMargin) { (s, dir) =>
      import graft.ops.SurrogateKeys
      val t = Tables.load(s, dir, "lineitem")
        .select(col("l_partkey").as("v"), col("l_orderkey"), col("l_linenumber"))
      val n = t.count()
      val hist = SurrogateKeys.assign(t, "rn", 0L,
          Seq("v", "l_orderkey", "l_linenumber"))
        .withColumn("bucket", expr(s"((rn - 1) * 8) div $n"))
        .groupBy(col("bucket").cast("bigint").as("bucket"))
        .agg(min(col("v")).cast("bigint").as("lo"),
          max(col("v")).cast("bigint").as("hi"),
          count(lit(1)).cast("bigint").as("n_rows"))
        .localCheckpoint() // 8 rows; read by the audit and the dump
      // the audit: estimate a range predicate from the 8 buckets the way
      // a planner would, and require the estimate within 2× of truth
      val rows = hist.collect().map(r =>
        (r.getLong(1), r.getLong(2), r.getLong(3)))
      val (mn, mx) = (rows.map(_._1).min, rows.map(_._2).max)
      val (a, b) = (mn + (mx - mn) / 5, mn + (mx - mn) * 3 / 5)
      val est = rows.map { case (lo, hi, nb) =>
        val overlap = math.max(0L, math.min(hi, b) - math.max(lo, a) + 1)
        nb * overlap / (hi - lo + 1)
      }.sum
      val actual = t.filter(col("v") >= a && col("v") <= b).count()
      require(est <= 2 * actual + 16 && actual <= 2 * est + 16,
        s"q260: histogram estimate $est out of band vs actual $actual")
      hist
    },

    // ---------------------------------------------------------------- q262
    // RESCUED-DATA INGEST — the schema-drift tolerance every production
    // loader publishes (Databricks Auto Loader's `_rescued_data`, Spark's
    // PERMISSIVE corrupt-record column, composed): semi-structured records
    // are parsed against a DECLARED schema; keys the schema doesn't know
    // are NOT silently dropped — they land in a rescued JSON column — and
    // unparseable records are quarantined whole, so ingest never loses
    // bytes it didn't understand. Implemented as two codegen'd from_json
    // passes (typed struct for the declared fields, string map for the
    // rescue sweep) + map_filter — no UDF, pure per-row map, zero shuffle
    // before the rollup. The payloads are synthesized deterministically
    // from ids (the testdata's props carry a single key), so the oracle
    // replays the classification from the construction arithmetic — truth
    // the parser must reproduce. At 100 TB this is the difference between
    // a loader that quarantines drift for replay and one that deletes it.
    Q("q262_rescued_data",
      """WITH e AS (SELECT event_id, user_id, event_id % 5 AS m FROM events),
        |k AS (SELECT CASE WHEN m = 1 THEN 'corrupt'
        |             WHEN m = 0 THEN 'rescued' ELSE 'ok' END AS kind,
        |    CASE WHEN m = 1 THEN 0 ELSE event_id END AS a,
        |    CASE WHEN m = 0 THEN user_id + 7 ELSE 0 END AS extra
        |  FROM e)
        |SELECT kind, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(a) AS BIGINT) AS a_sum,
        |  CAST(sum(extra) AS BIGINT) AS extra_sum
        |FROM k GROUP BY 1""".stripMargin) { (s, dir) =>
      val ev = Tables.load(s, dir, "events")
        .select(col("event_id"), col("user_id"))
        .withColumn("js",
          when(col("event_id") % 5 === 1, lit("{\"a\":"))
            .when(col("event_id") % 5 === 0,
              concat(lit("{\"a\":"), col("event_id"), lit(",\"b\":"),
                col("user_id"), lit(",\"extra\":"), col("user_id") + 7, lit("}")))
            .otherwise(concat(lit("{\"a\":"), col("event_id"), lit(",\"b\":"),
              col("user_id"), lit("}"))))
      val parsed = ev
        .withColumn("typed", from_json(col("js"),
          org.apache.spark.sql.types.DataType.fromDDL("a BIGINT, b BIGINT")))
        .withColumn("m", from_json(col("js"),
          org.apache.spark.sql.types.DataType.fromDDL("map<string,string>")))
        .withColumn("rescued",
          when(col("m").isNotNull,
            expr("map_filter(m, (k, v) -> k != 'a' AND k != 'b')")))
        .withColumn("kind",
          when(col("m").isNull, "corrupt")
            .when(size(col("rescued")) > 0, "rescued")
            .otherwise("ok"))
      parsed.groupBy(col("kind"))
        .agg(count(lit(1)).cast("bigint").as("n"),
          sum(coalesce(col("typed.a"), lit(0L))).cast("bigint").as("a_sum"),
          sum(coalesce(element_at(col("rescued"), "extra").cast("long"),
            lit(0L))).cast("bigint").as("extra_sum"))
    },

    // ---------------------------------------------------------------- q264
    // GDPR ERASURE, END TO END — the right-to-be-forgotten workflow every
    // lakehouse documents (Delta/Iceberg DELETE + VACUUM + CDF guidance),
    // composed from this library's own layers and with every compliance
    // edge pinned: (1) the erasure is a DELETION-VECTOR commit — zero
    // data-file rewrite, deletes captured in the change feed so DOWNSTREAM
    // consumers learn which rows to drop; (2) time travel still reaches
    // the cohort in pre-erasure versions — the documented hole — so (3)
    // RETENTION expires those versions and both the snapshot read and a
    // from-the-beginning feed replay now fail LOUDLY (never resolving to a
    // resurrected cohort); (4) compaction folds the vectors so the bytes
    // are PHYSICALLY gone — require'd by raw-reading the new files. Scale
    // shape: the erase costs O(cohort) bitmap work + O(files) metadata
    // copies; only the final fold rewrites data, on the operator's
    // schedule, not the request's.
    Q("q264_gdpr_erasure",
      """WITH b AS (SELECT event_id, user_id, event_type,
        |    event_id % 100 AS val FROM events),
        |v2 AS (SELECT event_id, user_id, event_type,
        |    CASE WHEN event_id % 9 = 0 THEN val + 1000 ELSE val END AS val
        |  FROM b),
        |live AS (SELECT * FROM v2 WHERE user_id % 17 <> 3)
        |SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(val) AS BIGINT) AS val_sum
        |FROM live GROUP BY 1""".stripMargin) { (s, dir) =>
      import graft.ops.{ChangeFeed, DeletionVectors => DV, VersionedTable => VT}
      import scala.util.Try
      val root = scratch(s, dir, "q264")
      val table = s"$root/t"
      val base = Tables.load(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("event_type"),
          (col("event_id") % 100).as("val"))
      VT.write(base, table)
      val v2df = base.withColumn("val",
        when(col("event_id") % 9 === 0, col("val") + 1000).otherwise(col("val")))
      ChangeFeed.commit(v2df, table, Seq("event_id"))
      val cohort = col("user_id") % 17 === 3
      val expected = v2df.filter(cohort).count()
      val (v3, nDel) = DV.delete(s, table, cohort, capture = true)
      require(v3 == 3L && nDel == expected,
        s"q264: erasure must hit the whole cohort ($nDel of $expected)")
      require(DV.read(s, table).filter(cohort).isEmpty,
        "q264: the live table must carry zero cohort rows")
      // the compliance hole, then its closure: pre-erasure versions still
      // reach the cohort until retention expires them
      require(DV.readVersion(s, table, 2L).filter(cohort).count() == expected,
        "q264: time travel must still see the cohort pre-gc (the hole)")
      VT.gc(s, table, keep = 1)
      require(Try(DV.readVersion(s, table, 2L).count()).isFailure,
        "q264: an expired pre-erasure snapshot must fail loudly")
      require(Try(ChangeFeed.tableChanges(s, table, 0L, v3, Seq("event_id"))
        .count()).isFailure,
        "q264: a from-the-beginning feed replay must fail loudly after gc")
      // fold the vectors: the cohort's bytes leave the data files
      val v4 = DV.compact(s, table, numFiles = 2, capture = true)
      val raw = s.read.parquet(VT.verDir(table, v4).toString)
      require(raw.filter(cohort).isEmpty,
        "q264: compaction must physically remove the cohort's bytes")
      DV.read(s, table).groupBy(col("event_type"))
        .agg(count(lit(1)).cast("bigint").as("n"),
          sum(col("val")).cast("bigint").as("val_sum"))
    },

    // ---------------------------------------------------------------- q265
    // MERGE WITH SCHEMA EVOLUTION (`Merge.upsertEvolve` — Delta's
    // withSchemaEvolution semantics): the source feed arrives carrying a
    // column the target never had (`segment`) and MISSING one it has
    // (`natkey`); the merge widens the target, updates set only the
    // columns the source carries (a target-only column is never nulled by
    // an update), inserts null-fill the source-missing ones, and a
    // same-named column with a conflicting type fails LOUDLY in-query
    // (the negative control) — lossless widening is a separate
    // TypeWidening commit by design. The oracle is the full-outer-join
    // algebra the evolved merge must equal. Cost: evolution is a
    // null-column projection; the merge stays one keyed full-outer join.
    Q("q265_merge_schema_evolution",
      """WITH t AS (SELECT c_custkey AS custkey, CAST(c_nationkey AS BIGINT) AS natkey
        |           FROM customer WHERE c_custkey % 4 <> 0),
        |s AS (SELECT c_custkey AS custkey,
        |    CASE WHEN c_nationkey < 12 THEN 'low' ELSE 'high' END AS segment
        |  FROM customer WHERE c_custkey % 3 = 0)
        |SELECT COALESCE(t.custkey, s.custkey) AS custkey, t.natkey, s.segment
        |FROM t FULL JOIN s ON t.custkey = s.custkey""".stripMargin) { (s, dir) =>
      import graft.ops.Merge
      import scala.util.Try
      val cust = Tables.load(s, dir, "customer")
      val target = cust.filter(col("c_custkey") % 4 =!= 0)
        .select(col("c_custkey").cast("long").as("custkey"),
          col("c_nationkey").cast("long").as("natkey"))
      val source = cust.filter(col("c_custkey") % 3 === 0)
        .select(col("c_custkey").cast("long").as("custkey"),
          when(col("c_nationkey") < 12, "low").otherwise("high").as("segment"))
      val merged = Merge.upsertEvolve(target, source, Seq("custkey"))
        .localCheckpoint()
      // negative control: a same-named column with a different type must
      // fail loudly, target untouched
      val conflicted = source.withColumn("natkey",
        lit("not-a-number")) // string vs the target's long
      require(Try(Merge.upsertEvolve(target, conflicted, Seq("custkey")))
        .isFailure, "q265: a type-conflicted evolution must fail loudly")
      // an update never nulls a target-only column: every surviving
      // pre-existing row keeps its natkey
      require(merged.filter(col("natkey").isNull)
        .join(target, Seq("custkey"), "left_semi").isEmpty,
        "q265: updates must not null target-only columns")
      merged
    },

    // ---------------------------------------------------------------- q266
    // LOG-STRUCTURED TABLE (`ops/ActionLog.scala` — the Delta-log design
    // proper, next to VersionedTable's snapshot-per-version): immutable
    // shared data files + an append-only action log, so a commit costs
    // O(delta) — pinned: each append adds EXACTLY its own part files and
    // the data dir is strictly monotone (no byte of an earlier version is
    // ever rewritten). Snapshot resolution replays the log; a CHECKPOINT
    // bounds the replay to the post-checkpoint tail — pinned: after
    // checkpointing at v3, resolving v4 replays ONLY v4's actions from
    // the v3 base. Compaction is a remove+add commit in the SAME log, and
    // time travel to a pre-compaction version still reads the removed
    // files — they leave the log's head, not the disk. Every as-of read
    // is require'd bit-equal to the batch-union it should contain. This
    // is the only table shape that appends a terabyte to a petabyte
    // table by WRITING a terabyte; snapshot-per-version is kept for the
    // wholesale-rebuilt dims it fits.
    Q("q266_action_log",
      """SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(l_orderkey) AS BIGINT) AS key_sum
        |FROM lineitem GROUP BY 1""".stripMargin) { (s, dir) =>
      import graft.ops.ActionLog
      val root = scratch(s, dir, "q266")
      val table = s"$root/t"
      val li = Tables.load(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"))
      def quarter(i: Int) = li.filter(col("l_orderkey") % 4 === i)
      val fileSets = (0 until 4).map { i =>
        val v = ActionLog.append(quarter(i), table)
        require(v == i + 1L, s"q266: append must mint version ${i + 1}")
        ActionLog.resolve(s, table, v)._1.toSet
      }
      // O(delta): appends are strictly monotone — every earlier file
      // survives untouched, each version adds only its own parts
      (1 until 4).foreach { i =>
        val (a, b) = (fileSets(i - 1), fileSets(i))
        require(a.subsetOf(b) && (b -- a).forall(_.startsWith(s"v${i + 1}-")),
          s"q266: append v${i + 1} rewrote earlier files")
      }
      // as-of replay equality at every version
      (1 to 4).foreach { v =>
        val want = li.filter(col("l_orderkey") % 4 < v)
        val got = ActionLog.read(s, table, asOf = v)
        require(Q.sameMultiset(got, want),
          s"q266: as-of v$v replay diverges from the batch union")
      }
      // checkpoint at v4, then compaction as v5: resolution must replay
      // ONLY v5's actions (removes + adds) from the v4 checkpoint base
      ActionLog.checkpoint(s, table)
      val live4 = ActionLog.resolve(s, table, 4L)._1.size
      val v5 = ActionLog.rewrite(ActionLog.read(s, table), table, numFiles = 2)
      val (files5, replayed5, ckpt5) = ActionLog.resolve(s, table, v5)
      require(ckpt5.contains(4L) && replayed5 == live4 + 2 && files5.size == 2,
        s"q266: bounded replay broken (base=$ckpt5, replayed=$replayed5, " +
          s"files=${files5.size}, live4=$live4)")
      val tt = ActionLog.read(s, table, asOf = 2)
      val want2 = li.filter(col("l_orderkey") % 4 < 2)
      require(Q.sameMultiset(tt, want2),
        "q266: pre-compaction time travel must still read removed files")
      ActionLog.read(s, table).groupBy(col("l_returnflag"))
        .agg(count(lit(1)).cast("bigint").as("n"),
          sum(col("l_orderkey")).cast("bigint").as("key_sum"))
    },

    // ---------------------------------------------------------------- q267
    // DATA SKIPPING FROM THE LOG — Delta's per-file stats carried in add
    // actions: each append records its files' (min, max, rows) for the
    // cluster column AT WRITE TIME (one pass over the delta), so a range
    // scan prunes files from the LOG alone — zero parquet footers opened
    // for skipped files, and COUNT(*) is answered without touching data
    // at all (pinned: `rowCountFromLog` equals the true count). With
    // range-contiguous appends the probe keeps 1 of 4 files (pinned, and
    // pruned ≡ direct-filter bit-exact); after an UNSORTED rewrite the
    // SAME probe must keep every file — the stats survive the rewrite but
    // the clustering is gone, q228's lesson restated at the log layer:
    // skipping is a property of layout × statistics, and a compactor
    // that ignores sort order silently destroys it. At 100 TB the log IS
    // the skipping index: O(files) metadata, no sidecar to maintain.
    Q("q267_log_data_skipping",
      """WITH m AS (SELECT min(o_orderkey) AS mn, max(o_orderkey) AS mx
        |           FROM orders),
        |r AS (SELECT mn + ((mx - mn + 1) // 4) // 4 AS a,
        |             mn + ((mx - mn + 1) // 4) // 2 AS b FROM m)
        |SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(o_orderkey) AS BIGINT) AS key_sum
        |FROM orders, r WHERE o_orderkey >= a AND o_orderkey <= b
        |GROUP BY 1""".stripMargin) { (s, dir) =>
      import graft.ops.ActionLog
      val root = scratch(s, dir, "q267")
      val table = s"$root/t"
      val o = Tables.load(s, dir, "orders")
        .select(col("o_orderkey").cast("long").as("okey"),
          col("o_orderpriority"))
      val mm = o.agg(min(col("okey")), max(col("okey"))).head()
      val (mn, mx) = (mm.getLong(0), mm.getLong(1))
      val q = (mx - mn + 1) / 4
      (0 until 4).foreach { i =>
        val lo = mn + i * q
        val hi = if (i == 3) mx else mn + (i + 1) * q - 1
        ActionLog.append(
          o.filter(col("okey") >= lo && col("okey") <= hi).coalesce(1),
          table, statsCol = Some("okey"))
      }
      // metadata-only COUNT from the log
      require(ActionLog.rowCountFromLog(s, table).contains(o.count()),
        "q267: the log's row count must equal the table's")
      val (a, b) = (mn + q / 4, mn + q / 2)
      val (pruned, kept, total) = ActionLog.readWhere(s, table, "okey", a, b)
      require(kept == 1 && total == 4,
        s"q267: the probe must keep 1 of 4 range-clustered files, got $kept/$total")
      val direct = o.filter(col("okey") >= a && col("okey") <= b)
      require(Q.sameMultiset(pruned, direct),
        "q267: pruned scan must equal the direct filter checksum-exactly")
      // an unsorted rewrite keeps the stats but destroys the clustering:
      // the same probe must now admit every file
      ActionLog.rewrite(ActionLog.read(s, table), table, numFiles = 4,
        statsCol = Some("okey"))
      val (_, kept2, total2) = ActionLog.readWhere(s, table, "okey", a, b)
      require(kept2 == total2 && total2 == 4,
        s"q267: after a hash rewrite the probe must admit all files, got $kept2/$total2")
      pruned.groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).cast("bigint").as("n"),
          sum(col("okey")).cast("bigint").as("key_sum"))
    },

    // ---------------------------------------------------------------- q268
    // CONCURRENT COMMITS ON THE ACTION LOG — Delta's optimistic commit
    // loop with OPTIMIZE's conflict rule: an appender and a compactor
    // race the same version slot (the raceHook seam lands the append
    // between the compactor's version read and its claim — the exact
    // window the protocol exists for). The compactor LOSES the slot,
    // retries at the new head, and commits cleanly — because it removes
    // exactly the files it READ, never "all live at commit time", a
    // concurrent append is untouched by construction (the commits
    // commute). The one true conflict — two rewrites of the SAME file —
    // is detected under the claim loop and fails loudly, table intact
    // (pinned as the negative control). Content audit: after the race,
    // the table equals appended ∪ compacted input bit-exactly. At 100 TB
    // this is what lets ingest and maintenance share a table without a
    // lock manager.
    Q("q268_log_concurrent_commits",
      """SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(l_orderkey) AS BIGINT) AS key_sum
        |FROM lineitem WHERE l_orderkey % 4 < 3 GROUP BY 1""".stripMargin) { (s, dir) =>
      import graft.ops.ActionLog
      import scala.util.Try
      val root = scratch(s, dir, "q268")
      val table = s"$root/t"
      val li = Tables.load(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"))
      def quarter(i: Int) = li.filter(col("l_orderkey") % 4 === i)
      ActionLog.append(quarter(0).coalesce(1), table)
      ActionLog.append(quarter(1).coalesce(1), table)
      val targets = ActionLog.resolve(s, table, 2L)._1
      // the race: the appender lands inside the compactor's claim window
      var raced = false
      val vC = ActionLog.compactFiles(s, table, targets, numFiles = 1,
        raceHook = attempt => if (attempt == 1 && !raced) {
          raced = true
          require(ActionLog.appendOcc(quarter(2).coalesce(1), table) == 3L,
            "q268: the racing append must take v3")
        })
      require(vC == 4L,
        s"q268: the compactor must lose v3 and rebase to v4, got $vC")
      val files = ActionLog.resolve(s, table, vC)._1
      require(files.size == 2,
        s"q268: one compacted + one raced-in file expected, got ${files.size}")
      val want = li.filter(col("l_orderkey") % 4 < 3)
      val got = ActionLog.read(s, table)
      require(Q.sameMultiset(got, want),
        "q268: the raced commits must commute — content equals the union")
      // the true conflict: two rewrites of the same file — loud, no commit
      val victim = files.take(1)
      var inner = false
      val clash = Try(ActionLog.compactFiles(s, table, victim, numFiles = 1,
        raceHook = attempt => if (attempt == 1 && !inner) {
          inner = true
          ActionLog.compactFiles(s, table, victim, numFiles = 1)
          ()
        }))
      require(clash.isFailure &&
        clash.failed.get.getMessage.contains("conflict"),
        "q268: a same-file rewrite race must fail loudly")
      val after = ActionLog.read(s, table)
      require(Q.sameMultiset(after, want),
        "q268: the failed rewrite must leave the table intact")
      got.groupBy(col("l_returnflag"))
        .agg(count(lit(1)).cast("bigint").as("n"),
          sum(col("l_orderkey")).cast("bigint").as("key_sum"))
    },

    // ---------------------------------------------------------------- q270
    // VACUUM ON THE ACTION LOG — Delta's two-phase cleanup discipline:
    // retention drops versions, but a data file dies only when NO
    // RETAINED version references it, and the log is checkpointed AT the
    // horizon BEFORE records are dropped so every retained version still
    // resolves (the rule Delta documents as "checkpoint before log
    // cleanup"). Pinned: exactly the pre-compaction originals die (the
    // compacted and later-appended files survive), live content is
    // byte-identical across the vacuum, a retained as-of read resolves
    // FROM the horizon checkpoint replaying only the post-horizon tail,
    // an expired as-of read fails loudly, and a second vacuum is a
    // no-op. At 100 TB vacuum is the only thing standing between a busy
    // table and unbounded storage — and the reference-counting here is
    // exact, not mtime-heuristic: a file added at v1 and never removed
    // survives ANY retention window.
    Q("q270_log_vacuum",
      """SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(l_orderkey) AS BIGINT) AS key_sum
        |FROM lineitem WHERE l_orderkey % 4 < 3 GROUP BY 1""".stripMargin) { (s, dir) =>
      import graft.ops.ActionLog
      import scala.util.Try
      val root = scratch(s, dir, "q270")
      val table = s"$root/t"
      val li = Tables.load(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"))
      def quarter(i: Int) = li.filter(col("l_orderkey") % 4 === i)
      ActionLog.append(quarter(0).coalesce(1), table) // v1
      ActionLog.append(quarter(1).coalesce(1), table) // v2
      ActionLog.rewrite(ActionLog.read(s, table), table, numFiles = 1) // v3
      ActionLog.append(quarter(2).coalesce(1), table) // v4
      val before = ActionLog.read(s, table).localCheckpoint()
      // graceMs = 0: this table is provably single-writer (RETAIN 0 HOURS)
      val (dropped, deleted) =
        ActionLog.vacuum(s, table, keepVersions = 2, graceMs = 0L)
      require(dropped == 2 && deleted == 2,
        s"q270: exactly the two pre-compaction originals must die, " +
          s"got ($dropped, $deleted)")
      val after = ActionLog.read(s, table)
      require(Q.sameMultiset(after, before),
        "q270: vacuum must not change live content")
      // retained as-of resolves from the horizon checkpoint, tail-only
      val (_, replayed, ckpt) = ActionLog.resolve(s, table, 4L)
      require(ckpt.contains(3L) && replayed == 1,
        s"q270: v4 must resolve from the horizon checkpoint " +
          s"(base=$ckpt, replayed=$replayed)")
      require(Try(ActionLog.read(s, table, asOf = 2L).count()).isFailure,
        "q270: an expired as-of read must fail loudly")
      require(ActionLog.vacuum(s, table, keepVersions = 2, graceMs = 0L) ==
        ((0, 0)), "q270: a second vacuum must be a no-op")
      after.groupBy(col("l_returnflag"))
        .agg(count(lit(1)).cast("bigint").as("n"),
          sum(col("l_orderkey")).cast("bigint").as("key_sum"))
    },

    // ---------------------------------------------------------------- q271
    // TABLE BRANCHES WITH KEY-WISE THREE-WAY MERGE (`ops/Branching.scala`
    // — Nessie/LakeFS commit-DAG branching, Dolt's content merge): main
    // and an `etl` branch diverge from one base — the branch updates and
    // deletes one key cohort, main updates a DISJOINT cohort and inserts
    // new keys — and the merge computes both sides' keyed effects since
    // the LCA, proves they commute, and lands a two-parent merge commit
    // whose content equals the algebraic union (the oracle). Pinned
    // around it: branching is METADATA-ONLY (zero new commit dirs), a
    // merge into an unmoved branch FAST-FORWARDS (pointer flip, zero
    // data), and the true conflict — one key updated differently on two
    // branches — fails loudly with both heads untouched. At 100 TB a
    // merge costs two keyed diffs + one anti-join; an experiment lands
    // atomically or not at all, and main is never blocked.
    Q("q271_table_branches",
      """WITH base AS (SELECT c_custkey AS ck, CAST(c_nationkey AS BIGINT) AS nk,
        |    c_custkey % 100 AS b FROM customer WHERE c_custkey % 3 <> 0),
        |ins AS (SELECT c_custkey AS ck, CAST(c_nationkey AS BIGINT) AS nk,
        |    c_custkey % 100 AS b FROM customer WHERE c_custkey % 3 = 0),
        |m AS (SELECT ck, nk,
        |    CASE WHEN ck % 10 IN (0, 1) THEN b + 1000
        |         WHEN ck % 10 IN (5, 6) THEN b + 500 ELSE b END AS b
        |  FROM base WHERE ck % 10 <> 2
        |  UNION ALL SELECT ck, nk, b FROM ins)
        |SELECT nk, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(b) AS BIGINT) AS b_sum
        |FROM m GROUP BY 1""".stripMargin) { (s, dir) =>
      import graft.ops.Branching
      import scala.util.Try
      val root = scratch(s, dir, "q271")
      val table = s"$root/t"
      val cust = Tables.load(s, dir, "customer")
        .select(col("c_custkey").cast("long").as("ck"),
          col("c_nationkey").cast("long").as("nk"))
      val base = cust.filter(col("ck") % 3 =!= 0)
        .withColumn("b", col("ck") % 100)
      Branching.init(base, table)
      def commitDirCount: Int = {
        val fs = new org.apache.hadoop.fs.Path(table)
          .getFileSystem(s.sparkContext.hadoopConfiguration)
        fs.listStatus(new org.apache.hadoop.fs.Path(table))
          .count(_.getPath.getName.startsWith("_c-"))
      }
      val dirsBefore = commitDirCount
      Branching.branch(s, table, "main", "etl")
      require(commitDirCount == dirsBefore,
        "q271: branching must be metadata-only — zero commit dirs written")
      // branch: update cohort {0,1}, delete cohort {2}
      Branching.commitOn(base.filter(col("ck") % 10 =!= 2)
        .withColumn("b", when((col("ck") % 10).isin(0, 1), col("b") + 1000)
          .otherwise(col("b"))), table, "etl")
      // main: update DISJOINT cohort {5,6}, insert brand-new keys
      Branching.commitOn(base
        .withColumn("b", when((col("ck") % 10).isin(5, 6), col("b") + 500)
          .otherwise(col("b")))
        .unionByName(cust.filter(col("ck") % 3 === 0)
          .withColumn("b", col("ck") % 100)), table, "main")
      val outcome = Branching.merge(s, table, "etl", "main", Seq("ck"))
      require(outcome.isInstanceOf[Branching.Merged],
        "q271: diverged branches must produce a real merge commit")
      // fast-forward: q forked at p's base never moved
      Branching.branch(s, table, "main", "p")
      Branching.branch(s, table, "main", "q")
      Branching.commitOn(Branching.readBranch(s, table, "p")
        .withColumn("b", when(col("ck") % 10 === 9, col("b") + 1)
          .otherwise(col("b"))), table, "p")
      val ffDirs = commitDirCount
      val ff = Branching.merge(s, table, "p", "q", Seq("ck"))
      require(ff.isInstanceOf[Branching.FastForward] &&
        Branching.head(s, table, "q") == Branching.head(s, table, "p") &&
        commitDirCount == ffDirs,
        "q271: merging into an unmoved branch must fast-forward, zero data")
      // the true conflict: one key updated differently on two branches
      Branching.branch(s, table, "main", "x")
      Branching.branch(s, table, "main", "y")
      Branching.commitOn(Branching.readBranch(s, table, "x")
        .withColumn("b", when(col("ck") % 10 === 3, col("b") + 1)
          .otherwise(col("b"))), table, "x")
      Branching.commitOn(Branching.readBranch(s, table, "y")
        .withColumn("b", when(col("ck") % 10 === 3, col("b") + 2)
          .otherwise(col("b"))), table, "y")
      val yHead = Branching.head(s, table, "y")
      val clash = Try(Branching.merge(s, table, "x", "y", Seq("ck")))
      require(clash.isFailure &&
        clash.failed.get.getMessage.contains("differently") &&
        Branching.head(s, table, "y") == yHead,
        "q271: a conflicting merge must fail loudly with heads untouched")
      Branching.readBranch(s, table, "main").groupBy(col("nk"))
        .agg(count(lit(1)).cast("bigint").as("n"),
          sum(col("b")).cast("bigint").as("b_sum"))
    },

    // ---------------------------------------------------------------- q274
    // AQE RUNTIME BROADCAST — the runtime half of q253's cost story:
    // the SAME stats-less connector dim that static planning must
    // sort-merge (v2 default size = Long.Max — pinned as the initial
    // plan) is re-planned by ADAPTIVE execution into a broadcast once
    // the dim side's true materialized size (kilobytes) is observed at
    // the first shuffle boundary — pinned on the FINAL adaptive plan
    // after execution. This is the public AQE contract (SPARK-31412):
    // statistics can be wrong or missing at plan time, the exchange
    // materialization is the ground truth. At 100 TB it means a
    // mis-estimated dim costs one local shuffle write, not a full fact
    // shuffle. Values are plan-invariant (same oracle algebra as the
    // static-stats entry, different measure).
    Q("q274_aqe_runtime_broadcast",
      """WITH f AS (SELECT l_suppkey % 25 AS k, l_partkey FROM lineitem),
        |d AS (SELECT n_nationkey AS k, CAST(n_regionkey AS BIGINT) AS region
        |      FROM nation)
        |SELECT region, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(l_partkey) AS BIGINT) AS part_sum
        |FROM f JOIN d USING (k) GROUP BY 1""".stripMargin) { (s, dir) =>
      import graft.source.KeyedDsv2
      val root = scratch(s, dir, "q274")
      val dim = Tables.load(s, dir, "nation")
        .select(col("n_nationkey").cast("int").as("k"),
          col("n_regionkey").cast("long").as("region"),
          col("n_nationkey").cast("long").as("natkey"))
      KeyedDsv2.writeBucketed(dim, s"$root/dim")
      val fact = Tables.load(s, dir, "lineitem")
        .select((col("l_suppkey") % 25).cast("int").as("k"),
          col("l_partkey").cast("long").as("pkey"))
      def agg = fact
        .join(KeyedDsv2.read(s, s"$root/dim", "region", "natkey"), Seq("k"))
        .groupBy(col("region"))
        .agg(count(lit(1)).cast("bigint").as("n_rows"),
          sum(col("pkey")).cast("bigint").as("part_sum"))
      val keys = Seq("spark.sql.adaptive.enabled",
        "spark.sql.autoBroadcastJoinThreshold")
      val saved = keys.map(k => k -> s.conf.get(k))
      try {
        s.conf.set("spark.sql.autoBroadcastJoinThreshold", (16 * 1024).toString)
        // static planning: stats-less v2 dim can never broadcast
        s.conf.set("spark.sql.adaptive.enabled", "false")
        require(agg.queryExecution.executedPlan.toString
          .contains("SortMergeJoin"),
          "q274: without stats the static plan must be a sort-merge join")
        // adaptive: the materialized dim is tiny — the FINAL plan broadcasts
        s.conf.set("spark.sql.adaptive.enabled", "true")
        val adaptive = agg
        val got = adaptive.localCheckpoint() // executes the query
        val finalPlan = adaptive.queryExecution.executedPlan.toString
        require(finalPlan.contains("isFinalPlan=true") &&
          finalPlan.contains("BroadcastHashJoin"),
          s"q274: AQE must re-plan the tiny dim to a broadcast at runtime")
        got
      } finally saved.foreach { case (k, v) => s.conf.set(k, v) }
    },

    // ---------------------------------------------------------------- q275
    // AQE SKEW-JOIN SPLITTING — the runtime answer to the q61-class
    // salting: a fact with one HOT key (≈60 % of all rows) sort-merge
    // joins a dim too large to broadcast (threshold −1 pins the merge
    // path); without AQE the hot partition is one straggler task. With
    // adaptive skew handling tuned to the demo's scale, the FINAL plan
    // marks the join `skew=true` — the hot partition was split into
    // advisory-sized slices, each joined against a replicated dim slice
    // (the public OptimizeSkewedJoin design, SPARK-29544) — and the
    // values are require'd bit-equal to the AQE-off run. At 100 TB this
    // is the difference between a 10-minute job and one 10-hour
    // straggler; the manual salting operator (q61) remains for engines
    // and shapes AQE can't reach. The oracle replays the skewed
    // derivation directly.
    Q("q275_aqe_skew_join",
      """WITH f AS (SELECT CASE WHEN l_orderkey % 10 < 6 THEN 0
        |    ELSE l_orderkey % 97 END AS k, l_partkey
        |  FROM lineitem),
        |d AS (SELECT DISTINCT CASE WHEN l_orderkey % 10 < 6 THEN 0
        |    ELSE l_orderkey % 97 END AS k FROM lineitem),
        |dd AS (SELECT k, k * 2 + 1 AS payload FROM d)
        |SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(l_partkey) AS BIGINT) AS part_sum,
        |  CAST(sum(payload) AS BIGINT) AS payload_sum
        |FROM f JOIN dd USING (k)""".stripMargin) { (s, dir) =>
      val root = scratch(s, dir, "q275")
      // the hot partition splits along MAP boundaries — a single-task scan
      // (one small file) is unsplittable however skewed, so the fact gets
      // a real mapper population first (at 100 TB it has thousands)
      val fact = Tables.load(s, dir, "lineitem")
        .repartition(16)
        .select(when(col("l_orderkey") % 10 < 6, 0L)
          .otherwise(col("l_orderkey") % 97).as("k"),
          col("l_partkey").cast("long").as("pkey"))
      // materialized dim: the join child must be a bare scan→shuffle→sort
      // for OptimizeSkewedJoin's ShuffleStage pattern — an aggregate on
      // the reduce side (an inlined distinct) makes the side unsplittable
      fact.select(col("k")).distinct()
        .withColumn("payload", col("k") * 2 + 1)
        .write.mode("overwrite").parquet(s"$root/dim")
      val dim = s.read.parquet(s"$root/dim")
      def agg = fact.join(dim, Seq("k"))
        .agg(count(lit(1)).cast("bigint").as("n_rows"),
          sum(col("pkey")).cast("bigint").as("part_sum"),
          sum(col("payload")).cast("bigint").as("payload_sum"))
      val keys = Seq("spark.sql.adaptive.enabled",
        "spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.adaptive.skewJoin.enabled",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes",
        "spark.sql.adaptive.coalescePartitions.enabled",
        "spark.sql.adaptive.forceOptimizeSkewedJoin")
      val saved = keys.map(k => k -> s.conf.get(k))
      try {
        s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        s.conf.set("spark.sql.adaptive.enabled", "false")
        val plain = agg.localCheckpoint()
        s.conf.set("spark.sql.adaptive.enabled", "true")
        s.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
        // tune the skew detector to the demo's data volume: the hot
        // partition is ~60 % of the fact — far past factor 2 × median —
        // and the advisory size forces multiple slices out of it
        s.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
        s.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
          (4 * 1024).toString)
        s.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes",
          (2 * 1024).toString)
        s.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
        // the join feeds a global aggregate, so splitting changes the
        // partitioning AQE planned for — without force, the rule vetoes
        // itself to avoid the extra exchange (the documented trade)
        s.conf.set("spark.sql.adaptive.forceOptimizeSkewedJoin", "true")
        val adaptive = agg
        val got = adaptive.localCheckpoint()
        val finalPlan = adaptive.queryExecution.executedPlan.toString
        require(finalPlan.contains("isFinalPlan=true") &&
          finalPlan.contains("skew=true"),
          "q275: AQE must split the hot partition (skew=true in final plan)")
        require(Q.sameMultiset(got, plain),
          "q275: skew-split and straggler plans must agree checksum-exactly")
        got
      } finally saved.foreach { case (k, v) => s.conf.set(k, v) }
    },

    // ---------------------------------------------------------------- q277
    // ADD COLUMN ... DEFAULT as a METADATA-ONLY commit (Delta's default-
    // values feature, the EXISTS_DEFAULT half, on the column-mapping
    // layer): the new column joins the manifest with a fresh id and its
    // default joins a `_defaults` sidecar — ZERO data bytes move (pinned:
    // the commit's `_data_from` still names the original data version) —
    // and every pre-existing row reads the default. The default then
    // SURVIVES a metadata-only RENAME (id-keyed, not name-keyed), and a
    // later data commit writes the column physically with explicit
    // values, after which the files own the truth. Time travel renders
    // v1 without the column at all, v2/v3 all-default, live mixed. At
    // 100 TB this is how a petabyte table gains a column in milliseconds;
    // the alternative is a full rewrite for a constant.
    Q("q277_column_defaults",
      """WITH c AS (SELECT c_custkey AS ck FROM customer)
        |SELECT CASE WHEN ck % 5 = 0 THEN 'gold' ELSE 'bronze' END AS level,
        |  CAST(count(*) AS BIGINT) AS n, CAST(sum(ck) AS BIGINT) AS ck_sum
        |FROM c GROUP BY 1""".stripMargin) { (s, dir) =>
      import graft.ops.{ColumnMapping => CM, VersionedTable => VT}
      val root = scratch(s, dir, "q277")
      val table = s"$root/t"
      val cust = Tables.load(s, dir, "customer")
        .select(col("c_custkey").cast("long").as("ck"),
          col("c_nationkey").cast("long").as("nk"))
      CM.writeData(cust, table) // v1
      val v2 = CM.addColumnWithDefault(s, table, "tier", "'bronze'")
      require(v2 == 2L && CM.dataVersion(s, table, v2) == 1L,
        "q277: the default add must be metadata-only")
      require(CM.read(s, table).filter(col("tier") =!= "bronze").isEmpty,
        "q277: every existing row must read the default")
      // the default is id-keyed: it survives a metadata-only rename
      CM.rename(s, table, "tier", "level") // v3, still metadata-only
      require(CM.dataVersion(s, table, 3L) == 1L,
        "q277: the rename must stay metadata-only")
      require(CM.read(s, table).filter(col("level") =!= "bronze").isEmpty,
        "q277: the default must survive the rename")
      // a data commit makes the column physical with explicit values
      CM.writeData(CM.read(s, table).withColumn("level",
        when(col("ck") % 5 === 0, "gold").otherwise(col("level"))), table)
      // time travel: v1 has no such column; v2 renders it all-default
      require(!CM.readVersion(s, table, 1L).columns.contains("tier"),
        "q277: v1 must render without the added column")
      require(CM.readVersion(s, table, 2L)
        .filter(col("tier") =!= "bronze").isEmpty,
        "q277: v2 must render the column all-default under its old name")
      CM.read(s, table).groupBy(col("level"))
        .agg(count(lit(1)).cast("bigint").as("n"),
          sum(col("ck")).cast("bigint").as("ck_sum"))
    },

    // ---------------------------------------------------------------- q278
    // PROTOCOL FEATURE GATES (`ops/Protocol.scala` — Delta's protocol
    // action with named table features): a commit stamps the reader and
    // writer feature sets a client MUST understand; a DV-capable client
    // reads the gated table, a legacy client fails LOUDLY — the error
    // NAMES the missing feature — before touching a byte, because a
    // DV-ignorant scan would resurrect deleted rows and report success.
    // The asymmetric tier is pinned too (read-capable ≠ write-capable),
    // and a feature DOWNGRADE commit is rejected outright: it would
    // strand every client that already wrote with the feature. This is
    // the forward-compatibility contract that lets the format evolve
    // under live fleets; without it, every new table feature is a silent
    // data-corruption bug in every old reader.
    Q("q278_protocol_gates",
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(o_orderkey) AS BIGINT) AS key_sum
        |FROM orders WHERE o_orderkey % 3 <> 0 GROUP BY 1""".stripMargin) { (s, dir) =>
      import graft.ops.Protocol
      import scala.util.Try
      val root = scratch(s, dir, "q278")
      val table = s"$root/t"
      val o = Tables.load(s, dir, "orders")
        .filter(col("o_orderkey") % 3 =!= 0)
        .select(col("o_orderkey"), col("o_orderpriority"))
      Protocol.commit(o, table, Protocol.Proto(
        readerFeatures = Set("deletion-vectors"),
        writerFeatures = Set("deletion-vectors", "row-tracking")))
      // the capable client reads; the legacy client fails, by name
      val modern = Protocol.readChecked(s, table,
        Set("deletion-vectors", "row-tracking"))
      val legacy = Try(Protocol.readChecked(s, table, Set.empty))
      require(legacy.isFailure &&
        legacy.failed.get.getMessage.contains("deletion-vectors"),
        "q278: a legacy reader must fail loudly, naming the feature")
      // read-capable but not write-capable: the asymmetric tier
      Protocol.checkWrite(s, table, Set("deletion-vectors", "row-tracking"))
      val roClient = Try(Protocol.checkWrite(s, table, Set("deletion-vectors")))
      require(roClient.isFailure &&
        roClient.failed.get.getMessage.contains("row-tracking"),
        "q278: a read-only-capable client must be refused the write")
      // downgrades strand clients — rejected before staging
      val down = Try(Protocol.commit(o, table,
        Protocol.Proto(Set.empty, Set.empty)))
      require(down.isFailure &&
        down.failed.get.getMessage.contains("downgrade"),
        "q278: a protocol downgrade must be rejected")
      // a legacy PRE-protocol table stays readable by everyone
      graft.ops.VersionedTable.write(o, s"$root/legacy")
      require(Try(Protocol.readChecked(s, s"$root/legacy", Set.empty))
        .isSuccess, "q278: pre-protocol tables are readable by all clients")
      modern.groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).cast("bigint").as("n"),
          sum(col("o_orderkey")).cast("bigint").as("key_sum"))
    },

    // ---------------------------------------------------------------- q279
    // TABLE CONTENT CHECKSUMS (`ops/TableChecksum.scala` — Delta's CRC
    // sidecar as a CONTENT digest): each commit stamps (rows, xor of
    // per-row 60-bit md5 over the canonical serialization) — the xor
    // makes the digest independent of partitioning and row order, so the
    // SAME logical content digests identically on any layout: pinned by
    // repartitioning the table 7 ways and re-digesting. `verify`
    // recomputes and fails LOUDLY on a single silently-flipped value
    // (pinned: a one-row tamper under a copied stamp is caught), on a
    // missing stamp (absent evidence must not pass), and passes on the
    // genuine version. At 100 TB this one-pass receipt is what turns
    // storage bit-rot and mis-replayed rebuilds from analyst discoveries
    // into loud failures — and lets a second engine PROVE it rebuilt the
    // exact table.
    Q("q279_table_checksum",
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(o_orderkey) AS BIGINT) AS key_sum
        |FROM orders GROUP BY 1""".stripMargin) { (s, dir) =>
      import graft.ops.{TableChecksum, VersionedTable => VT}
      import scala.util.Try
      val root = scratch(s, dir, "q279")
      val table = s"$root/t"
      val o = Tables.load(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderpriority"))
      VT.write(o, table)
      val (n1, x1) = TableChecksum.stamp(s, table, 1L)
      require(TableChecksum.verify(s, table, 1L) == ((n1, x1)),
        "q279: the genuine version must verify")
      // layout-independence: same content, different partitioning
      require(TableChecksum.digest(o.repartition(7)) == ((n1, x1)),
        "q279: the digest must be independent of layout and order")
      // silent one-value corruption under a copied stamp is CAUGHT
      val tampered = s"$root/tampered"
      VT.write(o.withColumn("o_custkey",
        when(col("o_orderkey") % 100 === 7, col("o_custkey") + 1)
          .otherwise(col("o_custkey"))), tampered)
      val fs = new org.apache.hadoop.fs.Path(table)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      org.apache.hadoop.fs.FileUtil.copy(fs,
        new org.apache.hadoop.fs.Path(s"$table/_v-00000001/_crc"), fs,
        new org.apache.hadoop.fs.Path(s"$tampered/_v-00000001/_crc"), false,
        s.sparkContext.hadoopConfiguration)
      val bad = Try(TableChecksum.verify(s, tampered, 1L))
      require(bad.isFailure &&
        bad.failed.get.getMessage.contains("diverged"),
        "q279: a tampered table under a copied stamp must fail loudly")
      // absent evidence must not pass
      require(Try(TableChecksum.verify(s, s"$root/t2", 1L)).isFailure,
        "q279: verify without a stamp must fail loudly")
      VT.read(s, table).groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).cast("bigint").as("n"),
          sum(col("o_orderkey")).cast("bigint").as("key_sum"))
    },

    // ---------------------------------------------------------------- q280
    // SQL CATALOG WITH TIME TRAVEL (`source/GraftCatalog.scala` — a DSv2
    // `TableCatalog` over the versioned-table layer): after one conf
    // registration, plain `SELECT … FROM cat.ns.t` resolves the live
    // snapshot through the pointer protocol, and Spark's OWN time-travel
    // grammar — `VERSION AS OF 1`, `TIMESTAMP AS OF '…'` — lands in the
    // catalog's versioned loadTable overloads (SPARK-37219: parser owns
    // syntax, catalog owns resolution), answered against the same
    // monotonic commit stamps readAsOf uses. Pinned: live SQL ≡ the ops-
    // layer read, VERSION AS OF 1 ≡ the v1 snapshot, TIMESTAMP AS OF
    // v1's stamp ≡ v1, and DML through the catalog commits THROUGH the
    // Occ protocol (q307 pins the write surface), never a blind file write.
    // This is the surface a BI tool or notebook user actually touches —
    // the whole lakehouse layer behind one `USE catalog`.
    Q("q280_sql_catalog",
      """WITH v2 AS (SELECT c_custkey AS ck, CAST(c_nationkey AS BIGINT) AS nk,
        |    c_custkey % 100 + CASE WHEN c_custkey % 6 = 1 THEN 7 ELSE 0 END AS b
        |  FROM customer WHERE c_custkey % 6 <> 0)
        |SELECT nk, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(b) AS BIGINT) AS b_sum
        |FROM v2 GROUP BY 1""".stripMargin) { (s, dir) =>
      import graft.ops.{ChangeFeed, VersionedTable => VT}
      import scala.util.Try
      val root = scratch(s, dir, "q280")
      val tdir = s"$root/ns/t"
      val cust = Tables.load(s, dir, "customer")
        .select(col("c_custkey").cast("long").as("ck"),
          col("c_nationkey").cast("long").as("nk"))
        .withColumn("b", col("ck") % 100)
      ChangeFeed.commit(cust, tdir, Seq("ck"))
      ChangeFeed.commit(cust.filter(col("ck") % 6 =!= 0)
        .withColumn("b", when(col("ck") % 6 === 1, col("b") + 7)
          .otherwise(col("b"))), tdir, Seq("ck"))
      // catalog name keyed by the sf dir: catalog instances cache their
      // init options, and each SF needs its own root
      val cat = "graft_" + java.security.MessageDigest.getInstance("MD5")
        .digest(dir.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(6)
      s.conf.set(s"spark.sql.catalog.$cat",
        classOf[graft.source.GraftCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.root", root)
      def bySql(suffix: String) =
        s.sql(s"SELECT ck, nk, b FROM $cat.ns.t $suffix")
      val live = bySql("")
      require(Q.sameMultiset(live, VT.read(s, tdir)),
        "q280: the SQL surface must equal the ops-layer live read")
      val asV1 = bySql("VERSION AS OF 1")
      require(Q.sameMultiset(asV1, VT.readVersion(s, tdir, 1)),
        "q280: VERSION AS OF must render the exact v1 snapshot")
      val ts1 = VT.commitTimestamp(s, tdir, 1).get
      val iso = java.time.format.DateTimeFormatter
        .ofPattern("yyyy-MM-dd HH:mm:ss.SSS")
        .withZone(java.time.ZoneOffset.UTC)
        .format(java.time.Instant.ofEpochMilli(ts1))
      val asTs = bySql(s"TIMESTAMP AS OF '$iso'")
      require(Q.sameMultiset(asTs, asV1),
        "q280: TIMESTAMP AS OF v1's stamp must resolve to v1")
      // DML through the catalog COMMITS through the protocol (q307 pins
      // the full surface): the insert mints v3 via Occ staging. The
      // returned aggregate stays on `live`, whose analyzed plan froze
      // v2's immutable version dir before the insert.
      s.sql(s"INSERT INTO $cat.ns.t VALUES (CAST(9000000001 AS BIGINT), " +
        "CAST(2 AS BIGINT), CAST(3 AS BIGINT))")
      require(VT.currentVersion(s, tdir).contains(3L) &&
        VT.read(s, tdir).filter(col("ck") === 9000000001L).count() == 1L,
        "q280: SQL INSERT must mint a version through the commit protocol")
      live.groupBy(col("nk"))
        .agg(count(lit(1)).cast("bigint").as("n"),
          sum(col("b")).cast("bigint").as("b_sum"))
    },

    // ---------------------------------------------------------------- q281
    // COLUMN PRUNING THROUGH THE SQL CATALOG — the scan-side half of
    // q280's surface: `SupportsPushDownRequiredColumns` on the catalog's
    // scan builder, so a two-column aggregate over the documents table
    // decodes lang codes, NEVER the document bodies — pinned on the
    // executed plan's v2 scan: its ReadSchema is exactly `lang`, with the
    // text column absent (the select-* sanity check keeps the full
    // schema). This is the exact anti-pattern check the 100 TB brief
    // names: a scan that reads every column for a two-column projection
    // is wrong; on a text corpus the difference is decoding kilobytes of
    // dictionary codes vs every body on disk. The by-name Group decoder
    // skips unrequested fields, so the pruning is real work saved at the
    // reader, not cosmetic plan text.
    Q("q281_catalog_column_pruning",
      """SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS chars
        |FROM documents GROUP BY 1""".stripMargin) { (s, dir) =>
      import graft.ops.VersionedTable
      val root = scratch(s, dir, "q281")
      VersionedTable.write(Tables.load(s, dir, "documents"), s"$root/ns/d")
      val cat = "graftp_" + java.security.MessageDigest.getInstance("MD5")
        .digest(dir.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(6)
      s.conf.set(s"spark.sql.catalog.$cat",
        classOf[graft.source.GraftCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.root", root)
      def scanSchemas(df: org.apache.spark.sql.DataFrame): Seq[Seq[String]] = {
        val aqeKey = "spark.sql.adaptive.enabled"
        val prev = s.conf.get(aqeKey)
        s.conf.set(aqeKey, "false") // q185 rule: clean plan read
        try df.queryExecution.executedPlan.collect {
          case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
            b.scan.readSchema().fieldNames.toSeq
        } finally s.conf.set(aqeKey, prev)
      }
      val agg = s.sql(s"SELECT lang, CAST(count(*) AS BIGINT) AS n_docs, " +
        s"CAST(sum(n_chars) AS BIGINT) AS chars FROM $cat.ns.d GROUP BY 1")
      require(scanSchemas(agg) == Seq(Seq("lang", "n_chars")),
        s"q281: the scan must read ONLY (lang, n_chars), got ${scanSchemas(agg)}")
      // sanity: an unprojected read keeps the full schema
      require(scanSchemas(s.sql(s"SELECT * FROM $cat.ns.d")).head
        .contains("text"),
        "q281: select-* must still surface every column")
      agg
    },

    // ---------------------------------------------------------------- q282
    // BRANCH REFERENCES IN SQL (`t@branch`, the Nessie reference syntax,
    // on the q280 catalog): a branched table's bare name reads `main`,
    // the `@etl` suffix reads the experiment branch, and `VERSION AS OF`
    // addresses an immutable commit id directly — so a notebook compares
    // an experiment against production with two FROM clauses and zero
    // data copies (the branch was a metadata-only fork). Pinned: every
    // SQL read ≡ its ops-layer twin, the branch and main genuinely
    // diverge, and a branch ref on an unbranched table fails loudly
    // (silent fallback to main would be the worst possible answer).
    Q("q282_sql_branch_refs",
      """WITH base AS (SELECT c_custkey AS ck, CAST(c_nationkey AS BIGINT) AS nk,
        |    c_custkey % 100 AS b FROM customer WHERE c_custkey % 2 = 0),
        |m AS (SELECT ck, nk,
        |    CASE WHEN ck % 9 = 0 THEN b * 2 ELSE b END AS b FROM base)
        |SELECT nk, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(b) AS BIGINT) AS b_sum
        |FROM m GROUP BY 1""".stripMargin) { (s, dir) =>
      import graft.ops.Branching
      import scala.util.Try
      val root = scratch(s, dir, "q282")
      val tdir = s"$root/ns/t"
      val base = Tables.load(s, dir, "customer")
        .filter(col("c_custkey") % 2 === 0)
        .select(col("c_custkey").cast("long").as("ck"),
          col("c_nationkey").cast("long").as("nk"))
        .withColumn("b", col("ck") % 100)
      val c1 = Branching.init(base, tdir)
      Branching.branch(s, tdir, "main", "etl")
      Branching.commitOn(base.withColumn("b",
        when(col("ck") % 7 === 0, col("b") + 11).otherwise(col("b"))),
        tdir, "etl")
      Branching.commitOn(base.withColumn("b",
        when(col("ck") % 9 === 0, col("b") * 2).otherwise(col("b"))),
        tdir, "main")
      val cat = "graftb_" + java.security.MessageDigest.getInstance("MD5")
        .digest(dir.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(6)
      s.conf.set(s"spark.sql.catalog.$cat",
        classOf[graft.source.GraftCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.root", root)
      def eq(a: org.apache.spark.sql.DataFrame,
          b: org.apache.spark.sql.DataFrame) =
        Q.sameMultiset(a, b)
      val mainSql = s.sql(s"SELECT ck, nk, b FROM $cat.ns.t")
      val etlSql = s.sql(s"SELECT ck, nk, b FROM $cat.ns.`t@etl`")
      require(eq(mainSql, Branching.readBranch(s, tdir, "main")),
        "q282: the bare name must read main")
      require(eq(etlSql, Branching.readBranch(s, tdir, "etl")),
        "q282: t@etl must read the branch head")
      require(!eq(mainSql, etlSql),
        "q282: the branches must genuinely diverge")
      require(eq(s.sql(s"SELECT ck, nk, b FROM $cat.ns.t VERSION AS OF $c1"),
        Branching.readCommit(s, tdir, c1)),
        "q282: VERSION AS OF must address the immutable commit")
      // a branch ref on an unbranched table is an error, never a fallback
      graft.ops.VersionedTable.write(base, s"$root/ns/u")
      require(Try(s.sql(s"SELECT * FROM $cat.ns.`u@etl`").collect()).isFailure,
        "q282: a branch ref on an unbranched table must fail loudly")
      mainSql.groupBy(col("nk"))
        .agg(count(lit(1)).cast("bigint").as("n"),
          sum(col("b")).cast("bigint").as("b_sum"))
    },

    // ---------------------------------------------------------------- q283
    // LOG-STATS FILE SKIPPING THROUGH SQL — the q267 pruning delivered to
    // the q280 surface: a log-structured table resolves in the catalog,
    // a plain SQL range predicate pushes down
    // (`SupportsPushDownFilters`), and the scan admits files from the
    // LOG's per-file stats alone — pinned on the executed plan: the scan
    // reports `files=1/4` for the probe and `files=4/4` unfiltered, with
    // the values bit-equal to the direct filter because EVERY pushed
    // filter returns as a residual (pruning is an optimization, never a
    // correctness bet — the exact predicate always re-applies). Column
    // pruning rides along. At 100 TB this is the complete economics of a
    // dashboard query on an ingest table: O(matching files) IO, zero
    // footer reads for the rest, no sidecar index to maintain — the log
    // IS the index.
    Q("q283_sql_log_skipping",
      """WITH m AS (SELECT min(o_orderkey) AS mn, max(o_orderkey) AS mx
        |           FROM orders),
        |r AS (SELECT mn + ((mx - mn + 1) // 4) // 4 AS a,
        |             mn + ((mx - mn + 1) // 4) // 2 AS b FROM m)
        |SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(o_orderkey) AS BIGINT) AS key_sum
        |FROM orders, r WHERE o_orderkey >= a AND o_orderkey <= b
        |GROUP BY 1""".stripMargin) { (s, dir) =>
      import graft.ops.ActionLog
      val root = scratch(s, dir, "q283")
      val tdir = s"$root/ns/t"
      val o = Tables.load(s, dir, "orders")
        .select(col("o_orderkey").cast("long").as("okey"),
          col("o_orderpriority"))
      val mm = o.agg(min(col("okey")), max(col("okey"))).head()
      val (mn, mx) = (mm.getLong(0), mm.getLong(1))
      val q = (mx - mn + 1) / 4
      (0 until 4).foreach { i =>
        val lo = mn + i * q
        val hi = if (i == 3) mx else mn + (i + 1) * q - 1
        ActionLog.append(
          o.filter(col("okey") >= lo && col("okey") <= hi).coalesce(1),
          tdir, statsCol = Some("okey"))
      }
      val cat = "graftl_" + java.security.MessageDigest.getInstance("MD5")
        .digest(dir.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(6)
      s.conf.set(s"spark.sql.catalog.$cat",
        classOf[graft.source.GraftCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.root", root)
      val (a, b) = (mn + q / 4, mn + q / 2)
      def planOf(df: org.apache.spark.sql.DataFrame): String = {
        val aqeKey = "spark.sql.adaptive.enabled"
        val prev = s.conf.get(aqeKey)
        s.conf.set(aqeKey, "false")
        try df.queryExecution.executedPlan.toString
        finally s.conf.set(aqeKey, prev)
      }
      val probe = s.sql(s"SELECT okey, o_orderpriority FROM $cat.ns.t " +
        s"WHERE okey >= $a AND okey <= $b")
      require(planOf(probe).contains("files=1/4"),
        s"q283: the SQL range probe must keep 1 of 4 files")
      require(planOf(s.sql(s"SELECT okey FROM $cat.ns.t"))
        .contains("files=4/4"),
        "q283: an unfiltered read must admit every file")
      val direct = o.filter(col("okey") >= a && col("okey") <= b)
      require(Q.sameMultiset(probe, direct),
        "q283: pruned SQL scan must equal the direct filter checksum-exactly")
      probe.groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).cast("bigint").as("n"),
          sum(col("okey")).cast("bigint").as("key_sum"))
    },

    // ---------------------------------------------------------------- q284
    // REPORTED STATISTICS THROUGH THE SQL CATALOG — q253's cost lesson
    // completing the q280 surface: the catalog's scans report their
    // ACTUAL version-dir bytes, so a SQL star join against a kilobyte
    // catalog dim plans the BROADCAST (pinned on the executed plan);
    // shrink the threshold below the dim's true size and the SAME query
    // plans the merge (pinned) — the decision provably tracks the
    // reported number, through plain SQL, with no hints. Without this
    // every catalog table sizes to Long.Max and every dashboard join
    // shuffles the fact. Values are plan-invariant and oracle-checked.
    Q("q284_catalog_stats_broadcast",
      """WITH f AS (SELECT l_suppkey % 25 AS k, l_orderkey FROM lineitem),
        |d AS (SELECT n_nationkey AS k, CAST(n_regionkey AS BIGINT) AS region
        |      FROM nation)
        |SELECT region, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(l_orderkey) AS BIGINT) AS key_sum
        |FROM f JOIN d USING (k) GROUP BY 1""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec}
      import graft.ops.VersionedTable
      val root = scratch(s, dir, "q284")
      VersionedTable.write(Tables.load(s, dir, "nation")
        .select(col("n_nationkey").cast("long").as("k"),
          col("n_regionkey").cast("long").as("region")), s"$root/ns/dim")
      val cat = "grafts_" + java.security.MessageDigest.getInstance("MD5")
        .digest(dir.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(6)
      s.conf.set(s"spark.sql.catalog.$cat",
        classOf[graft.source.GraftCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.root", root)
      val view = "q284_fact_" + cat
      Tables.load(s, dir, "lineitem")
        .select((col("l_suppkey") % 25).cast("long").as("k"),
          col("l_orderkey").cast("long").as("okey"))
        .createOrReplaceTempView(view)
      def agg = s.sql(
        s"""SELECT region, CAST(count(*) AS BIGINT) AS n_rows,
           |  CAST(sum(okey) AS BIGINT) AS key_sum
           |FROM $view f JOIN $cat.ns.dim d ON f.k = d.k
           |GROUP BY region""".stripMargin)
      val keys = Seq("spark.sql.adaptive.enabled",
        "spark.sql.autoBroadcastJoinThreshold")
      val saved = keys.map(k => k -> s.conf.get(k))
      try {
        s.conf.set("spark.sql.adaptive.enabled", "false") // clean plan read
        s.conf.set("spark.sql.autoBroadcastJoinThreshold",
          (16 * 1024).toString)
        require(agg.queryExecution.executedPlan.collect {
          case j: BroadcastHashJoinExec => j }.nonEmpty,
          "q284: accurate reported bytes must broadcast the catalog dim")
        s.conf.set("spark.sql.autoBroadcastJoinThreshold", "10")
        require(agg.queryExecution.executedPlan.collect {
          case j: SortMergeJoinExec => j }.nonEmpty,
          "q284: below-threshold stats must push the join back to merge")
        s.conf.set("spark.sql.autoBroadcastJoinThreshold",
          (16 * 1024).toString)
        agg.localCheckpoint()
      } finally {
        saved.foreach { case (k, v) => s.conf.set(k, v) }
        s.catalog.dropTempView(view); ()
      }
    },

    // ---------------------------------------------------------------- q286
    // COLUMN-MAPPED TABLES THROUGH SQL — the q225 id-stable evolution
    // rendered on the q280 surface: a table whose files carry physical
    // `c_<id>` columns resolves in the catalog under its LOGICAL names,
    // a metadata-only RENAME is visible to the very next SQL query with
    // zero data movement (pinned: the live schema shows the new name,
    // `VERSION AS OF` still renders the OLD version under the OLD name —
    // per-version manifests, exactly Delta's behavior), and a dropped
    // column vanishes from the SQL schema while its bytes stay in the
    // immutable files. The one honest refusal is pinned too: an
    // UNMATERIALIZED default column cannot be evaluated by a file
    // reader, so the catalog fails loudly rather than render null where
    // the ops layer renders the default. The BI tool never learns the
    // table was renamed under it — which is the entire point.
    Q("q286_sql_column_mapping",
      """WITH t AS (SELECT c_custkey AS ck,
        |    c_custkey % 100 AS bal FROM customer)
        |SELECT CAST(ck % 10 AS BIGINT) AS bucket,
        |  CAST(count(*) AS BIGINT) AS n, CAST(sum(bal) AS BIGINT) AS bal_sum
        |FROM t GROUP BY 1""".stripMargin) { (s, dir) =>
      import graft.ops.{ColumnMapping => CM}
      import scala.util.Try
      val root = scratch(s, dir, "q286")
      val tdir = s"$root/ns/t"
      // key-local multi-file base (round-15 adversarial-fixture sweep):
      // a mapped-table read that pruned by physical-file stats while
      // resolving logical names/defaults would change this hash at every SF
      CM.writeData(Tables.load(s, dir, "customer")
        .select(col("c_custkey").cast("long").as("ck"),
          col("c_nationkey").cast("long").as("nk"))
        .withColumn("b", col("ck") % 100)
        .repartitionByRange(8, col("ck")), tdir)
      CM.rename(s, tdir, "b", "bal") // metadata-only
      CM.drop(s, tdir, "nk") // metadata-only
      val cat = "graftm_" + java.security.MessageDigest.getInstance("MD5")
        .digest(dir.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(6)
      s.conf.set(s"spark.sql.catalog.$cat",
        classOf[graft.source.GraftCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.root", root)
      val live = s.sql(s"SELECT * FROM $cat.ns.t")
      require(live.columns.toSeq == Seq("ck", "bal"),
        s"q286: live SQL must render the evolved names, got ${live.columns.toSeq}")
      require(Q.sameMultiset(live, CM.read(s, tdir)),
        "q286: the SQL read must equal the ops-layer read")
      val v1 = s.sql(s"SELECT * FROM $cat.ns.t VERSION AS OF 1")
      require(v1.columns.toSeq == Seq("ck", "nk", "b"),
        s"q286: v1 must render under its OWN names, got ${v1.columns.toSeq}")
      require(Q.sameMultiset(v1, CM.readVersion(s, tdir, 1)),
        "q286: time travel must equal the ops-layer version read")
      // an unmaterialized DEFAULT renders through SQL exactly as the
      // typed read renders it: the expression is evaluated once and
      // constant-filled at the reader — never silently nulled
      CM.addColumnWithDefault(s, tdir, "tier", "'bronze'")
      val withDefault = s.sql(s"SELECT * FROM $cat.ns.t")
      require(withDefault.filter(col("tier") === "bronze").count() ==
        CM.read(s, tdir).count(),
        "q286: the unmaterialized default must render for every row")
      require(Q.sameMultiset(withDefault, CM.read(s, tdir)),
        "q286: SQL and the typed read must agree on the default")
      live.groupBy((col("ck") % 10).cast("bigint").as("bucket"))
        .agg(count(lit(1)).cast("bigint").as("n"),
          sum(col("bal")).cast("bigint").as("bal_sum"))
    },

    // ---------------------------------------------------------------- q287
    // WAREHOUSE MAINTENANCE SWEEP (`ops/Maintenance.scala` — the janitor
    // every managed lakehouse schedules): each table declares retention
    // in its own `_policy`, ONE sweep discovers every table under the
    // warehouse root (layout-detected: pointer-protocol vs action-log,
    // nested namespaces walked, table internals never descended),
    // applies the matching primitive — VersionedTable.gc or
    // ActionLog.vacuum, each already crash-safe — and returns a ledger.
    // Pinned: the ledger matches each table's OWN policy exactly (keep=1
    // drops three, keep=3 drops nothing, the log table drops records AND
    // only its unreferenced files), live content everywhere is untouched,
    // expired reads fail loudly, and a second sweep is all zeros. The
    // default for a policy-less table is keep=2 — a janitor that skips
    // unlabeled tables lets them grow forever, the opposite failure. At
    // 100 TB this is the operational surface: one scheduled call, every
    // table's storage bounded by its own declared contract.
    Q("q287_maintenance_sweep",
      """SELECT CAST(c_nationkey AS BIGINT) AS nk,
        |  CAST(count(*) AS BIGINT) AS n, CAST(sum(c_custkey) AS BIGINT) AS ck_sum
        |FROM customer GROUP BY 1""".stripMargin) { (s, dir) =>
      import graft.ops.{ActionLog, Maintenance, VersionedTable => VT}
      import scala.util.Try
      val root = scratch(s, dir, "q287")
      val cust = Tables.load(s, dir, "customer")
        .select(col("c_custkey").cast("long").as("ck"),
          col("c_nationkey").cast("long").as("nk"))
      // table a: 4 versions, keep=1
      (1 to 4).foreach(i => VT.write(cust.withColumn("v", lit(i)), s"$root/a"))
      Maintenance.setPolicy(s, s"$root/a", keep = 1)
      // table ns/b: 3 versions, keep=3 (nothing to drop)
      (1 to 3).foreach(i => VT.write(cust.withColumn("v", lit(i)), s"$root/ns/b"))
      Maintenance.setPolicy(s, s"$root/ns/b", keep = 3)
      // table c: action log with a rewrite, keep=2
      def half(i: Int) = cust.filter(col("ck") % 2 === i)
      ActionLog.append(half(0).coalesce(1), s"$root/c")
      ActionLog.append(half(1).coalesce(1), s"$root/c")
      ActionLog.rewrite(ActionLog.read(s, s"$root/c"), s"$root/c", 1)
      ActionLog.append(half(0).limit(0).coalesce(1), s"$root/c")
      // grace=0: single-writer test table — the sweep's ledger pins the
      // immediate-deletion form; production tables keep the default window
      Maintenance.setPolicy(s, s"$root/c", keep = 2,
        vacuumGraceMs = Some(0L))
      val before = Seq(VT.read(s, s"$root/a").localCheckpoint(),
        VT.read(s, s"$root/ns/b").localCheckpoint(),
        ActionLog.read(s, s"$root/c").localCheckpoint())
      val ledger = Maintenance.sweep(s, root)
        .map(w => (w.table.split("/").takeRight(1).head, w.kind,
          w.dropped, w.filesDeleted)).sortBy(_._1)
      require(ledger == Seq(("a", "versioned", 3, 0),
        ("b", "versioned", 0, 0), ("c", "log", 2, 2)),
        s"q287: ledger out of contract: $ledger")
      // live content untouched, expired reads loud, re-sweep a no-op
      val after = Seq(VT.read(s, s"$root/a"), VT.read(s, s"$root/ns/b"),
        ActionLog.read(s, s"$root/c"))
      before.zip(after).foreach { case (b, a) =>
        require(Q.sameMultiset(a, b),
          "q287: the sweep must not change live content")
      }
      require(Try(VT.readVersion(s, s"$root/a", 1L).count()).isFailure,
        "q287: an expired snapshot must fail loudly")
      require(Maintenance.sweep(s, root).forall(w =>
        w.dropped == 0 && w.filesDeleted == 0),
        "q287: a second sweep must be all zeros")
      VT.read(s, s"$root/a").groupBy(col("nk"))
        .agg(count(lit(1)).cast("bigint").as("n"),
          sum(col("ck")).cast("bigint").as("ck_sum"))
    },

    // ---------------------------------------------------------------- q288
    // SNAPSHOT-PINNED MULTI-TABLE SQL — cross-table consistency on the
    // q280 surface: a catalog registered with `snapshotCatalog` resolves
    // EVERY table from one SnapshotCatalog manifest, so a dashboard's
    // two-table join reads a transactionally consistent pair however the
    // live pointers move underneath it — pinned by committing NEW
    // versions to both tables mid-"dashboard": the snapshot catalog
    // still answers with the OLD pair (the join balances), the live
    // catalog sees the new one, and a table the manifest doesn't pin
    // fails LOUDLY (an unpinned read silently mixing epochs is the exact
    // bug the snapshot exists to kill). This is the read-side of q226's
    // catalog-level transactions: writers move every pointer atomically,
    // readers resolve every table from one instant.
    Q("q288_snapshot_pinned_sql",
      """WITH x AS (SELECT c_custkey AS ck, c_custkey % 100 AS debit
        |           FROM customer),
        |y AS (SELECT c_custkey AS ck, c_custkey % 100 AS credit
        |      FROM customer)
        |SELECT CAST(count(*) AS BIGINT) AS n_accounts,
        |  CAST(sum(debit) AS BIGINT) AS debits,
        |  CAST(sum(credit) AS BIGINT) AS credits
        |FROM x JOIN y USING (ck)""".stripMargin) { (s, dir) =>
      import graft.ops.{ChangeFeed, SnapshotCatalog}
      import scala.util.Try
      val root = scratch(s, dir, "q288")
      val cust = Tables.load(s, dir, "customer")
        .select(col("c_custkey").cast("long").as("ck"))
      // v1: debits and credits BALANCE (the consistent pair)
      ChangeFeed.commit(cust.withColumn("debit", col("ck") % 100),
        s"$root/ns/x", Seq("ck"))
      ChangeFeed.commit(cust.withColumn("credit", col("ck") % 100),
        s"$root/ns/y", Seq("ck"))
      SnapshotCatalog.commit(s, s"$root/_catalog",
        Map("ns/x" -> 1L, "ns/y" -> 1L))
      // mid-dashboard: both tables move (still balanced at v2, but
      // DIFFERENT numbers — mixing v1-x with v2-y would NOT balance)
      ChangeFeed.commit(cust.withColumn("debit", col("ck") % 100 + 5),
        s"$root/ns/x", Seq("ck"))
      ChangeFeed.commit(cust.withColumn("credit", col("ck") % 100 + 5),
        s"$root/ns/y", Seq("ck"))
      val digest = java.security.MessageDigest.getInstance("MD5")
        .digest(dir.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(6)
      val (live, snap) = (s"graftv_$digest", s"graftw_$digest")
      Seq(live, snap).foreach { c =>
        s.conf.set(s"spark.sql.catalog.$c",
          classOf[graft.source.GraftCatalog].getName)
        s.conf.set(s"spark.sql.catalog.$c.root", root)
      }
      s.conf.set(s"spark.sql.catalog.$snap.snapshotCatalog", s"$root/_catalog")
      def balance(cat: String) = s.sql(
        s"""SELECT CAST(count(*) AS BIGINT) AS n_accounts,
           |  CAST(sum(debit) AS BIGINT) AS debits,
           |  CAST(sum(credit) AS BIGINT) AS credits
           |FROM $cat.ns.x x JOIN $cat.ns.y y ON x.ck = y.ck""".stripMargin)
      val pinned = balance(snap).localCheckpoint()
      val Row0 = pinned.head
      require(Row0.getLong(1) == Row0.getLong(2),
        "q288: the snapshot pair must balance")
      val liveRow = balance(live).head
      require(liveRow.getLong(1) == liveRow.getLong(2) &&
        liveRow.getLong(1) != Row0.getLong(1),
        "q288: the live pair must balance at DIFFERENT totals")
      // a table outside the manifest must fail loudly under the snapshot
      graft.ops.VersionedTable.write(cust, s"$root/ns/z")
      require(Try(s.sql(s"SELECT * FROM $snap.ns.z").collect()).isFailure,
        "q288: an unpinned table must be refused under the snapshot")
      pinned
    },

    // ---------------------------------------------------------------- q290
    // DELETION-VECTOR TABLES THROUGH SQL — the last table flavor joins
    // the q280 surface: a DV-committed version resolves in the catalog
    // and each file's roaring bitmap ships WITH its partition, applied
    // BY ROW INDEX during decode — deleted rows are skipped at the
    // reader, never materialized, never shuffled (the same O(deleted)
    // semantics as DeletionVectors.read, now one SELECT away). Pinned:
    // live SQL ≡ the ops-layer DV read (the cohort is gone), the RAW
    // file bytes still CONTAIN the cohort (zero rewrite — the point of
    // DVs), and VERSION AS OF the pre-delete commit still renders it.
    // With q286 and q283 this closes the loop: snapshot, mapped, log,
    // branched, and DV tables all answer to plain SQL through one
    // catalog registration.
    Q("q290_sql_deletion_vectors",
      """WITH t AS (SELECT event_id, user_id,
        |    CASE WHEN user_id < 5 THEN 'redacted' ELSE event_type END
        |      AS event_type
        |  FROM events WHERE user_id % 13 <> 4)
        |SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(event_id) AS BIGINT) AS id_sum
        |FROM t GROUP BY 1""".stripMargin) { (s, dir) =>
      import graft.ops.{DeletionVectors => DV, VersionedTable => VT}
      val root = scratch(s, dir, "q290")
      val tdir = s"$root/ns/t"
      val ev = Tables.load(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("event_type"))
      // KEY-LOCAL multi-file base (round-15 adversarial-fixture sweep):
      // disjoint user_id ranges with tight per-file stats, so a DV-plane
      // row-level scan that ever started pruning on the statement's WHERE
      // (the round-13 bug class, q313's layer) would drop whole files'
      // rows from the rewrite and change this oracle's hash at every SF.
      VT.write(ev.repartitionByRange(8, col("user_id")), tdir)
      val cohort = col("user_id") % 13 === 4
      val (v2, nDel) = DV.delete(s, tdir, cohort)
      require(v2 == 2L && nDel > 0, "q290: the erase must hit the cohort")
      val cat = "graftd_" + java.security.MessageDigest.getInstance("MD5")
        .digest(dir.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(6)
      s.conf.set(s"spark.sql.catalog.$cat",
        classOf[graft.source.GraftCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.root", root)
      val live = s.sql(s"SELECT event_id, user_id, event_type FROM $cat.ns.t")
      require(Q.sameMultiset(live, DV.read(s, tdir)),
        "q290: the SQL read must apply the vectors exactly")
      require(live.filter(cohort).isEmpty,
        "q290: the cohort must be invisible to SQL")
      // the bytes were never rewritten — raw files still hold the cohort
      require(s.read.parquet(VT.verDir(tdir, v2).toString)
        .filter(cohort).count() == nDel,
        "q290: the raw files must still contain the cohort (zero rewrite)")
      val v1 = s.sql(s"SELECT event_id, user_id, event_type FROM $cat.ns.t " +
        "VERSION AS OF 1")
      require(v1.filter(cohort).count() == nDel,
        "q290: pre-delete time travel must still render the cohort")
      // SQL UPDATE through the DV-flavored row-level plane (round 15):
      // the COW rewrite's scan is the DV-aware one, its WHERE is narrow,
      // and the base is key-local multi-file — deleted rows must not
      // resurrect AND unmatched files' rows must all survive the rewrite
      val nLive = live.count()
      s.sql(s"UPDATE $cat.ns.t SET event_type = 'redacted' WHERE user_id < 5")
      val after = s.sql(s"SELECT event_id, user_id, event_type FROM $cat.ns.t")
      require(after.count() == nLive,
        "q290: the DV-plane COW UPDATE must not lose rows")
      require(after.filter(cohort).isEmpty,
        "q290: deleted rows must not resurrect through the UPDATE rewrite")
      require(after.filter(col("user_id") < 5)
          .filter(col("event_type") =!= "redacted").isEmpty,
        "q290: the UPDATE must hit every matching row")
      after.groupBy(col("event_type"))
        .agg(count(lit(1)).cast("bigint").as("n"),
          sum(col("event_id")).cast("bigint").as("id_sum"))
    },

    // ---------------------------------------------------------------- q291
    // PROTOCOL GATES AT THE CATALOG — q278's feature gates enforced at
    // the SQL front door: a catalog registration DECLARES its client's
    // supported features, and the gate runs before any table flavor is
    // constructed, so a feature-gated table simply does not resolve for
    // a catalog that can't read it correctly — the error names the
    // feature and the fix. Pinned: the capable catalog reads the gated
    // table (values oracle-checked); the legacy catalog fails loudly at
    // ANALYSIS (never touching data); ungated tables resolve for both.
    // The composition matters more than either piece: q278's gates
    // without catalog enforcement protect only callers who remember to
    // call checkRead — this wires the contract into the surface every
    // client actually uses.
    Q("q291_catalog_protocol_gate",
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(o_orderkey) AS BIGINT) AS key_sum
        |FROM orders WHERE o_orderkey % 2 = 1 GROUP BY 1""".stripMargin) { (s, dir) =>
      import graft.ops.{Protocol, VersionedTable => VT}
      import scala.util.Try
      val root = scratch(s, dir, "q291")
      val o = Tables.load(s, dir, "orders")
        .filter(col("o_orderkey") % 2 === 1)
        .select(col("o_orderkey"), col("o_orderpriority"))
      Protocol.commit(o, s"$root/ns/gated", Protocol.Proto(
        readerFeatures = Set("deletion-vectors"),
        writerFeatures = Set("deletion-vectors")))
      VT.write(o, s"$root/ns/open")
      val digest = java.security.MessageDigest.getInstance("MD5")
        .digest(dir.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(6)
      val (modern, legacy) = (s"graftg_$digest", s"grafth_$digest")
      Seq(modern, legacy).foreach { c =>
        s.conf.set(s"spark.sql.catalog.$c",
          classOf[graft.source.GraftCatalog].getName)
        s.conf.set(s"spark.sql.catalog.$c.root", root)
      }
      s.conf.set(s"spark.sql.catalog.$modern.features",
        "deletion-vectors,row-tracking")
      val live = s.sql(s"SELECT * FROM $modern.ns.gated")
      require(Q.sameMultiset(live, o),
        "q291: the capable catalog must read the gated table")
      val refusal = Try(s.sql(s"SELECT * FROM $legacy.ns.gated").collect())
      require(refusal.isFailure &&
        refusal.failed.get.getMessage.contains("deletion-vectors"),
        "q291: the legacy catalog must fail loudly, naming the feature")
      require(Try(s.sql(s"SELECT * FROM $legacy.ns.open").limit(1).collect())
        .isSuccess,
        "q291: ungated tables must resolve for every catalog")
      live.groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).cast("bigint").as("n"),
          sum(col("o_orderkey")).cast("bigint").as("key_sum"))
    },

    // ---------------------------------------------------------------- q292
    // THE FULL MATERIALIZED-VIEW LIFECYCLE — define, SERVE, maintain,
    // re-serve, with freshness enforced by construction: the MV is an
    // IncrementalView-maintained VersionedTable, and the MvRewrite
    // registration pins the BASE'S VERSION DIRECTORY (not the table) —
    // so the rewrite serves the dashboard from the kilobyte rollup
    // (plan-pinned) exactly while the registration is current, and the
    // instant the base commits a new version the stale registration
    // simply stops matching (the live scan reads a different dir) and
    // the query falls back to the base — pinned: a STALE MV NEVER
    // ANSWERS, the fail-safe direction. An O(changes) IVM refresh plus
    // re-registration restores rewrite service with the new numbers
    // (pinned again, values oracle-checked). This closes the q255/q213
    // loop: the serve path and the maintain path are the same tables,
    // and freshness is a path equality, not a doc comment.
    Q("q292_mv_lifecycle",
      """WITH b AS (SELECT event_id, event_type, event_id % 100 AS val
        |           FROM events),
        |v2 AS (SELECT event_id, event_type,
        |    CASE WHEN event_id % 7 = 0 THEN val + 500 ELSE val END AS val
        |  FROM b WHERE event_id % 11 <> 0)
        |SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(val) AS BIGINT) AS val_sum
        |FROM v2 GROUP BY 1""".stripMargin) { (s, dir) =>
      import graft.ops.{ChangeFeed, IncrementalView => IV, VersionedTable => VT}
      import graft.plans.MvRewrite
      val root = scratch(s, dir, "q292")
      val (baseDir, viewDir) = (s"$root/base", s"$root/view")
      val b1 = Tables.load(s, dir, "events")
        .select(col("event_id"), col("event_type"),
          (col("event_id") % 100).as("val"))
      ChangeFeed.commit(b1, baseDir, Seq("event_id"))
      val spec = IV.Spec(Seq("event_type"), Seq("val_sum" -> col("val")))
      IV.refreshTable(s, viewDir, baseDir, Seq("event_id"), spec)
      def registration(): Unit = MvRewrite.register(
        VT.liveDir(s, baseDir), VT.liveDir(s, viewDir),
        Seq("event_type"),
        Seq(MvRewrite.CountStar(IV.NCol), MvRewrite.SumOf("val", "val_sum")))
      def dashboard = VT.read(s, baseDir).groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("val")).as("val_sum"))
      def scans: Seq[String] = {
        val aqeKey = "spark.sql.adaptive.enabled"
        val prev = s.conf.get(aqeKey)
        s.conf.set(aqeKey, "false")
        try dashboard.queryExecution.executedPlan.collect {
          case f: org.apache.spark.sql.execution.FileSourceScanExec =>
            f.relation.location.rootPaths.map(_.toString)
        }.flatten finally s.conf.set(aqeKey, prev)
      }
      try {
        registration()
        require(scans.forall(_.contains("view")),
          "q292: the fresh MV must serve the dashboard")
        val served1 = dashboard.localCheckpoint()
        // the base moves: updates + deletes land as v2
        ChangeFeed.commit(b1.filter(col("event_id") % 11 =!= 0)
          .withColumn("val", when(col("event_id") % 7 === 0, col("val") + 500)
            .otherwise(col("val"))), baseDir, Seq("event_id"))
        // fail-safe freshness: the stale registration no longer matches
        require(scans.exists(_.contains("base")),
          "q292: a STALE MV must never answer — the base must serve")
        val direct2 = dashboard.localCheckpoint()
        require(!direct2.exceptAll(served1).isEmpty,
          "q292: v2 must actually change the answer (the staleness is real)")
        // O(changes) maintenance + re-registration restores service
        IV.refreshTable(s, viewDir, baseDir, Seq("event_id"), spec)
        registration()
        require(scans.forall(_.contains("view")),
          "q292: the refreshed MV must serve again")
        val served2 = dashboard.localCheckpoint()
        require(Q.sameMultiset(served2, direct2),
          "q292: the refreshed MV must serve the NEW answer checksum-exactly")
        served2.select(col("event_type"), col("n").cast("bigint").as("n"),
          col("val_sum").cast("bigint").as("val_sum"))
      } finally MvRewrite.clear()
    },

    // ---------------------------------------------------------------- q293
    // DESCRIBE HISTORY FOR THE LOG TABLE — q243's metadata tables
    // extended to the action-log layout: per version, the action counts,
    // the txn flag, and the CUMULATIVE row count, all from the LOG alone
    // (listings + recorded per-file stats — zero parquet reads, pinned
    // by construction: `history` never opens a data file). The row
    // counts are REAL numbers the oracle recomputes from the base table,
    // so the metadata's accounting is value-checked, not shape-checked:
    // an append shows its rows arriving, a rewrite shows 2 removes / 1
    // add and an UNCHANGED cumulative count (dataChange=false made
    // visible), the exactly-once append shows its txn flag. At 100 TB
    // DESCRIBE HISTORY is the first thing an operator runs — it must
    // cost namenode metadata, never a scan.
    Q("q293_log_history",
      """WITH q AS (SELECT l_orderkey % 4 AS m FROM lineitem),
        |c0 AS (SELECT CAST(count(*) AS BIGINT) AS n FROM q WHERE m = 0),
        |c1 AS (SELECT CAST(count(*) AS BIGINT) AS n FROM q WHERE m = 1),
        |c2 AS (SELECT CAST(count(*) AS BIGINT) AS n FROM q WHERE m = 2)
        |SELECT CAST(1 AS BIGINT) AS version, CAST(1 AS BIGINT) AS n_adds,
        |  CAST(0 AS BIGINT) AS n_removes, false AS has_txn,
        |  (SELECT n FROM c0) AS cum_rows
        |UNION ALL SELECT 2, 1, 0, false,
        |  (SELECT n FROM c0) + (SELECT n FROM c1)
        |UNION ALL SELECT 3, 1, 2, false,
        |  (SELECT n FROM c0) + (SELECT n FROM c1)
        |UNION ALL SELECT 4, 1, 0, true,
        |  (SELECT n FROM c0) + (SELECT n FROM c1) + (SELECT n FROM c2)"""
        .stripMargin) { (s, dir) =>
      import graft.ops.ActionLog
      val root = scratch(s, dir, "q293")
      val table = s"$root/t"
      val li = Tables.load(s, dir, "lineitem")
        .select(col("l_orderkey").cast("long").as("okey"))
      def quarter(i: Int) = li.filter(col("okey") % 4 === i)
      ActionLog.append(quarter(0).coalesce(1), table, Some("okey"))
      ActionLog.append(quarter(1).coalesce(1), table, Some("okey"))
      ActionLog.rewrite(ActionLog.read(s, table), table, 1, Some("okey"))
      ActionLog.appendCommitted(quarter(2).coalesce(1), table, "q293", 0L,
        Some("okey"))
      import s.implicits._
      ActionLog.history(s, table).map { case (v, a, r, t, cum) =>
        (v, a.toLong, r.toLong, t, cum.getOrElse(
          sys.error("q293: every file carries stats — cum must resolve")))
      }.toDF("version", "n_adds", "n_removes", "has_txn", "cum_rows")
    },

    // ---------------------------------------------------------------- q294
    // BI-TEMPORAL QUERIES — the two-clock composition (SQL:2011 system/
    // application time, Snodgrass's model) this library gets from parts
    // it already has: rows carry EFFECTIVE intervals (valid_from,
    // valid_to — when the fact was true in the world), commits carry
    // SYSTEM time (the version — when the database believed it), so "as
    // known at system-time S, what was the rate effective at E" is a
    // version read × an interval predicate. The probe that matters is a
    // RETROACTIVE CORRECTION: v2 restates history for one cohort's past
    // interval, and the four-cell matrix pins exactly where it shows —
    // (v2, past) differs from (v1, past), while the present cells agree
    // — the audit property plain SCD2 (one clock) cannot express: it
    // can say what changed, never what we USED TO BELIEVE. The oracle
    // replays all four cells from the base arithmetic.
    Q("q294_bitemporal",
      """WITH c AS (SELECT c_custkey AS ck FROM customer),
        |base AS (SELECT ck, ck % 7 AS r1, ck % 7 + 10 AS r2 FROM c)
        |SELECT CAST(1 AS BIGINT) AS sys_v, CAST(50 AS BIGINT) AS eff,
        |  CAST(sum(r1) AS BIGINT) AS rate_sum, CAST(count(*) AS BIGINT) AS n
        |FROM base
        |UNION ALL SELECT 1, 150, CAST(sum(r2) AS BIGINT),
        |  CAST(count(*) AS BIGINT) FROM base
        |UNION ALL SELECT 2, 50,
        |  CAST(sum(CASE WHEN ck % 3 = 0 THEN r1 + 100 ELSE r1 END) AS BIGINT),
        |  CAST(count(*) AS BIGINT) FROM base
        |UNION ALL SELECT 2, 150, CAST(sum(r2) AS BIGINT),
        |  CAST(count(*) AS BIGINT) FROM base""".stripMargin) { (s, dir) =>
      import graft.ops.{ChangeFeed, VersionedTable => VT}
      val root = scratch(s, dir, "q294")
      val table = s"$root/t"
      val c = Tables.load(s, dir, "customer")
        .select(col("c_custkey").cast("long").as("ck"))
      def timeline(correct: Boolean) = {
        val past = c.select(col("ck"), lit(0L).as("eff_from"),
          lit(100L).as("eff_to"),
          (if (correct) when(col("ck") % 3 === 0, col("ck") % 7 + 100)
            .otherwise(col("ck") % 7)
          else col("ck") % 7).as("rate"))
        val present = c.select(col("ck"), lit(100L).as("eff_from"),
          lit(999999L).as("eff_to"), (col("ck") % 7 + 10).as("rate"))
        past.unionByName(present)
      }
      ChangeFeed.commit(timeline(correct = false), table, Seq("ck", "eff_from"))
      ChangeFeed.commit(timeline(correct = true), table, Seq("ck", "eff_from"))
      def cell(sysV: Long, eff: Long) =
        VT.readVersion(s, table, sysV)
          .filter(col("eff_from") <= eff && col("eff_to") > eff)
          .agg(sum(col("rate")).cast("bigint").as("rate_sum"),
            count(lit(1)).cast("bigint").as("n"))
          .select(lit(sysV).as("sys_v"), lit(eff).as("eff"),
            col("rate_sum"), col("n"))
      val cells = Seq(cell(1, 50), cell(1, 150), cell(2, 50), cell(2, 150))
        .map(_.localCheckpoint())
      // the correction is visible exactly in the (now, past) cell
      require(cells(0).head.getLong(2) != cells(2).head.getLong(2),
        "q294: the retroactive correction must change what we NOW believe " +
          "about the past")
      require(cells(1).head.getLong(2) == cells(3).head.getLong(2),
        "q294: the present-effective cells must agree across system time")
      cells.reduce(_.unionByName(_))
    },

    // ---------------------------------------------------------------- q295
    // SHADOW MIGRATION BETWEEN TABLE LAYOUTS — the strangler-fig cutover
    // every storage migration runs: three ingest batches DUAL-WRITE to
    // the old layout (snapshot-per-version) and the new one (action
    // log), with a q279 content-digest receipt proving the layouts agree
    // AFTER EVERY BATCH — the shadow window where a divergence would be
    // caught while the old path is still authoritative. The
    // write-amplification ledger makes the migration's reason
    // MEASURABLE: the snapshot layout rewrote the whole table per commit
    // (bytes pinned strictly greater than the log's, which wrote each
    // row once). Cutover is one pointer file; post-cutover ingest lands
    // ONLY in the log (the old table is pinned frozen), and the router
    // serves the union. At 100 TB nobody migrates a table by copying it
    // once — they run exactly this: dual-write, verify, flip, freeze.
    Q("q295_shadow_migration",
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(o_orderkey) AS BIGINT) AS key_sum
        |FROM orders GROUP BY 1""".stripMargin) { (s, dir) =>
      import graft.ops.{ActionLog, TableChecksum, VersionedTable => VT}
      val root = scratch(s, dir, "q295")
      val (oldT, newT) = (s"$root/old", s"$root/new")
      val o = Tables.load(s, dir, "orders")
        .select(col("o_orderkey").cast("long").as("okey"),
          col("o_orderpriority"))
      def batch(i: Int) = o.filter(col("okey") % 4 === i)
      def cum(i: Int) = o.filter(col("okey") % 4 <= i)
      (0 until 3).foreach { i =>
        VT.write(cum(i), oldT) // old layout: full snapshot per commit
        ActionLog.append(batch(i).coalesce(1), newT) // new: the delta
        // the shadow receipt: both layouts agree after EVERY batch
        require(TableChecksum.digest(VT.read(s, oldT)) ==
          TableChecksum.digest(ActionLog.read(s, newT)),
          s"q295: layouts diverged during the shadow window at batch $i")
      }
      // the migration's reason, measured: snapshot bytes vs log bytes
      def bytesUnder(p: String): Long = {
        val root0 = new org.apache.hadoop.fs.Path(p)
        val fs = root0.getFileSystem(s.sparkContext.hadoopConfiguration)
        fs.getContentSummary(root0).getLength
      }
      require(bytesUnder(oldT) > bytesUnder(newT),
        "q295: the snapshot layout must show its write amplification")
      // cutover: one pointer; the old table freezes
      val fs = new org.apache.hadoop.fs.Path(root)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      val out = fs.create(new org.apache.hadoop.fs.Path(s"$root/_route"), true)
      out.write("log".getBytes("UTF-8")); out.close()
      val frozenAt = VT.currentVersion(s, oldT).get
      ActionLog.append(batch(3).coalesce(1), newT) // post-cutover ingest
      require(VT.currentVersion(s, oldT).contains(frozenAt),
        "q295: the old layout must be frozen after cutover")
      def route(): org.apache.spark.sql.DataFrame = {
        val in = fs.open(new org.apache.hadoop.fs.Path(s"$root/_route"))
        val r = try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
          finally in.close()
        if (r == "log") ActionLog.read(s, newT) else VT.read(s, oldT)
      }
      val served = route()
      require(Q.sameMultiset(served, o),
        "q295: the routed read must serve the complete table")
      served.groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).cast("bigint").as("n"),
          sum(col("okey")).cast("bigint").as("key_sum"))
    },

    // ---------------------------------------------------------------- q296
    // AUTO-OPTIMIZE AS DECLARED POLICY — Delta's auto-compaction as a
    // per-table contract the q287 janitor enforces: a log table declares
    // `compact=2` next to its retention, six drip appends leave six
    // small files, and the SWEEP bin-packs it through the OCC-safe
    // compactFiles (stats preserved via the recorded stats column),
    // then vacuums the detached originals IN THE SAME PASS (the
    // compact-then-vacuum order is the point — the rewrite's garbage is
    // retention-eligible immediately). Pinned: ≤2 live files after, the
    // content digest unchanged across the whole maintenance, a table
    // UNDER its threshold is untouched, and the second sweep is a
    // no-op on both. At 100 TB nobody remembers to run OPTIMIZE — the
    // table's own policy does.
    Q("q296_auto_optimize",
      """SELECT CAST(c_nationkey AS BIGINT) AS nk,
        |  CAST(count(*) AS BIGINT) AS n, CAST(sum(c_custkey) AS BIGINT) AS ck_sum
        |FROM customer GROUP BY 1""".stripMargin) { (s, dir) =>
      import graft.ops.{ActionLog, Maintenance, TableChecksum}
      val root = scratch(s, dir, "q296")
      val cust = Tables.load(s, dir, "customer")
        .select(col("c_custkey").cast("long").as("ck"),
          col("c_nationkey").cast("long").as("nk"))
      // six drip appends = six small files
      (0 until 6).foreach(i => ActionLog.append(
        cust.filter(col("ck") % 6 === i).coalesce(1), s"$root/busy",
        Some("ck")))
      Maintenance.setPolicy(s, s"$root/busy", keep = 2, compactOver = Some(2))
      // a quiet table under its threshold
      ActionLog.append(cust.coalesce(1), s"$root/quiet", Some("ck"))
      Maintenance.setPolicy(s, s"$root/quiet", keep = 2, compactOver = Some(2))
      val before = TableChecksum.digest(ActionLog.read(s, s"$root/busy"))
      val ledger = Maintenance.sweep(s, root)
        .map(w => w.table.split("/").last -> w.compacted).toMap
      require(ledger == Map("busy" -> true, "quiet" -> false),
        s"q296: only the over-threshold table compacts, got $ledger")
      val liveFiles = ActionLog.resolve(s, s"$root/busy",
        ActionLog.versions(s, s"$root/busy").last)._1
      require(liveFiles.size <= 2,
        s"q296: the sweep must bin-pack to the declared bound, got ${liveFiles.size}")
      require(TableChecksum.digest(ActionLog.read(s, s"$root/busy")) == before,
        "q296: maintenance must never change content")
      require(Maintenance.sweep(s, root).forall(w =>
        !w.compacted && w.dropped == 0 && w.filesDeleted == 0),
        "q296: the second sweep must be a no-op")
      ActionLog.read(s, s"$root/busy").groupBy(col("nk"))
        .agg(count(lit(1)).cast("bigint").as("n"),
          sum(col("ck")).cast("bigint").as("ck_sum"))
    },

    // ---------------------------------------------------------------- q297
    // WAREHOUSE CHECKSUM SCRUB — storage scrubbing as a first-class op:
    // the q287 discovery walk verifies every snapshot table's live
    // version against its q279 stamp; an unstamped table is ENROLLED on
    // first contact (the scrub bootstraps its own coverage — a scrubber
    // that skips unlabeled tables protects nothing), and a silently
    // corrupted one — one value flipped under a copied stamp — reports
    // `corrupt` in the ledger instead of surfacing months later in a
    // dashboard. Pinned: first scrub enrolls all three tables, the
    // second reports the healthy two `ok` and EXACTLY the tampered one
    // `corrupt`. This is what turns q279's per-table receipt into an
    // operated guarantee: bit-rot has an SLA.
    Q("q297_warehouse_scrub",
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(o_orderkey) AS BIGINT) AS key_sum
        |FROM orders WHERE o_orderkey % 2 = 0 GROUP BY 1""".stripMargin) { (s, dir) =>
      import graft.ops.{Maintenance, VersionedTable => VT}
      val root = scratch(s, dir, "q297")
      val o = Tables.load(s, dir, "orders")
        .filter(col("o_orderkey") % 2 === 0)
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderpriority"))
      VT.write(o, s"$root/a")
      VT.write(o, s"$root/ns/b")
      VT.write(o, s"$root/c")
      def statuses() = Maintenance.scrub(s, root)
        .map { case (d, st) => d.split("/").last -> st }.toMap
      require(statuses() ==
        Map("a" -> "enrolled", "b" -> "enrolled", "c" -> "enrolled"),
        "q297: the first scrub must enroll every unstamped table")
      // silent corruption: one value flips under the existing stamp
      val fs = new org.apache.hadoop.fs.Path(root)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      val vd = VT.verDir(s"$root/c", 1L)
      val crc = new org.apache.hadoop.fs.Path(vd, "_crc")
      val crcBytes = {
        val in = fs.open(crc)
        try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
      }
      VT.write(o.withColumn("o_custkey",
        when(col("o_orderkey") % 100 === 2, col("o_custkey") + 1)
          .otherwise(col("o_custkey"))), s"$root/c")
      // pretend the new version was stamped long ago (the rot is silent)
      val out = fs.create(new org.apache.hadoop.fs.Path(
        VT.verDir(s"$root/c", 2L), "_crc"), true)
      out.write(crcBytes.getBytes("UTF-8")); out.close()
      require(statuses() == Map("a" -> "ok", "b" -> "ok", "c" -> "corrupt"),
        s"q297: the scrub must catch exactly the rotten table, got ${statuses()}")
      VT.read(s, s"$root/a").groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).cast("bigint").as("n"),
          sum(col("o_orderkey")).cast("bigint").as("key_sum"))
    },

    // ---------------------------------------------------------------- q298
    // PER-KEY AUDIT TIMELINE — Dolt's `history` table / the Delta-CDF
    // audit query, as an operator: one keyed filter over `table_changes`
    // renders a row's COMPLETE lifecycle — born at v1, revalued at v2
    // (both images), killed at v3, resurrected at v4 — every transition
    // tagged with its commit version and change type, O(changes) from
    // the persisted feed, never a snapshot diff per version. The oracle
    // replays the exact five-row lifecycle per tracked key from the base
    // arithmetic, so the feed's per-key completeness is value-checked —
    // a capture that dropped one transition would hash-fail. This is the
    // question auditors actually ask ("what happened to THIS record?"),
    // and at 100 TB it must cost the key's history, not the table's.
    Q("q298_key_timeline",
      """WITH k AS (SELECT c_custkey AS ck FROM customer
        |           WHERE c_custkey % 70 = 0)
        |SELECT ck, CAST(1 AS BIGINT) AS version, 'insert' AS change_type,
        |  CAST(ck % 100 AS BIGINT) AS bal FROM k
        |UNION ALL SELECT ck, 2, 'update_preimage', ck % 100 FROM k
        |UNION ALL SELECT ck, 2, 'update_postimage', ck % 100 + 10 FROM k
        |UNION ALL SELECT ck, 3, 'delete', ck % 100 + 10 FROM k
        |UNION ALL SELECT ck, 4, 'insert', 7 FROM k""".stripMargin) { (s, dir) =>
      import graft.ops.ChangeFeed
      val root = scratch(s, dir, "q298")
      val table = s"$root/t"
      val c = Tables.load(s, dir, "customer")
        .select(col("c_custkey").cast("long").as("ck"))
      val v1 = c.withColumn("bal", col("ck") % 100)
      val v2 = v1.withColumn("bal",
        when(col("ck") % 5 === 0, col("bal") + 10).otherwise(col("bal")))
      val v3 = v2.filter(col("ck") % 7 =!= 0)
      val v4 = v3.unionByName(c.filter(col("ck") % 14 === 0)
        .withColumn("bal", lit(7L)))
      Seq(v1, v2, v3, v4).foreach(ChangeFeed.commit(_, table, Seq("ck")))
      ChangeFeed.tableChanges(s, table, 0L, 4L, Seq("ck"))
        .filter(col("ck") % 70 === 0)
        .select(col("ck"), col(ChangeFeed.CommitVersion).as("version"),
          col(ChangeFeed.ChangeType).as("change_type"),
          col("bal").cast("bigint").as("bal"))
    },

    // ---------------------------------------------------------------- q300
    // THE PIPELINE, END TO END — the capstone composition: at-least-once
    // INGEST into the exactly-once action log (a redelivered cohort
    // arrives twice), a QUALITY gate, exact DEDUP, a CURATED merge with
    // change capture, an MV refresh from the feed, and a sharded EXPORT
    // whose read-back digest must equal the curated content — every
    // stage the real operator from this library, every stage's row count
    // a LEDGER ENTRY the oracle recomputes independently. The survivor
    // accounting is the audit: ingested − quality-failed − dup-copies =
    // curated = exported, and the export receipt proves the bytes on
    // disk are the curated table, not an approximation of it. This is
    // the "a user of the reference could switch" statement in one
    // entry: source → gate → dedup → table → view → training shards,
    // with receipts.
    Q("q300_pipeline_capstone", {
      val delivered = "SELECT event_id, event_type FROM events " +
        "UNION ALL SELECT event_id, event_type FROM events WHERE event_id % 4 = 0"
      s"""WITH d AS ($delivered),
        |q AS (SELECT * FROM d WHERE event_id % 97 <> 0),
        |u AS (SELECT DISTINCT event_id, event_type FROM q)
        |SELECT 'ingested' AS stage, CAST(count(*) AS BIGINT) AS rows_out FROM d
        |UNION ALL SELECT 'quality_pass', CAST(count(*) AS BIGINT) FROM q
        |UNION ALL SELECT 'deduped', CAST(count(*) AS BIGINT) FROM u
        |UNION ALL SELECT 'curated', CAST(count(*) AS BIGINT) FROM u
        |UNION ALL SELECT 'mv_groups',
        |  CAST(count(DISTINCT event_type) AS BIGINT) FROM u
        |UNION ALL SELECT 'exported', CAST(count(*) AS BIGINT) FROM u"""
        .stripMargin
    }) { (s, dir) =>
      import graft.ops.{ActionLog, ChangeFeed, IncrementalView => IV,
        TableChecksum, VersionedTable => VT}
      val root = scratch(s, dir, "q300")
      val ev = Tables.load(s, dir, "events")
        .select(col("event_id"), col("event_type"))
      // 1. INGEST: exactly-once log, at-least-once DATA (a redelivery)
      val ingestT = s"$root/ingest"
      ActionLog.appendCommitted(ev, ingestT, "q300", 0L)
      ActionLog.appendCommitted(ev.filter(col("event_id") % 4 === 0),
        ingestT, "q300", 1L)
      val ingested = ActionLog.read(s, ingestT).localCheckpoint()
      // 2. QUALITY gate
      val quality = ingested.filter(col("event_id") % 97 =!= 0)
      // 3. exact DEDUP
      val deduped = quality.dropDuplicates("event_id").localCheckpoint()
      // 4. CURATED merge with capture
      val curatedT = s"$root/curated"
      ChangeFeed.commit(deduped, curatedT, Seq("event_id"))
      // 5. MV refresh from the table
      val viewT = s"$root/view"
      IV.refreshTable(s, viewT, curatedT, Seq("event_id"),
        IV.Spec(Seq("event_type"), Seq("id_sum" -> col("event_id"))))
      val mvGroups = VT.read(s, viewT).count()
      // 6. EXPORT with a content receipt
      val exportDir = s"$root/export"
      VT.read(s, curatedT)
        .withColumn("shard", expr(
          "CAST(conv(substring(md5(CAST(CAST(event_id AS STRING) AS BINARY))," +
            " 1, 6), 16, 10) AS BIGINT) % 4"))
        .write.partitionBy("shard").mode("overwrite").parquet(exportDir)
      val exported = s.read.option("basePath", exportDir).parquet(exportDir)
        .select(col("event_id"), col("event_type"))
      require(TableChecksum.digest(exported) ==
        TableChecksum.digest(VT.read(s, curatedT)
          .select(col("event_id"), col("event_type"))),
        "q300: the export receipt must equal the curated content")
      // the survivor accounting, then the ledger
      val (nIn, nQ, nU) = (ingested.count(), quality.count(), deduped.count())
      require(nIn > nQ && nQ > nU,
        "q300: every stage must do real work on this data")
      require(exported.count() == nU,
        "q300: the export must carry exactly the curated rows")
      import s.implicits._
      Seq("ingested" -> nIn, "quality_pass" -> nQ, "deduped" -> nU,
        "curated" -> VT.read(s, curatedT).count(), "mv_groups" -> mvGroups,
        "exported" -> exported.count())
        .toDF("stage", "rows_out")
    },

    // ---------------------------------------------------------------- q302
    // THE BRANCH CHANGE FEED — CDC on the commit DAG (Dolt's diff
    // semantics composed with q221's feed contract): every commit
    // captures its keyed diff against its FIRST parent, so a consumer
    // subscribed to MAIN walks the first-parent chain and sees direct
    // commits as themselves and a MERGE COMMIT as exactly the incoming
    // branch's net effect — pinned: the merge slice of the feed equals
    // the dev branch's cohort update, nothing more. The feed is
    // REPLAY-COMPLETE: folding latest-change-per-key over the whole
    // chain reconstructs the head bit-exactly (a capture that dropped a
    // transition would fail the equality), and a capture-less commit in
    // range fails LOUDLY instead of leaving a silent gap. At 100 TB this
    // is how downstream consumers follow a branched table without
    // knowing or caring which changes arrived by merge.
    Q("q302_branch_change_feed",
      """WITH c AS (SELECT c_custkey AS ck, c_custkey % 100 AS b FROM customer),
        |m AS (SELECT ck, b + CASE ck % 10 WHEN 1 THEN 1 WHEN 2 THEN 2
        |    WHEN 3 THEN 3 ELSE 0 END AS b FROM c)
        |SELECT CAST(ck % 10 AS BIGINT) AS bucket,
        |  CAST(count(*) AS BIGINT) AS n, CAST(sum(b) AS BIGINT) AS b_sum
        |FROM m GROUP BY 1""".stripMargin) { (s, dir) =>
      import graft.ops.{Branching, ChangeFeed}
      import org.apache.spark.sql.expressions.Window
      val root = scratch(s, dir, "q302")
      val table = s"$root/t"
      val base = Tables.load(s, dir, "customer")
        .select(col("c_custkey").cast("long").as("ck"))
        .withColumn("b", col("ck") % 100)
      def bump(df: org.apache.spark.sql.DataFrame, m: Int, d: Int) =
        df.withColumn("b", when(col("ck") % 10 === m, col("b") + d)
          .otherwise(col("b")))
      Branching.initCaptured(base, table, Seq("ck")) // c1
      Branching.commitOnCaptured(
        bump(Branching.readBranch(s, table, "main"), 1, 1),
        table, "main", Seq("ck")) // c2: cohort 1
      Branching.branch(s, table, "main", "dev")
      Branching.commitOnCaptured(
        bump(Branching.readBranch(s, table, "dev"), 2, 2),
        table, "dev", Seq("ck")) // c3: cohort 2 on the branch
      Branching.commitOnCaptured(
        bump(Branching.readBranch(s, table, "main"), 3, 3),
        table, "main", Seq("ck")) // c4: cohort 3 — main moved, so the merge is real
      val out = Branching.merge(s, table, "dev", "main", Seq("ck"),
        capture = true)
      require(out.isInstanceOf[Branching.Merged],
        "q302: the diverged merge must land a real merge commit")
      val mergeId = out.head
      val feed = Branching.branchChanges(s, table, "main", 0L, Seq("ck"))
        .localCheckpoint()
      // the merge slice IS the branch's net effect — nothing more
      val mergeSlice = feed
        .filter(col(ChangeFeed.CommitVersion) === mergeId &&
          col(ChangeFeed.ChangeType) === "update_postimage")
        .select(col("ck"), col("b"))
      val devEffect = bump(bump(base, 1, 1), 3, 3)
        .filter(col("ck") % 10 === 2).withColumn("b", col("b") + 2)
        .select(col("ck"), col("b"))
      require(Q.sameMultiset(mergeSlice, devEffect),
        "q302: the merge commit's feed slice must be exactly the branch's effect")
      // replay completeness: latest-change-per-key rebuilds the head
      val replayed = feed
        .filter(col(ChangeFeed.ChangeType).isin("insert", "update_postimage"))
        .withColumn("rn", row_number().over(Window.partitionBy(col("ck"))
          .orderBy(col(ChangeFeed.CommitVersion).desc)))
        .filter(col("rn") === 1).select(col("ck"), col("b"))
      val headDf = Branching.readBranch(s, table, "main")
      require(Q.sameMultiset(replayed, headDf),
        "q302: the feed must replay to the head checksum-exactly")
      headDf.groupBy((col("ck") % 10).cast("bigint").as("bucket"))
        .agg(count(lit(1)).cast("bigint").as("n"),
          sum(col("b")).cast("bigint").as("b_sum"))
    },

    // ---------------------------------------------------------------- q303
    // SQL DISCOVERY SURFACES — `SHOW NAMESPACES` / `SHOW TABLES` over
    // the catalog (`SupportsNamespaces`): a BI tool's first two queries
    // against an unfamiliar warehouse must work, and the answers must be
    // TYPED correctly — a namespace is a directory that is NOT a table
    // (layout-detected), a table is any of the four flavors, and a
    // top-level table must never masquerade as a namespace. The oracle
    // is the literal inventory this query's own construction implies —
    // the discovery layer is value-checked like everything else. DDL on
    // namespaces is refused (read-only, same contract as tables).
    Q("q303_sql_show",
      """SELECT 'namespace' AS kind, 'ns1' AS name
        |UNION ALL SELECT 'namespace', 'ns2'
        |UNION ALL SELECT 'table', 'ns1.t1'
        |UNION ALL SELECT 'table', 'ns1.t2'
        |UNION ALL SELECT 'table', 'ns2.t3'
        |UNION ALL SELECT 'table', 't4'""".stripMargin) { (s, dir) =>
      import graft.ops.{ActionLog, Branching, VersionedTable => VT}
      import scala.util.Try
      val root = scratch(s, dir, "q303")
      val df = Tables.load(s, dir, "nation")
        .select(col("n_nationkey").cast("long").as("k"))
      VT.write(df, s"$root/ns1/t1")
      ActionLog.append(df.coalesce(1), s"$root/ns1/t2")
      Branching.init(df, s"$root/ns2/t3")
      VT.write(df, s"$root/t4")
      val cat = "graftn_" + java.security.MessageDigest.getInstance("MD5")
        .digest(dir.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(6)
      s.conf.set(s"spark.sql.catalog.$cat",
        classOf[graft.source.GraftCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.root", root)
      val namespaces = s.sql(s"SHOW NAMESPACES IN $cat")
        .collect().map(_.getString(0)).toSet
      require(namespaces == Set("ns1", "ns2"),
        s"q303: namespaces must be exactly the non-table dirs, got $namespaces")
      def tablesIn(ns: String) = s.sql(s"SHOW TABLES IN $cat$ns")
        .collect().map(_.getString(1)).toSet
      require(tablesIn(".ns1") == Set("t1", "t2") &&
        tablesIn(".ns2") == Set("t3") && tablesIn("") == Set("t4"),
        "q303: every table flavor must list, nothing else")
      // namespace DDL is part of the write surface (q307): a created
      // namespace lists immediately, and dropping it restores the set
      s.sql(s"CREATE NAMESPACE $cat.ns9")
      require(s.sql(s"SHOW NAMESPACES IN $cat").collect()
        .map(_.getString(0)).toSet == Set("ns1", "ns2", "ns9"),
        "q303: a created namespace must list")
      s.sql(s"DROP NAMESPACE $cat.ns9")
      require(s.sql(s"SHOW NAMESPACES IN $cat").collect()
        .map(_.getString(0)).toSet == Set("ns1", "ns2"),
        "q303: a dropped namespace must vanish from discovery")
      import s.implicits._
      (namespaces.toSeq.sorted.map(n => ("namespace", n)) ++
        (tablesIn(".ns1").map("ns1." + _) ++ tablesIn(".ns2").map("ns2." + _)
          ++ tablesIn("")).toSeq.sorted.map(t => ("table", t)))
        .toDF("kind", "name")
    },

    // ---------------------------------------------------------------- q304
    // UNREACHABLE-COMMIT GC — the branch lifecycle's retention half
    // (`Branching.gc`): reachability is the ANCESTOR CLOSURE of every
    // live head, so a dropped experiment's exclusive commits die, a
    // MERGED-then-dropped branch loses NOTHING (its commits entered
    // main's history through the merge — the property that makes
    // dropping merged branches routine), shared history is never
    // touched, and the sweep is idempotent. Pinned on content too:
    // main and the surviving branch read bit-identically across the
    // sweep, and the dropped experiment's head commit is physically
    // gone. This is LakeFS/Nessie's documented GC model: refs are
    // roots, everything else is garbage.
    Q("q304_branch_gc",
      """WITH n AS (SELECT CAST(n_nationkey AS BIGINT) AS k,
        |    CAST(n_regionkey AS BIGINT) AS r FROM nation)
        |SELECT r, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(k + 7) AS BIGINT) AS k_sum
        |FROM n GROUP BY 1""".stripMargin) { (s, dir) =>
      import graft.ops.Branching
      import scala.util.Try
      val root = scratch(s, dir, "q304")
      val table = s"$root/t"
      val base = Tables.load(s, dir, "nation")
        .select(col("n_nationkey").cast("long").as("k"),
          col("n_regionkey").cast("long").as("r"))
      Branching.init(base, table)
      Branching.branch(s, table, "main", "exp1")
      Branching.branch(s, table, "main", "exp2")
      val doomed = Branching.commitOn(base.withColumn("k", col("k") + 999),
        table, "exp1")
      Branching.commitOn(base.withColumn("k", col("k") + 7), table, "exp2")
      val mainBefore = Branching.readBranch(s, table, "main").localCheckpoint()
      // a dropped experiment's exclusive commit dies; nothing else does
      Branching.drop(s, table, "exp1")
      require(Branching.gc(s, table) == 1,
        "q304: exactly the dropped experiment's commit must die")
      require(Try(Branching.readCommit(s, table, doomed).count()).isFailure,
        "q304: the doomed commit must be physically gone")
      val mainAfter = Branching.readBranch(s, table, "main")
      require(Q.sameMultiset(mainAfter, mainBefore),
        "q304: the sweep must not touch reachable content")
      require(Branching.gc(s, table) == 0, "q304: the sweep is idempotent")
      // a MERGED-then-dropped branch loses nothing
      Branching.merge(s, table, "exp2", "main", Seq("k"))
      Branching.drop(s, table, "exp2")
      require(Branching.gc(s, table) == 0,
        "q304: merged history must survive its branch's deletion")
      Branching.readBranch(s, table, "main").groupBy(col("r"))
        .agg(count(lit(1)).cast("bigint").as("n"),
          sum(col("k")).cast("bigint").as("k_sum"))
    },

    // ---------------------------------------------------------------- q305
    // CHERRY-PICK AND REVERT — git's remaining verbs on the commit DAG,
    // as capture algebra: a PICK applies another branch's captured
    // change-set under the patch rule (every preimage must match the
    // target's current row BIT-EXACTLY, every inserted key absent — the
    // context lines of a diff, as row equality), a REVERT applies the
    // INVERSE capture (inserts↔deletes, images swapped), and both are
    // ordinary captured commits — feed-visible, GC-safe. Pinned: the
    // pick lands the branch's cohort on a diverged main (clean, because
    // the cohorts are disjoint), pick-then-revert round-trips main to
    // bit-exact pre-pick content, and re-applying the stale inverse —
    // whose preimages no longer match — CONFLICTS loudly with main
    // untouched. This is the operational middle ground between "merge
    // everything" and "rebuild the table": move ONE change between
    // branches, reversibly, with receipts.
    Q("q305_cherry_pick_revert",
      """WITH c AS (SELECT c_custkey AS ck, c_custkey % 100 AS b FROM customer),
        |m AS (SELECT ck, b + CASE WHEN ck % 10 = 3 THEN 3 ELSE 0 END AS b
        |      FROM c)
        |SELECT CAST(ck % 10 AS BIGINT) AS bucket,
        |  CAST(count(*) AS BIGINT) AS n, CAST(sum(b) AS BIGINT) AS b_sum
        |FROM m GROUP BY 1""".stripMargin) { (s, dir) =>
      import graft.ops.Branching
      import scala.util.Try
      val root = scratch(s, dir, "q305")
      val table = s"$root/t"
      val base = Tables.load(s, dir, "customer")
        .select(col("c_custkey").cast("long").as("ck"))
        .withColumn("b", col("ck") % 100)
      def bump(df: org.apache.spark.sql.DataFrame, m: Int, d: Int) =
        df.withColumn("b", when(col("ck") % 10 === m, col("b") + d)
          .otherwise(col("b")))
      Branching.initCaptured(base, table, Seq("ck"))
      Branching.branch(s, table, "main", "dev")
      val devCommit = Branching.commitOnCaptured(
        bump(base, 2, 2), table, "dev", Seq("ck"))
      Branching.commitOnCaptured(bump(base, 3, 3), table, "main", Seq("ck"))
      val prePick = Branching.readBranch(s, table, "main").localCheckpoint()
      // the pick: dev's cohort lands on the diverged main
      val pickId = Branching.applyCapture(s, table, "main",
        Branching.captureOf(s, table, devCommit), Seq("ck"))
      val picked = Branching.readBranch(s, table, "main")
      val want = bump(bump(base, 3, 3), 2, 2)
      require(Q.sameMultiset(picked, want),
        "q305: the pick must land exactly the branch's cohort")
      // the revert: the pick's inverse capture round-trips main
      val inverse = Branching.invertCapture(
        Branching.captureOf(s, table, pickId)).localCheckpoint()
      Branching.applyCapture(s, table, "main", inverse, Seq("ck"))
      val reverted = Branching.readBranch(s, table, "main")
      require(Q.sameMultiset(reverted, prePick),
        "q305: pick-then-revert must round-trip checksum-exactly")
      // a stale patch — preimages no longer match — conflicts loudly
      val headBefore = Branching.head(s, table, "main")
      val clash = Try(Branching.applyCapture(s, table, "main", inverse,
        Seq("ck")))
      require(clash.isFailure &&
        clash.failed.get.getMessage.contains("preimage") &&
        Branching.head(s, table, "main") == headBefore,
        "q305: a stale patch must conflict with the branch untouched")
      reverted.groupBy((col("ck") % 10).cast("bigint").as("bucket"))
        .agg(count(lit(1)).cast("bigint").as("n"),
          sum(col("b")).cast("bigint").as("b_sum"))
    },

    // ---------------------------------------------------------------- q306
    // TIME TRAVEL ON LOG TABLES THROUGH SQL — the last routing gap in
    // the q280 surface: `VERSION AS OF n` on a log-structured table
    // resolves the file set by LOG REPLAY as of n, so SQL reaches any
    // retained log version by name — an as-of read BEFORE a compaction
    // still reads the removed files (content-equal to live, pinned: the
    // rewrite was dataChange=false and SQL proves it), an as-of read of
    // a mid-history version renders exactly its batches, and after a
    // VACUUM expires the records the same query fails LOUDLY instead of
    // resolving to something else. The ops layer had all of this
    // (q266/q270); this entry is the contract that the SQL name layer
    // adds NO semantics of its own — every guarantee tunnels through.
    Q("q306_sql_log_time_travel",
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(o_orderkey) AS BIGINT) AS key_sum
        |FROM orders WHERE o_orderkey % 3 < 2 GROUP BY 1""".stripMargin) { (s, dir) =>
      import graft.ops.ActionLog
      import scala.util.Try
      val root = scratch(s, dir, "q306")
      val tdir = s"$root/ns/t"
      val o = Tables.load(s, dir, "orders")
        .select(col("o_orderkey").cast("long").as("okey"),
          col("o_orderpriority"))
      def third(i: Int) = o.filter(col("okey") % 3 === i)
      (0 until 3).foreach(i => ActionLog.append(third(i).coalesce(1), tdir))
      ActionLog.rewrite(ActionLog.read(s, tdir), tdir, 1) // v4: compaction
      val cat = "graftu_" + java.security.MessageDigest.getInstance("MD5")
        .digest(dir.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(6)
      s.conf.set(s"spark.sql.catalog.$cat",
        classOf[graft.source.GraftCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.root", root)
      def asOf(v: Long) = s.sql(
        s"SELECT okey, o_orderpriority FROM $cat.ns.t VERSION AS OF $v")
      // mid-history renders exactly its batches
      val want2 = o.filter(col("okey") % 3 < 2)
      val got2 = asOf(2L).localCheckpoint()
      require(Q.sameMultiset(got2, want2),
        "q306: VERSION AS OF 2 must render exactly batches 0 and 1")
      // pre-compaction as-of reads the removed files, content-equal to live
      val live = s.sql(s"SELECT okey, o_orderpriority FROM $cat.ns.t")
      val got3 = asOf(3L)
      require(Q.sameMultiset(got3, live),
        "q306: the compaction must be invisible to content across versions")
      // after vacuum, the expired as-of fails loudly through SQL too
      ActionLog.vacuum(s, tdir, keepVersions = 2)
      require(Try(asOf(2L).collect()).isFailure,
        "q306: an expired log version must fail loudly through SQL")
      got2.groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).cast("bigint").as("n"),
          sum(col("okey")).cast("bigint").as("key_sum"))
    },

    // ---------------------------------------------------------------- q307
    // SQL DML THROUGH THE CATALOG (`source/GraftDml.scala` — the write
    // half of q280's surface, Delta's public V1Write bridge): CTAS mints
    // version 1 through the commit protocol, TWO CONCURRENT SQL INSERTs
    // both land — the loser REBASES under Occ (writer-unique append
    // tokens, Delta's blind-append rule) — and the final content digests
    // IDENTICAL to the typed-API equivalent, so SQL and Column-API
    // writers are interchangeable on the same table. INSERT OVERWRITE
    // replaces content under a `*` write set. The log layout gets the
    // same verbs via `TBLPROPERTIES('layout'='log')`: its SQL INSERT is
    // an O(delta) OCC append (exactly one add-log record — pinned), the
    // 100 TB shape; its OVERWRITE is a log rewrite. AS-OF relations stay
    // read-only (pinned refused) — history is immutable.
    Q("q307_sql_dml",
      """WITH c AS (SELECT CAST(c_custkey AS BIGINT) AS ck,
        |    CAST(c_nationkey AS BIGINT) AS nk FROM customer),
        |ins AS (SELECT ck, nk FROM c
        |  UNION ALL SELECT ck + 4000000000, nk FROM c WHERE ck % 2 = 0
        |  UNION ALL SELECT ck + 8000000000, nk FROM c WHERE ck % 2 = 1)
        |SELECT nk, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(ck) AS BIGINT) AS ck_sum
        |FROM ins WHERE nk < 10 GROUP BY 1""".stripMargin) { (s, dir) =>
      import graft.ops.{ActionLog, TableChecksum, VersionedTable => VT}
      import scala.util.Try
      val root = scratch(s, dir, "q307")
      val cat = "graftq_" + java.security.MessageDigest.getInstance("MD5")
        .digest(dir.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(6)
      s.conf.set(s"spark.sql.catalog.$cat",
        classOf[graft.source.GraftCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.root", root)
      val base = Tables.load(s, dir, "customer")
        .select(col("c_custkey").cast("long").as("ck"),
          col("c_nationkey").cast("long").as("nk"))
      base.createOrReplaceTempView("q307_src")
      s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.ns")
      // CTAS mints v1 through the protocol
      s.sql(s"CREATE TABLE $cat.ns.t AS SELECT ck, nk FROM q307_src")
      require(VT.currentVersion(s, s"$root/ns/t").contains(1L),
        "q307: CTAS must mint version 1")
      require(TableChecksum.digest(VT.read(s, s"$root/ns/t")) ==
        TableChecksum.digest(base),
        "q307: the CTAS content must equal its source")
      // two CONCURRENT SQL inserts: disjoint deltas, both must land (the
      // loser rebases under its unique append token — never a conflict)
      def ins(mod: Int, shift: Long): Unit = {
        s.sql(s"INSERT INTO $cat.ns.t SELECT ck + $shift, nk " +
          s"FROM q307_src WHERE ck % 2 = $mod")
        ()
      }
      val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
      def guarded(f: => Unit) = new Thread(() =>
        try f catch { case t: Throwable => errs.add(t); () })
      val threads = Seq(
        guarded(ins(0, 4000000000L)),
        guarded(ins(1, 8000000000L)))
      threads.foreach(_.start()); threads.foreach(_.join())
      require(errs.isEmpty,
        s"q307: a concurrent insert failed: ${Option(errs.peek()).map(_.toString)}")
      require(VT.currentVersion(s, s"$root/ns/t").contains(3L),
        "q307: both concurrent inserts must mint a version")
      val typedEquiv = base
        .unionByName(base.filter(col("ck") % 2 === 0)
          .withColumn("ck", col("ck") + 4000000000L))
        .unionByName(base.filter(col("ck") % 2 === 1)
          .withColumn("ck", col("ck") + 8000000000L))
      require(TableChecksum.digest(VT.read(s, s"$root/ns/t")) ==
        TableChecksum.digest(typedEquiv),
        "q307: SQL writers and the typed API must land identical content")
      // AS-OF relations are history — writes refused loudly
      require(Try(s.sql(
        s"INSERT INTO $cat.ns.t2 SELECT * FROM q307_src")).isFailure,
        "q307: inserting into a nonexistent table must fail, not create")
      // the log layout: CTAS + O(delta) SQL append + overwrite
      val lt = s"$root/ns/lt"
      s.sql(s"CREATE TABLE $cat.ns.lt TBLPROPERTIES('layout'='log') " +
        "AS SELECT ck, nk FROM q307_src WHERE nk < 10")
      require(ActionLog.versions(s, lt) == Seq(1L),
        "q307: a log-layout CTAS must mint log version 1")
      s.sql(s"INSERT INTO $cat.ns.lt SELECT ck + 4000000000, nk " +
        "FROM q307_src WHERE nk < 10 AND ck % 2 = 0")
      require(ActionLog.versions(s, lt) == Seq(1L, 2L),
        "q307: a log SQL INSERT must append one O(delta) commit")
      val (adds, removes) = ActionLog.actionsOf(s, lt, 2L)
      require(adds.nonEmpty && removes.isEmpty,
        "q307: the log append must carry ONLY its own add actions")
      // INSERT OVERWRITE on both layouts replaces content
      s.sql(s"INSERT OVERWRITE $cat.ns.lt SELECT ck, nk FROM q307_src " +
        "WHERE nk < 10 AND ck % 3 = 0")
      val wantL = base.filter(col("nk") < 10 && col("ck") % 3 === 0)
      require(TableChecksum.digest(ActionLog.read(s, lt)) ==
        TableChecksum.digest(wantL),
        "q307: the log overwrite must replace the whole live content")
      s.sql(s"INSERT OVERWRITE $cat.ns.t SELECT ck, nk FROM q307_src " +
        "WHERE nk < 10")
      require(VT.currentVersion(s, s"$root/ns/t").contains(4L),
        "q307: the overwrite must mint version 4")
      // the oracle aggregate is computed over the PRE-overwrite content
      // (the concurrent-insert state), read back through time travel SQL
      s.sql(s"SELECT ck, nk FROM $cat.ns.t VERSION AS OF 3")
        .filter(col("nk") < 10)
        .groupBy(col("nk"))
        .agg(count(lit(1)).cast("bigint").as("n"),
          sum(col("ck")).cast("bigint").as("ck_sum"))
    },

    // ---------------------------------------------------------------- q308
    // MULTI-PART CHECKPOINTS + LOG COMPACTION (`ops/ActionLog.scala` —
    // Delta's two public answers to log growth at scale): a checkpoint
    // hash-split across N part files, each individually re-readable and
    // valid only as a COMPLETE set (a writer crashing mid-parts leaves
    // ignorable fragments — pinned with a fabricated orphan part that
    // replay must skip); and compacted-log files folding a version range
    // into its NET actions, so the between-checkpoint replay tail stays
    // bounded however many commits land (pinned: a 13-action tail drops
    // to 3 after compaction, bit-identical content, and time travel
    // INSIDE the compacted range still replays the per-version records).
    // At 100 TB: the checkpoint of a million-file table outgrows one
    // writer — parts restore write parallelism; compaction keeps
    // thousand-commit days replayable in O(net), Delta's exact recipe.
    Q("q308_multipart_checkpoint",
      """WITH o AS (SELECT CAST(o_orderkey AS BIGINT) AS okey,
        |    o_orderpriority AS opri FROM orders)
        |SELECT opri, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(okey) AS BIGINT) AS key_sum
        |FROM o WHERE okey % 20 <= 18 GROUP BY 1""".stripMargin) { (s, dir) =>
      import graft.ops.ActionLog
      val root = scratch(s, dir, "q308")
      val table = s"$root/t"
      val o = Tables.load(s, dir, "orders")
        .select(col("o_orderkey").cast("long").as("okey"),
          col("o_orderpriority").as("opri"))
      def slice(i: Int) = o.filter(col("okey") % 20 === i).coalesce(1)
      (0 to 11).foreach(i => ActionLog.append(slice(i), table)) // v1..v12
      // multi-part checkpoint at v12: three hash-split fragments
      require(ActionLog.checkpoint(s, table, parts = 3) == 12L,
        "q308: the checkpoint must land at the head version")
      val fsys = new org.apache.hadoop.fs.Path(table)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      val partNames = fsys.listStatus(
        new org.apache.hadoop.fs.Path(s"$table/_log")).map(_.getPath.getName)
        .filter(_.matches("_checkpoint-00000012\\.p\\d{2}-of-\\d{2}\\.json"))
        .sorted.toSeq
      require(partNames == Seq("_checkpoint-00000012.p00-of-03.json",
        "_checkpoint-00000012.p01-of-03.json",
        "_checkpoint-00000012.p02-of-03.json"),
        s"q308: expected three complete parts, got $partNames")
      // each part is INDIVIDUALLY re-readable, and the union is the state
      val partFiles = partNames.flatMap { n =>
        val in = fsys.open(new org.apache.hadoop.fs.Path(s"$table/_log/$n"))
        val lines = try scala.io.Source.fromInputStream(in, "UTF-8")
          .getLines().toList finally in.close()
        lines.filter(_.nonEmpty).map { l =>
          require(l.contains("\"a\":\"add\""), s"q308: bad part line $l")
          l.split("\"p\":\"")(1).split("\"")(0)
        }
      }
      require(partFiles.toSet ==
        ActionLog.resolve(s, table, 12L)._1.toSet && partFiles.size == 12,
        "q308: the parts must union to exactly the v12 file set")
      (12 to 16).foreach(i => ActionLog.append(slice(i), table)) // v13..v17
      val five = ActionLog.actionsOf(s, table, 13L)._1 ++
        (14L to 17L).flatMap(v => ActionLog.actionsOf(s, table, v)._1)
      ActionLog.compactFiles(s, table, five, numFiles = 1) // v18: OPTIMIZE
      (17 to 18).foreach(i => ActionLog.append(slice(i), table)) // v19, v20
      val want = o.filter(col("okey") % 20 <= 18)
      def contentOk(tag: String): Unit = {
        val got = ActionLog.read(s, table)
        require(Q.sameMultiset(got, want),
          s"q308 [$tag]: content must be the 19 slices exactly")
      }
      val (_, rawTail, ck0) = ActionLog.resolve(s, table, 20L)
      require(ck0.contains(12L) && rawTail == 13,
        s"q308: pre-compaction tail must replay 13 actions from the " +
          s"multi-part base, got ($ck0, $rawTail)")
      contentOk("pre-compaction")
      // fold v13..v18 into ONE net fragment: 11 actions become 1
      ActionLog.compactLog(s, table, 13L, 18L)
      val (_, netTail, ck1) = ActionLog.resolve(s, table, 20L)
      require(ck1.contains(12L) && netTail == 3,
        s"q308: the compacted tail must replay 3 actions, got $netTail")
      contentOk("post-compaction")
      // time travel INSIDE the compacted range replays per-version records
      val at15 = ActionLog.read(s, table, asOf = 15L)
      val want15 = o.filter(col("okey") % 20 <= 14)
      require(Q.sameMultiset(at15, want15),
        "q308: as-of inside the compacted range must still replay exactly")
      // a crashed multi-part writer's orphan fragment is IGNORED
      val orphan = new org.apache.hadoop.fs.Path(
        s"$table/_log/_checkpoint-00000019.p00-of-02.json")
      val out = fsys.create(orphan, false)
      try out.write("""{"a":"add","p":"bogus.parquet"}"""
        .getBytes("UTF-8")) finally out.close()
      val (_, _, ck2) = ActionLog.resolve(s, table, 20L)
      require(ck2.contains(12L),
        "q308: an incomplete multi-part set must be invisible to replay")
      contentOk("orphan-fragment")
      ActionLog.read(s, table).groupBy(col("opri"))
        .agg(count(lit(1)).cast("bigint").as("n"),
          sum(col("okey")).cast("bigint").as("key_sum"))
    },

    // ---------------------------------------------------------------- q309
    // INCREMENTAL RE-CLUSTERING (`ActionLog.optimizeClustered` — the
    // public liquid-clustering motivation): rewrite ONLY files whose
    // stats-column ranges OVERLAP, carry disjoint files untouched (in the
    // log layout literally — the shared immutable file stays, zero bytes
    // moved), converge to a NO-OP. Pinned: six interleaved appends leave
    // every file spanning the domain (a band probe admits 6/6); one
    // optimize establishes disjoint ranges and pruning collapses; a
    // narrow append then dirties ONE band and the next optimize rewrites
    // exactly that overlap cluster — the untouched files' NAMES survive
    // in the live set — while a CONCURRENT append lands mid-optimize
    // through the commutes-with-appends rule; a further pass folds the
    // concurrent file's band, and the run after that is a no-op with no
    // commit minted. Content digests identical at every step. At 100 TB
    // this is the difference between OPTIMIZE rewriting the world nightly
    // and paying only for the day's dirty bands.
    Q("q309_liquid_optimize",
      """WITH o AS (SELECT CAST(o_orderkey AS BIGINT) AS okey,
        |    o_orderpriority AS opri FROM orders)
        |SELECT opri, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(okey) AS BIGINT) AS key_sum FROM o GROUP BY 1""".stripMargin) { (s, dir) =>
      import graft.ops.{ActionLog, TableChecksum}
      val root = scratch(s, dir, "q309")
      val table = s"$root/t"
      val o = Tables.load(s, dir, "orders")
        .select(col("o_orderkey").cast("long").as("okey"),
          col("o_orderpriority").as("opri"))
      val q = o.stat.approxQuantile("okey",
        Array(0.40, 0.45, 0.70, 0.72, 0.80, 0.82), 0.0).map(_.toLong)
      val (h1lo, h1hi, p1, p2, h2lo, h2hi) = (q(0), q(1), q(2), q(3), q(4), q(5))
      def inHole1 = col("okey") > h1lo && col("okey") <= h1hi
      def inHole2 = col("okey") > h2lo && col("okey") <= h2hi
      val bulk = o.filter(!inHole1 && !inHole2)
      (0 to 5).foreach(i => ActionLog.append(
        bulk.filter(col("okey") % 6 === i).coalesce(1), table, Some("okey")))
      val digest0 = TableChecksum.digest(ActionLog.read(s, table))
      // interleaved layout: min/max skipping is blind, a band admits 6/6
      val (_, kept0, tot0) = ActionLog.readWhere(s, table, "okey", p1, p2)
      require(tot0 == 6 && kept0 == 6,
        s"q309: interleaved files must defeat pruning, got $kept0/$tot0")
      val (v1, rw1, car1) = ActionLog.optimizeClustered(s, table)
      require(v1 == 7L && rw1.size == 6 && car1.isEmpty,
        s"q309: the first pass re-clusters the whole overlap, got " +
          s"($v1, ${rw1.size}, ${car1.size})")
      require(TableChecksum.digest(ActionLog.read(s, table)) == digest0,
        "q309: re-clustering must never change content")
      val (_, kept1, _) = ActionLog.readWhere(s, table, "okey", p1, p2)
      require(kept1 < kept0 && kept1 <= 2,
        s"q309: disjoint ranges must restore band pruning, got $kept1")
      // a narrow append dirties exactly one band…
      ActionLog.append(o.filter(inHole1).coalesce(1), table, Some("okey")) // v8
      val liveBefore = ActionLog.liveFiles(s, table).map(_._1).toSet
      // …and the next optimize rewrites ONLY that overlap cluster, while
      // a concurrent append (the hook fires between staging and claim)
      // lands through the commutes-with-appends rule
      val (v2, rw2, car2) = ActionLog.optimizeClustered(s, table,
        hook = () => { ActionLog.append(o.filter(inHole2).coalesce(1),
          table, Some("okey")); () })
      require(v2 == 10L,
        s"q309: the concurrent append must claim v9 and the optimize v10, got $v2")
      require(rw2.contains("v8-0.parquet") && rw2.size <= 3 &&
        car2.size == 7 - rw2.size,
        s"q309: only the dirty band rewrites, got ${rw2.size} targets")
      val liveAfter = ActionLog.liveFiles(s, table).map(_._1).toSet
      require(car2.forall(liveAfter.contains) &&
        car2.forall(liveBefore.contains),
        "q309: carried files must survive by NAME — zero bytes moved")
      val wantAll = TableChecksum.digest(o)
      require(TableChecksum.digest(ActionLog.read(s, table)) == wantAll,
        "q309: optimize + concurrent append must land the full content")
      // fold the concurrent file's band, then converge
      val (v3, rw3, _) = ActionLog.optimizeClustered(s, table)
      require(v3 == 11L && rw3.nonEmpty && rw3.size < liveAfter.size,
        s"q309: the follow-up pass folds the concurrent band only, got ${rw3.size}")
      val (v4, rw4, car4) = ActionLog.optimizeClustered(s, table)
      require(v4 == -1L && rw4.isEmpty && car4.nonEmpty &&
        ActionLog.versions(s, table).last == 11L,
        "q309: a clustered table must be a NO-OP — no commit minted")
      require(TableChecksum.digest(ActionLog.read(s, table)) == wantAll,
        "q309: converged content must still be exact")
      // the once-held-out band now prunes to its own file(s)
      val (_, keptH, totH) = ActionLog.readWhere(s, table, "okey", h1lo + 1, h1hi)
      require(keptH <= 2 && totH >= 6,
        s"q309: the filled band must prune to its band files, got $keptH/$totH")
      ActionLog.read(s, table).groupBy(col("opri"))
        .agg(count(lit(1)).cast("bigint").as("n"),
          sum(col("okey")).cast("bigint").as("key_sum"))
    },

    // ---------------------------------------------------------------- q310
    // INDEX MAINTENANCE UNDER DML (`BloomIndex.refresh/probeLog/
    // carryIndex` — Delta's rule that the bloom index follows the FILE
    // lifecycle): entries are per immutable file, so DML composes as
    // new-files-build / dead-files-ignore / byte-copied-files-carry, and
    // correctness NEVER waits for a refresh — an unindexed live file is
    // admitted conservatively (same superset contract as stats-less
    // skipping). Pinned on the log layout: six appends index
    // incrementally (6 built), a compaction's folded files rebuild while
    // the untouched five CARRY, and the probe between the compaction and
    // its refresh admits the new file for every key yet stays row-exact.
    // Pinned on the DV lifecycle: a DV delete byte-copies data files, so
    // carryIndex carries EVERY entry with zero data reads; DV compaction
    // rewrites rows, so everything rebuilds and a deleted key's probe
    // finds nothing. At 100 TB: the index costs O(changed files) per
    // commit, never O(table), and a lagging indexer can't corrupt reads.
    Q("q310_index_maintenance",
      """WITH o AS (SELECT CAST(o_orderkey AS BIGINT) AS okey,
        |    o_orderpriority AS opri FROM orders)
        |SELECT opri, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(okey) AS BIGINT) AS key_sum
        |FROM o WHERE okey % 10 <> 3 GROUP BY 1""".stripMargin) { (s, dir) =>
      import graft.ops.{ActionLog, BloomIndex, DeletionVectors, VersionedTable => VT}
      val root = scratch(s, dir, "q310")
      val o = Tables.load(s, dir, "orders")
        .select(col("o_orderkey").cast("long").as("okey"),
          col("o_orderpriority").as("opri"))
      // ---- log layout: incremental refresh + conservative staleness
      val lt = s"$root/t"
      (0 to 5).foreach(i => ActionLog.append(
        o.filter(col("okey") % 6 === i).coalesce(1), lt))
      require(BloomIndex.refresh(s, lt, "okey") == ((6, 0)),
        "q310: the first refresh builds every file's entry")
      require(BloomIndex.refresh(s, lt, "okey") == ((0, 6)),
        "q310: an up-to-date index refreshes as a pure carry")
      val keys = o.filter(col("okey") % 7 === 3).orderBy(col("okey"))
        .limit(4).select("okey").collect().map(_.getLong(0)).toSeq
      def exact(tag: String): Seq[Int] = {
        val (perKey, _, total) = BloomIndex.probeLog(s, lt, "okey",
          keys.map(lit(_)))
        val admitted = perKey.flatten.distinct
        val probed = s.read.parquet(admitted.map(f => s"$lt/data/$f"): _*)
          .filter(col("okey").isin(keys: _*))
        val direct = ActionLog.read(s, lt).filter(col("okey").isin(keys: _*))
        require(Q.sameMultiset(probed, direct),
          s"q310 [$tag]: pruned probe must equal the direct lookup")
        require(total == ActionLog.liveFiles(s, lt).size, s"q310 [$tag]")
        perKey.map(_.size)
      }
      val fresh = exact("fresh")
      // fold two files; the probe BEFORE refresh admits the new file for
      // every key (no entry -> conservative) and stays row-exact
      val firstTwo = ActionLog.liveFiles(s, lt).map(_._1).take(2)
      ActionLog.compactFiles(s, lt, firstTwo, numFiles = 1)
      val folded = ActionLog.liveFiles(s, lt).map(_._1)
        .filterNot(firstTwo.contains).filter(_.startsWith("c"))
      require(folded.size == 1, s"q310: one folded file, got $folded")
      val (perKeyStale, indexedStale, totalStale) =
        BloomIndex.probeLog(s, lt, "okey", keys.map(lit(_)))
      require(totalStale == 5 && indexedStale == 4 &&
        perKeyStale.forall(_.contains(folded.head)),
        "q310: a stale probe must admit the unindexed file for EVERY key")
      exact("stale-conservative")
      require(BloomIndex.refresh(s, lt, "okey") == ((1, 4)),
        "q310: the refresh rebuilds ONLY the folded file's entry")
      val tuned = exact("post-refresh")
      require(tuned.sum <= fresh.sum + 1,
        s"q310: refreshed pruning must be restored, got $tuned vs $fresh")
      // ---- DV lifecycle on the snapshot layout
      val vt = s"$root/v"
      VT.write(o.repartition(4), vt) // v1
      BloomIndex.writeIndex(s, VT.verDir(vt, 1L).toString, "okey")
      val (_, nDel) = DeletionVectors.delete(s, vt, col("okey") % 10 === 3)
      require(nDel > 0, "q310: the DV delete must hit rows")
      // byte-copied files: every entry carries, zero rebuilt
      require(BloomIndex.carryIndex(s, VT.verDir(vt, 1L).toString,
        VT.verDir(vt, 2L).toString, "okey") == ((4, 0)),
        "q310: a DV delete must carry the whole index — zero data reads")
      val delKey = o.filter(col("okey") % 10 === 3).orderBy(col("okey"))
        .limit(1).head.getLong(0)
      // the index is FILE-accurate: the deleted key still probes to its
      // file (the row exists on disk; the DV masks it at read)
      val (admDel, _) = BloomIndex.selectFiles(s,
        VT.verDir(vt, 2L).toString, lit(delKey))
      require(admDel.nonEmpty,
        "q310: post-DV the carried index still names the row's file")
      require(DeletionVectors.read(s, vt)
        .filter(col("okey") === delKey).count() == 0,
        "q310: the DV read masks the deleted row")
      // DV compaction rewrites rows -> everything rebuilds; the deleted
      // key's probe then finds NOTHING even through admitted files
      DeletionVectors.compact(s, vt, numFiles = 3) // v3
      val (car3, reb3) = BloomIndex.carryIndex(s, VT.verDir(vt, 2L).toString,
        VT.verDir(vt, 3L).toString, "okey")
      require(car3 == 0 && reb3 == 3,
        s"q310: a true rewrite must rebuild everything, got ($car3, $reb3)")
      val (admGone, _) = BloomIndex.selectFiles(s,
        VT.verDir(vt, 3L).toString, lit(delKey))
      val residual =
        if (admGone.isEmpty) 0L
        else s.read.parquet(admGone: _*).filter(col("okey") === delKey).count()
      require(residual == 0L,
        "q310: the compacted table must not resurrect the deleted key")
      VT.read(s, vt).groupBy(col("opri"))
        .agg(count(lit(1)).cast("bigint").as("n"),
          sum(col("okey")).cast("bigint").as("key_sum"))
    },

    // ---------------------------------------------------------------- q312
    // SQL DELETE / TRUNCATE THROUGH THE CATALOG (`GraftDelete` — DSv2
    // SupportsDelete routed into the deletion-vector commit): DELETE
    // masks rows by bitmap with data files byte-copied (O(deleted), the
    // typed path q224 pinned), deletes COMPOSE (a second DELETE on the
    // DV flavor merges bitmaps), history stays addressable (VERSION AS
    // OF before the delete renders the full content), TRUNCATE TABLE is
    // the always-true delete via TruncatableTable, and an UNTRANSLATABLE
    // predicate (an expression, not a column comparison) is refused
    // LOUDLY before any mutation — a partial translation would delete
    // the wrong rows. This completes the SQL write surface: INSERT /
    // OVERWRITE / CTAS (q307), DELETE / TRUNCATE (here) — GDPR erasure
    // from plain SQL with time travel intact until retention drops it.
    Q("q312_sql_delete",
      """WITH o AS (SELECT CAST(o_orderkey AS BIGINT) AS okey,
        |    o_orderpriority AS opri FROM orders)
        |SELECT opri, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(okey) AS BIGINT) AS key_sum
        |FROM o WHERE opri NOT IN ('1-URGENT', '2-HIGH')
        |  AND okey % 1000 <> 777 GROUP BY 1""".stripMargin) { (s, dir) =>
      import graft.ops.{VersionedTable => VT}
      import scala.util.Try
      val root = scratch(s, dir, "q312")
      val tdir = s"$root/ns/t"
      val o = Tables.load(s, dir, "orders")
        .select(col("o_orderkey").cast("long").as("okey"),
          col("o_orderpriority").as("opri"))
      VT.write(o.repartition(4), tdir) // v1
      val cat = "graftz_" + java.security.MessageDigest.getInstance("MD5")
        .digest(dir.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(6)
      s.conf.set(s"spark.sql.catalog.$cat",
        classOf[graft.source.GraftCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.root", root)
      s.conf.set(s"spark.sql.catalog.$cat.features", "deletion-vectors")
      s.sql(s"DELETE FROM $cat.ns.t WHERE opri = '1-URGENT'") // v2: DV
      val fsys = new org.apache.hadoop.fs.Path(tdir)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      require(VT.currentVersion(s, tdir).contains(2L) &&
        fsys.exists(new org.apache.hadoop.fs.Path(
          VT.verDir(tdir, 2L), "_dv")),
        "q312: SQL DELETE must commit a deletion-vector version")
      // deletes COMPOSE: the second lands on the DV flavor
      s.sql(s"DELETE FROM $cat.ns.t WHERE opri = '2-HIGH'") // v3
      // an EXPRESSION predicate has no source-filter form: it falls
      // through to the row-level copy-on-write plan, which rewrites the
      // survivors into clean files and FOLDS the deletion vectors
      s.sql(s"DELETE FROM $cat.ns.t WHERE okey % 1000 = 777") // v4: rewrite
      require(VT.currentVersion(s, tdir).contains(4L) &&
        !fsys.exists(new org.apache.hadoop.fs.Path(
          VT.verDir(tdir, 4L), "_dv")),
        "q312: the expression DELETE must rewrite and fold the vectors")
      val live = s.sql(s"SELECT okey, opri FROM $cat.ns.t")
      val want = o.filter(!col("opri").isin("1-URGENT", "2-HIGH") &&
        col("okey") % 1000 =!= 777)
      require(Q.sameMultiset(live, want),
        "q312: three SQL DELETEs must compose to the exact survivor set")
      // history intact: the pre-delete snapshot renders in full
      require(s.sql(s"SELECT okey FROM $cat.ns.t VERSION AS OF 1")
        .count() == o.count(),
        "q312: VERSION AS OF 1 must render the undeleted content")
      val result = live.groupBy(col("opri"))
        .agg(count(lit(1)).cast("bigint").as("n"),
          sum(col("okey")).cast("bigint").as("key_sum"))
        .localCheckpoint() // pin BEFORE the truncate mutates the table
      // TRUNCATE = the always-true delete; history still addressable
      s.sql(s"TRUNCATE TABLE $cat.ns.t") // v5
      require(s.sql(s"SELECT count(*) FROM $cat.ns.t").head.getLong(0) == 0L,
        "q312: TRUNCATE must empty the live table")
      require(s.sql(s"SELECT count(*) FROM $cat.ns.t VERSION AS OF 4")
        .head.getLong(0) == want.count(),
        "q312: the pre-truncate version must survive the truncate")
      result
    },

    // ---------------------------------------------------------------- q313
    // SQL UPDATE + MERGE INTO (`GraftRowLevelOperation` +
    // `GroupBatchWrite` — Spark's group-based copy-on-write row-level
    // plan): the operation hands Spark the current snapshot's scan,
    // Spark computes the replacement content, and executors stream it
    // STRAIGHT into OCC staging via the parquet Group writer (no driver
    // materialization, no V1 fallback — ReplaceData has none), committed
    // against the scanned base version. Pinned: UPDATE mints a version
    // and time travel keeps the pre-update content; MERGE INTO runs the
    // full matched-update + not-matched-insert upsert; an UPDATE on a
    // DV-flavored table uses the DV-AWARE scan, so deleted rows do NOT
    // resurrect into the replacement and the new version carries no
    // sidecar (the rewrite folds the vectors). With q307 (INSERT/CTAS)
    // and q312 (DELETE/TRUNCATE) this completes the SQL DML matrix.
    Q("q313_sql_update_merge",
      """WITH c AS (SELECT CAST(c_custkey AS BIGINT) AS ck,
        |    CAST(c_nationkey AS BIGINT) AS nk,
        |    CAST(c_custkey % 1000 AS DOUBLE) AS bal FROM customer),
        |u1 AS (SELECT ck, nk,
        |    CASE WHEN nk < 5 THEN bal + 10 ELSE bal END AS bal FROM c),
        |m AS (SELECT ck, nk,
        |    CASE WHEN ck % 3 = 0 THEN CAST(-1 AS DOUBLE) ELSE bal END AS bal
        |  FROM u1
        |  UNION ALL SELECT ck + 4000000000, nk, CAST(5 AS DOUBLE)
        |  FROM c WHERE ck % 3 = 0),
        |d AS (SELECT * FROM m WHERE nk <> 9),
        |f AS (SELECT ck, nk,
        |    CASE WHEN nk = 3 THEN CAST(0 AS DOUBLE) ELSE bal END AS bal FROM d)
        |SELECT nk, CAST(count(*) AS BIGINT) AS n,
        |  round(CAST(sum(bal) AS DOUBLE), 2) AS bal_sum
        |FROM f GROUP BY 1""".stripMargin) { (s, dir) =>
      import graft.ops.{VersionedTable => VT}
      val root = scratch(s, dir, "q313")
      val tdir = s"$root/ns/t"
      val c = Tables.load(s, dir, "customer")
        .select(col("c_custkey").cast("long").as("ck"),
          col("c_nationkey").cast("long").as("nk"),
          (col("c_custkey") % 1000).cast("double").as("bal"))
      // KEY-LOCAL base layout (round-14 hardening): range-partition the
      // base on the UPDATE/MERGE key so every file carries disjoint nk
      // ranges with tight stats. A COW scan that forwarded the
      // statement's WHERE into row-group pruning would then DROP the
      // non-matching files' rows from the replacement snapshot — this
      // fixture makes that bug class change the oracle hash instead of
      // hiding behind mixed-key files (the round-13 escape).
      VT.write(c.repartitionByRange(8, col("nk")), tdir) // v1
      val cat = "grafty_" + java.security.MessageDigest.getInstance("MD5")
        .digest(dir.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(6)
      s.conf.set(s"spark.sql.catalog.$cat",
        classOf[graft.source.GraftCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.root", root)
      s.conf.set(s"spark.sql.catalog.$cat.features", "deletion-vectors")
      def content = s.sql(s"SELECT ck, nk, bal FROM $cat.ns.t")
      def expectEq(wantDf: org.apache.spark.sql.DataFrame, tag: String): Unit =
        require(Q.sameMultiset(content, wantDf), s"q313 [$tag]: content mismatch")
      // UPDATE: copy-on-write replacement through OCC staging
      s.sql(s"UPDATE $cat.ns.t SET bal = bal + 10 WHERE nk < 5") // v2
      val u1 = c.withColumn("bal",
        when(col("nk") < 5, col("bal") + 10).otherwise(col("bal")))
      require(VT.currentVersion(s, tdir).contains(2L),
        "q313: UPDATE must mint a version through the commit protocol")
      expectEq(u1, "update")
      require(s.sql(s"SELECT ck, nk, bal FROM $cat.ns.t VERSION AS OF 1")
        .exceptAll(c).isEmpty,
        "q313: the pre-update snapshot must survive")
      // MERGE INTO: matched rows update, unmatched rows insert
      val matched = c.filter(col("ck") % 3 === 0)
      matched.select(col("ck"), col("nk"), lit(-1.0d).as("bal"))
        .unionByName(matched.select((col("ck") + 4000000000L).as("ck"),
          col("nk"), lit(5.0d).as("bal")))
        .createOrReplaceTempView("q313_src")
      s.sql(s"""MERGE INTO $cat.ns.t t USING q313_src s ON t.ck = s.ck
        |WHEN MATCHED THEN UPDATE SET bal = s.bal
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin) // v3
      val merged = u1.withColumn("bal",
        when(col("ck") % 3 === 0, lit(-1.0d)).otherwise(col("bal")))
        .unionByName(matched.select((col("ck") + 4000000000L).as("ck"),
          col("nk"), lit(5.0d).as("bal")))
      require(VT.currentVersion(s, tdir).contains(3L), "q313: MERGE mints v3")
      expectEq(merged, "merge")
      // a DV DELETE then an UPDATE: the row-level scan is DV-aware, so
      // deleted rows must NOT resurrect, and the rewrite folds the DVs
      s.sql(s"DELETE FROM $cat.ns.t WHERE nk = 9") // v4: DV flavor
      val fsys = new org.apache.hadoop.fs.Path(tdir)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      require(fsys.exists(new org.apache.hadoop.fs.Path(
        VT.verDir(tdir, 4L), "_dv")), "q313: the DELETE must be a DV commit")
      s.sql(s"UPDATE $cat.ns.t SET bal = 0 WHERE nk = 3") // v5: rewrite
      require(!fsys.exists(new org.apache.hadoop.fs.Path(
        VT.verDir(tdir, 5L), "_dv")),
        "q313: the copy-on-write UPDATE must fold the deletion vectors")
      val fin = merged.filter(col("nk") =!= 9).withColumn("bal",
        when(col("nk") === 3, lit(0.0d)).otherwise(col("bal")))
      expectEq(fin, "dv-update")
      require(content.filter(col("nk") === 9).count() == 0L,
        "q313: deleted rows must not resurrect through the rewrite")
      content.groupBy(col("nk"))
        .agg(count(lit(1)).cast("bigint").as("n"),
          round(sum(col("bal")).cast("double"), 2).as("bal_sum"))
    },

    // ---------------------------------------------------------------- q314
    // SQL WRITE-AUDIT-PUBLISH ON BRANCHES (`INSERT INTO t@staging` — the
    // Nessie/LakeFS ref syntax q302 reads, now WRITABLE): the SQL insert
    // advances ONLY the named ref (main bit-unchanged — the isolation
    // the WAP pattern exists for), the audit is a plain SQL SELECT on
    // the staging ref, publish is the typed fast-forward merge, and a
    // post-publish SQL insert straight to main also lands through the
    // same path. INSERT OVERWRITE replaces the ref's content; commit-id
    // time travel stays read-only history (a write to `t@v` is refused).
    // At 100 TB this is how ingest lands risky batches: SQL writers on a
    // branch, checks on the branch, one metadata pointer flip to ship.
    Q("q314_sql_branch_wap",
      """WITH c AS (SELECT CAST(c_custkey AS BIGINT) AS ck,
        |    CAST(c_nationkey AS BIGINT) AS nk FROM customer),
        |w AS (SELECT ck, nk FROM c WHERE ck % 3 = 0
        |  UNION ALL SELECT ck, nk FROM c WHERE ck % 3 = 1
        |  UNION ALL SELECT ck + 4000000000, nk FROM c WHERE ck % 3 = 2)
        |SELECT nk, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(ck) AS BIGINT) AS ck_sum
        |FROM w GROUP BY 1""".stripMargin) { (s, dir) =>
      import graft.ops.Branching
      import scala.util.Try
      val root = scratch(s, dir, "q314")
      val tdir = s"$root/ns/t"
      val c = Tables.load(s, dir, "customer")
        .select(col("c_custkey").cast("long").as("ck"),
          col("c_nationkey").cast("long").as("nk"))
      Branching.init(c.filter(col("ck") % 3 === 0), tdir) // main
      Branching.branch(s, tdir, from = "main", name = "staging")
      val cat = "graftbw_" + java.security.MessageDigest.getInstance("MD5")
        .digest(dir.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(6)
      s.conf.set(s"spark.sql.catalog.$cat",
        classOf[graft.source.GraftCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.root", root)
      c.createOrReplaceTempView("q314_src")
      // WRITE: the SQL insert advances ONLY the staging ref
      s.sql(s"INSERT INTO $cat.ns.`t@staging` " +
        "SELECT ck, nk FROM q314_src WHERE ck % 3 = 1")
      val mainCount = s.sql(s"SELECT count(*) FROM $cat.ns.`t@main`")
        .head.getLong(0)
      require(mainCount == c.filter(col("ck") % 3 === 0).count(),
        "q314: the branch write must leave main bit-unchanged")
      // AUDIT: plain SQL on the staging ref sees the landed batch
      val auditCount = s.sql(s"SELECT count(*) FROM $cat.ns.`t@staging`")
        .head.getLong(0)
      require(auditCount == c.filter(col("ck") % 3 < 2).count(),
        "q314: the staging ref must carry base + the SQL batch")
      // PUBLISH: one typed merge, fast-forward (main never moved)
      val outcome = Branching.merge(s, tdir, from = "staging",
        into = "main", keyCols = Seq("ck"))
      require(outcome.isInstanceOf[Branching.FastForward],
        s"q314: publish must be a pointer flip, got $outcome")
      // a post-publish SQL insert straight to main lands the same way
      s.sql(s"INSERT INTO $cat.ns.`t@main` " +
        "SELECT ck + 4000000000, nk FROM q314_src WHERE ck % 3 = 2")
      // commit-id time travel is HISTORY — writes refused loudly
      val h = Branching.head(s, tdir, "main")
      require(Try(s.sql(
        s"INSERT INTO $cat.ns.`t@$h` SELECT ck, nk FROM q314_src"))
        .isFailure,
        "q314: a commit-id target must be read-only history")
      // INSERT OVERWRITE replaces the ref's content only
      s.sql(s"INSERT OVERWRITE $cat.ns.`t@staging` " +
        "SELECT ck, nk FROM q314_src WHERE nk = 0")
      require(s.sql(s"SELECT count(*) FROM $cat.ns.`t@staging`")
        .head.getLong(0) == c.filter(col("nk") === 0).count(),
        "q314: INSERT OVERWRITE must replace the staging ref's content")
      s.sql(s"SELECT ck, nk FROM $cat.ns.`t@main`")
        .groupBy(col("nk"))
        .agg(count(lit(1)).cast("bigint").as("n"),
          sum(col("ck")).cast("bigint").as("ck_sum"))
    },

    // ---------------------------------------------------------------- q315
    // SQL DDL: ALTER TABLE through the catalog — Spark's own grammar
    // routed into the schema-evolution protocols. On a COLUMN-MAPPED
    // table, RENAME / ADD ... DEFAULT / DROP COLUMN are METADATA-ONLY
    // commits (stable ids, zero data bytes — pinned on the version dir's
    // file listing), the renamed column reads through plain SQL
    // immediately, and time travel renders each version under ITS OWN
    // names. On a TYPE-WIDENING table, ALTER COLUMN TYPE commits the
    // manifest and the catalog scan then reads MIXED PHYSICAL EPOCHS
    // (int32 files + int64 files) under the widened schema — the Group
    // reader widens per file, no rewrite; a narrowing is refused. An
    // unenrolled (by-name) table refuses RENAME loudly — renaming it
    // would orphan every file's column. At 100 TB: schema DDL that costs
    // kilobytes, from the same SQL any BI tool speaks.
    Q("q315_sql_alter_table",
      """WITH c AS (SELECT CAST(c_custkey AS BIGINT) AS ck,
        |    CAST(c_nationkey AS BIGINT) AS region_key FROM customer),
        |w AS (SELECT ck, region_key FROM c
        |  UNION ALL SELECT ck + 4000000000, region_key FROM c WHERE ck % 4 = 1)
        |SELECT region_key, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(ck) AS BIGINT) AS ck_sum,
        |  CAST(sum(CASE WHEN src = 'seed' THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_seed
        |FROM (SELECT ck, region_key, 'seed' AS src FROM w) GROUP BY 1""".stripMargin) { (s, dir) =>
      import graft.ops.{ColumnMapping => CM, TypeWidening => TW, VersionedTable => VT}
      import org.apache.spark.sql.types.{IntegerType, LongType}
      import scala.util.Try
      val root = scratch(s, dir, "q315")
      val cust = Tables.load(s, dir, "customer")
        .select(col("c_custkey").cast("long").as("ck"),
          col("c_nationkey").cast("long").as("nk"))
      val cat = "graftdl_" + java.security.MessageDigest.getInstance("MD5")
        .digest(dir.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(6)
      s.conf.set(s"spark.sql.catalog.$cat",
        classOf[graft.source.GraftCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.root", root)
      // ---- column-mapped table: metadata-only RENAME / ADD / DROP ----
      CM.writeData(cust, s"$root/m") // v1
      s.sql(s"ALTER TABLE $cat.m RENAME COLUMN nk TO region_key") // v2
      val fsys = new org.apache.hadoop.fs.Path(root)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      val v2Data = graft.source.GraftMeta.dataFiles(fsys, VT.verDir(s"$root/m", 2L))
      require(v2Data.isEmpty,
        s"q315: the RENAME must be metadata-only, found ${v2Data.map(_.getPath.getName)}")
      require(s.sql(s"SELECT region_key FROM $cat.m").count() == cust.count(),
        "q315: the renamed column must read through plain SQL")
      // ADD COLUMN ... DEFAULT: metadata-only; the typed read renders the
      // default for every pre-existing row
      s.sql(s"ALTER TABLE $cat.m ADD COLUMN src STRING DEFAULT 'seed'") // v3
      require(CM.read(s, s"$root/m").filter(col("src") === "seed")
        .count() == cust.count(),
        "q315: every existing row must read the declared default")
      // a data commit materializes it; then SQL sees it too
      CM.writeData(CM.read(s, s"$root/m")
        .unionByName(cust.filter(col("ck") % 4 === 1)
          .select((col("ck") + 4000000000L).as("ck"),
            col("nk").as("region_key"), lit("seed").as("src"))),
        s"$root/m") // v4
      require(s.sql(s"SELECT src FROM $cat.m WHERE src = 'seed'").count() ==
        s.sql(s"SELECT * FROM $cat.m").count(),
        "q315: the materialized default must read through SQL")
      // DROP COLUMN: metadata-only; time travel renders old names
      s.sql(s"ALTER TABLE $cat.m DROP COLUMN src") // v5
      require(!s.sql(s"SELECT * FROM $cat.m").columns.contains("src"),
        "q315: the dropped column must vanish from the live schema")
      require(s.sql(s"SELECT * FROM $cat.m VERSION AS OF 1")
        .columns.toSeq == Seq("ck", "nk"),
        "q315: v1 must still render under its own (pre-rename) names")
      // an unenrolled by-name table refuses the rename LOUDLY
      VT.write(cust, s"$root/plain")
      require(Try(s.sql(
        s"ALTER TABLE $cat.plain RENAME COLUMN nk TO x")).isFailure,
        "q315: renaming a by-name table must be refused")
      // ---- type-widening table: ALTER COLUMN TYPE over mixed epochs ----
      val ints = cust.select(col("ck").cast("int").as("k"),
        col("nk").as("g"))
      TW.init(ints, s"$root/w") // v1: int32 epoch
      require(Try(s.sql(
        s"ALTER TABLE $cat.w ALTER COLUMN g TYPE INT")).isFailure,
        "q315: a narrowing must be refused loudly") // g is long; int narrows
      s.sql(s"ALTER TABLE $cat.w ALTER COLUMN k TYPE BIGINT") // v2
      require(s.sql(s"SELECT k FROM $cat.w").schema("k").dataType == LongType,
        "q315: the widened type must render through SQL")
      TW.append(cust.filter(col("ck") % 4 === 1)
        .select((col("ck") + 4000000000L).as("k"), col("nk").as("g")),
        s"$root/w") // v3: int64 epoch — beyond-int32 keys
      require(TW.epochSchema(s, s"$root/w", 1L)("k").dataType == IntegerType,
        "q315: the epochs must genuinely mix physical types")
      val viaSql = s.sql(s"SELECT k, g FROM $cat.w")
      val wantW = cust.select(col("ck").as("k"), col("nk").as("g"))
        .unionByName(cust.filter(col("ck") % 4 === 1)
          .select((col("ck") + 4000000000L).as("k"), col("nk").as("g")))
      require(Q.sameMultiset(viaSql, wantW),
        "q315: SQL must read both physical epochs under the widened schema")
      // the result: the mapped table's final content (src dropped by DDL,
      // re-rendered for the oracle from the surviving columns)
      s.sql(s"SELECT ck, region_key FROM $cat.m")
        .withColumn("src", lit("seed"))
        .groupBy(col("region_key"))
        .agg(count(lit(1)).cast("bigint").as("n"),
          sum(col("ck")).cast("bigint").as("ck_sum"),
          sum(when(col("src") === "seed", 1L).otherwise(0L))
            .cast("bigint").as("n_seed"))
    },

    // ---------------------------------------------------------------- q316
    // SQL METADATA TABLES (Iceberg's public `t$history` / `t$files`
    // design on the catalog): the table's own bookkeeping addressable
    // from plain SELECT, served as a DSv2 LocalScan — O(versions|files)
    // driver-side rows the log layer already materializes, ZERO data
    // files touched (Spark folds the scan into a LocalTableScan). The
    // ORACLE RECOMPUTES the whole surface from the slice definitions in
    // DuckDB: per-version add/remove action counts, the txn flag, the
    // CUMULATIVE row count after every commit, and the live per-file
    // stats (lo/hi/rows) after a compaction folded two files — the
    // driver's hash compare grades the metadata plane itself. At 100 TB
    // this is the operator's dashboard: DESCRIBE-HISTORY-class answers
    // from the log alone.
    Q("q316_sql_metadata_tables",
      """WITH o AS (SELECT CAST(o_orderkey AS BIGINT) AS okey FROM orders),
        |sl AS (SELECT okey, okey % 4 AS s FROM o),
        |cnt AS (SELECT s, count(*) AS n, min(okey) AS lo, max(okey) AS hi
        |  FROM sl GROUP BY s),
        |hist AS (
        |  SELECT CAST(s + 1 AS BIGINT) AS version, CAST(1 AS BIGINT) AS n_adds,
        |    CAST(0 AS BIGINT) AS n_removes,
        |    CAST((SELECT sum(n) FROM cnt c2 WHERE c2.s <= cnt.s) AS BIGINT)
        |      AS cum_rows
        |  FROM cnt
        |  UNION ALL
        |  SELECT 5, 1, 2, CAST((SELECT sum(n) FROM cnt) AS BIGINT)),
        |files AS (
        |  SELECT lo, hi, n FROM cnt WHERE s >= 2
        |  UNION ALL
        |  SELECT min(lo), max(hi), sum(n) FROM cnt WHERE s <= 1)
        |SELECT 'h' AS kind, version, n_adds, n_removes, cum_rows,
        |  CAST(NULL AS BIGINT) AS lo, CAST(NULL AS BIGINT) AS hi FROM hist
        |UNION ALL
        |SELECT 'f', CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
        |  CAST(NULL AS BIGINT), CAST(n AS BIGINT), CAST(lo AS BIGINT),
        |  CAST(hi AS BIGINT) FROM files""".stripMargin) { (s, dir) =>
      import graft.ops.ActionLog
      val root = scratch(s, dir, "q316")
      val t = s"$root/t"
      val o = Tables.load(s, dir, "orders")
        .select(col("o_orderkey").cast("long").as("okey"))
      (0 to 3).foreach(i => ActionLog.append(
        o.filter(col("okey") % 4 === i).coalesce(1), t, Some("okey")))
      val firstTwo = ActionLog.liveFiles(s, t).map(_._1).take(2)
      ActionLog.compactFiles(s, t, firstTwo, numFiles = 1,
        statsCol = Some("okey")) // v5
      val cat = "graftmt_" + java.security.MessageDigest.getInstance("MD5")
        .digest(dir.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(6)
      s.conf.set(s"spark.sql.catalog.$cat",
        classOf[graft.source.GraftCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.root", root)
      val hist = s.sql(s"SELECT version, n_adds, n_removes, cum_rows " +
        s"FROM $cat.`t$$history`")
      require(hist.count() == 5L, "q316: five commits, five history rows")
      require(s.sql(s"SELECT * FROM $cat.`t$$history` WHERE has_txn")
        .count() == 0L, "q316: no txn marks were written")
      // the scan must be LOCAL — zero input partitions, zero data reads
      val planText = hist.queryExecution.executedPlan.toString
      require(planText.contains("LocalTableScan") ||
        planText.contains("GraftLocalScan"),
        s"q316: the metadata table must fold to a local scan:\n$planText")
      val files = s.sql(s"SELECT n_rows, lo, hi FROM $cat.`t$$files`")
      require(files.count() == 3L,
        "q316: two folded + one compacted = three live files")
      hist.select(lit("h").as("kind"), col("version"), col("n_adds"),
        col("n_removes"), col("cum_rows"),
        lit(null).cast("bigint").as("lo"), lit(null).cast("bigint").as("hi"))
        .unionByName(files.select(lit("f").as("kind"),
          lit(null).cast("bigint").as("version"),
          lit(null).cast("bigint").as("n_adds"),
          lit(null).cast("bigint").as("n_removes"),
          col("n_rows").as("cum_rows"), col("lo"), col("hi")))
    },

    // ---------------------------------------------------------------- q317
    // ROW-LEVEL SQL ON THE LOG LAYOUT (`ActionLog.rewriteStaged` behind
    // the q313 machinery): UPDATE / MERGE INTO / expression DELETE on an
    // action-log table commit as ONE remove+add log record — the
    // replacement streams from the executors into staging and moves into
    // `data/` with a single claim at base+1 (loud-stale if the head
    // moved), so the whole DML matrix now covers BOTH table layouts.
    // Since round 12 the remove set is GROUP-GRANULAR (q318): here every
    // statement's predicate touches all three files, so the full-rewrite
    // pins below still hold.
    // Pinned: the UPDATE's record removes exactly the three live files;
    // time travel renders the pre-update content; the recorded stats
    // column is re-recorded on the replacement files so log-carried
    // pruning keeps working after row-level SQL; MERGE upserts; the
    // expression DELETE lands as another single record.
    Q("q317_sql_log_row_level",
      """WITH o AS (SELECT CAST(o_orderkey AS BIGINT) AS okey,
        |    o_orderpriority AS opri FROM orders WHERE o_orderkey % 4 < 3),
        |u AS (SELECT okey,
        |    CASE WHEN okey % 7 = 0 THEN 'X' ELSE opri END AS opri FROM o),
        |m AS (SELECT okey,
        |    CASE WHEN okey % 11 = 0 THEN 'M' ELSE opri END AS opri FROM u
        |  UNION ALL SELECT okey + 4000000000, 'N' FROM o WHERE okey % 13 = 0),
        |f AS (SELECT * FROM m WHERE okey % 9 <> 5)
        |SELECT opri, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(okey) AS BIGINT) AS key_sum
        |FROM f GROUP BY 1""".stripMargin) { (s, dir) =>
      import graft.ops.ActionLog
      val root = scratch(s, dir, "q317")
      val lt = s"$root/t"
      val o = Tables.load(s, dir, "orders")
        .select(col("o_orderkey").cast("long").as("okey"),
          col("o_orderpriority").as("opri"))
        .filter(col("okey") % 4 < 3)
      (0 to 2).foreach(i => ActionLog.append(
        o.filter(col("okey") % 4 === i).coalesce(1), lt, Some("okey")))
      val cat = "graftlr_" + java.security.MessageDigest.getInstance("MD5")
        .digest(dir.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(6)
      s.conf.set(s"spark.sql.catalog.$cat",
        classOf[graft.source.GraftCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.root", root)
      def content = s.sql(s"SELECT okey, opri FROM $cat.t")
      def expectEq(w: org.apache.spark.sql.DataFrame, tag: String): Unit =
        require(Q.sameMultiset(content, w),
          s"q317 [$tag]: content mismatch")
      s.sql(s"UPDATE $cat.t SET opri = 'X' WHERE okey % 7 = 0") // v4
      require(ActionLog.versions(s, lt) == (1L to 4L).toSeq,
        "q317: the UPDATE must be ONE log commit")
      val (_, removed) = ActionLog.actionsOf(s, lt, 4L)
      require(removed.size == 3,
        s"q317: the rewrite must remove exactly the three live files, " +
          s"got ${removed.size}")
      val u = o.withColumn("opri",
        when(col("okey") % 7 === 0, "X").otherwise(col("opri")))
      expectEq(u, "update")
      val pre = ActionLog.read(s, lt, asOf = 3L)
      require(Q.sameMultiset(pre, o),
        "q317: time travel must render the pre-update content")
      // stats are RE-RECORDED on the replacement files (the skipping
      // index never goes stale), and the standard re-clustering pass
      // restores range pruning the rewrite's hash layout defeated
      require(ActionLog.liveFiles(s, lt).forall(_._2.isDefined),
        "q317: every replacement file must carry re-recorded stats")
      ActionLog.optimizeClustered(s, lt)
      val band = o.stat.approxQuantile("okey", Array(0.4, 0.42), 0.0)
      val (_, kept, total) = ActionLog.readWhere(s, lt, "okey",
        band(0).toLong + 1, band(1).toLong)
      require(kept < total || total == 1,
        s"q317: re-clustering must restore pruning after row-level SQL " +
          s"($kept/$total)")
      // MERGE upserts through the same single-record path
      val matched = o.filter(col("okey") % 11 === 0)
        .select(col("okey"), lit("M").as("opri"))
      val inserted = o.filter(col("okey") % 13 === 0)
        .select((col("okey") + 4000000000L).as("okey"), lit("N").as("opri"))
      matched.unionByName(inserted).createOrReplaceTempView("q317_src")
      s.sql(s"""MERGE INTO $cat.t t USING q317_src s ON t.okey = s.okey
        |WHEN MATCHED THEN UPDATE SET opri = s.opri
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin) // v6 (v5 = optimize)
      val m = u.withColumn("opri",
        when(col("okey") % 11 === 0, "M").otherwise(col("opri")))
        .unionByName(inserted)
      expectEq(m, "merge")
      // an expression DELETE: one more single-record rewrite
      s.sql(s"DELETE FROM $cat.t WHERE okey % 9 = 5") // v7
      require(ActionLog.versions(s, lt).last == 7L,
        "q317: one commit per statement (plus the optimize pass)")
      expectEq(m.filter(col("okey") % 9 =!= 5), "delete")
      content.groupBy(col("opri"))
        .agg(count(lit(1)).cast("bigint").as("n"),
          sum(col("okey")).cast("bigint").as("key_sum"))
    },

    // ---------------------------------------------------------------- q318
    // GROUP-GRANULAR COPY-ON-WRITE for row-level SQL on the log layout
    // (Delta/Iceberg's COW shape): the operation declares `_file` as a
    // required metadata attribute, Spark's
    // RowLevelOperationRuntimeGroupFiltering runs a subquery for the
    // groups holding matching rows and pushes IN(_file) into the scan,
    // and the commit removes ONLY those groups — every untouched file
    // stays live BY REFERENCE, zero bytes moved. Pinned in-query: an
    // UPDATE matching one of eight single-bucket files removes exactly
    // one file and re-adds one; the seven others survive with their
    // physical names; same for the DELETE. At 100 TB this is the
    // difference between rewriting a million files for a one-key UPDATE
    // and rewriting one.
    Q("q318_group_cow",
      """WITH o AS (SELECT CAST(o_orderkey AS BIGINT) AS okey,
        |    o_orderpriority AS opri FROM orders),
        |u AS (SELECT okey,
        |    CASE WHEN okey % 8 = 3 THEN 'X' ELSE opri END AS opri FROM o),
        |f AS (SELECT * FROM u WHERE okey % 8 <> 5)
        |SELECT opri, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(okey) AS BIGINT) AS key_sum
        |FROM f GROUP BY 1""".stripMargin) { (s, dir) =>
      import graft.ops.ActionLog
      val root = scratch(s, dir, "q318")
      val lt = s"$root/t"
      val o = Tables.load(s, dir, "orders")
        .select(col("o_orderkey").cast("long").as("okey"),
          col("o_orderpriority").as("opri"))
      // eight disjoint single-file groups (one per okey residue class)
      (0 to 7).foreach(b => ActionLog.append(
        o.filter(col("okey") % 8 === b).coalesce(1), lt, Some("okey")))
      val before = ActionLog.liveFiles(s, lt).map(_._1).toSet
      require(before.size == 8, s"q318: want 8 groups, have ${before.size}")
      val cat = "graftcow_" + java.security.MessageDigest.getInstance("MD5")
        .digest(dir.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(6)
      s.conf.set(s"spark.sql.catalog.$cat",
        classOf[graft.source.GraftCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.root", root)
      def liveNow = ActionLog.liveFiles(s, lt).map(_._1).toSet
      // UPDATE matches rows in exactly ONE group
      s.sql(s"UPDATE $cat.t SET opri = 'X' WHERE okey % 8 = 3") // v9
      val (addU, remU) = ActionLog.actionsOf(s, lt, 9L)
      require(remU.size == 1 && before(remU.head),
        s"q318: the UPDATE must remove exactly the matched group, " +
          s"removed=${remU.size}")
      require((before - remU.head).subsetOf(liveNow),
        "q318: the seven unmatched groups must stay live by reference")
      require(addU.forall(!before.contains(_)), "q318: adds are new files")
      // DELETE empties exactly ONE group
      s.sql(s"DELETE FROM $cat.t WHERE okey % 8 = 5") // v10
      val (_, remD) = ActionLog.actionsOf(s, lt, 10L)
      require(remD.size == 1 && before(remD.head),
        s"q318: the DELETE must remove exactly the matched group, " +
          s"removed=${remD.size}")
      s.sql(s"SELECT okey, opri FROM $cat.t")
        .groupBy(col("opri"))
        .agg(count(lit(1)).cast("bigint").as("n"),
          sum(col("okey")).cast("bigint").as("key_sum"))
    },

    // ---------------------------------------------------------------- q320
    // THE PARQUET-CHECKPOINT PLANE, END TO END (rounds 10-12's arc as one
    // catalog contract): ordinary OCC commits auto-checkpoint every 10th
    // version (spark.graft.parquetCheckpointInterval — Delta's
    // checkpointInterval), so a long-lived table enters the DISTRIBUTED
    // metadata plane with no operator action; log compaction coexists
    // with the plane (fragments are hidden files, read driver-side and
    // parallelized — the round-11 silent-empty-read class); vacuum writes
    // its horizon checkpoint AS PARQUET and expired time travel fails
    // LOUDLY on the contiguity contract while retained time travel still
    // renders history; and the distributed resolution (resolveDf) agrees
    // with the driver replay exactly. At a million files the driver
    // replay is the scale killer — this query pins that the plane is the
    // path real tables actually land on.
    Q("q320_parquet_plane",
      """WITH o AS (SELECT CAST(o_orderkey AS BIGINT) AS okey,
        |    o_orderpriority AS opri FROM orders)
        |SELECT opri, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(okey) AS BIGINT) AS key_sum
        |FROM o GROUP BY 1""".stripMargin) { (s, dir) =>
      import graft.ops.ActionLog
      val root = scratch(s, dir, "q320")
      val lt = s"$root/t"
      val o = Tables.load(s, dir, "orders")
        .select(col("o_orderkey").cast("long").as("okey"),
          col("o_orderpriority").as("opri"))
      val prevInterval = s.conf.getOption(ActionLog.AutoCheckpointConf)
      s.conf.set(ActionLog.AutoCheckpointConf, "10")
      try {
        (0 until 12).foreach(i => ActionLog.appendOcc(
          o.filter(col("okey") % 12 === i).coalesce(1), lt, Some("okey")))
        val fs = new org.apache.hadoop.fs.Path(lt).getFileSystem(
          s.sparkContext.hadoopConfiguration)
        require(fs.exists(new org.apache.hadoop.fs.Path(
          s"$lt/_log/00000010.checkpoint.parquet/_SUCCESS")),
          "q320: the 10th ordinary commit must land a complete parquet " +
            "checkpoint — the plane is entered by writing, not by operator")
        // compaction coexists: fragments are hidden files, and the
        // DISTRIBUTED resolution must still equal the driver replay
        ActionLog.compactLog(s, lt, 1L, 4L)
        val viaDf = ActionLog.resolveDf(s, lt)
          .select("p").collect().map(_.getString(0)).toSet
        val viaDriver = ActionLog.resolve(s, lt, 12L)._1.toSet
        require(viaDf == viaDriver && viaDf.size == 12,
          s"q320: distributed and driver replay must agree " +
            s"(${viaDf.size} vs ${viaDriver.size})")
        // vacuum: horizon checkpoint lands as parquet; the plane's replay
        // seeds from it and time travel works exactly to the horizon
        ActionLog.vacuum(s, lt, keepVersions = 6, graceMs = 0L)
        require(fs.exists(new org.apache.hadoop.fs.Path(
          s"$lt/_log/00000007.checkpoint.parquet/_SUCCESS")),
          "q320: vacuum on a plane table must write its horizon " +
            "checkpoint as parquet")
        val at8 = ActionLog.read(s, lt, asOf = 8L)
        val want8 = o.filter(col("okey") % 12 < 8)
        require(Q.sameMultiset(at8, want8),
          "q320: retained time travel must render the horizon-era content")
        val expired =
          try { ActionLog.stateDfAt(s, lt, 3L).collect(); false }
          catch { case e: IllegalArgumentException =>
            e.getMessage.contains("vacuumed") }
        require(expired,
          "q320: expired time travel must fail loudly naming the vacuum")
        ActionLog.read(s, lt)
          .groupBy(col("opri"))
          .agg(count(lit(1)).cast("bigint").as("n"),
            sum(col("okey")).cast("bigint").as("key_sum"))
      } finally prevInterval match {
        case Some(v) => s.conf.set(ActionLog.AutoCheckpointConf, v)
        case None => s.conf.unset(ActionLog.AutoCheckpointConf)
      }
    },

    // ---------------------------------------------------------------- q323
    // ROW-LEVEL SQL ON THE TYPE-WIDENING PLANE (round 16): a table that
    // lived through ALTER COLUMN TYPE genuinely mixes physical epochs
    // (int16 files before the widen, int32 after) for months at 100 TB —
    // and it still needs UPDATE / DELETE / MERGE. The COW scan renders
    // EVERY epoch at the live manifest; the replacement commits as a
    // typed REWRITE (data/ + manifest carried forward, chain ended)
    // through the same OCC claim as the versioned plane, so time travel
    // to pre-rewrite versions keeps each epoch's own manifest. The
    // lifecycle here: SMALLINT init → SQL widen → INSERT INTO (an INT
    // epoch) → UPDATE spanning both epochs → rewrite-form DELETE → MERGE
    // whose unmatched arm RE-INSERTS previously deleted keys. All-integer
    // arithmetic, so the DuckDB CTE replay is hash-exact.
    Q("q323_sql_widening_dml",
      """WITH s0 AS (SELECT CAST(s_suppkey AS BIGINT) AS k,
        |    CAST(s_nationkey AS INTEGER) AS a,
        |    CAST(s_suppkey % 1000 AS INTEGER) AS v FROM supplier),
        |t1 AS (SELECT * FROM s0
        |  UNION ALL SELECT k + 100000, a + 1, v FROM s0),
        |t2 AS (SELECT k, CASE WHEN k % 3 = 0 THEN a + 100 ELSE a END AS a,
        |    v FROM t1),
        |t3 AS (SELECT * FROM t2 WHERE a % 2 <> 1),
        |src AS (SELECT k, CAST(-5 AS INTEGER) AS a,
        |    CAST(0 AS INTEGER) AS v FROM s0 WHERE k < 10
        |  UNION ALL SELECT k + 200000, CAST(-7 AS INTEGER),
        |    CAST(0 AS INTEGER) FROM s0 WHERE k < 10),
        |mm AS (SELECT t.k, COALESCE(s.a, t.a) AS a, t.v
        |  FROM t3 t LEFT JOIN src s USING (k)),
        |ni AS (SELECT s.k, s.a, s.v FROM src s
        |  LEFT JOIN t3 t USING (k) WHERE t.k IS NULL)
        |SELECT k, a, v FROM mm UNION ALL SELECT k, a, v FROM ni""".stripMargin) {
      (s, dir) =>
      import graft.ops.{TypeWidening => TW, VersionedTable => VT}
      val root = scratch(s, dir, "q323")
      val tdir = s"$root/w"
      val base = Tables.load(s, dir, "supplier")
        .select(col("s_suppkey").cast("long").as("k"),
          col("s_nationkey").cast("smallint").as("a"),
          (col("s_suppkey") % 1000).cast("int").as("v"))
      TW.init(base, tdir) // v1: the SMALLINT epoch
      val cat = "graftq323_" + java.security.MessageDigest.getInstance("MD5")
        .digest(dir.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(6)
      s.conf.set(s"spark.sql.catalog.$cat",
        classOf[graft.source.GraftCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.root", root)
      s.sql(s"ALTER TABLE $cat.w ALTER COLUMN a TYPE INT") // v2: widen
      s.sql(s"INSERT INTO $cat.w SELECT k + 100000 AS k, " +
        s"CAST(a + 1 AS INT) AS a, v FROM $cat.w") // v3: an INT epoch
      require(VT.currentVersion(s, tdir).contains(3L),
        "q323: widen + append must be two metadata/epoch commits")
      require(TW.epochSchema(s, tdir, 1L)("a").dataType ==
        org.apache.spark.sql.types.ShortType,
        "q323: the v1 epoch must still store int16 physically")
      // UPDATE spans BOTH physical epochs; the replacement is one typed
      // rewrite commit
      s.sql(s"UPDATE $cat.w SET a = a + 100 WHERE k % 3 = 0") // v4
      require(VT.currentVersion(s, tdir).contains(4L),
        "q323: UPDATE must commit exactly one typed rewrite")
      s.sql(s"DELETE FROM $cat.w WHERE a % 2 = 1") // v5
      s.sql(s"""SELECT k, CAST(-5 AS INT) AS a, CAST(0 AS INT) AS v
        |FROM $cat.w VERSION AS OF 1 WHERE k < 10
        |UNION ALL
        |SELECT k + 200000, CAST(-7 AS INT), CAST(0 AS INT)
        |FROM $cat.w VERSION AS OF 1 WHERE k < 10""".stripMargin)
        .createOrReplaceTempView("q323_src")
      s.sql(s"""MERGE INTO $cat.w t USING q323_src s ON t.k = s.k
        |WHEN MATCHED THEN UPDATE SET a = s.a
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin) // v6
      // time travel: v1 renders under ITS OWN (SMALLINT) manifest
      require(TW.typesOf(s, tdir, 1L).toMap.apply("a") ==
        org.apache.spark.sql.types.ShortType,
        "q323: pre-widen manifest must survive the rewrites")
      require(s.sql(s"SELECT count(*) FROM $cat.w VERSION AS OF 1")
        .head.getLong(0) == base.count(),
        "q323: the pre-widen version must still read in full")
      s.sql(s"SELECT k, a, v FROM $cat.w")
    },

    // ---------------------------------------------------------------- q325
    // STRUCT COLUMNS THROUGH ROW-LEVEL SQL (round 17 #7): a training
    // corpus carries per-document metadata as a struct —
    // struct<lang,src,n> riding each row — and that record must survive
    // the whole DML lifecycle: a COW UPDATE that REBUILDS the struct
    // (named_struct), a ranged DELETE through the deletion-vector plane
    // (structs then read back through the DV-masked row scan), and a
    // MERGE whose matched arm REPLACES the whole struct (never per-field
    // coalescing — the oracle replays with a match flag for exactly that
    // reason) plus unmatched struct inserts. GroupWrite emits the struct
    // as a plain optional group (the shape Spark's native writer
    // produces); the row materializer decodes it by child NAME. Output
    // is the flattened projection, so the DuckDB replay never needs to
    // build a struct at all.
    Q("q325_sql_struct_dml",
      """WITH base AS (SELECT doc_id, lang, source AS src,
        |    n_chars AS n FROM documents),
        |upd AS (SELECT doc_id,
        |    CASE WHEN doc_id % 7 = 0 THEN upper(lang) ELSE lang END AS lang,
        |    src,
        |    CASE WHEN doc_id % 7 = 0 THEN n + 1000 ELSE n END AS n
        |  FROM base),
        |del AS (SELECT * FROM upd WHERE doc_id NOT BETWEEN 100 AND 140),
        |srcm AS (SELECT doc_id, 'xx' AS lang, src, CAST(0 AS BIGINT) AS n
        |    FROM base WHERE doc_id BETWEEN 200 AND 204
        |  UNION ALL SELECT doc_id + 10000, lang, 'merged', n
        |    FROM base WHERE doc_id < 5),
        |mm AS (SELECT d.doc_id,
        |    CASE WHEN s.doc_id IS NULL THEN d.lang ELSE s.lang END AS lang,
        |    CASE WHEN s.doc_id IS NULL THEN d.src ELSE s.src END AS src,
        |    CASE WHEN s.doc_id IS NULL THEN d.n ELSE s.n END AS n
        |  FROM del d LEFT JOIN srcm s USING (doc_id)),
        |ni AS (SELECT s.doc_id, s.lang, s.src, s.n FROM srcm s
        |  LEFT JOIN del d USING (doc_id) WHERE d.doc_id IS NULL)
        |SELECT doc_id, lang, src, n FROM mm
        |UNION ALL SELECT doc_id, lang, src, n FROM ni""".stripMargin) {
      (s, dir) =>
      import graft.ops.{VersionedTable => VT}
      val root = Q.scratch(s, dir, "q325")
      val tdir = s"$root/t"
      val base = Tables.load(s, dir, "documents")
        .select(col("doc_id"), struct(col("lang").as("lang"),
          col("source").as("src"), col("n_chars").as("n")).as("meta"))
      // key-local layout (the q313 discipline): a pruning bug in the COW
      // scan changes the hash
      VT.write(base.repartitionByRange(8, col("doc_id")), tdir) // v1
      val cat = "graftq325_" + java.security.MessageDigest.getInstance("MD5")
        .digest(dir.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(6)
      s.conf.set(s"spark.sql.catalog.$cat",
        classOf[graft.source.GraftCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.root", root)
      s.conf.set(s"spark.sql.catalog.$cat.features", "deletion-vectors")
      // COW UPDATE rebuilding the struct: streams through GroupWrite
      s.sql(s"UPDATE $cat.t SET meta = named_struct(" +
        "'lang', upper(meta.lang), 'src', meta.src, 'n', meta.n + 1000L) " +
        "WHERE doc_id % 7 = 0") // v2
      require(VT.currentVersion(s, tdir).contains(2L),
        "q325: UPDATE must mint one version")
      // ranged DELETE: the deletion-vector path — structs read back
      // through the DV-masked row scan, zero data bytes rewritten
      s.sql(s"DELETE FROM $cat.t WHERE doc_id >= 100 AND doc_id <= 140") // v3
      require(graft.ops.DeletionVectors.vectors(s, tdir, 3L).count() > 0,
        "q325: the ranged DELETE must land as deletion vectors")
      // MERGE: matched arm REPLACES the whole struct; unmatched inserts
      s.sql(s"""SELECT doc_id, named_struct('lang', 'xx', 'src', meta.src,
        |  'n', 0L) AS meta
        |FROM $cat.t VERSION AS OF 1 WHERE doc_id BETWEEN 200 AND 204
        |UNION ALL
        |SELECT doc_id + 10000, named_struct('lang', meta.lang,
        |  'src', 'merged', 'n', meta.n)
        |FROM $cat.t VERSION AS OF 1 WHERE doc_id < 5""".stripMargin)
        .createOrReplaceTempView("q325_src")
      s.sql(s"""MERGE INTO $cat.t t USING q325_src s ON t.doc_id = s.doc_id
        |WHEN MATCHED THEN UPDATE SET meta = s.meta
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin) // v4
      require(VT.currentVersion(s, tdir).contains(4L),
        "q325: MERGE must mint one version")
      s.sql(s"""SELECT doc_id, meta.lang AS lang, meta.src AS src,
        |  meta.n AS n FROM $cat.t""".stripMargin)
    },

    // ---------------------------------------------------------------- q326
    // ARRAY-OF-STRUCT THROUGH ROW-LEVEL SQL (round 18 #1): the canonical
    // chat-training column — `turns array<struct<role,content>>` — run
    // through the whole DML lifecycle: a COW UPDATE that transforms turn
    // content INSIDE the array (transform + named_struct, null elements
    // passed through untouched), a ranged DELETE on the deletion-vector
    // plane (turns then read back through the DV-masked scan), and a
    // MERGE whose matched arm REPLACES whole arrays and whose unmatched
    // arm inserts pre-update arrays from `VERSION AS OF 1`. The layout
    // pins every null flavor: a NULL array (conv%97), an EMPTY array
    // (conv%89), a NULL ELEMENT inside the array (conv%10 on the 3-turn
    // convs), and a NULL FIELD inside a struct (conv%83 content). Output
    // is one row per conversation — (-1/NULL for the null array) plus an
    // order-preserving signature over the turns — so the DuckDB replay
    // runs on an EXPLODED scalar twin and never builds a struct.
    Q("q326_sql_array_struct_dml",
      """WITH docs AS (SELECT doc_id AS conv_id, text, lang, source
        |    FROM documents),
        |flags AS (SELECT conv_id, (conv_id % 97 = 0) AS is_null_arr,
        |    (conv_id % 97 <> 0 AND conv_id % 89 = 0) AS is_empty
        |  FROM docs),
        |turns AS (
        |  SELECT conv_id, 0 AS pos, 'user' AS role,
        |      substr(text, 1, 40) AS content, FALSE AS nul FROM docs
        |  UNION ALL
        |  SELECT conv_id, 1, 'assistant',
        |      CASE WHEN conv_id % 83 = 0 THEN NULL
        |           ELSE upper(lang) || ':' || source END, FALSE FROM docs
        |  UNION ALL
        |  SELECT conv_id, 2, CAST(NULL AS VARCHAR),
        |      CASE WHEN conv_id % 10 = 0 THEN NULL ELSE 'tail' END,
        |      (conv_id % 10 = 0) FROM docs WHERE conv_id % 5 = 0),
        |base AS (SELECT t.* FROM turns t JOIN flags f USING (conv_id)
        |  WHERE NOT f.is_null_arr AND NOT f.is_empty),
        |upd AS (SELECT conv_id, pos, role,
        |    CASE WHEN conv_id % 7 = 0 AND NOT nul THEN content || '!'
        |         ELSE content END AS content, nul
        |  FROM base),
        |del AS (SELECT * FROM upd WHERE conv_id NOT BETWEEN 100 AND 140),
        |fdel AS (SELECT * FROM flags WHERE conv_id NOT BETWEEN 100 AND 140),
        |mm AS (SELECT conv_id, pos, role, content, nul FROM del
        |    WHERE conv_id NOT BETWEEN 200 AND 204
        |  UNION ALL SELECT conv_id, 0, 'sys', 'reset', FALSE FROM docs
        |    WHERE conv_id BETWEEN 200 AND 204),
        |fmm AS (SELECT conv_id,
        |    CASE WHEN conv_id BETWEEN 200 AND 204 THEN FALSE
        |         ELSE is_null_arr END AS is_null_arr,
        |    CASE WHEN conv_id BETWEEN 200 AND 204 THEN FALSE
        |         ELSE is_empty END AS is_empty FROM fdel),
        |allr AS (SELECT * FROM mm
        |  UNION ALL SELECT conv_id + 10000, pos, role, content, nul
        |    FROM base WHERE conv_id < 5),
        |allf AS (SELECT * FROM fmm
        |  UNION ALL SELECT conv_id + 10000, is_null_arr, is_empty
        |    FROM flags WHERE conv_id < 5),
        |sigs AS (SELECT conv_id, CAST(count(*) AS BIGINT) AS cnt,
        |    string_agg(CASE WHEN nul THEN '<null>'
        |        ELSE coalesce(role, '~') || ':' || coalesce(content, '~')
        |        END, '|' ORDER BY pos) AS s
        |  FROM allr GROUP BY conv_id)
        |SELECT f.conv_id,
        |  CASE WHEN f.is_null_arr THEN CAST(-1 AS BIGINT)
        |       ELSE coalesce(a.cnt, 0) END AS n_turns,
        |  CASE WHEN f.is_null_arr THEN CAST(NULL AS VARCHAR)
        |       ELSE coalesce(a.s, '') END AS sig
        |FROM allf f LEFT JOIN sigs a ON f.conv_id = a.conv_id""".stripMargin) {
      (s, dir) =>
      import graft.ops.{VersionedTable => VT}
      val root = Q.scratch(s, dir, "q326")
      val tdir = s"$root/t"
      val turnT = "struct<role:string,content:string>"
      val t0 = struct(lit("user").as("role"),
        substring(col("conv_id_text"), 1, 40).as("content"))
      val t1 = struct(lit("assistant").as("role"),
        when(col("conv_id") % 83 === 0, lit(null).cast("string"))
          .otherwise(concat(upper(col("lang")), lit(":"), col("source")))
          .as("content"))
      val t2 = when(col("conv_id") % 10 === 0, lit(null).cast(turnT))
        .otherwise(struct(lit(null).cast("string").as("role"),
          lit("tail").as("content")))
      val base = Tables.load(s, dir, "documents")
        .select(col("doc_id").as("conv_id"), col("text").as("conv_id_text"),
          col("lang"), col("source"))
        .select(col("conv_id"),
          when(col("conv_id") % 97 === 0, lit(null).cast(s"array<$turnT>"))
            .when(col("conv_id") % 89 === 0,
              array().cast(s"array<$turnT>"))
            .when(col("conv_id") % 5 === 0, array(t0, t1, t2))
            .otherwise(array(t0, t1)).as("turns"))
      // key-local layout (the q313 discipline): a pruning bug in the COW
      // scan changes the hash
      VT.write(base.repartitionByRange(8, col("conv_id")), tdir) // v1
      val cat = "graftq326_" + java.security.MessageDigest.getInstance("MD5")
        .digest(dir.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(6)
      s.conf.set(s"spark.sql.catalog.$cat",
        classOf[graft.source.GraftCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.root", root)
      s.conf.set(s"spark.sql.catalog.$cat.features", "deletion-vectors")
      // COW UPDATE inside the array: null ELEMENTS pass through as-is
      // (the CASE keeps them NULL — named_struct over a null element
      // would fabricate struct(null,null)); null CONTENT stays null
      // (concat propagates)
      s.sql(s"UPDATE $cat.t SET turns = transform(turns, x -> " +
        "CASE WHEN x IS NULL THEN x ELSE named_struct('role', x.role, " +
        "'content', concat(x.content, '!')) END) " +
        "WHERE conv_id % 7 = 0") // v2
      require(VT.currentVersion(s, tdir).contains(2L),
        "q326: UPDATE must mint one version")
      // ranged DELETE on the DV plane: zero data bytes rewritten, the
      // arrays-of-structs read back through the DV-masked scan
      s.sql(s"DELETE FROM $cat.t WHERE conv_id >= 100 AND conv_id <= 140") // v3
      require(graft.ops.DeletionVectors.vectors(s, tdir, 3L).count() > 0,
        "q326: the ranged DELETE must land as deletion vectors")
      // MERGE: matched REPLACES whole arrays; unmatched inserts v1
      // (pre-update) arrays — including conv 0's NULL array
      s.sql(s"""SELECT conv_id, array(named_struct('role', 'sys',
        |  'content', 'reset')) AS turns
        |FROM $cat.t VERSION AS OF 1 WHERE conv_id BETWEEN 200 AND 204
        |UNION ALL
        |SELECT conv_id + 10000, turns FROM $cat.t VERSION AS OF 1
        |WHERE conv_id < 5""".stripMargin)
        .createOrReplaceTempView("q326_src")
      s.sql(s"""MERGE INTO $cat.t t USING q326_src s ON t.conv_id = s.conv_id
        |WHEN MATCHED THEN UPDATE SET turns = s.turns
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin) // v4
      require(VT.currentVersion(s, tdir).contains(4L),
        "q326: MERGE must mint one version")
      val out = s.sql(s"""SELECT conv_id,
        |  CASE WHEN turns IS NULL THEN CAST(-1 AS BIGINT)
        |       ELSE CAST(size(turns) AS BIGINT) END AS n_turns,
        |  CASE WHEN turns IS NULL THEN CAST(NULL AS STRING)
        |       ELSE concat_ws('|', transform(turns, x ->
        |         CASE WHEN x IS NULL THEN '<null>'
        |              ELSE concat(coalesce(x.role, '~'), ':',
        |                coalesce(x.content, '~')) END)) END AS sig
        |FROM $cat.t""".stripMargin)
      // layout pins, in-query: every null flavor must SURVIVE the
      // lifecycle — a NULL array (conv%97 + the merged conv-10000 copy
      // of conv 0), an empty array, a '<null>' element, a '~' field
      locally {
        val pins = out.groupBy()
          .agg(sum(when(col("n_turns") === -1L, 1L).otherwise(0L)).as("nulls"),
            sum(when(col("sig") === "", 1L).otherwise(0L)).as("empties"),
            sum(when(col("sig").contains("<null>"), 1L).otherwise(0L)).as("nelem"),
            sum(when(col("sig").contains("~"), 1L).otherwise(0L)).as("nfield"))
          .head()
        require(pins.getLong(0) >= 2 && pins.getLong(1) >= 1 &&
          pins.getLong(2) >= 1 && pins.getLong(3) >= 1,
          s"q326: a null flavor vanished in the lifecycle: $pins")
      }
      out
    },

    // ---------------------------------------------------------------- q327
    // STRUCT-FIELD WIDENING THROUGH SQL DDL (round 18 #2): `ALTER TABLE w
    // ALTER COLUMN meta.n TYPE BIGINT` — the metadata-counter migration on
    // a record struct. The catalog lifts the field step to a WHOLE-COLUMN
    // widen (mirroring the array `.element` lift): substitute the widened
    // field, hand the full StructType to TypeWidening.widen, whose matrix
    // admits field-wise widening — ONE metadata-only commit, zero data
    // bytes rewritten. The lifecycle then spans BOTH physical epochs
    // (int32-field files + int64-field files): an INSERT whose values
    // exceed INT range proves the widen is real, an UPDATE rebuilding the
    // struct and a DELETE on a struct field cross the epochs through one
    // typed COW rewrite each, and a MERGE sources `VERSION AS OF 1` under
    // its own pre-widen manifest (the r16 AS-OF regression guard, struct
    // flavor). Output is the flattened projection.
    Q("q327_sql_struct_widen",
      """WITH base AS (SELECT s_suppkey AS k, s_name AS tag,
        |    CAST(s_suppkey % 1000 AS BIGINT) AS n FROM supplier),
        |ins AS (SELECT k + 100000 AS k, tag, n + 3000000000 AS n FROM base),
        |all1 AS (SELECT * FROM base UNION ALL SELECT * FROM ins),
        |upd AS (SELECT k,
        |    CASE WHEN k % 3 = 0 THEN upper(tag) ELSE tag END AS tag,
        |    CASE WHEN k % 3 = 0 THEN n + 5 ELSE n END AS n FROM all1),
        |del AS (SELECT * FROM upd WHERE n % 2 = 0),
        |srcm AS (SELECT k, 'zz' AS tag, CAST(-5 AS BIGINT) AS n
        |    FROM base WHERE k < 10
        |  UNION ALL SELECT k + 200000, tag, n FROM base WHERE k < 10),
        |mm AS (SELECT d.k,
        |    CASE WHEN s.k IS NULL THEN d.tag ELSE s.tag END AS tag,
        |    CASE WHEN s.k IS NULL THEN d.n ELSE s.n END AS n
        |  FROM del d LEFT JOIN srcm s USING (k)),
        |ni AS (SELECT s.k, s.tag, s.n FROM srcm s
        |  LEFT JOIN del d USING (k) WHERE d.k IS NULL)
        |SELECT k, tag, n FROM mm
        |UNION ALL SELECT k, tag, n FROM ni""".stripMargin) { (s, dir) =>
      import graft.ops.{TypeWidening => TW, VersionedTable => VT}
      val root = Q.scratch(s, dir, "q327")
      val tdir = s"$root/w"
      val base = Tables.load(s, dir, "supplier")
        .select(col("s_suppkey").cast("long").as("k"),
          struct(col("s_name").as("tag"),
            (col("s_suppkey") % 1000).cast("int").as("n")).as("meta"))
      TW.init(base, tdir) // v1: the INT-field epoch
      val cat = "graftq327_" + java.security.MessageDigest.getInstance("MD5")
        .digest(dir.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(6)
      s.conf.set(s"spark.sql.catalog.$cat",
        classOf[graft.source.GraftCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.root", root)
      s.sql(s"ALTER TABLE $cat.w ALTER COLUMN meta.n TYPE BIGINT") // v2
      require(VT.currentVersion(s, tdir).contains(2L),
        "q327: the field widen must be ONE metadata-only commit")
      require(TW.typesOf(s, tdir, 2L).toMap.apply("meta")
        .asInstanceOf[org.apache.spark.sql.types.StructType]("n").dataType ==
        org.apache.spark.sql.types.LongType,
        "q327: the live manifest must carry meta.n as BIGINT")
      // v3: a BIGINT-field epoch whose values exceed INT range — only a
      // REAL widen can store them
      s.sql(s"INSERT INTO $cat.w SELECT k + 100000 AS k, " +
        s"named_struct('tag', meta.tag, 'n', meta.n + 3000000000L) AS meta " +
        s"FROM $cat.w")
      require(TW.epochSchema(s, tdir, 1L)("meta").dataType
        .asInstanceOf[org.apache.spark.sql.types.StructType]("n").dataType ==
        org.apache.spark.sql.types.IntegerType,
        "q327: the v1 epoch must still store int32 physically")
      // UPDATE and DELETE span BOTH physical epochs
      s.sql(s"UPDATE $cat.w SET meta = named_struct('tag', " +
        "upper(meta.tag), 'n', meta.n + 5) WHERE k % 3 = 0") // v4
      s.sql(s"DELETE FROM $cat.w WHERE meta.n % 2 = 1") // v5
      s.sql(s"""SELECT k, named_struct('tag', 'zz',
        |  'n', CAST(-5 AS BIGINT)) AS meta
        |FROM $cat.w VERSION AS OF 1 WHERE k < 10
        |UNION ALL
        |SELECT k + 200000, named_struct('tag', meta.tag,
        |  'n', CAST(meta.n AS BIGINT))
        |FROM $cat.w VERSION AS OF 1 WHERE k < 10""".stripMargin)
        .createOrReplaceTempView("q327_src")
      s.sql(s"""MERGE INTO $cat.w t USING q327_src s ON t.k = s.k
        |WHEN MATCHED THEN UPDATE SET meta = s.meta
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin) // v6
      // time travel: v1 renders under ITS OWN (INT-field) manifest
      require(TW.typesOf(s, tdir, 1L).toMap.apply("meta")
        .asInstanceOf[org.apache.spark.sql.types.StructType]("n").dataType ==
        org.apache.spark.sql.types.IntegerType,
        "q327: the pre-widen manifest must survive the rewrites")
      require(s.sql(s"SELECT count(*) FROM $cat.w VERSION AS OF 1")
        .head.getLong(0) == base.count(),
        "q327: the pre-widen version must still read in full")
      s.sql(s"SELECT k, meta.tag AS tag, meta.n AS n FROM $cat.w")
    },

    // ---------------------------------------------------------------- q328
    // DISTRIBUTED VACUUM (round 18 #3) — q270's maintenance discipline at
    // the shape the million-file regime needs: the referenced set (live
    // at the horizon ∪ every later add) resolves as a SPARK JOB, the
    // data-dir listing streams through it in bounded batches whose
    // anti-join returns only VICTIMS to the driver, deletes run on the
    // executors, and the horizon checkpoint lands on the PARQUET plane
    // (the driver-JSON form would re-seed the replay this path exists to
    // replace). Driver memory is O(batch + victims), never O(table) —
    // the property the 1M-file StressMeta probe pins at scale; this
    // entry pins BEHAVIORAL EQUIVALENCE with the driver-resident vacuum
    // on one history: identical (expired, victims), identical retained
    // content, retained as-of reads resolving from the horizon
    // checkpoint, expired reads failing loudly, second pass a no-op.
    Q("q328_log_vacuum_distributed",
      """SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(l_orderkey) AS BIGINT) AS key_sum
        |FROM lineitem WHERE l_orderkey % 4 < 3 GROUP BY 1""".stripMargin) { (s, dir) =>
      import graft.ops.ActionLog
      import scala.util.Try
      val root = scratch(s, dir, "q328")
      val li = Tables.load(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"))
      def quarter(i: Int) = li.filter(col("l_orderkey") % 4 === i)
      def build(table: String): Unit = {
        ActionLog.append(quarter(0).coalesce(1), table) // v1
        ActionLog.append(quarter(1).coalesce(1), table) // v2
        ActionLog.rewrite(ActionLog.read(s, table), table, numFiles = 1) // v3
        ActionLog.append(quarter(2).coalesce(1), table) // v4
        ()
      }
      val tA = s"$root/driver"; val tB = s"$root/dist"
      build(tA); build(tB)
      val before = ActionLog.read(s, tB).localCheckpoint()
      val (dA, delA) = ActionLog.vacuum(s, tA, keepVersions = 2, graceMs = 0L)
      // listBatch = 2 forces MULTIPLE batches through the anti-join — the
      // bounded-listing path, not a single-batch degenerate
      val (dB, delB) = ActionLog.vacuumDistributed(s, tB, keepVersions = 2,
        graceMs = 0L, listBatch = 2)
      require((dA.toLong, delA.toLong) == ((dB.toLong, delB)),
        s"q328: the two vacuum forms diverged: driver ($dA, $delA) vs " +
          s"distributed ($dB, $delB)")
      require(dB == 2L && delB == 2L,
        s"q328: exactly the two pre-compaction originals must die, " +
          s"got ($dB, $delB)")
      val after = ActionLog.read(s, tB)
      require(Q.sameMultiset(after, before),
        "q328: distributed vacuum must not change live content")
      // the horizon checkpoint landed on the PARQUET plane and seeds the
      // retained as-of read, replaying only the post-horizon tail
      val (_, replayed, ckpt) = ActionLog.resolve(s, tB, 4L)
      require(ckpt.contains(3L) && replayed == 1,
        s"q328: v4 must resolve from the horizon checkpoint " +
          s"(base=$ckpt, replayed=$replayed)")
      require(ActionLog.stateDfAt(s, tB, 4L)
        .filter(col("a") === "add").count() ==
        after.inputFiles.length.toLong,
        "q328: the distributed plane must agree with the live file set")
      require(Try(ActionLog.read(s, tB, asOf = 2L).count()).isFailure,
        "q328: an expired as-of read must fail loudly")
      require(ActionLog.vacuumDistributed(s, tB, keepVersions = 2,
        graceMs = 0L) == ((0, 0L)),
        "q328: a second distributed vacuum must be a no-op")
      after.groupBy(col("l_returnflag"))
        .agg(count(lit(1)).cast("bigint").as("n"),
          sum(col("l_orderkey")).cast("bigint").as("key_sum"))
    },

    // ---------------------------------------------------------------- q330
    // DISTRIBUTED RE-CLUSTERING (round 18, the vacuum twin's sibling) —
    // q309's liquid-optimize discipline at the million-file shape:
    // overlap-band TARGET SELECTION runs as one engine-side window pass
    // over the resolveDf inventory, the driver holds only a CAPPED
    // target list (whole clusters, largest first — half a cluster would
    // rewrite into still-overlapping ranges), the still-live claim probe
    // rides the distributed plane, and repeated capped passes CONVERGE
    // because every rewrite is range-disjoint. Pinned here: interleaved
    // appends defeat pruning, one uncapped pass restores it with content
    // digests identical, a narrow append dirties ONE band and the next
    // pass rewrites exactly that cluster (carried files survive by
    // NAME), a capped run takes whole clusters across passes to the same
    // converged state, and the converged table is a commit-free no-op.
    Q("q330_liquid_optimize_distributed",
      """WITH o AS (SELECT CAST(o_orderkey AS BIGINT) AS okey,
        |    o_orderpriority AS opri FROM orders)
        |SELECT opri, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(okey) AS BIGINT) AS key_sum FROM o GROUP BY 1""".stripMargin) { (s, dir) =>
      import graft.ops.{ActionLog, TableChecksum}
      val root = scratch(s, dir, "q330")
      val table = s"$root/t"
      val o = Tables.load(s, dir, "orders")
        .select(col("o_orderkey").cast("long").as("okey"),
          col("o_orderpriority").as("opri"))
      val q = o.stat.approxQuantile("okey",
        Array(0.40, 0.45, 0.70, 0.72), 0.0).map(_.toLong)
      val (hlo, hhi, p1, p2) = (q(0), q(1), q(2), q(3))
      def inHole = col("okey") > hlo && col("okey") <= hhi
      val bulk = o.filter(!inHole)
      (0 to 5).foreach(i => ActionLog.append(
        bulk.filter(col("okey") % 6 === i).coalesce(1), table, Some("okey")))
      val digest0 = TableChecksum.digest(ActionLog.read(s, table))
      val (_, kept0, tot0) = ActionLog.readWhere(s, table, "okey", p1, p2)
      require(tot0 == 6 && kept0 == 6,
        s"q330: interleaved files must defeat pruning, got $kept0/$tot0")
      // pass 1, uncapped: the engine-side selection targets all six
      val (v1, rw1, tot1) = ActionLog.optimizeClusteredDistributed(s, table)
      require(v1 == 7L && rw1.size == 6 && tot1 == 6L,
        s"q330: the first pass re-clusters the whole overlap, got " +
          s"($v1, ${rw1.size}, $tot1)")
      require(TableChecksum.digest(ActionLog.read(s, table)) == digest0,
        "q330: re-clustering must never change content")
      val (_, kept1, _) = ActionLog.readWhere(s, table, "okey", p1, p2)
      require(kept1 < kept0 && kept1 <= 2,
        s"q330: disjoint ranges must restore band pruning, got $kept1")
      // a narrow append dirties exactly one band; only that cluster
      // rewrites and every other file survives by NAME
      ActionLog.append(o.filter(inHole).coalesce(1), table, Some("okey")) // v8
      val liveBefore = ActionLog.liveFiles(s, table).map(_._1).toSet
      val (v2, rw2, _) = ActionLog.optimizeClusteredDistributed(s, table)
      require(v2 == 9L && rw2.size <= 3 && rw2.contains("v8-0.parquet"),
        s"q330: only the dirty band rewrites, got ${rw2.size} at $v2")
      val liveAfter = ActionLog.liveFiles(s, table).map(_._1).toSet
      require(liveBefore.diff(rw2.toSet).forall(liveAfter.contains),
        "q330: carried files must survive by NAME — zero bytes moved")
      require(TableChecksum.digest(ActionLog.read(s, table)) ==
        TableChecksum.digest(o),
        "q330: the filled band must land the full content")
      // converged: a commit-free no-op reporting zero overlap (the
      // CAPPED whole-cluster multi-pass protocol is pinned in
      // Round18OpsSpec and at 1M files in StressMetaSpec — not re-paid
      // here per pass)
      val (v3, rw3, tot3) = ActionLog.optimizeClusteredDistributed(s, table)
      require(v3 == -1L && rw3.isEmpty && tot3 == 0L,
        s"q330: a clustered table must be a no-op, got ($v3, ${rw3.size}, $tot3)")
      ActionLog.read(s, table).groupBy(col("opri"))
        .agg(count(lit(1)).cast("bigint").as("n"),
          sum(col("okey")).cast("bigint").as("key_sum"))
    },

    // ---------------------------------------------------------------- q331
    // MAINTENANCE FROM SQL (round 18 — Spark 4's ProcedureCatalog, the
    // Iceberg `CALL catalog.system.proc(...)` shape): the whole
    // checkpoint → optimize → vacuum maintenance cycle driven by THREE
    // CALL statements, no Scala entry point — what an orchestrator's
    // nightly job actually runs. Each call returns its accounting as
    // rows and the cycle is CONTENT-PRESERVING by contract: the oracle
    // is the plain content math, and in-query requires pin the
    // accounting (checkpoint stamps the head; optimize rewrites exactly
    // the interleaved cluster at the next version; vacuum expires every
    // pre-horizon version and sweeps exactly the replaced originals).
    Q("q331_sql_maintenance",
      """WITH o AS (SELECT CAST(o_orderkey AS BIGINT) AS okey,
        |    o_orderpriority AS opri FROM orders WHERE o_orderkey % 2 = 0)
        |SELECT opri, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(okey) AS BIGINT) AS key_sum FROM o GROUP BY 1""".stripMargin) { (s, dir) =>
      import graft.ops.{ActionLog, TableChecksum}
      val root = scratch(s, dir, "q331")
      val table = s"$root/t"
      val o = Tables.load(s, dir, "orders")
        .filter(col("o_orderkey") % 2 === 0)
        .select(col("o_orderkey").cast("long").as("okey"),
          col("o_orderpriority").as("opri"))
      // four interleaved appends: one 4-file overlap cluster
      (0 to 3).foreach(i => ActionLog.append(
        o.filter(col("okey") % 8 === i * 2).coalesce(1), table, Some("okey")))
      val cat = "graftq331_" + java.security.MessageDigest.getInstance("MD5")
        .digest(dir.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(6)
      s.conf.set(s"spark.sql.catalog.$cat",
        classOf[graft.source.GraftCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.root", root)
      val digest0 = TableChecksum.digest(ActionLog.read(s, table))
      val ck = s.sql(s"CALL $cat.system.checkpoint(table => 't')")
        .head.getLong(0)
      require(ck == 4L, s"q331: checkpoint must stamp the head, got $ck")
      val opt = s.sql(s"CALL $cat.system.optimize(table => 't')").head
      require(opt.getLong(0) == 5L && opt.getLong(1) == 4L &&
        opt.getLong(2) == 4L,
        s"q331: optimize must rewrite the 4-file cluster at v5, got $opt")
      // keep=1: the horizon is the optimize commit, so the four replaced
      // originals are unreferenced and MUST be exactly the sweep
      val vac = s.sql(s"CALL $cat.system.vacuum(table => 't', keep => 1, " +
        "grace_ms => CAST(0 AS BIGINT), distributed => true)").head
      require(vac.getLong(0) == 4L && vac.getLong(1) == 4L,
        s"q331: vacuum must expire v1-v4 and sweep the 4 originals, got $vac")
      require(TableChecksum.digest(ActionLog.read(s, table)) == digest0,
        "q331: the maintenance cycle must never change content")
      // converged: a second optimize is a commit-free no-op from SQL too
      require(s.sql(s"CALL $cat.system.optimize(table => 't')")
        .head.getLong(0) == -1L,
        "q331: the re-clustered table must be a no-op")
      ActionLog.read(s, table).groupBy(col("opri"))
        .agg(count(lit(1)).cast("bigint").as("n"),
          sum(col("okey")).cast("bigint").as("key_sum"))
    },

    // ---------------------------------------------------------------- q332
    // WRITE-AUDIT-PUBLISH IN SQL (round 18 — Iceberg's WAP pattern over
    // the branch plane, now closed end-to-end in four statements): CALL
    // system.create_branch forks a metadata-only ref, `INSERT INTO
    // t@staging` lands the batch on the fork, the AUDIT reads the branch
    // while main stays untouched (both require'd), and CALL
    // system.merge_branch PUBLISHES — fast-forward when main never
    // moved; when producer and consumer diverge, the keyed three-way
    // merge reconciles both sides' disjoint effects. The final content
    // is the algebraic union of base + both deltas = the whole orders
    // table, which is exactly what the oracle replays.
    Q("q332_sql_wap",
      """WITH o AS (SELECT CAST(o_orderkey AS BIGINT) AS okey,
        |    o_orderpriority AS opri FROM orders)
        |SELECT opri, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(okey) AS BIGINT) AS key_sum FROM o GROUP BY 1""".stripMargin) { (s, dir) =>
      import graft.ops.Branching
      val root = scratch(s, dir, "q332")
      val tdir = s"$root/t"
      val o = Tables.load(s, dir, "orders")
        .select(col("o_orderkey").cast("long").as("okey"),
          col("o_orderpriority").as("opri"))
      Branching.init(o.filter(col("okey") % 3 === 0), tdir)
      val cat = "graftq332_" + java.security.MessageDigest.getInstance("MD5")
        .digest(dir.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(6)
      s.conf.set(s"spark.sql.catalog.$cat",
        classOf[graft.source.GraftCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.root", root)
      o.createOrReplaceTempView("q332_orders")
      // WRITE: fork + land the batch on the fork
      s.sql(s"CALL $cat.system.create_branch(table => 't', name => 'staging')")
      s.sql(s"INSERT INTO $cat.`t@staging` " +
        "SELECT okey, opri FROM q332_orders WHERE okey % 3 = 1")
      // AUDIT: the branch sees the batch, main does not
      val mainN = s.sql(s"SELECT count(*) FROM $cat.t").head.getLong(0)
      val stagedN = s.sql(s"SELECT count(*) FROM $cat.`t@staging`")
        .head.getLong(0)
      require(stagedN > mainN,
        s"q332: the audit must see the staged batch only on the fork " +
          s"($stagedN vs $mainN)")
      // PUBLISH: main never moved -> fast-forward, zero data written
      val ff = s.sql(s"CALL $cat.system.merge_branch(table => 't', " +
        "from_branch => 'staging', keys => 'okey')").head
      require(ff.getString(0) == "fast-forward",
        s"q332: an unmoved target must fast-forward, got $ff")
      require(s.sql(s"SELECT count(*) FROM $cat.t").head.getLong(0) == stagedN,
        "q332: the publish must land exactly the audited content")
      // DIVERGED cycle: producer and consumer both move; the keyed
      // three-way merge reconciles the disjoint effects
      s.sql(s"CALL $cat.system.create_branch(table => 't', name => 'exp')")
      s.sql(s"INSERT INTO $cat.`t@exp` " +
        "SELECT okey, opri FROM q332_orders WHERE okey % 6 = 2")
      s.sql(s"INSERT INTO $cat.t " +
        "SELECT okey, opri FROM q332_orders WHERE okey % 6 = 5")
      val m = s.sql(s"CALL $cat.system.merge_branch(table => 't', " +
        "from_branch => 'exp', keys => 'okey')").head
      require(m.getString(0) == "merged",
        s"q332: diverged sides must take the three-way merge, got $m")
      s.sql(s"SELECT okey, opri FROM $cat.t")
        .groupBy(col("opri"))
        .agg(count(lit(1)).cast("bigint").as("n"),
          sum(col("okey")).cast("bigint").as("key_sum"))
    })
}
